package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.functions.GraftFunctions.{shingles, tokens}

/** Incremental (streaming) decontamination — the online twin of
  * [[graft.operators.Dedup.decontaminate]]: corpus documents arrive in
  * micro-batches and each is checked for word-shingle overlap against a
  * STATIC eval-set inverted index, flagging (doc, eval_doc, n_overlap)
  * pairs with overlap ≥ `minOverlap`. The use case is ingest-time
  * contamination gating: the benchmark/eval corpus is fixed per
  * release, the training corpus streams in.
  *
  * Unlike [[StreamingDedup]]/[[StreamingSimilarity]] the index is
  * IMMUTABLE — built once by [[prepareEvalIndex]], never appended —
  * so each document's verdict is independent of batch boundaries
  * (batch decontaminate over the same corpus produces the identical
  * pair set, which the spec asserts differentially). Results write
  * per-batch partition directories with Overwrite (an at-least-once
  * replay rewrites its own directory instead of appending
  * duplicates); the shared [[StreamProtocol]] guards the RESULTS dir
  * — run identity, a config fingerprint (index path / shingleN /
  * minOverlap, since a silent mismatch would mix regimes or flag
  * nothing), and commit markers that let a fully-committed replay
  * skip its recompute. The index additionally records its own
  * shingleN, verified per batch.
  *
  * Scale: the index parquet is PARTITIONED by a shingle-hash bucket
  * (`pmod(xxhash64(shingle), `[[BucketCount]]`)`) and each batch reads
  * ONLY the buckets its own shingles hash to — the touched set is
  * driver-known and bounded by min(batch shingles, [[BucketCount]]) —
  * so per-batch work scales with the batch plus the (benchmark-sized,
  * small by construction) eval slice it touches. The join matches on
  * the full shingle STRING (the bucket is pure pruning), so flagging
  * is exact, not probabilistic. */
object StreamingDecontam {

  /** Partition fan-out for the eval index: xxhash64(shingle) mod 64 —
    * selective enough that a small batch prunes most of the index,
    * few enough directories that listing stays cheap. */
  val BucketCount = 64

  val IndexSchema: StructType = StructType(Seq(
    StructField("e_id", LongType),
    StructField("shingle", StringType),
    StructField("bucket", IntegerType)))

  private[streaming] def posts(df: DataFrame, id: Column, text: Column,
                               as: String, shingleN: Int): DataFrame =
    df.select(id.cast("long").as(as),
        explode(shingles(tokens(text), shingleN)).as("shingle"))
      .withColumn("bucket",
        pmod(xxhash64(col("shingle")), lit(BucketCount.toLong)).cast("int"))

  /** Materialize the eval set's inverted shingle index, partitioned
    * for per-batch pruning. Run ONCE per eval-set release; `start`
    * reads it immutably. Overwrite semantics: a re-prepare replaces
    * the whole index, whatever the session's partitionOverwriteMode,
    * atomically enough for a stopped stream (do not re-prepare under a
    * live one). The index records its shingleN —
    * a stream probing with a DIFFERENT n would silently match nothing
    * (3-gram strings never equal 4-gram strings), so `start` verifies
    * it and fails fast on mismatch. */
  def prepareEvalIndex(evalSet: DataFrame, id: Column, text: Column,
                       indexDir: String, shingleN: Int = 3): Unit = {
    // static overwrite deletes the whole directory: under a session-
    // wide dynamic default, a smaller re-prepare would keep the retired
    // set's buckets and the old _index_config
    posts(evalSet, id, text, "e_id", shingleN)
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "static")
      .partitionBy("bucket").parquet(indexDir)
    val p = new Path(indexDir, "_index_config")
    val fs = p.getFileSystem(
      evalSet.sparkSession.sessionState.newHadoopConf())
    // publish (temp+rename) into the directory the Overwrite above just
    // emptied: a crash during a truncate-and-write here would leave a
    // partial config, which verifyEvalIndex could not tell from a real
    // one; an absent config it refuses loudly
    StreamProtocol.publishFile(fs, p,
      s"shingleN=$shingleN;bucketMod=$BucketCount")
  }

  /** Fail-fast checks shared by every consumer of the eval index
    * ([[start]], [[StreamingCuration]]), run before the stream claims
    * anything: the index must exist (an absent index must not silently
    * flag nothing) and its recorded shingleN must match the probe's —
    * 3-gram strings never equal 4-gram strings, so a mismatch silently
    * flags NOTHING. The index resolves its OWN FileSystem: it may live
    * on another store than the stream's state (s3a:// eval index,
    * hdfs:// results), and a handle from one throws "Wrong FS" probing
    * the other. */
  private[streaming] def verifyEvalIndex(spark: SparkSession,
      indexDir: String, shingleN: Int, caller: String): Unit = {
    val dir = new Path(indexDir)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(dir))
      throw new IllegalStateException(
        s"$caller: eval index $indexDir does not exist — " +
          "run prepareEvalIndex over the eval set first (an absent " +
          "index must not silently flag nothing).")
    val idxCfg = new Path(indexDir, "_index_config")
    if (!fs.exists(idxCfg))
      // an index with NO config is prepareEvalIndex's crash window
      // (the Overwrite deletes the old config with the dir; the new
      // one publishes after) or a hand-rolled index — either way the
      // shingleN/bucketMod it was built with is UNKNOWN, and probing
      // with mismatched values silently flags nothing. Refuse; a
      // silent skip here was exactly that silent failure.
      throw new IllegalStateException(
        s"$caller: $indexDir has no _index_config — prepareEvalIndex " +
          "was interrupted between the index write and the config " +
          "publish (or the index was built by hand). Its shingleN/" +
          "bucketMod are unknown, so a mismatched probe would silently " +
          "flag nothing. Re-run prepareEvalIndex.")
    val in = fs.open(idxCfg)
    val owner =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    // bucketMod is baked into the index's partition values; a probe
    // computed with a different modulus prunes against mismatched
    // buckets and silently skips most true candidates. Like stream
    // state, an index recorded in an older rendering is refused, not
    // upgraded: re-prepare it.
    if (owner != s"shingleN=$shingleN;bucketMod=$BucketCount")
      throw new IllegalStateException(
        s"$caller: $indexDir was prepared with [$owner] " +
          s"but this stream probes with [shingleN=$shingleN;" +
          s"bucketMod=$BucketCount] — a mismatch silently flags " +
          "nothing (shingleN) or prunes away true candidates " +
          "(bucketMod). Re-prepare the index or match the stream.")
  }

  /** The per-batch contaminated-pair computation, shared with
    * [[StreamingCuration]]: prune the immutable index to the buckets
    * `batchPosts` touches (a tiny, bounded driver-side collect of
    * ≤ [[BucketCount]] ints), equality-join on the full shingle
    * string, threshold on the overlap count. `batchPosts` must carry
    * (c_id, shingle, bucket) and SHOULD be cached by the caller (the
    * touched-bucket collect and the join both consume it). */
  private[streaming] def flaggedPairs(batchPosts: DataFrame,
                                      indexDir: String,
                                      minOverlap: Int,
                                      excludeSameId: Boolean = true): DataFrame = {
    val spark = batchPosts.sparkSession
    val touched = batchPosts.select(col("bucket")).distinct()
      .collect().map(_.getInt(0)).toIndexedSeq
    val idx = spark.read.schema(IndexSchema).parquet(indexDir)
      .filter(col("bucket").isin(touched: _*))
    batchPosts
      .join(idx, Seq("bucket", "shingle"))
      .filter(if (excludeSameId) col("c_id") =!= col("e_id") else lit(true))
      .groupBy(col("c_id"), col("e_id"))
      .agg(count(lit(1)).as("n_overlap"))
      .filter(col("n_overlap") >= minOverlap)
      .select(col("c_id").as("doc_id"), col("e_id").as("eval_id"),
        col("n_overlap"))
  }

  def start(docs: DataFrame, idCol: String, textCol: String,
            indexDir: String, flaggedDir: String, checkpoint: String,
            shingleN: Int = 3, minOverlap: Int = 3,
            excludeSameId: Boolean = true): StreamingQuery =
    // the eval index is verified BEFORE the results dir is claimed, so
    // a missing or mismatched index never strands a claimed config.
    // The guards on the RESULTS dir: a fresh checkpoint restarting
    // batch ids at 0 would overwrite old batch directories with
    // different data, silently mixing two runs' verdicts; a changed
    // minOverlap/index would mix regimes within one results dir.
    // Markers also let a fully-committed batch replay skip its
    // recompute entirely.
    StreamProtocol.sink(docs, flaggedDir, checkpoint,
        s"index=$indexDir;shingleN=$shingleN;minOverlap=$minOverlap;" +
          s"excludeSameId=$excludeSameId",
        "StreamingDecontam",
        preClaim = verifyEvalIndex(_, indexDir, shingleN, "StreamingDecontam")) { b =>
      val batchPosts = posts(b.df, col(idCol), col(textCol), "c_id",
        shingleN).cache()
      try {
        val flagged = flaggedPairs(batchPosts, indexDir, minOverlap,
          excludeSameId)
        // per-batch Overwrite directory: a replay recomputes the same
        // verdicts (immutable index) and rewrites the same files; the
        // marker then lets the NEXT replay skip the recompute
        flagged.write.mode(SaveMode.Overwrite)
          .parquet(s"$flaggedDir/batch=${b.id}")
      } finally batchPosts.unpersist()
    }
}
