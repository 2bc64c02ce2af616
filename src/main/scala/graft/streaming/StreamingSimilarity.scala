package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.functions.GraftFunctions.{dotProduct, lshBucket, r}
import graft.operators.Similarity

/** Incremental (streaming) similarity search: a `foreachBatch`
  * pipeline that maintains a persistent LSH-bucketed vector index and
  * answers each arriving embedding's top-k nearest neighbors against
  * EVERYTHING previously ingested — the online twin of
  * [[graft.operators.Similarity.lshTopK]], sharing its native bucket /
  * dot-product expressions (an offline re-run of the batch operator
  * over the same ingestion order reproduces the stream's answers,
  * which the spec asserts differentially).
  *
  * Per micro-batch:
  *  1. bucket + L2 norm for the batch's vectors (codegen'd
  *     expressions, computed once);
  *  2. bucket-equality join against the persisted index, exact cosine
  *     on bucket-mates only, top-k per new vector → OVERWRITE
  *     `resultDir/batch=<id>` (retry-safe: a replayed batch rewrites
  *     its own directory instead of appending duplicates);
  *  3. the batch's vectors append to `indexDir` tagged with their
  *     `ingest_batch`, and a marker file commits the batch LAST.
  *     foreachBatch is at-least-once; the marker skips a fully
  *     committed replay, the `ingest_batch < batchId` read filter
  *     keeps a half-committed attempt of the same batch from
  *     self-matching, a per-id latest-ingest-wins collapse absorbs
  *     double-appends deterministically, and a committed-marker id at
  *     or above the current batchId fails fast (a fresh checkpoint
  *     replaying over a retained index).
  *
  * Scale: the index parquet is PARTITIONED by `bucket` (at most
  * 2^planes directories) and each batch reads ONLY the buckets its
  * own vectors hash to — the touched set is driver-known and bounded
  * by min(batch size, 2^planes) — so per-batch work scales with the
  * batch, not the accumulated index. Within-batch pairs are NOT
  * matched (each vector scores against strictly earlier ingests);
  * run the batch operator inside the micro-batch first if that
  * matters. All filesystem probes use the Hadoop FileSystem API
  * (local disk / HDFS / object stores alike).
  */
object StreamingSimilarity {

  val IndexSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("bucket", LongType),
    StructField("vec", ArrayType(FloatType)),
    StructField("norm", DoubleType),
    StructField("ingest_batch", LongType)))

  /** Replay + re-ingest collapse for an index read: drop rows of the
    * current (possibly half-committed) batch, then keep exactly ONE
    * row per vec_id — the LATEST committed ingest, chosen
    * deterministically with `max_by` on `ingest_batch`
    * (`dropDuplicates` would keep a partition-order-dependent
    * survivor when an id was legitimately re-ingested, making match
    * results nondeterministic). Ties WITHIN one ingest_batch (an
    * upstream at-least-once source delivering one id twice with
    * different vectors in the same micro-batch) break on the vector's
    * own hash — arbitrary but deterministic, so an offline re-run
    * reproduces the stream's answers either way. Rows a true
    * double-append replayed share an ingest_batch AND identical
    * content, so any survivor is the same row. Caveat: when the
    * caller pre-prunes to touched
    * buckets, survivors are chosen among those buckets only — a
    * re-ingest that moved an id to an untouched bucket leaves its
    * stale version eligible; acceptable for append-style ingest,
    * rebuild the index for true upsert semantics. */
  private[graft] def latestPerId(index: DataFrame, batchId: Long): DataFrame =
    index.filter(col("ingest_batch") < batchId)
      .groupBy(col("vec_id"))
      .agg(max_by(
        struct(col("bucket"), col("vec"), col("norm"),
          col("ingest_batch")),
        struct(col("ingest_batch"), xxhash64(col("vec")))).as("_s"))
      .select(col("vec_id"), col("_s.bucket").as("bucket"),
        col("_s.vec").as("vec"), col("_s.norm").as("norm"),
        col("_s.ingest_batch").as("ingest_batch"))

  def start(vectors: DataFrame, idCol: String, vecCol: String,
            indexDir: String, resultDir: String, checkpoint: String,
            k: Int = 5, planes: Int = 4, dim: Int = 64): StreamingQuery = {
    // ---- idempotent micro-batch protocol ---------------------------
    // foreachBatch offers at-least-once: a crash between the two writes
    // and the checkpoint commit REPLAYS this batchId. Three defenses
    // make the replay harmless:
    //  1. results write into a per-batch partition directory with
    //     Overwrite — a retry rewrites the same directory instead of
    //     appending duplicates;
    //  2. index rows carry `ingest_batch`; matching reads filter
    //     ingest_batch < batchId, so rows a half-committed earlier
    //     attempt of THIS batch appended can never self-match, and a
    //     latest-ingest-wins collapse absorbs double-appends;
    //  3. the sink's marker commits the batch LAST — if it exists the
    //     whole batch is done and the replay skips entirely.
    // planes/dim shape the persisted buckets: resuming with different
    // values would bucket-join incompatible hash spaces and silently
    // match nothing (or wrongly) — the config guard fails fast instead.
    // k is result-shaping only and deliberately NOT pinned.
    val simCfg = s"planes=$planes;dim=$dim"
    StreamProtocol.sink(vectors, indexDir, checkpoint, simCfg,
        "StreamingSimilarity") { b =>
      val spark = b.spark
      // per-batch results are AUXILIARY state committed through
      // indexDir's markers — same re-ingest stale-mix fence as
      // StreamingDedup's dup output
      StreamProtocol.claimAuxiliary(spark, resultDir, checkpoint, simCfg,
        "StreamingSimilarity (result output)")
      val banded = b.df
        // a NULL vector buckets to 0 but cannot score; drop it here
        // rather than index dead rows
        .filter(col(vecCol).isNotNull)
        .select(col(idCol).cast("long").as("vec_id"),
          lshBucket(col(vecCol), planes, dim).as("bucket"),
          col(vecCol).cast(ArrayType(FloatType)).as("vec"))
        .withColumn("norm", sqrt(dotProduct(col("vec"), col("vec"))))
        .withColumn("ingest_batch", lit(b.id))
        .cache()
      try {
        // layout + ingest_batch validation is the shared StreamProtocol
        // guard; the prune below is this stream's own — the touched
        // bucket set is bounded by min(batch, 2^planes) values,
        // driver-known
        val index = StreamProtocol.validatedIndex(spark, b.fs,
            new Path(indexDir), "bucket", IndexSchema, "StreamingSimilarity",
            "partitioned by bucket") match {
          case None =>
            spark.createDataFrame(spark.sparkContext.emptyRDD[Row], IndexSchema)
          case Some(reader) =>
            val touched = banded.select(col("bucket")).distinct()
              .collect().map(_.getLong(0)).toIndexedSeq
            latestPerId(reader.filter(col("bucket").isin(touched: _*)), b.id)
        }

        val results = banded.alias("q")
          .join(index.alias("i"), Seq("bucket"))
          .filter(col("q.vec_id") =!= col("i.vec_id"))
          // zero-norm-guarded cosine, same spec as the batch path
          .withColumn("_nn", col("q.norm") * col("i.norm"))
          .withColumn("cos", when(col("_nn") === 0.0, 0.0)
            .otherwise(dotProduct(col("q.vec"), col("i.vec")) / col("_nn")))
          .withColumn("rank", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("q.vec_id"))
              .orderBy(col("cos").desc, col("i.vec_id"))).cast("long"))
          .filter(col("rank") <= k)
          .select(col("q.vec_id").as("q_id"), col("rank"),
            col("i.vec_id").as("c_id"), r(col("cos"), 4).as("cos"))

        results.write.mode(SaveMode.Overwrite)
          .parquet(s"$resultDir/batch=${b.id}")
        banded.write.mode(SaveMode.Append)
          .partitionBy("bucket").parquet(indexDir)
      } finally banded.unpersist()
    }
  }
}
