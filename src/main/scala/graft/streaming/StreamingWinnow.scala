package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.functions.GraftFunctions

/** Incremental (streaming) winnowing match detection: a `foreachBatch`
  * pipeline that maintains a persistent fingerprint posting index and
  * flags each arriving document against EVERYTHING previously ingested
  * — the streaming twin of [[graft.operators.TextAnalysis
  * .winnowingPairs]] (Schleimer et al. 2003), sitting between
  * [[StreamingDedup]]'s MinHash bands (set-overlap evidence) and a
  * full substring scan: a shared run of ≥ w + k − 1 tokens with any
  * already-indexed document surfaces by the winnowing guarantee.
  *
  * Per micro-batch:
  *  1. per-row native fingerprinting (`graft_winnow` behind the scan),
  *     exploded to the DISTINCT (doc_id, fp) posting table — short and
  *     NULL docs fingerprint to the empty array and vanish here;
  *  2. boilerplate cut at MATCH time: fingerprints whose document
  *     frequency SO FAR (indexed docs + this batch) exceeds `maxDf`
  *     carry no match evidence this batch. Unlike the batch twin —
  *     which prunes by final whole-corpus df — a streaming operator
  *     can only know df-so-far: a fingerprint may contribute matches
  *     early and cross into boilerplate later, and the earlier
  *     verdicts are NOT retracted (the standard streaming-vs-batch
  *     asymmetry; the batch operator over the full corpus is the
  *     replayable source of truth). The cut is computed per batch from
  *     the pruned partitions only — it is never persisted, so `maxDf`
  *     (and `minShared`) stay tunable across a resume and are
  *     deliberately NOT config-pinned;
  *  3. fp-equality join against the pruned index → pairs sharing
  *     ≥ `minShared` kept fingerprints become matches
  *     (new_id, matched_id, shared_fps), OVERWRITING
  *     `matchDir/batch=<id>` (retry-safe: a replayed batch rewrites
  *     its own directory);
  *  4. non-matched docs' postings append to `indexDir` tagged with
  *     `ingest_batch`, and a marker commits the batch LAST — the same
  *     at-least-once protocol as [[StreamingDedup]] (marker skips a
  *     fully-committed replay; the `ingest_batch < batchId` read fence
  *     keeps a half-committed attempt of the same batch from
  *     self-matching; run-identity + committed-marker bound fail fast
  *     on a fresh checkpoint over retained state). Matched docs are
  *     kept OUT of the index (the canonical copy already represents
  *     them — the [[StreamingDedup]] policy).
  *
  * Scale: the index parquet is PARTITIONED by fp_bucket = fp mod
  * [[BucketCount]], and each batch reads ONLY the partitions its own
  * fingerprints touch (at most BucketCount values, driver-known), so
  * per-batch work scales with the batch, not the accumulated index.
  * k and w shape the persisted fingerprints and bucketMod is baked
  * into the partition values — all three are config-pinned; resuming
  * with different ones would join incompatible hash spaces (or prune
  * against mismatched buckets) and silently stop matching.
  * Intra-batch pairs are NOT matched (checked only against the
  * index); run the batch operator inside the micro-batch first if
  * that matters.
  */
object StreamingWinnow {

  /** Partition fan-out for the persisted posting index: fp mod 64 —
    * enough selectivity that a batch prunes most of a large index,
    * few enough directories that listing stays cheap. */
  val BucketCount = 64

  val IndexSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("fp_bucket", IntegerType),
    StructField("fp", LongType),
    StructField("ingest_batch", LongType)))

  def start(docs: DataFrame, textCol: String, idCol: String,
            indexDir: String, matchDir: String, checkpoint: String,
            k: Int = 3, w: Int = 6, minShared: Long = 2L,
            maxDf: Int = 10): StreamingQuery = {
    val cfg = s"k=$k;w=$w;bucketMod=$BucketCount"
    StreamProtocol.sink(docs, indexDir, checkpoint, cfg,
        "StreamingWinnow") { b =>
      val spark = b.spark
      // the per-batch match output is AUXILIARY state committed through
      // indexDir's markers — fence it like StreamingDedup's dup output,
      // or a re-ingest that kept matchDir would mix a dead run's
      // batch=N verdicts into this run
      StreamProtocol.claimAuxiliary(spark, matchDir, checkpoint, cfg,
        "StreamingWinnow (match output)")
      val fps = b.df
        .select(col(idCol).cast("long").as("doc_id"),
          explode(GraftFunctions.winnowFingerprints(
            GraftFunctions.tokens(col(textCol)), k, w)).as("_f"))
        // a fp selected at several positions is ONE posting — the batch
        // twin's DISTINCT (doc, fp) law
        .select(col("doc_id"), col("_f").getField("fp").as("fp"))
        .distinct()
        .select(col("doc_id"),
          pmod(col("fp"), lit(BucketCount.toLong)).cast("int")
            .as("fp_bucket"),
          col("fp"), lit(b.id).as("ingest_batch"))
        .cache()
      try {
        val index = StreamProtocol.validatedIndex(spark, b.fs,
            new Path(indexDir), "fp_bucket", IndexSchema, "StreamingWinnow",
            "partitioned by (fp_bucket)") match {
          case None =>
            spark.createDataFrame(spark.sparkContext.emptyRDD[Row], IndexSchema)
          case Some(reader) =>
            // ≤ BucketCount values — a tiny, bounded driver collect
            val touched = fps.select(col("fp_bucket")).distinct()
              .collect().map(_.getInt(0)).toSeq
            val prune =
              if (touched.isEmpty) lit(false)
              else col("fp_bucket").isin(touched: _*)
            reader.filter(prune).filter(col("ingest_batch") < b.id)
        }
        // df-so-far cut (see class doc). A fp determines its bucket, so
        // the pruned read holds EVERY indexed posting of every batch
        // fp — the count is exact, not partition-truncated. Filtering
        // the BATCH side alone suffices: pairs only form on fps present
        // on both sides of the equality join.
        val dfKeep = index.select(col("doc_id"), col("fp"))
          .unionByName(fps.select(col("doc_id"), col("fp")))
          .groupBy(col("fp")).agg(count(lit(1)).as("_df"))
          .filter(col("_df") <= maxDf)
          .select(col("fp"))
        val matches = fps.join(dfKeep, Seq("fp"), "left_semi").alias("n")
          .join(index.alias("i"), Seq("fp"))
          // same id across batches = a re-ingested doc, not a match
          .filter(col("n.doc_id") =!= col("i.doc_id"))
          .select(col("n.doc_id").as("new_id"),
            col("i.doc_id").as("matched_id"))
          .groupBy(col("new_id"), col("matched_id"))
          .agg(count(lit(1)).as("shared_fps"))
          .filter(col("shared_fps") >= minShared)
          .cache()
        try {
          matches.write.mode(SaveMode.Overwrite)
            .parquet(s"$matchDir/batch=${b.id}")
          fps
            .join(matches.select(col("new_id")).distinct(),
              col("doc_id") === col("new_id"), "left_anti")
            .write.mode(SaveMode.Append)
            .partitionBy("fp_bucket")
            .parquet(indexDir)
        } finally matches.unpersist() // failed write must not leak the cache
      } finally fps.unpersist()
    }
  }
}
