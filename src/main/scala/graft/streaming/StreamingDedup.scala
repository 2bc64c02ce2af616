package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.operators.Dedup

/** Incremental (streaming) near-duplicate detection: a `foreachBatch`
  * pipeline that maintains a persistent MinHash band index and flags
  * each arriving document against EVERYTHING previously ingested.
  *
  * Per micro-batch:
  *  1. signatures + LSH bands for the batch (`Dedup.withMinHash` /
  *     `withLshBands` — the same operators as the batch path);
  *  2. band-equality join against the persisted index → candidates;
  *     signature-agreement fraction ≥ `minAgreement` confirms a dup;
  *  3. confirmed dup (new_id, indexed_id) pairs OVERWRITE
  *     `dupDir/batch=<id>` (retry-safe: a replayed batch rewrites its
  *     own directory instead of appending duplicates);
  *  4. non-duplicate docs' band rows OVERWRITE the index's own
  *     `ingest_batch=<id>` partition (dynamic partition overwrite: the
  *     same replay rule as step 3, and every other batch's partition
  *     and the marker files stay untouched), and a marker file commits
  *     the batch LAST — the same at-least-once protocol as
  *     [[StreamingSimilarity]]: the marker skips a fully committed
  *     replay, the `ingest_batch < batchId` partition filter keeps a
  *     half-committed attempt of the same batch from self-matching,
  *     and a run-identity file plus a committed-marker bound fail fast
  *     when a fresh checkpoint replays over a retained index (batch
  *     ids restarting at 0 would otherwise silently swallow batches).
  *
  * Scale: the index parquet is PARTITIONED by `ingest_batch` — one
  * directory per micro-batch, one file per write task — so a batch
  * writes a handful of files whatever its band keys. The trade-off:
  * every batch scans the WHOLE index except its own partition, so
  * per-batch read work grows with the accumulated index (state grows
  * with unique docs only). Keying the directories by band hash instead
  * prunes only for tiny batches: a batch of B documents touches
  * 1 − (63/64)^B of a band's 64 hash buckets, ≥ 99% from B ≥ 300, while
  * each write task fans out into up to bands × 64 one-row files. All
  * filesystem probes go through the Hadoop FileSystem API, so the same
  * code runs on local disk, HDFS, or object stores. Intra-batch
  * duplicates are both admitted (checked only against the index); run
  * the batch dedup inside the micro-batch first if that matters.
  */
object StreamingDedup {

  val IndexSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("band_idx", IntegerType),
    StructField("band_hash", LongType),
    StructField("minhash", ArrayType(LongType)),
    StructField("ingest_batch", LongType)))

  def start(docs: DataFrame, textCol: String, idCol: String,
            indexDir: String, dupDir: String, checkpoint: String,
            k: Int = 16, bands: Int = 4, shingleN: Int = 3,
            minAgreement: Double = 0.8): StreamingQuery = {
    // k/bands/shingleN shape the persisted signatures and band keys:
    // resuming with different values would band-join incompatible hash
    // spaces and silently stop matching — the config guard fails fast
    // instead. minAgreement only filters results and is deliberately
    // NOT pinned. layout names the directory keying, so state of an
    // older layout is refused rather than read as an empty index.
    val dedupCfg = s"k=$k;bands=$bands;shingleN=$shingleN;layout=ingest_batch"
    StreamProtocol.sink(docs, indexDir, checkpoint, dedupCfg,
        "StreamingDedup") { b =>
      val spark = b.spark
      // the per-batch verdict output is AUXILIARY state committed
      // through indexDir's markers: fence it too, or a re-ingest that
      // wiped index+checkpoint but kept dupDir silently mixes the dead
      // run's higher-numbered batch=N verdicts into the new run's
      // output until the new run passes them
      StreamProtocol.claimAuxiliary(spark, dupDir, checkpoint, dedupCfg,
        "StreamingDedup (dup output)")
      val banded = Dedup.withLshBands(
          Dedup.withMinHash(b.df, col(textCol), k, shingleN), k, bands)
        // shingle-less documents band to NULL hashes: they can match
        // nothing and would only add useless index rows
        .filter(col("band_hash").isNotNull)
        .select(col(idCol).cast("long").as("doc_id"),
          col("band_idx"), col("band_hash"), col("minhash"))
        .withColumn("ingest_batch", lit(b.id))
        .cache()
      try {
        // layout + ingest_batch validation is the shared StreamProtocol
        // guard. The fence is a partition filter: rows a half-committed
        // earlier attempt of THIS batch wrote are never listed, let
        // alone matched
        val index = StreamProtocol.validatedIndex(spark, b.fs,
            new Path(indexDir), "ingest_batch", IndexSchema, "StreamingDedup",
            "partitioned by ingest_batch") match {
          case None =>
            spark.createDataFrame(spark.sparkContext.emptyRDD[Row], IndexSchema)
          case Some(reader) => reader.filter(col("ingest_batch") < b.id)
        }

        val dups = banded.alias("n")
          .join(index.alias("i"), Seq("band_idx", "band_hash"))
          .filter(col("n.doc_id") =!= col("i.doc_id"))
          .withColumn("agreement",
            graft.functions.GraftFunctions
              .arrayEqCount(col("n.minhash"), col("i.minhash"))
              .cast("double") / k.toDouble)
          .filter(col("agreement") >= minAgreement)
          .select(col("n.doc_id").as("new_id"),
            col("i.doc_id").as("matched_id"), col("agreement"))
          .distinct()
          .cache()

        try {
          dups.write.mode(SaveMode.Overwrite)
            .parquet(s"$dupDir/batch=${b.id}")
          // dynamic overwrite replaces only the partitions this write
          // produces — ingest_batch=<batchId> — so a replay after a
          // crash before the marker rewrites its own rows once
          banded
            .join(dups.select(col("new_id")),
              col("doc_id") === col("new_id"), "left_anti")
            .write.mode(SaveMode.Overwrite)
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("ingest_batch")
            .parquet(indexDir)
        } finally dups.unpersist()   // a failed write must not leak the cache
      } finally banded.unpersist()
    }
  }
}
