package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.EventAnalytics

/** Incremental engagement analytics — the streaming twin of the batch
  * retention / active-users pair ([[EventAnalytics.retentionCohorts]] /
  * [[EventAnalytics.activeUsers]]). Both batch operators reduce events
  * to the DEDUPED `(key, day)` activity pair table before any
  * counting, so that pair table IS the sufficient state: this stream
  * maintains it incrementally and the readers derive DAU/WAU and
  * weekly retention cohorts from it through the SAME shared cores
  * (`activeUsersFromPairs` / `retentionFromPairs`) the batch operators
  * use — parity is by construction, and the spec pins it anyway.
  *
  * Per micro-batch:
  *  1. the batch's events collapse to distinct `(key, day)` pairs
  *     (day = floor-div of `ts − epoch0Us` by `dayUs`);
  *  2. the persisted pair table is read ONLY for the days this batch
  *     touches (day-partitioned parquet + an `isin` filter over the
  *     driver-known touched-day list — events arrive roughly in time
  *     order, so a batch touches a handful of recent days while the
  *     table spans the whole history);
  *  3. pairs not already present append, partitioned by `day`, tagged
  *     with `ingest_batch`; a marker commits the batch LAST
  *     ([[StreamProtocol]] — same at-least-once replay/run-identity/
  *     config guards as the other persistent-state streams).
  *
  * A crash between append and marker can double-append a replayed
  * batch's pairs; every reader re-applies `distinct()` over the pair
  * columns, so duplicate state rows cost bytes, never wrong answers —
  * the same contract as [[StreamingDedup]]'s index.
  *
  * Scale: per-batch work is batch-sized + the touched days' slivers of
  * the pair table; state grows with DISTINCT (key, day) pairs only —
  * orders of magnitude below raw events (each key contributes ≤ 1 row
  * per day no matter how many events it emits). Readers scan the pair
  * table, never events. */
object StreamingEngagement {

  /** `epoch0Us`/`dayUs` define the day grid the persisted pairs are
    * keyed on — resuming with different values would mix incompatible
    * day bases, so both are pinned in the stream-config fingerprint.
    * `daysPerWeek` only shapes the retention READ (week = day floor-div
    * daysPerWeek — exact, because floor-div composes: (ts−e)/d/w =
    * (ts−e)/(d·w) for positive divisors) and is deliberately not
    * pinned. */
  final case class Config(epoch0Us: Long, dayUs: Long)

  private def fingerprint(cfg: Config): String =
    s"epoch0Us=${cfg.epoch0Us};dayUs=${cfg.dayUs}"

  /** Persisted state schema — fixed so empty and first-batch reads are
    * typed without data files to infer from. `key` is the SOURCE key
    * cast to string (injective for the long/string keys the engine
    * uses; distinct-count semantics are unchanged and no reader ever
    * exposes the key). */
  val PairsSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("key",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("day",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ingest_batch",
        org.apache.spark.sql.types.LongType)))

  private def emptyPairs(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], PairsSchema)
      .select(col("key"), col("day"))

  /** The deduped `(key, day)` pair table — the read API every derived
    * view goes through. Two load-bearing clauses:
    *  - the `distinct()` makes a half-committed replay's double-append
    *    harmless;
    *  - the `ingest_batch <= max(committed)` filter excludes rows from
    *    a batch that appended files but crashed BEFORE its marker —
    *    without it a reader between the crash and the restart would
    *    see an arbitrary partial subset of that batch, numbers that
    *    correspond to no committed prefix of the stream. */
  def pairs(spark: SparkSession, pairsDir: String): DataFrame = {
    // empty for a missing dir — no separate fs.exists probe (one
    // driver RPC per read on object stores)
    val committed = StreamProtocol.committed(spark, pairsDir, "_batch_")
    if (committed.isEmpty)
      emptyPairs(spark)
    else
      spark.read.schema(PairsSchema).parquet(pairsDir)
        .filter(col("ingest_batch") <= committed.max)
        .select(col("key"), col("day")).distinct()
  }

  /** Running DAU/WAU/stickiness from the persisted pairs — identical
    * output to [[EventAnalytics.activeUsers]] over all events ingested
    * so far (shared core). */
  def activeUsers(spark: SparkSession, pairsDir: String,
                  windowDays: Int = 7): DataFrame =
    EventAnalytics.activeUsersFromPairs(pairs(spark, pairsDir), "key", windowDays)

  /** Running weekly retention cohorts from the persisted pairs —
    * identical output to [[EventAnalytics.retentionCohorts]] with
    * `weekUs = dayUs * daysPerWeek` (floor-div composition, see
    * [[Config]]). */
  def retentionCohorts(spark: SparkSession, pairsDir: String,
                       daysPerWeek: Int = 7): DataFrame = {
    require(daysPerWeek >= 1, s"daysPerWeek must be >= 1: $daysPerWeek")
    val weekPairs = pairs(spark, pairsDir)
      .select(col("key"),
        graft.functions.GraftFunctions.longDiv(col("day"), daysPerWeek.toLong)
          .as("week"))
      .distinct()
    EventAnalytics.retentionFromPairs(weekPairs, "key")
  }

  def start(events: DataFrame, keyCol: String, tsCol: String,
            pairsDir: String, checkpoint: String, cfg: Config): StreamingQuery =
    StreamProtocol.sink(events, pairsDir, checkpoint, fingerprint(cfg),
        "StreamingEngagement") { b =>
      val batchPairs = b.df
        .select(col(keyCol).cast("string").as("key"),
          graft.functions.GraftFunctions
            .longDiv(col(tsCol) - cfg.epoch0Us, cfg.dayUs).as("day"))
        .distinct()
        .cache()
      try {
        // touched-day list: driver-known and bounded (a micro-batch
        // spans a bounded wall-clock window, so a handful of days —
        // never corpus history); it prunes the state read to those
        // days' partitions
        // (null days — null ts — can't prune via isin and never equal
        // in the anti-join; they re-append and the readers' distinct
        // collapses them, matching the batch operators' null-day group
        // semantics)
        val touched = batchPairs.select(col("day"))
          .filter(col("day").isNotNull).distinct()
          .collect().map(_.getLong(0)).toSeq
        val existing =
          if (touched.isEmpty || b.committed.isEmpty)
            emptyPairs(b.spark)
          else b.spark.read.schema(PairsSchema).parquet(pairsDir)
            .filter(col("day").isin(touched: _*))
            // a half-committed earlier attempt of THIS batch may have
            // appended only part of its pairs — ignore those rows,
            // re-append the full set, and let the readers' distinct
            // collapse the overlap
            .filter(col("ingest_batch") < b.id)
            .select(col("key"), col("day"))
        batchPairs
          .join(existing, Seq("key", "day"), "left_anti")
          .withColumn("ingest_batch", lit(b.id))
          .write.mode(SaveMode.Append)
          .partitionBy("day")
          .parquet(pairsDir)
      } finally batchPairs.unpersist()
    }
}
