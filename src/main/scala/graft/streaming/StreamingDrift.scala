package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.operators.EventAnalytics

/** Incremental distribution-drift monitors — the streaming twins of the
  * [[EventAnalytics]] statistical suite. Every member reduces the
  * corpus to a bounded ADDITIVE cell table before any statistics, so
  * that table is the sufficient state: each micro-batch persists its
  * own cell DELTA, and the readers sum committed deltas and derive the
  * verdict through the SAME `…FromCells` cores the batch operators
  * use. Parity is by construction (Σ per-batch cells ≡ the one-shot
  * cells over the union corpus), and the specs pin it anyway.
  *
  * Five monitors share one delta discipline ([[monitor]]/[[readCells]]
  * — the protocol lives ONCE, a fix applies to all five):
  *  - KS / Mann–Whitney over per-tick `(_x, _a0, _a1)` cells
  *  - χ² independence over per-category `(_k, _o0, _o1)` cells
  *  - seasonality residuals over `(_dw, _hr, _n)` cells
  *  - CUSUM changepoint over daily `(_d, _c, _s)` cells
  *  - Benford census over first-digit `(_d, _o)` cells
  *
  * At-least-once replay: additive counts are NOT idempotent under
  * re-append, so each batch's delta lands in its OWN
  * `ingest_batch=<id>` directory with `SaveMode.Overwrite` (a replay
  * REWRITES the identical delta, never doubles it), the commit marker
  * publishes LAST, and readers sum only committed batches — the
  * [[StreamProtocol]] snapshot discipline with per-batch directories
  * instead of a chain. Run-identity + config-fingerprint guards as in
  * every other persistent-state stream (grid-shaping knobs are pinned;
  * resuming with a different grid would mix incompatible cell bases).
  *
  * Scale: per-batch work is one map-side-combining aggregation of the
  * batch to its bounded delta (cells touched by THIS batch); state
  * grows with batches × touched cells, readers aggregate it back to
  * one bounded cell table — the corpus is never re-read. */
object StreamingDrift {

  final case class Config(scale: Long)

  private def fingerprint(cfg: Config): String = s"scale=${cfg.scale}"

  // ------------------------------------------------------------------
  // the shared delta discipline
  // ------------------------------------------------------------------

  /** The accumulated cell table for any monitor: committed deltas
    * summed per key. The `isin(committed)` filter (not `<= max`) is
    * load-bearing: a batch that wrote files but crashed before its
    * marker must not leak PARTIAL counts into an additive sum (the
    * engagement stream tolerates that with `distinct()`; sums
    * cannot). An empty state dir yields an empty, correctly-TYPED
    * frame so first reads and empty derivations work. */
  private[streaming] def readCells(spark: SparkSession, dir: String,
                                   schema: StructType, keys: Seq[String],
                                   sums: Seq[String]): DataFrame = {
    val committed = StreamProtocol.committed(spark, dir, "_batch_")
    if (committed.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        .select((keys ++ sums).map(col): _*)
    else {
      val aggs = sums.map(c => sum(col(c)).as(c))
      spark.read.schema(schema).option("basePath", dir).parquet(
          committed.map(b => s"$dir/ingest_batch=$b"): _*)
        .groupBy(keys.map(col): _*)
        .agg(aggs.head, aggs.tail: _*)
    }
  }

  /** One micro-batch sink on the committed-delta protocol
    * ([[StreamProtocol.sink]]): the batch's cell reduction OVERWRITES
    * its own delta directory; the sink publishes the marker last. */
  private[streaming] def monitor(df: DataFrame, dir: String, checkpoint: String,
                                 configFingerprint: String, label: String)
                                (reduce: DataFrame => DataFrame): StreamingQuery =
    StreamProtocol.sink(df, dir, checkpoint, configFingerprint, label) { b =>
      reduce(b.df).write.mode(SaveMode.Overwrite)
        .parquet(s"$dir/ingest_batch=${b.id}")
    }

  private def longs(names: String*): StructType =
    StructType(names.map(n => StructField(n, LongType)) :+
      StructField("ingest_batch", LongType))

  // ------------------------------------------------------------------
  // KS / Mann–Whitney: per-tick value cells
  // ------------------------------------------------------------------

  /** Persisted delta schema (+ the `ingest_batch` partition column at
    * read time) — fixed so empty and first reads are typed. */
  val CellsSchema: StructType = longs("_x", "_a0", "_a1")

  /** The accumulated per-tick cell table — committed deltas summed. */
  def cells(spark: SparkSession, dir: String): DataFrame =
    readCells(spark, dir, CellsSchema, Seq("_x"), Seq("_a0", "_a1"))

  /** Running KS verdict — identical output to
    * [[EventAnalytics.twoSampleKs]] over all rows ingested so far
    * (shared core). */
  def ks(spark: SparkSession, dir: String): DataFrame =
    EventAnalytics.ksFromCells(cells(spark, dir))

  /** Running Mann–Whitney U — identical output to
    * [[EventAnalytics.mannWhitneyU]] over all rows ingested so far. */
  def mannWhitneyU(spark: SparkSession, dir: String): DataFrame =
    EventAnalytics.mannWhitneyUFromCells(cells(spark, dir))

  /** `df` must carry the group (0/1) and value columns; NULLs drop and
    * out-of-domain groups refuse loudly — the batch operators' laws,
    * enforced by the shared cell reduction. */
  def start(df: DataFrame, groupCol: String, valueCol: String,
            dir: String, checkpoint: String, cfg: Config): StreamingQuery =
    monitor(df, dir, checkpoint, fingerprint(cfg), "StreamingDrift")(
      batch => EventAnalytics.drift2Cells(batch, col(groupCol),
        col(valueCol), cfg.scale, "StreamingDrift"))

  // ------------------------------------------------------------------
  // the CATEGORICAL twin: incremental χ² independence
  // ------------------------------------------------------------------

  val CatCellsSchema: StructType = StructType(Seq(
    StructField("_k", StringType),
    StructField("_o0", LongType),
    StructField("_o1", LongType),
    StructField("ingest_batch", LongType)))

  /** Accumulated per-category count table — same committed-delta sum
    * discipline as [[cells]]. Categories persist as STRING (injective
    * for the engine's string/long categories, same convention as the
    * engagement stream's key). */
  def catCells(spark: SparkSession, dir: String): DataFrame =
    readCells(spark, dir, CatCellsSchema, Seq("_k"), Seq("_o0", "_o1"))

  /** Running χ² verdict — identical output to
    * [[EventAnalytics.chiSquareIndependence]] over all rows ingested
    * so far (shared core). */
  def chiSquare(spark: SparkSession, dir: String): DataFrame =
    EventAnalytics.chiSquareFromCells(catCells(spark, dir))

  /** No state-shaping knobs: the categorical grid IS the data's. */
  def startCategorical(df: DataFrame, groupCol: String, catCol: String,
                       dir: String, checkpoint: String): StreamingQuery =
    monitor(df, dir, checkpoint, "categorical=v1",
      "StreamingDrift.categorical")(
      batch => EventAnalytics.catCells(batch, col(groupCol),
        col(catCol).cast("string")))

  // ------------------------------------------------------------------
  // the SEASONALITY twin: incremental (dow, hour) traffic residuals
  // ------------------------------------------------------------------

  val SeasonCellsSchema: StructType = longs("_dw", "_hr", "_n")

  /** Accumulated (dow, hour) count table — same committed-delta sum
    * discipline as [[cells]]. Bounded at 7×24 cells regardless of
    * ingest volume. */
  def seasonCells(spark: SparkSession, dir: String): DataFrame =
    readCells(spark, dir, SeasonCellsSchema, Seq("_dw", "_hr"), Seq("_n"))

  /** Running seasonality profile — identical output to
    * [[EventAnalytics.seasonalityProfile]] over all rows ingested so
    * far (shared core); residuals re-derive against the CURRENT
    * margins on every read, so a cell's surprise legitimately moves
    * as the week fills in. */
  def seasonality(spark: SparkSession, dir: String): DataFrame =
    EventAnalytics.seasonalityFromCells(seasonCells(spark, dir))

  /** `df` must carry an epoch-µs long column `tsUsCol`; NULLs drop —
    * the batch operator's law, enforced by the shared cell
    * reduction. The dow/hour grid is fixed (UTC, dow 0 = Monday), so
    * the fingerprint carries only a version tag. */
  def startSeasonality(df: DataFrame, tsUsCol: String,
                       dir: String, checkpoint: String): StreamingQuery =
    monitor(df, dir, checkpoint, "seasonality=v1",
      "StreamingDrift.seasonality")(
      batch => EventAnalytics.seasonCells(batch, col(tsUsCol)))

  // ------------------------------------------------------------------
  // the BENFORD twin: incremental first-digit census
  // ------------------------------------------------------------------

  val DigitCellsSchema: StructType = longs("_d", "_o")

  /** Accumulated first-digit count table — same committed-delta sum
    * discipline as [[cells]]. Bounded at 9 cells. */
  def digitCells(spark: SparkSession, dir: String): DataFrame =
    readCells(spark, dir, DigitCellsSchema, Seq("_d"), Seq("_o"))

  /** Running Benford census — identical output to
    * [[EventAnalytics.benfordDigits]] over all rows ingested so far
    * (shared core). */
  def benford(spark: SparkSession, dir: String): DataFrame =
    EventAnalytics.benfordFromCells(digitCells(spark, dir))

  /** `df` must carry a long integer-cent column `centsCol`;
    * non-positive and NULL cents drop — the batch operator's law,
    * enforced by the shared cell reduction. The digit grid is fixed,
    * so the fingerprint carries only a version tag. */
  def startBenford(df: DataFrame, centsCol: String,
                   dir: String, checkpoint: String): StreamingQuery =
    monitor(df, dir, checkpoint, "benford=v1", "StreamingDrift.benford")(
      batch => EventAnalytics.digitCells(batch, col(centsCol)))

  // ------------------------------------------------------------------
  // the DAILY twin: incremental CUSUM changepoint
  // ------------------------------------------------------------------

  /** All three values shape the persisted day grid / tick basis and
    * are pinned in the stream-config fingerprint. */
  final case class DailyConfig(epoch0Us: Long, dayUs: Long, scale: Long)

  private def fingerprintDaily(cfg: DailyConfig): String =
    s"epoch0Us=${cfg.epoch0Us};dayUs=${cfg.dayUs};scale=${cfg.scale}"

  val DayCellsSchema: StructType = longs("_d", "_c", "_s")

  /** Accumulated daily (count, tick-sum) table — same committed-delta
    * sum discipline as [[cells]]. */
  def dayCells(spark: SparkSession, dir: String): DataFrame =
    readCells(spark, dir, DayCellsSchema, Seq("_d"), Seq("_c", "_s"))

  /** Running changepoint verdict — identical output to
    * [[EventAnalytics.cusumChangepoint]] over all rows ingested so
    * far (shared core); re-locates the split on every read, which is
    * the point: the monitor's answer may MOVE as evidence accrues. */
  def changepoint(spark: SparkSession, dir: String,
                  cfg: DailyConfig): DataFrame =
    EventAnalytics.cusumFromDays(dayCells(spark, dir), cfg.scale)

  /** Running daily rate anomaly — identical output to
    * [[EventAnalytics.dailyRateAnomaly]] over all rows ingested so
    * far (shared core over the SAME day-cell state the changepoint
    * reads — one persisted table, two verdicts). */
  def rateAnomaly(spark: SparkSession, dir: String, cfg: DailyConfig,
                  k: Int = 7): DataFrame =
    EventAnalytics.rateAnomalyFromDays(dayCells(spark, dir), k, cfg.scale)

  def startDaily(df: DataFrame, tsCol: String, valueCol: String,
                 dir: String, checkpoint: String,
                 cfg: DailyConfig): StreamingQuery =
    monitor(df, dir, checkpoint, fingerprintDaily(cfg),
      "StreamingDrift.daily")(
      batch => EventAnalytics.dayCells(batch, tsCol, valueCol,
        cfg.epoch0Us, cfg.dayUs, cfg.scale))
}
