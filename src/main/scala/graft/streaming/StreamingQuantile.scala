package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

import graft.operators.Sampling

/** Incremental cross-source quantile normalization — the streaming
  * twin of [[Sampling.quantileNormalizeBinned]], and the reason that
  * operator's state is TICK CELLS in the first place: per-(stratum,
  * tick) counts are fixed-size, MERGEABLE state (counts add), so the
  * corpus's whole normalization distribution ingests incrementally on
  * [[StreamingDrift]]'s committed-delta discipline while scoring stays
  * a batch-time read. The serving-time use: calibrate scores of ANY
  * row set against the corpus-so-far distribution ("normalize these
  * candidate docs the way the full corpus would") without a
  * full-corpus pass — the online form of the heterogeneous-source
  * score calibration the batch operator exists for.
  *
  * Per micro-batch: the batch reduces to its (stratum, tick) count
  * delta (the SAME saturation-guarded tick quantization as batch —
  * [[Sampling.tickedRows]]), the delta OVERWRITES its own
  * `ingest_batch=` directory, and the marker commits last
  * ([[StreamProtocol]] replay/run-identity/config guards). Readers sum
  * committed deltas only, so a crashed half-written batch never leaks
  * partial counts into the additive cells (the drift-family law).
  *
  * [[normalize]] derives through the SAME extracted core the batch
  * operator runs ([[Sampling.normalizeAgainstCells]]) — after N
  * batches, normalizing the ingested rows equals the batch operator on
  * the ingested corpus row for row (parity by construction, spec-
  * pinned). Rows whose (stratum, tick) never ingested are not rankable
  * against the state and drop — the core's documented contract.
  *
  * Scale: per-batch work is one map-side-combining cell reduction of
  * the batch; state grows with DISTINCT (stratum, tick) cells, never
  * rows; scoring shuffles the scored rows once (the cell join) plus
  * the bounded cell-table windows the batch plan already pays. */
object StreamingQuantile {

  /** `scale` shapes the tick grid the persisted cells live on —
    * resuming with a different value would merge incompatible grids,
    * so it is pinned in the stream-config fingerprint (indexBinWidth
    * only shapes the scoring-time range join and may vary per read). */
  final case class Config(scale: Long = 100L,
                          indexBinWidth: Double = 4096.0) {
    require(scale >= 1L, s"scale must be >= 1: $scale")
  }

  private def fingerprint(cfg: Config): String = s"scale=${cfg.scale}"

  /** Persisted delta schema (+ the `ingest_batch` partition column at
    * read time) — fixed so empty and first reads are typed. The
    * stratum is nullable by design: NULL strata form a group (the
    * batch family's law; its joins are null-safe). */
  val CellsSchema: StructType = StructType(Seq(
    StructField("_g", StringType),
    StructField("_t", DoubleType),
    StructField("_n", LongType),
    StructField("ingest_batch", LongType)))

  /** The accumulated (stratum, tick) cell table — committed deltas
    * summed (the [[StreamingDrift]] shared read). */
  def cells(spark: SparkSession, dir: String): DataFrame =
    StreamingDrift.readCells(spark, dir, CellsSchema,
      Seq("_g", "_t"), Seq("_n"))

  /** Score `df` against the distribution ingested so far — identical
    * output to [[Sampling.quantileNormalizeBinned]] over the ingested
    * corpus when `df` IS that corpus (shared core). Same output
    * contract: (id, stratum, score, pct, normalized), NULL scores
    * drop, singleton strata keep their rows with NULL pct/normalized. */
  def normalize(spark: SparkSession, dir: String, df: DataFrame,
                id: Column, stratum: Column, score: Column,
                cfg: Config = Config()): DataFrame = {
    // the persisted cells key strata as STRING (start() casts on
    // ingest) — cast here too, or a non-string caller column would
    // ride implicit coercion into the null-safe cell join (integer 1
    // vs '1' can silently misalign) and the output stratum type would
    // differ from the ingested key
    val rows = graft.operators.OpUtils.barrier(
      Sampling.tickedRows(df, id, stratum.cast("string"), score, cfg.scale))
    Sampling.normalizeAgainstCells(rows, cells(spark, dir),
      cfg.scale, cfg.indexBinWidth)
  }

  /** `df` must carry the stratum and score columns (stratum STRING,
    * the persisted key type). NULL scores drop in the cell reduction —
    * the batch operator's law, shared via [[Sampling.tickedRows]]. */
  def start(df: DataFrame, stratumCol: String, scoreCol: String,
            dir: String, checkpoint: String,
            cfg: Config = Config()): StreamingQuery =
    StreamingDrift.monitor(df, dir, checkpoint, fingerprint(cfg),
      "StreamingQuantile") { batch =>
      Sampling.tickedRows(batch, lit(0L), col(stratumCol).cast("string"),
          col(scoreCol), cfg.scale)
        .groupBy(col("_g"), col("_t")).agg(count(lit(1)).as("_n"))
    }
}
