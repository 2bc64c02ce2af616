package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Shared plumbing for the operator modules (single-sourced — these
  * were previously duplicated between Dedup and Similarity). */
private[graft] object OpUtils {

  /** Materialization barrier after an expensive per-row derivation: a
    * round-robin repartition to the session's shuffle parallelism.
    * Two load-bearing reasons:
    *  1. single-file/single-row-group inputs otherwise run the heavy
    *     expression on ONE task (parquet splits, not rows, set scan
    *     parallelism);
    *  2. higher-order-function expressions are interpreted and lazy —
    *     without a shuffle boundary Catalyst's projection collapse
    *     re-evaluates them through downstream explodes and joins
    *     (measured 2× on the LSH pipeline). Below an Exchange they are
    *     computed exactly once and the RESULT is shuffled. */
  def materialize(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt)

  /** Compute-heavy per-row derivation, done right: spread the input
    * across the session's parallelism FIRST, evaluate once per row,
    * then barrier so downstream explodes/joins shuffle the RESULT.
    *
    * The input spread is unconditional: probing the actual layout
    * (`df.rdd.getNumPartitions`) costs a full extra physical-planning
    * pass per call — measured +50% on the q37/q39 chains — which
    * outweighs the shuffle it occasionally saves. */
  def derived(df: DataFrame)(add: DataFrame => DataFrame): DataFrame =
    materialize(add(materialize(df)))

  /** Cosine from a precomputed norm product; 0.0 for zero norms (the
    * guarded form every SQL oracle mirrors). */
  def cosFromNorms(dot: Column, nn: Column): Column =
    when(nn === 0.0, 0.0).otherwise(dot / nn)

  /** Hamming-≤1 LSH probe list: the vector's own bucket plus every
    * one-sign-bit flip. `planes` is static, so the probe set is a
    * literal array of integer XOR flips (exactly the oracles'
    * `1::BIGINT << p`). Shared by Similarity.lshMultiProbeTopK and
    * Dedup.embeddingPairsLshMultiProbe — the flip list must stay
    * identical or their recall claims diverge. */
  def hamming1Probes(bucket: Column, planes: Int): Column =
    explode(array(
      bucket +: (0 until planes).map(p => bucket.bitwiseXOR(lit(1L << p))): _*))

  /** The pair-id type law shared by the component/split operators
    * (Dedup.requireNumericIds, Sampling.leakageSafeSplit): INTEGRAL
    * only, never any NumericType — cast(double as long) TRUNCATES
    * (ANSI throws only on overflow), so fractional ids 1.2 and 1.7
    * would silently alias into vertex 1, merging unrelated documents
    * with no error. One predicate, or the two guards drift the next
    * time the law changes. */
  def isIntegralId(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    dt == ByteType || dt == ShortType || dt == IntegerType || dt == LongType
  }

  /** The engine's one persistence barrier, for a multiply-consumed or
    * per-round frame (candidate pairs, vocab tables, iteration state):
    * without one Catalyst replans the whole upstream chain under every
    * consumer, and iterative plans grow a round per round.
    *
    * The session decides what survives executor loss: with
    * `spark.sparkContext.setCheckpointDir` set (a fault-tolerant
    * location, e.g. HDFS/S3) the barrier is a replayable
    * `df.checkpoint`; without one it is an executor-local
    * `localCheckpoint`, which dies with its executor. Lazy unless
    * `eager`, which materializes the frame before returning. */
  def barrier(df: DataFrame, eager: Boolean = false): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.nonEmpty) df.checkpoint(eager)
    else df.localCheckpoint(eager)
}
