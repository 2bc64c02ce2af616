package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.operators.Graph

/** Incremental graph-shape monitor — the streaming twin of the batch
  * degree pair ([[Graph.degreeHistogram]] / [[Graph.powerLawAlpha]]):
  * the crawl-health signal AT INGEST TIME ("did the link graph grow a
  * hub spike / lose its scale-free tail") instead of after the next
  * full-corpus pass. Both batch operators reduce the graph to the
  * CANONICAL simple edge set ((min, max) endpoints, self-loops
  * dropped, parallel edges collapsed — [[Graph.canonicalEdges]], the
  * family's one canonicalization site) before any counting, so that
  * edge set IS the sufficient state: this stream maintains it
  * incrementally and the readers derive the histogram, the CSN tail
  * exponent, the triangle census, and the k-core peel through the
  * SAME shared cores ([[Graph.histogramFromCanonical]] /
  * [[Graph.alphaFromCanonical]] / [[Graph.trianglesFromCanonical]] /
  * [[Graph.kcoreFromCanonical]]) the batch operators use — parity is
  * by construction, and the spec pins it anyway.
  *
  * Per micro-batch:
  *  1. the batch's edges canonicalize (batch-local dedup rides along);
  *  2. the persisted edge set is read ONLY for the hash buckets this
  *     batch touches (bucket-partitioned parquet + an `isin` filter
  *     over the driver-known touched-bucket list — the
  *     [[StreamingDedup]] keeper-index pruning pattern; a small batch
  *     touches few buckets, never the whole history);
  *  3. edges not already present append, partitioned by `bucket`,
  *     tagged with `ingest_batch`; a marker commits the batch LAST
  *     ([[StreamProtocol]] — same at-least-once replay/run-identity/
  *     config guards as the other persistent-state streams).
  *
  * A crash between append and marker can double-append a replayed
  * batch's edges; every reader re-applies `distinct()` over (a, b),
  * so duplicate state rows cost bytes, never wrong answers — the
  * [[StreamingEngagement]] pair-table contract. The committed-prefix
  * filter (`ingest_batch <= max committed`) keeps a crashed
  * half-appended batch invisible rather than partially visible.
  *
  * Scale: per-batch work is batch-sized + the touched buckets'
  * slivers of the edge set; state grows with DISTINCT canonical edges
  * only (a re-crawled page re-emitting its links adds nothing).
  * Readers scan the edge set, never the raw link stream. */
object StreamingGraph {

  /** `bucketMod` shapes the persisted partition layout the per-batch
    * pruned reads depend on — resuming with a different value would
    * prune against the wrong directories, so it is pinned in the
    * stream-config fingerprint. */
  final case class Config(bucketMod: Int = 64) {
    require(bucketMod >= 1, s"bucketMod must be >= 1: $bucketMod")
  }

  private def fingerprint(cfg: Config): String = s"bucketMod=${cfg.bucketMod}"

  /** Persisted state schema — fixed so empty and first-batch reads
    * are typed without data files to infer from. */
  val EdgesSchema: StructType = StructType(Seq(
    StructField("a", LongType),
    StructField("b", LongType),
    StructField("bucket", LongType),
    StructField("ingest_batch", LongType)))

  private def emptyEdges(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], EdgesSchema)
      .select(col("a"), col("b"))

  /** The deduped canonical edge set — the read API every derived view
    * goes through. The `distinct()` collapses a half-committed
    * replay's double-append; the committed-prefix filter excludes a
    * batch that appended files but crashed before its marker. */
  def edges(spark: SparkSession, dir: String): DataFrame = {
    val committed = StreamProtocol.committed(spark, dir, "_batch_")
    if (committed.isEmpty)
      emptyEdges(spark)
    else
      spark.read.schema(EdgesSchema).parquet(dir)
        .filter(col("ingest_batch") <= committed.max)
        .select(col("a"), col("b")).distinct()
  }

  /** Running degree histogram — identical output to
    * [[Graph.degreeHistogram]] over all edges ingested so far
    * (shared core). */
  def degreeHistogram(spark: SparkSession, dir: String): DataFrame =
    Graph.histogramFromCanonical(edges(spark, dir))

  /** Running power-law tail exponent — identical output to
    * [[Graph.powerLawAlpha]] over all edges ingested so far (shared
    * core); the verdict may legitimately MOVE as the graph fills in. */
  def powerLawAlpha(spark: SparkSession, dir: String,
                    dMin: Int = 2): DataFrame =
    Graph.alphaFromCanonical(edges(spark, dir), dMin)

  /** Running triangle census — identical output to
    * [[Graph.triangleStats]] over all edges ingested so far (shared
    * compact-forward core): the mutual-citation/ring drift signal
    * without a full-corpus recount. The state IS the core's input —
    * no extra derivation state to maintain. */
  def triangleStats(spark: SparkSession, dir: String): DataFrame =
    Graph.trianglesFromCanonical(edges(spark, dir))

  /** Running k-core decomposition — identical output to [[Graph.kCore]]
    * over all edges ingested so far (shared peel). The peel's rounds
    * run over the INGESTED canonical set (monotonically shrinking
    * per-round barriers, same loop discipline as batch), never the
    * raw link stream. */
  def kCore(spark: SparkSession, dir: String, k: Int,
            maxRounds: Int = 50): DataFrame =
    Graph.kcoreFromCanonical(edges(spark, dir), k, maxRounds)

  /** Running per-vertex local clustering top-k — identical output to
    * [[Graph.localClustering]] over all edges ingested so far (shared
    * compact-forward core). With this the WHOLE batch graph family
    * derives from the one canonical edge state. */
  def localClustering(spark: SparkSession, dir: String, k: Int): DataFrame =
    Graph.localClusteringFromCanonical(edges(spark, dir), k)

  /** `df` must carry the two endpoint columns; NULL endpoints drop
    * (the batch family's null-edge law, enforced by the shared
    * canonicalization). */
  def start(df: DataFrame, srcCol: String, dstCol: String,
            dir: String, checkpoint: String,
            cfg: Config = Config()): StreamingQuery =
    StreamProtocol.sink(df, dir, checkpoint, fingerprint(cfg),
        "StreamingGraph") { b =>
      val batchEdges = Graph.canonicalEdges(b.df, col(srcCol), col(dstCol))
        .withColumn("bucket", pmod(col("a"), lit(cfg.bucketMod.toLong)))
        .cache()
      try {
        // touched-bucket list: driver-known and ≤ bucketMod — it prunes
        // the state read to those buckets' partitions
        val touched = batchEdges.select(col("bucket")).distinct()
          .collect().map(_.getLong(0)).toSeq
        val existing =
          if (touched.isEmpty || b.committed.isEmpty)
            emptyEdges(b.spark)
          else b.spark.read.schema(EdgesSchema).parquet(dir)
            .filter(col("bucket").isin(touched: _*))
            // a half-committed earlier attempt of THIS batch may have
            // appended part of its edges — ignore those rows, re-append
            // the full set, and let the readers' distinct collapse the
            // overlap
            .filter(col("ingest_batch") < b.id)
            .select(col("a"), col("b"))
        batchEdges
          .join(existing, Seq("a", "b"), "left_anti")
          .withColumn("ingest_batch", lit(b.id))
          .write.mode(SaveMode.Append)
          .partitionBy("bucket")
          .parquet(dir)
      } finally batchEdges.unpersist()
    }
}
