package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.GraftFunctions.{polyHash, shingles, tokens}
import graft.operators.{CorpusQuality, EventAnalytics, Sketches}

/** Incremental corpus statistics — the running per-source dashboard a
  * training-data ingest keeps current as documents stream in: document
  * and token counts, a Count-Min sketch of token frequencies, a
  * bottom-k (KMV) distinct-shingle sketch per source, and a bottom-k
  * uniform sample of document lengths (the quantile sketch). The point
  * is the MERGEABILITY of the sketch family
  * ([[graft.operators.Sketches]]): each micro-batch computes ITS OWN
  * bounded summaries and merges them into the previous snapshot by
  * pure algebra — cell-wise sum for CMS, concat → re-cut for bottom-k
  * and for the sample, addition for counts — so per-batch work scales
  * with the batch, never with corpus history, and the whole state is a
  * few bounded DataFrames.
  *
  * State layout: a SNAPSHOT CHAIN. Version `v=<batchId>` holds the
  * full merged state after that batch, written with Overwrite into its
  * own directory and committed by a marker file written LAST:
  *  - a replayed batch rewrites its own version directory (idempotent);
  *  - readers (and the next batch) resolve the latest COMMITTED
  *    version from the markers, never a half-written one;
  *  - the same run-identity / batchId-regression guards as the other
  *    streams fail loudly when a fresh checkpoint replays over
  *    retained state.
  * Old versions are retained for time travel (they are the corpus
  * manifest history); a retention sweep can delete any prefix.
  *
  * Tables per version (all bounded):
  *  - `counts`: (source, n_docs, n_tokens)
  *  - `cms`:    (row_idx, bucket, cnt) — global token CMS
  *  - `kmv`:    (grp, hs) — per-source bottom-k distinct shingle hashes
  *  - `hll`:    (grp, bucket, r) — per-source HLL registers over the
  *              same shingle hashes (the constant-size distinct twin
  *              of `kmv`; merge = cell-wise MAX, the simplest algebra
  *              in the family). A pre-hll state dir is refused like
  *              all old state ([[StreamProtocol]]).
  *  - `quality`: (source, n_docs_q, n_keep) — Gopher keep-gate tally
  *              ([[graft.operators.CorpusQuality.gopherKeep]], the
  *              three-valued law: NULL text counts evaluated, never
  *              kept); merge is cell-wise SUM, so the running
  *              keep-rate per source is exact at every version. A
  *              pre-quality state dir is refused the same way.
  *  - `qs`:     (h, k_str, v) — bottom-k sample of per-doc token
  *              counts, keyed by the text's own portable hash (stable
  *              across replays and batch boundaries, so the merged
  *              sample equals the whole-corpus sample EXACTLY);
  *              [[quantiles]] turns the latest sample into the running
  *              length-distribution quantiles that drive chunking and
  *              packing decisions downstream
  */
object StreamingCorpusStats {

  final case class Config(cmsWidth: Int = 2048, cmsDepth: Int = 3,
                          kmvK: Int = 128, shingleN: Int = 3,
                          sampleK: Int = 256, hllB: Int = 6,
                          qualityMinWords: Long = 30L)

  /** One version's bounded state tables. */
  final case class Snapshot(counts: DataFrame, cms: DataFrame,
                            kmv: DataFrame, qs: DataFrame, hll: DataFrame,
                            quality: DataFrame)

  /** Seed for the length-sample hash — fixed: the sample must be the
    * same draw in every batch or the merge law breaks. */
  private val SampleSeed = "corpus_len"

  private def committedVersions(spark: SparkSession, statsDir: String): Seq[Long] =
    StreamProtocol.committed(spark, statsDir, "_v_")

  private def fingerprint(cfg: Config): String =
    s"cmsWidth=${cfg.cmsWidth};cmsDepth=${cfg.cmsDepth};" +
      s"kmvK=${cfg.kmvK};shingleN=${cfg.shingleN};sampleK=${cfg.sampleK};" +
      s"hllB=${cfg.hllB};" +
      s"qualityMinWords=${cfg.qualityMinWords}"

  private def readVersion(spark: SparkSession, statsDir: String, v: Long): Snapshot =
    Snapshot(
      spark.read.parquet(s"$statsDir/v=$v/counts"),
      spark.read.parquet(s"$statsDir/v=$v/cms"),
      spark.read.parquet(s"$statsDir/v=$v/kmv"),
      spark.read.parquet(s"$statsDir/v=$v/qs"),
      spark.read.parquet(s"$statsDir/v=$v/hll"),
      spark.read.parquet(s"$statsDir/v=$v/quality"))

  /** The latest committed snapshot's tables, or None before the first
    * commit. Public: this is also the read API for consumers. */
  def latest(spark: SparkSession, statsDir: String): Option[(Long, Snapshot)] =
    committedVersions(spark, statsDir).maxOption
      .map(v => (v, readVersion(spark, statsDir, v)))

  /** Running document-length quantiles from the latest snapshot's
    * sample — nearest-rank over ≤ sampleK doubles, no corpus access. */
  def quantiles(spark: SparkSession, statsDir: String,
                ps: Seq[Double]): Option[DataFrame] =
    latest(spark, statsDir).map { case (_, snap) =>
      Sketches.quantilesFromSample(snap.qs, ps)
    }

  /** Drift between two COMMITTED snapshot versions — the time-travel
    * consumption the chain exists for: did the corpus change shape
    * between crawl refreshes? Two PSI scores, both computed purely on
    * the bounded snapshot tables (≤ sampleK sample rows, |sources|
    * count rows — no corpus access):
    *
    *  - `length_psi`: the TO version's document-length sample scored
    *    against equal-COUNT bins of the FROM version's sample (bin
    *    edges = FROM's nearest-rank quantiles, so "drift" means the
    *    distribution moved relative to its own old shape, not relative
    *    to arbitrary fixed bins);
    *  - `source_share_psi`: per-source document-share drift from the
    *    counts tables.
    *
    * Both use add-½ smoothing (deterministic, finite on empty bins).
    * Conventional reading: < 0.1 stable, 0.1-0.25 drifting, > 0.25
    * shifted. Throws on an uncommitted version — half-written state
    * must never be scored. */
  def drift(spark: SparkSession, statsDir: String, fromV: Long, toV: Long,
            bins: Int = 10): DataFrame = {
    require(bins >= 2, s"drift needs >= 2 bins: $bins")
    val committed = committedVersions(spark, statsDir).toSet
    require(committed.contains(fromV) && committed.contains(toV),
      s"drift needs two COMMITTED versions; have ${committed.toSeq.sorted}, " +
        s"asked for $fromV -> $toV")
    val from = readVersion(spark, statsDir, fromV)
    val to = readVersion(spark, statsDir, toV)

    // equal-count bin edges from the FROM sample (≤ bins-1 interior
    // cuts) — sketch-sized by construction, so they collect to driver
    // LITERALS: the emptiness check is free (an empty edge set would
    // silently zero the binning) and the bin assignment becomes a pure
    // projection instead of a cross-join subplan.
    val ps = (1 until bins).map(_.toDouble / bins)
    val edges = Sketches.quantilesFromSample(from.qs, ps)
      .select(col("est")).filter(col("est").isNotNull)
      .collect().map(_.getDouble(0)).toSeq
    require(edges.nonEmpty,
      s"drift: version $fromV has an empty length sample — nothing to bin against")
    // the TO side degenerates just as silently: an empty sample or
    // counts table yields a ROW-LESS result (the entity grid is empty)
    // instead of a score — a consumer reading "length_psi" would get
    // nothing with no indication the comparison was void. Same
    // fail-fast posture as the FROM check; both probes are against
    // sketch-sized snapshot tables (≤ sampleK rows), not the corpus.
    require(!to.qs.isEmpty,
      s"drift: version $toV has an empty length sample — nothing to score")
    require(!from.counts.isEmpty && !to.counts.isEmpty,
      s"drift: version ${if (from.counts.isEmpty) fromV else toV} has an " +
        "empty counts table — source-share drift is undefined")
    // NULL sample values (null-text docs) are NON-observations — the
    // same law the bin edges were computed under (quantilesFromSample
    // excludes them). Unfiltered, every `lit(e) < null` falls through
    // otherwise(0) and the row lands in bin 0 as a counted
    // observation, adding phantom minimum-length mass to the PSI.
    def binned(qs: DataFrame, ver: String): DataFrame = qs
      .filter(col("v").isNotNull)
      .select(lit(ver).as("entity"),
        edges.map(e => when(lit(e) < col("v"), 1L).otherwise(0L))
          .reduce(_ + _).as("bin"))
      .groupBy(col("entity"), col("bin")).agg(count(lit(1)).as("n"))
    val toCells = binned(to.qs, "to")
    val lengthPsi = EventAnalytics.psiOverCells(
      toCells,
      ref = binned(from.qs, "from").select(col("bin"), col("n").as("n_ref")),
      domain = spark.range(bins.toLong).select(col("id").as("bin")))

    val sharePsi = EventAnalytics.psiOverCells(
      to.counts.select(lit("to").as("entity"), col("source").as("bin"),
        col("n_docs").as("n")),
      ref = from.counts.select(col("source").as("bin"), col("n_docs").as("n_ref")),
      domain = from.counts.select(col("source").as("bin"))
        .unionByName(to.counts.select(col("source").as("bin"))).distinct())

    lengthPsi.select(lit("length_psi").as("metric"), col("psi"))
      .unionByName(sharePsi.select(lit("source_share_psi").as("metric"), col("psi")))
  }

  /** Vocabulary growth between two COMMITTED versions, straight off
    * the register tables: the global distinct-shingle estimate of each
    * version (per-source registers merge to the global sketch by the
    * same cell-wise max — all sources share one hash), and the new-
    * vocabulary rate 1 − |from|/|to|. Snapshots are cumulative, so the
    * TO version's set contains FROM's and the rate is the fraction of
    * TO's vocabulary first seen after FROM — the "how much genuinely
    * new text arrived" crawl-refresh signal; clamped at 0 against
    * estimator noise on no-growth windows. Bounded-table reads only.
    * `hllB` must equal the stream's `Config.hllB` (fingerprint-pinned).
    * Returns ONE row (from_distinct_est, to_distinct_est,
    * new_vocab_rate) — guaranteed one row even when a version's
    * register table is EMPTY (a first batch of only null-text docs):
    * the global-aggregate estimator reports 0.0 there, and an empty
    * FROM against a non-empty TO is rate 1.0, "everything is new";
    * both sides empty degenerate to rate 0.0 (nothing to grow into). */
  def vocabGrowth(spark: SparkSession, statsDir: String,
                  fromV: Long, toV: Long,
                  hllB: Int = Config().hllB): DataFrame = {
    val committed = committedVersions(spark, statsDir).toSet
    require(committed.contains(fromV) && committed.contains(toV),
      s"StreamingCorpusStats.vocabGrowth: versions must be COMMITTED " +
        s"(have: ${committed.toSeq.sorted.mkString(",")}; " +
        s"asked: $fromV -> $toV)")
    def globalEst(v: Long, out: String): DataFrame =
      Sketches.hllEstimateGlobal(       // total on EMPTY register tables
        readVersion(spark, statsDir, v).hll
          .groupBy(col("bucket")).agg(max(col("r")).as("r")),
        hllB, out)
    globalEst(fromV, "from_distinct_est")
      .crossJoin(globalEst(toV, "to_distinct_est"))
      .withColumn("new_vocab_rate",
        // TO = 0 means both sides are empty (snapshots are cumulative):
        // define rate 0.0 rather than let 0/0 poison the row with NaN
        when(col("to_distinct_est") > 0,
          greatest(lit(1.0) - col("from_distinct_est") / col("to_distinct_est"),
            lit(0.0)))
          .otherwise(lit(0.0)))
  }

  /** Per-batch summaries of a (source, text) document set — shared by
    * the stream and by the batch twin the spec compares against. */
  private[graft] def summarize(docs: DataFrame, cfg: Config): Snapshot = {
    val toks = docs.select(col("source"), explode(tokens(col("text"))).as("tok"))
    val counts = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(tokens(col("text"))).cast("long")).as("n_tokens"))
    val cms = Sketches.cmsFromCounts(
      toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt")),
      col("tok"), col("cnt"), cfg.cmsWidth, cfg.cmsDepth)
    val sh = docs
      .select(col("source"), explode(shingles(tokens(col("text")), cfg.shingleN)).as("ng"))
      .select(col("source"), polyHash(col("ng")).as("h"))
    val kmv = Sketches.bottomK(sh, col("source"), col("h"), cfg.kmvK)
    // same hash stream as kmv; the register max is idempotent so the
    // raw (non-distinct) occurrence stream is fine. Cost is a second
    // shingle explode of the CACHED projected batch — batch-sized.
    val hll = Sketches.hllRegisters(sh, col("source"), col("h"), cfg.hllB)
    // SET semantics (distinct texts): a duplicate text at one shard's
    // cut boundary would otherwise survive in the whole-corpus sample
    // but collapse in the per-shard cut, breaking exact merge parity —
    // over distinct rows the bottom-k merge law is exact (as for KMV)
    val qs = Sketches.bottomKSample(
      docs.select(polyHash(col("text")).as("k"),
        size(tokens(col("text"))).cast("double").as("len")).distinct(),
      col("k"), col("len"), cfg.sampleK, SampleSeed)
    // three-valued gate: NULL-text docs count as evaluated, never as
    // kept — the running keep rate cannot be inflated by null rows
    val quality = CorpusQuality.withGopherStats(docs, col("text"))
      .withColumn("_keep",
        CorpusQuality.gopherKeep(minWords = cfg.qualityMinWords))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs_q"),
        count(when(col("_keep"), 1)).as("n_keep"))
    Snapshot(counts, cms, kmv, qs, hll, quality)
  }

  /** Merge two snapshots — pure sketch algebra, no corpus data. */
  private[graft] def merge(a: Snapshot, b: Snapshot, cfg: Config): Snapshot = {
    val counts = a.counts.unionByName(b.counts)
      .groupBy(col("source"))
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
    val cms = a.cms.unionByName(b.cms)
      .groupBy(col("row_idx"), col("bucket")).agg(sum(col("cnt")).as("cnt"))
    val kmv = Sketches.bottomK(
      a.kmv.unionByName(b.kmv).select(col("grp"), explode(col("hs")).as("h")),
      col("grp"), col("h"), cfg.kmvK)
    // sample re-cut consumes the shards' (h, k_str, v) rows as-is —
    // hashes are already materialized, no recomputation; the same
    // distinct text arriving in two batches collapses (set semantics)
    val qs = a.qs.unionByName(b.qs).dropDuplicates("h", "k_str", "v")
      .orderBy(col("h"), col("k_str"), col("v")).limit(cfg.sampleK)
    // the family's simplest merge law: registers combine by cell-wise
    // max, so stream-merged state IS the whole-corpus sketch exactly
    val hll = Sketches.hllMerge(a.hll, b.hll)
    // keep tallies are plain counters: cell-wise sum per source
    val quality = a.quality.unionByName(b.quality)
      .groupBy(col("source"))
      .agg(sum(col("n_docs_q")).as("n_docs_q"),
        sum(col("n_keep")).as("n_keep"))
    Snapshot(counts, cms, kmv, qs, hll, quality)
  }

  /** Per-source distinct-shingle estimates from the latest snapshot's
    * registers — bounded-table read, no corpus access. `hllB` must
    * equal the stream's `Config.hllB` (the config fingerprint pins it
    * for the life of the state dir, so there is exactly one right
    * value). Returns (grp, est_distinct) or None before first commit. */
  def distinctShingles(spark: SparkSession, statsDir: String,
                       hllB: Int = Config().hllB): Option[DataFrame] =
    latest(spark, statsDir).map { case (_, snap) =>
      Sketches.hllEstimate(snap.hll, hllB)
    }

  /** Running per-source Gopher keep rates from the latest snapshot's
    * quality tally — bounded-table read, no corpus access. Returns
    * (source, n_docs_q, n_keep, keep_rate) or None before the first
    * commit; a source whose every doc failed (or was NULL) rates 0. */
  def qualityRates(spark: SparkSession, statsDir: String): Option[DataFrame] =
    latest(spark, statsDir).map { case (_, snap) =>
      snap.quality.select(col("source"), col("n_docs_q"), col("n_keep"),
        (col("n_keep").cast("double") / col("n_docs_q")).as("keep_rate"))
    }

  def start(docs: DataFrame, sourceCol: String, textCol: String,
            statsDir: String, checkpoint: String,
            cfg: Config = Config()): StreamingQuery =
    StreamProtocol.sink(docs, statsDir, checkpoint, fingerprint(cfg),
        "StreamingCorpusStats", markerPrefix = "_v_") { b =>
      // the six snapshot writes are six jobs: cache the projected batch
      // so the source micro-batch is read once, not once per table
      val projected = b.df
        .select(col(sourceCol).as("source"), col(textCol).as("text"))
        .cache()
      try {
        val fresh = summarize(projected, cfg)
        val merged = b.committed.filter(_ < b.id).maxOption match {
          case None => fresh
          case Some(prev) =>
            merge(readVersion(b.spark, statsDir, prev), fresh, cfg)
        }
        // full snapshot, Overwrite into this batch's own version dir: a
        // replay rewrites it; the sink's marker commits LAST
        val v = s"$statsDir/v=${b.id}"
        merged.counts.write.mode(SaveMode.Overwrite).parquet(s"$v/counts")
        merged.cms.write.mode(SaveMode.Overwrite).parquet(s"$v/cms")
        merged.kmv.write.mode(SaveMode.Overwrite).parquet(s"$v/kmv")
        merged.qs.write.mode(SaveMode.Overwrite).parquet(s"$v/qs")
        merged.hll.write.mode(SaveMode.Overwrite).parquet(s"$v/hll")
        merged.quality.write.mode(SaveMode.Overwrite).parquet(s"$v/quality")
      } finally projected.unpersist()
    }
}
