package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._

/** Deterministic sampling for training-data pipelines.
  *
  * `df.sample(fraction)` is seed-dependent AND partitioning-dependent —
  * re-running after a repartition (or on another engine) selects a
  * different subset, which poisons ablations and dedup-before/after
  * comparisons. These samplers decide membership from a PORTABLE hash
  * of a stable key (`GraftFunctions.polyHash`), so the same row set is
  * selected on every run, every cluster layout, and in the SQL oracle.
  * Pure per-row filters: they push down to the scan's output and cost
  * zero shuffles.
  */
object Sampling {

  /** Hash denominator: membership threshold granularity of 0.01%. */
  val Denom = 10000L

  /** Constant salt appended to the key before hashing: a bare short
    * key (1-2 digit ids) rolls the polynomial only a few steps, so its
    * hash is small and mod-Denom buckets skew low — every key must
    * pass through enough hash rounds to mix. Same suffix in the SQL
    * oracles. */
  val Salt = "#graft-sample"

  // NULL-key contract (all samplers): a NULL key hashes to NULL, so
  // hashSample/stratifiedHashSample DROP the row (even at fraction 1.0)
  // while withSplit/seededSplit route it to the LAST split (every
  // `when` falls through). weightedSample / stratumSample /
  // epochShuffle enforce the DROP explicitly: their rank/sort keys are
  // the hash, and Spark sorts NULLS FIRST ascending — left unguarded, a
  // null-key row would deterministically take rank 1 of every sample.
  // All deterministic but asymmetric — pre-filter or coalesce null
  // keys before sampling.

  private def bucket(key: Column): Column =
    pmod(polyHash(concat(key.cast("string"), lit(Salt))), lit(Denom))

  /** The family's ONE seeded mixing expression (seed PREPENDED — see
    * [[seededSplit]]'s rationale — salt suffixed): every seeded
    * sampler derives from this raw ~10⁹-domain hash, so a change to
    * the mixing scheme lands in one place and cannot silently fork
    * the oracle semantics. */
  private def seededHash(seed: String, key: Column): Column =
    polyHash(concat(lit(seed), key.cast("string"), lit(Salt)))

  private def seededBucket(seed: String, key: Column): Column =
    pmod(seededHash(seed, key), lit(Denom))

  /** Keep each row iff hash(key) mod [[Denom]] < fraction·[[Denom]] —
    * a reproducible Bernoulli-style sample keyed on a stable id. */
  def hashSample(df: DataFrame, key: Column, fraction: Double): DataFrame = {
    require(fraction >= 0.0 && fraction <= 1.0, s"fraction must be in [0,1]: $fraction")
    df.filter(bucket(key) < math.round(fraction * Denom))
  }

  /** Per-stratum fractions (unlisted strata drop): the reproducible
    * form of stratified subsampling — e.g. downsample boilerplate
    * languages, keep all of a rare one. */
  def stratifiedHashSample(df: DataFrame, key: Column, stratum: Column,
                           fractions: Map[String, Double]): DataFrame = {
    val thr = fractions.foldLeft(lit(0L)) { case (acc, (s, f)) =>
      when(stratum === s, lit(math.round(f * Denom))).otherwise(acc)
    }
    df.filter(bucket(key) < thr)
  }

  /** Deterministic train/test assignment from the same hash — the
    * reproducible alternative to `randomSplit` when the split must
    * survive re-runs and engine changes: rows with bucket <
    * trainFraction·[[Denom]] are "train", the rest "test". */
  def withSplit(df: DataFrame, key: Column, trainFraction: Double,
                splitCol: String = "split"): DataFrame =
    df.withColumn(splitCol,
      when(bucket(key) < math.round(trainFraction * Denom), "train")
        .otherwise("test"))

  /** Seeded n-way weighted split — the full train/val/test assignment a
    * training pipeline pins before anything else runs. Disjoint and
    * exhaustive by construction (cumulative hash-bucket ranges; the
    * last split absorbs rounding). Per-row assignment depends only on
    * (key, seed): stable under reruns, repartitions, data growth, and
    * engine changes — properties `randomSplit` has none of — and a new
    * seed is a fresh independent split without touching the data.
    * Zero shuffles: a pure per-row projection. */
  def seededSplit(df: DataFrame, key: Column, seed: String,
                  weights: Seq[(String, Double)],
                  splitCol: String = "split"): DataFrame = {
    require(weights.nonEmpty && weights.forall(_._2 >= 0.0),
      s"weights must be non-negative: $weights")
    require(math.abs(weights.map(_._2).sum - 1.0) < 1e-9,
      s"weights must sum to 1: $weights")
    // seed PREPENDED: it then multiplies through every key character in
    // the rolling polynomial, so two seeds give independent splits. A
    // suffix seed would only shift buckets by a few positions (two
    // seeds differing in the last char land every row ±1 bucket —
    // near-identical splits). Salt stays a suffix for short-key mixing.
    val b = seededBucket(seed, key)
    val uppers = weights.scanLeft(0.0)(_ + _._2).tail
      .map(f => math.round(f * Denom))
    val assigned = weights.init.zip(uppers.init)
      .foldLeft(when(lit(false), lit(null).cast("string"))) {
        case (acc, ((name, _), ub)) => acc.when(b < ub, name)
      }
      .otherwise(weights.last._1)
    df.withColumn(splitCol, assigned)
  }

  /** Weighted sample without replacement (Efraimidis–Spirakis A-RES):
    * each row draws u ∈ (0,1) from the portable hash of (seed, key)
    * and keys on −ln(u)/w; the k smallest keys are the sample. Rows
    * with weight w are selected with probability proportional to w —
    * the quality-weighted subset pass of a training-mix builder —
    * yet membership depends only on (key, seed, weight), so the same
    * sample reproduces across reruns, repartitions, and engines
    * (which the SQL oracle proves literally, re-deriving every key).
    *
    * Plan shape: a pure per-row projection followed by a global
    * sort-limit → `TakeOrderedAndProject` (bounded per-partition
    * heaps; the driver merges k·partitions rows, never sorts the
    * corpus). u = (hash+½)/M draws from the RAW portable-hash domain
    * (M ≈ 10⁹ levels, strictly inside (0,1) so ln never sees 0 or 1)
    * — NOT the mod-[[Denom]] bucket: 10⁴ u-levels would make the cut
    * fall inside huge rank-key tie groups at corpus scale, and the
    * key tie-break would bias selection toward low ids (the same
    * at-scale failure [[stratumSample]] documents). The key is
    * ranked in LOG space, `ln(−ln u) − ln w` (a strictly monotone
    * transform of −ln(u)/w, so the selected set is identical): the
    * raw ratio spans 10+ orders of magnitude and any fixed-decimal
    * rounding collapses exactly the smallest keys — the winners — into
    * tie groups, while in log space the key lives in a tight O(±50)
    * band where 9-decimal rounding both absorbs last-ulp ln noise
    * between engines (~1e-15 absolute) and keeps the hash's full
    * entropy; `key` breaks remaining ties. */
  def weightedSample(df: DataFrame, key: Column, weight: Column, k: Int,
                     seed: String, keyCol: String = "es_key",
                     roundTo: Int = 9): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val h = seededHash(seed, key)
    val u = (h.cast("double") + 0.5) / graft.functions.GraftFunctions.HashMod.toDouble
    // weights must be strictly positive, enforced IN-PLAN and loudly:
    // -log(u)/0.0 is NULL under non-ANSI division and NULLs sort
    // FIRST ascending — a zero-weight row would silently take rank 1
    // of every sample, inverting the P ∝ w contract.
    val w = weight.cast("double")
    // null keys hash to NULL and NULLS sort FIRST — the same rank-1
    // inversion as zero weights; the module contract drops them
    df.filter(key.isNotNull)
      .withColumn(keyCol,
        when(w > 0.0, r(log(-log(u)) - log(w), roundTo))
          .otherwise(raise_error(concat(
            lit("Sampling.weightedSample: weight must be strictly positive, got "),
            w.cast("string"), lit(" for key "), key.cast("string")))))
      .orderBy(col(keyCol), key)
      .limit(k)
  }

  /** Epoch-seeded deterministic global shuffle + sharding — the
    * "shuffle the corpus before training" step, reproducibly: each row
    * gets a shard (`hash mod numShards`) and a dense within-shard
    * position from the portable hash of (epochSeed, key), so the full
    * permutation depends ONLY on (key, epochSeed). Re-running, adding
    * executors, or switching engines reproduces byte-identical shard
    * files; a new epoch seed is a fresh independent permutation with
    * zero data movement decisions made by the engine. `orderBy(rand())`
    * has none of these properties (and a global sort besides).
    *
    * Plan shape: a pure per-row projection, then ONE exchange on the
    * shard key feeding a per-shard sort for `row_number` — no global
    * sort, no driver state. The hash is uniform, so shards are
    * balanced by construction (no skew salting needed). At 100 TB
    * pick `numShards` ≈ the target output-file count (typically
    * thousands), which also sets the reduce-side parallelism; writing
    * `partitionBy(shardCol)` then lays each shard out as one file in
    * within-shard order. */
  def epochShuffle(df: DataFrame, key: Column, epochSeed: String,
                   numShards: Int, shardCol: String = "shard",
                   posCol: String = "shard_pos"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(numShards > 0, s"numShards must be positive: $numShards")
    // hash ties (distinct keys, same hash) broken by the key itself:
    // the within-shard order is total, so positions are deterministic.
    // Null keys would all land in a NULL shard outside the numShards
    // layout with a non-total (NULL, NULL) order — module contract:
    // drop
    val w = Window.partitionBy(col(shardCol)).orderBy(col("_h"), key)
    df.filter(key.isNotNull)
      .withColumn("_h",
        seededHash(epochSeed, key))
      .withColumn(shardCol, pmod(col("_h"), lit(numShards.toLong)))
      .withColumn(posCol, row_number().over(w).cast("long"))
      .drop("_h")
  }

  /** Training-mix construction: allocate a total row budget across
    * strata by target share (e.g. languages at 50/30/20), fill each
    * stratum's quota with its best rows by `rankBy` — the final
    * assembly step of a curation pipeline, run after dedup and quality
    * gating. Strata absent from `shares` are dropped; a stratum with
    * fewer rows than its quota underfills (no silent backfill from
    * other strata — a mix that can't hit its targets should be visible,
    * not papered over).
    *
    * Plan shape: one rank window per stratum (the shuffle carries the
    * stratum key; skew bounded by the largest stratum — salt upstream
    * if one language dominates) and a per-row quota lookup folded into
    * a literal CASE. No joins, no driver state. */
  /** Temperature-scaled mixing shares — the multilingual/multi-source
    * α-sampling rule (share_i ∝ n_i^α): α = 1 reproduces natural
    * proportions, α → 0 flattens toward uniform, the 0.3–0.7 band is
    * the standard compromise that keeps low-resource sources from
    * drowning ([[trainingMix]]/[[trainingMixTokens]] CONSUME shares;
    * this op derives them from the corpus itself). Also emits the
    * per-source sampling rate `share·target/n` (capped at 1 — an
    * upweighted small source repeats epochs instead of minting rows
    * here). Float surface: `pow` and the Σw normalizer, both masked
    * by r(6) under the house ln/pow precedent; counts stay integer.
    *
    * Shape: one map-side count aggregation to |sources| rows; the
    * normalizer is a 1-row broadcast. NULL strata drop. */
  def temperatureShares(df: DataFrame, stratum: Column, alpha: Double,
                        targetDocs: Long): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0,
      s"alpha must be in (0, 1]: $alpha")
    require(targetDocs > 0, s"targetDocs must be positive: $targetDocs")
    val counts = OpUtils.barrier(
      df.filter(stratum.isNotNull)
        .groupBy(stratum.as("stratum"))
        .agg(count(lit(1)).as("n_docs")))
    val wsum = counts
      .agg(sum(pow(col("n_docs").cast("double"), alpha)).as("_wsum"))
    val w = pow(col("n_docs").cast("double"), alpha) / col("_wsum")
    counts.crossJoin(broadcast(wsum))
      .select(col("stratum"), col("n_docs"),
        r(w, 6).as("share"),
        r(least(lit(1.0),
          w * targetDocs / col("n_docs").cast("double")), 6)
          .as("sample_rate"))
  }

  def trainingMix(df: DataFrame, stratum: Column, rankBy: Column,
                  tieBreak: Column, budget: Long,
                  shares: Seq[(String, Double)],
                  rankCol: String = "mix_rank"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budget > 0, s"budget must be positive: $budget")
    require(shares.nonEmpty && shares.forall(_._2 >= 0.0),
      s"shares must be non-negative: $shares")
    require(shares.map(_._2).sum <= 1.0 + 1e-9,
      s"shares must sum to at most 1: $shares")
    val quota = shares.foldLeft(lit(0L)) { case (acc, (s, p)) =>
      when(stratum === s, lit(math.round(p * budget))).otherwise(acc)
    }
    val w = Window.partitionBy(stratum).orderBy(rankBy.desc, tieBreak)
    df.withColumn(rankCol, row_number().over(w))
      .filter(col(rankCol) <= quota)
  }

  /** Token-budget training mix: like [[trainingMix]] but the budget and
    * per-stratum quotas are measured in TOKENS (`weight`), not rows —
    * how a pretraining mix is actually specified ("500 B tokens, 50%
    * web / 30% code / 20% reference"). Each stratum fills best-first
    * by `rankBy` until the NEXT document would overflow its token
    * quota: a document is kept iff its inclusive running token sum
    * fits, so the mix underruns rather than overruns (documents don't
    * split). Unlisted strata drop; a stratum without enough tokens
    * underfills honestly.
    *
    * Plan shape: ONE rank-ordered running-sum window per stratum and a
    * literal CASE quota — same single-exchange shape as
    * [[trainingMix]], no joins, no driver state. */
  def trainingMixTokens(df: DataFrame, stratum: Column, weight: Column,
                        rankBy: Column, tieBreak: Column, budgetTokens: Long,
                        shares: Seq[(String, Double)],
                        cumCol: String = "cum_tokens"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budgetTokens > 0, s"budgetTokens must be positive: $budgetTokens")
    require(shares.nonEmpty && shares.forall(_._2 >= 0.0),
      s"shares must be non-negative: $shares")
    require(shares.map(_._2).sum <= 1.0 + 1e-9,
      s"shares must sum to at most 1: $shares")
    val quota = shares.foldLeft(lit(0L)) { case (acc, (s, p)) =>
      when(stratum === s, lit(math.round(p * budgetTokens))).otherwise(acc)
    }
    val w = Window.partitionBy(stratum).orderBy(rankBy.desc, tieBreak)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // token counts must be positive, enforced IN-PLAN like
    // weightedSample's weight guard: a negative count makes the
    // running sum non-monotone, so rows past the quota point re-enter
    // the mix and the stratum silently OVERRUNS its budget. A NULL
    // count is data dirt, not a contract violation (null text upstream
    // tokenizes to NULL): such a document carries no tokens, cannot
    // fill a token budget, and drops from the mix BEFORE the window so
    // it neither poisons the running sum nor shifts other rows' ranks.
    val wTok = weight.cast("long")
    val guarded = when(wTok > 0L, wTok).otherwise(raise_error(concat(
      lit("Sampling.trainingMixTokens: token weight must be strictly " +
        "positive, got "), weight.cast("string"))).cast("long"))
    df.filter(weight.isNotNull)
      .withColumn(cumCol, sum(guarded).over(w))
      .filter(col(cumCol) <= quota)
  }

  /** Leakage-safe train/val/test split: near-duplicate documents must
    * land on the SAME side of a split, or evaluation scores are
    * contaminated by memorized twins of the test set — the standard
    * failure [[seededSplit]] alone cannot prevent (it hashes each id
    * independently). Here the near-dup `pairs` graph collapses to
    * connected components ([[Dedup.connectedComponents]]) and the
    * WHOLE component is assigned by hashing its canonical
    * representative (the component's minimum id), so every member —
    * and every future member that joins the component under the same
    * pairs — inherits one split.
    *
    * Plan shape at 100 TB: components run on the PAIR set (candidate-
    * sized, never the corpus); the corpus touches one left equality
    * join against the component table (vertex-sized — AQE broadcasts
    * it when small) and a pure projection for the hash assignment.
    * Rows in no pair keep themselves as representative — zero-pair
    * corpora degrade to exactly [[seededSplit]].
    *
    * Returns `df`'s columns + `cluster_id` (the representative) +
    * `splitCol`. */
  def leakageSafeSplit(df: DataFrame, key: Column, pairs: DataFrame,
                       idA: String, idB: String, seed: String,
                       weights: Seq[(String, Double)],
                       splitCol: String = "split"): DataFrame = {
    // connectedComponents casts ids to long; a non-numeric string id
    // becomes NULL there, the representative join then never matches,
    // and the "leakage-safe" split silently degrades to a plain per-id
    // split — near-dup twins straddling train/test, the exact
    // contamination this function exists to prevent. Refuse loudly.
    Seq(pairs.schema(idA).dataType, pairs.schema(idB).dataType).foreach { dt =>
      // integral only — the shared OpUtils.isIntegralId law (a
      // fractional id would truncate and merge unrelated vertices);
      // refusing HERE names the split, not the component internals
      require(OpUtils.isIntegralId(dt),
        s"leakageSafeSplit: pair ids must be integral (byte/short/int/long), " +
          s"got ${dt.simpleString} — a non-numeric id nulls out in the " +
          "component join (split silently stops being leakage-safe) and a " +
          "fractional id truncates (unrelated docs merged into one component)")
    }
    val comp = Dedup.connectedComponents(pairs, idA, idB)
      .select(col("id").as("_leak_id"), col("cluster_id").as("_leak_rep"))
    val withRep = df.join(comp, key === col("_leak_id"), "left")
      .withColumn("cluster_id", coalesce(col("_leak_rep"), key))
      .drop("_leak_id", "_leak_rep")
    seededSplit(withRep, col("cluster_id"), seed, weights, splitCol)
  }

  /** Per-stratum seeded uniform sample of exactly `n` rows (strata
    * smaller than `n` keep everything): rank each stratum's rows by
    * the portable hash of (seed, key) — a reproducible uniform draw —
    * and keep the first `n`. The cluster-balanced / source-balanced
    * subset move: equal representation per stratum regardless of how
    * skewed the strata sizes are, reproducible across engines and
    * reruns (contrast `sampleBy`, which is none of that).
    *
    * Plan shape: ONE rank window per stratum (shuffle carries the
    * stratum key; skew bounded by the largest stratum) and a pure
    * hash projection — no joins, no driver state. Ranks are total
    * (hash value, then key), so the cut is engine-stable.
    *
    * The rank key is the RAW [[polyHash]] (domain ~10^9), not the
    * mod-[[Denom]] bucket: a stratum much larger than [[Denom]] rows
    * would collide ~n/Denom keys per bucket and the key tie-break
    * would bias the kept prefix toward low ids — exactly the at-scale
    * regime this sampler targets. Hash collisions at 10^9 granularity
    * are vanishingly rare, so the draw stays uniform. */
  /** Cross-stratum quantile normalization — map every score onto the
    * POOLED score distribution at its in-stratum percentile:
    * `normalized = Q_pooled((rank_s − 1)/(n_s − 1))` with linear
    * interpolation between pooled order statistics. The score
    * calibrator heterogeneous quality scores need before one global
    * threshold can mix them — each stratum's own distribution
    * (shifted, stretched, however shaped) maps onto the common scale,
    * so "keep normalized ≥ x" cuts every stratum at the same RELATIVE
    * quality ([[graft.operators.TextAnalysis.quantileGate]] keeps a
    * per-stratum fraction; this produces the comparable SCORE).
    *
    * Determinism: in-stratum p uses min-rank over the raw score (ties
    * share p — the classic convention) and an explicit
    * (rank−1)/(n−1) with a NULL law for singleton strata (engine
    * `percent_rank` conventions disagree at n = 1); the pooled lookup
    * joins on the INTEGER index floor(p·(N−1)) — tied pooled values
    * make any tie order equivalent (equal values interpolate to
    * themselves); the interpolation q_lo + frac·(q_hi − q_lo) is one
    * fixed IEEE sequence, r(6)-masked at the query layer.
    *
    * Scale: exact global order statistics are a SORT problem — the
    * pooled row_number window is the honest cost (the q126 quantile
    * sketch is the 100 TB approximation path). The input is barriered
    * (three consumers: ranks, the pooled index, N). */
  def quantileNormalize(df: DataFrame, id: Column, stratum: Column,
                        score: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = OpUtils.barrier(
      df.filter(score.isNotNull)
        .select(id.as("_id"), stratum.as("_g"),
          score.cast("double").as("_x")))
    val pooled = base.select(col("_x").as("_q"))
      .withColumn("_idx", row_number().over(Window.orderBy(col("_q"))) - 1)
    val n = base.agg(count(lit(1)).as("_n"))
    val p = (rank().over(Window.partitionBy(col("_g")).orderBy(col("_x")))
      - 1).cast("double") /
      nullif((count(lit(1)).over(Window.partitionBy(col("_g"))) - 1)
        .cast("double"), lit(0.0))
    val ranked = base.withColumn("_p", p)
      .crossJoin(broadcast(n))
      .withColumn("_pos", col("_p") * (col("_n") - 1).cast("double"))
      .withColumn("_lo", floor(col("_pos")).cast("long"))
      .withColumn("_hi", least(col("_lo") + 1, col("_n") - 1))
      .withColumn("_frac", col("_pos") - col("_lo").cast("double"))
    ranked
      .join(pooled.select(col("_idx").as("_lo"), col("_q").as("_qlo")),
        Seq("_lo"), "left")
      .join(pooled.select(col("_idx").as("_hi"), col("_q").as("_qhi")),
        Seq("_hi"), "left")
      .select(col("_id").as("id"), col("_g").as("stratum"),
        col("_x").as("score"), col("_p").as("pct"),
        (col("_qlo") + col("_frac") * (col("_qhi") - col("_qlo")))
          .as("normalized"))
  }

  /** The SCALE PATH of [[quantileNormalize]] — the twin that operator's
    * contract names instead of a global sort: scores quantize to a
    * FIXED integer tick grid (`floor(x·scale + 0.5)`,
    * saturation-guarded via [[graft.functions.GraftFunctions.floorSafe]]
    * so extreme magnitudes keep distinct ticks instead of clamping
    * into one), the pooled CDF
    * and every per-stratum rank derive from BOUNDED tick-cell tables,
    * and the inverse-CDF lookup is one binned range join
    * ([[RangeJoin.pointInInterval]]) of each row's pooled index against
    * the cells' cumulative ranges — no row-cardinality window
    * anywhere. Exact ON THE GRID: for scores already multiples of
    * 1/scale (integer counts at scale = 1, cent amounts at 100) the
    * output EQUALS [[quantileNormalize]] row for row — same min-rank
    * percentile (a tick cell's cum-below IS the rank() − 1 of its
    * members), same consecutive-order-statistic interpolation (within
    * a cell both bracketing positions hold the tick's value; across a
    * boundary the lead tick supplies the upper value) — which is how
    * q213's oracle can be the exact DEFINITION, no grid mechanics.
    * Off-grid scores lose only sub-tick resolution (ties at tick
    * granularity) — the stated trade.
    *
    * Shape at 100 TB: two map-side-combining cell aggregations
    * (strata × ticks; pooled ticks — the windows ordering them run
    * over the BOUNDED cell tables, never the corpus), one equality
    * join row → (stratum, tick) cell, one broadcast 1-row N, one
    * binned range join against the bounded pooled cells. A hot tick
    * holding h rows spans h/indexBinWidth bins — size `indexBinWidth`
    * so the hottest expected tick stays under
    * [[RangeJoin.MaxBinsPerInterval]] (the loud guard names the fix).
    * Laws as the exact twin: NULL scores drop; a singleton stratum
    * has no defined percentile — NULL pct/normalized, row kept. */
  def quantileNormalizeBinned(df: DataFrame, id: Column, stratum: Column,
                              score: Column, scale: Long = 100L,
                              indexBinWidth: Double = 4096.0): DataFrame = {
    require(scale >= 1L, s"scale must be >= 1: $scale")
    val base = OpUtils.barrier(
      tickedRows(df, id, stratum, score, scale))
    normalizeAgainstCells(base,
      base.groupBy(col("_g"), col("_t")).agg(count(lit(1)).as("_n")),
      scale, indexBinWidth)
  }

  /** The (id, stratum, score, tick) projection both the batch operator
    * and the streaming reader score through — ONE tick-quantization
    * site. Saturation-safe tick: bare floor(·).cast(long) would clamp
    * |x·scale| ≥ ~9.2e18 to ONE saturated tick, silently merging
    * extreme scores and breaking the equals-exact-on-grid contract
    * (the r() bug class); past 2^53 the double IS its own tick, so the
    * grid degrades to double granularity there instead of collapsing. */
  private[graft] def tickedRows(df: DataFrame, id: Column, stratum: Column,
                                score: Column, scale: Long): DataFrame =
    df.filter(score.isNotNull)
      .select(id.as("_id"), stratum.as("_g"),
        score.cast("double").as("_x"))
      .withColumn("_t", floorSafe(col("_x") * scale + lit(0.5)))

  /** [[quantileNormalizeBinned]]'s derivation over an ALREADY-built
    * (stratum, tick, count) cell table — shared with the incremental
    * twin ([[graft.streaming.StreamingQuantile.normalize]] scores rows
    * against its persisted running cells through this same core, the
    * StreamingGraph/StreamingDrift FromCells pattern). `rows` must be
    * the [[tickedRows]] projection and MATERIALIZATION-BARRIERED by
    * the caller (two consumers below: the rank join and the singleton
    * branch); `gCells` is (_g, _t, _n) with one row per (stratum,
    * tick). The pooled CDF and N derive FROM the cells (sums of exact
    * longs — identical values to a direct corpus pass, one corpus
    * aggregation cheaper). Rows whose (stratum, tick) has no cell are
    * not rankable and DROP — the batch path never produces any (its
    * cells come from the same rows); a streaming caller scoring
    * out-of-corpus rows accepts that contract. */
  private[graft] def normalizeAgainstCells(rows: DataFrame, gCells: DataFrame,
                                           scale: Long,
                                           indexBinWidth: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // bounded cell table, THREE consumers (rank cum-sums, pooled CDF,
    // N) — barrier it (the q206 multiple-consumer lesson)
    val cellsB = OpUtils.barrier(gCells)
    val wg = Window.partitionBy(col("_g")).orderBy(col("_t"))
    val gCum = OpUtils.barrier(
      cellsB
        .withColumn("_below", coalesce(sum(col("_n")).over(
          wg.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("_ng",
          sum(col("_n")).over(Window.partitionBy(col("_g"))))
        .drop("_n"))
    // bounded pooled tick cells: [cum, cum + n) index ranges + the
    // lead tick (the upper interpolation value at a cell boundary);
    // barriered — the range join's bin explode is its only consumer
    // but the window chain above it must not replan per AQE stage
    val wp = Window.orderBy(col("_t"))
    val cells = OpUtils.barrier(
      cellsB.groupBy(col("_t")).agg(sum(col("_n")).as("_cn"))
        .withColumn("_ccum", coalesce(sum(col("_cn")).over(
          wp.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("_cnext", lead(col("_t"), 1).over(wp))
        .withColumnRenamed("_t", "_ct"))
    val n = cellsB.agg(sum(col("_n")).as("_N"))
    val base = rows
    // singleton strata have no defined percentile (the exact twin's
    // law); their stratum LIST is bounded and broadcastable, so the
    // two output branches split on it WITHOUT duplicating the
    // corpus-scale rank chain (which would otherwise be evaluated
    // once per union side)
    // NULL-SAFE stratum equality: the exact twin groups NULL strata
    // via window partitions (NULLs form a group); a plain equality
    // join would silently DROP the whole NULL-stratum population —
    // the dirty corpus's null-source docs caught exactly that
    val multiStrata = gCum.filter(col("_ng") > 1)
      .withColumnRenamed("_g", "_cg").withColumnRenamed("_t", "_ctk")
    val ranked = base
      .join(multiStrata,
        col("_g") <=> col("_cg") && col("_t") === col("_ctk"))
      .drop("_cg", "_ctk")
      .crossJoin(broadcast(n))
      .withColumn("_p", col("_below").cast("double") /
        (col("_ng") - 1).cast("double"))
      .withColumn("_pos", col("_p") * (col("_N") - 1).cast("double"))
      .withColumn("_lo", floor(col("_pos")).cast("long"))
      .withColumn("_frac", col("_pos") - col("_lo").cast("double"))
    val hit = RangeJoin.pointInInterval(
      ranked, col("_lo").cast("double"),
      cells, col("_ccum").cast("double"),
      (col("_ccum") + col("_cn")).cast("double"), indexBinWidth)
    val vlo = col("_ct").cast("double") / scale.toDouble
    val vhi = when(col("_lo") + 1 < col("_ccum") + col("_cn"), col("_ct"))
      .otherwise(coalesce(col("_cnext"), col("_ct")))
      .cast("double") / scale.toDouble
    val scored = hit.select(col("_id").as("id"), col("_g").as("stratum"),
      col("_x").as("score"), col("_p").as("pct"),
      (vlo + col("_frac") * (vhi - vlo)).as("normalized"))
    val singleStrata = gCum.filter(col("_ng") === 1)
      .select(col("_g").as("_sg")).distinct()
    val singletons = base
      .join(broadcast(singleStrata), col("_g") <=> col("_sg"))
      .select(col("_id").as("id"), col("_g").as("stratum"),
        col("_x").as("score"),
        lit(null).cast("double").as("pct"),
        lit(null).cast("double").as("normalized"))
    scored.unionByName(singletons)
  }

  def stratumSample(df: DataFrame, stratum: Column, key: Column, n: Int,
                    seed: String, rankCol: String = "smp_rank"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(n > 0, s"n must be positive: $n")
    val w = Window.partitionBy(stratum)
      .orderBy(seededHash(seed, key), key)
    // null keys would rank 1..m of their stratum (NULLS FIRST) and
    // displace the uniform draw — module contract: drop
    df.filter(key.isNotNull)
      .withColumn(rankCol, row_number().over(w).cast("long"))
      .filter(col(rankCol) <= n)
  }
}
