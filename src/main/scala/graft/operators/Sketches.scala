package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._

/** Count-Min Sketch (Cormode & Muthukrishnan 2005) as a DataFrame —
  * the fixed-size frequency summary a 100 TB token pipeline keeps when
  * the exact per-key count table itself becomes the bottleneck
  * (`SURVEY.md` §2 D+ sketches; the point-query twin of q89's
  * HLL/quantile sketches).
  *
  * The sketch IS a DataFrame of at most depth × width cells
  * `(row_idx, bucket, cnt)` — no driver state, no custom aggregation
  * buffer. Cell coordinates come from the PORTABLE
  * [[graft.functions.GraftFunctions.polyHash]] pushed through `depth`
  * fixed affine mixers mod [[P]] (the classic pairwise-independent
  * h_i(x) = (a_i·h(x) + b_i) mod p mod w family), so a SQL oracle
  * reproduces every cell and every estimate bit for bit.
  *
  * Guarantees (standard CMS): estimates NEVER undercount, and with
  * probability ≥ 1 − (1/2)^depth the overcount is ≤ (e/width)·N where
  * N is the total stream mass — both surfaced as in-plan gate columns
  * by q123 so a silently degraded sketch flips a hash-checked row.
  *
  * Scale shape: [[cmsFromCounts]] builds the sketch FROM the per-key
  * count table with one aggregation whose output is ≤ depth × width
  * rows (map-side combinable; the shuffle carries cells, not keys),
  * and sketches of shards merge by cell-wise sum — the reason CMS
  * exists. [[cmsEstimate]] is a broadcast join of the (tiny) sketch
  * against the query keys, then a min over each key's `depth` cells. */
object Sketches {

  /** Mixing modulus — the same prime as [[GraftFunctions.HashMod]],
    * so every intermediate stays far from Long overflow. */
  val P: Long = 1000000007L

  /** Fixed affine row mixers (a_i, b_i) for up to depth 5:
    * h_i(x) = ((a_i · polyHash(x) + b_i) mod [[P]]) mod width.
    * Constants are small odd primes; a_i·h < 2^36, no overflow. */
  val Mixers: Seq[(Long, Long)] =
    Seq((31L, 7L), (37L, 11L), (41L, 13L), (43L, 17L), (47L, 19L))

  private def cell(h: Column, i: Int, width: Int): Column = {
    val (a, b) = Mixers(i)
    struct(lit(i).as("row_idx"),
      pmod(pmod(h * a + b, lit(P)), lit(width.toLong)).as("bucket"))
  }

  private def requireShape(depth: Int, width: Int): Unit = {
    require(depth >= 1 && depth <= Mixers.length,
      s"depth must be in [1, ${Mixers.length}]: $depth")
    require(width > 0, s"width must be positive: $width")
  }

  /** Build the sketch from a per-key count table (key `item`, mass
    * `cnt`): each key deposits its whole count into one bucket per
    * row. Feeding aggregated counts instead of raw occurrences gives
    * the IDENTICAL sketch (addition is associative) for one corpus
    * scan less. Returns ≤ depth × width rows (row_idx, bucket, cnt) —
    * cells no key hashed to are absent, which [[cmsEstimate]] reads
    * as zero. Sketches built with the same shape merge by
    * unionByName → groupBy(row_idx, bucket).sum(cnt).
    *
    * NULL items are dropped at build: polyHash(NULL) is NULL, so their
    * mass would land in NULL-bucket cells no equality probe can ever
    * reach — stored-but-unqueryable mass that flips the "never
    * undercounts" guarantee for the one key that deposited it. With
    * nulls excluded, an estimate of 0 for a null probe is CORRECT
    * (the sketch holds no such observations). */
  def cmsFromCounts(counts: DataFrame, item: Column, cnt: Column,
                    width: Int, depth: Int = 3): DataFrame = {
    requireShape(depth, width)
    counts.filter(item.isNotNull)
      .select(polyHash(item).as("_h"), cnt.as("_c"))
      .select(explode(array((0 until depth).map(i =>
        cell(col("_h"), i, width)): _*)).as("_cell"), col("_c"))
      .groupBy(col("_cell.row_idx").as("row_idx"),
        col("_cell.bucket").as("bucket"))
      .agg(sum(col("_c")).as("cnt"))
  }

  /** Bottom-k (KMV) distinct sketch per group: the k SMALLEST distinct
    * hash values of each group's element set — the second mergeable
    * sketch of this family (Bar-Yossef et al. 2002). Per-group state
    * is exactly min(k, |set|) longs however large the group; sketches
    * merge by concat → re-bottom-k (the k smallest of a union are
    * among the union of the k smallest). Unlike an affine-mixed
    * MinHash signature — whose lanes share one base hash and are
    * heavily correlated (measured: ×4-7 the theoretical Jaccard
    * error on the testdata corpus) — KMV needs only the ONE portable
    * hash and delivers the textbook √(J(1−J)/k) accuracy.
    *
    * Plan shape: one distinct over (group, hash), then the per-group
    * ascending `row_number() <= k` cut on the hash itself (a Partial
    * `WindowGroupLimit` below the exchange: the shuffle carries
    * ≤ partitions × groups × k candidates, never the set), then a
    * groups-sized list aggregation. Any integral hash width works,
    * full-range 64-bit included. Returns (grp, hs) with `hs` ascending.
    * A NULL hash means a null-keyed input row and fails in-plan. */
  def bottomK(df: DataFrame, group: Column, hash: Column, k: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("h"))
    df.select(group.as("grp"), hash.as("h")).distinct()
      .filter(coalesce(assert_true(col("h").isNotNull,
        lit("bottomK: hash is NULL — a null-keyed input row (fix the caller)")),
        lit(true)))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
      .groupBy(col("grp")).agg(array_sort(collect_list(col("h"))).as("hs"))
  }

  /** Pairwise estimated Jaccard from bottom-k lists: for each ordered
    * pair, U = the k smallest of the two lists' union is a uniform
    * sample of A ∪ B, and the fraction of U present in BOTH lists
    * estimates |A∩B|/|A∪B| (denominator |U|, so pairs whose union
    * fits inside k are EXACT). Every step is an array expression
    * over two ≤ k lists; the pair join is broadcast-sized (|groups|²
    * rows of k longs) however large the corpus was. Returns
    * (grp_a, grp_b, est_jaccard) for grp_a < grp_b. */
  def kmvJaccard(lists: DataFrame, k: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    lists.alias("a")
      .join(broadcast(lists.alias("b")), col("a.grp") < col("b.grp"))
      .select(col("a.grp").as("grp_a"), col("b.grp").as("grp_b"),
        col("a.hs").as("_ha"), col("b.hs").as("_hb"))
      .withColumn("_u", slice(array_sort(array_union(col("_ha"), col("_hb"))), 1, k))
      .withColumn("est_jaccard",
        size(array_intersect(col("_u"),
          array_intersect(col("_ha"), col("_hb")))).cast("double")
          / size(col("_u")))
      .select(col("grp_a"), col("grp_b"), col("est_jaccard"))
  }

  /** Bottom-k uniform SAMPLE sketch — the third mergeable summary of
    * this family (frequency = CMS, distinct = KMV, and this one:
    * the value DISTRIBUTION). Keeping the k rows whose seeded
    * portable hash is globally smallest is a uniform-without-
    * replacement draw of exactly min(k, N) rows that is (a)
    * deterministic across engines and layouts — the hash, not the
    * scan order, decides membership; (b) mergeable EXACTLY: the
    * bottom-k of a union is the bottom-k of the concatenated
    * per-shard bottom-ks, so 1000 executors each ship k rows and the
    * re-cut reproduces the whole-corpus sample bit for bit; (c)
    * k-bounded however large the corpus.
    *
    * Plan shape: one projection computes (hash, key, value), then
    * `orderBy(h, key).limit(k)` compiles to `TakeOrderedAndProject`
    * — a bounded heap per partition, a k·partitions-row exchange,
    * never a global sort. The cut order is the TOTAL order
    * (h, k_str, v): hash ties (birthday collisions at the 10^9
    * domain) break on the key string, and key-string ties (callers
    * whose key is itself a hash) break on the value — so the sample
    * is deterministic even then. Returns (h, k_str, v) with `v` cast
    * to double. */
  def bottomKSample(df: DataFrame, key: Column, value: Column, k: Int,
                    seed: String): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    // NULL keys hash through a sentinel string: concat null-propagates,
    // a NULL h sorts FIRST ascending, and >= k null-key rows would
    // deterministically BE the whole "uniform" sample regardless of
    // seed. The sentinel gives them an ordinary uniform position (all
    // null-key rows share it; the (k_str, v) tie-break keeps the draw
    // deterministic).
    val kStr = coalesce(key.cast("string"), lit("\u0000null"))
    df.select(polyHash(concat(lit(seed), kStr)).as("h"),
        kStr.as("k_str"), value.cast("double").as("v"))
      .orderBy(col("h"), col("k_str"), col("v")).limit(k)
  }

  /** Nearest-rank quantile estimates from a bottom-k sample: for each
    * requested p, the element at rank max(1, ceil(p·n)) of the sorted
    * sample values — the classic nearest-rank definition, exact
    * integer selection so Spark and the oracle pick the identical
    * element. The whole sample collapses into ONE k-bounded row
    * (array_sort over ≤ k doubles — sketch-sized driver-safe state,
    * like the k-means centroid table), then each p is an array
    * lookup. Sampling theory (Dvoretzky–Kiefer–Wolfowitz): the rank
    * error of the p-quantile of a uniform n-sample is
    * O(√(ln(1/δ)/n)) — q126 surfaces that as an in-plan gate against
    * the EXACT ranks. Returns (p, est) ordered by p; an EMPTY sample
    * (e.g. a corpus-stats snapshot whose first batch had zero
    * documents) yields NULL estimates rather than an ANSI
    * invalid-array-index error. */
  def quantilesFromSample(sample: DataFrame, ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p > 0.0 && p <= 1.0),
      s"quantile fractions must be in (0, 1]: $ps")
    // _n counts NON-NULL values: collect_list drops nulls, so a
    // count(*) rank could exceed the sorted array's length and throw
    // INVALID_ARRAY_INDEX under ANSI (NULL-valued sample rows are not
    // observations)
    sample.agg(array_sort(collect_list(col("v"))).as("_vs"),
        count(col("v")).as("_n"))
      .select(explode(array(ps.map(lit): _*)).as("p"), col("_vs"), col("_n"))
      .select(col("p"), when(col("_n") > 0, element_at(col("_vs"),
        greatest(ceil(col("p") * col("_n")), lit(1L)).cast("int"))).as("est"))
      .orderBy(col("p"))
  }

  /** Per-GROUP quantile sketch: [[bottomKSample]]'s uniform draw run
    * inside every group at once, plus nearest-rank estimates. The
    * per-group cut is the `row_number() <= k` filter over the total
    * (hash, key, value) order, which plans as a Partial
    * `WindowGroupLimit` below the exchange — the shuffle carries k
    * rows per group and map partition — and the sample is
    * deterministic across engines and layouts (the hash decides
    * membership; ties break on key then value). Returns one
    * row per (group, p): `grp, p, est` — `est` is NULL only for a
    * group whose sampled values are ALL NULL (no observations; groups
    * themselves always exist, coming from their own rows). */
  def groupQuantileSketch(df: DataFrame, group: Column, key: Column,
                          value: Column, k: Int, seed: String,
                          ps: Seq[Double]): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    require(ps.nonEmpty && ps.forall(p => p > 0.0 && p <= 1.0),
      s"quantile fractions must be in (0, 1]: $ps")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("h"), col("k_str"), col("v"))
    // same null laws as bottomKSample / quantilesFromSample: null keys
    // hash through the sentinel (never nulls-first), ranks count
    // non-null VALUES only (collect_list drops them), and an all-null
    // group yields NULL est instead of an ANSI INVALID_ARRAY_INDEX
    val kStr = coalesce(key.cast("string"), lit("\u0000null"))
    val sampled = df
      .select(group.as("grp"),
        polyHash(concat(lit(seed), kStr)).as("h"),
        kStr.as("k_str"), value.cast("double").as("v"))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
    sampled.groupBy(col("grp"))
      .agg(array_sort(collect_list(col("v"))).as("_vs"),
        count(col("v")).as("_n"))
      .select(col("grp"), explode(array(ps.map(lit): _*)).as("p"),
        col("_vs"), col("_n"))
      .select(col("grp"), col("p"), when(col("_n") > 0, element_at(col("_vs"),
        greatest(ceil(col("p") * col("_n")), lit(1L)).cast("int"))).as("est"))
  }

  /** KMV distinct-count estimate from a [[bottomK]] list: the classic
    * (k−1)·M / h_(k) estimator (Bar-Yossef et al. 2002) — if the k-th
    * smallest of D uniform draws over [0, M) lands at h_(k), the draw
    * density says D ≈ (k−1)·M/h_(k), with relative error ~ 1/√k. A
    * group whose whole set fit inside the sketch (|hs| < k) is EXACT
    * — the sketch IS the set. Pure arithmetic over the final list
    * element; the IEEE op sequence is pinned (multiply first, one
    * divide) so the oracle reproduces it bit for bit. Appends
    * `estCol` to the (grp, hs) lists. */
  def kmvDistinct(lists: DataFrame, k: Int,
                  estCol: String = "est_distinct"): DataFrame = {
    require(k > 1, s"the (k-1)·M/h_k estimator needs k > 1: $k")
    lists.withColumn(estCol,
      when(size(col("hs")) < k, size(col("hs")).cast("double"))
        .otherwise(lit((k - 1).toDouble * HashMod.toDouble)
          / element_at(col("hs"), k).cast("double")))
  }

  /** Point-query the sketch: ONE output row per DISTINCT query row,
    * with `estCol` = min over the key's `depth` cells (an absent cell
    * counts as zero mass). Duplicate query rows collapse — the final
    * per-key aggregation groups on all query columns — so feed a
    * distinct key list, not a raw occurrence stream (estimating a
    * stream's own frequencies through its duplicates would double-
    * count anyway). The sketch side is broadcast — it is bounded by
    * depth × width rows no matter the corpus — so the probe costs no
    * shuffle beyond one per-key aggregation of `depth` rows.
    * `queries`' columns must not collide with the internal `_cms_*`
    * names. */
  def cmsEstimate(queries: DataFrame, cms: DataFrame, item: Column,
                  width: Int, depth: Int = 3,
                  estCol: String = "cms_est"): DataFrame = {
    requireShape(depth, width)
    val qCols = queries.columns.map(col).toSeq
    val sk = cms.select(col("row_idx").as("_cms_ri"),
      col("bucket").as("_cms_bk"), col("cnt").as("_cms_cnt"))
    queries.withColumn("_cms_h", polyHash(item))
      .withColumn("_cms_cell", explode(array((0 until depth).map(i =>
        cell(col("_cms_h"), i, width)): _*)))
      .join(broadcast(sk),
        col("_cms_cell.row_idx") === col("_cms_ri") &&
          col("_cms_cell.bucket") === col("_cms_bk"), "left")
      .groupBy(qCols: _*)
      .agg(min(coalesce(col("_cms_cnt"), lit(0L))).as(estCol))
  }

  // ---------------------------------------------------------------- //
  // HLL-style register sketch (Flajolet et al. 2007, HyperLogLog)     //
  // ---------------------------------------------------------------- //

  /** Geometric rank of an already-bucketed hash remainder: the 1-based
    * index of `w`'s LOWEST set bit (trailing-zero count + 1), the
    * portable stand-in for HLL's leading-zero rank — identically
    * geometric (P(rho = j) = 2^-j on a uniform domain) but expressible
    * as exact integer CASE arithmetic both engines evaluate bit for
    * bit, where a leading-zero count would need the domain's bit width
    * and a log2 whose libm rounding differs across engines. `w = 0`
    * (every bit zero) returns `maxRho`. */
  private[operators] def rho(w: Column, maxRho: Int = 31): Column =
    (1 to maxRho).foldRight(lit(maxRho): Column) { (i, els) =>
      when(pmod(w, lit(1L << i)) === lit(1L << (i - 1)), lit(i)).otherwise(els)
    }

  /** HLL register table: per group, m = 2^b registers, register j =
    * max geometric rank among items hashing to bucket j. The fourth
    * member of the mergeable-summary family (frequency = CMS,
    * distinct-by-sample = KMV, distribution = bottom-k sample; this
    * one: distinct in O(m) REGISTERS, constant-size where KMV keeps k
    * hash values) — and the only one whose merge is a plain cell-wise
    * MAX, so shard sketches combine with no re-cut.
    *
    * `hash` must be the family's portable [[GraftFunctions.polyHash]]
    * (in [0, [[P]])): the register split runs on the QUADRATIC mix
    * g = (h² + 3h + 7) mod [[P]] — bucket = g mod m, rank from
    * g div m — so the full estimator replays in the SQL oracle
    * (h² < 10¹⁸, no Long/BIGINT overflow on either engine). The mix
    * is load-bearing, not hygiene: polyHash values of structured
    * corpora (sequential ids, shared-prefix tokens) leave the low
    * bits CORRELATED with the high bits, and any affine post-map
    * keeps that correlation (both are linear in h) — measured on
    * 5000 sequential tokens, the unmixed split's per-bucket ranks
    * collapsed and the estimate undercounted 6×; the quadratic
    * decorrelates bucket from rank (≤ ±0.18 relative error across
    * five corpus shapes and 10²–10⁵ cardinalities, vs the 0.13 σ
    * theory). NULL hashes mean a null-keyed input row — refused
    * in-plan, same law as [[bottomK]]. Duplicate items collapse by
    * construction
    * (max is idempotent), so the input may be a raw occurrence
    * stream; at 100 TB the aggregation is map-side combinable and the
    * shuffle carries ≤ partitions × groups × m register rows.
    *
    * CARDINALITY CEILING ~10⁹: the rank is drawn from g div 2^b with
    * g < [[P]] ≈ 2^30, so only ~(30 − b) bits feed rho — registers
    * saturate around rho ≈ 30 − b and the raw estimator silently
    * CLAMPS near ~7·10⁸–10⁹ distinct per group (it stops growing, it
    * does not error). This is inherent to the shared mod-(10⁹+7)
    * polyHash domain, so [[kmvDistinct]] shares the same ceiling;
    * the measured ±0.18 envelope above covers 10²–10⁵ only. For
    * per-group cardinalities at genuine web-corpus scale (e.g. ALL
    * shingles of a 100 TB crawl in ONE group) the family hash would
    * need a 64-bit domain first; per-source/per-shard groupings, the
    * intended use, stay far under the ceiling.
    *
    * Returns (grp, bucket, r) — only OCCUPIED registers ([[hllEstimate]]
    * supplies the empty-register mass). */
  def hllRegisters(df: DataFrame, group: Column, hash: Column,
                   b: Int = 6): DataFrame = {
    require(b >= 2 && b <= 16, s"b (log2 registers) must be in [2,16]: $b")
    val m = 1L << b
    df.select(group.as("grp"), hash.as("h"))
      .filter(coalesce(assert_true(
        col("h").isNotNull && col("h") >= 0 && col("h") < lit(P),
        lit(s"hllRegisters: hash is NULL or outside [0, $P) — null " +
          "hashes mean a null-keyed input row (fix the caller); the " +
          "bucket/rank split assumes the portable polyHash domain")),
        lit(true)))
      .withColumn("_g",
        pmod(col("h") * col("h") + lit(3L) * col("h") + lit(7L), lit(P)))
      .groupBy(col("grp"), pmod(col("_g"), lit(m)).as("bucket"))
      .agg(max(rho(shiftright(col("_g"), b))).as("r"))
  }

  /** Merge register tables from shards/batches: cell-wise max. */
  def hllMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("grp"), col("bucket"))
      .agg(max(col("r")).as("r"))

  /** UNION registers for every ordered group pair (grp_a < grp_b) —
    * the register table of A ∪ B for each pair, from which
    * [[hllEstimate]] yields |A ∪ B| and inclusion–exclusion the
    * overlap. This is the move the register representation uniquely
    * enables: set UNION is a cell-wise max, so pairwise union
    * cardinalities of any number of shards come from the m-register
    * tables alone — no corpus rescans, no posting self-join.
    *
    * The OR-condition join is a broadcast nested loop over the PAIR
    * table — |groups|²/2 rows against |groups|·m register rows, both
    * group-count-bounded however large the corpus was (same size
    * argument as [[kmvJaccard]]'s pair join). */
  def hllPairUnion(regs: DataFrame): DataFrame = {
    val gs = regs.select(col("grp")).distinct()
    val pairs = gs.select(col("grp").as("grp_a"))
      .join(gs.select(col("grp").as("grp_b")), col("grp_a") < col("grp_b"))
    broadcast(pairs)
      .join(regs, col("grp") === col("grp_a") || col("grp") === col("grp_b"))
      .groupBy(col("grp_a"), col("grp_b"), col("bucket"))
      .agg(max(col("r")).as("r"))
  }

  /** Distinct-count estimate from a register table: the standard HLL
    * raw estimator α_m·m²/Σ2^(−r_j) (empty registers contribute 2⁰)
    * with the small-range linear-counting branch m·ln(m/V) when V > 0
    * empty registers remain and the raw estimate is ≤ 2.5m.
    *
    * Cross-engine determinism: every 2^(−r) term is an exact dyadic
    * double (1.0 / (1 << r)), their sum is exact (≤ m terms, all
    * within 53 bits of shared scale) and therefore ORDER-INDEPENDENT,
    * and α_m·m² is one Scala-computed literal the oracle embeds
    * verbatim (double toString round-trips). Only ln crosses libm —
    * callers quantize the output (the family's r(·, 2) discipline)
    * exactly as q98 does for PMI. Estimates SATURATE near ~10⁹
    * distinct per group — the register ranks carry only ~(30 − b)
    * usable bits (see the ceiling note on [[hllRegisters]]); do not
    * read estimates near that magnitude as exact. Returns
    * (`groupCols`*, `estCol`); `groupCols` generalizes to composite
    * keys (pair tables from [[hllPairUnion]]). */
  def hllEstimate(regs: DataFrame, b: Int = 6,
                  estCol: String = "est_distinct",
                  groupCols: Seq[String] = Seq("grp")): DataFrame = {
    require(b >= 2 && b <= 16, s"b (log2 registers) must be in [2,16]: $b")
    require(groupCols.nonEmpty, "hllEstimate needs at least one group column")
    estimateFromAgg(
      regs.groupBy(groupCols.map(col): _*).agg(
        occupiedSum.as("_s_occ"), count(lit(1)).cast("double").as("_nb")),
      b, estCol)
      .select((groupCols.map(col) :+ col(estCol)): _*)
  }

  /** Whole-table (single-set) estimate, TOTAL on empty register
    * tables: a sketch with zero occupied registers estimates exactly
    * 0.0 — that is the formula's own answer (zeros = m ⇒ the linear-
    * counting branch gives m·ln(m/m) = 0), but [[hllEstimate]]'s
    * groupBy yields ZERO rows for zero input rows, so callers reading
    * a guaranteed one-row frame (version readers over possibly-empty
    * snapshots) use this global-aggregate form instead. Returns ONE
    * row (`estCol`). */
  def hllEstimateGlobal(regs: DataFrame, b: Int = 6,
                        estCol: String = "est_distinct"): DataFrame = {
    require(b >= 2 && b <= 16, s"b (log2 registers) must be in [2,16]: $b")
    estimateFromAgg(
      regs.agg(coalesce(occupiedSum, lit(0.0)).as("_s_occ"),
        count(lit(1)).cast("double").as("_nb")),
      b, estCol)
      .select(col(estCol))
  }

  /** Σ 2^(−r) over the occupied registers — 1 << r via the SQL builtin
    * (the Scala shiftleft overload only takes literal bit counts);
    * division by an exact power of two is itself exact, so each term
    * is the dyadic 2^(−r) bit for bit. */
  private def occupiedSum: Column =
    sum(lit(1.0) /
      expr("cast(shiftleft(cast(1 as bigint), cast(r as int)) as double)"))

  /** The estimator tail shared by the grouped and global forms:
    * empty-register mass, raw α_m·m²/S, linear-counting branch. */
  private def estimateFromAgg(agg: DataFrame, b: Int,
                              estCol: String): DataFrame = {
    val m = (1L << b).toDouble
    val alphaM2 = 0.7213 / (1.0 + 1.079 / m) * m * m
    agg.withColumn("_zeros", lit(m) - col("_nb"))
      .withColumn("_raw", lit(alphaM2) / (col("_s_occ") + col("_zeros")))
      .withColumn(estCol,
        when(col("_zeros") > 0 && col("_raw") <= lit(2.5 * m),
          lit(m) * log(lit(m) / col("_zeros")))
          .otherwise(col("_raw")))
  }
}
