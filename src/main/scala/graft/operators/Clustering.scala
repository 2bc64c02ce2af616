package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._

/** Portable k-means clustering over an embedding column
  * (`SURVEY.md` §2 H2/H3 adjunct) — the semantic-clustering primitive
  * a corpus pipeline uses for topic bucketing, cluster-balanced
  * sampling, and IVF coarse-quantizer training
  * ([[Similarity.ivfTopK]] wraps spark.ml's KMeans; THIS one is the
  * engine-checkable twin whose every arithmetic step an external SQL
  * engine can reproduce bit-for-bit).
  *
  * Why it is exactly reproducible, when floating-point k-means
  * normally is not: a distributed centroid mean sums doubles in
  * whatever order the shuffle delivers, so two runs — let alone two
  * engines — disagree in the last ulps, and near-boundary points then
  * flip clusters. We remove the order dependence instead of rounding
  * it away: coordinates are quantized once to INTEGRAL doubles
  * (`floor(x·QuantScale + 0.5)`, exact in IEEE for
  * |x·QuantScale| < 2^53), so per-dimension member sums are integer-valued and therefore
  * associative-exact in ANY summation order, and each centroid
  * coordinate `sum/count` is a single exact division. Distances on
  * (integral member, rational centroid) pairs use one fixed op
  * sequence — the sequential-fold dot identity
  * `x·x − 2·x·c + c·c` — shared with the DuckDB oracle. Every engine
  * computes the identical assignment every iteration; ties break to
  * the lowest cluster id.
  *
  * Scale shape (better than spark.ml's loop): the final centroids are
  * k·dim driver numbers (the same tiny-metadata contract as
  * [[Similarity.ivfTopK]]'s cluster centers) carried as ONE nested
  * data literal ([[centroidLit]]), so the assignment step is a NARROW
  * per-row expression — one `graft_dot` distance per array element
  * and a (dist², cid) struct min ([[nearest]]), no join, no shuffle
  * of the corpus, ever. Per iteration the only exchange is the
  * map-side-combined (cluster, dim) partial-sum aggregation:
  * k·dim·partitions tiny rows. Empty clusters keep their previous
  * centroid (the standard Lloyd fallback, and the only deterministic
  * choice that needs no re-seeding pass).
  *
  * Seeding: the k rows with the smallest portable seeded hash
  * `polyHash(seed ∥ id ∥ "#graft-kmeans") mod 10000` (id tie-break)
  * — engine- and layout-independent, and cheap: one bounded top-k
  * pass, no distance computations (k-means++ would cost k corpus
  * passes; the fixed-iteration budget recovers the quality).
  *
  * Reference analogue: the reference clusters activity windows only
  * implicitly via its classifiers (`RecognizeActivity.java:49-77`);
  * corpus-scale clustering is a graft extension.
  */
object Clustering {

  /** Pairwise cosine similarity between per-group embedding CENTROIDS
    * (every ordered group pair grp_a < grp_b) — embedding-SPACE drift,
    * the geometric twin of the token-level JS matrix
    * ([[CorpusQuality.jsDivergence]]): "did source A's documents move
    * away from source B's in representation space?" Also the
    * label-coherence check for a labeled corpus (near-identical label
    * centroids mean the labels don't separate).
    *
    * Bit-portable by the same move as [[kMeans]]: components quantize
    * to LONGS (`floor(x·QuantScale + 0.5) cast long`), so the per-(group,
    * dim) sums and the dot/norm product sums are integer-exact in any
    * shuffle order — and past their range they fail LOUDLY (ANSI long
    * overflow) rather than silently drifting, the way double
    * accumulation would past 2^53. Cosine is scale-invariant so the
    * SUM vector stands in for the mean — no float op until the final
    * cosine, whose long→double conversions are deterministic, whose
    * sqrt is exactly rounded by IEEE, and whose one division is
    * deterministic. The whole matrix hash-replays in the SQL oracle
    * with zero float-order caveats (unlike the ln-based JS, which
    * leans on r(·)). Range: unit-scale embeddings at QuantScale=10⁴ give
    * |s| ≤ 10⁴·n_grp, so s·s sums stay under 2^63 while
    * dim·(10⁴·n_grp)² < 9.2e18 — ~10⁸ docs per group at dim 64; the
    * loud overflow marks the ceiling instead of a wrong matrix.
    *
    * Shape at 100 TB: one posexplode → (group, dim) integral-sum
    * aggregation with map-side combine (state = groups × dim), the
    * component table barriered (it feeds the norms and BOTH sides of
    * the dim-join), then a |groups|²/2 × dim pair join — all
    * group-bounded however large the corpus. NULL groups and NULL
    * vectors are excluded (each family's null law). Zero-mass groups
    * cannot occur (a group exists only via ≥ 1 non-null vector);
    * zero-NORM centroids score 0.0 against everything (the
    * [[GraftFunctions.cosine]] convention). Returns
    * (grp_a, grp_b, cos). */
  def groupCentroidCosine(df: DataFrame, group: Column, vec: Column): DataFrame = {
    val comp = OpUtils.barrier(
      df.filter(group.isNotNull && vec.isNotNull)
        .select(group.as("grp"), posexplode(vec).as(Seq("d", "x")))
        .groupBy(col("grp"), col("d"))
        .agg(sum(floor(col("x") * QuantScale + lit(0.5)).cast("long")).as("s")))
    val norms = comp.groupBy(col("grp"))
      .agg(sum(col("s") * col("s")).as("n2"))
    val a = comp.select(col("grp").as("grp_a"), col("d"), col("s").as("sa"))
    val b = comp.select(col("grp").as("grp_b"), col("d"), col("s").as("sb"))
    a.join(b, a("d") === b("d") && col("grp_a") < col("grp_b"))
      .groupBy(col("grp_a"), col("grp_b"))
      .agg(sum(col("sa") * col("sb")).as("dot"))
      .join(broadcast(norms.select(col("grp").as("grp_a"), col("n2").as("na"))),
        Seq("grp_a"))
      .join(broadcast(norms.select(col("grp").as("grp_b"), col("n2").as("nb"))),
        Seq("grp_b"))
      .select(col("grp_a"), col("grp_b"),
        when(col("na") === 0.0 || col("nb") === 0.0, lit(0.0))
          .otherwise(col("dot") / (sqrt(col("na")) * sqrt(col("nb"))))
          .as("cos"))
  }

  /** Per-label coherence margin — the centroid silhouette for a
    * labeled embedding corpus: for every point, own-centroid cosine
    * `a` vs the BEST other-label centroid cosine `b`; per label the
    * mean affinities, the mean margin a − b, and the fraction of
    * points a rival centroid claims (margin ≤ 0 — the confusable
    * mass). High margin = the label names a real region; a label
    * whose confused_frac is large is noise or a duplicate of its
    * rival — the label-QUALITY gate before training on weak labels
    * (q166's centroid matrix says which labels are close; this says
    * how many POINTS that closeness actually confuses).
    *
    * Determinism: centroids are the [[groupCentroidCosine]]-style
    * quantized-long SUM vectors (order-independent-exact; cosine is
    * scale-invariant so the sum stands in for the mean, and the own
    * centroid includes the point itself — the standard simplified
    * silhouette). The k·dim sums collect to the driver and travel as
    * ONE label-ordered centroid literal ([[centroidLit]], the
    * [[kMeans]] tiny-metadata contract), so scoring is a NARROW
    * per-row projection: one array of k `graft_dot` cosines, `a` its
    * element at the row's label position and `b` the `array_max` of
    * the others — no join, no corpus shuffle; the only exchanges are
    * the (label, dim) cell aggregation and the final label-bounded
    * groupBy. The margin SIGN test (≤ 0) compares two identically-
    * derived doubles — engine-exact; the means are r(6)-masked float
    * sums like every mean in the engine.
    *
    * Needs ≥ 2 labels (a margin against no rival is undefined —
    * loud). NULL labels/vectors drop (the family law); a RAGGED
    * vector is refused in-plan by [[GraftFunctions.vectorDimGuard]]
    * (the kMeans dim contract — without it the native dot
    * folds to the shorter length and each label's centroid dim would
    * be inferred from whatever that label happened to contain, a
    * silently wrong margin). NULL ELEMENTS inside a kept vector
    * contribute 0 to the centroid cell sums (coalesced — an all-NULL
    * (label, dim) cell is a 0 component, not a driver NPE), matching
    * the native dot/norm fold's null-as-0.0 law on the scoring side. */
  def labelCoherenceMargin(df: DataFrame, vec: Column, label: Column,
                           dim: Int): DataFrame = {
    val r = graft.functions.GraftFunctions.r _
    // barrier BEFORE the centroid collect (the lloydInput contract): the
    // collect pass and the scoring pass must read the SAME rows — an
    // unbarriered source re-read between the two jobs (refreshed
    // view, appended directory, non-deterministic sample) would score
    // points against stale centroids with no error. Also halves the
    // corpus reads.
    val base = OpUtils.barrier(
      df.filter(label.isNotNull && vec.isNotNull)
        .filter(graft.functions.GraftFunctions.vectorDimGuard(vec, dim))
        .select(label.cast("long").as("_l"), vec.as("_v")))
    val comps = base
      .select(col("_l"), posexplode(col("_v")).as(Seq("_d", "_x")))
      .groupBy(col("_l"), col("_d"))
      .agg(coalesce(
        sum(floor(col("_x") * QuantScale + lit(0.5)).cast("long")), lit(0L))
        .as("_s"))
      .collect()
    val cents: Map[Long, Seq[Double]] = comps.groupBy(_.getLong(0)).map {
      case (l, rows) =>
        val arr = new Array[Double](dim)
        rows.foreach(r0 => arr(r0.getInt(1)) = r0.getLong(2).toDouble)
        l -> arr.toSeq
    }
    require(cents.size >= 2,
      s"labelCoherenceMargin needs >= 2 labels, got ${cents.size}")
    val labels = cents.keys.toSeq.sorted
    // array_max skips NULLs and ranks NaN highest — the order of the
    // k−1-way greatest() it stands for and of the oracle's
    // max(CASE WHEN m <> l …)
    base
      .withColumn("_cos", transform(
        centroidLit(labels.zipWithIndex.map { case (l, i) => (i, cents(l)) }),
        c => graft.functions.GraftFunctions.cosine(col("_v"), c)))
      .withColumn("_pos",
        array_position(array(labels.map(lit): _*), col("_l")).cast("int"))
      .withColumn("_a", element_at(col("_cos"), col("_pos")))
      .withColumn("_b",
        array_max(filter(col("_cos"), (_, i) => i + 1 =!= col("_pos"))))
      .groupBy(col("_l"))
      .agg(count(lit(1)).as("n"),
        r(avg(col("_a")), 6).as("mean_own_cos"),
        r(avg(col("_b")), 6).as("mean_best_other"),
        r(avg(col("_a") - col("_b")), 6).as("mean_margin"),
        r(sum(when(col("_a") - col("_b") <= 0.0, 1L).otherwise(0L))
            .cast("double") / count(lit(1)).cast("double"), 6)
          .as("confused_frac"))
      .withColumnRenamed("_l", "label")
  }

  /** Lloyd's k-means, engine-portable (see class doc).
    *
    * @param df    input with `id` and `vec` (array&lt;float|double&gt;),
    *              quantized at [[QuantScale]]
    * @return one row per DISTINCT id — exact-duplicate (id, vector)
    *         replays collapse idempotently; same-id CONFLICTING
    *         vectors refuse loudly (see lloydInput): (id, cluster_id,
    *         dist2) where
    *         `cluster_id` ∈ [0, k) is the seed rank and `dist2` the
    *         quantized-space squared distance to the final centroid.
    *         With 0 &lt; n &lt; k input rows the seeding yields n
    *         clusters (the standard Lloyd degradation); an EMPTY
    *         input refuses loudly.
    */
  def kMeans(df: DataFrame, id: Column, vec: Column, k: Int, iters: Int,
             seed: String, dim: Int): DataFrame = {
    val xq = lloydInput(df, id, vec, slices = 1, sliceLen = dim, dedup = true)
    assigned(xq, lloydLoop(xq, k, iters, seed))
      .select(col("_id").as("id"), col("_cid").as("cluster_id"),
        col("_dist2").as("dist2"))
  }

  /** The Lloyd loop alone — final centroids (cid → mean vector in the
    * quantized space), no assignment pass. The building block for
    * operators that need the CODEBOOK rather than the clustering
    * ([[Similarity]]'s integer IVF coarse quantizer). Same seeding,
    * update rule, and empty-cluster fallback as [[kMeans]] — one
    * shared core, so the SQL oracles' unrolled replay covers both.
    * Input contract (the [[Similarity]] prepSides contract): ids
    * deduped upstream. */
  private[operators] def kMeansCentroids(
      df: DataFrame, id: Column, vec: Column, k: Int, iters: Int,
      seed: String, dim: Int): Seq[(Int, Seq[Double])] =
    lloydLoop(lloydInput(df, id, vec, slices = 1, sliceLen = dim,
      dedup = false), k, iters, seed)

  /** ALL `slices` per-slice Lloyd loops fused into ONE driver loop —
    * the PQ-codebook shape ([[Similarity]] trains m independent
    * codebooks over contiguous `sliceLen` sub-vectors of the same
    * corpus): instead of m sequential loops of (seed pass + `iters`
    * update passes) each, the slices ride ONE exploded (slice, subvec)
    * table, the seed pass is one `row_number ≤ k` cut per slice
    * (planned as a Partial/Final `WindowGroupLimit` pair), and
    * each update pass is one job whose (slice, cid, pos) integral sums
    * cover every codebook — 3 jobs total instead of 3·m (r14 bench:
    * the PQ family's dominant cost). Per-slice arithmetic is UNCHANGED:
    * the same quantization, the same portable seed key (the in-plan
    * seed string `seedPrefix ∥ slice` concatenates to exactly the
    * per-slice literal the sequential loop hashes), the same
    * integral-double sums (associative-exact in any order), the same
    * empty-cluster fallback — so the returned codebooks are
    * bit-identical to `slices` separate single-slice loops and the
    * unrolled per-subspace SQL oracles still replay them.
    *
    * Input contract (the [[Similarity]] prepSides contract): ids
    * deduped upstream; NULL ids and vectors of any length but
    * slices·sliceLen refuse loudly with the kMeans family messages.
    * Returns codebooks slice-ascending. */
  private[operators] def kMeansCentroidsFused(
      df: DataFrame, id: Column, vec: Column, k: Int, iters: Int,
      seedPrefix: String, slices: Int,
      sliceLen: Int): Seq[Seq[(Int, Seq[Double])]] = {
    require(slices >= 1 && sliceLen >= 1,
      s"need slices, sliceLen >= 1: $slices/$sliceLen")
    lloydCentsInPlan(
      lloydInput(df, id, vec, slices, sliceLen, dedup = false),
      concat(lit(seedPrefix), col("_s").cast("string"),
        col("_id").cast("string"), lit("#graft-kmeans")),
      k, iters, slices).toSeq
  }

  /** The one prep of every Lloyd input — (_id, _s, _xq, _xx), one row
    * per (id, slice), lazily checkpointed (consumed by the seed pass,
    * every update pass, and kMeans' final assignment; the checkpoint
    * stores the quantized rows so no consumer re-evaluates the
    * transform):
    *  - quantize the whole vector once ([[quantize]]; integral doubles
    *    make every downstream sum exact);
    *  - check each row ONCE, in-plan: a non-NULL id, a non-NULL
    *    vector, and exactly slices·sliceLen elements (a ragged vector
    *    would silently fold to its short length in the min-length dot
    *    and corrupt the assignment with no error). One assert with a
    *    case-selected message: separate filters could be reordered by
    *    the optimizer, and then a NULL row would die on the length
    *    assert with a misleading ragged-vector diagnosis (size(NULL)
    *    is NULL and assert_true(NULL) raises);
    *  - `dedup`: the exact-replica law ([[dedupKeyed]] on the quantized
    *    vector) — a replayed producer re-emitting the SAME (id, vector)
    *    row must not re-weight any centroid mean, and an id carrying
    *    CONFLICTING vectors refuses loudly. The groupBy is the
    *    parallelism spread. `dedup = false` is the caller's CONTRACT
    *    that ids are already distinct (Similarity's trained-index entry
    *    points dedup and spread both sides ONCE before any training —
    *    r14 bench: the PQ family paid this exchange 9× per query);
    *  - posexplode the slices with their self-dots ([[slicedRows]]). */
  private def lloydInput(df: DataFrame, id: Column, vec: Column,
                         slices: Int, sliceLen: Int,
                         dedup: Boolean): DataFrame = {
    val dim = slices * sliceLen
    val rowOk =
      when(col("_id").isNull || col("_xq").isNull, lit(false))
        .otherwise(size(col("_xq")) === dim)
    val rowMsg =
      when(col("_id").isNull,
        lit("Clustering.kMeans: NULL id — ids must be non-null (they " +
          "key the deterministic seeding and the output rows)"))
      .when(col("_xq").isNull,
        lit("Clustering.kMeans: NULL vector — filter or impute " +
          "upstream; a NULL row cannot be assigned to any cluster"))
      .otherwise(lit(s"Clustering.kMeans: vector length must equal dim=$dim"))
    val quant = df.select(id.as("_id"), quantize(vec).as("_xq"))
      .filter(coalesce(assert_true(rowOk, rowMsg), lit(true)))
    val rows =
      if (dedup) dedupKeyed(quant, "_id", "_xq", "Clustering.kMeans: duplicate id")
      else quant
    OpUtils.barrier(slicedRows(rows, slices, sliceLen))
  }

  /** The Lloyd loop as ONE Spark action (r15): seeds, every update
    * pass, and the empty-cluster fallback are chained lazily through
    * tiny (slice, cid, cvec) frames — the driver collects ONLY the
    * final centroids, instead of one blocking collect per pass with a
    * freshly planned assignment chain each time. Each intermediate
    * frame is pinned behind a lazy [[OpUtils.barrier]], so both of its
    * consumers (the broadcast assignment side and the fallback join's
    * left side) share ONE computed RDD — evaluation stays linear in
    * `iters`, never re-expanding the lineage. Those `iters + 1`
    * centroid checkpoints hold slices·k rows each and stay cached
    * until the driver garbage-collects their frames; the only
    * corpus-sized checkpoint is the input `xqm` itself.
    *
    * Per-slice arithmetic is UNCHANGED from the sequential loop:
    *  - seeds: per slice the k smallest (portable hash, id, vec-hash)
    *    rows, cid = rank − 1 — the exact key and order the collected
    *    zipWithIndex produced, and dense, so a cid-sorted codebook
    *    array has position = cid;
    *  - assignment: [[nearest]] over the row's OWN slice's codebook;
    *  - update: the same (slice, cid, pos) integral sums and exact
    *    per-coordinate division; empty clusters keep their previous
    *    centroid via the left-join coalesce.
    * The returned codebooks are therefore bit-identical to the
    * sequential collect-per-pass loop and the unrolled SQL oracles
    * still replay them. */
  private def lloydCentsInPlan(xqm: DataFrame, seedKey: Column, k: Int,
                               iters: Int, slices: Int)
      : Array[Seq[(Int, Seq[Double])]] = {
    require(k >= 1 && iters >= 1,
      s"need k >= 1 and iters >= 1, got k=$k iters=$iters")
    val seeds = xqm
      .withColumn("_h", pmod(polyHash(seedKey), lit(10000L)))
      .withColumn("_rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("_s"))
          .orderBy(col("_h"), col("_id"), xxhash64(col("_xq")))))
      .filter(col("_rn") <= k)
      .select(col("_s"), (col("_rn") - 1).cast("int").as("_cid"),
        col("_xq").as("_cvec"))
    var cents = OpUtils.barrier(seeds)
    for (_ <- 1 to iters) {
      val cb = cents.groupBy(col("_s"))
        .agg(transform(array_sort(collect_list(struct(col("_cid"), col("_cvec")))),
          t => t.getField("_cvec")).as("_cb"))
      val updated = xqm.join(broadcast(cb), Seq("_s"))
        .withColumn("_cid",
          nearest(col("_xq"), col("_xx"), col("_cb")).getField("_cid"))
        .select(col("_s"), col("_cid"), posexplode(col("_xq")).as(Seq("_pos", "_v")))
        .groupBy(col("_s"), col("_cid"), col("_pos"))
        .agg(sum(col("_v")).as("_sm"), count(lit(1)).as("_n"))
        .groupBy(col("_s"), col("_cid"))
        .agg(transform(array_sort(collect_list(struct(col("_pos"), col("_sm"), col("_n")))),
          t => t.getField("_sm") / t.getField("_n").cast("double")).as("_uvec"))
      cents = OpUtils.barrier(cents.join(updated, Seq("_s", "_cid"), "left")
        .select(col("_s"), col("_cid"),
          coalesce(col("_uvec"), col("_cvec")).as("_cvec")))
    }
    val rows = cents.collect()
    require(rows.nonEmpty,
      "Clustering.kMeans: input is empty (0 rows after upstream " +
        "filters) — nothing to cluster")
    Array.tabulate(slices) { s =>
      rows.filter(_.getInt(0) == s).sortBy(_.getInt(1))
        .map(r => (r.getInt(1), r.getSeq[Double](2))).toSeq
    }
  }

  /** The slices = 1 loop of [[kMeans]] and [[kMeansCentroids]]. Its
    * seed key has NO slice component — exactly the string the q108,
    * q116 and q209 oracles (and the IVF coarse-quantizer oracles)
    * hash. The vector-hash third seed-order key only disambiguates
    * DUPLICATE ids; with unique ids, the contract, it never engages. */
  private def lloydLoop(xq: DataFrame, k: Int, iters: Int,
                        seed: String): Seq[(Int, Seq[Double])] =
    lloydCentsInPlan(xq,
      concat(lit(seed), col("_id").cast("string"), lit("#graft-kmeans")),
      k, iters, slices = 1).head

  /** kMeans' final assignment: every row's [[nearest]] centroid from
    * the one centroid literal — (_id, _cid, _dist2). */
  private def assigned(xq: DataFrame,
                       cents: Seq[(Int, Seq[Double])]): DataFrame =
    xq.withColumn("_best", nearest(col("_xq"), col("_xx"), centroidLit(cents)))
      .select(col("_id"),
        col("_best").getField("_cid").as("_cid"),
        col("_best").getField("_d").as("_dist2"))

  // ---- the trained-centroid path shared with Similarity's PQ/IVF ---- //

  /** The one quantization factor of the trained family and of the
    * centroid cosines: coordinates become `floor(x·QuantScale + 0.5)`.
    * 10000 keeps 4 decimals of a unit-scale embedding, far inside the
    * 2^53 window, and is the factor the SQL oracles replay. One
    * constant, so no quantizer can be trained in one space and filed
    * or probed in another. */
  private[operators] val QuantScale = 10000.0

  /** The one vector quantizer of the trained family: every element to
    * the INTEGRAL double `floor(x·QuantScale + 0.5)` (exact for
    * |x·QuantScale| < 2^53 — see the class doc). */
  private[operators] def quantize(vec: Column): Column =
    transform(vec,
      x => floor(x.cast("double") * lit(QuantScale) + lit(0.5)).cast("double"))

  /** (_id, _s, _xq, _xx) from (_id, _xq): each quantized vector split
    * into `slices` contiguous `sliceLen` sub-vectors, one row per
    * slice, with the sub-vector's self-dot `_xx`. Behind the Lloyd
    * input's checkpoint `_xx` is stored once per row; over an
    * uncheckpointed side CollapseProject inlines it into the
    * [[candStructs]] lambda, once per centroid (same values). */
  private[operators] def slicedRows(rows: DataFrame, slices: Int,
                                    sliceLen: Int): DataFrame =
    rows.select(col("_id"),
        posexplode(array((0 until slices).map(s =>
          slice(col("_xq"), s * sliceLen + 1, sliceLen)): _*))
          .as(Seq("_s", "_xq")))
      .withColumn("_xx", dotProduct(col("_xq"), col("_xq")))

  /** The one way trained centroids enter a plan: a single `typedLit`
    * array of centroid vectors ordered by cid (cids are dense 0..k−1
    * by the seeding contract, so an element's position IS its cid —
    * [[candStructs]] reads it back that way). PQ nests one per slice.
    * One literal node carries the doubles as plain data: per-centroid
    * literal expression trees put k·dim numbers into the plan once per
    * use, and every pass re-plans and re-codegens them. */
  private[operators] def centroidLit(cents: Seq[(Int, Seq[Double])]): Column =
    typedLit(cents.sortBy(_._1).map(_._2))

  /** dist²(x, c) = x·x − 2·x·c + c·c, every dot the sequential
    * `graft_dot` fold — c·c through `graft_dot(c, c)` runs the same
    * multiply-add order as a driver-side `foldLeft(0.0)((a, v) =>
    * a + v*v)` and the SQL oracles' fold, so every distance is
    * bit-identical whether `c` arrives as a literal element or a
    * column. `xx` arrives precomputed ([[slicedRows]]). */
  private[operators] def distTo(x: Column, xx: Column, c: Column): Column =
    xx - lit(2.0) * dotProduct(x, c) + dotProduct(c, c)

  /** (_d, _cid) per centroid of a cid-ordered centroid array. */
  private[operators] def candStructs(x: Column, xx: Column,
                                     cents: Column): Column =
    transform(cents, (c, i) => struct(distTo(x, xx, c).as("_d"), i.as("_cid")))

  /** The one argmin: the lexicographic (dist², cid) struct min — ties
    * break to the lowest cid, and the order is total, so the pick is
    * independent of evaluation order. */
  private[operators] def nearest(x: Column, xx: Column, cents: Column): Column =
    array_min(candStructs(x, xx, cents))

  /** Exact-replica idempotence for the id-keyed trained family
    * ([[kMeans]] and the quantized [[Similarity]] operators — pqTopK /
    * ivfPqTopK / ivfTopKQuant / the recall tables / pqRerankTopK, whose
    * id-grouped sums and id-joins a duplicate row silently CORRUPTS: a
    * replayed member re-weights a centroid mean, a replayed candidate
    * doubles its ADC sum, a replayed ground-truth row fans out the
    * recall join): a replayed producer re-emitting the SAME (id,
    * vector) row collapses in ONE map-side-combinable hash
    * aggregation; an id carrying CONFLICTING vectors has no
    * deterministic resolution here (no version column) and refuses
    * loudly — resolve upstream (e.g. the CDC merge) — detected as
    * min ≠ max of the vector's xxhash64 (collision risk 2^-64 per id).
    * `subject` opens the message ("<operator>: duplicate <id>"). The
    * per-row scorers (brute force / LSH / multi-probe / int8) are NOT
    * deduped: with no id-grouped math, a replica is just another
    * candidate row with an identical score — visible, harmless, and
    * replayed identically by their oracles (the per-row law the event
    * family established in round 13). */
  private[operators] def dedupKeyed(df: DataFrame, id: String, vec: String,
                                    subject: String): DataFrame =
    df.groupBy(col(id))
      .agg(first(col(vec)).as(vec),
        min(xxhash64(col(vec))).as("_h1"),
        max(xxhash64(col(vec))).as("_h2"))
      .filter(coalesce(assert_true(col("_h1") === col("_h2"),
        lit(s"$subject with CONFLICTING vectors — exact replays " +
          "collapse idempotently, but same-id different-vector rows " +
          "need a resolution pass (e.g. CDC merge / latest-version " +
          "filter) upstream")), lit(true)))
      .select(col(id), col(vec))
}
