package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Link-graph operators for corpus curation (`SURVEY.md` §2 H+): the
  * web-graph centrality signal that production pretraining pipelines
  * attach to every crawled page (a page's link-graph standing is one
  * of the strongest document-quality priors available before any
  * content model runs). The reference engine has no graph surface at
  * all; this is a graft addition in the same spirit as the dedup and
  * sampling families.
  *
  * Scale design (the Pregel-on-DataFrames shape):
  *  - The EDGE table — the 100 TB side — is hash-partitioned on `src`
  *    exactly once, fused with the out-degree lookup, and pinned
  *    behind an [[OpUtils.barrier]]. Every iteration reuses that
  *    layout; the only thing that moves per round is the VERTEX-sized
  *    rank table (shuffled to the edge layout for the contribution
  *    join, then re-aggregated on `dst`).
  *  - N and the per-round dangling mass are 1-row aggregates joined
  *    into the plan (broadcast), never driver actions — the loop runs
  *    without collecting anything.
  *  - Each round ends in an [[OpUtils.barrier]] so lineage stays flat
  *    (no O(iterations)-deep plan for Catalyst to re-derive). Lazy
  *    barriers: materialization happens when the round's frame is
  *    first consumed. A session with a checkpoint dir set gets
  *    replayable rounds; without one a lost executor's rounds are
  *    gone with it.
  */
object Graph {

  /** PageRank over a directed edge list, damped uniform teleport.
    *
    * Per iteration, with damping `d` and vertex count `N`:
    * {{{
    *   pr'(v) = (1 - d)/N + d * ( Σ_{u→v} pr(u)/out(u) + dangling/N )
    * }}}
    * where `dangling` is the total rank mass parked on vertices with
    * no out-edges (redistributed uniformly — the standard correction
    * that keeps Σ pr = 1 without materializing N self-loops).
    *
    * Parallel edges are honored as repeated contributions (callers
    * wanting simple-graph semantics `.distinct()` their edge list
    * first); the vertex set is `src ∪ dst`, so sink-only vertices
    * participate and accumulate rank.
    *
    * Fixed `iterations` rather than convergence-test rounds: rank
    * deltas shrink geometrically (factor `d`), so small fixed budgets
    * are the production norm and keep the oracle expressible as an
    * unrolled SQL chain. The per-round shuffles are: rank → edge
    * layout (vertex-sized), contribution re-agg on `dst`
    * (edge-sized with map-side partial combine), and the left join
    * back to the vertex set (vertex-sized).
    *
    * `assumeNoDangling = true` is the caller's CONTRACT that every
    * vertex has at least one out-edge (true of link graphs that were
    * pre-filtered to resolvable targets, and of any synthetic graph
    * built by mapping each node to targets). It removes the per-round
    * dangling aggregate — a left-anti join plus a broadcast
    * materialization job per iteration that would compute exactly 0.0
    * — from the plan. If the contract is violated, the dropped mass
    * makes Σ rank < 1 (detectable; GraphSpec pins both modes).
    *
    * `teleportTo` personalizes the walk: the teleport distribution
    * (and the dangling redistribution) concentrates uniformly on the
    * given seed vertex set instead of all of V — the topic-focused
    * variant curation uses to expand from a trusted seed list ("rank
    * the web by proximity to these domains"). With seeds = V the two
    * modes agree (up to the last ulp: the uniform path computes
    * (1−d)/N where the seeded path computes (1−d)·(1/N)).
    *
    * Output: one row per vertex — (id, out_deg, rank), Σ rank = 1. */
  def pageRank(edges: DataFrame, src: Column, dst: Column,
               iterations: Int = 3, damping: Double = 0.85,
               assumeNoDangling: Boolean = false,
               teleportTo: Option[DataFrame] = None): DataFrame = {
    require(iterations >= 0, s"iterations must be >= 0, got $iterations")
    require(damping > 0.0 && damping < 1.0,
      s"damping must be in (0, 1), got $damping")
    // NULL-endpoint edge law (the Dedup.dropNullEdges law): a NULL id
    // is missing data, not a vertex — kept, it would enter the vertex
    // set as a NULL row whose rank mass silently vanishes from every
    // equality join (null never equi-matches), leaking Σ rank below 1
    val e = edges.select(src.cast("long").as("src"), dst.cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)

    // Out-degree fused onto the edge table ONCE, partitioned on src,
    // pinned: the big side of every round's join never moves again.
    // deg feeds ed, srcIds AND the final out_deg join — pinned, or the
    // output-time join replans the edge-scale aggregation from the scan.
    // No explicit repartition after the join (r14): the join's own
    // exchange already leaves ed hash-partitioned on src (AQE-sized),
    // so the old `repartition(src)` re-shuffled the edge table into an
    // identical layout — one whole edge-sized exchange for nothing.
    // Caveat (r15): this holds when e ⋈ deg plans as a shuffle join.
    // If stats put the vertex-sized deg under the broadcast threshold,
    // the join is broadcast-hash and ed checkpoints in e's SCAN layout
    // instead — harmless exactly when it happens (deg fitting the
    // broadcast threshold means the graph is small enough that the
    // per-round joins broadcast too), while at 100 TB deg is
    // vertex-scale, the join is forced sort-merge, and the pinned
    // src layout claim stands.
    val deg = OpUtils.barrier(
      e.groupBy(col("src")).agg(count(lit(1)).cast("double").as("out_deg")))
    val ed = OpUtils.barrier(e.join(deg, "src"))

    val verts = OpUtils.barrier(e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id")))
      .distinct())
    // N as an in-plan 1-row broadcast (checkpointed so each consumer
    // does not replan the distinct behind it).
    val nRow = OpUtils.barrier(verts.agg(count(lit(1)).cast("double").as("n")))
    val srcIds = OpUtils.barrier(deg.select(col("src").as("id")))

    // Per-vertex teleport probability, seeded mode only: 1/|S| on
    // seeds, 0 elsewhere (vertex-sized, computed once, pinned).
    val teleOpt = teleportTo.map { sd =>
      // only seeds PRESENT in the graph carry teleport mass — counting
      // out-of-graph seeds into 1/|S| would leak Σ rank below 1 every
      // iteration (each absent seed's share simply vanishes). The
      // semi-join is vertex-sized; an empty intersection means every
      // rank would be 0.0, which is a caller error, not a result.
      val sids = OpUtils.barrier(sd.select(col(sd.columns.head).cast("long").as("id"))
        .distinct()
        .join(verts, Seq("id"), "left_semi"))
      require(!sids.isEmpty,
        "Graph.pageRank: teleportTo has no seeds present in the graph's " +
          "vertex set — every rank would be 0.0")
      val sCount = OpUtils.barrier(sids.agg(count(lit(1)).cast("double").as("ns")))
      OpUtils.barrier(verts.join(sids.withColumn("_s", lit(1)), Seq("id"), "left")
        .crossJoin(broadcast(sCount))
        .select(col("id"),
          when(col("_s").isNotNull, lit(1.0) / col("ns")).otherwise(lit(0.0)).as("tele")))
    }

    var ranks = teleOpt match {
      case Some(tele) => tele.select(col("id"), col("tele").as("rank"))
      case None => verts.crossJoin(broadcast(nRow))
        .select(col("id"), (lit(1.0) / col("n")).as("rank"))
    }
    for (_ <- 1 to iterations) {
      val inMass = ed
        .join(ranks.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), (col("rank") / col("out_deg")).as("contrib"))
        .groupBy(col("id")).agg(sum(col("contrib")).as("in_mass"))
      val base = verts.join(inMass, Seq("id"), "left")
      val withDangling = (df: DataFrame) =>
        if (assumeNoDangling) df.withColumn("dangling_mass", lit(0.0))
        else df.crossJoin(broadcast(
          ranks.join(srcIds, Seq("id"), "left_anti")
            .agg(coalesce(sum(col("rank")), lit(0.0)).as("dangling_mass"))))
      ranks = OpUtils.barrier(teleOpt match {
        case Some(tele) => withDangling(base.join(tele, Seq("id")))
          .select(col("id"),
            ((lit(1.0 - damping) * col("tele")) + lit(damping) *
              (coalesce(col("in_mass"), lit(0.0)) + col("dangling_mass") * col("tele")))
              .as("rank"))
        case None => withDangling(base.crossJoin(broadcast(nRow)))
          .select(col("id"),
            ((lit(1.0 - damping) / col("n")) + lit(damping) *
              (coalesce(col("in_mass"), lit(0.0)) + col("dangling_mass") / col("n")))
              .as("rank"))
      })
    }
    ranks
      .join(deg.select(col("src").as("id"), col("out_deg")), Seq("id"), "left")
      .select(col("id"), coalesce(col("out_deg"), lit(0.0)).cast("long").as("out_deg"),
        col("rank"))
  }

  /** Triangle count + global clustering coefficient over the
    * UNDIRECTED simple graph induced by the edge list (direction,
    * self-loops, and parallel edges are erased first).
    *
    * Algorithm: compact-forward. Edges are oriented from the
    * lower-(degree, id) endpoint to the higher, wedges are generated by
    * joining the oriented list with itself on the low vertex, and each
    * wedge is closed by a semi-join back to the oriented edges — so
    * every triangle is counted exactly once, from its lowest-degree
    * corner. The DEGREE orientation is the scale move: the oriented
    * out-degree of any vertex is O(√m) on any graph (a hub's edges all
    * point INTO it), so the wedge join's per-key fan-out — the step
    * that explodes a naive a<b orientation on power-law graphs — stays
    * bounded. Wedge count Σ C(deg,2) and the coefficient 3T/wedges ride
    * the same degree table.
    *
    * Plan shape: canonical-edge distinct (one exchange), degree agg
    * (one exchange), two degree lookups onto the edge list, the wedge
    * self-join on the low vertex, and the closing LEFT SEMI join on the
    * (a,b) pair — every join an equality hash join, never all-pairs.
    * Output is ONE row: `n_edges, n_wedges, n_triangles,
    * clustering_coeff`. */
  def triangleStats(edges: DataFrame, src: Column, dst: Column): DataFrame =
    trianglesFromCanonical(canonicalEdges(edges, src, dst))

  /** [[triangleStats]]'s core over an ALREADY-canonical `(a, b)` edge
    * set — shared with the incremental twin
    * ([[graft.streaming.StreamingGraph.triangleStats]] derives the
    * running triangle census from its persisted canonical edge state
    * through this same core, so batch/stream parity is by
    * construction — the histogram/alpha core pattern). */
  private[graft] def trianglesFromCanonical(e: DataFrame): DataFrame = {
    val (u, deg, closed) = closedWedgesFromCanonical(e)
    val triangles = closed.agg(count(lit(1)).as("n_triangles"))
    val edgeCount = u.agg(count(lit(1)).as("n_edges"))
    // all-integer: deg*(deg-1) is even, so summing the halved LONG
    // terms is exact — the double '/' form rounds once deg*(deg-1)
    // passes 2^53 (hub degree ~9.5e7) and the double SUM drifts on
    // corpus-scale totals
    val wedgeCount = deg
      .agg(sum(graft.functions.GraftFunctions.longDiv(
        col("deg") * (col("deg") - 1), 2L)).as("n_wedges"))
    edgeCount.crossJoin(broadcast(wedgeCount)).crossJoin(broadcast(triangles))
      .select(col("n_edges"), col("n_wedges"), col("n_triangles"),
        graft.functions.GraftFunctions.r(
          col("n_triangles") * 3.0 / nullif(col("n_wedges"), lit(0L)), 6)
          .as("clustering_coeff"))
  }

  /** Per-vertex local clustering coefficients, top `k` by coefficient
    * (ties by id) — the per-node "how clique-like is this node's
    * neighborhood" feature (in curation graphs, near-1 link
    * neighborhoods are mutual-citation/ring signals). Same
    * compact-forward core as [[triangleStats]]; each closed wedge
    * credits its THREE corners via a 3-row explode, so a vertex's
    * triangle count is exact while every join stays an equality join.
    * Only vertices with ≥ 2 neighbors (a defined coefficient) are
    * ranked; the cut is a TakeOrderedAndProject over the vertex-sized
    * coefficient table. */
  def localClustering(edges: DataFrame, src: Column, dst: Column, k: Int): DataFrame =
    localClusteringFromCanonical(canonicalEdges(edges, src, dst), k)

  /** [[localClustering]]'s core over an ALREADY-canonical edge set —
    * shared with the incremental twin
    * ([[graft.streaming.StreamingGraph.localClustering]]), completing
    * the family: every batch graph reader now has a FromCanonical
    * core, so the persisted canonical edge state serves all of them. */
  private[graft] def localClusteringFromCanonical(e: DataFrame, k: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val (_, deg, closed) = closedWedgesFromCanonical(e)
    val perVertex = closed
      .select(explode(array(col("v"), col("a"), col("b"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("n_tri"))
    deg.select(col("v").as("id"), col("deg"))
      .filter(col("deg") >= 2)
      .join(perVertex, Seq("id"), "left")
      .select(col("id"), col("deg"), coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        graft.functions.GraftFunctions.r(
          coalesce(col("n_tri"), lit(0L)) * 1.0
            / (col("deg") * (col("deg") - 1) / 2), 6).as("local_coeff"))
      .orderBy(col("local_coeff").desc, col("id"))
      .limit(k)
  }

  /** k-core decomposition: the vertices of the maximal subgraph in
    * which every vertex keeps degree ≥ k, with their in-core degrees.
    * The spam/ring-detection and "dense community" primitive of link-
    * graph curation (a page whose neighborhood survives a high k-core
    * sits in a densely self-referential cluster).
    *
    * Iterative peeling: each round recomputes degrees on the surviving
    * edge set and drops every vertex below k — two LEFT SEMI joins
    * (both edge endpoints against the keep set) plus one degree
    * aggregation, all equality joins on the edge table's own keys. The
    * surviving edge set shrinks monotonically and is re-barriered per
    * round ([[OpUtils.barrier]], lineage stays flat); the ONLY driver
    * traffic is one 1-row edge count per round for the convergence
    * test — the same loop discipline as [[Dedup.connectedComponents]].
    * Rounds are bounded by the peeling depth (≤ the degeneracy
    * ordering's span, 3-6 in practice); `maxRounds` fails LOUDLY
    * rather than returning a half-peeled "core". */
  def kCore(edges: DataFrame, src: Column, dst: Column, k: Int,
            maxRounds: Int = 50): DataFrame =
    kcoreFromCanonical(canonicalEdges(edges, src, dst), k, maxRounds)

  /** [[kCore]]'s peel over an ALREADY-canonical edge set — shared with
    * the incremental twin ([[graft.streaming.StreamingGraph.kCore]]). */
  private[graft] def kcoreFromCanonical(e: DataFrame, k: Int,
      maxRounds: Int = 50): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    var u = OpUtils.barrier(e)
    var nEdges = u.count()
    var round = 0
    var converged = nEdges == 0L
    while (!converged && round < maxRounds) {
      val keep = degrees(u).filter(col("deg") >= k).select(col("v"))
      val pruned = OpUtils.barrier(
        u.join(keep.withColumnRenamed("v", "a"), Seq("a"), "left_semi")
          .join(keep.withColumnRenamed("v", "b"), Seq("b"), "left_semi")
          .select(col("a"), col("b")))
      val n = pruned.count()
      converged = n == nEdges
      u = pruned; nEdges = n; round += 1
      if (nEdges == 0L) converged = true
    }
    if (!converged)
      throw new IllegalStateException(
        s"kCore(k=$k) did not converge in $maxRounds rounds — raise " +
          "maxRounds; a partial peel is NOT a k-core and is never returned")
    degrees(u).select(col("v").as("id"), col("deg").as("core_deg"))
  }

  /** Shared compact-forward core: (canonical undirected simple edges
    * `(a,b)`, degree table, closed wedges `(v, a, b)` = one row per
    * triangle with `v` the lowest-degree corner and `a < b` its other
    * two corners). Degree-ordered orientation bounds the wedge
    * self-join's per-key fan-out at O(√m) on any graph. */
  private def closedWedgesFromCanonical(canon: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    // the canonical edge set feeds FOUR consumers (degrees, both sides
    // of the wedge self-join via the orientation, the closing semi-join,
    // the edge count) — barrier it, or each consumer re-runs the
    // distinct from the source (probed: a 237-operator plan collapses
    // to ExistingRDD leaves). Same for the oriented table (both wedge
    // sides) and the vertex-sized degree table (three consumers).
    val u = OpUtils.barrier(canon)
    val deg = OpUtils.barrier(degrees(u))
    // orient by (deg, id): lo = the endpoint that sorts first
    val withDeg = u
      .join(deg.select(col("v").as("a"), col("deg").as("deg_a")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("deg_b")), "b")
    val oriented = OpUtils.barrier(withDeg.select(
      when(struct(col("deg_a"), col("a")) < struct(col("deg_b"), col("b")),
        struct(col("a").as("lo"), col("b").as("hi")))
        .otherwise(struct(col("b").as("lo"), col("a").as("hi")))
        .as("e"))
      .select(col("e.lo").as("lo"), col("e.hi").as("hi")))
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"), col("e1.lo") === col("e2.lo"))
      .filter(col("e1.hi") < col("e2.hi"))
      .select(col("e1.lo").as("v"),
        col("e1.hi").as("a"), col("e2.hi").as("b"))
    val closed = wedges.join(u, Seq("a", "b"), "left_semi")
    (u, deg, closed)
  }

  /** Synchronous label propagation over the undirected simple graph —
    * the near-linear community detector (Raghavan et al. 2007) used to
    * group near-duplicate/link-connected documents into communities
    * without a cluster-count parameter.
    *
    * Determinism (the reason this is the SYNC variant): every vertex
    * starts labeled with its own id; each round, ALL vertices
    * simultaneously adopt the most frequent label among their
    * neighbors, ties broken by SMALLEST label. Async/randomized LPA
    * (the paper's default) converges faster but is run-order
    * dependent — unacceptable for an oracle-checked, re-runnable
    * pipeline. Fixed `rounds` rather than a convergence test keeps the
    * oracle an unrolled SQL chain (the kCore discipline); sync LPA on
    * bipartite-ish structures can oscillate rather than converge, so a
    * fixed budget is also the semantics, not an approximation of one.
    *
    * Per-round plan (rounds ≥ 2; round 1 collapses to one min()
    * aggregation — see the body): ONE edge-sized equality join (labels
    * onto the bidirectional edge list), one edge-sized (vertex, label)
    * count aggregation (map-side combinable), and one vertex-sized
    * window for the argmax — the window's pick IS the next label
    * table (no join back). Each round's label table is barriered —
    * without it round i's plan would re-inline rounds 1..i−1 under
    * every consumer (the pageRank lesson).
    * A vertex whose only edges were self-loops is erased WITH them by
    * the canonicalization (the [[triangleStats]]/[[kCore]] law) — it
    * is absent from the output entirely, not self-labeled; join the
    * result back to the corpus with a left join + coalesce-to-self if
    * every document needs a community. Pinned by GraphSpec.
    *
    * Output: (id, label) — label = the community's smallest member id
    * in the common case, but in general just a stable community key. */
  def labelPropagation(edges: DataFrame, src: Column, dst: Column,
                       rounds: Int = 4): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    val u = OpUtils.barrier(canonicalEdges(edges, src, dst))
    val und = OpUtils.barrier(u.select(col("a").as("u"), col("b").as("v"))
      .unionAll(u.select(col("b").as("u"), col("a").as("v")))
      .repartition(col("v"))) // pinned on the join key
    if (rounds == 0)
      return und.select(col("u").as("id")).distinct()
        .select(col("id"), col("id").as("label"))
    // ROUND 1 is a degenerate window (r14): labels start as the
    // identity, so every neighbor carries a distinct label with count
    // 1 and the (count desc, label) pick IS the minimum neighbor id —
    // one map-side-combinable aggregation replaces the label join +
    // per-vertex window. Every round's pick covers EVERY vertex (verts
    // is und's u-side: each has ≥ 1 neighbor), so the old defensive
    // left-join + coalesce back onto the previous labels — whose
    // fallback arm could never fire — is gone too: the pick IS the
    // next label table.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("u")).orderBy(col("c").desc, col("lab"))
    var labels = OpUtils.barrier(und.groupBy(col("u").as("id")).agg(min(col("v")).as("label")))
    for (_ <- 2 to rounds) {
      labels = OpUtils.barrier(und
        .join(labels.select(col("id").as("v"), col("label").as("lab")), "v")
        .groupBy(col("u"), col("lab")).agg(count(lit(1)).as("c"))
        .withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1)
        .select(col("u").as("id"), col("lab").as("label")))
    }
    labels
  }

  /** HITS hubs and authorities (Kleinberg 1999) over the directed
    * simple graph (parallel edges collapsed; self-loops kept, as in
    * [[pageRank]]) — the bipartite-reinforcement centrality pair:
    * a good AUTHORITY is pointed at by good hubs, a good HUB points
    * at good authorities. Complements PageRank's single random-walk
    * score when curating link corpora (directory/portal pages are
    * hubs, canonical reference pages are authorities; a quality prior
    * can want either).
    *
    * Per iteration: auth(v) = Σ_{u→v} hub(u), L1-normalized, then
    * hub(u) = Σ_{u→v} auth(v), L1-normalized. L1 — not the textbook
    * L2 — keeps every step rational arithmetic over the input scores
    * (no sqrt whose libm rounding differs across engines); the
    * normalization choice only rescales, never reorders. Fixed
    * `iterations` for the same unrolled-oracle reason as [[pageRank]];
    * scores converge to the principal eigenvector geometrically.
    *
    * Plan: the edge table is degree-free and pinned ONCE; each
    * iteration is two edge-sized equality joins + two edge-sized
    * aggregations (map-side combinable) + two 1-row broadcast
    * normalizations, each side barriered (it feeds the norm aggregate
    * AND the next join). Output: (id, hub, auth), each column summing
    * to 1; vertices with no out-edges have hub 0, no in-edges auth 0.
    * Callers quantize for oracle parity (Σ-order FP noise is ~1e-16
    * relative, six orders below the r(·,8) step — the q99 argument). */
  def hits(edges: DataFrame, src: Column, dst: Column,
           iterations: Int = 2): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    // same NULL-endpoint law as pageRank: a NULL vertex would surface
    // in the output with hub = auth = 0 while its edges match nothing
    val e = OpUtils.barrier(edges.select(src.cast("long").as("src"), dst.cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct())
    // SPARSE iterations (r14): a zero score contributes nothing to the
    // next contribution join and exactly 0.0 to the L1 sum (x + 0.0 is
    // exact in IEEE), so the per-round dense re-anchoring join against
    // the vertex set the old shape paid twice per iteration — plus its
    // repartition barrier — computes identical values and is gone; the
    // vertex set is only needed once, to densify the OUTPUT (vertices
    // with no in-edges carry auth 0, no out-edges hub 0). The
    // normalization divides the checkpointed aggregate by its own
    // 1-row broadcast sum — one barrier per half-iteration, none of
    // them vertex-joined.
    def l1Normalize(scores: DataFrame, c: String): DataFrame = {
      val s = OpUtils.barrier(scores)
      s.crossJoin(broadcast(s.agg(sum(col(c)).as("_s"))))
        .select(col("id"), (col(c) / col("_s")).as(c))
    }
    // iteration 1, auth half: hub starts uniformly 1.0 over the vertex
    // set, so Σ_{u→v} hub(u) is exactly the in-degree as a double (a
    // sum of 1.0s IS the count below 2^53) — the hub join is an
    // identity and is skipped
    var auth = l1Normalize(
      e.groupBy(col("dst").as("id"))
        .agg(count(lit(1)).cast("double").as("auth")),
      "auth")
    var hub = l1Normalize(
      e.join(auth.select(col("id").as("dst"), col("auth")), "dst")
        .groupBy(col("src").as("id")).agg(sum(col("auth")).as("hub")),
      "hub")
    for (_ <- 2 to iterations) {
      auth = l1Normalize(
        e.join(hub.select(col("id").as("src"), col("hub")), "src")
          .groupBy(col("dst").as("id")).agg(sum(col("hub")).as("auth")),
        "auth")
      hub = l1Normalize(
        e.join(auth.select(col("id").as("dst"), col("auth")), "dst")
          .groupBy(col("src").as("id")).agg(sum(col("auth")).as("hub")),
        "hub")
    }
    val verts = OpUtils.barrier(e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id")))
      .distinct())
    verts
      .join(hub, Seq("id"), "left")
      .join(auth, Seq("id"), "left")
      .select(col("id"), coalesce(col("hub"), lit(0.0)).as("hub"),
        coalesce(col("auth"), lit(0.0)).as("auth"))
  }

  /** Canonical undirected simple edges: (min, max) endpoint order,
    * self-loops dropped, parallel edges collapsed — the ONE place the
    * canonicalization invariants live (kCore, labelPropagation, and
    * the compact-forward family share it). A NULL endpoint satisfies
    * the family's null-edge law for free: least/greatest IGNORE nulls,
    * so a (NULL, x) pair canonicalizes to (x, x) and dies on the
    * self-loop filter — the edge drops, no NULL vertex is minted. */
  private[graft] def canonicalEdges(edges: DataFrame, src: Column, dst: Column): DataFrame =
    edges
      .select(least(src, dst).cast("long").as("a"),
        greatest(src, dst).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()

  /** Undirected degree table of a canonical edge set. */
  private def degrees(e: DataFrame): DataFrame =
    e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))

  /** [[degreeHistogram]]'s core over an ALREADY-canonical `(a, b)`
    * edge set — shared with the incremental twin
    * ([[graft.streaming.StreamingGraph]] maintains the canonical set
    * as persisted state and derives through this same core). */
  private[graft] def histogramFromCanonical(e: DataFrame): DataFrame =
    degrees(e)
      .groupBy(col("deg")).agg(count(lit(1)).as("n_vertices"))
      .orderBy(col("deg"))

  /** [[powerLawAlpha]]'s core over an ALREADY-canonical edge set. */
  private[graft] def alphaFromCanonical(e: DataFrame, dMin: Int): DataFrame = {
    require(dMin >= 1, s"dMin must be >= 1: $dMin")
    degrees(e)
      .filter(col("deg") >= dMin)
      .agg(count(lit(1)).as("n_tail"),
        sum(log(col("deg").cast("double") / (dMin - 0.5))).as("_s"))
      .filter(col("n_tail") > 0)
      .select(col("n_tail"), lit(dMin).as("d_min"),
        (lit(1.0) + col("n_tail").cast("double") / col("_s")).as("alpha"))
  }

  /** Undirected degree HISTOGRAM — the first thing anyone plots about
    * a graph, and the drift watcher for derived link graphs (a
    * crawl/citation graph whose histogram suddenly grows a hub spike
    * or loses its tail changed regime). Same canonical basis as
    * [[triangleStats]] (dedup + self-loops dropped). All-integer:
    * exact at any scale, no float anywhere. Returns
    * (deg, n_vertices), deg ascending. */
  def degreeHistogram(edges: DataFrame, src: Column, dst: Column): DataFrame =
    histogramFromCanonical(canonicalEdges(edges, src, dst))

  /** Power-law tail exponent of the degree distribution — the
    * continuous maximum-likelihood estimator (Clauset, Shalizi &
    * Newman 2009 eq. 3.1 with the −½ discreteness shift, their §3.4
    * recommendation for discrete data):
    * `α̂ = 1 + n · (Σ ln(dᵢ/(d_min − ½)))⁻¹` over the tail
    * `dᵢ ≥ d_min` — never a log-log histogram regression, whose
    * binning bias CSN spend a section warning about ([[CorpusQuality
    * .zipfFit]] deliberately IS that regression, for the rank curve
    * where it is the convention). Scale-free graphs live at
    * α ∈ (2, 3); a derived link graph drifting out of that band
    * changed its generating process.
    *
    * Shape at 100 TB: one vertex-sized degree aggregation, one
    * filter, one 2-sum reduce to a single row. Every tail degree
    * satisfies d/(d_min−½) > 1, so the ln-sum is strictly positive —
    * no 0/0; an EMPTY tail yields no row rather than a NaN. The
    * ln-sum is the one float-order exposure (vertex-count terms),
    * masked by r(·) in the oracle like every ln-based metric.
    *
    * Returns ONE row (n_tail, d_min, alpha) or none. */
  def powerLawAlpha(edges: DataFrame, src: Column, dst: Column,
                    dMin: Int = 2): DataFrame =
    alphaFromCanonical(canonicalEdges(edges, src, dst), dMin)

  /** Adamic–Adar link prediction (Adamic & Adar 2003): score every
    * NON-adjacent vertex pair by Σ 1/ln(deg(w)) over their common
    * neighbors w — the standard “who should be linked” prior for
    * crawl-graph gap-filling and citation suggestion. Candidate
    * SELECTION is integer-exact: pairs qualify on `cn ≥ minCommon`
    * (common-neighbor count), never on a float-ranked top-k whose cut
    * boundary would be engine-noise-dependent; the float score is
    * published alongside for ranking downstream.
    *
    * Scale shape: wedge generation fans out deg(w)² per CENTER — the
    * one graph op where degree orientation cannot help, because the
    * common neighbor IS the wedge center. The standard mitigation is
    * the `maxCenterDegree` cap: hubs above it are excluded from
    * CENTERING (they still score as endpoints), which is also the
    * semantics the 1/ln(deg) weight already asymptotes toward — a
    * 10⁶-degree hub contributes 0.07 per wedge but 10¹² wedges
    * uncapped. With the cap, fan-out is ≤ cap² per center over the
    * vertex-sized adjacency; everything else is equality joins and
    * one map-side-combining aggregation on the pair key. The
    * candidate table (pairs with ≥ 2 shared neighbors) is the
    * bounded output a 100 TB deployment materializes.
    *
    * Same canonical simple-graph basis as [[triangleStats]]. Output:
    * (id_a, id_b, cn, aa) for non-adjacent a < b with cn ≥ minCommon,
    * aa rounded to 6 dp (the ln float-order mask every ln-based
    * metric here wears). */
  def adamicAdar(edges: DataFrame, src: Column, dst: Column,
                 minCommon: Int = 2, maxCenterDegree: Int = 1000): DataFrame = {
    require(minCommon >= 1, s"minCommon must be >= 1: $minCommon")
    require(maxCenterDegree >= 2,
      s"maxCenterDegree must be >= 2 (a center needs two neighbors): $maxCenterDegree")
    // the canonical edge set feeds adjacency, the degree table, and
    // the final anti join — barrier it (the closedWedgesFromCanonical lesson)
    val u = OpUtils.barrier(canonicalEdges(edges, src, dst))
    val adj = u.select(col("a").as("c"), col("b").as("n"))
      .unionAll(u.select(col("b").as("c"), col("a").as("n")))
    val centers = degrees(u)
      .filter(col("deg") >= 2 && col("deg") <= maxCenterDegree)
      .select(col("v").as("c"), col("deg"))
    // both wedge sides read this — barrier, or the adjacency union +
    // degree join replans per side
    val adjC = OpUtils.barrier(adj.join(centers, "c"))
    val scored = adjC.as("x")
      .join(adjC.as("y"),
        col("x.c") === col("y.c") && col("x.n") < col("y.n"))
      .select(col("x.n").as("id_a"), col("y.n").as("id_b"),
        (lit(1.0) / log(col("x.deg").cast("double"))).as("_w"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("cn"), sum(col("_w")).as("_aa"))
      .filter(col("cn") >= minCommon)
    scored
      .join(u, scored("id_a") === u("a") && scored("id_b") === u("b"),
        "left_anti")
      .select(col("id_a"), col("id_b"), col("cn"),
        graft.functions.GraftFunctions.r(col("_aa"), 6).as("aa"))
  }
}
