package graft

import org.apache.spark.sql.functions._
import graft.operators.Graph
import graft.sources.Tables
import org.apache.spark.CheckpointDirs.{rddCheckpoints, withCheckpointDir}

/** [[graft.operators.Graph.pageRank]]: hand-computed ranks on tiny
  * graphs (including the dangling-mass path the q96 oracle's graph
  * never exercises), conservation + fixpoint invariants, and the
  * multiset edge law. */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  private def ranksOf(edges: Seq[(Long, Long)], iters: Int,
                      damping: Double = 0.85): Map[Long, Double] =
    Graph.pageRank(edges.toDF("s", "t"), col("s"), col("t"),
        iterations = iters, damping = damping)
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> r._3).toMap

  test("dangling vertex: hand-computed one-iteration ranks") {
    // 1 → 2; vertex 2 has no out-edges, so its entire mass re-enters
    // uniformly. pr1(1) = .15/2 + .85·(0 + .5/2)        = 0.2875
    //           pr1(2) = .15/2 + .85·(.5 + .5/2)        = 0.7125
    val pr = ranksOf(Seq((1L, 2L)), iters = 1)
    assert(math.abs(pr(1L) - 0.2875) < 1e-12)
    assert(math.abs(pr(2L) - 0.7125) < 1e-12)
  }

  test("rank mass is conserved across iterations (dangling included)") {
    // Chain with a dangling tail and a sink-only vertex: 1→2→3.
    for (iters <- Seq(0, 1, 3, 5)) {
      val pr = ranksOf(Seq((1L, 2L), (2L, 3L)), iters)
      assert(math.abs(pr.values.sum - 1.0) < 1e-9,
        s"mass drifted at $iters iterations: ${pr.values.sum}")
    }
  }

  test("symmetric cycle is a fixpoint at exactly 1/n") {
    val cycle = Seq((0L, 1L), (1L, 2L), (2L, 0L))
    val pr = ranksOf(cycle, iters = 4)
    cycle.foreach { case (v, _) =>
      assert(math.abs(pr(v) - 1.0 / 3) < 1e-12) }
  }

  test("parallel edges contribute repeated mass; out_deg counts the multiset") {
    // 1 has two parallel edges to 2 and one to 3: two thirds of 1's
    // mass must flow to 2 (out_deg 3), versus the simple-graph split.
    val out = Graph.pageRank(
        Seq((1L, 2L), (1L, 2L), (1L, 3L)).toDF("s", "t"),
        col("s"), col("t"), iterations = 1)
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(1L)._1 == 3L)           // multiset out-degree
    assert(out(2L)._1 == 0L)           // sink-only vertex surfaces
    // in_mass(2) = 2·(1/3)/3, in_mass(3) = (1/3)/3; dangling = 2/3.
    val n = 3.0; val d = 0.85; val dang = 2.0 / 3
    val exp2 = 0.15 / n + d * (2.0 / 9 + dang / n)
    val exp3 = 0.15 / n + d * (1.0 / 9 + dang / n)
    assert(math.abs(out(2L)._2 - exp2) < 1e-12)
    assert(math.abs(out(3L)._2 - exp3) < 1e-12)
  }

  test("assumeNoDangling ≡ full mode on a dangling-free graph; drops mass when violated") {
    val cycle = Seq((0L, 1L), (1L, 2L), (2L, 0L), (0L, 2L))
    def run(edges: Seq[(Long, Long)], assume: Boolean) =
      Graph.pageRank(edges.toDF("s", "t"), col("s"), col("t"),
          iterations = 3, assumeNoDangling = assume)
        .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(run(cycle, assume = true) == run(cycle, assume = false))
    // Violating the contract (2 is dangling) must surface as Σ rank < 1,
    // not as a silently re-normalized wrong answer.
    val broken = run(Seq((0L, 1L), (1L, 2L)), assume = true)
    assert(broken.map(_._3).sum < 0.999)
  }

  test("personalized: seeds = V agrees with uniform mode to the last ulp") {
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (0L, 2L))
    val uniform = ranksOf(edges, iters = 3)
    val seeded = Graph.pageRank(edges.toDF("s", "t"), col("s"), col("t"),
        iterations = 3,
        teleportTo = Some(Seq(0L, 1L, 2L).toDF("id")))
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    uniform.foreach { case (v, r) =>
      assert(math.abs(seeded(v) - r) < 1e-12) }
  }

  test("personalized: mass never leaks into components unreachable from the seeds") {
    // Two disconnected cycles; seeding {0} must leave 2/3 at exactly 0
    // (they start at 0, receive nothing, and get no teleport).
    val edges = Seq((0L, 1L), (1L, 0L), (2L, 3L), (3L, 2L))
    val pr = Graph.pageRank(edges.toDF("s", "t"), col("s"), col("t"),
        iterations = 3, teleportTo = Some(Seq(0L).toDF("id")))
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(pr(2L) == 0.0 && pr(3L) == 0.0)
    assert(math.abs(pr(0L) + pr(1L) - 1.0) < 1e-12)
  }

  test("personalized + dangling: hand-computed two-iteration ranks, mass conserved") {
    // 0 → 1, 1 dangling, seed {0}: dangling mass teleports to the SEED.
    // pr1 = (0.15, 0.85); pr2(0) = .15 + .85·(0 + .85·1) = 0.8725,
    // pr2(1) = .85·.15 = 0.1275.
    val pr = Graph.pageRank(Seq((0L, 1L)).toDF("s", "t"), col("s"), col("t"),
        iterations = 2, teleportTo = Some(Seq(0L).toDF("id")))
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(math.abs(pr(0L) - 0.8725) < 1e-12)
    assert(math.abs(pr(1L) - 0.1275) < 1e-12)
  }

  test("triangleStats: K4, star, and edge-canonicalization edges") {
    def stats(edges: Seq[(Long, Long)]) =
      Graph.triangleStats(edges.toDF("s", "t"), col("s"), col("t"))
        .as[(Long, Long, Long, Option[Double])].collect().head

    // K4: 6 edges, every vertex deg 3 → wedges 4·C(3,2)=12, 4 triangles,
    // coefficient 3·4/12 = 1
    val k4 = for (a <- 0L to 3L; b <- 0L to 3L if a < b) yield (a, b)
    assert(stats(k4) === ((6L, 12L, 4L, Some(1.0))))

    // star K1,4: no triangles, hub wedges C(4,2)=6, coefficient 0
    val star = (1L to 4L).map(i => (0L, i))
    assert(stats(star) === ((4L, 6L, 0L, Some(0.0))))

    // direction, self-loops, parallel edges all erased: the triangle
    // {0,1,2} given as mixed directions + duplicates + a loop is ONE
    // triangle on 3 edges
    val messy = Seq((0L, 1L), (1L, 0L), (1L, 2L), (2L, 0L), (0L, 2L), (2L, 2L))
    assert(stats(messy) === ((3L, 3L, 1L, Some(1.0))))

    // single edge: no wedge → NULL coefficient, not a divide-by-zero
    assert(stats(Seq((0L, 1L))) === ((1L, 0L, 0L, None)))
  }

  test("degreeHistogram: canonical basis, exact counts") {
    // star K1,4 plus a detached edge, fed with duplicates and a loop:
    // hub deg 4, leaves deg 1 (×4), pair deg 1 (×2) -> {1: 6, 4: 1}
    val e = Seq((0L, 1L), (1L, 0L), (0L, 2L), (0L, 3L), (0L, 4L),
      (5L, 6L), (3L, 3L))
    val h = Graph.degreeHistogram(e.toDF("s", "t"), col("s"), col("t"))
      .as[(Long, Long)].collect().toSeq
    assert(h === Seq((1L, 6L), (4L, 1L)))
  }

  test("powerLawAlpha: hand-computed CSN estimator; empty tail yields no row") {
    // degrees after canonicalization: hub 4, leaves 1,1,1,1 plus a
    // second hub 3 with leaves 1,1,1 -> tail (deg >= 2) = {4, 3}
    val e = ((1L to 4L).map(i => (0L, i)) ++ (7L to 9L).map(i => (6L, i)))
    val out = Graph.powerLawAlpha(e.toDF("s", "t"), col("s"), col("t"), dMin = 2)
      .as[(Long, Int, Double)].collect()
    val expected = 1.0 + 2.0 / (math.log(4.0 / 1.5) + math.log(3.0 / 1.5))
    assert(out.length === 1)
    assert(out.head._1 === 2L && out.head._2 === 2)
    assert(math.abs(out.head._3 - expected) < 1e-12, s"${out.head._3} vs $expected")
    // dMin above every degree: empty tail, NO row (never NaN)
    val none = Graph.powerLawAlpha(e.toDF("s", "t"), col("s"), col("t"), dMin = 10)
      .collect()
    assert(none.isEmpty)
  }

  test("localClustering: per-corner credit, coefficient, deg<2 excluded") {
    // triangle {0,1,2} plus pendant edge (0,3): v0 deg 3 → 1/C(3,2)=1/3;
    // v1,v2 deg 2 → 1/1 = 1; v3 deg 1 → excluded
    val lc = Graph.localClustering(
        Seq((0L, 1L), (1L, 2L), (2L, 0L), (0L, 3L)).toDF("s", "t"),
        col("s"), col("t"), k = 10)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(lc === Seq((1L, 2L, 1L, 1.0), (2L, 2L, 1L, 1.0),
      (0L, 3L, 1L, 0.333333)))

    // K4: every vertex sits on 3 of its C(3,2)=3 wedge pairs → all 1.0
    val k4 = for (a <- 0L to 3L; b <- 0L to 3L if a < b) yield (a, b)
    val all = Graph.localClustering(k4.toDF("s", "t"), col("s"), col("t"), k = 10)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(all === (0L to 3L).map(v => (v, 3L, 3L, 1.0)))
  }

  test("kCore: cascade peeling, empty core, and the loud non-convergence guard") {
    // square 0-1-2-3 + diagonal 0-2 + pendant 3-4
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L), (0L, 2L), (3L, 4L))
    def core(k: Int, maxRounds: Int = 50) =
      Graph.kCore(edges.toDF("s", "t"), col("s"), col("t"), k, maxRounds)
        .orderBy("id").as[(Long, Long)].collect().toSeq
    // k=2: dropping the pendant leaves the square+diagonal, all deg >= 2
    assert(core(2) === Seq((0L, 3L), (1L, 2L), (2L, 3L), (3L, 2L)))
    // k=3: peeling CASCADES to empty — dropping 1,3 (deg 2) leaves only
    // the 0-2 edge, whose endpoints then fall below 3 too
    assert(core(3) === Seq.empty)
    val e = intercept[IllegalStateException] { core(2, maxRounds = 0) }
    assert(e.getMessage.contains("did not converge"))
  }

  test("q96 fixture graph: every doc has out_deg 3 and ranks sum to 1") {
    val docs = Tables.load(spark, sf("sf0.001"), "documents")
    val n = docs.count()
    val edges = docs
      .select(col("doc_id").as("s"),
        explode(array((0 to 2).map(j =>
          pmod(col("doc_id") * col("doc_id") + 7 + j * 97, lit(n))): _*)).as("t"))
    val pr = Graph.pageRank(edges, col("s"), col("t"), iterations = 3)
      .as[(Long, Long, Double)].collect()
    assert(pr.length == n)
    assert(pr.forall(_._2 == 3L))
    assert(math.abs(pr.map(_._3).sum - 1.0) < 1e-9)
    // The graph is non-regular in IN-degree, so ranks must spread.
    assert(pr.map(_._3).distinct.length > 1)
  }

  test("reliable barriers: kCore under a checkpoint dir matches localCheckpoint") {
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L), (0L, 2L), (3L, 4L))
    def core() = Graph.kCore(edges.toDF("s", "t"), col("s"), col("t"), k = 2)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    val local = core()
    withCheckpointDir(spark) { dir =>
      assert(core() === local)
      // the barriers actually MATERIALIZED through the checkpoint dir
      assert(rddCheckpoints(dir).nonEmpty)
    }
  }

  test("reliable barriers: PageRank's per-round barriers replay from a checkpoint dir") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (1L, 3L))
    val local = ranksOf(edges, iters = 3)
    withCheckpointDir(spark) { dir =>
      assert(ranksOf(edges, iters = 3) === local)
      assert(rddCheckpoints(dir).nonEmpty)
    }
  }

  // ------------------------------------------------------------ //
  // label propagation                                             //
  // ------------------------------------------------------------ //

  private def lpa(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] =
    Graph.labelPropagation(edges.toDF("s", "t"), col("s"), col("t"), rounds)
      .as[(Long, Long)].collect().toMap

  test("lpa: two disjoint triangles each converge to their min-id label") {
    val out = lpa(Seq((1L, 2L), (2L, 3L), (3L, 1L),
      (4L, 5L), (5L, 6L), (6L, 4L)), rounds = 4)
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 4L, 5L -> 4L, 6L -> 4L))
  }

  test("lpa: deterministic under re-run and edge direction/duplication") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L))
    val a = lpa(e, rounds = 4)
    val b = lpa(e.map(_.swap) ++ e, rounds = 4) // reversed + parallel dups
    assert(a === b)
    assert(a === lpa(e, rounds = 4))
  }

  test("lpa: rounds = 0 is the identity labeling; self-loop-only vertices vanish with their edges") {
    val out = lpa(Seq((1L, 2L), (7L, 7L)), rounds = 0)
    // 7's only edge is a self-loop — canonicalization erases it, so 7
    // is not a vertex of the simple graph (same law as triangleStats)
    assert(out === Map(1L -> 1L, 2L -> 2L))
  }

  // ------------------------------------------------------------ //
  // HITS                                                          //
  // ------------------------------------------------------------ //

  private def hitsOf(edges: Seq[(Long, Long)], iters: Int)
      : Map[Long, (Double, Double)] =
    Graph.hits(edges.toDF("s", "t"), col("s"), col("t"), iters)
      .as[(Long, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap

  test("hits: hand-computed one iteration on 1→3, 2→3, 3→1") {
    // a1 raw: a(3)=h(1)+h(2)=2, a(1)=h(3)=1, a(2)=0; Σ=3 → (1/3, 0, 2/3)
    // h1 raw: h(1)=a(3)=2/3, h(2)=a(3)=2/3, h(3)=a(1)=1/3; Σ=5/3
    //   → (2/5, 2/5, 1/5)
    val out = hitsOf(Seq((1L, 3L), (2L, 3L), (3L, 1L)), iters = 1)
    val eps = 1e-12
    assert(math.abs(out(1L)._1 - 0.4) < eps && math.abs(out(1L)._2 - 1.0 / 3) < eps)
    assert(math.abs(out(2L)._1 - 0.4) < eps && math.abs(out(2L)._2 - 0.0) < eps)
    assert(math.abs(out(3L)._1 - 0.2) < eps && math.abs(out(3L)._2 - 2.0 / 3) < eps)
  }

  test("hits: both score columns are L1-normalized every iteration; parallel edges collapse") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 2L), (1L, 4L))
    val out = hitsOf(e ++ e, iters = 3) // duplicates must not double mass
    assert(math.abs(out.values.map(_._1).sum - 1.0) < 1e-12)
    assert(math.abs(out.values.map(_._2).sum - 1.0) < 1e-12)
    assert(out === hitsOf(e, iters = 3))
    // vertex 1 has no in-edges → auth exactly 0
    assert(out(1L)._2 === 0.0)
  }

  test("NULL-endpoint edges drop across the graph family — no NULL vertex, no leaked mass") {
    val e = Seq((Some(1L), Some(2L)), (Some(2L), Some(1L)),
      (Option.empty[Long], Some(1L)), (Some(2L), Option.empty[Long]))
      .toDF("s", "t")
    val pr = Graph.pageRank(e, col("s"), col("t"), iterations = 2)
      .as[(Long, Long, Double)].collect()
    assert(pr.map(_._1).toSet === Set(1L, 2L), "NULL vertex minted")
    assert(math.abs(pr.map(_._3).sum - 1.0) < 1e-12,
      "mass leaked through a NULL-endpoint edge")
    val ht = Graph.hits(e, col("s"), col("t"), iterations = 1)
      .as[(Long, Double, Double)].collect()
    assert(ht.map(_._1).toSet === Set(1L, 2L))
    val lp = Graph.labelPropagation(e, col("s"), col("t"), rounds = 2)
      .as[(Long, Long)].collect()
    assert(lp.map(_._1).toSet === Set(1L, 2L))
  }

  test("adamicAdar: 4-cycle hand graph — diagonals score 2/ln2, edges never appear") {
    // square 1-2-3-4-1: non-adjacent pairs (1,3) and (2,4), each with
    // both off-corners (deg 2) as common neighbors
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
    val out = Graph.adamicAdar(e.toDF("s", "t"), col("s"), col("t"),
        minCommon = 2)
      .as[(Long, Long, Long, Double)].collect().toSet
    val aa = math.floor(2.0 / math.log(2.0) * 1e6 + 0.5) / 1e6
    assert(out === Set((1L, 3L, 2L, aa), (2L, 4L, 2L, aa)))
  }

  test("adamicAdar: minCommon filters; duplicate/self-loop edges collapse first") {
    // path 1-2-3: (1,3) has ONE common neighbor — present at
    // minCommon=1, gone at 2; noise edges must not change the score
    val e = Seq((1L, 2L), (2L, 3L), (2L, 1L), (2L, 2L))
    val one = Graph.adamicAdar(e.toDF("s", "t"), col("s"), col("t"),
        minCommon = 1)
      .as[(Long, Long, Long, Double)].collect().toSet
    val aa = math.floor(1.0 / math.log(2.0) * 1e6 + 0.5) / 1e6
    assert(one === Set((1L, 3L, 1L, aa)))
    assert(Graph.adamicAdar(e.toDF("s", "t"), col("s"), col("t"),
      minCommon = 2).count() === 0L)
  }

  test("adamicAdar: maxCenterDegree excludes hubs from centering, not from scoring") {
    // hub h=10 over leaves 1..4, plus 1-2: capped at 3 the hub cannot
    // center, so the only wedges run through leaves 1 and 2 — both of
    // whose pairs are existing edges — leaving nothing; uncapped, the
    // hub yields all 6 leaf pairs minus the (1,2) edge
    val e = (1L to 4L).map(i => (10L, i)) :+ (1L, 2L)
    val capped = Graph.adamicAdar(e.toDF("s", "t"), col("s"), col("t"),
      minCommon = 1, maxCenterDegree = 3)
    assert(capped.count() === 0L)
    val full = Graph.adamicAdar(e.toDF("s", "t"), col("s"), col("t"),
        minCommon = 1)
      .as[(Long, Long, Long, Double)].collect()
    assert(full.map(r => (r._1, r._2)).toSet ===
      Set((1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)))
    val aaHub = math.floor(1.0 / math.log(4.0) * 1e6 + 0.5) / 1e6
    assert(full.forall(_._4 === aaHub))
  }
}
