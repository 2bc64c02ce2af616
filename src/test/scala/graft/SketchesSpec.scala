package graft

import org.apache.spark.sql.functions._
import graft.operators.Sketches

/** Count-Min Sketch laws: never undercounts, exact when collision-free,
  * shard-mergeable, layout-independent, bounded state. */
class SketchesSpec extends SparkSpec {
  import spark.implicits._

  private val width = 64
  private def counts(rows: Seq[(String, Long)]) = rows.toDF("tok", "cnt")

  test("estimates never undercount; tiny key set over a wide sketch is exact") {
    val c = counts(Seq(("alpha", 5L), ("beta", 3L), ("gamma", 1L)))
    val cms = Sketches.cmsFromCounts(c, col("tok"), col("cnt"), width)
    val est = Sketches.cmsEstimate(c, cms, col("tok"), width)
      .select("tok", "cnt", "cms_est").as[(String, Long, Long)]
      .collect().toSeq
    est.foreach { case (tokn, cnt, e) =>
      assert(e >= cnt, s"$tokn undercounted: $e < $cnt") }
    // 3 keys in 3×64 cells: collisions impossible to matter → exact
    assert(est.forall { case (_, cnt, e) => e == cnt }, est)
  }

  test("an absent key estimates from empty cells (possibly zero, never negative)") {
    val c = counts(Seq(("alpha", 5L)))
    val cms = Sketches.cmsFromCounts(c, col("tok"), col("cnt"), width)
    val est = Sketches.cmsEstimate(
        Seq(("nosuchkey", 0L)).toDF("tok", "cnt"), cms, col("tok"), width)
      .select("cms_est").as[Long].head()
    assert(est >= 0L)
  }

  test("sketch state is bounded by depth × width and merges by cell-wise sum") {
    val shard1 = counts(Seq.tabulate(300)(i => (s"tok$i", (i % 7 + 1).toLong)))
    val shard2 = counts(Seq.tabulate(300)(i => (s"tok${i + 150}", (i % 5 + 1).toLong)))
    val cms1 = Sketches.cmsFromCounts(shard1, col("tok"), col("cnt"), width)
    val cms2 = Sketches.cmsFromCounts(shard2, col("tok"), col("cnt"), width)
    assert(cms1.count() <= 3L * width)
    // merged sketch == sketch of the concatenated count stream
    val merged = cms1.unionByName(cms2)
      .groupBy("row_idx", "bucket").agg(sum("cnt").as("cnt"))
    val direct = Sketches.cmsFromCounts(
      shard1.unionByName(shard2), col("tok"), col("cnt"), width)
    val m = merged.as[(Int, Long, Long)].collect().toSet
    val d = direct.as[(Int, Long, Long)].collect().toSet
    assert(m === d)
  }

  test("sketch and estimates are layout-independent") {
    val c = counts(Seq.tabulate(500)(i => (s"w$i", (i % 11 + 1).toLong)))
    def run(df: org.apache.spark.sql.DataFrame) = {
      val cms = Sketches.cmsFromCounts(df, col("tok"), col("cnt"), width)
      Sketches.cmsEstimate(df, cms, col("tok"), width)
        .select("tok", "cms_est").as[(String, Long)].collect().toMap
    }
    assert(run(c) === run(c.repartition(13)))
  }

  test("bottomK: k smallest distinct per group, ascending; small groups keep everything") {
    val rows = (Seq.tabulate(50)(i => ("big", (100 - i).toLong)) ++
      Seq(("big", 55L), ("small", 3L), ("small", 9L)))  // dup 55 collapses
      .toDF("grp", "h")
    val got = Sketches.bottomK(rows, col("grp"), col("h"), k = 5)
      .as[(String, Seq[Long])].collect().toMap
    assert(got("big") === Seq(51L, 52L, 53L, 54L, 55L))
    assert(got("small") === Seq(3L, 9L))
  }

  test("kmvJaccard: disjoint sets estimate 0, identical sets 1, sub-k unions exact") {
    val lists = Seq(
      ("a", Seq(1L, 2L, 3L, 4L)),
      ("b", Seq(1L, 2L, 3L, 4L)),
      ("c", Seq(5L, 6L, 7L, 8L)),
      ("d", Seq(1L, 2L, 5L, 6L))).toDF("grp", "hs")
    val est = Sketches.kmvJaccard(lists, k = 16)
      .as[(String, String, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(est(("a", "b")) === 1.0)
    assert(est(("a", "c")) === 0.0)
    // |a ∩ d| = 2, |a ∪ d| = 6 → exact because the union fits in k
    assert(math.abs(est(("a", "d")) - 2.0 / 6.0) < 1e-12)
  }

  test("kmv merge law: bottom-k of a union == bottom-k of concatenated bottom-ks") {
    val xs = Seq.tabulate(300)(i => ("x", (i * 7 % 1000).toLong)).toDF("grp", "h")
    val ys = Seq.tabulate(300)(i => ("x", (i * 11 % 1000).toLong)).toDF("grp", "h")
    val k = 20
    val direct = Sketches.bottomK(xs.unionByName(ys), col("grp"), col("h"), k)
      .as[(String, Seq[Long])].head()._2
    // merge path: concat the two shards' sketches, re-cut
    val bx = Sketches.bottomK(xs, col("grp"), col("h"), k)
    val by = Sketches.bottomK(ys, col("grp"), col("h"), k)
    val merged = bx.unionByName(by)
      .select(col("grp"), explode(col("hs")).as("h"))
    val recut = Sketches.bottomK(merged, col("grp"), col("h"), k)
      .as[(String, Seq[Long])].head()._2
    assert(recut === direct)
  }

  test("bottomKSample: deterministic, layout-independent, exact-k membership by hash") {
    val rows = Seq.tabulate(200)(i => (s"key$i", i.toDouble)).toDF("k", "v")
    def run(df: org.apache.spark.sql.DataFrame) =
      Sketches.bottomKSample(df, col("k"), col("v"), k = 32, seed = "s")
        .as[(Long, String, Double)].collect().toSet
    val a = run(rows)
    assert(a.size === 32)
    assert(a === run(rows.repartition(17)))           // layout-independent
    assert(a === run(rows.orderBy(col("v").desc)))    // scan-order-independent
    // sampling 200 of 200 returns everything
    assert(Sketches.bottomKSample(rows, col("k"), col("v"), 500, "s").count() === 200L)
  }

  test("bottomKSample merge law: per-shard samples re-cut == whole-corpus sample") {
    val shard1 = Seq.tabulate(150)(i => (s"a$i", i.toDouble)).toDF("k", "v")
    val shard2 = Seq.tabulate(150)(i => (s"b$i", (i + 1000).toDouble)).toDF("k", "v")
    val k = 24
    val direct = Sketches.bottomKSample(
        shard1.unionByName(shard2), col("k"), col("v"), k, "m")
      .as[(Long, String, Double)].collect().toSet
    val s1 = Sketches.bottomKSample(shard1, col("k"), col("v"), k, "m")
    val s2 = Sketches.bottomKSample(shard2, col("k"), col("v"), k, "m")
    // the merged re-cut consumes the shards' (h, k_str, v) rows as-is:
    // hashes need no recomputation, so executors ship k rows each
    val recut = s1.unionByName(s2)
      .orderBy(col("h"), col("k_str"), col("v")).limit(k)
      .as[(Long, String, Double)].collect().toSet
    assert(recut === direct)
  }

  test("quantilesFromSample: nearest-rank selection is exact on a known set") {
    val sample = Seq.tabulate(10)(i => (i.toLong, s"k$i", (i + 1).toDouble))
      .toDF("h", "k_str", "v")
    val got = Sketches.quantilesFromSample(sample, Seq(0.31, 0.5, 1.0))
      .as[(Double, Double)].collect().toMap
    assert(got(0.31) === 4.0)  // ceil(3.1) = rank 4
    assert(got(0.5) === 5.0)   // ceil(5.0) = rank 5 (inclusive)
    assert(got(1.0) === 10.0)
    intercept[IllegalArgumentException] {
      Sketches.quantilesFromSample(sample, Seq(0.0))
    }
  }

  test("quantilesFromSample: an EMPTY sample yields NULL estimates, not an ANSI error") {
    val empty = Seq.empty[(Long, String, Double)].toDF("h", "k_str", "v")
    val got = Sketches.quantilesFromSample(empty, Seq(0.5, 1.0))
      .as[(Double, Option[Double])].collect().toSeq
    assert(got === Seq((0.5, None), (1.0, None)))
  }

  test("bottomK: hashes near 2^60 return the exact k smallest per group") {
    // neighbours 1 apart collide as doubles above 2^53: the cut must
    // order on the long itself
    val base = 1L << 60
    val rows = (0L until 8L).map(i => ("g", base + i)) ++
      Seq(("g", base + 3L), ("h", -base), ("h", -base + 1L), ("h", base))
    val got = Sketches.bottomK(rows.toDF("grp", "h"), col("grp"), col("h"), k = 3)
      .as[(String, Seq[Long])].collect().toMap
    assert(got === Map(
      "g" -> Seq(base, base + 1L, base + 2L),
      "h" -> Seq(-base, -base + 1L, base)))
  }

  test("bottomK: a NULL hash fails loudly and names the null-keyed row") {
    val bad = Seq(("g", Option.empty[Long]), ("g", Some(1L))).toDF("grp", "h")
    val e = intercept[Throwable] {
      Sketches.bottomK(bad, col("grp"), col("h"), k = 2).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("hash is NULL")))
  }

  test("groupQuantileSketch: sub-k groups are exact") {
    val rows = (1 to 10).map(i => ("a", i.toLong, i.toDouble)) ++
      Seq(("b", 100L, 5.0), ("b", 101L, 15.0))
    val df = rows.toDF("grp", "id", "v")
    val est = Sketches.groupQuantileSketch(df, col("grp"), col("id"), col("v"),
      k = 64, seed = "t", ps = Seq(0.5, 1.0))
    val got = est.as[(String, Double, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // groups smaller than k: the sample IS the group → exact nearest-rank
    assert(got(("a", 0.5)) === 5.0 && got(("a", 1.0)) === 10.0)
    assert(got(("b", 0.5)) === 5.0 && got(("b", 1.0)) === 15.0)
  }

  test("kmvDistinct: sub-k groups are exact; full sketches estimate within theory") {
    val small = Seq(("s", Seq(10L, 20L, 30L)))
    val k = 64
    // 5000 distinct hashes uniform over [0, HashMod) via a spread multiplier
    val big = ("b", Seq.tabulate(5000)(i =>
      (i.toLong * 199999L + 7L) % graft.functions.GraftFunctions.HashMod)
      .distinct.sorted.take(k))
    val lists = (small ++ Seq(big)).toDF("grp", "hs")
    val est = Sketches.kmvDistinct(lists, k)
      .select("grp", "est_distinct").as[(String, Double)].collect().toMap
    assert(est("s") === 3.0)  // |hs| < k → the sketch IS the set
    // (k−1)·M/h_k within 4σ of the true 5000
    assert(math.abs(est("b") / 5000.0 - 1.0) < 4.0 / math.sqrt(k - 2), est("b"))
  }

  test("shape contract refuses bad depth/width loudly") {
    val c = counts(Seq(("a", 1L)))
    intercept[IllegalArgumentException] {
      Sketches.cmsFromCounts(c, col("tok"), col("cnt"), width = 0)
    }
    intercept[IllegalArgumentException] {
      Sketches.cmsFromCounts(c, col("tok"), col("cnt"), width, depth = 9)
    }
  }

  test("null laws: null values/keys/items never crash, bias, or deposit " +
      "unreachable mass") {
    import spark.implicits._

    // quantilesFromSample: ranks count NON-NULL values (collect_list
    // drops nulls) — count(*) ranks would index past the array (ANSI)
    val sample = Seq(Some(1.0), Some(2.0), Some(3.0), None, None, None, None)
      .zipWithIndex.map { case (v, i) => (i.toLong, s"k$i", v) }
      .toDF("h", "k_str", "v")
    val qs = Sketches.quantilesFromSample(sample, Seq(0.5, 1.0))
      .as[(Double, Option[Double])].collect().toMap
    assert(qs(0.5) === Some(2.0) && qs(1.0) === Some(3.0))

    // groupQuantileSketch: an all-null group yields NULL est, not a
    // crash; a mixed group ranks over its non-null values only
    val g = Seq(("a", 1L, Option(10.0)), ("a", 2L, Option.empty[Double]),
        ("a", 3L, Option(30.0)), ("b", 4L, Option.empty[Double]))
      .toDF("grp", "key", "v")
    val gq = Sketches.groupQuantileSketch(g, col("grp"), col("key"), col("v"),
        k = 10, seed = "s", ps = Seq(1.0))
      .as[(String, Double, Option[Double])].collect()
      .map(r => r._1 -> r._3).toMap
    assert(gq("a") === Some(30.0))
    assert(gq("b") === None)

    // bottomKSample: >= k null-key rows must NOT deterministically BE
    // the sample (null h would sort first); the sentinel hashes them
    // to an ordinary uniform position
    val nk = (1 to 5).map(i => (Option.empty[String], i.toDouble)) ++
      (1 to 20).map(i => (Option(s"key$i"), 100.0 + i))
    val drawn = Sketches.bottomKSample(nk.toDF("key", "v"), col("key"),
        col("v"), k = 5, seed = "s")
      .select("v").as[Double].collect().toSet
    assert(!drawn.forall(_ <= 5.0),
      "null-key rows monopolized the sample (nulls-first bias)")

    // CMS: null items are dropped at build (their mass would land in
    // unreachable NULL-bucket cells); real keys keep never-undercount
    val cms = Sketches.cmsFromCounts(
      Seq((Option("x"), 5L), (Option.empty[String], 7L)).toDF("tok", "cnt"),
      col("tok"), col("cnt"), width = 64)
    // x's 5 deposited once per depth row (default 3); the null item's 7
    // appears nowhere
    assert(cms.agg(org.apache.spark.sql.functions.sum("cnt"))
      .as[Long].collect().head === 15L)
    val est = Sketches.cmsEstimate(Seq("x").toDF("tok"), cms, col("tok"),
      width = 64).select("cms_est").as[Long].collect().head
    assert(est >= 5L)
  }

  // ------------------------------------------------------------ //
  // HLL register sketch                                           //
  // ------------------------------------------------------------ //

  private def regsOf(hs: Seq[Long], b: Int) =
    Sketches.hllRegisters(hs.map(("g", _)).toDF("grp", "h"),
        col("grp"), col("h"), b)
      .select("bucket", "r").as[(Long, Int)].collect().toMap

  test("hll registers: quadratic mix, bucket = g mod m, rank = lowest set bit of g div m, max per bucket, g=0 caps") {
    // b=2 (m=4); g = (h² + 3h + 7) mod P, hand-computed per input:
    val r = regsOf(Seq(
      0L,          // g=7:  bucket 3, w=1 → rho 1
      1L,          // g=11: bucket 3, w=2 → rho 2 (max of the two)
      2L,          // g=17: bucket 1, w=4 → rho 3
      3L,          // g=25: bucket 1, w=6 → rho 2 (3 beats it)
      285665841L   // g=0 (Tonelli root of h²+3h+7 ≡ 0 mod P):
                   //   bucket 0, w=0 → rho 31 (the all-zero cap)
    ), b = 2)
    assert(r === Map(0L -> 31, 1L -> 3, 3L -> 2))
  }

  test("hll merge law: shard registers merge by cell-wise max to the whole-set sketch") {
    val items = (1 to 4000).map(i =>
      graft.functions.HashUtil.polyHash(s"item$i"))
    val (l, rgt) = items.splitAt(1700)
    def regs(s: Seq[Long]) = Sketches.hllRegisters(
      s.map(("g", _)).toDF("grp", "h"), col("grp"), col("h"), 6)
    val merged = Sketches.hllMerge(regs(l), regs(rgt))
      .select("bucket", "r").as[(Long, Int)].collect().toMap
    val whole = regs(items).select("bucket", "r")
      .as[(Long, Int)].collect().toMap
    assert(merged === whole)
    // idempotent under duplicates: re-merging the whole changes nothing
    val again = Sketches.hllMerge(regs(items), regs(items))
      .select("bucket", "r").as[(Long, Int)].collect().toMap
    assert(again === whole)
  }

  test("hll estimate: within ~2.7 sigma of the true cardinality at m=64; linear branch at tiny n") {
    val n = 5000
    val hs = (1 to n).map(i => graft.functions.HashUtil.polyHash(s"tok$i"))
    val est = Sketches.hllEstimate(
        Sketches.hllRegisters(hs.map(("g", _)).toDF("grp", "h"),
          col("grp"), col("h"), 6), 6)
      .select("est_distinct").as[Double].head()
    assert(math.abs(est / n - 1.0) <= 0.35, s"est $est vs $n")

    // 3 distinct items: raw ≈ alpha·m²/ (m−3+ε) ≈ 46 ≤ 2.5m → the
    // linear-counting branch m·ln(m/zeros) ≈ 64·ln(64/61) ≈ 3.07
    val tiny = Seq("a", "b", "c").map(s =>
      ("g", graft.functions.HashUtil.polyHash(s)))
    val e3 = Sketches.hllEstimate(
        Sketches.hllRegisters(tiny.toDF("grp", "h"), col("grp"), col("h"), 6), 6)
      .select("est_distinct").as[Double].head()
    assert(e3 > 1.5 && e3 < 5.0, s"linear-counting estimate off: $e3")
  }

  test("hll pair union: union registers equal the registers of the concatenated set") {
    val a = (1 to 900).map(i =>
      ("ga", graft.functions.HashUtil.polyHash(s"a$i")))
    val b = (500 to 1400).map(i =>
      ("gb", graft.functions.HashUtil.polyHash(s"a$i")))  // overlaps a
    val regs = Sketches.hllRegisters(
      (a ++ b).toDF("grp", "h"), col("grp"), col("h"), 6)
    val union = Sketches.hllPairUnion(regs)
      .select("grp_a", "grp_b", "bucket", "r")
      .as[(String, String, Long, Int)].collect()
    assert(union.forall(u => u._1 == "ga" && u._2 == "gb"))
    // ground truth: registers of the two groups' hashes thrown into one
    val whole = Sketches.hllRegisters(
        (a ++ b).map(p => ("u", p._2)).toDF("grp", "h"),
        col("grp"), col("h"), 6)
      .select("bucket", "r").as[(Long, Int)].collect().toMap
    assert(union.map(u => u._3 -> u._4).toMap === whole)
    // and the pair estimate is the union estimate (groupCols plumbing)
    val estU = Sketches.hllEstimate(Sketches.hllPairUnion(regs), 6,
        "e", Seq("grp_a", "grp_b"))
      .select("e").as[Double].head()
    val estWhole = Sketches.hllEstimate(
        Sketches.hllRegisters((a ++ b).map(p => ("u", p._2)).toDF("grp", "h"),
          col("grp"), col("h"), 6), 6)
      .select("est_distinct").as[Double].head()
    assert(estU === estWhole)
  }

  test("hllEstimateGlobal: ONE row always — exactly 0.0 on an empty register table, grouped value otherwise") {
    val regsEmpty = Sketches.hllRegisters(
      Seq.empty[(String, Long)].toDF("grp", "h"), col("grp"), col("h"), 6)
    assert(Sketches.hllEstimateGlobal(regsEmpty, 6)
      .as[Double].collect().toSeq === Seq(0.0))
    val hs = (1 to 3000).map(i => ("g", graft.functions.HashUtil.polyHash(s"v$i")))
    val regs = Sketches.hllRegisters(hs.toDF("grp", "h"), col("grp"), col("h"), 6)
    val g = Sketches.hllEstimateGlobal(regs, 6).as[Double].head()
    val grouped = Sketches.hllEstimate(regs, 6)
      .select("est_distinct").as[Double].head()
    assert(g === grouped)
  }

  test("hll refuses NULL and out-of-domain hashes loudly") {
    val bad = Seq((Option("g"), Option.empty[Long])).toDF("grp", "h")
    val e = intercept[Exception] {
      Sketches.hllRegisters(bad, col("grp"), col("h"), 6).collect()
    }
    assert(e.getMessage.contains("hllRegisters"))
    val oob = Seq(("g", -5L)).toDF("grp", "h")
    val e2 = intercept[Exception] {
      Sketches.hllRegisters(oob, col("grp"), col("h"), 6).collect()
    }
    assert(e2.getMessage.contains("hllRegisters"))
  }
}
