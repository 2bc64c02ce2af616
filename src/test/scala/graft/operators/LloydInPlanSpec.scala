package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.HashUtil

/** Bit-identity pin for the r15 in-plan Lloyd loop
  * ([[Clustering.lloydCentsInPlan]] — seeds, updates, and the
  * empty-cluster fallback chained into ONE Spark action): the fused
  * multi-slice codebooks and the single-slice kMeans must equal a
  * pure-Scala sequential reference EXACTLY, double for double —
  * the same quantization, the same (hash, id) seed order, the same
  * sequential multiply-add dot folds, the same (dist², cid)
  * lexicographic argmin, the same integral sums and exact divisions.
  * If any in-plan step drifts by an ulp, the unrolled SQL oracles of
  * the whole trained-ANN family stop hash-matching — this spec is the
  * early alarm. */
class LloydInPlanSpec extends SparkSpec {

  private val scale = Clustering.QuantScale

  private def quant(v: Seq[Double]): Seq[Double] =
    v.map(x => math.floor(x * scale + 0.5))

  private def dot(a: Seq[Double], b: Seq[Double]): Double = {
    var acc = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** Sequential reference: the exact r14 collect-per-pass loop. */
  private def refLloyd(rows: Seq[(Long, Seq[Double])], k: Int, iters: Int,
                       seedKey: Long => String): Seq[(Int, Seq[Double])] = {
    val xq = rows.map { case (id, v) => (id, quant(v)) }
    var cents: Seq[(Int, Seq[Double])] = xq
      .map { case (id, v) =>
        (math.floorMod(HashUtil.polyHash(seedKey(id)), 10000L), id, v)
      }
      .sortBy(t => (t._1, t._2))
      .take(k).zipWithIndex
      .map { case ((_, _, v), i) => (i, v) }
    require(cents.nonEmpty)
    for (_ <- 1 to iters) {
      val assigned = xq.map { case (_, x) =>
        val xx = dot(x, x)
        val best = cents.map { case (cid, c) =>
          (xx - 2.0 * dot(x, c) + dot(c, c), cid)
        }.min
        (best._2, x)
      }
      val upd = assigned.groupBy(_._1).map { case (cid, members) =>
        val dim = members.head._2.length
        val n = members.length.toDouble
        cid -> (0 until dim).map(p => members.map(_._2(p)).sum / n)
      }
      cents = cents.map { case (cid, old) => (cid, upd.getOrElse(cid, old)) }
    }
    cents
  }

  private def mkDf(rows: Seq[(Long, Seq[Double])]) = {
    val sess = spark
    import sess.implicits._
    rows.toDF("id", "v")
  }

  // deterministic, unique-id corpus: three tight blobs + an outlier so
  // some cluster empties under k = 4 (the fallback arm must engage)
  private val base: Seq[(Long, Seq[Double])] =
    (0L until 30L).map { i =>
      val blob = (i % 3).toDouble
      (i, Seq.tabulate(8)(d =>
        blob * 2.0 + (d + 1) * 0.001 * ((i % 7).toDouble - 3.0)))
    }

  test("fused in-plan codebooks equal the sequential per-slice reference" +
      " exactly (doubles compared bitwise)") {
    val m = 4; val subDim = 2; val k = 4; val iters = 3
    val got = Clustering.kMeansCentroidsFused(
      mkDf(base), col("id"), col("v"), k, iters, "sp-", m, subDim)
    val want = (0 until m).map { s =>
      refLloyd(base.map { case (id, v) => (id, v.slice(s * subDim, (s + 1) * subDim)) },
        k, iters, id => s"sp-$s$id#graft-kmeans")
    }
    assert(got.size == m)
    (0 until m).foreach { s =>
      assert(got(s) == want(s), s"slice $s codebook drifted:\n${got(s)}\nvs\n${want(s)}")
    }
  }

  test("kMeans assignments ride the same in-plan loop: dist2 equals the " +
      "reference distance to the reference centroid exactly") {
    val k = 4; val iters = 2
    val out = Clustering.kMeans(mkDf(base), col("id"), col("v"),
        k, iters, "s9", dim = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1).toLong, r.getDouble(2))).toSeq
    val cents = refLloyd(base, k, iters, id => s"s9$id#graft-kmeans")
    val want = base.map { case (id, v) =>
      val x = quant(v)
      val xx = dot(x, x)
      val best = cents.map { case (cid, c) =>
        (xx - 2.0 * dot(x, c) + dot(c, c), cid)
      }.min
      (id, best._2.toLong, best._1)
    }
    assert(out.sortBy(_._1) == want.sortBy(_._1))
  }

  test("n < k input degrades to n seeds, exactly like the reference") {
    val tiny = base.take(3)
    val got = Clustering.kMeansCentroidsFused(
      mkDf(tiny), col("id"), col("v"), k = 5, iters = 2, "dg-", 2, 4)
    val want = (0 until 2).map { s =>
      refLloyd(tiny.map { case (id, v) => (id, v.slice(s * 4, (s + 1) * 4)) },
        5, 2, id => s"dg-$s$id#graft-kmeans")
    }
    assert(got.map(_.size) == Seq(3, 3))
    assert(got == want)
  }

  test("empty input refuses loudly at construction") {
    val e = intercept[IllegalArgumentException] {
      Clustering.kMeansCentroidsFused(
        mkDf(base).filter(col("id") < 0L), col("id"), col("v"),
        4, 2, "e-", 2, 4)
    }
    assert(e.getMessage.contains("input is empty"))
  }
}
