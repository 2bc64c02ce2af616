package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.sources.Tables

/** Quality checks for the approximate operators: HLL distinct error and
  * LSH-ANN recall against the exact baselines on real testdata. */
class ApproxRecallSpec extends SparkSpec {
  import spark.implicits._

  test("approx_count_distinct within 5% of exact") {
    val li = Tables.lineitem(spark, sf("sf0.01"))
    val (exact, approx) = li.agg(
      countDistinct(col("l_partkey")).cast("double"),
      approx_count_distinct(col("l_partkey")).cast("double"))
      .as[(Double, Double)].collect().head
    assert(math.abs(approx - exact) / exact < 0.05,
      s"approx $approx vs exact $exact")
  }

  test("excludeSameId=false scores colliding-id pairs across independent datasets") {
    // query id 1 and corpus id 1 are DIFFERENT vectors from independent
    // id spaces; the default exclusion drops their (real) pair
    val q = Seq((1L, Array(1.0f, 0.0f))).toDF("q_id", "q_vec")
    val c = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)))
      .toDF("c_id", "c_vec")
    val dflt = Similarity.bruteForceTopK(q, c, k = 2)
      .select("c_id").as[Long].collect().toSet
    assert(dflt === Set(2L), "default excludes the colliding id")
    val cross = Similarity.bruteForceTopK(q, c, k = 2, excludeSameId = false)
      .select("rank", "c_id").as[(Long, Long)].collect().toMap
    assert(cross === Map(1L -> 1L, 2L -> 2L),
      "independent id spaces must rank the colliding-id vector")
  }

  test("LSH ANN: results are true bucket-mates ranked consistently with brute force") {
    val dir = sf("sf0.001")
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val c = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))

    val brute = Similarity.bruteForceTopK(q, c, k = 5)
      .select("q_id", "rank", "c_id", "cos")
      .as[(Long, Long, Long, Double)].collect()
    val bruteBest = brute.filter(_._2 == 1L).map(r => r._1 -> r._4).toMap

    val lsh = Similarity.lshTopK(q, c, k = 5, planes = 4, dim = 64)
      .select("q_id", "rank", "c_id", "cos")
      .as[(Long, Long, Long, Double)].collect()

    assert(lsh.nonEmpty)
    // ANN never beats the exact best for the same query
    lsh.filter(_._2 == 1L).foreach { case (qid, _, _, cos) =>
      assert(cos <= bruteBest(qid) + 1e-9, s"q$qid: lsh $cos > brute ${bruteBest(qid)}")
    }
    // within one query, ranks are ordered by cosine descending
    lsh.groupBy(_._1).foreach { case (_, rows) =>
      val byRank = rows.sortBy(_._2).map(_._4)
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
    }
    // recall@5: report-and-floor (single-probe LSH with 16 buckets on
    // 500 vectors is intentionally coarse; it must still find overlap)
    val bruteSets = brute.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    val lshSets = lsh.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    // every query counts — one with no bucket-mates contributes 0
    val recalls = bruteSets.map { case (qid, ids) =>
      lshSets.getOrElse(qid, Set.empty[Long]).intersect(ids).size.toDouble / 5.0 }
    assert(recalls.sum / recalls.size > 0.1,
      s"mean recall@5 ${recalls.sum / recalls.size}")

    // multi-probe (bucket + all Hamming-1 neighbors) must not lose
    // recall versus single-probe
    val multi = Similarity.lshMultiProbeTopK(q, c, k = 5, planes = 4, dim = 64)
      .select("q_id", "rank", "c_id", "cos")
      .as[(Long, Long, Long, Double)].collect()
    val multiSets = multi.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    val multiRecalls = bruteSets.map { case (qid, ids) =>
      multiSets.getOrElse(qid, Set.empty[Long]).intersect(ids).size.toDouble / 5.0 }
    assert(multiRecalls.sum / multiRecalls.size >= recalls.sum / recalls.size,
      s"multi-probe recall ${multiRecalls.sum / multiRecalls.size} < single ${recalls.sum / recalls.size}")
  }

  test("IVF with in-plan recall: column agrees with an external recompute; gate trips") {
    val dir = sf("sf0.001")
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val c = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))

    // Row-based collect: a stranded query (empty probed cells) appears
    // as one row with NULL c_id and recall 0.0 — must not NPE a typed
    // primitive encoder
    val gatedRows = Similarity.ivfTopKWithRecall(q, c, k = 5, nLists = 8,
        nProbe = 2, minMeanRecall = 0.0)
      .select("q_id", "c_id", "recall", "mean_recall").collect()
      .map(row => (row.getLong(0),
        if (row.isNullAt(1)) None else Some(row.getLong(1)),
        row.getDouble(2), row.getDouble(3)))
    assert(gatedRows.nonEmpty)
    // every query is represented, stranded or not
    assert(gatedRows.map(_._1).distinct.sorted.toSeq === (0L until 10L).toSeq)

    // mean_recall is constant and equals the mean of per-query recalls
    val meanCol = gatedRows.map(_._4).distinct
    assert(meanCol.length === 1)
    val perQ = gatedRows.map(r => r._1 -> r._3).distinct
    val expectedMean = math.floor(
      perQ.map(_._2).sum / perQ.length * 10000 + 0.5) / 10000.0
    assert(math.abs(meanCol.head - expectedMean) < 1e-9)

    // the recall column must equal what an external compare computes
    val brute = Similarity.bruteForceTopK(q, c, k = 5)
      .select("q_id", "c_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    gatedRows.groupBy(_._1).foreach { case (qid, rows) =>
      val ids = rows.flatMap(_._2).toSet
      val expected = math.floor(
        ids.intersect(brute.getOrElse(qid, Set.empty)).size.toDouble / 5.0
          * 10000 + 0.5) / 10000.0
      rows.foreach { case (_, _, got, _) =>
        assert(got === expected, s"q$qid recall column $got != recomputed $expected")
      }
    }

    // an unreachable threshold must fail the query loudly, not degrade
    val boom = intercept[Exception] {
      Similarity.ivfTopKWithRecall(q, c, k = 5, nLists = 8,
        nProbe = 2, minMeanRecall = 1.01).count()
    }
    assert(boom.getMessage != null)
  }

  test("PQ/ADC with k = n degrades to exact search; hand-computed distances") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 5 well-separated 2-D points; ONE subspace whose codebook holds
    // every point (codebookK = n) -> each point is its own codeword
    // with zero quantization error, so ADC == exact quantized L2²
    val pts = Seq(
      (1L, Seq(0.0f, 0.0f)), (2L, Seq(1.0f, 0.0f)), (3L, Seq(0.0f, 1.0f)),
      (4L, Seq(1.0f, 1.0f)), (5L, Seq(0.5f, 0.5f)),
      (6L, null.asInstanceOf[Seq[Float]]))          // null vec: dropped
    val c = pts.toDF("c_id", "c_vec")
    val q = pts.filter(_._1 == 1L).toDF("q_id", "q_vec")
    val out = Similarity.pqTopK(q, c, k = 4,
        m = 1, subDim = 2, codebookK = 5, iters = 2, seed = "pqt")
      .as[(Long, Int, Long, Long)].collect().toSeq
    // exact quantized L2² from (0,0), scale 1e4: e=2·5000², b=c=1e8, d=2e8;
    // the b/c tie breaks by id; self (doc 1) excluded
    assert(out === Seq(
      (1L, 1, 5L, 50000000L),
      (1L, 2, 2L, 100000000L),
      (1L, 3, 3L, 100000000L),
      (1L, 4, 4L, 200000000L)))
  }

  test("IVF+PQ with nProbe = nLists is exactly plain PQ; pruning only removes rows") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def lcg(x: Long) = x * 6364136223846793005L + 1442695040888963407L
    val docs = (1L to 80L).map { i =>
      (i, Iterator.iterate(lcg(i))(lcg).take(16)
        .map(h => (math.floorMod(h, 2000) - 1000) / 1000.0f).toSeq)
    }
    val c = docs.toDF("c_id", "c_vec")
    val q = docs.take(5).toDF("q_id", "q_vec")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Int, Long, Long)].collect().toSeq.sorted
    val pq = rows(Similarity.pqTopK(q, c, k = 3,
      m = 4, subDim = 4, codebookK = 8, iters = 2, seed = "ivfpq"))
    val all = rows(Similarity.ivfPqTopK(q, c, k = 3, nLists = 4, nProbe = 4,
      m = 4, subDim = 4, codebookK = 8, iters = 2, seed = "ivfpq"))
    assert(all === pq, "probing every list must be plain PQ")
    // real pruning: every returned (q, c, dist) pair must also appear
    // in the unpruned ADC ordering (pruning removes candidates, never
    // invents or rescores them)
    val prunedPairs = rows(Similarity.ivfPqTopK(q, c, k = 3, nLists = 4,
        nProbe = 1, m = 4, subDim = 4, codebookK = 8, iters = 2,
        seed = "ivfpq"))
      .map(r => (r._1, r._3, r._4)).toSet
    val fullPairs = rows(Similarity.pqTopK(q, c, k = 80,
        m = 4, subDim = 4, codebookK = 8, iters = 2, seed = "ivfpq"))
      .map(r => (r._1, r._3, r._4)).toSet
    assert(prunedPairs.subsetOf(fullPairs))
  }

  test("quant IVF (q38 core): nProbe = nLists is exactly the brute " +
      "quantized-L2 ranking; pruning only removes candidates") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def lcg(x: Long) = x * 6364136223846793005L + 1442695040888963407L
    val docs = (1L to 80L).map { i =>
      (i, Iterator.iterate(lcg(i))(lcg).take(16)
        .map(h => (math.floorMod(h, 2000) - 1000) / 1000.0f).toSeq)
    }
    val c = docs.toDF("c_id", "c_vec")
    val q = docs.take(5).toDF("q_id", "q_vec")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("q_id"), col("rank").cast("long"), col("c_id"),
          col("dist2"))
        .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    // the brute quantized-L2² ranking computed directly (the
    // library's bruteForceTopK ranks by COSINE — different metric)
    def qz(v: Seq[Float]) = v.map(x => math.floor(x * 10000.0 + 0.5))
    def d2(a: Seq[Float], b: Seq[Float]): Long =
      qz(a).zip(qz(b)).map { case (x, y) => (x - y) * (x - y) }.sum.toLong
    val bruteAll: Map[Long, Seq[(Long, Long)]] = docs.take(5).map {
      case (qid, qv) =>
        qid -> docs.filter(_._1 != qid)
          .map { case (cid, cv) => (cid, d2(qv, cv)) }
          .sortBy(t => (t._2, t._1))
    }.toMap
    // probing every list = no pruning = the exact quantized ranking
    val all = rows(Similarity.ivfTopKQuant(q, c, k = 3, nLists = 4,
      nProbe = 4, dim = 16, iters = 2, seed = "qivf"))
    val want = bruteAll.toSeq.flatMap { case (qid, cands) =>
      cands.take(3).zipWithIndex.map { case ((cid, d), r) =>
        (qid, (r + 1).toLong, cid, d) }
    }.sorted
    assert(all === want, "probing every list must be the exact ranking")
    // real pruning: every surviving (q, c, dist2) pair must appear in
    // the full exact ordering with the SAME distance (pruning removes
    // candidates, never invents or rescores them)
    val pruned = rows(Similarity.ivfTopKQuant(q, c, k = 3, nLists = 4,
        nProbe = 1, dim = 16, iters = 2, seed = "qivf"))
      .map(r => (r._1, r._3, r._4)).toSet
    val full = bruteAll.toSeq.flatMap { case (qid, cands) =>
      cands.map { case (cid, d) => (qid, cid, d) } }.toSet
    assert(pruned.subsetOf(full))
    // the recall evaluation: probing every list = the exact ranking =
    // recall exactly 1.0 for every query; fewer probes only lose
    val rec = Similarity.ivfRecall(q, c, k = 3, nLists = 4, nProbe = 4,
        dim = 16, iters = 2, seed = "qivf")
      .as[(Long, Long, Double)].collect().toSeq.sorted
    assert(rec.size === 5 && rec.forall(r => r._2 === 3L && r._3 === 1.0),
      rec.toString)
    val recPruned = Similarity.ivfRecall(q, c, k = 3, nLists = 4,
        nProbe = 1, dim = 16, iters = 2, seed = "qivf")
      .as[(Long, Long, Double)].collect()
    assert(recPruned.forall(_._3 <= 1.0) && recPruned.length === 5)
  }

  test("PQ rerank with candK = n-1 is exactly the brute quantized-L2 ranking") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def lcg(x: Long) = x * 6364136223846793005L + 1442695040888963407L
    val docs = (1L to 40L).map { i =>
      (i, Iterator.iterate(lcg(i))(lcg).take(16)
        .map(h => (math.floorMod(h, 2000) - 1000) / 1000.0f).toSeq)
    }
    val c = docs.toDF("c_id", "c_vec")
    val q = docs.take(3).toDF("q_id", "q_vec")
    val got = Similarity.pqRerankTopK(q, c, k = 5, candK = 39,
        m = 4, subDim = 4, codebookK = 8, iters = 2, seed = "rr")
      .as[(Long, Int, Long, Long)].collect().toSeq.sorted
    // brute exact quantized L2² ranking
    def qz(v: Seq[Float]) = v.map(x => math.floor(x * 10000.0 + 0.5))
    val want = docs.take(3).flatMap { case (qid, qv) =>
      val qq = qz(qv)
      docs.filter(_._1 != qid).map { case (cid, cv) =>
        val cq = qz(cv)
        val d = qq.zip(cq).map { case (a, b) => (a - b) * (a - b) }.sum
        (qid, cid, d.toLong)
      }.sortBy(t => (t._3, t._2)).take(5).zipWithIndex
        .map { case ((qi, ci, d), r) => (qi, r + 1, ci, d) }
    }.sorted
    assert(got === want)
  }

  test("PQ/ADC: an exact duplicate of the query ranks first") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def lcg(x: Long) = x * 6364136223846793005L + 1442695040888963407L
    val dim = 16
    val docs = (1L to 60L).map { i =>
      (i, Iterator.iterate(lcg(i))(lcg).take(dim)
        .map(h => (math.floorMod(h, 2000) - 1000) / 1000.0f).toSeq)
    }
    val clone = Seq((999L, docs.head._2))            // doc 999 == doc 1
    val c = (docs ++ clone).toDF("c_id", "c_vec")
    val q = docs.take(1).toDF("q_id", "q_vec")
    val top = Similarity.pqTopK(q, c, k = 1,
        m = 4, subDim = 4, codebookK = 8, iters = 2, seed = "pqd")
      .as[(Long, Int, Long, Long)].collect().head
    // the clone shares every code with the query, so its ADC is the
    // query's own quantization residual — the minimum any doc can score
    assert(top._3 === 999L, top)
  }

  // the native dot folds a ragged pair to the shorter length, so a
  // wrong-length vector on either side must refuse, not score
  private def lcgVecs(n: Int, dim: Int): Seq[(Long, Seq[Float])] = {
    def lcg(x: Long) = x * 6364136223846793005L + 1442695040888963407L
    (1L to n.toLong).map { i =>
      (i, Iterator.iterate(lcg(i))(lcg).take(dim)
        .map(h => (math.floorMod(h, 2000) - 1000) / 1000.0f).toSeq)
    }
  }

  private def msgs(t: Throwable): Seq[String] =
    Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))

  test("pqTopK refuses a corpus vector longer than m·subDim (its tail " +
      "would be ignored)") {
    val c = (lcgVecs(20, 64) :+ ((99L, lcgVecs(1, 72).head._2)))
      .toDF("c_id", "c_vec")
    val q = lcgVecs(2, 64).toDF("q_id", "q_vec")
    val e = intercept[Exception] {
      Similarity.pqTopK(q, c, k = 3, m = 8, subDim = 8, codebookK = 4,
        iters = 1, seed = "len").collect()
    }
    assert(msgs(e).exists(_.contains("vector dimension guard")), e.toString)
  }

  test("ivfTopKQuant refuses a query vector shorter than dim (it would " +
      "be probed and scored on a min-length fold)") {
    val c = lcgVecs(20, 64).toDF("c_id", "c_vec")
    val q = Seq((1L, lcgVecs(1, 60).head._2)).toDF("q_id", "q_vec")
    val e = intercept[Exception] {
      Similarity.ivfTopKQuant(q, c, k = 3, nLists = 2, nProbe = 1,
        dim = 64, iters = 1, seed = "len").collect()
    }
    assert(msgs(e).exists(_.contains("vector dimension guard")), e.toString)
  }
}
