package graft

import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.operators.{Sampling, TextAnalysis}
import graft.sources.Tables

/** Round-6 additions: bigram-LM scoring (hand-computed interpolated
  * probabilities), OOV-rate gating (hand-computed vocab cut),
  * leakage-safe splitting (the no-straddle property plus singleton
  * parity with seededSplit), and per-stratum sampling (quota, underfill,
  * layout independence). */
class Round6OpsSpec extends SparkSpec {
  import spark.implicits._

  // ------------------------------------------------------------ //
  // bigramLogProb                                                  //
  // ------------------------------------------------------------ //

  test("bigramLogProb: hand-computed interpolated probabilities") {
    val docs = Seq((1L, "a b a"), (2L, "a b")).toDF("doc_id", "text")
    val out = TextAnalysis.bigramLogProb(docs, col("doc_id"), col("text"),
        lambda = 0.7)
      .orderBy("doc_id")
      .as[(Long, Long, Double)].collect().toSeq
    // corpus: c2("a b")=2, c2("b a")=1; contexts c1(a)=2, c1(b)=1;
    // unigrams a:3 b:2, T=5, V=2 → Pu(a)=4/7, Pu(b)=3/7 (add-1).
    val lam = 0.7
    val pAB = lam * (2.0 / 2.0) + (1.0 - lam) * ((2.0 + 1.0) / (5.0 + 2.0))
    val pBA = lam * (1.0 / 1.0) + (1.0 - lam) * ((3.0 + 1.0) / (5.0 + 2.0))
    val exp1 = (math.log(pAB) + math.log(pBA)) / 2.0
    val exp2 = math.log(pAB)
    assert(out.map(r => (r._1, r._2)) == Seq((1L, 2L), (2L, 1L)))
    assert(math.abs(out(0)._3 - exp1) < 1e-12, s"${out(0)._3} vs $exp1")
    assert(math.abs(out(1)._3 - exp2) < 1e-12, s"${out(1)._3} vs $exp2")
  }

  test("bigramLogProb: conditional sums to 1 per context; 1-token docs drop") {
    val docs = Seq((1L, "a b"), (2L, "a c"), (3L, "solo")).toDF("doc_id", "text")
    val out = TextAnalysis.bigramLogProb(docs, col("doc_id"), col("text"))
      .as[(Long, Long, Double)].collect()
    // doc 3 has no bigram position → absent, not a null row
    assert(out.map(_._1).toSet == Set(1L, 2L))
    // P(b|a)=P(c|a)=1/2: with λ=0.7, α=1 both docs score identically
    assert(math.abs(out(0)._3 - out(1)._3) < 1e-12)
  }

  // ------------------------------------------------------------ //
  // kneserNeyLogProb                                               //
  // ------------------------------------------------------------ //

  test("kneserNeyLogProb: hand-computed discounted probabilities") {
    val docs = Seq((1L, "a b a"), (2L, "a b")).toDF("doc_id", "text")
    val out = TextAnalysis.kneserNeyLogProb(docs, col("doc_id"), col("text"),
        discount = 0.75)
      .orderBy("doc_id")
      .as[(Long, Long, Double)].collect().toSeq
    // types: c2("a b")=2, c2("b a")=1, T=2; contexts: c1(a)=2 n1f(a)=1,
    // c1(b)=1 n1f(b)=1; continuations: n1p(b)=1, n1p(a)=1.
    // P(b|a) = (2-.75)/2 + .75·1/2 · 1/2 = 0.8125
    // P(a|b) = (1-.75)/1 + .75·1/1 · 1/2 = 0.625
    val pBgivenA = 0.8125
    val pAgivenB = 0.625
    val exp1 = (math.log(pBgivenA) + math.log(pAgivenB)) / 2.0
    val exp2 = math.log(pBgivenA)
    assert(out.map(r => (r._1, r._2)) == Seq((1L, 2L), (2L, 1L)))
    assert(math.abs(out(0)._3 - exp1) < 1e-12, s"${out(0)._3} vs $exp1")
    assert(math.abs(out(1)._3 - exp2) < 1e-12, s"${out(1)._3} vs $exp2")
  }

  test("kneserNeyLogProb: brute-force differential; full-vocab conditional sums to 1") {
    // deterministic synthetic corpus: 40 docs over a 12-word vocab with
    // skewed bigram structure (some words follow many contexts, some one)
    val vocab = Vector("s0", "s1", "s2", "s3", "s4", "s5",
      "t0", "t1", "t2", "t3", "t4", "francisco")
    def lcg(x: Long): Long = (x * 6364136223846793005L + 1442695040888963407L)
    val docs = (1L to 40L).map { id =>
      val n = 4 + (id % 7).toInt
      val ws = Iterator.iterate(lcg(id))(lcg).take(n).map { h =>
        val i = math.floorMod(h, 16).toInt
        if (i >= 12) "francisco" else vocab(i)   // hub word: frequent...
      }.toSeq
      // ...but "francisco" only ever FOLLOWS "s0" (the KN motivation)
      val fixed = ws.zip("s0" +: ws).map { case (w, prev) =>
        if (w == "francisco" && prev != "s0") "s0" else w }
      (id, fixed.mkString(" "))
    }
    val d = 0.75
    // plain-Scala KN from first principles
    val bgs = docs.flatMap { case (id, t) =>
      t.split(" ").sliding(2).filter(_.length == 2).map(p => (id, (p(0), p(1)))) }
    val c2 = bgs.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val c1 = c2.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val n1f = c2.keys.toSeq.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val n1p = c2.keys.toSeq.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val tT = c2.size.toDouble
    def pKN(w1: String, w2: String): Double =
      (math.max(c2.getOrElse((w1, w2), 0L).toDouble - d, 0.0)
        + d * n1f(w1) * (n1p.getOrElse(w2, 0L) / tT)) / c1(w1)
    // the smoothing law: over the FULL vocab each conditional is exactly 1
    for (w1 <- c1.keys)
      assert(math.abs(vocab.map(pKN(w1, _)).sum - 1.0) < 1e-12, w1)
    val brute = bgs.groupBy(_._1).view.mapValues { bs =>
      (bs.size.toLong, bs.map { case (_, (w1, w2)) =>
        math.log(pKN(w1, w2)) }.sum / bs.size) }.toMap
    val out = TextAnalysis.kneserNeyLogProb(
        docs.toDF("doc_id", "text"), col("doc_id"), col("text"), discount = d)
      .as[(Long, Long, Double)].collect()
    assert(out.length === brute.size)
    out.foreach { case (id, n, lp) =>
      val (bn, blp) = brute(id)
      assert(n === bn, s"doc $id")
      assert(math.abs(lp - blp) < 1e-9, s"doc $id: $lp vs $blp")
    }
  }

  // ------------------------------------------------------------ //
  // bigramLlr                                                      //
  // ------------------------------------------------------------ //

  test("bigramLlr: hand-computed Dunning G²; zero cells contribute 0") {
    // corpus "a b a b c b": c12(ab)=2 ba=1 bc=1 cb=1; cw1 a=2 b=2 c=1;
    // cw2 b=3 a=1 c=1; N=5. For "a b": o12 = cw1(a)-2 = 0 (zero cell).
    val docs = Seq((1L, "a b a b c b")).toDF("doc_id", "text")
    val out = TextAnalysis.bigramLlr(docs, col("doc_id"), col("text"),
        minCount = 1L, topN = 10)
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    def g2(o11: Double, cw1: Double, cw2: Double, n: Double): Double = {
      def t(o: Double, e: Double) = if (o > 0.0) o * math.log(o / e) else 0.0
      val (o12, o21, o22) = (cw1 - o11, cw2 - o11, n - cw1 - cw2 + o11)
      2.0 * (t(o11, cw1 * cw2 / n) + t(o12, cw1 * (n - cw2) / n)
        + t(o21, (n - cw1) * cw2 / n) + t(o22, (n - cw1) * (n - cw2) / n))
    }
    def rr(x: Double) = math.floor(x * 10000 + 0.5) / 10000.0
    assert(out(("a", "b"))._1 == 2L)
    assert(out(("a", "b"))._2 == rr(g2(2, 2, 3, 5)))
    assert(out(("b", "a"))._2 == rr(g2(1, 2, 1, 5)))
    assert(out(("c", "b"))._2 == rr(g2(1, 1, 3, 5)))
  }

  // ------------------------------------------------------------ //
  // oovRate                                                        //
  // ------------------------------------------------------------ //

  test("oovRate: hand-computed vocab cut and gate") {
    val docs = Seq((1L, "x x y"), (2L, "y z")).toDF("doc_id", "text")
    // counts: x:2 y:2 z:1 → top-2 vocab (count desc, tok asc) = {x, y}
    val out = TextAnalysis.oovRate(docs, col("doc_id"), col("text"),
        vocabSize = 2, maxOovRate = 0.4)
      .orderBy("doc_id")
      .as[(Long, Long, Double, Boolean)].collect().toSeq
    assert(out == Seq((1L, 3L, 0.0, true), (2L, 2L, 0.5, false)))
  }

  test("oovRate: vocab larger than the corpus → zero OOV everywhere") {
    val docs = Seq((1L, "p q"), (2L, "q r s")).toDF("doc_id", "text")
    val out = TextAnalysis.oovRate(docs, col("doc_id"), col("text"),
        vocabSize = 100, maxOovRate = 0.0)
      .as[(Long, Long, Double, Boolean)].collect()
    assert(out.forall(r => r._3 == 0.0 && r._4))
  }

  // ------------------------------------------------------------ //
  // leakageSafeSplit                                               //
  // ------------------------------------------------------------ //

  test("leakageSafeSplit: components never straddle; singletons ≡ seededSplit") {
    val ids = (1L to 200L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (150L, 151L))
      .toDF("id_a", "id_b")
    val weights = Seq(("train", 0.8), ("val", 0.1), ("test", 0.1))
    val out = Sampling.leakageSafeSplit(ids, col("id"), pairs,
        idA = "id_a", idB = "id_b", seed = "t6", weights = weights)
      .select(col("id"), col("cluster_id"), col("split"))
      .as[(Long, Long, String)].collect()
    val byId = out.map(r => r._1 -> r).toMap
    assert(out.length == 200)
    // whole chain 1-2-3 under representative 1, one split
    assert(Seq(1L, 2L, 3L).map(byId(_)._2).toSet == Set(1L))
    assert(Seq(1L, 2L, 3L).map(byId(_)._3).toSet.size == 1)
    assert(Seq(10L, 11L).map(byId(_)._3).toSet.size == 1)
    assert(Seq(150L, 151L).map(byId(_)._3).toSet.size == 1)
    // rows in no pair: identical assignment to plain seededSplit
    val paired = Set(1L, 2L, 3L, 10L, 11L, 150L, 151L)
    val plain = Sampling.seededSplit(ids, col("id"), "t6", weights)
      .as[(Long, String)].collect().toMap
    out.filterNot(r => paired(r._1)).foreach { r =>
      assert(r._2 == r._1 && r._3 == plain(r._1))
    }
    // the fixture is big enough that all three splits appear
    assert(out.map(_._3).toSet == Set("train", "val", "test"))
  }

  test("leakageSafeSplit: empty pair set degrades to plain seededSplit") {
    val ids = (1L to 40L).toDF("id")
    val noPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val weights = Seq(("train", 0.9), ("test", 0.1))
    val out = Sampling.leakageSafeSplit(ids, col("id"), noPairs,
        "id_a", "id_b", "t6e", weights)
      .select(col("id"), col("cluster_id"), col("split"))
      .as[(Long, Long, String)].collect()
    val plain = Sampling.seededSplit(ids, col("id"), "t6e", weights)
      .as[(Long, String)].collect().toMap
    assert(out.length == 40)
    out.foreach { r => assert(r._2 == r._1 && r._3 == plain(r._1)) }
  }

  // ------------------------------------------------------------ //
  // stratumSample                                                  //
  // ------------------------------------------------------------ //

  test("stratumSample: exact quota, honest underfill, layout independence") {
    val rows = ((1L to 50L).map(i => ("a", i)) ++ (101L to 105L).map(i => ("b", i)))
      .toDF("src", "id")
    val out = Sampling.stratumSample(rows, col("src"), col("id"),
        n = 10, seed = "s6")
      .as[(String, Long, Long)].collect()
    val bySrc = out.groupBy(_._1)
    assert(bySrc("a").length == 10)
    assert(bySrc("b").length == 5)                 // underfills, no backfill
    assert(out.forall(_._3 <= 10))
    // same sample regardless of physical layout
    val again = Sampling.stratumSample(rows.repartition(7), col("src"),
        col("id"), n = 10, seed = "s6")
      .as[(String, Long, Long)].collect()
    assert(out.sortBy(r => (r._1, r._2)).toSeq ==
      again.sortBy(r => (r._1, r._2)).toSeq)
    // a different seed draws a different subset (50C10 ≫ collision odds)
    val other = Sampling.stratumSample(rows, col("src"), col("id"),
        n = 10, seed = "s7")
      .as[(String, Long, Long)].collect()
    assert(other.filter(_._1 == "a").map(_._2).toSet !=
      bySrc("a").map(_._2).toSet)
  }

  // ------------------------------------------------------------ //
  // trainingMixTokens                                              //
  // ------------------------------------------------------------ //

  test("trainingMixTokens: largest fitting prefix per stratum, token units") {
    val rows = Seq(
      ("a", 1L, 5L, 3.0), ("a", 2L, 4L, 2.0), ("a", 3L, 1L, 1.0),
      ("b", 4L, 2L, 9.0), ("b", 5L, 2L, 8.0))
      .toDF("src", "id", "n_tok", "score")
    val out = Sampling.trainingMixTokens(rows, col("src"), col("n_tok"),
        rankBy = col("score"), tieBreak = col("id"),
        budgetTokens = 10L, shares = Seq(("a", 0.6), ("b", 0.4)))
      .select(col("id"), col("cum_tokens"))
      .as[(Long, Long)].collect().toMap
    // stratum a (quota 6): prefix 5, 5+4=9 > 6 stops — the cumulative
    // sum is monotone, so nothing after the first overflow re-enters;
    // stratum b (quota 4) fits both rows (2, 4)
    assert(out.keySet == Set(1L, 4L, 5L))
    assert(out(1L) == 5L && out(4L) == 2L && out(5L) == 4L)
    // unlisted stratum drops entirely
    val out2 = Sampling.trainingMixTokens(rows, col("src"), col("n_tok"),
        col("score"), col("id"), 10L, Seq(("a", 1.0)))
      .select(col("src")).distinct().as[String].collect()
    assert(out2.toSeq == Seq("a"))
  }

  test("trainingMixTokens: NULL token counts drop before the window; " +
      "non-positive counts still refuse loudly") {
    // the null-weight row (id 9, best score) must NOT shift the ranks
    // or running sums of the surviving rows: same mix as if absent
    val dirty = Seq(
      ("a", 9L, Option.empty[Long], 9.0),
      ("a", 1L, Some(5L), 3.0), ("a", 2L, Some(4L), 2.0),
      ("a", 3L, Some(1L), 1.0))
      .toDF("src", "id", "n_tok", "score")
    val out = Sampling.trainingMixTokens(dirty, col("src"), col("n_tok"),
        rankBy = col("score"), tieBreak = col("id"),
        budgetTokens = 10L, shares = Seq(("a", 0.6)))
      .select(col("id"), col("cum_tokens")).as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 5L))
    // zero/negative counts remain a loud contract violation (they are
    // DATA present but nonsensical, not missing): in-plan raise_error
    val bad = Seq(("a", 1L, 0L, 3.0)).toDF("src", "id", "n_tok", "score")
    val e = intercept[Exception] {
      Sampling.trainingMixTokens(bad, col("src"), col("n_tok"),
        col("score"), col("id"), 10L, Seq(("a", 1.0))).collect()
    }
    def msgs(t: Throwable): Seq[String] = Option(t).toSeq
      .flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("strictly positive")), e.toString)
  }

  // ------------------------------------------------------------ //
  // BPE learner                                                    //
  // ------------------------------------------------------------ //

  test("mergePair: greedy left-to-right, non-overlapping") {
    val df = Seq(Tuple1(Seq("a", "a", "a")), Tuple1(Seq("a", "a", "a", "a")))
      .toDF("tk")
    val out = df.select(GraftFunctions.bpeMerge(col("tk"), "a", "a").as("m"))
      .as[Seq[String]].collect().toSeq
    assert(out == Seq(Seq("a a", "a"), Seq("a a", "a a")))
  }

  test("native graft_bpe_merge ≡ declarative aggregate fold (nulls, overlaps, edges)") {
    val rnd = new scala.util.Random(13)
    val vocab = Vector("a", "b", "a b", "c", null)
    val cases: Seq[Seq[String]] =
      Seq(Seq.empty[String], Seq("a"), Seq("a", "b"), Seq("a", "a", "a")) ++
        (0 until 60).map(_ => Seq.fill(rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))))
    val df = cases.map(Tuple1(_)).toDF("tk")
    for ((w1, w2) <- Seq(("a", "b"), ("a", "a"), ("a b", "a b"), ("a b", "c"))) {
      val got = df.select(
          GraftFunctions.bpeMerge(col("tk"), w1, w2).as("n"),
          DeclarativeTwins.mergePair(col("tk"), w1, w2).as("d"))
        .collect()
      got.zipWithIndex.foreach { case (r, i) =>
        assert(r.getSeq[String](0) == r.getSeq[String](1),
          s"case $i diverged for ($w1, $w2): ${cases(i)}")
      }
    }
    // null array → null, matching the fold
    val nr = Seq(Tuple1(null.asInstanceOf[Seq[String]])).toDF("tk")
      .select(GraftFunctions.bpeMerge(col("tk"), "a", "b")).collect()
    assert(nr(0).isNullAt(0))
  }

  test("SQL surface: graft_bpe_merge registered with literal-checked args") {
    val out = spark.sql(
      "SELECT graft_bpe_merge(array('a','b','c'), 'a', 'b') AS m")
      .as[Seq[String]].head()
    assert(out == Seq("a b", "c"))
    val e = intercept[Exception] {
      spark.sql("SELECT graft_bpe_merge(array('a'), upper('a'), 'b')").collect()
    }
    assert(e.getMessage.contains("string literal"))
  }

  test("learnBpeMerges: hand-computed two-round vocabulary") {
    val docs = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    val merges = TextAnalysis.learnBpeMerges(docs, col("text"), nMerges = 2)
      .orderBy("merge_rank")
      .as[(Long, String, String, String, Long)].collect().toSeq
    // round 1: (a,b)×3 wins; corpus → [a b, a b] / [a b, c]
    // round 2: ("a b","a b")×1 vs ("a b",c)×1 — tie breaks on w2
    assert(merges == Seq(
      (1L, "a", "b", "a b", 3L),
      (2L, "a b", "a b", "a b a b", 1L)))
  }

  test("learnBpeMerges: stops early when no adjacent pair remains") {
    val docs = Seq((1L, "x"), (2L, "y")).toDF("doc_id", "text")
    val merges = TextAnalysis.learnBpeMerges(docs, col("text"), nMerges = 5)
    assert(merges.count() == 0)
  }

  test("applyBpeMerges reproduces the learner's corpus rewrite") {
    val docs = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    val applied = docs.select(
        graft.functions.GraftFunctions.tokens(col("text")).as("tk"))
      .select(TextAnalysis.applyBpeMerges(col("tk"),
        Seq(("a", "b"), ("a b", "a b"))).as("m"))
      .as[Seq[String]].collect().toSeq.sortBy(_.length)
    assert(applied == Seq(Seq("a b a b"), Seq("a b", "c")))
  }

  // ------------------------------------------------------------ //
  // review-hardening guards                                        //
  // ------------------------------------------------------------ //

  test("weightedSample fails loudly on non-positive weights (no silent rank-1 NULLs)") {
    val rows = Seq((1L, 5.0), (2L, 0.0), (3L, 2.0)).toDF("id", "w")
    val e = intercept[Exception] {
      Sampling.weightedSample(rows, col("id"), col("w"), k = 2, seed = "g").collect()
    }
    assert(e.getMessage.contains("strictly positive")
      || e.getCause != null && e.getCause.getMessage.contains("strictly positive"))
    // all-positive weights keep working
    val ok = Sampling.weightedSample(rows.filter(col("w") > 0),
      col("id"), col("w"), k = 2, seed = "g").collect()
    assert(ok.length == 2)
  }

  test("writeParquetSized refuses a plan with no usable size estimate") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    // LogicalRDD reports defaultSizeInBytes (Long.MaxValue) — sizing
    // from it would mean a ~65k-file write for 3 rows
    val statless = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L), Row(2L), Row(3L))),
      StructType(Seq(StructField("id", LongType))))
    val tmp = java.nio.file.Files.createTempDirectory("graft_sized_").toString
    val e = intercept[IllegalArgumentException] {
      graft.sources.Sinks.writeParquetSized(statless, s"$tmp/out")
    }
    assert(e.getMessage.contains("no usable size estimate"))
  }

  test("pageRank rejects a teleport set disjoint from the graph") {
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val ghosts = Seq(99L, 100L).toDF("id")
    val e = intercept[IllegalArgumentException] {
      graft.operators.Graph.pageRank(edges, col("src"), col("dst"),
        iterations = 1, teleportTo = Some(ghosts))
    }
    assert(e.getMessage.contains("no seeds present"))
    // out-of-graph seeds are EXCLUDED from the mass split: with one
    // real seed + one ghost, Σ rank must still be 1
    val mixed = Seq(1L, 99L).toDF("id")
    val ranks = graft.operators.Graph.pageRank(edges, col("src"), col("dst"),
        iterations = 2, teleportTo = Some(mixed))
      .agg(sum(col("rank"))).as[Double].head()
    assert(math.abs(ranks - 1.0) < 1e-9, s"rank mass leaked: $ranks")
  }

  // ------------------------------------------------------------ //
  // hardNegatives                                                  //
  // ------------------------------------------------------------ //

  test("hardNegatives: band excludes near-dups and too-easy negatives; self excluded") {
    import graft.operators.Similarity
    val emb = Tables.load(spark, sf("sf0.001"), "embeddings")
    val out = Similarity.hardNegatives(
        emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec")),
        emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec")),
        k = 3, loCos = 0.05, hiCos = 0.4, planes = 8, dim = 64)
      .as[(Long, Long, Long, Double)].collect()
    assert(out.nonEmpty, "fixture must mine some negatives")
    assert(out.forall(r => r._4 >= 0.05 && r._4 < 0.4),
      "every mined negative must sit inside the band")
    assert(out.forall(r => r._1 != r._3), "self must never be mined")
    assert(out.forall(_._2 <= 3))
    out.groupBy(_._1).values.foreach { rs =>
      assert(rs.map(_._2).sorted.toSeq == (1L to rs.length).toSeq,
        "per-query ranks must be dense from 1")
      // hardest (highest cosine) first
      assert(rs.sortBy(_._2).map(_._4).toSeq ==
        rs.map(_._4).toSeq.sorted.reverse)
    }
  }

  // ------------------------------------------------------------ //
  // q117 composition smoke on real testdata                        //
  // ------------------------------------------------------------ //

  test("corpus manifest: shards bounded, docs and tokens positive") {
    val out = Queries.queries("q117_corpus_manifest")(spark, sf("sf0.001"))
      .as[(Long, Long, Long)].collect()
    assert(out.nonEmpty)
    assert(out.forall(r => r._1 >= 0 && r._1 < 8))
    assert(out.forall(r => r._2 > 0 && r._3 > 0))
  }
}
