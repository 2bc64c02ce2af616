package graft

import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.operators.{Dedup, Similarity}
import graft.sources.Tables
import org.apache.spark.CheckpointDirs.withCheckpointDir

class DedupSimilaritySpec extends SparkSpec {
  import spark.implicits._

  val docs = Seq(
    (0L, "en", "the quick brown fox jumps over the lazy dog"),
    (1L, "en", "the quick brown fox jumps over the lazy dog"),      // exact dup of 0
    (2L, "en", "the quick brown fox jumps over the lazy cat"),      // near dup of 0
    (3L, "en", "completely different words appear in this sentence here"),
    (4L, "fr", "the quick brown fox jumps over the lazy dog")       // dup, other block
  ).toDF("doc_id", "lang", "text")

  test("snapshotDiff classifies added/removed/changed/unchanged by content hash") {
    val v1 = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "text")
    val v2 = Seq((2L, "b"), (3L, "x"), (4L, "d")).toDF("id", "text")
    val got = Dedup.snapshotDiff(v1, v2, col("id"), col("text"))
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq(1L -> "removed", 2L -> "unchanged",
      3L -> "changed", 4L -> "added"))
  }

  test("H1 exact dedup: identical texts share a hash; lowest id is keeper") {
    val out = Dedup.exact(docs, col("doc_id"), col("text"))
      .select("doc_id", "content_hash", "rn", "is_dup")
      .as[(Long, String, Long, Boolean)].collect().sortBy(_._1)
    val h0 = out(0)._2
    assert(out(1)._2 === h0 && out(4)._2 === h0)   // 0,1,4 identical
    assert(!out(0)._4 && out(1)._4 && out(4)._4)   // keeper is doc 0
    assert(out(2)._2 != h0)
    assert(!out(2)._4)
  }

  test("H2 shingle-Jaccard: dup pair = 1.0, near-dup high, unrelated absent") {
    val pairs = Dedup.jaccardPairs(
      Dedup.withShingles(docs, col("text"), 3), "doc_id", "lang", 0.5)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
      .map(p => (p._1, p._2) -> p._3).toMap
    assert(pairs((0L, 1L)) === 1.0)
    assert(pairs.contains((0L, 2L)) && pairs((0L, 2L)) < 1.0)
    assert(!pairs.exists(p => p._1._1 == 3L || p._1._2 == 3L)) // doc 3 unrelated
    assert(!pairs.contains((0L, 4L)))              // different block (lang)
  }

  test("H2 MinHash: identical docs → identical signatures; LSH finds the dup") {
    val sigs = Dedup.withMinHash(docs, col("text"), k = 16)
      .select("doc_id", "minhash").as[(Long, Seq[Long])].collect()
      .map(r => r._1 -> r._2).toMap
    assert(sigs(0L) === sigs(1L))
    assert(sigs(0L) !== sigs(3L))
    val cands = Dedup.lshCandidates(
      Dedup.withLshBands(Dedup.withMinHash(docs, col("text"), 16), 16, 4),
      "doc_id")
      .select("id_a", "id_b", "est_jaccard").as[(Long, Long, Double)].collect()
    assert(cands.exists(c => c._1 == 0L && c._2 == 1L && c._3 === 1.0))
    assert(!cands.exists(c => c._2 == 3L || c._1 == 3L))
  }

  test("H2 LSH-verified pairs: reliable checkpoint mode matches local mode") {
    val real = Tables.documents(spark, sf("sf0.001"))
    def pairs() = Dedup.lshVerifiedPairs(real, "doc_id", col("text"),
        k = 16, bands = 4, shingleN = 3, threshold = 0.8)
      .select("id_a", "id_b", "n_common", "jaccard")
      .as[(Long, Long, Long, Double)].collect().toSet
    val local = pairs()
    // a session checkpoint dir turns the barriers reliable
    val reliable = withCheckpointDir(spark)(_ => pairs())
    assert(reliable === local)
    assert(local.nonEmpty)
  }

  test("H2 SimHash: identical docs at Hamming 0; near-dup within 6") {
    val pairs = Dedup.simHashPairs(
      Dedup.withSimHash(docs, col("text"), bits = 24), "doc_id", "lang", 6)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Long)].collect()
      .map(p => (p._1, p._2) -> p._3).toMap
    assert(pairs((0L, 1L)) === 0L)
    assert(pairs.get((0L, 2L)).forall(_ <= 6L))
  }

  test("shingle law: fewer tokens than n → no shingles, null minhash positions") {
    import graft.functions.GraftFunctions
    val short = Seq((9L, "en", "two words")).toDF("doc_id", "lang", "text")
    val sh = short.select(GraftFunctions.shingles(
      GraftFunctions.tokens(col("text")), 3)).as[Seq[String]].collect().head
    assert(sh === Seq.empty)
    val sig = Dedup.withMinHash(short, col("text"), k = 4)
      .select("minhash").as[Seq[Option[Long]]].collect().head
    assert(sig === Seq(None, None, None, None))
  }

  test("native band hashes / agreement count match their declarative folds") {
    import graft.functions.GraftFunctions.HashMod
    val sigs = Dedup.withMinHash(docs, col("text"), k = 16)
    // band hashes: native array vs the aggregate(slice(...)) fold per band
    val diff = sigs
      .withColumn("nat", GraftFunctions.bandHashes(col("minhash"), 4))
      .withColumn("dec", transform(sequence(lit(0), lit(3)), b =>
        aggregate(slice(col("minhash"), b * 4 + 1, lit(4)), lit(0L),
          (h, v) => pmod(h * lit(31L) + v, lit(HashMod)))))
      .filter(not(col("nat") <=> col("dec")))
    assert(diff.count() === 0L)
    // shingle-less doc → all-null signature → all-null band hashes
    val short = Seq((9L, "en", "two words")).toDF("doc_id", "lang", "text")
    val nb = Dedup.withLshBands(Dedup.withMinHash(short, col("text"), 16), 16, 4)
      .select("band_hash").as[Option[Long]].collect()
    assert(nb.length === 4 && nb.forall(_.isEmpty))
    // agreement count: native vs zip_with filter size
    val pairs = sigs.select(col("doc_id"), col("minhash").as("a"))
      .crossJoin(sigs.select(col("minhash").as("b")))
      .withColumn("nat", GraftFunctions.arrayEqCount(col("a"), col("b")))
      .withColumn("dec", size(filter(zip_with(col("a"), col("b"),
        (x, y) => when(x === y, lit(1))), c => c.isNotNull)))
      .filter(col("nat") =!= col("dec"))
    assert(pairs.count() === 0L)
  }

  test("guardrail: a block above maxBlock fails fast instead of going quadratic") {
    // all five docs share one block → block size 5 > cap 4
    val ex = intercept[Exception] {
      Dedup.jaccardPairs(
        Dedup.withShingles(docs.withColumn("blk", lit("all")), col("text"), 3),
        "doc_id", "blk", 0.5, maxBlock = 4).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: msgs(e.getCause))
    assert(msgs(ex).exists(m => m != null && m.contains("maxBlock=4")), ex.getMessage)
    // …and within the cap nothing changes
    val ok = Dedup.jaccardPairs(
      Dedup.withShingles(docs, col("text"), 3), "doc_id", "lang", 0.5,
      maxBlock = 4)
    assert(ok.count() === 3)   // (0,1)=1.0, (0,2) and (1,2) near-dups
    val ex2 = intercept[Exception] {
      Dedup.simHashPairs(
        Dedup.withSimHash(docs, col("text"), bits = 24), "doc_id", "lang", 6,
        maxBlock = 2).collect()
    }
    assert(msgs(ex2).exists(m => m != null && m.contains("simHashPairs")), ex2.getMessage)
  }

  val vecs = Seq(
    (0L, 0, Seq(1.0f, 0.0f, 0.0f)),
    (1L, 0, Seq(0.9f, 0.1f, 0.0f)),
    (2L, 0, Seq(0.0f, 1.0f, 0.0f)),
    (3L, 0, Seq(0.0f, 0.0f, 1.0f))
  ).toDF("vec_id", "label", "embedding")

  test("H2 embedding near-dup pairs above threshold") {
    val pairs = Dedup.embeddingPairs(vecs, "vec_id", "embedding", "label", 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(pairs.toSeq === Seq((0L, 1L)))
  }

  test("H2 embedding near-dup with LSH-bucket blocking finds the near pair") {
    val pairs = Dedup.embeddingPairsLsh(vecs, "vec_id", "embedding",
        planes = 8, dim = 3, threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(pairs.toSeq === Seq((0L, 1L)))   // same bucket AND cos ≥ 0.9
  }

  test("H2 multi-probe embedding dedup ⊇ single-probe, no duplicate pairs") {
    val emb = graft.sources.Tables.embeddings(spark, sf("sf0.001"))
    val single = Dedup.embeddingPairsLsh(emb, "vec_id", "embedding",
        planes = 8, dim = 64, threshold = 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val multiRows = Dedup.embeddingPairsLshMultiProbe(emb, "vec_id", "embedding",
        planes = 8, dim = 64, threshold = 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    val multi = multiRows.toSet
    assert(multiRows.length === multi.size, "pairs must appear exactly once")
    assert(single.subsetOf(multi), "Hamming-1 probes can only add recall")
  }

  test("H3 brute-force top-k: correct neighbor order, self excluded") {
    val q = vecs.filter(col("vec_id") === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val c = vecs.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
    val top = Similarity.bruteForceTopK(q, c, k = 3)
      .orderBy("rank").select("c_id", "cos").as[(Long, Double)].collect()
    assert(top.head._1 === 1L)                     // closest is the near-dup
    assert(top.map(_._1).toSeq === Seq(1L, 2L, 3L))
    assert(!top.map(_._1).contains(0L))
    assert(top.head._2 > 0.99)
  }

  test("H3 LSH: native bucket expression matches the declarative spec on real embeddings") {
    val emb = graft.sources.Tables.embeddings(spark, sf("sf0.001"))
    val diff = emb
      .withColumn("nat", GraftFunctions.lshBucket(col("embedding"), planes = 8, dim = 64))
      .withColumn("dec", DeclarativeTwins.lshBucket(col("embedding"), planes = 8, dim = 64))
      .filter(col("nat") =!= col("dec"))
    assert(diff.count() === 0L)
    // short/null-element vectors take the declarative null-propagation path: bucket 0
    val degenerate = Seq(
      (0L, Seq(1.0f, 2.0f)),                        // shorter than dim
      (1L, (1 to 64).map(_.toFloat))                // full length
    ).toDF("vec_id", "embedding")
    val b = degenerate.withColumn("nat",
        GraftFunctions.lshBucket(col("embedding"), planes = 8, dim = 64))
      .select("vec_id", "nat").as[(Long, Long)].collect().toMap
    assert(b(0L) === 0L)
    assert(b(1L) !== 0L)
  }

  test("native shingles expression matches the declarative spec on real documents") {
    import graft.functions.GraftFunctions
    val docs = graft.sources.Tables.documents(spark, sf("sf0.001"))
    val diff = docs
      .withColumn("nat", GraftFunctions.shingles(
        GraftFunctions.tokens(col("text")), 3))
      .withColumn("dec", DeclarativeTwins.shingles(
        GraftFunctions.tokens(col("text")), 3))
      // null-safe compare: a plain === would null out (and silently
      // drop) exactly the rows where one side diverged to NULL
      .filter(not(col("nat") <=> col("dec")))
    assert(diff.count() === 0L)
    // the short-document empty-array law holds in the native form too
    val short = Seq((1L, "just two")).toDF("doc_id", "text")
    val empty = short.select(GraftFunctions.shingles(
      GraftFunctions.tokens(col("text")), 3).as("sh"))
      .as[Seq[String]].collect().head
    assert(empty === Seq.empty)
  }

  test("native positioned shingles match the declarative spec, including edges") {
    import graft.functions.GraftFunctions
    // real corpus: every (pos, ng) struct identical to the interpreted
    // transform/slice/concat_ws generator it replaces
    val docs = graft.sources.Tables.documents(spark, sf("sf0.001"))
    val diff = docs
      .withColumn("nat", GraftFunctions.positionedShingles(
        GraftFunctions.tokens(col("text")), 3))
      .withColumn("dec", DeclarativeTwins.positionedShingles(
        GraftFunctions.tokens(col("text")), 3))
      .filter(not(col("nat") <=> col("dec")))
    assert(diff.count() === 0L)
    // edges: repeated n-grams keep EVERY occurrence (non-distinct law),
    // null elements skip in-window, short/null arrays → empty
    val edge = Seq(
      (1L, Seq("a", "b", "a", "b", "a")),
      (2L, Seq("a", null, "b", "c")),
      (3L, null.asInstanceOf[Seq[String]]),
      (4L, Seq("x", "y"))
    ).toDF("id", "toks")
    val rows = edge
      .withColumn("nat", GraftFunctions.positionedShingles(col("toks"), 3))
      .select("id", "nat")
      .as[(Long, Seq[(Int, String)])].collect().map(r => r._1 -> r._2).toMap
    assert(rows(1L) === Seq(0 -> "a b a", 1 -> "b a b", 2 -> "a b a"))
    assert(rows(2L) === Seq(0 -> "a b", 1 -> "b c"))
    assert(rows(3L) === Seq.empty)
    assert(rows(4L) === Seq.empty)
  }

  test("native shingles: null array and null elements match the declarative spec") {
    import graft.functions.GraftFunctions
    // null ARRAY → empty shingle list (the declarative otherwise(array())
    // law); null ELEMENTS skip inside their window like concat_ws
    val edge = Seq(
      (1L, Seq("a", null, "b", "c")),
      (2L, null.asInstanceOf[Seq[String]]),
      (3L, Seq[String](null, null, null))
    ).toDF("id", "toks")
    val rows = edge
      .withColumn("nat", GraftFunctions.shingles(col("toks"), 3))
      .withColumn("dec", DeclarativeTwins.shingles(col("toks"), 3))
      .select("id", "nat", "dec")
      .as[(Long, Seq[String], Seq[String])].collect()
      .map(r => r._1 -> r).toMap
    assert(rows(1L)._2 === Seq("a b", "b c"))     // nulls dropped in-window
    assert(rows(1L)._2 === rows(1L)._3)
    assert(rows(2L)._2 === Seq.empty)             // null array → empty, not NULL
    assert(rows(2L)._2 === rows(2L)._3)
    assert(rows(3L)._2 === Seq(""))               // all-null window → "" shingle
    assert(rows(3L)._2 === rows(3L)._3)
  }

  test("fused minhash/simhash kernels skip null tokens like shingles() (no NPE)") {
    val toks = Seq((1L, Seq("a", null, "b", "c"))).toDF("id", "toks")
    // shingle windows of [a, NULL, b, c] at n=3: "a b", "b c"
    def ph(s: String) = s.foldLeft(0L)((a, c) => (a * 31 + c) % 1000000007L)
    val hs = Seq("a b", "b c").map(ph)
    val expectedSig = (0 until 4).map(t =>
      hs.map(h => (h * (2 * t + 1) + 1000003L * (t + 1)) % 1000000007L).min)
    val sig = toks.select(GraftFunctions.shingleMinHash(col("toks"), 3, 4).as("s"))
      .as[Seq[Long]].collect().head
    assert(sig === expectedSig)
    val expectedSim = (0 until 24).map { b =>
      if (2 * hs.count(h => ((h >> b) & 1L) == 1L) > hs.size) 1L << b else 0L
    }.sum
    val sim = toks.select(GraftFunctions.shingleSimHash(col("toks"), 3, 24).as("s"))
      .as[Long].collect().head
    assert(sim === expectedSim)
  }

  test("H2 decontamination: shingle-overlap pairs vs eval set, self excluded") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),   // shares 4 shingles with eval doc 10
      (2L, "alpha beta gamma delta other words"),    // shares 2 shingles with eval doc 10
      (3L, "totally unrelated text goes right here") // shares none
    ).toDF("doc_id", "text")
    val evalSet = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"),
      (1L, "alpha beta gamma delta epsilon zeta")    // same id as corpus doc 1: self-pair must drop
    ).toDF("doc_id", "text")
    val got = Dedup.decontaminate(corpus, evalSet, "doc_id", col("text"),
        shingleN = 3, minOverlap = 3)
      .as[(Long, Long, Long)].collect().toSet
    // doc 1 vs eval 10: identical 6-token docs → 4 distinct 3-gram shingles
    assert(got === Set((1L, 10L, 4L)))
  }

  test("H2 connected components: transitive clusters, keepers, multi-round chains") {
    // two clusters: a 6-vertex CHAIN 10-11-...-15 (diameter 5 — forces
    // multiple propagation rounds) and a triangle 20-21-22; pair
    // (30,31) is its own 2-cluster
    val pairs = Seq(
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L), (14L, 15L),
      (20L, 21L), (21L, 22L), (20L, 22L),
      (30L, 31L)
    ).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .as[(Long, Long, Boolean)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    (10L to 15L).foreach(v => assert(got(v) === (10L, v == 10L), s"vertex $v"))
    (20L to 22L).foreach(v => assert(got(v) === (20L, v == 20L), s"vertex $v"))
    assert(got(30L) === (30L, true) && got(31L) === (30L, false))
    assert(got.size === 11)
    // exactly one keeper per cluster
    assert(got.count(_._2._2) === 3)
  }

  test("H2 connected components (star): a long chain converges in O(log n) rounds") {
    // diameter 63: min-propagation would need ~63 rounds; the
    // alternating star operations must finish well within 12
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponentsStar(chain, "id_a", "id_b", maxRounds = 12)
      .as[(Long, Long, Boolean)].collect()
    assert(got.length === 64)
    assert(got.forall(_._2 == 0L), "all vertices must label to the chain min")
    assert(got.count(_._3) === 1)
  }

  test("H2 connected components: star and min-propagation agree on random graphs") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val nV = 30 + trial * 10
      val edges = Seq.fill(nV)((rnd.nextInt(nV).toLong, rnd.nextInt(nV).toLong))
        .filter(e => e._1 != e._2)
      val df = edges.toDF("id_a", "id_b")
      val prop = Dedup.connectedComponents(df, "id_a", "id_b")
        .as[(Long, Long, Boolean)].collect().toSet
      val star = Dedup.connectedComponentsStar(df, "id_a", "id_b")
        .as[(Long, Long, Boolean)].collect().toSet
      assert(prop === star, s"trial $trial: implementations disagree")
    }
  }

  test("H2 connected components: non-convergence fails loudly with advice") {
    val chain = (0L until 8L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException](
      Dedup.connectedComponents(chain, "id_a", "id_b", maxRounds = 2).collect())
    assert(e.getMessage.contains("not converged"), e.getMessage)
  }

  test("H3 LSH: NULL vector buckets to 0 in both native and declarative forms") {
    val df = Seq(
      (0L, Option.empty[Seq[Float]]),
      (1L, Some((1 to 64).map(_.toFloat).toSeq))
    ).toDF("vec_id", "embedding")
    val rows = df
      .withColumn("nat", GraftFunctions.lshBucket(col("embedding"), planes = 8, dim = 64))
      .withColumn("dec", DeclarativeTwins.lshBucket(col("embedding"), planes = 8, dim = 64))
      .select("vec_id", "nat", "dec").collect()
    rows.foreach { r =>
      assert(!r.isNullAt(1), s"native bucket must never be NULL: $r")
      assert(r.getLong(1) === r.getLong(2), s"forms disagree: $r")
    }
    val byId = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byId(0L) === 0L)
    assert(byId(1L) !== 0L)
  }

  test("H3 LSH: bucket assignment is deterministic and locality-preserving") {
    def buckets = vecs.withColumn("bucket",
        GraftFunctions.lshBucket(col("embedding"), planes = 8, dim = 3))
      .select("vec_id", "bucket").as[(Long, Long)].collect().toMap
    // deterministic across independent evaluations
    assert(buckets === buckets)
    // near-identical vectors share the bucket; orthogonal ones don't
    val b = buckets
    assert(b(0L) === b(1L))
    assert(Set(b(0L), b(2L), b(3L)).size > 1)
  }

  test("NULL-endpoint edges drop in BOTH component variants — identical " +
      "outputs, no silently lost vertices") {
    // vertex 5's only partner is NULL: pre-fix the min-label variant's
    // inner label join silently LOST it mid-loop while the star
    // variant kept it — now both treat the edge as absent
    val pairs = Seq((Some(1L), Some(2L)), (Some(5L), Option.empty[Long]),
        (Option.empty[Long], Some(7L)))
      .toDF("id_a", "id_b")
    val minLabel = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .select("id", "cluster_id").as[(Long, Long)].collect().toSet
    val star = Dedup.connectedComponentsStar(pairs, "id_a", "id_b")
      .select("id", "cluster_id").as[(Long, Long)].collect().toSet
    assert(minLabel === Set((1L, 1L), (2L, 1L)))
    assert(star === minLabel)
  }

  test("fractional pair ids refuse loudly — the long cast would " +
      "silently merge distinct vertices") {
    val pairs = Seq((1.2, 1.7)).toDF("id_a", "id_b")
    val e = intercept[IllegalArgumentException] {
      Dedup.connectedComponents(pairs, "id_a", "id_b")
    }
    assert(e.getMessage.contains("integral"), e.getMessage)
  }

  test("exact dedup: rows with NULL text AND NULL id each stay their " +
      "own keeper (never collapsed into one null group)") {
    val df = Seq((Some(1L), Some("same text")), (Some(2L), Some("same text")),
        (Option.empty[Long], Option.empty[String]),
        (Option.empty[Long], Option.empty[String]))
      .toDF("doc_id", "text")
    val out = Dedup.exact(df, col("doc_id"), col("text"))
    // the two fully-null rows are singletons: rn=1, never dups
    assert(out.filter(col("doc_id").isNull && col("is_dup")).count() === 0L)
    assert(out.filter(col("is_dup")).count() === 1L)   // only doc 2
  }

  test("NULL corpus vectors never surface as top-k neighbors") {
    val q = Seq((100L, Seq(1.0f, 0.0f, 0.0f)))
      .toDF("q_id", "q_vec")
    val c = Seq((1L, Option(Seq(0.9f, 0.1f, 0.0f))),
        (2L, Option.empty[Seq[Float]]))
      .toDF("c_id", "c_vec")
    val lsh = Similarity.lshTopK(q, c, k = 5, planes = 4, dim = 3)
      .select("c_id").as[Long].collect().toSet
    assert(!lsh.contains(2L), s"null-vec corpus row surfaced: $lsh")
    val brute = Similarity.bruteForceTopK(q, c, k = 5)
      .select("c_id").as[Long].collect().toSet
    assert(brute === Set(1L))
  }

  test("vectorDimGuard: NULL vectors pass, ragged vectors die loudly") {
    import graft.functions.GraftFunctions.vectorDimGuard
    val ok = Seq((1L, Some(Seq(1.0f, 2.0f))), (2L, None))
      .toDF("id", "vec")
    assert(ok.filter(vectorDimGuard(col("vec"), 2)).count() == 2L)

    val ragged = Seq((1L, Seq(1.0f, 2.0f)), (2L, Seq(3.0f)))
      .toDF("id", "vec")
    val e = intercept[Exception] {
      ragged.filter(vectorDimGuard(col("vec"), 2)).count()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("ragged embedding")),
      s"refusal must name the failure: ${msgs(e)}")
  }

  test("groupCentroidCosine: exact centroid geometry, null and zero-norm laws") {
    import graft.operators.Clustering
    val df = Seq(
      ("a", Some(Seq(1.0f, 0.0f))), ("a", Some(Seq(1.0f, 0.0f))),
      ("b", Some(Seq(0.0f, 1.0f))),
      ("c", Some(Seq(2.0f, 0.0f))),
      ("z", Some(Seq(0.0f, 0.0f))),           // zero-norm centroid
      (null.asInstanceOf[String], Some(Seq(9.0f, 9.0f))),  // null group: out
      ("a", None)                              // null vector: out
    ).toDF("src", "vec")
    val out = Clustering.groupCentroidCosine(df, col("src"), col("vec"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2))
      .toMap
    assert(out.keySet == Set(("a","b"), ("a","c"), ("a","z"),
      ("b","c"), ("b","z"), ("c","z")))
    assert(out(("a","b")) == 0.0)              // orthogonal
    assert(out(("a","c")) == 1.0)              // parallel (scale-invariant)
    assert(out(("b","c")) == 0.0)
    assert(out(("a","z")) == 0.0 && out(("b","z")) == 0.0) // zero norm -> 0.0
  }

  test("native winnow matches the declarative spec on real documents + edges") {
    import graft.functions.GraftFunctions
    val docs = graft.sources.Tables.documents(spark, sf("sf0.001"))
    for ((k, w) <- Seq((3, 6), (2, 4), (1, 3))) {
      val diff = docs
        .withColumn("nat", GraftFunctions.winnowFingerprints(
          GraftFunctions.tokens(col("text")), k, w))
        .withColumn("dec", DeclarativeTwins.winnowFingerprints(
          GraftFunctions.tokens(col("text")), k, w))
        .filter(not(col("nat") <=> col("dec")))
      assert(diff.count() === 0L, s"k=$k w=$w")
    }
    // edges: null array / short doc -> empty; null tokens skip in-window
    val edge = Seq(
      (1L, null.asInstanceOf[Seq[String]]),
      (2L, Seq("x", "y")),
      (3L, Seq("a", null, "b", "c", "a"))
    ).toDF("id", "toks")
    val rows = edge
      .withColumn("nat", GraftFunctions.winnowFingerprints(col("toks"), 3, 2))
      .withColumn("dec", DeclarativeTwins.winnowFingerprints(col("toks"), 3, 2))
      .select("id", "nat", "dec")
      .as[(Long, Seq[(Int, Long)], Seq[(Int, Long)])].collect()
      .map(r => r._1 -> r).toMap
    // NULL row compares nat vs dec too: the declarative twin must share
    // the native NULL law (NULL toks -> EMPTY array, not NULL)
    assert(rows(1L)._2 === Seq.empty && rows(1L)._3 === Seq.empty)
    assert(rows(2L)._2 === Seq.empty && rows(2L)._3 === Seq.empty)
    assert(rows(3L)._2 === rows(3L)._3 && rows(3L)._2.nonEmpty)
  }

  test("containmentPairs: fragment-in-document scores 1.0 one way; df cap drops boilerplate") {
    import graft.operators.Dedup
    // doc 2 is a verbatim fragment of doc 1; doc 3 unrelated; docs 4-9
    // all share one boilerplate run that the df cap must silence
    val frag = "q w e r t y u i o p"
    val boiler = "all rights reserved to the original author of this"
    val docs = (Seq(
      (1L, s"$frag a s d f g h j k l"),
      (2L, frag),
      (3L, "z x c v b n m z x c v b n m")) ++
      (4L to 9L).map(i => (i, s"$boiler unique$i tail$i end$i")))
      .toDF("doc_id", "text")
    val out = Dedup.containmentPairs(docs, col("doc_id"), col("text"),
        shingleN = 3, threshold = 0.8, maxDf = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    // every 3-shingle of the 10-token fragment appears in doc 1
    assert(out.keySet == Set((2L, 1L)))
    assert(out((2L, 1L)) == 1.0)
    // asymmetry: doc 1 is NOT contained in doc 2 (and never emitted at 0.8)
    val all = Dedup.containmentPairs(docs, col("doc_id"), col("text"),
        shingleN = 3, threshold = 0.1, maxDf = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(all((1L, 2L)) < 0.5 && all((2L, 1L)) == 1.0)
    // the boilerplate shingles have df=6 > maxDf=5: docs 4-9 share no
    // KEPT shingle, so no pair among them survives even at 0.1
    assert(!all.keys.exists { case (a, b) => a >= 4L && b >= 4L })
  }

  test("editDistancePairs: exact fuzzy join; short strings match like any other") {
    import graft.operators.Dedup
    val rows = Seq(
      (1L, "kitten"), (2L, "sitten"),      // dist 1: pair
      (3L, "mitten"),                       // dist 1 to both above
      (4L, "kitchen"),                      // dist 2 to kitten: out at k=1
      (5L, "absolutely unrelated"),
      (6L, null.asInstanceOf[String]))      // null: dropped
    val out = Dedup.editDistancePairs(
        rows.toDF("id", "s"), col("id"), col("s"), maxDist = 1)
      .as[(Long, Long, Long)].collect().toSet
    assert(out === Set((1L, 2L, 1L), (1L, 3L, 1L), (2L, 3L, 1L)))
    // maxDist 2 admits kitchen (insert h + substitute? kitten->kitchen = 2)
    val out2 = Dedup.editDistancePairs(
        rows.toDF("id", "s"), col("id"), col("s"), maxDist = 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(out2.contains((1L, 4L, 2L)))
    // strings shorter than maxDist still meet in the deletion
    // neighbourhood: "ab" and "a" share the variant "a"
    val short = Dedup.editDistancePairs(
        Seq((1L, "ab"), (2L, "a")).toDF("id", "s"),
        col("id"), col("s"), maxDist = 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(short === Set((1L, 2L, 1L)))
  }

  test("winnow guarantee: a shared run of >= w+k-1 tokens shares a fingerprint") {
    import graft.functions.GraftFunctions
    val (k, w) = (3, 4)
    // two docs sharing exactly a (w+k-1)-token run amid different noise
    val shared = "s1 s2 s3 s4 s5 s6"                   // w+k-1 = 6 tokens
    val df = Seq(
      (1L, s"a1 a2 a3 $shared z1 z2"),
      (2L, s"b1 b2 $shared y1 y2 y3 y4")
    ).toDF("doc_id", "text")
    val fps = df.select(col("doc_id"),
      explode(GraftFunctions.winnowFingerprints(
        GraftFunctions.tokens(col("text")), k, w)).as("f"))
      .select(col("doc_id"), col("f.fp"))
      .as[(Long, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    assert((fps(1L) intersect fps(2L)).nonEmpty,
      "winnowing must fingerprint some gram of the shared run in both docs")
  }

  test("winnowingPairs: shared-run pair surfaces; boilerplate fps prune") {
    import graft.operators.TextAnalysis
    val shared = "s1 s2 s3 s4 s5 s6"
    val boiler = "b1 b2 b3 b4 b5 b6"                  // in EVERY doc
    val df = Seq(
      (1L, s"$boiler a1 a2 a3 $shared"),
      (2L, s"$boiler $shared y1 y2"),
      (3L, s"$boiler c1 c2 c3 c4 c5"),
      (4L, s"$boiler d1 d2 d3 d4 d5")
    ).toDF("doc_id", "text")
    val pairs = TextAnalysis.winnowingPairs(df, col("doc_id"), col("text"),
      k = 3, w = 4, minShared = 1L, maxDf = 3)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    // the true shared run must pair 1-2; the boilerplate prefix is in
    // all 4 docs (> maxDf = 3) so its fingerprints cannot pair 3-4
    assert(pairs.contains((1L, 2L)), s"got $pairs")
    assert(!pairs.contains((3L, 4L)), s"boilerplate must prune: $pairs")
  }

  test("nfc: canonical composition enables normalization-aware dedup") {
    import graft.functions.GraftFunctions
    // same visible text, three byte encodings: precomposed, decomposed,
    // and ASCII-different (a control that must NOT collapse)
    val docs = Seq(
      (1L, "caf\u00E9 au lait"),                  // é precomposed
      (2L, "cafe\u0301 au lait"),                 // e + combining acute
      (3L, "cafe au lait")                        // genuinely different
    ).toDF("doc_id", "text")
    val naive = graft.operators.Dedup.exact(docs, col("doc_id"), col("text"))
      .filter(col("is_dup")).count()
    val aware = graft.operators.Dedup.exact(
      docs.withColumn("text", GraftFunctions.nfc(col("text"))),
      col("doc_id"), col("text"))
      .filter(col("is_dup")).count()
    assert(naive === 0L, "byte-different forms do not collapse naively")
    assert(aware === 1L, "NFC collapses the decomposed duplicate only")

    // idempotence + identity-on-ASCII + null law
    val props = docs
      .withColumn("n1", GraftFunctions.nfc(col("text")))
      .withColumn("n2", GraftFunctions.nfc(GraftFunctions.nfc(col("text"))))
      .select(col("n1") === col("n2"), col("doc_id"))
      .as[(Boolean, Long)].collect()
    assert(props.forall(_._1))
    val edge = Seq((1L, "plain ascii"), (2L, null.asInstanceOf[String]))
      .toDF("id", "text")
      .select(col("id"), GraftFunctions.nfc(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getString(1))).toMap
    assert(edge(1L) === "plain ascii")
    assert(edge(2L) === null)
  }
}
