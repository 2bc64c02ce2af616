package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.streaming.StreamingCorpusStats

/** Incremental corpus stats: the snapshot after N micro-batches must
  * equal the batch summaries of the whole corpus — the end-to-end
  * proof that the sketch family's merge algebra (CMS cell sums,
  * bottom-k re-cuts, count addition) loses nothing across batch
  * boundaries. */
class StreamingCorpusStatsSpec extends SparkSpec {

  private def slurp(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("snapshot chain: merged stream state == batch summaries; versions time-travel") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val docs = Tables.documents(spark, sf("sf0.001"))
      .select(col("source"), col("text"))
    val corpus = docs.as[(String, String)].collect().sortBy(_.hashCode)
    val (first, second) = corpus.splitAt(corpus.length / 2)

    val base = java.nio.file.Files.createTempDirectory("graft_scs_").toString
    val input = MemoryStream[(String, String)]
    val q = StreamingCorpusStats.start(
      input.toDS().toDF("source", "text"),
      sourceCol = "source", textCol = "text",
      statsDir = s"$base/stats", checkpoint = s"$base/ckpt")
    try {
      input.addData(first.toSeq: _*)
      q.processAllAvailable()
      input.addData(second.toSeq: _*)
      q.processAllAvailable()

      val Some((v, snap)) = StreamingCorpusStats.latest(spark, s"$base/stats")
      assert(v === 1L)

      val cfg = StreamingCorpusStats.Config()
      val batchSnap = StreamingCorpusStats.summarize(docs, cfg)
      assert(slurp(snap.counts) === slurp(batchSnap.counts))
      assert(slurp(snap.cms) === slurp(batchSnap.cms))
      assert(slurp(snap.kmv) === slurp(batchSnap.kmv))
      // the merged length sample equals the whole-corpus draw row for
      // row — so the running quantiles are EXACTLY the batch quantiles
      assert(slurp(snap.qs) === slurp(batchSnap.qs))
      // HLL registers merge by cell-wise max: the streamed state IS
      // the whole-corpus register table, so the distinct estimates
      // match the batch sketch bit for bit
      assert(slurp(snap.hll) === slurp(batchSnap.hll))
      val estStream = StreamingCorpusStats
        .distinctShingles(spark, s"$base/stats").get
      val estBatch = graft.operators.Sketches.hllEstimate(batchSnap.hll)
      assert(slurp(estStream) === slurp(estBatch))
      val qStream = StreamingCorpusStats
        .quantiles(spark, s"$base/stats", Seq(0.5, 0.9)).get
      val qBatch = graft.operators.Sketches
        .quantilesFromSample(batchSnap.qs, Seq(0.5, 0.9))
      assert(slurp(qStream) === slurp(qBatch))
      // quality tallies are plain counters — cell-wise sum across
      // batches must equal the whole-corpus gate counts exactly
      assert(slurp(snap.quality) === slurp(batchSnap.quality))
      val rates = StreamingCorpusStats.qualityRates(spark, s"$base/stats").get
      assert(rates.columns.toSeq ===
        Seq("source", "n_docs_q", "n_keep", "keep_rate"))
      val rateRows = rates.collect()
      assert(rateRows.nonEmpty && rateRows.forall { r =>
        val (n, k) = (r.getLong(1), r.getLong(2))
        k <= n && math.abs(r.getDouble(3) - k.toDouble / n) < 1e-15
      })

      // time travel: v=0 is exactly the first batch's own summary
      val c0 = spark.read.parquet(s"$base/stats/v=0/counts")
      val fSnap = StreamingCorpusStats.summarize(
        first.toSeq.toDF("source", "text"), cfg)
      assert(slurp(c0) === slurp(fSnap.counts))
    } finally {
      q.stop()
      import scala.jdk.CollectionConverters._
      val p = java.nio.file.Paths.get(base)
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("drift: shifted length/source mix scores high between versions; stable mix ~0") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_scs_dr_").toString
    val input = MemoryStream[(String, String)]
    val q = StreamingCorpusStats.start(
      input.toDS().toDF("source", "text"),
      sourceCol = "source", textCol = "text",
      statsDir = s"$base/stats", checkpoint = s"$base/ckpt")
    def doc(words: Int, tag: String) = (1 to words).map(i => s"$tag$i").mkString(" ")
    try {
      // batch 0: short docs from 'web'; batch 1: LONG docs from 'lab'
      input.addData((1 to 30).map(i => ("web", doc(5, s"a$i"))): _*)
      q.processAllAvailable()
      input.addData((1 to 30).map(i => ("lab", doc(50, s"b$i"))): _*)
      q.processAllAvailable()

      // v0 -> v1: v1 MERGES batch 1 in, so half its mass is 50-word
      // docs and a whole new source appeared — both metrics move
      val d = StreamingCorpusStats.drift(spark, s"$base/stats", 0L, 1L)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(d("length_psi") > 0.25, s"length shift must register: $d")
      assert(d("source_share_psi") > 0.25, s"new source must register: $d")

      // self-drift is exactly 0 (identical distributions, same smoothing)
      val self = StreamingCorpusStats.drift(spark, s"$base/stats", 1L, 1L)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(self.values.forall(v => math.abs(v) < 1e-12), s"self-drift: $self")

      // an uncommitted version is refused, never scored
      val e = intercept[IllegalArgumentException] {
        StreamingCorpusStats.drift(spark, s"$base/stats", 0L, 7L)
      }
      assert(e.getMessage.contains("COMMITTED"))

      // vocab growth off the register tables: batch 1's vocabulary is
      // entirely new (b-prefixed vs a-prefixed), so v0 → v1 must show
      // substantial growth; v1 → v1 is exactly 0 (identical registers)
      val vg = StreamingCorpusStats.vocabGrowth(spark, s"$base/stats", 0L, 1L)
        .collect().head
      assert(vg.getDouble(2) > 0.3,
        s"all-new batch-1 vocab must register as growth: $vg")
      assert(vg.getDouble(1) > vg.getDouble(0),
        s"cumulative TO estimate must exceed FROM: $vg")
      val vgSelf = StreamingCorpusStats.vocabGrowth(spark, s"$base/stats", 1L, 1L)
        .collect().head
      assert(vgSelf.getDouble(2) === 0.0)
      val e2 = intercept[IllegalArgumentException] {
        StreamingCorpusStats.vocabGrowth(spark, s"$base/stats", 0L, 9L)
      }
      assert(e2.getMessage.contains("COMMITTED"))
    } finally {
      q.stop()
      import scala.jdk.CollectionConverters._
      val p = java.nio.file.Paths.get(base)
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("vocabGrowth is total when the FROM version has an empty register table") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_scs_vg_").toString
    val input = MemoryStream[(String, String)]
    val q = StreamingCorpusStats.start(
      input.toDS().toDF("source", "text"),
      sourceCol = "source", textCol = "text",
      statsDir = s"$base/stats", checkpoint = s"$base/ckpt")
    try {
      // batch 0: only null-text docs — v=0 commits with EMPTY hll/kmv
      // tables (the common first-micro-batch shape on a dirty feed)
      input.addData(("web", null: String), ("web", null: String))
      q.processAllAvailable()
      input.addData((1 to 20).map(i => ("web", s"w$i x$i y$i z$i")): _*)
      q.processAllAvailable()
      val vg = StreamingCorpusStats.vocabGrowth(spark, s"$base/stats", 0L, 1L)
        .collect()
      assert(vg.length === 1, "the one-row contract broke on an empty FROM")
      assert(vg.head.getDouble(0) === 0.0)
      assert(vg.head.getDouble(2) === 1.0,
        s"an empty FROM against real TO vocab is 'everything is new': ${vg.head}")
    } finally {
      q.stop()
      import scala.jdk.CollectionConverters._
      val p = java.nio.file.Paths.get(base)
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("round-10 ','-joined config rendering is refused, markers untouched") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_scs_lc_").toString
    // a resumed run gets TWO adds: a fresh MemoryStream restarts its
    // offsets at 0, and the checkpoint has already committed offset 1 —
    // the guard only fires once the source advances past it
    def run(data: Seq[(String, String)], adds: Int = 1): Unit = {
      val input = MemoryStream[(String, String)]
      val q = StreamingCorpusStats.start(
        input.toDS().toDF("source", "text"),
        sourceCol = "source", textCol = "text",
        statsDir = s"$base/stats", checkpoint = s"$base/ckpt")
      try {
        (1 to adds).foreach(_ => input.addData(data: _*))
        q.processAllAvailable()
      } finally q.stop()
    }
    val cfgMarker = java.nio.file.Paths.get(s"$base/stats/_stream_config")
    def marker = new String(
      java.nio.file.Files.readAllBytes(cfgMarker), "UTF-8")
    def markers = Seq("_stream_checkpoint", "_stream_config").map(n =>
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$base/stats/$n")).toSeq)
    try {
      run(Seq(("web", "alpha beta gamma delta epsilon")))
      val current = marker
      assert(current.endsWith(";qualityMinWords=30"), current)
      // rewrite the marker to the round-10 rendering: same fields and
      // values, last two joined with ',' — old state is refused, never
      // upgraded, so the resume fails loudly and leaves both markers
      java.nio.file.Files.write(cfgMarker, current
        .replace(";qualityMinWords=", ",qualityMinWords=")
        .getBytes("UTF-8"))
      val before = markers
      val ex = intercept[Exception] {
        run(Seq(("web", "zeta eta theta iota kappa")), adds = 2)
      }
      val msgs = Iterator.iterate(ex: Throwable)(_.getCause)
        .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
      assert(msgs.contains("state-shaping"), msgs)
      assert(markers === before)
    } finally {
      import scala.jdk.CollectionConverters._
      val p = java.nio.file.Paths.get(base)
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("fresh checkpoint over retained stats fails loudly") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_scs_rg_").toString
    def run(ckpt: String): Unit = {
      val input = MemoryStream[(String, String)]
      val q = StreamingCorpusStats.start(
        input.toDS().toDF("source", "text"),
        sourceCol = "source", textCol = "text",
        statsDir = s"$base/stats", checkpoint = ckpt)
      try {
        input.addData(("web", "alpha beta gamma delta epsilon"))
        q.processAllAvailable()
      } finally q.stop()
    }
    try {
      run(s"$base/ckpt1")
      val ex = intercept[Exception] { run(s"$base/ckpt2") }
      val msgs = Iterator.iterate(ex: Throwable)(_.getCause)
        .takeWhile(_ != null).map(_.getMessage).mkString("\n")
      assert(msgs.contains("fresh checkpoint"), s"got:\n$msgs")
    } finally {
      import scala.jdk.CollectionConverters._
      val p = java.nio.file.Paths.get(base)
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }
}
