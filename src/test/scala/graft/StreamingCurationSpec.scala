package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.tokens
import graft.operators.{Dedup, Sampling}
import graft.sources.Tables
import graft.streaming.{StreamingCuration, StreamingDecontam}

/** End-to-end streaming curation: gate → decontaminate → exact dedup
  * composed in one foreachBatch. The law: the union of kept batches
  * equals the batch pipeline (gate → decontaminate → Dedup.exact
  * keep-first) over the whole corpus when batches arrive in id order —
  * gate and contamination verdicts are per-document, so only the dedup
  * keeper choice crosses batch boundaries, and the digest index must
  * resolve it exactly as the batch rn=1 rule does. */
class StreamingCurationSpec extends SparkSpec {

  private val gate = size(tokens(col("text"))) >= 5

  test("streamed keepers over micro-batches == batch gate→decontam→dedup pipeline") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val real = Tables.documents(spark, sf("sf0.001"))
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)].collect().sortBy(_._1)
    // the sf0.001 corpus has no short texts and no exact duplicates —
    // augment so every stage provably fires: a gated-out stub, a
    // cross-batch duplicate of a batch-1 text, and an intra-batch
    // duplicate pair
    val firstText = real.head._2
    val synthetic = Seq(
      (900001L, "too short"),                                  // gate drops
      (900002L, firstText),                                    // dup of batch 1
      (900003L, "a fresh unique document with plenty of tokens to pass"),
      (900004L, "a fresh unique document with plenty of tokens to pass"))
    val corpus = (real ++ synthetic).sortBy(_._1)
    val docs = corpus.toSeq.toDF("doc_id", "text")
    val evalSet = Sampling.hashSample(docs, col("doc_id"), fraction = 0.1)
    val (first, second) = corpus.splitAt(corpus.length / 2)

    val base = java.nio.file.Files.createTempDirectory("graft_scur_").toString
    StreamingDecontam.prepareEvalIndex(
      evalSet, col("doc_id"), col("text"), s"$base/evalIndex")

    val input = MemoryStream[(Long, String)]
    val q = StreamingCuration.start(
      input.toDS().toDF("doc_id", "text"),
      idCol = "doc_id", textCol = "text", gate = gate,
      evalIndexDir = s"$base/evalIndex", digestDir = s"$base/digests",
      keptDir = s"$base/kept", checkpoint = s"$base/ckpt")
    try {
      input.addData(first.toSeq: _*)
      q.processAllAvailable()
      input.addData(second.toSeq: _*)
      q.processAllAvailable()

      val streamed = spark.read.parquet(s"$base/kept")
        .select("doc_id", "text").as[(Long, String)].collect().toSet

      // batch twin, stage for stage
      val gated = docs.filter(gate)
      val contaminatedIds = Dedup.decontaminate(
          gated, evalSet, "doc_id", col("text"))
        .select(col("doc_id")).distinct()
      val clean = gated.join(contaminatedIds, Seq("doc_id"), "left_anti")
      val batchKeepers = Dedup.exact(clean, col("doc_id"), col("text"))
        .filter(col("rn") === 1)
        .select("doc_id", "text").as[(Long, String)].collect().toSet

      assert(streamed.nonEmpty, "sf0.001 corpus must keep some documents")
      assert(streamed === batchKeepers)

      // every stage must have actually fired: something gated out,
      // something contaminated, something deduped — otherwise the
      // parity proof is vacuous for that stage
      assert(batchKeepers.size < corpus.length)
      assert(gated.count() < docs.count(), "gate must drop something")
      assert(contaminatedIds.count() > 0, "decontam must flag something")
      assert(Dedup.exact(clean, col("doc_id"), col("text"))
        .filter(col("is_dup")).count() > 0, "dedup must drop something")

      // cross-batch dedup specifically: a text kept in batch 1 whose
      // duplicate arrives in batch 2 must NOT be kept again — verify
      // no digest appears twice across kept batches
      val dupDigests = spark.read.parquet(s"$base/kept")
        .select(md5(col("text")).as("d"))
        .groupBy("d").count().filter(col("count") > 1).count()
      assert(dupDigests === 0L, "a digest was kept twice across batches")

      // the digest index grows with KEPT docs only
      val idx = spark.read.parquet(s"$base/digests")
      assert(idx.count() === batchKeepers.size.toLong)
    } finally {
      q.stop()
      import scala.jdk.CollectionConverters._
      val p = java.nio.file.Paths.get(base)
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("null-text docs follow the batch NULL-content law: each is its own " +
      "keeper, within and across batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    // two null-text docs inside one batch + one more in the next batch,
    // among normal docs (one of which duplicates across batches)
    val b1 = Seq((1L, Option("a normal document with enough tokens here")),
      (2L, Option.empty[String]), (3L, Option.empty[String]))
    val b2 = Seq((4L, Option.empty[String]),
      (5L, Option("a normal document with enough tokens here")))
    val base = java.nio.file.Files.createTempDirectory("graft_scurn_").toString
    StreamingDecontam.prepareEvalIndex(
      Seq((999L, "an eval doc sharing no shingles with the corpus at all x"))
        .toDF("doc_id", "text"),
      col("doc_id"), col("text"), s"$base/evalIndex")

    val input = MemoryStream[(Long, Option[String])]
    val q = StreamingCuration.start(
      input.toDS().toDF("doc_id", "text"),
      idCol = "doc_id", textCol = "text", gate = lit(true),
      evalIndexDir = s"$base/evalIndex", digestDir = s"$base/digests",
      keptDir = s"$base/kept", checkpoint = s"$base/ckpt")
    try {
      input.addData(b1: _*)
      q.processAllAvailable()
      input.addData(b2: _*)
      q.processAllAvailable()

      val streamed = spark.read.parquet(s"$base/kept")
        .select("doc_id").as[Long].collect().toSet
      // batch law (Dedup.exact NULL-content rule): docs 2, 3, 4 are
      // each their own keeper; doc 5's text is doc 1's duplicate
      val docs = (b1 ++ b2).toDF("doc_id", "text")
      val batchKeepers = Dedup.exact(docs, col("doc_id"), col("text"))
        .filter(col("rn") === 1).select("doc_id").as[Long].collect().toSet
      assert(batchKeepers === Set(1L, 2L, 3L, 4L))
      assert(streamed === batchKeepers)
      // the digest index holds only non-null digests (null-text docs
      // are always kept and never matchable — indexing them would only
      // grow never-matching rows)
      val idx = spark.read.parquet(s"$base/digests")
      assert(idx.filter(col("digest").isNull).count() === 0L)
      assert(idx.count() === 1L)
    } finally {
      q.stop()
      import scala.jdk.CollectionConverters._
      val p = java.nio.file.Paths.get(base)
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("digest index wiped while kept output is retained fails loudly — " +
      "state spans both directories") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_scur_dg_").toString
    StreamingDecontam.prepareEvalIndex(
      Seq((999L, "an eval doc sharing no shingles with the corpus qq"))
        .toDF("doc_id", "text"),
      col("doc_id"), col("text"), s"$base/evalIndex")
    val input = MemoryStream[(Long, String)]
    val q = StreamingCuration.start(
      input.toDS().toDF("doc_id", "text"),
      idCol = "doc_id", textCol = "text", gate = lit(true),
      evalIndexDir = s"$base/evalIndex", digestDir = s"$base/digests",
      keptDir = s"$base/kept", checkpoint = s"$base/ckpt")
    try {
      input.addData((1L, "alpha beta gamma delta epsilon"))
      q.processAllAvailable()      // batch 0 commits; digest dir claimed
      // operator deletes ONLY the digest index (forgetting that kept
      // output + digests are one state): cross-batch dedup would
      // silently vanish — must refuse instead
      import scala.jdk.CollectionConverters._
      val dg = java.nio.file.Paths.get(s"$base/digests")
      java.nio.file.Files.walk(dg).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
      input.addData((2L, "zeta eta theta iota kappa"))
      val ex = intercept[Exception] { q.processAllAvailable() }
      val msgs = Iterator.iterate(ex: Throwable)(_.getCause)
        .takeWhile(_ != null).map(_.getMessage).mkString("\n")
      assert(msgs.contains("no run claim"), s"got:\n$msgs")
    } finally {
      q.stop()
      import scala.jdk.CollectionConverters._
      val p = java.nio.file.Paths.get(base)
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("a changed gate against retained state fails loudly (regime fence)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_scur_rg_").toString
    val evalSet = Seq((9999L, "zz yy xx ww vv uu tt")).toDF("doc_id", "text")
    StreamingDecontam.prepareEvalIndex(
      evalSet, col("doc_id"), col("text"), s"$base/evalIndex")
    // a resumed run gets TWO adds: a fresh MemoryStream restarts its
    // offsets at 0, and the checkpoint has already committed offset 0 —
    // only the second add starts a batch
    def run(g: org.apache.spark.sql.Column, rows: Seq[(Long, String)],
            adds: Int = 1): Unit = {
      val input = MemoryStream[(Long, String)]
      val q = StreamingCuration.start(
        input.toDS().toDF("doc_id", "text"),
        idCol = "doc_id", textCol = "text", gate = g,
        evalIndexDir = s"$base/evalIndex", digestDir = s"$base/digests",
        keptDir = s"$base/kept", checkpoint = s"$base/ckpt")
      try {
        (1 to adds).foreach(_ => input.addData(rows: _*))
        q.processAllAvailable()
      } finally q.stop()
    }
    try {
      run(gate, Seq((1L, "alpha beta gamma delta epsilon zeta")))
      // resume from the SAME checkpoint, so the run-identity guard
      // passes and what fires is the GATE fingerprint specifically
      val ex = intercept[Exception] {
        run(size(tokens(col("text"))) >= 2,
          Seq((2L, "eta theta iota kappa")), adds = 2)
      }
      val msgs = Iterator.iterate(ex: Throwable)(_.getCause)
        .takeWhile(_ != null).map(_.getMessage).mkString("\n")
      assert(msgs.contains("StreamingCuration") &&
        msgs.contains("state-shaping parameters"), s"got:\n$msgs")
    } finally {
      import scala.jdk.CollectionConverters._
      val p = java.nio.file.Paths.get(base)
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }
}
