package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Sampling}
import graft.sources.Tables
import graft.streaming.StreamingDecontam

/** Streaming decontamination end to end: corpus docs arrive over
  * micro-batches, each checked against a static eval-set shingle index;
  * the union of the streamed verdicts must equal the batch operator's
  * pair set exactly (the index is immutable, so batch boundaries cannot
  * change any verdict). */
class StreamingDecontamSpec extends SparkSpec {

  test("streamed flags over micro-batches == batch decontaminate; index read is bucket-pruned") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val docs = Tables.documents(spark, sf("sf0.001"))
      .select(col("doc_id").cast("long"), col("text"))
    // same eval-set recipe as q69: deterministic 10% hash sample
    val evalSet = Sampling.hashSample(docs, col("doc_id"), fraction = 0.1)
    val corpus = docs.as[(Long, String)].collect().sortBy(_._1)
    val (first, second) = corpus.splitAt(corpus.length / 2)

    val base = java.nio.file.Files.createTempDirectory("graft_sdecon_").toString
    StreamingDecontam.prepareEvalIndex(
      evalSet, col("doc_id"), col("text"), s"$base/index")

    val input = MemoryStream[(Long, String)]
    val q = StreamingDecontam.start(
      input.toDS().toDF("doc_id", "text"),
      idCol = "doc_id", textCol = "text",
      indexDir = s"$base/index", flaggedDir = s"$base/flagged",
      checkpoint = s"$base/ckpt")
    try {
      input.addData(first.toSeq: _*)
      q.processAllAvailable()
      input.addData(second.toSeq: _*)
      q.processAllAvailable()

      val streamed = spark.read.parquet(s"$base/flagged")
        .select("doc_id", "eval_id", "n_overlap")
        .as[(Long, Long, Long)].collect().toSet
      val batch = Dedup.decontaminate(docs, evalSet, "doc_id", col("text"))
        .as[(Long, Long, Long)].collect().toSet
      assert(streamed.nonEmpty, "sf0.001 corpus must produce some flags")
      assert(streamed === batch)

      // the index is bucket-partitioned and a probe prunes at the scan
      val dirs = new java.io.File(s"$base/index").listFiles()
        .filter(_.isDirectory).map(_.getName)
      assert(dirs.nonEmpty && dirs.forall(_.startsWith("bucket=")), dirs.toSeq)
      val probe = spark.read.parquet(s"$base/index").filter(col("bucket") === 3)
      val plan = probe.queryExecution.executedPlan.toString
      val pf = "PartitionFilters: \\[[^\\]]*".r.findFirstIn(plan).getOrElse("")
      assert(pf.contains("bucket"),
        s"bucket probe must prune partitions, not filter rows:\n$plan")
    } finally {
      q.stop()
      import scala.jdk.CollectionConverters._
      val p = java.nio.file.Paths.get(base)
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("an eval index with no _index_config (interrupted prepare) fails " +
      "loudly instead of probing with unknown parameters") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_sdecon_nocfg_").toString
    StreamingDecontam.prepareEvalIndex(
      Seq((9L, "some eval doc with several tokens inside it"))
        .toDF("doc_id", "text"),
      col("doc_id"), col("text"), s"$base/index")
    // the crash window prepareEvalIndex's atomic publish narrows:
    // index written, config gone (the parquet Overwrite deletes it
    // with the dir; the process dies before the re-publish)
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$base/index/_index_config"))
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$base/index/._index_config.crc"))
    val input = MemoryStream[(Long, String)]
    val q = StreamingDecontam.start(
      input.toDS().toDF("doc_id", "text"),
      idCol = "doc_id", textCol = "text",
      indexDir = s"$base/index", flaggedDir = s"$base/flagged",
      checkpoint = s"$base/ckpt")
    try {
      input.addData((1L, "a b c d e"))
      val ex = intercept[Exception] { q.processAllAvailable() }
      val msgs = Iterator.iterate(ex: Throwable)(_.getCause)
        .takeWhile(_ != null).map(_.getMessage).mkString("\n")
      assert(msgs.contains("no _index_config"), s"got:\n$msgs")
    } finally {
      q.stop()
      import scala.jdk.CollectionConverters._
      val p = java.nio.file.Paths.get(base)
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("a missing eval index fails loudly instead of flagging nothing") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_sdecon_miss_").toString
    val input = MemoryStream[(Long, String)]
    val q = StreamingDecontam.start(
      input.toDS().toDF("doc_id", "text"),
      idCol = "doc_id", textCol = "text",
      indexDir = s"$base/no_such_index", flaggedDir = s"$base/flagged",
      checkpoint = s"$base/ckpt")
    try {
      input.addData((1L, "a b c d e"))
      val ex = intercept[Exception] { q.processAllAvailable() }
      val msgs = Iterator.iterate(ex: Throwable)(_.getCause)
        .takeWhile(_ != null).map(_.getMessage).mkString("\n")
      assert(msgs.contains("prepareEvalIndex"), s"got:\n$msgs")
      // refused before the results dir claimed anything: fixing the
      // index (or the stream) later does not meet a stranded claim
      for (m <- Seq("_stream_checkpoint", "_stream_config"))
        assert(!java.nio.file.Files.exists(
          java.nio.file.Paths.get(s"$base/flagged/$m")), m)
    } finally {
      q.stop()
      import scala.jdk.CollectionConverters._
      val p = java.nio.file.Paths.get(base)
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("an eval index recorded in the pre-bucketMod rendering is refused " +
      "with the re-prepare remedy") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_sdecon_oldcfg_").toString
    StreamingDecontam.prepareEvalIndex(
      Seq((9L, "some eval doc with several tokens inside it"))
        .toDF("doc_id", "text"),
      col("doc_id"), col("text"), s"$base/index")
    // the config an index prepared before bucketMod was recorded holds
    val cfg = java.nio.file.Paths.get(s"$base/index/_index_config")
    java.nio.file.Files.write(cfg, "shingleN=3".getBytes("UTF-8"))
    val input = MemoryStream[(Long, String)]
    val q = StreamingDecontam.start(
      input.toDS().toDF("doc_id", "text"),
      idCol = "doc_id", textCol = "text",
      indexDir = s"$base/index", flaggedDir = s"$base/flagged",
      checkpoint = s"$base/ckpt")
    try {
      input.addData((1L, "a b c d e"))
      val ex = intercept[Exception] { q.processAllAvailable() }
      val msgs = Iterator.iterate(ex: Throwable)(_.getCause)
        .takeWhile(_ != null).map(_.getMessage).mkString("\n")
      assert(msgs.contains("prepared with [shingleN=3]") &&
        msgs.contains("Re-prepare the index"), s"got:\n$msgs")
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$base/flagged/_stream_config")))
    } finally {
      q.stop()
      import scala.jdk.CollectionConverters._
      val p = java.nio.file.Paths.get(base)
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("a re-prepare under a session-wide dynamic overwrite keeps only the new set") {
    import spark.implicits._
    val key = "spark.sql.sources.partitionOverwriteMode"
    val saved = spark.conf.getOption(key)
    val base = java.nio.file.Files.createTempDirectory("graft_sdecon_dyn_").toString
    val index = s"$base/index"
    def bucketDirs = new java.io.File(index).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    spark.conf.set(key, "dynamic")
    try {
      val retired = (1L to 8L).map(i => (i, s"retired eval doc $i with words w$i x$i y$i"))
      StreamingDecontam.prepareEvalIndex(retired.toDF("doc_id", "text"),
        col("doc_id"), col("text"), index)
      val fresh = Seq((100L, "one small fresh eval doc"))
      StreamingDecontam.prepareEvalIndex(fresh.toDF("doc_id", "text"),
        col("doc_id"), col("text"), index, shingleN = 4)
      // a retired set's bucket left behind would read back its e_ids
      val rows = spark.read.parquet(index).select("e_id", "bucket")
        .as[(Long, Int)].collect()
      assert(rows.nonEmpty && rows.map(_._1).toSet === Set(100L), rows.toSeq)
      assert(bucketDirs === rows.map(r => s"bucket=${r._2}").toSet)
      assert(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$index/_index_config")), "UTF-8") ===
        s"shingleN=4;bucketMod=${StreamingDecontam.BucketCount}")
    } finally {
      saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      import scala.jdk.CollectionConverters._
      val p = java.nio.file.Paths.get(base)
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }
}
