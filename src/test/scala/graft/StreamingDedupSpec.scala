package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.StreamingDedup

/** Incremental dedup end to end: docs stream in over two micro-batches;
  * a near-copy arriving later is flagged against the PERSISTED index
  * (not just its own batch) and kept out of the index. */
class StreamingDedupSpec extends SparkSpec {

  test("streaming near-dup index flags cross-batch duplicates") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val base = java.nio.file.Files.createTempDirectory("graft_sdedup_").toString
    val input = MemoryStream[(Long, String)]
    val q = StreamingDedup.start(
      input.toDS().toDF("doc_id", "text"), textCol = "text", idCol = "doc_id",
      indexDir = s"$base/index", dupDir = s"$base/dups",
      checkpoint = s"$base/ckpt")
    try {
      val textA = "the quick brown fox jumps over the lazy dog again and again"
      val textB = "completely different content with many unrelated words inside here"
      input.addData((1L, textA), (2L, textB))
      q.processAllAvailable()

      // batch 2: doc 3 is an exact copy of doc 1 (arrived in batch 1),
      // doc 4 is new, doc 5 is shingle-less (< 3 tokens → null band
      // hashes; must not be indexed)
      input.addData((3L, textA),
        (4L, "yet another brand new piece of text entirely"),
        (5L, "too short"))
      q.processAllAvailable()

      val dups = spark.read.parquet(s"$base/dups")
        .select("new_id", "matched_id").as[(Long, Long)].collect().toSet
      assert(dups === Set((3L, 1L)))

      val indexed = spark.read.parquet(s"$base/index")
        .select("doc_id").distinct().as[Long].collect().toSet
      // dup doc 3 never admitted; shingle-less doc 5 has nothing to index
      assert(indexed === Set(1L, 2L, 4L))

      // the index holds one ingest_batch=N directory per micro-batch …
      val dirs = new java.io.File(s"$base/index").listFiles()
        .filter(_.isDirectory).map(_.getName).sorted.toSeq
      assert(dirs === Seq("ingest_batch=0", "ingest_batch=1"))

      // … so the replay fence prunes at the scan: ingest_batch < N
      // lands in PartitionFilters (directory pruning), not in the
      // row-level data filters — the property each micro-batch's index
      // read relies on to skip a half-committed attempt of itself
      val fenced = spark.read.schema(StreamingDedup.IndexSchema)
        .parquet(s"$base/index").filter(col("ingest_batch") < 1L)
      val plan = fenced.queryExecution.executedPlan.toString
      val pf = "PartitionFilters: \\[[^\\]]*".r.findFirstIn(plan).getOrElse("")
      assert(pf.contains("ingest_batch"),
        s"the fence must prune partitions, not filter rows:\n$plan")
      assert(fenced.select("doc_id").distinct().as[Long].collect().toSet ===
        Set(1L, 2L))
    } finally q.stop()
  }

  test("a replay after a crash before the marker leaves one copy of the batch's band rows") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_sdedup_replay_").toString
    val input = MemoryStream[(Long, String)]
    def run(): org.apache.spark.sql.streaming.StreamingQuery =
      StreamingDedup.start(
        input.toDS().toDF("doc_id", "text"), textCol = "text", idCol = "doc_id",
        indexDir = s"$base/index", dupDir = s"$base/dups",
        checkpoint = s"$base/ckpt")
    def batchRows(b: Long): Seq[(Long, Int)] =
      spark.read.parquet(s"$base/index").filter(col("ingest_batch") === b)
        .select("doc_id", "band_idx").as[(Long, Int)].collect().toSeq.sorted
    def rm(p: String): Unit = {
      val f = java.nio.file.Paths.get(p)
      java.nio.file.Files.deleteIfExists(
        f.resolveSibling("." + f.getFileName + ".crc"))
      java.nio.file.Files.delete(f)
    }
    val textA = "the quick brown fox jumps over the lazy dog again and again"
    try {
      val q1 = run()
      try {
        input.addData((1L, textA))
        q1.processAllAvailable()
        input.addData((2L, textA),
          (3L, "completely different content with many unrelated words inside"))
        q1.processAllAvailable()
      } finally q1.stop()
      val once = batchRows(1L)
      assert(once.map(_._1).distinct === Seq(3L))   // dup doc 2 not indexed

      // the state a crash between the index write and the _batch_1
      // marker leaves behind: batch 1's rows written, neither the
      // marker nor the checkpoint's commit recorded — so the restarted
      // query replays batch 1 against the same index
      rm(s"$base/index/_batch_1")
      rm(s"$base/ckpt/commits/1")
      val q2 = run()
      try q2.processAllAvailable() finally q2.stop()

      assert(batchRows(1L) === once)
      assert(batchRows(0L).nonEmpty)
      val names = new java.io.File(s"$base/index").list().toSet
      assert(Set("_batch_0", "_batch_1", "_stream_checkpoint",
        "_stream_config").subsetOf(names), names)
      // the replayed verdicts are the same single pair
      assert(spark.read.parquet(s"$base/dups").select("new_id", "matched_id")
        .as[(Long, Long)].collect().toSeq === Seq((2L, 1L)))
    } finally {
      import scala.jdk.CollectionConverters._
      val p = java.nio.file.Paths.get(base)
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("fresh checkpoint over a retained index fails loudly, not silently") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_sdedup_rg_").toString
    def run(ckpt: String): Unit = {
      val input = MemoryStream[(Long, String)]
      val q = StreamingDedup.start(
        input.toDS().toDF("doc_id", "text"), textCol = "text", idCol = "doc_id",
        indexDir = s"$base/index", dupDir = s"$base/dups", checkpoint = ckpt)
      try {
        input.addData((1L, "the quick brown fox jumps over the lazy dog"))
        q.processAllAvailable()
      } finally q.stop()
    }
    try {
      run(s"$base/ckpt1") // commits _batch_0 into the index
      val ex = intercept[Exception] { run(s"$base/ckpt2") }
      val msgs = Iterator.iterate(ex: Throwable)(_.getCause)
        .takeWhile(_ != null).map(_.getMessage).mkString("\n")
      assert(msgs.contains("fresh checkpoint"),
        s"expected the batchId-regression guard, got:\n$msgs")
    } finally {
      import scala.jdk.CollectionConverters._
      val p = java.nio.file.Paths.get(base)
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("legacy index without ingest_batch fails loudly with a rebuild message") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_sdedup_preib_").toString
    // simulate a pre-ingest_batch index: partitioned layout, old schema
    Seq((1L, 123L, Seq(1L, 2L), 0, 0))
      .toDF("doc_id", "band_hash", "minhash", "band_idx", "band_bucket")
      .write.partitionBy("band_idx", "band_bucket").parquet(s"$base/index")
    val input = MemoryStream[(Long, String)]
    val q = StreamingDedup.start(
      input.toDS().toDF("doc_id", "text"), textCol = "text", idCol = "doc_id",
      indexDir = s"$base/index", dupDir = s"$base/dups",
      checkpoint = s"$base/ckpt")
    try {
      input.addData((7L, "the quick brown fox jumps over the lazy dog again"))
      val e = intercept[Throwable](q.processAllAvailable())
      def msgs(t: Throwable): Seq[String] = Option(t).toSeq
        .flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
      assert(msgs(e).exists(_.contains("ingest_batch")), e.toString)
    } finally q.stop()
  }

  test("legacy unpartitioned index layout fails loudly with a rebuild message") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val base = java.nio.file.Files.createTempDirectory("graft_sdedup_legacy_").toString
    // simulate an index written by the pre-partitioning layout: parquet
    // data files at the directory root, no band_idx=* partition dirs
    Seq((1L, 0, 0, 123L, Seq(1L, 2L)))
      .toDF("doc_id", "band_idx", "band_bucket", "band_hash", "minhash")
      .coalesce(1).write.parquet(s"$base/index")

    val input = MemoryStream[(Long, String)]
    val q = StreamingDedup.start(
      input.toDS().toDF("doc_id", "text"), textCol = "text", idCol = "doc_id",
      indexDir = s"$base/index", dupDir = s"$base/dups",
      checkpoint = s"$base/ckpt")
    try {
      input.addData((7L, "the quick brown fox jumps over the lazy dog again"))
      val e = intercept[Throwable](q.processAllAvailable())
      def msgs(t: Throwable): Seq[String] = Option(t).toSeq
        .flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
      assert(msgs(e).exists(_.contains("UNPARTITIONED")), e.toString)
    } finally q.stop()
  }

  private def allMessages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .flatMap(x => Option(x.getMessage)).mkString("\n")

  test("state claimed under the band-bucket layout's fingerprint fails loudly") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_sdedup_fp_").toString
    // both renderings the band-bucket layout wrote; neither is accepted
    for ((old, i) <- Seq("k=16;bands=4;shingleN=3;bucketMod=64",
                         "k=16;bands=4;shingleN=3").zipWithIndex) {
      val dir = java.nio.file.Paths.get(s"$base/index$i")
      java.nio.file.Files.createDirectories(dir)
      java.nio.file.Files.write(dir.resolve("_stream_config"),
        old.getBytes("UTF-8"))
      val input = MemoryStream[(Long, String)]
      val q = StreamingDedup.start(
        input.toDS().toDF("doc_id", "text"), textCol = "text", idCol = "doc_id",
        indexDir = dir.toString, dupDir = s"$base/dups$i",
        checkpoint = s"$base/ckpt$i")
      try {
        input.addData((7L, "the quick brown fox jumps over the lazy dog again"))
        val e = intercept[Throwable](q.processAllAvailable())
        assert(allMessages(e).contains(s"parameters [$old]") &&
          allMessages(e).contains("layout=ingest_batch"), allMessages(e))
      } finally q.stop()
    }
  }

  test("an UNCLAIMED dup dir holding a dead run's outputs is refused, never adopted") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_sdedup_aux_").toString
    def run(n: Int): Throwable = {
      val input = MemoryStream[(Long, String)]
      val q = StreamingDedup.start(
        input.toDS().toDF("doc_id", "text"), textCol = "text", idCol = "doc_id",
        indexDir = s"$base/index$n", dupDir = s"$base/dups",
        checkpoint = s"$base/ckpt$n")
      try {
        input.addData((1L, "the quick brown fox jumps over the lazy dog again"))
        try { q.processAllAvailable(); null }
        catch { case t: Throwable => t }
      } finally q.stop()
    }
    try {
      assert(run(0) == null)
      // the dead run left verdict outputs in dupDir; strip its claim
      // markers (pre-fence layout / lost markers) and re-ingest with a
      // FRESH index + checkpoint — the stale batch outputs would
      // silently mix into the new run's verdicts if adopted
      java.nio.file.Files.delete(
        java.nio.file.Paths.get(s"$base/dups/_stream_checkpoint"))
      java.nio.file.Files.delete(
        java.nio.file.Paths.get(s"$base/dups/_stream_config"))
      val e = run(1)
      assert(e != null && allMessages(e).contains("no run-identity claim"),
        Option(e).map(allMessages).getOrElse("no error"))
    } finally {
      import scala.jdk.CollectionConverters._
      val p = java.nio.file.Paths.get(base)
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("a claimed dir whose config marker vanished (crash mid-rewrite) is refused, never re-claimed blind") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_sdedup_cfg_").toString
    val input = MemoryStream[(Long, String)]
    val q = StreamingDedup.start(
      input.toDS().toDF("doc_id", "text"), textCol = "text", idCol = "doc_id",
      indexDir = s"$base/index", dupDir = s"$base/dups",
      checkpoint = s"$base/ckpt")
    try {
      input.addData((1L, "the quick brown fox jumps over the lazy dog again"))
      q.processAllAvailable()
      // the crash window of the atomic marker publish: old config
      // deleted, rename never ran — the dir keeps its run claim but
      // the state-shaping parameters are gone. Re-claiming them from
      // whatever THIS stream runs with would disarm the mismatch guard.
      java.nio.file.Files.delete(
        java.nio.file.Paths.get(s"$base/index/_stream_config"))
      input.addData((2L, "completely different content with unrelated words"))
      val e = intercept[Throwable](q.processAllAvailable())
      assert(allMessages(e).contains("run-identity claim but no _stream_config"),
        allMessages(e))
    } finally {
      q.stop()
      import scala.jdk.CollectionConverters._
      val p = java.nio.file.Paths.get(base)
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }
}
