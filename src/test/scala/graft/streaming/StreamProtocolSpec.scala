package graft.streaming

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The shared replay protocol, exercised directly (the guard cases need
  * no Spark): identity claim, config-fingerprint pinning, marker bound,
  * and commit/skip — the guards every persistent-state stream relies
  * on — plus the one sink every stream commits through. */
class StreamProtocolSpec extends graft.SparkSpec {

  private def withDir(f: (org.apache.hadoop.fs.FileSystem, Path) => Unit): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_proto_")
    val dir = new Path(tmp.toString)
    val fs = dir.getFileSystem(new Configuration())
    try f(fs, dir)
    finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(tmp).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("first batch claims identity+config; commit makes its replay a skip") {
    withDir { (fs, dir) =>
      assert(!StreamProtocol.guard(fs, dir, "ck", "w=2", 0L, "_b_", "S")._1)
      // not yet committed: a replay of batch 0 re-runs
      assert(!StreamProtocol.guard(fs, dir, "ck", "w=2", 0L, "_b_", "S")._1)
      StreamProtocol.commit(fs, dir, "_b_", 0L)
      assert(StreamProtocol.guard(fs, dir, "ck", "w=2", 0L, "_b_", "S")._1)
      // the next batch proceeds normally
      assert(!StreamProtocol.guard(fs, dir, "ck", "w=2", 1L, "_b_", "S")._1)
    }
  }

  test("a different checkpoint fails fast (fresh checkpoint over retained state)") {
    withDir { (fs, dir) =>
      StreamProtocol.guard(fs, dir, "ck1", "w=2", 0L, "_b_", "S")
      val e = intercept[IllegalStateException] {
        StreamProtocol.guard(fs, dir, "ck2", "w=2", 0L, "_b_", "S")
      }
      assert(e.getMessage.contains("fresh checkpoint"))
    }
  }

  test("a different state-shaping config fails fast, even on the same checkpoint") {
    withDir { (fs, dir) =>
      StreamProtocol.guard(fs, dir, "ck", "width=2048", 0L, "_b_", "S")
      val e = intercept[IllegalStateException] {
        StreamProtocol.guard(fs, dir, "ck", "width=4096", 1L, "_b_", "S")
      }
      assert(e.getMessage.contains("state-shaping"))
      assert(e.getMessage.contains("width=2048") && e.getMessage.contains("width=4096"))
    }
  }

  test("recreated checkpoint at the SAME path after ONE committed batch fails fast") {
    withDir { (fs, dir) =>
      withDir { (_, ckDir) =>
        def setMetaId(id: String): Unit = {
          val out = fs.create(new Path(ckDir, "metadata"), true)
          try out.write(s"""{"id":"$id"}""".getBytes("UTF-8")) finally out.close()
        }
        val ck = ckDir.toString
        setMetaId("run-A")
        assert(!StreamProtocol.guard(fs, dir, ck, "w=2", 0L, "_b_", "S")._1)
        StreamProtocol.commit(fs, dir, "_b_", 0L)
        assert(StreamProtocol.guard(fs, dir, ck, "w=2", 0L, "_b_", "S")._1)
        // checkpoint deleted + recreated at the same path: new instance
        // id, batch ids restart at 0 — before the instance-id identity
        // this was silently "already committed" (data loss); now loud
        setMetaId("run-B")
        val e = intercept[IllegalStateException] {
          StreamProtocol.guard(fs, dir, ck, "w=2", 0L, "_b_", "S")
        }
        assert(e.getMessage.contains("fresh checkpoint"))
      }
    }
  }

  /** The bytes of both claim markers (None when absent), to show a
    * refusal left them as they were. */
  private def markers(dir: Path): Seq[Option[Seq[Byte]]] =
    Seq("_stream_checkpoint", "_stream_config").map { n =>
      val p = java.nio.file.Paths.get(dir.toUri.getPath, n)
      if (java.nio.file.Files.exists(p))
        Some(java.nio.file.Files.readAllBytes(p).toSeq)
      else None
    }

  test("a bare-path identity claim is refused, markers left untouched") {
    withDir { (fs, dir) =>
      withDir { (_, ckDir) =>
        val ck = ckDir.toString
        // a claim written by older code: the run file holds the bare
        // path (no metadata existed when it was written)
        val out = fs.create(new Path(dir, "_stream_checkpoint"), true)
        try out.write(ck.getBytes("UTF-8")) finally out.close()
        val meta = fs.create(new Path(ckDir, "metadata"), true)
        try meta.write("""{"id":"run-A"}""".getBytes("UTF-8")) finally meta.close()
        val before = markers(dir)
        // old state is refused, never upgraded
        val e = intercept[IllegalStateException] {
          StreamProtocol.guard(fs, dir, ck, "w=2", 1L, "_b_", "S")
        }
        assert(e.getMessage.contains(s"owned by checkpoint '$ck'"), e.getMessage)
        assert(markers(dir) === before)
      }
    }
  }

  test("a crash mid-publish leaves an orphan .tmp and no marker — the next " +
      "batch re-claims cleanly and the orphan never shadows the real file") {
    withDir { (fs, dir) =>
      // the crash window of the first claim's publish: tmp written,
      // rename not yet executed
      val out = fs.create(new Path(dir, "_stream_checkpoint.tmp"), true)
      try out.write("half-writ".getBytes("UTF-8")) finally out.close()
      // an absent run file is simply re-claimed by the rightful owner;
      // the orphan tmp must not be read as the identity
      assert(!StreamProtocol.guard(fs, dir, "ck", "w=2", 0L, "_b_", "S")._1)
      StreamProtocol.commit(fs, dir, "_b_", 0L)
      assert(StreamProtocol.guard(fs, dir, "ck", "w=2", 0L, "_b_", "S")._1)
      // and a subsequent different checkpoint still fails fast (the
      // re-claim installed the real identity, not the orphan's bytes)
      val e = intercept[IllegalStateException] {
        StreamProtocol.guard(fs, dir, "ck2", "w=2", 1L, "_b_", "S")
      }
      assert(e.getMessage.contains("fresh checkpoint"))
    }
  }

  test("an older config rendering is refused, markers left untouched") {
    withDir { (fs, dir) =>
      // state claimed before the fingerprint gained a field (the old
      // code's rendering, semantically identical values)
      StreamProtocol.guard(fs, dir, "ck", "k=9;bands=3", 0L, "_b_", "S")
      StreamProtocol.commit(fs, dir, "_b_", 0L)
      val before = markers(dir)
      // old state is refused, never upgraded — even the replay of the
      // committed batch
      for (batch <- Seq(0L, 1L)) {
        val e = intercept[IllegalStateException] {
          StreamProtocol.guard(fs, dir, "ck",
            "k=9;bands=3;bucketMod=64", batch, "_b_", "S")
        }
        assert(e.getMessage.contains("state-shaping"), e.getMessage)
        assert(markers(dir) === before)
      }
    }
  }

  test("publishing a marker over an existing file raises an IOException") {
    withDir { (fs, dir) =>
      val p = new Path(dir, "_marker")
      StreamProtocol.publishFile(fs, p, "first")
      intercept[java.io.IOException] {
        StreamProtocol.publishFile(fs, p, "second")
      }
      assert(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(p.toUri.getPath)), "UTF-8") === "first")
      // no checksum sidecar: markers are edited and compared as bytes
      assert(!fs.exists(new Path(dir, "._marker.crc")))
    }
  }

  test("a checkpoint on another filesystem than the state dir claims its instance id") {
    withDir { (_, dir) =>
      withDir { (_, ckDir) =>
        val conf = new Configuration()
        conf.set(s"fs.${OtherLocalFs.Scheme}.impl", classOf[OtherLocalFs].getName)
        // the state dir's fs must carry this conf (the cached local fs
        // may have been built from another one)
        val fs = org.apache.hadoop.fs.FileSystem.newInstance(dir.toUri, conf)
        try {
          java.nio.file.Files.write(
            java.nio.file.Paths.get(ckDir.toUri.getPath, "metadata"),
            """{"id":"run-A"}""".getBytes("UTF-8"))
          val ck = s"${OtherLocalFs.Scheme}://${ckDir.toUri.getPath}"
          assert(!StreamProtocol.guard(fs, dir, ck, "w=2", 0L, "_b_", "S")._1)
          assert(markers(dir).head.map(b => new String(b.toArray, "UTF-8")) ===
            Some(s"$ck#run-A"))
        } finally fs.close()
      }
    }
  }

  test("a committed marker beyond the current batch fails fast (recreated checkpoint)") {
    withDir { (fs, dir) =>
      StreamProtocol.guard(fs, dir, "ck", "w=2", 0L, "_b_", "S")
      StreamProtocol.commit(fs, dir, "_b_", 0L)
      StreamProtocol.commit(fs, dir, "_b_", 5L)
      val e = intercept[IllegalStateException] {
        StreamProtocol.guard(fs, dir, "ck", "w=2", 3L, "_b_", "S")
      }
      assert(e.getMessage.contains("batch 3"))
    }
  }

  test("the sink publishes a marker only after its body returns: a body " +
      "that throws after a write leaves none, the restart reruns it once") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    withDir { (fs, dir) =>
      val state = new Path(dir, "state")
      val ck = new Path(dir, "ckpt").toString
      val input = MemoryStream[Int]
      val crash = new AtomicBoolean(true)
      val runs = new AtomicInteger(0)
      def run() = StreamProtocol.sink(input.toDF(), state.toString, ck,
          "w=2", "S", markerPrefix = "_b_") { b =>
        runs.incrementAndGet()
        b.df.write.mode(SaveMode.Overwrite).parquet(s"$state/batch=${b.id}")
        if (crash.get) throw new IllegalStateException("crash after the write")
      }
      def markerNames = fs.listStatus(state).map(_.getPath.getName)
        .filter(_.startsWith("_b_")).toSeq.sorted

      input.addData(1, 2, 3)
      val q1 = run()
      try {
        val e = intercept[Exception] { q1.processAllAvailable() }
        assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
          .exists(_.getMessage.contains("crash after the write")), e)
      } finally q1.stop()
      assert(runs.get === 1)
      assert(fs.exists(new Path(state, "batch=0")))
      assert(markerNames === Seq.empty)

      crash.set(false)
      val q2 = run()
      try {
        q2.processAllAvailable()
        assert(runs.get === 2)
        assert(markerNames === Seq("_b_0"))
        input.addData(4)
        q2.processAllAvailable()
      } finally q2.stop()
      // batch 0 is not rerun once committed; batch 1 commits once too
      assert(runs.get === 3)
      assert(markerNames === Seq("_b_0", "_b_1"))
    }
  }

  test("a MODERN claim whose config marker vanished (crash mid-rewrite) refuses a blind re-claim") {
    withDir { (fs, dir) =>
      withDir { (_, ckDir) =>
        val ck = ckDir.toString
        val meta = fs.create(new Path(ckDir, "metadata"), true)
        try meta.write("""{"id":"run-A"}""".getBytes("UTF-8")) finally meta.close()
        assert(!StreamProtocol.guard(fs, dir, ck, "w=2", 0L, "_b_", "S")._1)
        // the publish crash window: old config deleted, rename never ran
        fs.delete(new Path(dir, "_stream_config"), false)
        // re-claiming from the RESUMING stream's params (w=3!) would
        // disarm the mismatch guard — refuse with the restore remedy
        val e = intercept[IllegalStateException] {
          StreamProtocol.guard(fs, dir, ck, "w=3", 1L, "_b_", "S")
        }
        assert(e.getMessage.contains("no _stream_config"), e.getMessage)
        // a bare-path claim written by older code is refused before
        // the config is looked at (pinned by the bare-path identity test)
      }
    }
  }
}

/** A second local scheme, so a path on it is on another `FileSystem`
  * than the plain local state directory. */
class OtherLocalFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create(s"${OtherLocalFs.Scheme}:///")
  override def getScheme: String = OtherLocalFs.Scheme
}

object OtherLocalFs { val Scheme = "otherlocal" }
