package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** [[StreamProtocol.validatedIndex]]'s probe memo across directory
  * GENERATIONS: the memo exists to avoid re-reading footers every
  * micro-batch, but a state dir deleted and recreated at the same path
  * (tests, re-ingest tooling) is a new generation — a legacy index
  * planted there must be re-probed, not silently passed on the old
  * memo entry. Also its layout probe: data outside the reader's
  * partition directories is refused, never read as an empty index. */
class ValidatedIndexSpec extends graft.SparkSpec {

  private val Schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("bucket", LongType),
    StructField("ingest_batch", LongType)))

  test("delete-and-recreate re-probes: a legacy index without " +
      "ingest_batch fails loudly even after a prior validation memoized") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_vidx_").toString
    val dir = new Path(tmp, "index")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    def rmAll(): Unit = fs.delete(dir, true)

    // generation 1: a valid partitioned index — probe passes, memoizes
    Seq((1L, 0L, 0L)).toDF("doc_id", "bucket", "ingest_batch")
      .write.partitionBy("bucket").parquet(dir.toString)
    assert(StreamProtocol.validatedIndex(spark, fs, dir, "bucket", Schema,
      "S", "by re-running prepare").nonEmpty)

    // the dir disappears; an absent-dir read must clear the memo entry
    rmAll()
    assert(StreamProtocol.validatedIndex(spark, fs, dir, "bucket", Schema,
      "S", "by re-running prepare").isEmpty)

    // generation 2 at the SAME path: a legacy index WITHOUT
    // ingest_batch — with the stale memo this silently passed; the
    // generation-aware memo re-probes and fails loudly
    Seq((1L, 0L)).toDF("doc_id", "bucket")
      .write.partitionBy("bucket").parquet(dir.toString)
    val e = intercept[IllegalStateException] {
      StreamProtocol.validatedIndex(spark, fs, dir, "bucket", Schema,
        "S", "by re-running prepare")
    }
    assert(e.getMessage.contains("ingest_batch"))
    rmAll()
  }

  test("recreate BETWEEN calls (no absent observation): the run-file " +
      "generation token invalidates the memo and the probe re-fires") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_vidx_gen_").toString
    val dir = new Path(tmp, "index")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    def claim(): Unit =
      // the stream flow: replayGuards claims _stream_checkpoint in the
      // state dir before any validatedIndex read — that file's
      // mtime+len is the generation fingerprint the memo keys on
      StreamProtocol.replayGuards(fs, dir, s"$tmp/ckpt", "w=1", 0L,
        "_b_", "S")

    // generation 1: valid index + claimed run file — memoizes
    Seq((1L, 0L, 0L)).toDF("doc_id", "bucket", "ingest_batch")
      .write.partitionBy("bucket").parquet(dir.toString)
    claim()
    assert(StreamProtocol.validatedIndex(spark, fs, dir, "bucket", Schema,
      "S", "by re-running prepare").nonEmpty)

    // delete + recreate with a LEGACY index and a fresh claim, with no
    // intermediate validatedIndex call observing the gap — the exact
    // window the bare-path memo silently passed
    fs.delete(dir, true)
    Thread.sleep(1100)  // run-file mtime must differ from generation 1
                        // even on 1 s-granularity filesystems
    Seq((1L, 0L)).toDF("doc_id", "bucket")
      .write.partitionBy("bucket").parquet(dir.toString)
    claim()
    val e = intercept[IllegalStateException] {
      StreamProtocol.validatedIndex(spark, fs, dir, "bucket", Schema,
        "S", "by re-running prepare")
    }
    assert(e.getMessage.contains("ingest_batch"))
    fs.delete(dir, true)
  }

  test("data outside <prefix>=* directories (a foreign layout) fails " +
      "loudly instead of reading as an empty index") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_vidx_foreign_").toString
    val dir = new Path(tmp, "index")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    def refused(): IllegalStateException =
      intercept[IllegalStateException] {
        StreamProtocol.validatedIndex(spark, fs, dir, "ingest_batch", Schema,
          "S", "partitioned by ingest_batch")
      }

    // an index keyed by another column: no ingest_batch=* directory at
    // all, so a prefix-only probe would call it EMPTY and drop it
    Seq((1L, 0L, 0L)).toDF("doc_id", "bucket", "ingest_batch")
      .write.partitionBy("bucket").parquet(dir.toString)
    // markers, checksums and _SUCCESS are not data
    StreamProtocol.replayGuards(fs, dir, s"$tmp/ckpt", "w=1", 0L, "_b_", "S")
    StreamProtocol.commit(fs, dir, "_b_", 0L)
    val e = refused()
    assert(e.getMessage.contains("ingest_batch=*") &&
      e.getMessage.contains("bucket=0") &&
      e.getMessage.contains("partitioned by ingest_batch"), e.getMessage)

    // a valid partition beside the stray layout is refused too
    Seq((2L, 0L, 1L)).toDF("doc_id", "bucket", "ingest_batch")
      .write.mode("append").partitionBy("ingest_batch").parquet(dir.toString)
    assert(refused().getMessage.contains("bucket=0"))

    // only the valid layout (plus markers and _SUCCESS) reads back
    fs.delete(new Path(dir, "bucket=0"), true)
    val idx = StreamProtocol.validatedIndex(spark, fs, dir, "ingest_batch",
      Schema, "S", "partitioned by ingest_batch")
    assert(idx.map(_.select("doc_id").as[Long].collect().toSeq) === Some(Seq(2L)))
    fs.delete(new Path(tmp), true)
  }
}
