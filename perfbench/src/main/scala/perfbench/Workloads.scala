package perfbench

import java.io.File

import org.apache.spark.ml.{Estimator, Model, PipelineModel}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Queries
import graft.functions.GraftFunctions
import graft.ml.Models
import graft.operators.Features
import graft.sources.{Sinks, Tables}
import graft.streaming.StreamingDedup

/** One timed operation of a pass. `check` names an output the front end
  * compares with its DuckDB twin after the run, or is empty when the
  * operation was checked in place. `batch` marks the micro-batches whose
  * median latency the benchmark reports. */
final case class Op(name: String, seconds: Double, error: Option[String],
                    check: Option[(String, String)] = None, batch: Boolean = false)

/** A pass's operations, the input records it processed, and numbers the
  * results record keeps beside the timings (model accuracies). */
final case class PassResult(ops: Seq[Op], records: Long, info: Map[String, Double] = Map.empty)

/** A workload runs passes over generated inputs. `pass` is the timed
  * region; `verify` checks the pass's outputs afterwards, outside it,
  * and returns the names of the operations whose output was wrong. */
trait Workload {
  def prepare(spark: SparkSession): Unit = ()
  def pass(spark: SparkSession, out: String, trace: Trace): PassResult
  def verify(spark: SparkSession, out: String, result: PassResult): Map[String, String]
  /** The workload's own per-layer numbers for a traced pass. */
  def layerStats(spark: SparkSession, out: String, r: PassResult,
                 t: PassTrace): Map[String, Double] = Map.empty
}

object Workloads {
  def apply(name: String, inputs: String): Workload = name match {
    case "activity-dense" => new ActivityDense(inputs)
    case "ingest-stream" => new IngestStream(inputs)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Times `body`, catching its failure so one broken operation is
    * counted instead of ending the run. */
  def timed(name: String)(body: => Unit): Op = {
    val t0 = System.nanoTime()
    val err = try { body; None }
      catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    Op(name, (System.nanoTime() - t0) / 1e9, err)
  }

  /** The input directory's manifest, written by gen.py. */
  def manifest(inputs: String): org.json4s.JValue =
    org.json4s.jackson.JsonMethods.parse(new File(s"$inputs/manifest.json"))

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
    ()
  }

  /** (files, bytes) under a directory, recursively. */
  def treeSize(f: File): (Long, Long) =
    if (f.isFile) (1L, f.length())
    else Option(f.listFiles()).map(_.toSeq).getOrElse(Nil).map(treeSize)
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
}

/** The reference job end to end: load samples, sessionize and window
  * them into the 11 features, write the feature table, reload it, train
  * and evaluate the three classifiers, round-trip the best model through
  * its writer and score every window. Scoring runs in micro-batches of
  * users (user_id mod [[ScoreBatches]]), as a service scoring the latest
  * windows would; each is one operation and one write. */
final class ActivityDense(inputs: String) extends Workload {
  import Workloads.timed

  val Vocab = Seq("click", "error", "purchase", "signup", "view")
  val ScoreBatches = 6
  /** Held-out accuracy each model must reach on the generated samples. */
  val AccuracyFloor = Map("dt" -> 0.75, "rf" -> 0.75, "lr" -> 0.5)
  private var evals = Map.empty[String, Models.Eval]
  private var rows = 0L

  override def prepare(spark: SparkSession): Unit = {
    implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
    rows = (Workloads.manifest(inputs) \ "tables" \ "events" \ "rows").extract[Long]
  }

  def pass(spark: SparkSession, out: String, trace: Trace): PassResult = {
    evals = Map.empty
    val features = timed("features") {
      val ev = trace.span("sources.load")(Tables.load(spark, inputs, "events"))
      val feats = trace.span("operators.build.features") {
        val us = ev.withColumn("ts_us", GraftFunctions.epochMicros(ev.schema("ts").dataType, col("ts")))
          .withColumn("ax", col("value"))
          .withColumn("ay", col("value") * 0.5 - 10.0)
          .withColumn("az", lit(20.0) - col("value") * 0.25)
        Features.pipeline(us, user = "user_id", activity = "event_type", tsName = "ts_us",
          axes = Features.Axes(col("ax"), col("ay"), col("az")),
          gap = Queries.SessionGapUs, width = Queries.WindowWidthUs,
          tieBreak = Seq(col("event_id")))
          .withColumn("label", Models.encodeLabel(col("event_type"), Vocab))
      }
      trace.span("sources.write.features")(Sinks.writeParquet(feats, s"$out/features.parquet"))
    }.copy(check = Some("features" -> s"$out/features.parquet"))
    if (features.error.isDefined) return PassResult(Seq(features), rows)
    val table = trace.span("sources.load.features")(Tables.load(spark, out, "features")).cache()
    try {
      val estimators: Seq[(String, Estimator[_ <: Model[_]])] = Seq(
        "dt" -> (Models.decisionTree: Estimator[_ <: Model[_]]),
        "rf" -> Models.randomForest, "lr" -> Models.logisticRegression)
      val fits = estimators.map { case (k, est) =>
        timed(k) {
          evals += k -> trace.span(s"ml.train_eval.$k")(Models.trainEval(table, est))
        }
      }
      var model = Option.empty[PipelineModel]
      val saveLoad = timed("save_load") {
        val best = evals.values.maxBy(_.accuracy)
        model = Some(trace.span("ml.save_load")(Models.saveLoad(best.model, s"$out/model")))
      }
      val windows = Models.observed(table)
      val scores = model.toSeq.flatMap { m =>
        (0 until ScoreBatches).map { k =>
          timed(s"score$k") {
            trace.span("ml.score") {
              val scored = m.transform(windows.filter(pmod(col("user_id"), lit(ScoreBatches)) === k))
                .select("user_id", "event_type", "session_id", "window_id", "label", "prediction")
              trace.span("sources.write.predictions")(
                Sinks.writeParquet(scored, s"$out/predictions/batch=$k"))
            }
          }.copy(batch = true)
        }
      }
      PassResult(Seq(features) ++ fits ++ Seq(saveLoad) ++ scores, rows,
        evals.map { case (k, e) => s"accuracy.$k" -> e.accuracy })
    } finally table.unpersist()
  }

  def verify(spark: SparkSession, out: String, r: PassResult): Map[String, String] = {
    val feats = spark.read.parquet(s"$out/features.parquet")
    val usable = Models.observed(feats).filter(col("label").isNotNull).count()
    val bad = Map.newBuilder[String, String]
    evals.foreach { case (k, e) =>
      if (e.nTrain + e.nTest != usable)
        bad += k -> s"n_train ${e.nTrain} + n_test ${e.nTest} != usable windows $usable"
      else if (e.accuracy < AccuracyFloor(k))
        bad += k -> f"accuracy ${e.accuracy}%.4f below floor ${AccuracyFloor(k)}"
    }
    if (r.ops.count(_.batch) == ScoreBatches) {
      val n = spark.read.parquet(s"$out/predictions").count()
      if (n != usable) bad += "score" -> s"$n predictions for $usable usable windows"
    }
    bad.result()
  }
}

/** StreamingDedup as a closed loop: one client hands micro-batch i to
  * the stream and waits for it to commit before handing over i + 1.
  * Every pass starts from an empty index. */
final class IngestStream(inputs: String) extends Workload {
  import Workloads.{timed, treeSize}

  private var batches = Seq.empty[Seq[(Long, String)]]
  private var planted = Map.empty[Long, Long]
  private var batchOf = Map.empty[Long, Int]
  private var textBytes = 0L

  override def prepare(spark: SparkSession): Unit = {
    import org.json4s._
    implicit val formats: Formats = DefaultFormats
    val manifest = Workloads.manifest(inputs)
    val size = (manifest \ "batch_docs").extract[Int]
    planted = (manifest \ "planted").extract[List[List[Long]]]
      .map { case List(copy, orig) => copy -> orig; case p => sys.error(s"bad pair $p") }.toMap
    // the client's feed, in doc_id order, as gen.py wrote it beside the table
    val rows = org.json4s.jackson.JsonMethods.parse(new File(s"$inputs/feed.json"))
      .extract[List[JValue]].map {
        case JArray(List(JInt(id), JString(text))) => (id.toLong, text)
        case d => sys.error(s"bad feed entry $d")
      }
    batches = rows.grouped(size).toSeq
    batchOf = batches.zipWithIndex.flatMap { case (b, i) => b.map(_._1 -> i) }.toMap
    textBytes = rows.map(_._2.getBytes("UTF-8").length.toLong).sum
  }

  def pass(spark: SparkSession, out: String, trace: Trace): PassResult = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, String)]
    val q = trace.span("streaming.start")(StreamingDedup.start(
      input.toDS().toDF("doc_id", "text"), textCol = "text", idCol = "doc_id",
      indexDir = s"$out/index", dupDir = s"$out/dups", checkpoint = s"$out/ckpt"))
    try {
      val ops = batches.zipWithIndex.map { case (b, i) =>
        timed(s"batch$i") {
          trace.span(s"streaming.batch.$i") {
            input.addData(b)
            q.processAllAvailable()
          }
        }.copy(batch = true)
      }
      PassResult(ops, batches.map(_.size.toLong).sum)
    } finally trace.span("streaming.stop")(q.stop())
  }

  private def flagged(spark: SparkSession, out: String): Set[Long] =
    if (!new File(s"$out/dups").exists()) Set.empty
    else spark.read.parquet(s"$out/dups").select("new_id").collect().map(_.getLong(0)).toSet

  def verify(spark: SparkSession, out: String, r: PassResult): Map[String, String] = {
    val got = flagged(spark, out)
    planted.keys.filterNot(got).groupBy(batchOf).map { case (b, missed) =>
      s"batch$b" -> s"${missed.size} planted copies not flagged, e.g. doc ${missed.min}"
    }
  }

  override def layerStats(spark: SparkSession, out: String, r: PassResult,
                          t: PassTrace): Map[String, Double] = {
    val n = batches.size.toDouble
    val batchSpans = t.spans.filter(_.name.startsWith("streaming.batch."))
    // the stream's state on disk after its last batch
    val (files, bytes) = Seq("index", "dups").map(d => treeSize(new File(s"$out/$d")))
      .reduce((a, b) => (a._1 + b._1, a._2 + b._2))
    // rows each batch appended to the index, in batch order, and the
    // index rows the batches' pruned scans read
    val appended = t.writes.filter(_.path.endsWith("/index")).map(_.rows)
    val held = appended.scanLeft(0L)(_ + _).take(appended.size).sum
    val read = t.scans.filter(_.path.contains("/index")).map(_.rows).sum
    Map(
      "streaming.batch_s" -> Stats.median(batchSpans.map(_.seconds)),
      "streaming.jobs_per_batch" -> t.jobsIn(batchSpans) / n,
      "streaming.files_per_batch" -> files / n,
      "streaming.write_amp" -> bytes.toDouble / textBytes,
      "streaming.state_files" -> files.toDouble,
      "streaming.state_mb" -> bytes / 1048576.0,
      "streaming.index_read_ratio" -> (if (held > 0) read.toDouble / held else 0.0),
      "streaming.dup_recall" ->
        planted.keySet.count(flagged(spark, out)).toDouble / planted.size)
  }
}
