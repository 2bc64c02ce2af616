package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }
}

/** The benchmark's driver program: one JVM runs one workload.
  *
  * Set-up is timed from JVM start through session start and one cold
  * pass, once per run: a second set-up in the same JVM would time a warm
  * JVM, and each costs a whole pass. The measuring window of `--seconds`
  * follows. In its first third, warm-up passes run untimed (at least
  * one): the second pass of a JVM still runs over a tenth slower than the
  * third, and by a share that changes from run to run as the JIT catches
  * up. Timed passes then run until the window has passed, and at least
  * one runs. With `--trace 1`
  * traced and untraced passes alternate, at least two traced and one
  * untraced, so the counters' repeatability shows: traced passes record spans
  * around every layer call and the listeners' counters, and the ratio of
  * the two pass times is the tracing overhead. Every timed pass's outputs
  * are checked after the pass, outside its timing. The raw record goes to
  * `--result` as JSON; the python front end turns it into the
  * benchmark's metrics.
  *
  *   Main --workload W --inputs DIR --work DIR --seconds S --trace 0|1 --result FILE
  */
object Main {

  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  final case class PassRec(pass: Int, traced: Boolean, wall: Double, r: PassResult,
                           failures: Map[String, String], layers: Map[String, Double])

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = opts("workload")
    val inputs = opts("inputs")
    val work = opts("work")
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val cores = Runtime.getRuntime.availableProcessors
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val workload = Workloads(workloadName, inputs)
    val trace = new Trace
    val spark = session(cores, work)
    def pass(out: String): PassResult = {
      Workloads.deleteTree(new File(out))
      trace.span("bench.pass")(workload.pass(spark, out, trace))
    }

    workload.prepare(spark)
    pass(s"$work/out/warmup")
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val window = System.nanoTime()
    val warmUntil = window + (seconds / 3 * 1e9).toLong
    val warmWalls = ArrayBuffer.empty[Double]
    while (warmWalls.isEmpty || System.nanoTime() < warmUntil) {
      val t0 = System.nanoTime()
      pass(s"$work/out/warmup")
      warmWalls += (System.nanoTime() - t0) / 1e9
    }
    Workloads.deleteTree(new File(s"$work/out/warmup"))

    val passes = ArrayBuffer.empty[PassRec]
    val deadline = window + (seconds * 1e9).toLong
    var p = 0
    while (p < (if (traced) 3 else 1) || System.nanoTime() < deadline) {
      val tracedPass = traced && p % 2 == 0
      val out = s"$work/out/p$p"
      trace.startPass(p)
      trace.enabled = tracedPass
      if (tracedPass) trace.attach(spark)
      val t0 = System.nanoTime()
      val r = pass(out)
      val wall = (System.nanoTime() - t0) / 1e9
      val pt = if (tracedPass) Some(trace.takePass(spark)) else None
      if (tracedPass) trace.detach(spark)
      trace.enabled = false
      val failures = r.ops.flatMap(o => o.error.map(o.name -> _)).toMap ++
        (try workload.verify(spark, out, r)
         catch { case e: Throwable => r.ops.map(_.name -> s"check failed: $e").toMap })
      val layers = pt.map { t =>
        Layers.of(t, wall) ++ workload.layerStats(spark, out, r, t)
      }.getOrElse(Map.empty)
      passes += PassRec(p, tracedPass, wall, r, failures, layers)
      p += 1
    }
    spark.stop()

    if (traced) writeSpans(s"$work/spans.json", trace.spans.toSeq)
    val result = Map(
      "workload" -> workloadName,
      "cores" -> cores,
      "setup_s" -> setupS,
      "warmup_wall_s" -> warmWalls.toSeq,
      "peak_rss_mb" -> peakRssMb,
      "oracles" -> oracles(workloadName),
      "passes" -> passes.map { r =>
        Map("pass" -> r.pass, "traced" -> r.traced, "wall_s" -> r.wall,
          "records" -> r.r.records, "info" -> r.r.info, "failures" -> r.failures,
          "layers" -> r.layers,
          "ops" -> r.r.ops.map { o =>
            Map("name" -> o.name, "s" -> o.seconds, "batch" -> o.batch,
              "check" -> o.check.map { case (k, path) => Map("name" -> k, "path" -> path) })
          })
      })
    write(opts("result"), json(result))
  }

  /** The DuckDB twins of the outputs the front end compares: q20's for
    * the feature table, which is the same sessionize/window/feature chain. */
  def oracles(workload: String): Map[String, String] =
    if (workload == "activity-dense")
      Map("features" -> graft.Queries.oracleSql("q20_feature_pipeline"))
    else Map.empty

  /** Driver peak resident set size, from the kernel. */
  def peakRssMb: Double = {
    val status = new String(Files.readAllBytes(new File("/proc/self/status").toPath),
      StandardCharsets.UTF_8)
    "VmHWM:\\s+(\\d+) kB".r.findFirstMatchIn(status).map(_.group(1).toDouble / 1024.0)
      .getOrElse(0.0)
  }

  def writeSpans(path: String, spans: Seq[Span]): Unit =
    write(path, json(spans.sortBy(_.id).map { s =>
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "pass" -> s.pass,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "seconds" -> s.seconds)
    }))

  def json(v: AnyRef): String = org.json4s.jackson.Serialization.write(v)(org.json4s.DefaultFormats)

  def write(path: String, text: String): Unit = {
    new File(path).getAbsoluteFile.getParentFile.mkdirs()
    Files.write(new File(path).toPath, text.getBytes(StandardCharsets.UTF_8))
    ()
  }
}

/** The per-layer numbers of one traced pass that every workload shares. */
object Layers {
  def of(t: PassTrace, wall: Double): Map[String, Double] = {
    def spansOf(prefix: String) = t.spans.filter(_.name.startsWith(prefix))
    def secs(prefix: String) = spansOf(prefix).map(_.seconds).sum
    val execS = Trace.unionLength(t.jobs.map(j => (j.startMs, j.endMs))) / 1000.0
    def phase(k: String) = t.queries.map(_.phases.getOrElse(k, 0L)).sum / 1000.0
    Map(
      "operators.build_s" -> secs("operators."),
      "operators.build_jobs" -> t.jobsIn(spansOf("operators.")).toDouble,
      "exec.driver_gap_s" -> math.max(0.0, wall - execS),
      "plans.analysis_s" -> phase("analysis"),
      "plans.optimization_s" -> phase("optimization"),
      "plans.planning_s" -> phase("planning"),
      "plans.plan_kb" -> t.queries.map(_.planChars).sum / 1024.0,
      "exec.s" -> execS,
      "exec.jobs" -> t.jobs.size.toDouble,
      "exec.stages" -> t.stages.size.toDouble,
      "exec.tasks" -> t.tasks.size.toDouble,
      "exec.task_cpu_s" -> t.tasks.map(_.cpuNs).sum / 1e9,
      "exec.shuffle_write_bytes" -> t.tasks.map(_.shuffleWrite).sum.toDouble,
      "exec.shuffle_read_bytes" -> t.tasks.map(_.shuffleRead).sum.toDouble,
      "exec.shuffle_records" -> t.tasks.map(_.shuffleRecords).sum.toDouble,
      "exec.spill_bytes" -> t.tasks.map(_.spill).sum.toDouble,
      "exec.peak_exec_mem_mb" ->
        (if (t.tasks.isEmpty) 0.0 else t.tasks.map(_.peakMem).max / 1048576.0),
      "sources.scan_bytes" -> t.scans.map(_.bytes).sum.toDouble,
      "sources.scan_rows" -> t.scans.map(_.rows).sum.toDouble,
      "sources.write_bytes" -> t.writes.map(_.bytes).sum.toDouble,
      "sources.write_files" -> t.writes.map(_.files).sum.toDouble,
      "ml.train_eval_s.dt" -> secs("ml.train_eval.dt"),
      "ml.train_eval_s.rf" -> secs("ml.train_eval.rf"),
      "ml.train_eval_s.lr" -> secs("ml.train_eval.lr"),
      "ml.jobs" -> t.jobsIn(spansOf("ml.")).toDouble,
      "ml.save_load_s" -> secs("ml.save_load"),
      "ml.score_s" -> secs("ml.score"),
    ) ++ selfTimes(t.spans)
  }

  /** Per layer, the time its spans cover minus what their child spans
    * cover. */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    val self = spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
      s.layer -> (s.endNs - s.startNs - Trace.unionLength(kids)) / 1e9
    }
    Seq("bench", "sources", "operators", "ml", "streaming").map { l =>
      s"self_s.$l" -> self.collect { case (`l`, v) => v }.sum
    }.toMap
  }
}
