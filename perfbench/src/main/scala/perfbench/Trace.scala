package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call the benchmark made into a layer. `name` starts with
  * the layer (`sources.write`, `ml.train_eval.dt`, ...); `pass` is the
  * id every span of one pass shares. Times are driver wall-clock
  * milliseconds, the clock Spark stamps its listener events with, plus
  * nanoTime for durations. */
final case class Span(id: Int, name: String, parent: Int, pass: Int,
                      startMs: Long, endMs: Long, startNs: Long, endNs: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def seconds: Double = (endNs - startNs) / 1e9
  def contains(ms: Long): Boolean = ms >= startMs && ms <= endMs
}

final case class JobRec(id: Int, startMs: Long, var endMs: Long)
final case class StageRec(submittedMs: Long)
final case class TaskRec(launchMs: Long, cpuNs: Long, shuffleWrite: Long,
                         shuffleRead: Long, shuffleRecords: Long, spill: Long,
                         peakMem: Long)
final case class ScanRec(node: Int, path: String, bytes: Long, rows: Long)
final case class WriteRec(path: String, files: Long, bytes: Long, rows: Long)
final case class QueryRec(endMs: Long, phases: Map[String, Long], planChars: Long,
                          scans: Seq[ScanRec], writes: Seq[WriteRec])

/** What the listeners recorded during one pass. A cached plan's scans
  * show up in every query that reads the cache, so scans are kept once
  * per plan node, with the node's final counts. */
final case class PassTrace(spans: Seq[Span], jobs: Seq[JobRec], stages: Seq[StageRec],
                           tasks: Seq[TaskRec], queries: Seq[QueryRec]) {
  val scans: Seq[ScanRec] =
    queries.flatMap(_.scans).groupBy(_.node).values.map(_.maxBy(_.rows)).toSeq
  val writes: Seq[WriteRec] = queries.sortBy(_.endMs).flatMap(_.writes)
  /** Jobs that started inside any of `within`. */
  def jobsIn(within: Seq[Span]): Int = jobs.count(j => within.exists(_.contains(j.startMs)))
}

/** The traced run's recorder. Spans are kept in memory and written out
  * at exit. Counters come from a SparkListener (jobs, stages, tasks) and
  * a QueryExecutionListener (planning phases, plan size, scans, writes),
  * both read at pass and span boundaries. When `enabled` is false
  * nothing is recorded and no listener is registered. */
final class Trace {
  @volatile var enabled = false
  val spans = ArrayBuffer.empty[Span]
  private var openSpans = List.empty[Int]
  private var nextId = 0
  private var pass = 0

  private val jobs = ArrayBuffer.empty[JobRec]
  private val stages = ArrayBuffer.empty[StageRec]
  private val tasks = ArrayBuffer.empty[TaskRec]
  private val queries = ArrayBuffer.empty[QueryRec]

  def startPass(p: Int): Unit = pass = p

  /** Everything recorded since the last call, after the listener bus
    * has delivered all pending events; clears the buffers. */
  def takePass(spark: SparkSession): PassTrace = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    def take[T](b: ArrayBuffer[T]): Seq[T] = b.synchronized { val r = b.toSeq; b.clear(); r }
    PassTrace(spans.filter(_.pass == pass).toSeq, take(jobs), take(stages), take(tasks),
      take(queries))
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = openSpans.headOption.getOrElse(-1)
      openSpans = id :: openSpans
      val ms0 = System.currentTimeMillis()
      val ns0 = System.nanoTime()
      try body
      finally {
        openSpans = openSpans.tail
        spans += Span(id, name, parent, pass, ms0, System.currentTimeMillis(), ns0,
          System.nanoTime())
      }
    }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.synchronized { jobs += JobRec(e.jobId, e.time, e.time); () }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.synchronized { jobs.find(_.id == e.jobId).foreach(_.endMs = e.time) }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.synchronized {
        stages += StageRec(e.stageInfo.submissionTime.getOrElse(0L)); ()
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        tasks.synchronized {
          tasks += TaskRec(e.taskInfo.launchTime, m.executorCpuTime,
            m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
            m.shuffleWriteMetrics.recordsWritten,
            m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory)
          ()
        }
      }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val plan = qe.executedPlan
      val nodes = Trace.flatten(plan)
      val scans = nodes.collect { case s: FileSourceScanExec =>
        def m(k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
        ScanRec(System.identityHashCode(s), s.relation.location.rootPaths.map(_.toString).mkString(","),
          m("filesSize"), m("numOutputRows"))
      }
      val writes = nodes.collect {
        case w: DataWritingCommandExec =>
          def m(k: String) = w.cmd.metrics.get(k).map(_.value).getOrElse(0L)
          val path = w.cmd match {
            case i: InsertIntoHadoopFsRelationCommand => i.outputPath.toString
            case _ => ""
          }
          WriteRec(path, m("numFiles"), m("numOutputBytes"), m("numOutputRows"))
      }
      val phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs }
      queries.synchronized {
        queries += QueryRec(System.currentTimeMillis(), phases,
          plan.treeString.length.toLong, scans, writes)
        ()
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
  }

  def detach(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
  }
}

object Trace {
  /** Every physical node of a plan, descending into adaptive plans,
    * query stages, cached relations and command results. */
  def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val inner: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case c: CommandResultExec => Seq(c.commandPhysicalPlan)
      case _ => p.children ++ p.subqueries
    }
    p +: inner.flatMap(flatten)
  }

  /** Length of the union of [start, end] intervals, in the intervals' unit. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
