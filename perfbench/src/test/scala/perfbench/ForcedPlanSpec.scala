package perfbench

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.Queries
import graft.sources.Sinks

/** The benchmark forces each operation by writing its full result. A
  * `.count()` lets Catalyst prune every column the count does not need,
  * which for q20 is the whole feature aggregation; the written plan must
  * keep it. */
class ForcedPlanSpec extends AnyFunSuite {

  /** Aggregate functions of every Aggregate node, as SQL strings. */
  def aggregates(plan: LogicalPlan): Seq[String] =
    plan.collect { case a: Aggregate => a.aggregateExpressions }.flatten
      .flatMap(_.collect { case e: AggregateExpression => e.sql })

  test("q20 forced by a write keeps its feature aggregates; a count drops them") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    val dir = Files.createTempDirectory("perfbench_q20_").toString
    try {
      import spark.implicits._
      val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
      (0 until 400).map { i =>
        (i.toLong, new Timestamp(t0 + i * 20000L), (i % 3).toLong,
          Seq("click", "view")(i % 2), (i * 7 % 50).toDouble, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.parquet(s"$dir/events.parquet")

      var written: Option[QueryExecution] = None
      val listener = new QueryExecutionListener {
        override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
          if (written.isEmpty) written = Some(qe)
        override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      val q20 = Queries.queries("q20_feature_pipeline")(spark, dir)
      spark.listenerManager.register(listener)
      Sinks.writeParquet(q20, s"$dir/out")
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      spark.listenerManager.unregister(listener)

      val forced = aggregates(written.get.optimizedPlan)
      assert(forced.count(_.contains("_peak_gap")) == 1, forced)
      // n_samples plus at least one aggregate per feature
      assert(forced.size >= 12, forced)
      val counted = aggregates(q20.groupBy().count().queryExecution.optimizedPlan)
      assert(!counted.exists(_.contains("_peak_gap")), counted)
      assert(counted.size < forced.size, counted)
    } finally {
      spark.stop()
      Workloads.deleteTree(new java.io.File(dir))
    }
  }
}
