package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}
import graft.sources.Tables

/** Per-group top-k written as the `row_number() <= k` filter: Spark's
  * `InferWindowGroupLimit` plans it as a Partial `WindowGroupLimit`
  * below the exchange and a Final one above it, and the answers match
  * a pure-Scala reference. */
class TopKPlanSpec extends SparkSpec {
  import spark.implicits._

  private def topK(df: org.apache.spark.sql.DataFrame, group: String,
                   score: String, k: Int) =
    df.withColumn("rn", row_number().over(
        Window.partitionBy(col(group)).orderBy(col(score).desc)))
      .filter(col("rn") <= k)

  test("plan: partial pass below the exchange, final above (shuffle carries survivors)") {
    val orders = Tables.orders(spark, sf("sf0.001"))
    val plan = topK(orders, "o_orderpriority", "o_totalprice", k = 3)
      .queryExecution.executedPlan.toString
    val iFinal = plan.indexOf(", Final")
    val iExchange = plan.indexOf("Exchange hashpartitioning(o_orderpriority")
    val iPartial = plan.indexOf(", Partial")
    assert(iFinal >= 0 && iExchange >= 0 && iPartial >= 0, plan)
    // plan trees print top-down: final < exchange < partial
    assert(iFinal < iExchange && iExchange < iPartial,
      s"expected final → exchange → partial ordering:\n$plan")
  }

  /** Runs `query` with and without `InferWindowGroupLimit` (threshold -1
    * switches the rule off): the limited plan must carry the Partial and
    * Final limits, the unlimited one none, and both must return the same
    * rows. */
  private def matchesUnlimited(query: => org.apache.spark.sql.DataFrame): Unit = {
    val plan = query.queryExecution.executedPlan.toString
    assert(plan.contains(", Partial") && plan.contains(", Final"), plan)
    val got = query.collect().map(_.toSeq).sortBy(_.toString)
    spark.conf.set("spark.sql.optimizer.windowGroupLimitThreshold", "-1")
    try {
      val vanilla = query.queryExecution.executedPlan.toString
      assert(!vanilla.contains("WindowGroupLimit"), s"the rule must be off:\n$vanilla")
      val expected = query.collect().map(_.toSeq).sortBy(_.toString)
      assert(got.toSeq === expected.toSeq)
    } finally spark.conf.unset("spark.sql.optimizer.windowGroupLimitThreshold")
  }

  test("rewrite: filter(row_number <= k) plans as WindowGroupLimit, exact vs no limit") {
    val orders = Tables.orders(spark, sf("sf0.001"))
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    // the ordering is total, so this is exact row equality, rn included
    matchesUnlimited(orders.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select("o_orderpriority", "rn", "o_orderkey", "o_totalprice"))
  }

  test("rewrite: the rn = 1 latest-record-per-key pattern plans as WindowGroupLimit") {
    val events = Tables.events(spark, sf("sf0.001"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id"))
    matchesUnlimited(events.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("user_id", "event_id", "ts"))
  }

  test("property: spilled top-k equals a pure-Scala reference on seeded random data") {
    // a 1-row window buffer forces the Window above the Final limit to
    // spill every group of more than one row to disk
    val spill = Seq("spark.sql.windowExec.buffer.in.memory.threshold",
      "spark.sql.windowExec.buffer.spill.threshold")
    spill.foreach(spark.conf.set(_, "1"))
    val spilled = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => spilled.addAndGet(m.diskBytesSpilled))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val rnd = new scala.util.Random(7)
      for (trial <- 1 to 3) {
        val n = 500 + trial * 300
        val groups = 40 * trial
        val data = (1 to n).map(i => (rnd.nextInt(groups), rnd.nextDouble(), i))
        val k = 1 + rnd.nextInt(5)
        val got = topK(data.toDF("g", "s", "id"), "g", "s", k)
          .select("g", "s").as[(Int, Double)].collect()
          .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
        val expected = data.groupBy(_._1).view
          .mapValues(_.map(_._2).sortBy(-_).take(k).sorted.toSeq).toMap
        assert(got === expected, s"trial $trial k=$k")
      }
      // task-end events arrive on the listener bus asynchronously
      eventually(timeout(Span(10, Seconds))) { assert(spilled.get > 0) }
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spill.foreach(spark.conf.unset)
    }
  }

  test("k larger than any group returns everything") {
    val df = Seq((1L, "a", 1.0), (2L, "a", 2.0), (3L, "b", 3.0))
      .toDF("id", "g", "s")
    assert(topK(df, "g", "s", k = 10).count() === 3)
  }

  test("float group keys: -0.0 and 0.0 are ONE group, matching the window plan") {
    // both zero encodings must hash-partition and compare as one key:
    // one rn=1 row for the zero group, not two
    val df = Seq((0.0, 1L, 10.0), (-0.0, 2L, 20.0), (1.5, 3L, 30.0))
      .toDF("key", "id", "s")
    val got = topK(df, "key", "s", k = 1).select("id").as[Long].collect().toSet
    assert(got === Set(2L, 3L))   // one zero group: id 2 (s=20) wins
  }

  test("rewrite guard: rank()/dense_rank() filters keep the Window (ties exceed k rows)") {
    // group a: scores 9, 7, 7, 7, 5, 3 — rank <= 2 keeps the 9 and all
    // three tied 7s (4 rows for k = 2); dense_rank <= 2 keeps the
    // same four; dense_rank <= 3 adds the 5
    val df = (Seq(9, 7, 7, 7, 5, 3).zipWithIndex
      .map { case (s, i) => ("a", i.toLong, s) } ++
      Seq(("b", 10L, 1), ("b", 11L, 1))).toDF("g", "id", "s")
    val w = Window.partitionBy(col("g")).orderBy(col("s").desc)
    def ids(fn: org.apache.spark.sql.Column, k: Int): Set[Long] =
      df.withColumn("rk", fn.over(w)).filter(col("rk") <= k)
        .select("id").as[Long].collect().toSet
    assert(ids(rank(), 2) === Set(0L, 1L, 2L, 3L, 10L, 11L))
    assert(ids(dense_rank(), 2) === Set(0L, 1L, 2L, 3L, 10L, 11L))
    assert(ids(dense_rank(), 3) === Set(0L, 1L, 2L, 3L, 4L, 10L, 11L))
    val plan = df.withColumn("rk", rank().over(w)).filter(col("rk") <= 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit") && plan.contains("Window ["), plan)
  }
}
