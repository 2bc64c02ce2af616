package graft

import org.apache.spark.sql.functions._
import graft.operators.EventAnalytics

/** Hand-computed fixtures for the event-sequence analytics family
  * (funnel / retention / attribution) plus plan-shape pins: the funnel's
  * chained windows and final per-key agg must share ONE hash exchange
  * and ONE sort — the property that makes it a single-shuffle operator
  * at any scale. */
class EventAnalyticsSpec extends SparkSpec {
  import spark.implicits._

  // (user, event_id, type, ts, value)
  //  u1: v@10  c@20  p@30            — clean complete funnel
  //  u2: c@10  v@20  p@30            — click BEFORE view: step2 never chains
  //  u3: v@10  c@10  p@30            — tie at 10: same-ts click must NOT chain
  //  u4: v@10  c@20  p@20            — tie at 20: same-ts purchase must NOT chain
  //  u5: v@10  c@(10+8d) p@(10+9d)   — chain completes OUTSIDE the 7-day window
  //  u6: v@40  c@50                  — no purchase
  //  u7: p@10                        — conversion with no prior touch
  val D = 86400000000L // one day, µs
  def ev = Seq(
    (1L, 1L, "view", 10L, 1.0), (1L, 2L, "click", 20L, 2.0), (1L, 3L, "purchase", 30L, 10.0),
    (2L, 4L, "click", 10L, 1.0), (2L, 5L, "view", 20L, 1.0), (2L, 6L, "purchase", 30L, 20.0),
    (3L, 7L, "view", 10L, 1.0), (3L, 8L, "click", 10L, 1.0), (3L, 9L, "purchase", 30L, 40.0),
    (4L, 10L, "view", 10L, 1.0), (4L, 11L, "click", 20L, 1.0), (4L, 12L, "purchase", 20L, 80.0),
    (5L, 13L, "view", 10L, 1.0), (5L, 14L, "click", 10L + 8 * D, 1.0), (5L, 15L, "purchase", 10L + 9 * D, 160.0),
    (6L, 16L, "view", 40L, 1.0), (6L, 17L, "click", 50L, 1.0),
    (7L, 18L, "purchase", 10L, 320.0),
  ).toDF("user_id", "event_id", "event_type", "ts_us", "value")

  val steps = Seq("view", "click", "purchase")

  test("funnelTimes: strict-order chaining, ties do not chain") {
    val t = EventAnalytics.funnelTimes(ev, "user_id", "ts_us", "event_type", steps, "event_id")
      .orderBy("user_id")
      .select("user_id", "t1", "t2", "t3")
      .as[(Long, Option[Long], Option[Long], Option[Long])].collect().toSeq
    assert(t === Seq(
      (1L, Some(10L), Some(20L), Some(30L)),
      (2L, Some(20L), None, None),           // click precedes view
      (3L, Some(10L), None, None),           // same-ts click: no strict predecessor
      (4L, Some(10L), Some(20L), None),      // same-ts purchase: no strict predecessor
      (5L, Some(10L), Some(10L + 8 * D), Some(10L + 9 * D)),
      (6L, Some(40L), Some(50L), None),
      (7L, None, None, None)))
  }

  test("funnelLatency: exact interpolated percentiles, window cutoff, empty-transition law") {
    // hand-built times table: deltas d1 = {10, 40, 10}, d2 = {20}
    // (row 3's purchase lands outside the window; row 4 never clicks)
    val times = Seq(
      (1L, Some(0L), Some(10L), Some(30L)),
      (2L, Some(0L), Some(40L), None),
      (3L, Some(0L), Some(10L), Some(200L)),
      (4L, Some(0L), None, None))
      .toDF("user_id", "t1", "t2", "t3")
    val out = EventAnalytics.funnelLatency(times, steps, windowUs = 100L)
      .as[(Int, String, Long, Option[Long], Option[Double], Option[Double], Option[Long])]
      .collect().toSeq
    // p90 of [10,10,40]: rank 0.9*(3-1)=1.8 -> 10 + 0.8*(40-10) = 34
    assert(out === Seq(
      (1, "view->click", 3L, Some(10L), Some(10.0), Some(34.0), Some(40L)),
      (2, "click->purchase", 1L, Some(20L), Some(20.0), Some(20.0), Some(20L))))
    // a window nobody fits keeps both rows with n_keys = 0, NULL stats
    val none = EventAnalytics.funnelLatency(times, steps, windowUs = 5L)
      .as[(Int, String, Long, Option[Long], Option[Double], Option[Double], Option[Long])]
      .collect().toSeq
    assert(none === Seq(
      (1, "view->click", 0L, None, None, None, None),
      (2, "click->purchase", 0L, None, None, None, None)))
  }

  test("funnelLatency population == funnelSummary in-window users per step") {
    val times = EventAnalytics.funnelTimes(ev, "user_id", "ts_us", "event_type", steps, "event_id")
    val lat = EventAnalytics.funnelLatency(times, steps, windowUs = 7 * D)
      .select("step_idx", "n_keys").as[(Int, Long)].collect().toMap
    val sum = EventAnalytics.funnelSummary(times, steps, windowUs = 7 * D)
      .select("step_idx", "users").as[(Int, Long)].collect().toMap
    // transition k covers the same keys the summary counts at step k+1
    assert(lat(1) === sum(2) && lat(2) === sum(3))
  }

  test("debounce: trailing-gap chains, per-(key,type) isolation, singleton bursts") {
    // u1/view at 0,5,12,30 with eps=7: 0-5-12 chain (gap 5, 7), 30 opens
    // anew; u1/click at 6 is its own burst (types never mix); u2/view
    // at 11 is isolated
    val ev2 = Seq(
      (1L, 1L, "view", 0L), (1L, 2L, "view", 5L), (1L, 3L, "view", 12L),
      (1L, 4L, "view", 30L), (1L, 5L, "click", 6L), (2L, 6L, "view", 11L)
    ).toDF("user_id", "event_id", "event_type", "ts_us")
    val out = EventAnalytics.debounce(ev2, "user_id", "ts_us",
        "event_type", "event_id", epsUs = 7L)
      .orderBy("user_id", "event_type", "ts_first")
      .as[(Long, String, Long, Long, Long)].collect().toSeq
    assert(out === Seq(
      (1L, "click", 6L, 6L, 1L),
      (1L, "view", 0L, 12L, 3L),
      (1L, "view", 30L, 30L, 1L),
      (2L, "view", 11L, 11L, 1L)))
  }

  test("scd2Intervals: run compression, NULL-safe breaks, open current version") {
    // u1: a a b a -> versions a[0,20) b[20,30) a[30,null); u2 has a
    // NULL-attr run between values: x[0,10) null[10,30) x[30,null)
    // (two consecutive NULLs are ONE version)
    val ev2 = Seq(
      (1L, 1L, Some("a"), 0L), (1L, 2L, Some("a"), 10L),
      (1L, 3L, Some("b"), 20L), (1L, 4L, Some("a"), 30L),
      (2L, 5L, Some("x"), 0L), (2L, 6L, None, 10L),
      (2L, 7L, None, 20L), (2L, 8L, Some("x"), 30L)
    ).toDF("user_id", "event_id", "event_type", "ts_us")
    val out = EventAnalytics.scd2Intervals(ev2, "user_id", "ts_us",
        "event_type", "event_id")
      .orderBy("user_id", "valid_from")
      .as[(Long, Option[String], Long, Option[Long], Long)].collect().toSeq
    assert(out === Seq(
      (1L, Some("a"), 0L, Some(20L), 2L),
      (1L, Some("b"), 20L, Some(30L), 1L),
      (1L, Some("a"), 30L, None, 1L),
      (2L, Some("x"), 0L, Some(10L), 1L),
      (2L, None, 10L, Some(30L), 2L),
      (2L, Some("x"), 30L, None, 1L)))
    // interval law: within a key, valid_to == next valid_from and only
    // the LAST version is open
    out.groupBy(_._1).foreach { case (_, vs) =>
      val sorted = vs.sortBy(_._3)
      sorted.init.zip(sorted.tail).foreach { case (a, b) =>
        assert(a._4.contains(b._3)) }
      assert(sorted.last._4.isEmpty)
    }
  }

  test("intervalUnion: touching merges, gaps split, zero-width counts; bad interval refuses") {
    val iv = Seq(
      (1L, 0L, 10L), (1L, 5L, 20L),     // overlap -> one island [0,20]
      (1L, 20L, 25L),                    // touches 20 -> same island [0,25]
      (1L, 30L, 30L),                    // zero-width island
      (2L, 0L, 1L), (2L, 5L, 6L))        // two islands
    val out = EventAnalytics.intervalUnion(
        iv.toDF("k", "s", "e"), "k", "s", "e")
      .orderBy("k").as[(Long, Long, Long, Long)].collect().toSeq
    assert(out === Seq((1L, 4L, 2L, 25L), (2L, 2L, 2L, 2L)))
    val boom = intercept[Exception] {
      EventAnalytics.intervalUnion(
        Seq((1L, 10L, 5L)).toDF("k", "s", "e"), "k", "s", "e").count()
    }
    assert(Iterator.iterate(boom: Throwable)(_.getCause).takeWhile(_ != null)
      .flatMap(t => Option(t.getMessage)).mkString.contains("negative-width"))
  }

  test("funnelSummary: window cutoff, conversions, integral avg") {
    val times = EventAnalytics.funnelTimes(ev, "user_id", "ts_us", "event_type", steps, "event_id")
    val s = EventAnalytics.funnelSummary(times, steps, windowUs = 7 * D)
      .select("step_idx", "step", "users", "conv_vs_first", "conv_vs_prev", "avg_us_from_first")
      .as[(Int, String, Long, Option[Double], Option[Double], Option[Long])].collect().toSeq
    // reached: step1 u1..u6 (6); step2 u1,u4,u6 in-window (u5's click is 8d
    // out); step3 u1 only (u5 out of window). avgs: step2 (10+10+10)/3=10;
    // step3 20/1=20.
    assert(s === Seq(
      (1, "view", 6L, Some(1.0), None, Some(0L)),
      (2, "click", 3L, Some(0.5), Some(0.5), Some(10L)),
      (3, "purchase", 1L, Some(0.1667), Some(0.3333), Some(20L))))
  }

  test("funnel plan: chained windows + agg share one exchange, one sort") {
    val p = EventAnalytics.funnelTimes(ev, "user_id", "ts_us", "event_type", steps, "event_id")
      .queryExecution.executedPlan.toString
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    val sorts = "Sort \\[".r.findAllIn(p).length
    assert(hashExchanges === 1,
      s"k-step funnel must cost exactly one shuffle, got $hashExchanges:\n$p")
    assert(sorts === 1,
      s"chained cumulative windows must share one sort, got $sorts:\n$p")
  }

  test("retentionCohorts: cohort census and retained share") {
    // weeks of width 100 from epoch 0: u1 first in wk0, active wk0+wk2;
    // u2 first in wk0, active wk0; u3 first in wk2, active wk2.
    val e = Seq(
      (1L, 10L), (1L, 50L), (1L, 250L),
      (2L, 20L),
      (3L, 210L),
    ).toDF("user_id", "ts_us")
    val r = EventAnalytics.retentionCohorts(e, "user_id", "ts_us", epoch0Us = 0L, weekUs = 100L)
      .select("cohort_week", "week_offset", "users", "cohort_size", "retained_pct")
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(r === Seq(
      (0L, 0L, 2L, 2L, 1.0),
      (0L, 2L, 1L, 2L, 0.5),
      (2L, 0L, 1L, 1L, 1.0)))
  }

  test("dyadicEwma: exact rational weights, hand-computed") {
    val e = Seq((1L, 1L, 10L, 1.0), (1L, 2L, 20L, 2.0), (1L, 3L, 30L, 3.0))
      .toDF("user_id", "event_id", "ts_us", "value")
    val r = EventAnalytics.dyadicEwma(e, "user_id", "ts_us", "event_id", "value")
      .orderBy("ts_us").select("ewma").as[Double].collect().toSeq
    // cents folds: [100]→100/1; [100,200]→(100+400)/3; [100,200,300]→(100+400+1200)/7
    assert(r === Seq(1.0, 1.666667, 2.428571))
  }

  test("dyadicEwma: null values shrink the frame (collect_list drops them); " +
      "all-null frame -> NULL; matches the q131 oracle's non-null band") {
    val e = Seq((1L, 101L, 1L, Option(10.0)), (1L, 102L, 2L, Option.empty[Double]),
        (1L, 103L, 3L, Option(20.0)), (2L, 201L, 1L, Option.empty[Double]))
      .toDF("user_id", "event_id", "ts_us", "value")
    val r = EventAnalytics.dyadicEwma(e, "user_id", "ts_us", "event_id", "value")
      .orderBy("user_id", "ts_us").select("ewma").as[Option[Double]].collect().toSeq
    // row2's frame is [1000] (the null vanished, weights recompress);
    // row3's is [1000, 2000] -> 5000/3 cents; u2's frame is empty.
    // The DuckDB oracle's non-null rank band computes the same values
    // (checked by hand and by running the oracle SQL on this table).
    assert(r === Seq(Some(10.0), Some(10.0), Some(16.666667), None))
  }

  test("dyadicEwma: out-of-envelope value raises the descriptive error, " +
      "not CAST_OVERFLOW") {
    val e = Seq((1L, 1L, 1L, 1.0e18)).toDF("user_id", "event_id", "ts_us", "value")
    val ex = intercept[Exception] {
      EventAnalytics.dyadicEwma(e, "user_id", "ts_us", "event_id", "value").collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("lower scale or frameRows")))
  }

  test("dyadicEwma: frame truncation keeps only the last 8 rows") {
    val e = (1L to 10L).map(i => (1L, i, i * 10L, if (i == 1L || i == 2L) 100.0 else 1.0))
      .toDF("user_id", "event_id", "ts_us", "value")
    val r = EventAnalytics.dyadicEwma(e, "user_id", "ts_us", "event_id", "value")
      .orderBy("ts_us").select("ewma").as[Double].collect().toSeq
    // by row 10 the two 100.0 spikes have left the 8-row frame entirely
    assert(r.last === 1.0)
    assert(r(8) > 1.0) // row 9 still sees the spike at row 2
  }

  test("graft_dyadic_fold: null element nulls the result, like the declarative fold") {
    val r = spark.sql(
      """SELECT graft_dyadic_fold(array(10L, CAST(NULL AS BIGINT))) AS bad,
                graft_dyadic_fold(array(10L, 20L)) AS good,
                graft_dyadic_fold(CAST(NULL AS ARRAY<BIGINT>)) AS nul""")
      .as[(Option[Double], Double, Option[Double])].collect().head
    assert(r._1.isEmpty)            // NOT (10+0·2)/3 — null poisons
    assert(r._2 === 50.0 / 3.0)
    assert(r._3.isEmpty)
  }

  test("dyadicEwma: native fold is bit-identical to the declarative twin on real data") {
    val ev2 = graft.sources.Tables.load(spark, sf("sf0.001"), "events")
    val evUs = ev2.withColumn("ts_us",
      graft.functions.GraftFunctions.epochMicros(ev2.schema("ts").dataType, col("ts")))
    def run(f: (org.apache.spark.sql.DataFrame, String, String, String, String) =>
        org.apache.spark.sql.DataFrame) =
      f(evUs, "user_id", "ts_us", "event_id", "value")
        .orderBy("user_id", "ts_us", "event_id")
        .select("event_id", "ewma").as[(Long, Double)].collect().toSeq
    val native = run(EventAnalytics.dyadicEwma(_, _, _, _, _))
    val decl = run(DeclarativeTwins.dyadicEwma(_, _, _, _, _))
    assert(native === decl)   // exact ==, not a tolerance
  }

  test("topPaths: within-session sequences, deterministic tie-break") {
    // gap 15: u1 one session v>c>p; u2 c@10 v@20 p@30 → c>v>p;
    // u3 ties at 10 ordered by event_id → v>c then p@30 separate session
    val r = EventAnalytics.topPaths(ev, "user_id", "ts_us", "event_id",
        "event_type", gapUs = 15L, k = 10)
      .as[(String, Long)].collect().toSeq
    assert(r.head === ("purchase", 3L)) // u3's p@30, u5's p@(10+9d), u7's p@10
    assert(r.contains(("view>click>purchase", 2L)))   // u1; u4 (ties by id)
    assert(r.contains(("click>view>purchase", 1L)))   // u2
    assert(r.contains(("view>click", 2L)))            // u3 ties by event_id; u6
    // counts descending, ties by path ascending
    assert(r === r.sortBy { case (p, n) => (-n, p) })
  }

  test("abTestSummary: session-level conversion, pooled z; degenerate -> NULL z") {
    // every session converts in both arms → pooled rate 1, zero variance
    val allConv = Seq((1L, 1L, 10L, "purchase"), (2L, 2L, 10L, "purchase"))
      .toDF("user_id", "event_id", "ts_us", "event_type")
    val d = EventAnalytics.abTestSummary(allConv, "user_id", "ts_us", "event_id",
        "event_type", "purchase", gapUs = 100L)
      .select("rate0", "rate1", "z_score")
      .as[(Double, Double, Option[Double])].collect().head
    assert(d._1 === 1.0 && d._2 === 1.0 && d._3.isEmpty)

    // users 1 & 2 land in different variants (polyHash("1")%2=1, "2"%2=0):
    // u2: 2 sessions, 1 converted; u1: 2 sessions, 2 converted
    val e = Seq(
      (1L, 1L, 10L, "purchase"), (1L, 2L, 1000L, "purchase"),
      (2L, 3L, 10L, "purchase"), (2L, 4L, 1000L, "view"))
      .toDF("user_id", "event_id", "ts_us", "event_type")
    val s = EventAnalytics.abTestSummary(e, "user_id", "ts_us", "event_id",
        "event_type", "purchase", gapUs = 100L)
      .select("n0", "c0", "rate0", "n1", "c1", "rate1", "abs_lift")
      .as[(Long, Long, Double, Long, Long, Double, Double)].collect().head
    assert(s === ((2L, 1L, 0.5, 2L, 2L, 1.0, 0.5)))

    // an EMPTY arm (every key hashed to variant 1 — user 1 alone) is
    // the OTHER degeneracy: z must be NULL, not an ANSI DIVIDE_BY_ZERO
    // from the unguarded 1/n0 term inside the pooled variance
    val oneArm = Seq((1L, 1L, 10L, "purchase"), (1L, 2L, 1000L, "view"))
      .toDF("user_id", "event_id", "ts_us", "event_type")
    val oa = EventAnalytics.abTestSummary(oneArm, "user_id", "ts_us", "event_id",
        "event_type", "purchase", gapUs = 100L)
      .select("n0", "n1", "z_score")
      .as[(Long, Long, Option[Double])].collect().head
    assert(oa._1 === 0L && oa._2 === 2L && oa._3.isEmpty)
  }

  test("dyadicEwma: NaN dies on the honest computed-garbage error, not the overflow one; scale guard") {
    val e = Seq((1L, 1L, 10L, Double.NaN)).toDF("user_id", "event_id", "ts_us", "value")
    val ex = intercept[Exception] {
      EventAnalytics.dyadicEwma(e, "user_id", "ts_us", "event_id", "value").collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(ex).exists(_.contains("NaN")), messages(ex).mkString("\n"))
    assert(!messages(ex).exists(_.contains("lower scale or frameRows")))
    val g = intercept[IllegalArgumentException] {
      EventAnalytics.dyadicEwma(e, "user_id", "ts_us", "event_id", "value", scale = 0)
    }
    assert(g.getMessage.contains("scale"))
  }

  test("psiDrift: NaN values drop with the NULLs — a non-observation cannot inflate the top bin") {
    val clean = Seq(("a", 1.0), ("a", 2.0), ("b", 8.0), ("b", 9.0))
    val dirty = clean ++ Seq(("a", Double.NaN), ("b", Double.NaN))
    def psi(rows: Seq[(String, Double)]) = EventAnalytics.psiDrift(
        rows.toDF("grp", "v"), "grp", col("v"), lo = 0.0, hi = 10.0, bins = 5)
      .as[(String, Double)].collect().toMap
    assert(psi(dirty) === psi(clean))
  }

  test("funnelSummary refuses a non-positive window loudly (unit-slip guard)") {
    val times = Seq((1L, Some(10L), Some(20L))).toDF("user_id", "t1", "t2")
    val e = intercept[IllegalArgumentException] {
      EventAnalytics.funnelSummary(times, Seq("a", "b"), windowUs = 0L)
    }
    assert(e.getMessage.contains("windowUs"))
  }

  test("activeUsers: DAU, trailing-window WAU, stickiness") {
    // day width 10: u1 active days 0,2; u2 day 0; u3 day 5 (window 3)
    val e = Seq((1L, 5L), (1L, 25L), (1L, 27L), (2L, 3L), (3L, 55L))
      .toDF("user_id", "ts_us")
    val r = EventAnalytics.activeUsers(e, "user_id", "ts_us",
        epoch0Us = 0L, dayUs = 10L, windowDays = 3)
      .select("day", "dau", "wau", "stickiness")
      .as[(Long, Long, Long, Double)].collect().toSeq
    // WAU(0)={1,2}; WAU(2)={1,2}(u1,u2 from d0 still in window)+{1}→2;
    // WAU(5)={3} (d2 activity expired after d4)
    assert(r === Seq((0L, 2L, 2L, 1.0), (2L, 1L, 2L, 0.5), (5L, 1L, 1L, 1.0)))
  }

  test("transitionMatrix: session-fenced transitions, row-normalized") {
    // gap 15. u1: v@10 c@20 p@30 → v>c, c>p. u8: v@10 then (new session)
    // v@100 c@110 → v>c only; the session boundary contributes NO v>v.
    val e = Seq(
      (1L, 1L, 10L, "view"), (1L, 2L, 20L, "click"), (1L, 3L, 30L, "purchase"),
      (8L, 4L, 10L, "view"), (8L, 5L, 100L, "view"), (8L, 6L, 110L, "click"))
      .toDF("user_id", "event_id", "ts_us", "event_type")
    val r = EventAnalytics.transitionMatrix(e, "user_id", "ts_us", "event_id",
        "event_type", gapUs = 15L)
      .as[(String, String, Long, Double)].collect().toSeq
    assert(r === Seq(
      ("click", "purchase", 1L, 1.0),
      ("view", "click", 2L, 1.0)))
  }

  test("psiDrift: identical distributions score ~0; disjoint ones score high") {
    // group A mirrors the population mix; group B sits entirely in the
    // top bin. 2 bins on [0, 10): A has 2 low + 2 high, B has 4 high.
    val e = Seq(("A", 1.0), ("A", 2.0), ("A", 8.0), ("A", 9.0),
        ("B", 7.0), ("B", 8.0), ("B", 8.5), ("B", 9.0))
      .toDF("grp", "value")
    val psi = graft.operators.EventAnalytics.psiDrift(
        e, group = "grp", value = col("value"), lo = 0.0, hi = 10.0, bins = 2)
      .as[(String, Double)].collect().toMap
    // population: 2 low / 6 high. A (2/2) is closer to it than B (0/4).
    assert(psi("B") > psi("A"))
    assert(psi("A") > 0.0)     // A ≠ population exactly, so small but > 0
    // hand value: q=(.1,.9) vs p=(.25,.75 smoothed→.2778,.7222) ⇒ 0.2207
    assert(math.abs(psi("B") - 0.220749) < 1e-6)
  }

  test("associationRules: hand-computed support/confidence/lift") {
    // gap 50. Baskets: u1s0={v,c}, u1s1={v}, u2s0={v,c,p}  → N=3
    // n(v)=3, n(c)=2, n(p)=1, n(v,c)=2, n(c,p)=1, n(v,p)=1
    val e = Seq(
      (1L, 1L, 10L, "view"), (1L, 2L, 20L, "click"),
      (1L, 3L, 200L, "view"),
      (2L, 4L, 10L, "view"), (2L, 5L, 20L, "click"), (2L, 6L, 30L, "purchase"))
      .toDF("user_id", "event_id", "ts_us", "event_type")
    val r = EventAnalytics.associationRules(e, "user_id", "ts_us", "event_id",
        "event_type", gapUs = 50L)
      .as[(String, String, Long, Double, Double, Double)].collect().toSeq
    def row(a: String, b: String) = r.find(x => x._1 == a && x._2 == b).get
    // click→view: conf 2/2=1, lift 1/(3/3)=1
    assert(row("click", "view") === (("click", "view", 2L, 0.666667, 1.0, 1.0)))
    // view→click: conf 2/3, lift (2/3)/(2/3)=1
    assert(row("view", "click")._5 === 0.666667)
    assert(row("view", "click")._6 === 1.0)
    // purchase→click: conf 1/1=1, lift 1/(2/3)=1.5
    assert(row("purchase", "click") === (("purchase", "click", 1L, 0.333333, 1.0, 1.5)))
    assert(r.size === 6)   // 3 unordered pairs, both directions
  }

  test("rfmSegments: epoch-scale recency scores correctly (the overflow trap)") {
    // 4 users, distinct recency order (u4 most recent), distinct f/m —
    // quartiles of 4 values put exactly one user per score
    val asOf = 1735689600000000L
    val e = (1L to 4L).flatMap { u =>
      (1L to u).map(i => (u, asOf - u * 86400000000L + i, "purchase", u * 100.0))
    }.toDF("user_id", "ts_us", "event_type", "value")
    val r = graft.operators.EventAnalytics.rfmSegments(
        e, "user_id", "ts_us", "event_type", "purchase", "value", asOf)
      .as[(String, Long)].collect().toMap
    // u1: most stale (r=1d? no: recency = u days → u4 stalest... u1
    // recency 1 day = LOWEST → R 1; F = u purchases; M = u·100·u...
    // u1: R1 F1 M1; u2: R2 F2 M2; u3: R3 F3 M3; u4: R4 F4 M4
    assert(r === Map("1-1-1" -> 1L, "2-2-2" -> 1L, "3-3-3" -> 1L, "4-4-4" -> 1L))
    // the critical property the q147 bug violated: R scores SPREAD —
    // an overflowed threshold sends every user to R=4
    assert(r.keySet.map(_.take(1)) === Set("1", "2", "3", "4"))
  }

  test("lastTouchAttribution: at-or-before credit, (none) bucket") {
    val a = EventAnalytics.lastTouchAttribution(ev, "user_id", "ts_us",
        "event_type", conversionType = "purchase", valueCol = "value", tie = "event_id")
      .as[(String, Long, Double)].collect().toSeq
    // u1: p@30 ← click@20; u2: p@30 ← view@20 (at-or-before picks latest);
    // u3: p@30 ← click@10 (same-ts not needed; click is later event_id at 10);
    // u4: p@20 ← click@20 (AT the same ts counts for attribution);
    // u5: p ← click; u7: p with no touch → (none).
    assert(a === Seq(
      ("(none)", 1L, 320.0),
      ("click", 4L, 290.0),
      ("view", 1L, 20.0)))
  }

  test("positionAttribution: 40/20/40 hand case — path reset, (none), same-ts tie") {
    // u1 path1: view@0 click@10 view@20 → p@30 ($100): view .4+.4, click .2
    //    path2 (reset): click@40 → p@50 ($50): click 1.0
    // u2: touchless p@5 ($10) → (none) 1.0
    // u3: touches, never converts → nothing
    // u4: click@0 view@1 → p@2 ($20): .5 each
    // u5: view@10 and p@10 SAME ts ($30) — the touch precedes its
    //     conversion (the lastTouch tie law): view 1.0
    val ev5 = Seq(
      (1L, 1L, "view", 0.0, 0L), (1L, 2L, "click", 0.0, 10L),
      (1L, 3L, "view", 0.0, 20L), (1L, 4L, "purchase", 100.0, 30L),
      (1L, 5L, "click", 0.0, 40L), (1L, 6L, "purchase", 50.0, 50L),
      (2L, 7L, "purchase", 10.0, 5L),
      (3L, 8L, "view", 0.0, 0L), (3L, 9L, "click", 0.0, 10L),
      (4L, 10L, "click", 0.0, 0L), (4L, 11L, "view", 0.0, 1L),
      (4L, 12L, "purchase", 20.0, 2L),
      (5L, 13L, "view", 0.0, 10L), (5L, 14L, "purchase", 30.0, 10L)
    ).toDF("user_id", "event_id", "event_type", "value", "ts_us")
    val out = EventAnalytics.positionAttribution(ev5, "user_id", "ts_us",
        "event_type", conversionType = "purchase", valueCol = "value",
        tie = "event_id")
      .as[(String, Double, Double)].collect().toSeq
    assert(out === Seq(
      ("(none)", 1.0, 10.0),
      ("click", 1.7, 80.0),     // .2·100 + 1.0·50 + .5·20
      ("view", 2.3, 120.0)))    // (.4+.4)·100 + .5·20 + 1.0·30
  }

  test("positionAttribution: credit is conserved — Σcredit == conversions") {
    val channels = EventAnalytics.positionAttribution(ev, "user_id", "ts_us",
        "event_type", conversionType = "purchase", valueCol = "value",
        tie = "event_id")
      .as[(String, Double, Double)].collect()
    val purchases = ev.filter(col("event_type") === "purchase").count()
    assert(math.abs(channels.map(_._2).sum - purchases) < 1e-5 * channels.length,
      s"credit ${channels.map(_._2).sum} vs $purchases conversions")
  }

  test("timeDecayAttribution: dyadic half-life weights, clamp, (none)") {
    // u1, half-life 10: touch a@0 (age 30 → w=2^37), touch b@25
    // (age 5 → w=2^40), conv@30 ($100). W = 9·2^37 → credits 1/9, 8/9
    // u2: touchless conv ($10) → (none) 1.0
    // u3: touch a@0 (age 10000 → k clamps at 40, w=1), touch b@9999
    // (age 1 → w=2^40), conv@10000 ($50): a's credit rounds to 0.0
    val ev6 = Seq(
      (1L, 1L, "a", 0.0, 0L), (1L, 2L, "b", 0.0, 25L),
      (1L, 3L, "p", 100.0, 30L),
      (2L, 4L, "p", 10.0, 5L),
      (3L, 5L, "a", 0.0, 0L), (3L, 6L, "b", 0.0, 9999L),
      (3L, 7L, "p", 50.0, 10000L)
    ).toDF("user_id", "event_id", "event_type", "value", "ts_us")
    val out = EventAnalytics.timeDecayAttribution(ev6, "user_id", "ts_us",
        "event_type", conversionType = "p", valueCol = "value",
        tie = "event_id", halfLifeUs = 10L)
      .as[(String, Double, Double)].collect().toSeq
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    def r2(x: Double) = math.floor(x * 100 + 0.5) / 100
    val w40 = (1L << 40).toDouble
    assert(out === Seq(
      ("(none)", 1.0, 10.0),
      ("a", r6(1.0 / 9 + 1.0 / (w40 + 1)), r2(100.0 / 9 + 1.0 / (w40 + 1) * 50)),
      ("b", r6(8.0 / 9 + w40 / (w40 + 1)), r2(8.0 / 9 * 100 + w40 / (w40 + 1) * 50))))
  }

  test("twoSampleKs: hand CDFs, smallest-tick tie, empty-group NULL, loud bad group") {
    // g0 = {1,2,3}, g1 = {2,3,4} → |F0−F1| = 1/3 at ticks 100/200/300
    // (tie → smallest tick 100); ks = 1/3, λ = (1/3)·√(9/6)
    val df = Seq((0L, 1.0), (0L, 2.0), (0L, 3.0),
      (1L, 2.0), (1L, 3.0), (1L, 4.0)).toDF("g", "v")
    val out = EventAnalytics.twoSampleKs(df, col("g"), col("v"))
      .as[(Long, Long, Double, Long, Double, Double)].collect().toSeq
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    assert(out === Seq((3L, 3L, 3.0, 100L,
      r6(3.0 / 9), r6(3.0 / 9 * math.sqrt(9.0 / 6)))))

    // one group empty → counts real, ks/λ NULL (no comparison exists)
    val one = EventAnalytics.twoSampleKs(
        Seq((0L, 1.0), (0L, 2.0)).toDF("g", "v"), col("g"), col("v"))
      .as[(Long, Long, Double, Long, Option[Double], Option[Double])]
      .collect().toSeq
    // every numerator is 0 → the tie law lands on the SMALLEST tick
    assert(one === Seq((2L, 0L, 0.0, 100L, None, None)))

    // NULL values and NULL groups drop silently; group 2 refuses loudly
    assert(EventAnalytics.twoSampleKs(
      Seq((Some(0L), Some(1.0)), (Some(1L), Some(2.0)),
        (None, Some(9.0)), (Some(0L), None)).toDF("g", "v"),
      col("g"), col("v")).count() === 1L)
    val boom = intercept[Exception] {
      EventAnalytics.twoSampleKs(
        Seq((2L, 1.0)).toDF("g", "v"), col("g"), col("v")).count()
    }
    assert(Iterator.iterate(boom: Throwable)(_.getCause).takeWhile(_ != null)
      .flatMap(t => Option(t.getMessage)).mkString.contains("group must be 0 or 1"))
  }

  test("mannWhitneyU: hand midranks with ties, tie-corrected z, degenerate NULLs") {
    // g0 = {1,2,2}, g1 = {2,3}: sorted ranks 1,(2,3,4→3),5 → R0 = 7,
    // U0 = 7 − 6 = 1 (pairwise: one full tie pair = 2·0.5);
    // AUC = 1/6; tcorr = 3³−3 = 24, σ² = 6/12·(6 − 24/20) = 2.4
    val df = Seq((0L, 0.01), (0L, 0.02), (0L, 0.02),
      (1L, 0.02), (1L, 0.03)).toDF("g", "v")
    val out = EventAnalytics.mannWhitneyU(df, col("g"), col("v"))
      .as[(Long, Long, Double, Double, Double)].collect().toSeq
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    assert(out === Seq((3L, 2L, 1.0, r6(1.0 / 6),
      r6((1.0 - 3.0) / math.sqrt(2.4)))))

    // every value tied → σ = 0 → z NULL, AUC exactly ½
    val tied = EventAnalytics.mannWhitneyU(
        Seq((0L, 5.0), (1L, 5.0), (1L, 5.0)).toDF("g", "v"),
        col("g"), col("v"))
      .as[(Long, Long, Double, Option[Double], Option[Double])]
      .collect().toSeq
    assert(tied === Seq((1L, 2L, 1.0, Some(0.5), None)))

    // one group empty → U0 = 0, AUC/z NULL
    val one = EventAnalytics.mannWhitneyU(
        Seq((0L, 1.0), (0L, 2.0)).toDF("g", "v"), col("g"), col("v"))
      .as[(Long, Long, Double, Option[Double], Option[Double])]
      .collect().toSeq
    assert(one === Seq((2L, 0L, 0.0, None, None)))
  }

  test("chiSquareIndependence: hand 2x2, empty-margin NULL, single-category zero") {
    // O = [[10,20],[30,40]] → χ² = 4(1/12+1/18+1/28+1/42) = 200/252
    val rows = Seq.fill(10)((0L, "A")) ++ Seq.fill(20)((1L, "A")) ++
      Seq.fill(30)((0L, "B")) ++ Seq.fill(40)((1L, "B"))
    val out = EventAnalytics.chiSquareIndependence(
        rows.toDF("g", "k"), col("g"), col("k"))
      .as[(Long, Long, Double, Double)].collect().toSeq
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val chi2 = 200.0 / 252
    assert(out.map(t => (t._1, t._2)) === Seq((100L, 1L)))
    assert(math.abs(out.head._3 - r6(chi2)) < 2e-6)
    assert(math.abs(out.head._4 - r6(math.sqrt(chi2 / 100))) < 2e-6)

    // one column margin empty → χ²/V NULL (E = 0 is not a statistic)
    val one = EventAnalytics.chiSquareIndependence(
        Seq((0L, "A"), (0L, "B")).toDF("g", "k"), col("g"), col("k"))
      .as[(Long, Long, Option[Double], Option[Double])].collect().toSeq
    assert(one === Seq((2L, 1L, None, None)))

    // a single category: O ≡ E → χ² exactly 0, dof 0
    val single = EventAnalytics.chiSquareIndependence(
        Seq((0L, "A"), (1L, "A"), (1L, "A")).toDF("g", "k"),
        col("g"), col("k"))
      .as[(Long, Long, Double, Double)].collect().toSeq
    assert(single === Seq((3L, 0L, 0.0, 0.0)))
  }

  test("cusumChangepoint: hand split, uniform tie → earliest day, last-day NULL after-mean") {
    // day 0: 1.0, 1.0 | day 1: 1.0 | day 2: 5.0, 5.0 → the level shifts
    // after day 1 (S_N = 1300¢, C_N = 5): num_k = |S_k·C_N − S_N·C_k|
    // = 1600, 2400, 0 → day 1; dev = 2400/500 = 4.8, means 1.0 / 5.0
    val D2 = 86400000000L
    def at(day: Long) = day * D2 + 5
    val df = Seq((at(0), 1.0), (at(0), 1.0), (at(1), 1.0),
      (at(2), 5.0), (at(2), 5.0)).toDF("ts_us", "value")
    val out = EventAnalytics.cusumChangepoint(df, "ts_us", "value",
        epoch0Us = 0L, dayUs = D2)
      .as[(Long, Long, Long, Double, Double, Option[Double])]
      .collect().toSeq
    assert(out === Seq((3L, 5L, 1L, 4.8, 1.0, Some(5.0))))

    // homogeneous series: every deviation 0 → earliest day, after-mean
    // exists; single-day series: split at the last day → NULL after
    val flat = Seq((at(0), 2.0), (at(1), 2.0), (at(2), 2.0))
      .toDF("ts_us", "value")
    val f = EventAnalytics.cusumChangepoint(flat, "ts_us", "value", 0L, D2)
      .as[(Long, Long, Long, Double, Double, Option[Double])]
      .collect().head
    assert((f._3, f._4, f._5, f._6) === ((0L, 0.0, 2.0, Some(2.0))))
    val single = EventAnalytics.cusumChangepoint(
        Seq((at(0), 3.0)).toDF("ts_us", "value"), "ts_us", "value", 0L, D2)
      .as[(Long, Long, Long, Double, Double, Option[Double])]
      .collect().head
    assert((single._3, single._4, single._6) === ((0L, 0.0, None)))
    // empty input → no verdict row
    assert(EventAnalytics.cusumChangepoint(
      Seq.empty[(Long, Double)].toDF("ts_us", "value"),
      "ts_us", "value", 0L, D2).count() === 0L)
  }

  test("intervalIslands: the island table intervalUnion rolls up") {
    val iv = Seq(
      (1L, 0L, 10L), (1L, 5L, 20L), (1L, 20L, 25L), (1L, 30L, 30L),
      (2L, 0L, 1L), (2L, 5L, 6L))
    val isl = EventAnalytics.intervalIslands(
        iv.toDF("k", "s", "e"), "k", "s", "e")
      .orderBy("k", "island_start")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(isl === Seq(
      (1L, 0L, 25L, 3L), (1L, 30L, 30L, 1L),
      (2L, 0L, 1L, 1L), (2L, 5L, 6L, 1L)))
  }

  test("seasonalityProfile: hand 2x2 residuals, dow anchor, NULL ts dropped") {
    val dayUs = 86400000000L
    val hourUs = 3600000000L
    // epoch day 4 = Monday (dow 0), day 5 = Tuesday (dow 1)
    def ts(day: Long, hour: Long, off: Long) =
      day * dayUs + hour * hourUs + off
    val rows = Seq(
      ts(4, 0, 1), ts(4, 0, 2), ts(4, 0, 3), // Mon h0 ×3
      ts(4, 1, 1),                           // Mon h1 ×1
      ts(5, 0, 1),                           // Tue h0 ×1
      ts(5, 1, 1))                           // Tue h1 ×1
      .map(t => Option(t)) :+ Option.empty[Long]
    val df = rows.toDF("ts_us")
    val out = EventAnalytics.seasonalityProfile(df, col("ts_us"))
      .orderBy("dow", "hour")
      .as[(Long, Long, Long, Double, Double)].collect().toSeq
    // margins: rt(Mon)=4 rt(Tue)=2, ct(h0)=4 ct(h1)=2, N=6
    assert(out === Seq(
      (0L, 0L, 3L, 2.666667, 0.204124),
      (0L, 1L, 1L, 1.333333, -0.288675),
      (1L, 0L, 1L, 1.333333, -0.288675),
      (1L, 1L, 1L, 0.666667, 0.408248)))
    // epoch day 0 was a Thursday → dow 3; a PRE-epoch instant must
    // FLOOR to the previous day and wrap the cyclic keys (ts = −1 µs
    // is Wednesday 23h — truncating div would call it Thursday 0h)
    val edge = EventAnalytics.seasonalityProfile(
      Seq(100L, -1L).toDF("ts_us"), col("ts_us"))
      .orderBy("dow").select("dow", "hour").as[(Long, Long)].collect().toSeq
    assert(edge === Seq((2L, 23L), (3L, 0L)))
  }

  test("bootstrapUplift: brute-force mixer replay, CI order statistics, laws") {
    val P = 1000000007L
    def ph(s: String) = s.foldLeft(0L)((a, c) => (a * 31 + c) % P)
    def mix(h0: Long, r: Long) = {
      val x = Math.floorMod(h0 + r * 2654435761L, P)
      val y = Math.floorMod(x * x + r, P)
      Math.floorMod(y * y + h0, P)
    }
    def w(h0: Long, r: Long) = {
      val z = mix(h0, r)
      if (z < 367879443L) 0L else if (z < 735758887L) 1L
      else if (z < 919698609L) 2L else if (z < 981011849L) 3L
      else if (z < 996340160L) 4L else 5L
    }
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    // 40 rows, variant = key % 2, cents = 7k − 50 (some negative)
    val rows = (1L to 40L).map(k => (k, k % 2, k * 7 - 50))
    val df = rows.toDF("k", "v", "c")
    val R = 50
    val out = EventAnalytics.bootstrapUplift(df, col("k"), col("v"),
      col("c"), replicates = R, alphaPermille = 100).collect().head
    def mean(rep: Long, v: Long): Option[Double] = {
      val sel = rows.filter(_._2 == v)
      def wt(k: Long) = if (rep < 0) 1L else w(ph(k.toString), rep)
      val sw = sel.map(t => wt(t._1)).sum
      val swx = sel.map(t => wt(t._1) * t._3).sum
      if (sw > 0) Some(swx.toDouble / sw.toDouble / 100.0) else None
    }
    assert(out.getAs[Long]("n_a") === 20L && out.getAs[Long]("n_b") === 20L)
    assert(out.getAs[Double]("mean_a") === r6(mean(-1, 0).get))
    assert(out.getAs[Double]("mean_b") === r6(mean(-1, 1).get))
    assert(out.getAs[Double]("uplift") ===
      r6(mean(-1, 1).get - mean(-1, 0).get))
    val ups = (0L until R.toLong).flatMap(rep =>
      for (mb <- mean(rep, 1); ma <- mean(rep, 0)) yield (mb - ma, rep))
      .sortBy(identity).map(_._1)
    val cnt = ups.size
    val lo = math.max(1, cnt * 100 / 1000)
    assert(out.getAs[Long]("n_reps") === cnt.toLong)
    assert(out.getAs[Double]("ci_lo") === r6(ups(lo - 1)))
    assert(out.getAs[Double]("ci_hi") === r6(ups(cnt - lo)))
    assert(out.getAs[Double]("neg_frac") ===
      r6(ups.count(_ <= 0.0).toDouble / cnt))
    // one-sided data: no effective replicates → NULL CI, point half kept
    val oneSide = EventAnalytics.bootstrapUplift(
      rows.filter(_._2 == 0L).toDF("k", "v", "c"),
      col("k"), col("v"), col("c"), replicates = 10).collect().head
    assert(oneSide.getAs[Long]("n_a") === 20L)
    assert(oneSide.isNullAt(oneSide.fieldIndex("n_b")))
    assert(oneSide.isNullAt(oneSide.fieldIndex("n_reps")))
    // a variant outside {0,1} dies loudly
    val bad = intercept[Exception] {
      EventAnalytics.bootstrapUplift(
        Seq((1L, 2L, 5L)).toDF("k", "v", "c"),
        col("k"), col("v"), col("c"), replicates = 5).collect()
    }
    assert(bad.getMessage != null)
  }

  test("rateAnomalyFromDays: densified gaps, hand z-scores, first-k and σ=0 NULLs") {
    // day cells (d, count, tick-sum) with a GAP at d3 — the densified
    // zero day must both score (it IS the anomaly) and enter later
    // baselines; k = 2, scale = 10
    val days = Seq(
      (0L, 10L, 100L), (1L, 10L, 100L), (2L, 16L, 40L), (4L, 2L, 20L))
      .toDF("_d", "_c", "_s")
    val out = EventAnalytics.rateAnomalyFromDays(days, k = 2, scale = 10L)
      .orderBy("day")
      .as[(Long, Long, Double, Option[Double], Option[Double])]
      .collect().toSeq
    assert(out.map(r => (r._1, r._2, r._3)) === Seq(
      (0L, 10L, 10.0), (1L, 10L, 10.0), (2L, 16L, 4.0),
      (3L, 0L, 0.0), (4L, 2L, 2.0)))
    assert(out(0)._4.isEmpty && out(1)._4.isEmpty)  // incomplete baseline
    assert(out(2)._4.isEmpty && out(2)._5.isEmpty)  // σ = 0 baseline
    // d3 vs prior {10,16}: mean 13, σ = √18 → z = −13/√18 ≈ −3.064129
    assert(out(3)._4 === Some(-3.064129))
    // d3 value vs prior {100,40}: mean 70, σ = √1800 → ≈ −1.649916
    assert(out(3)._5 === Some(-1.649916))
    // d4 vs prior {16,0}: mean 8, σ = √128 → (2−8)/√128 ≈ −0.53033
    assert(out(4)._4 === Some(-0.53033))
    // d4 value vs prior {40,0}: mean 20 → z exactly 0
    assert(out(4)._5 === Some(0.0))
  }

  test("burstiness: metronome -1, hand bursty case, single-gap NULL, pooling") {
    // type "m": user 1 metronome gaps {10,10,10}; type "b": user 2
    // gaps {0,0,30} (tie at same ts breaks by event_id → two 0 gaps);
    // type "s": user 3 has 2 events → 1 gap → NULL B; pooling: type
    // "m" also gets user 4's gap {10} → 4 equal gaps, still -1
    val ev = Seq(
      (1L, 1L, "m", 0L), (1L, 2L, "m", 10L), (1L, 3L, "m", 20L), (1L, 4L, "m", 30L),
      (4L, 10L, "m", 100L), (4L, 11L, "m", 110L),
      (2L, 5L, "b", 0L), (2L, 6L, "b", 0L), (2L, 7L, "b", 0L), (2L, 8L, "b", 30L),
      (3L, 9L, "s", 0L), (3L, 12L, "s", 7L))
      .toDF("user_id", "event_id", "event_type", "ts_us")
    val out = EventAnalytics.burstiness(ev, col("event_type"),
        col("user_id"), col("ts_us"), col("event_id"))
      .orderBy("group")
      .as[(String, Long, Double, Option[Double], Option[Double])]
      .collect().toSeq
    // b: gaps {0,0,30}: μ=10, σ=√300≈17.320508 → B≈0.267949
    assert(out(0)._1 === "b" && out(0)._2 === 3L && out(0)._3 === 10.0)
    assert(out(0)._5 === Some(0.267949))
    // m: 4 equal gaps → σ=0 → B = -1 exactly
    assert(out(1) === (("m", 4L, 10.0, Some(0.0), Some(-1.0))))
    // s: single gap → NULL σ and B
    assert(out(2) === (("s", 1L, 7.0, None, None)))
  }

  test("burstiness: pre-epoch µs gaps past the long-floor clamp round " +
      "like DuckDB (r's >= 2^53 identity branch, no Long.MaxValue wall)") {
    // one 60-year pre-epoch event: gap ≈ 1.89e15 µs, so μ·1e6 ≈ 9.5e20
    // overflows floor(double)'s LONG range — the old r() clamped every
    // such mean to Long.MaxValue/1e6 = 9223372036854.775; past 2^53
    // floor must be the identity (DuckDB's double floor), so the mean
    // is the plain double μ
    val preEpoch = -1893456000000000L // ~1910, well before epoch 0
    val ev = Seq(
      (1L, 1L, "x", preEpoch), (1L, 2L, "x", 0L), (1L, 3L, "x", 10L))
      .toDF("user_id", "event_id", "event_type", "ts_us")
    val out = EventAnalytics.burstiness(ev, col("event_type"),
        col("user_id"), col("ts_us"), col("event_id"))
      .as[(String, Long, Double, Option[Double], Option[Double])]
      .collect().head
    // replay r's identity branch exactly: (μ·1e6 + 0.5)/1e6 in IEEE
    // doubles (the *1e6 then /1e6 round-trip may move an ulp — the
    // law is engine parity, not algebraic identity)
    val mu = (1.893456e15 + 10.0) / 2.0
    val expected = (mu * 1e6 + 0.5) / 1e6
    assert(out._2 === 2L)
    assert(out._3 === expected, s"mean_gap_us must not clamp: ${out._3}")
    assert(out._3 !== 9.223372036854776e12)
  }

  test("spearman: monotone ±1, hand tie case, constant-series NULL, null drop") {
    val df = Seq(
      ("up", 1.0, 10L), ("up", 2.0, 20L), ("up", 3.0, 30L),
      ("dn", 1.0, 30L), ("dn", 2.0, 20L), ("dn", 3.0, 10L),
      ("t", 1.0, 10L), ("t", 1.0, 20L), ("t", 2.0, 30L),
      ("c", 5.0, 10L), ("c", 5.0, 20L),
      ("nn", 1.0, 10L))
      .toDF("g", "x", "y")
      .unionByName(Seq(("nn", Option.empty[Double], Option(20L)),
        ("nn", Option(2.0), Option.empty[Long]))
        .toDF("g", "x", "y"))
    val out = EventAnalytics.spearman(df, col("g"), col("x"), col("y"))
      .orderBy("group")
      .as[(String, Long, Option[Double])].collect().toSeq
    // "t": doubled ranks rx=(3,3,6) ry=(2,4,6) → ρ = 18/(√18·√24) ≈ 0.866025
    assert(out === Seq(
      ("c", 2L, None),            // constant x: zero variance → NULL
      ("dn", 3L, Some(-1.0)),
      ("nn", 1L, None),           // null x/y rows dropped; n=1 constant-ish
      ("t", 3L, Some(0.866025)),
      ("up", 3L, Some(1.0))))
  }

  test("benfordDigits: hand census, full grid, sign filter, empty-corpus NULLs") {
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val cents = Seq(1L, 12L, 150L, 2L, 30L, 0L, -5L)
    val out = EventAnalytics.benfordDigits(
      cents.toDF("c"), col("c")).orderBy("digit")
      .as[(Long, Long, Double, Option[Double], Option[Double], Option[Double])]
      .collect().toSeq
    // positive cents digits: 1,1,1,2,3 → tot 5
    assert(out.map(r => (r._1, r._2)) ===
      Seq((1L, 3L), (2L, 1L), (3L, 1L), (4L, 0L), (5L, 0L),
        (6L, 0L), (7L, 0L), (8L, 0L), (9L, 0L)))
    val p = EventAnalytics.BenfordP.toMap
    assert(out.head._3 === r6(p(1L)) && out.head._4 === Some(r6(3.0 / 5.0)))
    def term(d: Long, o: Long) = {
      val e = 5.0 * p(d); (o.toDouble - e) * (o.toDouble - e) / e
    }
    assert(out.head._5 === Some(r6(term(1L, 3L))))
    val chi2 = (1L to 9L).map(d =>
      term(d, Map(1L -> 3L, 2L -> 1L, 3L -> 1L).getOrElse(d, 0L))).sum
    assert(out.head._6.exists(v => math.abs(v - chi2) < 2e-6))
    // empty corpus: grid present, law NULL
    val empty = EventAnalytics.benfordDigits(
      Seq(-1L).toDF("c"), col("c")).orderBy("digit")
      .as[(Long, Long, Double, Option[Double], Option[Double], Option[Double])]
      .collect().toSeq
    assert(empty.size === 9 && empty.forall(r =>
      r._2 === 0L && r._4.isEmpty && r._5.isEmpty && r._6.isEmpty))
  }
}
