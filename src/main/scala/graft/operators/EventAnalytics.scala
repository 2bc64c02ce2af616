package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-sequence analytics over per-key timelines: funnel conversion,
  * retention cohorts, last-touch attribution. The reference's domain is
  * an activity tracker (`RecognizeActivity.java` consumes per-user
  * accelerometer event streams); these are the standard product-analytics
  * questions asked of exactly such event tables, composed Spark-first.
  *
  * Scale notes (all three operators):
  *  - every plan hash-partitions on the user/key column ONCE; the funnel's
  *    k chained window passes share one partitioning and ONE sort (same
  *    window spec ⇒ Spark plans a single Exchange + Sort);
  *  - per-key aggregation follows the windows WITHOUT a second exchange
  *    (`groupBy(key)` reuses `hashpartitioning(key)`);
  *  - outputs are bounded: funnel = |steps| rows, retention =
  *    O(weeks²) cells, attribution = |event types| rows — never
  *    event-cardinality. No collects, no global windows.
  */
object EventAnalytics {

  /** Earliest-completion strict-sequence funnel times, one row per key.
    *
    * Semantics (mirrored exactly by the SQL oracle): `t1` is the key's
    * earliest `steps(0)` event; an event of type `steps(k)` is a valid
    * step-k completion iff a valid step-(k−1) completion exists at a
    * STRICTLY earlier timestamp (ties at the same timestamp do NOT
    * chain); `tk` is the earliest valid step-k time. Computed with k
    * chained cumulative windows over one (ts, tie) sort: the running
    * min of step k−1's valid times is strictly below the current row's
    * ts iff a qualifying predecessor precedes it.
    *
    * Returns `key, t1 .. t<k>` (epoch-µs longs, null where the key
    * never reached the step). One shuffle, one sort, bounded output.
    *
    * @param ts   epoch-µs long column name
    * @param tie  unique per-row column name for deterministic ordering
    */
  def funnelTimes(events: DataFrame, key: String, ts: String,
                  typeCol: String, steps: Seq[String], tie: String): DataFrame = {
    require(steps.nonEmpty && steps.distinct == steps,
      s"funnel steps must be non-empty and distinct, got $steps")
    val w = Window.partitionBy(col(key)).orderBy(col(ts), col(tie))
      .rowsBetween(Window.unboundedPreceding, 0)
    // valid_k: this row completes step k (its predecessor chain exists
    // strictly earlier). run_k: running min of valid_k times — what the
    // NEXT step's rows compare against.
    val validCols = steps.indices.map(k => s"_v${k + 1}")
    val withValid = steps.zipWithIndex.foldLeft(events) {
      case (df, (step, 0)) =>
        df.withColumn(validCols(0), when(col(typeCol) === step, col(ts)))
      case (df, (step, k)) =>
        df.withColumn(validCols(k),
          when(col(typeCol) === step &&
            min(col(validCols(k - 1))).over(w) < col(ts), col(ts)))
    }
    withValid.groupBy(col(key))
      .agg(min(col(validCols.head)).as("t1"),
        validCols.tail.zipWithIndex.map { case (c, i) =>
          min(col(c)).as(s"t${i + 2}") }: _*)
  }

  /** Funnel summary: one row per step — keys reaching it within
    * `windowUs` of their `t1`, conversion vs the first and previous
    * step, and the integral average time-to-reach. Because completion
    * times are monotone along the chain (`t1 ≤ t2 ≤ …`), a key inside
    * the window at step k is inside it at every earlier step, so the
    * per-step counts are non-increasing. */
  def funnelSummary(times: DataFrame, steps: Seq[String], windowUs: Long): DataFrame = {
    // a seconds-vs-µs unit slip yields plausible-looking garbage (u1 =
    // all step-1 keys, later steps ~0) — the silent-degenerate shape
    // Sessionize's gap guard refuses; same law here
    require(windowUs > 0, s"windowUs must be positive (µs): $windowUs")
    val inWin = steps.indices.map { k =>
      val t = col(s"t${k + 1}")
      t.isNotNull && t - col("t1") <= windowUs
    }
    val agg = times.agg(
      count(when(inWin(0), 1)).as("u1"),
      (steps.indices.tail.flatMap { k =>
        Seq(count(when(inWin(k), 1)).as(s"u${k + 1}"),
          sum(when(inWin(k), col(s"t${k + 1}") - col("t1"))).as(s"d${k + 1}"))
      }): _*)
    val stepRows = steps.zipWithIndex.map { case (step, k) =>
      val users = col(s"u${k + 1}")
      val prev =
        if (k == 0) lit(null).cast("double")
        else graft.functions.GraftFunctions.r(
          users * 1.0 / nullif(col(s"u$k"), lit(0L)), 4)
      val delta = if (k == 0) lit(0L)
                  else expr(s"d${k + 1} div nullif(u${k + 1}, 0)")
      struct(lit(k + 1).as("step_idx"), lit(step).as("step"),
        users.cast("long").as("users"),
        graft.functions.GraftFunctions.r(users * 1.0 / nullif(col("u1"), lit(0L)), 4)
          .as("conv_vs_first"),
        prev.as("conv_vs_prev"),
        delta.cast("long").as("avg_us_from_first"))
    }
    agg.select(explode(array(stepRows: _*)).as("s")).select(col("s.*"))
      .orderBy(col("step_idx"))
  }

  /** Funnel TRANSITION latency distribution — the timing dimension
    * [[funnelSummary]]'s counts lack: per adjacent step pair k→k+1,
    * the distribution of `t_{k+1} − t_k` over keys whose step-k+1
    * completion lands inside `windowUs` of their `t1` (the same
    * in-window population the summary counts, so `n_keys` here equals
    * the summary's step-k+1 `users` by construction). Deltas are
    * positive exact-µs longs (the [[funnelTimes]] chain is strictly
    * monotone); p50/p90 are the exact interpolating percentile —
    * Spark's `percentile` ≡ DuckDB's `quantile_cont`, the q27-proven
    * portable pair. At corpus scale the exact percentile sorts each
    * transition's deltas inside one aggregation buffer; for
    * billion-key funnels the mergeable per-group quantile sketch
    * ([[Sketches]], q151) is the scale path — this is the exact,
    * auditable twin.
    *
    * ONE pass over `times`: every transition's stats are computed in
    * a single 1-row aggregation (delta columns stacked in one
    * projection), then exploded to per-transition rows — the
    * [[funnelSummary]] shape, no multi-consumer replan of the
    * funnel-times window chain. A transition nobody completes keeps
    * its row with n_keys = 0 and NULL stats (honest, not absent).
    *
    * Returns (step_idx, transition, n_keys, min_us, p50_us, p90_us,
    * max_us). */
  def funnelLatency(times: DataFrame, steps: Seq[String],
                    windowUs: Long): DataFrame = {
    require(steps.size >= 2,
      s"latency needs at least one transition, got $steps")
    require(windowUs > 0, s"windowUs must be positive (µs): $windowUs")
    val withD = steps.indices.tail.foldLeft(times) { (df, k) =>
      df.withColumn(s"_d$k",
        when(col(s"t${k + 1}").isNotNull &&
          col(s"t${k + 1}") - col("t1") <= windowUs,
          col(s"t${k + 1}") - col(s"t$k")))
    }
    val aggExprs = steps.indices.tail.flatMap { k => Seq(
      count(col(s"_d$k")).as(s"n$k"),
      min(col(s"_d$k")).as(s"mn$k"),
      expr(s"percentile(_d$k, 0.5)").as(s"p5$k"),
      expr(s"percentile(_d$k, 0.9)").as(s"p9$k"),
      max(col(s"_d$k")).as(s"mx$k"))
    }
    val agg = withD.agg(aggExprs.head, aggExprs.tail: _*)
    val rows = steps.indices.tail.map { k =>
      struct(lit(k).as("step_idx"),
        lit(s"${steps(k - 1)}->${steps(k)}").as("transition"),
        col(s"n$k").as("n_keys"), col(s"mn$k").as("min_us"),
        col(s"p5$k").as("p50_us"), col(s"p9$k").as("p90_us"),
        col(s"mx$k").as("max_us"))
    }
    agg.select(explode(array(rows: _*)).as("s")).select(col("s.*"))
      .orderBy(col("step_idx"))
  }

  /** Per-key INTERVAL UNION: merge overlapping-or-touching
    * [start, end] intervals into maximal islands and report coverage
    * — the "total engaged time" reduction over any interval source
    * (q177's debounce bursts, session spans, validity windows), and
    * the classic warehouse interval-coalesce. An interval opens a new
    * island iff its start lies strictly past the running max end of
    * everything before it (ties TOUCH and merge — [0,5] ∪ [5,9] is
    * one island of width 9).
    *
    * ONE exchange: the running-max-end window, island numbering, and
    * the island aggregation all share the (key) hash partitioning and
    * one (start, end) sort; the per-key rollup collapses map-side on
    * the island table. All-integer. Intervals with end < start refuse
    * loudly (a negative-width interval silently corrupts the running
    * max); NULL starts/ends drop (no span evidence).
    *
    * Returns one row per key: (key, n_intervals, n_islands,
    * covered) where covered = Σ island widths (max end − min start
    * per island). */
  def intervalUnion(df: DataFrame, key: String, start: String,
                    end: String): DataFrame =
    intervalIslands(df, key, start, end)
      .groupBy(col(key))
      .agg(sum(col("n_merged")).as("n_intervals"),
        count(lit(1)).as("n_islands"),
        sum(col("island_end") - col("island_start")).as("covered"))

  /** The island table [[intervalUnion]] rolls up: one row per maximal
    * merged interval — (key, island_start, island_end, n_merged).
    * Exposed because the islands themselves are the useful shape for
    * downstream joins (engaged-time spans, availability windows) and
    * because the streaming twin
    * ([[graft.streaming.EventStreams.statefulIntervalUnion]]) pins its
    * parity law at island granularity. Same one-exchange plan as the
    * rollup. */
  def intervalIslands(df: DataFrame, key: String, start: String,
                      end: String): DataFrame = {
    val ok = df.filter(col(start).isNotNull && col(end).isNotNull)
      .filter(coalesce(assert_true(col(end) >= col(start),
        concat(lit("intervalUnion: end < start for key "),
          col(key).cast("string"),
          lit(" — negative-width intervals corrupt the running max; " +
            "fix the producer"))), lit(true)))
    val w = Window.partitionBy(col(key)).orderBy(col(start), col(end))
    ok
      .withColumn("_pmax", max(col(end))
        .over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("_opens",
        when(col("_pmax").isNull || col(start) > col("_pmax"), 1L)
          .otherwise(0L))
      .withColumn("_isl", sum(col("_opens"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(key), col("_isl"))
      .agg(min(col(start)).as("island_start"), max(col(end)).as("island_end"),
        count(lit(1)).as("n_merged"))
      .drop("_isl")
  }

  /** Rolling-window distinct-key ESTIMATE from mergeable HLL register
    * sketches — the documented 100 TB path for [[activeUsers]]' WAU:
    * the exact operator explodes the deduped (key, day) pair table ×W
    * (state scales with distinct pairs), while this one reduces each
    * day to m = 2^b registers ONCE and rolls the window by cell-wise
    * MAX over days×m rows — per-day state is CONSTANT (64 cells at
    * b = 6) no matter how many keys were active, so a year of history
    * is 23k rows and any window size re-rolls from the same register
    * table without touching events. The register fan-out to its ≤ W
    * trailing target days is the q137 bounded-explode move applied to
    * SKETCH cells instead of key pairs. Same trailing-window
    * convention as [[activeUsers]] (day d counts activity in
    * d−W+1 .. d); days past the last activity carry estimates too
    * (their windows still contain registers) — callers join to their
    * active-day list for the q137 presentation. NULL keys drop (a
    * null key is not a user; [[Sketches.hllRegisters]] would refuse
    * the null hash loudly otherwise).
    *
    * Returns (day, est_distinct) — est saturates near ~10⁹ per
    * window (the [[Sketches.hllEstimate]] ceiling). */
  def rollingDistinctHll(events: DataFrame, key: String, ts: String,
                         epoch0Us: Long, dayUs: Long, windowDays: Int,
                         b: Int = 6): DataFrame = {
    require(windowDays >= 1, s"windowDays must be >= 1: $windowDays")
    require(dayUs > 0, s"dayUs must be positive (µs): $dayUs")
    val day = graft.functions.GraftFunctions.longDiv(col(ts) - epoch0Us, dayUs)
    val pairs = events.filter(col(key).isNotNull)
      .select(col(key).as("_k"), day.as("day")).distinct()
    // barriered: the per-day register table feeds the window fan-out
    // and is the thing a real deployment would PERSIST (days × m rows)
    val regs = OpUtils.barrier(
      Sketches.hllRegisters(pairs, col("day"),
        graft.functions.GraftFunctions.polyHash(col("_k").cast("string")), b))
    val rolled = regs
      .select(col("grp"), col("bucket"), col("r"),
        explode(sequence(lit(0), lit(windowDays - 1))).as("_j"))
      .groupBy((col("grp") + col("_j")).as("grp"), col("bucket"))
      .agg(max(col("r")).as("r"))
    Sketches.hllEstimate(rolled, b)
      .withColumnRenamed("grp", "day")
  }

  /** Burst collapse (debounce): within each (key, type), events whose
    * gap to the PREVIOUS event is ≤ `epsUs` chain into one burst, and
    * each burst reports its span and size — the duplicate-fire /
    * retry-storm / double-click cleaner an event pipeline runs before
    * any counting op (a checkout button wired to fire on every
    * render inflates naive conversion counts; debounced, it is one
    * burst row). Trailing-gap CHAIN semantics — the
    * [[Sessionize]]/`session_window` definition (a burst extends as
    * long as consecutive gaps stay ≤ ε), not fixed-anchor windows:
    * chains are what gap-closure gives in one pass, and they are the
    * semantics users already have from sessionization, just at
    * debounce timescale.
    *
    * ONE event-scale exchange: the lag + running-sum windows and the
    * burst aggregation all live on the (key, type) hash partitioning
    * with one (ts, tie) sort; burst rows collapse map-side before the
    * final burst-level exchange. Output is burst-bounded.
    *
    * Returns (key, type, ts_first, ts_last, n_collapsed). */
  def debounce(events: DataFrame, key: String, ts: String,
               typeCol: String, tie: String, epsUs: Long): DataFrame = {
    // a seconds-vs-µs slip silently collapses everything into one
    // burst per key — the same unit guard as funnelSummary
    require(epsUs > 0, s"epsUs must be positive (µs): $epsUs")
    val w = Window.partitionBy(col(key), col(typeCol))
      .orderBy(col(ts), col(tie))
    events
      .withColumn("_prev", lag(col(ts), 1).over(w))
      .withColumn("_opens",
        when(col("_prev").isNull || col(ts) - col("_prev") > epsUs, 1L)
          .otherwise(0L))
      .withColumn("_burst", sum(col("_opens"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(key), col(typeCol), col("_burst"))
      .agg(min(col(ts)).as("ts_first"), max(col(ts)).as("ts_last"),
        count(lit(1)).as("n_collapsed"))
      .drop("_burst")
  }

  /** SCD2 interval compression: per key, consecutive events carrying
    * the SAME `attr` value collapse into one validity interval
    * [valid_from, valid_to), `valid_to` NULL for the current version
    * — the slowly-changing-dimension build every warehouse runs over
    * a change feed, here over the event log directly. Version breaks
    * are NULL-safe (`null → x`, `x → null`, and the leading row all
    * open versions; two consecutive NULLs do not).
    *
    * ONE event-scale exchange: change-flag lag + running version
    * number share the (key) partitioning and one (ts, tie) sort, the
    * version aggregation collapses map-side on the same layout, and
    * the `valid_to` lead window runs over the VERSION-level table
    * (bounded by distinct versions, never events).
    *
    * Returns (key, attr, valid_from, valid_to, n_events). */
  def scd2Intervals(events: DataFrame, key: String, ts: String,
                    attr: String, tie: String): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(ts), col(tie))
    val versions = events
      .withColumn("_prev", lag(col(attr), 1, null).over(w))
      .withColumn("_first", row_number().over(w) === 1)
      .withColumn("_opens",
        when(col("_first") || !(col(attr) <=> col("_prev")), 1L)
          .otherwise(0L))
      .withColumn("_ver", sum(col("_opens"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(key), col("_ver"))
      .agg(max(col(attr)).as(attr),             // constant per version
        min(col(ts)).as("valid_from"),
        count(lit(1)).as("n_events"))
    versions
      .withColumn("valid_to", lead(col("valid_from"), 1).over(
        Window.partitionBy(col(key)).orderBy(col("_ver"))))
      .select(col(key), col(attr), col("valid_from"), col("valid_to"),
        col("n_events"))
  }

  /** Weekly retention cohorts: cohort = floor-div week of the key's
    * FIRST event, offset = activity week − cohort week; `retained_pct`
    * is distinct active keys over the cohort's size (its week-0 count —
    * every key is active in its own first week, so offset 0 is the
    * cohort census). Two hash aggregations on the key + one on the
    * O(weeks²) cell table; the per-cohort window runs over that bounded
    * cell table, not over events. */
  def retentionCohorts(events: DataFrame, key: String, ts: String,
                       epoch0Us: Long, weekUs: Long): DataFrame = {
    // exact long floor-div (ts ≥ epoch0) — double division of epoch-scale
    // longs is banned by the engine's portability rules (class doc,
    // Queries.scala)
    val week = graft.functions.GraftFunctions.longDiv(col(ts) - epoch0Us, weekUs)
    retentionFromPairs(events.select(col(key), week.as("week")).distinct(), key)
  }

  /** The retention law over an already-DEDUPED `(key, week)` activity
    * pair table — the shared core of [[retentionCohorts]] and the
    * incremental twin ([[graft.streaming.StreamingEngagement]], whose
    * persisted state IS this pair table). Cohort = each key's min
    * week; the rest is as documented on [[retentionCohorts]]. */
  private[graft] def retentionFromPairs(active0: DataFrame, key: String): DataFrame = {
    // two consumers (cohort mins + the activity join) — barrier, as in
    // activeUsersFromPairs
    val active = OpUtils.barrier(active0)
    val first = active.groupBy(col(key))
      .agg(min(col("week")).as("cohort_week"))
    val cells = active.join(first, key)
      .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"))
      // plain count, not count_distinct: the input contract IS the
      // deduped (key, week) pair table, where a key's weeks are
      // distinct and offset is a function of week — so a key appears
      // at most once per cell, and the distinct-aggregate's extra
      // per-cell dedup pass over the pair table buys nothing
      // (activeUsersFromPairs already counts DAU the same way)
      .agg(count(lit(1)).as("users"))
    val wc = Window.partitionBy(col("cohort_week"))
    cells
      .withColumn("cohort_size",
        max(when(col("week_offset") === 0, col("users"))).over(wc))
      .withColumn("retained_pct",
        graft.functions.GraftFunctions.r(col("users") * 1.0 / col("cohort_size"), 4))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  /** Dyadic EWMA smoothing (α = ½, truncated at `frameRows` terms,
    * renormalized): per-key exponentially-weighted moving value where
    * every arithmetic step is BIT-PORTABLE across engines. The value is
    * first scaled to an exact integer (`scale`, e.g. 100 for a 2-decimal
    * column), the weighted numerator Σ xᵢ·2ⁱ over the frame list is pure
    * long math (weights are powers of two, so even the unscaled products
    * would be exact), the denominator is 2ⁿ−1, and the only floating ops
    * are two correctly-rounded IEEE divisions — identical in any engine.
    *
    * One shuffle + one sort (running frame window); the per-row frame
    * list is bounded at `frameRows` elements, so memory per row is O(1).
    *
    * Exactness envelope: bit-exactness requires the long numerator
    * Σ xᵢ·2ⁱ not to overflow, i.e. |value·scale| ≤ Long.MaxValue >>
    * frameRows (≈ 3.6e16 at the default frameRows=8). This is asserted
    * in-plan per row — a breach raises a descriptive error rather than
    * silently returning a wrapped (sign-flipped) EWMA.
    */
  def dyadicEwma(events: DataFrame, key: String, ts: String, tie: String,
                 valueCol: String, frameRows: Int = 8, scale: Int = 100): DataFrame =
    dyadicEwmaWith(events, key, ts, tie, valueCol, frameRows, scale,
      graft.functions.GraftFunctions.dyadicFold)

  /** [[dyadicEwma]] with the frame-list fold as a parameter: the tests
    * run it with the declarative fold as the differential twin. */
  private[graft] def dyadicEwmaWith(events: DataFrame, key: String, ts: String,
      tie: String, valueCol: String, frameRows: Int, scale: Int,
      fold: Column => Column): DataFrame = {
    require(frameRows >= 1 && frameRows <= 62, s"frameRows out of range: $frameRows")
    // scale = 0 would zero every scaled value and then divide the fold
    // by 0.0 — an opaque DIVIDE_BY_ZERO under ANSI instead of a named
    // caller error
    require(scale >= 1, s"scale must be >= 1: $scale")
    // Exactness envelope: the numerator Σ xᵢ·2ⁱ is pure long math and
    // overflows SILENTLY (the declarative twin overflows identically,
    // so the differential test cannot catch it) well below frameRows=62
    // once |scaled value| is large — e.g. cent-scaled ~1e4 values wrap
    // around frameRows≈50. |x| ≤ Long.MaxValue >> frameRows guarantees
    // Σ|x|·2ⁱ ≤ |x|·(2^n−1) < Long.MaxValue, so the guard is asserted
    // IN-PLAN on every scaled value; breach raises instead of returning
    // a sign-flipped EWMA. NULL values pass through the guard untouched:
    // collect_list then DROPS them, so a null-valued row's frame simply
    // shrinks (and an all-null frame is empty -> NULL ewma).
    val cvLim = java.lang.Long.MAX_VALUE >> frameRows
    // Envelope mechanics (probed, not assumed): Spark's floor returns
    // LONG — its internal double→long conversion SATURATES at
    // Long.MaxValue/MinValue (it is not an ANSI cast, so no
    // CAST_OVERFLOW fires) — and a saturated ±2^63−1 lands outside
    // [−cvLim, cvLim], so the comparison below produces the
    // descriptive error for any out-of-envelope magnitude in both
    // ANSI modes. The compare runs in double space
    // (lit(cvLim.toDouble)): cvLim.toDouble rounds up to
    // 2^(63-frameRows), and a value landing exactly on that rounded
    // bound still keeps Σ|x|·2^i ≤ 2^63 − 2^(63-frameRows) <
    // Long.MaxValue, so the rounding slack cannot overflow; the cast
    // in the safe branch is always in range (≤ 2^62 for
    // frameRows ≥ 1). The same saturation is why NaN needs the
    // PRE-floor guard above: floor(NaN) is 0L, not an error.
    val dd = floor(col(valueCol) * scale + lit(0.5))
    // The NaN check runs on the RAW value, BEFORE the floor: floor of
    // a double is LONG-typed and NaN.toLong is 0 — so an unguarded
    // NaN reading would not crash OR get dropped, it would silently
    // enter the frame as an exact 0.0 observation. The family's law
    // (the Models.observed rationale): NULL means missing and shrinks
    // the frame; NaN is computed garbage from an upstream bug and
    // must fail loudly.
    val cv = when(isnan(col(valueCol).cast("double")), raise_error(
        lit("dyadicEwma: value is NaN — computed-garbage input (a NULL " +
          "value means missing and shrinks the frame; NaN signals an " +
          "upstream bug); floor would silently coerce it to 0")).cast("long"))
      .when(dd.isNull ||
        (dd <= lit(cvLim.toDouble) && dd >= lit(-cvLim.toDouble)),
        dd.cast("long"))
      .otherwise(raise_error(concat(
        lit(s"dyadicEwma: |value·$scale| exceeds $cvLim (Long.MaxValue >> " +
          s"$frameRows); the exact 2^i-weighted numerator would overflow " +
          "silently - lower scale or frameRows. value="),
        col(valueCol).cast("string"))).cast("long"))
    val w = Window.partitionBy(col(key)).orderBy(col(ts), col(tie))
      .rowsBetween(-(frameRows - 1), 0)
    events
      .withColumn("_cv", cv)
      .withColumn("_xs", collect_list(col("_cv")).over(w))
      .withColumn("ewma", graft.functions.GraftFunctions.r(
        fold(col("_xs")) / lit(scale.toDouble), 6))
      .drop("_cv", "_xs")
  }

  /** Top-k most common within-session event-type paths. Sessions come
    * from [[Sessionize.withSessions]] (gap rule); each session's path is
    * its type sequence ordered by (ts, tie) — built order-independently
    * via `array_sort` over (ts, tie, type) structs, so the groupBy's
    * `collect_list` nondeterminism cannot leak into the path. Per-session
    * lists are session-sized; the final cut is a TakeOrderedAndProject
    * (no global sort materialization), deterministically tie-broken by
    * the path string. */
  def topPaths(events: DataFrame, key: String, ts: String, tie: String,
               typeCol: String, gapUs: Long, k: Int): DataFrame = {
    val sess = Sessionize.withSessions(events, Seq(col(key)), col(ts), gapUs,
      tieBreak = Seq(col(tie)))
    sess.groupBy(col(key), col("session_id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col(ts), col(tie), col(typeCol)))),
          x => x.getField(typeCol)), ">").as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(k)
  }

  /** Deterministic-bucket A/B experiment summary. Keys are assigned to
    * variant 0/1 by the portable key hash (how production experiment
    * systems bucket — stable under reprocessing, and every unit of a key
    * stays in one arm); the experiment UNIT is the session
    * ([[Sessionize.withSessions]] gap rule), conversion is "the session
    * contains `conversionType`", and the two-proportion pooled z-score
    * lands in ONE aggregate row — conditional aggregation, no window, no
    * second pass. Every float op after the counts is a fixed-order
    * correctly-rounded IEEE step, so the score is engine-portable; a
    * degenerate experiment (pooled rate 0 or 1 ⇒ zero variance) yields a
    * NULL z-score instead of a divide-by-zero. */
  def abTestSummary(events: DataFrame, key: String, ts: String, tie: String,
                    typeCol: String, conversionType: String, gapUs: Long): DataFrame = {
    import graft.functions.GraftFunctions.{polyHash, r}
    val perSession = Sessionize.withSessions(events, Seq(col(key)), col(ts), gapUs,
        tieBreak = Seq(col(tie)))
      .groupBy(col(key), col("session_id"))
      .agg(max(when(col(typeCol) === conversionType, 1L).otherwise(0L)).as("conv"))
      .withColumn("variant", pmod(polyHash(col(key).cast("string")), lit(2L)))
    val c = perSession.agg(
      count(when(col("variant") === 0, 1)).as("n0"),
      sum(when(col("variant") === 0, col("conv"))).as("c0"),
      count(when(col("variant") === 1, 1)).as("n1"),
      sum(when(col("variant") === 1, col("conv"))).as("c1"))
    val (n0, c0, n1, c1) = (col("n0"), col("c0"), col("n1"), col("c1"))
    val p0 = c0 * 1.0 / n0
    val p1 = c1 * 1.0 / n1
    val pp = (c0 + c1) * 1.0 / (n0 + n1)
    // the 1/n terms need their own nullif: an EMPTY arm (every key
    // hashed to one variant) makes c0/p0/pp NULL — which nulls the
    // PRODUCT — but ANSI evaluates both children of the multiply, and
    // lit(1.0)/0 throws DIVIDE_BY_ZERO before the NULL can win. The
    // doc's "degenerate experiment yields a NULL z-score" must hold
    // for the zero-arm degeneracy too, not just zero variance.
    c.select(n0, c0, r(p0, 6).as("rate0"), n1, c1, r(p1, 6).as("rate1"),
      r(p1 - p0, 6).as("abs_lift"),
      r((p1 - p0) / nullif(
        sqrt(pp * (lit(1.0) - pp) *
          (lit(1.0) / nullif(n0, lit(0L)) + lit(1.0) / nullif(n1, lit(0L)))),
        lit(0.0)), 6)
        .as("z_score"))
  }

  /** RFM (recency / frequency / monetary) customer segmentation: each
    * key's three metrics score 1-4 against the population's exact
    * quartiles, and the segment census is returned. The quartile
    * thresholds are ONE 9-value aggregate broadcast back over the
    * per-key metric table — never a global ntile window (the rank-
    * everything shape SCALE.md bans); scoring is three comparisons per
    * key. Thresholds and the monetary metric go through the portable
    * rounding on BOTH the engine and oracle sides so boundary keys
    * land identically. Recency is `asOfUs − last conversion` (smaller
    * = more recent; scores count how many quartiles the value
    * EXCEEDS, so 1 is "best" for R and "worst" for F/M — documented
    * direction, not normalized). Only the monetary thresholds are
    * rounded: recency lives at epoch scale where the portable rounding
    * itself overflows (see the inline note). */
  def rfmSegments(events: DataFrame, key: String, ts: String, typeCol: String,
                  conversionType: String, valueCol: String,
                  asOfUs: Long): DataFrame = {
    import graft.functions.GraftFunctions.r
    val conv = events.filter(col(typeCol) === conversionType)
    // per-user metrics feed BOTH the threshold aggregate and the
    // scoring join — barrier, or each consumer replans the event scan
    val metrics = OpUtils.barrier(
      conv.groupBy(col(key))
        .agg((lit(asOfUs) - max(col(ts))).as("recency"),
          count(lit(1)).as("frequency"),
          r(sum(col(valueCol)), 2).as("monetary")))
    // rounding is per-metric: monetary thresholds smooth per-user
    // double-sum ulp noise (r6 at magnitude ~1e3 is safe), but recency
    // sits at epoch scale, where r6's floor(x*1e6) OVERFLOWS Spark's
    // long-returning floor (2.9e13*1e6 > Long.MaxValue — measured as
    // every user scoring R=4); recency/frequency interpolate from
    // exact longs, so their raw thresholds are already deterministic
    val qCols = Seq("recency", "frequency", "monetary").flatMap { m =>
      Seq(25, 50, 75).map { p =>
        val q = expr(s"percentile($m, 0.$p)")
        (if (m == "monetary") r(q, 6) else q).as(s"_${m}_q$p")
      }
    }
    val qs = metrics.agg(qCols.head, qCols.tail: _*)
    def score(m: String): Column =
      lit(1) + when(col(m) > col(s"_${m}_q25"), 1).otherwise(0) +
        when(col(m) > col(s"_${m}_q50"), 1).otherwise(0) +
        when(col(m) > col(s"_${m}_q75"), 1).otherwise(0)
    metrics.crossJoin(broadcast(qs))
      .select(concat(score("recency").cast("string"), lit("-"),
        score("frequency").cast("string"), lit("-"),
        score("monetary").cast("string")).as("segment"))
      .groupBy(col("segment")).agg(count(lit(1)).as("n_users"))
      .orderBy(col("segment"))
  }

  /** Session-basket association rules over event types: for every
    * ordered type pair (A → B), the co-occurrence support, confidence
    * P(B ∈ basket | A ∈ basket), and lift (confidence over B's base
    * rate) — market-basket mining with the session as the basket.
    *
    * Baskets are distinct (key, session, type) triples; unordered pair
    * counting is ONE equality self-join on the session key (a < b cut,
    * each unordered pair counted once, emitted in both directions for
    * the two confidences). All rule math runs on the |types|²-bounded
    * pair table joined against the |types|-sized item counts and the
    * 1-row basket total (broadcast) — after the per-session distinct,
    * nothing event-scale moves again. */
  def associationRules(events: DataFrame, key: String, ts: String, tie: String,
                       typeCol: String, gapUs: Long): DataFrame = {
    // the basket table feeds FOUR consumers (basket total, item counts,
    // both sides of the pair self-join) — without a persistence barrier
    // Catalyst replans the event-scale sessionize+distinct chain once
    // per consumer (4 full scans in the benched plan; the barrier is a
    // measured 35% on q143 at sf0.1)
    val items = OpUtils.barrier(
      Sessionize.withSessions(events, Seq(col(key)), col(ts), gapUs,
          tieBreak = Seq(col(tie)))
        .select(col(key), col("session_id"), col(typeCol).as("item"))
        .distinct())
    val nBaskets = items.select(col(key), col("session_id")).distinct()
      .agg(count(lit(1)).as("n_baskets"))
    val itemCounts = items.groupBy(col("item")).agg(count(lit(1)).as("n_item"))
    val pairs = items.as("x")
      .join(items.as("y"),
        col(s"x.$key") === col(s"y.$key") &&
          col("x.session_id") === col("y.session_id") &&
          col("x.item") < col("y.item"))
      .groupBy(col("x.item").as("a"), col("y.item").as("b"))
      .agg(count(lit(1)).as("n_ab"))
    val directed = pairs.select(col("a"), col("b"), col("n_ab"))
      .unionByName(pairs.select(col("b").as("a"), col("a").as("b"), col("n_ab")))
    import graft.functions.GraftFunctions.r
    directed
      .join(itemCounts.select(col("item").as("a"), col("n_item").as("n_a")), "a")
      .join(itemCounts.select(col("item").as("b"), col("n_item").as("n_b")), "b")
      .crossJoin(broadcast(nBaskets))
      .select(col("a").as("antecedent"), col("b").as("consequent"), col("n_ab"),
        r(col("n_ab") * 1.0 / col("n_baskets"), 6).as("support"),
        r(col("n_ab") * 1.0 / col("n_a"), 6).as("confidence"),
        r(col("n_ab") * 1.0 / col("n_a")
          / (col("n_b") * 1.0 / col("n_baskets")), 6).as("lift"))
      .orderBy(col("antecedent"), col("consequent"))
  }

  /** Population-stability-index drift score per group: how far each
    * group's value distribution sits from the whole population's, over
    * `bins` equal-width bins on [lo, hi) (outliers clamp into the edge
    * bins). PSI = Σᵢ (qᵢ − pᵢ)·ln(qᵢ/pᵢ) with add-½ (Laplace)
    * smoothing so empty bins stay finite AND deterministic (no ad-hoc
    * epsilon). The data-quality gate run between pipeline snapshots:
    * PSI < 0.1 is the conventional "stable" line.
    *
    * One scan builds the (group, bin) cell table; the global
    * distribution re-aggregates the CELLS (never a second scan), the
    * full group×bin grid is an explode over the group list, and every
    * subsequent join/window touches only |groups|·bins rows. */
  def psiDrift(events: DataFrame, group: String, value: Column,
               lo: Double, hi: Double, bins: Int): DataFrame = {
    require(bins >= 2 && hi > lo, s"need >= 2 bins and hi > lo: $bins, [$lo, $hi)")
    val width = (hi - lo) / bins
    val bin = least(greatest(floor((value - lo) / width), lit(0.0)),
      lit((bins - 1).toDouble)).cast("long")
    // Rows with a NULL value have no bin. Left in, they would form a
    // NULL-bin cell whose mass lands in ref's total (deflating every
    // per-bin p) while never contributing to any p or q numerator —
    // and the SQL oracle excludes that mass entirely. Drop them before
    // binning so engine and oracle agree on dirty data: PSI is a
    // statistic over the OBSERVED value distribution. NaN is the same
    // law's other face: floor(NaN)=NaN survives greatest() (Spark
    // orders NaN largest) and least() then pins it to the TOP bin — a
    // non-observation silently inflating bins-1's mass — so it drops
    // with the NULLs (cast-to-double first: isnan needs a float type,
    // and an integral value column can never be NaN).
    // the bounded cell table fans out to the entity grid, the q side,
    // and (through ref) both p-side aggregates — behind a barrier each
    // consumer reuses the one event scan that built it
    val cells = OpUtils.barrier(
      events.filter(value.isNotNull && !isnan(value.cast("double")))
        .groupBy(col(group).as("entity"), bin.as("bin"))
        .agg(count(lit(1)).as("n")))
    val ref = cells.groupBy(col("bin")).agg(sum(col("n")).as("n_ref"))
    val domain = events.sparkSession.range(bins.toLong).select(col("id").as("bin"))
    psiOverCells(cells, ref, domain)
      .select(col("entity").as(group),
        graft.functions.GraftFunctions.r(col("psi"), 6).as("psi"))
      .orderBy(col(group))
  }

  /** The ONE copy of the smoothed PSI cell law, shared by
    * [[psiDrift]] (group vs population) and the snapshot-chain drift
    * ([[graft.streaming.StreamingCorpusStats.drift]], version vs
    * version): complete each entity's cells over the full `domain`,
    * smooth with add-½ against the shared bin count, and fold
    * Σ (q−p)·ln(q/p) per entity. Inputs: `cells (entity, bin, n)`,
    * `ref (bin, n_ref)`, `domain (bin)` — all already bounded; output
    * `(entity, psi)` UNROUNDED (callers round). */
  private[graft] def psiOverCells(cells: DataFrame, ref: DataFrame,
                                  domain: DataFrame): DataFrame = {
    val grid = cells.select(col("entity")).distinct().crossJoin(domain)
    val qSide = grid.join(cells, Seq("entity", "bin"), "left")
      .select(col("entity"), col("bin"), coalesce(col("n"), lit(0L)).as("n"))
    val refStats = ref.agg(sum(col("n_ref")).as("_rt"))
      .crossJoin(domain.agg(count(lit(1)).as("_rb")))
    val pTab = domain.join(ref, Seq("bin"), "left")
      .select(col("bin"), coalesce(col("n_ref"), lit(0L)).as("n_ref"))
      .crossJoin(broadcast(refStats))
      .select(col("bin"),
        ((col("n_ref") + 0.5) / (col("_rt") + lit(0.5) * col("_rb"))).as("p"))
    val wq = Window.partitionBy(col("entity"))
    qSide
      .withColumn("q", (col("n") + 0.5) /
        (sum(col("n")).over(wq) + lit(0.5) * count(lit(1)).over(wq)))
      .join(pTab, "bin")
      .groupBy(col("entity"))
      .agg(sum((col("q") - col("p")) * log(col("q") / col("p"))).as("psi"))
  }

  /** First-order Markov transition matrix over within-session event
    * types: for each ordered (prev → next) pair, the transition count
    * and probability (count over the prev-type's outgoing total).
    * Transitions never cross a session boundary — the first event of
    * each session has no predecessor. One event-scale shuffle (the
    * session/lag windows share the sessionizer's partitioning); the
    * probability window runs over the |types|² cell table only. */
  def transitionMatrix(events: DataFrame, key: String, ts: String, tie: String,
                       typeCol: String, gapUs: Long): DataFrame = {
    val sess = Sessionize.withSessions(events, Seq(col(key)), col(ts), gapUs,
      tieBreak = Seq(col(tie)))
    val w = Window.partitionBy(col(key), col("session_id"))
      .orderBy(col(ts), col(tie))
    val cells = sess
      .withColumn("_prev", lag(col(typeCol), 1).over(w))
      .filter(col("_prev").isNotNull)
      .groupBy(col("_prev").as("prev_type"), col(typeCol).as("next_type"))
      .agg(count(lit(1)).as("n"))
    val wp = Window.partitionBy(col("prev_type"))
    cells
      .withColumn("p", graft.functions.GraftFunctions.r(
        col("n") * 1.0 / sum(col("n")).over(wp), 6))
      .orderBy(col("prev_type"), col("next_type"))
  }

  /** Rolling active users: per calendar day, the distinct keys active
    * that day (DAU), in the trailing `windowDays` window (WAU), and the
    * DAU/WAU stickiness ratio. Rolling COUNT DISTINCT does not compose
    * as a window aggregate (distinct is not subtractable), so each
    * (key, day) pair is exploded into the `windowDays` future days it
    * keeps the key "active" for — a bounded ×W row amplification of the
    * already-deduplicated pair table (never of raw events), then two
    * plain hash aggregations. Days with no events contribute no row;
    * the trailing window still sees activity from prior days. */
  def activeUsers(events: DataFrame, key: String, ts: String,
                  epoch0Us: Long, dayUs: Long, windowDays: Int = 7): DataFrame = {
    // exact long floor-div, ts ≥ epoch0 (the retentionCohorts
    // contract): longDiv truncates toward zero, so a pre-epoch0 event
    // would collapse days (−1, 0) into one double-width day-0 bucket —
    // pick epoch0 at or before the table's first event
    val day = graft.functions.GraftFunctions.longDiv(col(ts) - epoch0Us, dayUs)
    activeUsersFromPairs(
      events.select(col(key), day.as("day")).distinct(), key, windowDays)
  }

  /** The DAU/WAU law over an already-DEDUPED `(key, day)` activity pair
    * table — the shared core of [[activeUsers]] and the incremental
    * twin ([[graft.streaming.StreamingEngagement]]). The pair table
    * feeds both the DAU and the WAU aggregation, so it sits behind a
    * persistence barrier — otherwise each consumer replans the
    * event-scale distinct from the scan up. */
  private[graft] def activeUsersFromPairs(pairs0: DataFrame, key: String,
                                          windowDays: Int): DataFrame = {
    require(windowDays >= 1, s"windowDays must be >= 1: $windowDays")
    val pairs = OpUtils.barrier(pairs0)
    val dau = pairs.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val wau = pairs
      .select(col(key), explode(sequence(col("day"),
        col("day") + (windowDays - 1))).as("day"))
      .distinct()
      .groupBy(col("day")).agg(count(lit(1)).as("wau"))
    dau.join(wau, "day")
      .select(col("day"), col("dau"), col("wau"),
        graft.functions.GraftFunctions.r(col("dau") * 1.0 / col("wau"), 6)
          .as("stickiness"))
      .orderBy(col("day"))
  }

  /** Last-touch attribution: each conversion event is credited to the
    * most recent at-or-before touch event on the same key — the as-of
    * join ([[AsOf.join]]: one shuffle, one sort, never a range explode)
    * — then revenue rolls up per touch type. Conversions with no prior
    * touch land in the `"(none)"` bucket. Output is |touch types| rows. */
  def lastTouchAttribution(events: DataFrame, key: String, ts: String,
                           typeCol: String, conversionType: String,
                           valueCol: String, tie: String): DataFrame = {
    val conv = events.filter(col(typeCol) === conversionType)
      .select(col(key), col(ts), col(tie), col(valueCol))
    val touch = events.filter(col(typeCol) =!= conversionType)
      .select(col(key), col(ts), col(tie), col(typeCol))
    AsOf.join(conv, touch, Seq(key), ts, typeCol, tieBreak = Seq(tie))
      .groupBy(coalesce(col(s"asof_$typeCol"), lit("(none)")).as("channel"))
      .agg(count(lit(1)).as("conversions"),
        graft.functions.GraftFunctions.r(sum(col(valueCol)), 2).as("revenue"))
      .orderBy(col("channel"))
  }

  /** U-shaped (position-based) multi-touch attribution — the standard
    * 40/20/40 rule: each conversion's credit splits over the touch
    * path since the PREVIOUS conversion (path-reset semantics): first
    * touch 0.4, last touch 0.4, the middle touches share 0.2 evenly;
    * a 2-touch path splits 0.5/0.5, a 1-touch path takes 1.0, a
    * touchless conversion credits the `"(none)"` bucket. Credits per
    * conversion sum to EXACTLY 1 by construction (the
    * EventAnalyticsProps law). Complements [[lastTouchAttribution]] —
    * same inputs, the other canonical credit rule.
    *
    * ONE event-scale exchange: the path-segment running count
    * partitions by (key) ordered (ts, side, tie) — a same-timestamp
    * touch precedes its conversion, the [[lastTouchAttribution]] tie
    * law — and every per-segment window (position, counts, the
    * conversion's value) runs on (key, segment), which hash(key)
    * already clusters, so Catalyst inserts only a sort. No join: the
    * conversion's value reaches its touches through a full-frame
    * window max, never a (key, segment) equality join. The channel
    * rollup collapses map-side.
    *
    * Output: (channel, credit, revenue) — credit = Σ fractional
    * credits (6 dp), revenue = Σ credit · conversion value (2 dp). */
  def positionAttribution(events: DataFrame, key: String, ts: String,
                          typeCol: String, conversionType: String,
                          valueCol: String, tie: String): DataFrame = {
    val wSeg = Window.partitionBy(col(key), col("_seg"))
    val wSegOrd = wSeg.orderBy(col(ts), col("_side"), col(tie))
    tagPaths(events, key, ts, typeCol, conversionType, valueCol, tie)
      .withColumn("_p", row_number().over(wSegOrd))
      .withColumn("_credit",
        when(PathIsTouch,
          when(col("_n") === 1L, lit(1.0))
            .when(col("_n") === 2L, lit(0.5))
            .when(col("_p") === 1L || col("_p") === col("_n"), lit(0.4))
            .otherwise(lit(0.2) / (col("_n") - 2L).cast("double")))
        .when(PathIsNone, lit(1.0)))
      .transform(rollupCredits(typeCol))
  }

  /** Time-decay multi-touch attribution — the third canonical credit
    * rule beside [[lastTouchAttribution]] and [[positionAttribution]]:
    * within each conversion's path (same reset/tie laws), a touch at
    * age `a` before the conversion weighs `2^−⌊a/halfLife⌋` and
    * credits are the weights normalized per path. The arithmetic is
    * the dyadicEwma discipline — weights are LONG powers of two
    * (`1 << (40 − k)`, k clamped to [0, 40]), the path total is an
    * exact integer sum, and each credit is ONE correctly-rounded IEEE
    * division of identical operands on both engines; only the channel
    * rollup's Σ carries float-order noise, masked by r(·). A path
    * long enough to overflow the long weight sum (> 2²³ same-age
    * touches) refuses loudly under ANSI instead of folding silently.
    *
    * Same single-exchange single-pass plan as [[positionAttribution]].
    * Output: (channel, credit, revenue). */
  def timeDecayAttribution(events: DataFrame, key: String, ts: String,
                           typeCol: String, conversionType: String,
                           valueCol: String, tie: String,
                           halfLifeUs: Long): DataFrame = {
    require(halfLifeUs > 0, s"halfLifeUs must be positive (µs): $halfLifeUs")
    val wSeg = Window.partitionBy(col(key), col("_seg"))
    tagPaths(events, key, ts, typeCol, conversionType, valueCol, tie)
      .withColumn("_w", when(PathIsTouch, call_function("shiftleft", lit(1L),
        (lit(40L) - least(graft.functions.GraftFunctions.longDiv(
          col("_conv_ts") - col(ts), halfLifeUs), lit(40L))).cast("int"))))
      .withColumn("_wsum", sum(col("_w")).over(wSeg))
      .withColumn("_credit",
        when(PathIsTouch,
          col("_w").cast("double") / col("_wsum").cast("double"))
        .when(PathIsNone, lit(1.0)))
      .transform(rollupCredits(typeCol))
  }

  /** Two-sample Kolmogorov–Smirnov statistic between groups 0 and 1 —
    * the nonparametric "did the whole DISTRIBUTION shift" companion to
    * [[abTestSummary]]'s rate z-score (a treatment that moves spend
    * shape without moving the mean is invisible to a t/z test and
    * obvious to KS). D = max_x |F̂₀(x) − F̂₁(x)| computed EXACTLY:
    * values quantize to an integer grid (`scale` ticks — the corpus's
    * own cent resolution by default, so quantization is lossless
    * there), per-tick counts cumulate to integer CDFs, and the max and
    * its argmax select on the INTEGER cross-product numerator
    * |c₀·n₁ − c₁·n₀| (ties → smallest tick) — engine float noise
    * cannot flip the selection. Products run in decimal, so counts up
    * to 1e19 cannot overflow (ANSI would refuse louder still); the
    * published D and the Kolmogorov λ = D·√(n₀n₁/(n₀+n₁)) are fixed
    * IEEE op sequences on identical operands, r(6)-masked like q133.
    *
    * Scale shape: one map-side-combining aggregation events → per-tick
    * cells; the cumulative window and the argmax reduce run on the
    * BOUNDED tick table (value-range-sized, never event-sized) — the
    * q129 "window over the cell table" discipline. The tick table is
    * barriered (two consumers: cumsums + totals). NULL values and
    * NULL groups drop (no observation); a group id outside {0, 1}
    * refuses loudly in-plan.
    *
    * Returns ONE row: (n0, n1, d_num, at_tick, ks, lambda) — d_num =
    * the exact integer numerator at the argmax tick, ks = D, NULL if
    * either sample is empty. */
  def twoSampleKs(df: DataFrame, group: Column, value: Column,
                  scale: Long = 100L): DataFrame =
    ksFromCells(drift2Cells(df, group, value, scale, "twoSampleKs"))

  /** The shared events → per-tick-cell reduction of the drift suite:
    * (_x, _a0, _a1) counts on the integer value grid. This cell table
    * is the suite's SUFFICIENT STATISTIC — counts are additive, so
    * [[graft.streaming.StreamingDrift]] maintains exactly this table
    * incrementally and derives KS/U through the same `…FromCells`
    * cores the batch operators use (parity by construction). */
  private[graft] def drift2Cells(df: DataFrame, group: Column,
                                 value: Column, scale: Long,
                                 op: String): DataFrame = {
    require(scale > 0, s"scale must be positive: $scale")
    val g = group.cast("long")
    df.filter(value.isNotNull && g.isNotNull)
      .filter(coalesce(assert_true(g.isin(0L, 1L),
        concat(lit(s"$op: group must be 0 or 1, got "),
          g.cast("string"))), lit(true)))
      .select(g.as("_g"),
        floor(value * scale + lit(0.5)).cast("long").as("_x"))
      .groupBy(col("_x"))
      .agg(sum(when(col("_g") === 0L, 1L).otherwise(0L)).as("_a0"),
        sum(when(col("_g") === 1L, 1L).otherwise(0L)).as("_a1"))
  }

  /** [[twoSampleKs]]'s core over an existing `(_x, _a0, _a1)` cell
    * table (barriered here — totals + cumsums both read it). */
  private[graft] def ksFromCells(cells0: DataFrame): DataFrame = {
    val r = graft.functions.GraftFunctions.r _
    val cells = OpUtils.barrier(cells0)
    val tot = cells.agg(sum(col("_a0")).as("_n0"), sum(col("_a1")).as("_n1"))
    val w = Window.orderBy(col("_x"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val dec = "decimal(19,0)"
    val best = cells
      .withColumn("_c0", sum(col("_a0")).over(w))
      .withColumn("_c1", sum(col("_a1")).over(w))
      .crossJoin(broadcast(tot))
      .select(
        abs(col("_c0").cast(dec) * col("_n1").cast(dec)
          - col("_c1").cast(dec) * col("_n0").cast(dec)).as("_num"),
        col("_x"), col("_n0"), col("_n1"))
      .agg(max(struct(col("_num"), (-col("_x")).as("_nx"),
        col("_n0"), col("_n1"))).as("_m"))
      // d_num is integer-exact internally (the selection basis); it
      // PUBLISHES as double — exact to 2^53, and the driver compare
      // treats decimals and hugeints differently across engines
      .select(col("_m._n0").as("n0"), col("_m._n1").as("n1"),
        col("_m._num").cast("double").as("d_num"),
        (-col("_m._nx")).as("at_tick"))
      // empty input → no verdict row (never an all-NULL placeholder)
      .filter(col("at_tick").isNotNull)
    best.select(col("n0"), col("n1"), col("d_num"), col("at_tick"),
      r(when(col("n0") > 0 && col("n1") > 0,
        col("d_num").cast("double")
          / (col("n0").cast(dec) * col("n1").cast(dec)).cast("double")), 6)
        .as("ks"),
      r(when(col("n0") > 0 && col("n1") > 0,
        col("d_num").cast("double")
          / (col("n0").cast(dec) * col("n1").cast(dec)).cast("double")
          * sqrt((col("n0").cast(dec) * col("n1").cast(dec)).cast("double")
            / (col("n0") + col("n1")).cast("double"))), 6)
        .as("lambda"))
  }

  /** Two-sample Mann–Whitney U (Wilcoxon rank-sum) between groups 0
    * and 1 — the rank-based location-shift member of the drift suite
    * ([[abTestSummary]] rate z / [[twoSampleKs]] shape D / this):
    * robust to outliers and any monotone transform of the value. ALL
    * rank arithmetic is integer-exact on the same per-tick cell
    * substrate as KS: with C(<x) the cross-group count below tick x
    * and t(x) the tie count at x, the DOUBLED midrank 2·C+t+1 is an
    * integer, so 2·R₀ = Σ c₀(x)·(2C+t+1) and 2·U₀ = 2R₀ − n₀(n₀+1)
    * accumulate exactly in decimals; U₀ (which counts group-0-wins
    * pairs + half the ties) and the AUC/common-language effect
    * U₀/(n₀n₁) are exact halves divided once. The tie-corrected
    * normal z uses Σ(t³−t) — also an exact decimal sum — and is a
    * fixed IEEE op sequence, r(6)-masked; NULL when a group is empty
    * or every value ties (σ = 0).
    *
    * Same scale shape as [[twoSampleKs]]: one map-side-combining
    * aggregation to bounded tick cells (barriered — cumsums + totals),
    * the cumulative window and 1-row reduce over cells only. Same
    * loud group-domain refusal.
    *
    * Returns ONE row: (n0, n1, u0, auc, z). */
  def mannWhitneyU(df: DataFrame, group: Column, value: Column,
                   scale: Long = 100L): DataFrame =
    mannWhitneyUFromCells(
      drift2Cells(df, group, value, scale, "mannWhitneyU"))

  /** [[mannWhitneyU]]'s core over an existing `(_x, _a0, _a1)` cell
    * table. */
  private[graft] def mannWhitneyUFromCells(cells0: DataFrame): DataFrame = {
    val r = graft.functions.GraftFunctions.r _
    val dec = "decimal(38,0)"
    val cells = OpUtils.barrier(cells0)
    val w = Window.orderBy(col("_x"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val agg = cells
      .withColumn("_t", col("_a0") + col("_a1"))
      .withColumn("_below", coalesce(sum(col("_t")).over(w), lit(0L)))
      .agg(
        sum(col("_a0")).as("n0"), sum(col("_a1")).as("n1"),
        // 2·R0 = Σ c0·(2·C(<x) + t + 1) — integer-exact
        sum(col("_a0").cast(dec)
          * (col("_below").cast(dec) * 2 + col("_t").cast(dec) + 1))
          .as("_r0x2"),
        // tie correction Σ(t³ − t)
        sum(col("_t").cast(dec) * col("_t").cast(dec) * col("_t").cast(dec)
          - col("_t").cast(dec)).as("_tcorr"))
    agg
      .withColumn("_u0x2", col("_r0x2")
        - col("n0").cast(dec) * (col("n0").cast(dec) + 1))
      .withColumn("_nn", col("n0").cast(dec) * col("n1").cast(dec))
      .withColumn("_nt", col("n0") + col("n1"))
      .select(col("n0"), col("n1"),
        (col("_u0x2").cast("double") / 2.0).as("u0"),
        r(when(col("_nn") > 0,
          col("_u0x2").cast("double") / 2.0 / col("_nn").cast("double")), 6)
          .as("auc"),
        r(when(col("_nn") > 0 && col("_nt") > 1, {
          // σ² = n0·n1/12 · (N+1 − Σ(t³−t)/(N(N−1))); all-tied ⇒ 0 ⇒ NULL
          val sigma2 = (col("_nn").cast("double") / 12.0) *
            ((col("_nt") + 1).cast("double") -
              col("_tcorr").cast("double") /
                (col("_nt").cast(dec) * (col("_nt").cast(dec) - 1))
                  .cast("double"))
          ((col("_u0x2").cast("double") - col("_nn").cast("double")) / 2.0) /
            nullif(sqrt(sigma2), lit(0.0))
        }), 6).as("z"))
      .filter(col("n0").isNotNull)
  }

  /** χ² test of independence between a binary group and a categorical
    * column — the CATEGORICAL member of the drift suite ([[abTestSummary]]
    * rate z / [[twoSampleKs]] shape / [[mannWhitneyU]] location / this:
    * "did the treatment change the MIX of event types"). Expected
    * counts E = row·col/N are ONE division of exact decimal products;
    * each cell's (O−E)²/E is a fixed IEEE op sequence (squares spelled
    * x·x, never pow); only the Σ over the BOUNDED cell set carries
    * float order, masked by r(·). Cramér's V = √(χ²/N) rides along
    * (min(r−1, c−1) = 1 for a binary group). An empty column margin
    * ⇒ χ² NULL (E = 0 is not a statistic); NULL categories and groups
    * drop; group ∉ {0, 1} refuses loudly.
    *
    * Scale shape: one map-side-combining aggregation to |categories|
    * cells (barriered — totals + the per-cell pass both read it);
    * everything after is bounded.
    *
    * Returns ONE row: (n, dof, chi2, cramers_v). */
  def chiSquareIndependence(df: DataFrame, group: Column, cat: Column): DataFrame =
    chiSquareFromCells(catCells(df, group, cat))

  /** The per-category `(_k, _o0, _o1)` count reduction —
    * [[chiSquareIndependence]]'s sufficient statistic, additive like
    * the rest of the drift suite's cells
    * ([[graft.streaming.StreamingDrift]] maintains it incrementally
    * through the same delta discipline). */
  private[graft] def catCells(df: DataFrame, group: Column,
                              cat: Column): DataFrame = {
    val g = group.cast("long")
    df.filter(cat.isNotNull && g.isNotNull)
      .filter(coalesce(assert_true(g.isin(0L, 1L),
        concat(lit("chiSquareIndependence: group must be 0 or 1, got "),
          g.cast("string"))), lit(true)))
      .groupBy(cat.as("_k"))
      .agg(sum(when(g === 0L, 1L).otherwise(0L)).as("_o0"),
        sum(when(g === 1L, 1L).otherwise(0L)).as("_o1"))
  }

  /** [[chiSquareIndependence]]'s core over an existing
    * `(_k, _o0, _o1)` cell table. */
  private[graft] def chiSquareFromCells(cells0: DataFrame): DataFrame = {
    val r = graft.functions.GraftFunctions.r _
    val dec = "decimal(19,0)"
    val cells = OpUtils.barrier(cells0)
    val tot = cells.agg(sum(col("_o0")).as("_n0"), sum(col("_o1")).as("_n1"),
      count(lit(1)).as("_r"))
    def term(o: Column, colTot: Column, rowTot: Column, n: Column): Column = {
      val e = (rowTot.cast(dec) * colTot.cast(dec)).cast("double") /
        n.cast("double")
      // ANSI throws on ÷0 even for doubles — an empty margin makes THIS
      // cell NULL, the null propagates through the cell sum, and the
      // all-NULL aggregate is the operator's NULL verdict
      when(e =!= 0.0, (o.cast("double") - e) * (o.cast("double") - e) / e)
    }
    cells.crossJoin(broadcast(tot))
      .select(col("_n0"), col("_n1"), col("_r"),
        (col("_o0") + col("_o1")).as("_rt"), col("_o0"), col("_o1"))
      .select(col("_n0"), col("_n1"), col("_r"),
        (term(col("_o0"), col("_n0"), col("_rt"), col("_n0") + col("_n1")) +
          term(col("_o1"), col("_n1"), col("_rt"), col("_n0") + col("_n1")))
          .as("_cell"))
      .groupBy(col("_n0"), col("_n1"), col("_r"))
      .agg(sum(col("_cell")).as("_chi2"))
      .select((col("_n0") + col("_n1")).as("n"),
        (col("_r") - 1).as("dof"),
        r(when(col("_n0") > 0 && col("_n1") > 0, col("_chi2")), 6).as("chi2"),
        r(when(col("_n0") > 0 && col("_n1") > 0,
          sqrt(col("_chi2") / (col("_n0") + col("_n1")).cast("double"))), 6)
          .as("cramers_v"))
  }

  /** Hour-of-day × day-of-week traffic profile with independence
    * residuals — the seasonality heatmap behind load forecasting and
    * traffic-anomaly review: `n` is the cell's observed event count,
    * `expected` its count under dow⊥hour independence
    * (rowTot·colTot/N, the same margins-product expectation q195's
    * χ² sums over), and `resid` the Pearson residual (O−E)/√E — the
    * per-cell standardized surprise (|resid| ≳ 3 marks a cell the
    * margins can't explain: the Friday-evening spike, the
    * Monday-3am bot window).
    *
    * Both keys derive from epoch-µs by exact integer floor-div —
    * UTC, dow 0 = Monday (epoch day 0 was a Thursday, hence the +3)
    * — never via engine date functions, whose week conventions
    * disagree. One map-side count aggregation to ≤ 7×24 cells;
    * margins come from reaggregating that bounded table and join
    * back broadcast. Cells with zero events don't appear (their
    * residual over a real margin is −√E, but an absent dow or hour
    * has no defined margin — emitting only observed cells keeps the
    * law uniform). E > 0 for every emitted cell, so √E never ÷0. */
  def seasonalityProfile(df: DataFrame, tsUs: Column): DataFrame =
    seasonalityFromCells(seasonCells(df, tsUs))

  /** The per-(dow, hour) count reduction — [[seasonalityProfile]]'s
    * sufficient statistic, additive like the rest of the drift-suite
    * cells ([[graft.streaming.StreamingDrift]] maintains it
    * incrementally through the same delta discipline). */
  private[graft] def seasonCells(df: DataFrame, tsUs: Column): DataFrame = {
    // FLOOR division, not SQL div: div truncates toward zero, so a
    // pre-epoch timestamp (ts < 0) would land on the wrong day and a
    // NEGATIVE hour (Spark % keeps the dividend's sign, and DuckDB's
    // bare % does too) — subtract the pmod first (the epochMicros
    // idiom: the difference is exactly divisible, so div ≡ floor),
    // and take pmod for the cyclic keys so both engines agree on
    // [0,7)/[0,24) whatever the sign
    def floorDiv(a: Column, b: Long): Column =
      graft.functions.GraftFunctions.longDiv(a - pmod(a, lit(b)), b)
    df.filter(tsUs.isNotNull)
      .groupBy(pmod(floorDiv(tsUs, 86400000000L) + 3, lit(7L)).as("_dw"),
        pmod(floorDiv(tsUs, 3600000000L), lit(24L)).as("_hr"))
      .agg(count(lit(1)).as("_n"))
  }

  /** [[seasonalityProfile]]'s core over an existing `(_dw, _hr, _n)`
    * cell table. */
  private[graft] def seasonalityFromCells(cells0: DataFrame): DataFrame = {
    val r = graft.functions.GraftFunctions.r _
    val dec = "decimal(19,0)"
    // four consumers of the cell table (cells + both margins + N) —
    // barrier, or the upstream aggregation replans once per consumer
    val cells = OpUtils.barrier(cells0)
    val rowTot = cells.groupBy(col("_dw")).agg(sum(col("_n")).as("_rt"))
    val colTot = cells.groupBy(col("_hr")).agg(sum(col("_n")).as("_ct"))
    val tot = cells.agg(sum(col("_n")).as("_tot"))
    val e = (col("_rt").cast(dec) * col("_ct").cast(dec)).cast("double") /
      col("_tot").cast("double")
    cells
      .join(broadcast(rowTot), "_dw")
      .join(broadcast(colTot), "_hr")
      .crossJoin(broadcast(tot))
      .select(col("_dw").as("dow"), col("_hr").as("hour"),
        col("_n").as("n"),
        r(e, 6).as("expected"),
        r((col("_n").cast("double") - e) / sqrt(e), 6).as("resid"))
  }

  /** Integer Poisson(1) inverse-CDF thresholds on the [0, 1e9+7) hash
    * grid: P(X ≤ k)·(1e9+7) floored, k = 0..4 (the ≥5 tail carries
    * 0.37% and is capped at 5). Integer comparisons replay bit-equal
    * on any engine — the float CDF literals would not. */
  val PoissonThresh: Seq[Long] = Seq(
    367879443L, 735758887L, 919698609L, 981011849L, 996340160L)
  val HashP: Long = 1000000007L

  /** The bootstrap mixer's replicate multiplier (2³²·φ−¹ rounded —
    * the golden-ratio increment). Single-sourced into the SQL twin
    * like [[BenfordP]]. */
  val BootstrapMixMul: Long = 2654435761L

  /** The bootstrap's per-(row, replicate) mixer: two modular squaring
    * rounds over the row's 31-polynomial hash and the replicate index.
    * Every intermediate stays under (1e9+7)² < 2⁶³, so the whole chain
    * is exact int64 on both engines — the replay property the CI
    * depends on. NOT a cryptographic hash; two squarings give the
    * avalanche a percentile CI needs, nothing more. */
  private def bootstrapMix(h0: Column, rep: Column): Column = {
    val x = pmod(h0 + rep * lit(BootstrapMixMul), lit(HashP))
    val y = pmod(x * x + rep, lit(HashP))
    pmod(y * y + h0, lit(HashP))
  }

  /** Hash-replayed Poisson-bootstrap confidence interval for the A/B
    * mean-value uplift — the inference companion to the drift suite:
    * q148-style funnels say WHETHER B converts more, Mann-Whitney says
    * the distributions differ; this says HOW MUCH the per-event mean
    * differs, with uncertainty. Poisson(1) resampling (the standard
    * streaming/distributed approximation to multinomial bootstrap —
    * each row enters replicate r with weight ~Poisson(1)) makes every
    * replicate a SINGLE weighted aggregation instead of a resample
    * materialization.
    *
    * Determinism: the weight of row i in replicate r is the Poisson
    * inverse-CDF of an integer mixer over (polyHash(key_i), r) — all
    * int64-exact, so any engine replays the identical resample and the
    * CI is hash-comparable, not merely statistically close.
    *
    * Per replicate: uplift_r = (Σw·c|B / Σw|B − Σw·c|A / Σw|A)/100
    * over integer cents c (sums as decimals: integer-exact in any
    * shuffle order; each mean is ONE double division). Replicate −1
    * carries weight 1 everywhere — the point estimate falls out of
    * the same single aggregation. The CI is the (⌊α‰·n⌋)-th /
    * (n+1−⌊α‰·n⌋)-th order statistic of the replicate uplifts (ties
    * broken by replicate id — total order, engine-reproducible);
    * `neg_frac` is the bootstrap tail mass at or below zero. A
    * replicate that resamples one side empty (possible only on tiny
    * groups) is dropped from the order statistics; `n_reps` reports
    * the effective count.
    *
    * Scale: ONE corpus pass. The replicate explode is a pipelined
    * per-row ×(R+1) multiplier (R+1 integer mixes per row — no string
    * hashing in the loop; the polyHash runs once per row); the
    * groupBy(rep) partial aggregation collapses each partition to
    * ≤ R+2 cells, so the shuffle carries O(R·partitions) rows and
    * everything after is R-bounded. No collects, no event-cardinality
    * state. */
  def bootstrapUplift(df: DataFrame, key: Column, variant: Column,
                      valueCents: Column, replicates: Int = 200,
                      alphaPermille: Int = 25): DataFrame = {
    require(replicates >= 2, s"need at least 2 replicates: $replicates")
    require(alphaPermille > 0 && alphaPermille < 500,
      s"alphaPermille must be in (0, 500): $alphaPermille")
    val r = graft.functions.GraftFunctions.r _
    val dec = "decimal(38,0)"
    val v = variant.cast("long")
    val base = df
      .filter(key.isNotNull && v.isNotNull && valueCents.isNotNull)
      .filter(coalesce(assert_true(v.isin(0L, 1L),
        concat(lit("bootstrapUplift: variant must be 0 or 1, got "),
          v.cast("string"))), lit(true)))
      .select(
        graft.functions.GraftFunctions.polyHash(key.cast("string")).as("_h0"),
        v.as("_v"), valueCents.cast("long").as("_c"))
    val z = bootstrapMix(col("_h0"), col("_rep"))
    val w = when(col("_rep") < 0L, lit(1L)).otherwise(
      PoissonThresh.zipWithIndex.foldRight(lit(5L): Column) {
        case ((t, k), tail) => when(z < t, lit(k.toLong)).otherwise(tail)
      })
    // the per-row aggregation groups by (_rep, _v) with TWO decimal
    // sums, then a second ≤ 2(R+2)-row aggregation pivots the variants
    // into the 4-column cells shape (r15): the old 4-sums-per-row form
    // fed every exploded row through four decimal buffers, two of
    // which always summed a NULL — the decimal updates were the bulk
    // of the single fused job (q203 profile: 2.3 s of 3.0 s). Same
    // summands into the same decimal sums (order-free by exactness),
    // so the cells — and everything downstream — are value-identical.
    val cells = base
      .withColumn("_rep",
        explode(sequence(lit(-1L), lit(replicates.toLong - 1L))))
      .withColumn("_w", w)
      .groupBy(col("_rep"), col("_v"))
      .agg(sum(col("_w").cast(dec)).as("_sw"),
        sum((col("_w") * col("_c")).cast(dec)).as("_swx"))
      .groupBy(col("_rep"))
      .agg(
        max(when(col("_v") === 0L, col("_sw"))).as("_swa"),
        max(when(col("_v") === 0L, col("_swx"))).as("_swxa"),
        max(when(col("_v") === 1L, col("_sw"))).as("_swb"),
        max(when(col("_v") === 1L, col("_swx"))).as("_swxb"))
    val barriered = OpUtils.barrier(cells)
    def meanOf(swx: Column, sw: Column): Column =
      swx.cast("double") / sw.cast("double") / lit(100.0)
    val uplift = meanOf(col("_swxb"), col("_swb")) -
      meanOf(col("_swxa"), col("_swa"))
    val point = barriered.filter(col("_rep") === -1L)
      .select(col("_swa").cast("long").as("n_a"),
        col("_swb").cast("long").as("n_b"),
        meanOf(col("_swxa"), col("_swa")).as("_ma"),
        meanOf(col("_swxb"), col("_swb")).as("_mb"),
        uplift.as("_pt"))
    val reps = barriered
      .filter(col("_rep") >= 0L && col("_swa") > 0 && col("_swb") > 0)
      .select(col("_rep"), uplift.as("_u"))
    // R-bounded: the global rank window and count run over ≤ R rows
    val ranked = reps
      .withColumn("_rk",
        row_number().over(Window.orderBy(col("_u"), col("_rep"))))
      .withColumn("_cnt", count(lit(1)).over(Window.partitionBy()))
    val ci = ranked
      .agg(max(col("_cnt")).as("n_reps"),
        max(when(col("_rk") === greatest(lit(1L),
          graft.functions.GraftFunctions.longDiv(
            col("_cnt") * alphaPermille, 1000L)), col("_u"))).as("_lo"),
        max(when(col("_rk") === col("_cnt") + 1L - greatest(lit(1L),
          graft.functions.GraftFunctions.longDiv(
            col("_cnt") * alphaPermille, 1000L)), col("_u"))).as("_hi"),
        sum(when(col("_u") <= 0.0, 1L).otherwise(0L)).as("_nneg"))
    point.crossJoin(ci)
      .select(col("n_a"), col("n_b"),
        r(col("_ma"), 6).as("mean_a"), r(col("_mb"), 6).as("mean_b"),
        r(col("_pt"), 6).as("uplift"),
        col("n_reps"),
        r(col("_lo"), 6).as("ci_lo"), r(col("_hi"), 6).as("ci_hi"),
        r(col("_nneg").cast("double") / col("n_reps").cast("double"), 6)
          .as("neg_frac"))
  }

  /** Per-group inter-event burstiness — the Goh–Barabási coefficient
    * B = (σ − μ)/(σ + μ) over the pooled per-key gap series: −1 for a
    * metronome (σ = 0), → 0 for a Poisson process (σ ≈ μ), → 1 for
    * heavy-tailed bursts. The timing-shape companion to the rate
    * metrics (DAU counts activity volume; this reads its TEXTURE —
    * bot metronomes and notification-storm bursts separate cleanly).
    *
    * Gaps are integer µs deltas between a key's consecutive events
    * (`lag` inside one (key-partitioned) window — ties on ts break by
    * `tie`, zero gaps are real and kept). Σgap and Σgap² accumulate as
    * exact decimals; μ, the portable variance
    * (Σx² − (Σx)²/n)/(n − 1), σ = √max(0, var), and B are one fixed
    * IEEE sequence. Laws: a group with < 2 gaps has no dispersion —
    * NULL B; σ + μ = 0 (all gaps zero) is NULL too (shape of a
    * zero-length process is undefined), never 0/0.
    *
    * Scale: one hash exchange on the key for the lag window; the
    * group aggregation reuses nothing event-cardinality — partial
    * aggregation collapses map-side to one cell per group. */
  def burstiness(df: DataFrame, group: Column, key: Column, tsUs: Column,
                 tie: Column): DataFrame = {
    val r = graft.functions.GraftFunctions.r _
    val dec = "decimal(38,0)"
    val w = Window.partitionBy(group, key).orderBy(tsUs, tie)
    val gaps = df.filter(tsUs.isNotNull)
      .select(group.as("_g"),
        (tsUs - lag(tsUs, 1).over(w)).as("_gap"))
      .filter(col("_gap").isNotNull)
    val agg = gaps.groupBy(col("_g"))
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("_gap").cast(dec)).as("_sx"),
        sum(col("_gap").cast(dec) * col("_gap").cast(dec)).as("_sxx"))
    val nd = col("n_gaps").cast("double")
    val sx = col("_sx").cast("double"); val sxx = col("_sxx").cast("double")
    val mu = sx / nd
    // nullif carries the single-gap law AND preempts the ÷0
    val vr = (sxx - sx * sx / nd) / nullif(nd - lit(1.0), lit(0.0))
    val sd = sqrt(greatest(lit(0.0), vr))
    agg.select(col("_g").as("group"), col("n_gaps"),
      r(mu, 6).as("mean_gap_us"),
      r(when(col("n_gaps") >= 2, sd), 6).as("sd_gap_us"),
      r(when(col("n_gaps") >= 2 && (sd + mu) =!= 0.0,
        (sd - mu) / (sd + mu)), 6).as("burstiness"))
  }

  /** Per-group Spearman rank correlation of `y` against `x` — the
    * monotone-trend member of the statistical suite (Pearson q46 reads
    * LINEAR association; Spearman reads any monotone drift, immune to
    * outliers and units — "is the purchase value creeping up over
    * time" regardless of the value distribution's shape).
    *
    * Ties get average (fractional) ranks, carried as DOUBLED ranks
    * `2·rank + |ties| − 1` so every rank is an INTEGER — Spearman is
    * affine-invariant, so ρ is unchanged, and all five sufficient
    * statistics (Σx, Σy, Σxy, Σx², Σy²) accumulate as exact decimals
    * in any shuffle order. ρ itself is then ONE fixed IEEE sequence
    * (n·Σxy − ΣxΣy)/(√(n·Σx²−Σx²)·√(n·Σy²−Σy²)) — the variance
    * products are clamped at 0 before the sqrt (an exactly-constant
    * series hits 0; past 2^53 the rounded cross-products could dip an
    * ulp below) and a zero denominator yields NULL (no monotone
    * association is DEFINED on a constant series).
    *
    * Scale: rank-based statistics are sort problems — the two rank
    * windows share one exchange on the group key and pay one sort per
    * ordering inside each group; the aggregation after is one pass.
    * Exactness ceiling: n·Σx² stays inside decimal(38) up to ~10⁹
    * rows per group; beyond that, rank correlation belongs to the
    * sketch path (sampled ranks), not this operator. */
  def spearman(df: DataFrame, group: Column, x: Column,
               y: Column): DataFrame = {
    val r = graft.functions.GraftFunctions.r _
    val dec = "decimal(38,0)"
    val base = df.filter(x.isNotNull && y.isNotNull)
      .select(group.as("_g"), x.as("_x"), y.as("_y"))
    def dblRank(c: String): Column =
      (rank().over(Window.partitionBy(col("_g")).orderBy(col(c))) * 2L
        + count(lit(1)).over(Window.partitionBy(col("_g"), col(c))) - 1L)
        .cast("long")
    val agg = base
      .withColumn("_rx", dblRank("_x"))
      .withColumn("_ry", dblRank("_y"))
      .groupBy(col("_g"))
      .agg(count(lit(1)).as("n"),
        sum(col("_rx").cast(dec)).as("_sx"),
        sum(col("_ry").cast(dec)).as("_sy"),
        sum(col("_rx").cast(dec) * col("_ry").cast(dec)).as("_sxy"),
        sum(col("_rx").cast(dec) * col("_rx").cast(dec)).as("_sxx"),
        sum(col("_ry").cast(dec) * col("_ry").cast(dec)).as("_syy"))
    val nd = col("n").cast("double")
    def d(c: String) = col(c).cast("double")
    val num = nd * d("_sxy") - d("_sx") * d("_sy")
    val den = sqrt(greatest(lit(0.0), nd * d("_sxx") - d("_sx") * d("_sx"))) *
      sqrt(greatest(lit(0.0), nd * d("_syy") - d("_sy") * d("_sy")))
    agg.select(col("_g").as("group"), col("n"),
      r(when(den =!= 0.0, num / den), 6).as("rho"))
  }

  /** Benford first-digit probabilities log₁₀(1 + 1/d), d = 1..9 —
    * single source for the operator's literals and the SQL twin. */
  val BenfordP: Seq[(Long, Double)] =
    (1L to 9L).map(d => d -> math.log10(1.0 + 1.0 / d))

  /** Benford's-law first-digit census over positive integer cents —
    * the classic fabricated-data / anomaly screen: naturally-occurring
    * multi-scale amounts follow P(d) = log₁₀(1+1/d); manual entry,
    * capped pricing, and synthetic padding show up as per-digit
    * residuals and a large χ². Digits extract EXACTLY (first character
    * of the integer's decimal rendering — no float log10 of the value,
    * whose boundary cells would flip between engines).
    *
    * Always emits the full 9-digit grid: a digit the corpus never
    * produces is evidence (o = 0 against n·p expected), not an absent
    * row. On an EMPTY corpus the expectations and χ² are NULL (no
    * rows ⇒ no law to test), with the grid still present at n = 0.
    *
    * Scale: one map-side count aggregation to ≤ 9 cells (barriered —
    * the grid join and the total both read it); everything after is
    * 9-row arithmetic. */
  def benfordDigits(df: DataFrame, valueCents: Column): DataFrame =
    benfordFromCells(digitCells(df, valueCents))

  /** The per-first-digit count reduction — [[benfordDigits]]'s
    * sufficient statistic, additive like the rest of the drift-suite
    * cells ([[graft.streaming.StreamingDrift]] maintains it
    * incrementally through the same delta discipline). */
  private[graft] def digitCells(df: DataFrame,
                                valueCents: Column): DataFrame =
    df.filter(valueCents.isNotNull && valueCents > 0)
      .select(substring(valueCents.cast("string"), 1, 1).cast("long")
        .as("_d"))
      .groupBy(col("_d")).agg(count(lit(1)).as("_o"))

  /** [[benfordDigits]]'s core over an existing `(_d, _o)` cell
    * table. */
  private[graft] def benfordFromCells(cells: DataFrame): DataFrame = {
    val r = graft.functions.GraftFunctions.r _
    val obs = OpUtils.barrier(cells)
    val grid = cells.sparkSession.range(1, 10)
      .select(col("id").as("digit"),
        BenfordP.foldRight(lit(Double.NaN): Column) { case ((d, p), tail) =>
          when(col("id") === d, lit(p)).otherwise(tail)
        }.as("_p"))
    val tot = obs.agg(sum(col("_o")).as("_tot"))
    val e = col("_tot").cast("double") * col("_p")
    val o = coalesce(col("_o"), lit(0L)).cast("double")
    val term = (o - e) * (o - e) / e
    grid.join(obs, col("digit") === col("_d"), "left")
      .crossJoin(broadcast(tot))
      .select(col("digit"),
        coalesce(col("_o"), lit(0L)).as("n"),
        r(col("_p"), 6).as("expected_frac"),
        r(when(col("_tot") > 0, o / col("_tot").cast("double")), 6)
          .as("obs_frac"),
        r(term, 6).as("chi2_term"),
        r(sum(term).over(Window.partitionBy()), 6).as("chi2"))
  }

  /** CUSUM-style changepoint locator over a daily value series — WHEN
    * did the metric shift (the drift suite tells you THAT it shifted;
    * q142's PSI tells you where in value space; this tells you where
    * in TIME). The statistic is the classic cumulative-sum deviation:
    * the day k maximizing |S_k·C_N − S_N·C_k| — the prefix value sum's
    * distance from its homogeneous expectation, cross-multiplied into
    * an INTEGER so the argmax (tie → earliest day) is exact; values
    * quantize to `scale` ticks like the whole suite, daily sums are
    * exact decimal products. Published beside the split day: the
    * deviation D = max|S_k − S_N·C_k/C_N| in value units (one exact
    * division), and the before/after means (one exact division each,
    * NULL after a last-day split — no after-population exists). All
    * r(6).
    *
    * Scale shape: one map-side-combining aggregation to the bounded
    * day table (barriered — totals + prefix window both read it);
    * everything after is day-bounded. NULL timestamps/values drop.
    *
    * Returns ONE row: (n_days, n, day_star, dev, mean_before,
    * mean_after) — or no row for an empty input. */
  def cusumChangepoint(df: DataFrame, ts: String, valueCol: String,
                       epoch0Us: Long, dayUs: Long, scale: Long = 100L): DataFrame =
    cusumFromDays(dayCells(df, ts, valueCol, epoch0Us, dayUs, scale),
      scale)

  /** The daily `(_d, _c, _s)` (count, tick-sum) reduction —
    * [[cusumChangepoint]]'s sufficient statistic, additive like the
    * drift pair's tick cells, so
    * [[graft.streaming.StreamingDrift]] maintains it incrementally
    * and derives the changepoint through [[cusumFromDays]]. */
  private[graft] def dayCells(df: DataFrame, ts: String, valueCol: String,
                              epoch0Us: Long, dayUs: Long,
                              scale: Long): DataFrame = {
    require(dayUs > 0, s"dayUs must be positive (µs): $dayUs")
    require(scale > 0, s"scale must be positive: $scale")
    val day = graft.functions.GraftFunctions.longDiv(col(ts) - epoch0Us, dayUs)
    df.filter(col(ts).isNotNull && col(valueCol).isNotNull)
      .select(day.as("_d"),
        floor(col(valueCol) * scale + lit(0.5)).cast("long").as("_v"))
      .groupBy(col("_d"))
      .agg(count(lit(1)).as("_c"), sum(col("_v")).as("_s"))
  }

  /** Trailing-window daily rate anomaly — each day's event count and
    * value sum as a z-score against the PRIOR `k` days' mean/σ: the
    * ops-monitoring question ("is today's traffic off its own recent
    * baseline") beside q196's retrospective changepoint (WHERE did
    * the level shift) — the changepoint re-reads all history; this
    * scores every day against a fixed-width local baseline, so a
    * one-day outage or spike lights up even in a drifting series.
    *
    * The day grid DENSIFIES over [min, max]: a zero-traffic day is
    * itself the anomaly signal, not an absent row (and a sparse
    * "prior k observed days" window would silently stretch over
    * gaps). Counts and tick-sums aggregate as exact decimals; μ, the
    * portable variance, σ, and z are one fixed IEEE sequence with
    * NULL-safe denominators. Laws: the first `k` days (incomplete
    * baseline) and σ = 0 baselines → NULL z, never ±∞/0/0.
    *
    * Shares [[dayCells]] with the changepoint — the streaming
    * monitor's persisted day state serves both readers
    * ([[graft.streaming.StreamingDrift.rateAnomaly]]). Everything
    * after the one map-side day aggregation is day-bounded; the
    * global order window is safe BECAUSE its input is the bounded,
    * barriered day table (the q192 argument). */
  def dailyRateAnomaly(df: DataFrame, ts: String, valueCol: String,
                       epoch0Us: Long, dayUs: Long, scale: Long,
                       k: Int = 7): DataFrame =
    rateAnomalyFromDays(
      dayCells(df, ts, valueCol, epoch0Us, dayUs, scale), k, scale)

  /** [[dailyRateAnomaly]]'s core over an existing `(_d, _c, _s)` day
    * table. */
  private[graft] def rateAnomalyFromDays(days0: DataFrame, k: Int,
                                         scale: Long): DataFrame = {
    require(k >= 2, s"baseline needs k >= 2 days: $k")
    val r = graft.functions.GraftFunctions.r _
    val dec = "decimal(38,0)"
    val days = OpUtils.barrier(days0)
    val dense = days.agg(min(col("_d")).as("_lo"), max(col("_d")).as("_hi"))
      .select(explode(sequence(col("_lo"), col("_hi"))).as("_d"))
      .join(days, Seq("_d"), "left")
      .select(col("_d"), coalesce(col("_c"), lit(0L)).as("_c"),
        coalesce(col("_s"), lit(0L)).as("_s"))
    val w = Window.orderBy(col("_d")).rowsBetween(-k, -1)
    def z(x: Column, sc: Column, scc: Column, n: Column): Column = {
      val nd = n.cast("double")
      val mean = sc.cast("double") / nullif(nd, lit(0.0))
      val vr = (scc.cast("double") - sc.cast("double") * sc.cast("double")
        / nullif(nd, lit(0.0))) / nullif(nd - 1.0, lit(0.0))
      val sd = sqrt(greatest(lit(0.0), vr))
      when(n === k && sd =!= 0.0, (x.cast("double") - mean) / sd)
    }
    dense
      .withColumn("_nw", count(lit(1)).over(w))
      .withColumn("_sc", sum(col("_c").cast(dec)).over(w))
      .withColumn("_scc",
        sum(col("_c").cast(dec) * col("_c").cast(dec)).over(w))
      .withColumn("_ss", sum(col("_s").cast(dec)).over(w))
      .withColumn("_sss",
        sum(col("_s").cast(dec) * col("_s").cast(dec)).over(w))
      .select(col("_d").as("day"), col("_c").as("n_events"),
        r(col("_s").cast("double") / lit(scale.toDouble), 6).as("value_sum"),
        r(z(col("_c"), col("_sc"), col("_scc"), col("_nw")), 6).as("z_count"),
        r(z(col("_s"), col("_ss"), col("_sss"), col("_nw")), 6).as("z_value"))
  }

  /** [[cusumChangepoint]]'s core over an existing `(_d, _c, _s)` day
    * table (barriered here — totals + prefix window both read it). */
  private[graft] def cusumFromDays(days0: DataFrame, scale: Long): DataFrame = {
    val r = graft.functions.GraftFunctions.r _
    val dec = "decimal(38,0)"
    val days = OpUtils.barrier(days0)
    val tot = days.agg(sum(col("_c")).as("_cn"), sum(col("_s")).as("_sn"),
      count(lit(1)).as("_nd"))
    val w = Window.orderBy(col("_d"))
      .rowsBetween(Window.unboundedPreceding, 0)
    days
      .withColumn("_ck", sum(col("_c")).over(w))
      .withColumn("_sk", sum(col("_s")).over(w))
      .crossJoin(broadcast(tot))
      .select(col("_cn"), col("_sn"), col("_nd"), col("_ck"), col("_sk"),
        abs(col("_sk").cast(dec) * col("_cn").cast(dec)
          - col("_sn").cast(dec) * col("_ck").cast(dec)).as("_num"),
        col("_d"))
      .agg(max(struct(col("_num"), (-col("_d")).as("_nd2"),
        col("_cn"), col("_sn"), col("_nd"), col("_ck"), col("_sk"))).as("_m"))
      .select(col("_m._nd").as("n_days"), col("_m._cn").as("n"),
        (-col("_m._nd2")).as("day_star"),
        col("_m._num").as("_num"), col("_m._ck").as("_ck"),
        col("_m._sk").as("_sk"), col("_m._cn").as("_cn"),
        col("_m._sn").as("_sn"))
      .filter(col("day_star").isNotNull)
      .select(col("n_days"), col("n"), col("day_star"),
        // D in VALUE units: num/(C_N · scale) — exact integer operands
        r(col("_num").cast("double")
          / (col("_cn").cast(dec) * scale).cast("double"), 6).as("dev"),
        r(col("_sk").cast("double")
          / (col("_ck").cast(dec) * scale).cast("double"), 6)
          .as("mean_before"),
        r(when(col("_cn") > col("_ck"),
          (col("_sn") - col("_sk")).cast("double")
            / ((col("_cn") - col("_ck")).cast(dec) * scale).cast("double")),
          6).as("mean_after"))
  }

  /** Shared path tagging for the multi-touch attribution family:
    * side flag, path segment (running conversion count — a path is
    * everything since the previous conversion), and the segment's
    * conversion facts (present?, value, ts) via full-frame windows on
    * (key, segment) — which hash(key) already clusters, so the whole
    * family costs ONE event-scale exchange. A same-timestamp touch
    * precedes its conversion (the [[lastTouchAttribution]] tie law). */
  private def tagPaths(events: DataFrame, key: String, ts: String,
                       typeCol: String, conversionType: String,
                       valueCol: String, tie: String): DataFrame = {
    val wKey = Window.partitionBy(col(key))
      .orderBy(col(ts), col("_side"), col(tie))
    val wSeg = Window.partitionBy(col(key), col("_seg"))
    events
      .select(col(key), col(ts), col(tie), col(typeCol), col(valueCol))
      .withColumn("_side",
        when(col(typeCol) === conversionType, 1L).otherwise(0L))
      .withColumn("_seg", coalesce(sum(col("_side"))
        .over(wKey.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("_has_conv", max(col("_side")).over(wSeg))
      .withColumn("_n", count(lit(1)).over(wSeg) - col("_has_conv"))
      .withColumn("_conv_value",
        max(when(col("_side") === 1L, col(valueCol))).over(wSeg))
      .withColumn("_conv_ts",
        max(when(col("_side") === 1L, col(ts))).over(wSeg))
  }

  /** A credited touch row: in a path that converted. */
  private val PathIsTouch: Column =
    col("_side") === 0L && col("_has_conv") === 1L
  /** A touchless conversion: credits the `"(none)"` bucket. */
  private val PathIsNone: Column =
    col("_side") === 1L && col("_n") === 0L

  /** Shared rollup: classify each row in place (single pass — a
    * touches/none UNION would hang TWO consumers off the windowed
    * frame and recompute the event-scale windows per branch, the q143
    * lesson), then fold credits per channel. A touchless conversion's
    * `_conv_value` window max is its OWN value — `"(none)"` needs no
    * special case. */
  private def rollupCredits(typeCol: String)(tagged: DataFrame): DataFrame = {
    val r = graft.functions.GraftFunctions.r _
    tagged
      .filter(col("_credit").isNotNull)
      .select(when(PathIsNone, lit("(none)")).otherwise(col(typeCol))
          .as("channel"),
        col("_credit"), col("_conv_value"))
      .groupBy(col("channel"))
      .agg(r(sum(col("_credit")), 6).as("credit"),
        r(sum(col("_credit") * col("_conv_value")), 2).as("revenue"))
      .orderBy(col("channel"))
  }
}
