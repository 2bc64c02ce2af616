package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.sources.Tables
import graft.operators.{Cdc, Clustering, CorpusQuality, Dedup, EventAnalytics, Features, Multimodal, OpUtils, Sessionize, Similarity, TextAnalysis}
import graft.functions.GraftFunctions._

/** The engine's named query surface — one entry per operator class in
  * `SURVEY.md` §2 (reference parity) plus the LLM-data-pipeline
  * extensions (§2 H). Each query has a DuckDB-oracle SQL twin over the
  * same parquet tables (omitted only for ops SQL cannot express, e.g.
  * ML training), hash-compared by the driver at sf0.01.
  *
  * Oracle-parity conventions used throughout:
  *  - double outputs go through the PORTABLE rounding
  *    `floor(x·10^d + 0.5)/10^d` (`GraftFunctions.r`) on BOTH sides —
  *    built-in `round` tie-breaking differs between Spark (BigDecimal
  *    HALF_UP on the exact expansion) and DuckDB (multiply-then-round);
  *  - every result has a deterministic total ORDER BY (row ORDER is
  *    further normalized by the driver's compare, which re-sorts rows
  *    by all columns — so final-ORDER-BY null placement cannot flip
  *    the gate; window ORDERINGS whose computed VALUES depend on null
  *    placement are the real exposure: Spark sorts NULLS FIRST
  *    ascending, DuckDB LAST, so rank/ntile windows over possibly-null
  *    VALUE columns spell `asc_nulls_last` to match DuckDB — q26,
  *    q139. Ordering on CONTRACT-NON-NULL columns (ids, `ts`) relies
  *    on the data contract instead: a null event timestamp is
  *    corruption, and both engines' behavior on it is unspecified);
  *  - `events.ts` arithmetic uses an exact epoch-MICROSECOND long basis:
  *    Spark schema-dispatches the physical encoding (int64 nanos via
  *    `nanosAsLong`, or TIMESTAMP(_NTZ) µs) onto epoch-µs longs
  *    (`GraftFunctions.epochMicros`); DuckDB reads the same parquet and
  *    exposes the identical basis via `epoch_us`. Integer math end to
  *    end — no double division of epoch-scale longs (precision dies
  *    above 2^53);
  *  - variance uses the portable (Σx²−(Σx)²/n)/(n−1) op sequence — the
  *    engines' native `var_samp` implementations (central-moment merge
  *    vs Welford) disagree in the last ulps;
  *  - hashes are the portable 31-polynomial mod 1e9+7
  *    (`GraftFunctions.polyHash`) or `md5`, never engine-specific
  *    murmur3.
  */
object Queries {

  /** Session gap 30 min, window width 15 min, in MICROSECONDS — the
    * reference's gap/width constants (`Constants.java:8-9`) scaled to
    * the events table's timestamp resolution. */
  val SessionGapUs: Long = 1800000000L
  val WindowWidthUs: Long = 900000000L

  /** q188's snapshot cut: 2024-01-16T00:00:00Z in epoch µs — mid-month
    * of the testdata's event range, so both the pre-cut fold and the
    * post-cut apply see real traffic at every SF. */
  val CdcCutUs: Long = 1705363200000000L

  final case class Q(
      name: String,
      run: (SparkSession, String) => DataFrame,
      oracle: Option[String],
      bench: Boolean = false)

  private def t(s: SparkSession, d: String, n: String): DataFrame =
    Tables.load(s, d, n)

  /** events with exact epoch-µs `ts_us` (see class doc). Encoding is
    * schema-dispatched ([[GraftFunctions.epochMicros]]): legacy int64
    * nanos and the current TIMESTAMP(_NTZ) µs testdata both land on
    * the identical epoch-µs long basis the oracles' `epoch_us(ts)`
    * exposes. */
  private def eventsUs(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
    ev.withColumn("ts_us", epochMicros(ev.schema("ts").dataType, col("ts")))
  }

  /** embeddings behind the in-plan dimension guard
    * ([[GraftFunctions.vectorDimGuard]]): NULL vectors pass (each
    * operator's NULL-vector law drops them), a RAGGED vector kills
    * the query loudly instead of silently folding to the shorter
    * length in every dot product downstream. All embedding queries
    * load through here. */
  private def emb(s: SparkSession, d: String): DataFrame =
    t(s, d, "embeddings")
      .filter(vectorDimGuard(col("embedding"), EmbeddingDim))
  private val EmbeddingDim = 64

  // ---------------------------------------------------------------- //
  // A/B/D: scans, projection & predicate pushdown, aggregation        //
  // ---------------------------------------------------------------- //

  /** D2-D4,D8 + A1/A2: TPC-H-Q1-style pricing summary. One scan, one
    * shuffle; partial aggregation map-side. Filter + 6-column read
    * schema reach the parquet scan (PushedFilters/ReadSchema). */
  private val q01 = Q("q01_agg_pricing_summary",
    (s, d) => t(s, d, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        r(sum(col("l_quantity")), 2).as("sum_qty"),
        r(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        r(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        r(avg(col("l_quantity")), 4).as("avg_qty"),
        r(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus")),
    Some("""SELECT l_returnflag, l_linestatus,
      floor(sum(l_quantity) * 100.0 + 0.5) / 100.0 AS sum_qty,
      floor(sum(l_extendedprice) * 100.0 + 0.5) / 100.0 AS sum_base_price,
      floor(sum(l_extendedprice * (1 - l_discount)) * 100.0 + 0.5) / 100.0 AS sum_disc_price,
      floor(avg(l_quantity) * 10000.0 + 0.5) / 10000.0 AS avg_qty,
      floor(avg(l_discount) * 10000.0 + 0.5) / 10000.0 AS avg_disc,
      count(*) AS count_order
      FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""),
    bench = true)

  /** A2/A3/B: projection + selective filter, pushed to the scan. */
  private val q02 = Q("q02_filter_project",
    (s, d) => t(s, d, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_quantity"), col("l_extendedprice"))
      .filter(col("l_quantity") < 3 && col("l_extendedprice") > 1500)
      .orderBy(col("l_orderkey"), col("l_linenumber")),
    Some("""SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice
      FROM lineitem WHERE l_quantity < 3 AND l_extendedprice > 1500
      ORDER BY l_orderkey, l_linenumber"""))

  /** D1: distinct (shuffle dedup). */
  private val q03 = Q("q03_distinct_custkeys",
    (s, d) => t(s, d, "orders")
      .select(col("o_custkey")).distinct()
      .orderBy(col("o_custkey")),
    Some("SELECT DISTINCT o_custkey FROM orders ORDER BY o_custkey"))

  // ---------------------------------------------------------------- //
  // C: joins                                                          //
  // ---------------------------------------------------------------- //

  /** C: 3-way star join. nation/region are broadcast (dimension-sized
    * at any scale factor) — no shuffle of the customer side beyond the
    * final groupBy. */
  private val q04 = Q("q04_join_star_broadcast",
    (s, d) => t(s, d, "customer")
      .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_cust"),
        r(sum(col("c_acctbal")), 2).as("total_bal"))
      .orderBy(col("r_name")),
    Some("""SELECT r_name, count(*) AS n_cust,
      floor(sum(c_acctbal) * 100.0 + 0.5) / 100.0 AS total_bal
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name ORDER BY r_name"""),
    bench = true)

  /** C: large-table equi-join (orders ⨝ lineitem). Shuffles both sides
    * on the join key; AQE may convert to broadcast at small SF — at
    * 100 TB it stays a co-partitioned sort-merge join. */
  private val q05 = Q("q05_join_revenue_by_priority",
    (s, d) => t(s, d, "orders")
      .join(t(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        r(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("o_orderpriority")),
    Some("""SELECT o_orderpriority,
      floor(sum(l_extendedprice * (1 - l_discount)) * 100.0 + 0.5) / 100.0 AS revenue,
      count(*) AS n_items
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
    bench = true)

  /** C: left-semi join (EXISTS). */
  private val q06 = Q("q06_semi_join",
    (s, d) => t(s, d, "customer")
      .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_active"))
      .orderBy(col("c_mktsegment")),
    Some("""SELECT c_mktsegment, count(*) AS n_active FROM customer
      WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      GROUP BY c_mktsegment ORDER BY c_mktsegment"""))

  /** C: left-anti join (NOT EXISTS) — customers with no high-value
    * order (plain "no order at all" is empty at every test SF, which
    * would exercise nothing). */
  private val q07 = Q("q07_anti_join",
    (s, d) => t(s, d, "customer")
      .join(t(s, d, "orders").filter(col("o_totalprice") > 150000),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_no_big_order"))
      .orderBy(col("c_nationkey")),
    Some("""SELECT c_nationkey, count(*) AS n_no_big_order FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders
        WHERE o_custkey = c_custkey AND o_totalprice > 150000)
      GROUP BY c_nationkey ORDER BY c_nationkey"""))

  // ---------------------------------------------------------------- //
  // G: sort / top-k / set ops / scalar & string functions             //
  // ---------------------------------------------------------------- //

  /** G1/G2: top-k per group via ranked window — the scalable form of
    * "sort then take" (no global single-partition sort). */
  private val q08 = Q("q08_window_topk_per_group",
    (s, d) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, d, "orders")
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select(col("o_orderpriority"), col("rn"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_orderpriority"), col("rn"))
    },
    Some("""SELECT o_orderpriority, rn, o_orderkey, o_totalprice FROM (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
        row_number() OVER (PARTITION BY o_orderpriority
          ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders) WHERE rn <= 3
      ORDER BY o_orderpriority, rn"""))

  /** B1-B3: projection with cast semantics — including the reference's
    * double→long TRUNCATION of acc_y (`DataManager.java:22`
    * `.longValue()`). Spark `cast(double as long)` truncates toward
    * zero; DuckDB CAST rounds, so its oracle must spell `trunc()`. */
  private val q13 = Q("q13_projection_casts",
    (s, d) => eventsUs(s, d)
      .select(
        col("event_id"),
        col("ts_us"),
        col("value"),
        col("value").cast("long").as("value_trunc"),
        col("user_id").cast("double").as("user_as_double"))
      .orderBy(col("event_id")),
    Some("""SELECT event_id, epoch_us(ts) AS ts_us, value,
      CAST(trunc(value) AS BIGINT) AS value_trunc,
      CAST(user_id AS DOUBLE) AS user_as_double
      FROM events ORDER BY event_id"""))

  /** Set ops: union / intersect / except of key sets, tagged. */
  private val q12 = Q("q12_set_ops",
    (s, d) => {
      val rich = t(s, d, "customer").filter(col("c_acctbal") > 7000)
        .select(col("c_custkey").as("k"))
      val active = t(s, d, "orders").select(col("o_custkey").as("k")).distinct()
      val both = rich.intersect(active).withColumn("tag", lit("both"))
      val richOnly = rich.except(active).withColumn("tag", lit("rich_only"))
      both.unionAll(richOnly).orderBy(col("tag"), col("k"))
    },
    Some("""WITH rich AS (SELECT c_custkey AS k FROM customer WHERE c_acctbal > 7000),
      active AS (SELECT DISTINCT o_custkey AS k FROM orders)
      SELECT k, 'both' AS tag FROM (SELECT k FROM rich INTERSECT SELECT k FROM active)
      UNION ALL
      SELECT k, 'rich_only' AS tag FROM (SELECT k FROM rich EXCEPT SELECT k FROM active)
      ORDER BY tag, k"""))

  /** Grouping sets: ROLLUP over (returnflag, linestatus) with subtotal
    * rows surfaced via coalesce to 'ALL' (the columns are never null in
    * data, so the sentinel is unambiguous; dialect-neutral vs relying
    * on NULL ordering, which Spark and DuckDB default differently). */
  private val q14 = Q("q14_rollup",
    (s, d) => t(s, d, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), r(sum(col("l_quantity")), 2).as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("status"),
        col("n"), col("sum_qty"))
      .orderBy(col("flag"), col("status")),
    Some("""SELECT coalesce(l_returnflag, 'ALL') AS flag,
      coalesce(l_linestatus, 'ALL') AS status,
      count(*) AS n, floor(sum(l_quantity) * 100.0 + 0.5) / 100.0 AS sum_qty
      FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      ORDER BY flag, status"""))

  /** As-of join (operator Spark lacks; composed union + last-ignore-
    * nulls, one shuffle — `operators.AsOf`): each click enriched with
    * the user's most recent purchase value at or before it. */
  private val q22 = Q("q22_asof_join",
    (s, d) => {
      val e = eventsUs(s, d)
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts_us"), col("event_id"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us"), col("event_id"), col("value"))
      graft.operators.AsOf.join(clicks, purchases,
        keys = Seq("user_id"), ts = "ts_us", valueCol = "value",
        tieBreak = Seq("event_id"))
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("asof_value"))
        .orderBy(col("event_id"))
    },
    Some("""WITH u AS (
        SELECT user_id, epoch_us(ts) AS ts_us, 1 AS side,
          NULL::STRUCT(v DOUBLE) AS rvs, event_id
        FROM events WHERE event_type = 'click'
        UNION ALL
        SELECT user_id, epoch_us(ts), 0, struct_pack(v := value), event_id
        FROM events WHERE event_type = 'purchase'),
      lv AS (SELECT *, (last_value(rvs IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY ts_us, side, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)).v AS asof_value
        FROM u)
      SELECT event_id, user_id, ts_us, asof_value
      FROM lv WHERE side = 1 ORDER BY event_id"""),
    bench = true)

  /** Skew-safe aggregation: two-phase salted sum over the 5 hot
    * event_type keys (`operators.Salting`) — result identical to a
    * plain group-by (the oracle IS the plain group-by), but the first
    * shuffle spreads each hot key over 16 reducers. Long sums, so the
    * two-phase merge is exact. */
  private val q23 = Q("q23_salted_agg_skew",
    (s, d) => graft.operators.Salting.saltedSumCount(
        eventsUs(s, d),
        key = col("event_type"),
        value = col("ts_us") - lit(1700000000000000L),
        saltSource = col("event_id"), saltBuckets = 16)
      .withColumnRenamed("k", "event_type")
      .orderBy(col("event_type")),
    Some("""SELECT event_type,
      CAST(sum(epoch_us(ts) - 1700000000000000) AS BIGINT) AS sum_value,
      count(*) AS n
      FROM events GROUP BY event_type ORDER BY event_type"""))

  /** Skewed fact side for q44/q45: 95% of lineitem rows collapse onto
    * order key 1 — the deliberate hot key — and the fact is amplified
    * ×20 (a deterministic explode) so the hot partition is big enough
    * at sf0.1 for skew to MEASURABLY hurt a single reducer (≈11.4M
    * rows; its COMPRESSED shuffle blocks — three highly repetitive
    * long columns — still sit under AQE's 256MB skew-split threshold,
    * exactly the regime where runtime re-planning does not fire and
    * manual salting is the only lever: measured at sf0.1, q44 keeps
    * its single hot reducer and runs ~35% slower than salted q45).
    * l_partkey rides along as the deterministic salt source. */
  private def skewedLineitem(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .withColumn("_amp", explode(sequence(lit(0), lit(19))))
      .select(
        when(pmod(col("l_orderkey"), lit(100L)) < 95, lit(1L))
          .otherwise(col("l_orderkey")).as("k"),
        col("l_quantity"), col("l_partkey"))

  private val SkewJoinOracle = """SELECT o_orderpriority,
      floor(sum(l_quantity) * 100.0 + 0.5) / 100.0 AS sum_qty,
      count(*) AS n
      FROM (SELECT CASE WHEN ((l_orderkey % 100) + 100) % 100 < 95 THEN 1
              ELSE l_orderkey END AS k, l_quantity
            FROM lineitem CROSS JOIN (SELECT unnest(range(0, 20)) AS a)) f
      JOIN orders ON o_orderkey = f.k
      GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  /** Skewed-key join, plain sort-merge (the `merge` hint keeps the
    * planner from broadcasting the dim, so the skew actually hits the
    * shuffle): one reducer receives 90% of the fact side, below AQE's
    * skew-split byte threshold, so it stays one task. The measured
    * twin of q45 — at sf0.1 this runs ~1.5× slower (min 6.5 s vs
    * 4.2 s over 5 interleaved passes), the cost of the single hot
    * reducer; the bench runs this pair with extra passes
    * ([[Bench.ExtraPasses]]) so the separation lands in the round
    * artifact, not just in local runs. */
  private val q44 = Q("q44_skew_join_plain",
    (s, d) => skewedLineitem(s, d).hint("merge")
      .join(t(s, d, "orders"), col("k") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(r(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("n"))
      .orderBy(col("o_orderpriority")),
    Some(SkewJoinOracle),
    bench = true)

  /** The same skewed join, manually salted (`operators.Salting
    * .saltedEquiJoin`): the known-hot key's fact rows spread over 16
    * (key, salt) sub-keys, only its dim rows replicated ×16 —
    * identical result (same oracle), but the hot key occupies 16
    * reducers by construction instead of relying on runtime
    * re-planning. The static-plan insurance when AQE can't help
    * (streaming joins, map-side-skew, partitions under AQE's skew
    * thresholds — q44's regime). */
  private val q45 = Q("q45_skew_join_salted",
    (s, d) => graft.operators.Salting.saltedEquiJoin(
        skewedLineitem(s, d), t(s, d, "orders"),
        factKey = col("k"), dimKey = col("o_orderkey"),
        saltSource = col("l_partkey"), saltBuckets = 16,
        hotKeys = Seq(1L))
      .groupBy(col("o_orderpriority"))
      .agg(r(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("n"))
      .orderBy(col("o_orderpriority")),
    Some(SkewJoinOracle),
    bench = true)

  /** C+ at rest: co-located BUCKETED join — both sides pre-bucketed on
    * the join key at write time (`Tables.bucketed`), so the sort-merge
    * join reads bucket layout directly: ZERO exchange on either join
    * input. Same result as q05; the oracle is the plain join. */
  private val q52 = Q("q52_bucketed_join_revenue",
    (s, d) => {
      val o = s.table(sources.Tables.bucketed(s, d, "orders", "o_orderkey"))
      val l = s.table(sources.Tables.bucketed(s, d, "lineitem", "l_orderkey"))
      o.hint("merge").join(l, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(
          r(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""SELECT o_orderpriority,
      floor(sum(l_extendedprice * (1 - l_discount)) * 100.0 + 0.5) / 100.0 AS revenue,
      count(*) AS n_items
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
    bench = true)

  /** Bucketed left-semi: customer/orders both bucketed on the customer
    * key — the zero-exchange form of q06. */
  private val q53 = Q("q53_bucketed_semi_active",
    (s, d) => {
      val c = s.table(sources.Tables.bucketed(s, d, "customer", "c_custkey"))
      val o = s.table(sources.Tables.bucketed(s, d, "orders", "o_custkey"))
      c.hint("merge").join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_active"))
        .orderBy(col("c_mktsegment"))
    },
    Some("""SELECT c_mktsegment, count(*) AS n_active FROM customer
      WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      GROUP BY c_mktsegment ORDER BY c_mktsegment"""))

  /** Per-group top-k as the `row_number() <= k` filter: Spark's
    * `InferWindowGroupLimit` plans a Partial `WindowGroupLimit` below
    * the exchange and a Final one above it, so the shuffle carries
    * per-partition survivors only. Output is (group, score) only: the
    * score multiset is deterministic even when ties at the k-boundary
    * make the row choice arbitrary. */
  private val q28 = Q("q28_topk_custom_operator",
    (s, d) => t(s, d, "orders")
      .withColumn("rn", row_number().over(Window
        .partitionBy(col("o_orderpriority")).orderBy(col("o_totalprice").desc)))
      .filter(col("rn") <= 3)
      .select(col("o_orderpriority"), col("o_totalprice"))
      .orderBy(col("o_orderpriority"), col("o_totalprice").desc),
    Some("""SELECT o_orderpriority, o_totalprice FROM (
      SELECT o_orderpriority, o_totalprice,
        row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC) AS rn
      FROM orders) WHERE rn <= 3
      ORDER BY o_orderpriority, o_totalprice DESC"""),
    bench = true)

  /** PIVOT: per-user event counts spread across event-type columns
    * (Spark `pivot` with an explicit value list — never the implicit
    * distinct-scan form at scale; oracle spells the equivalent
    * conditional aggregation). */
  private val q29 = Q("q29_pivot",
    (s, d) => t(s, d, "events")
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      // fill scoped to the PIVOT columns: an unscoped fill(0) would
      // also rewrite a NULL-user group key to user_id=0 (colliding
      // with a real user 0) while the oracle keeps it NULL
      .na.fill(0L, Seq("click", "error", "purchase", "signup", "view"))
      .orderBy(col("user_id")),
    Some("""SELECT user_id,
      count(*) FILTER (event_type = 'click') AS click,
      count(*) FILTER (event_type = 'error') AS error,
      count(*) FILTER (event_type = 'purchase') AS purchase,
      count(*) FILTER (event_type = 'signup') AS signup,
      count(*) FILTER (event_type = 'view') AS view
      FROM events GROUP BY user_id ORDER BY user_id"""))

  /** Semi-structured: JSON field extraction from the events `props`
    * column (`get_json_object` / DuckDB `json_extract_string`). */
  private val q24 = Q("q24_json_extract",
    (s, d) => t(s, d, "events")
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(count(col("k")).as("n_with_k"), sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .orderBy(col("event_type")),
    Some("""SELECT event_type,
      count(CAST((CASE WHEN json_valid(props) THEN json_extract_string(props, '$.k') END) AS BIGINT)) AS n_with_k,
      CAST(sum(CAST((CASE WHEN json_valid(props) THEN json_extract_string(props, '$.k') END) AS BIGINT)) AS BIGINT) AS sum_k,
      min(CAST((CASE WHEN json_valid(props) THEN json_extract_string(props, '$.k') END) AS BIGINT)) AS min_k,
      max(CAST((CASE WHEN json_valid(props) THEN json_extract_string(props, '$.k') END) AS BIGINT)) AS max_k
      FROM events GROUP BY event_type ORDER BY event_type"""))

  /** Sliding-frame window aggregate: 7-row moving average of value per
    * user (ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), reported at the
    * last event of each user to keep output small. */
  private val q25 = Q("q25_moving_avg",
    (s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
        .rowsBetween(-6, 0)
      val wAll = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us").desc, col("event_id").desc)
      eventsUs(s, d)
        .withColumn("mov_avg", avg(col("value")).over(w))
        .withColumn("rn", row_number().over(wAll))
        .filter(col("rn") === 1)
        .select(col("user_id"), r(col("mov_avg"), 4).as("last_mov_avg"))
        .orderBy(col("user_id"))
    },
    Some("""WITH m AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        avg(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
          ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS mov_avg,
        row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
      FROM events)
      SELECT user_id, floor(mov_avg * 10000.0 + 0.5) / 10000.0 AS last_mov_avg
      FROM m WHERE rn = 1 ORDER BY user_id"""))

  /** Ranking-function family: rank / dense_rank / percent_rank /
    * cume_dist over a per-group ordering (ties share ranks — both
    * engines implement SQL-standard semantics). Restricted to one
    * nation's customers to keep output small. */
  private val q26 = Q("q26_rank_functions",
    (s, d) => {
      // asc_nulls_last: Spark sorts NULLS FIRST ascending, DuckDB LAST —
      // a NULL acctbal would shift every rank in its nation by one
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal").asc_nulls_last)
      t(s, d, "customer")
        .filter(col("c_nationkey") < 5)
        .select(col("c_nationkey"), col("c_custkey"), col("c_acctbal"),
          rank().over(w).cast("long").as("rnk"),
          dense_rank().over(w).cast("long").as("drnk"),
          r(percent_rank().over(w), 4).as("prnk"),
          r(cume_dist().over(w), 4).as("cdist"))
        .orderBy(col("c_nationkey"), col("c_custkey"))
    },
    Some("""SELECT c_nationkey, c_custkey, c_acctbal,
      rank() OVER w AS rnk,
      dense_rank() OVER w AS drnk,
      floor(percent_rank() OVER w * 10000.0 + 0.5) / 10000.0 AS prnk,
      floor(cume_dist() OVER w * 10000.0 + 0.5) / 10000.0 AS cdist
      FROM customer WHERE c_nationkey < 5
      WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal)
      ORDER BY c_nationkey, c_custkey"""))

  /** Statistical co-aggregates: Pearson correlation and sample
    * covariance between the event value and its JSON k field. */
  private val q46 = Q("q46_corr_covar",
    (s, d) => t(s, d, "events")
      .withColumn("k", get_json_object(col("props"), "$.k").cast("double"))
      .groupBy(col("event_type"))
      .agg(
        r(corr(col("value"), col("k")), 4).as("corr_vk"),
        r(covar_samp(col("value"), col("k")), 4).as("covar_vk"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type")),
    Some("""SELECT event_type,
      floor(corr(value, CAST((CASE WHEN json_valid(props) THEN json_extract_string(props, '$.k') END) AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS corr_vk,
      floor(covar_samp(value, CAST((CASE WHEN json_valid(props) THEN json_extract_string(props, '$.k') END) AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS covar_vk,
      count(*) AS n
      FROM events GROUP BY event_type ORDER BY event_type"""))

  /** Edit distance (classic DP levenshtein — integer, deterministic in
    * both engines): each part name's first word vs a fixed probe. */
  private val q47 = Q("q47_edit_distance",
    (s, d) => t(s, d, "part")
      .select(col("p_partkey"),
        levenshtein(split_part(col("p_name"), lit(" "), lit(1)), lit("spark"))
          .cast("long").as("lev"))
      .orderBy(col("p_partkey")),
    Some("""SELECT p_partkey,
      CAST(levenshtein(split_part(p_name, ' ', 1), 'spark') AS BIGINT) AS lev
      FROM part ORDER BY p_partkey"""))

  /** Ordered array aggregation: distinct nation keys per market
    * segment as a sorted, comma-joined string (set-aggregate →
    * deterministic scalar — raw collect_list order is engine-defined). */
  private val q48 = Q("q48_array_agg_sorted",
    (s, d) => t(s, d, "customer")
      .groupBy(col("c_mktsegment"))
      .agg(
        array_join(sort_array(collect_set(col("c_nationkey"))), ",").as("nations"),
        count(lit(1)).as("n"))
      .orderBy(col("c_mktsegment")),
    Some("""SELECT c_mktsegment,
      array_to_string(list_sort(list_distinct(list(c_nationkey))), ',') AS nations,
      count(*) AS n
      FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment"""))

  /** Date/time functions: month truncation + parts extraction over the
    * orders timeline (year/quarter/month, formatted month bucket). */
  private val q49 = Q("q49_date_functions",
    (s, d) => t(s, d, "orders")
      .withColumn("ym", date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM"))
      .groupBy(col("ym"))
      .agg(
        count(lit(1)).as("n"),
        r(sum(col("o_totalprice")), 2).as("revenue"),
        min(year(col("o_orderdate"))).cast("long").as("yr"),
        min(quarter(col("o_orderdate"))).cast("long").as("qtr"))
      .orderBy(col("ym")),
    Some("""SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS ym,
      count(*) AS n,
      floor(sum(o_totalprice) * 100.0 + 0.5) / 100.0 AS revenue,
      CAST(min(year(o_orderdate)) AS BIGINT) AS yr,
      CAST(min(quarter(o_orderdate)) AS BIGINT) AS qtr
      FROM orders GROUP BY 1 ORDER BY 1"""))

  /** Frame-edge window functions: first/last/nth value over an
    * explicit full-partition frame (default frames differ subtly across
    * engines — the frame is always spelled out). One row per user. */
  private val q63 = Q("q63_first_last_nth",
    (s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val wAll = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us").desc, col("event_id").desc)
      eventsUs(s, d)
        .withColumn("first_type", first(col("event_type")).over(w))
        .withColumn("last_type", last(col("event_type")).over(w))
        .withColumn("third_value", nth_value(col("value"), 3).over(w))
        .withColumn("rn", row_number().over(wAll))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("first_type"), col("last_type"),
          col("third_value"))
        .orderBy(col("user_id"))
    },
    Some("""WITH x AS (SELECT user_id, event_type, value, event_id, epoch_us(ts) AS ts_us,
        first_value(event_type) OVER w AS first_type,
        last_value(event_type) OVER w AS last_type,
        nth_value(value, 3) OVER w AS third_value,
        row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
      SELECT user_id, first_type, last_type, third_value
      FROM x WHERE rn = 1 ORDER BY user_id"""))

  /** Conditional aggregation: count_if / conditional sums (the FILTER
    * clause family). */
  private val q64 = Q("q64_conditional_agg",
    (s, d) => t(s, d, "events")
      .groupBy(col("event_type"))
      .agg(
        count_if(col("value") > 100).as("n_big"),
        r(sum(when(col("value") > 100, col("value")).otherwise(0.0)), 2).as("sum_big"),
        r(avg(when(col("value") <= 100, col("value"))), 4).as("avg_small"))
      .orderBy(col("event_type")),
    Some("""SELECT event_type,
      count(*) FILTER (value > 100) AS n_big,
      floor(sum(CASE WHEN value > 100 THEN value ELSE 0.0 END) * 100.0 + 0.5) / 100.0 AS sum_big,
      floor(avg(CASE WHEN value <= 100 THEN value END) * 10000.0 + 0.5) / 10000.0 AS avg_small
      FROM events GROUP BY event_type ORDER BY event_type"""))

  /** Exact interpolated percentiles (median + p95) per event_type. */
  private val q27 = Q("q27_percentiles",
    (s, d) => t(s, d, "events")
      .groupBy(col("event_type"))
      .agg(
        r(expr("percentile(value, 0.5)"), 4).as("median_value"),
        r(expr("percentile(value, 0.95)"), 4).as("p95_value"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type")),
    Some("""SELECT event_type,
      floor(quantile_cont(value, 0.5) * 10000.0 + 0.5) / 10000.0 AS median_value,
      floor(quantile_cont(value, 0.95) * 10000.0 + 0.5) / 10000.0 AS p95_value,
      count(*) AS n
      FROM events GROUP BY event_type ORDER BY event_type"""))

  /** G7: scalar math (abs/pow/sqrt/mod/int-div) — reference's
    * `Math.abs/pow/sqrt/round` usage (`ExtractFeature.java:57-77`,
    * `PrepareData.java:44`), incl. the floor-div semantics. */
  private val q15 = Q("q15_scalar_math",
    (s, d) => t(s, d, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        r(sum(abs(col("l_discount") - lit(0.05))), 4).as("sum_abs_dev"),
        r(sum(sqrt(col("l_quantity"))), 4).as("sum_sqrt_qty"),
        r(sum(pow(col("l_discount"), 2)), 4).as("sum_disc_sq"),
        sum(longDiv(col("l_partkey"), 100L)).as("sum_pk_div"),
        sum(pmod(col("l_orderkey"), lit(7L))).as("sum_ok_mod"))
      .orderBy(col("l_returnflag")),
    Some("""SELECT l_returnflag,
      floor(sum(abs(l_discount - 0.05)) * 10000.0 + 0.5) / 10000.0 AS sum_abs_dev,
      floor(sum(sqrt(l_quantity)) * 10000.0 + 0.5) / 10000.0 AS sum_sqrt_qty,
      floor(sum(pow(l_discount, 2)) * 10000.0 + 0.5) / 10000.0 AS sum_disc_sq,
      CAST(sum(l_partkey // 100) AS BIGINT) AS sum_pk_div,
      CAST(sum(((l_orderkey % 7) + 7) % 7) AS BIGINT) AS sum_ok_mod
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** G8: string ops — split/lower/substring/concat (reference's
    * `line.split(",")` CSV handling and label string matching). */
  private val q16 = Q("q16_string_ops",
    (s, d) => t(s, d, "part")
      .select(
        col("p_partkey"),
        split_part(col("p_name"), lit(" "), lit(1)).as("first_word"),
        lower(substring(col("p_brand"), 1, 5)).as("brand_lc"),
        length(col("p_type")).as("type_len"),
        concat_ws("|", col("p_brand"), col("p_type")).as("tagged"))
      .orderBy(col("p_partkey")),
    Some("""SELECT p_partkey,
      split_part(p_name, ' ', 1) AS first_word,
      lower(substring(p_brand, 1, 5)) AS brand_lc,
      length(p_type) AS type_len,
      concat_ws('|', p_brand, p_type) AS tagged
      FROM part ORDER BY p_partkey"""))

  /** F8: label encode — the reference's activity→ordinal `when` chain
    * (`RecognizeActivity.java:187-200`), applied to event_type. */
  private val q17 = Q("q17_label_encode",
    (s, d) => t(s, d, "events")
      .withColumn("label",
        when(col("event_type") === "click", 0.0)
          .when(col("event_type") === "view", 1.0)
          .when(col("event_type") === "purchase", 2.0)
          .when(col("event_type") === "signup", 3.0)
          .when(col("event_type") === "error", 4.0)
          .otherwise(5.0))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("label")),
    Some("""SELECT CAST(CASE event_type WHEN 'click' THEN 0.0 WHEN 'view' THEN 1.0
      WHEN 'purchase' THEN 2.0 WHEN 'signup' THEN 3.0 WHEN 'error' THEN 4.0
      ELSE 5.0 END AS DOUBLE) AS label, count(*) AS n
      FROM events GROUP BY 1 ORDER BY 1"""))

  /** D8: count guard — groups kept only above a support threshold, the
    * reference's `count > 100` gate (`RecognizeActivity.java:74`; its
    * grain is (user, activity) — here event_type so the gate actually
    * fires at the test row counts: user×type groups never reach 100). */
  private val q18 = Q("q18_count_guard_having",
    (s, d) => t(s, d, "events")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), r(sum(col("value")), 2).as("sum_value"))
      .filter(col("n") > 67)
      .orderBy(col("user_id")),
    Some("""SELECT user_id, count(*) AS n,
      floor(sum(value) * 100.0 + 0.5) / 100.0 AS sum_value
      FROM events GROUP BY user_id HAVING count(*) > 67
      ORDER BY user_id"""))

  /** D9/B9: error-rate aggregation — the reference's mispredict ratio
    * (`DecisionTrees.java:39-43`), over a deterministic pseudo-label. */
  private val q19 = Q("q19_error_rate",
    (s, d) => t(s, d, "events")
      .withColumn("pred", when(col("value") > 50, "purchase").otherwise("click"))
      .agg(r(avg(when(col("pred") =!= col("event_type"), 1.0).otherwise(0.0)), 4)
        .as("error_rate"), count(lit(1)).as("n")),
    Some("""SELECT floor(avg(CAST(CASE WHEN (CASE WHEN value > 50 THEN 'purchase' ELSE 'click' END)
      <> event_type THEN 1.0 ELSE 0.0 END AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS error_rate,
      count(*) AS n FROM events"""))

  // ---------------------------------------------------------------- //
  // E: sessionization / windowing (the reference's core query)        //
  // ---------------------------------------------------------------- //

  /** E1/C1: per-key successive-difference (lag), aggregated. Replaces
    * the reference's single-partition zip-shift (`PrepareData.java:17-25`)
    * with a partitioned ordered window; all math is exact long µs. */
  private val q09 = Q("q09_lag_deltas",
    (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      eventsUs(s, d)
        .withColumn("delta", col("ts_us") - lag(col("ts_us"), 1).over(w))
        .filter(col("delta").isNotNull)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_deltas"), sum(col("delta")).as("sum_delta"),
          min(col("delta")).as("min_delta"), max(col("delta")).as("max_delta"))
        .orderBy(col("user_id"))
    },
    Some("""WITH d AS (SELECT user_id,
        epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS delta
      FROM events)
      SELECT user_id, count(*) AS n_deltas, CAST(sum(delta) AS BIGINT) AS sum_delta,
        min(delta) AS min_delta, max(delta) AS max_delta
      FROM d WHERE delta IS NOT NULL GROUP BY user_id ORDER BY user_id"""),
    bench = true)

  /** E2/E3: gap-detection sessionization, one row per session. */
  private val q10 = Q("q10_sessionize",
    (s, d) => Sessionize.sessionBounds(
        eventsUs(s, d), Seq(col("user_id")), col("ts_us"),
        SessionGapUs, WindowWidthUs, tieBreak = Seq(col("event_id")))
      .orderBy(col("user_id"), col("session_id")),
    Some(s"""WITH d AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS delta
      FROM events),
      -- the trailing flag-DESC key makes the cumulative sum TIE-STABLE
      -- under duplicate (ts, event_id) rows (replayed-producer dirt):
      -- the opener (flag 1) sorts first within its tie group, so a
      -- replica always joins its opener's session. Spark evaluates the
      -- lag and the running sum in ONE window pass (positionally
      -- consistent); independent SQL window passes may re-order ties
      -- between passes and split the session without this key.
      s AS (SELECT *, CAST(sum(CASE WHEN delta > ${SessionGapUs} THEN 1 ELSE 0 END)
        OVER (PARTITION BY user_id ORDER BY ts_us, event_id,
          CASE WHEN delta > ${SessionGapUs} THEN 1 ELSE 0 END DESC
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM d)
      SELECT user_id, session_id, min(ts_us) AS session_start, max(ts_us) AS session_end,
        count(*) AS n_rows, (max(ts_us) - min(ts_us)) // ${WindowWidthUs} AS n_windows
      FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id"""),
    bench = true)

  /** E4: global tumbling windows by exact integer floor-div bucketing
    * (1-hour buckets over epoch µs). */
  private val q11 = Q("q11_tumbling_window_agg",
    (s, d) => eventsUs(s, d)
      .withColumn("window_id", longDiv(col("ts_us"), 3600000000L))
      .groupBy(col("event_type"), col("window_id"))
      .agg(count(lit(1)).as("n"), r(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("event_type"), col("window_id")),
    Some("""SELECT event_type, epoch_us(ts) // 3600000000 AS window_id,
      count(*) AS n, floor(sum(value) * 100.0 + 0.5) / 100.0 AS sum_value
      FROM events GROUP BY 1, 2 ORDER BY 1, 2"""),
    bench = true)

  // ---------------------------------------------------------------- //
  // Flagship: full sessionize → window → 11-feature pipeline          //
  // ---------------------------------------------------------------- //

  /** Derived 3-axis accelerometer columns from the events stream: the
    * multipliers are powers of two so the derivation is bit-exact in
    * both engines. */
  private def withAxes(e: DataFrame): DataFrame = e
    .withColumn("ax", col("value"))
    .withColumn("ay", col("value") * 0.5 - 10.0)
    .withColumn("az", lit(20.0) - col("value") * 0.25)

  /** D2-D7 + E1-E4 end to end: the reference's whole
    * `RecognizeActivity` feature job as ONE DataFrame chain. */
  private val q20 = Q("q20_feature_pipeline",
    (s, d) => {
      val feats = Features.pipeline(
        withAxes(eventsUs(s, d)),
        user = "user_id", activity = "event_type", tsName = "ts_us",
        axes = Features.Axes(col("ax"), col("ay"), col("az")),
        gap = SessionGapUs, width = WindowWidthUs,
        tieBreak = Seq(col("event_id")),
        portableVariance = true)
      feats.select(
        col("user_id"), col("event_type"), col("session_id"), col("window_id"),
        col("n_samples"),
        r(col("mean_x"), 4).as("mean_x"),
        r(col("mean_y"), 4).as("mean_y"),
        r(col("mean_z"), 4).as("mean_z"),
        r(col("var_x"), 4).as("var_x"),
        r(col("var_y"), 4).as("var_y"),
        r(col("var_z"), 4).as("var_z"),
        r(col("avg_abs_diff_x"), 4).as("avg_abs_diff_x"),
        r(col("avg_abs_diff_y"), 4).as("avg_abs_diff_y"),
        r(col("avg_abs_diff_z"), 4).as("avg_abs_diff_z"),
        r(col("res"), 4).as("res"),
        r(col("peak_avg_interval"), 4).as("peak_avg_interval"))
        .orderBy(col("user_id"), col("event_type"), col("session_id"), col("window_id"))
    },
    Some(s"""WITH e AS (
        SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us,
          value AS ax, value * 0.5 - 10.0 AS ay, 20.0 - value * 0.25 AS az
        FROM events),
      del AS (SELECT *,
          ts_us - lag(ts_us) OVER (PARTITION BY user_id, event_type ORDER BY ts_us, event_id) AS delta
        FROM e),
      -- flag-DESC: tie-stable session ids under duplicate rows (q10)
      ses AS (SELECT *,
          CAST(sum(CASE WHEN delta > ${SessionGapUs} THEN 1 ELSE 0 END)
            OVER (PARTITION BY user_id, event_type ORDER BY ts_us, event_id,
              CASE WHEN delta > ${SessionGapUs} THEN 1 ELSE 0 END DESC
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        FROM del),
      win AS (SELECT *,
          (ts_us - min(ts_us) OVER (PARTITION BY user_id, event_type, session_id)) // ${WindowWidthUs} AS window_id
        FROM ses),
      sup AS (SELECT *,
          avg(ax) OVER g AS mx, avg(ay) OVER g AS my, avg(az) OVER g AS mz,
          max(ay) OVER g AS max_y
        FROM win
        WINDOW g AS (PARTITION BY user_id, event_type, session_id, window_id)),
      pk AS (SELECT *, CASE WHEN ay > 0.9 * max_y THEN ts_us END AS peak_ts FROM sup),
      pv AS (SELECT *,
          max(peak_ts) OVER (PARTITION BY user_id, event_type, session_id, window_id
            ORDER BY ts_us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_peak
        FROM pk),
      gp AS (SELECT *,
          CASE WHEN peak_ts IS NOT NULL AND peak_ts - prev_peak > 0
            THEN peak_ts - prev_peak END AS peak_gap
        FROM pv)
      SELECT user_id, event_type, session_id, window_id,
        count(*) AS n_samples,
        floor(avg(ax) * 10000.0 + 0.5) / 10000.0 AS mean_x,
        floor(avg(ay) * 10000.0 + 0.5) / 10000.0 AS mean_y,
        floor(avg(az) * 10000.0 + 0.5) / 10000.0 AS mean_z,
        floor((CASE WHEN count(ax) > 1 THEN (sum(ax*ax) - sum(ax)*sum(ax)/count(ax)) / (count(ax) - 1) ELSE 0.0 END) * 10000.0 + 0.5) / 10000.0 AS var_x,
        floor((CASE WHEN count(ay) > 1 THEN (sum(ay*ay) - sum(ay)*sum(ay)/count(ay)) / (count(ay) - 1) ELSE 0.0 END) * 10000.0 + 0.5) / 10000.0 AS var_y,
        floor((CASE WHEN count(az) > 1 THEN (sum(az*az) - sum(az)*sum(az)/count(az)) / (count(az) - 1) ELSE 0.0 END) * 10000.0 + 0.5) / 10000.0 AS var_z,
        floor(avg(abs(ax - mx)) * 10000.0 + 0.5) / 10000.0 AS avg_abs_diff_x,
        floor(avg(abs(ay - my)) * 10000.0 + 0.5) / 10000.0 AS avg_abs_diff_y,
        floor(avg(abs(az - mz)) * 10000.0 + 0.5) / 10000.0 AS avg_abs_diff_z,
        floor(avg(sqrt(ax*ax + ay*ay + az*az)) * 10000.0 + 0.5) / 10000.0 AS res,
        floor(coalesce(avg(peak_gap), 0.0) * 10000.0 + 0.5) / 10000.0 AS peak_avg_interval
      FROM gp
      GROUP BY user_id, event_type, session_id, window_id
      ORDER BY user_id, event_type, session_id, window_id"""),
    bench = true)

  // ---------------------------------------------------------------- //
  // H1/H2: deduplication family (documents table)                     //
  // ---------------------------------------------------------------- //

  /** SQL fragment: the portable 31-polynomial hash of expression `x`
    * (DuckDB dialect) — mirrors `GraftFunctions.polyHash` exactly,
    * INCLUDING the empty string: the engine's fold over zero
    * characters is 0, but DuckDB's `string_split('','')` yields `['']`
    * and `unicode('')` is -1, so the unguarded fold would hash '' to
    * -1 (caught by the round-9 empty-text dirty corpus). */
  private def sqlPolyHash(x: String): String =
    s"CASE WHEN $x = '' THEN 0::BIGINT ELSE list_reduce(list_prepend(0::BIGINT, list_transform(string_split($x,''), c -> unicode(c)::BIGINT)), (h,c) -> (h*31+c) % 1000000007) END"

  /** SQL fragment: the geometric rank of `w` — 1-based lowest-set-bit
    * index, `w = 0` → `maxRho` — mirroring `Sketches.rho`'s exact
    * integer CASE chain term for term. */
  private def sqlRho(w: String, maxRho: Int = 31): String =
    "CASE " + (1 to maxRho).map(i =>
      s"WHEN $w % ${1L << i} = ${1L << (i - 1)} THEN $i").mkString(" ") +
      s" ELSE $maxRho END"

  /** α_m·m² for the m = 64 HLL estimate, computed by the SAME Scala
    * expression `Sketches.hllEstimate` uses so the embedded SQL
    * literal round-trips to the identical double. */
  private val HllAlphaM2B6: Double =
    0.7213 / (1.0 + 1.079 / 64.0) * 64.0 * 64.0

  /** α_m·m² for m = 256 — q157's overlap matrix runs its registers at
    * b = 8: inclusion–exclusion subtracts three ~σ-noisy cardinalities,
    * so the overlap estimator needs σ ≈ 6.5% where the plain distinct
    * count (q154) is honest at 13%. */
  private val HllAlphaM2B8: Double =
    0.7213 / (1.0 + 1.079 / 256.0) * 256.0 * 256.0

  /** SQL fragment: distinct word-`n`-gram shingles of token list `tk`
    * — mirrors `GraftFunctions.shingles` (empty for < n tokens). */
  private def sqlShingles(tk: String, n: Int = 3): String =
    s"list_distinct([array_to_string($tk[i:i+${n - 1}], ' ') for i in range(1, len($tk) - ${n - 2})])"

  /** SQL fragment: sequential left-fold dot product of two `dim`-dim
    * float lists — mirrors `GraftFunctions.dotProduct`. */
  private def sqlDot(a: String, b: String, dim: Int = 64): String =
    s"list_reduce(list_prepend(0.0, list_transform(range(1,${dim + 1}), i -> $a[i]::DOUBLE * $b[i]::DOUBLE)), (x,y) -> x+y)"

  /** SQL fragment: random-hyperplane LSH bucket id of a `dim`-dim
    * float list — mirrors the native `GraftFunctions.lshBucket`
    * (`graft_lsh_bucket`) fold for fold. */
  private def sqlLshBucket(v: String, planes: Int = 8, dim: Int = 64): String =
    s"""CAST(list_sum(list_transform(range(0, $planes), p -> CASE WHEN
      list_reduce(list_prepend(0.0, list_transform(range(1, ${dim + 1}), d ->
        $v[d]::DOUBLE * (((p*37 + d*101 + 17) % 1000)::DOUBLE / 500.0 - 1.0))), (x,y) -> x+y) > 0.0
      THEN (1::BIGINT << p) ELSE 0 END)) AS BIGINT)"""

  /** H1: exact dedup by content hash; keeper = lowest doc_id. */
  private val q30 = Q("q30_dedup_exact",
    (s, d) => Dedup.exact(t(s, d, "documents"), col("doc_id"), col("text"))
      .select(col("doc_id"), col("content_hash"), col("rn"), col("is_dup"))
      .orderBy(col("doc_id")),
    Some("""SELECT doc_id, md5(text) AS content_hash,
      row_number() OVER w AS rn,
      row_number() OVER w > 1 AS is_dup
      FROM documents
      WINDOW w AS (PARTITION BY coalesce(md5(text),
        chr(0) || 'null:' || CAST(doc_id AS VARCHAR)) ORDER BY doc_id)
      ORDER BY doc_id"""))

  /** H2: exact-scored near-dup — word-3-gram shingle Jaccard over
    * language-blocked pairs. */
  private val q31 = Q("q31_dedup_jaccard_pairs",
    (s, d) => Dedup.jaccardPairs(
        Dedup.withShingles(t(s, d, "documents"), col("text"), 3),
        id = "doc_id", blockKey = "lang", threshold = 0.8)
      .withColumn("n_common", col("n_common").cast("long"))
      .orderBy(col("id_a"), col("id_b")),
    Some(s"""WITH sh AS (SELECT doc_id, lang,
        ${sqlShingles("tk")} AS s
      FROM (SELECT doc_id, lang, string_split(text, ' ') AS tk FROM documents))
      SELECT a.lang AS bk, a.doc_id AS id_a, b.doc_id AS id_b,
        len(list_intersect(a.s, b.s)) AS n_common,
        floor((len(list_intersect(a.s, b.s))::DOUBLE
          / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))) * 10000.0 + 0.5) / 10000.0 AS jaccard
      FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
      WHERE len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) > 0
        AND len(list_intersect(a.s, b.s))::DOUBLE
          / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.8
      ORDER BY id_a, id_b"""))

  /** H2: MinHash(16) + LSH(4 bands × 4 rows) candidate pairs — the
    * 100 TB-scale near-dup path (band-bucket equality join, no O(n²)). */
  private val q32 = Q("q32_dedup_minhash_lsh",
    (s, d) => Dedup.lshCandidates(
        Dedup.withLshBands(
          Dedup.withMinHash(t(s, d, "documents"), col("text"), k = 16),
          k = 16, bands = 4),
        id = "doc_id")
      .orderBy(col("id_a"), col("id_b")),
    Some(s"""WITH th AS (SELECT doc_id,
        list_transform(${sqlShingles("tk")}, t -> ${sqlPolyHash("t")}) AS hs
      FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)),
      sig AS (SELECT doc_id,
        list_transform(range(0, 16), i -> list_min(list_transform(hs,
          h -> (h * (2*i + 1) + 1000003 * (i + 1)) % 1000000007))) AS mh
      FROM th),
      bands AS (SELECT doc_id, mh, b,
        list_reduce(list_prepend(0::BIGINT, mh[b*4+1:b*4+4]), (x,y) -> (x*31 + y) % 1000000007) AS bh
      FROM sig, (SELECT unnest(range(0, 4)) AS b))
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
        floor((len(list_filter(range(1, 17), i -> a.mh[i] = b.mh[i]))::DOUBLE / 16.0) * 10000.0 + 0.5) / 10000.0 AS est_jaccard
      FROM bands a JOIN bands b ON a.b = b.b AND a.bh = b.bh AND a.doc_id < b.doc_id
      ORDER BY id_a, id_b"""),
    bench = true)

  /** H2 scale path: LSH candidates → exact Jaccard verify (≥ 0.8).
    * The benchmarked dedup — near-linear, vs q31's quadratic
    * within-block baseline. */
  private val q37 = Q("q37_dedup_lsh_verified",
    (s, d) => Dedup.lshVerifiedPairs(t(s, d, "documents"), "doc_id",
        col("text"), k = 16, bands = 4, shingleN = 3, threshold = 0.8)
      .orderBy(col("id_a"), col("id_b")),
    Some(s"""WITH th AS (SELECT doc_id,
        list_transform(${sqlShingles("tk")}, t -> ${sqlPolyHash("t")}) AS hs
      FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)),
      sig AS (SELECT doc_id,
        list_transform(range(0, 16), i -> list_min(list_transform(hs,
          h -> (h * (2*i + 1) + 1000003 * (i + 1)) % 1000000007))) AS mh
      FROM th),
      bands AS (SELECT doc_id, b,
        list_reduce(list_prepend(0::BIGINT, mh[b*4+1:b*4+4]), (x,y) -> (x*31 + y) % 1000000007) AS bh
      FROM sig, (SELECT unnest(range(0, 4)) AS b)),
      cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b ON a.b = b.b AND a.bh = b.bh AND a.doc_id < b.doc_id),
      sh AS (SELECT doc_id,
        ${sqlShingles("tk")} AS s
      FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)),
      scored AS (SELECT id_a, id_b,
        len(list_intersect(sa.s, sb.s)) AS n_common,
        len(list_intersect(sa.s, sb.s))::DOUBLE
          / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) AS j
      FROM cand JOIN sh sa ON id_a = sa.doc_id JOIN sh sb ON id_b = sb.doc_id)
      SELECT id_a, id_b, n_common,
        floor(j * 10000.0 + 0.5) / 10000.0 AS jaccard
      FROM scored WHERE j >= 0.8 ORDER BY id_a, id_b"""),
    bench = true)

  /** H2: near-dup PAIRS → duplicate CLUSTERS (connected components by
    * min-label propagation) with one keeper per cluster — transitive
    * duplicates (A≈B≈C, A≉C) resolve to a single keeper, which the
    * pairwise q37 output alone cannot express. Oracle: recursive-CTE
    * transitive closure over the same verified pair set. */
  private val q67 = Q("q67_dedup_clusters",
    (s, d) => Dedup.connectedComponents(
        Dedup.lshVerifiedPairs(t(s, d, "documents"), "doc_id", col("text"),
          k = 16, bands = 4, shingleN = 3, threshold = 0.8),
        "id_a", "id_b")
      .select(col("id").as("doc_id"), col("cluster_id"), col("is_keeper"))
      .orderBy(col("doc_id")),
    Some(s"""WITH RECURSIVE th AS (SELECT doc_id,
        list_transform(${sqlShingles("tk")}, t -> ${sqlPolyHash("t")}) AS hs
      FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)),
      sig AS (SELECT doc_id,
        list_transform(range(0, 16), i -> list_min(list_transform(hs,
          h -> (h * (2*i + 1) + 1000003 * (i + 1)) % 1000000007))) AS mh
      FROM th),
      bands AS (SELECT doc_id, b,
        list_reduce(list_prepend(0::BIGINT, mh[b*4+1:b*4+4]), (x,y) -> (x*31 + y) % 1000000007) AS bh
      FROM sig, (SELECT unnest(range(0, 4)) AS b)),
      cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b ON a.b = b.b AND a.bh = b.bh AND a.doc_id < b.doc_id),
      sh AS (SELECT doc_id, ${sqlShingles("tk")} AS s
        FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)),
      pairs AS (SELECT id_a, id_b
        FROM cand JOIN sh sa ON id_a = sa.doc_id JOIN sh sb ON id_b = sb.doc_id
        WHERE len(list_intersect(sa.s, sb.s))::DOUBLE
          / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) >= 0.8),
      und AS (SELECT id_a AS src, id_b AS dst FROM pairs
        UNION ALL SELECT id_b, id_a FROM pairs),
      reach(src, dst) AS (SELECT src, dst FROM und
        UNION SELECT r.src, u.dst FROM reach r JOIN und u ON r.dst = u.src)
      SELECT src AS doc_id, least(src, min(dst)) AS cluster_id,
        src = least(src, min(dst)) AS is_keeper
      FROM reach GROUP BY src ORDER BY doc_id"""),
    bench = true)

  /** H4 + G3 + per-group top-k on a corpus query: per-language token
    * heavy hitters — explode → count → row_number ≤ 5, which Spark's
    * `InferWindowGroupLimit` plans as a Partial `WindowGroupLimit`
    * below the exchange and a Final one above it. Deterministic
    * tie-break: (count desc, token). */
  private val q68 = Q("q68_token_heavy_hitters",
    (s, d) => {
      val counts = t(s, d, "documents")
        .select(col("lang"), explode(tokens(col("text"))).as("token"))
        .groupBy(col("lang"), col("token")).agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("cnt").desc, col("token"))
      counts.withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 5)
        .orderBy(col("lang"), col("rn"))
    },
    Some("""WITH tok AS (SELECT lang, unnest(string_split(text, ' ')) AS token
        FROM documents),
      cnt AS (SELECT lang, token, count(*) AS cnt FROM tok GROUP BY lang, token)
      SELECT lang, token, cnt, rn FROM (
        SELECT lang, token, cnt,
          row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, token) AS rn
        FROM cnt) WHERE rn <= 5 ORDER BY lang, rn"""),
    bench = true)

  /** H2/H4: decontamination — corpus docs sharing ≥ 3 distinct
    * 3-gram shingles with a (deterministically hash-sampled) eval set.
    * Inverted-index join on the shingle, never all-pairs. */
  /** Shared oracle for q69/q85 — the two decontamination paths have an
    * identical output contract (the hashed variant is a lossless prune
    * + the exact pass), so ONE SQL twin checks both. */
  // n_overlap is the DISTINCT-shingle intersection per (doc, eval)
  // pair — set semantics, so the base documents dedupe exact replays
  // (a replayed row adds no evidence; mirrors the operator's
  // countDistinct)
  private val decontamOracleSql: String =
    s"""WITH sh AS (SELECT doc_id, ${sqlShingles("tk")} AS s
        FROM (SELECT doc_id, string_split(text, ' ') AS tk
          FROM (SELECT DISTINCT doc_id, text FROM documents))),
      ev AS (SELECT DISTINCT doc_id FROM documents
        WHERE ${sqlPolyHash("CAST(doc_id AS VARCHAR) || '#graft-sample'")} % 10000 < 1000)
      SELECT c.doc_id AS doc_id, e.doc_id AS eval_id,
        len(list_intersect(c.s, se.s))::BIGINT AS n_overlap
      FROM sh c JOIN ev e ON c.doc_id != e.doc_id
      JOIN sh se ON se.doc_id = e.doc_id
      WHERE len(list_intersect(c.s, se.s)) >= 3
      ORDER BY doc_id, eval_id"""

  private val q69 = Q("q69_decontaminate",
    (s, d) => {
      val docs = t(s, d, "documents")
      val evalSet = graft.operators.Sampling.hashSample(
        docs, col("doc_id"), fraction = 0.1)
      Dedup.decontaminate(docs, evalSet, "doc_id", col("text"),
          shingleN = 3, minOverlap = 3)
        .orderBy(col("doc_id"), col("eval_id"))
    },
    Some(decontamOracleSql),
    bench = true)

  /** H2 at the 100 TB shuffle diet: [[Dedup.decontaminateHashed]] —
    * corpus postings shuffle as 8-byte xxhash64 values, exact
    * string-join re-verification only on the pruned candidate slice.
    * Same output contract as q69, proven by sharing its oracle. */
  private val q85 = Q("q85_decontaminate_hashed",
    (s, d) => {
      val docs = t(s, d, "documents")
      val evalSet = graft.operators.Sampling.hashSample(
        docs, col("doc_id"), fraction = 0.1)
      Dedup.decontaminateHashed(docs, evalSet, "doc_id", col("text"),
          shingleN = 3, minOverlap = 3)
        .orderBy(col("doc_id"), col("eval_id"))
    },
    Some(decontamOracleSql),
    bench = true)

  /** H2: same clusters via the O(log n)-round alternating large-star/
    * small-star algorithm — the adversarial-graph-safe twin of q67,
    * sharing its recursive-CTE oracle (identical output contract). */
  private val q77 = Q("q77_dedup_clusters_star",
    (s, d) => Dedup.connectedComponentsStar(
        Dedup.lshVerifiedPairs(t(s, d, "documents"), "doc_id", col("text"),
          k = 16, bands = 4, shingleN = 3, threshold = 0.8),
        "id_a", "id_b")
      .select(col("id").as("doc_id"), col("cluster_id"), col("is_keeper"))
      .orderBy(col("doc_id")),
    q67.oracle)

  /** H composite: the transitively-correct curation pipeline — q39's
    * pair-based loser removal keeps every LOCAL minimum of the dup
    * graph (a path 2–9–1 keeps both 1 and 2), while this variant
    * clusters first and keeps exactly ONE doc per component, then
    * quality-gates and fingerprints the survivors. */
  private val q78 = Q("q78_curation_clustered",
    (s, d) => {
      val docs = t(s, d, "documents")
      val keepers = Dedup.exact(docs, col("doc_id"), col("text"))
        .filter(!col("is_dup"))
      val losers = Dedup.connectedComponents(
          Dedup.lshVerifiedPairs(docs, "doc_id", col("text"),
            k = 16, bands = 4, shingleN = 3, threshold = 0.8),
          "id_a", "id_b")
        .filter(!col("is_keeper")).select(col("id").as("_loser"))
      val surviving = keepers
        .join(losers, col("doc_id") === col("_loser"), "left_anti")
      TextAnalysis.withFingerprints(
          TextAnalysis.withTextStats(surviving, col("text")), col("text"))
        .filter(col("quality_score") >= 0.3)
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          r(col("quality_score"), 4).as("quality_score"), col("fingerprint"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH RECURSIVE keepers AS (
        SELECT doc_id, lang, text FROM (
          SELECT doc_id, lang, text,
            row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
          FROM documents) WHERE rn = 1),
      th AS (SELECT doc_id,
        list_transform(${sqlShingles("tk")}, t -> ${sqlPolyHash("t")}) AS hs
      FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)),
      sig AS (SELECT doc_id,
        list_transform(range(0, 16), i -> list_min(list_transform(hs,
          h -> (h * (2*i + 1) + 1000003 * (i + 1)) % 1000000007))) AS mh
      FROM th),
      bands AS (SELECT doc_id, b,
        list_reduce(list_prepend(0::BIGINT, mh[b*4+1:b*4+4]), (x,y) -> (x*31 + y) % 1000000007) AS bh
      FROM sig, (SELECT unnest(range(0, 4)) AS b)),
      cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b ON a.b = b.b AND a.bh = b.bh AND a.doc_id < b.doc_id),
      sh AS (SELECT doc_id, ${sqlShingles("tk")} AS s
        FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)),
      pairs AS (SELECT id_a, id_b
        FROM cand JOIN sh sa ON id_a = sa.doc_id JOIN sh sb ON id_b = sb.doc_id
        WHERE len(list_intersect(sa.s, sb.s))::DOUBLE
          / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) >= 0.8),
      und AS (SELECT id_a AS src, id_b AS dst FROM pairs
        UNION ALL SELECT id_b, id_a FROM pairs),
      reach(src, dst) AS (SELECT src, dst FROM und
        UNION SELECT r.src, u.dst FROM reach r JOIN und u ON r.dst = u.src),
      comp AS (SELECT src AS v, least(src, min(dst)) AS cid
        FROM reach GROUP BY src),
      losers AS (SELECT v AS _loser FROM comp WHERE v != cid),
      surviving AS (SELECT k.* FROM keepers k
        WHERE NOT EXISTS (SELECT 1 FROM losers WHERE _loser = k.doc_id)),
      stats AS (SELECT doc_id, lang, text,
          len(string_split(text, ' ')) AS n_tokens,
          len(list_distinct(string_split(text, ' '))) AS n_distinct,
          len(list_filter(string_split(text, ' '),
            x -> x IN ('the','a','of','and','to','in','is'))) AS n_stop
        FROM surviving),
      scored AS (SELECT doc_id, lang, n_tokens,
          least(1.0, n_tokens / 200.0) * 0.5 + (n_distinct::DOUBLE / n_tokens) * 0.3
            + (n_stop::DOUBLE / n_tokens) * 0.2 AS q,
          ${sqlPolyHash("text")} AS fingerprint
        FROM stats)
      SELECT doc_id, lang, n_tokens,
        floor(q * 10000.0 + 0.5) / 10000.0 AS quality_score, fingerprint
      FROM scored WHERE q >= 0.3 ORDER BY doc_id"""),
    bench = true)

  /** Binned range join (point-in-interval): events.value against
    * overlapping value bands. The naive `p >= lo AND p < hi` join has
    * no equality conjunct → nested-loop; the bin rewrite joins on
    * floor-div bin ids + residual filter (RangeJoin.pointInInterval),
    * plan-asserted nested-loop-free. */
  private val q79 = Q("q79_range_join_binned",
    (s, d) => {
      val bands = s.range(0, 12).select(col("id").as("band_id"),
        (col("id") * 40.0).as("lo"), (col("id") * 40.0 + 60.0).as("hi"))
      graft.operators.RangeJoin.pointInInterval(
          t(s, d, "events").select(col("event_id"), col("value")),
          col("value"), bands, col("lo"), col("hi"), binWidth = 50.0)
        .select(col("event_id"), col("band_id"), col("value"))
        .orderBy(col("event_id"), col("band_id"))
    },
    Some("""WITH bands AS (SELECT b AS band_id, b * 40.0 AS lo, b * 40.0 + 60.0 AS hi
        FROM (SELECT unnest(range(0, 12)) AS b))
      SELECT e.event_id, b.band_id, e.value
      FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
      ORDER BY event_id, band_id"""),
    bench = true)

  /** Binned interval-overlap join: event value-intervals
    * [value, value+20) against overlapping bands — exactly-once via
    * the first-overlapping-bin filter, no dedup shuffle, no
    * nested-loop plan. */
  private val q80 = Q("q80_interval_overlap_binned",
    (s, d) => {
      val bands = s.range(0, 12).select(col("id").as("band_id"),
        (col("id") * 40.0).as("lo"), (col("id") * 40.0 + 60.0).as("hi"))
      graft.operators.RangeJoin.intervalOverlap(
          t(s, d, "events").select(col("event_id"), col("value")),
          col("value"), col("value") + 20.0,
          bands, col("lo"), col("hi"), binWidth = 50.0)
        .select(col("event_id"), col("band_id"), col("value"))
        .orderBy(col("event_id"), col("band_id"))
    },
    Some("""WITH bands AS (SELECT b AS band_id, b * 40.0 AS lo, b * 40.0 + 60.0 AS hi
        FROM (SELECT unnest(range(0, 12)) AS b))
      SELECT e.event_id, b.band_id, e.value
      FROM events e JOIN bands b
        ON e.value < b.hi AND b.lo < e.value + 20.0
      ORDER BY event_id, band_id"""),
    bench = true)

  /** H4: repetition quality signal — duplicate word-2-gram fraction
    * from the native shingle expression plus size arithmetic; a pure
    * per-row map (no per-gram explode). */
  private val q75 = Q("q75_repetition",
    (s, d) => TextAnalysis.withRepetition(t(s, d, "documents"), col("text"), n = 2)
      .select(col("doc_id"), col("n_grams"), col("n_distinct_grams"),
        r(col("rep_ratio"), 4).as("rep_ratio"))
      .orderBy(col("doc_id")),
    Some(s"""WITH g AS (SELECT doc_id,
        greatest(len(string_split(text, ' ')) - 1, 0)::BIGINT AS n_grams,
        coalesce(len(${sqlShingles("string_split(text, ' ')", 2)}), 0)::BIGINT AS n_distinct_grams
      FROM documents)
      SELECT doc_id, n_grams, n_distinct_grams,
        floor((CASE WHEN n_grams = 0 THEN 0.0
          ELSE 1.0 - n_distinct_grams::DOUBLE / n_grams END) * 10000.0 + 0.5)
          / 10000.0 AS rep_ratio
      FROM g ORDER BY doc_id"""))

  /** H4 curation: per-source document caps (domain caps) — keep the 20
    * highest-quality docs per source, rank ties broken by doc_id. The
    * row_number filter plans as a Partial/Final `WindowGroupLimit`
    * pair: the shuffle carries each map partition's top 20 per source,
    * never a source's whole document set. */
  private val q76 = Q("q76_source_caps",
    (s, d) => {
      val scored = TextAnalysis.withTextStats(t(s, d, "documents"), col("text"))
      val w = Window.partitionBy(col("source"))
        .orderBy(col("quality_score").desc, col("doc_id"))
      scored.withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 20)
        .select(col("source"), col("doc_id"),
          r(col("quality_score"), 4).as("quality_score"), col("rn"))
        .orderBy(col("source"), col("rn"))
    },
    Some("""WITH t2 AS (SELECT doc_id, source, string_split(text, ' ') AS tk
        FROM documents),
      st AS (SELECT doc_id, source,
          len(tk) AS n_tokens, len(list_distinct(tk)) AS n_distinct,
          len(list_filter(tk, x -> x IN ('the','a','of','and','to','in','is'))) AS n_stop
        FROM t2),
      sc AS (SELECT doc_id, source,
          least(1.0, n_tokens / 200.0) * 0.5 + (n_distinct::DOUBLE / n_tokens) * 0.3
            + (n_stop::DOUBLE / n_tokens) * 0.2 AS q
        FROM st),
      rk AS (SELECT source, doc_id, q,
          row_number() OVER (PARTITION BY source ORDER BY q DESC, doc_id) AS rn
        FROM sc)
      SELECT source, doc_id, floor(q * 10000.0 + 0.5) / 10000.0 AS quality_score, rn
      FROM rk WHERE rn <= 20 ORDER BY source, rn"""))

  /** H2: SimHash(24-bit) near-dup pairs, Hamming ≤ 6, language-blocked. */
  private val q33 = Q("q33_dedup_simhash_pairs",
    (s, d) => Dedup.simHashPairs(
        Dedup.withSimHash(t(s, d, "documents"), col("text"), bits = 24),
        id = "doc_id", blockKey = "lang", maxHamming = 6)
      .orderBy(col("id_a"), col("id_b")),
    Some(s"""WITH th AS (SELECT doc_id, lang,
        list_transform(${sqlShingles("tk")}, t -> ${sqlPolyHash("t")}) AS hs
      FROM (SELECT doc_id, lang, string_split(text, ' ') AS tk FROM documents)),
      sh AS (SELECT doc_id, lang,
        CAST(list_sum(list_transform(range(0, 24), b ->
          CASE WHEN 2 * len(list_filter(hs, h -> ((h // (1::BIGINT << b)) % 2) = 1)) > len(hs)
            THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT) AS sim
      FROM th WHERE len(hs) > 0)
      SELECT a.lang AS bk, a.doc_id AS id_a, b.doc_id AS id_b,
        CAST(bit_count(xor(a.sim, b.sim)) AS BIGINT) AS hamming
      FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
      WHERE bit_count(xor(a.sim, b.sim)) <= 6
      ORDER BY id_a, id_b"""))

  /** H2: embedding-cosine near-dup pairs, label-blocked. */
  private val q34 = Q("q34_dedup_embedding_pairs",
    (s, d) => Dedup.embeddingPairs(
        emb(s, d), id = "vec_id", vec = "embedding",
        blockKey = "label", threshold = 0.4)
      .withColumn("bk", col("bk").cast("long"))
      .orderBy(col("id_a"), col("id_b")),
    Some(s"""WITH p AS (SELECT a.label AS bk, a.vec_id AS id_a, b.vec_id AS id_b,
        ${sqlDot("a.embedding", "b.embedding")} AS dt,
        sqrt(${sqlDot("a.embedding", "a.embedding")}) * sqrt(${sqlDot("b.embedding", "b.embedding")}) AS nn
      FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id),
      c AS (SELECT CAST(bk AS BIGINT) AS bk, id_a, id_b,
        CASE WHEN nn = 0.0 THEN 0.0 ELSE dt / nn END AS cos FROM p)
      SELECT bk, id_a, id_b, floor(cos * 10000.0 + 0.5) / 10000.0 AS cos
      FROM c WHERE cos >= 0.4 ORDER BY id_a, id_b"""))

  /** H2 at scale: embedding near-dup blocked by the vectors' OWN
    * geometry — LSH hyperplane buckets (codegen'd) as the block key
    * instead of a natural attribute, so block sizes are ~n/256 whatever
    * the label/language skew. The 100 TB twin of q34. */
  private val q54 = Q("q54_dedup_embedding_lsh",
    (s, d) => Dedup.embeddingPairsLsh(
        emb(s, d), id = "vec_id", vec = "embedding",
        planes = 8, dim = 64, threshold = 0.4)
      .orderBy(col("id_a"), col("id_b")),
    Some(s"""WITH b AS (SELECT vec_id, embedding, ${sqlLshBucket("e0")} AS bk
        FROM (SELECT vec_id, embedding, embedding AS e0 FROM embeddings)),
      p AS (SELECT a.bk, a.vec_id AS id_a, b2.vec_id AS id_b,
          ${sqlDot("a.embedding", "b2.embedding")} AS dt,
          sqrt(${sqlDot("a.embedding", "a.embedding")}) * sqrt(${sqlDot("b2.embedding", "b2.embedding")}) AS nn
        FROM b a JOIN b b2 ON a.bk = b2.bk AND a.vec_id < b2.vec_id),
      c AS (SELECT bk, id_a, id_b, CASE WHEN nn = 0.0 THEN 0.0 ELSE dt / nn END AS cos FROM p)
      SELECT bk, id_a, id_b, floor(cos * 10000.0 + 0.5) / 10000.0 AS cos
      FROM c WHERE cos >= 0.4 ORDER BY id_a, id_b"""),
    bench = true)

  /** Multi-probe twin of q54: Hamming-1 probe fan-out recovers pairs a
    * single hyperplane split, still as one equality join (probes
    * multiply the probing side ×9, never the pair count). */
  private val q55 = Q("q55_dedup_embedding_multiprobe",
    (s, d) => Dedup.embeddingPairsLshMultiProbe(
        emb(s, d), id = "vec_id", vec = "embedding",
        planes = 8, dim = 64, threshold = 0.4)
      .orderBy(col("id_a"), col("id_b")),
    Some(s"""WITH b0 AS (SELECT vec_id, embedding, ${sqlLshBucket("e0")} AS bk0
        FROM (SELECT vec_id, embedding, embedding AS e0 FROM embeddings)),
      pa AS (SELECT vec_id AS id_a, embedding AS va,
          unnest(list_prepend(bk0,
            list_transform(range(0, 8), p -> xor(bk0, (1::BIGINT << p))))) AS bk
        FROM b0),
      pb AS (SELECT vec_id AS id_b, embedding AS vb, bk0 AS bk FROM b0),
      p AS (SELECT id_a, id_b, ${sqlDot("va", "vb")} AS dt,
          sqrt(${sqlDot("va", "va")}) * sqrt(${sqlDot("vb", "vb")}) AS nn
        FROM pa JOIN pb ON pa.bk = pb.bk AND id_a < id_b),
      c AS (SELECT id_a, id_b, CASE WHEN nn = 0.0 THEN 0.0 ELSE dt / nn END AS cos FROM p)
      SELECT id_a, id_b, floor(cos * 10000.0 + 0.5) / 10000.0 AS cos
      FROM c WHERE cos >= 0.4 ORDER BY id_a, id_b"""))

  /** H4: PII redaction — deterministic synthetic PII appended to every
    * document so each row exercises all three patterns; the redaction
    * chain (emails → IPv4 → phone) is a pure codegen'd regexp_replace
    * pipeline behind the scan. Regexes live in the RE2 ∩ java.regex
    * subset so both engines replace byte-for-byte identically. */
  private val q56 = Q("q56_pii_redact",
    (s, d) => t(s, d, "documents").select(
        col("doc_id"),
        TextAnalysis.redact(concat_ws(" ", col("text"),
          lit("contact:"),
          concat(lit("user"), col("doc_id"), lit("@example.com")),
          lit("10.0.0.1 555-123-4567"))).as("clean_text"))
      .orderBy(col("doc_id")),
    Some(s"""SELECT doc_id,
      regexp_replace(regexp_replace(regexp_replace(
        concat_ws(' ', text, 'contact:', 'user' || doc_id || '@example.com',
          '10.0.0.1 555-123-4567'),
        '${TextAnalysis.EmailRe}', '<EMAIL>', 'g'),
        '${TextAnalysis.Ipv4Re}', '<IP>', 'g'),
        '${TextAnalysis.PhoneRe}', '<PHONE>', 'g') AS clean_text
      FROM documents ORDER BY doc_id"""),
    bench = true)

  /** H4: document chunking — 50-token windows advancing by 40 (10-token
    * overlap), trailing partial kept. Chunk text compared by portable
    * hash (the driver hashes values anyway; this keeps the dump small). */
  private val q57 = Q("q57_chunking",
    (s, d) => graft.operators.Chunking.chunk(
        t(s, d, "documents").select(col("doc_id"), col("text")),
        col("text"), chunkTokens = 50, overlap = 10)
      .select(col("doc_id"), col("chunk_idx"), col("chunk_tokens"),
        polyHash(col("chunk_text")).as("chunk_hash"))
      .orderBy(col("doc_id"), col("chunk_idx")),
    Some(s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      starts AS (SELECT doc_id, t,
          unnest(range(0, CASE WHEN len(t) <= 50 THEN 1 ELSE ((len(t) - 50 + 39) // 40) + 1 END)) AS chunk_idx
        FROM tk),
      ch AS (SELECT doc_id, chunk_idx,
          t[chunk_idx*40 + 1 : chunk_idx*40 + 50] AS ct
        FROM starts)
      SELECT doc_id, chunk_idx, len(ct) AS chunk_tokens,
        ${sqlPolyHash("array_to_string(ct, ' ')")} AS chunk_hash
      FROM ch WHERE len(ct) > 0 ORDER BY doc_id, chunk_idx"""))

  /** H4: sequence packing (concat-and-cut) — chunks ordered within 8
    * deterministic shards, cumulative token count, bins cut every 512
    * tokens. Sharding keeps the packing window hash-partitioned (no
    * global single-partition window); bins are (shard, bin_id). */
  private val q58 = Q("q58_packing",
    (s, d) => {
      val C = graft.operators.Chunking
      val chunks = C.chunk(
          t(s, d, "documents").select(col("doc_id"), col("text")),
          col("text"), chunkTokens = 50, overlap = 10)
        .withColumn("shard", pmod(col("doc_id"), lit(8L)))
      val packed = C.packSequential(chunks, col("chunk_tokens"), budget = 512,
        order = Seq(col("doc_id"), col("chunk_idx")),
        shard = Seq(col("shard")))
      C.binStats(packed, col("chunk_tokens"),
          keys = Seq(col("shard"), col("bin_id")))
        .orderBy(col("shard"), col("bin_id"))
    },
    Some("""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      starts AS (SELECT doc_id, t,
          unnest(range(0, CASE WHEN len(t) <= 50 THEN 1 ELSE ((len(t) - 50 + 39) // 40) + 1 END)) AS chunk_idx
        FROM tk),
      ch AS (SELECT doc_id, chunk_idx,
          len(t[chunk_idx*40 + 1 : chunk_idx*40 + 50]) AS n
        FROM starts WHERE len(t[chunk_idx*40 + 1 : chunk_idx*40 + 50]) > 0),
      p AS (SELECT ((doc_id % 8) + 8) % 8 AS shard, doc_id, chunk_idx, n,
          sum(n) OVER (PARTITION BY ((doc_id % 8) + 8) % 8 ORDER BY doc_id, chunk_idx
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM ch)
      SELECT shard, CAST((cum - n) // 512 AS BIGINT) AS bin_id,
        count(*) AS n_chunks, CAST(sum(n) AS BIGINT) AS n_tokens
      FROM p GROUP BY shard, bin_id ORDER BY shard, bin_id"""))

  /** H4: deterministic hash-keyed 20% subsample — the reproducible
    * replacement for seed/partitioning-dependent `sample()`. A pure
    * pushed-down filter; the oracle selects the identical row set from
    * the portable hash. */
  private val q59 = Q("q59_hash_sample",
    (s, d) => graft.operators.Sampling.hashSample(
        t(s, d, "documents").select(col("doc_id"), col("lang")),
        col("doc_id"), fraction = 0.2)
      .orderBy(col("doc_id")),
    Some(s"""SELECT doc_id, lang FROM documents
      WHERE ${sqlPolyHash("CAST(doc_id AS VARCHAR) || '#graft-sample'")} % 10000 < 2000
      ORDER BY doc_id"""))

  /** H4: stratified deterministic sampling — per-language keep rates
    * (downsample the dominant stratum, keep all of a rare one, drop
    * the rest), plus the deterministic train/test assignment from the
    * same hash. */
  private val q60 = Q("q60_stratified_sample",
    (s, d) => graft.operators.Sampling.withSplit(
        graft.operators.Sampling.stratifiedHashSample(
          t(s, d, "documents").select(col("doc_id"), col("lang")),
          col("doc_id"), col("lang"),
          Map("en" -> 0.5, "fr" -> 1.0, "de" -> 0.1)),
        col("doc_id"), trainFraction = 0.6)
      .orderBy(col("doc_id")),
    Some(s"""WITH b AS (SELECT doc_id, lang,
        ${sqlPolyHash("CAST(doc_id AS VARCHAR) || '#graft-sample'")} % 10000 AS bk
      FROM documents)
      SELECT doc_id, lang,
        CASE WHEN bk < 6000 THEN 'train' ELSE 'test' END AS split
      FROM b
      WHERE bk < CASE lang WHEN 'en' THEN 5000 WHEN 'fr' THEN 10000
        WHEN 'de' THEN 1000 ELSE 0 END
      ORDER BY doc_id"""))

  /** H multimodal: deterministic frame sampling over binary payloads —
    * every 4th 256-byte frame, trailing partial kept. The explicit
    * ASCII guard (byte length = char length) makes the oracle's
    * string-slice twin EXACT semantics, not a data accident: DuckDB
    * cannot slice BLOBs, so the oracle slices the text and hashes its
    * UTF-8 bytes — identical to the binary slice only when 1 char =
    * 1 byte, which the guard enforces on both sides. */
  private val q66 = Q("q66_frame_sample",
    (s, d) => Multimodal.frameSample(
        Multimodal.withPayload(
          t(s, d, "documents").select(col("doc_id"), col("text")), "text")
          .filter(length(col("payload")) === length(col("text"))),
        frameBytes = 256, everyN = 4)
      .select(col("doc_id"), col("frame_idx"), col("frame_len"), col("frame_md5"))
      .orderBy(col("doc_id"), col("frame_idx")),
    Some("""WITH d AS (SELECT doc_id, text FROM documents
        WHERE octet_length(encode(text)) = length(text)),
      f AS (SELECT doc_id, text, length(text) AS n FROM d WHERE length(text) > 0),
      idx AS (SELECT doc_id, text,
          unnest(range(0, (n + 255) // 256, 4)) AS frame_idx FROM f),
      fr AS (SELECT doc_id, frame_idx,
          substring(text, CAST(frame_idx*256 + 1 AS INT), 256) AS frame FROM idx)
      SELECT doc_id, frame_idx, CAST(length(frame) AS BIGINT) AS frame_len,
        md5(frame) AS frame_md5
      FROM fr ORDER BY doc_id, frame_idx"""),
    bench = true)

  // ---------------------------------------------------------------- //
  // H3: similarity search                                             //
  // ---------------------------------------------------------------- //

  /** H3: exact brute-force top-5 cosine neighbors for 20 query vectors
    * (broadcast queries × streamed corpus + per-query rank). */
  private val q35 = Q("q35_similarity_topk",
    (s, d) => {
      val emb = Queries.emb(s, d)
      Similarity.bruteForceTopK(
        emb.filter(col("vec_id") < 20)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec")),
        emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec")),
        k = 5)
        .orderBy(col("q_id"), col("rank"))
    },
    Some(s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings
        WHERE vec_id < 20 AND embedding IS NOT NULL),
      c AS (SELECT vec_id AS c_id, embedding AS cv FROM embeddings
        WHERE embedding IS NOT NULL),
      p AS (SELECT q_id, c_id, ${sqlDot("qv", "cv")} AS dt,
        sqrt(${sqlDot("qv", "qv")}) * sqrt(${sqlDot("cv", "cv")}) AS nn
      FROM q, c WHERE q_id <> c_id),
      sc AS (SELECT q_id, c_id, CASE WHEN nn = 0.0 THEN 0.0 ELSE dt / nn END AS cos FROM p),
      rk AS (SELECT q_id, c_id, cos,
        row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank FROM sc)
      SELECT q_id, rank, c_id, floor(cos * 10000.0 + 0.5) / 10000.0 AS cos
      FROM rk WHERE rank <= 5 ORDER BY q_id, rank"""),
    bench = true)

  /** H3: LSH-bucketed ANN (8 random hyperplanes → 256 buckets;
    * candidates only from the query's bucket, then exact re-rank) —
    * the scale path that replaces the cross product with an equality
    * join on bucket ids. */
  private val q36 = Q("q36_similarity_lsh_topk",
    (s, d) => {
      val emb = Queries.emb(s, d)
      Similarity.lshTopK(
        emb.filter(col("vec_id") < 20)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec")),
        emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec")),
        k = 5, planes = 8, dim = 64)
        .orderBy(col("q_id"), col("rank"))
    },
    Some(s"""WITH bq AS (SELECT vec_id AS q_id, embedding AS qv,
        CAST(list_sum(list_transform(range(0, 8), p -> CASE WHEN
          list_reduce(list_prepend(0.0, list_transform(range(1, 65), d ->
            qv0[d]::DOUBLE * (((p*37 + d*101 + 17) % 1000)::DOUBLE / 500.0 - 1.0))), (x,y) -> x+y) > 0.0
          THEN (1::BIGINT << p) ELSE 0 END)) AS BIGINT) AS bucket
      FROM (SELECT vec_id, embedding, embedding AS qv0 FROM embeddings
        WHERE vec_id < 20 AND embedding IS NOT NULL)),
      bc AS (SELECT vec_id AS c_id, embedding AS cv,
        CAST(list_sum(list_transform(range(0, 8), p -> CASE WHEN
          list_reduce(list_prepend(0.0, list_transform(range(1, 65), d ->
            cv0[d]::DOUBLE * (((p*37 + d*101 + 17) % 1000)::DOUBLE / 500.0 - 1.0))), (x,y) -> x+y) > 0.0
          THEN (1::BIGINT << p) ELSE 0 END)) AS BIGINT) AS bucket
      FROM (SELECT vec_id, embedding, embedding AS cv0 FROM embeddings
        WHERE embedding IS NOT NULL)),
      p AS (SELECT q_id, c_id, bq.bucket, ${sqlDot("qv", "cv")} AS dt,
        sqrt(${sqlDot("qv", "qv")}) * sqrt(${sqlDot("cv", "cv")}) AS nn
      FROM bq JOIN bc ON bq.bucket = bc.bucket AND q_id <> c_id),
      sc AS (SELECT q_id, c_id, bucket, CASE WHEN nn = 0.0 THEN 0.0 ELSE dt / nn END AS cos FROM p),
      rk AS (SELECT q_id, c_id, bucket, cos,
        row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank FROM sc)
      SELECT q_id, rank, c_id, bucket, floor(cos * 10000.0 + 0.5) / 10000.0 AS cos
      FROM rk WHERE rank <= 5 ORDER BY q_id, rank"""),
    bench = true)

  /** H3: multi-probe LSH ANN — the query probes its bucket plus all
    * Hamming-1 neighbors (9 probes at 8 planes), recovering recall
    * single-probe loses, still as equality joins. */
  private val q65 = Q("q65_similarity_multiprobe_topk",
    (s, d) => {
      val emb = Queries.emb(s, d)
      Similarity.lshMultiProbeTopK(
        emb.filter(col("vec_id") < 20)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec")),
        emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec")),
        k = 5, planes = 8, dim = 64)
        .orderBy(col("q_id"), col("rank"))
    },
    Some(s"""WITH bq0 AS (SELECT vec_id AS q_id, embedding AS qv,
        CAST(list_sum(list_transform(range(0, 8), p -> CASE WHEN
          list_reduce(list_prepend(0.0, list_transform(range(1, 65), d ->
            qv0[d]::DOUBLE * (((p*37 + d*101 + 17) % 1000)::DOUBLE / 500.0 - 1.0))), (x,y) -> x+y) > 0.0
          THEN (1::BIGINT << p) ELSE 0 END)) AS BIGINT) AS bucket0
      FROM (SELECT vec_id, embedding, embedding AS qv0 FROM embeddings
        WHERE vec_id < 20 AND embedding IS NOT NULL)),
      bq AS (SELECT q_id, qv,
        unnest(list_prepend(bucket0,
          list_transform(range(0, 8), p -> xor(bucket0, (1::BIGINT << p))))) AS bucket
      FROM bq0),
      bc AS (SELECT vec_id AS c_id, embedding AS cv,
        CAST(list_sum(list_transform(range(0, 8), p -> CASE WHEN
          list_reduce(list_prepend(0.0, list_transform(range(1, 65), d ->
            cv0[d]::DOUBLE * (((p*37 + d*101 + 17) % 1000)::DOUBLE / 500.0 - 1.0))), (x,y) -> x+y) > 0.0
          THEN (1::BIGINT << p) ELSE 0 END)) AS BIGINT) AS bucket
      FROM (SELECT vec_id, embedding, embedding AS cv0 FROM embeddings
        WHERE embedding IS NOT NULL)),
      p AS (SELECT q_id, c_id, ${sqlDot("qv", "cv")} AS dt,
        sqrt(${sqlDot("qv", "qv")}) * sqrt(${sqlDot("cv", "cv")}) AS nn
      FROM bq JOIN bc ON bq.bucket = bc.bucket AND q_id <> c_id),
      sc AS (SELECT q_id, c_id, CASE WHEN nn = 0.0 THEN 0.0 ELSE dt / nn END AS cos FROM p),
      rk AS (SELECT q_id, c_id, cos,
        row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank FROM sc)
      SELECT q_id, rank, c_id, floor(cos * 10000.0 + 0.5) / 10000.0 AS cos
      FROM rk WHERE rank <= 5 ORDER BY q_id, rank"""),
    bench = true)

  /** H3: IVF ANN on the INTEGER coarse quantizer
    * ([[Similarity.ivfTopKQuant]], 16 lists × 2 probes, exact
    * quantized-L2 scoring over the probed lists' members) — round 12
    * rebases the IVF flagship from the float-centroid spark.ml
    * quantizer onto q179/q180's integer k-means core, so coarse
    * k-means, list filing, probe selection, and the (dist², id) rank
    * ALL hash-replay in SQL: the full oracle row where the float
    * variant could only gate recall in-plan. That float variant
    * ([[Similarity.ivfTopKWithRecall]] with its `assert_true` recall
    * gate) stays in the library, spec-pinned (ApproxRecallSpec) —
    * the in-plan-gate PATTERN is its contract; the driver-checked
    * IVF is this one. No PQ compression in the scoring (that is
    * q180's trade), so recall loss comes only from unprobed lists. */
  private val q38 = Q("q38_similarity_ivf_topk",
    (s, d) => {
      val e = emb(s, d)
      Similarity.ivfTopKQuant(
        e.filter(col("vec_id") < 20)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec")),
        e.select(col("vec_id").as("c_id"), col("embedding").as("c_vec")),
        k = 5, nLists = 16, nProbe = 2, dim = 64, iters = 2,
        seed = "ivf12")
        .orderBy(col("q_id"), col("rank"))
    },
    Some {
      val dxx = sqlDot("x.v", "x.v"); val dxc = sqlDot("x.v", "c.c")
      val dcc = sqlDot("c.c", "c.c")
      s"""WITH ${sqlKmeansChain("co", 1, 64, 16, "ivf12-coarse")},
      docl AS (SELECT x.vec_id AS c_id, c.cid AS list_id
        FROM xqco x CROSS JOIN cbco c
        QUALIFY row_number() OVER (PARTITION BY x.vec_id
          ORDER BY ($dxx - 2.0 * $dxc + $dcc), c.cid) = 1),
      qpr AS (SELECT x.vec_id AS q_id, c.cid AS list_id
        FROM xqco x CROSS JOIN cbco c WHERE x.vec_id < 20
        QUALIFY row_number() OVER (PARTITION BY x.vec_id
          ORDER BY ($dxx - 2.0 * $dxc + $dcc), c.cid) <= 2),
      pairs AS (SELECT q.q_id, d.c_id FROM docl d JOIN qpr q USING (list_id)
        WHERE q.q_id <> d.c_id),
      sc AS (SELECT p.q_id, p.c_id,
          (${sqlDot("q.v", "q.v")} - 2.0 * ${sqlDot("q.v", "c.v")}
            + ${sqlDot("c.v", "c.v")}) AS d2
        FROM pairs p JOIN xqco q ON q.vec_id = p.q_id
          JOIN xqco c ON c.vec_id = p.c_id),
      rk AS (SELECT q_id, c_id, d2,
        row_number() OVER (PARTITION BY q_id ORDER BY d2, c_id) AS rank
        FROM sc)
      SELECT q_id, rank, c_id, CAST(d2 AS BIGINT) AS dist2
      FROM rk WHERE rank <= 5 ORDER BY q_id, rank"""
    })

  /** Composite curation pipeline — the operators composed the way a
    * training-data pipeline actually chains them: exact-dedup keepers →
    * near-dup losers removed (LSH-verified pairs: the higher doc_id of
    * each pair drops) → text-quality gate → fingerprinted survivors.
    * One DataFrame chain, each stage reusing the library operators. */
  private val q39 = Q("q39_curation_pipeline",
    (s, d) => {
      val docs = t(s, d, "documents")
      val keepers = Dedup.exact(docs, col("doc_id"), col("text"))
        .filter(!col("is_dup"))
      val nearDupLosers = Dedup.lshVerifiedPairs(docs, "doc_id", col("text"),
          k = 16, bands = 4, shingleN = 3, threshold = 0.8)
        .select(col("id_b").as("_loser")).distinct()
      val surviving = keepers
        .join(nearDupLosers, col("doc_id") === col("_loser"), "left_anti")
      TextAnalysis.withFingerprints(
          TextAnalysis.withTextStats(surviving, col("text")), col("text"))
        .filter(col("quality_score") >= 0.3)
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          r(col("quality_score"), 4).as("quality_score"), col("fingerprint"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH keepers AS (
        SELECT doc_id, lang, text FROM (
          SELECT doc_id, lang, text,
            row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
          FROM documents) WHERE rn = 1),
      th AS (SELECT doc_id,
        list_transform(${sqlShingles("tk")}, t -> ${sqlPolyHash("t")}) AS hs
      FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)),
      sig AS (SELECT doc_id,
        list_transform(range(0, 16), i -> list_min(list_transform(hs,
          h -> (h * (2*i + 1) + 1000003 * (i + 1)) % 1000000007))) AS mh
      FROM th),
      bands AS (SELECT doc_id, b,
        list_reduce(list_prepend(0::BIGINT, mh[b*4+1:b*4+4]), (x,y) -> (x*31 + y) % 1000000007) AS bh
      FROM sig, (SELECT unnest(range(0, 4)) AS b)),
      cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b ON a.b = b.b AND a.bh = b.bh AND a.doc_id < b.doc_id),
      sh AS (SELECT doc_id, ${sqlShingles("tk")} AS s
        FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)),
      losers AS (SELECT DISTINCT id_b AS _loser
        FROM cand JOIN sh sa ON id_a = sa.doc_id JOIN sh sb ON id_b = sb.doc_id
        WHERE len(list_intersect(sa.s, sb.s))::DOUBLE
          / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) >= 0.8),
      surviving AS (SELECT k.* FROM keepers k
        WHERE NOT EXISTS (SELECT 1 FROM losers WHERE _loser = k.doc_id)),
      stats AS (SELECT doc_id, lang, text,
          len(string_split(text, ' ')) AS n_tokens,
          len(list_distinct(string_split(text, ' '))) AS n_distinct,
          len(list_filter(string_split(text, ' '),
            x -> x IN ('the','a','of','and','to','in','is'))) AS n_stop
        FROM surviving),
      scored AS (SELECT doc_id, lang, n_tokens,
          least(1.0, n_tokens / 200.0) * 0.5 + (n_distinct::DOUBLE / n_tokens) * 0.3
            + (n_stop::DOUBLE / n_tokens) * 0.2 AS q,
          ${sqlPolyHash("text")} AS fingerprint
        FROM stats)
      SELECT doc_id, lang, n_tokens,
        floor(q * 10000.0 + 0.5) / 10000.0 AS quality_score, fingerprint
      FROM scored WHERE q >= 0.3 ORDER BY doc_id"""),
    bench = true)

  // ---------------------------------------------------------------- //
  // H4: text analysis                                                 //
  // ---------------------------------------------------------------- //

  /** H4: per-document token/char stats + composite quality score. */
  private val q40 = Q("q40_text_stats",
    (s, d) => TextAnalysis.withTextStats(t(s, d, "documents"), col("text"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct_tokens"),
        col("n_punct"), col("n_stopwords"),
        r(col("ttr"), 4).as("ttr"),
        r(col("stop_ratio"), 4).as("stop_ratio"),
        r(col("quality_score"), 4).as("quality_score"))
      .orderBy(col("doc_id")),
    Some("""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS tk FROM documents),
      st AS (SELECT doc_id,
        len(tk) AS n_tokens,
        len(list_distinct(tk)) AS n_distinct_tokens,
        len(regexp_extract_all(text, '[.,;:!?]')) AS n_punct,
        len(list_filter(tk, x -> x IN ('the','a','of','and','to','in','is'))) AS n_stopwords
      FROM t)
      SELECT doc_id, n_tokens, n_distinct_tokens, n_punct, n_stopwords,
        floor((n_distinct_tokens::DOUBLE / n_tokens) * 10000.0 + 0.5) / 10000.0 AS ttr,
        floor((n_stopwords::DOUBLE / n_tokens) * 10000.0 + 0.5) / 10000.0 AS stop_ratio,
        floor((least(1.0, n_tokens / 200.0) * 0.5 + (n_distinct_tokens::DOUBLE / n_tokens) * 0.3
          + (n_stopwords::DOUBLE / n_tokens) * 0.2) * 10000.0 + 0.5) / 10000.0 AS quality_score
      FROM st ORDER BY doc_id"""),
    bench = true)

  /** H4: stopword-overlap language ID, reported as a confusion matrix
    * against the labeled lang column. */
  private val q41 = Q("q41_langid_confusion",
    (s, d) => t(s, d, "documents")
      .withColumn("pred_lang", TextAnalysis.langId(col("text")))
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("pred_lang")),
    Some("""WITH t AS (SELECT lang, string_split(text, ' ') AS tk FROM documents),
      sc AS (SELECT lang,
        len(list_filter(tk, x -> x IN ('the','a','of','and','to'))) AS s_en,
        len(list_filter(tk, x -> x IN ('de','la','el','en','y'))) AS s_es,
        len(list_filter(tk, x -> x IN ('der','die','das','und','ist'))) AS s_de,
        len(list_filter(tk, x -> x IN ('le','la','de','et','les'))) AS s_fr
      FROM t)
      SELECT lang, CASE
        WHEN s_en IS NULL THEN NULL
        WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
        WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
        WHEN s_de >= s_fr THEN 'de'
        ELSE 'fr' END AS pred_lang, count(*) AS n
      FROM sc GROUP BY 1, 2 ORDER BY lang, pred_lang"""))

  /** H4: document fingerprints — rolling polynomial hash + 1-hash
    * min-shingle sketch. */
  private val q42 = Q("q42_fingerprints",
    (s, d) => TextAnalysis.withFingerprints(t(s, d, "documents"), col("text"))
      .select(col("doc_id"), col("fingerprint"), col("min_shingle_fp"))
      .orderBy(col("doc_id")),
    Some(s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS tk FROM documents)
      SELECT doc_id,
        CASE WHEN text IS NULL THEN NULL
          ELSE ${sqlPolyHash("text")} END AS fingerprint,
        list_min(list_transform(
          ${sqlShingles("tk")},
          s -> ${sqlPolyHash("s")})) AS min_shingle_fp
      FROM t ORDER BY doc_id"""))

  /** H4: token counting — whitespace, BPE-ish regex pre-split, and the
    * chars/4 rule of thumb. */
  private val q43 = Q("q43_token_counts",
    (s, d) => TextAnalysis.withTokenCounts(t(s, d, "documents"), col("text"))
      .select(col("doc_id"), col("n_ws_tokens"), col("n_bpe_tokens"),
        col("est_tokens_len4"))
      .orderBy(col("doc_id")),
    Some("""SELECT doc_id,
      len(string_split(text, ' ')) AS n_ws_tokens,
      len(regexp_extract_all(text, '\w+|[^\w\s]')) AS n_bpe_tokens,
      CAST(ceil(length(text) / 4.0) AS BIGINT) AS est_tokens_len4
      FROM documents ORDER BY doc_id"""))

  // ---------------------------------------------------------------- //
  // H: multimodal column plumbing                                     //
  // ---------------------------------------------------------------- //

  /** Multimodal metadata over opaque binary payloads: byte length,
    * digest, deterministic pseudo decode attributes (decode itself is
    * the stubbed mapPartitions path in operators.Multimodal). */
  private val q50 = Q("q50_multimodal_meta",
    (s, d) => Multimodal.withPayloadMeta(
        Multimodal.withPayload(t(s, d, "documents"), "text"))
      .select(col("doc_id"), col("byte_len"), col("content_md5"),
        col("fake_width"), col("fake_height"), col("fake_n_frames"))
      .orderBy(col("doc_id")),
    Some(s"""WITH t AS (SELECT doc_id, text,
        CASE WHEN text IS NULL THEN NULL
          ELSE ${sqlPolyHash("text")} END AS ph FROM documents)
      SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        md5(text) AS content_md5,
        64 + ph % 1857 AS fake_width,
        64 + (ph // 1857) % 1017 AS fake_height,
        1 + ph % 30 AS fake_n_frames
      FROM t ORDER BY doc_id"""))

  // ---------------------------------------------------------------- //
  // E/H5: sliding event-time windows                                  //
  // ---------------------------------------------------------------- //

  /** H5: sliding window (1 h size, 30 min slide) — each event lands in
    * exactly two windows, generated by an explode over the hop index
    * (the batch twin of Structured Streaming's sliding `window()`). */
  private val q61 = Q("q61_sliding_window_agg",
    (s, d) => eventsUs(s, d)
      .withColumn("hop", explode(sequence(lit(0), lit(1))))
      .withColumn("w_start",
        (longDiv(col("ts_us"), 1800000000L) - col("hop")) * 1800000000L)
      .groupBy(col("event_type"), col("w_start"))
      .agg(count(lit(1)).as("n"), r(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("event_type"), col("w_start")),
    Some("""SELECT event_type, (epoch_us(ts) // 1800000000 - k) * 1800000000 AS w_start,
      count(*) AS n, floor(sum(value) * 100.0 + 0.5) / 100.0 AS sum_value
      FROM events, (SELECT unnest(range(0, 2)) AS k)
      GROUP BY 1, 2 ORDER BY 1, 2"""),
    bench = true)

  /** Multimodal decode path, HASH-CHECKED: the partition-batched
    * decoder runs for real (`javax.imageio` dispatch, stub fallback for
    * text), and its per-doc byte metadata is oracle-twinned. Same ASCII
    * guard as q66 (byte length = char length) so DuckDB — which cannot
    * iterate BLOB bytes — reproduces `mean_byte` exactly from per-char
    * code points. The decoded 8-dim feature stays test-covered
    * (MultimodalImageSpec / TextMultimodalSpec), not oracle-covered. */
  private val q51 = Q("q51_multimodal_decode",
    (s, d) => {
      val docs = Multimodal.withPayload(t(s, d, "documents"), "text")
        .filter(length(col("payload")) === length(col("text")))
      Multimodal.decodeFeatures(docs)
        .select(col("doc_id"), col("byte_len"),
          r(col("mean_byte"), 4).as("mean_byte"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH d AS (SELECT doc_id, text FROM documents
        WHERE octet_length(encode(text)) = length(text))
      SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        CASE WHEN length(text) = 0 THEN 0.0
          ELSE floor(list_avg(list_transform(regexp_extract_all(text, '(?s).'),
            c -> unicode(c))) * 10000 + 0.5) / 10000.0
        END AS mean_byte
      FROM d ORDER BY doc_id"""),
    bench = true)

  /** H multimodal: partition-batched resize, HASH-CHECKED. Text
    * payloads are not decodable images, so every row rides the stride
    * decimation path — whose byte selection IS SQL-expressible under
    * the q66/q51 ASCII guard (1 char = 1 byte): DuckDB rebuilds the
    * decimated string position by position and md5s it. The `codec`
    * column doubles as an oracle-checked assertion that the
    * `javax.imageio` dispatch never misfires on non-image bytes (real
    * image payloads are exercised by MultimodalImageSpec). */
  private val q81 = Q("q81_multimodal_resize",
    (s, d) => {
      val docs = Multimodal.withPayload(t(s, d, "documents"), "text")
        .filter(length(col("payload")) === length(col("text")))
      Multimodal.resize(docs, targetW = 16, targetH = 16)
        .select(col("doc_id"), col("src_len"), col("codec"),
          col("resized_len"), col("resized_md5"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents
        WHERE octet_length(encode(text)) = length(text)),
      dec AS (SELECT doc_id, n,
        CASE WHEN n <= 256 THEN text
          ELSE list_aggregate(list_transform(range(0, 256),
            i -> substring(text, CAST((i * n) // 256 AS INT) + 1, 1)),
            'string_agg', '')
        END AS rz
      FROM d)
      SELECT doc_id, CAST(n AS BIGINT) AS src_len, 'stride' AS codec,
        CAST(length(rz) AS BIGINT) AS resized_len, md5(rz) AS resized_md5
      FROM dec ORDER BY doc_id"""),
    bench = true)

  // ---------------------------------------------------------------- //
  // E (streaming twin): native session_window                         //
  // ---------------------------------------------------------------- //

  /** E3 via Spark's native `session_window` (the Structured Streaming
    * operator, exercised in batch): a session closes when no event
    * arrives within the gap; end = last event + gap. Boundary law
    * (verified empirically): a delta EXACTLY equal to the gap still
    * MERGES — the oracle's new-session test is strict `delta > gap`. */
  private val q62 = Q("q62_session_window_native",
    (s, d) => graft.streaming.EventStreams.withEventTime(t(s, d, "events"))
      .groupBy(session_window(col("event_time"),
        s"${SessionGapUs / 60000000L} minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("s_start_us"),
        unix_micros(col("session_window.end")).as("s_end_us"),
        col("n"))
      .orderBy(col("user_id"), col("s_start_us")),
    Some(s"""WITH d AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS delta
      FROM events),
      -- flag-DESC: tie-stable session ids under duplicate rows (q10)
      s AS (SELECT *, CAST(sum(CASE WHEN delta > ${SessionGapUs} THEN 1 ELSE 0 END)
        OVER (PARTITION BY user_id ORDER BY ts_us, event_id,
          CASE WHEN delta > ${SessionGapUs} THEN 1 ELSE 0 END DESC
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
      FROM d)
      SELECT user_id, min(ts_us) AS s_start_us, max(ts_us) + ${SessionGapUs} AS s_end_us,
        count(*) AS n
      FROM s GROUP BY user_id, sid ORDER BY user_id, s_start_us"""),
    bench = true)

  // ---------------------------------------------------------------- //
  // F: ML train/eval (no SQL twin — rows-only checks)                 //
  // ---------------------------------------------------------------- //

  private val EventVocab = Seq("click", "error", "purchase", "signup", "view")

  /** Labeled feature table for the classifiers: the flagship feature
    * pipeline + F8 ordinal labels. Cached per query run (each model
    * training iterates over it repeatedly). */
  private def mlFeatures(s: SparkSession, d: String): DataFrame =
    Features.pipeline(
      withAxes(eventsUs(s, d)),
      user = "user_id", activity = "event_type", tsName = "ts_us",
      axes = Features.Axes(col("ax"), col("ay"), col("az")),
      gap = SessionGapUs, width = WindowWidthUs,
      tieBreak = Seq(col("event_id")))
      .withColumn("label", graft.ml.Models.encodeLabel(col("event_type"), EventVocab))

  /** Cache the feature table only for the duration of training (the
    * evaluation is eager), then release — five ML queries in one
    * Verify session must not pin five copies of the pipeline. */
  private def trainQuery(s: SparkSession, d: String, name: String,
      stage: org.apache.spark.ml.Estimator[_ <: org.apache.spark.ml.Model[_]])
      : DataFrame = {
    import s.implicits._
    val feats = mlFeatures(s, d).cache()
    val e = try graft.ml.Models.trainEval(feats, stage)
    finally feats.unpersist()
    Seq((name, e.nTrain, e.nTest, math.floor(e.accuracy * 10000.0 + 0.5) / 10000.0,
      math.floor(e.errorRate * 10000.0 + 0.5) / 10000.0))
      .toDF("model", "n_train", "n_test", "accuracy", "error_rate")
  }

  /** F2: decision tree (gini, depth 9, bins 32) on the 11 features. */
  private val q70 = Q("q70_ml_decision_tree",
    (s, d) => trainQuery(s, d, "decision_tree", graft.ml.Models.decisionTree),
    None)

  /** F3: random forest (10 trees, seed 12345). */
  private val q71 = Q("q71_ml_random_forest",
    (s, d) => trainQuery(s, d, "random_forest", graft.ml.Models.randomForest),
    None)

  /** F5: multinomial logistic regression. */
  private val q72 = Q("q72_ml_logistic_regression",
    (s, d) => trainQuery(s, d, "logistic_regression", graft.ml.Models.logisticRegression),
    None)

  /** F6: naive Bayes (gaussian — accelerometer-style features are
    * negative; see Models scaladoc). */
  private val q73 = Q("q73_ml_naive_bayes",
    (s, d) => trainQuery(s, d, "naive_bayes", graft.ml.Models.naiveBayes),
    None)

  /** F7 + A7/A8: model persistence round-trip then batch scoring —
    * save, load, transform, report per-class prediction counts
    * (materialized eagerly so the cache can be released). */
  private val q74 = Q("q74_ml_save_load_predict",
    (s, d) => {
      import s.implicits._
      val feats = mlFeatures(s, d).cache()
      try {
        val e = graft.ml.Models.trainEval(feats, graft.ml.Models.decisionTree)
        val tmp = java.nio.file.Files.createTempDirectory("graft_model_")
        try {
          val reloaded = graft.ml.Models.saveLoad(e.model, tmp.resolve("dt").toString)
          // score the observed slice: an all-null window has no signal
          // to score (and would crash the assembler, by contract)
          val counts = reloaded.transform(graft.ml.Models.observed(feats))
            .groupBy(col("prediction")).agg(count(lit(1)).as("n"))
            .orderBy(col("prediction"))
            .as[(Double, Long)].collect().toSeq
          counts.toDF("prediction", "n")
        } finally {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(tmp).iterator().asScala.toSeq.reverse
            .foreach(java.nio.file.Files.deleteIfExists(_))
        }
      } finally feats.unpersist()
    },
    None)

  /** F+: seeded k-fold model selection over the tree depth — the
    * model-selection surface the reference lacked (one unseeded fit
    * per model). Small grid/folds: selection = folds × grid
    * distributed fits. Rows-only (CV internals aren't
    * SQL-expressible). */
  /** F+/H4+: fastText-style quality classifier
    * ([[graft.ml.Models.trainTextClassifier]]) — hashed
    * unigram+bigram features into binomial LR, trained to recognize
    * the English slice, reported as a confusion matrix over the whole
    * corpus. The learned curation filter (GPT-3-lineage classifier
    * filtering) beside q109's fixed DSIR ratio. Rows-only (LBFGS
    * training isn't SQL-expressible); the separability and accuracy
    * contracts live in MlClassifierSpec. */
  private val q118 = Q("q118_ml_quality_classifier",
    (s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("lang"), col("text"))
      val (_, scored) = graft.ml.Models.trainTextClassifier(
        docs, col("text"), (col("lang") === "en").cast("double"))
      scored.groupBy(col("label"), col("prediction"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("label"), col("prediction"))
    },
    None)

  /** F+/H4: the ORACLE-CHECKED feature table behind q118's quality
    * classifier. q118's LBFGS training is rows-only forever, but its
    * INPUT — per-document label + the fastText-style unigram+bigram
    * token stream ([[graft.ml.Models.withClassifierTokens]]) — is pure
    * expression work, so this query pins it cross-engine: token counts
    * plus a portable 31-poly hash of the exact joined token stream.
    * Shrinks the unverified surface of q118 to training internals. */
  private val q152 = Q("q152_clf_feature_table",
    (s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("lang"), col("text"))
      val prepared = graft.ml.Models.withClassifierTokens(
        docs.withColumn("label", (col("lang") === lit("en")).cast("double")),
        col("text"))
      // |clf_toks| = n unigrams + (n-1) bigrams = 2n-1 (or 0 for null
      // text), so n recovers as (|clf_toks|+1) div 2 — no second split
      // of the text (withClassifierTokens warns against exactly that)
      val nUni = graft.functions.GraftFunctions.longDiv(
        size(col("clf_toks")).cast("long") + 1L, 2L)
      val joined = array_join(col("clf_toks"), " ")
      prepared.select(col("doc_id"), col("label"),
          nUni.as("n_unigrams"),
          (size(col("clf_toks")).cast("long") - nUni).as("n_bigrams"),
          when(joined === "", 0L)
            .otherwise(graft.functions.GraftFunctions.polyHash(joined))
            .as("clf_hash"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH t AS (SELECT doc_id,
        (lang = 'en')::INT::DOUBLE AS label,
        CASE WHEN text IS NULL THEN []::VARCHAR[]
          ELSE string_split(text, ' ') END AS toks FROM documents),
      b AS (SELECT doc_id, label, toks,
        CASE WHEN len(toks) >= 2
          THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])
          ELSE []::VARCHAR[] END AS bigrams FROM t),
      j AS (SELECT doc_id, label,
        CAST(len(toks) AS BIGINT) AS n_unigrams,
        CAST(len(bigrams) AS BIGINT) AS n_bigrams,
        array_to_string(list_concat(toks, bigrams), ' ') AS clf FROM b)
      SELECT doc_id, label, n_unigrams, n_bigrams,
        CASE WHEN clf = '' THEN 0::BIGINT
          ELSE ${sqlPolyHash("clf")} END AS clf_hash
      FROM j ORDER BY doc_id"""))

  /** H2+: cross-document repeated-substring detection
    * ([[TextAnalysis.sharedSpans]]) — the exact-substring dedup signal
    * (Lee et al. 2022): every maximal token span of ≥ 8 tokens whose
    * 5-grams each appear in ≥ 2 distinct documents, with the span text
    * reconstructed from the gram chain's overlap (never a corpus
    * re-join). The oracle reconstructs the same spans by slicing the
    * original token list, so agreement certifies the chain-overlap
    * reconstruction too. */
  private val q153 = Q("q153_shared_spans",
    (s, d) => TextAnalysis.sharedSpans(
        t(s, d, "documents"), col("doc_id"), col("text"),
        n = 5, minDocs = 2L, minSpanTokens = 8)
      .orderBy(col("doc_id"), col("start_pos")),
    // rid = per-row identity: df counts stored rows (a replayed row
    // counts again — q103's law) while the span table is per DOC (the
    // operator dedupes (doc, pos) in-plan, so one span row per island
    // however many times the row was replayed)
    Some("""WITH tk AS MATERIALIZED (SELECT row_number() OVER () AS rid,
          doc_id, string_split(text, ' ') AS t FROM documents),
      ng AS (SELECT rid, doc_id, p, array_to_string(t[p:p+4], ' ') AS g
             FROM tk, unnest(range(1, len(t) - 3)) AS u(p)),
      fr AS (SELECT g FROM (SELECT DISTINCT rid, g FROM ng)
             GROUP BY g HAVING count(*) >= 2),
      sh AS (SELECT DISTINCT ng.doc_id, ng.p FROM ng JOIN fr USING (g)),
      isl AS (SELECT doc_id, p,
          p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp FROM sh),
      runs AS (SELECT doc_id, min(p) AS sp, max(p) - min(p) + 5 AS st,
          count(*) AS ngr FROM isl GROUP BY doc_id, grp)
      SELECT r.doc_id, CAST(r.sp - 1 AS BIGINT) AS start_pos,
        CAST(r.st AS BIGINT) AS span_tokens, CAST(r.ngr AS BIGINT) AS n_grams,
        array_to_string(t.t[r.sp : r.sp + r.st - 1], ' ') AS span_text
      FROM runs r JOIN (SELECT DISTINCT doc_id, t FROM tk) t USING (doc_id)
      WHERE r.st >= 8 ORDER BY doc_id, start_pos"""),
    bench = true)

  /** D+ sketches: HLL-style register distinct sketch
    * ([[Sketches.hllRegisters]]/[[Sketches.hllEstimate]]) — the
    * constant-size (m = 64 registers) twin of q127's KMV estimator on
    * the identical per-source distinct-shingle cardinality task, so
    * the two mergeable distinct sketches are directly comparable in
    * one artifact. The oracle replays the quadratic decorrelation
    * mix, bucket = g mod m, the trailing-zero geometric rank, every
    * register max, and the exact dyadic 2^(−r) sum; the raw-branch
    * estimate is bit-portable (the
    * ln small-range branch never fires at shingle cardinalities).
    * m = 64 gives σ ≈ 1.04/√64 = 13%; the 0.35 gate is ~2.7σ. */
  private val q154 = Q("q154_source_distinct_hll",
    (s, d) => {
      val b = 6
      val sh = OpUtils.barrier(t(s, d, "documents")
        .select(col("source"), explode(shingles(tokens(col("text")), 3)).as("ng"))
        .select(col("source"), polyHash(col("ng")).as("h")).distinct())
      val est = graft.operators.Sketches.hllEstimate(
        graft.operators.Sketches.hllRegisters(sh, col("source"), col("h"), b), b)
      val exact = sh.groupBy(col("source")).agg(count(lit(1)).as("exact_distinct"))
      est.join(broadcast(exact), col("grp") === col("source"))
        .select(col("source"), r(col("est_distinct"), 2).as("est_distinct"),
          col("exact_distinct"),
          (abs(r(col("est_distinct"), 2) / col("exact_distinct") - 1.0) <= 0.35)
            .as("within_bound"))
        .orderBy(col("source"))
    },
    Some(s"""WITH sh AS (SELECT DISTINCT source, ${sqlPolyHash("ng")} AS h
        FROM (SELECT source, unnest(${sqlShingles("tk")}) AS ng
          FROM (SELECT source, string_split(text, ' ') AS tk FROM documents))),
      mx AS (SELECT source, (h*h + 3*h + 7) % 1000000007 AS g FROM sh),
      reg AS (SELECT source, g % 64 AS bucket, max(${sqlRho("(g // 64)")}) AS r
        FROM mx GROUP BY source, g % 64),
      agg AS (SELECT source,
          sum(1.0 / CAST(1::BIGINT << r AS DOUBLE)) + (64.0 - count(*)) AS s,
          64.0 - count(*) AS zeros FROM reg GROUP BY source),
      raw AS (SELECT source, ${HllAlphaM2B6} / s AS raw, zeros FROM agg),
      est AS (SELECT source, CASE WHEN zeros > 0 AND raw <= 160.0
          THEN 64.0 * ln(64.0 / zeros) ELSE raw END AS e FROM raw),
      ex AS (SELECT source, count(*)::BIGINT AS exact_distinct
        FROM sh GROUP BY source)
      SELECT e.source, floor(e.e * 100 + 0.5) / 100.0 AS est_distinct,
        x.exact_distinct,
        abs(floor(e.e * 100 + 0.5) / 100.0 / x.exact_distinct - 1.0) <= 0.35
          AS within_bound
      FROM est e JOIN ex x USING (source) ORDER BY e.source"""),
    bench = true)   // round-10 rotation: never-benched heavy

  /** H+ graph: synchronous label-propagation communities
    * ([[Graph.labelPropagation]], 4 rounds) over the link graph — the
    * parameter-free community detector; deterministic by the
    * max-count/min-label sync rule. The oracle unrolls all 4 rounds as
    * MATERIALIZED CTEs (the q140 discipline — plain CTEs would
    * re-inline the chain exponentially). */
  private val q155 = Q("q155_label_propagation",
    (s, d) => graft.operators.Graph.labelPropagation(
        linkEdges(s, d), col("src"), col("dst"), rounds = 4)
      .select(col("id").as("doc_id"), col("label"))
      .orderBy(col("doc_id")),
    Some(lpaOracle(rounds = 4)),
    bench = true)

  /** H+ graph: HITS hubs/authorities ([[Graph.hits]], 2 iterations,
    * L1 normalization — rational arithmetic, no cross-libm sqrt) on
    * the directed link graph, the bipartite-reinforcement complement
    * to q96's PageRank. Normalization-sum FP order differs between
    * engines by ~1e-16 relative — six orders below the r(·,8) step
    * (the q99 argument). */
  private val q156 = Q("q156_hits",
    (s, d) => graft.operators.Graph.hits(
        linkEdges(s, d), col("src"), col("dst"), iterations = 2)
      .select(col("id").as("doc_id"),
        r(col("hub"), 8).as("hub"), r(col("auth"), 8).as("auth"))
      .orderBy(col("doc_id")),
    Some(hitsOracle(iterations = 2)),
    bench = true)   // round-10 rotation: never-benched heavy

  /** D+ sketches: source-overlap matrix by HLL inclusion–exclusion
    * ([[Sketches.hllPairUnion]] + [[Sketches.hllEstimate]]) — the
    * third overlap estimator beside q107's exact counts and q124's
    * KMV, and the one only the register representation enables: set
    * UNION is cell-wise register max, so every pairwise |A ∪ B| (and
    * J = (|A|+|B|−|A∪B|)/|A∪B|) comes from the per-source register
    * tables alone — no posting self-join, no corpus rescans, merge
    * algebra all the way down. Runs at b = 8 (m = 256, σ ≈ 6.5%), not
    * q154's b = 6: inclusion–exclusion differences three noisy
    * cardinalities, and m = 64 was PROBED and REJECTED for this task
    * (measured max |est − exact| = 0.29 on near-disjoint pairs vs
    * 0.25 asked). Estimates ride the same exact-dyadic raw branch as
    * q154, so the whole matrix is bit-portable; the exact branch
    * reuses q124's projection rewrite. */
  private val q157 = Q("q157_source_overlap_hll",
    (s, d) => {
      val b = 8
      val sh = OpUtils.barrier(t(s, d, "documents")
        .select(col("source"), explode(shingles(tokens(col("text")), 3)).as("ng"))
        .select(col("source"), polyHash(col("ng")).as("h")).distinct())
      // registers feed the per-source AND the pair-union estimates
      val regs = OpUtils.barrier(
        graft.operators.Sketches.hllRegisters(sh, col("source"), col("h"), b))
      val sEst = graft.operators.Sketches.hllEstimate(regs, b)
      val uEst = graft.operators.Sketches.hllEstimate(
        graft.operators.Sketches.hllPairUnion(regs), b,
        "est_union", Seq("grp_a", "grp_b"))
      val sizes = sh.groupBy(col("source")).agg(count(lit(1)).as("n"))
      val srcSets = sh.groupBy(col("h"))
        .agg(array_sort(collect_set(col("source"))).as("srcs"))
      val inter = srcSets.select(explode(flatten(transform(col("srcs"), (a, i) =>
          transform(slice(col("srcs"), i + lit(2),
              greatest(size(col("srcs")) - i - 1, lit(0))),
            bb => struct(a.as("sa"), bb.as("sb")))))).as("p"))
        .groupBy(col("p.sa").as("sa"), col("p.sb").as("sb"))
        .agg(count(lit(1)).as("shared"))
      uEst
        .join(broadcast(sEst.select(col("grp").as("grp_a"),
          col("est_distinct").as("est_a"))), Seq("grp_a"))
        .join(broadcast(sEst.select(col("grp").as("grp_b"),
          col("est_distinct").as("est_b"))), Seq("grp_b"))
        // inclusion–exclusion can go (slightly) negative when the
        // union estimate overshoots a near-disjoint pair — clamp to
        // the domain, as for any Jaccard
        .withColumn("est_jaccard", greatest(
          (col("est_a") + col("est_b") - col("est_union")) / col("est_union"),
          lit(0.0)))
        .join(inter,
          col("grp_a") === col("sa") && col("grp_b") === col("sb"), "left")
        .join(broadcast(sizes.select(col("source").as("_s1"), col("n").as("na"))),
          col("grp_a") === col("_s1"))
        .join(broadcast(sizes.select(col("source").as("_s2"), col("n").as("nb"))),
          col("grp_b") === col("_s2"))
        .withColumn("shared", coalesce(col("shared"), lit(0L)))
        .withColumn("_exact",
          col("shared").cast("double") / (col("na") + col("nb") - col("shared")))
        .select(col("grp_a").as("source_a"), col("grp_b").as("source_b"),
          r(col("est_jaccard"), 4).as("est_jaccard"),
          r(col("_exact"), 4).as("exact_jaccard"),
          (abs(col("est_jaccard") - col("_exact")) <= 0.25).as("within_bound"))
        .orderBy(col("source_a"), col("source_b"))
    },
    Some(s"""WITH sh AS (SELECT DISTINCT source, ${sqlPolyHash("ng")} AS h
        FROM (SELECT source, unnest(${sqlShingles("tk")}) AS ng
          FROM (SELECT source, string_split(text, ' ') AS tk FROM documents))),
      mx AS (SELECT source, (h*h + 3*h + 7) % 1000000007 AS g FROM sh),
      reg AS (SELECT source, g % 256 AS bucket, max(${sqlRho("(g // 256)")}) AS r
        FROM mx GROUP BY source, g % 256),
      agg AS (SELECT source,
          sum(1.0 / CAST(1::BIGINT << r AS DOUBLE)) + (256.0 - count(*)) AS s,
          256.0 - count(*) AS zeros FROM reg GROUP BY source),
      est AS (SELECT source, CASE WHEN zeros > 0 AND ${HllAlphaM2B8} / s <= 640.0
          THEN 256.0 * ln(256.0 / zeros) ELSE ${HllAlphaM2B8} / s END AS e FROM agg),
      pr AS (SELECT a.source AS ga, b.source AS gb
        FROM (SELECT DISTINCT source FROM reg) a
        JOIN (SELECT DISTINCT source FROM reg) b ON a.source < b.source),
      ureg AS (SELECT pr.ga, pr.gb, reg.bucket, max(reg.r) AS r
        FROM pr JOIN reg ON reg.source = pr.ga OR reg.source = pr.gb
        GROUP BY pr.ga, pr.gb, reg.bucket),
      uagg AS (SELECT ga, gb,
          sum(1.0 / CAST(1::BIGINT << r AS DOUBLE)) + (256.0 - count(*)) AS s,
          256.0 - count(*) AS zeros FROM ureg GROUP BY ga, gb),
      uest AS (SELECT ga, gb, CASE WHEN zeros > 0 AND ${HllAlphaM2B8} / s <= 640.0
          THEN 256.0 * ln(256.0 / zeros) ELSE ${HllAlphaM2B8} / s END AS eu FROM uagg),
      jac AS (SELECT u.ga, u.gb,
          greatest((ea.e + eb.e - u.eu) / u.eu, 0.0) AS ej
        FROM uest u JOIN est ea ON ea.source = u.ga
        JOIN est eb ON eb.source = u.gb),
      sz AS (SELECT source, count(*)::BIGINT AS n FROM sh GROUP BY source),
      inter AS (SELECT x.source AS ga, y.source AS gb, count(*)::BIGINT AS shared
        FROM sh x JOIN sh y ON x.h = y.h AND x.source < y.source
        GROUP BY 1, 2)
      SELECT j.ga AS source_a, j.gb AS source_b,
        floor(j.ej * 10000 + 0.5) / 10000.0 AS est_jaccard,
        floor(coalesce(i.shared, 0)::DOUBLE
          / (sa.n + sb.n - coalesce(i.shared, 0)) * 10000 + 0.5) / 10000.0
          AS exact_jaccard,
        abs(j.ej - coalesce(i.shared, 0)::DOUBLE
          / (sa.n + sb.n - coalesce(i.shared, 0))) <= 0.25 AS within_bound
      FROM jac j
      LEFT JOIN inter i ON i.ga = j.ga AND i.gb = j.gb
      JOIN sz sa ON sa.source = j.ga JOIN sz sb ON sb.source = j.gb
      ORDER BY source_a, source_b"""),
    bench = true)

  /** H1+/H4+: shared-span scrub ([[TextAnalysis.scrubSharedSpans]]) —
    * q153's detected spans cut from every document, the Lee-et-al
    * remediation at maximal-span granularity (q103 is the same
    * treatment at single-gram granularity). The oracle re-derives the
    * spans AND rebuilds every document word for word, so agreement
    * certifies detection + reconstruction end to end. */
  private val q158 = Q("q158_span_scrub",
    (s, d) => TextAnalysis.scrubSharedSpans(
        t(s, d, "documents"), col("doc_id"), col("text"),
        n = 5, minDocs = 2L, minSpanTokens = 8)
      .orderBy(col("doc_id")),
    // rid = per-row identity (q103's law: df counts stored rows, spans
    // are per DOC — the operator enforces unique (doc, pos) with an
    // in-plan distinct — reconstruction is per row)
    Some("""WITH tk AS MATERIALIZED (SELECT row_number() OVER () AS rid,
          doc_id, string_split(text, ' ') AS t FROM documents),
      ng AS (SELECT rid, doc_id, p, array_to_string(t[p:p+4], ' ') AS g
             FROM tk, unnest(range(1, len(t) - 3)) AS u(p)),
      fr AS (SELECT g FROM (SELECT DISTINCT rid, g FROM ng)
             GROUP BY g HAVING count(*) >= 2),
      sh AS (SELECT DISTINCT ng.doc_id, ng.p FROM ng JOIN fr USING (g)),
      isl AS (SELECT doc_id, p,
          p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp FROM sh),
      runs AS (SELECT doc_id, min(p) AS sp, max(p) - min(p) + 5 AS st
          FROM isl GROUP BY doc_id, grp),
      cov AS (SELECT DISTINCT r.doc_id, v.q
          FROM runs r, unnest(range(r.sp, r.sp + r.st)) AS v(q)
          WHERE r.st >= 8),
      tok AS (SELECT rid, doc_id, w.q, t[w.q] AS tok
          FROM tk, unnest(range(1, len(t) + 1)) AS w(q)),
      kept AS (SELECT tok.rid, tok.q, tok.tok FROM tok ANTI JOIN cov
          ON tok.doc_id = cov.doc_id AND tok.q = cov.q),
      agg AS (SELECT rid, count(*) AS n_after,
          string_agg(tok, ' ' ORDER BY q) AS text_clean FROM kept
          GROUP BY rid)
      SELECT t.doc_id, len(t.t)::BIGINT AS n_tokens,
        (len(t.t) - coalesce(a.n_after, 0))::BIGINT AS n_removed,
        CASE WHEN t.t IS NULL THEN NULL
          ELSE coalesce(a.text_clean, '') END AS text_clean
      FROM tk t LEFT JOIN agg a USING (rid) ORDER BY t.doc_id"""),
    bench = true)   // round-10 rotation: never-benched heavy

  private val q82 = Q("q82_ml_cross_validation",
    (s, d) => {
      import s.implicits._
      val feats = mlFeatures(s, d).cache()
      val e = try graft.ml.Models.crossValidateTree(feats,
          depths = Seq(3, 6), folds = 2)
        finally feats.unpersist()
      Seq((e.bestMaxDepth.toLong, e.avgMetrics.size.toLong,
        math.floor(e.testAccuracy * 10000.0 + 0.5) / 10000.0))
        .toDF("best_max_depth", "n_candidates", "test_accuracy")
    },
    None)

  /** H4: corpus-trained unigram LM quality scoring — the
    * perplexity-style filter (TextAnalysis.unigramLogProb): train
    * token frequencies on the corpus in one aggregation, score every
    * doc by mean smoothed token log-probability. The "model" is a
    * DataFrame (no driver round-trip), so the identical plan trains
    * on a trillion tokens. Benched: two aggs + one equality join is
    * the at-scale shape worth watching. */
  private val q83 = Q("q83_unigram_logprob",
    (s, d) => TextAnalysis.unigramLogProb(
        t(s, d, "documents"), col("doc_id"), col("text"))
      .select(col("doc_id"), col("n_tokens"),
        r(col("avg_logprob"), 4).as("avg_logprob"))
      .orderBy(col("doc_id")),
    Some("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents),
      counts AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
      tot AS (SELECT CAST(sum(c) AS DOUBLE) AS t, CAST(count(*) AS DOUBLE) AS v
        FROM counts),
      lp AS (SELECT doc_id, ln((c + 1.0) / (t + 1.0 * v)) AS l
        FROM toks JOIN counts USING (tok) CROSS JOIN tot)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        floor(avg(l) * 10000 + 0.5) / 10000.0 AS avg_logprob
      FROM lp GROUP BY doc_id ORDER BY doc_id"""),
    bench = true)

  /** H4: seeded n-way weighted split (90/5/5 train/val/test) — the
    * assignment a training pipeline pins before anything else runs.
    * Disjoint+exhaustive cumulative hash ranges over the portable
    * polyhash; per-row assignment depends only on (doc_id, seed), so
    * the identical split reproduces on any engine — which the oracle
    * proves literally, re-deriving every assignment in SQL. */
  private val q84 = Q("q84_seeded_split",
    (s, d) => graft.operators.Sampling.seededSplit(
        t(s, d, "documents").select(col("doc_id"), col("lang")),
        col("doc_id"), seed = "r6",
        weights = Seq(("train", 0.9), ("val", 0.05), ("test", 0.05)))
      .select(col("doc_id"), col("lang"), col("split"))
      .orderBy(col("doc_id")),
    Some(s"""SELECT doc_id, lang,
        CASE
          WHEN ${sqlPolyHash("'r6' || CAST(doc_id AS VARCHAR) || '#graft-sample'")} % 10000 < 9000 THEN 'train'
          WHEN ${sqlPolyHash("'r6' || CAST(doc_id AS VARCHAR) || '#graft-sample'")} % 10000 < 9500 THEN 'val'
          ELSE 'test'
        END AS split
      FROM documents ORDER BY doc_id"""))

  /** C+: Bloom-prefiltered semi-join ([[graft.operators.BloomJoin]]) —
    * lineitem rows kept only when their order is URGENT, revenue rolled
    * up per return flag. The Bloom pass drops non-matching lineitem
    * rows BEFORE the semi-join exchange (the explicit twin of
    * Catalyst's InjectRuntimeFilter); the exact join after it makes the
    * result identical to a plain semi-join, which is what the oracle
    * states. */
  private val q86 = Q("q86_bloom_semi_join",
    (s, d) => {
      val urgent = t(s, d, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      graft.operators.BloomJoin.semiJoin(
          t(s, d, "lineitem"), urgent, col("l_orderkey"), col("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(r(sum(col("l_quantity")), 2).as("sum_qty"),
          count(lit(1)).as("n_items"))
        .orderBy(col("l_returnflag"))
    },
    Some("""SELECT l_returnflag,
        floor(sum(l_quantity) * 100.0 + 0.5) / 100.0 AS sum_qty,
        count(*) AS n_items
      FROM lineitem
      WHERE l_orderkey IN
        (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
      GROUP BY l_returnflag ORDER BY l_returnflag"""),
    bench = true)

  /** H4: top-3 TF-IDF terms per document
    * ([[TextAnalysis.topTfIdfTerms]]) — keyword extraction with the
    * df-by-window-over-postings plan (no corpus rescan, no barrier).
    * Deterministic tie-break (rounded score desc, term asc) keeps both
    * engines' rankings identical. */
  private val q87 = Q("q87_tfidf_topterms",
    (s, d) => TextAnalysis.topTfIdfTerms(
        t(s, d, "documents"), col("doc_id"), col("text"), k = 3)
      .orderBy(col("doc_id"), col("term")),
    Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents),
      tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
        FROM tok WHERE term <> '' GROUP BY doc_id, term),
      dft AS (SELECT *, count(*) OVER (PARTITION BY term) AS df FROM tf),
      n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
      scored AS (SELECT doc_id, term, tf,
        floor(tf * ln((1.0 + n.n) / (1.0 + df)) * 10000 + 0.5) / 10000.0 AS score
        FROM dft CROSS JOIN n),
      ranked AS (SELECT *, row_number()
        OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rk FROM scored)
      SELECT doc_id, term, tf, score FROM ranked WHERE rk <= 3
      ORDER BY doc_id, term"""),
    bench = true)

  /** A1/A2 layout round-trip: documents written partitioned by `lang`
    * (`Sinks.writeParquet` — the 100 TB layout move: partition by the
    * low-cardinality predicate column), read back through a partition
    * filter. Directory pruning is plan-asserted in CorpusOpsSpec; the
    * oracle proves VALUE fidelity through the partitioned layout
    * (partition values round-trip the directory encoding). */
  private val q88 = Q("q88_partitioned_layout",
    (s, d) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_layout_")
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(tmp).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
      }))
      graft.sources.Sinks.writeParquet(
        t(s, d, "documents")
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars")),
        tmp.toString, partitionBy = Seq("lang"))
      s.read.parquet(tmp.toString)
        .filter(col("lang") === "en")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id, lang, source, n_chars FROM documents
      WHERE lang = 'en' ORDER BY doc_id"""))

  /** D+ sketches with an IN-PLAN accuracy gate (the
    * `Similarity.ivfTopKWithRecall` assert-gate pattern): HyperLogLog distinct counts and a t-digest-style
    * quantile sketch computed alongside their exact twins, exposed as
    * bounded-error BOOLEANS — the oracle pins the exact values and
    * asserts the sketch error bound held, so a silently degraded
    * sketch flips a hash-checked row. At 100 TB the sketches are the
    * only affordable path (mergeable, fixed-size state vs exact
    * distinct's shuffle of every key); this query keeps them honest. */
  private val q89 = Q("q89_sketch_accuracy",
    (s, d) => t(s, d, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("exact_parts"),
        approx_count_distinct(col("l_partkey"), rsd = 0.02).as("_hll"),
        r(expr("percentile(l_extendedprice, 0.5)"), 4).as("exact_median"),
        expr("approx_percentile(l_extendedprice, 0.5, 10000)").as("_apx_med"))
      .select(col("l_returnflag"), col("exact_parts"),
        (abs(col("_hll") - col("exact_parts")) / col("exact_parts")
          <= 0.10).as("hll_ok"),
        col("exact_median"),
        (abs(col("_apx_med") - col("exact_median")) / col("exact_median")
          <= 0.02).as("quantile_ok"))
      .orderBy(col("l_returnflag")),
    Some("""SELECT l_returnflag,
        count(DISTINCT l_partkey) AS exact_parts,
        TRUE AS hll_ok,
        floor(quantile_cont(l_extendedprice, 0.5) * 10000.0 + 0.5) / 10000.0
          AS exact_median,
        TRUE AS quantile_ok
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** A+ layout: Z-order (Morton) clustering round-trip
    * ([[graft.sources.ZOrder]]) — lineitem rewritten clustered on
    * (l_partkey, l_suppkey), then a two-dimensional box query over the
    * clustered copy. The oracle runs the same box over the ORIGINAL
    * table: identical results prove the Morton rewrite is lossless;
    * the per-file bounding-box tightness that makes the layout prune
    * is asserted in ZOrderSpec. */
  private val q90 = Q("q90_zorder_box_query",
    (s, d) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_zorder_")
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(tmp).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
      }))
      graft.sources.ZOrder.writeZOrdered(
        t(s, d, "lineitem").select(col("l_orderkey"), col("l_partkey"),
          col("l_suppkey"), col("l_returnflag"), col("l_quantity")),
        tmp.toString, zCols = Seq("l_partkey", "l_suppkey"), numFiles = 8)
      s.read.parquet(tmp.toString)
        .filter(col("l_partkey").between(50, 150) &&
          col("l_suppkey").between(5, 15))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_items"),
          r(sum(col("l_quantity")), 2).as("sum_qty"))
        .orderBy(col("l_returnflag"))
    },
    Some("""SELECT l_returnflag, count(*) AS n_items,
        floor(sum(l_quantity) * 100.0 + 0.5) / 100.0 AS sum_qty
      FROM lineitem
      WHERE l_partkey BETWEEN 50 AND 150 AND l_suppkey BETWEEN 5 AND 15
      GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** H4: BM25 ranked retrieval ([[TextAnalysis.bm25TopDocs]]) — top-10
    * documents for a 3-term query. The explode filters to the query's
    * terms before any exchange; the final cut is a bounded-heap
    * sort-limit. Both engines rank on the ROUNDED score with doc_id
    * tie-break, so the top-10 boundary is engine-stable. */
  private val q91 = Q("q91_bm25_retrieval",
    (s, d) => TextAnalysis.bm25TopDocs(
        t(s, d, "documents"), col("doc_id"), col("text"),
        terms = Seq("spark", "window", "hash"), k = 10)
      .orderBy(col("score").desc, col("doc_id")),
    Some("""WITH docs AS (SELECT doc_id, string_split(text, ' ') AS tk
        FROM documents),
      dl0 AS (SELECT doc_id, len(tk)::DOUBLE AS dl FROM docs),
      stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl0),
      dl AS (SELECT DISTINCT doc_id, dl FROM dl0),
      tf AS (SELECT doc_id, tok AS term, count(*)::DOUBLE AS tf
        FROM (SELECT doc_id, unnest(tk) AS tok FROM docs)
        WHERE tok IN ('spark', 'window', 'hash') GROUP BY doc_id, tok),
      dft AS (SELECT *, (count(*) OVER (PARTITION BY term))::DOUBLE AS df
        FROM tf),
      w AS (SELECT doc_id,
          ln((n - df + 0.5) / (df + 0.5) + 1.0) * tf * 2.2
            / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS w
        FROM dft JOIN dl USING (doc_id) CROSS JOIN stats)
      SELECT doc_id, floor(sum(w) * 10000 + 0.5) / 10000.0 AS score,
        count(*) AS n_terms_hit
      FROM w GROUP BY doc_id
      ORDER BY score DESC, doc_id LIMIT 10"""),
    bench = true)

  /** H4: weighted sample without replacement
    * ([[Sampling.weightedSample]], Efraimidis–Spirakis) — 50 documents
    * drawn with probability ∝ n_chars from a portable seeded hash. The
    * oracle re-derives every selection key in SQL, proving the sample
    * is engine- and layout-independent. */
  private val q92 = Q("q92_weighted_sample",
    (s, d) => graft.operators.Sampling.weightedSample(
        t(s, d, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars")),
        key = col("doc_id"), weight = col("n_chars"), k = 50, seed = "w6")
      .orderBy(col("es_key"), col("doc_id")),
    Some(s"""SELECT doc_id, lang, n_chars,
        floor((ln(-ln((${sqlPolyHash("'w6' || CAST(doc_id AS VARCHAR) || '#graft-sample'")} + 0.5) / 1000000007.0))
          - ln(n_chars)) * 1000000000 + 0.5) / 1000000000.0 AS es_key
      FROM documents WHERE doc_id IS NOT NULL
      ORDER BY es_key, doc_id LIMIT 50"""))

  /** H4/D+: robust per-language length-outlier gate
    * ([[TextAnalysis.robustOutliers]], median/MAD, z=2) — the
    * truncation/concatenation anomaly filter. z=2 flags ~4% of the
    * synthetic corpus (z=3 flags none — an empty result would verify
    * nothing). Integer inputs make median and MAD exact binary
    * doubles, so the UNROUNDED z·MAD comparison reproduces
    * bit-for-bit in DuckDB. */
  private val q93 = Q("q93_mad_outliers",
    (s, d) => TextAnalysis.robustOutliers(
        t(s, d, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars")),
        group = col("lang"), value = col("n_chars"), z = 2.0)
      .filter(col("is_outlier"))
      .select(col("doc_id"), col("lang"), col("n_chars"),
        r(col("med"), 4).as("med"), r(col("mad"), 4).as("mad"))
      .orderBy(col("doc_id")),
    Some("""WITH med AS (SELECT lang,
        quantile_cont(n_chars::DOUBLE, 0.5) AS med
        FROM documents GROUP BY lang),
      mad AS (SELECT d.lang, m.med,
          quantile_cont(abs(d.n_chars::DOUBLE - m.med), 0.5) AS mad
        FROM documents d JOIN med m USING (lang) GROUP BY d.lang, m.med)
      SELECT doc_id, d.lang, n_chars,
        floor(m.med * 10000 + 0.5) / 10000.0 AS med,
        floor(m.mad * 10000 + 0.5) / 10000.0 AS mad
      FROM documents d JOIN mad m ON d.lang = m.lang
      WHERE abs(d.n_chars::DOUBLE - m.med) > 2.0 * m.mad
      ORDER BY doc_id"""))

  /** H4: training-mix construction ([[Sampling.trainingMix]]) — a
    * 100-doc mix targeted at en 50% / zh 30% / de 20%, each language
    * quota filled by longest-document-first rank (doc_id tie-break).
    * es/fr are deliberately unlisted and must drop. */
  private val q94 = Q("q94_training_mix",
    (s, d) => graft.operators.Sampling.trainingMix(
        t(s, d, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars")),
        stratum = col("lang"), rankBy = col("n_chars"),
        tieBreak = col("doc_id"), budget = 100L,
        shares = Seq(("en", 0.5), ("zh", 0.3), ("de", 0.2)))
      .orderBy(col("doc_id")),
    Some("""WITH ranked AS (SELECT doc_id, lang, n_chars,
        row_number() OVER (PARTITION BY lang
          ORDER BY n_chars DESC, doc_id) AS mix_rank
        FROM documents)
      SELECT doc_id, lang, n_chars, mix_rank FROM ranked
      WHERE mix_rank <= CASE lang
        WHEN 'en' THEN 50 WHEN 'zh' THEN 30 WHEN 'de' THEN 20 ELSE 0 END
      ORDER BY doc_id"""))

  /** H1+: corpus snapshot diff ([[Dedup.snapshotDiff]]) — two corpus
    * versions derived deterministically from `documents` (v1 drops
    * doc_id%10==3; v2 drops %10==7 and edits %13==0 texts), classified
    * added/removed/changed by content hash through ONE full-outer
    * id join. Only the non-unchanged slice is returned — the rows an
    * incremental pipeline would reprocess. */
  private val q95 = Q("q95_snapshot_diff",
    (s, d) => {
      val docs = t(s, d, "documents")
      val v1 = docs.filter(pmod(col("doc_id"), lit(10L)) =!= 3)
      val v2 = docs.filter(pmod(col("doc_id"), lit(10L)) =!= 7)
        .withColumn("text",
          when(pmod(col("doc_id"), lit(13L)) === 0,
            concat(col("text"), lit(" r6"))).otherwise(col("text")))
      Dedup.snapshotDiff(v1, v2, col("doc_id"), col("text"))
        .filter(col("status") =!= "unchanged")
        .orderBy(col("id"))
    },
    Some("""WITH o AS (SELECT doc_id AS id, md5(text) AS ho
        FROM documents WHERE ((doc_id % 10) + 10) % 10 <> 3),
      n AS (SELECT doc_id AS id,
          md5(CASE WHEN ((doc_id % 13) + 13) % 13 = 0 THEN text || ' r6' ELSE text END) AS hn
        FROM documents WHERE ((doc_id % 10) + 10) % 10 <> 7),
      diff AS (SELECT coalesce(o.id, n.id) AS id,
          CASE WHEN o.id IS NULL THEN 'added'
               WHEN n.id IS NULL THEN 'removed'
               WHEN ho <> hn THEN 'changed'
               ELSE 'unchanged' END AS status
        FROM o FULL OUTER JOIN n ON o.id = n.id)
      SELECT id, status FROM diff WHERE status <> 'unchanged'
      ORDER BY id"""))

  /** The q96/q99 synthetic link graph: 3 out-links per document,
    * dst = (doc_id² + 7 + j·97) mod n for j ∈ {0,1,2} (doc_ids are
    * contiguous 0..n−1 in the testdata, so every target is a real
    * document and every vertex has out-degree 3 — no dangling mass,
    * which the oracle relies on; the dangling path is covered by
    * GraphSpec's hand-computed graph). The QUADRATIC map is the point:
    * a linear a·doc_id+b with gcd(a,n)=1 is a permutation per j, the
    * graph comes out in-degree-regular, and PageRank degenerates to
    * the uniform fixpoint — verifying nothing. Squares mod n are
    * non-bijective, so in-degrees (and therefore ranks) spread. */
  private def linkEdges(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val n = docs.agg(count(lit(1)).as("n_docs"))
    docs.crossJoin(broadcast(n))
      .select(col("doc_id").as("src"),
        explode(array((0 to 2).map(j =>
          pmod(col("doc_id") * col("doc_id") + 7 + j * 97, col("n_docs"))): _*)).as("dst"))
  }

  /** Shared oracle CTE prefix for q96/q99/q101: the synthetic link
    * graph, its out-degrees, and the vertex set. */
  private val linkGraphCte: String =
    """WITH cnt AS (SELECT count(*)::DOUBLE AS n FROM documents),
      e AS (SELECT doc_id AS src,
          (doc_id * doc_id + 7 + j * 97) % (SELECT count(*) FROM documents) AS dst
        FROM documents CROSS JOIN (SELECT unnest([0, 1, 2]) AS j) _j),
      deg AS (SELECT src, count(*)::DOUBLE AS od FROM e GROUP BY src),
      v AS (SELECT src AS id FROM e UNION SELECT dst FROM e)"""

  /** q96/q99: PageRank's 3 damped iterations unrolled (no dangling
    * term — the derived graph has none, and Spark's in-plan dangling
    * aggregate is exactly 0.0 there, so `m + 0.0` mirrors bit for
    * bit). */
  private val pageRankOracleCte: String =
    s"""$linkGraphCte,
      pr0 AS (SELECT id, 1.0 / n AS rank FROM v CROSS JOIN cnt),
      m1 AS (SELECT e.dst AS id, sum(p.rank / deg.od) AS m
        FROM e JOIN deg USING (src) JOIN pr0 p ON e.src = p.id GROUP BY e.dst),
      pr1 AS (SELECT v.id, (1.0 - 0.85) / n + 0.85 * (coalesce(m1.m, 0.0) + 0.0) AS rank
        FROM v CROSS JOIN cnt LEFT JOIN m1 ON v.id = m1.id),
      m2 AS (SELECT e.dst AS id, sum(p.rank / deg.od) AS m
        FROM e JOIN deg USING (src) JOIN pr1 p ON e.src = p.id GROUP BY e.dst),
      pr2 AS (SELECT v.id, (1.0 - 0.85) / n + 0.85 * (coalesce(m2.m, 0.0) + 0.0) AS rank
        FROM v CROSS JOIN cnt LEFT JOIN m2 ON v.id = m2.id),
      m3 AS (SELECT e.dst AS id, sum(p.rank / deg.od) AS m
        FROM e JOIN deg USING (src) JOIN pr2 p ON e.src = p.id GROUP BY e.dst),
      pr3 AS (SELECT v.id, (1.0 - 0.85) / n + 0.85 * (coalesce(m3.m, 0.0) + 0.0) AS rank
        FROM v CROSS JOIN cnt LEFT JOIN m3 ON v.id = m3.id)"""

  /** H+ graph: PageRank over the synthetic document link graph
    * ([[graft.operators.Graph.pageRank]], 3 iterations, d = 0.85) —
    * the link-centrality quality prior of web-corpus curation. The
    * oracle unrolls all three iterations in SQL; ranks reproduce to
    * 8 decimals (FP divergence between engines is summation-order
    * ulps, ~1e-16, eight orders below the rounding step). */
  private val q96 = Q("q96_pagerank",
    (s, d) => graft.operators.Graph.pageRank(
        linkEdges(s, d), col("src"), col("dst"),
        iterations = 3, damping = 0.85,
        // every doc emits 3 links by construction → no dangling mass;
        // the contract drops a per-round left-anti + broadcast job
        assumeNoDangling = true)
      .select(col("id").as("doc_id"), col("out_deg"),
        r(col("rank"), 8).as("rank"))
      .orderBy(col("doc_id")),
    Some(s"""$pageRankOracleCte
      SELECT v.id AS doc_id,
        CAST(coalesce(deg.od, 0.0) AS BIGINT) AS out_deg,
        floor(pr3.rank * 100000000 + 0.5) / 100000000.0 AS rank
      FROM v JOIN pr3 ON v.id = pr3.id LEFT JOIN deg ON v.id = deg.src
      ORDER BY doc_id"""),
    bench = true)

  /** H2+: graded contamination scoring
    * ([[Dedup.contaminationScore]]) — the fraction of each corpus
    * doc's distinct 3-gram shingles found anywhere in the eval set
    * (q69's 10% hash sample). The membership check rides a broadcast
    * of the eval set's distinct shingles; corpus postings never
    * shuffle for the join. */
  private val q97 = Q("q97_contamination_score",
    (s, d) => {
      val docs = t(s, d, "documents")
      val evalSet = graft.operators.Sampling.hashSample(
        docs, col("doc_id"), fraction = 0.1)
      Dedup.contaminationScore(docs, evalSet, "doc_id", col("text"),
          shingleN = 3)
        .select(col("doc_id"), col("n_shingles"), col("n_hit"),
          r(col("contamination"), 4).as("contamination"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tk
        FROM documents),
      sh AS (SELECT doc_id, unnest(${sqlShingles("tk")}) AS shingle FROM tk),
      ev AS (SELECT DISTINCT shingle FROM sh
        WHERE ${sqlPolyHash("CAST(doc_id AS VARCHAR) || '#graft-sample'")} % 10000 < 1000),
      agg AS (SELECT s.doc_id, count(*) AS n_shingles,
          count(ev.shingle) AS n_hit
        FROM sh s LEFT JOIN ev ON s.shingle = ev.shingle
        GROUP BY s.doc_id)
      SELECT doc_id, n_shingles, n_hit,
        floor(n_hit::DOUBLE / n_shingles::DOUBLE * 10000 + 0.5) / 10000.0
          AS contamination
      FROM agg ORDER BY doc_id"""),
    bench = true)

  /** H4+: token co-occurrence PMI ([[TextAnalysis.tokenPmi]]) — the
    * collocation signal over distinct per-doc tokens, pairs generated
    * as a pure projection (no postings self-join; the oracle USES the
    * self-join, making the two plans' agreement a differential test of
    * the pair-expansion expression). Ranking is on the ROUNDED score
    * with (term_a, term_b) tie-break, so the top-25 boundary is
    * engine-stable. */
  private val q98 = Q("q98_token_pmi",
    (s, d) => TextAnalysis.tokenPmi(
        t(s, d, "documents"), col("doc_id"), col("text"),
        minPairDocs = 50L)
      .select(col("term_a"), col("term_b"), col("df_ab"),
        r(col("pmi"), 4).as("pmi"))
      .orderBy(col("pmi").desc, col("term_a"), col("term_b"))
      .limit(25),
    Some("""WITH tk AS (SELECT doc_id,
        list_distinct(string_split(text, ' ')) AS tok FROM documents),
      cnt AS (SELECT count(*)::DOUBLE AS n FROM tk WHERE tok IS NOT NULL),
      post AS (SELECT doc_id, unnest(tok) AS term FROM tk),
      dft AS (SELECT term, count(*) AS df FROM post GROUP BY term),
      -- pairs generate WITHIN each row (the operator's per-row pair
      -- generator): a doc_id self-join would fan duplicate-id rows
      -- 2x2 while every other count stays per-row
      pairs AS (SELECT tok[i] AS term_a, tok[j] AS term_b,
          count(*) AS df_ab
        FROM tk,
          unnest(range(1, len(tok) + 1)) AS u(i),
          unnest(range(1, len(tok) + 1)) AS v(j)
        WHERE tok[i] < tok[j]
        GROUP BY 1, 2 HAVING count(*) >= 50)
      SELECT term_a, term_b, df_ab,
        floor(ln(df_ab * n / (da.df * db.df)) * 10000 + 0.5) / 10000.0
          AS pmi
      FROM pairs JOIN dft da ON pairs.term_a = da.term
        JOIN dft db ON pairs.term_b = db.term CROSS JOIN cnt
      ORDER BY pmi DESC, term_a, term_b LIMIT 25"""))

  /** H+ composite: centrality-weighted corpus sampling — q96's
    * PageRank feeds [[Sampling.weightedSample]] as the weight column
    * (P(selected) ∝ link-graph rank), the RefinedWeb-style "sample the
    * reputable web harder" draw, chained entirely in-plan. The oracle
    * re-derives both the unrolled ranks and every Efraimidis–Spirakis
    * key; rank FP divergence (~1e-16 relative) is six orders below the
    * rounded key's step at the cut boundary. */
  private val q99 = Q("q99_pagerank_weighted_sample",
    (s, d) => graft.operators.Sampling.weightedSample(
        graft.operators.Graph.pageRank(
            linkEdges(s, d), col("src"), col("dst"),
            iterations = 3, damping = 0.85, assumeNoDangling = true)
          .select(col("id").as("doc_id"), col("rank")),
        key = col("doc_id"), weight = col("rank"), k = 50, seed = "pr6")
      .select(col("doc_id"), r(col("rank"), 8).as("rank"), col("es_key"))
      .orderBy(col("es_key"), col("doc_id")),
    Some(s"""$pageRankOracleCte
      SELECT p.id AS doc_id,
        floor(p.rank * 100000000 + 0.5) / 100000000.0 AS rank,
        floor((ln(-ln((${sqlPolyHash("'pr6' || CAST(p.id AS VARCHAR) || '#graft-sample'")} + 0.5) / 1000000007.0))
          - ln(p.rank)) * 1000000000 + 0.5) / 1000000000.0 AS es_key
      FROM pr3 p ORDER BY es_key, doc_id LIMIT 50"""))

  /** H+ graph: personalized PageRank
    * ([[graft.operators.Graph.pageRank]] with `teleportTo`) — the
    * topic-focused walk: teleport (and dangling redistribution)
    * concentrates on a trusted seed set (every 20th doc) instead of
    * all of V, ranking the corpus by link proximity to the seeds.
    * Oracle unrolls the seeded iterations like q96's. */
  private val q101 = Q("q101_personalized_pagerank",
    (s, d) => {
      val seeds = t(s, d, "documents")
        .filter(pmod(col("doc_id"), lit(20L)) === 0)
        .select(col("doc_id").as("id"))
      graft.operators.Graph.pageRank(
          linkEdges(s, d), col("src"), col("dst"),
          iterations = 3, damping = 0.85, assumeNoDangling = true,
          teleportTo = Some(seeds))
        .select(col("id").as("doc_id"), col("out_deg"),
          r(col("rank"), 8).as("rank"))
        .orderBy(col("doc_id"))
    },
    Some(s"""$linkGraphCte,
      -- seeds are every 20th DOCUMENT (distinct ids), not every 20th
      -- vertex: once duplicate-doc dirt grows the vertex universe past
      -- the doc-id range (n_docs = row count), dst-only vertices like
      -- 500 would otherwise become phantom seeds the Spark side never
      -- had
      sd AS (SELECT DISTINCT doc_id AS id FROM documents
        WHERE doc_id % 20 = 0),
      sc AS (SELECT count(*)::DOUBLE AS ns FROM sd JOIN v USING (id)),
      tele AS (SELECT v.id,
          CASE WHEN sd.id IS NOT NULL THEN 1.0 / ns ELSE 0.0 END AS tele
        FROM v CROSS JOIN sc LEFT JOIN sd ON v.id = sd.id),
      pp0 AS (SELECT id, tele AS rank FROM tele),
      pm1 AS (SELECT e.dst AS id, sum(p.rank / deg.od) AS m
        FROM e JOIN deg USING (src) JOIN pp0 p ON e.src = p.id GROUP BY e.dst),
      pp1 AS (SELECT v.id, (1.0 - 0.85) * t.tele + 0.85 * (coalesce(pm1.m, 0.0) + 0.0) AS rank
        FROM v JOIN tele t ON v.id = t.id LEFT JOIN pm1 ON v.id = pm1.id),
      pm2 AS (SELECT e.dst AS id, sum(p.rank / deg.od) AS m
        FROM e JOIN deg USING (src) JOIN pp1 p ON e.src = p.id GROUP BY e.dst),
      pp2 AS (SELECT v.id, (1.0 - 0.85) * t.tele + 0.85 * (coalesce(pm2.m, 0.0) + 0.0) AS rank
        FROM v JOIN tele t ON v.id = t.id LEFT JOIN pm2 ON v.id = pm2.id),
      pm3 AS (SELECT e.dst AS id, sum(p.rank / deg.od) AS m
        FROM e JOIN deg USING (src) JOIN pp2 p ON e.src = p.id GROUP BY e.dst),
      pp3 AS (SELECT v.id, (1.0 - 0.85) * t.tele + 0.85 * (coalesce(pm3.m, 0.0) + 0.0) AS rank
        FROM v JOIN tele t ON v.id = t.id LEFT JOIN pm3 ON v.id = pm3.id)
      SELECT v.id AS doc_id,
        CAST(coalesce(deg.od, 0.0) AS BIGINT) AS out_deg,
        floor(pp3.rank * 100000000 + 0.5) / 100000000.0 AS rank
      FROM v JOIN pp3 ON v.id = pp3.id LEFT JOIN deg ON v.id = deg.src
      ORDER BY doc_id"""),
    bench = true)

  /** H1+/H4 composite: INCREMENTAL curation — the plan shape crawl
    * refreshes actually need: v1's gate results are a materialized
    * artifact (written + read back in-query, q88-style); the v2 run
    * classifies docs via [[Dedup.snapshotDiff]], recomputes the
    * quality gate ONLY for added/changed docs, and carries unchanged
    * docs' scores from the artifact. The oracle gates ALL of v2 from
    * scratch — agreement proves the incremental shortcut is exactly
    * equivalent to the full recompute (gate determinism + unchanged
    * text ⇒ identical doubles through the parquet round-trip). */
  private val q102 = Q("q102_incremental_curation",
    (s, d) => {
      val docs = t(s, d, "documents")
      val v1 = docs.filter(pmod(col("doc_id"), lit(10L)) =!= 3)
      val v2 = docs.filter(pmod(col("doc_id"), lit(10L)) =!= 7)
        .withColumn("text",
          when(pmod(col("doc_id"), lit(13L)) === 0,
            concat(col("text"), lit(" r6"))).otherwise(col("text")))
      def gate(df: DataFrame): DataFrame =
        TextAnalysis.withTextStats(df, col("text"))
          .select(col("doc_id"), col("quality_score"))
      val tmp = java.nio.file.Files.createTempDirectory("graft_incr_")
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(tmp).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
      }))
      graft.sources.Sinks.writeParquet(gate(v1), tmp.toString)
      val prior = s.read.parquet(tmp.toString)
      // three consumers (fresh-id filter, carried filter, final join) —
      // barrier, or each replans the v1×v2 snapshot diff from
      // the scans up (round-8 multi-consumer audit)
      val diff = OpUtils.barrier(Dedup.snapshotDiff(v1, v2, col("doc_id"), col("text"))
        .filter(col("status") =!= "removed")
        .select(col("id").as("doc_id"), col("status")))
      val freshIds = diff.filter(col("status") =!= "unchanged")
        .select(col("doc_id"))
      val fresh = gate(v2.join(freshIds, Seq("doc_id"), "left_semi"))
      val carried = prior.join(
        diff.filter(col("status") === "unchanged").select(col("doc_id")),
        Seq("doc_id"), "left_semi")
      fresh.unionByName(carried)
        .join(diff, "doc_id")
        .withColumn("kept", col("quality_score") >= 0.3)
        .select(col("doc_id"), col("status"),
          r(col("quality_score"), 4).as("quality_score"), col("kept"))
        // snapshots are KEYED by id (snapshotDiff's documented
        // precondition): a replayed duplicate row fans the
        // prior/fresh x diff joins out into identical copies — the
        // output-sized distinct restores one row per id (exact
        // replicas only; conflicting-content duplicate ids remain the
        // caller's contract violation, as documented on snapshotDiff)
        .distinct()
        .orderBy(col("doc_id"))
    },
    Some("""WITH o AS (SELECT DISTINCT doc_id AS id, md5(text) AS ho
        FROM documents WHERE ((doc_id % 10) + 10) % 10 <> 3),
      n AS (SELECT DISTINCT doc_id AS id,
          md5(CASE WHEN ((doc_id % 13) + 13) % 13 = 0 THEN text || ' r6' ELSE text END) AS hn,
          CASE WHEN ((doc_id % 13) + 13) % 13 = 0 THEN text || ' r6' ELSE text END AS text2
        FROM documents WHERE ((doc_id % 10) + 10) % 10 <> 7),
      diff AS (SELECT n.id,
          CASE WHEN o.id IS NULL THEN 'added'
               WHEN ho <> hn THEN 'changed'
               ELSE 'unchanged' END AS status, n.text2
        FROM n LEFT JOIN o ON n.id = o.id),
      st AS (SELECT id, status, string_split(text2, ' ') AS tk FROM diff),
      sc AS (SELECT id, status,
          least(1.0, len(tk) / 200.0) * 0.5
            + (len(list_distinct(tk))::DOUBLE / len(tk)) * 0.3
            + (len(list_filter(tk, x -> x IN ('the','a','of','and','to','in','is')))::DOUBLE / len(tk)) * 0.2 AS q
        FROM st)
      SELECT id AS doc_id, status,
        floor(q * 10000 + 0.5) / 10000.0 AS quality_score,
        q >= 0.3 AS kept
      FROM sc ORDER BY doc_id"""),
    bench = true)

  /** H4+/H1+: cross-document frequent-n-gram pruning
    * ([[TextAnalysis.pruneFrequentNgrams]], n=3, minDocs=5) — the
    * corpus-level boilerplate scrub (C4 repeated-line removal / Lee
    * et al. exact-substring dedup at n-gram granularity): every token
    * covered by a trigram occurring in ≥ 5 distinct docs is removed
    * and the text reconstructed in order. The oracle rebuilds the
    * frequent set, the covered positions, and every document's
    * surviving text word for word. */
  private val q103 = Q("q103_prune_frequent_ngrams",
    (s, d) => TextAnalysis.pruneFrequentNgrams(
        t(s, d, "documents"), col("doc_id"), col("text"),
        n = 3, minDocs = 5L)
      .orderBy(col("doc_id")),
    // rid keys each stored ROW: df counts rows (the operator's per-row
    // law — a replayed duplicate row counts again), covered positions
    // are per DOC (dup-insensitive DISTINCT), and the reconstruction
    // is per row — a doc_id-keyed agg would interleave a replica's
    // tokens into one garbled text_clean
    Some("""WITH tk AS MATERIALIZED (SELECT row_number() OVER () AS rid,
          doc_id, string_split(text, ' ') AS t FROM documents),
      ng AS (SELECT rid, doc_id, p, array_to_string(t[p:p+2], ' ') AS g
             FROM tk, unnest(range(1, len(t) - 1)) AS u(p)),
      fr AS (SELECT g FROM (SELECT DISTINCT rid, g FROM ng)
             GROUP BY g HAVING count(*) >= 5),
      cov AS (SELECT DISTINCT s.doc_id, v.q
              FROM (SELECT ng.doc_id, ng.p FROM ng JOIN fr USING (g)) s,
              unnest(range(s.p, s.p + 3)) AS v(q)),
      tok AS (SELECT rid, doc_id, w.q, t[w.q] AS tok
              FROM tk, unnest(range(1, len(t) + 1)) AS w(q)),
      kept AS (SELECT tok.rid, tok.q, tok.tok FROM tok ANTI JOIN cov
               ON tok.doc_id = cov.doc_id AND tok.q = cov.q),
      agg AS (SELECT rid, count(*) AS n_after,
              string_agg(tok, ' ' ORDER BY q) AS text_clean FROM kept GROUP BY rid)
      SELECT t.doc_id, len(t.t)::BIGINT AS n_tokens,
        (len(t.t) - coalesce(a.n_after, 0))::BIGINT AS n_removed,
        CASE WHEN t.t IS NULL THEN NULL
          ELSE coalesce(a.text_clean, '') END AS text_clean
      FROM tk t LEFT JOIN agg a USING (rid) ORDER BY t.doc_id"""),
    bench = true)

  /** H4+: epoch-seeded deterministic shuffle + sharding
    * ([[Sampling.epochShuffle]], 8 shards) — the reproducible "global
    * shuffle before training" permutation: shard and dense
    * within-shard position derive only from (epochSeed, doc_id), so
    * the oracle re-derives every position with the same portable
    * hash; a different epoch seed is an independent permutation
    * (pinned in SamplingSpec, not here). */
  private val q104 = Q("q104_epoch_shuffle",
    (s, d) => graft.operators.Sampling.epochShuffle(
        t(s, d, "documents").select(col("doc_id"), col("lang")),
        col("doc_id"), epochSeed = "epoch-0", numShards = 8)
      .orderBy(col("shard"), col("shard_pos")),
    Some(s"""WITH h AS (SELECT doc_id, lang,
        ${sqlPolyHash("'epoch-0' || CAST(doc_id AS VARCHAR) || '#graft-sample'")} AS hh
      FROM documents)
      SELECT doc_id, lang, hh % 8 AS shard,
        row_number() OVER (PARTITION BY hh % 8 ORDER BY hh, doc_id) AS shard_pos
      FROM h ORDER BY shard, shard_pos"""))

  /** H2+/H3 composite: SemDeDup-style semantic dedup keep-list —
    * embedding LSH near-dup pairs ([[Dedup.embeddingPairsLsh]], the
    * q54 path) → connected components → one keeper (min id) per
    * semantic cluster, emitted as a corpus-wide (vec_id, cluster_id,
    * kept) verdict with singletons kept. The oracle recomputes the
    * pairs AND the transitive closure (recursive CTE), so agreement
    * certifies the whole chain end to end. */
  private val q105 = Q("q105_semantic_dedup_keeplist",
    (s, d) => {
      val pairs = Dedup.embeddingPairsLsh(
          emb(s, d), id = "vec_id", vec = "embedding",
          planes = 8, dim = 64, threshold = 0.4)
        .select(col("id_a"), col("id_b"))
      val comp = Dedup.connectedComponents(pairs, "id_a", "id_b")
      // id universe: the RAW table, not emb() — the dim guard references
      // the embedding column and would defeat the id-only column pruning
      // this query's plan test pins (the vectors are validated on the
      // pair-generation side above)
      t(s, d, "embeddings").select(col("vec_id"))
        .join(comp.select(col("id").as("vec_id"), col("cluster_id"),
          col("is_keeper")), Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("cluster_id"), col("vec_id")).as("cluster_id"),
          coalesce(col("is_keeper"), lit(true)).as("kept"))
        .orderBy(col("vec_id"))
    },
    Some(s"""WITH RECURSIVE b AS (SELECT vec_id, embedding, ${sqlLshBucket("e0")} AS bk
        FROM (SELECT vec_id, embedding, embedding AS e0 FROM embeddings)),
      p AS (SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
          ${sqlDot("a.embedding", "b2.embedding")} AS dt,
          sqrt(${sqlDot("a.embedding", "a.embedding")}) * sqrt(${sqlDot("b2.embedding", "b2.embedding")}) AS nn
        FROM b a JOIN b b2 ON a.bk = b2.bk AND a.vec_id < b2.vec_id),
      pr AS (SELECT id_a, id_b FROM p
        WHERE (CASE WHEN nn = 0.0 THEN 0.0 ELSE dt / nn END) >= 0.4),
      und AS (SELECT id_a AS src, id_b AS dst FROM pr
        UNION ALL SELECT id_b, id_a FROM pr),
      reach(src, dst) AS (SELECT src, dst FROM und
        UNION SELECT r.src, u.dst FROM reach r JOIN und u ON r.dst = u.src),
      cl AS (SELECT src AS vec_id, least(src, min(dst)) AS cluster_id
        FROM reach GROUP BY src)
      SELECT e.vec_id, coalesce(cl.cluster_id, e.vec_id) AS cluster_id,
        coalesce(e.vec_id = cl.cluster_id, TRUE) AS kept
      FROM embeddings e LEFT JOIN cl ON e.vec_id = cl.vec_id
      ORDER BY e.vec_id"""),
    bench = true)

  /** H4+: BPE merge-candidate mining — the first step of byte-pair /
    * wordpiece vocabulary induction: count every ADJACENT token pair
    * occurrence (occurrence-level, NOT document frequency — a looping
    * doc legitimately votes many times, unlike q68's per-language df
    * heavy hitters) and rank the top merge candidates. The native
    * `graft_pos_shingles(n=2)` generator emits the pairs in one
    * codegen'd loop; one map-side-combined count and a bounded-heap
    * global cut (`TakeOrderedAndProject`) finish it — the shuffle
    * carries vocabulary²-bounded partial counts, never postings. */
  private val q106 = Q("q106_bigram_merge_candidates",
    (s, d) => t(s, d, "documents")
      .select(explode(positionedShingles(tokens(col("text")), 2)).as("p"))
      .groupBy(col("p.ng").as("pair"))
      .agg(count(lit(1)).as("occurrences"))
      .orderBy(col("occurrences").desc, col("pair"))
      .limit(25),
    Some("""WITH tk AS (SELECT string_split(text, ' ') AS t FROM documents),
      bg AS (SELECT array_to_string(t[p:p+1], ' ') AS pair
             FROM tk, unnest(range(1, len(t))) AS u(p)),
      c AS (SELECT pair, count(*) AS occurrences FROM bg GROUP BY pair)
      SELECT pair, occurrences FROM c
      ORDER BY occurrences DESC, pair LIMIT 25"""),
    bench = true)

  /** H1+/H4: cross-source duplication audit — the |sources|×|sources|
    * shared-distinct-shingle matrix ("how much does source A overlap
    * source B?"), the triage table a corpus team reads before deciding
    * which source to dedup against which. NO posting self-join: shingle
    * postings aggregate to a per-shingle sorted source set (≤ |sources|
    * elements, map-side-deduped `collect_set`), ordered source pairs
    * expand as a pure array projection (the PMI trick), and one
    * map-side-combined count yields the matrix. The ORACLE uses the
    * naive postings⋈postings form — agreement is a differential proof
    * of the projection rewrite. */
  private val q107 = Q("q107_source_overlap_matrix",
    (s, d) => {
      val srcSets = t(s, d, "documents")
        .select(col("source"), explode(shingles(tokens(col("text")), 3)).as("ng"))
        .groupBy(col("ng"))
        .agg(array_sort(collect_set(col("source"))).as("srcs"))
      srcSets
        .select(explode(flatten(transform(col("srcs"), (a, i) =>
          transform(slice(col("srcs"), i + lit(2),
              greatest(size(col("srcs")) - i - 1, lit(0))),
            b => struct(a.as("source_a"), b.as("source_b")))))).as("p"))
        .groupBy(col("p.source_a").as("source_a"), col("p.source_b").as("source_b"))
        .agg(count(lit(1)).as("shared_shingles"))
        .orderBy(col("source_a"), col("source_b"))
    },
    Some(s"""WITH sh AS (SELECT DISTINCT source, ng
        FROM (SELECT source, unnest(${sqlShingles("tk")}) AS ng
          FROM (SELECT source, string_split(text, ' ') AS tk FROM documents))),
      p AS (SELECT a.source AS source_a, b.source AS source_b
        FROM sh a JOIN sh b ON a.ng = b.ng AND a.source < b.source)
      SELECT source_a, source_b, count(*) AS shared_shingles
      FROM p GROUP BY source_a, source_b ORDER BY source_a, source_b"""),
    bench = true)

  /** H4+: per-language quality-quantile gate
    * ([[TextAnalysis.quantileGate]], top 20% by q40's composite
    * quality score, doc_id tie-break) — the FineWeb-style per-stratum
    * keep that an absolute threshold can't express. The ranking runs
    * on the UNROUNDED score: both engines compute the identical IEEE
    * op sequence (q40 pins the formula), so order — and therefore the
    * percent_rank cut — cannot diverge. */
  private val q100 = Q("q100_quality_gate",
    (s, d) => TextAnalysis.quantileGate(
        TextAnalysis.withTextStats(t(s, d, "documents"), col("text")),
        stratum = col("lang"), score = col("quality_score"),
        tieBreak = col("doc_id"), keepFrac = 0.2)
      .select(col("doc_id"), col("lang"),
        r(col("quality_score"), 4).as("quality_score"),
        r(col("pct_rank"), 6).as("pct_rank"))
      .orderBy(col("doc_id")),
    Some("""WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS tk
        FROM documents),
      st AS (SELECT doc_id, lang,
          len(tk) AS n_tokens,
          len(list_distinct(tk)) AS n_dt,
          len(list_filter(tk, x -> x IN ('the','a','of','and','to','in','is'))) AS n_sw
        FROM t),
      sc AS (SELECT doc_id, lang,
          least(1.0, n_tokens / 200.0) * 0.5 + (n_dt::DOUBLE / n_tokens) * 0.3
            + (n_sw::DOUBLE / n_tokens) * 0.2 AS q
        FROM st),
      rk AS (SELECT doc_id, lang, q,
          percent_rank() OVER (PARTITION BY lang ORDER BY q DESC, doc_id) AS pr
        FROM sc)
      SELECT doc_id, lang,
        floor(q * 10000 + 0.5) / 10000.0 AS quality_score,
        floor(pr * 1000000 + 0.5) / 1000000.0 AS pct_rank
      FROM rk WHERE pr <= 0.2 ORDER BY doc_id"""),
    bench = true)

  /** SQL fragment: per-vector symmetric int8 quantization of double
    * list `x` with scale `s` — mirrors `Similarity.withInt8` (zero
    * vector → zeros). */
  private def sqlQ8(x: String, s: String): String =
    s"""CASE WHEN $s = 0.0 THEN list_transform($x, v -> 0.0)
       ELSE list_transform($x, v -> floor(v / $s + 0.5)) END"""

  /** Shared oracle WITH-chain for the unrolled portable k-means
    * (q108 params: k=4, 2 Lloyd iterations, seed "km6") — ends at
    * `a3(vec_id, cid, dist2)`, the final assignment. Shared by q108
    * and q116 so their replayed algorithms can never desynchronize. */
  private def kmeansOracleCte: String = {
    val dvv = sqlDot("v", "v"); val dvc = sqlDot("v", "c"); val dcc = sqlDot("c", "c")
    s"""xq AS (SELECT DISTINCT vec_id,
          list_transform(embedding, x -> floor(x::DOUBLE * 10000.0 + 0.5)) AS v
        FROM embeddings WHERE embedding IS NOT NULL),
      sd AS (SELECT vec_id, v,
          row_number() OVER (ORDER BY
            ${sqlPolyHash("'km6' || CAST(vec_id AS VARCHAR) || '#graft-kmeans'")} % 10000,
            vec_id) - 1 AS cid
        FROM xq),
      c0 AS (SELECT cid, v AS c FROM sd WHERE cid < 4),
      p1 AS (SELECT x.vec_id, x.v, c.cid,
          ($dvv - 2.0 * $dvc + $dcc) AS dist2
        FROM xq x CROSS JOIN c0 c),
      a1 AS (SELECT vec_id, v, cid FROM p1
        QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) = 1),
      u1 AS (SELECT cid, d, sum(v[d]) / count(*) AS m
        FROM a1 CROSS JOIN (SELECT unnest(range(1, 65)) AS d) GROUP BY cid, d),
      c1 AS (SELECT c0.cid, coalesce(u.c, c0.c) AS c
        FROM c0 LEFT JOIN (SELECT cid, list(m ORDER BY d) AS c FROM u1 GROUP BY cid) u
          ON c0.cid = u.cid),
      p2 AS (SELECT x.vec_id, x.v, c.cid,
          ($dvv - 2.0 * $dvc + $dcc) AS dist2
        FROM xq x CROSS JOIN c1 c),
      a2 AS (SELECT vec_id, v, cid FROM p2
        QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) = 1),
      u2 AS (SELECT cid, d, sum(v[d]) / count(*) AS m
        FROM a2 CROSS JOIN (SELECT unnest(range(1, 65)) AS d) GROUP BY cid, d),
      c2 AS (SELECT c1.cid, coalesce(u.c, c1.c) AS c
        FROM c1 LEFT JOIN (SELECT cid, list(m ORDER BY d) AS c FROM u2 GROUP BY cid) u
          ON c1.cid = u.cid),
      p3 AS (SELECT x.vec_id, c.cid,
          ($dvv - 2.0 * $dvc + $dcc) AS dist2
        FROM xq x CROSS JOIN c2 c),
      a3 AS (SELECT vec_id, cid, dist2 FROM p3
        QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) = 1)"""
  }

  /** Shared oracle builders for the unrolled BPE rounds (q120 learn,
    * q121 encode): pair count + argmax for round `i`, and the greedy
    * merge-fold corpus rewrite t(i-1) -> t(i). */
  private def bpeCountCte(i: Int): String =
    s"""p$i AS (SELECT tk[p] AS w1, tk[p+1] AS w2
      FROM t${i - 1}, unnest(range(1, len(tk))) AS u(p)),
    c$i AS (SELECT w1, w2, count(*) AS c FROM p$i GROUP BY w1, w2),
    m$i AS (SELECT w1, w2, c FROM c$i ORDER BY c DESC, w1, w2 LIMIT 1)"""

  // `t.* REPLACE` carries every column of the previous stage through
  // the rewrite (q121 threads source + the raw length alongside tk),
  // so per-ROW identity survives the chain — re-joining `documents` by
  // doc_id at the end would fan out under duplicate-id dirt
  private def bpeRewriteCte(i: Int): String =
    s"""t$i AS (SELECT t.* REPLACE (
      list_reduce(list_prepend([]::VARCHAR[], list_transform(tk, x -> [x])),
        (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = m$i.w1 AND x[1] = m$i.w2
          THEN list_concat(acc[1:len(acc)-1], [m$i.w1 || ' ' || m$i.w2])
          ELSE list_concat(acc, x) END) AS tk)
      FROM t${i - 1} t CROSS JOIN m$i)"""

  /** H2/H3+: portable quantized k-means ([[Clustering.kMeans]], k=4,
    * 2 Lloyd iterations, seeded init) — the semantic-clustering /
    * IVF-training primitive whose EVERY step the oracle re-derives:
    * integral-double quantization makes centroid sums
    * order-independent-exact, so the full iterative algorithm — init,
    * two assignment+update rounds, final assignment — reproduces
    * bit-for-bit in DuckDB (the unrolled CTE below IS the algorithm).
    * Assignment is a narrow per-row argmin over one nested centroid
    * literal: the corpus never shuffles, any iteration, at any scale. */
  private val q108 = Q("q108_kmeans_embeddings",
    (s, d) => Clustering.kMeans(
        // kMeans REFUSES null vectors by contract -> the caller's null law
        emb(s, d).filter(col("embedding").isNotNull),
        col("vec_id"), col("embedding"), k = 4, iters = 2, seed = "km6", dim = 64)
      .select(col("id").as("vec_id"), col("cluster_id"),
        r(col("dist2") / lit(1.0e8), 6).as("dist2"))
      .orderBy(col("vec_id")),
    Some(s"""WITH $kmeansOracleCte
      SELECT vec_id, cid AS cluster_id,
        floor(dist2 / 100000000.0 * 1000000 + 0.5) / 1000000.0 AS dist2
      FROM a3 ORDER BY vec_id"""),
    bench = true)

  /** H4+: DSIR importance log-ratio ([[TextAnalysis.dsirLogRatio]],
    * target = the English slice) — "how much more does this document
    * look like the target domain than like the average of the crawl?"
    * One corpus explode feeds both unigram models (the target count is
    * a conditional sum on the same vocab table); smoothing shares the
    * raw vocabulary so the ratio is total. The oracle rebuilds both
    * models and every per-token ratio. */
  private val q109 = Q("q109_dsir_importance",
    (s, d) => TextAnalysis.dsirLogRatio(
        t(s, d, "documents"), col("doc_id"), col("text"),
        isTarget = col("lang") === "en")
      .select(col("doc_id"), col("n_tokens"),
        r(col("avg_log_ratio"), 4).as("avg_log_ratio"))
      .orderBy(col("doc_id")),
    Some("""WITH toks AS (SELECT doc_id, lang = 'en' AS tgt,
          unnest(string_split(text, ' ')) AS tok
        FROM documents),
      counts AS (SELECT tok, count(*) AS cr,
          sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct
        FROM toks GROUP BY tok),
      tot AS (SELECT CAST(sum(cr) AS DOUBLE) AS tr,
          CAST(sum(ct) AS DOUBLE) AS tt,
          CAST(count(*) AS DOUBLE) AS v
        FROM counts),
      lr AS (SELECT doc_id,
          ln((ct + 1.0) / (tt + 1.0 * v)) - ln((cr + 1.0) / (tr + 1.0 * v)) AS l
        FROM toks JOIN counts USING (tok) CROSS JOIN tot)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        floor(avg(l) * 10000 + 0.5) / 10000.0 AS avg_log_ratio
      FROM lr GROUP BY doc_id ORDER BY doc_id"""),
    bench = true)

  /** H3/H4+: hybrid retrieval via reciprocal-rank fusion
    * ([[TextAnalysis.rrfFuse]]): the BM25 lexical ranking (q91's
    * terms) ⊕ the dense cosine ranking around query document 7
    * (doc_id ≡ vec_id in the testdata) — the standard two-tower
    * retrieval combiner, needing no score calibration. Both rank
    * lists are top-50 slivers; the fusion aggregates 100 rows — the
    * corpus is touched once per tower and never again. Two-list RRF
    * sums are commutative-exact, so the fused ordering is
    * bit-portable. */
  private val q110 = Q("q110_rrf_hybrid",
    (s, d) => {
      val docs = t(s, d, "documents")
      val emb = Queries.emb(s, d)
      val bm = TextAnalysis.bm25TopDocs(docs, col("doc_id"), col("text"),
          terms = Seq("spark", "window", "hash"), k = 50, withRank = true)
        .select(col("doc_id"), col("rank"))
      val vec = Similarity.bruteForceTopK(
          emb.filter(col("vec_id") === 7)
            .select(col("vec_id").as("q_id"), col("embedding").as("q_vec")),
          emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec")),
          k = 50)
        .select(col("c_id").as("doc_id"), col("rank"))
      TextAnalysis.rrfFuse(Seq(bm, vec), k0 = 60)
        .select(col("doc_id"), r(col("rrf_score"), 6).as("rrf_score"),
          col("n_lists"))
        .orderBy(col("rrf_score").desc, col("doc_id"))
        .limit(20)
    },
    Some(s"""WITH docs AS (SELECT doc_id, string_split(text, ' ') AS tk
        FROM documents),
      dl0 AS (SELECT doc_id, len(tk)::DOUBLE AS dl FROM docs),
      stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl0),
      dl AS (SELECT DISTINCT doc_id, dl FROM dl0),
      tf AS (SELECT doc_id, tok AS term, count(*)::DOUBLE AS tf
        FROM (SELECT doc_id, unnest(tk) AS tok FROM docs)
        WHERE tok IN ('spark', 'window', 'hash') GROUP BY doc_id, tok),
      dft AS (SELECT *, (count(*) OVER (PARTITION BY term))::DOUBLE AS df
        FROM tf),
      w AS (SELECT doc_id,
          ln((n - df + 0.5) / (df + 0.5) + 1.0) * tf * 2.2
            / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS w
        FROM dft JOIN dl USING (doc_id) CROSS JOIN stats),
      bm AS (SELECT doc_id, floor(sum(w) * 10000 + 0.5) / 10000.0 AS score
        FROM w GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 50),
      bmr AS (SELECT doc_id,
          row_number() OVER (ORDER BY score DESC, doc_id) AS rank FROM bm),
      qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 7),
      cs AS (SELECT vec_id,
          CASE WHEN sqrt(${sqlDot("q", "q")}) * sqrt(${sqlDot("embedding", "embedding")}) = 0.0
            THEN 0.0
            ELSE ${sqlDot("q", "embedding")}
              / (sqrt(${sqlDot("q", "q")}) * sqrt(${sqlDot("embedding", "embedding")})) END AS cos
        FROM embeddings CROSS JOIN qv WHERE vec_id <> 7),
      vr AS (SELECT vec_id AS doc_id,
          row_number() OVER (ORDER BY cos DESC, vec_id) AS rank
        FROM cs QUALIFY rank <= 50),
      un AS (SELECT doc_id, rank FROM bmr UNION ALL SELECT doc_id, rank FROM vr),
      f AS (SELECT doc_id, sum(1.0 / (60.0 + rank)) AS s0,
          count(*) AS n_lists
        FROM un GROUP BY doc_id)
      SELECT doc_id, floor(s0 * 1000000 + 0.5) / 1000000.0 AS rrf_score, n_lists
      FROM f ORDER BY rrf_score DESC, doc_id LIMIT 20"""),
    bench = true)

  /** H3+: int8 quantization fidelity ([[Similarity.int8Metrics]]) —
    * per-vector scale, squared reconstruction error and
    * reconstruction cosine for the 4×-memory embedding store. Every
    * lane is a fixed IEEE op sequence (max/127 scale, half-up
    * quantize, dot-identity SSE), so the oracle reproduces all 500
    * rows exactly. Narrow per-row pass — no shuffle at any scale. */
  private val q111 = Q("q111_int8_metrics",
    (s, d) => Similarity.int8Metrics(
        emb(s, d), col("vec_id"), col("embedding"))
      .select(col("id").as("vec_id"), r(col("q_scale"), 6).as("q_scale"),
        r(col("sse"), 6).as("sse"), r(col("cos_recon"), 6).as("cos_recon"))
      .orderBy(col("vec_id")),
    {
      val dxx = sqlDot("x", "x"); val dxh = sqlDot("x", "xh"); val dhh = sqlDot("xh", "xh")
      Some(s"""WITH xd AS (SELECT vec_id,
          list_transform(embedding, x -> x::DOUBLE) AS x FROM embeddings),
      sc AS (SELECT vec_id, x,
          list_max(list_transform(x, v -> abs(v))) / 127.0 AS s FROM xd),
      q AS (SELECT vec_id, x, s, ${sqlQ8("x", "s")} AS q8 FROM sc),
      h AS (SELECT vec_id, x, s,
          list_transform(q8, v -> v * s) AS xh FROM q)
      SELECT vec_id,
        floor(s * 1000000 + 0.5) / 1000000.0 AS q_scale,
        floor(($dxx - 2.0 * $dxh + $dhh) * 1000000 + 0.5) / 1000000.0 AS sse,
        floor((CASE WHEN sqrt($dxx) * sqrt($dhh) = 0.0 THEN 0.0
          ELSE $dxh / (sqrt($dxx) * sqrt($dhh)) END) * 1000000 + 0.5) / 1000000.0
          AS cos_recon
      FROM h ORDER BY vec_id""")
    })

  /** H3+: brute-force ANN in QUANTIZED space
    * ([[Similarity.int8BruteForceTopK]], 5 queries × top-10) with the
    * exact cosine of every surviving pair alongside — per-pair
    * quantization error as a driver-visible artifact (the
    * `ivfTopKWithRecall` recall pattern applied to quantization). The quantized ranking runs on
    * integral doubles, so rank order is bit-portable by construction,
    * not merely by shared op sequence. */
  private val q112 = Q("q112_similarity_quantized_topk",
    (s, d) => {
      val emb = Queries.emb(s, d)
      Similarity.int8BruteForceTopK(
          emb.filter(col("vec_id") < 5)
            .select(col("vec_id").as("q_id"), col("embedding").as("q_vec")),
          emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec")),
          k = 10)
        .orderBy(col("q_id"), col("rank"))
    },
    {
      val dqq = sqlDot("qq", "qq"); val dcc = sqlDot("cq", "cq")
      val dqc = sqlDot("qq", "cq")
      val dxq = sqlDot("qx", "qx"); val dxc = sqlDot("cx", "cx")
      val dqx = sqlDot("qx", "cx")
      Some(s"""WITH xd AS (SELECT vec_id,
          list_transform(embedding, x -> x::DOUBLE) AS x FROM embeddings
          WHERE embedding IS NOT NULL),
      sc AS (SELECT vec_id, x,
          list_max(list_transform(x, v -> abs(v))) / 127.0 AS s FROM xd),
      q8t AS (SELECT vec_id, x, ${sqlQ8("x", "s")} AS q8 FROM sc),
      qs AS (SELECT vec_id AS q_id, x AS qx, q8 AS qq FROM q8t WHERE vec_id < 5),
      cs AS (SELECT vec_id AS c_id, x AS cx, q8 AS cq FROM q8t),
      p AS (SELECT q_id, c_id,
          CASE WHEN sqrt($dqq) * sqrt($dcc) = 0.0 THEN 0.0
            ELSE $dqc / (sqrt($dqq) * sqrt($dcc)) END AS cq8,
          CASE WHEN sqrt($dxq) * sqrt($dxc) = 0.0 THEN 0.0
            ELSE $dqx / (sqrt($dxq) * sqrt($dxc)) END AS ce
        FROM qs CROSS JOIN cs WHERE q_id <> c_id),
      rk AS (SELECT q_id, c_id, cq8, ce,
          row_number() OVER (PARTITION BY q_id ORDER BY cq8 DESC, c_id) AS rank
        FROM p)
      SELECT q_id, rank, c_id,
        floor(cq8 * 10000 + 0.5) / 10000.0 AS cos_q8,
        floor(ce * 10000 + 0.5) / 10000.0 AS cos_exact
      FROM rk WHERE rank <= 10 ORDER BY q_id, rank""")
    },
    bench = true)

  /** H1+/F1+: leakage-safe train/val/test split
    * ([[graft.operators.Sampling.leakageSafeSplit]]) — near-dup
    * components (q105's embedding-LSH pair graph) assigned WHOLE to
    * one split by hashing the component representative, so no
    * near-duplicate pair ever straddles train and test. The oracle
    * re-derives the pair graph, the transitive closure (recursive
    * CTE), and every hash assignment — certifying both the component
    * chain and the non-straddle property end to end. */
  private val q113 = Q("q113_leakage_safe_split",
    (s, d) => {
      val emb = Queries.emb(s, d)
      val pairs = Dedup.embeddingPairsLsh(
          emb, id = "vec_id", vec = "embedding",
          planes = 8, dim = 64, threshold = 0.4)
        .select(col("id_a"), col("id_b"))
      graft.operators.Sampling.leakageSafeSplit(
          // raw table for the id universe: keeps the scan pruned to
          // vec_id (the guard on emb would force an embedding read)
          t(s, d, "embeddings").select(col("vec_id")), col("vec_id"), pairs,
          idA = "id_a", idB = "id_b", seed = "r6leak",
          weights = Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
        .select(col("vec_id"), col("cluster_id"), col("split"))
        .orderBy(col("vec_id"))
    },
    Some(s"""WITH RECURSIVE b AS (SELECT vec_id, embedding, ${sqlLshBucket("e0")} AS bk
        FROM (SELECT vec_id, embedding, embedding AS e0 FROM embeddings)),
      p AS (SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
          ${sqlDot("a.embedding", "b2.embedding")} AS dt,
          sqrt(${sqlDot("a.embedding", "a.embedding")}) * sqrt(${sqlDot("b2.embedding", "b2.embedding")}) AS nn
        FROM b a JOIN b b2 ON a.bk = b2.bk AND a.vec_id < b2.vec_id),
      pr AS (SELECT id_a, id_b FROM p
        WHERE (CASE WHEN nn = 0.0 THEN 0.0 ELSE dt / nn END) >= 0.4),
      und AS (SELECT id_a AS src, id_b AS dst FROM pr
        UNION ALL SELECT id_b, id_a FROM pr),
      reach(src, dst) AS (SELECT src, dst FROM und
        UNION SELECT r.src, u.dst FROM reach r JOIN und u ON r.dst = u.src),
      cl AS (SELECT src AS vec_id, least(src, min(dst)) AS cluster_id
        FROM reach GROUP BY src),
      asg AS (SELECT e.vec_id, coalesce(cl.cluster_id, e.vec_id) AS cluster_id
        FROM embeddings e LEFT JOIN cl ON e.vec_id = cl.vec_id)
      SELECT vec_id, cluster_id,
        CASE WHEN ${sqlPolyHash("'r6leak' || CAST(cluster_id AS VARCHAR) || '#graft-sample'")} % 10000 < 8000 THEN 'train'
             WHEN ${sqlPolyHash("'r6leak' || CAST(cluster_id AS VARCHAR) || '#graft-sample'")} % 10000 < 9000 THEN 'val'
             ELSE 'test' END AS split
      FROM asg ORDER BY vec_id"""))

  /** H4+: interpolated bigram-LM quality scoring
    * ([[TextAnalysis.bigramLogProb]], λ=0.7, add-1 unigram smoothing)
    * — the perplexity filter one modeling step past q83: word-order
    * now matters ("the of the of" scores badly even when its unigrams
    * are common). λ and 1−λ are both spelled as the same IEEE ops in
    * both engines (the SQL writes `(1.0 - 0.7)`, not `0.3` — those
    * differ in the last ulp). Benched: two corpus explodes + a
    * posting-sized scoring join is the at-scale shape to watch. */
  private val q114 = Q("q114_bigram_logprob",
    (s, d) => TextAnalysis.bigramLogProb(
        t(s, d, "documents"), col("doc_id"), col("text"), lambda = 0.7)
      .select(col("doc_id"), col("n_bigrams"),
        r(col("avg_logprob"), 4).as("avg_logprob"))
      .orderBy(col("doc_id")),
    Some("""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      bg AS (SELECT doc_id, t[p] AS w1, t[p+1] AS w2,
          array_to_string(t[p:p+1], ' ') AS pair
        FROM tk, unnest(range(1, len(t))) AS u(p)),
      c2 AS (SELECT pair, count(*) AS c2 FROM bg GROUP BY pair),
      c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
      cu AS (SELECT tok, count(*) AS cu
        FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        GROUP BY tok),
      tot AS (SELECT CAST(sum(cu) AS DOUBLE) AS t, CAST(count(*) AS DOUBLE) AS v
        FROM cu),
      lp AS (SELECT bg.doc_id,
          ln(0.7 * (c2.c2::DOUBLE / c1.c1)
            + (1.0 - 0.7) * ((cu.cu + 1.0) / (tot.t + 1.0 * tot.v))) AS l
        FROM bg JOIN c2 USING (pair) JOIN c1 USING (w1)
          JOIN cu ON bg.w2 = cu.tok CROSS JOIN tot)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        floor(avg(l) * 10000 + 0.5) / 10000.0 AS avg_logprob
      FROM lp GROUP BY doc_id ORDER BY doc_id"""),
    bench = true)

  /** H4+: vocabulary-coverage / OOV-rate gate ([[TextAnalysis.oovRate]],
    * V=200, gate at 50%) — the tokenizer-fit check before committing a
    * corpus to a fixed vocabulary. The top-V cut rides the bounded-heap
    * sort-limit; `oov_rate` is an exact small-integer ratio, so the
    * boolean gate cannot flip between engines. */
  private val q115 = Q("q115_oov_rate",
    (s, d) => TextAnalysis.oovRate(
        t(s, d, "documents"), col("doc_id"), col("text"),
        vocabSize = 200, maxOovRate = 0.5)
      .select(col("doc_id"), col("n_tokens"),
        r(col("oov_rate"), 6).as("oov_rate"), col("keep"))
      .orderBy(col("doc_id")),
    Some("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents),
      c AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
      v AS (SELECT tok FROM c ORDER BY c DESC, tok LIMIT 200),
      j AS (SELECT t.doc_id,
          CASE WHEN v.tok IS NULL THEN 1.0 ELSE 0.0 END AS oov
        FROM toks t LEFT JOIN v ON t.tok = v.tok)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        floor(avg(oov) * 1000000 + 0.5) / 1000000.0 AS oov_rate,
        avg(oov) <= 0.5 AS keep
      FROM j GROUP BY doc_id ORDER BY doc_id"""))

  /** H2+/H4+: cluster-balanced sampling — q108's k-means assignments
    * fed through [[graft.operators.Sampling.stratumSample]] (20 per
    * cluster, seeded): the topic-balanced subset move (SemDeDup /
    * cluster-pruning pipelines) that keeps rare clusters represented
    * no matter how skewed the corpus. The oracle replays the full
    * unrolled k-means AND the per-cluster hash cut. */
  private val q116 = Q("q116_cluster_balanced_sample",
    (s, d) => graft.operators.Sampling.stratumSample(
        Clustering.kMeans(
          emb(s, d).filter(col("embedding").isNotNull),  // kMeans refuses nulls
          col("vec_id"), col("embedding"), k = 4, iters = 2,
          seed = "km6", dim = 64),
        stratum = col("cluster_id"), key = col("id"), n = 20, seed = "cb6")
      .select(col("id").as("vec_id"), col("cluster_id"), col("smp_rank"))
      .orderBy(col("vec_id")),
    Some(s"""WITH $kmeansOracleCte,
      sm AS (SELECT vec_id, cid,
          row_number() OVER (PARTITION BY cid ORDER BY
            ${sqlPolyHash("'cb6' || CAST(vec_id AS VARCHAR) || '#graft-sample'")},
            vec_id) AS smp_rank
        FROM a3)
      SELECT vec_id, cid AS cluster_id, smp_rank
      FROM sm WHERE smp_rank <= 20 ORDER BY vec_id"""))

  /** H4+/G+: end-to-end corpus materialization manifest — the capstone
    * composition a training run actually consumes: absolute quality
    * gate (q40's score ≥ 0.29 — the synthetic corpus scores 0.20-0.36,
    * so the gate keeps roughly the upper half) → exact dedup keepers →
    * seeded 90/5/5
    * split, train slice → epoch-shuffle shard assignment (8 shards) →
    * per-shard manifest (docs, tokens). Every stage is one of the
    * engine's deterministic primitives, so the WHOLE pipeline is
    * hash-checkable — the oracle recomputes gate, dedup, split, and
    * shard assignment from scratch. Benched: this is the "write the
    * training corpus" path whose shape (gate-projection → one dedup
    * exchange → pure-projection split/shard → shard-sized agg) must
    * hold at 100 TB. */
  private val q117 = Q("q117_corpus_manifest",
    (s, d) => {
      val gated = TextAnalysis.withTextStats(t(s, d, "documents"), col("text"))
        .filter(col("quality_score") >= 0.29)
      val kept = Dedup.exact(gated, col("doc_id"), col("text"))
        .filter(!col("is_dup"))
      val train = graft.operators.Sampling.seededSplit(
          kept, col("doc_id"), seed = "r6mix",
          weights = Seq(("train", 0.9), ("val", 0.05), ("test", 0.05)))
        .filter(col("split") === "train")
      graft.operators.Sampling.epochShuffle(
          train, col("doc_id"), epochSeed = "ep1", numShards = 8)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
        .orderBy(col("shard"))
    },
    Some(s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS tk
        FROM documents),
      st AS (SELECT doc_id, text, len(tk) AS n_tokens,
          len(list_distinct(tk)) AS n_dt,
          len(list_filter(tk, x -> x IN ('the','a','of','and','to','in','is'))) AS n_sw
        FROM t),
      g AS (SELECT doc_id, text, n_tokens FROM st
        WHERE least(1.0, n_tokens / 200.0) * 0.5 + (n_dt::DOUBLE / n_tokens) * 0.3
          + (n_sw::DOUBLE / n_tokens) * 0.2 >= 0.29),
      k AS (SELECT doc_id, n_tokens FROM (SELECT doc_id, n_tokens,
          row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM g)
        WHERE rn = 1),
      tr AS (SELECT doc_id, n_tokens FROM k
        WHERE ${sqlPolyHash("'r6mix' || CAST(doc_id AS VARCHAR) || '#graft-sample'")} % 10000 < 9000),
      sh AS (SELECT n_tokens,
          ${sqlPolyHash("'ep1' || CAST(doc_id AS VARCHAR) || '#graft-sample'")} % 8 AS shard
        FROM tr)
      SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(n_tokens) AS BIGINT) AS n_tokens
      FROM sh GROUP BY shard ORDER BY shard"""),
    bench = true)

  /** H4+: token-budget training mix
    * ([[graft.operators.Sampling.trainingMixTokens]], 8 000 tokens at
    * en 50 / es 30 / de 20) — quotas in TOKENS, the unit a pretraining
    * mix is actually specified in. Each language keeps its
    * best-quality prefix whose inclusive token sum fits the quota
    * (documents don't split, so the mix underruns rather than
    * overruns). Ranking runs on the UNROUNDED q40 score (identical
    * IEEE op sequence both engines — the q100 precedent). */
  private val q119 = Q("q119_token_budget_mix",
    (s, d) => graft.operators.Sampling.trainingMixTokens(
        TextAnalysis.withTextStats(t(s, d, "documents"), col("text")),
        stratum = col("lang"), weight = col("n_tokens"),
        rankBy = col("quality_score"), tieBreak = col("doc_id"),
        budgetTokens = 8000L,
        shares = Seq(("en", 0.5), ("es", 0.3), ("de", 0.2)))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("cum_tokens"))
      .orderBy(col("doc_id")),
    Some("""WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS tk
        FROM documents),
      st AS (SELECT doc_id, lang, len(tk) AS n_tokens,
          len(list_distinct(tk)) AS n_dt,
          len(list_filter(tk, x -> x IN ('the','a','of','and','to','in','is'))) AS n_sw
        FROM t),
      sc AS (SELECT doc_id, lang, n_tokens,
          least(1.0, n_tokens / 200.0) * 0.5 + (n_dt::DOUBLE / n_tokens) * 0.3
            + (n_sw::DOUBLE / n_tokens) * 0.2 AS q
        FROM st),
      cum AS (SELECT doc_id, lang, n_tokens,
          sum(n_tokens) OVER (PARTITION BY lang ORDER BY q DESC, doc_id
            ROWS UNBOUNDED PRECEDING) AS cum_tokens
        FROM sc WHERE n_tokens IS NOT NULL)
      SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
        CAST(cum_tokens AS BIGINT) AS cum_tokens
      FROM cum
      WHERE cum_tokens <= CASE lang WHEN 'en' THEN 4000
        WHEN 'es' THEN 2400 WHEN 'de' THEN 1600 ELSE 0 END
      ORDER BY doc_id"""))

  /** H4+: iterative BPE vocabulary induction
    * ([[TextAnalysis.learnBpeMerges]], 3 merges) — the actual
    * tokenizer TRAINER (q106 mined one round of candidates; this
    * loops: count adjacent pairs → argmax → greedy corpus rewrite).
    * The oracle UNROLLS all three rounds in DuckDB — pair counts,
    * argmax, and the greedy left-to-right merge fold replayed
    * list_reduce-for-aggregate — so the learned vocabulary is proven
    * engine-portable, not just plausible. Benched: 3 × (vocab²-bounded
    * pair count + narrow rewrite + corpus barrier) is the tokenizer-
    * training cost shape to watch at scale. */
  private val q120 = Q("q120_bpe_learn",
    (s, d) => TextAnalysis.learnBpeMerges(
        t(s, d, "documents"), col("text"), nMerges = 3)
      .select(col("merge_rank"), col("pair"), col("occurrences"))
      .orderBy(col("merge_rank")),
    Some(s"""WITH t0 AS (SELECT doc_id, string_split(text, ' ') AS tk
          FROM documents),
        ${bpeCountCte(1)}, ${bpeRewriteCte(1)},
        ${bpeCountCte(2)}, ${bpeRewriteCte(2)},
        ${bpeCountCte(3)}
        SELECT 1::BIGINT AS merge_rank, w1 || ' ' || w2 AS pair, c AS occurrences FROM m1
        UNION ALL
        SELECT 2::BIGINT, w1 || ' ' || w2, c FROM m2
        UNION ALL
        SELECT 3::BIGINT, w1 || ' ' || w2, c FROM m3
        ORDER BY merge_rank"""),
    bench = true)

  /** H4+: BPE encode — q120's learned merges applied back to the
    * corpus ([[TextAnalysis.applyBpeMerges]], a shuffle-free stack of
    * native merge folds) and the per-source compression reported:
    * raw whitespace tokens vs BPE symbols. Closes the tokenizer loop
    * (learn → encode) as ONE oracle-checked artifact: the oracle
    * re-learns all three merges and replays the encode, so Spark's
    * learned vocabulary, its application, and the resulting counts
    * all have to agree with DuckDB's. The encode itself touches the
    * corpus once; the 3-row merge table is the only driver traffic. */
  private val q121 = Q("q121_bpe_encode",
    (s, d) => {
      val docs = t(s, d, "documents")
      val merges = TextAnalysis.learnBpeMerges(docs, col("text"), nMerges = 3)
        .orderBy(col("merge_rank"))
        .select(col("w1"), col("w2"))
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      docs.select(col("source"),
          size(tokens(col("text"))).cast("long").as("_n0"),
          size(TextAnalysis.applyBpeMerges(tokens(col("text")), merges))
            .cast("long").as("_n1"))
        .groupBy(col("source"))
        .agg(sum(col("_n0")).as("tokens_raw"),
          sum(col("_n1")).as("symbols_bpe"))
        .orderBy(col("source"))
    },
    Some(s"""WITH t0 AS (SELECT doc_id, source,
            len(string_split(text, ' ')) AS n_raw,
            string_split(text, ' ') AS tk
          FROM documents),
        ${bpeCountCte(1)}, ${bpeRewriteCte(1)},
        ${bpeCountCte(2)}, ${bpeRewriteCte(2)},
        ${bpeCountCte(3)}, ${bpeRewriteCte(3)}
        SELECT source,
          CAST(sum(n_raw) AS BIGINT) AS tokens_raw,
          CAST(sum(len(tk)) AS BIGINT) AS symbols_bpe
        FROM t3 GROUP BY source ORDER BY source"""),
    bench = true)

  /** H3+: hard-negative mining ([[Similarity.hardNegatives]], 10
    * queries × top-3 in the cosine band [0.05, 0.4)) — the
    * contrastive-training-data recipe: same-LSH-bucket candidates
    * that are confusable but provably not near-dups (the band's upper
    * edge IS q105/q113's dedup threshold, so no mined negative can be
    * something dedup would have fused). The oracle rebuilds buckets,
    * cosines, band, and the per-query rounded-cosine cut. */
  private val q122 = Q("q122_hard_negatives",
    (s, d) => {
      val emb = Queries.emb(s, d)
      graft.operators.Similarity.hardNegatives(
          emb.filter(col("vec_id") < 10)
            .select(col("vec_id").as("q_id"), col("embedding").as("q_vec")),
          emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec")),
          k = 3, loCos = 0.05, hiCos = 0.4, planes = 8, dim = 64)
        .orderBy(col("q_id"), col("neg_rank"))
    },
    Some(s"""WITH b AS (SELECT vec_id, embedding, ${sqlLshBucket("e0")} AS bk,
          sqrt(${sqlDot("e0", "e0")}) AS nrm
        FROM (SELECT vec_id, embedding, embedding AS e0 FROM embeddings)),
      p AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
          CASE WHEN q.nrm * c.nrm = 0.0 THEN 0.0
            ELSE ${sqlDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm) END AS cos
        FROM b q JOIN b c ON q.bk = c.bk AND q.vec_id <> c.vec_id
        WHERE q.vec_id < 10),
      band AS (SELECT q_id, c_id,
          floor(cos * 10000 + 0.5) / 10000.0 AS cos_r
        FROM p WHERE cos >= 0.05 AND cos < 0.4),
      rk AS (SELECT q_id, c_id, cos_r,
          row_number() OVER (PARTITION BY q_id ORDER BY cos_r DESC, c_id) AS neg_rank
        FROM band)
      SELECT q_id, neg_rank, c_id, cos_r AS cos
      FROM rk WHERE neg_rank <= 3 ORDER BY q_id, neg_rank"""))

  /** D+ sketches, point-query side ([[graft.operators.Sketches]]):
    * Count-Min heavy hitters — the exact global top-20 tokens (q68's
    * family) probed against a 3×2048 CMS built from the SAME per-token
    * count table (one corpus scan feeds both branches; the sketch
    * aggregation's output is ≤ depth×width cells, the 100 TB path
    * where the exact count table itself is the bottleneck). Two
    * in-plan gates, q89-style: CMS must never undercount, and the
    * overcount must respect the (e/width)·N bound — the oracle pins
    * both TRUE and recomputes every estimate bit for bit (portable
    * polyHash + fixed affine mixers), so a degraded sketch flips a
    * hash-checked row. The gate is live, not vacuous: probed at
    * width 256 the same query VIOLATES the bound on 1-2 of the 20
    * keys at every SF (heavy top tokens colliding), so a sketch
    * misconfiguration would turn this row red. */
  private val q123 = Q("q123_cms_heavy_hitters",
    (s, d) => {
      val width = 2048
      // ONE corpus scan: the vocab-sized count table is barriered and
      // feeds all three consumers (sketch cells, total mass, exact
      // top-k) — without the barrier Catalyst replans the corpus
      // explode+count under each branch (probed: 3 parquet scans)
      val counts = OpUtils.barrier(t(s, d, "documents")
        .select(explode(tokens(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("cnt")))
      val cms = graft.operators.Sketches.cmsFromCounts(
        counts, col("tok"), col("cnt"), width = width)
      val total = broadcast(counts.agg(sum(col("cnt")).cast("double").as("_n")))
      val topk = counts.orderBy(col("cnt").desc, col("tok")).limit(20)
      graft.operators.Sketches.cmsEstimate(topk, cms, col("tok"), width = width)
        .crossJoin(total)
        .select(col("tok"), col("cnt"), col("cms_est"),
          (col("cms_est") >= col("cnt")).as("never_under"),
          ((col("cms_est") - col("cnt")).cast("double")
            <= lit(2.718281828459045) * col("_n") / width).as("within_bound"))
        .orderBy(col("cnt").desc, col("tok"))
    },
    Some(s"""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS tok
        FROM documents),
      cnts AS (SELECT tok, count(*)::BIGINT AS cnt FROM tok GROUP BY tok),
      h AS (SELECT tok, cnt, ${sqlPolyHash("tok")} AS hh FROM cnts),
      m(i, a, b) AS (VALUES (0, 31, 7), (1, 37, 11), (2, 41, 13)),
      cells AS (SELECT i, ((a * hh + b) % 1000000007) % 2048 AS bucket,
          sum(cnt)::BIGINT AS ccnt
        FROM h CROSS JOIN m GROUP BY 1, 2),
      top AS (SELECT tok, cnt, hh FROM h ORDER BY cnt DESC, tok LIMIT 20),
      probe AS (SELECT t.tok, t.cnt, min(c.ccnt)::BIGINT AS cms_est
        FROM top t CROSS JOIN m
        JOIN cells c ON c.i = m.i
          AND c.bucket = ((m.a * t.hh + m.b) % 1000000007) % 2048
        GROUP BY t.tok, t.cnt)
      SELECT tok, cnt, cms_est, TRUE AS never_under, TRUE AS within_bound
      FROM probe ORDER BY cnt DESC, tok"""),
    bench = true)

  /** D+/H1+ sketches: KMV-estimated source overlap — q107's exact
    * shared-shingle matrix re-answered from bottom-k(128) distinct
    * sketches ([[graft.operators.Sketches.bottomK]], a per-source
    * `row_number` cut) with the exact Jaccard
    * computed alongside and an accuracy gate pinned TRUE by the
    * oracle (measured max |est − exact| ≈ 0.15 across SFs; gate 0.2).
    * At 100 TB the exact matrix shuffles every distinct (source,
    * shingle) posting; the sketch path's pair join touches
    * |sources|² lists of 128 longs. Exactness is at HASH granularity
    * on both sides (collisions at the 10^9 domain are negligible and
    * identical in both engines). The estimate itself is also
    * hash-checked — the oracle rebuilds the bottom-k lists value for
    * value — so this row verifies the sketch, the estimator, and the
    * gate at once. */
  private val q124 = Q("q124_source_overlap_kmv",
    (s, d) => {
      val k = 128
      // ONE corpus scan: the distinct (source, hash) posting table is
      // barriered and feeds sketch, sizes, and exact-intersection
      // branches (probed: 5 parquet scans without the barriers); the
      // tiny bottom-k lists barrier too — the pair join consumes them
      // twice (build and probe)
      val sh = OpUtils.barrier(t(s, d, "documents")
        .select(col("source"), explode(shingles(tokens(col("text")), 3)).as("ng"))
        .select(col("source"), polyHash(col("ng")).as("h")).distinct())
      val lists = OpUtils.barrier(graft.operators.Sketches.bottomK(sh, col("source"), col("h"), k))
      val est = graft.operators.Sketches.kmvJaccard(lists, k)
      val sizes = sh.groupBy(col("source")).agg(count(lit(1)).as("n"))
      // exact shared counts via q107's no-self-join projection rewrite
      val srcSets = sh.groupBy(col("h"))
        .agg(array_sort(collect_set(col("source"))).as("srcs"))
      val inter = srcSets.select(explode(flatten(transform(col("srcs"), (a, i) =>
          transform(slice(col("srcs"), i + lit(2),
              greatest(size(col("srcs")) - i - 1, lit(0))),
            b => struct(a.as("sa"), b.as("sb")))))).as("p"))
        .groupBy(col("p.sa").as("sa"), col("p.sb").as("sb"))
        .agg(count(lit(1)).as("shared"))
      est
        .join(inter,
          col("grp_a") === col("sa") && col("grp_b") === col("sb"), "left")
        .join(broadcast(sizes.select(col("source").as("_s1"), col("n").as("na"))),
          col("grp_a") === col("_s1"))
        .join(broadcast(sizes.select(col("source").as("_s2"), col("n").as("nb"))),
          col("grp_b") === col("_s2"))
        .withColumn("shared", coalesce(col("shared"), lit(0L)))
        .withColumn("_exact",
          col("shared").cast("double") / (col("na") + col("nb") - col("shared")))
        .select(col("grp_a").as("source_a"), col("grp_b").as("source_b"),
          r(col("est_jaccard"), 4).as("est_jaccard"),
          r(col("_exact"), 4).as("exact_jaccard"),
          (abs(col("est_jaccard") - col("_exact")) <= 0.2).as("within_bound"))
        .orderBy(col("source_a"), col("source_b"))
    },
    Some(s"""WITH sh AS (SELECT DISTINCT source, ${sqlPolyHash("ng")} AS h
        FROM (SELECT source, unnest(${sqlShingles("tk")}) AS ng
          FROM (SELECT source, string_split(text, ' ') AS tk FROM documents))),
      bot AS (SELECT source, h FROM (SELECT source, h,
          row_number() OVER (PARTITION BY source ORDER BY h) AS rn FROM sh)
        WHERE rn <= 128),
      lists AS (SELECT source, list_sort(list(h)) AS hs FROM bot GROUP BY source),
      sz AS (SELECT source, count(*)::BIGINT AS n FROM sh GROUP BY source),
      inter AS (SELECT x.source AS sa, y.source AS sb, count(*)::BIGINT AS shared
        FROM sh x JOIN sh y ON x.h = y.h AND x.source < y.source
        GROUP BY 1, 2),
      pairs AS (SELECT a.source AS sa, b.source AS sb, a.hs AS ha, b.hs AS hb
        FROM lists a JOIN lists b ON a.source < b.source),
      kmv AS (SELECT sa, sb,
          list_sort(list_distinct(list_concat(ha, hb)))[1:128] AS u, ha, hb
        FROM pairs),
      est AS (SELECT sa, sb,
          len(list_intersect(u, list_intersect(ha, hb)))::DOUBLE / len(u) AS ej
        FROM kmv),
      j AS (SELECT e.sa, e.sb, ej, coalesce(i.shared, 0) AS shared,
          za.n AS na, zb.n AS nb
        FROM est e LEFT JOIN inter i ON e.sa = i.sa AND e.sb = i.sb
        JOIN sz za ON za.source = e.sa JOIN sz zb ON zb.source = e.sb)
      SELECT sa AS source_a, sb AS source_b,
        floor(ej * 10000 + 0.5) / 10000.0 AS est_jaccard,
        floor(shared::DOUBLE / (na + nb - shared) * 10000 + 0.5) / 10000.0
          AS exact_jaccard,
        TRUE AS within_bound
      FROM j ORDER BY source_a, source_b"""),
    bench = true)

  /** H1+/H4+: chunk-level exact dedup with document reassembly — the
    * PARAGRAPH-boilerplate removal move (headers, footers, licence
    * blocks duplicated across documents): chunk every document into
    * 50-token windows, keep only each distinct chunk's FIRST global
    * occurrence (ordered by (doc_id, chunk_idx) — deterministic), and
    * rebuild each document from its surviving chunks. Exact duplicate
    * documents come out with n_kept = 0 (their every chunk lost the
    * race to the original).
    *
    * Plan shape: the chunk explode is a pure projection behind the
    * scan; ONE hash exchange on chunk_text ranks occurrences; ONE
    * doc-keyed aggregation both counts and reassembles (kept chunks
    * collapse through a sorted struct array — no rejoin, no second
    * corpus pass). The md5 of the reassembled text makes the whole
    * reassembly hash-checkable. */
  private val q125 = Q("q125_chunk_dedup",
    (s, d) => {
      val chunks = graft.operators.Chunking.chunk(
          t(s, d, "documents").select(col("doc_id"), col("text")),
          col("text"), chunkTokens = 50)
        .select(col("doc_id"), col("chunk_idx"), col("chunk_text"))
      val w = Window.partitionBy(col("chunk_text"))
        .orderBy(col("doc_id"), col("chunk_idx"))
      chunks.withColumn("rn", row_number().over(w))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
          concat_ws(" ", transform(array_sort(collect_list(
            when(col("rn") === 1,
              struct(col("chunk_idx"), col("chunk_text"))))),
            x => x.getField("chunk_text"))).as("_txt"))
        .select(col("doc_id"), col("n_chunks"), col("n_kept"),
          when(col("n_kept") > 0, md5(col("_txt"))).as("clean_md5"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      starts AS (SELECT doc_id, t,
          unnest(range(0, CASE WHEN len(t) = 0 THEN 1 ELSE ((len(t) - 1) // 50) + 1 END)) AS chunk_idx
        FROM tk),
      ch AS (SELECT doc_id, chunk_idx,
          t[chunk_idx*50 + 1 : chunk_idx*50 + 50] AS ct
        FROM starts),
      rk AS (SELECT doc_id, chunk_idx, array_to_string(ct, ' ') AS ctext,
          row_number() OVER (PARTITION BY array_to_string(ct, ' ')
            ORDER BY doc_id, chunk_idx) AS rn
        FROM ch WHERE len(ct) > 0)
      SELECT doc_id, count(*) AS n_chunks,
        sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
        CASE WHEN sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) > 0
          THEN md5(string_agg(CASE WHEN rn = 1 THEN ctext END, ' '
            ORDER BY chunk_idx))
          ELSE NULL END AS clean_md5
      FROM rk GROUP BY doc_id ORDER BY doc_id"""),
    bench = true)

  /** D+ sketches: bottom-k quantile sketch — the value-DISTRIBUTION
    * member of the mergeable-sketch family (q123 frequency, q124
    * distinct). The k rows with the globally smallest seeded portable
    * hash are a deterministic uniform sample; nearest-rank quantiles
    * of that k-row sample estimate the corpus quantiles with
    * DKW O(1/√k) rank error. At 100 TB the exact quantile needs a
    * global sort (or Spark's non-portable `percentile_approx`); the
    * sketch path is one `TakeOrderedAndProject` (bounded heap per
    * partition, k·partitions-row exchange) + one k-bounded row.
    * The gate joins the 5 estimates back against the corpus
    * (broadcast 5-row side, map-side conditional count — no extra
    * shuffle) and pins |exact_rank(est) − p| ≤ 0.05 TRUE via the
    * oracle, so a degraded sample flips a hash-checked row.
    * Measured max rank error: 0.024 (sf0.001) / 0.022 (sf0.01) /
    * 0.013 (sf0.1) — the bound tightens as N grows past k·10. */
  private val q126 = Q("q126_quantile_sketch",
    (s, d) => {
      val k = 1024
      val ps = Seq(0.25, 0.5, 0.75, 0.9, 0.99)
      // ONE lineitem scan feeds sample, N, and the exact-rank gate
      val li = OpUtils.barrier(t(s, d, "lineitem")
        .select(concat(col("l_orderkey").cast("string"), lit("#"),
            col("l_linenumber").cast("string")).as("rk"),
          col("l_extendedprice").as("price")))
      val sample = graft.operators.Sketches.bottomKSample(
        li, col("rk"), col("price"), k, seed = "q126")
      val est = graft.operators.Sketches.quantilesFromSample(sample, ps)
      val n = broadcast(li.agg(count(lit(1)).as("_n")))
      li.crossJoin(broadcast(est)).groupBy(col("p"), col("est"))
        .agg(sum(when(col("price") <= col("est"), 1L).otherwise(0L)).as("_le"))
        .crossJoin(n)
        .select(col("p"), col("est"),
          (col("_le").cast("double") / col("_n")).as("exact_frac"),
          (abs(col("_le").cast("double") / col("_n") - col("p")) <= 0.05)
            .as("within_bound"))
        .orderBy(col("p"))
    },
    Some(s"""WITH li AS (SELECT l_orderkey::VARCHAR || '#' || l_linenumber::VARCHAR AS rk,
          l_extendedprice AS price FROM lineitem),
      h AS (SELECT ${sqlPolyHash("'q126' || rk")} AS hh, rk, price FROM li),
      smp AS (SELECT price FROM h ORDER BY hh, rk LIMIT 1024),
      srt AS (SELECT list_sort(list(price)) AS vs, count(*)::BIGINT AS n FROM smp),
      ps(p) AS (VALUES (0.25), (0.5), (0.75), (0.9), (0.99)),
      est AS (SELECT p, vs[CAST(greatest(ceil(p * n), 1) AS INT)] AS est
        FROM ps, srt),
      nn AS (SELECT count(*)::BIGINT AS n FROM li),
      g AS (SELECT p, est,
          (SELECT count(*) FROM li WHERE price <= est)::DOUBLE / nn.n AS exact_frac
        FROM est, nn)
      SELECT p, est, exact_frac,
        abs(exact_frac - p) <= 0.05 AS within_bound
      FROM g ORDER BY p"""),
    bench = true)

  /** D+ sketches: KMV distinct-count estimates — q124's bottom-k
    * lists re-used as cardinality estimators via (k−1)·M/h_(k)
    * (the HLL alternative that stays bit-portable: one IEEE multiply
    * + divide the oracle reproduces exactly). Per-source distinct
    * shingle counts answer "how much unique content does each crawl
    * source contribute" from 256 longs per source instead of a
    * corpus-wide distinct; sources whose whole set fit in the sketch
    * are exact by construction. Relative-error gate (theory ~1/√k ≈
    * 6%; gate 0.3 ≈ 4.8σ — k=128 was probed first and REJECTED: its
    * worst source at sf0.1 missed by 0.39 over 20 draws; at k=256
    * the measured max is 0.09 (sf0.001) / 0.11 (sf0.01) / 0.16
    * (sf0.1)) pinned TRUE by the oracle. */
  private val q127 = Q("q127_source_distinct_kmv",
    (s, d) => {
      val k = 256
      // ONE corpus scan: the distinct posting table feeds sketch and
      // exact branches (same barrier rationale as q124)
      val sh = OpUtils.barrier(t(s, d, "documents")
        .select(col("source"), explode(shingles(tokens(col("text")), 3)).as("ng"))
        .select(col("source"), polyHash(col("ng")).as("h")).distinct())
      val est = graft.operators.Sketches.kmvDistinct(
        graft.operators.Sketches.bottomK(sh, col("source"), col("h"), k), k)
      val exact = sh.groupBy(col("source")).agg(count(lit(1)).as("exact_distinct"))
      est.join(broadcast(exact), col("grp") === col("source"))
        .select(col("source"), r(col("est_distinct"), 2).as("est_distinct"),
          col("exact_distinct"),
          (abs(r(col("est_distinct"), 2) / col("exact_distinct") - 1.0) <= 0.3)
            .as("within_bound"))
        .orderBy(col("source"))
    },
    Some(s"""WITH sh AS (SELECT DISTINCT source, ${sqlPolyHash("ng")} AS h
        FROM (SELECT source, unnest(${sqlShingles("tk")}) AS ng
          FROM (SELECT source, string_split(text, ' ') AS tk FROM documents))),
      bot AS (SELECT source, h FROM (SELECT source, h,
          row_number() OVER (PARTITION BY source ORDER BY h) AS rn FROM sh)
        WHERE rn <= 256),
      lists AS (SELECT source, list_sort(list(h)) AS hs, count(*)::BIGINT AS m
        FROM bot GROUP BY source),
      est AS (SELECT source,
          floor((CASE WHEN m < 256 THEN m::DOUBLE
            ELSE (255.0 * 1000000007.0) / hs[256]::DOUBLE END) * 100 + 0.5)
            / 100.0 AS est_distinct
        FROM lists),
      ex AS (SELECT source, count(*)::BIGINT AS exact_distinct
        FROM sh GROUP BY source)
      SELECT e.source, e.est_distinct, x.exact_distinct,
        abs(e.est_distinct / x.exact_distinct - 1.0) <= 0.3 AS within_bound
      FROM est e JOIN ex x ON e.source = x.source ORDER BY e.source"""))

  // ---------------------------------------------------------------- //
  // E+ event-sequence analytics: funnel, retention, attribution       //
  // ---------------------------------------------------------------- //

  /** Funnel window: a key must complete each step within 7 days of its
    * first step-1 event. */
  private val FunnelWindowUs = 604800000000L
  /** Cohort epoch (2024-01-01 UTC, the events table's start) and week
    * width, epoch-µs. */
  private val CohortEpoch0Us = 1704067200000000L
  private val WeekUs = 604800000000L

  /** E+ funnel: strict-order earliest-completion view→click→purchase
    * conversion ([[EventAnalytics.funnelTimes]] semantics: a step
    * chains only off a STRICTLY earlier completion of the previous
    * step). k chained cumulative windows share ONE hash partition on
    * user_id and ONE sort; the per-user agg reuses the partitioning
    * (no second exchange); output is |steps| rows. The oracle unrolls
    * the identical chained-window construction. */
  private val q128 = Q("q128_funnel_steps",
    (s, d) => {
      val steps = Seq("view", "click", "purchase")
      val times = EventAnalytics.funnelTimes(
        eventsUs(s, d), key = "user_id", ts = "ts_us",
        typeCol = "event_type", steps = steps, tie = "event_id")
      EventAnalytics.funnelSummary(times, steps, FunnelWindowUs)
    },
    Some(s"""WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
        FROM events),
      w1 AS (SELECT user_id, event_id, event_type, ts_us,
          CASE WHEN event_type = 'view' THEN ts_us END AS v1 FROM e),
      w2 AS (SELECT *, CASE WHEN event_type = 'click'
            AND min(v1) OVER w < ts_us THEN ts_us END AS v2
        FROM w1 WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
          ROWS UNBOUNDED PRECEDING)),
      w3 AS (SELECT *, CASE WHEN event_type = 'purchase'
            AND min(v2) OVER w < ts_us THEN ts_us END AS v3
        FROM w2 WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
          ROWS UNBOUNDED PRECEDING)),
      u AS (SELECT user_id, min(v1) AS t1, min(v2) AS t2, min(v3) AS t3
        FROM w3 GROUP BY user_id),
      c AS (SELECT
          count(CASE WHEN t1 IS NOT NULL THEN 1 END) AS u1,
          count(CASE WHEN t2 IS NOT NULL AND t2 - t1 <= $FunnelWindowUs THEN 1 END) AS u2,
          sum(CASE WHEN t2 IS NOT NULL AND t2 - t1 <= $FunnelWindowUs THEN t2 - t1 END) AS d2,
          count(CASE WHEN t3 IS NOT NULL AND t3 - t1 <= $FunnelWindowUs THEN 1 END) AS u3,
          sum(CASE WHEN t3 IS NOT NULL AND t3 - t1 <= $FunnelWindowUs THEN t3 - t1 END) AS d3
        FROM u)
      SELECT * FROM (
        SELECT 1 AS step_idx, 'view' AS step, u1::BIGINT AS users,
          floor(u1 * 1.0 / nullif(u1, 0) * 10000 + 0.5) / 10000 AS conv_vs_first,
          CAST(NULL AS DOUBLE) AS conv_vs_prev,
          0::BIGINT AS avg_us_from_first FROM c
        UNION ALL
        SELECT 2, 'click', u2::BIGINT,
          floor(u2 * 1.0 / nullif(u1, 0) * 10000 + 0.5) / 10000,
          floor(u2 * 1.0 / nullif(u1, 0) * 10000 + 0.5) / 10000,
          CAST(d2 // nullif(u2, 0) AS BIGINT) FROM c
        UNION ALL
        SELECT 3, 'purchase', u3::BIGINT,
          floor(u3 * 1.0 / nullif(u1, 0) * 10000 + 0.5) / 10000,
          floor(u3 * 1.0 / nullif(u2, 0) * 10000 + 0.5) / 10000,
          CAST(d3 // nullif(u3, 0) AS BIGINT) FROM c)
      ORDER BY step_idx"""),
    bench = true)

  /** E+ retention: weekly cohorts × week offsets, distinct active keys
    * and share of the cohort census ([[EventAnalytics.retentionCohorts]]).
    * Two user-key hash aggs + one agg on the O(weeks²) cell table; the
    * cohort-size window runs over cells, never events. */
  private val q129 = Q("q129_retention_cohorts",
    (s, d) => EventAnalytics.retentionCohorts(
        eventsUs(s, d), key = "user_id", ts = "ts_us",
        epoch0Us = CohortEpoch0Us, weekUs = WeekUs)
      .select(col("cohort_week"), col("week_offset"), col("users"),
        col("cohort_size"), col("retained_pct")),
    Some(s"""WITH e AS (SELECT user_id,
        (epoch_us(ts) - $CohortEpoch0Us) // $WeekUs AS wk FROM events),
      f AS (SELECT user_id, min(wk) AS cohort_week FROM e GROUP BY user_id),
      a AS (SELECT DISTINCT user_id, wk FROM e),
      cells AS (SELECT f.cohort_week, a.wk - f.cohort_week AS week_offset,
          count(DISTINCT a.user_id)::BIGINT AS users
        FROM a JOIN f USING (user_id) GROUP BY 1, 2),
      sz AS (SELECT cells.*, max(CASE WHEN week_offset = 0 THEN users END)
          OVER (PARTITION BY cohort_week) AS cohort_size FROM cells)
      SELECT cohort_week, week_offset, users, cohort_size,
        floor(users * 1.0 / cohort_size * 10000 + 0.5) / 10000 AS retained_pct
      FROM sz ORDER BY cohort_week, week_offset"""))

  /** E+ attribution: every purchase credited to the most recent
    * at-or-before non-purchase touch on the same user — the as-of join
    * ([[graft.operators.AsOf.join]]: union + ONE shuffle + ONE sort,
    * never a range explode) rolled up per channel. The oracle mirrors
    * the identical union + last_value IGNORE NULLS construction. */
  private val q130 = Q("q130_attribution_last_touch",
    (s, d) => EventAnalytics.lastTouchAttribution(
      eventsUs(s, d).select(col("user_id"), col("ts_us"), col("event_id"),
        col("event_type"), col("value")),
      key = "user_id", ts = "ts_us", typeCol = "event_type",
      conversionType = "purchase", valueCol = "value", tie = "event_id"),
    Some("""WITH e AS (SELECT user_id, event_id, event_type, value,
        epoch_us(ts) AS ts_us FROM events),
      u AS (
        SELECT user_id, ts_us, 1 AS side, event_id, value,
          CAST(NULL AS VARCHAR) AS src FROM e WHERE event_type = 'purchase'
        UNION ALL
        SELECT user_id, ts_us, 0, event_id, NULL, event_type
        FROM e WHERE event_type <> 'purchase'),
      w AS (SELECT *, last_value(src IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY ts_us, side, event_id
          ROWS UNBOUNDED PRECEDING) AS attr FROM u)
      SELECT coalesce(attr, '(none)') AS channel, count(*) AS conversions,
        floor(sum(value) * 100 + 0.5) / 100 AS revenue
      FROM w WHERE side = 1 GROUP BY 1 ORDER BY 1"""),
    bench = true)

  /** E+ dyadic EWMA (α=½, 8-term frame, renormalized): the smoothing is
    * BIT-portable — integer cents, power-of-two weights folded in long
    * math, 2ⁿ−1 denominator, two correctly-rounded IEEE divisions
    * ([[EventAnalytics.dyadicEwma]]). One shuffle + one running-frame
    * sort; the oracle rebuilds the same rational with a rank-band
    * self-join. */
  private val q131 = Q("q131_ewma_value",
    (s, d) => EventAnalytics.dyadicEwma(
        eventsUs(s, d).select(col("user_id"), col("event_id"), col("ts_us"), col("value")),
        key = "user_id", ts = "ts_us", tie = "event_id", valueCol = "value")
      .select(col("user_id"), col("event_id"), col("ts_us"), col("ewma"))
      .orderBy(col("user_id"), col("ts_us"), col("event_id")),
    Some("""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        CAST(floor(value * 100 + 0.5) AS BIGINT) AS cv FROM events),
      r0 AS (SELECT *, row_number() OVER w AS rn,
          count(cv) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
            ROWS UNBOUNDED PRECEDING) AS nn
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
      -- band join over NON-NULL cv rows only: the engine's collect_list
      -- DROPS null values, so a null slot vanishes and the surviving
      -- values' 2^i weights recompress (den = 2^k - 1 over k non-null)
      -- keyed by the row's rank rn, NOT by event_id: duplicate
      -- event_ids within a user would otherwise merge two rows' frames
      j AS (SELECT a.user_id, a.rn AS arn, b.cv AS bcv, b.nn AS bnn
        FROM r0 a JOIN r0 b ON a.user_id = b.user_id
          AND b.rn BETWEEN a.rn - 7 AND a.rn AND b.cv IS NOT NULL),
      jj AS (SELECT *, min(bnn) OVER (PARTITION BY user_id, arn) AS mn
        FROM j),
      g AS (SELECT user_id, arn,
          CAST(sum(bcv * (1::BIGINT << CAST(bnn - mn AS INT))) AS BIGINT) AS num,
          (1::BIGINT << CAST(count(*) AS INT)) - 1 AS den
        FROM jj GROUP BY user_id, arn)
      -- all-null frames have no j rows: LEFT JOIN keeps those events
      -- with a NULL ewma (the engine's empty-frame rule)
      SELECT r0.user_id, r0.event_id, r0.ts_us,
        floor(g.num::DOUBLE / g.den / 100.0 * 1000000.0 + 0.5) / 1000000.0 AS ewma
      FROM r0 LEFT JOIN g ON r0.user_id = g.user_id AND r0.rn = g.arn
      ORDER BY r0.user_id, r0.ts_us, r0.event_id"""),
    bench = true)

  /** E+ path analysis: top-10 within-session event-type sequences
    * ([[EventAnalytics.topPaths]] over [[Sessionize.withSessions]]'s gap
    * rule). The path string is order-independent of `collect_list`
    * nondeterminism (array_sort over (ts, tie, type) structs); the cut
    * is a TakeOrderedAndProject tie-broken by path. */
  private val q132 = Q("q132_top_paths",
    (s, d) => EventAnalytics.topPaths(
      eventsUs(s, d).select(col("user_id"), col("event_id"), col("ts_us"), col("event_type")),
      key = "user_id", ts = "ts_us", tie = "event_id", typeCol = "event_type",
      gapUs = SessionGapUs, k = 10),
    Some(s"""WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
        FROM events),
      d AS (SELECT *, ts_us - lag(ts_us) OVER (PARTITION BY user_id
          ORDER BY ts_us, event_id) AS delta FROM e),
      -- flag-DESC: tie-stable session ids under duplicate rows (q10)
      s AS (SELECT *, CAST(sum(CASE WHEN delta > $SessionGapUs THEN 1 ELSE 0 END)
          OVER (PARTITION BY user_id ORDER BY ts_us, event_id,
              CASE WHEN delta > $SessionGapUs THEN 1 ELSE 0 END DESC
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid FROM d),
      p AS (SELECT user_id, sid,
          string_agg(event_type, '>' ORDER BY ts_us, event_id) AS path
        FROM s GROUP BY user_id, sid)
      SELECT path, count(*) AS n_sessions FROM p
      GROUP BY path ORDER BY n_sessions DESC, path LIMIT 10"""),
    bench = true)

  /** E+ experiment analysis: portable-hash variant bucketing on the
    * user, per-SESSION conversion (the experiment unit — per-user
    * "ever purchased" is degenerate at 100% in this corpus), and the
    * two-proportion pooled z-score in ONE conditional-aggregation row
    * ([[EventAnalytics.abTestSummary]] — no window, no second pass;
    * every float op after the counts is a fixed-order correctly-rounded
    * IEEE step the oracle repeats; zero pooled variance ⇒ NULL z). */
  private val q133 = Q("q133_ab_test_summary",
    (s, d) => EventAnalytics.abTestSummary(
      eventsUs(s, d), key = "user_id", ts = "ts_us", tie = "event_id",
      typeCol = "event_type", conversionType = "purchase",
      gapUs = SessionGapUs),
    Some(s"""WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
        FROM events),
      dd AS (SELECT *, ts_us - lag(ts_us) OVER (PARTITION BY user_id
          ORDER BY ts_us, event_id) AS delta FROM e),
      -- flag-DESC: tie-stable session ids under duplicate rows (q10)
      ss AS (SELECT *, CAST(sum(CASE WHEN delta > $SessionGapUs THEN 1 ELSE 0 END)
          OVER (PARTITION BY user_id ORDER BY ts_us, event_id,
              CASE WHEN delta > $SessionGapUs THEN 1 ELSE 0 END DESC
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid FROM dd),
      pk AS (SELECT user_id,
        CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS conv,
        ${sqlPolyHash("CAST(user_id AS VARCHAR)")} % 2 AS variant
      FROM ss GROUP BY user_id, sid),
      c AS (SELECT
          CAST(count(CASE WHEN variant = 0 THEN 1 END) AS BIGINT) AS n0,
          CAST(sum(CASE WHEN variant = 0 THEN conv END) AS BIGINT) AS c0,
          CAST(count(CASE WHEN variant = 1 THEN 1 END) AS BIGINT) AS n1,
          CAST(sum(CASE WHEN variant = 1 THEN conv END) AS BIGINT) AS c1
        FROM pk)
      SELECT n0, c0,
        floor(c0 * 1.0 / n0 * 1000000.0 + 0.5) / 1000000.0 AS rate0,
        n1, c1,
        floor(c1 * 1.0 / n1 * 1000000.0 + 0.5) / 1000000.0 AS rate1,
        floor((c1 * 1.0 / n1 - c0 * 1.0 / n0) * 1000000.0 + 0.5) / 1000000.0 AS abs_lift,
        floor((c1 * 1.0 / n1 - c0 * 1.0 / n0)
          / nullif(sqrt((c0 + c1) * 1.0 / (n0 + n1)
              * (1 - (c0 + c1) * 1.0 / (n0 + n1))
              * (1.0 / n0 + 1.0 / n1)), 0.0) * 1000000.0 + 0.5) / 1000000.0 AS z_score
      FROM c"""))

  /** D+ CUBE: the full grouping-set lattice (q14 covers ROLLUP's
    * prefix chain; CUBE adds the (∅, status)-only slice) — one
    * Expand + single shuffle plan, the Catalyst grouping-set path. */
  private val q135 = Q("q135_cube",
    (s, d) => t(s, d, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), r(sum(col("l_quantity")), 2).as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("status"),
        col("n"), col("sum_qty"))
      .orderBy(col("flag"), col("status")),
    Some("""SELECT coalesce(l_returnflag, 'ALL') AS flag,
      coalesce(l_linestatus, 'ALL') AS status,
      count(*) AS n, floor(sum(l_quantity) * 100.0 + 0.5) / 100.0 AS sum_qty
      FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
      ORDER BY flag, status"""))

  /** H+ graph: triangle count + global clustering coefficient of the
    * (undirected-simplified) link graph via compact-forward
    * ([[graft.operators.Graph.triangleStats]]): degree-ordered
    * orientation bounds the wedge join's fan-out at O(√m) per vertex on
    * ANY graph — the move that keeps the plan alive on power-law link
    * graphs where a naive id-ordered orientation explodes at the hubs.
    * The oracle counts the same triangles with the a<b<c three-way
    * join and the same Σ C(deg,2) wedge table. */
  private val q134 = Q("q134_triangle_count",
    (s, d) => graft.operators.Graph.triangleStats(
      linkEdges(s, d), col("src"), col("dst")),
    Some("""WITH e0 AS (SELECT doc_id AS src,
        (doc_id * doc_id + 7 + j * 97) % (SELECT count(*) FROM documents) AS dst
      FROM documents CROSS JOIN (SELECT unnest([0, 1, 2]) AS j) _j),
      u AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM e0 WHERE src <> dst),
      deg AS (SELECT v, count(*)::BIGINT AS deg
        FROM (SELECT a AS v FROM u UNION ALL SELECT b FROM u) GROUP BY v),
      tri AS (SELECT count(*)::BIGINT AS n_triangles
        FROM u e1 JOIN u e2 ON e1.b = e2.a
          JOIN u e3 ON e3.a = e1.a AND e3.b = e2.b)
      SELECT (SELECT count(*)::BIGINT FROM u) AS n_edges,
        (SELECT CAST(sum(deg * (deg - 1) / 2) AS BIGINT) FROM deg) AS n_wedges,
        tri.n_triangles,
        floor(tri.n_triangles * 3.0
          / nullif((SELECT sum(deg * (deg - 1) / 2) FROM deg), 0)
          * 1000000.0 + 0.5) / 1000000.0 AS clustering_coeff
      FROM tri"""),
    bench = true)

  /** H+ graph: per-vertex local clustering coefficients, top-20
    * ([[graft.operators.Graph.localClustering]]) — each closed wedge
    * credits its three corners through a 3-row explode, so the
    * per-vertex triangle count is exact while every join stays an
    * equality join; the cut is a TakeOrderedAndProject over the
    * vertex-sized coefficient table. */
  private val q136 = Q("q136_local_clustering",
    (s, d) => graft.operators.Graph.localClustering(
      linkEdges(s, d), col("src"), col("dst"), k = 20),
    Some("""WITH e0 AS (SELECT doc_id AS src,
        (doc_id * doc_id + 7 + j * 97) % (SELECT count(*) FROM documents) AS dst
      FROM documents CROSS JOIN (SELECT unnest([0, 1, 2]) AS j) _j),
      u AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM e0 WHERE src <> dst),
      deg AS (SELECT v, count(*)::BIGINT AS deg
        FROM (SELECT a AS v FROM u UNION ALL SELECT b FROM u) GROUP BY v),
      tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM u e1 JOIN u e2 ON e1.b = e2.a
          JOIN u e3 ON e3.a = e1.a AND e3.b = e2.b),
      corn AS (SELECT unnest([x, y, z]) AS id FROM tri),
      pv AS (SELECT id, count(*)::BIGINT AS n_tri FROM corn GROUP BY id)
      SELECT d.v AS id, d.deg,
        CAST(coalesce(pv.n_tri, 0) AS BIGINT) AS n_tri,
        floor(coalesce(pv.n_tri, 0) * 1.0 / (d.deg * (d.deg - 1) / 2)
          * 1000000.0 + 0.5) / 1000000.0 AS local_coeff
      FROM deg d LEFT JOIN pv ON d.v = pv.id WHERE d.deg >= 2
      ORDER BY local_coeff DESC, id LIMIT 20"""))

  /** E+ engagement: daily/weekly active users + stickiness
    * ([[EventAnalytics.activeUsers]]). Rolling COUNT DISTINCT is not a
    * window aggregate (distinct does not subtract), so each distinct
    * (user, day) pair explodes into the 7 days it keeps the user
    * active for — ×7 on the deduplicated PAIR table, never on raw
    * events — then two plain hash aggs. */
  private val q137 = Q("q137_active_users",
    (s, d) => EventAnalytics.activeUsers(
      eventsUs(s, d), key = "user_id", ts = "ts_us",
      epoch0Us = CohortEpoch0Us, dayUs = 86400000000L, windowDays = 7),
    Some(s"""WITH p AS (SELECT DISTINCT user_id,
        (epoch_us(ts) - $CohortEpoch0Us) // 86400000000 AS day FROM events),
      dau AS (SELECT day, count(*)::BIGINT AS dau FROM p GROUP BY day),
      w AS (SELECT DISTINCT user_id, day + j AS day
        FROM p CROSS JOIN (SELECT unnest(range(0, 7)) AS j) _j),
      wau AS (SELECT day, count(*)::BIGINT AS wau FROM w GROUP BY day)
      SELECT dau.day, dau.dau, wau.wau,
        floor(dau.dau * 1.0 / wau.wau * 1000000.0 + 0.5) / 1000000.0 AS stickiness
      FROM dau JOIN wau USING (day) ORDER BY day"""),
    bench = true)

  /** G+ unpivot/melt: the wide→long inverse of q29's pivot
    * (`Dataset.unpivot`, Spark's melt — an Expand node, no shuffle
    * beyond the feeding aggregate). */
  private val q138 = Q("q138_unpivot",
    (s, d) => t(s, d, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(r(sum(col("l_quantity")), 2).as("sum_qty"),
        r(sum(col("l_extendedprice")), 2).as("sum_price"),
        r(avg(col("l_discount")), 4).as("avg_disc"))
      .unpivot(Array(col("l_returnflag")),
        Array(col("sum_qty"), col("sum_price"), col("avg_disc")),
        "metric", "value")
      .orderBy(col("l_returnflag"), col("metric")),
    Some("""WITH a AS (SELECT l_returnflag,
        floor(sum(l_quantity) * 100.0 + 0.5) / 100.0 AS sum_qty,
        floor(sum(l_extendedprice) * 100.0 + 0.5) / 100.0 AS sum_price,
        floor(avg(l_discount) * 10000.0 + 0.5) / 10000.0 AS avg_disc
      FROM lineitem GROUP BY l_returnflag)
      SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM a
      UNION ALL
      SELECT l_returnflag, 'sum_price', sum_price FROM a
      UNION ALL
      SELECT l_returnflag, 'avg_disc', avg_disc FROM a
      ORDER BY l_returnflag, metric"""))

  /** G+ equi-depth binning: `ntile(4)` per event_type over a TOTAL
    * (value, event_id) order — the feature-binning primitive; per-bin
    * census with value ranges. */
  private val q139 = Q("q139_ntile_buckets",
    (s, d) => {
      // asc_nulls_last on value: a NULL-value event would land in bin 1
      // under Spark's NULLS FIRST vs bin 4 under DuckDB's NULLS LAST
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("value").asc_nulls_last, col("event_id"))
      eventsUs(s, d)
        .select(col("event_type"), col("event_id"), col("value"),
          ntile(4).over(w).cast("long").as("bin"))
        .groupBy(col("event_type"), col("bin"))
        .agg(count(lit(1)).as("n"),
          r(min(col("value")), 2).as("lo"), r(max(col("value")), 2).as("hi"))
        .orderBy(col("event_type"), col("bin"))
    },
    Some("""WITH b AS (SELECT event_type, event_id, value,
        ntile(4) OVER (PARTITION BY event_type ORDER BY value, event_id) AS bin
      FROM events)
      SELECT event_type, CAST(bin AS BIGINT) AS bin, count(*) AS n,
        floor(min(value) * 100.0 + 0.5) / 100.0 AS lo,
        floor(max(value) * 100.0 + 0.5) / 100.0 AS hi
      FROM b GROUP BY event_type, bin ORDER BY event_type, bin"""))

  /** Unrolled SQL twin of [[graft.operators.Graph.kCore]]: `rounds`
    * peel iterations as a CTE chain (degree → keep-set → endpoint
    * filter). The measured fixpoint depth on this graph is 3
    * (TESTDATA probe); extra rounds past the fixpoint are no-ops, so
    * 5 is a safety margin — if regenerated testdata ever peels deeper,
    * the hash compare fails LOUDLY and the margin gets bumped, never
    * silently diverges. Every CTE is MATERIALIZED: each round
    * references its predecessor 3× and DuckDB inlines plain CTEs, so
    * the un-materialized chain re-expands the whole prefix ~3^rounds
    * times (measured: minutes vs 0.04 s). */
  private def kCoreOracle(k: Int, rounds: Int): String = {
    val base = """WITH e0 AS MATERIALIZED (SELECT doc_id AS src,
        (doc_id * doc_id + 7 + j * 97) % (SELECT count(*) FROM documents) AS dst
      FROM documents CROSS JOIN (SELECT unnest([0, 1, 2]) AS j) _j),
      u0 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM e0 WHERE src <> dst)"""
    val chain = (1 to rounds).map { i =>
      s""",
      d$i AS MATERIALIZED (SELECT v, count(*)::BIGINT AS deg
        FROM (SELECT a AS v FROM u${i - 1} UNION ALL SELECT b FROM u${i - 1})
        GROUP BY v),
      k$i AS MATERIALIZED (SELECT v FROM d$i WHERE deg >= $k),
      u$i AS MATERIALIZED (SELECT a, b FROM u${i - 1}
        WHERE a IN (SELECT v FROM k$i) AND b IN (SELECT v FROM k$i))"""
    }.mkString
    base + chain + s"""
      SELECT v AS id, count(*)::BIGINT AS core_deg
      FROM (SELECT a AS v FROM u$rounds UNION ALL SELECT b FROM u$rounds)
      GROUP BY v ORDER BY id"""
  }

  /** q155: sync label propagation unrolled — `rounds` MATERIALIZED
    * round pairs (neighbor-label counts → max-count/min-label argmax →
    * coalesce with the previous labels), mirroring
    * [[graft.operators.Graph.labelPropagation]] round for round on the
    * canonical simple undirected link graph. */
  private def lpaOracle(rounds: Int): String = {
    val base = """WITH e0 AS MATERIALIZED (SELECT doc_id AS src,
        (doc_id * doc_id + 7 + j * 97) % (SELECT count(*) FROM documents) AS dst
      FROM documents CROSS JOIN (SELECT unnest([0, 1, 2]) AS j) _j),
      u0 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM e0 WHERE src <> dst),
      und AS MATERIALIZED (SELECT a AS u, b AS v FROM u0
        UNION ALL SELECT b, a FROM u0),
      vv AS MATERIALIZED (SELECT DISTINCT u AS id FROM und),
      l0 AS MATERIALIZED (SELECT id, id AS lab FROM vv)"""
    val chain = (1 to rounds).map { i =>
      s""",
      c$i AS MATERIALIZED (SELECT und.u AS id, l.lab, count(*) AS c
        FROM und JOIN l${i - 1} l ON und.v = l.id GROUP BY und.u, l.lab),
      p$i AS MATERIALIZED (SELECT id, lab FROM (SELECT id, lab,
          row_number() OVER (PARTITION BY id ORDER BY c DESC, lab) AS rn
        FROM c$i) WHERE rn = 1),
      l$i AS MATERIALIZED (SELECT vv.id, coalesce(p.lab, l.lab) AS lab
        FROM vv JOIN l${i - 1} l USING (id) LEFT JOIN p$i p USING (id))"""
    }.mkString
    base + chain + s"""
      SELECT id AS doc_id, lab AS label FROM l$rounds ORDER BY doc_id"""
  }

  /** q156: HITS unrolled — per iteration an in-mass aggregation +
    * L1 normalization for auth, then the same transposed for hub,
    * mirroring [[graft.operators.Graph.hits]] op for op (the engine's
    * parallel-edge `distinct()` is `SELECT DISTINCT` here; vertices
    * missing from an aggregation coalesce to 0 BEFORE the divide,
    * which cannot change the normalizing sum). */
  private def hitsOracle(iterations: Int): String = {
    val base = """WITH eraw AS (SELECT doc_id AS src,
        (doc_id * doc_id + 7 + j * 97) % (SELECT count(*) FROM documents) AS dst
      FROM documents CROSS JOIN (SELECT unnest([0, 1, 2]) AS j) _j),
      e AS MATERIALIZED (SELECT DISTINCT src, dst FROM eraw),
      vv AS MATERIALIZED (SELECT src AS id FROM e UNION SELECT dst FROM e),
      h0 AS MATERIALIZED (SELECT id, 1.0 AS h FROM vv)"""
    val chain = (1 to iterations).map { i =>
      s""",
      ar$i AS MATERIALIZED (SELECT e.dst AS id, sum(h.h) AS a
        FROM e JOIN h${i - 1} h ON e.src = h.id GROUP BY e.dst),
      a$i AS MATERIALIZED (SELECT vv.id,
          coalesce(ar$i.a, 0.0) / (SELECT sum(a) FROM ar$i) AS a
        FROM vv LEFT JOIN ar$i USING (id)),
      hr$i AS MATERIALIZED (SELECT e.src AS id, sum(a$i.a) AS h
        FROM e JOIN a$i ON e.dst = a$i.id GROUP BY e.src),
      h$i AS MATERIALIZED (SELECT vv.id,
          coalesce(hr$i.h, 0.0) / (SELECT sum(h) FROM hr$i) AS h
        FROM vv LEFT JOIN hr$i USING (id))"""
    }.mkString
    base + chain + s"""
      SELECT h$iterations.id AS doc_id,
        floor(h$iterations.h * 100000000 + 0.5) / 100000000.0 AS hub,
        floor(a$iterations.a * 100000000 + 0.5) / 100000000.0 AS auth
      FROM h$iterations JOIN a$iterations USING (id) ORDER BY doc_id"""
  }

  /** H+ graph: 4-core of the link graph ([[graft.operators.Graph.kCore]]
    * — iterative peeling, two semi joins + one degree agg per round,
    * 1-row driver count as the convergence test, loud non-convergence).
    * 264 of 500 vertices survive at sf0.01; the peel runs 3 rounds. */
  private val q140 = Q("q140_kcore",
    (s, d) => graft.operators.Graph.kCore(
        linkEdges(s, d), col("src"), col("dst"), k = 4)
      .orderBy(col("id")),
    // the unroll depth is the oracle's analog of kCore's maxRounds: it
    // must be >= the corpus's actual peel depth or the oracle returns a
    // half-peeled set and the gate fails VISIBLY (measured: sf0.01
    // converges in 3 rounds, the 16-class dirty corpus in 12 — 24 is a
    // 2x margin; converged extra rounds are no-ops, ~0.2 ms each)
    Some(kCoreOracle(k = 4, rounds = 24)),
    bench = true)

  /** E+ path mining: within-session first-order transition matrix
    * ([[EventAnalytics.transitionMatrix]]) — counts + row-normalized
    * probabilities; transitions never cross session boundaries; the
    * probability window runs over the |types|² cell table only. */
  private val q141 = Q("q141_transition_matrix",
    (s, d) => EventAnalytics.transitionMatrix(
      eventsUs(s, d), key = "user_id", ts = "ts_us", tie = "event_id",
      typeCol = "event_type", gapUs = SessionGapUs),
    Some(s"""WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
        FROM events),
      dd AS (SELECT *, ts_us - lag(ts_us) OVER (PARTITION BY user_id
          ORDER BY ts_us, event_id) AS delta FROM e),
      -- flag-DESC: tie-stable session ids under duplicate rows (q10)
      ss AS (SELECT *, CAST(sum(CASE WHEN delta > $SessionGapUs THEN 1 ELSE 0 END)
          OVER (PARTITION BY user_id ORDER BY ts_us, event_id,
              CASE WHEN delta > $SessionGapUs THEN 1 ELSE 0 END DESC
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid FROM dd),
      tr AS (SELECT lag(event_type) OVER (PARTITION BY user_id, sid
            ORDER BY ts_us, event_id) AS prev_type,
          event_type AS next_type FROM ss),
      cells AS (SELECT prev_type, next_type, count(*) AS n FROM tr
        WHERE prev_type IS NOT NULL GROUP BY prev_type, next_type)
      SELECT prev_type, next_type, n,
        floor(n * 1.0 / sum(n) OVER (PARTITION BY prev_type)
          * 1000000.0 + 0.5) / 1000000.0 AS p
      FROM cells ORDER BY prev_type, next_type"""))

  /** E+ data quality: per-event-type PSI drift vs the population value
    * distribution ([[EventAnalytics.psiDrift]]: 10 equal-width bins on
    * [0, 500), add-½ smoothing — deterministic, no ad-hoc epsilon; one
    * scan, all downstream math on the |types|·bins cell table). */
  private val q142 = Q("q142_psi_drift",
    (s, d) => EventAnalytics.psiDrift(
      t(s, d, "events"), group = "event_type", value = col("value"),
      lo = 0.0, hi = 500.0, bins = 10),
    Some("""WITH e AS (SELECT event_type,
        CAST(least(greatest(floor((value - 0.0) / 50.0), 0.0), 9.0) AS BIGINT) AS bin
      FROM events WHERE value IS NOT NULL),
      cells AS (SELECT event_type, bin, count(*)::BIGINT AS n
        FROM e GROUP BY event_type, bin),
      gb AS (SELECT bin, CAST(sum(n) AS BIGINT) AS gn FROM cells GROUP BY bin),
      grid AS (SELECT event_type, j AS bin
        FROM (SELECT DISTINCT event_type FROM cells)
        CROSS JOIN (SELECT unnest(range(0, 10)) AS j) _j),
      f AS (SELECT g.event_type, g.bin,
          coalesce(c.n, 0)::BIGINT AS n, coalesce(gb.gn, 0)::BIGINT AS gn
        FROM grid g
        LEFT JOIN cells c ON g.event_type = c.event_type AND g.bin = c.bin
        LEFT JOIN gb ON g.bin = gb.bin),
      sm AS (SELECT event_type,
          (n + 0.5) / (sum(n) OVER (PARTITION BY event_type) + 0.5 * 10) AS q,
          (gn + 0.5) / (sum(gn) OVER (PARTITION BY event_type) + 0.5 * 10) AS p
        FROM f)
      SELECT event_type,
        floor(sum((q - p) * ln(q / p)) * 1000000.0 + 0.5) / 1000000.0 AS psi
      FROM sm GROUP BY event_type ORDER BY event_type"""))

  /** E+ market-basket: association rules over session event-type
    * baskets ([[EventAnalytics.associationRules]]) — support,
    * confidence, lift per ordered pair; one session-keyed self-join,
    * then |types|²-bounded rule math. */
  private val q143 = Q("q143_assoc_rules",
    (s, d) => EventAnalytics.associationRules(
      eventsUs(s, d), key = "user_id", ts = "ts_us", tie = "event_id",
      typeCol = "event_type", gapUs = SessionGapUs),
    Some(s"""WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
        FROM events),
      dd AS (SELECT *, ts_us - lag(ts_us) OVER (PARTITION BY user_id
          ORDER BY ts_us, event_id) AS delta FROM e),
      -- flag-DESC: tie-stable session ids under duplicate rows (q10)
      ss AS (SELECT *, CAST(sum(CASE WHEN delta > $SessionGapUs THEN 1 ELSE 0 END)
          OVER (PARTITION BY user_id ORDER BY ts_us, event_id,
              CASE WHEN delta > $SessionGapUs THEN 1 ELSE 0 END DESC
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid FROM dd),
      items AS (SELECT DISTINCT user_id, sid, event_type AS item FROM ss),
      nb AS (SELECT count(*)::BIGINT AS n_baskets
        FROM (SELECT DISTINCT user_id, sid FROM items)),
      ic AS (SELECT item, count(*)::BIGINT AS n_item FROM items GROUP BY item),
      p AS (SELECT x.item AS a, y.item AS b, count(*)::BIGINT AS n_ab
        FROM items x JOIN items y
          ON x.user_id = y.user_id AND x.sid = y.sid AND x.item < y.item
        GROUP BY x.item, y.item),
      dir AS (SELECT a, b, n_ab FROM p
        UNION ALL SELECT b AS a, a AS b, n_ab FROM p)
      SELECT d.a AS antecedent, d.b AS consequent, d.n_ab,
        floor(d.n_ab * 1.0 / nb.n_baskets * 1000000.0 + 0.5) / 1000000.0 AS support,
        floor(d.n_ab * 1.0 / ia.n_item * 1000000.0 + 0.5) / 1000000.0 AS confidence,
        floor(d.n_ab * 1.0 / ia.n_item
          / (ib.n_item * 1.0 / nb.n_baskets) * 1000000.0 + 0.5) / 1000000.0 AS lift
      FROM dir d
      JOIN ic ia ON d.a = ia.item
      JOIN ic ib ON d.b = ib.item
      CROSS JOIN nb
      ORDER BY antecedent, consequent"""),
    bench = true)

  /** E+ entry-channel analysis: sessions grouped by their FIRST event
    * type — session count, purchase-conversion share, and revenue per
    * entry channel. The "first event per session" cut is the
    * `row_number() = 1` filter, which plans as a Partial/Final
    * `WindowGroupLimit` pair (the shuffle carries one candidate row
    * per session and map partition); the per-session rollup reuses
    * the same session partitioning. */
  private val q144 = Q("q144_entry_channel",
    (s, d) => {
      // sessionized events feed the entry cut AND the rollup —
      // barrier, or each consumer replans the event-scale
      // sessionize window (round-8 multi-consumer audit)
      val sess = OpUtils.barrier(graft.operators.Sessionize.withSessions(
        eventsUs(s, d), Seq(col("user_id")), col("ts_us"), SessionGapUs,
        tieBreak = Seq(col("event_id"))))
      val w = Window.partitionBy(col("user_id"), col("session_id"))
        .orderBy(col("ts_us"), col("event_id"))
      val entry = sess.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1)
        .select(col("user_id"), col("session_id"), col("event_type").as("entry"))
      val rollup = sess.groupBy(col("user_id"), col("session_id"))
        .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("converted"),
          sum(when(col("event_type") === "purchase", col("value"))
            .otherwise(lit(0.0))).as("revenue"))
      entry.join(rollup, Seq("user_id", "session_id"))
        .groupBy(col("entry"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("converted")).as("n_converted"),
          r(sum(col("converted")) * 1.0 / count(lit(1)), 6).as("conversion"),
          r(sum(col("revenue")), 2).as("revenue"))
        .orderBy(col("entry"))
    },
    Some(s"""WITH e AS (SELECT user_id, event_id, event_type, value,
        epoch_us(ts) AS ts_us FROM events),
      dd AS (SELECT *, ts_us - lag(ts_us) OVER (PARTITION BY user_id
          ORDER BY ts_us, event_id) AS delta FROM e),
      -- flag-DESC: tie-stable session ids under duplicate rows (q10)
      ss AS (SELECT *, CAST(sum(CASE WHEN delta > $SessionGapUs THEN 1 ELSE 0 END)
          OVER (PARTITION BY user_id ORDER BY ts_us, event_id,
              CASE WHEN delta > $SessionGapUs THEN 1 ELSE 0 END DESC
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid FROM dd),
      entry AS (SELECT user_id, sid, event_type AS entry FROM (
          SELECT *, row_number() OVER (PARTITION BY user_id, sid
            ORDER BY ts_us, event_id) AS rn FROM ss) WHERE rn = 1),
      ru AS (SELECT user_id, sid,
          CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS converted,
          sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END) AS revenue
        FROM ss GROUP BY user_id, sid)
      SELECT entry.entry,
        count(*) AS n_sessions,
        CAST(sum(ru.converted) AS BIGINT) AS n_converted,
        floor(sum(ru.converted) * 1.0 / count(*) * 1000000.0 + 0.5) / 1000000.0 AS conversion,
        floor(sum(ru.revenue) * 100.0 + 0.5) / 100.0 AS revenue
      FROM entry JOIN ru ON entry.user_id = ru.user_id AND entry.sid = ru.sid
      GROUP BY entry.entry ORDER BY entry.entry"""))

  /** D+ concentration: Herfindahl–Hirschman index of revenue across
    * users and of tokens across sources — the "how concentrated is
    * this corpus/revenue" number as PURE aggregation (Σ share² needs
    * no global sort, unlike Gini — the scale-safe concentration
    * metric). Shares divide by the 1-row broadcast total. */
  private val q145 = Q("q145_hhi_concentration",
    (s, d) => {
      // each metric table feeds TWO consumers (its 1-row total and the
      // share projection) — barrier, or both replan the
      // event/corpus scan (the round-8 multi-consumer audit's shape)
      val rev = OpUtils.barrier(eventsUs(s, d).filter(col("event_type") === "purchase")
        .groupBy(col("user_id")).agg(sum(col("value")).as("x")))
      val toks = OpUtils.barrier(t(s, d, "documents")
        .groupBy(col("source"))
        .agg(sum(size(graft.functions.GraftFunctions.tokens(col("text"))).cast("long"))
          .as("x")))
      def hhi(df: DataFrame, metric: String): DataFrame = {
        val total = df.agg(sum(col("x")).as("t"))
        df.crossJoin(broadcast(total))
          .select((col("x") * 1.0 / col("t")).as("sh"))
          .agg(count(lit(1)).as("n"), r(sum(col("sh") * col("sh")), 6).as("hhi"))
          .select(lit(metric).as("metric"), col("n"), col("hhi"))
      }
      hhi(rev, "revenue_by_user").unionByName(hhi(toks, "tokens_by_source"))
        .orderBy(col("metric"))
    },
    Some("""WITH rev AS (SELECT user_id, sum(value) AS x FROM events
        WHERE event_type = 'purchase' GROUP BY user_id),
      tk AS (SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS x
        FROM documents GROUP BY source),
      h1 AS (SELECT 'revenue_by_user' AS metric, count(*) AS n,
          floor(sum(sh * sh) * 1000000.0 + 0.5) / 1000000.0 AS hhi
        FROM (SELECT x * 1.0 / (SELECT sum(x) FROM rev) AS sh FROM rev)),
      h2 AS (SELECT 'tokens_by_source', count(*),
          floor(sum(sh * sh) * 1000000.0 + 0.5) / 1000000.0
        FROM (SELECT x * 1.0 / (SELECT sum(x) FROM tk) AS sh FROM tk))
      SELECT * FROM h1 UNION ALL SELECT * FROM h2 ORDER BY metric"""))

  /** E+ funnel trend: weekly conversion evolution — funnel completions
    * grouped by the week of each user's FIRST step ([[EventAnalytics
    * .funnelTimes]] reused; the trend rollup touches the per-user
    * times table, never events again). The marketing-dashboard time
    * series: is conversion improving cohort over cohort? */
  private val q146 = Q("q146_funnel_weekly",
    (s, d) => {
      val steps = Seq("view", "click", "purchase")
      val times = EventAnalytics.funnelTimes(
        eventsUs(s, d), key = "user_id", ts = "ts_us",
        typeCol = "event_type", steps = steps, tie = "event_id")
      times.filter(col("t1").isNotNull)
        .groupBy(longDiv(col("t1") - CohortEpoch0Us, WeekUs).as("week"))
        .agg(count(lit(1)).as("u1"),
          count(when(col("t2").isNotNull &&
            col("t2") - col("t1") <= FunnelWindowUs, 1)).as("u2"),
          count(when(col("t3").isNotNull &&
            col("t3") - col("t1") <= FunnelWindowUs, 1)).as("u3"),
          r(count(when(col("t3").isNotNull &&
              col("t3") - col("t1") <= FunnelWindowUs, 1)) * 1.0
            / count(lit(1)), 6).as("full_conversion"))
        .orderBy(col("week"))
    },
    Some(s"""WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
        FROM events),
      w1 AS (SELECT user_id, event_id, event_type, ts_us,
          CASE WHEN event_type = 'view' THEN ts_us END AS v1 FROM e),
      w2 AS (SELECT *, CASE WHEN event_type = 'click'
            AND min(v1) OVER w < ts_us THEN ts_us END AS v2
        FROM w1 WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
          ROWS UNBOUNDED PRECEDING)),
      w3 AS (SELECT *, CASE WHEN event_type = 'purchase'
            AND min(v2) OVER w < ts_us THEN ts_us END AS v3
        FROM w2 WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
          ROWS UNBOUNDED PRECEDING)),
      u AS (SELECT user_id, min(v1) AS t1, min(v2) AS t2, min(v3) AS t3
        FROM w3 GROUP BY user_id)
      SELECT (t1 - $CohortEpoch0Us) // $WeekUs AS week,
        count(*) AS u1,
        count(CASE WHEN t2 IS NOT NULL AND t2 - t1 <= $FunnelWindowUs THEN 1 END) AS u2,
        count(CASE WHEN t3 IS NOT NULL AND t3 - t1 <= $FunnelWindowUs THEN 1 END) AS u3,
        floor(count(CASE WHEN t3 IS NOT NULL AND t3 - t1 <= $FunnelWindowUs THEN 1 END) * 1.0
          / count(*) * 1000000.0 + 0.5) / 1000000.0 AS full_conversion
      FROM u WHERE t1 IS NOT NULL GROUP BY week ORDER BY week"""))

  /** E+ RFM segmentation ([[EventAnalytics.rfmSegments]]): 1-4 quartile
    * scores per metric against a ONE-row broadcast threshold aggregate
    * — never a global ntile window; thresholds and monetary go through
    * the portable rounding on both sides so boundary users land
    * identically. As-of instant: 2025-01-01 UTC (the corpus spans
    * 2024). */
  private val q147 = Q("q147_rfm_segments",
    (s, d) => EventAnalytics.rfmSegments(
      eventsUs(s, d), key = "user_id", ts = "ts_us", typeCol = "event_type",
      conversionType = "purchase", valueCol = "value",
      asOfUs = 1735689600000000L),
    Some("""WITH conv AS (SELECT user_id,
        1735689600000000 - CAST(max(epoch_us(ts)) AS BIGINT) AS recency,
        count(*)::BIGINT AS frequency,
        floor(sum(value) * 100.0 + 0.5) / 100.0 AS monetary
      FROM events WHERE event_type = 'purchase' GROUP BY user_id),
      qs AS (SELECT
        quantile_cont(recency, 0.25) AS r25,
        quantile_cont(recency, 0.50) AS r50,
        quantile_cont(recency, 0.75) AS r75,
        quantile_cont(frequency, 0.25) AS f25,
        quantile_cont(frequency, 0.50) AS f50,
        quantile_cont(frequency, 0.75) AS f75,
        floor(quantile_cont(monetary, 0.25) * 1000000.0 + 0.5) / 1000000.0 AS m25,
        floor(quantile_cont(monetary, 0.50) * 1000000.0 + 0.5) / 1000000.0 AS m50,
        floor(quantile_cont(monetary, 0.75) * 1000000.0 + 0.5) / 1000000.0 AS m75
      FROM conv),
      seg AS (SELECT
        (1 + CASE WHEN recency > r25 THEN 1 ELSE 0 END
           + CASE WHEN recency > r50 THEN 1 ELSE 0 END
           + CASE WHEN recency > r75 THEN 1 ELSE 0 END) || '-' ||
        (1 + CASE WHEN frequency > f25 THEN 1 ELSE 0 END
           + CASE WHEN frequency > f50 THEN 1 ELSE 0 END
           + CASE WHEN frequency > f75 THEN 1 ELSE 0 END) || '-' ||
        (1 + CASE WHEN monetary > m25 THEN 1 ELSE 0 END
           + CASE WHEN monetary > m50 THEN 1 ELSE 0 END
           + CASE WHEN monetary > m75 THEN 1 ELSE 0 END) AS segment
      FROM conv CROSS JOIN qs)
      SELECT segment, count(*) AS n_users FROM seg
      GROUP BY segment ORDER BY segment"""),
    bench = true)

  /** E+ funnel × experiment: conversion funnel per A/B arm — the
    * question experiment review actually asks. Reuses
    * [[EventAnalytics.funnelTimes]] + the portable-hash bucketing of
    * q133; the per-arm rollup touches the per-user times table only. */
  private val q148 = Q("q148_funnel_by_variant",
    (s, d) => {
      val steps = Seq("view", "click", "purchase")
      val times = EventAnalytics.funnelTimes(
        eventsUs(s, d), key = "user_id", ts = "ts_us",
        typeCol = "event_type", steps = steps, tie = "event_id")
      times
        .withColumn("variant", pmod(polyHash(col("user_id").cast("string")), lit(2L)))
        .groupBy(col("variant"))
        .agg(count(when(col("t1").isNotNull, 1)).as("u1"),
          count(when(col("t2").isNotNull &&
            col("t2") - col("t1") <= FunnelWindowUs, 1)).as("u2"),
          count(when(col("t3").isNotNull &&
            col("t3") - col("t1") <= FunnelWindowUs, 1)).as("u3"),
          r(count(when(col("t3").isNotNull &&
              col("t3") - col("t1") <= FunnelWindowUs, 1)) * 1.0
            / nullif(count(when(col("t1").isNotNull, 1)), lit(0L)), 6)
            .as("full_conversion"))
        .orderBy(col("variant"))
    },
    Some(s"""WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
        FROM events),
      w1 AS (SELECT user_id, event_id, event_type, ts_us,
          CASE WHEN event_type = 'view' THEN ts_us END AS v1 FROM e),
      w2 AS (SELECT *, CASE WHEN event_type = 'click'
            AND min(v1) OVER w < ts_us THEN ts_us END AS v2
        FROM w1 WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
          ROWS UNBOUNDED PRECEDING)),
      w3 AS (SELECT *, CASE WHEN event_type = 'purchase'
            AND min(v2) OVER w < ts_us THEN ts_us END AS v3
        FROM w2 WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
          ROWS UNBOUNDED PRECEDING)),
      u AS (SELECT user_id, min(v1) AS t1, min(v2) AS t2, min(v3) AS t3
        FROM w3 GROUP BY user_id)
      SELECT ${sqlPolyHash("CAST(user_id AS VARCHAR)")} % 2 AS variant,
        count(CASE WHEN t1 IS NOT NULL THEN 1 END) AS u1,
        count(CASE WHEN t2 IS NOT NULL AND t2 - t1 <= $FunnelWindowUs THEN 1 END) AS u2,
        count(CASE WHEN t3 IS NOT NULL AND t3 - t1 <= $FunnelWindowUs THEN 1 END) AS u3,
        floor(count(CASE WHEN t3 IS NOT NULL AND t3 - t1 <= $FunnelWindowUs THEN 1 END) * 1.0
          / nullif(count(CASE WHEN t1 IS NOT NULL THEN 1 END), 0)
          * 1000000.0 + 0.5) / 1000000.0 AS full_conversion
      FROM u GROUP BY variant ORDER BY variant"""),
    bench = true)   // round-10 rotation: never-benched heavy

  /** E+ cohort LTV curve: cumulative revenue per signup-week cohort
    * over week offsets — the "when does a cohort pay back" series.
    * Revenue cells aggregate once from events; the cumulative sum runs
    * over the O(weeks²) cohort×offset cell table (window partitioned
    * by cohort — bounded, never events). */
  private val q149 = Q("q149_cohort_ltv",
    (s, d) => {
      val ev = eventsUs(s, d)
      val week = longDiv(col("ts_us") - CohortEpoch0Us, WeekUs)
      val first = ev.groupBy(col("user_id")).agg(min(week).as("cohort_week"))
      val rev = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), week.as("week"), col("value"))
        .join(first, "user_id")
        .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"))
        .agg(sum(col("value")).as("rev"))
      val wc = Window.partitionBy(col("cohort_week")).orderBy(col("week_offset"))
        .rowsBetween(Window.unboundedPreceding, 0)
      rev.withColumn("cum_revenue", r(sum(col("rev")).over(wc), 2))
        .select(col("cohort_week"), col("week_offset"),
          r(col("rev"), 2).as("revenue"), col("cum_revenue"))
        .orderBy(col("cohort_week"), col("week_offset"))
    },
    Some(s"""WITH e AS (SELECT user_id, event_type, value,
        (epoch_us(ts) - $CohortEpoch0Us) // $WeekUs AS wk FROM events),
      f AS (SELECT user_id, min(wk) AS cohort_week FROM e GROUP BY user_id),
      cells AS (SELECT f.cohort_week, e.wk - f.cohort_week AS week_offset,
          sum(e.value) AS rev
        FROM e JOIN f USING (user_id) WHERE e.event_type = 'purchase'
        GROUP BY 1, 2)
      SELECT cohort_week, week_offset,
        floor(rev * 100.0 + 0.5) / 100.0 AS revenue,
        floor(sum(rev) OVER (PARTITION BY cohort_week ORDER BY week_offset
          ROWS UNBOUNDED PRECEDING) * 100.0 + 0.5) / 100.0 AS cum_revenue
      FROM cells ORDER BY cohort_week, week_offset"""),
    bench = true)

  /** E+ churn: per week, the users active then but NOT the next week,
    * and the churn rate — one left-anti self-join of the deduplicated
    * (user, week) pair table against its week+1 shift. */
  private val q150 = Q("q150_weekly_churn",
    (s, d) => {
      val week = longDiv(col("ts_us") - CohortEpoch0Us, WeekUs)
      // the deduped pair table feeds three consumers (churn anti-join's
      // both sides + the active rollup) — barrier, or each
      // replans the event-scale distinct (round-8 multi-consumer audit)
      val pairs = OpUtils.barrier(
        eventsUs(s, d).select(col("user_id"), week.as("week")).distinct())
      val next = pairs.select(col("user_id"), (col("week") - 1).as("week"))
      val churned = pairs.join(next, Seq("user_id", "week"), "left_anti")
        .groupBy(col("week")).agg(count(lit(1)).as("churned"))
      val active = pairs.groupBy(col("week")).agg(count(lit(1)).as("active"))
      active.join(churned, Seq("week"), "left")
        .select(col("week"), col("active"),
          coalesce(col("churned"), lit(0L)).as("churned"),
          r(coalesce(col("churned"), lit(0L)) * 1.0 / col("active"), 6)
            .as("churn_rate"))
        .orderBy(col("week"))
    },
    Some(s"""WITH p AS (SELECT DISTINCT user_id,
        (epoch_us(ts) - $CohortEpoch0Us) // $WeekUs AS wk FROM events),
      ch AS (SELECT a.wk, count(*)::BIGINT AS churned FROM p a
        LEFT JOIN p b ON a.user_id = b.user_id AND b.wk = a.wk + 1
        WHERE b.user_id IS NULL GROUP BY a.wk),
      ac AS (SELECT wk, count(*)::BIGINT AS active FROM p GROUP BY wk)
      SELECT ac.wk AS week, ac.active,
        CAST(coalesce(ch.churned, 0) AS BIGINT) AS churned,
        floor(coalesce(ch.churned, 0) * 1.0 / ac.active * 1000000.0 + 0.5)
          / 1000000.0 AS churn_rate
      FROM ac LEFT JOIN ch ON ac.wk = ch.wk ORDER BY week"""),
    bench = true)   // round-10 rotation: never-benched heavy

  /** D+ sketches: PER-GROUP quantile sketch (q126's global sample run
    * inside every event_type at once — [[graft.operators.Sketches
    * .groupQuantileSketch]]): the per-group cut is a `row_number ≤ k`
    * filter (a Partial `WindowGroupLimit` keeps k rows per group and
    * map partition before the shuffle), estimates are
    * nearest-rank over ≤ k values, and the exact-rank gate
    * |frac(est) − p| ≤ 0.12 (k=128 ⇒ DKW ≈ 0.12 at 95%) is
    * oracle-pinned TRUE per (group, p). */
  private val q151 = Q("q151_group_quantile_sketch",
    (s, d) => {
      val ev = OpUtils.barrier(eventsUs(s, d)
        .select(col("event_type"), col("event_id"), col("value")))
      val est = graft.operators.Sketches.groupQuantileSketch(
        ev, group = col("event_type"), key = col("event_id"),
        value = col("value"), k = 128, seed = "q151",
        ps = Seq(0.25, 0.5, 0.9))
      ev.join(broadcast(est), ev("event_type") === est("grp"))
        .groupBy(col("grp"), col("p"), col("est"))
        .agg(r(count(when(col("value") <= col("est"), 1)) * 1.0
          / count(lit(1)), 6).as("exact_frac"))
        .withColumn("within_bound", abs(col("exact_frac") - col("p")) <= 0.12)
        .orderBy(col("grp"), col("p"))
    },
    Some(s"""WITH e AS (SELECT event_type, CAST(event_id AS VARCHAR) AS k_str,
        value::DOUBLE AS v,
        ${sqlPolyHash("'q151' || CAST(event_id AS VARCHAR)")} AS h
      FROM events),
      smp AS (SELECT event_type, v FROM (SELECT *, row_number() OVER (
          PARTITION BY event_type ORDER BY h, k_str, v) AS rn FROM e)
        WHERE rn <= 128),
      lists AS (SELECT event_type,
          list_sort(list(v) FILTER (v IS NOT NULL)) AS vs,
          count(v)::BIGINT AS n FROM smp GROUP BY event_type),
      ps(p) AS (VALUES (0.25), (0.5), (0.9)),
      est AS (SELECT event_type, p,
          vs[CAST(greatest(ceil(p * n), 1) AS INT)] AS est FROM lists, ps),
      tot AS (SELECT event_type, count(*)::BIGINT AS n_all
        FROM e GROUP BY event_type),
      fr AS (SELECT est.event_type AS grp, est.p, est.est,
          floor((SELECT count(*) FROM e
              WHERE e.event_type = est.event_type AND e.v <= est.est)
            * 1.0 / tot.n_all * 1000000.0 + 0.5) / 1000000.0 AS exact_frac
        FROM est JOIN tot ON est.event_type = tot.event_type)
      SELECT grp, p, est, exact_frac,
        abs(exact_frac - p) <= 0.12 AS within_bound
      FROM fr ORDER BY grp, p"""))

  // ---------------------------------------------------------------- //
  // H4+: web-corpus quality heuristics (Gopher/C4 + drift)            //
  // ---------------------------------------------------------------- //

  /** H4+: Gopher well-formedness stats + keep gate
    * ([[CorpusQuality.withGopherStats]]/[[CorpusQuality.gopherKeep]]):
    * word count, mean word length, alpha-word fraction,
    * symbol-to-word ratio — all per-row column maps behind the scan.
    * The keep flag compares the RAW doubles (threshold compares are
    * exact either way); displayed stats are quantized. */
  private val q159 = Q("q159_gopher_quality",
    (s, d) => {
      val st = CorpusQuality.withGopherStats(
        t(s, d, "documents"), col("text"))
      st.withColumn("gopher_keep",
          CorpusQuality.gopherKeep(minWords = 30L))
        .select(col("doc_id"), col("n_words"),
          r(col("mean_word_len"), 4).as("mean_word_len"),
          r(col("alpha_word_frac"), 4).as("alpha_word_frac"),
          r(col("symbol_word_ratio"), 4).as("symbol_word_ratio"),
          col("gopher_keep"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS tk
        FROM documents),
      st AS (SELECT doc_id,
        len(tk)::BIGINT AS n_words,
        list_aggregate(list_transform(tk, x -> length(x)), 'sum')::DOUBLE
          / len(tk) AS mean_word_len,
        len(list_filter(tk, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
          / len(tk) AS alpha_word_frac,
        len(regexp_extract_all(text, '#|\.\.\.'))::DOUBLE
          / len(tk) AS symbol_word_ratio
      FROM t)
      SELECT doc_id, n_words,
        floor(mean_word_len * 10000.0 + 0.5) / 10000.0 AS mean_word_len,
        floor(alpha_word_frac * 10000.0 + 0.5) / 10000.0 AS alpha_word_frac,
        floor(symbol_word_ratio * 10000.0 + 0.5) / 10000.0 AS symbol_word_ratio,
        (n_words >= 30 AND n_words <= 100000
          AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
          AND alpha_word_frac >= 0.8
          AND symbol_word_ratio <= 0.1) AS gopher_keep
      FROM st ORDER BY doc_id"""))

  /** H4+: Gopher top-bigram character fraction
    * ([[CorpusQuality.topNgramCharFrac]]) — the boilerplate signal
    * "one phrase covers X% of the document". Count ties break by the
    * portable gram hash (engines disagree on supplementary-plane
    * string order), pinned in the oracle too. */
  private val q160 = Q("q160_top_ngram_repetition",
    (s, d) => CorpusQuality.topNgramCharFrac(
        t(s, d, "documents"), col("doc_id"), col("text"), n = 2)
      .select(col("id").as("doc_id"), col("top_gram"),
        r(col("top_gram_frac"), 6).as("top_gram_frac"))
      .orderBy(col("doc_id")),
    Some(s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS tk
        FROM documents),
      g AS (SELECT doc_id, length(text) AS nc, u.gram
        FROM t, unnest([array_to_string(tk[i:i+1], ' ')
          for i in range(1, len(tk))]) AS u(gram)),
      c AS (SELECT doc_id, nc, gram, count(*)::BIGINT AS cnt
        FROM g GROUP BY 1, 2, 3),
      rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id
          ORDER BY cnt DESC, ${sqlPolyHash("gram")}, gram) AS rn FROM c),
      top AS (SELECT doc_id, gram,
          least(1.0, (cnt * length(gram))::DOUBLE
            / nullif(nc, 0)::DOUBLE) AS frac
        FROM rk WHERE rn = 1)
      SELECT t.doc_id, top.gram AS top_gram,
        CASE WHEN t.tnull THEN NULL
          ELSE floor(coalesce(top.frac, 0.0) * 1000000.0 + 0.5) / 1000000.0
        END AS top_gram_frac
      FROM (SELECT DISTINCT doc_id, text IS NULL AS tnull FROM t) t
      LEFT JOIN top ON t.doc_id = top.doc_id
      ORDER BY t.doc_id"""),
    bench = true)

  /** H4+: Gopher duplicate-trigram character fraction
    * ([[CorpusQuality.dupNgramCharFrac]]) — occurrence-sum over grams
    * appearing ≥ 2 times, clamped at 1.0. */
  private val q161 = Q("q161_dup_ngram_repetition",
    (s, d) => CorpusQuality.dupNgramCharFrac(
        t(s, d, "documents"), col("doc_id"), col("text"), n = 3)
      .select(col("id").as("doc_id"),
        r(col("dup_ngram_frac"), 6).as("dup_ngram_frac"))
      .orderBy(col("doc_id")),
    Some("""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS tk
        FROM documents),
      g AS (SELECT doc_id, length(text) AS nc, u.gram
        FROM t, unnest([array_to_string(tk[i:i+2], ' ')
          for i in range(1, len(tk) - 1)]) AS u(gram)),
      c AS (SELECT doc_id, nc, gram, count(*)::BIGINT AS cnt
        FROM g GROUP BY 1, 2, 3),
      d2 AS (SELECT doc_id, least(1.0,
          sum(CASE WHEN cnt >= 2 THEN cnt * length(gram) ELSE 0 END)::DOUBLE
            / nullif(nc, 0)::DOUBLE) AS frac
        FROM c GROUP BY doc_id, nc)
      SELECT t.doc_id,
        CASE WHEN t.tnull THEN NULL
          ELSE floor(coalesce(d2.frac, 0.0) * 1000000.0 + 0.5) / 1000000.0
        END AS dup_ngram_frac
      FROM (SELECT DISTINCT doc_id, text IS NULL AS tnull FROM t) t
      LEFT JOIN d2 ON t.doc_id = d2.doc_id
      ORDER BY t.doc_id"""))

  /** H4+: Gopher duplicate-line signals over a derived line structure
    * ([[CorpusQuality.withLineStats]]) — the fixture corpus is
    * single-line, so lines are derived by splitting at the ' batch '
    * token (plain substring replace, identical left-to-right
    * non-overlapping semantics in both engines). Zero shuffles: the
    * whole query is split/array_distinct/fold arithmetic per row. */
  private val q162 = Q("q162_line_repetition",
    (s, d) => CorpusQuality.withLineStats(
        t(s, d, "documents"),
        expr("replace(text, ' batch ', '\n')"))
      .select(col("doc_id"), col("n_lines"), col("n_distinct_lines"),
        r(col("dup_line_frac"), 6).as("dup_line_frac"),
        r(col("dup_line_char_frac"), 6).as("dup_line_char_frac"))
      .orderBy(col("doc_id")),
    Some("""WITH lt AS (SELECT doc_id,
        string_split(replace(text, ' batch ', chr(10)), chr(10)) AS l
        FROM documents),
      st AS (SELECT doc_id, len(l)::BIGINT AS n_lines,
        len(list_distinct(l))::BIGINT AS n_distinct_lines,
        list_aggregate(list_transform(l, x -> length(x)), 'sum')::DOUBLE
          AS tot_chars,
        coalesce(list_aggregate(list_transform(list_distinct(l),
          x -> length(x)), 'sum'), 0)::DOUBLE AS dist_chars
      FROM lt)
      SELECT doc_id, n_lines, n_distinct_lines,
        floor((1.0 - n_distinct_lines::DOUBLE / n_lines) * 1000000.0 + 0.5)
          / 1000000.0 AS dup_line_frac,
        CASE WHEN tot_chars = 0 THEN 0.0
          ELSE floor((1.0 - dist_chars / tot_chars) * 1000000.0 + 0.5)
            / 1000000.0 END AS dup_line_char_frac
      FROM st ORDER BY doc_id"""),
    bench = true)

  /** H4+: C4 line-level cleaning ([[CorpusQuality.c4CleanLines]]) —
    * same derived lines, keep lines of ≥ 3 words, reassemble; the
    * cleaned text is compared by portable hash + length (the
    * full-string equality without hauling text through the differ). */
  private val q163 = Q("q163_c4_line_clean",
    (s, d) => CorpusQuality.c4CleanLines(
        t(s, d, "documents"),
        expr("replace(text, ' batch ', '\n')"), minWords = 3)
      .select(col("doc_id"), col("n_lines"), col("n_lines_kept"),
        polyHash(col("clean_text")).as("clean_hash"),
        length(col("clean_text")).cast("long").as("clean_len"))
      .orderBy(col("doc_id")),
    Some(s"""WITH lt AS (SELECT doc_id, text,
        string_split(replace(text, ' batch ', chr(10)), chr(10)) AS l
        FROM documents),
      cl AS (SELECT doc_id, text, len(l)::BIGINT AS n_lines,
        list_filter(l, x -> len(string_split(x, ' ')) >= 3) AS kept
      FROM lt),
      res AS (SELECT doc_id, n_lines, len(kept)::BIGINT AS n_lines_kept,
        -- two DuckDB null quirks the Spark side doesn't share:
        -- array_to_string([], sep) is NULL (not ''), and the polyHash
        -- fold of a NULL string folds list_prepend(0, NULL) = [0] to
        -- hash 0 (not NULL) — guard the empty and null cases explicitly
        CASE WHEN text IS NULL THEN NULL
          ELSE coalesce(array_to_string(kept, chr(10)), '') END AS ct
        FROM cl)
      SELECT doc_id, n_lines, n_lines_kept,
        CASE WHEN ct IS NULL THEN NULL
          ELSE ${sqlPolyHash("ct")} END AS clean_hash,
        length(ct)::BIGINT AS clean_len
      FROM res ORDER BY doc_id"""))

  /** H4+: Jensen–Shannon divergence between per-source unigram
    * distributions ([[CorpusQuality.jsDivergence]]) — the corpus
    * drift matrix. Probabilities are exact IEEE divisions of exact
    * longs in both engines; only ln crosses libm, quantized r(·,6)
    * after the pair-keyed sum (the q98 PMI discipline). */
  private val q164 = Q("q164_source_js_divergence",
    (s, d) => CorpusQuality.jsDivergence(
        t(s, d, "documents"), col("source"), col("text"))
      .select(col("src_a"), col("src_b"), r(col("js"), 6).as("js"))
      .orderBy(col("src_a"), col("src_b")),
    Some("""WITH c AS (SELECT source AS src, u.tok, count(*)::BIGINT AS c
        FROM documents, unnest(string_split(text, ' ')) AS u(tok)
        WHERE source IS NOT NULL AND text IS NOT NULL GROUP BY 1, 2),
      tt AS (SELECT src, sum(c)::BIGINT AS t FROM c GROUP BY src),
      p AS (SELECT c.src, c.tok, c.c::DOUBLE / tt.t::DOUBLE AS p
        FROM c JOIN tt ON c.src = tt.src),
      pr AS (SELECT a.src AS sa, b.src AS sb
        FROM (SELECT DISTINCT src FROM p) a
        JOIN (SELECT DISTINCT src FROM p) b ON a.src < b.src),
      u AS (SELECT pr.sa, pr.sb, p.tok, p.p AS pa, NULL::DOUBLE AS pb
          FROM pr JOIN p ON p.src = pr.sa
        UNION ALL
        SELECT pr.sa, pr.sb, p.tok, NULL::DOUBLE, p.p
          FROM pr JOIN p ON p.src = pr.sb),
      m AS (SELECT sa, sb, tok,
          coalesce(max(pa), 0.0) AS pa, coalesce(max(pb), 0.0) AS pb
        FROM u GROUP BY 1, 2, 3),
      term AS (SELECT sa, sb, 0.5 * (
          CASE WHEN pa > 0.0 THEN pa * ln(2.0 * pa / (pa + pb)) ELSE 0.0 END
          + CASE WHEN pb > 0.0 THEN pb * ln(2.0 * pb / (pa + pb)) ELSE 0.0 END
        ) AS t FROM m)
      SELECT sa AS src_a, sb AS src_b,
        floor(sum(t) * 1000000.0 + 0.5) / 1000000.0 AS js
      FROM term GROUP BY 1, 2 ORDER BY src_a, src_b"""),
    bench = true)

  /** H4+ composite: the full Gopher curation gate — word-shape stats,
    * duplicate-line fraction (both fused into ONE per-row chain on a
    * single corpus scan) and the duplicate-trigram fraction (the one
    * signal that needs a shuffle), rolled up to per-source keep rates.
    * Plan shape: per-row chain + one doc-id join with the gram
    * fraction + one source-sized rollup; the keep flag is three-valued
    * (NULL text counts as dropped, never as kept). */
  private val q165 = Q("q165_gopher_curation",
    (s, d) => {
      val perRow = CorpusQuality.withLineStats(
        CorpusQuality.withGopherStats(t(s, d, "documents"), col("text")),
        expr("replace(text, ' batch ', '\n')"))
      val dup = CorpusQuality.dupNgramCharFrac(
        t(s, d, "documents"), col("doc_id"), col("text"), n = 3)
      perRow.join(dup, col("doc_id") === col("id"))
        .withColumn("keep",
          CorpusQuality.gopherKeep(minWords = 30L) &&
            col("dup_line_frac") <= 0.5 && col("dup_ngram_frac") <= 0.2)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("keep"), 1)).as("n_keep"),
          r(count(when(col("keep"), 1)) * 1.0 / count(lit(1)), 6)
            .as("keep_rate"))
        .orderBy(col("source"))
    },
    Some("""WITH t AS (SELECT doc_id, source, text,
        string_split(text, ' ') AS tk,
        string_split(replace(text, ' batch ', chr(10)), chr(10)) AS l
        FROM documents),
      st AS (SELECT doc_id, source,
        len(tk)::BIGINT AS n_words,
        list_aggregate(list_transform(tk, x -> length(x)), 'sum')::DOUBLE
          / len(tk) AS mean_word_len,
        len(list_filter(tk, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
          / len(tk) AS alpha_word_frac,
        len(regexp_extract_all(text, '#|\.\.\.'))::DOUBLE
          / len(tk) AS symbol_word_ratio,
        1.0 - len(list_distinct(l))::DOUBLE / len(l) AS dup_line_frac,
        length(text) AS nc
      FROM t),
      g AS (SELECT doc_id, nc, u.gram
        FROM (SELECT doc_id, length(text) AS nc, tk FROM t),
          unnest([array_to_string(tk[i:i+2], ' ')
            for i in range(1, len(tk) - 1)]) AS u(gram)),
      c AS (SELECT doc_id, nc, gram, count(*)::BIGINT AS cnt
        FROM g GROUP BY 1, 2, 3),
      dp AS (SELECT doc_id, least(1.0,
          sum(CASE WHEN cnt >= 2 THEN cnt * length(gram) ELSE 0 END)::DOUBLE
            / nullif(nc, 0)::DOUBLE) AS dup_ngram_frac
        FROM c GROUP BY doc_id, nc),
      k AS (SELECT st.source,
        (st.n_words >= 30 AND st.n_words <= 100000
          AND st.mean_word_len >= 3.0 AND st.mean_word_len <= 10.0
          AND st.alpha_word_frac >= 0.8 AND st.symbol_word_ratio <= 0.1
          AND st.dup_line_frac <= 0.5
          AND coalesce(dp.dup_ngram_frac,
            CASE WHEN st.n_words IS NULL THEN NULL ELSE 0.0 END) <= 0.2)
          AS keep
      FROM st LEFT JOIN dp ON st.doc_id = dp.doc_id)
      SELECT source, count(*)::BIGINT AS n_docs,
        count(CASE WHEN keep THEN 1 END)::BIGINT AS n_keep,
        floor(count(CASE WHEN keep THEN 1 END) * 1.0 / count(*)
          * 1000000.0 + 0.5) / 1000000.0 AS keep_rate
      FROM k GROUP BY source ORDER BY source"""),
    bench = true)

  /** H3+: embedding-space drift — pairwise cosine between per-label
    * centroid vectors ([[Clustering.groupCentroidCosine]]), the
    * geometric twin of q164's token-level JS matrix and the
    * label-coherence check. Integral quantization makes every number
    * on the path order-independent-exact (sqrt is IEEE-exact), so the
    * oracle replays the matrix with NO float-order caveat; r(·,6) is
    * display convention only. */
  private val q166 = Q("q166_label_centroid_cosine",
    (s, d) => Clustering.groupCentroidCosine(
        emb(s, d), col("label"), col("embedding"))
      .select(col("grp_a").as("label_a"), col("grp_b").as("label_b"),
        r(col("cos"), 6).as("cos"))
      .orderBy(col("label_a"), col("label_b")),
    Some("""WITH c AS (SELECT label AS grp, dd.d,
        sum(floor(embedding[dd.d]::DOUBLE * 10000.0 + 0.5)) AS s
        FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS d) dd
        WHERE label IS NOT NULL AND embedding IS NOT NULL GROUP BY 1, 2),
      n AS (SELECT grp, sum(s * s) AS n2 FROM c GROUP BY grp),
      dt AS (SELECT a.grp AS grp_a, b.grp AS grp_b, sum(a.s * b.s) AS dot
        FROM c a JOIN c b ON a.d = b.d AND a.grp < b.grp GROUP BY 1, 2)
      SELECT grp_a AS label_a, grp_b AS label_b,
        CASE WHEN na.n2 = 0 OR nb.n2 = 0 THEN 0.0
          ELSE floor(dot / (sqrt(na.n2) * sqrt(nb.n2)) * 1000000.0 + 0.5)
            / 1000000.0 END AS cos
      FROM dt JOIN n na ON dt.grp_a = na.grp JOIN n nb ON dt.grp_b = nb.grp
      ORDER BY label_a, label_b"""))

  /** H1+/H4+: winnowing fingerprint digest
    * ([[GraftFunctions.winnowFingerprints]], Schleimer et al. 2003;
    * k = 3, w = 6) — the local-minima document sketch between q42's
    * 1-hash fingerprint and q153's exact shared-span scan: any shared
    * run of ≥ w + k − 1 = 8 tokens shares ≥ 1 fingerprint at expected
    * density 2/(w+1). Pure per-row (native codegen'd kernel behind
    * the scan, zero shuffles); the digest folds every selected
    * (pos, fp) pair in position order, so a hash match certifies the
    * ENTIRE selection sequence. The oracle replays gram hashing,
    * window minima (rightmost tie), the consecutive-dedup (sorted
    * distinct positions — selections are non-decreasing, so set =
    * sequence), and the fold, term for term. */
  private val q167 = Q("q167_winnowing_digest",
    (s, d) => {
      val fps = winnowFingerprints(tokens(col("text")), k = 3, w = 6)
      t(s, d, "documents")
        .select(col("doc_id"), col("text"), fps.as("_fps"))
        .select(col("doc_id"),
          when(col("text").isNull, lit(null))
            .otherwise(size(col("_fps"))).cast("long").as("n_fps"),
          when(col("text").isNull, lit(null).cast("long"))
            .otherwise(aggregate(col("_fps"), lit(0L), (h, e) =>
              pmod(h * 31 + pmod(
                e.getField("pos").cast("long") * 1009 + e.getField("fp"),
                lit(1000000007L)), lit(1000000007L))))
            .as("fp_fold"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS tk
        FROM documents),
      h AS (SELECT doc_id, text,
        CASE WHEN len(tk) >= 3 THEN list_transform(range(1, len(tk) - 1), i ->
          ${sqlPolyHash("array_to_string(tk[i:i+2], ' ')")})
        ELSE [] END AS hs FROM t),
      w AS (SELECT doc_id, text, hs, len(hs) AS m FROM h),
      sel AS (SELECT doc_id, text, hs, m,
        CASE WHEN m = 0 THEN []
        ELSE list_sort(list_distinct(list_transform(
          range(1, greatest(m - 5, 1) + 1), i ->
            list_max(list_transform(range(i, least(i + 6, m + 1)), j ->
              CASE WHEN hs[j] = list_min(hs[i:least(i + 5, m)])
                THEN j ELSE 0 END)))))
        END AS ps FROM w)
      SELECT doc_id,
        CASE WHEN text IS NULL THEN NULL ELSE len(ps)::BIGINT END AS n_fps,
        CASE WHEN text IS NULL THEN NULL ELSE
          list_reduce(list_prepend(0::BIGINT, list_transform(ps, j ->
            ((j - 1) * 1009 + hs[j]) % 1000000007)),
            (a, x) -> (a * 31 + x) % 1000000007)
        END AS fp_fold
      FROM sel ORDER BY doc_id"""),
    bench = true)

  /** H1+/H4+: winnowing match candidates
    * ([[TextAnalysis.winnowingPairs]]) — q167's fingerprints put to
    * their real use: document pairs sharing ≥ 2 fingerprints, with
    * boilerplate fingerprints (document frequency > 10) pruned before
    * the pair join (the quadratic-fan-out guard AND the semantics).
    * The oracle re-derives the fingerprints, the df cut, and the pair
    * counts end to end. */
  private val q168 = Q("q168_winnowing_pairs",
    (s, d) => TextAnalysis.winnowingPairs(
        t(s, d, "documents"), col("doc_id"), col("text"),
        k = 3, w = 6, minShared = 2L, maxDf = 10)
      .orderBy(col("id_a"), col("id_b")),
    Some(s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS tk
        FROM documents),
      h AS (SELECT doc_id, text,
        CASE WHEN len(tk) >= 3 THEN list_transform(range(1, len(tk) - 1), i ->
          ${sqlPolyHash("array_to_string(tk[i:i+2], ' ')")})
        ELSE [] END AS hs FROM t),
      w AS (SELECT doc_id, text, hs, len(hs) AS m FROM h),
      sel AS (SELECT doc_id, text, hs, m,
        CASE WHEN m = 0 THEN []
        ELSE list_sort(list_distinct(list_transform(
          range(1, greatest(m - 5, 1) + 1), i ->
            list_max(list_transform(range(i, least(i + 6, m + 1)), j ->
              CASE WHEN hs[j] = list_min(hs[i:least(i + 5, m)])
                THEN j ELSE 0 END)))))
        END AS ps FROM w),
      fpd AS (SELECT DISTINCT doc_id, hs[u.j] AS fp
        FROM sel, unnest(ps) AS u(j) WHERE text IS NOT NULL),
      keepfp AS (SELECT fp FROM fpd GROUP BY fp HAVING count(*) <= 10),
      kept AS (SELECT * FROM fpd WHERE fp IN (SELECT fp FROM keepfp))
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        count(*)::BIGINT AS shared_fps
      FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING count(*) >= 2
      ORDER BY id_a, id_b"""))

  /** H1+/H4+: normalization-aware dedup basis
    * ([[GraftFunctions.nfc]], native `graft_nfc`): a decomposed
    * variant of every document (each 'a' → 'a' + COMBINING GRAVE) is
    * NFC-normalized and compared — by codepoint length, portable
    * hash, and equality — against the directly-precomposed variant
    * ('a' → U+00E0). `matches_precomposed` TRUE on every row pins
    * JDK Normalizer ≡ DuckDB utf8proc canonical composition on real
    * data; the hash is the dedup key a normalization-aware exact
    * dedup would group on. NULL text propagates NULLs. */
  private val q169 = Q("q169_nfc_dedup_basis",
    (s, d) => {
      val decomp = regexp_replace(col("text"), "a", "a\u0300")
      val norm = nfc(decomp)
      val pre = regexp_replace(col("text"), "a", "\u00E0")
      t(s, d, "documents")
        .select(col("doc_id"),
          length(decomp).cast("long").as("len_decomp"),
          length(norm).cast("long").as("len_nfc"),
          polyHash(norm).as("hash_nfc"),
          (norm === pre).as("matches_precomposed"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH v AS (SELECT doc_id,
        regexp_replace(text, 'a', 'a' || chr(768), 'g') AS decomp,
        regexp_replace(text, 'a', chr(224), 'g') AS pre
        FROM documents),
      n AS (SELECT doc_id, decomp, pre,
        nfc_normalize(decomp) AS norm FROM v)
      SELECT doc_id,
        length(decomp)::BIGINT AS len_decomp,
        length(norm)::BIGINT AS len_nfc,
        -- explicit NULL guard: list_prepend(0, NULL) is [0] in DuckDB,
        -- so the bare fold hashes NULL text to 0 where the native
        -- expression propagates NULL (caught by the r11 dirty gate)
        CASE WHEN norm IS NULL THEN NULL
          ELSE ${sqlPolyHash("norm")} END AS hash_nfc,
        (norm = pre) AS matches_precomposed
      FROM n ORDER BY doc_id"""))

  /** H4+: interpolated Kneser-Ney bigram scoring
    * ([[TextAnalysis.kneserNeyLogProb]], D = 0.75) — the
    * industry-standard LM smoothing on the perplexity-filter axis:
    * the lower-order mass goes to CONTINUATION probability (distinct
    * predecessors / distinct bigram types), not raw unigram
    * frequency. One corpus scan (bigram explode only — cheaper than
    * q114), the bigram-type table barriered once under its four
    * consumers, one posting-sized scoring join. The oracle replays
    * the discounted formula end to end; ln is the one libm call,
    * masked by r(4). */
  private val q170 = Q("q170_kneser_ney_logprob",
    (s, d) => TextAnalysis.kneserNeyLogProb(
        t(s, d, "documents"), col("doc_id"), col("text"), discount = 0.75)
      .select(col("doc_id"), col("n_bigrams"),
        r(col("avg_logprob"), 4).as("avg_logprob"))
      .orderBy(col("doc_id")),
    Some("""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      bg AS (SELECT doc_id, array_to_string(t[p:p+1], ' ') AS pair
        FROM tk, unnest(range(1, len(t))) AS u(p)),
      c2 AS (SELECT pair, count(*) AS c2 FROM bg GROUP BY pair),
      sp AS (SELECT pair, c2,
          string_split(pair, ' ')[1] AS w1, string_split(pair, ' ')[-1] AS w2
        FROM c2),
      c1 AS (SELECT w1, sum(c2) AS c1, count(*) AS n1f FROM sp GROUP BY w1),
      pc AS (SELECT w2, count(*) AS n1p FROM sp GROUP BY w2),
      tt AS (SELECT CAST(count(*) AS DOUBLE) AS tt FROM c2),
      lp AS (SELECT bg.doc_id,
          ln(((sp.c2::DOUBLE - 0.75)
            + 0.75 * c1.n1f * (pc.n1p::DOUBLE / tt.tt)) / c1.c1) AS l
        FROM bg JOIN sp USING (pair) JOIN c1 USING (w1) JOIN pc USING (w2)
          CROSS JOIN tt)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        floor(avg(l) * 10000 + 0.5) / 10000.0 AS avg_logprob
      FROM lp GROUP BY doc_id ORDER BY doc_id"""),
    bench = true)

  /** H4+: per-source Zipf-law fit ([[CorpusQuality.zipfFit]],
    * topN = 100) — the corpus-health scalar (natural text: slope
    * ≈ −1; boilerplate flattens it, degenerate repetition steepens
    * it). Closed-form OLS over (ln rank, ln count), the op sequence
    * spelled out on both sides — never native regr_slope. The top-N
    * cut is a `row_number ≤ k` window group limit; slope and
    * intercept go through r(4) (ln sums are the one float-order
    * exposure). */
  private val q171 = Q("q171_zipf_fit",
    (s, d) => CorpusQuality.zipfFit(
        t(s, d, "documents"), col("source"), col("text"), topN = 100)
      .select(col("src").as("source"), col("n_terms"),
        r(col("slope"), 4).as("slope"), r(col("intercept"), 4).as("intercept"))
      .orderBy(col("source")),
    Some("""WITH toks AS (SELECT source AS src, unnest(string_split(text, ' ')) AS tok
        FROM documents WHERE source IS NOT NULL AND text IS NOT NULL),
      c AS (SELECT src, tok, count(*) AS c FROM toks GROUP BY 1, 2),
      rk AS (SELECT src, c, row_number() OVER (PARTITION BY src
          ORDER BY c DESC, tok) AS rnk FROM c),
      xy AS (SELECT src, ln(rnk::DOUBLE) AS x, ln(c::DOUBLE) AS y
        FROM rk WHERE rnk <= 100),
      s AS (SELECT src, CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx,
          sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx
        FROM xy GROUP BY src HAVING count(*) >= 2)
      SELECT src AS source, CAST(n AS BIGINT) AS n_terms,
        floor((n * sxy - sx * sy) / (n * sxx - sx * sx) * 10000 + 0.5)
          / 10000.0 AS slope,
        floor((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
          * 10000 + 0.5) / 10000.0 AS intercept
      FROM s ORDER BY source"""))

  /** H2+: asymmetric shingle-containment pairs
    * ([[Dedup.containmentPairs]], C(A→B) = |sh(A)∩sh(B)|/|sh(A)|,
    * df ≤ 50, threshold 0.8) — the small-inside-big duplication
    * Jaccard structurally misses (a fragment fully embedded in a
    * long doc has Jaccard ≈ |A|/|B| but containment 1.0). Inverted-
    * index equality join with the df cap as both quadratic guard and
    * boilerplate semantics; both sides of the ratio live in the
    * capped shingle space. The oracle replays posting, df cut, pair
    * counts, and the exact-integer-ratio division end to end. */
  private val q172 = Q("q172_containment_pairs",
    (s, d) => Dedup.containmentPairs(
        t(s, d, "documents"), col("doc_id"), col("text"),
        shingleN = 3, threshold = 0.8, maxDf = 50)
      .orderBy(col("id_a"), col("id_b")),
    Some(s"""WITH sh AS (SELECT DISTINCT doc_id, h FROM
        (SELECT doc_id, unnest(list_transform(${sqlShingles("tk")},
            s -> ${sqlPolyHash("s")})) AS h
          FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents))),
      keeph AS (SELECT h FROM sh GROUP BY h HAVING count(*) <= 50),
      kept AS (SELECT s.doc_id, s.h FROM sh s JOIN keeph USING (h)),
      sz AS (SELECT doc_id, count(*) AS n_kept FROM kept GROUP BY doc_id),
      pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          count(*) AS n_common
        FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id <> b.doc_id
        GROUP BY 1, 2)
      SELECT id_a, id_b, n_common,
        floor(pr.n_common::DOUBLE / sz.n_kept * 1000000 + 0.5)
          / 1000000.0 AS containment
      FROM pr JOIN sz ON pr.id_a = sz.doc_id
      WHERE pr.n_common::DOUBLE / sz.n_kept >= 0.8
      ORDER BY id_a, id_b"""),
    bench = true)

  /** H4+: Heaps'-law vocabulary-growth fit ([[CorpusQuality
    * .heapsFit]], 16 checkpoints) — the q171 dual: V(n) ≈ K·n^β along
    * the doc_id order, β → 1 flags unbounded novel junk, β → 0 a
    * closed boilerplate vocabulary. No global window: first-occurrence
    * doc per token + per-doc counts, each joined to ≤ 16 broadcast
    * checkpoint thresholds (bounded ×K fan-out, map-side combine).
    * Exact-integer point dedup before the ln; the same spelled-out
    * OLS as q171 through r(4). */
  private val q173 = Q("q173_heaps_fit",
    (s, d) => CorpusQuality.heapsFit(
        t(s, d, "documents"), col("doc_id"), col("text"), checkpoints = 16)
      .select(col("n_points"), r(col("beta"), 4).as("beta"),
        r(col("intercept"), 4).as("intercept")),
    Some("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents WHERE text IS NOT NULL),
      fd AS (SELECT tok, min(doc_id) AS fd FROM toks GROUP BY tok),
      dc AS (SELECT doc_id, count(*) AS nt FROM toks GROUP BY doc_id),
      mx AS (SELECT max(doc_id) AS m FROM documents),
      cp AS (SELECT DISTINCT CAST(floor(m * j / 16.0) AS BIGINT) AS cp
        FROM mx, unnest(range(1, 17)) AS u(j)),
      va AS (SELECT cp, count(*) AS v FROM fd JOIN cp ON fd.fd <= cp.cp
        GROUP BY cp),
      ta AS (SELECT cp, sum(nt) AS t FROM dc JOIN cp ON dc.doc_id <= cp.cp
        GROUP BY cp),
      pts AS (SELECT ln(t::DOUBLE) AS x, ln(v::DOUBLE) AS y
        FROM (SELECT DISTINCT t, v FROM va JOIN ta USING (cp)
              WHERE v > 0 AND t > 0)),
      s AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx,
          sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx FROM pts
        HAVING count(*) >= 2
          AND CAST(count(*) AS DOUBLE) * sum(x * x) - sum(x) * sum(x) <> 0)
      SELECT CAST(n AS BIGINT) AS n_points,
        floor((n * sxy - sx * sy) / (n * sxx - sx * sx) * 10000 + 0.5)
          / 10000.0 AS beta,
        floor((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
          * 10000 + 0.5) / 10000.0 AS intercept
      FROM s"""))

  /** E+: funnel transition latency distribution
    * ([[EventAnalytics.funnelLatency]]) — the timing dimension q128's
    * counts lack: per step transition, exact min/p50/p90/max of
    * `t_{k+1} − t_k` (µs) over the same in-window population the
    * summary counts. One pass over the funnel-times table, all
    * transitions in a single 1-row aggregation exploded to rows;
    * percentile ≡ quantile_cont (the q27-proven portable pair),
    * masked by r(4). */
  private val q174 = Q("q174_funnel_latency",
    (s, d) => {
      val steps = Seq("view", "click", "purchase")
      val times = EventAnalytics.funnelTimes(
        eventsUs(s, d), key = "user_id", ts = "ts_us",
        typeCol = "event_type", steps = steps, tie = "event_id")
      EventAnalytics.funnelLatency(times, steps, FunnelWindowUs)
        .select(col("step_idx"), col("transition"), col("n_keys"),
          col("min_us"), r(col("p50_us"), 4).as("p50_us"),
          r(col("p90_us"), 4).as("p90_us"), col("max_us"))
        .orderBy(col("step_idx"))
    },
    Some(s"""WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
        FROM events),
      w1 AS (SELECT user_id, event_id, event_type, ts_us,
          CASE WHEN event_type = 'view' THEN ts_us END AS v1 FROM e),
      w2 AS (SELECT *, CASE WHEN event_type = 'click'
            AND min(v1) OVER w < ts_us THEN ts_us END AS v2
        FROM w1 WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
          ROWS UNBOUNDED PRECEDING)),
      w3 AS (SELECT *, CASE WHEN event_type = 'purchase'
            AND min(v2) OVER w < ts_us THEN ts_us END AS v3
        FROM w2 WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
          ROWS UNBOUNDED PRECEDING)),
      u AS (SELECT user_id, min(v1) AS t1, min(v2) AS t2, min(v3) AS t3
        FROM w3 GROUP BY user_id),
      dd AS (SELECT
          CASE WHEN t2 IS NOT NULL AND t2 - t1 <= $FunnelWindowUs
            THEN t2 - t1 END AS d1,
          CASE WHEN t3 IS NOT NULL AND t3 - t1 <= $FunnelWindowUs
            THEN t3 - t2 END AS d2
        FROM u),
      c AS (SELECT
          count(d1) AS n1, min(d1) AS mn1, quantile_cont(d1, 0.5) AS p51,
          quantile_cont(d1, 0.9) AS p91, max(d1) AS mx1,
          count(d2) AS n2, min(d2) AS mn2, quantile_cont(d2, 0.5) AS p52,
          quantile_cont(d2, 0.9) AS p92, max(d2) AS mx2
        FROM dd)
      SELECT * FROM (
        SELECT 1 AS step_idx, 'view->click' AS transition,
          n1::BIGINT AS n_keys, mn1 AS min_us,
          floor(p51 * 10000 + 0.5) / 10000.0 AS p50_us,
          floor(p91 * 10000 + 0.5) / 10000.0 AS p90_us, mx1 AS max_us
        FROM c
        UNION ALL
        SELECT 2, 'click->purchase', n2::BIGINT, mn2,
          floor(p52 * 10000 + 0.5) / 10000.0,
          floor(p92 * 10000 + 0.5) / 10000.0, mx2 FROM c)
      ORDER BY step_idx"""))

  /** H+ graph: undirected degree histogram
    * ([[graft.operators.Graph.degreeHistogram]]) — the drift watcher
    * for derived link graphs, on q134's canonical edge basis.
    * All-integer, exact at any scale. */
  private val q175 = Q("q175_degree_histogram",
    (s, d) => graft.operators.Graph.degreeHistogram(
      linkEdges(s, d), col("src"), col("dst")),
    Some("""WITH e0 AS (SELECT doc_id AS src,
        (doc_id * doc_id + 7 + j * 97) % (SELECT count(*) FROM documents) AS dst
      FROM documents CROSS JOIN (SELECT unnest([0, 1, 2]) AS j) _j),
      u AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM e0 WHERE src <> dst),
      deg AS (SELECT v, count(*)::BIGINT AS deg
        FROM (SELECT a AS v FROM u UNION ALL SELECT b FROM u) GROUP BY v)
      SELECT deg, count(*)::BIGINT AS n_vertices
      FROM deg GROUP BY deg ORDER BY deg"""))

  /** H+ graph: power-law tail exponent via the continuous MLE with
    * discreteness shift ([[graft.operators.Graph.powerLawAlpha]],
    * Clauset-Shalizi-Newman 2009) — never a binned log-log
    * regression. One vertex-sized aggregation to a single row;
    * ln-sum masked by r(4). */
  private val q176 = Q("q176_power_law_alpha",
    (s, d) => graft.operators.Graph.powerLawAlpha(
        linkEdges(s, d), col("src"), col("dst"), dMin = 2)
      .select(col("n_tail"), col("d_min"), r(col("alpha"), 4).as("alpha")),
    Some("""WITH e0 AS (SELECT doc_id AS src,
        (doc_id * doc_id + 7 + j * 97) % (SELECT count(*) FROM documents) AS dst
      FROM documents CROSS JOIN (SELECT unnest([0, 1, 2]) AS j) _j),
      u AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM e0 WHERE src <> dst),
      deg AS (SELECT v, count(*)::BIGINT AS deg
        FROM (SELECT a AS v FROM u UNION ALL SELECT b FROM u) GROUP BY v),
      s AS (SELECT count(*)::BIGINT AS n_tail,
          sum(ln(deg::DOUBLE / 1.5)) AS s
        FROM deg WHERE deg >= 2 HAVING count(*) > 0)
      SELECT n_tail, 2 AS d_min,
        floor((1.0 + n_tail::DOUBLE / s) * 10000 + 0.5) / 10000.0 AS alpha
      FROM s"""))

  /** E+: burst collapse / debounce ([[EventAnalytics.debounce]],
    * ε = 6 h) — the duplicate-fire cleaner before any counting op;
    * trailing-gap chain semantics (the session definition at debounce
    * timescale). One event-scale exchange: lag + running-sum windows
    * and the burst agg share the (key, type) partitioning and one
    * (ts, tie) sort. All-integer output. */
  private val q177 = Q("q177_event_debounce",
    (s, d) => EventAnalytics.debounce(
        eventsUs(s, d), key = "user_id", ts = "ts_us",
        typeCol = "event_type", tie = "event_id", epsUs = 21600000000L)
      .orderBy(col("user_id"), col("event_type"), col("ts_first")),
    Some("""WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS t
        FROM events),
      g AS (SELECT *, CASE WHEN lag(t) OVER w IS NULL
            OR t - lag(t) OVER w > 21600000000 THEN 1 ELSE 0 END AS opens
        FROM e WINDOW w AS (PARTITION BY user_id, event_type
          ORDER BY t, event_id)),
      -- opens-DESC: tie-stable burst ids under duplicate rows (q10)
      b AS (SELECT *, sum(opens) OVER (PARTITION BY user_id, event_type
          ORDER BY t, event_id, opens DESC
          ROWS UNBOUNDED PRECEDING) AS burst FROM g)
      SELECT user_id, event_type, min(t) AS ts_first, max(t) AS ts_last,
        count(*)::BIGINT AS n_collapsed
      FROM b GROUP BY user_id, event_type, burst
      ORDER BY user_id, event_type, ts_first"""),
    bench = true)

  /** E+: SCD2 interval compression ([[EventAnalytics.scd2Intervals]]
    * over each user's event-type stream) — the slowly-changing-
    * dimension build over a change feed: consecutive same-value runs
    * collapse to [valid_from, valid_to) versions, valid_to NULL for
    * the current one, NULL-safe version breaks. One event-scale
    * exchange; the valid_to lead runs over the version-level table. */
  private val q178 = Q("q178_scd2_intervals",
    (s, d) => EventAnalytics.scd2Intervals(
        eventsUs(s, d), key = "user_id", ts = "ts_us",
        attr = "event_type", tie = "event_id")
      .orderBy(col("user_id"), col("valid_from")),
    Some("""WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS t
        FROM events),
      g AS (SELECT *, CASE WHEN row_number() OVER w = 1
            OR event_type IS DISTINCT FROM lag(event_type) OVER w
            THEN 1 ELSE 0 END AS opens
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
      -- opens-DESC: tie-stable version ids under duplicate rows (q10)
      v AS (SELECT *, sum(opens) OVER (PARTITION BY user_id
          ORDER BY t, event_id, opens DESC
          ROWS UNBOUNDED PRECEDING) AS ver FROM g),
      iv AS (SELECT user_id, ver, max(event_type) AS event_type,
          min(t) AS valid_from, count(*)::BIGINT AS n_events
        FROM v GROUP BY user_id, ver)
      SELECT user_id, event_type, valid_from,
        lead(valid_from) OVER (PARTITION BY user_id ORDER BY ver) AS valid_to,
        n_events
      FROM iv ORDER BY user_id, valid_from"""),
    bench = true)

  /** Generated oracle for q179: per subspace, the unrolled quantized
    * k-means (the [[kmeansOracleCte]] pattern at dim=subDim, k=16,
    * iters=2 over the embedding slice), the half-up-rounded INTEGER
    * codebook, the argmin encoding, and the query LUT; then ADC =
    * per-(query, doc) sum of the m integer lookup terms. */
  /** Generated CTE chain: the unrolled quantized k-means (the
    * [[kmeansOracleCte]] pattern, iters = 2) over `embedding[lo:hi]`,
    * ending in the half-up-rounded INTEGER codebook `cb$tag`. */
  private def sqlKmeansChain(tag: String, lo: Int, hi: Int, k: Int,
                             seed: String): String = {
    val dim = hi - lo + 1
    def dot(a: String, b: String) = sqlDot(a, b, dim)
    val dxx = dot("x.v", "x.v"); val dxc = dot("x.v", "c.c")
    val dcc = dot("c.c", "c.c")
    s"""xq$tag AS (SELECT DISTINCT vec_id,
        list_transform(embedding[$lo:$hi], x -> floor(x::DOUBLE * 10000.0 + 0.5)) AS v
      FROM embeddings WHERE embedding IS NOT NULL),
    sd$tag AS (SELECT vec_id, v,
        row_number() OVER (ORDER BY
          ${sqlPolyHash(s"'$seed' || CAST(vec_id AS VARCHAR) || '#graft-kmeans'")} % 10000,
          vec_id) - 1 AS cid
      FROM xq$tag),
    c${tag}_0 AS (SELECT cid, v AS c FROM sd$tag WHERE cid < $k),
    p${tag}_1 AS (SELECT x.vec_id, x.v, c.cid, ($dxx - 2.0 * $dxc + $dcc) AS dist2
      FROM xq$tag x CROSS JOIN c${tag}_0 c),
    a${tag}_1 AS (SELECT vec_id, v, cid FROM p${tag}_1
      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) = 1),
    u${tag}_1 AS (SELECT cid, d, sum(v[d]) / count(*) AS mn
      FROM a${tag}_1 CROSS JOIN (SELECT unnest(range(1, ${dim + 1})) AS d)
      GROUP BY cid, d),
    c${tag}_1 AS (SELECT c0.cid, coalesce(u.c, c0.c) AS c
      FROM c${tag}_0 c0 LEFT JOIN (SELECT cid, list(mn ORDER BY d) AS c
        FROM u${tag}_1 GROUP BY cid) u ON c0.cid = u.cid),
    p${tag}_2 AS (SELECT x.vec_id, x.v, c.cid, ($dxx - 2.0 * $dxc + $dcc) AS dist2
      FROM xq$tag x CROSS JOIN c${tag}_1 c),
    a${tag}_2 AS (SELECT vec_id, v, cid FROM p${tag}_2
      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) = 1),
    u${tag}_2 AS (SELECT cid, d, sum(v[d]) / count(*) AS mn
      FROM a${tag}_2 CROSS JOIN (SELECT unnest(range(1, ${dim + 1})) AS d)
      GROUP BY cid, d),
    c${tag}_2 AS (SELECT c1.cid, coalesce(u.c, c1.c) AS c
      FROM c${tag}_1 c1 LEFT JOIN (SELECT cid, list(mn ORDER BY d) AS c
        FROM u${tag}_2 GROUP BY cid) u ON c1.cid = u.cid),
    cb$tag AS (SELECT cid, list_transform(c, x -> floor(x + 0.5)) AS c
      FROM c${tag}_2)"""
  }

  /** The per-subspace PQ surface on top of [[sqlKmeansChain]]: codes
    * (argmin encodings) and the query LUT, unioned across subspaces. */
  private def pqSubspaceCtes(m: Int, subDim: Int, cbK: Int, seed: String,
                             maxQ: Int): String = {
    val subs = (0 until m).map { s =>
      val lo = s * subDim + 1; val hi = lo + subDim - 1
      def dot(a: String, b: String) = sqlDot(a, b, subDim)
      val dxx = dot("x.v", "x.v"); val dxc = dot("x.v", "c.c")
      val dcc = dot("c.c", "c.c")
      s"""${sqlKmeansChain(s.toString, lo, hi, cbK, s"$seed-$s")},
      enc$s AS (SELECT x.vec_id, $s AS s, c.cid AS code
        FROM xq$s x CROSS JOIN cb$s c
        QUALIFY row_number() OVER (PARTITION BY x.vec_id
          ORDER BY ($dxx - 2.0 * $dxc + $dcc), c.cid) = 1),
      lut$s AS (SELECT x.vec_id AS q_id, $s AS s, c.cid AS code,
          ($dxx - 2.0 * $dxc + $dcc) AS d2
        FROM xq$s x CROSS JOIN cb$s c WHERE x.vec_id < $maxQ)"""
    }
    val encUnion = (0 until m).map(s => s"SELECT * FROM enc$s")
      .mkString(" UNION ALL ")
    val lutUnion = (0 until m).map(s => s"SELECT * FROM lut$s")
      .mkString(" UNION ALL ")
    s"""${subs.mkString(",\n      ")},
      codes AS ($encUnion),
      lut AS ($lutUnion)"""
  }

  private def pqOracleCte(m: Int, subDim: Int, cbK: Int, seed: String,
                          maxQ: Int): String =
    s"""WITH ${pqSubspaceCtes(m, subDim, cbK, seed, maxQ)},
      adc AS (SELECT l.q_id, c.vec_id AS c_id, sum(l.d2) AS adc
        FROM codes c JOIN lut l ON c.s = l.s AND c.code = l.code
        WHERE l.q_id <> c.vec_id GROUP BY 1, 2)"""

  /** H3+: product-quantization ANN with ADC scoring
    * ([[Similarity.pqTopK]], m=8 × subDim=8, 16-word integer
    * codebooks, Jégou et al. 2011) — the memory-compressed linear
    * scan (m bytes per vector instead of 4·dim). Integral codebooks
    * make every distance exact and the m-term ADC sums
    * order-independent, so the WHOLE pipeline — 8 unrolled k-means,
    * rounding, encoding, LUT, ranking — hash-replays in SQL: the
    * oracle-checked PQ (since r12, q38's IVF rides the same integer
    * core and is oracle-checked too). */
  private val q179 = Q("q179_pq_adc_topk",
    (s, d) => {
      val e = emb(s, d)
      Similarity.pqTopK(
        e.filter(col("vec_id") < 20)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec")),
        e.select(col("vec_id").as("c_id"), col("embedding").as("c_vec")),
        k = 5, m = 8, subDim = 8, codebookK = 16, iters = 2, seed = "pq11")
        .orderBy(col("q_id"), col("rank"))
    },
    Some(s"""${pqOracleCte(m = 8, subDim = 8, cbK = 16, seed = "pq11", maxQ = 20)},
      rk AS (SELECT q_id, c_id, adc,
        row_number() OVER (PARTITION BY q_id ORDER BY adc, c_id) AS rank
        FROM adc)
      SELECT q_id, rank, c_id, CAST(adc AS BIGINT) AS adc_dist2
      FROM rk WHERE rank <= 5 ORDER BY q_id, rank"""),
    bench = true)

  /** H3+: IVF coarse lists + PQ/ADC re-rank
    * ([[Similarity.ivfPqTopK]], 8 lists × 2 probes over q179's
    * codebooks) — the composed billion-vector shape: the ADC scan
    * runs only over the probed lists' members. Integral coarse
    * centroids, list filing, probe cut, and the ADC rank all replay
    * in SQL — the oracle-checked IVF+PQ composition (q38 checks the
    * same coarse substrate with exact scoring since r12). */
  private val q180 = Q("q180_ivfpq_topk",
    (s, d) => {
      val e = emb(s, d)
      Similarity.ivfPqTopK(
        e.filter(col("vec_id") < 20)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec")),
        e.select(col("vec_id").as("c_id"), col("embedding").as("c_vec")),
        k = 5, nLists = 8, nProbe = 2,
        m = 8, subDim = 8, codebookK = 16, iters = 2, seed = "pq11")
        .orderBy(col("q_id"), col("rank"))
    },
    Some {
      val dot = (a: String, b: String) => sqlDot(a, b, 64)
      val dxx = dot("x.v", "x.v"); val dxc = dot("x.v", "c.c")
      val dcc = dot("c.c", "c.c")
      s"""WITH ${pqSubspaceCtes(m = 8, subDim = 8, cbK = 16, seed = "pq11", maxQ = 20)},
      ${sqlKmeansChain("co", 1, 64, 8, "pq11-coarse")},
      docl AS (SELECT x.vec_id AS c_id, c.cid AS list_id
        FROM xqco x CROSS JOIN cbco c
        QUALIFY row_number() OVER (PARTITION BY x.vec_id
          ORDER BY ($dxx - 2.0 * $dxc + $dcc), c.cid) = 1),
      qpr AS (SELECT x.vec_id AS q_id, c.cid AS list_id
        FROM xqco x CROSS JOIN cbco c WHERE x.vec_id < 20
        QUALIFY row_number() OVER (PARTITION BY x.vec_id
          ORDER BY ($dxx - 2.0 * $dxc + $dcc), c.cid) <= 2),
      pairs AS (SELECT q.q_id, d.c_id FROM docl d JOIN qpr q USING (list_id)),
      adc AS (SELECT p.q_id, p.c_id, sum(l.d2) AS adc
        FROM pairs p JOIN codes c ON c.vec_id = p.c_id
          JOIN lut l ON l.q_id = p.q_id AND l.s = c.s AND l.code = c.code
        WHERE p.q_id <> p.c_id GROUP BY 1, 2),
      rk AS (SELECT q_id, c_id, adc,
        row_number() OVER (PARTITION BY q_id ORDER BY adc, c_id) AS rank
        FROM adc)
      SELECT q_id, rank, c_id, CAST(adc AS BIGINT) AS adc_dist2
      FROM rk WHERE rank <= 5 ORDER BY q_id, rank"""
    },
    bench = true)

  /** H3+: PQ recall@10 against the exact quantized-L2 ground truth
    * ([[Similarity.pqRecall]]) — the ANN evaluation table itself
    * hash-replayed (both rankings integer-exact with lexicographic
    * ties), not just gated in-plan like the float-centroid
    * `ivfTopKWithRecall` (the pre-r12 q38).
    * Ground truth is the brute cross product by definition — an
    * evaluation op over a query sample, never a serving path. */
  private val q181 = Q("q181_pq_recall",
    (s, d) => {
      val e = emb(s, d)
      Similarity.pqRecall(
        e.filter(col("vec_id") < 20)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec")),
        e.select(col("vec_id").as("c_id"), col("embedding").as("c_vec")),
        k = 10, m = 8, subDim = 8, codebookK = 16, iters = 2, seed = "pq11")
        .orderBy(col("q_id"))
    },
    Some {
      s"""WITH ${pqSubspaceCtes(m = 8, subDim = 8, cbK = 16, seed = "pq11", maxQ = 20)},
      adc AS (SELECT l.q_id, c.vec_id AS c_id, sum(l.d2) AS adc
        FROM codes c JOIN lut l ON c.s = l.s AND c.code = l.code
        WHERE l.q_id <> c.vec_id GROUP BY 1, 2),
      apx AS (SELECT q_id, c_id FROM adc
        QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY adc, c_id) <= 10),
      xf AS (SELECT DISTINCT vec_id,
          list_transform(embedding, x -> floor(x::DOUBLE * 10000.0 + 0.5)) AS v
        FROM embeddings WHERE embedding IS NOT NULL),
      ex AS (SELECT x.vec_id AS q_id, c.vec_id AS c_id
        FROM xf x JOIN xf c ON x.vec_id <> c.vec_id
        WHERE x.vec_id < 20
        QUALIFY row_number() OVER (PARTITION BY x.vec_id ORDER BY
          (${sqlDot("x.v", "x.v")} - 2.0 * ${sqlDot("x.v", "c.v")}
            + ${sqlDot("c.v", "c.v")}), c.vec_id) <= 10)
      SELECT e.q_id,
        CAST(count(a.c_id) AS BIGINT) AS n_hit,
        floor(count(a.c_id) / 10.0 * 1000000 + 0.5) / 1000000.0 AS recall
      FROM ex e LEFT JOIN apx a ON e.q_id = a.q_id AND e.c_id = a.c_id
      GROUP BY e.q_id ORDER BY e.q_id"""
    },
    bench = true)

  /** H4+: Dunning log-likelihood collocations
    * ([[TextAnalysis.bigramLlr]], G² over the 2×2 bigram contingency,
    * min count 5, top 25) — the evidence-weighted companion to q98's
    * PMI (lift overweights rare pairs). One corpus scan on the KN
    * substrate; G² a per-row scalar chain, double-first so the
    * marginal products never ride long or hugeint arithmetic; ranking
    * by the r(4)-rounded score with pair tie-break (the q98 ulp
    * pattern). */
  private val q182 = Q("q182_bigram_llr",
    (s, d) => TextAnalysis.bigramLlr(
        t(s, d, "documents"), col("doc_id"), col("text"),
        minCount = 5L, topN = 25),
    Some("""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      bg AS (SELECT array_to_string(t[p:p+1], ' ') AS pair
        FROM tk, unnest(range(1, len(t))) AS u(p)),
      c2 AS (SELECT pair, count(*) AS c12 FROM bg GROUP BY pair),
      sp AS (SELECT pair, c12,
          string_split(pair, ' ')[1] AS w1, string_split(pair, ' ')[-1] AS w2
        FROM c2),
      c1 AS (SELECT w1, sum(c12) AS cw1 FROM sp GROUP BY w1),
      cc AS (SELECT w2, sum(c12) AS cw2 FROM sp GROUP BY w2),
      tot AS (SELECT CAST(sum(c12) AS DOUBLE) AS nn FROM c2),
      g AS (SELECT sp.w1, sp.w2, sp.c12,
          cw1::DOUBLE AS w1d, cw2::DOUBLE AS w2d, nn,
          sp.c12::DOUBLE AS o11
        FROM sp JOIN c1 USING (w1) JOIN cc USING (w2) CROSS JOIN tot
        WHERE sp.c12 >= 5),
      ll AS (SELECT w1, w2, c12, 2.0 * (
          (CASE WHEN o11 > 0.0
            THEN o11 * ln(o11 / (w1d * w2d / nn)) ELSE 0.0 END)
          + (CASE WHEN w1d - o11 > 0.0
            THEN (w1d - o11) * ln((w1d - o11) / (w1d * (nn - w2d) / nn))
            ELSE 0.0 END)
          + (CASE WHEN w2d - o11 > 0.0
            THEN (w2d - o11) * ln((w2d - o11) / ((nn - w1d) * w2d / nn))
            ELSE 0.0 END)
          + (CASE WHEN nn - w1d - w2d + o11 > 0.0
            THEN (nn - w1d - w2d + o11)
              * ln((nn - w1d - w2d + o11) / ((nn - w1d) * (nn - w2d) / nn))
            ELSE 0.0 END)) AS llr
        FROM g)
      SELECT w1, w2, c12,
        floor(llr * 10000 + 0.5) / 10000.0 AS llr
      FROM ll ORDER BY floor(llr * 10000 + 0.5) / 10000.0 DESC, w1, w2
      LIMIT 25"""))

  /** D+/F+: per-group winsorization ([[Features.withWinsorized]],
    * p01/p99) — the REPAIR response to heavy tails (q93's MAD gate is
    * the FLAG response): values clamp into their group's exact
    * interpolated percentile bounds (percentile ≡ quantile_cont, the
    * q27 pair), bounds broadcast back, clamp a pure projection;
    * null-safe group join so a NULL group is its own stratum. */
  private val q183 = Q("q183_winsorize",
    (s, d) => Features.withWinsorized(
        t(s, d, "events"), col("event_type"), col("value"))
      .groupBy(col("event_type"))
      .agg(count(col("value")).as("n"),
        count(when(col("value") < col("_lo"), 1)).as("n_clamped_lo"),
        count(when(col("value") > col("_hi"), 1)).as("n_clamped_hi"),
        r(max(col("_lo")), 4).as("lo"),          // constant per group
        r(max(col("_hi")), 4).as("hi"),
        r(avg(col("value_w")), 4).as("mean_w"))
      .orderBy(col("event_type")),
    Some("""WITH b AS (SELECT event_type AS g,
        quantile_cont(value, 0.01) AS lo, quantile_cont(value, 0.99) AS hi
        FROM events GROUP BY event_type),
      j AS (SELECT e.event_type, e.value, b.lo, b.hi,
          CASE WHEN e.value < b.lo THEN b.lo
               WHEN e.value > b.hi THEN b.hi ELSE e.value END AS vw
        FROM events e LEFT JOIN b ON e.event_type IS NOT DISTINCT FROM b.g)
      SELECT event_type, count(value)::BIGINT AS n,
        count(CASE WHEN value < lo THEN 1 END)::BIGINT AS n_clamped_lo,
        count(CASE WHEN value > hi THEN 1 END)::BIGINT AS n_clamped_hi,
        floor(max(lo) * 10000 + 0.5) / 10000.0 AS lo,
        floor(max(hi) * 10000 + 0.5) / 10000.0 AS hi,
        floor(avg(vw) * 10000 + 0.5) / 10000.0 AS mean_w
      FROM j GROUP BY event_type ORDER BY event_type"""))

  /** E+/D+: rolling-window distinct via mergeable HLL registers
    * ([[EventAnalytics.rollingDistinctHll]], W = 7, b = 6) — the
    * sketch path for q137's exact WAU: per-day state is 64 register
    * cells however many keys were active, the window rolls by
    * cell-wise max over days×64 rows (the ×W explode applied to
    * sketch cells, not key pairs). Estimates sit beside the exact
    * trailing distinct with the q154 error-bound gate. */
  private val q184 = Q("q184_rolling_distinct_hll",
    (s, d) => {
      val est = EventAnalytics.rollingDistinctHll(
        eventsUs(s, d), key = "user_id", ts = "ts_us",
        epoch0Us = CohortEpoch0Us, dayUs = 86400000000L, windowDays = 7)
      val p = OpUtils.barrier(eventsUs(s, d).filter(col("user_id").isNotNull)
        .select(col("user_id"),
          longDiv(col("ts_us") - CohortEpoch0Us, 86400000000L).as("day"))
        .distinct())     // feeds exact fan-out + the day list
      val exact = p
        .select(col("user_id"), explode(sequence(lit(0L), lit(6L))).as("j"),
          col("day"))
        .select(col("user_id"), (col("day") + col("j")).as("day"))
        .distinct()
        .groupBy(col("day")).agg(count(lit(1)).as("exact_wau"))
      val activeDays = p.select(col("day")).distinct()
      est.join(activeDays, Seq("day"))
        .join(exact, Seq("day"))
        .select(col("day"), r(col("est_distinct"), 2).as("est_wau"),
          col("exact_wau"),
          (abs(r(col("est_distinct"), 2) / col("exact_wau") - 1.0) <= 0.35)
            .as("within_bound"))
        .orderBy(col("day"))
    },
    Some(s"""WITH p AS (SELECT DISTINCT user_id,
        (epoch_us(ts) - $CohortEpoch0Us) // 86400000000 AS day
        FROM events WHERE user_id IS NOT NULL),
      hx AS (SELECT day, ${sqlPolyHash("CAST(user_id AS VARCHAR)")} AS h FROM p),
      mx AS (SELECT day, (h*h + 3*h + 7) % 1000000007 AS g FROM hx),
      reg AS (SELECT day, g % 64 AS bucket, max(${sqlRho("(g // 64)")}) AS r
        FROM mx GROUP BY day, g % 64),
      fan AS (SELECT day + j AS day, bucket, max(r) AS r
        FROM reg CROSS JOIN (SELECT unnest(range(0, 7)) AS j) _j
        GROUP BY day + j, bucket),
      agg AS (SELECT day,
          sum(1.0 / CAST(1::BIGINT << r AS DOUBLE)) + (64.0 - count(*)) AS s,
          64.0 - count(*) AS zeros FROM fan GROUP BY day),
      raw AS (SELECT day, $HllAlphaM2B6 / s AS raw, zeros FROM agg),
      est AS (SELECT day, CASE WHEN zeros > 0 AND raw <= 160.0
          THEN 64.0 * ln(64.0 / zeros) ELSE raw END AS e FROM raw),
      w AS (SELECT DISTINCT user_id, day + j AS day
        FROM p CROSS JOIN (SELECT unnest(range(0, 7)) AS j) _j),
      wau AS (SELECT day, count(*)::BIGINT AS exact_wau FROM w GROUP BY day),
      act AS (SELECT DISTINCT day FROM p)
      SELECT act.day, floor(e * 100 + 0.5) / 100.0 AS est_wau,
        wau.exact_wau,
        (abs(floor(e * 100 + 0.5) / 100.0 / wau.exact_wau - 1.0) <= 0.35)
          AS within_bound
      FROM act JOIN est USING (day) JOIN wau USING (day)
      ORDER BY act.day"""))

  /** H2+/G8: edit-distance similarity JOIN
    * ([[Dedup.editDistancePairs]], a self-join on one-deletion
    * variants + exact levenshtein verify) — the fuzzy join behind
    * entity resolution, without the n² cross product. The oracle
    * computes the ground truth DIRECTLY from the definition (every
    * pair within distance 1), no variant mechanics — so the hash check
    * itself proves the candidate join lossless on this corpus. The
    * customer names are structured and differ in one digit (262,500
    * genuine matches at sf0.1); names that become equal after one
    * deletion each (…139 and …196) also share a variant, so the verify
    * drops about three in four candidates. */
  private val q185 = Q("q185_edit_distance_join",
    (s, d) => Dedup.editDistancePairs(
        t(s, d, "customer"), col("c_custkey"), col("c_name"),
        maxDist = 1)
      .orderBy(col("id_a"), col("id_b")),
    Some("""SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
      FROM customer a JOIN customer b
        ON a.c_custkey < b.c_custkey
        AND abs(length(a.c_name) - length(b.c_name)) <= 1
      WHERE levenshtein(a.c_name, b.c_name) <= 1
      ORDER BY id_a, id_b"""),
    bench = true)

  /** H3+: PQ candidates + exact re-rank
    * ([[Similarity.pqRerankTopK]], candK = 25 → k = 5) — the
    * production two-stage ANN serving shape: ADC over-fetches
    * compressed candidates, the exact quantized-L2 re-ranks the
    * survivors (exact distance computed on candidates ONLY, never the
    * cross product). Both stages integer-exact — the composition
    * hash-replays end to end. */
  private val q186 = Q("q186_pq_rerank_topk",
    (s, d) => {
      val e = emb(s, d)
      Similarity.pqRerankTopK(
        e.filter(col("vec_id") < 20)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec")),
        e.select(col("vec_id").as("c_id"), col("embedding").as("c_vec")),
        k = 5, candK = 25,
        m = 8, subDim = 8, codebookK = 16, iters = 2, seed = "pq11")
        .orderBy(col("q_id"), col("rank"))
    },
    Some {
      s"""WITH ${pqSubspaceCtes(m = 8, subDim = 8, cbK = 16, seed = "pq11", maxQ = 20)},
      adc AS (SELECT l.q_id, c.vec_id AS c_id, sum(l.d2) AS adc
        FROM codes c JOIN lut l ON c.s = l.s AND c.code = l.code
        WHERE l.q_id <> c.vec_id GROUP BY 1, 2),
      cand AS (SELECT q_id, c_id FROM adc
        QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY adc, c_id) <= 25),
      xf AS (SELECT DISTINCT vec_id,
          list_transform(embedding, x -> floor(x::DOUBLE * 10000.0 + 0.5)) AS v
        FROM embeddings WHERE embedding IS NOT NULL),
      ex AS (SELECT cd.q_id, cd.c_id,
          (${sqlDot("q.v", "q.v")} - 2.0 * ${sqlDot("q.v", "d.v")}
            + ${sqlDot("d.v", "d.v")}) AS d2
        FROM cand cd JOIN xf q ON q.vec_id = cd.q_id
          JOIN xf d ON d.vec_id = cd.c_id),
      rk AS (SELECT q_id, c_id, d2,
        row_number() OVER (PARTITION BY q_id ORDER BY d2, c_id) AS rank
        FROM ex)
      SELECT q_id, rank, c_id, CAST(d2 AS BIGINT) AS dist2
      FROM rk WHERE rank <= 5 ORDER BY q_id, rank"""
    },
    bench = true)

  /** E+: per-key interval union / total engaged time
    * ([[EventAnalytics.intervalUnion]] over q177's debounce bursts) —
    * overlapping-or-touching burst spans coalesce into maximal
    * islands across event types; coverage = Σ island widths. One
    * (key) exchange shared by the running-max window, island
    * numbering, and both rollups. All-integer. */
  private val q187 = Q("q187_interval_union",
    (s, d) => EventAnalytics.intervalUnion(
        EventAnalytics.debounce(
          eventsUs(s, d), key = "user_id", ts = "ts_us",
          typeCol = "event_type", tie = "event_id", epsUs = 21600000000L)
          .select(col("user_id"), col("ts_first"), col("ts_last")),
        key = "user_id", start = "ts_first", end = "ts_last")
      .orderBy(col("user_id")),
    Some("""WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS t
        FROM events),
      g AS (SELECT *, CASE WHEN lag(t) OVER w IS NULL
            OR t - lag(t) OVER w > 21600000000 THEN 1 ELSE 0 END AS opens
        FROM e WINDOW w AS (PARTITION BY user_id, event_type
          ORDER BY t, event_id)),
      -- opens-DESC: tie-stable burst ids under duplicate rows (q10)
      b AS (SELECT *, sum(opens) OVER (PARTITION BY user_id, event_type
          ORDER BY t, event_id, opens DESC
          ROWS UNBOUNDED PRECEDING) AS burst FROM g),
      iv AS (SELECT user_id, min(t) AS s0, max(t) AS e0
        FROM b GROUP BY user_id, event_type, burst),
      m AS (SELECT user_id, s0, e0, max(e0) OVER (PARTITION BY user_id
          ORDER BY s0, e0 ROWS BETWEEN UNBOUNDED PRECEDING
            AND 1 PRECEDING) AS pmax FROM iv),
      o AS (SELECT *, CASE WHEN pmax IS NULL OR s0 > pmax
          THEN 1 ELSE 0 END AS op FROM m),
      -- op-DESC: tie-stable island ids under tied (s0, e0) intervals (q10)
      il AS (SELECT *, sum(op) OVER (PARTITION BY user_id
          ORDER BY s0, e0, op DESC ROWS UNBOUNDED PRECEDING) AS isl FROM o),
      gi AS (SELECT user_id, isl, count(*) AS n, min(s0) AS s, max(e0) AS e
        FROM il GROUP BY 1, 2)
      SELECT user_id, CAST(sum(n) AS BIGINT) AS n_intervals,
        count(*)::BIGINT AS n_islands,
        CAST(sum(e - s) AS BIGINT) AS covered
      FROM gi GROUP BY user_id ORDER BY user_id"""))

  /** A5+/G+: CDC changelog apply ([[graft.operators.Cdc.applyChangelog]])
    * — the events table read as a per-user change feed (an `error`
    * event deletes the row, anything else upserts its value), applied
    * in TWO stages: the pre-cut prefix folds into a snapshot, the
    * post-cut suffix folds onto that snapshot. The oracle is the
    * SINGLE-pass latest-wins over the whole feed — the hash match IS
    * the associativity proof (checkpoint-at-any-cut law; CdcSpec pins
    * it on random changelogs too). Each stage is one map-side-
    * combining hash aggregation on the key; no window, no sort. */
  private val q188 = Q("q188_cdc_merge",
    (s, d) => {
      val chg = eventsUs(s, d).select(
        col("user_id"), col("ts_us"), col("event_id"), col("value"),
        when(col("event_type") === "error", "D").otherwise("U").as("op"))
      val key = Seq("user_id"); val seqC = Seq("ts_us", "event_id")
      val empty = chg.drop("op").filter(lit(false))
      val snap = Cdc.applyChangelog(
        empty, chg.filter(col("ts_us") < CdcCutUs), key, seqC, "op")
      Cdc.applyChangelog(
          snap, chg.filter(col("ts_us") >= CdcCutUs), key, seqC, "op")
        .select(col("user_id"), col("ts_us").as("updated_us"),
          col("event_id"), col("value"))
        .orderBy(col("user_id"))
    },
    Some("""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
        CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
        FROM events),
      w AS (SELECT *, row_number() OVER (PARTITION BY user_id
          ORDER BY ts_us DESC, event_id DESC) AS rn FROM e)
      SELECT user_id, ts_us AS updated_us, event_id, value
      FROM w WHERE rn = 1 AND op = 'U' ORDER BY user_id"""),
    bench = true)

  /** E+ attribution, the U-shaped rule
    * ([[EventAnalytics.positionAttribution]], 40/20/40 with path reset
    * at each conversion) — q130's last-touch twin under the other
    * canonical credit model. ONE event exchange (all windows share
    * hash(user_id); the conversion's value reaches its touches by a
    * full-frame window max, never a join). Fractional credits are the
    * ln-style float-order exposure, masked by r(·) on both sides; the
    * per-conversion Σcredit = 1 law is property-pinned. */
  private val q189 = Q("q189_attribution_position",
    (s, d) => EventAnalytics.positionAttribution(
      eventsUs(s, d).select(col("user_id"), col("ts_us"), col("event_id"),
        col("event_type"), col("value")),
      key = "user_id", ts = "ts_us", typeCol = "event_type",
      conversionType = "purchase", valueCol = "value", tie = "event_id"),
    Some("""WITH e AS (SELECT user_id, event_id, event_type, value,
        epoch_us(ts) AS ts_us,
        CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS side
        FROM events),
      s AS (SELECT *, coalesce(sum(side) OVER (PARTITION BY user_id
          ORDER BY ts_us, side, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS seg
        FROM e),
      g AS (SELECT *,
          row_number() OVER (PARTITION BY user_id, seg
            ORDER BY ts_us, side, event_id) AS p,
          count(*) OVER (PARTITION BY user_id, seg) AS ntot,
          max(side) OVER (PARTITION BY user_id, seg) AS has_conv,
          max(CASE WHEN side = 1 THEN value END)
            OVER (PARTITION BY user_id, seg) AS conv_value
        FROM s),
      t AS (SELECT *, ntot - has_conv AS n FROM g),
      c AS (
        SELECT event_type AS channel,
          CASE WHEN n = 1 THEN 1.0::DOUBLE WHEN n = 2 THEN 0.5::DOUBLE
               WHEN p = 1 OR p = n THEN 0.4::DOUBLE
               ELSE 0.2::DOUBLE / (n - 2) END AS credit,
          conv_value
        FROM t WHERE side = 0 AND has_conv = 1
        UNION ALL
        SELECT '(none)', 1.0::DOUBLE, value FROM t WHERE side = 1 AND n = 0)
      SELECT channel,
        floor(sum(credit) * 1000000 + 0.5) / 1000000 AS credit,
        floor(sum(credit * conv_value) * 100 + 0.5) / 100 AS revenue
      FROM c GROUP BY 1 ORDER BY 1"""),
    bench = true)

  /** H+ graph: Adamic–Adar link prediction over the q96 synthetic link
    * graph ([[Graph.adamicAdar]], cn ≥ 2, center cap 1000 — non-binding
    * here, the 100 TB hub guard there). Candidate selection is
    * integer-exact on the common-neighbor count; the 1/ln(deg) score
    * rides along under r(·). The oracle rebuilds canonical edges,
    * capped centers, the wedge join, and the NOT-EXISTS adjacency
    * check. */
  private val q190 = Q("q190_adamic_adar",
    (s, d) => graft.operators.Graph.adamicAdar(linkEdges(s, d), col("src"), col("dst"),
        minCommon = 2, maxCenterDegree = 1000)
      .orderBy(col("id_a"), col("id_b")),
    Some(s"""$linkGraphCte,
      canon AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM e WHERE src <> dst),
      adj AS (SELECT a AS c, b AS n FROM canon
        UNION ALL SELECT b, a FROM canon),
      dg AS (SELECT c, count(*) AS deg FROM adj GROUP BY c),
      ctr AS (SELECT c, deg FROM dg WHERE deg >= 2 AND deg <= 1000),
      wg AS (SELECT x.n AS id_a, y.n AS id_b, 1.0::DOUBLE / ln(ctr.deg) AS w
        FROM adj x JOIN ctr ON x.c = ctr.c JOIN adj y ON y.c = ctr.c
        WHERE x.n < y.n),
      sc AS (SELECT id_a, id_b, count(*) AS cn, sum(w) AS aa
        FROM wg GROUP BY 1, 2 HAVING count(*) >= 2)
      SELECT id_a, id_b, cn,
        floor(aa * 1000000 + 0.5) / 1000000 AS aa
      FROM sc
      WHERE NOT EXISTS (SELECT 1 FROM canon
        WHERE canon.a = sc.id_a AND canon.b = sc.id_b)
      ORDER BY id_a, id_b"""),
    bench = true)

  /** E+ attribution, the time-decay rule
    * ([[EventAnalytics.timeDecayAttribution]], half-life 1 day):
    * completes the canonical trio with q130 (last-touch) and q189
    * (U-shaped). Weights are the dyadicEwma discipline — exact LONG
    * powers of two (`1 << (40 − ⌊age/halfLife⌋)`, clamped), integer
    * path sums, one IEEE division per credit — so the only float-order
    * exposure is the channel rollup Σ, masked by r(·) on both sides.
    * Same one-exchange plan as q189. */
  private val q191 = Q("q191_attribution_time_decay",
    (s, d) => EventAnalytics.timeDecayAttribution(
      eventsUs(s, d).select(col("user_id"), col("ts_us"), col("event_id"),
        col("event_type"), col("value")),
      key = "user_id", ts = "ts_us", typeCol = "event_type",
      conversionType = "purchase", valueCol = "value", tie = "event_id",
      halfLifeUs = 86400000000L),
    Some("""WITH e AS (SELECT user_id, event_id, event_type, value,
        epoch_us(ts) AS ts_us,
        CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS side
        FROM events),
      s AS (SELECT *, coalesce(sum(side) OVER (PARTITION BY user_id
          ORDER BY ts_us, side, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS seg
        FROM e),
      g AS (SELECT *,
          max(side) OVER w2 AS has_conv,
          count(*) OVER w2 - max(side) OVER w2 AS n,
          max(CASE WHEN side = 1 THEN value END) OVER w2 AS conv_value,
          max(CASE WHEN side = 1 THEN ts_us END) OVER w2 AS conv_ts
        FROM s WINDOW w2 AS (PARTITION BY user_id, seg)),
      w AS (SELECT *, CASE WHEN side = 0 AND has_conv = 1
          THEN 1::BIGINT << CAST(40 - least(
            (conv_ts - ts_us) // 86400000000, 40) AS INT) END AS wgt
        FROM g),
      ww AS (SELECT *, sum(wgt) OVER (PARTITION BY user_id, seg) AS wsum
        FROM w),
      c AS (
        SELECT event_type AS channel, wgt::DOUBLE / wsum::DOUBLE AS credit,
          conv_value
        FROM ww WHERE side = 0 AND has_conv = 1
        UNION ALL
        SELECT '(none)', 1.0::DOUBLE, value FROM ww WHERE side = 1 AND n = 0)
      SELECT channel,
        floor(sum(credit) * 1000000 + 0.5) / 1000000 AS credit,
        floor(sum(credit * conv_value) * 100 + 0.5) / 100 AS revenue
      FROM c GROUP BY 1 ORDER BY 1"""))

  /** E+ experiment analysis: two-sample Kolmogorov–Smirnov over
    * purchase VALUES between q133's hash variants
    * ([[EventAnalytics.twoSampleKs]], cent grid) — the
    * distribution-shift companion to q133's conversion-rate z. The
    * max and argmax select on the exact integer numerator
    * |c₀n₁ − c₁n₀| (ties → smallest tick); the cumulative window runs
    * over the bounded cent-tick table, never events. */
  private val q192 = Q("q192_ks_value_drift",
    (s, d) => EventAnalytics.twoSampleKs(
      eventsUs(s, d).filter(col("event_type") === "purchase"),
      group = pmod(polyHash(col("user_id").cast("string")), lit(2)),
      value = col("value"), scale = 100L),
    Some(s"""WITH e AS (SELECT
        ${sqlPolyHash("CAST(user_id AS VARCHAR)")} % 2 AS g,
        CAST(floor(value * 100 + 0.5) AS BIGINT) AS x
      FROM events WHERE event_type = 'purchase' AND value IS NOT NULL),
      cells AS (SELECT x,
          count(CASE WHEN g = 0 THEN 1 END) AS a0,
          count(CASE WHEN g = 1 THEN 1 END) AS a1
        FROM e GROUP BY x),
      tot AS (SELECT sum(a0) AS n0, sum(a1) AS n1 FROM cells),
      cum AS (SELECT x,
          sum(a0) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS c0,
          sum(a1) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS c1
        FROM cells),
      sc AS (SELECT x, abs(c0::HUGEINT * n1 - c1::HUGEINT * n0) AS num,
          n0, n1
        FROM cum CROSS JOIN tot),
      best AS (SELECT * FROM sc ORDER BY num DESC, x ASC LIMIT 1)
      SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
        num::DOUBLE AS d_num, x AS at_tick,
        floor(num::DOUBLE / nullif((n0::HUGEINT * n1)::DOUBLE, 0.0)
          * 1000000 + 0.5) / 1000000 AS ks,
        floor(num::DOUBLE / nullif((n0::HUGEINT * n1)::DOUBLE, 0.0)
          * sqrt((n0::HUGEINT * n1)::DOUBLE / (n0 + n1)::DOUBLE)
          * 1000000 + 0.5) / 1000000 AS lambda
      FROM best"""),
    bench = true)

  /** H4+/D+: pairwise KS drift matrix over document LENGTH by source
    * ([[CorpusQuality.ksMatrix]], integer grid — n_chars is already
    * integral) — the CDF-shape companion to q164's token-mix JS
    * matrix: a source whose length distribution shifts changed its
    * generating process even if its vocabulary did not. Integer-exact
    * max/argmax per pair; everything past the (source, tick) cell
    * aggregation is bounded. */
  private val q193 = Q("q193_ks_source_matrix",
    (s, d) => CorpusQuality.ksMatrix(t(s, d, "documents"),
        group = col("source"), value = col("n_chars"), scale = 1L)
      .orderBy(col("g_a"), col("g_b")),
    Some("""WITH cells AS (SELECT source AS g,
        CAST(floor(n_chars * 1 + 0.5) AS BIGINT) AS x, count(*) AS c
        FROM documents
        WHERE source IS NOT NULL AND n_chars IS NOT NULL
        GROUP BY 1, 2),
      grid AS (SELECT DISTINCT x FROM cells),
      tots AS (SELECT g, sum(c) AS n FROM cells GROUP BY g),
      dense AS (SELECT t.g, gr.x, t.n,
          sum(coalesce(c.c, 0)) OVER (PARTITION BY t.g ORDER BY gr.x
            ROWS UNBOUNDED PRECEDING) AS cum
        FROM grid gr CROSS JOIN tots t
        LEFT JOIN cells c ON c.g = t.g AND c.x = gr.x),
      pr AS (SELECT a.g AS g_a, b.g AS g_b, a.n AS n_a, b.n AS n_b,
          abs(a.cum::HUGEINT * b.n - b.cum::HUGEINT * a.n) AS num, a.x
        FROM dense a JOIN dense b ON a.x = b.x AND a.g < b.g),
      best AS (SELECT * FROM pr
        QUALIFY row_number() OVER (PARTITION BY g_a, g_b
          ORDER BY num DESC, x ASC) = 1)
      SELECT g_a, g_b, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        num::DOUBLE AS d_num, x AS at_tick,
        floor(num::DOUBLE / (n_a::HUGEINT * n_b)::DOUBLE * 1000000 + 0.5)
          / 1000000 AS ks
      FROM best ORDER BY g_a, g_b"""),
    bench = true)

  /** E+ experiment analysis: Mann–Whitney U over purchase values
    * between q133's hash variants ([[EventAnalytics.mannWhitneyU]]) —
    * the rank-based location test closing the drift suite (q133 rate
    * z, q192 KS shape, this). Doubled midranks keep every rank sum an
    * exact integer on the shared tick-cell substrate; U, AUC, and the
    * tie-corrected z replay bit-for-bit. */
  private val q194 = Q("q194_mannwhitney_value",
    (s, d) => EventAnalytics.mannWhitneyU(
      eventsUs(s, d).filter(col("event_type") === "purchase"),
      group = pmod(polyHash(col("user_id").cast("string")), lit(2)),
      value = col("value"), scale = 100L),
    Some(s"""WITH e AS (SELECT
        ${sqlPolyHash("CAST(user_id AS VARCHAR)")} % 2 AS g,
        CAST(floor(value * 100 + 0.5) AS BIGINT) AS x
      FROM events WHERE event_type = 'purchase' AND value IS NOT NULL),
      cells AS (SELECT x,
          count(CASE WHEN g = 0 THEN 1 END) AS a0,
          count(CASE WHEN g = 1 THEN 1 END) AS a1
        FROM e GROUP BY x),
      cc AS (SELECT *, a0 + a1 AS t,
          coalesce(sum(a0 + a1) OVER (ORDER BY x
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
        FROM cells),
      agg AS (SELECT sum(a0) AS n0, sum(a1) AS n1,
          sum(a0::HUGEINT * (below::HUGEINT * 2 + t + 1)) AS r0x2,
          sum(t::HUGEINT * t * t - t) AS tcorr
        FROM cc),
      fin AS (SELECT n0, n1, tcorr,
          r0x2 - n0::HUGEINT * (n0 + 1) AS u0x2,
          n0::HUGEINT * n1 AS nn, n0 + n1 AS nt
        FROM agg)
      SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
        u0x2::DOUBLE / 2.0 AS u0,
        CASE WHEN nn > 0 THEN
          floor(u0x2::DOUBLE / 2.0 / nn::DOUBLE * 1000000 + 0.5) / 1000000
        END AS auc,
        CASE WHEN nn > 0 AND nt > 1 THEN
          floor((u0x2::DOUBLE - nn::DOUBLE) / 2.0
            / nullif(sqrt(nn::DOUBLE / 12.0 * ((nt + 1)::DOUBLE
                - tcorr::DOUBLE / (nt::HUGEINT * (nt - 1))::DOUBLE)), 0.0)
            * 1000000 + 0.5) / 1000000
        END AS z
      FROM fin WHERE n0 IS NOT NULL"""))

  /** E+ experiment analysis: χ² independence of event-type MIX vs
    * q133's hash variants ([[EventAnalytics.chiSquareIndependence]])
    * — the categorical member of the drift suite (a treatment that
    * shifts clicks→errors moves no conversion rate and no value
    * distribution, but lights this up). Expected counts are one
    * division of exact decimal products; Cramér's V rides along. */
  private val q195 = Q("q195_chi2_type_mix",
    (s, d) => EventAnalytics.chiSquareIndependence(
      eventsUs(s, d),
      group = pmod(polyHash(col("user_id").cast("string")), lit(2)),
      cat = col("event_type")),
    Some(s"""WITH e AS (SELECT
        ${sqlPolyHash("CAST(user_id AS VARCHAR)")} % 2 AS g,
        event_type AS k
      FROM events WHERE event_type IS NOT NULL),
      cells AS (SELECT k,
          count(CASE WHEN g = 0 THEN 1 END) AS o0,
          count(CASE WHEN g = 1 THEN 1 END) AS o1
        FROM e GROUP BY k),
      tot AS (SELECT sum(o0) AS n0, sum(o1) AS n1, count(*) AS r FROM cells),
      cl AS (SELECT o0 + o1 AS rt, o0, o1, n0, n1, r
        FROM cells CROSS JOIN tot),
      t2 AS (SELECT n0, n1, r, sum(
          (o0::DOUBLE - (rt::HUGEINT * n0)::DOUBLE / (n0 + n1)::DOUBLE)
            * (o0::DOUBLE - (rt::HUGEINT * n0)::DOUBLE / (n0 + n1)::DOUBLE)
            / ((rt::HUGEINT * n0)::DOUBLE / (n0 + n1)::DOUBLE)
          + (o1::DOUBLE - (rt::HUGEINT * n1)::DOUBLE / (n0 + n1)::DOUBLE)
            * (o1::DOUBLE - (rt::HUGEINT * n1)::DOUBLE / (n0 + n1)::DOUBLE)
            / ((rt::HUGEINT * n1)::DOUBLE / (n0 + n1)::DOUBLE)) AS chi2
        FROM cl GROUP BY 1, 2, 3)
      SELECT CAST(n0 + n1 AS BIGINT) AS n, CAST(r - 1 AS BIGINT) AS dof,
        CASE WHEN n0 > 0 AND n1 > 0 THEN
          floor(chi2 * 1000000 + 0.5) / 1000000 END AS chi2,
        CASE WHEN n0 > 0 AND n1 > 0 THEN
          floor(sqrt(chi2 / (n0 + n1)::DOUBLE) * 1000000 + 0.5) / 1000000
        END AS cramers_v
      FROM t2"""))

  /** E+ time-series: CUSUM changepoint over daily purchase value
    * ([[EventAnalytics.cusumChangepoint]], cohort day grid) — WHEN the
    * metric shifted, the temporal completion of the drift suite. The
    * split day maximizes the integer cross-product |S_k·C_N − S_N·C_k|
    * (earliest-day ties), so the locator hash-replays; deviation and
    * the before/after means are single exact divisions. */
  private val q196 = Q("q196_value_changepoint",
    (s, d) => EventAnalytics.cusumChangepoint(
      eventsUs(s, d).filter(col("event_type") === "purchase"),
      ts = "ts_us", valueCol = "value",
      epoch0Us = CohortEpoch0Us, dayUs = 86400000000L, scale = 100L),
    Some(s"""WITH e AS (SELECT
        (epoch_us(ts) - $CohortEpoch0Us) // 86400000000 AS d,
        CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
      FROM events
      WHERE event_type = 'purchase' AND ts IS NOT NULL AND value IS NOT NULL),
      days AS (SELECT d, count(*) AS c, sum(v) AS s FROM e GROUP BY d),
      tot AS (SELECT sum(c) AS cn, sum(s) AS sn, count(*) AS nd FROM days),
      pre AS (SELECT d,
          sum(c) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS ck,
          sum(s) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS sk
        FROM days),
      sc AS (SELECT pre.*, cn, sn, nd,
          abs(sk::HUGEINT * cn - sn::HUGEINT * ck) AS num
        FROM pre CROSS JOIN tot),
      best AS (SELECT * FROM sc ORDER BY num DESC, d ASC LIMIT 1)
      SELECT CAST(nd AS BIGINT) AS n_days, CAST(cn AS BIGINT) AS n,
        d AS day_star,
        floor(num::DOUBLE / (cn::HUGEINT * 100)::DOUBLE * 1000000 + 0.5)
          / 1000000 AS dev,
        floor(sk::DOUBLE / (ck::HUGEINT * 100)::DOUBLE * 1000000 + 0.5)
          / 1000000 AS mean_before,
        CASE WHEN cn > ck THEN
          floor((sn - sk)::DOUBLE / ((cn - ck)::HUGEINT * 100)::DOUBLE
            * 1000000 + 0.5) / 1000000 END AS mean_after
      FROM best"""))

  /** H2+/multimodal: cross-document FRAME-level duplication census
    * ([[Multimodal.frameDupStats]] over q66's sampled frames) — the
    * video-dedup shape: re-encoded copies share frame digests even
    * when containers differ, and the digest census finds them with
    * equality joins, never pairwise payload comparison. The corpus's
    * exact-duplicate documents (the q30 fixture family) light up with
    * shared_frac 1.0. All integer until one r(6) division. */
  private val q197 = Q("q197_frame_dup_census",
    (s, d) => Multimodal.frameDupStats(
        Multimodal.frameSample(
          Multimodal.withPayload(
            t(s, d, "documents").select(col("doc_id"), col("text")), "text")
            .filter(length(col("payload")) === length(col("text"))),
          frameBytes = 256, everyN = 4))
      .orderBy(col("doc_id")),
    Some("""WITH d AS (SELECT doc_id, text FROM documents
        WHERE octet_length(encode(text)) = length(text)),
      f AS (SELECT doc_id, text, length(text) AS n FROM d WHERE length(text) > 0),
      idx AS (SELECT doc_id, text,
          unnest(range(0, (n + 255) // 256, 4)) AS frame_idx FROM f),
      fx AS (SELECT doc_id,
          md5(substring(text, CAST(frame_idx*256 + 1 AS INT), 256)) AS h
        FROM idx),
      census AS (SELECT h, count(DISTINCT doc_id) AS ndocs FROM fx GROUP BY h),
      agg AS (SELECT doc_id, count(*) AS n_frames,
          sum(CASE WHEN ndocs > 1 THEN 1 ELSE 0 END) AS n_shared
        FROM fx JOIN census USING (h) GROUP BY doc_id)
      SELECT doc_id, n_frames, CAST(n_shared AS BIGINT) AS n_shared,
        floor(n_shared::DOUBLE / n_frames::DOUBLE * 1000000 + 0.5)
          / 1000000 AS shared_frac
      FROM agg ORDER BY doc_id"""))

  /** H4+/F+: temperature-scaled source mixing shares
    * ([[graft.operators.Sampling.temperatureShares]], α = 0.5,
    * target 200 docs) — the multilingual α-sampling rule that DERIVES
    * the shares q94/q119 consume: share ∝ n^α flattens the source
    * distribution so small sources survive the mix; the per-source
    * sampling rate caps at 1. Counts integer; pow + the Σw normalizer
    * are the r(6)-masked float surface. */
  private val q198 = Q("q198_mix_temperature",
    (s, d) => graft.operators.Sampling.temperatureShares(
        t(s, d, "documents"), stratum = col("source"),
        alpha = 0.5, targetDocs = 200L)
      .orderBy(col("stratum")),
    Some("""WITH c AS (SELECT source AS stratum, count(*) AS n_docs
        FROM documents WHERE source IS NOT NULL GROUP BY 1),
      t AS (SELECT sum(pow(n_docs::DOUBLE, 0.5)) AS wsum FROM c)
      SELECT stratum, n_docs,
        floor(pow(n_docs::DOUBLE, 0.5) / wsum * 1000000 + 0.5)
          / 1000000 AS share,
        floor(least(1.0::DOUBLE, pow(n_docs::DOUBLE, 0.5) / wsum * 200
          / n_docs::DOUBLE) * 1000000 + 0.5) / 1000000 AS sample_rate
      FROM c CROSS JOIN t ORDER BY stratum"""))

  /** H3+: label-relevance nDCG@5 of the exact ANN ranking
    * ([[Similarity.labelNdcg]]) — the graded retrieval metric beside
    * q181's recall@k: relevance = label agreement, IDCG re-weights
    * the retrieved relevance ideally (Σ_{i≤n_rel} 1/log₂(i+1) from
    * the rank column alone), no-relevant queries get NULL. Labels
    * read from the RAW table (id+label only — the emb() guard would
    * defeat the pruned scan, the q105 law). */
  private val q199 = Q("q199_ann_label_ndcg",
    (s, d) => {
      val e = emb(s, d)
      Similarity.labelNdcg(
        e.filter(col("vec_id") < 20)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec")),
        e.select(col("vec_id").as("c_id"), col("embedding").as("c_vec")),
        t(s, d, "embeddings").select(col("vec_id"), col("label")),
        k = 5).orderBy(col("q_id"))
    },
    Some(s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings
        WHERE vec_id < 20 AND embedding IS NOT NULL),
      c AS (SELECT vec_id AS c_id, embedding AS cv FROM embeddings
        WHERE embedding IS NOT NULL),
      p AS (SELECT q_id, c_id, ${sqlDot("qv", "cv")} AS dt,
        sqrt(${sqlDot("qv", "qv")}) * sqrt(${sqlDot("cv", "cv")}) AS nn
      FROM q, c WHERE q_id <> c_id),
      sc AS (SELECT q_id, c_id,
        CASE WHEN nn = 0.0 THEN 0.0 ELSE dt / nn END AS cos FROM p),
      rk AS (SELECT q_id, c_id,
        row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank
        FROM sc),
      lb AS (SELECT vec_id, label FROM embeddings),
      j AS (SELECT rk.q_id, rk.rank,
          CASE WHEN ql.label IS NOT NULL AND ql.label = cl.label
            THEN 1 ELSE 0 END AS rel
        FROM rk JOIN lb ql ON ql.vec_id = rk.q_id
          JOIN lb cl ON cl.vec_id = rk.c_id
        WHERE rk.rank <= 5),
      n AS (SELECT *, sum(rel) OVER (PARTITION BY q_id) AS nrel FROM j),
      a AS (SELECT q_id, count(*) AS n_ranked, max(nrel) AS n_rel,
          sum(rel::DOUBLE / log2((rank + 1)::DOUBLE)) AS dcg,
          sum(CASE WHEN rank <= nrel
            THEN 1.0::DOUBLE / log2((rank + 1)::DOUBLE) END) AS idcg
        FROM n GROUP BY q_id)
      SELECT q_id, n_ranked, CAST(n_rel AS BIGINT) AS n_rel,
        floor(dcg * 1000000 + 0.5) / 1000000 AS dcg,
        CASE WHEN n_rel > 0 THEN floor(dcg / idcg * 1000000 + 0.5) / 1000000
        END AS ndcg
      FROM a ORDER BY q_id"""),
    bench = true)

  /** D+/H4+: source-concentration GINI over docs and tokens — q145's
    * HHI sibling on the same bounded grouping (Gini reads inequality
    * of the whole Lorenz curve where HHI weights the head). The rank
    * window runs over the SOURCE table (the q129 bounded-cell
    * discipline — source count, never corpus rows; an unbounded-key
    * Gini is a sort problem and belongs to the sketch path). Σi·x is
    * an exact decimal (rank ties carry equal x, so any tie order
    * yields the same sum); the closed form
    * 2Σix/(nΣx) − (n+1)/n is a fixed IEEE op sequence, r(6). The
    * grouped table feeds both metrics — barrier (the q145
    * multi-consumer lesson). */
  private val q200 = Q("q200_source_gini",
    (s, d) => {
      val g = OpUtils.barrier(t(s, d, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("docs"),
          sum(size(graft.functions.GraftFunctions.tokens(col("text")))
            .cast("long")).as("toks")))
      def gini(x: String, metric: String): DataFrame = {
        val dec = "decimal(38,0)"
        val i = row_number().over(Window.orderBy(col(x)))
        g.select(col(x).as("_x"), i.as("_i"))
          .agg(count(lit(1)).as("_n"),
            sum(col("_x")).as("_st"),
            sum(col("_i").cast(dec) * col("_x").cast(dec)).as("_s1"))
          .select(lit(metric).as("metric"), col("_n").as("n_sources"),
            r(lit(2.0) * col("_s1").cast("double")
              / (col("_n").cast("double") * col("_st").cast("double"))
              - (col("_n") + 1).cast("double") / col("_n").cast("double"), 6)
              .as("gini"))
      }
      gini("docs", "docs_by_source")
        .unionByName(gini("toks", "tokens_by_source"))
        .orderBy(col("metric"))
    },
    Some("""WITH g AS (SELECT source, count(*) AS docs,
        CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS toks
        FROM documents GROUP BY source),
      d1 AS (SELECT docs AS x, row_number() OVER (ORDER BY docs) AS i FROM g),
      t1 AS (SELECT toks AS x, row_number() OVER (ORDER BY toks) AS i FROM g),
      m1 AS (SELECT 'docs_by_source' AS metric,
          count(*) AS n_sources,
          floor((2.0 * sum(i::HUGEINT * x)::DOUBLE
              / (count(*)::DOUBLE * sum(x)::DOUBLE)
            - (count(*) + 1)::DOUBLE / count(*)::DOUBLE)
            * 1000000 + 0.5) / 1000000 AS gini
        FROM d1),
      m2 AS (SELECT 'tokens_by_source',
          count(*),
          floor((2.0 * sum(i::HUGEINT * x)::DOUBLE
              / (count(*)::DOUBLE * sum(x)::DOUBLE)
            - (count(*) + 1)::DOUBLE / count(*)::DOUBLE)
            * 1000000 + 0.5) / 1000000
        FROM t1)
      SELECT * FROM m1 UNION ALL SELECT * FROM m2 ORDER BY metric"""))

  /** H4+: per-document token Shannon entropy
    * ([[TextAnalysis.tokenEntropy]]) — the information-density
    * quality signal beside q160/q163's repetition metrics:
    * boilerplate and keyword-stuffed pages score low, natural prose
    * high; norm_entropy = H/log₂(n_distinct) reads evenness
    * independent of size (single-token docs → NULL, the 0/0 law).
    * Word-count shape: one explode, (doc,token) cells collapse
    * map-side, everything after doc-bounded. log₂ + the Σc·log₂c
    * float sum are the r(6)-masked surface (the q199 log2 precedent). */
  private val q201 = Q("q201_token_entropy",
    (s, d) => TextAnalysis.tokenEntropy(
        t(s, d, "documents"), col("doc_id"), col("text"))
      .select(col("id").as("doc_id"), col("n_tokens"), col("n_distinct"),
        r(col("entropy"), 6).as("entropy"),
        r(col("norm_entropy"), 6).as("norm_entropy"))
      .orderBy(col("doc_id")),
    Some("""WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents),
      c AS (SELECT doc_id, tok, count(*) AS c FROM tk GROUP BY 1, 2),
      a AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
          count(*) AS n_distinct,
          sum(c::DOUBLE * log2(c::DOUBLE)) AS sclc
        FROM c GROUP BY 1)
      SELECT doc_id, n_tokens, n_distinct,
        floor((log2(n_tokens::DOUBLE) - sclc / n_tokens::DOUBLE)
          * 1000000 + 0.5) / 1000000 AS entropy,
        CASE WHEN n_distinct > 1 THEN
          floor((log2(n_tokens::DOUBLE) - sclc / n_tokens::DOUBLE)
              / log2(n_distinct::DOUBLE) * 1000000 + 0.5) / 1000000
        END AS norm_entropy
      FROM a ORDER BY doc_id"""),
    bench = true)

  /** E+: hour-of-day × day-of-week seasonality profile
    * ([[EventAnalytics.seasonalityProfile]]) — the traffic heatmap
    * with per-cell Pearson residuals (O−E)/√E against the q195-style
    * margins-product expectation: which (dow, hour) cells the margins
    * can't explain. Keys derive by exact integer floor-div from
    * epoch-µs (UTC, dow 0 = Monday) — never engine date functions,
    * whose week conventions disagree. One count aggregation to ≤ 168
    * cells; margins reaggregate the bounded, barriered cell table. */
  private val q202 = Q("q202_seasonality_profile",
    (s, d) => EventAnalytics.seasonalityProfile(eventsUs(s, d), col("ts_us"))
      .orderBy(col("dow"), col("hour")),
    Some("""WITH e AS (SELECT epoch_us(ts) AS us FROM events
        WHERE ts IS NOT NULL),
      f AS (SELECT (us - ((us % 86400000000) + 86400000000) % 86400000000)
            // 86400000000 AS dd,
          (us - ((us % 3600000000) + 3600000000) % 3600000000)
            // 3600000000 AS hh FROM e),
      c AS (SELECT (((dd + 3) % 7) + 7) % 7 AS dow,
          ((hh % 24) + 24) % 24 AS hour, count(*) AS n
        FROM f GROUP BY 1, 2),
      m AS (SELECT *, sum(n) OVER (PARTITION BY dow) AS rt,
          sum(n) OVER (PARTITION BY hour) AS ct,
          sum(n) OVER () AS tot FROM c)
      SELECT dow, hour, n,
        floor((rt::HUGEINT * ct)::DOUBLE / tot::DOUBLE
          * 1000000 + 0.5) / 1000000 AS expected,
        floor((n::DOUBLE - (rt::HUGEINT * ct)::DOUBLE / tot::DOUBLE)
            / sqrt((rt::HUGEINT * ct)::DOUBLE / tot::DOUBLE)
          * 1000000 + 0.5) / 1000000 AS resid
      FROM m ORDER BY dow, hour"""))

  /** E+/D+: hash-replayed Poisson-bootstrap CI for the A/B mean-value
    * uplift ([[EventAnalytics.bootstrapUplift]], R = 200, α = 2.5%) —
    * the inference member of the statistical suite: q148 says whether
    * B converts more, q194's Mann-Whitney says the distributions
    * differ, this bounds HOW MUCH the per-purchase mean differs.
    * Every resample weight is the Poisson(1) inverse-CDF of an
    * int64-exact mixer over (polyHash(event_id), replicate) on the
    * [0, 1e9+7) grid — integer thresholds, integer mixing, so DuckDB
    * replays the identical 200 resamples and the CI hash-matches.
    * One corpus pass; the replicate explode collapses map-side to
    * ≤ R+2 cells per partition. */
  private val q203 = Q("q203_bootstrap_uplift",
    (s, d) => EventAnalytics.bootstrapUplift(
      t(s, d, "events")
        .filter(col("value").isNotNull && col("event_type") === "purchase"),
      key = col("event_id"),
      variant = pmod(polyHash(col("user_id").cast("string")), lit(2L)),
      valueCents = floor(col("value") * 100 + lit(0.5)).cast("long"),
      replicates = 200),
    Some(s"""WITH b AS (SELECT
          ${sqlPolyHash("CAST(event_id AS VARCHAR)")} AS h0,
          ${sqlPolyHash("CAST(user_id AS VARCHAR)")} % 2 AS v,
          CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
        FROM events WHERE value IS NOT NULL AND event_type = 'purchase'),
      x AS (SELECT h0, v, c, t.r FROM b CROSS JOIN range(-1, 200) t(r)),
      z AS (SELECT v, c, r,
          CASE WHEN r < 0 THEN 1 ELSE
            CASE ${EventAnalytics.PoissonThresh.zipWithIndex.map {
              case (tt, k) => s"WHEN zz < $tt THEN $k" }.mkString(" ")}
              ELSE 5 END END AS w
        FROM (SELECT *, (y * y + h0) % ${EventAnalytics.HashP} AS zz
          FROM (SELECT *, (x0 * x0 + r) % ${EventAnalytics.HashP} AS y
            FROM (SELECT *, (h0 + r * ${EventAnalytics.BootstrapMixMul})
                % ${EventAnalytics.HashP} AS x0
              FROM x)))),
      g AS (SELECT r,
          sum(CASE WHEN v = 0 THEN w END) AS swa,
          sum(CASE WHEN v = 0 THEN w * c END) AS swxa,
          sum(CASE WHEN v = 1 THEN w END) AS swb,
          sum(CASE WHEN v = 1 THEN w * c END) AS swxb
        FROM z GROUP BY r),
      pt AS (SELECT CAST(swa AS BIGINT) AS n_a, CAST(swb AS BIGINT) AS n_b,
          swxa::DOUBLE / swa::DOUBLE / 100.0 AS ma,
          swxb::DOUBLE / swb::DOUBLE / 100.0 AS mb,
          swxb::DOUBLE / swb::DOUBLE / 100.0
            - swxa::DOUBLE / swa::DOUBLE / 100.0 AS pt
        FROM g WHERE r = -1),
      u AS (SELECT r, swxb::DOUBLE / swb::DOUBLE / 100.0
            - swxa::DOUBLE / swa::DOUBLE / 100.0 AS u
        FROM g WHERE r >= 0 AND swa > 0 AND swb > 0),
      rk AS (SELECT u, r, row_number() OVER (ORDER BY u, r) AS rk,
          count(*) OVER () AS cnt FROM u),
      ci AS (SELECT max(cnt) AS n_reps,
          max(CASE WHEN rk = greatest(1, (cnt * 25) // 1000)
            THEN u END) AS lo,
          max(CASE WHEN rk = cnt + 1 - greatest(1, (cnt * 25) // 1000)
            THEN u END) AS hi,
          sum(CASE WHEN u <= 0 THEN 1 ELSE 0 END) AS nneg
        FROM rk)
      SELECT n_a, n_b,
        floor(ma * 1000000 + 0.5) / 1000000 AS mean_a,
        floor(mb * 1000000 + 0.5) / 1000000 AS mean_b,
        floor(pt * 1000000 + 0.5) / 1000000 AS uplift,
        n_reps,
        floor(lo * 1000000 + 0.5) / 1000000 AS ci_lo,
        floor(hi * 1000000 + 0.5) / 1000000 AS ci_hi,
        floor(nneg::DOUBLE / n_reps::DOUBLE * 1000000 + 0.5) / 1000000
          AS neg_frac
      FROM pt CROSS JOIN ci"""),
    bench = true)

  /** E+/D+: per-type Spearman rank correlation of value against time
    * ([[EventAnalytics.spearman]]) — the monotone-trend member beside
    * q46's Pearson: is the metric creeping up, immune to outliers and
    * units. Doubled average ranks keep every sufficient statistic an
    * exact decimal; ρ is one fixed IEEE sequence; a constant series
    * (zero denominator) is NULL. Rank stats are sort problems — two
    * in-group sorts on one exchange, one aggregation after. */
  private val q204 = Q("q204_spearman_trend",
    (s, d) => EventAnalytics.spearman(
        eventsUs(s, d), col("event_type"), col("value"), col("ts_us"))
      .select(col("group").as("event_type"), col("n"), col("rho"))
      .orderBy(col("event_type")),
    Some("""WITH b AS (SELECT event_type AS g, value AS x,
          epoch_us(ts) AS y FROM events
        WHERE value IS NOT NULL AND ts IS NOT NULL),
      rk AS (SELECT g,
          2 * rank() OVER (PARTITION BY g ORDER BY x)
            + count(*) OVER (PARTITION BY g, x) - 1 AS rx,
          2 * rank() OVER (PARTITION BY g ORDER BY y)
            + count(*) OVER (PARTITION BY g, y) - 1 AS ry
        FROM b),
      a AS (SELECT g, count(*) AS n,
          sum(rx) AS sx, sum(ry) AS sy,
          sum(rx::HUGEINT * ry) AS sxy,
          sum(rx::HUGEINT * rx) AS sxx,
          sum(ry::HUGEINT * ry) AS syy
        FROM rk GROUP BY g)
      SELECT g AS event_type, n,
        CASE WHEN sqrt(greatest(0.0,
              n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE))
            * sqrt(greatest(0.0,
              n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)) <> 0.0
          THEN floor((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
            / (sqrt(greatest(0.0,
                n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE))
              * sqrt(greatest(0.0,
                n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)))
            * 1000000 + 0.5) / 1000000
        END AS rho
      FROM a ORDER BY event_type"""),
    bench = true)

  /** D+/E+: Benford first-digit census over positive purchase cents
    * ([[EventAnalytics.benfordDigits]]) — the fabricated-data screen:
    * per-digit observed vs log₁₀(1+1/d) expected plus the χ²
    * statistic. Digits extract exactly (first character of the
    * integer rendering, never float log10); the full 1–9 grid always
    * emits (a missing digit is evidence, not an absent row). One
    * count aggregation to ≤ 9 barriered cells. */
  private val q205 = Q("q205_benford_digits",
    (s, d) => EventAnalytics.benfordDigits(
        t(s, d, "events")
          .filter(col("value").isNotNull && col("event_type") === "purchase"),
        floor(col("value") * 100 + lit(0.5)).cast("long"))
      .orderBy(col("digit")),
    Some(s"""WITH c AS (SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
        FROM events WHERE value IS NOT NULL AND event_type = 'purchase'),
      o AS (SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS BIGINT) AS d,
          count(*) AS o FROM c WHERE c > 0 GROUP BY 1),
      t AS (SELECT sum(o) AS tot FROM o),
      g AS (SELECT dg.d AS digit,
          (CASE dg.d ${EventAnalytics.BenfordP.map { case (dd, p) =>
            s"WHEN $dd THEN $p" }.mkString(" ")} END)::DOUBLE AS p
        FROM range(1, 10) dg(d))
      SELECT digit, coalesce(o.o, 0) AS n,
        floor(p * 1000000 + 0.5) / 1000000 AS expected_frac,
        CASE WHEN tot > 0 THEN floor(coalesce(o.o, 0)::DOUBLE / tot::DOUBLE
          * 1000000 + 0.5) / 1000000 END AS obs_frac,
        floor((coalesce(o.o, 0)::DOUBLE - tot::DOUBLE * p)
            * (coalesce(o.o, 0)::DOUBLE - tot::DOUBLE * p)
            / (tot::DOUBLE * p) * 1000000 + 0.5) / 1000000 AS chi2_term,
        floor(sum((coalesce(o.o, 0)::DOUBLE - tot::DOUBLE * p)
            * (coalesce(o.o, 0)::DOUBLE - tot::DOUBLE * p)
            / (tot::DOUBLE * p)) OVER ()
          * 1000000 + 0.5) / 1000000 AS chi2
      FROM g LEFT JOIN o ON g.digit = o.d CROSS JOIN t
      ORDER BY digit"""))

  /** SQL fragment: the 4-term Dunning G² over columns named
    * `o11`/`gd`/`wd`/`nn` — mirrors [[TextAnalysis.sourceKeyness]]'s
    * (and q182's) double-first term sequence exactly. */
  private val sqlG2: String = """2.0 * (
          (CASE WHEN o11 > 0.0
            THEN o11 * ln(o11 / (gd * wd / nn)) ELSE 0.0 END)
          + (CASE WHEN gd - o11 > 0.0
            THEN (gd - o11) * ln((gd - o11) / (gd * (nn - wd) / nn))
            ELSE 0.0 END)
          + (CASE WHEN wd - o11 > 0.0
            THEN (wd - o11) * ln((wd - o11) / ((nn - gd) * wd / nn))
            ELSE 0.0 END)
          + (CASE WHEN nn - gd - wd + o11 > 0.0
            THEN (nn - gd - wd + o11)
              * ln((nn - gd - wd + o11) / ((nn - gd) * (nn - wd) / nn))
            ELSE 0.0 END))"""

  /** H4+: per-source keyness ([[TextAnalysis.sourceKeyness]],
    * minCount 5, top 10) — q182's G² formula pointed at (source,
    * token) cells: each source's most OVERREPRESENTED tokens vs the
    * rest of the corpus, direction decided by the exact integer
    * cross-product (never the float expectation). Word-count shape
    * into a vocab×sources-bounded barriered cell table; the rank
    * window runs over that table, ordered by ROUNDED llr. */
  private val q206 = Q("q206_source_keyness",
    (s, d) => TextAnalysis.sourceKeyness(
        t(s, d, "documents"), col("source"), col("text"),
        minCount = 5L, topN = 10)
      .orderBy(col("source"), col("rank")),
    Some(s"""WITH ct AS (SELECT source AS g, unnest(string_split(text, ' ')) AS w
        FROM documents),
      c AS (SELECT g, w, count(*) AS c FROM ct GROUP BY 1, 2),
      cg AS (SELECT g, sum(c) AS cg FROM c GROUP BY g),
      cw AS (SELECT w, sum(c) AS cw FROM c GROUP BY w),
      t AS (SELECT sum(c) AS nt FROM c),
      j AS (SELECT c.g, c.w, c.c,
          cg.cg::DOUBLE AS gd, cw.cw::DOUBLE AS wd, nt::DOUBLE AS nn,
          c.c::DOUBLE AS o11
        FROM c JOIN cg ON c.g IS NOT DISTINCT FROM cg.g
          JOIN cw USING (w) CROSS JOIN t
        WHERE c.c >= 5 AND c.c::HUGEINT * nt > cg.cg::HUGEINT * cw.cw),
      ll AS (SELECT g, w, c, $sqlG2 AS llr
        FROM j),
      rk AS (SELECT g AS source, w AS token, c AS n,
          floor(llr * 10000 + 0.5) / 10000.0 AS llr,
          row_number() OVER (PARTITION BY g
            ORDER BY floor(llr * 10000 + 0.5) / 10000.0 DESC, w) AS rank
        FROM ll)
      SELECT source, token, n, llr, rank FROM rk
      WHERE rank <= 10 ORDER BY source, rank"""),
    bench = true)

  /** E+: per-type inter-event burstiness
    * ([[EventAnalytics.burstiness]]) — the Goh–Barabási
    * (σ−μ)/(σ+μ) over pooled per-user gap series: bot metronomes
    * → −1, Poisson traffic → 0, notification storms → +1. Integer µs
    * gaps, exact decimal Σ/Σ², portable variance; < 2 gaps → NULL. */
  private val q207 = Q("q207_burstiness",
    (s, d) => EventAnalytics.burstiness(
        eventsUs(s, d), col("event_type"), col("user_id"),
        col("ts_us"), col("event_id"))
      .select(col("group").as("event_type"), col("n_gaps"),
        col("mean_gap_us"), col("sd_gap_us"), col("burstiness"))
      .orderBy(col("event_type")),
    Some("""WITH e AS (SELECT event_type AS g, user_id, event_id,
          epoch_us(ts) AS us FROM events WHERE ts IS NOT NULL),
      l AS (SELECT g, us - lag(us) OVER
          (PARTITION BY g, user_id ORDER BY us, event_id) AS gap FROM e),
      a AS (SELECT g, count(*) AS n_gaps, sum(gap) AS sx,
          sum(gap::HUGEINT * gap) AS sxx
        FROM l WHERE gap IS NOT NULL GROUP BY g),
      m AS (SELECT g, n_gaps,
          sx::DOUBLE / n_gaps::DOUBLE AS mu,
          sqrt(greatest(0.0,
            (sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE / n_gaps::DOUBLE)
              / nullif(n_gaps::DOUBLE - 1.0, 0.0))) AS sd
        FROM a)
      SELECT g AS event_type, n_gaps,
        floor(mu * 1000000 + 0.5) / 1000000 AS mean_gap_us,
        CASE WHEN n_gaps >= 2
          THEN floor(sd * 1000000 + 0.5) / 1000000 END AS sd_gap_us,
        CASE WHEN n_gaps >= 2 AND sd + mu <> 0.0
          THEN floor((sd - mu) / (sd + mu) * 1000000 + 0.5) / 1000000
        END AS burstiness
      FROM m ORDER BY event_type"""))

  /** H3+: per-label coherence margin
    * ([[graft.operators.Clustering.labelCoherenceMargin]]) — the
    * centroid silhouette: own-centroid cosine vs the best rival
    * centroid per point, aggregated to mean margin and confusable
    * mass per label — the label-quality gate before training on weak
    * labels (q166 says which label centroids are close; this counts
    * the points that closeness confuses). Centroids are exact
    * quantized-long sum vectors collected to the driver and carried
    * as ONE label-ordered nested literal (the kMeans tiny-metadata
    * contract), so scoring is a narrow per-row projection — one array
    * of k graft_dot cosines, no join. */
  private val q208 = Q("q208_label_coherence",
    (s, d) => graft.operators.Clustering.labelCoherenceMargin(
        emb(s, d), col("embedding"), col("label"), dim = EmbeddingDim)
      .orderBy(col("label")),
    // labelCoherenceMargin has NO id column: every physical row is a
    // point (per-row count-weighting — a replayed embedding row
    // weights its label's centroid AND the means twice, identically
    // on both engines). The rid materializes that per-ROW identity so
    // the a/b pivot cannot merge replica points the way GROUP BY
    // vec_id would (the r13 oracle-fanout law family).
    Some(s"""WITH e AS (SELECT
          row_number() OVER (ORDER BY vec_id) AS rid, embedding AS v,
          CAST(label AS BIGINT) AS l
        FROM embeddings WHERE embedding IS NOT NULL AND label IS NOT NULL),
      comp AS (SELECT l, t.d,
          sum(CAST(floor(v[t.d]::DOUBLE * 10000 + 0.5) AS BIGINT)) AS s
        FROM e CROSS JOIN range(1, 65) t(d) GROUP BY l, t.d),
      cent AS (SELECT l AS m, list(s::DOUBLE ORDER BY d) AS c
        FROM comp GROUP BY l),
      pc AS (SELECT e.rid, e.l, cent.m,
          CASE WHEN sqrt(${sqlDot("v", "v")}) * sqrt(${sqlDot("c", "c")})
              = 0.0 THEN 0.0
            ELSE ${sqlDot("v", "c")} /
              (sqrt(${sqlDot("v", "v")}) * sqrt(${sqlDot("c", "c")}))
          END AS cos
        FROM e CROSS JOIN cent),
      p AS (SELECT rid, l,
          max(CASE WHEN m = l THEN cos END) AS a,
          max(CASE WHEN m <> l THEN cos END) AS b
        FROM pc GROUP BY rid, l)
      SELECT l AS label, count(*) AS n,
        floor(avg(a) * 1000000 + 0.5) / 1000000 AS mean_own_cos,
        floor(avg(b) * 1000000 + 0.5) / 1000000 AS mean_best_other,
        floor(avg(a - b) * 1000000 + 0.5) / 1000000 AS mean_margin,
        floor(sum(CASE WHEN a - b <= 0 THEN 1 ELSE 0 END)::DOUBLE
          / count(*)::DOUBLE * 1000000 + 0.5) / 1000000 AS confused_frac
      FROM p GROUP BY l ORDER BY label"""),
    bench = true)

  /** H3+/H4+ composition: semantic cluster naming — q108's portable
    * k-means assigns every document's embedding to a cluster
    * (doc_id ≡ vec_id in the testdata), then q206's keyness names
    * each cluster by its most overrepresented tokens. The standard
    * "cluster the corpus, label the clusters" topic-discovery
    * pipeline, end to end in one plan; the oracle replays the FULL
    * unrolled k-means chain AND the G² ranking. Documents whose
    * embedding is NULL drop at the join (both engines). */
  private val q209 = Q("q209_cluster_keywords",
    (s, d) => {
      val assign = Clustering.kMeans(
        emb(s, d).filter(col("embedding").isNotNull),
        col("vec_id"), col("embedding"), k = 4, iters = 2,
        seed = "km6", dim = 64)
      val docs = t(s, d, "documents").join(
        assign.select(col("id").as("doc_id"), col("cluster_id")),
        Seq("doc_id"))
      TextAnalysis.sourceKeyness(docs, col("cluster_id"), col("text"),
          minCount = 5L, topN = 5)
        .select(col("source").as("cluster_id"), col("token"), col("n"),
          col("llr"), col("rank"))
        .orderBy(col("cluster_id"), col("rank"))
    },
    Some(s"""WITH $kmeansOracleCte,
      dtok AS (SELECT a3.cid AS g, unnest(string_split(d.text, ' ')) AS w
        FROM documents d JOIN a3 ON d.doc_id = a3.vec_id),
      kc AS (SELECT g, w, count(*) AS c FROM dtok GROUP BY 1, 2),
      kg AS (SELECT g, sum(c) AS cg FROM kc GROUP BY g),
      kw AS (SELECT w, sum(c) AS cw FROM kc GROUP BY w),
      kt AS (SELECT sum(c) AS nt FROM kc),
      j AS (SELECT kc.g, kc.w, kc.c,
          kg.cg::DOUBLE AS gd, kw.cw::DOUBLE AS wd, nt::DOUBLE AS nn,
          kc.c::DOUBLE AS o11
        FROM kc JOIN kg USING (g) JOIN kw USING (w) CROSS JOIN kt
        WHERE kc.c >= 5 AND kc.c::HUGEINT * nt > kg.cg::HUGEINT * kw.cw),
      kll AS (SELECT g, w, c, $sqlG2 AS llr FROM j),
      krk AS (SELECT g AS cluster_id, w AS token, c AS n,
          floor(llr * 10000 + 0.5) / 10000.0 AS llr,
          row_number() OVER (PARTITION BY g
            ORDER BY floor(llr * 10000 + 0.5) / 10000.0 DESC, w) AS rank
        FROM kll)
      SELECT cluster_id, token, n, llr, rank FROM krk
      WHERE rank <= 5 ORDER BY cluster_id, rank"""),
    bench = true)

  /** H4+/D+: cross-source quantile normalization
    * ([[graft.operators.Sampling.quantileNormalize]]) — map each
    * document's length score onto the POOLED distribution at its
    * in-source percentile: the calibrator heterogeneous per-source
    * score distributions need before one global threshold can mix
    * them (q100's quantileGate keeps a per-stratum fraction; this
    * produces the comparable score). Exact order statistics are a
    * sort problem, stated — the q126 sketch is the scale
    * approximation path. Singleton strata → NULL (engine
    * percent_rank conventions disagree at n = 1, so the law is
    * explicit). */
  private val q210 = Q("q210_quantile_normalize",
    (s, d) => graft.operators.Sampling.quantileNormalize(
        t(s, d, "documents"), col("doc_id"), col("source"),
        col("n_chars"))
      .select(col("id").as("doc_id"), col("stratum").as("source"),
        col("score"), r(col("pct"), 6).as("pct"),
        r(col("normalized"), 6).as("normalized"))
      .orderBy(col("doc_id")),
    Some("""WITH b AS (SELECT doc_id, source AS g, n_chars::DOUBLE AS x
        FROM documents WHERE n_chars IS NOT NULL),
      pool AS (SELECT x AS q, row_number() OVER (ORDER BY x) - 1 AS idx
        FROM b),
      t AS (SELECT count(*) AS n FROM b),
      rk AS (SELECT doc_id, g, x,
          (rank() OVER (PARTITION BY g ORDER BY x) - 1)::DOUBLE
            / nullif((count(*) OVER (PARTITION BY g) - 1)::DOUBLE, 0.0) AS p
        FROM b),
      pos AS (SELECT doc_id, g, x, p,
          CAST(floor(p * (n - 1)::DOUBLE) AS BIGINT) AS lo,
          least(CAST(floor(p * (n - 1)::DOUBLE) AS BIGINT) + 1, n - 1)
            AS hi,
          p * (n - 1)::DOUBLE - floor(p * (n - 1)::DOUBLE) AS frac
        FROM rk CROSS JOIN t)
      SELECT doc_id, g AS source, x AS score,
        floor(p * 1000000 + 0.5) / 1000000 AS pct,
        floor((pl.q + frac * (ph.q - pl.q)) * 1000000 + 0.5) / 1000000
          AS normalized
      FROM pos LEFT JOIN pool pl ON pos.lo = pl.idx
        LEFT JOIN pool ph ON pos.hi = ph.idx
      ORDER BY doc_id"""),
    bench = true)

  /** E+/D+: trailing-window daily rate anomaly
    * ([[EventAnalytics.dailyRateAnomaly]], k = 7) — each day's count
    * and value sum z-scored against the PRIOR week's mean/σ: the
    * live ops-monitoring member beside q196's retrospective
    * changepoint. The day grid densifies (a zero-traffic day is the
    * signal, not an absent row); first-k and σ = 0 baselines → NULL.
    * Shares q196's day-cell substrate, so the streaming daily
    * monitor's persisted state serves both readers. */
  private val q211 = Q("q211_daily_rate_anomaly",
    (s, d) => EventAnalytics.dailyRateAnomaly(
        eventsUs(s, d).filter(col("event_type") === "purchase"),
        ts = "ts_us", valueCol = "value",
        epoch0Us = CohortEpoch0Us, dayUs = 86400000000L, scale = 100L,
        k = 7)
      .orderBy(col("day")),
    Some(s"""WITH e AS (SELECT
          (epoch_us(ts) - $CohortEpoch0Us) // 86400000000 AS d,
          CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
        FROM events
        WHERE event_type = 'purchase' AND ts IS NOT NULL
          AND value IS NOT NULL),
      days AS (SELECT d, count(*) AS c, sum(v) AS s FROM e GROUP BY d),
      b AS (SELECT min(d) AS lo, max(d) AS hi FROM days),
      grid AS (SELECT unnest(range(lo, hi + 1)) AS d FROM b),
      dense AS (SELECT grid.d AS d, coalesce(days.c, 0) AS c,
          coalesce(days.s, 0) AS s
        FROM grid LEFT JOIN days ON grid.d = days.d),
      w AS (SELECT d, c, s,
          count(*) OVER win AS nw,
          sum(c) OVER win AS sc, sum(c::HUGEINT * c) OVER win AS scc,
          sum(s) OVER win AS ss, sum(s::HUGEINT * s) OVER win AS sss
        FROM dense
        WINDOW win AS (ORDER BY d ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
      m AS (SELECT *,
          sc::DOUBLE / nullif(nw::DOUBLE, 0.0) AS mc,
          sqrt(greatest(0.0,
            (scc::DOUBLE - sc::DOUBLE * sc::DOUBLE
                / nullif(nw::DOUBLE, 0.0))
              / nullif(nw::DOUBLE - 1.0, 0.0))) AS sdc,
          ss::DOUBLE / nullif(nw::DOUBLE, 0.0) AS ms,
          sqrt(greatest(0.0,
            (sss::DOUBLE - ss::DOUBLE * ss::DOUBLE
                / nullif(nw::DOUBLE, 0.0))
              / nullif(nw::DOUBLE - 1.0, 0.0))) AS sds
        FROM w)
      SELECT d AS day, c AS n_events,
        floor(s::DOUBLE / 100.0 * 1000000 + 0.5) / 1000000 AS value_sum,
        CASE WHEN nw = 7 AND sdc <> 0.0
          THEN floor((c::DOUBLE - mc) / sdc * 1000000 + 0.5) / 1000000
        END AS z_count,
        CASE WHEN nw = 7 AND sds <> 0.0
          THEN floor((s::DOUBLE - ms) / sds * 1000000 + 0.5) / 1000000
        END AS z_value
      FROM m ORDER BY day"""),
    bench = true)

  /** H3+: quant-IVF recall@10 against the exact quantized-L2 ground
    * truth ([[Similarity.ivfRecall]] — q38's index, q181's
    * evaluation): the published honesty artifact the float IVF could
    * only enforce as an in-plan assert, now a hash-replayed TABLE
    * (both rankings integer-exact, lexicographic ties). Ground truth
    * is the brute cross product by definition — an evaluation op
    * over a query sample, never a serving path. */
  private val q212 = Q("q212_ivf_recall",
    (s, d) => {
      val e = emb(s, d)
      Similarity.ivfRecall(
        e.filter(col("vec_id") < 20)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec")),
        e.select(col("vec_id").as("c_id"), col("embedding").as("c_vec")),
        k = 10, nLists = 16, nProbe = 2, dim = 64, iters = 2,
        seed = "ivf12")
        .orderBy(col("q_id"))
    },
    Some {
      val dxx = sqlDot("x.v", "x.v"); val dxc = sqlDot("x.v", "c.c")
      val dcc = sqlDot("c.c", "c.c")
      s"""WITH ${sqlKmeansChain("co", 1, 64, 16, "ivf12-coarse")},
      docl AS (SELECT x.vec_id AS c_id, c.cid AS list_id
        FROM xqco x CROSS JOIN cbco c
        QUALIFY row_number() OVER (PARTITION BY x.vec_id
          ORDER BY ($dxx - 2.0 * $dxc + $dcc), c.cid) = 1),
      qpr AS (SELECT x.vec_id AS q_id, c.cid AS list_id
        FROM xqco x CROSS JOIN cbco c WHERE x.vec_id < 20
        QUALIFY row_number() OVER (PARTITION BY x.vec_id
          ORDER BY ($dxx - 2.0 * $dxc + $dcc), c.cid) <= 2),
      apx AS (SELECT p.q_id, p.c_id,
          (${sqlDot("q.v", "q.v")} - 2.0 * ${sqlDot("q.v", "c.v")}
            + ${sqlDot("c.v", "c.v")}) AS d2
        FROM (SELECT q.q_id, d.c_id FROM docl d JOIN qpr q USING (list_id)
          WHERE q.q_id <> d.c_id) p
          JOIN xqco q ON q.vec_id = p.q_id
          JOIN xqco c ON c.vec_id = p.c_id
        QUALIFY row_number() OVER (PARTITION BY p.q_id
          ORDER BY d2, p.c_id) <= 10),
      ex AS (SELECT x.vec_id AS q_id, c.vec_id AS c_id
        FROM xqco x JOIN xqco c ON x.vec_id <> c.vec_id
        WHERE x.vec_id < 20
        QUALIFY row_number() OVER (PARTITION BY x.vec_id ORDER BY
          (${sqlDot("x.v", "x.v")} - 2.0 * ${sqlDot("x.v", "c.v")}
            + ${sqlDot("c.v", "c.v")}), c.vec_id) <= 10)
      SELECT e.q_id,
        CAST(count(a.c_id) AS BIGINT) AS n_hit,
        floor(count(a.c_id) / 10.0 * 1000000 + 0.5) / 1000000.0 AS recall
      FROM ex e LEFT JOIN apx a ON e.q_id = a.q_id AND e.c_id = a.c_id
      GROUP BY e.q_id ORDER BY e.q_id"""
    },
    bench = true)

  /** H4+/D+: quantile normalization on the TICK-CELL scale path
    * ([[graft.operators.Sampling.quantileNormalizeBinned]], scale = 1
    * over the integer n_chars) — q210 names this twin as its
    * billion-row path; r12 makes it code: pooled CDF and per-stratum
    * ranks from BOUNDED tick-cell tables (the windows order CELLS,
    * never the corpus), inverse-CDF lookup as ONE binned range join
    * of each row's pooled index against the cells' cumulative
    * ranges. On integer scores the grid is lossless, so the oracle
    * is the exact DEFINITION — q210's own SQL verbatim — and the
    * hash match itself proves the scale path exact-on-grid (the
    * q185 ground-truth-oracle pattern). */
  private val q213 = Q("q213_quantile_normalize_binned",
    (s, d) => graft.operators.Sampling.quantileNormalizeBinned(
        t(s, d, "documents"), col("doc_id"), col("source"),
        col("n_chars"), scale = 1L)
      .select(col("id").as("doc_id"), col("stratum").as("source"),
        col("score"), r(col("pct"), 6).as("pct"),
        r(col("normalized"), 6).as("normalized"))
      .orderBy(col("doc_id")),
    Some("""WITH b AS (SELECT doc_id, source AS g, n_chars::DOUBLE AS x
        FROM documents WHERE n_chars IS NOT NULL),
      pool AS (SELECT x AS q, row_number() OVER (ORDER BY x) - 1 AS idx
        FROM b),
      t AS (SELECT count(*) AS n FROM b),
      rk AS (SELECT doc_id, g, x,
          (rank() OVER (PARTITION BY g ORDER BY x) - 1)::DOUBLE
            / nullif((count(*) OVER (PARTITION BY g) - 1)::DOUBLE, 0.0) AS p
        FROM b),
      pos AS (SELECT doc_id, g, x, p,
          CAST(floor(p * (n - 1)::DOUBLE) AS BIGINT) AS lo,
          least(CAST(floor(p * (n - 1)::DOUBLE) AS BIGINT) + 1, n - 1)
            AS hi,
          p * (n - 1)::DOUBLE - floor(p * (n - 1)::DOUBLE) AS frac
        FROM rk CROSS JOIN t)
      SELECT doc_id, g AS source, x AS score,
        floor(p * 1000000 + 0.5) / 1000000 AS pct,
        floor((pl.q + frac * (ph.q - pl.q)) * 1000000 + 0.5) / 1000000
          AS normalized
      FROM pos LEFT JOIN pool pl ON pos.lo = pl.idx
        LEFT JOIN pool ph ON pos.hi = ph.idx
      ORDER BY doc_id"""),
    bench = true)

  /** H4+/D+: the binned normalizer OFF the grid — q213 proves the
    * scale path on integer scores (where it equals q210 bit for bit);
    * this runs it at scale = 4 on `events.value`, a genuinely
    * off-grid double column, and the oracle is the REDUCTION LAW
    * Round13Props pins: binned(s) on ANY scores ≡ the exact operator
    * on the pre-quantized scores floorSafe(x·s + 0.5)/s. The SQL
    * quantizes first (saturation branch mirrored — DuckDB floor stays
    * DOUBLE, so the CASE only routes identically) and then runs
    * q210's exact chain verbatim on the quantized values, while Spark
    * runs the tick-cell plan on the raw column — a hash match proves
    * the off-grid semantics end-to-end at the gate, not just in the
    * property. `score` stays the RAW value on both sides (the
    * operator's contract); NULL values drop; singleton strata keep
    * their rows with NULL pct/normalized (the family law). */
  private val Q214Scale = 4L
  private val q214 = Q("q214_quantile_normalize_offgrid",
    (s, d) => graft.operators.Sampling.quantileNormalizeBinned(
        t(s, d, "events"), col("event_id"), col("event_type"),
        col("value"), scale = Q214Scale)
      .select(col("id").as("event_id"), col("stratum").as("event_type"),
        r(col("score"), 6).as("score"), r(col("pct"), 6).as("pct"),
        r(col("normalized"), 6).as("normalized"))
      .orderBy(col("event_id")),
    // scale and the floorSafe boundary are INTERPOLATED from the one
    // Scala definition each (Q214Scale, GraftFunctions.FloorSafeBound)
    // — re-typing either literal here is how the oracle drifts out of
    // sync with the operator it checks
    Some(s"""WITH b AS (SELECT event_id AS id, event_type AS g,
          value::DOUBLE AS score0,
          CASE WHEN abs(value::DOUBLE * $Q214Scale + 0.5) >= $FloorSafeBound
               THEN (value::DOUBLE * $Q214Scale + 0.5) / $Q214Scale
               ELSE floor(value::DOUBLE * $Q214Scale + 0.5) / $Q214Scale END AS x
        FROM events WHERE value IS NOT NULL),
      pool AS (SELECT x AS q, row_number() OVER (ORDER BY x) - 1 AS idx
        FROM b),
      t AS (SELECT count(*) AS n FROM b),
      rk AS (SELECT id, g, score0, x,
          (rank() OVER (PARTITION BY g ORDER BY x) - 1)::DOUBLE
            / nullif((count(*) OVER (PARTITION BY g) - 1)::DOUBLE, 0.0) AS p
        FROM b),
      pos AS (SELECT id, g, score0, p,
          CAST(floor(p * (n - 1)::DOUBLE) AS BIGINT) AS lo,
          least(CAST(floor(p * (n - 1)::DOUBLE) AS BIGINT) + 1, n - 1)
            AS hi,
          p * (n - 1)::DOUBLE - floor(p * (n - 1)::DOUBLE) AS frac
        FROM rk CROSS JOIN t)
      SELECT id AS event_id, g AS event_type,
        floor(score0 * 1000000 + 0.5) / 1000000 AS score,
        floor(p * 1000000 + 0.5) / 1000000 AS pct,
        floor((pl.q + frac * (ph.q - pl.q)) * 1000000 + 0.5) / 1000000
          AS normalized
      FROM pos LEFT JOIN pool pl ON pos.lo = pl.idx
        LEFT JOIN pool ph ON pos.hi = ph.idx
      ORDER BY event_id"""),
    bench = true)

  // ---------------------------------------------------------------- //
  // registry                                                          //
  // ---------------------------------------------------------------- //

  val defs: Seq[Q] = Seq(
    q01, q02, q03, q04, q05, q06, q07, q08, q09, q10,
    q11, q12, q13, q14, q15, q16, q17, q18, q19, q20, q22, q23, q24,
    q25, q26, q27, q28, q29, q44, q45, q46, q47, q48, q49, q52, q53, q63, q64, q79, q80,
    q30, q31, q32, q33, q34, q54, q55, q35, q36, q37, q38, q39, q65, q67, q68, q69, q77, q78, q85, q86,
    q40, q41, q42, q43, q50, q51, q81, q56, q57, q58, q59, q60, q61, q62, q66, q75, q76, q83, q84, q87, q88, q89, q90,
    q91, q92, q93, q94, q95, q96, q97, q98, q99, q100, q101, q102, q103, q104, q105, q106, q107,
    q108, q109, q110, q111, q112, q113, q114, q115, q116, q117, q119, q120, q121, q122, q123, q124, q125, q126, q127,
    q128, q129, q130, q131, q132, q133, q134, q135, q136, q137, q138, q139, q140, q141, q142, q143, q144, q145, q146, q147, q148, q149, q150, q151, q152, q153, q154, q155, q156, q157, q158,
    q159, q160, q161, q162, q163, q164, q165, q166, q167, q168, q169,
    q170, q171, q172, q173, q174, q175, q176, q177, q178, q179, q180, q181,
    q182, q183, q184, q185, q186, q187, q188, q189, q190, q191, q192, q193, q194, q195, q196, q197,
    q198, q199, q200, q201, q202, q203, q204, q205, q206, q207, q208, q209, q210, q211, q212, q213, q214,
    q70, q71, q72, q73, q74, q82, q118)

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    defs.map(q => q.name -> q.run).toMap
  def oracleSql: Map[String, String] =
    defs.flatMap(q => q.oracle.map(q.name -> _)).toMap
  def benchNames: Seq[String] = defs.filter(_.bench).map(_.name)
}
