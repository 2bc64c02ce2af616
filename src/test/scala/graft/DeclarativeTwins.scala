package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.HashMod
import graft.operators.EventAnalytics

/** Declarative (built-ins only) specifications of the native functions:
  * the readable spec of each kernel and its differential-test twin.
  * Interpreted higher-order functions, so never on a query path — they
  * live here, beside the specs that compare them with the native forms
  * (DedupSimilaritySpec, Round6OpsSpec, EventAnalyticsSpec). */
object DeclarativeTwins {

  /** [[graft.functions.GraftFunctions.polyHash]]. EQUIVALENT ON THE
    * BASIC MULTILINGUAL PLANE ONLY: this form folds per UTF-16 code
    * unit (`split` + `ascii`), while the native function and the
    * DuckDB oracle fold per Unicode CODE POINT — for supplementary-plane
    * characters (emoji, rare CJK) the two diverge, and the code-point
    * form is the portable one. */
  def polyHash(s: Column): Column =
    aggregate(
      transform(split(s, ""), c => ascii(c)),
      lit(0L),
      (h, c) => pmod(h * lit(31L) + c.cast("long"), lit(HashMod)))

  /** [[graft.functions.GraftFunctions.shingles]]. */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      array_distinct(
        transform(
          sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", slice(toks, i + 1, lit(n))))))
      .otherwise(array().cast("array<string>"))

  /** [[graft.functions.GraftFunctions.positionedShingles]]. */
  def positionedShingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(
        sequence(lit(0), size(toks) - n),
        i => struct(i.as("pos"), concat_ws(" ", slice(toks, i + 1, lit(n))).as("ng"))))
      .otherwise(array().cast("array<struct<pos:int,ng:string>>"))

  /** [[graft.functions.GraftFunctions.winnowFingerprints]]. Same
    * selection law: per window slice, keep the LAST element whose fp
    * equals the window minimum (rightmost min), then collapse the
    * consecutive repeats (array_distinct is exact here — selections are
    * non-decreasing in pos, so duplicates are only ever adjacent). */
  def winnowFingerprints(toks: Column, k: Int, w: Int): Column = {
    val grams = positionedShingles(toks, k)
    val hs = transform(grams,
      g => struct(g.getField("pos").as("pos"), polyHash(g.getField("ng")).as("fp")))
    val nw = greatest(size(hs) - lit(w - 1), lit(1))
    val wins = transform(sequence(lit(0), nw - 1), i => {
      val win = slice(hs, i + 1, lit(w))
      val minFp = array_min(transform(win, x => x.getField("fp")))
      element_at(filter(win, x => x.getField("fp") === minFp), -1)
    })
    // coalesce carries the NULL-input law: size(hs) is NULL for NULL
    // toks, and the bare === 0 branch would fall through to a NULL
    // result where the native function returns the empty array
    when(coalesce(size(hs), lit(0)) === 0, array().cast(
      "array<struct<pos:int,fp:bigint>>"))
      .otherwise(array_distinct(wins))
  }

  /** Deterministic pseudo-random hyperplane component d of plane p:
    * integer-derived value in [-1, 1) with exact decimal construction —
    * identical in any engine. */
  private def planeComponent(p: Column, d: Column): Column =
    (pmod(p * 37L + d * 101L + 17L, lit(1000L)).cast("double") / 500.0) - 1.0

  /** [[graft.functions.GraftFunctions.lshBucket]]: nested interpreted
    * `aggregate` folds. */
  def lshBucket(vec: Column, planes: Int, dim: Int): Column =
    aggregate(sequence(lit(0), lit(planes - 1)), lit(0L), (acc, p) => {
      val proj = aggregate(sequence(lit(1), lit(dim)), lit(0.0), (s, d) =>
        s + element_at(vec, d).cast("double") * planeComponent(p.cast("long"), d.cast("long")))
      acc + when(proj > 0.0, pow(lit(2.0), p.cast("double")).cast("long")).otherwise(0L)
    })

  /** [[graft.functions.GraftFunctions.bpeMerge]]. */
  def mergePair(toks: Column, w1: String, w2: String): Column =
    aggregate(toks, array().cast("array<string>"), (acc, t) =>
      when(size(acc) > 0 &&
          element_at(acc, -1) === lit(w1) && t === lit(w2),
        concat(slice(acc, lit(1), size(acc) - 1),
          array(lit(w1 + " " + w2))))
        .otherwise(concat(acc, array(t))))

  /** [[EventAnalytics.dyadicEwma]] with the declarative frame fold. */
  def dyadicEwma(events: DataFrame, key: String, ts: String, tie: String,
                 valueCol: String, frameRows: Int = 8, scale: Int = 100): DataFrame =
    EventAnalytics.dyadicEwmaWith(events, key, ts, tie, valueCol, frameRows, scale, xs =>
      // size 0 -> NULL, not 0.0/0 = NaN — matches the native fold's
      // empty-frame rule (an empty frame has no observations; frames
      // CAN be empty because collect_list drops null values)
      when(size(xs) === 0, lit(null).cast("double")).otherwise(
        expr("aggregate(transform(_xs, (x, i) -> x * shiftleft(CAST(1 AS BIGINT), i)), " +
          "CAST(0 AS BIGINT), (a, x) -> a + x)").cast("double")
          / (expr("shiftleft(CAST(1 AS BIGINT), size(_xs))") - lit(1L))))
}
