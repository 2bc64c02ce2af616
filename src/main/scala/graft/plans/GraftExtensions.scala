package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import org.apache.spark.sql.types.StringType

import graft.functions.{ArrayEqCount, BandHashes, BpeMergeFold, DotProduct, DyadicFold, LshBucket, NfcNormalize, PolyHash, PositionedShingles, ShingleMinHash, ShingleSimHash, Shingles, WinnowFingerprints}

/** SparkSessionExtensions entry point: registers the engine's native
  * expressions as SQL functions so
  * `spark.sql("SELECT graft_polyhash(text) ...")` works. It injects no
  * optimizer rule or planner strategy; every plan is built-in Catalyst.
  *
  * Use: `SparkSession.builder().withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.plans.GraftExtensions` on a cluster;
  * [[GraftExtensions.register]] bolts the functions onto an existing
  * session (tests, shells).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (ident, info, builder) =>
      e.injectFunction((ident, info, builder))
    }
  }
}

object GraftExtensions {
  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "built-in")

  /** The Int value of any integral literal (byte/short/int/in-range
    * long), so SQL literals like `2S` and `2L` count as integers. */
  private def intVal(l: Literal): Option[Int] = l.value match {
    case i: Int => Some(i)
    case v: Long if v <= Int.MaxValue && v >= Int.MinValue => Some(v.toInt)
    case s: Short => Some(s.toInt)
    case b: Byte => Some(b.toInt)
    case _ => None
  }

  /** n/k/planes/dim-style arguments must be integer literals — a clear
    * error beats the UnsupportedOperationException a bare eval() on a
    * non-literal column throws. */
  private def intLit(e: Expression, fn: String, name: String): Int = {
    val v = e match {
      case l: Literal =>
        intVal(l).getOrElse(throw new IllegalArgumentException(
          l.value match {
            case _: Long => s"$fn: $name is out of int range: ${l.value}"
            case _ => s"$fn: $name must be an integer literal, got $l"
          }))
      case other => throw new IllegalArgumentException(
        s"$fn: $name must be an integer literal, got $other")
    }
    // every graft int argument is a count (n/k/bands/planes/dim/bits):
    // zero or negative values fail per-row deep in the kernels
    // (ArithmeticException, NegativeArraySizeException) or silently
    // return nonsense ([""] shingles for n=0) — reject at analysis
    if (v < 1) throw new IllegalArgumentException(
      s"$fn: $name must be >= 1, got $v")
    v
  }

  /** SQL-function arity guard: a wrong argument count must be a named
    * analysis-time error, not a NoSuchElementException from
    * `exprs.head` (and extra arguments must not be silently ignored —
    * the same rationale as [[intLit]]). */
  private def arity(exprs: Seq[Expression], fn: String, n: Int): Seq[Expression] = {
    if (exprs.length != n) throw new IllegalArgumentException(
      s"$fn requires exactly $n argument" + (if (n == 1) "" else "s") +
        s", got ${exprs.length}")
    exprs
  }

  /** Merge-symbol arguments must be string literals — same rationale
    * as [[intLit]]. */
  private def strLit(e: Expression, fn: String, name: String): String = e match {
    case Literal(v: org.apache.spark.unsafe.types.UTF8String, StringType) => v.toString
    case other => throw new IllegalArgumentException(
      s"$fn: $name must be a string literal, got $other")
  }

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_polyhash"),
      info("graft_polyhash",
        "graft_polyhash(str) - portable 31-polynomial hash mod 1e9+7 over code points"),
      (exprs: Seq[Expression]) => PolyHash(arity(exprs, "graft_polyhash", 1).head)),
    (FunctionIdentifier("graft_nfc"),
      info("graft_nfc",
        "graft_nfc(str) - Unicode NFC canonical composition (dedup-safe text normalization)"),
      (exprs: Seq[Expression]) => NfcNormalize(arity(exprs, "graft_nfc", 1).head)),
    (FunctionIdentifier("graft_shingle_minhash"),
      info("graft_shingle_minhash",
        "graft_shingle_minhash(tokens, n, k) - MinHash signature over word-n-gram shingles"),
      (exprs: Seq[Expression]) => { val a = arity(exprs, "graft_shingle_minhash", 3)
        ShingleMinHash(a.head,
          intLit(a(1), "graft_shingle_minhash", "n"),
          intLit(a(2), "graft_shingle_minhash", "k")) }),
    (FunctionIdentifier("graft_dot"),
      info("graft_dot",
        "graft_dot(a, b) - sequential left-fold dot product of two float/double arrays"),
      (exprs: Seq[Expression]) => { val a = arity(exprs, "graft_dot", 2)
        DotProduct(a.head, a(1)) }),
    (FunctionIdentifier("graft_lsh_bucket"),
      info("graft_lsh_bucket",
        "graft_lsh_bucket(vec, planes, dim) - random-hyperplane LSH bucket id of a float/double array"),
      (exprs: Seq[Expression]) => { val a = arity(exprs, "graft_lsh_bucket", 3)
        LshBucket(a.head,
          intLit(a(1), "graft_lsh_bucket", "planes"),
          intLit(a(2), "graft_lsh_bucket", "dim")) }),
    (FunctionIdentifier("graft_band_hashes"),
      info("graft_band_hashes",
        "graft_band_hashes(minhash, bands) - per-band 31-polynomial hashes of a MinHash signature"),
      (exprs: Seq[Expression]) => { val a = arity(exprs, "graft_band_hashes", 2)
        BandHashes(a.head,
          intLit(a(1), "graft_band_hashes", "bands")) }),
    (FunctionIdentifier("graft_array_eq_count"),
      info("graft_array_eq_count",
        "graft_array_eq_count(a, b) - count of equal non-null positions of two bigint arrays"),
      (exprs: Seq[Expression]) => { val a = arity(exprs, "graft_array_eq_count", 2)
        ArrayEqCount(a.head, a(1)) }),
    (FunctionIdentifier("graft_shingles"),
      info("graft_shingles",
        "graft_shingles(tokens, n) - distinct word-n-gram shingles joined by a space"),
      (exprs: Seq[Expression]) => { val a = arity(exprs, "graft_shingles", 2)
        Shingles(a.head,
          intLit(a(1), "graft_shingles", "n")) }),
    (FunctionIdentifier("graft_pos_shingles"),
      info("graft_pos_shingles",
        "graft_pos_shingles(tokens, n) - every word-n-gram occurrence with its 0-based start position"),
      (exprs: Seq[Expression]) => { val a = arity(exprs, "graft_pos_shingles", 2)
        PositionedShingles(a.head,
          intLit(a(1), "graft_pos_shingles", "n")) }),
    (FunctionIdentifier("graft_winnow"),
      info("graft_winnow",
        "graft_winnow(tokens, k, w) - winnowing fingerprints: rightmost-min k-gram hash per w-window, position-sorted (pos, fp) structs"),
      (exprs: Seq[Expression]) => { val a = arity(exprs, "graft_winnow", 3)
        WinnowFingerprints(a.head,
          intLit(a(1), "graft_winnow", "k"),
          intLit(a(2), "graft_winnow", "w")) }),
    (FunctionIdentifier("graft_bpe_merge"),
      info("graft_bpe_merge",
        "graft_bpe_merge(tokens, w1, w2) - one greedy non-overlapping BPE merge pass of the adjacent pair (w1, w2)"),
      (exprs: Seq[Expression]) => { val a = arity(exprs, "graft_bpe_merge", 3)
        BpeMergeFold(a.head,
          strLit(a(1), "graft_bpe_merge", "w1"),
          strLit(a(2), "graft_bpe_merge", "w2")) }),
    (FunctionIdentifier("graft_shingle_simhash"),
      info("graft_shingle_simhash",
        "graft_shingle_simhash(tokens, n, bits) - SimHash signature over distinct word-n-gram shingles (NULL for shingle-less docs)"),
      (exprs: Seq[Expression]) => { val a = arity(exprs, "graft_shingle_simhash", 3)
        ShingleSimHash(a.head,
          intLit(a(1), "graft_shingle_simhash", "n"),
          intLit(a(2), "graft_shingle_simhash", "bits")) }),
    (FunctionIdentifier("graft_dyadic_fold"),
      info("graft_dyadic_fold",
        "graft_dyadic_fold(xs) - normalized dyadic weighted fold (sum xs[i]*2^i) / (2^n - 1) of a bigint array"),
      (exprs: Seq[Expression]) => DyadicFold(arity(exprs, "graft_dyadic_fold", 1).head)))

  /** Register the functions on an already-built session. */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (ident, _, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(ident.funcName, builder, "built-in")
    }
}
