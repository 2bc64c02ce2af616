package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GraftColumnBridge

/** Column-level helpers shared across graft operators, and the one
  * Column entry point of the engine's 13 native functions.
  *
  * Everything here is a built-in (codegen'd) Catalyst expression or a
  * native function from `HashExpressions.scala` — no Scala UDFs in hot
  * paths, so whole-stage codegen spans stay wide and the DuckDB oracle
  * can reproduce each computation exactly. A native function has one
  * implementation, its [[HashUtil]] kernel, which the optimizer calls
  * through Spark's `StaticInvoke` (compiled or interpreted alike); the
  * same 13 functions are registered for SQL as `graft_*` by
  * [[graft.plans.GraftExtensions]].
  */
object GraftFunctions {
  private def native(e: Expression): Column = GraftColumnBridge.column(e)
  private def toExpr(c: Column): Expression = GraftColumnBridge.expression(c)

  /** Exact integral division (SQL `div`, Catalyst `IntegralDivide`).
    * `a / b` on Columns is double division, which silently loses
    * precision for longs above 2^53 — epoch-nanosecond timestamps are
    * ~1.7e18, so window bucketing MUST use this, never `/`. */
  def longDiv(a: Column, b: Column): Column = call_function("div", a, b)
  def longDiv(a: Column, b: Long): Column = longDiv(a, lit(b))

  /** Exact epoch-MICROSECOND long from an event-timestamp column,
    * whatever the parquet writer encoded:
    *  - int64 nanoseconds (read as `LongType` under the legacy
    *    `nanosAsLong` flag) → floor-div by 1000;
    *  - `TIMESTAMP_NTZ` (µs wall-clock, naive-UTC by the testdata
    *    convention; what Spark infers for un-adjusted parquet µs) →
    *    a MICROSECOND diff from the epoch — pure wall-clock integer
    *    math, independent of the session time zone;
    *  - `TIMESTAMP` (UTC-adjusted µs) → `unix_micros`.
    * All three are exact integer paths (no double division of
    * epoch-scale values) and all three agree with DuckDB's
    * `epoch_us(ts)` on the same parquet. Schema-dispatched, so the
    * engine keeps running when an upstream re-encodes the table. */
  def epochMicros(dt: org.apache.spark.sql.types.DataType, ts: Column): Column = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    dt match {
      // FLOOR-div, not SQL `div` (which truncates toward zero): a
      // pre-epoch nanosecond timestamp with a sub-µs remainder (e.g.
      // -1500 ns) belongs to µs -2, which is what DuckDB's epoch_us
      // yields — truncation would say -1 and shift window bucketing
      // by one for every such row. pmod(ts, 1000) ∈ [0, 999], so the
      // subtraction lands on an exact multiple and the div is exact.
      case LongType         => longDiv(ts - pmod(ts, lit(1000L)), 1000L)
      case TimestampNTZType =>
        timestamp_diff("MICROSECOND",
          lit("1970-01-01 00:00:00").cast(TimestampNTZType), ts)
      case TimestampType    => unix_micros(ts)
      case other => throw new IllegalArgumentException(
        s"epochMicros: unsupported event-timestamp type $other " +
          "(expected LongType nanos, TIMESTAMP_NTZ, or TIMESTAMP)")
    }
  }

  /** 31-based polynomial rolling hash of a string, mod 1e9+7 — the
    * deterministic, dialect-portable hash used for document
    * fingerprinting, MinHash token hashing and SimHash. Pure integer
    * arithmetic over codepoints, so Spark and the DuckDB oracle compute
    * bit-identical values (Spark murmur3 `hash()` would not be
    * reproducible in SQL). 31*h + c stays < 2^35, far from long
    * overflow. Empty string hashes to 0. */
  val HashMod = 1000000007L
  def polyHash(s: Column): Column = native(PolyHash(toExpr(s)))

  /** Unicode NFC canonical composition (`graft_nfc`) — normalize
    * BEFORE exact dedup / fingerprinting so byte-different,
    * visually-identical texts collapse; identical to DuckDB's
    * `nfc_normalize` (both implement Unicode canonical composition).
    * NULL in, NULL out. */
  def nfc(s: Column): Column = native(NfcNormalize(toExpr(s)))

  /** Cross-engine-deterministic rounding to `d` decimals:
    * floor(x·10^d + 0.5) / 10^d. Unlike `round`, whose tie-breaking
    * differs between engines (Spark rounds the exact decimal expansion
    * HALF_UP, DuckDB multiplies then rounds), this is a fixed IEEE op
    * sequence — identical inputs give bit-identical outputs in Spark
    * and the DuckDB oracle. Half-way cases round toward +infinity. */
  def r(c: Column, d: Int): Column = {
    val k = math.pow(10.0, d)
    floorSafe(c * lit(k) + lit(0.5)) / lit(k)
  }

  /** Saturation-safe floor, returning DOUBLE: Spark's `floor(double)`
    * returns LONG and SATURATES at ±2^63−1, while DuckDB's floor stays
    * DOUBLE — so any floor-based rounding/quantization whose scaled
    * operand can pass the long range (pre-epoch µs gaps, ×1e6 dirt
    * sums, extreme quality scores) silently clamps on one engine only
    * (the r11→r12 `r()` bug class). Past 2^53 every double is already
    * integral — floor is the identity on BOTH engines — so that regime
    * routes AROUND the long cast (9e18 keeps the branch strictly below
    * the clamp while staying far above 2^53; for |v| < 9e18 the
    * long→double round trip is exact because floor(v) is an integral
    * double in long range). EVERY floor-quantize path with unbounded
    * input magnitude must go through here ([[r]] and
    * [[graft.operators.Sampling.quantileNormalizeBinned]]'s tick grid
    * do), or extreme values silently merge into one saturated cell. */
  def floorSafe(v: Column): Column =
    when(abs(v) >= lit(FloorSafeBound), v).otherwise(floor(v).cast("double"))

  /** The [[floorSafe]] regime boundary — the ONE definition the
    * operator, the q214 oracle SQL (interpolated, not re-typed), and
    * Round13Props' model all share, so the three can't silently drift
    * apart if the boundary ever moves. Any replacement must stay
    * strictly below 2^63−1 (the long-saturation clamp being routed
    * around) and far above 2^53 (where floor is already the identity
    * on doubles, making the pass-through branch exact). */
  val FloorSafeBound: Double = 9.0e18

  /** Universal-hash family over an already-hashed long token:
    * h_i(t) = (a_i * t + b_i) mod p, with a_i/b_i derived from the seed
    * index. Used for MinHash signatures. */
  def affineHash(t: Column, i: Int): Column = {
    val a = 2L * i + 1          // odd multipliers
    val b = 1000003L * (i + 1)
    pmod(t * lit(a) + lit(b), lit(HashMod))
  }

  /** In-plan vector-dimension guard (the [[dotProduct]] /
    * `lshBucket` input-domain contract made LOUD): TRUE for NULL
    * vectors (the family's NULL-vector law drops them downstream) and
    * for vectors of exactly `dim` elements; any other length kills
    * the query with a descriptive error instead of silently folding a
    * ragged vector to the shorter length (a wrong-but-plausible
    * cosine at 100 TB is strictly worse than a loud failure — the
    * hllRegisters domain-guard precedent). Use as
    * `df.filter(vectorDimGuard(col(vec), 64))`; codegen'd CASE, one
    * conditional per row, negligible beside any dot product. */
  def vectorDimGuard(vec: Column, dim: Int): Column =
    coalesce(assert_true(vec.isNull || size(vec) === dim,
      lit(s"vector dimension guard: expected a NULL vector or exactly " +
        s"$dim elements — a ragged embedding would silently fold to " +
        s"the shorter length (fix the upstream embedder or filter " +
        s"explicitly)")), lit(true))

  /** Dot product of two float/double arrays — the native sequential
    * left-fold (`graft_dot`), elements cast to double first,
    * bit-identical to the DuckDB list_reduce oracle ON EQUAL-LENGTH,
    * NON-NULL-ELEMENT inputs (every engine vector path). Outside that
    * domain the fold reads null elements as 0.0 and ignores positions
    * beyond the shorter array. */
  def dotProduct(a: Column, b: Column): Column = native(DotProduct(toExpr(a), toExpr(b)))

  /** L2 norm via the same sequential fold. */
  def l2Norm(a: Column): Column = sqrt(dotProduct(a, a))

  /** Cosine similarity; 0.0 when either vector has zero norm. */
  def cosine(a: Column, b: Column): Column = {
    val d = dotProduct(a, b)
    val n = l2Norm(a) * l2Norm(b)
    when(n === 0.0, 0.0).otherwise(d / n)
  }

  /** Whitespace tokenizer matching the oracle's split semantics:
    * single-space split (testdata documents are single-spaced). */
  def tokens(text: Column): Column = split(text, " ")

  /** Distinct word-`n`-gram shingles of a token array, joined by a
    * space: the input unit for MinHash / Jaccard dedup and
    * decontamination. A document with fewer than `n` tokens has NO
    * shingles (empty array) — the same law the SQL oracles'
    * comprehension yields, so short documents cannot silently diverge
    * between engines. A NULL array has none either. Native function
    * `graft_shingles`, element-identical to the declarative
    * `array_distinct(transform(…))` form the tests keep as its twin. */
  def shingles(toks: Column, n: Int): Column = native(Shingles(toExpr(toks), n))

  /** Every word-`n`-gram occurrence with its 0-based start position —
    * the positional, NON-distinct twin of [[shingles]] (the posting
    * generator for occurrence-level corpus scans, e.g. frequent-n-gram
    * pruning). Native function `graft_pos_shingles`. */
  def positionedShingles(toks: Column, n: Int): Column =
    native(PositionedShingles(toExpr(toks), n))

  /** Winnowing fingerprints (Schleimer et al. 2003): per document,
    * the position-sorted (pos, fp) selections of the rightmost
    * minimal `k`-gram hash in every window of `w` consecutive gram
    * hashes — the local-minima document sketch whose guarantee (any
    * shared run of ≥ w + k − 1 tokens shares ≥ 1 fingerprint at
    * expected density 2/(w+1)) sits between [[withFingerprints]]'
    * 1-hash sketch and [[TextAnalysis.sharedSpans]]' exact scan.
    * Native function `graft_winnow`; NULL/short input → empty array. */
  def winnowFingerprints(toks: Column, k: Int, w: Int): Column =
    native(WinnowFingerprints(toExpr(toks), k, w))

  /** Fused word-`n`-gram shingle → `k`-position MinHash signature
    * (`graft_shingle_minhash`): position t is the minimum over the
    * document's shingle polyhashes of the affine hash t. A document
    * with no shingles gets k NULL positions; a NULL array, NULL. */
  def shingleMinHash(toks: Column, n: Int, k: Int): Column =
    native(ShingleMinHash(toExpr(toks), n, k))

  /** Fused word-`n`-gram shingle → `bits`-bit SimHash
    * (`graft_shingle_simhash`): bit b is the majority vote of bit b
    * over the distinct shingles' polyhashes. NULL for shingle-less
    * documents (an all-zero signature would collide them all). */
  def shingleSimHash(toks: Column, n: Int, bits: Int): Column =
    native(ShingleSimHash(toExpr(toks), n, bits))

  /** Per-band 31-polynomial hashes of a MinHash signature
    * (`graft_band_hashes`); a NULL position nulls its band's hash. */
  def bandHashes(minhash: Column, bands: Int): Column =
    native(BandHashes(toExpr(minhash), bands))

  /** Count of positions where two bigint arrays are both non-NULL and
    * equal, over the shorter length (`graft_array_eq_count`) — the
    * signature-agreement count of LSH candidate scoring. */
  def arrayEqCount(a: Column, b: Column): Column = native(ArrayEqCount(toExpr(a), toExpr(b)))

  /** Sign-of-projection LSH bucket id over `planes` deterministic
    * hyperplanes (`graft_lsh_bucket`): bit p = [vec · plane_p > 0] —
    * bit-identical to the declarative nested-`aggregate` spec the
    * tests keep and to the DuckDB oracle's `list_reduce` form,
    * INCLUDING the null case: a NULL vector buckets to 0, never NULL. */
  def lshBucket(vec: Column, planes: Int, dim: Int): Column =
    native(LshBucket(toExpr(vec), planes, dim))

  /** One greedy left-to-right, non-overlapping merge pass of the
    * adjacent pair (`w1`,`w2`) over a token array — BPE's rewrite step
    * (merged token = space-joined pair, which later rounds treat as
    * one symbol). "a a a" under (a,a) → ["a a", "a"]: after a merge
    * the new symbol is what the next comparison sees, so overlaps
    * cannot double-merge — the standard BPE scan order, and exactly
    * the fold the SQL oracle replays. Native function
    * `graft_bpe_merge` — it runs 2× per merge over the whole corpus,
    * the trainer's hot loop. */
  def bpeMerge(toks: Column, w1: String, w2: String): Column =
    native(BpeMergeFold(toExpr(toks), w1, w2))

  /** Normalized dyadic weighted fold `(Σ xs[i]·2^i) / (2^n − 1)` of a
    * bigint array (`graft_dyadic_fold`); NULL for a NULL or empty
    * array or any NULL element. */
  def dyadicFold(xs: Column): Column = native(DyadicFold(toExpr(xs)))
}
