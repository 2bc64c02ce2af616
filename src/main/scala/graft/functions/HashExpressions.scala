package graft.functions

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, GenericInternalRow, Literal, RuntimeReplaceable, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.GraftColumnBridge.FloatOrDoubleArray
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The kernels behind the engine's 13 native SQL functions: one static
  * Java-callable loop per function, which Spark's `StaticInvoke` calls
  * directly from whole-stage codegen and by reflection when a plan runs
  * interpreted — one execution path either way. The pure-`functions._`
  * forms (nested `transform`/`aggregate` lambdas) are semantically
  * identical but interpreted — measured ~25 ms/doc for a MinHash
  * signature; these are one tight loop per row (~1000× less per-row
  * overhead). Semantics are EXACTLY the documented portable forms, so
  * the DuckDB oracles are unchanged: 31-polynomial over Unicode code
  * points mod 1e9+7; affine family (2i+1)·h + 1000003·(i+1) mod p;
  * word-n-gram shingles joined by a single space. A kernel that is
  * called with a NULL argument ([[shingles]], [[positionedShingles]],
  * [[winnow]], [[lshBucket]]) states its own NULL law; every other
  * kernel only ever sees non-NULL inputs.
  */
object HashUtil {
  val Mod = 1000000007L

  /** polyhash: fold h = (31·h + codepoint) mod p over the string —
    * THE one copy of the hash law ([[polyHash(s:UTF8String)*]] and
    * [[shingleSimHash]] both call it; [[shingleMinHash]] alone keeps
    * an incremental inline fold because it never materializes the
    * shingle string it hashes). */
  def polyHash(str: String): Long = {
    var h = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      h = (h * 31 + cp) % Mod
      i += Character.charCount(cp)
    }
    h
  }

  def polyHash(s: UTF8String): Long = polyHash(s.toString)

  /** Unicode NFC normalization (java.text.Normalizer) — the
    * canonical-composition pass a corpus pipeline runs BEFORE exact
    * dedup and fingerprinting, so visually-identical texts whose
    * sources emitted different codepoint sequences (decomposed
    * e + COMBINING ACUTE vs precomposed é) hash identically. The
    * JDK's normalizer and DuckDB's utf8proc (`nfc_normalize`)
    * implement the same Unicode canonical composition, so the oracle
    * replays this byte for byte — pinned by q169 on a corpus with
    * derived decomposed text and by the dirty corpus's emoji class.
    * Fast path: Normalizer.isNormalized short-circuits the (common)
    * already-NFC case without allocating. */
  def nfc(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  /** Fused shingle → MinHash signature: for each word-n-gram shingle
    * (tokens joined by ' '; FEWER than n tokens means NO shingles and
    * a null signature — `GraftFunctions.shingles`' empty-array law),
    * compute its polyhash incrementally (no shingle string is
    * materialized) and fold it into the k affine minima. Duplicate
    * shingles don't affect minima, so the distinct step of the
    * declarative form is unnecessary. */
  def shingleMinHash(toks: ArrayData, n: Int, k: Int): ArrayData = {
    val size = toks.numElements()
    if (size < n) {
      // no shingles → no minima: null signature positions, exactly what
      // the SQL list_min over an empty list yields (GraftFunctions
      // .shingles' empty-array law)
      return new GenericArrayData(Array.fill[Any](k)(null))
    }
    val out = Array.fill(k)(Long.MaxValue)
    val last = size - n
    var i = 0
    while (i <= last) {
      var h = 0L
      var appended = false
      var j = i
      val end = i + n          // i <= size - n, so the window always fits
      while (j < end) {
        // null tokens skip inside their window (the concat_ws law) —
        // the hash must equal polyhash(shingles()) of the same window
        if (!toks.isNullAt(j)) {
          if (appended) h = (h * 31 + 32) % Mod        // ' ' separator
          val s = toks.getUTF8String(j).toString
          var ci = 0
          while (ci < s.length) {
            val cp = s.codePointAt(ci)
            h = (h * 31 + cp) % Mod
            ci += Character.charCount(cp)
          }
          appended = true
        }
        j += 1
      }
      var t = 0
      while (t < k) {
        val v = (h * (2L * t + 1) + 1000003L * (t + 1)) % Mod
        if (v < out(t)) out(t) = v
        t += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Fused shingle → SimHash signature: majority vote of each hash bit
    * across the DISTINCT shingles (distinct by STRING, exactly like the
    * declarative `shingles()` + transform form — dedup by hash would
    * shift votes on the rare collision). Returns null (boxed) for
    * shingle-less documents — the no-clique law. */
  def shingleSimHash(toks: ArrayData, n: Int, bits: Int): java.lang.Long = {
    val size = toks.numElements()
    if (size < n) return null
    val seen = new java.util.HashSet[String]()
    val counts = new Array[Int](bits)
    var total = 0
    val sb = new java.lang.StringBuilder()
    val last = size - n
    var i = 0
    while (i <= last) {
      sb.setLength(0)
      var appended = false
      var j = i
      val end = i + n
      while (j < end) {
        if (!toks.isNullAt(j)) {                       // concat_ws null-skip
          if (appended) sb.append(' ')
          sb.append(toks.getUTF8String(j).toString)
          appended = true
        }
        j += 1
      }
      val sstr = sb.toString
      if (seen.add(sstr)) {
        val h = polyHash(sstr)
        total += 1
        var b = 0
        while (b < bits) {
          if (((h >> b) & 1L) == 1L) counts(b) += 1
          b += 1
        }
      }
      i += 1
    }
    var sim = 0L
    var b = 0
    while (b < bits) {
      if (2 * counts(b) > total) sim |= (1L << b)
      b += 1
    }
    java.lang.Long.valueOf(sim)
  }

  /** Shared empty result for shingle-less / null-input documents —
    * one immutable instance, never a per-row allocation (consumers
    * copy; nothing mutates it). Element-type-agnostic: an empty array
    * holds no elements, so the string-shingle and struct producers
    * share it. */
  private val EmptyArray: ArrayData = new GenericArrayData(Array.empty[Any])

  /** Distinct word-n-gram shingles joined by a single space, in first-
    * occurrence order — EXACTLY the declarative `array_distinct` +
    * `transform`/`slice`/`concat_ws` form and the SQL oracles'
    * `list_distinct` comprehension: fewer than n tokens, or a NULL
    * array, → an EMPTY array (the short-document law; the declarative
    * `when(size(toks) >= n, …).otherwise(array())` falls through on a
    * NULL condition); null ELEMENTS are skipped inside their window
    * exactly like `concat_ws` skips nulls (the window still counts
    * toward position). */
  def shingles(toks: ArrayData, n: Int): ArrayData = {
    if (toks == null || toks.numElements() < n) return EmptyArray
    val size = toks.numElements()
    val seen = new java.util.LinkedHashSet[UTF8String]()
    val sb = new java.lang.StringBuilder()
    val last = size - n
    var i = 0
    while (i <= last) {
      sb.setLength(0)
      var appended = false
      var j = i
      val end = i + n
      while (j < end) {
        if (!toks.isNullAt(j)) {
          if (appended) sb.append(' ')
          sb.append(toks.getUTF8String(j).toString)
          appended = true
        }
        j += 1
      }
      seen.add(UTF8String.fromString(sb.toString))
      i += 1
    }
    new GenericArrayData(seen.toArray(new Array[AnyRef](seen.size)))
  }

  /** EVERY word-n-gram occurrence with its 0-based start position (the
    * positional, non-distinct twin of [[shingles]]): the posting
    * generator for occurrence-level scans. Same concat_ws law (null
    * tokens skip inside their window, single-space join); < n tokens
    * or a NULL array → empty array. */
  def positionedShingles(toks: ArrayData, n: Int): ArrayData = {
    if (toks == null || toks.numElements() < n) return EmptyArray
    val size = toks.numElements()
    val out = new Array[AnyRef](size - n + 1)
    val sb = new java.lang.StringBuilder()
    val last = size - n
    var i = 0
    while (i <= last) {
      sb.setLength(0)
      var appended = false
      var j = i
      val end = i + n
      while (j < end) {
        if (!toks.isNullAt(j)) {
          if (appended) sb.append(' ')
          sb.append(toks.getUTF8String(j).toString)
          appended = true
        }
        j += 1
      }
      out(i) = new GenericInternalRow(Array[Any](i, UTF8String.fromString(sb.toString)))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken
    * 2003, "robust winnowing" with the rightmost-minimum tie rule):
    * hash every word-`k`-gram (the family polyhash, identical to
    * [[shingles]]+[[polyHash]] of the same window including the
    * null-token concat_ws law), slide a window of `w` consecutive
    * gram hashes (documents with fewer than `w` grams form ONE
    * window), select each window's rightmost minimal hash, and emit
    * the selection when it differs from the previous window's — the
    * guarantee: any shared substring of at least w + k − 1 tokens
    * yields at least one shared fingerprint, at expected density
    * 2/(w+1). Selections are strictly increasing in position (a
    * window's rightmost min never moves left as the window slides),
    * so the output is position-sorted and duplicate-free by
    * construction. Returns array<struct<pos:int, fp:bigint>> with
    * 0-based gram positions; fewer than `k` tokens or a NULL array →
    * empty array. */
  def winnow(toks: ArrayData, k: Int, w: Int): ArrayData = {
    if (toks == null || toks.numElements() < k) return EmptyArray
    val size = toks.numElements()
    val m = size - k + 1
    val hs = new Array[Long](m)
    var i = 0
    while (i < m) {
      var h = 0L
      var appended = false
      var j = i
      val end = i + k
      while (j < end) {
        if (!toks.isNullAt(j)) {                     // concat_ws null-skip
          if (appended) h = (h * 31 + 32) % Mod      // ' ' separator
          val s = toks.getUTF8String(j).toString
          var ci = 0
          while (ci < s.length) {
            val cp = s.codePointAt(ci)
            h = (h * 31 + cp) % Mod
            ci += Character.charCount(cp)
          }
          appended = true
        }
        j += 1
      }
      hs(i) = h
      i += 1
    }
    val nw = math.max(1, m - w + 1)
    val buf = new scala.collection.mutable.ArrayBuffer[AnyRef]()
    var lastPos = -1
    var wi = 0
    while (wi < nw) {
      val end = math.min(wi + w, m)
      var best = wi
      var j = wi + 1
      while (j < end) {
        if (hs(j) <= hs(best)) best = j              // <= : rightmost min
        j += 1
      }
      if (best != lastPos) {
        buf += new GenericInternalRow(Array[Any](best, hs(best)))
        lastPos = best
      }
      wi += 1
    }
    new GenericArrayData(buf.toArray)
  }

  /** Normalized dyadic (α=½) weighted fold of a running-frame list:
    * `(Σ xs[i]·2^i) / (2^n − 1)` — index i=0 is the OLDEST frame row,
    * so the newest carries weight 2^(n−1). All-integer accumulation
    * (shifts are exact; the caller bounds n ≤ 62), then one
    * correctly-rounded IEEE division — bit-identical to the
    * declarative `aggregate(transform(...))` twin and the oracle's
    * rank-band self-join.
    * A NULL ELEMENT nulls the whole result (boxed return), exactly like
    * the declarative fold — `x * shiftleft` nulls the term and `a + x`
    * poisons the accumulator. Silently reading a null slot as 0 would
    * be a wrong answer on the public SQL surface. */
  def dyadicFold(xs: ArrayData): java.lang.Double = {
    val n = xs.numElements()
    // n ≤ 62 keeps both the 2^i term shifts and the (2^n − 1)
    // denominator inside a positive long; at 63 the denominator goes
    // negative and at 64 the shift wraps mod 64 — the SQL-registered
    // graft_dyadic_fold reaches here without the Scala-side frameRows
    // require, so the guard must live in the fold itself.
    if (n > 62) throw new IllegalArgumentException(
      s"graft_dyadic_fold: array has $n elements; the exact dyadic fold " +
        "supports at most 62 (2^n - 1 must fit a positive 64-bit long)")
    // empty array -> NULL, not 0/0 = NaN: an empty frame has no
    // observations (reachable — collect_list drops null values, so an
    // all-null window collects to []); the declarative twin guards the
    // same case the same way
    if (n == 0) return null
    var num = 0L
    var i = 0
    while (i < n) {
      if (xs.isNullAt(i)) return null
      // exact arithmetic, loud on overflow: a large element silently
      // wrapping the accumulator would be a sign-flipped wrong answer
      // on the public SQL surface (the ANSI declarative twin throws
      // ARITHMETIC_OVERFLOW on the same input — the forms must agree)
      try num = Math.addExact(num, Math.multiplyExact(xs.getLong(i), 1L << i))
      catch { case _: ArithmeticException =>
        throw new IllegalArgumentException(
          s"graft_dyadic_fold: element ${xs.getLong(i)} at position $i " +
            "overflows the exact 2^i weighting — the fold is defined for " +
            "small (typically 0/1 indicator) values")
      }
      i += 1
    }
    num.toDouble / ((1L << n) - 1L)
  }

  /** One greedy left-to-right, non-overlapping BPE merge pass: every
    * adjacent (`w1`, `w2`) occurrence collapses to `merged`, and the
    * freshly merged symbol is what the NEXT comparison sees (so
    * "a a a" under (a,a) gives ["a a", "a"], never a double merge).
    * Bit-identical to the declarative `aggregate` fold, including null
    * handling: null elements never match and pass
    * through. Element strings are cloned out of the (possibly reused)
    * scan buffers before being stored. */
  def bpeMergeFold(toks: ArrayData, w1: UTF8String, w2: UTF8String,
                   merged: UTF8String): ArrayData = {
    val n = toks.numElements()
    val out = new java.util.ArrayList[AnyRef](n)
    var i = 0
    while (i < n) {
      val t = if (toks.isNullAt(i)) null else toks.getUTF8String(i)
      val last = out.size() - 1
      if (last >= 0 && t != null && out.get(last) != null &&
          out.get(last).equals(w1) && t.equals(w2)) {
        out.set(last, merged)
      } else {
        out.add(if (t == null) null else t.clone())
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Random-hyperplane LSH bucket id: bit p = [vec · plane_p > 0] over
    * `planes` deterministic pseudo-random hyperplanes whose component d
    * is ((p·37 + d·101 + 17) mod 1000)/500 − 1 ∈ [−1, 1). EXACTLY the
    * declarative nested-`aggregate` spec and the DuckDB `list_reduce`
    * oracle: per plane, a sequential
    * left-fold from 0.0 of double(vec[d])·component(p,d) for d = 1..dim
    * — same IEEE ops in the same order, so bucket ids are bit-identical
    * across all three forms. A NULL vector, or one with a NULL
    * element, yields bucket 0 (never NULL), matching the declarative
    * form's null-propagated projections (every plane's `when` falls
    * through to `otherwise(0L)`) — so null-vector rows bucket (and
    * join) the same way through both forms. A vector
    * SHORTER than `dim` also yields bucket 0 — that matches the
    * declarative twin only pre-ANSI (under ANSI, the default here,
    * its `element_at` throws on the out-of-bounds index); the
    * fixed-dim corpus contract makes ragged vectors a caller bug, and
    * callers that admit them should length-filter up front
    * (DedupSimilaritySpec pins the bucket-0 law). */
  def lshBucket(vec: ArrayData, isFloat: Boolean, planes: Int, dim: Int): Long = {
    if (vec == null || vec.numElements() < dim) return 0L
    var d0 = 0
    while (d0 < dim) {                   // null element → all planes null
      if (vec.isNullAt(d0)) return 0L
      d0 += 1
    }
    var bucket = 0L
    var p = 0
    while (p < planes) {
      var proj = 0.0
      var d = 1
      while (d <= dim) {
        val x = if (isFloat) vec.getFloat(d - 1).toDouble else vec.getDouble(d - 1)
        val m = (p.toLong * 37L + d.toLong * 101L + 17L) % 1000L
        proj += x * (m.toDouble / 500.0 - 1.0)
        d += 1
      }
      if (proj > 0.0) bucket |= (1L << p)
      p += 1
    }
    bucket
  }

  /** Per-band 31-polynomial hashes of a MinHash signature: band b's
    * hash folds positions [b·rows, (b+1)·rows) as (h·31 + v) mod p —
    * exactly the declarative `aggregate(slice(minhash, …))` fold and
    * the SQL oracle's `list_reduce`. A null signature position (
    * shingle-less document) nulls that band's hash, exactly like the
    * null-propagating declarative fold. */
  def bandHashes(mh: ArrayData, bands: Int): ArrayData = {
    val n = mh.numElements()
    if (n % bands != 0)
      throw new IllegalArgumentException(
        s"graft_band_hashes: signature length $n is not divisible by " +
          s"bands=$bands — trailing positions would be silently excluded")
    val rows = n / bands
    val out = new Array[Any](bands)
    var b = 0
    while (b < bands) {
      var h = 0L
      var nul = false
      var j = b * rows
      val end = j + rows
      while (j < end && !nul) {
        // n % bands == 0 (checked above) ⇒ every band index < n
        if (mh.isNullAt(j)) nul = true
        else h = (h * 31 + mh.getLong(j)) % Mod
        j += 1
      }
      out(b) = if (nul) null else java.lang.Long.valueOf(h)
      b += 1
    }
    new GenericArrayData(out)
  }

  /** Count of positions where both arrays are non-null and equal,
    * over the shorter length — the semantics of the declarative
    * `size(filter(zip_with(a, b, (x,y) => when(x === y, 1)),
    * _.isNotNull))` (padded and null positions compare null → never
    * count). */
  def arrayEqCount(a: ArrayData, b: ArrayData): Int = {
    val n = math.min(a.numElements(), b.numElements())
    var c = 0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i) && a.getLong(i) == b.getLong(i)) c += 1
      i += 1
    }
    c
  }

  /** Sequential left-fold dot product; element type per side is float
    * (true) or double (false). Matches the declarative fold exactly:
    * double(x)·double(y) added left to right. */
  def dot(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      acc += x * y
      i += 1
    }
    acc
  }
}

/** A graft SQL function: a `RuntimeReplaceable` whose replacement is a
  * `StaticInvoke` of one [[HashUtil]] kernel, called with the
  * function's children followed by its literal parameters. Spark runs
  * that one call compiled inside whole-stage codegen and by reflection
  * when a plan runs interpreted, so the function has exactly one
  * implementation. The expression itself stays in the analyzed plan
  * (SQL name, input-type refusal at analysis via `ExpectsInputTypes`);
  * the optimizer swaps in the call, so executed plans show
  * `static_invoke(graft.functions.HashUtil.<kernel>(…))`.
  * Nullability follows from the two flags: a NULL input yields NULL
  * unless [[nullInput]] hands it to the kernel, and the result is
  * NULL-free unless [[nullResult]] says the kernel may return a boxed
  * NULL. */
sealed abstract class HashKernelCall extends RuntimeReplaceable with ExpectsInputTypes {
  protected def kernel: String
  protected def params: Seq[Any] = Nil
  /** true: the kernel receives NULL inputs and defines their result. */
  protected def nullInput: Boolean = false
  /** true: the kernel may return a boxed NULL for non-NULL inputs. */
  protected def nullResult: Boolean = false

  /** Element type of a type-checked float/double array argument. */
  protected def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override lazy val replacement: Expression =
    StaticInvoke(HashUtil.getClass, dataType, kernel, children ++ params.map(Literal(_)),
      propagateNull = !nullInput, returnNullable = nullResult)
}

/** `graft_polyhash(string) -> long` — see [[HashUtil.polyHash]]. */
case class PolyHash(child: Expression) extends HashKernelCall with UnaryLike[Expression] {
  override def prettyName: String = "graft_polyhash"
  override def dataType: DataType = LongType
  override def inputTypes = Seq(StringType)
  protected def kernel = "polyHash"
  override protected def withNewChildInternal(c: Expression): PolyHash = copy(child = c)
}

/** `graft_nfc(str) -> str` — Unicode NFC canonical composition, see
  * [[HashUtil.nfc]]. NULL in, NULL out. */
case class NfcNormalize(child: Expression) extends HashKernelCall with UnaryLike[Expression] {
  override def prettyName: String = "graft_nfc"
  override def dataType: DataType = StringType
  override def inputTypes = Seq(StringType)
  protected def kernel = "nfc"
  override protected def withNewChildInternal(c: Expression): NfcNormalize = copy(child = c)
}

/** `graft_shingle_minhash(array<string>, n, k) -> array<long>` — see
  * [[HashUtil.shingleMinHash]]. */
case class ShingleMinHash(child: Expression, n: Int, k: Int)
    extends HashKernelCall with UnaryLike[Expression] {
  // count params guard HERE, not only in the SQL registry's intLit:
  // the Scala engine path constructs these directly, and n=0 would
  // silently emit size+1 empty-string shingles (nonsense signatures)
  require(n >= 1, s"graft_shingle_minhash: n must be >= 1, got $n")
  require(k >= 1, s"graft_shingle_minhash: k must be >= 1, got $k")
  override def prettyName: String = "graft_shingle_minhash"
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def inputTypes = Seq(ArrayType(StringType))
  protected def kernel = "shingleMinHash"
  override protected def params = Seq(n, k)
  override protected def withNewChildInternal(c: Expression): ShingleMinHash = copy(child = c)
}

/** `graft_shingle_simhash(array<string>, n, bits) -> long` (NULL for
  * shingle-less docs) — see [[HashUtil.shingleSimHash]]. */
case class ShingleSimHash(child: Expression, n: Int, bits: Int)
    extends HashKernelCall with UnaryLike[Expression] {
  require(n >= 1, s"graft_shingle_simhash: n must be >= 1, got $n")
  require(bits >= 1 && bits <= 64,
    s"graft_shingle_simhash: bits must be in [1, 64], got $bits")
  override def prettyName: String = "graft_shingle_simhash"
  override def dataType: DataType = LongType
  override def inputTypes = Seq(ArrayType(StringType))
  protected def kernel = "shingleSimHash"
  override protected def params = Seq(n, bits)
  override protected def nullResult = true
  override protected def withNewChildInternal(c: Expression): ShingleSimHash = copy(child = c)
}

/** `graft_shingles(array<string>, n) -> array<string>` — see
  * [[HashUtil.shingles]]. One tight loop per document instead of an
  * interpreted `transform`/`slice`/`concat_ws`/`array_distinct` chain
  * (measured ~6 s for 260k shingles at sf0.1 — the decontamination and
  * exact-verify hot path). A NULL input array yields an EMPTY array,
  * never NULL. */
case class Shingles(child: Expression, n: Int) extends HashKernelCall with UnaryLike[Expression] {
  require(n >= 1, s"graft_shingles: n must be >= 1, got $n")
  override def prettyName: String = "graft_shingles"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def inputTypes = Seq(ArrayType(StringType))
  protected def kernel = "shingles"
  override protected def params = Seq(n)
  override protected def nullInput = true
  override protected def withNewChildInternal(c: Expression): Shingles = copy(child = c)
}

/** `graft_pos_shingles(array<string>, n) -> array<struct<pos:int,ng:string>>`
  * — every word-n-gram occurrence with its 0-based start position: the
  * positional, NON-distinct twin of [[Shingles]], generating the
  * posting rows occurrence-level scans explode (frequent-n-gram
  * pruning). Same null-token concat_ws law; < n tokens or a NULL array
  * → empty array. See [[HashUtil.positionedShingles]]. */
case class PositionedShingles(child: Expression, n: Int)
    extends HashKernelCall with UnaryLike[Expression] {
  require(n >= 1, s"graft_pos_shingles: n must be >= 1, got $n")
  override def prettyName: String = "graft_pos_shingles"
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("pos", IntegerType, nullable = false),
      StructField("ng", StringType, nullable = false))),
    containsNull = false)
  override def inputTypes = Seq(ArrayType(StringType))
  protected def kernel = "positionedShingles"
  override protected def params = Seq(n)
  override protected def nullInput = true
  override protected def withNewChildInternal(c: Expression): PositionedShingles =
    copy(child = c)
}

/** `graft_winnow(array<string>, k, w) -> array<struct<pos:int,fp:bigint>>`
  * — see [[HashUtil.winnow]]. One tight loop per document (gram
  * hashing fused with window minima) instead of an interpreted
  * transform/slice/array_min/filter stack; a NULL input array yields
  * an EMPTY array, the [[Shingles]] law. */
case class WinnowFingerprints(child: Expression, k: Int, w: Int)
    extends HashKernelCall with UnaryLike[Expression] {
  require(k >= 1, s"graft_winnow: k must be >= 1, got $k")
  require(w >= 1, s"graft_winnow: w must be >= 1, got $w")
  override def prettyName: String = "graft_winnow"
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("pos", IntegerType, nullable = false),
      StructField("fp", LongType, nullable = false))),
    containsNull = false)
  override def inputTypes = Seq(ArrayType(StringType))
  protected def kernel = "winnow"
  override protected def params = Seq(k, w)
  override protected def nullInput = true
  override protected def withNewChildInternal(c: Expression): WinnowFingerprints =
    copy(child = c)
}

/** `graft_bpe_merge(array<string>, 'w1', 'w2') -> array<string>` — one
  * greedy left-to-right, non-overlapping BPE merge pass (the rewrite
  * step of `TextAnalysis.learnBpeMerges`, run 2× per learned merge
  * over the whole corpus — the trainer's hot loop), identical to the
  * declarative `aggregate` fold but a single pass instead of an
  * interpreted per-token lambda allocating an array per step. Null
  * input → null (the aggregate-fold contract); null elements pass
  * through unmerged. See [[HashUtil.bpeMergeFold]]. */
case class BpeMergeFold(child: Expression, w1: String, w2: String)
    extends HashKernelCall with UnaryLike[Expression] {
  override def prettyName: String = "graft_bpe_merge"
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def inputTypes = Seq(ArrayType(StringType))
  protected def kernel = "bpeMergeFold"
  override protected def params = Seq(w1, w2, w1 + " " + w2)
  override protected def withNewChildInternal(c: Expression): BpeMergeFold = copy(child = c)
}

/** `graft_dyadic_fold(array<bigint>) -> double` — see
  * [[HashUtil.dyadicFold]]. Replaces the interpreted
  * `aggregate(transform(xs, (x,i) -> x·shiftleft(1,i)), 0, +)` HOF
  * chain on the EWMA query path (the engine bans interpreted folds on
  * query paths) with one loop. NULL list, empty list or a NULL element
  * → NULL; the caller bounds the frame at ≤ 62 elements. */
case class DyadicFold(child: Expression) extends HashKernelCall with UnaryLike[Expression] {
  override def prettyName: String = "graft_dyadic_fold"
  override def dataType: DataType = DoubleType
  override def inputTypes = Seq(ArrayType(LongType))
  protected def kernel = "dyadicFold"
  override protected def nullResult = true
  override protected def withNewChildInternal(c: Expression): DyadicFold = copy(child = c)
}

/** `graft_dot(array<float|double>, array<float|double>) -> double` —
  * sequential left-fold dot product, bit-identical to the declarative
  * `aggregate(zip_with(a,b,(x,y)=>x*y), 0d, _+_)` form and the DuckDB
  * `list_reduce` oracle: each element cast to double, products
  * accumulated in order. Pairs beyond the shorter length are ignored
  * (zip semantics). Only float/double element types are accepted —
  * enforced at analysis (reading other widths as doubles would
  * silently reinterpret bits). Null ELEMENTS read as 0.0 (the
  * declarative form would instead null the whole result). See
  * [[HashUtil.dot]]. */
case class DotProduct(left: Expression, right: Expression)
    extends HashKernelCall with BinaryLike[Expression] {
  override def prettyName: String = "graft_dot"
  override def dataType: DataType = DoubleType
  override def inputTypes = Seq(FloatOrDoubleArray, FloatOrDoubleArray)
  protected def kernel = "dot"
  override protected def params = Seq(isFloat(left), isFloat(right))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(left = l, right = r)
}

/** `graft_lsh_bucket(array<float|double>, planes, dim) -> long` — see
  * [[HashUtil.lshBucket]]. Replaces the interpreted nested `aggregate`
  * fold (8 planes × 64 dims of lambda dispatch per row) with one loop
  * — the corpus-side bucket computation is the ANN hot path at scale.
  * A NULL input vector yields bucket 0, never NULL. */
case class LshBucket(child: Expression, planes: Int, dim: Int)
    extends HashKernelCall with UnaryLike[Expression] {
  // planes caps at 62: `1L << p` wraps mod 64 at p = 64 (plane 64's
  // vote would OR into bit 0 under a DIFFERENT hyperplane — silent
  // bucket corruption), and the declarative twin's pow(2, p) cast
  // already overflows under ANSI at p = 63
  require(planes >= 1 && planes <= 62,
    s"graft_lsh_bucket: planes must be in [1, 62], got $planes")
  require(dim >= 1, s"graft_lsh_bucket: dim must be >= 1, got $dim")
  override def prettyName: String = "graft_lsh_bucket"
  override def dataType: DataType = LongType
  override def inputTypes = Seq(FloatOrDoubleArray)
  protected def kernel = "lshBucket"
  override protected def params = Seq(isFloat(child), planes, dim)
  override protected def nullInput = true
  override protected def withNewChildInternal(c: Expression): LshBucket = copy(child = c)
}

/** `graft_band_hashes(array<long>, bands) -> array<long>` — see
  * [[HashUtil.bandHashes]]. One loop per signature instead of an
  * interpreted fold per exploded band row. */
case class BandHashes(child: Expression, bands: Int)
    extends HashKernelCall with UnaryLike[Expression] {
  require(bands >= 1, s"graft_band_hashes: bands must be >= 1, got $bands")
  override def prettyName: String = "graft_band_hashes"
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def inputTypes = Seq(ArrayType(LongType))
  protected def kernel = "bandHashes"
  override protected def params = Seq(bands)
  override protected def withNewChildInternal(c: Expression): BandHashes = copy(child = c)
}

/** `graft_array_eq_count(array<long>, array<long>) -> int` — see
  * [[HashUtil.arrayEqCount]]. The signature-agreement kernel of LSH
  * candidate scoring. */
case class ArrayEqCount(left: Expression, right: Expression)
    extends HashKernelCall with BinaryLike[Expression] {
  override def prettyName: String = "graft_array_eq_count"
  override def dataType: DataType = IntegerType
  override def inputTypes = Seq(ArrayType(LongType), ArrayType(LongType))
  protected def kernel = "arrayEqCount"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): ArrayEqCount =
    copy(left = l, right = r)
}
