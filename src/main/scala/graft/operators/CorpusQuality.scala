package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._

/** Web-corpus quality heuristics (`SURVEY.md` §2 H4): the
  * Gopher/MassiveText repetition + well-formedness rules (Rae et al.
  * 2021, appendix A2.1) and the C4 line-level cleaning pass (Raffel
  * et al. 2020 §2.2) — the standard first-stage filters every
  * large-scale training-data pipeline runs BEFORE the expensive
  * dedup/LM stages, plus a token-distribution drift score (Jensen–
  * Shannon divergence between per-source unigram distributions, the
  * corpus-level twin of [[EventAnalytics.psiDrift]]).
  *
  * Shape discipline:
  *  - [[withGopherStats]], [[withLineStats]], [[c4CleanLines]] are
  *    pure per-row column maps — zero shuffles, whole-stage codegen,
  *    they pipeline behind the scan at any corpus size;
  *  - [[topNgramCharFrac]] / [[dupNgramCharFrac]] need per-document
  *    n-gram COUNTS (not just the distinct set [[TextAnalysis
  *    .withRepetition]] uses), so they explode occurrences and
  *    aggregate on (doc, gram) — one map-side-combinable shuffle
  *    whose key space is the corpus posting stream, the same shape as
  *    [[TextAnalysis.pruneFrequentNgrams]]. A per-row O(tokens²)
  *    array-lambda count was rejected: real web documents reach 10⁵
  *    tokens and the quadratic per-row loop stalls a whole task where
  *    the shuffle shape scales linearly;
  *  - [[jsDivergence]] aggregates to a vocab-sized distribution table
  *    and a source-pair-bounded output — the corpus is read once.
  *
  * NULL law (the q40 family contract): NULL text yields NULL stats —
  * never a mid-range score that sails through a gate. All flags are
  * three-valued accordingly.
  */
object CorpusQuality {

  private def sz(text: Column, c: Column): Column =
    when(text.isNull, lit(null)).otherwise(size(c))

  // ---------------------------------------------------------------- //
  // Gopher well-formedness stats (per-row)                            //
  // ---------------------------------------------------------------- //

  /** Gopher word-shape statistics: word count, mean word length,
    * fraction of words containing an alphabetic character, and the
    * symbol-to-word ratio (`#` plus `...` occurrences per word) —
    * the four per-row signals of Rae et al. 2021 A2.1 that need no
    * line structure. Adds `n_words`, `mean_word_len`,
    * `alpha_word_frac`, `symbol_word_ratio`; keeps input columns.
    * Raw doubles — callers quantize at the output edge. */
  def withGopherStats(df: DataFrame, text: Column): DataFrame = {
    val toks = tokens(text)
    df.withColumn("n_words", sz(text, toks).cast("long"))
      .withColumn("mean_word_len",
        aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double")
          / col("n_words"))
      .withColumn("alpha_word_frac",
        sz(text, filter(toks, t => t.rlike("[A-Za-z]"))).cast("double")
          / col("n_words"))
      .withColumn("symbol_word_ratio",
        sz(text, regexp_extract_all(text, lit("#|\\.\\.\\."), lit(0)))
          .cast("double") / col("n_words"))
  }

  /** The Gopher keep decision over [[withGopherStats]] columns, with
    * the paper's default thresholds scaled-down for short test docs
    * via `minWords`. Three-valued: NULL stats (null text) give a NULL
    * flag, which any downstream `filter(col("gopher_keep"))` treats
    * as drop — a null document never passes a quality gate. */
  def gopherKeep(minWords: Long = 50L, maxWords: Long = 100000L,
                 minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
                 minAlphaFrac: Double = 0.8,
                 maxSymbolRatio: Double = 0.1): Column =
    col("n_words") >= minWords && col("n_words") <= maxWords &&
      col("mean_word_len") >= minMeanLen &&
      col("mean_word_len") <= maxMeanLen &&
      col("alpha_word_frac") >= minAlphaFrac &&
      col("symbol_word_ratio") <= maxSymbolRatio

  // ---------------------------------------------------------------- //
  // Gopher repetition signals (per-doc n-gram counts)                 //
  // ---------------------------------------------------------------- //

  /** Per-document (gram, count) posting table plus the doc char
    * length, shared by the two repetition fractions. Occurrences, not
    * distinct shingles — [[GraftFunctions.positionedShingles]].
    * `explode_outer`, NOT `explode`: a doc with no n-gram (short,
    * empty, or NULL text) keeps ONE null-gram row with `_cnt` 0, so
    * the callers cover every input id from this single corpus scan —
    * the plain-explode alternative drops those docs and needs a
    * second (id, text) scan joined back just to restate the NULL/0.0
    * law, a 2× read amplification at 100 TB. */
  private def gramCounts(df: DataFrame, id: Column, text: Column,
                         n: Int): DataFrame =
    df.select(id.as("_id"), length(text).as("_nc"),
        explode_outer(positionedShingles(tokens(text), n)).as("_g"))
      .groupBy(col("_id"), col("_nc"), col("_g.ng").as("_gram"))
      .agg(count(col("_g")).as("_cnt"))

  /** Gopher "top n-gram character fraction": per document, the
    * fraction of characters covered by the MOST FREQUENT word
    * `n`-gram — occurrences × the space-joined gram's length over the
    * document's length, clamped to 1.0 (occurrences of overlapping
    * grams can cover the same character twice; the published rule
    * thresholds at ≤ 0.2 so the clamp never binds in practice). Ties
    * on count break by the portable gram hash then the gram string —
    * the hash first because engines disagree on string ordering for
    * supplementary-plane text (UTF-16 code-unit vs codepoint order).
    *
    * Returns every input id with (`top_gram`, `top_gram_frac`):
    * documents with no `n`-gram (fewer than `n` tokens) score 0.0
    * with a NULL gram; NULL text gives NULL/NULL (the family law). */
  def topNgramCharFrac(df: DataFrame, id: Column, text: Column,
                       n: Int = 2): DataFrame = {
    // a gramless doc's single null-gram row (cnt 0) loses every
    // count tie to a real gram by the nulls-last hash order, so rn=1
    // is always the real top gram when one exists
    val w = Window.partitionBy(col("_id"))
      .orderBy(col("_cnt").desc, polyHash(col("_gram")).asc_nulls_last,
        col("_gram"))
    gramCounts(df, id, text, n)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select(col("_id").as("id"),
        col("_gram").as("top_gram"),
        // explicit zero-char guard, NOT least(1.0, x / nullif(nc, 0)):
        // least IGNORES nulls in both engines, so the nullif form
        // scores a zero-char doc 1.0 instead of 0.0 (caught by the
        // brute-force property at n = 1)
        when(col("_nc").isNull, lit(null).cast("double"))  // NULL text
          .when(col("_gram").isNull || col("_nc") === 0, lit(0.0))
          .otherwise(least(lit(1.0),
            col("_cnt") * length(col("_gram")).cast("double")
              / col("_nc").cast("double")))
          .as("top_gram_frac"))
  }

  /** Gopher "duplicate n-gram character fraction": per document, the
    * fraction of characters covered by word `n`-grams occurring MORE
    * THAN ONCE — Σ over duplicated grams of occurrences × gram length,
    * over the document length, clamped to 1.0. Like the published
    * reproductions (occurrence-sum, not span-union: the union of
    * overlapping spans needs interval merging per document for a
    * signal the rule only thresholds). Same return/NULL law as
    * [[topNgramCharFrac]]. */
  def dupNgramCharFrac(df: DataFrame, id: Column, text: Column,
                       n: Int = 3): DataFrame =
    gramCounts(df, id, text, n)
      .groupBy(col("_id"), col("_nc"))
      .agg(sum(when(col("_cnt") >= 2,
        col("_cnt") * length(col("_gram")).cast("long"))
        .otherwise(0L)).as("_dup_chars"))
      .select(col("_id").as("id"),
        // same zero-char guard as topNgramCharFrac (least ignores
        // nulls); gramless docs carry _dup_chars 0 from their single
        // null-gram row, NULL text carries _nc NULL
        when(col("_nc").isNull, lit(null).cast("double"))
          .when(col("_nc") === 0, lit(0.0))
          .otherwise(least(lit(1.0), col("_dup_chars").cast("double")
            / col("_nc").cast("double"))).as("dup_ngram_frac"))

  // ---------------------------------------------------------------- //
  // Line-structure signals (per-row)                                  //
  // ---------------------------------------------------------------- //

  /** Gopher duplicate-line signals, computed entirely inside the row
    * (split + array_distinct + two length folds — zero shuffles):
    * `n_lines`, `n_distinct_lines`, `dup_line_frac` (1 − distinct /
    * total lines) and `dup_line_char_frac` (1 − chars in first
    * occurrences / chars in all lines — separator chars excluded from
    * both sides). `sep` is a regex for the split; NULL text gives
    * NULL columns, a doc whose lines carry zero characters (e.g. ""
    * or "\n\n") scores 0.0 on the char fraction — nothing repeats. */
  def withLineStats(df: DataFrame, text: Column,
                    sep: String = "\n"): DataFrame = {
    val lines = split(text, sep)
    val totChars = aggregate(lines, lit(0L), (a, l) => a + length(l))
    val distChars =
      aggregate(array_distinct(lines), lit(0L), (a, l) => a + length(l))
    df.withColumn("n_lines", sz(text, lines).cast("long"))
      .withColumn("n_distinct_lines",
        sz(text, array_distinct(lines)).cast("long"))
      .withColumn("dup_line_frac",
        lit(1.0) - col("n_distinct_lines").cast("double") / col("n_lines"))
      .withColumn("dup_line_char_frac",
        when(text.isNull, lit(null).cast("double"))
          .when(totChars === 0L, lit(0.0))
          .otherwise(lit(1.0) - distChars.cast("double")
            / totChars.cast("double")))
  }

  /** C4-style line-level cleaning (Raffel et al. 2020 §2.2): keep
    * only lines with at least `minWords` whitespace words and — when
    * `requireTerminalPunct` — a terminal punctuation character, then
    * reassemble the document from the kept lines. Pure per-row
    * (filter + array_join): the 100 TB pass is a map behind the scan.
    * `sep` splits (regex), `joinSep` reassembles (literal — pass the
    * same character for round-trip splits). Adds `n_lines`,
    * `n_lines_kept`, `clean_text`; NULL text stays NULL. */
  def c4CleanLines(df: DataFrame, text: Column, sep: String = "\n",
                   joinSep: String = "\n", minWords: Int = 3,
                   requireTerminalPunct: Boolean = false): DataFrame = {
    val lines = split(text, sep)
    val kept = filter(lines, l => {
      val enough = size(split(l, " ")) >= minWords
      if (requireTerminalPunct) enough && l.rlike("[.!?\"]$") else enough
    })
    df.withColumn("n_lines", sz(text, lines).cast("long"))
      .withColumn("n_lines_kept", sz(text, kept).cast("long"))
      .withColumn("clean_text",
        when(text.isNull, lit(null).cast("string"))
          .otherwise(array_join(kept, joinSep)))
  }

  // ---------------------------------------------------------------- //
  // Source-distribution drift (corpus-level)                          //
  // ---------------------------------------------------------------- //

  /** Jensen–Shannon divergence between the unigram token
    * distributions of every group pair (grp_a < grp_b) — the corpus
    * drift matrix ("did the web shard's vocabulary move away from the
    * wiki shard's?"), the token-level twin of the event family's PSI
    * ([[EventAnalytics.psiDrift]]) but over the OPEN vocabulary:
    * tokens present in one source and absent in the other contribute
    * their full p·ln2 mass instead of being clamped into bins.
    * JS = ½·Σ p·ln(2p/(p+q)) + ½·Σ q·ln(2q/(p+q)), zero-mass terms
    * dropped (lim x→0 of x·ln x); symmetric, bounded in [0, ln 2].
    *
    * Shape at 100 TB: one explode → (group, token) count with
    * map-side combine (THE corpus-sized shuffle, same key space as
    * every unigram model here), totals broadcast back, the
    * |groups|²/2 pair table broadcast onto the vocab-sized
    * distribution table, and a pair-keyed sum — output is
    * pair-bounded. NULL groups and NULL texts are excluded up front
    * (a null source is not a corpus). Returns (src_a, src_b, js). */
  def jsDivergence(df: DataFrame, group: Column, text: Column): DataFrame = {
    // the count table feeds totals + both pair-expansion sides —
    // barrier it, or Catalyst replans the corpus-sized explode+agg
    // once per consumer (the round-8 multi-consumer audit class);
    // everything downstream is vocab-sized
    val counts = OpUtils.barrier(
      df.filter(group.isNotNull && text.isNotNull)
        .select(group.as("src"), explode(tokens(text)).as("tok"))
        .groupBy(col("src"), col("tok")).agg(count(lit(1)).as("c")))
    val totals = counts.groupBy(col("src")).agg(sum(col("c")).as("t"))
    val probs = OpUtils.barrier(
      counts.join(totals, "src")
        .select(col("src"), col("tok"), (col("c") / col("t")).as("p")))
    val srcs = probs.select(col("src")).distinct()
    val pairs = broadcast(
      srcs.select(col("src").as("src_a"))
        .join(srcs.select(col("src").as("src_b")), col("src_a") < col("src_b")))
    val aSide = probs.join(pairs, col("src") === col("src_a"))
      .select(col("src_a"), col("src_b"), col("tok"),
        col("p").as("pa"), lit(null).cast("double").as("pb"))
    val bSide = probs.join(pairs, col("src") === col("src_b"))
      .select(col("src_a"), col("src_b"), col("tok"),
        lit(null).cast("double").as("pa"), col("p").as("pb"))
    aSide.unionByName(bSide)
      .groupBy(col("src_a"), col("src_b"), col("tok"))
      .agg(coalesce(max(col("pa")), lit(0.0)).as("pa"),
        coalesce(max(col("pb")), lit(0.0)).as("pb"))
      .withColumn("_t", lit(0.5) * (
        when(col("pa") > 0.0,
          col("pa") * log(lit(2.0) * col("pa") / (col("pa") + col("pb"))))
          .otherwise(0.0)
          + when(col("pb") > 0.0,
            col("pb") * log(lit(2.0) * col("pb") / (col("pa") + col("pb"))))
            .otherwise(0.0)))
      .groupBy(col("src_a"), col("src_b"))
      .agg(sum(col("_t")).as("js"))
  }

  /** Zipf-law fit of each group's token frequency distribution — the
    * corpus-health scalar drift watchers track per source: natural
    * text follows `freq ∝ rank^s` with `s ≈ −1` (Zipf 1949); a slope
    * far from −1 flags boilerplate (flat head, s → 0) or degenerate
    * repetition (cliff, s ≪ −1). Per group, the top `topN` tokens by
    * (count desc, token asc — a total order, so the cut is
    * engine-stable) give points (x, y) = (ln rank, ln count), and the
    * closed-form OLS line
    * `slope = (n·Σxy − Σx·Σy)/(n·Σx² − (Σx)²)`,
    * `intercept = (Σy − slope·Σx)/n` is computed in ONE aggregation —
    * never the engines' native `regr_slope` (their internal
    * accumulation orders differ; this spells the op sequence out, the
    * portable-variance move).
    *
    * Shape at 100 TB: one explode → (group, token) count with
    * map-side combine (the same corpus-sized shuffle as every unigram
    * model here), then the per-group top-N cut — a `row_number ≤ k`
    * filter that plans as a Partial `WindowGroupLimit` below the
    * exchange, so only each map partition's top N per group
    * shuffles — and a group-bounded
    * 5-sum aggregation. Output is |groups| rows. NULL groups/texts
    * are excluded (not a corpus); a group with fewer than 2 ranked
    * terms drops (a 1-point line is undefined; ranks are distinct so
    * n ≥ 2 ⇒ the OLS denominator is nonzero). The ln sums are the
    * one float-order exposure (≤ topN terms, magnitudes ≤ ln-scale),
    * masked by the oracle's r(·) rounding like every ln-based metric.
    *
    * Returns (src, n_terms, slope, intercept). */
  /** Pairwise two-sample Kolmogorov–Smirnov matrix between groups —
    * the CDF-shape companion to [[jsDivergence]]'s token-mix matrix
    * (JS sees WHAT the sources say, KS over a numeric column sees how
    * its DISTRIBUTION shifted — length drift, score drift). Same
    * exactness discipline as
    * [[graft.operators.EventAnalytics.twoSampleKs]]: values quantize
    * to an integer grid, each group's CDF cumulates as integers over
    * the GLOBAL tick grid (a pair's max over the superset grid equals
    * its max over the union of own ticks — CDF differences are
    * constant between change points), and every pair's max/argmax
    * selects on the integer numerator |c_a·n_b − c_b·n_a| (ties →
    * smallest tick).
    *
    * Scale shape: the corpus collapses map-side to (group, tick)
    * cells; the dense grid (groups × distinct ticks), the per-group
    * cumulative windows, the pair join, and the per-pair argmax all
    * run over that BOUNDED table. The cell table is barriered (grid,
    * totals, and the dense join all read it). NULL groups and values
    * drop.
    *
    * Returns one row per unordered pair (g_a < g_b): (g_a, g_b, n_a,
    * n_b, d_num, at_tick, ks) — ks r(6), NULL when a side is empty
    * (it cannot be: groups come from observed rows). */
  def ksMatrix(df: DataFrame, group: Column, value: Column,
               scale: Long = 1L): DataFrame = {
    require(scale > 0, s"scale must be positive: $scale")
    val cells = graft.operators.OpUtils.barrier(
      df.filter(group.isNotNull && value.isNotNull)
        .select(group.as("_g"),
          floor(value * scale + lit(0.5)).cast("long").as("_x"))
        .groupBy(col("_g"), col("_x")).agg(count(lit(1)).as("_c")))
    val grid = cells.select(col("_x")).distinct()
    val tots = cells.groupBy(col("_g")).agg(sum(col("_c")).as("_n"))
    // dense per-group CDF over the global grid: groups × ticks rows,
    // all bounded — the corpus never reappears past the cells agg
    // barriered: BOTH sides of the pair self-join read it
    val dense = graft.operators.OpUtils.barrier(
      grid.crossJoin(tots.select(col("_g")))
        .join(cells, Seq("_g", "_x"), "left")
        .withColumn("_cum", sum(coalesce(col("_c"), lit(0L)))
          .over(Window.partitionBy(col("_g")).orderBy(col("_x"))
            .rowsBetween(Window.unboundedPreceding, 0)))
        .join(tots, "_g"))
    val dec = "decimal(19,0)"
    dense.as("a")
      .join(dense.as("b"),
        col("a._x") === col("b._x") && col("a._g") < col("b._g"))
      .select(col("a._g").as("g_a"), col("b._g").as("g_b"),
        col("a._n").as("n_a"), col("b._n").as("n_b"),
        abs(col("a._cum").cast(dec) * col("b._n").cast(dec)
          - col("b._cum").cast(dec) * col("a._n").cast(dec)).as("_num"),
        col("a._x").as("_x"))
      .groupBy(col("g_a"), col("g_b"))
      .agg(max(struct(col("_num"), (-col("_x")).as("_nx"),
        col("n_a"), col("n_b"))).as("_m"))
      .select(col("g_a"), col("g_b"),
        col("_m.n_a").as("n_a"), col("_m.n_b").as("n_b"),
        col("_m._num").cast("double").as("d_num"),
        (-col("_m._nx")).as("at_tick"),
        r(col("_m._num").cast("double")
          / (col("_m.n_a").cast(dec) * col("_m.n_b").cast(dec))
            .cast("double"), 6).as("ks"))
  }

  def zipfFit(df: DataFrame, group: Column, text: Column,
              topN: Int = 100): DataFrame = {
    require(topN >= 2, s"a line needs at least 2 points: topN=$topN")
    val counts = df.filter(group.isNotNull && text.isNotNull)
      .select(group.as("src"), explode(tokens(text)).as("tok"))
      .groupBy(col("src"), col("tok")).agg(count(lit(1)).as("c"))
    val rnk = row_number().over(
      org.apache.spark.sql.expressions.Window
        .partitionBy(col("src")).orderBy(col("c").desc, col("tok").asc))
    val xy = counts.withColumn("rnk", rnk).filter(col("rnk") <= topN)
      .select(col("src"),
        log(col("rnk").cast("double")).as("x"),
        log(col("c").cast("double")).as("y"))
    val s = xy.groupBy(col("src"))
      .agg(count(lit(1)).cast("double").as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .filter(col("n") >= 2.0)
    val slope = (col("n") * col("sxy") - col("sx") * col("sy")) /
      (col("n") * col("sxx") - col("sx") * col("sx"))
    s.select(col("src"), col("n").cast("long").as("n_terms"),
      slope.as("slope"),
      ((col("sy") - slope * col("sx")) / col("n")).as("intercept"))
  }

  /** Heaps'-law fit of the corpus vocabulary-growth curve — the
    * [[zipfFit]] companion (the two laws are duals): vocabulary size
    * grows as `V(n) ≈ K·n^β` in tokens seen, β ≈ 0.4–0.8 for natural
    * text (Heaps 1978). A β drifting toward 1 flags unbounded novel
    * junk (random strings, ids); toward 0, a closed boilerplate
    * vocabulary. The streaming chain tracks the same signal
    * incrementally ([[graft.streaming.StreamingCorpusStats]]
    * vocabGrowth); this is the batch, exactly-replayable fit.
    *
    * Growth is measured along the doc_id order WITHOUT any global
    * window (a single-partition cumulative sort is the classic
    * scale-killer): a token's contribution to the prefix vocabulary
    * is fully determined by its FIRST-occurrence doc id (one
    * vocab-sized min aggregation), prefix token totals by the per-doc
    * counts — each joined to `checkpoints` broadcast threshold rows
    * (doc_id ≤ cp) for a bounded ×K fan-out with map-side partial
    * aggregation (the q137 bounded-explode move). Checkpoints are
    * `floor(max_id·j/K)`, deduplicated (tiny corpora can collide),
    * and checkpoints whose prefix holds no tokens drop (ln 0).
    * The OLS over (ln tokens, ln vocab) is the same spelled-out
    * closed form as [[zipfFit]] — never native regr_slope; ≤ K
    * ln-terms of float-order exposure, masked by r(·) in the oracle.
    *
    * Two corpus scans (first-occurrence table + per-doc counts) —
    * deliberately scans, never a barrier of the exploded token stream
    * (materializing corpus tokens through a cache costs more than a
    * second pruned-column pass, the [[TextAnalysis.bigramLogProb]]
    * adjudication). NULL text contributes no tokens and no docs.
    *
    * Returns ONE row (n_points, beta, intercept) —
    * `intercept = ln K̂`. */
  def heapsFit(df: DataFrame, id: Column, text: Column,
               checkpoints: Int = 16): DataFrame = {
    require(checkpoints >= 2, s"a line needs >= 2 points: $checkpoints")
    val toks = df.filter(text.isNotNull)
      .select(id.as("_doc"), explode(tokens(text)).as("tok"))
    val firstDoc = toks.groupBy(col("tok")).agg(min(col("_doc")).as("fd"))
    val docCounts = toks.groupBy(col("_doc")).agg(count(lit(1)).as("nt"))
    // ≤ K rows, but its SOURCE is a full doc_id column pass — barrier,
    // or both threshold joins below replan the max-scan (2× read of a
    // corpus-length column at 100 TB for a 16-row table)
    val cps = OpUtils.barrier(
      df.agg(max(id).as("m"))
        .select(explode(sequence(lit(1), lit(checkpoints))).as("j"), col("m"))
        .select(floor(col("m") * col("j") / checkpoints).cast("long").as("cp"))
        .distinct())
    val vocabAt = firstDoc.join(broadcast(cps), col("fd") <= col("cp"))
      .groupBy(col("cp")).agg(count(lit(1)).as("v"))
    val toksAt = docCounts.join(broadcast(cps), col("_doc") <= col("cp"))
      .groupBy(col("cp")).agg(sum(col("nt")).as("t"))
    // distinct points: checkpoints past the corpus tail all see the
    // same (t, v) — duplicates would double-weight the OLS, and a
    // fully degenerate curve (all points equal → zero-variance x)
    // yields NO fit row rather than a 0/0 slope
    val pts = vocabAt.join(toksAt, Seq("cp"))
      .filter(col("v") > 0 && col("t") > 0)
      .select(col("t"), col("v")).distinct()     // exact-integer dedup
      .select(log(col("t").cast("double")).as("x"),
        log(col("v").cast("double")).as("y"))
    val s = pts.agg(count(lit(1)).cast("double").as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .filter(col("n") >= 2.0 &&
        (col("n") * col("sxx") - col("sx") * col("sx")) =!= 0.0)
    val slope = (col("n") * col("sxy") - col("sx") * col("sy")) /
      (col("n") * col("sxx") - col("sx") * col("sx"))
    s.select(col("n").cast("long").as("n_points"),
      slope.as("beta"),
      ((col("sy") - slope * col("sx")) / col("n")).as("intercept"))
  }
}
