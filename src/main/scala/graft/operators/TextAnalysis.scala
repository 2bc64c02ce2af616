package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._

/** Text-analysis operators for large-scale training-data pipelines
  * (`SURVEY.md` §2 H4): token statistics, quality scoring, language
  * identification, document fingerprinting.
  *
  * Every operator is a pure column expression (codegen'd, no UDFs) so
  * the whole stage stays in one WholeStageCodegen span and the DuckDB
  * oracle reproduces each value exactly. All are embarrassingly
  * parallel per-row maps — at 100 TB they pipeline behind the scan with
  * zero shuffles.
  */
object TextAnalysis {

  /** Stopword list used for both quality scoring and language ID.
    * Deliberately small + deterministic; swap for a real per-language
    * lexicon in production. */
  val EnStop: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is")

  /** Per-language marker lexicons for the n-gram/stopword language-ID
    * heuristic (standard stopword-overlap scoring; ties broken in
    * en > es > de > fr order). */
  val LangMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "es" -> Seq("de", "la", "el", "en", "y"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "de", "et", "les"))

  private def countIn(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words.map(lit): _*)))

  /** Token/char statistics + a composite quality score:
    * 0.5·min(1, n_tokens/200) + 0.3·type-token-ratio + 0.2·stopword
    * ratio — the length/diversity/stopword shape used by web-scale
    * corpus filters. Adds columns; keeps input columns. */
  def withTextStats(df: DataFrame, text: Column): DataFrame = {
    val toks = tokens(text)
    // size() guards: for NULL text the stats must be NULL on EVERY
    // session config — under spark.sql.legacy.sizeOfNull=true size(NULL)
    // is -1, which would score a null document n_tokens=-1, ttr=1.0,
    // stop_ratio=1.0 and a mid-range ~0.5 quality_score that sails
    // through quality gates instead of a NULL that fails them
    def sz(c: Column): Column = when(text.isNull, lit(null)).otherwise(size(c))
    df.withColumn("n_tokens", sz(toks).cast("long"))
      .withColumn("n_distinct_tokens", sz(array_distinct(toks)).cast("long"))
      .withColumn("n_chars_calc", length(text).cast("long"))
      .withColumn("n_punct",
        sz(regexp_extract_all(text, lit("[.,;:!?]"), lit(0))).cast("long"))
      .withColumn("n_stopwords", countIn(toks, EnStop).cast("long"))
      .withColumn("ttr",
        col("n_distinct_tokens").cast("double") / col("n_tokens"))
      .withColumn("stop_ratio",
        col("n_stopwords").cast("double") / col("n_tokens"))
      .withColumn("quality_score",
        least(lit(1.0), col("n_tokens") / lit(200.0)) * 0.5
          + col("ttr") * 0.3 + col("stop_ratio") * 0.2)
  }

  /** Whitespace vs BPE-ish token counts: `\w+|[^\w\s]` approximates a
    * byte-pair tokenizer's pre-split (words + isolated punctuation);
    * `est_tokens_len4` is the chars/4 rule of thumb. */
  def withTokenCounts(df: DataFrame, text: Column): DataFrame =
    df.withColumn("n_ws_tokens", size(tokens(text)).cast("long"))
      .withColumn("n_bpe_tokens",
        size(regexp_extract_all(text, lit("\\w+|[^\\w\\s]"), lit(0))).cast("long"))
      .withColumn("est_tokens_len4",
        ceil(length(text) / lit(4.0)).cast("long"))

  /** Stopword-overlap language ID. Scores each candidate language by
    * marker-token hits; argmax with fixed tie order. Returns the
    * prediction column. */
  def langId(text: Column): Column = {
    val toks = tokens(text)
    val s = LangMarkers.view.mapValues(m => countIn(toks, m)).toMap
    // null text → null prediction (a bare when-chain would fall through
    // every null comparison into the lowest-priority language)
    when(text.isNull, lit(null).cast("string"))
      .when(s("en") >= s("es") && s("en") >= s("de") && s("en") >= s("fr"), "en")
      .when(s("es") >= s("de") && s("es") >= s("fr"), "es")
      .when(s("de") >= s("fr"), "de")
      .otherwise("fr")
  }

  /** Document fingerprints: full-text rolling polynomial hash plus the
    * minimum word-3-gram shingle hash (a 1-hash winnowing sketch —
    * equal min-shingle-fp is a cheap near-dup candidate signal). */
  def withFingerprints(df: DataFrame, text: Column): DataFrame =
    df.withColumn("fingerprint", polyHash(text))
      .withColumn("min_shingle_fp",
        array_min(transform(shingles(tokens(text), 3), s => polyHash(s))))

  /** Repetition quality signal: the duplicate word-`n`-gram fraction,
    * `1 − distinct_ngrams / total_ngrams` — high values flag the
    * boilerplate/spam/looping text every web-scale filter drops.
    * Computed entirely from the native shingle expression plus size
    * arithmetic (total n-grams of an m-token doc = m−n+1): a pure
    * per-row map, zero shuffles, no per-gram explode. Documents too
    * short to have n-grams score 0.0 (nothing repeats). */
  def withRepetition(df: DataFrame, text: Column, n: Int = 2): DataFrame = {
    val toks = tokens(text)
    df.withColumn("n_grams",
        greatest(size(toks) - lit(n - 1), lit(0)).cast("long"))
      .withColumn("n_distinct_grams",
        size(shingles(toks, n)).cast("long"))
      .withColumn("rep_ratio",
        when(col("n_grams") === 0L, 0.0)
          .otherwise(lit(1.0)
            - col("n_distinct_grams").cast("double") / col("n_grams")))
  }

  /** Corpus-trained unigram language-model scoring — the
    * perplexity-style quality filter web-scale pipelines run after the
    * cheap heuristics: train token frequencies ON the corpus itself
    * (one aggregation), then score each document by its mean token
    * log-probability under add-`alpha` (Laplace) smoothing,
    * `lp(t) = ln((count(t) + α) / (T + α·V))` with `T` total tokens
    * and `V` vocabulary size. Low scorers are gibberish/boilerplate
    * outliers relative to the corpus distribution.
    *
    * Shape at 100 TB: one explode → count aggregation builds the
    * unigram table (vocab-sized, shuffled on token), the (tiny) T/V
    * totals broadcast onto the postings, one equality join scores
    * every posting (AQE broadcasts the count table when vocab is
    * small, shuffles both sides when it is not), one final
    * aggregation per doc. No driver-side model object — the "model"
    * stays a DataFrame end to end, so the same code trains on a
    * trillion tokens. Returns (id, n_tokens, avg_logprob) per doc. */
  def unigramLogProb(df: DataFrame, id: Column, text: Column,
                     alpha: Double = 1.0): DataFrame = {
    val toks = df.select(id.as("_doc"), explode(tokens(text)).as("tok"))
    // barrier the vocab-sized count table: it feeds BOTH the T/V totals
    // and the scoring join, and without it Catalyst replans the full
    // corpus scan+explode+aggregate under each consumer (measured: a
    // third corpus scan and no AQE exchange reuse). Vocab-sized, so
    // the checkpoint is cheap at any corpus scale.
    val counts = OpUtils.barrier(
      toks.groupBy(col("tok")).agg(count(lit(1)).as("c")))
    val totals = counts.agg(
      sum(col("c")).cast("double").as("t"),
      count(lit(1)).cast("double").as("v"))
    toks.join(counts, Seq("tok"))              // self-trained → inner join total
      .crossJoin(broadcast(totals))
      .withColumn("_lp",
        log((col("c") + alpha) / (col("t") + lit(alpha) * col("v"))))
      .groupBy(col("_doc"))
      .agg(count(lit(1)).as("n_tokens"), avg(col("_lp")).as("avg_logprob"))
      .withColumnRenamed("_doc", "doc_id")
  }

  /** DSIR-style importance log-ratio (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every
    * document by how much more likely its tokens are under a TARGET
    * domain's unigram model than under the raw-corpus model —
    * `avg_log_ratio = avg_tok [ln p_target(tok) − ln p_raw(tok)]`.
    * High scorers "look like" the target domain; importance resampling
    * keeps raw data in proportion to exp(ratio). The standard
    * cheap-model data-selection move when a small trusted corpus
    * (Wikipedia, curated references) should steer what a 100 TB crawl
    * contributes.
    *
    * Both models smooth add-`alpha` over the SHARED raw vocabulary —
    * essential: tokens unseen in the target still get a finite target
    * probability, so the ratio is total (no −∞, no dropped tokens).
    *
    * Plan shape at 100 TB (same skeleton as [[unigramLogProb]]): ONE
    * corpus explode feeds one vocab-sized count table carrying BOTH
    * counts (raw count, and target count as a conditional sum — the
    * target pass is free, not a second scan); the table is barriered
    * because totals and the scoring join both consume it; totals
    * broadcast as one row. The scoring join shuffles postings once on
    * `tok`. */
  def dsirLogRatio(df: DataFrame, id: Column, text: Column,
                   isTarget: Column, alpha: Double = 1.0): DataFrame = {
    val toks = df.select(id.as("_doc"), isTarget.cast("boolean").as("_tgt"),
      explode(tokens(text)).as("tok"))
    val counts = OpUtils.barrier(
      toks.groupBy(col("tok")).agg(
        count(lit(1)).as("_cr"),
        sum(when(col("_tgt"), 1L).otherwise(0L)).as("_ct")))
    val totals = counts.agg(
      sum(col("_cr")).cast("double").as("_tr"),
      sum(col("_ct")).cast("double").as("_tt"),
      count(lit(1)).cast("double").as("_v"))
    toks.join(counts, Seq("tok"))              // raw vocab is total → inner join
      .crossJoin(broadcast(totals))
      .withColumn("_lr",
        log((col("_ct") + alpha) / (col("_tt") + lit(alpha) * col("_v")))
          - log((col("_cr") + alpha) / (col("_tr") + lit(alpha) * col("_v"))))
      .groupBy(col("_doc"))
      .agg(count(lit(1)).as("n_tokens"), avg(col("_lr")).as("avg_log_ratio"))
      .withColumnRenamed("_doc", "doc_id")
  }

  /** Top-k TF-IDF terms per document — the classic keyword extractor a
    * corpus pipeline runs for indexing, topic tagging, and similarity
    * features. tf = term count within the doc; idf = ln((1+N)/(1+df))
    * (smoothed, so corpus-universal terms score ~0 instead of
    * dividing by zero on unseen df); score = tf·idf.
    *
    * Plan shape at 100 TB: explode → ONE aggregation to the (doc,term)
    * posting table, then df via a window over `term` ON THAT TABLE — a
    * second exchange over the postings, but zero recomputation of the
    * corpus scan (the window reads the aggregate's output; no
    * double-consumption, so no barrier needed — contrast
    * [[unigramLogProb]]'s vocab-table checkpoint). The 1-row doc count
    * broadcasts onto the postings; ranking reuses the doc-partitioned
    * side of the first exchange. Ties rank deterministically
    * (rounded score desc, then term) so results reproduce across
    * engines. Returns (doc_id, term, tf, score), k rows per doc. */
  def topTfIdfTerms(df: DataFrame, id: Column, text: Column,
                    k: Int = 3, roundTo: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = df.select(id.as("doc_id"), text.as("_t"))
    val nDocs = broadcast(docs.agg(count(lit(1)).cast("double").as("_n")))
    val tf = docs
      .select(col("doc_id"), explode(tokens(col("_t"))).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val scored = tf
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("term"))))
      .crossJoin(nDocs)
      .withColumn("score",
        r(col("tf") * log((lit(1.0) + col("_n")) / (lit(1.0) + col("df"))),
          roundTo))
    val byDoc = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    scored.withColumn("_rk", row_number().over(byDoc))
      .filter(col("_rk") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("score"))
  }

  /** BM25 ranked retrieval: top-k documents for a fixed bag of query
    * terms — the retrieval primitive behind quality-targeted corpus
    * slicing, decontamination triage ("which training docs answer this
    * eval question?") and seed-set expansion. Standard Okapi scoring:
    * idf = ln(1 + (N − df + ½)/(df + ½)), tf saturation with `k1`,
    * length normalization with `b`.
    *
    * Plan shape at 100 TB: the explode is filtered to the query's own
    * terms IMMEDIATELY, so the only postings that reach the exchange
    * are the |terms| query terms' — a sliver, never the corpus posting
    * table. df comes from a window over `term` on that sliver (query
    * terms only; at most |terms| window partitions); N and avgdl are
    * one broadcast 1-row aggregate over a doc-length projection. The
    * final top-k is a global sort-limit → `TakeOrderedAndProject`
    * (per-partition bounded heaps, driver merges k·partitions rows —
    * never a full sort). Scoring math is portable (ln + doubles +
    * the shared rounding) so the SQL oracle reproduces it term for
    * term; the rounded score ranks BEFORE the limit, with doc_id as
    * tie-break, so the cut is engine-stable.
    *
    * With `withRank` the result carries its own 1-based `rank` (same
    * ordering as the cut), so downstream fusion (RRF) never re-ranks
    * the list with a global window. The rank is derived WITHOUT any
    * window at all (a global window — even one partitioned by a
    * constant — survives as a warned single-partition WindowExec,
    * because the optimizer eliminates foldable partition
    * expressions): the ≤ k cut rows collapse into ONE sorted array
    * via a two-phase aggregate (partial per partition, k-bounded),
    * and `posexplode` of that array IS the rank. Every step is a
    * codegen'd built-in over at most k rows — but it still costs two
    * extra stages of fixed latency, so callers that only need the
    * scored list (already emitted in rank order) leave it off.
    * Returns (doc_id, score, n_terms_hit[, rank]). */
  def bm25TopDocs(df: DataFrame, id: Column, text: Column,
                  terms: Seq[String], k: Int = 10,
                  k1: Double = 1.2, b: Double = 0.75,
                  roundTo: Int = 4, withRank: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(terms.nonEmpty, "bm25TopDocs needs at least one query term")
    require(k > 0, s"k must be positive: $k")
    val docs = df.select(id.as("doc_id"), tokens(text).as("_tk"))
      .withColumn("_dl", size(col("_tk")).cast("double"))
    val stats = broadcast(docs.agg(
      count(lit(1)).cast("double").as("_n"), avg(col("_dl")).as("_avgdl")))
    val tf = docs
      .select(col("doc_id"), col("_dl"), explode(col("_tk")).as("term"))
      .filter(col("term").isin(terms.map(lit): _*))
      .groupBy(col("doc_id"), col("_dl"), col("term"))
      .agg(count(lit(1)).cast("double").as("_tf"))
    val cut = tf.withColumn("_df",
        count(lit(1)).over(Window.partitionBy(col("term"))).cast("double"))
      .crossJoin(stats)
      .withColumn("_idf",
        log((col("_n") - col("_df") + 0.5) / (col("_df") + 0.5) + 1.0))
      .withColumn("_w", col("_idf") * col("_tf") * (k1 + 1.0)
        / (col("_tf")
          + lit(k1) * (lit(1.0 - b) + lit(b) * col("_dl") / col("_avgdl"))))
      .groupBy(col("doc_id"))
      .agg(r(sum(col("_w")), roundTo).as("score"),
        count(lit(1)).as("n_terms_hit"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
    if (!withRank) cut
    else cut
      // rank without a window: one sorted ≤k array, position = rank.
      // The struct's first field is −score so the ASCENDING array sort
      // ranks score-descending with doc_id as the ascending tie-break
      // (BM25 scores are > 0, so negation cannot manufacture ±0 ties).
      .agg(collect_list(struct((col("score") * -1).as("_ns"),
        col("doc_id"), col("score"), col("n_terms_hit"))).as("_l"))
      .select(posexplode(sort_array(col("_l"))).as(Seq("_pos", "_r")))
      .select(col("_r.doc_id").as("doc_id"), col("_r.score").as("score"),
        col("_r.n_terms_hit").as("n_terms_hit"),
        (col("_pos") + 1).cast("long").as("rank"))
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) — merge any number of
    * ranked retrieval lists into one consensus ranking:
    * `rrf(doc) = Σ_lists 1/(k0 + rank_list(doc))`. The standard hybrid-
    * retrieval combiner (BM25 ⊕ dense-vector ranks) because it needs
    * NO score calibration between lists — only ranks.
    *
    * Each input needs (doc_id, rank) columns, rank 1-based; a document
    * absent from a list simply contributes nothing for it (the usual
    * RRF convention). Returns (doc_id, rrf_score, n_lists).
    *
    * Plan shape: union of the (already small, top-k-sized) rank lists,
    * one map-side-combined aggregation — the corpus is never touched.
    * Portability: each 1/(k0+rank) is one exact IEEE division of
    * integers; for TWO lists the sum is order-independent (binary fp
    * addition is commutative), so the fused score is bit-identical in
    * any engine. For 3+ lists, round the score before ranking on it. */
  def rrfFuse(rankings: Seq[DataFrame], k0: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    rankings
      .map(_.select(col("doc_id"), col("rank")))
      .reduce(_ unionByName _)
      .withColumn("_c",
        lit(1.0) / (lit(k0.toDouble) + col("rank").cast("double")))
      .groupBy(col("doc_id"))
      .agg(sum(col("_c")).as("rrf_score"), count(lit(1)).as("n_lists"))
  }

  /** Robust per-group outlier detection (median/MAD): flags rows whose
    * value sits more than z·MAD from its group's median — the
    * length-anomaly gate corpus pipelines run to catch truncated and
    * concatenated documents, where mean/stddev would be dragged by the
    * very outliers being hunted.
    *
    * Plan shape: two group-sized aggregates (median, then MAD over the
    * re-joined residuals) broadcast back onto the corpus — the corpus
    * itself is never sorted and shuffles only on the (low-cardinality)
    * group key. The exact `percentile` aggregate buffers each group's
    * values, so per-group cardinality bounds executor memory; at
    * 100 TB swap in `approx_percentile` (fixed-size mergeable state,
    * same call shape) and keep this exact twin as the accuracy gate —
    * the q89 sketch-vs-exact pattern. Median/MAD of integer-valued
    * inputs are exact in binary doubles (x or x.5), so the z·MAD
    * comparison reproduces bit-for-bit in the SQL oracle. */
  def robustOutliers(df: DataFrame, group: Column, value: Column,
                     z: Double = 3.0): DataFrame = {
    // joins are NULL-SAFE (<=>): groupBy already forms a group for a
    // NULL key, and plain === would silently DROP every null-group row
    // from an operator documented as only ADDING a column
    val med = df.select(group.as("_g"), value.cast("double").as("_v"))
      .groupBy(col("_g"))
      .agg(expr("percentile(_v, 0.5)").as("med"))
    val mad = df.select(group.as("_g2"), value.cast("double").as("_v"))
      .join(broadcast(med), col("_g2") <=> col("_g"))
      .groupBy(col("_g"), col("med"))
      .agg(expr("percentile(abs(_v - med), 0.5)").as("mad"))
    df.join(broadcast(mad), group <=> col("_g"))
      .withColumn("is_outlier",
        abs(value.cast("double") - col("med")) > lit(z) * col("mad"))
      .drop("_g")
  }

  /** Per-stratum quality-quantile gate: keep each group's best
    * `keepFrac` fraction by `score` — the "keep the top p% per
    * language" filter web-corpus curation applies after scoring,
    * where an absolute threshold would gut low-resource languages
    * (their score distributions sit lower) but a per-stratum quantile
    * keeps every language's own best.
    *
    * Cut rule: `percent_rank() ≤ keepFrac` under (score DESC,
    * tieBreak) — rank ties are impossible given a total tie-break, so
    * the cut is deterministic and engine-reproducible; `pct_rank` is
    * emitted for auditability. One rank window per stratum: the
    * shuffle carries the stratum key; skew is bounded by the largest
    * stratum (salt upstream if one language dominates — same law as
    * [[graft.operators.Sampling.trainingMix]]). */
  def quantileGate(df: DataFrame, stratum: Column, score: Column,
                   tieBreak: Column, keepFrac: Double): DataFrame = {
    require(keepFrac > 0.0 && keepFrac <= 1.0,
      s"keepFrac must be in (0, 1], got $keepFrac")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(stratum).orderBy(score.desc, tieBreak)
    df.withColumn("pct_rank", percent_rank().over(w))
      .filter(col("pct_rank") <= keepFrac)
  }

  /** Per-document token Shannon entropy — the information-density
    * quality signal web-corpus filters use beside length/repetition:
    * boilerplate, keyword-stuffed, and template-generated pages score
    * far below natural prose of the same length (low entropy ⇒ a few
    * tokens dominate), while the NORMALIZED entropy
    * H / log₂(n_distinct) reads how evenly a document spreads over
    * its own vocabulary independent of size (1.0 = every distinct
    * token equally often).
    *
    * H is computed in the one-aggregation form
    * {{{ H = log₂(n) − (Σ c·log₂(c)) / n }}}
    * over per-token counts c (algebraically equal to −Σ p·log₂p but
    * needing no second pass for p). Laws: a single-token document has
    * H = 0 and a NULL norm_entropy (log₂(1) = 0 — the 0/0 is NULLed,
    * never 0); NULL text produces no row (explode of the NULL token
    * array, matching the oracle's unnest).
    *
    * Scale: the word-count shape. Explode pipelines behind the scan;
    * because every token of a document lives in ONE input row (hence
    * one partition), the (doc, token) partial aggregation collapses
    * map-side and the first shuffle carries ~one row per distinct
    * (doc, token); the per-doc reduce then aggregates doc-bounded
    * cells. No collects, no windows, no skew beyond the largest
    * single document. */
  def tokenEntropy(df: DataFrame, id: Column, text: Column): DataFrame = {
    val counts = df
      .select(id.as("_id"), explode(tokens(text)).as("_tok"))
      .groupBy(col("_id"), col("_tok"))
      .agg(count(lit(1)).as("_c"))
    counts
      .groupBy(col("_id"))
      .agg(sum(col("_c")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(col("_c").cast("double") * log2(col("_c").cast("double")))
          .as("_sclc"))
      .withColumn("entropy",
        log2(col("n_tokens").cast("double"))
          - col("_sclc") / col("n_tokens").cast("double"))
      // nullif carries the single-token law: log2(1) = 0 and the
      // unguarded division would raise ANSI ÷0 (or emit NaN), where
      // the defined value of "evenness over a 1-element vocabulary"
      // is no value at all
      .withColumn("norm_entropy",
        col("entropy") / nullif(log2(col("n_distinct").cast("double")),
          lit(0.0)))
      .select(col("_id").as("id"), col("n_tokens"), col("n_distinct"),
        col("entropy"), col("norm_entropy"))
  }

  /** Per-source keyness: the top `topN` OVERREPRESENTED tokens of each
    * source by Dunning log-likelihood against the rest of the corpus —
    * the corpus-comparison signal curation uses to characterize a
    * source ("what is this crawl actually full of") and to catch
    * template/boilerplate floods before they dominate a mix.
    * [[bigramLlr]] scores word PAIRS within the corpus; this scores
    * (source, token) cells against the source and token margins with
    * the same 4-term G² formula and the same double-first op sequence.
    *
    * Direction: keyness keeps only cells where the token is
    * overrepresented in the source — decided by the exact integer
    * cross-product o₁₁·N > c(source)·c(token) (decimal, never the
    * float expectation, whose boundary cells would flip between
    * engines). Rank order inside a source is (ROUNDED llr desc,
    * token) — rounding before ranking keeps rank boundaries off the
    * float noise floor.
    *
    * Scale: word-count shape into a vocabulary×sources-bounded cell
    * table (barriered — both margins and N reread it); the rank
    * window partitions by source over that bounded table, never over
    * corpus rows. */
  def sourceKeyness(df: DataFrame, group: Column, text: Column,
                    minCount: Long = 5L, topN: Int = 10): DataFrame = {
    require(minCount >= 1 && topN >= 1,
      s"need minCount, topN >= 1: $minCount/$topN")
    val r = graft.functions.GraftFunctions.r _
    val dec = "decimal(38,0)"
    val cells = OpUtils.barrier(
      df.select(group.as("_g"), explode(tokens(text)).as("_w"))
        .groupBy(col("_g"), col("_w")).agg(count(lit(1)).as("_c")))
    val gTot = cells.groupBy(col("_g")).agg(sum(col("_c")).as("_cg"))
    val wTot = cells.groupBy(col("_w")).agg(sum(col("_c")).as("_cw"))
    val tot = cells.agg(sum(col("_c")).as("_nt"))
    def term(o: Column, e: Column): Column =
      when(o > 0.0, o * log(o / e)).otherwise(lit(0.0))
    val nn = col("_nt").cast("double")
    val gd = col("_cg").cast("double"); val wd = col("_cw").cast("double")
    val o11 = col("_c").cast("double")
    val llr = lit(2.0) * (
      term(o11, gd * wd / nn) +
      term(gd - o11, gd * (nn - wd) / nn) +
      term(wd - o11, (nn - gd) * wd / nn) +
      term(nn - gd - wd + o11, (nn - gd) * (nn - wd) / nn))
    val scored = cells
      .join(gTot, cells("_g") <=> gTot("_g")).drop(gTot("_g"))
      .join(wTot, Seq("_w"))
      .crossJoin(broadcast(tot))
      .filter(col("_c") >= minCount)
      .filter(col("_c").cast(dec) * col("_nt").cast(dec) >
        col("_cg").cast(dec) * col("_cw").cast(dec))
      .select(col("_g").as("source"), col("_w").as("token"), col("_c").as("n"),
        r(llr, 4).as("llr"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("llr").desc, col("token"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topN)
  }

  /** Token co-occurrence PMI over the corpus: for every pair of terms
    * that co-occur (both present, once each counted) in at least
    * `minPairDocs` documents,
    * {{{ pmi(a,b) = ln( df(a,b) · N / (df(a) · df(b)) ) }}}
    * with document frequencies over DISTINCT per-doc tokens — the
    * classic collocation / phrase-mining signal (and the building
    * block for n-gram vocabulary induction over a pretraining corpus).
    *
    * Scale — ONE corpus pass, no self-join: the naive plan
    * postings⋈postings shuffles the posting table twice and joins it
    * against itself, and even the projection form pays three corpus
    * scans if N, df, and pair counts are derived independently
    * (measured: Catalyst plans three scan+tokenize stacks — column
    * pruning makes the subtrees non-identical, so exchange reuse
    * never fires). Here ONE generator per doc emits a doc marker
    * (null, null), the unary terms (t, null), and the ordered pairs
    * (a, b) from nested array transforms; ONE map-side-combined
    * aggregate counts them all, and N / df / df_ab are then sliced
    * from that vocabulary²-bounded counts table behind a barrier.
    * Pair volume is Σ_doc (k choose 2) for k distinct tokens per doc —
    * at 100 TB cap per-doc distinct tokens upstream (standard
    * practice) and raise `minPairDocs`. The df lookup joins are
    * vocabulary-sized — AQE broadcasts them.
    *
    * Output: (term_a, term_b, df_ab, pmi) with term_a < term_b. */
  def tokenPmi(df: DataFrame, id: Column, text: Column,
               minPairDocs: Long = 2L): DataFrame = {
    val nullTerm = lit(null).cast("string")
    val gen = OpUtils.derived(
      df.select(text.as("_text")))(
      _.withColumn("tok", array_sort(array_distinct(tokens(col("_text"))))))
      .select(explode(concat(
        array(struct(nullTerm.as("term_a"), nullTerm.as("term_b"))),
        transform(col("tok"),
          t => struct(t.as("term_a"), nullTerm.as("term_b"))),
        flatten(transform(col("tok"), (a, i) =>
          transform(slice(col("tok"), i + lit(2), greatest(size(col("tok")) - i - 1, lit(0))),
            b => struct(a.as("term_a"), b.as("term_b"))))))).as("p"))
    val counts = OpUtils.barrier(gen
      .groupBy(col("p.term_a").as("term_a"), col("p.term_b").as("term_b"))
      .agg(count(lit(1)).as("c")))
    val nRow = counts.filter(col("term_a").isNull)
      .select(col("c").cast("double").as("n"))
    val dfT = counts.filter(col("term_a").isNotNull && col("term_b").isNull)
      .select(col("term_a").as("term"), col("c").as("df"))
    counts.filter(col("term_b").isNotNull)
      .filter(col("c") >= minPairDocs)
      .select(col("term_a"), col("term_b"), col("c").as("df_ab"))
      .join(dfT.select(col("term").as("term_a"), col("df").as("df_a")), "term_a")
      .join(dfT.select(col("term").as("term_b"), col("df").as("df_b")), "term_b")
      .crossJoin(broadcast(nRow))
      .select(col("term_a"), col("term_b"), col("df_ab"),
        log(col("df_ab") * col("n") / (col("df_a") * col("df_b"))).as("pmi"))
  }

  /** Cross-document frequent-n-gram pruning — the corpus-level
    * boilerplate scrub (the n-gram-granular cousin of C4's repeated-line
    * removal and the exact-substring dedup of Lee et al. 2022): any
    * token covered by an n-gram that occurs in at least `minDocs`
    * document ROWS (distinct per row; with unique ids, rows ≡
    * documents — a replayed duplicate row counts again, by design:
    * dedupe upstream with the exact pass if replays are possible,
    * since distinct-id counting would shuffle the full (doc, gram)
    * posting table) is removed, and each document's text is
    * reconstructed from the surviving tokens in original order.
    * Headers, footers, license blurbs, and templated spans that repeat
    * across the corpus vanish from every document at once — per-doc
    * repetition gates ([[withRepetition]]) cannot see them.
    *
    * Plan shape at 100 TB — two corpus passes, no corpus-sized
    * barriers (the [[unigramLogProb]] law):
    *  1. frequent set: per-doc DISTINCT n-grams (native `Shingles`,
    *     so document frequency needs no (doc, gram) dedup shuffle) →
    *     one map-side-combined count → filter ≥ `minDocs`. The
    *     result is vocabulary-bounded and barriered — every later
    *     consumer reads the checkpoint, never the corpus.
    *  2. occurrences: every n-gram START position (pure array
    *     projection, no self-join) semi-joined against the frequent
    *     set — AQE broadcasts the (small) boilerplate set, so the
    *     corpus posting table never shuffles for the join; the
    *     surviving (doc, pos) rows — boilerplate occurrences only, a
    *     sliver — are the ONLY thing the per-doc regroup shuffles.
    * Reconstruction is a pure projection: the covered-start list
    * joins back (left; most docs have none) and a codegen'd
    * filter-with-index drops tokens inside any [s, s+n−1] window.
    *
    * Output: (doc_id, n_tokens, n_removed, text_clean). */
  def pruneFrequentNgrams(df: DataFrame, id: Column, text: Column,
                          n: Int = 3, minDocs: Long = 3L): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val docs = OpUtils.derived(df.select(id.as("doc_id"), text.as("_text")))(
      _.withColumn("_tk", tokens(col("_text"))))
      .select(col("doc_id"), col("_tk"))
    val fr = OpUtils.barrier(
      docs.select(explode(shingles(col("_tk"), n)).as("ng"))
        .groupBy(col("ng")).agg(count(lit(1)).as("df"))
        .filter(col("df") >= minDocs)
        .select(col("ng")))
    val posting = docs.select(col("doc_id"),
      explode(positionedShingles(col("_tk"), n)).as("p"))
      .select(col("doc_id"), col("p.pos").as("pos"), col("p.ng").as("ng"))
    val starts = posting.join(fr, Seq("ng"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("_starts"))
    docs.join(starts, Seq("doc_id"), "left")
      .withColumn("_st", coalesce(col("_starts"), array().cast("array<int>")))
      .withColumn("_kept", filter(col("_tk"), (t, p) =>
        !exists(col("_st"), s => p >= s && p <= s + lit(n - 1))))
      .select(col("doc_id"),
        size(col("_tk")).cast("long").as("n_tokens"),
        (size(col("_tk")) - size(col("_kept"))).cast("long").as("n_removed"),
        array_join(col("_kept"), " ").as("text_clean"))
  }

  /** Corpus-trained interpolated bigram language model scoring — the
    * step past [[unigramLogProb]] on the perplexity-filter quality
    * axis: every document scores by its mean bigram-position
    * log-probability under
    * `λ·P(w₂|w₁) + (1−λ)·P_uni(w₂)` where `P(w₂|w₁)` is the corpus
    * bigram MLE (`c(w₁w₂)/c(w₁·)`, context count = bigram-first
    * occurrences so the conditional sums to exactly 1 per context)
    * and `P_uni` is the add-α-smoothed unigram model. Interpolation —
    * not backoff — keeps the math a single branch-free expression
    * both engines evaluate in the identical IEEE op order.
    *
    * Plan shape at 100 TB: TWO corpus scans (bigram explode via the
    * codegen'd `graft_pos_shingles(n=2)` generator, token explode for
    * the unigram model) — deliberately scans, never a posexplode +
    * re-sort: a second columnar scan of a pruned column is cheap,
    * shuffling the exploded token stream on doc to re-derive adjacency
    * is not. Both count tables are vocab(²)-bounded. The model —
    * bigram counts ⋈ context counts ⋈ unigram counts, all vocab-sized
    * joins — is barriered once (it feeds totals AND the scoring join,
    * same double-consumption issue as [[unigramLogProb]]); totals
    * broadcast as one row; ONE posting-sized equality join on the pair
    * string scores every bigram position. Docs with fewer than 2
    * tokens have no bigram positions and drop (documented contract —
    * a perplexity filter has nothing to say about a 1-token doc).
    *
    * Returns (doc_id, n_bigrams, avg_logprob). */
  def bigramLogProb(df: DataFrame, id: Column, text: Column,
                    lambda: Double = 0.7, alpha: Double = 1.0): DataFrame = {
    require(lambda > 0.0 && lambda <= 1.0, s"lambda must be in (0,1]: $lambda")
    val docs = df.select(id.as("_doc"), text.as("_text"))
    val bigrams = docs.select(col("_doc"),
        explode(positionedShingles(tokens(col("_text")), 2)).as("p"))
      .select(col("_doc"), col("p.ng").as("pair"))
    val toks = docs.select(explode(tokens(col("_text"))).as("tok"))
    // both count tables are consumed twice (c2 → context derivation +
    // scoring join; cu → model join + smoothing totals), so each gets
    // the vocab-sized barrier — without it Catalyst re-plans the full
    // corpus explode under every consumer (the unigramLogProb lesson).
    val c2 = OpUtils.barrier(
      bigrams.groupBy(col("pair")).agg(count(lit(1)).as("c2")))
    // context count from the bigram table itself (= occurrences of w1
    // in bigram-first position), NOT the raw unigram count — doc-final
    // tokens never open a bigram, and only this definition makes
    // Σ_w2 P(w2|w1) = 1 exactly.
    val c1 = c2
      .groupBy(substring_index(col("pair"), " ", 1).as("w1"))
      .agg(sum(col("c2")).as("c1"))
    val cu = OpUtils.barrier(
      toks.groupBy(col("tok")).agg(count(lit(1)).as("cu")))
    val model = c2
      .withColumn("w1", substring_index(col("pair"), " ", 1))
      .withColumn("w2", substring_index(col("pair"), " ", -1))
      .join(c1, Seq("w1"))
      .join(cu.withColumnRenamed("tok", "w2"), Seq("w2"))
      .select(col("pair"), col("c2"), col("c1"), col("cu"))
    val totals = cu.agg(sum(col("cu")).cast("double").as("t"),
      count(lit(1)).cast("double").as("v"))
    bigrams.join(model, Seq("pair"))           // self-trained → inner join total
      .crossJoin(broadcast(totals))
      .withColumn("_lp", log(
        lit(lambda) * (col("c2").cast("double") / col("c1"))
          + lit(1.0 - lambda)
            * ((col("cu") + alpha) / (col("t") + lit(alpha) * col("v")))))
      .groupBy(col("_doc"))
      .agg(count(lit(1)).as("n_bigrams"), avg(col("_lp")).as("avg_logprob"))
      .withColumnRenamed("_doc", "doc_id")
  }

  /** Corpus-trained INTERPOLATED KNESER-NEY bigram scoring — the
    * industry-standard LM smoothing (Kneser & Ney 1995; the
    * interpolated variant of Chen & Goodman 1998) one step past
    * [[bigramLogProb]]'s unigram interpolation on the
    * perplexity-filter axis: instead of mixing in RAW unigram
    * frequency, the lower-order mass goes to the CONTINUATION
    * probability — how many distinct contexts a word follows, which is
    * what actually predicts it in a novel context ("Francisco" is
    * frequent but follows almost nothing except "San"):
    *
    *   P_KN(w₂|w₁) = (c(w₁w₂) − D)/c(w₁·)
    *               + D·N₁₊(w₁·)/c(w₁·) · N₁₊(·w₂)/N₁₊(··)
    *
    * with absolute discount `D ∈ (0,1)`, `N₁₊(w₁·)` = distinct
    * successors of w₁, `N₁₊(·w₂)` = distinct predecessors of w₂, and
    * `N₁₊(··)` = distinct bigram types. Summed over the full vocab
    * (seen pairs discounted + the redistributed D-mass times
    * Σ P_cont = 1) the conditional is exactly 1 per context — pinned
    * by a brute-force differential property test. Scoring the corpus
    * the model was trained on touches only SEEN pairs, so
    * `c(w₁w₂) ≥ 1 > D` and the max(·,0) clamp of the general form
    * never binds — the expression stays a single branch both engines
    * evaluate in the identical op order (the ln itself is the one
    * libm call, masked by the oracle's r(·) rounding, as in
    * [[bigramLogProb]]).
    *
    * Plan shape at 100 TB: ONE corpus scan (the codegen'd
    * `graft_pos_shingles(n=2)` bigram explode — KN never needs the
    * raw unigram table, so it is one scan CHEAPER than
    * [[bigramLogProb]]). The bigram-type table feeds FOUR consumers
    * (context counts+successor fan-out, predecessor fan-out, the type
    * total, the scoring join) and is barriered once; everything
    * derived from it is vocab(²)-bounded, the type total broadcasts
    * as one row, and ONE posting-sized equality join on the pair
    * string scores every bigram position. Docs with fewer than 2
    * tokens have no bigram positions and drop (the [[bigramLogProb]]
    * contract).
    *
    * Returns (doc_id, n_bigrams, avg_logprob). */
  def kneserNeyLogProb(df: DataFrame, id: Column, text: Column,
                       discount: Double = 0.75): DataFrame = {
    require(discount > 0.0 && discount < 1.0,
      s"absolute discount must be in (0,1): $discount")
    val docs = df.select(id.as("_doc"), text.as("_text"))
    val bigrams = docs.select(col("_doc"),
        explode(positionedShingles(tokens(col("_text")), 2)).as("p"))
      .select(col("_doc"), col("p.ng").as("pair"))
    val c2 = OpUtils.barrier(
      bigrams.groupBy(col("pair")).agg(count(lit(1)).as("c2")))
    val sp = c2.select(col("pair"), col("c2"),
      substring_index(col("pair"), " ", 1).as("w1"),
      substring_index(col("pair"), " ", -1).as("w2"))
    // context mass AND successor fan-out in one pass over the type
    // table: c1 = Σ c2 per w1 (bigram-first occurrences, the exact
    // normalizer), n1f = distinct successors = rows per w1
    val c1 = sp.groupBy(col("w1"))
      .agg(sum(col("c2")).as("c1"), count(lit(1)).as("n1f"))
    val pc = sp.groupBy(col("w2")).agg(count(lit(1)).as("n1p"))
    val tt = c2.agg(count(lit(1)).cast("double").as("tt"))
    val model = sp
      .join(c1, Seq("w1"))
      .join(pc, Seq("w2"))
      .select(col("pair"), col("c2"), col("c1"), col("n1f"), col("n1p"))
    bigrams.join(model, Seq("pair"))         // self-trained → inner join total
      .crossJoin(broadcast(tt))
      .withColumn("_lp", log(
        ((col("c2").cast("double") - lit(discount))
          + lit(discount) * col("n1f") * (col("n1p").cast("double") / col("tt")))
          / col("c1")))
      .groupBy(col("_doc"))
      .agg(count(lit(1)).as("n_bigrams"), avg(col("_lp")).as("avg_logprob"))
      .withColumnRenamed("_doc", "doc_id")
  }

  /** Dunning log-likelihood-ratio collocations (Dunning 1993) — the
    * statistically grounded companion to PMI ([[tokenPmi]] ranks by
    * lift, which overweights rare pairs; G² weights the EVIDENCE, so
    * a 500-occurrence collocation outranks a lucky 5-occurrence one):
    * per adjacent bigram, `G² = 2·Σ O·ln(O/E)` over the 2×2
    * contingency of (w₁-first, w₂-second) position counts, zero cells
    * contributing 0 (the x·ln x limit). The classic collocation /
    * multiword-expression miner for tokenizer and phrase-table
    * curation.
    *
    * Plan shape at 100 TB: the [[kneserNeyLogProb]] substrate — ONE
    * corpus scan (codegen'd bigram explode), the barriered
    * vocab(²)-bounded type table, two marginal aggregations and a
    * 1-row total joined back, G² a per-row scalar chain, and the
    * top-`topN` cut a bounded-heap sort-limit. Ranking is by the
    * r(4)-ROUNDED score with a (pair) tie-break, the house pattern
    * that absorbs cross-libm ln ulps (q98).
    *
    * Returns topN rows (w1, w2, c12, llr) by (llr desc, w1, w2). */
  def bigramLlr(df: DataFrame, id: Column, text: Column,
                minCount: Long = 5L, topN: Int = 25): DataFrame = {
    require(minCount >= 1 && topN >= 1,
      s"need minCount, topN >= 1: $minCount/$topN")
    val docs = df.select(id.as("_doc"), text.as("_text"))
    val bigrams = docs.select(
        explode(positionedShingles(tokens(col("_text")), 2)).as("p"))
      .select(col("p.ng").as("pair"))
    val c2 = OpUtils.barrier(
      bigrams.groupBy(col("pair")).agg(count(lit(1)).as("c12")))
    val sp = c2.select(col("pair"), col("c12"),
      substring_index(col("pair"), " ", 1).as("w1"),
      substring_index(col("pair"), " ", -1).as("w2"))
    val c1 = sp.groupBy(col("w1")).agg(sum(col("c12")).as("cw1"))
    val cc = sp.groupBy(col("w2")).agg(sum(col("c12")).as("cw2"))
    val tot = c2.agg(sum(col("c12")).cast("double").as("nn"))
    def term(o: Column, e: Column): Column =
      when(o > 0.0, o * log(o / e)).otherwise(lit(0.0))
    // doubles BEFORE any multiply: a long·long marginal product
    // overflows (loudly under ANSI) near 3e9 × 3e9 occurrences, and
    // DuckDB's hugeint route would round differently — double-first
    // keeps both engines on the identical op sequence
    val w1d = col("cw1").cast("double"); val w2d = col("cw2").cast("double")
    val o11 = col("c12").cast("double")
    val o12 = w1d - o11
    val o21 = w2d - o11
    val o22 = col("nn") - w1d - w2d + o11
    val e11 = w1d * w2d / col("nn")
    val e12 = w1d * (col("nn") - w2d) / col("nn")
    val e21 = (col("nn") - w1d) * w2d / col("nn")
    val e22 = (col("nn") - w1d) * (col("nn") - w2d) / col("nn")
    sp.join(c1, Seq("w1")).join(cc, Seq("w2"))
      .crossJoin(broadcast(tot))
      .filter(col("c12") >= minCount)
      .withColumn("llr", lit(2.0) *
        (term(o11, e11) + term(o12, e12) + term(o21, e21) + term(o22, e22)))
      .select(col("w1"), col("w2"), col("c12"),
        graft.functions.GraftFunctions.r(col("llr"), 4).as("llr"))
      .orderBy(col("llr").desc, col("w1"), col("w2"))
      .limit(topN)
  }

  /** Vocabulary coverage / out-of-vocabulary-rate gate — "how much of
    * this document does a size-V corpus vocabulary cover?", the
    * tokenizer-fit check a pipeline runs before committing a corpus to
    * a fixed vocab (high OOV rate = the doc is noise, the wrong
    * language, or the vocab is too small for it). Vocabulary = the top
    * `vocabSize` tokens by corpus frequency (count desc, token asc —
    * a total order, so the cut is engine-stable); per doc, `oov_rate` =
    * fraction of token occurrences outside it; `keep` gates at
    * `maxOovRate`.
    *
    * Plan shape at 100 TB: one corpus explode → vocab-sized count
    * table → the top-V cut is a global sort-limit
    * (`TakeOrderedAndProject`, per-partition bounded heaps — the
    * vocabulary never exists unsorted anywhere); the V-row vocab
    * BROADCASTS to a left join under the token explode (no shuffle of
    * the token stream), one per-doc aggregation finishes. `oov_rate`
    * is an exact small-integer ratio (sum of 0/1 doubles), so engines
    * cannot disagree on it — or on the boolean gate. */
  def oovRate(df: DataFrame, id: Column, text: Column,
              vocabSize: Int, maxOovRate: Double): DataFrame = {
    require(vocabSize > 0, s"vocabSize must be positive: $vocabSize")
    require(maxOovRate >= 0.0 && maxOovRate <= 1.0,
      s"maxOovRate must be in [0,1]: $maxOovRate")
    val toks = df.select(id.as("_doc"), explode(tokens(text)).as("tok"))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("_c"))
      .orderBy(col("_c").desc, col("tok"))
      .limit(vocabSize)
      .select(col("tok"), lit(true).as("_in_v"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .withColumn("_oov", when(col("_in_v").isNull, 1.0).otherwise(0.0))
      .groupBy(col("_doc"))
      .agg(count(lit(1)).as("n_tokens"),
        avg(col("_oov")).as("oov_rate"))
      .withColumn("keep", col("oov_rate") <= maxOovRate)
      .withColumnRenamed("_doc", "doc_id")
  }

  /** Iterative BPE vocabulary induction (Sennrich et al. 2016, over
    * whitespace tokens): `nMerges` rounds of count-all-adjacent-pairs →
    * take the single most frequent pair (count desc, then (w1, w2) —
    * a total order, so the learned vocabulary is engine-stable) →
    * greedily rewrite the corpus with [[bpeMerge]]. q106 mined ONE
    * round of candidates; this is the actual trainer.
    *
    * Scale honesty: each merge is genuinely two corpus passes (a
    * pair-count aggregation whose shuffle is vocab²-bounded with
    * map-side combine, and a narrow rewrite projection) plus a
    * corpus-sized barrier so round i+1 reads round i's result instead
    * of replaying the whole lineage — that IS the algorithm's cost,
    * on any engine. The per-round driver round-trip is ONE row (the
    * argmax pair — k-means-centroid-sized metadata, not data). Rounds
    * stop early when no adjacent pair remains. Returns the learned
    * merge table (merge_rank, w1, w2, pair, occurrences) — w1/w2 kept
    * structurally because `pair` is not splittable once symbols
    * themselves contain spaces. */
  def learnBpeMerges(df: DataFrame, text: Column, nMerges: Int): DataFrame = {
    require(nMerges > 0, s"nMerges must be positive: $nMerges")
    val spark = df.sparkSession
    import spark.implicits._
    var corpus = OpUtils.barrier(df.select(tokens(text).as("_tk")))
    val merges = Seq.newBuilder[(Long, String, String, String, Long)]
    var round = 1
    var exhausted = false
    while (round <= nMerges && !exhausted) {
      val top = corpus
        .select(explode(adjacentPairs(col("_tk"))).as("p"))
        .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
        .agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("w1"), col("w2"))
        .limit(1)
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        val (w1, w2, c) = (top(0).getString(0), top(0).getString(1),
          top(0).getLong(2))
        merges += ((round.toLong, w1, w2, s"$w1 $w2", c))
        corpus = OpUtils.barrier(
          corpus.select(bpeMerge(col("_tk"), w1, w2).as("_tk")))
        round += 1
      }
    }
    merges.result().toDF("merge_rank", "w1", "w2", "pair", "occurrences")
  }

  /** Tokenizer "encode": apply a learned merge list in order — one
    * [[bpeMerge]] fold per merge, all stacked into a single
    * projection. Zero shuffles, zero driver state beyond the merge
    * literals: the classic deploy shape (vocabulary learned once on
    * the corpus, applied as a broadcast-free map everywhere). */
  def applyBpeMerges(toks: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(toks) { case (c, (w1, w2)) => bpeMerge(c, w1, w2) }

  /** Adjacent-pair structs (w1, w2) of a token array — order-exact,
    * no string re-joining ambiguity (symbols may contain spaces after
    * BPE merges, so pair identity must stay structural). */
  private def adjacentPairs(toks: Column): Column =
    when(size(toks) >= 2,
      transform(sequence(lit(0), size(toks) - 2), i =>
        struct(element_at(toks, i + 1).as("w1"),
          element_at(toks, i + 2).as("w2"))))
      .otherwise(array().cast("array<struct<w1:string,w2:string>>"))

    /** Cross-document winnowing match candidates: documents sharing at
    * least `minShared` winnowing fingerprints
    * ([[GraftFunctions.winnowFingerprints]]) — the plagiarism-style
    * candidate generator the winnowing sketch exists for (Schleimer
    * et al. 2003 §4; by the guarantee, any pair sharing a run of
    * ≥ w + k − 1 tokens surfaces here with probability 1 unless the
    * fingerprint is boilerplate-pruned). Fingerprints occurring in
    * more than `maxDf` documents are dropped BEFORE the pair join —
    * both the boilerplate semantics (a fingerprint half the corpus
    * shares identifies nothing) and the quadratic-blowup guard (the
    * pair join's fan-out is capped at maxDf² per fingerprint, the
    * [[pruneFrequentNgrams]] move).
    *
    * Shape at 100 TB: per-row native fingerprinting behind the scan,
    * one (doc, fp) distinct shuffle, a fingerprint-keyed document-
    * frequency cut, and an equality self-join on fp over the kept
    * postings (barriered — it feeds both sides). Returns
    * (id_a, id_b, shared_fps), id_a < id_b. */
  def winnowingPairs(df: DataFrame, id: Column, text: Column,
                     k: Int = 3, w: Int = 6, minShared: Long = 2L,
                     maxDf: Int = 10): DataFrame = {
    val fp = df
      .select(id.as("_id"),
        explode(winnowFingerprints(tokens(text), k, w)).as("_f"))
      .select(col("_id"), col("_f").getField("fp").as("_fp"))
      .distinct()
    val dfreq = fp.groupBy(col("_fp")).agg(count(lit(1)).as("_df"))
      .filter(col("_df") <= maxDf)
    val kept = OpUtils.barrier(
      fp.join(dfreq.select(col("_fp")), Seq("_fp"), "left_semi"))
    kept.select(col("_fp"), col("_id").as("id_a"))
      .join(kept.select(col("_fp"), col("_id").as("id_b")), Seq("_fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
  }

/** Cross-document repeated-substring detection — the exact-substring
    * dedup signal (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better": cut any ≥50-token span that appears in
    * more than one document). Reports every MAXIMAL token span whose
    * n-grams each occur in ≥ `minDocs` distinct documents: a chain of
    * shared n-grams at consecutive start positions is one span (the
    * suffix-array equivalence: a length-L duplicated substring is
    * exactly L−n+1 consecutive duplicated n-grams).
    *
    * Plan shape at 100 TB (the q103 twin, minus its reconstruction
    * join): two corpus scans — the distinct-shingle explode for the
    * document-frequency table and the positioned-shingle explode for
    * postings — then everything downstream runs on the SHARED sliver
    * only: the semi join keeps postings whose gram clears `minDocs`,
    * the island window (consecutive-start grouping) partitions that
    * sliver per doc, and span TEXT is reconstructed from the overlap
    * of the run's own grams (first gram + each successor's last
    * token), so the corpus text is never re-joined or re-scanned for
    * output. A doc with NULL text tokenizes to NULL and emits
    * nothing.
    *
    * PRECONDITION: doc ids are unique (the
    * [[graft.operators.Dedup.snapshotDiff]] contract). A duplicated id
    * interleaves two documents' gram positions under one window
    * partition — duplicate positions make the island row_number
    * tie-dependent and the spans run-nondeterministic. Run
    * [[graft.operators.Dedup.exact]]/a keeper pass first if ids may
    * repeat. ([[scrubSharedSpans]] inherits this contract.)
    *
    * Output: (doc_id, start_pos [0-based token index], span_tokens,
    * n_grams, span_text), one row per maximal span with
    * `span_tokens >= minSpanTokens`. */
  def sharedSpans(df: DataFrame, id: Column, text: Column,
                  n: Int = 5, minDocs: Long = 2L, minSpanTokens: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(n >= 2, s"n must be >= 2 (a 1-gram span chain is every word), got $n")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val docs = df.select(id.as("doc_id"), tokens(text).as("_tk"))
    // grams in >= minDocs document ROWS; shingles() is distinct-per-row
    // so the plain count IS the document frequency over stored rows
    // (within-doc repetition is q75's self-repetition signal, not
    // duplication). A replayed duplicate row counts again — by design:
    // an exact replay IS duplication, precisely what a shared-span
    // scrub should see (run q30's exact dedup first to opt out);
    // counting DISTINCT ids instead would shuffle the full (doc, gram)
    // posting table where this shuffles vocab-sized partial counts
    val fr = OpUtils.barrier(
      docs.select(explode(shingles(col("_tk"), n)).as("ng"))
        .groupBy(col("ng")).agg(count(lit(1)).as("df"))
        .filter(col("df") >= minDocs)
        .select(col("ng")))
    val posting = docs.select(col("doc_id"),
        explode(positionedShingles(col("_tk"), n)).as("p"))
      .select(col("doc_id"), col("p.pos").as("pos"), col("p.ng").as("ng"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val runs = posting.join(fr, Seq("ng"), "left_semi")
      // the island trick below REQUIRES unique start positions per doc
      // — a replayed duplicate row re-emits every (doc, pos) posting
      // and would fragment runs at each duplicated position. Positions
      // are structural per DOCUMENT (a replica adds no new spans), so
      // enforce the invariant here: the distinct runs over the
      // frequent-only sliver (post-semi-join), never the full posting
      // table
      .distinct()
      // island grouping: start positions are unique per doc (enforced
      // above), so pos − row_number is constant exactly along a
      // consecutive chain
      .withColumn("_grp", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("_grp"))
      .agg(sort_array(collect_list(struct(col("pos"), col("ng")))).as("_run"))
    val first = element_at(col("_run"), 1)
    val last = element_at(col("_run"), -1)
    // consecutive n-grams overlap by n−1 tokens: the span is the first
    // gram plus every later gram's LAST token, exact because tokens()
    // splits on the same single space the grams were joined with
    val restTxt = array_join(
      transform(slice(col("_run"), lit(2), size(col("_run")) - 1),
        s => element_at(split(s.getField("ng"), " "), n)), " ")
    runs.select(col("doc_id"),
        first.getField("pos").cast("long").as("start_pos"),
        (last.getField("pos") - first.getField("pos") + lit(n))
          .cast("long").as("span_tokens"),
        size(col("_run")).cast("long").as("n_grams"),
        when(size(col("_run")) > 1,
            concat(first.getField("ng"), lit(" "), restTxt))
          .otherwise(first.getField("ng")).as("span_text"))
      .filter(col("span_tokens") >= minSpanTokens)
  }

  /** Remediation half of [[sharedSpans]] — cut every detected shared
    * span out of every document (Lee et al. 2022's dedup treatment at
    * maximal-span granularity; [[pruneFrequentNgrams]] is the same
    * treatment at single-n-gram granularity with a frequency
    * threshold). Removal applies EVERYWHERE the span occurs — the
    * "keep one canonical copy" policy needs a span-identity + keeper
    * resolution that document-level dedup (q78/q105 keepers) already
    * provides; a span-level keeper would re-introduce the partial-
    * overlap ambiguity those operators exist to avoid.
    *
    * Plan shape: [[sharedSpans]]' two corpus scans + one more for the
    * reconstruction (the span table joins back LEFT; most docs carry
    * no spans and pass through untouched as a pure projection) — the
    * unavoidable third scan, since the output IS the full corpus
    * text. The reconstruction is q103's codegen'd filter-with-index.
    *
    * Output: (doc_id, n_tokens, n_removed, text_clean); NULL text
    * stays NULL (n_tokens/n_removed NULL too, the q103 law). */
  def scrubSharedSpans(df: DataFrame, id: Column, text: Column,
                       n: Int = 5, minDocs: Long = 2L,
                       minSpanTokens: Int = 0): DataFrame = {
    val spans = sharedSpans(df, id, text, n, minDocs, minSpanTokens)
    val covered = spans.groupBy(col("doc_id"))
      .agg(collect_list(struct(col("start_pos"), col("span_tokens")))
        .as("_spans"))
    df.select(id.as("doc_id"), tokens(text).as("_tk"))
      .join(covered, Seq("doc_id"), "left")
      .withColumn("_sp", coalesce(col("_spans"),
        array().cast("array<struct<start_pos:long,span_tokens:long>>")))
      .withColumn("_kept", filter(col("_tk"), (t, p) =>
        !exists(col("_sp"), s =>
          p.cast("long") >= s.getField("start_pos") &&
            p.cast("long") < s.getField("start_pos") + s.getField("span_tokens"))))
      .select(col("doc_id"),
        size(col("_tk")).cast("long").as("n_tokens"),
        (size(col("_tk")) - size(col("_kept"))).cast("long").as("n_removed"),
        array_join(col("_kept"), " ").as("text_clean"))
  }

  /** PII patterns for [[redact]] — deliberately written in the regex
    * subset RE2 and java.util.regex agree on (character classes,
    * bounded repetition, word boundaries; no backrefs or lookaround) so
    * the SQL oracle reproduces the replacement byte for byte. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhoneRe = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"

  /** PII redaction — the scrub pass every training-data pipeline runs
    * before anything else sees the text: emails, IPv4 addresses, and
    * NNN-NNN-NNNN phone numbers replaced with typed placeholder tags.
    * Pure codegen'd `regexp_replace` chain (global replacement), zero
    * shuffles. Order matters: emails first, so `user@[1.2.3.4]`-style
    * strings redact as one email rather than leaking the IP. */
  def redact(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")
}
