package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._

/** Deduplication operators for training-data pipelines (`SURVEY.md`
  * §2 H1/H2): exact, shingle-Jaccard, MinHash+LSH, SimHash, and
  * embedding-cosine near-dup.
  *
  * Scale design: exact dedup is one hash-partitioned groupBy. The
  * near-dup operators never do an unblocked O(n²) cross join — pairs
  * are generated inside blocks (LSH band buckets, or a caller-chosen
  * blocking key such as language), which is the standard way these run
  * over 100 TB corpora: candidate generation by equality join on
  * band/bucket keys (shuffle on the bucket key, skew-safe because
  * bucket cardinality is controlled by the signature parameters), then
  * exact re-scoring only of candidates.
  *
  * All hashing is the portable 31-polynomial (`GraftFunctions.polyHash`)
  * + affine universal family, pure integer expressions — deterministic
  * across engines, codegen-friendly, and reproducible by the SQL oracle.
  */
object Dedup {

  import OpUtils.{derived, materialize}

  /** Pair-id type guard shared by the component algorithms: the long
    * cast silently NULLs non-numeric ids, the label join then matches
    * nothing, and the caller would conclude "zero duplicate clusters"
    * and keep every near-dup. */
  private[operators] def requireNumericIds(pairs: DataFrame, idA: String,
                                           idB: String, op: String): Unit =
    Seq(idA, idB).foreach { c =>
      val dt = pairs.schema(c).dataType
      // INTEGRAL only, not any NumericType — see OpUtils.isIntegralId
      // for the truncation-corruption rationale (single-sourced with
      // Sampling.leakageSafeSplit's guard)
      require(OpUtils.isIntegralId(dt),
        s"Dedup.$op: pair ids must be integral (byte/short/int/long), " +
          s"column $c is ${dt.simpleString} — non-numeric ids null out " +
          "in the label join (silently empty result) and fractional " +
          "ids truncate (silently merged vertices)")
    }

  /** NULL-endpoint edge law shared by both component variants: a NULL
    * id is missing data, not a vertex — the edge drops, and an id
    * paired ONLY with NULL degrades to an unpaired singleton (absent
    * from the output; callers' coalesce-to-self supplies it), exactly
    * like an id in no pair at all. Without this, the min-label
    * variant's inner label join silently LOST such vertices mid-loop
    * while the star variant kept them — identical inputs, divergent
    * outputs. */
  private def dropNullEdges(pairs: DataFrame, idA: String,
                            idB: String): DataFrame =
    pairs.filter(col(idA).isNotNull && col(idB).isNotNull)

  /** H1 exact dedup: md5 content hash; `rn` = 1 marks the keeper (the
    * lowest id per hash group), `is_dup` the rest. One shuffle on the
    * content hash — at 100 TB this is the only way exact dedup can run
    * (hash-partition by digest, never collect). */
  def exact(df: DataFrame, id: Column, text: Column): DataFrame = {
    // NULL content means "unknown", not "identical": without the
    // singleton grouping every null-text row would land in ONE hash
    // partition and all but one be flagged — a dirty corpus would
    // silently lose every failed-extraction row to the standard
    // !is_dup filter. Each null row gets its own window group (rn=1,
    // never a dup) while `is_dup` stays the pure rn>1 comparison, so a
    // keeper filter (!is_dup) plans as a window group limit. The
    // _rowid third fallback covers rows where
    // the ID is null too (the id-based sentinel would be NULL and all
    // such rows would collapse into one group, flagging all but one):
    // the fallback value differs across runs, but the OUTPUT doesn't —
    // every singleton group yields rn=1, is_dup=false regardless of
    // which rowid it got.
    val grp = coalesce(col("content_hash"),
      concat(lit("\u0000null:"), id.cast("string")),
      concat(lit("\u0000row:"), col("_exact_rowid").cast("string")))
    val w = Window.partitionBy(grp).orderBy(id)
    df.withColumn("content_hash", md5(text))
      .withColumn("_exact_rowid", monotonically_increasing_id())
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("is_dup", col("rn") > 1)
      .drop("_exact_rowid")
  }

  /** Corpus snapshot diff: classify every id across two dataset
    * versions as added / removed / changed / unchanged by content hash
    * — the audit a curation pipeline runs between crawl refreshes
    * ("what did this re-crawl actually change?") and the input to
    * incremental re-processing (only `added`+`changed` rows need
    * re-dedup/re-scoring; at 100 TB reprocessing the unchanged 99%
    * is the real cost).
    *
    * Plan shape: md5 fused behind each scan, ONE full-outer equality
    * join hash-partitioned on id — both sides co-partition, nothing
    * broadcasts (both sides are corpus-sized), no sort. Content
    * equality by digest, so the exchange carries (id, 32-byte hash),
    * never the payloads.
    *
    * PRECONDITION: ids are unique within each snapshot (what
    * "snapshot" means). A duplicated id fans the equality join out
    * and the id receives one status row PER (old, new) pairing —
    * possibly contradictory ones. Run [[exact]]/a keeper pass first
    * if the input may carry duplicate ids. */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, id: Column,
                   content: Column): DataFrame = {
    // presence is a FLAG, never hash nullness: a row with NULL content
    // has a NULL digest, and conflating the two misclassifies it as
    // added (even when it exists in both versions, or only in the OLD
    // one — which would re-ingest a deleted row). The digests compare
    // null-safely so NULL-content rows still diff correctly.
    val o = oldDf.select(id.as("id"), md5(content).as("_h_old"), lit(1).as("_in_old"))
    val n = newDf.select(id.as("id"), md5(content).as("_h_new"), lit(1).as("_in_new"))
    o.join(n, Seq("id"), "full_outer")
      .withColumn("status",
        when(col("_in_old").isNull, "added")
          .when(col("_in_new").isNull, "removed")
          .when(!(col("_h_old") <=> col("_h_new")), "changed")
          .otherwise("unchanged"))
      .select(col("id"), col("status"))
  }

  /** Distinct word-n-gram shingle set per document (the unit of
    * near-dup comparison). */
  def withShingles(df: DataFrame, text: Column, n: Int = 3): DataFrame =
    derived(df)(_.withColumn("sh", shingles(tokens(text), n)))

  /** Default cap for the within-block all-pairs operators: a block at
    * the cap costs ~cap²/2 ≈ 5·10⁹ comparisons across the cluster —
    * the line between "expensive" and "monopolizes the job". */
  val DefaultMaxBlock = 100000

  /** Runtime guardrail for the quadratic pair generators: every block's
    * row count must stay ≤ `cap`, or the job FAILS with a message
    * naming the hot block and the scale-safe alternative — a silent
    * O(block²) explosion on a 10⁷-row block would otherwise melt a
    * cluster. One cheap partial aggregate on the already-shuffled block
    * key; when all blocks are within the cap the result rows are
    * unchanged (the assertion column is always-null and dropped). */
  private def guardBlocks(side: DataFrame, cap: Int, op: String): DataFrame = {
    val counts = side.groupBy(col("bk")).agg(count(lit(1)).as("_bk_cnt"))
    side.join(counts, Seq("bk"))
      .filter(assert_true(col("_bk_cnt") <= cap,
        concat(lit(s"$op: block '"), col("bk").cast("string"),
          lit("' has "), col("_bk_cnt").cast("string"),
          lit(s" rows > maxBlock=$cap; the all-pairs comparison is " +
            "quadratic per block - use the LSH path (lshVerifiedPairs / " +
            "Similarity.lshTopK) or raise maxBlock explicitly"))).isNull)
      .drop("_bk_cnt")
  }

  /** H2a pairwise shingle-Jaccard within blocks: join on `blockKey`
    * (e.g. language, length bucket, or an LSH band), score
    * |A∩B| / (|A|+|B|−|A∩B|), keep pairs ≥ threshold. Block sizes
    * bound the quadratic term; at scale the caller feeds LSH-band
    * blocks (see [[lshCandidates]]) instead of coarse attributes.
    * Blocks larger than `maxBlock` fail fast (see [[guardBlocks]]). */
  def jaccardPairs(shingled: DataFrame, id: String, blockKey: String,
                   threshold: Double,
                   maxBlock: Int = DefaultMaxBlock): DataFrame = {
    val a = guardBlocks(
      shingled.select(col(blockKey).as("bk"), col(id).as("id_a"),
        col("sh").as("sh_a")), maxBlock, "jaccardPairs")
    val b = shingled.select(col(blockKey).as("bk"), col(id).as("id_b"),
      col("sh").as("sh_b"))
    a.join(b, Seq("bk"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("n_common", size(array_intersect(col("sh_a"), col("sh_b"))))
      // union-size guard: two shingle-less documents in one block give
      // 0/0 — [DIVIDE_BY_ZERO] under ANSI (a dirty short row kills the
      // whole job), NULL-and-dropped under non-ANSI. The guard makes
      // "no shingles ⇒ no similarity evidence ⇒ not a pair" explicit
      // and identical in both modes (and in the DuckDB oracle).
      .withColumn("_den",
        size(col("sh_a")) + size(col("sh_b")) - col("n_common"))
      .withColumn("jaccard",
        when(col("_den") > 0, col("n_common").cast("double") / col("_den")))
      .filter(col("jaccard") >= threshold)
      .select(col("bk"), col("id_a"), col("id_b"), col("n_common"),
        r(col("jaccard"), 4).as("jaccard"))
  }

  /** H2+ asymmetric shingle-CONTAINMENT pairs (Broder 1997's
    * second resemblance measure): `C(A→B) = |sh(A) ∩ sh(B)| /
    * |sh(A)|` — "how much of A is inside B". This is the
    * small-inside-big duplication Jaccard structurally misses: a
    * 100-token doc fully embedded in a 10,000-token doc has Jaccard
    * ≈ 0.01 (never crosses any sane threshold) but containment 1.0.
    * The quote/boilerplate/subset-dup detector a corpus pipeline runs
    * BESIDE symmetric near-dup, and the asymmetry is the point: the
    * direction says which doc is the fragment (kept pairs read "id_a
    * is threshold-contained in id_b").
    *
    * Scale shape (the inverted-index join, never within-block
    * all-pairs): document-frequency capping at `maxDf` bounds the
    * per-shingle fan-out, so the pair table costs at most
    * Σ_kept df(s)² ≤ maxDf · |postings| — the same quadratic guard
    * [[graft.operators.TextAnalysis.winnowingPairs]] uses, and like
    * there it is ALSO the semantics: a shingle shared by 50+
    * documents is boilerplate, not evidence of copying. Both the
    * intersection AND the denominator count only df-kept shingles —
    * the metric lives entirely in the capped shingle space, so a
    * boilerplate-only document has NO kept shingles and drops
    * (no 0/0, no spurious 1.0 against everything); that self-
    * consistency is what makes `containment = 1.0` still reachable.
    *
    * The unit of counting is the portable 64-bit-poly SHINGLE HASH
    * (`polyHash`), not the shingle string — the byte diet
    * [[decontaminateHashed]] measured at ~half the shuffle: every
    * exchange, barrier, and the pair join itself carry (long, long)
    * rows instead of corpus n-gram strings. The whole MinHash/LSH/
    * winnowing family already lives in this hash space, and the
    * oracle replays the identical hash, so parity is exact; two
    * distinct shingles colliding merge into one count at the
    * family's standard ~n²/2p rate. The hashed posting table feeds
    * the df count + the df-kept semi join and the kept table feeds
    * sizes + both pair-join sides — each barriered once
    * (multi-consumer replan class), cheap precisely because the rows
    * are 16 bytes. Output is pair-bounded; the division is one
    * exact-integer-ratio IEEE op (engine-portable bit for bit).
    *
    * Returns (id_a, id_b, n_common, containment) — ORDERED pairs,
    * id_a ≠ id_b, containment ≥ threshold. */
  def containmentPairs(df: DataFrame, id: Column, text: Column,
                       shingleN: Int = 3, threshold: Double = 0.8,
                       maxDf: Int = 50): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"containment threshold must be in (0,1]: $threshold")
    require(maxDf >= 2, s"maxDf < 2 can never produce a pair: $maxDf")
    // shingles() is per-doc DISTINCT, but two shingles can collide to
    // one hash — the distinct keeps the posting a SET in hash space
    val posting = OpUtils.barrier(
      df.select(id.as("_id"), explode(shingles(tokens(text), shingleN)).as("sh"))
        .select(col("_id"), polyHash(col("sh")).as("h"))
        .distinct())
    // the kept postings carry their document frequency (r15): a
    // SINGLETON hash (df = 1) can never produce a cross-document pair
    // — its one self-match dies on the id_a ≠ id_b filter — but it
    // DOES count toward the containment denominator (_n_kept). So the
    // denominator side keeps every df ≤ maxDf posting while BOTH
    // self-join inputs drop to 2 ≤ df ≤ maxDf (guide §3: shrink the
    // join's inputs; on a typical corpus most distinct shingles are
    // singletons). Pair counts are unchanged: any shared hash has
    // df ≥ 2 by definition.
    val dfKeep = posting.groupBy(col("h"))
      .agg(count(lit(1)).as("_df"))
      .filter(col("_df") <= maxDf)
    val kept = OpUtils.barrier(
      posting.join(dfKeep, Seq("h")))
    val sizes = kept.groupBy(col("_id")).agg(count(lit(1)).as("_n_kept"))
    val paired = kept.filter(col("_df") >= 2L)
    val a = paired.select(col("h"), col("_id").as("id_a"))
    val b = paired.select(col("h"), col("_id").as("id_b"))
    a.join(b, Seq("h"))
      .filter(col("id_a") =!= col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(sizes.withColumnRenamed("_id", "id_a"), Seq("id_a"))
      .withColumn("containment",
        col("n_common").cast("double") / col("_n_kept"))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("n_common"),
        r(col("containment"), 6).as("containment"))
  }

  /** Scalable edit-distance similarity JOIN: all id pairs whose
    * strings are within `maxDist` Levenshtein edits — the fuzzy join
    * behind entity resolution / near-identical-name linkage, without
    * the |n|² cross product. Candidates come from the deletion
    * neighbourhood (FastSS, Bocek et al. 2007): each string emits its
    * distinct variants with up to `maxDist` characters deleted
    * (itself included), and the variant table joins itself on the
    * variant. The join is LOSSLESS at every length, "" included: if
    * ed(a, b) ≤ k, deleting from `a` the characters an optimal
    * alignment deletes or substitutes, and from `b` the ones it
    * inserts or substitutes, leaves the same string after ≤ k
    * deletions on each side, so the two neighbourhoods share a key.
    * The join also keeps only |len Δ| ≤ k (a necessary condition),
    * and the surviving candidates dedup to unordered pairs and take
    * ONE exact `levenshtein` verify each. The SQL oracle computes the
    * ground truth directly from the definition, so a lossy join could
    * not hash-match it.
    *
    * Cost: a string of length L emits Σ_{j≤k} C(L, j) variant keys —
    * L + 1 at k = 1, but growing as L^k, so k ≥ 2 on long strings
    * multiplies the key table accordingly. Degenerate corpora (one
    * variant shared by more than `maxBlock` strings) fail fast via the
    * block guard on the variant key. NULL strings drop (nothing to
    * match).
    *
    * Returns (id_a, id_b, dist), id_a < id_b, dist ≤ maxDist. */
  def editDistancePairs(df: DataFrame, id: Column, str: Column,
                        maxDist: Int,
                        maxBlock: Int = DefaultMaxBlock): DataFrame = {
    require(maxDist >= 1, s"need maxDist >= 1: $maxDist")
    val s0 = df.filter(str.isNotNull).select(id.as("_id"), str.as("_s"))
    // one round deletes one more character from every variant so far;
    // array_union keeps the earlier variants and dedups the new ones
    // (for "" Spark's sequence(1, 0) is [1, 0]; both indices yield ""
    // again, which the union drops)
    val variants = (1 to maxDist).foldLeft("array(_s)") { (vs, _) =>
      s"array_union($vs, flatten(transform($vs, v -> transform(" +
        "sequence(1, length(v)), i -> concat(substring(v, 1, i - 1), " +
        "substring(v, i + 1))))))"
    }
    val keys = s0.select(explode(expr(variants)).as("bk"),
      col("_id").as("_sid"), length(col("_s")).as("_len"))
    // `<` emits each unordered pair once per shared variant; the
    // length cut drops never-verifiable pairs before the pair-dedup
    // exchange and the two verify joins
    val cand = guardBlocks(keys, maxBlock, "editDistancePairs")
      .join(keys.select(col("bk"), col("_sid").as("_fid"),
        col("_len").as("_flen")), Seq("bk"))
      .filter(col("_sid") < col("_fid") &&
        abs(col("_len") - col("_flen")) <= maxDist)
      .select(col("_sid").as("id_a"), col("_fid").as("id_b"))
      .distinct()
    cand
      .join(s0.select(col("_id").as("id_a"), col("_s").as("_sa")), Seq("id_a"))
      .join(s0.select(col("_id").as("id_b"), col("_s").as("_sb")), Seq("id_b"))
      .withColumn("dist", levenshtein(col("_sa"), col("_sb")).cast("long"))
      .filter(col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** H2b MinHash signature: k minimums of affine universal hashes over
    * the word-`shingleN`-gram shingle hashes. `sig[i] = min_s
    * (2i+1)·h(s) + 1000003·(i+1) mod p`. Shingles, NOT unigram tokens:
    * with a small shared vocabulary, unigram token SETS are nearly
    * identical across unrelated documents (set-Jaccard ≈ 1), which
    * collapses every LSH bucket into one giant candidate clique —
    * word-n-gram shingles keep unrelated documents near-disjoint. */
  def withMinHash(df: DataFrame, text: Column, k: Int = 16,
                  shingleN: Int = 3): DataFrame =
    // spread-only (no trailing barrier): the signature kernel is a
    // native codegen'd expression evaluated once in the projection, and
    // every consumer (band join, streaming index write) immediately
    // shuffles or writes — a trailing repartition would shuffle the
    // full text+signature rows a second time for nothing
    materialize(df).withColumn("minhash",
      shingleMinHash(tokens(text), shingleN, k))

  /** LSH banding: split the k-length signature into `bands` bands of
    * k/bands rows each; a band key is the (bandIdx, polyhash-of-band)
    * pair. Docs sharing ANY band key become candidates — the classic
    * s-curve trade-off. Returns one row per (doc, band). All band
    * hashes come from ONE codegen'd pass over the signature
    * (`GraftFunctions.bandHashes`) and are then position-exploded —
    * no interpreted fold per band row. A document whose `minhash`
    * column is NULL (null text) produces NO band rows (there is
    * nothing to index or match); shingle-less documents keep their
    * `bands` rows with NULL band hashes, which match nothing. */
  def withLshBands(df: DataFrame, k: Int = 16, bands: Int = 4): DataFrame = {
    require(k % bands == 0,
      s"bands ($bands) must divide the signature length k ($k) — " +
        "trailing positions would otherwise be silently excluded from banding")
    df.withColumn("_bhs", bandHashes(col("minhash"), bands))
      .select(col("*"), posexplode(col("_bhs")).as(Seq("band_idx", "band_hash")))
      .drop("_bhs")
  }

  /** H2b candidate pairs: equality join on band keys, deduplicated.
    * `est_jaccard` = fraction of equal signature positions. */
  def lshCandidates(banded: DataFrame, id: String): DataFrame = {
    // the two sides of the self-join are canonically identical up to
    // aliases, so AQE's ReuseExchange computes the signature chain once
    // and replays the shuffle for the other side — measured faster than
    // an explicit persistence barrier here (no storage round-trip)
    val a = banded.select(col("band_idx"), col("band_hash"),
      col(id).as("id_a"), col("minhash").as("mh_a"))
    val b = banded.select(col("band_idx"), col("band_hash"),
      col(id).as("id_b"), col("minhash").as("mh_b"))
    a.join(b, Seq("band_idx", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        // denominator = the ACTUAL signature length, not a caller-passed
        // k: a k mismatched with withMinHash's signatures would silently
        // mis-scale the estimate (agreement/32 reported over 16 reaches
        // 2.0) — reading it from the data keeps the estimate
        // self-consistent by construction
        r(arrayEqCount(col("mh_a"), col("mh_b")).cast("double") / size(col("mh_a")), 4)
          .as("est_jaccard"))
      .distinct()
  }

  /** H2 at scale: LSH-prefiltered exact near-dup — MinHash band join
    * proposes candidates, then ONLY those pairs get exact shingle
    * Jaccard scoring. This is the 100 TB dedup plan: candidate count is
    * ~(true near-dups + s-curve false positives), so the quadratic
    * exact-verify step touches a vanishing fraction of the corpus
    * (vs [[jaccardPairs]]' full within-block cross product, which is
    * the correctness baseline but O(block²)). */
  def lshVerifiedPairs(df: DataFrame, id: String, text: Column,
                       k: Int = 16, bands: Int = 4,
                       shingleN: Int = 3, threshold: Double = 0.8): DataFrame = {
    // the candidate set is consumed TWICE (id extraction below, final
    // scoring join) and the shingled candidates twice more (sh_a,
    // sh_b) — without a persistence barrier Catalyst replans the whole
    // corpus-sized MinHash+band chain under every consumer (measured
    // 3 full document scans in the q37 plan). Both intermediates are
    // candidate-sized (vanishing vs the corpus), so checkpointing is
    // cheap at any scale; unlike plan-keyed .cache() the barrier dies
    // with this DataFrame (no cross-query cache pollution, and a
    // re-built query honestly recomputes).
    val cands = OpUtils.barrier(lshCandidates(
      withLshBands(withMinHash(df, text, k, shingleN), k, bands), id)
      .select(col("id_a"), col("id_b")))
    // shingle ONLY the documents that appear in a candidate pair — the
    // whole point of LSH prefiltering is that this is a vanishing
    // fraction of the corpus. No broadcast hint: when the candidate set
    // IS small, AQE converts the semi-join to a broadcast join from the
    // runtime shuffle statistics; when a pathological corpus makes it
    // large, the plan degrades to a shuffled semi-join instead of
    // OOM-ing the driver on an unconditional broadcast.
    val candIds = cands
      .select(explode(array(col("id_a"), col("id_b"))).as("_cid")).distinct()
    val sh = OpUtils.barrier(withShingles(
        df.join(candIds, col(id) === col("_cid"), "left_semi"),
        text, shingleN)
      .select(col(id).as("_sid"), col("sh")))
    cands
      .join(sh.withColumnRenamed("sh", "sh_a"), col("id_a") === col("_sid"))
      .drop("_sid")
      .join(sh.withColumnRenamed("sh", "sh_b"), col("id_b") === col("_sid"))
      .drop("_sid")
      .withColumn("n_common", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      // the same _den > 0 guard jaccardPairs carries: today shingle-
      // less docs can't reach here (their band hashes are NULL, a law
      // defined in HashUtil two files away), but relying on that
      // non-local invariant left an ANSI DIVIDE_BY_ZERO landmine for
      // any future candidate source that admits empty shingle sets
      .withColumn("_den",
        (size(col("sh_a")) + size(col("sh_b")) - col("n_common")).cast("double"))
      .withColumn("jaccard",
        when(col("_den") > 0, col("n_common").cast("double") / col("_den")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("n_common"), r(col("jaccard"), 4).as("jaccard"))
  }

  /** Training-data DECONTAMINATION: flag corpus documents sharing at
    * least `minOverlap` distinct word-`shingleN`-gram shingles with an
    * eval-set document — the benchmark-leakage guard run before
    * training. Inverted-index shape, NOT all-pairs: both sides explode
    * to (doc, shingle) postings and equality-join on the shingle;
    * `n_overlap` is the DISTINCT-shingle intersection of the pair
    * (set semantics: a replayed duplicate row of either document adds
    * no evidence — without the distinct, a replica would double every
    * match count and push sub-threshold pairs over `minOverlap`, the
    * dup-key dirt class). The eval side is benchmarks
    * (thousands of docs) against a corpus of billions — AQE broadcasts
    * the exploded eval postings from runtime stats while the corpus
    * side streams; at 100 TB, bucket the join on a 64-bit hash of the
    * shingle and keep the string as payload for exactness.
    * Output: (doc_id, eval_id, n_overlap).
    *
    * `excludeSameId` (default true) drops same-id pairs — correct when
    * the eval set is SAMPLED FROM the corpus and shares its id space
    * (a doc trivially overlaps itself). Set it FALSE when the eval set
    * is an independent dataset whose ids merely happen to collide with
    * corpus ids (both auto-incrementing from 0): there a same-id pair
    * is a REAL contamination candidate and the exclusion would
    * silently suppress its flag. */
  def decontaminate(corpus: DataFrame, evalSet: DataFrame, id: String,
                    text: Column, shingleN: Int = 3,
                    minOverlap: Int = 3,
                    excludeSameId: Boolean = true): DataFrame = {
    val c = withShingles(corpus, text, shingleN)
      .select(col(id).as("c_id"), explode(col("sh")).as("shingle"))
    val e = withShingles(evalSet, text, shingleN)
      .select(col(id).as("e_id"), explode(col("sh")).as("shingle"))
    c.join(e, "shingle")
      .filter(if (excludeSameId) col("c_id") =!= col("e_id") else lit(true))
      .groupBy(col("c_id"), col("e_id"))
      .agg(countDistinct(col("shingle")).as("n_overlap"))
      .filter(col("n_overlap") >= minOverlap)
      .select(col("c_id").as("doc_id"), col("e_id").as("eval_id"),
        col("n_overlap"))
  }

  /** Per-document contamination SCORE: the fraction of a corpus
    * document's distinct word-`shingleN`-gram shingles that appear
    * anywhere in the eval set. [[decontaminate]] answers "which docs
    * leak?" with a pairwise threshold; this answers the graded
    * question real pipelines act on — "HOW contaminated is each doc?"
    * — which is what gets thresholded, audited, and reported per
    * benchmark release.
    *
    * Scale: the eval side collapses to its DISTINCT shingle set
    * (benchmarks are thousands of docs — the set is tiny next to the
    * corpus), so AQE broadcasts it and the corpus postings NEVER
    * shuffle for the join; the only corpus-sized exchange is the
    * per-doc re-aggregation, which map-side partial counting reduces
    * to one row per (doc, partition). Docs with fewer than `shingleN`
    * tokens have no shingles and are absent from the output (the same
    * no-shingles law as the dedup family).
    *
    * Output: (id, n_shingles, n_hit, contamination ∈ [0,1]). */
  def contaminationScore(corpus: DataFrame, evalSet: DataFrame, id: String,
                         text: Column, shingleN: Int = 3): DataFrame = {
    val evalShingles = withShingles(evalSet, text, shingleN)
      .select(explode(col("sh")).as("shingle")).distinct()
      .withColumn("_hit", lit(1L))
    withShingles(corpus, text, shingleN)
      .select(col(id), explode(col("sh")).as("shingle"))
      .join(evalShingles, Seq("shingle"), "left")
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_shingles"), count(col("_hit")).as("n_hit"))
      .withColumn("contamination",
        col("n_hit").cast("double") / col("n_shingles").cast("double"))
  }

  /** [[decontaminate]] with the 100 TB shuffle diet the class doc
    * promises: the corpus postings shuffle as `(c_id, xxhash64(shingle))`
    * — 16 bytes per posting instead of the full shingle string (a
    * 3-gram of words is ~20-40 bytes, and the string otherwise rides
    * every exchange). The prune is LOSSLESS: equal strings always hash
    * equal, so a hash-count per (corpus doc, eval doc) pair is >= the
    * true shingle intersection — filtering on it can only keep false
    * candidates (hash collisions), never drop a true one. Exactness is
    * then restored the LSH-verify way: the surviving corpus slice —
    * contaminated docs are a vanishing fraction of a real corpus —
    * re-runs the exact string-join [[decontaminate]], whose shuffles
    * are candidate-sized. Output contract identical to
    * [[decontaminate]]: (doc_id, eval_id, n_overlap). */
  def decontaminateHashed(corpus: DataFrame, evalSet: DataFrame,
                          id: String, text: Column, shingleN: Int = 3,
                          minOverlap: Int = 3,
                          excludeSameId: Boolean = true): DataFrame = {
    // NO materialization barrier on the hash pass, deliberately: the
    // hashed postings have exactly ONE consumer (the candidate join),
    // so there is no recomputation to guard against, and a barrier
    // here would itself shuffle the corpus text/shingle STRINGS —
    // defeating the whole byte diet (measured: barrier bytes dominated
    // both variants identically). Shingle → hash runs fused behind the
    // scan; the first exchange this side ever sees carries (long,
    // long) postings.
    def hashed(df: DataFrame, as: String) = df
      .select(col(id).as(as), explode(shingles(tokens(text), shingleN)).as("shingle"))
      .select(col(as), xxhash64(col("shingle")).as("h"))
    val cH = hashed(corpus, "c_id")
    val eH = hashed(evalSet, "e_id")
    val candidates = cH.join(eH, "h")
      .filter(if (excludeSameId) col("c_id") =!= col("e_id") else lit(true))
      .groupBy(col("c_id"), col("e_id"))
      .agg(count(lit(1)).as("n_hash"))
      .filter(col("n_hash") >= minOverlap)
      .select(col("c_id").as(id)).distinct()
    decontaminate(corpus.join(candidates, Seq(id), "left_semi"),
      evalSet, id, text, shingleN, minOverlap, excludeSameId)
  }

  /** Near-dup PAIRS → duplicate CLUSTERS: connected components of the
    * pair graph by iterative min-label propagation. Every vertex
    * starts labeled with itself; each round it adopts the minimum
    * label among itself and its neighbors; at the fixpoint the label
    * is the component's minimum member id — the canonical cluster id.
    * This is the step production dedup needs after [[lshVerifiedPairs]]:
    * transitive duplicates (A≈B, B≈C but A≉C) must share ONE keeper,
    * which pairwise output alone cannot express.
    *
    * Scale: each round is one equi-join + one aggregation, both
    * hash-partitioned on the vertex id; rounds = graph diameter.
    * Near-dup clusters are near-cliques (diameter 1-2), so 2-3 rounds
    * in practice; a per-round [[OpUtils.barrier]] keeps the plan flat
    * (no O(rounds)-deep lineage) and the per-round `count` action that
    * detects convergence doubles as the materialization point. For
    * adversarial long-chain graphs the published alternating
    * large-star/small-star algorithm converges in O(log n) rounds with
    * the same per-round plan shape — worth swapping in if a corpus
    * ever produces chain-like dup graphs. Fails loudly (with that
    * advice) if `maxRounds` is hit.
    *
    * Output: (id, cluster_id, is_keeper = id == cluster_id), one row
    * per vertex that appears in ≥1 pair; singleton documents are their
    * own trivial clusters and are not emitted. */
  def connectedComponents(pairs: DataFrame, idA: String, idB: String,
                          maxRounds: Int = 50): DataFrame = {
    requireNumericIds(pairs, idA, idB, "connectedComponents")
    val edges = dropNullEdges(pairs, idA, idB)
      .select(col(idA).cast("long").as("src"),
        col(idB).cast("long").as("dst"))
    val und = OpUtils.barrier(edges
      .union(edges.select(col("dst").as("src"), col("src").as("dst"))))
    var labels = OpUtils.barrier(und.groupBy(col("src").as("id"))
      .agg(min(col("dst")).as("nmin"))
      .select(col("id"), least(col("id"), col("nmin")).as("label")))
    var changed = 1L
    var round = 0
    while (changed > 0 && round < maxRounds) {
      val nbrMin = und
        .join(labels.select(col("id").as("dst"), col("label").as("dlabel")), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("dlabel")).as("nlabel"))
      // every vertex came from an edge, so the join is total (inner)
      val step = OpUtils.barrier(labels.join(nbrMin, "id")
        .select(col("id"), col("label"),
          least(col("label"), col("nlabel")).as("next_label")))
      changed = step.filter(col("next_label") < col("label")).count()
      labels = step.select(col("id"), col("next_label").as("label"))
      round += 1
    }
    if (changed > 0) throw new IllegalStateException(
      s"connectedComponents: not converged after $maxRounds rounds — the " +
        "pair graph has extreme diameter; raise maxRounds or switch to " +
        "alternating large-star/small-star propagation for O(log n) rounds")
    labels.select(col("id"), col("label").as("cluster_id"),
      (col("id") === col("label")).as("is_keeper"))
  }

  /** O(log n)-round twin of [[connectedComponents]]: alternating
    * large-star / small-star edge rewriting (the published MapReduce
    * connected-components algorithm). Where min-label propagation
    * needs diameter rounds (a 10⁶-vertex chain = 10⁶ rounds), the
    * star operations halve star heights geometrically — logarithmic
    * rounds on ANY graph shape, each round one aggregation + one join
    * + distinct over the edge set only:
    *  - large-star(u): every neighbor v > u re-points to
    *    m = min(Γ(u) ∪ u);
    *  - small-star(u): every neighbor v ≤ u (and u itself) re-points
    *    to m = min(Γ≤(u) ∪ u).
    * Both preserve connectivity and only decrease edge endpoints, so
    * the fixpoint is a star per component rooted at its minimum; the
    * convergence check is an exact symmetric set difference (the edge
    * set is pair-sized, vanishing vs the corpus). Use this form when a
    * dup graph may be chain-like; output contract is identical to
    * [[connectedComponents]]. */
  def connectedComponentsStar(pairs: DataFrame, idA: String, idB: String,
                              maxRounds: Int = 50): DataFrame = {
    requireNumericIds(pairs, idA, idB, "connectedComponentsStar")
    val cleanPairs = dropNullEdges(pairs, idA, idB)
    val verts = OpUtils.barrier(cleanPairs
      .select(col(idA).cast("long").as("id"))
      .union(cleanPairs.select(col(idB).cast("long").as("id")))
      .distinct())
    def bidir(e: DataFrame): DataFrame =
      e.union(e.select(col("v").as("u"), col("u").as("v")))
    // large-star: every edge, processed at its SMALLER endpoint u,
    // re-points the larger endpoint v to m = min(Γ(u) ∪ u). v > u ≥ m,
    // so no self-loops arise.
    def largeStar(e: DataFrame): DataFrame = {
      val nb = bidir(e)
      val m = nb.groupBy("u").agg(min(col("v")).as("nmin"))
        .select(col("u"), least(col("u"), col("nmin")).as("m"))
      nb.filter(col("v") > col("u")).join(m, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
    }
    // small-star: every edge, processed at its LARGER endpoint u,
    // re-points u and each smaller neighbor to m = min(Γ≤(u) ∪ u).
    def smallStar(e: DataFrame): DataFrame = {
      val nb = bidir(e)
      val sm = nb.filter(col("v") < col("u"))
      val m = sm.groupBy("u").agg(min(col("v")).as("m"))
      sm.join(m, "u")
        .select(explode(array(
            struct(col("v").as("a"), col("m").as("b")),
            struct(col("u").as("a"), col("m").as("b")))).as("e"))
        .select(col("e.a").as("u"), col("e.b").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }
    var edges = OpUtils.barrier(cleanPairs
      .select(col(idA).cast("long").as("u"), col(idB).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct())
    var round = 0
    var stable = false
    while (!stable && round < maxRounds) {
      val next = OpUtils.barrier(smallStar(largeStar(edges)))
      // exact symmetric set-difference convergence check — the edge
      // set is pair-sized, so the two extra jobs are cheap at any SF
      stable = next.except(edges).isEmpty && edges.except(next).isEmpty
      edges = next
      round += 1
    }
    if (!stable) throw new IllegalStateException(
      s"connectedComponentsStar: not converged after $maxRounds rounds " +
        "(expected O(log n)) — raise maxRounds")
    // fixpoint is a star per component rooted at its minimum: each
    // vertex's min neighbor (or itself, for roots) IS the cluster id
    val labels = verts.join(
        bidir(edges).groupBy(col("u").as("id")).agg(min(col("v")).as("nmin")),
        Seq("id"), "left")
      .select(col("id"),
        least(col("id"), coalesce(col("nmin"), col("id"))).as("cluster_id"))
    labels.select(col("id"), col("cluster_id"),
      (col("id") === col("cluster_id")).as("is_keeper"))
  }

  /** H2c SimHash: 24-bit signature; bit b is the majority vote of bit b
    * across the shingle hashes (shingles for the same reason as
    * [[withMinHash]]). Near-dups have small Hamming distance. */
  def withSimHash(df: DataFrame, text: Column, bits: Int = 24,
                  shingleN: Int = 3): DataFrame = derived(df)(
    // native fused function (GraftFunctions.shingleSimHash):
    // majority vote per bit over DISTINCT shingle hashes; shingle-less
    // (sub-n-token) documents get a NULL signature — an all-zero
    // simhash would collide every short document into one
    // false-positive near-dup clique
    _.withColumn("simhash", shingleSimHash(tokens(text), shingleN, bits)))

  /** SimHash near-dup pairs within blocks: Hamming distance via
    * bit_count(xor) ≤ maxHamming. Blocks larger than `maxBlock` fail
    * fast (see [[guardBlocks]]). */
  def simHashPairs(df: DataFrame, id: String, blockKey: String,
                   maxHamming: Int,
                   maxBlock: Int = DefaultMaxBlock): DataFrame = {
    val a = guardBlocks(
      df.select(col(blockKey).as("bk"), col(id).as("id_a"),
        col("simhash").as("sh_a")), maxBlock, "simHashPairs")
    val b = df.select(col(blockKey).as("bk"), col(id).as("id_b"),
      col("simhash").as("sh_b"))
    a.join(b, Seq("bk"))
      .filter(col("id_a") < col("id_b"))
      .filter(col("sh_a").isNotNull && col("sh_b").isNotNull)
      .withColumn("hamming",
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("bk"), col("id_a"), col("id_b"), col("hamming"))
  }

  /** H2d at scale: embedding near-dup with LSH-BUCKET blocking — the
    * random-hyperplane bucket (`GraftFunctions.lshBucket`, native)
    * replaces the caller-chosen attribute as the block key, so block
    * sizes are ~n/2^planes regardless of any skewed natural attribute
    * and the pair join is a pure equality join on bucket ids. This is
    * the 100 TB twin of [[embeddingPairs]]: same scoring, blocks from
    * the data's own geometry. Single-probe recall: a true pair
    * splitting on ≥1 hyperplane is missed — raise recall by lowering
    * `planes` (bigger blocks) exactly like single-probe [[Similarity
    * .lshTopK]]. */
  def embeddingPairsLsh(df: DataFrame, id: String, vec: String,
                        planes: Int, dim: Int, threshold: Double,
                        maxBlock: Int = DefaultMaxBlock): DataFrame =
    embeddingPairs(
      df.withColumn("_lsh_bk", lshBucket(col(vec), planes, dim)),
      id, vec, "_lsh_bk", threshold, maxBlock)

  /** Multi-probe twin of [[embeddingPairsLsh]]: one side probes its own
    * bucket plus every Hamming-1 neighbor (one sign-bit flip per
    * hyperplane), so a true pair split by exactly one hyperplane is
    * still found — the recall recovery of `Similarity
    * .lshMultiProbeTopK` applied to dedup. Probing is symmetric
    * (bucket_b ∈ probes(a) ⟺ hamming ≤ 1 ⟺ bucket_a ∈ probes(b)), so
    * with the id_a < id_b orientation every qualifying pair appears
    * EXACTLY once: no distinct pass needed. Cost: ×(planes+1) rows on
    * the probing side of the equality join. */
  def embeddingPairsLshMultiProbe(df: DataFrame, id: String, vec: String,
                                  planes: Int, dim: Int, threshold: Double,
                                  maxBlock: Int = DefaultMaxBlock): DataFrame = {
    val base = derived(df)(_
      .withColumn("_bk0", lshBucket(col(vec), planes, dim))
      .withColumn("_norm", l2Norm(col(vec))))
    val a = base
      .withColumn("bk", OpUtils.hamming1Probes(col("_bk0"), planes))
      .select(col("bk"), col(id).as("id_a"), col(vec).as("v_a"),
        col("_norm").as("n_a"))
    val b = guardBlocks(
      base.select(col("_bk0").as("bk"), col(id).as("id_b"),
        col(vec).as("v_b"), col("_norm").as("n_b")),
      maxBlock, "embeddingPairsLshMultiProbe")
    a.join(b, Seq("bk"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos",
        OpUtils.cosFromNorms(dotProduct(col("v_a"), col("v_b")),
          col("n_a") * col("n_b")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), r(col("cos"), 4).as("cos"))
  }

  /** H2d embedding near-dup: cosine ≥ threshold pairs inside blocks
    * (label, or an IVF/LSH bucket at scale — see
    * [[embeddingPairsLsh]]). Blocks larger than `maxBlock` fail fast
    * (see [[guardBlocks]]). */
  def embeddingPairs(df: DataFrame, id: String, vec: String,
                     blockKey: String, threshold: Double,
                     maxBlock: Int = DefaultMaxBlock): DataFrame = {
    // norms computed once per vector behind the barrier, not per pair
    val normed = derived(df)(_.withColumn("_norm", l2Norm(col(vec))))
    val a = guardBlocks(
      normed.select(col(blockKey).as("bk"), col(id).as("id_a"),
        col(vec).as("v_a"), col("_norm").as("n_a")), maxBlock, "embeddingPairs")
    val b = normed.select(col(blockKey).as("bk"), col(id).as("id_b"),
      col(vec).as("v_b"), col("_norm").as("n_b"))
    a.join(b, Seq("bk"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("_nn", col("n_a") * col("n_b"))
      .withColumn("cos",
        OpUtils.cosFromNorms(dotProduct(col("v_a"), col("v_b")), col("_nn")))
      .filter(col("cos") >= threshold)
      .select(col("bk"), col("id_a"), col("id_b"), r(col("cos"), 4).as("cos"))
  }
}
