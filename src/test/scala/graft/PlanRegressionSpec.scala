package graft

/** Pins the plan-shape properties the engine's 100 TB design claims
  * rest on (SCALE.md / PLANS.md). A refactor that silently adds a
  * shuffle, drops a pushdown, or falls back to an interpreted
  * expression fails HERE, not in a production profile. */
class PlanRegressionSpec extends SparkSpec {

  private def plan(name: String): String =
    Queries.queries(name)(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString

  /** How an executed plan shows a native function: the optimizer has
    * replaced it with a `StaticInvoke` of its `HashUtil` kernel. */
  private def kernel(name: String): String = s"static_invoke(graft.functions.HashUtil.$name("

  test("q20 feature pipeline: ONE hash exchange feeds windows + aggregate") {
    val p = plan("q20_feature_pipeline")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashExchanges === 1,
      s"the 11-feature pipeline must cost exactly one shuffle, got $hashExchanges:\n$p")
  }

  test("q01/q02: filters and projections reach the parquet scan") {
    val p1 = plan("q01_agg_pricing_summary")
    assert(p1.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"q01 filter must push to the scan:\n$p1")
    val p2 = plan("q02_filter_project")
    assert(p2.contains("PushedFilters: [") && p2.contains("LessThan(l_quantity"),
      s"q02 filters must push to the scan:\n$p2")
    val read = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p2).map(_.group(1)).getOrElse("")
    assert(read.split(",").length === 5,
      s"q02 must read exactly its 5 projected columns, got: $read")
  }

  test("q04 star join: dimensions broadcast, fact side never shuffles for the join") {
    val p = plan("q04_join_star_broadcast")
    assert("BroadcastHashJoin".r.findAllIn(p).length === 2, p)
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashExchanges === 1,   // only the final groupBy
      s"fact side must not shuffle for the dimension joins:\n$p")
  }

  test("ANN paths carry the native bucket/dot expressions, no interpreted folds") {
    val p = plan("q36_similarity_lsh_topk")
    assert(p.contains(kernel("lshBucket")),
      s"native bucket kernel missing:\n$p")
    assert(p.contains(kernel("dot")),
      s"native dot product kernel missing:\n$p")
    assert(!p.contains("aggregate(sequence"),
      s"no interpreted HOF fold may remain on the ANN path:\n$p")
  }

  test("q30 exact dedup: single hash exchange on the content digest") {
    val p = plan("q30_dedup_exact")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashExchanges === 1, s"exact dedup is one shuffle by definition:\n$p")
  }

  test("Explain prints the exact-dedup NUL sentinels as escapes, never raw") {
    val p = Explain.formatted(Queries.queries("q30_dedup_exact")(spark, sf("sf0.001")))
    val raw = p.filter(c => c < ' ' && c != '\n' && c != '\t')
    assert(raw.isEmpty, s"raw control characters ${raw.map(_.toInt)} in:\n$p")
    assert(p.contains("\\u0000null:") && p.contains("\\u0000row:"),
      s"the sentinels must print escaped:\n$p")
  }

  /** Every query with a per-group top-k (`row_number`/`rank` ≤ k over
    * a partitioned window). Spark's `InferWindowGroupLimit` plans each
    * as a `WindowGroupLimit`. `true`: the child needs an exchange, and
    * a Partial limit must sit directly below it so the shuffle carries
    * per-partition survivors only. `false`: the child is already
    * clustered on the group keys, so only the Final limit plans. */
  private val windowGroupLimits: Seq[(String, Boolean)] = Seq(
    "q08_window_topk_per_group" -> true, "q25_moving_avg" -> false,
    "q28_topk_custom_operator" -> true, "q35_similarity_topk" -> true,
    "q36_similarity_lsh_topk" -> true, "q38_similarity_ivf_topk" -> true,
    "q39_curation_pipeline" -> true, "q63_first_last_nth" -> false,
    "q65_similarity_multiprobe_topk" -> true, "q68_token_heavy_hitters" -> true,
    "q76_source_caps" -> true, "q78_curation_clustered" -> true,
    "q87_tfidf_topterms" -> true, "q110_rrf_hybrid" -> true,
    "q112_similarity_quantized_topk" -> true, "q116_cluster_balanced_sample" -> true,
    "q117_corpus_manifest" -> true, "q122_hard_negatives" -> true,
    "q127_source_distinct_kmv" -> true, "q144_entry_channel" -> true,
    "q151_group_quantile_sketch" -> true, "q160_top_ngram_repetition" -> true,
    "q171_zipf_fit" -> true, "q179_pq_adc_topk" -> true,
    "q180_ivfpq_topk" -> true, "q181_pq_recall" -> true,
    "q186_pq_rerank_topk" -> true, "q199_ann_label_ndcg" -> true,
    "q206_source_keyness" -> true, "q209_cluster_keywords" -> true,
    "q212_ivf_recall" -> true)

  test("top-k queries plan WindowGroupLimit, Partial below the exchange") {
    // tree lines print `+- ` / `:- ` prefixes; a node's parent is the
    // nearest line above it that starts further left
    def indent(l: String): Int = l.indexWhere(c => !" +-:".contains(c))
    windowGroupLimits.foreach { case (name, exchanged) =>
      val p = plan(name)
      assert(p.contains("WindowGroupLimit") && !p.contains("TopKPerGroup"),
        s"$name must plan Spark's WindowGroupLimit:\n$p")
      val lines = p.linesIterator.toIndexedSeq
      val partials = lines.indices.filter(i =>
        lines(i).contains("WindowGroupLimit") && lines(i).endsWith(", Partial"))
      if (exchanged) {
        assert(partials.nonEmpty, s"$name must plan a Partial limit:\n$p")
        partials.foreach { i =>
          val parent = lines.take(i).reverse.find(l => indent(l) < indent(lines(i)))
          assert(parent.exists(_.contains("Exchange hashpartitioning")),
            s"$name: the Partial limit must feed the hash exchange:\n$p")
        }
      } else {
        assert(partials.isEmpty && p.contains(", Final"),
          s"$name reuses its child's partitioning: Final limit only:\n$p")
      }
    }
  }

  /** The Window that numbers the rows reads the Final limit directly, so
    * it sorts and numbers per-group survivors only, never the whole
    * group. */
  private def windowOverFinalLimit(p: String): Boolean =
    p.linesIterator.sliding(2).exists {
      case Seq(window, child) => window.contains("Window [") &&
        child.contains("WindowGroupLimit") && child.endsWith(", Final")
      case _ => false
    }

  test("q68/q76: corpus top-k plans WindowGroupLimit; the Window sees survivors") {
    Seq("q68_token_heavy_hitters", "q76_source_caps").foreach { name =>
      val p = plan(name)
      assert(windowOverFinalLimit(p), s"$name: the Window must read the Final limit:\n$p")
    }
  }

  test("q171 zipf fit: the per-source top-N cut plans WindowGroupLimit") {
    val p = plan("q171_zipf_fit")
    assert(windowOverFinalLimit(p), s"the Window must read the Final limit:\n$p")
  }

  test("q69 decontamination: native shingle extraction, no interpreted chain") {
    val p = plan("q69_decontaminate")
    assert(p.contains(kernel("shingles")),
      s"native shingles kernel missing:\n$p")
    assert(!p.contains("array_distinct(transform"),
      s"no interpreted shingle chain may remain on the decontamination path:\n$p")
  }

  test("q85 hashed decontamination: postings shuffle 8-byte hashes, never all-pairs") {
    val p = plan("q85_decontaminate_hashed")
    assert(p.contains("xxhash64"),
      s"the candidate pass must join on shingle hashes:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"decontamination must stay an equality join:\n$p")
  }

  test("q86 bloom semi-join: the prefilter predicate sits on the probe scan, below the join") {
    val p = plan("q86_bloom_semi_join")
    val joinPos = p.indexOf("Join LeftSemi") match {
      case -1 => p.indexOf("BroadcastHashJoin")
      case i  => i
    }
    val probePredicate = p.indexOf("might_contain")
    assert(probePredicate >= 0, s"Bloom predicate missing from the plan:\n$p")
    assert(joinPos >= 0 && probePredicate > joinPos,
      s"might_contain must filter BELOW the semi-join (tree prints top-down):\n$p")
  }

  test("q87 TF-IDF: one corpus scan for postings, zero-column scan for N, ranking via top-k rewrite") {
    val p = plan("q87_tfidf_topterms")
    val reads = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(p).map(_.group(1)).toSeq
    assert(reads.count(_.nonEmpty) === 1,
      s"exactly one scan may read text (postings); got schemas $reads:\n$p")
    assert(reads.count(_.isEmpty) === 1,
      s"the doc-count scan must read ZERO columns (metadata count); got $reads:\n$p")
  }

  test("q91 BM25: query-term filter sits below the first exchange; bounded-heap cut") {
    val p = plan("q91_bm25_retrieval")
    assert(p.contains("TakeOrderedAndProject"),
      s"global top-k must be a bounded-heap sort-limit, not a full sort:\n$p")
    // the IN-filter on the query terms must run before any exchange —
    // the shuffle carries the query-term posting sliver, not the corpus
    val firstExchange = p.indexOf("Exchange hashpartitioning")
    val termFilter = p.indexOf(" IN (spark,window,hash)")
    assert(termFilter >= 0 && firstExchange >= 0 && termFilter > firstExchange,
      // executedPlan prints top-down: a LATER string offset = LOWER in
      // the plan = runs EARLIER; the filter must print after (below)
      // the first exchange
      s"term filter must sit below the first exchange:\n$p")
  }

  test("q92 weighted sample: pure projection + bounded-heap cut, zero shuffles") {
    val p = plan("q92_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange"),
      s"the weighted sample must not shuffle:\n$p")
  }

  test("q95 snapshot diff: digests join co-partitioned, payloads stay off the exchange") {
    val p = plan("q95_snapshot_diff")
    assert(p.contains("FullOuter"), p)
    // both exchanges must carry (id, md5) projections, never text
    val exchanges = "Exchange hashpartitioning\\(id#\\d+L".r.findAllIn(p).length
    assert(exchanges === 2, s"both version sides co-partition on id:\n$p")
    assert("md5".r.findAllIn(p).nonEmpty && !p.contains("text#1]: string"),
      s"the join input must be digests, not payloads:\n$p")
  }

  test("q114 bigram LM: both model tables barriered — ONE corpus scan in the scoring plan") {
    val df = Queries.queries("q114_bigram_logprob")(spark, sf("sf0.001"))
    df.count()
    val p = df.queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans === 1,
      s"the scoring join must read the checkpointed bigram/unigram models, " +
        s"leaving one corpus scan for the posting side (got $scans):\n$p")
    assert(p.contains(kernel("positionedShingles")),
      s"bigram generation must stay on the native kernel:\n$p")
  }

  test("q115 OOV rate: vocab cut is a bounded heap that BROADCASTS to the token stream") {
    val p = plan("q115_oov_rate")
    assert(p.contains("TakeOrderedAndProject"),
      s"the top-V vocabulary cut must be per-partition bounded heaps:\n$p")
    assert("BroadcastHashJoin .*LeftOuter".r.findFirstIn(p).nonEmpty,
      s"the V-row vocab must broadcast — the token stream never shuffles " +
        s"for the membership join:\n$p")
  }

  test("q117 corpus manifest: dedup keeper rides the top-k rewrite; pruned shuffle diet") {
    val p = plan("q117_corpus_manifest")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashExchanges === 2,
      s"gate and split are projections; only the dedup digest exchange and " +
        s"the shard aggregation may shuffle (got $hashExchanges):\n$p")
  }

  test("q122 hard negatives: bucket equality join, never all-pairs") {
    val p = plan("q122_hard_negatives")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"mining must stay a bucket equality join, never all-pairs:\n$p")
  }

  test("q123/q124 sketches: shared corpus table barriered — zero corpus scans above it") {
    // the count table (q123) / posting table (q124) are localCheckpoint
    // barriers; every consumer branch must read the checkpointed RDD,
    // not replan the corpus explode (probed: 3 and 5 scans without)
    Seq("q123_cms_heavy_hitters", "q124_source_overlap_kmv").foreach { name =>
      val p = plan(name)
      assert(!p.contains("Scan parquet"),
        s"$name must read only the barriered table above the checkpoint:\n$p")
      assert(p.contains("Scan ExistingRDD"), s"$name barrier missing:\n$p")
    }
  }

  test("q126 quantile sketch: heap cut via TakeOrderedAndProject, no Window, barriered scan") {
    val p = plan("q126_quantile_sketch")
    assert(p.contains("TakeOrderedAndProject"),
      s"the sample cut must plan as the bounded heap, not a sort/window:\n$p")
    assert(!p.contains("Window"), s"no Window may appear on the sketch path:\n$p")
    assert(!p.contains("Scan parquet") && p.contains("Scan ExistingRDD"),
      s"lineitem must be read once through the barrier:\n$p")
    // the 5-row estimate/N sides probe as broadcasts — the corpus side
    // must never shuffle for the gate join
    assert(p.contains("BroadcastNestedLoopJoin"), s"gate probe must broadcast:\n$p")
  }

  test("q134 triangle count: shared graph tables barriered — zero source scans in the plan") {
    val p = plan("q134_triangle_count")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans === 0,
      s"the canonical-edge/degree/oriented barriers regressed — each of their " +
        s"3-4 consumers would re-derive the corpus-scale distinct (got $scans " +
        s"source scans; probed at 237 plan operators unbarriered):\n$p")
    assert(p.contains("Scan ExistingRDD"), s"barrier leaves must remain:\n$p")
  }

  test("q83 unigram LM: count table barriered — ONE corpus scan in the scoring plan") {
    // force execution so the AQE plan is final and the checkpoint exists
    val df = Queries.queries("q83_unigram_logprob")(spark, sf("sf0.001"))
    df.count()
    val p = df.queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans === 1,
      s"unscoped count reuse regressed — the totals/join sides must read the " +
        s"checkpointed vocab table, not rescan the corpus (got $scans scans):\n$p")
  }

  // the four round-9 bench-rotation heavies: pin the plan shapes their
  // recorded sf0.1 numbers (PLANS.md round 9) rest on

  test("q100 quality gate: one corpus scan, one hash exchange for the stratum window") {
    val p = plan("q100_quality_gate")
    assert("Scan parquet".r.findAllIn(p).length === 1,
      s"the gate is one pass over documents:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 1,
      s"text stats are pure projection — only the percent_rank window may shuffle:\n$p")
  }

  test("q131 EWMA: the dyadic window chain shares ONE exchange over the events scan") {
    val p = plan("q131_ewma_value")
    assert("Scan parquet".r.findAllIn(p).length === 1,
      s"one pass over events:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 1,
      s"every dyadic-window level must reuse the per-user partitioning:\n$p")
  }

  test("q105 semantic keeplist: the final verdict join moves ids, never embeddings") {
    val df = Queries.queries("q105_semantic_dedup_keeplist")(spark, sf("sf0.001"))
    df.count()                          // finalize AQE + the component barriers
    val p = df.queryExecution.executedPlan.toString
    // the corpus side of the components left-join must be pruned to the
    // 8-byte id — a ReadSchema still carrying the float array means the
    // verdict join shuffles the whole embedding corpus at scale
    assert(p.contains("ReadSchema: struct<vec_id:bigint>"),
      s"corpus side of the verdict join must read only vec_id:\n$p")
    assert(!p.contains("embedding:array"),
      s"no full-width embedding scan may appear in the final join plan " +
        s"(pairs + components are consumed through their barriers):\n$p")
  }

  test("q102 incremental curation: snapshot diff reads each side once (barriered)") {
    val df = Queries.queries("q102_incremental_curation")(spark, sf("sf0.001"))
    df.count()                          // finalize AQE so barriers are planned
    val p = df.queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans <= 2,
      s"the round-8 barrier regressed — the three status filters must read " +
        s"the checkpointed diff, not rescan a snapshot per consumer (got $scans):\n$p")
  }

  test("q153 shared spans: one corpus scan above the df barrier, native grams, equality joins only") {
    val df = Queries.queries("q153_shared_spans")(spark, sf("sf0.001"))
    df.count()                          // finalize AQE so barriers are planned
    val p = df.queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans === 1,
      s"the posting side is the only corpus read — the document-frequency " +
        s"side must come through its barrier (got $scans):\n$p")
    assert(p.contains(kernel("positionedShingles")),
      s"posting generation must stay on the native kernel:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the shared-gram filter must stay an equality (semi) join:\n$p")
  }

  test("q155/q156 graph rounds: every round barriered — zero source scans in the final plan") {
    Seq("q155_label_propagation", "q156_hits").foreach { name =>
      val p = plan(name)
      val scans = "Scan parquet".r.findAllIn(p).length
      assert(scans === 0,
        s"$name: a per-round barrier regressed — consumers would re-derive " +
          s"the edge-scale chain per round (got $scans source scans):\n$p")
      assert(p.contains("Scan ExistingRDD"), s"barrier leaves must remain:\n$p")
    }
  }

  test("q159/q162/q163 per-row corpus heuristics: zero hash exchanges behind the scan") {
    Seq("q159_gopher_quality", "q162_line_repetition", "q163_c4_line_clean")
      .foreach { name =>
        val p = plan(name)
        val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).length
        assert(hashExchanges === 0,
          s"$name is a pure per-row map (only the output sort may " +
            s"range-partition), got $hashExchanges hash exchanges:\n$p")
      }
  }

  test("q160/q161 gram-count repetition: ONE corpus scan (explode_outer, no null-law re-join)") {
    Seq("q160_top_ngram_repetition", "q161_dup_ngram_repetition").foreach { name =>
      val p = plan(name)
      assert(p.contains(kernel("positionedShingles")),
        s"$name must generate occurrences via the native kernel:\n$p")
      val scans = "Scan parquet".r.findAllIn(p).length
      assert(scans === 1,
        s"$name must cover gramless/null docs from the SAME scan " +
          s"(explode_outer), not re-read the corpus for the null law " +
          s"(got $scans scans):\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$name must stay equality-join shaped:\n$p")
    }
  }

  test("q164 JS divergence: count table barriered, pair table broadcast onto vocab postings") {
    val df = Queries.queries("q164_source_js_divergence")(spark, sf("sf0.001"))
    df.count()                          // finalize AQE so barriers are planned
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"the group-pair table must broadcast, not shuffle the postings:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"pair expansion must stay a broadcast equality join:\n$p")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans === 0,
      s"every consumer must read the barriered count table — a parquet " +
        s"scan here means the corpus explode+agg replans per consumer " +
        s"(got $scans):\n$p")
  }

  test("q169 NFC basis: native normalization, zero hash exchanges behind the scan") {
    val p = plan("q169_nfc_dedup_basis")
    assert(p.contains(kernel("nfc")),
      s"normalization must stay on the native kernel:\n$p")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashExchanges === 0,
      s"the basis is a pure per-row map, got $hashExchanges hash exchanges:\n$p")
  }

  test("q167 winnowing digest: native kernel, zero hash exchanges behind the scan") {
    val p = plan("q167_winnowing_digest")
    assert(p.contains(kernel("winnow")),
      s"fingerprint selection must stay on the native kernel:\n$p")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashExchanges === 0,
      s"the digest is a pure per-row map (only the output sort may " +
        s"range-partition), got $hashExchanges hash exchanges:\n$p")
  }

  test("q168 winnowing pairs: kept postings barriered, equality self-join only") {
    val df = Queries.queries("q168_winnowing_pairs")(spark, sf("sf0.001"))
    df.count()                          // finalize AQE so barriers are planned
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the match join must stay an fp-equality join:\n$p")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans === 0,
      s"both self-join sides must read the barriered kept postings " +
        s"(got $scans parquet scans):\n$p")
  }

  test("q166 centroid cosine: component table barriered — zero source scans in the final plan") {
    val df = Queries.queries("q166_label_centroid_cosine")(spark, sf("sf0.001"))
    df.count()
    val p = df.queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans === 0,
      s"norms + both dim-join sides must read the barriered (group, dim) " +
        s"sum table, not re-explode the corpus (got $scans scans):\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the dim join must stay an equality join:\n$p")
  }

  test("q174 funnel latency: the window chain + aggregation share ONE event exchange") {
    val p = plan("q174_funnel_latency")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    // one (key) exchange for the chained windows + per-key agg; the
    // 1-row final aggregation adds a SinglePartition exchange, not a
    // hash one
    assert(hashExchanges === 1,
      s"funnel latency must reuse q128's single event-scale shuffle, " +
        s"got $hashExchanges:\n$p")
  }

  test("q177/q178 debounce + SCD2: one (key[,type]) exchange, one sort over events") {
    Seq("q177_event_debounce" -> 2,  // window keys + burst-level agg exchange
        "q178_scd2_intervals" -> 2   // window keys + version-level agg exchange
    ).foreach { case (name, maxHash) =>
      val p = plan(name)
      val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(hashExchanges <= maxHash,
        s"$name grew extra shuffles ($hashExchanges > $maxHash):\n$p")
      val eventSorts = "Sort \\[".r.findAllIn(p).length
      // windows + the final presentation ORDER BY: the event-scale
      // (ts, tie) sort must be shared by lag/sum/groupBy, not repeated
      assert(eventSorts <= 3,
        s"$name repeats its event-scale sort ($eventSorts):\n$p")
    }
  }

  test("q188 CDC merge: no window over the changelog; partial max below every exchange") {
    val p = plan("q188_cdc_merge")
    assert(!p.contains("Window"),
      s"latest-wins must aggregate, never window-sort the changelog:\n$p")
    assert(p.contains("partial_max"),
      s"the struct max must collapse map-side:\n$p")
  }

  test("q189 position attribution: ONE event-scale hash exchange feeds segment + path windows") {
    val p = plan("q189_attribution_position")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    // hash(user) serves the running segment count AND the (user, seg)
    // windows (subset clustering — sort only); + the bounded channel
    // rollup exchange
    assert(hashExchanges <= 2,
      s"attribution must not re-shuffle events per window family, " +
        s"got $hashExchanges:\n$p")
  }

  test("q190 Adamic-Adar: equality wedge join only — no cartesian, no broadcast NL join") {
    val p = plan("q190_adamic_adar")
    assert(!p.contains("CartesianProduct"),
      s"the wedge join must stay an equality join:\n$p")
    // linkEdges' 1-row count broadcast is the ONLY nested-loop shape
    // allowed; the wedge self-join itself must key on the center
    assert(p.contains("hashpartitioning") || p.contains("BroadcastHashJoin"),
      s"the wedge join lost its equality key:\n$p")
  }

  test("q192 KS: the global window sees only the barriered tick table, never events") {
    val p = plan("q192_ks_value_drift")
    // the tick-cell aggregation is BARRIERED (two consumers: cumsums +
    // totals), so the final plan's leaves are the materialized cell
    // table — zero event-scale hash exchanges may remain above it
    assert("Exchange hashpartitioning".r.findAllIn(p).isEmpty,
      s"everything above the barrier is bounded — no hash shuffle belongs here:\n$p")
    assert(p.contains("Scan ExistingRDD"),
      s"the tick table must be barriered below the window:\n$p")
    assert(p.contains("Window") && p.contains("Exchange SinglePartition"),
      s"the cumulative window must run single-partition over cells:\n$p")
    assert(!p.toLowerCase.contains("parquet"),
      s"no event scan may appear above the barrier:\n$p")
  }

  test("q201 entropy: the word-count shape costs exactly two hash exchanges") {
    val p = plan("q201_token_entropy")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashExchanges === 2,
      s"(doc, token) cells then doc cells — two bounded shuffles, got $hashExchanges:\n$p")
  }

  test("q203 bootstrap: one exchange above the barrier, no parquet above it") {
    val p = plan("q203_bootstrap_uplift")
    // the corpus pass lives BELOW the localCheckpoint barrier; above it
    // only the R-bounded replicate table shuffles (rank window + agg)
    assert(!p.toLowerCase.contains("parquet"),
      s"the corpus must be read once, below the barrier:\n$p")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashExchanges <= 1,
      s"only the R-bounded CI derivation may shuffle above the barrier, got $hashExchanges:\n$p")
    assert(p.contains("Scan ExistingRDD"),
      s"the replicate cell table must be barriered:\n$p")
  }

  test("q206 keyness: margins and ranks read the barriered cells, never the corpus") {
    val p = plan("q206_source_keyness")
    assert(!p.toLowerCase.contains("parquet"),
      s"no consumer may re-scan the corpus above the barrier:\n$p")
    assert(p.contains("Scan ExistingRDD"),
      s"the (source, token) cell table must be barriered:\n$p")
  }

  test("q214 binned normalize: ZERO windows in the executed plan — both " +
      "cell-table window chains live behind barriers") {
    val p = plan("q214_quantile_normalize_offgrid")
    // the operator's whole point (PLANS.md r12/r13): no row-cardinality
    // window or sort anywhere — the per-stratum rank and pooled CDF
    // windows run over BOUNDED tick-cell tables that are barriered, so
    // the executed corpus-side plan must contain no Window at all
    assert(!p.contains("Window"),
      s"a Window above the barrier means a corpus-scale rank/sort leaked back in:\n$p")
    assert(p.contains("Scan ExistingRDD"),
      s"the tick-cell tables must be barriered:\n$p")
  }

  test("q38 quant IVF: equality joins only (probes broadcast), native dot, " +
      "no cross product") {
    val p = plan("q38_similarity_ivf_topk")
    assert(p.contains(kernel("dot")), s"native dot product kernel missing:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the probe/query sides must broadcast onto the candidates:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"the IVF serving path must never plan a cross product (that is " +
        s"q212's evaluation-side brute scan, not this query):\n$p")
  }

  test("q108/q208 trained centroids: ONE nested centroid literal, no " +
      "per-centroid literals") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    Seq("q108_kmeans_embeddings", "q208_label_coherence").foreach { name =>
      val plan = Queries.queries(name)(spark, sf("sf0.001"))
        .queryExecution.optimizedPlan
      val lits = plan.flatMap(_.expressions.flatMap(
        _.collect { case l: Literal => l.dataType }))
      val nested = lits.count {
        case ArrayType(ArrayType(DoubleType, _), _) => true
        case _ => false
      }
      val flat = lits.count {
        case ArrayType(DoubleType, _) => true
        case _ => false
      }
      assert(nested === 1 && flat === 0,
        s"$name must carry its centroids as exactly one array<array<double>> " +
          s"literal (got $nested) and no array<double> literal (got $flat):\n$plan")
    }
  }

  test("q185 edit-distance join: one variant self-join seen whole — no " +
      "Window, no gram-frequency aggregate, no barrier") {
    val p = plan("q185_edit_distance_join")
    assert(!p.contains("Window"), s"no per-string ranking Window may return:\n$p")
    assert(!p.contains("Scan ExistingRDD") && p.contains("Scan parquet"),
      s"no barrier may cut the plan above the customer scan:\n$p")
    // the only aggregates are the block guard's count per variant key
    // and the unordered-pair distinct
    val aggKeys = "HashAggregate\\(keys=\\[([^\\]]*)\\]".r.findAllMatchIn(p)
      .map(_.group(1).replaceAll("#\\d+L?", "")).toSet
    assert(aggKeys === Set("bk", "id_a, id_b"),
      s"unexpected aggregate keys $aggKeys:\n$p")
  }
}
