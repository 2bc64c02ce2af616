package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`SURVEY.md` §2 H3).
  *
  * Two strategies:
  *  - [[bruteForceTopK]] — exact: broadcast the (small) query set
  *    against the full corpus, rank per query. The right plan when
  *    |queries| is small: the corpus streams through one scan, no
  *    corpus-side shuffle except the final per-query top-k.
  *  - [[lshTopK]] — scale path: random-hyperplane LSH buckets both
  *    sides, candidates come only from the query's bucket, then exact
  *    re-rank. At 100 TB the equality join on bucket ids replaces the
  *    O(|Q|·|C|) cross product; recall is tuned by `planes` (bucket
  *    granularity 2^planes).
  *
  * Cost discipline: L2 norms (and LSH buckets) are computed ONCE per
  * vector on the pre-join side behind a repartition barrier — never
  * per candidate pair (higher-order-function expressions are
  * interpreted; letting projection collapse pull them through a join
  * multiplies their cost by the fan-out). The per-pair work is exactly
  * one dot product.
  *
  * Both per-row kernels — the dot product and the LSH bucket — are
  * native functions (`GraftFunctions.dotProduct` / `lshBucket`): tight
  * loops called from whole-stage codegen,
  * bit-identical to their declarative higher-order-function specs and
  * the DuckDB oracles. No interpreted expression remains on any ANN
  * query path.
  */
object Similarity {

  import Clustering.{candStructs, centroidLit, distTo, nearest, quantize,
    slicedRows}
  import OpUtils.{cosFromNorms, materialize}

  /** The candidate-scoring step every ANN variant shares: optionally
    * drop the self-pair and compute cosine from the pre-join norms —
    * the per-pair work is exactly one dot product.
    *
    * `excludeSameId` (default true) is correct when queries are drawn
    * FROM the corpus (the engine's own queries all do this — a vector
    * is trivially its own nearest neighbor). Pass FALSE when the two
    * sides are independent datasets whose ids merely collide (both
    * auto-incrementing from 0): there a same-id pair is a REAL
    * neighbor and the exclusion would silently drop it — the same
    * id-space law as Dedup.decontaminate's excludeSameId. (A NULL id
    * on either side nulls the =!= predicate and drops the pair under
    * the default; with independent non-null ids use false.) */
  private def cosinePairs(joined: DataFrame, qId: String, cId: String,
                          scoreCol: String = "cos",
                          excludeSameId: Boolean = true): DataFrame =
    joined.filter(if (excludeSameId) col(qId) =!= col(cId) else lit(true))
      .withColumn(scoreCol, cosFromNorms(
        dotProduct(col("q_vec"), col("c_vec")), col("q_norm") * col("c_norm")))

  /** The bucket+norm side preparation every LSH variant shares (one
    * copy, or the variants' recall/cost claims drift apart): compute
    * the vector's LSH bucket and L2 norm ONCE behind the
    * materialization barrier, never per candidate pair. NULL vectors
    * drop here — they bucket to 0 (the null-bucket law) but can never
    * score, so indexing them would hand every bucket-0 query NULL-cos
    * "neighbors" whenever it has fewer than k real candidates (the
    * same drop [[graft.streaming.StreamingSimilarity]] applies at
    * ingest). */
  private def bucketedSide(df: DataFrame, vecCol: String, normCol: String,
                           planes: Int, dim: Int): DataFrame =
    materialize(df
      .filter(col(vecCol).isNotNull)
      .withColumn("bucket", lshBucket(col(vecCol), planes, dim))
      .withColumn(normCol, l2Norm(col(vecCol))))

  /** The prep every trained-index entry point runs ONCE per side
    * before any training or scoring: NULL vectors drop (the family
    * law); a vector of any length but `dim` refuses in-plan
    * ([[GraftFunctions.vectorDimGuard]] — the native dot would
    * otherwise fold it to the shorter length, on the corpus AND the
    * query side); exact replicas collapse and CONFLICTING same-id
    * vectors refuse ([[Clustering.dedupKeyed]]); then an EAGER
    * [[OpUtils.barrier]]. NOTE the API consequence for every public caller
    * (pqTopK / ivfPqTopK / ivfTopKQuant / pqRecall / ivfRecall /
    * pqRerankTopK): building their DataFrame runs Spark jobs — and
    * fires the guard and the conflicting-vector assert — at
    * CONSTRUCTION time, not at the first action. The trained family
    * consumes each side many times (m codebook trainings + the coarse
    * quantizer + codes/LUT/rerank/ground-truth passes); without the
    * barrier every consumer replans the scan + dedup exchange from
    * the source (r14 bench: q179 spent 13 s re-running it 9×, ~1.5 s
    * after). Eager, not lazy: the codebook trainings run CONCURRENTLY
    * (see [[pqCodebooksAsync]]) and a lazy checkpoint would let the
    * first concurrent wave compute the same partitions redundantly
    * before the cache fills.
    *
    * The corpus side is spread by [[OpUtils.materialize]]: AQE
    * coalesces the small dedup shuffle to very few partitions, and
    * the checkpoint would pin that width for every downstream
    * compute-heavy stage (the PQ encode ran near-single-task on it).
    * The QUERY side is not spread: it is small by the family contract
    * (a sample or a serving batch — it broadcasts into every join),
    * and spreading ~20 rows over the session parallelism pinned 32
    * near-empty partitions under every query-side consumer stage. A
    * large query side therefore keeps the few partitions the dedup
    * shuffle leaves. Returns (queries, corpus). */
  private def prepSides(queries: DataFrame, corpus: DataFrame, op: String,
                        dim: Int): (DataFrame, DataFrame) = {
    def prep(df: DataFrame, id: String, vec: String,
             spread: Boolean): DataFrame = {
      val deduped = Clustering.dedupKeyed(
        df.filter(col(vec).isNotNull).filter(vectorDimGuard(col(vec), dim)),
        id, vec, s"Similarity.$op: duplicate $id")
      OpUtils.barrier(if (spread) materialize(deduped) else deduped, eager = true)
    }
    val corp = prep(corpus, "c_id", "c_vec", spread = true)
    (prep(queries, "q_id", "q_vec", spread = false), corp)
  }

  /** The execution context for concurrent codebook/coarse trainings:
    * each Lloyd loop is a short chain of tiny driver-blocking Spark
    * jobs (seed pass + `iters` update passes), independent of its
    * siblings — running them from a thread pool lets the scheduler
    * overlap their latencies (guide §2.6 back-fill; results are
    * per-loop deterministic, so ordering cannot matter). Daemon
    * threads: the pool must never pin the JVM. */
  private lazy val trainPool: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(
        8,
        (r: Runnable) => {
          val t = new Thread(r, "graft-ann-train")
          t.setDaemon(true)
          t
        }))

  /** The per-query top-k cut every ANN variant shares: rank by
    * (score desc, candidate id) inside the query partition and keep
    * ranks ≤ k. Spark's `InferWindowGroupLimit` plans the filter as a
    * Partial `WindowGroupLimit` below the exchange and a Final one
    * above it, so the shuffle carries at most k candidates per query
    * and map partition. */
  private def rankTopK(pairs: DataFrame, qId: String, cId: String,
                       score: Column, k: Int,
                       rankCol: String = "rank"): DataFrame = {
    val w = Window.partitionBy(col(qId)).orderBy(score.desc, col(cId))
    pairs.withColumn(rankCol, row_number().over(w).cast("long"))
      .filter(col(rankCol) <= k)
  }

  /** Product-quantization ANN with asymmetric-distance (ADC) scoring
    * (Jégou, Douze & Schmid 2011): the corpus compresses to `m`
    * small-int codes per vector (the 32×-memory move that makes
    * billion-vector search fit in RAM), queries stay full-precision,
    * and distance is the sum of per-subspace lookup-table entries.
    *
    *  1. codebooks: per subspace `s`, Lloyd on the QUANTIZED slice
    *     ([[Clustering.kMeansCentroidsFused]] — same seeding/update/
    *     empty-cluster law as q108's oracle-replayed k-means), final
    *     centroids rounded half-up to INTEGERS. Driver traffic =
    *     m·k·subDim numbers.
    *  2. encode: per corpus vector per subspace, the
    *     [[Clustering.nearest]] argmin over its slice of the ONE
    *     nested integer codebook literal — lexicographic (dist², cid)
    *     min in one projection, no join, no shuffle. All quantities are
    *     integral doubles, so every distance is exact and every tie
    *     deterministic.
    *  3. LUT: per query per subspace, the k distances to the integer
    *     codebook — Q·m·k rows, broadcast.
    *  4. ADC: codes ⋈ LUT on (s, code) — every (query, doc) pair
    *     accumulates exactly m INTEGER-valued terms, so the sum is
    *     order-independent-exact and the per-query (dist, id) rank
    *     replays bit-for-bit in SQL (the ORACLE-CHECKED PQ — the
    *     float-centroid [[ivfTopKWithRecall]] cannot replay and is
    *     gated in-plan instead).
    *
    * Shape at 100 TB: ADC is the LINEAR-SCAN side of PQ — the scan
    * runs over m-byte codes instead of 4·dim-byte vectors (the
    * compression is the win), the LUT join is a broadcast equality
    * join, and the per-pair aggregation map-side-combines down to
    * |Q|·|C| partials before the per-query top-k cut ([[rankTopK]]).
    * Compose with IVF coarse lists ([[ivfTopK]]) to prune the scan
    * itself. Self-matches are excluded.
    *
    * Both sides are prepped at construction: NULL vectors drop, any
    * length but m·subDim refuses loudly on EITHER side, and the query side
    * must be SMALL (checkpointed unspread, broadcast into every join).
    *
    * Returns (q_id, rank, c_id, adc_dist2) — adc_dist2 a LONG in the
    * quantized space. */
  def pqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
             m: Int = 8, subDim: Int = 8, codebookK: Int = 16,
             iters: Int = 2, seed: String = "pq"): DataFrame = {
    val (qs, corp) = prepSides(queries, corpus, "pqTopK", m * subDim)
    pqTopKPrepped(qs, corp, k, m, subDim, codebookK, iters, seed)
  }

  /** [[pqTopK]] over PRE-DEDUPED sides (corp checkpointed) — the body
    * the composed operators ([[pqRecall]], [[pqRerankTopK]]) call so
    * the scan + dedup prep runs once per side, not once per stage. */
  private def pqTopKPrepped(qs: DataFrame, corp: DataFrame, k: Int,
                            m: Int, subDim: Int, codebookK: Int,
                            iters: Int, seed: String): DataFrame = {
    val cbs = pqCodebooks(corp, m, subDim, codebookK, iters, seed)
    rankAdc(
      pqCodes(corp, cbs, subDim)
        .join(broadcast(pqLut(qs, cbs, subDim)), Seq("s", "code")),
      k)
  }

  /** IVF coarse lists + PQ/ADC re-rank — the composed billion-vector
    * shape ([[pqTopK]]'s scan pruned by an inverted-file coarse
    * quantizer, Jégou et al. 2011 §IV): a second quantized k-means
    * over the FULL vectors yields `nLists` integer coarse centroids;
    * every corpus vector files under its nearest list, every query
    * probes its `nProbe` nearest lists, and ADC runs ONLY over the
    * probed lists' members — the scan shrinks ~nProbe/nLists while
    * the per-candidate cost stays the m-term lookup sum. Same
    * integral-everything discipline as [[pqTopK]], so the whole
    * composition — coarse k-means, list filing, probe selection,
    * codebooks, ADC rank — hash-replays in SQL. Recall loss relative
    * to [[pqTopK]] is the standard IVF trade (a true neighbor filed
    * under an unprobed list is unreachable); rank ties and probe
    * ties all break lexicographically, so the cut is engine-stable.
    *
    * Both sides are prepped at construction: NULL vectors drop, any
    * length but m·subDim refuses loudly on EITHER side, and the query side
    * must be SMALL (checkpointed unspread, broadcast into every join).
    *
    * Returns (q_id, rank, c_id, adc_dist2). */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                nLists: Int = 8, nProbe: Int = 2,
                m: Int = 8, subDim: Int = 8, codebookK: Int = 16,
                iters: Int = 2, seed: String = "pq"): DataFrame = {
    require(nLists >= 2 && nProbe >= 1 && nProbe <= nLists,
      s"need 2 <= nLists and 1 <= nProbe <= nLists: $nLists/$nProbe")
    val dim = m * subDim
    val (qs, corp) = prepSides(queries, corpus, "ivfPqTopK", dim)
    // the m codebook trainings and the coarse-quantizer training are
    // mutually independent Lloyd loops over the SAME checkpointed
    // corpus — kick the codebooks off on the pool, train the coarse
    // quantizer on this thread, await the codebooks after
    val cbsF = pqCodebooksAsync(corp, m, subDim, codebookK, iters, seed)
    val (docLists, probes) =
      quantCoarseLists(corp, qs, nLists, nProbe, iters, seed, dim)
    val cbs = awaitAll(cbsF)
    val pairs = docLists.join(broadcast(probes), Seq("list_id"))
      .select(col("q_id"), col("c_id"))
    rankAdc(
      pairs
        .join(pqCodes(corp, cbs, subDim), Seq("c_id"))
        .join(broadcast(pqLut(qs, cbs, subDim)),
          Seq("q_id", "s", "code")),
      k)
  }

  /** The integer-exact IVF substrate shared by [[ivfPqTopK]] and
    * [[ivfTopKQuant]]: a full-dimension quantized k-means
    * ([[Clustering.kMeansCentroids]], centroids rounded half-up to
    * INTEGERS) files every corpus vector under its nearest list and
    * gives every query its `nProbe` nearest lists — all argmins over
    * the ONE coarse centroid literal (narrow projections, no join),
    * all ties lexicographic on the list id, so filing and probing
    * hash-replay in SQL. Driver traffic = nLists·dim longs (the kMeans
    * tiny-metadata contract). Returns (docLists: (c_id, list_id),
    * probes: (q_id, list_id)). */
  private def quantCoarseLists(corp: DataFrame, qs: DataFrame,
                               nLists: Int, nProbe: Int, iters: Int,
                               seed: String, dim: Int)
      : (DataFrame, DataFrame) = {
    val coarse = centroidLit(rounded(Clustering.kMeansCentroids(
      corp, col("c_id"), col("c_vec"), nLists, iters, s"$seed-coarse", dim)))
    val docLists = subvectors(corp, "c_id", "c_vec", 1, dim)
      .select(col("_id").as("c_id"),
        nearest(col("_xq"), col("_xx"), coarse).getField("_cid").as("list_id"))
    val probes = subvectors(qs, "q_id", "q_vec", 1, dim)
      .select(col("_id").as("q_id"),
        explode(transform(
          slice(array_sort(candStructs(col("_xq"), col("_xx"), coarse)), 1, nProbe),
          c => c.getField("_cid"))).as("list_id"))
    (docLists, probes)
  }

  /** IVF ANN with EXACT quantized-L2 scoring over the probed lists —
    * the [[ivfTopK]] semantics rebuilt on the integer coarse
    * quantizer ([[quantCoarseLists]], the [[ivfPqTopK]] substrate):
    * coarse k-means, list filing, probe selection, and the final
    * (dist², id)-lexicographic rank are ALL integer-exact, so the
    * whole pipeline hash-replays in SQL — the oracle-checked IVF,
    * where the float-centroid [[ivfTopKWithRecall]] can only be
    * gated in-plan. Scoring joins the probed candidates back to
    * their full quantized vectors (no PQ compression loss; the
    * memory trade is [[ivfPqTopK]]'s job), so recall loss comes
    * ONLY from unprobed lists — the pure IVF trade.
    *
    * Shape at 100 TB: the candidate join carries (q_id, c_id) pairs
    * for probed lists only (~nProbe/nLists of the corpus per query);
    * the query side broadcasts (queries are the small side by
    * contract); distance is one fused dot-product chain per pair; the
    * per-query cut is [[rankTopK]]. Self-matches are
    * excluded.
    *
    * Both sides are prepped at construction: NULL vectors drop, any
    * length but `dim` refuses loudly on EITHER side, and the query side
    * must be SMALL (checkpointed unspread, broadcast into every join).
    *
    * Returns (q_id, rank, c_id, dist2) — dist2 the exact quantized
    * L2², a LONG. */
  def ivfTopKQuant(queries: DataFrame, corpus: DataFrame, k: Int,
                   nLists: Int = 8, nProbe: Int = 2, dim: Int = 64,
                   iters: Int = 2, seed: String = "ivf"): DataFrame = {
    require(nLists >= 2 && nProbe >= 1 && nProbe <= nLists,
      s"need 2 <= nLists and 1 <= nProbe <= nLists: $nLists/$nProbe")
    val (qs, corp) = prepSides(queries, corpus, "ivfTopKQuant", dim)
    ivfTopKQuantPrepped(qs, corp, k, nLists, nProbe, dim, iters, seed)
  }

  /** [[ivfTopKQuant]] over PRE-DEDUPED, checkpointed sides — the body
    * [[ivfRecall]] calls so the prep runs once per side. */
  private def ivfTopKQuantPrepped(qs: DataFrame, corp: DataFrame, k: Int,
                                  nLists: Int, nProbe: Int, dim: Int,
                                  iters: Int, seed: String): DataFrame = {
    val (docLists, probes) =
      quantCoarseLists(corp, qs, nLists, nProbe, iters, seed, dim)
    val scored = docLists.join(broadcast(probes), Seq("list_id"))
      .filter(col("q_id") =!= col("c_id"))
      .join(quantSide(corp, "c_id", "c_vec"), Seq("c_id"))
      .join(broadcast(quantSide(qs, "q_id", "q_vec")), Seq("q_id"))
      .select(col("q_id"), col("c_id"), exactD2.cast("long").as("dist2"))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("dist2"), col("c_id"))).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("c_id"), col("dist2"))
  }

  /** Recall@k of the PQ/ADC ranking against the EXACT quantized-L2
    * ground truth — the evaluation every ANN deployment publishes
    * next to its index parameters, as an operator: per query, the
    * fraction of the true top-k (full-dimension quantized L2², the
    * same integral space PQ compresses) that survives into the ADC
    * top-k. Both rankings are integer-exact with lexicographic tie
    * breaks, so the recall TABLE itself — not just its mean —
    * hash-replays in SQL; contrast [[ivfTopKWithRecall]], whose
    * float-centroid recall can only be gated in-plan.
    *
    * Shape at 100 TB: the exact side is the [[bruteForceTopK]]
    * cross product (ground truth costs a linear scan by definition —
    * this is an EVALUATION op, run on a query SAMPLE, not a serving
    * path); the PQ side is [[pqTopK]]. One k-row-per-query join
    * computes the overlap. Returns (q_id, n_hit, recall); the mean
    * over queries is one trivial aggregation away for callers that
    * want the single-number summary.
    *
    * Both sides are prepped at construction: NULL vectors drop, any
    * length but m·subDim refuses loudly on EITHER side, and the query side
    * must be SMALL (checkpointed unspread, broadcast into every join). */
  def pqRecall(queries: DataFrame, corpus: DataFrame, k: Int,
               m: Int = 8, subDim: Int = 8, codebookK: Int = 16,
               iters: Int = 2, seed: String = "pq"): DataFrame = {
    val (qs, corp) = prepSides(queries, corpus, "pqRecall", m * subDim)
    recallVsExactL2(
      pqTopKPrepped(qs, corp, k, m, subDim, codebookK, iters, seed),
      qs, corp, k)
  }

  /** Recall@k of the quant-IVF ranking ([[ivfTopKQuant]] — q38's
    * core) against the same exact quantized-L2 ground truth
    * [[pqRecall]] measures PQ with: per query, the fraction of the
    * true top-k that survives probing only `nProbe` of `nLists`
    * lists. Both rankings are integer-exact with lexicographic ties,
    * so this recall TABLE hash-replays too — the published honesty
    * artifact the float IVF could only enforce as an in-plan
    * assert. Same evaluation-op caveat as [[pqRecall]]: ground truth
    * is the definitionally-linear brute scan, run on a query SAMPLE.
    *
    * Both sides are prepped at construction: NULL vectors drop, any
    * length but `dim` refuses loudly on EITHER side, and the query side
    * must be SMALL (checkpointed unspread, broadcast into every join). */
  def ivfRecall(queries: DataFrame, corpus: DataFrame, k: Int,
                nLists: Int = 8, nProbe: Int = 2, dim: Int = 64,
                iters: Int = 2, seed: String = "ivf"): DataFrame = {
    val (qs, corp) = prepSides(queries, corpus, "ivfRecall", dim)
    recallVsExactL2(
      ivfTopKQuantPrepped(qs, corp, k, nLists, nProbe, dim, iters, seed),
      qs, corp, k)
  }

  /** The shared evaluation core of [[pqRecall]] and [[ivfRecall]]:
    * per-query overlap of an approximate (q_id, c_id) ranking with
    * the EXACT quantized-L2 top-k (self-excluded, (dist², id)
    * lexicographic — the definitionally-linear brute scan). Anchored
    * on the exact side, so a query the approx index strands entirely
    * still emits its row with recall 0. */
  private def recallVsExactL2(approx: DataFrame, qs: DataFrame,
                              corp: DataFrame, k: Int): DataFrame = {
    // the ground-truth side shares the family's replica idempotence
    // (a replayed candidate would otherwise occupy two of the true
    // top-k slots and fan out the overlap join): both sides arrive
    // PRE-DEDUPED and checkpointed from the public entry points, so
    // the prep runs once per side, not once per stage
    val exact = quantSide(qs, "q_id", "q_vec")
      .crossJoin(quantSide(corp, "c_id", "c_vec"))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"), exactD2.as("_d2"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("_d2"), col("c_id"))))
      .filter(col("rank") <= k)
    exact.select(col("q_id"), col("c_id"))
      .join(approx.select(col("q_id"), col("c_id"), lit(1).as("_hit")),
        Seq("q_id", "c_id"), "left")
      .groupBy(col("q_id"))
      .agg(sum(coalesce(col("_hit"), lit(0))).cast("long").as("n_hit"))
      .select(col("q_id"), col("n_hit"),
        r(col("n_hit") / lit(k.toDouble), 6).as("recall"))
  }

  /** PQ candidates + EXACT re-rank — the production ANN serving
    * shape (ADC recall at 16-word codebooks is honest but modest —
    * q181 published 0.255@10 — so deployments over-fetch `candK`
    * compressed candidates and re-rank the survivors on the full
    * vectors): [[pqTopK]] proposes, one equality join brings back the
    * exact quantized-L2 distance FOR THE CANDIDATES ONLY (never the
    * corpus cross product — that is [[pqRecall]]'s evaluation-side
    * job), and the final top-k ranks on the exact distance. Both
    * stages are integer-exact with lexicographic ties, so the
    * composition hash-replays end to end. Recall is bounded by the
    * candidate stage (a true neighbor ADC misses stays missed — the
    * standard two-stage trade, tuned by candK).
    *
    * Both sides are prepped at construction: NULL vectors drop, any
    * length but m·subDim refuses loudly on EITHER side, and the query side
    * must be SMALL (checkpointed unspread, broadcast into every join).
    *
    * Returns (q_id, rank, c_id, dist2) — dist2 the EXACT quantized
    * L2², a LONG. */
  def pqRerankTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                   candK: Int, m: Int = 8, subDim: Int = 8,
                   codebookK: Int = 16, iters: Int = 2,
                   seed: String = "pq"): DataFrame = {
    require(candK >= k, s"candK must be >= k: $candK < $k")
    val (qs, corp) = prepSides(queries, corpus, "pqRerankTopK", m * subDim)
    val cand = pqTopKPrepped(qs, corp, candK, m, subDim, codebookK,
      iters, seed).select(col("q_id"), col("c_id"))
    cand
      .join(quantSide(qs, "q_id", "q_vec"), Seq("q_id"))
      .join(quantSide(corp, "c_id", "c_vec"), Seq("c_id"))
      .select(col("q_id"), col("c_id"), exactD2.as("_d2"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("_d2"), col("c_id"))))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("c_id"),
        col("_d2").cast("long").as("dist2"))
  }

  /** Per-subspace integer PQ codebooks: Lloyd on the quantized slices
    * (the shared q108 core), final centroids rounded half-up. The m
    * per-subspace trainings are FUSED into one exploded-slice loop
    * that runs as a single Spark action
    * ([[Clustering.kMeansCentroidsFused]] — every slice's arithmetic
    * is unchanged, so the codebooks are bit-identical to m sequential
    * loops). Concurrency with OTHER trainings (the coarse quantizer)
    * lives in [[pqCodebooksAsync]]/[[ivfPqTopK]], not here. The input
    * arrives pre-deduped and checkpointed (the [[prepSides]]
    * contract), so no per-training dedup exchange runs. */
  private def pqCodebooksAsync(corp: DataFrame, m: Int, subDim: Int,
                               codebookK: Int, iters: Int, seed: String)
      : scala.concurrent.Future[Seq[Seq[(Int, Seq[Double])]]] =
    scala.concurrent.Future {
      pqCodebooks(corp, m, subDim, codebookK, iters, seed)
    }(trainPool)

  private def awaitAll[T](f: scala.concurrent.Future[T]): T =
    scala.concurrent.Await.result(
      f, scala.concurrent.duration.Duration.Inf)

  private def pqCodebooks(corp: DataFrame, m: Int, subDim: Int,
                          codebookK: Int, iters: Int,
                          seed: String): Seq[Seq[(Int, Seq[Double])]] = {
    require(m >= 1 && subDim >= 1, s"need m, subDim >= 1: m=$m subDim=$subDim")
    require(codebookK >= 2, s"a 1-word codebook cannot rank: k=$codebookK")
    Clustering.kMeansCentroidsFused(
      corp, col("c_id"), col("c_vec"), codebookK, iters, s"$seed-",
      slices = m, sliceLen = subDim)
      .map(rounded)
  }

  /** Trained centroids rounded half-up to INTEGERS — the integral
    * space in which every PQ/IVF distance below is exact. */
  private def rounded(cents: Seq[(Int, Seq[Double])]): Seq[(Int, Seq[Double])] =
    cents.map { case (cid, c) => (cid, c.map(x => math.floor(x + 0.5))) }

  /** (_id, _s, _xq, _xx): a prepped side's quantized vectors as
    * `slices` sub-vectors of `sliceLen` ([[Clustering.slicedRows]]). */
  private def subvectors(side: DataFrame, id: String, vec: String,
                         slices: Int, sliceLen: Int): DataFrame =
    slicedRows(side.select(col(id).as("_id"),
      quantize(col(vec)).as("_xq")), slices, sliceLen)

  /** One side of an exact quantized-L2 join: (id, quantized vector,
    * its self-dot), computed ONCE per row on the pre-join side — the
    * old inline form re-ran `graft_dot(v, v)` per candidate PAIR (and
    * the interpreted quantize transform risked the same via projection
    * collapse). Same `graft_dot` fold on the same integral values, so
    * every downstream distance is bit-identical. Column names derive
    * from the id prefix ("q"/"c") so two sides can join; [[exactD2]]
    * reads exactly those names, so any other prefix is refused. */
  private def quantSide(df: DataFrame, id: String, vec: String): DataFrame = {
    val p = id.take(1)
    require(p == "q" || p == "c",
      s"quantSide id column must start with 'q' (query side) or 'c' " +
        s"(corpus side), got '$id': exactD2 reads _qq/_qq2/_cq/_cq2")
    df.select(col(id), quantize(col(vec)).as(s"_${p}q"))
      .withColumn(s"_${p}q2", dotProduct(col(s"_${p}q"), col(s"_${p}q")))
  }

  /** x·x − 2·x·c + c·c over [[quantSide]] columns — the identical op
    * sequence (and therefore bit-identical LONG-castable distance) as
    * the old inline three-dot form. */
  private def exactD2: Column =
    col("_qq2") - lit(2.0) * dotProduct(col("_qq"), col("_cq")) +
      col("_cq2")

  /** The row's own slice's codebook: the per-slice centroid literals
    * nested into one `[slice][cid]` array, indexed by `_s`. */
  private def ownCodebook(cbs: Seq[Seq[(Int, Seq[Double])]]): Column =
    element_at(array(cbs.map(centroidLit): _*), col("_s") + 1)

  /** (c_id, s, code): each corpus sub-vector's [[Clustering.nearest]]
    * codeword in its slice's codebook. */
  private def pqCodes(corp: DataFrame, cbs: Seq[Seq[(Int, Seq[Double])]],
                      subDim: Int): DataFrame =
    subvectors(corp, "c_id", "c_vec", cbs.size, subDim)
      .select(col("_id").as("c_id"), col("_s").as("s"),
        nearest(col("_xq"), col("_xx"), ownCodebook(cbs))
          .getField("_cid").as("code"))

  /** (q_id, s, code, d2): the Q·m·k asymmetric-distance lookup table —
    * the code is the codeword's position (= cid). */
  private def pqLut(qs: DataFrame, cbs: Seq[Seq[(Int, Seq[Double])]],
                    subDim: Int): DataFrame =
    subvectors(qs, "q_id", "q_vec", cbs.size, subDim)
      .select(col("_id").as("q_id"), col("_s").as("s"),
        posexplode(transform(ownCodebook(cbs),
          c => distTo(col("_xq"), col("_xx"), c))).as(Seq("code", "d2")))

  /** Σ over the m joined lookup terms → per-query (dist, id) rank cut.
    * The terms are integer-valued doubles, so the sum is
    * order-independent-exact and the rank engine-stable. */
  private def rankAdc(joined: DataFrame, k: Int): DataFrame =
    joined
      .filter(col("q_id") =!= col("c_id"))
      .groupBy(col("q_id"), col("c_id"))
      .agg(sum(col("d2")).as("_adc"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("_adc"), col("c_id"))))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("c_id"),
        col("_adc").cast("long").as("adc_dist2"))

  /** Exact top-k cosine neighbors for each query vector.
    * `queries`/`corpus` need (id, vec) columns; result: one row per
    * (query, rank ≤ k). */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                     qId: String = "q_id", cId: String = "c_id",
                     excludeSameId: Boolean = true): DataFrame = {
    // the NULL-vector law, both sides (see bucketedSide): a vectorless
    // row can neither search nor be found — kept, it only emits
    // NULL-cos pair rows
    val q = queries.filter(col("q_vec").isNotNull)
      .withColumn("q_norm", l2Norm(col("q_vec")))
    val c = materialize(corpus.filter(col("c_vec").isNotNull)
      .withColumn("c_norm", l2Norm(col("c_vec"))))
    val pairs = cosinePairs(broadcast(q).crossJoin(c), qId, cId,
      excludeSameId = excludeSameId)
    rankTopK(pairs, qId, cId, col("cos"), k)
      .select(col(qId), col("rank"), col(cId), r(col("cos"), 4).as("cos"))
  }

  /** Label-relevance nDCG@k of the exact search ranking — the GRADED
    * retrieval-quality metric beside [[pqRecall]]'s set overlap: a
    * ranking that buries its relevant hits at rank k scores lower
    * than one that leads with them, which recall@k cannot see.
    * Relevance is binary label agreement (query's label == candidate's
    * label; NULL labels are never relevant). DCG = Σ rel/log₂(rank+1)
    * over the retrieved list; IDCG re-weights the SAME retrieved
    * relevance ideally — since rel ∈ {0,1}, that is Σ_{i≤n_rel}
    * 1/log₂(i+1), computable from the rank column alone (no fold, no
    * second ranking). A query with no relevant retrieval gets NULL
    * nDCG (0/0 is not a score). Float surface: log₂ and two ≤k-term
    * sums, r(6)-masked like every ln-based metric here.
    *
    * Shape: the [[bruteForceTopK]] ranking (Q·k rows) joins the label
    * table twice by id; one window + one aggregation over Q·k rows.
    *
    * Returns (q_id, n_ranked, n_rel, dcg, ndcg) per query. */
  def labelNdcg(queries: DataFrame, corpus: DataFrame, labels: DataFrame,
                k: Int): DataFrame = {
    val ranked = bruteForceTopK(queries, corpus, k)
    val lq = labels.select(col("vec_id").as("q_id"), col("label").as("_ql"))
    val lc = labels.select(col("vec_id").as("c_id"), col("label").as("_cl"))
    val w = Window.partitionBy(col("q_id"))
    ranked
      .join(lq, "q_id").join(lc, "c_id")
      .withColumn("_rel",
        when(col("_ql").isNotNull && col("_ql") === col("_cl"), 1L)
          .otherwise(0L))
      .withColumn("_nrel", sum(col("_rel")).over(w))
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_ranked"), max(col("_nrel")).as("n_rel"),
        sum(col("_rel").cast("double") / log2(col("rank") + 1)).as("_dcg"),
        sum(when(col("rank") <= col("_nrel"),
          lit(1.0) / log2(col("rank") + 1))).as("_idcg"))
      .select(col("q_id"), col("n_ranked"), col("n_rel"),
        r(col("_dcg"), 6).as("dcg"),
        r(when(col("n_rel") > 0, col("_dcg") / col("_idcg")), 6).as("ndcg"))
  }

  /** IVF (inverted-file) ANN: a k-means coarse quantizer buckets the
    * corpus; each query probes its `nProbe` nearest centroids and
    * exact-ranks only those buckets' vectors. The second classic scale
    * path next to [[lshTopK]] — bucket sizes are balanced by the
    * quantizer (vs LSH's hash luck), at the cost of a training pass.
    * Seeded k-means for reproducibility; centroid count `nLists` is the
    * recall/latency dial. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int, nLists: Int,
              nProbe: Int, qId: String = "q_id", cId: String = "c_id",
              excludeSameId: Boolean = true): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector

    val corpusVec = materialize(corpus
      .filter(col("c_vec").isNotNull)       // NULL-vector law (bucketedSide)
      .withColumn("features", array_to_vector(col("c_vec")))
      .withColumn("c_norm", l2Norm(col("c_vec"))))
    val km = new KMeans().setK(nLists).setSeed(12345L).setMaxIter(10)
    val model = km.fit(corpusVec)
    val bucketed = model.transform(corpusVec)
      .withColumnRenamed("prediction", "bucket")

    // query-side probe list: nProbe nearest centroids by euclidean
    val centroids = model.clusterCenters.zipWithIndex.map { case (c, i) =>
      (i, c.toArray.map(_.toFloat).toSeq)
    }.toSeq
    val spark = queries.sparkSession
    import spark.implicits._
    val centDf = centroids.toDF("bucket", "cent_vec")
    val qProbed = broadcast(queries.filter(col("q_vec").isNotNull)
        .withColumn("q_norm", l2Norm(col("q_vec"))))
      .crossJoin(broadcast(centDf))
      // squared distance minus the per-query-constant q·q term (it
      // cannot change the per-query probe ranking, and would otherwise
      // be re-evaluated once per centroid)
      .withColumn("dist2",
        dotProduct(col("cent_vec"), col("cent_vec"))
          - lit(2.0) * dotProduct(col("q_vec"), col("cent_vec")))
      .withColumn("probe_rank", row_number().over(
        Window.partitionBy(col(qId)).orderBy(col("dist2"), col("bucket"))))
      .filter(col("probe_rank") <= nProbe)
      .select(col(qId), col("q_vec"), col("q_norm"), col("bucket"))

    val pairs = cosinePairs(qProbed.join(bucketed, Seq("bucket")), qId, cId,
      excludeSameId = excludeSameId)
    rankTopK(pairs, qId, cId, col("cos"), k)
      .select(col(qId), col("rank"), col(cId), r(col("cos"), 4).as("cos"))
  }

  /** [[ivfTopK]] with its quality pinned IN-PLAN: the exact
    * brute-force top-k is computed in the same plan, per-query recall
    * (|IVF ∩ brute| / k) is emitted as a `recall` column on every
    * result row alongside the query-set-wide `mean_recall`, and a mean
    * below `minMeanRecall` fails the whole query loudly via
    * `assert_true` — approximate-index quality becomes a driver-visible
    * artifact instead of a test-only number. The gate is on the MEAN,
    * not the per-query min: single-probe-family ANN legitimately
    * strands an occasional query in a sparse cell (per-query recall 0
    * is a property of the index family, not a defect), while a sagging
    * mean means the index is mis-sized for the data.
    *
    * Scale note: the extra cost is the brute-force twin, which is the
    * deliberate exact baseline (broadcast query set × corpus scan). On
    * a 100 TB corpus one runs this gated variant on a SAMPLED corpus
    * slice as a canary, and the ungated [[ivfTopK]] on the full data —
    * the operator contract (recall columns, assert as the gate) is
    * identical at both scales. */
  def ivfTopKWithRecall(queries: DataFrame, corpus: DataFrame, k: Int,
                        nLists: Int, nProbe: Int, minMeanRecall: Double,
                        qId: String = "q_id", cId: String = "c_id",
                        excludeSameId: Boolean = true): DataFrame = {
    // the recall twin must apply the SAME exclusion or the gate
    // compares mismatched candidate universes
    val ivf = ivfTopK(queries, corpus, k, nLists, nProbe, qId, cId,
      excludeSameId)
    val brute = bruteForceTopK(queries, corpus, k, qId, cId,
      excludeSameId = excludeSameId)
      .select(col(qId), col(cId), lit(1L).as("_hit"))
    val w = Window.partitionBy(col(qId))
    val scored = ivf.join(brute, Seq(qId, cId), "left")
      .withColumn("recall",
        r(sum(coalesce(col("_hit"), lit(0L))).over(w).cast("double") / k, 4))
      .drop("_hit")
    // anchor at the FULL query set: a query whose probed cells hold no
    // candidates produces zero ivf rows and would otherwise vanish from
    // the mean — exactly the mis-sized-quantizer signal the gate exists
    // to catch. Stranded queries surface as one row with null result
    // columns and recall 0.0, so they drag the mean and (in the
    // all-stranded case) the output is non-empty and the gate still
    // evaluates instead of passing vacuously.
    val anchored = queries.select(col(qId)).distinct()
      .join(scored, Seq(qId), "left")
      .withColumn("recall", coalesce(col("recall"), lit(0.0)))
    // one mean over the (tiny) distinct per-query recalls, broadcast
    // back onto every row — the global quality number rides the output
    val mean = anchored.select(col(qId), col("recall")).distinct()
      .agg(r(avg(col("recall")), 4).as("mean_recall"))
    anchored.crossJoin(broadcast(mean))
      .filter(assert_true(col("mean_recall") >= minMeanRecall,
        concat(lit(s"IVF mean recall below $minMeanRecall: "),
          col("mean_recall").cast("string"))).isNull)
  }

  /** Multi-probe LSH ANN: each query probes its own bucket AND every
    * Hamming-1 neighbor bucket (one sign-bit flip per hyperplane) —
    * planes+1 probes recover most of the recall single-probe loses to
    * near-boundary projections, still as a pure equality join (the
    * probe fan-out multiplies the query side, which is the small side). */
  def lshMultiProbeTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                        planes: Int, dim: Int, qId: String = "q_id",
                        cId: String = "c_id",
                        excludeSameId: Boolean = true): DataFrame = {
    val qb = queries.filter(col("q_vec").isNotNull)   // NULL-vector law
      .withColumn("bucket0", lshBucket(col("q_vec"), planes, dim))
      .withColumn("q_norm", l2Norm(col("q_vec")))
      .withColumn("bucket", OpUtils.hamming1Probes(col("bucket0"), planes))
    val cb = bucketedSide(corpus, "c_vec", "c_norm", planes, dim)
    val pairs = cosinePairs(qb.join(cb, Seq("bucket")), qId, cId,
      excludeSameId = excludeSameId)
    rankTopK(pairs, qId, cId, col("cos"), k)
      .select(col(qId), col("rank"), col(cId), r(col("cos"), 4).as("cos"))
  }

  /** Per-vector symmetric int8 quantization: `q8 = floor(x/s + 0.5)`
    * with `s = max|x|/127` — the 4× memory move that lets a 100 TB
    * embedding store fit 4× more vectors per executor (and per
    * broadcast) before any index structure is involved. Adds `q8`
    * (INTEGRAL doubles in [-127, 127] — integral so downstream dot
    * products and sums stay order-independent-exact, see
    * [[Clustering]]) and `q_scale`. An all-zero vector quantizes to
    * zeros with scale 0. Pure codegen'd per-row expressions; the SQL
    * oracle reproduces each lane exactly. */
  def withInt8(df: DataFrame, vec: Column): DataFrame = {
    val xd = transform(vec, x => x.cast("double"))
    val scale = array_max(transform(xd, x => abs(x))) / lit(127.0)
    df.withColumn("q_scale", scale)
      .withColumn("q8",
        when(col("q_scale") === 0.0,
          transform(xd, _ => lit(0.0)))
          .otherwise(transform(xd, x =>
            floor(x / col("q_scale") + lit(0.5)).cast("double"))))
  }

  /** Quantization-fidelity metrics, per vector: reconstruction
    * `x̂ = q8·s`, squared reconstruction error `sse = Σ(x−x̂)²` (via
    * the same fixed-op-sequence dot identity x·x − 2·x·x̂ + x̂·x̂ the
    * oracle uses), and `cos_recon = cos(x, x̂)` — the dashboard a
    * pipeline checks before switching its ANN tier to the quantized
    * store. Narrow per-row pass, no shuffle. */
  def int8Metrics(df: DataFrame, id: Column, vec: Column): DataFrame = {
    val q = withInt8(df.select(id.as("id"), vec.as("_v")), col("_v"))
      .withColumn("_xd", transform(col("_v"), x => x.cast("double")))
      .withColumn("_xh", transform(col("q8"), v => v * col("q_scale")))
    q.withColumn("sse",
        dotProduct(col("_xd"), col("_xd"))
          - lit(2.0) * dotProduct(col("_xd"), col("_xh"))
          + dotProduct(col("_xh"), col("_xh")))
      .withColumn("cos_recon", cosFromNorms(
        dotProduct(col("_xd"), col("_xh")),
        l2Norm(col("_xd")) * l2Norm(col("_xh"))))
      .select(col("id"), col("q_scale"), col("sse"), col("cos_recon"))
  }

  /** Brute-force top-k in QUANTIZED space, with the exact cosine of
    * every surviving pair alongside — cosine is scale-invariant, so
    * the quantized similarity is `cos(q8_a, q8_b)` on integral doubles
    * (order-independent-exact dot and norms → the RANKING is
    * bit-portable across engines, stronger than the float-path rank
    * whose portability rests on identical op sequences). The exact
    * `cos_exact` column is computed only for the k·|Q| survivors —
    * per-pair quantization error becomes a driver-visible artifact,
    * the q38-recall pattern applied to quantization. */
  def int8BruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                         qId: String = "q_id", cId: String = "c_id",
                         excludeSameId: Boolean = true): DataFrame = {
    val q = withInt8(queries.filter(col("q_vec").isNotNull), col("q_vec"))
      .withColumnRenamed("q8", "q_q8")
      .withColumn("q_qnorm", l2Norm(col("q_q8")))
      .drop("q_scale")
    val c = materialize(
      withInt8(corpus.filter(col("c_vec").isNotNull), col("c_vec"))
      .withColumnRenamed("q8", "c_q8")
      .withColumn("c_qnorm", l2Norm(col("c_q8")))
      .drop("q_scale"))
    val pairs = broadcast(q).crossJoin(c)
      .filter(if (excludeSameId) col(qId) =!= col(cId) else lit(true))
      .withColumn("cos_q8", cosFromNorms(
        dotProduct(col("q_q8"), col("c_q8")), col("q_qnorm") * col("c_qnorm")))
    rankTopK(pairs, qId, cId, col("cos_q8"), k)
      .withColumn("cos_exact", cosFromNorms(
        dotProduct(col("q_vec"), col("c_vec")),
        l2Norm(col("q_vec")) * l2Norm(col("c_vec"))))
      .select(col(qId), col("rank"), col(cId),
        r(col("cos_q8"), 4).as("cos_q8"), r(col("cos_exact"), 4).as("cos_exact"))
  }

  /** ANN top-k: bucket-join candidates then exact cosine re-rank.
    * Queries whose bucket holds fewer than k neighbors return fewer
    * rows (recall/latency trade-off of single-probe LSH). Buckets and
    * norms are materialized pre-join. */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int, planes: Int,
              dim: Int, qId: String = "q_id", cId: String = "c_id",
              excludeSameId: Boolean = true): DataFrame = {
    val qb = queries.filter(col("q_vec").isNotNull)   // NULL-vector law
      .withColumn("bucket", lshBucket(col("q_vec"), planes, dim))
      .withColumn("q_norm", l2Norm(col("q_vec")))
    val cb = bucketedSide(corpus, "c_vec", "c_norm", planes, dim)
    val pairs = cosinePairs(qb.join(cb, Seq("bucket")), qId, cId,
      excludeSameId = excludeSameId)
    rankTopK(pairs, qId, cId, col("cos"), k)
      .select(col(qId), col("rank"), col(cId), col("bucket"), r(col("cos"), 4).as("cos"))
  }

  /** Hard-negative mining for retriever/contrastive training: for each
    * query vector, the top-`k` SAME-LSH-BUCKET candidates inside the
    * cosine band [`loCos`, `hiCos`) — similar enough to be confusable
    * (they collide in the index), dissimilar enough to be true
    * negatives (below the near-dup threshold, so [[Dedup]] would not
    * fuse them). The standard mining recipe: random negatives are too
    * easy; near-dups are false negatives; the band between is where
    * the training signal lives.
    *
    * Plan shape: the same codegen'd-bucket equality join as
    * [[lshTopK]] (never all-pairs; candidates bucket once behind a
    * barrier), the band filter drops pairs BEFORE the ranking
    * exchange, and the per-query cut ranks on the ROUNDED cosine
    * (hardest first, id tie-break) so the cut is engine-stable. */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, k: Int,
                    loCos: Double, hiCos: Double, planes: Int, dim: Int,
                    qId: String = "q_id", cId: String = "c_id",
                    excludeSameId: Boolean = true): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    require(loCos < hiCos, s"need loCos < hiCos: [$loCos, $hiCos)")
    val qb = queries.filter(col("q_vec").isNotNull)   // NULL-vector law
      .withColumn("bucket", lshBucket(col("q_vec"), planes, dim))
      .withColumn("q_norm", l2Norm(col("q_vec")))
    val cb = bucketedSide(corpus, "c_vec", "c_norm", planes, dim)
    val band = cosinePairs(qb.join(cb, Seq("bucket")), qId, cId,
      excludeSameId = excludeSameId)
      .filter(col("cos") >= loCos && col("cos") < hiCos)
      .withColumn("cos_r", r(col("cos"), 4))
    rankTopK(band, qId, cId, col("cos_r"), k, rankCol = "neg_rank")
      .select(col(qId), col("neg_rank"), col(cId), col("cos_r").as("cos"))
  }
}
