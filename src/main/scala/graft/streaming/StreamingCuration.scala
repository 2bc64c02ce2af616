package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** End-to-end streaming curation — the full ingest gate in ONE
  * `foreachBatch` pipeline: each arriving micro-batch is (1) quality-
  * gated by a caller-supplied predicate, (2) decontaminated against
  * the immutable eval-set shingle index
  * ([[StreamingDecontam.prepareEvalIndex]]), and (3) exact-deduplicated
  * — within the batch (first occurrence by id wins) AND against every
  * document kept by an earlier committed batch, via a persistent
  * content-digest index. Survivors land in `keptDir/batch=<id>` with
  * their original columns; their digests append to the index so later
  * batches see them.
  *
  * The law this module is specced against: after N batches, the union
  * of kept batches equals the BATCH pipeline — gate → decontaminate →
  * `Dedup.exact` keep-first — over the concatenated input, provided
  * batches arrive in keeper-priority (id) order. Gate and
  * contamination verdicts are per-document (identical text ⇒
  * identical verdict), so the three stages commute with batch
  * boundaries; only the dedup keeper choice is order-sensitive, and
  * the digest index resolves it exactly as batch `rn = 1` does when
  * arrival order matches id order.
  *
  * Scale shape per batch: the gate is a filter below everything; the
  * decontam probe prunes the eval index to the shingle-hash buckets
  * the batch touches ([[StreamingDecontam.flaggedPairs]]); the digest
  * index read prunes to the digest-hash buckets the batch touches
  * (same driver-known ≤ [[BucketCount]] set); state grows with KEPT
  * documents only — duplicates and contaminated docs never enter the
  * index. All per-batch work scales with the batch, never the corpus.
  *
  * At-least-once protocol (shared [[StreamProtocol]]): kept results
  * overwrite their own `batch=<id>` directory; digest appends are
  * fenced by `ingest_batch < batchId` on read; the commit marker
  * writes LAST; run-identity + config-fingerprint files fail loudly
  * on a fresh checkpoint over retained state or a changed regime. */
object StreamingCuration {

  /** Digest-hash partition fan-out for the persisted keeper index:
    * xxhash64(digest) mod 64 — enough selectivity that a small batch
    * prunes most of a large index, few enough directories that listing
    * stays cheap. */
  val BucketCount = 64

  val DigestSchema: StructType = StructType(Seq(
    StructField("digest", StringType),
    StructField("bucket", IntegerType),
    StructField("ingest_batch", LongType)))

  /** @param gate      kept iff this predicate over the batch's columns
    *                  is true (e.g. `size(tokens(col("text"))) >= 5`).
    *                  Its string form joins the config fingerprint: a
    *                  changed gate against retained state fails loudly
    *                  instead of silently mixing curation regimes.
    * @param evalIndexDir index from [[StreamingDecontam.prepareEvalIndex]]
    * @param digestDir    persistent keeper-digest index (created here)
    * @param keptDir      curated output, one directory per batch */
  def start(docs: DataFrame, idCol: String, textCol: String, gate: Column,
            evalIndexDir: String, digestDir: String, keptDir: String,
            checkpoint: String, shingleN: Int = 3,
            minOverlap: Int = 3, excludeSameId: Boolean = true): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        // each directory resolves its OWN FileSystem — eval index,
        // digest index, and kept output may live on different stores
        val conf = spark.sessionState.newHadoopConf()
        val keptPath = new Path(keptDir)
        val fs = keptPath.getFileSystem(conf)
        val digestPath = new Path(digestDir)
        val digestFs = digestPath.getFileSystem(conf)
        StreamingDecontam.verifyEvalIndex(
          new Path(evalIndexDir).getFileSystem(conf), evalIndexDir,
          shingleN, "StreamingCuration")
        // digestBucketMod is baked into the digest index's partition
        // values; excludeSameId shapes every contamination verdict
        // legacy: the fingerprint before digestBucketMod/excludeSameId
        // were pinned — BucketCount is an unchanged compile-time
        // constant and old code always excluded same-id pairs, so the
        // legacy claim is only valid when this run keeps that behavior
        val cfg = s"gate=${gate.toString};evalIndex=$evalIndexDir;" +
          s"shingleN=$shingleN;minOverlap=$minOverlap;" +
          s"digestBucketMod=$BucketCount;excludeSameId=$excludeSameId"
        val legacyCfg = if (excludeSameId)
          Seq(s"gate=${gate.toString};evalIndex=$evalIndexDir;" +
            s"shingleN=$shingleN;minOverlap=$minOverlap")
        else Nil
        val (done, committed) = StreamProtocol.replayGuardsWithCommitted(
          fs, keptPath, checkpoint, cfg, batchId, "_batch_",
          "StreamingCuration", legacyConfigs = legacyCfg)
        if (!done) {
          // the digest index is the OTHER HALF of this stream's state
          // (markers commit through keptDir): fence it with the same
          // identity+config claim so a partial wipe fails fast instead
          // of silently dropping every doc a DEAD run once kept (stale
          // digests) or silently disabling cross-batch dedup (digest
          // dir deleted alone). A committed kept output whose digest
          // dir carries no claim IS that second wipe — refuse before
          // re-claiming would mask it. (Digest dirs from releases
          // before this fence carry no claim either; their remedy is
          // the same documented one: delete both and re-ingest.)
          if (committed.nonEmpty && !StreamProtocol.hasClaim(digestFs, digestPath))
            throw new IllegalStateException(
              s"StreamingCuration: $keptDir has committed batches but the " +
                s"digest index at $digestDir carries no run claim — the " +
                "digest index was deleted (or predates the claim fence) " +
                "while the kept output was retained. State spans BOTH " +
                "directories; delete kept output, digest index, and " +
                "checkpoint together and re-ingest.")
          StreamProtocol.claimAuxiliary(digestFs, digestPath, checkpoint,
            cfg, "StreamingCuration (digest index)", legacyConfigs = legacyCfg)
          // one source read for the whole batch: the gated projection
          // feeds the decontam posts, the digest probe, and the final
          // keeper semi-join
          val gated = batch.filter(gate)
            .withColumn("_digest", md5(col(textCol)))
            .withColumn("_bucket",
              pmod(xxhash64(col("_digest")), lit(BucketCount.toLong)).cast("int"))
            .cache()
          // posts stays cached until the batch's WRITES ran: its two
          // consumers are flaggedPairs' eager touched-bucket collect
          // (now) and the contamination join (lazily, when `kept`
          // materializes at the writes) — unpersisting before the
          // writes would re-run the shingle explode + index join
          val posts = StreamingDecontam.posts(
            gated, col(idCol), col(textCol), "c_id", shingleN).cache()
          try {
            val contaminated = StreamingDecontam
              .flaggedPairs(posts, evalIndexDir, minOverlap, excludeSameId)
              .select(col("doc_id")).distinct()
            val clean = gated.join(contaminated,
              gated(idCol) === contaminated("doc_id"), "left_anti")
            // within-batch keeper: first occurrence by id per digest.
            // NULL-text docs have a NULL digest; partitioning on the
            // digest alone would fold them all into ONE group and keep
            // only the first — but batch Dedup.exact keeps EVERY
            // null-content doc as its own keeper (the engine's
            // NULL-content law), so the window key falls back to the
            // doc's own id, same sentinel pattern as Dedup.exact
            val grpKey = coalesce(col("_digest"),
              concat(lit("\u0000null:"), col(idCol).cast("string")))
            val w = Window.partitionBy(grpKey).orderBy(col(idCol))
            // cached: the eager touched-bucket collect below and the
            // digest anti-join both consume this frame — uncached, the
            // decontam anti-join + keeper window (the batch's two most
            // expensive stages) would run once for the collect and
            // AGAIN when the writes materialize
            val firsts = clean.withColumn("_rn", row_number().over(w))
              .filter(col("_rn") === 1).drop("_rn").cache()
            // cross-batch: prune the digest index to touched buckets
            // (bounded driver-side collect), fence half-committed
            // appends of THIS batch, anti-join on the digest string
            val kept =
              if (digestFs.exists(digestPath)) {
                val touched = firsts.filter(col("_digest").isNotNull)
                  .select(col("_bucket")).distinct()
                  .collect().map(_.getInt(0)).toIndexedSeq
                val idx = spark.read.schema(DigestSchema).parquet(digestDir)
                  .filter(col("bucket").isin(touched: _*) &&
                    col("ingest_batch") < batchId)
                firsts.join(idx, firsts("_digest") === idx("digest"), "left_anti")
              } else firsts
            // two writes consume `kept` (rows + digests): cache it so
            // the decontam/dedup joins run once, not per action
            val keptC = kept.cache()
            try {
              // keeper rows keep their ORIGINAL columns; replay
              // rewrites the same directory (Overwrite), marker
              // commits last
              keptC.drop("_digest", "_bucket")
                .write.mode(SaveMode.Overwrite)
                .parquet(s"$keptDir/batch=$batchId")
              // null digests never match the anti-join (null-text
              // keepers are always kept, matching the batch law) —
              // indexing them would only grow never-matching rows
              keptC.filter(col("_digest").isNotNull)
                .select(col("_digest").as("digest"),
                  col("_bucket").as("bucket"), lit(batchId).as("ingest_batch"))
                .write.mode(SaveMode.Append)
                .partitionBy("bucket").parquet(digestDir)
              StreamProtocol.commit(fs, keptPath, "_batch_", batchId)
            } finally { keptC.unpersist(); firsts.unpersist() }
          } finally { posts.unpersist(); gated.unpersist() }
        }
        ()
      }
      .start()
}
