package graft.streaming

import java.io.IOException

import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** The shared at-least-once replay protocol of the ten persistent-state
  * streams, every one of which writes through [[sink]]
  * (StreamingDedup, StreamingSimilarity, StreamingCorpusStats,
  * StreamingCuration, StreamingDecontam, StreamingWinnow, StreamingGraph,
  * StreamingEngagement, StreamingDrift and StreamingQuantile through
  * `StreamingDrift.monitor`):
  *
  *  1. a `_stream_checkpoint` RUN-IDENTITY file records the owning
  *     checkpoint INSTANCE (path + the unique id Structured Streaming
  *     writes into `<checkpoint>/metadata`) on first write; any batch
  *     arriving from a different instance fails fast — a fresh
  *     checkpoint, even one recreated at the same path, restarts batch
  *     ids at 0, so its batches would be silently swallowed by the old
  *     markers and the persisted state hidden from matching;
  *  2. a `_stream_config` fingerprint records the STATE-SHAPING
  *     parameters (hash planes, signature length, sketch widths…);
  *     resuming with different ones would merge incompatible state —
  *     e.g. CMS cells from two widths cell-summed as if they shared a
  *     hash space can silently UNDERcount, violating the sketch's
  *     guarantee — so a mismatch fails fast too;
  *  3. a committed per-batch marker with an id BEYOND the current
  *     batch catches a checkpoint deleted and recreated at the same
  *     path (which defense 1 cannot);
  *  4. the batch's own marker, written LAST by [[sink]] once the
  *     stream's batch body returned, makes a fully-committed replay a
  *     no-op.
  *
  * Old state is refused, never upgraded: a state directory is either
  * claimed fresh or its stored identity and fingerprint must equal the
  * running stream's byte for byte. A claim written by older code (a
  * bare-path identity, an older fingerprint rendering) fails loudly
  * with the delete-and-re-ingest remedy, and the markers are published
  * once and never rewritten.
  *
  * All probes are driver-side filesystem metadata — no data scan. */
private[streaming] object StreamProtocol {

  private val RunFile = "_stream_checkpoint"
  private val ConfigFile = "_stream_config"

  /** One micro-batch of a [[sink]]: the batch, its id, the state
    * directory's FileSystem and the batch ids committed in it (from
    * the guard's one listing). */
  final case class Batch(df: DataFrame, id: Long, fs: FileSystem,
                         committed: Seq[Long]) {
    def spark: SparkSession = df.sparkSession
  }

  /** The one committed-batch sink: sets the checkpoint, resolves the
    * state directory's FileSystem, runs `preClaim` (a check that must
    * refuse before anything is claimed), then guards 1-3; a committed
    * replay skips, any other batch runs `body` and publishes its marker
    * only after `body` returned normally. */
  def sink(df: DataFrame, dir: String, checkpoint: String, config: String,
           streamName: String, markerPrefix: String = "_batch_",
           preClaim: SparkSession => Unit = _ => ())
          (body: Batch => Unit): StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        preClaim(spark)
        // Hadoop FS probe — java.io.File would always miss on HDFS/S3
        val path = new Path(dir)
        val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
        val (done, committed) = guard(fs, path, checkpoint, config,
          batchId, markerPrefix, streamName)
        if (!done) {
          body(Batch(batch, batchId, fs, committed))
          commit(fs, path, markerPrefix, batchId)
        }
        ()
      }
      .start()

  private def committedIds(fs: FileSystem, dir: Path, markerPrefix: String): Seq[Long] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(_.startsWith(markerPrefix))
      .flatMap(n => scala.util.Try(n.stripPrefix(markerPrefix).toLong).toOption)

  /** The batch ids committed in `dir` — the readers' view of a state
    * directory (empty for a missing one). */
  def committed(spark: SparkSession, dir: String, markerPrefix: String): Seq[Long] = {
    val p = new Path(dir)
    committedIds(p.getFileSystem(spark.sessionState.newHadoopConf()), p,
      markerPrefix)
  }

  private def readFile(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  /** Publish a marker that does not exist yet: write `<name>.tmp`, then
    * rename it onto the absent target, so a reader never sees a partial
    * marker. An existing target is an `IOException` — markers are never
    * overwritten, whichever way the scheme's rename treats an existing
    * destination. On a checksummed filesystem (`file://`) the bytes go
    * through the raw one: markers are guarded by content equality, and
    * a `.crc` sidecar would turn any later edit of the marker into a
    * `ChecksumException`. */
  private[streaming] def publishFile(fs: FileSystem, p: Path,
                                     content: String): Unit = {
    val raw = fs match {
      case c: ChecksumFileSystem => c.getRawFileSystem
      case other => other
    }
    if (raw.exists(p))
      throw new IOException(s"$p already exists; a marker is never overwritten")
    val tmp = new Path(p.getParent, p.getName + ".tmp")
    val out = raw.create(tmp, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    if (!raw.rename(tmp, p))
      throw new IOException(s"could not publish $tmp -> $p")
  }

  /** The checkpoint INSTANCE identity: its path plus the unique id
    * Structured Streaming writes into `<checkpoint>/metadata` at query
    * start. Deleting and recreating a checkpoint at the SAME path mints
    * a new id — which is what distinguishes "replay of an already-
    * committed batch 0" from "a new run whose batch 0 would be
    * swallowed by the old `_batch_0` marker" (defense 3 only catches
    * recreation once ≥ 2 batches had committed). The metadata is read
    * through the checkpoint's OWN filesystem, which may differ from the
    * state directory's `fs`. Falls back to the bare path when the
    * metadata file is absent (non-SS test drivers). */
  private def checkpointIdentity(fs: FileSystem, checkpoint: String): String = {
    val meta = new Path(new Path(checkpoint), "metadata")
    val metaFs = meta.getFileSystem(fs.getConf)
    // ABSENT metadata is the legitimate fallback (non-SS test drivers,
    // first write); a metadata file that EXISTS but cannot be read is
    // a transient filesystem error and must NOT degrade the identity —
    // a degraded bare-path identity mismatches the stored '#id' claim
    // and the fresh-checkpoint guard would then tell the operator to
    // delete perfectly valid state over a retryable read blip
    val exists =
      try metaFs.exists(meta)
      catch { case e: IOException =>
        throw new IllegalStateException(
          s"could not probe checkpoint metadata at $meta — transient " +
            "filesystem error? Retry the batch; do NOT delete state.", e)
      }
    if (!exists) checkpoint
    else {
      val content =
        try readFile(metaFs, meta)
        catch { case e: IOException =>
          throw new IllegalStateException(
            s"could not read checkpoint metadata at $meta — transient " +
              "filesystem error? Retry the batch; do NOT delete state.", e)
        }
      val m = """"id"\s*:\s*"([^"]+)"""".r
      m.findFirstMatchIn(content).map(u => s"$checkpoint#${u.group(1)}")
        .getOrElse(checkpoint)
    }
  }

  /** The identity + config claim shared by [[guard]] and
    * [[claimAuxiliary]]: claim both markers fresh, or require both to
    * equal this stream's. */
  private def claimIdentityAndConfig(fs: FileSystem, dir: Path,
      config: String, streamName: String, identity: String): Unit = {
    val runMarker = new Path(dir, RunFile)
    val runExisted = fs.exists(runMarker)
    if (runExisted) {
      val owner = readFile(fs, runMarker)
      if (owner != identity)
        throw new IllegalStateException(
          s"$streamName: $dir is owned by checkpoint '$owner' but this " +
            s"stream runs from '$identity' — a fresh checkpoint (even " +
            "recreated at the same path: the instance id after '#' " +
            "changes) restarts " +
            "batch ids at 0, so its batches would be silently swallowed " +
            "by the old batch markers and the persisted state hidden from " +
            "matching. Resume from the original checkpoint, or delete the " +
            "state directory and re-ingest. (Moved the checkpoint " +
            s"directory on purpose? Update the $RunFile file to the new " +
            "identity.)")
    } else publishFile(fs, runMarker, identity)
    val cfgMarker = new Path(dir, ConfigFile)
    if (fs.exists(cfgMarker)) {
      val owner = readFile(fs, cfgMarker)
      if (owner != config)
        throw new IllegalStateException(
          s"$streamName: $dir was built with state-shaping parameters " +
            s"[$owner] but this stream runs with [$config] — merging or " +
            "matching across different hash/sketch shapes silently " +
            "corrupts the persisted state (it cannot fail checksums; it " +
            "just answers wrongly). Resume with the original parameters, " +
            "or delete the state directory and re-ingest.")
    } else if (runExisted)
      // a crash between the first claim's two publishes (or a config
      // marker deleted by hand) leaves a CLAIMED dir with NO config.
      // Re-claiming blind would record whatever parameters THIS stream
      // happens to run with — turning the loud config-mismatch guard
      // into silent state corruption for a resume with different
      // state-shaping params.
      throw new IllegalStateException(
        s"$streamName: $dir carries a run-identity claim but no " +
          s"$ConfigFile — a crash during a marker rewrite left the " +
          "state-shaping parameters unverifiable, and re-claiming them " +
          "blind would let mismatched hash/sketch shapes merge silently. " +
          s"Restore $ConfigFile to the parameters the state was built " +
          "with, or delete the state directory and re-ingest (a dir " +
          "holding only marker files and no committed batches is safe " +
          "to delete).")
    else publishFile(fs, cfgMarker, config)
  }

  /** Identity + config fencing for an AUXILIARY directory of a stream
    * whose batches commit through ANOTHER directory's markers (a
    * digest index beside the kept output, a per-batch verdict dir
    * beside the match index). Without its own claim, such a directory
    * survives a partial re-ingest invisibly: the marker dir is wiped
    * and re-claimed fresh while the auxiliary keeps a DEAD run's rows
    * (or its stale batch=N outputs), silently corrupting verdicts.
    * With the claim, resuming against an auxiliary owned by a
    * different run or regime fails fast with the same remedies as the
    * primary guard. */
  def claimAuxiliary(spark: SparkSession, auxDir: String, checkpoint: String,
                     config: String, streamName: String): Unit = {
    val dir = new Path(auxDir)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(dir)) { auxClaimed.remove(dir.toString); fs.mkdirs(dir) }
    // the claim is immutable for the run's life once written, so one
    // successful probe per (JVM, aux-dir generation, checkpoint
    // INSTANCE) suffices — re-probing every micro-batch pays ~4 extra
    // driver-side round-trips on object stores for zero information.
    // The identity is part of the memo VALUE: a wiped-and-re-claimed
    // PRIMARY with a retained auxiliary would otherwise ride a stale
    // memo straight past the ownership check.
    val identity = checkpointIdentity(fs, checkpoint)
    val key = dir.toString
    def memoValue = generationToken(fs, dir).map(_ + "|" + identity)
    if (memoValue.exists(_ == auxClaimed.get(key))) return
    if (!hasClaim(fs, dir)) {
      // an UNCLAIMED auxiliary holding data predates the claim fence
      // or belongs to a dead run whose primary was wiped and
      // re-ingested — adopting it would silently mix the dead run's
      // batch outputs into this run (the exact corruption the fence
      // exists to refuse; StreamingCuration documents the same policy
      // for its digest index)
      // marker .tmp siblings are publishFile crash artifacts, not data —
      // counting them would permanently refuse a dir whose FIRST claim
      // crashed mid-publish (no run file yet, one orphaned tmp)
      val markers = Set(RunFile, ConfigFile,
        RunFile + ".tmp", ConfigFile + ".tmp")
      val content = fs.listStatus(dir).exists(e =>
        !markers.contains(e.getPath.getName))
      if (content)
        throw new IllegalStateException(
          s"$streamName: auxiliary state at $dir holds data but carries " +
            "no run-identity claim — it predates the claim fence or " +
            "belongs to a dead run whose primary state was re-ingested; " +
            "its rows would silently mix into this run's output. Delete " +
            "the auxiliary directory (with the primary state and " +
            "checkpoint, if resuming is not intended) and re-ingest.")
    }
    claimIdentityAndConfig(fs, dir, config, streamName, identity)
    memoValue match {
      case Some(v) => auxClaimed.put(key, v)
      case None => auxClaimed.remove(key)
    }
  }

  /** Memo for [[claimAuxiliary]]: aux-dir generation + checkpoint
    * identity of the last successful claim per directory. */
  private val auxClaimed =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Whether `dir` carries a run-identity claim — the cross-directory
    * consistency probe for streams whose state spans several
    * directories (a committed primary with an UNCLAIMED auxiliary
    * means the auxiliary was deleted out from under the run). */
  def hasClaim(fs: FileSystem, dir: Path): Boolean =
    fs.exists(new Path(dir, RunFile))

  /** Run guards 1-3 and report whether this batch is ALREADY fully
    * committed (defense 4: a replay of a finished batch skips), with the
    * committed batch ids from the SAME directory listing — batch
    * bodies that need the committed set (the empty-state / previous-
    * version path) get it without a second `listStatus`, which on
    * object stores walks a directory whose marker count grows with
    * every batch. On the first batch the identity and config files are
    * claimed. */
  def guard(fs: FileSystem, dir: Path, checkpoint: String,
            config: String, batchId: Long, markerPrefix: String,
            streamName: String): (Boolean, Seq[Long]) = {
    claimIdentityAndConfig(fs, dir, config, streamName,
      checkpointIdentity(fs, checkpoint))
    val committed = committedIds(fs, dir, markerPrefix)
    if (committed.nonEmpty && committed.max > batchId)
      throw new IllegalStateException(
        s"$streamName: $dir already holds committed batches up to " +
          s"${committed.max} but this stream is at batch $batchId — a " +
          "fresh checkpoint is replaying over retained state. Either " +
          "resume from the original checkpoint or delete the state " +
          "directory and re-ingest.")
    (committed.contains(batchId), committed)
  }

  /** Commit point: the batch's marker, written LAST by [[sink]]. */
  private[streaming] def commit(fs: FileSystem, dir: Path, markerPrefix: String,
                                batchId: Long): Unit =
    fs.create(new Path(dir, s"$markerPrefix$batchId"), true).close()

  /** The ingest_batch column probe memo: the run-identity + config
    * guards make the column immutable for the life of a guarded
    * stream, so one successful probe per (JVM, directory GENERATION)
    * suffices — re-probing every micro-batch costs a full listing +
    * footer read on object stores for zero information after batch 0.
    * The memo value is a generation fingerprint (the `_stream_
    * checkpoint` run file's mtime+length): a state dir deleted and
    * recreated at the same path gets a freshly-claimed run file, so
    * the stale entry stops matching and the legacy-index probe
    * re-fires even when no call happened to observe the directory
    * absent in between. A dir with no run file (externally prepared
    * index) never memoizes — it probes every call, the safe default. */
  private val ingestBatchValidated =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The directory-generation fingerprint for the memo above; None
    * when the dir has no claimed run file (never memoize). */
  private def generationToken(fs: FileSystem, dir: Path): Option[String] =
    scala.util.Try {
      val st = fs.getFileStatus(new Path(dir, RunFile))
      s"${st.getModificationTime}#${st.getLen}"
    }.toOption

  /** Validated read of a persisted partition-pruned streaming index —
    * the layout/ingest_batch guard shared by [[StreamingDedup]] and
    * [[StreamingSimilarity]] (previously two hand-synced copies):
    *  - data outside `<partitionPrefix>=*` directories — a LEGACY
    *    UNPARTITIONED index (parquet files at the root) or one keyed
    *    by another column (`band_idx=*` under an `ingest_batch`
    *    reader) — reads back NULL or empty, so every indexed row
    *    silently stops matching — fail loudly with the remedy. Data is
    *    any entry not prefixed `_` or `.` (markers, `_SUCCESS`,
    *    checksums and write staging dirs are not);
    *  - a directory with markers but no partition data yet is an
    *    EMPTY index, not an error — None;
    *  - a pre-`ingest_batch` index would have the replay fence
    *    silently drop every entry — fail loudly (probe memoized per
    *    JVM+directory, see above).
    * Returns the schema'd unfiltered reader; callers apply their own
    * partition prune and `ingest_batch` fence. */
  def validatedIndex(spark: SparkSession, fs: FileSystem, dir: Path,
                     partitionPrefix: String, schema: StructType,
                     streamName: String, rebuildHint: String): Option[DataFrame] = {
    // a directory observed absent (or emptied back to no-partitions)
    // is a new GENERATION: drop its memoized probe so a recreated
    // index at the same path is re-validated — the generation token
    // below catches recreation even when no call observes the gap
    if (!fs.exists(dir)) {
      ingestBatchValidated.remove(dir.toString)
      return None
    }
    val (partitions, foreign) = fs.listStatus(dir).toSeq
      .filterNot { e =>
        val n = e.getPath.getName
        n.startsWith("_") || n.startsWith(".")
      }
      .partition(e =>
        e.isDirectory && e.getPath.getName.startsWith(partitionPrefix + "="))
    if (foreign.nonEmpty)
      throw new IllegalStateException(
        s"$streamName: $dir holds data outside $partitionPrefix=* " +
          s"directories (${foreign.map(_.getPath.getName).sorted.take(3)
            .mkString(", ")}) — a legacy UNPARTITIONED index or one of " +
          "another layout. Matches against it would be silently dropped. " +
          s"Delete the directory and re-ingest, or rewrite it $rebuildHint.")
    if (partitions.isEmpty) { ingestBatchValidated.remove(dir.toString); None }
    else {
      val key = dir.toString
      val gen = generationToken(fs, dir)
      if (!gen.exists(_ == ingestBatchValidated.get(key))) {
        val cols = spark.read.parquet(dir.toString).columns
        if (!cols.contains("ingest_batch"))
          throw new IllegalStateException(
            s"$streamName: $dir holds a legacy index without the " +
              "ingest_batch column; matching would silently drop it. " +
              "Delete the directory and re-ingest.")
        gen match {
          case Some(g) => ingestBatchValidated.put(key, g)
          case None => ingestBatchValidated.remove(key)
        }
      }
      Some(spark.read.schema(schema).parquet(dir.toString))
    }
  }
}
