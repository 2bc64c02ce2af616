package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The shared at-least-once replay protocol of the persistent-state
  * streams (StreamingDedup / StreamingSimilarity / StreamingCorpusStats):
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
  *  4. the batch's own marker, written LAST by the caller via
  *     [[commit]], makes a fully-committed replay a no-op.
  *
  * All probes are driver-side filesystem metadata — no data scan. */
private[streaming] object StreamProtocol {

  private val RunFile = "_stream_checkpoint"
  private val ConfigFile = "_stream_config"

  def committedIds(fs: FileSystem, dir: Path, markerPrefix: String): Seq[Long] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(_.startsWith(markerPrefix))
      .flatMap(n => scala.util.Try(n.stripPrefix(markerPrefix).toLong).toOption)

  private def readFile(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  /** Publish a marker file atomically-enough: write a temp sibling,
    * then rename OVER the target in one step. A plain
    * truncate-and-write (`fs.create(p, true)`) has a crash window
    * that leaves a TRUNCATED marker — for the legacy-upgrade rewrites
    * that would brick a perfectly valid state dir on restart (the
    * partial string matches neither the current nor any legacy
    * rendering, so the guard fails loudly until hand-repaired). With
    * an overwriting rename every crash window leaves either the OLD
    * file or the NEW file — never an absent one, which matters for
    * the RUN-IDENTITY marker: a vanished identity file is not merely
    * "re-claimed by the rightful owner later" but claimable by ANY
    * stream pointed at the dir (including one with a foreign
    * checkpoint), silently transferring ownership for that window.
    *
    * The rename that actually IS atomic depends on the scheme:
    *  - `file://` → `java.nio.Files.move(ATOMIC_MOVE|REPLACE_
    *    EXISTING)`, the real POSIX rename(2). The Hadoop route is NOT
    *    atomic here: `RawLocalFs` never overrides
    *    `renameInternal(src, dst, overwrite)`, so
    *    `FileContext.rename(..., OVERWRITE)` falls through to
    *    `AbstractFileSystem`'s default delete-then-rename — exactly
    *    the absent-marker window this method exists to close;
    *  - schemes with a native `AbstractFileSystem` overwrite (HDFS) →
    *    `FileContext.rename(..., Options.Rename.OVERWRITE)`;
    *  - a scheme with NO `AbstractFileSystem` binding (bare test
    *    doubles) → the old delete-then-rename, whose
    *    crash-between-delete-and-rename window CAN lose the marker as
    *    described above; that residual risk is confined to
    *    filesystems that cannot do better. */
  private def writeFile(fs: FileSystem, p: Path, content: String): Unit = {
    val tmp = new Path(p.getParent, p.getName + ".tmp")
    val qTmp = fs.makeQualified(tmp)
    val qP = fs.makeQualified(p)
    if (qP.toUri.getScheme == "file") {
      // bypass the checksum layer for the marker bytes: LocalFileSystem
      // would pair the data file with a .crc sidecar, and no two-file
      // publish can be atomic — a crash between moving the data file
      // and its sidecar leaves a mismatched pair that bricks every
      // subsequent read with ChecksumException (worse than the absent-
      // marker window this method closes). Markers are guarded by
      // content equality checks, not checksums.
      val raw = fs match {
        case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
        case other => other
      }
      val out = raw.create(tmp, true)
      try out.write(content.getBytes("UTF-8")) finally out.close()
      // a stale sidecar from a pre-nio write of p (or a test seeding
      // the marker through the checksummed fs) would fail reads of the
      // new content; deleting it first is safe — a crash here leaves
      // the OLD data file intact, merely unverified
      val crc = new Path(p.getParent, "." + p.getName + ".crc")
      if (raw.exists(crc)) raw.delete(crc, false)
      java.nio.file.Files.move(
        java.nio.file.Paths.get(qTmp.toUri.getPath),
        java.nio.file.Paths.get(qP.toUri.getPath),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      return
    }
    val out = fs.create(tmp, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    val overwrote =
      try {
        org.apache.hadoop.fs.FileContext
          .getFileContext(qP.toUri, fs.getConf)
          .rename(qTmp, qP, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
        true
      } catch {
        case _: org.apache.hadoop.fs.UnsupportedFileSystemException => false
      }
    if (!overwrote) {
      if (fs.exists(p)) fs.delete(p, false)
      if (!fs.rename(tmp, p))
        throw new java.io.IOException(s"could not publish $tmp -> $p")
    }
  }

  /** The atomic publish above, for sibling modules' own marker files
    * (e.g. [[StreamingDecontam]]'s eval-index config) — the same
    * crash-window rationale. */
  private[streaming] def publishFile(fs: FileSystem, p: Path,
                                     content: String): Unit =
    writeFile(fs, p, content)

  /** The checkpoint INSTANCE identity: its path plus the unique id
    * Structured Streaming writes into `<checkpoint>/metadata` at query
    * start. Deleting and recreating a checkpoint at the SAME path mints
    * a new id — which is what distinguishes "replay of an already-
    * committed batch 0" from "a new run whose batch 0 would be
    * swallowed by the old `_batch_0` marker" (defense 3 only catches
    * recreation once ≥ 2 batches had committed). Falls back to the bare
    * path when the metadata file is unreadable (non-SS test drivers, or
    * a checkpoint on a filesystem `fs` cannot reach). */
  private def checkpointIdentity(fs: FileSystem, checkpoint: String): String = {
    val meta = new Path(new Path(checkpoint), "metadata")
    // ABSENT metadata is the legitimate fallback (non-SS test drivers,
    // first write); a metadata file that EXISTS but cannot be read is
    // a transient filesystem error and must NOT degrade the identity —
    // a degraded bare-path identity mismatches the stored '#id' claim
    // and the fresh-checkpoint guard would then tell the operator to
    // delete perfectly valid state over a retryable read blip
    val exists =
      try fs.exists(meta)
      catch { case e: java.io.IOException =>
        throw new IllegalStateException(
          s"could not probe checkpoint metadata at $meta — transient " +
            "filesystem error? Retry the batch; do NOT delete state.", e)
      }
    if (!exists) checkpoint
    else {
      val content =
        try readFile(fs, meta)
        catch { case e: java.io.IOException =>
          throw new IllegalStateException(
            s"could not read checkpoint metadata at $meta — transient " +
              "filesystem error? Retry the batch; do NOT delete state.", e)
        }
      val m = """"id"\s*:\s*"([^"]+)"""".r
      m.findFirstMatchIn(content).map(u => s"$checkpoint#${u.group(1)}")
        .getOrElse(checkpoint)
    }
  }

  /** Run guards 1-4; returns true when this batch is ALREADY fully
    * committed (replay of a finished batch → caller skips). On the
    * first batch the identity and config files are claimed. A stored
    * legacy identity (bare path, pre-instance-id format) is accepted
    * once and upgraded in place; `legacyConfigs` lists older config
    * renderings that are SEMANTICALLY IDENTICAL to `config` (fields
    * added later whose current values match what the old code did) —
    * a stored one is accepted and rewritten to the current format,
    * so state built before a fingerprint gained a field still
    * resumes. */
  def replayGuards(fs: FileSystem, dir: Path, checkpoint: String,
                   config: String, batchId: Long, markerPrefix: String,
                   streamName: String,
                   legacyConfigs: Seq[String] = Nil): Boolean =
    replayGuardsWithCommitted(fs, dir, checkpoint, config, batchId,
      markerPrefix, streamName, legacyConfigs)._1

  /** [[replayGuards]] plus the committed batch ids from the SAME
    * directory listing — for streams whose batch body needs the
    * committed set anyway (it decides the empty-state / previous-
    * version path): one `listStatus` per batch instead of two. The
    * listing is driver-side metadata, but on object stores it walks a
    * directory whose marker count grows with every batch. */
  /** The identity + config claim shared by [[replayGuardsWithCommitted]]
    * and [[claimAuxiliary]]. */
  private def claimIdentityAndConfig(fs: FileSystem, dir: Path,
      checkpoint: String, config: String, streamName: String,
      legacyConfigs: Seq[String],
      precomputedIdentity: Option[String] = None): Unit = {
    val identity =
      precomputedIdentity.getOrElse(checkpointIdentity(fs, checkpoint))
    val runMarker = new Path(dir, RunFile)
    val runExisted = fs.exists(runMarker)
    // a LEGACY bare-path run claim marks a dir written before the
    // instance-id (and config-marker) era: an absent config there is
    // the expected pre-config state, not a crash artifact
    var legacyRunClaim = false
    if (runExisted) {
      val owner = readFile(fs, runMarker)
      if (owner == checkpoint && identity != checkpoint) {
        legacyRunClaim = true
        writeFile(fs, runMarker, identity)          // legacy claim: upgrade
      }
      else if (owner != identity)
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
    } else writeFile(fs, runMarker, identity)
    val cfgMarker = new Path(dir, ConfigFile)
    if (fs.exists(cfgMarker)) {
      val owner = readFile(fs, cfgMarker)
      if (owner != config && legacyConfigs.contains(owner))
        writeFile(fs, cfgMarker, config)            // legacy claim: upgrade
      else if (owner != config)
        throw new IllegalStateException(
          s"$streamName: $dir was built with state-shaping parameters " +
            s"[$owner] but this stream runs with [$config] — merging or " +
            "matching across different hash/sketch shapes silently " +
            "corrupts the persisted state (it cannot fail checksums; it " +
            "just answers wrongly). Resume with the original parameters, " +
            "or delete the state directory and re-ingest.")
    } else if (runExisted && !legacyRunClaim)
      // writeFile's delete+rename crash window can leave a CLAIMED dir
      // with NO config marker (old file deleted, rename never ran).
      // Re-claiming blind would record whatever parameters THIS stream
      // happens to run with — turning the loud config-mismatch guard
      // into silent state corruption for a resume with different
      // state-shaping params. A MODERN (instance-id) claim proves the
      // config marker once existed, so its absence is a crash
      // artifact; a legacy bare-path claim predates the config era
      // and claims fresh above instead.
      throw new IllegalStateException(
        s"$streamName: $dir carries a run-identity claim but no " +
          s"$ConfigFile — a crash during a marker rewrite left the " +
          "state-shaping parameters unverifiable, and re-claiming them " +
          "blind would let mismatched hash/sketch shapes merge silently. " +
          s"Restore $ConfigFile to the parameters the state was built " +
          "with, or delete the state directory and re-ingest (a dir " +
          "holding only marker files and no committed batches is safe " +
          "to delete).")
    else writeFile(fs, cfgMarker, config)
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
  def claimAuxiliary(fs: FileSystem, dir: Path, checkpoint: String,
                     config: String, streamName: String,
                     legacyConfigs: Seq[String] = Nil): Unit = {
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
      // marker .tmp siblings are writeFile crash artifacts, not data —
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
    claimIdentityAndConfig(fs, dir, checkpoint, config, streamName,
      legacyConfigs, precomputedIdentity = Some(identity))
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

  def replayGuardsWithCommitted(fs: FileSystem, dir: Path, checkpoint: String,
                   config: String, batchId: Long, markerPrefix: String,
                   streamName: String,
                   legacyConfigs: Seq[String] = Nil): (Boolean, Seq[Long]) = {
    claimIdentityAndConfig(fs, dir, checkpoint, config, streamName,
      legacyConfigs)
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

  /** Commit point: the batch's marker, written LAST. */
  def commit(fs: FileSystem, dir: Path, markerPrefix: String,
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
