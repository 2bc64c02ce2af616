package org.apache.spark

import java.io.File
import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession

/** Scoped checkpoint dir for tests. Every suite shares one JVM-wide
  * session, and the session's checkpoint dir decides whether each
  * [[graft.operators.OpUtils.barrier]] is replayable — a dir left set
  * (or set and then deleted) would silently turn every later suite's
  * barriers reliable. `SparkContext.checkpointDir` has no public
  * unsetter, so the restore goes through its `private[spark]` setter,
  * hence this package. */
object CheckpointDirs {

  /** Runs `body` with a fresh temp checkpoint dir set on the session,
    * then restores the session's prior dir and deletes the temp one. */
  def withCheckpointDir[T](spark: SparkSession)(body: File => T): T = {
    val sc = spark.sparkContext
    val prior = sc.checkpointDir
    val dir = Files.createTempDirectory("graft-ckpt").toFile
    sc.setCheckpointDir(dir.toString)
    try body(dir)
    finally {
      sc.checkpointDir = prior
      FileUtils.deleteDirectory(dir)
    }
  }

  /** The `rdd-*` checkpoint data under `dir`: `setCheckpointDir`
    * pre-creates a UUID subdirectory, so a top-level listing would be
    * non-empty even when no barrier wrote anything. */
  def rddCheckpoints(dir: File): Seq[File] =
    dir.listFiles().toSeq
      .flatMap(u => Option(u.listFiles()).map(_.toSeq).getOrElse(Nil))
      .filter(_.getName.startsWith("rdd-"))
}
