package org.apache.spark

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** The session checkpoint directory for tests. `graft.operators.Pin`
  * reads it, and `SparkContext.setCheckpointDir` has no unset: a suite
  * that set it would switch every later suite sharing the test
  * SparkContext to reliable checkpoints. The setter that restores it is
  * `private[spark]`, hence this package. */
object CheckpointDirs {

  /** Run `body` with the active context's checkpoint directory under
    * `dir`, then restore whatever was set before (usually nothing). */
  def withCheckpointDir[T](dir: String)(body: => T): T = {
    val sc = SparkContext.getActive.getOrElse(
      throw new IllegalStateException("no active SparkContext"))
    val saved = sc.checkpointDir
    sc.setCheckpointDir(dir)
    try body finally sc.checkpointDir = saved
  }

  /** The regular files under `dir`, recursively. */
  def filesUnder(dir: String): Seq[Path] = {
    val walk = Files.walk(Paths.get(dir))
    try walk.iterator.asScala.filter(Files.isRegularFile(_)).toList
    finally walk.close()
  }
}
