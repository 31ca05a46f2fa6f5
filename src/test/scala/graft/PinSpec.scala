package graft

import org.apache.spark.CheckpointDirs.{filesUnder, withCheckpointDir}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

import graft.operators.Pin

/** The one materialization policy: local pin by default, reliable
  * checkpoint under a session checkpoint directory, streaming frames
  * untouched. */
class PinSpec extends SparkTestBase {
  import spark.implicits._

  private def pinnedRdd(df: DataFrame) = df.queryExecution.analyzed match {
    case l: LogicalRDD => l.rdd
    case other => fail(s"not a pinned plan: ${other.nodeName}")
  }

  private def sample = (1 to 50).map(i => (i, s"v${i % 7}")).toDF("k", "v")

  test("no checkpoint dir: a local pin, materialized when it is built") {
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    val rdd = pinnedRdd(Pin(sample))
    assert(rdd.isCheckpointed) // the job ran at construction
    assert(rdd.getCheckpointFile.isEmpty) // executor blocks, no files
  }

  test("with a checkpoint dir: checkpoint files under it, same rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pin").toString
    try {
      val pinned = withCheckpointDir(dir)(Pin(sample))
      val rdd = pinnedRdd(pinned)
      assert(rdd.isCheckpointed)
      assert(rdd.getCheckpointFile.exists(_.contains(dir)))
      assert(filesUnder(dir).nonEmpty)
      assert(pinned.collect().toSet == sample.collect().toSet)
      assert(spark.sparkContext.getCheckpointDir.isEmpty) // restored
    } finally {
      org.apache.commons.io.FileUtils
        .deleteQuietly(new java.io.File(dir)); ()
    }
  }

  test("a streaming frame passes through unchanged") {
    val stream = spark.readStream.format("rate").load()
    assert(Pin(stream) eq stream)
  }
}
