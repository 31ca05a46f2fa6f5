package graft.operators

import org.apache.spark.sql.DataFrame

/** The one way graft materializes a frame that several consumers share
  * or whose lineage must be cut. Every operator that pins goes through
  * [[Pin.apply]]; its contract holds for all of them:
  *
  *  - EAGER: the frame is computed when the pin is built, i.e. at the
  *    calling operator's construction — its jobs run even if the
  *    caller never acts on the result.
  *  - An `observe` metric inside the pinned frame fires once, at pin
  *    time: the pin truncates the observe node out of the returned
  *    lineage, so a consuming action's `observedMetrics` never sees it
  *    (read it from the [[ObservedLog]] listener).
  *  - The storage medium follows the session's checkpoint directory.
  *    With none set (local runs, the bench) the frame is a
  *    `localCheckpoint`: executor-local blocks, fastest, lost with
  *    their executor. A cluster deployment sets a reliable directory
  *    (HDFS, an object store) through Spark's own `spark.checkpoint.dir`
  *    or `SparkContext.setCheckpointDir`, and every pin becomes a
  *    reliable `checkpoint` that survives executor loss. graft itself
  *    never sets that directory.
  *  - A streaming frame cannot be checkpointed; it passes through lazily
  *    (micro-batches are small by construction).
  */
object Pin {
  def apply(df: DataFrame): DataFrame =
    if (df.isStreaming) df
    else if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint()
    else df.localCheckpoint()
}
