package graft

import org.apache.spark.sql.DataFrame

/** One timed `construct + count()` of a query — the unit `graft.Bench`
  * medians and `graft.Profile` reports — with the process-wide JVM
  * counters read around it: GC seconds, Janino compiles and background
  * JIT ms. A query that throws is a failure carrying its error class,
  * never a (fast) time. */
final case class Sample(seconds: Double, rows: Long, gcS: Double,
    janinoN: Long, janinoMs: Long, jitMs: Long, failed: Option[String])

object Sample {
  def of(query: => DataFrame): Sample = {
    val gc0 = gcMillis()
    val (jn0, jm0) = janino()
    val jit0 = jitMillis()
    val t0 = System.nanoTime()
    val outcome =
      try Right(query.count())
      catch { case e: Throwable => Left(errorClass(e)) }
    val seconds = (System.nanoTime() - t0) / 1e9
    val gcS = (gcMillis() - gc0) / 1e3
    val (jn1, jm1) = janino()
    val jit1 = jitMillis()
    Sample(seconds, outcome.getOrElse(-1L), gcS, jn1 - jn0,
      // -1 = reservoir-corrupted (see janino()): past that many total
      // compiles the snapshot sum is no longer a faithful total
      if (jn1 <= reservoirSize) jm1 - jm0 else -1L,
      if (jit0 < 0) -1L else jit1 - jit0,
      outcome.left.toOption)
  }

  def errorClass(e: Throwable): String =
    Option(e.getClass.getSimpleName).filter(_.nonEmpty)
      .getOrElse(e.getClass.getName)

  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).filter(_ >= 0).sum
  }

  // Background C1/C2 compile ms (CompilationMXBean); -1 if unsupported.
  private def jitMillis(): Long = {
    val c = java.lang.management.ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported)
      c.getTotalCompilationTime
    else -1L
  }

  // Janino compile (count, total ms) from Spark's codegen metrics source.
  // The count is a plain Counter and always exact. The histogram
  // reservoir holds up to 1028 raw values: summing snapshot values and
  // diffing across runs is exact ONLY while the JVM's total compile
  // count stays under that — true for a standalone query (tens of
  // compiles), FALSE after a bench sweep or a `context` replay, where
  // each insert evicts a random prior value (a sum delta can even go
  // negative), so the ms delta is reported as -1 there.
  private def janino(): (Long, Long) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getValues.sum)
  }
  private val reservoirSize = 1028L
}
