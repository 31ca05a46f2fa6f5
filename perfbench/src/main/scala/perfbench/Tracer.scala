package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters a traced run collects from outside the program, through
  * Spark's public listener APIs and the JVM's MXBeans. Events are kept in
  * memory; [[take]] drains the listener bus and returns what the current
  * operation accumulated, then starts the next operation from zero.
  *
  * Jobs submitted while the local property [[SpanProperty]] names a
  * construction span count as construction jobs: local properties travel
  * with the job, so the attribution is exact even though listener events
  * arrive late on another thread.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext

  private val execs = new java.util.concurrent.ConcurrentLinkedQueue[Exec]()
  private val progress =
    new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Long]]()
  private val progressRows = new AtomicLong()
  private val jobs = new AtomicLong()
  private val constructJobs = new ConcurrentHashMap[String, AtomicLong]()
  private val stages = new AtomicLong()
  private val tasks = new AtomicLong()
  private val shuffleBytes = new AtomicLong()
  private val runMs = new AtomicLong()
  private val cpuNs = new AtomicLong()
  private val constructWindows =
    new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  private val cacheBlocks = new ConcurrentHashMap[String, java.lang.Long]()
  private val cachePeak = new AtomicLong() // bytes, max over the op

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
        .foreach(s => constructJobs
          .computeIfAbsent(s, _ => new AtomicLong()).incrementAndGet())
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        runMs.addAndGet(m.executorRunTime)
        cpuNs.addAndGet(m.executorCpuTime)
        shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val i = e.blockUpdatedInfo
      if (i.blockId.isRDD) {
        val size = i.memSize + i.diskSize
        if (size > 0) cacheBlocks.put(i.blockId.name, size)
        else cacheBlocks.remove(i.blockId.name)
        cachePeak.accumulateAndGet(cachedBytes(), math.max)
      }
    }
  }

  private val execListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
      val startMs = phases.values.map(_.startTimeMs).minOption.getOrElse(0L)
      // analysis ran before the action started; optimization and
      // planning run inside the action's measured duration
      val plan = (ms("analysis") + ms("optimization") + ms("planning")) / 1e3
      val inAction = (ms("optimization") + ms("planning")) / 1e3
      val write = qe.executedPlan.collectFirst {
        case d: DataWritingCommandExec => d
      }
      val table = write.flatMap(_.cmd match {
        case c: InsertIntoHadoopFsRelationCommand =>
          Some(c.outputPath.getName)
        case _ => None
      })
      def metric(n: String) = write.flatMap(_.cmd.metrics.get(n))
        .map(_.value).getOrElse(0L)
      execs.add(Exec(startMs, plan, inAction, durationNs / 1e9, table,
        metric("numOutputRows"), metric("numFiles"),
        metric("numOutputBytes")))
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
        : Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent)
        : Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      progress.add(e.progress.durationMs.asScala
        .map { case (k, v) => k -> v.longValue }.toMap)
      progressRows.addAndGet(e.progress.numInputRows)
    }
  }

  def register(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(execListener)
    spark.streams.addListener(streamListener)
  }

  def unregister(): Unit = {
    org.apache.spark.perfbench.Bus.flush(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(execListener)
    spark.streams.removeListener(streamListener)
  }

  /** Runs `body` as the construction span `name`: jobs it launches are
    * counted as construction jobs of that span, and query executions it
    * runs (eager pins) as construction executions. */
  def construct[T](name: String)(body: => T): T = {
    val start = System.currentTimeMillis()
    sc.setLocalProperty(SpanProperty, name)
    try body
    finally {
      sc.setLocalProperty(SpanProperty, null)
      constructWindows.add((start, System.currentTimeMillis()))
    }
  }

  /** Drains the listener bus and returns the events of the current
    * operation, resetting every counter. */
  def take(): Taken = {
    org.apache.spark.perfbench.Bus.flush(sc)
    val windows = drain(constructWindows)
    // an execution that started before a construction span ended ran
    // inside it (the action that consumes the frame starts after it)
    val actions = drain(execs).filterNot(e =>
      windows.exists { case (s, end) => e.startMs >= s && e.startMs < end })
    val t = Taken(
      execs = actions,
      progress = drain(progress),
      progressRows = progressRows.getAndSet(0),
      jobs = jobs.getAndSet(0),
      constructJobs = constructJobs.asScala.map { case (k, v) =>
        k -> v.get }.toMap,
      stages = stages.getAndSet(0),
      tasks = tasks.getAndSet(0),
      shuffleBytes = shuffleBytes.getAndSet(0),
      runS = runMs.getAndSet(0) / 1e3,
      cpuS = cpuNs.getAndSet(0) / 1e9,
      cachePeakMb = cachePeak.getAndSet(cachedBytes()) / 1048576.0)
    constructJobs.clear()
    t
  }

  private def cachedBytes(): Long =
    cacheBlocks.values.asScala.map(_.longValue).sum

  private def drain[T](q: java.util.Queue[T]): Seq[T] = {
    val out = mutable.ArrayBuffer[T]()
    var x = q.poll()
    while (x != null) { out += x; x = q.poll() }
    out.toSeq
  }
}

object Tracer {
  val SpanProperty = "perfbench.construct"

  /** One successful query execution (an action or a write): its start,
    * plan phases, the part of them inside the action's duration, the
    * duration, and for a file write the table and its output counts. */
  final case class Exec(startMs: Long, planS: Double, inActionPlanS: Double, durS: Double,
      table: Option[String], rows: Long, files: Long, bytes: Long)

  /** One operation's events; `execs` leaves out the executions that ran
    * inside a construction span (they are construction time). */
  final case class Taken(
      execs: Seq[Exec], progress: Seq[Map[String, Long]],
      progressRows: Long, jobs: Long, constructJobs: Map[String, Long],
      stages: Long, tasks: Long, shuffleBytes: Long, runS: Double,
      cpuS: Double, cachePeakMb: Double)

  /** Process-wide JVM counters: GC, Janino and JIT. */
  def jvmCounters(): Map[String, Double] = {
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
    val jit = Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime).getOrElse(0L)
    val janino = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount
    Map("jvm.gc_s" -> gcMs / 1e3, "jvm.jit_s" -> jit / 1e3,
      "jvm.janino_compiles" -> janino.toDouble)
  }

  private val liveHeapPeak = new AtomicLong()

  /** Starts recording the heap's occupancy after every collection; its
    * peak ([[liveHeapPeakMb]]) is the most memory the program held live,
    * which unlike the resident set does not depend on how far the
    * collector let the heap grow. */
  def watchLiveHeap(): Unit = {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    val listener: NotificationListener = (n: Notification, _: AnyRef) =>
      if (n.getType ==
          GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val after = GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[CompositeData])
          .getGcInfo.getMemoryUsageAfterGc.asScala
        liveHeapPeak.accumulateAndGet(after.collect {
          case (pool, u) if heapPools(pool) => u.getUsed }.sum, math.max)
      }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }

  def liveHeapPeakMb(): Double = liveHeapPeak.get / 1048576.0

  /** Peak heap use over the JVM's life, summed over the heap pools. */
  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Peak resident set size of this process (`VmHWM`), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }
}
