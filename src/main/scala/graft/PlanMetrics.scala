package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}

/** Executed-plan metric harvesting: run a frame, then read the REAL
  * executor-side SQL metrics off the (AQE-final) physical plan — shuffle
  * bytes/records actually moved, not plan-shape guesses. This is the
  * number that decides whether an operator survives a 100 TB run: a plan
  * with 3 exchanges that move 1% of the input beats a 1-exchange plan
  * that moves everything.
  */
object PlanMetrics {

  final case class ShuffleSummary(
      exchanges: Int, shuffleBytes: Long, shuffleRecords: Long)

  /** Every node of the executed (AQE-final) plan, walking into query
    * stages and through reused exchanges. A node is listed once: an
    * exchange reused across AQE stages appears once per consumer in the
    * tree (wrapped in ReusedExchangeExec) but moves data exactly once,
    * so it is counted by object identity and reuse-heavy plans aren't
    * inflated. */
  def executedNodes(df: DataFrame): Seq[SparkPlan] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case r: ReusedExchangeExec => walk(r.child)
      case other if seen.add(other) => other +: other.children.flatMap(walk)
      case _ => Nil
    }
    walk(df.queryExecution.executedPlan)
  }

  /** Execute `df` (full plan, nothing collected to the driver beyond
    * metric values) and sum shuffle-write metrics across all exchanges,
    * including those hidden inside AQE query stages. */
  def shuffleSummary(df: DataFrame): ShuffleSummary = {
    df.queryExecution.executedPlan.execute().foreach(_ => ()) // run to populate metrics
    val exchanges = executedNodes(df).collect { case sh: ShuffleExchangeLike => sh }
    def total(names: String*): Long = exchanges.flatMap(sh =>
      names.flatMap(sh.metrics.get).headOption.map(_.value)).sum
    ShuffleSummary(exchanges.size,
      total("shuffleBytesWritten", "bytesWritten"),
      total("shuffleRecordsWritten", "recordsWritten"))
  }
}
