package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Task metrics of one completed stage, summed over its tasks. */
final case class StageRec(
    spanId: Int, startMs: Long, endMs: Long, tasks: Int,
    runMs: Long, cpuNs: Long, gcMs: Long,
    shuffleWriteBytes: Long, shuffleReadBytes: Long, fetchWaitMs: Long,
    diskSpillBytes: Long, peakTaskMemBytes: Long)

/** Operator metrics read from the executed plans of one span's queries. */
final case class PlanStats(
    scanFiles: Long = 0, scanBytes: Long = 0, scanMs: Long = 0,
    aggPartialMs: Long = 0, aggFinalMs: Long = 0,
    aggSpillBytes: Long = 0, sortFallbacks: Long = 0,
    writeFiles: Long = 0, writeBytes: Long = 0, commitMs: Long = 0,
    jobCommitMs: Long = 0, candidates: Long = 0, pairs: Long = 0) {
  def +(o: PlanStats): PlanStats = PlanStats(
    scanFiles + o.scanFiles, scanBytes + o.scanBytes, scanMs + o.scanMs,
    aggPartialMs + o.aggPartialMs, aggFinalMs + o.aggFinalMs,
    aggSpillBytes + o.aggSpillBytes, sortFallbacks + o.sortFallbacks,
    writeFiles + o.writeFiles, writeBytes + o.writeBytes, commitMs + o.commitMs,
    jobCommitMs + o.jobCommitMs, candidates + o.candidates, pairs + o.pairs)
}

final class Span(val id: Int, val name: String, val parent: Option[Span], val startMs: Long) {
  val startNs: Long = System.nanoTime()
  var endMs: Long = 0L
  var seconds: Double = 0.0
  var plans: PlanStats = PlanStats()
  val children: ArrayBuffer[Span] = ArrayBuffer.empty

  def subtree: Seq[Span] = this +: children.toSeq.flatMap(_.subtree)
  def selfSeconds: Double = seconds - children.map(_.seconds).sum
}

/** Records a span around each call the benchmark makes into a layer. A
  * SparkListener and a QueryExecutionListener add stage and operator
  * metrics; Spark job groups tie each stage to the span that launched it.
  * Everything stays in memory until the run writes its artifact.
  *
  * Untraced (`traced` false) it registers nothing and `span` only runs
  * its body. While `enabled` is false, a traced run does the same, so it
  * can time untraced jobs on the same code path.
  */
final class Tracer(spark: SparkSession, traced: Boolean) {
  private val sc = spark.sparkContext
  private val GroupPrefix = "perfbench-span-"
  private var nextId = 0
  private var stack: List[Span] = Nil
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val stagePeak = new ConcurrentHashMap[Int, Long]()
  private val pendingPlans = new ConcurrentLinkedQueue[SparkPlan]()
  // a cached relation's plan runs once; later scans of the cache must
  // not count its operators again
  private val seenCached = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())

  val roots: ArrayBuffer[Span] = ArrayBuffer.empty
  val stages: ConcurrentLinkedQueue[StageRec] = new ConcurrentLinkedQueue[StageRec]()
  var enabled: Boolean = traced

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .filter(_.startsWith(GroupPrefix))
        .foreach(g => e.stageIds.foreach(stageSpan.put(_, g.stripPrefix(GroupPrefix).toInt)))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null)
        stagePeak.merge(e.stageId, e.taskMetrics.peakExecutionMemory, (a, b) => math.max(a, b))

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val spanId = stageSpan.get(i.stageId)
      if (i.taskMetrics != null && stageSpan.containsKey(i.stageId)) {
        val m = i.taskMetrics
        stages.add(StageRec(spanId,
          i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L), i.numTasks,
          m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleReadMetrics.fetchWaitTime, m.diskBytesSpilled,
          stagePeak.getOrDefault(i.stageId, 0L)))
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      pendingPlans.add(qe.executedPlan)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  if (traced) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(queryListener)
  }

  /** Hands the queries that finished so far to the innermost open span;
    * outside every span they belong to no span and are dropped.
    */
  private def settle(): Unit = {
    Bus.drain(sc)
    var p = pendingPlans.poll()
    while (p != null) {
      stack.headOption.foreach(s => s.plans += planStats(p))
      p = pendingPlans.poll()
    }
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      settle()
      val s = new Span(nextId, name, stack.headOption, System.currentTimeMillis())
      nextId += 1
      stack.headOption.fold(roots += s)(_.children += s)
      stack = s :: stack
      sc.setJobGroup(GroupPrefix + s.id, name)
      try body
      finally {
        s.seconds = (System.nanoTime() - s.startNs) / 1e9
        s.endMs = System.currentTimeMillis()
        settle()
        stack = stack.tail
        stack.headOption.fold(sc.clearJobGroup())(q => sc.setJobGroup(GroupPrefix + q.id, q.name))
      }
    }

  def stagesOf(s: Span): Seq[StageRec] = {
    val ids = s.subtree.map(_.id).toSet
    stages.asScala.filter(r => ids(r.spanId)).toSeq
  }

  def close(): Unit = if (traced) {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(queryListener)
  }

  private def metric(p: SparkPlan, key: String): Long =
    p.metrics.get(key).map(_.value).getOrElse(0L)

  /** Every operator of an executed plan, pre-order, through adaptive
    * stages, commands and (unless `once` and already counted) caches.
    */
  private def nodes(p: SparkPlan, once: Boolean = true): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan, once)
      case q: QueryStageExec => nodes(q.plan, once)
      case _: ReusedExchangeExec => Nil
      case c: CommandResultExec => nodes(c.commandPhysicalPlan, once)
      case m: InMemoryTableScanExec =>
        val cached = m.relation.cachedPlan
        if (!once || seenCached.add(cached)) nodes(cached, once) else Nil
      case _ => Nil
    }
    p +: (inner ++ (p.children ++ p.subqueries).flatMap(nodes(_, once)))
  }

  /** The LSH rescoring step keeps candidate pairs whose Jaccard passes
    * the threshold; the Jaccard expression is the only `array_intersect`
    * in the dedup plans. Its input rows are the candidates, its output
    * rows the pairs. Catalyst puts it in a Filter or in the join condition.
    */
  private def rescoring(p: SparkPlan): Option[(Long, Long)] = {
    def rows(sub: SparkPlan): Long =
      nodes(sub, once = false).find(_.metrics.contains("numOutputRows")).map(metric(_, "numOutputRows")).getOrElse(0L)
    p match {
      case f: FilterExec if f.condition.sql.contains("array_intersect") =>
        Some((rows(f.child), metric(f, "numOutputRows")))
      case j: BaseJoinExec if j.condition.exists(_.sql.contains("array_intersect")) =>
        Some((rows(j.left), metric(j, "numOutputRows")))
      case _ => None
    }
  }

  private def planStats(root: SparkPlan): PlanStats =
    nodes(root).foldLeft(PlanStats()) { (acc, p) =>
      val m = p.metrics
      val scan =
        if (m.contains("numFiles") && m.contains("filesSize"))
          PlanStats(scanFiles = metric(p, "numFiles"), scanBytes = metric(p, "filesSize"),
            scanMs = metric(p, "scanTime"))
        else PlanStats()
      val agg = p match {
        case a: BaseAggregateExec =>
          val partial = a.aggregateExpressions.exists(_.mode == Partial) ||
            (a.aggregateExpressions.isEmpty && a.requiredChildDistributionExpressions.isEmpty)
          val t = metric(p, "aggTime")
          PlanStats(aggPartialMs = if (partial) t else 0L, aggFinalMs = if (partial) 0L else t,
            aggSpillBytes = metric(p, "spillSize"), sortFallbacks = metric(p, "numTasksFallBacked"))
        case _ => PlanStats()
      }
      val write =
        if (m.contains("numOutputBytes") && m.contains("jobCommitTime"))
          PlanStats(writeFiles = metric(p, "numFiles"), writeBytes = metric(p, "numOutputBytes"),
            commitMs = metric(p, "taskCommitTime") + metric(p, "jobCommitTime"),
            jobCommitMs = metric(p, "jobCommitTime"))
        else PlanStats()
      val dedup = rescoring(p).fold(PlanStats()) { case (c, n) => PlanStats(candidates = c, pairs = n) }
      acc + scan + agg + write + dedup
    }
}
