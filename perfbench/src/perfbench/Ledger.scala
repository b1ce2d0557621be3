package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Work done under one Spark job group, summed from listener events. */
final class Counters {
  var jobs, stages, tasks = 0L
  var cpuNs, runMs, deserMs, gcMs, schedMs = 0L
  var shuffleWriteB, shuffleReadB, spillB, scanB, scanRows, rowsWritten = 0L
  var exchanges, analysisMs, optimizeMs, planningMs = 0L
  /** Root SQL executions started under the group, and their summed
    * span from Spark's own execution start and end events. */
  var executions, executionMs = 0L

  def +=(o: Counters): Counters = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    cpuNs += o.cpuNs; runMs += o.runMs; deserMs += o.deserMs; gcMs += o.gcMs; schedMs += o.schedMs
    shuffleWriteB += o.shuffleWriteB; shuffleReadB += o.shuffleReadB; spillB += o.spillB
    scanB += o.scanB; scanRows += o.scanRows; rowsWritten += o.rowsWritten
    exchanges += o.exchanges
    analysisMs += o.analysisMs; optimizeMs += o.optimizeMs; planningMs += o.planningMs
    executions += o.executions; executionMs += o.executionMs
    this
  }
}

/** Attributes jobs, stages, tasks and task metrics to the job group
  * that submitted them (`spark.jobGroup.id`). The benchmark sets one
  * group per query phase; each streaming query runs under its own
  * group (its run id). Events arrive on Spark's listener thread, so
  * readers call [[Ledger.fence]] first.
  *
  * Registered through `spark.extraListeners`, so it sits in Spark's
  * shared listener queue ahead of the session's query-execution
  * listener bus: for each SQL execution end it sees the execution id
  * just before [[PlanLedger]] is called with that execution's plan. */
final class Ledger extends SparkListener {
  Ledger.instance = this
  private val byGroup = new ConcurrentHashMap[String, Counters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val execGroup = new ConcurrentHashMap[Long, String]()
  private val rootStart = new ConcurrentHashMap[Long, (String, Long)]()
  @volatile private var fenceSeen = ""
  private var pendingPlans: List[(Long, Long, Long, Long, Long)] = Nil

  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")

  private def at(group: String): Counters = byGroup.computeIfAbsent(group, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = groupOf(e.properties)
    at(g).jobs += 1
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(id => execGroup.putIfAbsent(id.toLong, g))
  }

  @volatile private[perfbench] var endingExecution = -1L

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      // a nested execution runs inside its root's span: count roots only
      case s: SparkListenerSQLExecutionStart if s.rootExecutionId.forall(_ == s.executionId) =>
        rootStart.put(s.executionId, (s.jobGroupId.getOrElse(""), s.time))
      case end: SparkListenerSQLExecutionEnd =>
        endingExecution = end.executionId
        Option(rootStart.remove(end.executionId)).foreach { case (g, t0) =>
          val c = at(g)
          c.executions += 1
          c.executionMs += end.time - t0
        }
      case _ =>
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val g = groupOf(e.properties)
    stageGroup.put(e.stageInfo.stageId, g)
    if (g.startsWith("fence/")) fenceSeen = g
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    at(stageGroup.getOrDefault(e.stageInfo.stageId, "")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val c = at(stageGroup.getOrDefault(e.stageId, ""))
      val info = e.taskInfo
      val gettingResultMs =
        if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
      c.tasks += 1
      c.cpuNs += m.executorCpuTime
      c.runMs += m.executorRunTime
      c.deserMs += m.executorDeserializeTime
      c.gcMs += m.jvmGCTime
      // the Spark UI's scheduler delay: task lifetime not spent
      // deserializing, running, serializing or fetching the result
      c.schedMs += math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - gettingResultMs)
      c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      c.spillB += m.diskBytesSpilled
      c.scanB += m.inputMetrics.bytesRead
      c.scanRows += m.inputMetrics.recordsRead
      c.rowsWritten += m.outputMetrics.recordsWritten
    }
  }

  /** Catalyst phases and exchange count of one finished SQL execution,
    * charged to the group whose jobs carried its execution id. */
  def addPlan(executionId: Long, analysisMs: Long, optimizeMs: Long, planningMs: Long,
              exchanges: Long): Unit = synchronized {
    pendingPlans = (executionId, analysisMs, optimizeMs, planningMs, exchanges) :: pendingPlans
  }

  /** Block until every event posted before this call has been
    * delivered: run a one-task job under a fresh group and wait for its
    * stage to show up (the listener queue is FIFO). */
  def fence(sc: org.apache.spark.SparkContext): Unit = {
    val g = s"fence/${System.nanoTime()}"
    sc.setJobGroup(g, "perfbench fence", interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (fenceSeen != g && System.nanoTime() < deadline) Thread.sleep(5)
    require(fenceSeen == g, "listener bus did not drain within 60 s")
  }

  /** Snapshot of the counters per group, plans resolved to groups. */
  def snapshot(): Map[String, Counters] = synchronized {
    val out = byGroup.asScala.map { case (g, c) => g -> (new Counters += c) }.toMap
    val withPlans = pendingPlans.foldLeft(out) { case (acc, (id, a, o, p, x)) =>
      val g = Option(execGroup.get(id)).getOrElse("")
      val c = acc.getOrElse(g, new Counters)
      c.analysisMs += a; c.optimizeMs += o; c.planningMs += p; c.exchanges += x
      acc.updated(g, c)
    }
    withPlans
  }

  /** Sum of the counters of every group whose name passes `keep`. */
  def sum(keep: String => Boolean): Counters =
    snapshot().collect { case (g, c) if keep(g) => c }.foldLeft(new Counters)(_ += _)
}

object Ledger {
  @volatile private[perfbench] var instance: Ledger = _
}

/** Catalyst phase times and exchanges of each SQL execution
  * (registered only in traced runs). */
final class PlanLedger(ledger: Ledger) extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
    ledger.addPlan(ledger.endingExecution, ms("analysis"), ms("optimization"), ms("planning"),
      PlanLedger.exchanges(qe.executedPlan))
  }
}

object PlanLedger {
  /** Shuffle and broadcast exchanges in the final (adaptive) plan,
    * subqueries included; a reused exchange is not counted again. */
  def exchanges(plan: SparkPlan): Long = plan match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case s: QueryStageExec => exchanges(s.plan)
    case _: ReusedExchangeExec => 0L
    case p =>
      (if (p.isInstanceOf[Exchange]) 1L else 0L) +
        p.children.map(exchanges).sum + p.subqueries.map(exchanges).sum
  }
}

object Heap {
  /** Heap in use right after a full collection, in MB. Collected
    * twice: Spark's ContextCleaner drops the blocks of broadcasts and
    * RDDs that the first collection found unreachable only afterwards,
    * on its own thread. */
  def liveMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
