package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Collects what Spark reports about the benchmark's operations through
  * its public listener hooks.
  *
  * Every job carries the local property [[Recorder.OpKey]], set by the
  * benchmark loop to the id of the operation that started it, so tasks are
  * booked by tag, not by arrival time. Every run keeps per-tag task
  * totals (for `task_s`: executor CPU time, which host load stretches far
  * less than executor run time). A traced run also keeps one record per
  * job and stage of the operations whose tag starts with [[Recorder.TracedPrefix]],
  * and one per SQL execution and planned query; [[Trace]] writes them
  * out when the run ends.
  */
final class Recorder(traced: Boolean) extends SparkListener with QueryExecutionListener {
  import Recorder._

  private val lastEventMs = new AtomicLong(System.currentTimeMillis())
  private var jobStarts = 0L
  private var jobEnds = 0L
  private val stageTag = mutable.HashMap.empty[Int, String]
  /** tag -> (task count, executor CPU ns) */
  private val perTag = mutable.HashMap.empty[String, Array[Long]]

  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stages = mutable.HashMap.empty[(Int, Int), StageRec]
  val sqls = mutable.LinkedHashMap.empty[Long, SqlRec]
  val plannings = mutable.ArrayBuffer.empty[PlanningRec]

  private def touch(): Unit = lastEventMs.set(System.currentTimeMillis())

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    touch()
    jobStarts += 1
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(OpKey))).getOrElse("")
    e.stageIds.foreach(stageTag(_) = tag)
    if (traced && tag.startsWith(TracedPrefix)) {
      val exec = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      jobs += JobRec(e.jobId, tag, exec, e.stageIds, e.time, -1L)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    touch()
    jobEnds += 1
    if (traced) jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    touch()
    val i = e.stageInfo
    if (traced && stageTag.get(i.stageId).exists(_.startsWith(TracedPrefix))) {
      stages((i.stageId, i.attemptNumber())) = new StageRec(i.stageId, i.attemptNumber(),
        stageTag.getOrElse(i.stageId, ""), i.submissionTime.getOrElse(System.currentTimeMillis()),
        i.numTasks)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    touch()
    if (traced) {
      val i = e.stageInfo
      stages.get((i.stageId, i.attemptNumber())).foreach { s =>
        s.end = i.completionTime.getOrElse(System.currentTimeMillis())
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    touch()
    val tag = stageTag.getOrElse(e.stageId, "")
    val m = e.taskMetrics
    val t = perTag.getOrElseUpdate(tag, new Array[Long](2))
    t(0) += 1
    if (m != null) t(1) += m.executorCpuTime
    if (traced) stages.get((e.stageId, e.stageAttemptId)).foreach { s =>
      val info = e.taskInfo
      if (s.firstLaunch < 0 || info.launchTime < s.firstLaunch) s.firstLaunch = info.launchTime
      s.tasks += 1
      if (info.failed || info.killed) s.failedTasks += 1
      if (m != null) {
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.diskBytesSpilled
        s.inputBytes += m.inputMetrics.bytesRead
        s.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    touch()
    if (traced) e match {
      case s: SparkListenerSQLExecutionStart =>
        sqls(s.executionId) = new SqlRec(s.executionId, s.time, s.description,
          writeTarget(s.sparkPlanInfo), planCounts(s.sparkPlanInfo))
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        sqls.get(u.executionId).foreach(_.nodes = planCounts(u.sparkPlanInfo))
      case x: SparkListenerSQLExecutionEnd =>
        sqls.get(x.executionId).foreach(_.end = x.time)
      case _ =>
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planned(funcName, qe)

  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    planned(funcName, qe)

  private def planned(funcName: String, qe: QueryExecution): Unit = synchronized {
    touch()
    if (traced) {
      val phases = qe.tracker.phases.map { case (k, p) => k -> (p.startTimeMs, p.endTimeMs) }
      val rangeJoins = qe.tracker.rules.collect {
        case (name, r) if name.endsWith(RangeJoinRule) => r.numEffectiveInvocations
      }.sum
      plannings += PlanningRec(funcName, phases, rangeJoins)
    }
  }

  /** Task count and executor CPU ns of the jobs of `tag`. */
  def tagTotals(tag: String): (Long, Long) = synchronized {
    perTag.get(tag).map(t => (t(0), t(1))).getOrElse((0L, 0L))
  }

  /** Block until every job that started has ended and the listener bus
    * has been quiet for `quietMs` (actions post their job-end events
    * before they return, so quiet means drained), or `timeoutMs` passed.
    */
  def awaitQuiet(quietMs: Long = 300, timeoutMs: Long = 15000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def settled: Boolean = synchronized(jobStarts == jobEnds) &&
      System.currentTimeMillis() - lastEventMs.get() >= quietMs
    while (!settled && System.currentTimeMillis() < deadline) Thread.sleep(20)
  }
}

object Recorder {
  /** Local property naming the operation a job belongs to. */
  val OpKey = "perfbench.op"
  /** Class name of the program's range-join optimizer rule. */
  val RangeJoinRule = "RangeJoinBinning"
  /** Tag prefix of the operations a traced run records in detail. */
  val TracedPrefix = "t"
  private val InsertPath = "InsertIntoHadoopFsRelationCommand ([^\\s,]+)".r

  final case class JobRec(id: Int, tag: String, exec: Option[Long], stageIds: Seq[Int],
      start: Long, var end: Long)

  final class StageRec(val id: Int, val attempt: Int, val tag: String, val submit: Long,
      val numTasks: Int) {
    var end = -1L
    var firstLaunch = -1L
    var tasks = 0L
    var failedTasks = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var inputBytes = 0L
    var outputBytes = 0L
  }

  /** Node counts of one executed plan: custom top-k operators, and
    * operators that run outside whole-stage code generation.
    */
  final case class PlanNodes(topK: Int, fallback: Int)

  /** An execution's file output: the last path element it writes, if any. */
  final class SqlRec(val id: Long, val start: Long, val description: String, val target: String,
      var nodes: PlanNodes) {
    var end = -1L
  }

  final case class PlanningRec(funcName: String, phases: Map[String, (Long, Long)],
      rangeJoins: Long)

  /** Nodes that are plan plumbing rather than operators, so never
    * counted as falling outside code generation.
    */
  private val Plumbing = Seq("Exchange", "ShuffleQueryStage", "BroadcastQueryStage",
    "TableCacheQueryStage", "ResultQueryStage", "AdaptiveSparkPlan", "AQEShuffleRead",
    "ReusedExchange", "Subquery", "ReusedSubquery", "Execute ", "WriteFiles",
    "OverwriteByExpression", "AppendData", "WriteToDataSourceV2", "CommandResult",
    "LocalTableScan", "ColumnarToRow", "InputAdapter", "WholeStageCodegen")

  /** Last path element of the file an executed plan inserts into, or "". */
  def writeTarget(root: SparkPlanInfo): String = {
    def all(n: SparkPlanInfo): Iterator[SparkPlanInfo] = Iterator(n) ++ n.children.iterator.flatMap(all)
    all(root).flatMap(n => InsertPath.findFirstMatchIn(n.simpleString))
      .map(_.group(1).split('/').last).nextOption().getOrElse("")
  }

  def planCounts(root: SparkPlanInfo): PlanNodes = {
    var topK = 0
    var fallback = 0
    def walk(n: SparkPlanInfo, inCodegen: Boolean): Unit = {
      val name = n.nodeName
      if (name.contains("TopKPerKey")) topK += 1
      val codegen =
        if (name.startsWith("WholeStageCodegen")) true
        else if (name == "InputAdapter") false
        else inCodegen
      if (!codegen && !Plumbing.exists(name.startsWith)) fallback += 1
      n.children.foreach(walk(_, codegen))
    }
    walk(root, inCodegen = false)
    PlanNodes(topK, fallback)
  }
}
