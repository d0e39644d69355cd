package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{SparkPlan, adaptive}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Records what Spark reports through its public listener interfaces while
  * traced passes run: jobs, stages and tasks (SparkListener), SQL executions
  * (their start and end events), planning phases and executed plans
  * (QueryExecutionListener) and micro-batch progress
  * (StreamingQueryListener). Jobs carry the harness's op tag as a local
  * property; executions, plans and progress are attributed to the op whose
  * time window holds them, since a single driver thread runs ops one after
  * another. Everything stays in memory until the run ends. */
final class Tracer extends SparkListener {
  import Tracer._

  val jobs = mutable.LinkedHashMap[Int, Job]()
  val execs = mutable.LinkedHashMap[Long, Exec]()
  val plans = mutable.ArrayBuffer[Plan]()
  val batches = mutable.ArrayBuffer[Batch]()
  val tasks = mutable.HashMap[String, Tasks]()
  private val stageTag = mutable.HashMap[Int, String]()

  private def tasksOf(tag: String) = tasks.getOrElseUpdate(tag, new Tasks)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val tag = props.flatMap(p => Option(p.getProperty(OpKey))).getOrElse("")
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    jobs(e.jobId) = Job(e.jobId, tag, exec, e.time, e.time)
    e.stageIds.foreach(stageTag(_) = tag)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    tasksOf(stageTag.getOrElse(e.stageInfo.stageId, "")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = tasksOf(stageTag.getOrElse(e.stageId, ""))
    t.n += 1
    if (e.taskInfo != null) t.durS += e.taskInfo.duration / 1e3
    val m = e.taskMetrics
    if (m != null) {
      t.runS += m.executorRunTime / 1e3
      t.gcS += m.jvmGCTime / 1e3
      t.shuffleW += m.shuffleWriteMetrics.bytesWritten
      t.shuffleR += m.shuffleReadMetrics.totalBytesRead
      t.spill += m.diskBytesSpilled
      t.in += m.inputMetrics.bytesRead
      t.out += m.outputMetrics.bytesWritten
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        val root = s.rootExecutionId.forall(_ == s.executionId)
        execs(s.executionId) = Exec(s.executionId, root, s.time, s.time)
      case s: SparkListenerSQLExecutionEnd =>
        execs.get(s.executionId).foreach(_.end = s.time)
      case _ =>
    }
  }

  /** Planning time and exchange count of every successful action. */
  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      val planS = Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs).sum / 1e3
      val start = if (phases.isEmpty) System.currentTimeMillis()
        else phases.values.map(_.startTimeMs).min
      val n = exchanges(qe.executedPlan)
      Tracer.this.synchronized { plans += Plan(start, planS, n) }
    }
    override def onFailure(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
  }

  /** Micro-batch count, trigger time and input rows of streaming queries. */
  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ms = java.time.Instant.parse(p.timestamp).toEpochMilli
      val trig = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      Tracer.this.synchronized { batches += Batch(ms, p.numInputRows, trig / 1e3) }
    }
  }
}

object Tracer {
  final case class Job(id: Int, tag: String, exec: Long, start: Long, var end: Long)
  final case class Exec(id: Long, root: Boolean, start: Long, var end: Long)
  final case class Plan(startMs: Long, planS: Double, exchanges: Int)
  final case class Batch(ms: Long, rows: Long, triggerS: Double)
  final class Tasks {
    var n = 0L; var durS = 0.0; var runS = 0.0; var gcS = 0.0
    var shuffleW = 0L; var shuffleR = 0L; var spill = 0L; var in = 0L; var out = 0L
    var stages = 0
  }

  /** Local property naming the op (as "pass/op") that started a job. */
  val OpKey = "graftbench.op"

  /** Shuffle and broadcast exchanges in an executed plan, looking through
    * adaptive plans and their query stages. */
  def exchanges(plan: SparkPlan): Int = {
    def walk(p: SparkPlan): Int = p match {
      case a: adaptive.AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: adaptive.QueryStageExec => walk(s.plan)
      case _: ReusedExchangeExec => 0
      case e: ShuffleExchangeLike => 1 + e.children.map(walk).sum
      case e: BroadcastExchangeLike => 1 + e.children.map(walk).sum
      case other => (other.children ++ other.subqueries).map(walk).sum
    }
    walk(plan)
  }

  /** Total length of the union of [start, end] intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- iv.filter(x => x._2 > x._1).sortBy(_._1)) {
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Length of (union of a) ∩ (union of b). */
  def overlapLength(a: Seq[(Long, Long)], b: Seq[(Long, Long)]): Long =
    unionLength(a) + unionLength(b) - unionLength(a ++ b)
}
