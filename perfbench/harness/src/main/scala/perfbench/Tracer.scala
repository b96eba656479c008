package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchAccess, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent

/** A traced interval in epoch milliseconds. `run` names the key run
  * ("key#pass") it belongs to; nesting is rebuilt from containment. */
final case class Span(name: String, layer: String, run: String, start: Long, end: Long)

/** Listens on Spark's listener bus and keeps, while `enabled`, one span
  * per job, stage, planning phase and stream trigger plus the task and
  * trigger figures the report needs. Everything is kept in memory and
  * written out by the harness at the end of the run.
  *
  * Attribution: the harness sets the job-local property `KeyProp` and
  * `current` before each key and drains the bus after it, and drains it
  * before switching `enabled`, so every event delivered while enabled
  * belongs to the run named by the property or by `current`. */
final class Tracer(spark: SparkSession) extends SparkListener {
  @volatile var enabled = false
  @volatile var current = ""
  /** Jobs started by anyone, traced or not (the sources layer counts them). */
  val jobsStarted = new AtomicLong

  val spans = mutable.ArrayBuffer[Span]()
  /** (run, launch ms, finish ms) of every finished task. */
  val tasks = mutable.ArrayBuffer[(String, Long, Long)]()
  /** One row per stream trigger: run, then the figures named in `TriggerCols`. */
  val triggers = mutable.ArrayBuffer[(String, Seq[Double])]()
  val counters = mutable.Map[String, Double]().withDefaultValue(0.0)

  private val jobs = mutable.Map[Int, (String, Long)]()
  private val stageRun = mutable.Map[Int, String]()

  spark.sparkContext.addSparkListener(this)

  def drain(): Unit = PerfbenchAccess.drainListeners(spark.sparkContext)

  private def add(k: String, v: Double): Unit = counters(k) += v

  private def runOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.KeyProp))).getOrElse(current)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobsStarted.incrementAndGet()
    if (enabled) synchronized {
      val run = runOf(e.properties)
      jobs(e.jobId) = (run, e.time)
      e.stageInfos.foreach(s => stageRun(s.stageId) = run)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (enabled) synchronized {
    jobs.remove(e.jobId).foreach { case (run, t0) =>
      spans += Span("job", "exec", run, t0, e.time)
      add("jobs", 1)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (enabled) synchronized {
    val s = e.stageInfo
    for (t0 <- s.submissionTime; t1 <- s.completionTime) {
      spans += Span("stage", "exec", stageRun.getOrElse(s.stageId, current), t0, t1)
      add("stages", 1)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled && e.taskInfo != null) synchronized {
    tasks += ((stageRun.getOrElse(e.stageId, current), e.taskInfo.launchTime, e.taskInfo.finishTime))
    add("tasks", 1)
    Option(e.taskMetrics).foreach { m =>
      add("run_ms", m.executorRunTime.toDouble)
      add("cpu_ns", m.executorCpuTime.toDouble)
      add("gc_ms", m.jvmGCTime.toDouble)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add("input_bytes", m.inputMetrics.bytesRead.toDouble)
    }
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = if (enabled) event match {
    case e: SparkListenerSQLExecutionEnd =>
      PerfbenchAccess.queryExecution(e).foreach(qe => synchronized {
        for ((phase, layerName) <- Tracer.Phases; p <- qe.tracker.phases.get(phase))
          spans += Span(layerName, "plans", current, p.startTimeMs, p.endTimeMs)
        val joins = Tracer.nodes(qe.executedPlan).collect { case j: BaseJoinExec => j }
        add("join_output_rows", joins.flatMap(_.metrics.get("numOutputRows")).map(_.value).sum.toDouble)
      })
    case e: QueryProgressEvent => synchronized {
      val p = e.progress
      def d(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      spans += Span("trigger", "streaming", current, start, start + d("triggerExecution").toLong)
      val ops = p.stateOperators.toSeq
      triggers += ((current, Seq(d("triggerExecution"), d("addBatch"), d("latestOffset"),
        d("queryPlanning"), d("walCommit"), d("commitOffsets"), p.numInputRows.toDouble,
        ops.map(_.numRowsTotal).sum.toDouble, ops.map(_.memoryUsedBytes).sum.toDouble,
        ops.map(_.commitTimeMs).sum.toDouble)))
    }
    case _ =>
  }
}

object Tracer {
  val KeyProp = "perfbench.key"
  /** Tracker phase name -> span name. */
  val Phases = Seq("analysis" -> "analysis", "optimization" -> "optimization", "planning" -> "physical")
  val TriggerCols = Seq("trigger_ms", "add_batch_ms", "latest_offset_ms", "query_planning_ms",
    "wal_commit_ms", "commit_ms", "input_rows", "state_rows", "state_mem_bytes", "state_commit_ms")

  /** Every physical node of the plan that ran, looking through adaptive
    * plans (their final plan), query stages and subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => Nil
    }
    p +: (p.children ++ inner ++ p.subqueries).flatMap(nodes)
  }
}
