package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory trace of one workflow run, fed only by Spark's public
  * listener APIs: a [[SparkListener]] for jobs, stages and tasks, a
  * [[QueryExecutionListener]] for Catalyst phase times and per-operator
  * SQL-metric times, and a [[StreamingQueryListener]] for micro-batch
  * progress. Nothing is written until [[toJson]] is called at the end of
  * the run; the listener bus is drained by `SparkContext.stop()` first.
  *
  * Times are epoch milliseconds (Spark's own event clock), so job and
  * phase intervals can be placed inside the workflow's spans. */
final class Tracer {

  import Tracer._

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Job]
  private val queries = mutable.ArrayBuffer.empty[Query]
  private val batches = mutable.ArrayBuffer.empty[Batch]
  // SQL execution id -> (root execution id, long call site); the jobs an
  // adaptive query submits from its stage threads carry no user frames,
  // so their module is read from the execution's call site instead
  private val executions = mutable.LinkedHashMap.empty[Long, (Long, String)]

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k))).getOrElse("")
      // the result stage is created last, so it has the highest id; its
      // details hold the long call site of the action that ran the job
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
      val j = new Job(e.jobId, e.time, site, prop("sql.streaming.queryId"),
        prop("spark.sql.execution.id"), e.stageIds)
      jobs(e.jobId) = j
      e.stageIds.foreach(s => stageJob(s) = j)
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => Tracer.this.synchronized {
        executions(x.executionId) = (x.rootExecutionId.getOrElse(x.executionId), x.details)
      }
      case _ =>
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach { j =>
        j.endMs = e.time
        j.succeeded = e.jobResult == JobSucceeded
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      stageJob.get(e.stageInfo.stageId).foreach(_.stagesRun += 1)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
        val info = e.taskInfo
        j.tasks += 1
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.delayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.inputBytes += m.inputMetrics.bytesRead
        j.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe, ok = true)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(funcName, qe, ok = false)
  }

  private def record(funcName: String, qe: QueryExecution, ok: Boolean): Unit = {
    val phases = qe.tracker.phases.toSeq
      .filter { case (name, _) => Tracer.CatalystPhases.contains(name) }
      .map { case (name, p) => (name, p.startTimeMs, p.endTimeMs) }
    val ops = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
    // a query that failed before planning has no executed plan to read
    val plan = scala.util.Try(qe.executedPlan).toOption
    plan.foreach(Tracer.walk(_) { node =>
      Tracer.opKind(node.nodeName).foreach { kind =>
        node.metrics.values.foreach { m =>
          m.metricType match {
            case "timing" => ops(kind) += m.value.toDouble
            case "nsTiming" => ops(kind) += m.value / 1e6
            case _ =>
          }
        }
      }
    })
    synchronized {
      queries += Query(funcName, System.currentTimeMillis(), ok, phases, ops.toMap)
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val dur = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      val state = p.stateOperators.map(_.numRowsTotal).sum
      Tracer.this.synchronized {
        batches += Batch(p.id.toString, p.batchId, start, dur, p.numInputRows, state)
      }
    }
  }

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def toJson: Seq[(String, Any)] = synchronized {
    Seq(
      "jobs" -> jobs.values.toSeq.map(j => Seq(
        "id" -> j.id, "submit_ms" -> j.submitMs, "end_ms" -> j.endMs,
        "succeeded" -> j.succeeded, "call_site" -> j.callSite,
        "stream_query" -> j.streamQuery, "sql_execution" -> j.sqlExecution,
        "stages" -> j.stageIds.size, "stages_run" -> j.stagesRun, "tasks" -> j.tasks,
        "task_run_ms" -> j.runMs, "task_cpu_ns" -> j.cpuNs, "task_gc_ms" -> j.gcMs,
        "sched_delay_ms" -> j.delayMs, "shuffle_write_bytes" -> j.shuffleWrite,
        "shuffle_read_bytes" -> j.shuffleRead, "spill_bytes" -> j.spill,
        "fetch_wait_ms" -> j.fetchWaitMs, "input_bytes" -> j.inputBytes,
        "output_bytes" -> j.outputBytes)),
      "executions" -> executions.toSeq.map { case (id, (root, details)) =>
        Seq("id" -> id.toString, "root" -> root.toString, "call_site" -> details) },
      "queries" -> queries.toSeq.map(q => Seq(
        "func" -> q.funcName, "end_ms" -> q.endMs, "ok" -> q.ok,
        "phases" -> q.phases.map { case (n, s, e) =>
          Seq("name" -> n, "start_ms" -> s, "end_ms" -> e) },
        "op_ms" -> q.opMs.toSeq.sortBy(_._1))),
      "batches" -> batches.toSeq.map(b => Seq(
        "query" -> b.queryId, "batch" -> b.batchId, "start_ms" -> b.startMs,
        "duration_ms" -> b.durationMs, "input_rows" -> b.inputRows,
        "state_rows" -> b.stateRows)))
  }
}

object Tracer {
  final class Job(val id: Int, val submitMs: Long, val callSite: String,
      val streamQuery: String, val sqlExecution: String, val stageIds: Seq[Int]) {
    var endMs: Long = -1L
    var succeeded: Boolean = false
    var tasks: Long = 0L
    var stagesRun: Int = 0
    var runMs: Long = 0L
    var cpuNs: Long = 0L
    var gcMs: Long = 0L
    var delayMs: Long = 0L
    var shuffleWrite: Long = 0L
    var shuffleRead: Long = 0L
    var spill: Long = 0L
    var fetchWaitMs: Long = 0L
    var inputBytes: Long = 0L
    var outputBytes: Long = 0L
  }

  final case class Query(funcName: String, endMs: Long, ok: Boolean,
      phases: Seq[(String, Long, Long)], opMs: Map[String, Double])

  final case class Batch(queryId: String, batchId: Long, startMs: Long,
      durationMs: Long, inputRows: Long, stateRows: Long)

  val CatalystPhases: Set[String] = Set("analysis", "optimization", "planning")

  /** Operator kind of a physical node, by its node name; None for nodes
    * the per-operator breakdown does not report (projections, filters,
    * whole-stage wrappers whose pipeline time overlaps their children). */
  def opKind(nodeName: String): Option[String] = {
    val n = nodeName.toLowerCase
    if (n.contains("exchange")) Some("exchange")
    else if (n.contains("join") || n.contains("cartesian")) Some("join")
    else if (n.contains("aggregate")) Some("agg")
    else if (n.contains("window")) Some("window")
    else if (n.contains("generate")) Some("generate")
    else if (n.contains("sort")) Some("sort")
    else if (n.contains("scan")) Some("scan")
    else None
  }

  /** Visit every executed node once: adaptive plans are entered through
    * their final plan and query stages through the plan they ran;
    * reused exchanges are skipped so their time is not counted twice. */
  def walk(plan: SparkPlan)(f: SparkPlan => Unit): Unit = plan match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)(f)
    case s: QueryStageExec => walk(s.plan)(f)
    case _: ReusedExchangeExec => ()
    case p =>
      f(p)
      p.children.foreach(walk(_)(f))
      p.subqueries.foreach(walk(_)(f))
  }
}
