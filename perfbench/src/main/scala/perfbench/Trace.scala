package perfbench

import scala.collection.mutable
import org.apache.spark.BenchBus
import org.apache.spark.sql.BenchQe
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch nanoseconds at `System.nanoTime` resolution, so benchmark spans
  * and Spark's epoch-millisecond event times share one time axis. */
object Clock {
  private val base = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = base + System.nanoTime()
}

/** Spans recorded by the benchmark around its calls into the program:
  * name, start, end and the enclosing span, kept in memory and written
  * out when the run ends. */
final class Spans(runId: String) {
  private final class Span(val id: Int, val parent: Int, val name: String,
                           val start: Long, var end: Long = 0L)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil

  def apply[T](name: String)(body: => T): T = {
    val s = new Span(spans.length, open.headOption.getOrElse(-1), name, Clock.now())
    spans += s
    open = s.id :: open
    try body finally { s.end = Clock.now(); open = open.tail }
  }

  def toJson: Seq[Map[String, Any]] = spans.toSeq.map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
    "start_ns" -> s.start, "end_ns" -> s.end, "run" -> runId))
}

/**
 * The traced run's recorder: a SparkListener (jobs, stages, tasks, SQL
 * executions) plus a QueryExecutionListener (plans, planning time, scan
 * and write metrics), registered on the benchmark's own session. Tasks are
 * folded into per-job totals as they end; everything else is one record
 * per job, SQL execution or query execution.
 */
final class Recorder extends SparkListener with QueryExecutionListener {
  private final class Job(val id: Int, val exec: Long, val submitMs: Long, val stages: Int) {
    var endMs = 0L; var tasks = 0; var runMs = 0L; var maxTaskMs = 0L; var gcMs = 0L
    var inBytes = 0L; var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
    var outBytes = 0L
    def toJson: Map[String, Any] = Map("job" -> id, "exec" -> exec,
      "start_ms" -> submitMs, "end_ms" -> endMs, "stages" -> stages,
      "tasks" -> tasks, "task_run_ms" -> runMs, "longest_task_ms" -> maxTaskMs,
      "gc_ms" -> gcMs, "input_bytes" -> inBytes, "shuffle_read_bytes" -> shuffleRead,
      "shuffle_write_bytes" -> shuffleWrite, "spill_bytes" -> spill,
      "output_bytes" -> outBytes)
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Job]
  private val execs = mutable.LinkedHashMap.empty[Long, mutable.Map[String, Any]]
  private val queries = mutable.ArrayBuffer.empty[Map[String, Any]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    val j = new Job(e.jobId, exec, e.time, e.stageIds.size)
    jobs(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      j.maxTaskMs = math.max(j.maxTaskMs, e.taskInfo.duration)
      Option(e.taskMetrics).foreach { m =>
        j.runMs += m.executorRunTime
        j.gcMs += m.jvmGCTime
        j.inBytes += m.inputMetrics.bytesRead
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.outBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execs(s.executionId) = mutable.Map("exec" -> s.executionId,
        "description" -> s.description, "start_ms" -> s.time, "end_ms" -> 0L)
    }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      execs.get(s.executionId).foreach { x =>
        x("end_ms") = s.time
        x("qe") = BenchQe.id(s)
      }
    }
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(funcName, qe, durationNs, None)

  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    record(funcName, qe, 0L, Some(error.getClass.getName))

  private def record(funcName: String, qe: QueryExecution, durationNs: Long,
                     error: Option[String]): Unit = {
    val nodes = Recorder.nodes(qe.executedPlan)
    def metric(p: SparkPlan, k: String) = p.metrics.get(k).map(_.value).getOrElse(0L)
    val scans = nodes.collect { case s: FileSourceScanExec => s }
    val writes = nodes.collect {
      case w: DataWritingCommandExec => w.cmd match {
        case c: InsertIntoHadoopFsRelationCommand => Map(
          "path" -> c.outputPath.toString, "files" -> metric(w, "numFiles"),
          "bytes" -> metric(w, "numOutputBytes"), "rows" -> metric(w, "numOutputRows"))
        case other => Map("path" -> other.nodeName, "files" -> 0L, "bytes" -> 0L, "rows" -> 0L)
      }
    }
    val phases = qe.tracker.phases
    val planningMs = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs).sum
    val row: Map[String, Any] = Map(
      "qe" -> qe.id, "func" -> funcName, "duration_ms" -> durationNs / 1e6,
      "planning_ms" -> planningMs,
      "exchanges" -> nodes.count {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
        case _ => false
      },
      "scan_files" -> scans.map(metric(_, "numFiles")).sum,
      "scan_rows" -> scans.map(metric(_, "numOutputRows")).sum,
      "scan_bytes" -> scans.map(metric(_, "filesSize")).sum,
      "writes" -> writes, "error" -> error)
    synchronized { queries += row }
  }

  /** Delivers pending events, then returns the ledger gathered so far. */
  def snapshot(spark: SparkSession): Map[String, Any] = {
    BenchBus.drain(spark.sparkContext)
    synchronized {
      Map("jobs" -> jobs.values.map(_.toJson).toSeq,
        "executions" -> execs.values.map(_.toMap).toSeq,
        "query_executions" -> queries.toSeq)
    }
  }
}

object Recorder {
  /** Every node of an executed plan, through AQE wrappers, query stages,
    * command results and subqueries; a reused exchange is not walked again. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case c: CommandResultExec => c +: nodes(c.commandPhysicalPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case r: ReusedExchangeExec => Seq(r)
    case _ => p +: (p.children ++ p.subqueries).flatMap(nodes)
  }

  def register(spark: SparkSession): Recorder = {
    val r = new Recorder
    spark.sparkContext.addSparkListener(r)
    spark.listenerManager.register(r)
    r
  }
}
