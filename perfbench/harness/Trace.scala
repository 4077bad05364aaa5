package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Traced-run recorder. A SparkListener and a QueryExecutionListener,
  * both attached from here, collect jobs, stages, tasks, SQL executions
  * and query-planning phases in memory; [[collect]] hands them over at
  * the end of the run. Jobs are tied to the harness operation through
  * the local properties [[OpKey]] and [[PhaseKey]] the Recorder sets
  * before each call. */
final class Trace extends SparkListener with QueryExecutionListener {
  private val jobs = mutable.LinkedHashMap[Int, mutable.Map[String, Any]]()
  private val stages = mutable.LinkedHashMap[Int, mutable.Map[String, Any]]()
  private val tasks = mutable.Map[Int, mutable.ArrayBuffer[Array[Long]]]()
  private val writes = mutable.Map[Long, Boolean]()
  private val roots = mutable.Map[Long, Long]()
  private val planning = mutable.ArrayBuffer[Map[String, Any]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    jobs(e.jobId) = mutable.Map("job" -> e.jobId, "start_ms" -> e.time,
      "op" -> prop(Trace.OpKey).map(_.toInt), "phase" -> prop(Trace.PhaseKey),
      "exec" -> prop("spark.sql.execution.id").map(_.toLong),
      "stages" -> e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_("end_ms") = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages(i.stageId) = mutable.Map("stage" -> i.stageId,
      "submit_ms" -> i.submissionTime.getOrElse(0L),
      "end_ms" -> i.completionTime.getOrElse(0L), "tasks" -> i.numTasks)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val t = e.taskInfo
    if (m != null) tasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += Array(
      t.launchTime, t.duration, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory,
      m.inputMetrics.recordsRead)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      val plan = s.physicalPlanDescription
      writes(s.executionId) = Trace.WriteNodes.exists(plan.contains)
      s.rootExecutionId.foreach(r => roots(s.executionId) = r)
    }
    case _ =>
  }

  private def phases(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (name, p) =>
      planning += Map("phase" -> name, "start_ms" -> p.startTimeMs, "end_ms" -> p.endTimeMs)
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)

  /** Drains the listener bus, then returns everything recorded. */
  def collect(spark: SparkSession): Map[String, Any] = {
    PerfbenchBus.drain(spark.sparkContext)
    synchronized {
      def isWrite(id: Long): Boolean =
        writes.getOrElse(id, false) || roots.get(id).exists(r => writes.getOrElse(r, false))
      jobs.values.foreach { j =>
        j("write") = j("exec").asInstanceOf[Option[Long]].exists(isWrite)
      }
      stages.values.foreach { s =>
        val ts = tasks.getOrElse(s("stage").asInstanceOf[Int], mutable.ArrayBuffer())
        def sum(i: Int) = ts.map(_(i)).sum
        s("first_launch_ms") = if (ts.isEmpty) s("submit_ms") else ts.map(_(0)).min
        s("task_ms") = ts.map(_(1)).toSeq
        s("run_ms") = sum(2); s("cpu_ns") = sum(3); s("gc_ms") = sum(4)
        s("shuffle_read") = sum(5); s("shuffle_write") = sum(6); s("spill") = sum(7)
        s("peak_mem") = if (ts.isEmpty) 0L else ts.map(_(8)).max
        s("records_read") = sum(9)
      }
      Map("jobs" -> jobs.values.toSeq, "stages" -> stages.values.toSeq,
        "planning" -> planning.toSeq)
    }
  }
}

object Trace {
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"
  /** Physical-plan nodes that mark a SQL execution as a data write. */
  val WriteNodes = Seq("InsertIntoHadoopFsRelationCommand", "WriteFiles", "AppendData",
    "OverwriteByExpression", "OverwritePartitionsDynamic", "WriteToDataSourceV2")

  def install(spark: SparkSession): Trace = {
    val t = new Trace
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
    t
  }

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val jit = ManagementFactory.getCompilationMXBean

  /** Process-wide counters sampled at op and phase boundaries. */
  def counters(): Array[Long] = Array(
    CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    gcBeans.map(_.getCollectionTime).sum, jit.getTotalCompilationTime)

  def delta(a: Array[Long], b: Array[Long]): Map[String, Any] = Map(
    "compile_ns" -> (b(0) - a(0)), "compile_count" -> (b(1) - a(1)),
    "gc_ms" -> (b(2) - a(2)), "jit_ms" -> (b(3) - a(3)))
}
