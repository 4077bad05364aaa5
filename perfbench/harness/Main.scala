package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.core.JsonGenerator
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Benchmark harness JVM: runs one workload against the engine's public
  * entry points and writes the raw samples to `<work>/result.json`;
  * run.py turns them into metrics and checks the outputs.
  *
  * Arguments are key=value pairs:
  *   mode=suite|snapshot|modules  work=<dir>  data=<sfDir>  cpus=<n>
  *   trace=0|1  seconds=<n>  queries=<file, one name per line>
  *   snap=<dir with deltas and plan.json>  verify=<dir>
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    if (a("mode") == "modules") {
      Files.writeString(Paths.get(a("out")), Json(Suite.moduleMap))
      return
    }
    val work = a("work")
    val out = mutable.LinkedHashMap[String, Any]()
    val spark = graft.GraftSession.builder(a("cpus"))
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    out("session_ready_us") = Clock.nowUs
    val trace = if (a("trace") == "1") Some(Trace.install(spark)) else None
    val rec = new Recorder(spark, trace)
    val host0 = Host.sample()
    a("mode") match {
      case "suite" => Suite.run(spark, rec, a)
      case "snapshot" => SnapshotCycle.run(spark, rec, a, out)
    }
    val host1 = Host.sample()
    out("host_start") = host0
    out("host_end") = host1
    out("peak_rss_mb") = Host.peakRssMb
    out("ops") = rec.ops.toSeq
    trace.foreach(t => out("trace") = t.collect(spark))
    // output checks run after the measured window
    a.get("verify").foreach(dir => Suite.dump(spark, a("data"), dir, rec))
    Files.writeString(Paths.get(s"$work/result.json"), Json(out))
    spark.stop()
  }
}

/** Wall clock in microseconds: epoch-anchored, nanoTime-resolved. */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

/** Host-side context of a run: load average, this JVM's CPU time and
  * the host's busy CPU time, so a co-loaded window is visible in the
  * run record. */
object Host {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def sample(): Map[String, Any] = {
    val load = Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+")
    // /proc/stat cpu line: user nice system idle iowait irq softirq steal
    val cpu = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      .drop(1).take(8).map(_.toLong)
    val hz = 100.0
    Map("t_us" -> Clock.nowUs, "loadavg1" -> load(0).toDouble,
      "jvm_cpu_s" -> os.getProcessCpuTime / 1e9,
      "host_busy_s" -> (cpu.sum - cpu(3) - cpu(4)) / hz, "host_steal_s" -> cpu(7) / hz,
      "host_total_s" -> cpu.sum / hz)
  }

  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}

/** One closed-loop client: operations run back to back on this thread.
  * Each op records its wall interval, outcome and result; with tracing
  * on it also tags the Spark jobs it starts and samples the codegen,
  * GC and JIT counters at each phase boundary. */
final class Recorder(spark: SparkSession, trace: Option[Trace]) {
  val ops = mutable.ArrayBuffer[mutable.Map[String, Any]]()

  final class Op(val rec: mutable.Map[String, Any]) {
    private val phases = mutable.ArrayBuffer[Map[String, Any]]()
    rec("phases") = phases
    def phase[T](name: String)(body: => T): T = {
      trace.foreach(_ => spark.sparkContext.setLocalProperty(Trace.PhaseKey, name))
      val c0 = trace.map(_ => Trace.counters())
      val t0 = Clock.nowUs
      try body
      finally {
        val t1 = Clock.nowUs
        phases += (Map[String, Any]("name" -> name, "start_us" -> t0, "end_us" -> t1) ++
          c0.map(c => Trace.delta(c, Trace.counters())).getOrElse(Map.empty))
      }
    }
    def result(v: Any): Unit = rec("result") = v
  }

  /** Runs `body` as one operation; a throw is recorded as a failed op. */
  def op(kind: String, name: String, attrs: (String, Any)*)(body: Op => Unit): Boolean = {
    val id = ops.size
    val rec = mutable.LinkedHashMap[String, Any]("id" -> id, "kind" -> kind, "name" -> name)
    attrs.foreach { case (k, v) => rec(k) = v }
    ops += rec
    trace.foreach { _ =>
      spark.sparkContext.setLocalProperty(Trace.OpKey, id.toString)
      spark.sparkContext.setLocalProperty(Trace.PhaseKey, kind)
    }
    val c0 = trace.map(_ => Trace.counters())
    rec("start_us") = Clock.nowUs
    val ok = try { body(new Op(rec)); true }
    catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        rec("error") = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
        false
    }
    rec("end_us") = Clock.nowUs
    rec("ok") = ok
    c0.foreach(c => rec("counters") = Trace.delta(c, Trace.counters()))
    trace.foreach(_ => spark.sparkContext.setLocalProperty(Trace.OpKey, null))
    ok
  }
}

/** JSON of the harness's own records: Scala maps, sequences and options. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    .enable(JsonGenerator.Feature.WRITE_BIGDECIMAL_AS_PLAIN)
  def apply(v: Any): String = mapper.writeValueAsString(v)
}
