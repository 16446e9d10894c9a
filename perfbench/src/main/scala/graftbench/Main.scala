package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One workload run in one JVM:
  * `Main --workload W --work DIR --seconds S --rounds R --trace 0|1
  *  --seed N --launch-ms EPOCH_MS --deadline-ms EPOCH_MS --cpus C`.
  *
  * Inputs are the files the generator wrote under DIR; the raw
  * observations (unit latencies, spans, listener counts, outputs to
  * check) go to DIR/result.json and the caller turns them into metrics.
  * A single client runs each workload as a closed loop: the next unit of
  * work starts when the previous one returns. */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val ctx = new Ctx(opt)
    val spark = SparkSession.builder()
      .master(s"local[${opt("cpus")}]")
      .config("spark.sql.shuffle.partitions", opt("cpus"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true") // events.ts is TIMESTAMP(NANOS)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${ctx.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${ctx.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark)
    // registered in untraced runs too: operator_mix's rows_per_s counts the
    // rows its queries' tasks read (one map update per task)
    val exec = new ExecCounts(tracer)
    spark.sparkContext.addSparkListener(exec)
    val phases = new PlanPhases
    spark.listenerManager.register(phases)

    opt("workload") match {
      case "pipeline_bulk" => new Pipeline().run(spark, tracer, ctx)
      case "operator_mix" => new OperatorMix().run(spark, tracer, ctx)
      case w => sys.error(s"unknown workload $w")
    }

    exec.settle()
    ctx.out("rss_peak_mb") = Ctx.vmHwmMb()
    ctx.out("spans") = tracer.spans.map(s =>
      Seq(s.id, s.name, s.parent, s.unit, s.startNs, s.endNs)).toSeq
    ctx.out("exec") = exec.acc.asScala.toSeq.map { case ((layer, unit), a) =>
      Map("layer" -> layer, "unit" -> unit) ++ a.toMap
    }
    ctx.out("plan") = phases.phases.asScala.toSeq.map { case (n, s, e) => Seq(n, s, e) }
    Files.writeString(Paths.get(s"${ctx.work}/result.json"),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(ctx.out))
    spark.stop()
  }
}

/** Run options plus the raw observations the run accumulates. */
final class Ctx(opt: Map[String, String]) {
  val work: String = opt("work")
  val seconds: Double = opt("seconds").toDouble
  val trace: Boolean = opt("trace") == "1"
  val seed: Long = opt("seed").toLong
  val rounds: Int = opt("rounds").toInt
  private val launchMs = opt("launch-ms").toLong
  private val deadlineMs = opt("deadline-ms").toLong
  val out = mutable.LinkedHashMap.empty[String, Any]
  val units = mutable.ArrayBuffer.empty[Map[String, Any]]
  val failures = mutable.ArrayBuffer.empty[String]
  out("units") = units
  out("failures") = failures

  /** Set-up ends here: process launch → session, warm-up and one-time
    * fixtures. */
  def setupDone(): Unit = out("setup_s") = (System.currentTimeMillis() - launchMs) / 1e3

  /** Runs the measured phase: `rounds` rounds of `every` units, calling
    * `step(i)` for each unit in turn, and records the phase's wall and
    * process CPU time. The work is fixed per run (sized by the caller from
    * `--seconds`), so every run and every commit measures the same work.
    * A run slower than `StopAfter` times `--seconds`, or one that reaches
    * the caller's deadline, stops at the next unit; the units it did not
    * run are recorded as `skipped` and count as failed operations, while
    * the units it ran are still reported. In a traced run the units for
    * which `traced(i)` holds are traced; the others give the tracing
    * overhead. */
  def measure(tracer: Tracer, every: Int = 1, traced: Int => Boolean = _ % 2 == 0)(
      step: Int => Unit): Unit = {
    out("host_probe_s") = Ctx.hostProbe()
    val cpu0 = Ctx.cpuNs()
    val t0 = System.nanoTime()
    val total = rounds * every
    var i = 0
    while (i < total && (System.nanoTime() - t0) / 1e9 < Ctx.StopAfter * seconds &&
        System.currentTimeMillis() < deadlineMs) {
      tracer.on = trace && traced(i)
      step(i)
      i += 1
    }
    tracer.on = false
    out("wall_s") = (System.nanoTime() - t0) / 1e9
    out("cpu_s") = (Ctx.cpuNs() - cpu0) / 1e9
    out("skipped") = total - i
  }
}

object Ctx {
  val StopAfter = 6

  /** Host speed probe, outside every metric: the best of five sorts of
    * the same million longs. Its time moves only with the host, never
    * with the program, so a reader can tell a slow host window from a
    * real change. */
  def hostProbe(): Double = {
    val rnd = new java.util.SplittableRandom(42L)
    val a = Array.fill(1 << 20)(rnd.nextLong())
    (1 to 5).map { _ =>
      val b = a.clone()
      val t0 = System.nanoTime()
      java.util.Arrays.sort(b)
      (System.nanoTime() - t0) / 1e9
    }.min
  }

  def cpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Peak resident set of this process (VmHWM), in MiB. */
  def vmHwmMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def error(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
}
