package graftbench

import graft.ledger.{LocalJsonLedger, RunLedger, RunRecord}
import graft.sources.SourceReader
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer

/** Spans recorded around calls into the program's layers. All calls come
  * from the benchmark's single client thread, so the span stack needs no
  * locking. Spans stay in memory and are written when the run ends. */
final class Tracer(spark: SparkSession) {
  /** Local property naming the innermost open span; Spark copies it into
    * every job the thread submits, which is how job-level counts are
    * attributed to layers. */
  val LayerKey = "graftbench.layer"
  val UnitKey = "graftbench.unit"

  /** Spans are recorded only while `on`; the measured (untraced) run
    * keeps it off and pays one boolean test per call. */
  var on = false
  private var unit = ""
  private var stack: List[Int] = Nil
  private var nextId = 0
  val spans = ArrayBuffer.empty[Tracer.Span]

  def setUnit(u: String): Unit = {
    unit = u
    spark.sparkContext.setLocalProperty(UnitKey, u)
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val sc = spark.sparkContext
      val outer = sc.getLocalProperty(LayerKey)
      sc.setLocalProperty(LayerKey, name)
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Tracer.Span(id, name, parent, unit, t0, System.nanoTime())
        stack = stack.tail
        sc.setLocalProperty(LayerKey, outer)
      }
    }
}

object Tracer {
  final case class Span(id: Int, name: String, parent: Int, unit: String,
      startNs: Long, endNs: Long)
}

/** Spark job/stage/task counts and task metrics, keyed by the layer and
  * unit local properties the job was submitted under. Registered from the
  * benchmark, never from the program. */
final class ExecCounts(tracer: Tracer) extends SparkListener {
  final class Acc {
    val jobs, stages, tasks, cpuNs, gcMs, shuffleRead, shuffleWrite, spill,
        inputBytes, inputRecords, outputBytes = new AtomicLong()
    def toMap: Map[String, Double] = Map(
      "jobs" -> jobs.get.toDouble, "stages" -> stages.get.toDouble,
      "tasks" -> tasks.get.toDouble, "executor_cpu_s" -> cpuNs.get / 1e9,
      "gc_s" -> gcMs.get / 1e3, "shuffle_read_bytes" -> shuffleRead.get.toDouble,
      "shuffle_write_bytes" -> shuffleWrite.get.toDouble,
      "spill_bytes" -> spill.get.toDouble, "input_bytes" -> inputBytes.get.toDouble,
      "input_records" -> inputRecords.get.toDouble,
      "output_bytes" -> outputBytes.get.toDouble)
  }
  /** (layer, unit) → counters. */
  val acc = new ConcurrentHashMap[(String, String), Acc]()
  private val stageKey = new ConcurrentHashMap[Int, (String, String)]()
  val events = new AtomicLong()

  private def key(props: java.util.Properties): (String, String) =
    if (props == null) ("", "")
    else (Option(props.getProperty(tracer.LayerKey)).getOrElse(""),
      Option(props.getProperty(tracer.UnitKey)).getOrElse(""))
  private def of(k: (String, String)) = acc.computeIfAbsent(k, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    events.incrementAndGet()
    val k = key(e.properties)
    of(k).jobs.incrementAndGet()
    e.stageIds.foreach(stageKey.put(_, k))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    events.incrementAndGet()
    val k = key(e.properties)
    stageKey.putIfAbsent(e.stageInfo.stageId, k)
    of(k).stages.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events.incrementAndGet()
    val a = of(Option(stageKey.get(e.stageId)).getOrElse(("", "")))
    a.tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      a.cpuNs.addAndGet(m.executorCpuTime)
      a.gcMs.addAndGet(m.jvmGCTime)
      a.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      a.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      a.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      a.inputBytes.addAndGet(m.inputMetrics.bytesRead)
      a.inputRecords.addAndGet(m.inputMetrics.recordsRead)
      a.outputBytes.addAndGet(m.outputMetrics.bytesWritten)
    }
  }

  /** Listener events arrive asynchronously; wait until none have arrived
    * for a quiet interval so the totals include the last unit's jobs. */
  def settle(): Unit = {
    var last = -1L
    while (last != events.get) {
      last = events.get
      Thread.sleep(250)
    }
  }
}

/** Catalyst phase durations of every executed query, collected through a
  * QueryExecutionListener (asynchronous, like the SparkListener); each
  * entry is (phase, start epoch ms, end epoch ms) so the caller can assign
  * it to the unit of work whose interval holds it. */
final class PlanPhases extends QueryExecutionListener {
  val phases = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
  def record(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (name, s) =>
      phases.add((name, s.startTimeMs, s.endTimeMs))
    }
}

/** Delegating source: times DataFrame construction (footer/schema
  * inference) as the `sources.read` layer. */
final class TracedSource(inner: SourceReader, tracer: Tracer) extends SourceReader {
  override def read(spark: SparkSession): DataFrame =
    tracer.span("sources.read")(inner.read(spark))
}

/** Delegating ledger: times appends and the pending-runs scan (the
  * records read the drain makes), and counts the records it scanned. */
final class TracedLedger(inner: LocalJsonLedger, tracer: Tracer) extends RunLedger {
  val scanned = new AtomicLong()
  override def append(record: RunRecord): Unit =
    tracer.span("ledger.append")(inner.append(record))
  override def records(spark: SparkSession): Dataset[RunRecord] = inner.records(spark)
  override def pending(spark: SparkSession, jobSrc: String): Seq[RunRecord] = {
    if (tracer.on) scanned.addAndGet(Disk.count(inner.dir))
    tracer.span("ledger.records")(super.pending(spark, jobSrc))
  }
}

object Disk {
  /** Files (not directories) under `dir`, recursively, and their bytes. */
  def walk(dir: java.nio.file.Path): (Long, Long) =
    if (!java.nio.file.Files.exists(dir)) (0L, 0L)
    else {
      val s = java.nio.file.Files.walk(dir)
      try {
        var n, b = 0L
        s.forEach { p =>
          if (java.nio.file.Files.isRegularFile(p)) {
            n += 1; b += java.nio.file.Files.size(p)
          }
        }
        (n, b)
      } finally s.close()
    }

  def count(dir: java.nio.file.Path): Long = {
    val s = java.nio.file.Files.list(dir)
    try s.count() finally s.close()
  }

  def bytes(dir: String): Long = walk(java.nio.file.Paths.get(dir))._2
}
