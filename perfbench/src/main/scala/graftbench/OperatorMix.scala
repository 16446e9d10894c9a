package graftbench

import graft.SparkEntry
import graft.table.SnapshotLog
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{Row, SparkSession}

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The operator surface in one long-lived session. A unit of work is one
  * query: DataFrame construction, planning and execution to a full
  * (collected) result. The first pass over the queries is set-up (JIT
  * warm-up and the per-JVM log-table fixtures with their DML); `--rounds`
  * measured passes follow, each in a fresh seeded order. */
final class OperatorMix {
  import OperatorMix._

  def run(spark: SparkSession, tracer: Tracer, ctx: Ctx): Unit = {
    val dir = s"${ctx.work}/fixtures"
    val rnd = new scala.util.Random(ctx.seed)
    val oracle = SparkEntry.oracleSql
    val first = scala.collection.mutable.LinkedHashMap.empty[String, (Array[Row], StructType)]

    rnd.shuffle(Queries).foreach { q =>
      try {
        val df = SparkEntry.queries(q)(spark, dir)
        first(q) = (df.collect(), df.schema)
      } catch { case e: Exception => ctx.failures += s"setup $q: ${Ctx.error(e)}" }
    }
    ctx.setupDone()

    // results of the set-up pass, for the oracle comparison (untimed)
    val outDir = s"${ctx.work}/results"
    first.foreach { case (q, (rows, schema)) =>
      if (oracle.contains(q))
        spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(s"$outDir/$q")
    }
    ctx.out("oracle") = oracle.filter { case (q, _) => first.contains(q) }
    ctx.out("setup_rows") = first.map { case (q, (rows, _)) => q -> rows.length }
    ctx.out("queries") = Queries
    val expected = first.map { case (q, (rows, _)) => q -> digest(rows) }
    ctx.out("log_fixture_bytes") = logFixtures().map(Disk.bytes).sum
    ctx.out("fixture_bytes") = Disk.bytes(dir)

    // A traced run runs each query twice in a row, once traced and once
    // untraced, the traced one first in even passes and second in odd
    // ones: every query is traced on every seed, and its untraced twin
    // gives the tracing overhead.
    val reps = if (ctx.trace) 2 else 1
    val perPass = Queries.size * reps
    var order: Seq[String] = Nil
    ctx.measure(tracer, every = perPass, traced = i => (i + i / perPass) % 2 == 0) { i =>
      if (i % perPass == 0) order = rnd.shuffle(Queries)
      val q = order(i % perPass / reps)
      val unit = s"$q#${i / perPass}" + (if (reps > 1) s".${i % reps}" else "")
      tracer.setUnit(unit)
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var t1, t2 = t0
      var rows: Array[Row] = Array.empty
      val err = try {
        val df = tracer.span("ops.construct")(SparkEntry.queries(q)(spark, dir))
        t1 = System.nanoTime()
        tracer.span("spark.plan")(df.queryExecution.executedPlan)
        t2 = System.nanoTime()
        rows = tracer.span("spark.exec")(df.collect())
        None
      } catch { case e: Exception => Some(Ctx.error(e)) }
      val t3 = System.nanoTime()
      // a re-run must reproduce the set-up result (checked against the
      // oracle); rows-only queries must reproduce its row count
      val same = err.isEmpty && expected.get(q).exists { d =>
        if (oracle.contains(q)) digest(rows) == d
        else rows.length == first(q)._1.length && rows.nonEmpty
      }
      ctx.units += Map("id" -> unit, "name" -> q, "family" -> family(q),
        "traced" -> tracer.on, "start_ms" -> startMs,
        "end_ms" -> System.currentTimeMillis(), "op_s" -> (t3 - t0) / 1e9,
        "construct_s" -> (t1 - t0) / 1e9, "plan_s" -> (t2 - t1) / 1e9,
        "ok" -> same)
      err.orElse(if (same) None else Some("result differs from the set-up pass"))
        .foreach(e => ctx.failures += s"$unit: $e")
    }
    if (ctx.trace) ctx.out("table") = tableStats(spark, tracer)
  }

  /** The per-JVM log-table fixtures the queries build, found by their
    * temp-directory prefix under this run's java.io.tmpdir. */
  private def logFixtures(): Seq[String] = {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    val s = Files.list(tmp)
    try s.iterator().asScala.filter(_.getFileName.toString.startsWith("graft-q"))
      .filter(p => Files.isDirectory(p.resolve(SnapshotLog.LogDirName)))
      .map(_.toString).toSeq.sorted
    finally s.close()
  }

  /** Snapshot read time and debt of each log fixture, summed. */
  private def tableStats(spark: SparkSession, tracer: Tracer): Map[String, Double] = {
    val dirs = logFixtures()
    tracer.on = true
    tracer.setUnit("table")
    val snaps = dirs.map(d => tracer.span("table.snapshot")(SnapshotLog(spark, d).snapshot()))
    tracer.on = false
    Map("fixtures" -> dirs.size.toDouble,
      "table.versions" -> snaps.map(_.version).sum.toDouble,
      "table.live_files" -> snaps.map(_.files.size).sum.toDouble,
      "table.dv_files" -> snaps.map(_.dvs.values.map(_.size).sum).sum.toDouble,
      "table.log_bytes" -> dirs.map(d => Disk.bytes(s"$d/${SnapshotLog.LogDirName}")).sum.toDouble)
  }
}

object OperatorMix {
  /** The queries each pass runs: every `ops` family plus `table` and
    * `streaming`, so that a cold pass (set-up) and two warm passes fit one
    * run. A full cold pass over all of `SparkEntry.queries` takes minutes
    * on a 4-core host. Heavier members of a family were passed over for
    * lighter ones where both exercise the family's code; the log-table
    * queries read fixtures that carry deletion-vector debt (q38) or are
    * clustered (q29/q30), and the log's history (q33) and an older
    * version of it (q34). Both counts are odd: with every query run twice,
    * the median of all units and of the `table` units then falls on one
    * query's two runs rather than in the gap between two queries. */
  val Queries: Seq[String] = Seq(
    "q03_revenue_by_nation", // Relational; infers 5 schemas while constructing
    "q29_log_pruned_scan", "q30_log_metadata_count", "q33_log_history",
    "q34_log_sql_timetravel", "q38_log_dv_delete", // table
    "ev_stream_dedup", // streaming
    "ev_anomaly", "dd_ngram_jaccard", "sim_topk_brute_force", "tx_tfidf",
    "mm_image_stats", "samp_stratified", "emb_gram", "prof_constraints")

  /** The `ops` family a query belongs to, plus `table` (log-table and
    * derived-aggregate queries) and `streaming`. */
  def family(q: String): String = {
    val n = q.takeWhile(_ != '_')
    val num = if (q.startsWith("q")) n.drop(1).toIntOption.getOrElse(0) else 0
    if (q.startsWith("mv_") || (num >= 29 && num <= 62)) "table"
    else if (q.startsWith("q")) "Relational"
    else if (q.startsWith("ev_stream") || q.startsWith("ev_log") || q.endsWith("_stateful")) "streaming"
    else n match {
      case "ev" => "Events"
      case "dd" => "Dedup"
      case "sim" => "Similarity"
      case "tx" => "TextAnalysis"
      case "mm" => "Multimodal"
      case "samp" | "cur" => "Sampling"
      case "emb" => "Embeddings"
      case "prof" => "Profiling"
      case _ => "Relational"
    }
  }

  /** Order-insensitive digest of a result; doubles to 9 significant
    * digits so float summation order cannot flip a check. */
  def digest(rows: Array[Row]): Int =
    scala.util.hashing.MurmurHash3.seqHash(rows.map(r => canon(r)).sorted.toSeq)

  private def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double => f"$d%.9g"
    case f: Float => f"${f.toDouble}%.6g"
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => canon(k) + "->" + canon(x) }
      .toSeq.sorted.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }
}
