package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.catalog.CatalogRegistrar
import graft.config.{ColumnSpec, PipelineConfig}
import graft.jobs.{JobMetrics, MaintenanceMetrics, PreparedLayerJob}
import graft.ledger.LocalJsonLedger
import graft.orchestrate.Orchestrator
import graft.sources.ParquetSource
import graft.table.{PreparedTable, SnapshotLog}
import org.apache.spark.sql.SparkSession

import java.nio.file.Paths
import scala.jdk.CollectionConverters._

/** The medallion pipeline as a closed loop of cycles. One cycle is one
  * `Orchestrator.runEndToEnd` (ingest → drain → register) of the next
  * generated full lineitem snapshot into a transaction-log prepared
  * table, followed by one aggregate SQL over the cataloged table. Traced
  * cycles call the same steps in `runEndToEnd`'s own order, each inside a
  * span. */
final class Pipeline {
  import Pipeline._

  private def config(root: String, name: String): PipelineConfig = PipelineConfig(
    template = PipelineConfig.CdsViewTemplate,
    project = "bench", subject = name, jobSrc = name, ledgerName = "ledger",
    rawRoot = s"$root/raw", rawFolder = name, cdsView = name,
    preparedRoot = s"$root/prepared", tableName = s"${name}_prepared",
    schema = Schema, tableFormat = PipelineConfig.FormatLog)

  private def snaps(json: com.fasterxml.jackson.databind.JsonNode): Seq[Snap] =
    json.elements().asScala.map(n => Snap(n.get("run_id").asText, n.get("path").asText,
      n.get("rows").asLong, n.get("bytes").asLong)).toSeq

  def run(spark: SparkSession, tracer: Tracer, ctx: Ctx): Unit = {
    val plan = new ObjectMapper().readTree(Paths.get(s"${ctx.work}/plan.json").toFile)
    val warmup = snaps(plan.get("warmup"))
    val cycles = snaps(plan.get("cycles"))

    // set-up: the same cycles on a throw-away pipeline, so JIT and
    // first-use costs are paid before measuring
    val warmCfg = config(s"${ctx.work}/warm", "warm_bulk")
    val warmLedger = new TracedLedger(
      new LocalJsonLedger(Paths.get(s"${ctx.work}/warm/ledger")), tracer)
    warmup.foreach { s =>
      Orchestrator.runEndToEnd(spark, warmCfg, ParquetSource(s.path), warmLedger, s.runId)
      spark.sql(sql(CatalogRegistrar.Database + "." + warmCfg.tableName, s.runId)).collect()
    }
    ctx.setupDone()

    val root = s"${ctx.work}/pipe"
    val cfg = config(root, "bulk")
    val ledger = new TracedLedger(new LocalJsonLedger(Paths.get(s"$root/ledger")), tracer)
    val table = CatalogRegistrar.Database + "." + cfg.tableName
    val readRows = scala.collection.mutable.LinkedHashMap.empty[String, Seq[String]]
    var inputBytes = 0L

    ctx.measure(tracer) { i =>
      val s = cycles(i)
      val unit = s"c$i"
      tracer.setUnit(unit)
      val scanned0 = ledger.scanned.get
      var promoted: Seq[JobMetrics] = Nil
      var rewrites: Map[String, MaintenanceMetrics] = Map.empty
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val err = attempt {
        if (!tracer.on)
          Orchestrator.runEndToEnd(spark, cfg, ParquetSource(s.path), ledger, s.runId)
        else tracer.span("cycle") {
          tracer.span("jobs.raw.run")(Orchestrator.ingest(
            spark, cfg, new TracedSource(ParquetSource(s.path), tracer), ledger, s.runId))
          // Orchestrator.drain, step by step
          promoted = tracer.span("jobs.prepared.promote")(
            PreparedLayerJob.promoteAll(spark, cfg, ledger))
          if (promoted.nonEmpty) {
            rewrites = tracer.span("orchestrate.compact")(Orchestrator.maybeCompact(
              spark, cfg, Orchestrator.DefaultCompactAfterFiles, None))
            tracer.span("catalog.register")(CatalogRegistrar.register(spark, cfg))
          }
          tracer.span("catalog.register")(CatalogRegistrar.register(spark, cfg))
        }
      }
      val t1 = System.nanoTime()
      var rows: Seq[String] = Nil
      val readErr = attempt {
        rows = tracer.span("sql.read") {
          val df = spark.sql(sql(table, s.runId))
          tracer.span("spark.plan")(df.queryExecution.executedPlan)
          tracer.span("spark.exec")(df.collect()).map(_.mkString("|")).toSeq
        }
      }
      val t2 = System.nanoTime()
      val endMs = System.currentTimeMillis()
      readRows(unit) = rows
      inputBytes += s.bytes
      val layer = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      if (tracer.on) {
        val (files, bytes) = Disk.walk(Paths.get(cfg.rawRunPath(s.runId)))
        layer("jobs.raw.files_written") = files.toDouble
        layer("jobs.raw.bytes_written") = bytes.toDouble
        layer("jobs.prepared.rows_in") = s.rows.toDouble
        layer("jobs.prepared.rows_admitted") = promoted.map(_.rows).sum.toDouble
        layer("ledger.records_scanned") = (ledger.scanned.get - scanned0).toDouble
        layer("orchestrate.rewrites") = rewrites.size.toDouble
        layer("orchestrate.files_before") = rewrites.values.map(_.filesBefore).sum.toDouble
        layer("orchestrate.files_after") = rewrites.values.map(_.filesAfter).sum.toDouble
        val snap = tracer.span("table.snapshot")(PreparedTable.log(spark, cfg).snapshot())
        layer("table.versions") = snap.version.toDouble
        layer("table.live_files") = snap.files.size.toDouble
        layer("table.dv_files") = snap.dvs.values.map(_.size).sum.toDouble
        layer("table.log_bytes") =
          Disk.bytes(s"${cfg.preparedPath}/${SnapshotLog.LogDirName}").toDouble
      }
      ctx.units += Map("id" -> unit, "run_id" -> s.runId, "traced" -> tracer.on,
        "start_ms" -> startMs, "end_ms" -> endMs, "op_s" -> (t1 - t0) / 1e9,
        "read_s" -> (t2 - t1) / 1e9, "rows" -> s.rows,
        "ok" -> (err.isEmpty && readErr.isEmpty), "layer" -> layer)
      (err ++ readErr).foreach(e => ctx.failures += s"$unit: $e")
    }

    // outputs the caller checks: every cycle's SQL result, the prepared
    // table's final row count per run, and each run's ledger states with
    // the prepared entry count it recorded
    ctx.out("reads") = readRows
    ctx.out("prepared_rows") = spark.sql(
      s"SELECT ETL_PART_KEY, count(*) FROM $table GROUP BY ETL_PART_KEY").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    ctx.out("ledger") = ledger.records(spark).collect().toSeq
      .groupBy(_.partition_key).map { case (k, rs) =>
        k -> rs.map(r => Map("state" -> r.state, "prepared_rows" -> r.preparedEntryCount))
      }
    ctx.out("input_bytes") = inputBytes
    ctx.out("stored_bytes") = Disk.bytes(root) - Disk.bytes(s"$root/ledger")
  }

  /** Runs `body`, returning its failure as a message instead of
    * throwing: a failed operation is counted, never a crash. */
  private def attempt(body: => Unit): Option[String] =
    try { body; None } catch { case e: Exception => Some(Ctx.error(e)) }
}

object Pipeline {
  final case class Snap(runId: String, path: String, rows: Long, bytes: Long)

  val Schema: Seq[ColumnSpec] = Seq(ColumnSpec("l_orderkey", "bigint", "order key"),
    ColumnSpec("l_partkey", "bigint", ""), ColumnSpec("l_suppkey", "bigint", ""),
    ColumnSpec("l_linenumber", "int", ""), ColumnSpec("l_quantity", "double", ""),
    ColumnSpec("l_extendedprice", "double", ""), ColumnSpec("l_discount", "double", ""),
    ColumnSpec("l_tax", "double", ""), ColumnSpec("l_returnflag", "string", ""),
    ColumnSpec("l_linestatus", "string", ""), ColumnSpec("l_shipdate", "timestamp", ""))

  /** The per-cycle SQL: an aggregate of the cycle's own run, so every
    * cycle reads the same amount of data through a view over all live
    * files. */
  def sql(table: String, run: String): String =
    s"""SELECT ETL_PART_KEY, l_returnflag, count(*) AS n,
       |  sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty,
       |  sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS ext
       |FROM $table WHERE ETL_PART_KEY = '$run'
       |GROUP BY ETL_PART_KEY, l_returnflag""".stripMargin
}
