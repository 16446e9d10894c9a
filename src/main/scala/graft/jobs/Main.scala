package graft.jobs

import graft.LocalSpark
import graft.config.PipelineConfig
import graft.ledger.{LocalJsonLedger, RunId}
import graft.orchestrate.Orchestrator
import graft.sources.{JdbcSnapshotSource, ParquetSource, SourceReader}

import java.nio.file.Paths

/** Runnable job entry point (SURVEY §2.1 op #16) — the engine's
  * equivalent of the reference's Glue job-argument resolution
  * (reference: glue src/raw_layer_job.py:29-36 /
  * prepared_layer_job.py:25-32): resolve args → config → run the layer.
  *
  * Usage:
  *   runMain graft.jobs.Main --pipelines-dir <dir> --job_src <name>
  *     --layer raw|prepared|e2e|compact|cluster|zorder [--run-id <id>]
  *     [--target-file-bytes <n>] [--cluster-by <col[,col...]>]
  *
  * Credentials for JDBC-mode pipelines come from the environment
  * (GRAFT_JDBC_URL/DRIVER/USER/PASSWORD/SCHEMA), never from config
  * (divergence from the reference's hardcoded creds, SURVEY §2.1). A
  * `CDSView` that points at a parquet path selects the offline parquet
  * source instead.
  */
object Main {
  private val Usage =
    "usage: graft.jobs.Main --pipelines-dir <dir> --job_src <name> " +
      "[--layer raw|prepared|e2e|compact|cluster|zorder] [--run-id <id>] " +
      "[--target-file-bytes <n>] [--cluster-by <col[,col...]>]"

  /** Fail-fast argument resolution (the reference's `getResolvedOptions`
    * semantics: a malformed invocation raises instead of silently
    * shifting later flags — reference glue src/raw_layer_job.py:29-36). */
  private[jobs] def parseArgs(args: Array[String]): Map[String, String] = {
    if (args.length % 2 != 0)
      sys.error(s"unpaired argument '${args.last}'\n$Usage")
    args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k -> v
      case Array(k, _) => sys.error(s"expected a --flag, got '$k'\n$Usage")
    }.toMap
  }

  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args)
    def req(k: String): String =
      opts.getOrElse(k, sys.error(s"missing required argument $k\n$Usage"))
    val pipelinesDir = Paths.get(req("--pipelines-dir"))
    val jobSrc = req("--job_src")
    val layer = opts.getOrElse("--layer", "e2e")

    val cfg = PipelineConfig.loadAll(pipelinesDir).find(_.jobSrc == jobSrc)
      .getOrElse(sys.error(s"no pipeline with job_src '$jobSrc' under $pipelinesDir"))
    val runId = opts.getOrElse("--run-id", RunId())

    val b = LocalSpark.builder(LocalSpark.envCpus(8)).appName(cfg.displayName)
    sys.env.get("SPARK_GRAFT_MASTER").foreach(b.master)
    val spark = b.getOrCreate()
    try {
      val ledger = new LocalJsonLedger(
        Paths.get(cfg.rawRoot, "_ledger", cfg.ledgerName))
      val source: SourceReader =
        if (cfg.cdsView.endsWith(".parquet")) ParquetSource(cfg.cdsView)
        else JdbcSnapshotSource(
          url = sys.env.getOrElse("GRAFT_JDBC_URL", sys.error("GRAFT_JDBC_URL unset for JDBC pipeline")),
          driver = sys.env.getOrElse("GRAFT_JDBC_DRIVER", "com.mysql.cj.jdbc.Driver"),
          dbSchema = sys.env.getOrElse("GRAFT_JDBC_SCHEMA", "test"),
          view = cfg.cdsView) // credentials: EnvCredentials default (GRAFT_JDBC_USER/_PASSWORD)
      layer match {
        case "raw" =>
          val m = Orchestrator.ingest(spark, cfg, source, ledger, runId)
          println(s"[raw_layer_job] runId=${m.runId} rows=${m.rows} path=${m.path}")
        case "prepared" =>
          val ms = Orchestrator.drain(spark, cfg, ledger)
          ms.foreach(m => println(s"[prepared_layer_job] promoted runId=${m.runId} rows=${m.rows} -> ${m.path}"))
          if (ms.isEmpty) println("[prepared_layer_job] nothing pending")
        case "e2e" =>
          val table = Orchestrator.runEndToEnd(spark, cfg, source, ledger, runId)
          println(s"[e2e] runId=$runId table=$table rows=${spark.table(table).count()}")
        case "compact" =>
          val targetBytes = opts.get("--target-file-bytes").map(_.toLong)
            .getOrElse(128L << 20)
          val m = CompactionJob.run(spark, cfg.preparedPath, targetBytes)
          println(s"[compaction_job] path=${cfg.preparedPath} files=${m.filesBefore}->${m.filesAfter} " +
            s"bytes=${m.bytes} rows=${m.rows.map(_.toString).getOrElse("-")} rewritten=${m.rewritten}")
        case "cluster" | "zorder" =>
          val targetBytes = opts.get("--target-file-bytes").map(_.toLong)
            .getOrElse(128L << 20)
          val cols = opts.getOrElse("--cluster-by",
            sys.error(s"--layer $layer requires --cluster-by <col[,col...]>"))
            .split(",").toSeq.map(_.trim).filter(_.nonEmpty)
          val m =
            if (layer == "zorder") LayoutJob.zorderBy(spark, cfg.preparedPath, cols, targetBytes)
            else LayoutJob.clusterBy(spark, cfg.preparedPath, cols, targetBytes)
          println(s"[layout_job] mode=$layer path=${cfg.preparedPath} clusterBy=${m.clusterBy.mkString(",")} " +
            s"files=${m.filesBefore}->${m.filesAfter} rows=${m.rows}")
        case other => sys.error(s"unknown --layer '$other' (raw|prepared|e2e|compact|cluster|zorder)")
      }
    } finally spark.stop()
  }
}
