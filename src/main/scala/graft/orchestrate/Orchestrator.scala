package graft.orchestrate

import graft.catalog.CatalogRegistrar
import graft.config.PipelineConfig
import graft.jobs.{CompactionJob, JobMetrics, LayoutJob, LogMaintenanceMetrics, MaintenanceMetrics, PreparedLayerJob, RawLayerJob}
import graft.ledger.{LocalJsonLedger, RunLedger, RunState}
import graft.sources.SourceReader
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Ties the layers together: raw ingest → ledger → promotion → catalog.
  *
  * Two promotion paths, same job code:
  *  - [[drain]] — synchronous, the tested truth (SURVEY §7.5).
  *  - [[watch]] — event-driven: a Structured Streaming file source over
  *    the ledger directory plays the reference's DynamoDB stream, and
  *    `foreachBatch` plays the Lambda that starts the prepared job per
  *    `RAW COMPLETED` insert (reference: lambda/invoke_prepared.py:7-38;
  *    stream wiring at
  *    aws_genaric_datapipeline/aws_genaric_datapipeline_stack.py:80-83).
  */
object Orchestrator {

  /** Run one raw ingestion (reference trigger → raw job, SURVEY §3.2). */
  def ingest(spark: SparkSession, cfg: PipelineConfig, source: SourceReader,
      ledger: RunLedger, runId: String): JobMetrics =
    RawLayerJob.run(spark, cfg, source, ledger, runId)

  /** File-count threshold past which [[drain]]/[[watch]] compact the
    * prepared prefix after promoting. High enough that it never fires
    * on a few-run test pipeline; at one promotion per day and a handful
    * of part files each, a production table crosses it in a few weeks —
    * exactly the cadence small-file maintenance wants. */
  val DefaultCompactAfterFiles = 32

  /** Synchronously promote everything pending, register the catalog table.
    * Idempotent: drain twice ≡ drain once. After promoting, maintains
    * the prepared prefix (and the fingerprint index, when the pipeline
    * dedups) once its data-file count passes `compactAfterFiles` — the
    * scheduled-maintenance half of the append-only layer's contract:
    * bin-pack by default, clustering rewrite when the config declares a
    * layout policy ([[maybeCompact]]). */
  def drain(spark: SparkSession, cfg: PipelineConfig, ledger: RunLedger,
      compactAfterFiles: Int = DefaultCompactAfterFiles,
      advisor: Option[LayoutAdvisor] = None): Seq[JobMetrics] = {
    val promoted = PreparedLayerJob.promoteAll(spark, cfg, ledger)
    if (promoted.nonEmpty) {
      // maintenance BEFORE registration: a log-backed catalog view pins
      // the current snapshot's file set, so it must be built after any
      // rewrite commits (for the directory format the order is moot)
      maybeCompact(spark, cfg, compactAfterFiles, advisor)
      CatalogRegistrar.register(spark, cfg)
    }
    promoted
  }

  /** Maintain the prepared prefix iff its data-file count exceeds
    * `maxFiles` (sized from the same file listing the rewrite itself
    * uses): a plain bin-pack ([[CompactionJob]]) by default, or — when
    * the config declares a [[graft.config.LayoutPolicy]] — a clustering
    * rewrite ([[LayoutJob]]) on the declared columns, which subsumes
    * compaction (the clustered rewrite also bin-packs to target bytes)
    * AND restores data skipping that each appended run erodes. With
    * dedup enabled the fingerprint index — which also grows a file per
    * promotion — is held to the same bar (always plain compaction: the
    * index is probed by hash equality, clustering buys it nothing).
    * Single-writer per pipeline by construction: [[drain]] is
    * synchronous and [[watch]]'s foreachBatch serializes batches, so
    * maintenance never races a concurrent append to the same prefix.
    * Idempotent at the threshold gate: a rewrite leaves ≤ maxFiles
    * files, so an immediate re-check fires nothing. Returns the metrics
    * of each rewrite that actually happened, keyed by path. */
  def maybeCompact(spark: SparkSession, cfg: PipelineConfig,
      maxFiles: Int = DefaultCompactAfterFiles,
      advisor: Option[LayoutAdvisor] = None): Map[String, MaintenanceMetrics] = {
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    def overThreshold(dir: String): Boolean = {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(hadoopConf)
      fs.exists(p) && fs.listStatus(p).count { f =>
        val n = f.getPath.getName
        f.isFile && !n.startsWith("_") && !n.startsWith(".")
      } > maxFiles
    }
    // Effective layout policy: the declared one ALWAYS wins; a pipeline
    // in `layout_mode: "advised"` with no declaration adopts the
    // telemetry advisor's recommendation, keyed by the qualified path
    // the scan listener tallied (the data directory). Falls back to
    // plain bin-packing when there is no advice yet — maintenance never
    // blocks on telemetry.
    def policyFor(scanRoot: String,
        schema: => org.apache.spark.sql.types.StructType) =
      cfg.layout.orElse {
        if (cfg.layoutAdvised)
          advisor.flatMap(_.advise(qualify(spark, scanRoot), schema))
        else None
      }
    // prepared prefix: log-routed maintenance when the pipeline is
    // log-backed (the threshold reads the MANIFEST's live-file count —
    // no listing — and the rewrite commits as a `replace`, no swap
    // window); verified-swap jobs on the bare directory otherwise
    val prepared: Option[(String, MaintenanceMetrics)] =
      if (cfg.useLog) {
        val probe = graft.table.PreparedTable.log(spark, cfg)
        if (probe.currentVersion() == 0) None
        else {
          val snap0 = probe.snapshot()
          val before = snap0.files.length
          if (before <= maxFiles) {
            // no file-count pressure, but merge-on-read / rename debt
            // still drains on the schedule: targeted rewrites of ONLY
            // the covered files — O(debt), never O(table)
            if (snap0.dvs.isEmpty && snap0.fileSchemaIdx.isEmpty) None
            else {
              val log = graft.table.PreparedTable.log(spark, cfg)
              log.materializeDeletes().orElse(log.materializeRenames())
                .map(s => cfg.preparedPath ->
                  LogMaintenanceMetrics(before, s.files.length, s.rows, s.op))
            }
          }
          else {
            // log scans are explicit file lists, tallied under data/
            val scanRoot =
              s"${cfg.preparedPath}/${graft.table.SnapshotLog.DataDirName}"
            val schema = probe.read().schema
            val policy = policyFor(scanRoot, schema)
            // advised mode also adopts the advisor's BLOOM nominations,
            // and an advised cluster policy doubles as the manifest
            // stats columns (a declared layout already does, via
            // cfg.statsColumns): the maintenance rewrite re-stages
            // every file, so building the log with them indexes the
            // whole table in one pass; declared lists always win
            val advisedBlooms =
              if (cfg.layoutAdvised && cfg.bloomColumns.isEmpty)
                advisor.map(_.adviseBlooms(qualify(spark, scanRoot), schema))
                  .getOrElse(Nil)
              else Nil
            val advisedStats =
              if (cfg.statsColumns.isEmpty) policy.map(_.columns).getOrElse(Nil)
              else Nil
            val log = graft.table.PreparedTable.log(spark, cfg,
              advisedBlooms, advisedStats)
            val committed = policy match {
              case Some(p) if p.zorder => Some(LayoutJob.zorderByLog(log, p.columns))
              case Some(p) => Some(LayoutJob.clusterByLog(log, p.columns))
              // no layout policy: incremental bin-pack — only the
              // undersized backlog rewrites, well-sized files carry by
              // name (falls back to the full rewrite only to materialize
              // pending key tombstones)
              case None => log.compactSmall()
            }
            committed.map(s => cfg.preparedPath ->
              LogMaintenanceMetrics(before, s.files.length, s.rows, s.op))
          }
        }
      } else if (overThreshold(cfg.preparedPath)) {
        val m: MaintenanceMetrics = policyFor(cfg.preparedPath,
          spark.read.parquet(cfg.preparedPath).schema) match {
          case Some(p) if p.zorder => LayoutJob.zorderBy(spark, cfg.preparedPath, p.columns)
          case Some(p) => LayoutJob.clusterBy(spark, cfg.preparedPath, p.columns)
          case None => CompactionJob.run(spark, cfg.preparedPath)
        }
        Some(cfg.preparedPath -> m).filter(_._2.rewritten)
      } else None
    // the fingerprint index also grows a file per promotion; it is
    // probed by hash equality, so plain compaction regardless of format
    val fpIndex: Option[(String, MaintenanceMetrics)] = cfg.dedupColumn
      .filter(_ => overThreshold(cfg.fingerprintIndexPath))
      .map(_ => cfg.fingerprintIndexPath ->
        (CompactionJob.run(spark, cfg.fingerprintIndexPath): MaintenanceMetrics))
      .filter(_._2.rewritten)
    (prepared.toSeq ++ fpIndex.toSeq).toMap
  }

  /** A path in the fully-qualified form the scan listener records
    * (`FileSourceScanExec` root paths are qualified, e.g. `file:/…`). */
  private def qualify(spark: SparkSession, dir: String): String = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(p).toString
  }

  /** Full medallion pass for one pipeline: ingest + drain + catalog.
    * Exercises SURVEY §2.1 ops #1-9/#13-15 in one call (§7.2).
    * Registers the catalog name exactly once: [[drain]] already
    * registers when it promotes, so this registers only when the drain
    * promoted nothing (a re-run of an already-promoted run id), keeping
    * the returned name readable either way. Returns the fully-qualified
    * name. */
  def runEndToEnd(spark: SparkSession, cfg: PipelineConfig, source: SourceReader,
      ledger: RunLedger, runId: String): String = {
    ingest(spark, cfg, source, ledger, runId)
    if (drain(spark, cfg, ledger).isEmpty) CatalogRegistrar.register(spark, cfg)
    else CatalogRegistrar.name(cfg)
  }

  /** Event-driven promotion: watch the ledger directory as a stream; for
    * each batch containing new RAW COMPLETED inserts, run the prepared job.
    * `foreachBatch` sees only *new* files (the stream's exactly-once file
    * tracking), and `promoteAll` is itself idempotent, so replays are safe.
    */
  def watch(spark: SparkSession, cfg: PipelineConfig, ledger: LocalJsonLedger,
      checkpointDir: String,
      advisor: Option[LayoutAdvisor] = None): StreamingQuery = {
    val inserts = spark.readStream
      .schema(graft.ledger.RunLedger.schema)
      .json(ledger.dir.toString)
      .filter(col("state") === RunState.RawCompleted &&
        col("job_src") === cfg.jobSrc)
    inserts.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) {
          PreparedLayerJob.promoteAll(spark, cfg, ledger)
          // before register: the log view pins a snapshot
          maybeCompact(spark, cfg, advisor = advisor)
          CatalogRegistrar.register(spark, cfg)
        }
        ()
      }
      .start()
  }
}
