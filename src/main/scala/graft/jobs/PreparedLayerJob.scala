package graft.jobs

import graft.config.PipelineConfig
import graft.ledger.{RunLedger, RunRecord, RunState}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.types.StructType

/** Prepared-layer promotion: each un-promoted raw run is appended to the
  * stable prepared prefix the catalog table points at, then marked
  * terminal in the ledger.
  *
  * Spark-native equivalent of the reference prepared job
  * (reference: glue src/prepared_layer_job.py:45-138): scan ledger for
  * `job_src == X AND State == 'RAW COMPLETED'` (reference :152-155), per
  * run read `{RawBucket}/{RawFolder}/{partition_key}` (reference :92-96)
  * and append to `{preparedBucket}/{RawFolder}` (reference :124-129).
  *
  * Corrected semantics (SURVEY §2.1 defects): the reference's promotion
  * update is broken (undefined names, and it re-writes `RAW COMPLETED`, so
  * every prepared run re-appends all history). We append a terminal
  * `PREPARED COMPLETED` record per run, and [[RunLedger.pending]] excludes
  * promoted keys — promotion is exactly-once and `promoteAll` is
  * idempotent (drain twice ≡ drain once).
  *
  * Scale notes: the per-run loop is control-plane iteration (runs are few);
  * each iteration is one distributed Spark job — the copy of the run's
  * files, or on the row path the append itself. The run's schema is one
  * driver-side footer read ([[rawRun]]); the promoted count comes from
  * the copies' footers, or on the row path from an Observation riding
  * the append (the log commit's own, or the directory append's).
  */
object PreparedLayerJob {
  val JobName = "prepared_layer_job"

  /** Promote one raw run. Returns the prepared-entry metrics.
    *
    * A run whose rows join the prepared layer unchanged is promoted by
    * copying its raw files byte for byte ([[graft.table.ParquetCopy]]:
    * one Spark job, one task per file, no row decoded or re-encoded),
    * then committing the copies — through the log's append-commit loop
    * and run-id `txns` key for `table_format: log`
    * ([[graft.table.SnapshotLog.appendRunFiles]]), as run-unique file
    * names in the prepared prefix for `dir`. The copies' footer row count
    * must equal the ledger's `rawEntryCount`; on a mismatch they are
    * deleted and promotion throws before committing, so the run stays
    * pending. Runs whose rows must change keep the row path — read
    * ([[rawRunDf]]), then staged or written: a dedup column, a partition
    * spec, sort order or CHECK constraint in force on the log table, or
    * a run written before the audit column moved into the raw file. */
  def promote(spark: SparkSession, cfg: PipelineConfig, ledger: RunLedger,
      rawRecord: RunRecord): JobMetrics = {
    // a run the ledger records with 0 rows landed no files: it promotes
    // as a defined no-op (nothing read, nothing appended, PREPARED
    // COMPLETED with 0), so an empty snapshot never blocks the runs
    // pending behind it. Any other run must still have its files — a
    // missing run directory throws and the run stays pending
    val runId = rawRecord.partition_key
    val rows = if (rawRecord.rawEntryCount == "0") 0L else {
      val run = rawRun(spark, s"${rawRecord.rawBucket}/${rawRecord.rawFolder}", runId)
      val counted = rawRecord.rawEntryCount.toLong
      cfg.dedupColumn match {
        case Some(key) => promoteDeduped(spark, cfg, run.df(spark), key, runId)
        case None if cfg.useLog =>
          // log-backed prepared layer: the run commits atomically, keyed
          // on its run id — a drain that crashed between this commit and
          // the ledger append below cannot re-append the run on rerun
          // (the txn watermark detects the replay and appends nothing);
          // the bare directory's row path only gets at-least-once from the
          // ledger's pending scan
          val log = graft.table.PreparedTable.log(spark, cfg)
          if (run.carriesAuditKey && log.takesFilesAsIs())
            log.appendRunFiles(run.files, run.schema, runTxnKey(runId), counted)
              .fold(0L)(_ => counted) // the copies held exactly `counted`
          else
            // the committed snapshot carries the exact staged row count
            // (its Observation rode the write) — no counting job
            log.appendRun(run.df(spark), runTxnKey(runId)) match {
              case Some(s) =>
                if (s.parent == 0) s.rows else s.rows - log.snapshot(s.parent).rows
              case None => 0L
            }
        case None if run.carriesAuditKey =>
          // the copies land under hidden names (readers skip `.` files),
          // pass the audit, then rename into place; a rerun after a crash
          // replaces the same run-unique names instead of adding copies
          val dir = new Path(cfg.preparedPath)
          val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
          val names = run.files.map(f => s"run-$runId-${f.getName}")
          graft.table.ParquetCopy.copy(spark,
            run.files.zip(names.map(n => new Path(dir, s".$n.copying"))), counted)
          names.foreach { n =>
            fs.delete(new Path(dir, n), false)
            if (!fs.rename(new Path(dir, s".$n.copying"), new Path(dir, n)))
              throw new IllegalStateException(s"could not publish $n into $dir")
          }
          counted
        case None =>
          // the count rides the append (as the raw write's does)
          val obs = new Observation(s"graft_promote_${java.util.UUID.randomUUID()}")
          run.df(spark).observe(obs, count(lit(1)).as("rows")).write
            .option("compression", "snappy")
            .mode("append") // successive runs accumulate under the cataloged prefix
            .parquet(cfg.preparedPath)
          obs.get("rows").asInstanceOf[Long]
      }
    }
    ledger.append(rawRecord.copy(
      state = RunState.PreparedCompleted,
      preparedBucket = cfg.preparedRoot,
      preparedFolder = cfg.rawFolder,
      preparedJobName = JobName,
      preparedEntryCount = rows.toString))
    JobMetrics(runId, rows, cfg.preparedPath)
  }

  /** The `txns` idempotence token for one promotion run in the
    * log-backed prepared table. */
  private[graft] def runTxnKey(runId: String): String = s"promote:$runId"

  /** One raw run on disk: its data files and their schema. */
  private[graft] final case class RawRun(runId: String, files: Seq[Path],
      schema: StructType) {
    /** Whether the files carry the audit column — every run this raw job
      * writes. A run written when the column lived only in its directory
      * name gains it on the row path. */
    def carriesAuditKey: Boolean = schema.fieldNames.contains(RawLayerJob.AuditKey)

    /** The run's rows: the files read under their own schema, with no
      * partition inference, so the run id is the string in the file —
      * leading zeros included. */
    def df(spark: SparkSession): DataFrame = {
      val d = spark.read.schema(schema).parquet(files.map(_.toString): _*)
      if (carriesAuditKey) d
      else d.withColumn(RawLayerJob.AuditKey, RawLayerJob.auditValue(runId))
    }
  }

  /** Find one raw run: its directory's data files, and their schema from
    * ONE part-file footer read on the driver, converted under the
    * session's parquet conf — exactly what Spark's own inference does
    * with `mergeSchema` off (one footer, same converter), minus the
    * Spark job it launches to do it. Every file of a run comes from one
    * write, so any footer speaks for the run. A missing run directory or
    * one with no data file throws, as inference did. */
  private[graft] def rawRun(spark: SparkSession, rawTable: String,
      runId: String): RawRun = {
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
    val rawPath = new Path(s"$rawTable/${RawLayerJob.AuditKey}=$runId")
    val conf = spark.sparkContext.hadoopConfiguration
    val files = RewriteSwap.dataFiles(rawPath.getFileSystem(conf), rawPath) // throws when missing
      .sortBy(_.getPath.getName).toSeq
    val f = files.headOption.getOrElse(
      throw new java.io.FileNotFoundException(s"raw run $runId has no data file under $rawPath"))
    val footer = new org.apache.parquet.hadoop.Footer(f.getPath,
      ParquetFooterReader.readFooter(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf),
        org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS))
    RawRun(runId, files.map(_.getPath),
      org.apache.spark.sql.GraftBridge.asNullable(ParquetFileFormat.readSchemaFromFooter(
        footer, new ParquetToSparkSchemaConverter(spark.sessionState.conf))))
  }

  /** One raw run as the frame the row path promotes ([[RawRun.df]]). */
  private[graft] def rawRunDf(spark: SparkSession, rawTable: String,
      runId: String): DataFrame =
    rawRun(spark, rawTable, runId).df(spark)

  /** Promote one run with cross-run incremental dedup (an extension —
    * the reference's prepared layer appends blindly, so a re-crawled or
    * re-delivered row enters the corpus once per run it appears in).
    *
    * The run is deduped through [[graft.ops.Dedup.incrementalSurvivors]]
    * against the persisted fingerprint index at
    * [[PipelineConfig.fingerprintIndexPath]] (8-byte fingerprints of
    * every admitted `key` value, one parquet row each — the corpus text
    * itself is never re-read); survivors are appended to the prepared
    * prefix and their fingerprints appended to the index.
    *
    * Write ordering is a crash-safety invariant: data append FIRST, index
    * append second. A crash in between loses index entries, so a later
    * run may re-admit a duplicate (at-least-once, same as the non-deduped
    * layer) — the reverse order could record fingerprints for rows that
    * were never written, silently DROPPING future legitimate data. The
    * survivor set is localCheckpoint'd so the two appends and the count
    * share one computation. At 100 TB the index is bucketed on `fp` at
    * rest (exchange-free anti-join side) and the checkpoint becomes a
    * staging write under a table-format transactional commit. */
  private def promoteDeduped(spark: SparkSession, cfg: PipelineConfig,
      df: DataFrame, key: String, runId: String): Long = {
    import org.apache.spark.sql.functions.col
    // Hadoop FS existence check, not java.io.File: preparedRoot may be
    // HDFS/S3 in production, where a local-File check is always false and
    // would silently skip the index (re-admitting every duplicate).
    val idxPath = new org.apache.hadoop.fs.Path(cfg.fingerprintIndexPath)
    val haveIndex = idxPath
      .getFileSystem(spark.sparkContext.hadoopConfiguration).exists(idxPath)
    val index =
      if (haveIndex) Some(spark.read.parquet(cfg.fingerprintIndexPath)) else None
    val survivors = graft.ops.Dedup
      .incrementalSurvivors(df, col(key), col(key), index)
      .localCheckpoint()
    if (cfg.useLog)
      // survivors commit atomically, run-id keyed (see promote); the
      // fingerprint index stays a plain bucketable directory — it is an
      // index probed by hash equality, not the cataloged table
      graft.table.PreparedTable.log(spark, cfg)
        .appendRun(survivors.drop(graft.ops.Dedup.FpCol), runTxnKey(runId))
    else
      survivors.drop(graft.ops.Dedup.FpCol).write
        .option("compression", "snappy")
        .mode("append")
        .parquet(cfg.preparedPath)
    survivors.select(col(graft.ops.Dedup.FpCol).as("fp"))
      .write.mode("append").parquet(cfg.fingerprintIndexPath)
    survivors.count()
  }

  /** Promote every pending run for this pipeline (the reference's
    * per-run loop, glue src/prepared_layer_job.py:48-55). Idempotent.
    * A config-declared rollup refreshes ONCE per drain, after the loop
    * — all newly-promoted runs fold as one change-feed delta. */
  def promoteAll(spark: SparkSession, cfg: PipelineConfig,
      ledger: RunLedger): Seq[JobMetrics] = {
    ensureConstraints(spark, cfg)
    val out = ledger.pending(spark, cfg.jobSrc).map(promote(spark, cfg, ledger, _))
    refreshRollup(spark, cfg)
    out
  }

  /** Attach the config-declared CHECK constraints
    * ([[graft.config.CheckSpec]] → [[graft.table.SnapshotLog
    * .addConstraint]]) before anything promotes: every run in this
    * drain then validates on its staging pass or aborts whole.
    *
    * Each expression's referenced columns are checked against the
    * DECLARED schema (+ the audit column) first — a typo'd column
    * would otherwise attach a gate that every staging pass silently
    * skips (CHECK on an absent column passes by NULL semantics) while
    * DESCRIBE reports it enforced; the sibling config references
    * (layout/bloom/partition/sort/rollup) all fail fast the same way.
    *
    * Steady state costs ONE ref listing per drain: already-identical
    * declarations are skipped before calling addConstraint. A config
    * that REDEFINES an existing name refuses loudly — changing a live
    * gate is an operator action (drop, fix data, re-add), not a
    * silent config push. No-op without declarations. */
  def ensureConstraints(spark: SparkSession, cfg: PipelineConfig): Unit =
    if (cfg.constraints.nonEmpty) {
      val log = graft.table.PreparedTable.log(spark, cfg)
      val known = cfg.schema.map(_.name).toSeq :+ "ETL_PART_KEY"
      cfg.constraints.foreach { c =>
        val unknown = log.constraintRefs(c.check)
          .filterNot(r => known.exists(_.equalsIgnoreCase(r)))
        require(unknown.isEmpty,
          s"constraint '${c.name}' (${c.check}) references columns not in " +
            s"the declared schema: ${unknown.mkString(", ")} — the gate " +
            "would never fire (CHECK on an absent column passes)")
      }
      val existing = log.constraints()
      cfg.constraints
        .filterNot(c => existing.get(c.name).contains(c.check))
        .foreach(c => log.addConstraint(c.name, c.check))
    }

  /** Fold the prepared log's change feed into the config-declared
    * rollup ([[graft.config.RollupSpec]] →
    * [[graft.table.DerivedAggregate]]): O(new data) per drain, never
    * O(table); exactly-once via the derived table's own txns watermark,
    * so a crashed or re-run drain converges. No-op without a
    * declaration or before the first promotion. With `change_feed` on,
    * later copy-on-write deletes against the prepared table fold
    * through the SAME call — the GDPR path stays incremental. */
  def refreshRollup(spark: SparkSession, cfg: PipelineConfig): Unit =
    cfg.rollup.foreach { r =>
      val base = graft.table.PreparedTable.log(spark, cfg)
      if (base.currentVersion() > 0) {
        val derived = graft.table.SnapshotLog(spark, cfg.rollupPath(r.name))
        new graft.table.DerivedAggregate(base, derived, r.key, r.aggs).refresh()
        // every fold lands ~one small file; keep the derived table
        // bin-packed with the incremental pass (O(backlog), no-op when
        // fewer than two undersized files exist)
        if (derived.currentVersion() > 0) derived.compactSmall()
      }
    }
}
