package graft.jobs

import graft.config.PipelineConfig
import graft.ledger.{RunLedger, RunRecord, RunState}
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

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
  * each iteration is one distributed Spark job — the append itself. The
  * run's schema is one driver-side footer read ([[rawRunDf]]), and the
  * promoted count is an Observation riding the append (the log commit's
  * own, or the directory append's).
  */
object PreparedLayerJob {
  val JobName = "prepared_layer_job"

  /** Promote one raw run. Returns the prepared-entry metrics. */
  def promote(spark: SparkSession, cfg: PipelineConfig, ledger: RunLedger,
      rawRecord: RunRecord): JobMetrics = {
    // The raw layer is Hive-partitioned on ETL_PART_KEY; basePath keeps
    // the partition column in the promoted rows. Partition discovery
    // would type-infer the all-digit run id (decimal(20,0)), and casting
    // back corrupts any non-canonical id (leading zeros: '00123'→'123',
    // silently diverging from the ledger's partition_key). Supplying the
    // schema explicitly — file schema from the run's own footers plus
    // `ETL_PART_KEY string` — bypasses inference entirely, so the run id
    // round-trips as the literal path string.
    // a run the ledger records with 0 rows landed no files: it promotes
    // as a defined no-op (nothing read, nothing appended, PREPARED
    // COMPLETED with 0), so an empty snapshot never blocks the runs
    // pending behind it. Any other run must still have its files — a
    // missing run directory throws and the run stays pending
    val rows = if (rawRecord.rawEntryCount == "0") 0L else {
      val df = rawRunDf(spark,
        s"${rawRecord.rawBucket}/${rawRecord.rawFolder}", rawRecord.partition_key)
      cfg.dedupColumn match {
        case Some(key) => promoteDeduped(spark, cfg, df, key, rawRecord.partition_key)
        case None if cfg.useLog =>
          // log-backed prepared layer: the run commits atomically, keyed
          // on its run id — a drain that crashed between this commit and
          // the ledger append below cannot re-append the run on rerun
          // (the txn watermark detects the replay); the bare directory
          // only gets at-least-once from the ledger's pending scan.
          // The committed snapshot already carries the exact staged row
          // count (its Observation rode the write) — no counting job; a
          // detected replay appended nothing and reports 0
          val log = graft.table.PreparedTable.log(spark, cfg)
          log.appendRun(df, runTxnKey(rawRecord.partition_key)) match {
            case Some(s) =>
              if (s.parent == 0) s.rows else s.rows - log.snapshot(s.parent).rows
            case None => 0L
          }
        case None =>
          // the count rides the append (as the raw write's does)
          val obs = new Observation(s"graft_promote_${java.util.UUID.randomUUID()}")
          df.observe(obs, count(lit(1)).as("rows")).write
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
    JobMetrics(rawRecord.partition_key, rows, cfg.preparedPath)
  }

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
  /** The `txns` idempotence token for one promotion run in the
    * log-backed prepared table. */
  private[graft] def runTxnKey(runId: String): String = s"promote:$runId"

  /** One raw run as the frame promotion appends: leaf-directory read
    * with the audit key re-materialized as a literal string column (see
    * the partition-inference note on [[promote]]).
    *
    * The file schema comes from ONE part-file footer read on the driver,
    * converted under the session's parquet conf — exactly what Spark's
    * own inference does with `mergeSchema` off (one footer, same
    * converter), minus the Spark job it launches to do it. The leaf
    * directory holds data columns only, and every file of a run comes
    * from one write, so any footer speaks for the run. A missing run
    * directory or one with no data file throws, as inference did. */
  private[graft] def rawRunDf(spark: SparkSession, rawTable: String,
      runId: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
    val rawPath = new org.apache.hadoop.fs.Path(s"$rawTable/ETL_PART_KEY=$runId")
    val conf = spark.sparkContext.hadoopConfiguration
    val f = RewriteSwap.dataFiles(rawPath.getFileSystem(conf), rawPath) // throws when missing
      .sortBy(_.getPath.getName).headOption.getOrElse(
        throw new java.io.FileNotFoundException(s"raw run $runId has no data file under $rawPath"))
    val footer = new org.apache.parquet.hadoop.Footer(f.getPath,
      ParquetFooterReader.readFooter(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf),
        org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS))
    val fileSchema = ParquetFileFormat.readSchemaFromFooter(footer,
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    spark.read.option("basePath", rawTable)
      .schema(org.apache.spark.sql.GraftBridge.asNullable(fileSchema)
        .add("ETL_PART_KEY", org.apache.spark.sql.types.StringType))
      .parquet(rawPath.toString)
  }

  private def promoteDeduped(spark: SparkSession, cfg: PipelineConfig,
      df: org.apache.spark.sql.DataFrame, key: String, runId: String): Long = {
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
