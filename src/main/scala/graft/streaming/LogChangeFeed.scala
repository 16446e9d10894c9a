package graft.streaming

import graft.table.SnapshotLog
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.functions.{col, count, countDistinct, lit, pmod}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Structured Streaming SOURCE over a [[SnapshotLog]] table's change
  * feed — `spark.readStream.format(...).option("path", table).load()`
  * turns every committed append into a micro-batch, the way production
  * table formats expose CDF streaming reads. Downstream incremental
  * consumers (cross-run dedup, a continuously-training ingest job, the
  * [[graft.table.LogMirror]] replication shape) become ordinary
  * streaming queries with checkpointed progress instead of hand-rolled
  * cursor loops.
  *
  * Offsets ARE log versions: the latest offset is the table's current
  * version, and the micro-batch over `(start, end]` runs
  * [[SnapshotLog.feedPlan]], the plan the batch
  * [[SnapshotLog.readChanges]] (insert feed) and
  * [[SnapshotLog.readChangeRows]] (row-level feed) read — appended files
  * by name, O(new data) per batch, never O(table). Version-as-offset makes
  * recovery exact: after a crash the engine replays `(checkpointed,
  * current]` and immutable delta files reproduce the batch bit-for-bit.
  * The [[SnapshotLog.vacuum]] version horizon bounds how far behind a
  * checkpoint may fall — the CDF retention contract.
  *
  * Change-commit policy (the insert-only feed contract): row-preserving
  * rewrites (`compact`/`cluster`/`zorder`) ship nothing and are skipped
  * silently; commits that can remove rows the consumer already holds
  * (`delete`/`merge`/`delete_keys`, and `restore` — a rollback past an
  * append un-commits that append's rows) FAIL the stream by default —
  * silently skipping them would let a consumer believe it saw every
  * change. Opting in with `option("skipChangeCommits", "true")` streams
  * past them (the downstream owns reconciliation), mirroring production
  * CDF readers.
  *
  * Rate limiting (`maxVersionsPerTrigger` / `maxFilesPerTrigger`): a
  * stream started against a long-lived table would otherwise take the
  * whole history as ONE micro-batch. The caps bound each trigger's
  * admission (always at least one version), which with
  * `Trigger.AvailableNow` gives the production backfill shape: drain
  * the backlog in bounded batches, checkpoint after each, stop.
  *
  * The schema is pinned at stream start (the engine's contract);
  * widening evolution mid-stream is invisible until restart — each
  * batch projects onto the pinned columns, which widening-only
  * evolution guarantees still exist.
  *
  * Implemented on the DSv2 streaming tier ([[LogMicroBatchStream]]:
  * `MicroBatchStream` + `SupportsAdmissionControl`) — each micro-batch
  * plans as Spark's own vectorized parquet partitions over the files
  * the versions in range added ([[SnapshotLog.feedPlan]]), retiring the
  * former V1 `Source`'s internal streaming-frame bridge.
  *
  * This table is the `format("graft-log-changes")` face; the
  * `MICRO_BATCH_READ` capability routes the engine to
  * [[LogMicroBatchStream]], and the schema is the table's committed
  * schema pinned at stream start (plus `_change_type`/`_commit_version`
  * in row-level CDC mode) — the same contract the V1 source declared. */
private[graft] final class LogFeedTable(spark: SparkSession,
    tableDir: String, pinned: StructType,
    options: CaseInsensitiveStringMap)
    extends org.apache.spark.sql.connector.catalog.Table
    with org.apache.spark.sql.connector.catalog.SupportsRead {
  import org.apache.spark.sql.connector.catalog.TableCapability
  import org.apache.spark.sql.connector.read.{Scan, ScanBuilder}

  override def name(): String = s"graft-log-changes(`$tableDir`)"
  override def schema(): StructType = pinned
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(
      scanOptions: CaseInsensitiveStringMap): ScanBuilder = {
    // readStream options arrive both here and at getTable — prefer the
    // scan's copy (it is what the engine recorded for this query)
    val opts = if (scanOptions.isEmpty) options else scanOptions
    () => new Scan {
      override def readSchema(): StructType = pinned
      override def description(): String = name()
      override def toMicroBatchStream(
          checkpointLocation: String): MicroBatchStream =
        LogChangeFeed.stream(spark, tableDir, pinned, opts, checkpointLocation)
    }
  }
}

/** `readStream.format("graft-log-changes")` — the DSv2 provider
  * (TableProvider replaced the former V1 StreamSourceProvider; the
  * short name and every option are unchanged, and offsets still
  * serialize as bare versions, so existing checkpoints keep working). */
class LogChangeFeedProvider
    extends org.apache.spark.sql.connector.catalog.TableProvider
    with DataSourceRegister {
  override def shortName(): String = "graft-log-changes"

  // the feed's schema IS the table's committed schema — a user-supplied
  // .schema(...) is rejected by Spark itself (supportsExternalMetadata
  // stays false)
  override def inferSchema(
      options: CaseInsensitiveStringMap): StructType = {
    val spark = SparkSession.active
    LogChangeFeed.streamSchema(spark, LogChangeFeed.path(options),
      LogChangeFeed.flag(options, "readChangeFeed"))
  }

  override def getTable(schema: StructType,
      partitioning: Array[org.apache.spark.sql.connector.expressions.Transform],
      properties: java.util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.Table = {
    require(partitioning.isEmpty,
      "the change feed is read-only — partitioning is declared on the table")
    val opts = new CaseInsensitiveStringMap(properties)
    new LogFeedTable(SparkSession.active, LogChangeFeed.path(opts),
      schema, opts)
  }
}

object LogChangeFeed {

  /** Resolve `startingVersion='latest'` exactly once per checkpoint:
    * the first start writes the head version to
    * `<metadataPath>/graft-starting-version` (create-if-absent — a
    * racing twin reads the winner's value); every later construction,
    * including batch-0 recovery after a crash, reads the SAME bound.
    * A source built without a metadata path (tests driving the class
    * directly) just resolves fresh. */
  private[streaming] def resolveLatestOnce(spark: SparkSession,
      metadataPath: String, head: () => Long): Long = {
    if (metadataPath.isEmpty) return head()
    val p = new org.apache.hadoop.fs.Path(metadataPath, "graft-starting-version")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) {
      val resolved = head()
      try {
        val out = fs.create(p, false) // no overwrite: first writer wins
        try out.write(resolved.toString.getBytes("UTF-8"))
        finally out.close()
      } catch { case _: java.io.IOException => () } // lost the race: read below
    }
    val in = fs.open(p)
    try new String(
      org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
      .trim.toLong
    finally in.close()
  }

  private[streaming] def path(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("option 'path' (the log table dir) is required"))

  private[graft] def flag(options: CaseInsensitiveStringMap, key: String): Boolean =
    Option(options.get(key)).exists(_.toBoolean)

  /** The feed stream a scan runs — the `graft-log-changes` table's and
    * the catalog table's `readStream.table` face alike — built from its
    * read options: `skipChangeCommits`, `readChangeFeed`, `fourTypeCdc`,
    * `maxVersionsPerTrigger`, `maxFilesPerTrigger`, `startingVersion`. */
  private[graft] def stream(spark: SparkSession, tableDir: String,
      pinned: StructType, options: CaseInsensitiveStringMap,
      checkpointLocation: String): LogMicroBatchStream = {
    def num(k: String) = Option(options.get(k)).map(_.toLong).getOrElse(0L)
    new LogMicroBatchStream(spark, tableDir, pinned,
      skipChangeCommits = flag(options, "skipChangeCommits"),
      readChangeFeed = flag(options, "readChangeFeed"),
      fourTypeCdc = flag(options, "fourTypeCdc"),
      maxVersionsPerTrigger = num("maxVersionsPerTrigger"),
      maxFilesPerTrigger = num("maxFilesPerTrigger"),
      startingVersion0 = Option(options.get("startingVersion")).getOrElse(""),
      checkpointLocation = checkpointLocation)
  }

  /** The table's committed read schema (requires >= 1 version). */
  private[streaming] def tableSchema(spark: SparkSession, tableDir: String): StructType = {
    val log = SnapshotLog(spark, tableDir)
    require(log.currentVersion() > 0,
      s"$tableDir has no committed version to stream from")
    log.read().schema
  }

  /** The stream's pinned schema: the table's committed columns, plus
    * `_change_type`/`_commit_version` in row-level CDC mode. */
  private[streaming] def streamSchema(spark: SparkSession, tableDir: String,
      readChangeFeed: Boolean): StructType =
    SnapshotLog.feedSchema(tableSchema(spark, tableDir), readChangeFeed)

  /** `readStream` over `tableDir`'s change feed — the reader-side
    * convenience mirroring [[SnapshotLog.readChanges]] (insert feed)
    * or, with `readChangeFeed = true`, [[SnapshotLog.readChangeRows]]
    * (row-level CDC: micro-batches carry `_change_type` and
    * `_commit_version`, deletes included). */
  def readChangesStream(spark: SparkSession, tableDir: String,
      skipChangeCommits: Boolean = false,
      readChangeFeed: Boolean = false,
      fourTypeCdc: Boolean = false,
      maxVersionsPerTrigger: Long = 0L,
      maxFilesPerTrigger: Long = 0L): DataFrame =
    spark.readStream
      .format(classOf[LogChangeFeedProvider].getName)
      .option("path", tableDir)
      .option("skipChangeCommits", skipChangeCommits.toString)
      .option("readChangeFeed", readChangeFeed.toString)
      .option("fourTypeCdc", fourTypeCdc.toString)
      .option("maxVersionsPerTrigger", maxVersionsPerTrigger.toString)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .load()

  /** Once-per-JVM feed fixture for [[evLogChangefeed]]: the events
    * table committed as THREE appends (split on `user_id % 3`) with a
    * compaction between the second and third — so the graded stream
    * crosses a multi-version history including a rewrite that must
    * ship nothing. Memoized like the q29–q31 log fixtures: the table
    * build is one-time; the graded query is the feed read. */
  private val feedFixtures =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def eventsFeedTable(spark: SparkSession, dir: String): String =
    feedFixtures.computeIfAbsent(dir, _ => {
      val table = java.nio.file.Files
        .createTempDirectory("graft-feed-events-").resolve("t").toString
      val events = graft.ops.Relational.events(spark, dir)
      val log = SnapshotLog(spark, table)
      (0 until 3).foreach { slice =>
        log.append(events.where(pmod(col("user_id"), lit(3L)) === slice))
        if (slice == 1) log.rewrite("compact")(_.coalesce(1))
      }
      table
    })

  /** Graded entry: per-type event stats computed by STREAMING the log
    * table's change feed — three appended versions arrive as
    * micro-batches (the mid-history compaction ships nothing), so the
    * feed's exactly-once file accounting is what the oracle hash-checks:
    * a missed version, a double-shipped file, or a rewrite leaking into
    * the feed all change the counts. Oracle: the same aggregate over the
    * plain events table (the three slices partition it). */
  def evLogChangefeed(spark: SparkSession, dir: String): DataFrame = {
    val table = eventsFeedTable(spark, dir)
    val name = "ev_log_changefeed_sink"
    spark.catalog.dropTempView(name)
    EventStreams.withScratchCheckpoint { ckpt =>
      val q = readChangesStream(spark, table).writeStream
        .outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    spark.table(name)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("event_type"))
  }

  /** Graded entry: the same per-type event stats computed by streaming
    * the feed table through its CATALOG face — `readStream.table(...)`
    * over the DSv2 micro-batch stream (the table path, vs
    * [[evLogChangefeed]]'s provider-format path): same three-append +
    * mid-history-compaction fixture, same exactly-once accounting the
    * oracle hash-checks — and the steady-state batches pass through the
    * vectorized parquet partitions UNPROJECTED (identity groups). */
  def evLogStreamTable(spark: SparkSession, dir: String): DataFrame = {
    val table = eventsFeedTable(spark, dir)
    val root = new java.io.File(table).getParent
    spark.conf.set("spark.sql.catalog.graft_feed_cat",
      classOf[graft.table.GraftTableCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_feed_cat.root", root)
    val name = "ev_log_stream_table_sink"
    spark.catalog.dropTempView(name)
    EventStreams.withScratchCheckpoint { ckpt =>
      val q = spark.readStream.table("graft_feed_cat.t").writeStream
        .outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    spark.table(name)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("event_type"))
  }

  def evLogStreamTableOracle: String = evLogChangefeedOracle

  def evLogChangefeedOracle: String =
    """SELECT event_type, count(*) AS n_events,
      |       count(DISTINCT user_id) AS n_users
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** Graded entry: the full LOG-TO-LOG streaming pipeline — the events
    * feed table streams out through the change-feed SOURCE and lands in
    * a second log table through the `graft-log` SINK
    * ([[LogStreamSink]]), each micro-batch one transactional commit
    * under the engine's (queryId, batchId) exactly-once watermark; the
    * aggregate is then computed from the DESTINATION table at rest.
    * What the oracle hash-checks is the whole pipeline's delivery
    * accounting: a dropped batch, a replayed commit, or a sink-side
    * partial write all change the counts. */
  def evLogSinkPipeline(spark: SparkSession, dir: String): DataFrame = {
    val table = eventsFeedTable(spark, dir)
    val dst = feedFixtures.computeIfAbsent(s"sinkdst:$dir", _ => {
      val out = java.nio.file.Files
        .createTempDirectory("graft-feed-sinkdst-").resolve("t").toString
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft-feed-sinkckpt-").toString
      val q = readChangesStream(spark, table).writeStream
        .format("graft-log")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      out
    })
    SnapshotLog(spark, dst).read()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("event_type"))
  }

  def evLogSinkPipelineOracle: String = evLogChangefeedOracle

  /** Once-per-JVM CDC feed fixture for [[evLogChangefeedCdc]]: a
    * CHANGE-FEED events table — two appends, a copy-on-write delete of
    * every 'error' row so far, then a THIRD append that re-introduces
    * 'error' rows. The graded stream must ship the delete images
    * between the surrounding inserts; netting them out is what the
    * oracle checks. */
  private def eventsCdcTable(spark: SparkSession, dir: String): String =
    feedFixtures.computeIfAbsent(s"cdc:$dir", _ => {
      val table = java.nio.file.Files
        .createTempDirectory("graft-feed-cdc-").resolve("t").toString
      val events = graft.ops.Relational.events(spark, dir)
      val log = SnapshotLog.withChangeFeed(spark, table)
      log.append(events.where(pmod(col("user_id"), lit(3L)) === 0))
      log.append(events.where(pmod(col("user_id"), lit(3L)) === 1))
      log.deleteWhere(("event_type", "error", "error"))
      log.append(events.where(pmod(col("user_id"), lit(3L)) === 2))
      table
    })

  /** Graded entry: the ROW-LEVEL change feed streamed end-to-end
    * (`readChangeFeed = true`) over an append → append → delete →
    * append history, netted per event type: +1/+value per insert image,
    * −1/−value per delete image. The net must equal a plain aggregate
    * of the SURVIVING rows — a missed delete image, a double-shipped
    * file, an image for a row never inserted, or the deleted group's
    * net failing to cancel all hash-mismatch. The 'error' group's net
    * comes out as exactly the third append's rows (deleted history
    * cancelled), pinning insert/delete pairing across an interleaved
    * history, not just totals. Sum rides a decimal so the netting is
    * order-independent. */
  def evLogChangefeedCdc(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{sum, when}
    val table = eventsCdcTable(spark, dir)
    val name = "ev_log_changefeed_cdc_sink"
    spark.catalog.dropTempView(name)
    EventStreams.withScratchCheckpoint { ckpt =>
      val q = readChangesStream(spark, table, readChangeFeed = true).writeStream
        .outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    val sign = when(col("_change_type") === "insert", 1L).otherwise(-1L)
    val signedValue = when(col("_change_type") === "insert",
      col("value").cast("decimal(28,6)"))
      .otherwise(-col("value").cast("decimal(28,6)"))
    spark.table(name)
      .groupBy(col("event_type"))
      .agg(sum(sign).as("n_events"),
        sum(signedValue).cast("double").as("sum_value"))
      .where(col("n_events") > 0)
      .orderBy(col("event_type"))
  }

  def evLogChangefeedCdcOracle: String =
    """SELECT event_type, count(*) AS n_events,
      |       CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
      |FROM events
      |WHERE NOT (event_type = 'error' AND (user_id % 3) IN (0, 1))
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin
}
