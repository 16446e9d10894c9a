package graft.streaming

import graft.table.{FeedFrame, FeedGroup, SnapshotLog}
import org.apache.spark.sql.{GraftBridge, GraftWriteBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.vectorized.ColumnarBatch

/** A [[SnapshotLog]] version as a streaming offset — offsets ARE log
  * versions, so recovery is exact: after a crash the engine replays
  * `(checkpointed, current]` and immutable delta files reproduce the
  * batch bit-for-bit. Serializes as the bare number (the same JSON the
  * V1 LongOffset wrote, so existing checkpoints keep resuming). */
private[graft] final case class LogStreamOffset(version: Long) extends Offset {
  override def json(): String = version.toString
}

/** The DSv2 MICRO-BATCH source over a [[SnapshotLog]] table's change
  * feed — the `MicroBatchStream` port of the former V1 `Source`:
  * `latestOffset` reports the table's current version (capped by the
  * admission-control rate limits), and `planInputPartitions(start, end)`
  * plans the files the versions in `(start, end]` added as Spark's own
  * vectorized parquet partitions from [[SnapshotLog.feedPlan]] — the
  * plan the batch readers read — with no driver-planned DataFrame and no
  * internal-API streaming-frame bridge.
  * The steady-state insert feed (current-epoch files, no CDC columns)
  * passes the columnar batches through UNPROJECTED; rename-epoch files
  * and CDC image rows go through a per-group bound projection (field-id
  * alignment, constant `_change_type`/`_commit_version`, per-row
  * four-type re-typing).
  *
  * Change-commit policy, rate limiting (`maxVersionsPerTrigger` /
  * `maxFilesPerTrigger` behind [[SupportsAdmissionControl]]) and
  * `startingVersion` ('latest' resolved ONCE and persisted under the
  * stream's checkpoint) carry over from the V1 source unchanged —
  * see [[LogChangeFeed]] for the contracts. */
private[graft] final class LogMicroBatchStream(spark: SparkSession,
    tableDir: String,
    pinned: StructType,
    skipChangeCommits: Boolean,
    readChangeFeed: Boolean,
    fourTypeCdc: Boolean,
    maxVersionsPerTrigger: Long,
    maxFilesPerTrigger: Long,
    startingVersion0: String,
    checkpointLocation: String)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow
    with org.apache.spark.sql.connector.read.streaming.ReportsSourceMetrics {
  require(maxVersionsPerTrigger >= 0 && maxFilesPerTrigger >= 0,
    "rate limits must be positive (0 = unlimited)")
  require(!fourTypeCdc || readChangeFeed,
    "fourTypeCdc re-types the ROW-LEVEL feed's merge images — it " +
      "requires readChangeFeed=true")
  require(!(skipChangeCommits && readChangeFeed),
    "skipChangeCommits and readChangeFeed are mutually exclusive: the " +
      "row-level feed's contract is completeness — a skipped removal " +
      "would be a silent hole in it")

  // ONE handle for the stream's lifetime: the segment/manifest caches
  // live on the handle, and a per-trigger `def` would re-GET and
  // re-parse every manifest segment of a segmented table per trigger
  private val log = SnapshotLog(spark, tableDir)

  /** Where a FRESH stream starts, as the EXCLUSIVE lower bound of the
    * first batch — same resolution rules as the V1 source: 0 (full
    * history) by default; `startingVersion = N` ships N and later
    * (inclusive — the Delta contract); `'latest'` resolves ONCE and
    * persists under the checkpoint ([[LogChangeFeed.resolveLatestOnce]])
    * so a crash before batch 0's offset write re-reads the SAME bound
    * instead of re-resolving against a moved head. */
  private val startVersion: Long =
    if (startingVersion0.isEmpty) 0L
    else if (startingVersion0.equalsIgnoreCase("latest"))
      LogChangeFeed.resolveLatestOnce(spark, checkpointLocation,
        () => log.currentVersion())
    else {
      val n = startingVersion0.toLong
      val head = log.currentVersion()
      require(n >= 1 && n <= head + 1,
        s"startingVersion $n is outside $tableDir's history " +
          s"(versions 1..$head; ${head + 1} = only future commits)")
      n - 1 // inclusive-of-N contract; offsets are exclusive bounds
    }

  /** Test seam: the resolved exclusive start bound (what a batch-0
    * recovery replays from). */
  private[graft] def resolvedStartVersion: Long = startVersion

  private def versionOf(o: Offset): Long = o match {
    case l: LogStreamOffset => l.version
    case other              => other.json.trim.toLong
  }

  override def initialOffset(): Offset = LogStreamOffset(startVersion)

  override def deserializeOffset(json: String): Offset =
    LogStreamOffset(json.trim.toLong)

  override def latestOffset(): Offset = throw new UnsupportedOperationException(
    "latestOffset(Offset, ReadLimit) should be called instead of this method")

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  /** Native `Trigger.AvailableNow`: pin the drain target to the head
    * version AT QUERY START, so the stream stops there even while
    * writers keep committing — and, unlike the engine's generic
    * wrapper (whose `latestOffset` returns the pre-fetched offset,
    * DISCARDING admission control), the rate limits below keep
    * applying per trigger: a capped backfill genuinely drains in
    * bounded, individually-checkpointed batches and stops. */
  @volatile private var availableNowCap: Long = -1L
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = log.currentVersion()

  /** ADMISSION CONTROL for backfills: a stream started against a
    * long-lived table would otherwise take the ENTIRE history as one
    * micro-batch (version-ranged offsets). Cap the reported offset so
    * each trigger admits at most maxVersionsPerTrigger versions /
    * maxFilesPerTrigger delta files — always at least ONE version, or a
    * single over-cap commit could never be admitted. One manifest walk
    * per trigger, control-plane sized. */
  // per-trigger admission tallies, surfaced through ReportsSourceMetrics.
  // Capped triggers count them during their admission walk; the
  // unlimited path derives versions arithmetically and reports files
  // as -1 (not counted) rather than walk the manifests just for a metric
  @volatile private var lastAdmittedVersions = 0L
  @volatile private var lastAdmittedFiles = 0L
  @volatile private var lastBacklogVersions = 0L

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val head = log.currentVersion()
    val v = if (availableNowCap >= 0) math.min(head, availableNowCap) else head
    val from = math.min(math.max(versionOf(start), startVersion), v)
    if (from >= v) {
      lastAdmittedVersions = 0L; lastAdmittedFiles = 0L
      // backlog = what THIS stream still intends to admit: under an
      // AvailableNow cap, versions past the cap are out of scope and
      // must not read as lag
      lastBacklogVersions = math.max(v - from, 0L)
      return LogStreamOffset(from)
    }
    val end =
      if (maxVersionsPerTrigger <= 0 && maxFilesPerTrigger <= 0) {
        // unlimited admission takes the whole range — no manifest walk
        // at all on this path; the file tally is only known to capped
        // triggers (-1 = not counted), keeping the default path's
        // latestOffset O(1)
        lastAdmittedVersions = v - from
        lastAdmittedFiles = -1L
        v
      } else {
        val deltas = log.changes(from, v)
        var admitted = 0L
        var files = 0L
        var e = from
        deltas.iterator.takeWhile { d =>
          val fits = admitted == 0 ||
            ((maxVersionsPerTrigger <= 0 || admitted < maxVersionsPerTrigger) &&
              (maxFilesPerTrigger <= 0 || files + d.addedFiles.size <= maxFilesPerTrigger))
          if (fits) { admitted += 1; files += d.addedFiles.size; e = d.version }
          fits
        }.foreach(_ => ())
        lastAdmittedVersions = admitted
        lastAdmittedFiles = files
        e
      }
    lastBacklogVersions = math.max(v - end, 0L)
    LogStreamOffset(end)
  }

  /** [[org.apache.spark.sql.connector.read.streaming.ReportsSourceMetrics]]:
    * what the last trigger admitted (versions, delta files; -1 files =
    * not counted, the unlimited path) and the backlog still unadmitted
    * behind it (clamped to the AvailableNow cap when set — out-of-scope
    * versions are not lag) — the numbers an operator needs to size
    * `maxVersionsPerTrigger`/`maxFilesPerTrigger` against lag,
    * surfaced in each progress event's `sources[].metrics`. */
  override def metrics(latestConsumedOffset: java.util.Optional[Offset])
      : java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    m.put("versionsAdmitted", lastAdmittedVersions.toString)
    m.put("filesAdmitted", lastAdmittedFiles.toString)
    m.put("backlogVersions", lastBacklogVersions.toString)
    m
  }

  /** Each partition CARRIES its group's delegate factory and bound
    * projection, so [[createReaderFactory]] is stateless — no
    * plan→factory mutable handoff depending on the engine calling
    * `planInputPartitions` then `createReaderFactory` in order per
    * micro-batch (true under today's single-threaded driver loop, but
    * nothing here breaks if that ever changes). Whether columnar reads
    * are allowed must still be ONE answer per scan exec (Spark's
    * contract), so the batch-wide all-identity verdict is stamped onto
    * every partition. */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val groups = log.feedPlan(versionOf(start), versionOf(end), pinned,
      readChangeFeed, fourTypeCdc, skipChangeCommits).flatMap {
      case g: FeedGroup => Seq(g)
      case f: FeedFrame => spill(f)
    }
    val planned = groups.map { g =>
      val batch = GraftBridge.parquetBatchScan(spark, g.paths,
        g.dataSchema, g.dataSchema, Array.empty).toBatch
      val projection = g.outs.map(outs =>
        GraftWriteBridge.boundExprs(spark, g.dataSchema, outs))
      (batch, batch.createReaderFactory(), projection)
    }
    val allIdentity = planned.forall(_._3.isEmpty)
    planned.flatMap { case (batch, factory, projection) =>
      batch.planInputPartitions().map(p =>
        new ProjectedGroupPartition(p, factory, projection,
          allIdentity): InputPartition)
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GroupProjectingFactory

  /** Scratch for the plan's composed parts ([[FeedFrame]]: a
    * truncate/overwrite pre-image over a debt-carrying parent; four-type
    * re-typing of pre-pair-tag merge images): each is spilled here once
    * per version and kind, and its files plan like any other group.
    * Per-source checkpoint path → unique per stream, deterministic
    * across restarts, swept on [[commit]]. */
  private val spillDir = s"$checkpointLocation/graft-spill"

  /** Write `f` ONCE under [[spillDir]] and plan its files. The path is
    * deterministic per (version, kind); the engine may plan the same
    * batch more than once (the sink's execution re-plans the scan), so
    * the spill is write-once with stable file names — a second write's
    * fresh part names would invalidate the first plan's partitions
    * mid-read: write to a tmp dir and rename into place; a loser (or a
    * later re-plan, or a restart) reuses the winner's files, which are
    * row-identical by determinism of reads over immutable versions. The
    * checkpoint may sit on another filesystem than the table (table on
    * s3a://, checkpoint on file:/ or hdfs://), so the handle resolves
    * from the spill path itself. */
  private def spill(f: FeedFrame): Seq[FeedGroup] = {
    import org.apache.hadoop.fs.Path
    val dir = new Path(s"$spillDir/v${f.version}-${f.kind}")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(dir, "_SUCCESS"))) {
      if (fs.exists(dir)) fs.delete(dir, true) // crashed partial spill
      val tmp = new Path(
        s"$spillDir/.tmp-v${f.version}-${f.kind}-${java.util.UUID.randomUUID()}")
      f.df.write.parquet(tmp.toString)
      if (!fs.rename(tmp, dir)) fs.delete(tmp, true)
    }
    val files = fs.listStatus(dir).toSeq.map(_.getPath.toString)
      .filter(_.endsWith(".parquet"))
    if (files.isEmpty) Nil
    else Seq(FeedGroup(files, f.df.schema,
      Some(f.df.schema.fieldNames.toSeq.map(org.apache.spark.sql.functions.col))))
  }

  /** Retention = the vacuum horizon; the only per-commit bookkeeping is
    * sweeping spill scratch for versions at or below the committed end
    * (the engine never replays a committed batch, so those spills are
    * dead). Best-effort — a missed sweep is re-swept next commit. */
  override def commit(end: Offset): Unit = {
    val v = versionOf(end)
    try {
      val dir = new org.apache.hadoop.fs.Path(spillDir)
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(dir)) fs.listStatus(dir).foreach { st =>
        val n = st.getPath.getName // v<version>-<kind>
        if (n.startsWith("v"))
          scala.util.Try(n.drop(1).takeWhile(_.isDigit).toLong).toOption
            .filter(_ <= v).foreach(_ => fs.delete(st.getPath, true))
      }
    } catch { case _: Exception => () }
  }

  override def stop(): Unit = ()

  override def toString: String = s"LogMicroBatchStream[$tableDir]"
}

/** A delegate parquet partition carrying its group's reader factory,
  * bound projection (None = identity), and the batch-wide columnar
  * verdict — everything the stateless [[GroupProjectingFactory]] needs,
  * shipped with the partition itself. */
private[graft] final class ProjectedGroupPartition(
    val delegate: InputPartition,
    val factory: PartitionReaderFactory,
    val projection: Option[Seq[Expression]],
    val columnarOk: Boolean) extends InputPartition {
  override def preferredLocations(): Array[String] =
    delegate.preferredLocations()
}

/** Stateless reader factory: dispatches each partition to the
  * vectorized parquet factory it carries; identity groups
  * (`projection = None`) pass columnar batches straight through,
  * projected groups read row-based and apply the group's bound
  * projection per row (codegen'd `UnsafeProjection`, built once per
  * partition on the executor). Columnar reads are reported only when
  * EVERY group in the batch is identity (the stamped `columnarOk`) —
  * Spark requires one mode per scan exec. */
private[graft] final class GroupProjectingFactory
    extends PartitionReaderFactory {

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val gp = p.asInstanceOf[ProjectedGroupPartition]
    val inner = gp.factory.createReader(gp.delegate)
    gp.projection match {
      case None => inner
      case Some(exprs) => new PartitionReader[InternalRow] {
        private val proj = UnsafeProjection.create(exprs)
        override def next(): Boolean = inner.next()
        override def get(): InternalRow = proj(inner.get())
        override def close(): Unit = inner.close()
      }
    }
  }

  override def createColumnarReader(p: InputPartition): PartitionReader[ColumnarBatch] = {
    val gp = p.asInstanceOf[ProjectedGroupPartition]
    gp.factory.createColumnarReader(gp.delegate)
  }

  override def supportColumnarReads(p: InputPartition): Boolean = {
    val gp = p.asInstanceOf[ProjectedGroupPartition]
    gp.columnarOk && gp.factory.supportColumnarReads(gp.delegate)
  }
}
