package graft.table

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.functions.{coalesce, col, count, lit, max, min, when}
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}

import java.util.UUID
import scala.jdk.CollectionConverters._

/** A data file's [min, max] for one stats column, as recorded in the
  * manifest. Numeric ranges compare as doubles, string ranges as text;
  * a column without a usable range for a file simply has no entry (the
  * file is then never pruned — absence is always safe). `nulls` is the
  * file's NULL count for the column when the footer recorded one, -1
  * when unknown (including manifests written before the field existed) —
  * metadata-only counting ([[SnapshotLog.countWhere]]) requires a KNOWN
  * zero, since min/max say nothing about NULL rows. */
final case class ColRange(numeric: Boolean, lo: String, hi: String,
    nulls: Long = -1L) {
  def intersects(qLo: Any, qHi: Any): Boolean =
    if (numeric)
      // exact decimal compare: integral stats are recorded as exact
      // longs, and a double compare would round a BIGINT min past 2^53
      // up across a query bound — unsoundly pruning a file that holds
      // matching rows
      BigDecimal(lo) <= ColRange.num(qHi) && BigDecimal(hi) >= ColRange.num(qLo)
    else {
      // compare under UTF8String's unsigned-byte order — the ordering
      // the footer stats were aggregated in and Spark's sort uses. Java
      // String.compareTo (UTF-16 code units) disagrees for supplementary
      // characters, which would make pruning unsound.
      import org.apache.spark.unsafe.types.UTF8String
      def u(s: String) = UTF8String.fromString(s)
      u(lo).compareTo(u(qHi.toString)) <= 0 && u(hi).compareTo(u(qLo.toString)) >= 0
    }

  /** True iff EVERY row of the file satisfies `column BETWEEN qLo AND
    * qHi`: the whole recorded [lo, hi] sits inside the query bounds AND
    * the file provably holds no NULLs for the column (a NULL row fails
    * BETWEEN, so an unknown null count forbids the metadata shortcut). */
  def containedIn(qLo: Any, qHi: Any): Boolean =
    nulls == 0L && {
      if (numeric)
        ColRange.num(qLo) <= BigDecimal(lo) && BigDecimal(hi) <= ColRange.num(qHi)
      else {
        import org.apache.spark.unsafe.types.UTF8String
        def u(s: String) = UTF8String.fromString(s)
        u(qLo.toString).compareTo(u(lo)) <= 0 && u(hi).compareTo(u(qHi.toString)) <= 0
      }
    }
}

object ColRange {
  /** A query bound in the unit the numeric footer stats are recorded
    * in: timestamps are epoch micros (parquet TIMESTAMP_MICROS), dates
    * epoch days (parquet DATE). Exact decimal arithmetic — integral
    * bounds never round, so a BIGINT beyond 2^53 compares correctly. */
  private[table] def num(a: Any): BigDecimal = a match {
    case n: java.lang.Long      => BigDecimal(n.longValue)
    case n: Integer             => BigDecimal(n.longValue)
    case n: java.lang.Short     => BigDecimal(n.longValue)
    case n: java.lang.Byte      => BigDecimal(n.longValue)
    case n: java.math.BigDecimal => BigDecimal(n)
    case n: BigDecimal          => n
    case n: Number              => BigDecimal(n.doubleValue)
    case t: java.sql.Timestamp  =>
      BigDecimal(t.toInstant.getEpochSecond) * 1000000 +
        t.toInstant.getNano / 1000
    case t: java.time.Instant   =>
      BigDecimal(t.getEpochSecond) * 1000000 + t.getNano / 1000
    case t: java.time.LocalDateTime => // TIMESTAMP_NTZ: timezone-less micros
      val i = t.toInstant(java.time.ZoneOffset.UTC)
      BigDecimal(i.getEpochSecond) * 1000000 + i.getNano / 1000
    case d: java.sql.Date       => BigDecimal(d.toLocalDate.toEpochDay)
    case d: java.time.LocalDate => BigDecimal(d.toEpochDay)
    case other                  => BigDecimal(other.toString)
  }
}

/** One committed table version: the complete live file set plus the
  * audit fields needed to verify and reason about it. `rows`/`bytes` are
  * totals for the whole snapshot, not deltas — a reader can verify any
  * version in isolation. `files` are names relative to the table's
  * `data/` directory; data files are immutable and never renamed after
  * commit, so a snapshot is valid for as long as its manifest exists.
  * `stats` maps file name → stats-column ranges for tables that declare
  * `statsColumns` — the planning-time pruning index. `schemaJson` is the
  * snapshot's merged read schema (Spark `StructType.json`); readers pass
  * it to the scan instead of inferring from footers. `txns` records the
  * highest committed batch id per streaming writer — the exactly-once
  * watermark [[SnapshotLog.appendStream]] checks on micro-batch replay.
  * `fileRows` maps file name → that file's exact row count (recorded
  * alongside `stats` from the same footer open) — the index that lets
  * [[SnapshotLog.countWhere]] answer counts over fully-contained files
  * without opening them. `blooms` maps file name → bloom column →
  * base64 [[FileBlooms]] filter — point-lookup skipping for tables that
  * declare `bloomColumns`. `fileBytes` maps file name → on-disk size —
  * what lets [[SnapshotLog.compactSmall]] pick its rewrite set without
  * a single file-status call. */
final case class Snapshot(version: Long, op: String, parent: Long,
    rows: Long, bytes: Long, files: Seq[String],
    stats: Map[String, Map[String, ColRange]] = Map.empty,
    schemaJson: String = "",
    txns: Map[String, Long] = Map.empty,
    tombstones: Seq[Tombstone] = Nil,
    fileRows: Map[String, Long] = Map.empty,
    blooms: Map[String, Map[String, String]] = Map.empty,
    fileBytes: Map[String, Long] = Map.empty,
    partitionSpec: Seq[PartitionField] = Nil,
    partitions: Map[String, Seq[String]] = Map.empty,
    sortOrder: Seq[String] = Nil,
    cdc: Boolean = false,
    changes: Option[ChangeSet] = None,
    priorSpecs: Seq[Seq[PartitionField]] = Nil,
    fileSpecIdx: Map[String, Int] = Map.empty,
    /** Positional DELETION VECTORS pending against live data files:
      * data file → the DV files (parquet, columns `_file` STRING /
      * `_pos` BIGINT) whose recorded row positions are deleted from it.
      * The merge-on-read twin of [[Tombstone]] for PREDICATE deletes:
      * a low-selectivity `deleteWhere` commits O(matched rows) of
      * positions instead of rewriting every straddling file
      * (Iceberg v2 positional deletes / Delta deletion vectors). Reads
      * apply them as ONE broadcast anti-join on
      * (`_metadata.file_path`, `_metadata.row_index`); rewrites of a
      * covered file MATERIALIZE its vector and drop the entry
      * ([[SnapshotLog.materializeDeletes]], [[SnapshotLog.compact]]).
      * `rows` stays EXACT-logical throughout (matched counts are known
      * at commit time — unlike key tombstones, which defer the count).
      * A file may accumulate several DV files across deletes; positions
      * are disjoint by construction (each delete matches against the
      * prior-DV-applied read). O(covered files) manifest entries,
      * bounded by maintenance exactly like the tombstone set. */
    dvs: Map[String, Seq[String]] = Map.empty,
    /** Schema EPOCH history for field-id column renames
      * ([[SnapshotLog.renameColumn]]) — the schema-evolution twin of
      * `priorSpecs`/`fileSpecIdx`: every pre-rename schema is retained
      * (JSON, fields tagged with stable ids in metadata key
      * [[SnapshotLog.FidKey]]), and each file written under an older
      * epoch is tagged with an ABSOLUTE index into
      * `priorSchemas :+ schemaJson`. Reads resolve a file's columns by
      * FIELD ID against the current schema (old files keep resolving
      * after any chain of renames); absence from the index means
      * current-epoch (the steady state — rewrites re-stage under
      * current names and drop their tags, so the debt drains through
      * normal maintenance). */
    priorSchemas: Seq[String] = Nil,
    fileSchemaIdx: Map[String, Int] = Map.empty,
    /** Commit wall-clock (epoch millis) — STAMPED AT SERIALIZATION
      * ([[SnapshotLog]] `manifestCommon`), so it is populated on every
      * snapshot PARSED from a committed manifest and 0 on the
      * pre-commit value a commit call returns (re-read to observe it).
      * Powers `TIMESTAMP AS OF` ([[SnapshotLog.versionAt]]); 0 on
      * manifests committed before the field existed. */
    ts: Long = 0L) {

  /** The spec `file`'s recorded partition tuple was WRITTEN under —
    * spec evolution ([[SnapshotLog.evolvePartitionSpec]]) keeps every
    * historical spec and tags each file with an ABSOLUTE index into
    * `priorSpecs :+ partitionSpec`, so old files keep pruning by the
    * transforms that produced their tuples while new files prune by the
    * current spec. A file absent from the index is current-spec (the
    * steady state: evolution materializes explicit indices once, new
    * files never need one). */
  private[table] def specOf(file: String): Seq[PartitionField] = {
    val idx = fileSpecIdx.getOrElse(file, priorSpecs.length)
    if (idx >= priorSpecs.length) partitionSpec else priorSpecs(idx)
  }

  /** The schema epoch `file` was WRITTEN under (absolute index into
    * `priorSchemas :+ schemaJson`); the current epoch when untagged. */
  private[table] def schemaIdxOf(file: String): Int =
    fileSchemaIdx.getOrElse(file, priorSchemas.length)

  /** Parsed epoch schemas, current last — memoized per Snapshot (parsed
    * at most once per handle per version). */
  @transient private[table] lazy val epochSchemas
      : IndexedSeq[org.apache.spark.sql.types.StructType] =
    (priorSchemas :+ schemaJson).map(j =>
      if (j.isEmpty) new org.apache.spark.sql.types.StructType()
      else org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType]).toIndexedSeq

  /** current-epoch name → the name that field had at epoch `idx`, via
    * stable field ids ([[SnapshotLog.fidOf]]); None when the field did
    * not exist yet (widened after `idx`). Identity for current-epoch. */
  @transient private[table] lazy val epochNameOf
      : IndexedSeq[Map[String, String]] = epochSchemas.map { epoch =>
    val cur = epochSchemas.last
    val byFid = epoch.fields.zipWithIndex.map { case (f, i) =>
      SnapshotLog.fidOf(f, i) -> f.name }.toMap
    cur.fields.zipWithIndex.flatMap { case (f, i) =>
      byFid.get(SnapshotLog.fidOf(f, i)).map(f.name -> _) }.toMap
  }

  /** The name `current` (a current-epoch column) was recorded under in
    * `file`'s footer/stats/partition plane — identity unless the column
    * was renamed after the file was written. */
  private[table] def writeName(file: String, current: String): String =
    epochNameOf(schemaIdxOf(file)).getOrElse(current, current)
}

/** One merge-on-read delete's key file ([[SnapshotLog.deleteKeys]]):
  * `file` holds the deleted key values for `column` (one row each,
  * under `column`'s name); `appliesTo` scopes the tombstone to the data
  * files live AT DELETE TIME, so a later append may re-insert a deleted
  * key without the old tombstone swallowing the new row — the same
  * sequencing rule as production equality deletes. O(files-at-delete)
  * manifest entries, the same order as the stats map. */
final case class Tombstone(file: String, column: String, appliesTo: Seq[String])

/** One version's contribution to the change feed ([[SnapshotLog.changes]]):
  * the committed op and the files this version added over its parent. */
final case class VersionDelta(version: Long, op: String, addedFiles: Seq[String])

/** One part of a change-feed plan ([[SnapshotLog.feedPlan]]), already
  * projected onto the feed's output columns. */
private[graft] sealed trait FeedPart

/** A file-granular part: `paths` read under `dataSchema` (Spark's own
  * vectorized parquet batch), then projected by `outs` onto the output.
  * `outs = None` marks the identity group — `dataSchema` IS the output,
  * so the stream's reader factory passes the columnar batches through
  * unprojected (the steady-state insert feed keeps whole-stage codegen
  * over vectorized reads). */
private[graft] final case class FeedGroup(paths: Seq[String],
    dataSchema: org.apache.spark.sql.types.StructType,
    outs: Option[Seq[Column]]) extends FeedPart

/** A composed part of version `version` that needs a join to
  * reconstruct; `kind` names it within the version ("pre" | "fourtype"),
  * so a stream spills it under a stable name. */
private[graft] final case class FeedFrame(version: Long, kind: String,
    df: DataFrame) extends FeedPart

/** One [lo, hi] predicate of a copy-on-write delete, serialized with a
  * type tag so [[LogMirror]] can REPLAY the delete on a replica
  * ([[SnapshotLog.deleteWhereTxn]]) — replaying the predicate prunes on
  * the replica's own stats/partitions, where shipping pre-image rows
  * would force a full-table anti-join. Only bound types a manifest can
  * round-trip exactly are encodable ([[ChangePred.encode]]); a delete
  * with an unencodable bound still records its row images, it just
  * can't be predicate-replayed. */
final case class ChangePred(column: String, tpe: String, lo: String, hi: String)

object ChangePred {
  /** Encode one predicate; None when the bound types don't round-trip
    * (caller degrades to rows-only CDC for the commit). */
  def encode(column: String, lo: Any, hi: Any): Option[ChangePred] = {
    def enc(a: Any): Option[(String, String)] = a match {
      case b: Boolean                => Some(("boolean", b.toString))
      case n @ (_: Byte | _: Short | _: Int | _: Long) =>
        Some(("long", n.asInstanceOf[Number].longValue().toString))
      case n @ (_: Float | _: Double) =>
        Some(("double", n.asInstanceOf[Number].doubleValue().toString))
      case d: BigDecimal             => Some(("decimal", d.toString))
      case d: java.math.BigDecimal   => Some(("decimal", d.toString))
      case s: String                 => Some(("string", s))
      case d: java.sql.Date          => Some(("date", d.toLocalDate.toString))
      case d: java.time.LocalDate    => Some(("date", d.toString))
      case t: java.sql.Timestamp     => Some(("timestamp", t.toInstant.toString))
      case t: java.time.Instant      => Some(("timestamp", t.toString))
      case _                         => None
    }
    for {
      (tl, l) <- enc(lo); (th, h) <- enc(hi) if tl == th
    } yield ChangePred(column, tl, l, h)
  }

  /** Decode back to the (column, lo, hi) shape [[SnapshotLog.deleteWhere]]
    * takes. Inverse of [[encode]] by construction. */
  def decode(p: ChangePred): (String, Any, Any) = {
    def dec(s: String): Any = p.tpe match {
      case "boolean"   => s.toBoolean
      case "long"      => s.toLong
      case "double"    => s.toDouble
      case "decimal"   => BigDecimal(s)
      case "string"    => s
      case "date"      => java.sql.Date.valueOf(java.time.LocalDate.parse(s))
      case "timestamp" => java.sql.Timestamp.from(java.time.Instant.parse(s))
      case other => throw new IllegalArgumentException(
        s"unknown ChangePred type tag '$other'")
    }
    (p.column, dec(p.lo), dec(p.hi))
  }
}

/** A row-removing version's recorded row-level changes (CDC images),
  * present only on tables created with `changeFeed = true` — the
  * opt-in that makes `delete`/`merge`/`delete_keys`/`update` commits consumable
  * by [[SnapshotLog.readChangeRows]], [[LogMirror]] and
  * [[DerivedAggregate]] instead of forcing a full resync (the
  * production CDF contract: pay a bounded extra write at commit time,
  * never an O(table) recompute downstream).
  *
  *  - `files` — parquet change files (table columns + `_change_type`
  *    = 'insert' | 'delete') holding the commit's row images;
  *  - `deletedDataFiles` — DATA files of the parent version every row
  *    of which was deleted: their pre-images ship BY REFERENCE (zero
  *    copy — a whole-partition delete records no new bytes at all);
  *  - `keyColumn` — [[SnapshotLog.mergeByKey]]'s key, so a replica can
  *    replay the merge as an upsert of the insert images;
  *  - `preds` — [[SnapshotLog.deleteWhere]]'s / [[SnapshotLog.updateWhere]]'s
  *    predicates when their bounds are manifest-encodable, for
  *    predicate replay on replicas (an update replays as predicates +
  *    its recorded post-images). */
final case class ChangeSet(files: Seq[String] = Nil,
    deletedDataFiles: Seq[String] = Nil,
    keyColumn: String = "", preds: Seq[ChangePred] = Nil,
    /** A GENERAL row predicate (deleteWhereExpr/updateWhereExpr) as
      * round-trippable SQL text — recorded when the expression renders
      * and re-parses (validated at commit); empty otherwise. What lets
      * [[LogMirror]] replay an expr delete/update on a replica instead
      * of refusing to the resync contract. */
    predSql: String = "")

/** One OVER-CAP `IN (SELECT ...)` / EXISTS / NOT IN conjunct of a
  * general DML predicate, executed as a JOIN against the materialized
  * key frame instead of a literal fold — the scale arm past
  * [[graft.table.SubqueryPred.MaxKeys]]: a 10M-key GDPR delete joins
  * (broadcast or shuffle, Spark's choice) rather than building a 10M-
  * literal predicate on the driver. `keys` is the DISTINCT,
  * locally-checkpointed key frame (checkpointed so the planner's
  * counting, staging and CDC passes see byte-identical keys); `values`
  * are the re-anchored left-side expressions, one per key column.
  * Polarity: `negated=false` → matched means key present;
  * `negated=true, nullCollapse=true` (NOT EXISTS) → matched means
  * absent, any left NULL counts as absent-by-coalesce; `negated=true,
  * nullCollapse=false` (single-column NOT IN, pre-checked null-free
  * key set) → matched means left non-NULL and absent.
  *
  * `potential=true` is the NOT IN "no potential match" form — ANSI
  * row-wise `(j*, v*) NOT IN keys` is TRUE iff NO key row POTENTIALLY
  * matches (per position past the `keyPrefix` equality columns: equal,
  * or EITHER side NULL), so matched = any-prefix-NULL OR no-potential-
  * match. Key rows here keep their NULLs (they wildcard); the first
  * `keyPrefix` columns are a decorrelated correlation-key prefix
  * compared by plain equality (the key list is prefix-null-filtered at
  * build). This one form is exact for every NOT IN arity — including
  * NULL-carrying key sets, where a NULL key row potentially matches
  * everything and the conjunct correctly matches nothing.
  *
  * The change feed cannot render a join as predicate SQL, so mirrors
  * degrade to rows-only images + the resync contract. */
final case class SemiTag(values: Seq[org.apache.spark.sql.Column],
    keys: DataFrame, negated: Boolean, nullCollapse: Boolean,
    potential: Boolean = false, keyPrefix: Int = 0)

/** One WHEN clause of a general merge ([[SnapshotLog.mergeClauses]]).
  * `cond` is evaluated over the JOINED row: target columns under their
  * own names, source columns under [[SnapshotLog.MergeSrcPrefix]]
  * (`None` = unconditional). `action` is `"update"` / `"delete"` (for
  * matched and not-matched-by-source clauses) or `"insert"` (for
  * not-matched clauses). `assigns` maps target column name →
  * expression over the joined row; update clauses keep unassigned
  * columns, insert clauses null-pad them. Clauses evaluate FIRST-WINS,
  * SQL MERGE's clause order semantics. */
final case class MergeWhen(cond: Option[Column], action: String,
    assigns: Seq[(String, Column)] = Nil)

/** One data file's metadata row inside a manifest SEGMENT — the unit
  * the segmented-manifest layout ([[SnapshotLog]] past
  * `InlineFileLimit` files) stores per-file state in. Immutable once
  * written; -1 marks an unrecorded rows/bytes value. */
private[table] final case class SegmentEntry(file: String, rows: Long,
    bytes: Long, stats: Map[String, ColRange], blooms: Map[String, String],
    partition: Seq[String], specIdx: Int = 0)

/** A commit lost the optimistic-concurrency race and cannot be safely
  * retried at this layer (rewrites — the table changed under the job).
  * Appends retry internally and only throw after exhausting attempts. */
final class CommitConflictException(msg: String) extends RuntimeException(msg)

/** Minimal transaction-log table format: the production commit protocol
  * that the verified-swap jobs ([[graft.jobs.RewriteSwap]]) stand in for
  * on a plain directory, implemented rather than named.
  *
  * The reference's prepared layer is an append-only bare prefix
  * (reference: glue src/prepared_layer_job.py:116-130): correct until a
  * maintenance job must REPLACE files, at which point a plain directory
  * offers only the rename dance with its documented crash window, and
  * planning a scan costs a full listing. A log-backed table fixes both
  * with one idea — the directory is not the table; the latest committed
  * manifest is:
  *
  * {{{
  * table/
  *   data/<uuid>-part-*.parquet   immutable, never renamed after commit
  *   _graft_log/v<20-digit>.json  one manifest per version: the LIVE file
  *                                set + total rows/bytes + parent + op
  * }}}
  *
  *  - '''Atomic commit, no swap window.''' A writer stages new data
  *    files (unique names — collisions impossible), then publishes a
  *    manifest at `v(current+1)` via an atomic create-if-absent. Either
  *    the manifest exists — commit happened, every file it names is
  *    already in place — or it doesn't and nothing changed. A crash at
  *    ANY point leaves only unreferenced files that [[vacuum]] sweeps;
  *    there is no state requiring recovery, vs RewriteSwap's
  *    bak-present/layer-absent repair matrix.
  *  - '''Optimistic concurrency.''' The manifest create is the CAS.
  *    Local FS: `Files.createLink` — POSIX `link(2)` fails atomically if
  *    the target exists ('''`FileSystem.rename` is NOT a CAS here''': on
  *    the local FS it maps to `rename(2)`, which silently replaces the
  *    destination). HDFS: contract rename, which fails on an existing
  *    destination. Object stores: conditional put (`If-None-Match: *`) —
  *    the one per-store seam, isolated in `atomicPublish`. Losers
  *    re-read and retry: appends always (they commute); row-preserving
  *    rewrites when everything that interleaved was an append (the
  *    appended files carry forward — [[commitReplacing]], the rule that
  *    keeps hours-long maintenance from being starved by ingestion);
  *    row-removing ops abort (their input no longer equals the table).
  *  - '''Time travel.''' Any retained version reads exactly as
  *    committed, because its files are immutable: `read(v)`.
  *  - '''Listing-free planning.''' A reader never lists `data/` — it
  *    reads ONE manifest. At 100 TB / millions of objects this replaces
  *    the object-store LIST crawl (the dominant planning cost on S3-like
  *    stores, and RewriteSwap's per-run `dataFiles` listing) with one
  *    GET.
  *  - '''Schema evolution.''' The merged read schema lives in the
  *    manifest; appends may add columns (widening-only — a type change
  *    aborts), and every version reads under ITS schema with older
  *    files supplying null for later columns, no `mergeSchema` footer
  *    crawl.
  *  - '''Exactly-once streaming ingestion.''' [[appendStream]] records
  *    the highest committed micro-batch id per writer in the manifest
  *    (the `txns` watermark), so `foreachBatch` replay after a stream
  *    restart commits nothing twice — the idempotence check rides the
  *    same CAS as the commit itself.
  *  - '''Manifest-level data skipping.''' Tables that declare
  *    `statsColumns` record each data file's column [min, max] in the
  *    manifest at commit time (lifted from the footers the write just
  *    produced), and [[readBetween]] prunes files BEFORE any of them
  *    opens — the query-time half of the clustering story
  *    ([[graft.jobs.LayoutJob]] makes per-file ranges disjoint; the
  *    manifest makes the skip decision free of listing AND footer
  *    reads).
  *
  * Maintenance composes cleanly: [[compact]] is a `coalesce` rewrite
  * committed as a `replace` manifest — readers of the old version are
  * undisturbed mid-compaction, and verification (rows written == rows
  * before, via an `Observation` on the write job itself) happens before
  * the commit, never after a destructive step, because there is no
  * destructive step.
  *
  * 100 TB notes: commits are O(1) data-wise (stage + one manifest);
  * manifests are O(live files) JSON — past ~10⁵ files production table
  * formats split them (Iceberg's avro manifest lists) and checkpoint the
  * log; the seam is confined to `snapshot`/`tryCommit`. Appends from N
  * concurrent writers serialize only on the manifest CAS (microseconds),
  * not on data writes. [[vacuum]] keeps a version horizon and a
  * modification-time grace so in-flight stages are never swept.
  */
final class SnapshotLog(spark: SparkSession, val tableDir: String,
    statsColumns: Seq[String] = Nil, store0: Option[CommitStore] = None,
    bloomColumns: Seq[String] = Nil,
    partitionBy: Seq[PartitionField] = Nil,
    sortBy: Seq[String] = Nil,
    changeFeed: Boolean = false,
    /** When set, this handle operates a BRANCH of the table
      * ([[SnapshotLog.createBranch]]): its manifests live under a
      * prefixed namespace (`b-<name>-v...`) in the SAME log dir, its
      * data files land in the SAME data dir (inert until referenced),
      * and every operation — append, delete, update, merge, compact,
      * time travel — works unchanged because the whole commit protocol
      * routes through the instance manifest namespace. Lifecycle verbs
      * (vacuum, tags, branch create/publish/drop) stay on the MAIN
      * handle, which owns shared-file liveness. */
    private[table] val branchName: Option[String] = None) {
  import SnapshotLog._

  /** The owning session, for jobs that compose transforms through this
    * log ([[graft.jobs.LayoutJob.zorderByLog]]). */
  private[graft] def session: SparkSession = spark

  // the metadata-maintenance column sets, handle-local: renameColumn
  // retargets them so stats/blooms staged AFTER a rename lift under the
  // new name (a stale handle would be sound — lookups translate through
  // write-time names — just unprunable for new files)
  private var statsCols: Seq[String] = statsColumns
  private var bloomCols: Seq[String] = bloomColumns
  private var sortCols: Seq[String] = sortBy

  private val root = new Path(tableDir)
  private val fs: FileSystem =
    root.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private val logDir = new Path(root, LogDirName)
  private[table] val dataDir = new Path(root, DataDirName)
  private val mapper = new ObjectMapper()

  /** All manifest I/O — the metadata plane — goes through this seam;
    * the default is the filesystem's own atomic create-if-absent, and
    * an object-store deployment swaps in a conditional-put store
    * ([[InMemoryCommitStore]] proves the contract in TableLogSpec). */
  private val store: CommitStore = store0.getOrElse(new FsCommitStore(fs, logDir))

  /** This handle's manifest-name prefix: `v` for the main chain, a
    * branch-scoped `b-<name>-v` otherwise — the ONE namespace seam the
    * whole branch feature rests on (every op already routes through
    * [[manifestName]] / [[ManifestRe]]). */
  private val manifestPrefix = branchName.fold("v")(b => s"b-$b-v")

  private def manifestName(v: Long) = f"$manifestPrefix$v%020d.json"

  /** Full-name matcher for THIS chain's manifests (a branch prefix
    * never matches the main regex and vice versa — the listing sites
    * are chain-isolated by construction). */
  private val ManifestRe =
    (java.util.regex.Pattern.quote(manifestPrefix) + """(\d{20})\.json""").r

  /** Parsed, immutable manifest SEGMENTS ([[writeSegment]]), cached for
    * the life of this handle — a segment file never changes once
    * written, so one GET per segment per process is the steady state. */
  private val segCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[SegmentEntry]]()

  /** version → its manifest's segment-name list (Nil for inline
    * manifests), populated on parse so the commit diff never re-reads
    * the parent manifest it just loaded. */
  private val segNamesCache =
    new java.util.concurrent.ConcurrentHashMap[Long, Seq[String]]()

  /** The segment-name list of `v`'s manifest (Nil when inline or
    * uncommitted). Falls back to a manifest read on cache miss — e.g.
    * a commit racing through a different handle. */
  private def segNamesOf(v: Long): Seq[String] =
    if (v <= 0) Nil
    else Option(segNamesCache.get(v)).getOrElse {
      store.get(manifestName(v)).map { bytes =>
        val node = mapper.readTree(bytes)
        val names = Option(node.get("segments")).map { sn =>
          (0 until sn.size()).map(sn.get(_).asText()).toSeq
        }.getOrElse(Nil)
        segNamesCache.put(v, names)
        names
      }.getOrElse(Nil)
    }

  /** Load one segment's entries (cached — segments are immutable). */
  private def segEntries(name: String): Seq[SegmentEntry] =
    segCache.computeIfAbsent(name, _ => {
      val bytes = store.get(name).getOrElse(throw new IllegalStateException(
        s"manifest segment $name of $tableDir is missing (vacuumed early?)"))
      val node = mapper.readTree(bytes)
      val en = node.get("entries")
      (0 until en.size()).map { i =>
        val e = en.get(i)
        val stats = Option(e.get("stats")).map { sn =>
          sn.properties().asScala.map { ce =>
            ce.getKey -> ColRange(ce.getValue.get("n").asBoolean(),
              ce.getValue.get("lo").asText(), ce.getValue.get("hi").asText(),
              Option(ce.getValue.get("z")).map(_.asLong()).getOrElse(-1L))
          }.toMap
        }.getOrElse(Map.empty[String, ColRange])
        val blooms = Option(e.get("bloom")).map { bn =>
          bn.properties().asScala.map(ce => ce.getKey -> ce.getValue.asText()).toMap
        }.getOrElse(Map.empty[String, String])
        val part = Option(e.get("part")).map { pn =>
          (0 until pn.size()).map(pn.get(_).asText()).toSeq
        }.getOrElse(Nil)
        SegmentEntry(e.get("f").asText(),
          Option(e.get("r")).map(_.asLong()).getOrElse(-1L),
          Option(e.get("b")).map(_.asLong()).getOrElse(-1L),
          stats, blooms, part,
          // ABSOLUTE spec index; absent (pre-evolution segments) = the
          // first spec, which was also the only one back then
          Option(e.get("si")).map(_.asInt()).getOrElse(0))
      }.toSeq
    })

  /** Write the per-file metadata of `files` (drawn from snapshot `s`'s
    * maps) as one immutable segment; returns its store name. */
  private def writeSegment(s: Snapshot, files: Seq[String]): String = {
    val name = s"seg-${UUID.randomUUID().toString.take(12)}.json"
    val node = mapper.createObjectNode()
    val en = node.putArray("entries")
    files.foreach { f =>
      val e = en.addObject()
      e.put("f", f)
      s.fileRows.get(f).foreach(r => e.put("r", r))
      s.fileBytes.get(f).foreach(b => e.put("b", b))
      s.stats.get(f).filter(_.nonEmpty).foreach { cols =>
        val sn = e.putObject("stats")
        cols.foreach { case (c, cr) =>
          val cn = sn.putObject(c)
          cn.put("n", cr.numeric).put("lo", cr.lo).put("hi", cr.hi)
          if (cr.nulls >= 0) cn.put("z", cr.nulls)
        }
      }
      s.blooms.get(f).filter(_.nonEmpty).foreach { cols =>
        val bn = e.putObject("bloom")
        cols.foreach { case (c, b64) => bn.put(c, b64) }
      }
      s.partitions.get(f).filter(_.nonEmpty).foreach { vs =>
        val pa = e.putArray("part")
        vs.foreach(pa.add)
      }
      // absolute spec index — segments are REUSED across commits, so a
      // relative "current" marker would go stale at the next evolution
      val si = s.fileSpecIdx.getOrElse(f, s.priorSpecs.length)
      if (si != 0) e.put("si", si)
    }
    if (!store.putIfAbsent(name, mapper.writeValueAsBytes(node)))
      throw new IllegalStateException(s"segment name collision: $name")
    name
  }

  /** The partition spec the NEXT manifest records, given its parent: an
    * existing table's MANIFEST spec is authoritative — hidden
    * partitioning means a reader/writer constructed WITHOUT the spec
    * still partitions and prunes correctly — and the constructor's spec
    * applies from the first commit. Declaring a spec that CONTRADICTS
    * the manifest's is a hard error (a spec change would reinterpret
    * recorded tuples unsoundly); adding a spec to a previously
    * unpartitioned table is sound evolution — pre-spec files carry no
    * tuple and are simply never pruned. */
  private def commitSpec(base: Snapshot): Seq[PartitionField] =
    if (base.partitionSpec.nonEmpty) {
      require(declaredSpec.isEmpty || declaredSpec == base.partitionSpec,
        s"$tableDir is partitioned by ${base.partitionSpec}; a SnapshotLog " +
          s"declaring $declaredSpec on it would prune unsoundly")
      base.partitionSpec
    } else declaredSpec

  /** The spec THIS handle writes under: the constructor's declaration,
    * advanced in place by a successful [[evolvePartitionSpec]] on the
    * same handle (so the evolving writer keeps committing without
    * re-construction) — any OTHER handle still declaring the old spec
    * keeps failing [[commitSpec]]'s contradiction check loudly. */
  @volatile private var declaredSpec: Seq[PartitionField] = partitionBy

  /** The sort order the NEXT manifest records, given its parent: the
    * constructor's declaration wins (unlike the partition spec, a
    * sort-order CHANGE is always sound — it shapes future files'
    * internal order and stats tightness, never the interpretation of
    * recorded metadata), else the manifest's, so spec-less writers keep
    * clustering on write. */
  private def commitSort(base: Snapshot): Seq[String] =
    if (sortCols.nonEmpty) sortCols else base.sortOrder

  /** Whether the NEXT manifest records row-level CDC: sticky once set —
    * a handle constructed with `changeFeed = true` turns the feed on
    * from its first commit (sound retroactively: the feed's contract
    * only covers versions committed while on), and every later handle
    * inherits it from the manifest. There is deliberately no off
    * switch — consumers downstream may already depend on the images. */
  private def commitCdc(base: Snapshot): Boolean = changeFeed || base.cdc

  /** The partition spec + sort order a write staged NOW must honor —
    * what [[stage]] resolves internally, exposed for the native DSv2
    * batch write ([[graft.table.LogAppendWrite]]), which computes its
    * partition tuples executor-side and must capture the shape at plan
    * time (the commit re-guards via [[specGuard]]). */
  private[graft] def liveWriteShape(): (Seq[PartitionField], Seq[String]) = {
    val v = currentVersion()
    if (v == 0) (declaredSpec, sortCols)
    else {
      val s = snapshot(v)
      (commitSpec(s), commitSort(s))
    }
  }

  /** Latest committed version; 0 means no commit yet. Staged manifests
    * (`.tmp-*`) and foreign files are ignored — only a fully published
    * `v<digits>.json` counts, so a half-written commit is invisible. */
  def currentVersion(): Long = {
    val names = store.list()
    val max = names.flatMap {
      case ManifestRe(d) => Some(d.toLong)
      case _               => None
    }.foldLeft(0L)(math.max)
    // a REPLACE TABLE ... AS that crashed between clearing the old log
    // and publishing its replacement leaves NO manifests but a durable
    // pending-replace marker ([[publishPendingReplace]]) — complete the
    // publish here, at the one choke point every open routes through:
    // the first recoverer's CAS wins; a loser (or the resumed replacer)
    // finds the identical bytes already at v1. Main chain only — RTAS
    // never targets a branch.
    if (max == 0L && branchName.isEmpty &&
        names.contains(SnapshotLog.PendingReplaceName)) {
      store.get(SnapshotLog.PendingReplaceName).foreach { bytes =>
        publishManifest(1, bytes)
        store.delete(SnapshotLog.PendingReplaceName)
      }
      if (store.exists(manifestName(1))) 1L else 0L
    } else max
  }

  /** The committed manifest at `version` (latest when omitted). */
  def snapshot(version: Long = -1L): Snapshot = {
    val v = if (version < 0) currentVersion() else version
    require(v >= 1, s"table $tableDir has no committed snapshot")
    // a published manifest is immutable (CAS create-if-absent, never
    // rewritten), so a parse is reusable for the life of the handle —
    // the optimizer interrogates the DSv2 scan's statistics and filter
    // attributes repeatedly per query, and each parse would otherwise
    // be a store GET (S3-backed tables pay a round-trip). Head
    // resolution (-1) still lists for the current version every call,
    // so new commits stay visible. Bounded: cleared past 32 entries
    // (a handle hot-loops over at most a few versions).
    val cached = snapParseCache.get(v)
    if (cached != null) cached
    else {
      val s = parseSnapshot(v)
      if (snapParseCache.size >= 32) snapParseCache.clear()
      snapParseCache.put(v, s)
      s
    }
  }

  private val snapParseCache =
    new java.util.concurrent.ConcurrentHashMap[Long, Snapshot]()

  private def parseSnapshot(v: Long): Snapshot = {
    val bytes = store.get(manifestName(v)).getOrElse(
      throw new IllegalArgumentException(
        s"version $v of $tableDir is missing (vacuumed?)"))
    val node = mapper.readTree(bytes)
    // absent in SEGMENTED manifests — the file list lives in segments
    val files = Option(node.get("files")).map(fn =>
      (0 until fn.size()).map(fn.get(_).asText())).getOrElse(Seq.empty)
    val stats = Option(node.get("stats")).map { sn =>
      sn.properties().asScala.map { e =>
        e.getKey -> e.getValue.properties().asScala.map { ce =>
          ce.getKey -> ColRange(ce.getValue.get("n").asBoolean(),
            ce.getValue.get("lo").asText(), ce.getValue.get("hi").asText(),
            // absent in manifests written before the field: unknown (-1)
            Option(ce.getValue.get("z")).map(_.asLong()).getOrElse(-1L))
        }.toMap
      }.toMap
    }.getOrElse(Map.empty[String, Map[String, ColRange]])
    val fileRows = Option(node.get("fileRows")).map { fn =>
      fn.properties().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap
    }.getOrElse(Map.empty[String, Long])
    val blooms = Option(node.get("blooms")).map { bn =>
      bn.properties().asScala.map { e =>
        e.getKey -> e.getValue.properties().asScala
          .map(ce => ce.getKey -> ce.getValue.asText()).toMap
      }.toMap
    }.getOrElse(Map.empty[String, Map[String, String]])
    val fileBytes = Option(node.get("fileBytes")).map { fn =>
      fn.properties().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap
    }.getOrElse(Map.empty[String, Long])
    val schemaJson = Option(node.get("schema")).map(_.asText()).getOrElse("")
    val txns = Option(node.get("txns")).map { tn =>
      tn.properties().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap
    }.getOrElse(Map.empty[String, Long])
    val tombstones = Option(node.get("tombstones")).map { tn =>
      (0 until tn.size()).map { i =>
        val t = tn.get(i)
        Tombstone(t.get("file").asText(), t.get("column").asText(),
          (0 until t.get("applies").size()).map(t.get("applies").get(_).asText()))
      }.toSeq
    }.getOrElse(Nil)
    val partitionSpec = Option(node.get("partitionSpec")).map { pn =>
      (0 until pn.size()).map(i => PartitionField(
        pn.get(i).get("src").asText(), pn.get(i).get("t").asText())).toSeq
    }.getOrElse(Nil)
    val partitions = Option(node.get("partitions")).map { pn =>
      pn.properties().asScala.map { e =>
        e.getKey ->
          (0 until e.getValue.size()).map(e.getValue.get(_).asText()).toSeq
      }.toMap
    }.getOrElse(Map.empty[String, Seq[String]])
    val sortOrder = Option(node.get("sortOrder")).map { sn =>
      (0 until sn.size()).map(sn.get(_).asText()).toSeq
    }.getOrElse(Nil)
    val segNames = Option(node.get("segments")).map { sn =>
      (0 until sn.size()).map(sn.get(_).asText()).toSeq
    }.getOrElse(Nil)
    val priorSpecs = Option(node.get("priorSpecs")).map { ha =>
      (0 until ha.size()).map { i =>
        val sa = ha.get(i)
        (0 until sa.size()).map(j => PartitionField(
          sa.get(j).get("src").asText(), sa.get(j).get("t").asText())).toSeq
      }.toSeq
    }.getOrElse(Nil)
    val fileSpecIdx = Option(node.get("fileSpec")).map { fn =>
      fn.properties().asScala.map(e => e.getKey -> e.getValue.asInt()).toMap
    }.getOrElse(Map.empty[String, Int])
    val priorSchemas = Option(node.get("priorSchemas")).map { pn =>
      (0 until pn.size()).map(pn.get(_).asText()).toSeq
    }.getOrElse(Nil)
    val fileSchemaIdx = Option(node.get("fileSchema")).map { fn =>
      fn.properties().asScala.map(e => e.getKey -> e.getValue.asInt()).toMap
    }.getOrElse(Map.empty[String, Int])
    val dvs = Option(node.get("dvs")).map { dn =>
      dn.properties().asScala.map { e =>
        e.getKey ->
          (0 until e.getValue.size()).map(e.getValue.get(_).asText()).toSeq
      }.toMap
    }.getOrElse(Map.empty[String, Seq[String]])
    val cdc = Option(node.get("cdc")).exists(_.asBoolean())
    val changeSet = Option(node.get("changes")).map { cn =>
      def arr(name: String): Seq[String] = Option(cn.get(name))
        .map(a => (0 until a.size()).map(a.get(_).asText()).toSeq)
        .getOrElse(Nil)
      ChangeSet(arr("files"), arr("deletedDataFiles"),
        Option(cn.get("keyColumn")).map(_.asText()).getOrElse(""),
        Option(cn.get("preds")).map { pa =>
          (0 until pa.size()).map { i =>
            val p = pa.get(i)
            ChangePred(p.get("c").asText(), p.get("t").asText(),
              p.get("lo").asText(), p.get("hi").asText())
          }.toSeq
        }.getOrElse(Nil),
        Option(cn.get("predSql")).map(_.asText()).getOrElse(""))
    }
    segNamesCache.put(v, segNames)
    // the version is the slot read, never the body's claim: a manifest
    // copied to another slot must not pose as its source version
    val inline = Snapshot(v, node.get("op").asText(),
      node.get("parent").asLong(), node.get("rows").asLong(),
      node.get("bytes").asLong(), files, stats, schemaJson, txns, tombstones,
      fileRows, blooms, fileBytes, partitionSpec, partitions, sortOrder,
      cdc, changeSet, priorSpecs, fileSpecIdx, dvs,
      priorSchemas, fileSchemaIdx,
      Option(node.get("ts")).map(_.asLong()).getOrElse(0L))
    if (segNames.isEmpty) inline
    else {
      // segmented manifest: the per-file plane lives in immutable
      // segment files (cached); the manifest itself is O(segments)
      val entries = segNames.flatMap(segEntries)
      inline.copy(files = entries.map(_.file),
        stats = entries.collect { case e if e.stats.nonEmpty => e.file -> e.stats }.toMap,
        fileRows = entries.collect { case e if e.rows >= 0 => e.file -> e.rows }.toMap,
        blooms = entries.collect { case e if e.blooms.nonEmpty => e.file -> e.blooms }.toMap,
        fileBytes = entries.collect { case e if e.bytes >= 0 => e.file -> e.bytes }.toMap,
        partitions = entries.collect {
          case e if e.partition.nonEmpty => e.file -> e.partition }.toMap,
        // explicit per-entry indices only matter once specs diverged;
        // with a single spec the absent-means-current default is exact
        fileSpecIdx =
          if (priorSpecs.isEmpty) Map.empty
          else entries.map(e => e.file -> e.specIdx).toMap)
    }
  }

  /** version → commit wall-clock, memoized for the life of the handle:
    * a committed manifest's `ts` never changes (manifests are published
    * once via CAS and never rewritten), so each version's clock costs at
    * most one manifest read per process — repeated `TIMESTAMP AS OF`
    * resolutions stop being O(retained versions) object-store GETs.
    * O(versions) longs — control-plane-sized. */
  private val tsCache =
    new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Long]()

  /** The latest version committed at or before epoch-millis `tsMillis`
    * — the `TIMESTAMP AS OF` axis, resolved from the commit wall-clock
    * every manifest records ([[Snapshot.ts]]). Linear over retained
    * manifests (ONE store listing for the live set + memoized clocks —
    * `tsCache` — so a repeat resolution costs zero manifest reads),
    * deliberately NOT a binary search: wall clocks may step backward
    * between commits and a max-matching scan stays correct where
    * bisection would not. Vacuumed versions are outside the travel
    * horizon, same as version-pinned reads. */
  def versionAt(tsMillis: Long): Long = {
    // one LIST yields the retained set — not a per-version exists() probe
    val live = store.list().flatMap {
      case ManifestRe(d) => Some(d.toLong)
      case _               => None
    }.sorted
    require(live.nonEmpty, s"$tableDir has no committed version")
    def tsOf(v: Long): Long =
      tsCache.computeIfAbsent(v, _ => snapshot(v).ts).longValue()
    val hits = live.filter(v => tsOf(v) <= tsMillis)
    require(hits.nonEmpty,
      s"no retained version of $tableDir was committed at or before " +
        s"epoch-millis $tsMillis (earliest retained: " +
        s"v${live.head} at ${tsOf(live.head)})")
    hits.max
  }

  /** The table's history as a queryable DataFrame (the `DESCRIBE
    * HISTORY` surface): one row per retained version — version, op,
    * parent, logical row/byte totals, live-file count, committed stream
    * watermarks. Driver-built from manifests (control-plane-sized at
    * any table size); join it, filter it, chart it like any frame. */
  def historyMeta(): DataFrame = {
    import spark.implicits._
    history().map(s => (s.version, s.op, s.parent, s.rows, s.bytes,
      s.files.size.toLong, s.txns.size.toLong, s.tombstones.size.toLong,
      s.ts))
      .toDF("version", "op", "parent", "rows", "bytes", "n_files",
        "n_txns", "n_tombstones", "commit_ts")
  }

  /** The live file inventory of a version as a queryable DataFrame (the
    * `inspect files` surface): file name, recorded rows/bytes, the
    * partition tuple, and each stats column's [lo, hi] — everything the
    * planner prunes with, exposed for dashboards and audits. One
    * manifest GET (+ cached segments); no data file opens. */
  def filesMeta(version: Long = -1L): DataFrame = {
    import spark.implicits._
    val s = snapshot(version)
    s.files.map { f =>
      val ranges = s.stats.getOrElse(f, Map.empty)
        .map { case (c, r) => c -> s"[${r.lo}, ${r.hi}]" }
      (f, s.fileRows.getOrElse(f, -1L), s.fileBytes.getOrElse(f, -1L),
        s.partitions.getOrElse(f, Seq.empty), ranges)
    }.toDF("file", "rows", "bytes", "partition", "stats")
  }

  /** All retained versions, oldest first. */
  def history(): Seq[Snapshot] =
    store.list().flatMap {
      case ManifestRe(d) => Some(d.toLong)
      case _               => None
    }.sorted.map(snapshot(_))

  /** Read a committed version (latest when omitted) — planning touches
    * one manifest, never a directory listing, and the scan schema comes
    * from the manifest too: files written before a column was added
    * read it as null (schema-on-read), with zero `mergeSchema` footer
    * crawling. */
  def read(version: Long = -1L): DataFrame = {
    val s = snapshot(version)
    if (s.files.isEmpty) emptySnap(s) else scan(s, s.files)
  }

  /** Debt-aware read of a SUBSET of a version's live files — what the
    * DSv2 scan ([[graft.table.GraftTableCatalog]]) composes when the
    * snapshot carries merge-on-read debt: key tombstones, deletion
    * vectors and field-id epoch alignment apply to the subset exactly
    * as [[read]] applies them to the full set. Callers prune the list
    * FIRST ([[filesMatching]]) — sound under every debt kind, because
    * debt only ever REMOVES rows from a file (a pruned-out file cannot
    * contain a surviving matching row) and per-file stats/tuples are
    * epoch-translated by the pruning gate itself. */
  private[graft] def readFiles(version: Long, files: Seq[String]): DataFrame = {
    val s = snapshot(version)
    if (files.isEmpty) emptySnap(s) else scan(s, files)
  }

  /** A zero-row frame under `s`'s manifest schema — what an emptied
    * version (truncate, full delete) reads as. Pre-schema manifests
    * (written before the field existed) cannot shape one — loud. */
  private def emptySnap(s: Snapshot): DataFrame = {
    require(s.schemaJson.nonEmpty,
      s"version ${s.version} of $tableDir is empty and pre-schema")
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.DataType.fromJson(s.schemaJson)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
  }

  private def reader(s: Snapshot) =
    if (s.schemaJson.isEmpty) spark.read
    // nullable-forced: updates may SET any column NULL, and a falsely
    // non-nullable read schema turns real NULLs into raw slot bits on
    // the vectorized path (see GraftBridge.asNullable)
    else spark.read.schema(org.apache.spark.sql.GraftBridge.asNullable(
      org.apache.spark.sql.types.DataType
        .fromJson(s.schemaJson).asInstanceOf[org.apache.spark.sql.types.StructType]))

  /** Scan `files` of snapshot `s`, applying any key tombstones that
    * cover them. Files sharing a tombstone-coverage set scan as one
    * group with one anti-join per tombstone (broadcast-sized: a sparse
    * key list); files appended after a delete carry no coverage and
    * scan clean — in the common shape (one MoR delete, then appends)
    * that is two groups and ONE anti-join over the old files only. */
  private def scan(s: Snapshot, files: Seq[String]): DataFrame = {
    def plain(fs: Seq[String]): DataFrame =
      fs.groupBy(s.schemaIdxOf).toSeq.sortBy(_._1).map { case (ep, g) =>
        // files of one schema EPOCH scan together: the epoch schema
        // reads them under the names they were WRITTEN with, and
        // alignTo renames/null-pads onto the current schema by field
        // id. Current-epoch files (the steady state) take the identity
        // path — one reader, no projection.
        val (dvd, clean) = g.partition(s.dvs.contains)
        val parts =
          (if (clean.nonEmpty)
            Seq(epochReader(s, ep)
              .parquet(clean.map(f => new Path(dataDir, f).toString): _*))
          else Nil) ++
          (if (dvd.nonEmpty) Seq(dvApply(s, ep, dvd)) else Nil)
        alignTo(s, ep, parts.reduce(_ unionByName _))
      }.reduce(_ unionByName _)
    if (s.tombstones.isEmpty) plain(files)
    else {
      val covered = s.tombstones.map(t => t -> t.appliesTo.toSet)
      files.groupBy(f => covered.collect { case (t, c) if c(f) => t })
        .map { case (ts, group) =>
          ts.foldLeft(plain(group)) { (df, t) =>
            val keys = spark.read
              .parquet(new Path(dataDir, t.file).toString)
            df.join(keys, Seq(t.column), "left_anti")
          }
        }.reduce(_ unionByName _)
    }
  }

  /** The parquet reader for schema epoch `ep` of `s` — explicit
    * schema = the names the files were written with. */
  private def epochReader(s: Snapshot, ep: Int) = {
    val schema = s.epochSchemas(ep)
    if (schema.isEmpty) spark.read else spark.read.schema(schema)
  }

  /** A frame read under epoch `ep`'s names, projected onto the CURRENT
    * schema by stable field id: renamed columns alias (including fields
    * INSIDE structs — [[SnapshotLog.alignColumn]] recurses by per-level
    * id), columns widened after `ep` read as null (the same
    * schema-on-read rule as before renames existed). `keep` columns
    * (read-path helpers) pass through untouched. Identity for the
    * current epoch. */
  private def alignTo(s: Snapshot, ep: Int, df: DataFrame,
      keep: Seq[String] = Nil): DataFrame =
    if (ep >= s.priorSchemas.length) df
    else {
      val epoch = s.epochSchemas(ep)
      val byFid = epoch.fields.zipWithIndex.map { case (f, i) =>
        SnapshotLog.fidOf(f, i) -> f }.toMap
      df.select(s.epochSchemas.last.fields.zipWithIndex.map { case (f, i) =>
        byFid.get(SnapshotLog.fidOf(f, i)) match {
          case Some(ef) =>
            SnapshotLog.alignColumn(ef.dataType, f.dataType, col(ef.name))
              .as(f.name)
          case None => lit(null).cast(f.dataType).as(f.name)
        }
      }.toSeq ++ keep.map(col): _*)
    }

  /** `files` of `s` read under the epochs that wrote them and aligned
    * to `s`'s current names — the epoch-aware RAW read (no
    * tombstones/vectors applied; callers that need those use [[scan]]). */
  private def epochAlignedRead(s: Snapshot, files: Seq[String]): DataFrame =
    files.groupBy(s.schemaIdxOf).toSeq.sortBy(_._1).map { case (ep, g) =>
      alignTo(s, ep, epochReader(s, ep)
        .parquet(g.map(f => new Path(dataDir, f).toString): _*))
    }.reduce(_ unionByName _)

  /** `files` (all of schema epoch `ep`) read with their pending
    * deletion vectors applied: ONE broadcast anti-join on (file name,
    * row position) against the union of the covering DV files —
    * O(deleted positions) state, the merge-on-read read path for
    * predicate deletes. The hidden parquet `_metadata` column supplies
    * both join keys for free (no synthetic ids, no zipWithIndex
    * shuffle); helper columns drop before the frame leaves this method,
    * so callers compose it like any scan. Columns stay in EPOCH names —
    * the caller aligns. */
  private def dvApply(s: Snapshot, ep: Int, files: Seq[String]): DataFrame = {
    val withId = dvTagged(s, ep, files)
    val dv = dvFrame(s, files)
    withId.join(org.apache.spark.sql.functions.broadcast(dv),
      withId(DvFileCol) === dv("_file") && withId(DvPosCol) === dv("_pos"),
      "left_anti")
      .drop(DvFileCol, DvPosCol)
  }

  /** `files` (all of schema epoch `ep`) read raw with two helper
    * columns: [[DvFileCol]] (the data file's NAME — the manifest's key
    * space) and [[DvPosCol]] (the row's position within it). */
  private def dvTagged(s: Snapshot, ep: Int, files: Seq[String]): DataFrame =
    epochReader(s, ep).parquet(files.map(f => new Path(dataDir, f).toString): _*)
      .withColumn(DvFileCol, org.apache.spark.sql.functions.element_at(
        org.apache.spark.sql.functions.split(col("_metadata.file_path"), "/"), -1))
      .withColumn(DvPosCol, col("_metadata.row_index"))

  /** The union of DV files covering any of `files`, as a
    * (`_file`, `_pos`) frame — broadcast-sized by construction (DVs are
    * the LOW-selectivity delete path; high selectivity rewrites). */
  private def dvFrame(s: Snapshot, files: Seq[String]): DataFrame = {
    val dvFiles = files.flatMap(s.dvs.getOrElse(_, Nil)).distinct
    spark.read.parquet(dvFiles.map(f => new Path(dataDir, f).toString): _*)
      .select(col("_file"), col("_pos"))
  }

  /** Manifest-pruned range read: keep only files whose recorded
    * `column` range intersects [lo, hi] — planning-time skipping that
    * costs ONE manifest GET, no listing and no footer reads (the
    * query-time half of the clustering story: [[graft.jobs.LayoutJob]]
    * makes per-file ranges disjoint, this makes the skip decision before
    * any file opens). Files without a recorded range are always kept, so
    * pruning is never unsound; the residual predicate still applies —
    * semantics are exactly `read().where(column between lo and hi)`.
    * Production generalizes the intersect test over a predicate tree;
    * one range predicate demonstrates the plumbing. */
  def readBetween(column: String, lo: Any, hi: Any,
      version: Long = -1L): DataFrame =
    readWhere(version, (column, lo, hi))

  /** [[readBetween]] generalized to a conjunction: a file survives only
    * if EVERY predicate's recorded range intersects it. On a z-ordered
    * table the per-dimension prunings compose — an (x, y) box opens
    * just the curve cells the box crosses, the read-side payoff of
    * [[graft.jobs.LayoutJob.zorderByLog]] bounding every dimension. */
  def readWhere(preds: (String, Any, Any)*): DataFrame =
    readWhere(-1L, preds: _*)

  /** Files of `s` that could hold a row matching the conjunction:
    * footer-stats ranges AND hidden-partition tuples each get a veto
    * (absence of either never prunes). The partition gate is what works
    * on columns with no recorded stats, on bucket transforms range
    * stats cannot express, and on manifests from spec-only tables —
    * all from the same single manifest GET. */
  private def candidateFiles(s: Snapshot,
      preds: Seq[(String, Any, Any)]): Seq[String] = {
    val dts = preds.map { case (c, _, _) => c -> schemaType(s, c) }.toMap
    s.files.filter { f =>
      preds.forall { case (c, lo, hi) =>
        // per-file stats/tuples are recorded under the names AT WRITE
        // TIME — translate the current name through the file's schema
        // epoch (identity unless renamed since; partition sources never
        // rename — renameColumn refuses those)
        val w = s.writeName(f, c)
        s.stats.get(f).flatMap(_.get(w)).forall(_.intersects(lo, hi)) &&
          s.specOf(f).zipWithIndex.forall { case (pf, i) =>
            pf.source != c || s.partitions.get(f).flatMap(_.lift(i))
              .forall(v => pf.mayMatch(v, lo, hi, dts(c)))
          }
      }
    }
  }

  /** Does every row of file `f` provably satisfy every predicate? True
    * through either proof path per predicate: the footer range is
    * contained AND provably null-free, or a partition tuple on the
    * column is contained (null-free by construction — NULL transforms
    * land in the Hive default partition, a different file). */
  private def fullyContained(s: Snapshot, f: String,
      preds: Seq[(String, Any, Any)],
      dts: Map[String, Option[org.apache.spark.sql.types.DataType]]): Boolean =
    preds.forall { case (c, lo, hi) =>
      s.stats.get(f).flatMap(_.get(s.writeName(f, c)))
        .exists(_.containedIn(lo, hi)) ||
        s.specOf(f).zipWithIndex.exists { case (pf, i) =>
          pf.source == c && s.partitions.get(f).flatMap(_.lift(i))
            .exists(v => pf.containedIn(v, lo, hi, dts(c)))
        }
    }

  /** Files of `version` that could hold a row matching the conjunction —
    * the EXTERNAL planning surface: the DSv2 connector
    * ([[GraftTableCatalog]]) prunes here (same stats + partition-tuple
    * gates as [[readWhere]]) and then hands the surviving file list to
    * Spark's own parquet scan for execution. Empty `preds` = every live
    * file. */
  def filesMatching(preds: Seq[(String, Any, Any)],
      version: Long = -1L): Seq[String] = {
    val s = snapshot(version)
    if (preds.isEmpty) s.files
    else coercePreds(s, preds) match {
      case None      => Nil // a bound no value of the column's type equals
      case Some(cps) => candidateFiles(s, cps)
    }
  }

  /** Files of `version` that could hold ANY of `keys` on `column` — the
    * point-set twin of [[filesMatching]], gated by range stats, key
    * blooms AND bucket/partition tuples (the same per-key gate
    * [[readKeys]] plans with). This is the RUNTIME-filtering surface:
    * the DSv2 scan ([[LogBatchScan]]) re-prunes its file list here when
    * Spark's dynamic partition pruning hands it the joined-in key set,
    * so a fact-dim join opens only the fact files that can hold the
    * dim's surviving keys. Empty `keys` = provably no file (an IN over
    * the empty set matches nothing). Absence of stats/blooms/partition
    * tuples never prunes — degrade-don't-drop, as everywhere. */
  def filesMatchingKeys(column: String, keys: Seq[Any],
      version: Long = -1L): Seq[String] = {
    val s = snapshot(version)
    if (keys.isEmpty) Nil else keyCandidates(s, column, keys)
  }

  /** [[readWhere]] against a retained `version` (latest when -1). */
  def readWhere(version: Long, preds: (String, Any, Any)*): DataFrame = {
    require(preds.nonEmpty, "readWhere needs at least one (column, lo, hi)")
    val s = snapshot(version)
    if (s.files.isEmpty) return emptySnap(s)
    def empty = reader(s).parquet(new Path(dataDir, s.files.head).toString)
      .where(lit(false))
    coercePreds(s, preds) match {
      case None => empty // a bound no value of the column's type equals
      case Some(cps) =>
        val kept = candidateFiles(s, cps)
        val residual = cps.map { case (c, lo, hi) =>
          col(c).between(lit(lo), lit(hi)) }.reduce(_ && _)
        if (kept.isEmpty)
          // every file pruned: empty result, schema from the manifest
          // (or one footer for a pre-schema manifest)
          empty
        else
          scan(s, kept).where(residual)
    }
  }

  /** String bounds coerced to each column's native literal type, for
    * EVERY predicate surface at once — the metadata gates
    * ([[candidateFiles]]/[[fullyContained]] run `ColRange.num` and the
    * partition bound math on the typed value, never a raw string) and
    * the residual/delete predicates (a typed literal never trips ANSI's
    * runtime string→number cast). None = some bound that NO value of
    * its column's type can equal — the caller's result is provably
    * empty, never a planning-time crash (the same degrade-don't-throw
    * contract as the partition gate's bucketOf). */
  private def coercePreds(s: Snapshot,
      preds: Seq[(String, Any, Any)]): Option[Seq[(String, Any, Any)]] = {
    val out = preds.map { case (c, lo, hi) =>
      val dt = schemaType(s, c)
      (coerceBound(lo, dt), coerceBound(hi, dt)) match {
        case (Some(l), Some(h)) => Some((c, l, h))
        case _                  => None
      }
    }
    if (out.exists(_.isEmpty)) None else Some(out.flatten)
  }

  /** A string bound coerced to `dt`'s native literal type — Some(typed)
    * when it parses, None when no value of the column's type could ever
    * equal it. Non-string bounds (and string/unknown columns) pass
    * through untouched: their comparison semantics are Spark's own.
    * Timestamp strings read in the FIXED UTC frame the metadata plane's
    * bound math uses (`2026-08-14 12:00:00`, ISO `…T…[Z]`, or a bare
    * date = midnight) — NTZ columns get the timezone-less
    * LocalDateTime reading instead, matching their field semantics. */
  private def coerceBound(v: Any,
      dt: Option[org.apache.spark.sql.types.DataType]): Option[Any] = {
    import org.apache.spark.sql.types._
    def localDt(t: String): scala.util.Try[java.time.LocalDateTime] =
      scala.util.Try(java.time.LocalDateTime.parse(t.replace(' ', 'T')))
        .orElse(scala.util.Try(
          java.time.LocalDate.parse(t).atStartOfDay()))
    (v, dt) match {
      case (str: String, Some(t)) => t match {
        case ByteType | ShortType | IntegerType | LongType =>
          scala.util.Try(str.trim.toLong: Any).toOption
        case FloatType | DoubleType =>
          scala.util.Try(str.trim.toDouble: Any).toOption
        case _: DecimalType => scala.util.Try(BigDecimal(str.trim): Any).toOption
        case DateType =>
          scala.util.Try(java.sql.Date.valueOf(str.trim): Any).toOption
        case TimestampType =>
          scala.util.Try(java.time.Instant.parse(str.trim))
            .orElse(localDt(str.trim).map(_.toInstant(java.time.ZoneOffset.UTC)))
            .map(i => java.sql.Timestamp.from(i): Any).toOption
        case TimestampNTZType =>
          localDt(str.trim).map(identity[Any]).toOption
        case _ => Some(v)
      }
      case _ => Some(v)
    }
  }

  /** Exact `count(*)` of a committed version from ONE manifest GET —
    * zero data files open, zero footers. The manifest's `rows` total is
    * maintained exactly through every commit path; the only state where
    * physical rows differ from logical rows is pending key tombstones
    * ([[deleteKeys]] defers exactly that count by design), so the count
    * falls back to the tombstone-applied scan there. At 100 TB this is
    * the difference between a dashboard query answering in manifest
    * latency and a full-table row-group metadata crawl. */
  def countRows(version: Long = -1L): Long = {
    val s = snapshot(version)
    if (s.tombstones.isEmpty) s.rows else scan(s, s.files).count()
  }

  /** Exact `count(*) WHERE <conjunction of ranges>` answered as far as
    * possible from the manifest: files whose recorded ranges miss a
    * predicate contribute ZERO; files fully CONTAINED by every predicate
    * (range inside the bounds, null count provably zero) contribute
    * their recorded row count without being opened; only files the
    * bounds genuinely straddle are scanned, with the residual predicate
    * applied. Semantics are exactly `read().where(...).count()`.
    *
    * On a clustered table a wide selective range is answered almost
    * entirely from metadata — the boundary files alone scan. This is
    * the counting twin of [[readWhere]]: clustering makes per-file
    * ranges disjoint, the manifest makes interior files countable
    * without I/O. Pending key tombstones fall back to the full
    * tombstone-applied filter count (correct, just not metadata-only). */
  def countWhere(preds: (String, Any, Any)*): Long = {
    require(preds.nonEmpty, "countWhere needs at least one (column, lo, hi)")
    val s = snapshot()
    if (s.files.isEmpty) return 0L
    val cps = coercePreds(s, preds).getOrElse(return 0L)
    val residual = cps.map { case (c, lo, hi) =>
      col(c).between(lit(lo), lit(hi)) }.reduce(_ && _)
    if (s.tombstones.nonEmpty)
      return scan(s, s.files).where(residual).count()
    val kept = candidateFiles(s, cps)
    val dts = cps.map { case (c, _, _) => c -> schemaType(s, c) }.toMap
    val (contained, straddling) = kept.partition { f =>
      // a DV-covered file's physical count overstates live rows — scan it
      s.fileRows.contains(f) && !s.dvs.contains(f) &&
        fullyContained(s, f, cps, dts)
    }
    val metadataRows = contained.map(s.fileRows).sum
    if (straddling.isEmpty) metadataRows
    else metadataRows + scan(s, straddling).where(residual).count()
  }

  /** Point-lookup read: `read().where(column IN (keys…))`, opening
    * only the files that can actually hold one of the keys. Two
    * metadata gates compose, both from ONE manifest GET: the range
    * stats (a key outside a file's [min, max] can't be inside), and the
    * per-file key blooms for tables that declare `bloomColumns` — the
    * gate that matters on the layouts range stats can't help with
    * (append-ordered or hash-shuffled files span ~the whole key range).
    * No false negatives by construction; a bloom false positive costs
    * one extra file scan, never a wrong row. At 100 TB this is a
    * needle-in-haystack fetch (one doc by id, one user's events)
    * opening a handful of files instead of the table. */
  def readKeys(column: String, keys: Seq[Any]): DataFrame =
    readKeysAt(-1L, column, keys)

  /** [[readKeys]] pinned to a version — the incremental-consumer shape
    * ([[DerivedAggregate]]'s targeted recompute): reading at the
    * version the cursor will record keeps a concurrent append from
    * leaking rows the NEXT refresh would fold again. */
  def readKeysAt(version: Long, column: String, keys: Seq[Any]): DataFrame = {
    require(keys.nonEmpty, "readKeys needs at least one key")
    val s = snapshot(version)
    // a truncated-but-committed version holds none of the keys — a
    // typed empty frame (consumers like DerivedAggregate's targeted
    // recompute legitimately probe keys against an emptied base)
    if (s.files.isEmpty) return emptySnap(s)
    val kept = keyCandidates(s, column, keys)
    val pred = col(column).isInCollection(keys)
    if (kept.isEmpty)
      reader(s).parquet(new Path(dataDir, s.files.head).toString)
        .where(lit(false))
    else scan(s, kept).where(pred)
  }

  /** The files of `s` that could hold any of `keys` on `column`, per
    * range stats + blooms (absence of either never prunes). */
  private def keyCandidates(s: Snapshot, column: String,
      keys: Seq[Any]): Seq[String] = {
    val dt = schemaType(s, column)
    s.files.filter { f =>
      val w = s.writeName(f, column) // stats/blooms keyed by write-time name
      s.stats.get(f).flatMap(_.get(w))
        .forall(r => keys.exists(k => r.intersects(k, k))) &&
        FileBlooms.mightContainAny(s.blooms, f, w, keys, dt) &&
        // the partition gate: some key must be able to live in this
        // file's tuple — bucket transforms prune point lookups here
        // even on tables with neither stats nor blooms
        keys.exists(k => s.specOf(f).zipWithIndex.forall { case (pf, i) =>
          pf.source != column || s.partitions.get(f).flatMap(_.lift(i))
            .forall(v => pf.mayMatch(v, k, k, dt))
        })
    }
  }

  /** `column`'s declared type in the snapshot's read schema, if the
    * manifest carries one. */
  private def schemaType(s: Snapshot,
      column: String): Option[org.apache.spark.sql.types.DataType] =
    if (s.schemaJson.isEmpty) None
    else org.apache.spark.sql.types.DataType.fromJson(s.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
      .fields.find(_.name == column).map(_.dataType)

  /** Per-version change summary for [[readChanges]]: the version's op
    * and the files it ADDED relative to its parent (staged files for an
    * append; the rewritten output for compaction/clustering/delete/
    * merge; empty for a restore, which re-publishes old files). */
  def changes(fromVersion: Long, toVersion: Long = -1L): Seq[VersionDelta] = {
    val to = if (toVersion < 0) currentVersion() else toVersion
    versionWalk(fromVersion, to).map { case (s, parent) =>
      VersionDelta(s.version, s.op, addedOver(s, parent))
    }.toSeq
  }

  /** Each version of `(from, to]` with its parent snapshot (None for
    * the first commit) — one iteration's snapshot threads forward as the
    * next version's parent, so an N-version walk parses N+1 manifests,
    * not 2N (every incremental consumer walks the feed this way). */
  private def versionWalk(from: Long,
      to: Long): Iterator[(Snapshot, Option[Snapshot])] = {
    require(from >= 0 && from <= to,
      s"the change feed needs 0 <= from <= to, got [$from, $to]")
    var prev: Option[Snapshot] = None
    ((from + 1) to to).iterator.map { v =>
      val s = snapshot(v)
      val parent =
        if (s.parent == 0) None
        else Some(prev.filter(_.version == s.parent).getOrElse(snapshot(s.parent)))
      prev = Some(s)
      (s, parent)
    }
  }

  /** The files `s` lists that its parent did not. */
  private def addedOver(s: Snapshot, parent: Option[Snapshot]): Seq[String] =
    parent.fold(s.files) { p => val had = p.files.toSet; s.files.filterNot(had) }

  /** Change feed: the rows APPENDED after `fromVersion` (exclusive) up
    * to `toVersion` (inclusive, latest when -1) — what an incremental
    * consumer (cross-run dedup, a downstream training job) reads
    * instead of diffing directory listings. The log already knows
    * exactly which files each version added, so the feed costs one
    * manifest read per version and opens ONLY delta files — O(new data),
    * never O(table).
    *
    * Semantics (at-commit-time, like a CDC insert feed):
    *  - `append` versions contribute their staged files — exactly the
    *    rows that run added, read under the schema they were committed
    *    with and aligned by field id onto `toVersion`'s names;
    *  - row-preserving rewrites (`compact`/`cluster`/`zorder`) and
    *    `restore` contribute nothing: the table changed physically, not
    *    logically — the feed across a compaction is identity;
    *  - `delete`/`merge` versions contribute nothing here (their staged
    *    files MIX surviving old rows with the rewrite — row-level
    *    attribution needs the key-tombstone feed, not file names);
    *    consumers that must react to them see the op via [[changes]].
    *
    * Historical delta files are read by name even if a later rewrite
    * replaced them in the live set — immutability makes that exact; the
    * [[vacuum]] horizon bounds how far back a consumer may fall behind,
    * the same contract as production table formats' CDF retention. This
    * is [[feedPlan]]'s insert feed with `skipChangeCommits`, the plan
    * the streaming source runs. */
  def readChanges(fromVersion: Long, toVersion: Long = -1L): DataFrame =
    readFeed(fromVersion, toVersion, rowLevel = false, fourType = false)

  /** ROW-LEVEL change feed (CDC): every logical row change in
    * `(fromVersion, toVersion]` as a DataFrame of the table's columns
    * plus `_change_type` ('insert' | 'delete') and `_commit_version` —
    * the feed that lets a consumer holding rows REACT to removals
    * instead of resyncing ([[LogMirror]] replays them, a
    * [[DerivedAggregate]] subtracts them, the streaming source ships
    * them). Per-version contribution:
    *  - `append` — the added files as inserts (synthesized from the
    *    manifest, no recorded images needed);
    *  - `delete` / `merge` / `delete_keys` / `update` / `replace_where`
    *    — the commit's recorded [[ChangeSet]] images: change files as
    *    written, whole-file deletes read BY REFERENCE from the parent's
    *    data files with 'delete' attached. A merge appears as
    *    delete(pre-image) + insert(post-image) pairs for replaced keys
    *    — the two-type default, deliberately simpler than four-type CDF
    *    feeds; `fourType = true` re-types a merge's pairs: images
    *    tagged at write time ([[SnapshotLog.PairCol]]) by their tag,
    *    older images on the recorded key (comma-joined when composite):
    *    a pre-image whose key also has a post-image becomes
    *    'update_preimage' and that post-image 'update_postimage'; a
    *    pre-image with NO post-image stays 'delete' (a [[mergeClauses]]
    *    matched-DELETE), a post-image with no pre-image stays 'insert'
    *    — the consumer can tell an update from an unrelated
    *    delete+insert. An `update` commit's images re-type
    *    UNCONDITIONALLY under `fourType` — every image is half of an
    *    update pair by construction ([[updateWhere]] stages one
    *    post-image per pre-image). Non-merge deletes keep their types
    *    in both modes (a truncate-then-insert is a replacement of the
    *    TABLE, not of rows — it stays delete+insert);
    *  - `truncate` / `overwrite` — both sides BY REFERENCE with no
    *    recorded images (the deleted pre-images are the parent's
    *    logical table, an overwrite's inserts are its committed files),
    *    so these feed even without the CDC opt-in;
    *  - `compact` / `cluster` / `zorder` — nothing (physical only);
    *  - a row-removing version WITHOUT images (committed before the
    *    table was feed-enabled) or a `restore` throws — silently
    *    skipping either would hand the consumer a feed with a hole.
    * Columns renamed after a version alias onto `toVersion`'s names by
    * field id; columns added later read as null. Cost: O(changed rows)
    * reads, never O(table) — appends read their delta files, images
    * read what the commit recorded. This is [[feedPlan]]'s row-level
    * feed, the plan the streaming source runs. */
  def readChangeRows(fromVersion: Long, toVersion: Long = -1L,
      fourType: Boolean = false): DataFrame =
    readFeed(fromVersion, toVersion, rowLevel = true, fourType)

  /** The batch read of [[feedPlan]] under `to`'s schema: each group
    * reads its files under its data schema and projects by its `outs`,
    * composed frames join as planned. An empty range reads as the empty
    * frame under the to-schema. */
  private def readFeed(from: Long, toVersion: Long, rowLevel: Boolean,
      fourType: Boolean): DataFrame = {
    val to = if (toVersion < 0) currentVersion() else toVersion
    val toSnap = snapshot(to)
    // pre-schema manifests shape the output from a footer read
    val base = if (toSnap.schemaJson.nonEmpty) toSnap.epochSchemas.last
      else read(to).schema
    val frames = feedPlan(from, to, base, rowLevel, fourType,
      skipChangeCommits = true).map {
      case g: FeedGroup =>
        val df = spark.read
          .schema(org.apache.spark.sql.GraftBridge.asNullable(g.dataSchema))
          .parquet(g.paths: _*)
        g.outs.fold(df)(outs => df.select(outs: _*))
      case f: FeedFrame => f.df
    }
    // BALANCED union: a left-deep reduce over a long version span
    // builds an O(span)-deep plan whose analysis cost grows
    // quadratically — pairing halves keeps the tree O(log span) deep,
    // so a consumer catching up across hundreds of versions plans in
    // milliseconds, not minutes (row semantics identical; union is
    // associative)
    def balanced(fs: Seq[DataFrame]): DataFrame =
      if (fs.size == 1) fs.head
      else {
        val (l, r) = fs.splitAt(fs.size / 2)
        balanced(l).unionByName(balanced(r), allowMissingColumns = true)
      }
    if (frames.nonEmpty) balanced(frames)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      SnapshotLog.feedSchema(base, rowLevel))
  }

  /** The change feed's ONE per-version plan over `(from, to]`, read by
    * the batch readers ([[readChanges]], [[readChangeRows]]) and by the
    * DSv2 streaming source ([[graft.streaming.LogMicroBatchStream]]).
    * Every part lands on `out`'s base columns — the to-version's schema
    * for the batch readers, the schema a stream pinned at start — plus
    * `_change_type`/`_commit_version` in row-level mode:
    *  - a [[FeedGroup]]: data files read under ONE physical parquet
    *    schema and a NARROW projection (field-id rename alignment,
    *    null-padding for widened columns, constant change columns,
    *    per-row four-type re-typing on the recorded pair tag), which
    *    the stream plans as Spark's own vectorized parquet partitions;
    *  - a [[FeedFrame]]: the two shapes that need a JOIN — the
    *    debt-applied pre-image of a truncate/overwrite over a parent
    *    carrying tombstones or deletion vectors, and the key-join
    *    four-type re-typing of merge images recorded before pair tags.
    *    The batch readers union it; the stream spills it under its
    *    checkpoint and plans the spilled files as a group.
    *
    * The insert feed (`rowLevel = false`) ships `append` versions'
    * files and refuses a version that can remove rows a consumer holds
    * ([[SnapshotLog.FeedChangeOps]]) unless `skipChangeCommits`; the
    * row-level feed routes per op as [[readChangeRows]] describes. A
    * pinned column the committed schema no longer reaches, or a widen
    * committed after the pin, refuses loudly. */
  private[graft] def feedPlan(from: Long, to: Long,
      out: org.apache.spark.sql.types.StructType,
      rowLevel: Boolean, fourType: Boolean,
      skipChangeCommits: Boolean): Seq[FeedPart] = {
    import org.apache.spark.sql.types.StructType
    def p(f: String) = new Path(dataDir, f).toString
    val metaCols = Set("_change_type", "_commit_version", SnapshotLog.PairCol)
    val outBase = StructType(out.fields.filterNot(f => metaCols(f.name)))
    val toCur = snapshot(to).epochSchemas.last
    // shape equality ignoring nullability/metadata: a stream's pinned
    // schema passed through a DataFrame (nullability forced), the
    // manifest schema did not — identity detection must not care
    def sameShape(a: StructType, b: StructType): Boolean =
      a.fields.length == b.fields.length &&
        a.fields.zip(b.fields).forall { case (x, y) =>
          x.name == y.name && x.dataType == y.dataType }

    // fid-aligned name→Column mapping of `fromS`'s columns onto `toS`'s
    // (renamed columns alias, widened columns null-pad) — as a MAP
    // COMPOSITION so multi-hop alignment (epoch → version-current →
    // to-current) folds into one projection
    def aligned(fromS: StructType, toS: StructType,
        in: String => Column): Map[String, Column] =
      if (fromS.isEmpty || toS.isEmpty || fromS == toS)
        toS.fields.map(f => f.name -> in(f.name)).toMap
      else {
        val byFid = fromS.fields.zipWithIndex.map { case (f, i) =>
          SnapshotLog.fidOf(f, i) -> f }.toMap
        toS.fields.zipWithIndex.map { case (f, i) =>
          f.name -> (byFid.get(SnapshotLog.fidOf(f, i)) match {
            case Some(ff) =>
              SnapshotLog.alignColumn(ff.dataType, f.dataType, in(ff.name))
            case None => lit(null).cast(f.dataType)
          })
        }.toMap
      }
    // `fromS`'s columns onto the to-version's names
    def onto(fromS: StructType): Map[String, Column] =
      aligned(fromS, if (toCur.isEmpty) fromS else toCur, col)

    // the output projection: base columns via `m`, `extras` appended.
    // The alignment maps land each base column on the TO-version's
    // type, but a stream's output schema stays PINNED for its whole
    // life — reconcile per field: a produced type the pinned type holds
    // losslessly casts up (a stream pinned post-widen replaying narrow
    // history), while a widen_type committed AFTER the stream pinned
    // fails loudly like the rename case — the engine reads the output
    // ordinal by the pinned type, so emitting a LONG into a pinned INT
    // column would silently truncate past Int.MaxValue
    def outsOf(m: Map[String, Column], extras: Seq[Column],
        dataSchema: StructType): Seq[Column] = {
      val srcS = if (toCur.nonEmpty) toCur else dataSchema
      outBase.fields.toSeq.map { f =>
        val c = m.getOrElse(f.name,
          throw new IllegalStateException(
            s"stream column '${f.name}' is not reachable from $tableDir's " +
              "committed schema — the pinned stream schema predates a " +
              "rename/drop; restart the stream"))
        srcS.find(_.name == f.name).map(_.dataType) match {
          case Some(dt) if dt == f.dataType => c.as(f.name)
          case Some(dt) if org.apache.spark.sql.catalyst.expressions.Cast
              .canUpCast(dt, f.dataType) => c.cast(f.dataType).as(f.name)
          case Some(dt) => throw new IllegalStateException(
            s"stream column '${f.name}' of $tableDir is pinned at " +
              s"${f.dataType.simpleString} but the table now produces " +
              s"${dt.simpleString} — a type widening committed after the " +
              "stream started; restart the stream to adopt the widened type")
          case None => c.as(f.name) // pre-schema history: mapping is exact
        }
      } ++ extras
    }
    def group(files: Seq[String], dataSchema: StructType,
        m: Map[String, Column], extras: Seq[Column]): FeedGroup =
      FeedGroup(files.map(p), dataSchema, Some(outsOf(m, extras, dataSchema)))

    // driver-side physical schema of files the manifest carries no
    // epoch schema for (pre-schema history, recorded image files): ONE
    // raw footer read — Spark embeds its schema JSON in the footer
    // key-value metadata, so this is a few ms, not the 100ms+ of a
    // full spark.read resolution per changing version per micro-batch
    def footerSchema(file: String): StructType = {
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(
        new Path(p(file)), spark.sparkContext.hadoopConfiguration))
      val fromMeta =
        try Option(r.getFooter.getFileMetaData.getKeyValueMetaData
          .get("org.apache.spark.sql.parquet.row.metadata"))
          .flatMap(j => scala.util.Try(
            org.apache.spark.sql.types.DataType.fromJson(j)
              .asInstanceOf[StructType]).toOption)
        finally r.close()
      fromMeta.getOrElse(spark.read.parquet(p(file)).schema)
    }

    // files appended by `s` (current-epoch at their own commit), read
    // under `s`'s schema; the steady state (that schema IS the output,
    // no change columns) passes the vectorized batches through
    // UNPROJECTED — `outs = None`
    def appended(s: Snapshot, files: Seq[String],
        extras: Seq[Column]): FeedGroup = {
      val cur = s.epochSchemas.last
      val dataSchema = if (cur.nonEmpty) cur else footerSchema(files.head)
      if (extras.isEmpty && (toCur.isEmpty || sameShape(toCur, dataSchema)) &&
          sameShape(dataSchema, outBase))
        FeedGroup(files.map(p), dataSchema, None)
      else group(files, dataSchema, onto(dataSchema), extras)
    }

    // `files` of `s` read under the epochs that wrote them, fid-aligned
    // epoch → s-current → to-current
    def epochGroups(s: Snapshot, files: Seq[String],
        extras: Seq[Column]): Seq[FeedGroup] =
      files.groupBy(s.schemaIdxOf).toSeq.sortBy(_._1).map { case (ep, g) =>
        val epochS = s.epochSchemas(ep)
        val dataSchema = if (epochS.nonEmpty) epochS else footerSchema(g.head)
        val cur = if (s.epochSchemas.last.isEmpty) dataSchema
          else s.epochSchemas.last
        group(g, dataSchema, aligned(cur,
          if (toCur.isEmpty) cur else toCur, aligned(dataSchema, cur, col)),
          extras)
      }

    val walk = versionWalk(from, to)
    if (!rowLevel) {
      // appends committed under one schema read as ONE group (keyed by
      // that schema, held with its first version): the steady state
      // plans all its files as one scan
      val bySchema = scala.collection.mutable
        .LinkedHashMap.empty[String, (Snapshot, Vector[String])]
      walk.foreach { case (s, parent) =>
        if (!skipChangeCommits && SnapshotLog.FeedChangeOps(s.op))
          throw new IllegalStateException(
            s"change feed of $tableDir is insert-only but version " +
              s"${s.version} is a '${s.op}'; resync the consumer from a " +
              "full read, set skipChangeCommits=true to stream past " +
              "row-removing commits, or set readChangeFeed=true on a " +
              "feed-enabled table to receive them as row-level deletes")
        if (s.op == "append") {
          val (first, fs) = bySchema.getOrElse(s.schemaJson, (s, Vector.empty))
          bySchema(s.schemaJson) = (first, fs ++ addedOver(s, parent))
        }
      }
      return bySchema.values.toSeq.collect {
        case (s, fs) if fs.nonEmpty => appended(s, fs, Nil) }
    }

    walk.flatMap { case (s, parent) =>
      val v = s.version
      val cdc = (ct: Column) =>
        Seq(ct.as("_change_type"), lit(v).as("_commit_version"))
      s.op match {
        case "append" =>
          val added = addedOver(s, parent)
          if (added.isEmpty) Nil
          else Seq(appended(s, added, cdc(lit("insert"))))
        case "truncate" | "overwrite" =>
          // both sides derive BY REFERENCE, no recorded images needed
          // (so these ops feed even on tables without the CDC opt-in):
          // the deleted pre-images are the parent's LOGICAL table — over
          // merge-on-read debt the composed scan, or rows a pending
          // delete already removed would image twice — and an
          // overwrite's inserts are exactly its committed files
          val dels = parent.filter(_.files.nonEmpty).toSeq.flatMap { par =>
            if (par.tombstones.nonEmpty || par.files.exists(par.dvs.contains)) {
              val df = scan(par, par.files)
              val parCur = if (par.epochSchemas.last.isEmpty) df.schema
                else par.epochSchemas.last
              Seq(FeedFrame(v, "pre", df.select(
                outsOf(onto(parCur), cdc(lit("delete")), parCur): _*)))
            } else epochGroups(par, par.files, cdc(lit("delete")))
          }
          dels ++ epochGroups(s, s.files, cdc(lit("insert")))
        case "delete" | "merge" | "delete_keys" | "update" | "replace_where" =>
          val cs = s.changes.getOrElse(throw new IllegalStateException(
            s"$tableDir v$v is a '${s.op}' with no recorded change images " +
              "(committed before the table was changeFeed-enabled) — " +
              "row-level reads cannot span it; resync from a full read"))
          val images =
            if (cs.files.isEmpty) Nil
            else {
              val dataSchema = footerSchema(cs.files.head)
              // base columns by the version's MANIFEST schema (name
              // lookups then hit the files' columns by name) — never the
              // footer's, whose positional fid fallback would misalign
              // against the change columns
              val vs = s.epochSchemas.last
              val m = onto(if (vs.nonEmpty) vs else dataSchema)
              val hasPair = dataSchema.fieldNames.contains(SnapshotLog.PairCol)
              val rawType = col("_change_type")
              if (fourType && s.op == "merge" && !hasPair &&
                  cs.keyColumn.nonEmpty) {
                // images recorded before pair tags: pair on the recorded
                // merge key (comma-joined for composite-key clause
                // merges) — a delete image whose key also has an insert
                // post-image is half of an update pair; a delete with NO
                // post-image is a genuine delete (a matched-DELETE
                // clause), an insert with no pre-image a genuine insert.
                // Two semi/anti joins per merge version, O(batch)
                val img = spark.read
                  .schema(org.apache.spark.sql.GraftBridge.asNullable(dataSchema))
                  .parquet(cs.files.map(p): _*)
                val ks = cs.keyColumn.split(",").toSeq
                val pre = img.where(rawType === "delete")
                val ins = img.where(rawType === "insert")
                val preKeys = pre.select(ks.map(col): _*).distinct()
                val insKeys = ins.select(ks.map(col): _*).distinct()
                val typed = pre.join(insKeys, ks, "left_semi")
                  .withColumn("_change_type", lit("update_preimage"))
                  .unionByName(pre.join(insKeys, ks, "left_anti"))
                  .unionByName(ins.join(preKeys, ks, "left_semi")
                    .withColumn("_change_type", lit("update_postimage")))
                  .unionByName(ins.join(preKeys, ks, "left_anti"))
                Seq(FeedFrame(v, "fourtype",
                  typed.select(outsOf(m, cdc(rawType), dataSchema): _*)))
              } else {
                val ct =
                  if (fourType && s.op == "update")
                    // every image of an update commit is half of a pair
                    // by construction — re-type unconditionally
                    org.apache.spark.sql.functions.when(
                      rawType === "delete", "update_preimage")
                      .otherwise("update_postimage")
                  else if (fourType && s.op == "merge" && hasPair)
                    // tagged at write time: exact and join-free
                    org.apache.spark.sql.functions.when(
                      col(SnapshotLog.PairCol) && rawType === "delete",
                      "update_preimage")
                      .when(col(SnapshotLog.PairCol) && rawType === "insert",
                        "update_postimage")
                      .otherwise(rawType)
                  else rawType
                Seq(group(cs.files, dataSchema, m, cdc(ct)))
              }
            }
          // the PARENT snapshot still lists (and epoch-tags) the
          // dropped files — read them under the epochs that wrote them
          images ++ epochGroups(parent.getOrElse(s), cs.deletedDataFiles,
            cdc(lit("delete")))
        case "restore" => throw new IllegalStateException(
          s"$tableDir v$v is a restore — a rollback is not expressible " +
            "as row changes; resync the consumer from a full read")
        case _ => Nil // physical rewrite: the table changed, rows didn't
      }
    }.toSeq
  }

  /** Append `df` as a new version. Safe under concurrent appenders:
    * stage once, then retry the manifest CAS against the fresh parent —
    * appends commute, the staged files stay valid across retries.
    *
    * Schema evolution: an append may ADD columns (they join the merged
    * read schema; older files read them as null) but may not change an
    * existing column's type — that aborts before anything commits.
    * Columns absent from this append but present in the table read as
    * null from the new files the same way.
    *
    * `preArranged` — the caller already clustered `df` by the table's
    * partition transforms and sorted within partitions (the SQL write
    * path's [[org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering]]
    * exchange): the stage skips its own repartition+sort, so the plan
    * carries exactly ONE AQE-visible exchange. */
  def append(df: DataFrame, preArranged: Boolean = false): Snapshot =
    commitStagedAppend(stage(df, preArranged = preArranged))

  /** Commit files the NATIVE DSv2 batch write already landed in `data/`
    * ([[graft.table.LogAppendWrite]] — per-task parquet writers, exact
    * per-file row counts and partition tuples in the commit messages):
    * the driver half of staging (footer stats lift, bloom build, byte
    * accounting) runs here, then the SAME append-commit loop as the
    * DataFrame path — spec guard, policy guard, schema merge, CAS.
    * `listedChecks` are the CHECK constraints in force when the write
    * planned (the writers counted violations; the caller aborted on
    * any) — [[policyGuard]] re-compares at commit time, closing the
    * claim-then-validate window exactly like [[stage]]'s listing. */
  private[graft] def commitNativeAppend(
      files: Seq[(String, Seq[String], Long)], // (name, tuple, rows)
      schemaJson: String, spec: Seq[PartitionField],
      listedChecks: Map[String, String]): Snapshot =
    commitStagedAppend(nativeStaged(files, schemaJson, spec, listedChecks))

  /** [[commitNativeAppend]]'s EXACTLY-ONCE sibling for the DSv2
    * STREAMING sink: the same (appId, batchId) transaction watermark as
    * [[appendStream]], checked against the fresh parent inside the CAS
    * loop. A replayed epoch (crash between the sink commit and the
    * engine's checkpoint write re-runs the batch, so its tasks re-wrote
    * physical files) deletes the re-written files and commits nothing —
    * returns None. */
  private[graft] def commitNativeAppendTxn(
      files: Seq[(String, Seq[String], Long)],
      schemaJson: String, spec: Seq[PartitionField],
      listedChecks: Map[String, String],
      appId: String, batchId: Long): Option[Snapshot] = {
    if (replayed(headOrEmpty(), Some((appId, batchId)))) {
      files.foreach(f => fs.delete(new Path(dataDir, f._1), false))
      return None // replay detected before the footer lift
    }
    commitStagedAppendTxn(
      nativeStaged(files, schemaJson, spec, listedChecks),
      Some((appId, batchId)))
  }

  /** Complete-mode streaming sibling of [[commitNativeOverwriteAll]]:
    * each epoch atomically REPLACES the table under the same
    * transaction watermark; a replayed epoch deletes its files and
    * commits nothing. */
  private[graft] def commitNativeOverwriteAllTxn(
      files: Seq[(String, Seq[String], Long)],
      schemaJson: String, spec: Seq[PartitionField],
      listedChecks: Map[String, String],
      appId: String, batchId: Long): Option[Snapshot] = {
    val base = headOrEmpty()
    if (replayed(base, Some((appId, batchId)))) {
      files.foreach(f => fs.delete(new Path(dataDir, f._1), false))
      return None
    }
    Some(overwriteAllStaged(base,
      nativeStaged(files, schemaJson, spec, listedChecks),
      Some((appId, batchId))))
  }

  /** RTAS support ([[GraftTableCatalog]]'s StagingTableCatalog): drop
    * every stored artifact of this table EXCEPT the given still-inert
    * data files (the staged replacement batch) and the durable
    * [[publishPendingReplace]] marker — the whole manifest log
    * (versions, segments, constraint records) and the old data. Routes
    * metadata deletes through the COMMIT STORE, not the filesystem, so
    * a remote-manifest table clears its actual metadata plane. Runs
    * only after the replacement's v1 manifest is durable under the
    * pending marker, so a crash at any point here is recovered by
    * [[currentVersion]]'s pending-replace promotion — the table is
    * never lost. */
  private[graft] def clearForReplace(keepDataFiles: Set[String]): Unit = {
    store.list().filterNot(_ == SnapshotLog.PendingReplaceName)
      .foreach(store.delete)
    segCache.clear(); segNamesCache.clear(); snapParseCache.clear()
    if (fs.exists(dataDir))
      fs.listStatus(dataDir).foreach { st =>
        if (!keepDataFiles(st.getPath.getName)) fs.delete(st.getPath, true)
      }
  }

  /** The v1 snapshot of a FRESH chain from a native-write batch — the
    * shared assembly of [[commitNativeCreate]] and
    * [[replacementV1Bytes]]. No [[policyGuard]]: a create's directory
    * has no constraint refs yet, and an RTAS's listed refs are the OLD
    * table's policy, which fresh-history REPLACE deliberately drops
    * (the staged write already enforced the DECLARED checks
    * writer-side; they attach post-publish). */
  private def freshRootSnapshot(staged: Staged): Snapshot = {
    specGuard(staged, EmptySnapshot)
    swapFiles(emptied(EmptySnapshot), Set.empty, staged).copy(
      version = 1L, op = "append", rows = staged.rows, bytes = staged.bytes,
      schemaJson = staged.schemaJson)
  }

  /** Atomic staged-CTAS publish: the table's FIRST commit, required to
    * land at version 1 in a single CAS attempt — two concurrent staged
    * CTAS for the same identifier race for the v1 slot and exactly one
    * wins; the loser's files are discarded and None returns (the
    * catalog surfaces TableAlreadyExistsException). The retrying append
    * loop would instead land the loser as a v2 APPEND, silently merging
    * two CTAS result sets. */
  private[graft] def commitNativeCreate(
      files: Seq[(String, Seq[String], Long)],
      schemaJson: String, spec: Seq[PartitionField],
      listedChecks: Map[String, String]): Option[Snapshot] = {
    val staged = nativeStaged(files, schemaJson, spec, listedChecks)
    commit("append", Abort, Seq(staged), base = Some(EmptySnapshot),
      skip = _.version > 0)(_ => freshRootSnapshot(staged))
  }

  /** Step 1 of the atomic RTAS publish: render the replacement's
    * COMPLETE v1 manifest (footer-stats lift, blooms, byte accounting —
    * the full staged commit, serialized inline) without touching the
    * live chain. Inline layout regardless of file count — always a
    * valid manifest; later commits re-segment past the threshold. */
  private[graft] def replacementV1Bytes(
      files: Seq[(String, Seq[String], Long)],
      schemaJson: String, spec: Seq[PartitionField],
      listedChecks: Map[String, String]): Array[Byte] = {
    val staged = nativeStaged(files, schemaJson, spec, listedChecks)
    val v1 = try freshRootSnapshot(staged)
      catch { case e: Throwable => discard(staged); throw e }
    mapper.writeValueAsBytes(inlineManifestNode(v1))
  }

  /** Step 2: make the replacement DURABLE under the pending marker
    * while the old table is still fully intact — from here on a crash
    * anywhere in the clear+promote span is recovered by
    * [[currentVersion]], so the old contract's lost-table window is
    * gone. An existing marker is treated as a LIVE concurrent RTAS —
    * the second replacer loses the marker CAS and aborts before
    * destroying anything — unless it is PROVABLY stale (FS-backed
    * stores: mtime past the vacuum grace window — a prior RTAS that
    * crashed before its clear; the old table stayed current), in which
    * case it sweeps and the CAS retries once. Sweeping unconditionally
    * would let two concurrent RTAS each delete the other's fresh
    * marker and both proceed into clearForReplace — each clears with
    * `keepDataFiles = its own files`, deleting the other side's staged
    * data while that side's manifest can still be promoted: a v1
    * pointing at deleted files. Non-FS stores have no mtime to prove
    * staleness with, so a crashed marker there is cleared by
    * [[vacuum]]'s FS sibling on the same dir or operator action, never
    * raced past here. */
  private[graft] def publishPendingReplace(bytes: Array[Byte]): Unit = {
    def conflict(): Nothing = throw new CommitConflictException(
      s"concurrent REPLACE TABLE in flight on $tableDir")
    if (!store.putIfAbsent(SnapshotLog.PendingReplaceName, bytes)) {
      val staleSwept = store0.isEmpty && {
        val pr = new Path(logDir, SnapshotLog.PendingReplaceName)
        fs.exists(pr) && fs.getFileStatus(pr).getModificationTime <
          System.currentTimeMillis() - SnapshotLog.ReplaceMarkerGraceMs &&
          { fs.delete(pr, false); true }
      }
      if (!staleSwept || !store.putIfAbsent(SnapshotLog.PendingReplaceName,
          bytes))
        conflict()
    }
  }

  /** Step 4 (after [[clearForReplace]]): promote the pending bytes to
    * the v1 manifest and drop the marker. Tolerates having been raced
    * by [[currentVersion]]'s recovery (identical bytes already at v1);
    * a DIFFERENT v1 means a concurrent create won the fresh slot —
    * refuse rather than clobber it. */
  private[graft] def promotePendingReplace(bytes: Array[Byte]): Snapshot = {
    publishDeclaredCols()
    if (!publishManifest(1, bytes) &&
        !store.get(manifestName(1)).exists(_.sameElements(bytes))) {
      store.delete(SnapshotLog.PendingReplaceName)
      throw new CommitConflictException(
        s"REPLACE TABLE on $tableDir lost its publish slot to a " +
          "concurrent create")
    }
    store.delete(SnapshotLog.PendingReplaceName)
    snapParseCache.clear()
    snapshot(1)
  }

  /** [[commitNativeAppend]]'s sibling for the unconditioned
    * `INSERT OVERWRITE`: same driver-side lift, the overwrite commit
    * (single CAS attempt — a full replace retried past an unseen
    * commit would silently drop that commit's rows). */
  private[graft] def commitNativeOverwriteAll(
      files: Seq[(String, Seq[String], Long)],
      schemaJson: String, spec: Seq[PartitionField],
      listedChecks: Map[String, String]): Snapshot =
    overwriteAllStaged(headOrEmpty(),
      nativeStaged(files, schemaJson, spec, listedChecks), None)

  /** The native write's `INSERT OVERWRITE ... PARTITION` commit: the
    * fused replace_where over a pre-written batch. CDC insert images
    * read BACK from the written files (the staged path images the
    * incoming frame — same rows either way). */
  private[graft] def commitNativeOverwriteWhere(
      preds0: Seq[(String, Any, Any)],
      files: Seq[(String, Seq[String], Long)],
      writeSchema: org.apache.spark.sql.types.StructType,
      spec: Seq[PartitionField],
      listedChecks: Map[String, String]): Snapshot = {
    val base = snapshot()
    requireNoTombstones(base, "a region overwrite (rewriting covered " +
      "files raw would resurrect tombstoned rows)")
    def newRows: DataFrame =
      if (files.isEmpty) spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], writeSchema)
      else spark.read.schema(writeSchema).parquet(
        files.map(f => new Path(dataDir, f._1).toString): _*)
    overwriteWhereStaged(base, preds0,
      nativeStaged(files, writeSchema.json, spec, listedChecks),
      newRows, None)
  }

  /** Driver-side lift for files the NATIVE write already landed in
    * `data/`: footer stats, blooms, byte accounting — the half of
    * [[stage]] that is not the data write itself. */
  private def nativeStaged(
      files: Seq[(String, Seq[String], Long)],
      schemaJson: String, spec: Seq[PartitionField],
      listedChecks: Map[String, String]): Staged = {
    val infos = files.map { case (n, tuple, rows) =>
      val p = new Path(dataDir, n)
      val len = fs.getFileStatus(p).getLen
      val (fRows, fStats) = footerInfo(p, wantRows = true)
      (n, len, fStats, if (fRows >= 0) fRows else rows, tuple)
    }
    val rowsTotal = infos.map(_._4).sum
    val blooms: Map[String, Map[String, String]] =
      if (bloomCols.isEmpty || infos.isEmpty) Map.empty
      else FileBlooms.build(spark,
        infos.map(i => new Path(dataDir, i._1).toString),
        bloomCols, expectedItems = rowsTotal / infos.size + 64)
    Staged(infos.map(_._1), rowsTotal, infos.map(_._2).sum,
      infos.collect { case (n, _, st, _, _) if st.nonEmpty => n -> st }.toMap,
      schemaJson,
      infos.map(i => i._1 -> i._4).toMap,
      blooms,
      infos.map(i => i._1 -> i._2).toMap,
      infos.collect { case (n, _, _, _, t) if t.nonEmpty => n -> t }.toMap,
      Some(listedChecks), spec)
  }

  private def commitStagedAppend(staged: Staged): Snapshot =
    commitStagedAppendTxn(staged, None).get

  /** The one append commit every append tier runs — typed,
    * native-batch, foreachBatch stream, DSv2 streaming sink — rebased
    * onto the fresh head on every lost slot (appends commute). `txn`
    * carries the exactly-once (appId, batchId) watermark: a replayed
    * batch is detected against each attempt's FRESH parent (the check
    * and the commit cannot race), the staged files are discarded, and
    * None returns without committing. */
  private def commitStagedAppendTxn(staged: Staged,
      txn: Option[(String, Long)]): Option[Snapshot] =
    commit("append", Rebase, Seq(staged), skip = replayed(_, txn)) { base =>
      specGuard(staged, base)
      policyGuard(staged)
      swapFiles(base, Set.empty, staged).copy(
        rows = base.rows + staged.rows, bytes = base.bytes + staged.bytes,
        schemaJson = mergeSchemaJson(base, staged.schemaJson),
        txns = txnsAfter(base, txn), partitionSpec = commitSpec(base),
        sortOrder = commitSort(base), cdc = commitCdc(base), changes = None)
    }

  /** Exactly-once micro-batch append for Structured Streaming's
    * `foreachBatch`: the manifest records the highest committed batch id
    * per `appId`, and a replayed batch (same or lower id — exactly what
    * a restarted stream re-delivers) is detected INSIDE the commit loop
    * and skipped without committing, so the check and the commit cannot
    * race. Returns None for a skipped replay. Usage:
    * {{{ ds.writeStream.foreachBatch(log.streamSink("ingest")).start() }}} */
  def appendStream(df: DataFrame, appId: String, batchId: Long): Option[Snapshot] = {
    val cur = currentVersion()
    val pre = if (cur > 0) Some(snapshot(cur)) else None
    if (pre.exists(_.txns.get(appId).exists(_ >= batchId)))
      return None // replay detected before staging any data
    commitStagedAppendTxn(stage(df, base = pre), Some((appId, batchId)))
  }

  /** [[appendStream]] curried for `DataStreamWriter.foreachBatch`. */
  def streamSink(appId: String): (DataFrame, Long) => Unit =
    (df, batchId) => { appendStream(df, appId, batchId); () }

  /** Exactly-once batch append keyed on an arbitrary idempotence token
    * (a promotion's run id): the token rides the same `txns` watermark
    * as streaming batch ids, so a promotion that crashed AFTER its data
    * commit but BEFORE its ledger update cannot re-append the run when
    * the drain reruns — the replay is detected inside the commit loop
    * and returns None. This is the log-backed prepared layer's
    * exactly-once contract; the bare-directory path only gets
    * at-least-once from the ledger's pending scan. */
  def appendRun(df: DataFrame, runKey: String): Option[Snapshot] =
    appendStream(df, runKey, 0L)

  /** Whether rows can join this table in the files they already sit in:
    * no partition spec or sort order in force and no CHECK constraint —
    * nothing a staged write would route, arrange or validate row by row.
    * [[appendRunFiles]]'s precondition. */
  private[graft] def takesFilesAsIs(): Boolean =
    liveWriteShape() == ((Nil, Nil)) && constraints().isEmpty

  /** [[appendRun]] for a run that already sits in parquet files of this
    * table's shape (a raw run, written through
    * [[SnapshotLog.microsTimestamps]] like a staged write): the files are
    * copied byte for byte into `data/` under commit-unique names — one
    * Spark job, one task per file ([[ParquetCopy]]) — and committed
    * through the same append-commit loop and `txns` watermark, so no row
    * is decoded or re-encoded. `schema` is the files' schema, recorded as
    * a staged write of the same rows would record it. The copies'
    * footers must hold `expectRows` rows in total, or they are deleted
    * and this throws before committing. Only for a table that
    * [[takesFilesAsIs]]: a spec or constraint added meanwhile aborts the
    * commit ([[specGuard]], [[policyGuard]]). Returns None, copying
    * nothing, for a replayed run key. */
  private[graft] def appendRunFiles(files: Seq[Path],
      schema: org.apache.spark.sql.types.StructType, runKey: String,
      expectRows: Long): Option[Snapshot] = {
    if (replayed(headOrEmpty(), Some(runKey -> 0L)))
      return None // replay detected before copying any data
    val commitId = UUID.randomUUID().toString.take(8)
    val names = files.map(f => s"$commitId-${f.getName}")
    val copied = names.zip(ParquetCopy.copy(spark,
      files.zip(names.map(new Path(dataDir, _))), expectRows))
    val rows = copied.map(_._2._2).sum
    val blooms =
      if (bloomCols.isEmpty || names.isEmpty) Map.empty[String, Map[String, String]]
      else FileBlooms.build(spark, names.map(new Path(dataDir, _).toString),
        bloomCols, expectedItems = rows / names.size + 64)
    commitStagedAppendTxn(Staged(names, rows, copied.map(_._2._1).sum,
      names.map(n => n -> footerInfo(new Path(dataDir, n))._2)
        .filter(_._2.nonEmpty).toMap,
      schema.json, copied.map { case (n, (_, r)) => n -> r }.toMap, blooms,
      copied.map { case (n, (b, _)) => n -> b }.toMap,
      checkedNames = Some(Map.empty)), Some(runKey -> 0L))
  }

  /** Row-preserving full rewrite (compaction, re-clustering): transform
    * the CURRENT snapshot, verify rows-written == rows-before from an
    * `Observation` on the write job, commit as a `replace`.
    *
    * Concurrency: a rewrite that loses the manifest CAS to concurrent
    * APPENDS commits anyway — see [[commitReplacing]] (the appended
    * files are disjoint from the rewrite's input by construction, so
    * carrying them into the new manifest is exact). Any row-REMOVING
    * concurrent commit aborts — the rewrite's input no longer equals
    * the table — leaving every committed version intact; the caller
    * reruns against the new current. */
  def rewrite(op: String)(transform: DataFrame => DataFrame): Snapshot = {
    val base = snapshot()
    // the rewrite consumes the tombstone-applied read, so it MATERIALIZES
    // any pending key tombstones; expected rows are then the logical
    // count (one extra counting pass — only ever paid when tombstones
    // are pending), not the physical manifest total
    val expectedRows =
      if (base.tombstones.isEmpty) base.rows else read(base.version).count()
    replaceVerified(op, base, base.files, base.rows, base.bytes, expectedRows,
      transform(read(base.version)))
  }

  /** Stage `df` as the replacement for `replaced` (`replacedRows` and
    * `replacedBytes` are that set's PHYSICAL manifest totals) and commit
    * it through [[commitReplacing]] — only when the staged rows equal
    * `expected`; otherwise the staged files go and this throws, the
    * table untouched. */
  private def replaceVerified(op: String, base: Snapshot,
      replaced: Seq[String], replacedRows: Long, replacedBytes: Long,
      expected: Long, df: DataFrame): Snapshot = {
    val staged = stage(df, base = Some(base))
    if (staged.rows != expected) {
      discard(staged)
      throw new IllegalStateException(
        s"$op row-count mismatch for $tableDir: $expected rows expected, " +
          s"${staged.rows} rewritten — aborted, table untouched")
    }
    commitReplacing(op, base, replaced, replacedRows, replacedBytes, staged)
  }

  /** Commit `staged` as the replacement for `replaced`
    * (`replacedRows`/`replacedBytes` are the PHYSICAL manifest totals of
    * that set), resolving rewrite-vs-append races instead of aborting.
    *
    * At 100 TB a re-clustering pass runs for hours while ingestion keeps
    * appending; first-writer-wins would starve maintenance forever (or
    * force it to redo the whole rewrite per lost race). Resolution is
    * safe exactly when every commit that interleaved since the rewrite's
    * base is a pure `append`: appends only ADD files, never touch the
    * replaced set, so the rewrite's staged output is still a correct
    * replacement — the retry re-reads the newest snapshot and carries
    * its appended files (and their stats/blooms/txns watermarks, and any
    * widened schema) into the next manifest unchanged. Data files are
    * immutable, so the staged files stay valid across every retry; only
    * a fresh manifest is written. Any interleaved row-removing or
    * history-changing op (`delete`/`merge`/`delete_keys`/`restore` — the
    * staged bytes may still hold rows such a commit removed) aborts with
    * [[CommitConflictException]], leaving every committed version
    * intact.
    *
    * Tombstone soundness on resolution: appends carry the tombstone set
    * forward untouched, and a tombstone's `appliesTo` scope is fixed at
    * delete time — appended files are never covered. So a rewrite that
    * materialized `base`'s pending tombstones still clears them, and
    * files appended mid-rewrite carry over raw, exactly as if the
    * rewrite had committed first. */
  private def commitReplacing(op: String, base: Snapshot,
      replaced: Seq[String], replacedRows: Long, replacedBytes: Long,
      staged: Staged): Snapshot = {
    val gone = replaced.toSet
    commit(op, OverAppends, Seq(staged), base = Some(base)) { cur =>
      // an interleaved evolve_spec aborts (op != append), but an
      // interleaved APPEND that introduced a spec onto a previously
      // spec-less table would slip through the op check — the guard
      // catches that the staged files carry no (or stale) tuples
      specGuard(staged, cur)
      policyGuard(staged)
      // a rewrite of a DV-covered file consumed the DV-applied read —
      // its vector is MATERIALIZED and drops with the file; likewise a
      // rewrite re-stages under CURRENT column names, draining the
      // rename debt of everything it replaced
      swapFiles(cur, gone, staged).copy(
        rows = cur.rows - replacedRows + staged.rows,
        bytes = cur.bytes - replacedBytes + staged.bytes,
        schemaJson = mergeSchemaJson(cur, staged.schemaJson),
        tombstones = Nil, partitionSpec = commitSpec(cur),
        sortOrder = commitSort(cur), cdc = commitCdc(cur), changes = None)
    }.get
  }

  /** Range delete: drop rows with `column` in [lo, hi]. Only files
    * whose recorded range intersects the predicate participate at all
    * (files without a recorded range participate too — absence is
    * conservative); every other file carries over BY NAME, untouched
    * bytes AND untouched metadata. Per participating file the planner
    * then picks the cheapest sound mechanism from ONE exact counting
    * pass: provably-all-matching files DROP as pure manifest arithmetic
    * (zero I/O); mostly-matching files REWRITE copy-on-write; sparsely-
    * matching files get a positional DELETION VECTOR — O(matched rows)
    * committed, the file untouched, the anti-join applied at read and
    * materialized by [[materializeDeletes]]/[[compact]]. At 100 TB that
    * third arm is the difference between a seconds-commit and rewriting
    * nearly every straddled file for a handful of rows each. Commits as
    * op `delete` with `rows` decreasing by the exact deleted count; a
    * concurrent commit aborts, like [[rewrite]]. Returns None when no
    * row can match — nothing commits. Prior versions still read the
    * deleted rows (time travel is the undo), until [[vacuum]] passes
    * the horizon. */
  def deleteBetween(column: String, lo: Any, hi: Any): Option[Snapshot] =
    deleteWhere((column, lo, hi))

  /** [[deleteBetween]] generalized to a conjunction — the write-path
    * twin of [[readWhere]]: a row is deleted iff EVERY predicate holds,
    * and a file rewrites only if EVERY predicate's recorded range
    * intersects it. On a z-ordered table a box delete (e.g. one user's
    * rows in one time slice) rewrites just the curve cells the box
    * crosses. NULL-keyed rows never match (SQL DELETE semantics). */
  def deleteWhere(preds: (String, Any, Any)*): Option[Snapshot] =
    deleteWhereTxn(preds, None)

  /** [[deleteWhereTxn]] generalized to an ARBITRARY deterministic row
    * predicate — OR-trees, expressions over columns, anything a
    * `WHERE` clause can say short of a subquery. `hints` are the
    * range-convertible conjuncts of the SAME condition (each must be
    * implied by `cond` — a row matching `cond` matches every hint):
    * they scope the candidate set through stats/partition pruning
    * exactly like [[deleteWhere]]'s predicates, while the EXACT
    * per-file match counts (and the rewrite/DV staging) come from the
    * full predicate, so correctness never depends on the hints. With
    * no hints every file is a candidate — the honest cost of an
    * arbitrary predicate (one counting pass over the table; still
    * O(matched) committed through the DV arm). Metadata-only
    * whole-file drops don't apply (file stats cannot prove an
    * arbitrary predicate matches every row). The change feed records
    * the predicate as round-trip-validated SQL TEXT
    * ([[ChangeSet.predSql]]) so mirrors replay it; an unrenderable
    * expression degrades to rows-only images + the resync contract.
    * NULL-valued conditions never match, matching SQL `WHERE`. */
  def deleteWhereExpr(cond: Column,
      hints: Seq[(String, Any, Any)] = Nil,
      txn: Option[(String, Long)] = None,
      semis: Seq[SemiTag] = Nil): Option[Snapshot] = {
    requireDeterministic(cond, "deleteWhereExpr")
    deleteCore(hints, Some(cond), txn, semis)
  }

  /** A general predicate must be deterministic: the exact-counting
    * planner re-evaluates it across the counting, rewrite and DV
    * staging passes (they must agree row-for-row), and the change feed
    * replays it on mirrors. Spark itself refuses non-deterministic
    * expressions inside the counting aggregate — this guard says it in
    * this API's words, before any work runs. Determinism is only
    * decidable on the RESOLVED expression (an unresolved function node
    * reports deterministic vacuously), so the condition resolves
    * against the table's schema here; an unresolvable condition passes
    * through to fail with the planner's own error. */
  private def requireDeterministic(cond: Column, what: String): Unit = {
    val base = snapshot()
    if (base.schemaJson.isEmpty) return
    val schema = org.apache.spark.sql.types.DataType.fromJson(base.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val dummy = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    scala.util.Try(org.apache.spark.sql.GraftBridge
      .logicalPlan(dummy.where(cond))).foreach { plan =>
      val det = plan.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          f.condition.deterministic
      }.getOrElse(true)
      require(det,
        s"$what on $tableDir: the predicate is non-deterministic — the " +
          "planner's counting, rewrite and staging passes must agree " +
          "row-for-row; compute the condition into a column first")
    }
  }

  /** [[deleteWhere]] with the exactly-once `(appId, batchId)` watermark
    * contract of [[appendStream]]/[[deleteKeys]]: an already-committed
    * batch id returns None without staging — what lets [[LogMirror]]
    * REPLAY a source's predicate delete on a replica idempotently (the
    * predicate ships in the source's [[ChangeSet]]; replaying it prunes
    * on the replica's own stats instead of shipping pre-image rows).
    * Planned by [[planRemoval]]: whole-file drops first, then per file
    * copy-on-write or a deletion vector by matched fraction
    * ([[SnapshotLog.DvRewriteFraction]]). */
  def deleteWhereTxn(preds0: Seq[(String, Any, Any)],
      txn: Option[(String, Long)] = None): Option[Snapshot] = {
    require(preds0.nonEmpty, "deleteWhere needs at least one (column, lo, hi)")
    deleteCore(preds0, None, txn)
  }

  /** `cond` as round-trippable SQL text — empty when the expression is
    * non-deterministic or does not survive a render→parse round trip
    * (the change feed then records rows-only images and mirrors use
    * the resync contract). Validated HERE, at commit time, so a
    * recorded predicate always replays. */
  private def renderPredSql(cond: Column): String = {
    val e = org.apache.spark.sql.GraftBridge.toExprEager(spark, cond)
    if (!e.deterministic) return ""
    // session-dependence guard: a syntactically round-trippable render
    // can still change MEANING on replay — a timestamp Literal renders
    // through the session timezone, and any TimeZoneAwareExpression
    // (string↔timestamp casts, date_trunc, from_utc_timestamp, ...)
    // re-evaluates under the REPLAY session's zone/ANSI confs, so a
    // mirror in a different timezone would silently delete/update
    // different rows. Refuse to record those (the mirror degrades to
    // its resync contract, which is exact); the typed ChangePred path
    // encodes bounds by value and stays unaffected.
    val tzSensitive = e.exists {
      // casts are TimeZoneAwareExpression unconditionally; only the
      // from/to pairs that actually consult the zone are a replay risk
      // (an int→long widening cast must not cost the mirror replay)
      case c: org.apache.spark.sql.catalyst.expressions.Cast =>
        c.needsTimeZone
      case _: org.apache.spark.sql.catalyst.expressions.TimeZoneAwareExpression => true
      case l: org.apache.spark.sql.catalyst.expressions.Literal =>
        l.dataType.isInstanceOf[org.apache.spark.sql.types.TimestampType] ||
          l.dataType.isInstanceOf[org.apache.spark.sql.types.TimestampNTZType]
      case _ => false
    }
    if (tzSensitive) return ""
    scala.util.Try(e.sql).toOption.filter(sql =>
      scala.util.Try(spark.sessionState.sqlParser.parseExpression(sql))
        .isSuccess).getOrElse("")
  }

  private def deleteCore(preds0: Seq[(String, Any, Any)],
      extraCond: Option[Column],
      txn: Option[(String, Long)],
      semis: Seq[SemiTag] = Nil): Option[Snapshot] = {
    // metadata-only drops need PROOF every row matches — file stats can
    // give it for range conjunctions, never for an arbitrary predicate
    val p = planRemoval("delete", preds0, extraCond, semis, txn,
      dropWhole = extraCond.isEmpty && semis.isEmpty).getOrElse(return None)
    // CDC images: deleted rows from BOTH straddling paths materialize as
    // a change file (one extra pass over just the straddling files — the
    // bounded commit-time cost the feed opt-in buys); whole-file drops
    // ship BY REFERENCE in deletedDataFiles, zero new bytes
    val changeStaged =
      if (p.feed.isEmpty || p.matchedRows == 0) None
      else {
        val st = stage(p.matched().withColumn("_change_type", lit("delete")),
          partitioned = false)
        if (st.rows == 0) { discard(st); None } else Some(st)
      }
    commit("delete", Abort, p.staged ++ changeStaged,
        base = Some(p.base)) { base =>
      swapFiles(base, p.gone, p.survivors.toSeq: _*).copy(
        rows = base.rows - p.droppedRows - p.matchedRows,
        bytes = base.bytes - p.replacedBytes + p.survivors.fold(0L)(_.bytes),
        txns = txnsAfter(base, txn), tombstones = Nil,
        partitionSpec = commitSpec(base), sortOrder = commitSort(base),
        cdc = p.feed.isDefined,
        changes = p.feed.map(_.copy(
          files = changeStaged.map(_.files).getOrElse(Nil))),
        dvs = p.dvs)
    }
  }

  /** A predicate DELETE's or UPDATE's row removal as [[planRemoval]]
    * planned and staged it, against `base`:
    *  - `droppedRows` — rows of the metadata-only whole-file drops;
    *  - `matchedRows` — matched rows of the counted files, exact;
    *  - `survivors`/`dv` — the staged rewrite survivors and vector file;
    *  - `gone` — the files the commit dereferences; `dvs` — the next
    *    vector map; `replacedBytes` — the bytes of `gone`;
    *  - `feed` — the change set without image files on a feed-enabled
    *    table (dropped files by reference, the predicates when they
    *    replay), None otherwise;
    *  - `matched` — the matched rows of the counted files under the
    *    live schema: the pre-images, and UPDATE's rows to re-assign. */
  private final case class Removal(base: Snapshot,
      droppedRows: Long, matchedRows: Long,
      survivors: Option[Staged], dv: Option[Staged],
      gone: Set[String], dvs: Map[String, Seq[String]],
      replacedBytes: Long, feed: Option[ChangeSet],
      matched: () => DataFrame) {
    def staged: Seq[Staged] = survivors.toSeq ++ dv
  }

  /** The one planner of predicate DELETE and UPDATE — "find the touched
    * files, then drop, rewrite or mark each". In order:
    *  1. a replayed `txn` returns None; pending key tombstones refuse
    *     (the per-file row accounting assumes physical rows are logical
    *     rows), as does an `assigned` column the table lacks;
    *  2. stats/partition pruning picks the candidate files; with
    *     `dropWhole`, a file EVERY row of which provably matches
    *     (contained footer range with zero nulls, or a contained
    *     partition tuple) leaves the manifest without being opened — a
    *     whole-partition delete is pure manifest arithmetic at any table
    *     size. That needs the recorded per-file row count and NO pending
    *     vector (a covered file's physical count overstates its live
    *     rows — it takes the counting path instead);
    *  3. ONE exact counting job over the rest decides per file: untouched
    *     (0 matches — conservative stats sent it here), COPY-ON-WRITE
    *     (matched fraction at or above [[SnapshotLog.DvRewriteFraction]]
    *     — mostly-dead files are cheaper rewritten than dragged through
    *     read-side anti-joins), or a positional DELETION VECTOR (commit
    *     O(matched rows) of positions, leave the file untouched — at
    *     100 TB the difference between a seconds commit and rewriting
    *     nearly every straddled file for a handful of rows each);
    *  4. the rewrite set's survivors and the vector file stage, each
    *     checked against the counting job's numbers;
    *  5. the pre-image frame, the change-feed predicates, the next vector
    *     map and the replaced bytes follow.
    * None when no row can match: nothing staged. */
  private def planRemoval(op: String, preds0: Seq[(String, Any, Any)],
      extraCond: Option[Column], semis: Seq[SemiTag],
      txn: Option[(String, Long)], dropWhole: Boolean,
      assigned: Seq[String] = Nil): Option[Removal] = {
    val base = snapshot()
    if (replayed(base, txn)) return None // nothing stages, nothing commits
    requireNoTombstones(base, s"a predicate $op (its per-file row " +
      "accounting assumes physical rows are logical rows)")
    if (assigned.nonEmpty) {
      val missing = assigned.filterNot(schemaOf(base).fieldNames.contains)
      require(missing.isEmpty,
        s"updateWhere on $tableDir: no such column(s) ${missing.mkString(", ")}" +
          " — UPDATE cannot add columns (use addColumn/append for evolution)")
    }
    // driver-side bound coercion, same contract as readWhere: an
    // unparseable bound matches no row of the column's type → no-op
    val preds = coercePreds(base, preds0).getOrElse(return None)
    val touched =
      if (preds.isEmpty) base.files else candidateFiles(base, preds)
    if (touched.isEmpty) return None
    val (dropped, rem) =
      if (!dropWhole) (Nil, touched)
      else {
        val dts = preds.map { case (c, _, _) => c -> schemaType(base, c) }.toMap
        touched.partition(f =>
          base.fileRows.contains(f) && !base.dvs.contains(f) &&
            fullyContained(base, f, preds, dts))
      }
    // a row matches iff every predicate does; NULL keys never match
    // (between is NULL for NULL inputs, and the survivor filter keeps
    // NULL explicitly — a bare negation would DROP those rows). The
    // general predicate coalesces NULL→false for the same reason.
    val matches = (preds.map { case (c, lo, hi) =>
      col(c).isNotNull && col(c).between(lit(lo), lit(hi)) } ++
      extraCond.map(c => coalesce(c, lit(false))) ++
      semis.zipWithIndex.map { case (t, i) => semiMatch(t, i) })
      .reduce(_ && _)
    // every frame (counts, survivors, vector, images) derives from the
    // one prior-DV-applied shape of [[aliveTagged]]; over-cap key sets
    // ride along as SemiTag join flags
    def alive(fs: Seq[String]): DataFrame =
      tagSemis(aliveTagged(base, fs), semis)
    val semiFlags = semis.indices.map(semiFlag)
    val perFile: Map[String, (Long, Long)] =
      if (rem.isEmpty) Map.empty
      else alive(rem).groupBy(col(DvFileCol))
        .agg(count(lit(1)).as("live"),
          count(org.apache.spark.sql.functions.when(matches, 1)).as("matched"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
        .toMap // O(straddling files) rows — control-plane sized
    val hit = rem.filter(f => perFile.get(f).exists(_._2 > 0))
    if (dropped.isEmpty && hit.isEmpty) return None // provably a no-op
    val (rewriteSet, dvSet) = hit.partition { f =>
      val (live, matched) = perFile(f)
      matched.toDouble / live >= DvRewriteFraction
    }
    val rewriteLive = rewriteSet.map(f => perFile(f)._1).sum
    val rewriteMatched = rewriteSet.map(f => perFile(f)._2).sum
    val dvMatched = dvSet.map(f => perFile(f)._2).sum
    val survivors =
      // every live row of the rewrite set matched → nothing survives:
      // the files just drop (exact — the counts are from the same scan
      // the survivors would come from), no empty staging job
      if (rewriteLive == rewriteMatched) None
      else {
        val st = stage(alive(rewriteSet).where(!matches)
          .drop(DvFileCol, DvPosCol).drop(semiFlags: _*), base = Some(base))
        if (st.rows != rewriteLive - rewriteMatched) {
          discard(st)
          throw new IllegalStateException(
            s"$op on $tableDir: planner counted ${rewriteLive -
              rewriteMatched} survivors, rewrite staged ${st.rows} — aborted")
        }
        Some(st)
      }
    // the vector file: one parquet of (_file, _pos) for every matched row
    // of the DV set — broadcast-sized by the planner's own fraction gate
    val dv =
      if (dvSet.isEmpty) None
      else {
        val st = stage(alive(dvSet).where(matches)
          .select(col(DvFileCol).as("_file"), col(DvPosCol).as("_pos"))
          .coalesce(1), partitioned = false)
        if (st.rows != dvMatched) {
          discard(st); survivors.foreach(discard)
          throw new IllegalStateException(
            s"$op on $tableDir: planner counted $dvMatched DV rows, " +
              s"staging wrote ${st.rows} — aborted")
        }
        Some(st)
      }
    // with a general predicate the hints are a SUPERSET of the matched
    // rows — recording them as the change predicates would replay a
    // WIDER change on a replica; the FULL predicate records as SQL text
    // instead when it round-trips (else rows-only + resync contract)
    val encodedPreds =
      if (extraCond.isDefined) Seq(None)
      else preds.map { case (c, lo, hi) => ChangePred.encode(c, lo, hi) }
    val feed =
      if (!commitCdc(base)) None
      else Some(ChangeSet(deletedDataFiles = dropped,
        preds = if (encodedPreds.forall(_.isDefined)) encodedPreds.flatten
          else Nil, // one unencodable bound → rows-only CDC, no replay
        predSql = if (semis.nonEmpty) "" // a join is not renderable SQL
          else extraCond.map(renderPredSql).getOrElse("")))
    // gone = physically dereferenced files; the DV set's files STAY in
    // the manifest (their stats/blooms remain sound supersets), each
    // gaining the new vector on top of any it already carried
    val gone = (dropped ++ rewriteSet).toSet
    val dvs = (base.dvs -- gone) ++ dv.fold(
      Map.empty[String, Seq[String]])(st => dvSet.map(f =>
        f -> (base.dvs.getOrElse(f, Nil) :+ st.files.head)).toMap)
    Some(Removal(base, dropped.map(base.fileRows).sum,
      rewriteMatched + dvMatched, survivors, dv, gone, dvs,
      (dropped ++ rewriteSet).map(fileLen(base, _)).sum, feed,
      () => alive(hit).where(matches)
        .drop(DvFileCol, DvPosCol).drop(semiFlags: _*)))
  }

  /** `fs` read position-tagged ([[DvFileCol]]/[[DvPosCol]]) with PRIOR
    * deletion vectors applied and columns aligned to the CURRENT schema
    * — the one shape every row-removing planner derives its counting,
    * rewrite and image frames from, so a row a prior DV already removed
    * can never be re-counted, re-written or re-imaged. */
  private def aliveTagged(base: Snapshot, fs: Seq[String]): DataFrame =
    fs.groupBy(base.schemaIdxOf).toSeq.sortBy(_._1).map { case (ep, g) =>
      val tagged = dvTagged(base, ep, g)
      val undv =
        if (!g.exists(base.dvs.contains)) tagged
        else {
          val dv = dvFrame(base, g)
          tagged.join(org.apache.spark.sql.functions.broadcast(dv),
            tagged(DvFileCol) === dv("_file") &&
              tagged(DvPosCol) === dv("_pos"), "left_anti")
        }
      // current-epoch names so current-name predicates and the staged
      // survivors both see the live schema
      alignTo(base, ep, undv, keep = Seq(DvFileCol, DvPosCol))
    }.reduce(_ unionByName _)

  /** Flag column the i-th [[SemiTag]] contributes to the planner
    * frames — the join-arm twin of a literal IN's boolean value. */
  private def semiFlag(i: Int): String = s"__graft_semi_flag_$i"

  /** Left-join each [[SemiTag]]'s key frame onto `df`, adding one
    * boolean flag column per tag (true = key present / potentially
    * matched) and dropping the key columns. Row-count-preserving by
    * construction: equality tags join DISTINCT null-free key frames
    * (≤1 match per left row); potential-match tags — where one left
    * row CAN match many key rows through NULL wildcards — go through a
    * row-identity two-step: a LEFT SEMI join collects the matched
    * (file, pos) ids, then one equality left-join flags them, so the
    * exact-counting planner's row accounting stays sound. */
  private def tagSemis(df: DataFrame, semis: Seq[SemiTag]): DataFrame =
    semis.zipWithIndex.foldLeft(df) { case (acc, (t, i)) =>
      val kcols = t.values.indices.map(j => s"__graft_semi_${i}_k$j")
      if (!t.potential) {
        val keyed = t.keys.toDF(kcols: _*)
          .withColumn(semiFlag(i), lit(true))
        val cond = t.values.zip(kcols).map { case (v, k) =>
          v === keyed(k) }.reduce(_ && _)
        acc.join(keyed, cond, "left").drop(kcols: _*)
      } else {
        val keyed = t.keys.toDF(kcols: _*)
        val cond = t.values.zip(kcols).zipWithIndex.map { case ((v, k), j) =>
          if (j < t.keyPrefix) v === keyed(k) // correlation prefix: equality
          else (v === keyed(k)) || v.isNull || keyed(k).isNull
        }.reduce(_ && _)
        val fcol = s"__graft_semi_${i}_f"
        val pcol = s"__graft_semi_${i}_p"
        val hit = acc.join(keyed, cond, "left_semi")
          .select(col(DvFileCol).as(fcol), col(DvPosCol).as(pcol))
          .distinct()
          .withColumn(semiFlag(i), lit(true))
        acc.join(hit,
          acc(DvFileCol) === hit(fcol) && acc(DvPosCol) === hit(pcol),
          "left").drop(fcol, pcol)
      }
    }

  /** The i-th [[SemiTag]]'s contribution to the planner's `matches`
    * conjunction, evaluated over a [[tagSemis]]-tagged frame. Exact on
    * SQL's 3-valued WHERE truth table for each supported polarity (a
    * NULL condition never matches, like every planner predicate). */
  private def semiMatch(t: SemiTag, i: Int): Column = {
    val flag = coalesce(col(semiFlag(i)), lit(false))
    if (t.potential) {
      // NOT IN via "no potential match": TRUE iff no key row could
      // equal this row — plus the decorrelated form's prefix rule (a
      // NULL correlation key ⟹ empty per-row set ⟹ NOT IN () = TRUE)
      val anyPrefixNull =
        if (t.keyPrefix == 0) lit(false)
        else t.values.take(t.keyPrefix).map(_.isNull).reduce(_ || _)
      anyPrefixNull || !flag
    }
    else if (!t.negated) flag // IN / EXISTS: present means matched
    else if (t.nullCollapse) !flag // NOT EXISTS: 2-valued by coalesce
    else // single-column NOT IN over a pre-checked null-free key set:
      // a NULL left value makes SQL's NOT IN unknown → never matched
      t.values.map(_.isNotNull).reduce(_ && _) && !flag
  }

  /** Predicate UPDATE: set columns to new values on every row matching
    * a conjunction of [lo, hi] ranges — `UPDATE t SET c = e, ... WHERE
    * a BETWEEN lo AND hi AND ...` as ONE transactional `update` commit.
    *
    * Assignment semantics are SQL's: every right-hand side evaluates
    * against the OLD row (assignments never see each other), casts to
    * the column's declared type (widening only — the schema does not
    * change), and NULL-keyed predicate rows never match (same as
    * [[deleteWhere]]). Updating a partition-source column is supported:
    * updated rows RE-STAGE through the normal partition/sort pipeline,
    * so they land in their new partitions — hidden partitioning keeps
    * this invisible to the caller, exactly as production formats do.
    *
    * Planner: [[planRemoval]], as for [[deleteWhereTxn]] but without
    * whole-file drops — ONE exact counting pass chooses per file:
    *  - matched fraction >= [[SnapshotLog.DvRewriteFraction]] →
    *    copy-on-write: the file's SURVIVORS restage (keeping any debt
    *    drained), its matched rows join the updated batch;
    *  - below the fraction → merge-on-read: a positional DELETION
    *    VECTOR retires the old positions (O(matched rows) committed,
    *    the file untouched) and the updated rows stage as new files.
    * Either way the updated rows are written exactly once and `rows`
    * is unchanged. The SQL surface's scan serves pending vectors
    * through [[graft.table.LogDebtScan]].
    *
    * CDC: on a feed-enabled table the commit records pre-images
    * (`delete`) and post-images (`insert`) plus the predicates when
    * encodable — [[readChangeRows]] re-types them to
    * `update_preimage`/`update_postimage` under `fourType = true`
    * (1:1 by construction — every image of an `update` commit is half
    * of an update pair), [[DerivedAggregate]] folds them, and
    * [[LogMirror]] replays the update on a replica from the predicates
    * + post-images with zero pre-image bytes shipped. */
  def updateWhere(preds: Seq[(String, Any, Any)],
      set: Seq[(String, Column)]): Option[Snapshot] =
    updateWhereTxn(preds, set)

  /** [[updateWhere]] with the exactly-once `(appId, batchId)` watermark
    * contract of [[appendStream]]/[[deleteWhereTxn]]. */
  def updateWhereTxn(preds0: Seq[(String, Any, Any)],
      set: Seq[(String, Column)],
      txn: Option[(String, Long)] = None): Option[Snapshot] = {
    require(preds0.nonEmpty, "updateWhere needs at least one (column, lo, hi)")
    require(set.nonEmpty, "updateWhere needs at least one (column, value)")
    require(set.map(_._1).distinct.size == set.size,
      s"duplicate assignment columns: ${set.map(_._1).mkString(", ")}")
    updateCore(preds0, None, Left(set), txn)
  }

  /** [[updateWhereTxn]] generalized to an ARBITRARY deterministic row
    * predicate, with the same hint/counting split as
    * [[deleteWhereExpr]]: `hints` (range conjuncts implied by `cond`)
    * scope the candidate files through stats/partition pruning; the
    * exact per-file match counts, the rewrite/DV arm choice and the
    * updated batch all come from the FULL predicate. The change feed
    * records rows-only images (no predicate replay on mirrors). */
  def updateWhereExpr(cond: Column, set: Seq[(String, Column)],
      hints: Seq[(String, Any, Any)] = Nil,
      txn: Option[(String, Long)] = None,
      semis: Seq[SemiTag] = Nil): Option[Snapshot] = {
    require(set.nonEmpty, "updateWhereExpr needs at least one (column, value)")
    require(set.map(_._1).distinct.size == set.size,
      s"duplicate assignment columns: ${set.map(_._1).mkString(", ")}")
    requireDeterministic(cond, "updateWhereExpr")
    updateCore(hints, Some(cond), Left(set), txn, semis)
  }

  /** Replay half of a mirrored `update` ([[LogMirror]]): the source's
    * recorded post-images apply verbatim instead of re-evaluating
    * assignments — the replica deletes its own rows matching the
    * predicates (exactly the source's pre-images, by the in-sync
    * invariant, ASSERTED via the matched-count == post-image-count
    * check inside) and appends the shipped post-images, as one commit
    * riding the lane watermark. */
  private[table] def applyUpdate(preds0: Seq[(String, Any, Any)],
      postImages: DataFrame, txn: Option[(String, Long)]): Option[Snapshot] =
    updateCore(preds0, None, Right(postImages), txn)

  /** [[applyUpdate]]'s sibling for GENERAL-predicate updates: the
    * replica retires its rows matching the recorded predicate SQL
    * ([[ChangeSet.predSql]] — validated round-trippable at the source's
    * commit) and lands the shipped post-images, same matched-count
    * assertion, same lane watermark. */
  private[table] def applyUpdateExpr(cond: Column,
      postImages: DataFrame, txn: Option[(String, Long)]): Option[Snapshot] =
    updateCore(Nil, Some(cond), Right(postImages), txn)

  private def updateCore(preds0: Seq[(String, Any, Any)],
      extraCond: Option[Column],
      newValues: Either[Seq[(String, Column)], DataFrame],
      txn: Option[(String, Long)],
      semis: Seq[SemiTag] = Nil): Option[Snapshot] = {
    val p = planRemoval("update", preds0, extraCond, semis, txn,
      dropWhole = false, assigned = newValues.fold(_.map(_._1), _ => Nil))
      .getOrElse(return None)
    val schema = schemaOf(p.base)
    // the updated rows, restaged through the normal partition/sort
    // pipeline (they may land in NEW partitions when a partition-source
    // column changes). Every right-hand side evaluates against the OLD
    // row in ONE select — assignments never observe each other.
    val updatedDf = newValues match {
      case Left(set) =>
        val byName = set.toMap
        p.matched().select(schema.fields.map { f =>
          byName.get(f.name)
            .map(_.cast(f.dataType).as(f.name))
            .getOrElse(col(f.name))
        }.toSeq: _*)
      case Right(posts) =>
        posts.select(schema.fieldNames.map(col).toSeq: _*)
    }
    val updStaged = stage(updatedDf, base = Some(p.base))
    if (updStaged.rows != p.matchedRows) {
      discard(updStaged); p.staged.foreach(discard)
      throw new IllegalStateException(
        s"update on $tableDir: planner matched ${p.matchedRows} rows, " +
          s"updated batch staged ${updStaged.rows} — aborted" +
          (if (newValues.isRight) " (replica diverged from its source — " +
            "resync the mirror from a full read)" else ""))
    }
    // CDC images: pre-images from the one alive shape, post-images are
    // the staged updated batch re-read BY NAME (exactly what committed)
    val changeStaged =
      if (p.feed.isEmpty) None
      else {
        val pre = p.matched().withColumn("_change_type", lit("delete"))
        val post = spark.read.parquet(
            updStaged.files.map(f => new Path(dataDir, f).toString): _*)
          .select(schema.fieldNames.map(col).toSeq: _*)
          .withColumn("_change_type", lit("insert"))
        val st = stage(pre.unionByName(post), partitioned = false)
        if (st.rows == 0) { discard(st); None } else Some(st)
      }
    val written = p.survivors.toSeq :+ updStaged
    commit("update", Abort, written ++ p.dv ++ changeStaged,
        base = Some(p.base)) { base =>
      // updated copies carry NEW values — a CHECK published since this
      // write staged must abort it
      policyGuard(updStaged)
      // rows carry over: an update never changes the row count
      swapFiles(base, p.gone, written: _*).copy(
        bytes = base.bytes - p.replacedBytes + written.map(_.bytes).sum,
        txns = txnsAfter(base, txn), tombstones = Nil,
        partitionSpec = commitSpec(base), sortOrder = commitSort(base),
        cdc = p.feed.isDefined,
        changes = p.feed.map(_.copy(
          files = changeStaged.map(_.files).getOrElse(Nil))),
        dvs = p.dvs)
    }
  }

  /** Copy-on-write whole-key replace: every table row whose `column`
    * value appears in `updates` is removed, and every row of `updates`
    * lands. This is NOT SQL MERGE: a key the table holds twice comes
    * back once per batch row, not once per table row updated (SQL
    * `MERGE INTO` runs [[mergeClauses]]). Its callers are
    * [[DerivedAggregate]], whose batches are one row per group key, and
    * the [[LogMirror]] replay of a merge's insert images, which the
    * mirror runs only after checking that the replica's rows under the
    * images' keys are exactly the merge's pre-images.
    *
    * Files route through [[mergeRoute]]: per key (range stats + blooms
    * + partition tuples, the same gates as [[readKeys]]) when the batch
    * has at most [[SnapshotLog.MergeRouteKeyCap]] distinct keys, so a
    * scattered two-key batch on a clustered table rewrites two files,
    * not every file the [min, max] envelope spans; by envelope above
    * it. Replaced rows drop via an anti-join on the batch's keys, then
    * the batch unions in; every other file carries over by name.
    * Insert-only batches (keys beyond every file) stage straight to an
    * append. Conflicts abort, prior versions keep the pre-merge rows.
    *
    * `txn` makes the merge exactly-once under replay — the same
    * `(appId, batchId)` watermark contract as [[appendStream]] /
    * [[deleteKeys]]: an already-committed batch id returns the CURRENT
    * snapshot without staging anything. This is what lets an
    * incremental consumer ([[DerivedAggregate]]) fold a change-feed
    * batch into a downstream table atomically WITH its cursor — a crash
    * between "applied the delta" and "recorded the watermark" cannot
    * exist, because they are one manifest. */
  def mergeByKey(updates: DataFrame, column: String,
      txn: Option[(String, Long)] = None): Snapshot = {
    val base = snapshot()
    if (replayed(base, txn))
      return base // replay detected — nothing stages, nothing commits
    requireNoTombstones(base, "a copy-on-write merge (rewriting covered " +
      "files raw would resurrect tombstoned rows)")
    // materialize the batch once: it feeds the bounds aggregate, the
    // anti-join and the staged union — recomputing an expensive (or
    // non-deterministic) update source three times could even disagree
    // with its own bounds
    val u = updates.localCheckpoint(true)
    // checkpointed blocks are released on every exit path — a long-lived
    // session running many merges must not accumulate executor storage
    try mergeByKeyImpl(u, base, column, txn)
    finally u.unpersist()
  }

  private def mergeByKeyImpl(u: DataFrame, base: Snapshot,
      column: String, txn: Option[(String, Long)]): Snapshot = {
    val routed = mergeRoute(base, u, Seq(column -> column), wholesale = false)
    require(routed.isDefined, "updates must have at least one non-null key")
    val touched = routed.get
    val (touchedRows, stagedDf) =
      if (touched.isEmpty) (0L, u)
      else {
        // DV-applied (scan — tombstones are empty by the require above):
        // rewriting a covered file raw would resurrect position-deleted
        // rows; the rewrite also MATERIALIZES its vectors
        val touchedDf = scan(base, touched)
        val survivors = touchedDf.join(
          u.select(col(column)).distinct(), Seq(column), "left_anti")
        (liveRows(base, touched), survivors.unionByName(u))
      }
    val touchedBytes = touched.map(fileLen(base, _)).sum
    val staged = stage(stagedDf, base = Some(base))
    // CDC images: replaced rows (pre-images, read again from just the
    // touched files) as deletes, the whole update batch as inserts —
    // together with keyColumn, exactly what a replica needs to replay
    // the merge as `mergeByKey(inserts, keyColumn)`. O(touched + batch),
    // paid only on feed-enabled tables.
    val recordCdc = commitCdc(base)
    val changeStaged =
      if (!recordCdc) None
      else {
        // pair-tagged at WRITE time (like clause merges): every
        // pre-image has a post-image by upsert construction, and an
        // insert is a post-image iff its key was present in the touched
        // files — so four-type re-typing is a per-row expression on
        // read (the streaming CDC source needs that; the batch reader's
        // key-join branch remains only for pre-tag history). One extra
        // broadcast-sized join on the bounded update batch, paid only
        // on feed-enabled tables.
        val pre =
          if (touched.isEmpty) None
          else Some(scan(base, touched) // DV-applied: a position-deleted
            // row is not a pre-image — it was already gone
            .join(u.select(col(column)).distinct(), Seq(column), "left_semi"))
        val ins0 = u.withColumn("_change_type", lit("insert"))
        val ins = pre.map(_.select(col(column)).distinct()) match {
          case None => ins0.withColumn(SnapshotLog.PairCol, lit(false))
          case Some(pk) =>
            ins0.join(pk.withColumn("_graft_pre", lit(true)),
              Seq(column), "left")
              .withColumn(SnapshotLog.PairCol,
                coalesce(col("_graft_pre"), lit(false)))
              .drop("_graft_pre")
        }
        val all = pre match {
          case None => ins
          case Some(pr) =>
            pr.withColumn("_change_type", lit("delete"))
              .withColumn(SnapshotLog.PairCol, lit(true))
              .unionByName(ins, allowMissingColumns = true)
        }
        val st = stage(all, partitioned = false)
        if (st.rows == 0) { discard(st); None } else Some(st)
      }
    val changeSet =
      if (!recordCdc) None
      else Some(ChangeSet(files = changeStaged.map(_.files).getOrElse(Nil),
        keyColumn = column))
    commit("merge", Abort, staged +: changeStaged.toSeq,
        base = Some(base)) { base =>
      // merge upserts carry NEW values — same commit-time re-check as
      // appends
      policyGuard(staged)
      // touched files rewrote through the DV-applied read — materialized
      swapFiles(base, touched.toSet, staged).copy(
        rows = base.rows - touchedRows + staged.rows,
        bytes = base.bytes - touchedBytes + staged.bytes,
        schemaJson = mergeSchemaJson(base, staged.schemaJson),
        txns = txnsAfter(base, txn), tombstones = Nil,
        partitionSpec = commitSpec(base), sortOrder = commitSort(base),
        cdc = recordCdc, changes = changeSet)
    }.get
  }

  /** The files of `base` a merge must read, for the checkpointed batch
    * `u` joined on `keys` (target column, source column): every file
    * when `wholesale` (a by-source clause inspects every target row).
    * Otherwise one aggregate takes each key's [min, max], cast to the
    * target column's type, plus the distinct count when there is one
    * key column. With one key column of at most
    * [[SnapshotLog.MergeRouteKeyCap]] distinct non-null values on a
    * table that records stats or blooms, the files that can hold one of
    * the keys ([[keyCandidates]]); else the files the envelope crosses
    * ([[candidateFiles]]). None when a key column is all NULL in `u`:
    * NULL never matches, so no file can. */
  private def mergeRoute(base: Snapshot, u: DataFrame,
      keys: Seq[(String, String)], wholesale: Boolean): Option[Seq[String]] = {
    if (wholesale) return Some(base.files)
    val typed = keys.map { case (tk, sk) =>
      schemaType(base, tk).fold(col(sk))(col(sk).cast(_)) }
    val aggs = typed.flatMap(k => Seq(min(k), max(k))) ++
      (if (keys.size == 1)
        Seq(org.apache.spark.sql.functions.count_distinct(typed.head))
      else Nil)
    val b = u.agg(aggs.head, aggs.tail: _*).head()
    if (keys.indices.exists(i => b.isNullAt(2 * i))) None
    else if (keys.size == 1 && b.getLong(2) <= MergeRouteKeyCap &&
        (base.stats.nonEmpty || base.blooms.nonEmpty))
      // NULL keys drop out of the probe set: stats/bloom gates cannot
      // evaluate NULL, and a NULL key never matches a target row
      Some(keyCandidates(base, keys.head._1, u.select(typed.head).na.drop()
        .distinct().collect().map(_.get(0)).toSeq)) // bounded by the cap
    else Some(candidateFiles(base, keys.indices.map(i =>
      (keys(i)._1, b.get(2 * i), b.get(2 * i + 1)))))
  }

  /** General multi-clause MERGE — every SQL `MERGE INTO` on a log table
    * runs here:
    * {{{
    * MERGE INTO t USING s
    *   ON t.k1 = s.a AND t.k2 = s.b              -- composite equality
    * WHEN MATCHED AND <cond> THEN UPDATE SET ... -- conditional, partial
    * WHEN MATCHED AND <cond> THEN DELETE
    * WHEN NOT MATCHED AND <cond> THEN INSERT ...
    * WHEN NOT MATCHED BY SOURCE THEN UPDATE/DELETE
    * }}}
    * `keys` pairs (target column, source column); clause conditions and
    * assignment values are Columns over the JOINED row — target columns
    * under their own names, source columns under
    * `[[SnapshotLog.MergeSrcPrefix]] + name`. Clauses apply FIRST-WINS
    * per row; a matched/by-source row no clause accepts is KEPT
    * unchanged, an unmatched source row no clause accepts is dropped —
    * SQL MERGE semantics exactly.
    *
    * Every matching target row is updated — also when the target
    * holds a key more than once (where [[mergeByKey]] would collapse
    * the key to the batch's rows).
    *
    * Cardinality: SQL's "a target row may be updated/deleted by at most
    * one source row" is enforced on GENUINE ambiguity only — with
    * matched clauses, the merge aborts iff some target row joins more
    * than one source row under the whole ON condition (residual
    * included); duplicated tuples that only insert, or that the
    * residual tells apart, are legal (standard MERGE inserts them all).
    * NULL keys never match (SQL equality): null-key source rows flow to
    * the NOT MATCHED clauses, null-key target rows to NOT MATCHED BY
    * SOURCE.
    *
    * Scale: the rewrite set routes through [[mergeRoute]], as for
    * [[mergeByKey]] — per key for one bounded key column, else by the
    * source keys' per-column [min, max] envelope against file stats +
    * partition tuples; O(candidate files) rewritten. A table written
    * before manifests recorded a schema takes its schema from a footer.
    * An insert-only merge (no matched / by-source clauses) rewrites
    * NOTHING: the join only classifies, and the staged output is the
    * insert set alone. `WHEN NOT MATCHED BY SOURCE` inspects every
    * target row by definition — the whole table joins (still one pass,
    * one shuffle at the join keys), the honest cost of that clause.
    * CDC images on feed-enabled tables: pre-images for every updated/
    * deleted row, post-images for updates and inserts, recorded with
    * the comma-joined key so [[readChangeRows]]'s four-type mode pairs
    * update halves per key and leaves genuine deletes/inserts typed
    * as-is. */
  def mergeClauses(source: DataFrame, keys: Seq[(String, String)],
      matched: Seq[MergeWhen], notMatched: Seq[MergeWhen],
      notMatchedBySource: Seq[MergeWhen] = Nil,
      txn: Option[(String, Long)] = None,
      /** Extra MATCH condition beyond the key equalities (`ON k = k
        * AND residual` — the CDC update-newer-only shape): evaluated
        * over the classification join's frame — target columns under
        * their own names, source columns under
        * [[SnapshotLog.MergeSrcPrefix]]. A key-equal pair failing the
        * residual is NOT a match: the target row falls to the
        * by-source clauses, the source row to the insert clauses —
        * exactly SQL's ON semantics. Routing still prunes on the keys
        * (a superset — sound), and only residual-PASSING duplicates
        * abort. */
      residual: Option[Column] = None): Snapshot = {
    val base = snapshot()
    if (replayed(base, txn))
      return base // replay detected — nothing stages, nothing commits
    require(keys.nonEmpty, "mergeClauses needs at least one (target, source) key pair")
    require(keys.map(_._1).distinct.size == keys.size &&
      keys.map(_._2).distinct.size == keys.size,
      s"mergeClauses keys must be distinct per side, got $keys")
    requireNoTombstones(base, "a copy-on-write merge (rewriting covered " +
      "files raw would resurrect tombstoned rows)")
    def okActions(cs: Seq[MergeWhen], allowed: Set[String], what: String): Unit =
      cs.foreach(c => require(allowed(c.action),
        s"mergeClauses: $what clauses take ${allowed.mkString("/")}, " +
          s"got '${c.action}'"))
    okActions(matched, Set("update", "delete"), "matched")
    okActions(notMatched, Set("insert"), "not-matched")
    okActions(notMatchedBySource, Set("update", "delete"), "not-matched-by-source")
    require(matched.nonEmpty || notMatched.nonEmpty || notMatchedBySource.nonEmpty,
      "mergeClauses needs at least one WHEN clause")
    require(!source.columns.exists(_.startsWith(SnapshotLog.MergeSrcPrefix)),
      s"source columns may not start with ${SnapshotLog.MergeSrcPrefix}")
    // materialize the batch once: it feeds the routing aggregate and
    // the join
    val u = source.localCheckpoint(true)
    try mergeClausesImpl(u, base, keys, matched, notMatched,
      notMatchedBySource, txn, residual)
    finally u.unpersist()
  }

  private def mergeClausesImpl(u: DataFrame, base: Snapshot,
      keys: Seq[(String, String)], matched: Seq[MergeWhen],
      notMatched: Seq[MergeWhen], notMatchedBySource: Seq[MergeWhen],
      txn: Option[(String, Long)], residual: Option[Column]): Snapshot = {
    val tgtSchema = schemaOf(base)
    keys.foreach { case (tk, _) =>
      require(tgtSchema.fieldNames.exists(_.equalsIgnoreCase(tk)),
        s"mergeClauses: '$tk' is not a column of $tableDir") }
    val tKeys = keys.map { case (tk, _) =>
      tgtSchema.fieldNames.find(_.equalsIgnoreCase(tk)).get }
    // ROUTING — which files can hold a matched target row; by-source
    // clauses inspect every row by definition, so all files join
    val joinFiles = mergeRoute(base, u, tKeys.zip(keys.map(_._2)),
      wholesale = notMatchedBySource.nonEmpty).getOrElse(Nil)
    val rewriteTouched = matched.nonEmpty || notMatchedBySource.nonEmpty
    val rewritten = if (rewriteTouched) joinFiles else Nil
    // THE JOIN — one full-outer pass classifying every row: target
    // columns under their own names, source under MergeSrcPrefix,
    // presence markers on both sides (keys can be NULL, markers can't).
    // Each target row carries an id for the ambiguity probe and the
    // unactioned-match dedup; the id is non-deterministic per plan but
    // `joined` checkpoints EAGERLY, so every downstream read sees the
    // one materialized assignment.
    val SP = SnapshotLog.MergeSrcPrefix
    val srcP = u.columns.foldLeft(u)((d, c) => d.withColumnRenamed(c, SP + c))
      .withColumn(SnapshotLog.MergeSrcMark, lit(true))
    val tgtRaw =
      if (joinFiles.isEmpty) spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], tgtSchema)
      else scan(base, joinFiles)
    val Rid = "__graft_rid"
    val tgtM = tgtRaw.withColumn(SnapshotLog.MergeTgtMark, lit(true))
      .withColumn(Rid, org.apache.spark.sql.functions.monotonically_increasing_id())
    val cond0 = keys.zip(tKeys).map { case ((_, sk), tk) =>
      tgtM(tk) === srcP(SP + sk) }.reduce(_ && _)
    val cond = residual.fold(cond0)(cond0 && _)
    val joined = tgtM.join(srcP, cond, "full_outer").localCheckpoint(true)
    try {
      val isT = col(SnapshotLog.MergeTgtMark).isNotNull
      val isS = col(SnapshotLog.MergeSrcMark).isNotNull
      if (matched.nonEmpty) {
        // the one ambiguity probe: a target row joined by more than one
        // source row (under the whole ON condition, residual included)
        // is SQL's cardinality violation; duplicated source keys that
        // match nothing, or that the residual tells apart, pass
        val clash = joined.where(isT && isS).groupBy(col(Rid))
          .agg(count(lit(1)).as("__graft_n"),
            org.apache.spark.sql.functions
              .first(org.apache.spark.sql.functions
                .struct(tKeys.map(col): _*)).as("__graft_k"))
          .where(col("__graft_n") > 1).limit(1).collect()
        if (clash.nonEmpty) throw new IllegalStateException(
          s"MERGE on $tableDir: multiple source rows match one target row " +
            s"under the ON condition (target key ${clash.head.get(1)}) — " +
            "a target row may be updated/deleted by at most one source " +
            "row (dedupe the source, e.g. latest-wins)")
      }
      val act = SnapshotLog.MergeActCol
      // first-matching-clause index (-1 = none): a NULL condition is
      // false, falling through to the next clause — SQL semantics
      def withAct(rows: DataFrame, clauses: Seq[MergeWhen]): DataFrame =
        rows.withColumn(act, clauses.zipWithIndex.foldRight(lit(-1)) {
          case ((c, i), els) => when(c.cond.getOrElse(lit(true)), lit(i))
            .otherwise(els)
        })
      // rows under `clauses` projected to the target schema: update
      // clauses keep unassigned columns (defaultKeep), insert clauses
      // null-pad; delete-actioned rows (and, without defaultKeep,
      // unclaimed rows) drop
      def project(rows: DataFrame, clauses: Seq[MergeWhen],
          defaultKeep: Boolean): DataFrame = {
        val deletes = clauses.zipWithIndex
          .collect { case (c, i) if c.action == "delete" => i }
        val keep = deletes.map(i => col(act) =!= i)
          .foldLeft(if (defaultKeep) lit(true) else col(act) =!= -1)(_ && _)
        rows.where(keep).select(tgtSchema.fields.toSeq.map { f =>
          val base0: Column =
            if (defaultKeep) col(f.name) else lit(null).cast(f.dataType)
          clauses.zipWithIndex.foldLeft(base0) { case (acc, (c, i)) =>
            if (c.action == "delete") acc
            else c.assigns.collectFirst {
              case (n, e) if n.equalsIgnoreCase(f.name) => e
            } match {
              case Some(e) =>
                when(col(act) === i, e.cast(f.dataType)).otherwise(acc)
              case None => acc // update keeps, insert stays null-padded
            }
          }.as(f.name)
        }: _*)
      }
      val mAct = withAct(joined.where(isT && isS), matched)
      val tAct = withAct(joined.where(isT && !isS), notMatchedBySource)
      val sAct = withAct(joined.where(!isT && isS), notMatched)
      // With matched clauses the probe above already aborted on a target
      // row joined more than once, so mAct carries at most one joined
      // row per target row. WITHOUT matched clauses duplicated source
      // keys are legal (they may all insert), but the full-outer join
      // still fans a matched target row out once per duplicate; those
      // rows pass through unchanged, once each by their id.
      val outM =
        if (matched.nonEmpty) project(mAct, matched, defaultKeep = true)
        else joined.where(isT && isS).dropDuplicates(Rid)
          .select(tgtSchema.fieldNames.toSeq.map(col): _*)
      val outT = project(tAct, notMatchedBySource, defaultKeep = true)
      val outS = project(sAct, notMatched, defaultKeep = false)
      val stagedDf =
        if (rewriteTouched) outM.unionByName(outT).unionByName(outS)
        else outS // insert-only merge: no target file rewrites
      val touchedRows = liveRows(base, rewritten)
      val touchedBytes = rewritten.map(fileLen(base, _)).sum
      val staged = stage(stagedDf, base = Some(base))
      // CDC images: pre-images (type delete) for every row a matched or
      // by-source clause updated/deleted; post-images (type insert) for
      // the update results and the inserted rows. The comma-joined key
      // lets four-type readers pair the update halves.
      val recordCdc = commitCdc(base)
      val changeStaged =
        if (!recordCdc) None
        else {
          val tCols = tgtSchema.fieldNames.toSeq
          def updIdx(cs: Seq[MergeWhen]) = cs.zipWithIndex
            .collect { case (c, i) if c.action == "update" => i }
          // tag update halves at write time ([[SnapshotLog.PairCol]]):
          // pre-images of update-actioned rows and all post-images are
          // pair halves; delete-actioned pre-images and inserts are not
          def pairFlag(cs: Seq[MergeWhen]): Column = {
            val u = updIdx(cs)
            if (u.isEmpty) lit(false) else col(act).isin(u: _*)
          }
          val PC = SnapshotLog.PairCol
          val preM = mAct.where(col(act) =!= -1)
            .select(tCols.map(col) :+ pairFlag(matched).as(PC): _*)
          val preT = tAct.where(col(act) =!= -1)
            .select(tCols.map(col) :+ pairFlag(notMatchedBySource).as(PC): _*)
          val postM = project(mAct.where(col(act).isin(updIdx(matched): _*)),
            matched, defaultKeep = true)
          val postT = project(
            tAct.where(col(act).isin(updIdx(notMatchedBySource): _*)),
            notMatchedBySource, defaultKeep = true)
          val all = preM.unionByName(preT)
            .withColumn("_change_type", lit("delete"))
            .unionByName(postM.unionByName(postT)
              .withColumn(PC, lit(true))
              .unionByName(outS.withColumn(PC, lit(false)))
              .withColumn("_change_type", lit("insert")))
          val st = stage(all, partitioned = false)
          if (st.rows == 0) { discard(st); None } else Some(st)
        }
      val changeSet =
        if (!recordCdc) None
        else Some(ChangeSet(files = changeStaged.map(_.files).getOrElse(Nil),
          keyColumn = tKeys.mkString(",")))
      commit("merge", Abort, staged +: changeStaged.toSeq,
          base = Some(base)) { base =>
        policyGuard(staged)
        // rewritten files read through the DV-applied scan — materialized
        swapFiles(base, rewritten.toSet, staged).copy(
          rows = base.rows - touchedRows + staged.rows,
          bytes = base.bytes - touchedBytes + staged.bytes,
          txns = txnsAfter(base, txn), tombstones = Nil,
          partitionSpec = commitSpec(base), sortOrder = commitSort(base),
          cdc = recordCdc, changes = changeSet)
      }.get
    } finally joined.unpersist()
  }

  /** Merge-on-read sparse-key delete: commit a TOMBSTONE file of the
    * deleted `column` values instead of rewriting data — O(keys), not
    * O(table). A scattered-key delete (GDPR-style by doc_id) through
    * [[deleteWhere]] would rewrite every stats-crossed file — at 100 TB
    * effectively the whole table; this commits in seconds regardless of
    * table size. Reads apply the tombstones as a broadcast-sized
    * anti-join scoped to the files live at delete time (a later append
    * may re-insert a deleted key — the old tombstone does not swallow
    * the new row); [[compact]] MATERIALIZES pending tombstones into a
    * clean rewrite and drops them from the manifest. `rows` stays the
    * PHYSICAL file total while tombstones are pending (the logical
    * count needs a data read by construction — exactly the cost this
    * operation defers); copy-on-write delete/merge refuse to run until
    * materialization so their exact row accounting stays exact. Time
    * travel is precise throughout: a version before the delete reads
    * the rows, after reads without them, and restore carries the
    * version's own tombstone set. Returns None for an empty key set.
    *
    * `txn` makes the delete exactly-once under replay, the same
    * `(appId, batchId)` watermark contract as [[appendStream]]: an
    * already-committed batch id returns None without staging — how
    * [[LogMirror]] guarantees a rerun never re-applies a propagated
    * key delete. */
  def deleteKeys(column: String, keys: DataFrame,
      txn: Option[(String, Long)] = None): Option[Snapshot] = {
    val base = snapshot()
    if (replayed(base, txn))
      return None // replay detected — nothing stages, nothing commits
    // one file per tombstone: a sparse key list is broadcast-sized by
    // assumption, so the coalesce is a no-op-cheap narrow plan
    val k = keys.select(keys.columns.head).toDF(column)
      .na.drop().distinct().coalesce(1)
    // a tombstone key file is manifest metadata, not table data — it
    // must not route through the table's partition spec (whose source
    // columns it does not even carry)
    val staged = stage(k, partitioned = false)
    if (staged.rows == 0) { discard(staged); return None }
    // tombstone blast radius: scope `appliesTo` to the files that can
    // actually hold a deleted key (range stats + blooms — the same
    // gates as readKeys), read back from the STAGED key file so the
    // scoping and the tombstone can never disagree on the key set.
    // Readers then anti-join only candidate file groups, and compaction
    // materializes against the same narrow set. Without metadata every
    // live file is covered — correct, just maximally conservative.
    val applies =
      if (base.stats.isEmpty && base.blooms.isEmpty) base.files
      else {
        val vals = spark.read
          .parquet(new Path(dataDir, staged.files.head).toString)
          .collect().map(_.get(0)).toSeq // broadcast-sized by contract
        keyCandidates(base, column, vals)
      }
    if (applies.isEmpty) {
      // no live file can hold any of the keys: deleting them is a
      // provable no-op — commit nothing (idempotent under replay too)
      discard(staged)
      return None
    }
    // CDC images: the LOGICAL rows the tombstone removes — the covered
    // files scanned with any PRIOR tombstones applied (a row two
    // successive key deletes both cover must image only once), then
    // semi-joined against the staged key file so the images and the
    // tombstone share one key set by construction. This pays a read of
    // the candidate files a plain merge-on-read delete defers — the
    // bounded commit-time cost the feed opt-in buys; without stats it
    // degrades to a table scan, same as the read-side anti-join would.
    val recordCdc = commitCdc(base)
    val changeStaged =
      if (!recordCdc) None
      else {
        val keyDf = spark.read
          .parquet(new Path(dataDir, staged.files.head).toString)
        val pre = scan(base, applies)
          .join(keyDf, Seq(column), "left_semi")
          .withColumn("_change_type", lit("delete"))
        val st = stage(pre, partitioned = false)
        if (st.rows == 0) { discard(st); None } else Some(st)
      }
    val changeSet =
      if (!recordCdc) None
      else Some(ChangeSet(files = changeStaged.map(_.files).getOrElse(Nil),
        keyColumn = column))
    commit("delete_keys", Abort, staged +: changeStaged.toSeq,
        base = Some(base)) { base =>
      base.copy(txns = txnsAfter(base, txn),
        tombstones = base.tombstones :+ Tombstone(staged.files.head, column, applies),
        cdc = recordCdc, changes = changeSet)
    }
  }

  /** Evolve the hidden partition spec FORWARD: `newSpec` governs every
    * file staged from the next commit on, while files already committed
    * keep pruning under the spec that WROTE their tuples — the manifest
    * retains every historical spec (`priorSpecs`) and tags each
    * pre-evolution file with an absolute index into that history
    * ([[Snapshot.specOf]]), Iceberg's spec-per-file rule. Metadata-only:
    * one manifest write, zero data I/O — at 100 TB moving a table from
    * `day(ts)` to `month(ts) × bucket(user)` costs nothing until
    * maintenance naturally rewrites files (compaction re-stages under
    * the CURRENT spec, so the layout converges file by file instead of
    * in one big-bang rewrite). Reads need no flag: each file is judged
    * under its own spec, and a mixed table prunes exactly as well as
    * each half allows. A concurrent commit aborts (like [[restore]] —
    * retrying past an unseen spec-sensitive commit could mis-tag its
    * files). */
  def evolvePartitionSpec(newSpec: Seq[PartitionField]): Snapshot = {
    val cur = snapshot()
    require(newSpec != cur.partitionSpec,
      s"$tableDir already has spec ${cur.partitionSpec}")
    if (cur.schemaJson.nonEmpty) {
      val fields = org.apache.spark.sql.types.DataType.fromJson(cur.schemaJson)
        .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSet
      newSpec.foreach(f => require(fields(f.source),
        s"spec source '${f.source}' is not a column of $tableDir"))
    }
    val next = commit("evolve_spec", Abort, base = Some(cur)) { cur =>
      cur.copy(partitionSpec = newSpec, cdc = commitCdc(cur), changes = None,
        // every live file pins to the spec that wrote it, at its ABSOLUTE
        // index — from here on, absence means the new current spec
        priorSpecs = cur.priorSpecs :+ cur.partitionSpec,
        fileSpecIdx = cur.files.map(f =>
          f -> cur.fileSpecIdx.getOrElse(f, cur.priorSpecs.length)).toMap)
    }.get
    declaredSpec = newSpec // this handle keeps writing, under the new spec
    next
  }

  /** Rename column `from` to `to` as ONE metadata-only commit (op
    * `rename`) — zero data I/O at any table size, the Iceberg-style
    * field-id evolution the widening rule alone cannot express. The
    * manifest retains every pre-rename schema (`priorSchemas`, fields
    * tagged with STABLE ids) and tags each live file with the epoch
    * that wrote it; reads resolve old files' columns BY ID
    * ([[Snapshot.writeName]]/`alignTo`), so a file written before any
    * chain of renames keeps resolving, stats/bloom pruning included.
    * Time travel is exact (a pre-rename version reads under its own
    * names); rewrites re-stage under current names and drain the debt
    * file by file; widening evolution composes unchanged (ids extend).
    *
    * Refused loudly when `from` sources a partition transform (hidden
    * partition write-exprs and tuple pruning are name-keyed — evolve
    * the spec first) or keys a PENDING tombstone (its key file carries
    * the old name; compact first). The declared sort order renames with
    * the column. The DSv2 catalog/TVF raw scans refuse/fall back while
    * any live file predates the rename — the typed surfaces and
    * `graft_log` stay exact throughout. A concurrent commit aborts,
    * like [[evolvePartitionSpec]]. */
  def renameColumn(from: String, to: String): Snapshot = {
    val cur = snapshot()
    require(cur.schemaJson.nonEmpty,
      s"$tableDir has no committed schema to rename in")
    require(!to.contains('.'),
      s"rename target '$to' must be a bare field name (the path stays)")
    val schema = org.apache.spark.sql.types.DataType.fromJson(cur.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val parts = from.split('.').toSeq
    val head = parts.head
    if (parts.size == 1) {
      require(schema.fieldNames.contains(from),
        s"$tableDir has no column '$from' (schema: ${schema.fieldNames.mkString(", ")})")
      require(!schema.fieldNames.exists(_.equalsIgnoreCase(to)),
        s"$tableDir already has a column '$to'")
    }
    // plane references bind the TOP-LEVEL column: a nested rename under
    // a referenced head refuses conservatively (stats/partition tuples/
    // tombstone key files/constraint texts all record head-anchored
    // names)
    (cur.priorSpecs :+ cur.partitionSpec).flatten.foreach(pf =>
      require(pf.source != head,
        s"'$head' sources partition transform ${pf.transform} — evolve " +
          "the partition spec off it before renaming"))
    require(!cur.tombstones.exists(_.column == head),
      s"pending key tombstones on '$head' — compact() to materialize " +
        "them before renaming (their key files carry the old name)")
    constraints().foreach { case (n, sql) =>
      require(!constraintRefs(sql).exists(_.equalsIgnoreCase(head)),
        s"CHECK constraint '$n' ($sql) references '$head' — drop or " +
          "redefine the constraint before renaming")
    }
    val withIds = SnapshotLog.withFids(schema)
    val renamed =
      if (parts.size == 1)
        org.apache.spark.sql.types.StructType(
          withIds.fields.map(f => if (f.name == from) f.copy(name = to) else f))
      else SnapshotLog.rewriteStructAt(withIds, parts.init,
          s"rename '$from' on $tableDir") { st =>
        require(st.fieldNames.contains(parts.last),
          s"rename on $tableDir: struct '${parts.init.mkString(".")}' has " +
            s"no field '${parts.last}' (fields: ${st.fieldNames.mkString(", ")})")
        require(!st.fieldNames.exists(_.equalsIgnoreCase(to)),
          s"struct '${parts.init.mkString(".")}' of $tableDir already has " +
            s"a field '$to'")
        org.apache.spark.sql.types.StructType(
          st.fields.map(f => if (f.name == parts.last) f.copy(name = to) else f))
      }
    val toPath = (parts.init :+ to).mkString(".")
    val next = commit("rename", Abort, base = Some(cur)) { cur =>
      // every live file pins to the epoch that wrote it (the RETAINED
      // epoch normalized with explicit ids, so matching is id-exact)
      newEpoch(cur, renamed, withIds).copy(
        sortOrder = cur.sortOrder.map(c => if (c == from) toPath else c))
    }.get
    // this handle keeps maintaining the same columns under the new name
    statsCols = statsCols.map(c => if (c == from) toPath else c)
    bloomCols = bloomCols.map(c => if (c == from) toPath else c)
    sortCols = sortCols.map(c => if (c == from) toPath else c)
    next
  }

  /** WIDEN a column's type as ONE metadata-only commit (op
    * `widen_type`) — the `ALTER TABLE ... ALTER COLUMN ... TYPE` verb,
    * on the same epoch machinery as renames: the pre-widen schema is
    * retained, every live file pins to it, and the epoch-aligned read
    * CASTS the column up ([[SnapshotLog.alignColumn]]'s scalar case),
    * so old files read widened with zero data I/O and time travel to
    * pre-widen versions still reads the narrow type. Only LOSSLESS
    * numeric widenings are accepted (byte→short→int→long,
    * float→double, int-family→double like Spark's own storeAssignment
    * upcasts) — anything else would silently corrupt values.
    *
    * Refused while the column sources a partition transform (a bucket
    * hash computed over the widened type need not match the recorded
    * tuples) or carries per-file BLOOM filters (their hashes are
    * type-dependent — a widened probe would produce false negatives
    * and prune live rows). Range STATS survive: the recorded bound
    * strings re-parse under the widened type exactly. Nested paths
    * navigate like every evolution verb (`a.b`, `arr.element.x`). */
  def widenColumnType(name: String,
      to: org.apache.spark.sql.types.DataType): Snapshot = {
    import org.apache.spark.sql.types._
    val cur = snapshot()
    require(cur.schemaJson.nonEmpty,
      s"$tableDir has no committed schema to widen")
    val schema = DataType.fromJson(cur.schemaJson).asInstanceOf[StructType]
    val parts = name.split('.').toSeq
    val head = parts.head
    def widens(from: DataType): Boolean = (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType)            => true
      case (IntegerType, LongType)                        => true
      case (FloatType, DoubleType)                        => true
      case (ByteType | ShortType | IntegerType, DoubleType) => true
      case _ => false
    }
    (cur.priorSpecs :+ cur.partitionSpec).flatten.foreach(pf =>
      require(pf.source != head,
        s"'$head' sources partition transform ${pf.transform} — its " +
          "recorded tuples were computed over the narrow type; evolve " +
          "the partition spec off it before widening"))
    require(!cur.tombstones.exists(_.column == head),
      s"pending key tombstones on '$head' — compact() to materialize " +
        "them before widening (their key files carry the narrow type)")
    require(!bloomCols.contains(head) &&
        !cur.blooms.valuesIterator.exists(_.contains(head)),
      s"'$head' carries bloom filters — their hashes are type-dependent, " +
        "a widened probe would false-negative and prune live rows; " +
        "drop the bloom maintenance (compact without it) before widening")
    val withIds = SnapshotLog.withFids(schema)
    def widenField(f: StructField): StructField = {
      require(widens(f.dataType),
        s"widen on $tableDir: '$name' is ${f.dataType.simpleString} → " +
          s"${to.simpleString} is not a lossless numeric widening " +
          "(byte→short→int→long, float→double, int-family→double)")
      f.copy(dataType = to)
    }
    val widened =
      if (parts.size == 1) {
        require(withIds.fieldNames.contains(name),
          s"$tableDir has no column '$name' " +
            s"(schema: ${schema.fieldNames.mkString(", ")})")
        StructType(withIds.fields.map(f =>
          if (f.name == name) widenField(f) else f))
      } else SnapshotLog.rewriteStructAt(withIds, parts.init,
          s"widen '$name' on $tableDir") { st =>
        require(st.fieldNames.contains(parts.last),
          s"widen on $tableDir: struct '${parts.init.mkString(".")}' has " +
            s"no field '${parts.last}'")
        StructType(st.fields.map(f =>
          if (f.name == parts.last) widenField(f) else f))
      }
    commit("widen_type", Abort, base = Some(cur))(
      newEpoch(_, widened, withIds)).get
  }

  /** Drop `name` as ONE metadata-only commit (op `drop`) — the
    * schema-evolution verb renames left open, on the SAME field-id
    * machinery: the pre-drop schema is retained (`priorSchemas`, fields
    * carrying explicit stable ids) and every live file pins to the
    * epoch that wrote it, so reads project old files onto the current
    * schema by FIELD ID and the dropped column simply stops being
    * selected — no data file is touched at any table size. The dropped
    * field's id retires WITH it: a later [[addColumn]]/widened append
    * reusing the name gets a FRESH id ([[SnapshotLog.mergeSchemaJson]]
    * assigns max+1 once ids are in use), so old files' physical values
    * can never leak into the re-added column (they read as NULL —
    * Iceberg's drop/re-add contract). Maintenance drains the debt
    * exactly as for renames: rewrites re-stage under the current schema
    * (physically shedding the column) and untag; the raw DSv2 scan
    * stays refused while any old-epoch file lives
    * ([[materializeRenames]] / the orchestrator's scheduled pass).
    * Partition-transform sources and tombstone-keyed columns refuse
    * loudly, like [[renameColumn]]; so does dropping the last column. */
  def dropColumn(name: String): Snapshot = {
    val cur = snapshot()
    require(cur.schemaJson.nonEmpty,
      s"$tableDir has no committed schema to drop from")
    val schema = org.apache.spark.sql.types.DataType.fromJson(cur.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val parts = name.split('.').toSeq
    val head = parts.head
    if (parts.size == 1) {
      require(schema.fieldNames.contains(name),
        s"$tableDir has no column '$name' (schema: ${schema.fieldNames.mkString(", ")})")
      require(schema.fields.length > 1,
        s"cannot drop '$name' — it is the only column of $tableDir")
    }
    (cur.priorSpecs :+ cur.partitionSpec).flatten.foreach(pf =>
      require(pf.source != head,
        s"'$head' sources partition transform ${pf.transform} — evolve " +
          "the partition spec off it before dropping"))
    require(!cur.tombstones.exists(_.column == head),
      s"pending key tombstones on '$head' — compact() to materialize " +
        "them before dropping (their key files carry the column)")
    constraints().foreach { case (n, sql) =>
      require(!constraintRefs(sql).exists(_.equalsIgnoreCase(head)),
        s"CHECK constraint '$n' ($sql) references '$head' — drop or " +
          "redefine the constraint before dropping the column")
    }
    val withIds = SnapshotLog.withFids(schema)
    val dropped =
      if (parts.size == 1)
        org.apache.spark.sql.types.StructType(
          withIds.fields.filterNot(_.name == name))
      else SnapshotLog.rewriteStructAt(withIds, parts.init,
          s"drop '$name' on $tableDir") { st =>
        require(st.fieldNames.contains(parts.last),
          s"drop on $tableDir: struct '${parts.init.mkString(".")}' has no " +
            s"field '${parts.last}' (fields: ${st.fieldNames.mkString(", ")})")
        require(st.fields.length > 1,
          s"cannot drop '$name' — it is the only field of its struct; " +
            "drop the struct column itself instead")
        org.apache.spark.sql.types.StructType(
          st.fields.filterNot(_.name == parts.last))
      }
    val next = commit("drop", Abort, base = Some(cur)) { cur =>
      newEpoch(cur, dropped, withIds).copy(
        sortOrder = cur.sortOrder.filterNot(_ == name))
    }.get
    statsCols = statsCols.filterNot(_ == name)
    bloomCols = bloomCols.filterNot(_ == name)
    sortCols = sortCols.filterNot(_ == name)
    next
  }

  /** Add nullable column `name` as ONE metadata-only commit (op
    * `widen`) — the explicit spelling of what a widened append does
    * implicitly, for the `ALTER TABLE ... ADD COLUMN` SQL verb and for
    * declaring a column BEFORE any writer ships it. Every existing file
    * reads the column as NULL (plain schema-on-read — no epoch tag
    * needed, absence from a footer already projects as NULL); the field
    * gets a fresh stable id when ids are in use, so it composes with
    * any rename/drop history. Refuses a name the schema already has —
    * including case-insensitively, matching [[renameColumn]]'s guard. */
  def addColumn(name: String,
      dataType: org.apache.spark.sql.types.DataType): Snapshot = {
    val cur = snapshot()
    require(cur.schemaJson.nonEmpty,
      s"$tableDir has no committed schema to widen")
    val schema = org.apache.spark.sql.types.DataType.fromJson(cur.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val parts = name.split('.').toSeq
    val widened =
      if (parts.size == 1) {
        require(!schema.fieldNames.exists(_.equalsIgnoreCase(name)),
          s"$tableDir already has a column '$name'")
        org.apache.spark.sql.types.DataType.fromJson(mergeSchemaJson(
          cur, org.apache.spark.sql.types.StructType(schema.fields :+
            org.apache.spark.sql.types.StructField(name, dataType)).json))
          .asInstanceOf[org.apache.spark.sql.types.StructType]
      } else SnapshotLog.rewriteStructAt(schema, parts.init,
          s"add '$name' on $tableDir") { st =>
        // nested widen: existing files read the new field as NULL
        // (parquet clips nested projections by name and null-pads the
        // absent field — no epoch tag needed, like a top-level widen).
        // Fresh id = per-struct max+1 once ids are in use there, so a
        // drop/re-add inside the struct can never leak old values; an
        // id-free struct appends positionally, which the index
        // convention reads exactly.
        require(!st.fieldNames.exists(_.equalsIgnoreCase(parts.last)),
          s"struct '${parts.init.mkString(".")}' of $tableDir already " +
            s"has a field '${parts.last}'")
        val f = org.apache.spark.sql.types.StructField(parts.last, dataType)
        // once ids are in use in this struct, the fresh id must clear
        // EVERY epoch's ids (a dropped inner field's id lives only in
        // the retained epochs — reusing it would alias old files'
        // dropped values into the new field); the global max over all
        // levels of all epochs is a safe upper bound
        def fidsIn(dt: org.apache.spark.sql.types.DataType): Iterator[Long] =
          dt match {
            case inner: org.apache.spark.sql.types.StructType => allFids(inner)
            case a: org.apache.spark.sql.types.ArrayType => fidsIn(a.elementType)
            case m: org.apache.spark.sql.types.MapType => fidsIn(m.valueType)
            case _ => Iterator.empty
          }
        def allFids(s0: org.apache.spark.sql.types.StructType): Iterator[Long] =
          s0.fields.zipWithIndex.iterator.flatMap { case (sf, i) =>
            Iterator.single(SnapshotLog.fidOf(sf, i)) ++ fidsIn(sf.dataType)
          }
        val tagged =
          if (!st.fields.exists(_.metadata.contains(SnapshotLog.FidKey))) f
          else f.copy(metadata =
            new org.apache.spark.sql.types.MetadataBuilder()
              .putLong(SnapshotLog.FidKey,
                cur.epochSchemas.iterator.flatMap(allFids).max + 1)
              .build())
        org.apache.spark.sql.types.StructType(st.fields :+ tagged)
      }
    commit("widen", Abort, base = Some(cur)) { cur =>
      cur.copy(schemaJson = widened.json, cdc = commitCdc(cur), changes = None)
    }.get
  }

  /** Remove every row as ONE metadata-only commit (op `truncate`): the
    * next manifest lists no files — zero data I/O at any table size, the
    * SQL `TRUNCATE TABLE` / unconditional `DELETE FROM` verb. The
    * schema, partition spec (and its history), sort order and stream
    * watermarks all survive — the table is empty, not gone — and time
    * travel still reads every retained pre-truncate version. Pending key
    * tombstones clear with the files they cover. The row-level change
    * feed needs no recorded images for this op: the deleted pre-images
    * are exactly the parent version's logical table, which
    * [[readChangeRows]] reconstructs by reference (tombstone-applied).
    * `txn` rides the same `(appId, batchId)` exactly-once watermark as
    * [[appendStream]] — how [[LogMirror]] replays a truncate once.
    * Returns None when the table is already empty (and the watermark, if
    * any, is already recorded). A concurrent commit aborts, like
    * [[restore]] — a truncate replaces the whole table. */
  def truncate(txn: Option[(String, Long)] = None): Option[Snapshot] = {
    val base = headOrEmpty()
    if (replayed(base, txn)) return None // replay detected
    if (base.version > 0 && base.files.isEmpty && txn.isEmpty)
      return None // already empty
    commit("truncate", Abort, base = Some(base)) { base =>
      emptied(base).copy(txns = txnsAfter(base, txn))
    }
  }

  /** Replace the WHOLE table with `df` in one atomic commit (op
    * `overwrite`) — truncate + append fused so readers never observe the
    * empty intermediate state: the SQL `INSERT OVERWRITE` verb. Staging
    * routes through the same choke point as appends (partition
    * transforms, sort order, stats/bloom lift), the schema may widen
    * (same rule as [[append]]), and pending key tombstones clear with
    * the files they covered. Like [[truncate]], the change feed derives
    * both sides by reference — deleted pre-images are the parent's
    * logical table, inserts are the committed files — so no images are
    * recorded even on feed-enabled tables. `txn` rides the exactly-once
    * watermark. A concurrent commit aborts (an overwrite is
    * row-removing — retrying past an unseen append would silently drop
    * its rows). */
  def overwriteAll(df: DataFrame, txn: Option[(String, Long)] = None,
      preArranged: Boolean = false): Snapshot = {
    val base = headOrEmpty()
    if (replayed(base, txn))
      return base // replay detected — nothing stages, nothing commits
    overwriteAllStaged(base,
      stage(df, base = Some(base), preArranged = preArranged), txn)
  }

  private def overwriteAllStaged(base: Snapshot, staged: Staged,
      txn: Option[(String, Long)]): Snapshot =
    commit("overwrite", Abort, Seq(staged), base = Some(base)) { base =>
      policyGuard(staged)
      swapFiles(emptied(base), Set.empty, staged).copy(
        rows = staged.rows, bytes = staged.bytes,
        schemaJson = mergeSchemaJson(base, staged.schemaJson),
        txns = txnsAfter(base, txn))
    }.get

  /** Replace the REGION matching a conjunction of [lo, hi] ranges with
    * `df` in ONE atomic commit (op `replace_where`) — delete-the-region
    * + append fused so readers never observe the half-replaced state:
    * the `INSERT OVERWRITE t PARTITION (c = v)` / replace-where verb.
    * The classic shape — recompute one day/partition and swap it in —
    * costs O(region): provably-all-matching files DROP as pure manifest
    * arithmetic (on an identity/day-partitioned table the whole swap's
    * delete half is metadata-only), straddling files rewrite their
    * SURVIVORS copy-on-write (no deletion-vector arm: an overwrite
    * replaces the region by definition, so the region's bytes die with
    * the commit), untouched files carry by name. NULL-keyed rows never
    * match (SQL semantics) and always survive. The new batch stages
    * through the normal choke point (partition transforms, sort order,
    * stats/bloom lift, constraint gate) and need not itself fall inside
    * the region — SQL's static-overwrite contract already guarantees it
    * there, and the typed caller owns the semantics otherwise.
    *
    * Empty `preds` = full-table overwrite → use [[overwriteAll]]. An
    * uncoercible bound (no value of the column's type can match) makes
    * the delete half a provable no-op: the batch simply appends, op
    * still `replace_where`. Pending key tombstones refuse (CoW
    * rewrites would resurrect covered rows); pending DVs on touched
    * files apply during the survivor read and die with the region.
    *
    * CDC on feed-enabled tables: whole-file drops ship BY REFERENCE,
    * straddlers' matching rows image as deletes, the batch images as
    * inserts, and the predicates record when manifest-encodable so
    * [[LogMirror]] replays the swap on a replica from preds +
    * insert images with zero pre-image bytes shipped. `txn` rides the
    * exactly-once watermark. A concurrent commit aborts (row-removing,
    * like [[overwriteAll]]). */
  def overwriteWhere(preds0: Seq[(String, Any, Any)], df: DataFrame,
      txn: Option[(String, Long)] = None,
      preArranged: Boolean = false): Snapshot = {
    require(preds0.nonEmpty,
      "overwriteWhere needs at least one (column, lo, hi) — use " +
        "overwriteAll for the full-table overwrite")
    val base = snapshot()
    if (replayed(base, txn))
      return base // replay detected — nothing stages, nothing commits
    requireNoTombstones(base, "a region overwrite (rewriting covered " +
      "files raw would resurrect tombstoned rows)")
    overwriteWhereStaged(base, preds0,
      stage(df, base = Some(base), preArranged = preArranged), df, txn)
  }

  /** The commit half of [[overwriteWhere]], shared with the NATIVE
    * write ([[commitNativeOverwriteWhere]]): `stagedNew` is the
    * already-staged replacement batch; `newRows` re-reads its rows for
    * the CDC insert images (the incoming frame on the staged path, the
    * written files on the native one — same rows either way, evaluated
    * only on feed-enabled tables). */
  private def overwriteWhereStaged(base: Snapshot,
      preds0: Seq[(String, Any, Any)], stagedNew: Staged,
      newRows: => DataFrame, txn: Option[(String, Long)]): Snapshot = {
    val preds = coercePreds(base, preds0).getOrElse(Seq.empty)
    val dts = preds.map { case (c, _, _) => c -> schemaType(base, c) }.toMap
    val touched = if (preds.isEmpty) Nil else candidateFiles(base, preds)
    val (dropped, straddle) = touched.partition(f =>
      base.fileRows.contains(f) && !base.dvs.contains(f) &&
        fullyContained(base, f, preds, dts))
    val matches =
      if (preds.isEmpty) lit(false)
      else preds.map { case (c, lo, hi) =>
        col(c).isNotNull && col(c).between(lit(lo), lit(hi)) }.reduce(_ && _)
    // survivors of straddling files, DV-applied and epoch-aligned; a
    // NULL in a predicate column survives explicitly (matches is null)
    val survivorsDf =
      if (straddle.isEmpty) None
      else Some(scan(base, straddle).where(
        org.apache.spark.sql.functions.not(
          org.apache.spark.sql.functions.coalesce(matches, lit(false)))))
    val straddleLive = liveRows(base, straddle)
    val droppedRows = dropped.map(base.fileRows).sum
    val touchedBytes = touched.map(fileLen(base, _)).sum
    val stagedSurv = survivorsDf.map(s => stage(s, base = Some(base)))
    val recordCdc = commitCdc(base)
    val changeStaged =
      if (!recordCdc) None
      else {
        val ins = newRows.withColumn("_change_type", lit("insert"))
        val all =
          if (straddle.isEmpty) ins
          else scan(base, straddle)
            .where(org.apache.spark.sql.functions
              .coalesce(matches, lit(false)))
            .withColumn("_change_type", lit("delete"))
            .unionByName(ins, allowMissingColumns = true)
        val st = stage(all, partitioned = false)
        if (st.rows == 0 && dropped.isEmpty) { discard(st); None }
        else Some(st)
      }
    val encodedPreds = preds.map { case (c, lo, hi) =>
      ChangePred.encode(c, lo, hi) }
    val changeSet =
      if (!recordCdc) None
      else Some(ChangeSet(
        files = changeStaged.map(_.files).getOrElse(Nil),
        deletedDataFiles = dropped,
        preds = if (preds.nonEmpty && encodedPreds.forall(_.isDefined))
          encodedPreds.flatten else Nil))
    val written = stagedSurv.toSeq :+ stagedNew
    commit("replace_where", Abort, written ++ changeStaged,
        base = Some(base)) { base =>
      // the new batch carries NEW rows — constraint-gate it like
      // appends; survivors are carried old rows (already validated),
      // like deletes
      policyGuard(stagedNew)
      // touched straddlers rewrote through the DV-applied read —
      // materialized; dropped files' vectors die with them
      swapFiles(base, touched.toSet, written: _*).copy(
        rows = base.rows - droppedRows - straddleLive + written.map(_.rows).sum,
        bytes = base.bytes - touchedBytes + written.map(_.bytes).sum,
        schemaJson = mergeSchemaJson(base, stagedNew.schemaJson),
        txns = txnsAfter(base, txn), tombstones = Nil,
        partitionSpec = commitSpec(base), sortOrder = commitSort(base),
        cdc = recordCdc, changes = changeSet)
    }.get
  }

  /** DYNAMIC partition overwrite: replace exactly the partitions `df`'s
    * rows land in — stage the batch through the normal choke point,
    * then swap out every live file whose partition TUPLE matches a
    * staged tuple, in ONE atomic commit (op `replace_where`). The
    * `INSERT OVERWRITE` dynamic-mode verb, typed (Spark has no V1 write
    * fallback for `OverwritePartitionsDynamic`, so the SQL spelling is
    * the static `PARTITION (c = v)` form → [[overwriteWhere]]; this is
    * the orchestration-side sibling for recompute-what-I-produced
    * backfills). The delete half is PURE manifest arithmetic — tuples
    * are exact per file, no stats proof needed — so a daily recompute
    * writes the new day's files and drops the old day's by name,
    * touching nothing else at any table size.
    *
    * Requires a partition spec (partition-wise by definition) and every
    * live file on the CURRENT spec (evolve debt makes old tuples
    * incomparable — compact first); tombstones refuse like every
    * rewrite. An empty batch replaces nothing and commits nothing
    * (None). CDC: dropped files ship by reference, the batch images as
    * inserts; [[LogMirror]] replays by re-running the same dynamic
    * overwrite on the replica from the insert images — the tuples
    * derive from the DATA, so the replica swaps exactly the same
    * logical partitions. `txn` rides the exactly-once watermark. */
  def overwritePartitions(df: DataFrame,
      txn: Option[(String, Long)] = None): Option[Snapshot] = {
    val base = snapshot()
    if (replayed(base, txn))
      return None // replay detected — nothing stages, nothing commits
    require(commitSpec(base).nonEmpty,
      s"$tableDir has no partition spec — dynamic partition overwrite " +
        "is partition-wise by definition; use overwriteAll/overwriteWhere")
    requireNoTombstones(base, "a dynamic partition overwrite")
    require(base.files.forall(f => base.specOf(f) == base.partitionSpec),
      s"$tableDir carries partition-spec evolution debt — old-spec " +
        "tuples are incomparable; compact() to converge the layout first")
    overwritePartitionsStaged(base, stage(df, base = Some(base)), df, txn)
  }

  /** The native write's dynamic-partition overwrite commit (`INSERT
    * OVERWRITE` under `partitionOverwriteMode=dynamic` — Spark's
    * OverwritePartitionsDynamic plan, which has NO V1 fallback; the
    * native BatchWrite is what makes the SQL spelling possible). Same
    * guards and commit as [[overwritePartitions]]. */
  private[graft] def commitNativeOverwritePartitions(
      files: Seq[(String, Seq[String], Long)],
      writeSchema: org.apache.spark.sql.types.StructType,
      spec: Seq[PartitionField],
      listedChecks: Map[String, String]): Option[Snapshot] = {
    val base = snapshot()
    require(commitSpec(base).nonEmpty,
      s"$tableDir has no partition spec — dynamic partition overwrite " +
        "is partition-wise by definition; use overwriteAll/overwriteWhere")
    requireNoTombstones(base, "a dynamic partition overwrite")
    require(base.files.forall(f => base.specOf(f) == base.partitionSpec),
      s"$tableDir carries partition-spec evolution debt — old-spec " +
        "tuples are incomparable; compact() to converge the layout first")
    def newRows: DataFrame =
      if (files.isEmpty) spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], writeSchema)
      else spark.read.schema(writeSchema).parquet(
        files.map(f => new Path(dataDir, f._1).toString): _*)
    overwritePartitionsStaged(base,
      nativeStaged(files, writeSchema.json, spec, listedChecks),
      newRows, None)
  }

  private def overwritePartitionsStaged(base: Snapshot, staged: Staged,
      newRows: => DataFrame,
      txn: Option[(String, Long)]): Option[Snapshot] = {
    if (staged.rows == 0) { discard(staged); return None }
    val tuples = staged.partitions.values.toSet
    val dropped = base.files.filter(f =>
      base.partitions.get(f).exists(tuples.contains))
    val droppedRows = liveRows(base, dropped)
    val droppedBytes = dropped.map(fileLen(base, _)).sum
    val recordCdc = commitCdc(base)
    // A dropped file carrying a PENDING deletion vector must not ship
    // by reference: [[readChangeRows]] images referenced files via the
    // raw epoch-aligned read (no DVs applied), so positions the vector
    // already deleted would re-image as delete pre-images and the feed
    // would overcount. Materialize the LIVE rows of DV'd dropped files
    // into the staged change file (the DV-applied [[scan]]); DV-free
    // files still ship by reference — zero new bytes in the steady
    // state. The mirror's dynamic replay filters inserts, so the extra
    // delete images are invisible to it.
    val (dvDropped, refDropped) = dropped.partition(base.dvs.contains)
    val changeStaged =
      if (!recordCdc) None
      else {
        val ins = newRows.withColumn("_change_type", lit("insert"))
        val all =
          if (dvDropped.isEmpty) ins
          else ins.unionByName(
            scan(base, dvDropped).withColumn("_change_type", lit("delete")),
            allowMissingColumns = true)
        val st = stage(all, partitioned = false)
        if (st.rows == 0) { discard(st); None } else Some(st)
      }
    val changeSet =
      if (!recordCdc) None
      else Some(ChangeSet(files = changeStaged.map(_.files).getOrElse(Nil),
        deletedDataFiles = refDropped,
        // marks the commit as tuple-defined so the mirror knows a
        // dynamic replay is SOUND (see DynamicOverwriteMarker)
        keyColumn = SnapshotLog.DynamicOverwriteMarker))
    commit("replace_where", Abort, staged +: changeStaged.toSeq,
        base = Some(base)) { base =>
      policyGuard(staged)
      swapFiles(base, dropped.toSet, staged).copy(
        rows = base.rows - droppedRows + staged.rows,
        bytes = base.bytes - droppedBytes + staged.bytes,
        schemaJson = mergeSchemaJson(base, staged.schemaJson),
        txns = txnsAfter(base, txn), tombstones = Nil,
        partitionSpec = commitSpec(base), sortOrder = commitSort(base),
        cdc = recordCdc, changes = changeSet)
    }
  }

  /** Re-declare the table's write-time clustering as ONE metadata-only
    * commit (op `set_sort`): every FUTURE stage — appends, compaction
    * restages, merge survivors — arranges rows by `cols` before
    * writing, so files land with tight stats ranges from here on.
    * Always sound (the scaladoc contract on [[commitSort]]): a sort
    * order shapes future files' internal order, never the
    * interpretation of recorded metadata — existing files keep their
    * layout until a rewrite drains them. `Nil` clears the order. A
    * handle constructed with its own declared order keeps it (the
    * constructor's declaration wins); spec-less writers — the SQL DML
    * surface — inherit the new manifest order on their next commit.
    * The SQL spellings: `ALTER TABLE ... SET TBLPROPERTIES
    * ('sort-order'='a,b')` and `CALL system.set_sort_order`. */
  def setSortOrder(cols: Seq[String]): Snapshot = {
    val cur = snapshot()
    if (cur.schemaJson.nonEmpty) {
      val fields = org.apache.spark.sql.types.DataType.fromJson(cur.schemaJson)
        .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSet
      cols.foreach(c => require(fields(c),
        s"sort column '$c' is not a column of $tableDir"))
    }
    if (cols == cur.sortOrder) return cur // idempotent: re-run DDL is a no-op
    commit("set_sort", Abort, base = Some(cur)) { cur =>
      cur.copy(sortOrder = cols, cdc = commitCdc(cur), changes = None)
    }.get
  }

  /** Turn on row-level CDC for an EXISTING table as ONE metadata-only
    * commit (op `enable_feed`) — the post-creation spelling of
    * [[SnapshotLog.withChangeFeed]] for tables that discover a
    * downstream consumer after the fact. Sticky like the constructor
    * flag (no off switch — consumers may already depend on the
    * images), and the feed's contract starts HERE: change images are
    * recorded for commits from this version on, so a consumer reads
    * `readChangeRows(thisVersion, ...)` — spans reaching further back
    * hit the recorded-images guard exactly as they should. Idempotent.
    * SQL spellings: `ALTER TABLE ... SET TBLPROPERTIES
    * ('change-feed'='true')` and `CALL system.enable_change_feed`. */
  def enableChangeFeed(): Snapshot = {
    require(currentVersion() > 0,
      s"$tableDir has no commit yet — declare the feed at creation " +
        "(withChangeFeed / CREATE TABLE ... ('change-feed'='true'))")
    val cur = snapshot()
    if (cur.cdc) return cur
    commit("enable_feed", Abort, base = Some(cur))(
      _.copy(cdc = true, changes = None)).get
  }

  /** Roll the table back to a retained `version` as a NEW commit: the
    * old file set is re-published at the top of the log (op `restore`),
    * so history stays intact, concurrent writers see the rollback
    * through the same CAS as any commit, and nothing is copied — data
    * files are immutable, the restore is one manifest write. This is
    * the undo for a bad delete/merge/append while the horizon holds;
    * `txns` carries FORWARD from the current version (a restore must
    * not resurrect already-committed stream batches). A concurrent
    * commit ABORTS the restore, like [[rewrite]] — a restore replaces
    * the whole table, so retrying past a commit it hasn't seen would
    * silently drop that commit's rows (while the carried txns watermark
    * still marks its stream batch committed — unrecoverable by replay). */
  def restore(version: Long): Snapshot = {
    require(version >= 1, s"restore needs a committed version, got $version")
    val target = snapshot(version)
    commit("restore", Abort, base = Some(snapshot())) { cur =>
      target.copy(txns = cur.txns, cdc = commitCdc(cur), changes = None)
    }.get
  }

  /** Bin-pack the live set back to ~`targetFileBytes` files via a
    * narrow `coalesce` (no shuffle), committed as a rewrite. `None` when
    * already compact — the scheduled form must be a cheap no-op. */
  def compact(targetFileBytes: Long = 128L << 20): Option[Snapshot] = {
    val cur = snapshot()
    val nOut = SnapshotLog.packedFileCount(cur.bytes, targetFileBytes)
    // pending key tombstones force the rewrite even when file counts are
    // fine: compaction is where merge-on-read deletes materialize
    if (cur.files.length <= nOut && cur.tombstones.isEmpty &&
        cur.dvs.isEmpty && cur.fileSchemaIdx.isEmpty) None
    else Some(rewrite("compact")(_.coalesce(nOut)))
  }

  /** Incremental compaction: bin-pack ONLY the undersized files
    * (< `targetFileBytes` / 2) and carry every well-sized file by name —
    * at 100 TB the difference between an O(small-file backlog)
    * maintenance pass and [[compact]]'s full-table rewrite (production
    * compaction is always incremental; the full rewrite is the
    * materialization/emergency path). The rewrite set is chosen from the
    * manifest's recorded per-file sizes — zero file-status calls — and
    * row-verified against the recorded per-file counts before the
    * commit. `None` when fewer than two undersized files exist (the
    * scheduled no-op), a delegate to [[compact]] when key tombstones are
    * pending (materialization must cover every covered file). Commits as
    * op `compact`; concurrent appends resolve at retry, row-removing
    * commits abort — [[commitReplacing]]. */
  def compactSmall(targetFileBytes: Long = 128L << 20): Option[Snapshot] = {
    val base = snapshot()
    if (base.tombstones.nonEmpty) return compact(targetFileBytes)
    // DV-covered files are not "small backlog" — their on-disk size
    // overstates live data and bin-packing them raw would resurrect
    // position-deleted rows; [[materializeDeletes]] owns that rewrite.
    // Old-schema-epoch files are excluded for the same reason (a raw
    // read under current names would null the renamed column); the
    // full compact() is their materialization path.
    val sized = base.files
      .filterNot(f => base.dvs.contains(f) || base.fileSchemaIdx.contains(f))
      .map(f => f -> fileLen(base, f))
    val small = sized.filter(_._2 < targetFileBytes / 2)
    val smallFiles = small.map(_._1)
    val smallBytes = small.map(_._2).sum
    val nOut = SnapshotLog.packedFileCount(smallBytes, targetFileBytes)
    if (small.size <= 1 || small.size <= nOut) return None
    // the small set carries no vector, so its live rows are exactly its
    // physical rows and the shared replacement commit (with append-race
    // resolution) applies unchanged
    val smallRows = liveRows(base, smallFiles)
    Some(replaceVerified("compact", base, smallFiles, smallRows, smallBytes,
      smallRows, reader(base)
        .parquet(smallFiles.map(f => new Path(dataDir, f).toString): _*)
        .coalesce(nOut)))
  }

  /** Targeted merge-on-read materialization: rewrite ONLY the files a
    * pending deletion vector covers (DV-applied read → clean files),
    * dropping their vectors from the manifest — O(covered files), the
    * scheduled maintenance twin of [[compactSmall]] for the DV backlog
    * (a full [[compact]] also materializes, at full-table cost). Key
    * tombstones pending delegate to [[compact]]: a tombstone's
    * `appliesTo` scope can only clear when EVERY covered file rewrites.
    * Verified: the staged row count must equal the exact live count
    * (physical minus vectored positions) before anything commits.
    * Commits as op `compact`; interleaved appends resolve at retry,
    * row-removing commits abort — [[commitReplacing]]. None when no
    * vector is pending. */
  def materializeDeletes(): Option[Snapshot] = {
    val base = snapshot()
    if (base.dvs.isEmpty) return None
    if (base.tombstones.nonEmpty) return compact()
    val covered = base.files.filter(base.dvs.contains)
    val physRows =
      if (covered.forall(base.fileRows.contains)) covered.map(base.fileRows).sum
      else covered.groupBy(base.schemaIdxOf).map { case (ep, g) =>
        epochReader(base, ep)
          .parquet(g.map(f => new Path(dataDir, f).toString): _*).count()
      }.sum
    val vectored = dvFrame(base, covered)
      .where(col("_file").isInCollection(covered.toSet)).count()
    val expected = physRows - vectored
    // scan == the epoch-aligned, vector-applied logical read (tombstones
    // are empty by the delegate above) — also drains any rename debt of
    // the covered files, since survivors re-stage under current names.
    // `expected` is the covered set's LIVE rows — commitReplacing's row
    // accounting is in logical rows, so the total stays exact
    Some(replaceVerified("compact", base, covered, expected,
      covered.map(fileLen(base, _)).sum, expected, scan(base, covered)))
  }

  /** Targeted rename-debt materialization: rewrite ONLY the files still
    * carrying an old schema epoch (field-id-aligned read → current-name
    * files), dropping their epoch tags — O(debt files), the scheduled
    * maintenance twin of [[materializeDeletes]] for
    * [[renameColumn]]'s converge-by-maintenance contract. Files that
    * ALSO carry a deletion vector are left to [[materializeDeletes]]
    * (whose rewrite drains both debts at once); pending key tombstones
    * delegate to [[compact]] (their scope only clears on full
    * coverage). Row-verified before commit; None when nothing pends. */
  def materializeRenames(): Option[Snapshot] = {
    val base = snapshot()
    val old = base.files.filter(f =>
      base.fileSchemaIdx.contains(f) && !base.dvs.contains(f))
    if (old.isEmpty) return None
    if (base.tombstones.nonEmpty) return compact()
    val expected = liveRows(base, old)
    Some(replaceVerified("compact", base, old, expected,
      old.map(fileLen(base, _)).sum, expected, epochAlignedRead(base, old)))
  }

  /** Pin `version` (default: the current head) under an immutable named
    * tag — the audit/reproducibility ref: `read`/`VERSION AS OF
    * '<name>'`/`graft_log(dir, '<name>')` resolve it forever, and
    * [[vacuum]] retains a tagged version's manifest and files past any
    * horizon until [[dropTag]]. Tags live OUTSIDE the version stream
    * (`ref-<name>.json` beside the manifests, published through the
    * same [[CommitStore]] create-if-absent), so tagging commits
    * nothing, replays nothing, and never perturbs CDC/mirror walks.
    * Immutable: re-tagging an existing name is refused unless it
    * already points at the same version (idempotent); retargeting is
    * drop + create, loud and deliberate. Returns the pinned version. */
  def createTag(name: String, version: Long = -1L): Long = {
    require(branchName.isEmpty,
      "tags pin MAIN-chain versions — create them on the main handle " +
        "(a branch is already a named ref; publish or drop it instead)")
    require(SnapshotLog.TagNameRe.matches(name),
      s"tag '$name' — names are [A-Za-z0-9][A-Za-z0-9._-]*")
    val v = if (version < 0) currentVersion() else version
    require(v >= 1 && store.exists(manifestName(v)),
      s"cannot tag $tableDir v$v — no such committed version")
    val payload = s"""{"tag":"$name","version":$v}"""
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    if (!store.putIfAbsent(refName(name), payload)) {
      val existing = versionOfTag(name)
      require(existing.contains(v),
        s"tag '$name' on $tableDir already points at v${existing.orNull} — " +
          "tags are immutable; dropTag first to retarget")
    }
    v
  }

  /** Remove tag `name` (idempotent) — its version rejoins the ordinary
    * retention horizon at the next [[vacuum]]. */
  def dropTag(name: String): Unit = store.delete(refName(name))

  /** All tags as name → pinned version. O(refs) store listing. */
  def tags(): Map[String, Long] =
    store.list().filter(n => n.startsWith(RefPrefix) && n.endsWith(".json"))
      .flatMap { n =>
        val tag = n.stripPrefix(RefPrefix).stripSuffix(".json")
        versionOfTag(tag).map(tag -> _)
      }.toMap

  /** The version tag `name` pins, if the tag exists. A string that
    * cannot be a tag name (e.g. an ISO timestamp — its colons would not
    * even form a relative store path) is simply None, so the travel
    * surfaces can probe tags first and fall through. */
  def versionOfTag(name: String): Option[Long] =
    if (!SnapshotLog.TagNameRe.matches(name)) None
    else store.get(refName(name)).map(b =>
      mapper.readTree(b).get("version").asLong())

  private def refName(name: String) = s"$RefPrefix$name.json"

  // ---- CHECK constraints -------------------------------------------

  private def constraintRefName(name: String) = s"$ConstraintPrefix$name.json"

  /** Column names a constraint expression references (parsed with the
    * catalyst SQL parser, not resolved — `functions.expr` wraps the
    * text in a lazily-parsed node that hides the attribute tree). The
    * guard surfaces check these against the current schema. */
  private[graft] def constraintRefs(sql: String): Seq[String] =
    spark.sessionState.sqlParser.parseExpression(sql)
      .collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.nameParts.head
      }.distinct

  /** Declare a CHECK constraint: every future write commit (append,
    * merge, update survivors+copies, overwrite, compaction restage)
    * must satisfy `sql` on every row or the WHOLE commit aborts before
    * anything publishes — enforcement rides the staging write's
    * existing `Observation` (one violation counter per constraint on
    * the same pass that counts rows, zero extra jobs). SQL CHECK
    * semantics: a row violates only when the expression is FALSE —
    * NULL passes; a constraint referencing columns absent from a
    * particular write's frame passes that write (those rows read the
    * column as NULL). EXISTING rows are validated now, one pass — a
    * table already in violation refuses the constraint, like
    * production formats' ADD CONSTRAINT.
    *
    * Constraints are table POLICY, stored as refs beside the manifests
    * (`check-<name>.json`, same namespace pattern as tags) rather than
    * per-snapshot state: they bind the live table and every branch
    * (audit work does not get to skip validation), are not
    * time-travel-versioned, and do not replicate through [[LogMirror]]
    * (the replica declares its own policy). [[renameColumn]] /
    * [[dropColumn]] refuse while a constraint references the column. */
  def addConstraint(name: String, sql: String): Unit = {
    require(SnapshotLog.TagNameRe.matches(name),
      s"constraint '$name' — names are [A-Za-z0-9][A-Za-z0-9._-]*")
    val refs = constraintRefs(sql) // also fails fast on unparseable SQL
    // CLAIM the ref FIRST, validate second, roll the claim back on
    // violation. The ordering is what makes concurrent writes sound:
    // once the ref is published, every staging write that lists
    // constraints sees it, and a write staged EARLIER (against the
    // pre-constraint set) aborts at its commit-time [[policyGuard]].
    val payload = mapper.createObjectNode()
    payload.put("name", name).put("sql", sql)
    if (!store.putIfAbsent(constraintRefName(name),
        mapper.writeValueAsBytes(payload))) {
      val existing = constraints().get(name)
      require(existing.contains(sql),
        s"constraint '$name' on $tableDir already reads '${existing.orNull}' — " +
          "dropConstraint first to redefine")
      return // identical redefinition: already validated when first added
    }
    // VALIDATE-then-ANCHOR: validate the existing rows at the
    // current head, then publish a metadata-only `policy` manifest at
    // head+1. The anchor is what CLOSES the guard-vs-CAS window
    // [[policyGuard]] alone could not: the manifest chain's CAS totally
    // orders this attach against every write commit — a writer whose
    // guard listing predates the claim must CAS a version slot, and
    // exactly one of {that writer, this anchor} wins it. If the writer
    // wins, the rebased anchor re-validates at the NEW head (its rows
    // included); if the anchor wins, the writer's CAS fails and its
    // rerun stages with enforcement. No span remains in which an unvalidated commit
    // can land, however slow the writer. (An EMPTY table has no chain
    // to anchor on — and no rows to validate; the first commit's own
    // CAS at v1 plays the anchor's role.)
    try {
      commit("policy", Rebase, skip = _.version == 0) { cur =>
        val table = read(cur.version)
        if (refs.forall(r => table.columns.exists(_.equalsIgnoreCase(r)))) {
          val bad = table.where(
            org.apache.spark.sql.functions.expr(sql) <=> lit(false))
            .limit(1).count()
          if (bad > 0) throw new IllegalArgumentException(
            s"cannot add CHECK '$name' ($sql) to $tableDir: existing rows " +
              "violate it — fix the data first (deleteWhere/updateWhere)")
        }
        cur.copy(cdc = commitCdc(cur), changes = None)
      }
    } catch { case e: Throwable =>
      store.delete(constraintRefName(name)) // roll the claim back
      throw e
    }
  }

  /** Remove constraint `name` (idempotent): later writes stop checking. */
  def dropConstraint(name: String): Unit =
    store.delete(constraintRefName(name))

  /** All declared constraints as name → CHECK expression. */
  def constraints(): Map[String, String] =
    store.list().filter(n => n.startsWith(ConstraintPrefix) && n.endsWith(".json"))
      .flatMap { n =>
        store.get(n).map { bytes =>
          val node = mapper.readTree(bytes)
          node.get("name").asText() -> node.get("sql").asText()
        }
      }.toMap

  // ---- branches: write-audit-publish -------------------------------

  private def branchRefName(name: String) = s"$BranchRefPrefix$name.json"

  private def branchHandle(name: String): SnapshotLog =
    new SnapshotLog(spark, tableDir, statsColumns, store0, bloomColumns,
      partitionBy, sortBy, changeFeed, Some(name))

  /** Fork a writable BRANCH at `version` (head by default) — the
    * write-audit-publish primitive: stage risky work (a backfill, a
    * reprocessed partition, a new dedup pass) on an isolated chain,
    * audit it with every read surface, then [[publishBranch]]
    * fast-forwards the main chain or [[dropBranch]] discards — main
    * readers never see unaudited data either way.
    *
    * Mechanics: branch v1 is the fork-point snapshot re-committed under
    * the branch's manifest namespace (`b-<name>-v...` beside the main
    * manifests, one commit, zero data copied — the file LIST forks, the
    * files are shared immutable objects). The returned handle — and any
    * later [[branch]] handle — then runs the FULL op surface against
    * the branch chain: append, delete/update/merge, compaction, time
    * travel within the branch, CDC, exactly-once watermarks, because
    * the entire commit protocol is namespaced by [[manifestName]].
    * [[vacuum]] (main handle) treats every branch version's files as
    * live, so a branch can trail main's retention safely.
    *
    * Returns the fork-point version. Re-creating an existing branch at
    * the SAME fork point is idempotent; at a different one refuses
    * (drop first). */
  def createBranch(name: String, version: Long = -1L): Long = {
    require(branchName.isEmpty,
      s"branches fork from the MAIN chain (this handle is branch '${branchName.orNull}')")
    require(SnapshotLog.TagNameRe.matches(name),
      s"branch '$name' — names are [A-Za-z0-9][A-Za-z0-9._-]*")
    val v = if (version < 0) currentVersion() else version
    require(v >= 1 && store.exists(manifestName(v)),
      s"cannot branch $tableDir at v$v — no such committed version")
    // branch v1 is the fork snapshot; manifests left by a branch whose
    // ref is gone (a crash inside createBranch or dropBranch) may hold
    // another fork, which a new ref must not adopt
    val fork = snapshot(v)
    val b = branchHandle(name)
    val v1 = b.commit("branch", Abort, skip = _.version > 0)(_ => fork)
      .getOrElse(b.snapshot(1))
    require(v1.files.toSet == fork.files.toSet && v1.rows == fork.rows,
      s"branch '$name' on $tableDir already holds commits forked from " +
        "another version — dropBranch it before re-branching elsewhere")
    val payload = s"""{"branch":"$name","fork":$v}"""
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    if (!store.putIfAbsent(branchRefName(name), payload)) {
      val existing = forkOf(name)
      require(existing.contains(v),
        s"branch '$name' on $tableDir already forked at v${existing.orNull} — " +
          "drop it before re-branching elsewhere")
    }
    v
  }

  /** A handle on existing branch `name` — every [[SnapshotLog]] op
    * works against the branch chain (see [[createBranch]]). */
  def branch(name: String): SnapshotLog = {
    require(branchName.isEmpty, "branch-of-branch is not supported")
    require(forkOf(name).isDefined,
      s"no branch '$name' on $tableDir — createBranch first")
    branchHandle(name)
  }

  /** All branches as name → fork-point version. O(refs) listing. */
  def branches(): Map[String, Long] =
    store.list().filter(n => n.startsWith(BranchRefPrefix) && n.endsWith(".json"))
      .flatMap { n =>
        val b = n.stripPrefix(BranchRefPrefix).stripSuffix(".json")
        forkOf(b).map(b -> _)
      }.toMap

  /** The fork-point version of branch `name`, if it exists. */
  def forkOf(name: String): Option[Long] =
    if (!SnapshotLog.TagNameRe.matches(name)) None
    else store.get(branchRefName(name)).map { bytes =>
      mapper.readTree(bytes).get("fork").asLong()
    }

  /** Discard branch `name`: the ref and the branch manifests go now;
    * branch-only data files and segments become orphans the next
    * [[vacuum]] sweeps. Idempotent. Main history is untouched. */
  def dropBranch(name: String): Unit = {
    require(branchName.isEmpty, "dropBranch runs on the MAIN handle")
    store.delete(branchRefName(name))
    val prefix = s"b-$name-v"
    store.list().filter(n => n.startsWith(prefix) && n.endsWith(".json"))
      .foreach(store.delete)
  }

  /** PUBLISH branch `name`: fast-forward the main chain with every
    * branch commit past the fork point (branch version i lands as main
    * version fork+i-1, parents relinked — the manifests are re-CAS'd
    * verbatim, no data moves), then drop the branch. Audit history is
    * preserved: the published main versions carry the branch's ops
    * (append/delete/update/...), so DESCRIBE HISTORY shows what the
    * branch actually did, and time travel into the published span works
    * like any other.
    *
    * Fast-forward-only: if main advanced past the fork point with
    * DIFFERENT commits, publish refuses with
    * [[CommitConflictException]] and the branch survives — recreate it
    * from the new head and replay (rebase is the operator's call, not
    * something to guess at). An interrupted publish is resumable: a
    * main version already holding the identical commit (same op, file
    * set and row count) is skipped, a differing one refuses.
    *
    * Returns the new main head version. */
  def publishBranch(name: String): Long = {
    require(branchName.isEmpty, "publishBranch runs on the MAIN handle")
    val fork = forkOf(name).getOrElse(throw new IllegalArgumentException(
      s"no branch '$name' on $tableDir"))
    val b = branchHandle(name)
    val bCur = b.currentVersion()
    require(bCur >= 1, s"branch '$name' has no committed fork snapshot")
    (2L to bCur).foreach { i =>
      val target = fork + i - 1
      val bs = b.snapshot(i)
      val ms = bs.copy(version = target, parent = target - 1)
      if (store.exists(manifestName(target))) {
        val existing = snapshot(target)
        if (existing.op != ms.op || existing.files.toSet != ms.files.toSet ||
            existing.rows != ms.rows)
          throw new CommitConflictException(
            s"publish of branch '$name' onto $tableDir: main diverged at " +
              s"v$target (op '${existing.op}' vs branch '${ms.op}') — " +
              "recreate the branch from the current head and replay")
      } else commit(ms.op, Abort, base = Some(snapshot(target - 1)))(_ => ms)
    }
    dropBranch(name)
    fork + bCur - 1
  }

  /** Garbage-collect: drop manifests older than the last `keepLast`
    * versions, then delete data files referenced by NO retained manifest
    * and any dead staging directories. `graceMs` (modification-time
    * grace) protects an in-flight commit whose files are staged but
    * whose manifest hasn't published yet — at scale this is the same
    * contract as object-store table formats' retention horizon. Returns
    * the number of data files deleted. */
  def vacuum(keepLast: Int = 2, graceMs: Long = 3600000L): Int = {
    require(keepLast >= 1, s"must retain at least one version: $keepLast")
    require(branchName.isEmpty,
      "vacuum runs on the MAIN handle — it owns the shared data-file " +
        "liveness across the main chain, tags and every branch")
    val cur = currentVersion()
    if (cur == 0) return 0
    val keepFrom = math.max(1L, cur - keepLast + 1)
    // a TAGGED version never expires: its manifest (and, below, its
    // files and segments) stay until the tag is dropped
    val tagged = tags().values.toSet
    (1L until keepFrom).filterNot(tagged).foreach(v =>
      store.delete(manifestName(v)))
    // drop the swept versions from this handle's parse cache — a read
    // of a vacuumed version must fail with the clean "missing
    // (vacuumed?)" error, not a stale parse chasing deleted data files
    snapParseCache.keySet.removeIf(v => v < keepFrom && !tagged(v))
    // a version inside the horizon may already be gone from an earlier,
    // TIGHTER vacuum — skip it rather than crash the wider one
    val retainedVersions =
      ((keepFrom to cur) ++ tagged.filter(_ < keepFrom)).distinct
    def liveOf(s: Snapshot): Seq[String] =
      s.files ++ s.tombstones.map(_.file) ++ // tombstones are live metadata
        s.dvs.values.flatten ++ // deletion vectors too
        // CDC images of retained versions stay readable — including
        // whole-file deletes whose pre-images ship by REFERENCE to
        // data files no later manifest lists
        s.changes.toSeq.flatMap(cs => cs.files ++ cs.deletedDataFiles)
    // every BRANCH version is live in full (a branch is by definition
    // unpublished audit state — expiring under it would corrupt the
    // eventual publish); dropBranch releases all of it at once
    val branchHandles = branches().keys.toSeq.map(branchHandle)
    val branchLive = branchHandles.flatMap { bh =>
      (1L to bh.currentVersion()).flatMap(v => liveOf(bh.snapshot(v)))
    }
    val live = (retainedVersions
      .filter(v => store.exists(manifestName(v)))
      .flatMap(v => liveOf(snapshot(v))) ++ branchLive).toSet
    val cutoff = System.currentTimeMillis() - graceMs
    var deleted = 0
    if (fs.exists(dataDir)) fs.listStatus(dataDir).foreach { f =>
      if (f.isFile && !live(f.getPath.getName) && f.getModificationTime < cutoff) {
        if (fs.delete(f.getPath, false)) deleted += 1
      }
    }
    fs.listStatus(root).foreach { d =>
      if (d.isDirectory && d.getPath.getName.startsWith(StagePrefix) &&
          d.getModificationTime < cutoff)
        fs.delete(d.getPath, true)
    }
    // segment GC: a segment is live iff a RETAINED manifest lists it;
    // orphans come from expired versions, lost CAS races, and
    // consolidation. The mtime grace protects a commit in flight
    // (segments are written BEFORE the manifest CAS publishes them) —
    // same rule as staged data files. FS-backed stores only: an
    // object-store deployment GCs by the store's own listing+age.
    if (store0.isEmpty && fs.exists(logDir)) {
      val liveSegs = (retainedVersions
        .filter(v => store.exists(manifestName(v)))
        .flatMap(segNamesOf) ++ branchHandles.flatMap(bh =>
          (1L to bh.currentVersion()).flatMap(bh.segNamesOf))).toSet
      fs.listStatus(logDir).foreach { f =>
        val n = f.getPath.getName
        if (f.isFile && n.startsWith("seg-") && !liveSegs(n) &&
            f.getModificationTime < cutoff) {
          fs.delete(f.getPath, false)
          segCache.remove(n)
        }
      }
    }
    // a stale RTAS pending marker (the replace crashed BEFORE its
    // clear — the old table stayed current; a marker that survived a
    // clear was promoted by recovery at the next open) sweeps past the
    // grace like every staged artifact; an in-flight replace's fresh
    // marker is mtime-protected. FS-backed stores only, like segments.
    if (store0.isEmpty && fs.exists(logDir)) {
      val pr = new Path(logDir, SnapshotLog.PendingReplaceName)
      if (fs.exists(pr) && fs.getFileStatus(pr).getModificationTime < cutoff)
        fs.delete(pr, false)
    }
    deleted
  }

  // ---- internals ----------------------------------------------------

  private final case class Staged(files: Seq[String], rows: Long, bytes: Long,
      stats: Map[String, Map[String, ColRange]], schemaJson: String,
      fileRows: Map[String, Long], blooms: Map[String, Map[String, String]],
      fileBytes: Map[String, Long],
      partitions: Map[String, Seq[String]] = Map.empty,
      /** CHECK constraints (name → expression) LISTED at stage time
        * (table-shaped stages only; None = image/DV stage, enforcement
        * inapplicable). [[policyGuard]] compares against the refs at
        * commit time — a constraint published OR redefined between
        * stage and commit aborts the commit, the other half of
        * [[addConstraint]]'s claim-then-validate ordering. */
      checkedNames: Option[Map[String, String]] = None,
      /** The partition spec the files' tuples were COMPUTED under — the
        * commit loop re-checks it against the spec in force at publish
        * time ([[specGuard]]): a concurrent [[evolvePartitionSpec]]
        * between staging and the CAS would otherwise commit old-spec
        * tuples untagged in `fileSpecIdx`, and [[Snapshot.specOf]] would
        * judge them under the NEW spec — unsound pruning, silent missing
        * rows. */
      spec: Seq[PartitionField] = Nil)

  /** Commit-time constraint re-check — the writer-side half of
    * [[addConstraint]]'s claim-then-validate protocol: a CHECK
    * published (or REDEFINED via drop + re-add) after this write
    * staged — so its rows were never counted against the CURRENT
    * expression — aborts the commit when the frame carries the
    * referenced columns; the rerun stages with enforcement. Matching
    * is by (name, expression), not name alone: a same-named constraint
    * whose text changed mid-flight is exactly as unvalidated as a new
    * one. One ref listing per commit attempt, control-plane sized. It
    * runs inside [[commit]]'s build, so any failure here (including a
    * ref-store I/O error) discards the staged files.
    *
    * This listing and the manifest CAS are still not one atomic step,
    * but the former residual window is CLOSED by [[addConstraint]]'s
    * anchor commit: the attach publishes a metadata-only `policy`
    * manifest after validating, so the version chain totally orders it
    * against every write — a writer whose guard predates the claim
    * either loses its CAS slot to the anchor (rerun re-guards with
    * enforcement) or wins it, in which case the attach's anchor loop
    * re-validates the head that now includes the writer's rows.
    * Constraints themselves stay refs (policy binds every branch and
    * is deliberately not time-travel-versioned); only the ORDERING
    * rides the manifest chain. */
  private def policyGuard(staged: Staged): Unit =
    staged.checkedNames.foreach { seen =>
      val frameCols = org.apache.spark.sql.types.DataType
        .fromJson(staged.schemaJson)
        .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSeq
      constraints().foreach { case (n, sql) =>
        if (!seen.get(n).contains(sql) && staged.rows > 0 &&
            constraintRefs(sql).forall(r =>
              frameCols.exists(_.equalsIgnoreCase(r))))
          throw new CommitConflictException(
            s"commit to $tableDir: CHECK constraint '$n' ($sql) was added " +
              "or redefined while this write was staged — its rows were " +
              "never validated against it; rerun (the restage enforces it)")
      }
    }

  /** Abort if the spec in force for the next commit no longer matches
    * the spec the files were staged under — a retrying commit may
    * legally race past concurrent APPENDS, but racing past a concurrent
    * `evolve_spec` would mis-tag the staged files' partition tuples
    * (see [[Staged.spec]]). Loud [[CommitConflictException]], same
    * contract as restore/evolve. */
  private def specGuard(staged: Staged, base: Snapshot): Unit = {
    val want = commitSpec(base)
    if (staged.spec != want) {
      throw new CommitConflictException(
        s"commit to $tableDir: partition spec evolved from ${staged.spec} " +
          s"to $want while this write was staged — its partition tuples " +
          "were computed under the old spec; rerun against the new spec")
    }
  }

  /** Widening-only schema merge: incoming columns must keep an existing
    * column's type (`sameType` — nullability-insensitive); genuinely new
    * columns append to the read schema as nullable. Anything else is a
    * broken contract and aborts the commit. */
  private def mergeSchemaJson(baseSnap: Snapshot, incomingJson: String): String = {
    import org.apache.spark.sql.types.{DataType, StructField, StructType}
    val baseJson = baseSnap.schemaJson
    if (baseJson.isEmpty) return incomingJson
    if (incomingJson.isEmpty || baseJson == incomingJson) return baseJson
    val base = DataType.fromJson(baseJson).asInstanceOf[StructType]
    val inc = DataType.fromJson(incomingJson).asInstanceOf[StructType]
    val byName = base.fields.map(f => f.name -> f).toMap
    // a RETIRED name (the pre-rename name of a live column) arriving as
    // "new" is a stale writer, not evolution — appending it would
    // silently fork the renamed column into two
    val retired = baseSnap.epochNameOf.dropRight(1).flatMap(_.toSeq)
      .collect { case (cur0, old) if cur0 != old => old }.toSet -- base.fieldNames
    inc.fields.foreach { f =>
      if (retired.contains(f.name))
        throw new IllegalStateException(
          s"column '${f.name}' of $tableDir was RENAMED — this writer is " +
            "staging under the old name; rebuild it against the current schema")
      byName.get(f.name).foreach { b =>
        // nullability-insensitive compare at EVERY level (sameType is
        // private[sql], and `.sql` renders inner NOT NULL markers — a
        // writer's non-nullable struct field must still match the
        // table's nullable one)
        if (SnapshotLog.normalizedSql(b.dataType) !=
            SnapshotLog.normalizedSql(f.dataType))
          throw new IllegalStateException(
            s"schema evolution of $tableDir cannot change column '${f.name}' " +
              s"from ${b.dataType.simpleString} to ${f.dataType.simpleString}")
      }
    }
    val added = inc.fields.filterNot(f => byName.contains(f.name))
      .map(f => StructField(f.name, f.dataType, nullable = true))
    // once stable field ids are in use (any rename/drop happened), new
    // columns must take EXPLICIT ids from max+1: the index-fallback
    // convention ([[SnapshotLog.fidOf]]) is only sound while ids are
    // contiguous-from-zero, and a drop leaves a hole — an added field's
    // index would collide with a surviving field's id and alias old
    // files' values into the new column
    val fidsInUse = base.fields.exists(_.metadata.contains(SnapshotLog.FidKey))
    val stamped =
      if (!fidsInUse || added.isEmpty) added
      else {
        // max over EVERY epoch, not just the live schema: a dropped
        // field's id exists only in the retained epochs, and reusing it
        // would alias old files' dropped values into the new column
        var next = baseSnap.epochSchemas.iterator.flatMap(_.fields.zipWithIndex
          .map { case (f, i) => SnapshotLog.fidOf(f, i) }).max
        added.map { f =>
          next += 1
          f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putLong(SnapshotLog.FidKey, next).build())
        }
      }
    StructType(base.fields ++ stamped).json
  }

  /** Write `df` to a scratch dir, count rows via an `Observation` riding
    * the write job (no second read), then move the part files into
    * `data/` under commit-unique names. Files in `data/` are inert until
    * a manifest names them. When the table declares `statsColumns`,
    * each staged file's column ranges are lifted from the parquet
    * footers the write just produced (metadata-only, O(staged files)
    * per commit — the one-time cost that buys listing-and-footer-free
    * pruned reads forever after). */
  private def stage(df: DataFrame, partitioned: Boolean = true,
      base: Option[Snapshot] = None, preArranged: Boolean = false): Staged = {
    // the partition spec + sort order in force: from the caller's
    // already-loaded snapshot when it has one (zero extra reads), else
    // ONE currentVersion listing + ONE manifest parse for both
    val (spec, order): (Seq[PartitionField], Seq[String]) =
      if (!partitioned) (Nil, Nil)
      else base match {
        case Some(b) => (commitSpec(b), commitSort(b))
        case None =>
          val v = currentVersion()
          if (v == 0) (declaredSpec, sortCols)
          else {
            val b = snapshot(v)
            (commitSpec(b), commitSort(b))
          }
      }
    val commitId = UUID.randomUUID().toString.take(8)
    val scratch = new Path(root, s"$StagePrefix$commitId")
    val obs = new Observation(s"graft_log_stage_$commitId")
    val writeDf = SnapshotLog.microsTimestamps(df)
    // hidden-partitioned staging: the transforms materialize as
    // SYNTHETIC `_gp<i>` columns that `partitionBy` routes into
    // directories and strips from the data — the SOURCE columns stay in
    // every file untouched, and the directory values become the
    // manifest's per-file partition tuples. One file holds exactly one
    // tuple by construction of the dynamic-partition write.
    val partCols = spec.indices.map(i => s"_gp$i")
    // CHECK constraints ride the SAME observation as the row count —
    // one violation counter per constraint, no extra pass, enforced
    // only on table-shaped stages (partitioned=true; DV position files
    // and CDC image files are not table rows). A constraint whose
    // referenced columns are absent from THIS write's frame passes it
    // (the rows read those columns as NULL, and CHECK-NULL passes).
    val dfCols = df.columns.toSeq
    // Spark resolves columns case-insensitively by default — the
    // presence test must match, or a CHECK spelled `QTY > 0` against a
    // column `qty` would be silently skipped while still reported
    // ENFORCED
    val listed: Map[String, String] =
      if (!partitioned) Map.empty else constraints()
    val checks: Seq[(String, String)] = listed.toSeq.sortBy(_._1)
      .filter { case (_, sql) =>
        constraintRefs(sql).forall(r => dfCols.exists(_.equalsIgnoreCase(r)))
      }
    val obsCols = count(lit(1)).as("rows") +: checks.map { case (n, sql) =>
      count(org.apache.spark.sql.functions.when(
        org.apache.spark.sql.functions.expr(sql) <=> lit(false), 1))
        .as(s"chk_$n")
    }
    val partedDf = spec.zipWithIndex.foldLeft(
      writeDf.observe(obs, obsCols.head, obsCols.tail: _*)) { case (d, (f, i)) =>
      d.withColumn(s"_gp$i", f.writeExpr(writeDf))
    }
    // write-time clustering: a declared sort order arranges EVERY stage
    // (append, compaction, merge survivors) so files land with tight,
    // near-disjoint stats ranges — clustering as an ingest property
    // instead of a separate maintenance pass. With a partition spec the
    // arrangement also routes each tuple to one task (one file per
    // tuple, not one per task×tuple) and pre-satisfies the dynamic
    // write's partition-column ordering so no extra sort sneaks in.
    val arranged =
      if (preArranged) partedDf // the caller's exchange already
        // clustered by the spec transforms and sorted within partitions
        // (RequiresDistributionAndOrdering) — the `_gp<i>` columns equal
        // those transform values, so a second shuffle would move nothing
      else if (spec.nonEmpty)
        partedDf.repartition(partCols.map(col): _*)
          .sortWithinPartitions((partCols ++ order).map(col): _*)
      else if (order.nonEmpty) partedDf.sortWithinPartitions(order.map(col): _*)
      else partedDf
    val writer = arranged.write.option("compression", "snappy")
      .mode("overwrite")
    (if (spec.isEmpty) writer else writer.partitionBy(partCols: _*))
      .parquet(scratch.toString)
    fs.mkdirs(dataDir)
    val scratchAbs = fs.makeQualified(scratch).toString
    /** The `_gp<i>=value` directory chain above a staged part file,
      * decoded to the partition tuple in spec order. */
    def tupleOf(p: Path): Seq[String] = {
      var segs = List.empty[String]
      var cur = p.getParent
      while (cur != null && fs.makeQualified(cur).toString != scratchAbs) {
        segs ::= cur.getName
        cur = cur.getParent
      }
      segs.map { seg =>
        val eq = seg.indexOf('=')
        require(eq > 0, s"unexpected staged dir layout under $scratch: $seg")
        unescapePathValue(seg.substring(eq + 1))
      }
    }
    // a listStatus walk, not listFiles: a LocatedFileStatus loads the
    // file's permissions, which the local file system without the native
    // Hadoop library does by spawning `ls -ld`
    def walk(d: Path): Seq[FileStatus] = fs.listStatus(d).toSeq
      .flatMap(f => if (f.isDirectory) walk(f.getPath) else Seq(f))
    val found = walk(scratch).filter(_.getPath.getName.startsWith("part-"))
    // an EMPTY dynamic-partition write runs zero tasks, so the
    // Observation never collects — its absence is only legitimate when
    // no part file landed (rows provably 0); a populated write missing
    // its metric must still fail loudly rather than under-count
    val rows =
      if (found.isEmpty) 0L else obs.get("rows").asInstanceOf[Long]
    // constraint gate: abort BEFORE any file moves into data/ — a
    // violated commit leaves only the scratch dir, which is swept
    if (found.nonEmpty) checks.foreach { case (n, sql) =>
      val bad = obs.get(s"chk_$n").asInstanceOf[Long]
      if (bad > 0) {
        fs.delete(scratch, true)
        throw new IllegalStateException(
          s"CHECK constraint '$n' ($sql) on $tableDir: $bad staged row(s) " +
            "violate it — the commit was aborted, nothing published")
      }
    }
    // a ZERO-ROW stage publishes no files at all: the unpartitioned
    // write path emits one empty part file (unlike the dynamic-
    // partition path, which runs zero tasks), and registering it would
    // leave a dead file in the manifest per empty commit — CREATE
    // TABLE's schema-declaring v1 being the canonical producer. The
    // schema still records (it comes from the frame, not the files).
    if (rows == 0L && found.nonEmpty) {
      fs.delete(scratch, true)
      return Staged(Nil, 0L, 0L, Map.empty, df.schema.json, Map.empty,
        Map.empty, Map.empty, Map.empty,
        if (partitioned) Some(listed) else None, spec)
    }
    val moved = found.zipWithIndex.map { case (f, idx) =>
      // dynamic partition writes reuse part-file names across partition
      // dirs; the flat data/ name needs the index to stay unique
      val name =
        if (spec.isEmpty) s"$commitId-${f.getPath.getName}"
        else s"$commitId-p$idx-${f.getPath.getName}"
      val tuple = if (spec.isEmpty) Nil else tupleOf(f.getPath)
      if (!fs.rename(f.getPath, new Path(dataDir, name)))
        throw new IllegalStateException(s"could not stage ${f.getPath} into $dataDir")
      val (fRows, fStats) =
        footerInfo(new Path(dataDir, name), wantRows = spec.nonEmpty)
      (name, f.getLen, fStats, fRows, tuple)
    }
    fs.delete(scratch, true)
    // per-file key blooms for tables that declare them: ONE extra job
    // over just the staged files' bloom columns (narrow scan, partial
    // bitmaps map-side) — the point-lookup half of the skipping story,
    // paid once per commit like the footer stats
    val stagedBlooms =
      if (bloomCols.isEmpty || moved.isEmpty) Map.empty[String, Map[String, String]]
      else FileBlooms.build(spark,
        moved.map(m => new Path(dataDir, m._1).toString).toSeq, bloomCols,
        expectedItems = rows / moved.length + 64)
    Staged(moved.map(_._1).toSeq, rows, moved.map(_._2).sum,
      moved.collect { case (n, _, st, _, _) if st.nonEmpty => n -> st }.toMap,
      df.schema.json,
      moved.collect { case (n, _, _, fr, _) if fr >= 0 => n -> fr }.toMap,
      stagedBlooms,
      moved.map(m => m._1 -> m._2).toMap,
      moved.collect { case (n, _, _, _, t) if t.nonEmpty => n -> t }.toMap,
      if (partitioned) Some(listed) else None,
      spec)
  }

  /** Minimal inverse of Hive's partition-path escaping: `%xx` byte
    * sequences decode back to their characters (the write path escapes
    * `/ : = %` and control chars this way); everything else is
    * verbatim. Values this table generates (digits, short prefixes)
    * rarely escape at all. */
  private def unescapePathValue(s: String): String =
    if (!s.contains('%')) s
    else {
      def hexAt(i: Int): Boolean = i + 3 <= s.length &&
        Character.digit(s.charAt(i + 1), 16) >= 0 &&
        Character.digit(s.charAt(i + 2), 16) >= 0
      val sb = new StringBuilder(s.length)
      var i = 0
      while (i < s.length) {
        if (s.charAt(i) == '%' && hexAt(i)) {
          // a RUN of %xx escapes decodes as one UTF-8 byte sequence —
          // decoding each byte separately would mangle multi-byte chars
          val bytes = new java.io.ByteArrayOutputStream(4)
          while (i < s.length && s.charAt(i) == '%' && hexAt(i)) {
            bytes.write(Integer.parseInt(s.substring(i + 1, i + 3), 16))
            i += 3
          }
          sb.append(new String(bytes.toByteArray, "UTF-8"))
        } else { sb.append(s.charAt(i)); i += 1 }
      }
      sb.toString
    }

  /** Per-file footer metadata, one open: the exact row count (sum of
    * the footer's block counts — feeds `Snapshot.fileRows`) and [min,
    * max] per stats column. A column whose chunks lack usable stats (or
    * whose type the range machinery doesn't model) gets no range entry —
    * the file then never prunes on it. Binary stats are accepted ONLY
    * for string-annotated columns (an INT96 timestamp's 12-byte min/max
    * would otherwise be recorded as garbage text and make pruning
    * unsound), and string mins/maxes aggregate under UTF8String's
    * unsigned-byte order — the order the per-chunk stats themselves are
    * in. Each range carries the column's NULL count when every chunk
    * recorded one (-1 otherwise) — [[countWhere]]'s metadata shortcut
    * demands a provable zero. Returns (-1, empty) for tables with no
    * stats columns: no footer opens, and absence of `fileRows` simply
    * routes counts through a scan. */
  private def footerInfo(file: Path,
      wantRows: Boolean = false): (Long, Map[String, ColRange]) =
    if (statsCols.isEmpty && !wantRows) (-1L, Map.empty)
    else {
      import org.apache.parquet.schema.LogicalTypeAnnotation
      import org.apache.spark.unsafe.types.UTF8String
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(file,
        spark.sparkContext.hadoopConfiguration))
      try {
        val blocks = r.getFooter.getBlocks.asScala.toSeq
        val fileRowCount = blocks.map(_.getRowCount).sum
        val ranges = statsCols.flatMap { c =>
          val chunks = blocks.flatMap(
            _.getColumns.asScala.filter(_.getPath.toDotString == c))
          val sts = chunks.map(_.getStatistics)
            .filter(s => s != null && s.hasNonNullValue)
          val isString = chunks.headOption.exists(
            _.getPrimitiveType.getLogicalTypeAnnotation
              .isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation])
          val nulls =
            if (chunks.exists(ch => ch.getStatistics == null ||
                !ch.getStatistics.isNumNullsSet)) -1L
            else chunks.map(_.getStatistics.getNumNulls).sum
          if (chunks.isEmpty || sts.size != chunks.size) None
          else sts.head.genericGetMin match {
            case _: Number =>
              // integral stats record EXACT (a BIGINT min rounded through
              // a double can cross a query bound past 2^53 and prune a
              // matching file); floats record their shortest round-trip.
              // Non-finite float stats (±Inf, NaN) have no BigDecimal
              // form — such a column records NO range (absence never
              // prunes), rather than failing the commit.
              def exact(n: Number): BigDecimal = n match {
                case l: java.lang.Long => BigDecimal(l.longValue)
                case i: Integer        => BigDecimal(i.longValue)
                case o                 => BigDecimal(o.doubleValue)
              }
              try Some(c -> ColRange(numeric = true,
                sts.map(s => exact(s.genericGetMin.asInstanceOf[Number])).min.toString,
                sts.map(s => exact(s.genericGetMax.asInstanceOf[Number])).max.toString,
                nulls))
              catch { case _: NumberFormatException => None }
            case _: org.apache.parquet.io.api.Binary if isString =>
              def u(ss: Seq[String]) = ss.map(UTF8String.fromString)
              Some(c -> ColRange(numeric = false,
                u(sts.map(_.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary]
                  .toStringUsingUTF8)).min.toString,
                u(sts.map(_.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary]
                  .toStringUsingUTF8)).max.toString,
                nulls))
            case _ => None
          }
        }.toMap
        (fileRowCount, ranges)
      } finally r.close()
    }

  /** Drop staged files after a failed commit — they were never named by
    * a manifest, so this is cleanup, not rollback. */
  private def discard(staged: Staged): Unit =
    staged.files.foreach(f => fs.delete(new Path(dataDir, f), false))

  /** The head snapshot; [[SnapshotLog.EmptySnapshot]] before any
    * commit. */
  private def headOrEmpty(): Snapshot = {
    val v = currentVersion()
    if (v == 0) EmptySnapshot else snapshot(v)
  }

  /** Whether `base` already records the exactly-once `txn` watermark. */
  private def replayed(base: Snapshot, txn: Option[(String, Long)]): Boolean =
    txn.exists { case (a, b) => base.txns.get(a).exists(_ >= b) }

  /** Refuse `what` while `base` has pending key tombstones. */
  private def requireNoTombstones(base: Snapshot, what: String): Unit =
    require(base.tombstones.isEmpty,
      s"$tableDir has unmaterialized key tombstones; run compact() before $what")

  /** Data file `f`'s size: the manifest's record, else (manifests written
    * before the field) one file status. */
  private def fileLen(base: Snapshot, f: String): Long =
    base.fileBytes.getOrElse(f, fs.getFileStatus(new Path(dataDir, f)).getLen)

  /** The live rows of `files`: their recorded counts when every file has
    * one and none carries a deletion vector, else a count of their
    * [[scan]]. */
  private def liveRows(base: Snapshot, files: Seq[String]): Long =
    if (files.forall(base.fileRows.contains) && !files.exists(base.dvs.contains))
      files.map(base.fileRows).sum
    else scan(base, files).count()

  /** `base`'s schema; a pre-schema manifest's comes from one footer. */
  private def schemaOf(base: Snapshot): org.apache.spark.sql.types.StructType =
    if (base.schemaJson.isEmpty) read(base.version).schema
    else org.apache.spark.sql.types.DataType.fromJson(base.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]

  /** `base`'s watermarks with `txn` recorded. */
  private def txnsAfter(base: Snapshot, txn: Option[(String, Long)]): Map[String, Long] =
    txn.fold(base.txns)(base.txns + _)

  /** `base` with the `gone` files dropped and the `added` staged files
    * joined, every per-file plane in step (stats, row and byte counts,
    * blooms, tuples, spec and epoch tags, deletion vectors). Totals,
    * tombstones and change sets stay the caller's. */
  private def swapFiles(base: Snapshot, gone: Set[String], added: Staged*): Snapshot =
    base.copy(
      files = base.files.filterNot(gone) ++ added.flatMap(_.files),
      stats = (base.stats -- gone) ++ added.flatMap(_.stats),
      fileRows = (base.fileRows -- gone) ++ added.flatMap(_.fileRows),
      blooms = (base.blooms -- gone) ++ added.flatMap(_.blooms),
      fileBytes = (base.fileBytes -- gone) ++ added.flatMap(_.fileBytes),
      partitions = (base.partitions -- gone) ++ added.flatMap(_.partitions),
      fileSpecIdx = base.fileSpecIdx -- gone, dvs = base.dvs -- gone,
      fileSchemaIdx = base.fileSchemaIdx -- gone)

  /** `base` with every file gone — the empty table: the schema, spec
    * history, sort order and stream watermarks survive; the epoch
    * history goes with the files. */
  private def emptied(base: Snapshot): Snapshot =
    EmptySnapshot.copy(schemaJson = base.schemaJson, txns = base.txns,
      partitionSpec = commitSpec(base), sortOrder = commitSort(base),
      cdc = commitCdc(base), priorSpecs = base.priorSpecs)

  /** `cur` under the new `schema` epoch: the retained epoch (`withIds`,
    * `cur`'s schema with explicit field ids) joins the history, and every
    * live file pins to the epoch that wrote it. */
  private def newEpoch(cur: Snapshot,
      schema: org.apache.spark.sql.types.StructType,
      withIds: org.apache.spark.sql.types.StructType): Snapshot =
    cur.copy(schemaJson = schema.json, cdc = commitCdc(cur), changes = None,
      priorSchemas = cur.priorSchemas :+ withIds.json,
      fileSchemaIdx = cur.files.map(f => f -> cur.schemaIdxOf(f)).toMap)

  /** Publish this handle's DECLARED stats/bloom columns as a table ref
    * (once per handle, first commit): what lets a LATER handle —
    * [[SnapshotLog.inheriting]], i.e. every SQL write — keep lifting
    * the same footer stats even when the table has no files yet to
    * infer them from (the CREATE TABLE + first-INSERT-via-SQL shape,
    * where inference alone would silently lose the declaration). */
  @volatile private var declPublished = false
  private def publishDeclaredCols(): Unit =
    if (!declPublished) {
      declPublished = true
      if (statsCols.nonEmpty || bloomCols.nonEmpty) {
        val n = mapper.createObjectNode()
        val sa = n.putArray("stats")
        statsCols.foreach(sa.add)
        val ba = n.putArray("blooms")
        bloomCols.foreach(ba.add)
        store.putIfAbsent(SnapshotLog.DeclColsRefName,
          mapper.writeValueAsBytes(n))
      }
    }

  /** The declared-columns ref, (stats, blooms) — empty when never
    * published (pre-existing tables keep pure inference). */
  private[table] def declaredColsRef(): (Seq[String], Seq[String]) =
    store.get(SnapshotLog.DeclColsRefName).map { bytes =>
      val n = mapper.readTree(bytes)
      def arr(k: String): Seq[String] = Option(n.get(k)).map(a =>
        (0 until a.size()).map(a.get(_).asText()).toSeq).getOrElse(Nil)
      (arr("stats"), arr("blooms"))
    }.getOrElse((Nil, Nil))

  /** The one commit path: every manifest version this handle writes
    * goes through here. Each attempt builds the next snapshot from its
    * base (`base` on the first attempt when given, else the head),
    * stamps `version`/`parent`/`op` (and clears `ts`, which publishing
    * stamps), and publishes it through the CAS; a lost slot resolves by
    * `rule`. `skip` declines the commit on a base that already holds
    * its effect (a replayed txn watermark, an occupied fresh slot): it
    * is checked before each build and after each loss, and a skipped
    * commit returns None. The `staged` sets are discarded whenever the
    * commit does not land — a guard or build failure, a skip, an abort,
    * or running out of attempts — so nothing unnamed is left in
    * `data/` on an aborted path. */
  private def commit(op: String, rule: OnConflict, staged: Seq[Staged] = Nil,
      base: Option[Snapshot] = None, skip: Snapshot => Boolean = _ => false)(
      build: Snapshot => Snapshot): Option[Snapshot] = {
    def fail(msg: String): Nothing = {
      staged.foreach(discard)
      throw new CommitConflictException(msg)
    }
    var cur = base.getOrElse(headOrEmpty())
    var attempts = 0
    while (!skip(cur)) {
      val next =
        try build(cur).copy(version = cur.version + 1, op = op,
          parent = cur.version, ts = 0L)
        catch { case e: Throwable => staged.foreach(discard); throw e }
      if (tryCommit(next)) return Some(next)
      attempts += 1
      val newest = headOrEmpty()
      if (!skip(newest)) {
        rule match {
          case Abort =>
            fail(s"$op on $tableDir: concurrent commit since v${cur.version}; rerun")
          case OverAppends =>
            val ops = ((cur.version + 1) to newest.version).map(snapshot(_).op)
            if (ops.exists(_ != "append")) fail(
              s"$op on $tableDir: concurrent ${ops.distinct.mkString("/")} " +
                s"since v${cur.version} may have removed rows the rewrite " +
                "re-wrote; rerun against the new current version")
          case Rebase =>
        }
        if (attempts == MaxCommitAttempts) fail(
          s"$op on $tableDir lost the commit race $MaxCommitAttempts times")
      }
      cur = newest
    }
    staged.foreach(discard)
    None
  }

  /** Publish `s` at its version slot; false iff the slot was taken. Two
    * manifest layouts, chosen by live-file count: INLINE (per-file
    * stats/blooms/rows/bytes/tuples in the manifest itself — one GET
    * plans everything, the right shape for small tables) and SEGMENTED
    * past [[SnapshotLog.InlineFileLimit]] files — the per-file plane
    * moves to immutable `seg-*.json` files;
    * a commit REUSES every parent segment whose files all survive and
    * writes ONE new segment for the rest, so an append's metadata write
    * is O(new files), not O(table). At 100 TB (~10⁵ files) this is the
    * difference between every commit re-serializing gigabytes of
    * manifest and a constant-sized commit — the manifest-list design of
    * production table formats, implemented rather than named. Segments
    * are cached after first read (immutable), so repeated planning costs
    * one manifest GET + cache hits; the list is bounded by
    * [[SnapshotLog.MaxManifestSegments]] via consolidation commits.
    * Orphan segments from lost CAS races are garbage that [[vacuum]]
    * sweeps. */
  private def tryCommit(s: Snapshot): Boolean = {
    publishDeclaredCols()
    if (s.files.size <= InlineFileLimit)
      publishManifest(s.version, mapper.writeValueAsBytes(inlineManifestNode(s)))
    else {
      val nextFiles = s.files.toSet
      val parentSegs = segNamesOf(s.parent)
      val kept0 = parentSegs.filter(seg =>
        segEntries(seg).forall(e => nextFiles(e.file)))
      // consolidation: a growing segment list would make planning
      // O(appends); fold everything into one segment past the cap
      val kept = if (kept0.size >= MaxManifestSegments) Nil else kept0
      val covered = kept.flatMap(segEntries).map(_.file).toSet
      val fresh = s.files.filterNot(covered)
      val segs = kept ++
        (if (fresh.nonEmpty) Seq(writeSegment(s, fresh)) else Nil)
      val node = manifestCommon(s)
      val sa = node.putArray("segments")
      segs.foreach(sa.add)
      val ok = publishManifest(s.version, mapper.writeValueAsBytes(node))
      if (ok) segNamesCache.put(s.version, segs)
      ok
    }
  }

  /** Create version `v`'s manifest iff its slot is free — the one
    * manifest-slot write; true iff this call created it. */
  private def publishManifest(v: Long, bytes: Array[Byte]): Boolean =
    store.putIfAbsent(manifestName(v), bytes)

  /** The layout-independent manifest fields. */
  private def manifestCommon(s: Snapshot): com.fasterxml.jackson.databind.node.ObjectNode = {
    val node = mapper.createObjectNode()
    node.put("version", s.version).put("op", s.op).put("parent", s.parent)
      .put("rows", s.rows).put("bytes", s.bytes)
      // commit wall-clock, stamped at publish: the TIMESTAMP AS OF axis
      .put("ts", System.currentTimeMillis())
    if (s.schemaJson.nonEmpty) node.put("schema", s.schemaJson)
    if (s.txns.nonEmpty) {
      val tn = node.putObject("txns")
      s.txns.foreach { case (a, b) => tn.put(a, b) }
    }
    if (s.tombstones.nonEmpty) {
      val ta = node.putArray("tombstones")
      s.tombstones.foreach { t =>
        val tn = ta.addObject()
        tn.put("file", t.file).put("column", t.column)
        val ap = tn.putArray("applies")
        t.appliesTo.foreach(ap.add)
      }
    }
    if (s.partitionSpec.nonEmpty) {
      val pa = node.putArray("partitionSpec")
      s.partitionSpec.foreach { f =>
        pa.addObject().put("src", f.source).put("t", f.transform)
      }
    }
    if (s.sortOrder.nonEmpty) {
      val so = node.putArray("sortOrder")
      s.sortOrder.foreach(so.add)
    }
    if (s.priorSpecs.nonEmpty) {
      val ha = node.putArray("priorSpecs")
      s.priorSpecs.foreach { spec =>
        val sa = ha.addArray()
        spec.foreach(f => sa.addObject().put("src", f.source).put("t", f.transform))
      }
    }
    if (s.priorSchemas.nonEmpty) {
      val pa = node.putArray("priorSchemas")
      s.priorSchemas.foreach(pa.add)
    }
    if (s.fileSchemaIdx.nonEmpty) {
      // top-level even under segmented manifests: O(old-epoch files),
      // bounded by rename debt (rewrites drain it), like `dvs`
      val fn = node.putObject("fileSchema")
      s.fileSchemaIdx.foreach { case (f, i) => fn.put(f, i) }
    }
    if (s.dvs.nonEmpty) {
      // top-level even under segmented manifests: O(DV-covered files),
      // bounded by maintenance like the tombstone set (and unlike the
      // per-file stats plane, which is O(all files))
      val dn = node.putObject("dvs")
      s.dvs.foreach { case (f, lst) =>
        val a = dn.putArray(f)
        lst.foreach(a.add)
      }
    }
    if (s.cdc) node.put("cdc", true)
    s.changes.foreach { cs =>
      val cn = node.putObject("changes")
      if (cs.files.nonEmpty) {
        val fa = cn.putArray("files"); cs.files.foreach(fa.add)
      }
      if (cs.deletedDataFiles.nonEmpty) {
        val da = cn.putArray("deletedDataFiles")
        cs.deletedDataFiles.foreach(da.add)
      }
      if (cs.keyColumn.nonEmpty) cn.put("keyColumn", cs.keyColumn)
      if (cs.preds.nonEmpty) {
        val pa = cn.putArray("preds")
        cs.preds.foreach { p =>
          pa.addObject().put("c", p.column).put("t", p.tpe)
            .put("lo", p.lo).put("hi", p.hi)
        }
      }
      if (cs.predSql.nonEmpty) cn.put("predSql", cs.predSql)
    }
    node
  }

  /** The INLINE manifest layout of `s` — shared by [[tryCommit]]
    * and the RTAS pending-replace render ([[replacementV1Bytes]]). */
  private def inlineManifestNode(s: Snapshot): com.fasterxml.jackson.databind.node.ObjectNode = {
    // one shared serializer for the layout-independent fields — a field
    // added in only one of the two layouts cannot happen by construction
    val node = manifestCommon(s)
    val arr = node.putArray("files")
    s.files.foreach(arr.add)
    if (s.stats.nonEmpty) {
      val sn = node.putObject("stats")
      s.stats.foreach { case (f, cols) =>
        val fn = sn.putObject(f)
        cols.foreach { case (c, cr) =>
          val cn = fn.putObject(c)
          cn.put("n", cr.numeric).put("lo", cr.lo).put("hi", cr.hi)
          if (cr.nulls >= 0) cn.put("z", cr.nulls)
        }
      }
    }
    if (s.fileRows.nonEmpty) {
      val fn = node.putObject("fileRows")
      s.fileRows.foreach { case (f, n) => fn.put(f, n) }
    }
    if (s.blooms.nonEmpty) {
      val bn = node.putObject("blooms")
      s.blooms.foreach { case (f, cols) =>
        val fn = bn.putObject(f)
        cols.foreach { case (c, b64) => fn.put(c, b64) }
      }
    }
    if (s.fileBytes.nonEmpty) {
      val fn = node.putObject("fileBytes")
      s.fileBytes.foreach { case (f, n) => fn.put(f, n) }
    }
    if (s.partitionSpec.nonEmpty && s.partitions.nonEmpty) {
      val pn = node.putObject("partitions")
      s.partitions.foreach { case (f, vs) =>
        val va = pn.putArray(f)
        vs.foreach(va.add)
      }
    }
    if (s.fileSpecIdx.nonEmpty) {
      val fn = node.putObject("fileSpec")
      s.fileSpecIdx.foreach { case (f, i) => fn.put(f, i) }
    }
    node
  }
}

object SnapshotLog {
  val LogDirName = "_graft_log"
  val DataDirName = "data"
  /** Tag refs (`ref-<name>.json`) live beside the manifests; the
    * manifest regex never matches them, so listings stay exact. */
  private[table] val RefPrefix = "ref-"
  private[table] val BranchRefPrefix = "branchref-"
  private[table] val ConstraintPrefix = "check-"
  private[table] val DeclColsRefName = "decl-columns.json"
  /** The durable RTAS publish marker ([[SnapshotLog.publishPendingReplace]]):
    * the replacement's complete v1 manifest, staged beside the old
    * chain BEFORE anything is destroyed, promoted to `v…1.json` after
    * the clear — never matched by [[SnapshotLog.ManifestRe]]. */
  private[table] val PendingReplaceName = "pending-replace.json"

  /** Modification-time grace before [[SnapshotLog.publishPendingReplace]]
    * treats an existing pending-replace marker as a crashed prior RTAS
    * rather than a live concurrent one — matches [[SnapshotLog.vacuum]]'s
    * default staged-artifact grace. */
  private[graft] val ReplaceMarkerGraceMs = 3600000L
  private[graft] val TagNameRe = "^[A-Za-z0-9][A-Za-z0-9._-]*$".r
  private val StagePrefix = "_staged-"
  private val MaxCommitAttempts = 20
  /** The base of a table's first commit. */
  private val EmptySnapshot = Snapshot(0, "", 0, 0L, 0L, Seq.empty)

  /** How `commit` resolves a lost manifest slot — chosen per op in code. */
  private sealed trait OnConflict
  /** Rebuild on the fresh head and retry: the op commutes with whatever
    * interleaved (appends; an anchor that re-validates its head). */
  private case object Rebase extends OnConflict
  /** Rebuild and retry only when every interleaved commit is an append:
    * a row-preserving rewrite carries appended files forward, but its
    * input may hold rows any other op removed. */
  private case object OverAppends extends OnConflict
  /** One attempt: the op's input may no longer equal the table. */
  private case object Abort extends OnConflict

  /** `df` rebound so its parquet write stores `TimestampType` columns as
    * TIMESTAMP_MICROS: Spark's INT96 default (deprecated) carries no
    * usable footer min/max, which would leave time columns permanently
    * unprunable. There is no per-write option, and mutating the shared
    * session conf would race concurrent writes and leak the setting —
    * so such a frame executes under a conf-isolated session CLONE
    * (shared context, copied state) with its plan rebound. A frame with
    * no `TimestampType` column (`timestamp_ntz` always writes as micros)
    * returns as it is, so only such a write pays for a clone. Every staged
    * write and the raw layer's write go through here, so a raw run's
    * file is the file a staged append of its rows would land
    * ([[SnapshotLog.appendRunFiles]]). */
  private[graft] def microsTimestamps(df: DataFrame): DataFrame =
    if (!hasTimestamp(df.schema)) df
    else {
      val iso = org.apache.spark.sql.GraftBridge.cloneSession(df.sparkSession)
      iso.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      org.apache.spark.sql.GraftBridge.ofRows(iso,
        org.apache.spark.sql.GraftBridge.logicalPlan(df))
    }

  /** True if a timestamp lurks anywhere in the type — including inside
    * structs/arrays/maps, whose nested time columns are addressable in
    * `statsColumns` via dotted paths. */
  private def hasTimestamp(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case TimestampType => true
      case s: StructType => s.fields.exists(f => hasTimestamp(f.dataType))
      case a: ArrayType  => hasTimestamp(a.elementType)
      case m: MapType    => hasTimestamp(m.keyType) || hasTimestamp(m.valueType)
      case _             => false
    }
  }

  /** Distinct-key ceiling under which a merge ([[SnapshotLog.mergeByKey]],
    * [[SnapshotLog.mergeClauses]]) on one key column routes the rewrite
    * set per key (collecting the keys driver-side) instead
    * of by [min, max] envelope. CDC-sized batches stay under it; a
    * batch over it touches most files regardless, so the envelope loses
    * little. */
  val MergeRouteKeyCap = 100000L

  /** The predicate DELETE/UPDATE planner's threshold: a straddling
    * file whose matched fraction (of its live rows) is at or above this
    * rewrites copy-on-write; below it the matches commit as a positional
    * deletion vector instead — O(matched rows) written, the file
    * untouched. */
  val DvRewriteFraction = 0.5

  /** Helper column names for the DV read path — underscored past any
    * plausible user column. */
  private[table] val DvFileCol = "__graft_dv_file"
  private[table] val DvPosCol = "__graft_dv_pos"

  /** Prefix under which [[SnapshotLog.mergeClauses]] exposes SOURCE
    * columns on the joined row (target columns keep their own names) —
    * clause conditions/assignments reference `__graft_src_<col>` for
    * the source side. Underscored past any plausible user column. */
  val MergeSrcPrefix = "__graft_src_"

  /** [[ChangeSet.keyColumn]] sentinel marking a `replace_where` commit
    * as a DYNAMIC partition overwrite ([[SnapshotLog.overwritePartitions]]
    * — region defined by the batch's tuples, no predicates): the mirror
    * replays ONLY marked commits dynamically. A preds-less STATIC
    * replace_where (uncoercible bound / unencodable predicate types)
    * carries no marker and refuses replay with the resync contract —
    * replaying it by tuples would swap partitions the source never
    * touched. */
  private[graft] val DynamicOverwriteMarker = "__graft_dynamic_tuples__"
  /** Join-side presence markers + first-matching-clause index column
    * used inside [[SnapshotLog.mergeClauses]]. */
  private[table] val MergeTgtMark = "__graft_m_t"
  private[table] val MergeSrcMark = "__graft_m_s"
  private[table] val MergeActCol = "__graft_m_act"

  /** Column in clause-merge CHANGE files tagging update-half images at
    * WRITE time (true = the image is one half of an update pair). The
    * four-type reader re-types tagged images by column map — no key
    * joins, and key-based pairing's inherent ambiguity (a matched
    * DELETE of key K plus an unrelated insert producing key K in the
    * same commit would pair as an update) cannot mislabel. Change files
    * written before this tag existed fall back to key pairing. */
  private[graft] val PairCol = "_graft_pair"

  /** Commits that can remove rows an insert-only feed consumer already
    * received — a gap in the feed. `restore` belongs here (rolling back
    * past an append un-commits rows the stream may have shipped), as do
    * `truncate`/`overwrite` (they drop the whole prior table). */
  private[graft] val FeedChangeOps: Set[String] =
    Set("delete", "merge", "delete_keys", "update", "restore", "truncate",
      "overwrite", "replace_where")

  /** The change feed's columns over the table columns `base`: plus
    * `_change_type`/`_commit_version` in row-level mode. */
  private[graft] def feedSchema(base: org.apache.spark.sql.types.StructType,
      rowLevel: Boolean): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    if (!rowLevel) base
    else StructType(base.fields ++ Seq(
      StructField("_change_type", StringType, nullable = false),
      StructField("_commit_version", LongType, nullable = false)))
  }

  /** StructField-metadata key carrying a column's STABLE field id —
    * what lets a rename be metadata-only while old files keep
    * resolving ([[SnapshotLog.renameColumn]]). Ids are assigned in
    * field order at the first rename (and to widened columns as
    * max+1), so a schema WITHOUT ids reads as fid = field index —
    * exact for every pre-rename epoch, because widening only appends. */
  private[table] val FidKey = "graft.fid"

  /** `f`'s stable field id: its recorded metadata id, else its
    * position `idx` (the pre-fid convention — sound because ids are
    * first assigned in index order and widening appends). */
  private[table] def fidOf(f: org.apache.spark.sql.types.StructField,
      idx: Int): Long =
    if (f.metadata.contains(FidKey)) f.metadata.getLong(FidKey) else idx.toLong

  /** The (oldPath, newPath) rename between two schema epochs (dotted
    * paths for nested fields), recovered by PER-LEVEL field-id diff —
    * Some iff exactly one field changed name anywhere in the tree (the
    * shape one `rename` commit produces; [[LogMirror]] replays from
    * this, so no extra manifest field is needed). Parent segments of a
    * nested pair agree on both sides by construction (a single rename
    * commit never touches its ancestors). */
  private[graft] def renamePairOf(fromJson: String,
      toJson: String): Option[(String, String)] = {
    import org.apache.spark.sql.types.{DataType, StructType}
    if (fromJson.isEmpty || toJson.isEmpty) return None
    val from = DataType.fromJson(fromJson).asInstanceOf[StructType]
    val to = DataType.fromJson(toJson).asInstanceOf[StructType]
    def diff(f: StructType, t: StructType, prefix: String): Seq[(String, String)] = {
      val byFid = f.fields.zipWithIndex.map { case (ff, i) =>
        fidOf(ff, i) -> ff }.toMap
      t.fields.zipWithIndex.flatMap { case (tf, i) =>
        byFid.get(fidOf(tf, i)).toSeq.flatMap { ff =>
          val here =
            if (ff.name != tf.name)
              Seq((prefix + ff.name, prefix + tf.name)) else Nil
          val nested = (ff.dataType, tf.dataType) match {
            case (fs: StructType, ts: StructType) =>
              diff(fs, ts, prefix + tf.name + ".")
            case _ => Nil
          }
          here ++ nested
        }
      }.toSeq
    }
    diff(from, to, "") match {
      case Seq(one) => Some(one)
      case _        => None
    }
  }

  /** Dotted paths present in `fromJson` (by per-level field id) but
    * absent from `toJson` — the shape one `drop` commit produces,
    * recovered from the manifests themselves (the mirror replays from
    * this, like [[renamePairOf]]). Nested drops report the full path. */
  private[graft] def droppedNamesOf(fromJson: String,
      toJson: String): Seq[String] = {
    import org.apache.spark.sql.types.{DataType, StructType}
    if (fromJson.isEmpty || toJson.isEmpty) return Nil
    val from = DataType.fromJson(fromJson).asInstanceOf[StructType]
    val to = DataType.fromJson(toJson).asInstanceOf[StructType]
    def diff(f: StructType, t: StructType, prefix: String): Seq[String] = {
      val byFid = t.fields.zipWithIndex.map { case (tf, i) =>
        fidOf(tf, i) -> tf }.toMap
      f.fields.zipWithIndex.flatMap { case (ff, i) =>
        byFid.get(fidOf(ff, i)) match {
          case None => Seq(prefix + ff.name)
          case Some(tf) => (ff.dataType, tf.dataType) match {
            case (fs: StructType, ts: StructType) =>
              diff(fs, ts, prefix + tf.name + ".")
            case _ => Nil
          }
        }
      }.toSeq
    }
    diff(from, to, "")
  }

  /** (dotted path, field) pairs present in `toJson` but absent (by
    * per-level field id) from `fromJson` — the shape one `widen` commit
    * produces; nested additions report the full path. */
  private[graft] def addedFieldsOf(fromJson: String, toJson: String)
      : Seq[(String, org.apache.spark.sql.types.StructField)] = {
    import org.apache.spark.sql.types.{DataType, StructType}
    if (fromJson.isEmpty || toJson.isEmpty) return Nil
    val from = DataType.fromJson(fromJson).asInstanceOf[StructType]
    val to = DataType.fromJson(toJson).asInstanceOf[StructType]
    def diff(f: StructType, t: StructType,
        prefix: String): Seq[(String, org.apache.spark.sql.types.StructField)] = {
      val byFid = f.fields.zipWithIndex.map { case (ff, i) =>
        fidOf(ff, i) -> ff }.toMap
      t.fields.zipWithIndex.flatMap { case (tf, i) =>
        byFid.get(fidOf(tf, i)) match {
          case None => Seq((prefix + tf.name, tf))
          case Some(ff) => (ff.dataType, tf.dataType) match {
            case (fs: StructType, ts: StructType) =>
              diff(fs, ts, prefix + tf.name + ".")
            case _ => Nil
          }
        }
      }.toSeq
    }
    diff(from, to, "")
  }

  /** The SCALAR type changes between two schema epochs, by field id —
    * the [[SnapshotLog.widenColumnType]] commits a mirror must replay:
    * each (dotted path, widened type) where the same field's type
    * differs (struct fields recurse; container element/value changes
    * surface as the container path itself and are not widen-replayable
    * — the verb never produces them). */
  private[graft] def typeChangesOf(fromJson: String, toJson: String)
      : Seq[(String, org.apache.spark.sql.types.DataType)] = {
    import org.apache.spark.sql.types.{DataType, StructType}
    if (fromJson.isEmpty || toJson.isEmpty) return Nil
    val from = DataType.fromJson(fromJson).asInstanceOf[StructType]
    val to = DataType.fromJson(toJson).asInstanceOf[StructType]
    def diff(f: StructType, t: StructType, prefix: String)
        : Seq[(String, DataType)] = {
      val byFid = f.fields.zipWithIndex.map { case (ff, i) =>
        fidOf(ff, i) -> ff }.toMap
      t.fields.zipWithIndex.flatMap { case (tf, i) =>
        byFid.get(fidOf(tf, i)).toSeq.flatMap { ff =>
          (ff.dataType, tf.dataType) match {
            case (fs: StructType, ts: StructType) =>
              diff(fs, ts, prefix + tf.name + ".")
            case (fd, td) if fd != td => Seq((prefix + tf.name, td))
            case _ => Nil
          }
        }
      }.toSeq
    }
    diff(from, to, "")
  }

  /** `schema` with every field — nested struct fields included —
    * carrying an explicit id (existing ids kept, absent ones
    * materialized at their per-level index: the same positional
    * convention [[fidOf]] reads, so normalizing is a no-op for
    * matching). */
  private[table] def withFids(schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      schema.fields.zipWithIndex.map { case (f0, i) =>
        val f = f0.copy(dataType = fidsInside(f0.dataType))
        if (f.metadata.contains(FidKey)) f
        else f.copy(metadata =
          new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata).putLong(FidKey, i.toLong).build())
      })

  /** [[withFids]] pushed through container types: structs inside
    * arrays and map VALUES get per-level ids too, so element-field
    * evolution has the same by-id alignment mechanics as struct
    * fields (parquet keeps list/map element groups, making the
    * positional fallback sound there exactly as for structs). Map
    * KEYS never evolve — key identity defines the map — so their
    * shape passes through untouched. */
  private def fidsInside(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = dt match {
    case s: org.apache.spark.sql.types.StructType => withFids(s)
    case a: org.apache.spark.sql.types.ArrayType =>
      a.copy(elementType = fidsInside(a.elementType))
    case m: org.apache.spark.sql.types.MapType =>
      m.copy(valueType = fidsInside(m.valueType))
    case other => other
  }

  /** `srcCol` (valued under `from`'s shape) projected onto `to`'s shape
    * by PER-LEVEL stable field ids — the nested half of epoch
    * alignment: renamed struct fields alias, dropped ones stop being
    * selected, fields widened after `from` null-pad, and recursion
    * handles struct-of-struct. Non-struct leaves pass through (the
    * log's widening-only contract: a leaf's type never changes under
    * one field id). A NULL struct value stays NULL — the rebuild guards
    * on `isNull` so null-ness survives the projection. Identity (the
    * column untouched) when the shapes agree, which is every column a
    * rename commit did not touch. */
  private[table] def alignColumn(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType,
      srcCol: Column): Column = (from, to) match {
    case (fs: org.apache.spark.sql.types.StructType,
          ts: org.apache.spark.sql.types.StructType) if fs != ts =>
      import org.apache.spark.sql.functions.{struct, when}
      val byFid = fs.fields.zipWithIndex.map { case (f, i) =>
        fidOf(f, i) -> f }.toMap
      val inner = ts.fields.zipWithIndex.map { case (tf, i) =>
        (byFid.get(fidOf(tf, i)) match {
          case Some(ff) =>
            alignColumn(ff.dataType, tf.dataType, srcCol.getField(ff.name))
          case None => lit(null).cast(tf.dataType)
        }).as(tf.name)
      }.toSeq
      when(srcCol.isNull, lit(null).cast(ts)).otherwise(struct(inner: _*))
    // element-field evolution: project each element onto the current
    // element shape (codegen'd transform — no shuffle, no UDF); a NULL
    // array/map stays NULL (transform/map_entries are null-propagating)
    case (fa: org.apache.spark.sql.types.ArrayType,
          ta: org.apache.spark.sql.types.ArrayType) if fa != ta =>
      org.apache.spark.sql.functions.transform(srcCol,
        e => alignColumn(fa.elementType, ta.elementType, e))
    // map VALUES align entry-wise; keys never evolve (their shape is
    // the map's identity), so they pass through
    case (fm: org.apache.spark.sql.types.MapType,
          tm: org.apache.spark.sql.types.MapType) if fm != tm =>
      import org.apache.spark.sql.functions.{map_entries, map_from_entries, struct, transform}
      map_from_entries(transform(map_entries(srcCol), e =>
        struct(e.getField("key").as("key"),
          alignColumn(fm.valueType, tm.valueType, e.getField("value"))
            .as("value"))))
    // scalar TYPE WIDENING ([[SnapshotLog.widenColumnType]]): old
    // epochs' narrow values cast up — lossless by the verb's whitelist
    case _ if from != to => srcCol.cast(to)
    case _ => srcCol
  }

  /** Rewrite the struct at dotted `path` inside `schema` with `f` —
    * the shared navigation of nested [[SnapshotLog.renameColumn]] /
    * `dropColumn` / `addColumn`. Empty path = the top level. Container
    * types navigate through their Spark-standard pseudo-segments —
    * `a.element.x` addresses field x of `array<struct<...>>` a,
    * `m.value.x` the value struct of a map (the spellings Spark's own
    * ALTER TABLE resolver and TableChange.fieldNames use) — so
    * element-field evolution rides the same per-level id machinery as
    * structs. Map KEYS refuse: key shape is the map's identity. Loud
    * on a missing segment or a non-navigable intermediate. */
  private[table] def rewriteStructAt(
      schema: org.apache.spark.sql.types.StructType, path: Seq[String],
      where: String)(f: org.apache.spark.sql.types.StructType =>
        org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    if (path.isEmpty) f(schema)
    else {
      val name = path.head
      require(schema.fieldNames.contains(name),
        s"$where: no field '$name' " +
          s"(fields: ${schema.fieldNames.mkString(", ")})")
      org.apache.spark.sql.types.StructType(schema.fields.map { sf =>
        if (sf.name != name) sf
        else sf.copy(dataType = rewriteInner(sf.dataType, path.tail, where, name)(f))
      })
    }

  /** [[rewriteStructAt]]'s step through ONE field's type: recurse into
    * structs directly, into array elements / map values through their
    * pseudo-segments. */
  private def rewriteInner(dt: org.apache.spark.sql.types.DataType,
      path: Seq[String], where: String, name: String)(
      f: org.apache.spark.sql.types.StructType =>
        org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.DataType = dt match {
    case inner: org.apache.spark.sql.types.StructType =>
      rewriteStructAt(inner, path, where)(f)
    case a: org.apache.spark.sql.types.ArrayType =>
      if (!path.headOption.contains("element"))
        throw new UnsupportedOperationException(
          s"$where: '$name' is ${a.simpleString} — address element " +
            s"fields as '$name.element.<field>'")
      a.copy(elementType =
        rewriteInner(a.elementType, path.tail, where, s"$name.element")(f))
    case m: org.apache.spark.sql.types.MapType
        if path.headOption.contains("value") =>
      m.copy(valueType =
        rewriteInner(m.valueType, path.tail, where, s"$name.value")(f))
    case m: org.apache.spark.sql.types.MapType
        if path.headOption.contains("key") =>
      throw new UnsupportedOperationException(
        s"$where: map KEYS cannot evolve — key identity defines the " +
          "map; rebuild the column instead")
    case m: org.apache.spark.sql.types.MapType =>
      throw new UnsupportedOperationException(
        s"$where: '$name' is ${m.simpleString} — address value fields " +
          s"as '$name.value.<field>'")
    case other => throw new UnsupportedOperationException(
      s"$where: '$name' is ${other.simpleString}, not a struct")
  }

  /** `dt` rendered as SQL with nullability (and field metadata)
    * normalized away at every nesting level — the public spelling of a
    * recursive `sameType` compare. */
  private[table] def normalizedSql(
      dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types.{ArrayType, MapType, Metadata, StructType}
    def norm(d: org.apache.spark.sql.types.DataType)
        : org.apache.spark.sql.types.DataType = d match {
      case s: StructType => StructType(s.fields.map(f => f.copy(
        dataType = norm(f.dataType), nullable = true,
        metadata = Metadata.empty)))
      case a: ArrayType => ArrayType(norm(a.elementType), containsNull = true)
      case m: MapType =>
        MapType(norm(m.keyType), norm(m.valueType), valueContainsNull = true)
      case other => other
    }
    norm(dt).sql
  }

  /** Does dotted `path` name a field of `schema` (navigating structs
    * and the array/map pseudo-segments)? */
  private[graft] def hasPath(schema: org.apache.spark.sql.types.StructType,
      path: Seq[String]): Boolean =
    schema.fields.find(_.name == path.head) match {
      case None => false
      case Some(f) if path.tail.isEmpty => true
      case Some(f) => hasInner(f.dataType, path.tail)
    }

  /** The declared type at a dotted path (struct navigation only — the
    * shape [[typeChangesOf]] emits); None when the path is absent. */
  private[graft] def typeAtPath(schema: org.apache.spark.sql.types.StructType,
      path: Seq[String]): Option[org.apache.spark.sql.types.DataType] =
    schema.fields.find(_.name == path.head).flatMap { f =>
      if (path.tail.isEmpty) Some(f.dataType)
      else f.dataType match {
        case s: org.apache.spark.sql.types.StructType =>
          typeAtPath(s, path.tail)
        case _ => None
      }
    }

  private def hasInner(dt: org.apache.spark.sql.types.DataType,
      path: Seq[String]): Boolean = dt match {
    case s: org.apache.spark.sql.types.StructType => hasPath(s, path)
    case a: org.apache.spark.sql.types.ArrayType
        if path.headOption.contains("element") =>
      if (path.tail.isEmpty) true else hasInner(a.elementType, path.tail)
    case m: org.apache.spark.sql.types.MapType
        if path.headOption.contains("value") =>
      if (path.tail.isEmpty) true else hasInner(m.valueType, path.tail)
    case _ => false
  }


  /** Live-file count above which manifests go SEGMENTED: the per-file
    * metadata plane moves to immutable `seg-*.json` files reused across
    * commits, making an append's metadata write O(new files) instead of
    * O(table). Below it the manifest stays inline — one GET plans
    * everything, the right trade for small tables. */
  val InlineFileLimit = 64

  /** Segment-list cap: a commit that would carry this many segments
    * consolidates them into one instead — keeps planning O(1) GETs
    * (amortized by the segment cache) and bounds manifest size. */
  val MaxManifestSegments = 32

  /** Output-file count that bin-packs `bytes` into ~`targetFileBytes`
    * files — the one sizing rule every layout/compaction job shares. */
  def packedFileCount(bytes: Long, targetFileBytes: Long): Int = {
    require(targetFileBytes > 0, s"targetFileBytes must be positive: $targetFileBytes")
    math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
  }

  def apply(spark: SparkSession, tableDir: String,
      statsColumns: Seq[String] = Nil): SnapshotLog =
    new SnapshotLog(spark, tableDir, statsColumns)

  /** A log whose manifests live in `store` — the object-store
    * deployment shape ([[CommitStore]]); data files stay on `tableDir`'s
    * filesystem. */
  def apply(spark: SparkSession, tableDir: String,
      statsColumns: Seq[String], store: CommitStore): SnapshotLog =
    new SnapshotLog(spark, tableDir, statsColumns, Some(store))

  /** A log that also maintains per-file key blooms on `bloomColumns`
    * ([[FileBlooms]]) — point-lookup file skipping for keys the layout
    * doesn't cluster on. */
  def apply(spark: SparkSession, tableDir: String,
      statsColumns: Seq[String], bloomColumns: Seq[String]): SnapshotLog =
    new SnapshotLog(spark, tableDir, statsColumns, None, bloomColumns)

  /** A hidden-partitioned log ([[PartitionField]]): writes route rows
    * through the transforms, manifests record per-file partition
    * tuples, reads prune on SOURCE-column predicates. The spec persists
    * in the manifest from the first commit — later readers/writers may
    * construct without it. */
  def partitioned(spark: SparkSession, tableDir: String,
      spec: Seq[PartitionField], statsColumns: Seq[String] = Nil,
      bloomColumns: Seq[String] = Nil, sortBy: Seq[String] = Nil): SnapshotLog =
    new SnapshotLog(spark, tableDir, statsColumns, None, bloomColumns, spec,
      sortBy)

  /** A log whose every stage (append, compaction, merge survivors)
    * arranges rows by `sortBy` before writing — clustering as a
    * write-time property: files land with tight stats ranges without a
    * separate maintenance rewrite. The order persists in the manifest
    * (spec-less writers inherit it); changing it is always sound — it
    * shapes future files only. */
  def sorted(spark: SparkSession, tableDir: String, sortBy: Seq[String],
      statsColumns: Seq[String] = Nil): SnapshotLog =
    new SnapshotLog(spark, tableDir, statsColumns, None, Nil, Nil, sortBy)

  /** A handle that INHERITS the table's metadata maintenance from its
    * manifest: stats columns and bloom columns are inferred from what
    * the committed files already record, so a writer constructed from
    * just a path (the SQL DML surface — [[GraftTableCatalog]],
    * [[MergeClausesLogCommand]]) keeps lifting the same per-file stats and
    * blooms the table's typed writers do, instead of silently staging
    * unprunable files. (Partition spec and sort order already inherit
    * through the manifest for every handle; stats/bloom column sets are
    * handle properties, hence this probe.) One manifest read. */
  def inheriting(spark: SparkSession, tableDir: String,
      store: Option[CommitStore] = None): SnapshotLog = {
    val probe = new SnapshotLog(spark, tableDir, Nil, store)
    if (probe.currentVersion() == 0) probe
    else {
      val s = probe.snapshot()
      // inference (what files actually carry) UNIONED with the
      // declared-columns ref — the declaration survives an empty table
      // (CREATE TABLE then SQL INSERT), where inference has no files
      val (declStats, declBlooms) = probe.declaredColsRef()
      val stats = (s.stats.valuesIterator.flatMap(_.keys).toSeq ++
        declStats).distinct.sorted
      val blooms = (s.blooms.valuesIterator.flatMap(_.keys).toSeq ++
        declBlooms).distinct.sorted
      if (stats.isEmpty && blooms.isEmpty) probe
      else new SnapshotLog(spark, tableDir, stats, store, blooms)
    }
  }

  /** A log with ROW-LEVEL CDC enabled ([[ChangeSet]]): row-removing
    * commits record change images, [[SnapshotLog.readChangeRows]] and
    * the CDC streaming read serve them, [[LogMirror]] replays them and
    * [[DerivedAggregate]] folds them. Sticky from the first commit;
    * later handles inherit the flag from the manifest. */
  def withChangeFeed(spark: SparkSession, tableDir: String,
      statsColumns: Seq[String] = Nil, sortBy: Seq[String] = Nil): SnapshotLog =
    new SnapshotLog(spark, tableDir, statsColumns, None, Nil, Nil, sortBy,
      changeFeed = true)
}
