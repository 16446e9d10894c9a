package graft.table

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchFunctionException, NoSuchTableException, NoSuchNamespaceException}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{FunctionCatalog, Identifier, SupportsDelete, SupportsRead, SupportsWrite, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.catalog.functions.UnboundFunction
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Literal => V2Literal}
import org.apache.spark.sql.connector.expressions.filter.{Predicate => V2Predicate}
import org.apache.spark.sql.connector.read.{Batch, Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportPartitioning, SupportsReportStatistics, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.{And, EqualNullSafe, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 catalog over a directory of [[SnapshotLog]] tables —
  * the SQL integration of the log, and the read path of a log-backed
  * pipeline's cataloged view ([[graft.catalog.CatalogRegistrar]] mounts
  * the pipeline's prepared root as one of these and views its table):
  *
  * {{{
  * spark.conf.set("spark.sql.catalog.graft", classOf[GraftTableCatalog].getName)
  * spark.conf.set("spark.sql.catalog.graft.root", "/lake/tables")
  * spark.sql("SELECT * FROM graft.events WHERE ts BETWEEN ... ")
  * spark.sql("SELECT * FROM graft.events VERSION AS OF 3")   // time travel
  * }}}
  *
  * Identifiers map to directories (`graft.ns.t` → `<root>/ns/t`); a
  * table is any directory with a committed manifest. Reads split the
  * work exactly as a lakehouse connector should: the MANIFEST decides
  * which files exist (one GET — no directory listing — plus stats /
  * partition-tuple / per-file-spec pruning via
  * [[SnapshotLog.filesMatching]], fed by the pushed-down filters), and
  * Spark's own vectorized `ParquetScan` executes over the surviving
  * file list (whole-stage codegen, row-group/page skipping — via
  * `GraftBridge.parquetBatchScan`, since the scan class is
  * `private[sql]`). Every pushed filter is ALSO returned as a residual,
  * so Spark re-evaluates exactly and the manifest gate only ever
  * REMOVES I/O, never rows. `VERSION AS OF` pins the snapshot through
  * the standard `loadTable(ident, version)` hook — the plan is built
  * against that version's file list, so a concurrent commit cannot
  * shear a running query.
  *
  * SQL DML routes through the SAME transactional commit path the typed
  * API uses — every verb is one [[SnapshotLog]] commit (CAS, partition
  * transforms, sort order, stats/bloom lift all apply at the staging
  * choke point):
  *  - `INSERT INTO` → [[SnapshotLog.append]] (V1 write fallback — the
  *    whole batch lands as ONE staged-and-CAS'd version);
  *  - `INSERT OVERWRITE` → [[SnapshotLog.overwriteAll]] (atomic
  *    truncate+append, readers never see the empty intermediate);
  *  - `DELETE FROM ... WHERE` → [[SnapshotLog.deleteWhereTxn]] when the
  *    condition converts EXACTLY to a conjunction of closed ranges /
  *    points ([[LogTable.exactRanges]] — stats-targeted copy-on-write
  *    with metadata-only whole-file drops); an inexpressible condition
  *    is refused at analysis (use the typed API or `deleteKeys`);
  *  - `DELETE FROM` (no WHERE) / `TRUNCATE TABLE` →
  *    [[SnapshotLog.truncate]] (one metadata-only commit);
  *  - `MERGE INTO` → every shape SQL MERGE can say (whole-row upserts,
  *    composite keys, conditional multi-clause matched UPDATE/DELETE,
  *    conditional inserts, NOT MATCHED BY SOURCE) runs
  *    [[SnapshotLog.mergeClauses]] via the resolution rule
  *    [[MergeIntoLogRule]] installed by [[graft.plans.GraftExtensions]];
  *  - `UPDATE ... SET ... WHERE` → [[SnapshotLog.updateWhereTxn]] via
  *    [[UpdateLogRule]] (same extensions install), under the same
  *    exact-condition contract as DELETE — copy-on-write pinned so the
  *    result stays SQL-readable; the typed API keeps the DV+append
  *    merge-on-read arm for sparse updates.
  * INSERTs run the NATIVE DSv2 batch write ([[LogAppendWrite]]) —
  * Spark's own write planning inserts the one AQE-visible exchange
  * from the Write's required distribution/ordering (every partition
  * transform resolves through this catalog's function surface), and
  * per-task writers land parquet straight in `data/`. The session conf
  * [[GraftTableCatalog.WapBranchConf]] pins reads AND every DML verb
  * to a write-audit-publish branch for the SQL-only WAP loop.
  * `ALTER TABLE RENAME/DROP/ADD COLUMN` commits the log's metadata-only
  * schema evolution (field-id renames/drops, explicit widens) and
  * `ADD/DROP CONSTRAINT ... CHECK` the write-time quality gates — see
  * [[GraftTableCatalog.alterTable]]. `CREATE TABLE`/CTAS commit the
  * table's first transactional append under the declared partition
  * spec/sort order ([[GraftTableCatalog.createTable]]); `DROP TABLE`
  * removes the directory. Tables with PENDING merge-on-read debt —
  * key tombstones, deletion vectors, pre-rename schema epochs — stay
  * readable: the scan builder plans [[LogDebtScan]] (manifest-pruned
  * file list + the typed read's debt composition) instead of the raw
  * vectorized batch, so `SELECT` after a typed `deleteKeys` returns
  * the survivors; maintenance draining the debt restores the
  * codegen path.
  *
  * Scale: planning is one manifest GET + driver-side string compares;
  * execution is Spark's stock distributed parquet scan. Nothing here is
  * O(table) on the driver.
  */
final class GraftTableCatalog extends TableCatalog with FunctionCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.StagingTableCatalog {
  private var catalogName: String = _
  private var root: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Option(options.get("root")).getOrElse(throw new IllegalArgumentException(
      s"catalog '$name' needs spark.sql.catalog.$name.root = <directory of log tables>"))
  }

  override def name(): String = catalogName

  /** What unlocks the ANSI `ALTER TABLE ... ADD/DROP CONSTRAINT`
    * analysis path — without this, ResolveTableConstraints refuses the
    * statement before [[alterTable]] ever sees the change. */
  override def capabilities(): java.util.Set[
      org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    java.util.EnumSet.of(org.apache.spark.sql.connector.catalog
      .TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT)

  private def dirOf(ident: Identifier): String =
    (root +: (ident.namespace() :+ ident.name()).toSeq).mkString("/")

  private def logFor(ident: Identifier): SnapshotLog =
    SnapshotLog(SparkSession.active, dirOf(ident))

  override def tableExists(ident: Identifier): Boolean =
    logFor(ident).currentVersion() > 0

  override def loadTable(ident: Identifier): Table = {
    if (logFor(ident).currentVersion() == 0) throw new NoSuchTableException(ident)
    // the head handle may WRITE (SQL DML) — inherit the table's
    // stats/bloom maintenance so its staged files stay prunable; under
    // a session WAP branch ([[GraftTableCatalog.WapBranchConf]]) the
    // whole SQL surface pins to the branch chain
    new LogTable(GraftTableCatalog.sessionLog(SparkSession.active,
      dirOf(ident)), ident, -1L)
  }

  /** `VERSION AS OF <v | 'tag'>` — the snapshot pinned at plan time:
    * a numeric version directly, anything else resolved as a named tag
    * ([[SnapshotLog.createTag]]). */
  override def loadTable(ident: Identifier, version: String): Table = {
    val log = logFor(ident)
    if (log.currentVersion() == 0) throw new NoSuchTableException(ident)
    // VERSION AS OF 'branch:<name>' — the catalog spelling of the WAP
    // audit read ([[SnapshotLog.branch]]): a read-only pin on the
    // branch's current head (DML stays typed-API on branches)
    if (version.startsWith("branch:")) {
      val b = log.branch(version.stripPrefix("branch:"))
      return new LogTable(b, ident, b.currentVersion())
    }
    val v = scala.util.Try(version.toLong).toOption
      .orElse(log.versionOfTag(version))
      .getOrElse(throw new IllegalArgumentException(
        s"VERSION AS OF on $catalogName: '$version' is neither a numeric " +
          s"log version nor a tag of ${log.tableDir} " +
          s"(tags: ${log.tags().keys.toSeq.sorted.mkString(", ")})"))
    new LogTable(log, ident, v)
  }

  /** `TIMESTAMP AS OF <t>` — Spark hands epoch MICROS; the manifest
    * commit clocks ([[Snapshot.ts]], millis) resolve the version. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val log = logFor(ident)
    if (log.currentVersion() == 0) throw new NoSuchTableException(ident)
    new LogTable(log, ident, log.versionAt(timestampMicros / 1000L))
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val spark = SparkSession.active
    val base = new Path((root +: namespace.toSeq).mkString("/"))
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(base).toSeq
      .filter(st => st.isDirectory &&
        fs.exists(new Path(st.getPath, SnapshotLog.LogDirName)))
      .map(st => Identifier.of(namespace, st.getPath.getName))
      .toArray
  }

  /** `CREATE TABLE` / the create half of CTAS: the table's first
    * transactional commit is an EMPTY append under the declared shape —
    * v1 records the schema, hidden-partition spec, sort order and
    * change-feed flag in the manifest, so every later writer (SQL
    * INSERT/MERGE, typed handles built from just the path, streaming
    * sinks) inherits them. `PARTITIONED BY` accepts the log's transform
    * set (identity columns, `hours/days/months/years(ts)`,
    * `bucket(n, col)`, `truncate(w, col)`); table properties declare
    * write-time metadata maintenance (`sort-order`, `stats-columns`,
    * `bloom-columns`, `change-feed`). Location is the catalog root by
    * construction — an explicit LOCATION is refused rather than
    * silently ignored. Spark's non-atomic CTAS contract (create, write,
    * [[dropTable]] on failure) composes: the INSERT that follows is the
    * same transactional append as any other. */
  /** Declared-shape resolution shared by CREATE TABLE and the staged
    * CTAS/RTAS path: validates the properties, parses the PARTITIONED
    * BY transforms into the manifest's [[PartitionField]]s, and builds
    * the handle carrying the declared spec/sort/stats — WITHOUT
    * committing anything. Returns (handle, declared spec, sort). */
  private[table] def declaredLog(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String])
      : (SnapshotLog, Seq[PartitionField], Seq[String]) = {
    import org.apache.spark.sql.connector.expressions._
    import scala.jdk.CollectionConverters._
    val props = properties.asScala
    props.get(TableCatalog.PROP_PROVIDER).foreach(p =>
      require(Set("graft", "graft-log", "graft_log").contains(p.toLowerCase),
        s"CREATE TABLE ${ident}: USING $p — this catalog creates graft " +
          "log tables only (omit USING, or say USING graft)"))
    require(!props.contains(TableCatalog.PROP_LOCATION) &&
        !props.contains(TableCatalog.PROP_EXTERNAL),
      s"CREATE TABLE ${ident}: a log table's location IS " +
        s"<catalog root>/${ident.name()} — LOCATION/EXTERNAL are refused")
    def single(refs: Array[NamedReference], what: String): String = {
      require(refs.length == 1 && refs.head.fieldNames().length == 1,
        s"CREATE TABLE ${ident}: $what must reference one top-level column")
      refs.head.fieldNames().head
    }
    def litArg(t: Transform, what: String): Int =
      t.arguments().collectFirst {
        case l: Literal[_] => l.value().toString.toInt
      }.getOrElse(throw new IllegalArgumentException(
        s"CREATE TABLE ${ident}: $what needs a literal parameter"))
    val spec = partitions.toSeq.map { t =>
      t.name().toLowerCase match {
        case "identity" => PartitionField(single(t.references(), "identity"), "identity")
        case "hours"    => PartitionField(single(t.references(), "hours"), "hour")
        case "days"     => PartitionField(single(t.references(), "days"), "day")
        case "months"   => PartitionField(single(t.references(), "months"), "month")
        case "years"    => PartitionField(single(t.references(), "years"), "year")
        case "bucket"   => PartitionField(single(t.references(), "bucket"),
          s"bucket[${litArg(t, "bucket")}]")
        case "truncate" => PartitionField(single(t.references(), "truncate"),
          s"truncate[${litArg(t, "truncate")}]")
        case _ => throw new UnsupportedOperationException(
          s"CREATE TABLE ${ident}: unsupported partition transform $t " +
            "(identity | hours | days | months | years | bucket | truncate)")
      }
    }
    def csv(key: String): Seq[String] =
      props.get(key).toSeq.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    val log = new SnapshotLog(SparkSession.active, dirOf(ident),
      statsColumns = csv("stats-columns"), store0 = None,
      bloomColumns = csv("bloom-columns"), partitionBy = spec,
      sortBy = csv("sort-order"),
      changeFeed = props.get("change-feed").exists(_.toBoolean))
    (log, spec, csv("sort-order"))
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: java.util.Map[String, String]): Table = {
    if (tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(ident)
    val (log, _, _) = declaredLog(ident, schema, partitions, properties)
    log.append(SparkSession.active.createDataFrame(
      SparkSession.active.sparkContext
        .emptyRDD[org.apache.spark.sql.Row], schema))
    loadTable(ident)
  }

  /** The modern create entry (what Spark actually calls): routes to
    * [[createTable]] above, then attaches constraints declared INLINE
    * (`CREATE TABLE t (id BIGINT, CONSTRAINT c CHECK (id > 0))`) —
    * add-time validation is trivially true on the empty v1, and every
    * write from the first INSERT on is gated. */
  override def createTable(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo): Table = {
    val table = createTable(ident, info.schema(), info.partitions(),
      info.properties())
    try info.constraints().foreach {
      case c: org.apache.spark.sql.connector.catalog.constraints.Check =>
        val log = logFor(ident)
        // the declared schema is RIGHT HERE — a constraint referencing
        // a column outside it would attach as a silent no-op (CHECK on
        // an absent column passes); refuse at create instead
        val unknown = log.constraintRefs(c.predicateSql()).filterNot(r =>
          info.schema().fieldNames.exists(_.equalsIgnoreCase(r)))
        require(unknown.isEmpty,
          s"CREATE TABLE ${ident}: CHECK '${c.name()}' references columns " +
            s"not in the table: ${unknown.mkString(", ")}")
        log.addConstraint(c.name(), c.predicateSql())
      case other => throw new UnsupportedOperationException(
        s"CREATE TABLE ${ident}: only CHECK constraints are enforceable " +
          s"at write time — ${other.toDDL} is informational DDL this " +
          "format does not record")
    } catch { case e: Throwable => dropTable(ident); throw e }
    table
  }

  /** Validate-and-attach the declared CHECK constraints against the
    * declared schema — shared by [[createTable]] (above, via its own
    * inline loop) and the staged CTAS/RTAS publish. */
  private[table] def attachConstraints(log: SnapshotLog, ident: Identifier,
      schema: StructType,
      constraints: Array[org.apache.spark.sql.connector.catalog.constraints.Constraint]): Unit =
    constraints.foreach {
      case c: org.apache.spark.sql.connector.catalog.constraints.Check =>
        val unknown = log.constraintRefs(c.predicateSql()).filterNot(r =>
          schema.fieldNames.exists(_.equalsIgnoreCase(r)))
        require(unknown.isEmpty,
          s"CREATE TABLE ${ident}: CHECK '${c.name()}' references columns " +
            s"not in the table: ${unknown.mkString(", ")}")
        log.addConstraint(c.name(), c.predicateSql())
      case other => throw new UnsupportedOperationException(
        s"CREATE TABLE ${ident}: only CHECK constraints are enforceable " +
          s"at write time — ${other.toDDL} is informational DDL this " +
          "format does not record")
    }

  /** ATOMIC CTAS/RTAS ([[org.apache.spark.sql.connector.catalog.StagingTableCatalog]]):
    * the staged table's writer lands inert files in `data/` through the
    * native write ([[LogAppendWrite.Stash]] — nothing is named by any
    * manifest), and `commitStagedChanges` is the ONE publish: the
    * table's first commit (v1) carries the declared shape AND the
    * written files together. A failed or aborted CTAS therefore leaves
    * NO table and no directory — the create-write-dropOnFailure window
    * of the non-staged contract is gone. RTAS keeps the fresh-history
    * semantics (version resets, old constraints do not survive —
    * documented at the CREATE OR REPLACE spec pin), with the no-table
    * window shrunk from the whole query to the driver-local clear+
    * publish between a fully-written batch and its commit. */
  override def stageCreate(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo)
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    if (tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(ident)
    new StagedLogTable(this, ident, info, existed = false)
  }

  override def stageReplace(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo)
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    new StagedLogTable(this, ident, info, existed = true)
  }

  override def stageCreateOrReplace(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo)
      : org.apache.spark.sql.connector.catalog.StagedTable =
    new StagedLogTable(this, ident, info, existed = tableExists(ident))

  // the deprecated StructType spellings route to the TableInfo ones
  // (the interface defaults chain the other way around)
  private def tableInfoOf(schema: StructType, partitions: Array[Transform],
      properties: java.util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.TableInfo =
    new org.apache.spark.sql.connector.catalog.TableInfo.Builder()
      .withColumns(schema.fields.map(f =>
        org.apache.spark.sql.connector.catalog.Column.create(
          f.name, f.dataType, f.nullable)))
      .withPartitions(partitions).withProperties(properties).build()

  override def stageCreate(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable =
    stageCreate(ident, tableInfoOf(schema, partitions, properties))

  override def stageReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable =
    stageReplace(ident, tableInfoOf(schema, partitions, properties))

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable =
    stageCreateOrReplace(ident, tableInfoOf(schema, partitions, properties))

  /** `ALTER TABLE` — the SQL spelling of the log's metadata-only schema
    * evolution, one transactional commit per change:
    * `RENAME COLUMN` → [[SnapshotLog.renameColumn]] (field-id rename),
    * `DROP COLUMN` → [[SnapshotLog.dropColumn]] (field-id drop),
    * `ADD COLUMN` → [[SnapshotLog.addColumn]] (explicit widen). Nested
    * fields, repositioning, defaults, and type changes are refused
    * loudly — the log's evolution contract is top-level and
    * widening-only by design. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val log = SnapshotLog.inheriting(SparkSession.active, dirOf(ident))
    if (log.currentVersion() == 0) throw new NoSuchTableException(ident)
    // nested fields spell as dotted paths — the log's evolution verbs
    // navigate struct levels by per-level field id
    def pathOf(fieldNames: Array[String]): String = fieldNames.mkString(".")
    changes.foreach {
      case r: TableChange.RenameColumn =>
        log.renameColumn(pathOf(r.fieldNames()), r.newName())
      case d: TableChange.DeleteColumn =>
        val path = pathOf(d.fieldNames())
        val have = SnapshotLog.hasPath(org.apache.spark.sql.types.DataType
          .fromJson(log.snapshot().schemaJson)
          .asInstanceOf[StructType], d.fieldNames().toSeq)
        if (have) log.dropColumn(path)
        else if (!d.ifExists()) throw new IllegalArgumentException(
          s"${log.tableDir} has no column '$path' to drop")
      case a: TableChange.AddColumn =>
        require(a.position() == null && a.defaultValue() == null,
          s"ADD COLUMN on ${log.tableDir}: positions and defaults are " +
            "not supported — columns append, existing rows read NULL")
        log.addColumn(pathOf(a.fieldNames()), a.dataType())
      case ac: TableChange.AddConstraint =>
        ac.constraint() match {
          // Spark's AddCheckConstraintExec has ALREADY validated the
          // existing rows (its child plan scanned for violations before
          // alterTable was called), and addConstraint validates again
          // from its own read — both one pass, both abort-before-attach
          case c: org.apache.spark.sql.connector.catalog.constraints.Check =>
            log.addConstraint(c.name(), c.predicateSql())
          case other => throw new UnsupportedOperationException(
            s"ALTER TABLE on ${log.tableDir}: only CHECK constraints are " +
              s"enforceable at write time — ${other.toDDL} is informational " +
              "DDL this format does not record")
        }
      case sp: TableChange.SetProperty if sp.property() == "sort-order" =>
        log.setSortOrder(
          sp.value().split(',').toSeq.map(_.trim).filter(_.nonEmpty))
      case rp: TableChange.RemoveProperty if rp.property() == "sort-order" =>
        log.setSortOrder(Nil)
      case sp: TableChange.SetProperty if sp.property() == "change-feed" =>
        require(sp.value().toBoolean,
          s"ALTER TABLE on ${log.tableDir}: the change feed is sticky — " +
            "consumers may depend on the images; it cannot be disabled")
        log.enableChangeFeed()
      case dc: TableChange.DropConstraint =>
        if (!dc.ifExists())
          require(log.constraints().contains(dc.name()),
            s"${log.tableDir} has no constraint '${dc.name()}' to drop " +
              "(DROP CONSTRAINT IF EXISTS to make this a no-op)")
        log.dropConstraint(dc.name())
      // `ALTER TABLE ... ALTER COLUMN c TYPE t`: the metadata-only
      // LOSSLESS widen (int→long, float→double, ... ) — old files read
      // cast-up through their retained epoch, time travel intact; any
      // non-widening type change refuses inside the verb
      case ut: TableChange.UpdateColumnType =>
        log.widenColumnType(ut.fieldNames().mkString("."), ut.newDataType())
      case other => throw new UnsupportedOperationException(
        s"ALTER TABLE on ${log.tableDir}: unsupported change $other — " +
          "supported verbs: RENAME COLUMN, DROP COLUMN, ADD COLUMN, " +
          "ALTER COLUMN TYPE (lossless widening), " +
          "ADD/DROP CONSTRAINT ... CHECK")
    }
    loadTable(ident)
  }

  /** `DROP TABLE`: removes the table DIRECTORY — manifests, refs and
    * data files — in one recursive delete (also what Spark's non-atomic
    * CTAS calls to clean up a failed create-then-write). Branch
    * manifests and staged scratch live under the same directory, so
    * nothing survives to resurrect the name. */
  override def dropTable(ident: Identifier): Boolean = {
    val dir = new org.apache.hadoop.fs.Path(dirOf(ident))
    val fs = dir.getFileSystem(
      SparkSession.active.sessionState.newHadoopConf())
    fs.exists(dir) && fs.delete(dir, true)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      "a log table's identity is its directory; rename at the storage layer")

  /** The function catalog half — what lets Spark resolve the `bucket`
    * transform in [[LogBatchScan]]'s reported partitioning, the hinge
    * of the STORAGE-PARTITIONED JOIN (two log tables bucketed the same
    * way on their join keys join with zero shuffle). */
  /** The stored-procedure half ([[GraftProcedures]]): the log's
    * maintenance/lifecycle verbs under `CALL <cat>.system.<proc>(...)`
    * (the bare namespace works too), each ONE transactional commit or
    * metadata ref op with a one-row result. */
  private lazy val procedures = new GraftProcedures(() => root)

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(Array("system")))
      procedures.all.keys.toArray.sorted.map(Identifier.of(namespace, _))
    else Array.empty

  override def loadProcedure(ident: Identifier):
      org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    require(ident.namespace().isEmpty ||
      ident.namespace().sameElements(Array("system")),
      s"CALL on $catalogName: procedures live in the 'system' namespace " +
        s"(got ${ident.namespace().mkString(".")})")
    procedures.all.getOrElse(ident.name(), throw new IllegalArgumentException(
      s"CALL on $catalogName: no procedure '${ident.name()}' — available: " +
        procedures.all.keys.toSeq.sorted.mkString(", ")))
  }

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty)
      GraftTableCatalog.Functions.keys
        .map(n => Identifier.of(Array.empty, n)).toArray
    else Array.empty
  override def loadFunction(ident: Identifier): UnboundFunction =
    GraftTableCatalog.Functions.getOrElse(ident.name(),
      throw new NoSuchFunctionException(ident))
}

/** One [[SnapshotLog]] snapshot as a DSv2 table (version pinned at
  * load — -1 = head resolved NOW, so all scans of this handle see one
  * consistent version). Writes and deletes always target the LIVE head
  * through the log's CAS (and are refused on a time-travelled handle —
  * history is immutable). */
private[graft] final class LogTable(private[graft] val log: SnapshotLog,
    ident: Identifier, version: Long)
    extends Table with SupportsRead with SupportsWrite with SupportsDelete {
  private val snap = log.snapshot(version)

  /** The pinned travel version (-1 = live head) — what the DML rules
    * check to refuse writes against immutable history (`version()` is
    * taken by the DSv2 [[Table]] trait). */
  private[graft] def pinnedVersion: Long = version

  override def name(): String = ident.toString

  /** NULLABLE-forced: the manifest records the first writer's encoder
    * nullability (Scala primitives encode non-null), but updates may
    * legally SET any column NULL — reporting a falsely non-nullable
    * column here would make the plan's output attributes skip null
    * checks and read the slot's raw bits (0.0) instead of NULL. NOT
    * NULL-style write gates are CHECK constraints, not schema flags. */
  override def schema(): StructType =
    org.apache.spark.sql.GraftBridge.asNullable(
      if (snap.schemaJson.nonEmpty)
        DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]
      else log.read(snap.version).schema) // pre-schema manifest: one footer

  /** AUTOMATIC_SCHEMA_EVOLUTION is what makes
    * `MERGE INTO ... WITH SCHEMA EVOLUTION` work: the analyzer's own
    * ResolveMergeIntoSchemaEvolution computes the source-minus-target
    * column set, calls [[GraftTableCatalog.alterTable]] (AddColumn →
    * [[SnapshotLog.addColumn]], one metadata-only commit, nested paths
    * included) and swaps in the reloaded table — then
    * [[MergeIntoLogRule]] translates the merge against the EVOLVED
    * schema. Type changes are not part of Spark's evolution set, and
    * the log refuses them independently. */
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      // the NATIVE batch write serves every INSERT form (per-task
      // writers + RequiresDistributionAndOrdering; overwrite regions
      // route the driver commit) — V1_BATCH_WRITE is gone: declaring it
      // would force EVERY write back onto the V1 fallback (Spark
      // requires one tier per table)
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC,
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION,
      // streaming faces of the SAME table: readStream.table(...) plans
      // the change feed through LogMicroBatchStream (insert feed;
      // row-level CDC streams via format("graft-log-changes"), whose
      // schema carries the CDC columns), writeStream.toTable(...)
      // rides the native write's per-epoch txn commit
      TableCapability.MICRO_BATCH_READ,
      TableCapability.STREAMING_WRITE)

  /** Manifest facts as table properties — `DESCRIBE TABLE EXTENDED` /
    * `SHOW TBLPROPERTIES` read the log's own metadata plane (version,
    * exact rows/bytes, file count, sort order, feed flag) without
    * touching one data file. */
  override def properties(): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    m.put("format", "graft-log")
    m.put("version", snap.version.toString)
    m.put("rows", snap.rows.toString)
    m.put("bytes", snap.bytes.toString)
    m.put("files", snap.files.size.toString)
    if (snap.sortOrder.nonEmpty) m.put("sort-order", snap.sortOrder.mkString(", "))
    if (snap.cdc) m.put("change-feed", "true")
    if (snap.tombstones.nonEmpty) m.put("pending-tombstones",
      snap.tombstones.size.toString)
    if (snap.dvs.nonEmpty) m.put("pending-deletion-vectors",
      snap.dvs.size.toString)
    val checks = log.constraints()
    if (checks.nonEmpty) m.put("check-constraints",
      checks.toSeq.sortBy(_._1).map { case (n, sql) => s"$n: $sql" }
        .mkString("; "))
    m
  }

  /** Declared CHECK constraints in the V2 shape — `DESCRIBE EXTENDED`
    * renders them, and the analyzer's ResolveTableConstraints adds its
    * own pre-write validation to SQL INSERTs on top of the log's
    * staging-observation gate (two independent enforcement points, the
    * log's being authoritative: it aborts the commit). ENFORCED +
    * VALID because [[SnapshotLog.addConstraint]] refuses a violated
    * table and every committed write since was checked. */
  override def constraints(): Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    log.constraints().toSeq.sortBy(_._1).map { case (n, sql) =>
      org.apache.spark.sql.connector.catalog.constraints.Constraint
        .check(n).predicateSql(sql).enforced(true)
        .validationStatus(org.apache.spark.sql.connector.catalog.constraints
          .Constraint.ValidationStatus.VALID)
        .rely(true).build()
        : org.apache.spark.sql.connector.catalog.constraints.Constraint
    }.toArray

  /** The manifest's hidden partition spec rendered as V2 transforms —
    * DESCRIBE/SHOW surfaces, and the declared shape behind the scan's
    * reported key-grouped partitioning. */
  override def partitioning(): Array[org.apache.spark.sql.connector.expressions.Transform] =
    snap.partitionSpec.map(_.v2Transform).toArray

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new LogScanBuilder(log, snap.version, schema(), options)

  private def requireHead(verb: String): Unit =
    require(version < 0,
      s"$verb on ${log.tableDir} VERSION/TIMESTAMP AS OF is not allowed — " +
        "committed history is immutable; run DML against the head table")

  /** `INSERT INTO` / `INSERT OVERWRITE` as ONE transactional commit:
    * the V1 write fallback hands the whole batch as a DataFrame, which
    * routes through [[SnapshotLog.append]]/[[SnapshotLog.overwriteAll]]
    * — staging, CAS, hidden-partition transforms, declared sort order
    * and stats/bloom lift all apply exactly as for the typed API. (The
    * distributed-DataWriter protocol would bypass that choke point and
    * re-implement footer lifting per task for zero gain at any scale —
    * the data write inside append() is already fully distributed.) */
  /** `INSERT INTO` / `INSERT OVERWRITE` as the NATIVE DSv2 batch write
    * ([[LogAppendWrite]]): per-task parquet writers landing files
    * straight in `data/` (inert until a manifest names them), per-task
    * commit messages with exact (file, tuple, rows), and
    * `RequiresDistributionAndOrdering` reporting the table's partition
    * transforms — Spark's own write planning inserts the one
    * AQE-visible exchange, every transform resolving through this
    * catalog's function surface. The driver commit runs the SAME
    * manifest arithmetic as the typed API (append / overwriteAll /
    * fused replace_where per the SupportsOverwrite region): one
    * transactional commit, stats/bloom lift, constraint gate.
    * A STATIC partition overwrite (`INSERT OVERWRITE t PARTITION
    * (c = v)`) maps its filters through `exactRanges` to ONE
    * replace_where; an inexact region refuses loudly with the typed
    * API named, mirroring SQL DELETE's contract. */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    requireHead("INSERT")
    new WriteBuilder
        with org.apache.spark.sql.connector.write.SupportsOverwrite
        with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {
      private var mode: LogAppendWrite.Mode = LogAppendWrite.Append
      override def overwrite(filters: Array[Filter]): WriteBuilder = {
        mode = LogTable.exactRanges(filters) match {
          case Some(Nil)    => LogAppendWrite.OverwriteAll
          case Some(ranges) => LogAppendWrite.OverwriteWhere(ranges)
          case None => throw new UnsupportedOperationException(
            s"INSERT OVERWRITE on ${log.tableDir}: condition " +
              s"${filters.mkString(" AND ")} does not convert exactly to " +
              "point/range predicates — use the typed " +
              "SnapshotLog.overwriteWhere for this shape")
        }
        this
      }
      // `INSERT OVERWRITE` under partitionOverwriteMode=dynamic: swap
      // exactly the partitions the batch's tuples touch — the typed
      // overwritePartitions, SQL-reachable only through the native write
      override def overwriteDynamicPartitions(): WriteBuilder = {
        mode = LogAppendWrite.OverwriteDynamic
        this
      }
      override def build(): Write = LogAppendWrite.build(log, info, mode)
    }
  }

  /** `DELETE FROM t` (no residual condition) and `TRUNCATE TABLE t`:
    * one metadata-only commit, no data I/O at any size. */
  override def truncateTable(): Boolean = {
    requireHead("TRUNCATE")
    log.truncate()
    true
  }

  /** A condition is deletable iff it converts EXACTLY — refusing at
    * analysis beats silently deleting the wrong rows at runtime. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    version < 0 && LogTable.exactRanges(filters).isDefined

  /** `DELETE FROM ... WHERE` → the stats-targeted delete with the FULL
    * three-arm planner: only files whose recorded ranges/partition
    * tuples can match participate; provably-all-matching files drop as
    * pure manifest arithmetic, densely-matched straddlers rewrite
    * copy-on-write, sparsely-matched ones commit a positional DELETION
    * VECTOR — O(matched rows) written, the 100 TB GDPR/backfill shape.
    * SQL SELECT keeps working through the debt window because the scan
    * builder plans [[LogDebtScan]] over pending vectors (which is what
    * let this verb drop its former copy-on-write pin). Exactly
    * [[SnapshotLog.deleteWhere]]'s semantics — NULLs never match,
    * matching SQL's own `WHERE` behavior. */
  override def deleteWhere(filters: Array[Filter]): Unit = {
    requireHead("DELETE")
    LogTable.exactRanges(filters) match {
      case Some(Nil)    => log.truncate() // unconditioned DELETE FROM
      case Some(ranges) => log.deleteWhereTxn(ranges, None)
      case None => throw new UnsupportedOperationException(
        s"DELETE on ${log.tableDir}: condition ${filters.mkString(" AND ")} " +
          "does not convert exactly to point/range predicates — use the " +
          "SnapshotLog API (deleteWhere/deleteKeys) for this shape")
    }
  }
}

object GraftTableCatalog {
  /** The function-catalog surface: every hidden partition transform,
    * resolvable by Spark's storage-partitioned-join planning (scan
    * side) and by the native write's clustered distribution (write
    * side — [[LogAppendWrite]]). Each reproduces
    * [[PartitionField.writeExpr]]'s arithmetic exactly. */
  private[table] val Functions: Map[String, org.apache.spark.sql.connector
      .catalog.functions.UnboundFunction] = Map(
    "bucket" -> GraftBucketUnbound,
    "days" -> GraftDaysUnbound,
    "hours" -> GraftHoursUnbound,
    "months" -> GraftMonthsUnbound,
    "years" -> GraftYearsUnbound,
    "truncate" -> GraftTruncateUnbound)

  /** Write option a TYPED caller may set when it already clustered the
    * frame by the table's partition transforms + declared sort order
    * (`append(df, preArranged = true)` and friends) — tells the staging
    * write to skip its own repartition+sort. The SQL surface no longer
    * needs it: the native batch write's required distribution/ordering
    * puts the one exchange into Spark's own write plan. */
  val PreArrangedOption = "graft.pre-arranged"

  /** Session conf pinning the whole SQL surface to a WRITE-AUDIT-PUBLISH
    * branch: while set, `cat.t` resolves to the branch's chain for reads
    * AND every DML verb (INSERT/OVERWRITE/DELETE/UPDATE/MERGE/TRUNCATE),
    * so the full WAP loop — write, audit, corrective writes, publish —
    * runs in pure SQL while MAIN stays untouched until
    * `CALL system.publish_branch`. The branch must exist
    * (`CALL system.create_branch`) — a typo'd name refuses loudly
    * instead of silently writing main. Time travel
    * (`VERSION/TIMESTAMP AS OF`) keeps addressing MAIN's history; the
    * explicit `VERSION AS OF 'branch:x'` spelling reads any branch
    * regardless of this conf. */
  val WapBranchConf = "spark.graft.wap.branch"

  /** The log handle the SQL surface should resolve `tableDir` to: the
    * session's WAP branch when [[WapBranchConf]] is set, else main.
    * Used by [[GraftTableCatalog.loadTable]] AND re-resolved at
    * execution by the DML commands ([[UpdateLogCommand]] /
    * [[MergeClausesLogCommand]]) so a
    * command planned under the conf cannot escape to main. */
  private[graft] def sessionLog(spark: SparkSession,
      tableDir: String): SnapshotLog = {
    val main = SnapshotLog.inheriting(spark, tableDir)
    val wap = spark.conf.get(WapBranchConf, "")
    if (wap.isEmpty) main else main.branch(wap)
  }
}

private[graft] object LogTable {
  /** DSv2 delete filters → EXACT `(column, lo, hi)` conjunction:
    * Some(ranges) iff deleting rows matching the ranges is semantically
    * identical to the SQL condition (unlike [[LogScanBuilder.boundsOf]],
    * which may widen — widening prunes soundly but would DELETE too
    * much). Accepted leaves: `EqualTo` (a point), `>=`/`<=` pairs that
    * close a range, `AlwaysTrue` (the unconditioned delete →
    * Some(Nil)), and `IsNotNull` on a column that also carries a closed
    * range (implied — range predicates never match NULL). Anything
    * else — strict bounds, one-sided ranges, IN, OR, functions — is
    * None: refused loudly at analysis. */
  private[graft] def exactRanges(filters: Array[Filter]): Option[Seq[(String, Any, Any)]] = {
    def leaves(f: Filter): Seq[Filter] = f match {
      case And(l, r) => leaves(l) ++ leaves(r)
      case other     => Seq(other)
    }
    val ls = filters.flatMap(leaves).toSeq
      .filterNot(_.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue])
    val points = collection.mutable.Map.empty[String, List[Any]]
    val lo = collection.mutable.Map.empty[String, List[Any]]
    val hi = collection.mutable.Map.empty[String, List[Any]]
    val notNull = collection.mutable.Set.empty[String]
    val ok = ls.forall {
      case EqualTo(c, v) if v != null =>
        points(c) = v :: points.getOrElse(c, Nil); true
      // null-safe equality against a NON-NULL literal is plain equality
      // (the static partition-overwrite spelling produces this shape)
      case EqualNullSafe(c, v) if v != null =>
        points(c) = v :: points.getOrElse(c, Nil); true
      case GreaterThanOrEqual(c, v) if v != null =>
        lo(c) = v :: lo.getOrElse(c, Nil); true
      case LessThanOrEqual(c, v) if v != null =>
        hi(c) = v :: hi.getOrElse(c, Nil); true
      case IsNotNull(c) => notNull += c; true
      case _ => false
    }
    if (!ok) return None
    // one shape per column, unambiguously: EITHER a single point, OR
    // exactly one >= paired with exactly one <=. Catalyst's own
    // simplification produces these shapes for real conditions; anything
    // it didn't fold (duplicate/mixed bounds) is refused rather than
    // approximated.
    val cols = (points.keySet ++ lo.keySet ++ hi.keySet).toSeq
    val ranges = cols.map { c =>
      (points.getOrElse(c, Nil), lo.getOrElse(c, Nil), hi.getOrElse(c, Nil)) match {
        case (List(v), Nil, Nil)     => Some((c, v, v))
        case (Nil, List(l), List(h)) => Some((c, l, h))
        case _                       => None
      }
    }
    // IsNotNull is implied only where a range/point also binds the column
    if (ranges.exists(_.isEmpty) || !notNull.forall(cols.contains)) None
    else Some(ranges.flatten)
  }
}

/** Pushdown-aware scan builder: filters prune FILES from the manifest
  * (and row groups inside Spark's parquet scan); columns prune the read
  * schema. All filters are returned as residuals — exactness is always
  * Spark's, the manifest only removes I/O. */
/** The staged CTAS/RTAS table ([[GraftTableCatalog.stageCreate]]):
  * accepts the native batch write under the DECLARED shape (partition
  * transforms cluster the exchange, CHECKs from the declaration gate
  * rows) with the driver commit stashed here instead of published —
  * `commitStagedChanges` then makes the table exist in ONE commit
  * whose v1 carries both the declared shape and the written files. */
private[graft] final class StagedLogTable(catalog: GraftTableCatalog,
    ident: Identifier,
    info: org.apache.spark.sql.connector.catalog.TableInfo,
    existed: Boolean)
    extends org.apache.spark.sql.connector.catalog.StagedTable
    with SupportsWrite {

  private val spark = SparkSession.active
  private val (log, declaredSpec, declaredSort) =
    catalog.declaredLog(ident, info.schema(), info.partitions(),
      info.properties())
  private val declaredChecks: Map[String, String] =
    info.constraints().collect {
      case c: org.apache.spark.sql.connector.catalog.constraints.Check =>
        c.name() -> c.predicateSql()
    }.toMap

  /** The staged write's validated output — files are on disk (inert),
    * named by no manifest until [[commitStagedChanges]]. */
  @volatile private var pending
      : Option[(Seq[(String, Seq[String], Long)], StructType)] = None

  override def name(): String = ident.toString
  override def schema(): StructType = info.schema()
  override def partitioning(): Array[Transform] = info.partitions()
  override def properties(): java.util.Map[String, String] = info.properties()
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE)

  override def newWriteBuilder(winfo: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder
        with org.apache.spark.sql.connector.write.SupportsTruncate {
      // RTAS plans a truncate/overwrite against the staged table; the
      // REPLACE itself is the staged publish, so the builder shape is
      // irrelevant — accept and stash either way
      override def truncate(): WriteBuilder = this
      override def build(): Write = LogAppendWrite.build(log, winfo,
        LogAppendWrite.Stash((files, ws) => pending = Some((files, ws))),
        shapeOverride = Some((declaredSpec, declaredSort)),
        checksOverride = Some(declaredChecks))
    }

  override def commitStagedChanges(): Unit = {
    val (files, writeSchema) = pending match {
      case Some((f, ws)) => (f, ws)
      case None => (Nil, info.schema()) // plain REPLACE TABLE (no AS)
    }
    if (existed) {
      // ATOMIC REPLACE: render the replacement's complete v1 manifest
      // and make it durable under the pending marker BEFORE anything is
      // destroyed — a crash anywhere between the clear and the promote
      // is recovered by SnapshotLog.currentVersion's pending-replace
      // promotion, so the old drop-then-commit ordering's lost-table
      // window is gone
      val bytes = log.replacementV1Bytes(files, writeSchema.json,
        declaredSpec, declaredChecks)
      log.publishPendingReplace(bytes)
      log.clearForReplace(files.map(_._1).toSet)
      // fresh handle: the staged one parsed the OLD manifest chain
      val (fresh, _, _) = catalog.declaredLog(ident, info.schema(),
        info.partitions(), info.properties())
      fresh.promotePendingReplace(bytes)
      // post-publish constraint failure must NOT drop the committed
      // replacement — the replace happened; surface the attach error
      // with the table intact (the atomic-replace contract)
      catalog.attachConstraints(fresh, ident, info.schema(),
        info.constraints())
    } else {
      // CREATE: the publish must land as VERSION 1 in one CAS attempt —
      // of two concurrent staged CTAS exactly one wins the fresh slot;
      // the retrying append loop would land the loser as a v2 append,
      // silently merging two CTAS result sets
      if (log.commitNativeCreate(files, writeSchema.json, declaredSpec,
          declaredChecks).isEmpty)
        throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(ident)
      try catalog.attachConstraints(log, ident, info.schema(),
        info.constraints())
      catch { case e: Throwable => catalog.dropTable(ident); throw e }
    }
  }

  override def abortStagedChanges(): Unit =
    // the write's own abort already deleted its task files; for a
    // CREATE the directory holds nothing named — remove it entirely.
    // For a REPLACE the old table is untouched (that is the atomicity
    // win) — leave it.
    if (!existed) { catalog.dropTable(ident); () }
}

private[graft] final class LogScanBuilder(log: SnapshotLog, version: Long,
    dataSchema: StructType,
    options: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty())
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = dataSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters
    filters // everything stays residual: the gate must never drop rows
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Debt-free snapshots (the steady state) plan the vectorized
    * [[LogBatchScan]]; a snapshot carrying merge-on-read debt — key
    * tombstones, deletion vectors, or files from a pre-rename schema
    * epoch — plans [[LogDebtScan]], which keeps the manifest FILE
    * pruning and composes the debt (anti-joins, position filters,
    * field-id alignment) on the survivors. SELECT works either way;
    * maintenance draining the debt restores the vectorized path. */
  override def build(): Scan = {
    val s = log.snapshot(version)
    if (s.tombstones.isEmpty && s.dvs.isEmpty && s.fileSchemaIdx.isEmpty)
      new LogBatchScan(log, version, dataSchema, required, pushed, options)
    else {
      // Spark 4.1 pushes NESTED-pruned struct shapes through
      // pruneColumns (e.g. `SELECT info.bal` → `info: struct<bal>`),
      // but the V1 bridge serves whole top-level columns — the composed
      // debt plan returns full structs. Re-resolve each required
      // top-level name to its FULL type from dataSchema so readSchema()
      // matches the rows buildScan produces; Spark's projection above
      // the scan extracts the nested fields. Top-level pruning is kept.
      val topLevel = StructType(required.fields.map(f => dataSchema(f.name)))
      new LogDebtScan(log, version, topLevel, pushed, options)
    }
  }
}

private[graft] object LogScanStream {
  /** The `readStream.table("cat.t")` face of the change feed: the SAME
    * [[graft.streaming.LogMicroBatchStream]] the provider format plans,
    * parameterized by the scan options (`startingVersion`,
    * `skipChangeCommits`, `maxVersionsPerTrigger`, `maxFilesPerTrigger`).
    * Row-level CDC mode is refused here — the relation's columns come
    * from the TABLE's schema, which has no `_change_type` — and routed
    * to `format("graft-log-changes")`, whose declared schema carries
    * the CDC columns. */
  def microBatch(log: SnapshotLog, pinned: StructType,
      options: CaseInsensitiveStringMap,
      checkpointLocation: String): graft.streaming.LogMicroBatchStream = {
    import graft.streaming.LogChangeFeed
    require(!LogChangeFeed.flag(options, "readChangeFeed") &&
      !LogChangeFeed.flag(options, "fourTypeCdc"),
      "readStream.table streams the INSERT feed (the table's own " +
        "columns); for the row-level CDC feed use " +
        "readStream.format(\"graft-log-changes\").option(\"path\", ...)" +
        ".option(\"readChangeFeed\", \"true\")")
    LogChangeFeed.stream(log.session, log.tableDir, pinned, options,
      checkpointLocation)
  }
}

/** The merge-on-read scan: serves a snapshot with PENDING debt (key
  * tombstones / deletion vectors / rename epochs) through the V1 scan
  * bridge — the file list is still manifest-pruned by the pushed
  * conjunction (sound: debt only REMOVES rows, so a file the stats
  * gate drops cannot hold a surviving match; per-file stats are
  * epoch-translated inside the gate), and the row stream is the SAME
  * composed plan the typed [[SnapshotLog.read]] builds (tombstone
  * anti-joins, DV position filters, field-id alignment), restricted
  * to the surviving files. Every pushed filter stays residual — Spark
  * re-applies it above the bridge, so pruning only ever removes I/O.
  *
  * The V1 row bridge costs one Row↔InternalRow conversion at the scan
  * boundary (the parquet reads INSIDE the composed plan stay
  * vectorized); that is the deliberate price of serving reads during
  * the debt window — maintenance ([[SnapshotLog.compact]] /
  * `materializeDeletes` / `materializeRenames`) drains the debt and
  * the table returns to [[LogBatchScan]]'s codegen path. Statistics
  * report pruned-set BYTES only: physical row counts over-count
  * tombstoned/DV'd rows, and a wrong exact row count is worse for
  * join planning than none. */
private[graft] final class LogDebtScan(private val log: SnapshotLog,
    private val version: Long, private val required: StructType,
    private val pushed: Array[Filter],
    scanOptions: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty())
    extends org.apache.spark.sql.connector.read.V1Scan
    with SupportsReportStatistics {

  /** Streaming reads don't prune, so `required` is the full committed
    * schema here; the feed reads delta files RAW (debt never applies to
    * at-commit-time feed rows), so a debt snapshot streams fine. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    LogScanStream.microBatch(log, required, scanOptions, checkpointLocation)

  /** Manifest-pruned survivors; pinned by specs (same observability
    * contract as [[LogBatchScan.plannedFiles]]). */
  private[graft] val plannedFiles: Seq[String] =
    log.filesMatching(LogScanBuilder.boundsOf(pushed), version)

  override def readSchema(): StructType = required

  override def toV1TableScan[T <: org.apache.spark.sql.sources.BaseRelation
      with org.apache.spark.sql.sources.TableScan](
      context: org.apache.spark.sql.SQLContext): T =
    new org.apache.spark.sql.sources.BaseRelation
        with org.apache.spark.sql.sources.TableScan {
      override def sqlContext: org.apache.spark.sql.SQLContext = context
      override def schema: StructType = required
      override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
        log.readFiles(version, plannedFiles)
          .select(required.fieldNames.toSeq.map(
            org.apache.spark.sql.functions.col): _*)
          .rdd
    }.asInstanceOf[T]

  override def description(): String =
    s"graft-log(debt) ${log.tableDir} v$version files=${plannedFiles.size} " +
      s"pushed=${pushed.mkString(", ")}"

  override def estimateStatistics(): Statistics = {
    val s = log.snapshot(version)
    val bytes: java.util.OptionalLong =
      if (plannedFiles.forall(s.fileBytes.contains))
        java.util.OptionalLong.of(plannedFiles.map(s.fileBytes).sum)
      else java.util.OptionalLong.empty()
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong = bytes
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.empty()
    }
  }

  override def equals(other: Any): Boolean = other match {
    case o: LogDebtScan =>
      o.log.tableDir == log.tableDir && o.version == version &&
        o.plannedFiles == plannedFiles && o.pushed.toSeq == pushed.toSeq &&
        o.required == required
    case _ => false
  }
  override def hashCode(): Int =
    (log.tableDir, version, plannedFiles, pushed.toSeq, required).hashCode()
}

/** The scan the manifest plans: Spark's vectorized parquet batch over
  * the pruned file list, wrapped so the OPTIMIZER sees the manifest
  * too — two scale features the stock `ParquetScan` cannot provide:
  *
  *  - '''Exact statistics''' ([[SupportsReportStatistics]]): `numRows`
  *    is the manifest's per-file exact row counts summed over the kept
  *    set, `sizeInBytes` their on-disk bytes — so AQE/CBO broadcast a
  *    small log table on the SQL path instead of guessing from the
  *    session default, and dynamic-pruning benefit estimation has real
  *    numbers. (The stock `FileScan` estimate is bytes-only; row counts
  *    are what join planning actually wants.)
  *  - '''Runtime file pruning''' ([[SupportsRuntimeV2Filtering]]): when
  *    dynamic partition pruning materializes the other join side, Spark
  *    hands the surviving key set here BEFORE any fact file opens;
  *    [[SnapshotLog.filesMatchingKeys]] re-gates the file list through
  *    range stats + key blooms + bucket/partition tuples, so a
  *    fact-dim join reads only the fact files that can hold the dim's
  *    keys — the classic 100 TB star-join I/O win, with zero risk:
  *    every pushed and runtime filter stays residual (Spark re-applies
  *    it exactly), the gate only ever REMOVES I/O.
  *
  * Parsing the runtime predicate is defensive by construction: only
  * single-column `IN`/`=` shapes with literal children convert
  * (Catalyst-internal values back to Scala via the public converter);
  * anything else — or a key set past [[LogBatchScan.MaxRuntimeKeys]],
  * where O(keys x files) driver compares stop paying — degrades to
  * no-op, never to a dropped row. `toBatch` rebuilds the delegate over
  * the CURRENT file list because Spark calls it again after
  * `filter(...)` (that re-plan IS the pruning taking effect). */
private[graft] final class LogBatchScan(private val log: SnapshotLog,
    private val version: Long, private val dataSchema: StructType,
    private val required: StructType, private val pushed: Array[Filter],
    scanOptions: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty())
    extends Scan with SupportsReportStatistics with SupportsRuntimeV2Filtering
    with SupportsReportPartitioning {

  /** `readStream.table(...)`: the insert feed as the DSv2 micro-batch
    * stream, pinned to the table's full committed schema (streaming
    * scans are not column-pruned). */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    LogScanStream.microBatch(log, dataSchema, scanOptions, checkpointLocation)

  private val initialKept: Seq[String] =
    log.filesMatching(LogScanBuilder.boundsOf(pushed), version)
  /** The current (post-runtime-filter) file list; spec observability. */
  @volatile private[graft] var plannedFiles: Seq[String] = initialKept

  override def readSchema(): StructType = required

  /** One Batch per (post-runtime-filter) file list: Spark re-reads
    * `BatchScanExec.batch` on every physical-plan copy (columnar rules,
    * AQE re-planning), and each rebuild re-ran the file-index
    * construction — for q55's two 80-file SPJ sides that was six extra
    * 80-task listing jobs per executed query (r17). Keyed on the file
    * list so a runtime-filter mutation of [[plannedFiles]] still gets a
    * fresh Batch, never a stale one. */
  @volatile private var batchCache: (Seq[String], Batch) = null

  override def toBatch: Batch = {
    val files = plannedFiles
    val cached = batchCache
    if (cached != null && cached._1 == files) cached._2
    else {
      val dataDir = new Path(log.tableDir, SnapshotLog.DataDirName)
      def path(f: String) = new Path(dataDir, f).toString
      // exact on-disk sizes from the manifest (recorded at commit) let
      // the scan build its file index with ZERO filesystem listing
      val sizes: Map[String, Long] = {
        val bytes = log.snapshot(version).fileBytes
        files.flatMap(f => bytes.get(f).map(b => path(f) -> b)).toMap
      }
      val b = spjGroups(files) match {
        case Some(groups) =>
          org.apache.spark.sql.GraftBridge.keyedParquetBatch(log.session,
            dataSchema, required, pushed,
            groups.map { case (k, fs) => (k, fs.map(path)) }, sizes)
        case None =>
          org.apache.spark.sql.GraftBridge.parquetBatchScan(log.session,
            files.map(path), dataSchema, required, pushed, sizes).toBatch
      }
      batchCache = (files, b)
      b
    }
  }

  /** STORAGE-PARTITIONED JOIN: when every spec field is a bucket
    * transform and every planned file carries a current-spec tuple, the
    * scan reports `KeyGroupedPartitioning(bucket(N, col), #groups)` and
    * plans one keyed partition group per bucket — two log tables
    * bucketed the same way on their join keys then join with ZERO
    * shuffle (Spark aligns the groups by partition value;
    * `spark.sql.sources.v2.bucketing.enabled` gates the planner side).
    * Anything irregular — a non-bucket field, an old-spec file, a
    * missing/unparseable tuple — degrades to `UnknownPartitioning`
    * (the ordinary shuffle join), never to a wrong plan. */
  override def outputPartitioning(): Partitioning =
    spjGroups(plannedFiles) match {
      case Some(groups) =>
        val s = log.snapshot(version)
        new KeyGroupedPartitioning(
          s.partitionSpec.map(pf => pf.v2Transform:
            org.apache.spark.sql.connector.expressions.Expression).toArray,
          groups.size)
      case None => new UnknownPartitioning(0)
    }

  /** `files` grouped by their partition tuple, each value decoded to
    * the TYPED key the catalog's transform function produces for the
    * same row ([[PartitionField.keyDecoder]] — int buckets, long epoch
    * days/hours/months/years, column-typed identity/truncate keys) —
    * Some only when the whole planned set sits under the CURRENT spec
    * with decodable tuples. Storage-partitioned execution then aligns
    * this scan's groups with any co-partitioned sibling: day-aligned
    * fact-fact joins move ZERO rows, same as bucket joins. A tuple
    * carrying the Hive NULL marker degrades to UnknownPartitioning —
    * sound, never wrong (bucket/time transforms never write it; only
    * identity/truncate over a nullable source can). */
  private def spjGroups(files: Seq[String])
      : Option[Seq[(InternalRow, Seq[String])]] = {
    val s = log.snapshot(version)
    val spec = s.partitionSpec
    if (files.isEmpty || spec.isEmpty) return None
    if (files.exists(f => s.specOf(f) != spec)) return None
    val schema: Option[StructType] =
      if (s.schemaJson.isEmpty) None
      else Some(DataType.fromJson(s.schemaJson).asInstanceOf[StructType])
    val decoders = spec.map { pf =>
      pf.keyDecoder(schema.flatMap(
        _.fields.find(_.name == pf.source)).map(_.dataType))
    }
    if (decoders.exists(_.isEmpty)) return None
    val ds = decoders.flatten
    val parsed = files.map { f =>
      s.partitions.get(f).filter(_.size == spec.size)
        .filterNot(_.contains(PartitionField.NullPartition))
        .flatMap(t => scala.util.Try(
          t.zip(ds).map { case (v, d) => d(v) }).toOption)
        .map(f -> _)
    }
    if (parsed.exists(_.isEmpty)) return None
    Some(parsed.flatten.groupBy(_._2).toSeq.map { case (tuple, fs) =>
      (new GenericInternalRow(tuple.toArray[Any]): InternalRow,
        fs.map(_._1))
    })
  }

  override def description(): String =
    s"graft-log ${log.tableDir} v$version " +
      s"files=${plannedFiles.size}/${initialKept.size} " +
      s"pushed=${pushed.mkString(", ")}"

  override def estimateStatistics(): Statistics = {
    val s = log.snapshot(version)
    val kept = plannedFiles
    val rows: java.util.OptionalLong =
      if (kept.forall(s.fileRows.contains))
        java.util.OptionalLong.of(kept.map(s.fileRows).sum)
      else java.util.OptionalLong.empty()
    val bytes: java.util.OptionalLong =
      if (kept.forall(s.fileBytes.contains))
        java.util.OptionalLong.of(kept.map(s.fileBytes).sum)
      else java.util.OptionalLong.empty()
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong = bytes
      override def numRows(): java.util.OptionalLong = rows
    }
  }

  /** Columns the manifest can gate point sets on — recorded range
    * stats, key blooms, and partition-transform sources — intersected
    * with the scan output (a filter attribute Spark cannot resolve
    * against the relation would fail analysis; a join key is always in
    * the output anyway). */
  override def filterAttributes(): Array[NamedReference] = {
    val s = log.snapshot(version)
    val out = required.fieldNames.toSet
    (s.stats.valuesIterator.flatMap(_.keys) ++
      s.blooms.valuesIterator.flatMap(_.keys) ++
      (s.priorSpecs :+ s.partitionSpec).flatten.map(_.source).iterator)
      .toSeq.distinct.filter(out)
      .map(Expressions.column).toArray
  }

  override def filter(predicates: Array[V2Predicate]): Unit = try {
    var kept = plannedFiles
    predicates.foreach(p => pointSetOf(p).foreach { case (column, keys) =>
      if (keys.isEmpty || keys.size <= LogBatchScan.MaxRuntimeKeys) {
        // empty = IN over an empty/all-NULL set: provably no match
        val ok = log.filesMatchingKeys(column, keys, version).toSet
        kept = kept.filter(ok)
      } // oversized key set: the gate stops paying — sound no-op
    })
    plannedFiles = kept
  } catch {
    // an unconvertible value/type can only lose the PRUNING, never
    // correctness (the runtime filter is re-applied at the join)
    case scala.util.control.NonFatal(_) => ()
  }

  /** `IN`/`=` over one column with literal children → the external
    * key set; None (no pruning contribution) for every other shape. */
  private def pointSetOf(p: V2Predicate): Option[(String, Seq[Any])] =
    p.name() match {
      case "IN" | "=" => p.children().toSeq match {
        case (ref: NamedReference) +: rest if rest.nonEmpty &&
            ref.fieldNames().length == 1 &&
            rest.forall(_.isInstanceOf[V2Literal[_]]) =>
          val keys = rest.map { case l: V2Literal[_] =>
            org.apache.spark.sql.catalyst.CatalystTypeConverters
              .convertToScala(l.value, l.dataType)
          }.filter(_ != null) // NULL never equals: contributes no key
          Some(ref.fieldNames()(0) -> keys)
        case _ => None
      }
      case _ => None
    }

  // value equality over the planned inputs (runtime-filter state stays
  // out: two scans that planned identically may reuse one exchange)
  override def equals(other: Any): Boolean = other match {
    case o: LogBatchScan =>
      o.log.tableDir == log.tableDir && o.version == version &&
        o.initialKept == initialKept && o.pushed.toSeq == pushed.toSeq &&
        o.required == required
    case _ => false
  }
  override def hashCode(): Int =
    (log.tableDir, version, initialKept, pushed.toSeq, required).hashCode()
}

private[graft] object LogBatchScan {
  /** Past this many runtime keys the O(keys x files) driver gate (and
    * the per-key bloom probes) cost more than the I/O they save —
    * degrade to the already-planned file list. */
  val MaxRuntimeKeys = 10000
}

private[graft] object LogScanBuilder {
  /** DSv2 filters → the closed `(column, lo, hi)` ranges the manifest
    * gate prunes on. Only PROVABLY bounded shapes convert — a point
    * predicate, an IN list (its min/max envelope — sound for stats,
    * and the bucket gate keeps everything on a non-point range), or a
    * both-sided range from the conjunction; strict bounds are taken
    * inclusively (conservative: keeps files, never drops rows).
    * Everything else contributes no pruning — absence degrades to a
    * full file list, exactly the contract of the typed read surfaces. */
  private[graft] def boundsOf(filters: Array[Filter]): Seq[(String, Any, Any)] = {
    def leaves(f: Filter): Seq[Filter] = f match {
      case And(l, r) => leaves(l) ++ leaves(r)
      case other     => Seq(other)
    }
    val lo = collection.mutable.Map.empty[String, Any]
    val hi = collection.mutable.Map.empty[String, Any]
    val point = collection.mutable.Map.empty[String, (Any, Any)]
    filters.flatMap(leaves).foreach {
      case EqualTo(c, v) if v != null       => point(c) = (v, v)
      case EqualNullSafe(c, v) if v != null => point(c) = (v, v)
      case In(c, vs) if vs.nonEmpty && !vs.contains(null) =>
        // the IN list's numeric envelope (lexical keys skip pruning);
        // exact per-key gating stays on readKeys
        scala.util.Try {
          val sorted = vs.sortWith((a, b) => ColRange.num(a) < ColRange.num(b))
          point(c) = (sorted.head, sorted.last)
        }
      case GreaterThan(c, v) if v != null        => lo(c) = v
      case GreaterThanOrEqual(c, v) if v != null => lo(c) = v
      case LessThan(c, v) if v != null           => hi(c) = v
      case LessThanOrEqual(c, v) if v != null    => hi(c) = v
      case _ => () // unbounded / disjunctive: no pruning contribution
    }
    val ranges = (lo.keySet intersect hi.keySet).toSeq
      .map(c => (c, lo(c), hi(c)))
    (point.toSeq.map { case (c, (l, h)) => (c, l, h) } ++ ranges).distinct
  }
}
