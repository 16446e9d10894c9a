package graft

import graft.table.{GraftTableCatalog, SnapshotLog}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** [[GraftTableCatalog]] — the DSv2 SQL surface of the log format:
  * identifier→directory resolution, manifest-pruned + Spark-executed
  * scans, filter/column pushdown, `VERSION AS OF` time travel, the
  * read-only contract, and the merge-on-read debt scan. */
class DsV2CatalogSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  /** A root with one committed table `t1`: two clustered single-file
    * appends ([0,9] and [1000,1009]) with id stats. */
  private def freshRoot(): (String, SnapshotLog) = {
    val root = Files.createTempDirectory("graft-dsv2-").toString
    val log = SnapshotLog(spark, s"$root/t1", statsColumns = Seq("id"))
    log.append((0 until 10).map(i => (i.toLong, s"a$i")).toDF("id", "v").coalesce(1))
    log.append((1000 until 1010).map(i => (i.toLong, s"b$i")).toDF("id", "v").coalesce(1))
    (root, log)
  }

  private var n = 0
  private def mount(root: String): String = {
    n += 1
    val cat = s"gtest$n" // fresh name: CatalogManager caches per name
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftTableCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    cat
  }

  test("SQL over the catalog: correct rows, file pruning from pushed filters") {
    val (root, log) = freshRoot()
    val cat = mount(root)
    val df = spark.sql(s"SELECT id, v FROM $cat.t1 WHERE id BETWEEN 1000 AND 1004")
    assert(df.as[(Long, String)].collect().sorted.toSeq ==
      (1000L until 1005L).map(i => (i, s"b$i")))
    // the manifest gate kept exactly the one file whose stats admit the range
    assert(log.filesMatching(Seq(("id", 1000L, 1004L))).size == 1)
    // and the BUILT scan plans exactly that file
    val builder = new graft.table.LogScanBuilder(log, log.currentVersion(),
      log.read().schema)
    import org.apache.spark.sql.sources.{And, GreaterThanOrEqual, LessThanOrEqual}
    builder.pushFilters(Array(
      And(GreaterThanOrEqual("id", 1000L), LessThanOrEqual("id", 1004L))))
    val scan = builder.build().asInstanceOf[graft.table.LogBatchScan]
    assert(scan.plannedFiles.length == 1,
      s"the scan must read ONE pruned file, got ${scan.plannedFiles.length}")
    assert(scan.toBatch.planInputPartitions().nonEmpty)
    // column pruning reaches the scan
    val narrow = spark.sql(s"SELECT v FROM $cat.t1 WHERE id = 3")
    assert(narrow.collect().map(_.getString(0)).toSeq == Seq("a3"))
  }

  test("VERSION AS OF pins the snapshot; head sees later commits") {
    val (root, log) = freshRoot()
    val cat = mount(root)
    log.deleteBetween("id", 0, 4) // v3: CoW delete
    assert(spark.sql(s"SELECT count(*) FROM $cat.t1").head().getLong(0) == 15)
    assert(spark.sql(s"SELECT count(*) FROM $cat.t1 VERSION AS OF 2")
      .head().getLong(0) == 20)
    // the versions compose in one query
    val gone = spark.sql(
      s"""SELECT a.id FROM $cat.t1 VERSION AS OF 2 a
         |LEFT ANTI JOIN $cat.t1 h ON a.id = h.id
         |ORDER BY a.id""".stripMargin)
    assert(gone.as[Long].collect().toSeq == (0L to 4L))
  }

  test("TIMESTAMP AS OF: commit clocks resolve versions; SQL travels by time") {
    val (root, log) = freshRoot() // v1, v2 just committed
    val betweenAppends = System.currentTimeMillis()
    Thread.sleep(15) // commit clocks are millis; separate the next commit
    log.deleteBetween("id", 0, 4) // v3
    val afterDelete = System.currentTimeMillis()
    // versionAt picks the latest commit at-or-before the instant
    assert(log.versionAt(betweenAppends) == 2)
    assert(log.versionAt(afterDelete) == 3)
    assert(intercept[IllegalArgumentException] { log.versionAt(0L) }
      .getMessage.contains("no retained version"))
    // the SQL surface: session tz is UTC, so a UTC-rendered literal
    // round-trips to the same instant
    val cat = mount(root)
    val lit = java.time.Instant.ofEpochMilli(betweenAppends).toString
    assert(spark.sql(
      s"SELECT count(*) FROM $cat.t1 TIMESTAMP AS OF '$lit'")
      .head().getLong(0) == 20, "pre-delete instant must see 20 rows")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t1").head().getLong(0) == 15)
  }

  test("listTables finds committed tables only; loads fail on missing tables") {
    val (root, _) = freshRoot()
    // a bare directory with no committed manifest is not a table
    Files.createDirectories(java.nio.file.Paths.get(root, "not_a_table"))
    val cat = mount(root)
    assert(spark.sql(s"SHOW TABLES IN $cat").collect()
      .map(_.getString(1)).toSeq == Seq("t1"))
    assert(intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.not_a_table").collect()
    }.getMessage.toLowerCase.contains("table"))
  }

  test("pending tombstones: the SQL scan serves the typed read's rows; compaction restores codegen") {
    val (root, log) = freshRoot()
    val cat = mount(root)
    log.deleteKeys("id", Seq(3L).toDF("id"))
    // the first thing a SQL user does after a typed deleteKeys must
    // WORK: the debt scan composes the tombstone anti-join
    assert(spark.sql(s"SELECT count(*) FROM $cat.t1").head().getLong(0) == 19)
    assert(spark.sql(s"SELECT id, v FROM $cat.t1 ORDER BY id").collect().toSeq ==
      log.read().orderBy("id").collect().toSeq,
      "debt scan == typed read, row for row")
    // manifest pruning still engages under debt: only the file whose
    // stats admit the range is planned
    val b = new graft.table.LogScanBuilder(log, log.currentVersion(),
      log.read().schema)
    import org.apache.spark.sql.sources.{And, GreaterThanOrEqual, LessThanOrEqual}
    b.pushFilters(Array(
      And(GreaterThanOrEqual("id", 1000L), LessThanOrEqual("id", 1004L))))
    val debt = b.build().asInstanceOf[graft.table.LogDebtScan]
    assert(debt.plannedFiles.length == 1,
      s"debt scan must keep manifest pruning, planned ${debt.plannedFiles}")
    log.compact()
    assert(spark.sql(s"SELECT count(*) FROM $cat.t1").head().getLong(0) == 19)
    // drained debt returns the vectorized batch path
    val b2 = new graft.table.LogScanBuilder(log, log.currentVersion(),
      log.read().schema)
    assert(b2.build().isInstanceOf[graft.table.LogBatchScan])
  }

  test("pending deletion vectors: the SQL scan applies positions; SQL DELETE stays CoW-readable") {
    val (root, log) = freshRoot()
    val cat = mount(root)
    // typed-API sparse delete → vector; the debt scan composes the
    // position anti-join, so SELECT keeps working during the window
    log.deleteBetween("id", 3L, 3L)
    assert(log.snapshot().dvs.nonEmpty, "precondition: the delete vectored")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t1").head().getLong(0) == 19)
    assert(spark.sql(s"SELECT sum(id) FROM $cat.t1 WHERE id < 100")
      .head().getLong(0) == (0L until 10L).sum - 3L)
    log.materializeDeletes()
    assert(spark.sql(s"SELECT count(*) FROM $cat.t1").head().getLong(0) == 19)
    // SQL DELETE runs the full auto planner: a sparse match commits a
    // deletion vector (O(matched rows), no rewrite) and the table stays
    // SQL-readable through the debt scan
    spark.sql(s"DELETE FROM $cat.t1 WHERE id = 1005")
    assert(log.snapshot().dvs.nonEmpty,
      "a 1-of-10 match must take the deletion-vector arm")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t1").head().getLong(0) == 18)
    assert(spark.sql(s"SELECT count(*) FROM $cat.t1 WHERE id = 1005")
      .head().getLong(0) == 0, "the vectored row must not resurrect in SQL")
  }

  test("debt scan under nested pruning: struct field selects return the right members") {
    // Spark 4.1 pushes nested-pruned struct shapes through pruneColumns
    // (SELECT info.bal → required carries info: struct<bal> only); the
    // V1 debt bridge serves whole top-level columns, so the scan must
    // re-declare the FULL struct type or the positional Row conversion
    // misaligns members (bal would read nm's value or throw)
    val root = Files.createTempDirectory("graft-dsv2-nest-").toString
    val log = SnapshotLog(spark, s"$root/t1", statsColumns = Seq("id"))
    log.append(Seq((1L, "x1", 10.0), (2L, "x2", 20.0), (3L, "x3", 30.0))
      .toDF("id", "nm", "bal")
      .select(col("id"),
        org.apache.spark.sql.functions.struct(col("nm"), col("bal"))
          .as("info")).coalesce(1))
    log.deleteKeys("id", Seq(2L).toDF("id")) // tombstone debt → LogDebtScan
    val cat = mount(root)
    assert(spark.sql(s"SELECT info.bal FROM $cat.t1 ORDER BY info.bal")
      .as[Double].collect().toSeq == Seq(10.0, 30.0))
    assert(spark.sql(s"SELECT id, info.nm FROM $cat.t1 ORDER BY id")
      .as[(Long, String)].collect().toSeq == Seq((1L, "x1"), (3L, "x3")))
    // whole-struct reads and mixed selects stay correct too
    assert(spark.sql(s"SELECT info FROM $cat.t1 WHERE id = 1")
      .select("info.nm", "info.bal").as[(String, Double)].head() ==
      (("x1", 10.0)))
  }

  test("native INSERT: Spark plans the write exchange from the required distribution; one file per bucket") {
    val (root, _) = freshRoot()
    val cat = mount(root)
    spark.sql(
      s"""CREATE TABLE $cat.tb (id BIGINT, v STRING)
         |PARTITIONED BY (bucket(4, id))
         |TBLPROPERTIES ('sort-order'='id', 'stats-columns'='id')""".stripMargin)
    spark.range(0, 100, 1, 8).createOrReplaceTempView("dist_src")
    // plan pin: the PHYSICAL write plan carries the exchange Spark
    // inserted from LogAppendWrite's RequiresDistributionAndOrdering —
    // clustering by the catalog-resolved bucket function, sorted within
    // partitions, with NO extension rule involved (this is a plain
    // session; the former InsertArrangeRule is retired)
    val explained = spark.sql(s"EXPLAIN FORMATTED INSERT INTO $cat.tb " +
      "SELECT id, CAST(id AS STRING) AS v FROM dist_src")
      .head().getString(0)
    assert(explained.contains("Exchange") && explained.contains("Sort") &&
      explained.contains("hashpartitioning") &&
      explained.contains("GraftBucketFunction"),
      explained.take(2500))
    spark.sql(s"INSERT INTO $cat.tb " +
      "SELECT id, CAST(id AS STRING) AS v FROM dist_src")
    // e2e: a many-partition INSERT lands ONE file per bucket — the
    // planner's exchange clustered, the rolling writer split per tuple
    val s = SnapshotLog(spark, s"$root/tb").snapshot()
    assert(s.files.size == 4,
      s"4 buckets must land as 4 files (one per bucket), got ${s.files.size}")
    assert(s.partitions.values.toSeq.distinct.size == 4)
    assert(spark.sql(s"SELECT count(*), sum(id) FROM $cat.tb").head().toSeq ==
      Seq(100L, 4950L))
    // per-file footer stats lifted by the native commit: the point
    // lookup prunes to the one bucket file
    val log = SnapshotLog(spark, s"$root/tb")
    assert(log.snapshot().stats.nonEmpty, "native commit must lift stats")
    spark.sql(s"INSERT INTO $cat.tb VALUES (200L, 'x')")
    assert(spark.sql(s"SELECT count(*) FROM $cat.tb").head().getLong(0) == 101)
  }

  test("native INSERT into a days(ts)×bucket spec: tuples match the write path, files roll per tuple") {
    val (root, _) = freshRoot()
    val cat = mount(root)
    spark.sql(
      s"""CREATE TABLE $cat.tt (id BIGINT, ts TIMESTAMP, v STRING)
         |PARTITIONED BY (days(ts), bucket(2, id))
         |TBLPROPERTIES ('stats-columns'='id')""".stripMargin)
    // two days × two buckets: the required distribution resolves days()
    // and bucket() through the catalog's function surface
    spark.sql(s"""INSERT INTO $cat.tt
      |SELECT id, timestamp_micros(CAST(id % 2 AS BIGINT) * 86400000000 +
      |  CAST(1700000000 AS BIGINT) * 1000000), CAST(id AS STRING)
      |FROM range(0, 40, 1, 8)""".stripMargin)
    val s = SnapshotLog(spark, s"$root/tt").snapshot()
    val tuples = s.partitions.values.toSeq
    assert(tuples.distinct.size == 4 && s.files.size == 4,
      s"2 days × 2 buckets must land 4 files, got ${s.files.size} " +
        s"(${tuples.distinct})")
    // tuple VALUES must be the write path's rendering: epoch days
    val epochDay = 1700000000L / 86400
    assert(tuples.map(_.head).toSet ==
      Set(epochDay.toString, (epochDay + 1).toString),
      s"day tuples must be epoch days, got ${tuples.map(_.head).toSet}")
    assert(spark.sql(s"SELECT count(*), sum(id) FROM $cat.tt")
      .head().toSeq == Seq(40L, 780L))
    // stats lifted under the DECLARED columns (the table had no files
    // at create time — the declaration rides the table ref)
    assert(s.stats.valuesIterator.flatMap(_.keys).toSet == Set("id"))
  }

  test("native INSERT through sugar-bearing transforms: months(ts), days(DATE), BETWEEN CHECK") {
    // regression: these write expressions carry RuntimeReplaceable
    // sugar (to_date/date_add in the month and days-on-DATE paths,
    // BETWEEN's With block in CHECK SQL) that the optimizer never
    // expands on boundExprs' analyzed-only plans — the bound
    // projection must still be evaluable on executors
    val (root, _) = freshRoot()
    val cat = mount(root)
    spark.sql(
      s"""CREATE TABLE $cat.tm (id BIGINT, ts TIMESTAMP, d DATE,
         |  CONSTRAINT id_band CHECK (id BETWEEN 0 AND 1000))
         |PARTITIONED BY (months(ts), days(d))""".stripMargin)
    spark.sql(s"INSERT INTO $cat.tm VALUES " +
      "(1, TIMESTAMP'2024-01-15 10:00:00', DATE'2024-01-15'), " +
      "(2, TIMESTAMP'2024-03-05 11:00:00', DATE'2024-03-05')")
    val s = SnapshotLog(spark, s"$root/tm").snapshot()
    val tuples = s.partitions.values.toSeq
    // month tuples are epoch months ((y-1970)*12 + m-1); day tuples epoch days
    assert(tuples.map(_.head).toSet == Set("648", "650"),
      s"month tuples must be epoch months, got $tuples")
    assert(tuples.map(_.last).toSet ==
      Set(java.time.LocalDate.parse("2024-01-15").toEpochDay.toString,
        java.time.LocalDate.parse("2024-03-05").toEpochDay.toString),
      s"days(DATE) tuples must be epoch days, got $tuples")
    // the BETWEEN CHECK evaluates per row in the task writers
    intercept[Exception] { spark.sql(s"INSERT INTO $cat.tm VALUES " +
      "(5000, TIMESTAMP'2024-01-15 10:00:00', DATE'2024-01-15')") }
    assert(spark.sql(s"SELECT count(*) FROM $cat.tm").head().getLong(0) == 2)
    // month pruning works over the natively written tuples
    assert(spark.sql(
      s"SELECT id FROM $cat.tm WHERE ts >= TIMESTAMP'2024-03-01 00:00:00'")
      .head().getLong(0) == 2)
  }

  test("native INSERT with NULL transform sources: null rows land the default partition") {
    val (root, _) = freshRoot()
    val cat = mount(root)
    spark.sql(
      s"""CREATE TABLE $cat.tn (id BIGINT, ts TIMESTAMP, s STRING)
         |PARTITIONED BY (days(ts), truncate(2, s))""".stripMargin)
    // one row with NULL ts AND NULL s: both transform functions must
    // return null (not 0 / not NPE) so the row lands the Hive default
    // partition, exactly like the staged write path
    spark.sql(s"INSERT INTO $cat.tn VALUES " +
      "(1, timestamp_micros(1700000000000000), 'abcd'), " +
      "(2, timestamp_micros(1700000000000000), 'abzz'), " +
      "(3, NULL, NULL)")
    assert(spark.sql(s"SELECT count(*) FROM $cat.tn").head().getLong(0) == 3)
    val s = SnapshotLog(spark, s"$root/tn").snapshot()
    val tuples = s.partitions.values.toSeq
    assert(tuples.exists(_.forall(_ == "__HIVE_DEFAULT_PARTITION__")),
      s"the null row must land the default partition, got $tuples")
    assert(tuples.exists(_.last == "ab"),
      s"truncate(2) must prefix non-null strings, got $tuples")
    assert(spark.sql(s"SELECT id FROM $cat.tn WHERE ts IS NULL")
      .head().getLong(0) == 3)
  }

  test("CREATE TABLE: declared shape lands in v1; every later writer inherits it") {
    val (root, _) = freshRoot()
    val cat = mount(root)
    spark.sql(
      s"""CREATE TABLE $cat.t2 (id BIGINT, ts TIMESTAMP, v STRING)
         |PARTITIONED BY (days(ts), bucket(4, id))
         |TBLPROPERTIES ('sort-order'='id', 'stats-columns'='id')""".stripMargin)
    val log = SnapshotLog(spark, s"$root/t2")
    val s = log.snapshot()
    assert(s.version == 1 && s.files.isEmpty && s.rows == 0)
    assert(s.partitionSpec.map(f => (f.source, f.transform)) ==
      Seq(("ts", "day"), ("id", "bucket[4]")))
    assert(s.sortOrder == Seq("id"))
    assert(spark.sql(s"SELECT * FROM $cat.t2").count() == 0, "empty but queryable")
    // a USING that isn't this format refuses; LOCATION refuses
    intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.t3 (id BIGINT) USING parquet")
    }
    intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.t3 (id BIGINT) LOCATION '/tmp/elsewhere'")
    }
    assert(!spark.sql(s"SHOW TABLES IN $cat").collect()
      .map(_.getString(1)).contains("t3"))
    // INSERT through SQL inherits the spec: files carry partition tuples
    spark.sql(s"INSERT INTO $cat.t2 VALUES " +
      "(1L, TIMESTAMP'2024-01-01 10:00:00', 'a'), " +
      "(2L, TIMESTAMP'2024-03-05 11:00:00', 'b')")
    val s2 = SnapshotLog(spark, s"$root/t2").snapshot()
    assert(s2.rows == 2 && s2.partitions.values.forall(_.size == 2),
      "SQL-inserted files must carry (day, bucket) partition tuples")
    // SHOW CREATE TABLE renders the declared shape back as DDL
    val ddl = spark.sql(s"SHOW CREATE TABLE $cat.t2").head().getString(0)
    assert(ddl.contains("days(ts)") && ddl.contains("bucket(4, id)") &&
      ddl.contains("sort-order"), ddl)
    // IF NOT EXISTS tolerates the existing table; bare CREATE refuses
    spark.sql(s"CREATE TABLE IF NOT EXISTS $cat.t2 (id BIGINT)")
    intercept[Exception] { spark.sql(s"CREATE TABLE $cat.t2 (id BIGINT)") }
    assert(spark.sql(s"SELECT count(*) FROM $cat.t2").head().getLong(0) == 2)
  }

  test("CTAS is ONE atomic staged commit; DROP TABLE removes everything") {
    val (root, _) = freshRoot()
    val cat = mount(root)
    spark.sql(
      s"""CREATE TABLE $cat.t_big TBLPROPERTIES ('stats-columns'='id')
         |AS SELECT id, v FROM $cat.t1 WHERE id >= 1000""".stripMargin)
    assert(spark.sql(s"SELECT count(*) FROM $cat.t_big").head().getLong(0) == 10)
    val s = SnapshotLog(spark, s"$root/t_big").snapshot()
    assert(s.version == 1 && s.rows == 10,
      "staged CTAS = ONE commit carrying the declared shape AND the files")
    assert(s.stats.values.forall(_.contains("id")),
      "declared stats-columns must apply to the CTAS write itself")
    spark.sql(s"DROP TABLE $cat.t_big")
    assert(!new java.io.File(s"$root/t_big").exists(), "the directory is gone")
    intercept[Exception] { spark.sql(s"SELECT * FROM $cat.t_big") }
    spark.sql(s"DROP TABLE IF EXISTS $cat.t_big") // idempotent spelling
  }

  test("failed CTAS leaves NO table and no directory; partitioned CTAS lands declared tuples") {
    val (root, _) = freshRoot()
    val cat = mount(root)
    // crash injection: the SELECT fails at task runtime, AFTER the
    // staged table was created and its writers opened files — the
    // abort must leave nothing (the non-staged contract leaked an
    // empty created table into the drop-on-failure window)
    intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.t_boom AS " +
        "SELECT id, raise_error('ctas crash injection') AS v FROM range(3)")
    }
    assert(!new java.io.File(s"$root/t_boom").exists(),
      "a failed CTAS must leave no directory")
    assert(!spark.sql(s"SHOW TABLES IN $cat").collect()
      .map(_.getString(1)).contains("t_boom"), "and no table")
    // the declared partition spec drives the staged write's exchange:
    // v1 carries per-tuple files, pruning works from the first commit
    spark.sql(
      s"""CREATE TABLE $cat.t_part PARTITIONED BY (bucket(2, id))
         |AS SELECT id, v FROM $cat.t1""".stripMargin)
    val s = SnapshotLog(spark, s"$root/t_part").snapshot()
    assert(s.version == 1 && s.rows == 20)
    assert(s.partitions.values.toSeq.distinct.size == 2 &&
      s.partitions.values.forall(_.size == 1),
      s"bucket(2) CTAS must land per-tuple files, got ${s.partitions}")
    // RTAS: fresh history in ONE staged publish; a failed RTAS leaves
    // the OLD table intact (the real atomicity win over drop+create)
    intercept[Exception] {
      spark.sql(s"CREATE OR REPLACE TABLE $cat.t_part AS " +
        "SELECT id, raise_error('rtas crash injection') AS v FROM range(3)")
    }
    assert(spark.sql(s"SELECT count(*) FROM $cat.t_part").head().getLong(0) == 20,
      "a failed RTAS must leave the old table fully readable")
    spark.sql(s"CREATE OR REPLACE TABLE $cat.t_part AS " +
      s"SELECT id FROM $cat.t1 WHERE id < 5")
    val s2 = SnapshotLog(spark, s"$root/t_part").snapshot()
    assert(s2.version == 1 && s2.rows == 5,
      "RTAS = fresh history, one staged publish")
  }

  /** Land one parquet file in `dir`'s data/ the way the native writer
    * would (inert until a manifest names it); returns the file name. */
  private def plantNativeFile(dir: String, name: String,
      rows: Seq[(Long, String)]): String = {
    val tmp = Files.createTempDirectory("graft-native-plant-").toString
    rows.toDF("id", "v").coalesce(1).write.parquet(s"$tmp/p")
    val part = new java.io.File(s"$tmp/p").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val dataDir = new java.io.File(s"$dir/data")
    dataDir.mkdirs()
    java.nio.file.Files.copy(part.toPath,
      new java.io.File(dataDir, name).toPath)
    name
  }

  test("RTAS publish protocol: a crash after the clear never loses the table") {
    val root = Files.createTempDirectory("graft-rtas-").toString
    val dir = s"$root/rt"
    val log = SnapshotLog(spark, dir, statsColumns = Seq("id"))
    log.append(Seq((1L, "old"), (2L, "old")).toDF("id", "v"))
    log.append(Seq((3L, "old")).toDF("id", "v"))
    // the replacement batch, written native-style (inert in data/)
    plantNativeFile(dir, "repl-0.parquet", Seq((100L, "new")))
    val schemaJson = Seq((100L, "new")).toDF("id", "v").schema.json
    val bytes = log.replacementV1Bytes(
      Seq(("repl-0.parquet", Nil, 1L)), schemaJson, Nil, Map.empty)
    log.publishPendingReplace(bytes)
    // the marker alone changes nothing: the old table stays current
    assert(SnapshotLog(spark, dir).read().count() == 3,
      "a pending marker must not affect a live table")
    log.clearForReplace(Set("repl-0.parquet"))
    // CRASH HERE — no promote. A fresh open must recover the
    // replacement from the durable pending manifest, not lose the table
    val recovered = SnapshotLog(spark, dir)
    assert(recovered.currentVersion() == 1,
      "recovery must promote the pending replacement to v1")
    assert(recovered.read().as[(Long, String)].collect().toSeq ==
      Seq((100L, "new")), "the recovered table is the replacement")
    assert(recovered.snapshot().rows == 1 &&
      recovered.snapshot().stats.values.forall(_.contains("id")),
      "the recovered v1 carries the full staged accounting")
    // the resumed replacer's own promote tolerates having been raced
    // by the recovery (identical bytes already at v1)
    log.promotePendingReplace(bytes)
    assert(SnapshotLog(spark, dir).read().count() == 1)
    // and the table keeps working: appends land as v2 on the new chain
    SnapshotLog(spark, dir).append(Seq((101L, "new2")).toDF("id", "v"))
    assert(SnapshotLog(spark, dir).read().count() == 2)
  }

  test("NULLs written into a non-nullable-history column read back NULL on every surface") {
    val root = Files.createTempDirectory("graft-nullfid-").toString
    val dir = s"$root/t"
    val log = SnapshotLog(spark, dir)
    // Scala Double encodes NON-NULLABLE — the manifest schema records
    // that, but an UPDATE may legally SET the column NULL; a falsely
    // non-nullable scan schema would read the slot's raw bits (0.0)
    log.append(Seq((1L, 5.0), (2L, 6.0)).toDF("id", "score").coalesce(1))
    log.updateWhere(Seq(("id", 1L, 1L)),
      Seq("score" -> org.apache.spark.sql.functions.lit(null)))
    assert(log.read().collect().map(r => Option(r.get(1))).count(_.isEmpty) == 1,
      "the typed read must surface the NULL")
    val cat = mount(root)
    val viaSql = spark.sql(s"SELECT id, score FROM $cat.t").collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(viaSql(1L).isEmpty && viaSql(2L).contains(6.0),
      s"the DSv2 vectorized scan must surface the NULL, not 0.0: $viaSql")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t WHERE score IS NULL")
      .head().getLong(0) == 1)
  }

  test("stale pending-replace marker: inert beside a live chain, swept by vacuum past grace") {
    val root = Files.createTempDirectory("graft-rtas-stale-").toString
    val dir = s"$root/t"
    val log = SnapshotLog(spark, dir)
    log.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    log.append(Seq((3L, "c")).toDF("id", "v"))
    // an RTAS that crashed BEFORE its clear leaves the marker beside
    // live manifests — the old table stays current and recovery never
    // promotes while manifests exist
    log.publishPendingReplace("{\"version\":1}".getBytes)
    assert(SnapshotLog(spark, dir).read().count() == 3,
      "a stale marker must not perturb the live chain")
    val marker = new java.io.File(
      s"$dir/${SnapshotLog.LogDirName}/pending-replace.json")
    assert(marker.exists())
    // fresh markers are mtime-protected (an in-flight replace)
    log.vacuum(keepLast = 2, graceMs = 3600000L)
    assert(marker.exists(), "a fresh marker survives the grace window")
    log.vacuum(keepLast = 2, graceMs = 0L)
    assert(!marker.exists(), "a stale marker sweeps past the grace")
    assert(SnapshotLog(spark, dir).read().count() == 3)
  }

  test("concurrent RTAS: a FRESH marker makes the second publish abort; only a stale one sweeps") {
    val root = Files.createTempDirectory("graft-rtas-race-").toString
    val dir = s"$root/t"
    val log = SnapshotLog(spark, dir)
    log.append(Seq((1L, "a")).toDF("id", "v"))
    // replacer A publishes its marker; B arriving moments later must
    // LOSE the marker CAS, not sweep A's fresh marker (two sweepers
    // would each clearForReplace keeping only their own files —
    // deleting the other side's staged data under a promotable marker)
    log.publishPendingReplace("{\"version\":1,\"who\":\"A\"}".getBytes)
    val ex = intercept[graft.table.CommitConflictException] {
      log.publishPendingReplace("{\"version\":1,\"who\":\"B\"}".getBytes)
    }
    assert(ex.getMessage.contains("concurrent REPLACE"), ex.getMessage)
    val marker = new java.io.File(
      s"$dir/${SnapshotLog.LogDirName}/pending-replace.json")
    assert(new String(java.nio.file.Files.readAllBytes(marker.toPath))
      .contains("\"A\""), "the loser must not have replaced A's marker")
    // a marker past the grace window is a crashed prior RTAS: the next
    // publish sweeps it and wins
    assert(marker.setLastModified(
      System.currentTimeMillis() - SnapshotLog.ReplaceMarkerGraceMs - 60000L))
    log.publishPendingReplace("{\"version\":1,\"who\":\"C\"}".getBytes)
    assert(new String(java.nio.file.Files.readAllBytes(marker.toPath))
      .contains("\"C\""), "a provably-stale marker sweeps")
    // cleanup so later opens of this throwaway dir don't recover "C"
    assert(marker.delete())
  }

  test("two concurrent staged CTAS: exactly one wins version 1, the loser discards") {
    val root = Files.createTempDirectory("graft-ctasrace-").toString
    val dir = s"$root/race"
    val schemaJson = Seq((0L, "x")).toDF("id", "v").schema.json
    plantNativeFile(dir, "a-0.parquet", Seq((1L, "winner")))
    plantNativeFile(dir, "b-0.parquet", Seq((2L, "loser")))
    val log1 = SnapshotLog(spark, dir)
    val log2 = SnapshotLog(spark, dir)
    val won = log1.commitNativeCreate(
      Seq(("a-0.parquet", Nil, 1L)), schemaJson, Nil, Map.empty)
    assert(won.exists(_.version == 1))
    val lost = log2.commitNativeCreate(
      Seq(("b-0.parquet", Nil, 1L)), schemaJson, Nil, Map.empty)
    assert(lost.isEmpty,
      "the second create must LOSE the v1 slot, not land as a v2 append")
    assert(SnapshotLog(spark, dir).read().as[(Long, String)]
      .collect().toSeq == Seq((1L, "winner")),
      "only the winner's result set is the table")
    assert(!new java.io.File(s"$dir/data/b-0.parquet").exists(),
      "the loser's files are discarded")
  }

  test("SET TBLPROPERTIES sort-order: one metadata commit re-clusters every future write") {
    val (root, _) = freshRoot()
    val cat = mount(root)
    spark.sql(s"CREATE TABLE $cat.s (id BIGINT, v STRING)")
    spark.sql(s"ALTER TABLE $cat.s SET TBLPROPERTIES ('sort-order'='id')")
    val log = SnapshotLog(spark, s"$root/s")
    val s1 = log.snapshot()
    assert(s1.op == "set_sort" && s1.sortOrder == Seq("id") && s1.files.isEmpty)
    // a spec-less SQL INSERT inherits the new order: the staged file is
    // internally ascending even though the values arrive shuffled
    spark.sql(s"INSERT INTO $cat.s VALUES (9L,'i'),(3L,'c'),(7L,'g'),(1L,'a'),(5L,'e')")
    val f = SnapshotLog(spark, s"$root/s").snapshot().files.head
    val ids = spark.read.parquet(s"$root/s/data/$f")
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(ids == ids.sorted, s"file rows must land clustered, got $ids")
    // re-running the identical DDL is a no-op (idempotent migrations)
    val vSame = SnapshotLog(spark, s"$root/s").currentVersion()
    spark.sql(s"ALTER TABLE $cat.s SET TBLPROPERTIES ('sort-order'='id')")
    assert(SnapshotLog(spark, s"$root/s").currentVersion() == vSame)
    // UNSET clears; unknown sort columns and other property keys refuse
    spark.sql(s"ALTER TABLE $cat.s UNSET TBLPROPERTIES ('sort-order')")
    assert(SnapshotLog(spark, s"$root/s").snapshot().sortOrder.isEmpty)
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.s SET TBLPROPERTIES ('sort-order'='nope')")
    }
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.s SET TBLPROPERTIES ('owner'='x')")
    }
    // the CALL spelling routes to the same commit
    spark.sql(s"CALL $cat.system.set_sort_order(table => 's', columns => 'id')")
    assert(SnapshotLog(spark, s"$root/s").snapshot().sortOrder == Seq("id"))
  }

  test("change-feed enable post-creation: sticky, contract starts at the enabling commit") {
    val (root, _) = freshRoot()
    val cat = mount(root)
    spark.sql(s"CREATE TABLE $cat.cf (id BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $cat.cf VALUES (1L,'a'),(2L,'b'),(3L,'c')")
    // a PRE-feed row-removing commit has no images — spans over it refuse
    val log = SnapshotLog(spark, s"$root/cf")
    log.deleteWhere(("id", 3L, 3L))
    val vPre = log.currentVersion()
    spark.sql(s"ALTER TABLE $cat.cf SET TBLPROPERTIES ('change-feed'='true')")
    val s = SnapshotLog(spark, s"$root/cf").snapshot()
    assert(s.op == "enable_feed" && s.cdc && s.version == vPre + 1)
    // post-enable row-removing commits record images; the feed nets
    SnapshotLog(spark, s"$root/cf").deleteWhere(("id", 2L, 2L))
    val net = SnapshotLog(spark, s"$root/cf")
      .readChangeRows(s.version).collect()
    assert(net.map(r => (r.getAs[Long]("id"), r.getAs[String]("_change_type")))
      .toSet == Set((2L, "delete")))
    intercept[IllegalStateException] { // the pre-feed delete blocks older spans
      SnapshotLog(spark, s"$root/cf").readChangeRows(0).collect()
    }
    // sticky: disable refuses; re-enable is idempotent (no new commit)
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.cf SET TBLPROPERTIES ('change-feed'='false')")
    }
    val vNow = SnapshotLog(spark, s"$root/cf").currentVersion()
    spark.sql(s"CALL $cat.system.enable_change_feed(table => 'cf')")
    assert(SnapshotLog(spark, s"$root/cf").currentVersion() == vNow)
  }

  test("inline CHECK in CREATE TABLE; CREATE OR REPLACE swaps the shape") {
    val (root, _) = freshRoot()
    val cat = mount(root)
    spark.sql(
      s"""CREATE TABLE $cat.gated (id BIGINT, qty BIGINT,
         |  CONSTRAINT qty_pos CHECK (qty > 0))""".stripMargin)
    assert(SnapshotLog(spark, s"$root/gated").constraints() ==
      Map("qty_pos" -> "qty > 0"))
    intercept[Exception] { spark.sql(s"INSERT INTO $cat.gated VALUES (1L, -2L)") }
    assert(spark.sql(s"SELECT count(*) FROM $cat.gated").head().getLong(0) == 0)
    spark.sql(s"INSERT INTO $cat.gated VALUES (1L, 2L)")
    assert(spark.sql(s"SELECT count(*) FROM $cat.gated").head().getLong(0) == 1)
    // CREATE OR REPLACE = fresh history in one STAGED publish: new
    // schema, version resets, the old constraint does not survive
    spark.sql(s"CREATE OR REPLACE TABLE $cat.gated (id BIGINT, note STRING)")
    val log = SnapshotLog(spark, s"$root/gated")
    assert(log.snapshot().version == 1 && log.constraints().isEmpty)
    spark.sql(s"INSERT INTO $cat.gated VALUES (7L, 'ok')")
    assert(spark.sql(s"SELECT note FROM $cat.gated").head().getString(0) == "ok")
    // ... AS SELECT composes: replace + populate in one statement
    spark.sql(s"CREATE OR REPLACE TABLE $cat.gated AS " +
      s"SELECT id, v FROM $cat.t1 WHERE id < 5")
    assert(spark.sql(s"SELECT count(*) FROM $cat.gated").head().getLong(0) == 5)
    assert(SnapshotLog(spark, s"$root/gated").snapshot().version == 1,
      "RTAS = fresh history, ONE staged commit carrying shape + files")
  }

  test("INSERT INTO commits one append: visible at head, absent from the pinned past") {
    val (root, log) = freshRoot()
    val cat = mount(root)
    val preVersion = log.currentVersion()
    spark.sql(s"INSERT INTO $cat.t1 VALUES (5000, 'ins-a'), (5001, 'ins-b')")
    assert(log.currentVersion() == preVersion + 1 &&
      log.snapshot().op == "append",
      "SQL INSERT must land as ONE transactional append commit")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t1").head().getLong(0) == 22)
    assert(spark.sql(
      s"SELECT count(*) FROM $cat.t1 VERSION AS OF $preVersion")
      .head().getLong(0) == 20, "time travel must not see the insert")
    // the inserted file records stats (inherited from the manifest), so
    // a point read still prunes to few files
    val s = log.snapshot()
    val newFile = s.files.filterNot(log.snapshot(preVersion).files.toSet)
    assert(newFile.forall(f => s.stats.get(f).exists(_.contains("id"))),
      "SQL-inserted files must carry the table's stats columns")
  }

  test("INSERT OVERWRITE atomically replaces the table; DELETE/TRUNCATE verbs work") {
    val (root, log) = freshRoot()
    val cat = mount(root)
    spark.sql(s"INSERT OVERWRITE $cat.t1 VALUES (1, 'ow-a'), (2, 'ow-b'), (9, 'ow-c')")
    assert(log.snapshot().op == "overwrite")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t1").head().getLong(0) == 3)
    assert(log.read(2).count() == 20, "pre-overwrite history intact")
    // range DELETE: stats-targeted copy-on-write through the log
    spark.sql(s"DELETE FROM $cat.t1 WHERE id BETWEEN 1 AND 2")
    assert(log.snapshot().op == "delete")
    assert(spark.sql(s"SELECT id FROM $cat.t1").as[Long].collect().toSeq == Seq(9L))
    // unconditioned DELETE = metadata-only truncate
    spark.sql(s"DELETE FROM $cat.t1")
    assert(log.snapshot().op == "truncate" && log.snapshot().files.isEmpty)
    assert(spark.sql(s"SELECT count(*) FROM $cat.t1").head().getLong(0) == 0)
    // schema survived; inserts keep working after the truncate
    spark.sql(s"INSERT INTO $cat.t1 VALUES (42, 'post')")
    assert(spark.sql(s"SELECT v FROM $cat.t1").head().getString(0) == "post")
    // TRUNCATE TABLE statement too
    spark.sql(s"TRUNCATE TABLE $cat.t1")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t1").head().getLong(0) == 0)
  }

  test("DELETE with an inexpressible condition is refused loudly, not approximated") {
    val (root, log) = freshRoot()
    val cat = mount(root)
    val ex = intercept[Exception] {
      spark.sql(s"DELETE FROM $cat.t1 WHERE id > 5 OR v = 'a1'")
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: msgs(e.getCause))
    assert(msgs(ex).exists(m => m != null &&
      (m.contains("does not convert exactly") || m.contains("Cannot delete") ||
        m.contains("DELETE"))), msgs(ex).mkString(" | "))
    assert(log.read().count() == 20, "nothing may have been deleted")
  }

  test("MERGE INTO (whole-row upsert) routes through mergeClauses on an extensions session") {
    val (root, log) = freshRoot()
    val s = org.apache.spark.sql.GraftBridge
      .sessionWithExtensions(spark, new graft.plans.GraftExtensions()(_))
    n += 1
    val cat = s"gtest$n"
    s.conf.set(s"spark.sql.catalog.$cat", classOf[GraftTableCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    s.sql(
      s"""MERGE INTO $cat.t1 t
         |USING (SELECT * FROM VALUES (3L, 'upd-3'), (7L, 'upd-7'),
         |       (6000L, 'new-6000') AS src(id, v)) s
         |ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(log.snapshot().op == "merge",
      "SQL MERGE must land as one transactional merge commit")
    val rows = log.read().as[(Long, String)].collect().toMap
    assert(rows(3L) == "upd-3" && rows(7L) == "upd-7" &&
      rows(6000L) == "new-6000" && rows(4L) == "a4")
    assert(rows.size == 21)
    // duplicate source keys violate SQL MERGE semantics → loud error
    val dup = intercept[Exception] {
      s.sql(
        s"""MERGE INTO $cat.t1 t
           |USING (SELECT * FROM VALUES (1L, 'x'), (1L, 'y') AS src(id, v)) s
           |ON t.id = s.id
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: msgs(e.getCause))
    assert(msgs(dup).exists(m => m != null && m.contains("at most one source row")),
      msgs(dup).mkString(" | "))
  }

  test("DML against a time-travelled snapshot is refused — history is immutable") {
    val (root, _) = freshRoot()
    val cat = mount(root)
    val ex = intercept[Exception] {
      spark.sql(s"INSERT INTO $cat.t1 VERSION AS OF 1 VALUES (1, 'x')")
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: msgs(e.getCause))
    assert(msgs(ex).exists(m => m != null &&
      (m.contains("immutable") || m.contains("TIMESTAMP") ||
        m.contains("time travel") || m.contains("VERSION"))),
      msgs(ex).mkString(" | "))
  }

  test("exact delete-filter conversion: points, closed ranges, truncate; refusals") {
    import org.apache.spark.sql.sources._
    import graft.table.LogTable.exactRanges
    // exact conversions
    assert(exactRanges(Array(EqualTo("a", 5))).contains(Seq(("a", 5, 5))))
    assert(exactRanges(Array(
      And(GreaterThanOrEqual("b", 10), LessThanOrEqual("b", 20))))
      .contains(Seq(("b", 10, 20))))
    assert(exactRanges(Array(IsNotNull("a"), EqualTo("a", 5)))
      .contains(Seq(("a", 5, 5))), "IsNotNull implied by the point")
    assert(exactRanges(Array.empty[Filter]).contains(Nil), "no filters = truncate")
    assert(exactRanges(Array(AlwaysTrue())).contains(Nil))
    // refusals: anything a range-conjunction cannot express EXACTLY
    assert(exactRanges(Array(GreaterThan("a", 5))).isEmpty, "strict bound")
    assert(exactRanges(Array(GreaterThanOrEqual("a", 5))).isEmpty, "one-sided")
    assert(exactRanges(Array(In("a", Array(1, 2)))).isEmpty, "IN is a disjunction")
    assert(exactRanges(Array(Or(EqualTo("a", 1), EqualTo("a", 2)))).isEmpty)
    assert(exactRanges(Array(IsNotNull("z"))).isEmpty, "bare IsNotNull")
    assert(exactRanges(Array(EqualTo("a", 1),
      GreaterThanOrEqual("a", 0), LessThanOrEqual("a", 9))).isEmpty,
      "mixed point+range on one column")
  }

  test("filter-to-range conversion: points, envelopes, both-sided ranges only") {
    import org.apache.spark.sql.sources._
    val bounds = graft.table.LogScanBuilder.boundsOf(Array(
      EqualTo("a", 5), // point
      And(GreaterThanOrEqual("b", 10), LessThan("b", 20)), // both-sided
      GreaterThan("c", 7), // one-sided: no pruning
      In("d", Array(3, 1, 2)), // envelope
      Or(EqualTo("e", 1), EqualTo("e", 2)))) // disjunction: no pruning
      .map { case (c, l, h) => c -> ((l, h)) }.toMap
    assert(bounds("a") == ((5, 5)))
    assert(bounds("b") == ((10, 20)))
    assert(bounds("d") == ((1, 3)))
    assert(!bounds.contains("c") && !bounds.contains("e"))
  }
}
