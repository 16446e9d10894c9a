package graft

import graft.table.SnapshotLog
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Writable branches + write-audit-publish ([[SnapshotLog.createBranch]]
  * / [[SnapshotLog.publishBranch]]): fork isolation in both directions,
  * the full op surface on a branch chain, fast-forward publish with
  * preserved history, divergence refusal, vacuum liveness across
  * branches, and the SQL audit read. */
class BranchSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def freshTable(): String =
    Files.createTempDirectory("graft-br-").resolve("t").toString

  private def seeded(dir: String): SnapshotLog = {
    val log = SnapshotLog(spark, dir, statsColumns = Seq("id"))
    log.append((0 until 100).map(i => (i, s"a$i")).toDF("id", "v").coalesce(1))
    log
  }

  private def ids(log: SnapshotLog): Seq[Int] =
    log.read().select("id").as[Int].collect().toSeq.sorted

  test("fork isolation: branch writes invisible on main, main writes invisible on branch") {
    val log = seeded(freshTable())
    log.createBranch("staging")
    val b = log.branch("staging")
    assert(ids(b) == (0 until 100), "the fork reads the fork-point state")
    b.append(Seq((100, "b100")).toDF("id", "v"))
    b.deleteBetween("id", 0, 4)
    assert(ids(b) == (5 to 100))
    assert(ids(log) == (0 until 100), "main never sees unpublished work")
    log.append(Seq((500, "m500")).toDF("id", "v"))
    assert(ids(b) == (5 to 100), "the branch is pinned at its fork")
    // branch time travel works within the branch chain
    assert(b.read(1).count() == 100 && b.read(2).count() == 101)
    assert(log.branches() == Map("staging" -> 1L))
  }

  test("write-audit-publish: the full op surface on a branch, fast-forward, history preserved") {
    val log = seeded(freshTable())
    log.createBranch("wap")
    val b = log.branch("wap")
    b.append((100 until 120).map(i => (i, s"n$i")).toDF("id", "v").coalesce(1))
    b.updateWhere(Seq(("id", 10, 19)), Seq("v" -> lit("upd")))
    b.deleteBetween("id", 0, 4)
    val audited = ids(b)
    assert(audited == (5 until 120))
    val head = log.publishBranch("wap")
    assert(log.currentVersion() == head && head == 4L)
    assert(ids(log) == audited, "published main state == audited branch state")
    assert(log.read().where(col("id") === 15).select("v").as[String].head() == "upd")
    // the branch's ops ARE main history now — auditable, time-travelable
    assert((2L to 4L).map(log.snapshot(_).op) == Seq("append", "update", "delete"))
    assert(log.read(1).count() == 100, "pre-publish versions still read")
    assert(log.branches().isEmpty, "publish drops the branch")
    // re-publish of a gone branch is a loud error, not a silent no-op
    intercept[IllegalArgumentException] { log.publishBranch("wap") }
  }

  test("publish refuses when main diverged past the fork; the branch survives") {
    val log = seeded(freshTable())
    log.createBranch("slow")
    val b = log.branch("slow")
    b.append(Seq((1000, "b")).toDF("id", "v"))
    log.append(Seq((2000, "m")).toDF("id", "v")) // main moves first
    val ex = intercept[graft.table.CommitConflictException] {
      log.publishBranch("slow")
    }
    assert(ex.getMessage.contains("diverged"))
    assert(log.branches().contains("slow"), "a refused publish keeps the branch")
    assert(ids(b) == (0 until 100) :+ 1000)
    assert(ids(log) == (0 until 100) :+ 2000)
    // operator path: recreate from the new head and replay
    log.dropBranch("slow")
    assert(log.branches().isEmpty)
  }

  test("re-create refuses a branch whose ref is gone but whose commits remain") {
    // the state a crash between the branch's v1 commit and its ref put
    // leaves, or one inside dropBranch (ref deleted before manifests)
    val log = seeded(freshTable())
    log.createBranch("g", 1L)
    log.branch("g").append(Seq((1000, "stale")).toDF("id", "v"))
    assert(new java.io.File(
      s"${log.tableDir}/${SnapshotLog.LogDirName}/branchref-g.json").delete())
    log.append(Seq((2000, "m")).toDF("id", "v"))
    val ex = intercept[IllegalArgumentException] { log.createBranch("g") }
    assert(ex.getMessage.contains("dropBranch"), ex.getMessage)
    assert(log.branches().isEmpty, "a refused re-create writes no ref")
    log.dropBranch("g")
    assert(log.createBranch("g") == 2L)
    assert(ids(log.branch("g")) == (0 until 100) :+ 2000,
      "the re-created branch forks main v2, not the stale chain")
  }

  test("vacuum keeps branch-referenced files live; dropBranch releases them") {
    val log = seeded(freshTable())
    log.createBranch("keep")
    val b = log.branch("keep")
    b.append(Seq((777, "only-on-branch")).toDF("id", "v").coalesce(1))
    val branchOnly = b.snapshot().files.toSet -- log.snapshot().files.toSet
    assert(branchOnly.size == 1)
    // churn main far past any horizon, then vacuum hard
    log.append(Seq((1, "x")).toDF("id", "v"))
    log.append(Seq((2, "y")).toDF("id", "v"))
    log.vacuum(keepLast = 1, graceMs = 0L)
    val dataDir = new java.io.File(log.tableDir, SnapshotLog.DataDirName)
    assert(branchOnly.forall(f => new java.io.File(dataDir, f).exists()),
      "an unpublished branch's files must survive any main-side vacuum")
    assert(ids(b).contains(777), "the branch still reads after the vacuum")
    log.dropBranch("keep")
    log.vacuum(keepLast = 1, graceMs = 0L)
    assert(branchOnly.forall(f => !new java.io.File(dataDir, f).exists()),
      "dropping the branch orphans its files for the next vacuum")
  }

  test("guards: branch-of-branch, branch-handle vacuum/tag, re-branch elsewhere, SQL audit read") {
    val log = seeded(freshTable())
    log.createBranch("g", 1L)
    // idempotent same-fork re-create; different fork refused
    assert(log.createBranch("g", 1L) == 1L)
    log.append(Seq((7, "z")).toDF("id", "v"))
    intercept[IllegalArgumentException] { log.createBranch("g") }
    val b = log.branch("g")
    intercept[IllegalArgumentException] { b.branch("h") }
    intercept[IllegalArgumentException] { b.vacuum(keepLast = 1) }
    intercept[IllegalArgumentException] { b.createTag("t") }
    intercept[IllegalArgumentException] { log.branch("nope") }
    // SQL audit read: graft_log(dir, 'branch:g') sees the branch head
    b.append(Seq((9999, "audit-me")).toDF("id", "v"))
    val s = org.apache.spark.sql.GraftBridge
      .sessionWithExtensions(spark, new graft.plans.GraftExtensions()(_))
    assert(s.sql(
      s"SELECT count(*) AS n FROM graft_log('${log.tableDir}', 'branch:g') WHERE id = 9999")
      .head().getLong(0) == 1L)
    assert(s.sql(
      s"SELECT count(*) AS n FROM graft_log('${log.tableDir}') WHERE id = 9999")
      .head().getLong(0) == 0L, "main SQL reads never see branch rows")
    // catalog spelling of the audit read: VERSION AS OF 'branch:<name>'
    val root = java.nio.file.Paths.get(log.tableDir).getParent.toString
    val cat = "gbr1"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.table.GraftTableCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val tname = java.nio.file.Paths.get(log.tableDir).getFileName.toString
    assert(spark.sql(
      s"SELECT count(*) AS n FROM $cat.$tname VERSION AS OF 'branch:g' WHERE id = 9999")
      .head().getLong(0) == 1L)
  }

  test("SQL-only WAP: the session branch conf routes every verb; main untouched until publish") {
    val root = Files.createTempDirectory("graft-br-sql-").toString
    val log = SnapshotLog(spark, s"$root/t", statsColumns = Seq("id"))
    log.append((0 until 10).map(i => (i.toLong, i * 10.0, "base"))
      .toDF("id", "bal", "seg").coalesce(1))
    val s0 = org.apache.spark.sql.GraftBridge
      .sessionWithExtensions(spark, new graft.plans.GraftExtensions()(_))
    val cat = "gbrsql"
    s0.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.table.GraftTableCatalog].getName)
    s0.conf.set(s"spark.sql.catalog.$cat.root", root)
    s0.sql(s"CALL $cat.system.create_branch(`table` => 't', name => 'wap')")
    // a typo'd branch refuses loudly instead of silently writing main
    s0.conf.set(graft.table.GraftTableCatalog.WapBranchConf, "nope")
    assert(intercept[Exception] {
      s0.sql(s"SELECT count(*) FROM $cat.t").collect()
    }.getMessage.contains("createBranch"))
    s0.conf.set(graft.table.GraftTableCatalog.WapBranchConf, "wap")
    try {
      // the WHOLE verb surface lands on the branch
      s0.sql(s"INSERT INTO $cat.t VALUES (100L, 1.0, 'new')")
      s0.sql(s"UPDATE $cat.t SET seg = 'upd' WHERE id BETWEEN 0 AND 2")
      s0.sql(s"DELETE FROM $cat.t WHERE id = 9")
      s0.createDataFrame(Seq((5L, 555.0), (200L, 2.0))).toDF("k", "b")
        .createOrReplaceTempView("wap_src")
      s0.sql(
        s"""MERGE INTO $cat.t t USING wap_src s ON t.id = s.k
           |WHEN MATCHED THEN UPDATE SET bal = s.b
           |WHEN NOT MATCHED THEN INSERT (id, bal, seg) VALUES (s.k, s.b, 'mrg')
           |""".stripMargin)
      // the session READS its branch: all four verbs visible
      val seen = s0.sql(s"SELECT id, bal, seg FROM $cat.t ORDER BY id")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
      assert(seen.length == 11)
      assert(seen.exists(_ == ((100L, 1.0, "new"))), "INSERT on branch")
      assert(seen.count(_._3 == "upd") == 3, "UPDATE on branch")
      assert(!seen.exists(_._1 == 9L), "DELETE on branch")
      assert(seen.exists(_ == ((5L, 555.0, "base"))) &&
        seen.exists(_ == ((200L, 2.0, "mrg"))), "MERGE on branch")
    } finally s0.conf.unset(graft.table.GraftTableCatalog.WapBranchConf)
    // conf released: main is UNTOUCHED
    assert(s0.sql(s"SELECT count(*) FROM $cat.t").head().getLong(0) == 10)
    assert(log.read().where(col("seg") =!= "base").count() == 0)
    // publish in SQL; main fast-forwards to the audited state
    s0.sql(s"CALL $cat.system.publish_branch(`table` => 't', name => 'wap')")
    assert(s0.sql(s"SELECT count(*) FROM $cat.t").head().getLong(0) == 11)
    assert(s0.sql(s"SELECT bal FROM $cat.t WHERE id = 5").head().getDouble(0)
      == 555.0)
  }

}
