package graft

import graft.table.SnapshotLog
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Positional deletion vectors ([[SnapshotLog]] `dvs`): the
  * merge-on-read arm of the predicate-delete planner. A low-selectivity
  * delete must commit O(matched rows) of positions — no data-file
  * rewrite — while reads, counts, time travel, restore, merge,
  * compaction, vacuum and the change feed all stay exact. */
class DeletionVectorSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def freshTable(): String =
    Files.createTempDirectory("graft-dv-").resolve("t").toString

  /** 4 files, ids clustered per file: f0 0-99, f1 100-199, f2 200-299,
    * f3 300-399 — the stats-targeted shape every planner test needs. */
  private def clustered(dir: String,
      feed: Boolean = false): SnapshotLog = {
    val log =
      if (feed) SnapshotLog.withChangeFeed(spark, dir, statsColumns = Seq("id"))
      else SnapshotLog(spark, dir, statsColumns = Seq("id"))
    (0 until 4).foreach { run =>
      log.append((0 until 100).map(i => (run * 100 + i, s"r$run-$i"))
        .toDF("id", "payload").coalesce(1))
    }
    assert(log.snapshot().files.size == 4)
    log
  }

  private def ids(log: SnapshotLog, v: Long = -1L): Seq[Int] =
    log.read(v).select("id").as[Int].collect().toSeq.sorted

  test("low-selectivity delete commits a vector: no data-file rewrite, exact reads") {
    val log = clustered(freshTable())
    val before = log.snapshot()
    val s = log.deleteBetween("id", 50, 50).get
    assert(s.files == before.files,
      "a 1-row delete on a 100-row file must not rewrite any data file")
    assert(s.dvs.size == 1 && s.dvs.head._2.size == 1,
      s"exactly one vector on the one straddled file: ${s.dvs}")
    assert(s.rows == 399, "manifest rows stay exact-logical under vectors")
    assert(ids(log) == ((0 until 400).filter(_ != 50)),
      "the read must apply the vector")
    assert(log.countRows() == 399)
    // time travel: the pre-delete version still reads the row
    assert(ids(log, v = before.version).contains(50))
    // the vector file exists in data/ and is manifest-referenced
    val dvFile = s.dvs.head._2.head
    assert(new java.io.File(dir(log), dvFile).exists())
  }

  private def dir(log: SnapshotLog): java.io.File =
    new java.io.File(log.tableDir, SnapshotLog.DataDirName)

  test("planner picks per file: sparse→vector, dense→rewrite, total→metadata drop") {
    val log = clustered(freshTable())
    val before = log.snapshot()
    val byRange = before.files.sortBy(f => before.stats(f)("id").lo.toInt)
    // f0: 40/100 matched (< 0.5) → vector; f1: 100/100 → metadata drop;
    // f2: 51/100 (>= 0.5) → copy-on-write; f3: untouched
    val s = log.deleteWhere(("id", 60, 250)).get
    assert(s.files.contains(byRange(0)) && s.dvs.contains(byRange(0)),
      "the sparsely-matched file stays, vectored")
    assert(!s.files.contains(byRange(1)) && !s.dvs.contains(byRange(1)),
      "the fully-matched file drops metadata-only")
    assert(!s.files.contains(byRange(2)),
      "the densely-matched file rewrites copy-on-write")
    assert(s.files.contains(byRange(3)), "the unmatched file is untouched")
    assert(s.files.size == 3 && s.dvs.size == 1,
      s"2 carried (f0, f3) + 1 staged survivor file: ${s.files}")
    assert(s.rows == 400 - (250 - 60 + 1))
    assert(ids(log) == ((0 until 60) ++ (251 until 400)))
    // the CoW survivor file carries stats (it re-staged through the
    // choke point) so later deletes keep pruning
    val survivor = (s.files.toSet -- before.files).head
    assert(s.stats.contains(survivor))
  }

  test("vectors accumulate and later deletes count net of prior vectors") {
    val log = clustered(freshTable())
    log.deleteBetween("id", 50, 50)
    log.deleteBetween("id", 51, 51)
    val s2 = log.snapshot()
    assert(s2.dvs.head._2.size == 2, "one vector file per delete, accumulated")
    // the range covers two ALREADY-deleted positions: exactly one new
    // row may die, and rows must drop by exactly one
    val s3 = log.deleteBetween("id", 50, 52).get
    assert(s3.rows == s2.rows - 1,
      "a position a prior vector removed must not re-count")
    assert(ids(log) == ((0 until 400).filterNot(Set(50, 51, 52))))
    assert(log.countRows() == 397)
  }

  test("countWhere stays exact over vector-covered files") {
    val log = clustered(freshTable())
    log.deleteBetween("id", 50, 59)
    assert(log.snapshot().dvs.size == 1)
    assert(log.countWhere(("id", 0, 99)) == 90,
      "a vectored file must scan, not answer from its physical count")
    assert(log.countWhere(("id", 100, 199)) == 100,
      "clean contained files still answer metadata-only")
  }

  test("materializeDeletes rewrites ONLY covered files and clears the vectors") {
    val log = clustered(freshTable())
    log.deleteBetween("id", 50, 54)
    val withDv = log.snapshot()
    val clean = withDv.files.filterNot(withDv.dvs.contains)
    val s = log.materializeDeletes().get
    assert(s.dvs.isEmpty && s.op == "compact")
    assert(clean.forall(s.files.contains),
      "uncovered files must carry BY NAME — materialization is O(covered)")
    assert(s.rows == withDv.rows && ids(log) == ids(log, withDv.version),
      "materialization is physical-only")
    assert(log.materializeDeletes().isEmpty, "no-op when nothing is pending")
    // the horizon passes: the vector file itself is garbage
    val dvFile = withDv.dvs.head._2.head
    assert(log.vacuum(keepLast = 1, graceMs = 0L) >= 1)
    assert(!new java.io.File(dir(log), dvFile).exists())
    assert(ids(log) == ((0 until 400).filterNot(Set(50, 51, 52, 53, 54))))
  }

  test("full compact also materializes; vacuum keeps vectors of retained versions") {
    val log = clustered(freshTable())
    log.deleteBetween("id", 399, 399)
    val dvFile = log.snapshot().dvs.head._2.head
    // retained: the DV version is inside the horizon — its vector survives
    log.append(Seq((1000, "x")).toDF("id", "payload"))
    assert(log.vacuum(keepLast = 3, graceMs = 0L) == 0)
    assert(new java.io.File(dir(log), dvFile).exists(),
      "a retained version's vector must survive vacuum")
    val s = log.compact(targetFileBytes = Long.MaxValue).get
    assert(s.dvs.isEmpty)
    assert(ids(log) == ((0 until 399) :+ 1000))
  }

  test("merge applies pending vectors on touched files and materializes them") {
    val log = clustered(freshTable())
    log.deleteBetween("id", 50, 50)
    val s = log.mergeByKey(Seq((55, "updated"), (9999, "new"))
      .toDF("id", "payload"), "id")
    assert(!s.dvs.contains(s.files.head) || s.dvs.isEmpty)
    val out = log.read().where(col("id").isin(50, 55, 9999))
      .as[(Int, String)].collect().toMap
    assert(!out.contains(50), "the rewrite must not resurrect a vectored row")
    assert(out == Map(55 -> "updated", 9999 -> "new"))
    assert(s.rows == 400) // 399 live + 1 insert ... 55 replaced in place
    assert(s.dvs.isEmpty, "the touched file's vector materialized with it")
  }

  test("key tombstones and vectors compose at read; compact clears both") {
    val log = clustered(freshTable())
    log.deleteBetween("id", 50, 50) // vector
    log.deleteKeys("id", Seq(60).toDF("id")) // tombstone
    assert(ids(log) == ((0 until 400).filterNot(Set(50, 60))))
    val s = log.compact(targetFileBytes = Long.MaxValue).get
    assert(s.dvs.isEmpty && s.tombstones.isEmpty)
    assert(ids(log) == ((0 until 400).filterNot(Set(50, 60))))
    assert(s.rows == 398)
  }

  test("restore carries each version's vector set exactly") {
    val log = clustered(freshTable())
    val v4 = log.currentVersion()
    log.deleteBetween("id", 50, 50)
    val v5 = log.currentVersion()
    val r1 = log.restore(v4)
    assert(r1.dvs.isEmpty && ids(log).contains(50))
    val r2 = log.restore(v5)
    assert(r2.dvs.nonEmpty && !ids(log).contains(50))
  }

  test("compactSmall never bin-packs a vector-covered file") {
    val log = clustered(freshTable())
    log.deleteBetween("id", 50, 50)
    val withDv = log.snapshot()
    val covered = withDv.dvs.keySet
    val s = log.compactSmall(targetFileBytes = Long.MaxValue).get
    assert(covered.forall(s.files.contains),
      "the covered file must carry by name, not pack raw")
    assert(s.dvs == withDv.dvs)
    assert(ids(log) == ((0 until 400).filterNot(_ == 50)))
  }

  test("change feed: a vector delete records exact images and nets to the table") {
    val log = clustered(freshTable(), feed = true)
    val from = log.currentVersion()
    log.deleteBetween("id", 50, 52) // sparse → vector
    log.deleteBetween("id", 60, 60) // second vector, same file
    val feed = log.readChangeRows(from)
    val deleted = feed.where(col("_change_type") === "delete")
      .select("id").as[Int].collect().toSeq.sorted
    assert(deleted == Seq(50, 51, 52, 60),
      "images must be exactly the vectored rows, once each")
    assert(ids(log) == ((0 until 400).filterNot(Set(50, 51, 52, 60))))
  }

  test("plan shape: the vector applies as a BROADCAST anti-join, never a shuffle") {
    val log = clustered(freshTable())
    log.deleteBetween("id", 50, 59)
    assert(log.snapshot().dvs.nonEmpty)
    // string-match the physical plan: collect() does not traverse into
    // the un-finalized AdaptiveSparkPlan wrapper
    val plan = log.read().queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"the DV anti-join must be broadcast (O(positions) state at every " +
        s"executor, no corpus shuffle); plan:\n$plan")
    assert(!plan.contains("ShuffleExchange") && !plan.contains("SortMergeJoin"),
      s"a vector-applied scan must not shuffle the table; plan:\n$plan")
  }

  test("exactly-once: a replayed txn batch never stages a second vector") {
    val log = clustered(freshTable())
    assert(log.deleteWhereTxn(Seq(("id", 50, 50)), Some(("lane", 1L))).isDefined)
    assert(log.deleteWhereTxn(Seq(("id", 51, 51)), Some(("lane", 1L))).isEmpty,
      "same batch id: replay detected, nothing commits")
    assert(log.snapshot().dvs.head._2.size == 1)
    assert(log.countRows() == 399)
  }
}
