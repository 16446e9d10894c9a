package graft

import graft.table.{CommitConflictException, Snapshot, SnapshotLog}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** SnapshotLog contract: atomic versioned commits, time travel,
  * crash-artifact immunity, the manifest CAS under contention, rewrite
  * conflict semantics, compaction through the log, and vacuum. */
class TableLogSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def freshTable(): String =
    Files.createTempDirectory("graft-log-").resolve("t").toString

  private def rowsOf(log: SnapshotLog, v: Long = -1L): Seq[(Int, String)] =
    log.read(v).as[(Int, String)].collect().toSeq.sorted

  private def mkRows(run: Int, n: Int): Seq[(Int, String)] =
    (0 until n).map(i => (run * 1000 + i, s"row-$run-$i"))

  test("appends commit as ordered versions; time travel reads each as committed") {
    val log = SnapshotLog(spark, freshTable())
    assert(log.currentVersion() == 0)
    val s1 = log.append(mkRows(0, 40).toDF("id", "payload").repartition(2))
    val s2 = log.append(mkRows(1, 25).toDF("id", "payload").repartition(2))
    assert((s1.version, s2.version) == (1L, 2L) && s2.parent == 1L)
    assert(s1.rows == 40 && s2.rows == 65, "snapshot rows are totals, not deltas")
    assert(rowsOf(log) == (mkRows(0, 40) ++ mkRows(1, 25)).sorted)
    assert(rowsOf(log, v = 1) == mkRows(0, 40).sorted,
      "old version must read exactly as committed after later appends")
  }

  test("half-finished commits are invisible: staged manifests and orphan data files ignored") {
    val dir = freshTable()
    val log = SnapshotLog(spark, dir)
    log.append(mkRows(0, 30).toDF("id", "payload"))
    // a writer that died mid-commit: staged manifest + a data file no
    // manifest names + a dead staging dir
    val logDir = new java.io.File(dir, SnapshotLog.LogDirName)
    Files.writeString(logDir.toPath.resolve(".tmp-deadbeef.json"), "{corrupt")
    val orphan = new java.io.File(dir, s"${SnapshotLog.DataDirName}/orphan-part-0.parquet")
    mkRows(9, 5).toDF("id", "payload").coalesce(1)
      .write.mode("overwrite").parquet(orphan.getParent + "/.orphan-tmp")
    Files.move(
      new java.io.File(orphan.getParent + "/.orphan-tmp").listFiles()
        .filter(_.getName.startsWith("part-")).head.toPath,
      orphan.toPath)
    assert(log.currentVersion() == 1)
    assert(rowsOf(log) == mkRows(0, 30).sorted,
      "reader must see only manifest-named files")
  }

  test("manifest CAS: an occupied version slot forces a retry onto the next slot") {
    val dir = freshTable()
    val log = SnapshotLog(spark, dir)
    log.append(mkRows(0, 20).toDF("id", "payload"))
    // occupy v2 out-of-band, as a concurrent writer would
    val other = SnapshotLog(spark, dir)
    val s2 = other.append(mkRows(1, 10).toDF("id", "payload"))
    assert(s2.version == 2)
    val s3 = log.append(mkRows(2, 15).toDF("id", "payload"))
    assert(s3.version == 3 && s3.rows == 45,
      s"append must land after the concurrent commit: $s3")
    assert(rowsOf(log) == (mkRows(0, 20) ++ mkRows(1, 10) ++ mkRows(2, 15)).sorted)
  }

  test("rewrite resolves a concurrent append: staged files commit, appended files carry") {
    val dir = freshTable()
    val log = SnapshotLog(spark, dir)
    log.append(mkRows(0, 30).toDF("id", "payload").repartition(4))
    // two appends land between the rewrite's read and its publish — the
    // hours-long-maintenance-vs-ingestion race; first-writer-wins would
    // force the whole rewrite to redo
    val s = log.rewrite("compact") { df =>
      val other = SnapshotLog(spark, dir)
      other.append(mkRows(1, 10).toDF("id", "payload"))
      other.append(mkRows(2, 5).toDF("id", "payload"))
      df.coalesce(1)
    }
    assert(s.version == 4 && s.parent == 3 && s.op == "compact",
      s"rewrite must land after the appends it resolved against: $s")
    assert(s.rows == 45, "manifest rows must include the appended rows")
    assert(rowsOf(log) == (mkRows(0, 30) ++ mkRows(1, 10) ++ mkRows(2, 5)).sorted,
      "appended rows must survive the resolved rewrite")
    assert(rowsOf(log, v = 3) == rowsOf(log, v = 4),
      "resolution is row-preserving: v4 reads exactly as v3")
    // the rewrite replaced v1's files with 1 coalesced file; every file
    // the interleaved appends added carries over by name, untouched
    val appended = log.snapshot(3).files.toSet -- log.snapshot(1).files.toSet
    assert(log.snapshot(1).files.forall(f => !s.files.contains(f)),
      "every replaced base file must leave the manifest")
    assert(appended.subsetOf(s.files.toSet) && s.files.size == appended.size + 1,
      s"1 compacted + ${appended.size} carried appends: ${s.files}")
  }

  test("rewrite aborts on a concurrent row-removing commit, leaving every version intact") {
    val dir = freshTable()
    val log = SnapshotLog(spark, dir)
    log.append(mkRows(0, 30).toDF("id", "payload").repartition(4))
    val ex = intercept[CommitConflictException] {
      log.rewrite("compact") { df =>
        // a concurrent delete removes rows the rewrite already re-wrote —
        // resolving would resurrect them; the rewrite must abort
        SnapshotLog(spark, dir).deleteBetween("id", 0, 4)
        df.coalesce(1)
      }
    }
    assert(ex.getMessage.contains("delete"),
      s"abort must name the unresolvable op: ${ex.getMessage}")
    assert(log.currentVersion() == 2, "the delete must have won")
    assert(rowsOf(log) == mkRows(0, 30).drop(5).sorted)
    // and the rerun against the new current succeeds
    val s3 = log.rewrite("compact")(_.coalesce(1))
    assert(s3.version == 3 && s3.rows == 25)
  }

  test("resolved rewrite carries a concurrent stream batch's txn watermark") {
    val dir = freshTable()
    val log = SnapshotLog(spark, dir)
    log.append(mkRows(0, 20).toDF("id", "payload").repartition(3))
    val s = log.rewrite("compact") { df =>
      // an exactly-once stream batch lands mid-rewrite; dropping its
      // watermark on resolution would let a replay re-append the batch
      SnapshotLog(spark, dir)
        .appendStream(mkRows(1, 6).toDF("id", "payload"), "ingest", 41L)
      df.coalesce(1)
    }
    assert(s.txns.get("ingest").contains(41L),
      "resolution must carry the interleaved append's txns watermark")
    assert(log.appendStream(
        mkRows(1, 6).toDF("id", "payload"), "ingest", 41L).isEmpty,
      "the batch must still read as committed after the resolved rewrite")
    assert(rowsOf(log) == (mkRows(0, 20) ++ mkRows(1, 6)).sorted)
  }

  test("compactSmall resolves a concurrent append without touching its files") {
    import graft.table.InMemoryCommitStore
    // compactSmall has no transform hook to interleave through, so the
    // race is injected at the store's conditional put: the first
    // manifest publish triggers a concurrent append through a second
    // writer, so compactSmall's CAS loses exactly once and must resolve.
    val dir = freshTable()
    val inner = new InMemoryCommitStore
    val racer = new RacingCommitStore(inner)(
      SnapshotLog(spark, dir, Nil, inner)
        .append(mkRows(9, 6).toDF("id", "payload")))
    val log = SnapshotLog(spark, dir, Nil, racer)
    (0 until 4).foreach(r => log.append(mkRows(r, 8).toDF("id", "payload")))
    racer.arm()
    val Some(s) = log.compactSmall(targetFileBytes = 1L << 30): @unchecked
    assert(s.op == "compact" && s.parent == 5,
      s"compactSmall must land after the append it lost the slot to: $s")
    assert(s.rows == 38, "resolved manifest rows = 4×8 compacted + 6 appended")
    assert(rowsOf(log) ==
      ((0 until 4).flatMap(mkRows(_, 8)) ++ mkRows(9, 6)).sorted,
      "the interleaved append's rows must survive")
  }

  test("rewrite verifies rows before commit; a row-losing transform aborts") {
    val log = SnapshotLog(spark, freshTable())
    log.append(mkRows(0, 30).toDF("id", "payload"))
    val ex = intercept[IllegalStateException] {
      log.rewrite("bad")(_.limit(10))
    }
    assert(ex.getMessage.contains("row-count mismatch"))
    assert(log.currentVersion() == 1 && rowsOf(log) == mkRows(0, 30).sorted,
      "failed rewrite must leave the table untouched")
  }

  test("compaction through the log: fewer files, same rows, old version still readable") {
    val log = SnapshotLog(spark, freshTable())
    (0 until 3).foreach(r =>
      log.append(mkRows(r, 40).toDF("id", "payload").repartition(4)))
    val before = log.snapshot()
    assert(before.files.size == 12)
    val Some(c) = log.compact(targetFileBytes = 1L << 30): @unchecked
    assert(c.op == "compact" && c.files.size == 1 && c.rows == 120)
    assert(rowsOf(log) == (0 until 3).flatMap(mkRows(_, 40)).sorted)
    assert(rowsOf(log, v = before.version) == rowsOf(log, v = c.version),
      "pre-compaction snapshot must read identically mid-retention")
    assert(log.compact(targetFileBytes = 1L << 30).isEmpty,
      "already-compact table must be a no-op")
  }

  test("concurrent appenders all land: the manifest CAS serializes, none are lost") {
    val dir = freshTable()
    SnapshotLog(spark, dir).append(mkRows(99, 1).toDF("id", "payload"))
    val threads = 4
    val perThread = 3
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val pool = (0 until threads).map { t =>
      new Thread(() =>
        try {
          val log = SnapshotLog(spark, dir)
          (0 until perThread).foreach(r =>
            log.append(mkRows(t * 10 + r, 5).toDF("id", "payload")))
        } catch { case e: Throwable => errors.add(e) })
    }
    pool.foreach(_.start()); pool.foreach(_.join())
    assert(errors.isEmpty, s"concurrent appends failed: ${errors.peek()}")
    val log = SnapshotLog(spark, dir)
    assert(log.currentVersion() == 1 + threads * perThread,
      "every append must occupy its own version slot")
    val expected = (mkRows(99, 1) ++ (for {
      t <- 0 until threads; r <- 0 until perThread; row <- mkRows(t * 10 + r, 5)
    } yield row)).sorted
    assert(rowsOf(log) == expected, "no append may be lost or duplicated")
  }

  test("conditional-put store: the full contention matrix holds on the object-store seam") {
    import graft.table.InMemoryCommitStore
    // ONE shared store plays the object store; every thread gets its own
    // SnapshotLog over it, like N writers against one S3 bucket. The
    // conditional put is the only atomicity the protocol receives.
    val dir = freshTable()
    val mock = new InMemoryCommitStore
    def logOn() = SnapshotLog(spark, dir, Nil, mock)
    logOn().append(mkRows(99, 1).toDF("id", "payload"))
    assert(logOn().currentVersion() == 1, "manifests live in the store, not the FS")
    assert(!new java.io.File(dir, SnapshotLog.LogDirName).exists(),
      "no filesystem manifest may exist — the store is the metadata plane")

    // CAS slot contention: occupy the next slot out-of-band; a fresh
    // append must lose that slot and land on the one after
    mock.putIfAbsent("v" + "0" * 18 + "02.json",
      mock.get("v" + "0" * 18 + "01.json").get)
    val s = logOn().append(mkRows(98, 2).toDF("id", "payload"))
    assert(s.version == 3, "occupied slot must force the retry path")

    // 4-thread stress: every append lands exactly once
    val threads = 4
    val perThread = 3
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val pool = (0 until threads).map { t =>
      new Thread(() =>
        try {
          val log = logOn()
          (0 until perThread).foreach(r =>
            log.append(mkRows(t * 10 + r, 5).toDF("id", "payload")))
        } catch { case e: Throwable => errors.add(e) })
    }
    pool.foreach(_.start()); pool.foreach(_.join())
    assert(errors.isEmpty, s"concurrent appends failed: ${errors.peek()}")
    assert(logOn().currentVersion() == 3 + threads * perThread)
    // the forged v2 slot holds a copy of v1's manifest, which names the
    // SAME file — the live set unions by name, so nothing duplicates
    val expected = (mkRows(99, 1) ++ mkRows(98, 2) ++ (for {
      t <- 0 until threads; r <- 0 until perThread; row <- mkRows(t * 10 + r, 5)
    } yield row)).sorted
    assert(rowsOf(logOn()) == expected, "no append may be lost or duplicated")

    // rewrite-vs-append races resolve through the store's CAS exactly as
    // on the FS: the appended file carries into the rewrite's manifest
    val preRace = logOn().snapshot().rows
    val resolved = logOn().rewrite("compact") { df =>
      logOn().append(mkRows(97, 2).toDF("id", "payload"))
      df.coalesce(1)
    }
    assert(resolved.rows == preRace + 2,
      "append interleaved on the object-store seam must carry forward")
    // a row-removing interleave still aborts through the same seam
    val ex = intercept[CommitConflictException] {
      logOn().rewrite("compact") { df =>
        logOn().deleteBetween("id", 97000, 97001)
        df.coalesce(1)
      }
    }
    assert(ex.getMessage.contains("delete"))

    // exactly-once stream replay rides the same store
    val s1 = logOn().appendStream(mkRows(50, 3).toDF("id", "payload"), "app", 7L)
    assert(s1.isDefined)
    assert(logOn().appendStream(mkRows(50, 3).toDF("id", "payload"), "app", 7L).isEmpty,
      "replayed batch must be skipped via the store-held txn watermark")
  }

  test("log-backed clustering: per-file key ranges are disjoint after the rewrite") {
    val log = SnapshotLog(spark, freshTable())
    // three shuffled appends: every file spans nearly the full id range
    val r = new scala.util.Random(7)
    (0 until 3).foreach { run =>
      log.append(r.shuffle((0 until 400).toList)
        .map(i => (i, s"p-$run-$i")).toDF("id", "payload").repartition(2))
    }
    val bytes = log.snapshot().bytes
    val s = graft.jobs.LayoutJob.clusterByLog(log, Seq("id"),
      targetFileBytes = math.max(1L, bytes / 3))
    assert(s.op == "cluster" && s.files.size >= 2, s"want a multi-file layout: $s")
    val ranges = s.files.map { f =>
      val one = spark.read.parquet(new java.io.File(log.tableDir,
        s"${SnapshotLog.DataDirName}/$f").toString)
      val mm = one.agg(org.apache.spark.sql.functions.min("id"),
        org.apache.spark.sql.functions.max("id")).head()
      (mm.getInt(0), mm.getInt(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) =>
        assert(hi < lo2, s"file ranges overlap after clustering: $ranges")
      case _ =>
    }
  }

  test("manifest stats prune reads at planning time: clustered range read opens one file") {
    val dir = freshTable()
    val log = SnapshotLog(spark, dir, statsColumns = Seq("id"))
    val r = new scala.util.Random(11)
    (0 until 3).foreach { run =>
      log.append(r.shuffle((0 until 600).toList)
        .map(i => (i, s"p-$run-$i")).toDF("id", "payload").repartition(2))
    }
    val expected = (0 until 3).flatMap(run =>
      (0 to 50).map(i => (i, s"p-$run-$i"))).sorted

    // append-order layout: every file spans ~the full id range — stats
    // exist but can prune nothing
    val before = log.snapshot()
    assert(before.stats.size == 6 && before.stats.values.forall(_.contains("id")))
    val unclustered = log.readBetween("id", 0, 50)
    assert(unclustered.as[(Int, String)].collect().toSeq.sorted == expected)
    assert(unclustered.inputFiles.length == 6, "overlapping ranges keep every file")

    val s = graft.jobs.LayoutJob.clusterByLog(log, Seq("id"),
      targetFileBytes = math.max(1L, before.bytes / 3))
    assert(s.files.size >= 3 && s.stats.size == s.files.size,
      s"rewrite must re-derive stats for its files: $s")
    val pruned = log.readBetween("id", 0, 50)
    assert(pruned.as[(Int, String)].collect().toSeq.sorted == expected,
      "pruned read must return exactly the predicate's rows")
    assert(pruned.inputFiles.length == 1,
      s"disjoint ranges + manifest stats must open ONE file, " +
        s"opened ${pruned.inputFiles.length} of ${s.files.size}")
    // a range outside every file's bounds reads nothing and opens nothing extra
    val empty = log.readBetween("id", 10000, 20000)
    assert(empty.count() == 0)
  }

  test("hidden partitioning: day+bucket tuples recorded per file; source columns intact") {
    val dir = freshTable()
    val log = SnapshotLog.partitioned(spark, dir, Seq(
      graft.table.PartitionField.day("ts"),
      graft.table.PartitionField.bucket("uid", 4)))
    val rows = (0 until 200).map { i =>
      (java.sql.Timestamp.valueOf(s"2024-03-${10 + i % 3} 12:00:00"),
        i.toLong % 8, s"ev-$i")
    }
    val s = log.append(rows.toDF("ts", "uid", "payload"))
    // every file carries exactly one (day, bucket) tuple
    assert(s.partitionSpec.map(_.transform) == Seq("day", "bucket[4]"))
    assert(s.files.nonEmpty && s.files.forall(f => s.partitions.contains(f)))
    val tuples = s.files.map(s.partitions).toSet
    assert(tuples.forall(_.size == 2))
    assert(tuples.map(_.head).size == 3, s"3 distinct days expected: $tuples")
    // the data files keep the SOURCE columns — hidden partitioning
    // never rewrites user schema
    val back = log.read()
    assert(back.columns.toSeq == Seq("ts", "uid", "payload"))
    assert(back.count() == 200)
    // a reader constructed WITHOUT the spec sees and keeps it
    val reader = SnapshotLog(spark, dir)
    val s2 = reader.append(Seq(
      (java.sql.Timestamp.valueOf("2024-03-20 00:00:00"), 1L, "late"))
      .toDF("ts", "uid", "payload"))
    assert(s2.partitionSpec == s.partitionSpec,
      "the manifest spec is authoritative for spec-less writers")
    assert(s2.files.filterNot(s.files.toSet).forall(s2.partitions.contains))
    // a conflicting spec is rejected before it can prune unsoundly
    val bad = SnapshotLog.partitioned(spark, dir,
      Seq(graft.table.PartitionField.day("ts")))
    intercept[IllegalArgumentException] {
      bad.append(rows.take(1).toDF("ts", "uid", "payload"))
    }
  }

  test("hidden partitioning prunes reads on source-column predicates, no stats needed") {
    val dir = freshTable()
    val log = SnapshotLog.partitioned(spark, dir, Seq(
      graft.table.PartitionField.day("ts"),
      graft.table.PartitionField.bucket("uid", 4)))
    val rows = (0 until 300).map { i =>
      (java.sql.Timestamp.valueOf(s"2024-03-${10 + i % 3} 12:00:00"),
        i.toLong % 8, s"ev-$i")
    }
    log.append(rows.toDF("ts", "uid", "payload"))
    val s = log.snapshot()
    assert(s.stats.isEmpty, "fixture deliberately records no footer stats")
    // one-day read: only that day's files open (bucket spreads each day
    // over up to 4 files)
    val day = log.readBetween("ts",
      java.sql.Timestamp.valueOf("2024-03-11 00:00:00"),
      java.sql.Timestamp.valueOf("2024-03-11 23:59:59"))
    val expectDay = rows.filter(_._1.toString.startsWith("2024-03-11"))
    assert(day.collect().length == expectDay.size)
    val dayFiles = s.files.filter(f => s.partitions(f).head == "19793")
    assert(day.inputFiles.length == dayFiles.size &&
      day.inputFiles.length < s.files.size,
      s"day read must open only day files: ${day.inputFiles.length} of ${s.files.size}")
    // point lookup on the bucket column: only matching-bucket files open
    val key = log.readKeys("uid", Seq(5L))
    assert(key.collect().length == rows.count(_._2 == 5L))
    assert(key.inputFiles.length <= s.files.size / 2,
      s"bucket pruning must skip non-candidate buckets: ${key.inputFiles.length}")
    // conjunctive day+key read composes both gates down to ≤ 1-2 files
    val both = log.readWhere(
      ("ts", java.sql.Timestamp.valueOf("2024-03-11 00:00:00"),
        java.sql.Timestamp.valueOf("2024-03-11 23:59:59")),
      ("uid", 5L, 5L))
    assert(both.collect().length ==
      expectDay.count(_._2 == 5L))
    assert(both.inputFiles.length < dayFiles.size || dayFiles.size == 1,
      "composed gates must beat the single-day cut")
    // countWhere answers a whole-day count from the manifest alone
    assert(log.countWhere(("ts",
      java.sql.Timestamp.valueOf("2024-03-11 00:00:00"),
      java.sql.Timestamp.valueOf("2024-03-11 23:59:59.999999"))) ==
      expectDay.size)
    // DATE-typed bounds: ColRange.num reports dates in epoch DAYS, not
    // micros — the day transform must still prune soundly (regression:
    // a unit mix-up here silently returned zero rows)
    val viaDate = log.readBetween("ts",
      java.sql.Date.valueOf("2024-03-11"), java.sql.Date.valueOf("2024-03-12"))
    // residual casts the date bounds to midnight timestamps: exactly
    // day-11's noon events match (day-12's noon exceeds 12 midnight)
    assert(viaDate.collect().length == expectDay.size,
      "date-typed bounds must neither over-prune nor over-match")
    assert(viaDate.inputFiles.length < s.files.size,
      "date bounds still prune at the day-partition level")
  }

  test("month transform: calendar pruning across a leap February, metadata-only month drop") {
    val dir = freshTable()
    val log = SnapshotLog.partitioned(spark, dir,
      Seq(graft.table.PartitionField.month("ts")))
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val rows = Seq(
      ts("2024-01-15 10:00:00") -> "jan-a", ts("2024-01-31 23:59:59") -> "jan-b",
      ts("2024-02-01 00:00:00") -> "feb-a", ts("2024-02-29 23:59:59") -> "feb-b",
      ts("2024-03-01 00:00:00") -> "mar-a", ts("2024-03-20 12:00:00") -> "mar-b")
    log.append(rows.toDF("ts", "payload"))
    val s = log.snapshot()
    assert(s.files.map(f => s.partitions(f).head).toSet == Set("648", "649", "650"),
      "epoch months for 2024-01/02/03")
    // whole-February read prunes to the Feb partition only
    val feb = log.readBetween("ts",
      ts("2024-02-01 00:00:00"), ts("2024-02-29 23:59:59.999999"))
    assert(feb.as[(java.sql.Timestamp, String)].collect().map(_._2).sorted.toSeq
      == Seq("feb-a", "feb-b"))
    assert(feb.inputFiles.length < s.files.size)
    // whole-month delete is metadata-only despite the 29-day leap month
    val sd = log.deleteBetween("ts",
      ts("2024-02-01 00:00:00"), ts("2024-02-29 23:59:59.999999")).get
    assert(sd.files.forall(s.files.toSet),
      "a whole-leap-February delete must stage no new files")
    assert(sd.rows == 4 && log.read().count() == 4)
    // a 28-day predicate does NOT contain leap February: it rewrites
    val log2dir = freshTable()
    val log2 = SnapshotLog.partitioned(spark, log2dir,
      Seq(graft.table.PartitionField.month("ts")))
    log2.append(rows.toDF("ts", "payload"))
    val before2 = log2.snapshot().files.toSet
    val sd2 = log2.deleteBetween("ts",
      ts("2024-02-01 00:00:00"), ts("2024-02-28 23:59:59.999999")).get
    assert(!sd2.files.forall(before2),
      "Feb 29 survives, so the Feb file must REWRITE, not drop")
    assert(log2.read().where(org.apache.spark.sql.functions.col("payload")
      .startsWith("feb")).count() == 1)
  }

  test("whole-partition delete is metadata-only; straddling deletes still rewrite") {
    val dir = freshTable()
    val log = SnapshotLog.partitioned(spark, dir,
      Seq(graft.table.PartitionField.day("ts")))
    val rows = (0 until 120).map { i =>
      (java.sql.Timestamp.valueOf(s"2024-03-${10 + i % 3} ${10 + i % 10}:00:00"),
        s"ev-$i")
    }
    log.append(rows.toDF("ts", "payload"))
    val before = log.snapshot()
    // drop one whole day: no data file may be opened or written
    val s = log.deleteBetween("ts",
      java.sql.Timestamp.valueOf("2024-03-11 00:00:00"),
      java.sql.Timestamp.valueOf("2024-03-11 23:59:59.999999")).get
    assert(s.op == "delete")
    val expectLeft = rows.filterNot(_._1.toString.startsWith("2024-03-11"))
    assert(s.rows == expectLeft.size, "manifest rows must drop by the day's count")
    assert(s.files.forall(before.files.toSet),
      "a whole-partition delete stages NO new files — manifest-only")
    assert(log.read().count() == expectLeft.size)
    // time travel still reads the deleted day
    assert(log.read(before.version).count() == rows.size)
    // a half-day predicate straddles the partition: that file rewrites
    val s2 = log.deleteBetween("ts",
      java.sql.Timestamp.valueOf("2024-03-12 00:00:00"),
      java.sql.Timestamp.valueOf("2024-03-12 13:59:59")).get
    val expectLeft2 = expectLeft.filterNot(r =>
      r._1.toString.startsWith("2024-03-12") && r._1.getHours < 14)
    assert(s2.rows == expectLeft2.size)
    assert(log.read().as[(java.sql.Timestamp, String)].collect().toSeq.sorted ==
      expectLeft2.sorted)
  }

  test("partitioned tables survive compaction and merge with tuples re-derived") {
    val dir = freshTable()
    val log = SnapshotLog.partitioned(spark, dir,
      Seq(graft.table.PartitionField.identity("grp")),
      statsColumns = Seq("id"))
    (0 until 3).foreach { run =>
      log.append((0 until 40).map(i => (run * 100 + i, (i % 2).toLong, s"r$run-$i"))
        .toDF("id", "grp", "payload").repartition(2))
    }
    val before = log.snapshot()
    assert(before.files.forall(before.partitions.contains))
    // compaction re-stages: tuples must be re-derived for packed files
    val sc = log.compact(targetFileBytes = Long.MaxValue).get
    assert(sc.rows == before.rows)
    assert(sc.files.forall(sc.partitions.contains),
      "compacted files must carry re-derived partition tuples")
    assert(sc.files.map(f => sc.partitions(f).head).toSet == Set("0", "1"))
    // identity pruning after the rewrite
    val g0 = log.readBetween("grp", 0L, 0L)
    assert(g0.count() == 60 && g0.inputFiles.length < sc.files.size)
    // merge by key keeps tuples for rewritten + inserted rows
    val sm = log.mergeByKey(Seq((5, 1L, "updated"), (999, 0L, "new"))
      .toDF("id", "grp", "payload"), "id")
    assert(sm.files.forall(sm.partitions.contains))
    val merged = log.read()
      .where(org.apache.spark.sql.functions.col("id").isin(5, 999))
      .as[(Int, Long, String)].collect().map(r => r._1 -> r._3).toMap
    assert(merged == Map(5 -> "updated", 999 -> "new"))
    assert(log.read().count() == before.rows + 1)
  }

  test("metadata tables: historyMeta and filesMeta expose the planner's view") {
    val spark2 = spark
    import spark2.implicits._
    val dir = freshTable()
    val log = SnapshotLog.partitioned(spark, dir,
      Seq(graft.table.PartitionField.identity("grp")),
      statsColumns = Seq("id"))
    log.append((0 until 40).map(i => (i, (i % 2).toLong, s"v$i"))
      .toDF("id", "grp", "payload"))
    log.deleteBetween("grp", 1L, 1L)
    val h = log.historyMeta().orderBy("version")
      .select("version", "op", "rows", "n_files")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(h.map(r => (r._1, r._2, r._3)) == Seq((1L, "append", 40L), (2L, "delete", 20L)))
    // every committed manifest carries its commit wall-clock, in order
    val clocks = log.historyMeta().orderBy("version")
      .select("commit_ts").as[Long].collect().toSeq
    assert(clocks.forall(_ > 0L) && clocks == clocks.sorted)
    val files = log.filesMeta().collect()
    assert(files.length == log.snapshot().files.size)
    files.foreach { r =>
      assert(r.getSeq[String](r.fieldIndex("partition")) == Seq("0"),
        "only grp=0 files survive the delete")
      assert(r.getMap[String, String](r.fieldIndex("stats")).contains("id"))
      assert(r.getAs[Long]("rows") > 0)
    }
    // time travel: the pre-delete inventory still lists both partitions
    val before = log.filesMeta(1).collect()
      .map(r => r.getSeq[String](r.fieldIndex("partition")).head).toSet
    assert(before == Set("0", "1"))
  }

  test("partition evolution: a spec added to an unpartitioned table never prunes old files") {
    val dir = freshTable()
    def ts(d: Int) = java.sql.Timestamp.valueOf(f"2024-03-$d%02d 12:00:00")
    val plain = SnapshotLog(spark, dir)
    plain.append((0 until 60).map(i => (ts(10 + i % 3), s"old-$i"))
      .toDF("ts", "payload").coalesce(2))
    // evolution: later writers declare day(ts); the spec persists
    val parted = SnapshotLog.partitioned(spark, dir,
      Seq(graft.table.PartitionField.day("ts")))
    val s2 = parted.append((0 until 60).map(i => (ts(11 + i % 3), s"new-$i"))
      .toDF("ts", "payload"))
    assert(s2.partitionSpec.map(_.transform) == Seq("day"))
    val oldFiles = plain.snapshot(1).files.toSet
    assert(oldFiles.forall(f => !s2.partitions.contains(f)),
      "pre-spec files carry no tuple")
    // a day-11 read keeps EVERY old file (absence never prunes) plus
    // exactly the new day-11 file; day-13 keeps old files + day-13 only
    val day11 = parted.readBetween("ts",
      java.sql.Timestamp.valueOf("2024-03-11 00:00:00"),
      java.sql.Timestamp.valueOf("2024-03-11 23:59:59"))
    assert(day11.count() == 20 + 20, "old day-11 rows + new day-11 rows")
    val opened = day11.inputFiles.map(p => p.substring(p.lastIndexOf('/') + 1)).toSet
    assert(oldFiles.subsetOf(opened), "unsound to prune a tuple-less file")
    assert((opened -- oldFiles).size == 1, "exactly one new-day file may open")
    // and correctness equals the unpruned filter
    val full = parted.read().where(
      org.apache.spark.sql.functions.col("ts").between(
        org.apache.spark.sql.functions.lit("2024-03-11 00:00:00"),
        org.apache.spark.sql.functions.lit("2024-03-11 23:59:59"))).count()
    assert(day11.count() == full)
  }

  test("segmented manifests past the inline limit: appends reuse segments, reads identical, vacuum GCs") {
    val dir = freshTable()
    val log = SnapshotLog(spark, dir, statsColumns = Seq("id"))
    // 5 appends × 20 files: crosses InlineFileLimit (64) at append 4
    (0 until 5).foreach { run =>
      log.append((0 until 200).map(i => (run * 1000 + i, s"r$run-$i"))
        .toDF("id", "payload").repartition(20))
    }
    val logDir = new java.io.File(dir, SnapshotLog.LogDirName)
    def segsOf(v: Int): Seq[String] = {
      val txt = new String(java.nio.file.Files.readAllBytes(
        logDir.toPath.resolve(f"v$v%020d.json")))
      "seg-[0-9a-f-]+\\.json".r.findAllIn(txt).toSeq
    }
    assert(segsOf(3).isEmpty, "60 files stay inline")
    assert(segsOf(4).size == 1, "first segmented commit folds all 80 files into one segment")
    assert(segsOf(5).size == 2 && segsOf(5).contains(segsOf(4).head),
      "append 5 must REUSE the parent segment and add one for its 20 new files")
    // the manifest itself stopped growing with the table: it lists
    // segment names, not per-file metadata
    val inline60 = logDir.toPath.resolve(f"v${3}%020d.json").toFile.length()
    val seg100 = logDir.toPath.resolve(f"v${5}%020d.json").toFile.length()
    assert(seg100 < inline60 / 4,
      s"segmented manifest ($seg100 B) must be far smaller than the 60-file inline one ($inline60 B)")
    // the materialized snapshot is complete: stats/rows for all 100 files
    val s = log.snapshot()
    assert(s.files.size == 100 && s.stats.size == 100 && s.fileRows.size == 100)
    // reads and pruning work identically from segment-held stats
    assert(log.read().count() == 1000)
    assert(log.readBetween("id", 0, 199).count() == 200)
    assert(log.countRows() == 1000)
    // time travel across the layout switch
    assert(log.read(2).count() == 400)
    assert(log.read(5).count() == 1000)
    // a fresh handle (cold caches) assembles the same snapshot
    val cold = SnapshotLog(spark, dir, statsColumns = Seq("id"))
    assert(cold.snapshot().files.toSet == s.files.toSet)
    assert(cold.read().count() == 1000)
    // compaction shrinks below the limit -> back to inline; vacuum then
    // sweeps every now-unreferenced segment (grace 0 for the test)
    val sc = log.compact(targetFileBytes = Long.MaxValue).get
    assert(sc.files.size == 1 && segsOf(6).isEmpty)
    assert(log.read().count() == 1000)
    log.vacuum(keepLast = 1, graceMs = 0L)
    assert(!logDir.listFiles().exists(_.getName.startsWith("seg-")),
      "no retained manifest references a segment; all must be swept")
    assert(log.read().count() == 1000)
  }

  test("write-time sort order: appends land clustered; spec-less writers inherit it") {
    val dir = freshTable()
    val log = SnapshotLog.sorted(spark, dir, sortBy = Seq("id"),
      statsColumns = Seq("id"))
    val r = new scala.util.Random(7)
    // shuffled input, 4 partitions: each FILE must come out id-sorted,
    // so per-file [min,max] is tight without any maintenance pass
    val s = log.append(r.shuffle((0 until 400).toList)
      .map(i => (i, s"v$i")).toDF("id", "payload").repartition(4))
    assert(s.sortOrder == Seq("id"))
    assert(s.files.size == 4 && s.stats.size == 4)
    // every file is internally sorted by id
    s.files.foreach { f =>
      val ids = spark.read
        .parquet(s"$dir/${SnapshotLog.DataDirName}/$f")
        .select("id").as[Int].collect().toSeq
      assert(ids == ids.sorted, s"file $f must be id-sorted on write")
    }
    // a spec-less writer keeps clustering on write (manifest carries it)
    val plain = SnapshotLog(spark, dir, statsColumns = Seq("id"))
    val s2 = plain.append(r.shuffle((400 until 500).toList)
      .map(i => (i, s"v$i")).toDF("id", "payload").coalesce(1))
    assert(s2.sortOrder == Seq("id"))
    val newFile = s2.files.filterNot(s.files.toSet).head
    val ids2 = spark.read
      .parquet(s"$dir/${SnapshotLog.DataDirName}/$newFile")
      .select("id").as[Int].collect().toSeq
    assert(ids2 == ids2.sorted, "inherited sort order must apply")
    // compaction output stays clustered
    val sc = plain.compact(targetFileBytes = Long.MaxValue).get
    assert(sc.files.size == 1)
    val all = spark.read
      .parquet(s"$dir/${SnapshotLog.DataDirName}/${sc.files.head}")
      .select("id").as[Int].collect().toSeq
    assert(all == all.sorted, "compaction must re-arrange by the declared order")
    assert(plain.read().count() == 500)
  }

  test("schema evolution: added columns widen the read schema, type changes abort") {
    val log = SnapshotLog(spark, freshTable())
    log.append(Seq((1, "a")).toDF("id", "payload"))
    log.append(Seq((2, "b", 0.5)).toDF("id", "payload", "score"))
    val df = log.read()
    assert(df.columns.toSeq == Seq("id", "payload", "score"))
    val byId = df.select("id", "score").collect()
      .map(r => r.getInt(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    assert(byId == Map(1 -> None, 2 -> Some(0.5)),
      "pre-evolution files must read the new column as null")
    assert(log.read(1).columns.toSeq == Seq("id", "payload"),
      "time travel reads under the version's own schema")
    val ex = intercept[IllegalStateException] {
      log.append(Seq(("x", "c")).toDF("id", "payload"))
    }
    assert(ex.getMessage.contains("cannot change column 'id'"))
    assert(log.currentVersion() == 2, "failed evolution must not commit")
  }

  test("exactly-once streaming appends: replayed micro-batches commit nothing") {
    val log = SnapshotLog(spark, freshTable())
    assert(log.appendStream(mkRows(0, 10).toDF("id", "payload"), "ingest", 0L).isDefined)
    assert(log.appendStream(mkRows(0, 10).toDF("id", "payload"), "ingest", 0L).isEmpty,
      "an immediate replay of the same batch must be skipped")
    assert(log.appendStream(mkRows(1, 10).toDF("id", "payload"), "ingest", 1L).isDefined)
    assert(log.appendStream(mkRows(0, 10).toDF("id", "payload"), "ingest", 0L).isEmpty,
      "a late replay of an old batch must be skipped")
    // an independent writer's batch ids don't collide with ingest's
    assert(log.appendStream(mkRows(2, 10).toDF("id", "payload"), "backfill", 0L).isDefined)
    assert(log.currentVersion() == 3)
    assert(log.snapshot().txns == Map("ingest" -> 1L, "backfill" -> 0L))
    assert(rowsOf(log) == (0 until 3).flatMap(mkRows(_, 10)).sorted,
      "every batch exactly once")
  }

  test("foreachBatch through the log: a bounded stream lands exactly once") {
    val src = Files.createTempDirectory("graft-log-src-").toString
    mkRows(5, 60).toDF("id", "payload").repartition(3)
      .write.mode("overwrite").parquet(src)
    val log = SnapshotLog(spark, freshTable())
    val schema = spark.read.parquet(src).schema
    val q = spark.readStream.schema(schema).parquet(src)
      .writeStream
      .foreachBatch(log.streamSink("e2e"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation",
        Files.createTempDirectory("graft-log-ckpt-").toString)
      .start()
    q.awaitTermination(120000)
    assert(rowsOf(log) == mkRows(5, 60).sorted)
    assert(log.snapshot().txns.contains("e2e"))
    // the stream's own replay path: re-delivering the committed batch id
    // through the sink function commits nothing
    val v = log.currentVersion()
    log.streamSink("e2e")(mkRows(5, 60).toDF("id", "payload"), 0L)
    assert(log.currentVersion() == v && rowsOf(log) == mkRows(5, 60).sorted)
  }

  test("streaming sink into a hidden-partitioned table: tuples recorded, exactly once") {
    val src = Files.createTempDirectory("graft-log-psrc-").toString
    (0 until 90).map(i => (i, (i % 3).toLong, s"p$i"))
      .toDF("id", "grp", "payload").repartition(3)
      .write.mode("overwrite").parquet(src)
    val log = SnapshotLog.partitioned(spark, freshTable(),
      Seq(graft.table.PartitionField.identity("grp")))
    val schema = spark.read.parquet(src).schema
    val q = spark.readStream.schema(schema).parquet(src)
      .writeStream
      .foreachBatch(log.streamSink("pstream"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation",
        Files.createTempDirectory("graft-log-pckpt-").toString)
      .start()
    q.awaitTermination(120000)
    val s = log.snapshot()
    assert(log.read().count() == 90 && s.txns.contains("pstream"))
    // every micro-batch staged through the partition transforms
    assert(s.files.nonEmpty && s.files.forall(s.partitions.contains))
    assert(s.files.map(f => s.partitions(f).head).toSet == Set("0", "1", "2"))
    val g = log.readBetween("grp", 2L, 2L)
    assert(g.count() == 30 && g.inputFiles.length < s.files.size)
    // replaying a committed batch id through the sink commits nothing
    val v = log.currentVersion()
    log.streamSink("pstream")(
      (0 until 9).map(i => (i, 0L, s"dup$i")).toDF("id", "grp", "payload"), 0L)
    assert(log.currentVersion() == v && log.read().count() == 90)
  }

  test("z-order through the log: manifest stats prune on EITHER curve dimension") {
    val dir = freshTable()
    val log = SnapshotLog(spark, dir, statsColumns = Seq("x", "y"))
    val r = new scala.util.Random(17)
    // 40x40 grid, shuffled: append-order files span both dimensions fully
    log.append(r.shuffle((for (x <- 0 until 40; y <- 0 until 40)
      yield (x, y, s"c-$x-$y")).toList)
      .toDF("x", "y", "payload").repartition(4))
    val before = log.snapshot()
    val s = graft.jobs.LayoutJob.zorderByLog(log, Seq("x", "y"),
      targetFileBytes = math.max(1L, before.bytes / 4), bitsPerCol = 6)
    assert(s.op == "zorder" && s.files.size >= 4, s"want a multi-file layout: $s")
    assert(s.stats.values.forall(m => m.contains("x") && m.contains("y")))
    // a narrow slice on EACH dimension alone must skip files from the
    // manifest — the multi-column property lexicographic sort can't give
    Seq("x", "y").foreach { c =>
      val pruned = log.readBetween(c, 0, 4)
      assert(pruned.inputFiles.length < s.files.size,
        s"slice on $c alone must prune: opened ${pruned.inputFiles.length} " +
          s"of ${s.files.size}")
      assert(pruned.count() == 5 * 40, s"slice on $c must keep exact rows")
    }
    // and the conjunction composes: an (x, y) box opens at most what
    // either single-dimension slice does
    val box = log.readWhere(("x", 0, 4), ("y", 0, 4))
    assert(box.count() == 25, "box must keep exactly the 5x5 corner")
    val singleDim = Seq("x", "y").map(c => log.readBetween(c, 0, 4).inputFiles.length)
    assert(box.inputFiles.length <= singleDim.min,
      s"conjunctive pruning must not open more than either slice: " +
        s"box=${box.inputFiles.length} singles=$singleDim of ${s.files.size}")
  }

  test("box delete on a z-ordered table rewrites only the crossed curve cells") {
    val dir = freshTable()
    val log = SnapshotLog(spark, dir, statsColumns = Seq("x", "y"))
    val r = new scala.util.Random(31)
    log.append(r.shuffle((for (x <- 0 until 40; y <- 0 until 40)
      yield (x, y, s"c-$x-$y")).toList)
      .toDF("x", "y", "payload").repartition(4))
    val s = graft.jobs.LayoutJob.zorderByLog(log, Seq("x", "y"),
      targetFileBytes = math.max(1L, log.snapshot().bytes / 4), bitsPerCol = 6)
    val Some(d) = log.deleteWhere(("x", 0, 4), ("y", 0, 4)): @unchecked
    assert(d.rows == 1600 - 25, s"exactly the 5x5 corner goes: $d")
    val carried = s.files.count(d.files.contains)
    assert(carried > 0, "pruning must carry at least one file over by name")
    // the box crosses at most as many cells as either 1-D slice touches
    val sliceTouches = Seq("x", "y").map(c =>
      s.files.count(f => s.stats(f)(c).intersects(0, 4)))
    assert(s.files.size - carried <= sliceTouches.min,
      s"box delete must rewrite no more files than either slice touches: " +
        s"rewrote ${s.files.size - carried}, slices touch $sliceTouches")
    val left = log.read()
    assert(left.count() == 1600 - 25)
    assert(left.where(
      org.apache.spark.sql.functions.col("x") <= 4 &&
        org.apache.spark.sql.functions.col("y") <= 4).count() == 0)
  }

  test("change feed: append deltas only, identity across compaction, deletes surface as their op") {
    val log = SnapshotLog(spark, freshTable())
    log.append(mkRows(0, 30).toDF("id", "payload"))             // v1
    log.append(mkRows(1, 20).toDF("id", "payload"))             // v2
    // append delta: the feed from v1 is exactly run 1's rows
    assert(log.readChanges(1).as[(Int, String)].collect().toSeq.sorted
      == mkRows(1, 20).sorted)
    // full feed from the origin is the whole table
    assert(log.readChanges(0).count() == 50)
    val v2 = log.currentVersion()
    val compacted = log.compact(targetFileBytes = 1L << 30)
    if (compacted.isDefined) {
      // post-compaction identity: physically everything changed,
      // logically nothing did — the feed across it is empty, and a
      // consumer at v1 still sees only run 1's rows (read from the
      // historical delta files by name, not from the live set)
      assert(log.readChanges(v2).count() == 0)
      assert(log.changes(v2).map(_.op) == Seq("compact"))
      assert(log.readChanges(1, v2).as[(Int, String)].collect().toSeq.sorted
        == mkRows(1, 20).sorted)
    }
    // delete: the feed contributes no rows, the op is visible
    val before = log.currentVersion()
    assert(log.deleteBetween("id", 0, 9).isDefined)
    assert(log.readChanges(before).count() == 0)
    assert(log.changes(before).map(_.op) == Seq("delete"))
    // empty range: schema intact, zero rows
    val head = log.currentVersion()
    val empty = log.readChanges(head)
    assert(empty.columns.toSeq == Seq("id", "payload") && empty.count() == 0)
  }

  test("merge-on-read delete: sparse keys commit without rewriting data; compaction materializes") {
    val log = SnapshotLog(spark, freshTable(), statsColumns = Seq("id"))
    log.append(mkRows(0, 40).toDF("id", "payload").repartition(2)) // v1
    val before = log.snapshot()
    // scattered keys that cross both files — a CoW delete would rewrite
    // the whole table; the MoR delete commits one tiny key file
    val keys = Seq(1, 15, 33)
    val s = log.deleteKeys("id", keys.toDF("id")).get
    assert(s.files == before.files, "no data file may be rewritten")
    assert(s.op == "delete_keys" && s.tombstones.size == 1)
    // reads apply the tombstones; time travel before the delete is exact
    assert(rowsOf(log) == mkRows(0, 40).filterNot(r => keys.contains(r._1)).sorted)
    assert(rowsOf(log, v = 1) == mkRows(0, 40).sorted)
    // pruned reads compose with tombstone application
    assert(log.readWhere(("id", 0, 20)).as[(Int, String)].collect().toSeq.sorted
      == mkRows(0, 40).filter(r => r._1 <= 20 && !keys.contains(r._1)).sorted)
    // vacuum must never sweep a retained manifest's tombstone file
    log.vacuum(keepLast = 1, graceMs = 0)
    assert(rowsOf(log) == mkRows(0, 40).filterNot(r => keys.contains(r._1)).sorted)
    // a re-inserted key is NOT swallowed: tombstones cover only the
    // files live at delete time
    log.append(Seq((1, "reborn")).toDF("id", "payload")) // v3
    assert(log.read().where($"id" === 1).as[(Int, String)].collect().toSeq
      == Seq((1, "reborn")))
    // CoW delete/merge refuse to run over pending tombstones
    assertThrows[IllegalArgumentException](log.deleteBetween("id", 0, 2))
    assertThrows[IllegalArgumentException](
      log.mergeByKey(Seq((2, "upd")).toDF("id", "payload"), "id"))
    // compaction materializes the tombstones and drops them
    val compacted = log.compact(targetFileBytes = 1L << 30).get
    assert(compacted.tombstones.isEmpty)
    assert(compacted.rows == 40 - keys.size + 1, "rows become the logical count")
    assert(rowsOf(log) ==
      (mkRows(0, 40).filterNot(r => keys.contains(r._1)) :+ ((1, "reborn"))).sorted)
    // the pre-compaction MoR version still reads its own truth
    assert(rowsOf(log, v = 3).count(_ == ((1, "reborn"))) == 1)
    assert(!rowsOf(log, v = 3).contains((15, "row-0-15")))
    // materialized: CoW delete works again
    assert(log.deleteBetween("id", 0, 0).isDefined)
  }

  test("appending an empty batch is a harmless version bump") {
    val log = SnapshotLog(spark, freshTable())
    log.append(mkRows(0, 10).toDF("id", "payload"))
    val s = log.append(spark.emptyDataset[(Int, String)].toDF("id", "payload"))
    assert(s.rows == 10 && s.version == 2)
    assert(rowsOf(log) == mkRows(0, 10).sorted)
  }

  test("predicate delete touches only stats-intersecting files (planner-chosen arm)") {
    val dir = freshTable()
    val log = SnapshotLog(spark, dir, statsColumns = Seq("id"))
    val r = new scala.util.Random(13)
    (0 until 3).foreach { run =>
      log.append(r.shuffle((0 until 600).toList)
        .map(i => (i, s"p-$run-$i")).toDF("id", "payload").repartition(2))
    }
    val clustered = graft.jobs.LayoutJob.clusterByLog(log, Seq("id"),
      targetFileBytes = math.max(1L, log.snapshot().bytes / 3))
    assert(clustered.files.size >= 3)

    val Some(d) = log.deleteBetween("id", 0, 50): @unchecked
    assert(d.op == "delete" && d.rows == clustered.rows - 3 * 51,
      s"every copy of ids 0..50 must go: $d")
    // the matched fraction of the one intersecting file is ~25% — the
    // planner commits a deletion vector for it, every file carries
    val carried = clustered.files.filter(d.files.contains)
    assert(carried.size == clustered.files.size && d.dvs.size == 1,
      s"one vectored file, zero rewrites " +
        s"(carried ${carried.size} of ${clustered.files.size}, dvs ${d.dvs.keySet})")
    val remaining = rowsOf(log)
    assert(remaining == (0 until 3).flatMap(run =>
      (51 until 600).map(i => (i, s"p-$run-$i"))).sorted)
    assert(rowsOf(log, v = clustered.version).count(_._1 <= 50) == 3 * 51,
      "time travel must still read the deleted rows")
    assert(log.deleteBetween("id", 10000, 20000).isEmpty,
      "a range no file can contain must not commit")
  }

  test("merge by key: updates rewrite one clustered file, inserts append") {
    val dir = freshTable()
    val log = SnapshotLog(spark, dir, statsColumns = Seq("id"))
    val r = new scala.util.Random(19)
    (0 until 3).foreach { run =>
      log.append(r.shuffle((0 until 600).toList)
        .map(i => (i, s"p-$run-$i")).toDF("id", "payload").repartition(2))
    }
    val clustered = graft.jobs.LayoutJob.clusterByLog(log, Seq("id"),
      targetFileBytes = math.max(1L, log.snapshot().bytes / 3))

    // narrow update batch confined to the lowest file's range
    val m1 = log.mergeByKey(
      (10 to 14).map(i => (i, s"UPDATED-$i")).toDF("id", "payload"), "id")
    assert(m1.op == "merge" && m1.rows == clustered.rows - 3 * 5 + 5,
      s"three copies of each key collapse to the update row: $m1")
    val carried = clustered.files.filter(m1.files.contains)
    assert(carried.size == clustered.files.size - 1,
      s"only the intersecting file may rewrite " +
        s"(carried ${carried.size} of ${clustered.files.size})")
    val after = rowsOf(log)
    assert((10 to 14).forall(i => after.contains((i, s"UPDATED-$i"))))
    assert(!after.exists { case (i, p) => (10 to 14).contains(i) && p.startsWith("p-") },
      "no stale copy of an updated key may survive")

    // insert-only batch beyond every file's range: pure append
    val m2 = log.mergeByKey(
      Seq((10000, "NEW-a"), (10001, "NEW-b")).toDF("id", "payload"), "id")
    assert(m2.rows == m1.rows + 2)
    assert(m1.files.forall(m2.files.contains),
      "insert-only merge must carry every existing file")
    assert(rowsOf(log).count(_._1 >= 10000) == 2)

    // per-key routing: a SCATTERED two-key batch spans nearly the whole
    // id range, so the [min, max] envelope would rewrite every clustered
    // file — routing by key rewrites only the two files that hold them
    val before = log.snapshot()
    val m3 = log.mergeByKey(
      Seq((5, "SCAT-lo"), (595, "SCAT-hi")).toDF("id", "payload"), "id")
    val carried3 = before.files.count(m3.files.contains)
    assert(carried3 >= before.files.size - 2,
      s"a two-key scattered merge must rewrite at most two files " +
        s"(carried $carried3 of ${before.files.size})")
    val after3 = rowsOf(log)
    assert(after3.contains((5, "SCAT-lo")) && after3.contains((595, "SCAT-hi")))
    assert(!after3.exists { case (i, p) => (i == 5 || i == 595) && p.startsWith("p-") })
  }

  test("timestamp stats: manifest pruning and typed bounds work on a time column") {
    val dir = freshTable()
    val log = SnapshotLog(spark, dir, statsColumns = Seq("ts"))
    val base = java.time.Instant.parse("2026-01-01T00:00:00Z")
    val r = new scala.util.Random(23)
    log.append(r.shuffle((0 until 600).toList)
      .map(i => (java.sql.Timestamp.from(base.plusSeconds(i * 3600L)), s"e-$i"))
      .toDF("ts", "payload").repartition(4))
    graft.jobs.LayoutJob.clusterByLog(log, Seq("ts"),
      targetFileBytes = math.max(1L, log.snapshot().bytes / 3))
    val s = log.snapshot()
    assert(s.files.size >= 3)
    // assert, not assume: stage() deterministically forces
    // TIMESTAMP_MICROS, so missing time stats is a feature regression
    assert(s.stats.nonEmpty && s.stats.values.forall(_.contains("ts")),
      "time columns must carry numeric footer stats (TIMESTAMP_MICROS staging broken?)")
    val lo = java.sql.Timestamp.from(base)
    val hi = java.sql.Timestamp.from(base.plusSeconds(49L * 3600))
    val pruned = log.readBetween("ts", lo, hi)
    assert(pruned.count() == 50, "typed bounds must select exactly the range")
    assert(pruned.inputFiles.length < s.files.size,
      s"a narrow time slice must prune: opened ${pruned.inputFiles.length} " +
        s"of ${s.files.size}")
  }

  test("range delete keeps NULL-keyed rows (SQL DELETE semantics)") {
    val log = SnapshotLog(spark, freshTable())
    val rows: Seq[(Option[Int], String)] =
      Seq((Some(1), "a"), (None, "null-row"), (Some(50), "b"), (Some(99), "c"))
    log.append(rows.toDF("id", "payload"))
    val Some(d) = log.deleteBetween("id", 0, 60): @unchecked
    assert(d.rows == 2, s"ids 1 and 50 go, NULL and 99 stay: $d")
    val left = log.read().select("payload").collect().map(_.getString(0)).sorted
    assert(left.toSeq == Seq("c", "null-row"),
      "a NULL key does not match a range predicate and must survive")
  }

  test("vacuum widening after a tighter pass skips already-swept versions") {
    val log = SnapshotLog(spark, freshTable())
    (0 until 4).foreach(r => log.append(mkRows(r, 10).toDF("id", "payload")))
    log.vacuum(keepLast = 1, graceMs = 0L)
    // the wider horizon references versions the tight pass already
    // dropped — it must skip them, not crash
    log.vacuum(keepLast = 3, graceMs = 0L)
    assert(rowsOf(log) == (0 until 4).flatMap(mkRows(_, 10)).sorted)
  }

  test("restore republishes an old version as a new commit, history intact") {
    val log = SnapshotLog(spark, freshTable())
    log.append(mkRows(0, 30).toDF("id", "payload"))
    log.append(mkRows(1, 30).toDF("id", "payload"))
    log.deleteBetween("id", 0, 5000) // the bad op: wipes everything
    assert(log.read().count() == 0)
    val r = log.restore(2)
    assert(r.op == "restore" && r.version == 4 && r.rows == 60,
      s"restore must be a NEW commit on top: $r")
    assert(rowsOf(log) == (mkRows(0, 30) ++ mkRows(1, 30)).sorted)
    // history kept: the bad version still reads (until vacuum)
    assert(log.read(3).count() == 0)
    // restore costs no data copy: the restored files ARE version 2's
    assert(r.files == log.snapshot(2).files)
  }

  test("randomized op interleaving matches an in-memory model at every step") {
    val log = SnapshotLog(spark, freshTable(), statsColumns = Seq("id"))
    val rnd = new scala.util.Random(29)
    var model: Map[Int, String] = (0 until 300).map(i => i -> s"v0-$i").toMap
    log.append(model.toSeq.toDF("id", "payload").repartition(3))
    var remembered = List.empty[(Long, Map[Int, String])]

    def check(where: String): Unit = {
      val got = log.read().as[(Int, String)].collect().toMap
      assert(got == model, s"table diverged from model after $where " +
        s"(missing=${(model.keySet -- got.keySet).take(5)}, " +
        s"extra=${(got.keySet -- model.keySet).take(5)})")
    }

    (1 to 18).foreach { step =>
      rnd.nextInt(5) match {
        case 0 =>
          val keys = Seq.fill(rnd.nextInt(20) + 1)(rnd.nextInt(400)).distinct
          val batch = keys.map(k => k -> s"v$step-$k")
          log.mergeByKey(batch.toDF("id", "payload"), "id")
          model ++= batch
          check(s"merge@$step")
        case 1 =>
          val lo = rnd.nextInt(400)
          val hi = lo + rnd.nextInt(50)
          log.deleteBetween("id", lo, hi)
          model = model.filter { case (k, _) => k < lo || k > hi }
          check(s"delete[$lo,$hi]@$step")
        case 2 =>
          log.compact(targetFileBytes = 1L << (14 + rnd.nextInt(3)))
          check(s"compact@$step")
        case 3 =>
          graft.jobs.LayoutJob.clusterByLog(log, Seq("id"),
            targetFileBytes = math.max(1L, log.snapshot().bytes / 3))
          check(s"cluster@$step")
        case 4 =>
          remembered ::= (log.currentVersion(), model)
      }
    }
    // time travel: every remembered version still reads as it was then
    remembered.take(3).foreach { case (v, m) =>
      val got = log.read(v).as[(Int, String)].collect().toMap
      assert(got == m, s"time travel to v$v diverged")
    }
    // and restore closes the loop: rolling back to a remembered version
    // reproduces the model of that moment as the CURRENT table
    remembered.headOption.foreach { case (v, m) =>
      log.restore(v)
      val got = log.read().as[(Int, String)].collect().toMap
      assert(got == m, s"restore to v$v must reproduce the remembered state")
    }
  }

  test("randomized op interleaving on a PARTITIONED+SORTED table matches the model") {
    // the partitioned twin of the model check: every staged write routes
    // through the identity(grp) transform + id sort order, deletes may
    // drop whole partitions metadata-only, merges route per key across
    // tuple-pure files, compaction re-derives tuples — 16 random steps
    // must stay row-identical to the in-memory model, with tuples intact
    val log = SnapshotLog.partitioned(spark, freshTable(),
      Seq(graft.table.PartitionField.identity("grp")),
      statsColumns = Seq("id"), sortBy = Seq("id"))
    val rnd = new scala.util.Random(41)
    def grpOf(k: Int): Long = (k % 5).toLong
    var model: Map[Int, String] = (0 until 300).map(i => i -> s"v0-$i").toMap
    def toDf(m: Seq[(Int, String)]) =
      m.map { case (k, p) => (k, grpOf(k), p) }.toDF("id", "grp", "payload")
    log.append(toDf(model.toSeq).repartition(3))
    var remembered = List.empty[(Long, Map[Int, String])]

    def check(where: String): Unit =
      if (model.isEmpty)
        assert(log.snapshot().rows == 0L, s"model empty but table is not after $where")
      else {
        val got = log.read().select("id", "payload")
          .as[(Int, String)].collect().toMap
        assert(got == model, s"partitioned table diverged from model after $where")
        val s = log.snapshot()
        assert(s.files.forall(s.partitions.contains),
          s"every live file must carry a tuple after $where")
        s.files.foreach(f => assert(s.partitions(f).head.toLong <= 4L))
      }

    (1 to 16).foreach { step =>
      rnd.nextInt(5) match {
        case 0 =>
          val keys = Seq.fill(rnd.nextInt(20) + 1)(rnd.nextInt(400)).distinct
          val batch = keys.map(k => k -> s"v$step-$k")
          log.mergeByKey(toDf(batch), "id")
          model ++= batch
          check(s"merge@$step")
        case 1 =>
          // range delete on the UNPARTITIONED column: stats route it
          val lo = rnd.nextInt(400)
          val hi = lo + rnd.nextInt(50)
          log.deleteBetween("id", lo, hi)
          model = model.filter { case (k, _) => k < lo || k > hi }
          check(s"delete-id[$lo,$hi]@$step")
        case 2 =>
          // whole-partition delete: metadata-only drop path
          val g = rnd.nextInt(5).toLong
          log.deleteBetween("grp", g, g)
          model = model.filter { case (k, _) => grpOf(k) != g }
          check(s"delete-grp[$g]@$step")
        case 3 =>
          log.compact(targetFileBytes = 1L << (14 + rnd.nextInt(3)))
          check(s"compact@$step")
        case 4 =>
          remembered ::= (log.currentVersion(), model)
      }
      if (model.isEmpty) model ++= {
        val refill = (0 until 50).map(i => (step * 1000 + i) -> s"r$step-$i")
        log.append(toDf(refill))
        refill
      }
    }
    remembered.take(3).foreach { case (v, m) =>
      val got = log.read(v).select("id", "payload")
        .as[(Int, String)].collect().toMap
      assert(got == m, s"time travel to v$v diverged")
    }
  }

  test("vacuum drops expired versions' files but never a retained snapshot's") {
    val log = SnapshotLog(spark, freshTable())
    (0 until 3).foreach(r =>
      log.append(mkRows(r, 40).toDF("id", "payload").repartition(4)))
    log.compact(targetFileBytes = 1L << 30) // v4: 1 live file, 12 dead after horizon
    val deleted = log.vacuum(keepLast = 1, graceMs = 0L)
    assert(deleted == 12, s"expected the 12 pre-compaction files swept, got $deleted")
    assert(rowsOf(log) == (0 until 3).flatMap(mkRows(_, 40)).sorted,
      "live snapshot must survive vacuum")
    intercept[IllegalArgumentException](log.read(1))
    // dead staging dirs (a crashed writer's leftovers) are swept too
    val stagedDir = new java.io.File(log.tableDir, "_staged-deadbeef")
    assert(stagedDir.mkdirs())
    log.vacuum(keepLast = 1, graceMs = 0L)
    assert(!stagedDir.exists(), "vacuum must sweep dead staging directories")
  }

  test("manifest-answered counts: interior files contribute rows without being opened") {
    val dir = freshTable()
    val log = SnapshotLog(spark, dir, statsColumns = Seq("id"))
    val r = new scala.util.Random(13)
    (0 until 3).foreach { run =>
      log.append(r.shuffle((0 until 600).toList)
        .map(i => (i, s"p-$run-$i")).toDF("id", "payload").repartition(2))
    }
    assert(log.countRows() == 1800, "full count comes straight off the manifest")
    val bytes = log.snapshot().bytes
    val s = graft.jobs.LayoutJob.clusterByLog(log, Seq("id"),
      targetFileBytes = math.max(1L, bytes / 5))
    assert(s.files.size >= 4, s"want a multi-file clustered layout: $s")
    assert(s.fileRows.keySet == s.files.toSet,
      "every rewritten file must carry a recorded row count")
    assert(s.fileRows.values.sum == 1800)
    // exact against the scan on an arbitrary straddling range
    assert(log.countWhere(("id", 100, 437)) ==
      log.read().where($"id".between(100, 437)).count())
    // metadata-only proof: a range exactly covering the interior files
    // still answers — correctly — after those files are GONE from disk
    val sorted = s.files.sortBy(f => s.stats(f)("id").lo.toInt)
    val interior = sorted.drop(1).dropRight(1)
    val lo = s.stats(interior.head)("id").lo.toInt
    val hi = s.stats(interior.last)("id").hi.toInt
    val expected = interior.map(s.fileRows).sum
    interior.foreach { f =>
      assert(new java.io.File(dir, s"${SnapshotLog.DataDirName}/$f").delete())
    }
    assert(log.countWhere(("id", lo, hi)) == expected,
      "interior files must count from the manifest alone — no data I/O")
  }

  test("countWhere stays exact when the stats column holds NULLs") {
    val log = SnapshotLog(spark, freshTable(), statsColumns = Seq("id"))
    val withNulls: Seq[(Option[Int], String)] =
      (0 until 50).map(i => (Some(i), s"a-$i")) ++
        Seq((None, "null-1"), (None, "null-2"))
    log.append(withNulls.toDF("id", "payload").coalesce(1))
    // the file's [0, 49] range sits fully inside the bounds, but the two
    // NULL rows make the metadata shortcut unsound for it — the recorded
    // null count forces the scan, and BETWEEN's NULL semantics hold
    assert(log.countWhere(("id", -100, 100)) == 50)
    assert(log.countRows() == 52)
  }

  test("countRows under pending key tombstones falls back to the logical count") {
    val log = SnapshotLog(spark, freshTable())
    log.append(mkRows(0, 30).toDF("id", "payload"))
    log.deleteKeys("id", Seq(3, 7, 11).map(i => i).toDF("id"))
    assert(log.snapshot().rows == 30, "physical manifest total is untouched")
    assert(log.countRows() == 30 - 3, "count must apply pending tombstones")
  }

  test("key blooms: point lookups open only candidate files on an unclustered layout") {
    val log = SnapshotLog(spark, freshTable(),
      statsColumns = Seq("id"), bloomColumns = Seq("id"))
    // one hash-scattered append: every file holds ids from across the
    // whole range, so range stats can prune NOTHING — the bloom is the
    // only gate that can skip files for a point lookup
    log.append((0 until 4000).map(i => (i, s"p-$i")).toDF("id", "payload")
      .repartition(8))
    val s = log.snapshot()
    assert(s.files.size == 8, s"want 8 scattered files: ${s.files.size}")
    assert(s.blooms.keySet == s.files.toSet && s.blooms.values.forall(_.contains("id")),
      "every staged file must carry an id bloom")
    assert(log.readBetween("id", 1234, 1234).inputFiles.length == 8,
      "sanity: range stats alone cannot skip on this layout")
    val lookup = log.readKeys("id", Seq(1234))
    assert(lookup.as[(Int, String)].collect().toSeq == Seq((1234, "p-1234")))
    assert(lookup.inputFiles.length <= 3,
      s"bloom must prune to the key's file (+rare false positives), " +
        s"opened ${lookup.inputFiles.length} of 8")
    assert(log.readKeys("id", Seq(999999)).count() == 0,
      "an absent key reads empty")
    assert(log.readKeys("id", Seq(10, 2000, 3999)).count() == 3)
  }

  test("key blooms scope tombstones; absent-key deletes are provable no-ops") {
    val log = SnapshotLog(spark, freshTable(),
      statsColumns = Seq("id"), bloomColumns = Seq("id"))
    log.append((0 until 4000).map(i => (i, s"p-$i")).toDF("id", "payload")
      .repartition(8))
    // keys nowhere in the table: the bloom gate proves the delete is a
    // no-op before anything commits
    assert(log.deleteKeys("id", Seq(999999).toDF("id")).isEmpty)
    assert(log.snapshot().tombstones.isEmpty)
    // a real sparse delete covers only the files that can hold the keys
    assert(log.deleteKeys("id", Seq(7, 1900).toDF("id")).isDefined)
    val t = log.snapshot().tombstones.head
    assert(t.appliesTo.nonEmpty && t.appliesTo.size <= 4,
      s"tombstone must cover candidate files only, got ${t.appliesTo.size} of 8")
    assert(log.countRows() == 3998)
    assert(log.readKeys("id", Seq(7, 1900)).count() == 0,
      "tombstoned keys must not read back through the candidate files")
    // compaction materializes; blooms are rebuilt for the rewritten files
    assert(log.compact().isDefined)
    val after = log.snapshot()
    assert(after.tombstones.isEmpty && after.rows == 3998)
    assert(after.blooms.keySet == after.files.toSet,
      "the rewrite must re-derive blooms for its output files")
    assert(log.readKeys("id", Seq(1900)).count() == 0)
    assert(log.readKeys("id", Seq(1901)).count() == 1)
  }

  test("compactSmall rewrites only the undersized backlog; big files carry by name") {
    val log = SnapshotLog(spark, freshTable(), statsColumns = Seq("id"))
    log.append((0 until 20000).map(i => (i, s"big-$i-payload-$i"))
      .toDF("id", "payload").coalesce(1))
    val bigFile = log.snapshot().files.head
    val bigBytes = log.snapshot().fileBytes(bigFile)
    (0 until 4).foreach { r =>
      log.append((20000 + r * 100 until 20000 + (r + 1) * 100)
        .map(i => (i, s"s-$i")).toDF("id", "payload").coalesce(1))
    }
    val before = log.snapshot()
    assert(before.files.size == 5)
    // target sized so the first file is well-sized and the appends are
    // the undersized backlog
    val s = log.compactSmall(targetFileBytes = bigBytes).get
    assert(s.files.contains(bigFile),
      "the well-sized file must carry by name, not rewrite")
    assert(s.files.size == 2, s"the backlog must pack into one file: ${s.files}")
    assert(s.rows == before.rows && s.op == "compact")
    assert(s.fileRows.keySet == s.files.toSet &&
      s.fileBytes.keySet == s.files.toSet && s.stats.keySet == s.files.toSet,
      "per-file metadata must cover exactly the live set after the rewrite")
    assert(log.read().count() == 20400)
    assert(log.readBetween("id", 20000, 20399).count() == 400,
      "the rewritten slice must read back pruned and complete")
    assert(log.compactSmall(targetFileBytes = bigBytes).isEmpty,
      "a second pass must be the scheduled no-op")
  }

  test("q30: manifest counts match the direct scan, timestamp stats column") {
    val row = graft.ops.Relational.q30LogMetadataCount(spark, TestSpark.Sf0001).head()
    val li = spark.read.parquet(s"${TestSpark.Sf0001}/lineitem.parquet")
    val lo = java.time.LocalDateTime.of(1995, 1, 1, 0, 0, 0)
    val hi = java.time.LocalDateTime.of(1997, 12, 31, 23, 59, 59)
    assert(row.getLong(0) == li.count())
    assert(row.getLong(1) ==
      li.where(org.apache.spark.sql.functions.col("l_shipdate")
        .between(org.apache.spark.sql.functions.lit(lo),
          org.apache.spark.sql.functions.lit(hi))).count())
  }

  test("q31: bloom point lookup matches the direct IN scan at sf0.001") {
    val got = graft.ops.Relational.q31LogKeyLookup(spark, TestSpark.Sf0001)
      .collect().toSeq
    val keys = (Seq(1L, 7L, 32L, 33L, 34L, 35L, 36L, 37L, 38L, 39L,
      65L, 66L, 97L, 129L, 161L))
    val want = spark.read.parquet(s"${TestSpark.Sf0001}/lineitem.parquet")
      .where(org.apache.spark.sql.functions.col("l_orderkey").isInCollection(keys))
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      .collect().toSeq
    assert(got.nonEmpty && got == want)
  }

  test("mirror: change-feed replication is incremental and exactly-once") {
    import graft.table.LogMirror
    val src = SnapshotLog(spark, freshTable())
    val dst = SnapshotLog(spark, freshTable())
    src.append(mkRows(0, 40).toDF("id", "payload").repartition(2))
    src.append(mkRows(1, 25).toDF("id", "payload"))
    assert(LogMirror.mirror(src, dst, "lane") == 2)
    assert(rowsOf(dst) == rowsOf(src))
    // rerun: the destination's txns watermark is the cursor — no-op
    val v = dst.currentVersion()
    assert(LogMirror.mirror(src, dst, "lane") == 0)
    assert(dst.currentVersion() == v, "a re-run must commit nothing")
    // compaction at the source is physical-only: nothing ships
    assert(src.compact().isDefined)
    LogMirror.mirror(src, dst, "lane")
    assert(dst.currentVersion() == v, "compaction must not produce replica rows")
    assert(rowsOf(dst) == rowsOf(src))
    // appends after the compaction apply incrementally
    src.append(mkRows(2, 10).toDF("id", "payload"))
    LogMirror.mirror(src, dst, "lane")
    assert(rowsOf(dst) == rowsOf(src) && dst.snapshot().rows == 75)
  }

  test("mirror propagates key deletes without shipping data; rewrites are refused") {
    import graft.table.LogMirror
    val src = SnapshotLog(spark, freshTable())
    val dst = SnapshotLog(spark, freshTable())
    src.append(mkRows(0, 40).toDF("id", "payload").repartition(2))
    LogMirror.mirror(src, dst, "gdpr-lane")
    src.deleteKeys("id", Seq(3, 5, 17).map(i => i).toDF("id"))
    LogMirror.mirror(src, dst, "gdpr-lane")
    assert(rowsOf(dst) == rowsOf(src),
      "the key delete must reach the replica as a tombstone, not a rewrite")
    assert(rowsOf(dst).size == 37)
    // the delete rode the txns watermark: a rerun re-applies nothing
    val atDelete = dst.currentVersion()
    LogMirror.mirror(src, dst, "gdpr-lane")
    assert(dst.currentVersion() == atDelete,
      "a rerun must not commit a duplicate tombstone")
    // a copy-on-write delete cannot be expressed as a change feed
    assert(src.compact().isDefined) // materialize tombstones first
    LogMirror.mirror(src, dst, "gdpr-lane")
    assert(src.deleteBetween("id", 0, 10).isDefined)
    val ex = intercept[IllegalStateException] {
      LogMirror.mirror(src, dst, "gdpr-lane")
    }
    assert(ex.getMessage.contains("resync"), ex.getMessage)
  }

  test("partition-spec evolution: old files prune under their spec, new under the current") {
    import graft.table.PartitionField
    val dir = freshTable()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val log = SnapshotLog.partitioned(spark, dir, Seq(PartitionField.day("ts")))
    val oldRows = Seq(
      (ts("2024-01-10 08:00:00"), 1L, "old-a"),
      (ts("2024-01-11 09:00:00"), 2L, "old-b"),
      (ts("2024-02-05 10:00:00"), 3L, "old-c"))
    log.append(oldRows.toDF("ts", "id", "payload"))
    val preEvo = log.currentVersion()
    // forward evolution: one manifest write, zero data I/O
    val evo = log.evolvePartitionSpec(
      Seq(PartitionField.month("ts"), PartitionField.bucket("id", 4)))
    assert(evo.op == "evolve_spec" && evo.files == log.snapshot(preEvo).files,
      "evolution must be metadata-only")
    // a handle still declaring the OLD spec now fails loudly
    assertThrows[IllegalArgumentException] {
      SnapshotLog.partitioned(spark, dir, Seq(PartitionField.day("ts")))
        .append(oldRows.take(1).toDF("ts", "id", "payload"))
    }
    val newRows = Seq(
      (ts("2024-01-20 11:00:00"), 1L, "new-a"),
      (ts("2024-03-07 12:00:00"), 9L, "new-b"))
    log.append(newRows.toDF("ts", "id", "payload"))
    val s = log.snapshot()
    // old files carry 1-ary day tuples, new files 2-ary month+bucket
    val oldFiles = log.snapshot(preEvo).files.toSet
    assert(s.files.filter(oldFiles).forall(f => s.partitions(f).size == 1))
    assert(s.files.filterNot(oldFiles).forall(f => s.partitions(f).size == 2))
    // a one-day read: day-era files prune to the exact day; month-era
    // files prune to the month — correctness first, and the result set
    // is exact across the mixed table
    val jan10 = log.readBetween("ts",
      ts("2024-01-10 00:00:00"), ts("2024-01-10 23:59:59"))
    assert(jan10.select("payload").as[String].collect().toSeq == Seq("old-a"))
    assert(jan10.inputFiles.length < s.files.size,
      "day-era tuples must still prune after the evolution")
    // a March read touches no day-era file at all
    val mar = log.readBetween("ts",
      ts("2024-03-01 00:00:00"), ts("2024-03-31 23:59:59"))
    assert(mar.select("payload").as[String].collect().toSeq == Seq("new-b"))
    assert(mar.inputFiles.length == 1, "month tuple must pin the March file")
    // time travel to before the evolution is untouched
    assert(log.read(preEvo).count() == 3)
    // compaction re-stages EVERYTHING under the current spec: tuples
    // re-derive as month+bucket and the per-file spec index resets
    log.compact(targetFileBytes = 1L << 30)
    val sc = log.snapshot()
    assert(sc.files.forall(f => sc.partitions(f).size == 2),
      "post-compaction files must carry current-spec tuples")
    assert(log.read().count() == 5)
    val mar2 = log.readBetween("ts",
      ts("2024-03-01 00:00:00"), ts("2024-03-31 23:59:59"))
    assert(mar2.select("payload").as[String].collect().toSeq == Seq("new-b"))
  }

  test("hour and year transforms: pruning, calendar-exact metadata-only drops") {
    import graft.table.PartitionField
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val hlog = SnapshotLog.partitioned(spark, freshTable(),
      Seq(PartitionField.hour("ts")))
    hlog.append(Seq(
      ts("2024-03-11 09:15:00") -> "h9", ts("2024-03-11 10:05:00") -> "h10-a",
      ts("2024-03-11 10:55:00") -> "h10-b", ts("2024-03-11 11:00:00") -> "h11")
      .toDF("ts", "payload"))
    val hs = hlog.snapshot()
    assert(hs.files.size == 3, "three distinct epoch hours, three files")
    val ten = hlog.readBetween("ts",
      ts("2024-03-11 10:00:00"), ts("2024-03-11 10:59:59"))
    assert(ten.select("payload").as[String].collect().sorted.toSeq
      == Seq("h10-a", "h10-b"))
    assert(ten.inputFiles.length == 1)
    val hd = hlog.deleteBetween("ts",
      ts("2024-03-11 10:00:00"), ts("2024-03-11 10:59:59.999999")).get
    assert(hd.files.forall(hs.files.toSet), "whole-hour delete is metadata-only")
    assert(hlog.read().count() == 2)

    val ylog = SnapshotLog.partitioned(spark, freshTable(),
      Seq(PartitionField.year("ts")))
    ylog.append(Seq(
      ts("2023-06-01 00:00:00") -> "y23",
      ts("2024-02-29 12:00:00") -> "y24-leap", ts("2024-12-31 23:59:59") -> "y24")
      .toDF("ts", "payload"))
    val ys = ylog.snapshot()
    assert(ys.files.map(f => ys.partitions(f).head).toSet == Set("53", "54"))
    // whole-leap-year delete: metadata-only, Feb 29 included
    val yd = ylog.deleteBetween("ts",
      ts("2024-01-01 00:00:00"), ts("2024-12-31 23:59:59.999999")).get
    assert(yd.files.forall(ys.files.toSet) && ylog.read().count() == 1)
    assert(ylog.read().select("payload").as[String].collect().toSeq == Seq("y23"))
  }

  test("month transform partitions by the UTC calendar even under a non-UTC session") {
    import graft.table.PartitionField
    // SnapshotLog is a library: nothing may assume the session timezone.
    // Under America/New_York, year()/month() on this instant would say
    // FEBRUARY (2024-03-01T01:00Z is Feb 29 20:00 in New York) — the
    // tuple and the UTC bound math would then disagree and prune wrong.
    val iso = org.apache.spark.sql.GraftBridge.cloneSession(spark)
    iso.conf.set("spark.sql.session.timeZone", "America/New_York")
    val log = SnapshotLog.partitioned(iso, freshTable(),
      Seq(PartitionField.month("ts")))
    val boundary = java.sql.Timestamp.from(
      java.time.Instant.parse("2024-03-01T01:00:00Z"))
    log.append(Seq(boundary -> "edge").toDF("ts", "payload"))
    val s = log.snapshot()
    assert(s.partitions(s.files.head) == Seq("650"),
      s"UTC epoch month for 2024-03, got ${s.partitions(s.files.head)}")
    // the March read finds it; a February read must NOT prune it away
    // and must return empty through the residual
    val mar = log.readBetween("ts",
      java.sql.Timestamp.from(java.time.Instant.parse("2024-03-01T00:00:00Z")),
      java.sql.Timestamp.from(java.time.Instant.parse("2024-03-31T23:59:59Z")))
    assert(mar.count() == 1)
  }

  test("identity/truncate on strings: the null partition also holds empty strings") {
    import graft.table.PartitionField
    val log = SnapshotLog.partitioned(spark, freshTable(),
      Seq(PartitionField.identity("k")))
    log.append(Seq(Option("x") -> 1, Option("") -> 2, Option.empty[String] -> 3)
      .toDF("k", "v"))
    // Spark routes BOTH "" and NULL into __HIVE_DEFAULT_PARTITION__ —
    // an ""-matching read must keep that file
    assert(log.readWhere(("k", "", "")).select("v").as[Int].collect().toSeq
      == Seq(2), "the empty-string row must survive pruning")
    // and a non-empty predicate still prunes it (NULL and "" can't match)
    val x = log.readWhere(("k", "x", "x"))
    assert(x.select("v").as[Int].collect().toSeq == Seq(1))
    assert(x.inputFiles.length == 1, "the null partition must prune for lo > \"\"")
    // the ""-delete rewrites the null-partition file: "" dies, NULL lives
    log.deleteWhere(("k", "", ""))
    assert(log.read().select("v").as[Int].collect().toSeq.sorted == Seq(1, 3))
  }

  test("bucket pruning degrades to no pruning on an uncoercible key, never a crash") {
    import graft.table.PartitionField
    val log = SnapshotLog.partitioned(spark, freshTable(),
      Seq(PartitionField.bucket("id", 4)))
    log.append((0 until 16).map(i => (i.toLong, s"r$i")).toDF("id", "payload"))
    // an Int key against the Long column coerces and prunes
    val hit = log.readWhere(("id", 7, 7))
    assert(hit.select("payload").as[String].collect().toSeq == Seq("r7"))
    assert(hit.inputFiles.length < log.snapshot().files.size)
    // a String key cannot hash as a Long — planning must keep every
    // file and let the residual decide, not throw
    assert(log.readWhere(("id", "seven", "seven")).count() == 0)
  }

  test("string bounds coerce for BOTH the metadata gates and the residual") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // stats AND a day transform on the timestamp column: the finding
    // class was ColRange.num / bound-math crashing on a raw string
    val log = SnapshotLog.partitioned(spark,
      freshTable(), Seq(graft.table.PartitionField.day("ts")),
      statsColumns = Seq("ts", "n"))
    log.append(Seq(
      (ts("2024-03-10 08:00:00"), 1L), (ts("2024-03-11 09:00:00"), 2L),
      (ts("2024-03-12 10:00:00"), 3L)).toDF("ts", "n"))
    // UTC-read date/timestamp strings prune and filter exactly
    assert(log.readWhere(("ts", "2024-03-11", "2024-03-11 23:59:59"))
      .select("n").as[Long].collect().toSeq == Seq(2L))
    assert(log.countWhere(("ts", "2024-03-10 00:00:00", "2024-03-11 23:59:59")) == 2L)
    // numeric-column string bounds: parseable coerces, garbage = empty
    assert(log.readWhere(("n", "2", "3")).count() == 2)
    assert(log.readWhere(("n", "two", "three")).count() == 0)
    assert(log.countWhere(("n", "two", "three")) == 0L)
    // an unparseable bound deletes nothing rather than crashing
    assert(log.deleteWhere(("n", "two", "three")).isEmpty)
    assert(log.read().count() == 3)
    // a string-bounded delete with a real match works end-to-end
    assert(log.deleteWhere(("ts", "2024-03-12", "2024-03-12 23:59:59")).isDefined)
    assert(log.read().count() == 2)
  }

  test("graft_log SQL table function: head read, time travel, tombstones, composition") {
    val dir = freshTable()
    val log = SnapshotLog(spark, dir, statsColumns = Seq("id"))
    log.append(Seq((1, "a"), (2, "b")).toDF("id", "v"))           // v1
    log.append(Seq((3, "c"), (4, "d")).toDF("id", "v"))           // v2
    log.deleteKeys("id", Seq(2).toDF("id"))                       // v3: MoR
    val s = org.apache.spark.sql.GraftBridge
      .sessionWithExtensions(spark, new graft.plans.GraftExtensions()(_))
    // head applies the tombstone; version pins time travel
    assert(s.sql(s"SELECT count(*) AS n FROM graft_log('$dir')")
      .head().getLong(0) == 3)
    assert(s.sql(s"SELECT count(*) AS n FROM graft_log('$dir', 1)")
      .head().getLong(0) == 2)
    // cross-version composition: rows at v2 no longer at head
    val gone = s.sql(
      s"""SELECT a.id FROM graft_log('$dir', 2) a
         |LEFT ANTI JOIN graft_log('$dir') h ON a.id = h.id""".stripMargin)
      .collect().map(_.getInt(0)).toSeq
    assert(gone == Seq(2))
    // a non-literal argument is a loud analysis error, not a misread
    assertThrows[Exception] {
      s.sql(s"SELECT * FROM graft_log('$dir', CAST(rand() AS INT))").collect()
    }
    // timestamp-string travel: the TVF's string arg must resolve through
    // versionAt and read exactly that version (commit clocks are millis,
    // so adjacent commits may share one — assert consistency, not a pin;
    // DsV2CatalogSpec pins exact resolution with separated clocks)
    val t1 = log.snapshot(1).ts
    assert(t1 > 0)
    val at = java.time.Instant.ofEpochMilli(t1).toString
    assert(s.sql(s"SELECT count(*) AS n FROM graft_log('$dir', '$at')")
      .head().getLong(0) == log.read(log.versionAt(t1)).count())
    // garbage second argument is a loud error, naming both readings
    assert(intercept[Exception] {
      s.sql(s"SELECT * FROM graft_log('$dir', 'not-a-time')").collect()
    }.getMessage.contains("neither an integer version, a tag, nor a parseable"))
  }

  test("graft_log applies pending deletion vectors and keeps manifest pruning") {
    val dir = freshTable()
    val log = SnapshotLog(spark, dir, statsColumns = Seq("id"))
    // TWO clustered files so the debt scan's pruning is observable
    log.append((0 until 100).map(i => (i, s"a$i")).toDF("id", "v").coalesce(1))
    log.append((1000 until 1100).map(i => (i, s"a$i")).toDF("id", "v").coalesce(1))
    log.deleteBetween("id", 7, 9) // sparse → deletion vector, no rewrite
    assert(log.snapshot().dvs.nonEmpty, "precondition: the delete vectored")
    val s = org.apache.spark.sql.GraftBridge
      .sessionWithExtensions(spark, new graft.plans.GraftExtensions()(_))
    // the TVF rides the debt-aware scan: vectors apply...
    assert(s.sql(s"SELECT count(*) AS n FROM graft_log('$dir')")
      .head().getLong(0) == 197)
    assert(s.sql(
      s"SELECT count(*) AS n FROM graft_log('$dir') WHERE id BETWEEN 5 AND 10")
      .head().getLong(0) == 3) // 5, 6, 10 — 7-9 vectored away
    // ...and a selective predicate still opens only the stats-surviving
    // file (manifest pruning does not forfeit under debt)
    val b = new graft.table.LogScanBuilder(log, log.currentVersion(),
      log.read().schema)
    import org.apache.spark.sql.sources.{And, GreaterThanOrEqual, LessThanOrEqual}
    b.pushFilters(Array(
      And(GreaterThanOrEqual("id", 1000), LessThanOrEqual("id", 1010))))
    val debt = b.build().asInstanceOf[graft.table.LogDebtScan]
    assert(debt.plannedFiles.length == 1,
      s"selective predicate over a DV-pending table must open only " +
        s"stats-surviving files, planned ${debt.plannedFiles}")
    // materialization restores the vectorized DSv2 path
    log.materializeDeletes()
    assert(s.sql(s"SELECT count(*) AS n FROM graft_log('$dir')")
      .head().getLong(0) == 197)
  }

  test("graft_log_changes: SQL change feed spans appends/update/delete; four-type flag; tag cursor") {
    val dir = freshTable()
    val log = SnapshotLog.withChangeFeed(spark, dir, statsColumns = Seq("id"))
    log.append((0 until 10).map(i => (i, i * 10)).toDF("id", "x").coalesce(1)) // v1
    log.createTag("seeded")
    log.append((10 until 15).map(i => (i, i * 10)).toDF("id", "x").coalesce(1)) // v2
    log.updateWhere(Seq(("id", 3, 4)),
      Seq("x" -> org.apache.spark.sql.functions.lit(-1)))                     // v3
    log.deleteBetween("id", 12, 12)                                            // v4
    val s = org.apache.spark.sql.GraftBridge
      .sessionWithExtensions(spark, new graft.plans.GraftExtensions()(_))
    // full span: two-type counts match the typed feed
    val counts = s.sql(
      s"""SELECT _change_type, count(*) AS n
         |FROM graft_log_changes('$dir', 0)
         |GROUP BY _change_type""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("insert" -> 17L, "delete" -> 3L)) // 15+2 upd, 2 upd+1 del
    // the feed NETS to the table (signed fold in pure SQL)
    val net = s.sql(
      s"""SELECT CAST(sum(CASE WHEN _change_type = 'insert' THEN 1 ELSE -1 END)
         |  AS BIGINT) AS n
         |FROM graft_log_changes('$dir', 0)""".stripMargin).head().getLong(0)
    assert(net == log.read().count())
    // (from, to] is exclusive-from: the tag names the applied cursor
    val afterSeed = s.sql(
      s"SELECT count(*) AS n FROM graft_log_changes('$dir', 'seeded', 2)")
      .head().getLong(0)
    assert(afterSeed == 5, "only v2's appended rows are in (v1, v2]")
    // four-type: the update pair re-types, the delete keeps its type
    val four = s.sql(
      s"""SELECT _change_type, count(*) AS n
         |FROM graft_log_changes('$dir', 1, 4, true)
         |GROUP BY _change_type""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(four == Map("insert" -> 5L, "update_preimage" -> 2L,
      "update_postimage" -> 2L, "delete" -> 1L))
    // refusals: missing cursor, non-literal args
    assertThrows[Exception] {
      s.sql(s"SELECT * FROM graft_log_changes('$dir')").collect()
    }
    assertThrows[Exception] {
      s.sql(s"SELECT * FROM graft_log_changes('$dir', CAST(rand() AS INT))")
        .collect()
    }
  }

  test("graft_log prunes manifest files from pure-SQL predicates like the catalog path") {
    val dir = freshTable()
    val log = SnapshotLog(spark, dir, statsColumns = Seq("id"))
    log.append((0 until 10).map(i => (i.toLong, s"a$i")).toDF("id", "v").coalesce(1))
    log.append((1000 until 1010).map(i => (i.toLong, s"b$i")).toDF("id", "v").coalesce(1))
    log.append((2000 until 2010).map(i => (i.toLong, s"c$i")).toDF("id", "v").coalesce(1))
    val s = org.apache.spark.sql.GraftBridge
      .sessionWithExtensions(spark, new graft.plans.GraftExtensions()(_))
    // the file set the optimized plan's V2 scan will open (Dataset
    // .inputFiles only traverses FileTable relations, not custom DSv2
    // tables — read the LogBatchScan's planned list)
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.scan.asInstanceOf[graft.table.LogBatchScan].plannedFiles
      }.flatten
    // a selective WHERE through the TVF opens 1-of-3 files: the filter
    // reaches LogScanBuilder BEFORE planning (DSv2 pushdown), so the
    // manifest stats gate prunes the other two — not just row groups
    val pruned = s.sql(
      s"SELECT id, v FROM graft_log('$dir') WHERE id BETWEEN 1000 AND 1004")
    assert(pruned.as[(Long, String)].collect().sorted.toSeq ==
      (1000L until 1005L).map(i => (i, s"b$i")))
    assert(scannedFiles(pruned).length == 1,
      s"TVF + WHERE must open ONE manifest-pruned file, " +
        s"opened ${scannedFiles(pruned).length} of 3")
    // no predicate = the full committed set, same rows as the typed read
    assert(scannedFiles(s.sql(s"SELECT * FROM graft_log('$dir')")).length == 3)
    // time travel still composes with pruning: v1 has one file total
    assert(scannedFiles(s.sql(
      s"SELECT * FROM graft_log('$dir', 1) WHERE id <= 3")).length == 1)
    // pending MoR tombstones: falls back to the tombstone-applying plan
    // (correct rows, no manifest pruning until compaction)
    log.deleteKeys("id", Seq(1005L).toDF("id"))
    assert(s.sql(s"SELECT count(*) AS n FROM graft_log('$dir') WHERE id >= 1000")
      .head().getLong(0) == 19)
  }

  test("S3 commit store: conditional-put CAS, signing plumbing, paginated listing") {
    import graft.table.{JdkS3Transport, S3CommitStore, S3Transport}
    val _ = new JdkS3Transport // production wiring must at least construct
    val fake = new FakeS3(pageSize = 2)
    def storeOn() = new S3CommitStore("graft-bucket", "tables/t1",
      "us-east-1", () => ("AKIDEXAMPLE", "secret"), fake)
    val store = storeOn()
    // raw contract: one winner per name
    assert(store.putIfAbsent("a.json", "one".getBytes))
    assert(!store.putIfAbsent("a.json", "two".getBytes))
    assert(new String(store.get("a.json").get) == "one")
    assert(store.get("missing.json").isEmpty && !store.exists("missing.json"))
    // listing paginates (pageSize 2) and strips the prefix
    (0 until 5).foreach(i => store.putIfAbsent(s"b$i.json", Array[Byte](1)))
    assert(store.list().sorted == Seq("a.json") ++ (0 until 5).map(i => s"b$i.json"))
    store.delete("a.json"); store.delete("a.json") // idempotent
    assert(!store.exists("a.json"))
    // every request was SigV4-shaped
    assert(fake.sawAuth.get(), "requests must carry an AWS4-HMAC-SHA256 signature")
    assert(fake.shaOk.get(), "x-amz-content-sha256 must hash the actual payload")

    // and the WHOLE table protocol runs over it: manifests in the fake
    // bucket, CAS losses landing on the next slot, time travel intact
    val dir = freshTable()
    def logOn() = SnapshotLog(spark, dir, Nil, storeOn())
    logOn().append(mkRows(0, 10).toDF("id", "payload"))
    assert(!new java.io.File(dir, SnapshotLog.LogDirName).exists())
    storeOn().putIfAbsent("v" + "0" * 18 + "02.json",
      storeOn().get("v" + "0" * 18 + "01.json").get)
    val s = logOn().append(mkRows(1, 5).toDF("id", "payload"))
    assert(s.version == 3, "an occupied slot must force the CAS retry path")
    // the forged v2 manifest names the same file as v1 — the live set
    // unions by name, so nothing duplicates
    assert(rowsOf(logOn()) == (mkRows(0, 10) ++ mkRows(1, 5)).sorted)
    assert(logOn().read(1).count() == 10, "time travel reads through the store")
    assert(logOn().snapshot(2).version == 2,
      "a snapshot's version is the slot it was read from, not the body's")
  }

  /** In-memory S3: honors `If-None-Match: *`, paginates ListObjectsV2 —
    * the transport-level double that lets the REAL [[S3CommitStore]]
    * logic (request shape, signing, status handling) run in a sandbox
    * with no network. */
  private final class FakeS3(pageSize: Int)
      extends graft.table.S3Transport {
    val objects = new java.util.concurrent.ConcurrentHashMap[String, Array[Byte]]()
    val sawAuth = new java.util.concurrent.atomic.AtomicBoolean(true)
    val shaOk = new java.util.concurrent.atomic.AtomicBoolean(true)

    override def send(method: String, uri: java.net.URI,
        headers: Seq[(String, String)], body: Array[Byte]): (Int, Array[Byte]) = {
      val hs = headers.map { case (k, v) => k.toLowerCase -> v }.toMap
      if (!hs.get("authorization").exists(_.startsWith(
        "AWS4-HMAC-SHA256 Credential=AKIDEXAMPLE/"))) sawAuth.set(false)
      val sha = java.security.MessageDigest.getInstance("SHA-256").digest(body)
        .map(b => f"$b%02x").mkString
      if (!hs.get("x-amz-content-sha256").contains(sha)) shaOk.set(false)
      val key = uri.getRawPath.stripPrefix("/")
      val query = Option(uri.getRawQuery).getOrElse("")
      method match {
        case "PUT" =>
          if (!hs.contains("if-none-match")) { objects.put(key, body); (200, Array.empty) }
          else if (objects.putIfAbsent(key, body) == null) (200, Array.empty)
          else (412, "<Error><Code>PreconditionFailed</Code></Error>".getBytes)
        case "GET" if query.contains("list-type=2") =>
          val params = query.split("&").map(_.split("=", 2))
            .map(a => a(0) -> java.net.URLDecoder.decode(a.lift(1).getOrElse(""), "UTF-8"))
            .toMap
          val prefix = params.getOrElse("prefix", "")
          val all = { import scala.jdk.CollectionConverters._
            objects.keySet().asScala.toSeq.filter(_.startsWith(prefix)).sorted }
          val from = params.get("continuation-token").map(_.toInt).getOrElse(0)
          val page = all.slice(from, from + pageSize)
          val truncated = from + pageSize < all.size
          val xml = "<ListBucketResult>" +
            page.map(k => s"<Key>$k</Key>").mkString +
            (if (truncated)
              s"<IsTruncated>true</IsTruncated><NextContinuationToken>${from + pageSize}</NextContinuationToken>"
            else "<IsTruncated>false</IsTruncated>") +
            "</ListBucketResult>"
          (200, xml.getBytes)
        case "GET" =>
          Option(objects.get(key)).map((200, _)).getOrElse((404, Array.empty[Byte]))
        case "HEAD" =>
          if (objects.containsKey(key)) (200, Array.empty) else (404, Array.empty)
        case "DELETE" =>
          objects.remove(key); (204, Array.empty)
        case other => (400, s"unexpected $other".getBytes)
      }
    }
  }

  test("truncate is one metadata-only commit: schema/spec survive, history reads intact") {
    import graft.table.PartitionField
    val dir = freshTable()
    val log = SnapshotLog.partitioned(spark, dir,
      Seq(PartitionField.bucket("id", 4)), statsColumns = Seq("id"))
    log.append(mkRows(0, 30).toDF("id", "payload"))   // v1
    val dataFiles = log.snapshot().files
    val t = log.truncate().get                        // v2
    assert(t.op == "truncate" && t.files.isEmpty && t.rows == 0)
    assert(t.schemaJson == log.snapshot(1).schemaJson, "schema must survive")
    assert(t.partitionSpec == Seq(PartitionField.bucket("id", 4)),
      "the partition spec must survive an empty table")
    assert(rowsOf(log, 1) == mkRows(0, 30).sorted, "time travel intact")
    assert(log.countRows() == 0)
    // already empty: the scheduled form is a no-op
    assert(log.truncate().isEmpty)
    // the txn watermark makes a replay a no-op but a fresh id commits
    assert(log.truncate(Some(("lane", 1L))).isDefined)
    assert(log.truncate(Some(("lane", 1L))).isEmpty, "replayed batch id")
    // appends after the truncate route through the surviving spec
    log.append(mkRows(1, 8).toDF("id", "payload"))
    val s = log.snapshot()
    assert(s.files.forall(f => s.partitions(f).size == 1), "bucket tuples back")
    assert(rowsOf(log) == mkRows(1, 8).sorted)
    // restore undoes the truncate era entirely
    log.restore(1)
    assert(rowsOf(log) == mkRows(0, 30).sorted)
    assert(log.snapshot().files == dataFiles)
  }

  test("overwriteAll atomically replaces the table and stays stats-prunable") {
    val dir = freshTable()
    val log = SnapshotLog(spark, dir, statsColumns = Seq("id"))
    log.append(mkRows(0, 25).toDF("id", "payload").repartition(2))  // v1
    val ow = log.overwriteAll(
      mkRows(5, 10).toDF("id", "payload").coalesce(1))              // v2
    assert(ow.op == "overwrite" && ow.rows == 10)
    assert(rowsOf(log) == mkRows(5, 10).sorted)
    assert(rowsOf(log, 1) == mkRows(0, 25).sorted, "pre-overwrite history intact")
    // the staged files carry lifted stats — pruning keeps working
    assert(ow.files.forall(f => ow.stats.get(f).exists(_.contains("id"))))
    // exactly-once under a replayed txn id: the same batch returns the
    // current snapshot without committing
    val v = log.currentVersion()
    log.overwriteAll(mkRows(9, 3).toDF("id", "payload"), Some(("ow-lane", v)))
    assert(log.currentVersion() == v + 1)
    val replay = log.overwriteAll(
      mkRows(9, 3).toDF("id", "payload"), Some(("ow-lane", v)))
    assert(log.currentVersion() == v + 1 && replay.version == v + 1)
    // overwrite materializes pending tombstones away with the old files
    log.deleteKeys("id", Seq(9000).toDF("id"))
    assert(log.snapshot().tombstones.nonEmpty)
    log.overwriteAll(mkRows(2, 4).toDF("id", "payload"))
    assert(log.snapshot().tombstones.isEmpty)
    assert(rowsOf(log) == mkRows(2, 4).sorted)
  }

  test("append staged under an old spec aborts when a concurrent evolve lands mid-commit") {
    import graft.table.{InMemoryCommitStore, PartitionField}
    val dir = freshTable()
    val inner = new InMemoryCommitStore
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val rows = Seq(
      (ts("2024-01-10 08:00:00"), 1L, "a"),
      (ts("2024-02-05 10:00:00"), 2L, "b"))
    // v1 under day(ts), via a declaring handle on the shared store
    new SnapshotLog(spark, dir, Nil, Some(inner),
      partitionBy = Seq(PartitionField.day("ts")))
      .append(rows.toDF("ts", "id", "payload"))
    // the victim declares NO spec (inherits the manifest's); its store
    // interposes a concurrent evolve_spec at the victim's FIRST commit
    // attempt, stealing the version slot — exactly the stage-then-lose-
    // the-CAS window the guard closes
    val evolver = new SnapshotLog(spark, dir, Nil, Some(inner))
    val racing = new RacingCommitStore(inner)(
      evolver.evolvePartitionSpec(Seq(PartitionField.month("ts")))).arm()
    val victim = new SnapshotLog(spark, dir, Nil, Some(racing))
    val ex = intercept[CommitConflictException] {
      victim.append(rows.map { case (t, i, p) => (t, i + 10, p + "!") }
        .toDF("ts", "id", "payload"))
    }
    assert(ex.getMessage.contains("partition spec evolved"), ex.getMessage)
    // the table is intact under the evolve: v2 is the spec change, the
    // victim's day-tuple files were discarded, and a fresh append lands
    // correctly under the NEW spec
    val head = new SnapshotLog(spark, dir, Nil, Some(inner))
    assert(head.snapshot().op == "evolve_spec" && head.snapshot().rows == 2)
    head.append(rows.map { case (t, i, p) => (t, i + 20, p + "?") }
      .toDF("ts", "id", "payload"))
    val s = head.snapshot()
    val newFiles = s.files.filterNot(head.snapshot(1).files.toSet)
    // month tuples are epoch months: 2024-01 → 648, 2024-02 → 649
    assert(newFiles.nonEmpty &&
      newFiles.map(f => s.partitions(f)).toSet == Set(Seq("648"), Seq("649")),
      "post-evolve appends must carry epoch-month tuples")
  }

  /** `data/` files that no version of `log` names. */
  private def unnamedDataFiles(log: SnapshotLog): Set[String] = {
    val named = (1L to log.currentVersion()).flatMap { v =>
      val s = log.snapshot(v)
      s.files ++ s.dvs.values.flatten ++ s.tombstones.map(_.file) ++
        s.changes.toSeq.flatMap(_.files)
    }.toSet
    Option(new java.io.File(log.tableDir, SnapshotLog.DataDirName).listFiles())
      .toSeq.flatten.map(_.getName)
      .filterNot(n => n.startsWith(".") || n.endsWith(".crc")).toSet -- named
  }

  /** A table at v1 whose handle loses its next manifest slot to an
    * append of `mkRows(9, 4)` through another handle. */
  private def racedTable(): SnapshotLog = {
    import graft.table.InMemoryCommitStore
    val dir = freshTable()
    val inner = new InMemoryCommitStore
    val racer = new RacingCommitStore(inner)(
      SnapshotLog(spark, dir, Nil, inner)
        .append(mkRows(9, 4).toDF("id", "payload")))
    val log = new SnapshotLog(spark, dir, Seq("id"), Some(racer))
    log.append(mkRows(0, 30).toDF("id", "payload").coalesce(1))
    racer.arm()
    log
  }

  test("a delete that rewrites a file aborts when an append takes its slot; its staged files go") {
    val log = racedTable()
    val ex = intercept[CommitConflictException] {
      log.deleteWhereTxn(Seq(("id", 0, 19))) // 20 of 30 rows: the rewrite arm
    }
    assert(ex.getMessage.contains(s"delete on ${log.tableDir}: concurrent commit since v1"),
      ex.getMessage)
    assert(log.currentVersion() == 2 && log.snapshot().op == "append",
      "the table must stay at the racer's commit")
    assert(rowsOf(log) == (mkRows(0, 30) ++ mkRows(9, 4)).sorted)
    assert(unnamedDataFiles(log).isEmpty,
      s"the delete's rewrite must be discarded: ${unnamedDataFiles(log)}")
  }

  test("a metadata-only rename aborts when an append takes its slot") {
    val log = racedTable()
    val ex = intercept[CommitConflictException] {
      log.renameColumn("payload", "body")
    }
    assert(ex.getMessage.contains(s"rename on ${log.tableDir}: concurrent commit since v1"),
      ex.getMessage)
    assert(log.currentVersion() == 2 && log.snapshot().op == "append",
      "the table must stay at the racer's commit")
    assert(log.read().columns.toSeq == Seq("id", "payload"))
    assert(unnamedDataFiles(log).isEmpty, unnamedDataFiles(log).toString)
  }
}
