package graft

import graft.table.{LogMirror, SnapshotLog}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Row-level CDC contract ([[SnapshotLog.readChangeRows]] and the
  * [[graft.table.ChangeSet]] images behind it): every logical row
  * change — appends as inserts, copy-on-write deletes (rewrite AND
  * whole-file drop), merges, merge-on-read key deletes — is readable
  * with `_change_type`/`_commit_version`; the net of the feed always
  * equals the table; [[LogMirror]] replays removals onto a replica;
  * tables without the opt-in keep their refusal semantics. */
class CdcSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def fresh(prefix: String = "graft-cdc-"): String =
    Files.createTempDirectory(prefix).resolve("t").toString

  private def mkRows(run: Int, n: Int): Seq[(Int, String)] =
    (0 until n).map(i => (run * 1000 + i, s"row-$run-$i"))

  private def changesOf(log: SnapshotLog, from: Long,
      to: Long = -1L): Seq[(Int, String, String, Long)] =
    log.readChangeRows(from, to)
      .select(col("id"), col("payload"), col("_change_type"),
        col("_commit_version"))
      .as[(Int, String, String, Long)].collect().toSeq.sorted

  /** Replays the feed into a map — the net must equal the table. */
  private def netOf(changes: Seq[(Int, String, String, Long)]): Seq[(Int, String)] =
    changes.sortBy(_._4).foldLeft(Map.empty[(Int, String), Int]) {
      case (acc, (id, p, "insert", _)) =>
        acc.updated((id, p), acc.getOrElse((id, p), 0) + 1)
      case (acc, (id, p, "delete", _)) =>
        acc.updated((id, p), acc.getOrElse((id, p), 0) - 1)
      case (_, other) => fail(s"unexpected change type in $other")
    }.flatMap { case ((id, p), n) =>
      assert(n >= 0, s"feed deleted ($id, $p) more times than it inserted")
      Seq.fill(n)((id, p))
    }.toSeq.sorted

  test("appends read as inserts; physical rewrites contribute nothing") {
    val log = SnapshotLog.withChangeFeed(spark, fresh())
    log.append(mkRows(0, 12).toDF("id", "payload"))            // v1
    log.append(mkRows(1, 8).toDF("id", "payload"))             // v2
    log.rewrite("compact")(_.coalesce(1))                      // v3
    val ch = changesOf(log, 0)
    assert(ch.forall(_._3 == "insert"))
    assert(ch.map(c => (c._1, c._2)).sorted == (mkRows(0, 12) ++ mkRows(1, 8)).sorted)
    assert(changesOf(log, 2).isEmpty, "the compaction must ship nothing")
    assert(ch.filter(_._4 == 2L).map(c => (c._1, c._2)).sorted == mkRows(1, 8).sorted,
      "_commit_version must attribute rows to the version that appended them")
  }

  test("copy-on-write delete: rewrite images and whole-file drops both feed as deletes") {
    val log = SnapshotLog.withChangeFeed(spark, fresh(),
      statsColumns = Seq("id"))
    // two clustered single-file appends: [0,19] and [1000,1019]
    log.append(mkRows(0, 20).toDF("id", "payload").coalesce(1))   // v1
    log.append(mkRows(1, 20).toDF("id", "payload").coalesce(1))   // v2
    // whole-file drop: every row of file 1 matches — pre-images must
    // ship BY REFERENCE (no new data file needed for them)
    val s3 = log.deleteWhere(("id", 0, 19)).get                   // v3
    assert(s3.changes.exists(_.deletedDataFiles.nonEmpty),
      "a fully-contained file must be recorded by reference")
    assert(s3.changes.forall(_.files.isEmpty),
      "no rewrite happened, so no image file should have been written")
    val ch3 = changesOf(log, 2, 3)
    assert(ch3.forall(_._3 == "delete") &&
      ch3.map(c => (c._1, c._2)).sorted == mkRows(0, 20).sorted)
    // straddling delete: file 2 rewrites, images carry just the dead rows
    val s4 = log.deleteWhere(("id", 1005, 1008)).get              // v4
    assert(s4.changes.exists(_.files.nonEmpty))
    val ch4 = changesOf(log, 3, 4)
    assert(ch4.map(c => (c._1, c._2)) ==
      mkRows(1, 20).filter(r => r._1 >= 1005 && r._1 <= 1008).sorted)
    // the running net of the whole feed equals the table at head
    assert(netOf(changesOf(log, 0)) ==
      log.read().as[(Int, String)].collect().toSeq.sorted)
  }

  test("merge feeds delete(pre-image) + insert(post-image) pairs; net equals the table") {
    val log = SnapshotLog.withChangeFeed(spark, fresh(), statsColumns = Seq("id"))
    log.append(mkRows(0, 10).toDF("id", "payload"))               // v1
    val updates = Seq((3, "upd-3"), (7, "upd-7"), (9999, "new")).toDF("id", "payload")
    log.mergeByKey(updates, "id")                                 // v2
    val ch = changesOf(log, 1, 2)
    assert(ch.filter(_._3 == "delete").map(c => (c._1, c._2)) ==
      Seq((3, "row-0-3"), (7, "row-0-7")),
      "replaced keys must ship their OLD rows as deletes")
    assert(ch.filter(_._3 == "insert").map(c => (c._1, c._2)).sorted ==
      Seq((3, "upd-3"), (7, "upd-7"), (9999, "new")).sorted,
      "the whole update batch must ship as inserts")
    assert(netOf(changesOf(log, 0)) ==
      log.read().as[(Int, String)].collect().toSeq.sorted)
  }

  test("four-type feed: merge pairs re-type on the key, everything else keeps its type") {
    val log = SnapshotLog.withChangeFeed(spark, fresh(), statsColumns = Seq("id"))
    log.append(mkRows(0, 10).toDF("id", "payload"))               // v1
    log.mergeByKey(Seq((3, "upd-3"), (7, "upd-7"), (9999, "new"))
      .toDF("id", "payload"), "id")                               // v2
    log.deleteWhere(("id", 1, 1))                                 // v3: plain delete
    val ch = log.readChangeRows(0, fourType = true)
      .select(col("id"), col("payload"), col("_change_type"),
        col("_commit_version"))
      .as[(Int, String, String, Long)].collect().toSeq
    val merge = ch.filter(_._4 == 2L)
    assert(merge.filter(_._3 == "update_preimage").map(c => (c._1, c._2)).sorted ==
      Seq((3, "row-0-3"), (7, "row-0-7")),
      "replaced keys' old rows must re-type to update_preimage")
    assert(merge.filter(_._3 == "update_postimage").map(c => (c._1, c._2)).sorted ==
      Seq((3, "upd-3"), (7, "upd-7")),
      "replaced keys' new rows must re-type to update_postimage")
    assert(merge.filter(_._3 == "insert").map(c => (c._1, c._2)) ==
      Seq((9999, "new")), "a genuinely-new key stays a plain insert")
    assert(ch.filter(_._4 == 3L).map(_._3) == Seq("delete"),
      "an unrelated delete must NOT re-type")
    assert(ch.filter(_._4 == 1L).forall(_._3 == "insert"))
    // the four-type feed nets identically (update_* fold as del+ins)
    val asTwo = ch.map {
      case (i, p, "update_preimage", v)  => (i, p, "delete", v)
      case (i, p, "update_postimage", v) => (i, p, "insert", v)
      case other                         => other
    }
    assert(netOf(asTwo.sorted) == log.read().as[(Int, String)].collect().toSeq.sorted)
    // and the streaming source ships the same re-typed batch
    val stream = graft.streaming.LogChangeFeed.readChangesStream(spark,
      log.tableDir, readChangeFeed = true, fourTypeCdc = true)
    val q = stream.writeStream.format("memory")
      .queryName("cdc_four_type").outputMode("append").trigger(
        org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.table("cdc_four_type")
      .select(col("id"), col("payload"), col("_change_type"),
        col("_commit_version"))
      .as[(Int, String, String, Long)].collect().toSeq.sorted
    assert(streamed == ch.sorted, "stream and batch four-type feeds must agree")
  }

  test("merge-on-read key delete images the LOGICAL covered rows exactly once") {
    val log = SnapshotLog.withChangeFeed(spark, fresh(), statsColumns = Seq("id"))
    log.append(mkRows(0, 20).toDF("id", "payload"))               // v1
    log.deleteKeys("id", Seq(2, 5).toDF("id"))                    // v2
    val ch2 = changesOf(log, 1, 2)
    assert(ch2.map(c => (c._1, c._2, c._3)) ==
      Seq((2, "row-0-2", "delete"), (5, "row-0-5", "delete")))
    // a second delete overlapping the first: key 5 is ALREADY logically
    // gone — its image must not ship twice (prior tombstones apply to
    // the pre-image scan)
    log.deleteKeys("id", Seq(5, 11).toDF("id"))                   // v3
    val ch3 = changesOf(log, 2, 3)
    assert(ch3.map(c => (c._1, c._2, c._3)) ==
      Seq((11, "row-0-11", "delete")))
    assert(netOf(changesOf(log, 0)) ==
      log.read().as[(Int, String)].collect().toSeq.sorted)
  }

  test("without the opt-in: removals record no images, row-level reads refuse, defaults unchanged") {
    val log = SnapshotLog(spark, fresh(), statsColumns = Seq("id"))
    log.append(mkRows(0, 10).toDF("id", "payload"))
    val before = log.snapshot()
    val s = log.deleteKeys("id", Seq(3).toDF("id")).get
    assert(s.files == before.files,
      "the sparse-delete no-rewrite contract must hold with CDC off")
    assert(s.changes.isEmpty && !s.cdc)
    val ex = intercept[IllegalStateException] { log.readChangeRows(1) }
    assert(ex.getMessage.contains("changeFeed"))
    // the insert feed over the append-only span still works
    assert(log.readChanges(0, 1).count() == 10)
  }

  test("restore refuses row-level reads (a rollback is not a row delta)") {
    val log = SnapshotLog.withChangeFeed(spark, fresh())
    log.append(mkRows(0, 5).toDF("id", "payload"))
    log.append(mkRows(1, 5).toDF("id", "payload"))
    log.restore(1)
    assert(intercept[IllegalStateException] { log.readChangeRows(2) }
      .getMessage.contains("restore"))
  }

  test("deleteWhereTxn is exactly-once: a replayed batch id commits nothing") {
    val log = SnapshotLog.withChangeFeed(spark, fresh(), statsColumns = Seq("id"))
    log.append(mkRows(0, 10).toDF("id", "payload"))
    assert(log.deleteWhereTxn(Seq(("id", 0, 2)), Some(("lane", 7L))).isDefined)
    val v = log.currentVersion()
    assert(log.deleteWhereTxn(Seq(("id", 3, 5)), Some(("lane", 7L))).isEmpty,
      "a batch id at or under the watermark must replay as a no-op")
    assert(log.currentVersion() == v && log.read().count() == 7)
  }

  test("mirror replays predicate deletes, merges and key deletes; reruns converge") {
    val srcDir = fresh("graft-cdc-src-")
    val dstDir = fresh("graft-cdc-dst-")
    val src = SnapshotLog.withChangeFeed(spark, srcDir, statsColumns = Seq("id"))
    val dst = SnapshotLog(spark, dstDir, statsColumns = Seq("id"))
    src.append(mkRows(0, 20).toDF("id", "payload"))               // v1
    src.append(mkRows(1, 10).toDF("id", "payload"))               // v2
    src.deleteWhere(("id", 5, 9))                                 // v3: CoW delete
    src.mergeByKey(Seq((3, "upd"), (7777, "new")).toDF("id", "payload"), "id") // v4
    src.deleteKeys("id", Seq(1001, 1002).toDF("id"))              // v5: MoR delete
    src.rewrite("compact")(_.coalesce(1))                         // v6: physical
    LogMirror.mirror(src, dst)
    def all(l: SnapshotLog) = l.read().as[(Int, String)].collect().toSeq.sorted
    assert(all(dst) == all(src), "the replica must converge through removals")
    // rerun: every version is already applied — nothing may double-apply
    LogMirror.mirror(src, dst)
    assert(all(dst) == all(src))
    // and the mirror keeps following subsequent commits
    src.append(mkRows(2, 5).toDF("id", "payload"))
    src.deleteWhere(("id", 2000, 2001))
    LogMirror.mirror(src, dst)
    assert(all(dst) == all(src))
  }

  test("randomized op model: the feed's net equals the table after EVERY step") {
    val r = new scala.util.Random(42)
    val log = SnapshotLog.withChangeFeed(spark, fresh(), statsColumns = Seq("id"))
    var nextId = 0
    def freshRows(n: Int): Seq[(Int, String)] = {
      val rows = (0 until n).map(i => (nextId + i, s"p-${nextId + i}"))
      nextId += n
      rows
    }
    def materialize(): Unit = // CoW ops refuse over pending tombstones
      if (log.snapshot().tombstones.nonEmpty) log.compact()
    log.append(freshRows(40).toDF("id", "payload"))
    (1 to 18).foreach { step =>
      r.nextInt(7) match {
        case 0 => log.append(freshRows(r.nextInt(25) + 1).toDF("id", "payload"))
        case 1 =>
          materialize()
          val lo = r.nextInt(nextId)
          log.deleteWhere(("id", lo, lo + r.nextInt(30)))
        case 2 =>
          materialize()
          val upd = (0 until r.nextInt(6) + 1).map(_ => r.nextInt(nextId))
            .distinct.map(i => (i, s"upd-$step-$i"))
          log.mergeByKey((upd ++ freshRows(r.nextInt(4))).toDF("id", "payload"), "id")
        case 3 =>
          val keys = (0 until r.nextInt(5) + 1).map(_ => r.nextInt(nextId)).distinct
          log.deleteKeys("id", keys.toDF("id"))
        case 4 => log.compact()
        case 5 => log.overwriteAll(freshRows(r.nextInt(10) + 1).toDF("id", "payload"))
        case 6 => log.truncate()
      }
      // THE invariant: replaying every image from v0 rebuilds the table
      // exactly — no hole, no double image, across arbitrary op mixes
      // (including truncate/overwrite, whose images derive by reference)
      def tableRows(l: SnapshotLog): Seq[(Int, String)] =
        if (l.snapshot().files.isEmpty) Seq.empty
        else l.read().as[(Int, String)].collect().toSeq.sorted
      assert(netOf(changesOf(log, 0)) == tableRows(log),
        s"feed net diverged from the table after step $step")
    }
    // and a replica fed the same arbitrary history converges exactly
    val dst = SnapshotLog(spark, fresh("graft-cdc-dst-"), statsColumns = Seq("id"))
    LogMirror.mirror(log, dst)
    def allOf(l: SnapshotLog): Seq[(Int, String)] =
      if (l.currentVersion() == 0 || l.snapshot().files.isEmpty) Seq.empty
      else l.read().as[(Int, String)].collect().toSeq.sorted
    assert(allOf(dst) == allOf(log),
      "mirror must converge through the randomized history")
  }

  test("mirror refuses a merge that key replay would collapse; the replica stays put") {
    import graft.table.MergeWhen
    val SP = SnapshotLog.MergeSrcPrefix
    // (1) a matched clause whose condition picks one of key 1's two rows;
    // (2) a residual ON that turns a same-key source row into an insert
    val merges: Seq[(String, SnapshotLog => Unit)] = Seq(
      "partial matched update" -> (_.mergeClauses(Seq((1, "z")).toDF("id", "v"),
        keys = Seq(("id", "id")),
        matched = Seq(MergeWhen(Some(col("v") === "a"), "update",
          Seq("v" -> col(SP + "v")))),
        notMatched = Nil)),
      "residual insert of a held key" -> (_.mergeClauses(Seq((2, "0")).toDF("id", "v"),
        keys = Seq(("id", "id")),
        matched = Seq(MergeWhen(None, "update", Seq("v" -> col(SP + "v")))),
        notMatched = Seq(MergeWhen(None, "insert",
          Seq("id" -> col(SP + "id"), "v" -> col(SP + "v")))),
        residual = Some(col(SP + "v") > col("v")))))
    merges.foreach { case (what, merge) =>
      val src = SnapshotLog.withChangeFeed(spark, fresh("graft-cdc-src-"),
        statsColumns = Seq("id"))
      val dst = SnapshotLog(spark, fresh("graft-cdc-dst-"), statsColumns = Seq("id"))
      src.append(Seq((1, "a"), (1, "b"), (2, "c")).toDF("id", "v")) // v1
      LogMirror.mirror(src, dst)
      merge(src)                                                      // v2
      def all(l: SnapshotLog) = l.read().as[(Int, String)].collect().toSeq.sorted
      val held = all(dst)
      val ex = intercept[IllegalStateException] { LogMirror.mirror(src, dst) }
      assert(ex.getMessage.contains("resync") && ex.getMessage.contains("v2"),
        s"$what: ${ex.getMessage}")
      assert(all(dst) == held, s"$what: the refused merge must leave the replica as it was")
    }
  }

  test("mirror still refuses a removal recorded without images") {
    val src = SnapshotLog(spark, fresh("graft-cdc-src-"), statsColumns = Seq("id"))
    val dst = SnapshotLog(spark, fresh("graft-cdc-dst-"))
    src.append(mkRows(0, 10).toDF("id", "payload"))
    src.deleteWhere(("id", 0, 2))
    assert(intercept[IllegalStateException] { LogMirror.mirror(src, dst) }
      .getMessage.contains("resync"))
  }

  test("a fully-emptied table still shapes an empty change frame for pollers") {
    val log = SnapshotLog.withChangeFeed(spark, fresh(), statsColumns = Seq("id"))
    log.append(mkRows(0, 10).toDF("id", "payload"))   // v1
    log.deleteWhere(("id", 0, 9999))                  // v2: drops every file
    assert(log.snapshot().files.isEmpty && log.snapshot().rows == 0)
    // the feed up to the delete nets to the (now-empty) table
    assert(netOf(changesOf(log, 0)).isEmpty)
    // a consumer already at the head polling again must get ZERO rows
    // under the table schema, not a crash — there is no data file left
    // to borrow the schema from, so it must come from the manifest
    val empty = log.readChangeRows(log.currentVersion())
    assert(empty.columns.toSeq ==
      Seq("id", "payload", "_change_type", "_commit_version"))
    assert(empty.count() == 0)
  }

  test("mirror advances past a merge recorded with zero image rows") {
    // the manifest FORMAT admits a merge whose ChangeSet staged no image
    // files (an empty logical batch); no current writer produces one, so
    // pin the contract by splicing such a manifest into the log directly
    val srcDir = fresh("graft-cdc-src-")
    val src = SnapshotLog.withChangeFeed(spark, srcDir, statsColumns = Seq("id"))
    src.append(mkRows(0, 12).toDF("id", "payload"))   // v1
    val logDir = java.nio.file.Paths.get(srcDir, "_graft_log")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val v1 = mapper.readTree(java.nio.file.Files.readAllBytes(
      logDir.resolve(f"v${1L}%020d.json")))
    val v2 = v1.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
    v2.put("version", 2L).put("parent", 1L).put("op", "merge")
    v2.putObject("changes").put("keyColumn", "id")
    java.nio.file.Files.write(logDir.resolve(f"v${2L}%020d.json"),
      mapper.writeValueAsBytes(v2),
      java.nio.file.StandardOpenOption.CREATE_NEW)
    src.append(mkRows(1, 3).toDF("id", "payload"))    // v3: rows after it
    val dst = SnapshotLog(spark, fresh("graft-cdc-dst-"))
    LogMirror.mirror(src, dst)
    def all(l: SnapshotLog) = l.read().as[(Int, String)].collect().toSeq.sorted
    assert(all(dst) == all(src),
      "the empty merge must advance the replica, not wedge it")
    val atConverged = dst.currentVersion()
    LogMirror.mirror(src, dst) // rerun converges, nothing re-applies
    assert(dst.currentVersion() == atConverged && all(dst) == all(src))
  }
}
