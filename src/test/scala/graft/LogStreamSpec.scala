package graft

import graft.streaming.LogChangeFeed
import graft.table.SnapshotLog
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

/** Streaming change-feed source over the SnapshotLog ([[LogChangeFeed]]):
  * appends arrive as micro-batches exactly once, row-preserving rewrites
  * ship nothing, row-removing commits fail the insert-only contract (or
  * are skipped when opted in), and a checkpoint restart resumes at the
  * committed version. */
class LogStreamSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def freshDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def mkRows(run: Int, n: Int): Seq[(Int, String)] =
    (0 until n).map(i => (run * 1000 + i, s"row-$run-$i"))

  /** Runs the feed into a collector via foreachBatch (checkpointed, so
    * restart semantics are the real engine's), returning (query, seen). */
  private def startFeed(table: String, checkpoint: String,
      skipChangeCommits: Boolean = false) = {
    val seen = new ConcurrentLinkedQueue[(Int, String)]()
    val q = LogChangeFeed.readChangesStream(spark, table, skipChangeCommits)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.collect().foreach(r => seen.add((r.getInt(0), r.getString(1))))
      }
      .start()
    (q, seen)
  }

  private def drained(seen: ConcurrentLinkedQueue[(Int, String)]): Seq[(Int, String)] = {
    val out = Seq.newBuilder[(Int, String)]
    seen.forEach(t => out += t)
    out.result().sorted
  }

  test("appends stream as micro-batches exactly once; compaction ships nothing") {
    val table = freshDir("graft-feed-") + "/t"
    val log = SnapshotLog(spark, table)
    log.append(mkRows(0, 20).toDF("id", "payload").repartition(2))
    val (q, seen) = startFeed(table, freshDir("graft-feed-ckpt-"))
    try {
      q.processAllAvailable()
      assert(drained(seen) == mkRows(0, 20).sorted, "the initial backlog must arrive")
      log.append(mkRows(1, 15).toDF("id", "payload"))
      log.append(mkRows(2, 10).toDF("id", "payload"))
      q.processAllAvailable()
      assert(drained(seen) == (mkRows(0, 20) ++ mkRows(1, 15) ++ mkRows(2, 10)).sorted,
        "each append must arrive exactly once")
      // physical rewrite: the table changed on disk, not logically —
      // the feed across it must be identity
      log.rewrite("compact")(_.coalesce(1))
      log.append(mkRows(3, 5).toDF("id", "payload"))
      q.processAllAvailable()
      assert(drained(seen) ==
        (mkRows(0, 20) ++ mkRows(1, 15) ++ mkRows(2, 10) ++ mkRows(3, 5)).sorted,
        "compaction must contribute nothing; the post-compaction append must flow")
    } finally q.stop()
  }

  test("rate limit: a backlog drains in bounded per-trigger batches; restart keeps the cap sound") {
    val table = freshDir("graft-feed-rl-") + "/t"
    val log = SnapshotLog(spark, table)
    (0 until 5).foreach(run =>
      log.append(mkRows(run, 4).toDF("id", "payload").coalesce(1)))
    val ckpt = freshDir("graft-feed-rl-ckpt-")
    val seen = new ConcurrentLinkedQueue[(Int, String)]()
    val batchSizes = new ConcurrentLinkedQueue[Int]()
    def start() = LogChangeFeed
      .readChangesStream(spark, table, maxVersionsPerTrigger = 2L)
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val rows = batch.collect()
        batchSizes.add(rows.length)
        rows.foreach(r => seen.add((r.getInt(0), r.getString(1))))
      }
      .start()
    val q = start()
    try {
      q.processAllAvailable()
      val sizes = { val b = Seq.newBuilder[Int]; batchSizes.forEach(b += _); b.result() }
      // 5 backlog versions × cap 2 → ceil(5/2) = 3 micro-batches of ≤ 8 rows
      assert(sizes.count(_ > 0) == 3 && sizes.forall(_ <= 8),
        s"a 5-version backlog under maxVersionsPerTrigger=2 must drain in 3 bounded batches: $sizes")
      assert(drained(seen) == (0 until 5).flatMap(mkRows(_, 4)).sorted,
        "rate limiting must not lose or duplicate rows")
    } finally q.stop()
    // restart with MORE backlog: the recovered source must not report an
    // offset behind the checkpoint, and the cap keeps applying
    (5 until 8).foreach(run =>
      log.append(mkRows(run, 4).toDF("id", "payload").coalesce(1)))
    batchSizes.clear()
    val q2 = start()
    try {
      q2.processAllAvailable()
      val sizes = { val b = Seq.newBuilder[Int]; batchSizes.forEach(b += _); b.result() }
      assert(sizes.count(_ > 0) == 2,
        s"3 new versions under cap 2 → 2 batches after restart: $sizes")
      assert(drained(seen) == (0 until 8).flatMap(mkRows(_, 4)).sorted,
        "the restarted stream must resume exactly past the checkpoint")
    } finally q2.stop()
    // file-based cap: 8 single-file versions under maxFilesPerTrigger=3
    val seen3 = new ConcurrentLinkedQueue[(Int, String)]()
    val sizes3 = new ConcurrentLinkedQueue[Int]()
    val q3 = LogChangeFeed
      .readChangesStream(spark, table, maxFilesPerTrigger = 3L)
      .writeStream
      .option("checkpointLocation", freshDir("graft-feed-rl-ckpt3-"))
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val rows = batch.collect()
        sizes3.add(rows.length)
        rows.foreach(r => seen3.add((r.getInt(0), r.getString(1))))
      }
      .start()
    try {
      q3.processAllAvailable()
      val s3 = { val b = Seq.newBuilder[Int]; sizes3.forEach(b += _); b.result() }
      assert(s3.count(_ > 0) == 3 && s3.forall(_ <= 12),
        s"8 one-file versions under maxFilesPerTrigger=3 → 3 bounded batches: $s3")
      assert(drained(seen3) == (0 until 8).flatMap(mkRows(_, 4)).sorted)
    } finally q3.stop()
  }

  test("source metrics report per-trigger admission (versions/files/backlog)") {
    val table = freshDir("graft-feed-met-") + "/t"
    val log = SnapshotLog(spark, table)
    (0 until 4).foreach(run =>
      log.append(mkRows(run, 3).toDF("id", "payload").coalesce(1)))
    val q = LogChangeFeed
      .readChangesStream(spark, table, maxVersionsPerTrigger = 2L)
      .writeStream
      .option("checkpointLocation", freshDir("graft-feed-met-ckpt-"))
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.collect(); ()
      }
      .start()
    try {
      q.processAllAvailable()
      val metrics = q.recentProgress.toSeq
        .flatMap(p => p.sources.toSeq)
        .map(_.metrics)
        .filter(m => m != null && !m.isEmpty)
      assert(metrics.nonEmpty, "progress events must carry source metrics")
      // a capped trigger admitted exactly 2 versions / 2 delta files
      // with backlog still pending behind it
      assert(metrics.exists(m =>
        m.get("versionsAdmitted") == "2" && m.get("filesAdmitted") == "2" &&
          m.get("backlogVersions").toLong > 0),
        s"expected a capped-admission tick in: $metrics")
      // the drain's final tick reports an empty backlog
      assert(metrics.exists(m => m.get("backlogVersions") == "0"),
        s"expected a drained tick in: $metrics")
    } finally q.stop()
  }

  test("unlimited admission reports versions arithmetically, files as -1 (not counted)") {
    // the r16 contract: with no rate limit, latestOffset derives the
    // admitted-version count without walking a single manifest — the
    // file tally is only known to capped triggers and reports -1
    val table = freshDir("graft-feed-met2-") + "/t"
    val log = SnapshotLog(spark, table)
    (0 until 3).foreach(run =>
      log.append(mkRows(run, 3).toDF("id", "payload").coalesce(1)))
    val q = LogChangeFeed
      .readChangesStream(spark, table) // no caps — the unlimited path
      .writeStream
      .option("checkpointLocation", freshDir("graft-feed-met2-ckpt-"))
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.collect(); ()
      }
      .start()
    try {
      q.processAllAvailable()
      val metrics = q.recentProgress.toSeq
        .flatMap(p => p.sources.toSeq)
        .map(_.metrics)
        .filter(m => m != null && !m.isEmpty)
      assert(metrics.exists(m =>
        m.get("versionsAdmitted") == "3" && m.get("filesAdmitted") == "-1"),
        s"expected an unlimited-admission tick (3 versions, files -1) " +
          s"in: $metrics")
      assert(metrics.forall(m => m.get("backlogVersions") == "0"),
        s"unlimited admission leaves no backlog: $metrics")
    } finally q.stop()
  }

  test("Trigger.AvailableNow drains a capped backlog in BOUNDED batches, then stops") {
    val table = freshDir("graft-feed-an-") + "/t"
    val log = SnapshotLog(spark, table)
    (0 until 5).foreach(run =>
      log.append(mkRows(run, 4).toDF("id", "payload").coalesce(1)))
    val seen = new ConcurrentLinkedQueue[(Int, String)]()
    val batchSizes = new ConcurrentLinkedQueue[Int]()
    // the native SupportsTriggerAvailableNow keeps admission control
    // live under AvailableNow (the engine's generic wrapper would
    // discard the cap and drain the backlog as ONE batch)
    val q = LogChangeFeed
      .readChangesStream(spark, table, maxVersionsPerTrigger = 2L)
      .writeStream
      .option("checkpointLocation", freshDir("graft-feed-an-ckpt-"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val rows = batch.collect()
        batchSizes.add(rows.length)
        rows.foreach(r => seen.add((r.getInt(0), r.getString(1))))
      }
      .start()
    assert(q.awaitTermination(120000), "AvailableNow must terminate")
    val sizes = { val b = Seq.newBuilder[Int]; batchSizes.forEach(b += _); b.result() }
    assert(sizes.count(_ > 0) == 3 && sizes.forall(_ <= 8),
      s"a 5-version backlog under maxVersionsPerTrigger=2 must drain in " +
        s"3 bounded AvailableNow batches: $sizes")
    assert(drained(seen) == (0 until 5).flatMap(mkRows(_, 4)).sorted,
      "the bounded drain must ship everything exactly once, then stop")
  }

  test("startingVersion seeds a fresh stream past history; 'latest' ships only new commits") {
    val table = freshDir("graft-feed-sv-") + "/t"
    val log = SnapshotLog(spark, table)
    (0 until 3).foreach(run =>
      log.append(mkRows(run, 3).toDF("id", "payload").coalesce(1)))
    // explicit version is INCLUSIVE (the Delta contract): v2 and v3 ship
    val seen = new ConcurrentLinkedQueue[(Int, String)]()
    val q = spark.readStream
      .format(classOf[graft.streaming.LogChangeFeedProvider].getName)
      .option("path", table).option("startingVersion", "2")
      .load().writeStream
      .option("checkpointLocation", freshDir("graft-feed-sv-ckpt-"))
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.collect().foreach(r => seen.add((r.getInt(0), r.getString(1))))
      }.start()
    try {
      q.processAllAvailable()
      assert(drained(seen) == (mkRows(1, 3) ++ mkRows(2, 3)).sorted,
        "startingVersion=2 must ship v2 and later (inclusive of 2)")
    } finally q.stop()
    // out-of-history versions refuse loudly at start
    val bad = spark.readStream
      .format(classOf[graft.streaming.LogChangeFeedProvider].getName)
      .option("path", table).option("startingVersion", "99")
      .load().writeStream
      .option("checkpointLocation", freshDir("graft-feed-sv-ckptbad-"))
      .format("noop").start()
    try {
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        bad.processAllAvailable()
      }
    } finally bad.stop()
    // 'latest': nothing from history, only commits after stream start;
    // the resolved bound persists in the checkpoint, so a restarted
    // stream keeps the ORIGINAL stream-start boundary
    val ckpt2 = freshDir("graft-feed-sv-ckpt2-")
    val seen2 = new ConcurrentLinkedQueue[(Int, String)]()
    def latestQuery() = spark.readStream
      .format(classOf[graft.streaming.LogChangeFeedProvider].getName)
      .option("path", table).option("startingVersion", "latest")
      .load().writeStream
      .option("checkpointLocation", ckpt2)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.collect().foreach(r => seen2.add((r.getInt(0), r.getString(1))))
      }.start()
    val q2 = latestQuery()
    try {
      q2.processAllAvailable()
      assert(drained(seen2).isEmpty, "'latest' must skip the backlog")
      log.append(mkRows(7, 2).toDF("id", "payload"))
      q2.processAllAvailable()
      assert(drained(seen2) == mkRows(7, 2).sorted,
        "commits after stream start must flow")
    } finally q2.stop()
    log.append(mkRows(8, 2).toDF("id", "payload")) // lands while down
    val q3 = latestQuery()
    try {
      q3.processAllAvailable()
      val got = drained(seen2).toSet
      // foreachBatch is at-least-once across a stop (the final commit-log
      // write can race the stop) — the contract here is NO LOSS and no
      // re-resolution past the original stream-start boundary
      assert(mkRows(8, 2).toSet.subsetOf(got) &&
        got.subsetOf((mkRows(7, 2) ++ mkRows(8, 2)).toSet),
        s"restart must ship the down-time commits and nothing pre-start: $got")
    } finally q3.stop()
    // batch-0 recovery determinism (the case the persistence exists for):
    // a stream REBUILT over the same checkpoint path — what a crash
    // before batch 0's offset write does — re-reads the persisted
    // 'latest' bound instead of re-resolving against a head that moved
    val meta = freshDir("graft-feed-sv-meta-")
    val h0 = log.currentVersion()
    val pinned = log.read().schema
    def mkStream(ckpt: String) = new graft.streaming.LogMicroBatchStream(
      spark, table, pinned, false, false, false, 0L, 0L, "latest", ckpt)
    val src1 = mkStream(meta)
    assert(src1.resolvedStartVersion == h0)
    log.append(mkRows(9, 2).toDF("id", "payload")) // head moves past h0
    val src2 = mkStream(meta) // "restarted" stream
    assert(src2.resolvedStartVersion == h0,
      "recovery must replay from the ORIGINAL (persisted) bound — " +
        "re-resolving 'latest' against the moved head would drop the " +
        "planned batch-0 span")
    // a stream with NO checkpoint path (direct construction) resolves fresh
    val src3 = mkStream("")
    assert(src3.resolvedStartVersion == h0 + 1)
  }

  test("readStream.table streams the catalog table's insert feed; CDC options refuse") {
    val root = freshDir("graft-feed-cat-")
    val table = root + "/t"
    val log = SnapshotLog(spark, table)
    log.append(mkRows(0, 8).toDF("id", "payload"))
    spark.conf.set("spark.sql.catalog.gstream1",
      classOf[graft.table.GraftTableCatalog].getName)
    spark.conf.set("spark.sql.catalog.gstream1.root", root)
    val seen = new ConcurrentLinkedQueue[(Int, String)]()
    val q = spark.readStream.table("gstream1.t").writeStream
      .option("checkpointLocation", freshDir("graft-feed-cat-ckpt-"))
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.collect().foreach(r => seen.add((r.getInt(0), r.getString(1))))
      }
      .start()
    try {
      q.processAllAvailable()
      assert(drained(seen) == mkRows(0, 8).sorted,
        "the backlog must stream through the catalog table face")
      log.append(mkRows(1, 4).toDF("id", "payload"))
      q.processAllAvailable()
      assert(drained(seen) == (mkRows(0, 8) ++ mkRows(1, 4)).sorted,
        "later appends must arrive exactly once")
    } finally q.stop()
    // a table carrying merge-on-read DEBT still streams through the
    // catalog face (the builder plans LogDebtScan, whose micro-batch
    // face is the same stream — the feed reads delta files RAW, so
    // debt never applies to it); the row-removing commit itself is
    // skipped under the opt-in, and at-commit-time semantics mean the
    // earlier append still ships the later-deleted row
    log.deleteKeys("payload", Seq("row-1-0").toDF("payload"))
    log.append(mkRows(2, 3).toDF("id", "payload"))
    val seen2 = new ConcurrentLinkedQueue[(Int, String)]()
    val q2 = spark.readStream.option("skipChangeCommits", "true")
      .table("gstream1.t").writeStream
      .option("checkpointLocation", freshDir("graft-feed-cat-ckpt2-"))
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.collect().foreach(r => seen2.add((r.getInt(0), r.getString(1))))
      }
      .start()
    try {
      q2.processAllAvailable()
      assert(drained(seen2) ==
        (mkRows(0, 8) ++ mkRows(1, 4) ++ mkRows(2, 3)).sorted,
        "every APPEND ships raw across the debt window (at-commit-time " +
          "feed semantics); the delete version ships nothing")
    } finally q2.stop()
    // row-level CDC refuses on the table face (its relation schema has
    // no _change_type) and points at the provider format
    val bad = spark.readStream.option("readChangeFeed", "true")
      .table("gstream1.t").writeStream
      .option("checkpointLocation", freshDir("graft-feed-cat-ckptbad-"))
      .format("noop").start()
    try {
      val ex = intercept[StreamingQueryException] { bad.processAllAvailable() }
      def chain(t: Throwable): Seq[String] =
        if (t == null) Nil else String.valueOf(t.getMessage) +: chain(t.getCause)
      assert(chain(ex).exists(_.contains("graft-log-changes")),
        s"the refusal must name the CDC format, got ${chain(ex)}")
    } finally bad.stop()
  }

  test("restart from checkpoint resumes at the committed version, not the beginning") {
    val table = freshDir("graft-feed-") + "/t"
    val ckpt = freshDir("graft-feed-ckpt-")
    val log = SnapshotLog(spark, table)
    log.append(mkRows(0, 12).toDF("id", "payload"))
    val (q1, seen1) = startFeed(table, ckpt)
    try {
      q1.processAllAvailable()
      assert(drained(seen1) == mkRows(0, 12).sorted)
    } finally q1.stop()
    // progress lives in the checkpoint: a NEW query over the SAME
    // checkpoint must replay nothing it already committed
    log.append(mkRows(1, 7).toDF("id", "payload"))
    val (q2, seen2) = startFeed(table, ckpt)
    try {
      q2.processAllAvailable()
      assert(drained(seen2) == mkRows(1, 7).sorted,
        s"restart must deliver only the new version, got ${drained(seen2)}")
    } finally q2.stop()
  }

  test("restore fails the insert-only feed: a rollback un-commits shipped rows") {
    val table = freshDir("graft-feed-") + "/t"
    val log = SnapshotLog(spark, table)
    log.append(mkRows(0, 5).toDF("id", "payload"))
    log.append(mkRows(1, 5).toDF("id", "payload"))
    val (q, seen) = startFeed(table, freshDir("graft-feed-ckpt-"))
    try {
      q.processAllAvailable()
      assert(drained(seen) == (mkRows(0, 5) ++ mkRows(1, 5)).sorted)
      // roll back past the second append: rows this stream already
      // shipped are no longer in the table — the feed must not pretend
      // nothing happened
      log.restore(1)
      val ex = intercept[StreamingQueryException] { q.processAllAvailable() }
      def chain(t: Throwable): Seq[String] =
        if (t == null) Nil else t.getMessage +: chain(t.getCause)
      assert(chain(ex).exists(m => m.contains("insert-only") && m.contains("restore")),
        s"expected the restore refusal, got: ${chain(ex)}")
    } finally q.stop()
  }

  test("widen_type mid-stream fails loudly; a restarted stream adopts the wide type") {
    import org.apache.spark.sql.types.LongType
    val table = freshDir("graft-widen-") + "/t"
    val log = SnapshotLog(spark, table)
    log.append(Seq((1, "a"), (2, "b")).toDF("id", "payload")) // id INT
    val (q, seen) = startFeed(table, freshDir("graft-widen-ckpt-"))
    try {
      q.processAllAvailable()
      assert(drained(seen) == Seq((1, "a"), (2, "b")))
      // the stream pinned id at INT; widen the table and land a value
      // no INT can hold — emitting LONG bytes into the pinned INT
      // ordinal would SILENTLY truncate, so the plan must refuse
      log.widenColumnType("id", LongType)
      log.append(Seq((3000000000L, "c")).toDF("id", "payload"))
      val ex = intercept[StreamingQueryException] { q.processAllAvailable() }
      def chain(t: Throwable): Seq[String] =
        if (t == null) Nil else t.getMessage +: chain(t.getCause)
      assert(chain(ex).exists(m =>
        m.contains("type widening") && m.contains("restart the stream")),
        s"expected the widen refusal, got: ${chain(ex)}")
    } finally q.stop()
    // a FRESH stream pins the widened type: narrow history casts up,
    // the wide row arrives intact
    val seenWide = new ConcurrentLinkedQueue[(Long, String)]()
    val q2 = LogChangeFeed.readChangesStream(spark, table)
      .writeStream
      .option("checkpointLocation", freshDir("graft-widen-ckpt2-"))
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.collect().foreach(r => seenWide.add((r.getLong(0), r.getString(1))))
      }
      .start()
    try {
      q2.processAllAvailable()
      val out = { val b = Seq.newBuilder[(Long, String)]
        seenWide.forEach(t => b += t); b.result().sorted }
      assert(out == Seq((1L, "a"), (2L, "b"), (3000000000L, "c")),
        "the restarted stream reads history cast up and the wide row exactly")
    } finally q2.stop()
  }

  test("row-removing commit fails the insert-only feed; skipChangeCommits streams past") {
    val table = freshDir("graft-feed-") + "/t"
    val log = SnapshotLog(spark, table,
      statsColumns = Seq("id"), bloomColumns = Seq("id"))
    log.append(mkRows(0, 10).toDF("id", "payload"))
    val (q, seen) = startFeed(table, freshDir("graft-feed-ckpt-"))
    try {
      q.processAllAvailable()
      assert(drained(seen) == mkRows(0, 10).sorted)
      log.deleteKeys("id", Seq(3, 4).toDF("id"))
      val ex = intercept[StreamingQueryException] { q.processAllAvailable() }
      def chain(t: Throwable): Seq[String] =
        if (t == null) Nil else t.getMessage +: chain(t.getCause)
      assert(chain(ex).exists(_.contains("insert-only")),
        s"expected the insert-only contract error, got: ${chain(ex)}")
    } finally q.stop()
    // opting in skips the delete version but keeps every append —
    // including ones committed after it
    log.append(mkRows(1, 6).toDF("id", "payload"))
    val (q2, seen2) = startFeed(table, freshDir("graft-feed-ckpt-"),
      skipChangeCommits = true)
    try {
      q2.processAllAvailable()
      assert(drained(seen2) == (mkRows(0, 10) ++ mkRows(1, 6)).sorted,
        "skipChangeCommits must deliver all appends and only appends")
    } finally q2.stop()
  }

  test("truncate over a debt-carrying parent streams the composed pre-image (checkpoint spill)") {
    val table = freshDir("graft-spill-") + "/t"
    val ckpt = freshDir("graft-spill-ckpt-")
    val log = SnapshotLog.withChangeFeed(spark, table, statsColumns = Seq("id"))
    log.append(mkRows(0, 10).toDF("id", "payload"))   // v1: 10 inserts
    log.deleteKeys("id", Seq(3, 4).toDF("id"))        // v2: tombstones PENDING
    log.truncate()                                    // v3: over merge-on-read debt
    log.append(mkRows(1, 2).toDF("id", "payload"))    // v4: 2 inserts
    val seen = new ConcurrentLinkedQueue[(Int, String, Long)]()
    val q = LogChangeFeed.readChangesStream(spark, table, readChangeFeed = true)
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.select("id", "_change_type", "_commit_version").collect()
          .foreach(r => seen.add((r.getInt(0), r.getString(1), r.getLong(2))))
      }
      .start()
    try {
      q.processAllAvailable()
      val out = { val b = Seq.newBuilder[(Int, String, Long)]
        seen.forEach(t => b += t); b.result() }
      // the truncate's pre-image is the parent's LOGICAL table: the
      // tombstoned keys 3 and 4 must NOT re-image (the raw files would
      // ship them) — the refusal this replaces would have failed here
      val v3dels = out.filter(t => t._3 == 3L && t._2 == "delete").map(_._1)
      assert(v3dels.sorted == (0 until 10).filterNot(Set(3, 4)).toSeq,
        s"the spilled pre-image must be the debt-applied survivors: $v3dels")
      // and the whole stream nets to the batch feed exactly
      val batchRef = log.readChangeRows(0)
        .select("id", "_change_type", "_commit_version")
        .as[(Int, String, Long)].collect().toSeq.sorted
      assert(out.sorted == batchRef, "stream == batch feed, row for row")
    } finally q.stop()
  }

  test("four-type stream over pre-pair-tag merge images spills the key-join re-typing") {
    val table = freshDir("graft-4t-") + "/t"
    val log = SnapshotLog.withChangeFeed(spark, table, statsColumns = Seq("id"))
    log.append(Seq((1, "a"), (2, "b")).toDF("id", "payload"))
    log.mergeByKey(Seq((2, "B2"), (3, "c")).toDF("id", "payload"), "id")
    // simulate PRE-PAIR-TAG history: strip the recorded pair bit from
    // the image files in place (what r13-and-earlier tables carry)
    val cs = log.snapshot().changes.get
    cs.files.foreach { f =>
      val p = new java.io.File(s"$table/data/$f")
      val df = spark.read.parquet(p.toString)
      assert(df.columns.contains(SnapshotLog.PairCol))
      val stripped = df.drop(SnapshotLog.PairCol)
      val tmp = freshDir("graft-4t-strip-")
      stripped.coalesce(1).write.parquet(s"$tmp/out")
      val part = new java.io.File(s"$tmp/out").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      assert(p.delete())
      java.nio.file.Files.copy(part.toPath, p.toPath)
      // sweep the checksum sibling so the local FS does not reject the
      // swapped bytes against the old file's CRC
      val crc = new java.io.File(p.getParent, s".${p.getName}.crc")
      if (crc.exists()) crc.delete()
    }
    // batch reference: the key-join re-typing branch
    val batchRef = log.readChangeRows(0, fourType = true)
      .select("id", "payload", "_change_type", "_commit_version")
      .as[(Int, String, String, Long)].collect().toSeq.sorted
    assert(batchRef.exists(_._3 == "update_preimage") &&
      batchRef.exists(_._3 == "update_postimage"),
      s"fixture must exercise re-typing: $batchRef")
    // streamed: the planner must spill the key-join read instead of
    // refusing (the pair column is gone from the image footers)
    val seen = new ConcurrentLinkedQueue[(Int, String, String, Long)]()
    val q = LogChangeFeed.readChangesStream(spark, table,
      readChangeFeed = true, fourTypeCdc = true)
      .writeStream
      .option("checkpointLocation", freshDir("graft-4t-ckpt-"))
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.select("id", "payload", "_change_type", "_commit_version")
          .collect().foreach(r =>
            seen.add((r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))))
      }
      .start()
    try {
      q.processAllAvailable()
      val out = { val b = Seq.newBuilder[(Int, String, String, Long)]
        seen.forEach(t => b += t); b.result() }
      assert(out.sorted == batchRef, "stream four-type == batch four-type")
    } finally q.stop()
  }

  test("differential: every stream mode equals its batch feed over every routed op") {
    import graft.table.MergeWhen
    import org.apache.spark.sql.{Dataset, Row}
    import org.apache.spark.sql.functions.{col, lit}
    val SP = SnapshotLog.MergeSrcPrefix
    val table = freshDir("graft-diff-") + "/t"
    val log = SnapshotLog.withChangeFeed(spark, table, statsColumns = Seq("id"))
    def rows(lo: Int, n: Int, tag: String) =
      (lo until lo + n).map(i => (i, s"$tag-$i")).toDF("id", "payload")
    // v1-v4: four clustered single-file appends, ids [100r, 100r + 99]
    (0 until 4).foreach(r => log.append(rows(r * 100, 100, s"r$r").coalesce(1)))
    log.renameColumn("payload", "note")                              // v5
    log.append(rows(400, 50, "r4").withColumnRenamed("payload", "note")
      .coalesce(1))                                                   // v6
    val sparse = log.deleteWhere(("id", 10, 12)).get                 // v7
    assert(sparse.dvs.nonEmpty, "3 of 100 rows must commit a vector")
    val dense = log.deleteWhere(("id", 100, 170)).get                // v8
    assert(dense.changes.exists(_.files.nonEmpty), "71 of 100 rows rewrite")
    val whole = log.deleteWhere(("id", 200, 299)).get                // v9
    assert(whole.changes.exists(_.deletedDataFiles.nonEmpty),
      "a fully matched file drops by reference")
    log.updateWhere(Seq(("id", 300, 304)), Seq("note" -> lit("upd"))) // v10
    log.mergeClauses(Seq((305, "m"), (9000, "n")).toDF("id", "note"),
      keys = Seq(("id", "id")),
      matched = Seq(MergeWhen(None, "update", Seq("note" -> col(SP + "note")))),
      notMatched = Seq(MergeWhen(None, "insert",
        Seq("id" -> col(SP + "id"), "note" -> col(SP + "note")))))   // v11
    log.deleteKeys("id", Seq(306, 307).toDF("id"))                   // v12
    log.compact()                   // v13: materializes the tombstones
    log.overwriteWhere(Seq(("id", 400, 449)),
      rows(400, 10, "ow").withColumnRenamed("payload", "note"))      // v14
    log.overwriteAll(rows(500, 100, "all")
      .withColumnRenamed("payload", "note").coalesce(1))             // v15
    log.deleteWhere(("id", 510, 510))                                // v16
    assert(log.snapshot().dvs.nonEmpty, "the truncate's parent carries a vector")
    log.truncate()                                                   // v17
    log.append(rows(700, 10, "r7").withColumnRenamed("payload", "note")) // v18
    assert(log.history().map(_.op) == Seq("append", "append", "append",
      "append", "rename", "append", "delete", "delete", "delete", "update",
      "merge", "delete_keys", "compact", "replace_where", "overwrite",
      "delete", "truncate", "append"))

    def sorted(rs: Seq[Row]): Seq[String] = rs.map(_.toString).sorted
    def streamed(df: org.apache.spark.sql.DataFrame, cols: Seq[String]) = {
      val seen = new ConcurrentLinkedQueue[Row]()
      val q = df.writeStream
        .option("checkpointLocation", freshDir("graft-diff-ckpt-"))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: Dataset[Row], _: Long) =>
          b.select(cols.map(col): _*).collect().foreach(seen.add) }
        .start()
      assert(q.awaitTermination(180000), "AvailableNow must terminate")
      val b = Seq.newBuilder[Row]; seen.forEach(b += _); sorted(b.result())
    }
    val cdcCols = Seq("id", "note", "_change_type", "_commit_version")
    Seq(false, true).foreach { fourType =>
      val batch = sorted(log.readChangeRows(0, fourType = fourType)
        .select(cdcCols.map(col): _*).collect().toSeq)
      val types = batch.map(_.split(",")(2)).toSet
      assert(types.contains("delete") && types.contains("insert") &&
        types.contains("update_preimage") == fourType,
        s"fourType=$fourType feed must exercise its types: $types")
      assert(streamed(LogChangeFeed.readChangesStream(spark, table,
        readChangeFeed = true, fourTypeCdc = fourType), cdcCols) == batch,
        s"row-level stream (fourType=$fourType) == readChangeRows(0)")
    }
    val inserts = sorted(log.readChanges(0).select("id", "note").collect().toSeq)
    assert(inserts.size == 460, "the six appends' rows")
    assert(streamed(LogChangeFeed.readChangesStream(spark, table,
      skipChangeCommits = true), Seq("id", "note")) == inserts,
      "insert stream with skipChangeCommits == readChanges(0)")
  }

  test("a pre-rename append feeds under the names it was written with after compaction drops its file") {
    val table = freshDir("graft-feed-ren-") + "/t"
    val log = SnapshotLog(spark, table)
    log.append(mkRows(0, 5).toDF("id", "payload"))  // v1, written as `payload`
    log.renameColumn("payload", "note")               // v2
    log.compact()                                     // v3: v1's file leaves the live set
    assert(!log.snapshot().files.exists(log.snapshot(1).files.contains))
    assert(log.readChanges(0).select("id", "note").as[(Int, String)]
      .collect().toSeq.sorted == mkRows(0, 5).sorted,
      "the batch insert feed must read v1's file under v1's names")
    val (q, seen) = startFeed(table, freshDir("graft-feed-ren-ckpt-"))
    try {
      q.processAllAvailable()
      assert(drained(seen) == mkRows(0, 5).sorted,
        "the insert stream must read v1's file under v1's names")
    } finally q.stop()
  }

  test("by-reference delete images of an old-epoch file align across a later rename") {
    import org.apache.spark.sql.functions.col
    val table = freshDir("graft-feed-ren2-") + "/t"
    val log = SnapshotLog.withChangeFeed(spark, table, statsColumns = Seq("id"))
    log.append(mkRows(0, 10).toDF("id", "payload").coalesce(1))  // v1
    log.append(mkRows(1, 10).toDF("id", "payload").coalesce(1))  // v2
    log.renameColumn("payload", "note")                            // v3
    // v4 drops v1's whole file, which v3 tagged with the `payload` epoch
    assert(log.deleteWhere(("id", 0, 9)).get
      .changes.exists(_.deletedDataFiles.nonEmpty))
    log.renameColumn("note", "memo")                               // v5
    val cols = Seq("id", "memo", "_change_type", "_commit_version")
    val batch = log.readChangeRows(0).select(cols.map(col): _*)
      .as[(Int, String, String, Long)].collect().toSeq.sorted
    assert(batch.filter(_._3 == "delete").map(t => (t._1, t._2)) == mkRows(0, 10).sorted,
      s"the dropped file's images must carry its values under the latest name: $batch")
    val seen = new ConcurrentLinkedQueue[(Int, String, String, Long)]()
    val q = LogChangeFeed.readChangesStream(spark, table, readChangeFeed = true)
      .writeStream
      .option("checkpointLocation", freshDir("graft-feed-ren2-ckpt-"))
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        b.select(cols.map(col): _*).collect()
          .foreach(r => seen.add((r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))))
      }
      .start()
    try {
      q.processAllAvailable()
      val out = { val b = Seq.newBuilder[(Int, String, String, Long)]
        seen.forEach(t => b += t); b.result().sorted }
      assert(out == batch, "stream == batch across the two renames")
    } finally q.stop()
  }

  test("readChangeFeed streams row-level deletes; checkpoint restart resumes mid-history") {
    val table = freshDir("graft-feed-") + "/t"
    val ckpt = freshDir("graft-feed-ckpt-")
    val log = SnapshotLog.withChangeFeed(spark, table, statsColumns = Seq("id"))
    log.append(mkRows(0, 10).toDF("id", "payload"))
    val seen = new ConcurrentLinkedQueue[(Int, String, String, Long)]()
    def start() = LogChangeFeed
      .readChangesStream(spark, table, readChangeFeed = true)
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.select("id", "payload", "_change_type", "_commit_version")
          .collect().foreach(r =>
            seen.add((r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))))
      }
      .start()
    val q = start()
    try {
      q.processAllAvailable()
      assert(seen.size() == 10)
    } finally q.stop()
    // a delete and an append land while the stream is DOWN; the restart
    // must replay exactly the missed versions, images included
    log.deleteWhere(("id", 3, 4))
    log.append(mkRows(1, 2).toDF("id", "payload"))
    val q2 = start()
    try {
      q2.processAllAvailable()
      val out = { val b = Seq.newBuilder[(Int, String, String, Long)]
        seen.forEach(t => b += t); b.result() }
      assert(out.count(_._3 == "delete") == 2 &&
        out.filter(_._3 == "delete").map(_._1).sorted == Seq(3, 4),
        "the delete images must arrive after restart")
      assert(out.count(_._3 == "insert") == 12)
      // the running net equals the table — exactly-once end to end
      val net = out.groupBy(t => (t._1, t._2)).collect {
        case (row, evs) if evs.count(_._3 == "insert") -
          evs.count(_._3 == "delete") == 1 => row
      }.toSeq.sorted
      assert(net == log.read().as[(Int, String)].collect().toSeq.sorted)
    } finally q2.stop()
    // the two stream modes are mutually exclusive by construction
    assertThrows[IllegalArgumentException] {
      new graft.streaming.LogMicroBatchStream(spark, table,
        log.read().schema, skipChangeCommits = true, readChangeFeed = true,
        fourTypeCdc = false, maxVersionsPerTrigger = 0L,
        maxFilesPerTrigger = 0L, startingVersion0 = "",
        checkpointLocation = "")
    }
  }
}
