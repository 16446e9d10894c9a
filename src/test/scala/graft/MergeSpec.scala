package graft

import graft.table.{GraftTableCatalog, MergeWhen, SnapshotLog}
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** General multi-clause MERGE ([[SnapshotLog.mergeClauses]] + the SQL
  * tier of [[graft.table.MergeIntoLogRule]]): conditional matched
  * update/delete, conditional multi-clause inserts, NOT MATCHED BY
  * SOURCE, composite keys with differing side names, first-wins clause
  * order, the genuine-ambiguity cardinality policy, insert-only merges
  * rewriting nothing, CDC image pairing under fourType, and loud
  * refusals for inexpressible shapes. */
class MergeSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val SP = SnapshotLog.MergeSrcPrefix

  private def fresh(statsCols: Seq[String] = Seq("id"),
      feed: Boolean = false): SnapshotLog = {
    val dir = Files.createTempDirectory("graft-mergec-").resolve("t").toString
    if (feed) SnapshotLog.withChangeFeed(spark, dir, statsColumns = statsCols)
    else SnapshotLog(spark, dir, statsColumns = statsCols)
  }

  test("typed clause matrix: conditional update/delete/insert + by-source, first-wins") {
    val log = fresh()
    // id, grp, bal, seg
    log.append((0 until 10).map(i => (i.toLong, i % 3, i * 100.0, "old"))
      .toDF("id", "grp", "bal", "seg").coalesce(1))
    // source under DIFFERENT names: (k, g, amount); covers ids 0..5 and
    // two new ids; id 2 qualifies for BOTH matched clauses — first wins
    val src = Seq(
      (0L, 0, 50.0),     // matched, amount < 100   -> DELETE
      (1L, 1, 150.0),    // matched, amount >= 100  -> UPDATE (second clause)
      (2L, 2, 60.0),     // matched, both conds true -> DELETE (first wins)
      (3L, 0, 999.0),    // matched, >= 100         -> UPDATE
      (4L, 1, 75.0),     // matched, < 100          -> DELETE
      (5L, 2, 100.0),    // matched, >= 100 (boundary) -> UPDATE
      (100L, 0, 10.0),   // not matched, g = 0      -> INSERT 'new_zero'
      (101L, 1, 20.0)    // not matched             -> INSERT 'new'
    ).toDF("k", "g", "amount")
    log.mergeClauses(src,
      keys = Seq(("id", "k"), ("grp", "g")),
      matched = Seq(
        MergeWhen(Some(col(s"${SP}amount") < 100), "delete"),
        MergeWhen(Some(col(s"${SP}amount") >= 100), "update",
          Seq("bal" -> (col("bal") + col(s"${SP}amount")), "seg" -> lit("upd")))),
      notMatched = Seq(
        MergeWhen(Some(col(s"${SP}g") === 0), "insert",
          Seq("id" -> col(s"${SP}k"), "grp" -> col(s"${SP}g"),
            "bal" -> col(s"${SP}amount"), "seg" -> lit("new_zero"))),
        MergeWhen(None, "insert",
          Seq("id" -> col(s"${SP}k"), "grp" -> col(s"${SP}g"),
            "bal" -> col(s"${SP}amount"), "seg" -> lit("new")))),
      notMatchedBySource = Seq(
        MergeWhen(Some(col("id") >= 8), "update", Seq("seg" -> lit("stale")))))
    val out = log.read().select("id", "grp", "bal", "seg")
      .as[(Long, Int, Double, String)].collect().toMap2
    // deleted: 0, 2, 4; updated: 1 -> 100+150, 3 -> 300+999, 5 -> 500+100
    assert(!out.contains(0L) && !out.contains(2L) && !out.contains(4L))
    assert(out(1L) == ((1, 250.0, "upd")))
    assert(out(3L) == ((0, 1299.0, "upd")))
    assert(out(5L) == ((2, 600.0, "upd")))
    // untouched matched-side rows 6, 7 keep; by-source 8, 9 re-segment
    assert(out(6L) == ((0, 600.0, "old")) && out(7L) == ((1, 700.0, "old")))
    assert(out(8L) == ((2, 800.0, "stale")) && out(9L) == ((0, 900.0, "stale")))
    // inserts: clause order picked the conditional one for g = 0
    assert(out(100L) == ((0, 10.0, "new_zero")))
    assert(out(101L) == ((1, 20.0, "new")))
    assert(log.snapshot().op == "merge" && log.read().count() == 9)
  }

  implicit private class MapOps(
      rows: Array[(Long, Int, Double, String)]) {
    def toMap2: Map[Long, (Int, Double, String)] =
      rows.map { case (id, g, b, s) => id -> ((g, b, s)) }.toMap
  }

  test("cardinality: duplicated source keys abort only when they match; unmatched dups insert") {
    val log = fresh()
    log.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1))
    // dup key 99 never matches: standard MERGE inserts both rows
    log.mergeClauses(Seq((99L, "x1"), (99L, "x2"), (1L, "upd")).toDF("id", "v"),
      keys = Seq(("id", "id")),
      matched = Seq(MergeWhen(None, "update", Seq("v" -> col(s"${SP}v")))),
      notMatched = Seq(MergeWhen(None, "insert",
        Seq("id" -> col(s"${SP}id"), "v" -> col(s"${SP}v")))))
    assert(log.read().where(col("id") === 99).count() == 2)
    assert(log.read().where(col("id") === 1).select("v").as[String].head() == "upd")
    // dup key 2 DOES match: genuine ambiguity aborts before staging
    val v = log.currentVersion()
    val ex = intercept[IllegalStateException] {
      log.mergeClauses(Seq((2L, "y1"), (2L, "y2")).toDF("id", "v"),
        keys = Seq(("id", "id")),
        matched = Seq(MergeWhen(None, "update", Seq("v" -> col(s"${SP}v")))),
        notMatched = Nil)
    }
    assert(ex.getMessage.contains("at most one source row"))
    assert(log.currentVersion() == v, "an aborted merge must commit nothing")
  }

  test("insert-only merge rewrites no files; NULL keys insert, never match") {
    val log = fresh()
    val v1 = log.append((0 until 5).map(i => (i.toLong, s"a$i"))
      .toDF("id", "v").coalesce(1))
    val src = Seq((Some(1L), "dup-key"), (None, "null-key"), (Some(50L), "new"))
      .toDF("id", "v")
    log.mergeClauses(src, keys = Seq(("id", "id")),
      matched = Nil,
      notMatched = Seq(MergeWhen(None, "insert",
        Seq("id" -> col(s"${SP}id"), "v" -> col(s"${SP}v")))))
    val s = log.snapshot()
    assert(v1.files.forall(s.files.contains),
      "insert-only merge must carry every base file untouched")
    // id 1 matched -> no insert clause fires for it; NULL key inserts
    assert(log.read().count() == 7)
    assert(log.read().where(col("id").isNull).select("v")
      .as[String].collect().toSeq == Seq("null-key"))
    assert(log.read().where(col("id") === 1).count() == 1, "matched row kept once")
  }

  test("by-source-only merge: duplicate source keys cannot duplicate kept matched rows") {
    val log = fresh()
    log.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v").coalesce(1))
    // the source mentions id 1 TWICE — legal (no matched clauses act on
    // it; duplicated tuples only abort when a matched clause would fire
    // ambiguously). The matched row must flow through exactly once: the
    // full-outer join fans it out per duplicate, so the pass-through set
    // dedups the join by target row id.
    log.mergeClauses(Seq((1L, "x"), (1L, "y")).toDF("id", "v"),
      keys = Seq(("id", "id")),
      matched = Nil, notMatched = Nil,
      notMatchedBySource = Seq(
        MergeWhen(None, "update", Seq("v" -> lit("stale")))))
    val out = log.read().select("id", "v")
      .as[(Long, String)].collect().sorted.toSeq
    assert(out == Seq((1L, "a"), (2L, "stale"), (3L, "stale")),
      s"matched row kept once and untouched, got $out")
  }

  test("CDC fourType: matched DELETE + unrelated insert landing the same key stay delete/insert") {
    val log = fresh(feed = true)
    log.append(Seq((1L, "old")).toDF("id", "v").coalesce(1)) // v1
    // key-based pairing would label these two images an update pair;
    // the write-time pair tag keeps them genuine
    log.mergeClauses(Seq((1L, "dead"), (50L, "new")).toDF("k", "nv"),
      keys = Seq(("id", "k")),
      matched = Seq(MergeWhen(None, "delete")),
      notMatched = Seq(MergeWhen(None, "insert",
        Seq("id" -> lit(1L), "v" -> col(s"${SP}nv"))))) // v2
    val four = log.readChangeRows(1, 2, fourType = true)
      .select("id", "v", "_change_type")
      .as[(Long, String, String)].collect().toSet
    assert(four == Set((1L, "old", "delete"), (1L, "new", "insert")),
      s"got $four")
    // the two-type view never sees the internal pair tag
    val cols = log.readChangeRows(1, 2).columns.toSet
    assert(!cols.contains(SnapshotLog.PairCol), cols.toString)
  }

  test("CDC: clause merge images pair under fourType; pure deletes/inserts keep their types") {
    val log = fresh(feed = true)
    log.append((0 until 6).map(i => (i.toLong, i * 10)).toDF("id", "x")
      .coalesce(1)) // v1
    log.mergeClauses(
      Seq((0L, -1), (1L, 999), (50L, 500)).toDF("id", "x"),
      keys = Seq(("id", "id")),
      matched = Seq(
        MergeWhen(Some(col(s"${SP}x") < 0), "delete"),
        MergeWhen(None, "update", Seq("x" -> col(s"${SP}x")))),
      notMatched = Seq(MergeWhen(None, "insert",
        Seq("id" -> col(s"${SP}id"), "x" -> col(s"${SP}x"))))) // v2
    val four = log.readChangeRows(1, 2, fourType = true)
      .select("id", "x", "_change_type")
      .as[(Long, Int, String)].collect().toSet
    assert(four == Set(
      (0L, 0, "delete"),                 // matched DELETE: genuine delete
      (1L, 10, "update_preimage"),       // matched UPDATE pairs...
      (1L, 999, "update_postimage"),     // ...per key
      (50L, 500, "insert")))             // genuine insert
    // two-type view stays raw delete/insert
    val two = log.readChangeRows(1, 2).select("_change_type")
      .as[String].collect().groupBy(identity).view.mapValues(_.length).toMap
    assert(two == Map("delete" -> 2, "insert" -> 2))
  }

  test("mirror replays a clause merge: deletes propagate, composite keys route, reruns converge") {
    val src = fresh(feed = true)
    src.append((0 until 6).map(i => (i.toLong, i % 2, s"a$i"))
      .toDF("id", "grp", "v").coalesce(1)) // v1
    src.mergeClauses(
      Seq((0L, 0, "DEAD"), (1L, 1, "upd1"), (50L, 0, "new50"))
        .toDF("k", "g", "nv"),
      keys = Seq(("id", "k"), ("grp", "g")),
      matched = Seq(
        MergeWhen(Some(col(s"${SP}nv") === "DEAD"), "delete"),
        MergeWhen(None, "update", Seq("v" -> col(s"${SP}nv")))),
      notMatched = Seq(MergeWhen(None, "insert",
        Seq("id" -> col(s"${SP}k"), "grp" -> col(s"${SP}g"),
          "v" -> col(s"${SP}nv"))))) // v2
    val dst = SnapshotLog(spark,
      Files.createTempDirectory("graft-mergec-dst-").resolve("t").toString)
    graft.table.LogMirror.mirror(src, dst)
    def rows(log: SnapshotLog) = log.read().select("id", "grp", "v")
      .as[(Long, Int, String)].collect().toSet
    assert(rows(dst) == rows(src), "replica must equal source post-merge")
    assert(!rows(dst).exists(_._1 == 0L), "the matched DELETE must propagate")
    graft.table.LogMirror.mirror(src, dst) // idempotent re-walk
    assert(rows(dst) == rows(src))
  }

  test("SQL MERGE: multi-clause conditional matrix through the catalog") {
    val root = Files.createTempDirectory("graft-mergec-sql-").toString
    val log = SnapshotLog(spark, s"$root/t1", statsColumns = Seq("id"))
    log.append((0 until 10).map(i => (i.toLong, i % 3, i * 100.0, "old"))
      .toDF("id", "grp", "bal", "seg").coalesce(1))
    val s = org.apache.spark.sql.GraftBridge
      .sessionWithExtensions(spark, new graft.plans.GraftExtensions()(_))
    val cat = "gmrg1"
    s.conf.set(s"spark.sql.catalog.$cat", classOf[GraftTableCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    s.createDataFrame(Seq((0L, 0, 50.0), (1L, 1, 150.0), (3L, 0, 999.0),
      (100L, 0, 10.0), (101L, 1, 20.0)))
      .toDF("k", "g", "amount").createOrReplaceTempView("mrg_src")
    s.sql(
      s"""MERGE INTO $cat.t1 t
         |USING mrg_src s
         |ON t.id = s.k AND t.grp = s.g
         |WHEN MATCHED AND s.amount < 100 THEN DELETE
         |WHEN MATCHED THEN UPDATE SET bal = t.bal + s.amount, seg = 'upd'
         |WHEN NOT MATCHED AND s.g = 0 THEN
         |  INSERT (id, grp, bal, seg) VALUES (s.k, s.g, s.amount, 'new_zero')
         |WHEN NOT MATCHED THEN
         |  INSERT (id, grp, bal, seg) VALUES (s.k, s.g, s.amount, 'new')
         |WHEN NOT MATCHED BY SOURCE AND t.id >= 8 THEN
         |  UPDATE SET seg = 'stale'""".stripMargin)
    assert(log.snapshot().op == "merge")
    val out = s.sql(s"SELECT id, grp, bal, seg FROM $cat.t1 ORDER BY id")
      .as[(Long, Int, Double, String)].collect().toMap2
    assert(!out.contains(0L))                       // deleted
    assert(out(1L) == ((1, 250.0, "upd")))          // conditional update
    assert(out(3L) == ((0, 1299.0, "upd")))
    assert(out(8L)._3 == "stale" && out(9L)._3 == "stale") // by-source
    assert(out(7L)._3 == "old")                     // by-source cond false
    assert(out(100L) == ((0, 10.0, "new_zero")))    // clause order
    assert(out(101L) == ((1, 20.0, "new")))
    assert(out.size == 11)
  }

  test("SQL MERGE: DELETE-only matched clause and a matched row no clause accepts") {
    val root = Files.createTempDirectory("graft-mergec-sql2-").toString
    val log = SnapshotLog(spark, s"$root/t1", statsColumns = Seq("id"))
    log.append((0 until 6).map(i => (i.toLong, s"a$i")).toDF("id", "v").coalesce(1))
    val s = org.apache.spark.sql.GraftBridge
      .sessionWithExtensions(spark, new graft.plans.GraftExtensions()(_))
    val cat = "gmrg2"
    s.conf.set(s"spark.sql.catalog.$cat", classOf[GraftTableCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    s.createDataFrame((0L to 3L).map(Tuple1(_))).toDF("id")
      .createOrReplaceTempView("mrg_del_src")
    s.sql(
      s"""MERGE INTO $cat.t1 t USING mrg_del_src s ON t.id = s.id
         |WHEN MATCHED AND t.id % 2 = 0 THEN DELETE""".stripMargin)
    // 0, 2 deleted; 1, 3 matched but unclaimed -> kept; 4, 5 untouched
    assert(s.sql(s"SELECT id FROM $cat.t1 ORDER BY id")
      .as[Long].collect().toSeq == Seq(1L, 3L, 4L, 5L))
  }

  test("SQL MERGE WITH SCHEMA EVOLUTION: new source columns land; old rows null-pad") {
    val root = Files.createTempDirectory("graft-mergec-evo-").toString
    val log = SnapshotLog(spark, s"$root/t1", statsColumns = Seq("id"))
    log.append(Seq((0L, 100.0), (1L, 200.0), (2L, 300.0))
      .toDF("id", "bal").coalesce(1))
    val s = org.apache.spark.sql.GraftBridge
      .sessionWithExtensions(spark, new graft.plans.GraftExtensions()(_))
    val cat = "gmrgevo1"
    s.conf.set(s"spark.sql.catalog.$cat", classOf[GraftTableCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    s.createDataFrame(Seq((1L, 999.0, "gold"), (5L, 50.0, "new")))
      .toDF("id", "bal", "tier").createOrReplaceTempView("mrg_evo_src")
    s.sql(
      s"""MERGE WITH SCHEMA EVOLUTION INTO $cat.t1 t
         |USING mrg_evo_src s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    // the evolution is its own metadata commit(s) before the merge
    assert(log.snapshot().op == "merge")
    val out = s.sql(s"SELECT id, bal, tier FROM $cat.t1 ORDER BY id")
      .as[(Long, Double, Option[String])].collect().toSeq
    assert(out == Seq((0L, 100.0, None), (1L, 999.0, Some("gold")),
      (2L, 300.0, None), (5L, 50.0, Some("new"))))
    // pre-evolution history still reads under its own schema
    assert(log.read(1).columns.toSeq == Seq("id", "bal"))
  }

  test("SQL MERGE WITH SCHEMA EVOLUTION: explicit assignments to a new nested field") {
    val root = Files.createTempDirectory("graft-mergec-evo2-").toString
    val log = SnapshotLog(spark, s"$root/t1", statsColumns = Seq("id"))
    val s = org.apache.spark.sql.GraftBridge
      .sessionWithExtensions(spark, new graft.plans.GraftExtensions()(_))
    log.append(s.sql(
      "SELECT id, named_struct('a', id * 10) AS info FROM range(3)")
      .coalesce(1))
    val cat = "gmrgevo2"
    s.conf.set(s"spark.sql.catalog.$cat", classOf[GraftTableCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    // the source's struct carries an extra field `b` — evolution adds
    // info.b (nested AddColumn through the catalog), old rows read NULL
    s.sql("SELECT id, named_struct('a', id * 10, 'b', concat('x', id)) AS info " +
      "FROM range(1, 5)").createOrReplaceTempView("mrg_evo2_src")
    s.sql(
      s"""MERGE WITH SCHEMA EVOLUTION INTO $cat.t1 t
         |USING mrg_evo2_src s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val out = s.sql(
      s"SELECT id, info.a, info.b FROM $cat.t1 ORDER BY id")
      .as[(Long, Long, Option[String])].collect().toSeq
    assert(out == Seq((0L, 0L, None), (1L, 10L, Some("x1")),
      (2L, 20L, Some("x2")), (3L, 30L, Some("x3")), (4L, 40L, Some("x4"))))
  }

  test("SQL MERGE refusals: non-equality ON, subquery assignment") {
    val root = Files.createTempDirectory("graft-mergec-sql3-").toString
    val log = SnapshotLog(spark, s"$root/t1", statsColumns = Seq("id"))
    log.append(Seq((1L, "a")).toDF("id", "v").coalesce(1))
    val s = org.apache.spark.sql.GraftBridge
      .sessionWithExtensions(spark, new graft.plans.GraftExtensions()(_))
    val cat = "gmrg3"
    s.conf.set(s"spark.sql.catalog.$cat", classOf[GraftTableCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    s.createDataFrame(Seq((1L, "b"))).toDF("id", "v")
      .createOrReplaceTempView("mrg_bad_src")
    def refused(sql: String, frag: String): Unit = {
      val ex = intercept[Exception] { s.sql(sql) }
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
      assert(msgs(ex).exists(_.contains(frag)), msgs(ex).mkString(" | "))
    }
    refused(
      s"""MERGE INTO $cat.t1 t USING mrg_bad_src s ON t.id >= s.id
         |WHEN MATCHED THEN DELETE""".stripMargin,
      "at least one equality")
    // an UNCORRELATED scalar subquery in an assignment materializes at
    // execution (it was a refusal before r14's subquery materializer)
    s.sql(
      s"""MERGE INTO $cat.t1 t USING mrg_bad_src s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET v = (SELECT max(v) FROM mrg_bad_src)""".stripMargin)
    assert(log.read().select("v").as[String].head() == "b",
      "the scalar-subquery assignment must apply its materialized value")
    // a CORRELATED one still refuses
    refused(
      s"""MERGE INTO $cat.t1 t USING mrg_bad_src s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET v =
         |  (SELECT max(u.v) FROM mrg_bad_src u WHERE u.id = t.id)""".stripMargin,
      "subquer") // ours says "correlated subquery"; Spark's own analyzer
                 // may refuse first with "subqueries" — accept either
    // the whole-row shape runs mergeClauses like every other SQL MERGE
    s.sql(
      s"""MERGE INTO $cat.t1 t USING mrg_bad_src s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(log.read().select("v").as[String].head() == "b")
  }

  test("uncorrelated subqueries in WHEN-clause CONDITIONS materialize at execution") {
    val root = Files.createTempDirectory("graft-mergec-subc-").toString
    val log = SnapshotLog(spark, s"$root/t1", statsColumns = Seq("id"))
    log.append(Seq((1L, 10.0, "a"), (2L, 90.0, "b"), (3L, 50.0, "c"))
      .toDF("id", "score", "v").coalesce(1))
    val s = org.apache.spark.sql.GraftBridge
      .sessionWithExtensions(spark, new graft.plans.GraftExtensions()(_))
    val cat = "gmrgsubc"
    s.conf.set(s"spark.sql.catalog.$cat", classOf[GraftTableCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    s.createDataFrame(Seq((1L, 95.0, "A"), (2L, 5.0, "B"), (4L, 80.0, "D"),
      (5L, 1.0, "E"))).toDF("id", "score", "v")
      .createOrReplaceTempView("mrg_subc_src")
    // the WHEN conditions gate on an UNCORRELATED scalar subquery (the
    // source's mean score) — materialized to a literal at execution:
    // matched rows update only when the source's score beats the mean;
    // not-matched rows insert under the same gate
    s.sql(
      s"""MERGE INTO $cat.t1 t USING mrg_subc_src s ON t.id = s.id
         |WHEN MATCHED AND s.score > (SELECT avg(score) FROM mrg_subc_src)
         |  THEN UPDATE SET score = s.score, v = s.v
         |WHEN NOT MATCHED AND s.score > (SELECT avg(score) FROM mrg_subc_src)
         |  THEN INSERT (id, score, v) VALUES (s.id, s.score, s.v)""".stripMargin)
    // mean = (95+5+80+1)/4 = 45.25: id 1 updates (95 > mean), id 2 does
    // NOT (5 < mean), id 4 inserts (80 > mean), id 5 does not
    val out = log.read().orderBy("id")
      .as[(Long, Double, String)].collect().toSeq
    assert(out == Seq((1L, 95.0, "A"), (2L, 90.0, "b"), (3L, 50.0, "c"),
      (4L, 80.0, "D")), s"clause-condition subquery gate: $out")
  }

  test("residual ON: update-newer-only CDC shape; stale rows are NOT matches") {
    // typed tier: ON id = k AND src.ver > ver
    val log = fresh()
    log.append(Seq((1L, 10, "a"), (2L, 20, "b"), (3L, 30, "c"))
      .toDF("id", "ver", "v").coalesce(1))
    val src = Seq(
      (1L, 11, "a2"),  // newer  -> update
      (2L, 19, "bX"),  // STALE  -> no match: no update, and (with an
                       // unconditional insert clause) it would insert —
                       // here there is no insert clause, so it drops
      (9L, 1, "new")   // new key, no insert clause -> drops
    ).toDF("k", "sver", "sv")
    log.mergeClauses(src, keys = Seq(("id", "k")),
      matched = Seq(MergeWhen(None, "update",
        Seq("ver" -> col(s"${SP}sver"), "v" -> col(s"${SP}sv")))),
      notMatched = Nil,
      residual = Some(col(s"${SP}sver") > col("ver")))
    assert(log.read().as[(Long, Int, String)].collect().sorted.toSeq ==
      Seq((1L, 11, "a2"), (2L, 20, "b"), (3L, 30, "c")),
      "only the strictly-newer source row may update")
    // a residual-failing match IS 'not matched' for both sides: the
    // source row inserts, the target row falls to by-source clauses
    val log2 = fresh()
    log2.append(Seq((1L, 10, "a"), (2L, 20, "b"))
      .toDF("id", "ver", "v").coalesce(1))
    log2.mergeClauses(Seq((2L, 19, "b-old")).toDF("k", "sver", "sv"),
      keys = Seq(("id", "k")),
      matched = Seq(MergeWhen(None, "update", Seq("v" -> lit("upd")))),
      notMatched = Seq(MergeWhen(None, "insert",
        Seq("id" -> col(s"${SP}k"), "ver" -> col(s"${SP}sver"),
          "v" -> col(s"${SP}sv")))),
      notMatchedBySource = Seq(MergeWhen(None, "update",
        Seq("v" -> lit("untouched")))),
      residual = Some(col(s"${SP}sver") > col("ver")))
    assert(log2.read().as[(Long, Int, String)].collect().sorted.toSeq ==
      Seq((1L, 10, "untouched"), (2L, 19, "b-old"), (2L, 20, "untouched")),
      "a stale source row inserts (NOT MATCHED) and every target row " +
        "it failed to match takes the by-source clause")
  }

  test("residual ON: exact ambiguity probe — residual-disambiguated dups pass, true dups refuse") {
    val log = fresh()
    log.append(Seq((1L, 10, "a")).toDF("id", "ver", "v").coalesce(1))
    // two source rows share key 1, but only ONE passes the residual —
    // the key-level probe would refuse; the exact probe must not
    log.mergeClauses(
      Seq((1L, 11, "new"), (1L, 5, "stale")).toDF("k", "sver", "sv"),
      keys = Seq(("id", "k")),
      matched = Seq(MergeWhen(None, "update",
        Seq("ver" -> col(s"${SP}sver"), "v" -> col(s"${SP}sv")))),
      notMatched = Nil,
      residual = Some(col(s"${SP}sver") > col("ver")))
    assert(log.read().as[(Long, Int, String)].head() == ((1L, 11, "new")))
    // BOTH pass the residual -> genuine SQL cardinality violation
    val ex = intercept[IllegalStateException] {
      log.mergeClauses(
        Seq((1L, 20, "x"), (1L, 21, "y")).toDF("k", "sver", "sv"),
        keys = Seq(("id", "k")),
        matched = Seq(MergeWhen(None, "update",
          Seq("ver" -> col(s"${SP}sver")))),
        notMatched = Nil,
        residual = Some(col(s"${SP}sver") > col("ver")))
    }
    assert(ex.getMessage.contains("at most one source row"))
  }

  test("SQL MERGE with residual ON conjuncts translates (update-newer-only)") {
    val root = Files.createTempDirectory("graft-mergec-res-").toString
    val log = SnapshotLog(spark, s"$root/t1", statsColumns = Seq("id"))
    log.append(Seq((1L, 10L, "a"), (2L, 20L, "b"), (3L, 30L, "c"))
      .toDF("id", "ver", "v").coalesce(1))
    val s = org.apache.spark.sql.GraftBridge
      .sessionWithExtensions(spark, new graft.plans.GraftExtensions()(_))
    val cat = "gmrgres"
    s.conf.set(s"spark.sql.catalog.$cat", classOf[GraftTableCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    s.createDataFrame(Seq((1L, 11L, "a2"), (2L, 19L, "bX"), (9L, 1L, "new")))
      .toDF("id", "ver", "v").createOrReplaceTempView("mrg_res_src")
    s.sql(
      s"""MERGE INTO $cat.t1 t USING mrg_res_src s
         |ON t.id = s.id AND s.ver > t.ver
         |WHEN MATCHED THEN UPDATE SET ver = s.ver, v = s.v""".stripMargin)
    assert(log.read().as[(Long, Long, String)].collect().sorted.toSeq ==
      Seq((1L, 11L, "a2"), (2L, 20L, "b"), (3L, 30L, "c")),
      "the SQL residual merge must update only the strictly-newer row")
  }

  /** An extensions session with `root` mounted as catalog `cat`. */
  private def mounted(root: String, cat: String) = {
    val s = org.apache.spark.sql.GraftBridge
      .sessionWithExtensions(spark, new graft.plans.GraftExtensions()(_))
    s.conf.set(s"spark.sql.catalog.$cat", classOf[GraftTableCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    s
  }

  test("SQL MERGE updates every target row of a key the target holds twice") {
    val root = Files.createTempDirectory("graft-mergec-twice-").toString
    val log = SnapshotLog(spark, s"$root/t1", statsColumns = Seq("id"))
    log.append(Seq((1L, "a"), (1L, "b"), (2L, "c")).toDF("id", "v").coalesce(1))
    val s = mounted(root, "gmrgtwice")
    s.createDataFrame(Seq((1L, "z"), (9L, "n"))).toDF("id", "v")
      .createOrReplaceTempView("mrg_twice_src")
    s.sql(
      """MERGE INTO gmrgtwice.t1 t USING mrg_twice_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(log.read().as[(Long, String)].collect().sorted.toSeq ==
      Seq((1L, "z"), (1L, "z"), (2L, "c"), (9L, "n")),
      "both rows of key 1 match, so both update")
  }

  test("SQL MERGE routes a scattered two-key batch per key: at most 2 of 6 files rewrite") {
    val shapes = Seq(
      "unconditional" ->
        """WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin,
      "conditional" ->
        """WHEN MATCHED AND s.v <> t.v THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    shapes.zipWithIndex.foreach { case ((shape, clauses), i) =>
      val root = Files.createTempDirectory("graft-mergec-route-").toString
      val log = SnapshotLog(spark, s"$root/t1", statsColumns = Seq("id"))
      // six files, each one contiguous id range: clustered on id
      val before = log.append((0 until 600).map(i => (i.toLong, s"p-$i"))
        .toDF("id", "v").repartitionByRange(6, col("id")))
      assert(before.files.size == 6, s"$shape: fixture wrote ${before.files.size} files")
      val cat = s"gmrgroute$i"
      val s = mounted(root, cat)
      s.createDataFrame(Seq((5L, "SCAT-lo"), (595L, "SCAT-hi")))
        .toDF("id", "v").createOrReplaceTempView(s"mrg_route_src$i")
      s.sql(
        s"""MERGE INTO $cat.t1 t USING mrg_route_src$i s ON t.id = s.id
           |$clauses""".stripMargin)
      val after = log.snapshot()
      assert(after.op == "merge")
      val carried = before.files.count(after.files.contains)
      assert(carried >= before.files.size - 2,
        s"$shape: a two-key scattered merge must rewrite at most two files " +
          s"(carried $carried of ${before.files.size})")
      val rows = log.read().as[(Long, String)].collect().toMap
      assert(rows.size == 600 && rows(5L) == "SCAT-lo" &&
        rows(595L) == "SCAT-hi" && rows(6L) == "p-6", s"$shape: $rows")
    }
  }
}
