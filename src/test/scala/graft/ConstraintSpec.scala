package graft

import graft.table.{GraftTableCatalog, SnapshotLog}
import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** CHECK constraints ([[SnapshotLog.addConstraint]]): declared as refs
  * beside the manifests, validated against existing data on add, then
  * enforced on every table-shaped staging write through the SAME
  * observation that counts rows — a violating commit aborts before
  * anything publishes, across append, UPDATE, MERGE and branch writes. */
class ConstraintSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def freshTable(): String =
    Files.createTempDirectory("graft-chk-").resolve("t").toString

  test("add validates existing data; writes enforce; NULL passes; drop releases") {
    val dir = freshTable()
    val log = SnapshotLog(spark, dir, statsColumns = Seq("id"))
    log.append(Seq((1, Some(10)), (2, None)).toDF("id", "qty"))
    // a constraint the table already violates refuses to attach
    intercept[IllegalArgumentException] {
      log.addConstraint("qty_big", "qty > 100")
    }
    assert(log.constraints().isEmpty)
    // NULL rows PASS a check (SQL CHECK semantics) — this one attaches
    log.addConstraint("qty_pos", "qty > 0")
    assert(log.constraints() == Map("qty_pos" -> "qty > 0"))
    // a valid append (including a NULL) lands
    log.append(Seq((3, Some(5)), (4, None)).toDF("id", "qty"))
    assert(log.read().count() == 4)
    // a violating append aborts the WHOLE commit before publish
    val v = log.currentVersion()
    val ex = intercept[IllegalStateException] {
      log.append(Seq((5, Some(7)), (6, Some(-1))).toDF("id", "qty"))
    }
    assert(ex.getMessage.contains("qty_pos") && ex.getMessage.contains("aborted"))
    assert(log.currentVersion() == v && log.read().count() == 4,
      "nothing may publish from a violating write")
    // redefinition refuses; drop + violating append then lands
    intercept[IllegalArgumentException] {
      log.addConstraint("qty_pos", "qty > 1")
    }
    log.dropConstraint("qty_pos")
    log.append(Seq((6, Some(-1))).toDF("id", "qty"))
    assert(log.read().count() == 5)
  }

  test("constraints match columns case-insensitively, like Spark's resolution") {
    val dir = freshTable()
    val log = SnapshotLog(spark, dir, statsColumns = Seq("id"))
    log.append(Seq((1, 5)).toDF("id", "qty"))
    log.addConstraint("qty_pos", "QTY > 0") // spelled differently from the column
    intercept[IllegalStateException] { // still enforced on writes
      log.append(Seq((2, -1)).toDF("id", "qty"))
    }
    intercept[IllegalArgumentException] { // still guards evolution
      log.renameColumn("qty", "amount")
    }
    log.dropConstraint("qty_pos")
    log.append(Seq((2, -1)).toDF("id", "qty"))
    // add-time validation matches too, and a failed add rolls its claim back
    intercept[IllegalArgumentException] { log.addConstraint("qty_pos", "QTY > 0") }
    assert(log.constraints().isEmpty)
  }

  test("UPDATE and MERGE enforce; a constraint on absent columns passes the write") {
    val dir = freshTable()
    val log = SnapshotLog(spark, dir, statsColumns = Seq("id"))
    log.append((1 to 5).map(i => (i, i * 10)).toDF("id", "qty").coalesce(1))
    log.addConstraint("qty_pos", "qty > 0")
    val v = log.currentVersion()
    intercept[IllegalStateException] {
      log.updateWhere(Seq(("id", 2, 3)), Seq("qty" -> lit(-5)))
    }
    assert(log.currentVersion() == v, "a violating UPDATE publishes nothing")
    log.updateWhere(Seq(("id", 2, 3)), Seq("qty" -> lit(7)))
    assert(log.read().where("qty = 7").count() == 2)
    intercept[IllegalStateException] {
      log.mergeByKey(Seq((1, -9)).toDF("id", "qty"), "id")
    }
    log.mergeByKey(Seq((1, 99)).toDF("id", "qty"), "id")
    assert(log.read().where("qty = 99").count() == 1)
    // a constraint referencing a column this write doesn't carry passes
    // (the rows read it as NULL, and CHECK-NULL passes)
    log.addConstraint("note_len", "length(note) < 10")
    log.append(Seq((9, 1)).toDF("id", "qty"))
    assert(log.read().count() == 6)
  }

  test("branches enforce; rename/drop of a referenced column refuse; SQL surfaces") {
    val root = Files.createTempDirectory("graft-chk-sql-").toString
    val log = SnapshotLog(spark, s"$root/t1", statsColumns = Seq("id"))
    log.append(Seq((1L, 10L)).toDF("id", "qty").coalesce(1))
    val cat = "gchk1"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftTableCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    // declared through SQL, listed through DESCRIBE properties
    spark.sql(
      s"CALL $cat.system.add_constraint(table => 't1', name => 'qty_pos', expr => 'qty > 0')")
    assert(log.constraints() == Map("qty_pos" -> "qty > 0"))
    val props = spark.sql(s"DESCRIBE TABLE EXTENDED $cat.t1")
      .collect().map(_.mkString("|")).mkString("\n")
    assert(props.contains("qty_pos"), props)
    // an audit branch cannot bypass validation
    log.createBranch("b")
    intercept[IllegalStateException] {
      log.branch("b").append(Seq((2L, -1L)).toDF("id", "qty"))
    }
    // schema evolution refuses while referenced
    intercept[IllegalArgumentException] { log.renameColumn("qty", "amount") }
    intercept[IllegalArgumentException] { log.dropColumn("qty") }
    spark.sql(s"CALL $cat.system.drop_constraint(table => 't1', name => 'qty_pos')")
    log.renameColumn("qty", "amount") // released
    assert(log.read().columns.contains("amount"))
  }

  test("ALTER TABLE ADD/DROP CONSTRAINT: the ANSI spelling routes to the same refs") {
    val root = Files.createTempDirectory("graft-chk-alter-").toString
    val log = SnapshotLog(spark, s"$root/t", statsColumns = Seq("id"))
    log.append(Seq((1L, 10L), (2L, 20L)).toDF("id", "qty").coalesce(1))
    val cat = "gchk2"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftTableCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"ALTER TABLE $cat.t ADD CONSTRAINT qty_pos CHECK (qty > 0)")
    assert(log.constraints() == Map("qty_pos" -> "qty > 0"))
    // the V2 table reports it (DESCRIBE renders from constraints())
    intercept[IllegalStateException] {
      log.append(Seq((3L, -1L)).toDF("id", "qty"))
    }
    // adding a constraint the data violates fails Spark-side (its
    // validation scan) BEFORE alterTable — nothing attaches
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.t ADD CONSTRAINT qty_big CHECK (qty > 15)")
    }
    assert(log.constraints() == Map("qty_pos" -> "qty > 0"))
    // SQL INSERT hits the gate too (whichever layer fires first aborts)
    intercept[Exception] {
      spark.sql(s"INSERT INTO $cat.t VALUES (4L, -5L)")
    }
    assert(log.read().count() == 2)
    intercept[Exception] { // DROP without IF EXISTS on a missing name refuses
      spark.sql(s"ALTER TABLE $cat.t DROP CONSTRAINT nope")
    }
    spark.sql(s"ALTER TABLE $cat.t DROP CONSTRAINT IF EXISTS nope") // no-op
    spark.sql(s"ALTER TABLE $cat.t DROP CONSTRAINT qty_pos")
    assert(log.constraints().isEmpty)
    spark.sql(s"INSERT INTO $cat.t VALUES (4L, -5L)") // released
    assert(log.read().count() == 3)
  }

  test("attach anchors on the manifest chain: a write racing past the guard loses the slot") {
    import graft.table.InMemoryCommitStore
    // the former residual window: a write stages, passes policyGuard
    // (constraint set empty), and a constraint attaches BEFORE the
    // write's manifest CAS. Injected at the store's conditional put:
    // the write's first manifest publish fires a concurrent
    // addConstraint (claim + validate + ANCHOR commit through a second
    // handle), so the write's CAS must lose the version slot to the
    // anchor and abort instead of landing unvalidated rows.
    val dir = freshTable()
    val inner = new InMemoryCommitStore
    val racer = new RacingCommitStore(inner)(
      SnapshotLog(spark, dir, Nil, inner).addConstraint("qty_pos", "qty > 0"))
    val log = SnapshotLog(spark, dir, Nil, racer)
    log.append(Seq((1, 10)).toDF("id", "qty")) // v1, clean
    racer.arm()
    // stages clean (no constraint yet), then the injected attach takes
    // the CAS slot — the violating write MUST abort, not land
    val ex = intercept[Exception] {
      log.append(Seq((2, -5)).toDF("id", "qty"))
    }
    assert(ex.getMessage.contains("added or redefined") ||
      ex.getMessage.contains("violate"), ex.getMessage)
    val check = SnapshotLog(spark, dir, Nil, inner)
    assert(check.constraints() == Map("qty_pos" -> "qty > 0"))
    assert(check.snapshot().op == "policy", "the attach anchored a commit")
    assert(check.read().where(org.apache.spark.sql.functions.col("qty") < 0)
      .count() == 0, "no unvalidated row may land")
    // a clean write against the anchored head lands normally
    log.append(Seq((3, 7)).toDF("id", "qty"))
    assert(check.read().count() == 2)
  }
}
