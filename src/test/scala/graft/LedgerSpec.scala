package graft

import graft.ledger.{LocalJsonLedger, RunId, RunRecord, RunState}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.time.{Clock, Instant, ZoneOffset}

/** Ledger state machine (SURVEY §5-2/§5-4): append, pending scan,
  * exactly-once promotion semantics — the corrected version of the
  * reference's broken promotion (SURVEY §2.1 defects). */
class LedgerSpec extends AnyFunSuite {

  private def freshLedger() =
    new LocalJsonLedger(Files.createTempDirectory("graft-ledger-"))

  private def raw(key: String, src: String = "tableA") = RunRecord(
    partition_key = key, job_src = src, state = RunState.RawCompleted,
    rawBucket = "/r", rawFolder = src, rawJobName = "raw_layer_job",
    rawEntryCount = "1")

  test("raw append becomes pending; promotion removes it (exactly-once)") {
    val spark = TestSpark.spark
    val l = freshLedger()
    l.append(raw("run1"))
    assert(l.pending(spark, "tableA").map(_.partition_key) == Seq("run1"))
    l.append(raw("run1").copy(state = RunState.PreparedCompleted))
    assert(l.pending(spark, "tableA").isEmpty)
  }

  test("pending filters by job_src and sorts by run key") {
    val spark = TestSpark.spark
    val l = freshLedger()
    l.append(raw("run2")); l.append(raw("run1")); l.append(raw("runX", "other"))
    assert(l.pending(spark, "tableA").map(_.partition_key) == Seq("run1", "run2"))
    assert(l.pending(spark, "other").map(_.partition_key) == Seq("runX"))
  }

  test("empty ledger yields no pending and an empty dataset") {
    val spark = TestSpark.spark
    val l = freshLedger()
    assert(l.pending(spark, "tableA").isEmpty)
    assert(l.records(spark).count() == 0)
  }

  test("property: pending == raw keys minus promoted keys, for any history") {
    val spark = TestSpark.spark
    val keyGen = Gen.chooseNum(1, 6).map(i => s"run$i")
    val hist = Gen.listOfN(8, Gen.zip(keyGen, Gen.oneOf(true, false)))
    // plain scalacheck sampling (the scalatestplus bridge isn't in the
    // offline cache): 25 deterministic seeds
    (1 to 25).foreach { i =>
      val events = hist.pureApply(Gen.Parameters.default, Seed(i.toLong))
      val l = freshLedger()
      events.foreach { case (k, promoted) =>
        l.append(raw(k))
        if (promoted) l.append(raw(k).copy(state = RunState.PreparedCompleted))
      }
      val rawKeys = events.map(_._1).toSet
      val promotedKeys = events.collect { case (k, true) => k }.toSet
      val expect = (rawKeys -- promotedKeys).toList.sorted
      assert(l.pending(spark, "tableA").map(_.partition_key).distinct == expect,
        s"seed=$i events=$events")
    }
  }

  test("property: records equals Spark's JSON reader over the directory, for any history") {
    val spark = TestSpark.spark
    import spark.implicits._
    val field = Gen.oneOf(Gen.const(""), Gen.alphaNumStr.map(_.take(6)))
    val rec = for {
      k <- Gen.chooseNum(1, 6).map(i => s"run$i")
      src <- Gen.oneOf("tableA", "tableB")
      st <- Gen.oneOf(RunState.RawCompleted, RunState.PreparedCompleted)
      n <- Gen.chooseNum(0L, 1000000L)
      prep <- field
    } yield raw(k, src).copy(state = st, rawEntryCount = n.toString,
      preparedEntryCount = prep)
    val hist = Gen.choose(0, 8).flatMap(Gen.listOfN(_, rec))
    (1 to 25).foreach { i =>
      val events = hist.pureApply(Gen.Parameters.default, Seed(i.toLong))
      val l = freshLedger()
      events.foreach(l.append)
      // what the reader must skip or read as Spark does: an in-flight
      // temp file, `_`-prefixed metadata, a record missing fields, a
      // malformed file and an empty one
      Files.writeString(l.dir.resolve(s".tmp-$i.json"), """{"partition_key":"ghost"}""")
      Files.writeString(l.dir.resolve(s"_meta-$i.json"), """{"partition_key":"meta"}""")
      if (i % 2 == 0) Files.writeString(l.dir.resolve(s"partial-$i.json"),
        """{"partition_key":"runP","job_src":"tableA","state":"RAW COMPLETED"}""")
      if (i % 3 == 0) Files.writeString(l.dir.resolve(s"bad-$i.json"), "{not json")
      if (i % 5 == 0) Files.writeString(l.dir.resolve(s"empty-$i.json"), "")
      val got = l.records(spark).collect().toSeq
      val want = spark.read.schema(graft.ledger.RunLedger.schema)
        .json(l.dir.toString).as[RunRecord].collect().toSeq
      val order = (r: RunRecord) => r.productIterator.map(String.valueOf).mkString("|")
      assert(got.sortBy(order) == want.sortBy(order), s"seed=$i events=$events")
    }
  }

  test("RunId formats the injected clock in US/Eastern (reference format)") {
    // 2026-01-01T05:00:00Z == 2026-01-01T00:00:00 EST
    val clock = Clock.fixed(Instant.parse("2026-01-01T05:00:00Z"), ZoneOffset.UTC)
    assert(RunId(clock) == "20260101000000000000")
  }
}
