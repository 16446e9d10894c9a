package graft

import graft.config.{ColumnSpec, PipelineConfig}
import graft.jobs.{PreparedLayerJob, RawLayerJob}
import graft.ledger.LocalJsonLedger
import graft.orchestrate.Orchestrator
import graft.sources.{ParquetSource, SourceReader}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path}

/** Medallion invariants (SURVEY §5-2/§5-3): raw job row preservation +
  * audit column, exactly-once promotion, catalog queryability, failure
  * policy, end-to-end. */
class PipelineSpec extends AnyFunSuite {

  private def cfgFor(tmp: Path) = PipelineConfig(
    template = PipelineConfig.CdsViewTemplate,
    project = "graft", subject = "test",
    jobSrc = "lineitem", ledgerName = "pipeline_ledger",
    rawRoot = s"$tmp/raw", rawFolder = "lineitem", cdsView = "lineitem",
    preparedRoot = s"$tmp/prepared", tableName = s"t_${tmp.getFileName.toString.replaceAll("[^a-zA-Z0-9]", "")}",
    schema = Seq(
      ColumnSpec("l_orderkey", "bigint", ""), ColumnSpec("l_partkey", "bigint", ""),
      ColumnSpec("l_suppkey", "bigint", ""), ColumnSpec("l_linenumber", "int", ""),
      ColumnSpec("l_quantity", "double", ""), ColumnSpec("l_extendedprice", "double", ""),
      ColumnSpec("l_discount", "double", ""), ColumnSpec("l_tax", "double", ""),
      ColumnSpec("l_returnflag", "string", ""), ColumnSpec("l_linestatus", "string", ""),
      ColumnSpec("l_shipdate", "timestamp", "")))

  private val src = ParquetSource(s"${TestSpark.Sf0001}/lineitem.parquet")
  private def fixtureRows(spark: SparkSession): Long =
    spark.read.parquet(s"${TestSpark.Sf0001}/lineitem.parquet").count()

  test("raw job preserves rows, stamps ETL_PART_KEY == runId, snappy parquet") {
    val spark = TestSpark.spark
    val tmp = Files.createTempDirectory("graft-raw-")
    val ledger = new LocalJsonLedger(tmp.resolve("ledger"))
    val cfg = cfgFor(tmp)
    val m = RawLayerJob.run(spark, cfg, src, ledger, "runA")
    assert(m.rows == fixtureRows(spark))
    // the raw layer is Hive-partitioned on the audit key
    val written = spark.read.parquet(cfg.rawTablePath)
    assert(written.count() == m.rows)
    assert(written.filter(col("ETL_PART_KEY") === "runA").count() == m.rows)
    // ledger records the run as RAW COMPLETED with the audit count
    val rec = ledger.pending(spark, "lineitem")
    assert(rec.map(_.partition_key) == Seq("runA"))
    assert(rec.head.rawEntryCount == m.rows.toString)
  }

  test("promotion is exactly-once: drain twice ≡ drain once") {
    val spark = TestSpark.spark
    val tmp = Files.createTempDirectory("graft-promo-")
    val cfg = cfgFor(tmp)
    val ledger = new LocalJsonLedger(tmp.resolve("ledger"))
    RawLayerJob.run(spark, cfg, src, ledger, "run1")
    val first = Orchestrator.drain(spark, cfg, ledger)
    assert(first.map(_.runId) == Seq("run1"))
    val again = Orchestrator.drain(spark, cfg, ledger)
    assert(again.isEmpty, "second drain must promote nothing")
    assert(spark.read.parquet(cfg.preparedPath).count() == fixtureRows(spark))
  }

  test("successive runs append to the prepared prefix (accumulating layer)") {
    val spark = TestSpark.spark
    val tmp = Files.createTempDirectory("graft-accum-")
    val cfg = cfgFor(tmp)
    val ledger = new LocalJsonLedger(tmp.resolve("ledger"))
    RawLayerJob.run(spark, cfg, src, ledger, "run1")
    RawLayerJob.run(spark, cfg, src, ledger, "run2")
    Orchestrator.drain(spark, cfg, ledger)
    val prepared = spark.read.parquet(cfg.preparedPath)
    assert(prepared.count() == 2 * fixtureRows(spark))
    assert(prepared.select("ETL_PART_KEY").distinct().count() == 2)
  }

  test("end-to-end: cataloged table is queryable by name with declared schema") {
    val spark = TestSpark.spark
    val tmp = Files.createTempDirectory("graft-e2e-")
    val cfg = cfgFor(tmp)
    val ledger = new LocalJsonLedger(tmp.resolve("ledger"))
    val table = Orchestrator.runEndToEnd(spark, cfg, src, ledger, "run1")
    // group on ETL_PART_KEY too: materializing the audit column catches
    // partition-type drift between prepared files and the declared schema
    val df = spark.sql(
      s"SELECT l_returnflag, ETL_PART_KEY, count(*) AS n FROM $table GROUP BY 1, 2")
    assert(df.count() > 0)
    assert(df.select("ETL_PART_KEY").distinct().collect().map(_.getString(0)).toSeq == Seq("run1"))
    val cols = spark.table(table).schema.fieldNames.toSeq
    assert(cols.take(11) == cfgFor(tmp).schema.map(_.name))
    assert(cols.last == "ETL_PART_KEY")
  }

  test("promotion preserves non-canonical run ids (leading zeros) in ETL_PART_KEY") {
    // partition-value type inference would read '00123' as decimal and
    // re-render it '123'; the schema-specified promoted read must keep
    // the literal ledger key
    val spark = TestSpark.spark
    val tmp = Files.createTempDirectory("graft-zeros-")
    val cfg = cfgFor(tmp)
    val ledger = new LocalJsonLedger(tmp.resolve("ledger"))
    RawLayerJob.run(spark, cfg, src, ledger, "00123")
    Orchestrator.drain(spark, cfg, ledger)
    val keys = spark.read.parquet(cfg.preparedPath)
      .select("ETL_PART_KEY").distinct().collect().map(_.getString(0)).toSeq
    assert(keys == Seq("00123"), s"run id corrupted to $keys")
  }

  test("failure policy: source failure leaves the ledger untouched") {
    val spark = TestSpark.spark
    val tmp = Files.createTempDirectory("graft-fail-")
    val cfg = cfgFor(tmp)
    val ledger = new LocalJsonLedger(tmp.resolve("ledger"))
    val boom = new SourceReader {
      override def read(s: SparkSession): DataFrame = throw new RuntimeException("source down")
    }
    assertThrows[RuntimeException](RawLayerJob.run(spark, cfg, boom, ledger, "runF"))
    assert(ledger.records(spark).count() == 0, "failed run must be invisible downstream")
  }

  test("drain-triggered compaction: fewer files, identical cataloged results") {
    val spark = TestSpark.spark
    val tmp = Files.createTempDirectory("graft-maint-")
    val cfg = cfgFor(tmp)
    val ledger = new LocalJsonLedger(tmp.resolve("ledger"))
    (1 to 3).foreach(i => RawLayerJob.run(spark, cfg, src, ledger, s"run$i"))
    // threshold 2 < the 3+ files three promotions append ⇒ drain compacts
    Orchestrator.drain(spark, cfg, ledger, compactAfterFiles = 2)
    def parts = new java.io.File(cfg.preparedPath).listFiles().toSeq
      .map(_.getName).filter(n => !n.startsWith("_") && !n.startsWith("."))
    assert(parts.size <= 2, s"drain must have compacted, got files: $parts")
    // the cataloged table reads the compacted layout with nothing lost
    val t = spark.table(s"${graft.catalog.CatalogRegistrar.Database}.${cfg.tableName}")
    assert(t.count() == 3 * fixtureRows(spark))
    assert(t.select("ETL_PART_KEY").distinct().count() == 3)
    // maintenance is idempotent: an immediate re-check compacts nothing
    assert(Orchestrator.maybeCompact(spark, cfg, maxFiles = 2).isEmpty)
  }

  test("drain-triggered layout policy: maintenance rewrites the prepared prefix clustered") {
    val spark = TestSpark.spark
    val tmp = Files.createTempDirectory("graft-layout-")
    // the config declares the hot predicate column; the orchestrator
    // applies the clustering rewrite unattended when maintenance fires
    val cfg = cfgFor(tmp).copy(layout = Some(graft.config.LayoutPolicy(Seq("l_orderkey"))))
    val ledger = new LocalJsonLedger(tmp.resolve("ledger"))
    (1 to 3).foreach(i => RawLayerJob.run(spark, cfg, src, ledger, s"run$i"))
    Orchestrator.drain(spark, cfg, ledger, compactAfterFiles = 2)
    val parts = new java.io.File(cfg.preparedPath).listFiles().toSeq
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    assert(parts.size <= 2, s"layout rewrite must also bin-pack, got ${parts.map(_.getName)}")
    // nothing lost: all three runs' rows, all three audit keys
    val t = spark.read.parquet(cfg.preparedPath)
    assert(t.count() == 3 * fixtureRows(spark))
    assert(t.select("ETL_PART_KEY").distinct().count() == 3)
    // clustered: within each written file the cluster column is sorted,
    // so its row groups carry narrow disjoint min/max stats (the three
    // appended runs each spanned the full key range before)
    parts.foreach { f =>
      val keys = spark.read.parquet(f.toString)
        .select("l_orderkey").collect().map(_.getLong(0))
      assert(keys.sameElements(keys.sorted),
        s"${f.getName} not sorted on the declared cluster column")
    }
    // threshold gate makes maintenance idempotent: rewrite left <= maxFiles
    assert(Orchestrator.maybeCompact(spark, cfg, maxFiles = 2).isEmpty)
  }

  test("cross-run incremental dedup: a second identical run promotes zero rows") {
    val spark = TestSpark.spark
    val tmp = Files.createTempDirectory("graft-dedup-")
    val cfg = PipelineConfig(
      template = PipelineConfig.CdsViewTemplate,
      project = "graft", subject = "test",
      jobSrc = "documents", ledgerName = "pipeline_ledger",
      rawRoot = s"$tmp/raw", rawFolder = "documents", cdsView = "documents",
      preparedRoot = s"$tmp/prepared",
      tableName = s"d_${tmp.getFileName.toString.replaceAll("[^a-zA-Z0-9]", "")}",
      schema = Seq(
        ColumnSpec("doc_id", "bigint", ""), ColumnSpec("text", "string", ""),
        ColumnSpec("lang", "string", ""), ColumnSpec("source", "string", ""),
        ColumnSpec("n_chars", "bigint", "")),
      dedupColumn = Some("text"))
    val docSrc = ParquetSource(s"${TestSpark.Sf0001}/documents.parquet")
    val ledger = new LocalJsonLedger(tmp.resolve("ledger"))
    val distinctTexts = spark.read
      .parquet(s"${TestSpark.Sf0001}/documents.parquet")
      .select("text").distinct().count()

    RawLayerJob.run(spark, cfg, docSrc, ledger, "run1")
    Orchestrator.drain(spark, cfg, ledger)
    assert(spark.read.parquet(cfg.preparedPath).count() == distinctTexts)
    assert(Files.exists(Path.of(cfg.fingerprintIndexPath)),
      "promotion must persist the fingerprint index")

    // second run re-delivers the same documents: every text is already in
    // the index, so promotion appends nothing and records a zero count
    RawLayerJob.run(spark, cfg, docSrc, ledger, "run2")
    Orchestrator.drain(spark, cfg, ledger)
    assert(spark.read.parquet(cfg.preparedPath).count() == distinctTexts,
      "second identical run must not grow the corpus")
    val run2 = ledger.records(spark).collect()
      .filter(r => r.partition_key == "run2" && r.state == "PREPARED COMPLETED")
    assert(run2.map(_.preparedEntryCount).toSeq == Seq("0"))
    assert(ledger.pending(spark, "documents").isEmpty)
  }

  test("log-backed prepared layer: e2e promotion, maintenance, catalog through the snapshot log") {
    val spark = TestSpark.spark
    val tmp = Files.createTempDirectory("graft-log-e2e-")
    val cfg = cfgFor(tmp).copy(tableFormat = PipelineConfig.FormatLog,
      layout = Some(graft.config.LayoutPolicy(Seq("l_orderkey"))))
    val ledger = new LocalJsonLedger(tmp.resolve("ledger"))
    (1 to 3).foreach(i => RawLayerJob.run(spark, cfg, src, ledger, s"run$i"))
    Orchestrator.drain(spark, cfg, ledger, compactAfterFiles = 2)
    val log = graft.table.PreparedTable.log(spark, cfg)
    // three atomic appends, then the threshold-triggered clustering
    // rewrite committed through the log (no swap window)
    assert(log.history().map(_.op) == Seq("append", "append", "append", "cluster"))
    assert(log.snapshot().files.length <= 2, "clustered rewrite must bin-pack")
    // snapshot read: all rows, all audit keys, run ids intact
    val t = log.read()
    assert(t.count() == 3 * fixtureRows(spark))
    assert(t.select("ETL_PART_KEY").distinct().count() == 3)
    // the cataloged name reads the committed snapshot (a view pinned to
    // the manifest's file set, not a directory listing)
    val viaCatalog = spark.table(s"${graft.catalog.CatalogRegistrar.Database}.${cfg.tableName}")
    assert(viaCatalog.count() == 3 * fixtureRows(spark))
    assert(viaCatalog.schema.fieldNames.contains("ETL_PART_KEY"))
    // drain twice ≡ drain once, through the log too
    assert(Orchestrator.drain(spark, cfg, ledger).isEmpty)
    assert(log.read().count() == 3 * fixtureRows(spark))
    // maintenance gate is idempotent on the manifest's live-file count
    assert(Orchestrator.maybeCompact(spark, cfg, maxFiles = 2).isEmpty)
  }

  test("scheduled maintenance drains rename and deletion-vector debt below the file threshold") {
    val spark = TestSpark.spark
    val tmp = Files.createTempDirectory("graft-log-debt-")
    val cfg = cfgFor(tmp).copy(tableFormat = PipelineConfig.FormatLog)
    val ledger = new LocalJsonLedger(tmp.resolve("ledger"))
    RawLayerJob.run(spark, cfg, src, ledger, "run1")
    Orchestrator.drain(spark, cfg, ledger)
    val log = graft.table.PreparedTable.log(spark, cfg)
    val total = log.read().count()
    // rename-only debt, NO file-count pressure (1 file, threshold 16):
    // the schedule must still fire — through materializeRenames, since
    // there are no vectors to drain
    log.renameColumn("l_returnflag", "return_flag")
    assert(log.snapshot().fileSchemaIdx.nonEmpty)
    val pass1 = Orchestrator.maybeCompact(spark, cfg, maxFiles = 16)
    assert(pass1.get(cfg.preparedPath).exists(_.rewritten))
    val s1 = graft.table.PreparedTable.log(spark, cfg).snapshot()
    assert(s1.fileSchemaIdx.isEmpty, "rename debt must drain on schedule")
    assert(Orchestrator.maybeCompact(spark, cfg, maxFiles = 16).isEmpty,
      "debt drain is idempotent")
    // merge-on-read debt: a 1-row predicate delete the planner commits
    // as a deletion vector (low matched fraction) — the next scheduled
    // fire materializes it even though the file count never moved
    val k = log.read().agg(org.apache.spark.sql.functions
      .min("l_orderkey")).head.getLong(0)
    val kRows = log.read().where(col("l_orderkey") === k).count()
    log.deleteBetween("l_orderkey", k, k)
    val withDv = graft.table.PreparedTable.log(spark, cfg).snapshot()
    assert(withDv.dvs.nonEmpty, "a 1-row delete must commit as a vector")
    val pass2 = Orchestrator.maybeCompact(spark, cfg, maxFiles = 16)
    assert(pass2.get(cfg.preparedPath).exists(_.rewritten))
    val s2 = graft.table.PreparedTable.log(spark, cfg).snapshot()
    assert(s2.dvs.isEmpty, "vector debt must drain on schedule")
    assert(Orchestrator.maybeCompact(spark, cfg, maxFiles = 16).isEmpty)
    val fin = log.read()
    assert(fin.count() == total - kRows &&
      fin.where(col("l_orderkey") === k).count() == 0)
    assert(fin.columns.contains("return_flag") &&
      !fin.columns.contains("l_returnflag"))
  }

  test("partitioned prepared layer: promotions route through the declared transforms") {
    val spark = TestSpark.spark
    val tmp = Files.createTempDirectory("graft-log-part-")
    val cfg = cfgFor(tmp).copy(tableFormat = PipelineConfig.FormatLog,
      partitionBy = Seq(graft.table.PartitionField.day("l_shipdate")),
      sortBy = Seq("l_orderkey"))
    val ledger = new LocalJsonLedger(tmp.resolve("ledger"))
    (1 to 2).foreach(i => RawLayerJob.run(spark, cfg, src, ledger, s"run$i"))
    Orchestrator.drain(spark, cfg, ledger)
    val log = graft.table.PreparedTable.log(spark, cfg)
    val s = log.snapshot()
    assert(s.partitionSpec == cfg.partitionBy && s.sortOrder == Seq("l_orderkey"))
    assert(s.files.nonEmpty && s.files.forall(s.partitions.contains),
      "every promoted file must carry its day tuple")
    assert(log.read().count() == 2 * fixtureRows(spark))
    // hidden pruning on the SOURCE column: one shipdate day opens a
    // strict subset of files, result identical to the residual filter
    val days = s.files.map(f => s.partitions(f).head).distinct.sorted
    assert(days.size > 1, "fixture spans multiple ship days")
    val d = days(days.size / 2).toLong
    val lo = java.time.Instant.ofEpochSecond(d * 86400L)
    val hi = java.time.Instant.ofEpochSecond((d + 1) * 86400L - 1, 999999000L)
    val pruned = log.readWhere(("l_shipdate", lo, hi))
    assert(pruned.inputFiles.length < s.files.size)
    assert(pruned.count() > 0 && pruned.count() ==
      log.read().where(org.apache.spark.sql.functions.col("l_shipdate")
        .between(org.apache.spark.sql.functions.lit(lo),
          org.apache.spark.sql.functions.lit(hi))).count())
  }

  test("log-backed prepared layer: a downstream stream sees each promoted run exactly once") {
    // the training-job consumer shape: promotions land as log versions,
    // and a checkpointed streaming query over the prepared table's
    // change feed receives each run's rows as a micro-batch — no ledger
    // polling, no directory diffing on the consumer side
    val spark = TestSpark.spark
    val tmp = Files.createTempDirectory("graft-log-feed-")
    val cfg = cfgFor(tmp).copy(tableFormat = PipelineConfig.FormatLog)
    val ledger = new LocalJsonLedger(tmp.resolve("ledger"))
    RawLayerJob.run(spark, cfg, src, ledger, "run1")
    Orchestrator.drain(spark, cfg, ledger)
    val tableDir = graft.table.PreparedTable.log(spark, cfg).tableDir
    val seen = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    def snapshotSeen: Map[String, Long] = {
      val b = Map.newBuilder[String, Long]
      seen.forEach((k, v) => b += k -> v)
      b.result()
    }
    val q = graft.streaming.LogChangeFeed.readChangesStream(spark, tableDir)
      .writeStream
      .option("checkpointLocation", tmp.resolve("feed-ckpt").toString)
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.groupBy(col("ETL_PART_KEY")).count().collect().foreach(r =>
          seen.merge(r.getString(0), r.getLong(1), (a, c) => a + c))
      }
      .start()
    try {
      q.processAllAvailable()
      assert(snapshotSeen == Map("run1" -> fixtureRows(spark)),
        s"first promotion must arrive whole, got $snapshotSeen")
      RawLayerJob.run(spark, cfg, src, ledger, "run2")
      Orchestrator.drain(spark, cfg, ledger)
      q.processAllAvailable()
      assert(snapshotSeen == Map(
        "run1" -> fixtureRows(spark), "run2" -> fixtureRows(spark)),
        s"second promotion must arrive exactly once, run1 must not re-ship: $snapshotSeen")
    } finally q.stop()
  }

  test("log-backed promotion is exactly-once across a drain crash (run-id txn replay)") {
    val spark = TestSpark.spark
    val tmp = Files.createTempDirectory("graft-log-crash-")
    val cfg = cfgFor(tmp).copy(tableFormat = PipelineConfig.FormatLog)
    val ledger = new LocalJsonLedger(tmp.resolve("ledger"))
    RawLayerJob.run(spark, cfg, src, ledger, "run1")
    // simulate the crash window the bare directory cannot close: the
    // run's data commit succeeded, the ledger append did not — the run
    // is still `pending`, so the rerun WILL try to promote it again
    val df = PreparedLayerJob.rawRunDf(spark, cfg.rawTablePath, "run1")
    graft.table.PreparedTable.log(spark, cfg)
      .appendRun(df, PreparedLayerJob.runTxnKey("run1"))
    assert(ledger.pending(spark, "lineitem").nonEmpty)
    Orchestrator.drain(spark, cfg, ledger)
    val log = graft.table.PreparedTable.log(spark, cfg)
    assert(log.read().count() == fixtureRows(spark),
      "crashed-then-rerun promotion must commit the run exactly once")
    assert(log.currentVersion() == 1, "the replayed run must not commit a second version")
    assert(ledger.pending(spark, "lineitem").isEmpty)
  }

  test("log-backed dedup pipeline: the change feed delivers exactly the newly admitted rows") {
    val spark = TestSpark.spark
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-log-feed-")
    val cfg = PipelineConfig(
      template = PipelineConfig.CdsViewTemplate,
      project = "graft", subject = "test",
      jobSrc = "documents", ledgerName = "pipeline_ledger",
      rawRoot = s"$tmp/raw", rawFolder = "documents", cdsView = "documents",
      preparedRoot = s"$tmp/prepared",
      tableName = s"f_${tmp.getFileName.toString.replaceAll("[^a-zA-Z0-9]", "")}",
      schema = Seq(
        ColumnSpec("doc_id", "bigint", ""), ColumnSpec("text", "string", ""),
        ColumnSpec("lang", "string", ""), ColumnSpec("source", "string", ""),
        ColumnSpec("n_chars", "bigint", "")),
      dedupColumn = Some("text"),
      tableFormat = PipelineConfig.FormatLog)
    val ledger = new LocalJsonLedger(tmp.resolve("ledger"))
    val fixture = spark.read.parquet(s"${TestSpark.Sf0001}/documents.parquet")
    RawLayerJob.run(spark, cfg,
      ParquetSource(s"${TestSpark.Sf0001}/documents.parquet"), ledger, "run1")
    Orchestrator.drain(spark, cfg, ledger)
    val log = graft.table.PreparedTable.log(spark, cfg)
    val v1 = log.currentVersion()
    assert(log.read().count() == fixture.select("text").distinct().count())

    // run 2 re-delivers the whole corpus plus five genuinely new docs;
    // cross-run dedup admits only the five
    val fresh = (1 to 5).map(i =>
      (900000L + i, s"change feed document $i", "en", "synthetic", 22L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val run2Path = tmp.resolve("run2src").toString
    fixture.unionByName(fresh).write.parquet(run2Path)
    RawLayerJob.run(spark, cfg, ParquetSource(run2Path), ledger, "run2")
    Orchestrator.drain(spark, cfg, ledger)

    // the incremental consumer reads the delta from the log's change
    // feed — one manifest read per version, delta files only, no
    // directory diffing and no ledger round-trip
    val feed = log.readChanges(v1)
    assert(feed.select("doc_id").as[Long].collect().toSeq.sorted
      == (1 to 5).map(900000L + _))
    assert(log.read().count() ==
      fixture.select("text").distinct().count() + 5)
  }

  test("config-declared constraints gate every promotion; a violating run publishes nothing") {
    val spark = TestSpark.spark
    val tmp = Files.createTempDirectory("graft-log-chk-")
    val cfg = cfgFor(tmp).copy(tableFormat = PipelineConfig.FormatLog,
      constraints = Seq(graft.config.CheckSpec("qty_pos", "l_quantity > 0")))
    val ledger = new LocalJsonLedger(tmp.resolve("ledger"))
    // clean run: the drain attaches the declared gate, then promotes
    RawLayerJob.run(spark, cfg, src, ledger, "run1")
    Orchestrator.drain(spark, cfg, ledger)
    val log = graft.table.PreparedTable.log(spark, cfg)
    assert(log.constraints() == Map("qty_pos" -> "l_quantity > 0"))
    val goodRows = log.read().count()
    assert(goodRows == fixtureRows(spark))
    // violating run: the promotion aborts WHOLE — nothing publishes,
    // the table and its version are untouched, the run stays pending
    val badSrc = tmp.resolve("badsrc").toString
    spark.read.parquet(s"${TestSpark.Sf0001}/lineitem.parquet").limit(5)
      .withColumn("l_quantity", org.apache.spark.sql.functions.lit(-1.0))
      .write.parquet(badSrc)
    RawLayerJob.run(spark, cfg, ParquetSource(badSrc), ledger, "run2")
    val v = log.currentVersion()
    val ex = intercept[IllegalStateException] {
      Orchestrator.drain(spark, cfg, ledger)
    }
    assert(ex.getMessage.contains("qty_pos"))
    assert(log.currentVersion() == v && log.read().count() == goodRows)
    // operator action releases the gate; the pending run then promotes
    log.dropConstraint("qty_pos")
    Orchestrator.drain(spark, cfg.copy(constraints = Nil), ledger)
    assert(log.read().count() == goodRows + 5)
    // a typo'd column refuses at the drain instead of attaching a gate
    // that would never fire (CHECK on an absent column passes by NULL)
    val typo = cfg.copy(constraints =
      Seq(graft.config.CheckSpec("typo", "l_quantty > 0")))
    val e2 = intercept[IllegalArgumentException] {
      PreparedLayerJob.ensureConstraints(spark, typo)
    }
    assert(e2.getMessage.contains("l_quantty"))
    assert(log.constraints().isEmpty, "nothing may attach on refusal")
  }

  test("config-declared rollup stays fresh across drains; a CoW delete folds through") {
    import org.apache.spark.sql.functions.{col, count, max, min, sum}
    val spark = TestSpark.spark
    val tmp = Files.createTempDirectory("graft-log-rollup-")
    val cfg = cfgFor(tmp).copy(tableFormat = PipelineConfig.FormatLog,
      changeFeed = true,
      rollup = Some(graft.config.RollupSpec("by_flag", "l_returnflag", Seq(
        graft.table.AggCol("n_rows", "count"),
        graft.table.AggCol("sum_key", "sum", "l_orderkey"),
        graft.table.AggCol("min_qty", "min", "l_quantity"),
        graft.table.AggCol("max_qty", "max", "l_quantity")))))
    val ledger = new LocalJsonLedger(tmp.resolve("ledger"))
    val log = () => graft.table.PreparedTable.log(spark, cfg)
    val rollup = () => graft.table.SnapshotLog(spark, cfg.rollupPath("by_flag"))
    def state() = rollup().read()
      .select("l_returnflag", "n_rows", "sum_key", "min_qty", "max_qty")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    def recompute() = log().read().groupBy(col("l_returnflag"))
      .agg(count("*"), sum("l_orderkey"), min("l_quantity"), max("l_quantity"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap

    (1 to 2).foreach(i => RawLayerJob.run(spark, cfg, src, ledger, s"run$i"))
    Orchestrator.drain(spark, cfg, ledger)
    assert(state() == recompute(), "first drain must seed the rollup")
    val v1 = rollup().currentVersion()

    RawLayerJob.run(spark, cfg, src, ledger, "run3")
    Orchestrator.drain(spark, cfg, ledger)
    assert(state() == recompute(), "second drain must fold only the delta")
    assert(rollup().currentVersion() > v1, "the fold must be a new commit")

    // idle drain: nothing pending, nothing to fold — no commit
    val vIdle = rollup().currentVersion()
    Orchestrator.drain(spark, cfg, ledger)
    assert(rollup().currentVersion() == vIdle)

    // GDPR-shaped CoW delete on the CHANGE-FEED prepared table: the
    // whole 'R' group vanishes from the rollup via the row-level fold
    // (min/max present → targeted recompute of touched keys only)
    assert(log().deleteWhere(("l_returnflag", "R", "R")).isDefined)
    PreparedLayerJob.refreshRollup(spark, cfg)
    assert(!state().contains("R"), "the deleted group's derived row must drop")
    assert(state() == recompute(), "post-delete rollup must equal a recompute")
  }

  test("split-from-persisted-labels: run 2 splits consistently without recomputing the closure") {
    val spark = TestSpark.spark
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-labels-")
    val cfg = PipelineConfig(
      template = PipelineConfig.CdsViewTemplate,
      project = "graft", subject = "test",
      jobSrc = "documents", ledgerName = "pipeline_ledger",
      rawRoot = s"$tmp/raw", rawFolder = "documents", cdsView = "documents",
      preparedRoot = s"$tmp/prepared",
      tableName = s"s_${tmp.getFileName.toString.replaceAll("[^a-zA-Z0-9]", "")}",
      schema = Seq(
        ColumnSpec("doc_id", "bigint", ""), ColumnSpec("text", "string", ""),
        ColumnSpec("lang", "string", ""), ColumnSpec("source", "string", ""),
        ColumnSpec("n_chars", "bigint", "")))
    val ledger = new LocalJsonLedger(tmp.resolve("ledger"))
    RawLayerJob.run(spark, cfg,
      ParquetSource(s"${TestSpark.Sf0001}/documents.parquet"), ledger, "run1")
    Orchestrator.drain(spark, cfg, ledger)
    // corpus build complete: run the closure ONCE, persist the labels
    // beside the prepared data (the fingerprint-index pattern)
    graft.ops.Dedup.ddClusters(spark, TestSpark.Sf0001)
      .write.parquet(cfg.clusterLabelsPath)
    val labels = spark.read.parquet(cfg.clusterLabelsPath)
    val corpus1 = spark.read.parquet(cfg.preparedPath).select("doc_id")
    val split1 = graft.ops.Sampling.splitFromLabels(corpus1, labels)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap

    // run 2 delivers five new docs; the split joins the AT-REST labels —
    // no ddClusters call anywhere on this path
    val fresh = (1 to 5).map(i =>
      (900000L + i, s"persisted label split doc $i", "en", "synthetic", 27L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val run2Path = tmp.resolve("run2src").toString
    fresh.write.parquet(run2Path)
    RawLayerJob.run(spark, cfg, ParquetSource(run2Path), ledger, "run2")
    Orchestrator.drain(spark, cfg, ledger)
    val corpus2 = spark.read.parquet(cfg.preparedPath).select("doc_id")
    val split2df = graft.ops.Sampling.splitFromLabels(corpus2, labels)
    val split2 = split2df.collect().map(r => r.getLong(0) -> r.getString(2)).toMap

    assert(split2.size == split1.size + 5)
    // consistency: every run-1 doc keeps its assignment
    assert(split1.forall { case (id, s) => split2(id) == s },
      "persisted-label split must be stable across corpus growth")
    // leakage safety: every multi-member cluster lands in ONE split
    val byCluster = labels.collect().map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._2).filter(_._2.length > 1)
    assert(byCluster.nonEmpty, "fixture must contain non-trivial clusters")
    byCluster.foreach { case (rep, members) =>
      val splits = members.map(m => split2(m._1)).distinct
      assert(splits.length == 1, s"cluster $rep straddles splits: $splits")
    }
  }

  test("event-driven watch promotes like a synchronous drain") {
    val spark = TestSpark.spark
    val tmp = Files.createTempDirectory("graft-watch-")
    val cfg = cfgFor(tmp)
    val ledger = new LocalJsonLedger(tmp.resolve("ledger"))
    RawLayerJob.run(spark, cfg, src, ledger, "run1")
    val q = Orchestrator.watch(spark, cfg, ledger, s"$tmp/ckpt")
    q.awaitTermination()
    assert(spark.read.parquet(cfg.preparedPath).count() == fixtureRows(spark))
    assert(ledger.pending(spark, "lineitem").isEmpty)
  }

  test("event-driven watch on a log-format pipeline: promoted rows read through the cataloged name") {
    val spark = TestSpark.spark
    val tmp = Files.createTempDirectory("graft-watch-log-")
    val cfg = cfgFor(tmp).copy(tableFormat = PipelineConfig.FormatLog)
    val ledger = new LocalJsonLedger(tmp.resolve("ledger"))
    RawLayerJob.run(spark, cfg, src, ledger, "run1")
    Orchestrator.watch(spark, cfg, ledger, s"$tmp/ckpt").awaitTermination()
    val byRun = spark.sql(
      s"SELECT ETL_PART_KEY, count(*) FROM ${graft.catalog.CatalogRegistrar.name(cfg)} GROUP BY 1")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byRun == Map("run1" -> fixtureRows(spark)))
    assert(ledger.pending(spark, "lineitem").isEmpty)
  }

  /** Runs `body` and returns the Spark jobs it launched, each named by
    * its stages' call sites, with the (records read, records written)
    * summed over each job's tasks. Listener events arrive in order: once
    * a marker job run after `body` is seen to start, every job of `body`
    * has been counted. */
  private def jobsOf(spark: SparkSession)(body: => Unit): Seq[(String, (Long, Long))] = {
    import scala.jdk.CollectionConverters._
    val tagKey = "graft.test.jobs"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String)]()
    val jobOfStage = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val records = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(tagKey))) match {
          case Some("body") =>
            jobs.add(e.jobId -> e.stageInfos.map(_.name).mkString(", "))
            e.stageIds.foreach(jobOfStage.put(_, e.jobId))
          case Some("marker") => marker.countDown()
          case _ =>
        }
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach { m =>
          records.merge(e.stageId,
            (m.inputMetrics.recordsRead, m.outputMetrics.recordsWritten),
            (a, b) => (a._1 + b._1, a._2 + b._2))
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tagKey, "body")
      body
      sc.setLocalProperty(tagKey, "marker")
      sc.parallelize(Seq(1), 1).count()
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      sc.setLocalProperty(tagKey, null)
      sc.removeSparkListener(listener)
    }
    val perJob = records.asScala.toSeq.filter { case (st, _) => jobOfStage.containsKey(st) }
      .groupMapReduce { case (st, _) => jobOfStage.get(st) } { case (_, rw) => rw } {
        (a, b) => (a._1 + b._1, a._2 + b._2) }
    jobs.asScala.toSeq.map { case (id, name) => name -> perJob.getOrElse(id, (0L, 0L)) }
  }

  private def declaredColumns(cfg: PipelineConfig) =
    cfg.schema.map(_.name) :+ "ETL_PART_KEY"

  /** A source with the fixture's schema and no rows: one empty
    * partition, or no partition at all. */
  private def emptySource(zeroPartitions: Boolean) = new SourceReader {
    override def read(s: SparkSession): DataFrame =
      if (zeroPartitions)
        s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          src.read(s).schema)
      else src.read(s).limit(0)
  }

  Seq(PipelineConfig.FormatDir, PipelineConfig.FormatLog).foreach { fmt =>
    test(s"empty snapshots ($fmt): RAW and PREPARED COMPLETED with 0 rows; later runs still promote") {
      val spark = TestSpark.spark
      val tmp = Files.createTempDirectory(s"graft-empty-$fmt-")
      val cfg = cfgFor(tmp).copy(tableFormat = fmt)
      val ledger = new LocalJsonLedger(tmp.resolve("ledger"))
      val runs = Seq("e1" -> emptySource(zeroPartitions = true), "r2" -> src,
        "e3" -> emptySource(zeroPartitions = false), "r4" -> src)
      runs.foreach { case (run, source) =>
        val table = Orchestrator.runEndToEnd(spark, cfg, source, ledger, run)
        // readable after every cycle, the empty first one included
        assert(spark.table(table).schema.fieldNames.toSeq == declaredColumns(cfg))
        assert(ledger.pending(spark, "lineitem").isEmpty, s"$run left pending runs")
      }
      val n = fixtureRows(spark)
      val counts = ledger.records(spark).collect().toSeq
        .map(r => (r.partition_key, r.state) -> (r.rawEntryCount, r.preparedEntryCount)).toMap
      Seq("e1" -> 0L, "r2" -> n, "e3" -> 0L, "r4" -> n).foreach { case (run, rows) =>
        assert(counts((run, "RAW COMPLETED"))._1 == rows.toString)
        assert(counts((run, "PREPARED COMPLETED"))._2 == rows.toString)
      }
      // an empty run lands no raw files and appends nothing
      assert(!Files.exists(Path.of(cfg.rawRunPath("e1"))))
      val byRun = spark.sql(
        s"SELECT ETL_PART_KEY, count(*) FROM ${graft.catalog.CatalogRegistrar.name(cfg)} GROUP BY 1").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(byRun == Map("r2" -> n, "r4" -> n))
    }
  }

  Seq(PipelineConfig.FormatDir, PipelineConfig.FormatLog).foreach { fmt =>
    test(s"a non-empty run whose raw files are gone fails the drain and stays pending ($fmt)") {
      val spark = TestSpark.spark
      val tmp = Files.createTempDirectory(s"graft-lost-raw-$fmt-")
      val cfg = cfgFor(tmp).copy(tableFormat = fmt)
      val ledger = new LocalJsonLedger(tmp.resolve("ledger"))
      RawLayerJob.run(spark, cfg, src, ledger, "run1")
      val runDir = new java.io.File(cfg.rawRunPath("run1"))
      assert(runDir.isDirectory)
      org.apache.commons.io.FileUtils.deleteDirectory(runDir)
      // the ledger says the run has rows: a missing directory is an
      // error, never a 0-row promotion
      intercept[java.io.FileNotFoundException](Orchestrator.drain(spark, cfg, ledger))
      assert(ledger.pending(spark, "lineitem").map(_.partition_key) == Seq("run1"))
      assert(!ledger.records(spark).collect().exists(_.state == graft.ledger.RunState.PreparedCompleted))
    }
  }

  test("a warm log-format runEndToEnd runs 3 Spark jobs (no read-back, inference or registration job)") {
    // pins the cycle's job profile the way PlanSpec pins plan shapes: the
    // source's schema inference, the raw write and the copy of the raw
    // file into the log. A raw read-back, a promotion inference job, a
    // Spark-read ledger, a re-encoding append or any job launched by the
    // catalog registration each add jobs or written records
    val spark = TestSpark.spark
    val tmp = Files.createTempDirectory("graft-jobs-")
    val cfg = cfgFor(tmp).copy(tableFormat = PipelineConfig.FormatLog)
    val ledger = new LocalJsonLedger(tmp.resolve("ledger"))
    Orchestrator.runEndToEnd(spark, cfg, src, ledger, "run1") // warm-up
    val jobs = jobsOf(spark)(Orchestrator.runEndToEnd(spark, cfg, src, ledger, "run2"))
    val names = jobs.map(_._1)
    // each job named by the code that launched it, in cycle order
    val expected = Seq("SourceReader.scala", "RawLayerJob.scala", "ParquetCopy.scala")
    assert(names.size == 3 && names.zip(expected).forall { case (n, f) => n.contains(f) },
      s"cycle jobs: ${names.mkString("; ")}")
    assert(!names.exists(_.contains("CatalogRegistrar.scala")), names.mkString("; "))
    // each source row is encoded once — by the raw write — and the copy
    // decodes none
    assert(jobs.map(_._2._2).sum == fixtureRows(spark), s"records: $jobs")
    assert(jobs.collect { case (n, (read, _)) if n.contains("ParquetCopy.scala") => read }
      == Seq(0L), s"records: $jobs")
    assert(spark.table(graft.catalog.CatalogRegistrar.name(cfg)).count() == 2 * fixtureRows(spark))
  }

  test("a commit made straight through the log shows through the cataloged name without register") {
    val spark = TestSpark.spark
    val tmp = Files.createTempDirectory("graft-direct-")
    val cfg = cfgFor(tmp).copy(tableFormat = PipelineConfig.FormatLog)
    val ledger = new LocalJsonLedger(tmp.resolve("ledger"))
    val table = Orchestrator.runEndToEnd(spark, cfg, src, ledger, "run1")
    graft.table.PreparedTable.log(spark, cfg)
      .append(src.read(spark).withColumn("ETL_PART_KEY", org.apache.spark.sql.functions.lit("direct")))
    val byRun = spark.sql(s"SELECT ETL_PART_KEY, count(*) FROM $table GROUP BY 1").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byRun == Map("run1" -> fixtureRows(spark), "direct" -> fixtureRows(spark)))
  }

  test("register refuses a catalog name already mounted at another root") {
    val spark = TestSpark.spark
    val tmp = Files.createTempDirectory("graft-mount-")
    val cfg = cfgFor(tmp).copy(tableFormat = PipelineConfig.FormatLog)
    val rootKey = s"spark.sql.catalog.${graft.catalog.CatalogRegistrar.catalogName(cfg)}.root"
    spark.conf.set(rootKey, s"$tmp/elsewhere")
    try {
      val e = intercept[IllegalStateException](graft.catalog.CatalogRegistrar.register(spark, cfg))
      assert(e.getMessage.contains(s"$tmp/elsewhere"), e.getMessage)
    } finally spark.conf.unset(rootKey)
    assert(!spark.catalog.tableExists(graft.catalog.CatalogRegistrar.name(cfg)))
  }

  test("the cataloged read over more than 32 live files runs as many jobs as over 1 file") {
    // past spark.sql.sources.parallelPartitionDiscovery.threshold (32
    // paths) a file listing becomes a Spark job of its own; the mounted
    // log plans from the manifest and lists nothing
    val spark = TestSpark.spark
    val tmp = Files.createTempDirectory("graft-many-files-")
    val cfg = cfgFor(tmp).copy(tableFormat = PipelineConfig.FormatLog)
    val log = graft.table.PreparedTable.log(spark, cfg)
    def rows(run: String) =
      src.read(spark).withColumn("ETL_PART_KEY", org.apache.spark.sql.functions.lit(run))
    log.append(rows("one").coalesce(1))
    assert(log.snapshot().files.size == 1)
    val table = graft.catalog.CatalogRegistrar.register(spark, cfg)
    def read(): Seq[(String, (Long, Long))] = jobsOf(spark) {
      spark.sql(s"SELECT ETL_PART_KEY, count(*) FROM $table GROUP BY 1").collect()
    }
    val oneFile = read()
    // one direct append, so no drain and no compaction
    log.append(rows("many").repartition(40))
    assert(log.snapshot().files.size > 32, s"files: ${log.snapshot().files.size}")
    val manyFiles = read()
    assert(manyFiles.size == oneFile.size,
      s"1 file: ${oneFile.map(_._1).mkString("; ")} | many: ${manyFiles.map(_._1).mkString("; ")}")
    assert(spark.table(table).count() == 2 * fixtureRows(spark))
  }

  Seq(PipelineConfig.FormatDir, PipelineConfig.FormatLog).foreach { fmt =>
    test(s"a promoted raw file is copied byte for byte, timestamps as micros and the audit key optional ($fmt)") {
      import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType, Type}
      val spark = TestSpark.spark
      val tmp = Files.createTempDirectory(s"graft-copy-$fmt-")
      val cfg = cfgFor(tmp).copy(tableFormat = fmt)
      val ledger = new LocalJsonLedger(tmp.resolve("ledger"))
      // a zoned timestamp column: the one type whose parquet encoding a
      // session conf decides (INT96 unless written as micros)
      val zoned = new SourceReader {
        override def read(s: SparkSession): DataFrame =
          src.read(s).withColumn("l_shipdate", col("l_shipdate").cast("timestamp"))
      }
      Orchestrator.runEndToEnd(spark, cfg, zoned, ledger, "run1")
      def parquetIn(dir: String): Seq[Path] = Files.list(Path.of(dir)).toArray.toSeq
        .map(_.asInstanceOf[Path]).filter(p => p.getFileName.toString.endsWith(".parquet"))
      val Seq(raw) = parquetIn(cfg.rawRunPath("run1"))
      val Seq(promoted) = parquetIn(
        if (fmt == PipelineConfig.FormatLog) s"${cfg.preparedPath}/${graft.table.SnapshotLog.DataDirName}"
        else cfg.preparedPath)
      assert(java.util.Arrays.equals(Files.readAllBytes(raw), Files.readAllBytes(promoted)))
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(promoted.toString), spark.sparkContext.hadoopConfiguration))
      val footer = try r.getFooter.getFileMetaData.getSchema finally r.close()
      val ts = footer.getType(footer.getFieldIndex("l_shipdate")).asPrimitiveType
      assert(ts.getPrimitiveTypeName == PrimitiveType.PrimitiveTypeName.INT64)
      assert(ts.getLogicalTypeAnnotation == LogicalTypeAnnotation.timestampType(
        true, LogicalTypeAnnotation.TimeUnit.MICROS))
      val key = footer.getType(footer.getFieldIndex("ETL_PART_KEY"))
      assert(key.isRepetition(Type.Repetition.OPTIONAL))
      assert(key.getLogicalTypeAnnotation == LogicalTypeAnnotation.stringType())
      // the cataloged object reads the declared types, the key as the string written
      val t = spark.table(graft.catalog.CatalogRegistrar.name(cfg))
      assert(t.schema("l_shipdate").dataType == org.apache.spark.sql.types.TimestampType)
      assert(t.schema("ETL_PART_KEY").dataType == org.apache.spark.sql.types.StringType)
      assert(t.where(col("ETL_PART_KEY") === "run1").count() == fixtureRows(spark))
    }
  }

  Seq(PipelineConfig.FormatDir, PipelineConfig.FormatLog).foreach { fmt =>
    test(s"a raw file holding fewer rows than the ledger counted fails the row-count audit ($fmt)") {
      val spark = TestSpark.spark
      val tmp = Files.createTempDirectory(s"graft-audit-$fmt-")
      val cfg = cfgFor(tmp).copy(tableFormat = fmt)
      val ledger = new LocalJsonLedger(tmp.resolve("ledger"))
      RawLayerJob.run(spark, cfg, src, ledger, "run1")
      // the run's file replaced with one holding 5 of its rows
      src.read(spark).limit(5).withColumn("ETL_PART_KEY", RawLayerJob.auditValue("run1"))
        .coalesce(1).write.mode("overwrite").parquet(cfg.rawRunPath("run1"))
      val e = intercept[IllegalStateException](Orchestrator.drain(spark, cfg, ledger))
      assert(e.getMessage.contains("row-count audit"), e.getMessage)
      assert(ledger.pending(spark, "lineitem").map(_.partition_key) == Seq("run1"))
      assert(!ledger.records(spark).collect().exists(_.state == graft.ledger.RunState.PreparedCompleted))
      // nothing committed, and the copies are gone
      val left = if (fmt == PipelineConfig.FormatLog) {
        assert(graft.table.PreparedTable.log(spark, cfg).currentVersion() == 0)
        s"${cfg.preparedPath}/${graft.table.SnapshotLog.DataDirName}"
      } else cfg.preparedPath
      val files = Option(new java.io.File(left).listFiles()).toSeq.flatten
      assert(!files.exists(_.getName.contains(".parquet")), files.mkString(", "))
    }
  }

  Seq(PipelineConfig.FormatDir, PipelineConfig.FormatLog).foreach { fmt =>
    test(s"a raw run whose files lack the audit column promotes with the run id ($fmt)") {
      // the layout of runs written when the audit column lived only in
      // the ETL_PART_KEY=<runId> directory name
      val spark = TestSpark.spark
      val tmp = Files.createTempDirectory(s"graft-legacy-$fmt-")
      val cfg = cfgFor(tmp).copy(tableFormat = fmt)
      val ledger = new LocalJsonLedger(tmp.resolve("ledger"))
      src.read(spark).write.parquet(cfg.rawRunPath("00123"))
      ledger.append(graft.ledger.RunRecord("00123", cfg.jobSrc,
        graft.ledger.RunState.RawCompleted, cfg.rawRoot, cfg.rawFolder,
        RawLayerJob.JobName, fixtureRows(spark).toString))
      val table = Orchestrator.runEndToEnd(spark, cfg, src, ledger, "r2")
      val byRun = spark.sql(s"SELECT ETL_PART_KEY, count(*) FROM $table GROUP BY 1").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(byRun == Map("00123" -> fixtureRows(spark), "r2" -> fixtureRows(spark)))
    }
  }

  Seq(PipelineConfig.FormatDir, PipelineConfig.FormatLog).foreach { fmt =>
    test(s"re-registering keeps the cataloged object in place ($fmt)") {
      val spark = TestSpark.spark
      val tmp = Files.createTempDirectory(s"graft-reg-$fmt-")
      val cfg = cfgFor(tmp).copy(tableFormat = fmt)
      val ledger = new LocalJsonLedger(tmp.resolve("ledger"))
      val ident = org.apache.spark.sql.catalyst.TableIdentifier(cfg.tableName,
        Some(graft.catalog.CatalogRegistrar.Database))
      def created = spark.sessionState.catalog.getTableMetadata(ident).createTime
      Orchestrator.runEndToEnd(spark, cfg, src, ledger, "run1")
      val first = created
      Thread.sleep(5) // a dropped-and-recreated object would carry a later time
      // the view reads the mounted log and the table is refreshed, so
      // later cycles leave either object in place
      Orchestrator.runEndToEnd(spark, cfg, src, ledger, "run2")
      graft.catalog.CatalogRegistrar.register(spark, cfg)
      assert(created == first, "the object was dropped and re-created, not kept")
      assert(spark.table(graft.catalog.CatalogRegistrar.name(cfg)).count() == 2 * fixtureRows(spark))
    }
  }

  test("a table_format switch leaves one readable object with the declared columns") {
    val spark = TestSpark.spark
    val tmp = Files.createTempDirectory("graft-switch-")
    // one catalog name, two prepared layers: the log one and a directory one
    val logCfg = cfgFor(tmp).copy(tableFormat = PipelineConfig.FormatLog,
      preparedRoot = s"$tmp/prepared_log")
    val dirCfg = logCfg.copy(tableFormat = PipelineConfig.FormatDir,
      preparedRoot = s"$tmp/prepared_dir")
    val logLedger = new LocalJsonLedger(tmp.resolve("ledger_log"))
    val dirLedger = new LocalJsonLedger(tmp.resolve("ledger_dir"))
    val n = fixtureRows(spark)
    def check(kind: String, rows: Long): Unit = {
      val held = spark.catalog.listTables(graft.catalog.CatalogRegistrar.Database)
        .collect().filter(_.name == logCfg.tableName)
      assert(held.map(_.tableType).toSeq == Seq(kind))
      val t = spark.table(graft.catalog.CatalogRegistrar.name(logCfg))
      assert(t.schema.fieldNames.toSeq == declaredColumns(logCfg))
      assert(t.count() == rows)
    }
    Orchestrator.runEndToEnd(spark, logCfg, src, logLedger, "run1")
    check("VIEW", n)
    Orchestrator.runEndToEnd(spark, dirCfg, src, dirLedger, "run1") // log → dir
    check("EXTERNAL", n)
    Orchestrator.runEndToEnd(spark, logCfg, src, logLedger, "run2") // dir → log
    check("VIEW", 2 * n)
  }

  test("registration after a drain that promoted nothing still yields a readable name") {
    val spark = TestSpark.spark
    val tmp = Files.createTempDirectory("graft-rereg-")
    val cfg = cfgFor(tmp).copy(tableFormat = PipelineConfig.FormatLog)
    val ledger = new LocalJsonLedger(tmp.resolve("ledger"))
    Orchestrator.runEndToEnd(spark, cfg, src, ledger, "run1")
    spark.sql(s"DROP VIEW ${graft.catalog.CatalogRegistrar.name(cfg)}")
    // the same run id again: already promoted, so the drain promotes
    // nothing, and the drain registers the name again
    val table = Orchestrator.runEndToEnd(spark, cfg, src, ledger, "run1")
    assert(spark.table(table).count() == fixtureRows(spark))
  }
}
