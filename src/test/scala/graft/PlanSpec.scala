package graft

import graft.ops.{Relational, Similarity}
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan property assertions: the scale contract of each operator
  * family, pinned as regression tests. A refactor that silently drops a
  * pushed filter, loses a broadcast hint, or degrades top-k into a global
  * sort changes nothing at fixture scale but everything at 100 TB — these
  * tests make the plan shape part of the spec. */
class PlanSpec extends AnyFunSuite {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q02: filter and projection are pushed into the parquet scan") {
    val p = plan(Relational.q02FilterPushdown(TestSpark.spark, TestSpark.Sf0001))
    assert(p.contains("PushedFilters: ["), s"no pushed filters in:\n${p.take(1500)}")
    assert(p.contains("LessThan(l_quantity") || p.contains("LessThan(`l_quantity"),
      "the selective predicate must reach the scan")
    // column pruning: the scan reads the 4 projected columns, not the table
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_returnflag"),
      s"scan reads columns the query never uses: $readSchema")
  }

  test("q03: dimension joins are broadcast, not shuffled") {
    val p = plan(Relational.q03RevenueByNation(TestSpark.spark, TestSpark.Sf0001))
    // customer, nation, region carry explicit broadcast hints
    assert("BroadcastExchange".r.findAllIn(p).size >= 3,
      s"expected >=3 broadcast dims in:\n${p.take(1500)}")
  }

  test("q11: global sort+limit plans as TakeOrderedAndProject, not a full sort") {
    val p = plan(Relational.q11SortLimit(TestSpark.spark, TestSpark.Sf0001))
    assert(p.contains("TakeOrderedAndProject"), s"top-k degraded to a global sort:\n${p.take(1500)}")
  }

  test("brute-force ANN broadcasts the query side; the corpus never shuffles") {
    val p = plan(Similarity.simTopKBruteForce(TestSpark.spark, TestSpark.Sf0001))
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"query side must broadcast:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct"),
      "pair generation must not fall back to a cartesian shuffle product")
  }

  test("q01: aggregation is two-phase (map-side partial before the shuffle)") {
    val p = plan(Relational.q01PricingSummary(TestSpark.spark, TestSpark.Sf0001))
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final HashAggregate pair in:\n${p.take(1500)}")
  }

  test("q25: literal band table broadcasts; orders never shuffle for the range join") {
    val p = plan(Relational.q25RangeJoin(TestSpark.spark, TestSpark.Sf0001))
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"interval side must broadcast:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct"),
      "range join must not fall back to a cartesian shuffle product")
  }

  test("samp_hash: sample predicate prunes scan columns (no text column read)") {
    val p = plan(graft.ops.Sampling.sampHash(TestSpark.spark, TestSpark.Sf0001))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("text"),
      s"sample scan reads the payload column it never returns: $readSchema")
    // the accept test is a plain filter — no hash-partitioned shuffle; the
    // only allowed Exchange is the single rangepartitioning from the
    // presentation orderBy (the old disjunct form was vacuously true
    // whenever the range exchange existed)
    assert(!p.contains("Exchange hashpartitioning"),
      s"deterministic sampling must not hash-shuffle:\n${p.take(1500)}")
    assert("Exchange rangepartitioning".r.findAllIn(p).size <= 1,
      s"more than the one presentation sort exchange:\n${p.take(1500)}")
  }

  test("tx_vocab: corpus top-k plans as TakeOrderedAndProject, not a global sort") {
    val p = plan(graft.ops.TextAnalysis.txVocab(TestSpark.spark, TestSpark.Sf0001))
    assert(p.contains("TakeOrderedAndProject"),
      s"vocabulary top-k degraded to a global sort:\n${p.take(1500)}")
  }

  test("q26: native top-k plans two heap phases around one exchange, no Sort") {
    val df = Relational.q26TopkNative(TestSpark.spark, TestSpark.Sf0001)
    val inner = graft.plans.TopKPerGroup.topK(
      graft.ops.Relational.t(TestSpark.spark, TestSpark.Sf0001, "orders"),
      group = Seq(org.apache.spark.sql.functions.col("o_orderpriority")),
      order = Seq(org.apache.spark.sql.functions.col("o_totalprice").desc,
        org.apache.spark.sql.functions.col("o_orderkey").asc),
      k = 3)
    val p = inner.queryExecution.executedPlan.toString
    assert("TopKPerGroup ".r.findAllIn(p).size == 2,
      s"expected partial+final TopKPerGroupExec pair in:\n${p.take(2000)}")
    assert(p.contains("Exchange hashpartitioning"),
      s"final phase must cluster on the group key:\n${p.take(2000)}")
    assert(!p.contains("Sort "), s"native top-k must not sort groups:\n${p.take(2000)}")
    // and the graded query's results match the window formulation exactly
    val viaWindow = {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      graft.ops.Relational.t(TestSpark.spark, TestSpark.Sf0001, "orders")
        .withColumn("rn", row_number().over(Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)))
        .filter(col("rn") <= 3)
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
        .collect().map(_.toSeq).toSet
    }
    assert(df.collect().map(_.toSeq).toSet == viaWindow)
  }

  test("optimizer rule: window top-k idiom rewrites to the bounded-heap operator") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val orders = graft.ops.Relational.t(spark, TestSpark.Sf0001, "orders")
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    def idiom() = orders
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3 && col("o_orderkey") > 0) // extra conjunct must survive
      .drop("rn")
    // without the rule: stock window plan
    val before = plan(idiom())
    assert(before.contains("Window") && !before.contains("TopKPerGroup"))
    val baseline = idiom().collect().map(_.toSeq).toSet
    graft.plans.TopKRewrite.install(spark)
    try {
      val p = plan(idiom())
      assert("TopKPerGroup ".r.findAllIn(p).size == 2,
        s"idiom must re-plan as the partial+final heap pair:\n${p.take(2000)}")
      // no Window, no WindowGroupLimit (Spark's own sort-based rank-limit
      // pushdown must be subsumed, not stacked under the heaps), no Sort
      assert(!p.contains("Window") && !p.contains("Sort "),
        s"rewritten plan must not sort or window:\n${p.take(2000)}")
      assert(idiom().collect().map(_.toSeq).toSet == baseline,
        "rewrite must be row-identical to the window formulation")
      // a query that KEEPS the rank column needs the rank VALUES —
      // must stay a Window plan (this protects q06/samp_domain_cap,
      // whose graded surface is the window formulation itself)
      val kept = orders.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_orderpriority"), col("rn"))
      val keptPlan = plan(kept)
      assert(keptPlan.contains("Window") && !keptPlan.contains("TopKPerGroup"),
        s"rank-keeping query must not be rewritten:\n${keptPlan.take(2000)}")
      // un-partitioned row_number = GLOBAL top-k — out of scope (the heap
      // operator requires a clustering; Spark's own machinery owns this)
      val global = orders
        .withColumn("rn", row_number().over(
          Window.orderBy(col("o_totalprice").desc, col("o_orderkey").asc)))
        .filter(col("rn") <= 3)
        .drop("rn")
      assert(!plan(global).contains("TopKPerGroup"),
        "global (un-partitioned) top-k must not be rewritten")
      assert(global.count() == 3)
      // runtime kill switch: a session can keep the extension ladder but
      // opt out of the idiom rewrite (non-unique-order tie admission)
      spark.conf.set(graft.plans.TopKRewrite.EnabledConfKey, "false")
      try assert(plan(idiom()).contains("Window") &&
        !plan(idiom()).contains("TopKPerGroup"),
        "disabled rewrite must leave the stock window plan")
      finally spark.conf.unset(graft.plans.TopKRewrite.EnabledConfKey)
      assert(plan(idiom()).contains("TopKPerGroup"), "re-enabled after unset")
    } finally graft.plans.TopKRewrite.uninstall(spark)
    // uninstalled: back to the stock plan
    assert(plan(idiom()).contains("Window"))
  }

  test("TopKPerGroup fails fast past the per-task group-count ceiling") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions.col
    spark.conf.set(graft.plans.TopKPerGroup.MaxGroupsConfKey, "10")
    try {
      // o_orderkey is unique per row — the degenerate high-cardinality key
      // the heap formulation must refuse, not OOM on
      val df = graft.plans.TopKPerGroup.topK(
        Relational.t(spark, TestSpark.Sf0001, "orders"),
        group = Seq(col("o_orderkey")),
        order = Seq(col("o_totalprice").desc),
        k = 1)
      val ex = intercept[org.apache.spark.SparkException] { df.count() }
      def messages(t: Throwable): Iterator[String] =
        Iterator.single(Option(t.getMessage).getOrElse("")) ++
          Option(t.getCause).iterator.flatMap(messages)
      assert(messages(ex).exists(m =>
        m.contains("distinct group keys") && m.contains("row_number()")),
        s"guard error must name the bound and the window fallback, got: ${ex.getMessage}")
    } finally spark.conf.unset(graft.plans.TopKPerGroup.MaxGroupsConfKey)
    // and the default ceiling leaves the graded low-cardinality path intact
    assert(Relational.q26TopkNative(TestSpark.spark, TestSpark.Sf0001).count() > 0)
  }

  test("GraftExtensions installs the top-k strategy through spark.sql.extensions") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.plans.GraftExtensions().apply(ext)
    val strategies = org.apache.spark.sql.GraftBridge
      .buildPlannerStrategies(ext, TestSpark.spark)
    assert(strategies.contains(graft.plans.TopKPerGroup.Strategy),
      s"extensions installer must register the strategy, got: $strategies")
    val rules = org.apache.spark.sql.GraftBridge
      .buildOptimizerRules(ext, TestSpark.spark)
    assert(rules.contains(graft.plans.TopKRewrite),
      s"extensions installer must register the window-idiom rewrite, got: $rules")
  }

  test("sessionWithExtensions: isolated extensions session, parent untouched") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val s2 = org.apache.spark.sql.GraftBridge
      .sessionWithExtensions(spark, new graft.plans.GraftExtensions()(_))
    assert(s2 ne spark)
    assert(s2.sparkContext eq spark.sparkContext, "must share the context")
    // the builder call must not have stolen the JVM default-session slot
    assert(org.apache.spark.sql.classic.SparkSession.getDefaultSession
      .exists(_ eq spark), "parent must remain the default session")
    // session confs carried over (Verify/Bench set these on the parent)
    assert(s2.conf.get("spark.sql.shuffle.partitions") ==
      spark.conf.get("spark.sql.shuffle.partitions"))
    def idiom(s: org.apache.spark.sql.SparkSession) =
      Relational.t(s, TestSpark.Sf0001, "orders")
        .withColumn("rn", row_number().over(Window
          .partitionBy(col("o_orderpriority"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)))
        .filter(col("rn") <= 3).drop("rn")
    // rewrite live on the extensions session, absent from the parent —
    // installing through s2 must never re-plan the parent's window queries
    assert(plan(idiom(s2)).contains("TopKPerGroup"))
    assert(!plan(idiom(spark)).contains("TopKPerGroup"))
  }

  test("q22: salting replicates the dimension only on the hot-key branch") {
    // production-shape pin: dim rows after conditional replication =
    // cold keys × 1 + hot keys × SaltBuckets (NOT all keys × SaltBuckets —
    // the r6 demo simplification this replaces)
    val (nDim, nHot, nReplicated) =
      Relational.q22DimReplication(TestSpark.spark, TestSpark.Sf0001)
    assert(nHot > 0, "fixture must exercise the hot-key branch")
    assert(nHot < nDim, "fixture must exercise the cold-key branch")
    assert(nReplicated == (nDim - nHot) + nHot * Relational.SaltBuckets,
      s"dim=$nDim hot=$nHot replicated=$nReplicated — replication must be hot-only")
    // the hot-set membership checks are broadcasts, never shuffled joins
    val p = plan(Relational.q22SaltedJoin(TestSpark.spark, TestSpark.Sf0001))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"hot-key membership must broadcast on both sides:\n${p.take(2000)}")
  }

  test("prof_numeric: all column stats come from ONE scan of the table") {
    val p = plan(graft.ops.Profiling.profNumeric(TestSpark.spark, TestSpark.Sf0001))
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"profiling must not rescan per column:\n${p.take(2000)}")
  }

  test("prof_drift: both populations' histograms come from ONE scan, pruned") {
    val p = plan(graft.ops.Profiling.profDrift(TestSpark.spark, TestSpark.Sf0001))
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"the side tag must not become a second scan or self-join:\n${p.take(2000)}")
    assert(p.contains("o_totalprice") && !p.contains("o_custkey"),
      "drift reads only the binned column + date tag")
  }

  test("emb_project: one vec_id aggregate, no window, no join on the data path") {
    val p = plan(graft.ops.Embeddings.embProject(TestSpark.spark, TestSpark.Sf0001))
    assert("Scan parquet".r.findAllIn(p).size == 1)
    assert(!p.contains("Window") && !p.contains("Join"),
      s"projection is explode + ONE keyed agg, nothing else:\n${p.take(2000)}")
    // map-side combine: the 16 conditional sums partial-aggregate before
    // the vec_id exchange, so the shuffle carries 16 longs per vector
    assert(p.contains("partial_sum") && p.contains("Exchange hashpartitioning(vec_id"),
      s"16 conditional sums must partial-aggregate map-side:\n${p.take(2000)}")
  }

  test("runtime bloom-filter join pruning engages for a selective dim filter") {
    // the 100 TB shape: fact ⋈ selectively-filtered dim without broadcast
    // (dim too big) — Spark's runtime row-level filtering should build a
    // bloom from the filtered dim keys and inject it as a fact-side scan
    // filter, so most fact rows die before the shuffle. Thresholds are
    // size-gated (the app side must look big), so the pin lowers the
    // app-side gate to make fixture-scale behave like production scale.
    val spark = TestSpark.spark
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force a shuffle join
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      import org.apache.spark.sql.functions._
      val li = Relational.t(spark, TestSpark.Sf0001, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"))
      val ord = Relational.t(spark, TestSpark.Sf0001, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      val q = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      val p = q.queryExecution.optimizedPlan.toString
      assert(p.toLowerCase.contains("bloomfilter"),
        s"expected an injected runtime bloom filter on the fact side:\n${p.take(2000)}")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("dd_embed_lsh: candidate generation is a hash bucket join, never a product") {
    val p = plan(graft.ops.Dedup.ddEmbedLsh(TestSpark.spark, TestSpark.Sf0001))
    // the (tbl, sig) equi-keys must drive a hash/merge join (the vec_id
    // inequality rides as a post-join condition); a nested-loop or
    // cartesian here would mean the quadratic plan the LSH path exists
    // to avoid
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"bucket self-join degraded to a product:\n${p.take(2000)}")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"),
      s"expected an equi bucket join on (tbl, sig):\n${p.take(2000)}")
  }

  test("dd_boilerplate: the hot-set strip is a broadcast anti-join, never a shuffle") {
    val p = plan(graft.ops.Dedup.ddBoilerplate(TestSpark.spark, TestSpark.Sf0001))
    // the boilerplate set is vocabulary-sized (chunks crossing the doc
    // floor), so the strip must ship IT to the chunks, not shuffle the
    // corpus-sized chunk stream against it
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"hot-set strip must be a broadcast anti-join:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"strip degraded to a product:\n${p.take(2000)}")
  }

  test("samp_stratified: rank and stratum size share ONE stratum-keyed exchange") {
    val p = plan(graft.ops.Sampling.sampStratified(TestSpark.spark, TestSpark.Sf0001))
    // both window functions partition on (lang, source): Catalyst must
    // stack the Window nodes over a single hash exchange — a second
    // corpus-sized exchange would double the operator's shuffle cost
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"expected exactly one stratum-keyed exchange:\n${p.take(2000)}")
  }

  test("dd_contamination_bloom: the bloom probe is a Filter below the confirm join") {
    val p = plan(graft.ops.Dedup.ddContaminationBloom(TestSpark.spark, TestSpark.Sf0001))
    val probeAt = p.toLowerCase.indexOf("bloomcontains")
    assert(probeAt >= 0, s"bloom probe missing from the plan:\n${p.take(2000)}")
    val joinAt = p.indexOf("BroadcastHashJoin")
    assert(joinAt >= 0, "exact-confirm join must broadcast the benchmark side")
    // executedPlan prints operators top-down (join above its inputs), so
    // probe-below-join means the probe's offset is AFTER the join's: the
    // filter runs in the scan stage, upstream of the join
    assert(probeAt > joinAt,
      "bloom probe must sit under the join (map-side, in the corpus scan stage)")
  }

  /** A raw-layer-shaped Hive-partitioned table for the pruning pins. */
  private lazy val partitionedRawDir: String = {
    val spark = TestSpark.spark
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-prune-")
      .resolve("raw").toString
    (0 until 3).foreach { run =>
      (0 until 200).map(i => (i.toLong, s"v-$run-$i")).toDF("id", "payload")
        .withColumn("ETL_PART_KEY",
          org.apache.spark.sql.functions.lit(s"2026010${run + 1}000000"))
        .write.partitionBy("ETL_PART_KEY").mode("append").parquet(dir)
    }
    dir
  }

  /** Reads the raw layer the way [[graft.jobs.PreparedLayerJob]] does:
    * explicit schema, because partition discovery would type-infer the
    * all-digit run id as bigint — and a bigint partition column defeats
    * both pins below (the string predicate needs a cast that can't prune,
    * and the join key needs a cast that blocks DPP). */
  private def readRaw(spark: org.apache.spark.sql.SparkSession) = {
    import org.apache.spark.sql.types._
    spark.read.schema(new StructType()
        .add("id", LongType).add("payload", StringType)
        .add("ETL_PART_KEY", StringType))
      .parquet(partitionedRawDir)
  }

  test("raw layer: a literal ETL_PART_KEY predicate prunes partitions at planning time") {
    val spark = TestSpark.spark
    val df = readRaw(spark)
      .filter(org.apache.spark.sql.functions.col("ETL_PART_KEY") === "20260102000000")
    val p = plan(df)
    val pf = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("20260102000000"),
      s"run-id predicate must land in PartitionFilters, not a data Filter: $pf")
    // the physical proof: the scan's numFiles metric after execution counts
    // only the selected partition's files (Dataset.inputFiles can't show
    // this — it lists the relation's whole file index, pre-pruning)
    val expected = new java.io.File(s"$partitionedRawDir/ETL_PART_KEY=20260102000000")
      .listFiles().count(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
    val totalFiles = new java.io.File(partitionedRawDir).listFiles()
      .filter(_.isDirectory).map(_.listFiles().length).sum
    df.collect()
    val scan = df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    val read = scan.metrics("numFiles").value
    assert(read == expected && read < totalFiles,
      s"scan read $read files; expected only the $expected files of the selected run (table has $totalFiles)")
  }

  test("raw layer: joining on ETL_PART_KEY installs dynamic partition pruning") {
    // the 100 TB promotion/audit shape: fact side is the partitioned raw
    // table, the run ids to touch come from a (filtered) control-plane
    // side — DPP must narrow the fact scan to those runs at runtime
    // instead of scanning every run ever ingested
    val spark = TestSpark.spark
    import spark.implicits._
    val fact = readRaw(spark)
    // the control-plane side must be file-backed: a local in-memory
    // relation gets its Filter constant-folded into the LocalTableScan,
    // and DPP's "selective filter on the pruning side" detection needs
    // the Filter node to survive optimization
    val runsDir = java.nio.file.Files.createTempDirectory("graft-runs-").toString
    Seq(("20260102000000", "PENDING"), ("20260103000000", "DONE"))
      .toDF("run_id", "state").write.mode("overwrite").parquet(runsDir)
    val runs = spark.read.parquet(runsDir)
    val q = fact.join(
      org.apache.spark.sql.functions.broadcast(
        runs.filter(org.apache.spark.sql.functions.col("state") === "PENDING")),
      org.apache.spark.sql.functions.col("ETL_PART_KEY") ===
        org.apache.spark.sql.functions.col("run_id"))
    val p = plan(q)
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"expected a dynamicpruning partition filter on the fact scan:\n${p.take(2000)}")
  }

  test("emb_gram: dim² fan-out stays below a map-side partial aggregate") {
    val p = plan(graft.ops.Embeddings.embGram(TestSpark.spark, TestSpark.Sf0001))
    // two chained generators produce the (i, j) pairs inside the scan stage
    assert("Generate".r.findAllIn(p).size >= 2,
      s"expected two generators for the pair fan-out:\n${p.take(1500)}")
    // partial+final pair: the exchange carries aggregated (i,j) cells,
    // never the generated pair stream
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final HashAggregate in:\n${p.take(1500)}")
    // below the BOTTOM (partial) aggregate sit the generators and the
    // scan with no exchange between — the pair stream never shuffles
    val belowPartial = p.substring(p.lastIndexOf("HashAggregate") + 1)
    assert(belowPartial.contains("Generate") && !belowPartial.contains("Exchange"),
      s"the generated pairs must partial-aggregate before any exchange:\n" +
        s"${belowPartial.take(800)}")
  }

  test("ev_gapfill: the spine join is broadcast — nothing corpus-sized shuffles for it") {
    val p = plan(graft.ops.Events.evGapfill(TestSpark.spark, TestSpark.Sf0001))
    assert(p.contains("BroadcastHashJoin"),
      s"calendar-spine zero-fill must broadcast a control-plane side:\n${p.take(1500)}")
    assert(!p.contains("SortMergeJoin"),
      "a sort-merge join here would shuffle both sides of a calendar-sized join")
  }

  test("session confs do not leak across queries: q39/q40 in both orders") {
    val spark = TestSpark.spark
    // catalog mounts made before the queries (other suites share the
    // session) are not theirs; only keys the queries add count
    def setKeys: Set[String] = spark.conf.getAll.keys.toSet
    val mountedBefore = setKeys.filter(_.startsWith("spark.sql.catalog."))
    def leaked: Seq[String] = (setKeys -- mountedBefore).toSeq.sorted
      .filter(k => k == "spark.sql.sources.v2.bucketing.enabled" ||
        k.startsWith("spark.sql.catalog."))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq
    // order A: runtime-pruned star join, then the SPJ query (which
    // needs v2.bucketing at physical planning — scoped to its derived
    // session, never the caller's)
    val a39 = rows(Relational.q39LogRuntimePrune(spark, TestSpark.Sf0001))
    val a40 = rows(Relational.q40LogSpj(spark, TestSpark.Sf0001))
    assert(leaked.isEmpty, s"confs leaked onto the caller session: $leaked")
    // order B: reversed — identical results either way
    val b40 = rows(Relational.q40LogSpj(spark, TestSpark.Sf0001))
    val b39 = rows(Relational.q39LogRuntimePrune(spark, TestSpark.Sf0001))
    assert(a39 == b39 && a40 == b40,
      "query results must be independent of execution order")
    assert(leaked.isEmpty, s"confs leaked onto the caller session: $leaked")
    // and the SPJ itself survives the scoping: with broadcast disabled
    // on the derived session, the co-bucketed join still plans with no
    // shuffle below it (the GROUP BY/ORDER BY exchanges above the join
    // are legitimate; StoragePartitionJoinSpec pins the mechanism)
    val s40 = Relational.q40LogSpj(spark, TestSpark.Sf0001).sparkSession
    val prev = s40.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    s40.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan(Relational.q40LogSpj(spark, TestSpark.Sf0001))
      val joinAt = p.indexOf("SortMergeJoin")
      assert(joinAt >= 0,
        s"expected a sort-merge join with broadcast off:\n${p.take(1200)}")
      assert(!p.substring(joinAt).contains("Exchange"),
        s"the storage-partitioned join must plan shuffle-free below the " +
          s"join:\n${p.substring(joinAt).take(1200)}")
    } finally prev match {
      case Some(v) => s40.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
      case None    => s40.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }
}
