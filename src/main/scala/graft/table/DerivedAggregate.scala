package graft.table

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, count, hll_sketch_agg,
  hll_sketch_estimate, hll_union_agg, lit, max, min, sum, when}

/** One maintained column of a [[DerivedAggregate]]: `out` is the column
  * name in the derived table, `fn` the aggregate (`count` | `sum` |
  * `min` | `max` | `approx_distinct`), `in` the base-table input column
  * (ignored for `count`). Only DECOMPOSABLE aggregates belong here —
  * ones whose partial states merge associatively (count merges by sum,
  * sum by sum, min by min, max by max, `approx_distinct` by
  * Datasketches HLL union — the stored state IS the binary sketch, with
  * [[AggCol.estimate]] composing the cardinality at read time) —
  * because incremental maintenance IS partial aggregation: the delta's
  * partial folds into the stored state without touching base rows
  * already consumed. `avg` is `sum`+`count` composed at read time;
  * exact `count distinct` is NOT decomposable (its state is the value
  * set) and is rejected at construction — `approx_distinct` is its
  * maintained form, the "distinct users per key" rollup at 100 TB. */
final case class AggCol(out: String, fn: String, in: String = "") {
  require(Set("count", "sum", "min", "max", "approx_distinct",
    "approx_median")(fn),
    s"'$fn' is not a decomposable aggregate " +
      "(count/sum/min/max/approx_distinct/approx_median)")

  /** The aggregate over raw base rows (the delta's partial).
    * `approx_median` state is a Datasketches KLL quantile sketch over
    * the DOUBLE reading of the input (the p50-latency-per-key rollup
    * shape; other quantiles read from the same stored sketch via
    * `kll_sketch_get_quantile_double`). */
  private[table] def partial: Column = (fn match {
    case "count"           => count(lit(1))
    case "sum"             => sum(col(in))
    case "min"             => min(col(in))
    case "max"             => max(col(in))
    case "approx_distinct" => hll_sketch_agg(col(in))
    case "approx_median"   =>
      org.apache.spark.sql.functions.kll_sketch_agg_double(
        col(in).cast("double"))
  }).as(out)

  /** The merge of already-partial states (stored row ∪ delta partial). */
  private[table] def merge: Column = (fn match {
    case "count" | "sum"   => sum(col(out))
    case "min"             => min(col(out))
    case "max"             => max(col(out))
    case "approx_distinct" => hll_union_agg(col(out))
    case "approx_median"   =>
      org.apache.spark.sql.functions.kll_merge_agg_double(col(out))
  }).as(out)

  /** The read-time surface of the stored state — the cardinality /
    * median estimate for a sketch column, the value itself otherwise. */
  def estimate: Column = fn match {
    case "approx_distinct" => hll_sketch_estimate(col(out)).as(out)
    case "approx_median"   =>
      org.apache.spark.sql.functions.kll_sketch_get_quantile_double(
        col(out), lit(0.5d)).as(out)
    case _                 => col(out)
  }

  /** The SIGNED partial over row-level change rows (`_change_type` =
    * 'insert' | 'delete'): inserts add, deletes subtract — the CDC fold
    * for the SUBTRACTABLE aggregates only (count/sum form a group under
    * addition; min/max do not — a deleted extremum's replacement is not
    * derivable from stored state, which is why the mixed case recomputes
    * touched keys instead). The negation keeps the input column's exact
    * type (a decimal stays its declared precision — `* -1` would widen
    * and abort the derived table's schema check). */
  private[table] def signedPartial: Column = (fn match {
    case "count" => sum(when(col("_change_type") === "insert", 1L).otherwise(-1L))
    case "sum"   => sum(when(col("_change_type") === "insert", col(in))
      .otherwise(-col(in)))
    case other => throw new IllegalStateException(
      s"'$other' has no signed partial (not subtractable)")
  }).as(out)
}

/** An incrementally-maintained aggregate table (materialized rollup)
  * over a [[SnapshotLog]] base table: `derived` always equals
  * `base.groupBy(key).agg(...)` as of some base version, and
  * [[refresh]] advances it by folding ONLY the base's change feed since
  * the last refresh — O(new data) + O(touched keys), never a base
  * rescan. The downstream story that makes the change feed load-bearing:
  * at 100 TB a nightly dashboard rollup or per-domain corpus accounting
  * recomputed from scratch costs a full-table shuffle per refresh;
  * maintained through the feed it costs one pass over the day's appends.
  *
  * Exactly-once without a side cursor: the base version consumed is
  * recorded in the DERIVED table's own `txns` watermark (lane
  * `derive:<base dir>`) inside the very commit that applies the delta —
  * [[SnapshotLog.mergeByKey]]'s `txn` parameter, the same contract
  * streaming ingestion and [[LogMirror]] ride. A crash between "applied"
  * and "recorded", a rerun, or two racing refreshers all converge: the
  * replay is detected inside the commit path and applies nothing.
  *
  * Change-commit policy (same as [[graft.streaming.LogChangeFeed]]):
  * row-preserving rewrites (`compact`/`cluster`/`zorder`) contribute no
  * delta and fold through silently. A row-REMOVING base commit
  * (`delete`/`merge`/`delete_keys`) folds through the ROW-LEVEL feed
  * ([[SnapshotLog.readChangeRows]]) when the base recorded change
  * images: subtractable aggregates (count/sum, with a count column to
  * detect vanished groups) fold by pure algebra — deletes subtract,
  * zero-count keys drop; min/max force a targeted recompute of just the
  * touched keys. A removing commit WITHOUT images, or a `restore`,
  * still fails the refresh — [[fullRefresh]] is the resync: recompute
  * from the base's current snapshot and REPLACE the derived state,
  * re-anchoring the watermark.
  *
  * Scale shape: the delta partial is one map-side-combinable shuffle of
  * the new files only; the merge touches just the derived files holding
  * updated keys ([[SnapshotLog.mergeByKey]]'s per-key routing + stats/
  * bloom pruning), and the derived table is key-unique by construction
  * so it stays proportional to group cardinality, not corpus size.
  * NULL group keys are excluded (the merge's key routing requires
  * non-null keys; SQL GROUP BY would keep a NULL group — documented
  * divergence, matching what a partitioned rollup table can index). */
final class DerivedAggregate(base: SnapshotLog, derived: SnapshotLog,
    key: String, aggs: Seq[AggCol]) {
  require(aggs.nonEmpty, "a derived aggregate needs at least one AggCol")
  require(aggs.map(_.out).distinct.size == aggs.size,
    s"duplicate output columns: ${aggs.map(_.out)}")
  require(!aggs.exists(_.out == key), "an AggCol cannot shadow the group key")

  private val RowRemoving =
    Set("delete", "merge", "delete_keys", "update", "truncate", "overwrite",
      "replace_where")

  /** Whether removals fold ALGEBRAICALLY (pure subtraction, no base
    * read): every aggregate must be subtractable (count/sum) AND a
    * count column must exist — the count is what detects a VANISHED
    * group (stored + delta reaching zero rows ⇒ the derived row must
    * drop, as SQL GROUP BY would drop the group; a sum alone cannot
    * distinguish empty from summing-to-zero). Otherwise removals fall
    * back to a targeted recompute of just the touched keys. */
  private val algebraic =
    aggs.forall(a => a.fn == "count" || a.fn == "sum") &&
      aggs.exists(_.fn == "count")
  private val countOut = aggs.find(_.fn == "count").map(_.out)

  /** The change-feed lane this view consumes under — one watermark per
    * (base table, derived table) pair, stable across reruns. */
  private[table] def lane: String = s"derive:${base.tableDir}"

  /** The base version the derived state currently reflects (0 = never
    * refreshed). */
  def appliedVersion(): Long =
    if (derived.currentVersion() == 0) 0L
    else derived.snapshot().txns.getOrElse(lane, 0L)

  /** Fold every base commit since [[appliedVersion]] into the derived
    * table. Returns the new derived snapshot, or None when there was
    * nothing to apply (already current, or only physical rewrites
    * trailing the last append — re-walked and re-skipped by the next
    * refresh, the same harmless tail as [[LogMirror]]). */
  def refresh(): Option[Snapshot] = {
    val baseCur = base.currentVersion()
    val applied = appliedVersion()
    if (baseCur <= applied) return None
    val deltas = base.changes(applied, baseCur)
    val restores = deltas.filter(_.op == "restore")
    if (restores.nonEmpty) throw new IllegalStateException(
      s"base ${base.tableDir} v${restores.head.version} is a restore — " +
        "a rollback is not expressible as a change delta; resync with " +
        "fullRefresh()")
    if (deltas.exists(d => RowRemoving(d.op))) {
      // row-removing span: fold the ROW-LEVEL feed; a removing version
      // without recorded images (non-CDC base) keeps the old refusal,
      // with this rollup's own resync named
      val changeRows =
        try base.readChangeRows(applied, baseCur)
        catch { case e: IllegalStateException => throw new IllegalStateException(
          s"${e.getMessage}; resync this rollup with fullRefresh()") }
      return foldChangeRows(changeRows, baseCur)
    }
    // insert-only span: only append versions ship rows; a physical-
    // rewrite-only tail has nothing to fold (and an empty batch has no
    // keys to merge-route)
    if (!deltas.exists(d => d.op == "append" && d.addedFiles.nonEmpty))
      return None
    val partial = base.readChanges(applied, baseCur)
      .where(col(key).isNotNull)
      .groupBy(col(key)).agg(aggs.head.partial, aggs.tail.map(_.partial): _*)
    if (derived.currentVersion() == 0)
      derived.appendStream(partial, lane, baseCur)
    else {
      // merge = stored rows for touched keys ∪ delta partials, re-folded
      // with each aggregate's MERGE function; untouched keys never load
      val stored = derived.read()
        .join(partial.select(col(key)), Seq(key), "left_semi")
      val combined = stored.unionByName(partial)
        .groupBy(col(key)).agg(aggs.head.merge, aggs.tail.map(_.merge): _*)
      Some(derived.mergeByKey(combined, key, Some((lane, baseCur))))
    }
  }

  /** Fold a change span that REMOVES rows. Two paths:
    *  - all-subtractable + count declared: pure algebra — signed
    *    partials net inserts against deletes, merge with stored state,
    *    and a key whose count reaches zero DROPS from the derived table
    *    (via the merge-on-read key delete). No base read at all.
    *  - min/max present (or no count): targeted recompute — re-aggregate
    *    ONLY the touched keys from the base AT the pinned version
    *    (key-pruned via [[SnapshotLog.readKeysAt]] for bounded key sets),
    *    upsert them, drop vanished ones. O(touched keys' rows), never
    *    O(base).
    * Exactly-once across the two commits (key delete + merge): each
    * rides its own txns lane at the SAME base version; a crash between
    * them replays — the key delete is skipped by its watermark, the
    * merge applies, and the algebraic classifier counts an already-
    * deleted key's stored-less partial as still-vanished (<= 0), so the
    * rerun converges. */
  private def foldChangeRows(changeRows: DataFrame,
      baseCur: Long): Option[Snapshot] = {
    val keyed = changeRows.where(col(key).isNotNull)
    if (algebraic) {
      val partial = keyed
        .groupBy(col(key))
        .agg(aggs.head.signedPartial, aggs.tail.map(_.signedPartial): _*)
      val nOut = col(countOut.get)
      if (derived.currentVersion() == 0)
        return derived.appendStream(partial.where(nOut > 0), lane, baseCur)
      val stored = derived.read()
        .join(partial.select(col(key)), Seq(key), "left_semi")
      val combined = stored.unionByName(partial)
        .groupBy(col(key)).agg(aggs.head.merge, aggs.tail.map(_.merge): _*)
        .localCheckpoint(true) // feeds the vanish split + two commits
      try {
        derived.deleteKeys(key, combined.where(nOut <= 0).select(col(key)),
          Some((s"$lane#del", baseCur)))
        commitFold(combined.where(nOut > 0), baseCur)
      } finally combined.unpersist()
    } else {
      val touched = keyed.select(col(key)).distinct().localCheckpoint(true)
      try {
        // key-pruned base read when the touched set is bounded; the
        // version pin keeps a racing append out of this fold (it would
        // double-count at the next, watermark-advanced refresh)
        val keys = touched.limit(SnapshotLog.MergeRouteKeyCap.toInt + 1)
          .collect().map(_.get(0)).toSeq
        if (keys.isEmpty)
          // every change row was NULL-keyed — nothing this rollup
          // tracks changed; advance the watermark and stop
          return (if (derived.currentVersion() == 0) None
            else derived.appendStream(derived.read().limit(0), lane, baseCur))
        val touchedRows =
          if (keys.size <= SnapshotLog.MergeRouteKeyCap ||
              base.snapshot(baseCur).files.isEmpty)
            // ≤cap: key-pruned read; empty base (a truncate touched
            // every key): readKeysAt shapes the typed empty frame a
            // full read would refuse — every touched key then vanishes
            base.readKeysAt(baseCur, key, keys)
          else base.read(baseCur).join(touched, Seq(key), "left_semi")
        val fresh = touchedRows.where(col(key).isNotNull)
          .groupBy(col(key)).agg(aggs.head.partial, aggs.tail.map(_.partial): _*)
          .localCheckpoint(true)
        try {
          if (derived.currentVersion() == 0)
            return derived.appendStream(fresh, lane, baseCur)
          val vanished = touched
            .join(fresh.select(col(key)), Seq(key), "left_anti")
          derived.deleteKeys(key, vanished, Some((s"$lane#del", baseCur)))
          commitFold(fresh, baseCur)
        } finally fresh.unpersist()
      } finally touched.unpersist()
    }
  }

  /** Upsert the fold's surviving rows and advance the watermark — via
    * the merge when rows exist, via an empty exactly-once append when
    * every touched key vanished (the watermark must advance either way,
    * or the span would re-fold forever). The vanish step just before
    * this is a merge-on-read key delete, and [[SnapshotLog.mergeByKey]]
    * refuses to rewrite over pending tombstones (raw covered-file
    * rewrites would resurrect tombstoned rows) — so materialize them
    * first, exactly [[LogMirror]]'s rule for the same sequence. The
    * compact is derived-table-sized (a grouped rollup, not the base),
    * and a crash-rerun converges: the key delete replays as a no-op by
    * its watermark, any tombstones it DID leave still materialize here,
    * then the merge applies. */
  private def commitFold(rows: DataFrame, baseCur: Long): Option[Snapshot] =
    if (rows.isEmpty) derived.appendStream(rows, lane, baseCur)
    else {
      if (derived.snapshot().tombstones.nonEmpty) derived.compact()
      Some(derived.mergeByKey(rows, key, Some((lane, baseCur))))
    }

  /** Resync after a row-removing base commit: recompute the aggregate
    * from the base's CURRENT snapshot and commit it as a full rewrite of
    * the derived table, watermark re-anchored at that base version.
    * O(base) by construction — exactly the cost [[refresh]] avoids. */
  def fullRefresh(): Snapshot = {
    val baseCur = base.currentVersion()
    val full = base.read()
      .where(col(key).isNotNull)
      .groupBy(col(key)).agg(aggs.head.partial, aggs.tail.map(_.partial): _*)
    if (derived.currentVersion() == 0) {
      derived.appendStream(full, lane, baseCur)
        .getOrElse(derived.snapshot())
    } else {
      // replace-all merge: every stored key is either updated or, if it
      // vanished from the base, must drop — mergeByKey only upserts, so
      // stale keys are deleted first via the merge-on-read tombstone
      // path, then materialized by the merge's rewrite of covered files
      val liveKeys = full.select(col(key))
      val stale = derived.read().select(col(key))
        .join(liveKeys, Seq(key), "left_anti")
      derived.deleteKeys(key, stale)
      derived.compact()
      derived.mergeByKey(full, key, Some((lane, baseCur)))
    }
  }
}

object DerivedAggregate {
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.functions.pmod

  /** Once-per-JVM fixture for [[mvIncremental]]: the events table
    * committed as THREE appends (split on `user_id % 3`) with a
    * compaction between the second and third, and the derived rollup
    * REFRESHED AFTER EVERY APPEND — so the graded state is the product
    * of three genuine incremental folds (initial build, one merge, one
    * merge across a physical rewrite that must contribute nothing),
    * never a single recompute. Memoized like the feed fixture
    * ([[graft.streaming.LogChangeFeed]]). */
  private val mvFixtures =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def eventsRollup(spark: SparkSession, dir: String): String =
    mvFixtures.computeIfAbsent(dir, _ => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-mv-events-")
      val baseDir = tmp.resolve("base").toString
      val derivedDir = tmp.resolve("rollup").toString
      val events = graft.ops.Relational.events(spark, dir)
      val base = SnapshotLog(spark, baseDir)
      val mv = new DerivedAggregate(base, SnapshotLog(spark, derivedDir),
        "event_type", Seq(
          AggCol("n_events", "count"),
          AggCol("sum_value", "sum", "value_dec"),
          AggCol("min_value", "min", "value"),
          AggCol("max_value", "max", "value")))
      (0 until 3).foreach { slice =>
        base.append(events
          .withColumn("value_dec", col("value").cast("decimal(28,6)"))
          .where(pmod(col("user_id"), lit(3L)) === slice))
        if (slice == 1) base.rewrite("compact")(_.coalesce(1))
        mv.refresh()
      }
      derivedDir
    })

  /** Graded entry: the incrementally-maintained per-type rollup read
    * straight from the derived table — three change-feed folds deep.
    * The oracle recomputes the same aggregate from the raw events
    * table, so any drift in the partial/merge algebra, a double-folded
    * batch, a missed version, or a rewrite leaking rows into the feed
    * all hash-mismatch. The exact sum rides a decimal partial (stored
    * decimal, cast to double only at the graded edge) — incremental
    * folding must not inherit double addition's order dependence. */
  def mvIncremental(spark: SparkSession, dir: String): DataFrame = {
    val derivedDir = eventsRollup(spark, dir)
    SnapshotLog(spark, derivedDir).read()
      .select(col("event_type"), col("n_events"),
        col("sum_value").cast("double").as("sum_value"),
        col("min_value"), col("max_value"))
      .orderBy(col("event_type"))
  }

  def mvIncrementalOracle: String =
    """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
      |       CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value,
      |       min(value) AS min_value, max(value) AS max_value
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** Once-per-JVM fixture for [[mvIncrementalCdc]]: a CHANGE-FEED base
    * (three appends, rollup refreshed after each — the [[mvIncremental]]
    * history) that then takes TWO copy-on-write deletes — one dropping
    * an entire group (`event_type = 'error'`: the derived row must
    * VANISH) and one carving a value range out of every surviving group
    * — folded by ONE refresh(). min/max are among the maintained
    * aggregates, so the fold exercises the TARGETED-RECOMPUTE path: the
    * deleted extrema's replacements cannot come from stored state, only
    * from re-aggregating the touched keys (key-pruned, version-pinned).
    * The vanish + the recomputed extrema are exactly what the oracle
    * hash-checks. */
  private def eventsRollupCdc(spark: SparkSession, dir: String): String =
    mvFixtures.computeIfAbsent(s"cdc:$dir", _ => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-mv-cdc-")
      val baseDir = tmp.resolve("base").toString
      val derivedDir = tmp.resolve("rollup").toString
      val events = graft.ops.Relational.events(spark, dir)
      val base = SnapshotLog.withChangeFeed(spark, baseDir)
      val mv = new DerivedAggregate(base, SnapshotLog(spark, derivedDir),
        "event_type", Seq(
          AggCol("n_events", "count"),
          AggCol("sum_value", "sum", "value_dec"),
          AggCol("min_value", "min", "value"),
          AggCol("max_value", "max", "value")))
      (0 until 3).foreach { slice =>
        base.append(events
          .withColumn("value_dec", col("value").cast("decimal(28,6)"))
          .where(pmod(col("user_id"), lit(3L)) === slice))
        mv.refresh()
      }
      base.deleteWhere(("event_type", "error", "error"))
      base.deleteWhere(("value", 100.0, 200.0))
      mv.refresh()
      derivedDir
    })

  /** Graded entry: the rollup AFTER two folded copy-on-write deletes —
    * a whole-group drop (the derived 'error' row must be gone) and a
    * value-range carve-out (every group's count/sum/min/max must equal
    * a recompute over the survivors). Any unsubtracted row, stale
    * extremum, double-folded image, or surviving vanished key
    * hash-mismatches the oracle, which recomputes from the raw events
    * table under the same two delete predicates. */
  def mvIncrementalCdc(spark: SparkSession, dir: String): DataFrame = {
    val derivedDir = eventsRollupCdc(spark, dir)
    SnapshotLog(spark, derivedDir).read()
      .select(col("event_type"), col("n_events"),
        col("sum_value").cast("double").as("sum_value"),
        col("min_value"), col("max_value"))
      .orderBy(col("event_type"))
  }

  /** Once-per-JVM fixture for [[mvDistinct]]: the events table as THREE
    * user-disjoint appends with the rollup refreshed after every one —
    * so each graded sketch is the HLL UNION of three independently-built
    * partials (plus a count riding the same folds), never one
    * recompute. The sketch IS the stored state; only the estimate is
    * read. */
  private def eventsDistinctRollup(spark: SparkSession, dir: String): String =
    mvFixtures.computeIfAbsent(s"distinct:$dir", _ => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-mv-distinct-")
      val baseDir = tmp.resolve("base").toString
      val derivedDir = tmp.resolve("rollup").toString
      val events = graft.ops.Relational.events(spark, dir)
      val base = SnapshotLog(spark, baseDir)
      val mv = new DerivedAggregate(base, SnapshotLog(spark, derivedDir),
        "event_type", Seq(
          AggCol("n_events", "count"),
          AggCol("n_users", "approx_distinct", "user_id")))
      (0 until 3).foreach { slice =>
        base.append(events.where(pmod(col("user_id"), lit(3L)) === slice))
        mv.refresh()
      }
      derivedDir
    })

  /** Graded entry: incrementally-maintained DISTINCT-USER counts per
    * event type — the most common real rollup after plain counts, kept
    * fresh by merging Datasketches HLL sketches across three
    * change-feed folds (never re-reading consumed base rows; the union
    * is associative, which is the whole reason the sketch may live in
    * the manifest-committed derived table). At this cardinality (~150
    * users per type at sf0.01) the sketch is in exact sparse mode, so
    * the estimate hash-matches DuckDB's exact COUNT(DISTINCT) — the
    * oracle checks the merged state end-to-end, not an approximation
    * band. At 100 TB cardinalities the same plan degrades gracefully to
    * the documented ~2% HLL error instead of an unmergeable exact set. */
  def mvDistinct(spark: SparkSession, dir: String): DataFrame = {
    val derivedDir = eventsDistinctRollup(spark, dir)
    SnapshotLog(spark, derivedDir).read()
      .select(col("event_type"), col("n_events"),
        hll_sketch_estimate(col("n_users")).as("n_users"))
      .orderBy(col("event_type"))
  }

  /** Once-per-JVM fixture for [[mvMedian]]: the events table as three
    * user-disjoint appends, rollup refreshed after each — every graded
    * sketch is the KLL MERGE of three independently-built quantile
    * partials (plus a count riding the same folds). */
  private def eventsMedianRollup(spark: SparkSession, dir: String): String =
    mvFixtures.computeIfAbsent(s"median:$dir", _ => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-mv-median-")
      val baseDir = tmp.resolve("base").toString
      val derivedDir = tmp.resolve("rollup").toString
      val events = graft.ops.Relational.events(spark, dir)
      val base = SnapshotLog(spark, baseDir)
      val mv = new DerivedAggregate(base, SnapshotLog(spark, derivedDir),
        "event_type", Seq(
          AggCol("n_events", "count"),
          AggCol("p50_value", "approx_median", "value")))
      (0 until 3).foreach { slice =>
        base.append(events.where(pmod(col("user_id"), lit(3L)) === slice))
        mv.refresh()
      }
      derivedDir
    })

  /** Graded entry (rows-only — KLL quantile estimates are not
    * SQL-portable; DerivedAggregateSpec pins the merged estimate's RANK
    * in the exact per-key distribution): incrementally-maintained
    * per-event-type median — the p50-latency-per-key rollup, kept fresh
    * by MERGING Datasketches KLL sketches across three change-feed
    * folds instead of re-reading consumed base rows. The stored state
    * is the sketch; only the quantile estimate is read. At 100 TB
    * cardinalities the same plan holds with the documented ~1.7% KLL
    * rank error. */
  def mvMedian(spark: SparkSession, dir: String): DataFrame = {
    val derivedDir = eventsMedianRollup(spark, dir)
    val mv = Seq(AggCol("n_events", "count"),
      AggCol("p50_value", "approx_median", "value"))
    SnapshotLog(spark, derivedDir).read()
      .select(col("event_type") +: mv.map(_.estimate): _*)
      .orderBy(col("event_type"))
  }

  def mvDistinctOracle: String =
    """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
      |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  def mvIncrementalCdcOracle: String =
    """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
      |       CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value,
      |       min(value) AS min_value, max(value) AS max_value
      |FROM events
      |WHERE event_type <> 'error'
      |  AND NOT (value BETWEEN 100.0 AND 200.0)
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin
}
