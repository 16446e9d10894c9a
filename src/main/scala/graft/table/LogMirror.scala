package graft.table

import org.apache.hadoop.fs.Path

/** Incremental, exactly-once replication of one [[SnapshotLog]] table
  * into another, driven by the change feed — the downstream-consumer
  * story for the table format (a training cluster's local copy, a
  * cross-region replica, a dev snapshot that trails production).
  *
  * The design carries NO cursor state of its own: the destination's
  * `txns` watermark IS the cursor. Each source version applies as
  * `dst.appendStream(delta, appId, batchId = srcVersion)`, so the
  * replay check rides the same manifest CAS as the commit itself — a
  * crash between versions, a rerun of the whole mirror, or two racing
  * mirror invocations all converge: a version already applied is
  * detected inside the destination's commit loop and skipped. (This is
  * the same idempotence contract streaming ingestion uses; the mirror
  * is just another exactly-once writer.)
  *
  * Per-version semantics:
  *  - `append` — the version's delta files ship as one append; O(new
  *    data) read, never O(table). Source files are read BY NAME from
  *    the version that added them, so later source rewrites don't
  *    disturb a trailing mirror (the [[SnapshotLog.vacuum]] horizon
  *    bounds how far behind a mirror may fall — same contract as
  *    production change-data-feed retention).
  *  - `compact` / `cluster` / `zorder` — skipped: the source changed
  *    physically, not logically, and the mirror keeps its own layout
  *    (maintenance is per-replica — the replica may be clustered for a
  *    different workload than the source).
  *  - `delete_keys` — the tombstone's key file replays as
  *    `dst.deleteKeys` riding the same txns watermark, so GDPR-style
  *    deletes propagate without shipping any data AND exactly-once:
  *    a rerun skips an already-applied key delete inside the
  *    destination's commit path, just like a replayed append.
  *  - `delete` — on a feed-enabled source ([[ChangeSet]]) the recorded
  *    predicates REPLAY as `dst.deleteWhereTxn` riding the txns
  *    watermark: the replica deletes the same logical rows, pruned by
  *    its OWN stats/partitions, with zero rows shipped. A delete whose
  *    bounds were not manifest-encodable (rows-only images) or that
  *    predates feed enablement is refused — see below.
  *  - `merge` — replayed BY KEY on the recorded key column(s), same
  *    watermark, and only after one count shows the replica's rows
  *    under the images' keys are exactly the merge's pre-images (else
  *    refused — see below). On one key with no pure deletes the insert
  *    images replay as `dst.mergeByKey` (every row of each key
  *    replaced); otherwise ([[SnapshotLog.mergeClauses]] composite
  *    keys and/or matched-DELETE images with no paired post-image) as
  *    one `dst.mergeClauses` call: pure-delete keys carry a marker
  *    column and dispatch to a DELETE clause, every other image
  *    upserts. Either way the same pre-state yields the same
  *    post-state. O(batch) shipped, one replica scan for the count.
  *  - `update` — the recorded predicates + post-images replay as
  *    `dst.applyUpdate` on the lane watermark: the replica retires its
  *    own rows matching the predicates (exactly the source's
  *    pre-images when in sync — asserted via the matched-count check)
  *    and lands the shipped post-images. O(updated rows) shipped.
  *  - `truncate` / `overwrite` — replayed as the same verb on the
  *    replica (`dst.truncate` / `dst.overwriteAll`) riding the txns
  *    watermark: no images needed, the logical outcome is the verb.
  *  - `restore`, row-removing commits WITHOUT images, and merges that
  *    key replay cannot express (a clause merge that changed some rows
  *    of a key and kept others, a residual `ON` merge that inserted a
  *    key the target still held) — REFUSED (IllegalStateException): a
  *    rollback is not expressible as a change feed, a commit that
  *    recorded no images leaves the replica no sound way to find the
  *    removed rows, and replaying such a merge by key would collapse
  *    the key on the replica. The error names the version so the
  *    operator can resync from a full read.
  *
  * Single-writer assumption on the destination: the mirror is the only
  * logical writer (destination-local maintenance — compact/cluster —
  * is fine: it commutes with appends at the next CAS retry).
  */
object LogMirror {

  /** Source ops with nothing logical to ship: physical rewrites, and
    * the metadata-only spec evolution (the replica keeps its OWN
    * layout/spec — maintenance and partitioning are per-replica). */
  private val PhysicalOnly =
    Set("compact", "cluster", "zorder", "evolve_spec", "set_sort",
      "enable_feed",
      // a constraint-attach anchor: policy does not replicate (the
      // replica declares its own), and the commit moves no rows
      "policy")

  /** Apply every source version after the destination's watermark, in
    * order. `appId` identifies THIS replication lane in the
    * destination's `txns` map — keep it stable across reruns (default:
    * the source table path). Returns the number of source versions
    * walked beyond the destination's watermark this invocation. The
    * watermark advances only on appends, so physical-only versions
    * trailing the last source append are re-walked (and re-skipped,
    * costing one manifest read each) by a rerun — harmless by
    * construction. */
  def mirror(src: SnapshotLog, dst: SnapshotLog,
      appId: String = ""): Long = {
    val lane = if (appId.nonEmpty) appId else s"mirror:${src.tableDir}"
    val srcCur = src.currentVersion()
    if (srcCur == 0) return 0L
    val applied =
      if (dst.currentVersion() == 0) 0L
      else dst.snapshot().txns.getOrElse(lane, 0L)
    var newlyApplied = 0L
    ((applied + 1) to srcCur).foreach { v =>
      val s = src.snapshot(v)
      s.op match {
        case "append" =>
          // the version's delta, read by file name from the source log
          dst.appendStream(src.readChanges(v - 1, v), lane, v)
          newlyApplied += 1
        case op if PhysicalOnly(op) =>
          newlyApplied += 1 // nothing logical to ship
        case "rename" =>
          // metadata-only replay: the rename pair is recoverable from
          // the manifests themselves — diff the parent's schema against
          // this version's by field id (exactly one name changes per
          // rename commit)
          val from = src.snapshot(s.parent).schemaJson
          val (oldName, newName) = SnapshotLog.renamePairOf(from, s.schemaJson)
            .getOrElse(throw new IllegalStateException(
              s"cannot mirror ${src.tableDir} v$v: 'rename' with no " +
                "recoverable name pair"))
          // idempotent under re-walk (the lane watermark advances only
          // on appends): a replica that already renamed re-skips, like
          // the physical-only ops
          val dstHasOld = dst.currentVersion() > 0 &&
            SnapshotLog.hasPath(org.apache.spark.sql.types.DataType
              .fromJson(dst.snapshot().schemaJson)
              .asInstanceOf[org.apache.spark.sql.types.StructType],
              oldName.split('.').toSeq)
          // a nested pair's path segments agree (one rename per commit);
          // the replica renames the LEAF at the old path
          if (dstHasOld)
            dst.renameColumn(oldName, newName.split('.').last)
          newlyApplied += 1
        case "drop" =>
          // metadata-only replay, recovered like renames: the parent
          // epoch's fields absent (by field id) from this version's
          // schema are the dropped names; idempotent under re-walk
          // (a replica that already dropped no longer has the column)
          val from = src.snapshot(s.parent).schemaJson
          val gone = SnapshotLog.droppedNamesOf(from, s.schemaJson)
          if (gone.isEmpty) throw new IllegalStateException(
            s"cannot mirror ${src.tableDir} v$v: 'drop' with no " +
              "recoverable dropped field")
          val dstSchema =
            if (dst.currentVersion() == 0) None
            else Some(org.apache.spark.sql.types.DataType
              .fromJson(dst.snapshot().schemaJson)
              .asInstanceOf[org.apache.spark.sql.types.StructType])
          gone.filter(p => dstSchema.exists(s =>
            SnapshotLog.hasPath(s, p.split('.').toSeq)))
            .foreach(dst.dropColumn)
          newlyApplied += 1
        case "widen_type" =>
          // metadata-only replay: the widened (path, type) pairs are
          // recoverable by field-id diff; idempotent under re-walk (a
          // replica whose field already carries the wide type re-skips)
          val from = src.snapshot(s.parent).schemaJson
          if (dst.currentVersion() > 0) {
            val dstSchema = org.apache.spark.sql.types.DataType
              .fromJson(dst.snapshot().schemaJson)
              .asInstanceOf[org.apache.spark.sql.types.StructType]
            SnapshotLog.typeChangesOf(from, s.schemaJson)
              .filterNot { case (p, t) =>
                SnapshotLog.typeAtPath(dstSchema, p.split('.').toSeq)
                  .contains(t) }
              .foreach { case (p, t) => dst.widenColumnType(p, t) }
          }
          newlyApplied += 1
        case "widen" =>
          // metadata-only replay: declare the added columns on the
          // replica so a reader there sees the same schema even before
          // any post-widen append ships rows
          val from = src.snapshot(s.parent).schemaJson
          // an empty replica has no schema to widen yet — the first
          // replayed append carries the merged schema itself
          if (dst.currentVersion() > 0) {
            val dstSchema = org.apache.spark.sql.types.DataType
              .fromJson(dst.snapshot().schemaJson)
              .asInstanceOf[org.apache.spark.sql.types.StructType]
            SnapshotLog.addedFieldsOf(from, s.schemaJson)
              .filterNot { case (p, _) =>
                SnapshotLog.hasPath(dstSchema, p.split('.').toSeq) }
              .foreach { case (p, f) => dst.addColumn(p, f.dataType) }
          }
          newlyApplied += 1
        case "truncate" =>
          // rides the replica's own commit for exactly-once; the
          // replica's file set differs, the logical outcome (no rows)
          // is identical
          dst.truncate(Some((lane, v)))
          newlyApplied += 1
        case "overwrite" =>
          // the version's committed files ARE the new logical table —
          // replay as one atomic replace, O(version bytes) shipped
          val dataDir = new Path(src.tableDir, SnapshotLog.DataDirName)
          if (s.files.isEmpty) dst.truncate(Some((lane, v)))
          else dst.overwriteAll(src.session.read
            .schema(org.apache.spark.sql.types.DataType.fromJson(s.schemaJson)
              .asInstanceOf[org.apache.spark.sql.types.StructType])
            .parquet(s.files.map(f => new Path(dataDir, f).toString): _*),
            Some((lane, v)))
          newlyApplied += 1
        case "delete_keys" =>
          val parentTombs = snapshotTombstones(src, s.parent)
          // the one tombstone THIS version added over its parent
          s.tombstones.drop(parentTombs).foreach { t =>
            val keyFile = new Path(
              new Path(src.tableDir, SnapshotLog.DataDirName), t.file)
            dst.deleteKeys(t.column,
              src.session.read.parquet(keyFile.toString), Some((lane, v)))
          }
          newlyApplied += 1
        case "delete" if s.changes.exists(_.preds.nonEmpty) =>
          // predicate replay: same logical rows die on the replica,
          // pruned by ITS stats — nothing ships, and the watermark
          // rides the replica's own commit (exactly-once under rerun)
          materializePending(dst)
          dst.deleteWhereTxn(s.changes.get.preds.map(ChangePred.decode),
            Some((lane, v)))
          newlyApplied += 1
        case "delete" if s.changes.exists(_.predSql.nonEmpty) =>
          // GENERAL-predicate replay: the source validated the SQL text
          // round-trips at commit time; the replica re-evaluates the
          // same deterministic expression over its own rows (in-sync
          // invariant — same rows match), full counting planner
          materializePending(dst)
          dst.deleteWhereExpr(
            org.apache.spark.sql.functions.expr(s.changes.get.predSql),
            Nil, Some((lane, v)))
          newlyApplied += 1
        case "replace_where" if s.changes.exists(_.preds.nonEmpty) =>
          // predicate + insert-image replay: the replica replaces ITS
          // OWN region matching the predicates with the shipped batch,
          // one commit on the lane watermark — zero pre-image bytes
          materializePending(dst)
          val rcs = s.changes.get
          val rdataDir = new Path(src.tableDir, SnapshotLog.DataDirName)
          val batch =
            if (rcs.files.isEmpty)
              emptyFrame(src, s) // region emptied, nothing inserted
            else src.session.read
              .parquet(rcs.files.map(f => new Path(rdataDir, f).toString): _*)
              .where(org.apache.spark.sql.functions
                .col("_change_type") === "insert")
              .drop("_change_type")
          dst.overwriteWhere(rcs.preds.map(ChangePred.decode), batch,
            Some((lane, v)))
          newlyApplied += 1
        case "replace_where" if s.changes.exists(c =>
            c.keyColumn == SnapshotLog.DynamicOverwriteMarker &&
              c.files.nonEmpty) =>
          // DYNAMIC partition overwrite (no predicates recorded): the
          // swapped region is defined by the data's partition tuples,
          // so replay is sound only when the replica shares the
          // source's spec — otherwise the tuples name different rows
          materializePending(dst)
          val dcs = s.changes.get
          val dSpec =
            if (dst.currentVersion() == 0) Nil
            else dst.snapshot().partitionSpec
          if (dst.currentVersion() > 0 && dSpec != s.partitionSpec) {
            // the replica is behind a spec evolution (evolve_spec is
            // physical-only — replicas keep their own layout), so tuple
            // replay would name DIFFERENT rows. Converge automatically:
            // adopt the source's spec (tuple replays need spec
            // agreement from here on) and fold THIS version to a full
            // refresh of the source's state at v, riding the same lane
            // watermark — exactly the documented manual resync, without
            // the operator. One overwrite commit; later versions replay
            // incrementally as usual.
            dst.evolvePartitionSpec(s.partitionSpec)
            dst.overwriteAll(src.read(v), txn = Some((lane, v)))
          } else if (dst.currentVersion() > 0 && {
            // crash-window recovery: a replay that died BETWEEN the
            // spec adoption above and its overwriteAll leaves the
            // replica's spec equal to the source's while its files
            // still carry the OLD spec — tuple replay would throw the
            // evolution-debt error and wedge the mirror. Detect the
            // per-file debt and take the same full refresh the
            // interrupted convergence was doing (idempotent on the
            // lane watermark).
            val dSnap = dst.snapshot()
            dSnap.files.exists(f => dSnap.specOf(f) != dSnap.partitionSpec)
          }) {
            dst.overwriteAll(src.read(v), txn = Some((lane, v)))
          } else {
            val ddataDir = new Path(src.tableDir, SnapshotLog.DataDirName)
            val dBatch = src.session.read
              .parquet(dcs.files.map(f => new Path(ddataDir, f).toString): _*)
              .where(org.apache.spark.sql.functions
                .col("_change_type") === "insert")
              .drop("_change_type")
            dst.overwritePartitions(dBatch, Some((lane, v)))
          }
          newlyApplied += 1
        case "replace_where" if s.changes.exists(c =>
            c.keyColumn.isEmpty && c.preds.isEmpty &&
              c.deletedDataFiles.isEmpty) =>
          // STATIC replace_where whose predicates were not manifest-
          // encodable but whose delete half provably dropped nothing
          // whole (no files by reference). Straddling rewrites would
          // still image deletes, so verify the images are insert-only
          // before replaying as a plain append; any delete image means
          // real removals behind unencodable bounds — the replica has
          // no sound way to find those rows, refuse with the resync
          // contract.
          val acs = s.changes.get
          if (acs.files.isEmpty)
            dst.appendStream(emptyFrame(src, s), lane, v)
          else {
            import org.apache.spark.sql.functions.col
            val adataDir = new Path(src.tableDir, SnapshotLog.DataDirName)
            val img = src.session.read.parquet(
              acs.files.map(f => new Path(adataDir, f).toString): _*)
            if (img.where(col("_change_type") === "delete")
                .limit(1).collect().nonEmpty)
              throw new IllegalStateException(
                s"cannot mirror ${src.tableDir} v$v: a region overwrite " +
                  "removed rows under predicate bounds the manifest " +
                  "cannot encode — the replica cannot locate its copies " +
                  "of the removed rows; resync the replica from a full " +
                  "read of the source")
            dst.appendStream(img.where(col("_change_type") === "insert")
              .drop("_change_type"), lane, v)
          }
          newlyApplied += 1
        case "update" if s.changes.exists(c =>
            c.preds.nonEmpty && c.files.nonEmpty) =>
          // predicate + post-image replay: the replica retires its OWN
          // rows matching the predicates (exactly the source's
          // pre-images, by the in-sync invariant — asserted inside
          // applyUpdate via the matched == post-image count check) and
          // lands the shipped post-images, one commit on the lane
          // watermark. O(updated rows) shipped, zero pre-image bytes.
          materializePending(dst)
          val ucs = s.changes.get
          val udataDir = new Path(src.tableDir, SnapshotLog.DataDirName)
          val posts = src.session.read
            .parquet(ucs.files.map(f => new Path(udataDir, f).toString): _*)
            .where(org.apache.spark.sql.functions.col("_change_type") === "insert")
            .drop("_change_type")
          dst.applyUpdate(ucs.preds.map(ChangePred.decode), posts,
            Some((lane, v)))
          newlyApplied += 1
        case "update" if s.changes.exists(c =>
            c.predSql.nonEmpty && c.files.nonEmpty) =>
          // general-predicate update: recorded SQL text + post-images,
          // same matched == post-image count assertion inside
          materializePending(dst)
          val xcs = s.changes.get
          val xdataDir = new Path(src.tableDir, SnapshotLog.DataDirName)
          val xposts = src.session.read
            .parquet(xcs.files.map(f => new Path(xdataDir, f).toString): _*)
            .where(org.apache.spark.sql.functions.col("_change_type") === "insert")
            .drop("_change_type")
          dst.applyUpdateExpr(
            org.apache.spark.sql.functions.expr(xcs.predSql), xposts,
            Some((lane, v)))
          newlyApplied += 1
        case "merge" if s.changes.exists(_.keyColumn.nonEmpty) =>
          val cs = s.changes.get
          if (cs.files.isEmpty) {
            // a merge whose update batch staged zero image rows (empty
            // batch) changed nothing logically — advance the watermark
            // with an empty exactly-once append instead of refusing,
            // which would wedge the replica at this version forever
            dst.appendStream(emptyFrame(src, s), lane, v)
          } else {
            materializePending(dst)
            import org.apache.spark.sql.functions.{col, lit, not}
            val ks = cs.keyColumn.split(",").toSeq
            val dataDir = new Path(src.tableDir, SnapshotLog.DataDirName)
            val img = src.session.read
              .parquet(cs.files.map(f => new Path(dataDir, f).toString): _*)
              // the update-pair tag is feed-internal; replay keys off
              // _change_type alone (drop is lenient when untagged)
              .drop(SnapshotLog.PairCol)
            requireKeyReplayable(src, dst, v, lane, img, ks)
            val inserts = img.where(col("_change_type") === "insert")
              .drop("_change_type")
            // pure deletes = delete images whose key has NO post-image —
            // only clause merges produce them (mergeByKey images deletes
            // solely for replaced keys)
            val pureDel = img.where(col("_change_type") === "delete")
              .select(ks.map(col): _*).distinct()
              .join(inserts.select(ks.map(col): _*).distinct(), ks, "left_anti")
            if (ks.size == 1 && pureDel.limit(1).collect().isEmpty) {
              // the insert images ARE the source's key-unique update
              // batch; upserting them against identical pre-state
              // reproduces the source's post-state exactly
              dst.mergeByKey(inserts, cs.keyColumn, Some((lane, v)))
            } else {
              // clause-merge replay: one dst.mergeClauses call — marked
              // pure-delete keys dispatch to a DELETE clause, everything
              // else upserts whole-row. A pure delete with a NULL key
              // component is key-unaddressable (SQL equality never
              // matches NULL) — refuse with the resync contract.
              if (pureDel.where(ks.map(col(_).isNull).reduce(_ || _))
                  .limit(1).collect().nonEmpty)
                throw new IllegalStateException(
                  s"cannot mirror ${src.tableDir} v$v: a merge deleted " +
                    "rows with NULL key components — key-based replay " +
                    "cannot address them; resync the replica from a full read")
              val marker = "__graft_mirror_del"
              val srcRep = inserts.withColumn(marker, lit(false))
                .unionByName(pureDel.withColumn(marker, lit(true)),
                  allowMissingColumns = true)
              val SP = SnapshotLog.MergeSrcPrefix
              val whole = inserts.columns.toSeq.map(c => c -> col(SP + c))
              dst.mergeClauses(srcRep, ks.map(k => (k, k)),
                matched = Seq(
                  MergeWhen(Some(col(SP + marker)), "delete"),
                  MergeWhen(None, "update", whole)),
                notMatched = Seq(
                  MergeWhen(Some(not(col(SP + marker))), "insert", whole)),
                txn = Some((lane, v)))
            }
          }
          newlyApplied += 1
        case other =>
          throw new IllegalStateException(
            s"cannot mirror ${src.tableDir} v$v: op '$other' carries no " +
              "replayable change images (restore rolls the table back; a " +
              "delete/merge recorded without changeFeed enabled — or with " +
              "bounds a manifest cannot encode — leaves the replica no " +
              "sound way to find the removed rows) — resync the replica " +
              "from a full read of the source")
      }
    }
    newlyApplied
  }

  /** Key replay (a whole-key replace, or a whole-row upsert on the
    * images' keys) reproduces a merge only when the replica's rows
    * under the keys of the change set's images are exactly the merge's
    * pre-images. A clause merge that changed some rows of a key and
    * left others, or a residual `ON` merge that inserted a key the
    * target still held, fails that count and is refused with the resync
    * contract, instead of collapsing the key on the replica. NULL keys
    * match nothing on either side (a NULL-key pre-image is refused as
    * key-unaddressable below). Skipped once the lane already holds `v`
    * (a racing mirror applied it). One scan of the replica. */
  private def requireKeyReplayable(src: SnapshotLog, dst: SnapshotLog,
      v: Long, lane: String, img: org.apache.spark.sql.DataFrame,
      ks: Seq[String]): Unit = {
    import org.apache.spark.sql.functions.col
    if (dst.currentVersion() > 0 &&
        dst.snapshot().txns.get(lane).exists(_ >= v)) return
    val pre = img.where(col("_change_type") === "delete").na.drop(ks).count()
    val held =
      if (dst.currentVersion() == 0) 0L
      else dst.read().join(img.select(ks.map(col): _*).distinct(), ks,
        "left_semi").count()
    if (held != pre) throw new IllegalStateException(
      s"cannot mirror ${src.tableDir} v$v: the replica holds $held rows " +
        s"under the merge's keys but the merge has $pre pre-images — key " +
        "replay would change rows the source kept; resync the replica " +
        "from a full read of the source")
  }

  private def snapshotTombstones(src: SnapshotLog, version: Long): Int =
    if (version == 0) 0 else src.snapshot(version).tombstones.size

  /** A zero-row frame under source version `s`'s committed schema — the
    * payload of a watermark-only advance (nothing to replay, but the
    * replica's `txns` cursor must still move past the version). */
  private def emptyFrame(src: SnapshotLog,
      s: Snapshot): org.apache.spark.sql.DataFrame =
    if (s.schemaJson.nonEmpty)
      src.session.createDataFrame(
        src.session.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.DataType.fromJson(s.schemaJson)
          .asInstanceOf[org.apache.spark.sql.types.StructType])
    else src.read(s.version).limit(0) // pre-schema manifest: one footer

  /** Copy-on-write replays (predicate delete, merge) refuse to run over
    * pending key tombstones — their exact row accounting assumes
    * physical rows are logical rows. A replica that received MoR key
    * deletes therefore compacts first: destination-local maintenance,
    * allowed under the mirror's single-writer assumption and exactly
    * what the source itself would have had to do. No-op otherwise. */
  private def materializePending(dst: SnapshotLog): Unit =
    if (dst.currentVersion() > 0 && dst.snapshot().tombstones.nonEmpty)
      dst.compact()
}
