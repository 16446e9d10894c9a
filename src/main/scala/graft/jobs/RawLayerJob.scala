package graft.jobs

import graft.config.PipelineConfig
import graft.ledger.{RunLedger, RunRecord, RunState}
import graft.sources.SourceReader
import org.apache.spark.sql.{Column, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** Metrics returned by a layer job run (the data the reference folds into
  * its audit item, reference: glue src/raw_layer_job.py:196-204). */
final case class JobMetrics(runId: String, rows: Long, path: String)

/** Raw-layer ingestion: source snapshot → audit-stamped snappy parquet
  * under a run-partitioned prefix → ledger append.
  *
  * Spark-native equivalent of the reference raw job
  * (reference: glue src/raw_layer_job.py:103-210):
  *   1. read the snapshot (JDBC subquery or parquet stand-in),
  *   2. extend with the audit column `ETL_PART_KEY = runId`
  *      (reference: glue src/raw_layer_job.py:53),
  *   3. write snappy parquet, the audit column inside the file as the
  *      reference's is, into the run's directory
  *      `{rawRoot}/{rawFolder}/ETL_PART_KEY={runId}/`
  *      (reference: glue src/raw_layer_job.py:156-167),
  *   4. append `RAW COMPLETED` to the ledger
  *      (reference: glue src/raw_layer_job.py:177-210).
  *
  * The run's files are the exact files the prepared layer needs:
  * promotion copies them byte for byte ([[PreparedLayerJob.promote]]),
  * so each row is encoded to parquet once per cycle. Two things make a
  * raw file the file a staged append of the same rows would land:
  * `TimestampType` columns write as TIMESTAMP_MICROS
  * ([[graft.table.SnapshotLog.microsTimestamps]], the helper every
  * staged write calls), and the audit column is an optional string.
  *
  * Reading the raw prefix: each run directory is self-describing — read
  * it on its own (`spark.read.parquet(cfg.rawRunPath(runId))`) and
  * `ETL_PART_KEY` comes from the files, as the string it was written
  * as. A generic read of the whole prefix
  * (`spark.read.parquet(cfg.rawTablePath)`) instead takes the column from
  * the `ETL_PART_KEY=` directory names and type-infers it: all-digit run
  * ids become `decimal(20,0)` (or an integer type), leading zeros are
  * lost, and a string equality such as `ETL_PART_KEY = '2024…'` then
  * compares as double — 20-digit ids that differ past double precision
  * all match. Read the whole prefix with
  * `spark.sql.sources.partitionColumnTypeInference.enabled=false` (or an
  * explicit schema declaring `ETL_PART_KEY string`) to keep run ids
  * strings.
  *
  * Scale/perf notes (100 TB design):
  *  - The reference scans the source twice — an uncached `count()` then the
  *    write re-executes the JDBC read (reference: glue src/raw_layer_job.py:158
  *    vs :164-167). We scan ONCE, and the audit count rides the write
  *    itself: an `Observation` counts the rows the write job wrote, so no
  *    read-back or footer job follows it. The count still describes what
  *    actually landed, which is the stronger audit semantics (SURVEY §7.5).
  *  - Writing straight into the run's directory in overwrite mode keeps
  *    re-running one runId idempotent without touching sibling runs.
  *  - An empty snapshot is a run like any other: it records
  *    `RAW COMPLETED` with 0 rows and lands no files (the empty part file
  *    a write of no rows leaves is removed with its directory); promotion
  *    then records it `PREPARED COMPLETED` with 0 (see
  *    [[PreparedLayerJob.promote]]).
  *  - Failure policy matches the reference: any exception propagates before
  *    the ledger append, so a failed run is invisible downstream
  *    (reference: glue src/raw_layer_job.py:58-60).
  */
object RawLayerJob {
  val JobName = "raw_layer_job"

  /** The audit column's name, in every raw and prepared file. */
  val AuditKey = "ETL_PART_KEY"

  /** The audit column's value for one run: the run id as an optional
    * string, so the file field is OPTIONAL like the rest of a staged
    * write's fields (a plain literal would write it REQUIRED). */
  private[graft] def auditValue(runId: String): Column =
    org.apache.spark.sql.GraftBridge.toCol(graft.functions.OptionalValue(
      org.apache.spark.sql.catalyst.expressions.Literal(runId)))

  def run(spark: SparkSession, cfg: PipelineConfig, source: SourceReader,
      ledger: RunLedger, runId: String): JobMetrics = {
    val path = cfg.rawRunPath(runId)
    val snapshot = graft.table.SnapshotLog.microsTimestamps(
      source.read(spark).withColumn(AuditKey, auditValue(runId)))
    // a per-write unique name: an Observation name is bound once per plan
    val obs = new Observation(s"graft_raw_${java.util.UUID.randomUUID()}")
    snapshot.observe(obs, count(lit(1)).as("rows")).write
      .option("compression", "snappy")
      .mode("overwrite")
      .parquet(path)
    // audit count of the rows written, collected by the write job itself:
    // no re-scan of the source (fixes the reference's double-scan,
    // BASELINE.md) and no read-back of the run
    val rows = obs.get("rows").asInstanceOf[Long]
    if (rows == 0L) {
      val dir = new org.apache.hadoop.fs.Path(path)
      dir.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(dir, true)
    }
    ledger.append(RunRecord(
      partition_key = runId,
      job_src = cfg.jobSrc,
      state = RunState.RawCompleted,
      rawBucket = cfg.rawRoot,
      rawFolder = cfg.rawFolder,
      rawJobName = JobName,
      rawEntryCount = rows.toString))
    JobMetrics(runId, rows, path)
  }
}
