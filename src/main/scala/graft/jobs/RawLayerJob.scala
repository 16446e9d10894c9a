package graft.jobs

import graft.config.PipelineConfig
import graft.ledger.{RunLedger, RunRecord, RunState}
import graft.sources.SourceReader
import org.apache.spark.sql.{Observation, SparkSession}
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
  *   3. write snappy parquet to `{rawRoot}/{rawFolder}/{runId}/`
  *      (reference: glue src/raw_layer_job.py:156-167),
  *   4. append `RAW COMPLETED` to the ledger
  *      (reference: glue src/raw_layer_job.py:177-210).
  *
  * Scale/perf notes (100 TB design):
  *  - The reference scans the source twice — an uncached `count()` then the
  *    write re-executes the JDBC read (reference: glue src/raw_layer_job.py:158
  *    vs :164-167). We scan ONCE, and the audit count rides the write
  *    itself: an `Observation` counts the rows the write job wrote, so no
  *    read-back or footer job follows it. The count still describes what
  *    actually landed, which is the stronger audit semantics (SURVEY §7.5).
  *  - An empty snapshot is a run like any other: it records
  *    `RAW COMPLETED` with 0 rows and lands no files (a dynamic-partition
  *    write of no rows creates no partition directory); promotion then
  *    records it `PREPARED COMPLETED` with 0 (see
  *    [[PreparedLayerJob.promote]]).
  *  - Failure policy matches the reference: any exception propagates before
  *    the ledger append, so a failed run is invisible downstream
  *    (reference: glue src/raw_layer_job.py:58-60).
  */
object RawLayerJob {
  val JobName = "raw_layer_job"

  def run(spark: SparkSession, cfg: PipelineConfig, source: SourceReader,
      ledger: RunLedger, runId: String): JobMetrics = {
    val path = cfg.rawRunPath(runId)
    val snapshot = source.read(spark)
      .withColumn("ETL_PART_KEY", lit(runId))
    // Hive-style partitionBy on the audit key (SURVEY §4): downstream
    // reads of the stable raw prefix get partition pruning on
    // ETL_PART_KEY for free. Dynamic overwrite keeps re-running one
    // runId idempotent without clobbering sibling runs.
    // a per-write unique name: an Observation name is bound once per plan
    val obs = new Observation(s"graft_raw_${java.util.UUID.randomUUID()}")
    snapshot.observe(obs, count(lit(1)).as("rows")).write
      .option("compression", "snappy")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("ETL_PART_KEY")
      .mode("overwrite")
      .parquet(cfg.rawTablePath)
    // audit count of the rows written, collected by the write job itself:
    // no re-scan of the source (fixes the reference's double-scan,
    // BASELINE.md) and no read-back of the run
    val rows = obs.get("rows").asInstanceOf[Long]
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
