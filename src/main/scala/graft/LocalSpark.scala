package graft

import org.apache.spark.sql.SparkSession

/** The one local-session setup of graft's mains and test suites: `cpus`
  * local cores and as many shuffle partitions, UTC session time, the
  * events fixture's TIMESTAMP(NANOS) read as long, no web UI. Callers
  * add their own confs, master or app name to the builder. */
object LocalSpark {
  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  /** `SPARK_GRAFT_CPUS`, else `default`. */
  def envCpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)
}
