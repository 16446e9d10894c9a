package graft.ledger

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.types.StructType

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.format.DateTimeFormatter
import java.time.{Clock, ZoneId, ZonedDateTime}
import scala.jdk.CollectionConverters._

/** One run-ledger entry.
  *
  * Field-for-field the reference's DynamoDB audit item
  * (reference: glue src/raw_layer_job.py:196-204 for the raw item; the
  * intended promoted item at glue src/prepared_layer_job.py:189-204).
  * Every attribute is a string in the reference ({"S": ...}), including
  * counts — kept for fidelity. Prepared-side fields are empty until
  * promotion.
  */
final case class RunRecord(
    partition_key: String, // the run id / timestamp
    job_src: String,
    state: String,
    rawBucket: String,
    rawFolder: String,
    rawJobName: String,
    rawEntryCount: String,
    preparedBucket: String = "",
    preparedFolder: String = "",
    preparedJobName: String = "",
    preparedEntryCount: String = ""
)

object RunState {
  /** Raw load landed (reference: glue src/raw_layer_job.py:203). */
  val RawCompleted = "RAW COMPLETED"

  /** Terminal promoted state. The reference *intends* this transition but
    * its update leaves state at RAW COMPLETED, so every prepared run
    * re-appends all history (defect documented in SURVEY §2.1; reference:
    * glue src/prepared_layer_job.py:193 + scan filter at :152-155). We
    * implement the evidently intended exactly-once semantics: a terminal
    * state that removes the run from the pending set. */
  val PreparedCompleted = "PREPARED COMPLETED"
}

/** Run-timestamp generation, `yyyyMMddHHmmssSSSSSS` in US/Eastern
  * (reference: glue src/raw_layer_job.py:82-100). The clock is injected so
  * tests and the DuckDB oracle are deterministic (SURVEY §7.5).
  */
object RunId {
  private val fmt = DateTimeFormatter.ofPattern("yyyyMMddHHmmssSSSSSS")
  val Zone: ZoneId = ZoneId.of("America/New_York")
  def apply(clock: Clock = Clock.system(Zone)): String =
    ZonedDateTime.now(clock.withZone(Zone)).format(fmt)
}

/** The control plane: an append-only state machine per ingestion run.
  *
  * Plays the role of the reference's DynamoDB table + stream
  * (reference: aws_genaric_datapipeline/aws_genaric_datapipeline_stack.py:26-30).
  * Append-only: a state transition is a new record for the same
  * partition_key; the latest state wins. This makes the ledger directory
  * itself a replayable event bus — a Structured Streaming file source over
  * it is the engine's equivalent of the DynamoDB stream → Lambda hop
  * (reference: lambda/invoke_prepared.py:7-38); see
  * [[graft.orchestrate.Orchestrator]].
  */
trait RunLedger {

  /** Append one record (reference put_item: glue src/raw_layer_job.py:177-210). */
  def append(record: RunRecord): Unit

  /** All records, as a typed Dataset (control data — always small). */
  def records(spark: SparkSession): Dataset[RunRecord]

  /** Runs raw-loaded but not yet promoted, for one job_src — the corrected
    * version of the reference's scan + filter
    * (reference: glue src/prepared_layer_job.py:141-174). Exactly-once:
    * any partition_key that has reached PREPARED COMPLETED is excluded. */
  def pending(spark: SparkSession, jobSrc: String): Seq[RunRecord] = {
    val all = records(spark).collect() // control plane: O(runs), not O(data)
    val mine = all.filter(_.job_src == jobSrc)
    val promoted = mine.filter(_.state == RunState.PreparedCompleted).map(_.partition_key).toSet
    mine.filter(r => r.state == RunState.RawCompleted && !promoted.contains(r.partition_key))
      .sortBy(_.partition_key).toSeq
  }
}

object RunLedger {
  val schema: StructType = Encoders.product[RunRecord].schema
}

/** Local append-only ledger: one JSON file per record in a directory.
  *
  * Files are written via temp-file + atomic rename so a Structured
  * Streaming file source watching the directory never observes a partial
  * record. A DynamoDB-backed implementation can sit behind the same trait
  * in an AWS deployment.
  */
final class LocalJsonLedger(val dir: Path) extends RunLedger {
  Files.createDirectories(dir)
  private val mapper = new ObjectMapper()
  private val seq = new java.util.concurrent.atomic.AtomicLong(0L)

  override def append(r: RunRecord): Unit = {
    val node = mapper.createObjectNode()
    node.put("partition_key", r.partition_key).put("job_src", r.job_src)
      .put("state", r.state)
      .put("rawBucket", r.rawBucket).put("rawFolder", r.rawFolder)
      .put("rawJobName", r.rawJobName).put("rawEntryCount", r.rawEntryCount)
      .put("preparedBucket", r.preparedBucket).put("preparedFolder", r.preparedFolder)
      .put("preparedJobName", r.preparedJobName).put("preparedEntryCount", r.preparedEntryCount)
    val name = s"${r.partition_key}-${r.state.replace(' ', '_')}-${seq.incrementAndGet()}-${System.nanoTime()}.json"
    val tmp = Files.createTempFile(dir, ".tmp-", ".json")
    Files.writeString(tmp, mapper.writeValueAsString(node))
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  /** Every record file parsed on the driver with the ledger's own mapper,
    * as a local Dataset: `pending`/`collect` over it run no Spark job.
    * Reads what Spark's JSON reader over the directory would (the
    * streaming [[graft.orchestrate.Orchestrator.watch]] still uses it):
    * hidden `.`/`_` files (in-flight temp files) are skipped, a missing
    * field reads null, an empty file holds no record and a malformed one
    * reads as an all-null record (the reader's PERMISSIVE mode). */
  override def records(spark: SparkSession): Dataset[RunRecord] = {
    import spark.implicits._
    val listing = Files.list(dir)
    val files =
      try listing.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        n.endsWith(".json") && !n.startsWith(".") && !n.startsWith("_")
      }.toVector
      finally listing.close() // Files.list holds an fd until closed
    spark.createDataset(files.flatMap(parse))
  }

  private def parse(file: Path): Option[RunRecord] =
    scala.util.Try(mapper.readTree(file.toFile)).toOption match {
      case Some(n) if n.isMissingNode => None
      case Some(n) if n.isObject => Some(record(n))
      case _ => Some(record(mapper.createObjectNode()))
    }

  private def record(n: com.fasterxml.jackson.databind.JsonNode): RunRecord = {
    def f(name: String): String = Option(n.get(name)).filterNot(_.isNull)
      .map(v => if (v.isTextual) v.textValue else v.toString).orNull
    RunRecord(f("partition_key"), f("job_src"), f("state"), f("rawBucket"),
      f("rawFolder"), f("rawJobName"), f("rawEntryCount"), f("preparedBucket"),
      f("preparedFolder"), f("preparedJobName"), f("preparedEntryCount"))
  }
}
