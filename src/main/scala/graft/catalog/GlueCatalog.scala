package graft.catalog

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.config.PipelineConfig
import graft.table.{S3Transport, SigV4}

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8

/** [[CatalogRegistrar]]'s Glue Data Catalog backend — the catalog the
  * reference actually registers its prepared tables in (reference:
  * templates/cds_view_template.py:26-55 synthesizes the Glue table:
  * columns :28-33, parquet serde :45-54, location :46, database :38).
  * Same deployment discipline as [[graft.table.S3CommitStore]] and
  * [[graft.ledger.DynamoRunLedger]]: the documented JSON wire protocol
  * (`AWSGlue.*` targets, `application/x-amz-json-1.1`), the shared
  * [[graft.table.SigV4]] signer, no SDK, the HTTP hop behind the
  * [[graft.table.S3Transport]] seam — the full mapping (config schema →
  * Glue TableInput, idempotent re-registration, error taxonomy) runs
  * under the spec suite against an in-memory double.
  *
  * The session-catalog registrar and this one are two renderings of the
  * SAME declaration: locally the prepared layer becomes a session
  * table/view ([[CatalogRegistrar.register]]); on AWS it becomes a Glue
  * external table every downstream engine (Athena, EMR, another Spark)
  * resolves by name. Registration is idempotent by design — a re-run
  * drains into UpdateTable, matching the local re-registration.
  *
  * A log-backed pipeline's session view reads through a
  * [[graft.table.GraftTableCatalog]] mounted on the prepared root. Another
  * Spark session reads that view only after it sets the two confs
  * [[CatalogRegistrar.mountConfs]] returns:
  * {{{
  * spark.sql.catalog.<name>      = graft.table.GraftTableCatalog
  * spark.sql.catalog.<name>.root = <preparedRoot>
  * }}}
  * with `<name>` = [[CatalogRegistrar.catalogName]] (derived from the
  * prepared root).
  *
  * Scale: one CreateDatabase + one Create/UpdateTable round-trip per
  * pipeline registration — control-plane, O(1) in the data.
  */
final class GlueCatalog(region: String,
    credentials: () => (String, String), transport: S3Transport,
    endpoint: Option[String] = None) {

  private val mapper = new ObjectMapper()
  private val (scheme, host) = graft.table.AwsEndpoint("glue", region, endpoint)

  /** Register `cfg`'s prepared layer as an external parquet table in
    * `pipelines_db` (created if absent). Idempotent: an existing table
    * is updated in place. Returns the fully-qualified name. */
  def register(cfg: PipelineConfig): String = {
    ensureDatabase(CatalogRegistrar.Database)
    val input = tableInput(cfg)
    val create = mapper.createObjectNode()
    create.put("DatabaseName", CatalogRegistrar.Database)
    create.set[JsonNode]("TableInput", input)
    val (status, body) = call("AWSGlue.CreateTable",
      mapper.writeValueAsBytes(create))
    if (status != 200) {
      if (!SigV4.errorType(body).exists(_.contains("AlreadyExistsException")))
        throw new IllegalStateException(
          s"Glue CreateTable ${cfg.tableName} returned $status: " +
            new String(body, UTF_8).take(300))
      val update = mapper.createObjectNode()
      update.put("DatabaseName", CatalogRegistrar.Database)
      update.set[JsonNode]("TableInput", tableInput(cfg))
      val (us, ub) = call("AWSGlue.UpdateTable", mapper.writeValueAsBytes(update))
      if (us != 200) throw new IllegalStateException(
        s"Glue UpdateTable ${cfg.tableName} returned $us: " +
          new String(ub, UTF_8).take(300))
    }
    s"${CatalogRegistrar.Database}.${cfg.tableName}"
  }

  /** The registered table, as Glue returns it — the read-back surface
    * the spec verifies round-trips the config declaration. */
  def getTable(name: String): JsonNode = {
    val req = mapper.createObjectNode()
    req.put("DatabaseName", CatalogRegistrar.Database).put("Name", name)
    val (status, body) = call("AWSGlue.GetTable", mapper.writeValueAsBytes(req))
    if (status != 200) throw new IllegalStateException(
      s"Glue GetTable $name returned $status: ${new String(body, UTF_8).take(300)}")
    mapper.readTree(body).get("Table")
  }

  private def ensureDatabase(name: String): Unit = {
    val req = mapper.createObjectNode()
    req.putObject("DatabaseInput").put("Name", name)
    val (status, body) = call("AWSGlue.CreateDatabase", mapper.writeValueAsBytes(req))
    if (status != 200 && !SigV4.errorType(body).exists(_.contains("AlreadyExistsException")))
      throw new IllegalStateException(
        s"Glue CreateDatabase $name returned $status: " +
          new String(body, UTF_8).take(300))
  }

  /** Config declaration → Glue TableInput, the same mapping the local
    * registrar renders as DDL: declared columns + the ETL_PART_KEY audit
    * column, parquet input/output formats + serde (reference:
    * templates/cds_view_template.py:45-54), location = the stable
    * prepared prefix. */
  private def tableInput(cfg: PipelineConfig): JsonNode = {
    val input = mapper.createObjectNode()
    input.put("Name", cfg.tableName)
    input.put("TableType", "EXTERNAL_TABLE")
    val sd = input.putObject("StorageDescriptor")
    val cols = sd.putArray("Columns")
    cfg.schema.foreach { c =>
      cols.addObject().put("Name", c.name).put("Type", c.tpe)
        .put("Comment", c.comment)
    }
    cols.addObject().put("Name", "ETL_PART_KEY").put("Type", "string")
      .put("Comment", "ingestion run id")
    sd.put("Location", cfg.preparedPath)
    sd.put("InputFormat",
      "org.apache.hadoop.hive.ql.io.parquet.MapredParquetInputFormat")
    sd.put("OutputFormat",
      "org.apache.hadoop.hive.ql.io.parquet.MapredParquetOutputFormat")
    sd.putObject("SerdeInfo").put("SerializationLibrary",
      "org.apache.hadoop.hive.ql.io.parquet.serde.ParquetHiveSerDe")
    input
  }

  private def call(target: String, body: Array[Byte]): (Int, Array[Byte]) = {
    val (accessKey, secretKey) = credentials()
    val headers = SigV4.signedHeaders("POST", host, "/", "", "glue",
      region, accessKey, secretKey, body, extraHeaders = Seq(
        "content-type" -> "application/x-amz-json-1.1",
        "x-amz-target" -> target))
    transport.send("POST", URI.create(s"$scheme://$host/"), headers, body)
  }

}
