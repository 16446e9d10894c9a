package graft.catalog

import graft.config.PipelineConfig
import org.apache.spark.sql.SparkSession

/** Exposes a pipeline's prepared layer as a named, schema-declared
  * external table in the session catalog.
  *
  * Spark-native equivalent of the reference's Glue Catalog table synthesis
  * (reference: templates/cds_view_template.py:26-55): external parquet
  * table (reference :45-54), columns from the config schema (reference
  * :28-33), location = the stable prepared prefix (reference :46), all in
  * database `pipelines_db` (reference :38). In a real AWS deployment the
  * session catalog is Glue-backed and this is the same DDL; locally it is
  * the in-memory/Hive catalog.
  *
  * Log-backed pipelines ([[PipelineConfig.useLog]]) register a VIEW over
  * the CURRENT snapshot's exact file set instead of a location-scoped
  * table: the data directory of a log table also holds files that are
  * staged-but-uncommitted or already replaced (until vacuum), so a
  * directory-location table would read phantom rows. The view pins the
  * committed manifest's files; every drain that promotes re-registers,
  * so the name tracks the log head. Re-registration replaces the view in
  * place (`ALTER VIEW ... AS`, one catalog update): readers never see the
  * name missing, and the one Spark job left is the view's own analysis
  * (schema inference over its file glob). Production plugs the log in as a
  * DataSource V2 catalog (one class, same manifest read) — the view is
  * the session-catalog rendering of the same idea, view text O(live
  * files) exactly like the manifest it mirrors.
  */
object CatalogRegistrar {
  val Database = "pipelines_db"

  private def quote(id: String): String = s"`${id.replace("`", "``")}`"

  /** The name [[register]] registers the pipeline's table under. */
  def name(cfg: PipelineConfig): String = s"$Database.${cfg.tableName}"

  /** CREATE EXTERNAL TABLE pipelines_db.{name} (...) USING parquet
    * LOCATION '{preparedPath}' — or, for log-backed pipelines, a view
    * over the current snapshot's files, created or replaced in place (a
    * log with no live file yet registers an empty view of the declared
    * columns).
    * Idempotent: the table/view is external, data is never touched. The
    * session catalog has no in-place replace for a data-source table, so
    * the directory table is dropped and re-created (a declared schema:
    * no inference job). DROP otherwise runs only when the other object
    * type holds the name — a table_format switch. Returns the
    * fully-qualified name.
    */
  def register(spark: SparkSession, cfg: PipelineConfig): String = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS ${quote(Database)}")
    val fqn = s"${quote(Database)}.${quote(cfg.tableName)}"
    // Prepared rows carry the audit column on top of the declared schema
    // (reference: glue src/raw_layer_job.py:53).
    val declared = cfg.schema.map(c => (c.name, c.tpe, c.comment)) :+
      (("ETL_PART_KEY", "string", "ingestion run id"))
    val held = heldType(spark, fqn)
    if (cfg.useLog) {
      if (held.exists(_ != "VIEW")) spark.sql(s"DROP TABLE $fqn")
      val log = graft.table.PreparedTable.log(spark, cfg)
      val files =
        if (log.currentVersion() == 0) Nil else log.snapshot().files
      val body =
        if (files.isEmpty)
          declared.map { case (n, t, _) => s"CAST(NULL AS $t) AS ${quote(n)}" }
            .mkString("SELECT ", ", ", " WHERE false")
        else {
          val glob = s"${cfg.preparedPath}/${graft.table.SnapshotLog.DataDirName}/" +
            s"{${files.mkString(",")}}"
          s"SELECT * FROM parquet.${quote(glob)}"
        }
      // ALTER VIEW rewrites the catalog entry in place; Spark's CREATE OR
      // REPLACE VIEW drops and re-creates a persistent view inside the
      // command, a window in which the name does not resolve
      if (held.contains("VIEW")) spark.sql(s"ALTER VIEW $fqn AS $body")
      else spark.sql(s"CREATE VIEW $fqn AS $body")
    } else {
      held.foreach(t => spark.sql(s"DROP ${if (t == "VIEW") "VIEW" else "TABLE"} $fqn"))
      val cols = declared.map { case (n, t, c) =>
        s"${quote(n)} $t COMMENT '${c.replace("'", "''")}'"
      }.mkString(", ")
      spark.sql(s"CREATE TABLE $fqn ($cols) USING parquet LOCATION '${cfg.preparedPath}'")
    }
    name(cfg)
  }

  /** The type of the object holding the name, if any — DROP TABLE
    * refuses a view and vice versa. */
  private def heldType(spark: SparkSession, fqn: String): Option[String] =
    if (spark.catalog.tableExists(fqn)) Some(spark.catalog.getTable(fqn).tableType)
    else None
}
