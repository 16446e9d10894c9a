package graft.catalog

import graft.config.PipelineConfig
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.CatalogTableType
import org.apache.spark.sql.types.StructType

/** Exposes a pipeline's prepared layer as a named, schema-declared object
  * in the session catalog, in database `pipelines_db`.
  *
  * Spark-native equivalent of the reference's Glue Catalog table synthesis
  * (reference: templates/cds_view_template.py:26-55), which registers the
  * prepared table once, at deploy time. [[GlueCatalog]] renders the same
  * declaration on AWS.
  *
  * Directory-format pipelines get an external parquet table: columns
  * from the config schema (reference :28-33), location = the stable
  * prepared prefix (reference :45-54).
  *
  * Log-backed pipelines ([[PipelineConfig.useLog]]) get a persistent view
  * over the log mounted through [[graft.table.GraftTableCatalog]]:
  * `SELECT * FROM <catalog>.<rawFolder>`, created `WITH SCHEMA EVOLUTION`.
  * A directory-location table would read the staged-but-uncommitted and
  * replaced files a log's data directory also holds; the catalog plans
  * every query from the manifest head instead, so a commit shows through
  * the view at once and the view is created once per table, not per run.
  * A session that reads the view needs the catalog mounted: see
  * [[mountConfs]].
  */
object CatalogRegistrar {
  val Database = "pipelines_db"

  private def quote(id: String): String = s"`${id.replace("`", "``")}`"

  /** The name [[register]] registers the pipeline's table under. */
  def name(cfg: PipelineConfig): String = s"$Database.${cfg.tableName}"

  /** The catalog that serves `cfg.preparedRoot`. The name derives from
    * the root because `CatalogManager` caches an initialized catalog per
    * name for the session's lifetime. It stays outside the `graft_`
    * names, which query functions mount only for the length of one
    * query: this mount outlives every query by design. */
  def catalogName(cfg: PipelineConfig): String =
    s"prepared_${math.abs(cfg.preparedRoot.hashCode)}"

  /** The two session confs that mount `cfg.preparedRoot` as a
    * [[graft.table.GraftTableCatalog]]: what a log-backed pipeline's view
    * resolves through. */
  def mountConfs(cfg: PipelineConfig): Seq[(String, String)] = {
    val key = s"spark.sql.catalog.${catalogName(cfg)}"
    Seq(key -> classOf[graft.table.GraftTableCatalog].getName,
      s"$key.root" -> cfg.preparedRoot)
  }

  /** Idempotently mounts `cfg.preparedRoot` on `spark`; refuses a
    * catalog name already mounted at another root. */
  private def mount(spark: SparkSession, cfg: PipelineConfig): Unit = {
    val rootKey = s"spark.sql.catalog.${catalogName(cfg)}.root"
    spark.conf.getOption(rootKey).filter(_ != cfg.preparedRoot).foreach { other =>
      throw new IllegalStateException(s"catalog ${catalogName(cfg)} already " +
        s"mounts $other; cannot mount ${cfg.preparedRoot} under the same name")
    }
    mountConfs(cfg).foreach { case (k, v) => spark.conf.set(k, v) }
  }

  /** CREATE EXTERNAL TABLE pipelines_db.{name} (...) USING parquet
    * LOCATION '{preparedPath}' — or, for log-backed pipelines, the view
    * over the mounted log (a log with no commit yet holds an empty view
    * of the declared columns). Idempotent: data is never touched. Both
    * forms run DDL only when the held object differs — a missing name,
    * the other form (a table_format switch), a view with other text (the
    * empty view, another root), or a table with another location or
    * other columns — so the name never stops resolving between drains.
    * A held directory table is refreshed instead: the session caches a
    * datasource table's file listing, and a new promotion must show.
    * The directory table declares its schema (no inference job); on a
    * mounted pipeline the view runs no DDL and no Spark job. Returns the
    * fully-qualified name.
    */
  def register(spark: SparkSession, cfg: PipelineConfig): String = {
    val ident = TableIdentifier(cfg.tableName, Some(Database))
    val fqn = s"${quote(Database)}.${quote(cfg.tableName)}"
    // Prepared rows carry the audit column on top of the declared schema
    // (reference: glue src/raw_layer_job.py:53).
    val declared = cfg.schema.map(c => (c.name, c.tpe, c.comment)) :+
      (("ETL_PART_KEY", "string", "ingestion run id"))
    val catalog = spark.sessionState.catalog
    val held =
      if (catalog.tableExists(ident)) Some(catalog.getTableMetadata(ident)) else None
    if (cfg.useLog) {
      mount(spark, cfg)
      val body =
        if (graft.table.PreparedTable.log(spark, cfg).currentVersion() == 0)
          declared.map { case (n, t, _) => s"CAST(NULL AS $t) AS ${quote(n)}" }
            .mkString("SELECT ", ", ", " WHERE false")
        else s"SELECT * FROM ${quote(catalogName(cfg))}.${quote(cfg.rawFolder)}"
      if (!held.exists(_.viewText.contains(body))) {
        spark.sql(s"CREATE DATABASE IF NOT EXISTS ${quote(Database)}")
        if (held.exists(_.tableType != CatalogTableType.VIEW)) spark.sql(s"DROP TABLE $fqn")
        spark.sql(s"CREATE OR REPLACE VIEW $fqn WITH SCHEMA EVOLUTION AS $body")
      }
    } else {
      val cols = declared.map { case (n, t, c) =>
        s"${quote(n)} $t COMMENT '${c.replace("'", "''")}'"
      }.mkString(", ")
      val path = new org.apache.hadoop.fs.Path(cfg.preparedPath)
      val location = path.getFileSystem(spark.sessionState.newHadoopConf())
        .makeQualified(path).toUri
      if (held.exists(t => t.tableType == CatalogTableType.EXTERNAL &&
          t.provider.contains("parquet") && t.location == location &&
          t.schema == StructType.fromDDL(cols)))
        spark.sql(s"REFRESH TABLE $fqn")
      else {
        spark.sql(s"CREATE DATABASE IF NOT EXISTS ${quote(Database)}")
        held.foreach(t => spark.sql(
          s"DROP ${if (t.tableType == CatalogTableType.VIEW) "VIEW" else "TABLE"} $fqn"))
        spark.sql(s"CREATE TABLE $fqn ($cols) USING parquet LOCATION '${cfg.preparedPath}'")
      }
    }
    name(cfg)
  }
}
