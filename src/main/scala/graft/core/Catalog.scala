package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Catalog / warehouse surface — the Spark-SQL + Hive-metastore
  * restatement of the reference's dataset description tools
  * (`bigquery_tool.py:277-392` `describe_dataset`, and the
  * BASELINE.json "Spark SQL + Hive metastore integration" approach).
  */
object Catalog {

  /** Builder for a Hive-metastore-backed session: persistent catalog
    * (embedded Derby metastore + file warehouse). Use when the engine
    * owns the session; in a shared session the same catalog ops below
    * work against whatever catalog is active. Starts from
    * [[Engine.session]]'s builder, so it carries the same settings,
    * the codegen cache bound included.
    */
  def warehouseSession(warehouseDir: String, metastoreDir: String,
      appName: String = "graft-warehouse", cores: Int = 32): SparkSession = {
    val spark = Engine.builder(appName, cores)
      .config("spark.sql.warehouse.dir", warehouseDir)
      .config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$metastoreDir;create=true")
      .enableHiveSupport()
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Register a parquet file/dir as an external (unmanaged) table —
    * metadata only, no data copied; at 100 TB this is the only sane
    * registration (the warehouse points at the lake).
    */
  def registerExternal(spark: SparkSession, table: String, path: String): Unit =
    spark.sql(s"CREATE TABLE IF NOT EXISTS $table USING parquet LOCATION '$path'")

  /** Register the whole testdata star schema as external tables.
    * Hive-metastore locations must be directories; single parquet
    * files are wrapped in a symlinked directory under `scratchDir`
    * (metadata only — no data copied).
    */
  def registerStarSchema(spark: SparkSession, dir: String,
      scratchDir: Option[String] = None): Unit =
    Engine.TableNames.foreach { t =>
      val f = new java.io.File(s"$dir/$t.parquet")
      if (f.exists()) {
        val location =
          if (f.isDirectory || !spark.conf.getOption("spark.sql.catalogImplementation").contains("hive"))
            f.getAbsolutePath
          else {
            val scratch = scratchDir.getOrElse(
              java.nio.file.Files.createTempDirectory("graft-ext").toString)
            val d = java.nio.file.Paths.get(scratch, t)
            java.nio.file.Files.createDirectories(d)
            val link = d.resolve(s"$t.parquet")
            if (!java.nio.file.Files.exists(link))
              java.nio.file.Files.createSymbolicLink(link, f.toPath.toAbsolutePath)
            d.toString
          }
        registerExternal(spark, t, location)
      }
    }

  /** `describe_dataset` parity (`bigquery_tool.py:277-392`): one row
    * per table with its schema rendered as (name, type, nullable)
    * triples — the reference's `{name, type, mode}` schema shape
    * (`bigquery_tool.py:61-70`).
    */
  def describeDatabase(spark: SparkSession, db: String = "default"): DataFrame = {
    import spark.implicits._
    val tables = spark.catalog.listTables(db).collect()
    val rows = tables.map { t =>
      val fields = spark.table(t.name).schema.fields.map(f =>
        (f.name, f.dataType.simpleString, f.nullable))
      (t.name, t.tableType, fields.toSeq)
    }.toSeq
    rows.toDF("table_name", "table_type", "schema")
  }

  /** Table info (`csv_info`/`excel_info` shape at catalog level):
    * schema + row count.
    */
  def tableInfo(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    val df = spark.table(table)
    Seq((table, df.columns.toSeq, df.count()))
      .toDF("table_name", "columns", "total_rows")
  }
}
