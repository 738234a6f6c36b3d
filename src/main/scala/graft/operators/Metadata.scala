package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** System-table surface (reference `sql/.../schema/SystemSchema.java:105-111`
  * — sys.segments / sys.servers / INFORMATION_SCHEMA).
  *
  * `sys.segments` maps to one row per (datasource, file): at cluster scale a
  * segment is a parquet file/partition, and the listing comes from the
  * catalog; here it is derived from the scale-factor directory.
  */
object Metadata {

  /** One row per (datasource, file) with its row count and size, read from
    * parquet FOOTERS — metadata only, like the reference's segment table
    * coming from the coordinator's metadata store rather than a data scan.
    * A footer read is a few KB per file regardless of file size, so this
    * stays O(files) at any data scale (and the counts are exact: parquet
    * footers carry the authoritative record count).
    */
  def segments(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = org.apache.hadoop.fs.FileSystem.get(conf)
    // driver does only the listing (cheap); the footer opens — one RPC +
    // a few KB each, but latency-bound — fan out to executors, one task
    // per file, so a million-segment table is a million-row metadata job,
    // not a serial driver loop
    val listed: Seq[(String, String, Long)] = Tables.all.flatMap { name =>
      val root = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
      val files =
        if (fs.getFileStatus(root).isDirectory)
          fs.listStatus(root).filter(_.getPath.getName.endsWith(".parquet"))
        else Array(fs.getFileStatus(root))
      files.map(st => (name, st.getPath.toString, st.getLen)).toSeq
    }
    val serConf = new org.apache.spark.util.SerializableConfiguration(conf)
    spark.sparkContext
      .parallelize(listed, math.min(listed.size, 32).max(1))
      .map { case (name, path, len) =>
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(path), serConf.value))
        val numRows = try reader.getRecordCount finally reader.close()
        (name, path, numRows, len)
      }
      .toDF("datasource", "file", "num_rows", "size_bytes")
  }

  /** sys.servers analog: the execution topology. Locally that is the
    * driver + executor block managers; on a cluster, one row per executor
    * (the reference lists historical/broker/middle-manager processes).
    */
  def servers(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val sc = spark.sparkContext
    sc.statusTracker.getExecutorInfos.toSeq
      .map(e => (e.host, e.numRunningTasks, sc.defaultParallelism))
      .toDF("host", "running_tasks", "slots")
  }

  /** sys.tasks analog: Spark job activity (the reference lists ingest and
    * compaction tasks; here every query IS a set of jobs). Reads the app
    * status store so jobs submitted under job groups (every facade query
    * with a queryId) are included. NOTE: like sys_segments, the registered
    * view is a snapshot — call [[registerSystemViews]] again to refresh.
    */
  def tasks(spark: SparkSession): DataFrame = {
    import spark.implicits._
    org.apache.spark.graftbridge.CoreBridge.jobs(spark.sparkContext)
      .toDF("job_id", "status", "job_group")
  }

  /** sys.supervisors analog (reference `SystemSchema.java:105-111` lists it
    * alongside segments/servers/tasks; a supervisor is a long-running ingest
    * coordinator). Here each active Structured Streaming query IS a
    * supervisor: one row per query from the session's streams registry, with
    * the reference's (id, state, healthy, suspended) shape.
    */
  def supervisors(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val live = spark.streams.active.toSeq.map { q =>
      val source = Option(q.lastProgress)
        .flatMap(_.sources.headOption).map(_.description).getOrElse("")
      (Option(q.name).getOrElse(q.id.toString), q.runId.toString,
        if (q.isActive) "RUNNING" else "STOPPED",
        q.status.message, q.exception.isEmpty, "stream", source, !q.isActive)
    }
    // lifecycle-managed supervisors (streaming/Supervisors): a SUSPENDED
    // supervisor has no active query, but the reference still lists it with
    // suspended=true — merge the registry's view for ids the live scan
    // doesn't already cover
    val liveIds = live.map(_._1).toSet
    val managed = graft.streaming.Supervisors.statuses()
      .filterNot(s => liveIds.contains(s.id))
      .map { s =>
        val state = s.state.toString.toUpperCase
        (s.id, "", state,
          s.error.getOrElse(s"batches=${s.batchesCompleted}"), s.healthy,
          "stream", "", state == "SUSPENDED")
      }
    (live ++ managed).toDF("supervisor_id", "run_id", "state",
      "detailed_state", "healthy", "type", "source", "suspended")
  }

  /** sys.server_segments (reference `SystemSchema.java:105-111`): the
    * (server, segment) assignment map. The reference's historicals each
    * serve an assigned subset of segments; on shared storage every executor
    * can serve every segment, so the assignment is the cross of the two
    * metadata tables — O(servers × files) metadata rows, never a data scan.
    */
  def serverSegments(spark: SparkSession, dir: String): DataFrame =
    servers(spark).select(col("host").as("server"))
      .crossJoin(segments(spark, dir)
        .select(col("file").as("segment_id"), col("datasource")))

  /** Register sys_* temp views on the session. */
  def registerSystemViews(spark: SparkSession, dir: String): Unit = {
    segments(spark, dir).createOrReplaceTempView("sys_segments")
    servers(spark).createOrReplaceTempView("sys_servers")
    tasks(spark).createOrReplaceTempView("sys_tasks")
    supervisors(spark).createOrReplaceTempView("sys_supervisors")
    serverSegments(spark, dir).createOrReplaceTempView("sys_server_segments")
  }

  /** The lookup schema (reference `sql/.../schema/LookupSchema.java`): every
    * registered lookup introspected as rows of (lookup_name, k, v) — the
    * reference exposes each lookup as a queryable two-column table; the
    * single view with a name column is the union of those, filterable to
    * any one lookup. Driver-side rows: lookups are bounded by contract.
    */
  def lookupSchema(spark: SparkSession): DataFrame = {
    import spark.implicits._
    graft.functions.LookupRegistry.names.flatMap { n =>
      graft.functions.LookupRegistry.get(n).get.toSeq.sortBy(_._1)
        .map { case (k, v) => (n, k, v) }
    }.toDF("lookup_name", "k", "v")
  }

  // ------------------------------------------------- INFORMATION_SCHEMA ----
  // Reference `sql/.../schema/InformationSchema.java`: SCHEMATA / TABLES /
  // COLUMNS virtual tables. Metadata-only — built from catalog schemas on
  // the driver, never from a data scan, which is what keeps them O(tables)
  // at any data scale.

  private val Catalog = "druid"

  /** Calcite-style SQL type name the reference reports (VARCHAR, BIGINT,
    * DOUBLE, TIMESTAMP, FLOAT ARRAY, …).
    */
  private def sqlTypeName(dt: org.apache.spark.sql.types.DataType): String =
    dt.sql.replace("STRING", "VARCHAR")

  /** INFORMATION_SCHEMA.SCHEMATA: the reference exposes druid, sys,
    * INFORMATION_SCHEMA (and lookup when loaded).
    */
  def informationSchemaSchemata(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq("druid", "sys", "INFORMATION_SCHEMA")
      .map(s => (Catalog, s, ""))
      .toDF("catalog_name", "schema_name", "schema_owner")
  }

  /** INFORMATION_SCHEMA.TABLES: one row per datasource. */
  def informationSchemaTables(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.all.map(t => (Catalog, "druid", t, "TABLE"))
      .toDF("table_catalog", "table_schema", "table_name", "table_type")
  }

  /** INFORMATION_SCHEMA.COLUMNS: one row per (datasource, column) with its
    * 1-based ordinal, nullability, and Calcite-style type name.
    */
  def informationSchemaColumns(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.all.flatMap { t =>
      Tables.load(spark, dir, t).schema.fields.zipWithIndex.map {
        case (f, i) =>
          (Catalog, "druid", t, f.name, i + 1L,
            if (f.nullable) "YES" else "NO", sqlTypeName(f.dataType))
      }
    }.toDF("table_catalog", "table_schema", "table_name", "column_name",
      "ordinal_position", "is_nullable", "data_type")
  }

  /** INFORMATION_SCHEMA.ROUTINES (reference InformationSchema ROUTINES
    * table): one row per known SQL function. Aggregates are flagged
    * IS_AGGREGATOR = YES like the reference: the registry's `agg_funcs`
    * group, which Spark's built-ins and the engine's table entries both
    * carry. The signature column is the registry's usage string. Built from
    * the session function registry on the driver — O(functions), no data
    * scan.
    */
  def informationSchemaRoutines(spark: SparkSession): DataFrame = {
    import spark.implicits._
    graft.GraftSession.attach(spark)
    def group(name: String): Option[String] =
      try Option(spark.sessionState.catalog.lookupFunctionInfo(
        org.apache.spark.sql.catalyst.FunctionIdentifier(name)).getGroup)
      catch { case _: Exception => None }
    spark.catalog.listFunctions().collect().toSeq.map { f =>
      (Catalog, "INFORMATION_SCHEMA", f.name, "FUNCTION",
        if (group(f.name).contains("agg_funcs")) "YES" else "NO",
        Option(f.description).getOrElse(""))
    }.toDF("routine_catalog", "routine_schema", "routine_name",
      "routine_type", "is_aggregator", "signatures")
  }

  /** Register the INFORMATION_SCHEMA views (underscore spelling: Spark temp
    * view names cannot contain dots).
    */
  def registerInformationSchema(spark: SparkSession, dir: String): Unit = {
    informationSchemaSchemata(spark)
      .createOrReplaceTempView("information_schema_schemata")
    informationSchemaTables(spark, dir)
      .createOrReplaceTempView("information_schema_tables")
    informationSchemaColumns(spark, dir)
      .createOrReplaceTempView("information_schema_columns")
    informationSchemaRoutines(spark)
      .createOrReplaceTempView("information_schema_routines")
  }
}
