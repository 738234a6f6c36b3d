package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{CTERelationRef, LeafNode, LogicalPlan,
  OneRowRelation, Range}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation,
  PartitioningAwareFileIndex}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.StructType

/** Table layer: named parquet tables under a scale-factor directory.
  *
  * Mirrors the reference's datasource catalog (a Druid "datasource" is a named,
  * time-partitioned table — reference: `processing/.../query/TableDataSource.java:37`).
  * In this engine a datasource is simply a DataFrame read from columnar storage;
  * at cluster scale these would be Delta/Parquet tables partitioned by
  * `date_trunc('day', __time)` so that interval filters prune partitions
  * (reference behavior: `MoveTimeFiltersToIntervals.java`, mapped to Spark
  * partition pruning — see SURVEY.md §4.1).
  *
  * A session's tables are its temp views, as the reference's broker
  * timeline resolves a datasource name to its current segments:
  * [[register]] keeps a view while it reads its table's current
  * [[version]] and re-opens it otherwise. The sf-dir tables, the SQL
  * warehouse's datasources and [[load]] all go through it. The only table
  * state kept outside a session is the JVM-wide schema memo
  * ([[readParquet]]).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The reference's mandatory time column name (ColumnHolder.java:32). */
  val TimeColumn = "__time"

  /** Point the session's temp view `name` at the parquet table at `path`
    * and return the plan the view holds. The view is the session's one
    * store of an open table: it is kept while it reads the table's current
    * [[version]] and re-opened otherwise, whoever changed the files or the
    * view. A check lists the table's files and the view's: at sf0.1 on 4
    * cores a [[load]] of a current view took 0.26 ms (median) and a
    * [[registerAll]] of ten 2.2 ms, where an open costs 20–40 ms with the
    * schema memoized ([[readParquet]]) and ~170 ms without. A path without
    * a version is re-opened on every call, and fails as a plain read does.
    */
  def register(spark: SparkSession, name: String, path: String): LogicalPlan = {
    val current = version(spark, path)
    spark.sessionState.catalog.getTempView(name).map(_.child)
      .filter(p => current.isDefined && planVersion(p) == current)
      .getOrElse {
        val df = open(spark, name, path, current)
        df.createOrReplaceTempView(name)
        df.queryExecution.analyzed
      }
  }

  private def open(spark: SparkSession, name: String, path: String,
                   files: Option[Seq[FileVersion]]): DataFrame =
    if (name == "events") {
      // events.ts has shipped as either INT64 TIMESTAMP(NANOS) (which Spark's
      // reader rejects outright without the legacy nanos-as-long conf) or as
      // plain TIMESTAMP(MICROS) with isAdjustedToUTC=false (which Spark 4
      // infers as TIMESTAMP_NTZ).
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      normalizeTs(readParquet(spark, path, files))
    } else {
      readParquet(spark, path, files)
    }

  /** Table `name` of the scale-factor directory `dir`, as the session's
    * view of it reads it: gate builders call this on every build, and a
    * current view is served without re-opening the table.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    Bridge.ofRows(spark, register(spark, name, s"$dir/$name.parquet"))

  /** Confs whose values change the schema Spark infers for a parquet path. */
  private val SchemaConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
    "spark.sql.session.timeZone")

  /** One data file's version: (path, length, modification time). A table's
    * version is the sorted versions of its data files ([[version]]); it is
    * graft's one notion of "this table changed", behind the schema memo,
    * the freshness of the session's table views ([[register]]) and the
    * result cache ([[graft.api.ResultCache]]).
    */
  type FileVersion = (String, Long, Long)

  private def versionOf(f: FileStatus): FileVersion =
    (f.getPath.toString, f.getLen, f.getModificationTime)

  /** The version of the table at `path`: its files as a read of it lists
    * them, which leaves out names starting with `.`, ending in `._COPYING_`
    * or starting with `_` but holding no `=`. None when no file is listed
    * (a missing or empty path, a glob). Listed through the Hadoop
    * FileSystem alone: Spark's own file index lists a table of more than
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32)
    * partition directories with a Spark job.
    */
  private[graft] def version(spark: SparkSession, path: String): Option[Seq[FileVersion]] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    def hidden(name: String) = name.startsWith(".") || name.endsWith("._COPYING_") ||
      name.startsWith("_") && !name.contains("=")
    def list(f: FileStatus): Seq[FileVersion] =
      if (f.isDirectory) fs.listStatus(f.getPath).toSeq.filterNot(c => hidden(c.getPath.getName))
        .flatMap(list)
      else Seq(versionOf(f))
    try Some(list(fs.getFileStatus(root)).sorted).filter(_.nonEmpty)
    catch { case _: java.io.IOException => None }
  }

  /** The version of every file `plan` (its subqueries included) reads, as
    * its file indexes listed them. None when a leaf's data is not in listed
    * files: an in-memory or streaming table, an RDD, local rows. `Range`
    * and `OneRowRelation` read no files, and a `WITH` clause's reference
    * reads what its definition, a child of the plan's `WithCTE`, reads.
    */
  private[graft] def planVersion(plan: LogicalPlan): Option[Seq[FileVersion]] = {
    val leaves = plan.collectWithSubqueries {
      case LogicalRelation(h: HadoopFsRelation, _, _, false, _) => h.location match {
        case i: PartitioningAwareFileIndex => Some(i.allFiles().map(versionOf))
        case _ => None
      }
      case _: Range | _: OneRowRelation | _: CTERelationRef => Some(Nil)
      case _: LeafNode => None
    }
    if (leaves.exists(_.isEmpty)) None else Some(leaves.flatten.flatten.sorted)
  }

  /** What an inferred schema depends on: the table's [[version]] and the
    * [[SchemaConfs]].
    */
  private case class SchemaKey(files: Seq[FileVersion], confs: Seq[Option[String]])

  /** JVM-wide parquet schema memo, one entry per path (a rewrite replaces
    * its path's entry, so ingest churn cannot grow it). The reference's
    * broker keeps each datasource's row signature the same way
    * (`BrokerSegmentMetadataCache`). It holds only `StructType`s — no data,
    * plans or sessions — so it outlives `spark.stop()` and serves the next
    * SparkContext's sessions too.
    */
  private val schemaMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (SchemaKey, StructType)]()

  /** Test hook: paths the schema memo holds an entry for. */
  private[graft] def memoizedSchemaPaths: Seq[String] = {
    import scala.jdk.CollectionConverters._
    schemaMemo.keySet.asScala.toSeq
  }

  /** Open the parquet table at `path`. Reading with an inferred schema runs
    * one Spark job over the footers: at sf0.1 on 4 cores the ten tables
    * took ~1.7 s that way (~170 ms a table) and 0.24–0.39 s (20–40 ms a
    * table, the listing included) through a memo hit, which runs no job.
    * So the schema is inferred once per fingerprint ([[SchemaKey]]) and
    * supplied on every later open of the same files. A path without a
    * [[version]] is never memoized and fails or succeeds exactly as a plain
    * read does. The fingerprint is taken before inference: a write racing the
    * read can only leave an entry whose file list is already out of date,
    * which never matches.
    */
  private[graft] def readParquet(spark: SparkSession, path: String): DataFrame =
    readParquet(spark, path, version(spark, path))

  /** [[readParquet]] of a path whose [[version]] the caller has listed. */
  private def readParquet(spark: SparkSession, path: String,
                          files: Option[Seq[FileVersion]]): DataFrame = {
    val key = files.map(SchemaKey(_, SchemaConfs.map(spark.conf.getOption)))
    Option(schemaMemo.get(path)) match {
      case Some((k, schema)) if key.contains(k) =>
        spark.read.schema(schema).parquet(path)
      case _ =>
        val df = spark.read.parquet(path)
        key.foreach(k => schemaMemo.put(path, (k, df.schema)))
        df
    }
  }

  /** Normalize the events `ts` column — epoch-nanos long, TIMESTAMP, or
    * TIMESTAMP_NTZ depending on the parquet vintage — to session-local
    * TimestampType. Sessions run UTC, so NTZ→LTZ is value-preserving. Works
    * on batch and streaming DataFrames alike (pure column transform).
    */
  def normalizeTs(df: DataFrame, col: String = "ts"): DataFrame = {
    import org.apache.spark.sql.functions
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema(col).dataType match {
      case LongType =>
        // epoch-nanos as long: exact integer DIV (a double division would
        // lose precision on 1.7e18-scale values)
        df.withColumn(col, functions.expr(s"timestamp_micros($col DIV 1000)"))
      case TimestampType => df
      case TimestampNTZType =>
        // NTZ wall-clock values are UTC instants by the testdata contract;
        // CAST interprets them in the session zone, so it is only
        // value-preserving under UTC — assert rather than silently shift
        val tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
        require(tz == "UTC",
          s"events.ts is TIMESTAMP_NTZ; normalization requires a UTC session, got $tz")
        df.withColumn(col, functions.col(col).cast(TimestampType))
      case other => throw new IllegalStateException(
        s"unexpected events.$col type $other — known vintages are " +
          "INT64 epoch-nanos, TIMESTAMP, TIMESTAMP_NTZ")
    }
  }

  /** Register every table of `dir` as a temp view so `spark.sql` works
    * against the set. A table `dir` does not hold loses its view: a query
    * naming it fails as an unknown table instead of reading another
    * directory's, and a gate over inline data builds with any `dir`.
    */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach { n =>
      val path = s"$dir/$n.parquet"
      try register(spark, n, path)
      catch {
        case _: AnalysisException if version(spark, path).isEmpty =>
          spark.catalog.dropTempView(n)
      }
    }

  /** Expose a table Druid-style: its event-time column renamed to `__time`.
    * Only `events` (ts) and the date-bearing TPC-H tables have event time.
    */
  def asDruid(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = load(spark, dir, name)
    val timeCol = name match {
      case "events"   => Some("ts")
      case "orders"   => Some("o_orderdate")
      case "lineitem" => Some("l_shipdate")
      case _          => None
    }
    timeCol.fold(df)(c => df.withColumnRenamed(c, TimeColumn))
  }
}
