package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table layer: named parquet tables under a scale-factor directory.
  *
  * Mirrors the reference's datasource catalog (a Druid "datasource" is a named,
  * time-partitioned table — reference: `processing/.../query/TableDataSource.java:37`).
  * In this engine a datasource is simply a DataFrame read from columnar storage;
  * at cluster scale these would be Delta/Parquet tables partitioned by
  * `date_trunc('day', __time)` so that interval filters prune partitions
  * (reference behavior: `MoveTimeFiltersToIntervals.java`, mapped to Spark
  * partition pruning — see SURVEY.md §4.1).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The reference's mandatory time column name (ColumnHolder.java:32). */
  val TimeColumn = "__time"

  /** Memoized per (session, dir, name): a load costs ~75 ms of driver-side
    * parquet footer/schema work, and gate builders call it on every build
    * (the bench builds each gate three times — warmup + two timed runs).
    * This caches the immutable logical PLAN, never data or results: every
    * execution still scans the parquet inputs.
    *
    * Keyed by `sessionUUID` (a plain String), NOT by the session object:
    * a WeakHashMap keyed on the session would never collect, because the
    * cached DataFrames strongly reference their SparkSession through
    * `Dataset.sparkSession` — the classic value→key leak (r20 advice).
    * Stale sessions' entries are swept on the next cache miss instead:
    * sweep cost is O(live sessions), and entries of closed sessions are
    * dropped as soon as any other session takes a miss.
    */
  private val loadCache =
    new java.util.concurrent.ConcurrentHashMap[String,
      scala.collection.concurrent.TrieMap[(String, String), DataFrame]]()

  /** Drop cached plans owned by sessions that have been stopped (their
    * SparkContext is gone) or whose SparkSession is no longer registered as
    * an active/default session. Called on cache misses only — the hot path
    * (hit) stays a single map read.
    */
  // sessionUUID is private[sql] in Spark 4 — read it through the bridge
  private def sid(s: SparkSession): String =
    org.apache.spark.sql.graftbridge.Bridge.sessionUUID(s)

  private def sweepStaleSessions(live: SparkSession): Unit = {
    val liveIds = new java.util.HashSet[String]()
    liveIds.add(sid(live))
    SparkSession.getActiveSession.foreach(s => liveIds.add(sid(s)))
    SparkSession.getDefaultSession.foreach(s => liveIds.add(sid(s)))
    loadCache.keySet.removeIf(k => !liveIds.contains(k))
  }

  /** Test hook: session ids currently holding cached plans. */
  private[graft] def cachedSessionIds: Set[String] = {
    import scala.jdk.CollectionConverters._
    loadCache.keySet.asScala.toSet
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val perSession = loadCache.computeIfAbsent(sid(spark),
      _ => scala.collection.concurrent.TrieMap.empty[(String, String), DataFrame])
    perSession.get((dir, name)) match {
      case Some(df) => df
      case None =>
        // a miss already pays ~75 ms of footer work; piggyback the sweep
        // here so stale sessions' plans drop without touching the hit path
        sweepStaleSessions(spark)
        perSession.getOrElseUpdate((dir, name), loadUncached(spark, dir, name))
    }
  }

  private def loadUncached(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") {
      // events.ts has shipped as either INT64 TIMESTAMP(NANOS) (which Spark's
      // reader rejects outright without the legacy nanos-as-long conf) or as
      // plain TIMESTAMP(MICROS) with isAdjustedToUTC=false (which Spark 4
      // infers as TIMESTAMP_NTZ).
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      normalizeTs(spark.read.parquet(s"$dir/$name.parquet"))
    } else {
      spark.read.parquet(s"$dir/$name.parquet")
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

  /** Latest-registered sf dir per session: registerAll is called defensively
    * before every SQL-text query, and each call re-reads ten parquet footers
    * on the driver — skip when the session's views already point at `dir`.
    * (Weak keys: sessions must stay collectable.)
    */
  private val registeredDir =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, String]())

  /** Register every table as a temp view so `spark.sql` works against the
    * set.
    */
  def registerAll(spark: SparkSession, dir: String): Unit = {
    if (registeredDir.get(spark) != dir) {
      all.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
      registeredDir.put(spark, dir)
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
