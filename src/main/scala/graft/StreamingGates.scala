package graft

import org.apache.spark.sql.functions._

import graft.Gate.t
import graft.streaming.StreamingIngest

/** Streaming ingestion gates (§2.10).
  */
object StreamingGates {

  val gates: Seq[Gate] = Seq(

    // ------------------------------------------------------ streaming (§2.10)
    Gate("q_stream_rollup", (s, dir) => {
      // same ns-parquet handling as Tables.load, in streaming form; the file
      // stream source needs a glob (directory-style) path, not a bare file
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      val stream = Tables.normalizeTs(
        StreamingIngest.source(s, s"$dir/events*.parquet", schema))
      StreamingIngest.runBounded(s, stream, "ts", "1 hour",
        Seq("event_type"), queryName = "stream_rollup_out")
        .select(col("bucket"), col("event_type"), col("n"),
          round(col("sum_value"), 3).as("sum_value"))
        .orderBy(col("bucket"), col("event_type"))
    },
      """SELECT date_trunc('hour', ts) AS bucket, event_type, count(*) AS n,
                round(sum(value), 3) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY 1, 2"""),

    Gate("q_stream_enrich", (s, dir) => {
      // ingest-time transform + lookup (reference transformSpec lookup()):
      // derive a dimension key per event, enrich the stream against a
      // broadcast nation snapshot, then rollup by the looked-up name — the
      // stream never shuffles for the join
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      val stream = Tables.normalizeTs(
        StreamingIngest.source(s, s"$dir/events*.parquet", schema))
        .withColumn("nk", pmod(col("user_id"), lit(25)))
      val dim = Tables.load(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"))
      val enriched = StreamingIngest.enrich(stream, dim,
        col("nk") === col("n_nationkey"))
      StreamingIngest.runBoundedAgg(s,
        StreamingIngest.rollup(enriched, "ts", "1 day", Seq("n_name")),
        queryName = "stream_enrich_out")
        .select(col("bucket"), col("n_name"), col("n"),
          round(col("sum_value"), 3).as("sum_value"))
        .orderBy(col("bucket"), col("n_name"))
    },
      """SELECT date_trunc('day', ts) AS bucket, n_name, count(*) AS n,
                round(sum(value), 3) AS sum_value
         FROM events LEFT JOIN nation ON user_id % 25 = n_nationkey
         GROUP BY 1, 2 ORDER BY bucket, n_name"""),

    // quidem qaJsonCols funcs_and_sql_func_json_{keys,object,paths,query}:
    // the JSON function battery over the stored props column
    // array-typed results ride as comma-joined strings: the driver's pandas
    // comparator cannot hash ndarray cells (r7 red gate)
    Gate.spark("q_sql_json_funcs",
      """SELECT event_id,
                  array_join(JSON_KEYS(props, '$'), ',') AS ks,
                  array_join(JSON_PATHS(props), ',') AS ps,
                  JSON_QUERY(props, '$.k') AS qk,
                  JSON_OBJECT('a', CAST(event_id AS STRING)) AS obj,
                  JSON_VALUE(props, '$.k') AS v
           FROM events WHERE event_id < 100
           ORDER BY event_id""",
      """SELECT event_id,
                array_to_string(json_keys(props), ',') AS ks,
                array_to_string(list_transform(json_keys(props), k -> '$.' || k), ',') AS ps,
                props->>'$.k' AS qk,
                CAST(json_object('a', CAST(event_id AS VARCHAR)) AS VARCHAR) AS obj,
                props->>'$.k' AS v
         FROM events WHERE event_id < 100
         ORDER BY event_id"""),

    // reference experimental PIVOT (sql.md:90): rows→columns with an
    // aggregate per pivoted value; one shared standard-syntax text
    Gate.spark("q_sql_pivot",
      """SELECT * FROM (SELECT o_orderstatus, o_orderpriority FROM orders)
           PIVOT (count(*) FOR o_orderstatus IN ('O' AS o, 'F' AS f, 'P' AS p))
           ORDER BY o_orderpriority"""),

    // reference experimental UNPIVOT (sql.md:61): columns→rows
    Gate.spark("q_sql_unpivot",
      """SELECT o_orderpriority, status, n FROM (
             SELECT o_orderpriority,
                    count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS open_n,
                    count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS done_n
             FROM orders GROUP BY o_orderpriority) t
           UNPIVOT (n FOR status IN (open_n, done_n))
           ORDER BY o_orderpriority, status"""),

    Gate("q_stream_sessionize", (s, dir) => {
      // the custom-state streaming op, ORACLE-verified cross-paradigm: the
      // streaming flatMapGroupsWithState sessionizer over a file stream
      // must equal the batch gaps-and-islands SQL DuckDB runs. PER-KEY
      // far-future sentinel rows ride in the SAME micro-batch as the data
      // (r21, guide §1.2 — remove passes): each user's sorted in-batch run
      // ends with a sentinel whose gap exceeds the threshold, so every real
      // session closes and is emitted IN the data batch, and no event-time
      // timeout flush is ever needed. The old shape (single sentinel key
      // in its own maxFilesPerTrigger=1 batch + a timeout-flush batch) ran
      // THREE state-store passes where the work fits in one; the only
      // remaining extra batch is Spark's standard no-data batch after the
      // watermark advance, which finds no expired timeouts and emits
      // nothing. Sentinel-opened sessions never close, so they are never
      // emitted (append mode emits closed sessions only).
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = s.read.parquet(s"$dir/events.parquet")
      val staging = Gate.scratch(dir, "stream_sessionize")
      val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(staging), true)
      // the data file is the ORIGINAL immutable parquet file, symlinked —
      // copying the fact table through coalesce(1) was the gate's entire
      // cost before r19
      new java.io.File(s"$staging/b0").mkdirs()
      java.nio.file.Files.createSymbolicLink(
        java.nio.file.Paths.get(s"$staging/b0/events.parquet"),
        java.nio.file.Paths.get(s"$dir/events.parquet"))
      // the sentinel's ts must be written in the SAME vintage as the raw
      // file (the stream reads both b0 and b1 under raw.schema), so push
      // the +365d arithmetic into the raw ts domain: nanos-long stays
      // integer math, timestamp/NTZ stays timestamp + interval. ONE GLOBAL
      // far-future instant shared by every user's sentinel: per-user
      // maxima would spread the sentinels across > the 30 min gap, and the
      // no-data batch's watermark (global max − 1 min) would TIME OUT the
      // earlier users' sentinel-opened sessions and emit them as phantom
      // rows (measured: +143 rows at sf0.01).
      val farFuture = raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          (max(col("ts")) + lit(365L * 86400 * 1000000000L)).as("ts")
        case _ =>
          (max(col("ts")) + expr("INTERVAL 365 DAYS")).as("ts")
      }
      raw.select(col("user_id")).distinct()
        .crossJoin(broadcast(raw.agg(farFuture)))
        .select(
          lit(-1L).as("event_id"),
          col("ts"),
          col("user_id"),
          lit("__sentinel__").as("event_type"),
          lit(0.0).as("value"),
          lit(null).cast("string").as("props"))
        .coalesce(1).write.parquet(s"$staging/b1")
      // no maxFilesPerTrigger: both files land in ONE micro-batch
      val stream = Tables.normalizeTs(
        s.readStream.schema(raw.schema)
          .parquet(s"$staging/b*/*.parquet"))
      val sessions = StreamingIngest.sessionize(stream, "ts", "user_id",
        gapMinutes = 30, watermark = "1 minutes")
      // the sentinel design closes every emittable session IN the data
      // batch, so the standard post-watermark no-data batch (which exists
      // to fire event-time timeouts) can only scan state and emit nothing
      // — measured 0.8-2.0 s of pure state-store machinery per run. Skip
      // it, scoped to this query; the setting is scale-independent (the
      // bounded sentinel pattern needs no timeout flush at any SF).
      val NoDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"
      val prevNoData = s.conf.getOption(NoDataKey)
      s.conf.set(NoDataKey, "false")
      val q =
        try sessions.writeStream.outputMode("append").format("memory")
          .queryName("stream_sessionize_out").start()
        finally prevNoData match {
          case Some(v) => s.conf.set(NoDataKey, v)
          case None    => s.conf.unset(NoDataKey)
        }
      q.processAllAvailable(); q.stop()
      s.table("stream_sessionize_out")
        .select(col("key"),
          date_trunc("second", col("session_start")).as("session_start"),
          date_trunc("second", col("session_end")).as("session_end"),
          col("n_events"))
        .orderBy(col("key"), col("session_start"))
    },
      """WITH marked AS (
           SELECT user_id, ts,
                  CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         <= INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS new_s
           FROM events),
         sess AS (
           SELECT user_id, ts,
                  SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           FROM marked)
         SELECT CAST(user_id AS VARCHAR(32)) AS key,
                date_trunc('second', min(ts)) AS session_start,
                date_trunc('second', max(ts)) AS session_end,
                count(*) AS n_events
         FROM sess GROUP BY user_id, sid
         ORDER BY key, session_start"""),

    Gate("q_json_shred", (s, dir) => {
      // nested-column shredding at ingest: infer the props schema from a
      // sample, from_json into a typed struct, and aggregate on the typed
      // leaf — the shredded field behaves as a real numeric column
      val shredded = graft.operators.Ingest.shredJson(
        t(s, dir)("events"), "props", "props_t")
      shredded
        .groupBy(col("event_type"))
        .agg(count(col("props_t.k")).as("n_k"),
          sum(col("props_t.k")).as("sum_k"),
          max(col("props_t.k")).as("max_k"))
        .orderBy(col("event_type"))
    },
      """SELECT event_type,
                count(CAST(props->>'$.k' AS BIGINT)) AS n_k,
                CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
                max(CAST(props->>'$.k' AS BIGINT)) AS max_k
         FROM events GROUP BY event_type ORDER BY event_type"""),

    Gate("q_inflight_union", (s, dir) => {
      // queryable-in-flight data (reference StreamAppenderator.java:119):
      // ingest the whole events stream into the STAGING tier, then query
      // the realtime ∪ historical view while nothing has been published —
      // the aggregate must match the batch table exactly, proving the
      // in-flight tier serves complete data before handoff
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      val base = Gate.scratch(dir, "inflight")
      val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      val stream = StreamingIngest.source(s, s"$dir/events*.parquet", schema)
      val q = StreamingIngest.Appenderator.start(stream, s"$base/staging", s"$base/ckpt")
      q.awaitTermination()
      Tables.normalizeTs(StreamingIngest.Appenderator
        .view(s, s"$base/committed", s"$base/staging", schema))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 3).as("sum_value"))
        .orderBy(col("event_type"))
    },
      """SELECT event_type, count(*) AS n, round(sum(value), 3) AS sum_value
         FROM events GROUP BY event_type ORDER BY event_type""")
  )
}
