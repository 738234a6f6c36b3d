package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Gate.t
import graft.functions.DruidFunctions
import graft.operators.{Joins, NativeQueries => NQ, PostProcessing}
import graft.streaming.StreamingIngest

/** Native query-type gates: scan, timeBoundary, timeseries, topN, groupBy,
  * filters, joins, set operations, unnest and windows (SURVEY.md §2.1–§2.8,
  * §2.11), each built through the graft operator library.
  */
object NativeQueryGates {

  val gates: Seq[Gate] = Seq(

    // ----------------------------------------------------- scan (§2.1/§2.7)
    Gate("q_scan", (s, dir) => {
      NQ.scan(t(s, dir)("lineitem"),
        Seq("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_shipdate"),
        filter = Some(col("l_quantity") > 45 &&
          col("l_shipdate") >= lit("1994-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-01-01").cast("timestamp")),
        orderBy = Seq(col("l_orderkey"), col("l_linenumber")),
        limit = Some(500))
    },
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_shipdate
         FROM lineitem
         WHERE l_quantity > 45 AND l_shipdate >= TIMESTAMP '1994-01-01'
           AND l_shipdate < TIMESTAMP '1996-01-01'
         ORDER BY l_orderkey, l_linenumber LIMIT 500"""),

    Gate("q_scan_desc", (s, dir) => {
      // scan with descending __time ordering (reference ScanQuery order
      // "descending" — the only native scan ordering besides ascending);
      // event_id tiebreak for cross-engine determinism
      NQ.scan(t(s, dir)("events"),
        Seq("event_id", "event_type", "value"),
        filter = Some(col("event_type") === "click"),
        orderBy = Seq(col("event_id").desc),
        limit = Some(200))
    },
      """SELECT event_id, event_type, value FROM events
         WHERE event_type = 'click'
         ORDER BY event_id DESC LIMIT 200"""),

    Gate("q_scan_offset", (s, dir) => {
      NQ.scan(t(s, dir)("orders"),
        Seq("o_orderkey", "o_orderstatus", "o_totalprice"),
        filter = Some(col("o_orderstatus") === "F"),
        orderBy = Seq(col("o_orderkey")),
        limit = Some(100), offset = 50)
    },
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
         WHERE o_orderstatus = 'F'
         ORDER BY o_orderkey LIMIT 100 OFFSET 50"""),

    // ------------------------------------------- timeBoundary / dsMeta (§2.11)
    Gate("q_time_boundary", (s, dir) => {
      t(s, dir)("events").agg(
        date_trunc("second", min(col("ts"))).as("min_time"),
        date_trunc("second", max(col("ts"))).as("max_time"))
    },
      """SELECT date_trunc('second', min(ts)) AS min_time,
                date_trunc('second', max(ts)) AS max_time FROM events"""),

    Gate("q_datasource_metadata", (s, dir) => {
      t(s, dir)("events").agg(
        count(lit(1)).as("num_rows"),
        date_trunc("second", max(col("ts"))).as("max_ingested_time"))
    },
      """SELECT count(*) AS num_rows,
                date_trunc('second', max(ts)) AS max_ingested_time FROM events"""),

    // ------------------------------------------------------ timeseries (§2.11)
    Gate("q_timeseries_hour", (s, dir) => {
      NQ.timeseries(t(s, dir)("events"), "ts", "PT1H",
        Seq(count(lit(1)).as("n"), round(sum(col("value")), 3).as("sum_value")))
    },
      """SELECT date_trunc('hour', ts) AS bucket, count(*) AS n,
                round(sum(value), 3) AS sum_value
         FROM events GROUP BY 1 ORDER BY 1"""),

    Gate("q_timeseries_subsecond", (s, dir) => {
      // sub-second DurationGranularity (reference DurationGranularity.java
      // takes arbitrary millis): 500 ms buckets through the JSON facade,
      // floored in exact integer micros. Bucket emitted as epoch-millis
      // BIGINT — at 500 ms edges the ns→us truncation cannot move a row
      // across a boundary, so the oracle is exact
      val df = graft.api.NativeJsonQuery.run(s, dir, """
        {"queryType": "timeseries", "dataSource": "events",
         "granularity": {"type": "duration", "duration": 500},
         "aggregations": [{"type": "count", "name": "n"}],
         "intervals": ["2024-01-01T00:00:00Z/2024-02-01T00:00:00Z"],
         "context": {"skipEmptyBuckets": true}}""")
      df.select((unix_micros(col("timestamp")) / 1000).cast("long")
          .as("bucket_ms"), col("n"))
        .orderBy(col("bucket_ms"))
    },
      """SELECT (epoch_ns(ts) // 500000000) * 500 AS bucket_ms,
                CAST(count(*) AS BIGINT) AS n
         FROM events
         WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
         GROUP BY 1 ORDER BY 1"""),

    Gate("q_timeseries_gaps", (s, dir) => {
      // zero-fill across INTERIOR gaps (not just dense series): purchase ∧
      // value ≥ 300 leaves rows on ~5 of 30 days at sf0.01, and every empty
      // day must still come back — count 0, sum null (reference timeseries
      // zero-fill, TimeseriesQueryEngine skipEmptyBuckets=false default)
      graft.api.NativeJsonQuery.run(s, dir, """
        {"queryType": "timeseries", "dataSource": "events",
         "granularity": "day",
         "intervals": ["2024-01-01T00:00:00Z/2024-01-31T00:00:00Z"],
         "filter": {"type": "and", "fields": [
            {"type": "selector", "dimension": "event_type", "value": "purchase"},
            {"type": "bound", "dimension": "value", "lower": 300}]},
         "aggregations": [{"type": "count", "name": "n"},
                          {"type": "doubleSum", "name": "sv", "fieldName": "value"}]}""")
        .withColumn("sv", round(col("sv"), 3))
    },
      """WITH g AS (
           SELECT unnest(generate_series(TIMESTAMP '2024-01-01',
                                         TIMESTAMP '2024-01-30',
                                         INTERVAL 1 DAY)) AS timestamp),
         b AS (
           SELECT date_trunc('day', ts) AS timestamp,
                  CAST(count(*) AS BIGINT) AS n, round(sum(value), 3) AS sv
           FROM events WHERE event_type = 'purchase' AND value >= 300
           GROUP BY 1)
         SELECT g.timestamp, coalesce(b.n, 0) AS n, b.sv AS sv
         FROM g LEFT JOIN b ON b.timestamp = g.timestamp
         ORDER BY g.timestamp"""),

    Gate("q_moving_avg_gaps", (s, dir) => {
      // movingAverage across interior gaps: the 7-bucket Mean divides by 7
      // with absent buckets counting as ZERO (dense-grid semantics,
      // reference MovingAverageIterable), and the gap days are emitted
      graft.api.NativeJsonQuery.run(s, dir, """
        {"queryType": "movingAverage", "dataSource": "events",
         "granularity": "day",
         "intervals": ["2024-01-01T00:00:00Z/2024-01-31T00:00:00Z"],
         "filter": {"type": "and", "fields": [
            {"type": "selector", "dimension": "event_type", "value": "purchase"},
            {"type": "bound", "dimension": "value", "lower": 300}]},
         "aggregations": [{"type": "doubleSum", "name": "dv", "fieldName": "value"}],
         "averagers": [
           {"type": "doubleMean", "name": "ma7", "fieldName": "dv", "buckets": 7},
           {"type": "doubleMax", "name": "mx7", "fieldName": "dv", "buckets": 7}]}""")
        .withColumn("dv", round(col("dv"), 3))
        .withColumn("ma7", round(col("ma7"), 3))
        .withColumn("mx7", round(col("mx7"), 3))
    },
      """WITH g AS (
           SELECT unnest(generate_series(TIMESTAMP '2024-01-01',
                                         TIMESTAMP '2024-01-30',
                                         INTERVAL 1 DAY)) AS timestamp),
         b AS (
           SELECT date_trunc('day', ts) AS timestamp, sum(value) AS dv
           FROM events WHERE event_type = 'purchase' AND value >= 300
           GROUP BY 1),
         d AS (SELECT g.timestamp, b.dv
               FROM g LEFT JOIN b ON b.timestamp = g.timestamp)
         SELECT timestamp, round(dv, 3) AS dv,
                round(sum(dv) OVER w / 7, 3) AS ma7,
                round(max(dv) OVER w, 3) AS mx7
         FROM d
         WINDOW w AS (ORDER BY timestamp ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
         ORDER BY timestamp"""),

    Gate("q_window_sparse_range", (s, dir) => {
      // RANGE frame over a gappy per-type daily series: value > 250 leaves
      // each event_type with rows on only 7-14 of 30 days, so a 3-day RANGE
      // window covers FEWER rows than a 3-row ROWS frame — the frame must
      // be value-based, not row-position-based
      import org.apache.spark.sql.expressions.Window
      val daily = t(s, dir)("events").filter(col("value") > 250)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(sum(col("value")).as("dv"))
        .withColumn("day_num", datediff(col("day"), lit("1970-01-01")))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day_num"))
        .rangeBetween(-2, 0)
      daily.select(col("event_type"), col("day"),
          round(col("dv"), 3).as("dv"),
          round(sum(col("dv")).over(w), 3).as("s3"),
          count(lit(1)).over(w).as("rows3"))
        .orderBy(col("event_type"), col("day"))
    },
      """WITH b AS (
           SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
                  sum(value) AS dv
           FROM events WHERE value > 250 GROUP BY 1, 2),
         d AS (SELECT *, datediff('day', DATE '1970-01-01', day) AS day_num
               FROM b)
         SELECT event_type, day, round(dv, 3) AS dv,
                round(sum(dv) OVER w, 3) AS s3,
                CAST(count(*) OVER w AS BIGINT) AS rows3
         FROM d
         WINDOW w AS (PARTITION BY event_type ORDER BY day_num
                      RANGE BETWEEN 2 PRECEDING AND CURRENT ROW)
         ORDER BY event_type, day"""),

    Gate("q_retention", (s, dir) => {
      // day-N retention cohorts: for each signup-day cohort (first-seen
      // day), the share still active 7 days later — two tiny per-user
      // aggregates, the day-7 check as a semi join
      val ev = t(s, dir)("events")
      val firstDay = ev.groupBy(col("user_id"))
        .agg(to_date(min(col("ts"))).as("cohort_day"))
      val activeDays = ev.select(col("user_id"), to_date(col("ts")).as("day"))
        .distinct()
      val retained = firstDay.join(activeDays, Seq("user_id"))
        .filter(col("day") === date_add(col("cohort_day"), 7))
        .select(col("user_id"), col("cohort_day"))
      firstDay.groupBy(col("cohort_day")).agg(count(lit(1)).as("cohort_size"))
        .join(retained.groupBy(col("cohort_day"))
          .agg(count(lit(1)).as("n_retained")), Seq("cohort_day"), "left")
        .select(col("cohort_day"), col("cohort_size"),
          coalesce(col("n_retained"), lit(0L)).as("n_retained"))
        .orderBy(col("cohort_day"))
    },
      """WITH fd AS (SELECT user_id, CAST(min(ts) AS DATE) AS cohort_day
                     FROM events GROUP BY user_id),
              ad AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
                     FROM events),
              ret AS (SELECT fd.user_id, fd.cohort_day
                      FROM fd JOIN ad USING (user_id)
                      WHERE ad.day = fd.cohort_day + 7)
         SELECT fd.cohort_day, count(*) AS cohort_size,
                CAST(coalesce((SELECT count(*) FROM ret
                               WHERE ret.cohort_day = fd.cohort_day), 0)
                  AS BIGINT) AS n_retained
         FROM fd GROUP BY fd.cohort_day ORDER BY fd.cohort_day"""),

    Gate("q_funnel", (s, dir) => {
      // funnel conversion: users whose first 'view' is followed by a
      // 'purchase' within 1 hour — a first-event aggregate joined against
      // the purchase stream (broadcastable: one row per user)
      val ev = t(s, dir)("events")
      val firstView = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("first_view"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_ts"))
      val converted = firstView.join(purchases, Seq("user_id"))
        .filter(col("p_ts") >= col("first_view") &&
          col("p_ts") <= col("first_view") + expr("INTERVAL 1 HOUR"))
        .select(col("user_id")).distinct()
      firstView.agg(count(lit(1)).as("n_viewers"))
        .crossJoin(converted.agg(count(lit(1)).as("n_converted")))
        .select(col("n_viewers"), col("n_converted"),
          round(col("n_converted") / col("n_viewers"), 4).as("conv_rate"))
    },
      """WITH fv AS (SELECT user_id, min(ts) AS first_view FROM events
                     WHERE event_type = 'view' GROUP BY user_id),
              conv AS (SELECT DISTINCT fv.user_id
                       FROM fv JOIN events p USING (user_id)
                       WHERE p.event_type = 'purchase'
                         AND p.ts >= fv.first_view
                         AND p.ts <= fv.first_view + INTERVAL 1 HOUR)
         SELECT (SELECT count(*) FROM fv) AS n_viewers,
                (SELECT count(*) FROM conv) AS n_converted,
                round((SELECT count(*) FROM conv) * 1.0 /
                      (SELECT count(*) FROM fv), 4) AS conv_rate"""),

    Gate("q_sessionize", (s, dir) => {
      // batch sessionization (the streaming form lives in
      // StreamingIngest/StreamingSpec): a session breaks after a 30-minute
      // gap; session id = running count of breaks per user — one window
      // pass for the lag, one for the running sum, then a groupBy
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      val ev = t(s, dir)("events")
        .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        .withColumn("brk", when(col("prev_ts").isNull ||
          unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800, 1)
          .otherwise(0))
        .withColumn("session_no", sum(col("brk")).over(byUser))
      ev.groupBy(col("user_id"), col("session_no"))
        .agg(count(lit(1)).as("n_events"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"),
          max(col("n_events")).as("longest_session"))
        .filter(col("n_sessions") >= 3)
        .orderBy(col("user_id"))
    },
      """WITH gaps AS (
           SELECT user_id, ts,
                  CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                       THEN 1 ELSE 0 END AS brk
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         sess AS (
           SELECT user_id,
                  sum(brk) OVER (PARTITION BY user_id ORDER BY ts) AS session_no
           FROM gaps),
         per_session AS (
           SELECT user_id, session_no, count(*) AS n_events
           FROM sess GROUP BY user_id, session_no)
         SELECT user_id, count(*) AS n_sessions,
                max(n_events) AS longest_session
         FROM per_session GROUP BY user_id
         HAVING count(*) >= 3 ORDER BY user_id"""),

    Gate("q_session_window", (s, dir) => {
      // Spark-NATIVE session windows (the session_window grouping function
      // — the idiomatic scale path for sessionization: one gap-merging
      // aggregation, no lag+running-sum window pair like q_sessionize):
      // 30-minute gap, per-user session aggregates; the oracle rebuilds the
      // same sessions with the classic gaps-and-islands formulation.
      // Spark opens a NEW session when the gap >= the duration (the
      // previous session's half-open [start, last+gap) end excludes it).
      t(s, dir)("events").filter(col("user_id") < 40)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value").cast("decimal(18,6)")), 3).cast("double")
            .as("sum_v"))
        .select(col("user_id"),
          date_trunc("second", col("session_window.start")).as("session_start"),
          col("n_events"), col("sum_v"))
        .orderBy(col("user_id"), col("session_start"))
    },
      """WITH e AS (SELECT user_id, ts, value FROM events WHERE user_id < 40),
         x AS (
           SELECT user_id, ts, value,
                  CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch(ts) - epoch(lag(ts) OVER w) >= 1800
                       THEN 1 ELSE 0 END AS brk
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         s AS (
           SELECT user_id, ts, value,
                  sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                    ROWS UNBOUNDED PRECEDING) AS sid
           FROM x)
         SELECT user_id,
                date_trunc('second', min(ts)) AS session_start,
                count(*) AS n_events,
                CAST(round(sum(CAST(value AS DECIMAL(18,6))), 3) AS DOUBLE) AS sum_v
         FROM s GROUP BY user_id, sid
         ORDER BY user_id, session_start"""),

    Gate("q_timewarp", (s, dir) => {
      // timewarp post-processing (reference TimewarpOperator): answer a
      // "this week" query from last week's complete data — query the
      // interval shifted back one week, then shift result buckets forward
      val base = t(s, dir)("events")
        .filter(col("ts") >= lit("2024-01-01").cast("timestamp") &&
          col("ts") < lit("2024-01-08").cast("timestamp"))
      val daily = base
        .groupBy(DruidFunctions.timeFloor(col("ts"), "P1D").as("bucket"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 3).as("sum_value"))
      PostProcessing.timewarp(daily, "bucket", "P7D", 1).orderBy(col("bucket"))
    },
      """SELECT date_trunc('day', ts) + INTERVAL 7 DAY AS bucket,
                count(*) AS n, round(sum(value), 3) AS sum_value
         FROM events
         WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-08'
         GROUP BY 1 ORDER BY 1"""),

    Gate("q_timeseries_zerofill", (s, dir) => {
      NQ.timeseries(t(s, dir)("events"), "ts", "P1D",
        Seq(count(lit(1)).as("n")),
        filter = Some(col("event_type") === "signup" &&
          col("ts") >= lit("2024-01-01").cast("timestamp") &&
          col("ts") < lit("2024-01-09").cast("timestamp")),
        zeroFill = Some(("2024-01-01", "2024-01-08")))
        .select(col("bucket"), coalesce(col("n"), lit(0L)).as("n"))
    },
      """WITH buckets AS (
           SELECT unnest(generate_series(TIMESTAMP '2024-01-01',
                                         TIMESTAMP '2024-01-08',
                                         INTERVAL 1 DAY)) AS bucket),
         agg AS (
           SELECT date_trunc('day', ts) AS bucket, count(*) AS n
           FROM events
           WHERE event_type = 'signup' AND ts >= TIMESTAMP '2024-01-01'
             AND ts < TIMESTAMP '2024-01-09'
           GROUP BY 1)
         SELECT b.bucket, coalesce(a.n, 0) AS n
         FROM buckets b LEFT JOIN agg a ON a.bucket = b.bucket
         ORDER BY b.bucket"""),

    // ------------------------------------------------------------ topN (§2.7)
    Gate("q_topn", (s, dir) => {
      NQ.topN(t(s, dir)("events"), col("user_id"),
        Seq(count(lit(1)).as("n"), round(sum(col("value")), 3).as("sum_value")),
        metric = "n", k = 20, tiebreak = Seq(col("user_id").asc))
    },
      """SELECT user_id, count(*) AS n, round(sum(value), 3) AS sum_value
         FROM events GROUP BY user_id
         ORDER BY n DESC, user_id LIMIT 20"""),

    Gate("q_topn_approx", (s, dir) => {
      // the reference's APPROXIMATE topN algorithm as a custom SparkPlan
      // (plans/ApproxTopN): per-partition top-1000 partials, merge. Exact
      // whenever per-partition cardinality <= 1000 — true at the oracle SF,
      // so this hash-matches the exact query
      graft.plans.ApproxTopN.approxTopN(t(s, dir)("events"), "user_id",
        valueCol = None, k = 20)
        .select(col("user_id"), col("metric").cast("long").as("n"))
    },
      """SELECT user_id, count(*) AS n FROM events GROUP BY user_id
         ORDER BY n DESC, user_id ASC LIMIT 20"""),

    Gate("q_topn_inverted", (s, dir) => {
      // inverted topN metric spec (reference InvertedTopNMetricSpec):
      // bottom-K by the metric
      t(s, dir)("events")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").asc, col("user_id").asc)
        .limit(15)
    },
      """SELECT user_id, count(*) AS n FROM events GROUP BY user_id
         ORDER BY n ASC, user_id ASC LIMIT 15"""),

    Gate("q_topn_dim_order", (s, dir) => {
      // dimension-ordered topN (reference DimensionTopNMetricSpec,
      // lexicographic): first K dimension values with their aggregates
      t(s, dir)("part")
        .groupBy(col("p_type"))
        .agg(count(lit(1)).as("n"), sum(col("p_size")).as("sum_size"))
        .orderBy(col("p_type").asc)
        .limit(4)
    },
      """SELECT p_type, count(*) AS n, CAST(sum(p_size) AS BIGINT) AS sum_size
         FROM part GROUP BY p_type ORDER BY p_type ASC LIMIT 4"""),

    // full TIME_FLOOR arity (reference TimeFloorOperatorConversion):
    // origin-anchored fixed buckets, timezone wall-clock calendar floors
    // (zone-local midnight across the DST line), arbitrary fixed periods
    Gate.spark("q_sql_timefloor_full",
      """
        SELECT event_id,
               TIME_FLOOR(ts, 'PT15M', '1970-01-01T00:07:00') AS f_origin,
               TIME_FLOOR(ts, 'P1D', NULL, 'America/Los_Angeles') AS f_la,
               TIME_FLOOR(ts, 'PT6H') AS f_6h
        FROM events WHERE event_id < 300 ORDER BY event_id""",
      """SELECT event_id,
                time_bucket(INTERVAL '15 minutes', ts,
                  TIMESTAMP '1970-01-01 00:07:00') AS f_origin,
                (date_trunc('day', (ts AT TIME ZONE 'UTC')
                   AT TIME ZONE 'America/Los_Angeles')
                 AT TIME ZONE 'America/Los_Angeles') AT TIME ZONE 'UTC' AS f_la,
                time_bucket(INTERVAL '6 hours', ts) AS f_6h
         FROM events WHERE event_id < 300 ORDER BY event_id"""),

    Gate("q_sql_quoted_idents", (s, dir) => {
      // Calcite double-quoted identifiers exactly as the reference console
      // emits them — the SQL API accepts the dialect verbatim
      graft.api.SqlApi.run(s, dir, """{
        "query": "SELECT \"t\".\"event_type\" AS \"type\", CAST(COUNT(*) AS BIGINT) AS \"count\" FROM \"events\" AS \"t\" WHERE \"t\".\"event_id\" < 1000 GROUP BY \"t\".\"event_type\" ORDER BY \"type\""
      }""")
    },
      """SELECT "t"."event_type" AS "type", CAST(COUNT(*) AS BIGINT) AS "count"
         FROM events AS t WHERE t.event_id < 1000
         GROUP BY t.event_type ORDER BY "type""""),

    Gate("q_sql_floor_to", (s, dir) => {
      // Calcite FLOOR(t TO unit) / CEIL(t TO unit) — the console's time
      // bucketing syntax, translated by SqlApi.floorCeilTo
      graft.api.SqlApi.run(s, dir, """{
        "query": "SELECT FLOOR(ts TO DAY) AS d, CEIL(ts TO HOUR) AS ch, CAST(count(*) AS BIGINT) AS n FROM events WHERE event_id < 2000 GROUP BY FLOOR(ts TO DAY), CEIL(ts TO HOUR) ORDER BY d, ch"
      }""")
    },
      """SELECT date_trunc('day', ts) AS d,
                date_trunc('hour', ts - INTERVAL 1 MICROSECOND)
                  + INTERVAL 1 HOUR AS ch,
                CAST(count(*) AS BIGINT) AS n
         FROM events WHERE event_id < 2000
         GROUP BY 1, 2 ORDER BY d, ch"""),

    // DruidOperatorTable.java:229: TRUNC aliases numeric TRUNCATE (digits
    // default 0) — Spark's own trunc is DATE truncation and would shadow
    Gate.spark("q_sql_trunc_alias",
      """
        SELECT trunc(3.77D * 10) / 10 AS t1,
               TRUNCATE(-2.99D, 1) AS t2,
               trunc(-2.9D) AS t3,
               TRUNCATE(1234.567D, -2) AS t4
        FROM region LIMIT 1""",
      """SELECT 3.7::DOUBLE AS t1, -2.9::DOUBLE AS t2,
                -2.0::DOUBLE AS t3, 1200.0::DOUBLE AS t4
         FROM region LIMIT 1"""),

    // TimeInIntervalConvertletFactory: all three ISO interval spellings —
    // start/end, start/PERIOD, PERIOD/end — as half-open [start, end),
    // with calendar (P6M) and fixed (PT36H) period endpoints
    Gate.spark("q_sql_time_in_interval",
      """
        SELECT CAST(count(*) FILTER (WHERE TIME_IN_INTERVAL(
                 CAST(o_orderdate AS TIMESTAMP), '1995-01-01/1996-01-01')) AS BIGINT) AS c_se,
               CAST(count(*) FILTER (WHERE TIME_IN_INTERVAL(
                 CAST(o_orderdate AS TIMESTAMP), '1995-01-01/P6M')) AS BIGINT) AS c_sp,
               CAST(count(*) FILTER (WHERE TIME_IN_INTERVAL(
                 CAST(o_orderdate AS TIMESTAMP), 'P6M/1996-01-01')) AS BIGINT) AS c_pe,
               CAST(count(*) FILTER (WHERE TIME_IN_INTERVAL(
                 CAST(o_orderdate AS TIMESTAMP), '1995-06-15/PT36H')) AS BIGINT) AS c_fx
        FROM orders""",
      """SELECT count(*) FILTER (WHERE o_orderdate >= DATE '1995-01-01'
                                   AND o_orderdate < DATE '1996-01-01') AS c_se,
                count(*) FILTER (WHERE o_orderdate >= DATE '1995-01-01'
                                   AND o_orderdate < DATE '1995-07-01') AS c_sp,
                count(*) FILTER (WHERE o_orderdate >= DATE '1995-07-01'
                                   AND o_orderdate < DATE '1996-01-01') AS c_pe,
                count(*) FILTER (WHERE CAST(o_orderdate AS TIMESTAMP)
                                   >= TIMESTAMP '1995-06-15 00:00:00'
                                   AND CAST(o_orderdate AS TIMESTAMP)
                                   < TIMESTAMP '1995-06-16 12:00:00') AS c_fx
         FROM orders"""),

    // PeriodGranularity.java:417,436: year/month MULTIPLES (P2Y, P6M)
    // are calendar buckets aligned on 1970-01; TIME_CEIL at an exact
    // boundary stays on the boundary
    Gate.spark("q_sql_timefloor_multimonth",
      """
        SELECT CAST(TIME_FLOOR(CAST(o_orderdate AS TIMESTAMP), 'P6M') AS STRING) AS h1,
               CAST(TIME_FLOOR(CAST(o_orderdate AS TIMESTAMP), 'P2Y') AS STRING) AS y2,
               CAST(TIME_CEIL(CAST(o_orderdate AS TIMESTAMP), 'P6M') AS STRING) AS c6,
               CAST(count(*) AS BIGINT) AS cnt
        FROM orders GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""",
      """WITH t AS (SELECT CAST(o_orderdate AS TIMESTAMP) AS ots,
                           (year(o_orderdate) - 1970) * 12
                             + month(o_orderdate) - 1 AS m
                    FROM orders),
            f AS (SELECT ots,
                         make_timestamp(1970 + (m - m % 6) // 12,
                           (m - m % 6) % 12 + 1, 1, 0, 0, 0) AS h1ts,
                         make_timestamp(1970 + (m - m % 24) // 12,
                           (m - m % 24) % 12 + 1, 1, 0, 0, 0) AS y2ts
                  FROM t)
         SELECT CAST(h1ts AS VARCHAR) AS h1,
                CAST(y2ts AS VARCHAR) AS y2,
                CAST(CASE WHEN ots = h1ts THEN h1ts
                          ELSE h1ts + INTERVAL 6 MONTH END AS VARCHAR) AS c6,
                count(*) AS cnt
         FROM f GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""),

    // PeriodGranularity.java:455: MULTI-week periods are fixed-length and
    // epoch-anchored (1970-01-01, a Thursday) — unlike single P1W, which
    // is the Monday calendar week
    Gate.spark("q_sql_timefloor_multiweek",
      """
        SELECT CAST(TIME_FLOOR(ts, 'P2W') AS STRING) AS wk2,
               CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1 ORDER BY 1""",
      """SELECT CAST(epoch_ms((epoch_ms(ts) // 1209600000) * 1209600000)
                  AS VARCHAR) AS wk2,
                count(*) AS cnt
         FROM events GROUP BY 1 ORDER BY 1"""),

    // Function.java ParseLong:748: signed Long.parseLong in the given
    // radix, NULL on any invalid digit (never 0), fractional text is not
    // integral; the 0x/0X prefix is stripped only when the RAW input
    // starts with it — '-0xfF' is NOT '-255', it fails Long.parseLong
    // and NULLs, while '0x-f' parses (sign allowed after the strip) and
    // a leading '+' is a Long.parseLong-legal sign
    Gate.spark("q_sql_parse_long_edges",
      """
        SELECT parse_long('123') AS p10,
               parse_long('-45') AS pneg,
               parse_long('1.5') AS pfrac,
               parse_long('ff', 16) AS phex,
               parse_long('0xFF', 16) AS phexpre,
               parse_long('-0xfF', 16) AS phexneg,
               parse_long('0x-f', 16) AS phexinner,
               parse_long('+ff', 16) AS pplus,
               parse_long('GG', 16) AS pbad,
               parse_long('101', 2) AS pbin,
               parse_long('zz', 36) AS p36
        FROM region LIMIT 1""",
      """SELECT 123::BIGINT AS p10, -45::BIGINT AS pneg,
                CAST(NULL AS BIGINT) AS pfrac,
                255::BIGINT AS phex, 255::BIGINT AS phexpre,
                CAST(NULL AS BIGINT) AS phexneg,
                -15::BIGINT AS phexinner, 255::BIGINT AS pplus,
                CAST(NULL AS BIGINT) AS pbad,
                5::BIGINT AS pbin, 1295::BIGINT AS p36
         FROM region LIMIT 1"""),

    // Function.java Round/RepeatFunc edges: NaN rounds to 0.0, ±Infinity
    // clamps to ±Double.MaxValue, HALF_UP away from zero on .5 both
    // signs, negative scale; repeat with count < 1 is NULL (not '')
    Gate.spark("q_sql_round_repeat_edges",
      """
        SELECT round(CAST('NaN' AS DOUBLE), 2) AS r_nan,
               round(CAST('Infinity' AS DOUBLE)) AS r_pinf,
               round(CAST('-Infinity' AS DOUBLE)) AS r_ninf,
               round(2.5D) AS r_half,
               round(-2.5D) AS r_neghalf,
               round(1234.5678D, -2) AS r_negscale,
               repeat('ab', 3) AS rep3,
               repeat('ab', 0) AS rep0,
               repeat('ab', -1) AS repneg
        FROM region LIMIT 1""",
      """SELECT 0.0::DOUBLE AS r_nan,
                1.7976931348623157e308::DOUBLE AS r_pinf,
                -1.7976931348623157e308::DOUBLE AS r_ninf,
                3.0::DOUBLE AS r_half,
                -3.0::DOUBLE AS r_neghalf,
                1200.0::DOUBLE AS r_negscale,
                'ababab' AS rep3,
                CAST(NULL AS VARCHAR) AS rep0,
                CAST(NULL AS VARCHAR) AS repneg
         FROM region LIMIT 1"""),

    // Function.java Div:1264-1268 — the DOUBLE path divides FIRST and
    // truncates the QUOTIENT ((long)(x / y)), so a fractional divisor is
    // a real divisor: DIV(10.0, 2.5) = 4 (not 10/2 = 5) and a divisor
    // < 1 divides instead of nulling out; x/0.0 → Infinity → Long.Max.
    // The LONG path stays integer division truncating toward zero.
    Gate.spark("q_sql_div_edges",
      """
        SELECT r_regionkey,
               DIV(10.0D, 2.5D) AS d_frac,
               DIV(10.0D, 0.3D) AS d_small,
               DIV(7, 2) AS d_int,
               DIV(-7, 2) AS d_negint,
               DIV(-7.5D, 2.5D) AS d_negfrac,
               DIV(1.0D, 0.0D) AS d_zero,
               DIV(CAST(r_regionkey * 10 + 7 AS DOUBLE), 2.5D) AS d_row
        FROM region ORDER BY r_regionkey""",
      """SELECT r_regionkey,
                4::BIGINT AS d_frac, 33::BIGINT AS d_small,
                3::BIGINT AS d_int, -3::BIGINT AS d_negint,
                -3::BIGINT AS d_negfrac,
                9223372036854775807::BIGINT AS d_zero,
                CAST(trunc((r_regionkey * 10 + 7) / 2.5) AS BIGINT) AS d_row
         FROM region ORDER BY r_regionkey"""),

    // StringToArrayFunction (Function.java:3582) is Java String.split
    // limit-0: TRAILING empty strings drop (interior ones stay), ',,,'
    // collapses to [], '' splits to [''], a null delimiter splits per
    // character — none of which Spark's split() reproduces (it keeps
    // trailing empties even at limit 0), hence the StaticInvoke builder.
    Gate.spark("q_sql_split_edges",
      """
        SELECT MV_TO_STRING(STRING_TO_MV('a,b,,', ','), '|') AS trail,
               MV_LENGTH(STRING_TO_MV('a,b,,', ',')) AS trail_len,
               MV_TO_STRING(STRING_TO_ARRAY('a,,b', ','), '|') AS interior,
               MV_LENGTH(STRING_TO_MV(',,,', ',')) AS all_sep,
               MV_LENGTH(STRING_TO_MV('', ',')) AS empty_in,
               MV_TO_STRING(STRING_TO_MV('ab', CAST(NULL AS STRING)), '|') AS null_delim,
               MV_LENGTH(STRING_TO_MV(CAST(NULL AS STRING), ',')) AS null_in
        FROM region LIMIT 1""",
      """SELECT 'a|b' AS trail, 2 AS trail_len, 'a||b' AS interior,
                0 AS all_sep, 1 AS empty_in, 'a|b' AS null_delim,
                CAST(NULL AS INTEGER) AS null_in
         FROM region LIMIT 1"""),

    // ArrayToStringFunction (Function.java:3623-3649): null elements
    // print via String::valueOf ('a|null|b'), the single-element [null]
    // array is SQL NULL (:3643), and a null separator joins with ''
    // (:3646) — Spark's bare array_join silently SKIPS null elements, so
    // the builder transforms through CAST + coalesce('null') first.
    Gate.spark("q_sql_mv_join_edges",
      """
        SELECT MV_TO_STRING(array('a', CAST(NULL AS STRING), 'b'), '|') AS j_null,
               ARRAY_TO_STRING(array(1, 0, CAST(NULL AS INT)), '|') AS j_num,
               MV_TO_STRING(array(CAST(NULL AS STRING)), '|') AS j_singlenull,
               MV_TO_STRING(CAST(NULL AS ARRAY<STRING>), '|') AS j_nullarr,
               MV_TO_STRING(array('a', 'b'), CAST(NULL AS STRING)) AS j_nullsep
        FROM region LIMIT 1""",
      """SELECT 'a|null|b' AS j_null, '1|0|null' AS j_num,
                CAST(NULL AS VARCHAR) AS j_singlenull,
                CAST(NULL AS VARCHAR) AS j_nullarr,
                'ab' AS j_nullsep
         FROM region LIMIT 1"""),

    // Native predicate family (Function.java IsTrueFunc:2530 etc.) over
    // the Evals.asBoolean:55-68 truthiness rule: numerics are true iff
    // > 0 (so -1 and NaN are FALSE), strings via Boolean.parseBoolean
    // (only 'true' is true — '1' is FALSE), NULL is not-true AND
    // not-false; isdistinctfrom/notdistinctfrom treat NULL as a value;
    // native if() runs its condition through the same rule; plus
    // decode_base64_utf8 (BuiltInExprMacros:149) and the native
    // unix_timestamp's ISO parse in epoch seconds (Function.java:3245)
    Gate.spark("q_expr_native_pred_fns",
      """
        SELECT istrue(1 > 0) AS t_bool,
               istrue(-1) AS t_neg,
               istrue(0.5D) AS t_half,
               istrue('true') AS t_strtrue,
               istrue('1') AS t_str1,
               isfalse('abc') AS f_garbage,
               isfalse(CAST(NULL AS STRING)) AS f_null,
               isfalse(CAST('NaN' AS DOUBLE)) AS f_nan,
               nottrue(CAST(NULL AS BOOLEAN)) AS nt_null,
               notfalse(CAST(NULL AS BOOLEAN)) AS nf_null,
               isdistinctfrom(CAST(NULL AS INT), CAST(NULL AS INT)) AS idf_nulls,
               notdistinctfrom(CAST(NULL AS INT), 1) AS ndf_nullone,
               notdistinctfrom(2, 2) AS ndf_eq,
               druid_if(-1, 'a', 'b') AS if_neg,
               druid_if(2, 'a', 'b') AS if_pos,
               decode_base64_utf8('aGVsbG8=') AS b64,
               druid_unix_timestamp('2000-01-01T00:00:00Z') AS ut_iso,
               druid_unix_timestamp('2000-01-02', 'yyyy-MM-dd') AS ut_fmt
        FROM region LIMIT 1""",
      """SELECT true AS t_bool, false AS t_neg, true AS t_half,
                true AS t_strtrue, false AS t_str1,
                true AS f_garbage, false AS f_null, true AS f_nan,
                true AS nt_null, true AS nf_null,
                false AS idf_nulls, false AS ndf_nullone, true AS ndf_eq,
                'b' AS if_neg, 'a' AS if_pos,
                'hello' AS b64,
                946684800::BIGINT AS ut_iso, 946771200::BIGINT AS ut_fmt
         FROM region LIMIT 1"""),

    // StringUtils.nonStrictFormat:381 — an ILLEGAL pattern never errors:
    // the reference returns the unformatted pattern with "; arg" appended
    // per argument; %-conversions that don't fit the arg type degrade the
    // same way; Locale.ENGLISH formatting otherwise
    Gate.spark("q_sql_format_edges",
      """
        SELECT STRING_FORMAT('%q', 5) AS f_bad,
               STRING_FORMAT('%d apples; %s', 3, 'red') AS f_ok,
               STRING_FORMAT('%.3f', 2.5D) AS f_prec,
               STRING_FORMAT('%s=%s', 'k', CAST(NULL AS STRING)) AS f_null,
               STRING_FORMAT('%d', 'x') AS f_conv,
               STRING_FORMAT('bare') AS f_bare,
               STRING_FORMAT('%05d|%x', 42, 255) AS f_pad
        FROM region LIMIT 1""",
      """SELECT '%q; 5' AS f_bad, '3 apples; red' AS f_ok,
                '2.500' AS f_prec, 'k=null' AS f_null,
                '%d; x' AS f_conv, 'bare' AS f_bare,
                '00042|ff' AS f_pad
         FROM region LIMIT 1"""),

    // Function.java IEEE-edge math family via the same java.lang.Math
    // calls (GetExponent:1356 → LONG, NextUp:1447, Ulp:1747,
    // CopySign:1789, Remainder:1831 = IEEEremainder, NextAfter:1906) and
    // the null-propagating bivariate max/min (Max:1852/Min:1879 — note
    // max(1, NULL) is NULL, unlike SQL GREATEST)
    Gate.spark("q_expr_ieee_math",
      """
        SELECT CAST(getexponent(10.0D) AS BIGINT) AS ge_10,
               CAST(getexponent(0.5D) AS BIGINT) AS ge_half,
               nextup(1.0D) AS nu_1,
               ulp(1.0D) AS ulp_1,
               copysign(3.5D, -1.0D) AS cs_neg,
               remainder(5.0D, 3.0D) AS rem_53,
               nextafter(1.0D, 2.0D) AS na_up,
               nextafter(1.0D, 0.0D) AS na_down,
               CAST(druid_max(7L, 3L) AS BIGINT) AS mx_long,
               druid_max(7.5D, CAST(NULL AS DOUBLE)) AS mx_null,
               druid_min(7.5D, 3.0D) AS mn_dbl,
               isnan(druid_min(CAST('NaN' AS DOUBLE), 3.0D)) AS mn_nan,
               isnan(druid_max(CAST('NaN' AS DOUBLE), 3.0D)) AS mx_nan
        FROM region LIMIT 1""",
      """SELECT 3::BIGINT AS ge_10, -1::BIGINT AS ge_half,
                1.0000000000000002::DOUBLE AS nu_1,
                2.220446049250313e-16::DOUBLE AS ulp_1,
                -3.5::DOUBLE AS cs_neg,
                -1.0::DOUBLE AS rem_53,
                1.0000000000000002::DOUBLE AS na_up,
                9.999999999999999e-1::DOUBLE AS na_down,
                7::BIGINT AS mx_long,
                CAST(NULL AS DOUBLE) AS mx_null,
                3.0::DOUBLE AS mn_dbl,
                TRUE AS mn_nan, TRUE AS mx_nan
         FROM region LIMIT 1"""),

    // Function.java camelCase bitwise family on DOUBLE operands:
    // BivariateBitwiseMathFunction evals asLong() per operand — truncate
    // toward zero, NaN → 0 (never round, never reject) — and the
    // IEEE-754 reinterpretation pair (BitwiseConvert*:944,976)
    Gate.spark("q_expr_bitwise_native",
      """
        SELECT bitwiseAnd(3.9D, 7.2D) AS and_trunc,
               bitwiseAnd(-3.9D, -1L) AS and_negtrunc,
               bitwiseOr(3.9D, 8.5D) AS or_trunc,
               bitwiseXor(7.9D, 2.0D) AS xor_trunc,
               bitwiseComplement(5.7D) AS compl_trunc,
               bitwiseShiftLeft(3.7D, 2.9D) AS shl_trunc,
               bitwiseShiftRight(-16.5D, 2.1D) AS shr_trunc,
               bitwiseAnd(CAST('NaN' AS DOUBLE), 7L) AS and_nan,
               bitwiseAnd(CAST(NULL AS DOUBLE), 1L) AS and_null,
               bitwiseConvertDoubleToLongBits(2.0D) AS bits_2,
               bitwiseConvertDoubleToLongBits(-0.0D) AS bits_negzero,
               bitwiseConvertLongBitsToDouble(4611686018427387904L) AS dbl_2
        FROM region LIMIT 1""",
      """SELECT 3::BIGINT AS and_trunc, -3::BIGINT AS and_negtrunc,
                11::BIGINT AS or_trunc, 5::BIGINT AS xor_trunc,
                -6::BIGINT AS compl_trunc, 12::BIGINT AS shl_trunc,
                -4::BIGINT AS shr_trunc, 0::BIGINT AS and_nan,
                CAST(NULL AS BIGINT) AS and_null,
                4611686018427387904::BIGINT AS bits_2,
                CAST(-9223372036854775808 AS BIGINT) AS bits_negzero,
                2.0::DOUBLE AS dbl_2
         FROM region LIMIT 1"""),

    // Function.java LpadFunc/RpadFunc edges: len 0 → NULL, len < 0 → '',
    // empty pad leaves the base untouched, truncation below base length,
    // multi-char pad cycling, 2-arg space default, null propagation
    Gate.spark("q_sql_pad_edges",
      """
        SELECT lpad('abc', 0, 'x') AS l0, rpad('abc', 0, 'x') AS r0,
               lpad('abc', -2, 'x') AS lneg,
               lpad('abc', 5, '') AS lempty,
               lpad('abc', 2, 'x') AS ltrunc,
               rpad('ab', 5, 'xy') AS rfill,
               lpad('abc', 5) AS ldef,
               lpad(CAST(NULL AS STRING), 3, 'x') AS lnull
        FROM region LIMIT 1""",
      """SELECT CAST(NULL AS VARCHAR) AS l0, CAST(NULL AS VARCHAR) AS r0,
                '' AS lneg, 'abc' AS lempty, 'ab' AS ltrunc,
                'abxyx' AS rfill, '  abc' AS ldef,
                CAST(NULL AS VARCHAR) AS lnull
         FROM region LIMIT 1"""),

    // Joda pattern fidelity (the reference's TIME_FORMAT/TIME_PARSE take
    // org.joda.time.format.DateTimeFormat syntax): 'YYYY' is YEAR-OF-ERA
    // — a verbatim java.time read would print the locale week-based year
    // and be wrong the first days of January; 'ZZ' is the offset WITH a
    // colon; 'DDD' is padded day-of-year; Joda patterns also drive parse
    Gate.spark("q_sql_time_format_joda",
      """
        SELECT TIME_FORMAT(TIME_PARSE('2021-01-01 00:00:00'), 'YYYY-MM-dd') AS yoe,
               TIME_FORMAT(TIME_PARSE('2021-06-15 12:34:56'),
                 'yyyy-MM-dd HH:mm ZZ', 'Asia/Kolkata') AS wall_off,
               TIME_FORMAT(TIME_PARSE('2021-06-15 12:34:56'), 'EEE DDD') AS dow_doy,
               CAST(TIME_PARSE('2021/166 07:08', 'yyyy/DDD HH:mm') AS STRING) AS parsed_doy
        FROM region LIMIT 1""",
      """SELECT '2021-01-01' AS yoe,
                strftime(TIMESTAMP '2021-06-15 12:34:56'
                  + INTERVAL '5 hours 30 minutes', '%Y-%m-%d %H:%M')
                  || ' +05:30' AS wall_off,
                strftime(TIMESTAMP '2021-06-15 12:34:56', '%a %j') AS dow_doy,
                CAST(TIMESTAMP '2021-06-15 07:08:00' AS VARCHAR) AS parsed_doy
         FROM region LIMIT 1"""),

    // timezone arities of TIME_EXTRACT / TIME_FORMAT / TIME_PARSE
    // (incl. a half-hour-offset zone) plus the 1-arg ISO default format
    // and the lenient 1-arg parse round-trip
    Gate.spark("q_sql_time_tz_funcs",
      """
        SELECT event_id,
               TIME_EXTRACT(ts, 'HOUR', 'America/New_York') AS h_ny,
               TIME_FORMAT(ts, 'yyyy-MM-dd HH:mm', 'Asia/Kolkata') AS f_ind,
               TIME_PARSE(CAST(date_trunc('second', ts) AS STRING)) AS p_back,
               TIME_FORMAT(ts) AS iso
        FROM events WHERE event_id < 200 ORDER BY event_id""",
      """SELECT event_id,
                CAST(hour((ts AT TIME ZONE 'UTC')
                  AT TIME ZONE 'America/New_York') AS BIGINT) AS h_ny,
                strftime((ts AT TIME ZONE 'UTC') AT TIME ZONE 'Asia/Kolkata',
                  '%Y-%m-%d %H:%M') AS f_ind,
                CAST(CAST(date_trunc('second', ts) AS VARCHAR) AS TIMESTAMP) AS p_back,
                strftime(date_trunc('millisecond', ts),
                  '%Y-%m-%dT%H:%M:%S.%g') || 'Z' AS iso
         FROM events WHERE event_id < 200 ORDER BY event_id"""),

    Gate("q_sql_insert_hour", (s, dir) => {
      // PARTITIONED BY HOUR (reference hour-granularity segments): the
      // ingest lands hour-chunk dirs (__hour=yyyy-MM-dd-HH) and the
      // read-back chunk column reproduces the per-hour rollup exactly
      graft.api.SqlApi.run(s, dir, """{
        "query": "REPLACE INTO graft_hourly OVERWRITE ALL SELECT ts AS __time, event_type, value FROM events WHERE event_id < 2000 PARTITIONED BY HOUR"
      }""")
      s.sql("""SELECT __hour AS h, CAST(count(*) AS BIGINT) AS n,
                      CAST(FLOOR(sum(CAST(value AS DECIMAL(18,6)))) AS BIGINT) AS sv
               FROM graft_hourly GROUP BY __hour ORDER BY h""")
    },
      """SELECT strftime(ts, '%Y-%m-%d-%H') AS h, CAST(count(*) AS BIGINT) AS n,
                CAST(FLOOR(sum(CAST(value AS DECIMAL(18,6)))) AS BIGINT) AS sv
         FROM events WHERE event_id < 2000
         GROUP BY 1 ORDER BY 1"""),

    Gate("q_sql_insert", (s, dir) => {
      // SQL-driven batch ingestion (reference INSERT ... PARTITIONED BY via
      // MSQ): CREATE TABLE + INSERT OVERWRITE ... SELECT, then query the
      // ingested table
      val loc = Gate.scratch(dir, "sqlins")
      s.sql("DROP TABLE IF EXISTS graft_daily_rollup")
      // CTAS refuses a non-empty location: clear leftovers from prior runs
      val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(loc), true)
      s.sql(s"""CREATE TABLE graft_daily_rollup
                USING parquet LOCATION '$loc'
                PARTITIONED BY (day)
                AS SELECT event_type, count(*) AS n,
                          round(sum(value), 3) AS sum_value,
                          to_date(ts) AS day
                   FROM events GROUP BY to_date(ts), event_type""")
      s.sql("""SELECT day, event_type, n, sum_value FROM graft_daily_rollup
               WHERE day BETWEEN DATE '2024-01-01' AND DATE '2024-01-05'
               ORDER BY day, event_type""")
    },
      """SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n,
                round(sum(value), 3) AS sum_value
         FROM events
         WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-01' AND DATE '2024-01-05'
         GROUP BY 1, 2 ORDER BY 1, 2"""),

    // --------------------------------------------------------- groupBy (§2.5)
    Gate("q_groupby_q1", (s, dir) => {
      // TPC-H Q1 shape: the reference's groupBy query with multiple agg types
      t(s, dir)("lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          avg(col("l_quantity")).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
                round(sum(CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS sum_base_price,
                avg(l_quantity) AS avg_qty, count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus"""),

    Gate("q_groupby_having", (s, dir) => {
      NQ.groupBy(t(s, dir)("part"),
        dims = Seq(col("p_brand")),
        aggs = Seq(count(lit(1)).as("cnt"), max(col("p_size")).as("max_size")),
        having = Some(col("cnt") >= 10),
        orderBy = Seq(col("p_brand")))
    },
      """SELECT p_brand, count(*) AS cnt, max(p_size) AS max_size
         FROM part GROUP BY p_brand HAVING count(*) >= 10 ORDER BY p_brand"""),

    Gate("q_groupby_limit_offset", (s, dir) => {
      NQ.groupBy(t(s, dir)("orders"),
        dims = Seq(col("o_custkey")),
        aggs = Seq(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total")),
        orderBy = Seq(col("n").desc, col("o_custkey").asc),
        limit = Some(50), offset = 10)
    },
      """SELECT o_custkey, count(*) AS n, round(sum(o_totalprice), 2) AS total
         FROM orders GROUP BY o_custkey
         ORDER BY n DESC, o_custkey LIMIT 50 OFFSET 10"""),

    Gate("q_grouping_sets", (s, dir) => {
      t(s, dir)("lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    },
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
                count(*) AS n
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""),

    // ---------------------------------------------------------- filters (§2.2)
    Gate("q_filter_in_like", (s, dir) => {
      t(s, dir)("part")
        .filter(col("p_type").like("%AR%") &&
          col("p_size").isin(5, 10, 15, 20, 25) &&
          !col("p_brand").isin("Brand#11"))
        .groupBy(col("p_brand")).agg(count(lit(1)).as("n"))
        .orderBy(col("p_brand"))
    },
      """SELECT p_brand, count(*) AS n FROM part
         WHERE p_type LIKE '%AR%' AND p_size IN (5, 10, 15, 20, 25)
           AND p_brand NOT IN ('Brand#11')
         GROUP BY p_brand ORDER BY p_brand"""),

    Gate("q_filter_regex", (s, dir) => {
      t(s, dir)("documents")
        .filter(col("text").rlike("spark (join|merge)"))
        .groupBy(col("source")).agg(count(lit(1)).as("n"))
        .orderBy(col("source"))
    },
      """SELECT source, count(*) AS n FROM documents
         WHERE regexp_matches(text, 'spark (join|merge)')
         GROUP BY source ORDER BY source"""),

    Gate("q_filter_range_bound", (s, dir) => {
      t(s, dir)("customer")
        .filter(col("c_acctbal").between(1000.0, 5000.0) &&
          col("c_mktsegment") =!= "AUTOMOBILE")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), min(col("c_acctbal")).as("min_bal"),
          max(col("c_acctbal")).as("max_bal"))
        .orderBy(col("c_mktsegment"))
    },
      """SELECT c_mktsegment, count(*) AS n, min(c_acctbal) AS min_bal,
                max(c_acctbal) AS max_bal
         FROM customer
         WHERE c_acctbal BETWEEN 1000.0 AND 5000.0
           AND c_mktsegment <> 'AUTOMOBILE'
         GROUP BY c_mktsegment ORDER BY c_mktsegment"""),

    // ------------------------------------------------------------ joins (§2.4)
    Gate("q_join_cross", (s, dir) => {
      // cross join of broadcastable dims (reference allows it for inline/
      // lookup datasources via an always-true join condition,
      // JoinConditionAnalysis.java:89) — both sides tiny, broadcast NL join
      t(s, dir)("region").select(col("r_name"))
        .crossJoin(broadcast(t(s, dir)("nation").select(col("n_name"))))
        .orderBy(col("r_name"), col("n_name"))
    },
      """SELECT r_name, n_name FROM region CROSS JOIN nation
         ORDER BY r_name, n_name"""),

    Gate("q_join_broadcast", (s, dir) => {
      val li = t(s, dir)("lineitem")
      Joins.broadcastJoin(li, t(s, dir)("part"),
        col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
        .orderBy(col("p_brand"))
    },
      """SELECT p_brand, sum(l_quantity) AS sum_qty, count(*) AS n
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY p_brand ORDER BY p_brand"""),

    Gate("q_join_5way", (s, dir) => {
      // star-schema chain: fact joined through 4 pruned dims (TPC-H Q5 shape)
      val li = t(s, dir)("lineitem")
      val o = t(s, dir)("orders")
      val c = t(s, dir)("customer")
      val n = t(s, dir)("nation")
      val r = t(s, dir)("region").filter(col("r_regionkey") < 2)
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("n_name"))
    },
      """SELECT n_name, count(*) AS n, sum(l_quantity) AS sum_qty
         FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
         WHERE r_regionkey < 2
         GROUP BY n_name ORDER BY n_name"""),

    Gate("q_join_semi", (s, dir) => {
      val c = t(s, dir)("customer")
      val bigOrders = t(s, dir)("orders").filter(col("o_totalprice") > 200000)
      Joins.semiJoin(c, bigOrders, col("c_custkey") === col("o_custkey"))
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
        .orderBy(col("c_mktsegment"))
    },
      """SELECT c_mktsegment, count(*) AS n FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey AND o_totalprice > 200000)
         GROUP BY c_mktsegment ORDER BY c_mktsegment"""),

    Gate("q_join_anti", (s, dir) => {
      // customers with no high-value order
      val c = t(s, dir)("customer")
      val big = t(s, dir)("orders").filter(col("o_totalprice") > 250000)
      Joins.antiJoin(c, big, col("c_custkey") === col("o_custkey"))
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n"))
        .orderBy(col("c_nationkey"))
    },
      """SELECT c_nationkey, count(*) AS n FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey AND o_totalprice > 250000)
         GROUP BY c_nationkey ORDER BY c_nationkey"""),

    Gate("q_lookup", (s, dir) => {
      Joins.lookupJoin(t(s, dir)("supplier"), t(s, dir)("nation"),
        col("s_nationkey"), col("n_nationkey"), col("n_name"), "nation_name")
        .select(col("s_suppkey"), col("s_name"), col("nation_name"))
        .orderBy(col("s_suppkey"))
    },
      """SELECT s_suppkey, s_name, n_name AS nation_name
         FROM supplier LEFT JOIN nation ON s_nationkey = n_nationkey
         ORDER BY s_suppkey"""),

    Gate("q_join_asof", (s, dir) => {
      // as-of join: each click enriched with the user's most recent
      // prior-or-same purchase value (custom operator — neither the
      // reference nor Spark SQL has it natively)
      val ev = t(s, dir)("events")
      val clicks = ev.filter(col("event_type") === "click")
      val purchases = ev.filter(col("event_type") === "purchase")
      Joins.asOfJoin(clicks, purchases, "user_id", "ts", "ts",
        rightCols = Seq("value"))
        .select(col("event_id"), col("user_id"), col("value"),
          col("asof_value"))
        .orderBy(col("event_id"))
    },
      """SELECT l.event_id, l.user_id, l.value, r.value AS asof_value
         FROM (SELECT * FROM events WHERE event_type = 'click') l
         ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
           ON l.user_id = r.user_id AND l.ts >= r.ts
         ORDER BY l.event_id"""),

    Gate("q_join_range", (s, dir) => {
      // range join: classify prices into broadcastable bands
      import s.implicits._
      val bands = Seq(
        ("budget", 0.0, 1000.0), ("mid", 1000.0, 1500.0),
        ("high", 1500.0, 2000.0), ("lux", 2000.0, 999999.0))
        .toDF("band", "lo", "hi")
      Joins.rangeJoin(t(s, dir)("part"), bands,
        col("p_retailprice"), col("lo"), col("hi"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n"), min(col("p_retailprice")).as("min_p"),
          max(col("p_retailprice")).as("max_p"))
        .orderBy(col("band"))
    },
      """SELECT band, count(*) AS n, min(p_retailprice) AS min_p,
                max(p_retailprice) AS max_p
         FROM part JOIN (VALUES ('budget', 0.0, 1000.0),
                                ('mid', 1000.0, 1500.0),
                                ('high', 1500.0, 2000.0),
                                ('lux', 2000.0, 999999.0)) AS r(band, lo, hi)
           ON p_retailprice >= lo AND p_retailprice < hi
         GROUP BY band ORDER BY band"""),

    // ---------------------------------------------------------- set ops (§2.8)
    Gate("q_union", (s, dir) => {
      val o = t(s, dir)("orders")
      o.filter(col("o_orderpriority") === "1-URGENT")
        .unionAll(o.filter(col("o_totalprice") > 250000))
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus"))
    },
      """SELECT o_orderstatus, count(*) AS n FROM (
           SELECT * FROM orders WHERE o_orderpriority = '1-URGENT'
           UNION ALL
           SELECT * FROM orders WHERE o_totalprice > 250000)
         GROUP BY o_orderstatus ORDER BY o_orderstatus"""),

    Gate("q_intersect_except", (s, dir) => {
      val li = t(s, dir)("lineitem")
      val a = li.filter(col("l_returnflag") === "R").select(col("l_orderkey"))
      val b = li.filter(col("l_quantity") > 40).select(col("l_orderkey"))
      a.intersect(b).unionAll(a.except(b).limit(0)) // intersect result
        .orderBy(col("l_orderkey"))
    },
      """SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'
         INTERSECT
         SELECT l_orderkey FROM lineitem WHERE l_quantity > 40
         ORDER BY l_orderkey"""),

    // --------------------------------------------- unnest + MVD (§2.1/§1.2)
    Gate("q_unnest_words", (s, dir) => {
      NQ.unnest(t(s, dir)("documents"), split(col("text"), " "), "word")
        .groupBy(col("word")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word").asc)
        .limit(50)
    },
      """SELECT word, count(*) AS n FROM (
           SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         GROUP BY word ORDER BY n DESC, word LIMIT 50"""),

    Gate("q_mv_ops", (s, dir) => {
      // documents.text as a multi-value dimension: length / contains / filtered
      val toks = split(col("text"), " ")
      t(s, dir)("documents").select(
        col("doc_id"),
        DruidFunctions.mvLength(toks).cast("long").as("n_tokens"),
        DruidFunctions.mvContains(toks, "spark").as("has_spark"),
        size(DruidFunctions.mvFilterPrefix(toks, "s")).cast("long").as("n_s_tokens"),
        DruidFunctions.mvToString(slice(sort_array(array_distinct(toks)), 1, 3), ",")
          .as("first_vals"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                list_contains(string_split(text, ' '), 'spark') AS has_spark,
                CAST(len(list_filter(string_split(text, ' '),
                                     t -> t LIKE 's%')) AS BIGINT) AS n_s_tokens,
                array_to_string(list_sort(list_distinct(string_split(text, ' ')))[1:3],
                                ',') AS first_vals
         FROM documents ORDER BY doc_id"""),

    // ---------------------------------------------------------- windows (§2.6)
    Gate("q_window_rank", (s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir)("orders")
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
          row_number().over(w).as("rn"),
          rank().over(w).as("rk"),
          dense_rank().over(w).as("drk"))
        .filter(col("rn") <= 5)
        .orderBy(col("o_orderpriority"), col("rn"))
    },
      """SELECT * FROM (
           SELECT o_orderpriority, o_orderkey, o_totalprice,
                  row_number() OVER w AS rn, rank() OVER w AS rk,
                  dense_rank() OVER w AS drk
           FROM orders
           WINDOW w AS (PARTITION BY o_orderpriority
                        ORDER BY o_totalprice DESC, o_orderkey ASC))
         WHERE rn <= 5 ORDER BY o_orderpriority, rn"""),

    Gate("q_window_offset", (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      t(s, dir)("events").filter(col("user_id") < 10)
        .select(col("user_id"), col("event_id"), col("value"),
          lag(col("value"), 1).over(w).as("prev_value"),
          lead(col("value"), 1).over(w).as("next_value"))
        .orderBy(col("user_id"), col("event_id"))
    },
      """SELECT user_id, event_id, value,
                lag(value, 1) OVER w AS prev_value,
                lead(value, 1) OVER w AS next_value
         FROM events WHERE user_id < 10
         WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
         ORDER BY user_id, event_id"""),

    Gate("q_window_ignore_nulls", (s, dir) => {
      // IGNORE NULLS forms of lead/lag/first_value/last_value (reference
      // window value processors; Drill window corpus coverage): every third
      // event's metric is nulled, offsets must skip over the gaps
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      val wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir)("events").filter(col("user_id") < 20)
        .withColumn("v", when(pmod(col("event_id"), lit(3)) =!= 0, col("value")))
        .select(col("user_id"), col("event_id"), col("v"),
          lag(col("v"), 1, null, ignoreNulls = true).over(w).as("prev_nn"),
          lead(col("v"), 1, null, ignoreNulls = true).over(w).as("next_nn"),
          first(col("v"), ignoreNulls = true).over(wf).as("first_nn"),
          last(col("v"), ignoreNulls = true).over(wf).as("last_nn"))
        .orderBy(col("user_id"), col("event_id"))
    },
      """SELECT user_id, event_id, v,
                lag(v, 1 IGNORE NULLS)
                  OVER (PARTITION BY user_id ORDER BY event_id) AS prev_nn,
                lead(v, 1 IGNORE NULLS)
                  OVER (PARTITION BY user_id ORDER BY event_id) AS next_nn,
                first_value(v IGNORE NULLS)
                  OVER (PARTITION BY user_id ORDER BY event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_nn,
                last_value(v IGNORE NULLS)
                  OVER (PARTITION BY user_id ORDER BY event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_nn
         FROM (SELECT user_id, event_id,
                      CASE WHEN event_id % 3 <> 0 THEN value END AS v
               FROM events WHERE user_id < 20)
         ORDER BY user_id, event_id"""),

    Gate("q_window_null_order", (s, dir) => {
      // explicit NULLS FIRST/LAST in window and output ordering — engines
      // disagree on defaults (Spark asc=nulls-first, DuckDB asc=nulls-last),
      // so reference queries must pin it; this gate proves both directions
      val v = when(pmod(col("event_id"), lit(4)) =!= 0, col("value"))
      val wLast = Window.partitionBy(col("user_id"))
        .orderBy(v.asc_nulls_last, col("event_id"))
      val wFirst = Window.partitionBy(col("user_id"))
        .orderBy(v.desc_nulls_first, col("event_id"))
      t(s, dir)("events").filter(col("user_id") < 15)
        .select(col("user_id"), col("event_id"), v.as("v"),
          row_number().over(wLast).as("rn_last"),
          row_number().over(wFirst).as("rn_first"))
        .orderBy(col("user_id"), col("v").asc_nulls_last, col("event_id"))
    },
      """SELECT user_id, event_id, v,
                row_number() OVER (PARTITION BY user_id
                  ORDER BY v ASC NULLS LAST, event_id) AS rn_last,
                row_number() OVER (PARTITION BY user_id
                  ORDER BY v DESC NULLS FIRST, event_id) AS rn_first
         FROM (SELECT user_id, event_id,
                      CASE WHEN event_id % 4 <> 0 THEN value END AS v
               FROM events WHERE user_id < 15)
         ORDER BY user_id, v ASC NULLS LAST, event_id"""),

    // ----------------------------------------- spatial filters (§2.2)
    Gate("q_spatial", (s, dir) => {
      // deterministic synthetic coordinates from keys; rect / radius /
      // polygon membership counts (reference SpatialDimFilter bound types)
      import graft.functions.SpatialFilters
      val pts = t(s, dir)("customer").select(col("c_mktsegment"),
        ((col("c_custkey") * 73 % 3600) / 10.0 - 180.0).as("x"),
        ((col("c_custkey") * 37 % 1800) / 10.0 - 90.0).as("y"))
      pts.groupBy(col("c_mktsegment"))
        .agg(
          count(when(SpatialFilters.rectangular(col("x"), col("y"),
            -90, -45, 90, 45), 1)).as("n_rect"),
          count(when(SpatialFilters.radius(col("x"), col("y"),
            0, 0, 60), 1)).as("n_radius"),
          count(when(SpatialFilters.polygon(col("x"), col("y"),
            Seq((-50.0, -50.0), (50.0, -50.0), (0.0, 60.0))), 1)).as("n_poly"),
          count(lit(1)).as("n"))
        .orderBy(col("c_mktsegment"))
    },
      """WITH pts AS (
           SELECT c_mktsegment,
                  (c_custkey * 73 % 3600) / 10.0 - 180.0 AS x,
                  (c_custkey * 37 % 1800) / 10.0 - 90.0 AS y
           FROM customer)
         SELECT c_mktsegment,
           count(*) FILTER (WHERE x >= -90 AND x <= 90
                              AND y >= -45 AND y <= 45) AS n_rect,
           count(*) FILTER (WHERE x*x + y*y <= 60*60) AS n_radius,
           count(*) FILTER (WHERE (
             (CASE WHEN ((-50 > y) <> (-50 > y))
                     AND (-50) + (y - (-50)) / (0.0) * (100.0) > x
                   THEN 1 ELSE 0 END) +
             (CASE WHEN ((-50 > y) <> (60 > y))
                     AND (50) + (y - (-50)) / (110.0) * (-50.0) > x
                   THEN 1 ELSE 0 END) +
             (CASE WHEN ((60 > y) <> (-50 > y))
                     AND (0) + (y - (60)) / (-110.0) * (-50.0) > x
                   THEN 1 ELSE 0 END)) % 2 = 1) AS n_poly,
           count(*) AS n
         FROM pts GROUP BY c_mktsegment ORDER BY c_mktsegment""")
  )
}
