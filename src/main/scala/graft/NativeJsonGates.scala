package graft

import org.apache.spark.sql.functions._

/** Native JSON query facade gates (§3.2).
  */
object NativeJsonGates {

  val gates: Seq[Gate] = Seq(

    // ----------------------------- native JSON query façade (§3.2)
    // The reference's primary programmatic API: JSON query objects. These
    // run through graft.api.NativeJsonQuery → the same operator builders.
    Gate("q_json_timeseries", (s, dir) => {
      // skipEmptyBuckets: the ORACLE twin is sparse SQL (GROUP BY emits
      // only non-empty hours), so the gate must request the reference's
      // sparse mode too — at sf0.01+ every hour of the interval has rows
      // and the output is bit-identical either way, but at sf0.001 the
      // default zero-fill emitted 48 rows against the oracle's 20 (latent
      // cross-SF mismatch found in r21's sf0.001 full sweep; zero-fill
      // semantics stay covered by q_timeseries_zerofill, whose oracle
      // zero-fills).
      graft.api.NativeJsonQuery.run(s, dir, """
        {"queryType": "timeseries", "dataSource": "events",
         "granularity": "hour",
         "intervals": ["2024-01-01T00:00:00Z/2024-01-03T00:00:00Z"],
         "context": {"skipEmptyBuckets": true},
         "filter": {"type": "in", "dimension": "event_type",
                    "values": ["purchase", "click"]},
         "aggregations": [
           {"type": "count", "name": "n"},
           {"type": "doubleSum", "name": "rev", "fieldName": "value"},
           {"type": "filtered", "name": "big_n",
            "filter": {"type": "bound", "dimension": "value", "lower": 100},
            "aggregator": {"type": "count", "name": "big_n"}}]}
        """).withColumn("rev", round(col("rev"), 3))
    },
      """SELECT date_trunc('hour', ts) AS timestamp, count(*) AS n,
                round(sum(value), 3) AS rev,
                count(*) FILTER (WHERE value >= 100) AS big_n
         FROM events
         WHERE event_type IN ('purchase', 'click')
           AND ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-03'
         GROUP BY 1 ORDER BY 1"""),

    Gate("q_json_topn", (s, dir) => {
      graft.api.NativeJsonQuery.run(s, dir, """
        {"queryType": "topN", "dataSource": "events",
         "dimension": "user_id", "metric": "n", "threshold": 15,
         "aggregations": [{"type": "count", "name": "n"},
                          {"type": "doubleMax", "name": "max_v", "fieldName": "value"}]}
        """)
    },
      """SELECT user_id, count(*) AS n, max(value) AS max_v
         FROM events GROUP BY user_id ORDER BY n DESC, user_id LIMIT 15"""),

    Gate("q_json_groupby", (s, dir) => {
      graft.api.NativeJsonQuery.run(s, dir, """
        {"queryType": "groupBy", "dataSource": "orders",
         "dimensions": ["o_orderstatus", "o_orderpriority"],
         "filter": {"type": "bound", "dimension": "o_totalprice", "lower": 50000},
         "aggregations": [{"type": "count", "name": "n"},
                          {"type": "doubleSum", "name": "total", "fieldName": "o_totalprice"}],
         "postAggregations": [
           {"type": "arithmetic", "name": "avg_price", "fn": "/",
            "fields": [{"type": "fieldAccess", "fieldName": "total"},
                       {"type": "fieldAccess", "fieldName": "n"}]}],
         "having": {"type": "greaterThan", "aggregation": "n", "value": 10},
         "limitSpec": {"type": "default",
           "columns": [{"dimension": "o_orderstatus"},
                       {"dimension": "o_orderpriority"}]}}
        """).withColumn("total", round(col("total"), 2))
        .withColumn("avg_price", round(col("avg_price"), 4))
    },
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
                round(sum(o_totalprice), 2) AS total,
                round(sum(o_totalprice) / count(*), 4) AS avg_price
         FROM orders WHERE o_totalprice >= 50000
         GROUP BY 1, 2 HAVING count(*) > 10 ORDER BY 1, 2"""),

    Gate("q_json_mvd_groupby", (s, dir) => {
      // MVD grouping through the JSON facade: grouping on an array-typed
      // (multi-value) dimension explodes per value — the reference's most
      // distinctive semantic (MultiValuedDimensionTest)
      graft.api.NativeJsonQuery.run(s, dir, """
        {"queryType": "groupBy", "dataSource": "part",
         "virtualColumns": [{"name": "w", "expression": "split(p_name, ' ')"}],
         "dimensions": ["w"],
         "aggregations": [{"type": "count", "name": "n"},
                          {"type": "longSum", "name": "ksum", "fieldName": "p_partkey"}],
         "limitSpec": {"type": "default", "columns": [{"dimension": "w"}]}}
        """)
    },
      """SELECT w, count(*) AS n, CAST(sum(p_partkey) AS BIGINT) AS ksum
         FROM part, unnest(string_split(p_name, ' ')) AS t(w)
         GROUP BY w ORDER BY w"""),

    Gate("q_moving_avg", (s, dir) => {
      // movingAverage query type (reference extensions-contrib/movingAverage
      // MovingAverageQuery.java): daily buckets per event_type, then a
      // 3-bucket sliding mean/max per type. Mean = frame sum / buckets
      // (reference Mean averager); exact oracle via DuckDB window frame.
      graft.api.NativeJsonQuery.run(s, dir, """
        {"queryType": "movingAverage", "dataSource": "events",
         "granularity": "day",
         "dimensions": ["event_type"],
         "aggregations": [
           {"type": "count", "name": "n"},
           {"type": "doubleSum", "name": "daily_value", "fieldName": "value"}],
         "averagers": [
           {"type": "doubleMean", "name": "ma3", "fieldName": "daily_value", "buckets": 3},
           {"type": "doubleMax", "name": "mx3", "fieldName": "daily_value", "buckets": 3}]}
        """)
        .withColumn("daily_value", round(col("daily_value"), 3))
        .withColumn("ma3", round(col("ma3"), 3))
        .withColumn("mx3", round(col("mx3"), 3))
    },
      """WITH b AS (
           SELECT date_trunc('day', ts) AS timestamp, event_type,
                  CAST(count(*) AS BIGINT) AS n, sum(value) AS dv
           FROM events GROUP BY 1, 2)
         SELECT timestamp, event_type, n, round(dv, 3) AS daily_value,
                round(sum(dv) OVER w / 3, 3) AS ma3,
                round(max(dv) OVER w, 3) AS mx3
         FROM b
         WINDOW w AS (PARTITION BY event_type ORDER BY timestamp
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
         ORDER BY timestamp, event_type"""),

    Gate("q_json_scan", (s, dir) => {
      graft.api.NativeJsonQuery.run(s, dir, """
        {"queryType": "scan", "dataSource": "lineitem",
         "columns": ["l_orderkey", "l_linenumber", "l_quantity"],
         "filter": {"type": "and", "fields": [
            {"type": "bound", "dimension": "l_quantity", "lower": 48},
            {"type": "selector", "dimension": "l_returnflag", "value": "R"}]}}
        """).orderBy(col("l_orderkey"), col("l_linenumber"))
    },
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
         WHERE l_quantity >= 48 AND l_returnflag = 'R'
         ORDER BY l_orderkey, l_linenumber"""),

    Gate("q_expr_native_cast", (s, dir) => {
      // native-expression cast(x, 'TYPE') (Function.java CastFunc:1986 via
      // ExprEval.castTo / computeNumber:625): string numbers go through a
      // long-then-double parse ('12.5' → 12 where SQL CAST errors),
      // 'true'/'false' are 1/0, unparseable text is NULL never an error,
      // doubles truncate to LONG, and nested casts compose
      graft.api.NativeJsonQuery.run(s, dir, """
        {"queryType": "scan", "dataSource": "lineitem",
         "virtualColumns": [
           {"type": "expression", "name": "v_strnum", "expression": "cast('12.5', 'LONG')"},
           {"type": "expression", "name": "v_dbl", "expression": "cast(l_quantity, 'LONG')"},
           {"type": "expression", "name": "v_bool", "expression": "cast('true', 'DOUBLE')"},
           {"type": "expression", "name": "v_bad", "expression": "cast(l_returnflag, 'LONG')"},
           {"type": "expression", "name": "v_rt", "expression": "cast(cast(l_orderkey, 'STRING'), 'LONG')"}],
         "columns": ["l_orderkey", "l_linenumber", "v_strnum", "v_dbl",
                     "v_bool", "v_bad", "v_rt"],
         "filter": {"type": "bound", "dimension": "l_orderkey", "upper": 100}}
        """).orderBy(col("l_orderkey"), col("l_linenumber"))
    },
      """SELECT l_orderkey, l_linenumber,
                12::BIGINT AS v_strnum,
                CAST(trunc(l_quantity) AS BIGINT) AS v_dbl,
                1.0::DOUBLE AS v_bool,
                CAST(NULL AS BIGINT) AS v_bad,
                l_orderkey AS v_rt
         FROM lineitem WHERE l_orderkey <= 100
         ORDER BY l_orderkey, l_linenumber""")
  )
}
