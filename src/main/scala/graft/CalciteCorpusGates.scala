package graft

import org.apache.spark.sql.functions._

import graft.QaSqlScalarGates.battery

/** Shapes from the reference's Calcite SQL test corpora: misc, kttm
  * visualisation, decoupled-planning and join-shape queries.
  */
object CalciteCorpusGates {

  val gates: Seq[Gate] = Seq(

    // -------------------------------------- Calcite misc corpus shapes ----
    // (reference sql quidem: filtered_sum — FILTER aggregates over
    // empty-after-WHERE input; notinvalues — NOT IN a VALUES subquery;
    // grouping_sets_single_value_filter — a WHERE-pinned dim inside
    // GROUPING SETS; interval_arithmetic — CURRENT_TIMESTAMP ± INTERVAL)
    Gate.spark("q_qa_filtered_sum_empty",
      """
        SELECT CAST(count(1) FILTER (WHERE user_id = -1) AS BIGINT) AS c_eq,
               CAST(count(1) FILTER (WHERE user_id <> -1) AS BIGINT) AS c_ne,
               (min(value) IS NULL) AS min_null,
               CAST(sum(CASE WHEN user_id = -1 THEN event_id ELSE 0 END) AS BIGINT) AS s_case,
               CAST(sum(event_id) FILTER (WHERE user_id = -1) AS BIGINT) AS s_filter
        FROM events WHERE user_id < -1"""),

    Gate.spark("q_qa_notin_values",
      """
        SELECT event_type, CAST(count(*) AS BIGINT) AS n
        FROM events
        WHERE user_id NOT IN (SELECT col FROM VALUES (-1), (-999) AS t(col))
        GROUP BY event_type ORDER BY event_type""",
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n
         FROM events
         WHERE user_id NOT IN (SELECT col FROM (VALUES (-1), (-999)) t(col))
         GROUP BY event_type ORDER BY event_type"""),

    Gate.spark("q_qa_grouping_sets_filtered_dim",
      """
        WITH base AS (SELECT event_type, CAST(user_id % 3 AS STRING) AS u3
                      FROM events)
        SELECT event_type, u3, CAST(count(*) AS BIGINT) AS n
        FROM base WHERE event_type = 'click'
        GROUP BY GROUPING SETS ((u3, event_type), (u3))
        ORDER BY u3, event_type NULLS FIRST""",
      """WITH base AS (SELECT event_type, CAST(user_id % 3 AS VARCHAR) AS u3
                       FROM events)
         SELECT event_type, u3, CAST(count(*) AS BIGINT) AS n
         FROM base WHERE event_type = 'click'
         GROUP BY GROUPING SETS ((u3, event_type), (u3))
         ORDER BY u3, event_type NULLS FIRST"""),

    Gate.spark("q_qa_interval_arith",
      """
        SELECT CAST(count(CASE WHEN ts < CURRENT_TIMESTAMP - INTERVAL '1' DAY
                           THEN 1 END) AS BIGINT) AS n_past,
               CAST(count(CASE WHEN ts > CURRENT_TIMESTAMP + INTERVAL '1' DAY
                           THEN 1 END) AS BIGINT) AS n_future,
               date_format(max(ts + INTERVAL '2' DAY), 'yyyy-MM-dd HH:mm:ss') AS max_plus2,
               date_format(min(ts - INTERVAL '3' HOUR), 'yyyy-MM-dd HH:mm:ss') AS min_minus3h
        FROM events""",
      """SELECT CAST(count(CASE WHEN ts < CURRENT_TIMESTAMP - INTERVAL '1' DAY
                            THEN 1 END) AS BIGINT) AS n_past,
                CAST(count(CASE WHEN ts > CURRENT_TIMESTAMP + INTERVAL '1' DAY
                            THEN 1 END) AS BIGINT) AS n_future,
                strftime(max(ts + INTERVAL '2' DAY), '%Y-%m-%d %H:%M:%S') AS max_plus2,
                strftime(min(ts - INTERVAL '3' HOUR), '%Y-%m-%d %H:%M:%S') AS min_minus3h
         FROM events"""),

    // ------------------------------------------------ kttm vis shapes ----
    // (reference quidem-ut kttm_* generated visualization queries: numeric
    // bucketing via FLOOR(x/w)*w with a time filter + LIMIT, and the
    // hour×weekday heatmap grid)
    Gate.spark("q_qa_kttm_bucket",
      """
        SELECT CAST(FLOOR(CAST(value AS DOUBLE) / 0.5) * 0.5 AS DOUBLE) AS bucket,
               CAST(count(*) AS BIGINT) AS n
        FROM events
        WHERE TIMESTAMP '2024-01-05 00:00:00' <= ts
          AND ts < TIMESTAMP '2024-01-20 00:00:00'
        GROUP BY FLOOR(CAST(value AS DOUBLE) / 0.5) * 0.5
        ORDER BY bucket ASC LIMIT 101""",
      """SELECT FLOOR(CAST(value AS DOUBLE) / 0.5) * 0.5 AS bucket,
                CAST(count(*) AS BIGINT) AS n
         FROM events
         WHERE TIMESTAMP '2024-01-05 00:00:00' <= ts
           AND ts < TIMESTAMP '2024-01-20 00:00:00'
         GROUP BY 1 ORDER BY bucket ASC LIMIT 101"""),

    // kttm_Stackarea drill-in: the 2-D stacked series — hour bucket ×
    // numeric bin (FLOOR(x/w)*w) under BOTH a time-range and a bin-range
    // filter, exactly the generated console shape
    Gate.spark("q_qa_kttm_stackarea",
      """
        SELECT date_trunc('hour', ts) AS h,
               CAST(FLOOR(CAST(value AS DOUBLE) / 0.5) * 0.5 AS DOUBLE) AS bin,
               CAST(count(*) AS BIGINT) AS n
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
          AND ts < TIMESTAMP '2024-01-12 00:00:00'
          AND CAST(value AS DOUBLE) >= 0.5 AND CAST(value AS DOUBLE) < 3.0
        GROUP BY 1, 2
        ORDER BY h, bin""",
      """SELECT date_trunc('hour', ts) AS h,
                FLOOR(CAST(value AS DOUBLE) / 0.5) * 0.5 AS bin,
                CAST(count(*) AS BIGINT) AS n
         FROM events
         WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
           AND ts < TIMESTAMP '2024-01-12 00:00:00'
           AND CAST(value AS DOUBLE) >= 0.5 AND CAST(value AS DOUBLE) < 3.0
         GROUP BY 1, 2
         ORDER BY h, bin"""),

    // kttm_sunburst drill-in: a JSON_VALUE-filtered slice (equality +
    // IS NULL branch) under a DISJUNCTION of bin ranges — the generated
    // sunburst segment-click query shape
    Gate.spark("q_qa_kttm_sunburst",
      """
        SELECT CAST(FLOOR(CAST(value AS DOUBLE) / 0.5) * 0.5 AS DOUBLE) AS bin,
               CAST(count(*) AS BIGINT) AS n
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
          AND ts < TIMESTAMP '2024-02-01 00:00:00'
          AND CAST(JSON_VALUE(props, '$.k') AS BIGINT) BETWEEN 5 AND 70
          AND JSON_VALUE(props, '$.missing') IS NULL
          AND event_type = 'click'
          AND ((0.0 <= CAST(value AS DOUBLE) AND CAST(value AS DOUBLE) < 5.0)
            OR (10.0 <= CAST(value AS DOUBLE) AND CAST(value AS DOUBLE) < 20.0)
            OR (50.0 <= CAST(value AS DOUBLE) AND CAST(value AS DOUBLE) < 100.0))
        GROUP BY 1 ORDER BY bin LIMIT 101""",
      """SELECT FLOOR(CAST(value AS DOUBLE) / 0.5) * 0.5 AS bin,
                CAST(count(*) AS BIGINT) AS n
         FROM events
         WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
           AND ts < TIMESTAMP '2024-02-01 00:00:00'
           AND CAST(json_extract_string(props, '$.k') AS BIGINT) BETWEEN 5 AND 70
           AND json_extract_string(props, '$.missing') IS NULL
           AND event_type = 'click'
           AND ((0.0 <= CAST(value AS DOUBLE) AND CAST(value AS DOUBLE) < 5.0)
             OR (10.0 <= CAST(value AS DOUBLE) AND CAST(value AS DOUBLE) < 20.0)
             OR (50.0 <= CAST(value AS DOUBLE) AND CAST(value AS DOUBLE) < 100.0))
         GROUP BY 1 ORDER BY bin LIMIT 101"""),

    Gate.spark("q_qa_kttm_heatmap",
      """
        SELECT CAST(extract(HOUR FROM ts) AS BIGINT) AS h,
               CAST(dayofweek(ts) - 1 AS BIGINT) AS dow,
               CAST(count(*) AS BIGINT) AS n,
               round(sum(value), 3) AS sum_v
        FROM events
        GROUP BY extract(HOUR FROM ts), dayofweek(ts) - 1
        ORDER BY h, dow""",
      """SELECT CAST(extract(hour FROM ts) AS BIGINT) AS h,
                CAST(extract(dow FROM ts) AS BIGINT) AS dow,
                CAST(count(*) AS BIGINT) AS n,
                round(CAST(sum(value) AS DOUBLE), 3) AS sum_v
         FROM events
         GROUP BY 1, 2 ORDER BY h, dow"""),

    // kttm_Overall/Sparkline shapes: the dashboard comparison-period query —
    // one pass, each measure computed twice via FILTER over the current and
    // previous window (plus an intentionally-empty window pinning the
    // SQL-standard empty-filter semantics: COUNT→0, SUM→NULL)
    Gate.spark("q_qa_kttm_compare",
      """
        SELECT
          count(*) FILTER (WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
                             AND ts < TIMESTAMP '2024-01-11 00:00:00') AS v0,
          CAST(FLOOR(sum(CAST(value AS DECIMAL(18,6))) FILTER (WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
                             AND ts < TIMESTAMP '2024-01-11 00:00:00')) AS BIGINT) AS v1,
          count(*) FILTER (WHERE ts >= TIMESTAMP '2024-01-09 00:00:00'
                             AND ts < TIMESTAMP '2024-01-10 00:00:00') AS v2,
          CAST(FLOOR(sum(CAST(value AS DECIMAL(18,6))) FILTER (WHERE ts >= TIMESTAMP '2024-01-09 00:00:00'
                             AND ts < TIMESTAMP '2024-01-10 00:00:00')) AS BIGINT) AS v3,
          count(*) FILTER (WHERE ts >= TIMESTAMP '2023-01-01 00:00:00'
                             AND ts < TIMESTAMP '2023-01-02 00:00:00') AS empty_cnt,
          CAST(FLOOR(sum(CAST(value AS DECIMAL(18,6))) FILTER (WHERE ts >= TIMESTAMP '2023-01-01 00:00:00'
                             AND ts < TIMESTAMP '2023-01-02 00:00:00')) AS BIGINT) AS empty_sum
        FROM events"""),

    // kttm_Line-chart/Stackarea: TIME_FLOOR bucket series with a
    // per-bucket filtered measure
    Gate.spark("q_qa_kttm_timefloor_compare",
      """
        SELECT date_trunc('hour', ts) AS bucket,
               count(*) AS cnt,
               count(*) FILTER (WHERE event_type = 'click') AS clicks,
               CAST(FLOOR(sum(CAST(value AS DECIMAL(18,6)))) AS BIGINT) AS sum_v
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
          AND ts < TIMESTAMP '2024-01-10 12:00:00'
        GROUP BY date_trunc('hour', ts)
        ORDER BY bucket""",
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket,
                count(*) AS cnt,
                count(*) FILTER (WHERE event_type = 'click') AS clicks,
                CAST(FLOOR(sum(CAST(value AS DECIMAL(18,6)))) AS BIGINT) AS sum_v
         FROM events
         WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
           AND ts < TIMESTAMP '2024-01-10 12:00:00'
         GROUP BY date_trunc('hour', ts)
         ORDER BY bucket"""),

    // kttm_Spotmatrix/Heatmap grid: a JSON-extracted dimension × hourly
    // TIME_FLOOR grid under an IN filter on the extracted value, grouped
    // by ordinals like the generated console SQL (the reference's
    // TIME_FLOOR(…, 'PT1H', NULL, 'Etc/UTC') ≡ the 2-arg form under this
    // engine's pinned-UTC sessions)
    Gate.spark("q_qa_kttm_spotmatrix",
      """
        SELECT JSON_VALUE(props, '$.k') AS k,
               TIME_FLOOR(ts, 'PT1H') AS t,
               CAST(COUNT(*) AS BIGINT) AS count
        FROM events
        WHERE TIMESTAMP '2024-01-05 00:00:00' <= ts
          AND ts < TIMESTAMP '2024-01-05 17:00:00'
          AND JSON_VALUE(props, '$.k') IN ('1','2','3','5','8','13','21','34','55')
        GROUP BY 1, 2
        ORDER BY 1, 2""",
      """SELECT json_extract_string(props, '$.k') AS k,
               time_bucket(INTERVAL '1 hour', ts) AS t,
               CAST(COUNT(*) AS BIGINT) AS count
         FROM events
         WHERE TIMESTAMP '2024-01-05 00:00:00' <= ts
           AND ts < TIMESTAMP '2024-01-05 17:00:00'
           AND json_extract_string(props, '$.k') IN ('1','2','3','5','8','13','21','34','55')
         GROUP BY 1, 2
         ORDER BY 1, 2"""),

    // kttm_Table/Spotmatrix preamble: the console's GROUP BY () global
    // aggregate — Calcite's explicit empty grouping set, which Spark's
    // parser rejects; SqlApi.emptyGroupBy translates it to the
    // GROUPING SETS spelling, so the gate goes through the facade
    Gate("q_qa_kttm_groupby_empty", (s, dir) => {
      graft.api.SqlApi.run(s, dir, """{
        "query": "SELECT MAX(date_trunc('second', ts)) AS mx, CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY ()",
        "context": {"sqlQueryId": "gate-kttm-groupby-empty"}
      }""")
    },
      """SELECT MAX(date_trunc('second', ts)) AS mx,
                CAST(COUNT(*) AS BIGINT) AS n
         FROM events GROUP BY ()"""),

    // ------------------------- decoupled-planning Calcite corpus shapes ----
    // (reference sql/src/test/quidem DecoupledPlanningCalciteQueryTest:
    // shapes that stress the planner — re-aggregation of a time-floored
    // GROUP BY with HAVING, LIMIT pushdown through an extraction-fn
    // grouping, and UNION ALL under a global sort+limit;
    // repeated-virtual-grouping, exact-count-distinct, and
    // time-filter-on-subquery shapes are covered by the earlier Calcite
    // misc gates)

    Gate.spark("q_qa_groupby_on_groupby_timefloor",
      """
        SELECT o_orderstatus,
               CAST(date_trunc('month', gran) AS DATE) AS mon,
               CAST(FLOOR(sum(CAST(s AS DECIMAL(18,2)))) AS BIGINT) AS tot
        FROM (SELECT date_trunc('day', o_orderdate) AS gran, o_orderstatus,
                     sum(CAST(o_totalprice AS DECIMAL(18,2))) AS s
              FROM orders GROUP BY date_trunc('day', o_orderdate), o_orderstatus
              HAVING sum(CAST(o_totalprice AS DECIMAL(18,2))) > 200000) x
        GROUP BY o_orderstatus, date_trunc('month', gran)
        ORDER BY o_orderstatus, mon DESC"""),

    Gate.spark("q_qa_limit_pushdown_extraction",
      """
        SELECT o_orderstatus, substring(o_orderpriority, 1, 1) AS p1,
               count(*) AS cnt
        FROM orders
        WHERE o_orderstatus = 'F'
        GROUP BY o_orderstatus, substring(o_orderpriority, 1, 1)
        ORDER BY p1
        LIMIT 3"""),

    // qaWin basics_multi_windows: window functions over TWO DIFFERENT
    // partitionings in one SELECT over a grouped subquery — the planner
    // must share one sort/exchange for the same-partitioning pair and add
    // exactly one more for the second partitioning (pinned in PlanSpec)
    Gate.spark("q_qa_win_multi_partitions",
      """
        WITH base AS (
          SELECT user_id, event_type, count(*) AS n
          FROM events WHERE user_id < 40
          GROUP BY user_id, event_type)
        SELECT user_id, event_type, n,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY event_type) AS rn_by_user,
               CAST(sum(n) OVER (PARTITION BY user_id
                                 ORDER BY event_type) AS BIGINT) AS run_by_user,
               CAST(sum(n) OVER (PARTITION BY event_type
                                 ORDER BY user_id) AS BIGINT) AS run_by_type
        FROM base ORDER BY user_id, event_type"""),

    // qaSql aggr_general: aggregate ARITHMETIC inside HAVING, chained
    // through IS [NOT] DISTINCT FROM self-comparisons plus a HAVING-level
    // time filter — the planner must recognize the repeated aggregate
    // expression as one aggregate, not re-evaluate per predicate term
    Gate.spark("q_qa_aggr_having_distinct_from",
      """
        SELECT date_trunc('hour', ts) AS t, count(*) + 1 AS c
        FROM events
        GROUP BY date_trunc('hour', ts)
        HAVING date_trunc('hour', ts) BETWEEN TIMESTAMP '2024-01-10 00:00:00'
                                          AND TIMESTAMP '2024-01-10 06:00:00'
           AND (count(*) + 1 IS NULL
                OR (count(*) + 1 = count(*) + 1
                    AND count(*) + 1 IS NOT DISTINCT FROM count(*) + 1
                    AND count(*) + 1 <> count(*)
                    AND (count(*) + 1 IS DISTINCT FROM count(*))))
        ORDER BY t"""),

    // aggr_general A20: the FULL comparison-operator battery applied to a
    // string-concatenated AGGREGATE inside HAVING (every term must resolve
    // to the same aggregate instance, not re-aggregate per predicate)
    Gate.spark("q_qa_aggr_battery_having",
      s"""
        SELECT date_trunc('hour', ts) AS t, '1' || min(event_type) AS c,
               CAST(count(*) AS BIGINT) AS n
        FROM events
        GROUP BY 1
        HAVING date_trunc('hour', ts) BETWEEN TIMESTAMP '2024-01-10 00:00:00'
                                          AND TIMESTAMP '2024-01-10 06:00:00'
           AND ${battery("'1' || min(event_type)", "'0' || min(event_type)",
                "'2' || min(event_type)", "STRING")}
        ORDER BY t""",
      s"""SELECT date_trunc('hour', ts) AS t, '1' || min(event_type) AS c,
                count(*) AS n
         FROM events
         GROUP BY 1
         HAVING date_trunc('hour', ts) BETWEEN TIMESTAMP '2024-01-10 00:00:00'
                                           AND TIMESTAMP '2024-01-10 06:00:00'
            AND ${battery("'1' || min(event_type)", "'0' || min(event_type)",
                 "'2' || min(event_type)", "VARCHAR")}
         ORDER BY t"""),

    // aggr_general A39-A41 + A24-A25: the comparison battery over BITWISE
    // aggregates and over a TIMESTAMP aggregate shifted by interval
    // arithmetic — both probe families compared in HAVING like the corpus
    Gate.spark("q_qa_aggr_battery_bit_time",
      s"""
        SELECT date_trunc('hour', ts) AS t,
               CAST(bit_xor(user_id) + 1 AS BIGINT) AS bx,
               CAST(bit_and(user_id) AS BIGINT) AS ba,
               CAST(bit_or(user_id) AS BIGINT) AS bo,
               min(date_trunc('hour', ts)) + INTERVAL 1 YEAR AS mt,
               CAST(count(*) AS BIGINT) AS n
        FROM events
        GROUP BY 1
        HAVING date_trunc('hour', ts) BETWEEN TIMESTAMP '2024-01-10 00:00:00'
                                          AND TIMESTAMP '2024-01-10 06:00:00'
           AND ${battery("bit_xor(user_id) + 1", "bit_xor(user_id)",
                "bit_xor(user_id) + 2", "STRING")}
           AND ${battery("min(date_trunc('hour', ts)) + INTERVAL 1 YEAR",
                "min(date_trunc('hour', ts))",
                "min(date_trunc('hour', ts)) + INTERVAL 2 YEAR", "STRING")}
        ORDER BY t""",
      s"""SELECT date_trunc('hour', ts) AS t,
                CAST(bit_xor(user_id) + 1 AS BIGINT) AS bx,
                CAST(bit_and(user_id) AS BIGINT) AS ba,
                CAST(bit_or(user_id) AS BIGINT) AS bo,
                min(date_trunc('hour', ts)) + INTERVAL 1 YEAR AS mt,
                count(*) AS n
         FROM events
         GROUP BY 1
         HAVING date_trunc('hour', ts) BETWEEN TIMESTAMP '2024-01-10 00:00:00'
                                           AND TIMESTAMP '2024-01-10 06:00:00'
            AND ${battery("bit_xor(user_id) + 1", "bit_xor(user_id)",
                 "bit_xor(user_id) + 2", "VARCHAR")}
            AND ${battery("min(date_trunc('hour', ts)) + INTERVAL 1 YEAR",
                 "min(date_trunc('hour', ts))",
                 "min(date_trunc('hour', ts)) + INTERVAL 2 YEAR", "VARCHAR")}
         ORDER BY t"""),

    // aggr_general A21: the battery over JSON_VALUE OF an aggregate —
    // json extraction composed on top of the aggregated json column
    Gate.spark("q_qa_aggr_battery_json",
      s"""
        SELECT date_trunc('hour', ts) AS t,
               '1' || JSON_VALUE(min(props), '$$.k') AS c,
               CAST(count(*) AS BIGINT) AS n
        FROM events
        GROUP BY 1
        HAVING date_trunc('hour', ts) BETWEEN TIMESTAMP '2024-01-10 00:00:00'
                                          AND TIMESTAMP '2024-01-10 06:00:00'
           AND ${battery("'1' || JSON_VALUE(min(props), '$.k')",
                "'0' || JSON_VALUE(min(props), '$.k')",
                "'2' || JSON_VALUE(min(props), '$.k')", "STRING")}
        ORDER BY t""",
      s"""SELECT date_trunc('hour', ts) AS t,
                '1' || json_extract_string(min(props), '$$.k') AS c,
                count(*) AS n
         FROM events
         GROUP BY 1
         HAVING date_trunc('hour', ts) BETWEEN TIMESTAMP '2024-01-10 00:00:00'
                                           AND TIMESTAMP '2024-01-10 06:00:00'
            AND ${battery("'1' || json_extract_string(min(props), '$.k')",
                 "'0' || json_extract_string(min(props), '$.k')",
                 "'2' || json_extract_string(min(props), '$.k')", "VARCHAR")}
         ORDER BY t"""),

    Gate.spark("q_qa_union_all_limit",
      """
        SELECT * FROM (
          SELECT c_name AS name, c_acctbal AS bal FROM customer
          UNION ALL
          SELECT 'sup' AS name, 0.0 AS bal FROM lineitem WHERE l_orderkey = 1
        ) u
        ORDER BY bal DESC, name
        LIMIT 5"""),

    // ---------------------------------------- Calcite join-shape corpus ----
    // (reference sql/src/test/quidem CalciteJoinQueryTest shapes, ported
    // onto the TPC-H tables: semi+anti join in one query, union-of-inputs
    // against a dimension, inline datasources with outer where, nested
    // aggregation over an aggregate, extraction functions inside an IN
    // subquery)
    Gate.spark("q_qa_join_semi_anti_simul",
      """
        SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n
        FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM customer
                            WHERE c_mktsegment = 'BUILDING')
          AND o_orderkey NOT IN (SELECT l_orderkey FROM lineitem
                                 WHERE l_quantity > 49)
        GROUP BY o_orderpriority ORDER BY o_orderpriority"""),

    Gate.spark("q_qa_join_union_inputs",
      """
        SELECT n_name, CAST(count(*) AS BIGINT) AS n FROM (
          SELECT c_nationkey AS k FROM customer WHERE c_acctbal > 9000
          UNION ALL
          SELECT s_nationkey AS k FROM supplier WHERE s_acctbal > 9000) u
        JOIN nation ON u.k = n_nationkey
        GROUP BY n_name ORDER BY n_name"""),

    Gate.spark("q_qa_join_inline_outer_where",
      """
        SELECT a.k, a.v, b.v AS bv
        FROM (SELECT * FROM VALUES (1, 'x'), (2, 'y'), (3, 'z') AS t(k, v)) a
        LEFT JOIN (SELECT * FROM VALUES (1, 'p'), (3, 'q') AS t(k, v)) b
          ON a.k = b.k
        WHERE b.v IS NULL OR b.v = 'q'
        ORDER BY a.k""",
      """SELECT a.k, a.v, b.v AS bv
         FROM (SELECT * FROM (VALUES (1, 'x'), (2, 'y'), (3, 'z')) t(k, v)) a
         LEFT JOIN (SELECT * FROM (VALUES (1, 'p'), (3, 'q')) t(k, v)) b
           ON a.k = b.k
         WHERE b.v IS NULL OR b.v = 'q'
         ORDER BY a.k"""),

    // --------------- Calcite join corpus, second tranche (Decoupled
    // PlanningCalciteJoinQueryTest): mismatched-type join keys through
    // casts, LEFT JOIN + IS NULL as anti join, joining two time-floored
    // aggregates on the floored key, UNION ALL where both branches are
    // joins, and two simultaneous IN semi joins
    Gate.spark("q_qa_join_cast_key",
      """
        SELECT n_name, count(*) AS n
        FROM orders JOIN nation
          ON CAST(o_custkey % 25 AS STRING) = CAST(n_nationkey AS STRING)
        GROUP BY n_name ORDER BY n_name"""),

    Gate.spark("q_qa_join_isnull_filter",
      """
        SELECT c_mktsegment, count(*) AS n
        FROM customer LEFT JOIN
          (SELECT DISTINCT o_custkey FROM orders
           WHERE o_orderpriority = '1-URGENT') u
          ON c_custkey = o_custkey
        WHERE o_custkey IS NULL
        GROUP BY c_mktsegment ORDER BY c_mktsegment"""),

    Gate.spark("q_qa_join_timefloor_agg",
      """
        SELECT CAST(a.d AS TIMESTAMP) AS d, a.n_orders, b.n_lines
        FROM (SELECT date_trunc('month', o_orderdate) AS d, count(*) AS n_orders
              FROM orders GROUP BY date_trunc('month', o_orderdate)) a
        JOIN (SELECT date_trunc('month', l_shipdate) AS d, count(*) AS n_lines
              FROM lineitem GROUP BY date_trunc('month', l_shipdate)) b
          ON a.d = b.d
        WHERE a.d >= TIMESTAMP '1997-01-01'
          AND a.d < TIMESTAMP '1998-01-01'
        ORDER BY d"""),

    // testGroupByOverGroupByOverInnerJoinOnTwoInlineDataSources: double
    // re-aggregation above a self-join — the planner must keep one join
    // and collapse the redundant outer grouping
    Gate.spark("q_qa_join_groupby_over_groupby",
      """
        SELECT event_type FROM (
          SELECT event_type, ts FROM (
            SELECT t1.event_type, t1.ts
            FROM events t1 INNER JOIN events t2
              ON t1.event_type = t2.event_type
            WHERE t1.event_id < 200 AND t2.event_id < 200)
          GROUP BY 1, 2)
        GROUP BY event_type ORDER BY event_type"""),

    // testUsingSubqueryAsPartOfAndFilter: IN-subquery semi join AND'ed
    // with a plain predicate under a grouped count
    Gate.spark("q_qa_join_subq_and_filter",
      """
        SELECT o_orderstatus, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n
        FROM orders
        WHERE o_orderpriority IN (SELECT o_orderpriority FROM orders
                                  WHERE o_orderstatus = 'F')
          AND o_orderstatus <> 'P' AND o_orderkey <= 3000
        GROUP BY o_orderstatus, o_orderpriority
        ORDER BY o_orderpriority, o_orderstatus"""),

    // testMultipleExactCountDistinctWithGroupingAndOtherAggregatorsUsingJoin:
    // several exact COUNT(DISTINCT) columns beside plain aggregates under
    // one grouping — plans through Spark's Expand (the reference rewrites
    // to a join of per-distinct subqueries; same results, one pass here)
    Gate.spark("q_qa_multi_count_distinct",
      """
        SELECT o_orderstatus,
               CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS d_pri,
               CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS d_cust,
               CAST(FLOOR(SUM(CAST(o_totalprice AS DECIMAL(18,2)))) AS BIGINT) AS s,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM orders WHERE o_orderkey <= 20000
        GROUP BY o_orderstatus ORDER BY o_orderstatus"""),

    // testCommaJoinLeftFunction: comma-join whose condition applies a
    // scalar function to the left column — the planner must hoist the
    // function into a pre-join projection, not a post-join filter
    Gate.spark("q_qa_join_fn_on_key",
      """
        SELECT c.c_name, r.r_name
        FROM customer c, region r
        WHERE SUBSTRING(c.c_mktsegment, 1, 1) = SUBSTRING(r.r_name, 1, 1)
          AND c.c_custkey <= 300
        ORDER BY c.c_name, r.r_name"""),

    // testExactTopNOnInnerJoinWithLimit: topN grouped on a dimension
    // joined to a grouped subquery of the same table, lexicographic
    // dimension ordering with a limit
    Gate.spark("q_qa_join_topn_limit",
      """
        SELECT f1.o_orderpriority AS pri,
               CAST(FLOOR(sum(CAST(f1.o_totalprice AS DECIMAL(18,2)))) AS BIGINT) AS s
        FROM orders f1 INNER JOIN (
          SELECT o_orderpriority FROM orders
          WHERE o_orderpriority <> '1-URGENT' GROUP BY 1
        ) f2 ON f1.o_orderpriority = f2.o_orderpriority
        GROUP BY 1 ORDER BY 1 LIMIT 1"""),

    // testSemiJoinWithOuterTimeExtractAggregateWithOrderBy: IN-subquery
    // semi join under an outer COUNT(DISTINCT) grouped and ordered by a
    // time-extract virtual column
    Gate.spark("q_qa_join_semi_time_extract",
      """
        SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n,
               CAST(EXTRACT(DAY FROM ts) AS BIGINT) AS d
        FROM events
        WHERE event_type IN (SELECT event_type FROM events WHERE user_id = 7)
          AND user_id < 200
        GROUP BY EXTRACT(DAY FROM ts)
        ORDER BY d"""),

    // testVirtualColumnOnMVFilterJoinExpression: join keyed on an
    // MV_FILTER_ONLY virtual column (non-matching rows filter to the
    // empty cell and are excluded, like the reference's null MVD)
    Gate.spark("q_qa_join_mv_filter_expr",
      """
        WITH f AS (SELECT p_partkey,
                          MV_FILTER_ONLY(split(p_type, ' '), array('PROMO')) AS mv
                   FROM part WHERE p_partkey <= 200)
        SELECT a.p_partkey AS pa, b.p_partkey AS pb
        FROM f a INNER JOIN f b
          ON a.mv = b.mv AND size(a.mv) > 0 AND a.p_partkey < b.p_partkey
        ORDER BY pa, pb""",
      """WITH f AS (SELECT p_partkey,
                           list_filter(string_split(p_type, ' '),
                             x -> x = 'PROMO') AS mv
                    FROM part WHERE p_partkey <= 200)
         SELECT a.p_partkey AS pa, b.p_partkey AS pb
         FROM f a INNER JOIN f b
           ON a.mv = b.mv AND len(a.mv) > 0 AND a.p_partkey < b.p_partkey
         ORDER BY pa, pb"""),

    Gate.spark("q_qa_union_two_joins",
      """
        SELECT * FROM (
          SELECT 'cust' AS side, c_mktsegment AS k, count(*) AS n
          FROM orders JOIN customer ON o_custkey = c_custkey
          WHERE o_orderpriority = '1-URGENT'
          GROUP BY c_mktsegment
          UNION ALL
          SELECT 'supp' AS side, CAST(s_nationkey AS STRING) AS k, count(*) AS n
          FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
          WHERE l_quantity > 45
          GROUP BY s_nationkey) u
        ORDER BY side, k"""),

    Gate.spark("q_qa_two_semi_joins",
      """
        SELECT o_orderpriority, count(*) AS n
        FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM customer
                            WHERE c_acctbal > 9000)
          AND o_orderkey IN (SELECT l_orderkey FROM lineitem
                             WHERE l_quantity > 45)
        GROUP BY o_orderpriority ORDER BY o_orderpriority"""),

    // SqlQuidemTest full_outer_constant_project: a constant project on the
    // null-extended side of a FULL OUTER JOIN must null out for unmatched
    // rows (the reference's DruidJoinRule hoisting case)
    Gate.spark("q_qa_full_outer_const_project",
      """
        SELECT l.a, r.tag
        FROM (SELECT * FROM VALUES ('abc'), ('xyz') AS v(a)) l
        FULL JOIN (SELECT k, 42 AS tag
                   FROM (SELECT * FROM VALUES ('abc'),
                         (CAST(NULL AS STRING)) AS v(k)) t) r
          ON l.a = r.k
        ORDER BY a NULLS FIRST, tag""",
      """SELECT l.a, r.tag
         FROM (VALUES ('abc'), ('xyz')) l(a)
         FULL JOIN (SELECT k, 42 AS tag
                    FROM (VALUES ('abc'), (CAST(NULL AS STRING))) t(k)) r
           ON l.a = r.k
         ORDER BY a NULLS FIRST, tag"""),

    // SqlQuidemTest union_removed_branch_union_nulls: a UNION ALL whose
    // first branch is pruned to empty by a contradictory time filter and
    // whose second is a bare NULL row — type coercion across the union
    // must keep the (BIGINT, STRING) shape
    Gate.spark("q_qa_union_null_branch",
      """
        (SELECT CAST(count(*) AS BIGINT) AS c, o_orderstatus AS ch FROM orders
         WHERE o_orderdate >= DATE '2030-01-01' GROUP BY o_orderstatus)
        UNION ALL
        (SELECT NULL, NULL)
        ORDER BY c NULLS FIRST, ch"""),

    Gate.spark("q_qa_nested_groupby_agg",
      """
        SELECT pri_class, CAST(count(*) AS BIGINT) AS n_groups,
               CAST(sum(n) AS BIGINT) AS total
        FROM (SELECT substring(o_orderpriority, 1, 1) AS pri_class,
                     o_orderpriority, count(*) AS n
              FROM orders WHERE o_orderstatus = 'O'
              GROUP BY o_orderpriority)
        GROUP BY pri_class ORDER BY pri_class"""),

    Gate.spark("q_qa_subq_extraction_fn",
      """
        SELECT substring(o_orderpriority, 3, 1) AS p, CAST(count(*) AS BIGINT) AS n
        FROM orders
        WHERE substring(o_orderpriority, 3, 1)
                IN (SELECT substring(c_mktsegment, 1, 1) FROM customer)
        GROUP BY substring(o_orderpriority, 3, 1)
        ORDER BY p""")
  )
}
