package graft

import org.apache.spark.sql.functions._

import graft.Gate.t
import graft.functions.DruidFunctions
import graft.pipeline.TextAnalysis

/** Aggregator (§2.5) and scalar-function (§2.9) gates.
  */
object FunctionGates {

  val gates: Seq[Gate] = Seq(

    // ----------------------------------------------------- aggregators (§2.5)
    Gate("q_agg_firstlast", (s, dir) => {
      // EARLIEST/LATEST: value at min/max __time (unique micro-timestamps)
      t(s, dir)("events")
        .groupBy(col("event_type"))
        .agg(
          min_by(col("value"), col("ts")).as("earliest_value"),
          max_by(col("value"), col("ts")).as("latest_value"),
          min_by(col("user_id"), col("event_id")).as("first_user"))
        .orderBy(col("event_type"))
    },
      """SELECT event_type,
                min_by(value, ts) AS earliest_value,
                max_by(value, ts) AS latest_value,
                min_by(user_id, event_id) AS first_user
         FROM events GROUP BY event_type ORDER BY event_type"""),

    Gate("q_agg_distinct", (s, dir) => {
      t(s, dir)("lineitem")
        .groupBy(col("l_returnflag"))
        .agg(count_distinct(col("l_suppkey")).as("n_supp"),
          count_distinct(col("l_partkey")).as("n_part"))
        .orderBy(col("l_returnflag"))
    },
      """SELECT l_returnflag, count(DISTINCT l_suppkey) AS n_supp,
                count(DISTINCT l_partkey) AS n_part
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),

    Gate("q_agg_approx_distinct", (s, dir) => {
      // HLL cardinality (reference hyperUnique/cardinality aggregator).
      // Self-asserting error bound: estimate AND exact computed in one
      // aggregation; the gate emits the exact value plus a boolean the
      // DuckDB oracle reproduces from exact SQL (reference DataSketches
      // tests assert the same within-epsilon shape).
      t(s, dir)("lineitem")
        .groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_partkey")).as("est"),
          count_distinct(col("l_partkey")).as("n_part_exact"))
        .select(col("l_returnflag"), col("n_part_exact"),
          (abs(col("est").cast("double") /
            col("n_part_exact").cast("double") - 1.0) <= 0.1).as("approx_ok"))
        .orderBy(col("l_returnflag"))
    },
      // ---- self-asserting estimate gates: the engine emits exact values +
      // ---- error-bound booleans; the oracle reproduces the exact values and
      // ---- emits TRUE for each bound (reference sketch tests assert the
      // ---- same within-epsilon shape)
      """SELECT l_returnflag,
                CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_part_exact,
                TRUE AS approx_ok
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),

    Gate("q_agg_filtered", (s, dir) => {
      t(s, dir)("orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          count(when(col("o_orderstatus") === "F", 1)).as("n_f"),
          round(sum(when(col("o_totalprice") > 150000, col("o_totalprice"))), 2)
            .as("big_total"),
          count(lit(1)).as("n"))
        .orderBy(col("o_orderpriority"))
    },
      """SELECT o_orderpriority,
                count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
                round(sum(o_totalprice) FILTER (WHERE o_totalprice > 150000), 2)
                  AS big_total,
                count(*) AS n
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""),

    Gate("q_agg_collect", (s, dir) => {
      t(s, dir)("lineitem")
        .groupBy(col("l_returnflag"))
        .agg(concat_ws(",", sort_array(collect_set(col("l_linestatus"))))
          .as("statuses"))
        .orderBy(col("l_returnflag"))
    },
      """SELECT l_returnflag,
                string_agg(DISTINCT l_linestatus, ',' ORDER BY l_linestatus)
                  AS statuses
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),

    Gate("q_agg_arrayconcat", (s, dir) => {
      // ARRAY_CONCAT_AGG (reference ArrayConcatSqlAggregator): concatenate
      // per-row arrays, here the tokenized p_type; sorted+distinct+joined so
      // the result is deterministic and scalar for the oracle compare
      t(s, dir)("part")
        .groupBy(col("p_brand"))
        .agg(array_join(array_sort(array_distinct(
          flatten(collect_list(split(col("p_type"), " "))))), ",").as("words"),
          count(lit(1)).as("n"))
        .orderBy(col("p_brand"))
    },
      """WITH toks AS (SELECT p_brand, unnest(string_split(p_type, ' ')) AS w
                       FROM part),
              agg AS (SELECT p_brand,
                             string_agg(DISTINCT w, ',' ORDER BY w) AS words
                      FROM toks GROUP BY p_brand),
              cnt AS (SELECT p_brand, count(*) AS n FROM part GROUP BY p_brand)
         SELECT cnt.p_brand, words, n FROM cnt JOIN agg USING (p_brand)
         ORDER BY p_brand"""),

    Gate("q_agg_bitwise", (s, dir) => {
      t(s, dir)("events")
        .groupBy(col("event_type"))
        .agg(bit_and(col("user_id")).as("b_and"),
          bit_or(col("user_id")).as("b_or"),
          bit_xor(col("user_id")).as("b_xor"))
        .orderBy(col("event_type"))
    },
      """SELECT event_type, bit_and(user_id) AS b_and, bit_or(user_id) AS b_or,
                bit_xor(user_id) AS b_xor
         FROM events GROUP BY event_type ORDER BY event_type"""),

    Gate("q_agg_lambda", (s, dir) => {
      // expression-lambda aggregator (reference
      // ExpressionLambdaAggregatorFactory: user fold/combine expressions):
      // fold = acc + x*x over the collected group (order-insensitive exact
      // math on integer-valued doubles)
      t(s, dir)("lineitem")
        .groupBy(col("l_returnflag"))
        .agg(aggregate(collect_list(col("l_quantity")), lit(0.0),
          (acc, x) => acc + x * x).as("sum_sq"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    },
      """SELECT l_returnflag,
                list_sum(list_transform(list(l_quantity), x -> x * x)) AS sum_sq,
                count(*) AS n
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),

    Gate("q_agg_stats", (s, dir) => {
      t(s, dir)("lineitem")
        .groupBy(col("l_linestatus"))
        .agg(round(stddev_samp(col("l_quantity")), 6).as("sd_qty"),
          round(var_pop(col("l_quantity")), 6).as("var_qty"),
          round(avg(col("l_quantity")), 6).as("avg_qty"))
        .orderBy(col("l_linestatus"))
    },
      """SELECT l_linestatus, round(stddev_samp(l_quantity), 6) AS sd_qty,
                round(var_pop(l_quantity), 6) AS var_qty,
                round(avg(l_quantity), 6) AS avg_qty
         FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus"""),

    Gate("q_groupby_array", (s, dir) => {
      // ARRAY-typed grouping key (reference arrays grouping,
      // CalciteArraysQueryTest): group on the array value itself, emit a
      // scalar rendering for the oracle compare
      t(s, dir)("part")
        .select(split(col("p_type"), " ").as("tw"), col("p_retailprice"))
        .groupBy(col("tw"))
        .agg(count(lit(1)).as("n"), round(sum(col("p_retailprice")), 3).as("rev"))
        .select(array_join(col("tw"), ",").as("key"), col("n"), col("rev"))
        .orderBy(col("key"))
    },
      """SELECT array_to_string(tw, ',') AS key, count(*) AS n,
                round(sum(p_retailprice), 3) AS rev
         FROM (SELECT string_split(p_type, ' ') AS tw, p_retailprice FROM part)
         GROUP BY tw ORDER BY key"""),

    Gate("q_agg_empty", (s, dir) => {
      // aggregation over zero input rows: global agg yields one row
      // (count 0, null sums); grouped agg yields zero rows — classic
      // engine edge case the dense oracle corpus never hits
      val none = t(s, dir)("lineitem").filter(col("l_quantity") < -1)
      val global = none.agg(
        count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"),
        max(col("l_shipdate")).as("last_ship"))
      val grouped = none.groupBy(col("l_linestatus"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"),
          max(col("l_shipdate")).as("last_ship"))
        .drop("l_linestatus")
      global.unionByName(grouped)
    },
      """SELECT count(*) AS n, CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
                max(l_shipdate) AS last_ship
         FROM lineitem WHERE l_quantity < -1
         UNION ALL
         SELECT count(*) AS n, CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
                max(l_shipdate) AS last_ship
         FROM lineitem WHERE l_quantity < -1 GROUP BY l_linestatus"""),

    // ------------------------------------------------- scalar functions (§2.9)
    Gate("q_expr_time", (s, dir) => {
      val ts = col("ts")
      t(s, dir)("events").filter(col("event_id") < 200)
        .select(col("event_id"),
          year(ts).cast("long").as("y"),
          month(ts).cast("long").as("mo"),
          dayofmonth(ts).cast("long").as("d"),
          hour(ts).cast("long").as("h"),
          DruidFunctions.timeExtract(ts, "DOW").cast("long").as("dow"),
          DruidFunctions.timeFormat(ts, "yyyy-MM-dd HH").as("fmt"),
          date_trunc("second", DruidFunctions.timeShift(ts, "PT1H", 2)).as("shifted"),
          DruidFunctions.timeFloor(ts, "PT15M").as("floor15m"))
        .orderBy(col("event_id"))
    },
      """SELECT event_id, CAST(year(ts) AS BIGINT) AS y,
                CAST(month(ts) AS BIGINT) AS mo,
                CAST(day(ts) AS BIGINT) AS d,
                CAST(hour(ts) AS BIGINT) AS h,
                CAST(isodow(ts) AS BIGINT) AS dow,
                strftime(ts, '%Y-%m-%d %H') AS fmt,
                date_trunc('second', ts + INTERVAL 2 HOUR) AS shifted,
                date_trunc('minute', ts) -
                  (CAST(minute(ts) AS INT) % 15) * INTERVAL 1 MINUTE AS floor15m
         FROM events WHERE event_id < 200 ORDER BY event_id"""),

    Gate("q_expr_string", (s, dir) => {
      t(s, dir)("customer").filter(col("c_custkey") <= 200)
        .select(col("c_custkey"),
          upper(col("c_name")).as("u"),
          substring(col("c_name"), 1, 8).as("sub"),
          length(col("c_name")).cast("long").as("len"),
          regexp_replace(col("c_name"), "[0-9]", "#").as("masked"),
          lpad(col("c_custkey").cast("string"), 8, "0").as("padded"),
          instr(col("c_name"), "1").cast("long").as("pos1"),
          concat(col("c_mktsegment"), lit(":"), col("c_name")).as("joined"),
          expr("left(c_name, 4)").as("l4"),
          expr("right(c_name, 3)").as("r3"),
          reverse(col("c_mktsegment")).as("rev"),
          repeat(lit("ab"), 3).as("rep"))
        .orderBy(col("c_custkey"))
    },
      """SELECT c_custkey, upper(c_name) AS u, substring(c_name, 1, 8) AS sub,
                CAST(length(c_name) AS BIGINT) AS len,
                regexp_replace(c_name, '[0-9]', '#', 'g') AS masked,
                lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS padded,
                CAST(strpos(c_name, '1') AS BIGINT) AS pos1,
                concat(c_mktsegment, ':', c_name) AS joined,
                left(c_name, 4) AS l4, right(c_name, 3) AS r3,
                reverse(c_mktsegment) AS rev, repeat('ab', 3) AS rep
         FROM customer WHERE c_custkey <= 200 ORDER BY c_custkey"""),

    Gate("q_expr_math", (s, dir) => {
      t(s, dir)("lineitem").filter(col("l_orderkey") < 100)
        .select(col("l_orderkey"), col("l_linenumber"),
          abs(col("l_quantity") - 25).as("a"),
          ceil(col("l_discount") * 10).cast("long").as("c"),
          floor(col("l_tax") * 10).cast("long").as("f"),
          round(sqrt(col("l_extendedprice")), 4).as("sq"),
          pmod(col("l_partkey"), lit(7)).cast("long").as("m"),
          DruidFunctions.safeDivide(col("l_quantity"), col("l_discount"))
            .as("safe_div"),
          greatest(col("l_quantity"), col("l_tax") * 100).as("g"),
          least(col("l_discount"), col("l_tax")).as("l"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
      """SELECT l_orderkey, l_linenumber, abs(l_quantity - 25) AS a,
                CAST(ceil(l_discount * 10) AS BIGINT) AS c,
                CAST(floor(l_tax * 10) AS BIGINT) AS f,
                round(sqrt(l_extendedprice), 4) AS sq,
                CAST(l_partkey % 7 AS BIGINT) AS m,
                CASE WHEN l_discount = 0 THEN NULL
                     ELSE l_quantity / l_discount END AS safe_div,
                greatest(l_quantity, l_tax * 100) AS g,
                least(l_discount, l_tax) AS l
         FROM lineitem WHERE l_orderkey < 100
         ORDER BY l_orderkey, l_linenumber"""),

    Gate("q_expr_case", (s, dir) => {
      t(s, dir)("orders")
        .select(
          when(col("o_orderstatus") === "F", "finished")
            .when(col("o_orderstatus") === "O", "open")
            .otherwise("partial").as("status_word"),
          coalesce(nullif(col("o_orderpriority"), lit("3-MEDIUM")), lit("MED"))
            .as("prio"),
          when(col("o_totalprice") > 100000, "big").otherwise("small").as("sz"))
        .groupBy(col("status_word"), col("prio"), col("sz"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("status_word"), col("prio"), col("sz"))
    },
      """SELECT CASE WHEN o_orderstatus = 'F' THEN 'finished'
                     WHEN o_orderstatus = 'O' THEN 'open'
                     ELSE 'partial' END AS status_word,
                coalesce(nullif(o_orderpriority, '3-MEDIUM'), 'MED') AS prio,
                CASE WHEN o_totalprice > 100000 THEN 'big' ELSE 'small' END AS sz,
                count(*) AS n
         FROM orders GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""),

    Gate("q_expr_json", (s, dir) => {
      // nested/JSON surface (reference json_value / json_keys /
      // json_query_array / NestedFieldVirtualColumn): scalar extraction on
      // the stored props column, plus keys/array-path ops on a synthesized
      // richer document
      val j = concat(lit("{\"id\": "), col("event_id"),
        lit(", \"type\": \""), col("event_type"),
        lit("\", \"vals\": ["), col("user_id"),
        lit(","), pmod(col("event_id"), lit(10)), lit("]}"))
      // parse once into a struct (reference parse_json), then field-access;
      // repeated get_json_object path extraction re-parses the document per
      // call — 3 parses per row became 1
      val parsed = from_json(j, org.apache.spark.sql.types.StructType.fromDDL(
        "id BIGINT, type STRING, vals ARRAY<BIGINT>"))
      TextAnalysis.spreadInput(t(s, dir)("events"))
        .select(col("event_id"),
          DruidFunctions.jsonValue(col("props"), "$.k").cast("long").as("k"),
          parsed.getField("type").as("jtype"),
          element_at(parsed.getField("vals"), 2).as("second_val"),
          concat_ws(",", json_object_keys(j)).as("jkeys"),
          size(parsed.getField("vals")).cast("long").as("nvals"))
        .groupBy(col("k"), col("jtype"))
        .agg(count(lit(1)).as("n"), sum(col("second_val")).as("sum_sv"),
          max(col("jkeys")).as("keys"), max(col("nvals")).as("nvals"))
        .orderBy(col("k"), col("jtype"))
    },
      """WITH docs AS (
           SELECT event_id,
                  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
                  '{"id": ' || event_id || ', "type": "' || event_type ||
                    '", "vals": [' || user_id || ',' || (event_id % 10) ||
                    ']}' AS j
           FROM events)
         SELECT k, json_extract_string(j, '$.type') AS jtype,
                count(*) AS n,
                CAST(sum(CAST(json_extract(j, '$.vals[1]') AS BIGINT))
                  AS BIGINT) AS sum_sv,
                max(array_to_string(json_keys(j), ',')) AS keys,
                CAST(max(json_array_length(j, '$.vals')) AS BIGINT) AS nvals
         FROM docs GROUP BY k, jtype ORDER BY k, jtype"""),

    Gate("q_expr_ip", (s, dir) => {
      // IPV4 functions over synthesized dotted quads (deterministic from keys)
      t(s, dir)("customer").filter(col("c_custkey") <= 100)
        .select(col("c_custkey"),
          concat_ws(".", lit(10), pmod(col("c_custkey"), lit(256)),
            pmod(col("c_custkey") * 7, lit(256)), lit(1)).as("ip"))
        .select(col("c_custkey"), col("ip"),
          DruidFunctions.ipv4Parse(col("ip")).as("ip_long"),
          DruidFunctions.ipv4Match(col("ip"), "10.0.0.0/8").as("in_10"),
          DruidFunctions.ipv4Match(col("ip"), "10.64.0.0/10").as("in_10_64"))
        .orderBy(col("c_custkey"))
    },
      """WITH ips AS (
           SELECT c_custkey,
                  concat('10.', CAST(c_custkey % 256 AS VARCHAR), '.',
                         CAST((c_custkey * 7) % 256 AS VARCHAR), '.1') AS ip
           FROM customer WHERE c_custkey <= 100)
         SELECT c_custkey, ip,
                10 * 16777216 + (c_custkey % 256) * 65536 +
                  ((c_custkey * 7) % 256) * 256 + 1 AS ip_long,
                TRUE AS in_10,
                ((c_custkey % 256) >= 64 AND (c_custkey % 256) < 128) AS in_10_64
         FROM ips ORDER BY c_custkey"""),

    // scalar_datetime EXTRACT variants + TIMESTAMPADD/TIMESTAMPDIFF
    // round-trip, cross-derived in the oracle
    Gate.spark("q_qa_datetime_extract",
      """
        SELECT CAST(sum(extract(DOY FROM ts)) AS BIGINT) AS s_doy,
               CAST(sum(extract(QUARTER FROM ts)) AS BIGINT) AS s_q,
               CAST(sum(weekofyear(ts)) AS BIGINT) AS s_w,
               CAST(sum(extract(DAY FROM ts)) AS BIGINT) AS s_d,
               CAST(count(CASE WHEN TIMESTAMPDIFF(DAY, ts,
                      TIMESTAMPADD(DAY, 3, ts)) = 3 THEN 1 END) AS BIGINT) AS n_tsdiff
        FROM events""",
      """SELECT CAST(sum(dayofyear(ts)) AS BIGINT) AS s_doy,
                CAST(sum(quarter(ts)) AS BIGINT) AS s_q,
                CAST(sum(weekofyear(ts)) AS BIGINT) AS s_w,
                CAST(sum(day(ts)) AS BIGINT) AS s_d,
                CAST(count(CASE WHEN date_diff('day', ts, ts + INTERVAL 3 DAY) = 3
                            THEN 1 END) AS BIGINT) AS n_tsdiff
         FROM events"""),

    // qaSsb denorm variants: the star pre-joined into one wide input,
    // then aggregated — the flat-table plan the reference's denorm_*
    // suites pin
    Gate.spark("q_qa_ssb_denorm",
      """
        WITH denorm AS (
          SELECT n_name, year(o_orderdate) AS yr,
                 CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) AS rev
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
          WHERE l_discount BETWEEN 0.05 AND 0.07)
        SELECT n_name, yr, CAST(floor(sum(rev)) AS BIGINT) AS revenue,
               CAST(count(*) AS BIGINT) AS n
        FROM denorm GROUP BY n_name, yr ORDER BY n_name, yr"""),

    // qaJsonCols JSON_QUERY_ARRAY: array-of-scalars extraction with
    // missing-path NULL, '|'-joined for the hash compare
    Gate.spark("q_qa_json_query_array",
      """
        SELECT array_join(JSON_QUERY_ARRAY('{"a":[1,2,3]}', '$.a'), '|') AS arr_i,
               array_join(JSON_QUERY_ARRAY('{"a":["x","y"]}', '$.a'), '|') AS arr_s,
               (JSON_QUERY_ARRAY('{"a":1}', '$.b') IS NULL) AS missing_null,
               array_join(JSON_QUERY_ARRAY('{"a":["x","y"]}', '$[''a'']'), '|') AS quoted_field,
               array_join(JSON_QUERY_ARRAY('{"a":[[1,2],[3,4]]}', '$.a[-1]'), '|') AS neg_idx,
               array_join(JSON_QUERY_ARRAY('{"a":7}', '$.a'), '|') AS scalar_wrap,
               size(JSON_QUERY_ARRAY('{"a":{"b":1}}', '$.a')) AS obj_wrap_len,
               array_join(JSON_QUERY_ARRAY('{"a":[{"x":1},2]}', '$.a'), '|') AS mixed""",
      """SELECT array_to_string(json_extract_string('{"a":[1,2,3]}', '$.a[*]'), '|') AS arr_i,
                array_to_string(json_extract_string('{"a":["x","y"]}', '$.a[*]'), '|') AS arr_s,
                TRUE AS missing_null,
                'x|y' AS quoted_field,
                '3|4' AS neg_idx,
                '7' AS scalar_wrap,
                1 AS obj_wrap_len,
                '{"x":1}|2' AS mixed"""),

    // the NATIVE json_value macro resolves negative array indexes from
    // the end (NestedPathArrayElement — NativeJsonQuery.rewriteNativeExpr
    // reroutes to json_value_native), while the SQL layer's
    // NestedFieldVirtualColumn planning nulls them (func_json_value.02
    // A077-A079); both share the walker grammar (quoted fields, typed
    // third arg)
    Gate.spark("q_qa_json_native_negidx",
      """
        SELECT json_value_native('{"a":[1,2,3]}', '$.a[-1]') AS nv_neg,
               JSON_VALUE('{"a":[1,2,3]}', '$.a[-1]') AS sql_neg,
               json_value_native('{"a":["p","q"]}', '$[''a''][0]') AS nv_quoted,
               json_value_native('{"a":"9"}', '$.a', 'LONG') AS nv_typed""",
      """SELECT '3' AS nv_neg,
                CAST(NULL AS VARCHAR) AS sql_neg,
                'p' AS nv_quoted,
                9::BIGINT AS nv_typed"""),

    // scalar_string fn surface: druid names (STRPOS/TEXTCAT/PARSE_LONG/
    // STRING_FORMAT) beside the shared regex/pad/trim builtins; the
    // oracle derives each value independently in DuckDB
    Gate.spark("q_qa_sql_string_fns",
      """
        SELECT STRPOS('graft-engine', 'engine') AS sp,
               TEXTCAT('gr', 'aft') AS tc,
               PARSE_LONG('42') AS pl,
               PARSE_LONG('ff', 16) AS plr,
               PARSE_LONG('xyz') AS plbad,
               STRING_FORMAT('%s-%03d', 'q', 7) AS fmt,
               regexp_extract('a1b22c333', '([0-9]+)', 1) AS re1,
               regexp_like('abc123', '[0-9]+') AS rl,
               lpad('7', 3, '0') AS lp, rpad('7', 3, 'x') AS rp,
               repeat('ab', 3) AS rep, reverse('graft') AS rev,
               btrim('xxgraftxx', 'x') AS bt,
               CAST(position('ft' IN 'graft') AS INT) AS pos""",
      """SELECT CAST(strpos('graft-engine', 'engine') AS INTEGER) AS sp,
                'gr' || 'aft' AS tc,
                CAST('42' AS BIGINT) AS pl,
                CAST(255 AS BIGINT) AS plr,
                TRY_CAST('xyz' AS BIGINT) AS plbad,
                printf('%s-%03d', 'q', 7) AS fmt,
                regexp_extract('a1b22c333', '([0-9]+)', 1) AS re1,
                regexp_matches('abc123', '[0-9]+') AS rl,
                lpad('7', 3, '0') AS lp, rpad('7', 3, 'x') AS rp,
                repeat('ab', 3) AS rep, reverse('graft') AS rev,
                trim('xxgraftxx', 'x') AS bt,
                CAST(position('ft' IN 'graft') AS INTEGER) AS pos"""),

    // numMerge (sql quidem corpus): aggregate over a triple self-UNION —
    // partial-agg merge across identical inputs
    Gate.spark("q_qa_union_self_merge",
      """
        SELECT n_regionkey, CAST(sum(n_nationkey) AS BIGINT) AS s,
               CAST(count(*) AS BIGINT) AS n
        FROM (SELECT * FROM nation UNION ALL
              SELECT * FROM nation UNION ALL
              SELECT * FROM nation)
        WHERE n_regionkey IN (1, 2)
        GROUP BY n_regionkey ORDER BY n_regionkey"""),

    // decoupled corpus: COUNT over a CASE that yields a column (counts
    // only non-null branches) next to count(1)
    Gate.spark("q_qa_conditional_count",
      """
        SELECT event_type,
               CAST(count(CASE WHEN value > 0.5 THEN event_type END) AS BIGINT) AS cnt,
               CAST(count(1) AS BIGINT) AS aall
        FROM events
        WHERE event_type IN ('click', 'view')
        GROUP BY event_type ORDER BY event_type"""),

    // mv_filter corpus: MV_FILTER_REGEX / MV_FILTER_PREFIX over
    // STRING_TO_MV literals
    Gate.spark("q_qa_mv_filter_fns",
      """
        SELECT MV_TO_STRING(MV_FILTER_REGEX(
                 STRING_TO_MV('abc,def,abd', ','), '^ab'), '|') AS r,
               MV_TO_STRING(MV_FILTER_PREFIX(
                 STRING_TO_MV('apple,banana,apricot', ','), 'ap'), '|') AS p,
               MV_LENGTH(STRING_TO_MV('a,b,c', ',')) AS len,
               MV_CONTAINS(STRING_TO_MV('a,b,c', ','), 'b') AS has_b""",
      """SELECT array_to_string(list_filter(string_split('abc,def,abd', ','),
                  gx -> regexp_matches(gx, '^ab')), '|') AS r,
                array_to_string(list_filter(string_split('apple,banana,apricot', ','),
                  gx -> starts_with(gx, 'ap')), '|') AS p,
                CAST(len(string_split('a,b,c', ',')) AS INTEGER) AS len,
                list_contains(string_split('a,b,c', ','), 'b') AS has_b"""),

    // testUnionAllQueriesWithLimit: UNION ALL under a global sort+limit
    Gate.spark("q_qa_union_limit",
      """
        SELECT * FROM (
          SELECT 'c' AS src, c_custkey AS k FROM customer
          UNION ALL
          SELECT 's' AS src, s_suppkey AS k FROM supplier)
        ORDER BY src, k LIMIT 20"""),

    // testGroupByLimitPushdownExtraction: extraction-fn grouping key,
    // ordered by the aggregate with a limit
    Gate.spark("q_qa_groupby_limit_extraction",
      """
        SELECT right(c_name, 2) AS e, CAST(count(*) AS BIGINT) AS n
        FROM customer GROUP BY right(c_name, 2)
        ORDER BY n DESC, e LIMIT 10"""),

    // testTimeFilterOnSubquery: the outer __time range must reach the
    // scan through the subquery
    Gate.spark("q_qa_time_filter_subquery",
      """
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(count(DISTINCT user_id) AS BIGINT) AS nd
        FROM (SELECT ts, user_id, value FROM events WHERE value > 0.1)
        WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
          AND ts < TIMESTAMP '2024-01-20 00:00:00'"""),

    // testRepeatedIdenticalVirtualExpressionGrouping: the same virtual
    // expression listed twice in GROUP BY and projected twice
    Gate.spark("q_qa_repeated_virtual_grouping",
      """
        SELECT user_id % 7 AS a, user_id % 7 AS b, CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY user_id % 7, user_id % 7
        ORDER BY a"""),

    // testExactCountDistinctWithGroupingAndOtherAggregators (sql quidem
    // corpus): two exact COUNT(DISTINCT) columns alongside plain
    // aggregates under ROLLUP, with GROUPING() disambiguating the total
    Gate.spark("q_qa_count_distinct_grouping",
      """
        SELECT event_type,
               CAST(count(DISTINCT user_id) AS BIGINT) AS nd_user,
               CAST(count(DISTINCT event_id % 97) AS BIGINT) AS nd_mod,
               CAST(count(*) AS BIGINT) AS n,
               round(sum(value), 3) AS sum_v,
               CAST(grouping(event_type) AS BIGINT) AS g
        FROM events
        GROUP BY ROLLUP(event_type)
        ORDER BY event_type NULLS LAST""",
      """SELECT event_type,
                CAST(count(DISTINCT user_id) AS BIGINT) AS nd_user,
                CAST(count(DISTINCT event_id % 97) AS BIGINT) AS nd_mod,
                CAST(count(*) AS BIGINT) AS n,
                round(CAST(sum(value) AS DOUBLE), 3) AS sum_v,
                CAST(grouping(event_type) AS BIGINT) AS g
         FROM events
         GROUP BY ROLLUP(event_type)
         ORDER BY event_type NULLS LAST"""),

    // scalar_numeric.02/.03 extended fns: trig/log/root identities plus
    // SAFE_DIVIDE-by-zero and bitwise-and-vs-mod equivalence, as a
    // must-hold-per-row battery
    Gate.spark("q_qa_sql_math_funcs",
      """
        SELECT CAST(count(*) AS BIGINT) AS cnt,
               CAST(count(CASE WHEN BITWISE_AND(user_id, 255) = user_id % 256
                           THEN 1 END) AS BIGINT) AS n_band
        FROM events
        WHERE atan2(value, 1) BETWEEN -1.5708 AND 1.5708
          AND degrees(radians(value)) BETWEEN value - 1e-9 AND value + 1e-9
          AND log10(abs(value) + 10) > 1 - 1e-12
          AND cbrt(value * value * value) BETWEEN value - 1e-6 AND value + 1e-6
          AND hypot(value, 0) = abs(value)
          AND ((value <> 0 AND SAFE_DIVIDE(value, 0.0) IS NULL)
               OR (value = 0 AND SAFE_DIVIDE(value, 0.0) = 0.0))
          AND asin(least(abs(value), 1.0)) >= 0
          AND pi() BETWEEN 3.14159 AND 3.1416""",
      """SELECT CAST(count(*) AS BIGINT) AS cnt,
                CAST(count(CASE WHEN (user_id & 255) = user_id % 256
                            THEN 1 END) AS BIGINT) AS n_band
         FROM events
         WHERE atan2(value, 1) BETWEEN -1.5708 AND 1.5708
           AND degrees(radians(value)) BETWEEN value - 1e-9 AND value + 1e-9
           AND log10(abs(value) + 10) > 1 - 1e-12
           AND cbrt(value * value * value) BETWEEN value - 1e-6 AND value + 1e-6
           AND sqrt(value * value) = abs(value)
           AND ((value <> 0 AND (CASE WHEN value <> 0 THEN NULL
                                 ELSE 0.0 END) IS NULL)
                OR (value = 0 AND (CASE WHEN value <> 0 THEN NULL
                                   ELSE 0.0 END) = 0.0))
           AND asin(least(abs(value), 1.0)) >= 0
           AND pi() BETWEEN 3.14159 AND 3.1416"""),

    // Function.java SafeDivide / SizeFormatFunc / NVL surface: long-path
    // truncating safe division (0/0 is NULL on longs), the double path's
    // 0/0 = 0 special case, and the three human-readable formatters with
    // explicit precision (inputs chosen so every printed value is exact at
    // the printed precision — no cross-engine rounding ties)
    Gate.spark("q_qa_scalar_misc_fns",
      """
        SELECT o_orderkey,
               SAFE_DIVIDE(o_orderkey, o_orderkey % 3) AS sd_long,
               SAFE_DIVIDE(CAST(o_orderkey AS DOUBLE),
                           CAST(o_orderkey % 3 AS DOUBLE)) AS sd_dbl,
               NVL(NULLIF(o_orderkey % 5, 0), -1) AS nvl_mod,
               HUMAN_READABLE_BINARY_BYTE_FORMAT(o_orderkey * 1024, 1) AS hrb,
               HUMAN_READABLE_DECIMAL_BYTE_FORMAT(o_orderkey * 1000) AS hrd,
               HUMAN_READABLE_DECIMAL_FORMAT(o_orderkey * 123456, 3) AS hrdec
        FROM orders WHERE o_orderkey < 200 ORDER BY o_orderkey""",
      """SELECT o_orderkey,
                CASE WHEN o_orderkey % 3 = 0 THEN NULL
                     ELSE o_orderkey // (o_orderkey % 3) END AS sd_long,
                CASE WHEN o_orderkey % 3 = 0 THEN
                       (CASE WHEN o_orderkey <> 0 THEN NULL ELSE 0.0 END)
                     ELSE CAST(o_orderkey AS DOUBLE) / (o_orderkey % 3) END AS sd_dbl,
                coalesce(NULLIF(o_orderkey % 5, 0), -1) AS nvl_mod,
                CASE WHEN o_orderkey = 0 THEN '0 B'
                     ELSE printf('%.1f KiB', CAST(o_orderkey AS DOUBLE)) END AS hrb,
                CASE WHEN o_orderkey = 0 THEN '0 B'
                     ELSE printf('%.2f KB', CAST(o_orderkey AS DOUBLE)) END AS hrd,
                CASE WHEN o_orderkey = 0 THEN '0'
                     WHEN o_orderkey * 123456 < 1000000 THEN
                       printf('%.3f K', o_orderkey * 123456 / 1000.0)
                     ELSE printf('%.3f M', (o_orderkey * 123456 // 1000) / 1000.0)
                END AS hrdec
         FROM orders WHERE o_orderkey < 200 ORDER BY o_orderkey""")
  )
}
