package graft

import org.apache.spark.sql.functions._

/** qaSql scalar-function corpus and its comparison batteries.
  */
object QaSqlScalarGates {

  /** qaSql scalar_* comparison battery (scalar_datetime/string/reduction/
    * numeric .iq A*_q_simple): every operator the suite chains over a probe
    * `p1` with its strictly-smaller/larger neighbors `p0`/`p2`. True for
    * every non-null probe by construction. `strType` is the dialect's
    * string type name for the LIKE terms (the reference LIKEs through an
    * implicit cast; Spark and DuckDB both want it explicit).
    */
  private[graft] def battery(p1: String, p0: String, p2: String,
      strType: String): String =
    s"""($p1 IS NULL
         OR ($p1 = $p1
             AND $p1 IS NOT DISTINCT FROM $p1
             AND $p1 <> $p0
             AND ($p1 IS DISTINCT FROM $p0)
             AND $p1 > $p0
             AND $p1 >= $p0
             AND $p1 < $p2
             AND $p1 <= $p2
             AND ($p1 <> $p0) IS TRUE
             AND ($p1 = $p0) IS NOT TRUE
             AND ($p1 = $p0) IS FALSE
             AND ($p1 <> $p0) IS NOT FALSE
             AND $p1 BETWEEN $p0 AND $p2
             AND $p1 NOT BETWEEN $p1 AND $p0
             AND CAST($p1 AS $strType) like '%'
             AND CAST($p1 AS $strType) not like '__DOES_NOT_EXIST__%'
             AND $p1 IN ($p0, $p1, $p2)
             AND $p1 NOT IN ($p0, $p2)))"""

  val gates: Seq[Gate] = Seq(

    // ---------------------------------------------- qaSql scalar corpus ----
    // (reference qaSql/scalar_{datetime,string,reduction,numeric}.*.iq —
    // each applies one comparison-operator battery (=, IS [NOT] DISTINCT
    // FROM, <>, ordered compares, IS [NOT] TRUE/FALSE, [NOT] BETWEEN,
    // [NOT] LIKE, [NOT] IN) to a probe expression family; every term holds
    // for every row, so cnt = the filtered slice. The reference LIKEs the
    // raw value through an implicit cast; both dialects here cast
    // explicitly.)
    Gate.spark("q_qa_scalar_datetime_battery",
      s"""
        SELECT CAST(count(*) FILTER (WHERE
                 ${battery("ts", "ts - INTERVAL 2 YEAR", "ts + INTERVAL 2 YEAR", "STRING")}) AS BIGINT) AS cnt_time,
               CAST(count(*) FILTER (WHERE
                 ${battery("TIME_FLOOR(ts, 'P1Y')",
                   "TIME_FLOOR(ts - INTERVAL 2 YEAR, 'P1Y')",
                   "TIME_FLOOR(ts + INTERVAL 2 YEAR, 'P1Y')", "STRING")}) AS BIGINT) AS cnt_floor
        FROM events WHERE user_id < 100""",
      s"""SELECT CAST(count(*) FILTER (WHERE
                  ${battery("ts", "ts - INTERVAL 2 YEAR", "ts + INTERVAL 2 YEAR", "VARCHAR")}) AS BIGINT) AS cnt_time,
                CAST(count(*) FILTER (WHERE
                  ${battery("date_trunc('year', ts)",
                    "date_trunc('year', ts - INTERVAL 2 YEAR)",
                    "date_trunc('year', ts + INTERVAL 2 YEAR)", "VARCHAR")}) AS BIGINT) AS cnt_floor
         FROM events WHERE user_id < 100"""),

    // qaSql scalar_ipv4: the comparison battery over IPV4_PARSE plus
    // subnet-match and parse→stringify round-trip counts (the oracle
    // recomputes the parse arithmetically, so a wrong octet weight or
    // byte order would break the count equality)
    Gate.spark("q_qa_scalar_ipv4_battery",
      s"""
        WITH ips AS (
          SELECT ip, IPV4_PARSE(ip) AS ipl FROM (
            SELECT concat('10.', CAST(user_id % 256 AS STRING), '.',
                          CAST(user_id * 7 % 256 AS STRING), '.1') AS ip
            FROM events WHERE user_id < 100))
        SELECT CAST(count(*) FILTER (WHERE
                 ${battery("ipl", "ipl - 1", "ipl + 1", "STRING")}) AS BIGINT) AS cnt_parse,
               CAST(count(*) FILTER (WHERE IPV4_MATCH(ip, '10.0.0.0/8')) AS BIGINT) AS cnt_match,
               CAST(count(*) FILTER (WHERE IPV4_STRINGIFY(IPV4_PARSE(ip)) = ip) AS BIGINT) AS cnt_roundtrip,
               IPV4_PARSE('300.1.1.1') AS inv_octet,
               IPV4_PARSE('1.2.3.4.5') AS inv_extra,
               IPV4_PARSE('1.2.3') AS inv_short,
               IPV4_PARSE('1.2.3.x') AS inv_alpha,
               IPV4_PARSE('192.168.0.1') AS ok_parse
        FROM ips""",
      s"""WITH ips AS (
           SELECT 10 * 16777216 + (user_id % 256) * 65536
                  + (user_id * 7 % 256) * 256 + 1 AS ipnum
           FROM events WHERE user_id < 100)
         SELECT CAST(count(*) FILTER (WHERE
                  ${battery("ipnum", "ipnum - 1", "ipnum + 1", "VARCHAR")}) AS BIGINT) AS cnt_parse,
                count(*) AS cnt_match,
                count(*) AS cnt_roundtrip,
                CAST(NULL AS BIGINT) AS inv_octet,
                CAST(NULL AS BIGINT) AS inv_extra,
                CAST(NULL AS BIGINT) AS inv_short,
                CAST(NULL AS BIGINT) AS inv_alpha,
                3232235521::BIGINT AS ok_parse
         FROM ips"""),

    Gate.spark("q_qa_scalar_string_battery",
      s"""
        SELECT CAST(count(*) FILTER (WHERE
                 ${battery("'1' || event_type", "'0' || event_type",
                   "'2' || event_type", "STRING")}) AS BIGINT) AS cnt_concat,
               CAST(count(*) FILTER (WHERE
                 ${battery("upper(substring(event_type, 1, 3))",
                   "'A'", "'ZZZZ'", "STRING")}) AS BIGINT) AS cnt_func
        FROM events WHERE user_id < 100""",
      s"""SELECT CAST(count(*) FILTER (WHERE
                  ${battery("'1' || event_type", "'0' || event_type",
                    "'2' || event_type", "VARCHAR")}) AS BIGINT) AS cnt_concat,
                CAST(count(*) FILTER (WHERE
                  ${battery("upper(substring(event_type, 1, 3))",
                    "'A'", "'ZZZZ'", "VARCHAR")}) AS BIGINT) AS cnt_func
         FROM events WHERE user_id < 100"""),

    // scalar_reduction A1..A7: greatest/least/coalesce/nvl/nullif probes
    // (the reference's greatest/least ignore NULL arguments — so does
    // Spark; the DuckDB oracle drops the NULL argument to express the
    // same value)
    Gate.spark("q_qa_scalar_reduction_battery",
      s"""
        SELECT CAST(count(*) FILTER (WHERE
                 ${battery("'1' || greatest(user_id, 1L, CAST(NULL AS BIGINT))",
                   "'0' || greatest(user_id, 1L, CAST(NULL AS BIGINT))",
                   "'2' || greatest(user_id, 1L, CAST(NULL AS BIGINT))", "STRING")}) AS BIGINT) AS cnt_greatest,
               CAST(count(*) FILTER (WHERE
                 ${battery("'1' || least(user_id, 7L, CAST(NULL AS BIGINT))",
                   "'0' || least(user_id, 7L, CAST(NULL AS BIGINT))",
                   "'2' || least(user_id, 7L, CAST(NULL AS BIGINT))", "STRING")}) AS BIGINT) AS cnt_least,
               CAST(count(*) FILTER (WHERE
                 ${battery("'1' || coalesce(CAST(NULL AS STRING), event_type)",
                   "'0' || coalesce(CAST(NULL AS STRING), event_type)",
                   "'2' || coalesce(CAST(NULL AS STRING), event_type)", "STRING")}) AS BIGINT) AS cnt_coalesce,
               CAST(count(*) FILTER (WHERE
                 ${battery("'1' || coalesce(nullif(event_type, 'ZZZ'), 'x')",
                   "'0' || coalesce(nullif(event_type, 'ZZZ'), 'x')",
                   "'2' || coalesce(nullif(event_type, 'ZZZ'), 'x')", "STRING")}) AS BIGINT) AS cnt_nullif
        FROM events WHERE user_id < 100""",
      s"""SELECT CAST(count(*) FILTER (WHERE
                  ${battery("'1' || greatest(user_id, 1)",
                    "'0' || greatest(user_id, 1)",
                    "'2' || greatest(user_id, 1)", "VARCHAR")}) AS BIGINT) AS cnt_greatest,
                CAST(count(*) FILTER (WHERE
                  ${battery("'1' || least(user_id, 7)",
                    "'0' || least(user_id, 7)",
                    "'2' || least(user_id, 7)", "VARCHAR")}) AS BIGINT) AS cnt_least,
                CAST(count(*) FILTER (WHERE
                  ${battery("'1' || coalesce(CAST(NULL AS VARCHAR), event_type)",
                    "'0' || coalesce(CAST(NULL AS VARCHAR), event_type)",
                    "'2' || coalesce(CAST(NULL AS VARCHAR), event_type)", "VARCHAR")}) AS BIGINT) AS cnt_coalesce,
                CAST(count(*) FILTER (WHERE
                  ${battery("'1' || coalesce(nullif(event_type, 'ZZZ'), 'x')",
                    "'0' || coalesce(nullif(event_type, 'ZZZ'), 'x')",
                    "'2' || coalesce(nullif(event_type, 'ZZZ'), 'x')", "VARCHAR")}) AS BIGINT) AS cnt_nullif
         FROM events WHERE user_id < 100"""),

    Gate.spark("q_qa_scalar_numeric_battery",
      s"""
        SELECT CAST(count(*) FILTER (WHERE
                 ${battery("user_id * 2 + 1", "user_id * 2", "user_id * 2 + 2", "STRING")}) AS BIGINT) AS cnt_long,
               CAST(count(*) FILTER (WHERE
                 ${battery("round(value, 2) + 1.0D", "round(value, 2)",
                   "round(value, 2) + 2.0D", "STRING")}) AS BIGINT) AS cnt_double
        FROM events WHERE user_id < 100""",
      s"""SELECT CAST(count(*) FILTER (WHERE
                  ${battery("user_id * 2 + 1", "user_id * 2", "user_id * 2 + 2", "VARCHAR")}) AS BIGINT) AS cnt_long,
                CAST(count(*) FILTER (WHERE
                  ${battery("round(value, 2) + 1.0", "round(value, 2)",
                    "round(value, 2) + 2.0", "VARCHAR")}) AS BIGINT) AS cnt_double
         FROM events WHERE user_id < 100"""),

    // ------------------------------------------- qaSql scalar batteries ----
    // (reference quidem-ut qaSql/scalar_*.iq: per-datatype operator
    // batteries — comparison/pattern/set ops over computed strings, math
    // identities, greatest/least null-skipping, druid time fns vs ANSI
    // derivations, null-handling fns, ipv4 fns — ported from the kttm
    // fixture onto the events table; each predicate battery must hold for
    // every row, so the oracle pins the engine's operator semantics)
    Gate.spark("q_qa_sql_string_battery",
      """
        SELECT CAST(count(*) AS BIGINT) AS cnt FROM events
        WHERE ('1'||event_type IS NULL
           OR ('1'||event_type = '1'||event_type
               AND '1'||event_type IS NOT DISTINCT FROM '1'||event_type
               AND '1'||event_type <> '0'||event_type
               AND ('1'||event_type IS DISTINCT FROM '0'||event_type)
               AND '1'||event_type > '0'||event_type
               AND '1'||event_type >= '0'||event_type
               AND '1'||event_type < '2'||event_type
               AND '1'||event_type <= '2'||event_type
               AND ('1'||event_type <> '0'||event_type) IS TRUE
               AND ('1'||event_type = '0'||event_type) IS NOT TRUE
               AND ('1'||event_type = '0'||event_type) IS FALSE
               AND ('1'||event_type <> '0'||event_type) IS NOT FALSE
               AND '1'||event_type BETWEEN '0'||event_type AND '2'||event_type
               AND '1'||event_type NOT BETWEEN '1'||event_type AND '0'||event_type
               AND '1'||event_type LIKE '%'
               AND '1'||event_type NOT LIKE 'ZZZ%'
               AND '1'||event_type IN ('0'||event_type, '1'||event_type, '2'||event_type)
               AND '1'||event_type NOT IN ('0'||event_type, '2'||event_type)))"""),

    Gate.spark("q_qa_sql_numeric_battery",
      """
        SELECT CAST(count(*) AS BIGINT) AS cnt,
               CAST(count(CASE WHEN abs(TRUNCATE(value, 1)) <= abs(value)
                            AND abs(value) - abs(TRUNCATE(value, 1)) < 0.1
                           THEN 1 END) AS BIGINT) AS n_trunc
        FROM events
        WHERE floor(value) <= value AND ceil(value) >= value
          AND abs(value) >= 0
          AND sqrt(abs(value)) >= 0
          AND power(abs(value) + 1, 2) >= 1
          AND exp(0 * value) = 1
          AND ln(abs(value) + 1) >= 0
          AND round(value, 2) BETWEEN value - 0.006 AND value + 0.006
          AND mod(CAST(floor(abs(value) * 100) AS BIGINT), 7) BETWEEN 0 AND 6
          AND greatest(value, value + 1) = value + 1
          AND least(value, value - 1) = value - 1
          AND sin(value) * sin(value) + cos(value) * cos(value)
                BETWEEN 0.999999 AND 1.000001""",
      """SELECT CAST(count(*) AS BIGINT) AS cnt,
                CAST(count(CASE WHEN abs(trunc(value * 10) / 10) <= abs(value)
                             AND abs(value) - abs(trunc(value * 10) / 10) < 0.1
                            THEN 1 END) AS BIGINT) AS n_trunc
         FROM events
         WHERE floor(value) <= value AND ceil(value) >= value
           AND abs(value) >= 0
           AND sqrt(abs(value)) >= 0
           AND power(abs(value) + 1, 2) >= 1
           AND exp(0 * value) = 1
           AND ln(abs(value) + 1) >= 0
           AND round(value, 2) BETWEEN value - 0.006 AND value + 0.006
           AND mod(CAST(floor(abs(value) * 100) AS BIGINT), 7) BETWEEN 0 AND 6
           AND greatest(value, value + 1) = value + 1
           AND least(value, value - 1) = value - 1
           AND sin(value) * sin(value) + cos(value) * cos(value)
                 BETWEEN 0.999999 AND 1.000001"""),

    Gate.spark("q_qa_sql_reduction",
      """
        SELECT CAST(count(*) AS BIGINT) AS cnt,
               round(sum(greatest(value, 0.5)), 3) AS g_sum,
               round(sum(least(value, 0.5)), 3) AS l_sum,
               CAST(count(CASE WHEN greatest(value, CAST(NULL AS DOUBLE)) = value
                           THEN 1 END) AS BIGINT) AS g_skipnull,
               CAST(count(CASE WHEN least(value, CAST(NULL AS DOUBLE)) = value
                           THEN 1 END) AS BIGINT) AS l_skipnull
        FROM events""",
      """SELECT CAST(count(*) AS BIGINT) AS cnt,
                round(CAST(sum(greatest(value, 0.5)) AS DOUBLE), 3) AS g_sum,
                round(CAST(sum(least(value, 0.5)) AS DOUBLE), 3) AS l_sum,
                CAST(count(CASE WHEN greatest(value, NULL) = value
                            THEN 1 END) AS BIGINT) AS g_skipnull,
                CAST(count(CASE WHEN least(value, NULL) = value
                            THEN 1 END) AS BIGINT) AS l_skipnull
         FROM events"""),

    Gate.spark("q_qa_sql_datetime_battery",
      """
        SELECT date_format(min(TIME_FLOOR(ts, 'PT1H')), 'yyyy-MM-dd HH:mm:ss') AS min_floor,
               date_format(max(TIME_CEIL(ts, 'PT1H')), 'yyyy-MM-dd HH:mm:ss') AS max_ceil,
               date_format(max(TIME_SHIFT(ts, 'P1D', 2)), 'yyyy-MM-dd HH:mm:ss') AS max_shift,
               CAST(sum(TIME_EXTRACT(ts, 'HOUR')) AS BIGINT) AS sum_hour,
               CAST(count(CASE WHEN TIME_IN_INTERVAL(ts, '2024-01-01/2024-02-01')
                           THEN 1 END) AS BIGINT) AS n_in,
               CAST(count(CASE WHEN MILLIS_TO_TIMESTAMP(TIMESTAMP_TO_MILLIS(ts)) <= ts
                           THEN 1 END) AS BIGINT) AS n_millis_rt,
               CAST(count(CASE WHEN TIME_PARSE(TIME_FORMAT(ts, 'yyyy-MM-dd HH:mm:ss'),
                                               'yyyy-MM-dd HH:mm:ss')
                              = date_trunc('second', ts)
                           THEN 1 END) AS BIGINT) AS n_parse_rt
        FROM events""",
      """SELECT strftime(min(date_trunc('hour', ts)), '%Y-%m-%d %H:%M:%S') AS min_floor,
                strftime(max(CASE WHEN date_trunc('hour', ts) = ts THEN ts
                                  ELSE date_trunc('hour', ts) + INTERVAL 1 HOUR END),
                         '%Y-%m-%d %H:%M:%S') AS max_ceil,
                strftime(max(ts + INTERVAL 2 DAY), '%Y-%m-%d %H:%M:%S') AS max_shift,
                CAST(sum(extract(hour FROM ts)) AS BIGINT) AS sum_hour,
                CAST(count(CASE WHEN ts >= TIMESTAMP '2024-01-01'
                                 AND ts < TIMESTAMP '2024-02-01'
                            THEN 1 END) AS BIGINT) AS n_in,
                CAST(count(*) AS BIGINT) AS n_millis_rt,
                CAST(count(*) AS BIGINT) AS n_parse_rt
         FROM events"""),

    Gate.spark("q_qa_sql_other_battery",
      """
        SELECT CAST(count(*) AS BIGINT) AS cnt,
          CAST(count(CASE WHEN NVL(NULLIF(event_type, 'zzz'), 'd') = event_type
                      THEN 1 END) AS BIGINT) AS n_nvl,
          CAST(count(CASE WHEN COALESCE(NULLIF('', ''), event_type) = event_type
                      THEN 1 END) AS BIGINT) AS n_coal,
          CAST(count(CASE WHEN LTRIM('  ' || event_type) = event_type
                      THEN 1 END) AS BIGINT) AS n_ltrim,
          CAST(count(CASE WHEN CAST(CAST(user_id AS STRING) AS BIGINT) = user_id
                      THEN 1 END) AS BIGINT) AS n_cast,
          CAST(count(CASE WHEN CAST(floor(value) AS BIGINT) <= value
                      THEN 1 END) AS BIGINT) AS n_floor_cast
        FROM events""",
      """SELECT CAST(count(*) AS BIGINT) AS cnt,
           CAST(count(CASE WHEN coalesce(NULLIF(event_type, 'zzz'), 'd') = event_type
                       THEN 1 END) AS BIGINT) AS n_nvl,
           CAST(count(CASE WHEN COALESCE(NULLIF('', ''), event_type) = event_type
                       THEN 1 END) AS BIGINT) AS n_coal,
           CAST(count(CASE WHEN LTRIM('  ' || event_type) = event_type
                       THEN 1 END) AS BIGINT) AS n_ltrim,
           CAST(count(CASE WHEN CAST(CAST(user_id AS VARCHAR) AS BIGINT) = user_id
                       THEN 1 END) AS BIGINT) AS n_cast,
           CAST(count(CASE WHEN CAST(floor(value) AS BIGINT) <= value
                       THEN 1 END) AS BIGINT) AS n_floor_cast
         FROM events"""),

    Gate.spark("q_qa_sql_ipv4_battery",
      """
        SELECT CAST(count(CASE WHEN IPV4_MATCH(ip, '10.0.0.0/8') THEN 1 END) AS BIGINT) AS n_match,
               CAST(count(CASE WHEN IPV4_STRINGIFY(IPV4_PARSE(ip)) = ip THEN 1 END) AS BIGINT) AS n_rt,
               CAST(sum(IPV4_PARSE(ip) % 256) AS BIGINT) AS sum_last
        FROM (SELECT '10.' || CAST(user_id % 256 AS STRING) || '.0.' ||
                     CAST(1 + user_id % 200 AS STRING) AS ip
              FROM events)""",
      """SELECT CAST(count(*) AS BIGINT) AS n_match,
                CAST(count(*) AS BIGINT) AS n_rt,
                CAST(sum(1 + user_id % 200) AS BIGINT) AS sum_last
         FROM events""")
  )
}
