package graft

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._

import graft.Gate.t
import graft.operators.{NativeQueries => NQ}

/** Search (§2.11) and the SQL facade (§3.1, §2.9): gates that run through
  * `SqlApi`, JDBC and the statement API.
  */
object SqlFacadeGates {

  val gates: Seq[Gate] = Seq(

    // ----------------------------------------------------------- search (§2.11)
    Gate("q_search", (s, dir) => {
      NQ.search(t(s, dir)("part"), Seq("p_brand", "p_type"), "bra")
    },
      """SELECT dimension, value, cnt FROM (
           SELECT 'p_brand' AS dimension, p_brand AS value, count(*) AS cnt
           FROM part WHERE contains(lower(p_brand), 'bra') GROUP BY p_brand
           UNION ALL
           SELECT 'p_type' AS dimension, p_type AS value, count(*) AS cnt
           FROM part WHERE contains(lower(p_type), 'bra') GROUP BY p_type)
         ORDER BY dimension, value"""),

    Gate("q_segment_metadata", (s, dir) => {
      NQ.segmentMetadata(t(s, dir)("lineitem"),
        Seq("l_returnflag", "l_linestatus", "l_partkey"))
        .withColumnRenamed("column", "col_name")
    },
      """SELECT col_name, non_null, cardinality FROM (
           SELECT 'l_returnflag' AS col_name, count(l_returnflag) AS non_null,
                  count(DISTINCT l_returnflag) AS cardinality FROM lineitem
           UNION ALL
           SELECT 'l_linestatus', count(l_linestatus),
                  count(DISTINCT l_linestatus) FROM lineitem
           UNION ALL
           SELECT 'l_partkey', count(l_partkey),
                  count(DISTINCT l_partkey) FROM lineitem)
         ORDER BY col_name"""),

    // ----------------------------------------------- SQL façade (§3.1, §2.9)
    Gate.spark("q_sql_surface",
      """
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n,
               SAFE_DIVIDE(CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS DOUBLE),
                           CAST(count(*) AS DOUBLE)) AS f_ratio,
               TIME_FORMAT(min(o_orderdate), 'yyyy-MM') AS first_month
        FROM orders
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority""",
      """SELECT o_orderpriority, count(*) AS n,
                CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS DOUBLE)
                  / CAST(count(*) AS DOUBLE) AS f_ratio,
                strftime(min(o_orderdate), '%Y-%m') AS first_month
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""),

    // SQL EARLIEST/LATEST/EARLIEST_BY/LATEST_BY aggregates (reference
    // EarliestLatestAnySqlAggregator) — injected MinBy/MaxBy, keyed on a
    // unique ordering column for cross-engine determinism
    Gate.spark("q_sql_earliest",
      """SELECT o_orderpriority,
                      earliest(o_totalprice, o_orderkey) AS first_price,
                      latest(o_orderstatus, o_orderkey) AS last_status,
                      earliest_by(o_orderstatus, o_orderkey) AS first_status,
                      latest_by(o_totalprice, o_orderkey) AS last_price
               FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
      """SELECT o_orderpriority,
                min_by(o_totalprice, o_orderkey) AS first_price,
                max_by(o_orderstatus, o_orderkey) AS last_status,
                min_by(o_orderstatus, o_orderkey) AS first_status,
                max_by(o_totalprice, o_orderkey) AS last_price
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""),

    // round-5 reference-SQL compat additions: REGEXP_EXTRACT with group-0
    // default + NULL on no match, DIV integer division, IPV4_MATCH CIDR
    Gate.spark("q_sql_ref_compat",
      """
        SELECT o_orderkey,
               regexp_extract(o_orderpriority, '[0-9]+') AS prio_num,
               regexp_extract(o_orderstatus, '[0-9]+') AS no_match,
               DIV(o_orderkey, 7) AS sevenths,
               IPV4_MATCH(concat('10.', CAST(o_orderkey % 64 AS STRING), '.0.1'),
                          '10.32.0.0/11') AS in_subnet
        FROM orders WHERE o_orderkey < 500 ORDER BY o_orderkey""",
      """SELECT o_orderkey,
                CASE WHEN regexp_matches(o_orderpriority, '[0-9]+')
                     THEN regexp_extract(o_orderpriority, '[0-9]+') END AS prio_num,
                CASE WHEN regexp_matches(o_orderstatus, '[0-9]+')
                     THEN regexp_extract(o_orderstatus, '[0-9]+') END AS no_match,
                o_orderkey // 7 AS sevenths,
                (o_orderkey % 64) >= 32 AS in_subnet
         FROM orders WHERE o_orderkey < 500 ORDER BY o_orderkey"""),

    Gate("q_sql_api_params", (s, dir) => {
      // SQL-over-HTTP payload (reference POST /druid/v2/sql, SqlQuery.java):
      // typed positional ? parameters bound JDBC-style outside quoted regions
      graft.api.SqlApi.run(s, dir, """{
        "query": "SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n, CAST(sum(o_totalprice) AS DOUBLE) AS rev FROM orders WHERE o_orderstatus = ? AND o_totalprice > ? GROUP BY o_orderpriority ORDER BY o_orderpriority",
        "parameters": [{"type": "VARCHAR", "value": "F"},
                       {"type": "DOUBLE", "value": 50000.0}],
        "context": {"sqlQueryId": "gate-params"}
      }""")
    },
      """SELECT o_orderpriority, count(*) AS n,
                CAST(sum(o_totalprice) AS DOUBLE) AS rev
         FROM orders WHERE o_orderstatus = 'F' AND o_totalprice > 50000.0
         GROUP BY o_orderpriority ORDER BY o_orderpriority"""),

    Gate("q_jdbc_cursor", (s, dir) => {
      // JDBC/Avatica entry point (reference DruidAvaticaHandler +
      // DruidJdbcPreparedStatement): prepare → signature, execute with
      // typed positional parameters, drain the result through sequential
      // bounded frames — proving the frame protocol is lossless vs the
      // one-shot oracle
      import graft.api.JdbcApi
      val connId = s"gate-jdbc-${dir.hashCode.abs}"
      JdbcApi.closeConnection(connId) // idempotent across re-runs
      JdbcApi.openConnection(connId)
      try {
        val (stmtId, sig) = JdbcApi.prepareStatement(s, dir, connId,
          """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
                    round(CAST(sum(o_totalprice) AS DOUBLE), 2) AS rev
             FROM orders WHERE o_orderstatus = ? AND o_totalprice > ?
             GROUP BY o_orderpriority ORDER BY o_orderpriority""")
        require(sig.parameterCount == 2, s"expected 2 params, got $sig")
        JdbcApi.execute(s, dir, connId, stmtId, Seq("F", 1000.0),
          maxRowsInFirstFrame = 0) // metadata-only first frame
        JdbcApi.drainToDataFrame(s, connId, stmtId, fetchMaxRowCount = 2)
      } finally JdbcApi.closeConnection(connId)
    },
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
                round(CAST(sum(o_totalprice) AS DOUBLE), 2) AS rev
         FROM orders WHERE o_orderstatus = 'F' AND o_totalprice > 1000.0
         GROUP BY o_orderpriority ORDER BY o_orderpriority"""),

    Gate("q_sql_api_insert", (s, dir) => {
      // SQL ingestion through the API (reference DruidSqlInsert/MSQ):
      // INSERT INTO … PARTITIONED BY DAY CLUSTERED BY, read back via SQL.
      // The target is cleared first so the append-mode INSERT stays
      // deterministic
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(s"${graft.api.SqlApi.warehouseDir(s)}/api_ins"))
      graft.api.SqlApi.run(s, dir, """{
        "query": "INSERT INTO api_ins SELECT ts AS __time, event_type, user_id, value FROM events PARTITIONED BY DAY CLUSTERED BY event_type"
      }""")
      graft.api.SqlApi.run(s, dir, """{
        "query": "SELECT event_type, CAST(count(*) AS BIGINT) AS n, round(sum(value), 3) AS sum_value FROM api_ins GROUP BY event_type ORDER BY event_type"
      }""")
    },
      """SELECT event_type, count(*) AS n, round(sum(value), 3) AS sum_value
         FROM events GROUP BY event_type ORDER BY event_type"""),

    Gate("q_sql_api_extern", (s, dir) => {
      // MSQ EXTERN table function: read external csv with a typed signature
      // (reference msq/sql ExternalOperatorConversion)
      val out = Gate.scratch(dir, "extern")
      // parallel staging write (r20 opt, guide §6): the single-task
      // coalesce(1) serialized the 150k-row CSV dump; EXTERN's reader
      // fans one task per file, so a multi-file dir is both written and
      // read in parallel. The aggregate downstream is file-count
      // independent (driver float tolerance absorbs sum-order deltas the
      // same way it already did for the csv-vs-parquet engine split).
      t(s, dir)("orders")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
        .write.mode("overwrite").option("header", "true").csv(out)
      graft.api.SqlApi.run(s, dir, s"""{
        "query": "SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n, CAST(sum(o_totalprice) AS DOUBLE) AS rev FROM TABLE(EXTERN('{\\"type\\":\\"local\\",\\"baseDir\\":\\"$out\\",\\"filter\\":\\"*.csv\\"}', '{\\"type\\":\\"csv\\",\\"findColumnsFromHeader\\":true}', '[{\\"name\\":\\"o_orderkey\\",\\"type\\":\\"LONG\\"},{\\"name\\":\\"o_orderpriority\\",\\"type\\":\\"STRING\\"},{\\"name\\":\\"o_totalprice\\",\\"type\\":\\"DOUBLE\\"}]')) GROUP BY o_orderpriority ORDER BY o_orderpriority"
      }""")
    },
      """SELECT o_orderpriority, count(*) AS n,
                CAST(sum(o_totalprice) AS DOUBLE) AS rev
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""),

    Gate("q_sql_api_append", (s, dir) => {
      // TABLE(APPEND(...)) through the SQL API: schema-merging union
      graft.api.SqlApi.run(s, dir, """{
        "query": "SELECT CAST(count(*) AS BIGINT) AS n, CAST(count(n_name) AS BIGINT) AS nations, CAST(count(r_name) AS BIGINT) AS regions FROM TABLE(APPEND('nation','region'))"
      }""")
    },
      """SELECT count(*) AS n, count(n_name) AS nations,
                count(r_name) AS regions
         FROM (SELECT n_name, NULL AS r_name FROM nation
               UNION ALL
               SELECT NULL AS n_name, r_name FROM region)"""),

    Gate("q_sql_statements", (s, dir) => {
      // async SQL statements lifecycle (reference SqlStatementResource):
      // submit → poll to completion → read the durable result. The result
      // parquet is read back as a DataFrame — the distributed consumption
      // path — rather than paging rendered strings through the driver.
      import graft.api.SqlStatements
      val id = SqlStatements.submit(s, dir, """{
        "query": "SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n, round(sum(o_totalprice), 2) AS sum_price FROM orders GROUP BY o_orderpriority",
        "context": {"sqlQueryId": "q_sql_statements"}
      }""")
      val fin = SqlStatements.awaitCompletion(id)
      require(fin == SqlStatements.Success,
        s"statement $fin: ${SqlStatements.status(id)}")
      SqlStatements.resultDataFrame(s, id).orderBy(col("o_orderpriority"))
    },
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
                round(sum(o_totalprice), 2) AS sum_price
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""),

    Gate("q_sql_api_unnest", (s, dir) => {
      // the reference's correlated-unnest SQL surface (CROSS JOIN UNNEST,
      // DruidCorrelateUnnestRel) through the SQL API's dialect translation
      graft.api.SqlApi.run(s, dir, """{
        "query": "SELECT w AS word, CAST(count(*) AS BIGINT) AS n FROM documents CROSS JOIN UNNEST(split(text, ' ')) AS t (w) WHERE lang = ? AND w <> '' GROUP BY w HAVING count(*) > 3 ORDER BY n DESC, word LIMIT 20",
        "parameters": [{"type": "VARCHAR", "value": "en"}]
      }""")
    },
      """SELECT w AS word, count(*) AS n
         FROM documents, unnest(string_split(text, ' ')) AS t(w)
         WHERE lang = 'en' AND w <> ''
         GROUP BY w HAVING count(*) > 3 ORDER BY n DESC, word LIMIT 20"""),

    // MV_* / ARRAY_* SQL surface (reference
    // MultiValueStringOperatorConversions.java): offsets 0-based,
    // ordinals 1-based, set-add sorted-distinct
    Gate.spark("q_sql_mv_funcs",
      """
        SELECT p_partkey,
               CAST(MV_LENGTH(w) AS BIGINT) AS n_words,
               MV_ORDINAL(w, 1) AS w1,
               MV_OFFSET(w, 1) AS w2,
               CAST(MV_OFFSET_OF(w, 'green') AS BIGINT) AS green_off,
               MV_TO_STRING(MV_SLICE(w, 0, 2), '-') AS first2,
               MV_TO_STRING(MV_FILTER_ONLY(w, array('green','blue','red')), ',') AS colors,
               SCALAR_IN_ARRAY('green', w) AS has_green,
               MV_TO_STRING(ARRAY_SET_ADD(MV_SLICE(w, 0, 2), 'zzz'), ',') AS setadd
        FROM (SELECT p_partkey, STRING_TO_MV(p_name, ' ') AS w FROM part)
        ORDER BY p_partkey""",
      """SELECT p_partkey,
                CAST(len(w) AS BIGINT) AS n_words,
                w[1] AS w1,
                w[2] AS w2,
                CAST(nullif(list_position(w, 'green'), 0) - 1 AS BIGINT) AS green_off,
                array_to_string(list_slice(w, 1, 2), '-') AS first2,
                CASE WHEN len(list_filter(w,
                    x -> list_contains(['green','blue','red'], x))) > 0
                  THEN array_to_string(list_filter(w,
                    x -> list_contains(['green','blue','red'], x)), ',')
                  END AS colors,
                list_contains(w, 'green') AS has_green,
                array_to_string(list_sort(list_distinct(
                  list_append(list_slice(w, 1, 2), 'zzz'))), ',') AS setadd
         FROM (SELECT p_partkey, string_split(p_name, ' ') AS w FROM part)
         ORDER BY p_partkey"""),

    // scalar SQL surface: TEXTCAT/STRPOS/TRUNCATE, BITWISE_*, TIME_CEIL,
    // TIME_IN_INTERVAL, IPV4_* (reference Function.java + builtin
    // operator conversions)
    Gate.spark("q_sql_scalar_funcs",
      """
        SELECT o_orderkey,
               TEXTCAT(o_orderstatus, o_orderpriority) AS cat,
               CAST(STRPOS(o_orderpriority, '-') AS BIGINT) AS dash_pos,
               TRUNCATE(o_totalprice / 1000, 2) AS price_k,
               BITWISE_AND(o_orderkey, 255) AS lo_byte,
               BITWISE_XOR(o_orderkey, o_custkey) AS xorv,
               BITWISE_SHIFT_LEFT(o_custkey, 3) AS shl,
               TIME_CEIL(CAST(o_orderdate AS TIMESTAMP), 'P1M') AS month_ceil,
               TIME_IN_INTERVAL(CAST(o_orderdate AS TIMESTAMP),
                                '1995-01-01/1996-01-01') AS in_1995,
               IPV4_STRINGIFY(BITWISE_AND(o_orderkey * 2654435761, 4294967295)) AS fake_ip
        FROM orders WHERE o_orderkey < 1000 ORDER BY o_orderkey""",
      """SELECT o_orderkey,
                concat(o_orderstatus, o_orderpriority) AS cat,
                CAST(strpos(o_orderpriority, '-') AS BIGINT) AS dash_pos,
                sign(o_totalprice / 1000) * floor(abs(o_totalprice / 1000) * 100) / 100 AS price_k,
                o_orderkey & 255 AS lo_byte,
                xor(o_orderkey, o_custkey) AS xorv,
                o_custkey << 3 AS shl,
                date_trunc('month', CAST(o_orderdate AS TIMESTAMP)
                  - INTERVAL 1 microsecond) + INTERVAL 1 month AS month_ceil,
                CAST(o_orderdate AS TIMESTAMP) >= TIMESTAMP '1995-01-01'
                  AND CAST(o_orderdate AS TIMESTAMP) < TIMESTAMP '1996-01-01' AS in_1995,
                concat_ws('.', ((o_orderkey * 2654435761) & 4294967295) // 16777216 % 256,
                               ((o_orderkey * 2654435761) & 4294967295) // 65536 % 256,
                               ((o_orderkey * 2654435761) & 4294967295) // 256 % 256,
                               ((o_orderkey * 2654435761) & 4294967295) % 256) AS fake_ip
         FROM orders WHERE o_orderkey < 1000 ORDER BY o_orderkey"""),

    // round-5 SQL-surface widening: STRING_FORMAT (variadic, printf),
    // PARSE_LONG with radix, TIME_EXTRACT units, and the DECIMAL unit
    // system of the human-readable family (reference Function.java
    // SizeFormatFunc + TimestampExtractExprMacro). The PARSE_LONG hex
    // round-trip proves radix parsing without a DuckDB base-conv oracle;
    // the three hr_* columns pin each CASE branch with tie-free decimals.
    Gate.spark("q_sql_format_funcs",
      """
        SELECT o_orderkey,
               STRING_FORMAT('%s #%05d', o_orderpriority, o_orderkey) AS tag,
               PARSE_LONG(STRING_FORMAT('%x', o_orderkey), 16) AS hex_roundtrip,
               PARSE_LONG(o_orderpriority) AS not_a_number,
               TIME_EXTRACT(CAST(o_orderdate AS TIMESTAMP), 'DOW') AS dow,
               TIME_EXTRACT(CAST(o_orderdate AS TIMESTAMP), 'DOY') AS doy,
               HUMAN_READABLE_DECIMAL_FORMAT(o_orderkey) AS hr_small,
               HUMAN_READABLE_DECIMAL_FORMAT(o_orderkey * 1000) AS hr_k,
               HUMAN_READABLE_DECIMAL_FORMAT(o_orderkey * 1000000) AS hr_m
        FROM orders WHERE o_orderkey < 1000 ORDER BY o_orderkey""",
      """SELECT o_orderkey,
                printf('%s #%05d', o_orderpriority, o_orderkey) AS tag,
                CAST(o_orderkey AS BIGINT) AS hex_roundtrip,
                try_cast(o_orderpriority AS BIGINT) AS not_a_number,
                CAST(isodow(o_orderdate) AS BIGINT) AS dow,
                CAST(dayofyear(o_orderdate) AS BIGINT) AS doy,
                CAST(o_orderkey AS VARCHAR) AS hr_small,
                CASE WHEN o_orderkey = 0 THEN '0'
                     ELSE printf('%.2f K', CAST(o_orderkey AS DOUBLE)) END AS hr_k,
                CASE WHEN o_orderkey = 0 THEN '0'
                     ELSE printf('%.2f M', CAST(o_orderkey AS DOUBLE)) END AS hr_m
         FROM orders WHERE o_orderkey < 1000 ORDER BY o_orderkey""")
  )
}
