package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Pins the reference semantics mined from the quidem QA suites
  * (quidem-ut `.iq` expected outputs) directly against the engine — the
  * Verify/DuckDB gates in QaSuites check cross-engine agreement; these pin
  * the engine to the reference's literal expected values.
  */
class QaSuitesSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    GraftSession.attach(s)
    s
  }

  private def one(sql: String): Row = spark.sql(sql).head()

  test("ARRAY_AGG keeps nulls and is NULL on empty (qaAggFuncs test001 A03/A04)") {
    val r = one(
      """SELECT array_length(array_agg(x)) AS n,
                strlen(array_to_string(array_agg(x), '|')) AS len,
                array_length(array_agg(DISTINCT x)) AS nd
         FROM VALUES (1111111111L), (CAST(NULL AS BIGINT)), (2222222222L),
                     (1111111111L), (NULL) AS t(x)""")
    assert(r.getInt(0) == 5)              // nulls kept as elements
    assert(r.getInt(1) == 10 * 3 + 4 * 2 + 4) // 3 longs + 2 'null' + 4 seps
    assert(r.getInt(2) == 3)              // DISTINCT keeps one null
    val empty = one(
      "SELECT array_agg(x) AS a FROM (SELECT 1L AS x WHERE 1 = 0)")
    assert(empty.isNullAt(0))             // reference: NULL, not []
  }

  test("ARRAY_CONTAINS is never three-valued on present input (A1_B5_C13)") {
    val r = one(
      """SELECT array_contains(array(CAST(NULL AS BIGINT), NULL, NULL), 1) AS c_null,
                array_contains(array(1L, 2L, NULL), 9) AS c_miss,
                array_contains(array(1L, 2L, NULL), array(1L, 2L)) AS c_all,
                array_contains(array('true', '1', 'S1'), 1) AS c_coerce,
                array_contains(CAST(NULL AS ARRAY<BIGINT>), 1) AS c_nullarr""")
    assert(r.getBoolean(0) == false)
    assert(r.getBoolean(1) == false)
    assert(r.getBoolean(2) == true)
    assert(r.getBoolean(3) == true)       // 1 probes as '1'
    assert(r.isNullAt(4))                 // NULL array stays NULL
  }

  test("ARRAY_SLICE pads past the end with nulls (A1_B12_C16)") {
    val r = one(
      """SELECT array_to_string(array_slice(CAST(array() AS ARRAY<STRING>), 0, 2), '|') AS s_empty,
                array_to_string(array_slice(array(1L, 2L, 3L), 1, 3), '|') AS s_mid,
                array_slice(CAST(NULL AS ARRAY<BIGINT>), 0, 2) AS s_null""")
    assert(r.getString(0) == "null|null")
    assert(r.getString(1) == "2|3")
    assert(r.isNullAt(2))
  }

  test("ARRAY_SLICE out-of-range edges are NULL; 2-arg defaults end (Function.java:4646-4656)") {
    val r = one(
      """SELECT array_slice(array(1L, 2L, 3L), -1, 2) AS s_neg,
                array_slice(array(1L, 2L, 3L), 4, 5) AS s_past,
                array_slice(array(1L, 2L, 3L), 2, 1) AS s_inv,
                array_to_string(array_slice(array(1L, 2L, 3L), 1), '|') AS s_2arg,
                array_to_string(array_slice(array(1L, 2L, 3L), 3, 5), '|') AS s_atlen,
                array_to_string(array_slice(array(1L, 2L, 3L), 1, 1), '|') AS s_emptyrange,
                array_slice(CAST(array() AS ARRAY<STRING>), 1, 2) AS s_emptyarr""")
    assert(r.isNullAt(0))                 // start < 0
    assert(r.isNullAt(1))                 // start > length
    assert(r.isNullAt(2))                 // start > end
    assert(r.getString(3) == "2|3")       // end defaults to length
    assert(r.getString(4) == "null|null") // copyOfRange pads past the end
    assert(r.getString(5) == "")          // start == end → empty
    assert(r.isNullAt(6))                 // start 1 > length 0
  }

  test("DIV on doubles divides first, then truncates the quotient (Function.java:1264)") {
    val r = one(
      """SELECT DIV(10.0D, 2.5D) AS d_frac,
                DIV(10.0D, 0.3D) AS d_small,
                DIV(7, 2) AS d_int, DIV(-7, 2) AS d_negint,
                DIV(-7.5D, 2.5D) AS d_negfrac,
                DIV(1.0D, 0.0D) AS d_zero""")
    assert(r.getLong(0) == 4L)            // not 10/2 = 5
    assert(r.getLong(1) == 33L)           // divisor < 1 still divides
    assert(r.getLong(2) == 3L)
    assert(r.getLong(3) == -3L)           // truncate toward zero
    assert(r.getLong(4) == -3L)
    assert(r.getLong(5) == Long.MaxValue) // (long)(x/0.0) = (long)Inf
    // long path: /0 is an error in the reference (Java ArithmeticException);
    // ANSI IntegralDivide rejects the same way
    intercept[Exception](one("SELECT DIV(7L, 0L) AS d_intzero"))
  }

  test("ARRAY_TO_STRING prints null elements as 'null' (A1_B13)") {
    val r = one(
      """SELECT array_to_string(array(1L, 0L, NULL), '|') AS s_long,
                array_to_string(array(0.1D, NULL, 0.2D), '|') AS s_dbl,
                array_to_string(CAST(array() AS ARRAY<STRING>), '|') AS s_empty""")
    assert(r.getString(0) == "1|0|null")
    assert(r.getString(1) == "0.1|null|0.2")
    assert(r.getString(2) == "")
  }

  test("APPEND/PREPEND coerce toward string arrays (A1_B9/A1_B10)") {
    val r = one(
      """SELECT array_to_string(array_append(array('S1', 'S2', NULL), 9), '|') AS app_str,
                array_to_string(array_append(array(0.1D, 0.2D), 9), '|') AS app_dbl,
                array_to_string(array_prepend(9, array(1L, 0L, NULL)), '|') AS pre_long""")
    assert(r.getString(0) == "S1|S2|null|9")
    assert(r.getString(1) == "0.1|0.2|9.0")
    assert(r.getString(2) == "9|1|0|null")
  }

  test("OFFSET is 0-based, ORDINAL 1-based, *_OF NULL when absent (A1_B3/B7)") {
    val r = one(
      """SELECT array_offset(array(1L, 2L, NULL), 0) AS off0,
                array_offset(array(1L, 2L, NULL), 100) AS oob,
                array_ordinal(array(1L, 2L, NULL), 1) AS ord1,
                array_offset_of(array(0.1D, 0.2D, NULL), 1) AS miss_typed,
                array_offset_of(array(1L, 2L, NULL), 2) AS hit""")
    assert(r.getLong(0) == 1L)
    assert(r.isNullAt(1))
    assert(r.getLong(2) == 1L)
    assert(r.isNullAt(3))                 // int probe misses double array
    assert(r.getInt(4) == 1)
  }

  test("two UNNESTs cross-join; empty/null arrays drop rows (multi_unnests A6_B7_D1)") {
    GraftSession.attach(spark)
    val sql = graft.api.SqlApi.rewriteSql(
      """SELECT count(*) AS n
         FROM (SELECT array(1L, 2L, NULL) AS a, CAST(array() AS ARRAY<STRING>) AS e
               FROM VALUES (1), (2), (3) AS t(i)) src,
              UNNEST(a) AS u1(c1), UNNEST(a) AS u2(c2)""")
    assert(spark.sql(sql).head().getLong(0) == 27L)
    val empty = graft.api.SqlApi.rewriteSql(
      """SELECT count(*) AS n
         FROM (SELECT CAST(array() AS ARRAY<STRING>) AS e FROM VALUES (1) AS t(i)) src,
              UNNEST(e) AS u(c)""")
    assert(spark.sql(empty).head().getLong(0) == 0L)
  }

  test("JSON_VALUE RETURNING rewrite produces typed arrays") {
    val sql = graft.api.SqlApi.rewriteSql(
      """SELECT array_to_string(json_value(j, '$[1]' RETURNING bigint array), '|') AS a,
                json_value(j, '$[1][0]' RETURNING bigint) AS s
         FROM VALUES ('[[true],[1,2,null]]') AS t(j)""")
    val r = spark.sql(sql).head()
    assert(r.getString(0) == "1|2|null")
    assert(r.getLong(1) == 1L)
  }

  test("JSON_VALUE RETURNING accepts a computed first argument") {
    // the reference allows any expression before the path
    // (NestedDataOperatorConversions.java) — e.g. JSON_QUERY output or a
    // CAST — not just a bare column reference
    GraftSession.attach(spark)
    val sql = graft.api.SqlApi.rewriteSql(
      """SELECT json_value(json_query(j, '$[1]'), '$[0]' RETURNING bigint) AS nested,
                json_value(CAST(j AS STRING), '$[1][1]' RETURNING bigint) AS casted,
                array_to_string(json_value(json_query(j, '$[1]'),
                  '$' RETURNING bigint array), '|') AS arr
         FROM VALUES ('[[true],[1,2,null]]') AS t(j)""")
    val r = spark.sql(sql).head()
    assert(r.getLong(0) == 1L)
    assert(r.getLong(1) == 2L)
    assert(r.getString(2) == "1|2|null")
  }

  test("qaArray ops_funcs_scalar_funcs: scalar math fns reject ARRAY args") {
    // The reference corpus (ops_funcs_scalar_funcs.*.iq, 43 files) is all
    // !error testcases — 'Cannot apply ABS to arguments of type
    // ABS(<BIGINT ARRAY>)' and analogues for every scalar math function.
    // Spark's analyzer rejects the same shapes (DATATYPE_MISMATCH), so the
    // error surface agrees even though the messages differ.
    for (fn <- Seq("abs", "ceil", "floor", "exp", "ln", "sqrt", "sin",
                   "cos", "tan", "log10", "acos", "asin"))
      intercept[Exception] {
        spark.sql(s"SELECT $fn(array(1L, 2L, NULL)) AS c").collect()
      }
    intercept[Exception] {
      spark.sql("SELECT mod(array(1L, 2L), 2) AS c").collect()
    }
    intercept[Exception] {
      spark.sql("SELECT power(array(1L, 2L), 2) AS c").collect()
    }
    intercept[Exception] {
      spark.sql("SELECT round(array(0.1D), 1) AS c").collect()
    }
    // ops_funcs_ops.*.iq: arithmetic operators reject array operands too
    // ("Cannot apply '+' to arguments of type '<BIGINT ARRAY> + <BIGINT
    // ARRAY>'")
    for (op <- Seq("+", "-", "*", "/"))
      intercept[Exception] {
        spark.sql(s"SELECT (array(1L, 2L) $op array(1L, 2L)) AS c").collect()
      }
    // qaWin basics_window_funcs.02: ntile(0) is rejected ("numBuckets[0]
    // must be greater than zero") — Spark raises the same class of error
    intercept[Exception] {
      spark.sql(
        """SELECT ntile(0) OVER (ORDER BY x) FROM VALUES (1), (2) t(x)"""
      ).collect()
    }
  }

  test("qaWin orderby_*_negative: negative frame bounds are rejected (56 !error files)") {
    // The whole orderby_{rows,range}_negative_* corpus family is !error
    // (QueryInterruptedException) — 'ROWS BETWEEN -1 PRECEDING AND CURRENT
    // ROW' and the RANGE analogues. Spark silently evaluates the empty
    // frame to NULL, so the engine adds RejectInvertedFrames.
    GraftSession.attach(spark)
    for (frame <- Seq(
      "ROWS BETWEEN -1 PRECEDING AND CURRENT ROW",
      "ROWS BETWEEN CURRENT ROW AND -1 FOLLOWING",
      "RANGE BETWEEN -1 PRECEDING AND CURRENT ROW"))
      intercept[Exception] {
        spark.sql(
          s"""SELECT sum(x) OVER (ORDER BY x $frame)
              FROM VALUES (1), (2) t(x)""").collect()
      }
  }

  test("qa gate battery matches pinned reference row counts") {
    // spot-pin .iq expected cardinalities through the actual gate SQL
    val q = SparkEntry.queries
    def rows(name: String): Long = q(name)(spark, "unused").count()
    assert(rows("q_qa_unnest_multi_cross") == 9)   // 27 rows → 9 groups
    assert(rows("q_qa_array_group_by") == 2)       // 4 rows → 2 array groups
    assert(rows("q_qa_mv_unnest_group") == 5)      // 5 distinct MV cells
    assert(rows("q_qa_unnest_basic") == 3)         // {null, 1, 2}
    assert(rows("q_qa_aggfuncs_array_agg_long") == 1)
    val agg = q("q_qa_aggfuncs_array_agg_long")(spark, "unused").head()
    assert(agg.getInt(agg.fieldIndex("n_all")) == 18)
    assert(agg.getInt(agg.fieldIndex("len_all")) == 161)
    assert(agg.getBoolean(agg.fieldIndex("has_both")))
    assert(!agg.getBoolean(agg.fieldIndex("has_3")))
  }

  test("json path slice/union/double-dot grammar is rejected loudly " +
      "(func_json_value.02 A073-A076, func_json_query.03 A106-A109)") {
    // NestedPathFinder.parseJsonPath rejections → QueryInterruptedException
    // in the reference; the JsonWalk transcription raises the same set
    val doc = """{"a":[{"x":1},{"x":2}]}"""
    for (path <- Seq("$.a[0:2]", "$.a[0,1]", "$.a[:2]", "$.a[0:]",
        "$..x", "$.[0]", "$x", "$['a", "$.a[0")) {
      val e = intercept[Exception] {
        spark.sql(s"SELECT JSON_VALUE('$doc', '$path')").collect()
      }
      assert(e.getMessage != null)
    }
    // …while negative indexes and function-call-looking fields parse fine
    assert(one(s"SELECT JSON_QUERY('$doc', '$$.a[-1].x') AS r").getString(0) == "2")
    assert(one(s"SELECT JSON_VALUE('$doc', '$$.a[0].x.length()') AS r").isNullAt(0))
  }

  test("array_agg/string_agg maxBytes validates the [10, IntMax] window " +
      "(qaAggFuncs *_misc_test005 A01-A08)") {
    // ExpressionLambdaAggregatorFactory: maxSizeBytes >= MIN_SIZE_BYTES
    // (10) and HumanReadableBytes.getBytesInInt rejects > Integer.MAX_VALUE
    for (bad <- Seq("'Not even a size'", "-1", "0", "1", "2147483648")) {
      val e = intercept[Exception] {
        spark.sql(s"SELECT array_agg(r_name, $bad) FROM VALUES ('a') t(r_name)")
          .collect()
      }
      assert(e.getMessage != null)
      val e2 = intercept[Exception] {
        spark.sql(
          s"SELECT string_agg(r_name, '|', $bad) FROM VALUES ('a') t(r_name)")
          .collect()
      }
      assert(e2.getMessage != null)
    }
    // boundary values run
    assert(one("SELECT array_length(array_agg(c, 10)) AS n " +
      "FROM VALUES ('a'), ('b') t(c)").getInt(0) == 2)
    assert(one("SELECT array_length(array_agg(c, 2147483647)) AS n " +
      "FROM VALUES ('a'), ('b') t(c)").getInt(0) == 2)
  }
}
