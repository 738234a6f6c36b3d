package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Oracle gates mined from the reference's big quidem QA suites —
  * `quidem-ut/src/test/quidem/org.apache.druid.quidem.QTest/{qaArray,
  * qaUnnest, qaAggFuncs}` (185 / 221 / 78 `.iq` files) over the inline
  * datasets in `sql/src/test/quidem/qatests/{qaArray/ops_funcs,
  * qaUnnest/array, qaUnnest/mv, qaAggFuncs}/ingest.json`. Each gate
  * reproduces the suite's test table as an inline VALUES CTE on BOTH engines
  * (Spark dialect + DuckDB dialect) and ports representative query shapes
  * near-verbatim, so the driver's DuckDB compare checks the same semantics
  * the reference's own QA corpus pins.
  *
  * Semantics verified against the `.iq` expected outputs (file: TEST_ID):
  *  - array equality/ordering is structural with null elements equal and
  *    sorting first (`sql_group_by.01` A1_B1: GROUP BY a_bool → 2 groups,
  *    HAVING a_bool=ARRAY[1,0,NULL] → 1); Spark's array comparison has the
  *    same semantics natively, DuckDB's is three-valued so the oracle SQL
  *    compares null-marked string forms / sentinel-mapped sort keys instead.
  *  - ARRAY_CONTAINS never yields SQL NULL for present inputs
  *    (`ops_funcs_array_funcs` A1_B5_C13: contains(a_null, 1) → false);
  *    second-argument arrays mean contains-all (qaAggFuncs test001 A08).
  *  - ARRAY_SLICE pads past the end with nulls (A1_B12_C16:
  *    slice(a_empty, 0, 2) → [null, null]).
  *  - ARRAY_TO_STRING prints null elements as 'null' (A1_B13_C1: '1|0|null').
  *  - ARRAY_AGG keeps null inputs as elements (array_agg_long_test001 A04:
  *    18 elements over 18 rows with 6 nulls) and STRING_AGG skips them
  *    (string_agg_long_test001 A02: strlen 131).
  *  - UNNEST of null/empty arrays produces no rows; null elements do
  *    (array_sql_* SEL + A1_B1); two UNNESTs cross-join (multi_unnests
  *    A6_B6_D1: 27 rows) — DuckDB zips parallel unnests, so the oracle
  *    cross-joins two per-row unnest subqueries on the row key instead.
  *
  * All array-valued outputs ride as '|'-joined strings with literal 'null'
  * markers on both engines (the driver's comparator hashes scalars).
  */
object QaSuites {

  // ------------------------------------------------------------ preludes ----

  /** a_nested JSON: the 7 leaf arrays plus themselves nested once at $[7]
    * (gates address $[0..3], $[1][0] and $[7][3] only).
    */
  private def nestedJson(b: String, i: String, f: String, s: String,
      m: String): String = {
    val seven = s"$b,$i,$f,$s,[null,null,null],[],$m"
    // the reference document nests ITSELF twice: $[7] carries the 7
    // leaves PLUS another copy at $[7][7] (qaArray sql/ingest.json) —
    // a 2-level fixture silently NULLs every $[7][7] path
    s"[$seven,[$seven,[$seven]]]"
  }

  private val nestedA = nestedJson("[true,false,null]", "[1,2,null]",
    "[0.1,0.2,null]", """["S1","S2",null]""", """[true,1,0.1,"S1",null]""")
  private val nestedB = nestedJson("[null,false,true]", "[null,2,1]",
    "[null,0.2,0.1]", """[null,"S2","S1"]""", """[null,"S1",0.1,1,true]""")
  private val nestedU2 = nestedJson("[null,true,false]", "[null,1,2]",
    "[null,0.1,0.2]", """[null,"S1","S2"]""", """[null,true,1,0.1,"S1"]""")
  private val nestedU3 = nestedJson("[false,null,true]", "[2,null,1]",
    "[0.2,null,0.1]", """["S2",null,"S1"]""", """["S1",null,true,1,0.1]""")

  /** qaArray/ops_funcs `test_array`: 4 rows (2 distinct × 2), boolean arrays
    * ingested as LONG arrays like the reference's `auto` dimension handling.
    */
  private val sparkTestArray: String = {
    def row(t: String, b: String, i: String, f: String, s: String, m: String,
        nested: String) =
      s"""(TIMESTAMP'$t', $b, $i, $f, $s,
          array(CAST(NULL AS STRING), NULL, NULL),
          CAST(array() AS ARRAY<STRING>), $m, '$nested')"""
    val a = row("2022-01-01 00:00:00", "array(1L, 0L, CAST(NULL AS BIGINT))",
      "array(1L, 2L, CAST(NULL AS BIGINT))", "array(0.1D, 0.2D, CAST(NULL AS DOUBLE))",
      "array('S1', 'S2', CAST(NULL AS STRING))",
      "array('true', '1', '0.1', 'S1', CAST(NULL AS STRING))", nestedA)
    val b = row("2022-02-01 00:00:00", "array(CAST(NULL AS BIGINT), 0L, 1L)",
      "array(CAST(NULL AS BIGINT), 2L, 1L)", "array(CAST(NULL AS DOUBLE), 0.2D, 0.1D)",
      "array(CAST(NULL AS STRING), 'S2', 'S1')",
      "array(CAST(NULL AS STRING), 'S1', '0.1', '1', 'true')", nestedB)
    s"""test_array AS (SELECT * FROM VALUES $a, $a, $b, $b
        AS t(__time, a_bool, a_int, a_float, a_str, a_null, a_empty, a_mixed,
             a_nested))"""
  }

  private[graft] val duckTestArray: String = {
    def row(t: String, b: String, i: String, f: String, s: String, m: String,
        nested: String) =
      s"""(TIMESTAMP '$t', $b::BIGINT[], $i::BIGINT[], $f::DOUBLE[],
          $s::VARCHAR[], [NULL, NULL, NULL]::VARCHAR[], []::VARCHAR[],
          $m::VARCHAR[], '$nested')"""
    val a = row("2022-01-01 00:00:00", "[1, 0, NULL]", "[1, 2, NULL]",
      "[0.1, 0.2, NULL]", "['S1', 'S2', NULL]", "['true', '1', '0.1', 'S1', NULL]",
      nestedA)
    val b = row("2022-02-01 00:00:00", "[NULL, 0, 1]", "[NULL, 2, 1]",
      "[NULL, 0.2, 0.1]", "[NULL, 'S2', 'S1']", "[NULL, 'S1', '0.1', '1', 'true']",
      nestedB)
    s"""test_array AS (SELECT * FROM (VALUES $a, $a, $b, $b)
        t(__time, a_bool, a_int, a_float, a_str, a_null, a_empty, a_mixed,
          a_nested))"""
  }

  /** qaUnnest/array `test_unnest`: 3 rows, s_int = 1, 2, NULL. */
  private val sparkTestUnnest: String = {
    def row(t: String, si: String, b: String, i: String, f: String, s: String,
        m: String, nested: String) =
      s"""(TIMESTAMP'$t', $si, $b, $i, $f, $s,
          array(CAST(NULL AS STRING), NULL, NULL),
          CAST(array() AS ARRAY<STRING>), $m, '$nested')"""
    val r1 = row("2022-01-01 00:00:00", "1", "array(1L, 0L, CAST(NULL AS BIGINT))",
      "array(1L, 2L, CAST(NULL AS BIGINT))", "array(0.1D, 0.2D, CAST(NULL AS DOUBLE))",
      "array('S1', 'S2', CAST(NULL AS STRING))",
      "array('true', '1', '0.1', 'S1', CAST(NULL AS STRING))", nestedA)
    val r2 = row("2022-02-01 00:00:00", "2", "array(CAST(NULL AS BIGINT), 1L, 0L)",
      "array(CAST(NULL AS BIGINT), 1L, 2L)", "array(CAST(NULL AS DOUBLE), 0.1D, 0.2D)",
      "array(CAST(NULL AS STRING), 'S1', 'S2')",
      "array(CAST(NULL AS STRING), 'true', '1', '0.1', 'S1')", nestedU2)
    val r3 = row("2022-03-01 00:00:00", "CAST(NULL AS INT)",
      "array(0L, CAST(NULL AS BIGINT), 1L)", "array(2L, CAST(NULL AS BIGINT), 1L)",
      "array(0.2D, CAST(NULL AS DOUBLE), 0.1D)",
      "array('S2', CAST(NULL AS STRING), 'S1')",
      "array('S1', CAST(NULL AS STRING), 'true', '1', '0.1')", nestedU3)
    s"""test_unnest AS (SELECT * FROM VALUES $r1, $r2, $r3
        AS t(__time, s_int, a_bool, a_int, a_float, a_str, a_null, a_empty,
             a_mixed, a_nested))"""
  }

  private val duckTestUnnest: String = {
    def row(t: String, si: String, b: String, i: String, f: String, s: String,
        m: String, nested: String) =
      s"""(TIMESTAMP '$t', $si, $b::BIGINT[], $i::BIGINT[], $f::DOUBLE[],
          $s::VARCHAR[], [NULL, NULL, NULL]::VARCHAR[], []::VARCHAR[],
          $m::VARCHAR[], '$nested')"""
    val r1 = row("2022-01-01 00:00:00", "1", "[1, 0, NULL]", "[1, 2, NULL]",
      "[0.1, 0.2, NULL]", "['S1', 'S2', NULL]",
      "['true', '1', '0.1', 'S1', NULL]", nestedA)
    val r2 = row("2022-02-01 00:00:00", "2", "[NULL, 1, 0]", "[NULL, 1, 2]",
      "[NULL, 0.1, 0.2]", "[NULL, 'S1', 'S2']",
      "[NULL, 'true', '1', '0.1', 'S1']", nestedU2)
    val r3 = row("2022-03-01 00:00:00", "NULL::INTEGER", "[0, NULL, 1]",
      "[2, NULL, 1]", "[0.2, NULL, 0.1]", "['S2', NULL, 'S1']",
      "['S1', NULL, 'true', '1', '0.1']", nestedU3)
    s"""test_unnest AS (SELECT * FROM (VALUES $r1, $r2, $r3)
        t(__time, s_int, a_bool, a_int, a_float, a_str, a_null, a_empty,
          a_mixed, a_nested))"""
  }

  /** qaUnnest/mv `test_unnest`: 5 rows of multi-value string dims (nested
    * source arrays stringify to '[2]' / '[3, [4, 5]]' like the reference's
    * MV ingestion); the *_row variants are NULL for c_long=0, [] for 1.
    */
  private val mvComplex = "'my_null', 'my_empty', '1', '[2]', '[3, [4, 5]]'"
  private val mvComplexNullEmpty = "NULL, '', '1', '[2]', '[3, [4, 5]]'"
  private val mvNum = "'-1', '0', '1', '2', '3'"
  private val mvNumNullEmpty = "NULL, '', '1', '2', '3'"
  private val mvAllNullEmpty = "NULL, '', NULL, '', NULL"

  private def mvRows(arr: String => String, nullArr: String): Seq[String] = {
    // (c_str, c_long, c_double, complex_row, num_row)
    val specs = Seq(
      ("NULL", 0, 0.0, nullArr, nullArr),
      ("''", 1, 0.1, arr(""), arr("")),
      ("'str2'", 2, 0.2, arr(mvComplexNullEmpty), arr(mvNumNullEmpty)),
      ("'str3'", 3, 0.3, arr(mvComplexNullEmpty), arr(mvNumNullEmpty)),
      ("'str4'", 4, 0.4, arr(mvComplexNullEmpty), arr(mvNumNullEmpty)))
    specs.map { case (cs, cl, cd, cr, nr) =>
      s"""(TIMESTAMP '2022-01-01 00:00:00', $cs, $cl, CAST($cd AS DOUBLE),
          ${arr(mvComplex)}, ${arr(mvNum)}, ${arr(mvComplexNullEmpty)},
          ${arr(mvNumNullEmpty)}, $cr, $nr, ${arr(mvAllNullEmpty)})"""
    }
  }

  private val mvCols = """(__time, c_str, c_long, c_double, c_mv_complex,
      c_mv_num, c_mv_complex_with_null_and_empty_val,
      c_mv_num_with_null_and_empty_val, c_mv_complex_with_null_and_empty_row,
      c_mv_num_with_null_and_empty_row, c_mv_all_null_and_empty_val)"""
      .replaceAll("\\s+", " ")

  private val sparkTestMv: String = {
    def arr(elems: String) =
      if (elems.isEmpty) "CAST(array() AS ARRAY<STRING>)"
      else s"array(${elems.replace("NULL", "CAST(NULL AS STRING)")})"
    val rows = mvRows(arr, "CAST(NULL AS ARRAY<STRING>)").mkString(", ")
    val cols = mvCols.stripPrefix("(").stripSuffix(")")
    s"test_unnest AS (SELECT * FROM VALUES $rows AS t($cols))"
  }

  private val duckTestMv: String = {
    def arr(elems: String) = s"[$elems]::VARCHAR[]"
    val rows = mvRows(arr, "NULL::VARCHAR[]").mkString(", ")
    val cols = mvCols.stripPrefix("(").stripSuffix(")")
    s"test_unnest AS (SELECT * FROM (VALUES $rows) t($cols))"
  }

  /** qaAggFuncs `test_agg_funcs`: 18 rows = 2 timestamps × {1111111111,
    * 2222222222, NULL} × {'AAAAAAAAAA', 'BBBBBBBBBB', NULL}; numeric columns
    * are NULL exactly when tab0l0 is.
    */
  private def aggRows(tsLit: String => String, nullLong: String,
      nullStr: String, nullDbl: String): String = {
    val ls = Seq("1111111111" -> ("11.11111111", "111.1111111"),
      "2222222222" -> ("22.22222222", "222.2222222"),
      nullLong -> (nullDbl, nullDbl))
    val ss = Seq("'AAAAAAAAAA'", "'BBBBBBBBBB'", nullStr)
    (for {
      ts <- Seq("2020-01-01 01:01:01", "2020-02-01 01:01:01")
      (l, (f, d)) <- ls
      s <- ss
    } yield s"(${tsLit(ts)}, $l, $s, $f, $d)").mkString(", ")
  }

  private val sparkTestAggFuncs: String =
    s"""test_agg_funcs AS (SELECT * FROM VALUES
        ${aggRows(t => s"TIMESTAMP'$t'", "CAST(NULL AS BIGINT)",
          "CAST(NULL AS STRING)", "CAST(NULL AS DOUBLE)")}
        AS t(__time, tab0l0, tab0s0, tab0f0, tab0d0))"""

  private val duckTestAggFuncs: String =
    s"""test_agg_funcs AS (SELECT * FROM (VALUES
        ${aggRows(t => s"TIMESTAMP '$t'", "NULL::BIGINT", "NULL::VARCHAR",
          "NULL::DOUBLE")})
        t(__time, tab0l0, tab0s0, tab0f0, tab0d0))"""

  /** qaJsonCols `test_json_cols` (funcs_and_sql/ingest.json, reduced): 4
    * rows — rows 1-2 carry `a_*`-keyed nested objects and non-null scalars,
    * rows 3-4 carry `b_*`-keyed objects and NULL scalars, so every path
    * query exercises both the hit and the structurally-missing vintage.
    */
  private val jsonC1A: String =
    """{"a_str":"A","a_num_int":1,"a_num_float":0.1,"a_bool":true,""" +
    """"a_null":null,"a_empty_obj":{},"a_empty_array":[],""" +
    """"a_obj":{"a_str":"A","a_num_int":1,""" +
    """"a_obj":{"a_str":"AA","a_num_int":11},""" +
    """"a_array":[{"a_str":"A1","a_num_int":1},{"a_str":"A2","a_num_int":2}]},""" +
    """"a_array":[{"a_str":"A1","a_num_int":1},{"a_str":"A2","a_num_int":2}]}"""

  private val jsonC1B: String =
    """{"b_str":"B","b_num_int":1,"b_num_float":0.1,"b_bool":true,""" +
    """"b_null":null,"b_empty_obj":{},"b_empty_array":[],""" +
    """"b_obj":{"b_str":"B","b_num_int":1,""" +
    """"b_obj":{"b_str":"BB","b_num_int":11},""" +
    """"b_array":[{"b_str":"B1","b_num_int":1},{"b_str":"B2","b_num_int":2}]},""" +
    """"b_array":[{"b_str":"B1","b_num_int":1},{"b_str":"B2","b_num_int":2}]}"""

  private val jsonC2A: String =
    """{"a_str":"C","a_num_int":2,"a_num_float":0.2,"a_bool":false,"a_null":null}"""
  private val jsonC2B: String =
    """{"b_str":"C","b_num_int":2,"b_num_float":0.2,"b_bool":false,"b_null":null}"""

  private val sparkTestJson: String =
    s"""test_json_cols AS (SELECT * FROM VALUES
        (1, TIMESTAMP'2022-01-01 00:00:00', 'A', 1L, 0.1D, true, '$jsonC1A', '$jsonC2A'),
        (2, TIMESTAMP'2022-01-01 00:00:00', 'A', 1L, 0.1D, true, '$jsonC1A', '$jsonC2A'),
        (3, TIMESTAMP'2022-02-01 00:00:00', CAST(NULL AS STRING),
            CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE), CAST(NULL AS BOOLEAN),
            '$jsonC1B', '$jsonC2B'),
        (4, TIMESTAMP'2022-02-01 00:00:00', CAST(NULL AS STRING),
            CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE), CAST(NULL AS BOOLEAN),
            '$jsonC1B', '$jsonC2B')
        AS t(rid, __time, s_str, s_num_int, s_num_float, s_bool, c1, c2))"""

  private val duckTestJson: String =
    s"""test_json_cols AS (SELECT * FROM (VALUES
        (1, TIMESTAMP '2022-01-01 00:00:00', 'A', 1::BIGINT, 0.1::DOUBLE, true, '$jsonC1A', '$jsonC2A'),
        (2, TIMESTAMP '2022-01-01 00:00:00', 'A', 1::BIGINT, 0.1::DOUBLE, true, '$jsonC1A', '$jsonC2A'),
        (3, TIMESTAMP '2022-02-01 00:00:00', NULL::VARCHAR, NULL::BIGINT,
            NULL::DOUBLE, NULL::BOOLEAN, '$jsonC1B', '$jsonC2B'),
        (4, TIMESTAMP '2022-02-01 00:00:00', NULL::VARCHAR, NULL::BIGINT,
            NULL::DOUBLE, NULL::BOOLEAN, '$jsonC1B', '$jsonC2B'))
        t(rid, __time, s_str, s_num_int, s_num_float, s_bool, c1, c2))"""

  // ------------------------------------------------------- dialect helpers --

  /** DuckDB analog of the engine's ARRAY_TO_STRING: 'null' markers, '' for
    * empty, NULL for a NULL array (duck's own array_to_string skips nulls
    * and returns NULL on empty lists).
    */
  private def dStr(c: String, sep: String = "|") =
    s"""(CASE WHEN $c IS NULL THEN NULL
         ELSE coalesce(array_to_string(list_transform($c,
           gx -> coalesce(CAST(gx AS VARCHAR), 'null')), '$sep'), '') END)"""

  /** DuckDB analog of the engine's null-padding ARRAY_SLICE. */
  private def dSlice(c: String, s: Int, e: Int) =
    s"(CASE WHEN $c IS NULL THEN NULL ELSE list_transform(range($s, $e), gi -> $c[gi + 1]) END)"

  // ----------------------------------------------------------------- gates --

  /** A facade gate whose body runs after its fixture prelude on each
    * engine.
    */
  private def g(name: String, sparkPrelude: String, duckPrelude: String,
      sparkBody: String, duckBody: String): Gate =
    Gate.druid(name, s"WITH $sparkPrelude $sparkBody", s"WITH $duckPrelude $duckBody")

  private def ga(name: String, sparkBody: String, duckBody: String) =
    g(name, sparkTestArray, duckTestArray, sparkBody, duckBody)
  private def gu(name: String, sparkBody: String, duckBody: String) =
    g(name, sparkTestUnnest, duckTestUnnest, sparkBody, duckBody)
  private def gm(name: String, sparkBody: String, duckBody: String) =
    g(name, sparkTestMv, duckTestMv, sparkBody, duckBody)
  private def gf(name: String, sparkBody: String, duckBody: String) =
    g(name, sparkTestAggFuncs, duckTestAggFuncs, sparkBody, duckBody)
  private def gj(name: String, sparkBody: String, duckBody: String) =
    g(name, sparkTestJson, duckTestJson, sparkBody, duckBody)

  /** DuckDB analog of the reference's JSON_KEYS (qaJsonCols func_json_keys.02
    * A053/A058): object → sorted field names, array → index strings, empty →
    * '', missing/scalar → NULL; '|'-joined for the scalar comparator.
    */
  private def djk(c: String, p: String) =
    s"""(CASE WHEN json_type($c, '$p') = 'ARRAY'
          THEN coalesce(array_to_string(list_transform(
            range(0, CAST(json_array_length($c, '$p') AS BIGINT)),
            gk -> CAST(gk AS VARCHAR)), '|'), '')
          WHEN json_type($c, '$p') = 'OBJECT'
          THEN coalesce(array_to_string(list_sort(json_keys($c, '$p')), '|'), '')
          ELSE NULL END)"""

  /** DuckDB analog of the reference's JSON_VALUE (qaJsonCols
    * func_json_value.02 A071/A086: object paths yield NULL, but PRIMITIVE
    * arrays — the empty array included — pass through as their compact
    * JSON text (JsonValueExprMacro accepts isPrimitiveArray). The
    * primitive test scans the serialized array for a container opener
    * after '[' — exact on these fixtures (no string values containing
    * braces/brackets).
    */
  private def djv(c: String, p: String) =
    s"""(CASE WHEN json_type($c, '$p') = 'OBJECT' THEN NULL
         WHEN json_type($c, '$p') = 'ARRAY' THEN
           CASE WHEN regexp_matches(substr(json_extract($c, '$p')::VARCHAR, 2),
                                    '[\\[{]') THEN NULL
                ELSE json_extract($c, '$p')::VARCHAR END
         WHEN json_type($c, '$p') = 'BOOLEAN' THEN
           CASE json_extract_string($c, '$p') WHEN 'true' THEN '1' ELSE '0' END
         ELSE json_extract_string($c, '$p') END)"""

  lazy val gates: Seq[Gate] = Seq(
    // ---------------------------------------------------------- qaArray ----
    // ops_funcs_array_funcs.01 A1_B1_C2/C3/C4/C9: typed ARRAY construction
    // with null elements
    ga("q_qa_array_construct",
      """SELECT array_to_string(array(1, 2, NULL), '|') AS c_int,
                array_to_string(array(0.1D, 0.2D, NULL), '|') AS c_dbl,
                array_to_string(array('S1', 'S2', NULL), '|') AS c_str,
                array_to_string(array('true', '1', '0.1', 'S1', 'null'), '|') AS c_strlit
         FROM test_array""",
      s"""SELECT ${dStr("[1, 2, NULL]")} AS c_int,
                 ${dStr("[0.1, 0.2, NULL]::DOUBLE[]")} AS c_dbl,
                 ${dStr("['S1', 'S2', NULL]")} AS c_str,
                 ${dStr("['true', '1', '0.1', 'S1', 'null']")} AS c_strlit
          FROM test_array"""),

    // ops_funcs_agg_funcs.01 A1_B1_C1..C7 + sql_subquery_with_where.01:
    // structural array equality (null elements compare equal)
    ga("q_qa_array_eq_filters",
      """SELECT CAST(count(*) FILTER (WHERE a_bool <> array(1L, 0L, NULL)) AS BIGINT) AS ne_bool,
                CAST(count(*) FILTER (WHERE a_int = array(1L, 2L, NULL)) AS BIGINT) AS eq_int,
                CAST(count(*) FILTER (WHERE a_float <> array(0.1D, 0.2D, NULL)) AS BIGINT) AS ne_float,
                CAST(count(*) FILTER (WHERE a_str = array('S1', 'S2', NULL)) AS BIGINT) AS eq_str,
                CAST(count(*) FILTER (WHERE a_null = array(CAST(NULL AS STRING), NULL, NULL)) AS BIGINT) AS eq_null,
                CAST(count(*) FILTER (WHERE a_bool = a_int) AS BIGINT) AS cross_eq
         FROM test_array""",
      s"""SELECT count(*) FILTER (WHERE ${dStr("a_bool")} <> ${dStr("[1, 0, NULL]::BIGINT[]")}) AS ne_bool,
                 count(*) FILTER (WHERE ${dStr("a_int")} = ${dStr("[1, 2, NULL]::BIGINT[]")}) AS eq_int,
                 count(*) FILTER (WHERE ${dStr("a_float")} <> ${dStr("[0.1, 0.2, NULL]::DOUBLE[]")}) AS ne_float,
                 count(*) FILTER (WHERE ${dStr("a_str")} = ${dStr("['S1', 'S2', NULL]")}) AS eq_str,
                 count(*) FILTER (WHERE ${dStr("a_null")} = ${dStr("[NULL, NULL, NULL]::VARCHAR[]")}) AS eq_null,
                 count(*) FILTER (WHERE ${dStr("a_bool")} = ${dStr("a_int")}) AS cross_eq
          FROM test_array"""),

    // sql_group_by.01 A1_B*: arrays as GROUP BY keys
    ga("q_qa_array_group_by",
      """SELECT array_to_string(a_int, '|') AS k, CAST(count(*) AS BIGINT) AS cnt
         FROM test_array GROUP BY a_int ORDER BY k""",
      s"""SELECT ${dStr("a_int")} AS k, count(*) AS cnt
          FROM test_array GROUP BY a_int ORDER BY k"""),

    // sql_group_by.01: HAVING pinned to one array group
    ga("q_qa_array_group_having",
      """SELECT array_to_string(a_bool, '|') AS k, CAST(count(*) AS BIGINT) AS cnt
         FROM test_array GROUP BY a_bool HAVING a_bool = array(1L, 0L, NULL)""",
      s"""SELECT ${dStr("a_bool")} AS k, count(*) AS cnt
          FROM test_array GROUP BY a_bool HAVING ${dStr("a_bool")} = '1|0|null'"""),

    // ops_funcs_array_funcs A1_B2: ARRAY_LENGTH across column shapes
    ga("q_qa_array_length_cases",
      """SELECT array_length(a_bool) AS l_bool, array_length(a_int) AS l_int,
                array_length(a_float) AS l_float, array_length(a_str) AS l_str,
                array_length(a_null) AS l_null, array_length(a_empty) AS l_empty,
                array_length(a_mixed) AS l_mixed
         FROM test_array""",
      """SELECT CAST(len(a_bool) AS INTEGER) AS l_bool, CAST(len(a_int) AS INTEGER) AS l_int,
                CAST(len(a_float) AS INTEGER) AS l_float, CAST(len(a_str) AS INTEGER) AS l_str,
                CAST(len(a_null) AS INTEGER) AS l_null, CAST(len(a_empty) AS INTEGER) AS l_empty,
                CAST(len(a_mixed) AS INTEGER) AS l_mixed
         FROM test_array"""),

    // A1_B3/A1_B4: 0-based OFFSET vs 1-based ORDINAL, NULL out of bounds
    ga("q_qa_array_offset_ordinal",
      """SELECT array_offset(a_int, 0) AS off0, array_offset(a_int, 2) AS off2,
                array_offset(a_int, 100) AS off_oob,
                array_ordinal(a_int, 1) AS ord1, array_ordinal(a_int, 3) AS ord3,
                array_ordinal(a_str, 2) AS ord_str,
                array_offset(a_empty, 0) AS off_empty
         FROM test_array ORDER BY off0 NULLS FIRST""",
      """SELECT a_int[1] AS off0, a_int[3] AS off2, a_int[101] AS off_oob,
                a_int[1] AS ord1, a_int[3] AS ord3, a_str[2] AS ord_str,
                a_empty[1] AS off_empty
         FROM test_array ORDER BY off0 NULLS FIRST"""),

    // A1_B7/A1_B8: OFFSET_OF/ORDINAL_OF, NULL when absent (typed probe
    // against a double array misses: .iq A1_B7_C7)
    ga("q_qa_array_offset_of",
      """SELECT array_offset_of(a_bool, 1) AS f_bool, array_offset_of(a_int, 1) AS f_int,
                array_offset_of(a_float, 1) AS f_float,
                array_ordinal_of(a_bool, 1) AS o_bool,
                array_ordinal_of(a_str, 'S2') AS o_s2,
                array_offset_of(a_null, 'x') AS f_null,
                array_offset_of(a_empty, 'x') AS f_empty,
                array_offset_of(a_int, 99) AS f_miss
         FROM test_array ORDER BY f_bool""",
      """SELECT CAST(nullif(list_position(a_bool, 1), 0) - 1 AS INTEGER) AS f_bool,
                CAST(nullif(list_position(a_int, 1), 0) - 1 AS INTEGER) AS f_int,
                CAST(nullif(list_position(a_float, 1), 0) - 1 AS INTEGER) AS f_float,
                CAST(nullif(list_position(a_bool, 1), 0) AS INTEGER) AS o_bool,
                CAST(nullif(list_position(a_str, 'S2'), 0) AS INTEGER) AS o_s2,
                CAST(nullif(list_position(a_null, 'x'), 0) - 1 AS INTEGER) AS f_null,
                CAST(nullif(list_position(a_empty, 'x'), 0) - 1 AS INTEGER) AS f_empty,
                CAST(nullif(list_position(a_int, 99), 0) - 1 AS INTEGER) AS f_miss
         FROM test_array ORDER BY f_bool"""),

    // A1_B9/A1_B10: APPEND/PREPEND with element-type coercion
    // (array_append(a_str, 9) → [..., '9'])
    ga("q_qa_array_append_prepend",
      """SELECT array_to_string(array_append(a_int, 9), '|') AS app_int,
                array_to_string(array_append(a_str, 9), '|') AS app_str,
                array_to_string(array_append(a_empty, 9), '|') AS app_empty,
                array_to_string(array_prepend(9, a_bool), '|') AS pre_bool,
                array_to_string(array_prepend(9, a_mixed), '|') AS pre_mixed
         FROM test_array ORDER BY app_int""",
      s"""SELECT ${dStr("list_append(a_int, 9)")} AS app_int,
                 ${dStr("list_append(a_str, '9')")} AS app_str,
                 ${dStr("list_append(a_empty, '9')")} AS app_empty,
                 ${dStr("list_prepend(9, a_bool)")} AS pre_bool,
                 ${dStr("list_prepend('9', a_mixed)")} AS pre_mixed
          FROM test_array ORDER BY app_int"""),

    // qaArray ops_funcs_mv_funcs + ops_funcs_json_funcs + scalar_funcs.40+
    // over TYPED arrays: MV_* and JSON fns applied to ARRAY<BIGINT> columns
    // — mv_append/'A' coerces to the ARRAY's element type (null, NOT a
    // widened string — Function.java:564 castTo(elementType)), mv_offset
    // renders VARCHAR, json_keys gives index strings, json_value walks the
    // cast text, CASE/nullif compare arrays with null elements as values
    ga("q_qa_mv_typed_arrays",
      """SELECT mv_length(a_bool) AS len_b,
                mv_offset(a_bool, 0) AS off_b,
                mv_contains(a_bool, 1) AS has1,
                CAST(mv_offset_of(a_bool, 1) AS INT) AS oof1,
                array_to_string(mv_append(a_bool, 'A'), '|') AS app_a,
                array_to_string(mv_append(a_int, 9), '|') AS app_9,
                array_to_string(mv_prepend('A', a_int), '|') AS pre_a,
                array_to_string(mv_slice(a_bool, 0, 2), '|') AS sl,
                mv_to_string(a_bool, '|') AS mts,
                array_to_string(json_keys(a_bool, '$.'), '|') AS jk,
                array_to_string(json_paths(a_bool), '|') AS jp,
                json_value(a_bool, '$[0]') AS jv0,
                to_json_string(a_bool) AS tjs,
                (CASE a_int WHEN array(1L, 2L, CAST(NULL AS BIGINT))
                   THEN 1 ELSE 2 END) AS case_arr,
                (nullif(a_int, array(1L, 2L, CAST(NULL AS BIGINT))) IS NULL) AS ni
         FROM test_array ORDER BY mts""",
      """SELECT 3 AS len_b,
                CASE WHEN a_bool[1] IS NULL THEN NULL ELSE '1' END AS off_b,
                TRUE AS has1,
                CASE WHEN a_bool[1] IS NULL THEN 2 ELSE 0 END AS oof1,
                CASE WHEN a_bool[1] IS NULL THEN 'null|0|1|null'
                     ELSE '1|0|null|null' END AS app_a,
                CASE WHEN a_bool[1] IS NULL THEN 'null|2|1|9'
                     ELSE '1|2|null|9' END AS app_9,
                CASE WHEN a_bool[1] IS NULL THEN 'null|null|2|1'
                     ELSE 'null|1|2|null' END AS pre_a,
                CASE WHEN a_bool[1] IS NULL THEN 'null|0' ELSE '1|0' END AS sl,
                CASE WHEN a_bool[1] IS NULL THEN 'null|0|1' ELSE '1|0|null' END AS mts,
                '0|1|2' AS jk,
                '$' AS jp,
                CASE WHEN a_bool[1] IS NULL THEN NULL ELSE '1' END AS jv0,
                CASE WHEN a_bool[1] IS NULL THEN '[null,0,1]'
                     ELSE '[1,0,null]' END AS tjs,
                CASE WHEN a_bool[1] IS NULL THEN 2 ELSE 1 END AS case_arr,
                (a_bool[1] IS NOT NULL) AS ni
         FROM test_array ORDER BY mts"""),

    // A1_B11: ARRAY_CONCAT incl. all-null-element and empty operands
    ga("q_qa_array_concat",
      """SELECT array_to_string(array_concat(a_int, a_int), '|') AS int_int,
                array_to_string(array_concat(a_empty, a_str), '|') AS empty_str,
                array_to_string(array_concat(a_null, a_str), '|') AS null_str,
                array_to_string(array_concat(a_int, array(9L)), '|') AS int_lit
         FROM test_array ORDER BY int_int""",
      s"""SELECT ${dStr("(a_int || a_int)")} AS int_int,
                 ${dStr("(a_empty || a_str)")} AS empty_str,
                 ${dStr("(a_null || a_str)")} AS null_str,
                 ${dStr("(a_int || [9]::BIGINT[])")} AS int_lit
          FROM test_array ORDER BY int_int"""),

    // A1_B12: SLICE pads past the end with nulls (C16: a_empty → [null,null])
    ga("q_qa_array_slice_pad",
      """SELECT array_to_string(array_slice(a_int, 0, 2), '|') AS s_int,
                array_to_string(array_slice(a_empty, 0, 2), '|') AS s_empty,
                array_to_string(array_slice(a_null, 0, 2), '|') AS s_null,
                array_to_string(array_slice(a_mixed, 1, 3), '|') AS s_mixed
         FROM test_array ORDER BY s_int""",
      s"""SELECT ${dStr(dSlice("a_int", 0, 2))} AS s_int,
                 ${dStr(dSlice("a_empty", 0, 2))} AS s_empty,
                 ${dStr(dSlice("a_null", 0, 2))} AS s_null,
                 ${dStr(dSlice("a_mixed", 1, 3))} AS s_mixed
          FROM test_array ORDER BY s_int"""),

    // ArraySliceFunction:4646-4656 out-of-range edges — Arrays.copyOfRange
    // semantics: start < 0, start > length, or start > end → NULL array;
    // 2-arg form defaults end to the array length; start == length with a
    // larger end null-pads; start == end is the empty array
    ga("q_qa_array_slice_edges",
      """SELECT array_to_string(array_slice(a_int, -1, 2), '|') AS s_neg,
                array_to_string(array_slice(a_int, 4, 5), '|') AS s_past,
                array_to_string(array_slice(a_int, 2, 1), '|') AS s_inv,
                array_to_string(array_slice(a_int, 1), '|') AS s_2arg,
                array_to_string(array_slice(a_int, 3, 5), '|') AS s_atlen,
                array_to_string(array_slice(a_int, 1, 1), '|') AS s_emptyrange,
                array_to_string(array_slice(a_empty, 1, 2), '|') AS s_emptyarr
         FROM test_array ORDER BY s_2arg""",
      s"""SELECT CAST(NULL AS VARCHAR) AS s_neg,
                 CAST(NULL AS VARCHAR) AS s_past,
                 CAST(NULL AS VARCHAR) AS s_inv,
                 ${dStr(dSlice("a_int", 1, 3))} AS s_2arg,
                 ${dStr(dSlice("a_int", 3, 5))} AS s_atlen,
                 ${dStr(dSlice("a_int", 1, 1))} AS s_emptyrange,
                 CAST(NULL AS VARCHAR) AS s_emptyarr
          FROM test_array ORDER BY s_2arg"""),

    // ArraySetAddFunction:3988 / ArraySetAddAllFunction:4006 — TreeSet with
    // the nulls-FIRST comparator (a null element genuinely joins the set);
    // add_all with a NULL rhs returns the LHS VERBATIM (un-sorted,
    // un-distincted — ArraysMergeFunction:603). ArrayOffsetOf/OrdinalOf use
    // an Objects.equals scan, so a NULL needle FINDS a null element
    // (Function.java:3733); both rows of test_array share the value set
    // {null, 1, 2}, so set results are row-constant
    ga("q_qa_array_set_ops",
      """SELECT array_to_string(array_set_add(a_int, 9), '|') AS sa_add,
                array_to_string(array_set_add(a_int, CAST(NULL AS BIGINT)), '|') AS sa_null,
                array_to_string(array_set_add_all(a_int, array(3L, 1L)), '|') AS sa_all,
                array_to_string(array_set_add_all(a_int, CAST(NULL AS ARRAY<BIGINT>)), '|') AS sa_rhsnull,
                array_offset_of(a_int, CAST(NULL AS BIGINT)) AS oo_null,
                array_ordinal_of(a_int, 2) AS ord_two
         FROM test_array ORDER BY sa_rhsnull""",
      s"""SELECT 'null|1|2|9' AS sa_add,
                 'null|1|2' AS sa_null,
                 'null|1|2|3' AS sa_all,
                 ${dStr("a_int")} AS sa_rhsnull,
                 CAST(list_position(list_transform(a_int, gx -> gx IS NULL),
                   true) - 1 AS INTEGER) AS oo_null,
                 CAST(list_position(a_int, 2) AS INTEGER) AS ord_two
          FROM test_array ORDER BY sa_rhsnull"""),

    // A1_B13: TO_STRING prints nulls, empty array → ''
    ga("q_qa_array_to_string_nulls",
      """SELECT array_to_string(a_bool, '|') AS s_bool,
                array_to_string(a_int, ',') AS s_int,
                array_to_string(a_float, '|') AS s_float,
                array_to_string(a_str, '|') AS s_str,
                array_to_string(a_null, '|') AS s_null,
                array_to_string(a_empty, '|') AS s_empty,
                array_to_string(a_mixed, '|') AS s_mixed
         FROM test_array ORDER BY s_bool""",
      s"""SELECT ${dStr("a_bool")} AS s_bool, ${dStr("a_int", ",")} AS s_int,
                 ${dStr("a_float")} AS s_float, ${dStr("a_str")} AS s_str,
                 ${dStr("a_null")} AS s_null, ${dStr("a_empty")} AS s_empty,
                 ${dStr("a_mixed")} AS s_mixed
          FROM test_array ORDER BY s_bool"""),

    // A1_B5 + qaAggFuncs A08/A11: CONTAINS (scalar, contains-all) and
    // OVERLAP never three-valued on present inputs
    ga("q_qa_array_contains_overlap",
      """SELECT array_contains(a_bool, 1) AS c_bool,
                array_contains(a_null, 1) AS c_null,
                array_contains(a_empty, 1) AS c_empty,
                array_contains(a_mixed, 1) AS c_mixed,
                array_contains(a_int, array(1L, 2L)) AS c_all12,
                array_contains(a_int, array(1L, 9L)) AS c_all19,
                array_overlap(a_int, array(1L, 99L)) AS o_19,
                array_overlap(a_int, array(98L, 99L)) AS o_none,
                scalar_in_array(2, a_int) AS sin_2,
                scalar_in_array('S9', a_str) AS sin_s9
         FROM test_array""",
      """SELECT list_has_all(a_bool, [1]) AS c_bool,
                list_has_all(a_null, ['1']) AS c_null,
                list_has_all(a_empty, ['1']) AS c_empty,
                list_has_all(a_mixed, ['1']) AS c_mixed,
                list_has_all(a_int, [1, 2]) AS c_all12,
                list_has_all(a_int, [1, 9]) AS c_all19,
                len(list_intersect(a_int, [1, 99])) > 0 AS o_19,
                len(list_intersect(a_int, [98, 99])) > 0 AS o_none,
                list_has_all(a_int, [2]) AS sin_2,
                list_has_all(a_str, ['S9']) AS sin_s9
         FROM test_array"""),

    // ops_funcs json paths: JSON_VALUE ... RETURNING <type> ARRAY feeding
    // array functions (oracle uses the equivalent direct columns)
    ga("q_qa_array_json_typed",
      """SELECT array_to_string(json_value(a_nested, '$[1]' RETURNING bigint array), '|') AS jp_int,
                array_to_string(json_value(a_nested, '$[3]' RETURNING varchar array), '|') AS jp_str,
                array_length(json_value(a_nested, '$[7][3]' RETURNING varchar array)) AS jp_n3,
                array_offset(json_value(a_nested, '$[2]' RETURNING double array), 1) AS jp_d1,
                json_value(a_nested, '$[1][0]' RETURNING bigint) AS jp_scalar
         FROM test_array ORDER BY jp_int""",
      s"""SELECT ${dStr("a_int")} AS jp_int, ${dStr("a_str")} AS jp_str,
                 CAST(len(a_str) AS INTEGER) AS jp_n3, a_float[2] AS jp_d1,
                 a_int[1] AS jp_scalar
          FROM test_array ORDER BY jp_int"""),

    // sql_select_distinct: DISTINCT over array values
    ga("q_qa_array_distinct",
      """SELECT array_to_string(a_int, '|') AS k
         FROM (SELECT DISTINCT a_int FROM test_array) ORDER BY k""",
      s"""SELECT ${dStr("a_int")} AS k
          FROM (SELECT DISTINCT a_int FROM test_array) ORDER BY k"""),

    // sql_order_by + sql_limit_offset: lexicographic array ordering with
    // null elements first (duck sorts null elements last → sentinel key)
    ga("q_qa_array_order_limit",
      """SELECT array_to_string(a_int, '|') AS k, array_to_string(a_str, '|') AS s
         FROM test_array ORDER BY a_int, __time LIMIT 3 OFFSET 1""",
      s"""SELECT ${dStr("a_int")} AS k, ${dStr("a_str")} AS s
          FROM test_array
          ORDER BY list_transform(a_int, gx -> coalesce(gx, -9223372036854775808)),
                   __time
          LIMIT 3 OFFSET 1"""),

    // sql_subquery_with_where: arrays through IN (subquery)
    ga("q_qa_array_in_subquery",
      """SELECT CAST(count(*) AS BIGINT) AS n
         FROM test_array WHERE a_int IN
           (SELECT a_int FROM test_array WHERE a_bool = array(1L, 0L, NULL))""",
      s"""SELECT count(*) AS n
          FROM test_array WHERE ${dStr("a_int")} IN
            (SELECT ${dStr("a_int")} FROM test_array
             WHERE ${dStr("a_bool")} = '1|0|null')"""),

    // sql_subquery_with_where.19/.20 A2_B16..B22: whole-array ordering
    // comparisons vs literals — null elements sort FIRST and compare equal
    // ([null,2,1] < [1,2]; [1,2,null] >= [1,2] via longer-with-equal-prefix;
    // a_int >= ARRAY[1,2,NULL] matches only [1,2,null]). Spark's array
    // ordering is identical; duck's list compare is three-valued over null
    // elements, so the oracle compares null→sentinel-mapped keys.
    ga("q_qa_array_lex_compare",
      """SELECT array_to_string(a_int, '|') AS k,
                CAST(count(*) FILTER (WHERE a_int <  array(1L, 2L, NULL)) AS BIGINT) AS lt_full,
                CAST(count(*) FILTER (WHERE a_int <= array(1L, 2L, NULL)) AS BIGINT) AS le_full,
                CAST(count(*) FILTER (WHERE a_int >  array(1L, 2L)) AS BIGINT) AS gt_pre,
                CAST(count(*) FILTER (WHERE a_int >= array(1L, 2L)) AS BIGINT) AS ge_pre,
                CAST(count(*) FILTER (WHERE a_int <> array(1L, 2L)) AS BIGINT) AS ne_pre,
                CAST(count(*) FILTER (WHERE a_str <  array('S1', 'S2', NULL)) AS BIGINT) AS lt_str,
                CAST(count(*) FILTER (WHERE a_str >= array('S1', 'S2')) AS BIGINT) AS ge_str,
                CAST(count(*) FILTER (WHERE a_float > array(0.1D)) AS BIGINT) AS gt_f1,
                CAST(count(*) FILTER (WHERE a_bool <= array(1L, 0L, NULL)) AS BIGINT) AS le_bool
         FROM test_array GROUP BY a_int ORDER BY k""",
      s"""SELECT ${dStr("a_int")} AS k,
                 count(*) FILTER (WHERE list_transform(a_int, gx -> coalesce(gx, -9223372036854775808))
                   <  [1, 2, -9223372036854775808]::BIGINT[]) AS lt_full,
                 count(*) FILTER (WHERE list_transform(a_int, gx -> coalesce(gx, -9223372036854775808))
                   <= [1, 2, -9223372036854775808]::BIGINT[]) AS le_full,
                 count(*) FILTER (WHERE list_transform(a_int, gx -> coalesce(gx, -9223372036854775808))
                   >  [1, 2]::BIGINT[]) AS gt_pre,
                 count(*) FILTER (WHERE list_transform(a_int, gx -> coalesce(gx, -9223372036854775808))
                   >= [1, 2]::BIGINT[]) AS ge_pre,
                 count(*) FILTER (WHERE list_transform(a_int, gx -> coalesce(gx, -9223372036854775808))
                   <> [1, 2]::BIGINT[]) AS ne_pre,
                 count(*) FILTER (WHERE list_transform(a_str, gx -> coalesce(gx, ''))
                   <  ['S1', 'S2', '']::VARCHAR[]) AS lt_str,
                 count(*) FILTER (WHERE list_transform(a_str, gx -> coalesce(gx, ''))
                   >= ['S1', 'S2']::VARCHAR[]) AS ge_str,
                 count(*) FILTER (WHERE list_transform(a_float, gx -> coalesce(gx, -1e308))
                   >  [0.1]::DOUBLE[]) AS gt_f1,
                 count(*) FILTER (WHERE list_transform(a_bool, gx -> coalesce(gx, -9223372036854775808))
                   <= [1, 0, -9223372036854775808]::BIGINT[]) AS le_bool
          FROM test_array GROUP BY a_int ORDER BY k"""),

    // sql_subquery_with_where A2_B16 C1..C10: the same predicate through all
    // ten query forms — direct, filter inside/outside a derived table, and
    // filter inside/outside a CTE, each bare and grouped. Pins that filter
    // placement is semantically transparent (the planner pushes it freely).
    ga("q_qa_array_subq_forms",
      """, t1f AS (SELECT * FROM test_array WHERE a_int >= array(1L, 2L)),
           t1a AS (SELECT * FROM test_array)
         SELECT form, k, CAST(cnt AS BIGINT) AS cnt FROM (
           SELECT 'c01' AS form, array_to_string(a_int, '|') AS k, 1 AS cnt
           FROM test_array WHERE a_int >= array(1L, 2L)
           UNION ALL
           SELECT 'c02', array_to_string(a_int, '|'), count(*)
           FROM test_array WHERE a_int >= array(1L, 2L) GROUP BY a_int
           UNION ALL
           SELECT 'c03', array_to_string(a_int, '|'), 1
           FROM (SELECT * FROM test_array WHERE a_int >= array(1L, 2L))
           UNION ALL
           SELECT 'c04', array_to_string(a_int, '|'), count(*)
           FROM (SELECT * FROM test_array WHERE a_int >= array(1L, 2L))
           GROUP BY a_int
           UNION ALL
           SELECT 'c05', array_to_string(a_int, '|'), 1
           FROM (SELECT * FROM test_array) WHERE a_int >= array(1L, 2L)
           UNION ALL
           SELECT 'c06', array_to_string(a_int, '|'), count(*)
           FROM (SELECT * FROM test_array) WHERE a_int >= array(1L, 2L)
           GROUP BY a_int
           UNION ALL
           SELECT 'c07', array_to_string(a_int, '|'), 1 FROM t1f
           UNION ALL
           SELECT 'c08', array_to_string(a_int, '|'), count(*) FROM t1f
           GROUP BY a_int
           UNION ALL
           SELECT 'c09', array_to_string(a_int, '|'), 1 FROM t1a
           WHERE a_int >= array(1L, 2L)
           UNION ALL
           SELECT 'c10', array_to_string(a_int, '|'), count(*) FROM t1a
           WHERE a_int >= array(1L, 2L) GROUP BY a_int
         ) ORDER BY form, k""",
      s""", t1f AS (SELECT * FROM test_array
            WHERE list_transform(a_int, gx -> coalesce(gx, -9223372036854775808)) >= [1, 2]::BIGINT[]),
          t1a AS (SELECT * FROM test_array)
          SELECT form, k, cnt FROM (
            SELECT 'c01' AS form, ${dStr("a_int")} AS k, 1::BIGINT AS cnt
            FROM test_array
            WHERE list_transform(a_int, gx -> coalesce(gx, -9223372036854775808)) >= [1, 2]::BIGINT[]
            UNION ALL
            SELECT 'c02', ${dStr("a_int")}, count(*)
            FROM test_array
            WHERE list_transform(a_int, gx -> coalesce(gx, -9223372036854775808)) >= [1, 2]::BIGINT[]
            GROUP BY a_int
            UNION ALL
            SELECT 'c03', ${dStr("a_int")}, 1
            FROM (SELECT * FROM test_array
                  WHERE list_transform(a_int, gx -> coalesce(gx, -9223372036854775808)) >= [1, 2]::BIGINT[])
            UNION ALL
            SELECT 'c04', ${dStr("a_int")}, count(*)
            FROM (SELECT * FROM test_array
                  WHERE list_transform(a_int, gx -> coalesce(gx, -9223372036854775808)) >= [1, 2]::BIGINT[])
            GROUP BY a_int
            UNION ALL
            SELECT 'c05', ${dStr("a_int")}, 1
            FROM (SELECT * FROM test_array)
            WHERE list_transform(a_int, gx -> coalesce(gx, -9223372036854775808)) >= [1, 2]::BIGINT[]
            UNION ALL
            SELECT 'c06', ${dStr("a_int")}, count(*)
            FROM (SELECT * FROM test_array)
            WHERE list_transform(a_int, gx -> coalesce(gx, -9223372036854775808)) >= [1, 2]::BIGINT[]
            GROUP BY a_int
            UNION ALL
            SELECT 'c07', ${dStr("a_int")}, 1 FROM t1f
            UNION ALL
            SELECT 'c08', ${dStr("a_int")}, count(*) FROM t1f GROUP BY a_int
            UNION ALL
            SELECT 'c09', ${dStr("a_int")}, 1 FROM t1a
            WHERE list_transform(a_int, gx -> coalesce(gx, -9223372036854775808)) >= [1, 2]::BIGINT[]
            UNION ALL
            SELECT 'c10', ${dStr("a_int")}, count(*) FROM t1a
            WHERE list_transform(a_int, gx -> coalesce(gx, -9223372036854775808)) >= [1, 2]::BIGINT[]
            GROUP BY a_int
          ) ORDER BY form, k"""),

    // sql_subquery_with_where.01-12 A0/A1 B1..B5: CROSS-TYPE array
    // comparisons — a_bool vs a_int (same element type, different values),
    // bigint[] vs double[] (elementwise numeric coercion), varchar[] vs
    // varchar[] of different lengths, and the all-null / empty arrays.
    // Every pair is structurally unequal → 0, except the self-compares.
    ga("q_qa_array_swq_crosstype",
      """SELECT CAST(count(*) FILTER (WHERE a_bool = a_int) AS BIGINT) AS bool_int,
                CAST(count(*) FILTER (WHERE a_int = a_float) AS BIGINT) AS int_float,
                CAST(count(*) FILTER (WHERE a_str = a_mixed) AS BIGINT) AS str_mixed,
                CAST(count(*) FILTER (WHERE a_str = a_null) AS BIGINT) AS str_null,
                CAST(count(*) FILTER (WHERE a_empty = a_null) AS BIGINT) AS empty_null,
                CAST(count(*) FILTER (WHERE a_str = a_empty) AS BIGINT) AS str_empty,
                CAST(count(*) FILTER (WHERE a_bool = a_bool) AS BIGINT) AS bool_self,
                CAST(count(*) FILTER (WHERE a_bool < a_int) AS BIGINT) AS bool_lt_int,
                CAST(count(*) FILTER (WHERE a_float <> a_int) AS BIGINT) AS float_ne_int
         FROM test_array""",
      s"""SELECT count(*) FILTER (WHERE
            list_transform(a_bool, gx -> coalesce(gx, -9223372036854775808))
              = list_transform(a_int, gx -> coalesce(gx, -9223372036854775808))) AS bool_int,
          count(*) FILTER (WHERE
            list_transform(a_int, gx -> coalesce(CAST(gx AS DOUBLE), -1e308))
              = list_transform(a_float, gx -> coalesce(gx, -1e308))) AS int_float,
          count(*) FILTER (WHERE
            list_transform(a_str, gx -> coalesce(gx, ''))
              = list_transform(a_mixed, gx -> coalesce(gx, ''))) AS str_mixed,
          count(*) FILTER (WHERE
            list_transform(a_str, gx -> coalesce(gx, ''))
              = list_transform(a_null, gx -> coalesce(gx, ''))) AS str_null,
          count(*) FILTER (WHERE
            list_transform(a_empty, gx -> coalesce(gx, ''))
              = list_transform(a_null, gx -> coalesce(gx, ''))) AS empty_null,
          count(*) FILTER (WHERE
            list_transform(a_str, gx -> coalesce(gx, ''))
              = list_transform(a_empty, gx -> coalesce(gx, ''))) AS str_empty,
          count(*) FILTER (WHERE
            list_transform(a_bool, gx -> coalesce(gx, -9223372036854775808))
              = list_transform(a_bool, gx -> coalesce(gx, -9223372036854775808))) AS bool_self,
          count(*) FILTER (WHERE
            list_transform(a_bool, gx -> coalesce(gx, -9223372036854775808))
              < list_transform(a_int, gx -> coalesce(gx, -9223372036854775808))) AS bool_lt_int,
          count(*) FILTER (WHERE
            list_transform(a_float, gx -> coalesce(gx, -1e308))
              <> list_transform(a_int, gx -> coalesce(CAST(gx AS DOUBLE), -1e308))) AS float_ne_int
          FROM test_array"""),

    // sql_subquery_with_where IN/NOT IN grids: whole arrays as IN-list
    // members (null elements compare equal inside the member match), run
    // bare, through a derived table, and through a CTE
    ga("q_qa_array_swq_in",
      """, cte AS (SELECT * FROM test_array)
         SELECT CAST(count(*) FILTER (WHERE a_int IN
                  (array(1L, 2L, NULL), array(NULL, 2L, 1L))) AS BIGINT) AS in_both,
                CAST(count(*) FILTER (WHERE a_int IN
                  (array(1L, 2L, NULL), array(9L))) AS BIGINT) AS in_one,
                CAST(count(*) FILTER (WHERE a_int NOT IN
                  (array(1L, 2L), array(9L))) AS BIGINT) AS notin_none,
                CAST(count(*) FILTER (WHERE a_str IN
                  (array('S1', 'S2', NULL), array('x'))) AS BIGINT) AS in_str,
                (SELECT CAST(count(*) AS BIGINT) FROM
                  (SELECT * FROM test_array WHERE a_int IN
                    (array(1L, 2L, NULL), array(NULL, 2L, 1L)))) AS in_subq,
                (SELECT CAST(count(*) AS BIGINT) FROM cte WHERE a_int NOT IN
                  (array(1L, 2L, NULL), array(9L))) AS notin_cte
         FROM test_array""",
      s""", cte AS (SELECT * FROM test_array)
          SELECT count(*) FILTER (WHERE
            list_transform(a_int, gx -> coalesce(gx, -9223372036854775808)) IN
              ([1, 2, -9223372036854775808]::BIGINT[],
               [-9223372036854775808, 2, 1]::BIGINT[])) AS in_both,
          count(*) FILTER (WHERE
            list_transform(a_int, gx -> coalesce(gx, -9223372036854775808)) IN
              ([1, 2, -9223372036854775808]::BIGINT[], [9]::BIGINT[])) AS in_one,
          count(*) FILTER (WHERE
            list_transform(a_int, gx -> coalesce(gx, -9223372036854775808)) NOT IN
              ([1, 2]::BIGINT[], [9]::BIGINT[])) AS notin_none,
          count(*) FILTER (WHERE
            list_transform(a_str, gx -> coalesce(gx, '')) IN
              (['S1', 'S2', '']::VARCHAR[], ['x']::VARCHAR[])) AS in_str,
          (SELECT count(*) FROM
            (SELECT * FROM test_array WHERE
              list_transform(a_int, gx -> coalesce(gx, -9223372036854775808)) IN
                ([1, 2, -9223372036854775808]::BIGINT[],
                 [-9223372036854775808, 2, 1]::BIGINT[]))) AS in_subq,
          (SELECT count(*) FROM cte WHERE
            list_transform(a_int, gx -> coalesce(gx, -9223372036854775808)) NOT IN
              ([1, 2, -9223372036854775808]::BIGINT[], [9]::BIGINT[])) AS notin_cte
          FROM test_array"""),

    // sql_subquery_with_where IS NULL grids: the array COLUMNS are never
    // SQL NULL (a_null is an array OF nulls, a_empty is []) — IS NULL → 0,
    // IS NOT NULL → 4, in every container placement
    ga("q_qa_array_swq_null_checks",
      """, cte AS (SELECT * FROM test_array WHERE a_bool IS NOT NULL)
         SELECT CAST(count(*) FILTER (WHERE a_bool IS NULL) AS BIGINT) AS bool_null,
                CAST(count(*) FILTER (WHERE a_null IS NULL) AS BIGINT) AS null_null,
                CAST(count(*) FILTER (WHERE a_empty IS NULL) AS BIGINT) AS empty_null,
                CAST(count(*) FILTER (WHERE a_mixed IS NOT NULL) AS BIGINT) AS mixed_nn,
                (SELECT CAST(count(*) AS BIGINT)
                 FROM (SELECT * FROM test_array) WHERE a_str IS NOT NULL) AS str_nn_subq,
                (SELECT CAST(count(*) AS BIGINT) FROM cte) AS bool_nn_cte
         FROM test_array""",
      """, cte AS (SELECT * FROM test_array WHERE a_bool IS NOT NULL)
         SELECT count(*) FILTER (WHERE a_bool IS NULL) AS bool_null,
                count(*) FILTER (WHERE a_null IS NULL) AS null_null,
                count(*) FILTER (WHERE a_empty IS NULL) AS empty_null,
                count(*) FILTER (WHERE a_mixed IS NOT NULL) AS mixed_nn,
                (SELECT count(*)
                 FROM (SELECT * FROM test_array) WHERE a_str IS NOT NULL) AS str_nn_subq,
                (SELECT count(*) FROM cte) AS bool_nn_cte
         FROM test_array"""),

    // sql_subquery_with_where.40-57: array comparisons against
    // JSON_VALUE … RETURNING varchar array ($[6] is a_mixed itself) and
    // the Calcite boolean-test wraps IS [NOT] TRUE/FALSE over them
    ga("q_qa_array_swq_jsoncmp",
      """SELECT CAST(count(*) FILTER (WHERE
                  a_mixed = json_value(a_nested, '$[6]' RETURNING varchar array)) AS BIGINT) AS eq_self,
                CAST(count(*) FILTER (WHERE
                  a_mixed <= json_value(a_nested, '$[6]' RETURNING varchar array)) AS BIGINT) AS le_self,
                CAST(count(*) FILTER (WHERE NOT
                  (a_mixed <= json_value(a_nested, '$[6]' RETURNING varchar array))) AS BIGINT) AS not_le,
                CAST(count(*) FILTER (WHERE
                  (a_mixed < json_value(a_nested, '$[6]' RETURNING varchar array)) IS FALSE) AS BIGINT) AS lt_is_false,
                CAST(count(*) FILTER (WHERE
                  (a_mixed < json_value(a_nested, '$[6]' RETURNING varchar array)) IS TRUE) AS BIGINT) AS lt_is_true,
                CAST(count(*) FILTER (WHERE
                  (a_mixed >= json_value(a_nested, '$[6]' RETURNING varchar array)) IS NOT FALSE) AS BIGINT) AS ge_is_not_false,
                CAST(count(*) FILTER (WHERE
                  (a_nested = a_nested) IS TRUE) AS BIGINT) AS nested_self,
                CAST(count(*) FILTER (WHERE a_mixed IN
                  (json_value(a_nested, '$[6]' RETURNING varchar array),
                   array('zz'))) AS BIGINT) AS in_json
         FROM test_array""",
      s"""SELECT count(*) FILTER (WHERE
            list_transform(a_mixed, gx -> coalesce(gx, ''))
              = list_transform(json_transform(json_extract(a_nested, '$$[6]'),
                  '["VARCHAR"]'), gx -> coalesce(gx, ''))) AS eq_self,
          count(*) FILTER (WHERE
            list_transform(a_mixed, gx -> coalesce(gx, ''))
              <= list_transform(json_transform(json_extract(a_nested, '$$[6]'),
                  '["VARCHAR"]'), gx -> coalesce(gx, ''))) AS le_self,
          count(*) FILTER (WHERE NOT
            (list_transform(a_mixed, gx -> coalesce(gx, ''))
              <= list_transform(json_transform(json_extract(a_nested, '$$[6]'),
                  '["VARCHAR"]'), gx -> coalesce(gx, '')))) AS not_le,
          count(*) FILTER (WHERE
            (list_transform(a_mixed, gx -> coalesce(gx, ''))
              < list_transform(json_transform(json_extract(a_nested, '$$[6]'),
                  '["VARCHAR"]'), gx -> coalesce(gx, ''))) IS FALSE) AS lt_is_false,
          count(*) FILTER (WHERE
            (list_transform(a_mixed, gx -> coalesce(gx, ''))
              < list_transform(json_transform(json_extract(a_nested, '$$[6]'),
                  '["VARCHAR"]'), gx -> coalesce(gx, ''))) IS TRUE) AS lt_is_true,
          count(*) FILTER (WHERE
            (list_transform(a_mixed, gx -> coalesce(gx, ''))
              >= list_transform(json_transform(json_extract(a_nested, '$$[6]'),
                  '["VARCHAR"]'), gx -> coalesce(gx, ''))) IS NOT FALSE) AS ge_is_not_false,
          count(*) FILTER (WHERE (a_nested = a_nested) IS TRUE) AS nested_self,
          count(*) FILTER (WHERE
            list_transform(a_mixed, gx -> coalesce(gx, '')) IN
              (list_transform(json_transform(json_extract(a_nested, '$$[6]'),
                  '["VARCHAR"]'), gx -> coalesce(gx, '')),
               ['zz']::VARCHAR[])) AS in_json
          FROM test_array"""),

    // funcs_and_sql_func_to_json_string A016 + try_parse_json A008-A012:
    // SQL booleans serialize as LONGS (the reference expression layer has
    // no boolean type — TO_JSON_STRING(TRUE) = 1), document-INTERNAL
    // booleans stay true/false, and literal strings always quote
    ga("q_qa_json_tjs_boolean",
      """SELECT to_json_string(TRUE) AS b_true,
                to_json_string(FALSE) AS b_false,
                to_json_string(1 = 1) AS b_expr,
                to_json_string(CAST(NULL AS BOOLEAN)) AS b_null,
                to_json_string(parse_json('{"a":true}')) AS doc_bool,
                to_json_string('true') AS str_true
         FROM test_array LIMIT 1""",
      """SELECT '1' AS b_true, '0' AS b_false, '1' AS b_expr,
                NULL::VARCHAR AS b_null,
                '{"a":true}' AS doc_bool,
                '"true"' AS str_true
         FROM test_array LIMIT 1"""),

    // funcs_and_sql_func_{parse,try_parse}_json A002: non-ASCII text
    // round-trips through the variant path intact ("日本" keeps its two
    // characters — guards the UTF-8 default-charset regression the
    // US-ASCII container surfaces in the variant→string decode)
    ga("q_qa_json_utf8_roundtrip",
      """SELECT to_json_string(try_parse_json('"日本"')) AS rt,
                json_value('{"k": "日本"}', '$.k') AS jv,
                length(json_value('{"k": "日本"}', '$.k')) AS jv_len
         FROM test_array LIMIT 1""",
      """SELECT '"日本"' AS rt, '日本' AS jv, 2 AS jv_len
         FROM test_array LIMIT 1"""),

    // sql_union_all: array-derived columns across UNION ALL
    ga("q_qa_array_union",
      """SELECT array_to_string(a_int, '|') AS k FROM test_array
         UNION ALL SELECT array_to_string(a_str, '|') FROM test_array
         ORDER BY k""",
      s"""SELECT ${dStr("a_int")} AS k FROM test_array
          UNION ALL SELECT ${dStr("a_str")} FROM test_array
          ORDER BY k"""),

    // --------------------------------------------------------- qaUnnest ----
    // array_sql_group_by: null elements unnest into rows and group
    // DecoupledPlanningCalciteArraysQueryTest residual shapes: UNNEST of
    // the SAME column THRICE with a filter per level (the all-levels
    // selector), GROUP BY + HAVING selector on the unnested alias, a
    // NOT-filter on the unnested column (null elements DROP through !=,
    // 3-valued), and an inner ORDER+LIMIT under the UNNEST (the corpus's
    // unordered LIMIT pinned by __time, the standing adaptation). DuckDB
    // zips parallel unnests, so the oracle cross-joins per-row unnest
    // subqueries on the row key.
    gu("q_qa_unnest_thrice_filters",
      """SELECT u1, u2, u3, CAST(count(*) AS BIGINT) AS cnt
         FROM test_unnest,
              UNNEST(a_str) AS a(u1),
              UNNEST(a_str) AS b(u2),
              UNNEST(a_str) AS c(u3)
         WHERE u1 = 'S1' AND u2 = 'S2' AND u3 IS NOT NULL
         GROUP BY u1, u2, u3
         ORDER BY u1, u2, u3""",
      """SELECT u1, u2, u3, count(*) AS cnt
         FROM (SELECT __time, unnest(a_str) AS u1 FROM test_unnest) x1
         JOIN (SELECT __time, unnest(a_str) AS u2 FROM test_unnest) x2
           ON x1.__time = x2.__time
         JOIN (SELECT __time, unnest(a_str) AS u3 FROM test_unnest) x3
           ON x1.__time = x3.__time
         WHERE u1 = 'S1' AND u2 = 'S2' AND u3 IS NOT NULL
         GROUP BY u1, u2, u3
         ORDER BY u1, u2, u3"""),

    gu("q_qa_unnest_having_notfilter_limit",
      """SELECT 'hav' AS src, c, CAST(count(*) AS BIGINT) AS cnt
         FROM test_unnest, UNNEST(a_str) AS u(c)
         GROUP BY c HAVING c = 'S1'
         UNION ALL
         SELECT 'ne', c, CAST(count(*) AS BIGINT)
         FROM test_unnest, UNNEST(a_str) AS u(c)
         WHERE c <> 'S2' GROUP BY c
         UNION ALL
         SELECT 'lim', c, CAST(count(*) AS BIGINT)
         FROM (SELECT a_str FROM test_unnest ORDER BY __time LIMIT 2) t,
              UNNEST(a_str) AS u(c)
         GROUP BY c
         ORDER BY src, c NULLS FIRST""",
      """SELECT src, c, cnt FROM (
           SELECT 'hav' AS src, c, count(*) AS cnt
           FROM (SELECT unnest(a_str) AS c FROM test_unnest) x
           GROUP BY c HAVING c = 'S1'
           UNION ALL
           SELECT 'ne', c, count(*)
           FROM (SELECT unnest(a_str) AS c FROM test_unnest) x
           WHERE c <> 'S2' GROUP BY c
           UNION ALL
           SELECT 'lim', c, count(*)
           FROM (SELECT unnest(a_str) AS c FROM
                 (SELECT a_str FROM test_unnest ORDER BY __time LIMIT 2) t) x
           GROUP BY c
         ) u ORDER BY src, c NULLS FIRST"""),

    gu("q_qa_unnest_basic",
      """SELECT c, CAST(count(*) AS BIGINT) AS cnt
         FROM test_unnest, UNNEST(a_int) AS u(c)
         GROUP BY c ORDER BY c NULLS FIRST""",
      """SELECT c, count(*) AS cnt
         FROM (SELECT unnest(a_int) AS c FROM test_unnest)
         GROUP BY c ORDER BY c NULLS FIRST"""),

    // SEL_DATASOURCE shapes: empty arrays yield no rows, null elements do
    gu("q_qa_unnest_empty_null",
      """SELECT 'empty' AS src, CAST(count(*) AS BIGINT) AS n
         FROM test_unnest, UNNEST(a_empty) AS u(c)
         UNION ALL
         SELECT 'null_elems' AS src, CAST(count(*) AS BIGINT) AS n
         FROM test_unnest, UNNEST(a_null) AS u(c)
         ORDER BY src""",
      """SELECT 'empty' AS src, count(*) AS n
         FROM (SELECT unnest(a_empty) AS c FROM test_unnest)
         UNION ALL
         SELECT 'null_elems' AS src, count(*) AS n
         FROM (SELECT unnest(a_null) AS c FROM test_unnest)
         ORDER BY src"""),

    // array_sql_array_funcs WHERE idiom: scalar + unnested column filters
    gu("q_qa_unnest_filter",
      """SELECT s_int, c
         FROM test_unnest, UNNEST(a_int) AS u(c)
         WHERE (s_int IN (0, 1, 2) OR s_int IS NULL) AND c IS NOT NULL
         ORDER BY s_int NULLS FIRST, c""",
      """SELECT s_int, c
         FROM (SELECT s_int, unnest(a_int) AS c FROM test_unnest)
         WHERE (s_int IN (0, 1, 2) OR s_int IS NULL) AND c IS NOT NULL
         ORDER BY s_int NULLS FIRST, c"""),

    // A1_B1_D2 idiom: UNNEST over JSON_VALUE ... RETURNING bigint array
    gu("q_qa_unnest_json_typed",
      """SELECT c, CAST(count(*) AS BIGINT) AS cnt
         FROM test_unnest,
              UNNEST(json_value(a_nested, '$[1]' RETURNING bigint array)) AS u(c)
         GROUP BY c ORDER BY c NULLS FIRST""",
      """SELECT c, count(*) AS cnt
         FROM (SELECT unnest(a_int) AS c FROM test_unnest)
         GROUP BY c ORDER BY c NULLS FIRST"""),

    // multi_unnests A6_B7_D1: two UNNESTs cross-join (27 rows; duck zips
    // parallel unnests so the oracle cross-joins on the row key)
    gu("q_qa_unnest_multi_cross",
      """SELECT c1, c2, CAST(count(*) AS BIGINT) AS cnt
         FROM test_unnest, UNNEST(a_bool) AS u1(c1), UNNEST(a_int) AS u2(c2)
         GROUP BY c1, c2 ORDER BY c1 NULLS FIRST, c2 NULLS FIRST""",
      """SELECT c1, c2, count(*) AS cnt
         FROM (SELECT __time, unnest(a_bool) AS c1 FROM test_unnest) t1
         JOIN (SELECT __time, unnest(a_int) AS c2 FROM test_unnest) t2
           USING (__time)
         GROUP BY c1, c2 ORDER BY c1 NULLS FIRST, c2 NULLS FIRST"""),

    // testUnnestThriceWithFiltersOnDimAndAllUnnestColumnsOrFilters
    // (sql quidem corpus): three stacked UNNESTs with OR filters spanning
    // all three unnested columns
    gu("q_qa_unnest_thrice",
      """SELECT c1, c2, c3, CAST(count(*) AS BIGINT) AS cnt
         FROM test_unnest, UNNEST(a_int) AS u1(c1), UNNEST(a_str) AS u2(c2),
              UNNEST(a_bool) AS u3(c3)
         WHERE c1 = 1 OR c2 = 'S1' OR c3 = 1
         GROUP BY c1, c2, c3
         ORDER BY c1 NULLS FIRST, c2 NULLS FIRST, c3 NULLS FIRST""",
      """SELECT c1, c2, c3, count(*) AS cnt
         FROM (SELECT __time, unnest(a_int) AS c1 FROM test_unnest) t1
         JOIN (SELECT __time, unnest(a_str) AS c2 FROM test_unnest) t2 USING (__time)
         JOIN (SELECT __time, unnest(a_bool) AS c3 FROM test_unnest) t3 USING (__time)
         WHERE c1 = 1 OR c2 = 'S1' OR c3 = 1
         GROUP BY c1, c2, c3
         ORDER BY c1 NULLS FIRST, c2 NULLS FIRST, c3 NULLS FIRST"""),

    // array_sql_join A2_B1_C19: EQUI-JOIN of two unnested relations ON the
    // unnested value itself (NULL elements drop out of the equi-join in
    // both engines)
    gu("q_qa_unnest_join_on_value",
      """SELECT t1.s_int AS s1, t2.s_int AS s2, t1.c AS c,
                CAST(count(*) AS BIGINT) AS cnt
         FROM (SELECT s_int, c FROM test_unnest, UNNEST(a_int) AS u(c)) t1
         JOIN (SELECT s_int, c FROM test_unnest, UNNEST(a_int) AS u(c)) t2
           ON t1.c = t2.c
         GROUP BY t1.s_int, t2.s_int, t1.c
         ORDER BY s1 NULLS FIRST, s2 NULLS FIRST, c""",
      """SELECT t1.s_int AS s1, t2.s_int AS s2, t1.c AS c, count(*) AS cnt
         FROM (SELECT s_int, unnest(a_int) AS c FROM test_unnest) t1
         JOIN (SELECT s_int, unnest(a_int) AS c FROM test_unnest) t2
           ON t1.c = t2.c
         GROUP BY t1.s_int, t2.s_int, t1.c
         ORDER BY s1 NULLS FIRST, s2 NULLS FIRST, c"""),

    // array_sql_join A2_B1_C18: unnested value joined against the OTHER
    // side's SCALAR dimension
    gu("q_qa_unnest_join_scalar",
      """SELECT t1.s_int AS s1, t2.c AS c, CAST(count(*) AS BIGINT) AS cnt
         FROM (SELECT s_int FROM test_unnest) t1
         JOIN (SELECT s_int, c FROM test_unnest, UNNEST(a_int) AS u(c)) t2
           ON t1.s_int = t2.c
         GROUP BY t1.s_int, t2.c
         ORDER BY s1, c""",
      """SELECT t1.s_int AS s1, t2.c AS c, count(*) AS cnt
         FROM (SELECT s_int FROM test_unnest) t1
         JOIN (SELECT s_int, unnest(a_int) AS c FROM test_unnest) t2
           ON t1.s_int = t2.c
         GROUP BY t1.s_int, t2.c
         ORDER BY s1, c"""),

    // array_sql_select_distinct + sql_limit_offset: DISTINCT over the
    // unnested column under a deterministic ORDER BY with LIMIT/OFFSET
    gu("q_qa_unnest_distinct_limit_offset",
      """SELECT DISTINCT c
         FROM test_unnest, UNNEST(a_int) AS u(c)
         ORDER BY c NULLS FIRST
         LIMIT 2 OFFSET 1""",
      """SELECT DISTINCT c
         FROM (SELECT unnest(a_int) AS c FROM test_unnest)
         ORDER BY c NULLS FIRST
         LIMIT 2 OFFSET 1"""),

    // testUnnestWithNotFiltersOnUnnestedColumn: NOT over the unnested
    // column, with the NULL branch made explicit
    gu("q_qa_unnest_not_filter",
      """SELECT c, CAST(count(*) AS BIGINT) AS cnt
         FROM test_unnest, UNNEST(a_str) AS u(c)
         WHERE NOT (c = 'S1') OR c IS NULL
         GROUP BY c ORDER BY c NULLS FIRST""",
      """SELECT c, count(*) AS cnt
         FROM (SELECT unnest(a_str) AS c FROM test_unnest)
         WHERE NOT (c = 'S1') OR c IS NULL
         GROUP BY c ORDER BY c NULLS FIRST"""),

    // array_sql_agg_funcs: aggregates over the scalar alongside the
    // unnested column (s_int NULL row contributes count but not sum)
    gu("q_qa_unnest_group_agg",
      """SELECT c, CAST(count(*) AS BIGINT) AS cnt,
                CAST(sum(s_int) AS BIGINT) AS sum_s,
                CAST(count(s_int) AS BIGINT) AS n_s
         FROM test_unnest, UNNEST(a_str) AS u(c)
         GROUP BY c ORDER BY c NULLS FIRST""",
      """SELECT c, count(*) AS cnt, CAST(sum(s_int) AS BIGINT) AS sum_s,
                count(s_int) AS n_s
         FROM (SELECT s_int, unnest(a_str) AS c FROM test_unnest)
         GROUP BY c ORDER BY c NULLS FIRST"""),

    // DecoupledPlanningCalciteArraysQueryTest
    // testUnnestWithGroupByHavingSelector: HAVING selector on the
    // unnested grouping column
    gu("q_qa_unnest_group_having",
      """SELECT c, CAST(count(*) AS BIGINT) AS cnt
         FROM test_unnest, UNNEST(a_str) AS u(c)
         GROUP BY c HAVING c = 'S1'""",
      """SELECT c, count(*) AS cnt
         FROM (SELECT unnest(a_str) AS c FROM test_unnest)
         GROUP BY c HAVING c = 'S1'"""),

    // --------------------------- qaUnnest round-11 depth (221-file corpus)
    // array_sql_group_by GROUPING SETS over an unnested column alongside
    // the scalar dimension: each set aggregates an independent slice, and
    // GROUPING() disambiguates the per-set NULLs from real NULL elements
    gu("q_qa_unnest_grouping_sets",
      """SELECT c, s_int, CAST(count(*) AS BIGINT) AS cnt,
                CAST(grouping(c) AS BIGINT) AS g_c,
                CAST(grouping(s_int) AS BIGINT) AS g_s
         FROM test_unnest, UNNEST(a_int) AS u(c)
         GROUP BY GROUPING SETS ((c), (s_int), ())
         ORDER BY g_c, g_s, c NULLS FIRST, s_int NULLS FIRST""",
      """SELECT c, s_int, count(*) AS cnt,
                CAST(grouping(c) AS BIGINT) AS g_c,
                CAST(grouping(s_int) AS BIGINT) AS g_s
         FROM (SELECT s_int, unnest(a_int) AS c FROM test_unnest)
         GROUP BY GROUPING SETS ((c), (s_int), ())
         ORDER BY g_c, g_s, c NULLS FIRST, s_int NULLS FIRST"""),

    // ROLLUP over (scalar, unnested): the hierarchy folds the unnested
    // level first, then the scalar, then the grand total
    gu("q_qa_unnest_rollup",
      """SELECT s_int, c, CAST(count(*) AS BIGINT) AS cnt,
                CAST(grouping(s_int) AS BIGINT) AS g_s,
                CAST(grouping(c) AS BIGINT) AS g_c
         FROM test_unnest, UNNEST(a_str) AS u(c)
         GROUP BY ROLLUP (s_int, c)
         ORDER BY g_s, g_c, s_int NULLS FIRST, c NULLS FIRST""",
      """SELECT s_int, c, count(*) AS cnt,
                CAST(grouping(s_int) AS BIGINT) AS g_s,
                CAST(grouping(c) AS BIGINT) AS g_c
         FROM (SELECT s_int, unnest(a_str) AS c FROM test_unnest)
         GROUP BY ROLLUP (s_int, c)
         ORDER BY g_s, g_c, s_int NULLS FIRST, c NULLS FIRST"""),

    // A1_B1_D2 deep-path idiom: UNNEST of a json_value array addressed
    // THROUGH the nested copy at $[7] (not a top-level leaf)
    gu("q_qa_unnest_json_deep",
      """SELECT c, CAST(count(*) AS BIGINT) AS cnt
         FROM test_unnest,
              UNNEST(json_value(a_nested, '$[7][3]' RETURNING varchar array)) AS u(c)
         GROUP BY c ORDER BY c NULLS FIRST""",
      """SELECT c, count(*) AS cnt
         FROM (SELECT unnest(a_str) AS c FROM test_unnest)
         GROUP BY c ORDER BY c NULLS FIRST"""),

    // array_sql_subquery_with_where (the corpus's largest family, 25
    // files): outer WHERE over the unnested value of an inner subquery,
    // mixed with a scalar predicate whose NULL branch is kept
    gu("q_qa_unnest_subq_where_in",
      """SELECT s_int, c
         FROM (SELECT s_int, c FROM test_unnest, UNNEST(a_int) AS u(c)) x
         WHERE c IN (1, 2) AND (s_int > 0 OR s_int IS NULL)
         ORDER BY s_int NULLS FIRST, c""",
      """SELECT s_int, c
         FROM (SELECT s_int, unnest(a_int) AS c FROM test_unnest) x
         WHERE c IN (1, 2) AND (s_int > 0 OR s_int IS NULL)
         ORDER BY s_int NULLS FIRST, c"""),

    // array_sql_union_all: UNION ALL of two differently-typed unnest
    // branches, normalized to strings, aggregated across the union
    gu("q_qa_unnest_union_all",
      """SELECT src, c, CAST(count(*) AS BIGINT) AS cnt FROM (
           SELECT 'int' AS src, CAST(c AS STRING) AS c
           FROM test_unnest, UNNEST(a_int) AS u(c)
           UNION ALL
           SELECT 'str' AS src, c FROM test_unnest, UNNEST(a_str) AS u(c)) z
         GROUP BY src, c ORDER BY src, c NULLS FIRST""",
      """SELECT src, c, count(*) AS cnt FROM (
           SELECT 'int' AS src, CAST(c AS VARCHAR) AS c
           FROM (SELECT unnest(a_int) AS c FROM test_unnest)
           UNION ALL
           SELECT 'str' AS src, c
           FROM (SELECT unnest(a_str) AS c FROM test_unnest)) z
         GROUP BY src, c ORDER BY src, c NULLS FIRST"""),

    // testUnnestWithGroupByOnExpression: grouping on an expression OF the
    // unnested column (NULL elements flow to a NULL expression group)
    gu("q_qa_unnest_group_expr",
      """SELECT upper(c) || '_x' AS k, CAST(count(*) AS BIGINT) AS cnt,
                CAST(min(s_int) AS BIGINT) AS mn
         FROM test_unnest, UNNEST(a_str) AS u(c)
         GROUP BY upper(c) || '_x' ORDER BY k NULLS FIRST""",
      """SELECT upper(c) || '_x' AS k, count(*) AS cnt,
                CAST(min(s_int) AS BIGINT) AS mn
         FROM (SELECT s_int, unnest(a_str) AS c FROM test_unnest)
         GROUP BY upper(c) || '_x' ORDER BY k NULLS FIRST"""),

    // filtered aggregates over the unnested column
    gu("q_qa_unnest_filter_c",
      """SELECT CAST(count(*) FILTER (WHERE c > 1) AS BIGINT) AS gt1,
                CAST(count(*) FILTER (WHERE c IS NULL) AS BIGINT) AS n_null,
                CAST(sum(c) AS BIGINT) AS total
         FROM test_unnest, UNNEST(a_int) AS u(c)""",
      """SELECT count(*) FILTER (WHERE c > 1) AS gt1,
                count(*) FILTER (WHERE c IS NULL) AS n_null,
                CAST(sum(c) AS BIGINT) AS total
         FROM (SELECT unnest(a_int) AS c FROM test_unnest)"""),

    // array_sql_order_by + limit_offset: ASC puts unnested nulls first
    // (duck default is NULLS LAST → explicit)
    gu("q_qa_unnest_order_limit",
      """SELECT c
         FROM test_unnest, UNNEST(a_float) AS u(c)
         ORDER BY c LIMIT 5 OFFSET 2""",
      """SELECT c
         FROM (SELECT unnest(a_float) AS c FROM test_unnest)
         ORDER BY c NULLS FIRST LIMIT 5 OFFSET 2"""),

    // array_sql_select_distinct over a mixed-typed (string) array
    gu("q_qa_unnest_distinct",
      """SELECT c
         FROM (SELECT DISTINCT c FROM test_unnest, UNNEST(a_mixed) AS u(c))
         ORDER BY c NULLS FIRST""",
      """SELECT c
         FROM (SELECT DISTINCT unnest(a_mixed) AS c FROM test_unnest)
         ORDER BY c NULLS FIRST"""),

    // array_sql_join: unnest feeding both join sides (null keys drop)
    gu("q_qa_unnest_join",
      """SELECT t1.c AS c, CAST(count(*) AS BIGINT) AS cnt
         FROM (SELECT c FROM test_unnest, UNNEST(a_str) AS u(c)) t1
         JOIN (SELECT c FROM test_unnest, UNNEST(a_str) AS u(c)) t2
           ON t1.c = t2.c
         GROUP BY t1.c ORDER BY c""",
      """SELECT t1.c AS c, count(*) AS cnt
         FROM (SELECT unnest(a_str) AS c FROM test_unnest) t1
         JOIN (SELECT unnest(a_str) AS c FROM test_unnest) t2 ON t1.c = t2.c
         GROUP BY t1.c ORDER BY c"""),

    // array functions re-applied to the source array per unnested element
    gu("q_qa_unnest_array_funcs",
      """SELECT s_int, c, array_offset_of(a_int, c) AS pos,
                array_contains(a_int, c) AS has
         FROM test_unnest, UNNEST(a_int) AS u(c)
         WHERE c IS NOT NULL
         ORDER BY s_int NULLS FIRST, c""",
      """SELECT s_int, c,
                CAST(nullif(list_position(a_int, c), 0) - 1 AS INTEGER) AS pos,
                list_has_all(a_int, [c]) AS has
         FROM (SELECT s_int, a_int, unnest(a_int) AS c FROM test_unnest)
         WHERE c IS NOT NULL
         ORDER BY s_int NULLS FIRST, c"""),

    // array_sql_scalar_*: scalar functions over the unnested column with
    // null propagation
    gu("q_qa_unnest_scalar_funcs",
      """SELECT c, c + 1 AS plus1, abs(c - 2) AS absdiff,
                concat('v_', CAST(c AS STRING)) AS tagged,
                coalesce(c, -1) AS filled
         FROM test_unnest, UNNEST(a_int) AS u(c)
         ORDER BY c NULLS FIRST""",
      """SELECT c, c + 1 AS plus1, abs(c - 2) AS absdiff,
                'v_' || CAST(c AS VARCHAR) AS tagged, coalesce(c, -1) AS filled
         FROM (SELECT unnest(a_int) AS c FROM test_unnest)
         ORDER BY c NULLS FIRST"""),

    // --------------------------------------- qaUnnest round-13 depth ----
    // multi_unnests A6_B8_D1: cross of TWO json_value RETURNING arrays of
    // different element types (boolean × double) over the shredded column
    gu("q_qa_unnest_json_multi",
      """SELECT CAST(c1 AS BIGINT) AS c1, c2, CAST(count(*) AS BIGINT) AS cnt
         FROM test_unnest,
              UNNEST(json_value(a_nested, '$[0]' RETURNING boolean array)) AS u1(c1),
              UNNEST(json_value(a_nested, '$[2]' RETURNING double array)) AS u2(c2)
         GROUP BY c1, c2 ORDER BY CAST(c1 AS BIGINT) NULLS FIRST, c2 NULLS FIRST""",
      """SELECT c1, c2, count(*) AS cnt
         FROM (SELECT __time, unnest(a_bool) AS c1 FROM test_unnest) t1
         JOIN (SELECT __time, unnest(a_float) AS c2 FROM test_unnest) t2
           USING (__time)
         GROUP BY c1, c2 ORDER BY c1 NULLS FIRST, c2 NULLS FIRST"""),

    // window functions over exploded rows: partition by the source row's
    // scalar, order by the unnested value — frames see the exploded stream
    gu("q_qa_unnest_window",
      """SELECT s_int, c,
                CAST(rank() OVER (PARTITION BY s_int
                  ORDER BY c NULLS FIRST) AS BIGINT) AS rk,
                CAST(sum(c) OVER (PARTITION BY s_int ORDER BY c NULLS FIRST
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         FROM test_unnest, UNNEST(a_int) AS u(c)
         ORDER BY s_int NULLS FIRST, c NULLS FIRST""",
      """SELECT s_int, c,
                CAST(rank() OVER (PARTITION BY s_int
                  ORDER BY c NULLS FIRST) AS BIGINT) AS rk,
                CAST(sum(c) OVER (PARTITION BY s_int ORDER BY c NULLS FIRST
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         FROM (SELECT s_int, unnest(a_int) AS c FROM test_unnest)
         ORDER BY s_int NULLS FIRST, c NULLS FIRST"""),

    // unnest under set operators: the typed-array column and the json path
    // shred the SAME logical values, so INTERSECT keeps all distinct
    // elements and EXCEPT is empty (NULLs compare equal in set ops)
    gu("q_qa_unnest_setops",
      """SELECT 'inter' AS op, CAST(count(*) AS BIGINT) AS n FROM (
           SELECT c FROM test_unnest, UNNEST(a_int) AS u(c)
           INTERSECT
           SELECT c2 FROM test_unnest,
             UNNEST(json_value(a_nested, '$[1]' RETURNING bigint array)) AS v(c2))
         UNION ALL
         SELECT 'exc' AS op, CAST(count(*) AS BIGINT) AS n FROM (
           SELECT c FROM test_unnest, UNNEST(a_int) AS u(c)
           EXCEPT
           SELECT c2 FROM test_unnest,
             UNNEST(json_value(a_nested, '$[1]' RETURNING bigint array)) AS v(c2))
         ORDER BY op""",
      """SELECT 'inter' AS op, count(*) AS n FROM (
           SELECT unnest(a_int) AS c FROM test_unnest
           INTERSECT
           SELECT unnest(a_int) AS c2 FROM test_unnest)
         UNION ALL
         SELECT 'exc' AS op, count(*) AS n FROM (
           SELECT unnest(a_int) AS c FROM test_unnest
           EXCEPT
           SELECT unnest(a_int) AS c2 FROM test_unnest)
         ORDER BY op"""),

    // subquery_with_where nested-unnest IN: the outer exploded value
    // filtered by an inner unnest-derived set (non-null json elements)
    gu("q_qa_unnest_in_subquery",
      """SELECT s_int, c, CAST(count(*) AS BIGINT) AS cnt
         FROM test_unnest, UNNEST(a_int) AS u(c)
         WHERE c IN (SELECT c2 FROM test_unnest,
             UNNEST(json_value(a_nested, '$[1]' RETURNING bigint array)) AS v(c2)
           WHERE c2 IS NOT NULL)
         GROUP BY s_int, c
         ORDER BY s_int NULLS FIRST, c""",
      """SELECT s_int, c, count(*) AS cnt
         FROM (SELECT s_int, unnest(a_int) AS c FROM test_unnest)
         WHERE c IN (SELECT unnest(a_int) AS c2 FROM test_unnest)
           AND c IS NOT NULL
         GROUP BY s_int, c
         ORDER BY s_int NULLS FIRST, c"""),

    // ORDER BY the unnested value itself with LIMIT/OFFSET paging across
    // source-row boundaries (array_sql_order_by family)
    gu("q_qa_unnest_order_by_c",
      """SELECT c, s_int
         FROM test_unnest, UNNEST(a_str) AS u(c)
         ORDER BY c DESC NULLS LAST, s_int NULLS FIRST
         LIMIT 5 OFFSET 2""",
      """SELECT c, s_int
         FROM (SELECT s_int, unnest(a_str) AS c FROM test_unnest)
         ORDER BY c DESC NULLS LAST, s_int NULLS FIRST
         LIMIT 5 OFFSET 2"""),

    // agg-function battery over exploded rows: ordered string_agg (NULL
    // elements excluded identically on both sides)
    gu("q_qa_unnest_agg_collect",
      """SELECT s_int,
                array_join(array_sort(collect_list(c)), '|') AS joined,
                CAST(count(c) AS BIGINT) AS n_nonnull
         FROM test_unnest, UNNEST(a_str) AS u(c)
         GROUP BY s_int ORDER BY s_int NULLS FIRST""",
      """SELECT s_int,
                string_agg(c, '|' ORDER BY c) AS joined,
                count(c) AS n_nonnull
         FROM (SELECT s_int, unnest(a_str) AS c FROM test_unnest)
         GROUP BY s_int ORDER BY s_int NULLS FIRST"""),

    // DISTINCT aggregates over exploded values (array_sql_agg_funcs)
    gu("q_qa_unnest_distinct_aggs",
      """SELECT s_int,
                CAST(count(DISTINCT c) AS BIGINT) AS nd,
                CAST(sum(DISTINCT c) AS BIGINT) AS sd,
                CAST(min(c) AS BIGINT) AS mn, CAST(max(c) AS BIGINT) AS mx
         FROM test_unnest, UNNEST(a_int) AS u(c)
         GROUP BY s_int ORDER BY s_int NULLS FIRST""",
      """SELECT s_int,
                count(DISTINCT c) AS nd,
                CAST(sum(DISTINCT c) AS BIGINT) AS sd,
                min(c) AS mn, max(c) AS mx
         FROM (SELECT s_int, unnest(a_int) AS c FROM test_unnest)
         GROUP BY s_int ORDER BY s_int NULLS FIRST"""),

    // string functions over the json-shredded VARCHAR array ($[3] = a_str)
    gu("q_qa_unnest_json_str_funcs",
      """SELECT lower(c) AS lc, CAST(length(c) AS BIGINT) AS len,
                CAST(count(*) AS BIGINT) AS cnt
         FROM test_unnest,
              UNNEST(json_value(a_nested, '$[3]' RETURNING varchar array)) AS u(c)
         GROUP BY lower(c), length(c)
         ORDER BY lc NULLS FIRST""",
      """SELECT lower(c) AS lc, CAST(length(c) AS BIGINT) AS len,
                count(*) AS cnt
         FROM (SELECT unnest(a_str) AS c FROM test_unnest)
         GROUP BY lower(c), length(c)
         ORDER BY lc NULLS FIRST"""),

    // ------------------------------------------------------ qaUnnest/mv ----
    // mv_sql_group_by A1_B2: nested source values stringified at ingest
    gm("q_qa_mv_unnest_group",
      """SELECT c, CAST(count(*) AS BIGINT) AS cnt
         FROM test_unnest, UNNEST(MV_TO_ARRAY(c_mv_complex)) AS u(c)
         GROUP BY c ORDER BY c""",
      """SELECT c, count(*) AS cnt
         FROM (SELECT unnest(c_mv_complex) AS c FROM test_unnest)
         GROUP BY c ORDER BY c"""),

    // mv_sql_scalar_string_funcs: string functions applied to each
    // multi-value element after explosion
    gm("q_qa_mv_unnest_string_funcs",
      """SELECT c, upper(c) AS uc, CAST(length(c) AS BIGINT) AS len,
                concat(c, '_x') AS tagged, CAST(count(*) AS BIGINT) AS cnt
         FROM test_unnest, UNNEST(MV_TO_ARRAY(c_mv_complex)) AS u(c)
         GROUP BY c ORDER BY c""",
      """SELECT c, upper(c) AS uc, CAST(length(c) AS BIGINT) AS len,
                c || '_x' AS tagged, count(*) AS cnt
         FROM (SELECT unnest(c_mv_complex) AS c FROM test_unnest)
         GROUP BY c ORDER BY c"""),

    // mv col_general row variants: a NULL mv cell and an empty mv cell both
    // contribute ZERO exploded rows; NULL/'' ELEMENTS inside a present cell
    // still emit rows — count per source row pins the difference
    gm("q_qa_mv_unnest_row_null_empty",
      """SELECT c_long, CAST(count(c) AS BIGINT) AS n_nonnull,
                CAST(count(*) AS BIGINT) AS n_rows
         FROM test_unnest,
              UNNEST(MV_TO_ARRAY(c_mv_complex_with_null_and_empty_row)) AS u(c)
         GROUP BY c_long ORDER BY c_long""",
      """SELECT c_long, count(c) AS n_nonnull, count(*) AS n_rows
         FROM (SELECT c_long,
                      unnest(c_mv_complex_with_null_and_empty_row) AS c
               FROM test_unnest)
         GROUP BY c_long ORDER BY c_long"""),

    // mv_sql_subquery_with_where B10/B11: three-valued IN over exploded MV
    // values — a NULL in the IN list turns every non-match UNKNOWN, so
    // IS NOT TRUE keeps NULL elements AND UNKNOWN non-matches while a
    // plain NOT IN would drop everything; the same predicate applied in
    // the subquery and in the outer query must agree
    gm("q_qa_mv_unnest_in_3vl",
      """SELECT o.c,
                CAST(o.c IN ('1', '[2]') AS STRING) AS in_plain,
                CAST(o.c IN ('1', NULL) AS STRING) AS in_with_null,
                o.cnt_outer, coalesce(s.n, 0L) AS cnt_subq
         FROM (SELECT c, CAST(count(*) AS BIGINT) AS cnt_outer
               FROM test_unnest,
                 UNNEST(MV_TO_ARRAY(c_mv_complex_with_null_and_empty_val)) AS u(c)
               WHERE (c IN ('1', NULL)) IS NOT TRUE
               GROUP BY c) o
         LEFT JOIN (SELECT c2, CAST(count(*) AS BIGINT) AS n
               FROM (SELECT c2 FROM test_unnest,
                 UNNEST(MV_TO_ARRAY(c_mv_complex_with_null_and_empty_val)) AS v(c2)
                 WHERE (c2 IN ('1', NULL)) IS NOT TRUE) x
               GROUP BY c2) s
           ON o.c <=> s.c2
         ORDER BY o.c NULLS FIRST""",
      """SELECT o.c,
                CAST(o.c IN ('1', '[2]') AS VARCHAR) AS in_plain,
                CAST(o.c IN ('1', NULL) AS VARCHAR) AS in_with_null,
                o.cnt_outer, coalesce(s.n, 0) AS cnt_subq
         FROM (SELECT c, count(*) AS cnt_outer
               FROM (SELECT unnest(c_mv_complex_with_null_and_empty_val) AS c
                     FROM test_unnest)
               WHERE (c IN ('1', NULL)) IS NOT TRUE
               GROUP BY c) o
         LEFT JOIN (SELECT c2, count(*) AS n
               FROM (SELECT unnest(c_mv_complex_with_null_and_empty_val) AS c2
                     FROM test_unnest)
               WHERE (c2 IN ('1', NULL)) IS NOT TRUE
               GROUP BY c2) s
           ON o.c IS NOT DISTINCT FROM s.c2
         ORDER BY o.c NULLS FIRST"""),

    // null vs '' MV cells survive unnest as distinct groups
    gm("q_qa_mv_null_empty_vals",
      """SELECT c, CAST(count(*) AS BIGINT) AS cnt
         FROM test_unnest,
              UNNEST(MV_TO_ARRAY(c_mv_num_with_null_and_empty_val)) AS u(c)
         GROUP BY c ORDER BY c NULLS FIRST""",
      """SELECT c, count(*) AS cnt
         FROM (SELECT unnest(c_mv_num_with_null_and_empty_val) AS c
               FROM test_unnest)
         GROUP BY c ORDER BY c NULLS FIRST"""),

    // NULL-row and []-row MV cells contribute no rows
    gm("q_qa_mv_empty_null_rows",
      """SELECT CAST(count(*) AS BIGINT) AS n_rows, CAST(count(c) AS BIGINT) AS n_vals
         FROM test_unnest,
              UNNEST(MV_TO_ARRAY(c_mv_num_with_null_and_empty_row)) AS u(c)""",
      """SELECT count(*) AS n_rows, count(c) AS n_vals
         FROM (SELECT unnest(c_mv_num_with_null_and_empty_row) AS c
               FROM test_unnest)"""),

    // mv_sql_mv_funcs: the MV_* surface over MV cells
    gm("q_qa_mv_funcs",
      """SELECT c_long, MV_LENGTH(c_mv_complex) AS mv_len,
                MV_OFFSET(c_mv_complex, 3) AS mv_off3,
                MV_TO_STRING(c_mv_complex, ',') AS mv_str,
                MV_TO_STRING(MV_FILTER_ONLY(c_mv_num, array('1', '2', '9')), ',') AS mv_only,
                MV_TO_STRING(MV_FILTER_NONE(c_mv_num, array('-1', '0')), ',') AS mv_none,
                MV_CONTAINS(c_mv_num, '3') AS mv_has3,
                MV_OVERLAP(c_mv_num, array('9', '3')) AS mv_ovl
         FROM test_unnest ORDER BY c_long""",
      """SELECT c_long, CAST(len(c_mv_complex) AS INTEGER) AS mv_len,
                c_mv_complex[4] AS mv_off3,
                array_to_string(c_mv_complex, ',') AS mv_str,
                array_to_string(list_filter(c_mv_num,
                  gx -> list_contains(['1', '2', '9'], gx)), ',') AS mv_only,
                array_to_string(list_filter(c_mv_num,
                  gx -> NOT coalesce(list_contains(['-1', '0'], gx), false)), ',') AS mv_none,
                list_contains(c_mv_num, '3') AS mv_has3,
                len(list_intersect(c_mv_num, ['9', '3'])) > 0 AS mv_ovl
         FROM test_unnest ORDER BY c_long"""),

    // mv_sql_group_by on scalars: '' and NULL group separately
    gm("q_qa_mv_groupby_scalar",
      """SELECT c_str, CAST(count(*) AS BIGINT) AS cnt,
                CAST(sum(c_long) AS BIGINT) AS sum_long
         FROM test_unnest GROUP BY c_str ORDER BY c_str NULLS FIRST""",
      """SELECT c_str, count(*) AS cnt, CAST(sum(c_long) AS BIGINT) AS sum_long
         FROM test_unnest GROUP BY c_str ORDER BY c_str NULLS FIRST"""),

    // mv_sql_multi_unnests: cross product of two MV columns
    gm("q_qa_mv_multi_unnest",
      """SELECT c1, c2, CAST(count(*) AS BIGINT) AS cnt
         FROM test_unnest, UNNEST(MV_TO_ARRAY(c_mv_num)) AS u1(c1),
              UNNEST(MV_TO_ARRAY(c_mv_all_null_and_empty_val)) AS u2(c2)
         GROUP BY c1, c2 ORDER BY c1, c2 NULLS FIRST""",
      """SELECT c1, c2, count(*) AS cnt
         FROM (SELECT c_long, unnest(c_mv_num) AS c1 FROM test_unnest) t1
         JOIN (SELECT c_long, unnest(c_mv_all_null_and_empty_val) AS c2
               FROM test_unnest) t2 USING (c_long)
         GROUP BY c1, c2 ORDER BY c1, c2 NULLS FIRST"""),

    // array_sql_order_by battery (`ORDER BY 1 DESC` over exploded rows):
    // ordinal ORDER BY binds to the unnested output column, with paging
    gu("q_qa_unnest_order_ordinal",
      """SELECT c FROM test_unnest, UNNEST(a_int) AS u(c)
         ORDER BY 1 DESC NULLS LAST LIMIT 5 OFFSET 1""",
      """SELECT c FROM (SELECT unnest(a_int) AS c FROM test_unnest)
         ORDER BY 1 DESC NULLS LAST LIMIT 5 OFFSET 1"""),

    // mv_sql_join.01 A1_B7: join a table to an unnest derivation on the
    // exploded value vs a cast scalar — '' (empty string) c_str of the
    // c_long=1 row survives the join distinct from NULL (reference expected:
    // ('',1,'1') ×3 and ('str2',2,'2') ×3).
    gm("q_qa_unnest_mv_join",
      """SELECT t1.c_str AS c_str, t1.c_long AS c_long, t2.c AS c,
                CAST(count(*) AS BIGINT) AS cnt
         FROM test_unnest t1
         INNER JOIN (SELECT c_long, c FROM test_unnest,
                     UNNEST(MV_TO_ARRAY(c_mv_num_with_null_and_empty_val)) AS u(c)) t2
           ON t2.c = CAST(t1.c_long AS STRING)
         WHERE t1.c_long IN (0, 1, 2, 999) AND t2.c_long IN (0, 1, 2, 999)
         GROUP BY t1.c_str, t1.c_long, t2.c
         ORDER BY c_long, c""",
      """SELECT t1.c_str AS c_str, t1.c_long AS c_long, t2.c AS c,
                count(*) AS cnt
         FROM test_unnest t1
         INNER JOIN (SELECT c_long, unnest(c_mv_num_with_null_and_empty_val) AS c
                     FROM test_unnest) t2
           ON t2.c = CAST(t1.c_long AS VARCHAR)
         WHERE t1.c_long IN (0, 1, 2, 999) AND t2.c_long IN (0, 1, 2, 999)
         GROUP BY t1.c_str, t1.c_long, t2.c
         ORDER BY c_long, c"""),

    // sql_group_by battery over a_nested: GROUP BY a JSON-DERIVED typed
    // array (json_value RETURNING bigint array as the grouping key) — the
    // derivation and the structural-equality grouping must agree
    ga("q_qa_array_group_json_derived",
      """SELECT array_to_string(json_value(a_nested, '$[1]' RETURNING bigint array), '|') AS k,
                CAST(count(*) AS BIGINT) AS cnt
         FROM test_array
         GROUP BY json_value(a_nested, '$[1]' RETURNING bigint array)
         ORDER BY k""",
      """SELECT array_to_string(list_transform(
                  json_transform(json_extract(a_nested, '$[1]'), '["BIGINT"]'),
                  gx -> coalesce(CAST(gx AS VARCHAR), 'null')), '|') AS k,
                count(*) AS cnt
         FROM test_array
         GROUP BY json_transform(json_extract(a_nested, '$[1]'), '["BIGINT"]')
         ORDER BY k"""),

    // array_sql_join.05 A4_B1 (RIGHT/LEFT JOIN back to the base table): an
    // unnest derivation on the NULL-SUPPLYING side of an outer join —
    // null-extended rows must stay distinguishable from genuine NULL array
    // elements (u.s_int carries the difference)
    gu("q_qa_unnest_outer_join",
      """SELECT t2.s_int AS s2, u.s_int AS s1, u.c AS c,
                CAST(count(*) AS BIGINT) AS cnt
         FROM test_unnest t2
         LEFT JOIN (SELECT s_int, c FROM test_unnest, UNNEST(a_bool) AS x(c)
                    WHERE s_int = 1) u
           ON t2.s_int = u.s_int
         GROUP BY t2.s_int, u.s_int, u.c
         ORDER BY s2 NULLS FIRST, s1 NULLS FIRST, c NULLS FIRST""",
      """SELECT t2.s_int AS s2, u.s_int AS s1, u.c AS c, count(*) AS cnt
         FROM test_unnest t2
         LEFT JOIN (SELECT s_int, unnest(a_bool) AS c FROM test_unnest
                    WHERE s_int = 1) u
           ON t2.s_int = u.s_int
         GROUP BY t2.s_int, u.s_int, u.c
         ORDER BY s2 NULLS FIRST, s1 NULLS FIRST, c NULLS FIRST"""),

    // mv_sql_scalar_datetime_funcs (A1_B10 family): datetime functions over
    // EXPLODED MV values cast to numbers — millis→timestamp round-trips,
    // calendar-year TIME_FLOOR across the epoch (c='-1' lands pre-1970),
    // field extraction, and interval membership
    gm("q_qa_unnest_mv_datetime",
      """SELECT c,
                CAST(MILLIS_TO_TIMESTAMP(CAST(c AS BIGINT)) AS STRING) AS ts_ms,
                CAST(TIME_FLOOR(MILLIS_TO_TIMESTAMP(CAST(c AS BIGINT) * 31536000000),
                  'P1Y') AS STRING) AS yr,
                CAST(TIME_EXTRACT(MILLIS_TO_TIMESTAMP(CAST(c AS BIGINT) * 86400000),
                  'DAY') AS BIGINT) AS dom,
                TIME_IN_INTERVAL(MILLIS_TO_TIMESTAMP(CAST(c AS BIGINT)),
                  '1970-01-01/1970-01-02') AS in_day,
                CAST(count(*) AS BIGINT) AS cnt
         FROM test_unnest, UNNEST(MV_TO_ARRAY(c_mv_num)) AS u(c)
         WHERE c_long IN (0, 1, 2)
         GROUP BY c ORDER BY c""",
      """SELECT c,
                CAST(epoch_ms(CAST(c AS BIGINT)) AS VARCHAR) AS ts_ms,
                CAST(CAST(date_trunc('year',
                  epoch_ms(CAST(c AS BIGINT) * 31536000000)) AS TIMESTAMP) AS VARCHAR) AS yr,
                CAST(extract(day FROM
                  epoch_ms(CAST(c AS BIGINT) * 86400000)) AS BIGINT) AS dom,
                (epoch_ms(CAST(c AS BIGINT)) >= TIMESTAMP '1970-01-01'
                 AND epoch_ms(CAST(c AS BIGINT)) < TIMESTAMP '1970-01-02') AS in_day,
                count(*) AS cnt
         FROM (SELECT unnest(c_mv_num) AS c FROM test_unnest
               WHERE c_long IN (0, 1, 2))
         GROUP BY c ORDER BY c"""),

    // ---- qaUnnest round 3: the subquery_with_where batteries (34 mv +
    // 25 array .iq — the corpus's largest un-mined unnest surface).
    // mv_sql_subquery_with_where.17: the unnested value filtered by BOTH an
    // IN and a NOT IN subquery over inline VALUES
    gm("q_qa_unnest_subq_in_notin_values",
      """SELECT c, CAST(count(*) AS BIGINT) AS cnt
         FROM (SELECT * FROM test_unnest),
              UNNEST(MV_TO_ARRAY(c_mv_num_with_null_and_empty_val)) AS u(c)
         WHERE c IN (SELECT col FROM
                 VALUES(''),('my_null'),('my_empty'),('1'),('-1'),('0'),('999') AS t(col))
           AND c NOT IN (SELECT col FROM
                 VALUES('[2]'),('[3, [4, 5]]'),('2'),('3'),('999') AS t(col))
         GROUP BY c ORDER BY c""",
      """SELECT c, count(*) AS cnt
         FROM (SELECT unnest(c_mv_num_with_null_and_empty_val) AS c
               FROM test_unnest)
         WHERE c IN (SELECT col FROM (
                 VALUES(''),('my_null'),('my_empty'),('1'),('-1'),('0'),('999')) AS t(col))
           AND c NOT IN (SELECT col FROM (
                 VALUES('[2]'),('[3, [4, 5]]'),('2'),('3'),('999')) AS t(col))
         GROUP BY c ORDER BY c"""),
    // mv_sql_subquery_with_where.05: OR-chained filters on the OUTER scalar
    // dims under the lateral (the unnest re-runs only over survivors)
    gm("q_qa_unnest_subq_outer_or_chain",
      """SELECT c, CAST(count(*) AS BIGINT) AS cnt
         FROM (SELECT * FROM test_unnest),
              UNNEST(MV_TO_ARRAY(c_mv_complex)) AS u(c)
         WHERE (c_str = '' OR c_str = 'str2' OR c_long = 0 OR c_long = 1
                OR c_long = 2 OR c_long = 999)
           AND NOT c_str = 'str3'
         GROUP BY c ORDER BY c""",
      """SELECT c, count(*) AS cnt
         FROM (SELECT unnest(c_mv_complex) AS c FROM test_unnest
               WHERE (c_str = '' OR c_str = 'str2' OR c_long = 0 OR c_long = 1
                      OR c_long = 2 OR c_long = 999)
                 AND NOT c_str = 'str3')
         GROUP BY c ORDER BY c"""),
    // mv_sql_subquery_with_where.25: IN + NOT IN VALUES-subqueries on the
    // outer LONG key, unnesting the null-and-empty-ROW variant (row 0 is a
    // NULL array, row 1 is [], both drop under CROSS unnest)
    gm("q_qa_unnest_subq_long_in_rows",
      """SELECT c_long, c
         FROM (SELECT * FROM test_unnest),
              UNNEST(MV_TO_ARRAY(c_mv_complex_with_null_and_empty_row)) AS u(c)
         WHERE c_long IN (SELECT col FROM VALUES(0),(1),(2),(999) AS t(col))
           AND c_long NOT IN (SELECT col FROM VALUES(3),(998) AS t(col))
         ORDER BY c_long, c NULLS FIRST""",
      """SELECT c_long, c
         FROM (SELECT c_long, unnest(c_mv_complex_with_null_and_empty_row) AS c
               FROM test_unnest)
         WHERE c_long IN (SELECT col FROM (VALUES(0),(1),(2),(999)) AS t(col))
           AND c_long NOT IN (SELECT col FROM (VALUES(3),(998)) AS t(col))
         ORDER BY c_long, c NULLS FIRST"""),
    // mv_sql_subquery_with_where.30: `c <> literal` over the all-null-and-
    // empty value class — NULL elements drop (3VL), empties survive
    gm("q_qa_unnest_subq_neq_allnull",
      """SELECT c, CAST(count(*) AS BIGINT) AS cnt
         FROM (SELECT * FROM test_unnest),
              UNNEST(MV_TO_ARRAY(c_mv_all_null_and_empty_val)) AS u(c)
         WHERE c <> '1'
         GROUP BY c ORDER BY c""",
      """SELECT c, count(*) AS cnt
         FROM (SELECT unnest(c_mv_all_null_and_empty_val) AS c
               FROM test_unnest)
         WHERE c <> '1'
         GROUP BY c ORDER BY c"""),
    // array_sql_subquery_with_where.18/.22: typed-array unnest under outer
    // IS NOT NULL / <> filters combined with value filters
    gu("q_qa_unnest_subq_typed_filters",
      """SELECT kind, c, CAST(count(*) AS BIGINT) AS cnt FROM (
           SELECT 'str' AS kind, c FROM (SELECT * FROM test_unnest),
                UNNEST(a_str) AS u(c)
           WHERE s_int IS NOT NULL AND c IS NOT NULL
           UNION ALL
           SELECT 'mixed' AS kind, c FROM (SELECT * FROM test_unnest),
                UNNEST(a_mixed) AS u(c)
           WHERE s_int <> 1 AND c <> 'S1') z
         GROUP BY kind, c ORDER BY kind, c""",
      """SELECT kind, c, count(*) AS cnt FROM (
           SELECT 'str' AS kind, c
           FROM (SELECT s_int, unnest(a_str) AS c FROM test_unnest)
           WHERE s_int IS NOT NULL AND c IS NOT NULL
           UNION ALL
           SELECT 'mixed' AS kind, c
           FROM (SELECT s_int, unnest(a_mixed) AS c FROM test_unnest)
           WHERE s_int <> 1 AND c <> 'S1') z
         GROUP BY kind, c ORDER BY kind, c"""),
    // array_sql_subquery_with_where scalar-vs-element correlation: the
    // element equals / differs from the row's own scalar key
    gu("q_qa_unnest_subq_elem_vs_scalar",
      """SELECT s_int, c
         FROM (SELECT * FROM test_unnest), UNNEST(a_int) AS u(c)
         WHERE c = s_int OR (c IS NULL AND s_int IS NULL)
         ORDER BY s_int NULLS FIRST, c NULLS FIRST""",
      """SELECT s_int, c
         FROM (SELECT s_int, unnest(a_int) AS c FROM test_unnest)
         WHERE c = s_int OR (c IS NULL AND s_int IS NULL)
         ORDER BY s_int NULLS FIRST, c NULLS FIRST"""),
    // array_sql_order_by: unnested value ordered DESC with LIMIT/OFFSET
    // pagination and a NULLS-position pin
    gu("q_qa_unnest_order_desc_page",
      """SELECT c
         FROM (SELECT * FROM test_unnest), UNNEST(a_float) AS u(c)
         ORDER BY c DESC NULLS LAST, c LIMIT 5 OFFSET 2""",
      """SELECT c
         FROM (SELECT unnest(a_float) AS c FROM test_unnest)
         ORDER BY c DESC NULLS LAST, c LIMIT 5 OFFSET 2"""),
    // mv_sql_group_by + HAVING over unnested values with an outer-scalar
    // split (the grouped count depends on both levels)
    gm("q_qa_unnest_mv_group_having_split",
      """SELECT c, c_long, CAST(count(*) AS BIGINT) AS cnt
         FROM (SELECT * FROM test_unnest),
              UNNEST(MV_TO_ARRAY(c_mv_num)) AS u(c)
         WHERE c_long <= 2
         GROUP BY c, c_long HAVING count(*) >= 1
         ORDER BY c, c_long""",
      """SELECT c, c_long, count(*) AS cnt
         FROM (SELECT c_long, unnest(c_mv_num) AS c FROM test_unnest
               WHERE c_long <= 2)
         GROUP BY c, c_long HAVING count(*) >= 1
         ORDER BY c, c_long"""),

    // ---- qaUnnest round 4: array_sql_order_by / mv_sql_join /
    // array_sql_agg_funcs / array_sql_array_funcs families.
    // ORDER BY positional ordinal (ORDER BY 1 DESC), ORDER BY inside a
    // subquery, outer-scalar order keys over the lateral
    gu("q_qa_unnest_order_positional",
      """SELECT kind, c, cnt FROM (
           SELECT 'byc' AS kind, CAST(c AS STRING) AS c,
                  CAST(count(*) AS BIGINT) AS cnt
           FROM test_unnest, UNNEST(a_bool) AS u(c) GROUP BY c
           UNION ALL
           SELECT 'bysint' AS kind, CAST(s_int AS STRING) AS c,
                  CAST(count(*) AS BIGINT) AS cnt
           FROM test_unnest, UNNEST(a_bool) AS u(c) GROUP BY s_int
           UNION ALL
           SELECT 'sub' AS kind, CAST(c AS STRING) AS c,
                  CAST(1 AS BIGINT) AS cnt
           FROM (SELECT c FROM test_unnest, UNNEST(a_int) AS u(c)
                 ORDER BY 1 DESC LIMIT 3)) z
         ORDER BY kind, c NULLS FIRST, cnt""",
      """SELECT kind, c, cnt FROM (
           SELECT 'byc' AS kind, CAST(c AS VARCHAR) AS c, count(*) AS cnt
           FROM (SELECT unnest(a_bool) AS c FROM test_unnest) GROUP BY c
           UNION ALL
           SELECT 'bysint' AS kind, CAST(s_int AS VARCHAR) AS c, count(*) AS cnt
           FROM (SELECT s_int, unnest(a_bool) AS c FROM test_unnest) GROUP BY s_int
           UNION ALL
           SELECT 'sub' AS kind, CAST(c AS VARCHAR) AS c, 1::BIGINT AS cnt
           FROM (SELECT c FROM (SELECT unnest(a_int) AS c FROM test_unnest)
                 ORDER BY 1 DESC NULLS LAST LIMIT 3)) z
         ORDER BY kind, c NULLS FIRST, cnt"""),
    // mv_sql_join: the lateral joined THROUGH explicit join forms — joins
    // where one side is a subquery CONTAINING the unnest (the comma-join +
    // JOIN mixes are !error in the reference)
    gm("q_qa_unnest_join_forms",
      """SELECT t1.c_str AS c_str, t1.c_long AS c_long, u2.c AS c,
                CAST(count(*) AS BIGINT) AS cnt
         FROM test_unnest t1
         INNER JOIN (SELECT c_long, c FROM test_unnest,
                     UNNEST(MV_TO_ARRAY(c_mv_num_with_null_and_empty_val)) AS u(c)) u2
           ON t1.c_long = u2.c_long
         WHERE t1.c_long < 3
         GROUP BY t1.c_str, t1.c_long, u2.c
         ORDER BY c_long, c NULLS FIRST, c_str NULLS FIRST""",
      """SELECT t1.c_str AS c_str, t1.c_long AS c_long, u2.c AS c,
                count(*) AS cnt
         FROM test_unnest t1
         INNER JOIN (SELECT c_long,
                            unnest(c_mv_num_with_null_and_empty_val) AS c
                     FROM test_unnest) u2
           ON t1.c_long = u2.c_long
         WHERE t1.c_long < 3
         GROUP BY t1.c_str, t1.c_long, u2.c
         ORDER BY c_long, c NULLS FIRST, c_str NULLS FIRST"""),
    gm("q_qa_unnest_left_join_unnest_side",
      """SELECT t1.c_long AS c_long, u2.c AS c, CAST(count(*) AS BIGINT) AS cnt
         FROM test_unnest t1
         LEFT JOIN (SELECT c_long, c FROM test_unnest,
                    UNNEST(MV_TO_ARRAY(c_mv_complex_with_null_and_empty_row)) AS u(c)) u2
           ON t1.c_long = u2.c_long
         GROUP BY t1.c_long, u2.c
         ORDER BY c_long, c NULLS FIRST""",
      """SELECT t1.c_long AS c_long, u2.c AS c, count(*) AS cnt
         FROM test_unnest t1
         LEFT JOIN (SELECT c_long,
                           unnest(c_mv_complex_with_null_and_empty_row) AS c
                    FROM test_unnest) u2
           ON t1.c_long = u2.c_long
         GROUP BY t1.c_long, u2.c
         ORDER BY c_long, c NULLS FIRST"""),
    // array_sql_agg_funcs: aggregates over the unnested ELEMENT and the
    // outer scalar under the standard filter — count/sum/min/max plus
    // DISTINCT forms of both levels
    gu("q_qa_unnest_agg_elem_scalar",
      """SELECT CAST(count(*) AS BIGINT) AS c_all,
                CAST(count(DISTINCT c) AS BIGINT) AS c_dc,
                CAST(count(DISTINCT s_int) AS BIGINT) AS c_ds,
                CAST(sum(c) AS BIGINT) AS s_c,
                CAST(sum(s_int) AS BIGINT) AS s_s,
                CAST(min(c) AS BIGINT) AS mn_c,
                CAST(max(s_int) AS BIGINT) AS mx_s
         FROM test_unnest, UNNEST(a_int) AS u(c)
         WHERE s_int IN (0, 1, 2) OR s_int IS NULL""",
      """SELECT count(*) AS c_all,
                count(DISTINCT c) AS c_dc,
                count(DISTINCT s_int) AS c_ds,
                CAST(sum(c) AS BIGINT) AS s_c,
                CAST(sum(s_int) AS BIGINT) AS s_s,
                CAST(min(c) AS BIGINT) AS mn_c,
                CAST(max(s_int) AS BIGINT) AS mx_s
         FROM (SELECT s_int, unnest(a_int) AS c FROM test_unnest)
         WHERE s_int IN (0, 1, 2) OR s_int IS NULL"""),
    // array_sql_array_funcs: arrays CONSTRUCTED from the unnested element
    // and the outer scalar (array[c, s_int, 3]), fed back through array
    // fns and filters
    gu("q_qa_unnest_array_construct_elem",
      """SELECT array_to_string(array(c, s_int, 3L), '|') AS built,
                CAST(array_length(array(c, c, 3L)) AS INT) AS len3,
                CAST(count(*) AS BIGINT) AS cnt
         FROM test_unnest, UNNEST(a_int) AS u(c)
         WHERE (s_int IN (0, 1, 2) OR s_int IS NULL)
           AND array_contains(array(c, s_int, 3L), 3)
         GROUP BY array(c, s_int, 3L), array(c, c, 3L)
         ORDER BY built""",
      """SELECT concat(coalesce(CAST(c AS VARCHAR), 'null'), '|',
                       coalesce(CAST(s_int AS VARCHAR), 'null'), '|3') AS built,
                3 AS len3, count(*) AS cnt
         FROM (SELECT s_int, unnest(a_int) AS c FROM test_unnest)
         WHERE s_int IN (0, 1, 2) OR s_int IS NULL
         GROUP BY c, s_int
         ORDER BY built"""),

    // mv/array_sql_scalar_{string,numeric}_funcs: the unnested STRING
    // element rides NUMERIC functions via string→number coercion
    // (abs(c)+abs(c_long), ceil(c+c_long)) and the numeric scalar rides
    // STRING functions via number→string coercion (concat(c, c_long),
    // length, string_format('%sZ', long))
    gm("q_qa_unnest_mv_scalar_coercion",
      """SELECT c,
                CAST(abs(c) + abs(c_long) AS DOUBLE) AS ab,
                CAST(ceil(c + c_long) AS BIGINT) AS ce,
                concat(c, c_long) AS cc,
                CAST(length(CAST(c_long AS STRING)) AS INT) AS ln,
                string_format('%sZ', c_long) AS sf,
                CAST(count(*) AS BIGINT) AS cnt
         FROM test_unnest, UNNEST(MV_TO_ARRAY(c_mv_num)) AS u(c)
         WHERE c_long IN (0, 1, 2)
         GROUP BY c, abs(c) + abs(c_long), ceil(c + c_long),
                  concat(c, c_long), length(CAST(c_long AS STRING)),
                  string_format('%sZ', c_long)
         ORDER BY c, ab, cc""",
      """SELECT c,
                CAST(abs(CAST(c AS DOUBLE)) + abs(c_long) AS DOUBLE) AS ab,
                CAST(ceil(CAST(c AS DOUBLE) + c_long) AS BIGINT) AS ce,
                concat(c, CAST(c_long AS VARCHAR)) AS cc,
                CAST(length(CAST(c_long AS VARCHAR)) AS INT) AS ln,
                concat(CAST(c_long AS VARCHAR), 'Z') AS sf,
                count(*) AS cnt
         FROM (SELECT c_long, unnest(c_mv_num) AS c FROM test_unnest)
         WHERE c_long IN (0, 1, 2)
         GROUP BY ALL ORDER BY c, ab, cc"""),

    // qaAggFuncs string_agg_{float,double,misc}: the corpus chains every
    // string function over a STRING_AGG result (order-insensitive via count
    // wrappers there; here the >111<222 filter leaves ONE distinct value so
    // the aggregate string '111.1111111' is deterministic) — parse_long of
    // a dotted string NULLs, regexp find-semantics, contains/strpos, BOTH/
    // charset trims collapsing to '', repeat(x,0) → NULL
    gf("q_qa_aggfuncs_strfns_over_agg",
      """SELECT parse_long(string_agg(DISTINCT tab0d0, '|'), 16) AS pl,
                CAST(position('1' IN string_agg(DISTINCT tab0d0, '|')) AS INT) AS pos1,
                regexp_extract(string_agg(DISTINCT tab0d0, '|'), '111\\.') AS rex,
                regexp_like(string_agg(DISTINCT tab0d0, '|'), '222\\.') AS rl_no,
                regexp_like(string_agg(DISTINCT tab0d0, '|'), '111\\.') AS rl_yes,
                contains_string(string_agg(DISTINCT tab0d0, '|'), '111.') AS cs,
                icontains_string(string_agg(DISTINCT tab0d0, '|'), '111.') AS ics,
                CAST(strpos(string_agg(DISTINCT tab0d0, '|'), '1111') AS INT) AS sp,
                trim(BOTH '1234567890.' FROM string_agg(DISTINCT tab0d0, '|')) AS tb,
                btrim(string_agg(DISTINCT tab0d0, '|'), '1234567890.') AS bt,
                ltrim(string_agg(DISTINCT tab0d0, '|'), '1') AS lt2,
                rtrim(string_agg(DISTINCT tab0d0, '|'), '1') AS rt2,
                CAST(position('1' IN string_agg(DISTINCT tab0d0, '|') FROM 2) AS INT) AS posf,
                repeat(string_agg(DISTINCT tab0d0, '|'), 0) AS rep0,
                CAST(length(string_agg(DISTINCT tab0d0, '|')) AS INT) AS len
         FROM test_agg_funcs WHERE tab0d0 > 111 AND tab0d0 < 222""",
      """SELECT CAST(NULL AS BIGINT) AS pl, 1 AS pos1, '111.' AS rex,
                FALSE AS rl_no, TRUE AS rl_yes, TRUE AS cs, TRUE AS ics,
                5 AS sp, '' AS tb, '' AS bt,
                '.1111111' AS lt2, '111.' AS rt2, 2 AS posf,
                CAST(NULL AS VARCHAR) AS rep0,
                11 AS len
         FROM test_agg_funcs WHERE tab0d0 > 111 AND tab0d0 < 222 LIMIT 1"""),

    // -------------------------------------------------------- qaAggFuncs ----
    // array_agg_long_test001 A03-A13: ARRAY_AGG keeps nulls; contains /
    // contains-all / overlap over aggregated arrays
    gf("q_qa_aggfuncs_array_agg_long",
      """SELECT array_length(array_agg(tab0l0)) AS n_all,
                strlen(array_to_string(array_agg(tab0l0), '|')) AS len_all,
                array_length(array_agg(DISTINCT tab0l0)) AS n_dist,
                array_contains(array_agg(tab0l0), 1111111111L) AS has_1,
                array_contains(array_agg(tab0l0), array(1111111111L, 2222222222L)) AS has_both,
                array_contains(array_agg(tab0l0), 3333333333L) AS has_3,
                array_overlap(array_agg(tab0l0), array(1111111111L, 3333333333L)) AS ovl_13,
                array_overlap(array_agg(tab0l0), array(3333333333L, 4444444444L)) AS ovl_34
         FROM test_agg_funcs""",
      s"""SELECT CAST(len(array_agg(tab0l0)) AS INTEGER) AS n_all,
                 CAST(strlen(${dStr("array_agg(tab0l0)")}) AS INTEGER) AS len_all,
                 CAST(len(list(DISTINCT tab0l0)) AS INTEGER) AS n_dist,
                 list_contains(array_agg(tab0l0), 1111111111) AS has_1,
                 list_has_all(array_agg(tab0l0), [1111111111, 2222222222]) AS has_both,
                 list_contains(array_agg(tab0l0), 3333333333) AS has_3,
                 len(list_intersect(array_agg(tab0l0), [1111111111, 3333333333])) > 0 AS ovl_13,
                 len(list_intersect(array_agg(tab0l0), [3333333333, 4444444444])) > 0 AS ovl_34
          FROM test_agg_funcs"""),

    // order-insensitive content check: sorted DISTINCT aggregations with
    // the null element first on both engines
    gf("q_qa_aggfuncs_array_agg_sorted",
      """SELECT array_to_string(sort_array(array_agg(DISTINCT tab0l0), true), '|') AS longs,
                array_to_string(sort_array(array_agg(DISTINCT tab0d0), true), '|') AS dbls,
                array_to_string(sort_array(array_agg(DISTINCT tab0s0), true), '|') AS strs
         FROM test_agg_funcs""",
      s"""SELECT ${dStr("list_sort(list(DISTINCT tab0l0), 'ASC', 'NULLS FIRST')")} AS longs,
                 ${dStr("list_sort(list(DISTINCT tab0d0), 'ASC', 'NULLS FIRST')")} AS dbls,
                 ${dStr("list_sort(list(DISTINCT tab0s0), 'ASC', 'NULLS FIRST')")} AS strs
          FROM test_agg_funcs"""),

    // grouped ARRAY_AGG (null group rides along)
    gf("q_qa_aggfuncs_array_agg_grouped",
      """SELECT tab0s0, array_length(array_agg(tab0l0)) AS n,
                array_to_string(sort_array(array_agg(DISTINCT tab0l0), true), '|') AS kinds
         FROM test_agg_funcs GROUP BY tab0s0 ORDER BY tab0s0 NULLS FIRST""",
      s"""SELECT tab0s0, CAST(len(array_agg(tab0l0)) AS INTEGER) AS n,
                 ${dStr("list_sort(list(DISTINCT tab0l0), 'ASC', 'NULLS FIRST')")} AS kinds
          FROM test_agg_funcs GROUP BY tab0s0 ORDER BY tab0s0 NULLS FIRST"""),

    // string_agg_long_test001 A02/A03: STRING_AGG skips nulls, all-null → NULL
    gf("q_qa_aggfuncs_string_agg",
      """SELECT strlen(string_agg(CAST(tab0l0 AS STRING), '|')) AS len_l,
                strlen(string_agg(tab0s0, ',')) AS len_s,
                string_agg(CAST(tab0l0 AS STRING), '|')
                  FILTER (WHERE tab0l0 IS NULL) AS all_null,
                strlen(string_agg(DISTINCT tab0s0, ',')) AS len_dist
         FROM test_agg_funcs""",
      """SELECT CAST(strlen(string_agg(CAST(tab0l0 AS VARCHAR), '|')) AS INTEGER) AS len_l,
                CAST(strlen(string_agg(tab0s0, ',')) AS INTEGER) AS len_s,
                string_agg(CAST(tab0l0 AS VARCHAR), '|')
                  FILTER (WHERE tab0l0 IS NULL) AS all_null,
                CAST(strlen(string_agg(DISTINCT tab0s0, ',')) AS INTEGER) AS len_dist
         FROM test_agg_funcs"""),

    // ARRAY_CONCAT_AGG: skip NULL arrays, keep null elements
    gf("q_qa_aggfuncs_concat_agg",
      """SELECT array_length(array_concat_agg(pair)) AS n_all,
                strlen(array_to_string(array_concat_agg(pair), ',')) AS len_all
         FROM (SELECT array(tab0l0, 9L) AS pair FROM test_agg_funcs)""",
      s"""SELECT CAST(len(flatten(list(pair))) AS INTEGER) AS n_all,
                 CAST(strlen(${dStr("flatten(list(pair))", ",")}) AS INTEGER) AS len_all
          FROM (SELECT [tab0l0, 9]::BIGINT[] AS pair FROM test_agg_funcs)"""),

    // plain numeric aggregates over the null-bearing columns
    gf("q_qa_aggfuncs_numeric",
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
                CAST(count(tab0l0) AS BIGINT) AS n_l,
                CAST(count(DISTINCT tab0l0) AS BIGINT) AS nd_l,
                CAST(sum(tab0l0) AS BIGINT) AS sum_l,
                round(avg(tab0d0), 4) AS avg_d,
                CAST(min(tab0l0) AS BIGINT) AS min_l,
                CAST(max(tab0l0) AS BIGINT) AS max_l
         FROM test_agg_funcs""",
      """SELECT count(*) AS n_rows, count(tab0l0) AS n_l,
                count(DISTINCT tab0l0) AS nd_l,
                CAST(sum(tab0l0) AS BIGINT) AS sum_l,
                round(avg(tab0d0), 4) AS avg_d, min(tab0l0) AS min_l,
                max(tab0l0) AS max_l
         FROM test_agg_funcs"""),

    // grouped + HAVING with ARRAY_AGG of a null-bearing string column
    gf("q_qa_aggfuncs_grouped_having",
      """SELECT tab0l0, CAST(count(*) AS BIGINT) AS cnt,
                array_length(array_agg(tab0s0)) AS n_s
         FROM test_agg_funcs GROUP BY tab0l0
         HAVING count(*) >= 6 ORDER BY tab0l0 NULLS FIRST""",
      """SELECT tab0l0, count(*) AS cnt,
                CAST(len(array_agg(tab0s0)) AS INTEGER) AS n_s
         FROM test_agg_funcs GROUP BY tab0l0
         HAVING count(*) >= 6 ORDER BY tab0l0 NULLS FIRST"""),

    // FILTER + DISTINCT combinations on ARRAY_AGG
    gf("q_qa_aggfuncs_filtered",
      """SELECT array_length(array_agg(tab0l0)
                  FILTER (WHERE tab0s0 = 'AAAAAAAAAA')) AS n_a,
                array_length(array_agg(tab0l0)
                  FILTER (WHERE tab0l0 IS NULL)) AS n_null,
                array_to_string(sort_array(array_agg(DISTINCT tab0l0)
                  FILTER (WHERE tab0s0 = 'BBBBBBBBBB'), true), '|') AS dist_b
         FROM test_agg_funcs""",
      s"""SELECT CAST(len(list(tab0l0) FILTER (WHERE tab0s0 = 'AAAAAAAAAA')) AS INTEGER) AS n_a,
                 CAST(len(list(tab0l0) FILTER (WHERE tab0l0 IS NULL)) AS INTEGER) AS n_null,
                 ${dStr("list_sort(list(DISTINCT tab0l0) FILTER (WHERE tab0s0 = 'BBBBBBBBBB'), 'ASC', 'NULLS FIRST')")} AS dist_b
          FROM test_agg_funcs"""),

    // array_agg_timestamp_test001: timestamps through ARRAY_AGG + extremes
    gf("q_qa_aggfuncs_timestamp",
      """SELECT array_length(array_agg(__time)) AS n_t,
                date_format(min(__time), 'yyyy-MM-dd HH:mm:ss') AS min_t,
                date_format(max(__time), 'yyyy-MM-dd HH:mm:ss') AS max_t
         FROM test_agg_funcs""",
      """SELECT CAST(len(array_agg(__time)) AS INTEGER) AS n_t,
                strftime(min(__time), '%Y-%m-%d %H:%M:%S') AS min_t,
                strftime(max(__time), '%Y-%m-%d %H:%M:%S') AS max_t
         FROM test_agg_funcs"""),

    // ------------------------------------------------------- qaJsonCols ----
    // func_json_value.01/.03 A100-A110: deep object / array-index paths,
    // typed RETURNING, missing keys → NULL
    gj("q_qa_json_value_deep",
      """SELECT rid,
                JSON_VALUE(c1, '$.a_str') AS v_str,
                JSON_VALUE(c1, '$.a_obj.a_num_int' RETURNING BIGINT) AS v_int,
                JSON_VALUE(c1, '$.a_obj.a_obj.a_str') AS v_deep,
                JSON_VALUE(c1, '$.a_obj.a_array[1].a_num_int' RETURNING BIGINT) AS v_arr_int,
                JSON_VALUE(c1, '$.a_array[0].a_str') AS v_arr_str,
                JSON_VALUE(c1, '$.zzz') AS v_missing
         FROM test_json_cols ORDER BY rid""",
      s"""SELECT rid,
                ${djv("c1", "$.a_str")} AS v_str,
                CAST(json_extract_string(c1, '$$.a_obj.a_num_int') AS BIGINT) AS v_int,
                ${djv("c1", "$.a_obj.a_obj.a_str")} AS v_deep,
                CAST(json_extract_string(c1, '$$.a_obj.a_array[1].a_num_int') AS BIGINT) AS v_arr_int,
                ${djv("c1", "$.a_array[0].a_str")} AS v_arr_str,
                ${djv("c1", "$.zzz")} AS v_missing
         FROM test_json_cols ORDER BY rid"""),

    // func_json_value.02 A071-A075: JSON_VALUE is scalar-only — object,
    // array, empty-object, empty-array, root and json-null paths all NULL
    gj("q_qa_json_value_object_null",
      """SELECT count(*) FILTER (WHERE JSON_VALUE(c1, '$.a_obj') IS NULL) AS n_obj,
                count(*) FILTER (WHERE JSON_VALUE(c1, '$.a_empty_obj') IS NULL) AS n_eobj,
                count(*) FILTER (WHERE JSON_VALUE(c1, '$.a_empty_array') IS NULL) AS n_earr,
                count(*) FILTER (WHERE JSON_VALUE(c1, '$.a_array') IS NULL) AS n_arr,
                count(*) FILTER (WHERE JSON_VALUE(c1, '$.a_null') IS NULL) AS n_null,
                count(*) FILTER (WHERE JSON_VALUE(c1, '$') IS NULL) AS n_root
         FROM test_json_cols""",
      s"""SELECT count(*) FILTER (WHERE ${djv("c1", "$.a_obj")} IS NULL) AS n_obj,
                count(*) FILTER (WHERE ${djv("c1", "$.a_empty_obj")} IS NULL) AS n_eobj,
                count(*) FILTER (WHERE ${djv("c1", "$.a_empty_array")} IS NULL) AS n_earr,
                count(*) FILTER (WHERE ${djv("c1", "$.a_array")} IS NULL) AS n_arr,
                count(*) FILTER (WHERE ${djv("c1", "$.a_null")} IS NULL) AS n_null,
                count(*) FILTER (WHERE ${djv("c1", "$")} IS NULL) AS n_root
         FROM test_json_cols"""),

    // func_json_value.01 A006/A102: a non-JSON string is itself a scalar at
    // '$'; a numeric string extracts as its value
    gj("q_qa_json_value_scalar_self",
      """SELECT rid,
                JSON_VALUE('ABCD', '$') AS lit_self,
                JSON_VALUE(s_str, '$') AS s_self,
                JSON_VALUE(CAST(s_num_int AS STRING), '$' RETURNING BIGINT) AS i_self,
                JSON_VALUE(s_str, '$.') AS dot_self,
                JSON_VALUE(c1, '$.') AS dot_obj
         FROM test_json_cols ORDER BY rid""",
      """SELECT rid,
                'ABCD' AS lit_self,
                s_str AS s_self,
                s_num_int AS i_self,
                s_str AS dot_self,
                CAST(NULL AS VARCHAR) AS dot_obj
         FROM test_json_cols ORDER BY rid"""),

    // func_json_value.04: RETURNING with a non-coercible target type → NULL
    gj("q_qa_json_value_returning_badtype",
      """SELECT rid,
                JSON_VALUE(c1, '$.a_str' RETURNING BIGINT) AS str_as_int,
                JSON_VALUE(c1, '$.a_num_float' RETURNING DOUBLE) AS f_dbl,
                CAST(JSON_VALUE(c1, '$.a_bool' RETURNING BOOLEAN) AS STRING) AS b_bool,
                JSON_VALUE(c1, '$.a_num_int' RETURNING DOUBLE) AS i_dbl
         FROM test_json_cols ORDER BY rid""",
      """SELECT rid,
                TRY_CAST(json_extract_string(c1, '$.a_str') AS BIGINT) AS str_as_int,
                CAST(json_extract_string(c1, '$.a_num_float') AS DOUBLE) AS f_dbl,
                CAST(CAST(json_extract_string(c1, '$.a_bool') AS BOOLEAN) AS VARCHAR) AS b_bool,
                CAST(json_extract_string(c1, '$.a_num_int') AS DOUBLE) AS i_dbl
         FROM test_json_cols ORDER BY rid"""),

    // func_json_query.01-.03: JSON_QUERY returns the subtree text (objects,
    // empty containers, array elements; missing → NULL) — and for SCALAR
    // paths the JSON-serialized value: strings KEEP their quotes (A045
    // prints "A"), numbers/booleans print bare, JSON null literal → NULL
    gj("q_qa_json_query_subtree",
      """SELECT rid,
                JSON_QUERY(c1, '$.a_obj.a_obj') AS q_deep,
                JSON_QUERY(c1, '$.a_empty_obj') AS q_eobj,
                JSON_QUERY(c1, '$.a_empty_array') AS q_earr,
                JSON_QUERY(c1, '$.a_array[1]') AS q_elem,
                JSON_QUERY(c1, '$.zzz') AS q_missing,
                JSON_QUERY(c1, '$.a_str') AS q_str,
                JSON_QUERY(c1, '$.a_num_int') AS q_num,
                JSON_QUERY(c1, '$.a_bool') AS q_bool,
                JSON_QUERY(c1, '$.a_null') AS q_jnull,
                JSON_QUERY(s_str, '$') AS q_root_scalar
         FROM test_json_cols ORDER BY rid""",
      """SELECT rid,
                CAST(json_extract(c1, '$.a_obj.a_obj') AS VARCHAR) AS q_deep,
                CAST(json_extract(c1, '$.a_empty_obj') AS VARCHAR) AS q_eobj,
                CAST(json_extract(c1, '$.a_empty_array') AS VARCHAR) AS q_earr,
                CAST(json_extract(c1, '$.a_array[1]') AS VARCHAR) AS q_elem,
                CAST(json_extract(c1, '$.zzz') AS VARCHAR) AS q_missing,
                CAST(json_extract(c1, '$.a_str') AS VARCHAR) AS q_str,
                CAST(json_extract(c1, '$.a_num_int') AS VARCHAR) AS q_num,
                CAST(json_extract(c1, '$.a_bool') AS VARCHAR) AS q_bool,
                CASE WHEN json_type(c1, '$.a_null') = 'NULL' THEN NULL
                     ELSE CAST(json_extract(c1, '$.a_null') AS VARCHAR)
                END AS q_jnull,
                CASE WHEN s_str IS NULL THEN NULL
                     ELSE '"' || s_str || '"' END AS q_root_scalar
         FROM test_json_cols ORDER BY rid"""),

    // func_json_keys.01/.02: keys of root / nested / empty objects; scalar
    // paths and missing paths → NULL
    gj("q_qa_json_keys",
      """SELECT rid,
                array_join(array_sort(JSON_KEYS(c1, '$')), '|') AS k_root,
                array_join(array_sort(JSON_KEYS(c1, '$.a_obj')), '|') AS k_obj,
                array_join(array_sort(JSON_KEYS(c1, '$.a_empty_obj')), '|') AS k_eobj,
                array_join(array_sort(JSON_KEYS(c1, '$.a_str')), '|') AS k_scalar
         FROM test_json_cols ORDER BY rid""",
      """SELECT rid,
                array_to_string(list_sort(json_keys(c1)), '|') AS k_root,
                CASE WHEN json_type(c1, '$.a_obj') = 'OBJECT'
                     THEN array_to_string(list_sort(json_keys(c1, '$.a_obj')), '|')
                END AS k_obj,
                CASE WHEN json_type(c1, '$.a_empty_obj') = 'OBJECT'
                     THEN coalesce(array_to_string(
                       list_sort(json_keys(c1, '$.a_empty_obj')), '|'), '')
                END AS k_eobj,
                CASE WHEN json_type(c1, '$.a_str') = 'OBJECT'
                     THEN array_to_string(list_sort(json_keys(c1, '$.a_str')), '|')
                END AS k_scalar
         FROM test_json_cols ORDER BY rid"""),

    // func_json_keys.02 A053/A058: JSON_KEYS over ARRAY paths — an array
    // value enumerates its INDEXES as string keys ('0','1'), an
    // array-indexed path steps into the element object, empty containers
    // give [], out-of-bounds and wrong-vintage paths give NULL
    gj("q_qa_json_keys_arrays",
      """SELECT rid,
                array_join(JSON_KEYS(c1, '$.a_array'), '|') AS k_arr,
                array_join(array_sort(JSON_KEYS(c1, '$.a_obj.a_array[0]')), '|') AS k_idx0,
                array_join(array_sort(JSON_KEYS(c1, '$.a_array[1]')), '|') AS k_idx1,
                array_join(JSON_KEYS(c1, '$.a_array[5]'), '|') AS k_oob,
                array_join(JSON_KEYS(c1, '$.a_empty_array'), '|') AS k_earr,
                array_join(JSON_KEYS(c1, '$.b_array'), '|') AS k_barr
         FROM test_json_cols ORDER BY rid""",
      s"""SELECT rid,
                 ${djk("c1", "$.a_array")} AS k_arr,
                 ${djk("c1", "$.a_obj.a_array[0]")} AS k_idx0,
                 ${djk("c1", "$.a_array[1]")} AS k_idx1,
                 ${djk("c1", "$.a_array[5]")} AS k_oob,
                 ${djk("c1", "$.a_empty_array")} AS k_earr,
                 ${djk("c1", "$.b_array")} AS k_barr
          FROM test_json_cols ORDER BY rid"""),

    // func_json_paths.01: top-level path enumeration
    // func_json_keys.03 A117/A118: the KEY ARRAY itself as a GROUP BY key
    // with array_contains HAVING — and '$.' as a root-path alias
    gj("q_qa_json_keys_group",
      """SELECT array_join(array_sort(mycol), '|') AS k, CAST(count(*) AS BIGINT) AS c
         FROM (SELECT JSON_KEYS(c1, '$.') AS mycol FROM test_json_cols)
         GROUP BY mycol
         HAVING array_contains(mycol, 'a_str')""",
      """SELECT array_to_string(list_sort(mycol), '|') AS k, count(*) AS c
         FROM (SELECT json_keys(c1) AS mycol FROM test_json_cols)
         GROUP BY mycol
         HAVING list_contains(mycol, 'a_str')"""),

    // func_json_paths.01 A001/A033/A044: RECURSIVE leaf enumeration — nested
    // object and array-index leaves, the empty ARRAY as its own leaf, the
    // empty OBJECT contributing nothing, scalar/NULL input → ['$']. The
    // fixture is static, so the oracle states the reference-rule path sets
    // literally per row vintage (like the .iq expected blocks).
    gj("q_qa_json_paths_top",
      """SELECT rid,
                array_join(array_sort(JSON_PATHS(c1)), '|') AS p_c1,
                array_join(array_sort(JSON_PATHS(c2)), '|') AS p_c2,
                array_join(array_sort(JSON_PATHS(JSON_QUERY(c1, '$.a_obj.a_array'))), '|') AS p_sub,
                array_join(JSON_PATHS(s_str), '|') AS p_scalar
         FROM test_json_cols ORDER BY rid""",
      """SELECT rid,
                CASE WHEN rid <= 2
                  THEN '$.a_array[0].a_num_int|$.a_array[0].a_str|$.a_array[1].a_num_int|$.a_array[1].a_str|$.a_bool|$.a_empty_array|$.a_null|$.a_num_float|$.a_num_int|$.a_obj.a_array[0].a_num_int|$.a_obj.a_array[0].a_str|$.a_obj.a_array[1].a_num_int|$.a_obj.a_array[1].a_str|$.a_obj.a_num_int|$.a_obj.a_obj.a_num_int|$.a_obj.a_obj.a_str|$.a_obj.a_str|$.a_str'
                  ELSE '$.b_array[0].b_num_int|$.b_array[0].b_str|$.b_array[1].b_num_int|$.b_array[1].b_str|$.b_bool|$.b_empty_array|$.b_null|$.b_num_float|$.b_num_int|$.b_obj.b_array[0].b_num_int|$.b_obj.b_array[0].b_str|$.b_obj.b_array[1].b_num_int|$.b_obj.b_array[1].b_str|$.b_obj.b_num_int|$.b_obj.b_obj.b_num_int|$.b_obj.b_obj.b_str|$.b_obj.b_str|$.b_str'
                END AS p_c1,
                CASE WHEN rid <= 2
                  THEN '$.a_bool|$.a_null|$.a_num_float|$.a_num_int|$.a_str'
                  ELSE '$.b_bool|$.b_null|$.b_num_float|$.b_num_int|$.b_str'
                END AS p_c2,
                CASE WHEN rid <= 2
                  THEN '$[0].a_num_int|$[0].a_str|$[1].a_num_int|$[1].a_str'
                  ELSE '$'
                END AS p_sub,
                '$' AS p_scalar
         FROM test_json_cols ORDER BY rid"""),

    // func_json_object.01: construct + extract round-trip
    gj("q_qa_json_object_roundtrip",
      """SELECT rid,
                JSON_OBJECT('k', coalesce(JSON_VALUE(c1, '$.a_str'), 'none')) AS obj,
                JSON_VALUE(JSON_OBJECT('k',
                  coalesce(JSON_VALUE(c1, '$.a_str'), 'none')), '$.k') AS back
         FROM test_json_cols ORDER BY rid""",
      s"""SELECT rid,
                CAST(json_object('k',
                  coalesce(${djv("c1", "$.a_str")}, 'none')) AS VARCHAR) AS obj,
                coalesce(${djv("c1", "$.a_str")}, 'none') AS back
         FROM test_json_cols ORDER BY rid"""),

    // func_parse_json.01 / func_to_json_string.01 / func_try_parse_json.01:
    // canonical re-serialization (literal keys pre-sorted so both engines'
    // key orders agree), content-preserving round-trip over a column,
    // malformed input → NULL only through TRY_
    gj("q_qa_json_parse_roundtrip",
      """SELECT rid,
                TO_JSON_STRING(PARSE_JSON('{"arr":[1,2],"n":null,"x":1,"y":"z"}')) AS lit_rt,
                JSON_VALUE(TO_JSON_STRING(PARSE_JSON(c2)), '$.a_num_float' RETURNING DOUBLE) AS c2_rt_f,
                JSON_VALUE(TO_JSON_STRING(PARSE_JSON(c2)), '$.a_str') AS c2_rt_s,
                CASE WHEN TRY_PARSE_JSON('{bad json') IS NULL THEN 1 ELSE 0 END AS bad_null,
                TO_JSON_STRING('abc') AS str_ser,
                TO_JSON_STRING('a"b\\c') AS str_esc,
                TO_JSON_STRING('1234') AS lit_num_str,
                TO_JSON_STRING('"This is My Key"') AS lit_quoted,
                TO_JSON_STRING(1234) AS lit_num,
                TO_JSON_STRING(0.1D + 0.1D) AS lit_sum,
                JSON_VALUE(c1, '$.a_str' RETURNING VARCHAR NULL ON EMPTY NULL ON ERROR) AS jv_onempty
         FROM test_json_cols ORDER BY rid""",
      """SELECT rid,
                '{"arr":[1,2],"n":null,"x":1,"y":"z"}' AS lit_rt,
                CAST(json_extract_string(c2, '$.a_num_float') AS DOUBLE) AS c2_rt_f,
                json_extract_string(c2, '$.a_str') AS c2_rt_s,
                CASE WHEN TRY_CAST('{bad json' AS JSON) IS NULL THEN 1 ELSE 0 END AS bad_null,
                '"abc"' AS str_ser,
                '"a\"b\\c"' AS str_esc,
                '"1234"' AS lit_num_str,
                '"\"This is My Key\""' AS lit_quoted,
                '1234' AS lit_num,
                '0.2' AS lit_sum,
                json_extract_string(c1, '$.a_str') AS jv_onempty
         FROM test_json_cols ORDER BY rid"""),

    // qaSql aggr_general: JSON functions COMPOSED over EARLIEST/LATEST
    // outputs ('1'||earliest(x), json_value(earliest(agent), '$.type')) —
    // the first/last aggregate carries the JSON text and the path function
    // runs on the aggregated value
    gj("q_qa_json_over_earliest",
      """SELECT concat('1', JSON_VALUE(EARLIEST(c1), '$.a_str')) AS e_str,
                concat('1', JSON_VALUE(LATEST(c1), '$.b_str')) AS l_str,
                JSON_VALUE(EARLIEST(c1), '$.a_num_int' RETURNING BIGINT) AS e_int,
                (JSON_VALUE(LATEST(c1), '$.a_str') IS NULL) AS l_miss
         FROM test_json_cols""",
      """SELECT '1A' AS e_str, '1B' AS l_str, 1::BIGINT AS e_int,
                TRUE AS l_miss"""),

    // datatype_sql: JSON_VALUE results as first-class grouping keys
    gj("q_qa_json_filter_groupby",
      """SELECT JSON_VALUE(c1, '$.a_str') AS g, count(*) AS cnt,
                sum(JSON_VALUE(c1, '$.a_num_int' RETURNING BIGINT)) AS s
         FROM test_json_cols GROUP BY JSON_VALUE(c1, '$.a_str')
         ORDER BY g NULLS FIRST""",
      s"""SELECT ${djv("c1", "$.a_str")} AS g, count(*) AS cnt,
                CAST(sum(CAST(json_extract_string(c1, '$$.a_num_int') AS BIGINT)) AS BIGINT) AS s
         FROM test_json_cols GROUP BY 1
         ORDER BY g NULLS FIRST"""),

    // datatype_comp_ops: typed JSON_VALUE in comparisons, arithmetic,
    // BETWEEN, IN, boolean contexts (NULL rows drop out of every filter)
    gj("q_qa_json_comp_ops",
      """SELECT
           count(*) FILTER (WHERE JSON_VALUE(c1, '$.a_num_int' RETURNING BIGINT) = 1) AS eq1,
           count(*) FILTER (WHERE JSON_VALUE(c1, '$.a_num_int' RETURNING BIGINT) <> 1) AS ne1,
           count(*) FILTER (WHERE JSON_VALUE(c1, '$.a_num_int' RETURNING BIGINT) + 1 = 2) AS plus1,
           count(*) FILTER (WHERE JSON_VALUE(c1, '$.a_num_float' RETURNING DOUBLE)
                              BETWEEN 0.05 AND 0.15) AS btw,
           count(*) FILTER (WHERE JSON_VALUE(c1, '$.a_str') IN ('A', 'B')) AS in_ab,
           count(*) FILTER (WHERE JSON_VALUE(c1, '$.a_bool' RETURNING BOOLEAN)) AS is_true
         FROM test_json_cols""",
      """SELECT
           count(*) FILTER (WHERE TRY_CAST(json_extract_string(c1, '$.a_num_int') AS BIGINT) = 1) AS eq1,
           count(*) FILTER (WHERE TRY_CAST(json_extract_string(c1, '$.a_num_int') AS BIGINT) <> 1) AS ne1,
           count(*) FILTER (WHERE TRY_CAST(json_extract_string(c1, '$.a_num_int') AS BIGINT) + 1 = 2) AS plus1,
           count(*) FILTER (WHERE TRY_CAST(json_extract_string(c1, '$.a_num_float') AS DOUBLE)
                              BETWEEN 0.05 AND 0.15) AS btw,
           count(*) FILTER (WHERE json_extract_string(c1, '$.a_str') IN ('A', 'B')) AS in_ab,
           count(*) FILTER (WHERE TRY_CAST(json_extract_string(c1, '$.a_bool') AS BOOLEAN)) AS is_true
         FROM test_json_cols"""),

    // the b_* key vintage: same paths against structurally-different rows
    gj("q_qa_json_value_b_vintage",
      """SELECT rid,
                JSON_VALUE(c1, '$.b_str') AS b_str,
                JSON_VALUE(c1, '$.b_obj.b_num_int' RETURNING BIGINT) AS b_int,
                JSON_VALUE(c1, '$.b_array[0].b_str') AS b0,
                JSON_VALUE(c2, '$.b_num_float' RETURNING DOUBLE) AS b_f
         FROM test_json_cols ORDER BY rid""",
      s"""SELECT rid,
                ${djv("c1", "$.b_str")} AS b_str,
                CAST(json_extract_string(c1, '$$.b_obj.b_num_int') AS BIGINT) AS b_int,
                ${djv("c1", "$.b_array[0].b_str")} AS b0,
                CAST(json_extract_string(c2, '$$.b_num_float') AS DOUBLE) AS b_f
         FROM test_json_cols ORDER BY rid"""),

    // ------------------------------------------- round-14 qaJsonCols ----
    // func_json_value.03: RETURNING across nested/array paths — a STRING
    // leaf under RETURNING BIGINT is NULL, array-index paths type, the
    // CAST(JSON_VALUE(…)) spelling is equivalent, a scalar column is its
    // own '$' document
    gj("q_qa_json_value_typed_paths",
      """SELECT rid,
                JSON_VALUE(c1, '$.a_obj.a_str' RETURNING BIGINT) AS v_str_int,
                JSON_VALUE(c1, '$.a_array[0].a_num_int' RETURNING BIGINT) AS v_arr0,
                JSON_VALUE(c1, '$.a_array[1].a_str') AS v_arr1,
                JSON_VALUE(CAST(s_num_int AS STRING), '$') AS v_self,
                CAST(JSON_VALUE(c1, '$.a_num_int') AS BIGINT) AS v_cast,
                JSON_VALUE(c1, '$.a_num_float' RETURNING DOUBLE) AS v_dbl
         FROM test_json_cols ORDER BY rid""",
      s"""SELECT rid,
                TRY_CAST(json_extract_string(c1, '$$.a_obj.a_str') AS BIGINT) AS v_str_int,
                CAST(json_extract_string(c1, '$$.a_array[0].a_num_int') AS BIGINT) AS v_arr0,
                ${djv("c1", "$.a_array[1].a_str")} AS v_arr1,
                CAST(s_num_int AS VARCHAR) AS v_self,
                CAST(json_extract_string(c1, '$$.a_num_int') AS BIGINT) AS v_cast,
                CAST(json_extract_string(c1, '$$.a_num_float') AS DOUBLE) AS v_dbl
         FROM test_json_cols ORDER BY rid"""),

    // func_json_query.04: COUNT over JSON_QUERY subquery outputs — array /
    // scalar-string / object paths are non-null exactly when present
    // (serialized scalars count; the b-vintage rows don't)
    gj("q_qa_json_query_counts",
      """SELECT CAST(count(*) AS BIGINT) AS c_all,
                CAST(count(JSON_QUERY(c1, '$.a_array')) AS BIGINT) AS c_arr,
                CAST(count(JSON_QUERY(c1, '$.a_obj.a_str')) AS BIGINT) AS c_str,
                CAST(count(JSON_QUERY(c1, '$.a_obj')) AS BIGINT) AS c_obj,
                CAST(count(DISTINCT CAST(JSON_QUERY(c1, '$.a_array') AS STRING)) AS BIGINT) AS d_arr
         FROM test_json_cols""",
      """SELECT CAST(count(*) AS BIGINT) AS c_all,
                CAST(count(json_extract(c1, '$.a_array')) AS BIGINT) AS c_arr,
                CAST(count(json_extract(c1, '$.a_obj.a_str')) AS BIGINT) AS c_str,
                CAST(count(json_extract(c1, '$.a_obj')) AS BIGINT) AS c_obj,
                CAST(count(DISTINCT CAST(json_extract(c1, '$.a_array') AS VARCHAR)) AS BIGINT) AS d_arr
         FROM test_json_cols"""),

    // func_json_paths.02: RECURSIVE leaf enumeration unnested and
    // aggregated — 18 leaves per document (empty objects contribute
    // nothing, the empty array is a single leaf, object arrays recurse per
    // index); oracle pins the derived counts and lexicographic extremes
    gj("q_qa_json_paths_deep",
      """SELECT CAST(count(*) AS BIGINT) AS n_paths,
                CAST(count(DISTINCT p) AS BIGINT) AS n_distinct,
                min(p) AS p_min, max(p) AS p_max
         FROM test_json_cols, UNNEST(JSON_PATHS(c1)) AS t(p)""",
      """SELECT 72::BIGINT AS n_paths, 36::BIGINT AS n_distinct,
                '$.a_array[0].a_num_int' AS p_min, '$.b_str' AS p_max"""),

    // func_json_object.03: Calcite KEY…VALUE and colon syntaxes; a
    // json_query/json_object VALUE EMBEDS as a nested document (the
    // reference's COMPLEX<json> typing), it is not quoted
    gj("q_qa_json_object_syntax",
      """SELECT rid,
                JSON_OBJECT(KEY 'a' VALUE JSON_QUERY(c1, '$.a_obj.a_obj')) AS o_nest,
                JSON_OBJECT('k': JSON_VALUE(c1, '$.a_str'), 'n': s_num_int) AS o_colon,
                JSON_OBJECT(KEY 'o' VALUE JSON_OBJECT(KEY 'b' VALUE 'B')) AS o_oo,
                JSON_OBJECT(KEY 'aaa' VALUE 'A1', KEY 'aaa' VALUE 'A2',
                            KEY 'aaa' VALUE 'A3') AS o_dup,
                JSON_OBJECT(KEY 'a' VALUE TRUE) AS o_bool,
                JSON_OBJECT(KEY 'a' VALUE (1 = 2)) AS o_boolf,
                JSON_OBJECT(KEY 'a' VALUE __time) AS o_time,
                JSON_OBJECT(KEY '"This is My Key"' VALUE 'A') AS o_qkey,
                JSON_OBJECT(KEY 'a' VALUE CAST(NULL AS STRING)) AS o_null
         FROM test_json_cols ORDER BY rid""",
      """SELECT rid,
                concat('{"a":', coalesce(CAST(json_extract(c1, '$.a_obj.a_obj') AS VARCHAR), 'null'), '}') AS o_nest,
                concat('{"k":',
                  CASE WHEN json_extract_string(c1, '$.a_str') IS NULL THEN 'null'
                       ELSE to_json(json_extract_string(c1, '$.a_str')) END,
                  ',"n":', coalesce(CAST(s_num_int AS VARCHAR), 'null'), '}') AS o_colon,
                '{"o":{"b":"B"}}' AS o_oo,
                '{"aaa":"A3"}' AS o_dup,
                '{"a":1}' AS o_bool,
                '{"a":0}' AS o_boolf,
                concat('{"a":', CAST(epoch_ms(__time) AS VARCHAR), '}') AS o_time,
                '{"\"This is My Key\"":"A"}' AS o_qkey,
                '{"a":null}' AS o_null
         FROM test_json_cols ORDER BY rid"""),

    // func_try_parse_json.02: TRY_ is NULL on malformed text, parses real
    // documents (including the full nested fixture)
    gj("q_qa_json_try_parse",
      """SELECT rid,
                CAST(TRY_PARSE_JSON('not json') AS STRING) AS bad,
                CAST(TRY_PARSE_JSON('{"z": 1}') AS STRING) AS ok,
                (TRY_PARSE_JSON(c1) IS NOT NULL) AS parses
         FROM test_json_cols ORDER BY rid""",
      """SELECT rid, CAST(NULL AS VARCHAR) AS bad,
                '{"z":1}' AS ok, true AS parses
         FROM test_json_cols ORDER BY rid"""),

    // datatype_sql A001-A005: JSON columns under IS [NOT] NULL and
    // SELECT ALL subquery passthrough
    gj("q_qa_json_datatype_sql",
      """SELECT CAST(count(*) FILTER (WHERE c1 IS NULL) AS BIGINT) AS n_null,
                CAST(count(*) FILTER (WHERE c1 IS NOT NULL) AS BIGINT) AS n_notnull,
                (SELECT CAST(count(*) AS BIGINT)
                 FROM (SELECT ALL c1 FROM test_json_cols)) AS n_subq
         FROM test_json_cols""",
      """SELECT CAST(count(*) FILTER (WHERE c1 IS NULL) AS BIGINT) AS n_null,
                CAST(count(*) FILTER (WHERE c1 IS NOT NULL) AS BIGINT) AS n_notnull,
                (SELECT CAST(count(*) AS BIGINT)
                 FROM (SELECT ALL c1 FROM test_json_cols)) AS n_subq
         FROM test_json_cols"""),

    // func_json_value.01 A042-A047 / .02 A086 / .02 A058-A064: JSON_VALUE
    // passes PRIMITIVE arrays through (the empty array included) while
    // objects and container-bearing arrays stay NULL; booleans coerce 1/0
    // (.03 A127: a_bool → 1, ExprEval.bestEffortOf long coercion)
    gj("q_qa_json_value_prim_array",
      """SELECT rid,
                JSON_VALUE(c1, '$.a_empty_array') AS v_earr,
                JSON_VALUE(c1, '$.a_empty_obj') AS v_eobj,
                JSON_VALUE('[1,0,null]', '$') AS v_prim,
                JSON_VALUE('[{},[],null]', '$[1]') AS v_mid_empty,
                JSON_VALUE('[{},[],null]', '$[0]') AS v_mid_obj,
                JSON_VALUE('[{},[],null]', '$[2]') AS v_mid_null,
                JSON_VALUE('[{},[],null]', '$') AS v_mixed,
                JSON_VALUE(c1, '$.a_bool') AS v_bool
         FROM test_json_cols ORDER BY rid""",
      """SELECT rid,
                CASE WHEN rid <= 2 THEN '[]' END AS v_earr,
                CAST(NULL AS VARCHAR) AS v_eobj,
                '[1,0,null]' AS v_prim,
                '[]' AS v_mid_empty,
                CAST(NULL AS VARCHAR) AS v_mid_obj,
                CAST(NULL AS VARCHAR) AS v_mid_null,
                CAST(NULL AS VARCHAR) AS v_mixed,
                CASE WHEN rid <= 2 THEN '1' END AS v_bool
         FROM test_json_cols ORDER BY rid"""),

    // func_json_query.03 A100/A110-A112 vs func_json_value.02 A069/A077:
    // '$.'-root is the whole document for JSON_QUERY; negative array
    // indexes address from the end in JSON_QUERY but are NULL in
    // JSON_VALUE (literal paths plan onto the nested-field virtual
    // column, which has no negative element fields)
    gj("q_qa_json_query_edges",
      """SELECT rid,
                strlen(JSON_QUERY(c1, '$.')) AS q_dotroot_len,
                JSON_QUERY(s_str, '$.') AS q_dotroot_scalar,
                JSON_QUERY(c1, '$.a_array[-1].a_str') AS q_neg1,
                JSON_QUERY(c1, '$.a_array[-2].a_num_int') AS q_neg2,
                JSON_QUERY(c1, '$.a_array[-9].a_str') AS q_negoor,
                JSON_VALUE(c1, '$.a_array[-1].a_str') AS v_neg1,
                JSON_QUERY(c1, '$.a_array[1].a_str') AS q_pos
         FROM test_json_cols ORDER BY rid""",
      """SELECT rid,
                CAST(strlen(c1::JSON::VARCHAR) AS INTEGER) AS q_dotroot_len,
                CASE WHEN rid <= 2 THEN '"A"' END AS q_dotroot_scalar,
                CASE WHEN rid <= 2 THEN '"A2"' END AS q_neg1,
                CASE WHEN rid <= 2 THEN '1' END AS q_neg2,
                CAST(NULL AS VARCHAR) AS q_negoor,
                CAST(NULL AS VARCHAR) AS v_neg1,
                CASE WHEN rid <= 2 THEN '"A2"' END AS q_pos
         FROM test_json_cols ORDER BY rid"""),

    // NestedPathFinder.parseJsonPath quoted-field grammar: $['name'] ≡
    // $.name for value/query/keys (the slice/union/double-dot rejections
    // are spec-tested — they raise, which a result gate can't pin)
    gj("q_qa_json_path_quoted_field",
      """SELECT rid,
                JSON_VALUE(c1, '$[''a_str'']') AS v_q,
                JSON_VALUE(c1, '$[''a_obj''][''a_obj''].a_str') AS v_deep,
                JSON_QUERY(c1, '$[''a_empty_obj'']') AS q_eobj,
                array_join(JSON_KEYS(c1, '$[''a_obj'']'), '|') AS k_obj
         FROM test_json_cols ORDER BY rid""",
      """SELECT rid,
                CASE WHEN rid <= 2 THEN 'A' END AS v_q,
                CASE WHEN rid <= 2 THEN 'AA' END AS v_deep,
                CASE WHEN rid <= 2 THEN '{}' END AS q_eobj,
                CASE WHEN rid <= 2 THEN 'a_str|a_num_int|a_obj|a_array' END AS k_obj
         FROM test_json_cols ORDER BY rid"""),

    // ------------------------------------------- round-14 qaAggFuncs ----
    // string_agg_string_test003 A10/A12: the 3-arg maxBytes form, DISTINCT
    // under it, composition determinism via the all-equal filter
    gf("q_qa_aggfuncs_string_agg_sized",
      """SELECT string_agg(tab0s0, ',') AS all_a,
                string_agg(DISTINCT tab0s0, '|', 100000) AS dist_a,
                strlen(string_agg(DISTINCT tab0s0, '|', 100000)) AS len_dist
         FROM test_agg_funcs WHERE tab0s0 = 'AAAAAAAAAA'""",
      """SELECT string_agg(tab0s0, ',') AS all_a,
                string_agg(DISTINCT tab0s0, '|') AS dist_a,
                CAST(strlen(string_agg(DISTINCT tab0s0, '|')) AS INTEGER) AS len_dist
         FROM test_agg_funcs WHERE tab0s0 = 'AAAAAAAAAA'"""),

    // string_agg_double/long: numeric columns string-render through the
    // aggregate; the all-equal FILTER keeps element order irrelevant
    gf("q_qa_aggfuncs_string_agg_numeric",
      """SELECT strlen(string_agg(CAST(tab0d0 AS STRING), ';')) AS len_d,
                string_agg(CAST(tab0d0 AS STRING), ',')
                  FILTER (WHERE tab0l0 = 1111111111) AS d_a,
                string_agg(CAST(tab0l0 AS STRING), '|')
                  FILTER (WHERE tab0l0 = 2222222222) AS l_b
         FROM test_agg_funcs""",
      """SELECT CAST(strlen(string_agg(CAST(tab0d0 AS VARCHAR), ';')) AS INTEGER) AS len_d,
                string_agg(CAST(tab0d0 AS VARCHAR), ',')
                  FILTER (WHERE tab0l0 = 1111111111) AS d_a,
                string_agg(CAST(tab0l0 AS VARCHAR), '|')
                  FILTER (WHERE tab0l0 = 2222222222) AS l_b
         FROM test_agg_funcs"""),

    // string_agg_string_test003 A10/A11: aggregates COMPOSED through
    // textcat / string_format
    gf("q_qa_aggfuncs_composed",
      """SELECT TEXTCAT(string_agg(tab0s0, ','),
                        string_agg(DISTINCT tab0s0, '|', 100000)) AS cat,
                STRING_FORMAT('%s-%s',
                  string_agg(DISTINCT tab0s0, ',', 100000),
                  string_agg(tab0s0, '|')) AS fmt
         FROM test_agg_funcs WHERE tab0s0 = 'AAAAAAAAAA'""",
      """SELECT concat(string_agg(tab0s0, ','),
                       string_agg(DISTINCT tab0s0, '|')) AS cat,
                concat(string_agg(DISTINCT tab0s0, ','), '-',
                       string_agg(tab0s0, '|')) AS fmt
         FROM test_agg_funcs WHERE tab0s0 = 'AAAAAAAAAA'"""),

    // aggregates over an EMPTY filtered input: string_agg/array_agg/sum →
    // NULL, count → 0
    gf("q_qa_aggfuncs_empty_input",
      """SELECT string_agg(tab0s0, '|') AS sa,
                array_length(array_agg(tab0l0)) AS aa_len,
                CAST(sum(tab0l0) AS BIGINT) AS s,
                CAST(count(*) AS BIGINT) AS c
         FROM test_agg_funcs WHERE tab0s0 = 'ZZZ'""",
      """SELECT string_agg(tab0s0, '|') AS sa,
                CAST(len(array_agg(tab0l0)) AS INTEGER) AS aa_len,
                CAST(sum(tab0l0) AS BIGINT) AS s,
                CAST(count(*) AS BIGINT) AS c
         FROM test_agg_funcs WHERE tab0s0 = 'ZZZ'"""),

    // aggregates of EXPRESSION arguments
    gf("q_qa_aggfuncs_expr_args",
      """SELECT strlen(string_agg(concat(upper(tab0s0),
                  CAST(length(tab0s0) AS STRING)), '|')) AS len_e,
                CAST(sum(length(tab0s0)) AS BIGINT) AS s_len,
                CAST(count(DISTINCT substring(tab0s0, 1, 1)) AS BIGINT) AS n_first
         FROM test_agg_funcs""",
      """SELECT CAST(strlen(string_agg(upper(tab0s0) ||
                  CAST(length(tab0s0) AS VARCHAR), '|')) AS INTEGER) AS len_e,
                CAST(sum(length(tab0s0)) AS BIGINT) AS s_len,
                CAST(count(DISTINCT substring(tab0s0, 1, 1)) AS BIGINT) AS n_first
         FROM test_agg_funcs"""),

    // {string,array}_agg_timestamp: DISTINCT timestamp aggregation and its
    // string rendering
    gf("q_qa_aggfuncs_timestamp_distinct",
      """SELECT CAST(count(DISTINCT __time) AS BIGINT) AS n_ts,
                strlen(string_agg(DISTINCT CAST(__time AS STRING), '|', 100000)) AS len_ts,
                array_length(array_agg(DISTINCT __time)) AS aa_n
         FROM test_agg_funcs""",
      """SELECT CAST(count(DISTINCT __time) AS BIGINT) AS n_ts,
                CAST(strlen(string_agg(DISTINCT CAST(__time AS VARCHAR), '|')) AS INTEGER) AS len_ts,
                CAST(len(array_agg(DISTINCT __time)) AS INTEGER) AS aa_n
         FROM test_agg_funcs"""),

    // array_agg_double_test002/003/004: the DISTINCT and DISTINCT+maxBytes
    // and maxBytes-only forms COMPOSED into array fns (append / concat /
    // whole-array contains / agg-vs-agg overlap / offset_of with a
    // single-survivor filter for order determinism) — every probe is
    // order-insensitive or filter-pinned, like the corpus wraps them
    gf("q_qa_aggfuncs_array_agg_composed",
      """SELECT array_length(array_append(array_agg(DISTINCT tab0d0), 333.3333333D)) AS n_app,
                array_contains(array_append(array_agg(DISTINCT tab0d0, 100000), 333.3333333D),
                               333.3333333D) AS app_has,
                array_length(array_concat(array_agg(DISTINCT tab0d0, 100000),
                                          array_agg(DISTINCT tab0d0, 100000))) AS n_cat,
                array_contains(array_agg(DISTINCT tab0d0, 100000),
                               array(111.1111111D, 222.2222222D)) AS has_both,
                array_contains(array_agg(DISTINCT tab0d0), array(111.1111111D, 333.3333333D)) AS has_13,
                array_overlap(array_agg(DISTINCT tab0d0, 100000),
                              array_agg(tab0d0, 2147483647)) AS ovl_self,
                (SELECT array_offset_of(array_agg(DISTINCT tab0d0, 100000), 222.2222222D)
                 FROM test_agg_funcs WHERE tab0d0 > 150) AS off_pin,
                (SELECT array_ordinal_of(array_agg(DISTINCT tab0d0), 222.2222222D)
                 FROM test_agg_funcs WHERE tab0d0 > 150) AS ord_pin
         FROM test_agg_funcs""",
      """SELECT CAST(len(list_append(list(DISTINCT tab0d0), 333.3333333)) AS INTEGER) AS n_app,
                list_contains(list_append(list(DISTINCT tab0d0), 333.3333333),
                              333.3333333) AS app_has,
                CAST(len(list(DISTINCT tab0d0)) * 2 AS INTEGER) AS n_cat,
                list_has_all(list(DISTINCT tab0d0), [111.1111111, 222.2222222]) AS has_both,
                list_has_all(list(DISTINCT tab0d0), [111.1111111, 333.3333333]) AS has_13,
                len(list_intersect(list(DISTINCT tab0d0), list(tab0d0))) > 0 AS ovl_self,
                (SELECT CAST(0 AS INTEGER)
                 FROM test_agg_funcs WHERE tab0d0 > 150 LIMIT 1) AS off_pin,
                (SELECT CAST(1 AS INTEGER)
                 FROM test_agg_funcs WHERE tab0d0 > 150 LIMIT 1) AS ord_pin
         FROM test_agg_funcs"""),

    // ------------------------------------------------- r17 window dialect ----
    // qaWin orderby_rows_0_preceding/1_following A3/A6 grids: an INVERTED
    // literal ROWS frame (lower > upper) is the EMPTY frame — sum NULL,
    // count 0 on every row (Spark rejects the bound pair; the facade
    // rewrites to null-ified args over a single-row frame)
    gf("q_qa_win_empty_frame",
      """SELECT tab0s0,
                sum(tab0l0) OVER (PARTITION BY tab0s0
                  ORDER BY tab0l0, __time
                  ROWS BETWEEN 1 FOLLOWING AND 0 FOLLOWING) AS sv,
                CAST(count(tab0l0) OVER (PARTITION BY tab0s0
                  ORDER BY tab0l0, __time
                  ROWS BETWEEN 0 PRECEDING AND 1 PRECEDING) AS BIGINT) AS cv
         FROM test_agg_funcs""",
      """SELECT tab0s0, NULL::BIGINT AS sv, 0::BIGINT AS cv
         FROM test_agg_funcs"""),
    // qaWin orderby_rows_current_first_last W21/W22: FIRST_VALUE/LAST_VALUE
    // over an UNORDERED window ignore the frame and take the whole
    // partition (reference WindowFirstProcessor) in SEGMENT ROW ORDER —
    // round 20 aligned the scan-fed tie order to the input order
    // (DeterministicWindowOrder rides a monotonic row id, matching the
    // corpus grids and wikipediaScanWindow), so first/last are the
    // partition's first/last INGESTED rows: tab0l0 cycles
    // 1111111111 → 2222222222 → NULL per timestamp, every partition
    // starts at 1111111111 and ends at the null row
    gf("q_qa_win_orderless_firstlast",
      """SELECT DISTINCT tab0s0,
                first_value(tab0l0) OVER (PARTITION BY tab0s0 ROWS CURRENT ROW) AS fv,
                last_value(tab0l0) OVER (PARTITION BY tab0s0 ROWS CURRENT ROW) AS lv
         FROM test_agg_funcs""",
      """SELECT DISTINCT tab0s0, 1111111111::BIGINT AS fv, NULL::BIGINT AS lv
         FROM test_agg_funcs"""),
    // qaWin orderby_range_current W21: a RANGE frame with NO ORDER BY makes
    // every row a peer — the frame is the whole partition
    gf("q_qa_win_range_noorder",
      """SELECT DISTINCT tab0s0,
                CAST(count(tab0l0) OVER (PARTITION BY tab0s0
                  RANGE BETWEEN CURRENT ROW AND CURRENT ROW) AS BIGINT) AS cnt
         FROM test_agg_funcs""",
      """SELECT tab0s0, count(tab0l0) AS cnt FROM test_agg_funcs
         GROUP BY tab0s0"""),
    // BIT_* aggs cast their input LENIENTLY to LONG like the reference's
    // ColumnType.LONG virtual column (qaUnnest array_sql_agg_funcs bit
    // batteries run them over VARCHAR unnest elements)
    gf("q_qa_bit_aggs_lenient",
      """SELECT bit_or(CAST(tab0l0 AS STRING)) AS bo,
                bit_xor(CAST(tab0l0 AS STRING)) AS bx,
                bit_and(CAST(tab0l0 AS STRING)) AS ba
         FROM test_agg_funcs""",
      """SELECT bit_or(tab0l0) AS bo, bit_xor(tab0l0) AS bx,
                bit_and(tab0l0) AS ba
         FROM test_agg_funcs"""),
    // Function.java ArrayOffsetOf/ArrayOrdinalOf Objects.equals probe:
    // STRICTLY typed needle (LONG 1 never matches STRING '1' or DOUBLE
    // 1.0 — ops_funcs_mv_funcs A1_B8_C19/C7), while MV_CONTAINS casts the
    // needle toward the ARRAY's type (A1_B6_C19: a_mixed contains 1)
    ga("q_qa_mv_strict_needle",
      """SELECT CAST(mv_offset_of(a_mixed, 1) AS INT) AS strict_null,
                CAST(mv_offset_of(a_mixed, '1') AS INT) AS str_hit,
                CAST(array_offset_of(a_float, 1) AS INT) AS dbl_null,
                mv_contains(a_mixed, 1) AS lhs_cast,
                mv_contains(a_str, 1) AS miss
         FROM test_array""",
      """SELECT NULL::INTEGER AS strict_null,
                CAST(nullif(list_position(a_mixed, '1'), 0) - 1 AS INTEGER) AS str_hit,
                NULL::INTEGER AS dbl_null,
                true AS lhs_cast, false AS miss
         FROM test_array"""),
    // ARRAY_CONCAT_AGG(DISTINCT …) = sorted distinct element set
    // (array_set_add_all TreeSet fold, nulls first —
    // ops_funcs_agg_funcs A1_B30_C1_D1)
    ga("q_qa_concat_agg_distinct",
      """SELECT array_to_string(array_concat_agg(DISTINCT a_bool), '|') AS col
         FROM test_array""",
      """SELECT 'null|0|1' AS col"""),
    // Calcite coerces a NUMERIC literal toward a VARCHAR column in
    // equality ('AAAAAAAAAA' = 999 is FALSE, so NOT keeps the row —
    // qaUnnest mv_sql_subquery_with_where A1_B8_C9), where Spark's
    // PromoteStrings would cast the column and 3VL-drop it
    gf("q_qa_eq_literal_dialect",
      """SELECT CAST(count(*) FILTER (WHERE NOT tab0s0 = 999) AS BIGINT) AS kept,
                CAST(count(*) FILTER (WHERE tab0s0 = 999) AS BIGINT) AS matched
         FROM test_agg_funcs""",
      """SELECT count(*) FILTER (WHERE NOT tab0s0 = '999') AS kept,
                count(*) FILTER (WHERE tab0s0 = '999') AS matched
         FROM test_agg_funcs"""),
    // datetimes ride the expr layer as LONG millis: STRING_AGG over
    // __time concatenates epoch millis, array_to_string over a timestamp
    // array renders millis (qaAggFuncs string_agg_timestamp_test001-004)
    gf("q_qa_string_agg_time_millis",
      """SELECT string_agg(DISTINCT __time, '|', 100000) AS col,
                array_to_string(array_agg(DISTINCT __time, 100000), '|') AS col2
         FROM test_agg_funcs""",
      """SELECT '1577840461000|1580518861000' AS col,
                '1577840461000|1580518861000' AS col2"""),
    // windows run over the GROUPING SETS output grid (qaWin sql_group_by
    // A2_Q1: the null-filled subtotal rows ARE the window input) — the
    // standard-SQL semantics DuckDB shares, which Spark alone rejects
    // (MISSING_AGGREGATION over grouping-sets columns)
    gf("q_qa_gs_windows",
      """SELECT tab0s0,
                CAST(count(*) OVER (PARTITION BY tab0s0) AS BIGINT) AS peers
         FROM test_agg_funcs
         GROUP BY GROUPING SETS(tab0s0, tab0l0)""",
      """SELECT tab0s0, count(*) OVER (PARTITION BY tab0s0) AS peers
         FROM test_agg_funcs
         GROUP BY GROUPING SETS(tab0s0, tab0l0)"""),
    // …and HAVING filters the grouped rows BEFORE the windows see them
    // (sql_group_by A2_Q3: count over the HAVING survivors)
    gf("q_qa_gs_windows_having",
      """SELECT tab0s0,
                CAST(count(*) OVER () AS BIGINT) AS survivors
         FROM test_agg_funcs
         GROUP BY GROUPING SETS(tab0s0, tab0l0)
         HAVING tab0s0 IS NOT NULL""",
      """SELECT tab0s0, count(*) OVER () AS survivors
         FROM test_agg_funcs
         GROUP BY GROUPING SETS(tab0s0, tab0l0)
         HAVING tab0s0 IS NOT NULL"""),
    // …and plain aggregates MIX with the windows: COUNT(*) computes per
    // group INSIDE the grouping-sets aggregate (as does the count feeding
    // SUM(...) OVER () and the HAVING), never in the decoupled Project
    // (ADVICE r17: the decoupling used to strand them above the Aggregate)
    gf("q_qa_gs_windows_mixed_agg",
      """SELECT tab0s0, CAST(count(*) AS BIGINT) AS c,
                CAST(sum(count(*)) OVER () AS BIGINT) AS s
         FROM test_agg_funcs
         GROUP BY GROUPING SETS(tab0s0, tab0l0)
         HAVING count(*) > 0""",
      """SELECT tab0s0, count(*) AS c, CAST(sum(count(*)) OVER () AS BIGINT) AS s
         FROM test_agg_funcs
         GROUP BY GROUPING SETS(tab0s0, tab0l0)
         HAVING count(*) > 0"""),
    // SQL identifiers are case-insensitive: the select-list/window spelling
    // TAB0S0 must match GROUP BY GROUPING SETS(tab0s0) (ADVICE r17)
    gf("q_qa_gs_windows_case",
      """SELECT TAB0S0 AS g1,
                CAST(count(*) OVER (PARTITION BY TAB0S0) AS BIGINT) AS peers
         FROM test_agg_funcs
         GROUP BY GROUPING SETS(tab0s0, tab0l0)""",
      """SELECT tab0s0 AS g1, count(*) OVER (PARTITION BY tab0s0) AS peers
         FROM test_agg_funcs
         GROUP BY GROUPING SETS(tab0s0, tab0l0)"""),
    // Calcite leading-field precision composes with the QUARTER unit:
    // INTERVAL '2' QUARTER(2) — the QUARTER rewrite consumes the
    // precision (ADVICE r17: it used to leave a dangling `(2)` after
    // `MONTH * 3` that no longer parsed)
    gf("q_qasql_quarter_precision",
      """SELECT CAST(TIMESTAMP '2020-01-01 00:00:00'
                  + INTERVAL '2' QUARTER(2) AS STRING) AS t2,
                CAST(TIMESTAMP '2020-01-01 00:00:00'
                  + INTERVAL '1' QUARTER AS STRING) AS t1""",
      """SELECT CAST(TIMESTAMP '2020-01-01 00:00:00'
                  + INTERVAL 6 MONTH AS VARCHAR) AS t2,
                CAST(TIMESTAMP '2020-01-01 00:00:00'
                  + INTERVAL 3 MONTH AS VARCHAR) AS t1"""),
    // the type-mismatch IN-subquery retry preserves three-valued NOT IN
    // for SCALAR probes (ADVICE r17: the old blanket collect_list overlap
    // dropped the subquery's NULLs, so NOT IN wrongly kept all rows) while
    // the ARRAY probe in the same plan keeps the MVD overlap dialect
    ga("q_qa_notin_null_subq",
      """SELECT CAST(count(*) AS BIGINT) AS mvd_in,
                (SELECT CAST(count(*) AS BIGINT) FROM test_array
                 WHERE CAST(3 AS BIGINT) NOT IN
                   (SELECT a_int[2] FROM test_array)) AS notin_null
         FROM test_array
         WHERE a_int IN (SELECT a_int[0] FROM test_array)""",
      """SELECT count(*) AS mvd_in,
                (SELECT count(*) FROM test_array
                 WHERE 3 NOT IN (SELECT a_int[3] FROM test_array)) AS notin_null
         FROM test_array, (SELECT list(a_int[1]) AS vs FROM test_array) v
         WHERE list_has_any(a_int, v.vs)"""),
    // Calcite star expansion UNIQUIFIES duplicate join output names
    // (SqlValidatorUtil.uniquify — qaArray sql_join A7: the bare name
    // resolves to the FIRST table's column, the second becomes name0),
    // and an UNNEST alias colliding with a table column takes the rename
    ga("q_qa_star_uniquify",
      """SELECT CAST(count(a_bool) AS BIGINT) AS c1_side,
                CAST(count(a_bool0) AS BIGINT) AS c2_side
         FROM (SELECT * FROM test_array t1 CROSS JOIN test_array t2)""",
      """SELECT count(t1.a_bool) AS c1_side, count(t2.a_bool) AS c2_side
         FROM test_array t1 CROSS JOIN test_array t2"""),
    // parse_json groups/compares BY VALUE like the reference's
    // COMPLEX<json> (funcs_and_sql_func_parse_json A043-A046) — routed
    // through the sorted-key canonical text, so the 2 distinct documents
    // group to 2 and self-equality keeps all rows
    ga("q_qa_variant_group",
      """SELECT CAST(count(*) AS BIGINT) AS groups,
                (SELECT CAST(count(*) AS BIGINT) FROM test_array
                 WHERE parse_json(to_json_string(a_nested)) =
                       parse_json(to_json_string(a_nested))) AS self_eq
         FROM (SELECT parse_json(to_json_string(a_nested)) AS mycol
               FROM test_array GROUP BY mycol)""",
      """SELECT (SELECT count(*) FROM
                  (SELECT a_nested FROM test_array GROUP BY a_nested))
                  AS groups,
                count(*) AS self_eq
         FROM test_array WHERE a_nested = a_nested"""),
    // ARRAY_* functions take the scalar-is-a-1-element-MV coercion
    // (qaUnnest mv_sql_array_funcs over the unnested scalar c:
    // array_offset(c, 0) = c, array_concat(c, c) = the 2-element MV,
    // a bare concat would have resolved as STRING concatenation)
    gu("q_qa_scalar_array_fns",
      """SELECT CAST(s_int AS STRING) AS c,
                array_offset(CAST(s_int AS STRING), 0) AS off0,
                array_to_string(
                  array_concat(CAST(s_int AS STRING), CAST(s_int AS STRING)),
                  '|') AS cc,
                array_to_string(
                  array_slice(CAST(s_int AS STRING), 0, 1), '|') AS sl
         FROM test_unnest""",
      """SELECT CAST(s_int AS VARCHAR) AS c,
                CAST(s_int AS VARCHAR) AS off0,
                CAST(s_int AS VARCHAR) || '|' || CAST(s_int AS VARCHAR) AS cc,
                CAST(s_int AS VARCHAR) AS sl
         FROM test_unnest"""),
    // MV_FILTER_ONLY/NONE over the scalar form; LEAST/GREATEST coerce a
    // mixed VARCHAR/numeric argument list to STRING comparison
    gu("q_qa_mvfilter_scalar",
      """SELECT array_to_string(
                  mv_filter_only(CAST(s_int AS STRING), array('1', '9')),
                  ',') AS only_v,
                array_to_string(
                  mv_filter_none(CAST(s_int AS STRING), array('1')),
                  ',') AS none_v,
                greatest(CAST(s_int AS STRING), s_int, '1') AS gr
         FROM test_unnest""",
      """SELECT CASE WHEN s_int = 1 THEN '1' END AS only_v,
                CASE WHEN s_int = 2 THEN '2' END AS none_v,
                greatest(CAST(s_int AS VARCHAR), '1') AS gr
         FROM test_unnest"""),
    // MV_OVERLAP three-valued rule: NULL only from a null PROBE element;
    // a null on the right only matches a null probe (qaUnnest
    // array_sql_mv_funcs A1_B7: mv_overlap('2', NULL) = false,
    // mv_overlap(NULL, NULL) = true, null-carrying lhs miss = NULL)
    ga("q_qa_mv_overlap_nulls",
      """SELECT mv_overlap('2', CAST(NULL AS STRING)) AS rhs_null_miss,
                mv_overlap(CAST(NULL AS STRING), CAST(NULL AS STRING))
                  AS null_match,
                CAST(mv_overlap(a_str, array('ZZ')) AS INT) AS probe_null
         FROM test_array""",
      """SELECT false AS rhs_null_miss, true AS null_match,
                NULL::INTEGER AS probe_null
         FROM test_array"""))
}
