package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Wholesale port of the reference's five remaining Drill window-function
  * corpus directories —
  * `sql/src/test/resources/drill/window/queries/{lead_func (106 .q),
  * lag_func (110), ntile_func (59), first_val (33), last_val (39)}` — the
  * offset/rank-function matrices the frameclause/aggregates batteries
  * (DrillFrameclause/DrillAggregates) don't reach.
  *
  * The corpus enumerates each function over every column type of
  * `allTypsUniq.parquet` (int / bigint / float / double / time / timestamp
  * / date / boolean / string ×2 — in the reference's port the temporal
  * columns are BIGINT epoch millis compared via
  * TIMESTAMP_TO_MILLIS(TIME_PARSE(...))) and `fewRowsAllData.parquet`,
  * under the shapes: `F(col) OVER (PARTITION BY bool ORDER BY col)` per
  * type; explicit `,1` offsets (the only offset the corpus uses);
  * `nulls FIRST|LAST` and `desc` order variants; windows inside
  * subqueries with outer filters on the windowed alias (`IN`,
  * `IS NOT NULL`); WHERE `IN`/`NOT IN`/range filters under the window;
  * `FETCH FIRST n ROWS ONLY`; a no-partition global window; LEAD and LAG
  * interleaved with different order keys (lag_Fn_77); and `ORDER BY
  * NTILE(...)` in the outer query (ntileFn_33).
  *
  * One inline fixture reproduces the structure: a 3-value boolean
  * partition column (true / false / NULL — allTypsUniq partitions on
  * col7), every orderable column UNIQUE within its partition (so
  * LAG/LEAD/NTILE orderings are total and the gates hash-stable — the
  * 145-row originals rely on Drill's unstable tie order, which no
  * cross-engine harness can pin), at most one NULL per column per
  * partition, and state-code strings with cross-partition duplicates for
  * the IN-filter shapes. DuckDB defaults differ from Spark's (ASC ⇒
  * NULLS LAST vs Spark's NULLS FIRST; DESC inverts both), so the oracle
  * spells NULLS FIRST / DESC NULLS LAST explicitly where the Spark text
  * is bare.
  */
object DrillLeadLag {

  // ------------------------------------------------------------ fixture ----
  // (rid, col0 int, col1 bigint, col2 double('float'), col3 double,
  //  col4 bigint time-millis, col5 bigint ts-millis, col6 bigint
  //  date-millis, col7 bool partition, col8 state, col9 varchar)
  private val rows: Seq[(Int, String, String, String, String, String,
      String, String, String, String, String)] = Seq(
    (1, "10", "1000000001", "0.5", "127.99", "25500000", "717600482418",
      "717552000000", "true", "'CA'", "'aaa1'"),
    (2, "20", "1000000002", "1.5", "-1.1", "25600000", "1306974482218",
      "1306972800000", "true", "'CO'", "'bbb2'"),
    (3, "30", null, "2.5", "33.9", null, "650173682111", "650160000000",
      "true", "'GA'", null),
    (4, "40", "1000000004", null, "1234.9", "25800000", null,
      "-61568640000000", "true", null, "'ddd4'"),
    (5, null, "1000000005", "4.5", null, "25900000", "1338596882418",
      null, "true", "'NY'", "'eee5'"),
    (6, "15", "2000000001", "5.5", "-65534.0", "26000000", "482198882638",
      "482198400000", "false", "'CO'", "'fff6'"),
    (7, "25", "2000000002", "6.5", "9898.68", "26100000", "-710243517582",
      "-710294400000", "false", "'MN'", "'ggg7'"),
    (8, "35", null, "7.5", "0.0", "26200000", "872668082000",
      "872640000000", "false", "'VT'", null),
    (9, "45", "2000000004", null, "1.0", null, "972668082000",
      "972604800000", "false", null, "'iii9'"),
    (10, null, "2000000005", "9.5", null, "26400000", "1072668082000",
      null, "false", "'WY'", "'jjj10'"),
    (11, "12", "3000000001", "10.5", "-1.0", "26500000", "1172668082000",
      "1172620800000", null, "'CA'", "'kkk11'"),
    (12, "22", "3000000002", "11.5", "255.99", "26600000", "1272668082000",
      "1272585600000", null, "'GA'", "'lll12'"),
    (13, "32", null, "12.5", "256.0", null, "1372668082000",
      "1372636800000", null, "'LA'", null),
    (14, "42", "3000000004", null, "0.9999", "26800000", null,
      "1472601600000", null, null, "'nnn14'"),
    (15, null, "3000000005", "14.5", null, "26900000", "1572868082000",
      null, null, "'OR'", "'ooo15'"))

  private def row(r: (Int, String, String, String, String, String, String,
      String, String, String, String), duck: Boolean): String = {
    val (rid, c0, c1, c2, c3, c4, c5, c6, c7, c8, c9) = r
    def n(v: String, st: String, dt: String) =
      if (v == null) { if (duck) s"NULL::$dt" else s"CAST(NULL AS $st)" }
      else if (duck) s"$v::$dt"
      else v
    def big(v: String) =
      if (v == null) { if (duck) "NULL::BIGINT" else "CAST(NULL AS BIGINT)" }
      else if (duck) s"$v::BIGINT" else s"${v}L"
    s"""($rid, ${n(c0, "INT", "INTEGER")}, ${big(c1)},
        ${n(c2, "DOUBLE", "DOUBLE")}, ${n(c3, "DOUBLE", "DOUBLE")},
        ${big(c4)}, ${big(c5)}, ${big(c6)},
        ${n(c7, "BOOLEAN", "BOOLEAN")}, ${n(c8, "STRING", "VARCHAR")},
        ${n(c9, "STRING", "VARCHAR")})"""
  }

  private val cols =
    "t(rid, col0, col1, col2, col3, col4, col5, col6, col7, col8, col9)"
  private def fixture(duck: Boolean): String =
    if (duck)
      s"""t_alltyps AS (SELECT * FROM (VALUES
          ${rows.map(row(_, duck = true)).mkString(",\n          ")}) $cols)"""
    else
      s"""t_alltyps AS (SELECT * FROM VALUES
          ${rows.map(row(_, duck = false)).mkString(",\n          ")} AS $cols)"""

  // ----------------------------------------------------- matrix builders ----

  private val typedCols =
    Seq("col0", "col1", "col2", "col3", "col4", "col5", "col6", "col8", "col9")

  /** `F(col) OVER (PARTITION BY col7 ORDER BY col)` per type — the corpus's
    * dominant shape (each column is unique within its partition, so the
    * ordering is total). Boolean col7 itself rides as the lagged value in
    * one extra column (lagFn_105-style `LAG(col7) OVER (... ORDER BY
    * col7)` is tie-broken by rid here).
    */
  private def offsetMatrix(fn: String): (String, String, String) = {
    def body(duck: Boolean): String = {
      def w(ord: String) = {
        val o = if (duck) s"$ord NULLS FIRST" else ord
        s"(PARTITION BY col7 ORDER BY $o)"
      }
      val out = typedCols.map(c => s"$fn($c) OVER ${w(c)} AS ${fn}_$c") :+
        s"CAST($fn(col7) OVER ${w("rid")} AS INT) AS ${fn}_col7" :+
        s"$fn(col0) OVER ${w("rid")} AS ${fn}_byrid"
      s"""SELECT rid, ${out.mkString(",\n              ")}
         FROM t_alltyps ORDER BY rid"""
    }
    (s"q_drill_${fn.toLowerCase}_matrix",
      s"WITH ${fixture(false)} ${body(false)}",
      s"WITH ${fixture(true)} ${body(true)}")
  }

  /** FIRST_VALUE/LAST_VALUE per type over the default frame (first_val /
    * last_val directories — the matrices order by the value column itself).
    */
  private def firstLastMatrix: (String, String, String) = {
    def body(duck: Boolean): String = {
      def w(ord: String) = {
        val o = if (duck) s"$ord NULLS FIRST" else ord
        s"(PARTITION BY col7 ORDER BY $o)"
      }
      val out = typedCols.flatMap { c =>
        Seq(s"FIRST_VALUE($c) OVER ${w(c)} AS fv_$c",
            s"LAST_VALUE($c) OVER ${w(c)} AS lv_$c")
      }
      s"""SELECT rid, ${out.mkString(",\n              ")}
         FROM t_alltyps ORDER BY rid"""
    }
    ("q_drill_firstlast_matrix",
      s"WITH ${fixture(false)} ${body(false)}",
      s"WITH ${fixture(true)} ${body(true)}")
  }

  /** NTILE bucket matrix (ntile_func): NTILE(2/3/5) per partition plus the
    * ntileFn_33 shape — outer ORDER BY a window NTILE.
    */
  private def ntileMatrix: (String, String, String) = {
    def body(duck: Boolean): String = {
      val ord = if (duck) "col0 NULLS FIRST" else "col0"
      // ntileFn_33's ORDER BY NTILE(...) rides via the subquery (Spark
      // rejects a raw window expression inside ORDER BY; ordering by the
      // projected tile is the same sort)
      s"""SELECT rid, tile2, tile3, tile5, tile_glob FROM (
           SELECT rid,
              CAST(NTILE(2) OVER (PARTITION BY col7 ORDER BY $ord) AS BIGINT) AS tile2,
              CAST(NTILE(3) OVER (PARTITION BY col7 ORDER BY $ord) AS BIGINT) AS tile3,
              CAST(NTILE(5) OVER (PARTITION BY col7 ORDER BY $ord) AS BIGINT) AS tile5,
              CAST(NTILE(2) OVER (ORDER BY ${if (duck)
                "col1 NULLS FIRST" else "col1"}) AS BIGINT) AS tile_glob
           FROM t_alltyps) tiled
         ORDER BY tile2, rid"""
    }
    ("q_drill_ntile_matrix",
      s"WITH ${fixture(false)} ${body(false)}",
      s"WITH ${fixture(true)} ${body(true)}")
  }

  // ----------------------------------------------------------- gates ----

  private[graft] lazy val gates: Seq[(String, String, String)] = Seq(
    offsetMatrix("LAG"),
    offsetMatrix("LEAD"),
    firstLastMatrix,
    ntileMatrix,

    // explicit `,1` offsets (the only offset the corpus spells) + the
    // multi-key `ORDER BY col8, rid` form (lag_Fn_28-style `ORDER BY
    // col2,col8`) + LEAD/LAG interleaved with different order keys
    // (lag_Fn_77) + the many-column passthrough projection (lag_Fn_104)
    {
      def body(duck: Boolean): String = {
        def o(k: String) = if (duck) s"$k NULLS FIRST" else k
        s"""SELECT rid, col0, col2, col8,
              LAG(col0, 1) OVER (PARTITION BY col7 ORDER BY ${o("col0")}) AS lag1_col0,
              LEAD(col1, 1) OVER (PARTITION BY col7 ORDER BY ${o("col1")}) AS lead1_col1,
              LAG(col8, 1) OVER (PARTITION BY col7 ORDER BY ${o("col8")}, rid) AS lag1_col8,
              LEAD(col9) OVER (PARTITION BY col7 ORDER BY ${o("col9")}, rid) AS lead_col9,
              LEAD(col3) OVER (PARTITION BY col7 ORDER BY ${o("col3")}) AS lead_col3,
              LAG(col5) OVER (PARTITION BY col7 ORDER BY ${o("col5")}) AS lag_col5
           FROM t_alltyps ORDER BY rid"""
      }
      ("q_drill_laglead_offset1",
        s"WITH ${fixture(false)} ${body(false)}",
        s"WITH ${fixture(true)} ${body(true)}")
    },

    // nulls FIRST / nulls LAST / desc order variants — the corpus spells
    // all three (lag_Fn_10/_55, lead desc shapes); explicit on BOTH
    // dialects so no default gap remains
    {
      def body(duck: Boolean): String =
        s"""SELECT rid,
              LAG(col0) OVER (PARTITION BY col7 ORDER BY col0 NULLS FIRST) AS lag_nf,
              LAG(col0) OVER (PARTITION BY col7 ORDER BY col0 NULLS LAST) AS lag_nl,
              LEAD(col2) OVER (PARTITION BY col7 ORDER BY col2 DESC NULLS LAST) AS lead_desc,
              LAG(col8) OVER (PARTITION BY col7 ORDER BY col8 DESC NULLS FIRST) AS lag_desc_nf,
              LEAD(col1) OVER (PARTITION BY col7 ORDER BY col1 ASC NULLS LAST) AS lead_anl
           FROM t_alltyps ORDER BY rid"""
      ("q_drill_laglead_nulls_order",
        s"WITH ${fixture(false)} ${body(false)}",
        s"WITH ${fixture(true)} ${body(true)}")
    },

    // windows inside subqueries with outer filters on the windowed alias
    // (lead_Fn_60 IN-list, lead_Fn_70 IS NOT NULL, lag_Fn_55 renamed
    // columns) and a no-partition global window (lag OVER (ORDER BY ...))
    {
      def body(duck: Boolean): String = {
        def o(k: String) = if (duck) s"$k NULLS FIRST" else k
        s"""SELECT rid, lead_col8, lag_c0, glob_lag
           FROM (
             SELECT rid,
                LEAD(col8) OVER (PARTITION BY col7 ORDER BY ${o("col8")}, rid) AS lead_col8,
                LAG(c0) OVER (PARTITION BY c7 ORDER BY ${o("c0")}) AS lag_c0,
                LAG(col1) OVER (ORDER BY ${o("col1")}) AS glob_lag
             FROM (SELECT rid, col0 c0, col7 c7, col0, col1, col7, col8
                   FROM t_alltyps) renamed
           ) sub_query
           WHERE lead_col8 IN ('CA','CO','GA','MN','VT','WY','LA','OR')
              OR lag_c0 IS NOT NULL
           ORDER BY rid"""
      }
      ("q_drill_laglead_subqry",
        s"WITH ${fixture(false)} ${body(false)}",
        s"WITH ${fixture(true)} ${body(true)}")
    },

    // druid_queries/empty_over_clause + empty_and_non_empty_over: OVER ()
    // whole-input windows, alone and mixed with partitioned/ordered
    // windows in one projection
    {
      def body(duck: Boolean): String = {
        def o(k: String) = if (duck) s"$k NULLS FIRST" else k
        s"""SELECT rid,
              CAST(count(*) OVER () AS BIGINT) AS c_all,
              CAST(sum(col0) OVER () AS BIGINT) AS s_all,
              CAST(min(col1) OVER () AS BIGINT) AS mn_all,
              CAST(max(col1) OVER () AS BIGINT) AS mx_all,
              CAST(count(*) OVER (PARTITION BY col7) AS BIGINT) AS c_part,
              CAST(sum(col0) OVER (PARTITION BY col7 ORDER BY ${o("col0")}
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS s_run
           FROM t_alltyps ORDER BY rid"""
      }
      ("q_drill_dq_empty_over",
        s"WITH ${fixture(false)} ${body(false)}",
        s"WITH ${fixture(true)} ${body(true)}")
    },

    // druid_queries/over_clause_only_partitioning + partition_by_multiple_
    // columns: ORDER-BY-less windows — only order-independent aggregates
    // are pinnable (whole-partition count/sum/min/max; lag without ORDER BY
    // is row-order dependent, excluded by design); single and multi-column
    // partition keys, different keys interleaved in one projection
    {
      def body(duck: Boolean): String =
        s"""SELECT rid,
              CAST(count(*) OVER (PARTITION BY col7) AS BIGINT) AS c_bool,
              CAST(sum(col0) OVER (PARTITION BY col7) AS BIGINT) AS s_bool,
              CAST(count(*) OVER (PARTITION BY col8) AS BIGINT) AS c_state,
              CAST(count(*) OVER (PARTITION BY col7, col8) AS BIGINT) AS c_multi,
              CAST(min(col1) OVER (PARTITION BY col7, col8) AS BIGINT) AS mn_multi
           FROM t_alltyps ORDER BY rid"""
      ("q_drill_dq_partition_only",
        s"WITH ${fixture(false)} ${body(false)}",
        s"WITH ${fixture(true)} ${body(true)}")
    },

    // druid_queries/same_window_across_columns + multiple_windows: one
    // NAMED window consumed by many value columns beside a second named
    // window with a different key (wikipedia_query_1_named_windows)
    {
      def body(duck: Boolean): String = {
        def o(k: String) = if (duck) s"$k NULLS FIRST" else k
        s"""SELECT rid,
              CAST(sum(col0) OVER w1 AS BIGINT) AS w1_sum_c0,
              CAST(count(col2) OVER w1 AS BIGINT) AS w1_cnt_c2,
              CAST(min(col1) OVER w1 AS BIGINT) AS w1_min_c1,
              CAST(max(col3) OVER w1 AS DOUBLE) AS w1_max_c3,
              CAST(count(*) OVER w2 AS BIGINT) AS w2_cnt,
              first_value(col9) OVER w1 AS w1_fv_c9
           FROM t_alltyps
           WINDOW w1 AS (PARTITION BY col7 ORDER BY ${o("col0")}),
                  w2 AS (PARTITION BY col8 ORDER BY ${o("rid")})
           ORDER BY rid"""
      }
      ("q_drill_dq_same_window",
        s"WITH ${fixture(false)} ${body(false)}",
        s"WITH ${fixture(true)} ${body(true)}")
    },

    // WHERE IN / NOT IN / range filters UNDER the window (the partition
    // re-forms over the filtered rows) + FETCH FIRST n ROWS ONLY with a
    // deterministic outer order (lag_Fn_28/_29 fetch shapes)
    {
      def body(duck: Boolean): String = {
        def o(k: String) = if (duck) s"$k NULLS FIRST" else k
        s"""SELECT rid, col8,
              LAG(col8) OVER (PARTITION BY col7 ORDER BY ${o("col8")}, rid) AS lag_in,
              LEAD(col0) OVER (PARTITION BY col7 ORDER BY ${o("col0")}) AS lead_rng
           FROM t_alltyps
           WHERE (col8 NOT IN ('NY') OR col8 IS NULL)
             AND (col0 >= 0 AND col0 <= 2147483647 OR col0 IS NULL)
           ORDER BY rid
           FETCH FIRST 10 ROWS ONLY"""
      }
      ("q_drill_laglead_filter_fetch",
        s"WITH ${fixture(false)} ${body(false)}",
        s"WITH ${fixture(true)} ${body(true)}")
    })

  private def runSpark(s: SparkSession, sqlText: String): DataFrame = {
    // the corpus's FETCH FIRST n ROWS ONLY is Calcite spelling → LIMIT
    s.sql(graft.api.SqlApi.rewriteSql(sqlText, Seq(graft.api.SqlApi.fetch)))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map { case (name, sparkSql, _) =>
      name -> ((s: SparkSession, _: String) => runSpark(s, sparkSql))
    }.toMap

  def oracleSql: Map[String, String] =
    gates.map { case (name, _, duckSql) => name -> duckSql }.toMap
}
