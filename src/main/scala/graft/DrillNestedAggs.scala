package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Port of the residual of the reference's Drill `nestedAggs` corpus
  * (`sql/src/test/resources/drill/window/queries/nestedAggs/` — 125 .q).
  * DrillAggregates already carries the wPbOb / woutOby / emtyOvrCls /
  * frmclause shape classes; this battery adds the five families those
  * four gates don't reach:
  *
  *  - `basic_1..10`: the F(G(col)) OVER (PARTITION BY col7 ORDER BY col0)
  *    matrix over allTypsUniq-shaped data — GROUP BY (col0, colX, col7)
  *    yields one group per row, so the window runs REAL multi-row
  *    running frames inside each boolean partition (unlike the wPbOb
  *    single-row-partition grid);
  *  - `nstdagg01..26`: the full outer×inner aggregate grid over the
  *    empty OVER clause — every F(G(c1)) for F,G ∈ {SUM, MIN, MAX,
  *    COUNT, AVG} in one projection;
  *  - `cte_win_01..05`: a named-column CTE wrapping a nested-agg window,
  *    an outer filter ON the windowed column (`c > 'IN'`), a re-GROUP BY
  *    of all four columns, and (cte_win_04) an extra derived-table hop;
  *  - `multiWin_1..8`: a nested-agg window CONSUMING the result of
  *    another nested-agg window from a grouped subquery —
  *    AVG(SUM(avg_sum_c0)) OVER (…) over a GROUP BY of the inner
  *    windowed projection;
  *  - `nstdWinView01` + `wPrtnOrdrBy_3`/`basic_10`: the view-lifecycle
  *    analog (CREATE VIEW → nested-agg window over the view → DROP) and
  *    the SELECT-*-GROUP-BY-all-columns form. The Spark side creates a
  *    real temp view; the oracle spells the same body as a CTE.
  *
  * Determinism: col0 is globally unique (every ORDER BY col0 is total
  * within its partition); ORDER BY col8 windows only feed RANGE-default
  * (peer-inclusive) MIN/MAX/SUM aggregates, which are tie-insensitive.
  * DuckDB NULL-ordering defaults differ from Spark's, so the oracle
  * spells NULLS FIRST where the Spark text is bare; sums/counts are CAST
  * to BIGINT (DuckDB sums INTEGER into HUGEINT) and averages to DOUBLE.
  */
object DrillNestedAggs {

  // ------------------------------------------------------------ fixture ----
  // allTypsUniq-shaped: col0 unique int, col2 two-char group, col7
  // 3-valued boolean partition, col8 state (dups + NULL), col9 varchar
  private val atu: Seq[(Int, String, String, String, String, String)] = Seq(
    (1, "10", "'AA'", "true", "'CA'", "'aaa1'"),
    (2, "20", "'AA'", "true", "'CO'", "'bbb2'"),
    (3, "30", "'BB'", "true", "'GA'", null),
    (4, "40", "'BB'", "true", null, "'ddd4'"),
    (5, "50", "'CC'", "true", "'NY'", "'eee5'"),
    (6, "15", "'AA'", "false", "'CO'", "'fff6'"),
    (7, "25", "'BB'", "false", "'MN'", "'ggg7'"),
    (8, "35", "'BB'", "false", "'VT'", null),
    (9, "45", "'CC'", "false", null, "'iii9'"),
    (10, "55", "'CC'", "false", "'WY'", "'jjj10'"),
    (11, "12", "'AA'", null, "'CA'", "'kkk11'"),
    (12, "22", "'BB'", null, "'GA'", "'lll12'"),
    (13, "32", "'CC'", null, "'LA'", null),
    (14, "42", "'CC'", null, "'IN'", "'nnn14'"),
    (15, "52", "'AA'", null, "'OR'", "'ooo15'"))

  private def atuCte(duck: Boolean): String = {
    val rows = atu.map { case (rid, c0, c2, c7, c8, c9) =>
      def s(v: String, st: String, dt: String) =
        if (v == null) { if (duck) s"NULL::$dt" else s"CAST(NULL AS $st)" }
        else v
      s"($rid, $c0, $c2, ${s(c7, "BOOLEAN", "BOOLEAN")}, " +
        s"${s(c8, "STRING", "VARCHAR")}, ${s(c9, "STRING", "VARCHAR")})"
    }.mkString(",\n          ")
    val cols = "t(rid, col0, col2, col7, col8, col9)"
    if (duck) s"atu AS (SELECT * FROM (VALUES\n          $rows) $cols)"
    else s"atu AS (SELECT * FROM VALUES\n          $rows AS $cols)"
  }

  // tblWnulls-shaped: c1 ints with dups + NULLs, c2 group with NULL
  private val wn: Seq[(Int, String, String)] = Seq(
    (1, "5", "'a'"), (2, "5", "'a'"), (3, "7", "'a'"), (4, null, "'a'"),
    (5, "2", "'b'"), (6, "9", "'b'"), (7, "9", "'b'"), (8, "3", "'b'"),
    (9, "1", null), (10, "4", null), (11, null, null), (12, "6", "'c'"))

  private def wnCte(duck: Boolean): String = {
    val rows = wn.map { case (rid, c1, c2) =>
      def s(v: String, st: String, dt: String) =
        if (v == null) { if (duck) s"NULL::$dt" else s"CAST(NULL AS $st)" }
        else v
      s"($rid, ${s(c1, "INT", "INTEGER")}, ${s(c2, "STRING", "VARCHAR")})"
    }.mkString(", ")
    if (duck) s"wnulls AS (SELECT * FROM (VALUES $rows) t(rid, c1, c2))"
    else s"wnulls AS (SELECT * FROM VALUES $rows AS t(rid, c1, c2))"
  }

  // ----------------------------------------------------------- gates ----

  private[graft] lazy val gates: Seq[(String, String, String)] = {
    def o(duck: Boolean, k: String) = if (duck) s"$k NULLS FIRST" else k

    val basicMatrix = {
      def body(duck: Boolean): String = {
        val w = s"(PARTITION BY col7 ORDER BY ${o(duck, "col0")})"
        s"""SELECT col0, col2, CAST(col7 AS INT) AS col7_i,
              CAST(AVG(SUM(col0)) OVER $w AS DOUBLE) AS avg_sum_c0,
              CAST(MAX(MIN(col8)) OVER $w AS VARCHAR(8)) AS max_min_c8,
              CAST(COUNT(COUNT(col8)) OVER $w AS BIGINT) AS cnt_cnt_c8,
              CAST(MIN(MAX(col9)) OVER $w AS VARCHAR(8)) AS min_max_c9,
              CAST(SUM(COUNT(col2)) OVER $w AS BIGINT) AS sum_cnt_c2,
              CAST(COUNT(SUM(col0)) OVER $w AS BIGINT) AS cnt_sum_c0,
              MIN(col9) OVER (PARTITION BY col7
                ORDER BY ${o(duck, "col8")}) AS min_c9_by8
           FROM atu
           GROUP BY col0, col2, col7, col8, col9
           ORDER BY ${o(duck, "col7")}, col0"""
      }
      ("q_drill_nstd_basic_matrix",
        s"WITH ${atuCte(false)} ${body(false)}",
        s"WITH ${atuCte(true)} ${body(true)}")
    }

    val fullGrid = {
      def body(duck: Boolean): String = {
        val fs = Seq("SUM", "MIN", "MAX", "COUNT", "AVG")
        val cols = for (f <- fs; g <- fs) yield {
          val cast = f match {
            case "AVG" => "DOUBLE"
            case "COUNT" => "BIGINT"
            case _ => if (g == "AVG") "DOUBLE" else "BIGINT"
          }
          s"CAST($f($g(c1)) OVER () AS $cast) AS " +
            s"${f.toLowerCase}_${g.toLowerCase}"
        }
        s"""SELECT c2, ${cols.mkString(",\n              ")},
              CAST(COUNT(COUNT(DISTINCT c1)) OVER () AS BIGINT) AS cnt_cntd
           FROM wnulls
           GROUP BY c2
           ORDER BY ${o(duck, "c2")}"""
      }
      ("q_drill_nstd_full_grid",
        s"WITH ${wnCte(false)} ${body(false)}",
        s"WITH ${wnCte(true)} ${body(true)}")
    }

    val cteWin = {
      def body(duck: Boolean): String = {
        s"""SELECT a, b, c, d
           FROM (SELECT * FROM (
             SELECT col0 AS a, col8 AS b,
               MAX(MIN(col8)) OVER (PARTITION BY col7
                 ORDER BY ${o(duck, "col8")}) AS c,
               CAST(col7 AS INT) AS d
             FROM atu GROUP BY col0, col7, col8) v1) v2
           WHERE c > 'IN'
           GROUP BY a, b, c, d
           ORDER BY a, b, c, ${o(duck, "d")}"""
      }
      ("q_drill_nstd_cte_win",
        s"WITH ${atuCte(false)} ${body(false)}",
        s"WITH ${atuCte(true)} ${body(true)}")
    }

    val multiWin = {
      def body(duck: Boolean): String = {
        s"""SELECT CAST(col7 AS INT) AS col7_i, col8,
              CAST(AVG(SUM(avg_sum_c0)) OVER (PARTITION BY col7
                ORDER BY ${o(duck, "col8")}, ${o(duck, "col0")}) AS DOUBLE)
                AS avg_sum_nested
           FROM (
             SELECT col7, col8, col0,
               CAST(AVG(SUM(col0)) OVER (PARTITION BY col7
                 ORDER BY ${o(duck, "col8")}, ${o(duck, "col0")}) AS DOUBLE)
                 AS avg_sum_c0
             FROM atu
             GROUP BY col7, col8, col0) inner_w
           GROUP BY col7, col8, col0
           ORDER BY ${o(duck, "col7")}, ${o(duck, "col8")}, col0"""
      }
      ("q_drill_nstd_multiwin",
        s"WITH ${atuCte(false)} ${body(false)}",
        s"WITH ${atuCte(true)} ${body(true)}")
    }

    // nstdWinView01 analog: the Spark side runs a REAL temp-view
    // lifecycle (create → window over the view → drop); the oracle
    // spells the identical body over the fixture CTE
    val viewGate = {
      def body(duck: Boolean): String =
        s"""SELECT CAST(COUNT(MIN(col0)) OVER (PARTITION BY col2
              ORDER BY ${o(duck, "col0")}) AS BIGINT) AS cnt_min, col2
           FROM ${if (duck) "atu" else "vw_nstd_on_atu"}
           GROUP BY col2, col0
           ORDER BY ${o(duck, "col2")}, cnt_min"""
      ("q_drill_nstd_view", body(false), s"WITH ${atuCte(true)} ${body(true)}")
    }

    Seq(basicMatrix, fullGrid, cteWin, multiWin, viewGate)
  }

  private def runSpark(s: SparkSession, sqlText: String): DataFrame = {
    if (sqlText.contains("vw_nstd_on_atu")) {
      // view lifecycle: CREATE OR REPLACE VIEW → query → (auto-dropped
      // with the session; DROP here would race the lazy DataFrame)
      s.sql(s"CREATE OR REPLACE TEMPORARY VIEW vw_nstd_on_atu AS " +
        s"SELECT * FROM ${atuCte(false).replaceFirst("atu AS ", "")}")
      graft.api.SqlApi.runSql(s, sqlText)
    } else graft.api.SqlApi.runSql(s, sqlText)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map { case (name, sparkSql, _) =>
      name -> ((s: SparkSession, _: String) => runSpark(s, sparkSql))
    }.toMap

  def oracleSql: Map[String, String] =
    gates.map { case (name, _, duckSql) => name -> duckSql }.toMap
}
