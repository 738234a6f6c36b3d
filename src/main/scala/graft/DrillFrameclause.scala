package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Wholesale port of the reference's Drill window frame-clause corpus —
  * `sql/src/test/resources/drill/window/queries/frameclause/` (548 files,
  * six directories), which the reference runs through its own SQL layer.
  * Each directory's full function × type matrix rides as ONE battery gate
  * over an inline `t_alltype`-shaped fixture (the corpus's 145-row
  * t_alltype.parquet reduced to 16 rows that keep its structure: int /
  * bigint / char / varchar / timestamp / date / boolean / double columns,
  * NULLs in every column, a fully-NULL row, and a NULL boolean partition —
  * README.txt's CTAS schema). Queries are generated per (aggregate,
  * column) pair exactly as the corpus enumerates them:
  *
  *  - RBUPACR (46 .q):  ROWS  BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
  *  - RBCRACR (46 .q):  RANGE BETWEEN CURRENT ROW AND CURRENT ROW
  *  - defaultFrame (46): RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
  *  - RBUPAUF (46):     RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
  *  - multipl_wnwds (22): four named windows with mixed frames consumed
  *    interleaved (avg_mulwds.q et al.), rank-family over a no-frame named
  *    window (rnkNoFrm01.q), and the subquery + window-count filter shape
  *    with DESC NULLS FIRST ordering (mulwind_01.q)
  *  - subQueries (64): frame windows inside subqueries under outer
  *    predicates, and windows over subquery output (frmInSubQry_01.q …)
  *
  * Determinism: the window order key `c1` is unique within each `c8`
  * partition, so ROWS frames and FIRST/LAST_VALUE are well-defined; the
  * tie-sensitive RANGE peer semantics are exercised separately by ordering
  * on the duplicated `c2` with tie-safe aggregates only. DuckDB's default
  * NULLS LAST for ASC differs from the engine's (and the reference's)
  * NULLS FIRST, so the oracle spells NULLS FIRST explicitly.
  */
object DrillFrameclause {

  // ------------------------------------------------------------ fixture ----

  // (rid, c1 int, c2 int, c3 bigint, c4 char, c5 varchar, c6 ts, c7 date,
  //  c8 bool, c9 double) — c9 in exact quarters so AVG is bit-identical
  private val rows: Seq[(Int, String, String, String, String, String,
      String, String, String, String)] = Seq(
    (1, "10", "5", "1000000000001", "'AAAA'", "'aa1'",
      "'2016-02-24 05:14:12'", "'1960-04-10'", "true", "0.25"),
    (2, "20", "5", "1000000000002", "'BBBB'", "'bb2'",
      "'2016-02-24 05:14:13'", "'1920-05-14'", "true", "0.5"),
    (3, "30", null, "1000000000003", "'CCCC'", null,
      "'2016-02-24 05:14:14'", "'1963-04-15'", "true", "0.75"),
    (4, "40", "7", null, null, "'dd4'", null, "'1995-04-23'", "true", null),
    (5, "50", "7", "1000000000005", "'EEEE'", "'ee5'",
      "'2016-02-24 05:14:16'", null, "true", "1.25"),
    (6, "60", "8", "1000000000006", "'FFFF'", "'ff6'",
      "'2016-02-24 05:14:17'", "'1969-09-08'", "true", "1.5"),
    (7, "70", null, "1000000000007", "'GGGG'", "'gg7'",
      "'2016-02-24 05:14:18'", "'1921-01-25'", "true", "1.75"),
    (8, "15", "5", "2000000000001", "'HHHH'", "'hh8'",
      "'2016-02-24 05:14:19'", "'1930-01-01'", "false", "2.0"),
    (9, "25", null, "2000000000002", null, "'ii9'",
      "'2016-02-24 05:14:20'", "'1940-02-02'", "false", "2.25"),
    (10, "35", "6", "2000000000003", "'JJJJ'", "'jj10'",
      null, "'1950-03-03'", "false", null),
    (11, "45", null, null, "'KKKK'", "'kk11'",
      "'2016-02-24 05:14:22'", "'1960-04-04'", "false", "2.75"),
    (12, "55", "9", "2000000000005", "'LLLL'", null,
      "'2016-02-24 05:14:23'", "'1970-05-05'", "false", "3.0"),
    (13, "65", "9", "2000000000006", "'MMMM'", "'mm13'",
      "'2016-02-24 05:14:24'", null, "false", "3.25"),
    (14, "75", "5", "3000000000001", "'NNNN'", "'nn14'",
      "'2016-02-24 05:14:25'", "'1980-06-06'", null, "3.5"),
    (15, "85", "5", "3000000000002", "'OOOO'", "'oo15'",
      "'2016-02-24 05:14:26'", "'1990-07-07'", null, "3.75"),
    (16, null, null, null, null, null, null, null, null, null))

  private def sparkRow(r: (Int, String, String, String, String, String,
      String, String, String, String)): String = {
    val (rid, c1, c2, c3, c4, c5, c6, c7, c8, c9) = r
    def n(v: String, t: String) = if (v == null) s"CAST(NULL AS $t)" else v
    s"""($rid, ${n(c1, "INT")}, ${n(c2, "INT")},
        ${if (c3 == null) "CAST(NULL AS BIGINT)" else c3 + "L"},
        ${n(c4, "STRING")}, ${n(c5, "STRING")},
        ${if (c6 == null) "CAST(NULL AS TIMESTAMP)" else s"TIMESTAMP$c6"},
        ${if (c7 == null) "CAST(NULL AS DATE)" else s"DATE$c7"},
        ${n(c8, "BOOLEAN")},
        ${if (c9 == null) "CAST(NULL AS DOUBLE)" else c9 + "D"})"""
  }

  private def duckRow(r: (Int, String, String, String, String, String,
      String, String, String, String)): String = {
    val (rid, c1, c2, c3, c4, c5, c6, c7, c8, c9) = r
    def n(v: String, t: String) = if (v == null) s"NULL::$t" else s"$v::$t"
    s"""($rid, ${n(c1, "INTEGER")}, ${n(c2, "INTEGER")}, ${n(c3, "BIGINT")},
        ${n(c4, "VARCHAR")}, ${n(c5, "VARCHAR")}, ${n(c6, "TIMESTAMP")},
        ${n(c7, "DATE")}, ${n(c8, "BOOLEAN")}, ${n(c9, "DOUBLE")})"""
  }

  private val cols = "t(rid, c1, c2, c3, c4, c5, c6, c7, c8, c9)"
  private val sparkTAll =
    s"""t_alltype AS (SELECT * FROM VALUES
        ${rows.map(sparkRow).mkString(",\n        ")} AS $cols)"""
  private val duckTAll =
    s"""t_alltype AS (SELECT * FROM (VALUES
        ${rows.map(duckRow).mkString(",\n        ")}) $cols)"""

  // ----------------------------------------------------- matrix builder ----

  /** One SELECT column list covering the directory's agg × column grid.
    * `duck` toggles dialect differences (NULLS FIRST, strftime). The
    * windows order by the unique-per-partition c1, exactly like the corpus
    * (`PARTITION BY c8 ORDER BY c1 <frame>`).
    */
  private def matrixCols(frame: String, duck: Boolean): String = {
    val ord = if (duck) "c1 NULLS FIRST" else "c1"
    val w = s"(PARTITION BY c8 ORDER BY $ord $frame)"
    def dt(e: String) =
      if (duck) s"strftime($e, '%Y-%m-%d')" else s"date_format($e, 'yyyy-MM-dd')"
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    // numeric grid: SUM/MIN/MAX/AVG/COUNT/FIRST_VALUE/LAST_VALUE
    for (c <- Seq("c1", "c2", "c3", "c9")) {
      val big = c == "c3"
      def castN(e: String) =
        if (c == "c9") e
        else s"CAST($e AS BIGINT)"
      out += s"${castN(s"SUM($c) OVER $w")} AS sum_$c"
      out += s"${if (big) s"MIN($c) OVER $w" else castN(s"MIN($c) OVER $w")} AS min_$c"
      out += s"${if (big) s"MAX($c) OVER $w" else castN(s"MAX($c) OVER $w")} AS max_$c"
      out += s"AVG($c) OVER $w AS avg_$c"
      out += s"CAST(COUNT($c) OVER $w AS BIGINT) AS cnt_$c"
      out += s"${if (c == "c9") s"FIRST_VALUE($c) OVER $w"
                 else s"CAST(FIRST_VALUE($c) OVER $w AS BIGINT)"} AS fv_$c"
      out += s"${if (c == "c9") s"LAST_VALUE($c) OVER $w"
                 else s"CAST(LAST_VALUE($c) OVER $w AS BIGINT)"} AS lv_$c"
    }
    // string grid: MIN/MAX/COUNT/FIRST_VALUE/LAST_VALUE
    for (c <- Seq("c4", "c5")) {
      out += s"MIN($c) OVER $w AS min_$c"
      out += s"MAX($c) OVER $w AS max_$c"
      out += s"CAST(COUNT($c) OVER $w AS BIGINT) AS cnt_$c"
      out += s"FIRST_VALUE($c) OVER $w AS fv_$c"
      out += s"LAST_VALUE($c) OVER $w AS lv_$c"
    }
    // date grid (c7): MIN/MAX/COUNT/FV/LV rendered as yyyy-MM-dd
    out += s"${dt(s"MIN(c7) OVER $w")} AS min_c7"
    out += s"${dt(s"MAX(c7) OVER $w")} AS max_c7"
    out += s"CAST(COUNT(c7) OVER $w AS BIGINT) AS cnt_c7"
    out += s"${dt(s"FIRST_VALUE(c7) OVER $w")} AS fv_c7"
    out += s"${dt(s"LAST_VALUE(c7) OVER $w")} AS lv_c7"
    // timestamp grid (c6, subQueries frmInSubQry_53/_60 batteries)
    def ts(e: String) =
      if (duck) s"strftime($e, '%Y-%m-%d %H:%M:%S')"
      else s"date_format($e, 'yyyy-MM-dd HH:mm:ss')"
    out += s"${ts(s"MIN(c6) OVER $w")} AS min_c6"
    out += s"${ts(s"MAX(c6) OVER $w")} AS max_c6"
    out += s"CAST(COUNT(c6) OVER $w AS BIGINT) AS cnt_c6"
    out += s"${ts(s"FIRST_VALUE(c6) OVER $w")} AS fv_c6"
    out += s"${ts(s"LAST_VALUE(c6) OVER $w")} AS lv_c6"
    // boolean grid (c8): COUNT/FV/LV — booleans ride as INT 1/0 (a nullable
    // raw-boolean parquet column round-trips as None-vs-NaN between the two
    // engines' pandas frames, an artifact, not a semantic difference)
    out += s"CAST(COUNT(c8) OVER $w AS BIGINT) AS cnt_c8"
    out += s"CAST(FIRST_VALUE(c8) OVER $w AS INT) AS fv_c8"
    out += s"CAST(LAST_VALUE(c8) OVER $w AS INT) AS lv_c8"
    out.mkString(",\n              ")
  }

  private def matrixGate(name: String, frame: String): (String, String, String) =
    (name,
      s"""WITH $sparkTAll
          SELECT rid, ${matrixCols(frame, duck = false)}
          FROM t_alltype ORDER BY rid""",
      s"""WITH $duckTAll
          SELECT rid, ${matrixCols(frame, duck = true)}
          FROM t_alltype ORDER BY rid""")

  /** Tie-class RANGE semantics: order by the duplicated c2 with tie-safe
    * aggregates (peer-set results identical for tied rows on both engines).
    */
  private def tieGate(name: String, frame: String): (String, String, String) = {
    def body(duck: Boolean): String = {
      val ord = if (duck) "c2 NULLS FIRST" else "c2"
      val w = s"(PARTITION BY c8 ORDER BY $ord $frame)"
      s"""SELECT rid,
              CAST(SUM(c1) OVER $w AS BIGINT) AS sum_c1,
              CAST(MIN(c1) OVER $w AS BIGINT) AS min_c1,
              CAST(MAX(c1) OVER $w AS BIGINT) AS max_c1,
              AVG(c1) OVER $w AS avg_c1,
              CAST(COUNT(c1) OVER $w AS BIGINT) AS cnt_c1,
              CAST(SUM(c2) OVER $w AS BIGINT) AS sum_c2,
              CAST(LAST_VALUE(c2) OVER $w AS BIGINT) AS lv_c2
         FROM t_alltype ORDER BY rid"""
    }
    (name, s"WITH $sparkTAll ${body(false)}", s"WITH $duckTAll ${body(true)}")
  }

  // ----------------------------------------------------------- gates ----

  private[graft] lazy val gates: Seq[(String, String, String)] = Seq(
    matrixGate("q_drill_fc_rbupacr_matrix",
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"),
    matrixGate("q_drill_fc_rbcracr_matrix",
      "RANGE BETWEEN CURRENT ROW AND CURRENT ROW"),
    matrixGate("q_drill_fc_default_matrix",
      "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"),
    matrixGate("q_drill_fc_rbupauf_matrix",
      "RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING"),
    tieGate("q_drill_fc_rbcracr_ties",
      "RANGE BETWEEN CURRENT ROW AND CURRENT ROW"),
    tieGate("q_drill_fc_default_ties",
      "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"),

    // multipl_wnwds/avg_mulwds.q (and count/sum/min/max/fval/lval
    // variants): four named windows with distinct frames consumed
    // interleaved in one projection
    {
      def body(duck: Boolean): String = {
        val ord = if (duck) "c1 NULLS FIRST" else "c1"
        s"""SELECT rid, CAST(c8 AS INT) AS c8, c1,
              AVG(c1) OVER W AS w_avg_c1,
              AVG(c2) OVER W2 AS w2_avg_c2,
              AVG(c3) OVER W3 AS w3_avg_c3,
              AVG(c9) OVER W_DFLT_FRM AS wdfrm_avg_c9,
              AVG(c9) OVER W AS w_avg_c9,
              AVG(c3) OVER W2 AS w2_avg_c3,
              AVG(c2) OVER W3 AS w3_avg_c2,
              AVG(c1) OVER W_DFLT_FRM AS wdfrm_avg_c1,
              CAST(SUM(c1) OVER W2 AS BIGINT) AS w2_sum_c1,
              CAST(COUNT(c2) OVER W AS BIGINT) AS w_cnt_c2,
              CAST(MIN(c1) OVER W3 AS BIGINT) AS w3_min_c1,
              CAST(MAX(c1) OVER W_DFLT_FRM AS BIGINT) AS wdfrm_max_c1,
              CAST(FIRST_VALUE(c1) OVER W2 AS BIGINT) AS w2_fv_c1,
              CAST(LAST_VALUE(c1) OVER W AS BIGINT) AS w_lv_c1
           FROM t_alltype
           WINDOW W AS (PARTITION BY c8 ORDER BY $ord
                          RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
                  W2 AS (PARTITION BY c8 ORDER BY $ord
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                  W3 AS (PARTITION BY c8 ORDER BY $ord
                          RANGE BETWEEN CURRENT ROW AND CURRENT ROW),
                  W_DFLT_FRM AS (PARTITION BY c8 ORDER BY $ord
                          RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           ORDER BY rid"""
      }
      ("q_drill_fc_mulwnds",
        s"WITH $sparkTAll ${body(false)}", s"WITH $duckTAll ${body(true)}")
    },

    // multipl_wnwds/rnkNoFrm01.q: rank family + aggregates over a named
    // NO-frame window (implicit RANGE UP..CR)
    {
      def body(duck: Boolean): String = {
        val ord = if (duck) "c1 NULLS FIRST" else "c1"
        s"""SELECT rid,
              CAST(RANK() OVER w AS BIGINT) AS w_rnk,
              CAST(DENSE_RANK() OVER w AS BIGINT) AS w_dnsrnk,
              CAST(ROW_NUMBER() OVER w AS BIGINT) AS w_rwnum,
              CAST(SUM(c2) OVER w AS BIGINT) AS w_sum,
              CAST(MIN(c2) OVER w AS BIGINT) AS w_min,
              CAST(MAX(c2) OVER w AS BIGINT) AS w_max,
              AVG(c2) OVER w AS w_avg,
              CAST(COUNT(c2) OVER w AS BIGINT) AS w_cnt,
              CAST(FIRST_VALUE(c2) OVER (PARTITION BY c8 ORDER BY $ord
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS w_fval,
              CAST(LAST_VALUE(c2) OVER (PARTITION BY c8 ORDER BY $ord
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS w_lval
           FROM t_alltype WINDOW w AS (PARTITION BY c8 ORDER BY $ord)
           ORDER BY rid"""
      }
      ("q_drill_fc_rank_noframe",
        s"WITH $sparkTAll ${body(false)}", s"WITH $duckTAll ${body(true)}")
    },

    // multipl_wnwds/mulwind_01.q: windows inside a subquery, outer filter
    // on a whole-partition window COUNT, DESC NULLS FIRST ordering
    {
      def body(duck: Boolean): String =
        s"""SELECT rid, w_sum, w_min, w_max, w_cnt, w_lval_c2
           FROM (
             SELECT rid,
                CAST(SUM(c2) OVER w AS BIGINT) AS w_sum,
                CAST(MIN(c2) OVER (PARTITION BY c8 ORDER BY c2 DESC NULLS FIRST
                  RANGE BETWEEN CURRENT ROW AND CURRENT ROW) AS BIGINT) AS w_min,
                CAST(MAX(c2) OVER (PARTITION BY c8 ORDER BY c2
                  ${if (duck) "NULLS FIRST " else ""}ROWS BETWEEN UNBOUNDED
                  PRECEDING AND CURRENT ROW) AS BIGINT) AS w_max,
                CAST(COUNT(c2) OVER w AS BIGINT) AS w_cnt,
                CAST(LAST_VALUE(c2) OVER w AS BIGINT) AS w_lval_c2
             FROM t_alltype
             WHERE c8 IS NOT NULL
             WINDOW w AS (PARTITION BY c8 ORDER BY c2 DESC NULLS FIRST
                RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
           ) subqry
           WHERE subqry.w_cnt > 4 ORDER BY rid"""
      ("q_drill_fc_mulwind_filter",
        s"WITH $sparkTAll ${body(false)}", s"WITH $duckTAll ${body(true)}")
    },

    // subQueries/frmInSubQry_01..: frame window inside a subquery under an
    // outer predicate, and a window computed OVER the subquery's output
    {
      def body(duck: Boolean): String = {
        val ord = if (duck) "c1 NULLS FIRST" else "c1"
        s"""SELECT rid, w_sum,
              CAST(SUM(w_sum) OVER (ORDER BY rid
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                AS outer_run
           FROM (
             SELECT rid, CAST(SUM(c1) OVER W AS BIGINT) AS w_sum
             FROM t_alltype
             WINDOW W AS (PARTITION BY c8 ORDER BY $ord
               RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
           ) subqry
           WHERE subqry.w_sum > 0 ORDER BY rid"""
      }
      ("q_drill_fc_subqry",
        s"WITH $sparkTAll ${body(false)}", s"WITH $duckTAll ${body(true)}")
    })

  private def runSpark(s: SparkSession, sqlText: String): DataFrame =
    s.sql(sqlText)

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map { case (name, sparkSql, _) =>
      name -> ((s: SparkSession, _: String) => runSpark(s, sparkSql))
    }.toMap

  def oracleSql: Map[String, String] =
    gates.map { case (name, _, duckSql) => name -> duckSql }.toMap
}
