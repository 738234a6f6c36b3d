package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Wholesale port of the reference's Drill window `aggregates/` corpus —
  * `sql/src/test/resources/drill/window/queries/aggregates/` (390 .q files
  * in six shape classes), run by the reference through
  * DrillWindowQueryTest. Each class rides as ONE battery gate over inline
  * fixtures shaped like the corpus tables:
  *
  *  - winFnQry (164): window functions whose PARTITION BY and ORDER BY
  *    keys are CAST expressions (char/int/date/timestamp/double) over
  *    `fewRowsAllData.parquet` → q_drill_agg_castkeys_matrix
  *  - aggOWnFn (90): an OUTER aggregate consuming a subquery's window
  *    output (COUNT of NTILE, MAX of LAG/LEAD, boolean-partition filter
  *    `col7 NOT IN (true)`, and the two-level NAMED-window reuse where the
  *    inner query computes NTILE over `windw` and the outer computes LEAD
  *    over its own `windw` of the same spelling) → q_drill_agg_ownfn
  *  - testW_Nulls (78): the tie-safe function grid over a table with NULLs
  *    in both the order key and the partition key (`tblWnulls.parquet`),
  *    plain-ASC (Druid sorts nulls FIRST ascending; DuckDB defaults LAST,
  *    so the oracle spells NULLS FIRST) and explicit NULLS LAST variants,
  *    plus the corpus's outer-filter forms (`WHERE w_max IS NULL`,
  *    `WHERE c1 IS NOT null`) → q_drill_agg_wnulls_matrix
  *  - woPrtnBy (100) / wo_OrdrBy (52) / wPrtnOrdrBy (20) / mtyOvrCluse
  *    (10): OVER(ORDER BY) with no partition, OVER(PARTITION BY) with no
  *    order + a partition-pinning WHERE, and both → q_drill_agg_overforms
  *
  * LAG/LEAD battery entries lag/lead the ORDER KEY ITSELF, so permuting
  * tied rows leaves the value sequence unchanged (deterministic under
  * ties, exactly why the corpus's aggOWnFn shapes are stable); NTILE under
  * ties is only ever consumed by an outer COUNT.
  */
object DrillAggregates {

  // ------------------------------------------------------------ fixtures --

  /** fewRowsAllData-shaped: every column TEXT so the queries must cast,
    * col0 unique ints, col2 two-char groups (one NULL), col4/col5
    * timestamp/date text, col7 double text.
    */
  private val fewRows: Seq[(Int, String, String, String, String, String, String)] =
    Seq(
      (1, "10", "AA", "alpha", "2019-01-01 01:00:00", "1957-04-10", "0.5"),
      (2, "20", "AA", "bravo", "2019-01-01 02:00:00", "1957-04-10", "0.5"),
      (3, "30", "AA", "charlie", "2019-01-02 01:30:00", "1961-04-12", "1.5"),
      (4, "40", "BB", "delta", "2019-01-02 02:30:00", "1961-04-12", "1.5"),
      (5, "50", "BB", "echo", "2019-01-03 01:15:00", "1963-06-16", "2.5"),
      (6, "60", "BB", "foxtrot", "2019-01-03 02:15:00", "1963-06-16", "2.5"),
      (7, "70", "CC", "golf", "2019-01-04 03:00:00", "1965-03-18", "3.5"),
      (8, "80", "CC", "hotel", "2019-01-04 04:00:00", "1965-03-18", "0.5"),
      (9, "90", null, "india", "2019-01-05 05:00:00", "1966-03-16", "1.5"),
      (10, "100", null, null, null, null, null))

  private def fewRowsValues(duck: Boolean): String =
    fewRows.map { case (rid, c0, c2, c3, c4, c5, c7) =>
      def s(v: String) =
        if (v == null) { if (duck) "NULL::VARCHAR" else "CAST(NULL AS STRING)" }
        else s"'$v'"
      s"($rid, ${s(c0)}, ${s(c2)}, ${s(c3)}, ${s(c4)}, ${s(c5)}, ${s(c7)})"
    }.mkString(", ")

  private def fewRowsCte(duck: Boolean): String =
    if (duck)
      s"""few_rows AS (SELECT * FROM (VALUES ${fewRowsValues(duck = true)})
          t(rid, col0, col2, col3, col4, col5, col7))"""
    else
      s"""few_rows AS (SELECT * FROM VALUES ${fewRowsValues(duck = false)}
          AS t(rid, col0, col2, col3, col4, col5, col7))"""

  /** tblWnulls-shaped: c1 ints with DUPLICATES and NULLs, c2 single-char
    * partition with NULLs, a (NULL, NULL) row.
    */
  private val wnulls: Seq[(Int, String, String)] = Seq(
    (1, "5", "a"), (2, "5", "a"), (3, "7", "a"), (4, null, "a"),
    (5, "2", "b"), (6, "9", "b"), (7, "9", "b"), (8, "3", "b"),
    (9, "1", null), (10, "4", null), (11, null, null), (12, "6", "c"))

  private def wnullsCte(duck: Boolean): String = {
    val rows = wnulls.map { case (rid, c1, c2) =>
      val c1s =
        if (c1 == null) { if (duck) "NULL::INTEGER" else "CAST(NULL AS INT)" }
        else c1
      val c2s =
        if (c2 == null) { if (duck) "NULL::VARCHAR" else "CAST(NULL AS STRING)" }
        else s"'$c2'"
      s"($rid, $c1s, $c2s)"
    }.mkString(", ")
    if (duck) s"tbl_w_nulls AS (SELECT * FROM (VALUES $rows) t(rid, c1, c2))"
    else s"tbl_w_nulls AS (SELECT * FROM VALUES $rows AS t(rid, c1, c2))"
  }

  // ------------------------------------------------------------ batteries --

  /** winFnQry: the agg × cast-key grid. Window keys are CASTs of text
    * columns; three distinct windows exercise char-, date/timestamp-, and
    * double-typed keys (winFnQry_1/_20/_40/_60 et al.).
    */
  private def castKeysBody(duck: Boolean): String = {
    val str = if (duck) "VARCHAR" else "STRING"
    def dt(e: String) =
      if (duck) s"strftime($e, '%Y-%m-%d')" else s"date_format($e, 'yyyy-MM-dd')"
    def ts(e: String) =
      if (duck) s"strftime($e, '%Y-%m-%d %H:%M:%S')"
      else s"date_format($e, 'yyyy-MM-dd HH:mm:ss')"
    val nf = if (duck) " NULLS FIRST" else ""
    val w1 = s"(PARTITION BY CAST(col2 AS $str) ORDER BY CAST(col0 AS INT)$nf)"
    val w2 = "(PARTITION BY CAST(col5 AS DATE) " +
      s"ORDER BY CAST(col4 AS TIMESTAMP)$nf)"
    val w3 = s"(PARTITION BY CAST(col7 AS DOUBLE) ORDER BY CAST(col0 AS INT)$nf)"
    s"""SELECT rid,
          CAST(COUNT(CAST(col0 AS INT)) OVER $w1 AS BIGINT) AS cnt_int_w1,
          CAST(SUM(CAST(col0 AS INT)) OVER $w1 AS BIGINT) AS sum_int_w1,
          AVG(CAST(col0 AS INT)) OVER $w1 AS avg_int_w1,
          CAST(MIN(CAST(col0 AS INT)) OVER $w1 AS BIGINT) AS min_int_w1,
          CAST(MAX(CAST(col0 AS INT)) OVER $w1 AS BIGINT) AS max_int_w1,
          MIN(CAST(col2 AS $str)) OVER $w1 AS min_chr_w1,
          MAX(CAST(col3 AS $str)) OVER $w1 AS max_vch_w1,
          CAST(COUNT(CAST(col2 AS $str)) OVER $w1 AS BIGINT) AS cnt_chr_w1,
          ${dt(s"MIN(CAST(col5 AS DATE)) OVER $w2")} AS min_dt_w2,
          ${ts(s"MAX(CAST(col4 AS TIMESTAMP)) OVER $w2")} AS max_ts_w2,
          CAST(COUNT(CAST(col4 AS TIMESTAMP)) OVER $w2 AS BIGINT) AS cnt_ts_w2,
          CAST(SUM(CAST(col0 AS INT)) OVER $w2 AS BIGINT) AS sum_int_w2,
          AVG(CAST(col7 AS DOUBLE)) OVER $w3 AS avg_dbl_w3,
          SUM(CAST(col7 AS DOUBLE)) OVER $w3 AS sum_dbl_w3,
          CAST(COUNT(*) OVER $w3 AS BIGINT) AS cnt_w3,
          CAST(RANK() OVER $w1 AS BIGINT) AS rnk_w1,
          CAST(DENSE_RANK() OVER $w3 AS BIGINT) AS drnk_w3,
          CAST(ROW_NUMBER() OVER $w1 AS BIGINT) AS rn_w1
       FROM few_rows ORDER BY rid"""
  }

  /** aggOWnFn: outer aggregate over inner window output. The LEAD/LAG
    * entries displace the ORDER KEY itself (tie-invariant); NTILE rides
    * under COUNT; the boolean-partition shape filters `col7 NOT IN ...`
    * (aggOWnFn_44); the final column is the two-level named-window reuse
    * (aggOWnFn_1: inner NTILE over windw, outer LEAD over its own windw).
    */
  private def ownFnBody(duck: Boolean): String = {
    val nf = if (duck) " NULLS FIRST" else ""
    s"""SELECT
          (SELECT CAST(COUNT(tile) AS BIGINT) FROM
            (SELECT NTILE(3) OVER (PARTITION BY c2 ORDER BY c1$nf) tile
             FROM tbl_w_nulls) sub_query) AS cnt_tile,
          (SELECT CAST(MAX(lag_c1) AS BIGINT) FROM
            (SELECT LAG(c1) OVER (PARTITION BY c2 ORDER BY c1$nf) lag_c1, c2
             FROM tbl_w_nulls) sub_query) AS max_lag,
          (SELECT CAST(MIN(lead_c1) AS BIGINT) FROM
            (SELECT LEAD(c1) OVER (PARTITION BY c2 ORDER BY c1$nf) lead_c1
             FROM tbl_w_nulls) sub_query) AS min_lead,
          (SELECT CAST(SUM(rnk) AS BIGINT) FROM
            (SELECT RANK() OVER (PARTITION BY c2 ORDER BY c1$nf) rnk
             FROM tbl_w_nulls) sub_query) AS sum_rnk,
          (SELECT CAST(COUNT(rn) AS BIGINT) FROM
            (SELECT ROW_NUMBER() OVER (PARTITION BY col2
               ORDER BY CAST(col0 AS INT)$nf) rn
             FROM few_rows WHERE col2 NOT IN ('CC')) sub_query) AS cnt_rn_filt,
          (SELECT CAST(MAX(lead_col0) AS BIGINT) FROM
            (SELECT col0, col2,
                    LEAD(CAST(col0 AS INT)) OVER windw AS lead_col0
             FROM (SELECT col0, col2,
                          NTILE(3) OVER windw AS tile
                   FROM few_rows
                   WINDOW windw AS (PARTITION BY col2
                     ORDER BY CAST(col0 AS INT)$nf)) inner_q
             WINDOW windw AS (PARTITION BY col2
               ORDER BY CAST(col0 AS INT)$nf)) sub_query) AS max_lead_nested"""
  }

  /** testW_Nulls: the tie-safe grid with NULLs in both keys, plain-ASC
    * (nulls FIRST on the engine, spelled on the oracle) and NULLS LAST,
    * plus the corpus's outer-filter forms.
    */
  private def wnullsBody(duck: Boolean): String = {
    val ascNf = if (duck) "c1 NULLS FIRST" else "c1"
    val wA = s"(PARTITION BY c2 ORDER BY $ascNf)"
    val wL = "(PARTITION BY c2 ORDER BY c1 ASC NULLS LAST)"
    s"""SELECT rid,
          CAST(MAX(c1) OVER $wA AS BIGINT) AS max_asc,
          CAST(MIN(c1) OVER $wA AS BIGINT) AS min_asc,
          CAST(SUM(c1) OVER $wA AS BIGINT) AS sum_asc,
          AVG(c1) OVER $wA AS avg_asc,
          CAST(COUNT(c1) OVER $wA AS BIGINT) AS cnt_asc,
          CAST(COUNT(*) OVER $wA AS BIGINT) AS cntstar_asc,
          CAST(MAX(c1) OVER $wL AS BIGINT) AS max_nl,
          CAST(MIN(c1) OVER $wL AS BIGINT) AS min_nl,
          CAST(SUM(c1) OVER $wL AS BIGINT) AS sum_nl,
          CAST(RANK() OVER $wA AS BIGINT) AS rnk_asc,
          CAST(DENSE_RANK() OVER $wA AS BIGINT) AS drnk_asc,
          PERCENT_RANK() OVER $wL AS prct_nl,
          CUME_DIST() OVER $wL AS cume_nl,
          (CASE WHEN MAX(c1) OVER $wA IS NULL THEN 1 ELSE 0 END) AS w_max_isnull,
          (CASE WHEN c1 IS NOT NULL THEN 1 ELSE 0 END) AS c1_notnull
       FROM tbl_w_nulls ORDER BY rid"""
  }

  /** woPrtnBy / wo_OrdrBy / wPrtnOrdrBy / mtyOvrCluse: no-partition
    * global-order windows, order-less partition windows under a
    * partition-pinning WHERE, the full form, and the empty OVER().
    */
  private def overFormsBody(duck: Boolean): String = {
    val nf = if (duck) " NULLS FIRST" else ""
    val wNoP = s"(ORDER BY CAST(col0 AS INT)$nf)"
    val wNoO = "(PARTITION BY col2)"
    val wFull = s"(PARTITION BY col2 ORDER BY CAST(col0 AS INT)$nf)"
    s"""SELECT rid,
          CAST(MAX(CAST(col0 AS INT)) OVER $wNoP AS BIGINT) AS max_nop,
          CAST(SUM(CAST(col0 AS INT)) OVER $wNoP AS BIGINT) AS sum_nop,
          AVG(CAST(col0 AS INT)) OVER $wNoP AS avg_nop,
          CUME_DIST() OVER $wNoP AS cume_nop,
          CAST(RANK() OVER $wNoP AS BIGINT) AS rnk_nop,
          CAST(MAX(CAST(col0 AS INT)) OVER $wNoO AS BIGINT) AS max_noo,
          CAST(MIN(CAST(col0 AS INT)) OVER $wNoO AS BIGINT) AS min_noo,
          CAST(COUNT(*) OVER $wNoO AS BIGINT) AS cnt_noo,
          CAST(RANK() OVER $wFull AS BIGINT) AS rnk_full,
          CAST(MAX(CAST(col0 AS INT)) OVER () AS BIGINT) AS max_mty,
          CAST(COUNT(*) OVER () AS BIGINT) AS cnt_mty
       FROM few_rows
       WHERE col2 IN ('AA', 'BB')
       ORDER BY rid"""
  }

  // -------------------------------------------------- nestedAggs (255) --
  // `drill/window/queries/nestedAggs/`: a window function whose argument
  // is ITSELF an aggregate of the GROUP BY — `AVG(SUM(c1)) OVER (…)` —
  // run by the reference through DrillWindowQueryTest. Five shape
  // classes as four battery gates.

  /** wPbOb (52) + woutOby (26): the nested-agg grid over both OVER forms.
    * GROUP BY c2 makes one row per partition key, so PARTITION BY c2
    * windows are single-row (wPbOb_1..20 are exactly this); the few_rows
    * half groups by (col2, rid) for real multi-row running frames
    * (basic_1/_5: AVG(SUM), MAX(MIN) over a unique order key).
    */
  private def nestedGridBody(duck: Boolean): String = {
    val nf = if (duck) " NULLS FIRST" else ""
    s"""SELECT t.c2,
          AVG(SUM(t.c1)) OVER (PARTITION BY t.c2 ORDER BY t.c2$nf) AS avg_sum,
          CAST(MAX(MIN(t.c1)) OVER (PARTITION BY t.c2 ORDER BY t.c2$nf) AS INT) AS max_min,
          CAST(COUNT(AVG(t.c1)) OVER (PARTITION BY t.c2 ORDER BY t.c2$nf) AS BIGINT) AS cnt_avg,
          CAST(SUM(COUNT(t.c1)) OVER (PARTITION BY t.c2) AS BIGINT) AS sum_cnt_wo,
          CAST(COUNT(MAX(t.c2)) OVER (PARTITION BY t.c2) AS BIGINT) AS cnt_max_wo,
          (SELECT f.v
           FROM (SELECT fr.rid,
                        AVG(SUM(CAST(fr.col0 AS INT)))
                          OVER (PARTITION BY fr.col2 ORDER BY fr.rid$nf) AS v
                 FROM few_rows fr WHERE fr.col2 = 'AA'
                 GROUP BY fr.col2, fr.rid) f
           WHERE f.rid = 3) AS run_avg_aa3,
          (SELECT CAST(MAX(MIN(CAST(fr2.col0 AS INT))) OVER
                    (PARTITION BY fr2.col2 ORDER BY fr2.rid$nf) AS BIGINT)
           FROM few_rows fr2 WHERE fr2.col2 = 'BB'
           GROUP BY fr2.col2, fr2.rid
           ORDER BY fr2.rid DESC LIMIT 1) AS max_min_bb
       FROM tbl_w_nulls t
       GROUP BY t.c2
       ORDER BY t.c2$nf"""
  }

  /** emtyOvrCls (26) + nstdagg01/24-26 + woutPrtnBy (14): nested aggs over
    * the EMPTY over clause and the no-partition ORDER BY form, including
    * the COUNT(COUNT(DISTINCT …)) OVER() double (emtyOvrCls_1/_10).
    */
  private def nestedOverFormsBody(duck: Boolean): String = {
    val nf = if (duck) " NULLS FIRST" else ""
    s"""SELECT c2,
          CAST(COUNT(COUNT(c1)) OVER () AS BIGINT) AS cnt_cnt,
          CAST(COUNT(COUNT(DISTINCT c1)) OVER () AS BIGINT) AS cnt_cntd,
          AVG(SUM(c1)) OVER () AS avg_sum_all,
          SUM(AVG(c1)) OVER () AS sum_avg_all,
          CAST(SUM(SUM(c1)) OVER () AS BIGINT) AS sum_sum_all,
          AVG(SUM(c1)) OVER (ORDER BY c2$nf) AS avg_sum_run,
          CAST(SUM(COUNT(c1)) OVER (ORDER BY c2$nf) AS BIGINT) AS sum_cnt_run
       FROM tbl_w_nulls
       GROUP BY c2
       ORDER BY c2$nf"""
  }

  /** frmclause01-19: nested aggs under explicit ROWS/RANGE frames
    * (frmclause05: MAX(MIN(col9)) RANGE UNBOUNDED PRECEDING..CURRENT ROW).
    */
  private def nestedFramesBody(duck: Boolean): String = {
    val nf = if (duck) " NULLS FIRST" else ""
    val w = s"PARTITION BY col2 ORDER BY rid$nf"
    s"""SELECT rid, col2,
          CAST(MAX(MIN(CAST(col0 AS INT))) OVER ($w
            RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS mx_min_range,
          CAST(SUM(SUM(CAST(col0 AS INT))) OVER ($w
            ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS BIGINT) AS sum_sum_rows,
          AVG(AVG(CAST(col0 AS INT))) OVER ($w
            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS avg_avg_full,
          CAST(COUNT(SUM(CAST(col0 AS INT))) OVER ($w
            ROWS BETWEEN CURRENT ROW AND 2 FOLLOWING) AS BIGINT) AS cnt_sum_fwd
       FROM few_rows
       GROUP BY col2, rid
       ORDER BY col2$nf, rid"""
  }

  /** multiWin (10) + cte_win (10): a second window function beside the
    * nested agg (multiWin_1's NTILE over one-row partitions), the
    * two-level nesting where an outer nested-agg window consumes an inner
    * one (multiWin_5), and the CTE form filtered on the window column
    * (cte_win_01/_02).
    */
  private def nestedTwoLevelBody(duck: Boolean): String = {
    val nf = if (duck) " NULLS FIRST" else ""
    // (the corpus spells these as CTEs — cte_win_02; the gate plumbing
    // owns the WITH keyword, so they ride as derived tables here)
    s"""SELECT tl.col2, tl.rid, tl.avg2, nb.mx_cnt, nb.ntil
        FROM (
          SELECT col2,
                 AVG(SUM(avg_sum_c0))
                   OVER (PARTITION BY col2 ORDER BY rid$nf) AS avg2,
                 rid
          FROM (
            SELECT col2, rid,
                   AVG(SUM(CAST(col0 AS INT)))
                     OVER (PARTITION BY col2 ORDER BY rid$nf) AS avg_sum_c0
            FROM few_rows
            GROUP BY col2, rid
          ) inner_win
          GROUP BY col2, rid
        ) tl
        LEFT JOIN (
          SELECT c2,
                 CAST(MAX(COUNT(c2)) OVER (PARTITION BY c2 ORDER BY c2$nf) AS BIGINT) AS mx_cnt,
                 CAST(NTILE(3) OVER (PARTITION BY c2 ORDER BY c2$nf) AS INT) AS ntil
          FROM tbl_w_nulls
          GROUP BY c2
        ) nb ON nb.c2 = lower(substr(tl.col2, 1, 1))
        WHERE tl.avg2 > 20
        ORDER BY tl.col2$nf, tl.rid"""
  }

  private def gate(name: String, body: Boolean => String,
      needsWnulls: Boolean, needsFewRows: Boolean): Gate = {
    def withCtes(duck: Boolean): String = {
      val ctes = (if (needsFewRows) Seq(fewRowsCte(duck)) else Nil) ++
        (if (needsWnulls) Seq(wnullsCte(duck)) else Nil)
      s"WITH ${ctes.mkString(", ")} ${body(duck)}"
    }
    Gate.spark(name, withCtes(false), withCtes(true))
  }

  lazy val gates: Seq[Gate] = Seq(
    gate("q_drill_agg_castkeys_matrix", castKeysBody,
      needsWnulls = false, needsFewRows = true),
    gate("q_drill_agg_ownfn", ownFnBody,
      needsWnulls = true, needsFewRows = true),
    gate("q_drill_agg_wnulls_matrix", wnullsBody,
      needsWnulls = true, needsFewRows = false),
    gate("q_drill_agg_overforms", overFormsBody,
      needsWnulls = false, needsFewRows = true),
    gate("q_drill_nestedagg_grid", nestedGridBody,
      needsWnulls = true, needsFewRows = true),
    gate("q_drill_nestedagg_overforms", nestedOverFormsBody,
      needsWnulls = true, needsFewRows = false),
    gate("q_drill_nestedagg_frames", nestedFramesBody,
      needsWnulls = false, needsFewRows = true),
    gate("q_drill_nestedagg_twolevel", nestedTwoLevelBody,
      needsWnulls = true, needsFewRows = true))
}
