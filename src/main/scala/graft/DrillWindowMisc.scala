package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Port of the five small residual Drill window directories
  * (`sql/src/test/resources/drill/window/queries/`): `order_by` (37 .sql
  * — each ranking function over an ORDER-BY-only window in asc / desc /
  * nulls-first / nulls-last variants, plus SUM with the EXPLICIT default
  * frame spelled out), `partition_by` (20 — partition-only windows, ±
  * ORDER BY, ± explicit default frame), `statistical_aggregates` (7 —
  * VAR_SAMP / VARIANCE over the empty named window `WINDOW w AS ()` per
  * column type), `misc` (17 — outer joins under windows, join of two
  * partition-only windowed subqueries, the all-functions shared named
  * window), and `bugs` (11 — the drill-3220/3292/3348 regression shapes:
  * COUNT(1) over a composite partition, SUM of literals over a named
  * window, ORDER BY a window function different from the projected one).
  *
  * Reuses the DrillMultiPartitions j-table fixture (c_time globally
  * unique → ORDER BY c_time total; rid tie-breaks added where the
  * original orders by a duplicated key, the standing battery adaptation).
  * DuckDB NULL-ordering defaults differ from Spark's, so the oracle
  * spells NULLS FIRST / DESC NULLS LAST where the Spark text is bare;
  * integer sums CAST to BIGINT, averages/variances to DOUBLE.
  */
object DrillWindowMisc {

  private[graft] lazy val gates: Seq[(String, String, String)] = {
    def gate(name: String, body: Boolean => String,
        extraCte: Boolean => String = _ => ""): (String, String, String) =
      (name,
        s"WITH ${DrillMultiPartitions.fixture(false)}${extraCte(false)} ${body(false)}",
        s"WITH ${DrillMultiPartitions.fixture(true)}${extraCte(true)} ${body(true)}")
    def o(duck: Boolean, k: String) = if (duck) s"$k NULLS FIRST" else k
    def od(duck: Boolean, k: String) =
      if (duck) s"$k DESC NULLS LAST" else s"$k DESC"

    Seq(
      // order_by: the ranking family over ORDER-BY-only windows — each
      // function in asc, desc, and explicit NULLS LAST variants (rank /
      // dense_rank / percent_rank / cume_dist are tie-stable on the
      // duplicated c_integer; row_number rides the unique c_time)
      gate("q_drill_ob_ranking_matrix", duck => {
        s"""SELECT rid, c_integer,
              rank() OVER (ORDER BY ${o(duck, "c_integer")}) AS rnk_asc,
              rank() OVER (ORDER BY ${od(duck, "c_integer")}) AS rnk_desc,
              rank() OVER (ORDER BY c_integer NULLS LAST) AS rnk_nl,
              dense_rank() OVER (ORDER BY ${o(duck, "c_integer")}) AS drnk_asc,
              dense_rank() OVER (ORDER BY ${od(duck, "c_integer")}) AS drnk_desc,
              CAST(percent_rank() OVER (ORDER BY ${o(duck, "c_integer")})
                AS DOUBLE) AS prnk,
              CAST(cume_dist() OVER (ORDER BY ${o(duck, "c_integer")})
                AS DOUBLE) AS cdist,
              CAST(cume_dist() OVER (ORDER BY ${od(duck, "c_integer")})
                AS DOUBLE) AS cdist_desc,
              row_number() OVER (ORDER BY c_time) AS rn
           FROM j1
           ORDER BY rid"""
      }),

      // order_by agg half + the *_with_explicit_default_frame pair: a bare
      // `ORDER BY k` window and its spelled-out `RANGE BETWEEN UNBOUNDED
      // PRECEDING AND CURRENT ROW` twin must agree column-for-column
      gate("q_drill_ob_agg_default_frame", duck => {
        val w = s"(ORDER BY ${o(duck, "c_date")})"
        val wx = s"(ORDER BY ${o(duck, "c_date")} RANGE BETWEEN UNBOUNDED " +
          "PRECEDING AND CURRENT ROW)"
        s"""SELECT rid,
              CAST(sum(c_integer) OVER $w AS BIGINT) AS sum_bare,
              CAST(sum(c_integer) OVER $wx AS BIGINT) AS sum_explicit,
              CAST(avg(c_integer) OVER $w AS DOUBLE) AS avg_bare,
              count(c_integer) OVER $w AS cnt_bare,
              min(c_integer) OVER $w AS min_bare,
              max(c_integer) OVER $w AS max_bare,
              CASE WHEN CAST(sum(c_integer) OVER $w AS BIGINT)
                    = CAST(sum(c_integer) OVER $wx AS BIGINT)
                   OR (sum(c_integer) OVER $w IS NULL
                       AND sum(c_integer) OVER $wx IS NULL)
                THEN 1 ELSE 0 END AS frames_agree
           FROM j1
           ORDER BY rid"""
      }),

      // partition_by one_part / one_part_with_order_by / explicit frame:
      // partition-only windows on the string column, with and without an
      // ORDER BY, and the explicit-default-frame twin
      gate("q_drill_pb_one_part", duck => {
        s"""SELECT rid, c_varchar,
              CAST(sum(c_integer) OVER (PARTITION BY c_varchar) AS BIGINT)
                AS sum_part,
              count(*) OVER (PARTITION BY c_varchar) AS cnt_part,
              CAST(avg(c_integer) OVER (PARTITION BY c_varchar) AS DOUBLE)
                AS avg_part,
              CAST(sum(c_integer) OVER (PARTITION BY c_varchar
                ORDER BY ${o(duck, "c_time")}) AS BIGINT) AS sum_run,
              CAST(sum(c_integer) OVER (PARTITION BY c_varchar
                ORDER BY ${o(duck, "c_time")} RANGE BETWEEN UNBOUNDED
                PRECEDING AND CURRENT ROW) AS BIGINT) AS sum_run_explicit
           FROM j1
           ORDER BY rid"""
      }),

      // statistical_aggregates: VAR_SAMP / VARIANCE (= sample variance in
      // Drill, Spark, and DuckDB) and the STDDEV family over the EMPTY
      // named window, per numeric type; single-partition variance of the
      // whole column — n=1 partitions yield NULL var_samp
      gate("q_drill_stat_empty_partition", duck => {
        s"""SELECT rid,
              CAST(var_samp(c_integer) OVER w AS DOUBLE) AS vs_int,
              CAST(var_samp(c_bigint) OVER w AS DOUBLE) AS vs_big,
              round(CAST(var_samp(c_double) OVER w AS DOUBLE), 3) AS vs_dbl,
              CAST(variance(c_integer) OVER w AS DOUBLE) AS var_int,
              CAST(var_pop(c_integer) OVER w AS DOUBLE) AS vp_int,
              CAST(stddev_samp(c_integer) OVER w AS DOUBLE) AS sd_int,
              CAST(stddev_pop(c_integer) OVER w AS DOUBLE) AS sdp_int,
              CAST(var_samp(c_integer) OVER (PARTITION BY rid) AS DOUBLE)
                AS vs_single
           FROM j1
           WINDOW w AS ()
           ORDER BY rid"""
      }),

      // misc q1/q2/q5: LEFT OUTER JOIN under a window (unmatched rows keep
      // NULL join columns inside the partition), and the join+GROUP BY
      // under a running window
      gate("q_drill_misc_join_window", duck => {
        s"""SELECT a.rid,
              CAST(a.c_boolean AS INT) AS b_i,
              CAST(a.c_date AS VARCHAR(10)) AS d_s,
              CAST(sum(a.c_integer) OVER (PARTITION BY a.c_boolean
                ORDER BY ${o(duck, "a.c_date")}, ${o(duck, "a.c_time")})
                AS BIGINT) AS sum_w,
              count(b.rid) OVER (PARTITION BY a.c_boolean
                ORDER BY ${o(duck, "a.c_date")}, ${o(duck, "a.c_time")})
                AS cnt_matched
           FROM j1 a LEFT OUTER JOIN
             (SELECT rid, c_integer FROM j1 WHERE c_integer > 20) b
             ON a.c_integer = b.c_integer
           ORDER BY a.rid"""
      }),

      // misc q10 + q15: join of two PARTITION-only windowed subqueries on
      // a non-window column, and the all-functions shared named window
      gate("q_drill_misc_named_window_family", duck => {
        s"""SELECT c_integer, sum_w, max_w, min_w, cnt_w, rnk, drnk,
              CAST(prnk AS DOUBLE) AS prnk, CAST(cdist AS DOUBLE) AS cdist, rn
           FROM (
             SELECT c_integer,
               CAST(sum(c_integer) OVER w AS BIGINT) AS sum_w,
               max(c_integer) OVER w AS max_w,
               min(c_integer) OVER w AS min_w,
               count(*) OVER w AS cnt_w,
               rank() OVER w AS rnk,
               dense_rank() OVER w AS drnk,
               percent_rank() OVER w AS prnk,
               cume_dist() OVER w AS cdist,
               row_number() OVER (ORDER BY ${od(duck, "c_integer")},
                 ${o(duck, "rid")}) AS rn
             FROM j1
             WINDOW w AS (ORDER BY ${od(duck, "c_integer")})) f
           ORDER BY rn"""
      }),

      // bugs drill-3220/3292/3348: COUNT(1) over a composite partition,
      // SUM of LITERALS over a named partition-only window, and ORDER BY a
      // DIFFERENT window function than the projected one (via its alias)
      gate("q_drill_bugs_shapes", duck => {
        s"""SELECT rid, cnt1, sum1, sum5, sum10, rnk
           FROM (
             SELECT rid,
               count(1) OVER (PARTITION BY c_integer, c_date
                 ORDER BY ${o(duck, "c_timestamp")}) AS cnt1,
               CAST(sum(1) OVER w AS BIGINT) AS sum1,
               CAST(sum(5) OVER w AS BIGINT) AS sum5,
               CAST(sum(10) OVER w AS BIGINT) AS sum10,
               rank() OVER (PARTITION BY c_boolean
                 ORDER BY ${o(duck, "c_integer")}) AS rnk,
               row_number() OVER (PARTITION BY c_boolean
                 ORDER BY ${o(duck, "c_integer")}, rid) AS rn_ord
             FROM j1
             WHERE c_date IS NOT NULL
             WINDOW w AS (PARTITION BY c_date)) f
           ORDER BY rn_ord, rid"""
      }))
  }

  private def runSpark(s: SparkSession, sqlText: String): DataFrame =
    graft.api.SqlApi.runSql(s, sqlText)

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map { case (name, sparkSql, _) =>
      name -> ((s: SparkSession, _: String) => runSpark(s, sparkSql))
    }.toMap

  def oracleSql: Map[String, String] =
    gates.map { case (name, _, duckSql) => name -> duckSql }.toMap
}
