package graft

import org.apache.spark.sql.functions._

import graft.Gate.t

/** qaWin window-corpus gates: the frame matrix, the corpus families of
  * rounds 4, 11 and 13, each over the GROUP-BY base derivation of `events`.
  */
object QaWinGates {

  /** qaWin corpus base: the reference's windowed tables are GROUP-BY
    * derivations of the raw stream (qaWin `.iq` inner subquery — server_ip ×
    * client_ip × timezone × 12-h floor). Same derivation over `events`;
    * within PARTITION BY cli, (srv, tz, t12) is the group key, so the
    * battery's multi-key ORDER BY is total and frame contents deterministic.
    */
  private val winSparkBase: String =
    """SELECT user_id % 3 AS srv, event_type AS cli,
              CAST(user_id % 5 AS STRING) AS tz,
              TIME_FLOOR(ts, 'PT12H') AS t12, count(*) AS n
       FROM events WHERE user_id < 12
       GROUP BY user_id % 3, event_type, CAST(user_id % 5 AS STRING),
                TIME_FLOOR(ts, 'PT12H')"""

  private val winDuckBase: String =
    """SELECT user_id % 3 AS srv, event_type AS cli,
              CAST(user_id % 5 AS VARCHAR) AS tz,
              time_bucket(INTERVAL '12 hours', ts) AS t12, count(*) AS n
       FROM events WHERE user_id < 12
       GROUP BY user_id % 3, event_type, CAST(user_id % 5 AS VARCHAR),
                time_bucket(INTERVAL '12 hours', ts)"""

  /** qaWin round-4 battery (sql_join.01/.02, sql_subquery_with_where,
    * orderby_{rows,range}_0_*, basics_window_and_aggr,
    * basics_data_types_and_exprs, sql_select_distinct `.iq` shapes): each
    * body is dialect-neutral SQL evaluated over the shared `w` base CTE on
    * BOTH engines — windows inside join inputs and over join outputs, RANGE
    * frames keyed by strings and multi-key peer sets, reused aliases across
    * nested window subqueries, zero-offset frames, aggregate-argument
    * windows, and NULL-laden value frames. Bodies may open extra CTEs by
    * starting with ", name AS (…)". Every output is BIGINT/string, so the
    * cross-engine hash is exact.
    */
  private def win4(name: String, body: String): Gate =
    Gate.spark(name, s"WITH w AS ($winSparkBase) $body",
      s"WITH w AS ($winDuckBase) $body")

  private val winRound4: Seq[Gate] = Seq(
    // sql_join.01 A1_G2_Q3/Q4: window outputs as the JOIN KEY — both sides
    // window first (first_value + running count), then equi-join on the
    // windowed first_value within the partition key
    win4("q_qa_win_join_on_wincol",
      """, win AS (
           SELECT srv, cli, tz, t12,
                  first_value(tz) OVER (PARTITION BY cli ORDER BY srv, tz, t12) AS fv,
                  CAST(count(tz) OVER (PARTITION BY cli ORDER BY srv, tz, t12) AS BIGINT) AS cnt
           FROM w)
         SELECT CAST(count(*) AS BIGINT) AS c,
                CAST(sum(t1.cnt * t2.cnt) AS BIGINT) AS s
         FROM win t1 INNER JOIN win t2
           ON t1.fv = t2.fv AND t1.cli = t2.cli"""),
    // sql_join.02: window evaluated over the OUTPUT of a join (join first,
    // then number + running-sum the joined rows)
    win4("q_qa_win_join_then_window",
      """SELECT a.srv AS srv, a.cli AS cli, a.tz AS tz,
                CAST(row_number() OVER (PARTITION BY a.cli
                  ORDER BY a.srv, a.tz, a.t12, b.tz, b.t12) AS BIGINT) AS rn,
                CAST(sum(b.n) OVER (PARTITION BY a.cli
                  ORDER BY a.srv, a.tz, a.t12, b.tz, b.t12
                  ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS BIGINT) AS s2
         FROM w a INNER JOIN w b ON a.srv = b.srv AND a.cli = b.cli
         ORDER BY cli, rn"""),
    // windowed side LEFT JOINed against a HAVING-filtered aggregate side;
    // the window is computed pre-join and survives unmatched rows
    win4("q_qa_win_join_left_mixed",
      """, win AS (
           SELECT srv, cli, tz, t12,
                  CAST(count(*) OVER (PARTITION BY cli ORDER BY srv, tz, t12) AS BIGINT) AS rcnt
           FROM w),
         agg AS (
           SELECT cli, srv, CAST(sum(n) AS BIGINT) AS tot
           FROM w GROUP BY cli, srv HAVING sum(n) > 2)
         SELECT win.cli AS cli, win.srv AS srv, win.tz AS tz, win.rcnt AS rcnt,
                coalesce(agg.tot, -1) AS tot
         FROM win LEFT JOIN agg ON win.cli = agg.cli AND win.srv = agg.srv
         ORDER BY cli, srv, tz, win.t12"""),
    // orderby_range_* with a STRING sort key: RANGE prefix frames include
    // the whole peer group of the current string value
    win4("q_qa_win_range_string_peers",
      """SELECT srv, cli, tz,
                CAST(count(*) OVER (PARTITION BY cli ORDER BY tz
                  RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c_peers,
                CAST(sum(n) OVER (PARTITION BY cli ORDER BY tz
                  RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS s_peers
         FROM w ORDER BY cli, srv, tz, t12"""),
    // descending string key: peers still group, default frame is peer-wise
    win4("q_qa_win_range_string_desc",
      """SELECT srv, cli, tz,
                CAST(count(*) OVER (PARTITION BY cli ORDER BY tz DESC
                  RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c_desc,
                CAST(sum(n) OVER (PARTITION BY cli ORDER BY tz DESC) AS BIGINT) AS s_desc,
                first_value(tz) OVER (PARTITION BY cli ORDER BY tz DESC) AS fv_desc
         FROM w ORDER BY cli, srv, tz, t12"""),
    // MULTI-key RANGE peers: the peer set is rows equal on BOTH sort keys
    // (UNBOUNDED/CURRENT frames are the only legal multi-key RANGE forms)
    win4("q_qa_win_range_multikey",
      """SELECT srv, cli, tz,
                CAST(sum(n) OVER (PARTITION BY cli ORDER BY srv, tz
                  RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS s_suffix,
                CAST(count(*) OVER (PARTITION BY cli ORDER BY srv, tz
                  RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c_prefix
         FROM w ORDER BY cli, srv, tz, t12"""),
    // sql_subquery_with_where: filter on a level-1 window column, then a
    // level-2 window over the SURVIVORS (frame contents change post-filter)
    win4("q_qa_win_where_two_level",
      """, l1 AS (
           SELECT srv, cli, tz, t12,
                  row_number() OVER (PARTITION BY cli ORDER BY srv, tz, t12) AS rn
           FROM w),
         l2 AS (
           SELECT cli, rn,
                  CAST(sum(rn) OVER (PARTITION BY cli ORDER BY rn) AS BIGINT) AS srn
           FROM l1 WHERE rn <= 5)
         SELECT cli, CAST(max(srn) AS BIGINT) AS m, CAST(count(*) AS BIGINT) AS c
         FROM l2 GROUP BY cli ORDER BY cli"""),
    // sql_join.01 A1_G1_Q5 alias shape: nested window subqueries REUSING
    // the same output aliases (fv/lv) for different expressions per level
    win4("q_qa_win_subq_reused_alias",
      """SELECT cli, fv, lv, CAST(cnt AS BIGINT) AS cnt FROM (
           SELECT cli,
                  first_value(fv) OVER (PARTITION BY cli ORDER BY lv, fv) AS fv,
                  last_value(lv) OVER (PARTITION BY cli ORDER BY lv, fv) AS lv,
                  count(*) OVER (PARTITION BY cli ORDER BY lv, fv) AS cnt
           FROM (
             SELECT cli, srv, tz, t12,
                    first_value(tz) OVER (PARTITION BY cli, srv ORDER BY tz, t12) AS fv,
                    last_value(tz) OVER (PARTITION BY cli, srv ORDER BY tz, t12
                      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS lv
             FROM w) inner_q
         ) outer_q ORDER BY cli, cnt, fv, lv"""),
    // orderby_{rows,range}_0_{preceding,following}: zero offsets are legal
    // and mean exactly the current row (ROWS) / the peer set (RANGE)
    win4("q_qa_win_zero_offset_frames",
      """SELECT srv, cli, tz,
                CAST(sum(n) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                  ROWS BETWEEN 0 PRECEDING AND CURRENT ROW) AS BIGINT) AS s_zp,
                CAST(sum(n) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                  ROWS BETWEEN CURRENT ROW AND 0 FOLLOWING) AS BIGINT) AS s_zf,
                CAST(sum(n) OVER (PARTITION BY cli ORDER BY srv
                  RANGE BETWEEN 0 PRECEDING AND 0 FOLLOWING) AS BIGINT) AS s_rzero
         FROM w ORDER BY cli, srv, tz, t12"""),
    // basics_window_and_aggr: AGGREGATES as window arguments in the same
    // block as GROUP BY — the window runs over grouped output
    win4("q_qa_win_aggarg_window",
      """SELECT cli, srv, CAST(sum(n) AS BIGINT) AS tot,
                CAST(sum(sum(n)) OVER (PARTITION BY cli ORDER BY srv) AS BIGINT) AS run_tot,
                CAST(max(count(*)) OVER (PARTITION BY cli) AS BIGINT) AS max_groups
         FROM w GROUP BY cli, srv ORDER BY cli, srv"""),
    // basics_data_types_and_exprs: the corpus's mixed-type expression sort
    // key (int, length(), a +0.123 double derivation, then tiebreakers)
    win4("q_qa_win_expr_sortkey_mixed",
      """SELECT srv, cli, tz,
                first_value(tz) OVER (PARTITION BY cli ORDER BY srv ASC,
                  length(tz) ASC, CAST(length(tz) AS DOUBLE) + 0.123 ASC,
                  tz, t12) AS fv,
                CAST(count(tz) OVER (PARTITION BY cli ORDER BY srv ASC,
                  length(tz) ASC, CAST(length(tz) AS DOUBLE) + 0.123 ASC,
                  tz, t12) AS BIGINT) AS cnt
         FROM w ORDER BY cli, srv, tz, t12"""),
    // sql_select_distinct: DISTINCT over window outputs, then counted
    win4("q_qa_win_distinct_fv_count",
      """, win AS (
           SELECT cli,
                  first_value(tz) OVER (PARTITION BY cli, srv ORDER BY tz, t12) AS fv
           FROM w)
         SELECT cli, CAST(count(*) AS BIGINT) AS n_all,
                CAST(count(DISTINCT fv) AS BIGINT) AS n_fv
         FROM win GROUP BY cli ORDER BY cli"""),
    // 3-arg LEAD/LAG defaults fire beyond the partition edge, typed like
    // the value column
    win4("q_qa_win_lead_lag_default",
      """SELECT srv, cli, tz,
                lag(tz, 2, 'none') OVER (PARTITION BY cli ORDER BY srv, tz, t12) AS lag2,
                lead(tz, 3, 'end') OVER (PARTITION BY cli ORDER BY srv, tz, t12) AS lead3,
                CAST(lag(n, 1, -1) OVER (PARTITION BY cli ORDER BY srv, tz, t12) AS BIGINT) AS lagn
         FROM w ORDER BY cli, srv, tz, t12"""),
    // frames whose value column is NULL-laden: count skips, sum/min/max
    // NULL out on all-null frames, first_value RESPECTS nulls by default
    win4("q_qa_win_null_value_frames",
      """, w2 AS (
           SELECT srv, cli, tz, t12,
                  CASE WHEN tz = '0' THEN NULL ELSE n END AS v
           FROM w)
         SELECT srv, cli, tz,
                CAST(count(v) OVER win AS BIGINT) AS c_v,
                CAST(sum(v) OVER win AS BIGINT) AS s_v,
                CAST(min(v) OVER win AS BIGINT) AS mn,
                CAST(max(v) OVER win AS BIGINT) AS mx,
                CAST(first_value(v) OVER win AS BIGINT) AS fv_respect
         FROM w2
         WINDOW win AS (PARTITION BY cli ORDER BY srv, tz, t12
                        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
         ORDER BY cli, srv, tz, t12"""),

    // ---- round 5: the systematic qaWin orderby_rows_* matrices (28
    // families × 15 variants — `orderby_rows_{1,0}_{preceding,following}_
    // {sum_count,first_last}` et al). Every LEGAL combined-bound spelling
    // the corpus enumerates, over the shared `w` base; the RANGE-offset
    // siblings are `!error` families (multi-key/string RANGE offsets),
    // covered by spec-level rejection tests. Window order ends with the
    // in-partition group key (srv, tz, t12) so frames are total.
    // A2/A3 sum_count: 1 PRECEDING paired with each upper bound
    win4("q_qa_win_rows1p_bounds_sum",
      """SELECT srv, cli, tz,
                CAST(sum(length(tz)) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                  ROWS BETWEEN 1 PRECEDING AND 0 PRECEDING) AS BIGINT) AS s_0p,
                CAST(count(tz) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                  ROWS BETWEEN 1 PRECEDING AND 0 FOLLOWING) AS BIGINT) AS c_0f,
                CAST(sum(length(tz)) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                  ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS BIGINT) AS s_1f,
                CAST(count(tz) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                  ROWS BETWEEN 1 PRECEDING AND UNBOUNDED FOLLOWING) AS BIGINT) AS c_uf
         FROM w ORDER BY cli, srv, tz, t12"""),
    win4("q_qa_win_rows1p_bounds_fl",
      """SELECT srv, cli, tz,
                first_value(tz) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                  ROWS BETWEEN 1 PRECEDING AND 0 PRECEDING) AS fv_0p,
                last_value(tz) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                  ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS lv_1f,
                first_value(tz) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                  ROWS BETWEEN 1 PRECEDING AND UNBOUNDED FOLLOWING) AS fv_uf,
                last_value(tz) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                  ROWS BETWEEN 1 PRECEDING AND 0 FOLLOWING) AS lv_0f
         FROM w ORDER BY cli, srv, tz, t12"""),
    // 0/UNBOUNDED lower bounds paired with offset uppers (A4..A7 shapes)
    win4("q_qa_win_rows_bound_grid",
      """SELECT srv, cli, tz,
                CAST(count(tz) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                  ROWS BETWEEN 0 FOLLOWING AND 1 FOLLOWING) AS BIGINT) AS c_0f1f,
                CAST(sum(length(tz)) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                  ROWS BETWEEN 0 PRECEDING AND UNBOUNDED FOLLOWING) AS BIGINT) AS s_0puf,
                CAST(count(tz) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT) AS c_ub1p,
                CAST(sum(length(tz)) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 0 FOLLOWING) AS BIGINT) AS s_ub0f,
                first_value(tz) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS fv_ub1p,
                last_value(tz) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                  ROWS BETWEEN 0 FOLLOWING AND 1 FOLLOWING) AS lv_0f1f
         FROM w ORDER BY cli, srv, tz, t12"""),
    // UNPARTITIONED window (W2/W4 variants: `WINDOW w AS (ORDER BY ...)`)
    win4("q_qa_win_rows_unpartitioned",
      """SELECT srv, cli, tz,
                CAST(sum(length(tz)) OVER (ORDER BY cli, srv, tz, t12
                  ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS BIGINT) AS s_g,
                CAST(count(tz) OVER (ORDER BY cli, srv, tz, t12
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT) AS c_g,
                first_value(tz) OVER (ORDER BY cli, srv, tz, t12
                  ROWS BETWEEN 1 PRECEDING AND UNBOUNDED FOLLOWING) AS fv_g
         FROM w ORDER BY cli, srv, tz, t12"""),
    // EXPRESSION order keys with mixed ASC/DESC (W5/W6 variants: length()
    // and arithmetic-cast keys before the group-key tail)
    win4("q_qa_win_rows_expr_orderkeys",
      """SELECT srv, cli, tz,
                CAST(sum(n) OVER (PARTITION BY cli
                  ORDER BY length(tz) DESC, CAST(srv AS DOUBLE)+0.123 ASC, tz, t12
                  ROWS BETWEEN 1 PRECEDING AND 0 FOLLOWING) AS BIGINT) AS s_e,
                CAST(count(*) OVER (PARTITION BY cli
                  ORDER BY length(tz) DESC, srv DESC, tz, t12
                  ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS BIGINT) AS c_e,
                last_value(tz) OVER (PARTITION BY cli
                  ORDER BY length(tz), srv, tz DESC, t12
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 0 FOLLOWING) AS lv_e
         FROM w ORDER BY cli, srv, tz, t12"""),
    // frame WITHOUT ORDER BY (W7 variants `PARTITION BY cli ROWS BETWEEN 1
    // PRECEDING AND UNBOUNDED FOLLOWING`): which row gets which count is
    // order-dependent, but the per-partition count MULTISET is not —
    // project (cli, cnt) only and let the order-insensitive compare pin it
    win4("q_qa_win_rows_frame_no_order",
      """SELECT cli,
                CAST(count(*) OVER (PARTITION BY cli
                  ROWS BETWEEN 1 PRECEDING AND UNBOUNDED FOLLOWING) AS BIGINT) AS c_nf
         FROM w ORDER BY cli, c_nf"""),
    // GROUP BY + WINDOW in ONE query block (every corpus variant windows
    // over the grouped output with aggregate-expression window args)
    win4("q_qa_win_groupby_window_block",
      """SELECT cli, srv,
                CAST(sum(sum(n)) OVER (PARTITION BY cli ORDER BY srv
                  ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS BIGINT) AS s_run,
                CAST(count(*) OVER (PARTITION BY cli ORDER BY srv
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 FOLLOWING) AS BIGINT) AS c_look
         FROM w GROUP BY cli, srv ORDER BY cli, srv"""),
    // sql_select_count / sql_limit_offset / sql_union_all wraps: counting
    // a PAGED windowed subquery (LIMIT/OFFSET applied before the count),
    // count(col) over a NULL-bearing window output, and window results
    // consumed through UNION ALL
    win4("q_qa_win_count_paged_union",
      """SELECT kind, c FROM (
           SELECT 'lim' AS kind, CAST(count(*) AS BIGINT) AS c FROM (
             SELECT first_value(tz) OVER (PARTITION BY cli ORDER BY srv, tz, t12) AS fv
             FROM w LIMIT 7) z1
           UNION ALL
           SELECT 'off' AS kind, CAST(count(*) AS BIGINT) AS c FROM (
             SELECT first_value(tz) OVER (PARTITION BY cli ORDER BY srv, tz, t12) AS fv
             FROM w LIMIT 100 OFFSET 3) z2
           UNION ALL
           SELECT 'cntcol' AS kind, CAST(count(fv) AS BIGINT) AS c FROM (
             SELECT CASE WHEN tz = '0' THEN NULL ELSE
               first_value(tz) OVER (PARTITION BY cli ORDER BY srv, tz, t12) END AS fv
             FROM w) z3
           UNION ALL
           SELECT 'uall' AS kind, CAST(count(*) AS BIGINT) AS c FROM (
             SELECT last_value(tz) OVER (PARTITION BY cli ORDER BY srv, tz, t12) AS v
             FROM w
             UNION ALL
             SELECT first_value(tz) OVER (PARTITION BY cli ORDER BY srv, tz, t12) AS v
             FROM w) z4) u
         ORDER BY kind"""))

  val gates: Seq[Gate] = Seq(

    // ------------------------------------------------- qaWin frame matrix ----
    // (reference qaWin orderby_{rows,range}_* suites: the systematic frame
    // boundary matrix — both-preceding / both-following / zero-width /
    // unbounded-to-preceding frames over ROWS, and value-offset RANGE
    // frames — in one pinned query over a deterministic inner aggregate)
    Gate.spark("q_qa_win_frame_matrix",
      """
        WITH base AS (
          SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
          FROM events WHERE user_id < 50
          GROUP BY user_id, event_type)
        SELECT user_id, event_type, n,
          CAST(sum(n) OVER (PARTITION BY user_id ORDER BY event_type
            ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS BIGINT) AS s_1p_cur,
          CAST(sum(n) OVER (PARTITION BY user_id ORDER BY event_type
            ROWS BETWEEN CURRENT ROW AND 1 FOLLOWING) AS BIGINT) AS s_cur_1f,
          CAST(sum(n) OVER (PARTITION BY user_id ORDER BY event_type
            ROWS BETWEEN 0 PRECEDING AND 0 FOLLOWING) AS BIGINT) AS s_zero,
          CAST(sum(n) OVER (PARTITION BY user_id ORDER BY event_type
            ROWS BETWEEN 2 PRECEDING AND 1 PRECEDING) AS BIGINT) AS s_2p_1p,
          CAST(sum(n) OVER (PARTITION BY user_id ORDER BY event_type
            ROWS BETWEEN 1 FOLLOWING AND 2 FOLLOWING) AS BIGINT) AS s_1f_2f,
          CAST(sum(n) OVER (PARTITION BY user_id ORDER BY n
            RANGE BETWEEN 1 PRECEDING AND CURRENT ROW) AS BIGINT) AS s_rng_1p,
          CAST(sum(n) OVER (PARTITION BY user_id ORDER BY n
            RANGE BETWEEN CURRENT ROW AND 1 FOLLOWING) AS BIGINT) AS s_rng_1f,
          CAST(count(*) OVER (PARTITION BY user_id ORDER BY event_type
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT) AS c_ub_1p,
          CAST(count(*) OVER (PARTITION BY user_id ORDER BY event_type
            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS BIGINT) AS c_1f_ub,
          first_value(n) OVER (PARTITION BY user_id ORDER BY event_type
            ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS fv,
          last_value(n) OVER (PARTITION BY user_id ORDER BY event_type
            ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS lv
        FROM base ORDER BY user_id, event_type""",
      """WITH base AS (
           SELECT user_id, event_type, count(*) AS n
           FROM events WHERE user_id < 50
           GROUP BY user_id, event_type)
         SELECT user_id, event_type, CAST(n AS BIGINT) AS n,
           CAST(sum(n) OVER (PARTITION BY user_id ORDER BY event_type
             ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS BIGINT) AS s_1p_cur,
           CAST(sum(n) OVER (PARTITION BY user_id ORDER BY event_type
             ROWS BETWEEN CURRENT ROW AND 1 FOLLOWING) AS BIGINT) AS s_cur_1f,
           CAST(sum(n) OVER (PARTITION BY user_id ORDER BY event_type
             ROWS BETWEEN 0 PRECEDING AND 0 FOLLOWING) AS BIGINT) AS s_zero,
           CAST(sum(n) OVER (PARTITION BY user_id ORDER BY event_type
             ROWS BETWEEN 2 PRECEDING AND 1 PRECEDING) AS BIGINT) AS s_2p_1p,
           CAST(sum(n) OVER (PARTITION BY user_id ORDER BY event_type
             ROWS BETWEEN 1 FOLLOWING AND 2 FOLLOWING) AS BIGINT) AS s_1f_2f,
           CAST(sum(n) OVER (PARTITION BY user_id ORDER BY n
             RANGE BETWEEN 1 PRECEDING AND CURRENT ROW) AS BIGINT) AS s_rng_1p,
           CAST(sum(n) OVER (PARTITION BY user_id ORDER BY n
             RANGE BETWEEN CURRENT ROW AND 1 FOLLOWING) AS BIGINT) AS s_rng_1f,
           CAST(count(*) OVER (PARTITION BY user_id ORDER BY event_type
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT) AS c_ub_1p,
           CAST(count(*) OVER (PARTITION BY user_id ORDER BY event_type
             ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS BIGINT) AS c_1f_ub,
           CAST(first_value(n) OVER (PARTITION BY user_id ORDER BY event_type
             ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS BIGINT) AS fv,
           CAST(last_value(n) OVER (PARTITION BY user_id ORDER BY event_type
             ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS BIGINT) AS lv
         FROM base ORDER BY user_id, event_type"""),

    // ------------------------------------------------------ qaWin corpus ----
    // (reference quidem-ut qaWin: the 501-file frame-boundary battery —
    // orderby_{rows,range}_<bound>_{first_last,sum_count}.*.iq and
    // basics_window_func_in_func.all.iq — window frames over a GROUP-BY
    // derived subquery of the windowed kttm table. The shapes are ported
    // onto an equivalent deterministic GROUP-BY slice of `events`; within
    // each PARTITION BY cli the (srv, tz, t12) tuple is the group key, so
    // the multi-key ORDER BY is a total order and first/last values are
    // deterministic. The corpus's RANGE-with-offset-over-multi-key error
    // battery (orderby_range_1_preceding_*.iq: 49/50 !error) is pinned in
    // SqlApiSpec — Spark rejects the same shapes at analysis.)
    Gate.spark("q_qa_win_rows_ub_prec",
      s"""
        WITH w AS ($winSparkBase)
        SELECT srv, cli, tz, t12,
               CAST(sum(length(tz)) OVER (PARTITION BY cli
                 ORDER BY srv, tz, t12 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sum_val,
               count(tz) OVER (PARTITION BY cli
                 ORDER BY srv, tz, t12 ROWS UNBOUNDED PRECEDING) AS cnt_val
        FROM w ORDER BY cli, srv, tz, t12""",
      s"""WITH w AS ($winDuckBase)
          SELECT srv, cli, tz, t12,
                 CAST(sum(length(tz)) OVER (PARTITION BY cli
                   ORDER BY srv, tz, t12 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sum_val,
                 count(tz) OVER (PARTITION BY cli
                   ORDER BY srv, tz, t12 ROWS UNBOUNDED PRECEDING) AS cnt_val
          FROM w ORDER BY cli, srv, tz, t12"""),

    // orderby_rows_{1_preceding,0_preceding,1_following,ub_*}_first_last:
    // empty frames at both partition edges must yield NULL, 0 PRECEDING/
    // 0 FOLLOWING must parse as CURRENT ROW
    Gate.spark("q_qa_win_rows_frames_first_last",
      s"""
        WITH w AS ($winSparkBase)
        SELECT srv, cli, tz, t12,
               first_value(tz) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                 ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS fv_1p,
               last_value(tz) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                 ROWS BETWEEN 0 PRECEDING AND 0 FOLLOWING) AS lv_00,
               first_value(tz) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS fv_1f,
               last_value(tz) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lv_ubp
        FROM w ORDER BY cli, srv, tz, t12""",
      s"""WITH w AS ($winDuckBase)
          SELECT srv, cli, tz, t12,
                 first_value(tz) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                   ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS fv_1p,
                 last_value(tz) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                   ROWS BETWEEN 0 PRECEDING AND 0 FOLLOWING) AS lv_00,
                 first_value(tz) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS fv_1f,
                 last_value(tz) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lv_ubp
          FROM w ORDER BY cli, srv, tz, t12"""),

    // orderby_rows_1_{preceding,following}_sum_count + the
    // strictly-ahead frame (2 FOLLOWING AND 3 FOLLOWING): sum over an
    // empty frame is NULL while count is 0
    Gate.spark("q_qa_win_rows_sliding_sum",
      s"""
        WITH w AS ($winSparkBase)
        SELECT srv, cli, tz, t12,
               CAST(sum(n) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                 ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS BIGINT) AS s_11,
               CAST(sum(n) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                 ROWS BETWEEN 2 FOLLOWING AND 3 FOLLOWING) AS BIGINT) AS s_23,
               count(n) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                 ROWS BETWEEN 2 FOLLOWING AND 3 FOLLOWING) AS c_23
        FROM w ORDER BY cli, srv, tz, t12""",
      s"""WITH w AS ($winDuckBase)
          SELECT srv, cli, tz, t12,
                 CAST(sum(n) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                   ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS BIGINT) AS s_11,
                 CAST(sum(n) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                   ROWS BETWEEN 2 FOLLOWING AND 3 FOLLOWING) AS BIGINT) AS s_23,
                 count(n) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                   ROWS BETWEEN 2 FOLLOWING AND 3 FOLLOWING) AS c_23
          FROM w ORDER BY cli, srv, tz, t12"""),

    // orderby_range_{current,ub_preceding,ub_following}_sum_count over a
    // tie-heavy single ORDER BY key: RANGE frames are peer-group frames,
    // so every row of a tz tie class gets the whole class's sum/count
    Gate.spark("q_qa_win_range_peers",
      s"""
        WITH w AS ($winSparkBase)
        SELECT srv, cli, tz, t12,
               CAST(sum(n) OVER (PARTITION BY cli ORDER BY tz
                 RANGE BETWEEN CURRENT ROW AND CURRENT ROW) AS BIGINT) AS peer_sum,
               count(*) OVER (PARTITION BY cli ORDER BY tz
                 RANGE BETWEEN CURRENT ROW AND CURRENT ROW) AS peer_cnt,
               CAST(sum(n) OVER (PARTITION BY cli ORDER BY tz
                 RANGE UNBOUNDED PRECEDING) AS BIGINT) AS cum_peer_sum,
               CAST(sum(n) OVER (PARTITION BY cli ORDER BY tz
                 RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS rev_peer_sum
        FROM w ORDER BY cli, srv, tz, t12""",
      s"""WITH w AS ($winDuckBase)
          SELECT srv, cli, tz, t12,
                 CAST(sum(n) OVER (PARTITION BY cli ORDER BY tz
                   RANGE BETWEEN CURRENT ROW AND CURRENT ROW) AS BIGINT) AS peer_sum,
                 count(*) OVER (PARTITION BY cli ORDER BY tz
                   RANGE BETWEEN CURRENT ROW AND CURRENT ROW) AS peer_cnt,
                 CAST(sum(n) OVER (PARTITION BY cli ORDER BY tz
                   RANGE UNBOUNDED PRECEDING) AS BIGINT) AS cum_peer_sum,
                 CAST(sum(n) OVER (PARTITION BY cli ORDER BY tz
                   RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS rev_peer_sum
          FROM w ORDER BY cli, srv, tz, t12"""),

    // basics_window_func_in_func A1_W1_G1: scalar function wrapping a
    // window aggregate whose argument is itself a function call
    Gate.spark("q_qa_win_func_in_func",
      s"""
        WITH w AS ($winSparkBase)
        SELECT srv, cli, tz, t12,
               CAST(floor(avg(length(cli)) OVER (PARTITION BY cli
                 ORDER BY srv, tz, t12)) AS BIGINT) AS c
        FROM w ORDER BY cli, srv, tz, t12""",
      s"""WITH w AS ($winDuckBase)
          SELECT srv, cli, tz, t12,
                 CAST(floor(avg(length(cli)) OVER (PARTITION BY cli
                   ORDER BY srv, tz, t12)) AS BIGINT) AS c
          FROM w ORDER BY cli, srv, tz, t12"""),

    // ------------------- qaWin round-11 depth (501-file corpus families) ----
    // orderby_range_{0,1}_{preceding,following}_sum_count over a SINGLE
    // numeric sort key — the corpus's positive RANGE-offset cases (the
    // multi-key ones are its 49/50 !error battery, pinned in SqlApiSpec):
    // a value-offset frame spans VALUE distance, not row distance, so tie
    // classes and value gaps behave differently from ROWS
    Gate.spark("q_qa_win_range_numeric_offset",
      s"""
        WITH w AS ($winSparkBase)
        SELECT srv, cli, tz, t12,
               CAST(sum(n) OVER (PARTITION BY cli ORDER BY srv
                 RANGE BETWEEN 1 PRECEDING AND CURRENT ROW) AS BIGINT) AS s_1p,
               CAST(sum(n) OVER (PARTITION BY cli ORDER BY srv
                 RANGE BETWEEN CURRENT ROW AND 1 FOLLOWING) AS BIGINT) AS s_1f,
               count(*) OVER (PARTITION BY cli ORDER BY srv
                 RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS c_11,
               CAST(sum(n) OVER (PARTITION BY cli ORDER BY srv
                 RANGE BETWEEN 0 PRECEDING AND 0 FOLLOWING) AS BIGINT) AS s_00
        FROM w ORDER BY cli, srv, tz, t12""",
      s"""WITH w AS ($winDuckBase)
          SELECT srv, cli, tz, t12,
                 CAST(sum(n) OVER (PARTITION BY cli ORDER BY srv
                   RANGE BETWEEN 1 PRECEDING AND CURRENT ROW) AS BIGINT) AS s_1p,
                 CAST(sum(n) OVER (PARTITION BY cli ORDER BY srv
                   RANGE BETWEEN CURRENT ROW AND 1 FOLLOWING) AS BIGINT) AS s_1f,
                 count(*) OVER (PARTITION BY cli ORDER BY srv
                   RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS c_11,
                 CAST(sum(n) OVER (PARTITION BY cli ORDER BY srv
                   RANGE BETWEEN 0 PRECEDING AND 0 FOLLOWING) AS BIGINT) AS s_00
          FROM w ORDER BY cli, srv, tz, t12"""),

    // RANGE with INTERVAL offsets over the timestamp sort key (the corpus
    // sorts on time_floor(__time, 'PT12H'); a 12-hour offset spans exactly
    // one bucket, a 1-day offset two)
    Gate.spark("q_qa_win_range_interval",
      s"""
        WITH w AS ($winSparkBase)
        SELECT srv, cli, tz, t12,
               CAST(sum(n) OVER (PARTITION BY cli ORDER BY t12
                 RANGE BETWEEN INTERVAL 12 HOURS PRECEDING AND CURRENT ROW) AS BIGINT) AS s_12h,
               count(*) OVER (PARTITION BY cli ORDER BY t12
                 RANGE BETWEEN INTERVAL 24 HOURS PRECEDING AND INTERVAL 12 HOURS FOLLOWING) AS c_day
        FROM w ORDER BY cli, srv, tz, t12""",
      s"""WITH w AS ($winDuckBase)
          SELECT srv, cli, tz, t12,
                 CAST(sum(n) OVER (PARTITION BY cli ORDER BY t12
                   RANGE BETWEEN INTERVAL 12 HOURS PRECEDING AND CURRENT ROW) AS BIGINT) AS s_12h,
                 count(*) OVER (PARTITION BY cli ORDER BY t12
                   RANGE BETWEEN INTERVAL 24 HOURS PRECEDING AND INTERVAL 12 HOURS FOLLOWING) AS c_day
          FROM w ORDER BY cli, srv, tz, t12"""),

    // orderby_range_{current,ub_following}_first_last: FIRST/LAST over peer
    // frames — the default RANGE..CURRENT frame ends at the current PEER
    // CLASS (the classic last_value surprise), and CURRENT..UNBOUNDED
    // starts at the class head
    Gate.spark("q_qa_win_range_first_last_peers",
      s"""
        WITH w AS ($winSparkBase)
        SELECT srv, cli, tz, t12,
               first_value(tz) OVER (PARTITION BY cli ORDER BY tz
                 RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS fv_cur_ubf,
               last_value(tz) OVER (PARTITION BY cli ORDER BY tz
                 RANGE BETWEEN CURRENT ROW AND CURRENT ROW) AS lv_peer,
               last_value(tz) OVER (PARTITION BY cli ORDER BY tz) AS lv_default,
               first_value(tz) OVER (PARTITION BY cli ORDER BY tz
                 RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS fv_all
        FROM w ORDER BY cli, srv, tz, t12""",
      s"""WITH w AS ($winDuckBase)
          SELECT srv, cli, tz, t12,
                 first_value(tz) OVER (PARTITION BY cli ORDER BY tz
                   RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS fv_cur_ubf,
                 last_value(tz) OVER (PARTITION BY cli ORDER BY tz
                   RANGE BETWEEN CURRENT ROW AND CURRENT ROW) AS lv_peer,
                 last_value(tz) OVER (PARTITION BY cli ORDER BY tz) AS lv_default,
                 first_value(tz) OVER (PARTITION BY cli ORDER BY tz
                   RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS fv_all
          FROM w ORDER BY cli, srv, tz, t12"""),

    // basics_window_funcs NTILE edges: NTILE(1) is constant, NTILE(k) for
    // k > partition size gives each row its own bucket 1..cnt, NTILE(3)
    // spreads remainders into the FIRST buckets
    Gate.spark("q_qa_win_ntile_edges",
      s"""
        WITH w AS ($winSparkBase)
        SELECT srv, cli, tz, t12,
               CAST(NTILE(1) OVER (PARTITION BY cli ORDER BY srv, tz, t12) AS BIGINT) AS nt1,
               CAST(NTILE(3) OVER (PARTITION BY cli ORDER BY srv, tz, t12) AS BIGINT) AS nt3,
               CAST(NTILE(100) OVER (PARTITION BY cli ORDER BY srv, tz, t12) AS BIGINT) AS nt_big,
               CAST(NTILE(7) OVER (ORDER BY cli, srv, tz, t12) AS BIGINT) AS nt_glob
        FROM w ORDER BY cli, srv, tz, t12""",
      s"""WITH w AS ($winDuckBase)
          SELECT srv, cli, tz, t12,
                 CAST(NTILE(1) OVER (PARTITION BY cli ORDER BY srv, tz, t12) AS BIGINT) AS nt1,
                 CAST(NTILE(3) OVER (PARTITION BY cli ORDER BY srv, tz, t12) AS BIGINT) AS nt3,
                 CAST(NTILE(100) OVER (PARTITION BY cli ORDER BY srv, tz, t12) AS BIGINT) AS nt_big,
                 CAST(NTILE(7) OVER (ORDER BY cli, srv, tz, t12) AS BIGINT) AS nt_glob
          FROM w ORDER BY cli, srv, tz, t12"""),

    // IGNORE NULLS × explicit frames (the corpus's first_last families all
    // run RESPECT and IGNORE variants): a bounded frame can contain ONLY
    // nulls, in which case IGNORE NULLS yields NULL even mid-partition.
    // Spark spells it `f(x) IGNORE NULLS OVER`, DuckDB `f(x IGNORE NULLS)`.
    Gate.spark("q_qa_win_ignore_nulls_frames",
      s"""
        WITH w AS ($winSparkBase)
        SELECT srv, cli, tz, t12, v,
               first_value(v) IGNORE NULLS OVER (PARTITION BY cli
                 ORDER BY srv, tz, t12
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fv_nn,
               last_value(v) IGNORE NULLS OVER (PARTITION BY cli
                 ORDER BY srv, tz, t12
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS lv_nn,
               nth_value(v, 2) IGNORE NULLS OVER (PARTITION BY cli
                 ORDER BY srv, tz, t12
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS nth_nn
        FROM (SELECT *, CASE WHEN srv = 1 THEN NULL ELSE tz END AS v FROM w)
        ORDER BY cli, srv, tz, t12""",
      s"""WITH w AS ($winDuckBase)
          SELECT srv, cli, tz, t12, v,
                 first_value(v IGNORE NULLS) OVER (PARTITION BY cli
                   ORDER BY srv, tz, t12
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fv_nn,
                 last_value(v IGNORE NULLS) OVER (PARTITION BY cli
                   ORDER BY srv, tz, t12
                   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS lv_nn,
                 nth_value(v, 2 IGNORE NULLS) OVER (PARTITION BY cli
                   ORDER BY srv, tz, t12
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS nth_nn
          FROM (SELECT *, CASE WHEN srv = 1 THEN NULL ELSE tz END AS v FROM w)
          ORDER BY cli, srv, tz, t12"""),

    // NTH_VALUE under cumulative / sliding / whole-partition frames — the
    // frame decides WHICH rows are numbered, so nth over a slide moves
    Gate.spark("q_qa_win_nth_value",
      s"""
        WITH w AS ($winSparkBase)
        SELECT srv, cli, tz, t12,
               nth_value(tz, 2) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nth2_cum,
               nth_value(tz, 3) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                 ROWS BETWEEN 2 PRECEDING AND 1 FOLLOWING) AS nth3_slide,
               nth_value(tz, 1) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS nth1_all
        FROM w ORDER BY cli, srv, tz, t12""",
      s"""WITH w AS ($winDuckBase)
          SELECT srv, cli, tz, t12,
                 nth_value(tz, 2) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nth2_cum,
                 nth_value(tz, 3) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                   ROWS BETWEEN 2 PRECEDING AND 1 FOLLOWING) AS nth3_slide,
                 nth_value(tz, 1) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS nth1_all
          FROM w ORDER BY cli, srv, tz, t12"""),

    // window over a correlated UNNEST (qaUnnest × qaWin): the partition key
    // IS the unnested value — candidate rows multiply before windowing
    Gate.spark("q_qa_win_over_unnest",
      """
        SELECT word, p_partkey,
               CAST(count(*) OVER (PARTITION BY word) AS BIGINT) AS word_cnt,
               CAST(row_number() OVER (PARTITION BY word ORDER BY p_partkey) AS BIGINT) AS rn,
               CAST(sum(p_partkey) OVER (PARTITION BY word ORDER BY p_partkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_key
        FROM (SELECT p_partkey, word
              FROM part LATERAL VIEW explode(split(p_name, ' ')) t AS word
              WHERE p_partkey <= 200) x
        ORDER BY word, p_partkey""",
      """SELECT word, p_partkey,
                CAST(count(*) OVER (PARTITION BY word) AS BIGINT) AS word_cnt,
                CAST(row_number() OVER (PARTITION BY word ORDER BY p_partkey) AS BIGINT) AS rn,
                CAST(sum(p_partkey) OVER (PARTITION BY word ORDER BY p_partkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_key
         FROM (SELECT p_partkey, unnest(string_split(p_name, ' ')) AS word
               FROM part WHERE p_partkey <= 200) x
         ORDER BY word, p_partkey"""),

    // sql_union_all family: windows straddling a UNION ALL of two sources
    Gate.spark("q_qa_win_over_union",
      """
        WITH u AS (
          SELECT 'c' AS src, CAST(c_nationkey AS BIGINT) AS k, c_custkey AS id
          FROM customer WHERE c_custkey <= 150
          UNION ALL
          SELECT 's' AS src, CAST(s_nationkey AS BIGINT) AS k, s_suppkey AS id
          FROM supplier)
        SELECT src, k, id,
               CAST(count(*) OVER (PARTITION BY k) AS BIGINT) AS k_cnt,
               CAST(row_number() OVER (PARTITION BY k ORDER BY src, id) AS BIGINT) AS rn,
               CAST(sum(id) OVER (PARTITION BY src ORDER BY id) AS BIGINT) AS cum_id
        FROM u ORDER BY k, src, id"""),

    // basics_multi_windows: six windows with distinct partitionings, frame
    // modes, and an empty OVER () in one projection
    Gate.spark("q_qa_win_multi_windows",
      s"""
        WITH w AS ($winSparkBase)
        SELECT srv, cli, tz, t12,
               CAST(rank() OVER (PARTITION BY cli ORDER BY srv, tz, t12) AS BIGINT) AS r1,
               CAST(dense_rank() OVER (PARTITION BY tz ORDER BY cli, srv, t12) AS BIGINT) AS r2,
               CAST(sum(n) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS s1,
               CAST(sum(n) OVER (PARTITION BY tz ORDER BY cli, srv, t12
                 RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS s2,
               CAST(count(*) OVER () AS BIGINT) AS total,
               CAST(min(srv) OVER (PARTITION BY cli, tz) AS BIGINT) AS m1
        FROM w ORDER BY cli, srv, tz, t12""",
      s"""WITH w AS ($winDuckBase)
          SELECT srv, cli, tz, t12,
                 CAST(rank() OVER (PARTITION BY cli ORDER BY srv, tz, t12) AS BIGINT) AS r1,
                 CAST(dense_rank() OVER (PARTITION BY tz ORDER BY cli, srv, t12) AS BIGINT) AS r2,
                 CAST(sum(n) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS s1,
                 CAST(sum(n) OVER (PARTITION BY tz ORDER BY cli, srv, t12
                   RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS s2,
                 CAST(count(*) OVER () AS BIGINT) AS total,
                 CAST(min(srv) OVER (PARTITION BY cli, tz) AS BIGINT) AS m1
          FROM w ORDER BY cli, srv, tz, t12"""),

    // sql_limit_offset: LIMIT/OFFSET applied AFTER window evaluation — the
    // cumulative sums must reflect the full input, not the page
    Gate.spark("q_qa_win_limit_offset",
      s"""
        WITH w AS ($winSparkBase)
        SELECT cli, srv, tz, t12,
               CAST(row_number() OVER (ORDER BY cli, srv, tz, t12) AS BIGINT) AS rn,
               CAST(sum(n) OVER (ORDER BY cli, srv, tz, t12
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        FROM w ORDER BY cli, srv, tz, t12 LIMIT 10 OFFSET 5""",
      s"""WITH w AS ($winDuckBase)
          SELECT cli, srv, tz, t12,
                 CAST(row_number() OVER (ORDER BY cli, srv, tz, t12) AS BIGINT) AS rn,
                 CAST(sum(n) OVER (ORDER BY cli, srv, tz, t12
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
          FROM w ORDER BY cli, srv, tz, t12 LIMIT 10 OFFSET 5"""),

    // sql_select_distinct: DISTINCT over whole-partition window outputs
    // collapses each partition to one row
    Gate.spark("q_qa_win_distinct",
      s"""
        WITH w AS ($winSparkBase)
        SELECT DISTINCT cli,
               CAST(count(*) OVER (PARTITION BY cli) AS BIGINT) AS cnt,
               CAST(sum(n) OVER (PARTITION BY cli) AS BIGINT) AS s
        FROM w ORDER BY cli""",
      s"""WITH w AS ($winDuckBase)
          SELECT DISTINCT cli,
                 CAST(count(*) OVER (PARTITION BY cli) AS BIGINT) AS cnt,
                 CAST(sum(n) OVER (PARTITION BY cli) AS BIGINT) AS s
          FROM w ORDER BY cli"""),

    // basics_data_types_and_exprs: window aggregates over string, timestamp
    // and numeric arguments in one projection
    Gate.spark("q_qa_win_datatypes",
      s"""
        WITH w AS ($winSparkBase)
        SELECT srv, cli, tz, t12,
               min(tz) OVER (PARTITION BY cli) AS min_str,
               max(t12) OVER (PARTITION BY cli) AS max_ts,
               CAST(max(n) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                 ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS BIGINT) AS max_n,
               CAST(count(t12) OVER (PARTITION BY cli ORDER BY srv, tz, t12) AS BIGINT) AS c_ts
        FROM w ORDER BY cli, srv, tz, t12""",
      s"""WITH w AS ($winDuckBase)
          SELECT srv, cli, tz, t12,
                 min(tz) OVER (PARTITION BY cli) AS min_str,
                 max(t12) OVER (PARTITION BY cli) AS max_ts,
                 CAST(max(n) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                   ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS BIGINT) AS max_n,
                 CAST(count(t12) OVER (PARTITION BY cli ORDER BY srv, tz, t12) AS BIGINT) AS c_ts
          FROM w ORDER BY cli, srv, tz, t12"""),

    // basics_order_by_nulls_first_last: explicit NULLS FIRST/LAST inside
    // window ORDER BY over a null-bearing expression (engine defaults
    // differ — Spark asc=nulls-first, DuckDB asc=nulls-last)
    Gate.spark("q_qa_win_nulls_order",
      s"""
        WITH w AS ($winSparkBase)
        SELECT srv, cli, tz, t12, v,
               CAST(row_number() OVER (PARTITION BY cli
                 ORDER BY v ASC NULLS LAST, srv, tz, t12) AS BIGINT) AS rn_nl,
               CAST(row_number() OVER (PARTITION BY cli
                 ORDER BY v DESC NULLS FIRST, srv, tz, t12) AS BIGINT) AS rn_nf,
               first_value(v) OVER (PARTITION BY cli
                 ORDER BY v ASC NULLS FIRST, srv, tz, t12) AS fv_nf
        FROM (SELECT *, CASE WHEN srv = 0 THEN NULL ELSE tz END AS v FROM w)
        ORDER BY cli, srv, tz, t12""",
      s"""WITH w AS ($winDuckBase)
          SELECT srv, cli, tz, t12, v,
                 CAST(row_number() OVER (PARTITION BY cli
                   ORDER BY v ASC NULLS LAST, srv, tz, t12) AS BIGINT) AS rn_nl,
                 CAST(row_number() OVER (PARTITION BY cli
                   ORDER BY v DESC NULLS FIRST, srv, tz, t12) AS BIGINT) AS rn_nf,
                 first_value(v) OVER (PARTITION BY cli
                   ORDER BY v ASC NULLS FIRST, srv, tz, t12) AS fv_nf
          FROM (SELECT *, CASE WHEN srv = 0 THEN NULL ELSE tz END AS v FROM w)
          ORDER BY cli, srv, tz, t12"""),

    // sql_subquery_with_where: outer WHERE over rank fractions computed in
    // a subquery (rank pages, percent_rank/cume_dist round-pinned)
    Gate.spark("q_qa_win_rank_subq_filter",
      s"""
        WITH w AS ($winSparkBase)
        SELECT * FROM (
          SELECT cli, srv, tz, t12,
                 CAST(rank() OVER (PARTITION BY cli ORDER BY srv, tz, t12) AS BIGINT) AS rk,
                 round(percent_rank() OVER (PARTITION BY cli ORDER BY srv, tz, t12), 6) AS pr,
                 round(cume_dist() OVER (PARTITION BY cli ORDER BY srv, tz, t12), 6) AS cd
          FROM w) x
        WHERE rk <= 3 ORDER BY cli, rk, srv, tz, t12""",
      s"""WITH w AS ($winDuckBase)
          SELECT * FROM (
            SELECT cli, srv, tz, t12,
                   CAST(rank() OVER (PARTITION BY cli ORDER BY srv, tz, t12) AS BIGINT) AS rk,
                   round(percent_rank() OVER (PARTITION BY cli ORDER BY srv, tz, t12), 6) AS pr,
                   round(cume_dist() OVER (PARTITION BY cli ORDER BY srv, tz, t12), 6) AS cd
            FROM w) x
          WHERE rk <= 3 ORDER BY cli, rk, srv, tz, t12"""),

    // orderby DESC families: value-offset RANGE frames over a DESCENDING
    // numeric key — "preceding" walks toward larger values
    Gate.spark("q_qa_win_desc_range",
      s"""
        WITH w AS ($winSparkBase)
        SELECT srv, cli, tz, t12,
               CAST(sum(n) OVER (PARTITION BY cli ORDER BY srv DESC
                 RANGE BETWEEN 1 PRECEDING AND CURRENT ROW) AS BIGINT) AS s_1p,
               first_value(srv) OVER (PARTITION BY cli ORDER BY srv DESC) AS fv_desc,
               last_value(srv) OVER (PARTITION BY cli ORDER BY srv DESC
                 RANGE BETWEEN CURRENT ROW AND CURRENT ROW) AS lv_peer_desc
        FROM w ORDER BY cli, srv, tz, t12""",
      s"""WITH w AS ($winDuckBase)
          SELECT srv, cli, tz, t12,
                 CAST(sum(n) OVER (PARTITION BY cli ORDER BY srv DESC
                   RANGE BETWEEN 1 PRECEDING AND CURRENT ROW) AS BIGINT) AS s_1p,
                 first_value(srv) OVER (PARTITION BY cli ORDER BY srv DESC) AS fv_desc,
                 last_value(srv) OVER (PARTITION BY cli ORDER BY srv DESC
                   RANGE BETWEEN CURRENT ROW AND CURRENT ROW) AS lv_peer_desc
          FROM w ORDER BY cli, srv, tz, t12"""),

    // basics_window_and_aggr: window aggregates whose ARGUMENTS are
    // expressions (arithmetic, CASE, function calls) — not bare columns
    Gate.spark("q_qa_win_expr_args",
      s"""
        WITH w AS ($winSparkBase)
        SELECT srv, cli, tz, t12,
               CAST(sum(n * 2 + 1) OVER (PARTITION BY cli
                 ORDER BY srv, tz, t12) AS BIGINT) AS s_arith,
               CAST(sum(CASE WHEN srv = 0 THEN n ELSE 0 END) OVER (
                 PARTITION BY cli ORDER BY srv, tz, t12) AS BIGINT) AS s_case,
               CAST(max(length(tz) + srv) OVER (PARTITION BY cli) AS BIGINT) AS m_fn
        FROM w ORDER BY cli, srv, tz, t12""",
      s"""WITH w AS ($winDuckBase)
          SELECT srv, cli, tz, t12,
                 CAST(sum(n * 2 + 1) OVER (PARTITION BY cli
                   ORDER BY srv, tz, t12) AS BIGINT) AS s_arith,
                 CAST(sum(CASE WHEN srv = 0 THEN n ELSE 0 END) OVER (
                   PARTITION BY cli ORDER BY srv, tz, t12) AS BIGINT) AS s_case,
                 CAST(max(length(tz) + srv) OVER (PARTITION BY cli) AS BIGINT) AS m_fn
          FROM w ORDER BY cli, srv, tz, t12"""),

    // sql_subquery_with_where pagination idiom: global row_number paged
    // with BETWEEN in the outer query
    Gate.spark("q_qa_win_pagination",
      s"""
        WITH w AS ($winSparkBase)
        SELECT * FROM (
          SELECT cli, srv, tz, t12,
                 CAST(row_number() OVER (ORDER BY cli, srv, tz, t12) AS BIGINT) AS rn
          FROM w) x
        WHERE rn BETWEEN 6 AND 15 ORDER BY rn""",
      s"""WITH w AS ($winDuckBase)
          SELECT * FROM (
            SELECT cli, srv, tz, t12,
                   CAST(row_number() OVER (ORDER BY cli, srv, tz, t12) AS BIGINT) AS rn
            FROM w) x
          WHERE rn BETWEEN 6 AND 15 ORDER BY rn"""),

    // LEAD/LAG with typed defaults (string default, zero offset ≡ current
    // row, timestamp argument)
    Gate.spark("q_qa_win_lead_lag_typed",
      s"""
        WITH w AS ($winSparkBase)
        SELECT srv, cli, tz, t12,
               lead(tz, 1, 'none') OVER (PARTITION BY cli
                 ORDER BY srv, tz, t12) AS next_tz,
               lag(tz, 0) OVER (PARTITION BY cli
                 ORDER BY srv, tz, t12) AS self_tz,
               lag(t12, 2) OVER (PARTITION BY cli
                 ORDER BY srv, tz, t12) AS t12_back2
        FROM w ORDER BY cli, srv, tz, t12""",
      s"""WITH w AS ($winDuckBase)
          SELECT srv, cli, tz, t12,
                 lead(tz, 1, 'none') OVER (PARTITION BY cli
                   ORDER BY srv, tz, t12) AS next_tz,
                 lag(tz, 0) OVER (PARTITION BY cli
                   ORDER BY srv, tz, t12) AS self_tz,
                 lag(t12, 2) OVER (PARTITION BY cli
                   ORDER BY srv, tz, t12) AS t12_back2
          FROM w ORDER BY cli, srv, tz, t12"""),

    // stacked windows: an outer window over an inner window's output
    // (rank of running sums)
    Gate.spark("q_qa_win_stacked",
      s"""
        WITH w AS ($winSparkBase),
        inner_w AS (
          SELECT srv, cli, tz, t12,
                 CAST(sum(n) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run
          FROM w)
        SELECT srv, cli, tz, t12, run,
               CAST(rank() OVER (PARTITION BY cli ORDER BY run DESC, srv, tz, t12)
                 AS BIGINT) AS run_rank,
               CAST(sum(run) OVER (PARTITION BY cli) AS BIGINT) AS run_total
        FROM inner_w ORDER BY cli, srv, tz, t12""",
      s"""WITH w AS ($winDuckBase),
          inner_w AS (
            SELECT srv, cli, tz, t12,
                   CAST(sum(n) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run
            FROM w)
          SELECT srv, cli, tz, t12, run,
                 CAST(rank() OVER (PARTITION BY cli ORDER BY run DESC, srv, tz, t12)
                   AS BIGINT) AS run_rank,
                 CAST(sum(run) OVER (PARTITION BY cli) AS BIGINT) AS run_total
          FROM inner_w ORDER BY cli, srv, tz, t12"""),

    // tie-heavy rank fractions: percent_rank/cume_dist where the whole
    // partition can be one tie class
    Gate.spark("q_qa_win_tie_fractions",
      s"""
        WITH w AS ($winSparkBase)
        SELECT srv, cli, tz, t12,
               round(percent_rank() OVER (PARTITION BY cli ORDER BY srv), 6) AS pr,
               round(cume_dist() OVER (PARTITION BY cli ORDER BY srv), 6) AS cd,
               CAST(dense_rank() OVER (PARTITION BY cli ORDER BY srv) AS BIGINT) AS dr
        FROM w ORDER BY cli, srv, tz, t12""",
      s"""WITH w AS ($winDuckBase)
          SELECT srv, cli, tz, t12,
                 round(percent_rank() OVER (PARTITION BY cli ORDER BY srv), 6) AS pr,
                 round(cume_dist() OVER (PARTITION BY cli ORDER BY srv), 6) AS cd,
                 CAST(dense_rank() OVER (PARTITION BY cli ORDER BY srv) AS BIGINT) AS dr
          FROM w ORDER BY cli, srv, tz, t12"""),

    // basics_group_by: a window ranking GROUP BY aggregates, under HAVING
    Gate.spark("q_qa_win_group_by_having",
      s"""
        WITH w AS ($winSparkBase)
        SELECT cli, CAST(sum(n) AS BIGINT) AS tot,
               CAST(rank() OVER (ORDER BY CAST(sum(n) AS BIGINT) DESC, cli) AS BIGINT) AS rk
        FROM w GROUP BY cli HAVING sum(n) > 1
        ORDER BY rk, cli""",
      s"""WITH w AS ($winDuckBase)
          SELECT cli, CAST(sum(n) AS BIGINT) AS tot,
                 CAST(rank() OVER (ORDER BY CAST(sum(n) AS BIGINT) DESC, cli) AS BIGINT) AS rk
          FROM w GROUP BY cli HAVING sum(n) > 1
          ORDER BY rk, cli"""),

    // ------------------- qaWin round-13 depth (501-file corpus families) ----
    // sql_join family (sql_join.01.*.iq A1_G1_Q3): two windowed subqueries
    // self-joined on a non-partition key — every window must be computed
    // BEFORE the join multiplies rows, so the per-side first/last/cnt
    // values replicate, not recompute, across the join fanout
    Gate.spark("q_qa_win_join_self",
      s"""
        WITH w AS ($winSparkBase),
        win AS (
          SELECT srv, cli, tz, t12,
                 first_value(tz) OVER (PARTITION BY cli
                   ORDER BY srv, tz, t12) AS fv,
                 last_value(tz) OVER (PARTITION BY cli
                   ORDER BY srv, tz, t12) AS lv,
                 CAST(count(tz) OVER (PARTITION BY cli
                   ORDER BY srv, tz, t12) AS BIGINT) AS cnt
          FROM w)
        SELECT CAST(count(*) AS BIGINT) AS c,
               CAST(sum(t1.cnt + t2.cnt) AS BIGINT) AS s_cnt,
               CAST(sum(CASE WHEN t1.fv = t2.fv THEN 1 ELSE 0 END) AS BIGINT) AS same_fv,
               CAST(sum(CASE WHEN t1.lv = t2.lv THEN 1 ELSE 0 END) AS BIGINT) AS same_lv
        FROM win t1 INNER JOIN win t2 ON t1.srv = t2.srv""",
      s"""WITH w AS ($winDuckBase),
          win AS (
            SELECT srv, cli, tz, t12,
                   first_value(tz) OVER (PARTITION BY cli
                     ORDER BY srv, tz, t12) AS fv,
                   last_value(tz) OVER (PARTITION BY cli
                     ORDER BY srv, tz, t12) AS lv,
                   CAST(count(tz) OVER (PARTITION BY cli
                     ORDER BY srv, tz, t12) AS BIGINT) AS cnt
            FROM w)
          SELECT CAST(count(*) AS BIGINT) AS c,
                 CAST(sum(t1.cnt + t2.cnt) AS BIGINT) AS s_cnt,
                 CAST(sum(CASE WHEN t1.fv = t2.fv THEN 1 ELSE 0 END) AS BIGINT) AS same_fv,
                 CAST(sum(CASE WHEN t1.lv = t2.lv THEN 1 ELSE 0 END) AS BIGINT) AS same_lv
          FROM win t1 INNER JOIN win t2 ON t1.srv = t2.srv"""),

    // sql_subquery_with_where A1_G2_Q1: window functions in the SAME query
    // block as GROUP BY — evaluated over the grouped output, so the running
    // count(tz) numbers group rows, not raw rows
    Gate.spark("q_qa_win_groupby_running",
      """
        SELECT user_id % 3 AS srv, event_type AS cli,
               CAST(user_id % 5 AS STRING) AS tz,
               first_value(CAST(user_id % 5 AS STRING)) OVER (
                 PARTITION BY event_type
                 ORDER BY user_id % 3, CAST(user_id % 5 AS STRING)) AS fv,
               last_value(CAST(user_id % 5 AS STRING)) OVER (
                 PARTITION BY event_type
                 ORDER BY user_id % 3, CAST(user_id % 5 AS STRING)) AS lv,
               CAST(count(CAST(user_id % 5 AS STRING)) OVER (
                 PARTITION BY event_type
                 ORDER BY user_id % 3, CAST(user_id % 5 AS STRING)) AS BIGINT) AS cnt
        FROM events WHERE user_id < 12
        GROUP BY user_id % 3, event_type, CAST(user_id % 5 AS STRING)
        ORDER BY cli, srv, tz""",
      """SELECT user_id % 3 AS srv, event_type AS cli,
                CAST(user_id % 5 AS VARCHAR) AS tz,
                first_value(CAST(user_id % 5 AS VARCHAR)) OVER (
                  PARTITION BY event_type
                  ORDER BY user_id % 3, CAST(user_id % 5 AS VARCHAR)) AS fv,
                last_value(CAST(user_id % 5 AS VARCHAR)) OVER (
                  PARTITION BY event_type
                  ORDER BY user_id % 3, CAST(user_id % 5 AS VARCHAR)) AS lv,
                CAST(count(CAST(user_id % 5 AS VARCHAR)) OVER (
                  PARTITION BY event_type
                  ORDER BY user_id % 3, CAST(user_id % 5 AS VARCHAR)) AS BIGINT) AS cnt
         FROM events WHERE user_id < 12
         GROUP BY user_id % 3, event_type, CAST(user_id % 5 AS VARCHAR)
         ORDER BY cli, srv, tz"""),

    // sql_union_all A1_G2_Q1: UNION ALL of the source with itself, then
    // GROUP BY + running window in the same block — the union doubles raw
    // rows but grouping collapses them back, so window output matches the
    // single-source shape while any count(*) aggregate doubles
    Gate.spark("q_qa_win_union_groupby",
      """
        SELECT user_id % 3 AS srv, event_type AS cli,
               CAST(count(*) AS BIGINT) AS n,
               CAST(count(*) OVER (PARTITION BY event_type
                 ORDER BY user_id % 3) AS BIGINT) AS run_cnt,
               CAST(sum(count(*)) OVER (PARTITION BY event_type
                 ORDER BY user_id % 3) AS BIGINT) AS run_sum
        FROM (SELECT * FROM events WHERE user_id < 12
              UNION ALL
              SELECT * FROM events WHERE user_id < 12)
        GROUP BY user_id % 3, event_type
        ORDER BY cli, srv"""),

    // basics_window_and_aggr A1_G1_Q2: a named WINDOW clause shared by
    // several functions (row_number / sum / first_value all OVER w)
    Gate.spark("q_qa_win_named_window",
      s"""
        WITH w AS ($winSparkBase)
        SELECT srv, cli, tz, t12,
               CAST(row_number() OVER win AS BIGINT) AS rn,
               CAST(sum(n) OVER win AS BIGINT) AS cum,
               first_value(tz) OVER win AS fv
        FROM w
        WINDOW win AS (PARTITION BY cli ORDER BY srv, tz, t12)
        ORDER BY cli, srv, tz, t12""",
      s"""WITH w AS ($winDuckBase)
          SELECT srv, cli, tz, t12,
                 CAST(row_number() OVER win AS BIGINT) AS rn,
                 CAST(sum(n) OVER win AS BIGINT) AS cum,
                 first_value(tz) OVER win AS fv
          FROM w
          WINDOW win AS (PARTITION BY cli ORDER BY srv, tz, t12)
          ORDER BY cli, srv, tz, t12"""),

    // mixed frame modes in ONE projection: a ROWS slide, a value-RANGE
    // frame, and a GROUPS frame (peer-class offsets). Spark has no GROUPS
    // frame mode, so it is emulated exactly as operators.Windows does —
    // dense_rank as the peer-class ordinal, then a value-RANGE over it
    // (DuckDB parses but does not implement GROUPS either, so the oracle
    // states the same peer-class definition through dense_rank)
    Gate.spark("q_qa_win_mixed_frames",
      s"""
        WITH w AS ($winSparkBase)
        SELECT srv, cli, tz, t12,
               CAST(sum(n) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                 ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS BIGINT) AS s_rows,
               CAST(sum(n) OVER (PARTITION BY cli ORDER BY srv
                 RANGE BETWEEN 1 PRECEDING AND CURRENT ROW) AS BIGINT) AS s_range,
               CAST(sum(n) OVER (PARTITION BY cli ORDER BY dr
                 RANGE BETWEEN 1 PRECEDING AND CURRENT ROW) AS BIGINT) AS s_groups
        FROM (SELECT srv, cli, tz, t12, n,
                     dense_rank() OVER (PARTITION BY cli ORDER BY srv) AS dr
              FROM w) g
        ORDER BY cli, srv, tz, t12""",
      s"""WITH w AS ($winDuckBase)
          SELECT srv, cli, tz, t12,
                 CAST(sum(n) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                   ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS BIGINT) AS s_rows,
                 CAST(sum(n) OVER (PARTITION BY cli ORDER BY srv
                   RANGE BETWEEN 1 PRECEDING AND CURRENT ROW) AS BIGINT) AS s_range,
                 CAST(sum(n) OVER (PARTITION BY cli ORDER BY dr
                   RANGE BETWEEN 1 PRECEDING AND CURRENT ROW) AS BIGINT) AS s_groups
          FROM (SELECT *, dense_rank() OVER (PARTITION BY cli ORDER BY srv) AS dr
                FROM w) g
          ORDER BY cli, srv, tz, t12"""),

    // orderby_range_*_first_last over tz-floored time across DST
    // boundaries: daily America/New_York buckets of `orders` are 23 h apart
    // at spring-forward and 25 h at fall-back, so a RANGE INTERVAL 1 DAY
    // PRECEDING frame INCLUDES the previous bucket on 23 h days but
    // EXCLUDES it on 25 h days — a fixed-24 h mental model gets both wrong
    Gate("q_qa_win_range_interval_dst", (s, dir) => {
      val daily = t(s, dir)("orders")
        .groupBy(graft.operators.Windows
          .timeFloorZone(col("o_orderdate").cast("timestamp"), "P1D",
            "America/New_York").as("bucket"))
        .agg(count(lit(1)).cast("long").as("n"))
      daily.createOrReplaceTempView("ny_daily")
      s.sql("""
        SELECT bucket, n,
               CAST(first_value(n) OVER (ORDER BY bucket
                 RANGE BETWEEN INTERVAL 1 DAY PRECEDING AND CURRENT ROW) AS BIGINT) AS fv_day,
               CAST(count(*) OVER (ORDER BY bucket
                 RANGE BETWEEN INTERVAL 1 DAY PRECEDING AND CURRENT ROW) AS BIGINT) AS c_day
        FROM ny_daily ORDER BY bucket""")
    },
      """WITH ny_daily AS (
           SELECT ((date_trunc('day', (CAST(o_orderdate AS TIMESTAMP)
                      AT TIME ZONE 'UTC') AT TIME ZONE 'America/New_York'))
                    AT TIME ZONE 'America/New_York') AT TIME ZONE 'UTC' AS bucket,
                  CAST(count(*) AS BIGINT) AS n
           FROM orders GROUP BY 1)
         SELECT bucket, n,
                CAST(first_value(n) OVER (ORDER BY bucket
                  RANGE BETWEEN INTERVAL 1 DAY PRECEDING AND CURRENT ROW) AS BIGINT) AS fv_day,
                CAST(count(*) OVER (ORDER BY bucket
                  RANGE BETWEEN INTERVAL 1 DAY PRECEDING AND CURRENT ROW) AS BIGINT) AS c_day
         FROM ny_daily ORDER BY bucket"""),

    // basics_window_funcs percentile edges: percent_rank is 0 for the
    // single row of a 1-row partition (denominator n-1 = 0), cume_dist
    // counts the whole peer class, NTILE(2) on a 1-row partition is 1
    Gate.spark("q_qa_win_percent_edges",
      s"""
        WITH w AS ($winSparkBase)
        SELECT srv, cli, tz, t12,
               round(percent_rank() OVER (PARTITION BY cli, tz
                 ORDER BY srv, t12), 6) AS pr,
               round(cume_dist() OVER (PARTITION BY cli, tz
                 ORDER BY srv), 6) AS cd_peers,
               CAST(ntile(2) OVER (PARTITION BY cli, tz
                 ORDER BY srv, t12) AS BIGINT) AS nt2
        FROM w ORDER BY cli, srv, tz, t12""",
      s"""WITH w AS ($winDuckBase)
          SELECT srv, cli, tz, t12,
                 round(percent_rank() OVER (PARTITION BY cli, tz
                   ORDER BY srv, t12), 6) AS pr,
                 round(cume_dist() OVER (PARTITION BY cli, tz
                   ORDER BY srv), 6) AS cd_peers,
                 CAST(ntile(2) OVER (PARTITION BY cli, tz
                   ORDER BY srv, t12) AS BIGINT) AS nt2
          FROM w ORDER BY cli, srv, tz, t12"""),

    // frames that can be EMPTY: entirely-preceding and entirely-following
    // ROWS frames yield count 0 / sum NULL at the partition edges — the
    // corpus's 0_preceding/0_following suites pin exactly this boundary
    Gate.spark("q_qa_win_empty_frames",
      s"""
        WITH w AS ($winSparkBase)
        SELECT srv, cli, tz, t12,
               CAST(sum(n) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                 ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS BIGINT) AS s_back,
               CAST(count(*) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                 ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS BIGINT) AS c_back,
               CAST(sum(n) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                 ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING) AS BIGINT) AS s_fwd,
               CAST(count(*) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                 ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING) AS BIGINT) AS c_fwd
        FROM w ORDER BY cli, srv, tz, t12""",
      s"""WITH w AS ($winDuckBase)
          SELECT srv, cli, tz, t12,
                 CAST(sum(n) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                   ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS BIGINT) AS s_back,
                 CAST(count(*) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                   ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS BIGINT) AS c_back,
                 CAST(sum(n) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                   ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING) AS BIGINT) AS s_fwd,
                 CAST(count(*) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                   ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING) AS BIGINT) AS c_fwd
          FROM w ORDER BY cli, srv, tz, t12"""),

    // the corpus's signature multi-key ORDER BY with EXPRESSION sort keys
    // (server_ip ASC, length(server_ip) ASC, cast(length(server_ip) AS
    // DOUBLE)+0.123 ASC, timezone, time_floor): redundant derived keys must
    // not perturb the ordering or the frame contents
    Gate.spark("q_qa_win_multi_sortkey_expr",
      s"""
        WITH w AS ($winSparkBase)
        SELECT srv, cli, tz, t12,
               first_value(tz) OVER (PARTITION BY cli
                 ORDER BY srv ASC, length(tz) ASC,
                          CAST(length(tz) AS DOUBLE) + 0.123 ASC,
                          tz, t12) AS fv,
               last_value(tz) OVER (PARTITION BY cli
                 ORDER BY srv ASC, length(tz) ASC,
                          CAST(length(tz) AS DOUBLE) + 0.123 ASC,
                          tz, t12) AS lv,
               CAST(count(tz) OVER (PARTITION BY cli
                 ORDER BY srv ASC, length(tz) ASC,
                          CAST(length(tz) AS DOUBLE) + 0.123 ASC,
                          tz, t12) AS BIGINT) AS cnt
        FROM w ORDER BY cli, srv, tz, t12""",
      s"""WITH w AS ($winDuckBase)
          SELECT srv, cli, tz, t12,
                 first_value(tz) OVER (PARTITION BY cli
                   ORDER BY srv ASC, length(tz) ASC,
                            CAST(length(tz) AS DOUBLE) + 0.123 ASC,
                            tz, t12) AS fv,
                 last_value(tz) OVER (PARTITION BY cli
                   ORDER BY srv ASC, length(tz) ASC,
                            CAST(length(tz) AS DOUBLE) + 0.123 ASC,
                            tz, t12) AS lv,
                 CAST(count(tz) OVER (PARTITION BY cli
                   ORDER BY srv ASC, length(tz) ASC,
                            CAST(length(tz) AS DOUBLE) + 0.123 ASC,
                            tz, t12) AS BIGINT) AS cnt
          FROM w ORDER BY cli, srv, tz, t12"""),

    // basics_window_func_in_func, deeper: scalar functions OVER window
    // results — length(first_value(..)), concat of two different windows,
    // and arithmetic combining two window aggregates in one expression
    Gate.spark("q_qa_win_scalar_chain",
      s"""
        WITH w AS ($winSparkBase)
        SELECT srv, cli, tz, t12,
               CAST(length(first_value(tz) OVER (PARTITION BY cli
                 ORDER BY srv, tz, t12)) AS BIGINT) AS len_fv,
               concat(first_value(tz) OVER (PARTITION BY cli
                        ORDER BY srv, tz, t12), '|',
                      last_value(tz) OVER (PARTITION BY cli
                        ORDER BY srv, tz, t12)) AS fv_lv,
               CAST(sum(n) OVER (PARTITION BY cli ORDER BY srv, tz, t12)
                    - count(*) OVER (PARTITION BY cli ORDER BY srv, tz, t12)
                 AS BIGINT) AS sum_minus_cnt
        FROM w ORDER BY cli, srv, tz, t12""",
      s"""WITH w AS ($winDuckBase)
          SELECT srv, cli, tz, t12,
                 CAST(length(first_value(tz) OVER (PARTITION BY cli
                   ORDER BY srv, tz, t12)) AS BIGINT) AS len_fv,
                 concat(first_value(tz) OVER (PARTITION BY cli
                          ORDER BY srv, tz, t12), '|',
                        last_value(tz) OVER (PARTITION BY cli
                          ORDER BY srv, tz, t12)) AS fv_lv,
                 CAST(sum(n) OVER (PARTITION BY cli ORDER BY srv, tz, t12)
                      - count(*) OVER (PARTITION BY cli ORDER BY srv, tz, t12)
                   AS BIGINT) AS sum_minus_cnt
          FROM w ORDER BY cli, srv, tz, t12"""),

    // Drill bugs/drill-3210: SELECT * star expansion alongside named-window
    // aggregates, plus a SECOND independent window function whose alias
    // drives the outer ORDER BY (both were planner NPEs in Drill — pinned
    // as value semantics; Spark requires the window in the projection,
    // ordered by its alias)
    Gate.spark("q_drill_window_star_orderby",
      """
        SELECT *, CAST(sum(n) OVER w AS BIGINT) AS s,
               CAST(count(n) OVER w AS BIGINT) AS c,
               CAST(rank() OVER (PARTITION BY b1 ORDER BY n, c1) AS BIGINT) AS rk
        FROM (SELECT user_id % 3 AS b1, event_type AS c1,
                     CAST(count(*) AS BIGINT) AS n
              FROM events WHERE user_id < 9
              GROUP BY user_id % 3, event_type) t
        WINDOW w AS (PARTITION BY b1 ORDER BY c1 DESC)
        ORDER BY rk, b1, c1""",
      """SELECT *, CAST(sum(n) OVER w AS BIGINT) AS s,
                CAST(count(n) OVER w AS BIGINT) AS c,
                CAST(rank() OVER (PARTITION BY b1 ORDER BY n, c1) AS BIGINT) AS rk
         FROM (SELECT user_id % 3 AS b1, event_type AS c1,
                      count(*) AS n
               FROM events WHERE user_id < 9
               GROUP BY user_id % 3, event_type) t
         WINDOW w AS (PARTITION BY b1 ORDER BY c1 DESC)
         ORDER BY rk, b1, c1"""),

    // druid_queries/array_concat_agg: ARRAY-collecting aggregates AS WINDOW
    // functions — the whole-partition list is attached to every row of the
    // partition (sorted + joined so the value is deterministic); the empty
    // OVER () variant collects across the entire input
    Gate.spark("q_drill_window_list_agg",
      """
        SELECT grp, cli, n,
               array_join(array_sort(collect_list(cli) OVER
                 (PARTITION BY grp)), '|') AS part_list,
               array_join(array_sort(collect_list(cli) OVER ()), '|') AS all_list
        FROM (SELECT user_id % 3 AS grp, event_type AS cli,
                     CAST(count(*) AS BIGINT) AS n
              FROM events WHERE user_id < 9
              GROUP BY user_id % 3, event_type) g
        ORDER BY grp, cli""",
      """SELECT grp, cli, n,
                array_to_string(list_sort(list(cli) OVER
                  (PARTITION BY grp)), '|') AS part_list,
                array_to_string(list_sort(list(cli) OVER ()), '|') AS all_list
         FROM (SELECT user_id % 3 AS grp, event_type AS cli,
                      count(*) AS n
               FROM events WHERE user_id < 9
               GROUP BY user_id % 3, event_type) g
         ORDER BY grp, cli"""),

    // sql_select_count: a plain aggregate over the OUTPUT of a windowed
    // subquery — the window evaluates fully before the outer count/sum,
    // even when the outer query keeps none of the window's input columns
    Gate.spark("q_qa_win_agg_over_window",
      s"""
        WITH w AS ($winSparkBase)
        SELECT CAST(count(*) AS BIGINT) AS c,
               CAST(sum(rn) AS BIGINT) AS sum_rn,
               CAST(max(cum) AS BIGINT) AS max_cum,
               CAST(count(DISTINCT fv) AS BIGINT) AS nd_fv
        FROM (SELECT row_number() OVER (PARTITION BY cli
                       ORDER BY srv, tz, t12) AS rn,
                     sum(n) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                     first_value(tz) OVER (PARTITION BY cli
                       ORDER BY srv, tz, t12) AS fv
              FROM w) x""",
      s"""WITH w AS ($winDuckBase)
          SELECT count(*) AS c,
                 CAST(sum(rn) AS BIGINT) AS sum_rn,
                 CAST(max(cum) AS BIGINT) AS max_cum,
                 count(DISTINCT fv) AS nd_fv
          FROM (SELECT row_number() OVER (PARTITION BY cli
                         ORDER BY srv, tz, t12) AS rn,
                       sum(n) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                       first_value(tz) OVER (PARTITION BY cli
                         ORDER BY srv, tz, t12) AS fv
                FROM w) x"""),

    // basics_order_by_nulls_first_last with MIXED directions in ONE window:
    // ASC NULLS LAST then DESC NULLS FIRST on later keys, under a bounded
    // frame — the null placement of EACH key independently shapes frames
    Gate.spark("q_qa_win_mixed_null_dirs",
      s"""
        WITH w AS ($winSparkBase)
        SELECT srv, cli, tz, t12, v,
               CAST(row_number() OVER (PARTITION BY cli
                 ORDER BY v ASC NULLS LAST, srv DESC, tz, t12) AS BIGINT) AS rn_mix,
               CAST(sum(n) OVER (PARTITION BY cli
                 ORDER BY v ASC NULLS LAST, srv DESC, tz, t12
                 ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS BIGINT) AS s_mix,
               last_value(v) OVER (PARTITION BY cli
                 ORDER BY v DESC NULLS FIRST, srv, tz, t12
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lv_nf
        FROM (SELECT *, CASE WHEN srv = 2 THEN NULL ELSE tz END AS v FROM w)
        ORDER BY cli, srv, tz, t12""",
      s"""WITH w AS ($winDuckBase)
          SELECT srv, cli, tz, t12, v,
                 CAST(row_number() OVER (PARTITION BY cli
                   ORDER BY v ASC NULLS LAST, srv DESC, tz, t12) AS BIGINT) AS rn_mix,
                 CAST(sum(n) OVER (PARTITION BY cli
                   ORDER BY v ASC NULLS LAST, srv DESC, tz, t12
                   ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS BIGINT) AS s_mix,
                 last_value(v) OVER (PARTITION BY cli
                   ORDER BY v DESC NULLS FIRST, srv, tz, t12
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lv_nf
          FROM (SELECT *, CASE WHEN srv = 2 THEN NULL ELSE tz END AS v FROM w)
          ORDER BY cli, srv, tz, t12"""),

    // Drill statistical_aggregates over SLIDING frames: running sample
    // variance/stddev over a 3-row window — partials must combine exactly
    // (rounded identically on both sides)
    Gate.spark("q_drill_window_var_sliding",
      s"""
        WITH w AS ($winSparkBase)
        SELECT srv, cli, tz, t12,
               round(var_samp(n) OVER (PARTITION BY cli
                 ORDER BY srv, tz, t12
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS vs3,
               round(stddev_pop(n) OVER (PARTITION BY cli
                 ORDER BY srv, tz, t12
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS sp3,
               round(avg(n) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS a3
        FROM w ORDER BY cli, srv, tz, t12""",
      s"""WITH w AS ($winDuckBase)
          SELECT srv, cli, tz, t12,
                 round(var_samp(n) OVER (PARTITION BY cli
                   ORDER BY srv, tz, t12
                   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS vs3,
                 round(stddev_pop(n) OVER (PARTITION BY cli
                   ORDER BY srv, tz, t12
                   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS sp3,
                 round(avg(n) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS a3
          FROM w ORDER BY cli, srv, tz, t12"""),

    // unnest → GROUP BY → window: running aggregates over the GROUPED
    // output of an exploded array (qaUnnest × window composition)
    Gate.spark("q_qa_unnest_group_window",
      """
        SELECT word, n,
               CAST(row_number() OVER (ORDER BY n DESC, word) AS BIGINT) AS rk,
               CAST(sum(n) OVER (ORDER BY n DESC, word
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        FROM (SELECT word, CAST(count(*) AS BIGINT) AS n
              FROM part LATERAL VIEW explode(split(p_name, ' ')) t AS word
              WHERE p_partkey <= 300
              GROUP BY word) g
        ORDER BY rk""",
      """SELECT word, n,
                CAST(row_number() OVER (ORDER BY n DESC, word) AS BIGINT) AS rk,
                CAST(sum(n) OVER (ORDER BY n DESC, word
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         FROM (SELECT word, count(*) AS n
               FROM (SELECT unnest(string_split(p_name, ' ')) AS word
                     FROM part WHERE p_partkey <= 300)
               GROUP BY word) g
         ORDER BY rk"""),

    // the systematic RANGE-offset edge matrix the orderby_range_* corpus
    // sweeps: both-PRECEDING and both-FOLLOWING value windows (can be
    // EMPTY when no row lands in the value interval), UNBOUNDED-to-offset
    // hybrids, and FIRST/LAST over a symmetric value window — value
    // distance, not row distance, decides membership everywhere
    Gate.spark("q_qa_win_range_matrix_full",
      s"""
        WITH w AS ($winSparkBase)
        SELECT srv, cli, tz, t12,
               CAST(sum(n) OVER (PARTITION BY cli ORDER BY srv
                 RANGE BETWEEN 2 PRECEDING AND 1 PRECEDING) AS BIGINT) AS s_2p_1p,
               CAST(sum(n) OVER (PARTITION BY cli ORDER BY srv
                 RANGE BETWEEN 1 FOLLOWING AND 2 FOLLOWING) AS BIGINT) AS s_1f_2f,
               CAST(count(*) OVER (PARTITION BY cli ORDER BY srv
                 RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT) AS c_ub_1p,
               CAST(count(*) OVER (PARTITION BY cli ORDER BY srv
                 RANGE BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS BIGINT) AS c_1f_ub,
               first_value(srv) OVER (PARTITION BY cli ORDER BY srv
                 RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS fv_sym,
               last_value(srv) OVER (PARTITION BY cli ORDER BY srv
                 RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS lv_sym
        FROM w ORDER BY cli, srv, tz, t12""",
      s"""WITH w AS ($winDuckBase)
          SELECT srv, cli, tz, t12,
                 CAST(sum(n) OVER (PARTITION BY cli ORDER BY srv
                   RANGE BETWEEN 2 PRECEDING AND 1 PRECEDING) AS BIGINT) AS s_2p_1p,
                 CAST(sum(n) OVER (PARTITION BY cli ORDER BY srv
                   RANGE BETWEEN 1 FOLLOWING AND 2 FOLLOWING) AS BIGINT) AS s_1f_2f,
                 CAST(count(*) OVER (PARTITION BY cli ORDER BY srv
                   RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT) AS c_ub_1p,
                 CAST(count(*) OVER (PARTITION BY cli ORDER BY srv
                   RANGE BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS BIGINT) AS c_1f_ub,
                 first_value(srv) OVER (PARTITION BY cli ORDER BY srv
                   RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS fv_sym,
                 last_value(srv) OVER (PARTITION BY cli ORDER BY srv
                   RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS lv_sym
          FROM w ORDER BY cli, srv, tz, t12"""),

    // qaWin W-matrix: explicit ROWS/RANGE frames with PARTITION BY but NO
    // ORDER BY (reference `OVER (PARTITION BY client_ip ROWS ...)` /
    // `OVER (...)` specs) — limited to the order-insensitive frames
    // (current-row-only and whole-partition), which both engines define
    // deterministically without a sort key.
    Gate.spark("q_qa_win_frame_no_orderby",
      s"""
        WITH w AS ($winSparkBase)
        SELECT srv, cli, tz, t12,
               CAST(sum(n) OVER (PARTITION BY cli
                 ROWS BETWEEN CURRENT ROW AND CURRENT ROW) AS BIGINT) AS s_self,
               CAST(sum(n) OVER (PARTITION BY cli
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS BIGINT) AS s_part,
               CAST(count(*) OVER (PARTITION BY cli
                 RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS BIGINT) AS c_part,
               CAST(sum(n) OVER (
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS BIGINT) AS s_all,
               CAST(min(n) OVER (PARTITION BY cli
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS BIGINT) AS mn_part,
               CAST(max(n) OVER (
                 RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS BIGINT) AS mx_all
        FROM w ORDER BY cli, srv, tz, t12""",
      s"""WITH w AS ($winDuckBase)
          SELECT srv, cli, tz, t12,
                 CAST(sum(n) OVER (PARTITION BY cli
                   ROWS BETWEEN CURRENT ROW AND CURRENT ROW) AS BIGINT) AS s_self,
                 CAST(sum(n) OVER (PARTITION BY cli
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS BIGINT) AS s_part,
                 CAST(count(*) OVER (PARTITION BY cli
                   RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS BIGINT) AS c_part,
                 CAST(sum(n) OVER (
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS BIGINT) AS s_all,
                 CAST(min(n) OVER (PARTITION BY cli
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS BIGINT) AS mn_part,
                 CAST(max(n) OVER (
                   RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS BIGINT) AS mx_all
          FROM w ORDER BY cli, srv, tz, t12"""),

    // qaWin W-matrix `ORDER BY server_ip DESC, server_ip, ...`: the same key
    // repeated with conflicting directions — the FIRST occurrence governs
    // (later duplicates are no-op tie-breaks on an already-decided key), and
    // frames walk the resulting order.
    Gate.spark("q_qa_win_dup_sortkey",
      s"""
        WITH w AS ($winSparkBase)
        SELECT srv, cli, tz, t12,
               CAST(sum(n) OVER (PARTITION BY cli
                 ORDER BY srv DESC, srv, tz, t12
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS s_run,
               CAST(count(*) OVER (PARTITION BY cli
                 ORDER BY srv DESC, srv ASC, tz, t12
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT) AS c_ub_1p,
               first_value(tz) OVER (PARTITION BY cli
                 ORDER BY srv DESC, srv, tz, t12) AS fv,
               CAST(row_number() OVER (PARTITION BY cli
                 ORDER BY srv DESC, srv, tz, t12) AS BIGINT) AS rn
        FROM w ORDER BY cli, srv, tz, t12""",
      s"""WITH w AS ($winDuckBase)
          SELECT srv, cli, tz, t12,
                 CAST(sum(n) OVER (PARTITION BY cli
                   ORDER BY srv DESC, srv, tz, t12
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS s_run,
                 CAST(count(*) OVER (PARTITION BY cli
                   ORDER BY srv DESC, srv ASC, tz, t12
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT) AS c_ub_1p,
                 first_value(tz) OVER (PARTITION BY cli
                   ORDER BY srv DESC, srv, tz, t12) AS fv,
                 CAST(row_number() OVER (PARTITION BY cli
                   ORDER BY srv DESC, srv, tz, t12) AS BIGINT) AS rn
          FROM w ORDER BY cli, srv, tz, t12"""),

    // LEAD/LAG are NAVIGATION functions: they read physical row offsets in
    // the partition and IGNORE any frame clause on the shared window —
    // pinned by pairing them with a framed aggregate over the same named
    // 1-row frame (the aggregate sees only the frame; lag still reaches
    // outside it)
    Gate.spark("q_qa_win_lag_ignores_frame",
      s"""
        WITH w AS ($winSparkBase)
        SELECT srv, cli, tz, t12,
               CAST(lag(n, 2) OVER (PARTITION BY cli
                 ORDER BY srv, tz, t12) AS BIGINT) AS lag2,
               CAST(lead(n, 2) OVER (PARTITION BY cli
                 ORDER BY srv, tz, t12) AS BIGINT) AS lead2,
               CAST(sum(n) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                 ROWS BETWEEN CURRENT ROW AND CURRENT ROW) AS BIGINT) AS s_self
        FROM w ORDER BY cli, srv, tz, t12""",
      s"""WITH w AS ($winDuckBase)
          SELECT srv, cli, tz, t12,
                 CAST(lag(n, 2) OVER (PARTITION BY cli
                   ORDER BY srv, tz, t12) AS BIGINT) AS lag2,
                 CAST(lead(n, 2) OVER (PARTITION BY cli
                   ORDER BY srv, tz, t12) AS BIGINT) AS lead2,
                 CAST(sum(n) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                   ROWS BETWEEN CURRENT ROW AND CURRENT ROW) AS BIGINT) AS s_self
          FROM w ORDER BY cli, srv, tz, t12"""),

    // Drill frameclause/multipl_wnwds mulwind_01: a named window plus
    // inline windows with DESC NULLS FIRST and RANGE CURRENT ROW AND
    // CURRENT ROW peers, wrapped in a subquery FILTERED on one of the
    // window outputs — windows must evaluate before the outer predicate
    Gate.spark("q_drill_window_named_mixed",
      s"""
        WITH w AS ($winSparkBase)
        SELECT * FROM (
          SELECT srv, cli, tz, t12,
                 CAST(sum(n) OVER win AS BIGINT) AS w_sum,
                 CAST(min(n) OVER (PARTITION BY cli ORDER BY n DESC NULLS FIRST
                   RANGE BETWEEN CURRENT ROW AND CURRENT ROW) AS BIGINT) AS m_peer,
                 CAST(max(n) OVER (PARTITION BY cli ORDER BY n
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_max,
                 CAST(count(n) OVER win AS BIGINT) AS w_count,
                 last_value(tz) OVER win AS w_lval
          FROM w
          WINDOW win AS (PARTITION BY cli ORDER BY n DESC NULLS FIRST, srv, tz, t12
                         RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        ) subqry
        WHERE subqry.w_count > 3
        ORDER BY cli, srv, tz, t12""",
      s"""WITH w AS ($winDuckBase)
          SELECT * FROM (
            SELECT srv, cli, tz, t12,
                   CAST(sum(n) OVER win AS BIGINT) AS w_sum,
                   CAST(min(n) OVER (PARTITION BY cli ORDER BY n DESC NULLS FIRST
                     RANGE BETWEEN CURRENT ROW AND CURRENT ROW) AS BIGINT) AS m_peer,
                   CAST(max(n) OVER (PARTITION BY cli ORDER BY n
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_max,
                   CAST(count(n) OVER win AS BIGINT) AS w_count,
                   last_value(tz) OVER win AS w_lval
            FROM w
            WINDOW win AS (PARTITION BY cli ORDER BY n DESC NULLS FIRST, srv, tz, t12
                           RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
          ) subqry
          WHERE subqry.w_count > 3
          ORDER BY cli, srv, tz, t12"""),

    // Drill misc q15: the full ranking+aggregate battery over ONE shared
    // global (partition-less) named window ordered DESC
    Gate.spark("q_drill_window_all_funcs",
      s"""
        WITH w AS ($winSparkBase)
        SELECT srv, cli, tz, t12,
               CAST(sum(n) OVER win AS BIGINT) AS s,
               CAST(max(n) OVER win AS BIGINT) AS mx,
               CAST(min(n) OVER win AS BIGINT) AS mn,
               CAST(count(*) OVER win AS BIGINT) AS c,
               CAST(rank() OVER win AS BIGINT) AS rk,
               CAST(dense_rank() OVER win AS BIGINT) AS drk,
               round(percent_rank() OVER win, 6) AS pr,
               round(cume_dist() OVER win, 6) AS cd,
               CAST(row_number() OVER win AS BIGINT) AS rn
        FROM w
        WINDOW win AS (ORDER BY n DESC, cli, srv, tz, t12)
        ORDER BY cli, srv, tz, t12""",
      s"""WITH w AS ($winDuckBase)
          SELECT srv, cli, tz, t12,
                 CAST(sum(n) OVER win AS BIGINT) AS s,
                 CAST(max(n) OVER win AS BIGINT) AS mx,
                 CAST(min(n) OVER win AS BIGINT) AS mn,
                 CAST(count(*) OVER win AS BIGINT) AS c,
                 CAST(rank() OVER win AS BIGINT) AS rk,
                 CAST(dense_rank() OVER win AS BIGINT) AS drk,
                 round(percent_rank() OVER win, 6) AS pr,
                 round(cume_dist() OVER win, 6) AS cd,
                 CAST(row_number() OVER win AS BIGINT) AS rn
          FROM w
          WINDOW win AS (ORDER BY n DESC, cli, srv, tz, t12)
          ORDER BY cli, srv, tz, t12"""),

    // Drill statistical_aggregates + empty-partition variants: sample
    // variance over a 1-row partition is NULL, population variance 0
    Gate.spark("q_drill_window_var_stat",
      s"""
        WITH w AS ($winSparkBase)
        SELECT srv, cli, tz, t12,
               round(var_samp(n) OVER (PARTITION BY cli, tz), 6) AS vs,
               round(var_pop(n) OVER (PARTITION BY cli, tz), 6) AS vp,
               round(stddev_samp(n) OVER (PARTITION BY cli, tz), 6) AS sd,
               CAST(count(*) OVER (PARTITION BY cli, tz) AS BIGINT) AS np
        FROM w ORDER BY cli, srv, tz, t12""",
      s"""WITH w AS ($winDuckBase)
          SELECT srv, cli, tz, t12,
                 round(var_samp(n) OVER (PARTITION BY cli, tz), 6) AS vs,
                 round(var_pop(n) OVER (PARTITION BY cli, tz), 6) AS vp,
                 round(stddev_samp(n) OVER (PARTITION BY cli, tz), 6) AS sd,
                 CAST(count(*) OVER (PARTITION BY cli, tz) AS BIGINT) AS np
          FROM w ORDER BY cli, srv, tz, t12"""),

    // Drill frameclause/subQueries frmInSubQry: a framed running sum
    // computed in a subquery, aggregated by the OUTER query — the frame
    // result is an input column to a plain GROUP BY
    Gate.spark("q_drill_window_frame_in_subq",
      s"""
        WITH w AS ($winSparkBase)
        SELECT cli, CAST(max(run) AS BIGINT) AS max_run,
               CAST(sum(run) AS BIGINT) AS sum_run,
               CAST(count(*) AS BIGINT) AS n_rows
        FROM (SELECT cli,
                     sum(n) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                       ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS run
              FROM w) x
        GROUP BY cli ORDER BY cli""",
      s"""WITH w AS ($winDuckBase)
          SELECT cli, CAST(max(run) AS BIGINT) AS max_run,
                 CAST(sum(run) AS BIGINT) AS sum_run,
                 CAST(count(*) AS BIGINT) AS n_rows
          FROM (SELECT cli,
                       sum(n) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS run
                FROM w) x
          GROUP BY cli ORDER BY cli"""),

    // DESC time-ordered RANGE INTERVAL frame: "PRECEDING" under DESC walks
    // toward LARGER timestamps, so the 12-hour bound faces the other way
    Gate.spark("q_qa_win_range_interval_desc",
      s"""
        WITH w AS ($winSparkBase)
        SELECT srv, cli, tz, t12,
               CAST(sum(n) OVER (PARTITION BY cli ORDER BY t12 DESC
                 RANGE BETWEEN INTERVAL 12 HOURS PRECEDING AND CURRENT ROW) AS BIGINT) AS s_12h,
               CAST(count(*) OVER (PARTITION BY cli ORDER BY t12 DESC
                 RANGE BETWEEN INTERVAL 12 HOURS PRECEDING
                           AND INTERVAL 12 HOURS FOLLOWING) AS BIGINT) AS c_24h
        FROM w ORDER BY cli, srv, tz, t12""",
      s"""WITH w AS ($winDuckBase)
          SELECT srv, cli, tz, t12,
                 CAST(sum(n) OVER (PARTITION BY cli ORDER BY t12 DESC
                   RANGE BETWEEN INTERVAL 12 HOURS PRECEDING AND CURRENT ROW) AS BIGINT) AS s_12h,
                 CAST(count(*) OVER (PARTITION BY cli ORDER BY t12 DESC
                   RANGE BETWEEN INTERVAL 12 HOURS PRECEDING
                             AND INTERVAL 12 HOURS FOLLOWING) AS BIGINT) AS c_24h
          FROM w ORDER BY cli, srv, tz, t12"""),

    // Druid/Calcite single-bound FOLLOWING frame shorthand through the SQL
    // facade: `ROWS UNBOUNDED FOLLOWING` / `ROWS 1 FOLLOWING` mean BETWEEN
    // CURRENT ROW AND <b> FOLLOWING (qaWin orderby_*_following corpora;
    // SqlApi.suffixFrames — Spark's parser rejects the lone bound)
    Gate("q_qa_win_suffix_frames", (s, dir) => {
      val q = "SELECT user_id % 3 AS srv, event_type AS cli, " +
        "CAST(user_id % 5 AS VARCHAR) AS tz, " +
        "CAST(sum(count(*)) OVER (PARTITION BY event_type ORDER BY user_id % 3, CAST(user_id % 5 AS VARCHAR) ROWS UNBOUNDED FOLLOWING) AS BIGINT) AS s_ubf, " +
        "CAST(count(count(*)) OVER (PARTITION BY event_type ORDER BY user_id % 3, CAST(user_id % 5 AS VARCHAR) ROWS 1 FOLLOWING) AS BIGINT) AS c_1f, " +
        "CAST(sum(count(*)) OVER (PARTITION BY event_type ORDER BY user_id % 3, CAST(user_id % 5 AS VARCHAR) ROWS UNBOUNDED PRECEDING) AS BIGINT) AS s_ubp " +
        "FROM events WHERE user_id < 12 " +
        "GROUP BY user_id % 3, event_type, CAST(user_id % 5 AS VARCHAR) " +
        "ORDER BY cli, srv, tz"
      graft.api.SqlApi.run(s, dir, s"""{"query": "${q.replace("\"", "\\\"")}"}""")
    },
      """SELECT user_id % 3 AS srv, event_type AS cli,
                CAST(user_id % 5 AS VARCHAR) AS tz,
                CAST(sum(count(*)) OVER (PARTITION BY event_type
                  ORDER BY user_id % 3, CAST(user_id % 5 AS VARCHAR)
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS s_ubf,
                CAST(count(count(*)) OVER (PARTITION BY event_type
                  ORDER BY user_id % 3, CAST(user_id % 5 AS VARCHAR)
                  ROWS BETWEEN CURRENT ROW AND 1 FOLLOWING) AS BIGINT) AS c_1f,
                CAST(sum(count(*)) OVER (PARTITION BY event_type
                  ORDER BY user_id % 3, CAST(user_id % 5 AS VARCHAR)
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS s_ubp
         FROM events WHERE user_id < 12
         GROUP BY user_id % 3, event_type, CAST(user_id % 5 AS VARCHAR)
         ORDER BY cli, srv, tz""")
  ) ++ winRound4
}
