package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.DruidFunctions
import graft.operators.{Joins, NativeQueries => NQ, PostProcessing}
import graft.pipeline.{Bpe, Dedup, Multimodal, Sampling, Similarity, TextAnalysis}
import graft.streaming.StreamingIngest

/** Driver contract — one `queries` entry (+ DuckDB oracle) per implemented
  * operator from SURVEY.md §2. Every query is a pure DataFrame plan built
  * from the graft operator library; oracles are ANSI SQL for DuckDB over the
  * same parquet tables.
  *
  * Determinism conventions (so the driver's hash compare is stable):
  *  - every result has a total ordering (unique tie-break keys);
  *  - `events.ts` is nanosecond parquet which Spark truncates to micros —
  *    time outputs are truncated to >= 1 second in BOTH engines;
  *  - floating-point aggregates prefer integer-valued doubles (exact under
  *    any summation order) or are rounded identically on both sides.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String)(name: String): DataFrame =
    Tables.load(s, dir, name)

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
  private val winRound4: Seq[(String, String)] = Seq(
    // sql_join.01 A1_G2_Q3/Q4: window outputs as the JOIN KEY — both sides
    // window first (first_value + running count), then equi-join on the
    // windowed first_value within the partition key
    "q_qa_win_join_on_wincol" ->
      """, win AS (
           SELECT srv, cli, tz, t12,
                  first_value(tz) OVER (PARTITION BY cli ORDER BY srv, tz, t12) AS fv,
                  CAST(count(tz) OVER (PARTITION BY cli ORDER BY srv, tz, t12) AS BIGINT) AS cnt
           FROM w)
         SELECT CAST(count(*) AS BIGINT) AS c,
                CAST(sum(t1.cnt * t2.cnt) AS BIGINT) AS s
         FROM win t1 INNER JOIN win t2
           ON t1.fv = t2.fv AND t1.cli = t2.cli""",
    // sql_join.02: window evaluated over the OUTPUT of a join (join first,
    // then number + running-sum the joined rows)
    "q_qa_win_join_then_window" ->
      """SELECT a.srv AS srv, a.cli AS cli, a.tz AS tz,
                CAST(row_number() OVER (PARTITION BY a.cli
                  ORDER BY a.srv, a.tz, a.t12, b.tz, b.t12) AS BIGINT) AS rn,
                CAST(sum(b.n) OVER (PARTITION BY a.cli
                  ORDER BY a.srv, a.tz, a.t12, b.tz, b.t12
                  ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS BIGINT) AS s2
         FROM w a INNER JOIN w b ON a.srv = b.srv AND a.cli = b.cli
         ORDER BY cli, rn""",
    // windowed side LEFT JOINed against a HAVING-filtered aggregate side;
    // the window is computed pre-join and survives unmatched rows
    "q_qa_win_join_left_mixed" ->
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
         ORDER BY cli, srv, tz, win.t12""",
    // orderby_range_* with a STRING sort key: RANGE prefix frames include
    // the whole peer group of the current string value
    "q_qa_win_range_string_peers" ->
      """SELECT srv, cli, tz,
                CAST(count(*) OVER (PARTITION BY cli ORDER BY tz
                  RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c_peers,
                CAST(sum(n) OVER (PARTITION BY cli ORDER BY tz
                  RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS s_peers
         FROM w ORDER BY cli, srv, tz, t12""",
    // descending string key: peers still group, default frame is peer-wise
    "q_qa_win_range_string_desc" ->
      """SELECT srv, cli, tz,
                CAST(count(*) OVER (PARTITION BY cli ORDER BY tz DESC
                  RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c_desc,
                CAST(sum(n) OVER (PARTITION BY cli ORDER BY tz DESC) AS BIGINT) AS s_desc,
                first_value(tz) OVER (PARTITION BY cli ORDER BY tz DESC) AS fv_desc
         FROM w ORDER BY cli, srv, tz, t12""",
    // MULTI-key RANGE peers: the peer set is rows equal on BOTH sort keys
    // (UNBOUNDED/CURRENT frames are the only legal multi-key RANGE forms)
    "q_qa_win_range_multikey" ->
      """SELECT srv, cli, tz,
                CAST(sum(n) OVER (PARTITION BY cli ORDER BY srv, tz
                  RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS s_suffix,
                CAST(count(*) OVER (PARTITION BY cli ORDER BY srv, tz
                  RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c_prefix
         FROM w ORDER BY cli, srv, tz, t12""",
    // sql_subquery_with_where: filter on a level-1 window column, then a
    // level-2 window over the SURVIVORS (frame contents change post-filter)
    "q_qa_win_where_two_level" ->
      """, l1 AS (
           SELECT srv, cli, tz, t12,
                  row_number() OVER (PARTITION BY cli ORDER BY srv, tz, t12) AS rn
           FROM w),
         l2 AS (
           SELECT cli, rn,
                  CAST(sum(rn) OVER (PARTITION BY cli ORDER BY rn) AS BIGINT) AS srn
           FROM l1 WHERE rn <= 5)
         SELECT cli, CAST(max(srn) AS BIGINT) AS m, CAST(count(*) AS BIGINT) AS c
         FROM l2 GROUP BY cli ORDER BY cli""",
    // sql_join.01 A1_G1_Q5 alias shape: nested window subqueries REUSING
    // the same output aliases (fv/lv) for different expressions per level
    "q_qa_win_subq_reused_alias" ->
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
         ) outer_q ORDER BY cli, cnt, fv, lv""",
    // orderby_{rows,range}_0_{preceding,following}: zero offsets are legal
    // and mean exactly the current row (ROWS) / the peer set (RANGE)
    "q_qa_win_zero_offset_frames" ->
      """SELECT srv, cli, tz,
                CAST(sum(n) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                  ROWS BETWEEN 0 PRECEDING AND CURRENT ROW) AS BIGINT) AS s_zp,
                CAST(sum(n) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                  ROWS BETWEEN CURRENT ROW AND 0 FOLLOWING) AS BIGINT) AS s_zf,
                CAST(sum(n) OVER (PARTITION BY cli ORDER BY srv
                  RANGE BETWEEN 0 PRECEDING AND 0 FOLLOWING) AS BIGINT) AS s_rzero
         FROM w ORDER BY cli, srv, tz, t12""",
    // basics_window_and_aggr: AGGREGATES as window arguments in the same
    // block as GROUP BY — the window runs over grouped output
    "q_qa_win_aggarg_window" ->
      """SELECT cli, srv, CAST(sum(n) AS BIGINT) AS tot,
                CAST(sum(sum(n)) OVER (PARTITION BY cli ORDER BY srv) AS BIGINT) AS run_tot,
                CAST(max(count(*)) OVER (PARTITION BY cli) AS BIGINT) AS max_groups
         FROM w GROUP BY cli, srv ORDER BY cli, srv""",
    // basics_data_types_and_exprs: the corpus's mixed-type expression sort
    // key (int, length(), a +0.123 double derivation, then tiebreakers)
    "q_qa_win_expr_sortkey_mixed" ->
      """SELECT srv, cli, tz,
                first_value(tz) OVER (PARTITION BY cli ORDER BY srv ASC,
                  length(tz) ASC, CAST(length(tz) AS DOUBLE) + 0.123 ASC,
                  tz, t12) AS fv,
                CAST(count(tz) OVER (PARTITION BY cli ORDER BY srv ASC,
                  length(tz) ASC, CAST(length(tz) AS DOUBLE) + 0.123 ASC,
                  tz, t12) AS BIGINT) AS cnt
         FROM w ORDER BY cli, srv, tz, t12""",
    // sql_select_distinct: DISTINCT over window outputs, then counted
    "q_qa_win_distinct_fv_count" ->
      """, win AS (
           SELECT cli,
                  first_value(tz) OVER (PARTITION BY cli, srv ORDER BY tz, t12) AS fv
           FROM w)
         SELECT cli, CAST(count(*) AS BIGINT) AS n_all,
                CAST(count(DISTINCT fv) AS BIGINT) AS n_fv
         FROM win GROUP BY cli ORDER BY cli""",
    // 3-arg LEAD/LAG defaults fire beyond the partition edge, typed like
    // the value column
    "q_qa_win_lead_lag_default" ->
      """SELECT srv, cli, tz,
                lag(tz, 2, 'none') OVER (PARTITION BY cli ORDER BY srv, tz, t12) AS lag2,
                lead(tz, 3, 'end') OVER (PARTITION BY cli ORDER BY srv, tz, t12) AS lead3,
                CAST(lag(n, 1, -1) OVER (PARTITION BY cli ORDER BY srv, tz, t12) AS BIGINT) AS lagn
         FROM w ORDER BY cli, srv, tz, t12""",
    // frames whose value column is NULL-laden: count skips, sum/min/max
    // NULL out on all-null frames, first_value RESPECTS nulls by default
    "q_qa_win_null_value_frames" ->
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
         ORDER BY cli, srv, tz, t12""",

    // ---- round 5: the systematic qaWin orderby_rows_* matrices (28
    // families × 15 variants — `orderby_rows_{1,0}_{preceding,following}_
    // {sum_count,first_last}` et al). Every LEGAL combined-bound spelling
    // the corpus enumerates, over the shared `w` base; the RANGE-offset
    // siblings are `!error` families (multi-key/string RANGE offsets),
    // covered by spec-level rejection tests. Window order ends with the
    // in-partition group key (srv, tz, t12) so frames are total.
    // A2/A3 sum_count: 1 PRECEDING paired with each upper bound
    "q_qa_win_rows1p_bounds_sum" ->
      """SELECT srv, cli, tz,
                CAST(sum(length(tz)) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                  ROWS BETWEEN 1 PRECEDING AND 0 PRECEDING) AS BIGINT) AS s_0p,
                CAST(count(tz) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                  ROWS BETWEEN 1 PRECEDING AND 0 FOLLOWING) AS BIGINT) AS c_0f,
                CAST(sum(length(tz)) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                  ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS BIGINT) AS s_1f,
                CAST(count(tz) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                  ROWS BETWEEN 1 PRECEDING AND UNBOUNDED FOLLOWING) AS BIGINT) AS c_uf
         FROM w ORDER BY cli, srv, tz, t12""",
    "q_qa_win_rows1p_bounds_fl" ->
      """SELECT srv, cli, tz,
                first_value(tz) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                  ROWS BETWEEN 1 PRECEDING AND 0 PRECEDING) AS fv_0p,
                last_value(tz) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                  ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS lv_1f,
                first_value(tz) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                  ROWS BETWEEN 1 PRECEDING AND UNBOUNDED FOLLOWING) AS fv_uf,
                last_value(tz) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                  ROWS BETWEEN 1 PRECEDING AND 0 FOLLOWING) AS lv_0f
         FROM w ORDER BY cli, srv, tz, t12""",
    // 0/UNBOUNDED lower bounds paired with offset uppers (A4..A7 shapes)
    "q_qa_win_rows_bound_grid" ->
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
         FROM w ORDER BY cli, srv, tz, t12""",
    // UNPARTITIONED window (W2/W4 variants: `WINDOW w AS (ORDER BY ...)`)
    "q_qa_win_rows_unpartitioned" ->
      """SELECT srv, cli, tz,
                CAST(sum(length(tz)) OVER (ORDER BY cli, srv, tz, t12
                  ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS BIGINT) AS s_g,
                CAST(count(tz) OVER (ORDER BY cli, srv, tz, t12
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT) AS c_g,
                first_value(tz) OVER (ORDER BY cli, srv, tz, t12
                  ROWS BETWEEN 1 PRECEDING AND UNBOUNDED FOLLOWING) AS fv_g
         FROM w ORDER BY cli, srv, tz, t12""",
    // EXPRESSION order keys with mixed ASC/DESC (W5/W6 variants: length()
    // and arithmetic-cast keys before the group-key tail)
    "q_qa_win_rows_expr_orderkeys" ->
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
         FROM w ORDER BY cli, srv, tz, t12""",
    // frame WITHOUT ORDER BY (W7 variants `PARTITION BY cli ROWS BETWEEN 1
    // PRECEDING AND UNBOUNDED FOLLOWING`): which row gets which count is
    // order-dependent, but the per-partition count MULTISET is not —
    // project (cli, cnt) only and let the order-insensitive compare pin it
    "q_qa_win_rows_frame_no_order" ->
      """SELECT cli,
                CAST(count(*) OVER (PARTITION BY cli
                  ROWS BETWEEN 1 PRECEDING AND UNBOUNDED FOLLOWING) AS BIGINT) AS c_nf
         FROM w ORDER BY cli, c_nf""",
    // GROUP BY + WINDOW in ONE query block (every corpus variant windows
    // over the grouped output with aggregate-expression window args)
    "q_qa_win_groupby_window_block" ->
      """SELECT cli, srv,
                CAST(sum(sum(n)) OVER (PARTITION BY cli ORDER BY srv
                  ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS BIGINT) AS s_run,
                CAST(count(*) OVER (PARTITION BY cli ORDER BY srv
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 FOLLOWING) AS BIGINT) AS c_look
         FROM w GROUP BY cli, srv ORDER BY cli, srv""",
    // sql_select_count / sql_limit_offset / sql_union_all wraps: counting
    // a PAGED windowed subquery (LIMIT/OFFSET applied before the count),
    // count(col) over a NULL-bearing window output, and window results
    // consumed through UNION ALL
    "q_qa_win_count_paged_union" ->
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
         ORDER BY kind""")

  private def winRound4Queries
      : Map[String, (SparkSession, String) => DataFrame] =
    winRound4.map { case (name, body) =>
      name -> ((s: SparkSession, _: String) => s.sql(s"WITH w AS ($winSparkBase) $body"))
    }.toMap

  private def winRound4Oracle: Map[String, String] =
    winRound4.map { case (name, body) =>
      name -> s"WITH w AS ($winDuckBase) $body"
    }.toMap

  /** qaSql scalar_* comparison battery (scalar_datetime/string/reduction/
    * numeric .iq A*_q_simple): every operator the suite chains over a probe
    * `p1` with its strictly-smaller/larger neighbors `p0`/`p2`. True for
    * every non-null probe by construction. `strType` is the dialect's
    * string type name for the LIKE terms (the reference LIKEs through an
    * implicit cast; Spark and DuckDB both want it explicit).
    */
  private def battery(p1: String, p0: String, p2: String,
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

  /** DuckDB replay of pipeline.Bpe.train's `n` merge rounds: w = word
    * vocabulary, v0 = char symbolization, then per round i a pair-count
    * aggregate (p), the deterministic argmax (m: count DESC, pair ASC),
    * and the merge application by literal space-delimited replace (v).
    * CTEs are MATERIALIZED — each vi is referenced twice, and inlined
    * evaluation would re-derive the whole chain exponentially.
    */
  private def bpeOracleCtes(n: Int): String = {
    val sb = new StringBuilder
    sb ++= """w AS MATERIALIZED (
         SELECT word, count(*) AS freq
         FROM (SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'),
                 t -> len(t) > 0)) AS word FROM documents)
         GROUP BY word),
       v0 AS MATERIALIZED (
         SELECT word, freq, array_to_string(string_split(word, ''), ' ') AS s
         FROM w)"""
    for (i <- 1 to n) {
      val prev = s"v${i - 1}"
      sb ++= s""",
       p$i AS MATERIALIZED (
         SELECT syms[i] AS a, syms[i+1] AS b, sum(freq) AS c
         FROM (SELECT freq, string_split(s, ' ') AS syms FROM $prev
               WHERE len(string_split(s, ' ')) >= 2),
              unnest(generate_series(1, len(syms) - 1)) AS t(i)
         GROUP BY 1, 2),
       m$i AS MATERIALIZED (
         SELECT a, b FROM p$i ORDER BY c DESC, a ASC, b ASC LIMIT 1),
       v$i AS MATERIALIZED (
         SELECT word, freq, trim(replace(' ' || s || ' ',
           ' ' || (SELECT a FROM m$i) || ' ' || (SELECT b FROM m$i) || ' ',
           ' ' || (SELECT a FROM m$i) || (SELECT b FROM m$i) || ' ')) AS s
         FROM $prev)"""
    }
    sb.toString
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_groupby_q1")(spark, "/root/testdata/sf0.001")

  // =========================================================================
  // Query inventory
  // =========================================================================
  /** Drill-window-corpus SQL shared VERBATIM by the Spark gate and the
    * DuckDB oracle — these shapes are engine-portable ANSI window SQL by
    * design (the reference runs the same corpus through its own SQL layer,
    * `sql/src/test/resources/drill/window/queries/`). Sharing one text
    * guarantees the gate exercises identical semantics on both engines.
    */
  private[graft] def drillSql(name: String): String = drillWindowSql(name)

  private val drillWindowSql: Map[String, String] = Map(
    // frameclause/RBUPACR/RBUPACR_int_1.q: explicit cumulative ROWS frame
    "rbupacr" ->
      """SELECT o_orderkey, o_orderpriority,
                round(MAX(o_totalprice) OVER (PARTITION BY o_orderpriority
                  ORDER BY o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS run_max,
                CAST(COUNT(*) OVER (PARTITION BY o_orderpriority
                  ORDER BY o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_n
         FROM orders WHERE o_orderkey < 5000
         ORDER BY o_orderkey""",

    // frameclause/RBCRACR/RBCRACR_int_1.q: frame = exactly the current peers
    "rbcracr" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
                l_returnflag,
                CAST(SUM(l_quantity) OVER (PARTITION BY l_returnflag
                  ORDER BY l_linenumber
                  RANGE BETWEEN CURRENT ROW AND CURRENT ROW) AS BIGINT) AS peer_qty
         FROM lineitem WHERE l_orderkey < 1000
         ORDER BY l_orderkey, l_linenumber, l_returnflag""",

    // frameclause/RBUPAUF (e.g. RBUPAUF_int_5.q): whole-partition ROWS frame
    "rbupauf" ->
      """SELECT o_orderkey, o_orderpriority,
                FIRST_VALUE(o_orderkey) OVER w AS first_key,
                LAST_VALUE(o_orderkey) OVER w AS last_key,
                round(AVG(o_totalprice) OVER w, 2) AS part_avg
         FROM orders WHERE o_orderkey < 5000
         WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         ORDER BY o_orderkey""",

    // frameclause/defaultFrame: no frame + duplicate order keys — the
    // implicit RANGE frame includes the whole tie class
    "default_frame" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
                CAST(SUM(l_quantity) OVER (PARTITION BY l_returnflag
                  ORDER BY l_orderkey) AS BIGINT) AS run_qty
         FROM lineitem WHERE l_orderkey < 2000
         ORDER BY l_orderkey, l_linenumber""",

    // frameclause/multipl_wnwds/mulwind_01.q: four named windows, mixed
    // frame semantics, interleaved consumers
    "multi" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
                round(AVG(l_extendedprice) OVER W, 2) AS w_avg_price,
                CAST(SUM(l_quantity) OVER W2 AS BIGINT) AS w2_run_qty,
                CAST(SUM(l_quantity) OVER W3 AS BIGINT) AS w3_peer_qty,
                CAST(COUNT(*) OVER W_DFLT_FRM AS BIGINT) AS wdfrm_n
         FROM lineitem WHERE l_orderkey < 800
         WINDOW W AS (PARTITION BY l_returnflag ORDER BY l_orderkey
                  RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
                W2 AS (PARTITION BY l_returnflag
                  ORDER BY l_orderkey, l_linenumber, l_quantity
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                W3 AS (PARTITION BY l_returnflag ORDER BY l_orderkey
                  RANGE BETWEEN CURRENT ROW AND CURRENT ROW),
                W_DFLT_FRM AS (PARTITION BY l_returnflag ORDER BY l_orderkey)
         ORDER BY l_orderkey, l_linenumber""",

    // nestedAggs/woutPrtnBy_45.q: windows OVER GROUP BY aggregates
    "nested_aggs" ->
      """SELECT l_returnflag,
                CAST(COUNT(l_suppkey) AS BIGINT) AS n,
                CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS nd,
                CAST(MIN(COUNT(DISTINCT l_suppkey)) OVER () AS BIGINT) AS min_nd,
                CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS total_rows
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    // nestedAggs/frmclause02.q + basic_1.q/basic_2.q + nstdagg07.q: windows
    // with explicit frames and running order OVER GROUP-BY aggregates —
    // MAX(COUNT) under a cumulative RANGE frame, a running AVG of per-group
    // SUMs, MIN(MAX) over the empty OVER (), and a global running total
    "nested_agg_frames" ->
      """SELECT o_orderpriority AS pri, o_orderstatus AS st,
                CAST(COUNT(*) AS BIGINT) AS cnt,
                CAST(MAX(COUNT(*)) OVER (PARTITION BY o_orderpriority
                  ORDER BY o_orderstatus
                  RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS mx_cnt,
                round(AVG(CAST(SUM(o_orderkey) AS BIGINT)) OVER (
                  PARTITION BY o_orderpriority ORDER BY o_orderstatus), 4) AS avg_sum,
                CAST(MIN(MAX(o_orderkey)) OVER () AS BIGINT) AS mn_mx_all,
                CAST(SUM(COUNT(*)) OVER (ORDER BY o_orderpriority, o_orderstatus
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_total
         FROM orders GROUP BY o_orderpriority, o_orderstatus
         ORDER BY pri, st""",

    // aggregates/aggOWnFn_1.q: the SAME window NAME bound independently at
    // two query levels — inner NTILE over the subquery's WINDOW clause,
    // outer LEAD over the outer query's own definition of the same name
    "named_scope" ->
      """SELECT pri, st, ntl,
                CAST(LEAD(ntl) OVER w AS BIGINT) AS ld
         FROM (SELECT pri, st,
                      CAST(NTILE(3) OVER w AS BIGINT) AS ntl
               FROM (SELECT o_orderpriority AS pri, o_orderstatus AS st,
                            COUNT(*) AS n
                     FROM orders GROUP BY o_orderpriority, o_orderstatus) g
               WINDOW w AS (PARTITION BY pri ORDER BY st)) sub
         WINDOW w AS (PARTITION BY pri ORDER BY st)
         ORDER BY pri, st""",

    // ntile_func/ntileFn_33.q: NTILE bucketing consumed by an outer GROUP BY
    "ntile" ->
      """SELECT nt, CAST(COUNT(*) AS BIGINT) AS n
         FROM (SELECT CAST(NTILE(4) OVER (PARTITION BY c_mktsegment
                 ORDER BY c_custkey) AS BIGINT) AS nt
               FROM customer) sub
         GROUP BY nt ORDER BY nt""",

    // lag_func/lead_func (e.g. lead.fewRowsAllData.q with nulls FIRST):
    // explicit null ordering + defaults + offset-2
    "lag_lead" ->
      """SELECT p_partkey,
                LAG(p_size_n) OVER w AS lag_sz,
                LEAD(p_size_n, 2) OVER w AS lead2_sz,
                LAG(p_size_n, 1, CAST(-1 AS BIGINT)) OVER w AS lag_dflt
         FROM (SELECT p_partkey, p_brand,
                 CAST(NULLIF(p_size, 1) AS BIGINT) AS p_size_n FROM part) t
         WINDOW w AS (PARTITION BY p_brand
           ORDER BY p_size_n ASC NULLS FIRST, p_partkey)
         ORDER BY p_partkey""",

    // first_val/firstValFn_*.q + last_val/lastValFn_*.q: LAST_VALUE under
    // the DEFAULT frame ends at the current row (the classic gotcha) vs the
    // explicit unbounded-following frame
    "first_last" ->
      """SELECT c_custkey,
                FIRST_VALUE(c_custkey) OVER w1 AS first_k,
                LAST_VALUE(c_custkey) OVER w1 AS last_k_running,
                LAST_VALUE(c_custkey) OVER w2 AS last_k_full
         FROM customer WHERE c_custkey < 500
         WINDOW w1 AS (PARTITION BY c_mktsegment ORDER BY c_custkey),
                w2 AS (PARTITION BY c_mktsegment ORDER BY c_custkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         ORDER BY c_custkey""",

    // empty_over_clause/avg_01.sql: OVER () — one global frame
    "empty_over" ->
      """SELECT o_orderkey, round(o_totalprice, 2) AS price,
                CAST(COUNT(*) OVER () AS BIGINT) AS n_all,
                round(MIN(o_totalprice) OVER (), 2) AS min_all,
                round(MAX(o_totalprice) OVER (), 2) AS max_all
         FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey""",

    // frameclause/subQueries/frmInSubQry_25.q: outer WHERE over a window
    // computed in a subquery
    "subquery" ->
      """SELECT l_returnflag, CAST(w_sum AS BIGINT) AS w_sum
         FROM (SELECT l_returnflag,
                      SUM(l_quantity) OVER (PARTITION BY l_returnflag
                        ORDER BY l_orderkey, l_linenumber, l_quantity
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS w_sum
               FROM lineitem WHERE l_orderkey < 500) sub
         WHERE w_sum > 100
         ORDER BY l_returnflag, w_sum""",

    // bugs/drill-3292.sql: constant-argument window aggregates under a
    // partition-only named window
    "const_args" ->
      """SELECT o_orderkey,
                CAST(SUM(1) OVER w AS BIGINT) AS sum1,
                CAST(SUM(5) OVER w AS BIGINT) AS sum5,
                CAST(SUM(10) OVER w AS BIGINT) AS sum10
         FROM orders WHERE o_orderkey < 3000
         WINDOW w AS (PARTITION BY CAST(o_orderdate AS DATE))
         ORDER BY o_orderkey""",

    // bugs/drill-3348.sql: one window function projected, a DIFFERENT one
    // consumed only by the ORDER BY (the drill NPE shape). Spark's Sort
    // operator rejects inline window expressions, so the ordering window is
    // hoisted through the subquery — the standard SQL-equivalent form
    "rank_orderby" ->
      """SELECT c_custkey, rnk
         FROM (SELECT c_custkey,
                      CAST(RANK() OVER (PARTITION BY c_mktsegment
                        ORDER BY c_custkey) AS BIGINT) AS rnk,
                      ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                        ORDER BY c_custkey) AS __ord
               FROM customer WHERE c_custkey < 600) t
         ORDER BY __ord""",

    // bugs/drill-3574.sql: multi-column partition-only OVER mixed with
    // OVER () in one projection (union-exchange trigger in drill)
    "mixed_over" ->
      """SELECT o_orderkey,
                round(SUM(o_totalprice) OVER (PARTITION BY o_orderpriority,
                  o_orderstatus), 2) AS part_sum,
                round(SUM(o_totalprice) OVER (), 2) AS all_sum
         FROM orders WHERE o_orderkey < 2000
         ORDER BY o_orderkey""",

    // bugs/drill-3679.sql: NTILE over the output of a ROW_NUMBER subquery
    // (window over window results, both order-only/global)
    "ntile_nested" ->
      """SELECT rnum, c_custkey,
                CAST(NTILE(4) OVER (ORDER BY c_custkey) AS BIGINT) AS nt
         FROM (SELECT c_custkey,
                 CAST(ROW_NUMBER() OVER (ORDER BY c_custkey) AS BIGINT) AS rnum
               FROM customer WHERE c_custkey < 400) dt
         ORDER BY rnum""",

    // bugs/drill-3700.sql: FIRST_VALUE under order-only-with-NULLS-FIRST,
    // partition-only, and partition+order windows in one projection
    // (partition-only value is the partition key itself, so the missing
    // order cannot make the result nondeterministic)
    "firstval_mixed" ->
      """SELECT c_custkey,
                FIRST_VALUE(c_custkey) OVER (ORDER BY NULLIF(c_nationkey, 0)
                  NULLS FIRST, c_custkey) AS fv_nulls_first,
                FIRST_VALUE(c_mktsegment) OVER (PARTITION BY c_mktsegment)
                  AS fv_part_only,
                FIRST_VALUE(c_custkey) OVER (PARTITION BY c_mktsegment
                  ORDER BY c_custkey) AS fv_part_order
         FROM customer WHERE c_custkey < 400
         ORDER BY c_custkey""",

    // statistical_aggregates/{variance,var_samp,stddev}_empty_partition_*:
    // population/sample variance + stddev over per-key windows, with the
    // single-row-partition case guarded the way both engines define it
    // (sample forms are NULL-or-NaN below 2 rows — emit NULL uniformly)
    "stat_aggs" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
                round(VAR_POP(l_quantity) OVER w, 4) AS vpop,
                round(STDDEV_POP(l_quantity) OVER w, 4) AS spop,
                CASE WHEN COUNT(*) OVER w > 1
                     THEN round(VAR_SAMP(l_quantity) OVER w, 4) END AS vsamp,
                CASE WHEN COUNT(*) OVER w > 1
                     THEN round(STDDEV_SAMP(l_quantity) OVER w, 4) END AS ssamp
         FROM lineitem WHERE l_orderkey < 600
         WINDOW w AS (PARTITION BY l_orderkey)
         ORDER BY l_orderkey, l_linenumber""",

    // aggregates/winFnQry_*.q (MAX over FIRST_VALUE subquery): scalar
    // aggregate over per-row window results
    "agg_outer" ->
      """SELECT l_returnflag, CAST(MAX(fv) AS BIGINT) AS max_fv,
                CAST(MIN(lv) AS BIGINT) AS min_lv
         FROM (SELECT l_returnflag,
                 FIRST_VALUE(l_suppkey) OVER (PARTITION BY l_returnflag, l_linestatus
                   ORDER BY l_orderkey, l_linenumber, l_suppkey) AS fv,
                 LAST_VALUE(l_suppkey) OVER (PARTITION BY l_returnflag, l_linestatus
                   ORDER BY l_orderkey, l_linenumber, l_suppkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS lv
               FROM lineitem) sub
         GROUP BY l_returnflag ORDER BY l_returnflag""",

    // last_val/lastValFn_1.q: LAST_VALUE under the DEFAULT frame — the
    // implicit RANGE ..CURRENT ROW frame ends at the current peer group, so
    // with a unique order key LAST_VALUE returns the CURRENT row, not the
    // partition's last (the classic drill last_val surprise)
    "lastval_peers" ->
      """SELECT o_orderkey, o_orderpriority,
                LAST_VALUE(o_orderkey) OVER (PARTITION BY o_orderpriority
                  ORDER BY o_orderkey) AS last_cur,
                FIRST_VALUE(o_orderkey) OVER (PARTITION BY o_orderpriority
                  ORDER BY o_orderkey) AS first_part
         FROM orders WHERE o_orderkey < 4000
         ORDER BY o_orderkey""",

    // lead_func/lead_Fn_1.q: a single LEAD projection (NULL at each
    // partition tail survives into the output)
    "lead_only" ->
      """SELECT o_orderkey,
                CAST(LEAD(o_orderkey) OVER (PARTITION BY o_orderstatus
                  ORDER BY o_orderkey) AS BIGINT) AS lead_key
         FROM orders WHERE o_orderkey < 2000
         ORDER BY o_orderkey""",

    // lead_func/lead_Fn_108-ish: explicit offset + default argument forms
    "lead_offset_default" ->
      """SELECT o_orderkey,
                CAST(LEAD(o_orderkey, 2, CAST(-1 AS BIGINT)) OVER (
                  PARTITION BY o_orderstatus ORDER BY o_orderkey) AS BIGINT) AS lead2,
                CAST(LAG(o_orderkey, 3, CAST(0 AS BIGINT)) OVER (
                  PARTITION BY o_orderstatus ORDER BY o_orderkey) AS BIGINT) AS lag3
         FROM orders WHERE o_orderkey < 2000
         ORDER BY o_orderkey""",

    // aggregates/aggOWnFn_1.q: outer LEAD over a subquery that computed
    // NTILE, BOTH through a same-named WINDOW clause in their own scope
    "shared_named" ->
      """SELECT o_orderkey, CAST(nt AS BIGINT) AS nt,
                CAST(LEAD(nt) OVER wnd AS BIGINT) AS lead_nt
         FROM (SELECT o_orderkey, o_orderstatus, NTILE(3) OVER wnd AS nt
               FROM orders WHERE o_orderkey < 1500
               WINDOW wnd AS (PARTITION BY o_orderstatus ORDER BY o_orderkey)) sub
         WINDOW wnd AS (PARTITION BY o_orderstatus ORDER BY o_orderkey)
         ORDER BY o_orderkey""",

    // multiple_partitions/q1.sql: outer filter over arithmetic of window
    // functions carrying three DIFFERENT partitionings
    "multipart_arith" ->
      """SELECT * FROM (
           SELECT o_orderkey,
                  CAST(COUNT(*) OVER (PARTITION BY o_orderdate ORDER BY o_orderkey) +
                       SUM(o_custkey) OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey)
                    AS BIGINT) AS total,
                  CAST(COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_orderkey)
                    AS BIGINT) AS count1,
                  CAST(SUM(o_custkey) OVER (PARTITION BY o_orderdate ORDER BY o_orderkey)
                    AS BIGINT) AS count2
           FROM orders WHERE o_orderkey < 3000) sub
         WHERE total <> count1 + count2
         ORDER BY o_orderkey""",

    // multiple_partitions/q10.sql: CASTs on top of windowed aggregates,
    // added across two partitionings, under an IS NOT NULL filter
    "multipart_cast" ->
      """SELECT o_orderkey, o_orderstatus,
                CAST(COUNT(*) OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey) AS BIGINT)
                  + CAST(SUM(o_custkey) OVER (PARTITION BY o_orderpriority ORDER BY o_orderkey) AS BIGINT)
                  AS mixed
         FROM orders WHERE o_custkey IS NOT NULL AND o_orderkey < 3000
         ORDER BY o_orderkey""",

    // order_by/avg_01.sql + count_01.sql: ORDER-BY-only windows (no
    // PARTITION BY) — the implicit RANGE frame aggregates whole date tie
    // classes; integer sums keep the cross-engine compare exact
    "orderonly_running" ->
      """SELECT o_orderkey,
                CAST(SUM(o_custkey) OVER (ORDER BY o_orderdate) AS BIGINT) AS rsum,
                CAST(FLOOR(AVG(o_custkey) OVER (ORDER BY o_orderdate)) AS BIGINT) AS ravg,
                CAST(COUNT(*) OVER (ORDER BY o_orderdate) AS BIGINT) AS rcnt
         FROM orders WHERE o_orderkey < 2000
         ORDER BY o_orderkey""",

    // order_by/cume_dist_01.sql + percent_rank: rank fractions over an
    // ORDER-BY-only window with large tie groups
    "cumedist_orderonly" ->
      """SELECT o_orderkey,
                round(CUME_DIST() OVER (ORDER BY o_orderstatus), 6) AS cd,
                round(PERCENT_RANK() OVER (ORDER BY o_orderstatus), 6) AS pr
         FROM orders WHERE o_orderkey < 1500
         ORDER BY o_orderkey""",

    // partition_by/one_part_01.sql: PARTITION-BY-only window on a varchar
    // key — every row of a segment carries the same whole-partition sum
    "partonly_sum" ->
      """SELECT c_custkey,
                CAST(SUM(c_custkey) OVER (PARTITION BY c_mktsegment) AS BIGINT) AS seg_sum
         FROM customer ORDER BY c_custkey""",

    // misc/q1.sql: window function over the result of a LEFT OUTER JOIN —
    // NULL join keys flow into the window ORDER BY (position pinned with an
    // explicit NULLS FIRST, where engine defaults differ)
    "join_outer_window" ->
      """SELECT c_custkey, o_orderkey,
                CAST(SUM(c_custkey) OVER (PARTITION BY c_mktsegment
                  ORDER BY c_custkey, o_orderkey NULLS FIRST) AS BIGINT) AS rsum
         FROM customer LEFT OUTER JOIN orders
           ON c_custkey = o_custkey AND o_orderkey < 500
         WHERE c_custkey < 300
         ORDER BY c_custkey, o_orderkey NULLS FIRST""",

    // misc/q10.sql: inner join of two windowed subqueries (window results
    // become join inputs; DISTINCT collapses each to one row per key)
    "join_windowed_subq" ->
      """SELECT sq1.nk AS nk, sq1.c_cnt AS c_cnt, sq2.s_cnt AS s_cnt
         FROM (SELECT DISTINCT c_nationkey AS nk,
                 CAST(COUNT(*) OVER (PARTITION BY c_nationkey) AS BIGINT) AS c_cnt
               FROM customer) sq1
         INNER JOIN (SELECT DISTINCT s_nationkey AS nk2,
                 CAST(COUNT(*) OVER (PARTITION BY s_nationkey) AS BIGINT) AS s_cnt
               FROM supplier) sq2
           ON sq1.nk = sq2.nk2
         ORDER BY nk""",

    // druid_queries/over_clause_only_partitioning/
    // multiple_over_different_partition_column.q: several PARTITION-only
    // OVER clauses on different columns in one projection
    "multi_over_parts" ->
      """SELECT o_orderkey,
                CAST(COUNT(*) OVER (PARTITION BY o_orderstatus) AS BIGINT) AS cnt_status,
                CAST(COUNT(*) OVER (PARTITION BY o_orderpriority) AS BIGINT) AS cnt_pri,
                CAST(SUM(o_custkey) OVER (PARTITION BY o_orderstatus, o_orderpriority) AS BIGINT) AS sum_both
         FROM orders WHERE o_orderkey < 2500
         ORDER BY o_orderkey""",

    // aggregates/testW_Nulls family: aggregate windows whose ARGUMENT is
    // NULL on some rows — COUNT skips them, MIN ignores them, conditional
    // SUM leaves gaps
    "nulls_in_args" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS ln, l_suppkey, l_partkey,
                CAST(COUNT(NULLIF(l_suppkey, 5)) OVER w AS BIGINT) AS cnt_nn,
                CAST(MIN(NULLIF(l_suppkey, 5)) OVER w AS BIGINT) AS min_nn,
                CAST(SUM(CASE WHEN l_suppkey <> 5 THEN l_suppkey END) OVER w AS BIGINT) AS sum_nn
         FROM lineitem WHERE l_orderkey < 400
         WINDOW w AS (PARTITION BY l_returnflag
           ORDER BY l_orderkey, l_linenumber, l_suppkey, l_partkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         ORDER BY l_orderkey, ln, l_suppkey, l_partkey""",

    // frameclause/subQueries/frmInSubQry_25.q: three named windows with
    // DIFFERENT frame semantics (whole-partition RANGE, cumulative ROWS,
    // peer-class RANGE) consumed through a subquery with an outer filter
    "frames_in_subq" ->
      """SELECT * FROM (
           SELECT o_orderkey,
                  CAST(SUM(o_custkey) OVER w AS BIGINT) AS w_sum,
                  CAST(MIN(o_custkey) OVER w2 AS BIGINT) AS w2_min,
                  CAST(MIN(o_custkey) OVER w3 AS BIGINT) AS w3_min
           FROM orders WHERE o_orderkey < 2000
           WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_orderkey
                          RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
                  w2 AS (PARTITION BY o_orderstatus ORDER BY o_orderkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                  w3 AS (PARTITION BY o_orderstatus ORDER BY o_orderkey
                          RANGE BETWEEN CURRENT ROW AND CURRENT ROW)
         ) subqry
         WHERE subqry.w_sum > 0
         ORDER BY o_orderkey""",

    // aggregates/wPrtnOrdrBy_1.q: rank within a partition pinned to one
    // varchar value by the WHERE clause (single surviving partition)
    "rank_filtered" ->
      """SELECT o_orderpriority, o_orderkey,
                CAST(RANK() OVER (PARTITION BY o_orderpriority
                  ORDER BY o_orderkey) AS BIGINT) AS rnk
         FROM orders WHERE o_orderpriority = '1-URGENT' AND o_orderkey < 5000
         ORDER BY o_orderkey""",

    // aggregates/woPrtnBy_1.q: running MAX over an ORDER-BY-only window
    "runmax_orderonly" ->
      """SELECT o_orderkey,
                CAST(MAX(o_custkey) OVER (ORDER BY o_orderkey) AS BIGINT) AS run_max
         FROM orders WHERE o_orderkey < 3000
         ORDER BY o_orderkey""",

    // lag_func family over DATE ordering: LAG of the date key itself plus
    // the day gap to the previous date (datediff shapes)
    "lag_dates" ->
      """SELECT mon, n,
                CAST(LAG(n) OVER (ORDER BY mon) AS BIGINT) AS prev_n,
                CAST(mon - LAG(mon) OVER (ORDER BY mon) AS BIGINT) AS gap
         FROM (SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS mon,
                      count(*) AS n
               FROM orders GROUP BY year(o_orderdate) * 12 + month(o_orderdate)) t
         ORDER BY mon""",

    // ntile_func edge: more tiles than rows — every row its own bucket,
    // trailing tiles unused
    "ntile_overflow" ->
      """SELECT n_nationkey, CAST(NTILE(100) OVER (ORDER BY n_nationkey) AS BIGINT) AS nt
         FROM nation ORDER BY n_nationkey""",

    // first_val family with a SLIDING frame: FIRST/LAST_VALUE over ROWS
    // BETWEEN 1 PRECEDING AND 1 FOLLOWING
    "firstval_sliding" ->
      """SELECT o_orderkey,
                FIRST_VALUE(o_orderkey) OVER (PARTITION BY o_orderstatus
                  ORDER BY o_orderkey
                  ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS prev_or_self,
                LAST_VALUE(o_orderkey) OVER (PARTITION BY o_orderstatus
                  ORDER BY o_orderkey
                  ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS next_or_self
         FROM orders WHERE o_orderkey < 2000
         ORDER BY o_orderkey""",

    // aggregates/mtyOvrCluse: empty OVER () on top of GROUP BY aggregates —
    // the share-of-total pattern
    "share_of_total" ->
      """SELECT o_orderpriority, n,
                CAST(SUM(n) OVER () AS BIGINT) AS total,
                CAST(FLOOR(n * 1000000.0 / SUM(n) OVER ()) AS BIGINT) AS pct_ppm
         FROM (SELECT o_orderpriority, count(*) AS n
               FROM orders GROUP BY o_orderpriority) t
         ORDER BY o_orderpriority""",

    // lead_func over a computed EXPRESSION argument (not a bare column)
    "lead_expr" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS ln,
                CAST(LEAD(l_suppkey * 2 + l_partkey) OVER (
                  PARTITION BY l_returnflag
                  ORDER BY l_orderkey, l_linenumber, l_suppkey, l_partkey)
                  AS BIGINT) AS lead_val
         FROM lineitem WHERE l_orderkey < 300
         ORDER BY l_orderkey, ln, l_suppkey, l_partkey""",

    // tpcds/query53.sql shape: quarterly sums per brand vs the brand's
    // all-quarter average through a PARTITION-only window
    "tpcds_q53" ->
      """SELECT p_brand, qoy, sum_qty,
                CAST(FLOOR(AVG(sum_qty) OVER (PARTITION BY p_brand)) AS BIGINT) AS avg_qtr
         FROM (SELECT p_brand, CAST(quarter(o_orderdate) AS BIGINT) AS qoy,
                      CAST(FLOOR(SUM(l_quantity)) AS BIGINT) AS sum_qty
               FROM lineitem
               JOIN orders ON l_orderkey = o_orderkey
               JOIN part ON l_partkey = p_partkey
               WHERE p_brand IN ('Brand#11', 'Brand#22', 'Brand#33')
               GROUP BY p_brand, quarter(o_orderdate)) t
         ORDER BY p_brand, qoy""",

    // quidem qaSsb (norm_broadcast.msq.iq Q1_1): the Star Schema Benchmark
    // flight, retargeted onto the reduced star (orders carries the date
    // dimension role). Comma-join syntax kept from the suite text.
    "ssb_q1" ->
      """SELECT CAST(FLOOR(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2)))) AS BIGINT) AS revenue
         FROM lineitem, orders
         WHERE l_orderkey = o_orderkey
           AND year(o_orderdate) * 100 + month(o_orderdate) = 199704
           AND l_discount BETWEEN 0.04 AND 0.06
           AND l_quantity BETWEEN 26 AND 35""",

    // qaSsb Q2_1: brand revenue per year under a supplier-geography filter
    "ssb_q2" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS d_year, p_brand,
                CAST(FLOOR(sum(CAST(l_extendedprice AS DECIMAL(12,2)))) AS BIGINT) AS lo_revenue
         FROM lineitem, orders, part, supplier
         WHERE l_orderkey = o_orderkey AND l_partkey = p_partkey
           AND l_suppkey = s_suppkey
           AND p_brand IN ('Brand#12', 'Brand#22', 'Brand#32', 'Brand#42')
           AND s_nationkey IN (1, 2, 3, 17, 24)
         GROUP BY year(o_orderdate), p_brand
         ORDER BY d_year, p_brand""",

    // qaSsb Q3_1: customer-nation × supplier-nation revenue per year
    "ssb_q3" ->
      """SELECT CAST(c_nationkey AS BIGINT) AS c_nation,
                CAST(s_nationkey AS BIGINT) AS s_nation,
                CAST(year(o_orderdate) AS BIGINT) AS d_year,
                CAST(FLOOR(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))))) AS BIGINT)
                  AS lo_revenue
         FROM customer, orders, lineitem, supplier
         WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
           AND l_suppkey = s_suppkey
           AND c_nationkey IN (8, 9, 12, 18, 21)
           AND s_nationkey IN (8, 9, 12, 18, 21)
           AND year(o_orderdate) BETWEEN 1995 AND 1998
         GROUP BY c_nationkey, s_nationkey, year(o_orderdate)
         ORDER BY d_year, lo_revenue DESC, c_nation, s_nation""",

    // qaSsb Q4_1: profit per year × customer nation over the full star
    "ssb_q4" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS d_year,
                CAST(c_nationkey AS BIGINT) AS c_nation,
                CAST(FLOOR(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))
                  - CAST(l_quantity AS DECIMAL(12,2)) * CAST(p_retailprice AS DECIMAL(12,2)) * 0.1)) AS BIGINT) AS profit
         FROM lineitem, orders, customer, supplier, part
         WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
           AND l_suppkey = s_suppkey AND l_partkey = p_partkey
           AND c_nationkey IN (1, 2, 3, 17, 24)
           AND p_brand IN ('Brand#12', 'Brand#22', 'Brand#32', 'Brand#42',
                           'Brand#13', 'Brand#23', 'Brand#33', 'Brand#43')
         GROUP BY year(o_orderdate), c_nationkey
         ORDER BY d_year, c_nation""",

    // qaSsb Q1_0: coarse year-level revenue flight (vs Q1_1's year-month)
    "ssb_q1_0" ->
      """SELECT CAST(FLOOR(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2)))) AS BIGINT) AS revenue
         FROM lineitem, orders
         WHERE l_orderkey = o_orderkey
           AND year(o_orderdate) = 1997
           AND l_discount BETWEEN 0.01 AND 0.03
           AND l_quantity < 25""",

    // qaSsb Q3_0: region-level rollup of the geography flight — both sides
    // of the star constrained to one region through the nation dim
    "ssb_q3_0" ->
      """SELECT CAST(cn.n_regionkey AS BIGINT) AS c_region,
                CAST(sn.n_regionkey AS BIGINT) AS s_region,
                CAST(year(o_orderdate) AS BIGINT) AS d_year,
                CAST(FLOOR(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))))) AS BIGINT)
                  AS lo_revenue
         FROM customer, orders, lineitem, supplier, nation cn, nation sn
         WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
           AND l_suppkey = s_suppkey
           AND c_nationkey = cn.n_nationkey
           AND s_nationkey = sn.n_nationkey
           AND cn.n_regionkey = 2 AND sn.n_regionkey = 2
           AND year(o_orderdate) BETWEEN 1995 AND 1997
         GROUP BY cn.n_regionkey, sn.n_regionkey, year(o_orderdate)
         ORDER BY d_year, lo_revenue DESC""",

    // qaSsb Q3_3: finest-granularity flight — two specific geography keys
    // and a single year-month, the most selective of the Q3 family
    "ssb_q3_3" ->
      """SELECT CAST(c_nationkey AS BIGINT) AS c_city,
                CAST(s_nationkey AS BIGINT) AS s_city,
                CAST(year(o_orderdate) AS BIGINT) AS d_year,
                CAST(FLOOR(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))))) AS BIGINT)
                  AS lo_revenue
         FROM customer, orders, lineitem, supplier
         WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
           AND l_suppkey = s_suppkey
           AND c_nationkey IN (5, 11) AND s_nationkey IN (5, 11)
           AND year(o_orderdate) * 100 + month(o_orderdate) = 199712
         GROUP BY c_nationkey, s_nationkey, year(o_orderdate)
         ORDER BY d_year, lo_revenue DESC, c_city, s_city""",

    // qaSsb Q4_2: profit drill-down — year × supplier-nation × category
    // under both-geography filters and a two-year window
    "ssb_q4_2" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS d_year,
                CAST(s_nationkey AS BIGINT) AS s_nation,
                p_type AS p_category,
                CAST(FLOOR(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))
                  - CAST(l_quantity AS DECIMAL(12,2)) * CAST(p_retailprice AS DECIMAL(12,2)) * 0.1)) AS BIGINT) AS profit
         FROM lineitem, orders, customer, supplier, part
         WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
           AND l_suppkey = s_suppkey AND l_partkey = p_partkey
           AND c_nationkey IN (1, 2, 3, 17, 24)
           AND s_nationkey IN (1, 2, 3, 17, 24)
           AND year(o_orderdate) IN (1997, 1998)
         GROUP BY year(o_orderdate), s_nationkey, p_type
         ORDER BY d_year, s_nation, p_category""",

    // tpcds/query51.sql shape (drill runs it as query51.drill_4811): two
    // per-channel cumulative series FULL OUTER JOINed on the time key,
    // COALESCE'd, filtered where one channel's running total overtakes the
    // other
    "tpcds_q51" ->
      """WITH w AS (
           SELECT mon, CAST(SUM(qty) OVER (ORDER BY mon) AS BIGINT) AS cume_w
           FROM (SELECT CAST(year(l_shipdate) * 100 + month(l_shipdate) AS BIGINT) AS mon,
                        CAST(FLOOR(SUM(l_quantity)) AS BIGINT) AS qty
                 FROM lineitem WHERE l_returnflag = 'R'
                 GROUP BY year(l_shipdate) * 100 + month(l_shipdate)) t),
         s AS (
           SELECT mon, CAST(SUM(qty) OVER (ORDER BY mon) AS BIGINT) AS cume_s
           FROM (SELECT CAST(year(l_shipdate) * 100 + month(l_shipdate) AS BIGINT) AS mon,
                        CAST(FLOOR(SUM(l_quantity)) AS BIGINT) AS qty
                 FROM lineitem WHERE l_returnflag = 'A'
                 GROUP BY year(l_shipdate) * 100 + month(l_shipdate)) t)
         SELECT COALESCE(w.mon, s.mon) AS mon, cume_w, cume_s
         FROM w FULL OUTER JOIN s ON w.mon = s.mon
         WHERE COALESCE(cume_w, 0) > COALESCE(cume_s, 0)
         ORDER BY mon""",

    // tpcds/query47.sql shape: monthly sums per brand with LAG/LEAD
    // neighbors and a DESC rank within the brand
    "tpcds_q47" ->
      """SELECT p_brand, mon, sum_qty,
                CAST(LAG(sum_qty) OVER (PARTITION BY p_brand ORDER BY mon) AS BIGINT) AS prev_qty,
                CAST(LEAD(sum_qty) OVER (PARTITION BY p_brand ORDER BY mon) AS BIGINT) AS next_qty,
                CAST(RANK() OVER (PARTITION BY p_brand ORDER BY sum_qty DESC, mon) AS BIGINT) AS qty_rank
         FROM (SELECT p_brand, CAST(month(o_orderdate) AS BIGINT) AS mon,
                      CAST(FLOOR(SUM(l_quantity)) AS BIGINT) AS sum_qty
               FROM lineitem
               JOIN orders ON l_orderkey = o_orderkey
               JOIN part ON l_partkey = p_partkey
               WHERE p_brand IN ('Brand#14', 'Brand#25')
               GROUP BY p_brand, month(o_orderdate)) t
         ORDER BY p_brand, mon""",

    // tpcds/query57.sql shape: yearly average of monthly sums (avg of an
    // aggregate over a window), a chronological in-partition RANK, and
    // LAG/LEAD neighbors taken over that rank — the boundary-months filter
    // (Dec of the prior year, Jan of the next) feeds the edge rows
    "tpcds_q57" ->
      """WITH v1 AS (
           SELECT s_nationkey AS nat, CAST(year(o_orderdate) AS BIGINT) AS yr,
                  CAST(month(o_orderdate) AS BIGINT) AS mo,
                  CAST(FLOOR(SUM(l_quantity)) AS BIGINT) AS sum_sales
           FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN supplier ON l_suppkey = s_suppkey
           WHERE year(o_orderdate) = 1995
              OR (year(o_orderdate) = 1994 AND month(o_orderdate) = 12)
              OR (year(o_orderdate) = 1996 AND month(o_orderdate) = 1)
           GROUP BY s_nationkey, year(o_orderdate), month(o_orderdate)),
         v2 AS (
           SELECT nat, yr, mo, sum_sales,
                  CAST(FLOOR(AVG(sum_sales) OVER (PARTITION BY nat, yr)) AS BIGINT) AS avg_yr,
                  CAST(RANK() OVER (PARTITION BY nat ORDER BY yr, mo) AS BIGINT) AS rn
           FROM v1),
         v3 AS (
           SELECT nat, yr, mo, sum_sales, avg_yr, rn,
                  CAST(LAG(sum_sales) OVER (PARTITION BY nat ORDER BY rn) AS BIGINT) AS psum,
                  CAST(LEAD(sum_sales) OVER (PARTITION BY nat ORDER BY rn) AS BIGINT) AS nsum
           FROM v2)
         SELECT nat, yr, mo, sum_sales, avg_yr, rn, psum, nsum
         FROM v3 WHERE avg_yr > 0
         ORDER BY nat, yr, mo""",

    // tpcds/query63.sql shape: monthly sums filtered by OR'd category
    // branches, a whole-partition AVG window, and an outer deviation
    // filter — the |sum − avg| / avg > 0.1 test done in INTEGER arithmetic
    // (|s−a|·10 > a) so the threshold has no floating-point boundary
    "tpcds_q63" ->
      """SELECT nat, mon, sum_sales, avg_monthly FROM (
           SELECT nat, mon, sum_sales,
                  CAST(FLOOR(AVG(sum_sales) OVER (PARTITION BY nat)) AS BIGINT) AS avg_monthly
           FROM (SELECT s_nationkey AS nat,
                        CAST(month(o_orderdate) AS BIGINT) AS mon,
                        CAST(FLOOR(SUM(l_quantity)) AS BIGINT) AS sum_sales
                 FROM lineitem
                 JOIN orders ON l_orderkey = o_orderkey
                 JOIN supplier ON l_suppkey = s_suppkey
                 WHERE year(o_orderdate) IN (1995, 1996)
                   AND (s_nationkey IN (1, 2, 3) OR s_nationkey IN (10, 11))
                 GROUP BY s_nationkey, month(o_orderdate)) x) y
         WHERE avg_monthly > 0
           AND ABS(sum_sales - avg_monthly) * 10 > avg_monthly
         ORDER BY nat, mon""")

  /** TPC-H queries from the reference's quidem suite
    * (`quidem-ut/src/test/quidem/org.apache.druid.quidem.QTest/qaTpch/
    * broadcast.msq.iq` — it runs Q01/02/04/06/11/14/15/17/19/20/22 through
    * its MSQ engine in broadcast and sortMerge modes, sortMerge covering
    * Q01–Q06/Q08–Q18/Q20/Q22). The full battery is ported: queries that
    * touch columns absent from the reduced testdata schema (commitdate/
    * receiptdate/shipmode/container/comment/phone) substitute equivalent
    * predicates over available columns, and the partsupp-dependent shapes
    * (Q02/Q11/Q16/Q20) run over the deterministic [[tpchPartsuppCte]].
    * One shared ANSI text per query, run verbatim by Spark and the DuckDB
    * oracle.
    */
  private[graft] def tpchSql(name: String): String = tpchQuerySql(name)

  /** Deterministic stand-in for the missing `partsupp` table: like real
    * TPC-H, exactly 4 rows per part, with the supplier key an arithmetic
    * function of (p_partkey, j) over the live supplier key range — LINEAR
    * in scale factor (part × a 4-row inline table), never a part×supplier
    * cross join, so the derived table grows like a real partsupp would at
    * 100 TB. Identical in Spark and DuckDB (integer `%` on non-negative
    * keys, then an exact /10.0).
    */
  private val tpchPartsuppCte: String =
    """WITH partsupp AS (
         SELECT p_partkey AS ps_partkey,
                s0 + (p_partkey * 7 + j * 13) % ns AS ps_suppkey,
                CAST((p_partkey * 7 + j * 13) % 1000 + 1 AS BIGINT)
                  AS ps_availqty,
                CAST((p_partkey * 31 + j * 17) % 900 + 100 AS DOUBLE)
                  / 10.0 AS ps_supplycost
         FROM part
         CROSS JOIN (SELECT count(*) AS ns, min(s_suppkey) AS s0
                     FROM supplier) sc
         CROSS JOIN (VALUES (0), (1), (2), (3)) js(j))
    """

  private val tpchQuerySql: Map[String, String] = Map(
    // Q01/Q06 DECIMAL variants: the reference's qaTpch runs through MSQ
    // with DECIMAL semantics — these prove exact-decimal aggregation
    // composes with the battery (no FLOOR, no rounding: the full-precision
    // decimal sums must match to the last cent, rendered as strings so the
    // compare is textual, not float-tolerant). Builds on q_agg_bigdecimal.
    "q01_decimal" ->
      """SELECT l_returnflag, l_linestatus,
                CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS STRING) AS sum_qty,
                CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS STRING) AS sum_base_price,
                CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                  * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DECIMAL(38,4)) AS STRING) AS sum_disc_price,
                count(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= DATE '2001-12-01' - INTERVAL '90' DAY
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",

    "q06_decimal" ->
      """SELECT CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                  * CAST(l_discount AS DECIMAL(4,2))) AS DECIMAL(38,4)) AS STRING) AS revenue
         FROM lineitem
         WHERE l_shipdate >= DATE '1996-01-01'
           AND l_shipdate < DATE '1996-01-01' + INTERVAL '1' YEAR
           AND l_discount BETWEEN 0.03 - 0.01 AND 0.03 + 0.01
           AND l_quantity < 24""",

    // TEST_ID Q01: pricing summary report
    "q01" ->
      """SELECT l_returnflag, l_linestatus,
                CAST(FLOOR(sum(l_quantity)) AS BIGINT) AS sum_qty,
                CAST(FLOOR(sum(CAST(l_extendedprice AS DECIMAL(12,2)))) AS BIGINT) AS sum_base_price,
                CAST(FLOOR(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))))) AS BIGINT)
                  AS sum_disc_price,
                CAST(FLOOR(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) * (1 + CAST(l_tax AS DECIMAL(4,2)))))
                  AS BIGINT) AS sum_charge,
                CAST(FLOOR(avg(l_quantity)) AS BIGINT) AS avg_qty,
                CAST(FLOOR(avg(CAST(l_extendedprice AS DECIMAL(12,2)))) AS BIGINT) AS avg_price,
                CAST(FLOOR(avg(CAST(l_discount AS DECIMAL(4,2)))) AS BIGINT) AS avg_disc,
                count(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= DATE '2001-12-01' - INTERVAL '90' DAY
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",

    // TEST_ID Q06: forecasting revenue change
    "q06" ->
      """SELECT CAST(FLOOR(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2)))) AS BIGINT) AS revenue
         FROM lineitem
         WHERE l_shipdate >= DATE '1996-01-01'
           AND l_shipdate < DATE '1996-01-01' + INTERVAL '1' YEAR
           AND l_discount BETWEEN 0.03 - 0.01 AND 0.03 + 0.01
           AND l_quantity < 24""",

    // TEST_ID Q14: promotion effect (p_type LIKE 'PROMO%'). Same
    // decimal-quotient serialization hazard as Q08 — CAST to DOUBLE so a
    // value with a trailing zero in the 4th decimal can't hash-diverge.
    "q14" ->
      """SELECT CAST(round(100.00 * sum(CASE WHEN p_type LIKE 'PROMO%'
                  THEN CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) ELSE 0 END) /
                sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))), 4) AS DOUBLE) AS promo_revenue
         FROM lineitem, part
         WHERE l_partkey = p_partkey
           AND l_shipdate >= DATE '1996-09-01'
           AND l_shipdate < DATE '1996-09-01' + INTERVAL '1' MONTH""",

    // TEST_ID Q15: top supplier (revenue view + scalar max subquery);
    // revenues rounded to whole units before the equality so a last-ulp
    // difference between the two aggregations cannot drop the argmax row
    "q15" ->
      """SELECT s_suppkey, s_name,
                CAST(FLOOR(total_revenue) AS BIGINT) AS total_revenue
         FROM supplier,
           (SELECT l_suppkey AS supplier_no,
                   round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))), 0)
                     AS total_revenue
            FROM lineitem
            WHERE l_shipdate >= DATE '1996-02-01'
              AND l_shipdate < DATE '1996-02-01' + INTERVAL '3' MONTH
            GROUP BY l_suppkey) rev
         WHERE s_suppkey = supplier_no
           AND total_revenue =
             (SELECT max(round(sum_rev, 0)) FROM
                (SELECT sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS sum_rev
                 FROM lineitem
                 WHERE l_shipdate >= DATE '1996-02-01'
                   AND l_shipdate < DATE '1996-02-01' + INTERVAL '3' MONTH
                 GROUP BY l_suppkey) mx)
         ORDER BY s_suppkey""",

    // TEST_ID Q17: small-quantity-order revenue (container predicate
    // replaced by brand-only — no p_container column in testdata)
    "q17" ->
      """SELECT CAST(FLOOR(sum(CAST(l_extendedprice AS DECIMAL(12,2))) / 7.0) AS BIGINT) AS avg_yearly
         FROM lineitem, part
         WHERE p_partkey = l_partkey
           AND p_brand = 'Brand#23'
           AND l_quantity < (SELECT 0.2 * avg(l_quantity)
                             FROM lineitem WHERE l_partkey = p_partkey)""",

    // TEST_ID Q19: discounted revenue, disjunction of brand/size/quantity
    // range conjunctions (shipmode/container terms replaced by p_size — not
    // in testdata)
    "q19" ->
      """SELECT CAST(FLOOR(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))))) AS BIGINT)
                  AS revenue
         FROM lineitem, part
         WHERE p_partkey = l_partkey
           AND ((p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
                 AND l_quantity BETWEEN 1 AND 11)
             OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
                 AND l_quantity BETWEEN 10 AND 20)
             OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
                 AND l_quantity BETWEEN 20 AND 30))""",

    // TEST_ID Q22: global sales opportunity — phone-prefix country codes
    // become nation keys and "no orders" becomes "no urgent orders" (every
    // synthetic customer has at least one order)
    "q22" ->
      """SELECT cntrycode, count(*) AS numcust,
                CAST(FLOOR(sum(CAST(c_acctbal AS DECIMAL(18,2)))) AS BIGINT) AS totacctbal
         FROM (SELECT CAST(c_nationkey AS BIGINT) AS cntrycode, c_acctbal,
                      c_custkey
               FROM customer
               WHERE c_nationkey IN (1, 2, 3, 7, 8, 9, 10)
                 AND c_acctbal > (SELECT avg(CAST(c_acctbal AS DECIMAL(18,2))) FROM customer
                                  WHERE c_acctbal > 0.00
                                    AND c_nationkey IN (1, 2, 3, 7, 8, 9, 10))) cust
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_orderpriority = '1-URGENT'
                             AND o_custkey = c_custkey)
         GROUP BY cntrycode ORDER BY cntrycode""",

    // TEST_ID Q03: shipping priority (no o_shippriority column in testdata —
    // dropped from the projection/grouping; shape otherwise verbatim)
    "q03" ->
      """SELECT l_orderkey,
                CAST(FLOOR(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))))) AS BIGINT)
                  AS revenue,
                o_orderdate
         FROM customer, orders, lineitem
         WHERE c_mktsegment = 'BUILDING'
           AND c_custkey = o_custkey
           AND l_orderkey = o_orderkey
           AND o_orderdate < DATE '1996-03-21'
           AND l_shipdate > DATE '1996-03-21'
         GROUP BY l_orderkey, o_orderdate
         ORDER BY revenue DESC, o_orderdate, l_orderkey""",

    // TEST_ID Q04: order priority checking — the reference's correlated
    // count-subquery shape; the commit/receipt-date lateness predicate
    // becomes a returnflag test (no commitdate/receiptdate in testdata)
    "q04" ->
      """SELECT o_orderpriority, count(*) AS order_count
         FROM orders
         WHERE o_orderdate >= DATE '1996-04-01'
           AND o_orderdate < DATE '1996-04-01' + INTERVAL '3' MONTH
           AND (SELECT count(*) FROM lineitem
                WHERE l_orderkey = o_orderkey AND l_returnflag = 'R') > 0
         GROUP BY o_orderpriority
         ORDER BY o_orderpriority""",

    // TEST_ID Q05: local supplier volume — 6-table star, verbatim shape
    "q05" ->
      """SELECT n_name,
                CAST(FLOOR(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))))) AS BIGINT)
                  AS revenue
         FROM customer, orders, lineitem, supplier, nation, region
         WHERE c_custkey = o_custkey
           AND l_orderkey = o_orderkey
           AND l_suppkey = s_suppkey
           AND c_nationkey = s_nationkey
           AND s_nationkey = n_nationkey
           AND n_regionkey = r_regionkey
           AND r_name = 'ASIA'
           AND o_orderdate >= DATE '1996-01-01'
           AND o_orderdate < DATE '1996-01-01' + INTERVAL '1' YEAR
         GROUP BY n_name
         ORDER BY revenue DESC, n_name""",

    // Q07: volume shipping between two nations (double self-join of nation)
    "q07" ->
      """SELECT supp_nation, cust_nation, l_year,
                CAST(FLOOR(sum(volume)) AS BIGINT) AS revenue
         FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                      CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS l_year,
                      CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) AS volume
               FROM supplier, lineitem, orders, customer, nation n1, nation n2
               WHERE s_suppkey = l_suppkey
                 AND o_orderkey = l_orderkey
                 AND c_custkey = o_custkey
                 AND s_nationkey = n1.n_nationkey
                 AND c_nationkey = n2.n_nationkey
                 AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_4')
                   OR (n1.n_name = 'NATION_4' AND n2.n_name = 'NATION_3'))
                 AND l_shipdate BETWEEN DATE '1996-01-01' AND DATE '1997-12-31')
              shipping
         GROUP BY supp_nation, cust_nation, l_year
         ORDER BY supp_nation, cust_nation, l_year""",

    // TEST_ID Q08: national market share (8-table join; p_type is a single
    // token in testdata). The ratio is CAST to DOUBLE: Spark's decimal
    // quotient keeps fixed scale (trailing zeros like 0.038360) while
    // DuckDB's prints the float repr (0.03836) — identical values, different
    // serialized bytes. DOUBLE on both dialects makes the text identical.
    "q08" ->
      """SELECT o_year,
                CAST(round(sum(CASE WHEN nation = 'NATION_5' THEN volume ELSE 0 END)
                      / sum(volume), 6) AS DOUBLE) AS mkt_share
         FROM (SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
                      CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) AS volume,
                      n2.n_name AS nation
               FROM part, supplier, lineitem, orders, customer,
                    nation n1, nation n2, region
               WHERE p_partkey = l_partkey
                 AND s_suppkey = l_suppkey
                 AND l_orderkey = o_orderkey
                 AND o_custkey = c_custkey
                 AND c_nationkey = n1.n_nationkey
                 AND n1.n_regionkey = r_regionkey
                 AND r_name = 'AMERICA'
                 AND s_nationkey = n2.n_nationkey
                 AND o_orderdate BETWEEN DATE '1996-01-01' AND DATE '1997-12-31'
                 AND p_type = 'ECONOMY') all_nations
         GROUP BY o_year
         ORDER BY o_year""",

    // TEST_ID Q09: product-type profit measure (ps_supplycost replaced by a
    // p_retailprice-derived unit cost — no partsupp table in testdata)
    "q09" ->
      """SELECT nation, o_year,
                CAST(FLOOR(sum(amount)) AS BIGINT) AS sum_profit
         FROM (SELECT n_name AS nation,
                      CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
                      CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))
                        - CAST(p_retailprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2)) * 0.01 AS amount
               FROM part, supplier, lineitem, orders, nation
               WHERE s_suppkey = l_suppkey
                 AND p_partkey = l_partkey
                 AND o_orderkey = l_orderkey
                 AND s_nationkey = n_nationkey
                 AND p_name LIKE '%gear%') profit
         GROUP BY nation, o_year
         ORDER BY nation, o_year DESC""",

    // TEST_ID Q10: returned-item reporting (address/phone/comment columns
    // absent from testdata — dropped from projection/grouping)
    "q10" ->
      """SELECT c_custkey, c_name,
                CAST(FLOOR(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))))) AS BIGINT)
                  AS revenue,
                CAST(FLOOR(c_acctbal) AS BIGINT) AS c_acctbal, n_name
         FROM customer, orders, lineitem, nation
         WHERE c_custkey = o_custkey
           AND l_orderkey = o_orderkey
           AND o_orderdate >= DATE '1996-07-01'
           AND o_orderdate < DATE '1996-07-01' + INTERVAL '3' MONTH
           AND l_returnflag = 'R'
           AND c_nationkey = n_nationkey
         GROUP BY c_custkey, c_name, c_acctbal, n_name
         ORDER BY revenue DESC, c_custkey""",

    // TEST_ID Q12: shipping modes and order priority (shipmode becomes
    // linestatus, the commit/receipt lateness test becomes ship-after-order)
    "q12" ->
      """SELECT l_linestatus,
                CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
                               OR o_orderpriority = '2-HIGH'
                              THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                CAST(sum(CASE WHEN o_orderpriority <> '1-URGENT'
                              AND o_orderpriority <> '2-HIGH'
                              THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
         FROM orders, lineitem
         WHERE o_orderkey = l_orderkey
           AND l_linestatus IN ('O', 'F')
           AND l_shipdate > o_orderdate
           AND l_shipdate >= DATE '1997-01-01'
           AND l_shipdate < DATE '1997-01-01' + INTERVAL '1' YEAR
         GROUP BY l_linestatus
         ORDER BY l_linestatus""",

    // TEST_ID Q13: customer distribution (left join + two-level count; the
    // o_comment anti-filter becomes a priority filter)
    "q13" ->
      """SELECT c_count, count(*) AS custdist
         FROM (SELECT c_custkey, count(o_orderkey) AS c_count
               FROM customer LEFT OUTER JOIN orders
                 ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
               GROUP BY c_custkey) c_orders
         GROUP BY c_count
         ORDER BY custdist DESC, c_count DESC""",

    // TEST_ID Q18: large-volume customers (IN over a HAVING subquery;
    // threshold tuned to the synthetic quantity distribution)
    "q18" ->
      """SELECT c_name, c_custkey, o_orderkey, o_orderdate,
                CAST(FLOOR(o_totalprice) AS BIGINT) AS o_totalprice,
                CAST(sum(l_quantity) AS BIGINT) AS sum_qty
         FROM customer, orders, lineitem
         WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                              GROUP BY l_orderkey
                              HAVING sum(l_quantity) > 300)
           AND c_custkey = o_custkey
           AND o_orderkey = l_orderkey
         GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
         ORDER BY o_totalprice DESC, o_orderdate, o_orderkey""",

    // Q21: suppliers who kept orders waiting — EXISTS + NOT-EXISTS pair over
    // the same fact table (lateness via returnflag, no receipt/commit dates)
    "q21" ->
      """SELECT s_name, count(*) AS numwait
         FROM supplier, lineitem l1, orders, nation
         WHERE s_suppkey = l1.l_suppkey
           AND o_orderkey = l1.l_orderkey
           AND o_orderstatus = 'F'
           AND l1.l_returnflag = 'R'
           AND EXISTS (SELECT 1 FROM lineitem l2
                       WHERE l2.l_orderkey = l1.l_orderkey
                         AND l2.l_suppkey <> l1.l_suppkey)
           AND NOT EXISTS (SELECT 1 FROM lineitem l3
                           WHERE l3.l_orderkey = l1.l_orderkey
                             AND l3.l_suppkey <> l1.l_suppkey
                             AND l3.l_returnflag = 'R')
           AND s_nationkey = n_nationkey
           AND n_name = 'NATION_3'
         GROUP BY s_name
         ORDER BY numwait DESC, s_name""",

    // TEST_ID Q02: minimum-cost supplier (correlated MIN subquery over the
    // derived partsupp CTE)
    "q02" -> (tpchPartsuppCte +
      """SELECT s_acctbal, s_name, n_name, p_partkey, p_brand,
                round(ps_supplycost, 1) AS ps_supplycost
         FROM part, supplier, partsupp, nation, region
         WHERE p_partkey = ps_partkey
           AND s_suppkey = ps_suppkey
           AND p_size BETWEEN 10 AND 20
           AND p_type = 'LARGE'
           AND s_nationkey = n_nationkey
           AND n_regionkey = r_regionkey
           AND r_name = 'EUROPE'
           AND ps_supplycost =
             (SELECT min(ps_supplycost)
              FROM partsupp, supplier, nation, region
              WHERE p_partkey = ps_partkey
                AND s_suppkey = ps_suppkey
                AND s_nationkey = n_nationkey
                AND n_regionkey = r_regionkey
                AND r_name = 'EUROPE')
         ORDER BY s_acctbal DESC, n_name, s_name, p_partkey"""),

    // TEST_ID Q11: important stock identification (HAVING vs a scalar
    // aggregate subquery over the same join)
    "q11" -> (tpchPartsuppCte +
      """SELECT ps_partkey,
                CAST(FLOOR(sum(CAST(ps_supplycost AS DECIMAL(12,1)) * ps_availqty)) AS BIGINT)
                  AS part_value
         FROM partsupp, supplier, nation
         WHERE ps_suppkey = s_suppkey
           AND s_nationkey = n_nationkey
           AND n_name = 'NATION_9'
         GROUP BY ps_partkey
         HAVING sum(CAST(ps_supplycost AS DECIMAL(12,1)) * ps_availqty) >
           (SELECT sum(CAST(ps_supplycost AS DECIMAL(12,1)) * ps_availqty) * 0.001
            FROM partsupp, supplier, nation
            WHERE ps_suppkey = s_suppkey
              AND s_nationkey = n_nationkey
              AND n_name = 'NATION_9')
         ORDER BY part_value DESC, ps_partkey"""),

    // TEST_ID Q16: part/supplier relationship (NOT IN + COUNT DISTINCT)
    "q16" -> (tpchPartsuppCte +
      """SELECT p_brand, p_type, p_size,
                count(DISTINCT ps_suppkey) AS supplier_cnt
         FROM partsupp, part
         WHERE p_partkey = ps_partkey
           AND p_brand <> 'Brand#45'
           AND p_type NOT LIKE 'MEDIUM%'
           AND p_size IN (9, 14, 19, 23, 36, 45, 49, 3)
           AND ps_suppkey NOT IN
             (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
         GROUP BY p_brand, p_type, p_size
         ORDER BY supplier_cnt DESC, p_brand, p_type, p_size"""),

    // TEST_ID Q20: potential part promotion (nested IN with a correlated
    // half-stock subquery — the reference's exact Q20 shape)
    "q20" -> (tpchPartsuppCte +
      """SELECT s_name, CAST(FLOOR(s_acctbal) AS BIGINT) AS s_acctbal
         FROM supplier, nation
         WHERE s_suppkey IN
             (SELECT ps_suppkey FROM partsupp
              WHERE ps_partkey IN
                  (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
                AND ps_availqty >
                  (SELECT 0.5 * sum(l_quantity)
                   FROM lineitem
                   WHERE l_partkey = ps_partkey
                     AND l_suppkey = ps_suppkey
                     AND l_shipdate >= DATE '1996-01-01'
                     AND l_shipdate < DATE '1996-01-01' + INTERVAL '1' YEAR))
           AND s_nationkey = n_nationkey
           AND n_name = 'NATION_2'
         ORDER BY s_name"""))

  /** Randomized cross-engine consistency corpus — the analog of the
    * reference's `SqlVectorizedExpressionResultConsistencyTest` (its
    * vectorized and non-vectorized engines must agree on generated
    * queries; here Spark and the DuckDB oracle must). A seeded,
    * deterministic generator emits `n` mini aggregation queries over a
    * portable grammar (string dimension × modulo/range predicates ×
    * exact-reproducible aggregates) and unions them into ONE SQL text that
    * both engines run verbatim. Aggregates are restricted to
    * cross-engine-exact forms: counts, min/max (order-free), and
    * sums/avgs of integer-valued columns — float-accumulation-order
    * differences can never flip a value.
    */
  private[graft] def consistencySql(seed: Long, n: Int): String = {
    val rnd = new scala.util.Random(seed)
    case class T(name: String, dims: Seq[String], intish: Seq[String],
                 anyNum: Seq[String], keys: Seq[String])
    val tables = Seq(
      T("lineitem", Seq("l_returnflag", "l_linestatus"),
        Seq("l_quantity"), Seq("l_extendedprice", "l_discount", "l_tax"),
        Seq("l_orderkey", "l_partkey", "l_suppkey")),
      T("orders", Seq("o_orderpriority", "o_orderstatus"),
        Seq(), Seq("o_totalprice"), Seq("o_orderkey", "o_custkey")),
      T("customer", Seq("c_mktsegment"),
        Seq("c_nationkey"), Seq("c_acctbal"), Seq("c_custkey")))
    def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.size))
    val parts = (0 until n).map { i =>
      val t = pick(tables)
      val dim = pick(t.dims)
      val key = pick(t.keys)
      val pred = rnd.nextInt(3) match {
        case 0 =>
          val k = 2 + rnd.nextInt(9); val j = rnd.nextInt(k)
          s"$key % $k = $j"
        case 1 =>
          val lo = rnd.nextInt(2000); val hi = lo + 500 + rnd.nextInt(5000)
          s"$key BETWEEN $lo AND $hi"
        case _ =>
          val k = 2 + rnd.nextInt(5); val j = rnd.nextInt(k)
          s"$key % $k <> $j"
      }
      rnd.nextInt(4) match {
        case 3 =>
          // window family: ranking functions folded through deterministic
          // reductions — RANK/DENSE_RANK and the peer-class cumulative count
          // depend only on the (dim, key) multiset, never on tie order
          val wfn = rnd.nextInt(3) match {
            case 0 => s"RANK() OVER (PARTITION BY $dim ORDER BY $key)"
            case 1 => s"DENSE_RANK() OVER (PARTITION BY $dim ORDER BY $key)"
            case _ => s"COUNT(*) OVER (PARTITION BY $dim ORDER BY $key)"
          }
          s"""SELECT 'g$i' AS qid, d, CAST(count(*) AS BIGINT) AS n,
             |       CAST(sum(rnk) AS BIGINT) AS s, CAST(max(rnk) AS DOUBLE) AS v
             |FROM (SELECT CAST($dim AS VARCHAR(64)) AS d, $wfn AS rnk
             |      FROM ${t.name} WHERE $pred) x GROUP BY d""".stripMargin
        case 2 if t.name != "lineitem" =>
          // join family: orders/customer joined to its dimension-side twin,
          // deterministic integer aggregates over the join result
          val (join, jdim, jkey) =
            if (t.name == "orders")
              ("orders JOIN customer ON o_custkey = c_custkey",
                "c_mktsegment", "o_orderkey")
            else
              ("customer JOIN nation ON c_nationkey = n_nationkey",
                "n_name", "c_custkey")
          val m = 11 + rnd.nextInt(89)
          s"""SELECT 'g$i' AS qid, CAST($jdim AS VARCHAR(64)) AS d,
             |       CAST(count(*) AS BIGINT) AS n,
             |       CAST(sum($jkey % $m) AS BIGINT) AS s,
             |       CAST(count(DISTINCT $jkey) AS DOUBLE) AS v
             |FROM $join WHERE $pred GROUP BY $jdim""".stripMargin
        case _ =>
          val agg = rnd.nextInt(4) match {
            case 0 => s"round(min(${pick(t.anyNum)}), 3)"
            case 1 => s"round(max(${pick(t.anyNum)}), 3)"
            case 2 if t.intish.nonEmpty => s"round(avg(${pick(t.intish)}), 6)"
            case _ => s"CAST(count(DISTINCT $key) AS BIGINT)"
          }
          val sum =
            if (t.intish.nonEmpty) s"CAST(sum(${pick(t.intish)}) AS BIGINT)"
            else "CAST(count(*) AS BIGINT)"
          s"""SELECT 'g$i' AS qid, CAST($dim AS VARCHAR(64)) AS d,
             |       CAST(count(*) AS BIGINT) AS n, $sum AS s,
             |       CAST($agg AS DOUBLE) AS v
             |FROM ${t.name} WHERE $pred GROUP BY $dim""".stripMargin
      }
    }
    parts.mkString("", "\nUNION ALL\n", "\nORDER BY qid, d")
  }

  /** Every gate, armed and over its tables: each builder first runs
    * `GraftSession.attach` and registers `dir`'s tables as the session's
    * views, so a gate answers the same whichever gates ran before it on the
    * session, and SQL-text bodies read the tables by name.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map { case (name, build) =>
      name -> ((s: SparkSession, dir: String) => {
        GraftSession.attach(s)
        Tables.registerAll(s, dir)
        build(s, dir)
      })
    }

  private def gates: Map[String, (SparkSession, String) => DataFrame] =
    Map[String, (SparkSession, String) => DataFrame](

    // ----------------------------------------------------- scan (§2.1/§2.7)
    "q_scan" -> ((s, dir) => {
      NQ.scan(t(s, dir)("lineitem"),
        Seq("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_shipdate"),
        filter = Some(col("l_quantity") > 45 &&
          col("l_shipdate") >= lit("1994-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-01-01").cast("timestamp")),
        orderBy = Seq(col("l_orderkey"), col("l_linenumber")),
        limit = Some(500))
    }),

    "q_scan_desc" -> ((s, dir) => {
      // scan with descending __time ordering (reference ScanQuery order
      // "descending" — the only native scan ordering besides ascending);
      // event_id tiebreak for cross-engine determinism
      NQ.scan(t(s, dir)("events"),
        Seq("event_id", "event_type", "value"),
        filter = Some(col("event_type") === "click"),
        orderBy = Seq(col("event_id").desc),
        limit = Some(200))
    }),

    "q_scan_offset" -> ((s, dir) => {
      NQ.scan(t(s, dir)("orders"),
        Seq("o_orderkey", "o_orderstatus", "o_totalprice"),
        filter = Some(col("o_orderstatus") === "F"),
        orderBy = Seq(col("o_orderkey")),
        limit = Some(100), offset = 50)
    }),

    // ------------------------------------------- timeBoundary / dsMeta (§2.11)
    "q_time_boundary" -> ((s, dir) => {
      t(s, dir)("events").agg(
        date_trunc("second", min(col("ts"))).as("min_time"),
        date_trunc("second", max(col("ts"))).as("max_time"))
    }),

    "q_datasource_metadata" -> ((s, dir) => {
      t(s, dir)("events").agg(
        count(lit(1)).as("num_rows"),
        date_trunc("second", max(col("ts"))).as("max_ingested_time"))
    }),

    // ------------------------------------------------------ timeseries (§2.11)
    "q_timeseries_hour" -> ((s, dir) => {
      NQ.timeseries(t(s, dir)("events"), "ts", "PT1H",
        Seq(count(lit(1)).as("n"), round(sum(col("value")), 3).as("sum_value")))
    }),

    "q_timeseries_subsecond" -> ((s, dir) => {
      // sub-second DurationGranularity (reference DurationGranularity.java
      // takes arbitrary millis): 500 ms buckets through the JSON facade,
      // floored in exact integer micros. Bucket emitted as epoch-millis
      // BIGINT — at 500 ms edges the ns→us truncation cannot move a row
      // across a boundary, so the oracle is exact
      val df = graft.api.NativeJsonQuery.run(s, dir, """
        {"queryType": "timeseries", "dataSource": "events",
         "granularity": {"type": "duration", "duration": 500},
         "aggregations": [{"type": "count", "name": "n"}],
         "intervals": ["2024-01-01T00:00:00Z/2024-02-01T00:00:00Z"],
         "context": {"skipEmptyBuckets": true}}""")
      df.select((unix_micros(col("timestamp")) / 1000).cast("long")
          .as("bucket_ms"), col("n"))
        .orderBy(col("bucket_ms"))
    }),

    "q_timeseries_gaps" -> ((s, dir) => {
      // zero-fill across INTERIOR gaps (not just dense series): purchase ∧
      // value ≥ 300 leaves rows on ~5 of 30 days at sf0.01, and every empty
      // day must still come back — count 0, sum null (reference timeseries
      // zero-fill, TimeseriesQueryEngine skipEmptyBuckets=false default)
      graft.api.NativeJsonQuery.run(s, dir, """
        {"queryType": "timeseries", "dataSource": "events",
         "granularity": "day",
         "intervals": ["2024-01-01T00:00:00Z/2024-01-31T00:00:00Z"],
         "filter": {"type": "and", "fields": [
            {"type": "selector", "dimension": "event_type", "value": "purchase"},
            {"type": "bound", "dimension": "value", "lower": 300}]},
         "aggregations": [{"type": "count", "name": "n"},
                          {"type": "doubleSum", "name": "sv", "fieldName": "value"}]}""")
        .withColumn("sv", round(col("sv"), 3))
    }),

    "q_moving_avg_gaps" -> ((s, dir) => {
      // movingAverage across interior gaps: the 7-bucket Mean divides by 7
      // with absent buckets counting as ZERO (dense-grid semantics,
      // reference MovingAverageIterable), and the gap days are emitted
      graft.api.NativeJsonQuery.run(s, dir, """
        {"queryType": "movingAverage", "dataSource": "events",
         "granularity": "day",
         "intervals": ["2024-01-01T00:00:00Z/2024-01-31T00:00:00Z"],
         "filter": {"type": "and", "fields": [
            {"type": "selector", "dimension": "event_type", "value": "purchase"},
            {"type": "bound", "dimension": "value", "lower": 300}]},
         "aggregations": [{"type": "doubleSum", "name": "dv", "fieldName": "value"}],
         "averagers": [
           {"type": "doubleMean", "name": "ma7", "fieldName": "dv", "buckets": 7},
           {"type": "doubleMax", "name": "mx7", "fieldName": "dv", "buckets": 7}]}""")
        .withColumn("dv", round(col("dv"), 3))
        .withColumn("ma7", round(col("ma7"), 3))
        .withColumn("mx7", round(col("mx7"), 3))
    }),

    "q_window_sparse_range" -> ((s, dir) => {
      // RANGE frame over a gappy per-type daily series: value > 250 leaves
      // each event_type with rows on only 7-14 of 30 days, so a 3-day RANGE
      // window covers FEWER rows than a 3-row ROWS frame — the frame must
      // be value-based, not row-position-based
      import org.apache.spark.sql.expressions.Window
      val daily = t(s, dir)("events").filter(col("value") > 250)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(sum(col("value")).as("dv"))
        .withColumn("day_num", datediff(col("day"), lit("1970-01-01")))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day_num"))
        .rangeBetween(-2, 0)
      daily.select(col("event_type"), col("day"),
          round(col("dv"), 3).as("dv"),
          round(sum(col("dv")).over(w), 3).as("s3"),
          count(lit(1)).over(w).as("rows3"))
        .orderBy(col("event_type"), col("day"))
    }),

    "q_retention" -> ((s, dir) => {
      // day-N retention cohorts: for each signup-day cohort (first-seen
      // day), the share still active 7 days later — two tiny per-user
      // aggregates, the day-7 check as a semi join
      val ev = t(s, dir)("events")
      val firstDay = ev.groupBy(col("user_id"))
        .agg(to_date(min(col("ts"))).as("cohort_day"))
      val activeDays = ev.select(col("user_id"), to_date(col("ts")).as("day"))
        .distinct()
      val retained = firstDay.join(activeDays, Seq("user_id"))
        .filter(col("day") === date_add(col("cohort_day"), 7))
        .select(col("user_id"), col("cohort_day"))
      firstDay.groupBy(col("cohort_day")).agg(count(lit(1)).as("cohort_size"))
        .join(retained.groupBy(col("cohort_day"))
          .agg(count(lit(1)).as("n_retained")), Seq("cohort_day"), "left")
        .select(col("cohort_day"), col("cohort_size"),
          coalesce(col("n_retained"), lit(0L)).as("n_retained"))
        .orderBy(col("cohort_day"))
    }),

    "q_funnel" -> ((s, dir) => {
      // funnel conversion: users whose first 'view' is followed by a
      // 'purchase' within 1 hour — a first-event aggregate joined against
      // the purchase stream (broadcastable: one row per user)
      val ev = t(s, dir)("events")
      val firstView = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("first_view"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_ts"))
      val converted = firstView.join(purchases, Seq("user_id"))
        .filter(col("p_ts") >= col("first_view") &&
          col("p_ts") <= col("first_view") + expr("INTERVAL 1 HOUR"))
        .select(col("user_id")).distinct()
      firstView.agg(count(lit(1)).as("n_viewers"))
        .crossJoin(converted.agg(count(lit(1)).as("n_converted")))
        .select(col("n_viewers"), col("n_converted"),
          round(col("n_converted") / col("n_viewers"), 4).as("conv_rate"))
    }),

    "q_sessionize" -> ((s, dir) => {
      // batch sessionization (the streaming form lives in
      // StreamingIngest/StreamingSpec): a session breaks after a 30-minute
      // gap; session id = running count of breaks per user — one window
      // pass for the lag, one for the running sum, then a groupBy
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      val ev = t(s, dir)("events")
        .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        .withColumn("brk", when(col("prev_ts").isNull ||
          unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800, 1)
          .otherwise(0))
        .withColumn("session_no", sum(col("brk")).over(byUser))
      ev.groupBy(col("user_id"), col("session_no"))
        .agg(count(lit(1)).as("n_events"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"),
          max(col("n_events")).as("longest_session"))
        .filter(col("n_sessions") >= 3)
        .orderBy(col("user_id"))
    }),

    "q_session_window" -> ((s, dir) => {
      // Spark-NATIVE session windows (the session_window grouping function
      // — the idiomatic scale path for sessionization: one gap-merging
      // aggregation, no lag+running-sum window pair like q_sessionize):
      // 30-minute gap, per-user session aggregates; the oracle rebuilds the
      // same sessions with the classic gaps-and-islands formulation.
      // Spark opens a NEW session when the gap >= the duration (the
      // previous session's half-open [start, last+gap) end excludes it).
      t(s, dir)("events").filter(col("user_id") < 40)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value").cast("decimal(18,6)")), 3).cast("double")
            .as("sum_v"))
        .select(col("user_id"),
          date_trunc("second", col("session_window.start")).as("session_start"),
          col("n_events"), col("sum_v"))
        .orderBy(col("user_id"), col("session_start"))
    }),

    "q_timewarp" -> ((s, dir) => {
      // timewarp post-processing (reference TimewarpOperator): answer a
      // "this week" query from last week's complete data — query the
      // interval shifted back one week, then shift result buckets forward
      val base = t(s, dir)("events")
        .filter(col("ts") >= lit("2024-01-01").cast("timestamp") &&
          col("ts") < lit("2024-01-08").cast("timestamp"))
      val daily = base
        .groupBy(DruidFunctions.timeFloor(col("ts"), "P1D").as("bucket"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 3).as("sum_value"))
      PostProcessing.timewarp(daily, "bucket", "P7D", 1).orderBy(col("bucket"))
    }),

    "q_timeseries_zerofill" -> ((s, dir) => {
      NQ.timeseries(t(s, dir)("events"), "ts", "P1D",
        Seq(count(lit(1)).as("n")),
        filter = Some(col("event_type") === "signup" &&
          col("ts") >= lit("2024-01-01").cast("timestamp") &&
          col("ts") < lit("2024-01-09").cast("timestamp")),
        zeroFill = Some(("2024-01-01", "2024-01-08")))
        .select(col("bucket"), coalesce(col("n"), lit(0L)).as("n"))
    }),

    // ------------------------------------------------------------ topN (§2.7)
    "q_topn" -> ((s, dir) => {
      NQ.topN(t(s, dir)("events"), col("user_id"),
        Seq(count(lit(1)).as("n"), round(sum(col("value")), 3).as("sum_value")),
        metric = "n", k = 20, tiebreak = Seq(col("user_id").asc))
    }),

    "q_topn_approx" -> ((s, dir) => {
      // the reference's APPROXIMATE topN algorithm as a custom SparkPlan
      // (plans/ApproxTopN): per-partition top-1000 partials, merge. Exact
      // whenever per-partition cardinality <= 1000 — true at the oracle SF,
      // so this hash-matches the exact query
      graft.plans.ApproxTopN.approxTopN(t(s, dir)("events"), "user_id",
        valueCol = None, k = 20)
        .select(col("user_id"), col("metric").cast("long").as("n"))
    }),

    "q_topn_inverted" -> ((s, dir) => {
      // inverted topN metric spec (reference InvertedTopNMetricSpec):
      // bottom-K by the metric
      t(s, dir)("events")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").asc, col("user_id").asc)
        .limit(15)
    }),

    "q_topn_dim_order" -> ((s, dir) => {
      // dimension-ordered topN (reference DimensionTopNMetricSpec,
      // lexicographic): first K dimension values with their aggregates
      t(s, dir)("part")
        .groupBy(col("p_type"))
        .agg(count(lit(1)).as("n"), sum(col("p_size")).as("sum_size"))
        .orderBy(col("p_type").asc)
        .limit(4)
    }),

    "q_sql_timefloor_full" -> ((s, dir) => {
      // full TIME_FLOOR arity (reference TimeFloorOperatorConversion):
      // origin-anchored fixed buckets, timezone wall-clock calendar floors
      // (zone-local midnight across the DST line), arbitrary fixed periods
      s.sql("""
        SELECT event_id,
               TIME_FLOOR(ts, 'PT15M', '1970-01-01T00:07:00') AS f_origin,
               TIME_FLOOR(ts, 'P1D', NULL, 'America/Los_Angeles') AS f_la,
               TIME_FLOOR(ts, 'PT6H') AS f_6h
        FROM events WHERE event_id < 300 ORDER BY event_id""")
    }),

    "q_sql_quoted_idents" -> ((s, dir) => {
      // Calcite double-quoted identifiers exactly as the reference console
      // emits them — the SQL API accepts the dialect verbatim
      graft.api.SqlApi.run(s, dir, """{
        "query": "SELECT \"t\".\"event_type\" AS \"type\", CAST(COUNT(*) AS BIGINT) AS \"count\" FROM \"events\" AS \"t\" WHERE \"t\".\"event_id\" < 1000 GROUP BY \"t\".\"event_type\" ORDER BY \"type\""
      }""")
    }),

    "q_sql_floor_to" -> ((s, dir) => {
      // Calcite FLOOR(t TO unit) / CEIL(t TO unit) — the console's time
      // bucketing syntax, translated by SqlApi.floorCeilTo
      graft.api.SqlApi.run(s, dir, """{
        "query": "SELECT FLOOR(ts TO DAY) AS d, CEIL(ts TO HOUR) AS ch, CAST(count(*) AS BIGINT) AS n FROM events WHERE event_id < 2000 GROUP BY FLOOR(ts TO DAY), CEIL(ts TO HOUR) ORDER BY d, ch"
      }""")
    }),

    "q_sql_trunc_alias" -> ((s, dir) => {
      // DruidOperatorTable.java:229: TRUNC aliases numeric TRUNCATE (digits
      // default 0) — Spark's own trunc is DATE truncation and would shadow
      s.sql("""
        SELECT trunc(3.77D * 10) / 10 AS t1,
               TRUNCATE(-2.99D, 1) AS t2,
               trunc(-2.9D) AS t3,
               TRUNCATE(1234.567D, -2) AS t4
        FROM region LIMIT 1""")
    }),

    "q_sql_time_in_interval" -> ((s, dir) => {
      // TimeInIntervalConvertletFactory: all three ISO interval spellings —
      // start/end, start/PERIOD, PERIOD/end — as half-open [start, end),
      // with calendar (P6M) and fixed (PT36H) period endpoints
      s.sql("""
        SELECT CAST(count(*) FILTER (WHERE TIME_IN_INTERVAL(
                 CAST(o_orderdate AS TIMESTAMP), '1995-01-01/1996-01-01')) AS BIGINT) AS c_se,
               CAST(count(*) FILTER (WHERE TIME_IN_INTERVAL(
                 CAST(o_orderdate AS TIMESTAMP), '1995-01-01/P6M')) AS BIGINT) AS c_sp,
               CAST(count(*) FILTER (WHERE TIME_IN_INTERVAL(
                 CAST(o_orderdate AS TIMESTAMP), 'P6M/1996-01-01')) AS BIGINT) AS c_pe,
               CAST(count(*) FILTER (WHERE TIME_IN_INTERVAL(
                 CAST(o_orderdate AS TIMESTAMP), '1995-06-15/PT36H')) AS BIGINT) AS c_fx
        FROM orders""")
    }),

    "q_sql_timefloor_multimonth" -> ((s, dir) => {
      // PeriodGranularity.java:417,436: year/month MULTIPLES (P2Y, P6M)
      // are calendar buckets aligned on 1970-01; TIME_CEIL at an exact
      // boundary stays on the boundary
      s.sql("""
        SELECT CAST(TIME_FLOOR(CAST(o_orderdate AS TIMESTAMP), 'P6M') AS STRING) AS h1,
               CAST(TIME_FLOOR(CAST(o_orderdate AS TIMESTAMP), 'P2Y') AS STRING) AS y2,
               CAST(TIME_CEIL(CAST(o_orderdate AS TIMESTAMP), 'P6M') AS STRING) AS c6,
               CAST(count(*) AS BIGINT) AS cnt
        FROM orders GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""")
    }),

    "q_sql_timefloor_multiweek" -> ((s, dir) => {
      // PeriodGranularity.java:455: MULTI-week periods are fixed-length and
      // epoch-anchored (1970-01-01, a Thursday) — unlike single P1W, which
      // is the Monday calendar week
      s.sql("""
        SELECT CAST(TIME_FLOOR(ts, 'P2W') AS STRING) AS wk2,
               CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1 ORDER BY 1""")
    }),

    "q_sql_parse_long_edges" -> ((s, dir) => {
      // Function.java ParseLong:748: signed Long.parseLong in the given
      // radix, NULL on any invalid digit (never 0), fractional text is not
      // integral; the 0x/0X prefix is stripped only when the RAW input
      // starts with it — '-0xfF' is NOT '-255', it fails Long.parseLong
      // and NULLs, while '0x-f' parses (sign allowed after the strip) and
      // a leading '+' is a Long.parseLong-legal sign
      s.sql("""
        SELECT parse_long('123') AS p10,
               parse_long('-45') AS pneg,
               parse_long('1.5') AS pfrac,
               parse_long('ff', 16) AS phex,
               parse_long('0xFF', 16) AS phexpre,
               parse_long('-0xfF', 16) AS phexneg,
               parse_long('0x-f', 16) AS phexinner,
               parse_long('+ff', 16) AS pplus,
               parse_long('GG', 16) AS pbad,
               parse_long('101', 2) AS pbin,
               parse_long('zz', 36) AS p36
        FROM region LIMIT 1""")
    }),

    "q_sql_round_repeat_edges" -> ((s, dir) => {
      // Function.java Round/RepeatFunc edges: NaN rounds to 0.0, ±Infinity
      // clamps to ±Double.MaxValue, HALF_UP away from zero on .5 both
      // signs, negative scale; repeat with count < 1 is NULL (not '')
      s.sql("""
        SELECT round(CAST('NaN' AS DOUBLE), 2) AS r_nan,
               round(CAST('Infinity' AS DOUBLE)) AS r_pinf,
               round(CAST('-Infinity' AS DOUBLE)) AS r_ninf,
               round(2.5D) AS r_half,
               round(-2.5D) AS r_neghalf,
               round(1234.5678D, -2) AS r_negscale,
               repeat('ab', 3) AS rep3,
               repeat('ab', 0) AS rep0,
               repeat('ab', -1) AS repneg
        FROM region LIMIT 1""")
    }),

    "q_sql_div_edges" -> ((s, dir) => {
      // Function.java Div:1264-1268 — the DOUBLE path divides FIRST and
      // truncates the QUOTIENT ((long)(x / y)), so a fractional divisor is
      // a real divisor: DIV(10.0, 2.5) = 4 (not 10/2 = 5) and a divisor
      // < 1 divides instead of nulling out; x/0.0 → Infinity → Long.Max.
      // The LONG path stays integer division truncating toward zero.
      s.sql("""
        SELECT r_regionkey,
               DIV(10.0D, 2.5D) AS d_frac,
               DIV(10.0D, 0.3D) AS d_small,
               DIV(7, 2) AS d_int,
               DIV(-7, 2) AS d_negint,
               DIV(-7.5D, 2.5D) AS d_negfrac,
               DIV(1.0D, 0.0D) AS d_zero,
               DIV(CAST(r_regionkey * 10 + 7 AS DOUBLE), 2.5D) AS d_row
        FROM region ORDER BY r_regionkey""")
    }),

    "q_sql_split_edges" -> ((s, dir) => {
      // StringToArrayFunction (Function.java:3582) is Java String.split
      // limit-0: TRAILING empty strings drop (interior ones stay), ',,,'
      // collapses to [], '' splits to [''], a null delimiter splits per
      // character — none of which Spark's split() reproduces (it keeps
      // trailing empties even at limit 0), hence the StaticInvoke builder.
      s.sql("""
        SELECT MV_TO_STRING(STRING_TO_MV('a,b,,', ','), '|') AS trail,
               MV_LENGTH(STRING_TO_MV('a,b,,', ',')) AS trail_len,
               MV_TO_STRING(STRING_TO_ARRAY('a,,b', ','), '|') AS interior,
               MV_LENGTH(STRING_TO_MV(',,,', ',')) AS all_sep,
               MV_LENGTH(STRING_TO_MV('', ',')) AS empty_in,
               MV_TO_STRING(STRING_TO_MV('ab', CAST(NULL AS STRING)), '|') AS null_delim,
               MV_LENGTH(STRING_TO_MV(CAST(NULL AS STRING), ',')) AS null_in
        FROM region LIMIT 1""")
    }),

    "q_sql_mv_join_edges" -> ((s, dir) => {
      // ArrayToStringFunction (Function.java:3623-3649): null elements
      // print via String::valueOf ('a|null|b'), the single-element [null]
      // array is SQL NULL (:3643), and a null separator joins with ''
      // (:3646) — Spark's bare array_join silently SKIPS null elements, so
      // the builder transforms through CAST + coalesce('null') first.
      s.sql("""
        SELECT MV_TO_STRING(array('a', CAST(NULL AS STRING), 'b'), '|') AS j_null,
               ARRAY_TO_STRING(array(1, 0, CAST(NULL AS INT)), '|') AS j_num,
               MV_TO_STRING(array(CAST(NULL AS STRING)), '|') AS j_singlenull,
               MV_TO_STRING(CAST(NULL AS ARRAY<STRING>), '|') AS j_nullarr,
               MV_TO_STRING(array('a', 'b'), CAST(NULL AS STRING)) AS j_nullsep
        FROM region LIMIT 1""")
    }),

    "q_expr_native_pred_fns" -> ((s, dir) => {
      // Native predicate family (Function.java IsTrueFunc:2530 etc.) over
      // the Evals.asBoolean:55-68 truthiness rule: numerics are true iff
      // > 0 (so -1 and NaN are FALSE), strings via Boolean.parseBoolean
      // (only 'true' is true — '1' is FALSE), NULL is not-true AND
      // not-false; isdistinctfrom/notdistinctfrom treat NULL as a value;
      // native if() runs its condition through the same rule; plus
      // decode_base64_utf8 (BuiltInExprMacros:149) and the native
      // unix_timestamp's ISO parse in epoch seconds (Function.java:3245)
      s.sql("""
        SELECT istrue(1 > 0) AS t_bool,
               istrue(-1) AS t_neg,
               istrue(0.5D) AS t_half,
               istrue('true') AS t_strtrue,
               istrue('1') AS t_str1,
               isfalse('abc') AS f_garbage,
               isfalse(CAST(NULL AS STRING)) AS f_null,
               isfalse(CAST('NaN' AS DOUBLE)) AS f_nan,
               nottrue(CAST(NULL AS BOOLEAN)) AS nt_null,
               notfalse(CAST(NULL AS BOOLEAN)) AS nf_null,
               isdistinctfrom(CAST(NULL AS INT), CAST(NULL AS INT)) AS idf_nulls,
               notdistinctfrom(CAST(NULL AS INT), 1) AS ndf_nullone,
               notdistinctfrom(2, 2) AS ndf_eq,
               druid_if(-1, 'a', 'b') AS if_neg,
               druid_if(2, 'a', 'b') AS if_pos,
               decode_base64_utf8('aGVsbG8=') AS b64,
               druid_unix_timestamp('2000-01-01T00:00:00Z') AS ut_iso,
               druid_unix_timestamp('2000-01-02', 'yyyy-MM-dd') AS ut_fmt
        FROM region LIMIT 1""")
    }),

    "q_sql_format_edges" -> ((s, dir) => {
      // StringUtils.nonStrictFormat:381 — an ILLEGAL pattern never errors:
      // the reference returns the unformatted pattern with "; arg" appended
      // per argument; %-conversions that don't fit the arg type degrade the
      // same way; Locale.ENGLISH formatting otherwise
      s.sql("""
        SELECT STRING_FORMAT('%q', 5) AS f_bad,
               STRING_FORMAT('%d apples; %s', 3, 'red') AS f_ok,
               STRING_FORMAT('%.3f', 2.5D) AS f_prec,
               STRING_FORMAT('%s=%s', 'k', CAST(NULL AS STRING)) AS f_null,
               STRING_FORMAT('%d', 'x') AS f_conv,
               STRING_FORMAT('bare') AS f_bare,
               STRING_FORMAT('%05d|%x', 42, 255) AS f_pad
        FROM region LIMIT 1""")
    }),

    "q_expr_ieee_math" -> ((s, dir) => {
      // Function.java IEEE-edge math family via the same java.lang.Math
      // calls (GetExponent:1356 → LONG, NextUp:1447, Ulp:1747,
      // CopySign:1789, Remainder:1831 = IEEEremainder, NextAfter:1906) and
      // the null-propagating bivariate max/min (Max:1852/Min:1879 — note
      // max(1, NULL) is NULL, unlike SQL GREATEST)
      s.sql("""
        SELECT CAST(getexponent(10.0D) AS BIGINT) AS ge_10,
               CAST(getexponent(0.5D) AS BIGINT) AS ge_half,
               nextup(1.0D) AS nu_1,
               ulp(1.0D) AS ulp_1,
               copysign(3.5D, -1.0D) AS cs_neg,
               remainder(5.0D, 3.0D) AS rem_53,
               nextafter(1.0D, 2.0D) AS na_up,
               nextafter(1.0D, 0.0D) AS na_down,
               CAST(druid_max(7L, 3L) AS BIGINT) AS mx_long,
               druid_max(7.5D, CAST(NULL AS DOUBLE)) AS mx_null,
               druid_min(7.5D, 3.0D) AS mn_dbl,
               isnan(druid_min(CAST('NaN' AS DOUBLE), 3.0D)) AS mn_nan,
               isnan(druid_max(CAST('NaN' AS DOUBLE), 3.0D)) AS mx_nan
        FROM region LIMIT 1""")
    }),

    "q_expr_bitwise_native" -> ((s, dir) => {
      // Function.java camelCase bitwise family on DOUBLE operands:
      // BivariateBitwiseMathFunction evals asLong() per operand — truncate
      // toward zero, NaN → 0 (never round, never reject) — and the
      // IEEE-754 reinterpretation pair (BitwiseConvert*:944,976)
      s.sql("""
        SELECT bitwiseAnd(3.9D, 7.2D) AS and_trunc,
               bitwiseAnd(-3.9D, -1L) AS and_negtrunc,
               bitwiseOr(3.9D, 8.5D) AS or_trunc,
               bitwiseXor(7.9D, 2.0D) AS xor_trunc,
               bitwiseComplement(5.7D) AS compl_trunc,
               bitwiseShiftLeft(3.7D, 2.9D) AS shl_trunc,
               bitwiseShiftRight(-16.5D, 2.1D) AS shr_trunc,
               bitwiseAnd(CAST('NaN' AS DOUBLE), 7L) AS and_nan,
               bitwiseAnd(CAST(NULL AS DOUBLE), 1L) AS and_null,
               bitwiseConvertDoubleToLongBits(2.0D) AS bits_2,
               bitwiseConvertDoubleToLongBits(-0.0D) AS bits_negzero,
               bitwiseConvertLongBitsToDouble(4611686018427387904L) AS dbl_2
        FROM region LIMIT 1""")
    }),

    "q_sql_pad_edges" -> ((s, dir) => {
      // Function.java LpadFunc/RpadFunc edges: len 0 → NULL, len < 0 → '',
      // empty pad leaves the base untouched, truncation below base length,
      // multi-char pad cycling, 2-arg space default, null propagation
      s.sql("""
        SELECT lpad('abc', 0, 'x') AS l0, rpad('abc', 0, 'x') AS r0,
               lpad('abc', -2, 'x') AS lneg,
               lpad('abc', 5, '') AS lempty,
               lpad('abc', 2, 'x') AS ltrunc,
               rpad('ab', 5, 'xy') AS rfill,
               lpad('abc', 5) AS ldef,
               lpad(CAST(NULL AS STRING), 3, 'x') AS lnull
        FROM region LIMIT 1""")
    }),

    "q_sql_time_format_joda" -> ((s, dir) => {
      // Joda pattern fidelity (the reference's TIME_FORMAT/TIME_PARSE take
      // org.joda.time.format.DateTimeFormat syntax): 'YYYY' is YEAR-OF-ERA
      // — a verbatim java.time read would print the locale week-based year
      // and be wrong the first days of January; 'ZZ' is the offset WITH a
      // colon; 'DDD' is padded day-of-year; Joda patterns also drive parse
      s.sql("""
        SELECT TIME_FORMAT(TIME_PARSE('2021-01-01 00:00:00'), 'YYYY-MM-dd') AS yoe,
               TIME_FORMAT(TIME_PARSE('2021-06-15 12:34:56'),
                 'yyyy-MM-dd HH:mm ZZ', 'Asia/Kolkata') AS wall_off,
               TIME_FORMAT(TIME_PARSE('2021-06-15 12:34:56'), 'EEE DDD') AS dow_doy,
               CAST(TIME_PARSE('2021/166 07:08', 'yyyy/DDD HH:mm') AS STRING) AS parsed_doy
        FROM region LIMIT 1""")
    }),

    "q_sql_time_tz_funcs" -> ((s, dir) => {
      // timezone arities of TIME_EXTRACT / TIME_FORMAT / TIME_PARSE
      // (incl. a half-hour-offset zone) plus the 1-arg ISO default format
      // and the lenient 1-arg parse round-trip
      s.sql("""
        SELECT event_id,
               TIME_EXTRACT(ts, 'HOUR', 'America/New_York') AS h_ny,
               TIME_FORMAT(ts, 'yyyy-MM-dd HH:mm', 'Asia/Kolkata') AS f_ind,
               TIME_PARSE(CAST(date_trunc('second', ts) AS STRING)) AS p_back,
               TIME_FORMAT(ts) AS iso
        FROM events WHERE event_id < 200 ORDER BY event_id""")
    }),

    "q_sql_insert_hour" -> ((s, dir) => {
      // PARTITIONED BY HOUR (reference hour-granularity segments): the
      // ingest lands hour-chunk dirs (__hour=yyyy-MM-dd-HH) and the
      // read-back chunk column reproduces the per-hour rollup exactly
      graft.api.SqlApi.run(s, dir, """{
        "query": "REPLACE INTO graft_hourly OVERWRITE ALL SELECT ts AS __time, event_type, value FROM events WHERE event_id < 2000 PARTITIONED BY HOUR"
      }""")
      s.sql("""SELECT __hour AS h, CAST(count(*) AS BIGINT) AS n,
                      CAST(FLOOR(sum(CAST(value AS DECIMAL(18,6)))) AS BIGINT) AS sv
               FROM graft_hourly GROUP BY __hour ORDER BY h""")
    }),

    "q_sql_insert" -> ((s, dir) => {
      // SQL-driven batch ingestion (reference INSERT ... PARTITIONED BY via
      // MSQ): CREATE TABLE + INSERT OVERWRITE ... SELECT, then query the
      // ingested table
      val loc = s"${System.getProperty("java.io.tmpdir")}/graft_sqlins_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_")
      s.sql("DROP TABLE IF EXISTS graft_daily_rollup")
      // CTAS refuses a non-empty location: clear leftovers from prior runs
      val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(loc), true)
      s.sql(s"""CREATE TABLE graft_daily_rollup
                USING parquet LOCATION '$loc'
                PARTITIONED BY (day)
                AS SELECT event_type, count(*) AS n,
                          round(sum(value), 3) AS sum_value,
                          to_date(ts) AS day
                   FROM events GROUP BY to_date(ts), event_type""")
      s.sql("""SELECT day, event_type, n, sum_value FROM graft_daily_rollup
               WHERE day BETWEEN DATE '2024-01-01' AND DATE '2024-01-05'
               ORDER BY day, event_type""")
    }),

    // --------------------------------------------------------- groupBy (§2.5)
    "q_groupby_q1" -> ((s, dir) => {
      // TPC-H Q1 shape: the reference's groupBy query with multiple agg types
      t(s, dir)("lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          avg(col("l_quantity")).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    "q_groupby_having" -> ((s, dir) => {
      NQ.groupBy(t(s, dir)("part"),
        dims = Seq(col("p_brand")),
        aggs = Seq(count(lit(1)).as("cnt"), max(col("p_size")).as("max_size")),
        having = Some(col("cnt") >= 10),
        orderBy = Seq(col("p_brand")))
    }),

    "q_groupby_limit_offset" -> ((s, dir) => {
      NQ.groupBy(t(s, dir)("orders"),
        dims = Seq(col("o_custkey")),
        aggs = Seq(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total")),
        orderBy = Seq(col("n").desc, col("o_custkey").asc),
        limit = Some(50), offset = 10)
    }),

    "q_grouping_sets" -> ((s, dir) => {
      t(s, dir)("lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }),

    // ---------------------------------------------------------- filters (§2.2)
    "q_filter_in_like" -> ((s, dir) => {
      t(s, dir)("part")
        .filter(col("p_type").like("%AR%") &&
          col("p_size").isin(5, 10, 15, 20, 25) &&
          !col("p_brand").isin("Brand#11"))
        .groupBy(col("p_brand")).agg(count(lit(1)).as("n"))
        .orderBy(col("p_brand"))
    }),

    "q_filter_regex" -> ((s, dir) => {
      t(s, dir)("documents")
        .filter(col("text").rlike("spark (join|merge)"))
        .groupBy(col("source")).agg(count(lit(1)).as("n"))
        .orderBy(col("source"))
    }),

    "q_filter_range_bound" -> ((s, dir) => {
      t(s, dir)("customer")
        .filter(col("c_acctbal").between(1000.0, 5000.0) &&
          col("c_mktsegment") =!= "AUTOMOBILE")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), min(col("c_acctbal")).as("min_bal"),
          max(col("c_acctbal")).as("max_bal"))
        .orderBy(col("c_mktsegment"))
    }),

    // ------------------------------------------------------------ joins (§2.4)
    "q_join_cross" -> ((s, dir) => {
      // cross join of broadcastable dims (reference allows it for inline/
      // lookup datasources via an always-true join condition,
      // JoinConditionAnalysis.java:89) — both sides tiny, broadcast NL join
      t(s, dir)("region").select(col("r_name"))
        .crossJoin(broadcast(t(s, dir)("nation").select(col("n_name"))))
        .orderBy(col("r_name"), col("n_name"))
    }),

    "q_join_broadcast" -> ((s, dir) => {
      val li = t(s, dir)("lineitem")
      Joins.broadcastJoin(li, t(s, dir)("part"),
        col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
        .orderBy(col("p_brand"))
    }),

    "q_join_5way" -> ((s, dir) => {
      // star-schema chain: fact joined through 4 pruned dims (TPC-H Q5 shape)
      val li = t(s, dir)("lineitem")
      val o = t(s, dir)("orders")
      val c = t(s, dir)("customer")
      val n = t(s, dir)("nation")
      val r = t(s, dir)("region").filter(col("r_regionkey") < 2)
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("n_name"))
    }),

    "q_join_semi" -> ((s, dir) => {
      val c = t(s, dir)("customer")
      val bigOrders = t(s, dir)("orders").filter(col("o_totalprice") > 200000)
      Joins.semiJoin(c, bigOrders, col("c_custkey") === col("o_custkey"))
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
        .orderBy(col("c_mktsegment"))
    }),

    "q_join_anti" -> ((s, dir) => {
      // customers with no high-value order
      val c = t(s, dir)("customer")
      val big = t(s, dir)("orders").filter(col("o_totalprice") > 250000)
      Joins.antiJoin(c, big, col("c_custkey") === col("o_custkey"))
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n"))
        .orderBy(col("c_nationkey"))
    }),

    "q_lookup" -> ((s, dir) => {
      Joins.lookupJoin(t(s, dir)("supplier"), t(s, dir)("nation"),
        col("s_nationkey"), col("n_nationkey"), col("n_name"), "nation_name")
        .select(col("s_suppkey"), col("s_name"), col("nation_name"))
        .orderBy(col("s_suppkey"))
    }),

    "q_join_asof" -> ((s, dir) => {
      // as-of join: each click enriched with the user's most recent
      // prior-or-same purchase value (custom operator — neither the
      // reference nor Spark SQL has it natively)
      val ev = t(s, dir)("events")
      val clicks = ev.filter(col("event_type") === "click")
      val purchases = ev.filter(col("event_type") === "purchase")
      Joins.asOfJoin(clicks, purchases, "user_id", "ts", "ts",
        rightCols = Seq("value"))
        .select(col("event_id"), col("user_id"), col("value"),
          col("asof_value"))
        .orderBy(col("event_id"))
    }),

    "q_join_range" -> ((s, dir) => {
      // range join: classify prices into broadcastable bands
      import s.implicits._
      val bands = Seq(
        ("budget", 0.0, 1000.0), ("mid", 1000.0, 1500.0),
        ("high", 1500.0, 2000.0), ("lux", 2000.0, 999999.0))
        .toDF("band", "lo", "hi")
      Joins.rangeJoin(t(s, dir)("part"), bands,
        col("p_retailprice"), col("lo"), col("hi"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n"), min(col("p_retailprice")).as("min_p"),
          max(col("p_retailprice")).as("max_p"))
        .orderBy(col("band"))
    }),

    // ---------------------------------------------------------- set ops (§2.8)
    "q_union" -> ((s, dir) => {
      val o = t(s, dir)("orders")
      o.filter(col("o_orderpriority") === "1-URGENT")
        .unionAll(o.filter(col("o_totalprice") > 250000))
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus"))
    }),

    "q_intersect_except" -> ((s, dir) => {
      val li = t(s, dir)("lineitem")
      val a = li.filter(col("l_returnflag") === "R").select(col("l_orderkey"))
      val b = li.filter(col("l_quantity") > 40).select(col("l_orderkey"))
      a.intersect(b).unionAll(a.except(b).limit(0)) // intersect result
        .orderBy(col("l_orderkey"))
    }),

    // --------------------------------------------- unnest + MVD (§2.1/§1.2)
    "q_unnest_words" -> ((s, dir) => {
      NQ.unnest(t(s, dir)("documents"), split(col("text"), " "), "word")
        .groupBy(col("word")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word").asc)
        .limit(50)
    }),

    "q_mv_ops" -> ((s, dir) => {
      // documents.text as a multi-value dimension: length / contains / filtered
      val toks = split(col("text"), " ")
      t(s, dir)("documents").select(
        col("doc_id"),
        DruidFunctions.mvLength(toks).cast("long").as("n_tokens"),
        DruidFunctions.mvContains(toks, "spark").as("has_spark"),
        size(DruidFunctions.mvFilterPrefix(toks, "s")).cast("long").as("n_s_tokens"),
        DruidFunctions.mvToString(slice(sort_array(array_distinct(toks)), 1, 3), ",")
          .as("first_vals"))
        .orderBy(col("doc_id"))
    }),

    // ---------------------------------------------------------- windows (§2.6)
    "q_window_rank" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir)("orders")
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
          row_number().over(w).as("rn"),
          rank().over(w).as("rk"),
          dense_rank().over(w).as("drk"))
        .filter(col("rn") <= 5)
        .orderBy(col("o_orderpriority"), col("rn"))
    }),

    "q_window_offset" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      t(s, dir)("events").filter(col("user_id") < 10)
        .select(col("user_id"), col("event_id"), col("value"),
          lag(col("value"), 1).over(w).as("prev_value"),
          lead(col("value"), 1).over(w).as("next_value"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    "q_window_ignore_nulls" -> ((s, dir) => {
      // IGNORE NULLS forms of lead/lag/first_value/last_value (reference
      // window value processors; Drill window corpus coverage): every third
      // event's metric is nulled, offsets must skip over the gaps
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      val wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir)("events").filter(col("user_id") < 20)
        .withColumn("v", when(pmod(col("event_id"), lit(3)) =!= 0, col("value")))
        .select(col("user_id"), col("event_id"), col("v"),
          lag(col("v"), 1, null, ignoreNulls = true).over(w).as("prev_nn"),
          lead(col("v"), 1, null, ignoreNulls = true).over(w).as("next_nn"),
          first(col("v"), ignoreNulls = true).over(wf).as("first_nn"),
          last(col("v"), ignoreNulls = true).over(wf).as("last_nn"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    "q_window_null_order" -> ((s, dir) => {
      // explicit NULLS FIRST/LAST in window and output ordering — engines
      // disagree on defaults (Spark asc=nulls-first, DuckDB asc=nulls-last),
      // so reference queries must pin it; this gate proves both directions
      val v = when(pmod(col("event_id"), lit(4)) =!= 0, col("value"))
      val wLast = Window.partitionBy(col("user_id"))
        .orderBy(v.asc_nulls_last, col("event_id"))
      val wFirst = Window.partitionBy(col("user_id"))
        .orderBy(v.desc_nulls_first, col("event_id"))
      t(s, dir)("events").filter(col("user_id") < 15)
        .select(col("user_id"), col("event_id"), v.as("v"),
          row_number().over(wLast).as("rn_last"),
          row_number().over(wFirst).as("rn_first"))
        .orderBy(col("user_id"), col("v").asc_nulls_last, col("event_id"))
    }),

    // --------------------------------------------- drill window corpus slice
    // Representative frame/peer/null/nesting shapes ported from the
    // reference's adopted Drill window-function corpus
    // (sql/src/test/resources/drill/window/queries/ — 1,035 .q files it runs
    // via DruidAvaticaTestDriver), re-targeted at the testdata tables. Each
    // gate cites the .q family it ports; the SQL is shared verbatim with the
    // DuckDB oracle (both engines run the same text).

    "q_drill_window_nestagg_frames" -> ((s, dir) => {
      // nestedAggs/frmclause* family: explicit frames over GROUP-BY
      // aggregates (windows evaluate on the post-aggregation row set)
      s.sql(drillSql("nested_agg_frames"))
    }),

    "q_drill_window_named_scope" -> ((s, dir) => {
      // aggregates/aggOWnFn_1.q: window-name shadowing across query levels
      s.sql(drillSql("named_scope"))
    }),

    "q_drill_window_rbupacr" -> ((s, dir) => {
      // frameclause/RBUPACR (ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
      // ROW), e.g. RBUPACR_int_1.q: running MAX/COUNT under an explicit
      // cumulative ROWS frame
      s.sql(drillSql("rbupacr"))
    }),

    "q_drill_window_rbcracr" -> ((s, dir) => {
      // frameclause/RBCRACR (RANGE BETWEEN CURRENT ROW AND CURRENT ROW),
      // e.g. RBCRACR_int_1.q: the frame is exactly the CURRENT PEER GROUP —
      // every row with a tied order key aggregates its whole tie class
      s.sql(drillSql("rbcracr"))
    }),

    "q_drill_window_rbupauf" -> ((s, dir) => {
      // frameclause/RBUPAUF (ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED
      // FOLLOWING) + a named WINDOW clause (frameclause/multipl_wnwds style)
      s.sql(drillSql("rbupauf"))
    }),

    "q_drill_window_default_frame" -> ((s, dir) => {
      // frameclause/defaultFrame: ORDER BY with duplicates and NO explicit
      // frame — the implicit RANGE UNBOUNDED PRECEDING..CURRENT ROW frame
      // includes the WHOLE peer group, so the running sum jumps by ties
      s.sql(drillSql("default_frame"))
    }),

    "q_drill_window_multi" -> ((s, dir) => {
      // frameclause/multipl_wnwds/mulwind_01.q: four named windows with
      // different frame semantics consumed by interleaved projections
      s.sql(drillSql("multi"))
    }),

    "q_drill_window_nested_aggs" -> ((s, dir) => {
      // nestedAggs (e.g. woutPrtnBy_45.q): window functions OVER the result
      // of GROUP BY aggregates — COUNT(DISTINCT) feeding MIN() OVER()
      s.sql(drillSql("nested_aggs"))
    }),

    "q_drill_window_ntile" -> ((s, dir) => {
      // ntile_func/ntileFn_33.q: NTILE in a subquery, outer GROUP BY over
      // the bucket assignment
      s.sql(drillSql("ntile"))
    }),

    "q_drill_window_lag_lead" -> ((s, dir) => {
      // lag_func/lead_func with explicit NULLS FIRST ordering (engines
      // disagree on the default) + non-null lag default and offset-2 lead
      s.sql(drillSql("lag_lead"))
    }),

    "q_drill_window_first_last" -> ((s, dir) => {
      // first_val/last_val: LAST_VALUE under the DEFAULT frame returns the
      // current row (the classic drill gotcha — frame ends at current row),
      // unlike the explicit unbounded-following frame
      s.sql(drillSql("first_last"))
    }),

    "q_drill_window_empty_over" -> ((s, dir) => {
      // empty_over_clause/avg_01.sql: OVER () — one global frame, no
      // partition, no order
      s.sql(drillSql("empty_over"))
    }),

    "q_drill_window_subquery" -> ((s, dir) => {
      // frameclause/subQueries/frmInSubQry_25.q: window computed in a
      // subquery, outer WHERE filters on the window result
      s.sql(drillSql("subquery"))
    }),

    "q_drill_window_agg_outer" -> ((s, dir) => {
      // aggregates (e.g. winFnQry_* MAX-over-FIRST_VALUE): scalar aggregate
      // OVER the per-row window results of a subquery
      s.sql(drillSql("agg_outer"))
    }),

    "q_random_consistency" -> ((s, dir) => {
      // seeded randomized consistency corpus (see consistencySql): 24
      // generated aggregation queries, one shared text, both engines
      s.sql(consistencySql(seed = 42L, n = 24))
    }),

    // ------------------------------------ TPC-H quidem suite (see tpchSql)
    "q_tpch_q01" -> ((s, _) => s.sql(tpchSql("q01"))),
    "q_tpch_q06" -> ((s, _) => s.sql(tpchSql("q06"))),
    "q_tpch_q14" -> ((s, _) => s.sql(tpchSql("q14"))),
    "q_tpch_q15" -> ((s, _) => s.sql(tpchSql("q15"))),
    "q_tpch_q17" -> ((s, _) => s.sql(tpchSql("q17"))),
    "q_tpch_q19" -> ((s, _) => s.sql(tpchSql("q19"))),
    "q_tpch_q22" -> ((s, _) => s.sql(tpchSql("q22"))),
    "q_tpch_q02" -> ((s, _) => s.sql(tpchSql("q02"))),
    "q_tpch_q03" -> ((s, _) => s.sql(tpchSql("q03"))),
    "q_tpch_q04" -> ((s, _) => s.sql(tpchSql("q04"))),
    "q_tpch_q05" -> ((s, _) => s.sql(tpchSql("q05"))),
    "q_tpch_q07" -> ((s, _) => s.sql(tpchSql("q07"))),
    "q_tpch_q08" -> ((s, _) => s.sql(tpchSql("q08"))),
    "q_tpch_q09" -> ((s, _) => s.sql(tpchSql("q09"))),
    "q_tpch_q10" -> ((s, _) => s.sql(tpchSql("q10"))),
    "q_tpch_q11" -> ((s, _) => s.sql(tpchSql("q11"))),
    "q_tpch_q12" -> ((s, _) => s.sql(tpchSql("q12"))),
    "q_tpch_q13" -> ((s, _) => s.sql(tpchSql("q13"))),
    "q_tpch_q16" -> ((s, _) => s.sql(tpchSql("q16"))),
    "q_tpch_q18" -> ((s, _) => s.sql(tpchSql("q18"))),
    "q_tpch_q20" -> ((s, _) => s.sql(tpchSql("q20"))),
    "q_tpch_q21" -> ((s, _) => s.sql(tpchSql("q21"))),
    "q_tpch_q01_decimal" -> ((s, _) => s.sql(tpchSql("q01_decimal"))),
    "q_tpch_q06_decimal" -> ((s, _) => s.sql(tpchSql("q06_decimal"))),

    "q_drill_window_const_args" -> ((s, dir) => {
      // bugs/drill-3292.sql: SUM over constant arguments
      s.sql(drillSql("const_args"))
    }),

    "q_drill_window_rank_orderby" -> ((s, dir) => {
      // bugs/drill-3348.sql: window fn in projection + a different window
      // fn in the ORDER BY clause
      s.sql(drillSql("rank_orderby"))
    }),

    "q_qa_unnest_earliest" -> ((s, dir) => {
      // qaUnnest array_sql_agg_funcs A-earliest/latest battery: the
      // time-ordered first/last aggregates composed OVER exploded rows —
      // explosion multiplies rows but the (value, key) pairs keep the
      // aggregate deterministic (event_id is unique per source row)
      s.sql(graft.api.SqlApi.rewriteSql("""
        SELECT w AS word, CAST(count(*) AS BIGINT) AS cnt,
               earliest(event_id, event_id) AS first_id,
               latest(event_id, event_id) AS last_id,
               earliest_by(user_id, event_id) AS first_user,
               latest_by(user_id, event_id) AS last_user
        FROM (SELECT event_id, user_id, w
              FROM events CROSS JOIN UNNEST(split(concat_ws('_', event_type,
                     CAST(event_id % 7 AS STRING)), '_')) AS u (w)
              WHERE user_id < 50)
        GROUP BY w ORDER BY w""", Seq(graft.api.SqlApi.unnest)))
    }),

    "q_sql_unnest_multi" -> ((s, dir) => {
      // TWO correlated UNNESTs in one FROM (reference qaUnnest
      // *_multi_unnests corpus; facade rewrites each recursively into
      // chained LATERAL VIEW explodes) — cross product of the two arrays
      // per source row, re-aggregated
      graft.api.SqlApi.run(s, dir, """{
        "query": "SELECT w1, w2, CAST(count(*) AS BIGINT) AS n FROM (SELECT split(p_name, ' ') AS words, split(p_type, ' ') AS types FROM part WHERE p_partkey <= 200) t CROSS JOIN UNNEST(words) AS u1 (w1) CROSS JOIN UNNEST(types) AS u2 (w2) GROUP BY w1, w2 HAVING count(*) > 2 ORDER BY w1, w2"
      }""")
    }),

    "q_sql_orderby_window" -> ((s, dir) => {
      // the UNREWRITTEN drill-3348 shape — a window function INLINE in the
      // ORDER BY clause — through the SQL facade, which hoists it below the
      // Sort (SqlApi.sqlWithSortWindows; plain Spark rejects the shape).
      // LIMIT makes the ordering observable in the row set.
      graft.api.SqlApi.run(s, dir, """{
        "query": "SELECT n_name, CAST(RANK() OVER (PARTITION BY n_regionkey ORDER BY n_name) AS BIGINT) AS rnk FROM nation ORDER BY ROW_NUMBER() OVER (ORDER BY n_nationkey DESC) LIMIT 10"
      }""")
    }),

    "q_drill_window_mixed_over" -> ((s, dir) => {
      // bugs/drill-3574.sql: partition-only OVER + OVER () side by side
      s.sql(drillSql("mixed_over"))
    }),

    "q_drill_window_ntile_nested" -> ((s, dir) => {
      // bugs/drill-3679.sql: NTILE over a ROW_NUMBER subquery
      s.sql(drillSql("ntile_nested"))
    }),

    "q_drill_window_firstval_mixed" -> ((s, dir) => {
      // bugs/drill-3700.sql: FIRST_VALUE across over-clause variants
      s.sql(drillSql("firstval_mixed"))
    }),

    "q_drill_window_stat_aggs" -> ((s, dir) => {
      // statistical_aggregates family: var/stddev pop+samp windows with
      // guarded single-row partitions
      s.sql(drillSql("stat_aggs"))
    }),

    "q_drill_window_array_part" -> ((s, dir) => {
      // druid_queries/partition_by_array/*.q: PARTITION BY an ARRAY
      // expression — array VALUES are the partition key, so segments whose
      // arrays collide (equal name lengths here) merge into one partition.
      // Array literal syntax differs between engines (Spark array() vs
      // DuckDB ARRAY[]), so the Spark side is the DataFrame API and the
      // oracle carries its own dialect text.
      val w = Window.partitionBy(array(lit(1), lit(2),
          length(col("c_mktsegment")))).orderBy(col("c_custkey"))
      t(s, dir)("customer").filter(col("c_custkey") < 400)
        .select(col("c_custkey"), col("c_mktsegment"),
          row_number().over(w).cast("long").as("rn"))
        .orderBy(col("c_custkey"))
    }),

    "q_drill_window_lastval" -> ((s, dir) => {
      // last_val/lastValFn_1.q: LAST_VALUE under the default frame returns
      // the current row when the order key is unique
      s.sql(drillSql("lastval_peers"))
    }),

    "q_drill_window_lead_only" -> ((s, dir) => {
      // lead_func/lead_Fn_1.q: lone LEAD projection, NULL at partition tails
      s.sql(drillSql("lead_only"))
    }),

    "q_drill_window_lead_offset" -> ((s, dir) => {
      // lead_func offset+default forms: LEAD(k, 2, -1) / LAG(k, 3, 0)
      s.sql(drillSql("lead_offset_default"))
    }),

    "q_drill_window_shared_named" -> ((s, dir) => {
      // aggregates/aggOWnFn_1.q: same-named WINDOW clause reused in inner
      // and outer query scopes (NTILE inside, LEAD outside)
      s.sql(drillSql("shared_named"))
    }),

    "q_drill_window_multipart_arith" -> ((s, dir) => {
      // multiple_partitions/q1.sql: filter on arithmetic of window functions
      // with three different partitionings
      s.sql(drillSql("multipart_arith"))
    }),

    "q_drill_window_multipart_cast" -> ((s, dir) => {
      // multiple_partitions/q10.sql: CASTs over windowed aggregates added
      // across partitionings
      s.sql(drillSql("multipart_cast"))
    }),

    "q_drill_window_orderonly" -> ((s, dir) => {
      // order_by/avg_01.sql + count_01.sql: ORDER-BY-only windows with tie
      // classes on the date key
      s.sql(drillSql("orderonly_running"))
    }),

    "q_drill_window_cumedist" -> ((s, dir) => {
      // order_by/cume_dist_01.sql: CUME_DIST/PERCENT_RANK over an
      // ORDER-BY-only window with large tie groups
      s.sql(drillSql("cumedist_orderonly"))
    }),

    "q_drill_window_partonly" -> ((s, dir) => {
      // partition_by/one_part_01.sql: PARTITION-only window on varchar key
      s.sql(drillSql("partonly_sum"))
    }),

    "q_drill_window_join_outer" -> ((s, dir) => {
      // misc/q1.sql: window over a LEFT OUTER JOIN result with NULL order
      // keys pinned NULLS FIRST
      s.sql(drillSql("join_outer_window"))
    }),

    "q_drill_window_join_subq" -> ((s, dir) => {
      // misc/q10.sql: inner join of two windowed subqueries
      s.sql(drillSql("join_windowed_subq"))
    }),

    "q_drill_window_multi_parts" -> ((s, dir) => {
      // druid_queries/over_clause_only_partitioning/
      // multiple_over_different_partition_column.q
      s.sql(drillSql("multi_over_parts"))
    }),

    "q_drill_window_null_args" -> ((s, dir) => {
      // aggregates/testW_Nulls family: NULL-bearing aggregate arguments
      // inside running windows
      s.sql(drillSql("nulls_in_args"))
    }),

    "q_drill_window_frames_subq" -> ((s, dir) => {
      // frameclause/subQueries/frmInSubQry_25.q: three mixed-frame named
      // windows behind a subquery with an outer filter
      s.sql(drillSql("frames_in_subq"))
    }),

    "q_drill_window_rank_filtered" -> ((s, dir) => {
      // aggregates/wPrtnOrdrBy_1.q: rank in a WHERE-pinned partition
      s.sql(drillSql("rank_filtered"))
    }),

    "q_drill_window_runmax" -> ((s, dir) => {
      // aggregates/woPrtnBy_1.q: running MAX, ORDER-BY-only window
      s.sql(drillSql("runmax_orderonly"))
    }),

    "q_drill_window_lag_dates" -> ((s, dir) => {
      // lag_func over date-derived ordering: previous value + gap
      s.sql(drillSql("lag_dates"))
    }),

    "q_drill_window_ntile_overflow" -> ((s, dir) => {
      // ntile_func edge: more tiles than rows
      s.sql(drillSql("ntile_overflow"))
    }),

    "q_drill_window_firstval_sliding" -> ((s, dir) => {
      // first_val/last_val over a sliding 1-PRECEDING..1-FOLLOWING frame
      s.sql(drillSql("firstval_sliding"))
    }),

    "q_drill_window_share_total" -> ((s, dir) => {
      // aggregates/mtyOvrCluse: empty OVER () share-of-total over GROUP BY
      s.sql(drillSql("share_of_total"))
    }),

    "q_drill_window_lead_expr" -> ((s, dir) => {
      // lead_func with a computed expression argument
      s.sql(drillSql("lead_expr"))
    }),

    "q_drill_tpcds_q53" -> ((s, dir) => {
      // tpcds/query53.sql: quarterly brand sales vs whole-brand average
      s.sql(drillSql("tpcds_q53"))
    }),

    "q_drill_tpcds_q51" -> ((s, dir) => {
      // tpcds/query51: FULL OUTER JOIN of two per-channel cumulative series
      s.sql(drillSql("tpcds_q51"))
    }),

    "q_ssb_q1" -> ((s, dir) => {
      // quidem qaSsb Q1_1: date-filtered discount revenue
      s.sql(drillSql("ssb_q1"))
    }),

    "q_ssb_q2" -> ((s, dir) => {
      // quidem qaSsb Q2_1: brand × year revenue over the star
      s.sql(drillSql("ssb_q2"))
    }),

    "q_ssb_q3" -> ((s, dir) => {
      // quidem qaSsb Q3_1: customer × supplier nation revenue per year
      s.sql(drillSql("ssb_q3"))
    }),

    "q_ssb_q1_0" -> ((s, _) => s.sql(drillSql("ssb_q1_0"))),
    "q_ssb_q3_0" -> ((s, _) => s.sql(drillSql("ssb_q3_0"))),
    "q_ssb_q3_3" -> ((s, _) => s.sql(drillSql("ssb_q3_3"))),
    "q_ssb_q4_2" -> ((s, _) => s.sql(drillSql("ssb_q4_2"))),
    "q_ssb_q4" -> ((s, dir) => {
      // quidem qaSsb Q4_1: profit per year × customer nation, 5-table star
      s.sql(drillSql("ssb_q4"))
    }),

    "q_sql_interval_precision" -> ((s, dir) => {
      // Calcite interval leading-field precision — qaTpch Q1 writes
      // `date '1998-12-01' - interval '63' DAY (3)` — plus the
      // fractional-mix division riding CalciteDiv's DOUBLE coercion
      // (TPC-H Q17: sum(double) / 7.0 must resolve inside the
      // RuntimeReplaceable)
      // l_quantity is integer-valued, so the double sum is exact and the
      // division result is partition-order and engine independent
      graft.api.SqlApi.runSql(s, """
        SELECT cast(count(*) AS BIGINT) AS n,
               cast(sum(cast(l_quantity AS DOUBLE)) / 7.0 AS BIGINT) AS avg7
        FROM lineitem
        WHERE l_shipdate <= date '1998-12-01' - interval '63' DAY (3)""")
    }),

    "q_sql_date_trunc_units" -> ((s, dir) => {
      // DateTruncOperatorConversion TRUNC_PERIOD_MAP: decade/century/
      // millennium are P10Y/P100Y/P1000Y on the DEFAULT 1970 origin
      // (millennium(1987) → 1970, not the calendar 1000), micro/milliseconds
      // truncate to millis, quarter/week are the calendar floors — Spark's
      // builtin silently NULLs the extended units, hence the shadow builder
      s.sql(graft.api.SqlApi.rewriteSql("""
        SELECT CAST(DATE_TRUNC('decade', TIMESTAMP'1987-06-15 10:00:00') AS STRING) AS dec_u,
               CAST(DATE_TRUNC('century', TIMESTAMP'1987-06-15 10:00:00') AS STRING) AS cen_u,
               CAST(DATE_TRUNC('millennium', TIMESTAMP'1987-06-15 10:00:00') AS STRING) AS mil_u,
               CAST(DATE_TRUNC('quarter', TIMESTAMP'1987-06-15 10:00:00') AS STRING) AS qtr_u,
               CAST(DATE_TRUNC('week', TIMESTAMP'1987-06-17 10:00:00') AS STRING) AS wk_u,
               CAST(DATE_TRUNC('milliseconds', TIMESTAMP'1987-06-15 10:00:00.1234') AS STRING) AS ms_u,
               CAST(DATE_TRUNC('hour', TIMESTAMP'1987-06-15 10:30:00') AS STRING) AS hr_u,
               CAST(EXTRACT(EPOCH FROM TIMESTAMP'1987-06-15 10:00:00') AS BIGINT) AS x_epoch,
               CAST(EXTRACT(DOW FROM TIMESTAMP'1987-06-17 10:00:00') AS BIGINT) AS x_dow,
               CAST(EXTRACT(ISODOW FROM TIMESTAMP'1987-06-21 10:00:00') AS BIGINT) AS x_isodow,
               CAST(EXTRACT(DECADE FROM TIMESTAMP'1987-06-15 10:00:00') AS BIGINT) AS x_decade,
               CAST(EXTRACT(MILLISECOND FROM TIMESTAMP'1987-06-15 10:00:00.789') AS BIGINT) AS x_ms,
               CAST(FLOOR(TIMESTAMP'1987-06-15 10:00:00' TO DECADE) AS STRING) AS f_dec,
               CAST(CEIL(TIMESTAMP'1987-06-15 10:00:00' TO DECADE) AS STRING) AS c_dec,
               CAST(CEIL(TIMESTAMP'1987-06-15 10:00:00' TO CENTURY) AS STRING) AS c_cen""",
        Seq(graft.api.SqlApi.extractUnits, graft.api.SqlApi.floorCeilTo)))
    }),

    "q_qa_sql_aggr_general_having" -> ((s, dir) => {
      // qaSql aggr_general.std: aggregates with POST-arithmetic (+1), MIN/
      // MAX of the time_floor key shifted by INTERVAL '1' YEAR, and HAVING
      // on the GROUP key itself with a BETWEEN timestamp range
      s.sql("""
        SELECT CAST(TIME_FLOOR(ts, 'PT1H') AS STRING) AS t,
               CAST(count(*) + 1 AS BIGINT) AS c1,
               CAST(count(DISTINCT event_type) + 1 AS BIGINT) AS cd,
               CAST(min(TIME_FLOOR(ts, 'PT1H')) + INTERVAL '1' YEAR AS STRING) AS mn_y,
               CAST(max(TIME_FLOOR(ts, 'PT1H')) + INTERVAL '1' YEAR AS STRING) AS mx_y,
               CAST(floor(avg(user_id) + 1) AS BIGINT) AS av1
        FROM events
        GROUP BY TIME_FLOOR(ts, 'PT1H')
        HAVING TIME_FLOOR(ts, 'PT1H')
          BETWEEN TIMESTAMP '2024-01-02 00:00:00' AND TIMESTAMP '2024-01-03 00:00:00'
        ORDER BY t""")
    }),

    "q_drill_tpcds_rank_peers" -> ((s, dir) => {
      // Drill tpcds_variants/{cumedist,percentrank,denserank,a1}*.sql: the
      // rank family OVER (PARTITION BY k ORDER BY k) — ordering by the
      // partition key makes the WHOLE partition one peer group, so
      // PERCENT_RANK is 0, CUME_DIST is 1, DENSE_RANK is 1 on every row,
      // and the a1 running SUM equals the whole-partition sum; computed
      // over the customer ⋈ orders comma-join like the corpus's
      // customer ⋈ store_sales
      s.sql("""
        SELECT CAST(count(DISTINCT pr) AS BIGINT) AS pr_vals,
               CAST(max(pr) AS DOUBLE) AS pr_max,
               CAST(count(DISTINCT cd) AS BIGINT) AS cd_vals,
               CAST(min(cd) AS DOUBLE) AS cd_min,
               CAST(count(DISTINCT dr) AS BIGINT) AS dr_vals,
               CAST(max(dr) AS BIGINT) AS dr_max,
               CAST(count(*) FILTER (WHERE srun = stot) AS BIGINT) AS sum_peers
        FROM (
          SELECT PERCENT_RANK() OVER (PARTITION BY o.o_custkey
                   ORDER BY o.o_custkey) AS pr,
                 CUME_DIST() OVER (PARTITION BY o.o_custkey
                   ORDER BY o.o_custkey) AS cd,
                 DENSE_RANK() OVER (PARTITION BY o.o_custkey, c.c_custkey
                   ORDER BY o.o_custkey, c.c_custkey) AS dr,
                 CAST(sum(o.o_totalprice) OVER (PARTITION BY o.o_custkey
                   ORDER BY o.o_custkey) AS DECIMAL(18,2)) AS srun,
                 CAST(sum(o.o_totalprice) OVER (PARTITION BY o.o_custkey)
                   AS DECIMAL(18,2)) AS stot
          FROM customer c, orders o
          WHERE c.c_custkey = o.o_custkey AND o.o_custkey < 500) z""")
    }),

    "q_drill_tpcds_q47" -> ((s, dir) => {
      // tpcds/query47.sql: monthly brand sales with LAG/LEAD neighbors and
      // a DESC in-brand rank
      s.sql(drillSql("tpcds_q47"))
    }),

    "q_drill_tpcds_q57" -> ((s, _) => s.sql(drillSql("tpcds_q57"))),

    "q_drill_tpcds_q63" -> ((s, _) => s.sql(drillSql("tpcds_q63"))),

    "q_window_frame" -> ((s, dir) => {
      // frames over integer-valued doubles → exact under any association;
      // l_quantity in the ORDER makes it total — the generated lineitem
      // carries a few duplicate (suppkey, orderkey, linenumber) keys, and
      // ROWS frames over ties are tie-order-dependent
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      t(s, dir)("lineitem").filter(col("l_suppkey") <= 5)
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          sum(col("l_quantity"))
            .over(w.rowsBetween(Window.unboundedPreceding, 0)).as("running_qty"),
          sum(col("l_quantity"))
            .over(w.rowsBetween(-3, 0)).as("moving_qty"))
        .orderBy(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"))
    }),

    "q_window_cume" -> ((s, dir) => {
      val w = Window.partitionBy(col("c_mktsegment")).orderBy(col("c_acctbal"), col("c_custkey"))
      t(s, dir)("customer")
        .select(col("c_mktsegment"), col("c_custkey"),
          round(cume_dist().over(w), 6).as("cd"),
          round(percent_rank().over(w), 6).as("pr"),
          ntile(4).over(w).as("quartile"))
        .orderBy(col("c_mktsegment"), col("c_custkey"))
    }),

    // ----------------------------------------------------- aggregators (§2.5)
    "q_agg_firstlast" -> ((s, dir) => {
      // EARLIEST/LATEST: value at min/max __time (unique micro-timestamps)
      t(s, dir)("events")
        .groupBy(col("event_type"))
        .agg(
          min_by(col("value"), col("ts")).as("earliest_value"),
          max_by(col("value"), col("ts")).as("latest_value"),
          min_by(col("user_id"), col("event_id")).as("first_user"))
        .orderBy(col("event_type"))
    }),

    "q_agg_distinct" -> ((s, dir) => {
      t(s, dir)("lineitem")
        .groupBy(col("l_returnflag"))
        .agg(count_distinct(col("l_suppkey")).as("n_supp"),
          count_distinct(col("l_partkey")).as("n_part"))
        .orderBy(col("l_returnflag"))
    }),

    "q_agg_approx_distinct" -> ((s, dir) => {
      // HLL cardinality (reference hyperUnique/cardinality aggregator).
      // Self-asserting error bound: estimate AND exact computed in one
      // aggregation; the gate emits the exact value plus a boolean the
      // DuckDB oracle reproduces from exact SQL (reference DataSketches
      // tests assert the same within-epsilon shape).
      t(s, dir)("lineitem")
        .groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_partkey")).as("est"),
          count_distinct(col("l_partkey")).as("n_part_exact"))
        .select(col("l_returnflag"), col("n_part_exact"),
          (abs(col("est").cast("double") /
            col("n_part_exact").cast("double") - 1.0) <= 0.1).as("approx_ok"))
        .orderBy(col("l_returnflag"))
    }),

    "q_agg_filtered" -> ((s, dir) => {
      t(s, dir)("orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          count(when(col("o_orderstatus") === "F", 1)).as("n_f"),
          round(sum(when(col("o_totalprice") > 150000, col("o_totalprice"))), 2)
            .as("big_total"),
          count(lit(1)).as("n"))
        .orderBy(col("o_orderpriority"))
    }),

    "q_agg_collect" -> ((s, dir) => {
      t(s, dir)("lineitem")
        .groupBy(col("l_returnflag"))
        .agg(concat_ws(",", sort_array(collect_set(col("l_linestatus"))))
          .as("statuses"))
        .orderBy(col("l_returnflag"))
    }),

    "q_agg_arrayconcat" -> ((s, dir) => {
      // ARRAY_CONCAT_AGG (reference ArrayConcatSqlAggregator): concatenate
      // per-row arrays, here the tokenized p_type; sorted+distinct+joined so
      // the result is deterministic and scalar for the oracle compare
      t(s, dir)("part")
        .groupBy(col("p_brand"))
        .agg(array_join(array_sort(array_distinct(
          flatten(collect_list(split(col("p_type"), " "))))), ",").as("words"),
          count(lit(1)).as("n"))
        .orderBy(col("p_brand"))
    }),

    "q_agg_bitwise" -> ((s, dir) => {
      t(s, dir)("events")
        .groupBy(col("event_type"))
        .agg(bit_and(col("user_id")).as("b_and"),
          bit_or(col("user_id")).as("b_or"),
          bit_xor(col("user_id")).as("b_xor"))
        .orderBy(col("event_type"))
    }),

    "q_agg_lambda" -> ((s, dir) => {
      // expression-lambda aggregator (reference
      // ExpressionLambdaAggregatorFactory: user fold/combine expressions):
      // fold = acc + x*x over the collected group (order-insensitive exact
      // math on integer-valued doubles)
      t(s, dir)("lineitem")
        .groupBy(col("l_returnflag"))
        .agg(aggregate(collect_list(col("l_quantity")), lit(0.0),
          (acc, x) => acc + x * x).as("sum_sq"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    }),

    "q_agg_stats" -> ((s, dir) => {
      t(s, dir)("lineitem")
        .groupBy(col("l_linestatus"))
        .agg(round(stddev_samp(col("l_quantity")), 6).as("sd_qty"),
          round(var_pop(col("l_quantity")), 6).as("var_qty"),
          round(avg(col("l_quantity")), 6).as("avg_qty"))
        .orderBy(col("l_linestatus"))
    }),

    "q_groupby_array" -> ((s, dir) => {
      // ARRAY-typed grouping key (reference arrays grouping,
      // CalciteArraysQueryTest): group on the array value itself, emit a
      // scalar rendering for the oracle compare
      t(s, dir)("part")
        .select(split(col("p_type"), " ").as("tw"), col("p_retailprice"))
        .groupBy(col("tw"))
        .agg(count(lit(1)).as("n"), round(sum(col("p_retailprice")), 3).as("rev"))
        .select(array_join(col("tw"), ",").as("key"), col("n"), col("rev"))
        .orderBy(col("key"))
    }),

    "q_agg_empty" -> ((s, dir) => {
      // aggregation over zero input rows: global agg yields one row
      // (count 0, null sums); grouped agg yields zero rows — classic
      // engine edge case the dense oracle corpus never hits
      val none = t(s, dir)("lineitem").filter(col("l_quantity") < -1)
      val global = none.agg(
        count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"),
        max(col("l_shipdate")).as("last_ship"))
      val grouped = none.groupBy(col("l_linestatus"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"),
          max(col("l_shipdate")).as("last_ship"))
        .drop("l_linestatus")
      global.unionByName(grouped)
    }),

    // ------------------------------------------------- scalar functions (§2.9)
    "q_expr_time" -> ((s, dir) => {
      val ts = col("ts")
      t(s, dir)("events").filter(col("event_id") < 200)
        .select(col("event_id"),
          year(ts).cast("long").as("y"),
          month(ts).cast("long").as("mo"),
          dayofmonth(ts).cast("long").as("d"),
          hour(ts).cast("long").as("h"),
          DruidFunctions.timeExtract(ts, "DOW").cast("long").as("dow"),
          DruidFunctions.timeFormat(ts, "yyyy-MM-dd HH").as("fmt"),
          date_trunc("second", DruidFunctions.timeShift(ts, "PT1H", 2)).as("shifted"),
          DruidFunctions.timeFloor(ts, "PT15M").as("floor15m"))
        .orderBy(col("event_id"))
    }),

    "q_expr_string" -> ((s, dir) => {
      t(s, dir)("customer").filter(col("c_custkey") <= 200)
        .select(col("c_custkey"),
          upper(col("c_name")).as("u"),
          substring(col("c_name"), 1, 8).as("sub"),
          length(col("c_name")).cast("long").as("len"),
          regexp_replace(col("c_name"), "[0-9]", "#").as("masked"),
          lpad(col("c_custkey").cast("string"), 8, "0").as("padded"),
          instr(col("c_name"), "1").cast("long").as("pos1"),
          concat(col("c_mktsegment"), lit(":"), col("c_name")).as("joined"),
          expr("left(c_name, 4)").as("l4"),
          expr("right(c_name, 3)").as("r3"),
          reverse(col("c_mktsegment")).as("rev"),
          repeat(lit("ab"), 3).as("rep"))
        .orderBy(col("c_custkey"))
    }),

    "q_expr_math" -> ((s, dir) => {
      t(s, dir)("lineitem").filter(col("l_orderkey") < 100)
        .select(col("l_orderkey"), col("l_linenumber"),
          abs(col("l_quantity") - 25).as("a"),
          ceil(col("l_discount") * 10).cast("long").as("c"),
          floor(col("l_tax") * 10).cast("long").as("f"),
          round(sqrt(col("l_extendedprice")), 4).as("sq"),
          pmod(col("l_partkey"), lit(7)).cast("long").as("m"),
          DruidFunctions.safeDivide(col("l_quantity"), col("l_discount"))
            .as("safe_div"),
          greatest(col("l_quantity"), col("l_tax") * 100).as("g"),
          least(col("l_discount"), col("l_tax")).as("l"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    "q_expr_case" -> ((s, dir) => {
      t(s, dir)("orders")
        .select(
          when(col("o_orderstatus") === "F", "finished")
            .when(col("o_orderstatus") === "O", "open")
            .otherwise("partial").as("status_word"),
          coalesce(nullif(col("o_orderpriority"), lit("3-MEDIUM")), lit("MED"))
            .as("prio"),
          when(col("o_totalprice") > 100000, "big").otherwise("small").as("sz"))
        .groupBy(col("status_word"), col("prio"), col("sz"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("status_word"), col("prio"), col("sz"))
    }),

    "q_expr_json" -> ((s, dir) => {
      // nested/JSON surface (reference json_value / json_keys /
      // json_query_array / NestedFieldVirtualColumn): scalar extraction on
      // the stored props column, plus keys/array-path ops on a synthesized
      // richer document
      val j = concat(lit("{\"id\": "), col("event_id"),
        lit(", \"type\": \""), col("event_type"),
        lit("\", \"vals\": ["), col("user_id"),
        lit(","), pmod(col("event_id"), lit(10)), lit("]}"))
      // parse once into a struct (reference parse_json), then field-access;
      // repeated get_json_object path extraction re-parses the document per
      // call — 3 parses per row became 1
      val parsed = from_json(j, org.apache.spark.sql.types.StructType.fromDDL(
        "id BIGINT, type STRING, vals ARRAY<BIGINT>"))
      TextAnalysis.spreadInput(t(s, dir)("events"))
        .select(col("event_id"),
          DruidFunctions.jsonValue(col("props"), "$.k").cast("long").as("k"),
          parsed.getField("type").as("jtype"),
          element_at(parsed.getField("vals"), 2).as("second_val"),
          concat_ws(",", json_object_keys(j)).as("jkeys"),
          size(parsed.getField("vals")).cast("long").as("nvals"))
        .groupBy(col("k"), col("jtype"))
        .agg(count(lit(1)).as("n"), sum(col("second_val")).as("sum_sv"),
          max(col("jkeys")).as("keys"), max(col("nvals")).as("nvals"))
        .orderBy(col("k"), col("jtype"))
    }),

    "q_expr_ip" -> ((s, dir) => {
      // IPV4 functions over synthesized dotted quads (deterministic from keys)
      t(s, dir)("customer").filter(col("c_custkey") <= 100)
        .select(col("c_custkey"),
          concat_ws(".", lit(10), pmod(col("c_custkey"), lit(256)),
            pmod(col("c_custkey") * 7, lit(256)), lit(1)).as("ip"))
        .select(col("c_custkey"), col("ip"),
          DruidFunctions.ipv4Parse(col("ip")).as("ip_long"),
          DruidFunctions.ipv4Match(col("ip"), "10.0.0.0/8").as("in_10"),
          DruidFunctions.ipv4Match(col("ip"), "10.64.0.0/10").as("in_10_64"))
        .orderBy(col("c_custkey"))
    }),

    "q_qa_datetime_extract" -> ((s, dir) => {
      // scalar_datetime EXTRACT variants + TIMESTAMPADD/TIMESTAMPDIFF
      // round-trip, cross-derived in the oracle
      s.sql("""
        SELECT CAST(sum(extract(DOY FROM ts)) AS BIGINT) AS s_doy,
               CAST(sum(extract(QUARTER FROM ts)) AS BIGINT) AS s_q,
               CAST(sum(weekofyear(ts)) AS BIGINT) AS s_w,
               CAST(sum(extract(DAY FROM ts)) AS BIGINT) AS s_d,
               CAST(count(CASE WHEN TIMESTAMPDIFF(DAY, ts,
                      TIMESTAMPADD(DAY, 3, ts)) = 3 THEN 1 END) AS BIGINT) AS n_tsdiff
        FROM events""")
    }),

    "q_qa_ssb_denorm" -> ((s, dir) => {
      // qaSsb denorm variants: the star pre-joined into one wide input,
      // then aggregated — the flat-table plan the reference's denorm_*
      // suites pin
      s.sql("""
        WITH denorm AS (
          SELECT n_name, year(o_orderdate) AS yr,
                 CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) AS rev
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
          WHERE l_discount BETWEEN 0.05 AND 0.07)
        SELECT n_name, yr, CAST(floor(sum(rev)) AS BIGINT) AS revenue,
               CAST(count(*) AS BIGINT) AS n
        FROM denorm GROUP BY n_name, yr ORDER BY n_name, yr""")
    }),

    "q_qa_json_query_array" -> ((s, dir) => {
      // qaJsonCols JSON_QUERY_ARRAY: array-of-scalars extraction with
      // missing-path NULL, '|'-joined for the hash compare
      s.sql("""
        SELECT array_join(JSON_QUERY_ARRAY('{"a":[1,2,3]}', '$.a'), '|') AS arr_i,
               array_join(JSON_QUERY_ARRAY('{"a":["x","y"]}', '$.a'), '|') AS arr_s,
               (JSON_QUERY_ARRAY('{"a":1}', '$.b') IS NULL) AS missing_null,
               array_join(JSON_QUERY_ARRAY('{"a":["x","y"]}', '$[''a'']'), '|') AS quoted_field,
               array_join(JSON_QUERY_ARRAY('{"a":[[1,2],[3,4]]}', '$.a[-1]'), '|') AS neg_idx,
               array_join(JSON_QUERY_ARRAY('{"a":7}', '$.a'), '|') AS scalar_wrap,
               size(JSON_QUERY_ARRAY('{"a":{"b":1}}', '$.a')) AS obj_wrap_len,
               array_join(JSON_QUERY_ARRAY('{"a":[{"x":1},2]}', '$.a'), '|') AS mixed""")
    }),

    "q_qa_json_native_negidx" -> ((s, dir) => {
      // the NATIVE json_value macro resolves negative array indexes from
      // the end (NestedPathArrayElement — NativeJsonQuery.rewriteNativeExpr
      // reroutes to json_value_native), while the SQL layer's
      // NestedFieldVirtualColumn planning nulls them (func_json_value.02
      // A077-A079); both share the walker grammar (quoted fields, typed
      // third arg)
      s.sql("""
        SELECT json_value_native('{"a":[1,2,3]}', '$.a[-1]') AS nv_neg,
               JSON_VALUE('{"a":[1,2,3]}', '$.a[-1]') AS sql_neg,
               json_value_native('{"a":["p","q"]}', '$[''a''][0]') AS nv_quoted,
               json_value_native('{"a":"9"}', '$.a', 'LONG') AS nv_typed""")
    }),

    "q_qa_sql_string_fns" -> ((s, dir) => {
      // scalar_string fn surface: druid names (STRPOS/TEXTCAT/PARSE_LONG/
      // STRING_FORMAT) beside the shared regex/pad/trim builtins; the
      // oracle derives each value independently in DuckDB
      s.sql("""
        SELECT STRPOS('graft-engine', 'engine') AS sp,
               TEXTCAT('gr', 'aft') AS tc,
               PARSE_LONG('42') AS pl,
               PARSE_LONG('ff', 16) AS plr,
               PARSE_LONG('xyz') AS plbad,
               STRING_FORMAT('%s-%03d', 'q', 7) AS fmt,
               regexp_extract('a1b22c333', '([0-9]+)', 1) AS re1,
               regexp_like('abc123', '[0-9]+') AS rl,
               lpad('7', 3, '0') AS lp, rpad('7', 3, 'x') AS rp,
               repeat('ab', 3) AS rep, reverse('graft') AS rev,
               btrim('xxgraftxx', 'x') AS bt,
               CAST(position('ft' IN 'graft') AS INT) AS pos""")
    }),

    "q_qa_union_self_merge" -> ((s, dir) => {
      // numMerge (sql quidem corpus): aggregate over a triple self-UNION —
      // partial-agg merge across identical inputs
      s.sql("""
        SELECT n_regionkey, CAST(sum(n_nationkey) AS BIGINT) AS s,
               CAST(count(*) AS BIGINT) AS n
        FROM (SELECT * FROM nation UNION ALL
              SELECT * FROM nation UNION ALL
              SELECT * FROM nation)
        WHERE n_regionkey IN (1, 2)
        GROUP BY n_regionkey ORDER BY n_regionkey""")
    }),

    "q_qa_conditional_count" -> ((s, dir) => {
      // decoupled corpus: COUNT over a CASE that yields a column (counts
      // only non-null branches) next to count(1)
      s.sql("""
        SELECT event_type,
               CAST(count(CASE WHEN value > 0.5 THEN event_type END) AS BIGINT) AS cnt,
               CAST(count(1) AS BIGINT) AS aall
        FROM events
        WHERE event_type IN ('click', 'view')
        GROUP BY event_type ORDER BY event_type""")
    }),

    "q_qa_mv_filter_fns" -> ((s, dir) => {
      // mv_filter corpus: MV_FILTER_REGEX / MV_FILTER_PREFIX over
      // STRING_TO_MV literals
      s.sql("""
        SELECT MV_TO_STRING(MV_FILTER_REGEX(
                 STRING_TO_MV('abc,def,abd', ','), '^ab'), '|') AS r,
               MV_TO_STRING(MV_FILTER_PREFIX(
                 STRING_TO_MV('apple,banana,apricot', ','), 'ap'), '|') AS p,
               MV_LENGTH(STRING_TO_MV('a,b,c', ',')) AS len,
               MV_CONTAINS(STRING_TO_MV('a,b,c', ','), 'b') AS has_b""")
    }),

    "q_qa_union_limit" -> ((s, dir) => {
      // testUnionAllQueriesWithLimit: UNION ALL under a global sort+limit
      s.sql("""
        SELECT * FROM (
          SELECT 'c' AS src, c_custkey AS k FROM customer
          UNION ALL
          SELECT 's' AS src, s_suppkey AS k FROM supplier)
        ORDER BY src, k LIMIT 20""")
    }),

    "q_qa_groupby_limit_extraction" -> ((s, dir) => {
      // testGroupByLimitPushdownExtraction: extraction-fn grouping key,
      // ordered by the aggregate with a limit
      s.sql("""
        SELECT right(c_name, 2) AS e, CAST(count(*) AS BIGINT) AS n
        FROM customer GROUP BY right(c_name, 2)
        ORDER BY n DESC, e LIMIT 10""")
    }),

    "q_qa_time_filter_subquery" -> ((s, dir) => {
      // testTimeFilterOnSubquery: the outer __time range must reach the
      // scan through the subquery
      s.sql("""
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(count(DISTINCT user_id) AS BIGINT) AS nd
        FROM (SELECT ts, user_id, value FROM events WHERE value > 0.1)
        WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
          AND ts < TIMESTAMP '2024-01-20 00:00:00'""")
    }),

    "q_qa_repeated_virtual_grouping" -> ((s, dir) => {
      // testRepeatedIdenticalVirtualExpressionGrouping: the same virtual
      // expression listed twice in GROUP BY and projected twice
      s.sql("""
        SELECT user_id % 7 AS a, user_id % 7 AS b, CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY user_id % 7, user_id % 7
        ORDER BY a""")
    }),

    "q_qa_count_distinct_grouping" -> ((s, dir) => {
      // testExactCountDistinctWithGroupingAndOtherAggregators (sql quidem
      // corpus): two exact COUNT(DISTINCT) columns alongside plain
      // aggregates under ROLLUP, with GROUPING() disambiguating the total
      s.sql("""
        SELECT event_type,
               CAST(count(DISTINCT user_id) AS BIGINT) AS nd_user,
               CAST(count(DISTINCT event_id % 97) AS BIGINT) AS nd_mod,
               CAST(count(*) AS BIGINT) AS n,
               round(sum(value), 3) AS sum_v,
               CAST(grouping(event_type) AS BIGINT) AS g
        FROM events
        GROUP BY ROLLUP(event_type)
        ORDER BY event_type NULLS LAST""")
    }),

    "q_qa_sql_math_funcs" -> ((s, dir) => {
      // scalar_numeric.02/.03 extended fns: trig/log/root identities plus
      // SAFE_DIVIDE-by-zero and bitwise-and-vs-mod equivalence, as a
      // must-hold-per-row battery
      s.sql("""
        SELECT CAST(count(*) AS BIGINT) AS cnt,
               CAST(count(CASE WHEN BITWISE_AND(user_id, 255) = user_id % 256
                           THEN 1 END) AS BIGINT) AS n_band
        FROM events
        WHERE atan2(value, 1) BETWEEN -1.5708 AND 1.5708
          AND degrees(radians(value)) BETWEEN value - 1e-9 AND value + 1e-9
          AND log10(abs(value) + 10) > 1 - 1e-12
          AND cbrt(value * value * value) BETWEEN value - 1e-6 AND value + 1e-6
          AND hypot(value, 0) = abs(value)
          AND ((value <> 0 AND SAFE_DIVIDE(value, 0.0) IS NULL)
               OR (value = 0 AND SAFE_DIVIDE(value, 0.0) = 0.0))
          AND asin(least(abs(value), 1.0)) >= 0
          AND pi() BETWEEN 3.14159 AND 3.1416""")
    }),

    // Function.java SafeDivide / SizeFormatFunc / NVL surface: long-path
    // truncating safe division (0/0 is NULL on longs), the double path's
    // 0/0 = 0 special case, and the three human-readable formatters with
    // explicit precision (inputs chosen so every printed value is exact at
    // the printed precision — no cross-engine rounding ties)
    "q_qa_scalar_misc_fns" -> ((s, dir) => {
      s.sql("""
        SELECT o_orderkey,
               SAFE_DIVIDE(o_orderkey, o_orderkey % 3) AS sd_long,
               SAFE_DIVIDE(CAST(o_orderkey AS DOUBLE),
                           CAST(o_orderkey % 3 AS DOUBLE)) AS sd_dbl,
               NVL(NULLIF(o_orderkey % 5, 0), -1) AS nvl_mod,
               HUMAN_READABLE_BINARY_BYTE_FORMAT(o_orderkey * 1024, 1) AS hrb,
               HUMAN_READABLE_DECIMAL_BYTE_FORMAT(o_orderkey * 1000) AS hrd,
               HUMAN_READABLE_DECIMAL_FORMAT(o_orderkey * 123456, 3) AS hrdec
        FROM orders WHERE o_orderkey < 200 ORDER BY o_orderkey""")
    }),

    // -------------------------------------- Calcite misc corpus shapes ----
    // (reference sql quidem: filtered_sum — FILTER aggregates over
    // empty-after-WHERE input; notinvalues — NOT IN a VALUES subquery;
    // grouping_sets_single_value_filter — a WHERE-pinned dim inside
    // GROUPING SETS; interval_arithmetic — CURRENT_TIMESTAMP ± INTERVAL)
    "q_qa_filtered_sum_empty" -> ((s, dir) => {
      s.sql("""
        SELECT CAST(count(1) FILTER (WHERE user_id = -1) AS BIGINT) AS c_eq,
               CAST(count(1) FILTER (WHERE user_id <> -1) AS BIGINT) AS c_ne,
               (min(value) IS NULL) AS min_null,
               CAST(sum(CASE WHEN user_id = -1 THEN event_id ELSE 0 END) AS BIGINT) AS s_case,
               CAST(sum(event_id) FILTER (WHERE user_id = -1) AS BIGINT) AS s_filter
        FROM events WHERE user_id < -1""")
    }),

    "q_qa_notin_values" -> ((s, dir) => {
      s.sql("""
        SELECT event_type, CAST(count(*) AS BIGINT) AS n
        FROM events
        WHERE user_id NOT IN (SELECT col FROM VALUES (-1), (-999) AS t(col))
        GROUP BY event_type ORDER BY event_type""")
    }),

    "q_qa_grouping_sets_filtered_dim" -> ((s, dir) => {
      s.sql("""
        WITH base AS (SELECT event_type, CAST(user_id % 3 AS STRING) AS u3
                      FROM events)
        SELECT event_type, u3, CAST(count(*) AS BIGINT) AS n
        FROM base WHERE event_type = 'click'
        GROUP BY GROUPING SETS ((u3, event_type), (u3))
        ORDER BY u3, event_type NULLS FIRST""")
    }),

    "q_qa_interval_arith" -> ((s, dir) => {
      s.sql("""
        SELECT CAST(count(CASE WHEN ts < CURRENT_TIMESTAMP - INTERVAL '1' DAY
                           THEN 1 END) AS BIGINT) AS n_past,
               CAST(count(CASE WHEN ts > CURRENT_TIMESTAMP + INTERVAL '1' DAY
                           THEN 1 END) AS BIGINT) AS n_future,
               date_format(max(ts + INTERVAL '2' DAY), 'yyyy-MM-dd HH:mm:ss') AS max_plus2,
               date_format(min(ts - INTERVAL '3' HOUR), 'yyyy-MM-dd HH:mm:ss') AS min_minus3h
        FROM events""")
    }),

    // ------------------------------------------------- qaWin frame matrix ----
    // (reference qaWin orderby_{rows,range}_* suites: the systematic frame
    // boundary matrix — both-preceding / both-following / zero-width /
    // unbounded-to-preceding frames over ROWS, and value-offset RANGE
    // frames — in one pinned query over a deterministic inner aggregate)
    "q_qa_win_frame_matrix" -> ((s, dir) => {
      s.sql("""
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
        FROM base ORDER BY user_id, event_type""")
    }),

    // ------------------------------------------------ kttm vis shapes ----
    // (reference quidem-ut kttm_* generated visualization queries: numeric
    // bucketing via FLOOR(x/w)*w with a time filter + LIMIT, and the
    // hour×weekday heatmap grid)
    "q_qa_kttm_bucket" -> ((s, dir) => {
      s.sql("""
        SELECT CAST(FLOOR(CAST(value AS DOUBLE) / 0.5) * 0.5 AS DOUBLE) AS bucket,
               CAST(count(*) AS BIGINT) AS n
        FROM events
        WHERE TIMESTAMP '2024-01-05 00:00:00' <= ts
          AND ts < TIMESTAMP '2024-01-20 00:00:00'
        GROUP BY FLOOR(CAST(value AS DOUBLE) / 0.5) * 0.5
        ORDER BY bucket ASC LIMIT 101""")
    }),

    "q_qa_kttm_stackarea" -> ((s, dir) => {
      // kttm_Stackarea drill-in: the 2-D stacked series — hour bucket ×
      // numeric bin (FLOOR(x/w)*w) under BOTH a time-range and a bin-range
      // filter, exactly the generated console shape
      s.sql("""
        SELECT date_trunc('hour', ts) AS h,
               CAST(FLOOR(CAST(value AS DOUBLE) / 0.5) * 0.5 AS DOUBLE) AS bin,
               CAST(count(*) AS BIGINT) AS n
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
          AND ts < TIMESTAMP '2024-01-12 00:00:00'
          AND CAST(value AS DOUBLE) >= 0.5 AND CAST(value AS DOUBLE) < 3.0
        GROUP BY 1, 2
        ORDER BY h, bin""")
    }),

    "q_qa_kttm_sunburst" -> ((s, dir) => {
      // kttm_sunburst drill-in: a JSON_VALUE-filtered slice (equality +
      // IS NULL branch) under a DISJUNCTION of bin ranges — the generated
      // sunburst segment-click query shape
      s.sql("""
        SELECT CAST(FLOOR(CAST(value AS DOUBLE) / 0.5) * 0.5 AS DOUBLE) AS bin,
               CAST(count(*) AS BIGINT) AS n
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
          AND ts < TIMESTAMP '2024-02-01 00:00:00'
          AND CAST(JSON_VALUE(props, '$.k') AS BIGINT) BETWEEN 5 AND 70
          AND JSON_VALUE(props, '$.missing') IS NULL
          AND event_type = 'click'
          AND ((0.0 <= CAST(value AS DOUBLE) AND CAST(value AS DOUBLE) < 5.0)
            OR (10.0 <= CAST(value AS DOUBLE) AND CAST(value AS DOUBLE) < 20.0)
            OR (50.0 <= CAST(value AS DOUBLE) AND CAST(value AS DOUBLE) < 100.0))
        GROUP BY 1 ORDER BY bin LIMIT 101""")
    }),

    "q_qa_kttm_heatmap" -> ((s, dir) => {
      s.sql("""
        SELECT CAST(extract(HOUR FROM ts) AS BIGINT) AS h,
               CAST(dayofweek(ts) - 1 AS BIGINT) AS dow,
               CAST(count(*) AS BIGINT) AS n,
               round(sum(value), 3) AS sum_v
        FROM events
        GROUP BY extract(HOUR FROM ts), dayofweek(ts) - 1
        ORDER BY h, dow""")
    }),

    // kttm_Overall/Sparkline shapes: the dashboard comparison-period query —
    // one pass, each measure computed twice via FILTER over the current and
    // previous window (plus an intentionally-empty window pinning the
    // SQL-standard empty-filter semantics: COUNT→0, SUM→NULL)
    "q_qa_kttm_compare" -> ((s, dir) => {
      s.sql("""
        SELECT
          count(*) FILTER (WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
                             AND ts < TIMESTAMP '2024-01-11 00:00:00') AS v0,
          CAST(FLOOR(sum(CAST(value AS DECIMAL(18,6))) FILTER (WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
                             AND ts < TIMESTAMP '2024-01-11 00:00:00')) AS BIGINT) AS v1,
          count(*) FILTER (WHERE ts >= TIMESTAMP '2024-01-09 00:00:00'
                             AND ts < TIMESTAMP '2024-01-10 00:00:00') AS v2,
          CAST(FLOOR(sum(CAST(value AS DECIMAL(18,6))) FILTER (WHERE ts >= TIMESTAMP '2024-01-09 00:00:00'
                             AND ts < TIMESTAMP '2024-01-10 00:00:00')) AS BIGINT) AS v3,
          count(*) FILTER (WHERE ts >= TIMESTAMP '2023-01-01 00:00:00'
                             AND ts < TIMESTAMP '2023-01-02 00:00:00') AS empty_cnt,
          CAST(FLOOR(sum(CAST(value AS DECIMAL(18,6))) FILTER (WHERE ts >= TIMESTAMP '2023-01-01 00:00:00'
                             AND ts < TIMESTAMP '2023-01-02 00:00:00')) AS BIGINT) AS empty_sum
        FROM events""")
    }),

    // kttm_Line-chart/Stackarea: TIME_FLOOR bucket series with a
    // per-bucket filtered measure
    "q_qa_kttm_timefloor_compare" -> ((s, dir) => {
      s.sql("""
        SELECT date_trunc('hour', ts) AS bucket,
               count(*) AS cnt,
               count(*) FILTER (WHERE event_type = 'click') AS clicks,
               CAST(FLOOR(sum(CAST(value AS DECIMAL(18,6)))) AS BIGINT) AS sum_v
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
          AND ts < TIMESTAMP '2024-01-10 12:00:00'
        GROUP BY date_trunc('hour', ts)
        ORDER BY bucket""")
    }),

    // kttm_Spotmatrix/Heatmap grid: a JSON-extracted dimension × hourly
    // TIME_FLOOR grid under an IN filter on the extracted value, grouped
    // by ordinals like the generated console SQL (the reference's
    // TIME_FLOOR(…, 'PT1H', NULL, 'Etc/UTC') ≡ the 2-arg form under this
    // engine's pinned-UTC sessions)
    "q_qa_kttm_spotmatrix" -> ((s, dir) => {
      s.sql("""
        SELECT JSON_VALUE(props, '$.k') AS k,
               TIME_FLOOR(ts, 'PT1H') AS t,
               CAST(COUNT(*) AS BIGINT) AS count
        FROM events
        WHERE TIMESTAMP '2024-01-05 00:00:00' <= ts
          AND ts < TIMESTAMP '2024-01-05 17:00:00'
          AND JSON_VALUE(props, '$.k') IN ('1','2','3','5','8','13','21','34','55')
        GROUP BY 1, 2
        ORDER BY 1, 2""")
    }),

    // kttm_Table/Spotmatrix preamble: the console's GROUP BY () global
    // aggregate — Calcite's explicit empty grouping set, which Spark's
    // parser rejects; SqlApi.emptyGroupBy translates it to the
    // GROUPING SETS spelling, so the gate goes through the facade
    "q_qa_kttm_groupby_empty" -> ((s, dir) => {
      graft.api.SqlApi.run(s, dir, """{
        "query": "SELECT MAX(date_trunc('second', ts)) AS mx, CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY ()",
        "context": {"sqlQueryId": "gate-kttm-groupby-empty"}
      }""")
    }),

    // ------------------------- decoupled-planning Calcite corpus shapes ----
    // (reference sql/src/test/quidem DecoupledPlanningCalciteQueryTest:
    // shapes that stress the planner — re-aggregation of a time-floored
    // GROUP BY with HAVING, LIMIT pushdown through an extraction-fn
    // grouping, and UNION ALL under a global sort+limit;
    // repeated-virtual-grouping, exact-count-distinct, and
    // time-filter-on-subquery shapes are covered by the earlier Calcite
    // misc gates)

    "q_qa_groupby_on_groupby_timefloor" -> ((s, dir) => {
      s.sql("""
        SELECT o_orderstatus,
               CAST(date_trunc('month', gran) AS DATE) AS mon,
               CAST(FLOOR(sum(CAST(s AS DECIMAL(18,2)))) AS BIGINT) AS tot
        FROM (SELECT date_trunc('day', o_orderdate) AS gran, o_orderstatus,
                     sum(CAST(o_totalprice AS DECIMAL(18,2))) AS s
              FROM orders GROUP BY date_trunc('day', o_orderdate), o_orderstatus
              HAVING sum(CAST(o_totalprice AS DECIMAL(18,2))) > 200000) x
        GROUP BY o_orderstatus, date_trunc('month', gran)
        ORDER BY o_orderstatus, mon DESC""")
    }),

    "q_qa_limit_pushdown_extraction" -> ((s, dir) => {
      s.sql("""
        SELECT o_orderstatus, substring(o_orderpriority, 1, 1) AS p1,
               count(*) AS cnt
        FROM orders
        WHERE o_orderstatus = 'F'
        GROUP BY o_orderstatus, substring(o_orderpriority, 1, 1)
        ORDER BY p1
        LIMIT 3""")
    }),



    // qaWin basics_multi_windows: window functions over TWO DIFFERENT
    // partitionings in one SELECT over a grouped subquery — the planner
    // must share one sort/exchange for the same-partitioning pair and add
    // exactly one more for the second partitioning (pinned in PlanSpec)
    "q_qa_win_multi_partitions" -> ((s, dir) => {
      s.sql("""
        WITH base AS (
          SELECT user_id, event_type, count(*) AS n
          FROM events WHERE user_id < 40
          GROUP BY user_id, event_type)
        SELECT user_id, event_type, n,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY event_type) AS rn_by_user,
               CAST(sum(n) OVER (PARTITION BY user_id
                                 ORDER BY event_type) AS BIGINT) AS run_by_user,
               CAST(sum(n) OVER (PARTITION BY event_type
                                 ORDER BY user_id) AS BIGINT) AS run_by_type
        FROM base ORDER BY user_id, event_type""")
    }),

    // qaSql aggr_general: aggregate ARITHMETIC inside HAVING, chained
    // through IS [NOT] DISTINCT FROM self-comparisons plus a HAVING-level
    // time filter — the planner must recognize the repeated aggregate
    // expression as one aggregate, not re-evaluate per predicate term
    "q_qa_aggr_having_distinct_from" -> ((s, dir) => {
      s.sql("""
        SELECT date_trunc('hour', ts) AS t, count(*) + 1 AS c
        FROM events
        GROUP BY date_trunc('hour', ts)
        HAVING date_trunc('hour', ts) BETWEEN TIMESTAMP '2024-01-10 00:00:00'
                                          AND TIMESTAMP '2024-01-10 06:00:00'
           AND (count(*) + 1 IS NULL
                OR (count(*) + 1 = count(*) + 1
                    AND count(*) + 1 IS NOT DISTINCT FROM count(*) + 1
                    AND count(*) + 1 <> count(*)
                    AND (count(*) + 1 IS DISTINCT FROM count(*))))
        ORDER BY t""")
    }),

    // aggr_general A20: the FULL comparison-operator battery applied to a
    // string-concatenated AGGREGATE inside HAVING (every term must resolve
    // to the same aggregate instance, not re-aggregate per predicate)
    "q_qa_aggr_battery_having" -> ((s, dir) => {
      s.sql(s"""
        SELECT date_trunc('hour', ts) AS t, '1' || min(event_type) AS c,
               CAST(count(*) AS BIGINT) AS n
        FROM events
        GROUP BY 1
        HAVING date_trunc('hour', ts) BETWEEN TIMESTAMP '2024-01-10 00:00:00'
                                          AND TIMESTAMP '2024-01-10 06:00:00'
           AND ${battery("'1' || min(event_type)", "'0' || min(event_type)",
                "'2' || min(event_type)", "STRING")}
        ORDER BY t""")
    }),

    // aggr_general A39-A41 + A24-A25: the comparison battery over BITWISE
    // aggregates and over a TIMESTAMP aggregate shifted by interval
    // arithmetic — both probe families compared in HAVING like the corpus
    "q_qa_aggr_battery_bit_time" -> ((s, dir) => {
      s.sql(s"""
        SELECT date_trunc('hour', ts) AS t,
               CAST(bit_xor(user_id) + 1 AS BIGINT) AS bx,
               CAST(bit_and(user_id) AS BIGINT) AS ba,
               CAST(bit_or(user_id) AS BIGINT) AS bo,
               min(date_trunc('hour', ts)) + INTERVAL 1 YEAR AS mt,
               CAST(count(*) AS BIGINT) AS n
        FROM events
        GROUP BY 1
        HAVING date_trunc('hour', ts) BETWEEN TIMESTAMP '2024-01-10 00:00:00'
                                          AND TIMESTAMP '2024-01-10 06:00:00'
           AND ${battery("bit_xor(user_id) + 1", "bit_xor(user_id)",
                "bit_xor(user_id) + 2", "STRING")}
           AND ${battery("min(date_trunc('hour', ts)) + INTERVAL 1 YEAR",
                "min(date_trunc('hour', ts))",
                "min(date_trunc('hour', ts)) + INTERVAL 2 YEAR", "STRING")}
        ORDER BY t""")
    }),

    // aggr_general A21: the battery over JSON_VALUE OF an aggregate —
    // json extraction composed on top of the aggregated json column
    "q_qa_aggr_battery_json" -> ((s, dir) => {
      s.sql(s"""
        SELECT date_trunc('hour', ts) AS t,
               '1' || JSON_VALUE(min(props), '$$.k') AS c,
               CAST(count(*) AS BIGINT) AS n
        FROM events
        GROUP BY 1
        HAVING date_trunc('hour', ts) BETWEEN TIMESTAMP '2024-01-10 00:00:00'
                                          AND TIMESTAMP '2024-01-10 06:00:00'
           AND ${battery("'1' || JSON_VALUE(min(props), '$.k')",
                "'0' || JSON_VALUE(min(props), '$.k')",
                "'2' || JSON_VALUE(min(props), '$.k')", "STRING")}
        ORDER BY t""")
    }),

    "q_qa_union_all_limit" -> ((s, dir) => {
      s.sql("""
        SELECT * FROM (
          SELECT c_name AS name, c_acctbal AS bal FROM customer
          UNION ALL
          SELECT 'sup' AS name, 0.0 AS bal FROM lineitem WHERE l_orderkey = 1
        ) u
        ORDER BY bal DESC, name
        LIMIT 5""")
    }),

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
    "q_qa_win_rows_ub_prec" -> ((s, dir) => {
      s.sql(s"""
        WITH w AS ($winSparkBase)
        SELECT srv, cli, tz, t12,
               CAST(sum(length(tz)) OVER (PARTITION BY cli
                 ORDER BY srv, tz, t12 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sum_val,
               count(tz) OVER (PARTITION BY cli
                 ORDER BY srv, tz, t12 ROWS UNBOUNDED PRECEDING) AS cnt_val
        FROM w ORDER BY cli, srv, tz, t12""")
    }),

    "q_qa_win_rows_frames_first_last" -> ((s, dir) => {
      // orderby_rows_{1_preceding,0_preceding,1_following,ub_*}_first_last:
      // empty frames at both partition edges must yield NULL, 0 PRECEDING/
      // 0 FOLLOWING must parse as CURRENT ROW
      s.sql(s"""
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
        FROM w ORDER BY cli, srv, tz, t12""")
    }),

    "q_qa_win_rows_sliding_sum" -> ((s, dir) => {
      // orderby_rows_1_{preceding,following}_sum_count + the
      // strictly-ahead frame (2 FOLLOWING AND 3 FOLLOWING): sum over an
      // empty frame is NULL while count is 0
      s.sql(s"""
        WITH w AS ($winSparkBase)
        SELECT srv, cli, tz, t12,
               CAST(sum(n) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                 ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS BIGINT) AS s_11,
               CAST(sum(n) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                 ROWS BETWEEN 2 FOLLOWING AND 3 FOLLOWING) AS BIGINT) AS s_23,
               count(n) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                 ROWS BETWEEN 2 FOLLOWING AND 3 FOLLOWING) AS c_23
        FROM w ORDER BY cli, srv, tz, t12""")
    }),

    "q_qa_win_range_peers" -> ((s, dir) => {
      // orderby_range_{current,ub_preceding,ub_following}_sum_count over a
      // tie-heavy single ORDER BY key: RANGE frames are peer-group frames,
      // so every row of a tz tie class gets the whole class's sum/count
      s.sql(s"""
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
        FROM w ORDER BY cli, srv, tz, t12""")
    }),

    "q_qa_win_func_in_func" -> ((s, dir) => {
      // basics_window_func_in_func A1_W1_G1: scalar function wrapping a
      // window aggregate whose argument is itself a function call
      s.sql(s"""
        WITH w AS ($winSparkBase)
        SELECT srv, cli, tz, t12,
               CAST(floor(avg(length(cli)) OVER (PARTITION BY cli
                 ORDER BY srv, tz, t12)) AS BIGINT) AS c
        FROM w ORDER BY cli, srv, tz, t12""")
    }),

    // ------------------- qaWin round-11 depth (501-file corpus families) ----
    // orderby_range_{0,1}_{preceding,following}_sum_count over a SINGLE
    // numeric sort key — the corpus's positive RANGE-offset cases (the
    // multi-key ones are its 49/50 !error battery, pinned in SqlApiSpec):
    // a value-offset frame spans VALUE distance, not row distance, so tie
    // classes and value gaps behave differently from ROWS
    "q_qa_win_range_numeric_offset" -> ((s, dir) => {
      s.sql(s"""
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
        FROM w ORDER BY cli, srv, tz, t12""")
    }),

    // RANGE with INTERVAL offsets over the timestamp sort key (the corpus
    // sorts on time_floor(__time, 'PT12H'); a 12-hour offset spans exactly
    // one bucket, a 1-day offset two)
    "q_qa_win_range_interval" -> ((s, dir) => {
      s.sql(s"""
        WITH w AS ($winSparkBase)
        SELECT srv, cli, tz, t12,
               CAST(sum(n) OVER (PARTITION BY cli ORDER BY t12
                 RANGE BETWEEN INTERVAL 12 HOURS PRECEDING AND CURRENT ROW) AS BIGINT) AS s_12h,
               count(*) OVER (PARTITION BY cli ORDER BY t12
                 RANGE BETWEEN INTERVAL 24 HOURS PRECEDING AND INTERVAL 12 HOURS FOLLOWING) AS c_day
        FROM w ORDER BY cli, srv, tz, t12""")
    }),

    // orderby_range_{current,ub_following}_first_last: FIRST/LAST over peer
    // frames — the default RANGE..CURRENT frame ends at the current PEER
    // CLASS (the classic last_value surprise), and CURRENT..UNBOUNDED
    // starts at the class head
    "q_qa_win_range_first_last_peers" -> ((s, dir) => {
      s.sql(s"""
        WITH w AS ($winSparkBase)
        SELECT srv, cli, tz, t12,
               first_value(tz) OVER (PARTITION BY cli ORDER BY tz
                 RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS fv_cur_ubf,
               last_value(tz) OVER (PARTITION BY cli ORDER BY tz
                 RANGE BETWEEN CURRENT ROW AND CURRENT ROW) AS lv_peer,
               last_value(tz) OVER (PARTITION BY cli ORDER BY tz) AS lv_default,
               first_value(tz) OVER (PARTITION BY cli ORDER BY tz
                 RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS fv_all
        FROM w ORDER BY cli, srv, tz, t12""")
    }),

    // basics_window_funcs NTILE edges: NTILE(1) is constant, NTILE(k) for
    // k > partition size gives each row its own bucket 1..cnt, NTILE(3)
    // spreads remainders into the FIRST buckets
    "q_qa_win_ntile_edges" -> ((s, dir) => {
      s.sql(s"""
        WITH w AS ($winSparkBase)
        SELECT srv, cli, tz, t12,
               CAST(NTILE(1) OVER (PARTITION BY cli ORDER BY srv, tz, t12) AS BIGINT) AS nt1,
               CAST(NTILE(3) OVER (PARTITION BY cli ORDER BY srv, tz, t12) AS BIGINT) AS nt3,
               CAST(NTILE(100) OVER (PARTITION BY cli ORDER BY srv, tz, t12) AS BIGINT) AS nt_big,
               CAST(NTILE(7) OVER (ORDER BY cli, srv, tz, t12) AS BIGINT) AS nt_glob
        FROM w ORDER BY cli, srv, tz, t12""")
    }),

    // IGNORE NULLS × explicit frames (the corpus's first_last families all
    // run RESPECT and IGNORE variants): a bounded frame can contain ONLY
    // nulls, in which case IGNORE NULLS yields NULL even mid-partition.
    // Spark spells it `f(x) IGNORE NULLS OVER`, DuckDB `f(x IGNORE NULLS)`.
    "q_qa_win_ignore_nulls_frames" -> ((s, dir) => {
      s.sql(s"""
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
        ORDER BY cli, srv, tz, t12""")
    }),

    // NTH_VALUE under cumulative / sliding / whole-partition frames — the
    // frame decides WHICH rows are numbered, so nth over a slide moves
    "q_qa_win_nth_value" -> ((s, dir) => {
      s.sql(s"""
        WITH w AS ($winSparkBase)
        SELECT srv, cli, tz, t12,
               nth_value(tz, 2) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nth2_cum,
               nth_value(tz, 3) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                 ROWS BETWEEN 2 PRECEDING AND 1 FOLLOWING) AS nth3_slide,
               nth_value(tz, 1) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS nth1_all
        FROM w ORDER BY cli, srv, tz, t12""")
    }),

    // window over a correlated UNNEST (qaUnnest × qaWin): the partition key
    // IS the unnested value — candidate rows multiply before windowing
    "q_qa_win_over_unnest" -> ((s, dir) => {
      s.sql("""
        SELECT word, p_partkey,
               CAST(count(*) OVER (PARTITION BY word) AS BIGINT) AS word_cnt,
               CAST(row_number() OVER (PARTITION BY word ORDER BY p_partkey) AS BIGINT) AS rn,
               CAST(sum(p_partkey) OVER (PARTITION BY word ORDER BY p_partkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_key
        FROM (SELECT p_partkey, word
              FROM part LATERAL VIEW explode(split(p_name, ' ')) t AS word
              WHERE p_partkey <= 200) x
        ORDER BY word, p_partkey""")
    }),

    // sql_union_all family: windows straddling a UNION ALL of two sources
    "q_qa_win_over_union" -> ((s, dir) => {
      s.sql("""
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
        FROM u ORDER BY k, src, id""")
    }),

    // basics_multi_windows: six windows with distinct partitionings, frame
    // modes, and an empty OVER () in one projection
    "q_qa_win_multi_windows" -> ((s, dir) => {
      s.sql(s"""
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
        FROM w ORDER BY cli, srv, tz, t12""")
    }),

    // sql_limit_offset: LIMIT/OFFSET applied AFTER window evaluation — the
    // cumulative sums must reflect the full input, not the page
    "q_qa_win_limit_offset" -> ((s, dir) => {
      s.sql(s"""
        WITH w AS ($winSparkBase)
        SELECT cli, srv, tz, t12,
               CAST(row_number() OVER (ORDER BY cli, srv, tz, t12) AS BIGINT) AS rn,
               CAST(sum(n) OVER (ORDER BY cli, srv, tz, t12
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        FROM w ORDER BY cli, srv, tz, t12 LIMIT 10 OFFSET 5""")
    }),

    // sql_select_distinct: DISTINCT over whole-partition window outputs
    // collapses each partition to one row
    "q_qa_win_distinct" -> ((s, dir) => {
      s.sql(s"""
        WITH w AS ($winSparkBase)
        SELECT DISTINCT cli,
               CAST(count(*) OVER (PARTITION BY cli) AS BIGINT) AS cnt,
               CAST(sum(n) OVER (PARTITION BY cli) AS BIGINT) AS s
        FROM w ORDER BY cli""")
    }),

    // basics_data_types_and_exprs: window aggregates over string, timestamp
    // and numeric arguments in one projection
    "q_qa_win_datatypes" -> ((s, dir) => {
      s.sql(s"""
        WITH w AS ($winSparkBase)
        SELECT srv, cli, tz, t12,
               min(tz) OVER (PARTITION BY cli) AS min_str,
               max(t12) OVER (PARTITION BY cli) AS max_ts,
               CAST(max(n) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                 ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS BIGINT) AS max_n,
               CAST(count(t12) OVER (PARTITION BY cli ORDER BY srv, tz, t12) AS BIGINT) AS c_ts
        FROM w ORDER BY cli, srv, tz, t12""")
    }),

    // basics_order_by_nulls_first_last: explicit NULLS FIRST/LAST inside
    // window ORDER BY over a null-bearing expression (engine defaults
    // differ — Spark asc=nulls-first, DuckDB asc=nulls-last)
    "q_qa_win_nulls_order" -> ((s, dir) => {
      s.sql(s"""
        WITH w AS ($winSparkBase)
        SELECT srv, cli, tz, t12, v,
               CAST(row_number() OVER (PARTITION BY cli
                 ORDER BY v ASC NULLS LAST, srv, tz, t12) AS BIGINT) AS rn_nl,
               CAST(row_number() OVER (PARTITION BY cli
                 ORDER BY v DESC NULLS FIRST, srv, tz, t12) AS BIGINT) AS rn_nf,
               first_value(v) OVER (PARTITION BY cli
                 ORDER BY v ASC NULLS FIRST, srv, tz, t12) AS fv_nf
        FROM (SELECT *, CASE WHEN srv = 0 THEN NULL ELSE tz END AS v FROM w)
        ORDER BY cli, srv, tz, t12""")
    }),

    // sql_subquery_with_where: outer WHERE over rank fractions computed in
    // a subquery (rank pages, percent_rank/cume_dist round-pinned)
    "q_qa_win_rank_subq_filter" -> ((s, dir) => {
      s.sql(s"""
        WITH w AS ($winSparkBase)
        SELECT * FROM (
          SELECT cli, srv, tz, t12,
                 CAST(rank() OVER (PARTITION BY cli ORDER BY srv, tz, t12) AS BIGINT) AS rk,
                 round(percent_rank() OVER (PARTITION BY cli ORDER BY srv, tz, t12), 6) AS pr,
                 round(cume_dist() OVER (PARTITION BY cli ORDER BY srv, tz, t12), 6) AS cd
          FROM w) x
        WHERE rk <= 3 ORDER BY cli, rk, srv, tz, t12""")
    }),

    // orderby DESC families: value-offset RANGE frames over a DESCENDING
    // numeric key — "preceding" walks toward larger values
    "q_qa_win_desc_range" -> ((s, dir) => {
      s.sql(s"""
        WITH w AS ($winSparkBase)
        SELECT srv, cli, tz, t12,
               CAST(sum(n) OVER (PARTITION BY cli ORDER BY srv DESC
                 RANGE BETWEEN 1 PRECEDING AND CURRENT ROW) AS BIGINT) AS s_1p,
               first_value(srv) OVER (PARTITION BY cli ORDER BY srv DESC) AS fv_desc,
               last_value(srv) OVER (PARTITION BY cli ORDER BY srv DESC
                 RANGE BETWEEN CURRENT ROW AND CURRENT ROW) AS lv_peer_desc
        FROM w ORDER BY cli, srv, tz, t12""")
    }),

    // basics_window_and_aggr: window aggregates whose ARGUMENTS are
    // expressions (arithmetic, CASE, function calls) — not bare columns
    "q_qa_win_expr_args" -> ((s, dir) => {
      s.sql(s"""
        WITH w AS ($winSparkBase)
        SELECT srv, cli, tz, t12,
               CAST(sum(n * 2 + 1) OVER (PARTITION BY cli
                 ORDER BY srv, tz, t12) AS BIGINT) AS s_arith,
               CAST(sum(CASE WHEN srv = 0 THEN n ELSE 0 END) OVER (
                 PARTITION BY cli ORDER BY srv, tz, t12) AS BIGINT) AS s_case,
               CAST(max(length(tz) + srv) OVER (PARTITION BY cli) AS BIGINT) AS m_fn
        FROM w ORDER BY cli, srv, tz, t12""")
    }),

    // sql_subquery_with_where pagination idiom: global row_number paged
    // with BETWEEN in the outer query
    "q_qa_win_pagination" -> ((s, dir) => {
      s.sql(s"""
        WITH w AS ($winSparkBase)
        SELECT * FROM (
          SELECT cli, srv, tz, t12,
                 CAST(row_number() OVER (ORDER BY cli, srv, tz, t12) AS BIGINT) AS rn
          FROM w) x
        WHERE rn BETWEEN 6 AND 15 ORDER BY rn""")
    }),

    // LEAD/LAG with typed defaults (string default, zero offset ≡ current
    // row, timestamp argument)
    "q_qa_win_lead_lag_typed" -> ((s, dir) => {
      s.sql(s"""
        WITH w AS ($winSparkBase)
        SELECT srv, cli, tz, t12,
               lead(tz, 1, 'none') OVER (PARTITION BY cli
                 ORDER BY srv, tz, t12) AS next_tz,
               lag(tz, 0) OVER (PARTITION BY cli
                 ORDER BY srv, tz, t12) AS self_tz,
               lag(t12, 2) OVER (PARTITION BY cli
                 ORDER BY srv, tz, t12) AS t12_back2
        FROM w ORDER BY cli, srv, tz, t12""")
    }),

    // stacked windows: an outer window over an inner window's output
    // (rank of running sums)
    "q_qa_win_stacked" -> ((s, dir) => {
      s.sql(s"""
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
        FROM inner_w ORDER BY cli, srv, tz, t12""")
    }),

    // tie-heavy rank fractions: percent_rank/cume_dist where the whole
    // partition can be one tie class
    "q_qa_win_tie_fractions" -> ((s, dir) => {
      s.sql(s"""
        WITH w AS ($winSparkBase)
        SELECT srv, cli, tz, t12,
               round(percent_rank() OVER (PARTITION BY cli ORDER BY srv), 6) AS pr,
               round(cume_dist() OVER (PARTITION BY cli ORDER BY srv), 6) AS cd,
               CAST(dense_rank() OVER (PARTITION BY cli ORDER BY srv) AS BIGINT) AS dr
        FROM w ORDER BY cli, srv, tz, t12""")
    }),

    // basics_group_by: a window ranking GROUP BY aggregates, under HAVING
    "q_qa_win_group_by_having" -> ((s, dir) => {
      s.sql(s"""
        WITH w AS ($winSparkBase)
        SELECT cli, CAST(sum(n) AS BIGINT) AS tot,
               CAST(rank() OVER (ORDER BY CAST(sum(n) AS BIGINT) DESC, cli) AS BIGINT) AS rk
        FROM w GROUP BY cli HAVING sum(n) > 1
        ORDER BY rk, cli""")
    }),

    // ------------------- qaWin round-13 depth (501-file corpus families) ----
    // sql_join family (sql_join.01.*.iq A1_G1_Q3): two windowed subqueries
    // self-joined on a non-partition key — every window must be computed
    // BEFORE the join multiplies rows, so the per-side first/last/cnt
    // values replicate, not recompute, across the join fanout
    "q_qa_win_join_self" -> ((s, dir) => {
      s.sql(s"""
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
        FROM win t1 INNER JOIN win t2 ON t1.srv = t2.srv""")
    }),

    // sql_subquery_with_where A1_G2_Q1: window functions in the SAME query
    // block as GROUP BY — evaluated over the grouped output, so the running
    // count(tz) numbers group rows, not raw rows
    "q_qa_win_groupby_running" -> ((s, dir) => {
      s.sql("""
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
        ORDER BY cli, srv, tz""")
    }),

    // sql_union_all A1_G2_Q1: UNION ALL of the source with itself, then
    // GROUP BY + running window in the same block — the union doubles raw
    // rows but grouping collapses them back, so window output matches the
    // single-source shape while any count(*) aggregate doubles
    "q_qa_win_union_groupby" -> ((s, dir) => {
      s.sql("""
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
        ORDER BY cli, srv""")
    }),

    // basics_window_and_aggr A1_G1_Q2: a named WINDOW clause shared by
    // several functions (row_number / sum / first_value all OVER w)
    "q_qa_win_named_window" -> ((s, dir) => {
      s.sql(s"""
        WITH w AS ($winSparkBase)
        SELECT srv, cli, tz, t12,
               CAST(row_number() OVER win AS BIGINT) AS rn,
               CAST(sum(n) OVER win AS BIGINT) AS cum,
               first_value(tz) OVER win AS fv
        FROM w
        WINDOW win AS (PARTITION BY cli ORDER BY srv, tz, t12)
        ORDER BY cli, srv, tz, t12""")
    }),

    // mixed frame modes in ONE projection: a ROWS slide, a value-RANGE
    // frame, and a GROUPS frame (peer-class offsets). Spark has no GROUPS
    // frame mode, so it is emulated exactly as operators.Windows does —
    // dense_rank as the peer-class ordinal, then a value-RANGE over it
    // (DuckDB parses but does not implement GROUPS either, so the oracle
    // states the same peer-class definition through dense_rank)
    "q_qa_win_mixed_frames" -> ((s, dir) => {
      s.sql(s"""
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
        ORDER BY cli, srv, tz, t12""")
    }),

    // orderby_range_*_first_last over tz-floored time across DST
    // boundaries: daily America/New_York buckets of `orders` are 23 h apart
    // at spring-forward and 25 h at fall-back, so a RANGE INTERVAL 1 DAY
    // PRECEDING frame INCLUDES the previous bucket on 23 h days but
    // EXCLUDES it on 25 h days — a fixed-24 h mental model gets both wrong
    "q_qa_win_range_interval_dst" -> ((s, dir) => {
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
    }),

    // basics_window_funcs percentile edges: percent_rank is 0 for the
    // single row of a 1-row partition (denominator n-1 = 0), cume_dist
    // counts the whole peer class, NTILE(2) on a 1-row partition is 1
    "q_qa_win_percent_edges" -> ((s, dir) => {
      s.sql(s"""
        WITH w AS ($winSparkBase)
        SELECT srv, cli, tz, t12,
               round(percent_rank() OVER (PARTITION BY cli, tz
                 ORDER BY srv, t12), 6) AS pr,
               round(cume_dist() OVER (PARTITION BY cli, tz
                 ORDER BY srv), 6) AS cd_peers,
               CAST(ntile(2) OVER (PARTITION BY cli, tz
                 ORDER BY srv, t12) AS BIGINT) AS nt2
        FROM w ORDER BY cli, srv, tz, t12""")
    }),

    // frames that can be EMPTY: entirely-preceding and entirely-following
    // ROWS frames yield count 0 / sum NULL at the partition edges — the
    // corpus's 0_preceding/0_following suites pin exactly this boundary
    "q_qa_win_empty_frames" -> ((s, dir) => {
      s.sql(s"""
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
        FROM w ORDER BY cli, srv, tz, t12""")
    }),

    // the corpus's signature multi-key ORDER BY with EXPRESSION sort keys
    // (server_ip ASC, length(server_ip) ASC, cast(length(server_ip) AS
    // DOUBLE)+0.123 ASC, timezone, time_floor): redundant derived keys must
    // not perturb the ordering or the frame contents
    "q_qa_win_multi_sortkey_expr" -> ((s, dir) => {
      s.sql(s"""
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
        FROM w ORDER BY cli, srv, tz, t12""")
    }),

    // basics_window_func_in_func, deeper: scalar functions OVER window
    // results — length(first_value(..)), concat of two different windows,
    // and arithmetic combining two window aggregates in one expression
    "q_qa_win_scalar_chain" -> ((s, dir) => {
      s.sql(s"""
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
        FROM w ORDER BY cli, srv, tz, t12""")
    }),

    // Drill bugs/drill-3210: SELECT * star expansion alongside named-window
    // aggregates, plus a SECOND independent window function whose alias
    // drives the outer ORDER BY (both were planner NPEs in Drill — pinned
    // as value semantics; Spark requires the window in the projection,
    // ordered by its alias)
    "q_drill_window_star_orderby" -> ((s, dir) => {
      s.sql("""
        SELECT *, CAST(sum(n) OVER w AS BIGINT) AS s,
               CAST(count(n) OVER w AS BIGINT) AS c,
               CAST(rank() OVER (PARTITION BY b1 ORDER BY n, c1) AS BIGINT) AS rk
        FROM (SELECT user_id % 3 AS b1, event_type AS c1,
                     CAST(count(*) AS BIGINT) AS n
              FROM events WHERE user_id < 9
              GROUP BY user_id % 3, event_type) t
        WINDOW w AS (PARTITION BY b1 ORDER BY c1 DESC)
        ORDER BY rk, b1, c1""")
    }),

    // druid_queries/array_concat_agg: ARRAY-collecting aggregates AS WINDOW
    // functions — the whole-partition list is attached to every row of the
    // partition (sorted + joined so the value is deterministic); the empty
    // OVER () variant collects across the entire input
    "q_drill_window_list_agg" -> ((s, dir) => {
      s.sql("""
        SELECT grp, cli, n,
               array_join(array_sort(collect_list(cli) OVER
                 (PARTITION BY grp)), '|') AS part_list,
               array_join(array_sort(collect_list(cli) OVER ()), '|') AS all_list
        FROM (SELECT user_id % 3 AS grp, event_type AS cli,
                     CAST(count(*) AS BIGINT) AS n
              FROM events WHERE user_id < 9
              GROUP BY user_id % 3, event_type) g
        ORDER BY grp, cli""")
    }),

    // sql_select_count: a plain aggregate over the OUTPUT of a windowed
    // subquery — the window evaluates fully before the outer count/sum,
    // even when the outer query keeps none of the window's input columns
    "q_qa_win_agg_over_window" -> ((s, dir) => {
      s.sql(s"""
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
              FROM w) x""")
    }),

    // basics_order_by_nulls_first_last with MIXED directions in ONE window:
    // ASC NULLS LAST then DESC NULLS FIRST on later keys, under a bounded
    // frame — the null placement of EACH key independently shapes frames
    "q_qa_win_mixed_null_dirs" -> ((s, dir) => {
      s.sql(s"""
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
        ORDER BY cli, srv, tz, t12""")
    }),

    // Drill statistical_aggregates over SLIDING frames: running sample
    // variance/stddev over a 3-row window — partials must combine exactly
    // (rounded identically on both sides)
    "q_drill_window_var_sliding" -> ((s, dir) => {
      s.sql(s"""
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
        FROM w ORDER BY cli, srv, tz, t12""")
    }),

    // unnest → GROUP BY → window: running aggregates over the GROUPED
    // output of an exploded array (qaUnnest × window composition)
    "q_qa_unnest_group_window" -> ((s, dir) => {
      s.sql("""
        SELECT word, n,
               CAST(row_number() OVER (ORDER BY n DESC, word) AS BIGINT) AS rk,
               CAST(sum(n) OVER (ORDER BY n DESC, word
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        FROM (SELECT word, CAST(count(*) AS BIGINT) AS n
              FROM part LATERAL VIEW explode(split(p_name, ' ')) t AS word
              WHERE p_partkey <= 300
              GROUP BY word) g
        ORDER BY rk""")
    }),

    // the systematic RANGE-offset edge matrix the orderby_range_* corpus
    // sweeps: both-PRECEDING and both-FOLLOWING value windows (can be
    // EMPTY when no row lands in the value interval), UNBOUNDED-to-offset
    // hybrids, and FIRST/LAST over a symmetric value window — value
    // distance, not row distance, decides membership everywhere
    "q_qa_win_range_matrix_full" -> ((s, dir) => {
      s.sql(s"""
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
        FROM w ORDER BY cli, srv, tz, t12""")
    }),

    // qaWin W-matrix: explicit ROWS/RANGE frames with PARTITION BY but NO
    // ORDER BY (reference `OVER (PARTITION BY client_ip ROWS ...)` /
    // `OVER (...)` specs) — limited to the order-insensitive frames
    // (current-row-only and whole-partition), which both engines define
    // deterministically without a sort key.
    "q_qa_win_frame_no_orderby" -> ((s, dir) => {
      s.sql(s"""
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
        FROM w ORDER BY cli, srv, tz, t12""")
    }),

    // qaWin W-matrix `ORDER BY server_ip DESC, server_ip, ...`: the same key
    // repeated with conflicting directions — the FIRST occurrence governs
    // (later duplicates are no-op tie-breaks on an already-decided key), and
    // frames walk the resulting order.
    "q_qa_win_dup_sortkey" -> ((s, dir) => {
      s.sql(s"""
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
        FROM w ORDER BY cli, srv, tz, t12""")
    }),

    // LEAD/LAG are NAVIGATION functions: they read physical row offsets in
    // the partition and IGNORE any frame clause on the shared window —
    // pinned by pairing them with a framed aggregate over the same named
    // 1-row frame (the aggregate sees only the frame; lag still reaches
    // outside it)
    "q_qa_win_lag_ignores_frame" -> ((s, dir) => {
      s.sql(s"""
        WITH w AS ($winSparkBase)
        SELECT srv, cli, tz, t12,
               CAST(lag(n, 2) OVER (PARTITION BY cli
                 ORDER BY srv, tz, t12) AS BIGINT) AS lag2,
               CAST(lead(n, 2) OVER (PARTITION BY cli
                 ORDER BY srv, tz, t12) AS BIGINT) AS lead2,
               CAST(sum(n) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                 ROWS BETWEEN CURRENT ROW AND CURRENT ROW) AS BIGINT) AS s_self
        FROM w ORDER BY cli, srv, tz, t12""")
    }),

    // Drill frameclause/multipl_wnwds mulwind_01: a named window plus
    // inline windows with DESC NULLS FIRST and RANGE CURRENT ROW AND
    // CURRENT ROW peers, wrapped in a subquery FILTERED on one of the
    // window outputs — windows must evaluate before the outer predicate
    "q_drill_window_named_mixed" -> ((s, dir) => {
      s.sql(s"""
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
        ORDER BY cli, srv, tz, t12""")
    }),

    // Drill misc q15: the full ranking+aggregate battery over ONE shared
    // global (partition-less) named window ordered DESC
    "q_drill_window_all_funcs" -> ((s, dir) => {
      s.sql(s"""
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
        ORDER BY cli, srv, tz, t12""")
    }),

    // Drill statistical_aggregates + empty-partition variants: sample
    // variance over a 1-row partition is NULL, population variance 0
    "q_drill_window_var_stat" -> ((s, dir) => {
      s.sql(s"""
        WITH w AS ($winSparkBase)
        SELECT srv, cli, tz, t12,
               round(var_samp(n) OVER (PARTITION BY cli, tz), 6) AS vs,
               round(var_pop(n) OVER (PARTITION BY cli, tz), 6) AS vp,
               round(stddev_samp(n) OVER (PARTITION BY cli, tz), 6) AS sd,
               CAST(count(*) OVER (PARTITION BY cli, tz) AS BIGINT) AS np
        FROM w ORDER BY cli, srv, tz, t12""")
    }),

    // Drill frameclause/subQueries frmInSubQry: a framed running sum
    // computed in a subquery, aggregated by the OUTER query — the frame
    // result is an input column to a plain GROUP BY
    "q_drill_window_frame_in_subq" -> ((s, dir) => {
      s.sql(s"""
        WITH w AS ($winSparkBase)
        SELECT cli, CAST(max(run) AS BIGINT) AS max_run,
               CAST(sum(run) AS BIGINT) AS sum_run,
               CAST(count(*) AS BIGINT) AS n_rows
        FROM (SELECT cli,
                     sum(n) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                       ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS run
              FROM w) x
        GROUP BY cli ORDER BY cli""")
    }),

    // DESC time-ordered RANGE INTERVAL frame: "PRECEDING" under DESC walks
    // toward LARGER timestamps, so the 12-hour bound faces the other way
    "q_qa_win_range_interval_desc" -> ((s, dir) => {
      s.sql(s"""
        WITH w AS ($winSparkBase)
        SELECT srv, cli, tz, t12,
               CAST(sum(n) OVER (PARTITION BY cli ORDER BY t12 DESC
                 RANGE BETWEEN INTERVAL 12 HOURS PRECEDING AND CURRENT ROW) AS BIGINT) AS s_12h,
               CAST(count(*) OVER (PARTITION BY cli ORDER BY t12 DESC
                 RANGE BETWEEN INTERVAL 12 HOURS PRECEDING
                           AND INTERVAL 12 HOURS FOLLOWING) AS BIGINT) AS c_24h
        FROM w ORDER BY cli, srv, tz, t12""")
    }),

    // Druid/Calcite single-bound FOLLOWING frame shorthand through the SQL
    // facade: `ROWS UNBOUNDED FOLLOWING` / `ROWS 1 FOLLOWING` mean BETWEEN
    // CURRENT ROW AND <b> FOLLOWING (qaWin orderby_*_following corpora;
    // SqlApi.suffixFrames — Spark's parser rejects the lone bound)
    "q_qa_win_suffix_frames" -> ((s, dir) => {
      val q = "SELECT user_id % 3 AS srv, event_type AS cli, " +
        "CAST(user_id % 5 AS VARCHAR) AS tz, " +
        "CAST(sum(count(*)) OVER (PARTITION BY event_type ORDER BY user_id % 3, CAST(user_id % 5 AS VARCHAR) ROWS UNBOUNDED FOLLOWING) AS BIGINT) AS s_ubf, " +
        "CAST(count(count(*)) OVER (PARTITION BY event_type ORDER BY user_id % 3, CAST(user_id % 5 AS VARCHAR) ROWS 1 FOLLOWING) AS BIGINT) AS c_1f, " +
        "CAST(sum(count(*)) OVER (PARTITION BY event_type ORDER BY user_id % 3, CAST(user_id % 5 AS VARCHAR) ROWS UNBOUNDED PRECEDING) AS BIGINT) AS s_ubp " +
        "FROM events WHERE user_id < 12 " +
        "GROUP BY user_id % 3, event_type, CAST(user_id % 5 AS VARCHAR) " +
        "ORDER BY cli, srv, tz"
      graft.api.SqlApi.run(s, dir, s"""{"query": "${q.replace("\"", "\\\"")}"}""")
    }),

    // ---------------------------------------------- qaSql scalar corpus ----
    // (reference qaSql/scalar_{datetime,string,reduction,numeric}.*.iq —
    // each applies one comparison-operator battery (=, IS [NOT] DISTINCT
    // FROM, <>, ordered compares, IS [NOT] TRUE/FALSE, [NOT] BETWEEN,
    // [NOT] LIKE, [NOT] IN) to a probe expression family; every term holds
    // for every row, so cnt = the filtered slice. The reference LIKEs the
    // raw value through an implicit cast; both dialects here cast
    // explicitly.)
    "q_qa_scalar_datetime_battery" -> ((s, dir) => {
      s.sql(s"""
        SELECT CAST(count(*) FILTER (WHERE
                 ${battery("ts", "ts - INTERVAL 2 YEAR", "ts + INTERVAL 2 YEAR", "STRING")}) AS BIGINT) AS cnt_time,
               CAST(count(*) FILTER (WHERE
                 ${battery("TIME_FLOOR(ts, 'P1Y')",
                   "TIME_FLOOR(ts - INTERVAL 2 YEAR, 'P1Y')",
                   "TIME_FLOOR(ts + INTERVAL 2 YEAR, 'P1Y')", "STRING")}) AS BIGINT) AS cnt_floor
        FROM events WHERE user_id < 100""")
    }),

    // qaSql scalar_ipv4: the comparison battery over IPV4_PARSE plus
    // subnet-match and parse→stringify round-trip counts (the oracle
    // recomputes the parse arithmetically, so a wrong octet weight or
    // byte order would break the count equality)
    "q_qa_scalar_ipv4_battery" -> ((s, dir) => {
      s.sql(s"""
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
        FROM ips""")
    }),

    "q_qa_scalar_string_battery" -> ((s, dir) => {
      s.sql(s"""
        SELECT CAST(count(*) FILTER (WHERE
                 ${battery("'1' || event_type", "'0' || event_type",
                   "'2' || event_type", "STRING")}) AS BIGINT) AS cnt_concat,
               CAST(count(*) FILTER (WHERE
                 ${battery("upper(substring(event_type, 1, 3))",
                   "'A'", "'ZZZZ'", "STRING")}) AS BIGINT) AS cnt_func
        FROM events WHERE user_id < 100""")
    }),

    "q_qa_scalar_reduction_battery" -> ((s, dir) => {
      // scalar_reduction A1..A7: greatest/least/coalesce/nvl/nullif probes
      // (the reference's greatest/least ignore NULL arguments — so does
      // Spark; the DuckDB oracle drops the NULL argument to express the
      // same value)
      s.sql(s"""
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
        FROM events WHERE user_id < 100""")
    }),

    "q_qa_scalar_numeric_battery" -> ((s, dir) => {
      s.sql(s"""
        SELECT CAST(count(*) FILTER (WHERE
                 ${battery("user_id * 2 + 1", "user_id * 2", "user_id * 2 + 2", "STRING")}) AS BIGINT) AS cnt_long,
               CAST(count(*) FILTER (WHERE
                 ${battery("round(value, 2) + 1.0D", "round(value, 2)",
                   "round(value, 2) + 2.0D", "STRING")}) AS BIGINT) AS cnt_double
        FROM events WHERE user_id < 100""")
    }),

    // ---------------------------------------- Calcite join-shape corpus ----
    // (reference sql/src/test/quidem CalciteJoinQueryTest shapes, ported
    // onto the TPC-H tables: semi+anti join in one query, union-of-inputs
    // against a dimension, inline datasources with outer where, nested
    // aggregation over an aggregate, extraction functions inside an IN
    // subquery)
    "q_qa_join_semi_anti_simul" -> ((s, dir) => {
      s.sql("""
        SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n
        FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM customer
                            WHERE c_mktsegment = 'BUILDING')
          AND o_orderkey NOT IN (SELECT l_orderkey FROM lineitem
                                 WHERE l_quantity > 49)
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")
    }),

    "q_qa_join_union_inputs" -> ((s, dir) => {
      s.sql("""
        SELECT n_name, CAST(count(*) AS BIGINT) AS n FROM (
          SELECT c_nationkey AS k FROM customer WHERE c_acctbal > 9000
          UNION ALL
          SELECT s_nationkey AS k FROM supplier WHERE s_acctbal > 9000) u
        JOIN nation ON u.k = n_nationkey
        GROUP BY n_name ORDER BY n_name""")
    }),

    "q_qa_join_inline_outer_where" -> ((s, dir) => {
      s.sql("""
        SELECT a.k, a.v, b.v AS bv
        FROM (SELECT * FROM VALUES (1, 'x'), (2, 'y'), (3, 'z') AS t(k, v)) a
        LEFT JOIN (SELECT * FROM VALUES (1, 'p'), (3, 'q') AS t(k, v)) b
          ON a.k = b.k
        WHERE b.v IS NULL OR b.v = 'q'
        ORDER BY a.k""")
    }),

    // --------------- Calcite join corpus, second tranche (Decoupled
    // PlanningCalciteJoinQueryTest): mismatched-type join keys through
    // casts, LEFT JOIN + IS NULL as anti join, joining two time-floored
    // aggregates on the floored key, UNION ALL where both branches are
    // joins, and two simultaneous IN semi joins
    "q_qa_join_cast_key" -> ((s, dir) => {
      s.sql("""
        SELECT n_name, count(*) AS n
        FROM orders JOIN nation
          ON CAST(o_custkey % 25 AS STRING) = CAST(n_nationkey AS STRING)
        GROUP BY n_name ORDER BY n_name""")
    }),

    "q_qa_join_isnull_filter" -> ((s, dir) => {
      s.sql("""
        SELECT c_mktsegment, count(*) AS n
        FROM customer LEFT JOIN
          (SELECT DISTINCT o_custkey FROM orders
           WHERE o_orderpriority = '1-URGENT') u
          ON c_custkey = o_custkey
        WHERE o_custkey IS NULL
        GROUP BY c_mktsegment ORDER BY c_mktsegment""")
    }),

    "q_qa_join_timefloor_agg" -> ((s, dir) => {
      s.sql("""
        SELECT CAST(a.d AS TIMESTAMP) AS d, a.n_orders, b.n_lines
        FROM (SELECT date_trunc('month', o_orderdate) AS d, count(*) AS n_orders
              FROM orders GROUP BY date_trunc('month', o_orderdate)) a
        JOIN (SELECT date_trunc('month', l_shipdate) AS d, count(*) AS n_lines
              FROM lineitem GROUP BY date_trunc('month', l_shipdate)) b
          ON a.d = b.d
        WHERE a.d >= TIMESTAMP '1997-01-01'
          AND a.d < TIMESTAMP '1998-01-01'
        ORDER BY d""")
    }),

    // testGroupByOverGroupByOverInnerJoinOnTwoInlineDataSources: double
    // re-aggregation above a self-join — the planner must keep one join
    // and collapse the redundant outer grouping
    "q_qa_join_groupby_over_groupby" -> ((s, dir) => {
      s.sql("""
        SELECT event_type FROM (
          SELECT event_type, ts FROM (
            SELECT t1.event_type, t1.ts
            FROM events t1 INNER JOIN events t2
              ON t1.event_type = t2.event_type
            WHERE t1.event_id < 200 AND t2.event_id < 200)
          GROUP BY 1, 2)
        GROUP BY event_type ORDER BY event_type""")
    }),

    // testUsingSubqueryAsPartOfAndFilter: IN-subquery semi join AND'ed
    // with a plain predicate under a grouped count
    "q_qa_join_subq_and_filter" -> ((s, dir) => {
      s.sql("""
        SELECT o_orderstatus, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n
        FROM orders
        WHERE o_orderpriority IN (SELECT o_orderpriority FROM orders
                                  WHERE o_orderstatus = 'F')
          AND o_orderstatus <> 'P' AND o_orderkey <= 3000
        GROUP BY o_orderstatus, o_orderpriority
        ORDER BY o_orderpriority, o_orderstatus""")
    }),

    // testMultipleExactCountDistinctWithGroupingAndOtherAggregatorsUsingJoin:
    // several exact COUNT(DISTINCT) columns beside plain aggregates under
    // one grouping — plans through Spark's Expand (the reference rewrites
    // to a join of per-distinct subqueries; same results, one pass here)
    "q_qa_multi_count_distinct" -> ((s, dir) => {
      s.sql("""
        SELECT o_orderstatus,
               CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS d_pri,
               CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS d_cust,
               CAST(FLOOR(SUM(CAST(o_totalprice AS DECIMAL(18,2)))) AS BIGINT) AS s,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM orders WHERE o_orderkey <= 20000
        GROUP BY o_orderstatus ORDER BY o_orderstatus""")
    }),

    // testCommaJoinLeftFunction: comma-join whose condition applies a
    // scalar function to the left column — the planner must hoist the
    // function into a pre-join projection, not a post-join filter
    "q_qa_join_fn_on_key" -> ((s, dir) => {
      s.sql("""
        SELECT c.c_name, r.r_name
        FROM customer c, region r
        WHERE SUBSTRING(c.c_mktsegment, 1, 1) = SUBSTRING(r.r_name, 1, 1)
          AND c.c_custkey <= 300
        ORDER BY c.c_name, r.r_name""")
    }),

    // testExactTopNOnInnerJoinWithLimit: topN grouped on a dimension
    // joined to a grouped subquery of the same table, lexicographic
    // dimension ordering with a limit
    "q_qa_join_topn_limit" -> ((s, dir) => {
      s.sql("""
        SELECT f1.o_orderpriority AS pri,
               CAST(FLOOR(sum(CAST(f1.o_totalprice AS DECIMAL(18,2)))) AS BIGINT) AS s
        FROM orders f1 INNER JOIN (
          SELECT o_orderpriority FROM orders
          WHERE o_orderpriority <> '1-URGENT' GROUP BY 1
        ) f2 ON f1.o_orderpriority = f2.o_orderpriority
        GROUP BY 1 ORDER BY 1 LIMIT 1""")
    }),

    // testSemiJoinWithOuterTimeExtractAggregateWithOrderBy: IN-subquery
    // semi join under an outer COUNT(DISTINCT) grouped and ordered by a
    // time-extract virtual column
    "q_qa_join_semi_time_extract" -> ((s, dir) => {
      s.sql("""
        SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n,
               CAST(EXTRACT(DAY FROM ts) AS BIGINT) AS d
        FROM events
        WHERE event_type IN (SELECT event_type FROM events WHERE user_id = 7)
          AND user_id < 200
        GROUP BY EXTRACT(DAY FROM ts)
        ORDER BY d""")
    }),

    // testVirtualColumnOnMVFilterJoinExpression: join keyed on an
    // MV_FILTER_ONLY virtual column (non-matching rows filter to the
    // empty cell and are excluded, like the reference's null MVD)
    "q_qa_join_mv_filter_expr" -> ((s, dir) => {
      s.sql("""
        WITH f AS (SELECT p_partkey,
                          MV_FILTER_ONLY(split(p_type, ' '), array('PROMO')) AS mv
                   FROM part WHERE p_partkey <= 200)
        SELECT a.p_partkey AS pa, b.p_partkey AS pb
        FROM f a INNER JOIN f b
          ON a.mv = b.mv AND size(a.mv) > 0 AND a.p_partkey < b.p_partkey
        ORDER BY pa, pb""")
    }),

    "q_qa_union_two_joins" -> ((s, dir) => {
      s.sql("""
        SELECT * FROM (
          SELECT 'cust' AS side, c_mktsegment AS k, count(*) AS n
          FROM orders JOIN customer ON o_custkey = c_custkey
          WHERE o_orderpriority = '1-URGENT'
          GROUP BY c_mktsegment
          UNION ALL
          SELECT 'supp' AS side, CAST(s_nationkey AS STRING) AS k, count(*) AS n
          FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
          WHERE l_quantity > 45
          GROUP BY s_nationkey) u
        ORDER BY side, k""")
    }),

    "q_qa_two_semi_joins" -> ((s, dir) => {
      s.sql("""
        SELECT o_orderpriority, count(*) AS n
        FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM customer
                            WHERE c_acctbal > 9000)
          AND o_orderkey IN (SELECT l_orderkey FROM lineitem
                             WHERE l_quantity > 45)
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")
    }),

    // SqlQuidemTest full_outer_constant_project: a constant project on the
    // null-extended side of a FULL OUTER JOIN must null out for unmatched
    // rows (the reference's DruidJoinRule hoisting case)
    "q_qa_full_outer_const_project" -> ((s, dir) => {
      s.sql("""
        SELECT l.a, r.tag
        FROM (SELECT * FROM VALUES ('abc'), ('xyz') AS v(a)) l
        FULL JOIN (SELECT k, 42 AS tag
                   FROM (SELECT * FROM VALUES ('abc'),
                         (CAST(NULL AS STRING)) AS v(k)) t) r
          ON l.a = r.k
        ORDER BY a NULLS FIRST, tag""")
    }),

    // SqlQuidemTest union_removed_branch_union_nulls: a UNION ALL whose
    // first branch is pruned to empty by a contradictory time filter and
    // whose second is a bare NULL row — type coercion across the union
    // must keep the (BIGINT, STRING) shape
    "q_qa_union_null_branch" -> ((s, dir) => {
      s.sql("""
        (SELECT CAST(count(*) AS BIGINT) AS c, o_orderstatus AS ch FROM orders
         WHERE o_orderdate >= DATE '2030-01-01' GROUP BY o_orderstatus)
        UNION ALL
        (SELECT NULL, NULL)
        ORDER BY c NULLS FIRST, ch""")
    }),

    "q_qa_nested_groupby_agg" -> ((s, dir) => {
      s.sql("""
        SELECT pri_class, CAST(count(*) AS BIGINT) AS n_groups,
               CAST(sum(n) AS BIGINT) AS total
        FROM (SELECT substring(o_orderpriority, 1, 1) AS pri_class,
                     o_orderpriority, count(*) AS n
              FROM orders WHERE o_orderstatus = 'O'
              GROUP BY o_orderpriority)
        GROUP BY pri_class ORDER BY pri_class""")
    }),

    "q_qa_subq_extraction_fn" -> ((s, dir) => {
      s.sql("""
        SELECT substring(o_orderpriority, 3, 1) AS p, CAST(count(*) AS BIGINT) AS n
        FROM orders
        WHERE substring(o_orderpriority, 3, 1)
                IN (SELECT substring(c_mktsegment, 1, 1) FROM customer)
        GROUP BY substring(o_orderpriority, 3, 1)
        ORDER BY p""")
    }),

    // ------------------------------------------- qaSql scalar batteries ----
    // (reference quidem-ut qaSql/scalar_*.iq: per-datatype operator
    // batteries — comparison/pattern/set ops over computed strings, math
    // identities, greatest/least null-skipping, druid time fns vs ANSI
    // derivations, null-handling fns, ipv4 fns — ported from the kttm
    // fixture onto the events table; each predicate battery must hold for
    // every row, so the oracle pins the engine's operator semantics)
    "q_qa_sql_string_battery" -> ((s, dir) => {
      s.sql("""
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
               AND '1'||event_type NOT IN ('0'||event_type, '2'||event_type)))""")
    }),

    "q_qa_sql_numeric_battery" -> ((s, dir) => {
      s.sql("""
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
                BETWEEN 0.999999 AND 1.000001""")
    }),

    "q_qa_sql_reduction" -> ((s, dir) => {
      s.sql("""
        SELECT CAST(count(*) AS BIGINT) AS cnt,
               round(sum(greatest(value, 0.5)), 3) AS g_sum,
               round(sum(least(value, 0.5)), 3) AS l_sum,
               CAST(count(CASE WHEN greatest(value, CAST(NULL AS DOUBLE)) = value
                           THEN 1 END) AS BIGINT) AS g_skipnull,
               CAST(count(CASE WHEN least(value, CAST(NULL AS DOUBLE)) = value
                           THEN 1 END) AS BIGINT) AS l_skipnull
        FROM events""")
    }),

    "q_qa_sql_datetime_battery" -> ((s, dir) => {
      s.sql("""
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
        FROM events""")
    }),

    "q_qa_sql_other_battery" -> ((s, dir) => {
      s.sql("""
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
        FROM events""")
    }),

    "q_qa_sql_ipv4_battery" -> ((s, dir) => {
      s.sql("""
        SELECT CAST(count(CASE WHEN IPV4_MATCH(ip, '10.0.0.0/8') THEN 1 END) AS BIGINT) AS n_match,
               CAST(count(CASE WHEN IPV4_STRINGIFY(IPV4_PARSE(ip)) = ip THEN 1 END) AS BIGINT) AS n_rt,
               CAST(sum(IPV4_PARSE(ip) % 256) AS BIGINT) AS sum_last
        FROM (SELECT '10.' || CAST(user_id % 256 AS STRING) || '.0.' ||
                     CAST(1 + user_id % 200 AS STRING) AS ip
              FROM events)""")
    }),

    // ----------------------------------------------------------- search (§2.11)
    "q_search" -> ((s, dir) => {
      NQ.search(t(s, dir)("part"), Seq("p_brand", "p_type"), "bra")
    }),

    "q_segment_metadata" -> ((s, dir) => {
      NQ.segmentMetadata(t(s, dir)("lineitem"),
        Seq("l_returnflag", "l_linestatus", "l_partkey"))
        .withColumnRenamed("column", "col_name")
    }),

    // ----------------------------------------------- SQL façade (§3.1, §2.9)
    "q_sql_surface" -> ((s, dir) => {
      s.sql("""
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n,
               SAFE_DIVIDE(CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS DOUBLE),
                           CAST(count(*) AS DOUBLE)) AS f_ratio,
               TIME_FORMAT(min(o_orderdate), 'yyyy-MM') AS first_month
        FROM orders
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority""")
    }),

    "q_sql_earliest" -> ((s, dir) => {
      // SQL EARLIEST/LATEST/EARLIEST_BY/LATEST_BY aggregates (reference
      // EarliestLatestAnySqlAggregator) — injected MinBy/MaxBy, keyed on a
      // unique ordering column for cross-engine determinism
      s.sql("""SELECT o_orderpriority,
                      earliest(o_totalprice, o_orderkey) AS first_price,
                      latest(o_orderstatus, o_orderkey) AS last_status,
                      earliest_by(o_orderstatus, o_orderkey) AS first_status,
                      latest_by(o_totalprice, o_orderkey) AS last_price
               FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")
    }),

    "q_sql_ref_compat" -> ((s, dir) => {
      // round-5 reference-SQL compat additions: REGEXP_EXTRACT with group-0
      // default + NULL on no match, DIV integer division, IPV4_MATCH CIDR
      s.sql("""
        SELECT o_orderkey,
               regexp_extract(o_orderpriority, '[0-9]+') AS prio_num,
               regexp_extract(o_orderstatus, '[0-9]+') AS no_match,
               DIV(o_orderkey, 7) AS sevenths,
               IPV4_MATCH(concat('10.', CAST(o_orderkey % 64 AS STRING), '.0.1'),
                          '10.32.0.0/11') AS in_subnet
        FROM orders WHERE o_orderkey < 500 ORDER BY o_orderkey""")
    }),

    "q_sql_api_params" -> ((s, dir) => {
      // SQL-over-HTTP payload (reference POST /druid/v2/sql, SqlQuery.java):
      // typed positional ? parameters bound JDBC-style outside quoted regions
      graft.api.SqlApi.run(s, dir, """{
        "query": "SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n, CAST(sum(o_totalprice) AS DOUBLE) AS rev FROM orders WHERE o_orderstatus = ? AND o_totalprice > ? GROUP BY o_orderpriority ORDER BY o_orderpriority",
        "parameters": [{"type": "VARCHAR", "value": "F"},
                       {"type": "DOUBLE", "value": 50000.0}],
        "context": {"sqlQueryId": "gate-params"}
      }""")
    }),

    "q_jdbc_cursor" -> ((s, dir) => {
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
    }),

    "q_sql_api_insert" -> ((s, dir) => {
      // SQL ingestion through the API (reference DruidSqlInsert/MSQ):
      // INSERT INTO … PARTITIONED BY DAY CLUSTERED BY, read back via SQL.
      // Fresh warehouse target per run so the append-mode INSERT stays
      // deterministic
      val wh = s"${System.getProperty("java.io.tmpdir")}/graft_wh_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_")
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(s"$wh/api_ins"))
      s.conf.set("spark.graft.warehouse", wh)
      graft.api.SqlApi.run(s, dir, """{
        "query": "INSERT INTO api_ins SELECT ts AS __time, event_type, user_id, value FROM events PARTITIONED BY DAY CLUSTERED BY event_type"
      }""")
      graft.api.SqlApi.run(s, dir, """{
        "query": "SELECT event_type, CAST(count(*) AS BIGINT) AS n, round(sum(value), 3) AS sum_value FROM api_ins GROUP BY event_type ORDER BY event_type"
      }""")
    }),

    "q_sql_api_extern" -> ((s, dir) => {
      // MSQ EXTERN table function: read external csv with a typed signature
      // (reference msq/sql ExternalOperatorConversion)
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_extern_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_")
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
    }),

    "q_sql_api_append" -> ((s, dir) => {
      // TABLE(APPEND(...)) through the SQL API: schema-merging union
      graft.api.SqlApi.run(s, dir, """{
        "query": "SELECT CAST(count(*) AS BIGINT) AS n, CAST(count(n_name) AS BIGINT) AS nations, CAST(count(r_name) AS BIGINT) AS regions FROM TABLE(APPEND('nation','region'))"
      }""")
    }),

    "q_sql_statements" -> ((s, dir) => {
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
    }),

    "q_sql_api_unnest" -> ((s, dir) => {
      // the reference's correlated-unnest SQL surface (CROSS JOIN UNNEST,
      // DruidCorrelateUnnestRel) through the SQL API's dialect translation
      graft.api.SqlApi.run(s, dir, """{
        "query": "SELECT w AS word, CAST(count(*) AS BIGINT) AS n FROM documents CROSS JOIN UNNEST(split(text, ' ')) AS t (w) WHERE lang = ? AND w <> '' GROUP BY w HAVING count(*) > 3 ORDER BY n DESC, word LIMIT 20",
        "parameters": [{"type": "VARCHAR", "value": "en"}]
      }""")
    }),

    "q_sql_mv_funcs" -> ((s, dir) => {
      // MV_* / ARRAY_* SQL surface (reference
      // MultiValueStringOperatorConversions.java): offsets 0-based,
      // ordinals 1-based, set-add sorted-distinct
      s.sql("""
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
        ORDER BY p_partkey""")
    }),

    "q_sql_scalar_funcs" -> ((s, dir) => {
      // scalar SQL surface: TEXTCAT/STRPOS/TRUNCATE, BITWISE_*, TIME_CEIL,
      // TIME_IN_INTERVAL, IPV4_* (reference Function.java + builtin
      // operator conversions)
      s.sql("""
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
        FROM orders WHERE o_orderkey < 1000 ORDER BY o_orderkey""")
    }),

    "q_sql_format_funcs" -> ((s, dir) => {
      // round-5 SQL-surface widening: STRING_FORMAT (variadic, printf),
      // PARSE_LONG with radix, TIME_EXTRACT units, and the DECIMAL unit
      // system of the human-readable family (reference Function.java
      // SizeFormatFunc + TimestampExtractExprMacro). The PARSE_LONG hex
      // round-trip proves radix parsing without a DuckDB base-conv oracle;
      // the three hr_* columns pin each CASE branch with tie-free decimals.
      s.sql("""
        SELECT o_orderkey,
               STRING_FORMAT('%s #%05d', o_orderpriority, o_orderkey) AS tag,
               PARSE_LONG(STRING_FORMAT('%x', o_orderkey), 16) AS hex_roundtrip,
               PARSE_LONG(o_orderpriority) AS not_a_number,
               TIME_EXTRACT(CAST(o_orderdate AS TIMESTAMP), 'DOW') AS dow,
               TIME_EXTRACT(CAST(o_orderdate AS TIMESTAMP), 'DOY') AS doy,
               HUMAN_READABLE_DECIMAL_FORMAT(o_orderkey) AS hr_small,
               HUMAN_READABLE_DECIMAL_FORMAT(o_orderkey * 1000) AS hr_k,
               HUMAN_READABLE_DECIMAL_FORMAT(o_orderkey * 1000000) AS hr_m
        FROM orders WHERE o_orderkey < 1000 ORDER BY o_orderkey""")
    }),

    // ------------------------------------------------------ streaming (§2.10)
    "q_stream_rollup" -> ((s, dir) => {
      // same ns-parquet handling as Tables.load, in streaming form; the file
      // stream source needs a glob (directory-style) path, not a bare file
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      val stream = Tables.normalizeTs(
        StreamingIngest.source(s, s"$dir/events*.parquet", schema))
      StreamingIngest.runBounded(s, stream, "ts", "1 hour",
        Seq("event_type"), queryName = "stream_rollup_out")
        .select(col("bucket"), col("event_type"), col("n"),
          round(col("sum_value"), 3).as("sum_value"))
        .orderBy(col("bucket"), col("event_type"))
    }),

    "q_stream_enrich" -> ((s, dir) => {
      // ingest-time transform + lookup (reference transformSpec lookup()):
      // derive a dimension key per event, enrich the stream against a
      // broadcast nation snapshot, then rollup by the looked-up name — the
      // stream never shuffles for the join
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      val stream = Tables.normalizeTs(
        StreamingIngest.source(s, s"$dir/events*.parquet", schema))
        .withColumn("nk", pmod(col("user_id"), lit(25)))
      val dim = Tables.load(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"))
      val enriched = StreamingIngest.enrich(stream, dim,
        col("nk") === col("n_nationkey"))
      StreamingIngest.runBoundedAgg(s,
        StreamingIngest.rollup(enriched, "ts", "1 day", Seq("n_name")),
        queryName = "stream_enrich_out")
        .select(col("bucket"), col("n_name"), col("n"),
          round(col("sum_value"), 3).as("sum_value"))
        .orderBy(col("bucket"), col("n_name"))
    }),

    "q_sql_json_funcs" -> ((s, dir) => {
      // quidem qaJsonCols funcs_and_sql_func_json_{keys,object,paths,query}:
      // the JSON function battery over the stored props column
      // array-typed results ride as comma-joined strings: the driver's pandas
      // comparator cannot hash ndarray cells (r7 red gate)
      s.sql(
        """SELECT event_id,
                  array_join(JSON_KEYS(props, '$'), ',') AS ks,
                  array_join(JSON_PATHS(props), ',') AS ps,
                  JSON_QUERY(props, '$.k') AS qk,
                  JSON_OBJECT('a', CAST(event_id AS STRING)) AS obj,
                  JSON_VALUE(props, '$.k') AS v
           FROM events WHERE event_id < 100
           ORDER BY event_id""")
    }),

    "q_sql_pivot" -> ((s, dir) => {
      // reference experimental PIVOT (sql.md:90): rows→columns with an
      // aggregate per pivoted value; one shared standard-syntax text
      s.sql(
        """SELECT * FROM (SELECT o_orderstatus, o_orderpriority FROM orders)
           PIVOT (count(*) FOR o_orderstatus IN ('O' AS o, 'F' AS f, 'P' AS p))
           ORDER BY o_orderpriority""")
    }),

    "q_sql_unpivot" -> ((s, dir) => {
      // reference experimental UNPIVOT (sql.md:61): columns→rows
      s.sql(
        """SELECT o_orderpriority, status, n FROM (
             SELECT o_orderpriority,
                    count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS open_n,
                    count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS done_n
             FROM orders GROUP BY o_orderpriority) t
           UNPIVOT (n FOR status IN (open_n, done_n))
           ORDER BY o_orderpriority, status""")
    }),

    "q_stream_sessionize" -> ((s, dir) => {
      // the custom-state streaming op, ORACLE-verified cross-paradigm: the
      // streaming flatMapGroupsWithState sessionizer over a file stream
      // must equal the batch gaps-and-islands SQL DuckDB runs. PER-KEY
      // far-future sentinel rows ride in the SAME micro-batch as the data
      // (r21, guide §1.2 — remove passes): each user's sorted in-batch run
      // ends with a sentinel whose gap exceeds the threshold, so every real
      // session closes and is emitted IN the data batch, and no event-time
      // timeout flush is ever needed. The old shape (single sentinel key
      // in its own maxFilesPerTrigger=1 batch + a timeout-flush batch) ran
      // THREE state-store passes where the work fits in one; the only
      // remaining extra batch is Spark's standard no-data batch after the
      // watermark advance, which finds no expired timeouts and emits
      // nothing. Sentinel-opened sessions never close, so they are never
      // emitted (append mode emits closed sessions only).
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = s.read.parquet(s"$dir/events.parquet")
      // per-sf-dir staging: concurrent driver JVMs on different scale
      // factors must not clobber each other's stream input
      val staging = s"/tmp/graft_stream_sessionize_${dir.hashCode.abs}"
      val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(staging), true)
      // the data file is the ORIGINAL immutable parquet file, symlinked —
      // copying the fact table through coalesce(1) was the gate's entire
      // cost before r19
      new java.io.File(s"$staging/b0").mkdirs()
      java.nio.file.Files.createSymbolicLink(
        java.nio.file.Paths.get(s"$staging/b0/events.parquet"),
        java.nio.file.Paths.get(s"$dir/events.parquet"))
      // the sentinel's ts must be written in the SAME vintage as the raw
      // file (the stream reads both b0 and b1 under raw.schema), so push
      // the +365d arithmetic into the raw ts domain: nanos-long stays
      // integer math, timestamp/NTZ stays timestamp + interval. ONE GLOBAL
      // far-future instant shared by every user's sentinel: per-user
      // maxima would spread the sentinels across > the 30 min gap, and the
      // no-data batch's watermark (global max − 1 min) would TIME OUT the
      // earlier users' sentinel-opened sessions and emit them as phantom
      // rows (measured: +143 rows at sf0.01).
      val farFuture = raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          (max(col("ts")) + lit(365L * 86400 * 1000000000L)).as("ts")
        case _ =>
          (max(col("ts")) + expr("INTERVAL 365 DAYS")).as("ts")
      }
      raw.select(col("user_id")).distinct()
        .crossJoin(broadcast(raw.agg(farFuture)))
        .select(
          lit(-1L).as("event_id"),
          col("ts"),
          col("user_id"),
          lit("__sentinel__").as("event_type"),
          lit(0.0).as("value"),
          lit(null).cast("string").as("props"))
        .coalesce(1).write.parquet(s"$staging/b1")
      // no maxFilesPerTrigger: both files land in ONE micro-batch
      val stream = Tables.normalizeTs(
        s.readStream.schema(raw.schema)
          .parquet(s"$staging/b*/*.parquet"))
      val sessions = StreamingIngest.sessionize(stream, "ts", "user_id",
        gapMinutes = 30, watermark = "1 minutes")
      // the sentinel design closes every emittable session IN the data
      // batch, so the standard post-watermark no-data batch (which exists
      // to fire event-time timeouts) can only scan state and emit nothing
      // — measured 0.8-2.0 s of pure state-store machinery per run. Skip
      // it, scoped to this query; the setting is scale-independent (the
      // bounded sentinel pattern needs no timeout flush at any SF).
      val NoDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"
      val prevNoData = s.conf.getOption(NoDataKey)
      s.conf.set(NoDataKey, "false")
      val q =
        try sessions.writeStream.outputMode("append").format("memory")
          .queryName("stream_sessionize_out").start()
        finally prevNoData match {
          case Some(v) => s.conf.set(NoDataKey, v)
          case None    => s.conf.unset(NoDataKey)
        }
      q.processAllAvailable(); q.stop()
      s.table("stream_sessionize_out")
        .select(col("key"),
          date_trunc("second", col("session_start")).as("session_start"),
          date_trunc("second", col("session_end")).as("session_end"),
          col("n_events"))
        .orderBy(col("key"), col("session_start"))
    }),

    "q_json_shred" -> ((s, dir) => {
      // nested-column shredding at ingest: infer the props schema from a
      // sample, from_json into a typed struct, and aggregate on the typed
      // leaf — the shredded field behaves as a real numeric column
      val shredded = graft.operators.Ingest.shredJson(
        t(s, dir)("events"), "props", "props_t")
      shredded
        .groupBy(col("event_type"))
        .agg(count(col("props_t.k")).as("n_k"),
          sum(col("props_t.k")).as("sum_k"),
          max(col("props_t.k")).as("max_k"))
        .orderBy(col("event_type"))
    }),

    "q_inflight_union" -> ((s, dir) => {
      // queryable-in-flight data (reference StreamAppenderator.java:119):
      // ingest the whole events stream into the STAGING tier, then query
      // the realtime ∪ historical view while nothing has been published —
      // the aggregate must match the batch table exactly, proving the
      // in-flight tier serves complete data before handoff
      import graft.streaming.StreamingIngest
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_inflight_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_")
      val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      val stream = StreamingIngest.source(s, s"$dir/events*.parquet", schema)
      val q = StreamingIngest.Appenderator.start(stream, s"$base/staging", s"$base/ckpt")
      q.awaitTermination()
      Tables.normalizeTs(StreamingIngest.Appenderator
        .view(s, s"$base/committed", s"$base/staging", schema))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 3).as("sum_value"))
        .orderBy(col("event_type"))
    }),

    // ------------------------------------------- dedup (training pipeline)
    "q_dedup_exact_groups" -> ((s, dir) => {
      Dedup.exactGroups(t(s, dir)("documents"), col("text"), col("doc_id"))
        .orderBy(col("keep_id"))
    }),

    "q_dedup_exact_rows" -> ((s, dir) => {
      Dedup.exact(t(s, dir)("documents"), col("text"), col("doc_id"))
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    "q_dedup_minhash" -> ((s, dir) => {
      // MinHash-LSH candidates are hash-dependent, but their QUALITY is
      // oracle-checkable: the truth set (exact 3-shingle jaccard >= 0.5 via
      // shared-gram counting, no blocking — a verification artifact, not
      // the scale path) is deterministic SQL both engines run. Output = one
      // row per TRUE pair with its exact jaccard, `detected` (LSH found
      // it) and a global `fp_ok` (no found pair has exact jaccard < 0.3);
      // the oracle emits the same rows with TRUE booleans → full hash
      // verification of recall AND precision bounds.
      val docs = t(s, dir)("documents")
      // truth join keys on xxhash64(gram), not the gram STRING: the
      // self-join then shuffles 8-byte longs instead of ~30-50-byte grams
      // (guide §2.3 — shuffle fewer bytes), the same trade the
      // contamination operators made in r20 (collision odds ~n²/2⁶⁴,
      // documented there). r20 reverted this on a reading taken in a
      // known load-drift window; r21 re-adjudication on an idle box,
      // min-of-3 interleaved A/B in ONE JVM: hashed 1.433 s vs string
      // 1.655 s — hashed wins and the margin grows with gram width at
      // corpus scale. Counts are unchanged (distinct grams → distinct
      // hashes), so i/(sz_a+sz_b-i) is the same IEEE division.
      val grams = Dedup.shingleRows(docs, "doc_id", "text", 3)
        .select(col("id"), xxhash64(col("sh")).as("sh"))
      val sizes = grams.groupBy(col("id")).agg(count(lit(1)).as("sz"))
      val inter = grams.select(col("id").as("id_a"), col("sh"))
        .join(grams.select(col("id").as("id_b"), col("sh")), Seq("sh"))
        .filter(col("id_a") < col("id_b"))
        .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("i"))
      val jac = inter
        .join(sizes.select(col("id").as("id_a"), col("sz").as("sz_a")), "id_a")
        .join(sizes.select(col("id").as("id_b"), col("sz").as("sz_b")), "id_b")
        .select(col("id_a"), col("id_b"), (col("i").cast("double") /
          (col("sz_a") + col("sz_b") - col("i"))).as("j"))
      val truth = jac.filter(col("j") >= 0.5)
      val found = Dedup.minHashLsh(docs, "doc_id", "text",
        shingleSize = 3, numHashes = 64, numBands = 16, threshold = 0.4)
      val fpOk = found.join(jac, Seq("id_a", "id_b"), "left")
        .agg((count(when(coalesce(col("j"), lit(0.0)) < 0.3, 1)) === 0)
          .as("fp_ok"))
      // Per-pair detection is asserted only for CLEAR-MARGIN pairs
      // (j >= 0.6, where 16 bands × 4 rows detects with p > 0.9);
      // near-threshold pairs (0.5 <= j < 0.6, per-pair p ≈ 0.64) are
      // covered by an aggregate recall floor instead — asserting each
      // would redden on any data/seed change with no code bug.
      val hits = truth.join(found.select(col("id_a"), col("id_b"),
          lit(true).as("detected")), Seq("id_a", "id_b"), "left")
      val recallOk = hits.agg(
        (count(when(col("detected"), 1)).cast("double") / count(lit(1)) >= 0.6)
          .as("recall_ok"))
      hits.crossJoin(broadcast(fpOk)).crossJoin(broadcast(recallOk))
        .select(col("id_a"), col("id_b"), round(col("j"), 6).as("jaccard"),
          (coalesce(col("detected"), lit(false)) || col("j") < 0.6)
            .as("detected_ok"),
          col("recall_ok"), col("fp_ok"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    "q_dedup_simhash" -> ((s, dir) => {
      // 64-bit simhash near-dup pairs over same-source blocks, TWO-STAGE
      // (Dedup.simHashPairs): hamming<=12 prefilter, then exact 3-shingle
      // Jaccard >= 0.3 verification of the survivors — the permissive
      // hamming radius keeps recall (near-identical docs flip only a few
      // token hashes) while the verify stage structurally removes its false
      // positives. Oracle-checked like q_dedup_minhash: truth = same-source
      // pairs with exact jaccard >= 0.5, each must be detected; fp bound =
      // no found pair below exact jaccard 0.3 (now enforced by
      // construction, still asserted so a verify-stage regression reddens).
      val docs = t(s, dir)("documents")
      val found = Dedup.simHashPairs(docs, "doc_id", "text",
        blockKey = col("source"), maxHamming = 12, minJaccard = 0.3)
      // Truth-side exact jaccard (r20 opt, guide §2.3/§3): per-doc SORTED
      // gram-hash arrays + same-source pair join with the codegen'd
      // two-pointer intersection — replaces the gram-row self-join on
      // (sh-string, src) whose string shuffle + per-gram fan-out measured
      // 2.2 s; this form measures 1.2 s with bit-identical output (the
      // intersection/size counts are the same integers, so i/(sz_a+sz_b-i)
      // is the same IEEE division; hash collisions would need two distinct
      // grams of one doc pair to collide in xxhash64 — ~n²/2⁶⁴).
      val g = Dedup.shingleRows(docs, "doc_id", "text", 3,
          carry = Seq("source"), distinctRows = false)
        .groupBy(col("id"), col("source"))
        .agg(array_sort(collect_set(xxhash64(col("sh")))).as("grams"))
      val gl = g.select(col("source").as("src"), col("id").as("id_a"),
        col("grams").as("g_a"))
      val gr = g.select(col("source").as("src"), col("id").as("id_b"),
        col("grams").as("g_b"))
      val interCnt = graft.functions.VectorMath
        .sortedIntersectCount(col("g_a"), col("g_b")).cast("double")
      val unionCnt = size(col("g_a")) + size(col("g_b")) - interCnt
      // source is the JOIN KEY (truth pairs are same-source by definition),
      // size-gated like every other block self-join
      val jac = Joins.boundedBlockJoin(gl, gr, Seq("src"), saltBy = col("id_a"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), (interCnt / unionCnt).as("j"))
      val truth = jac.filter(col("j") >= 0.5)
      val fpOk = found.join(jac, Seq("id_a", "id_b"), "left")
        .agg((count(when(coalesce(col("j"), lit(0.0)) < 0.3, 1)) === 0)
          .as("fp_ok"))
      truth.join(found.select(col("id_a"), col("id_b"),
          lit(true).as("detected")), Seq("id_a", "id_b"), "left")
        .crossJoin(broadcast(fpOk))
        .select(col("id_a"), col("id_b"), round(col("j"), 6).as("jaccard"),
          coalesce(col("detected"), lit(false)).as("detected"), col("fp_ok"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    "q_dedup_ngram_jaccard" -> ((s, dir) => {
      // block on (source, length-bucket): high-Jaccard pairs have similar
      // lengths, so this prunes the pair space without losing true matches
      Dedup.ngramJaccardPairs(t(s, dir)("documents"), "doc_id", "text",
        blockKey = concat_ws("#", col("source"),
          floor(col("n_chars") / 50).cast("long")),
        shingleSize = 3, threshold = 0.2)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    "q_dedup_fuzzy" -> ((s, dir) => {
      // Jaro-Winkler fuzzy dedup within p_brand blocks
      Dedup.fuzzyPairs(t(s, dir)("part"), "p_partkey", "p_name",
        blockKey = col("p_brand"), threshold = 0.92)
        .select(col("id_a"), col("id_b"), round(col("jw"), 6).as("jw"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ------------------------------------- text analysis (training pipeline)
    "q_text_profile" -> ((s, dir) => {
      TextAnalysis.profile(t(s, dir)("documents"), "doc_id", "text")
        .select(col("doc_id"), col("n_chars"), col("n_tokens"),
          col("n_stopwords"), round(col("mean_token_len"), 6).as("mean_token_len"),
          round(col("quality"), 6).as("quality"), col("pred_lang"), col("fp"))
        .orderBy(col("doc_id"))
    }),

    "q_text_quality_filter" -> ((s, dir) => {
      // attributes-stage quality filter: verdict + violated-rule list per
      // doc (Gopher thresholds over the shared metric definitions); the
      // oracle recomputes every rule from the same formulas
      TextAnalysis.spreadInput(t(s, dir)("documents"))
        .select(col("doc_id"),
          TextAnalysis.qualityFilter(col("text")).as("reasons"))
        .select(col("doc_id"),
          (size(col("reasons")) === 0).as("passed"),
          array_join(col("reasons"), "|").as("why"))
        .orderBy(col("doc_id"))
    }),

    "q_text_redact" -> ((s, dir) => {
      // PII-style scrubbing pass (training-data hygiene): mask digit runs
      // and email-shaped tokens, report how much changed
      val masked = regexp_replace(
        regexp_replace(col("text"), "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+", "<EMAIL>"),
        "[0-9]{3,}", "<NUM>")
      TextAnalysis.spreadInput(t(s, dir)("documents"))
        .select(col("doc_id"),
          length(col("text")).cast("long").as("len_raw"),
          length(masked).cast("long").as("len_masked"),
          (length(masked) =!= length(col("text"))).as("changed"))
        .orderBy(col("doc_id"))
    }),

    "q_dedup_contamination" -> ((s, dir) => {
      // benchmark decontamination: probe docs whose 8-grams collide with
      // the corpus (the synthetic corpus contains near-duplicates, so the
      // overlap is non-trivial)
      val docs = t(s, dir)("documents")
      graft.pipeline.Dedup.ngramContamination(
          docs.filter(pmod(col("doc_id"), lit(10)) < 8),
          docs.filter(pmod(col("doc_id"), lit(10)) >= 8),
          "doc_id", "text", n = 8)
        .orderBy(col("doc_id"))
    }),

    "q_sample_stratified" -> ((s, dir) => {
      // stratified deterministic sampling (dataset mixing: per-language keep
      // rates, reproducible across engines/runs — Sampling.stratified)
      graft.pipeline.Sampling.stratified(t(s, dir)("documents"),
          "doc_id", "lang", Map("en" -> 0.5, "de" -> 0.1), defaultRate = 0.02)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
        .orderBy(col("lang"))
    }),

    "q_sample_temperature" -> ((s, dir) => {
      // temperature-scaled dataset mixing (alpha = 0.5 upsamples tail
      // languages relative to head ones; Sampling.temperatureSample).
      // Per-stratum rates ∝ size^(alpha-1), rounded to 6 dp so the oracle's
      // SQL recomputation hits the identical hash threshold.
      graft.pipeline.Sampling.temperatureSample(t(s, dir)("documents"),
          "doc_id", "lang", alpha = 0.5, rate = 0.3)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
        .orderBy(col("lang"))
    }),

    "q_dedup_contamination_score" -> ((s, dir) => {
      // contamination FRACTION per probe doc (matched / total distinct
      // 8-grams) — clean docs stay visible at score 0.0 so a threshold
      // filter can act on the full probe set
      val docs = t(s, dir)("documents")
      graft.pipeline.Dedup.contaminationScore(
          docs.filter(pmod(col("doc_id"), lit(10)) < 8),
          docs.filter(pmod(col("doc_id"), lit(10)) >= 8),
          "doc_id", "text", n = 8)
        .orderBy(col("doc_id"))
    }),

    "q_text_unicode" -> ((s, dir) => {
      // unicode string-function robustness: multi-byte, combining-accent,
      // CJK and surrogate-pair (emoji) inputs through length/upper/reverse/
      // substring — code-point semantics on both engines
      import s.implicits._
      Seq("héllo wörld", "中文字符串", "emoji 👍🎉 test",
          "Ñandú crème brûlée", "русский текст")
        .toDF("t")
        .select(col("t"), length(col("t")).cast("long").as("n_chars"),
          upper(col("t")).as("up"), reverse(col("t")).as("rev"),
          substring(col("t"), 2, 3).as("sub"))
        .orderBy(col("t"))
    }),

    "q_pack_sequences" -> ((s, dir) => {
      // concat-then-split sequence packing (Packing.packSequences):
      // documents laid on one global token tape in doc_id order, cut into
      // 512-token training sequences; each doc's (seq_id, seq_offset) comes
      // from a two-phase DISTRIBUTED prefix sum (range partition →
      // per-partition totals → broadcast offsets), never a single-partition
      // global window. The oracle recomputes the same arithmetic with a
      // plain global cumsum.
      graft.pipeline.Packing.packSequences(
          t(s, dir)("documents"), "doc_id", "text", maxTokens = 512)
        .orderBy(col("doc_id"))
    }),

    "q_text_bpe_merges" -> ((s, dir) => {
      // deterministic BPE merge-table training (pipeline.Bpe.train): 10
      // rounds of pair-count aggregates over the word VOCABULARY (never
      // the corpus), ties broken (count DESC, pair ASC) — the oracle
      // replays the identical 10 rounds in SQL and must produce the same
      // merge table symbol for symbol
      import s.implicits._
      val merges = Bpe.train(t(s, dir)("documents"), "text", numMerges = 10)
      merges.zipWithIndex
        .map { case ((a, b), i) => (i.toLong + 1, a, b) }
        .toDF("merge_rank", "lhs", "rhs")
        .orderBy(col("merge_rank"))
    }),

    "q_text_bpe" -> ((s, dir) => {
      // subword token budgeting: per-document whitespace vs BPE token
      // counts under the 10-merge table trained on the same corpus. The
      // merge chain applies to DISTINCT words only (vocabulary-sized), then
      // one join + aggregate produce per-doc counts.
      val docs = t(s, dir)("documents")
      val merges = Bpe.train(docs, "text", numMerges = 10)
      Bpe.tokenCounts(docs, "doc_id", "text", merges)
        .orderBy(col("doc_id"))
    }),

    "q_pipeline_e2e" -> ((s, dir) => {
      // END-TO-END curation pipeline in ONE DataFrame plan — the composed
      // form of the solo-gated operators (a real pretraining data flow):
      //   1. canonicalizeUrl on a synthesized messy provenance URL; doc
      //      pairs (2k, 2k+1) share a canonical location → URL dedup keeps
      //      the min doc_id per canonical URL
      //   2. exact content dedup (md5 of raw text, keep min id)
      //   3. near-dup removal: MinHash-LSH candidates (threshold 0.4)
      //      exact-verified on the CANDIDATE PAIRS ONLY (true 3-shingle
      //      jaccard >= 0.5), connected-component families, keep the min
      //      id of each family (all true pairs in this corpus sit at
      //      j >= 0.9 where 16x4 LSH detection is deterministic-in-practice,
      //      so the oracle's exhaustive truth set matches)
      //   4. decontamination: drop docs sharing any raw 8-gram with the
      //      benchmark probe set (doc_id % 97 == 0) — contaminationScore
      //      with corpus=probe, probe=survivors
      //   5. Gopher-style quality filter (zero violations pass)
      //   6. packSequences onto 512-token training sequences
      // Scale shape: every stage is a hash-agg or size-gated join; the
      // corpus text never shuffles except the stage-1/2 key shuffles, and
      // pair verification only touches LSH candidates.
      val docs = t(s, dir)("documents")
      val id = col("doc_id")
      val url = concat(
        when(pmod(id, lit(2)) === 0, lit("HTTPS://Crawl")).otherwise(lit("https://crawl")),
        lit(".Example.COM"),
        when(pmod(id, lit(3)) === 0, lit(":443")).otherwise(lit("")),
        lit("/doc/"), floor(id / 2).cast("long").cast("string"),
        when(pmod(id, lit(2)) === 0, lit("/")).otherwise(lit("")),
        when(pmod(id, lit(2)) === 0, lit("?utm_source=x&ref=1"))
          .otherwise(lit("?ref=1&utm_campaign=c")),
        when(pmod(id, lit(4)) === 0, lit("#top")).otherwise(lit("")))
      val withUrl = docs.withColumn("curl", TextAnalysis.canonicalizeUrl(url))
      val urlKept = Dedup.exact(withUrl, col("curl"), col("doc_id"))
      // persist at the fan-out points: exactKept feeds the LSH signature
      // build, the pair verification, the family anti-join and the probe
      // scoring — without it the whole scan+dedup subtree re-executes per
      // consumer (12 corpus scans in the unpersisted plan, 2 with these;
      // on a cluster this would be a checkpoint to object storage)
      val exactKept = graft.pipeline.CacheScope.autoRelease(
        Dedup.exact(urlKept, md5(col("text")), col("doc_id"))
          .select(col("doc_id"), col("text")))
      val found = Dedup.minHashLsh(exactKept, "doc_id", "text",
        shingleSize = 3, numHashes = 64, numBands = 16, threshold = 0.4)
      val sh = exactKept.select(col("doc_id"),
        Dedup.shingles(col("text"), 3).as("sh"))
      val verified = found
        .join(sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), "id_a")
        .join(sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), "id_b")
        .filter(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))) >= 0.5)
        .select(col("id_a"), col("id_b"))
      val famKept = graft.pipeline.CacheScope.autoRelease(
        Dedup.dropDuplicateFamilies(exactKept, verified, "doc_id"))
      val probe = docs.filter(pmod(id, lit(97)) === 0)
        .select(col("doc_id"), col("text"))
      val scores = Dedup.contaminationScore(probe, famKept,
        "doc_id", "text", n = 8)
      val clean = famKept.join(
        scores.filter(col("matched") > 0).select(col("doc_id")),
        Seq("doc_id"), "left_anti")
      val passed = clean.filter(
        size(TextAnalysis.qualityFilter(col("text"))) === 0)
      graft.pipeline.Packing.packSequences(passed, "doc_id", "text",
          maxTokens = 512)
        .orderBy(col("doc_id"))
    }),

    "q_text_chunk" -> ((s, dir) => {
      // sliding-window token chunking to a model context length
      // (TextAnalysis.chunk): 50-token windows, 10-token overlap
      graft.pipeline.TextAnalysis.chunk(
          t(s, dir)("documents").filter(col("doc_id") < 2000),
          "doc_id", "text", chunkTokens = 50, overlap = 10)
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          col("chunk_text"), col("n_tokens").cast("long").as("n_tokens"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    "q_sample_hash" -> ((s, dir) => {
      // deterministic hash sampling (training pipelines need reproducible
      // splits): multiplicative-hash the key, keep ~10%; same arithmetic
      // is expressible in any engine, unlike rand()
      t(s, dir)("orders")
        .filter(pmod(col("o_orderkey") * lit(2654435761L), lit(4294967296L))
          < lit(429496730L))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("sum_price"))
        .orderBy(col("o_orderpriority"))
    }),

    "q_sample_cap_per_key" -> ((s, dir) => {
      // per-key quota cap (Dolma/C4-style per-domain document caps): at
      // most 5 docs per source, deterministic by doc_id — a single
      // key-shuffled window, the standard anti-domination pass at 100 TB
      Sampling.capPerKey(t(s, dir)("documents"), "source", 5, Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
        .orderBy(col("source"))
    }),

    "q_dedup_families" -> ((s, dir) => {
      // end-to-end corpus dedup: pair exact duplicates, cluster pairs into
      // families (connected components), keep the min-id representative of
      // each family plus all unpaired docs
      val docs = t(s, dir)("documents")
      val d = docs.select(col("doc_id"), md5(col("text")).as("h"))
      val a = d.select(col("h"), col("doc_id").as("id_a"))
      val b = d.select(col("h"), col("doc_id").as("id_b"))
      val pairs = a.join(b, Seq("h")).filter(col("id_a") < col("id_b"))
      Dedup.dropDuplicateFamilies(docs, pairs, "doc_id")
        .select(col("doc_id")).orderBy(col("doc_id"))
    }),

    "q_text_tokens" -> ((s, dir) => {
      TextAnalysis.spreadInput(t(s, dir)("documents"))
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
          size(TextAnalysis.roughTokens(col("text"))).cast("long").as("n_rough"),
          size(array_distinct(TextAnalysis.tokens(col("text")))).cast("long")
            .as("n_unique"))
        .orderBy(col("doc_id"))
    }),

    "q_text_fuzzy" -> ((s, dir) => {
      // native codegen'd Jaro-Winkler expression (fuzzy dedup primitive)
      import graft.functions.JaroWinklerImpl.jaroWinkler
      t(s, dir)("customer").filter(col("c_custkey") <= 300)
        .select(col("c_custkey"),
          round(jaroWinkler(col("c_name"), lit("Customer#000000042")), 6)
            .as("jw_to_42"),
          round(jaroWinkler(col("c_mktsegment"), lit("AUTOMOBILE")), 6)
            .as("jw_seg"))
        .orderBy(col("c_custkey"))
    }),

    "q_text_chunk_dedup" -> ((s, dir) => {
      // C4/Dolma span-dedup WITH REMOVAL: 10-token chunks seen in >= 2
      // distinct docs drop from every document (including the first
      // occurrence); the oracle rebuilds the surviving text independently
      // and the md5 must agree byte-for-byte
      TextAnalysis.removeDuplicateChunks(
        t(s, dir)("documents").filter(col("doc_id") < 100), "doc_id", "text")
        .select(col("doc_id"), col("n_chunks"), col("n_kept"),
          md5(col("cleaned")).as("cleaned_md5"))
        .orderBy(col("doc_id"))
    }),

    "q_text_url_canonical" -> ((s, dir) => {
      // URL canonicalization before crawl dedup: synthesized messy URLs
      // (mixed case, default ports, trailing slashes, tracking params,
      // fragments, unordered query params) collapse to canonical keys —
      // the oracle mirrors both the synthesis and every normalization rule
      val id = col("doc_id")
      val url = concat(
        when(pmod(id, lit(2)) === 0, lit("HTTP://Example")).otherwise(lit("http://example")),
        pmod(id, lit(5)).cast("string"), lit(".COM"),
        when(pmod(id, lit(3)) === 0, lit(":80")).otherwise(lit("")),
        lit("/path"), pmod(id, lit(7)).cast("string"),
        when(pmod(id, lit(2)) === 0, lit("/")).otherwise(lit("")),
        when(pmod(id, lit(2)) === 0, lit("?utm_source=x&b=2&a=1"))
          .otherwise(lit("?z=9&utm_campaign=c&a=1")),
        when(pmod(id, lit(4)) === 0, lit("#frag")).otherwise(lit("")))
      t(s, dir)("documents").filter(id < 200)
        .select(id, TextAnalysis.canonicalizeUrl(url).as("curl"))
        .groupBy(col("curl"))
        .agg(count(lit(1)).as("n"), min(id).as("first_id"))
        .orderBy(col("curl"))
    }),

    "q_text_fingerprint" -> ((s, dir) => {
      TextAnalysis.spreadInput(t(s, dir)("documents"))
        .select(col("doc_id"),
          TextAnalysis.fingerprint(col("text")).as("fp"),
          TextAnalysis.fingerprintPrefix(col("text"), 8).as("fp8"))
        .orderBy(col("doc_id"))
    }),

    "q_text_boilerplate" -> ((s, dir) => {
      // cross-document boilerplate spans: 5-grams shared by >= 3 docs
      TextAnalysis.boilerplateGrams(t(s, dir)("documents"),
        "doc_id", "text", n = 5, minDocs = 3)
        .orderBy(col("n_docs").desc, col("n_occurrences").desc, col("gram"))
        .limit(20)
    }),

    "q_text_repetition" -> ((s, dir) => {
      // Gopher-rule repetition filters: duplicated-trigram fraction and
      // top-trigram coverage per document
      TextAnalysis.repetitionSignals(t(s, dir)("documents"),
        "doc_id", "text", n = 3)
        .orderBy(col("doc_id"))
    }),

    // ------------------------------------------- similarity (training pipeline)
    "q_embed_knn" -> ((s, dir) => {
      val emb = t(s, dir)("embeddings")
      Similarity.bruteForceKnn(emb.filter(col("vec_id") < 5), emb,
        "vec_id", "embedding", k = 10)
        .select(col("q_id"), col("n_id"), round(col("sim"), 4).as("sim"))
        .orderBy(col("q_id"), col("n_id"))
    }),

    "q_embed_ann_lsh" -> ((s, dir) => {
      // LSH-bucketed ANN (multi-probe: own bucket + all Hamming-1 buckets):
      // buckets are hash-dependent, so the gate anchors on the exact
      // brute-force top-5 (deterministic, DuckDB-reproducible) and asserts
      // the ANN pass's recall against it as a boolean the oracle reproduces
      // as TRUE. Exact ranking rounds sims to 4dp BEFORE ranking (both
      // engines) so last-ulp float drift can't flip top-5 membership.
      val emb = t(s, dir)("embeddings")
      val qs = emb.filter(col("vec_id") < 50)
      val exact = Similarity.bruteForceKnn(qs, emb, "vec_id", "embedding",
        k = 5, rankRoundDigits = 4)
      val ann = Similarity.annLsh(qs, emb, "vec_id", "embedding",
        k = 5, numBits = 4)
      exact.join(ann.select(col("q_id"), col("n_id"), lit(1).as("__hit")),
          Seq("q_id", "n_id"), "left")
        .agg(count_distinct(col("q_id")).as("n_queries"),
          round(avg(round(col("sim"), 4)), 4).as("exact_mean_topk_sim"),
          ((sum(coalesce(col("__hit"), lit(0))).cast("double") /
            count(lit(1))) >= 0.25).as("recall_ok"))
    }),

    "q_embed_ann_ivf" -> ((s, dir) => {
      // IVF-partitioned ANN (k-means coarse quantizer + nprobe search) —
      // the scale path. Same oracle anchoring as q_embed_ann_lsh: exact
      // top-5 rows + an asserted recall bound (nprobe=4 of nlist=16 lists
      // probed → recall well above the floor; FunctionsSpec measures it).
      val emb = t(s, dir)("embeddings")
      val qs = emb.filter(col("vec_id") < 20)
      val exact = Similarity.bruteForceKnn(qs, emb, "vec_id", "embedding",
        k = 5, rankRoundDigits = 4)
      val ann = Similarity.annIvf(qs, emb, "vec_id", "embedding",
        k = 5, nlist = 16, nprobe = 4)
      exact.join(ann.select(col("q_id"), col("n_id"), lit(1).as("__hit")),
          Seq("q_id", "n_id"), "left")
        .agg(count_distinct(col("q_id")).as("n_queries"),
          round(avg(round(col("sim"), 4)), 4).as("exact_mean_topk_sim"),
          ((sum(coalesce(col("__hit"), lit(0))).cast("double") /
            count(lit(1))) >= 0.25).as("recall_ok"))
    }),

    "q_embed_ann_pq" -> ((s, dir) => {
      // product quantization ANN (the 100-TB memory path: m byte codes per
      // vector instead of dim floats; ADC search never decodes the
      // corpus). Oracle anchoring like q_embed_ann_ivf: exact top-5 rows +
      // an asserted recall floor. The synthetic embeddings are unclustered
      // (near-random directions) — PQ's hardest case — so the floor is
      // conservative; on clustered real corpora recall is far higher.
      val emb = t(s, dir)("embeddings")
      val qs = emb.filter(col("vec_id") < 20)
      // codebooks train on a deterministic 1/4 sample — the standard PQ
      // recipe (training cost is sample-sized, encode/search still cover
      // the full corpus; at 1B vectors nobody trains on all of them)
      // one Lloyd iteration suffices at this codebook size: the seeds are
      // real vectors, so iteration 2 moves the recall floor by noise while
      // doubling the (plan-compile-dominated) training cost of the gate
      val books = Similarity.pqTrain(
        emb.filter(pmod(col("vec_id"), lit(4)) === 0),
        "vec_id", "embedding", m = 8, k = 16, iters = 1)
      val codes = Similarity.pqEncode(emb, "vec_id", "embedding", books, m = 8)
      val ann = Similarity.pqSearch(qs, codes, books, "vec_id", "embedding",
        m = 8, k = 5)
      val exact = Similarity.bruteForceKnn(qs, emb, "vec_id", "embedding",
        k = 5, rankRoundDigits = 4)
      exact.join(ann.select(col("q_id"), col("n_id"), lit(1).as("__hit")),
          Seq("q_id", "n_id"), "left")
        .agg(count_distinct(col("q_id")).as("n_queries"),
          round(avg(round(col("sim"), 4)), 4).as("exact_mean_topk_sim"),
          ((sum(coalesce(col("__hit"), lit(0))).cast("double") /
            count(lit(1))) >= 0.15).as("recall_ok"))
    }),

    "q_expr_array" -> ((s, dir) => {
      // SQL ARRAY surface (§1.2 ARRAY type / §2.9 array fns): indexing,
      // slicing, length, aggregates over the array
      t(s, dir)("embeddings").filter(col("vec_id") < 100)
        .select(col("vec_id"),
          size(col("embedding")).cast("long").as("dim"),
          element_at(col("embedding"), 1).as("first_el"),
          element_at(col("embedding"), -1).as("last_el"),
          array_max(col("embedding")).as("max_el"),
          array_min(col("embedding")).as("min_el"),
          // scalar over the slice: the driver's comparator can't sort raw
          // array columns, so reduce head-3 to a rounded sum
          round(aggregate(slice(col("embedding"), 1, 3), lit(0.0),
            (acc, x) => acc + x.cast("double")), 5).as("head3_sum"),
          // scalar_in_array / array_offset_of analog
          array_position(col("embedding"), element_at(col("embedding"), 5))
            .cast("long").as("pos5"),
          // array_set_add: distinct size after appending an element
          size(array_union(slice(col("embedding"), 1, 8),
            array(element_at(col("embedding"), 1)))).cast("long").as("set_add_n"),
          // array_quantile(0.5): median via sort + middle elements
          round((element_at(array_sort(col("embedding")), 32).cast("double") +
            element_at(array_sort(col("embedding")), 33).cast("double")) / 2.0, 5)
            .as("median"))
        .orderBy(col("vec_id"))
    }),

    "q_embed_neardup" -> ((s, dir) => {
      // embedding-cosine near-duplicate detection (dedup by embedding)
      Similarity.cosineNearDupPairs(t(s, dir)("embeddings"), "vec_id",
        "embedding", threshold = 0.42)
        .select(col("id_a"), col("id_b"), round(col("sim"), 4).as("sim"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    "q_embed_centroid_dist" -> ((s, dir) => {
      // per-vector squared L2 distance to its label centroid
      // (pipeline.Diversity): centroids are a (label, pos) hash aggregate,
      // distances a broadcast join + codegen'd fold — no pair joins
      graft.pipeline.Diversity.centroidDistances(
          t(s, dir)("embeddings"), "vec_id", "embedding", "label")
        .orderBy(col("vec_id"))
    }),

    "q_embed_diversity" -> ((s, dir) => {
      // per-label diversity report: E‖x−y‖² = 2·E‖x−c‖² — the pairwise
      // statistic from the first moment, no O(n²) join
      graft.pipeline.Diversity.groupDiversity(
          t(s, dir)("embeddings"), "vec_id", "embedding", "label")
        .orderBy(col("label"))
    }),

    "q_embed_stats" -> ((s, dir) => {
      t(s, dir)("embeddings")
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          min(col("vec_id")).as("min_id"),
          size(first(col("embedding"))).cast("long").as("dim"))
        .orderBy(col("label"))
    }),

    // --------------------------------- histogram / percentiles (§2.5 ext)
    "q_agg_histogram" -> ((s, dir) => {
      // fixed-bucket histogram (reference HistogramAggregatorFactory):
      // width_bucket over [0, 200) in 10 buckets on events.value
      t(s, dir)("events")
        .groupBy(width_bucket(col("value"), lit(0.0), lit(200.0), lit(10))
          .as("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("bucket"))
    }),

    "q_agg_percentile" -> ((s, dir) => {
      // exact interpolated percentiles (reference approximate-histogram /
      // quantiles sketch surface; exact is an accepted superset)
      t(s, dir)("orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
          round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90"))
        .orderBy(col("o_orderpriority"))
    }),

    // ------------------------- extraction-fn dimension specs (§2.3/§2.2)
    "q_extraction_groupby" -> ((s, dir) => {
      // group by extraction functions of columns (reference ExtractionFn/
      // ExtractionDimensionSpec): substring + time-format dimensions
      t(s, dir)("orders")
        .groupBy(
          substring(col("o_orderpriority"), 1, 1).as("prio_code"),
          date_format(col("o_orderdate"), "yyyy-MM").as("month"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("prio_code"), col("month"))
    }),

    "q_lookup_map" -> ((s, dir) => {
      // literal-map lookup (reference LookupExprMacro / map-based lookup):
      // a bounded key→value map inlined into the plan, no join at all
      val m = Map("purchase" -> "revenue", "click" -> "engagement",
        "view" -> "engagement", "signup" -> "growth")
      t(s, dir)("events")
        .select(DruidFunctions.lookup(col("event_type"), m, Some("other"))
          .as("category"))
        .groupBy(col("category")).agg(count(lit(1)).as("n"))
        .orderBy(col("category"))
    }),

    // ------------------------------------------- RANGE window frame (§2.6)
    "q_window_range" -> ((s, dir) => {
      // value-based RANGE frame (reference WindowFrame RANGE/GROUPS)
      val w = Window.partitionBy(col("l_returnflag")).orderBy(col("l_quantity"))
        .rangeBetween(-5, 0)
      t(s, dir)("lineitem").filter(col("l_orderkey") < 200)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_quantity"),
          count(lit(1)).over(w).cast("long").as("n_within_5"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // ------------------------------------------------ null handling (§7.4)
    "q_null_handling" -> ((s, dir) => {
      // three-valued logic + null grouping: synthesize nulls with nullif
      t(s, dir)("orders")
        .select(nullif(col("o_orderstatus"), lit("P")).as("status_or_null"),
          col("o_totalprice"))
        .groupBy(col("status_or_null"))
        .agg(count(lit(1)).as("n_rows"),
          count(col("status_or_null")).as("n_nonnull"),
          round(sum(when(col("status_or_null").isNull, col("o_totalprice"))), 2)
            .as("null_total"))
        .orderBy(col("status_or_null").asc_nulls_first)
    }),

    // ---------------------------- ingestion: partitioned segment sink (§2.1)
    "q_sql_replace" -> ((s, dir) => {
      // REPLACE INTO … OVERWRITE WHERE (reference DruidSqlReplace + MSQ
      // replace-time-chunks): ingest events, replace days [01-02, 01-04)
      // with doubled values, read back — interval days swapped atomically,
      // outside days untouched
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_replace_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_")
      val ev = t(s, dir)("events")
      graft.operators.Ingest.writeSegments(ev, out, "ts", clusterBy = Seq("user_id"))
      val repl = ev
        .filter(to_date(col("ts")) >= "2024-01-02" && to_date(col("ts")) < "2024-01-04")
        .withColumn("value", col("value") * 2)
      graft.operators.Ingest.replaceWhere(repl, out, "ts", "2024-01-02", "2024-01-04")
      s.read.parquet(out)
        .filter(col("__day") >= lit("2024-01-01") && col("__day") <= lit("2024-01-05"))
        .groupBy(col("__day").as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 3).as("sum_value"))
        .orderBy(col("day"), col("event_type"))
    }),

    "q_ingest_roundtrip" -> ((s, dir) => {
      // the reference's batch ingest contract: write time-partitioned
      // columnar "segments" (parquet partitioned by day bucket), read back
      // with partition pruning, aggregate. Mirrors INSERT … PARTITIONED BY.
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_ingest_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_")
      val ev = t(s, dir)("events")
        .withColumn("day", to_date(col("ts")))
      // repartition by the partition key first: otherwise every one of the
      // 32 write tasks emits a file into every day directory (~960 small
      // files); keyed, each day is written by one task — the segment-sized
      // file discipline the reference enforces (5-10M rows/segment)
      ev.repartition(col("day"))
        .write.mode("overwrite").partitionBy("day").parquet(out)
      s.read.parquet(out)
        .filter(col("day") >= lit("2024-01-02") && col("day") <= lit("2024-01-03"))
        .groupBy(col("day"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 3).as("sum_value"))
        .orderBy(col("day"), col("event_type"))
    }),

    // ----------------------- period granularity with origin (§2.9/§7.3)
    "q_timeseries_origin" -> ((s, dir) => {
      // PT6H buckets anchored at 03:00 — PeriodGranularity-with-origin
      // semantics that date_trunc cannot express
      val origin = 3L * 3600 * 1000000 // 1970-01-01T03:00Z in epoch micros
      t(s, dir)("events")
        .groupBy(DruidFunctions.timeFloor(col("ts"), "PT6H", origin).as("bucket"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 3).as("sum_value"))
        .orderBy(col("bucket"))
    }),

    // ------------------------------------------- input formats (§2.1)
    "q_source_csv" -> ((s, dir) => {
      // CSV input format: write a CSV copy, read it back with schema, agg —
      // equivalence with the parquet-side oracle proves the format adapter
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_csv_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_")
      val ev = t(s, dir)("events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      ev.write.mode("overwrite").option("header", "true").csv(out)
      s.read.option("header", "true").schema(ev.schema).csv(out)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 3).as("sum_value"))
        .orderBy(col("event_type"))
    }),

    "q_source_tsv" -> ((s, dir) => {
      // delimited (TSV) input format (reference DelimitedInputFormat): same
      // adapter as CSV with a tab separator
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_tsv_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_")
      val ev = t(s, dir)("events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      ev.write.mode("overwrite").option("header", "true").option("sep", "\t").csv(out)
      s.read.option("header", "true").option("sep", "\t").schema(ev.schema).csv(out)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 3).as("sum_value"))
        .orderBy(col("event_type"))
    }),

    "q_source_mvd" -> ((s, dir) => {
      // delimited input with listDelimiter (reference DelimitedInputFormat):
      // a '|'-separated cell parses as a multi-value dimension, grouping on
      // it explodes per element
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_mvd_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_")
      t(s, dir)("part")
        .select(col("p_partkey"),
          regexp_replace(col("p_name"), " ", "|").as("words"))
        .write.mode("overwrite").option("header", "true").option("sep", "\t")
        .csv(out)
      graft.sources.Sources.delimited(s, out, sep = "\t",
          listDelimiter = "|", mvColumns = Seq("words"))
        .select(col("p_partkey").cast("long").as("p_partkey"),
          explode(col("words")).as("w"))
        .groupBy(col("w"))
        .agg(count(lit(1)).as("n"), sum(col("p_partkey")).as("key_sum"))
        .orderBy(col("w"))
    }),

    "q_source_json" -> ((s, dir) => {
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_json_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_")
      val ev = t(s, dir)("events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      ev.write.mode("overwrite").json(out)
      s.read.schema(ev.schema).json(out)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 3).as("sum_value"))
        .orderBy(col("event_type"))
    }),

    "q_source_regex" -> ((s, dir) => {
      // regex input format (reference RegexInputFormat + lines format):
      // write pipe-delimited text lines, read as raw text, parse columns
      // with regexp_extract
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_regex_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_")
      t(s, dir)("events")
        .select(concat_ws("|", col("event_id"), col("event_type"), col("value"))
          .as("value"))
        .write.mode("overwrite").text(out)
      val pattern = "^([0-9]+)\\|([a-z]+)\\|(.*)$"
      s.read.text(out)
        .select(
          regexp_extract(col("value"), pattern, 1).cast("long").as("event_id"),
          regexp_extract(col("value"), pattern, 2).as("event_type"),
          regexp_extract(col("value"), pattern, 3).cast("double").as("v"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("v")), 3).as("sum_value"))
        .orderBy(col("event_type"))
    }),

    "q_expr_timeceil" -> ((s, dir) => {
      // TIME_CEIL to 15-minute buckets
      t(s, dir)("events").filter(col("event_id") < 200)
        .select(col("event_id"),
          DruidFunctions.timeCeil(col("ts"), "PT15M").as("ceil15m"))
        .orderBy(col("event_id"))
    }),

    // ------------------------------- MVD any-match filter (§1.2/§2.2)
    "q_mvd_filter" -> ((s, dir) => {
      // Druid MVD filter semantics: a filter on a multi-value dimension
      // matches if ANY value matches (array_contains rewrite)
      val toks = split(col("text"), " ")
      t(s, dir)("documents")
        .filter(array_contains(toks, "spark") && !array_contains(toks, "slow"))
        .groupBy(col("lang")).agg(count(lit(1)).as("n"))
        .orderBy(col("lang"))
    }),

    // ------------------------- schema-merging append (§2.12 TABLE(APPEND))
    "q_union_by_name" -> ((s, dir) => {
      val c = t(s, dir)("customer").select(col("c_name").as("name"),
        col("c_acctbal").as("acctbal"), col("c_mktsegment").as("segment"))
      val su = t(s, dir)("supplier").select(col("s_name").as("name"),
        col("s_acctbal").as("acctbal"))
      c.unionByName(su, allowMissingColumns = true)
        .groupBy(coalesce(col("segment"), lit("(none)")).as("segment"))
        .agg(count(lit(1)).as("n"), round(sum(col("acctbal")), 2).as("total_bal"))
        .orderBy(col("segment"))
    }),

    "q_agg_firstlast_refold" -> ((s, dir) => {
      // stored first/last PAIR intermediates (reference SerializablePair
      // columns in rollup tables): a daily rollup stores struct(__time,
      // value) min/max pairs, a later query re-folds the stored pairs —
      // the result must equal direct first/last over the raw rows
      val ev = t(s, dir)("events")
      val daily = ev
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(min(struct(col("ts"), col("value"))).as("fp"),
          max(struct(col("ts"), col("value"))).as("lp"))
      daily.groupBy(col("event_type"))
        .agg(round(min(col("fp")).getField("value"), 3).as("first_value"),
          round(max(col("lp")).getField("value"), 3).as("last_value"))
        .orderBy(col("event_type"))
    }),

    // ------------------------------------ string first/last (§2.5)
    "q_agg_firstlast_str" -> ((s, dir) => {
      t(s, dir)("events").filter(col("user_id") < 50)
        .groupBy(col("user_id"))
        .agg(min_by(col("event_type"), col("ts")).as("first_type"),
          max_by(col("event_type"), col("ts")).as("last_type"),
          count(lit(1)).as("n"))
        .orderBy(col("user_id"))
    }),

    // ------------------------------------------ system tables (§2.11)
    "q_sys_segments" -> ((s, dir) => {
      graft.operators.Metadata.segments(s, dir)
        .groupBy(col("datasource"))
        .agg(sum(col("num_rows")).as("num_rows"))
        .orderBy(col("datasource"))
    }),

    // --------------------------------- INFORMATION_SCHEMA (§2.11)
    "q_info_schema" -> ((s, dir) => {
      // COLUMNS view vs DuckDB's native information_schema over the same
      // registered tables — name/ordinal parity is the whole check
      graft.operators.Metadata.informationSchemaColumns(s, dir)
        .select(col("table_name"), col("column_name"),
          col("ordinal_position"))
        .orderBy(col("table_name"), col("ordinal_position"))
    }),

    // --------------------------------------- registered lookup (§2.9)
    "q_lookup_registered" -> ((s, dir) => {
      // named lookup resolved through the registry by the SQL LOOKUP fn
      graft.functions.LookupRegistry.register("status_names", Map(
        "F" -> "finished", "O" -> "open", "P" -> "partial"))
      s.sql("""SELECT lookup(o_orderstatus, 'status_names', 'unknown') AS status,
                      count(*) AS n
               FROM orders GROUP BY 1 ORDER BY 1""")
    }),

    "q_lookup_schema" -> ((s, dir) => {
      // lookup introspection schema (reference LookupSchema.java): the
      // registered lookup queried AS A TABLE and joined against a fact —
      // broadcast join, since a lookup is bounded by contract
      graft.functions.LookupRegistry.register("status_names", Map(
        "F" -> "finished", "O" -> "open", "P" -> "partial"))
      val lk = graft.operators.Metadata.lookupSchema(s)
        .filter(col("lookup_name") === "status_names")
      t(s, dir)("orders")
        .join(broadcast(lk), col("o_orderstatus") === col("k"))
        .groupBy(col("v")).agg(count(lit(1)).as("n"))
        .orderBy(col("v"))
    }),

    "q_lookup_pullup" -> ((s, dir) => {
      // AggregatePullUpLookupRule: declared-injective lookup grouping is
      // pulled above the agg (probe runs per GROUP, not per row); the map
      // covers every o_orderstatus value, so results are exact either way —
      // optimization is forced while the declaration is on (optimizedPlan
      // is a cached lazy val), then the flag is dropped so non-covering
      // lookups elsewhere never see it
      s.conf.set("spark.graft.assumeInjectiveLookups", "true")
      try {
        val df = t(s, dir)("orders")
          .groupBy(graft.functions.DruidFunctions.lookup(col("o_orderstatus"),
            Map("F" -> "finished", "O" -> "open", "P" -> "partial")).as("status"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("o_totalprice")), 2).as("total"))
          .orderBy(col("status"))
        df.queryExecution.optimizedPlan
        df
      } finally s.conf.set("spark.graft.assumeInjectiveLookups", "false")
    }),

    // ------------------------------- joins: sort-merge + outer (§2.4)
    "q_join_sortmerge" -> ((s, dir) => {
      // big-big equi-join forced to shuffle sort-merge (the reference's MSQ
      // sortMerge algorithm for joins too large to broadcast)
      Joins.sortMergeJoin(t(s, dir)("lineitem"), t(s, dir)("orders"),
        col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("o_orderpriority"))
    }),

    "q_join_outer" -> ((s, dir) => {
      // FULL OUTER across part/lineitem subsets: null sides must survive
      val li = t(s, dir)("lineitem").filter(col("l_quantity") >= 49)
        .groupBy(col("l_partkey")).agg(count(lit(1)).as("n_li"))
      val p = t(s, dir)("part").filter(col("p_size") <= 5)
        .select(col("p_partkey"), col("p_brand"))
      p.join(li, col("p_partkey") === col("l_partkey"), "full_outer")
        .select(
          coalesce(col("p_partkey"), col("l_partkey")).as("partkey"),
          col("p_brand"), coalesce(col("n_li"), lit(0L)).as("n_li"))
        .orderBy(col("partkey"))
    }),

    // --------------------------------- column comparison filter (§2.2)
    "q_filter_colcompare" -> ((s, dir) => {
      t(s, dir)("lineitem")
        .filter(col("l_discount") > col("l_tax"))
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    }),

    // ------------------------------- window first/last value (§2.6)
    "q_window_firstval" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, dir)("orders").filter(col("o_custkey") < 100)
        .select(col("o_custkey"), col("o_orderkey"),
          first(col("o_totalprice")).over(w).as("first_price"),
          last(col("o_totalprice")).over(w).as("last_price"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // ----------------------------------- grouping_id on rollup (§2.5)
    "q_grouping_id" -> ((s, dir) => {
      t(s, dir)("lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          grouping_id().cast("long").as("gid"))
        .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    }),

    // --------------------------------------- ORC input format (§2.1)
    "q_source_orc" -> ((s, dir) => {
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_orc_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_")
      val n = t(s, dir)("nation")
      n.write.mode("overwrite").orc(out)
      s.read.orc(out)
        .groupBy(col("n_regionkey")).agg(count(lit(1)).as("n"))
        .orderBy(col("n_regionkey"))
    }),

    "q_source_jdbc" -> ((s, dir) => {
      // SQL/JDBC input source (reference SqlInputSource): round-trip a
      // table through embedded Derby and read it back as a PARTITIONED
      // jdbc scan (4 key-range slices — the shape that keeps a 100-TB
      // ingest from serializing through one connection)
      val db = s"${System.getProperty("java.io.tmpdir")}/graft_derby_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_")
      val url = s"jdbc:derby:$db;create=true"
      t(s, dir)("supplier")
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
          col("s_acctbal"))
        .write.mode("overwrite").jdbc(url, "supplier_src",
          new java.util.Properties)
      graft.sources.Sources.jdbc(s, url, "supplier_src",
        bounds = Some(("s_suppkey", 0L, 10000L, 4)))
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n"), round(sum(col("s_acctbal")), 2).as("bal"))
        .orderBy(col("s_nationkey"))
    }),

    "q_source_avro" -> ((s, dir) => {
      // Avro object-container input format (reference avro-extensions
      // AvroOCFInputFormat), built on the public Avro core + mapred APIs
      // (no spark-avro jar in this image): schema from the OCF header,
      // block-splittable parallel record reads
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_avro_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_")
      graft.sources.Sources.writeAvro(
        t(s, dir)("customer")
          .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
            col("c_acctbal")), out)
      graft.sources.Sources.avro(s, out)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), round(sum(col("c_acctbal")), 2).as("bal"))
        .orderBy(col("c_mktsegment"))
    }),

    "q_source_protobuf" -> ((s, dir) => {
      // protobuf input format (reference protobuf-extensions): messages
      // encoded to the public wire format (fixture side), stored as a
      // binary column, flattened back to typed columns with the
      // descriptor-less ProtoField expressions (product side)
      import graft.functions.ProtobufWire._
      val enc = udf((k: Long, seg: String, bal: Double) =>
        graft.functions.ProtobufWire.encode(
          Seq(1 -> k, 2 -> seg, 3 -> bal)))
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_proto_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_")
      t(s, dir)("customer")
        .select(enc(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
          .as("msg"))
        .write.mode("overwrite").parquet(out)
      s.read.parquet(out)
        .select(protoVarint(col("msg"), 1).as("c_custkey"),
          protoString(col("msg"), 2).as("c_mktsegment"),
          protoDouble(col("msg"), 3).as("c_acctbal"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), round(sum(col("c_acctbal")), 2).as("bal"),
          max(col("c_custkey")).as("max_key"))
        .orderBy(col("c_mktsegment"))
    }),

    "q_source_protobuf_desc" -> ((s, dir) => {
      // descriptor-file-driven flatten (reference protobuf-extensions
      // FileBasedProtobufBytesDecoder): the schema comes from a compiled
      // FileDescriptorSet — itself protobuf wire format, parsed by the
      // same scanner — not from hand-supplied (fieldNo, kind) pairs
      import graft.sources.ProtoDescriptor
      val enc = udf((k: Long, seg: String, bal: Double) =>
        graft.functions.ProtobufWire.encode(
          Seq(1 -> k, 2 -> seg, 3 -> bal)))
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_protodesc_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_")
      t(s, dir)("customer")
        .select(enc(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
          .as("msg"))
        .write.mode("overwrite").parquet(out)
      val desc = ProtoDescriptor.buildDescriptorSet("graft", "Customer", Seq(
        ("c_custkey", 1, 3L), ("c_mktsegment", 2, 9L), ("c_acctbal", 3, 1L)))
      ProtoDescriptor.flatten(s.read.parquet(out), "msg", desc, "graft.Customer")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), round(sum(col("c_acctbal")), 2).as("bal"),
          max(col("c_custkey")).as("max_key"))
        .orderBy(col("c_mktsegment"))
    }),

    // --------------------- subquery datasources (§1.1 QueryDataSource)
    "q_window_over_agg" -> ((s, dir) => {
      // the reference's windowOperator runs OVER an inner groupBy query
      // (QueryDataSource nesting): aggregate first, then rank the groups
      val byCust = t(s, dir)("orders")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
      val w = Window.orderBy(col("n").desc, col("o_custkey").asc)
      byCust.select(col("o_custkey"), col("n"), col("total"),
        row_number().over(w).as("rk"))
        .filter(col("rk") <= 25)
        .orderBy(col("rk"))
    }),

    "q_scalar_subquery" -> ((s, dir) => {
      // scalar subquery (reference singleValue aggregator enforcement)
      s.sql("""
        SELECT o_orderpriority, count(*) AS n
        FROM orders
        WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")
    }),

    "q_correlated_subquery" -> ((s, dir) => {
      // correlated subquery → decorrelated join (Catalyst does this free;
      // the reference needs DruidCorrelateUnnestRule/join rewrites)
      s.sql("""
        SELECT l_orderkey, count(*) AS n_above_avg
        FROM lineitem l1
        WHERE l_quantity > (SELECT avg(l_quantity) FROM lineitem l2
                            WHERE l2.l_orderkey = l1.l_orderkey)
        GROUP BY l_orderkey
        HAVING count(*) >= 3
        ORDER BY l_orderkey""")
    }),

    // --------------------------- GROUPS window frame (§2.6 / §7.4.7)
    "q_window_groups" -> ((s, dir) => {
      // the reference's RANGE frames group PEERS (SQL GROUPS semantics);
      // emulated via dense_rank + value-RANGE (see operators.Windows)
      graft.operators.Windows.withGroupsFrame(
        t(s, dir)("lineitem").filter(col("l_suppkey") <= 3),
        partitionBy = Seq(col("l_returnflag")),
        orderBy = col("l_quantity"),
        agg = sum, valueCol = col("l_quantity"),
        lo = -1, hi = 0, as = "grp_sum")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_quantity"), col("grp_sum"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // ----------------- timezone-anchored granularity (§2.9 / §7.4.4)
    "q_timeseries_tz" -> ((s, dir) => {
      // daily buckets in a +05:30 zone: bucket edges at 18:30 UTC
      t(s, dir)("events")
        .groupBy(graft.operators.Windows
          .timeFloorTz(col("ts"), "P1D", "+05:30").as("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("bucket"))
    }),

    "q_timeseries_dst" -> ((s, dir) => {
      // daily buckets in a REGION zone across years of DST transitions
      // (orders span 1995-2001): spring-forward days are 23h, fall-back
      // days 25h, and every UTC-midnight order date lands on the PREVIOUS
      // New-York day whose offset (EST -5 / EDT -4) depends on the season.
      // A fixed-offset implementation gets hundreds of buckets wrong here.
      t(s, dir)("orders")
        .groupBy(graft.operators.Windows
          .timeFloorZone(col("o_orderdate").cast("timestamp"), "P1D",
            "America/New_York").as("bucket"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy(col("bucket"))
    }),

    // ------------------- aggregate-projection rerouting (§4.2 / §1.3)
    "q_projection_reroute" -> ((s, dir) => {
      // register an hourly rollup projection, then answer a daily query
      // from it — the reference's AggregateProjectionMetadata behavior
      import graft.operators.{Ingest, ProjectionCatalog}
      val events = t(s, dir)("events")
      val proj = Ingest.rollup(events, "ts", "PT1H", Seq("event_type"),
        Seq("n" -> count(lit(1)), "sum_value" -> sum(col("value"))))
      ProjectionCatalog.register(s"events_hourly_$dir",
        ProjectionCatalog.Projection("events", "PT1H", Set("event_type"),
          Set("n", "sum_value"), proj))
      ProjectionCatalog.timeseries(events, "events", "ts", "P1D",
        Seq("event_type"), Seq("n" -> "n", "sum_value" -> "value"))
        .select(col("bucket"), col("event_type"), col("n"),
          round(col("sum_value"), 3).as("sum_value"))
        .orderBy(col("bucket"), col("event_type"))
    }),

    // ------------------------- typed UDAF extension surface (§2.13)
    "q_agg_geomean" -> ((s, dir) => {
      s.sql("""SELECT l_returnflag,
                      round(geometric_mean(l_quantity), 6) AS geo_qty,
                      count(*) AS n
               FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")
    }),

    // ----------------------------- native JSON query façade (§3.2)
    // The reference's primary programmatic API: JSON query objects. These
    // run through graft.api.NativeJsonQuery → the same operator builders.
    "q_json_timeseries" -> ((s, dir) => {
      // skipEmptyBuckets: the ORACLE twin is sparse SQL (GROUP BY emits
      // only non-empty hours), so the gate must request the reference's
      // sparse mode too — at sf0.01+ every hour of the interval has rows
      // and the output is bit-identical either way, but at sf0.001 the
      // default zero-fill emitted 48 rows against the oracle's 20 (latent
      // cross-SF mismatch found in r21's sf0.001 full sweep; zero-fill
      // semantics stay covered by q_timeseries_zerofill, whose oracle
      // zero-fills).
      graft.api.NativeJsonQuery.run(s, dir, """
        {"queryType": "timeseries", "dataSource": "events",
         "granularity": "hour",
         "intervals": ["2024-01-01T00:00:00Z/2024-01-03T00:00:00Z"],
         "context": {"skipEmptyBuckets": true},
         "filter": {"type": "in", "dimension": "event_type",
                    "values": ["purchase", "click"]},
         "aggregations": [
           {"type": "count", "name": "n"},
           {"type": "doubleSum", "name": "rev", "fieldName": "value"},
           {"type": "filtered", "name": "big_n",
            "filter": {"type": "bound", "dimension": "value", "lower": 100},
            "aggregator": {"type": "count", "name": "big_n"}}]}
        """).withColumn("rev", round(col("rev"), 3))
    }),

    "q_json_topn" -> ((s, dir) => {
      graft.api.NativeJsonQuery.run(s, dir, """
        {"queryType": "topN", "dataSource": "events",
         "dimension": "user_id", "metric": "n", "threshold": 15,
         "aggregations": [{"type": "count", "name": "n"},
                          {"type": "doubleMax", "name": "max_v", "fieldName": "value"}]}
        """)
    }),

    "q_json_groupby" -> ((s, dir) => {
      graft.api.NativeJsonQuery.run(s, dir, """
        {"queryType": "groupBy", "dataSource": "orders",
         "dimensions": ["o_orderstatus", "o_orderpriority"],
         "filter": {"type": "bound", "dimension": "o_totalprice", "lower": 50000},
         "aggregations": [{"type": "count", "name": "n"},
                          {"type": "doubleSum", "name": "total", "fieldName": "o_totalprice"}],
         "postAggregations": [
           {"type": "arithmetic", "name": "avg_price", "fn": "/",
            "fields": [{"type": "fieldAccess", "fieldName": "total"},
                       {"type": "fieldAccess", "fieldName": "n"}]}],
         "having": {"type": "greaterThan", "aggregation": "n", "value": 10},
         "limitSpec": {"type": "default",
           "columns": [{"dimension": "o_orderstatus"},
                       {"dimension": "o_orderpriority"}]}}
        """).withColumn("total", round(col("total"), 2))
        .withColumn("avg_price", round(col("avg_price"), 4))
    }),

    "q_json_mvd_groupby" -> ((s, dir) => {
      // MVD grouping through the JSON facade: grouping on an array-typed
      // (multi-value) dimension explodes per value — the reference's most
      // distinctive semantic (MultiValuedDimensionTest)
      graft.api.NativeJsonQuery.run(s, dir, """
        {"queryType": "groupBy", "dataSource": "part",
         "virtualColumns": [{"name": "w", "expression": "split(p_name, ' ')"}],
         "dimensions": ["w"],
         "aggregations": [{"type": "count", "name": "n"},
                          {"type": "longSum", "name": "ksum", "fieldName": "p_partkey"}],
         "limitSpec": {"type": "default", "columns": [{"dimension": "w"}]}}
        """)
    }),

    "q_moving_avg" -> ((s, dir) => {
      // movingAverage query type (reference extensions-contrib/movingAverage
      // MovingAverageQuery.java): daily buckets per event_type, then a
      // 3-bucket sliding mean/max per type. Mean = frame sum / buckets
      // (reference Mean averager); exact oracle via DuckDB window frame.
      graft.api.NativeJsonQuery.run(s, dir, """
        {"queryType": "movingAverage", "dataSource": "events",
         "granularity": "day",
         "dimensions": ["event_type"],
         "aggregations": [
           {"type": "count", "name": "n"},
           {"type": "doubleSum", "name": "daily_value", "fieldName": "value"}],
         "averagers": [
           {"type": "doubleMean", "name": "ma3", "fieldName": "daily_value", "buckets": 3},
           {"type": "doubleMax", "name": "mx3", "fieldName": "daily_value", "buckets": 3}]}
        """)
        .withColumn("daily_value", round(col("daily_value"), 3))
        .withColumn("ma3", round(col("ma3"), 3))
        .withColumn("mx3", round(col("mx3"), 3))
    }),

    "q_json_scan" -> ((s, dir) => {
      graft.api.NativeJsonQuery.run(s, dir, """
        {"queryType": "scan", "dataSource": "lineitem",
         "columns": ["l_orderkey", "l_linenumber", "l_quantity"],
         "filter": {"type": "and", "fields": [
            {"type": "bound", "dimension": "l_quantity", "lower": 48},
            {"type": "selector", "dimension": "l_returnflag", "value": "R"}]}}
        """).orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    "q_expr_native_cast" -> ((s, dir) => {
      // native-expression cast(x, 'TYPE') (Function.java CastFunc:1986 via
      // ExprEval.castTo / computeNumber:625): string numbers go through a
      // long-then-double parse ('12.5' → 12 where SQL CAST errors),
      // 'true'/'false' are 1/0, unparseable text is NULL never an error,
      // doubles truncate to LONG, and nested casts compose
      graft.api.NativeJsonQuery.run(s, dir, """
        {"queryType": "scan", "dataSource": "lineitem",
         "virtualColumns": [
           {"type": "expression", "name": "v_strnum", "expression": "cast('12.5', 'LONG')"},
           {"type": "expression", "name": "v_dbl", "expression": "cast(l_quantity, 'LONG')"},
           {"type": "expression", "name": "v_bool", "expression": "cast('true', 'DOUBLE')"},
           {"type": "expression", "name": "v_bad", "expression": "cast(l_returnflag, 'LONG')"},
           {"type": "expression", "name": "v_rt", "expression": "cast(cast(l_orderkey, 'STRING'), 'LONG')"}],
         "columns": ["l_orderkey", "l_linenumber", "v_strnum", "v_dbl",
                     "v_bool", "v_bad", "v_rt"],
         "filter": {"type": "bound", "dimension": "l_orderkey", "upper": 100}}
        """).orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // ------------------------------------- sketch aggregators (§2.5 ext)
    "q_sketch_hll" -> ((s, dir) => {
      // custom TypedImperativeAggregate HLL (reference hyperUnique, 2048
      // registers). Self-asserting error bound (reference
      // HllSketchAggregatorTest asserts within-epsilon): exact distinct is
      // computed alongside; the boolean hash-matches the oracle's TRUE.
      import graft.functions.sketches.HllSketchAgg.hllEstimate
      t(s, dir)("events")
        .groupBy(col("event_type"))
        .agg(hllEstimate(col("user_id")).as("est"),
          count_distinct(col("user_id")).as("n_users_exact"),
          count(lit(1)).as("n"))
        .select(col("event_type"), col("n_users_exact"), col("n"),
          (abs(col("est") / col("n_users_exact").cast("double") - 1.0) <= 0.05)
            .as("hll_ok"))
        .orderBy(col("event_type"))
    }),

    "q_qa_json_object_variadic" -> ((s, dir) => {
      // reference json_object takes variadic KV pairs with heterogeneous
      // value types — number/string/boolean/float in one object, rendered
      // compact and type-preserving in both engines
      s.sql("""
        SELECT event_id,
               JSON_OBJECT('id', event_id, 'type', event_type,
                           'flag', event_id % 2 = 0,
                           'half', CAST(event_id AS DOUBLE) / 2,
                           'maybe', CASE WHEN event_id % 3 = 0
                                         THEN NULL ELSE event_type END) AS obj
        FROM events WHERE event_id < 50 ORDER BY event_id""")
    }),

    "q_agg_bigdecimal" -> ((s, dir) => {
      // reference compressed-bigdecimal extension (exact decimal
      // aggregation immune to float accumulation error): Spark's native
      // DECIMAL(38,10) sum IS that capability — exact, order-independent,
      // and rendered at full scale for a digit-exact oracle compare
      s.sql("""
        SELECT l_returnflag,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(38,10))) AS STRING)
                 AS dec_sum,
               CAST(CAST(sum(CAST(l_tax AS DECIMAL(38,10)))
                 - sum(CAST(l_discount AS DECIMAL(38,10)))
                 AS DECIMAL(38,10)) AS STRING) AS dec_net
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")
    }),

    "q_ingest_sketch_rollup" -> ((s, dir) => {
      // the reference's rollup-with-sketch-metric ingestion (metricsSpec
      // with hyperUnique/HLL at ingest: rollup keeps one row per (day,
      // dim) with a MERGEABLE sketch column instead of raw ids). Write the
      // day-partitioned rollup with the HLL binary as a metric column,
      // read it back, and merge the pre-aggregated sketches ACROSS days —
      // distinct users per event_type without ever re-reading raw ids.
      // Self-asserting like q_sketch_hll: the estimate must sit within 5%
      // of the exact count (computed from raw for the assertion only).
      import graft.functions.sketches.HllSketchAgg.{hllSketch, hllMergeEstimate}
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_sk_rollup_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_")
      val ev = t(s, dir)("events")
      ev.withColumn("day", to_date(col("ts")))
        .groupBy(col("day"), col("event_type"))
        .agg(hllSketch(col("user_id")).as("users_hll"),
          count(lit(1)).as("n"))
        .repartition(col("day"))
        .write.mode("overwrite").partitionBy("day").parquet(out)
      val merged = s.read.parquet(out)
        .groupBy(col("event_type"))
        .agg(hllMergeEstimate(col("users_hll")).as("est"),
          sum(col("n")).as("n"))
      val exact = ev.groupBy(col("event_type"))
        .agg(count_distinct(col("user_id")).as("n_users_exact"))
      merged.join(exact, "event_type")
        .select(col("event_type"), col("n_users_exact"),
          col("n").cast("long").as("n"),
          (abs(col("est") / col("n_users_exact").cast("double") - 1.0) <= 0.05)
            .as("hll_ok"))
        .orderBy(col("event_type"))
    }),

    "q_sketch_kll" -> ((s, dir) => {
      // KLL quantiles sketch (reference datasketches KLL ext): mergeable
      // binary sketch per group, quantile/rank via post-agg. Self-asserting
      // rank-error bounds: the estimated quantiles are joined back against
      // the data to measure their TRUE rank, which must sit within the
      // sketch's epsilon of the requested rank — booleans hash-match the
      // oracle's TRUE (reference KLL tests assert the same bound).
      import graft.functions.sketches.KllSketchAgg._
      val li = t(s, dir)("lineitem")
      val sk = li.groupBy(col("l_returnflag"))
        .agg(kllSketch(col("l_extendedprice")).as("sk"))
        .select(col("l_returnflag"),
          kllQuantile(col("sk"), lit(0.5)).as("p50_est"),
          kllQuantile(col("sk"), lit(0.95)).as("p95_est"),
          kllRank(col("sk"), lit(30000.0)).as("rank30_est"))
      li.join(broadcast(sk), "l_returnflag")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          avg(when(col("l_extendedprice") <= col("p50_est"), 1.0)
            .otherwise(0.0)).as("r50"),
          avg(when(col("l_extendedprice") <= col("p95_est"), 1.0)
            .otherwise(0.0)).as("r95"),
          avg(when(col("l_extendedprice") <= 30000.0, 1.0)
            .otherwise(0.0)).as("r30"),
          first(col("rank30_est")).as("rank30_est"))
        .select(col("l_returnflag"), col("n"),
          (abs(col("r50") - 0.5) <= 0.03).as("p50_ok"),
          (abs(col("r95") - 0.95) <= 0.03).as("p95_ok"),
          (abs(col("rank30_est") - col("r30")) <= 0.03).as("rank30_ok"))
        .orderBy(col("l_returnflag"))
    }),

    "q_sketch_tdigest" -> ((s, dir) => {
      // merging t-digest (reference extensions-contrib/tdigestsketch):
      // mergeable binary digest per group, quantile + cdf post-aggs.
      // Self-asserting rank-error bounds via join-back (see q_sketch_kll);
      // t-digest's k1 scale function is tail-accurate, so p99 gets the
      // tighter epsilon (SketchSpec measures both).
      import graft.functions.sketches.TDigestSketchAgg._
      val li = t(s, dir)("lineitem")
      val sk = li.groupBy(col("l_returnflag"))
        .agg(tdigestSketch(col("l_extendedprice")).as("sk"))
        .select(col("l_returnflag"),
          tdigestQuantile(col("sk"), lit(0.5)).as("p50_est"),
          tdigestQuantile(col("sk"), lit(0.99)).as("p99_est"),
          tdigestCdf(col("sk"), lit(30000.0)).as("cdf30_est"))
      li.join(broadcast(sk), "l_returnflag")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          avg(when(col("l_extendedprice") <= col("p50_est"), 1.0)
            .otherwise(0.0)).as("r50"),
          avg(when(col("l_extendedprice") <= col("p99_est"), 1.0)
            .otherwise(0.0)).as("r99"),
          avg(when(col("l_extendedprice") <= 30000.0, 1.0)
            .otherwise(0.0)).as("r30"),
          first(col("cdf30_est")).as("cdf30_est"))
        .select(col("l_returnflag"), col("n"),
          (abs(col("r50") - 0.5) <= 0.02).as("p50_ok"),
          (abs(col("r99") - 0.99) <= 0.01).as("p99_ok"),
          (abs(col("cdf30_est") - col("r30")) <= 0.02).as("cdf30_ok"))
        .orderBy(col("l_returnflag"))
    }),

    "q_sketch_kll_dist" -> ((s, dir) => {
      // KLL distribution post-aggs (reference KllDoublesSketchToCDF/
      // ToHistogram post-aggregators): split-point CDF fractions and
      // estimated bin counts from one stored sketch per group.
      // Self-asserting: every estimate is checked against the exact
      // fraction/count computed in the same plan (see q_sketch_kll).
      import graft.functions.sketches.KllSketchAgg._
      val li = t(s, dir)("lineitem")
      val sk = li.groupBy(col("l_returnflag"))
        .agg(kllSketch(col("l_extendedprice")).as("sk"))
        .select(col("l_returnflag"),
          element_at(kllCdf(col("sk"),
            array(lit(20000.0), lit(50000.0))), 1).as("cdf20_est"),
          element_at(kllHistogram(col("sk"),
            array(lit(20000.0), lit(50000.0))), 2).as("bin_mid_est"),
          element_at(kllQuantiles(col("sk"),
            array(lit(0.25), lit(0.75))), 2).as("p75_est"))
      li.join(broadcast(sk), "l_returnflag")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          avg(when(col("l_extendedprice") < 20000.0, 1.0)
            .otherwise(0.0)).as("r20"),
          avg(when(col("l_extendedprice") >= 20000.0 &&
            col("l_extendedprice") < 50000.0, 1.0).otherwise(0.0)).as("rmid"),
          avg(when(col("l_extendedprice") <= col("p75_est"), 1.0)
            .otherwise(0.0)).as("r75"),
          first(col("cdf20_est")).as("cdf20_est"),
          first(col("bin_mid_est")).as("bin_mid_est"))
        .select(col("l_returnflag"), col("n"),
          (abs(col("cdf20_est") - col("r20")) <= 0.03).as("cdf20_ok"),
          (abs(col("bin_mid_est") / col("n").cast("double") - col("rmid"))
            <= 0.06).as("bin_mid_ok"),
          (abs(col("r75") - 0.75) <= 0.03).as("p75_ok"))
        .orderBy(col("l_returnflag"))
    }),

    "q_sketch_tuple" -> ((s, dir) => {
      // tuple (arrayOfDoubles) sketch (reference datasketches tuple ext):
      // per distinct user, sum an array of double metrics; estimates are
      // exact below the nominal entry count, so this IS oracle-checkable
      // at sf0.01 (150 users/type << 4096 nominal entries)
      import graft.functions.sketches.TupleSketchAgg._
      t(s, dir)("events")
        .groupBy(col("event_type"))
        .agg(tupleSketch(col("user_id"),
          array(col("value").cast("double"), lit(1.0))).as("sk"))
        .select(col("event_type"),
          tupleEstimate(col("sk")).cast("long").as("n_users"),
          round(tupleMetricSum(col("sk"), 0), 3).as("sum_value"),
          tupleMetricSum(col("sk"), 1).cast("long").as("n_rows"))
        .orderBy(col("event_type"))
    }),

    "q_sketch_theta_setops" -> ((s, dir) => {
      // KMV/theta-style sketch algebra (reference datasketches theta):
      // distinct users per event type, then intersection/union estimates
      // across two types via post-aggregation set ops. Self-asserting: the
      // exact set sizes come from one distinct-user pass; every estimate
      // must land within KMV's epsilon (intersection/difference are noisier
      // — same bounds SketchSpec measures).
      import graft.functions.sketches.KmvSketchAgg._
      val ev = t(s, dir)("events").filter(col("event_type").isin("purchase", "click"))
      val sk = ev.groupBy(col("event_type"))
        .agg(kmvSketch(col("user_id")).as("sk"))
      val p = sk.filter(col("event_type") === "purchase").select(col("sk").as("sk_p"))
      val l = sk.filter(col("event_type") === "click").select(col("sk").as("sk_l"))
      val est = p.crossJoin(l).select(
        kmvEstimate(col("sk_p")).as("e_p"),
        kmvEstimate(col("sk_l")).as("e_l"),
        kmvIntersect(col("sk_p"), col("sk_l")).as("e_both"),
        kmvUnion(col("sk_p"), col("sk_l")).as("e_either"),
        kmvNot(col("sk_p"), col("sk_l")).as("e_only"))
      val exact = ev.groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase", 1).otherwise(0)).as("isp"),
          max(when(col("event_type") === "click", 1).otherwise(0)).as("isc"))
        .agg(sum(col("isp")).cast("long").as("purchase_users"),
          sum(col("isc")).cast("long").as("click_users"),
          sum(when(col("isp") === 1 && col("isc") === 1, 1).otherwise(0))
            .cast("long").as("both_users"),
          count(lit(1)).as("either_users"),
          sum(when(col("isp") === 1 && col("isc") === 0, 1).otherwise(0))
            .cast("long").as("purchase_only_users"))
      exact.crossJoin(est).select(
        col("purchase_users"), col("click_users"), col("both_users"),
        col("either_users"), col("purchase_only_users"),
        // set-op estimates carry union-scaled error (theta-sketch error
        // model), so intersection/difference bounds normalize by |A∪B| —
        // also keeps the bound defined when the exact difference is 0
        (abs(col("e_p") / col("purchase_users") - 1.0) <= 0.05).as("p_ok"),
        (abs(col("e_l") / col("click_users") - 1.0) <= 0.05).as("l_ok"),
        (abs(col("e_both") - col("both_users")) <=
          col("either_users") * 0.15).as("both_ok"),
        (abs(col("e_either") / col("either_users") - 1.0) <= 0.05).as("union_ok"),
        (abs(col("e_only") - col("purchase_only_users")) <=
          col("either_users") * 0.15).as("not_ok"))
    }),

    "q_sql_sketch_surface" -> ((s, dir) => {
      // reference sketch SQL text verbatim: DS_THETA / DS_HLL /
      // DS_TUPLE_DOUBLES aggregates, THETA_SKETCH_UNION/INTERSECT/NOT and
      // HLL_SKETCH_UNION sketch-returning post-aggs, *_WITH_ERROR_BOUNDS,
      // DS_TUPLE_DOUBLES_METRICS_SUM_ESTIMATE, APPROX_QUANTILE and
      // APPROX_QUANTILE_FIXED_BUCKETS. Self-asserting against the exact
      // distinct/median computed in the same query (bounds ≥2× the observed
      // sketch error at these K values).
      s.sql("""
        WITH sk AS (
          SELECT event_type,
                 ds_theta(user_id) AS th,
                 ds_hll(user_id) AS hl,
                 ds_tuple_doubles(user_id, CAST(1.0 AS DOUBLE)) AS tu
          FROM events WHERE event_type IN ('purchase', 'click')
          GROUP BY event_type),
        p AS (SELECT th AS th_p, hl AS hl_p, tu AS tu_p FROM sk
              WHERE event_type = 'purchase'),
        c AS (SELECT th AS th_c, hl AS hl_c, tu AS tu_c FROM sk
              WHERE event_type = 'click'),
        q AS (SELECT approx_quantile(value, 0.5) AS med_est,
                     approx_quantile_fixed_buckets(value, 0.5, 200, 0.0,
                       1000.0, 'clip') AS med_fb,
                     percentile(value, 0.5) AS med_exact,
                     count(*) AS n_events
              FROM events WHERE event_type IN ('purchase', 'click')),
        u AS (SELECT user_id,
                     max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS isp,
                     max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS isc
              FROM events WHERE event_type IN ('purchase', 'click')
              GROUP BY user_id),
        exact AS (
          SELECT CAST(sum(isp) AS BIGINT) AS purchase_users,
                 CAST(sum(CASE WHEN isp = 1 AND isc = 1 THEN 1 ELSE 0 END)
                   AS BIGINT) AS both_users,
                 count(*) AS either_users,
                 CAST(sum(CASE WHEN isp = 1 AND isc = 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS purchase_only_users
          FROM u)
        SELECT purchase_users, both_users, either_users, purchase_only_users,
               n_events,
               abs(theta_sketch_estimate(theta_sketch_union(th_p, th_c))
                 / either_users - 1.0) <= 0.05 AS theta_union_ok,
               abs(theta_sketch_estimate(theta_sketch_intersect(th_p, th_c))
                 - both_users) <= either_users * 0.15 AS theta_intersect_ok,
               abs(theta_sketch_estimate(theta_sketch_not(th_p, th_c))
                 - purchase_only_users) <= either_users * 0.15 AS theta_not_ok,
               theta_sketch_estimate_with_error_bounds(th_p, 3)[1]
                 <= purchase_users AND purchase_users
                 <= theta_sketch_estimate_with_error_bounds(th_p, 3)[2]
                 AS theta_bounds_ok,
               abs(hll_sketch_estimate(hll_sketch_union(hl_p, hl_c))
                 / either_users - 1.0) <= 0.1 AS hll_union_ok,
               hll_sketch_estimate_with_error_bounds(hl_p, 3)[1]
                 <= purchase_users AND purchase_users
                 <= hll_sketch_estimate_with_error_bounds(hl_p, 3)[2]
                 AS hll_bounds_ok,
               hll_sketch_to_string(hl_p) LIKE '%estimate%' AS hll_str_ok,
               abs(ds_tuple_doubles_metrics_sum_estimate(
                     ds_tuple_doubles_union(tu_p, tu_c))[0]
                 / n_events - 1.0) <= 0.1 AS tuple_union_ok,
               abs(tuple_estimate(ds_tuple_doubles_intersect(tu_p, tu_c))
                 - both_users) <= either_users * 0.15 AS tuple_intersect_ok,
               abs(med_est - med_exact)
                 <= 0.05 * greatest(abs(med_exact), 1.0) AS aq_ok,
               abs(med_fb - med_exact)
                 <= 0.1 * greatest(abs(med_exact), 1.0) + 5.0 AS fb_ok
        FROM exact CROSS JOIN p CROSS JOIN c CROSS JOIN q""")
    }),

    "q_sketch_bloom" -> ((s, dir) => {
      // bloom-filter agg + membership filter (reference bloom extension):
      // build a filter of high-balance custkeys, probe customers through it.
      // Self-asserting: bloom filters have NO false negatives (every member
      // passes) and the FP rate at 2^16 bits / ~this many keys is far under
      // 5% of the non-member population — both booleans hash-match TRUE.
      import graft.functions.sketches.BloomFilterAgg._
      val c = t(s, dir)("customer")
      val bytes = c.filter(col("c_acctbal") > 5000)
        .agg(bloomBuild(col("c_custkey"), numBits = 1 << 16)).head()
        .getAs[Array[Byte]](0)
      c.groupBy(col("c_nationkey"))
        .agg(count(when(col("c_acctbal") > 5000, 1)).as("n_high"),
          count(when(bloomMightContain(lit(bytes), col("c_custkey")), 1))
            .as("n_pass"),
          count(lit(1)).as("n_total"))
        .select(col("c_nationkey"), col("n_high"),
          (col("n_pass") >= col("n_high")).as("no_false_neg"),
          ((col("n_pass") - col("n_high")).cast("double") <=
            greatest(lit(2.0),
              (col("n_total") - col("n_high")).cast("double") * 0.05))
            .as("fp_ok"))
        .orderBy(col("c_nationkey"))
    }),

    "q_agg_quantile_approx" -> ((s, dir) => {
      // approximate quantiles (reference quantiles/KLL sketch surface).
      // Self-asserting rank bound: approx_percentile(…, 1000) guarantees
      // rank error <= 1/1000, so the estimate must sit inside the exact
      // [p48, p52] envelope computed in the same aggregation; exact
      // percentiles are oracle-gated in q_agg_percentile.
      t(s, dir)("orders")
        .groupBy(col("o_orderpriority"))
        .agg(expr("approx_percentile(o_totalprice, 0.5, 1000)").as("p50_est"),
          expr("percentile(o_totalprice, 0.48)").as("lo"),
          expr("percentile(o_totalprice, 0.52)").as("hi"),
          count(lit(1)).as("n"))
        .select(col("o_orderpriority"), col("n"),
          (col("p50_est") >= col("lo") && col("p50_est") <= col("hi"))
            .as("p50_ok"))
        .orderBy(col("o_orderpriority"))
    }),

    // ----------------------------------------- spatial filters (§2.2)
    "q_spatial" -> ((s, dir) => {
      // deterministic synthetic coordinates from keys; rect / radius /
      // polygon membership counts (reference SpatialDimFilter bound types)
      import graft.functions.SpatialFilters
      val pts = t(s, dir)("customer").select(col("c_mktsegment"),
        ((col("c_custkey") * 73 % 3600) / 10.0 - 180.0).as("x"),
        ((col("c_custkey") * 37 % 1800) / 10.0 - 90.0).as("y"))
      pts.groupBy(col("c_mktsegment"))
        .agg(
          count(when(SpatialFilters.rectangular(col("x"), col("y"),
            -90, -45, 90, 45), 1)).as("n_rect"),
          count(when(SpatialFilters.radius(col("x"), col("y"),
            0, 0, 60), 1)).as("n_radius"),
          count(when(SpatialFilters.polygon(col("x"), col("y"),
            Seq((-50.0, -50.0), (50.0, -50.0), (0.0, 60.0))), 1)).as("n_poly"),
          count(lit(1)).as("n"))
        .orderBy(col("c_mktsegment"))
    }),

    // ------------------------------------------ multimodal (training pipeline)
    "q_multimodal_features" -> ((s, dir) => {
      val assets = Multimodal.toAssets(t(s, dir)("documents"), "doc_id", "text", "text/plain")
      Multimodal.extractFeatures(assets, dim = 8)
        .select(col("asset_id"), col("media_type"), col("n_bytes").cast("long").as("n_bytes"),
          col("checksum"), size(col("features")).cast("long").as("feat_dim"))
        .orderBy(col("asset_id"))
    }),

    "q_multimodal_decode" -> ((s, dir) => {
      // REAL image decode through the JDK's bundled PNG codec: synthesize a
      // deterministic PNG per doc (closed-form channel values), decode it
      // back with javax.imageio partition-parallel, and emit per-channel
      // means — the oracle recomputes the same means arithmetically, so the
      // gate proves encode→PNG→decode is lossless through a real codec
      val mk = udf((id: Long) =>
        Multimodal.syntheticPng(id, (16 + id % 8).toInt, 16))
      val assets = t(s, dir)("documents").filter(col("doc_id") < 100)
        .select(col("doc_id").as("asset_id"), mk(col("doc_id")).as("payload"))
      Multimodal.decodeImageFeatures(assets)
        .select(col("asset_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          round(col("mean_r"), 4).as("mean_r"),
          round(col("mean_g"), 4).as("mean_g"),
          round(col("mean_b"), 4).as("mean_b"))
        .orderBy(col("asset_id"))
    }),

    "q_multimodal_audio" -> ((s, dir) => {
      // REAL audio decode through the JDK's bundled WAV codec: synthesize a
      // deterministic 16-bit PCM WAV per doc (closed-form sample values),
      // parse it back with javax.sound.sampled partition-parallel, and emit
      // header + amplitude features — the oracle recomputes the same values
      // arithmetically, proving encode→WAV→decode is lossless through a
      // real codec
      val mk = udf((id: Long) =>
        Multimodal.syntheticWav(id, (400 + id % 5 * 80).toInt))
      val assets = t(s, dir)("documents").filter(col("doc_id") < 60)
        .select(col("doc_id").as("asset_id"), mk(col("doc_id")).as("payload"))
      Multimodal.decodeAudioFeatures(assets)
        .select(col("asset_id"),
          col("sample_rate"),
          col("channels").cast("long").as("channels"),
          col("bits").cast("long").as("bits"),
          col("n_frames"),
          round(col("duration_s"), 4).as("duration_s"),
          round(col("mean_abs"), 4).as("mean_abs"),
          round(col("rms"), 4).as("rms"),
          col("peak").cast("long").as("peak"))
        .orderBy(col("asset_id"))
    }),

    "q_multimodal_video" -> ((s, dir) => {
      // REAL video frame sampling through the JDK's bundled GIF codec:
      // synthesize a deterministic ANIMATED gif per doc (two closed-form
      // solid colors per frame — exact through the 2-entry palette), decode
      // every 2nd frame partition-parallel, and emit per-frame channel
      // means — the oracle recomputes the same means arithmetically,
      // proving encode→GIF→frame-decode is lossless through a real codec
      val mk = udf((id: Long) =>
        Multimodal.syntheticGif(id, (12 + id % 4).toInt, 8, (3 + id % 3).toInt))
      val assets = t(s, dir)("documents").filter(col("doc_id") < 60)
        .select(col("doc_id").as("asset_id"), mk(col("doc_id")).as("payload"))
      Multimodal.sampleVideoFrames(assets, stride = 2)
        .select(col("asset_id"), col("frame_no"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          round(col("mean_r"), 4).as("mean_r"),
          round(col("mean_g"), 4).as("mean_g"),
          round(col("mean_b"), 4).as("mean_b"))
        .orderBy(col("asset_id"), col("frame_no"))
    })
  ) ++ QaSuites.queries ++ winRound4Queries ++ DrillFrameclause.queries ++
    DrillAggregates.queries ++ DrillLeadLag.queries ++
    DrillMultiPartitions.queries ++ DrillNestedAggs.queries ++
    DrillWindowMisc.queries ++ QaSqlBatteries.queries ++
    CalciteJoinShapes.queries ++ SqlQuidemShapes.queries ++ MvdGates.queries

  // =========================================================================
  // DuckDB oracles (ANSI SQL over the same parquet tables)
  // =========================================================================
  def oracleSql: Map[String, String] = Map(
    // drill window corpus gates: oracle = the IDENTICAL SQL text the Spark
    // gate runs (engine-portable ANSI window SQL)
    "q_drill_window_rbupacr" -> drillSql("rbupacr"),
    "q_drill_window_rbcracr" -> drillSql("rbcracr"),
    "q_drill_window_rbupauf" -> drillSql("rbupauf"),
    "q_drill_window_default_frame" -> drillSql("default_frame"),
    "q_drill_window_multi" -> drillSql("multi"),
    "q_drill_window_nested_aggs" -> drillSql("nested_aggs"),
    "q_drill_window_ntile" -> drillSql("ntile"),
    "q_drill_window_lag_lead" -> drillSql("lag_lead"),
    "q_drill_window_first_last" -> drillSql("first_last"),
    "q_drill_window_empty_over" -> drillSql("empty_over"),
    "q_drill_window_subquery" -> drillSql("subquery"),
    "q_drill_window_agg_outer" -> drillSql("agg_outer"),
    "q_random_consistency" -> consistencySql(seed = 42L, n = 24),
    "q_tpch_q01" -> tpchSql("q01"),
    "q_tpch_q06" -> tpchSql("q06"),
    "q_tpch_q14" -> tpchSql("q14"),
    "q_tpch_q15" -> tpchSql("q15"),
    "q_tpch_q17" -> tpchSql("q17"),
    "q_tpch_q19" -> tpchSql("q19"),
    "q_tpch_q22" -> tpchSql("q22"),
    "q_tpch_q02" -> tpchSql("q02"),
    "q_tpch_q03" -> tpchSql("q03"),
    "q_tpch_q04" -> tpchSql("q04"),
    "q_tpch_q05" -> tpchSql("q05"),
    "q_tpch_q07" -> tpchSql("q07"),
    "q_tpch_q08" -> tpchSql("q08"),
    "q_tpch_q09" -> tpchSql("q09"),
    "q_tpch_q10" -> tpchSql("q10"),
    "q_tpch_q11" -> tpchSql("q11"),
    "q_tpch_q12" -> tpchSql("q12"),
    "q_tpch_q13" -> tpchSql("q13"),
    "q_tpch_q16" -> tpchSql("q16"),
    "q_tpch_q18" -> tpchSql("q18"),
    "q_tpch_q20" -> tpchSql("q20"),
    "q_tpch_q21" -> tpchSql("q21"),
    "q_tpch_q01_decimal" -> tpchSql("q01_decimal"),
    "q_tpch_q06_decimal" -> tpchSql("q06_decimal"),
    "q_drill_window_const_args" -> drillSql("const_args"),
    "q_drill_window_rank_orderby" -> drillSql("rank_orderby"),
    "q_drill_window_nestagg_frames" -> drillSql("nested_agg_frames"),
    "q_drill_window_named_scope" -> drillSql("named_scope"),
    "q_qa_unnest_earliest" ->
      """SELECT w AS word, count(*) AS cnt,
                min_by(event_id, event_id) AS first_id,
                max_by(event_id, event_id) AS last_id,
                min_by(user_id, event_id) AS first_user,
                max_by(user_id, event_id) AS last_user
         FROM (SELECT event_id, user_id,
                      unnest(string_split(event_type || '_' ||
                        CAST(event_id % 7 AS VARCHAR), '_')) AS w
               FROM events WHERE user_id < 50)
         GROUP BY w ORDER BY w""",

    "q_sql_unnest_multi" ->
      """SELECT w1, w2, count(*) AS n
         FROM (SELECT string_split(p_name, ' ') AS words,
                      string_split(p_type, ' ') AS types
               FROM part WHERE p_partkey <= 200) t,
              unnest(words) AS u1(w1), unnest(types) AS u2(w2)
         GROUP BY w1, w2 HAVING count(*) > 2 ORDER BY w1, w2""",

    "q_sql_orderby_window" ->
      """SELECT n_name, CAST(RANK() OVER (PARTITION BY n_regionkey
                ORDER BY n_name) AS BIGINT) AS rnk
         FROM nation
         ORDER BY ROW_NUMBER() OVER (ORDER BY n_nationkey DESC) LIMIT 10""",
    "q_drill_window_mixed_over" -> drillSql("mixed_over"),
    "q_drill_window_ntile_nested" -> drillSql("ntile_nested"),
    "q_drill_window_firstval_mixed" -> drillSql("firstval_mixed"),
    "q_drill_window_stat_aggs" -> drillSql("stat_aggs"),
    "q_drill_window_array_part" ->
      """SELECT c_custkey, c_mktsegment,
                CAST(ROW_NUMBER() OVER (PARTITION BY ARRAY[1, 2,
                  length(c_mktsegment)] ORDER BY c_custkey) AS BIGINT) AS rn
         FROM customer WHERE c_custkey < 400
         ORDER BY c_custkey""",
    "q_drill_window_lastval" -> drillSql("lastval_peers"),
    "q_drill_window_lead_only" -> drillSql("lead_only"),
    "q_drill_window_lead_offset" -> drillSql("lead_offset_default"),
    "q_drill_window_shared_named" -> drillSql("shared_named"),
    "q_drill_window_multipart_arith" -> drillSql("multipart_arith"),
    "q_drill_window_multipart_cast" -> drillSql("multipart_cast"),
    "q_drill_window_orderonly" -> drillSql("orderonly_running"),
    "q_drill_window_cumedist" -> drillSql("cumedist_orderonly"),
    "q_drill_window_partonly" -> drillSql("partonly_sum"),
    "q_drill_window_join_outer" -> drillSql("join_outer_window"),
    "q_drill_window_join_subq" -> drillSql("join_windowed_subq"),
    "q_drill_window_multi_parts" -> drillSql("multi_over_parts"),
    "q_drill_window_null_args" -> drillSql("nulls_in_args"),
    "q_drill_window_frames_subq" -> drillSql("frames_in_subq"),
    "q_drill_window_rank_filtered" -> drillSql("rank_filtered"),
    "q_drill_window_runmax" -> drillSql("runmax_orderonly"),
    "q_drill_window_lag_dates" -> drillSql("lag_dates"),
    "q_drill_window_ntile_overflow" -> drillSql("ntile_overflow"),
    "q_drill_window_firstval_sliding" -> drillSql("firstval_sliding"),
    "q_drill_window_share_total" -> drillSql("share_of_total"),
    "q_drill_window_lead_expr" -> drillSql("lead_expr"),
    "q_drill_tpcds_q53" -> drillSql("tpcds_q53"),
    "q_drill_tpcds_q51" -> drillSql("tpcds_q51"),
    "q_ssb_q1" -> drillSql("ssb_q1"),
    "q_ssb_q2" -> drillSql("ssb_q2"),
    "q_ssb_q3" -> drillSql("ssb_q3"),
    "q_ssb_q4" -> drillSql("ssb_q4"),
    "q_ssb_q1_0" -> drillSql("ssb_q1_0"),
    "q_ssb_q3_0" -> drillSql("ssb_q3_0"),
    "q_ssb_q3_3" -> drillSql("ssb_q3_3"),
    "q_ssb_q4_2" -> drillSql("ssb_q4_2"),
    // DOUBLE → BIGINT truncates in Calcite/Druid and Spark; DuckDB's CAST
    // rounds, so the oracle truncates explicitly
    "q_sql_interval_precision" ->
      """SELECT count(*) AS n,
                CAST(trunc(sum(CAST(l_quantity AS DOUBLE)) / 7.0) AS BIGINT) AS avg7
         FROM lineitem
         WHERE l_shipdate <= DATE '1998-12-01' - INTERVAL 63 DAY""",
    "q_sql_date_trunc_units" ->
      """SELECT '1980-01-01 00:00:00' AS dec_u,
                '1970-01-01 00:00:00' AS cen_u,
                '1970-01-01 00:00:00' AS mil_u,
                '1987-04-01 00:00:00' AS qtr_u,
                '1987-06-15 00:00:00' AS wk_u,
                '1987-06-15 10:00:00.123' AS ms_u,
                '1987-06-15 10:00:00' AS hr_u,
                550749600::BIGINT AS x_epoch,
                3::BIGINT AS x_dow,
                7::BIGINT AS x_isodow,
                198::BIGINT AS x_decade,
                789::BIGINT AS x_ms,
                '1980-01-01 00:00:00' AS f_dec,
                '1990-01-01 00:00:00' AS c_dec,
                '2070-01-01 00:00:00' AS c_cen""",

    "q_qa_sql_aggr_general_having" ->
      """SELECT CAST(time_bucket(INTERVAL '1 hour', ts) AS VARCHAR) AS t,
                count(*) + 1 AS c1,
                count(DISTINCT event_type) + 1 AS cd,
                CAST(min(time_bucket(INTERVAL '1 hour', ts))
                  + INTERVAL '1 year' AS VARCHAR) AS mn_y,
                CAST(max(time_bucket(INTERVAL '1 hour', ts))
                  + INTERVAL '1 year' AS VARCHAR) AS mx_y,
                CAST(floor(avg(user_id) + 1) AS BIGINT) AS av1
         FROM events
         GROUP BY time_bucket(INTERVAL '1 hour', ts)
         HAVING time_bucket(INTERVAL '1 hour', ts)
           BETWEEN TIMESTAMP '2024-01-02 00:00:00' AND TIMESTAMP '2024-01-03 00:00:00'
         ORDER BY t""",

    "q_drill_tpcds_rank_peers" ->
      """SELECT 1::BIGINT AS pr_vals, 0.0::DOUBLE AS pr_max,
                1::BIGINT AS cd_vals, 1.0::DOUBLE AS cd_min,
                1::BIGINT AS dr_vals, 1::BIGINT AS dr_max,
                (SELECT count(*) FROM customer c, orders o
                 WHERE c.c_custkey = o.o_custkey
                   AND o.o_custkey < 500) AS sum_peers""",

    "q_drill_tpcds_q47" -> drillSql("tpcds_q47"),
    "q_drill_tpcds_q57" -> drillSql("tpcds_q57"),
    "q_drill_tpcds_q63" -> drillSql("tpcds_q63"),
    "q_scan" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_shipdate
         FROM lineitem
         WHERE l_quantity > 45 AND l_shipdate >= TIMESTAMP '1994-01-01'
           AND l_shipdate < TIMESTAMP '1996-01-01'
         ORDER BY l_orderkey, l_linenumber LIMIT 500""",

    "q_scan_desc" ->
      """SELECT event_id, event_type, value FROM events
         WHERE event_type = 'click'
         ORDER BY event_id DESC LIMIT 200""",

    "q_scan_offset" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
         WHERE o_orderstatus = 'F'
         ORDER BY o_orderkey LIMIT 100 OFFSET 50""",

    "q_time_boundary" ->
      """SELECT date_trunc('second', min(ts)) AS min_time,
                date_trunc('second', max(ts)) AS max_time FROM events""",

    "q_datasource_metadata" ->
      """SELECT count(*) AS num_rows,
                date_trunc('second', max(ts)) AS max_ingested_time FROM events""",

    "q_timeseries_hour" ->
      """SELECT date_trunc('hour', ts) AS bucket, count(*) AS n,
                round(sum(value), 3) AS sum_value
         FROM events GROUP BY 1 ORDER BY 1""",

    "q_timeseries_subsecond" ->
      """SELECT (epoch_ns(ts) // 500000000) * 500 AS bucket_ms,
                CAST(count(*) AS BIGINT) AS n
         FROM events
         WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
         GROUP BY 1 ORDER BY 1""",

    "q_timeseries_gaps" ->
      """WITH g AS (
           SELECT unnest(generate_series(TIMESTAMP '2024-01-01',
                                         TIMESTAMP '2024-01-30',
                                         INTERVAL 1 DAY)) AS timestamp),
         b AS (
           SELECT date_trunc('day', ts) AS timestamp,
                  CAST(count(*) AS BIGINT) AS n, round(sum(value), 3) AS sv
           FROM events WHERE event_type = 'purchase' AND value >= 300
           GROUP BY 1)
         SELECT g.timestamp, coalesce(b.n, 0) AS n, b.sv AS sv
         FROM g LEFT JOIN b ON b.timestamp = g.timestamp
         ORDER BY g.timestamp""",

    "q_moving_avg_gaps" ->
      """WITH g AS (
           SELECT unnest(generate_series(TIMESTAMP '2024-01-01',
                                         TIMESTAMP '2024-01-30',
                                         INTERVAL 1 DAY)) AS timestamp),
         b AS (
           SELECT date_trunc('day', ts) AS timestamp, sum(value) AS dv
           FROM events WHERE event_type = 'purchase' AND value >= 300
           GROUP BY 1),
         d AS (SELECT g.timestamp, b.dv
               FROM g LEFT JOIN b ON b.timestamp = g.timestamp)
         SELECT timestamp, round(dv, 3) AS dv,
                round(sum(dv) OVER w / 7, 3) AS ma7,
                round(max(dv) OVER w, 3) AS mx7
         FROM d
         WINDOW w AS (ORDER BY timestamp ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
         ORDER BY timestamp""",

    "q_window_sparse_range" ->
      """WITH b AS (
           SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
                  sum(value) AS dv
           FROM events WHERE value > 250 GROUP BY 1, 2),
         d AS (SELECT *, datediff('day', DATE '1970-01-01', day) AS day_num
               FROM b)
         SELECT event_type, day, round(dv, 3) AS dv,
                round(sum(dv) OVER w, 3) AS s3,
                CAST(count(*) OVER w AS BIGINT) AS rows3
         FROM d
         WINDOW w AS (PARTITION BY event_type ORDER BY day_num
                      RANGE BETWEEN 2 PRECEDING AND CURRENT ROW)
         ORDER BY event_type, day""",

    "q_timeseries_zerofill" ->
      """WITH buckets AS (
           SELECT unnest(generate_series(TIMESTAMP '2024-01-01',
                                         TIMESTAMP '2024-01-08',
                                         INTERVAL 1 DAY)) AS bucket),
         agg AS (
           SELECT date_trunc('day', ts) AS bucket, count(*) AS n
           FROM events
           WHERE event_type = 'signup' AND ts >= TIMESTAMP '2024-01-01'
             AND ts < TIMESTAMP '2024-01-09'
           GROUP BY 1)
         SELECT b.bucket, coalesce(a.n, 0) AS n
         FROM buckets b LEFT JOIN agg a ON a.bucket = b.bucket
         ORDER BY b.bucket""",

    "q_topn" ->
      """SELECT user_id, count(*) AS n, round(sum(value), 3) AS sum_value
         FROM events GROUP BY user_id
         ORDER BY n DESC, user_id LIMIT 20""",

    "q_topn_inverted" ->
      """SELECT user_id, count(*) AS n FROM events GROUP BY user_id
         ORDER BY n ASC, user_id ASC LIMIT 15""",

    "q_topn_approx" ->
      """SELECT user_id, count(*) AS n FROM events GROUP BY user_id
         ORDER BY n DESC, user_id ASC LIMIT 20""",

    "q_join_cross" ->
      """SELECT r_name, n_name FROM region CROSS JOIN nation
         ORDER BY r_name, n_name""",

    "q_dedup_families" ->
      """SELECT doc_id FROM (
           SELECT doc_id, min(doc_id) OVER (PARTITION BY text) AS m
           FROM documents)
         WHERE doc_id = m ORDER BY doc_id""",

    "q_text_redact" ->
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS len_raw,
                CAST(length(regexp_replace(regexp_replace(text,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'),
                  '[0-9]{3,}', '<NUM>', 'g')) AS BIGINT) AS len_masked,
                length(regexp_replace(regexp_replace(text,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'),
                  '[0-9]{3,}', '<NUM>', 'g')) <> length(text) AS changed
         FROM documents ORDER BY doc_id""",

    "q_dedup_contamination" ->
      """WITH cg AS (
           SELECT DISTINCT array_to_string(list_slice(toks, i+1, i+8), ' ') AS g
           FROM (SELECT string_split_regex(text, '\s+') AS toks
                 FROM documents WHERE doc_id % 10 < 8),
                unnest(generate_series(0, len(toks) - 8)) AS t(i)
           WHERE len(toks) >= 8),
         pg AS (
           SELECT DISTINCT doc_id,
                  array_to_string(list_slice(toks, i+1, i+8), ' ') AS g
           FROM (SELECT doc_id, string_split_regex(text, '\s+') AS toks
                 FROM documents WHERE doc_id % 10 >= 8),
                unnest(generate_series(0, len(toks) - 8)) AS t(i)
           WHERE len(toks) >= 8)
         SELECT pg.doc_id, count(*) AS matched
         FROM pg JOIN cg USING (g)
         GROUP BY pg.doc_id ORDER BY pg.doc_id""",

    "q_sample_stratified" ->
      """SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
         FROM documents
         WHERE (doc_id * 2654435761) % 4294967296 / 4294967296.0 <
               CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.1 ELSE 0.02 END
         GROUP BY lang ORDER BY lang""",

    "q_sample_temperature" ->
      """WITH sizes AS (SELECT lang, CAST(count(*) AS DOUBLE) AS c
                        FROM documents GROUP BY lang),
            tot AS (SELECT sum(c) AS n, sum(pow(c, 0.5)) AS d FROM sizes),
            rates AS (SELECT lang,
                             round(0.3 * (SELECT n FROM tot) /
                               (SELECT d FROM tot) * pow(c, -0.5), 6) AS r
                      FROM sizes)
         SELECT d.lang, count(*) AS n, CAST(sum(d.n_chars) AS BIGINT) AS chars
         FROM documents d JOIN rates USING (lang)
         WHERE (d.doc_id * 2654435761) % 4294967296 / 4294967296.0 < r
         GROUP BY d.lang ORDER BY d.lang""",

    "q_dedup_contamination_score" ->
      """WITH cg AS (
           SELECT DISTINCT array_to_string(list_slice(toks, i+1, i+8), ' ') AS g
           FROM (SELECT string_split_regex(text, '\s+') AS toks
                 FROM documents WHERE doc_id % 10 < 8),
                unnest(generate_series(0, len(toks) - 8)) AS t(i)
           WHERE len(toks) >= 8),
         pg AS (
           SELECT DISTINCT doc_id,
                  array_to_string(list_slice(toks, i+1, i+8), ' ') AS g
           FROM (SELECT doc_id, string_split_regex(text, '\s+') AS toks
                 FROM documents WHERE doc_id % 10 >= 8),
                unnest(generate_series(0, len(toks) - 8)) AS t(i)
           WHERE len(toks) >= 8),
         totals AS (SELECT doc_id, count(*) AS total FROM pg GROUP BY doc_id),
         matches AS (SELECT pg.doc_id, count(*) AS matched
                     FROM pg JOIN cg USING (g) GROUP BY pg.doc_id)
         SELECT t.doc_id, COALESCE(m.matched, 0) AS matched, t.total,
                round(CAST(COALESCE(m.matched, 0) AS DOUBLE) / t.total, 6)
                  AS score
         FROM totals t LEFT JOIN matches m ON m.doc_id = t.doc_id
         ORDER BY t.doc_id""",

    "q_text_unicode" ->
      """SELECT t, length(t) AS n_chars, upper(t) AS up, reverse(t) AS rev,
                substring(t, 2, 3) AS sub
         FROM (VALUES ('héllo wörld'), ('中文字符串'), ('emoji 👍🎉 test'),
                      ('Ñandú crème brûlée'), ('русский текст')) v(t)
         ORDER BY t""",

    "q_text_chunk" ->
      """SELECT doc_id, i AS chunk_idx,
                array_to_string(list_slice(toks, i*40+1, i*40+50), ' ') AS chunk_text,
                len(list_slice(toks, i*40+1, i*40+50)) AS n_tokens
         FROM (SELECT doc_id, string_split_regex(text, '\s+') AS toks
               FROM documents WHERE doc_id < 2000),
              unnest(generate_series(0,
                greatest(1, CAST(ceil((len(toks) - 10) / 40.0) AS INT)) - 1)) AS t(i)
         ORDER BY doc_id, chunk_idx""",

    "q_sample_hash" ->
      """SELECT o_orderpriority, count(*) AS n,
                round(CAST(sum(o_totalprice) AS DOUBLE), 2) AS sum_price
         FROM orders
         WHERE (o_orderkey * 2654435761) % 4294967296 < 429496730
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "q_agg_firstlast_refold" ->
      """SELECT event_type, round(arg_min(value, ts), 3) AS first_value,
                round(arg_max(value, ts), 3) AS last_value
         FROM events GROUP BY event_type ORDER BY event_type""",

    "q_sketch_tuple" ->
      """SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
                round(sum(value), 3) AS sum_value, count(*) AS n_rows
         FROM events GROUP BY event_type ORDER BY event_type""",

    // ---- self-asserting estimate gates: the engine emits exact values +
    // ---- error-bound booleans; the oracle reproduces the exact values and
    // ---- emits TRUE for each bound (reference sketch tests assert the
    // ---- same within-epsilon shape)
    "q_agg_approx_distinct" ->
      """SELECT l_returnflag,
                CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_part_exact,
                TRUE AS approx_ok
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q_agg_quantile_approx" ->
      """SELECT o_orderpriority, count(*) AS n, TRUE AS p50_ok
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "q_sketch_hll" ->
      """SELECT event_type,
                CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_exact,
                count(*) AS n, TRUE AS hll_ok
         FROM events GROUP BY event_type ORDER BY event_type""",

    "q_qa_json_object_variadic" ->
      """SELECT event_id,
                CAST(json_object('id', event_id, 'type', event_type,
                                 'flag', CASE WHEN event_id % 2 = 0
                                              THEN 1 ELSE 0 END,
                                 'half', CAST(event_id AS DOUBLE) / 2,
                                 'maybe', CASE WHEN event_id % 3 = 0
                                               THEN NULL ELSE event_type END)
                  AS VARCHAR) AS obj
         FROM events WHERE event_id < 50 ORDER BY event_id""",

    "q_agg_bigdecimal" ->
      """SELECT l_returnflag,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(38,10))) AS VARCHAR)
                  AS dec_sum,
                CAST(CAST(sum(CAST(l_tax AS DECIMAL(38,10)))
                  - sum(CAST(l_discount AS DECIMAL(38,10)))
                  AS DECIMAL(38,10)) AS VARCHAR) AS dec_net
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q_ingest_sketch_rollup" ->
      """SELECT event_type,
                CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_exact,
                count(*) AS n, TRUE AS hll_ok
         FROM events GROUP BY event_type ORDER BY event_type""",

    "q_sketch_kll" ->
      """SELECT l_returnflag, count(*) AS n, TRUE AS p50_ok, TRUE AS p95_ok,
                TRUE AS rank30_ok
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q_sketch_tdigest" ->
      """SELECT l_returnflag, count(*) AS n, TRUE AS p50_ok, TRUE AS p99_ok,
                TRUE AS cdf30_ok
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q_sketch_kll_dist" ->
      """SELECT l_returnflag, count(*) AS n, TRUE AS cdf20_ok,
                TRUE AS bin_mid_ok, TRUE AS p75_ok
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q_sketch_theta_setops" ->
      """WITH u AS (
           SELECT user_id,
                  max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS isp,
                  max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS isc
           FROM events WHERE event_type IN ('purchase', 'click')
           GROUP BY user_id)
         SELECT CAST(sum(isp) AS BIGINT) AS purchase_users,
                CAST(sum(isc) AS BIGINT) AS click_users,
                CAST(sum(CASE WHEN isp = 1 AND isc = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS both_users,
                count(*) AS either_users,
                CAST(sum(CASE WHEN isp = 1 AND isc = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS purchase_only_users,
                TRUE AS p_ok, TRUE AS l_ok, TRUE AS both_ok,
                TRUE AS union_ok, TRUE AS not_ok
         FROM u""",

    "q_sql_sketch_surface" ->
      """WITH u AS (
           SELECT user_id,
                  max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS isp,
                  max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS isc
           FROM events WHERE event_type IN ('purchase', 'click')
           GROUP BY user_id),
         q AS (SELECT count(*) AS n_events FROM events
               WHERE event_type IN ('purchase', 'click'))
         SELECT CAST(sum(isp) AS BIGINT) AS purchase_users,
                CAST(sum(CASE WHEN isp = 1 AND isc = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS both_users,
                count(*) AS either_users,
                CAST(sum(CASE WHEN isp = 1 AND isc = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS purchase_only_users,
                (SELECT n_events FROM q) AS n_events,
                TRUE AS theta_union_ok, TRUE AS theta_intersect_ok,
                TRUE AS theta_not_ok, TRUE AS theta_bounds_ok,
                TRUE AS hll_union_ok, TRUE AS hll_bounds_ok,
                TRUE AS hll_str_ok, TRUE AS tuple_union_ok,
                TRUE AS tuple_intersect_ok, TRUE AS aq_ok, TRUE AS fb_ok
         FROM u""",

    "q_sketch_bloom" ->
      """SELECT c_nationkey,
                count(CASE WHEN c_acctbal > 5000 THEN 1 END) AS n_high,
                TRUE AS no_false_neg, TRUE AS fp_ok
         FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""",

    "q_dedup_minhash" ->
      """WITH grams AS (
           SELECT doc_id, unnest(list_distinct(list_transform(
             range(1, len(string_split(norm, ' ')) - 1),
             i -> array_to_string(string_split(norm, ' ')[i:i+2], ' ')))) AS g
           FROM (SELECT doc_id,
                        trim(regexp_replace(regexp_replace(lower(text),
                          '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
                 FROM documents)),
         sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id),
         inter AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
           FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
         SELECT id_a, id_b,
                round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 6) AS jaccard,
                TRUE AS detected_ok, TRUE AS recall_ok, TRUE AS fp_ok
         FROM inter JOIN sizes sa ON sa.doc_id = id_a
                    JOIN sizes sb ON sb.doc_id = id_b
         WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5
         ORDER BY id_a, id_b""",

    "q_dedup_simhash" ->
      """WITH grams AS (
           SELECT doc_id, source, unnest(list_distinct(list_transform(
             range(1, len(string_split(norm, ' ')) - 1),
             i -> array_to_string(string_split(norm, ' ')[i:i+2], ' ')))) AS g
           FROM (SELECT doc_id, source,
                        trim(regexp_replace(regexp_replace(lower(text),
                          '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
                 FROM documents)),
         sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id),
         inter AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
           FROM grams a JOIN grams b
             ON a.g = b.g AND a.source = b.source AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
         SELECT id_a, id_b,
                round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 6) AS jaccard,
                TRUE AS detected, TRUE AS fp_ok
         FROM inter JOIN sizes sa ON sa.doc_id = id_a
                    JOIN sizes sb ON sb.doc_id = id_b
         WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5
         ORDER BY id_a, id_b""",

    "q_embed_ann_lsh" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec
                    FROM embeddings WHERE vec_id < 50),
         c AS (SELECT vec_id AS n_id, embedding AS n_vec FROM embeddings),
         sims AS (
           SELECT q_id, n_id,
             list_sum(list_transform(range(1, 65),
               i -> CAST(q_vec[i] AS DOUBLE) * CAST(n_vec[i] AS DOUBLE))) /
             (sqrt(list_sum(list_transform(range(1, 65),
                i -> CAST(q_vec[i] AS DOUBLE) * CAST(q_vec[i] AS DOUBLE)))) *
              sqrt(list_sum(list_transform(range(1, 65),
                i -> CAST(n_vec[i] AS DOUBLE) * CAST(n_vec[i] AS DOUBLE)))))
               AS sim
           FROM c, q WHERE q_id <> n_id),
         ranked AS (
           SELECT q_id, n_id, sim,
                  row_number() OVER (PARTITION BY q_id
                                     ORDER BY round(sim, 4) DESC, n_id) AS rk
           FROM sims),
         topk AS (SELECT q_id, round(sim, 4) AS sim FROM ranked WHERE rk <= 5)
         SELECT CAST(count(DISTINCT q_id) AS BIGINT) AS n_queries,
                round(avg(sim), 4) AS exact_mean_topk_sim, TRUE AS recall_ok
         FROM topk""",

    "q_embed_ann_ivf" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec
                    FROM embeddings WHERE vec_id < 20),
         c AS (SELECT vec_id AS n_id, embedding AS n_vec FROM embeddings),
         sims AS (
           SELECT q_id, n_id,
             list_sum(list_transform(range(1, 65),
               i -> CAST(q_vec[i] AS DOUBLE) * CAST(n_vec[i] AS DOUBLE))) /
             (sqrt(list_sum(list_transform(range(1, 65),
                i -> CAST(q_vec[i] AS DOUBLE) * CAST(q_vec[i] AS DOUBLE)))) *
              sqrt(list_sum(list_transform(range(1, 65),
                i -> CAST(n_vec[i] AS DOUBLE) * CAST(n_vec[i] AS DOUBLE)))))
               AS sim
           FROM c, q WHERE q_id <> n_id),
         ranked AS (
           SELECT q_id, n_id, sim,
                  row_number() OVER (PARTITION BY q_id
                                     ORDER BY round(sim, 4) DESC, n_id) AS rk
           FROM sims),
         topk AS (SELECT q_id, round(sim, 4) AS sim FROM ranked WHERE rk <= 5)
         SELECT CAST(count(DISTINCT q_id) AS BIGINT) AS n_queries,
                round(avg(sim), 4) AS exact_mean_topk_sim, TRUE AS recall_ok
         FROM topk""",

    "q_embed_ann_pq" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec
                    FROM embeddings WHERE vec_id < 20),
         c AS (SELECT vec_id AS n_id, embedding AS n_vec FROM embeddings),
         sims AS (
           SELECT q_id, n_id,
             list_sum(list_transform(range(1, 65),
               i -> CAST(q_vec[i] AS DOUBLE) * CAST(n_vec[i] AS DOUBLE))) /
             (sqrt(list_sum(list_transform(range(1, 65),
                i -> CAST(q_vec[i] AS DOUBLE) * CAST(q_vec[i] AS DOUBLE)))) *
              sqrt(list_sum(list_transform(range(1, 65),
                i -> CAST(n_vec[i] AS DOUBLE) * CAST(n_vec[i] AS DOUBLE)))))
               AS sim
           FROM c, q WHERE q_id <> n_id),
         ranked AS (
           SELECT q_id, n_id, sim,
                  row_number() OVER (PARTITION BY q_id
                                     ORDER BY round(sim, 4) DESC, n_id) AS rk
           FROM sims),
         topk AS (SELECT q_id, round(sim, 4) AS sim FROM ranked WHERE rk <= 5)
         SELECT CAST(count(DISTINCT q_id) AS BIGINT) AS n_queries,
                round(avg(sim), 4) AS exact_mean_topk_sim, TRUE AS recall_ok
         FROM topk""",

    "q_source_mvd" ->
      """SELECT w, count(*) AS n, CAST(sum(p_partkey) AS BIGINT) AS key_sum
         FROM part, unnest(string_split(p_name, ' ')) AS t(w)
         GROUP BY w ORDER BY w""",

    "q_source_tsv" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 3) AS sum_value
         FROM events GROUP BY event_type ORDER BY event_type""",

    "q_agg_arrayconcat" ->
      """WITH toks AS (SELECT p_brand, unnest(string_split(p_type, ' ')) AS w
                       FROM part),
              agg AS (SELECT p_brand,
                             string_agg(DISTINCT w, ',' ORDER BY w) AS words
                      FROM toks GROUP BY p_brand),
              cnt AS (SELECT p_brand, count(*) AS n FROM part GROUP BY p_brand)
         SELECT cnt.p_brand, words, n FROM cnt JOIN agg USING (p_brand)
         ORDER BY p_brand""",

    "q_retention" ->
      """WITH fd AS (SELECT user_id, CAST(min(ts) AS DATE) AS cohort_day
                     FROM events GROUP BY user_id),
              ad AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
                     FROM events),
              ret AS (SELECT fd.user_id, fd.cohort_day
                      FROM fd JOIN ad USING (user_id)
                      WHERE ad.day = fd.cohort_day + 7)
         SELECT fd.cohort_day, count(*) AS cohort_size,
                CAST(coalesce((SELECT count(*) FROM ret
                               WHERE ret.cohort_day = fd.cohort_day), 0)
                  AS BIGINT) AS n_retained
         FROM fd GROUP BY fd.cohort_day ORDER BY fd.cohort_day""",

    "q_funnel" ->
      """WITH fv AS (SELECT user_id, min(ts) AS first_view FROM events
                     WHERE event_type = 'view' GROUP BY user_id),
              conv AS (SELECT DISTINCT fv.user_id
                       FROM fv JOIN events p USING (user_id)
                       WHERE p.event_type = 'purchase'
                         AND p.ts >= fv.first_view
                         AND p.ts <= fv.first_view + INTERVAL 1 HOUR)
         SELECT (SELECT count(*) FROM fv) AS n_viewers,
                (SELECT count(*) FROM conv) AS n_converted,
                round((SELECT count(*) FROM conv) * 1.0 /
                      (SELECT count(*) FROM fv), 4) AS conv_rate""",

    "q_sessionize" ->
      """WITH gaps AS (
           SELECT user_id, ts,
                  CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                       THEN 1 ELSE 0 END AS brk
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         sess AS (
           SELECT user_id,
                  sum(brk) OVER (PARTITION BY user_id ORDER BY ts) AS session_no
           FROM gaps),
         per_session AS (
           SELECT user_id, session_no, count(*) AS n_events
           FROM sess GROUP BY user_id, session_no)
         SELECT user_id, count(*) AS n_sessions,
                max(n_events) AS longest_session
         FROM per_session GROUP BY user_id
         HAVING count(*) >= 3 ORDER BY user_id""",

    "q_session_window" ->
      """WITH e AS (SELECT user_id, ts, value FROM events WHERE user_id < 40),
         x AS (
           SELECT user_id, ts, value,
                  CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch(ts) - epoch(lag(ts) OVER w) >= 1800
                       THEN 1 ELSE 0 END AS brk
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         s AS (
           SELECT user_id, ts, value,
                  sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                    ROWS UNBOUNDED PRECEDING) AS sid
           FROM x)
         SELECT user_id,
                date_trunc('second', min(ts)) AS session_start,
                count(*) AS n_events,
                CAST(round(sum(CAST(value AS DECIMAL(18,6))), 3) AS DOUBLE) AS sum_v
         FROM s GROUP BY user_id, sid
         ORDER BY user_id, session_start""",

    "q_sample_cap_per_key" ->
      """SELECT source, count(*) AS n_kept,
                min(doc_id) AS first_doc, max(doc_id) AS last_doc
         FROM (SELECT source, doc_id,
                      row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
               FROM documents)
         WHERE rn <= 5 GROUP BY source ORDER BY source""",

    "q_qa_kttm_stackarea" ->
      """SELECT date_trunc('hour', ts) AS h,
                FLOOR(CAST(value AS DOUBLE) / 0.5) * 0.5 AS bin,
                CAST(count(*) AS BIGINT) AS n
         FROM events
         WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
           AND ts < TIMESTAMP '2024-01-12 00:00:00'
           AND CAST(value AS DOUBLE) >= 0.5 AND CAST(value AS DOUBLE) < 3.0
         GROUP BY 1, 2
         ORDER BY h, bin""",

    "q_timewarp" ->
      """SELECT date_trunc('day', ts) + INTERVAL 7 DAY AS bucket,
                count(*) AS n, round(sum(value), 3) AS sum_value
         FROM events
         WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-08'
         GROUP BY 1 ORDER BY 1""",

    "q_topn_dim_order" ->
      """SELECT p_type, count(*) AS n, CAST(sum(p_size) AS BIGINT) AS sum_size
         FROM part GROUP BY p_type ORDER BY p_type ASC LIMIT 4""",

    "q_sql_quoted_idents" ->
      """SELECT "t"."event_type" AS "type", CAST(COUNT(*) AS BIGINT) AS "count"
         FROM events AS t WHERE t.event_id < 1000
         GROUP BY t.event_type ORDER BY "type"""",

    "q_sql_floor_to" ->
      """SELECT date_trunc('day', ts) AS d,
                date_trunc('hour', ts - INTERVAL 1 MICROSECOND)
                  + INTERVAL 1 HOUR AS ch,
                CAST(count(*) AS BIGINT) AS n
         FROM events WHERE event_id < 2000
         GROUP BY 1, 2 ORDER BY d, ch""",

    "q_sql_trunc_alias" ->
      """SELECT 3.7::DOUBLE AS t1, -2.9::DOUBLE AS t2,
                -2.0::DOUBLE AS t3, 1200.0::DOUBLE AS t4
         FROM region LIMIT 1""",

    "q_sql_time_in_interval" ->
      """SELECT count(*) FILTER (WHERE o_orderdate >= DATE '1995-01-01'
                                   AND o_orderdate < DATE '1996-01-01') AS c_se,
                count(*) FILTER (WHERE o_orderdate >= DATE '1995-01-01'
                                   AND o_orderdate < DATE '1995-07-01') AS c_sp,
                count(*) FILTER (WHERE o_orderdate >= DATE '1995-07-01'
                                   AND o_orderdate < DATE '1996-01-01') AS c_pe,
                count(*) FILTER (WHERE CAST(o_orderdate AS TIMESTAMP)
                                   >= TIMESTAMP '1995-06-15 00:00:00'
                                   AND CAST(o_orderdate AS TIMESTAMP)
                                   < TIMESTAMP '1995-06-16 12:00:00') AS c_fx
         FROM orders""",

    "q_sql_timefloor_multimonth" ->
      """WITH t AS (SELECT CAST(o_orderdate AS TIMESTAMP) AS ots,
                           (year(o_orderdate) - 1970) * 12
                             + month(o_orderdate) - 1 AS m
                    FROM orders),
            f AS (SELECT ots,
                         make_timestamp(1970 + (m - m % 6) // 12,
                           (m - m % 6) % 12 + 1, 1, 0, 0, 0) AS h1ts,
                         make_timestamp(1970 + (m - m % 24) // 12,
                           (m - m % 24) % 12 + 1, 1, 0, 0, 0) AS y2ts
                  FROM t)
         SELECT CAST(h1ts AS VARCHAR) AS h1,
                CAST(y2ts AS VARCHAR) AS y2,
                CAST(CASE WHEN ots = h1ts THEN h1ts
                          ELSE h1ts + INTERVAL 6 MONTH END AS VARCHAR) AS c6,
                count(*) AS cnt
         FROM f GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""",

    "q_sql_timefloor_multiweek" ->
      """SELECT CAST(epoch_ms((epoch_ms(ts) // 1209600000) * 1209600000)
                  AS VARCHAR) AS wk2,
                count(*) AS cnt
         FROM events GROUP BY 1 ORDER BY 1""",

    "q_sql_parse_long_edges" ->
      """SELECT 123::BIGINT AS p10, -45::BIGINT AS pneg,
                CAST(NULL AS BIGINT) AS pfrac,
                255::BIGINT AS phex, 255::BIGINT AS phexpre,
                CAST(NULL AS BIGINT) AS phexneg,
                -15::BIGINT AS phexinner, 255::BIGINT AS pplus,
                CAST(NULL AS BIGINT) AS pbad,
                5::BIGINT AS pbin, 1295::BIGINT AS p36
         FROM region LIMIT 1""",

    "q_sql_round_repeat_edges" ->
      """SELECT 0.0::DOUBLE AS r_nan,
                1.7976931348623157e308::DOUBLE AS r_pinf,
                -1.7976931348623157e308::DOUBLE AS r_ninf,
                3.0::DOUBLE AS r_half,
                -3.0::DOUBLE AS r_neghalf,
                1200.0::DOUBLE AS r_negscale,
                'ababab' AS rep3,
                CAST(NULL AS VARCHAR) AS rep0,
                CAST(NULL AS VARCHAR) AS repneg
         FROM region LIMIT 1""",

    "q_sql_div_edges" ->
      """SELECT r_regionkey,
                4::BIGINT AS d_frac, 33::BIGINT AS d_small,
                3::BIGINT AS d_int, -3::BIGINT AS d_negint,
                -3::BIGINT AS d_negfrac,
                9223372036854775807::BIGINT AS d_zero,
                CAST(trunc((r_regionkey * 10 + 7) / 2.5) AS BIGINT) AS d_row
         FROM region ORDER BY r_regionkey""",

    "q_sql_split_edges" ->
      """SELECT 'a|b' AS trail, 2 AS trail_len, 'a||b' AS interior,
                0 AS all_sep, 1 AS empty_in, 'a|b' AS null_delim,
                CAST(NULL AS INTEGER) AS null_in
         FROM region LIMIT 1""",

    "q_sql_mv_join_edges" ->
      """SELECT 'a|null|b' AS j_null, '1|0|null' AS j_num,
                CAST(NULL AS VARCHAR) AS j_singlenull,
                CAST(NULL AS VARCHAR) AS j_nullarr,
                'ab' AS j_nullsep
         FROM region LIMIT 1""",

    "q_expr_native_pred_fns" ->
      """SELECT true AS t_bool, false AS t_neg, true AS t_half,
                true AS t_strtrue, false AS t_str1,
                true AS f_garbage, false AS f_null, true AS f_nan,
                true AS nt_null, true AS nf_null,
                false AS idf_nulls, false AS ndf_nullone, true AS ndf_eq,
                'b' AS if_neg, 'a' AS if_pos,
                'hello' AS b64,
                946684800::BIGINT AS ut_iso, 946771200::BIGINT AS ut_fmt
         FROM region LIMIT 1""",

    "q_sql_format_edges" ->
      """SELECT '%q; 5' AS f_bad, '3 apples; red' AS f_ok,
                '2.500' AS f_prec, 'k=null' AS f_null,
                '%d; x' AS f_conv, 'bare' AS f_bare,
                '00042|ff' AS f_pad
         FROM region LIMIT 1""",

    "q_expr_ieee_math" ->
      """SELECT 3::BIGINT AS ge_10, -1::BIGINT AS ge_half,
                1.0000000000000002::DOUBLE AS nu_1,
                2.220446049250313e-16::DOUBLE AS ulp_1,
                -3.5::DOUBLE AS cs_neg,
                -1.0::DOUBLE AS rem_53,
                1.0000000000000002::DOUBLE AS na_up,
                9.999999999999999e-1::DOUBLE AS na_down,
                7::BIGINT AS mx_long,
                CAST(NULL AS DOUBLE) AS mx_null,
                3.0::DOUBLE AS mn_dbl,
                TRUE AS mn_nan, TRUE AS mx_nan
         FROM region LIMIT 1""",

    "q_expr_bitwise_native" ->
      """SELECT 3::BIGINT AS and_trunc, -3::BIGINT AS and_negtrunc,
                11::BIGINT AS or_trunc, 5::BIGINT AS xor_trunc,
                -6::BIGINT AS compl_trunc, 12::BIGINT AS shl_trunc,
                -4::BIGINT AS shr_trunc, 0::BIGINT AS and_nan,
                CAST(NULL AS BIGINT) AS and_null,
                4611686018427387904::BIGINT AS bits_2,
                CAST(-9223372036854775808 AS BIGINT) AS bits_negzero,
                2.0::DOUBLE AS dbl_2
         FROM region LIMIT 1""",

    "q_sql_pad_edges" ->
      """SELECT CAST(NULL AS VARCHAR) AS l0, CAST(NULL AS VARCHAR) AS r0,
                '' AS lneg, 'abc' AS lempty, 'ab' AS ltrunc,
                'abxyx' AS rfill, '  abc' AS ldef,
                CAST(NULL AS VARCHAR) AS lnull
         FROM region LIMIT 1""",

    "q_sql_time_format_joda" ->
      """SELECT '2021-01-01' AS yoe,
                strftime(TIMESTAMP '2021-06-15 12:34:56'
                  + INTERVAL '5 hours 30 minutes', '%Y-%m-%d %H:%M')
                  || ' +05:30' AS wall_off,
                strftime(TIMESTAMP '2021-06-15 12:34:56', '%a %j') AS dow_doy,
                CAST(TIMESTAMP '2021-06-15 07:08:00' AS VARCHAR) AS parsed_doy
         FROM region LIMIT 1""",

    "q_sql_time_tz_funcs" ->
      """SELECT event_id,
                CAST(hour((ts AT TIME ZONE 'UTC')
                  AT TIME ZONE 'America/New_York') AS BIGINT) AS h_ny,
                strftime((ts AT TIME ZONE 'UTC') AT TIME ZONE 'Asia/Kolkata',
                  '%Y-%m-%d %H:%M') AS f_ind,
                CAST(CAST(date_trunc('second', ts) AS VARCHAR) AS TIMESTAMP) AS p_back,
                strftime(date_trunc('millisecond', ts),
                  '%Y-%m-%dT%H:%M:%S.%g') || 'Z' AS iso
         FROM events WHERE event_id < 200 ORDER BY event_id""",

    "q_sql_timefloor_full" ->
      """SELECT event_id,
                time_bucket(INTERVAL '15 minutes', ts,
                  TIMESTAMP '1970-01-01 00:07:00') AS f_origin,
                (date_trunc('day', (ts AT TIME ZONE 'UTC')
                   AT TIME ZONE 'America/Los_Angeles')
                 AT TIME ZONE 'America/Los_Angeles') AT TIME ZONE 'UTC' AS f_la,
                time_bucket(INTERVAL '6 hours', ts) AS f_6h
         FROM events WHERE event_id < 300 ORDER BY event_id""",

    "q_sql_insert_hour" ->
      """SELECT strftime(ts, '%Y-%m-%d-%H') AS h, CAST(count(*) AS BIGINT) AS n,
                CAST(FLOOR(sum(CAST(value AS DECIMAL(18,6)))) AS BIGINT) AS sv
         FROM events WHERE event_id < 2000
         GROUP BY 1 ORDER BY 1""",

    "q_sql_insert" ->
      """SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n,
                round(sum(value), 3) AS sum_value
         FROM events
         WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-01' AND DATE '2024-01-05'
         GROUP BY 1, 2 ORDER BY 1, 2""",

    "q_groupby_q1" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
                round(sum(CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS sum_base_price,
                avg(l_quantity) AS avg_qty, count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",

    "q_groupby_having" ->
      """SELECT p_brand, count(*) AS cnt, max(p_size) AS max_size
         FROM part GROUP BY p_brand HAVING count(*) >= 10 ORDER BY p_brand""",

    "q_groupby_limit_offset" ->
      """SELECT o_custkey, count(*) AS n, round(sum(o_totalprice), 2) AS total
         FROM orders GROUP BY o_custkey
         ORDER BY n DESC, o_custkey LIMIT 50 OFFSET 10""",

    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
                count(*) AS n
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",

    "q_filter_in_like" ->
      """SELECT p_brand, count(*) AS n FROM part
         WHERE p_type LIKE '%AR%' AND p_size IN (5, 10, 15, 20, 25)
           AND p_brand NOT IN ('Brand#11')
         GROUP BY p_brand ORDER BY p_brand""",

    "q_filter_regex" ->
      """SELECT source, count(*) AS n FROM documents
         WHERE regexp_matches(text, 'spark (join|merge)')
         GROUP BY source ORDER BY source""",

    "q_filter_range_bound" ->
      """SELECT c_mktsegment, count(*) AS n, min(c_acctbal) AS min_bal,
                max(c_acctbal) AS max_bal
         FROM customer
         WHERE c_acctbal BETWEEN 1000.0 AND 5000.0
           AND c_mktsegment <> 'AUTOMOBILE'
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",

    "q_join_broadcast" ->
      """SELECT p_brand, sum(l_quantity) AS sum_qty, count(*) AS n
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY p_brand ORDER BY p_brand""",

    "q_join_5way" ->
      """SELECT n_name, count(*) AS n, sum(l_quantity) AS sum_qty
         FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
         WHERE r_regionkey < 2
         GROUP BY n_name ORDER BY n_name""",

    "q_join_semi" ->
      """SELECT c_mktsegment, count(*) AS n FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey AND o_totalprice > 200000)
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",

    "q_join_anti" ->
      """SELECT c_nationkey, count(*) AS n FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey AND o_totalprice > 250000)
         GROUP BY c_nationkey ORDER BY c_nationkey""",

    "q_lookup" ->
      """SELECT s_suppkey, s_name, n_name AS nation_name
         FROM supplier LEFT JOIN nation ON s_nationkey = n_nationkey
         ORDER BY s_suppkey""",

    "q_join_asof" ->
      """SELECT l.event_id, l.user_id, l.value, r.value AS asof_value
         FROM (SELECT * FROM events WHERE event_type = 'click') l
         ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
           ON l.user_id = r.user_id AND l.ts >= r.ts
         ORDER BY l.event_id""",

    "q_join_range" ->
      """SELECT band, count(*) AS n, min(p_retailprice) AS min_p,
                max(p_retailprice) AS max_p
         FROM part JOIN (VALUES ('budget', 0.0, 1000.0),
                                ('mid', 1000.0, 1500.0),
                                ('high', 1500.0, 2000.0),
                                ('lux', 2000.0, 999999.0)) AS r(band, lo, hi)
           ON p_retailprice >= lo AND p_retailprice < hi
         GROUP BY band ORDER BY band""",

    "q_union" ->
      """SELECT o_orderstatus, count(*) AS n FROM (
           SELECT * FROM orders WHERE o_orderpriority = '1-URGENT'
           UNION ALL
           SELECT * FROM orders WHERE o_totalprice > 250000)
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    "q_intersect_except" ->
      """SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'
         INTERSECT
         SELECT l_orderkey FROM lineitem WHERE l_quantity > 40
         ORDER BY l_orderkey""",

    "q_unnest_words" ->
      """SELECT word, count(*) AS n FROM (
           SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         GROUP BY word ORDER BY n DESC, word LIMIT 50""",

    "q_mv_ops" ->
      """SELECT doc_id,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                list_contains(string_split(text, ' '), 'spark') AS has_spark,
                CAST(len(list_filter(string_split(text, ' '),
                                     t -> t LIKE 's%')) AS BIGINT) AS n_s_tokens,
                array_to_string(list_sort(list_distinct(string_split(text, ' ')))[1:3],
                                ',') AS first_vals
         FROM documents ORDER BY doc_id""",

    "q_window_rank" ->
      """SELECT * FROM (
           SELECT o_orderpriority, o_orderkey, o_totalprice,
                  row_number() OVER w AS rn, rank() OVER w AS rk,
                  dense_rank() OVER w AS drk
           FROM orders
           WINDOW w AS (PARTITION BY o_orderpriority
                        ORDER BY o_totalprice DESC, o_orderkey ASC))
         WHERE rn <= 5 ORDER BY o_orderpriority, rn""",

    "q_window_offset" ->
      """SELECT user_id, event_id, value,
                lag(value, 1) OVER w AS prev_value,
                lead(value, 1) OVER w AS next_value
         FROM events WHERE user_id < 10
         WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
         ORDER BY user_id, event_id""",

    "q_window_null_order" ->
      """SELECT user_id, event_id, v,
                row_number() OVER (PARTITION BY user_id
                  ORDER BY v ASC NULLS LAST, event_id) AS rn_last,
                row_number() OVER (PARTITION BY user_id
                  ORDER BY v DESC NULLS FIRST, event_id) AS rn_first
         FROM (SELECT user_id, event_id,
                      CASE WHEN event_id % 4 <> 0 THEN value END AS v
               FROM events WHERE user_id < 15)
         ORDER BY user_id, v ASC NULLS LAST, event_id""",

    "q_window_ignore_nulls" ->
      """SELECT user_id, event_id, v,
                lag(v, 1 IGNORE NULLS)
                  OVER (PARTITION BY user_id ORDER BY event_id) AS prev_nn,
                lead(v, 1 IGNORE NULLS)
                  OVER (PARTITION BY user_id ORDER BY event_id) AS next_nn,
                first_value(v IGNORE NULLS)
                  OVER (PARTITION BY user_id ORDER BY event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_nn,
                last_value(v IGNORE NULLS)
                  OVER (PARTITION BY user_id ORDER BY event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_nn
         FROM (SELECT user_id, event_id,
                      CASE WHEN event_id % 3 <> 0 THEN value END AS v
               FROM events WHERE user_id < 20)
         ORDER BY user_id, event_id""",

    "q_window_frame" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
                sum(l_quantity) OVER (PARTITION BY l_suppkey
                  ORDER BY l_orderkey, l_linenumber, l_quantity
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_qty,
                sum(l_quantity) OVER (PARTITION BY l_suppkey
                  ORDER BY l_orderkey, l_linenumber, l_quantity
                  ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS moving_qty
         FROM lineitem WHERE l_suppkey <= 5
         ORDER BY l_suppkey, l_orderkey, l_linenumber""",

    "q_window_cume" ->
      """SELECT c_mktsegment, c_custkey,
                round(cume_dist() OVER w, 6) AS cd,
                round(percent_rank() OVER w, 6) AS pr,
                ntile(4) OVER w AS quartile
         FROM customer
         WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
         ORDER BY c_mktsegment, c_custkey""",

    "q_agg_firstlast" ->
      """SELECT event_type,
                min_by(value, ts) AS earliest_value,
                max_by(value, ts) AS latest_value,
                min_by(user_id, event_id) AS first_user
         FROM events GROUP BY event_type ORDER BY event_type""",

    "q_agg_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_suppkey) AS n_supp,
                count(DISTINCT l_partkey) AS n_part
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q_agg_filtered" ->
      """SELECT o_orderpriority,
                count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
                round(sum(o_totalprice) FILTER (WHERE o_totalprice > 150000), 2)
                  AS big_total,
                count(*) AS n
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "q_agg_collect" ->
      """SELECT l_returnflag,
                string_agg(DISTINCT l_linestatus, ',' ORDER BY l_linestatus)
                  AS statuses
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q_agg_bitwise" ->
      """SELECT event_type, bit_and(user_id) AS b_and, bit_or(user_id) AS b_or,
                bit_xor(user_id) AS b_xor
         FROM events GROUP BY event_type ORDER BY event_type""",

    "q_agg_lambda" ->
      """SELECT l_returnflag,
                list_sum(list_transform(list(l_quantity), x -> x * x)) AS sum_sq,
                count(*) AS n
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q_agg_stats" ->
      """SELECT l_linestatus, round(stddev_samp(l_quantity), 6) AS sd_qty,
                round(var_pop(l_quantity), 6) AS var_qty,
                round(avg(l_quantity), 6) AS avg_qty
         FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""",

    "q_groupby_array" ->
      """SELECT array_to_string(tw, ',') AS key, count(*) AS n,
                round(sum(p_retailprice), 3) AS rev
         FROM (SELECT string_split(p_type, ' ') AS tw, p_retailprice FROM part)
         GROUP BY tw ORDER BY key""",

    "q_agg_empty" ->
      """SELECT count(*) AS n, CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
                max(l_shipdate) AS last_ship
         FROM lineitem WHERE l_quantity < -1
         UNION ALL
         SELECT count(*) AS n, CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
                max(l_shipdate) AS last_ship
         FROM lineitem WHERE l_quantity < -1 GROUP BY l_linestatus""",

    "q_expr_time" ->
      """SELECT event_id, CAST(year(ts) AS BIGINT) AS y,
                CAST(month(ts) AS BIGINT) AS mo,
                CAST(day(ts) AS BIGINT) AS d,
                CAST(hour(ts) AS BIGINT) AS h,
                CAST(isodow(ts) AS BIGINT) AS dow,
                strftime(ts, '%Y-%m-%d %H') AS fmt,
                date_trunc('second', ts + INTERVAL 2 HOUR) AS shifted,
                date_trunc('minute', ts) -
                  (CAST(minute(ts) AS INT) % 15) * INTERVAL 1 MINUTE AS floor15m
         FROM events WHERE event_id < 200 ORDER BY event_id""",

    "q_expr_string" ->
      """SELECT c_custkey, upper(c_name) AS u, substring(c_name, 1, 8) AS sub,
                CAST(length(c_name) AS BIGINT) AS len,
                regexp_replace(c_name, '[0-9]', '#', 'g') AS masked,
                lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS padded,
                CAST(strpos(c_name, '1') AS BIGINT) AS pos1,
                concat(c_mktsegment, ':', c_name) AS joined,
                left(c_name, 4) AS l4, right(c_name, 3) AS r3,
                reverse(c_mktsegment) AS rev, repeat('ab', 3) AS rep
         FROM customer WHERE c_custkey <= 200 ORDER BY c_custkey""",

    "q_expr_math" ->
      """SELECT l_orderkey, l_linenumber, abs(l_quantity - 25) AS a,
                CAST(ceil(l_discount * 10) AS BIGINT) AS c,
                CAST(floor(l_tax * 10) AS BIGINT) AS f,
                round(sqrt(l_extendedprice), 4) AS sq,
                CAST(l_partkey % 7 AS BIGINT) AS m,
                CASE WHEN l_discount = 0 THEN NULL
                     ELSE l_quantity / l_discount END AS safe_div,
                greatest(l_quantity, l_tax * 100) AS g,
                least(l_discount, l_tax) AS l
         FROM lineitem WHERE l_orderkey < 100
         ORDER BY l_orderkey, l_linenumber""",

    "q_expr_case" ->
      """SELECT CASE WHEN o_orderstatus = 'F' THEN 'finished'
                     WHEN o_orderstatus = 'O' THEN 'open'
                     ELSE 'partial' END AS status_word,
                coalesce(nullif(o_orderpriority, '3-MEDIUM'), 'MED') AS prio,
                CASE WHEN o_totalprice > 100000 THEN 'big' ELSE 'small' END AS sz,
                count(*) AS n
         FROM orders GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""",

    "q_expr_json" ->
      """WITH docs AS (
           SELECT event_id,
                  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
                  '{"id": ' || event_id || ', "type": "' || event_type ||
                    '", "vals": [' || user_id || ',' || (event_id % 10) ||
                    ']}' AS j
           FROM events)
         SELECT k, json_extract_string(j, '$.type') AS jtype,
                count(*) AS n,
                CAST(sum(CAST(json_extract(j, '$.vals[1]') AS BIGINT))
                  AS BIGINT) AS sum_sv,
                max(array_to_string(json_keys(j), ',')) AS keys,
                CAST(max(json_array_length(j, '$.vals')) AS BIGINT) AS nvals
         FROM docs GROUP BY k, jtype ORDER BY k, jtype""",

    "q_expr_ip" ->
      """WITH ips AS (
           SELECT c_custkey,
                  concat('10.', CAST(c_custkey % 256 AS VARCHAR), '.',
                         CAST((c_custkey * 7) % 256 AS VARCHAR), '.1') AS ip
           FROM customer WHERE c_custkey <= 100)
         SELECT c_custkey, ip,
                10 * 16777216 + (c_custkey % 256) * 65536 +
                  ((c_custkey * 7) % 256) * 256 + 1 AS ip_long,
                TRUE AS in_10,
                ((c_custkey % 256) >= 64 AND (c_custkey % 256) < 128) AS in_10_64
         FROM ips ORDER BY c_custkey""",

    "q_qa_datetime_extract" ->
      """SELECT CAST(sum(dayofyear(ts)) AS BIGINT) AS s_doy,
                CAST(sum(quarter(ts)) AS BIGINT) AS s_q,
                CAST(sum(weekofyear(ts)) AS BIGINT) AS s_w,
                CAST(sum(day(ts)) AS BIGINT) AS s_d,
                CAST(count(CASE WHEN date_diff('day', ts, ts + INTERVAL 3 DAY) = 3
                            THEN 1 END) AS BIGINT) AS n_tsdiff
         FROM events""",

    "q_qa_ssb_denorm" ->
      """WITH denorm AS (
           SELECT n_name, year(o_orderdate) AS yr,
                  CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) AS rev
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             JOIN customer ON o_custkey = c_custkey
             JOIN nation ON c_nationkey = n_nationkey
           WHERE l_discount BETWEEN 0.05 AND 0.07)
         SELECT n_name, yr, CAST(floor(sum(rev)) AS BIGINT) AS revenue,
                CAST(count(*) AS BIGINT) AS n
         FROM denorm GROUP BY n_name, yr ORDER BY n_name, yr""",

    "q_qa_json_query_array" ->
      """SELECT array_to_string(json_extract_string('{"a":[1,2,3]}', '$.a[*]'), '|') AS arr_i,
                array_to_string(json_extract_string('{"a":["x","y"]}', '$.a[*]'), '|') AS arr_s,
                TRUE AS missing_null,
                'x|y' AS quoted_field,
                '3|4' AS neg_idx,
                '7' AS scalar_wrap,
                1 AS obj_wrap_len,
                '{"x":1}|2' AS mixed""",

    "q_qa_json_native_negidx" ->
      """SELECT '3' AS nv_neg,
                CAST(NULL AS VARCHAR) AS sql_neg,
                'p' AS nv_quoted,
                9::BIGINT AS nv_typed""",

    "q_qa_sql_string_fns" ->
      """SELECT CAST(strpos('graft-engine', 'engine') AS INTEGER) AS sp,
                'gr' || 'aft' AS tc,
                CAST('42' AS BIGINT) AS pl,
                CAST(255 AS BIGINT) AS plr,
                TRY_CAST('xyz' AS BIGINT) AS plbad,
                printf('%s-%03d', 'q', 7) AS fmt,
                regexp_extract('a1b22c333', '([0-9]+)', 1) AS re1,
                regexp_matches('abc123', '[0-9]+') AS rl,
                lpad('7', 3, '0') AS lp, rpad('7', 3, 'x') AS rp,
                repeat('ab', 3) AS rep, reverse('graft') AS rev,
                trim('xxgraftxx', 'x') AS bt,
                CAST(position('ft' IN 'graft') AS INTEGER) AS pos""",

    "q_qa_union_self_merge" ->
      """SELECT n_regionkey, CAST(sum(n_nationkey) AS BIGINT) AS s,
                CAST(count(*) AS BIGINT) AS n
         FROM (SELECT * FROM nation UNION ALL
               SELECT * FROM nation UNION ALL
               SELECT * FROM nation)
         WHERE n_regionkey IN (1, 2)
         GROUP BY n_regionkey ORDER BY n_regionkey""",

    "q_qa_conditional_count" ->
      """SELECT event_type,
                CAST(count(CASE WHEN value > 0.5 THEN event_type END) AS BIGINT) AS cnt,
                CAST(count(1) AS BIGINT) AS aall
         FROM events
         WHERE event_type IN ('click', 'view')
         GROUP BY event_type ORDER BY event_type""",

    "q_qa_mv_filter_fns" ->
      """SELECT array_to_string(list_filter(string_split('abc,def,abd', ','),
                  gx -> regexp_matches(gx, '^ab')), '|') AS r,
                array_to_string(list_filter(string_split('apple,banana,apricot', ','),
                  gx -> starts_with(gx, 'ap')), '|') AS p,
                CAST(len(string_split('a,b,c', ',')) AS INTEGER) AS len,
                list_contains(string_split('a,b,c', ','), 'b') AS has_b""",

    "q_qa_union_limit" ->
      """SELECT * FROM (
           SELECT 'c' AS src, c_custkey AS k FROM customer
           UNION ALL
           SELECT 's' AS src, s_suppkey AS k FROM supplier)
         ORDER BY src, k LIMIT 20""",

    "q_qa_groupby_limit_extraction" ->
      """SELECT right(c_name, 2) AS e, CAST(count(*) AS BIGINT) AS n
         FROM customer GROUP BY right(c_name, 2)
         ORDER BY n DESC, e LIMIT 10""",

    "q_qa_time_filter_subquery" ->
      """SELECT CAST(count(*) AS BIGINT) AS n,
                CAST(count(DISTINCT user_id) AS BIGINT) AS nd
         FROM (SELECT ts, user_id, value FROM events WHERE value > 0.1)
         WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
           AND ts < TIMESTAMP '2024-01-20 00:00:00'""",

    "q_qa_repeated_virtual_grouping" ->
      """SELECT user_id % 7 AS a, user_id % 7 AS b, CAST(count(*) AS BIGINT) AS n
         FROM events GROUP BY user_id % 7, user_id % 7
         ORDER BY a""",

    "q_qa_count_distinct_grouping" ->
      """SELECT event_type,
                CAST(count(DISTINCT user_id) AS BIGINT) AS nd_user,
                CAST(count(DISTINCT event_id % 97) AS BIGINT) AS nd_mod,
                CAST(count(*) AS BIGINT) AS n,
                round(CAST(sum(value) AS DOUBLE), 3) AS sum_v,
                CAST(grouping(event_type) AS BIGINT) AS g
         FROM events
         GROUP BY ROLLUP(event_type)
         ORDER BY event_type NULLS LAST""",

    "q_qa_sql_math_funcs" ->
      """SELECT CAST(count(*) AS BIGINT) AS cnt,
                CAST(count(CASE WHEN (user_id & 255) = user_id % 256
                            THEN 1 END) AS BIGINT) AS n_band
         FROM events
         WHERE atan2(value, 1) BETWEEN -1.5708 AND 1.5708
           AND degrees(radians(value)) BETWEEN value - 1e-9 AND value + 1e-9
           AND log10(abs(value) + 10) > 1 - 1e-12
           AND cbrt(value * value * value) BETWEEN value - 1e-6 AND value + 1e-6
           AND sqrt(value * value) = abs(value)
           AND ((value <> 0 AND (CASE WHEN value <> 0 THEN NULL
                                 ELSE 0.0 END) IS NULL)
                OR (value = 0 AND (CASE WHEN value <> 0 THEN NULL
                                   ELSE 0.0 END) = 0.0))
           AND asin(least(abs(value), 1.0)) >= 0
           AND pi() BETWEEN 3.14159 AND 3.1416""",

    "q_qa_scalar_misc_fns" ->
      """SELECT o_orderkey,
                CASE WHEN o_orderkey % 3 = 0 THEN NULL
                     ELSE o_orderkey // (o_orderkey % 3) END AS sd_long,
                CASE WHEN o_orderkey % 3 = 0 THEN
                       (CASE WHEN o_orderkey <> 0 THEN NULL ELSE 0.0 END)
                     ELSE CAST(o_orderkey AS DOUBLE) / (o_orderkey % 3) END AS sd_dbl,
                coalesce(NULLIF(o_orderkey % 5, 0), -1) AS nvl_mod,
                CASE WHEN o_orderkey = 0 THEN '0 B'
                     ELSE printf('%.1f KiB', CAST(o_orderkey AS DOUBLE)) END AS hrb,
                CASE WHEN o_orderkey = 0 THEN '0 B'
                     ELSE printf('%.2f KB', CAST(o_orderkey AS DOUBLE)) END AS hrd,
                CASE WHEN o_orderkey = 0 THEN '0'
                     WHEN o_orderkey * 123456 < 1000000 THEN
                       printf('%.3f K', o_orderkey * 123456 / 1000.0)
                     ELSE printf('%.3f M', (o_orderkey * 123456 // 1000) / 1000.0)
                END AS hrdec
         FROM orders WHERE o_orderkey < 200 ORDER BY o_orderkey""",

    "q_qa_filtered_sum_empty" ->
      """SELECT CAST(count(1) FILTER (WHERE user_id = -1) AS BIGINT) AS c_eq,
                CAST(count(1) FILTER (WHERE user_id <> -1) AS BIGINT) AS c_ne,
                (min(value) IS NULL) AS min_null,
                CAST(sum(CASE WHEN user_id = -1 THEN event_id ELSE 0 END) AS BIGINT) AS s_case,
                CAST(sum(event_id) FILTER (WHERE user_id = -1) AS BIGINT) AS s_filter
         FROM events WHERE user_id < -1""",

    "q_qa_notin_values" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n
         FROM events
         WHERE user_id NOT IN (SELECT col FROM (VALUES (-1), (-999)) t(col))
         GROUP BY event_type ORDER BY event_type""",

    "q_qa_grouping_sets_filtered_dim" ->
      """WITH base AS (SELECT event_type, CAST(user_id % 3 AS VARCHAR) AS u3
                       FROM events)
         SELECT event_type, u3, CAST(count(*) AS BIGINT) AS n
         FROM base WHERE event_type = 'click'
         GROUP BY GROUPING SETS ((u3, event_type), (u3))
         ORDER BY u3, event_type NULLS FIRST""",

    "q_qa_interval_arith" ->
      """SELECT CAST(count(CASE WHEN ts < CURRENT_TIMESTAMP - INTERVAL '1' DAY
                            THEN 1 END) AS BIGINT) AS n_past,
                CAST(count(CASE WHEN ts > CURRENT_TIMESTAMP + INTERVAL '1' DAY
                            THEN 1 END) AS BIGINT) AS n_future,
                strftime(max(ts + INTERVAL '2' DAY), '%Y-%m-%d %H:%M:%S') AS max_plus2,
                strftime(min(ts - INTERVAL '3' HOUR), '%Y-%m-%d %H:%M:%S') AS min_minus3h
         FROM events""",

    "q_qa_win_frame_matrix" ->
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
         FROM base ORDER BY user_id, event_type""",

    "q_qa_kttm_bucket" ->
      """SELECT FLOOR(CAST(value AS DOUBLE) / 0.5) * 0.5 AS bucket,
                CAST(count(*) AS BIGINT) AS n
         FROM events
         WHERE TIMESTAMP '2024-01-05 00:00:00' <= ts
           AND ts < TIMESTAMP '2024-01-20 00:00:00'
         GROUP BY 1 ORDER BY bucket ASC LIMIT 101""",

    "q_qa_kttm_sunburst" ->
      """SELECT FLOOR(CAST(value AS DOUBLE) / 0.5) * 0.5 AS bin,
                CAST(count(*) AS BIGINT) AS n
         FROM events
         WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
           AND ts < TIMESTAMP '2024-02-01 00:00:00'
           AND CAST(json_extract_string(props, '$.k') AS BIGINT) BETWEEN 5 AND 70
           AND json_extract_string(props, '$.missing') IS NULL
           AND event_type = 'click'
           AND ((0.0 <= CAST(value AS DOUBLE) AND CAST(value AS DOUBLE) < 5.0)
             OR (10.0 <= CAST(value AS DOUBLE) AND CAST(value AS DOUBLE) < 20.0)
             OR (50.0 <= CAST(value AS DOUBLE) AND CAST(value AS DOUBLE) < 100.0))
         GROUP BY 1 ORDER BY bin LIMIT 101""",

    "q_qa_kttm_heatmap" ->
      """SELECT CAST(extract(hour FROM ts) AS BIGINT) AS h,
                CAST(extract(dow FROM ts) AS BIGINT) AS dow,
                CAST(count(*) AS BIGINT) AS n,
                round(CAST(sum(value) AS DOUBLE), 3) AS sum_v
         FROM events
         GROUP BY 1, 2 ORDER BY h, dow""",

    "q_qa_kttm_compare" ->
      """SELECT
           count(*) FILTER (WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
                              AND ts < TIMESTAMP '2024-01-11 00:00:00') AS v0,
           CAST(FLOOR(sum(CAST(value AS DECIMAL(18,6))) FILTER (WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
                              AND ts < TIMESTAMP '2024-01-11 00:00:00')) AS BIGINT) AS v1,
           count(*) FILTER (WHERE ts >= TIMESTAMP '2024-01-09 00:00:00'
                              AND ts < TIMESTAMP '2024-01-10 00:00:00') AS v2,
           CAST(FLOOR(sum(CAST(value AS DECIMAL(18,6))) FILTER (WHERE ts >= TIMESTAMP '2024-01-09 00:00:00'
                              AND ts < TIMESTAMP '2024-01-10 00:00:00')) AS BIGINT) AS v3,
           count(*) FILTER (WHERE ts >= TIMESTAMP '2023-01-01 00:00:00'
                              AND ts < TIMESTAMP '2023-01-02 00:00:00') AS empty_cnt,
           CAST(FLOOR(sum(CAST(value AS DECIMAL(18,6))) FILTER (WHERE ts >= TIMESTAMP '2023-01-01 00:00:00'
                              AND ts < TIMESTAMP '2023-01-02 00:00:00')) AS BIGINT) AS empty_sum
         FROM events""",

    "q_qa_kttm_timefloor_compare" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket,
                count(*) AS cnt,
                count(*) FILTER (WHERE event_type = 'click') AS clicks,
                CAST(FLOOR(sum(CAST(value AS DECIMAL(18,6)))) AS BIGINT) AS sum_v
         FROM events
         WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
           AND ts < TIMESTAMP '2024-01-10 12:00:00'
         GROUP BY date_trunc('hour', ts)
         ORDER BY bucket""",


    "q_qa_groupby_on_groupby_timefloor" ->
      """SELECT o_orderstatus,
                CAST(date_trunc('month', gran) AS DATE) AS mon,
                CAST(FLOOR(sum(CAST(s AS DECIMAL(18,2)))) AS BIGINT) AS tot
         FROM (SELECT date_trunc('day', o_orderdate) AS gran, o_orderstatus,
                      sum(CAST(o_totalprice AS DECIMAL(18,2))) AS s
               FROM orders GROUP BY date_trunc('day', o_orderdate), o_orderstatus
               HAVING sum(CAST(o_totalprice AS DECIMAL(18,2))) > 200000) x
         GROUP BY o_orderstatus, date_trunc('month', gran)
         ORDER BY o_orderstatus, mon DESC""",

    "q_qa_limit_pushdown_extraction" ->
      """SELECT o_orderstatus, substring(o_orderpriority, 1, 1) AS p1,
                count(*) AS cnt
         FROM orders
         WHERE o_orderstatus = 'F'
         GROUP BY o_orderstatus, substring(o_orderpriority, 1, 1)
         ORDER BY p1
         LIMIT 3""",



    "q_qa_win_multi_partitions" ->
      """WITH base AS (
           SELECT user_id, event_type, count(*) AS n
           FROM events WHERE user_id < 40
           GROUP BY user_id, event_type)
         SELECT user_id, event_type, n,
                row_number() OVER (PARTITION BY user_id
                                   ORDER BY event_type) AS rn_by_user,
                CAST(sum(n) OVER (PARTITION BY user_id
                                  ORDER BY event_type) AS BIGINT) AS run_by_user,
                CAST(sum(n) OVER (PARTITION BY event_type
                                  ORDER BY user_id) AS BIGINT) AS run_by_type
         FROM base ORDER BY user_id, event_type""",

    "q_qa_aggr_having_distinct_from" ->
      """SELECT date_trunc('hour', ts) AS t, count(*) + 1 AS c
         FROM events
         GROUP BY date_trunc('hour', ts)
         HAVING date_trunc('hour', ts) BETWEEN TIMESTAMP '2024-01-10 00:00:00'
                                           AND TIMESTAMP '2024-01-10 06:00:00'
            AND (count(*) + 1 IS NULL
                 OR (count(*) + 1 = count(*) + 1
                     AND count(*) + 1 IS NOT DISTINCT FROM count(*) + 1
                     AND count(*) + 1 <> count(*)
                     AND (count(*) + 1 IS DISTINCT FROM count(*))))
         ORDER BY t""",

    "q_qa_aggr_battery_having" ->
      s"""SELECT date_trunc('hour', ts) AS t, '1' || min(event_type) AS c,
                count(*) AS n
         FROM events
         GROUP BY 1
         HAVING date_trunc('hour', ts) BETWEEN TIMESTAMP '2024-01-10 00:00:00'
                                           AND TIMESTAMP '2024-01-10 06:00:00'
            AND ${battery("'1' || min(event_type)", "'0' || min(event_type)",
                 "'2' || min(event_type)", "VARCHAR")}
         ORDER BY t""",

    "q_qa_aggr_battery_bit_time" ->
      s"""SELECT date_trunc('hour', ts) AS t,
                CAST(bit_xor(user_id) + 1 AS BIGINT) AS bx,
                CAST(bit_and(user_id) AS BIGINT) AS ba,
                CAST(bit_or(user_id) AS BIGINT) AS bo,
                min(date_trunc('hour', ts)) + INTERVAL 1 YEAR AS mt,
                count(*) AS n
         FROM events
         GROUP BY 1
         HAVING date_trunc('hour', ts) BETWEEN TIMESTAMP '2024-01-10 00:00:00'
                                           AND TIMESTAMP '2024-01-10 06:00:00'
            AND ${battery("bit_xor(user_id) + 1", "bit_xor(user_id)",
                 "bit_xor(user_id) + 2", "VARCHAR")}
            AND ${battery("min(date_trunc('hour', ts)) + INTERVAL 1 YEAR",
                 "min(date_trunc('hour', ts))",
                 "min(date_trunc('hour', ts)) + INTERVAL 2 YEAR", "VARCHAR")}
         ORDER BY t""",

    "q_qa_aggr_battery_json" ->
      s"""SELECT date_trunc('hour', ts) AS t,
                '1' || json_extract_string(min(props), '$$.k') AS c,
                count(*) AS n
         FROM events
         GROUP BY 1
         HAVING date_trunc('hour', ts) BETWEEN TIMESTAMP '2024-01-10 00:00:00'
                                           AND TIMESTAMP '2024-01-10 06:00:00'
            AND ${battery("'1' || json_extract_string(min(props), '$.k')",
                 "'0' || json_extract_string(min(props), '$.k')",
                 "'2' || json_extract_string(min(props), '$.k')", "VARCHAR")}
         ORDER BY t""",

    "q_qa_union_all_limit" ->
      """SELECT * FROM (
           SELECT c_name AS name, c_acctbal AS bal FROM customer
           UNION ALL
           SELECT 'sup' AS name, 0.0 AS bal FROM lineitem WHERE l_orderkey = 1
         ) u
         ORDER BY bal DESC, name
         LIMIT 5""",

    "q_qa_kttm_spotmatrix" ->
      """SELECT json_extract_string(props, '$.k') AS k,
               time_bucket(INTERVAL '1 hour', ts) AS t,
               CAST(COUNT(*) AS BIGINT) AS count
         FROM events
         WHERE TIMESTAMP '2024-01-05 00:00:00' <= ts
           AND ts < TIMESTAMP '2024-01-05 17:00:00'
           AND json_extract_string(props, '$.k') IN ('1','2','3','5','8','13','21','34','55')
         GROUP BY 1, 2
         ORDER BY 1, 2""",

    "q_qa_kttm_groupby_empty" ->
      """SELECT MAX(date_trunc('second', ts)) AS mx,
                CAST(COUNT(*) AS BIGINT) AS n
         FROM events GROUP BY ()""",

    "q_qa_win_rows_ub_prec" ->
      s"""WITH w AS ($winDuckBase)
          SELECT srv, cli, tz, t12,
                 CAST(sum(length(tz)) OVER (PARTITION BY cli
                   ORDER BY srv, tz, t12 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sum_val,
                 count(tz) OVER (PARTITION BY cli
                   ORDER BY srv, tz, t12 ROWS UNBOUNDED PRECEDING) AS cnt_val
          FROM w ORDER BY cli, srv, tz, t12""",

    "q_qa_win_rows_frames_first_last" ->
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
          FROM w ORDER BY cli, srv, tz, t12""",

    "q_qa_win_rows_sliding_sum" ->
      s"""WITH w AS ($winDuckBase)
          SELECT srv, cli, tz, t12,
                 CAST(sum(n) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                   ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS BIGINT) AS s_11,
                 CAST(sum(n) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                   ROWS BETWEEN 2 FOLLOWING AND 3 FOLLOWING) AS BIGINT) AS s_23,
                 count(n) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                   ROWS BETWEEN 2 FOLLOWING AND 3 FOLLOWING) AS c_23
          FROM w ORDER BY cli, srv, tz, t12""",

    "q_qa_win_range_peers" ->
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
          FROM w ORDER BY cli, srv, tz, t12""",

    "q_qa_win_func_in_func" ->
      s"""WITH w AS ($winDuckBase)
          SELECT srv, cli, tz, t12,
                 CAST(floor(avg(length(cli)) OVER (PARTITION BY cli
                   ORDER BY srv, tz, t12)) AS BIGINT) AS c
          FROM w ORDER BY cli, srv, tz, t12""",

    "q_qa_win_range_numeric_offset" ->
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
          FROM w ORDER BY cli, srv, tz, t12""",

    "q_qa_win_range_interval" ->
      s"""WITH w AS ($winDuckBase)
          SELECT srv, cli, tz, t12,
                 CAST(sum(n) OVER (PARTITION BY cli ORDER BY t12
                   RANGE BETWEEN INTERVAL 12 HOURS PRECEDING AND CURRENT ROW) AS BIGINT) AS s_12h,
                 count(*) OVER (PARTITION BY cli ORDER BY t12
                   RANGE BETWEEN INTERVAL 24 HOURS PRECEDING AND INTERVAL 12 HOURS FOLLOWING) AS c_day
          FROM w ORDER BY cli, srv, tz, t12""",

    "q_qa_win_range_first_last_peers" ->
      s"""WITH w AS ($winDuckBase)
          SELECT srv, cli, tz, t12,
                 first_value(tz) OVER (PARTITION BY cli ORDER BY tz
                   RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS fv_cur_ubf,
                 last_value(tz) OVER (PARTITION BY cli ORDER BY tz
                   RANGE BETWEEN CURRENT ROW AND CURRENT ROW) AS lv_peer,
                 last_value(tz) OVER (PARTITION BY cli ORDER BY tz) AS lv_default,
                 first_value(tz) OVER (PARTITION BY cli ORDER BY tz
                   RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS fv_all
          FROM w ORDER BY cli, srv, tz, t12""",

    "q_qa_win_ntile_edges" ->
      s"""WITH w AS ($winDuckBase)
          SELECT srv, cli, tz, t12,
                 CAST(NTILE(1) OVER (PARTITION BY cli ORDER BY srv, tz, t12) AS BIGINT) AS nt1,
                 CAST(NTILE(3) OVER (PARTITION BY cli ORDER BY srv, tz, t12) AS BIGINT) AS nt3,
                 CAST(NTILE(100) OVER (PARTITION BY cli ORDER BY srv, tz, t12) AS BIGINT) AS nt_big,
                 CAST(NTILE(7) OVER (ORDER BY cli, srv, tz, t12) AS BIGINT) AS nt_glob
          FROM w ORDER BY cli, srv, tz, t12""",

    "q_qa_win_ignore_nulls_frames" ->
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
          ORDER BY cli, srv, tz, t12""",

    "q_qa_win_nth_value" ->
      s"""WITH w AS ($winDuckBase)
          SELECT srv, cli, tz, t12,
                 nth_value(tz, 2) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nth2_cum,
                 nth_value(tz, 3) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                   ROWS BETWEEN 2 PRECEDING AND 1 FOLLOWING) AS nth3_slide,
                 nth_value(tz, 1) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS nth1_all
          FROM w ORDER BY cli, srv, tz, t12""",

    "q_qa_win_over_unnest" ->
      """SELECT word, p_partkey,
                CAST(count(*) OVER (PARTITION BY word) AS BIGINT) AS word_cnt,
                CAST(row_number() OVER (PARTITION BY word ORDER BY p_partkey) AS BIGINT) AS rn,
                CAST(sum(p_partkey) OVER (PARTITION BY word ORDER BY p_partkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_key
         FROM (SELECT p_partkey, unnest(string_split(p_name, ' ')) AS word
               FROM part WHERE p_partkey <= 200) x
         ORDER BY word, p_partkey""",

    "q_qa_win_over_union" ->
      """WITH u AS (
           SELECT 'c' AS src, CAST(c_nationkey AS BIGINT) AS k, c_custkey AS id
           FROM customer WHERE c_custkey <= 150
           UNION ALL
           SELECT 's' AS src, CAST(s_nationkey AS BIGINT) AS k, s_suppkey AS id
           FROM supplier)
         SELECT src, k, id,
                CAST(count(*) OVER (PARTITION BY k) AS BIGINT) AS k_cnt,
                CAST(row_number() OVER (PARTITION BY k ORDER BY src, id) AS BIGINT) AS rn,
                CAST(sum(id) OVER (PARTITION BY src ORDER BY id) AS BIGINT) AS cum_id
         FROM u ORDER BY k, src, id""",

    "q_qa_win_multi_windows" ->
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
          FROM w ORDER BY cli, srv, tz, t12""",

    "q_qa_win_limit_offset" ->
      s"""WITH w AS ($winDuckBase)
          SELECT cli, srv, tz, t12,
                 CAST(row_number() OVER (ORDER BY cli, srv, tz, t12) AS BIGINT) AS rn,
                 CAST(sum(n) OVER (ORDER BY cli, srv, tz, t12
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
          FROM w ORDER BY cli, srv, tz, t12 LIMIT 10 OFFSET 5""",

    "q_qa_win_distinct" ->
      s"""WITH w AS ($winDuckBase)
          SELECT DISTINCT cli,
                 CAST(count(*) OVER (PARTITION BY cli) AS BIGINT) AS cnt,
                 CAST(sum(n) OVER (PARTITION BY cli) AS BIGINT) AS s
          FROM w ORDER BY cli""",

    "q_qa_win_datatypes" ->
      s"""WITH w AS ($winDuckBase)
          SELECT srv, cli, tz, t12,
                 min(tz) OVER (PARTITION BY cli) AS min_str,
                 max(t12) OVER (PARTITION BY cli) AS max_ts,
                 CAST(max(n) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                   ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS BIGINT) AS max_n,
                 CAST(count(t12) OVER (PARTITION BY cli ORDER BY srv, tz, t12) AS BIGINT) AS c_ts
          FROM w ORDER BY cli, srv, tz, t12""",

    "q_qa_win_nulls_order" ->
      s"""WITH w AS ($winDuckBase)
          SELECT srv, cli, tz, t12, v,
                 CAST(row_number() OVER (PARTITION BY cli
                   ORDER BY v ASC NULLS LAST, srv, tz, t12) AS BIGINT) AS rn_nl,
                 CAST(row_number() OVER (PARTITION BY cli
                   ORDER BY v DESC NULLS FIRST, srv, tz, t12) AS BIGINT) AS rn_nf,
                 first_value(v) OVER (PARTITION BY cli
                   ORDER BY v ASC NULLS FIRST, srv, tz, t12) AS fv_nf
          FROM (SELECT *, CASE WHEN srv = 0 THEN NULL ELSE tz END AS v FROM w)
          ORDER BY cli, srv, tz, t12""",

    "q_qa_win_rank_subq_filter" ->
      s"""WITH w AS ($winDuckBase)
          SELECT * FROM (
            SELECT cli, srv, tz, t12,
                   CAST(rank() OVER (PARTITION BY cli ORDER BY srv, tz, t12) AS BIGINT) AS rk,
                   round(percent_rank() OVER (PARTITION BY cli ORDER BY srv, tz, t12), 6) AS pr,
                   round(cume_dist() OVER (PARTITION BY cli ORDER BY srv, tz, t12), 6) AS cd
            FROM w) x
          WHERE rk <= 3 ORDER BY cli, rk, srv, tz, t12""",

    "q_qa_win_desc_range" ->
      s"""WITH w AS ($winDuckBase)
          SELECT srv, cli, tz, t12,
                 CAST(sum(n) OVER (PARTITION BY cli ORDER BY srv DESC
                   RANGE BETWEEN 1 PRECEDING AND CURRENT ROW) AS BIGINT) AS s_1p,
                 first_value(srv) OVER (PARTITION BY cli ORDER BY srv DESC) AS fv_desc,
                 last_value(srv) OVER (PARTITION BY cli ORDER BY srv DESC
                   RANGE BETWEEN CURRENT ROW AND CURRENT ROW) AS lv_peer_desc
          FROM w ORDER BY cli, srv, tz, t12""",

    "q_qa_win_expr_args" ->
      s"""WITH w AS ($winDuckBase)
          SELECT srv, cli, tz, t12,
                 CAST(sum(n * 2 + 1) OVER (PARTITION BY cli
                   ORDER BY srv, tz, t12) AS BIGINT) AS s_arith,
                 CAST(sum(CASE WHEN srv = 0 THEN n ELSE 0 END) OVER (
                   PARTITION BY cli ORDER BY srv, tz, t12) AS BIGINT) AS s_case,
                 CAST(max(length(tz) + srv) OVER (PARTITION BY cli) AS BIGINT) AS m_fn
          FROM w ORDER BY cli, srv, tz, t12""",

    "q_qa_win_pagination" ->
      s"""WITH w AS ($winDuckBase)
          SELECT * FROM (
            SELECT cli, srv, tz, t12,
                   CAST(row_number() OVER (ORDER BY cli, srv, tz, t12) AS BIGINT) AS rn
            FROM w) x
          WHERE rn BETWEEN 6 AND 15 ORDER BY rn""",

    "q_qa_win_lead_lag_typed" ->
      s"""WITH w AS ($winDuckBase)
          SELECT srv, cli, tz, t12,
                 lead(tz, 1, 'none') OVER (PARTITION BY cli
                   ORDER BY srv, tz, t12) AS next_tz,
                 lag(tz, 0) OVER (PARTITION BY cli
                   ORDER BY srv, tz, t12) AS self_tz,
                 lag(t12, 2) OVER (PARTITION BY cli
                   ORDER BY srv, tz, t12) AS t12_back2
          FROM w ORDER BY cli, srv, tz, t12""",

    "q_qa_win_stacked" ->
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
          FROM inner_w ORDER BY cli, srv, tz, t12""",

    "q_qa_win_tie_fractions" ->
      s"""WITH w AS ($winDuckBase)
          SELECT srv, cli, tz, t12,
                 round(percent_rank() OVER (PARTITION BY cli ORDER BY srv), 6) AS pr,
                 round(cume_dist() OVER (PARTITION BY cli ORDER BY srv), 6) AS cd,
                 CAST(dense_rank() OVER (PARTITION BY cli ORDER BY srv) AS BIGINT) AS dr
          FROM w ORDER BY cli, srv, tz, t12""",

    "q_qa_win_group_by_having" ->
      s"""WITH w AS ($winDuckBase)
          SELECT cli, CAST(sum(n) AS BIGINT) AS tot,
                 CAST(rank() OVER (ORDER BY CAST(sum(n) AS BIGINT) DESC, cli) AS BIGINT) AS rk
          FROM w GROUP BY cli HAVING sum(n) > 1
          ORDER BY rk, cli""",

    "q_qa_win_join_self" ->
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
          FROM win t1 INNER JOIN win t2 ON t1.srv = t2.srv""",

    "q_qa_win_groupby_running" ->
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
         ORDER BY cli, srv, tz""",

    "q_qa_win_union_groupby" ->
      """SELECT user_id % 3 AS srv, event_type AS cli,
                CAST(count(*) AS BIGINT) AS n,
                CAST(count(*) OVER (PARTITION BY event_type
                  ORDER BY user_id % 3) AS BIGINT) AS run_cnt,
                CAST(sum(count(*)) OVER (PARTITION BY event_type
                  ORDER BY user_id % 3) AS BIGINT) AS run_sum
         FROM (SELECT * FROM events WHERE user_id < 12
               UNION ALL
               SELECT * FROM events WHERE user_id < 12)
         GROUP BY user_id % 3, event_type
         ORDER BY cli, srv""",

    "q_qa_win_named_window" ->
      s"""WITH w AS ($winDuckBase)
          SELECT srv, cli, tz, t12,
                 CAST(row_number() OVER win AS BIGINT) AS rn,
                 CAST(sum(n) OVER win AS BIGINT) AS cum,
                 first_value(tz) OVER win AS fv
          FROM w
          WINDOW win AS (PARTITION BY cli ORDER BY srv, tz, t12)
          ORDER BY cli, srv, tz, t12""",

    "q_qa_win_mixed_frames" ->
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
          ORDER BY cli, srv, tz, t12""",

    "q_qa_win_range_interval_dst" ->
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
         FROM ny_daily ORDER BY bucket""",

    "q_qa_win_percent_edges" ->
      s"""WITH w AS ($winDuckBase)
          SELECT srv, cli, tz, t12,
                 round(percent_rank() OVER (PARTITION BY cli, tz
                   ORDER BY srv, t12), 6) AS pr,
                 round(cume_dist() OVER (PARTITION BY cli, tz
                   ORDER BY srv), 6) AS cd_peers,
                 CAST(ntile(2) OVER (PARTITION BY cli, tz
                   ORDER BY srv, t12) AS BIGINT) AS nt2
          FROM w ORDER BY cli, srv, tz, t12""",

    "q_qa_win_empty_frames" ->
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
          FROM w ORDER BY cli, srv, tz, t12""",

    "q_qa_win_multi_sortkey_expr" ->
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
          FROM w ORDER BY cli, srv, tz, t12""",

    "q_qa_win_scalar_chain" ->
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
          FROM w ORDER BY cli, srv, tz, t12""",

    "q_drill_window_star_orderby" ->
      """SELECT *, CAST(sum(n) OVER w AS BIGINT) AS s,
                CAST(count(n) OVER w AS BIGINT) AS c,
                CAST(rank() OVER (PARTITION BY b1 ORDER BY n, c1) AS BIGINT) AS rk
         FROM (SELECT user_id % 3 AS b1, event_type AS c1,
                      count(*) AS n
               FROM events WHERE user_id < 9
               GROUP BY user_id % 3, event_type) t
         WINDOW w AS (PARTITION BY b1 ORDER BY c1 DESC)
         ORDER BY rk, b1, c1""",

    "q_drill_window_list_agg" ->
      """SELECT grp, cli, n,
                array_to_string(list_sort(list(cli) OVER
                  (PARTITION BY grp)), '|') AS part_list,
                array_to_string(list_sort(list(cli) OVER ()), '|') AS all_list
         FROM (SELECT user_id % 3 AS grp, event_type AS cli,
                      count(*) AS n
               FROM events WHERE user_id < 9
               GROUP BY user_id % 3, event_type) g
         ORDER BY grp, cli""",

    "q_qa_win_agg_over_window" ->
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
                FROM w) x""",

    "q_qa_win_mixed_null_dirs" ->
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
          ORDER BY cli, srv, tz, t12""",

    "q_drill_window_var_sliding" ->
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
          FROM w ORDER BY cli, srv, tz, t12""",

    "q_qa_unnest_group_window" ->
      """SELECT word, n,
                CAST(row_number() OVER (ORDER BY n DESC, word) AS BIGINT) AS rk,
                CAST(sum(n) OVER (ORDER BY n DESC, word
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         FROM (SELECT word, count(*) AS n
               FROM (SELECT unnest(string_split(p_name, ' ')) AS word
                     FROM part WHERE p_partkey <= 300)
               GROUP BY word) g
         ORDER BY rk""",

    "q_qa_win_range_matrix_full" ->
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
          FROM w ORDER BY cli, srv, tz, t12""",

    "q_qa_win_frame_no_orderby" ->
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
          FROM w ORDER BY cli, srv, tz, t12""",

    "q_qa_win_dup_sortkey" ->
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
          FROM w ORDER BY cli, srv, tz, t12""",

    "q_qa_win_lag_ignores_frame" ->
      s"""WITH w AS ($winDuckBase)
          SELECT srv, cli, tz, t12,
                 CAST(lag(n, 2) OVER (PARTITION BY cli
                   ORDER BY srv, tz, t12) AS BIGINT) AS lag2,
                 CAST(lead(n, 2) OVER (PARTITION BY cli
                   ORDER BY srv, tz, t12) AS BIGINT) AS lead2,
                 CAST(sum(n) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                   ROWS BETWEEN CURRENT ROW AND CURRENT ROW) AS BIGINT) AS s_self
          FROM w ORDER BY cli, srv, tz, t12""",

    "q_drill_window_named_mixed" ->
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
          ORDER BY cli, srv, tz, t12""",

    "q_drill_window_all_funcs" ->
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
          ORDER BY cli, srv, tz, t12""",

    "q_drill_window_var_stat" ->
      s"""WITH w AS ($winDuckBase)
          SELECT srv, cli, tz, t12,
                 round(var_samp(n) OVER (PARTITION BY cli, tz), 6) AS vs,
                 round(var_pop(n) OVER (PARTITION BY cli, tz), 6) AS vp,
                 round(stddev_samp(n) OVER (PARTITION BY cli, tz), 6) AS sd,
                 CAST(count(*) OVER (PARTITION BY cli, tz) AS BIGINT) AS np
          FROM w ORDER BY cli, srv, tz, t12""",

    "q_drill_window_frame_in_subq" ->
      s"""WITH w AS ($winDuckBase)
          SELECT cli, CAST(max(run) AS BIGINT) AS max_run,
                 CAST(sum(run) AS BIGINT) AS sum_run,
                 CAST(count(*) AS BIGINT) AS n_rows
          FROM (SELECT cli,
                       sum(n) OVER (PARTITION BY cli ORDER BY srv, tz, t12
                         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS run
                FROM w) x
          GROUP BY cli ORDER BY cli""",

    "q_qa_win_range_interval_desc" ->
      s"""WITH w AS ($winDuckBase)
          SELECT srv, cli, tz, t12,
                 CAST(sum(n) OVER (PARTITION BY cli ORDER BY t12 DESC
                   RANGE BETWEEN INTERVAL 12 HOURS PRECEDING AND CURRENT ROW) AS BIGINT) AS s_12h,
                 CAST(count(*) OVER (PARTITION BY cli ORDER BY t12 DESC
                   RANGE BETWEEN INTERVAL 12 HOURS PRECEDING
                             AND INTERVAL 12 HOURS FOLLOWING) AS BIGINT) AS c_24h
          FROM w ORDER BY cli, srv, tz, t12""",

    "q_qa_win_suffix_frames" ->
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
         ORDER BY cli, srv, tz""",

    "q_qa_scalar_datetime_battery" ->
      s"""SELECT CAST(count(*) FILTER (WHERE
                  ${battery("ts", "ts - INTERVAL 2 YEAR", "ts + INTERVAL 2 YEAR", "VARCHAR")}) AS BIGINT) AS cnt_time,
                CAST(count(*) FILTER (WHERE
                  ${battery("date_trunc('year', ts)",
                    "date_trunc('year', ts - INTERVAL 2 YEAR)",
                    "date_trunc('year', ts + INTERVAL 2 YEAR)", "VARCHAR")}) AS BIGINT) AS cnt_floor
         FROM events WHERE user_id < 100""",

    "q_qa_scalar_ipv4_battery" ->
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
         FROM ips""",

    "q_qa_scalar_string_battery" ->
      s"""SELECT CAST(count(*) FILTER (WHERE
                  ${battery("'1' || event_type", "'0' || event_type",
                    "'2' || event_type", "VARCHAR")}) AS BIGINT) AS cnt_concat,
                CAST(count(*) FILTER (WHERE
                  ${battery("upper(substring(event_type, 1, 3))",
                    "'A'", "'ZZZZ'", "VARCHAR")}) AS BIGINT) AS cnt_func
         FROM events WHERE user_id < 100""",

    "q_qa_scalar_reduction_battery" ->
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
         FROM events WHERE user_id < 100""",

    "q_qa_scalar_numeric_battery" ->
      s"""SELECT CAST(count(*) FILTER (WHERE
                  ${battery("user_id * 2 + 1", "user_id * 2", "user_id * 2 + 2", "VARCHAR")}) AS BIGINT) AS cnt_long,
                CAST(count(*) FILTER (WHERE
                  ${battery("round(value, 2) + 1.0", "round(value, 2)",
                    "round(value, 2) + 2.0", "VARCHAR")}) AS BIGINT) AS cnt_double
         FROM events WHERE user_id < 100""",

    "q_qa_join_semi_anti_simul" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n
         FROM orders
         WHERE o_custkey IN (SELECT c_custkey FROM customer
                             WHERE c_mktsegment = 'BUILDING')
           AND o_orderkey NOT IN (SELECT l_orderkey FROM lineitem
                                  WHERE l_quantity > 49)
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "q_qa_join_union_inputs" ->
      """SELECT n_name, CAST(count(*) AS BIGINT) AS n FROM (
           SELECT c_nationkey AS k FROM customer WHERE c_acctbal > 9000
           UNION ALL
           SELECT s_nationkey AS k FROM supplier WHERE s_acctbal > 9000) u
         JOIN nation ON u.k = n_nationkey
         GROUP BY n_name ORDER BY n_name""",

    "q_qa_join_inline_outer_where" ->
      """SELECT a.k, a.v, b.v AS bv
         FROM (SELECT * FROM (VALUES (1, 'x'), (2, 'y'), (3, 'z')) t(k, v)) a
         LEFT JOIN (SELECT * FROM (VALUES (1, 'p'), (3, 'q')) t(k, v)) b
           ON a.k = b.k
         WHERE b.v IS NULL OR b.v = 'q'
         ORDER BY a.k""",

    "q_qa_join_cast_key" ->
      """SELECT n_name, count(*) AS n
         FROM orders JOIN nation
           ON CAST(o_custkey % 25 AS STRING) = CAST(n_nationkey AS STRING)
         GROUP BY n_name ORDER BY n_name""",

    "q_qa_join_isnull_filter" ->
      """SELECT c_mktsegment, count(*) AS n
         FROM customer LEFT JOIN
           (SELECT DISTINCT o_custkey FROM orders
            WHERE o_orderpriority = '1-URGENT') u
           ON c_custkey = o_custkey
         WHERE o_custkey IS NULL
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",

    "q_qa_join_timefloor_agg" ->
      """SELECT CAST(a.d AS TIMESTAMP) AS d, a.n_orders, b.n_lines
         FROM (SELECT date_trunc('month', o_orderdate) AS d, count(*) AS n_orders
               FROM orders GROUP BY date_trunc('month', o_orderdate)) a
         JOIN (SELECT date_trunc('month', l_shipdate) AS d, count(*) AS n_lines
               FROM lineitem GROUP BY date_trunc('month', l_shipdate)) b
           ON a.d = b.d
         WHERE a.d >= TIMESTAMP '1997-01-01'
           AND a.d < TIMESTAMP '1998-01-01'
         ORDER BY d""",

    "q_qa_join_groupby_over_groupby" ->
      """SELECT event_type FROM (
           SELECT event_type, ts FROM (
             SELECT t1.event_type, t1.ts
             FROM events t1 INNER JOIN events t2
               ON t1.event_type = t2.event_type
             WHERE t1.event_id < 200 AND t2.event_id < 200)
           GROUP BY 1, 2)
         GROUP BY event_type ORDER BY event_type""",

    "q_qa_join_subq_and_filter" ->
      """SELECT o_orderstatus, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n
         FROM orders
         WHERE o_orderpriority IN (SELECT o_orderpriority FROM orders
                                   WHERE o_orderstatus = 'F')
           AND o_orderstatus <> 'P' AND o_orderkey <= 3000
         GROUP BY o_orderstatus, o_orderpriority
         ORDER BY o_orderpriority, o_orderstatus""",

    "q_qa_multi_count_distinct" ->
      """SELECT o_orderstatus,
                CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS d_pri,
                CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS d_cust,
                CAST(FLOOR(SUM(CAST(o_totalprice AS DECIMAL(18,2)))) AS BIGINT) AS s,
                CAST(COUNT(*) AS BIGINT) AS n
         FROM orders WHERE o_orderkey <= 20000
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    "q_qa_join_fn_on_key" ->
      """SELECT c.c_name, r.r_name
         FROM customer c, region r
         WHERE SUBSTRING(c.c_mktsegment, 1, 1) = SUBSTRING(r.r_name, 1, 1)
           AND c.c_custkey <= 300
         ORDER BY c.c_name, r.r_name""",

    "q_qa_join_topn_limit" ->
      """SELECT f1.o_orderpriority AS pri,
               CAST(FLOOR(sum(CAST(f1.o_totalprice AS DECIMAL(18,2)))) AS BIGINT) AS s
         FROM orders f1 INNER JOIN (
           SELECT o_orderpriority FROM orders
           WHERE o_orderpriority <> '1-URGENT' GROUP BY 1
         ) f2 ON f1.o_orderpriority = f2.o_orderpriority
         GROUP BY 1 ORDER BY 1 LIMIT 1""",

    "q_qa_join_semi_time_extract" ->
      """SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n,
                CAST(EXTRACT(DAY FROM ts) AS BIGINT) AS d
         FROM events
         WHERE event_type IN (SELECT event_type FROM events WHERE user_id = 7)
           AND user_id < 200
         GROUP BY EXTRACT(DAY FROM ts)
         ORDER BY d""",

    "q_qa_join_mv_filter_expr" ->
      """WITH f AS (SELECT p_partkey,
                           list_filter(string_split(p_type, ' '),
                             x -> x = 'PROMO') AS mv
                    FROM part WHERE p_partkey <= 200)
         SELECT a.p_partkey AS pa, b.p_partkey AS pb
         FROM f a INNER JOIN f b
           ON a.mv = b.mv AND len(a.mv) > 0 AND a.p_partkey < b.p_partkey
         ORDER BY pa, pb""",

    "q_qa_union_two_joins" ->
      """SELECT * FROM (
           SELECT 'cust' AS side, c_mktsegment AS k, count(*) AS n
           FROM orders JOIN customer ON o_custkey = c_custkey
           WHERE o_orderpriority = '1-URGENT'
           GROUP BY c_mktsegment
           UNION ALL
           SELECT 'supp' AS side, CAST(s_nationkey AS STRING) AS k, count(*) AS n
           FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
           WHERE l_quantity > 45
           GROUP BY s_nationkey) u
         ORDER BY side, k""",

    "q_qa_two_semi_joins" ->
      """SELECT o_orderpriority, count(*) AS n
         FROM orders
         WHERE o_custkey IN (SELECT c_custkey FROM customer
                             WHERE c_acctbal > 9000)
           AND o_orderkey IN (SELECT l_orderkey FROM lineitem
                              WHERE l_quantity > 45)
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "q_qa_full_outer_const_project" ->
      """SELECT l.a, r.tag
         FROM (VALUES ('abc'), ('xyz')) l(a)
         FULL JOIN (SELECT k, 42 AS tag
                    FROM (VALUES ('abc'), (CAST(NULL AS STRING))) t(k)) r
           ON l.a = r.k
         ORDER BY a NULLS FIRST, tag""",

    "q_qa_union_null_branch" ->
      """(SELECT CAST(count(*) AS BIGINT) AS c, o_orderstatus AS ch FROM orders
          WHERE o_orderdate >= DATE '2030-01-01' GROUP BY o_orderstatus)
         UNION ALL
         (SELECT NULL, NULL)
         ORDER BY c NULLS FIRST, ch""",

    "q_qa_nested_groupby_agg" ->
      """SELECT pri_class, CAST(count(*) AS BIGINT) AS n_groups,
                CAST(sum(n) AS BIGINT) AS total
         FROM (SELECT substring(o_orderpriority, 1, 1) AS pri_class,
                      o_orderpriority, count(*) AS n
               FROM orders WHERE o_orderstatus = 'O'
               GROUP BY o_orderpriority)
         GROUP BY pri_class ORDER BY pri_class""",

    "q_qa_subq_extraction_fn" ->
      """SELECT substring(o_orderpriority, 3, 1) AS p, CAST(count(*) AS BIGINT) AS n
         FROM orders
         WHERE substring(o_orderpriority, 3, 1)
                 IN (SELECT substring(c_mktsegment, 1, 1) FROM customer)
         GROUP BY substring(o_orderpriority, 3, 1)
         ORDER BY p""",

    "q_qa_sql_string_battery" ->
      """SELECT CAST(count(*) AS BIGINT) AS cnt FROM events
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
                AND '1'||event_type NOT IN ('0'||event_type, '2'||event_type)))""",

    "q_qa_sql_numeric_battery" ->
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
                 BETWEEN 0.999999 AND 1.000001""",

    "q_qa_sql_reduction" ->
      """SELECT CAST(count(*) AS BIGINT) AS cnt,
                round(CAST(sum(greatest(value, 0.5)) AS DOUBLE), 3) AS g_sum,
                round(CAST(sum(least(value, 0.5)) AS DOUBLE), 3) AS l_sum,
                CAST(count(CASE WHEN greatest(value, NULL) = value
                            THEN 1 END) AS BIGINT) AS g_skipnull,
                CAST(count(CASE WHEN least(value, NULL) = value
                            THEN 1 END) AS BIGINT) AS l_skipnull
         FROM events""",

    "q_qa_sql_datetime_battery" ->
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
         FROM events""",

    "q_qa_sql_other_battery" ->
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
         FROM events""",

    "q_qa_sql_ipv4_battery" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_match,
                CAST(count(*) AS BIGINT) AS n_rt,
                CAST(sum(1 + user_id % 200) AS BIGINT) AS sum_last
         FROM events""",

    "q_search" ->
      """SELECT dimension, value, cnt FROM (
           SELECT 'p_brand' AS dimension, p_brand AS value, count(*) AS cnt
           FROM part WHERE contains(lower(p_brand), 'bra') GROUP BY p_brand
           UNION ALL
           SELECT 'p_type' AS dimension, p_type AS value, count(*) AS cnt
           FROM part WHERE contains(lower(p_type), 'bra') GROUP BY p_type)
         ORDER BY dimension, value""",

    "q_segment_metadata" ->
      """SELECT col_name, non_null, cardinality FROM (
           SELECT 'l_returnflag' AS col_name, count(l_returnflag) AS non_null,
                  count(DISTINCT l_returnflag) AS cardinality FROM lineitem
           UNION ALL
           SELECT 'l_linestatus', count(l_linestatus),
                  count(DISTINCT l_linestatus) FROM lineitem
           UNION ALL
           SELECT 'l_partkey', count(l_partkey),
                  count(DISTINCT l_partkey) FROM lineitem)
         ORDER BY col_name""",

    "q_sql_surface" ->
      """SELECT o_orderpriority, count(*) AS n,
                CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS DOUBLE)
                  / CAST(count(*) AS DOUBLE) AS f_ratio,
                strftime(min(o_orderdate), '%Y-%m') AS first_month
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "q_sql_earliest" ->
      """SELECT o_orderpriority,
                min_by(o_totalprice, o_orderkey) AS first_price,
                max_by(o_orderstatus, o_orderkey) AS last_status,
                min_by(o_orderstatus, o_orderkey) AS first_status,
                max_by(o_totalprice, o_orderkey) AS last_price
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "q_sql_ref_compat" ->
      """SELECT o_orderkey,
                CASE WHEN regexp_matches(o_orderpriority, '[0-9]+')
                     THEN regexp_extract(o_orderpriority, '[0-9]+') END AS prio_num,
                CASE WHEN regexp_matches(o_orderstatus, '[0-9]+')
                     THEN regexp_extract(o_orderstatus, '[0-9]+') END AS no_match,
                o_orderkey // 7 AS sevenths,
                (o_orderkey % 64) >= 32 AS in_subnet
         FROM orders WHERE o_orderkey < 500 ORDER BY o_orderkey""",

    "q_sql_api_params" ->
      """SELECT o_orderpriority, count(*) AS n,
                CAST(sum(o_totalprice) AS DOUBLE) AS rev
         FROM orders WHERE o_orderstatus = 'F' AND o_totalprice > 50000.0
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "q_jdbc_cursor" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
                round(CAST(sum(o_totalprice) AS DOUBLE), 2) AS rev
         FROM orders WHERE o_orderstatus = 'F' AND o_totalprice > 1000.0
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "q_sql_api_insert" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 3) AS sum_value
         FROM events GROUP BY event_type ORDER BY event_type""",

    "q_sql_api_extern" ->
      """SELECT o_orderpriority, count(*) AS n,
                CAST(sum(o_totalprice) AS DOUBLE) AS rev
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "q_sql_api_append" ->
      """SELECT count(*) AS n, count(n_name) AS nations,
                count(r_name) AS regions
         FROM (SELECT n_name, NULL AS r_name FROM nation
               UNION ALL
               SELECT NULL AS n_name, r_name FROM region)""",

    "q_sql_statements" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
                round(sum(o_totalprice), 2) AS sum_price
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "q_sql_api_unnest" ->
      """SELECT w AS word, count(*) AS n
         FROM documents, unnest(string_split(text, ' ')) AS t(w)
         WHERE lang = 'en' AND w <> ''
         GROUP BY w HAVING count(*) > 3 ORDER BY n DESC, word LIMIT 20""",

    "q_sql_mv_funcs" ->
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
         ORDER BY p_partkey""",

    "q_sql_scalar_funcs" ->
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
         FROM orders WHERE o_orderkey < 1000 ORDER BY o_orderkey""",

    "q_sql_format_funcs" ->
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
         FROM orders WHERE o_orderkey < 1000 ORDER BY o_orderkey""",

    "q_stream_rollup" ->
      """SELECT date_trunc('hour', ts) AS bucket, event_type, count(*) AS n,
                round(sum(value), 3) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",

    "q_stream_enrich" ->
      """SELECT date_trunc('day', ts) AS bucket, n_name, count(*) AS n,
                round(sum(value), 3) AS sum_value
         FROM events LEFT JOIN nation ON user_id % 25 = n_nationkey
         GROUP BY 1, 2 ORDER BY bucket, n_name""",

    "q_inflight_union" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 3) AS sum_value
         FROM events GROUP BY event_type ORDER BY event_type""",

    "q_sql_json_funcs" ->
      """SELECT event_id,
                array_to_string(json_keys(props), ',') AS ks,
                array_to_string(list_transform(json_keys(props), k -> '$.' || k), ',') AS ps,
                props->>'$.k' AS qk,
                CAST(json_object('a', CAST(event_id AS VARCHAR)) AS VARCHAR) AS obj,
                props->>'$.k' AS v
         FROM events WHERE event_id < 100
         ORDER BY event_id""",

    "q_sql_pivot" ->
      """SELECT * FROM (SELECT o_orderstatus, o_orderpriority FROM orders)
         PIVOT (count(*) FOR o_orderstatus IN ('O' AS o, 'F' AS f, 'P' AS p))
         ORDER BY o_orderpriority""",

    "q_sql_unpivot" ->
      """SELECT o_orderpriority, status, n FROM (
           SELECT o_orderpriority,
                  count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS open_n,
                  count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS done_n
           FROM orders GROUP BY o_orderpriority) t
         UNPIVOT (n FOR status IN (open_n, done_n))
         ORDER BY o_orderpriority, status""",

    "q_stream_sessionize" ->
      """WITH marked AS (
           SELECT user_id, ts,
                  CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         <= INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS new_s
           FROM events),
         sess AS (
           SELECT user_id, ts,
                  SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           FROM marked)
         SELECT CAST(user_id AS VARCHAR(32)) AS key,
                date_trunc('second', min(ts)) AS session_start,
                date_trunc('second', max(ts)) AS session_end,
                count(*) AS n_events
         FROM sess GROUP BY user_id, sid
         ORDER BY key, session_start""",

    "q_json_shred" ->
      """SELECT event_type,
                count(CAST(props->>'$.k' AS BIGINT)) AS n_k,
                CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
                max(CAST(props->>'$.k' AS BIGINT)) AS max_k
         FROM events GROUP BY event_type ORDER BY event_type""",

    "q_dedup_exact_groups" ->
      """SELECT md5(text) AS fp, min(doc_id) AS keep_id, count(*) AS n_dups
         FROM documents GROUP BY text ORDER BY keep_id""",

    "q_dedup_exact_rows" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
         WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY text)
         ORDER BY doc_id""",

    "q_dedup_ngram_jaccard" ->
      """WITH grams AS (
           SELECT doc_id,
                  concat(source, '#', CAST(CAST(floor(n_chars / 50) AS BIGINT)
                    AS VARCHAR)) AS block,
                  list_distinct(list_transform(
                    range(1, len(string_split(norm, ' ')) - 1),
                    i -> array_to_string(string_split(norm, ' ')[i:i+2], ' ')))
                    AS g
           FROM (SELECT doc_id, source, n_chars,
                        trim(regexp_replace(regexp_replace(lower(text),
                          '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
                 FROM documents))
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                round(CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) /
                      CAST(len(list_distinct(list_concat(a.g, b.g))) AS DOUBLE),
                      6) AS jaccard
         FROM grams a JOIN grams b
           ON a.block = b.block AND a.doc_id < b.doc_id
         WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) /
               CAST(len(list_distinct(list_concat(a.g, b.g))) AS DOUBLE) >= 0.2
         ORDER BY id_a, id_b""",

    "q_text_bpe_merges" -> {
      val n = 10
      s"""WITH ${bpeOracleCtes(n)}
          SELECT * FROM (${(1 to n).map(i =>
            s"""SELECT CAST($i AS BIGINT) AS merge_rank, a AS lhs, b AS rhs FROM m$i""")
            .mkString(" UNION ALL ")})
          ORDER BY merge_rank"""
    },

    "q_text_bpe" -> {
      val n = 10
      s"""WITH ${bpeOracleCtes(n)},
          dw AS (SELECT doc_id, unnest(list_filter(
                   regexp_split_to_array(text, '\\s+'), t -> len(t) > 0)) AS word
                 FROM documents)
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens_ws,
                 CAST(sum(len(string_split(v.s, ' '))) AS BIGINT) AS n_tokens_bpe
          FROM dw JOIN v$n v USING (word)
          GROUP BY doc_id ORDER BY doc_id"""
    },

    "q_pipeline_e2e" ->
      """WITH RECURSIVE raw AS (
           SELECT doc_id, text,
             (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://Crawl' ELSE 'https://crawl' END)
             || '.Example.COM'
             || (CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END)
             || '/doc/' || CAST(doc_id // 2 AS VARCHAR)
             || (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END)
             || (CASE WHEN doc_id % 2 = 0 THEN '?utm_source=x&ref=1'
                      ELSE '?ref=1&utm_campaign=c' END)
             || (CASE WHEN doc_id % 4 = 0 THEN '#top' ELSE '' END) AS url
           FROM documents),
         nf AS (SELECT doc_id, text, regexp_replace(url, '#.*$', '') AS nofrag FROM raw),
         pp AS (
           SELECT doc_id, text,
             lower(regexp_extract(nofrag, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
             lower(regexp_extract(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS auth,
             regexp_extract(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$', 1) AS pathq
           FROM nf),
         qq AS (
           SELECT doc_id, text, scheme,
             CASE WHEN scheme = 'http' THEN regexp_replace(auth, ':80$', '')
                  WHEN scheme = 'https' THEN regexp_replace(auth, ':443$', '')
                  ELSE auth END AS auth,
             regexp_extract(pathq, '^([^?]*)', 1) AS rawpath,
             regexp_extract(pathq, '\?(.*)$', 1) AS query
           FROM pp),
         curled AS (
           SELECT doc_id, text,
             scheme || '://' || auth
             || (CASE WHEN length(rawpath) = 0 THEN '/'
                      WHEN rawpath = '/' THEN '/'
                      ELSE regexp_replace(rawpath, '/$', '') END)
             || (CASE WHEN length(cq) > 0 THEN '?' || cq ELSE '' END) AS curl
           FROM (SELECT *, array_to_string(list_sort(list_filter(
                   string_split(query, '&'),
                   p -> length(p) > 0 AND NOT starts_with(p, 'utm_')
                        AND NOT starts_with(p, 'gclid=')
                        AND NOT starts_with(p, 'fbclid=')
                        AND p <> 'gclid' AND p <> 'fbclid')), '&') AS cq
                 FROM qq)),
         urlkept AS (
           SELECT doc_id, text FROM (
             SELECT doc_id, text,
                    row_number() OVER (PARTITION BY curl ORDER BY doc_id) AS rn
             FROM curled) WHERE rn = 1),
         exactkept AS (
           SELECT doc_id, text FROM (
             SELECT doc_id, text,
                    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
             FROM urlkept) WHERE rn = 1),
         grams AS (
           SELECT doc_id, unnest(list_distinct(list_transform(
             range(1, len(string_split(norm, ' ')) - 1),
             i -> array_to_string(string_split(norm, ' ')[i:i+2], ' ')))) AS g
           FROM (SELECT doc_id,
                        trim(regexp_replace(regexp_replace(lower(text),
                          '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
                 FROM exactkept)),
         sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id),
         truth AS (
           SELECT id_a, id_b FROM (
             SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
             FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
             GROUP BY 1, 2) x
           JOIN sizes sa ON sa.doc_id = id_a
           JOIN sizes sb ON sb.doc_id = id_b
           WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5),
         edges AS (SELECT id_a AS a, id_b AS b FROM truth
                   UNION ALL SELECT id_b, id_a FROM truth),
         reach(id, r) AS (
           SELECT DISTINCT a, a FROM edges
           UNION
           SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id),
         comp AS (SELECT id, min(r) AS root FROM reach GROUP BY id),
         famkept AS (
           SELECT k.doc_id, k.text FROM exactkept k
           LEFT JOIN comp ON comp.id = k.doc_id
           WHERE comp.id IS NULL OR comp.root = k.doc_id),
         cg AS (
           SELECT DISTINCT array_to_string(list_slice(toks, i+1, i+8), ' ') AS g
           FROM (SELECT string_split_regex(text, '\s+') AS toks
                 FROM documents WHERE doc_id % 97 = 0),
                unnest(generate_series(0, len(toks) - 8)) AS t(i)
           WHERE len(toks) >= 8),
         pg AS (
           SELECT DISTINCT doc_id,
                  array_to_string(list_slice(toks, i+1, i+8), ' ') AS g
           FROM (SELECT doc_id, string_split_regex(text, '\s+') AS toks
                 FROM famkept),
                unnest(generate_series(0, len(toks) - 8)) AS t(i)
           WHERE len(toks) >= 8),
         contaminated AS (SELECT DISTINCT pg.doc_id FROM pg JOIN cg USING (g)),
         clean AS (
           SELECT f.doc_id, f.text FROM famkept f
           WHERE f.doc_id NOT IN (SELECT doc_id FROM contaminated)),
         qbase AS (
           SELECT doc_id, text,
                  list_filter(regexp_split_to_array(text, '\s+'),
                              t -> len(t) > 0) AS toks,
                  CAST(length(text) AS DOUBLE) AS nc,
                  CAST(length(text) AS DOUBLE)
                    - CAST(length(regexp_replace(text, '[[:punct:]]', '', 'g'))
                      AS DOUBLE) AS np
           FROM clean),
         qm AS (
           SELECT doc_id, text,
                  CAST(len(toks) AS DOUBLE) AS nt,
                  CAST(len(list_filter(toks, t -> list_contains(
                    ['the','a','an','of','and','to','in','is'], t)))
                    AS DOUBLE) AS ns,
                  nc, np
           FROM qbase),
         passed AS (
           SELECT doc_id, text FROM qm
           WHERE NOT (nt < 5) AND NOT (nt > 1000)
             AND NOT ((CASE WHEN nt = 0 THEN 0.0 ELSE (nc - (nt - 1)) / nt END) < 2.0
                      OR (CASE WHEN nt = 0 THEN 0.0 ELSE (nc - (nt - 1)) / nt END) > 12.0)
             AND NOT ((CASE WHEN nt = 0 THEN 0.0 ELSE ns / nt END) < 0.02)
             AND NOT ((CASE WHEN nc = 0 THEN 0.0 ELSE np / nc END) > 0.2))
         SELECT doc_id, n_tokens,
                CAST(FLOOR(start_tok / 512.0) AS BIGINT) AS seq_id,
                CAST(start_tok % 512 AS BIGINT) AS seq_offset
         FROM (SELECT doc_id, n_tokens,
                      COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                        AS start_tok
               FROM (SELECT doc_id,
                       CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
                            t -> len(t) > 0)) AS BIGINT) AS n_tokens
                     FROM passed)) t
         ORDER BY doc_id""",

    "q_pack_sequences" ->
      """SELECT doc_id, n_tokens,
                CAST(FLOOR(start_tok / 512.0) AS BIGINT) AS seq_id,
                CAST(start_tok % 512 AS BIGINT) AS seq_offset
         FROM (SELECT doc_id, n_tokens,
                      COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                        AS start_tok
               FROM (SELECT doc_id,
                       CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
                            t -> len(t) > 0)) AS BIGINT) AS n_tokens
                     FROM documents)) t
         ORDER BY doc_id""",

    "q_text_tokens" ->
      """SELECT doc_id,
                CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
                                     t -> len(t) > 0)) AS BIGINT) AS n_tokens,
                CAST(len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9\s]'))
                  AS BIGINT) AS n_rough,
                CAST(len(list_distinct(list_filter(
                       regexp_split_to_array(text, '\s+'),
                       t -> len(t) > 0))) AS BIGINT) AS n_unique
         FROM documents ORDER BY doc_id""",

    "q_dedup_fuzzy" ->
      """SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
                round(jaro_winkler_similarity(a.p_name, b.p_name), 6) AS jw
         FROM part a JOIN part b
           ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
         WHERE jaro_winkler_similarity(a.p_name, b.p_name) >= 0.92
         ORDER BY id_a, id_b""",

    "q_text_fuzzy" ->
      """SELECT c_custkey,
                round(jaro_winkler_similarity(c_name, 'Customer#000000042'), 6)
                  AS jw_to_42,
                round(jaro_winkler_similarity(c_mktsegment, 'AUTOMOBILE'), 6)
                  AS jw_seg
         FROM customer WHERE c_custkey <= 300 ORDER BY c_custkey""",

    "q_text_chunk_dedup" ->
      """WITH toks AS (
           SELECT doc_id,
                  list_filter(string_split_regex(text, '\s+'),
                              t -> length(t) > 0) AS tk
           FROM documents WHERE doc_id < 100),
         chunks AS (
           SELECT doc_id, CAST(i AS BIGINT) AS chunk_no,
                  array_to_string(tk[CAST(i*10+1 AS BIGINT) : CAST(i*10+10 AS BIGINT)], ' ') AS chunk
           FROM toks, unnest(range(0,
             CAST(floor((len(tk) - 1) / 10) + 1 AS BIGINT))) AS t(i)),
         dc AS (SELECT chunk, count(DISTINCT doc_id) AS ndocs
                FROM chunks GROUP BY 1),
         j AS (SELECT c.doc_id, c.chunk_no, c.chunk, dc.ndocs
               FROM chunks c JOIN dc USING (chunk))
         SELECT doc_id,
                count(*) AS n_chunks,
                count(*) FILTER (WHERE ndocs < 2) AS n_kept,
                md5(coalesce(string_agg(chunk, ' ' ORDER BY chunk_no)
                               FILTER (WHERE ndocs < 2), '')) AS cleaned_md5
         FROM j GROUP BY doc_id ORDER BY doc_id""",

    "q_text_url_canonical" ->
      """WITH raw AS (
           SELECT doc_id,
             (CASE WHEN doc_id % 2 = 0 THEN 'HTTP://Example' ELSE 'http://example' END)
             || CAST(doc_id % 5 AS VARCHAR) || '.COM'
             || (CASE WHEN doc_id % 3 = 0 THEN ':80' ELSE '' END)
             || '/path' || CAST(doc_id % 7 AS VARCHAR)
             || (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END)
             || (CASE WHEN doc_id % 2 = 0 THEN '?utm_source=x&b=2&a=1'
                      ELSE '?z=9&utm_campaign=c&a=1' END)
             || (CASE WHEN doc_id % 4 = 0 THEN '#frag' ELSE '' END) AS url
           FROM documents WHERE doc_id < 200),
         nf AS (SELECT doc_id, regexp_replace(url, '#.*$', '') AS nofrag FROM raw),
         p AS (
           SELECT doc_id,
             lower(regexp_extract(nofrag, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
             lower(regexp_extract(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS auth,
             regexp_extract(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$', 1) AS pathq
           FROM nf),
         q AS (
           SELECT doc_id, scheme,
             CASE WHEN scheme = 'http' THEN regexp_replace(auth, ':80$', '')
                  WHEN scheme = 'https' THEN regexp_replace(auth, ':443$', '')
                  ELSE auth END AS auth,
             regexp_extract(pathq, '^([^?]*)', 1) AS rawpath,
             regexp_extract(pathq, '\?(.*)$', 1) AS query
           FROM p),
         r AS (
           SELECT doc_id, scheme, auth,
             CASE WHEN length(rawpath) = 0 THEN '/'
                  WHEN rawpath = '/' THEN '/'
                  ELSE regexp_replace(rawpath, '/$', '') END AS path,
             array_to_string(list_sort(list_filter(string_split(query, '&'),
               x -> length(x) > 0 AND NOT starts_with(x, 'utm_')
                    AND NOT starts_with(x, 'gclid=')
                    AND NOT starts_with(x, 'fbclid=')
                    AND x <> 'gclid' AND x <> 'fbclid')), '&') AS canonq
           FROM q)
         SELECT scheme || '://' || auth || path
                || (CASE WHEN length(canonq) > 0 THEN '?' || canonq ELSE '' END) AS curl,
                count(*) AS n, min(doc_id) AS first_id
         FROM r GROUP BY 1 ORDER BY curl""",

    "q_text_fingerprint" ->
      """SELECT doc_id,
                md5(trim(regexp_replace(regexp_replace(lower(text),
                    '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS fp,
                substring(md5(trim(regexp_replace(regexp_replace(lower(text),
                    '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))), 1, 8) AS fp8
         FROM documents ORDER BY doc_id""",

    "q_text_boilerplate" ->
      """WITH t AS (SELECT doc_id,
                list_filter(string_split(text, ' '), x -> length(x) > 0) AS w
              FROM documents),
         g AS (SELECT doc_id, unnest(list_transform(range(1, len(w) - 3),
                 i -> array_to_string(w[i:i+4], ' '))) AS gram
               FROM t WHERE len(w) >= 5),
         c AS (SELECT gram, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
                      CAST(count(*) AS BIGINT) AS n_occurrences
               FROM g GROUP BY gram)
         SELECT gram, n_docs, n_occurrences FROM c WHERE n_docs >= 3
         ORDER BY n_docs DESC, n_occurrences DESC, gram LIMIT 20""",

    "q_text_repetition" ->
      """WITH t AS (SELECT doc_id,
                list_filter(string_split(text, ' '), x -> length(x) > 0) AS w
              FROM documents),
         g AS (SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
                 i -> array_to_string(w[i:i+2], ' '))) AS gram
               FROM t WHERE len(w) >= 3),
         c AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY 1, 2)
         SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS total_ngrams,
                CAST(count(*) AS BIGINT) AS distinct_ngrams,
                CAST(max(cnt) AS BIGINT) AS top_ngram_count,
                round(1.0 - count(*) / CAST(sum(cnt) AS DOUBLE), 6) AS dup_ngram_frac,
                round(max(cnt) / CAST(sum(cnt) AS DOUBLE), 6) AS top_ngram_cover
         FROM c GROUP BY doc_id ORDER BY doc_id""",

    "q_embed_knn" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec
                    FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id AS n_id, embedding AS n_vec FROM embeddings),
         sims AS (
           SELECT q_id, n_id,
             list_sum(list_transform(range(1, 65),
               i -> CAST(q_vec[i] AS DOUBLE) * CAST(n_vec[i] AS DOUBLE))) /
             (sqrt(list_sum(list_transform(range(1, 65),
                i -> CAST(q_vec[i] AS DOUBLE) * CAST(q_vec[i] AS DOUBLE)))) *
              sqrt(list_sum(list_transform(range(1, 65),
                i -> CAST(n_vec[i] AS DOUBLE) * CAST(n_vec[i] AS DOUBLE)))))
               AS sim
           FROM c, q WHERE q_id <> n_id),
         ranked AS (
           SELECT q_id, n_id, sim,
                  row_number() OVER (PARTITION BY q_id
                                     ORDER BY sim DESC, n_id) AS rk
           FROM sims)
         SELECT q_id, n_id, round(sim, 4) AS sim FROM ranked
         WHERE rk <= 10 ORDER BY q_id, n_id""",

    "q_expr_array" ->
      """SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
                embedding[1] AS first_el, embedding[-1] AS last_el,
                list_max(embedding) AS max_el, list_min(embedding) AS min_el,
                round(list_sum(list_transform(embedding[1:3],
                  x -> CAST(x AS DOUBLE))), 5) AS head3_sum,
                CAST(list_position(embedding, embedding[5]) AS BIGINT) AS pos5,
                CAST(len(list_distinct(list_concat(embedding[1:8],
                  [embedding[1]]))) AS BIGINT) AS set_add_n,
                round((CAST(list_sort(embedding)[32] AS DOUBLE) +
                       CAST(list_sort(embedding)[33] AS DOUBLE)) / 2, 5) AS median
         FROM embeddings WHERE vec_id < 100 ORDER BY vec_id""",

    "q_embed_neardup" ->
      """WITH v AS (SELECT vec_id, embedding FROM embeddings),
         sims AS (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             list_sum(list_transform(range(1, 65),
               i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) /
             (sqrt(list_sum(list_transform(range(1, 65),
                i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)))) *
              sqrt(list_sum(list_transform(range(1, 65),
                i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))))
               AS sim
           FROM v a, v b WHERE a.vec_id < b.vec_id)
         SELECT id_a, id_b, round(sim, 4) AS sim FROM sims
         WHERE sim >= 0.42 ORDER BY id_a, id_b""",

    "q_embed_centroid_dist" ->
      """WITH pos AS (
           SELECT label, i, avg(embedding[i]) AS m
           FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
           GROUP BY label, i),
         cent AS (SELECT label, list(m ORDER BY i) AS c FROM pos GROUP BY label)
         SELECT e.vec_id, e.label,
                round(list_sum(list_transform(range(1, len(e.embedding) + 1),
                  i -> (CAST(e.embedding[i] AS DOUBLE) - c.c[i])
                       * (CAST(e.embedding[i] AS DOUBLE) - c.c[i]))), 6) AS d2
         FROM embeddings e JOIN cent c USING (label)
         ORDER BY e.vec_id""",

    "q_embed_diversity" ->
      """WITH pos AS (
           SELECT label, i, avg(embedding[i]) AS m
           FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
           GROUP BY label, i),
         cent AS (SELECT label, list(m ORDER BY i) AS c FROM pos GROUP BY label),
         d AS (
           SELECT e.label,
                  list_sum(list_transform(range(1, len(e.embedding) + 1),
                    i -> (CAST(e.embedding[i] AS DOUBLE) - c.c[i])
                         * (CAST(e.embedding[i] AS DOUBLE) - c.c[i]))) AS d2
           FROM embeddings e JOIN cent c USING (label))
         SELECT label, count(*) AS n, round(avg(d2), 6) AS msd,
                round(avg(d2) * 2, 6) AS expected_pair_d2
         FROM d GROUP BY label ORDER BY label""",

    "q_embed_stats" ->
      """SELECT label, count(*) AS n, min(vec_id) AS min_id,
                CAST(len(first(embedding ORDER BY vec_id)) AS BIGINT) AS dim
         FROM embeddings GROUP BY label ORDER BY label""",

    "q_join_sortmerge" ->
      """SELECT o_orderpriority, count(*) AS n, sum(l_quantity) AS sum_qty
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY 1 ORDER BY 1""",

    "q_join_outer" ->
      """SELECT coalesce(p_partkey, l_partkey) AS partkey, p_brand,
                coalesce(n_li, 0) AS n_li
         FROM (SELECT p_partkey, p_brand FROM part WHERE p_size <= 5) p
         FULL OUTER JOIN (SELECT l_partkey, count(*) AS n_li FROM lineitem
                          WHERE l_quantity >= 49 GROUP BY 1) li
           ON p_partkey = l_partkey
         ORDER BY partkey""",

    "q_filter_colcompare" ->
      """SELECT l_returnflag, count(*) AS n FROM lineitem
         WHERE l_discount > l_tax GROUP BY 1 ORDER BY 1""",

    "q_window_firstval" ->
      """SELECT o_custkey, o_orderkey,
                first_value(o_totalprice) OVER w AS first_price,
                last_value(o_totalprice) OVER w AS last_price
         FROM orders WHERE o_custkey < 100
         WINDOW w AS (PARTITION BY o_custkey
                      ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         ORDER BY o_custkey, o_orderkey""",

    "q_grouping_id" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
                CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",

    "q_source_orc" ->
      """SELECT n_regionkey, count(*) AS n FROM nation
         GROUP BY 1 ORDER BY 1""",

    "q_source_jdbc" ->
      """SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n,
                round(CAST(sum(s_acctbal) AS DOUBLE), 2) AS bal
         FROM supplier GROUP BY 1 ORDER BY 1""",

    "q_source_avro" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
                round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2) AS bal
         FROM customer GROUP BY 1 ORDER BY 1""",

    "q_source_protobuf" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
                round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2) AS bal,
                CAST(max(c_custkey) AS BIGINT) AS max_key
         FROM customer GROUP BY 1 ORDER BY 1""",

    "q_source_protobuf_desc" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
                round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2) AS bal,
                CAST(max(c_custkey) AS BIGINT) AS max_key
         FROM customer GROUP BY 1 ORDER BY 1""",

    "q_window_over_agg" ->
      """SELECT o_custkey, n, total, rk FROM (
           SELECT o_custkey, n, total,
                  row_number() OVER (ORDER BY n DESC, o_custkey ASC) AS rk
           FROM (SELECT o_custkey, count(*) AS n,
                        round(sum(o_totalprice), 2) AS total
                 FROM orders GROUP BY o_custkey))
         WHERE rk <= 25 ORDER BY rk""",

    "q_scalar_subquery" ->
      """SELECT o_orderpriority, count(*) AS n
         FROM orders
         WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "q_correlated_subquery" ->
      """SELECT l_orderkey, count(*) AS n_above_avg
         FROM lineitem l1
         WHERE l_quantity > (SELECT avg(l_quantity) FROM lineitem l2
                             WHERE l2.l_orderkey = l1.l_orderkey)
         GROUP BY l_orderkey
         HAVING count(*) >= 3
         ORDER BY l_orderkey""",

    "q_window_groups" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
                sum(l_quantity) OVER (PARTITION BY l_returnflag
                  ORDER BY dr RANGE BETWEEN 1 PRECEDING AND CURRENT ROW)
                  AS grp_sum
         FROM (SELECT *, dense_rank() OVER (PARTITION BY l_returnflag
                 ORDER BY l_quantity) AS dr
               FROM lineitem WHERE l_suppkey <= 3)
         ORDER BY l_orderkey, l_linenumber""",

    "q_timeseries_tz" ->
      """SELECT date_trunc('day', ts + INTERVAL 330 MINUTE)
                  - INTERVAL 330 MINUTE AS bucket,
                count(*) AS n
         FROM events GROUP BY 1 ORDER BY 1""",

    "q_timeseries_dst" ->
      """SELECT ((date_trunc('day', (CAST(o_orderdate AS TIMESTAMP)
                    AT TIME ZONE 'UTC') AT TIME ZONE 'America/New_York'))
                  AT TIME ZONE 'America/New_York') AT TIME ZONE 'UTC' AS bucket,
                count(*) AS n,
                round(CAST(sum(o_totalprice) AS DOUBLE), 2) AS total
         FROM orders GROUP BY 1 ORDER BY 1""",

    "q_projection_reroute" ->
      """SELECT date_trunc('day', ts) AS bucket, event_type,
                count(*) AS n, round(sum(value), 3) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",

    "q_agg_geomean" ->
      """SELECT l_returnflag, round(exp(avg(ln(l_quantity))), 6) AS geo_qty,
                count(*) AS n
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q_json_timeseries" ->
      """SELECT date_trunc('hour', ts) AS timestamp, count(*) AS n,
                round(sum(value), 3) AS rev,
                count(*) FILTER (WHERE value >= 100) AS big_n
         FROM events
         WHERE event_type IN ('purchase', 'click')
           AND ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-03'
         GROUP BY 1 ORDER BY 1""",

    "q_json_topn" ->
      """SELECT user_id, count(*) AS n, max(value) AS max_v
         FROM events GROUP BY user_id ORDER BY n DESC, user_id LIMIT 15""",

    "q_json_mvd_groupby" ->
      """SELECT w, count(*) AS n, CAST(sum(p_partkey) AS BIGINT) AS ksum
         FROM part, unnest(string_split(p_name, ' ')) AS t(w)
         GROUP BY w ORDER BY w""",

    "q_json_groupby" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
                round(sum(o_totalprice), 2) AS total,
                round(sum(o_totalprice) / count(*), 4) AS avg_price
         FROM orders WHERE o_totalprice >= 50000
         GROUP BY 1, 2 HAVING count(*) > 10 ORDER BY 1, 2""",

    "q_json_scan" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
         WHERE l_quantity >= 48 AND l_returnflag = 'R'
         ORDER BY l_orderkey, l_linenumber""",

    "q_expr_native_cast" ->
      """SELECT l_orderkey, l_linenumber,
                12::BIGINT AS v_strnum,
                CAST(trunc(l_quantity) AS BIGINT) AS v_dbl,
                1.0::DOUBLE AS v_bool,
                CAST(NULL AS BIGINT) AS v_bad,
                l_orderkey AS v_rt
         FROM lineitem WHERE l_orderkey <= 100
         ORDER BY l_orderkey, l_linenumber""",

    "q_moving_avg" ->
      """WITH b AS (
           SELECT date_trunc('day', ts) AS timestamp, event_type,
                  CAST(count(*) AS BIGINT) AS n, sum(value) AS dv
           FROM events GROUP BY 1, 2)
         SELECT timestamp, event_type, n, round(dv, 3) AS daily_value,
                round(sum(dv) OVER w / 3, 3) AS ma3,
                round(max(dv) OVER w, 3) AS mx3
         FROM b
         WINDOW w AS (PARTITION BY event_type ORDER BY timestamp
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
         ORDER BY timestamp, event_type""",

    "q_spatial" ->
      """WITH pts AS (
           SELECT c_mktsegment,
                  (c_custkey * 73 % 3600) / 10.0 - 180.0 AS x,
                  (c_custkey * 37 % 1800) / 10.0 - 90.0 AS y
           FROM customer)
         SELECT c_mktsegment,
           count(*) FILTER (WHERE x >= -90 AND x <= 90
                              AND y >= -45 AND y <= 45) AS n_rect,
           count(*) FILTER (WHERE x*x + y*y <= 60*60) AS n_radius,
           count(*) FILTER (WHERE (
             (CASE WHEN ((-50 > y) <> (-50 > y))
                     AND (-50) + (y - (-50)) / (0.0) * (100.0) > x
                   THEN 1 ELSE 0 END) +
             (CASE WHEN ((-50 > y) <> (60 > y))
                     AND (50) + (y - (-50)) / (110.0) * (-50.0) > x
                   THEN 1 ELSE 0 END) +
             (CASE WHEN ((60 > y) <> (-50 > y))
                     AND (0) + (y - (60)) / (-110.0) * (-50.0) > x
                   THEN 1 ELSE 0 END)) % 2 = 1) AS n_poly,
           count(*) AS n
         FROM pts GROUP BY c_mktsegment ORDER BY c_mktsegment""",

    "q_timeseries_origin" ->
      """SELECT make_timestamp(epoch_us(ts) -
                  ((epoch_us(ts) - 10800000000) % 21600000000)) AS bucket,
                count(*) AS n, round(sum(value), 3) AS sum_value
         FROM events GROUP BY 1 ORDER BY 1""",

    "q_source_csv" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 3) AS sum_value
         FROM events GROUP BY event_type ORDER BY event_type""",

    "q_source_json" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 3) AS sum_value
         FROM events GROUP BY event_type ORDER BY event_type""",

    "q_source_regex" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 3) AS sum_value
         FROM events GROUP BY event_type ORDER BY event_type""",

    "q_expr_timeceil" ->
      """SELECT event_id,
                make_timestamp(epoch_us(ts) - (epoch_us(ts) % 900000000) +
                  CASE WHEN epoch_us(ts) % 900000000 = 0 THEN 0
                       ELSE 900000000 END) AS ceil15m
         FROM events WHERE event_id < 200 ORDER BY event_id""",

    "q_mvd_filter" ->
      """SELECT lang, count(*) AS n FROM documents
         WHERE list_contains(string_split(text, ' '), 'spark')
           AND NOT list_contains(string_split(text, ' '), 'slow')
         GROUP BY lang ORDER BY lang""",

    "q_union_by_name" ->
      """SELECT coalesce(segment, '(none)') AS segment, count(*) AS n,
                round(sum(acctbal), 2) AS total_bal
         FROM (
           SELECT c_name AS name, c_acctbal AS acctbal, c_mktsegment AS segment
           FROM customer
           UNION ALL BY NAME
           SELECT s_name AS name, s_acctbal AS acctbal FROM supplier)
         GROUP BY 1 ORDER BY 1""",

    "q_agg_firstlast_str" ->
      """SELECT user_id, min_by(event_type, ts) AS first_type,
                max_by(event_type, ts) AS last_type, count(*) AS n
         FROM events WHERE user_id < 50
         GROUP BY user_id ORDER BY user_id""",

    "q_sys_segments" ->
      """SELECT datasource, CAST(num_rows AS BIGINT) AS num_rows FROM (
           SELECT 'region' AS datasource, count(*) AS num_rows FROM region
           UNION ALL SELECT 'nation', count(*) FROM nation
           UNION ALL SELECT 'customer', count(*) FROM customer
           UNION ALL SELECT 'supplier', count(*) FROM supplier
           UNION ALL SELECT 'part', count(*) FROM part
           UNION ALL SELECT 'orders', count(*) FROM orders
           UNION ALL SELECT 'lineitem', count(*) FROM lineitem
           UNION ALL SELECT 'events', count(*) FROM events
           UNION ALL SELECT 'documents', count(*) FROM documents
           UNION ALL SELECT 'embeddings', count(*) FROM embeddings)
         ORDER BY datasource""",

    "q_info_schema" ->
      """SELECT table_name, column_name,
                CAST(ordinal_position AS BIGINT) AS ordinal_position
         FROM information_schema.columns
         WHERE table_name IN ('region','nation','customer','supplier','part',
                              'orders','lineitem','events','documents',
                              'embeddings')
         ORDER BY table_name, ordinal_position""",

    "q_lookup_pullup" ->
      """SELECT CASE o_orderstatus WHEN 'F' THEN 'finished'
                  WHEN 'O' THEN 'open' WHEN 'P' THEN 'partial' END AS status,
                CAST(count(*) AS BIGINT) AS n,
                round(CAST(sum(o_totalprice) AS DOUBLE), 2) AS total
         FROM orders GROUP BY 1 ORDER BY 1""",

    "q_lookup_registered" ->
      """SELECT CASE o_orderstatus WHEN 'F' THEN 'finished'
                  WHEN 'O' THEN 'open' WHEN 'P' THEN 'partial'
                  ELSE 'unknown' END AS status, count(*) AS n
         FROM orders GROUP BY 1 ORDER BY 1""",

    "q_lookup_schema" ->
      """SELECT v, count(*) AS n
         FROM orders JOIN (VALUES ('F', 'finished'), ('O', 'open'),
                                  ('P', 'partial')) AS l(k, v)
           ON o_orderstatus = k
         GROUP BY v ORDER BY v""",

    "q_agg_histogram" ->
      """SELECT CASE WHEN value < 0 THEN 0
                     WHEN value >= 200 THEN 11
                     ELSE CAST(floor(value / 20) + 1 AS BIGINT) END AS bucket,
                count(*) AS n
         FROM events GROUP BY 1 ORDER BY 1""",

    "q_agg_percentile" ->
      """SELECT o_orderpriority,
                round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
                round(quantile_cont(o_totalprice, 0.9), 4) AS p90
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "q_extraction_groupby" ->
      """SELECT substring(o_orderpriority, 1, 1) AS prio_code,
                strftime(o_orderdate, '%Y-%m') AS month, count(*) AS n
         FROM orders GROUP BY 1, 2 ORDER BY 1, 2""",

    "q_lookup_map" ->
      """SELECT CASE event_type
                  WHEN 'purchase' THEN 'revenue'
                  WHEN 'click' THEN 'engagement'
                  WHEN 'view' THEN 'engagement'
                  WHEN 'signup' THEN 'growth'
                  ELSE 'other' END AS category,
                count(*) AS n
         FROM events GROUP BY 1 ORDER BY 1""",

    "q_window_range" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
                count(*) OVER (PARTITION BY l_returnflag ORDER BY l_quantity
                  RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS n_within_5
         FROM lineitem WHERE l_orderkey < 200
         ORDER BY l_orderkey, l_linenumber""",

    "q_null_handling" ->
      """SELECT nullif(o_orderstatus, 'P') AS status_or_null,
                count(*) AS n_rows,
                count(nullif(o_orderstatus, 'P')) AS n_nonnull,
                round(sum(o_totalprice)
                  FILTER (WHERE nullif(o_orderstatus, 'P') IS NULL), 2)
                  AS null_total
         FROM orders GROUP BY 1 ORDER BY 1 NULLS FIRST""",

    "q_sql_replace" ->
      """SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n,
                round(sum(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-02'
                                AND CAST(ts AS DATE) < DATE '2024-01-04'
                               THEN value * 2 ELSE value END), 3) AS sum_value
         FROM events
         WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-01' AND DATE '2024-01-05'
         GROUP BY 1, 2 ORDER BY 1, 2""",

    "q_ingest_roundtrip" ->
      """SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n,
                round(sum(value), 3) AS sum_value
         FROM events
         WHERE CAST(ts AS DATE) >= DATE '2024-01-02'
           AND CAST(ts AS DATE) <= DATE '2024-01-03'
         GROUP BY 1, 2 ORDER BY 1, 2""",

    "q_multimodal_features" ->
      """SELECT doc_id AS asset_id, 'text/plain' AS media_type,
                CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                md5(text) AS checksum,
                CAST(8 AS BIGINT) AS feat_dim
         FROM documents ORDER BY asset_id""",

    "q_multimodal_decode" ->
      """SELECT doc_id AS asset_id,
                CAST(16 + doc_id % 8 AS BIGINT) AS width,
                CAST(16 AS BIGINT) AS height,
                round(list_sum(list_transform(
                    range(0, CAST(16 + doc_id % 8 AS INTEGER)),
                    gx -> CAST((gx * 31 + doc_id) % 256 AS DOUBLE)))
                  / (16 + doc_id % 8), 4) AS mean_r,
                round(list_sum(list_transform(range(0, 16),
                    gy -> CAST((gy * 17 + doc_id) % 256 AS DOUBLE)))
                  / 16, 4) AS mean_g,
                round(list_sum(list_transform(
                    range(0, CAST(16 + doc_id % 8 AS INTEGER)),
                    gx -> list_sum(list_transform(range(0, 16),
                      gy -> CAST((gx + gy + doc_id) % 256 AS DOUBLE)))))
                  / ((16 + doc_id % 8) * 16), 4) AS mean_b
         FROM documents WHERE doc_id < 100 ORDER BY doc_id""",

    "q_multimodal_audio" ->
      """WITH base AS (
           SELECT doc_id,
                  CAST(400 + doc_id % 5 * 80 AS BIGINT) AS n,
                  list_transform(range(0, CAST(400 + doc_id % 5 * 80 AS INTEGER)),
                    i -> (i * 37 + doc_id * 11) % 2048 - 1024) AS samples
           FROM documents WHERE doc_id < 60)
         SELECT doc_id AS asset_id,
                CAST(8000.0 AS DOUBLE) AS sample_rate,
                CAST(1 AS BIGINT) AS channels,
                CAST(16 AS BIGINT) AS bits,
                n AS n_frames,
                round(n / 8000.0, 4) AS duration_s,
                round(list_sum(list_transform(samples, s -> abs(s)))
                  / CAST(n AS DOUBLE), 4) AS mean_abs,
                round(sqrt(list_sum(list_transform(samples,
                    s -> CAST(s AS DOUBLE) * s)) / n), 4) AS rms,
                CAST(list_max(list_transform(samples, s -> abs(s))) AS BIGINT)
                  AS peak
         FROM base ORDER BY asset_id""",

    "q_multimodal_video" ->
      """WITH frames AS (
           SELECT doc_id,
                  CAST(12 + doc_id % 4 AS BIGINT) AS w,
                  unnest(range(0, CAST(3 + doc_id % 3 AS BIGINT), 2)) AS f
           FROM documents WHERE doc_id < 60)
         SELECT doc_id AS asset_id,
                CAST(f AS BIGINT) AS frame_no,
                w AS width,
                CAST(8 AS BIGINT) AS height,
                round(((w // 2) * CAST((f * 29 + doc_id) % 256 AS DOUBLE)
                  + (w - w // 2) * ((f * 13 + doc_id * 5) % 256)) / w, 4) AS mean_r,
                round(((w // 2) * CAST((f * 47 + doc_id * 3) % 256 AS DOUBLE)
                  + (w - w // 2) * ((f * 59 + doc_id) % 256)) / w, 4) AS mean_g,
                round(((w // 2) * CAST((f * 71 + doc_id * 7) % 256 AS DOUBLE)
                  + (w - w // 2) * ((f * 23 + doc_id * 9) % 256)) / w, 4) AS mean_b
         FROM frames ORDER BY asset_id, frame_no""",

    "q_text_quality_filter" ->
      """WITH base AS (
           SELECT doc_id,
                  list_filter(regexp_split_to_array(text, '\s+'),
                              t -> len(t) > 0) AS toks,
                  CAST(length(text) AS DOUBLE) AS nc,
                  nc - CAST(length(regexp_replace(text, '[[:punct:]]', '', 'g'))
                    AS DOUBLE) AS np
           FROM documents),
         m AS (
           SELECT doc_id,
                  CAST(len(toks) AS DOUBLE) AS nt,
                  CAST(len(list_filter(toks, t -> list_contains(
                    ['the','a','an','of','and','to','in','is'], t)))
                    AS DOUBLE) AS ns,
                  nc, np
           FROM base),
         r AS (
           SELECT doc_id,
                  list_filter([
                    CASE WHEN nt < 5 THEN 'too_short' END,
                    CASE WHEN nt > 1000 THEN 'too_long' END,
                    CASE WHEN (CASE WHEN nt = 0 THEN 0.0
                               ELSE (nc - (nt - 1)) / nt END) < 2.0
                           OR (CASE WHEN nt = 0 THEN 0.0
                               ELSE (nc - (nt - 1)) / nt END) > 12.0
                         THEN 'token_len_out_of_range' END,
                    CASE WHEN (CASE WHEN nt = 0 THEN 0.0 ELSE ns / nt END) < 0.02
                         THEN 'low_stopword_ratio' END,
                    CASE WHEN (CASE WHEN nc = 0 THEN 0.0 ELSE np / nc END) > 0.2
                         THEN 'high_punct_ratio' END],
                    x -> x IS NOT NULL) AS reasons
           FROM m)
         SELECT doc_id, len(reasons) = 0 AS passed,
                coalesce(array_to_string(reasons, '|'), '') AS why
         FROM r ORDER BY doc_id""",

    "q_text_profile" ->
      """WITH base AS (
           SELECT doc_id, text,
                  list_filter(regexp_split_to_array(text, '\s+'),
                              t -> len(t) > 0) AS toks,
                  CAST(length(text) AS DOUBLE) AS nc
           FROM documents),
         m AS (
           SELECT doc_id, text, nc,
                  CAST(len(toks) AS DOUBLE) AS nt,
                  CAST(len(list_filter(toks, t -> list_contains(
                    ['the','a','an','of','and','to','in','is'], t)))
                    AS DOUBLE) AS ns,
                  nc - CAST(length(regexp_replace(text, '[[:punct:]]', '', 'g'))
                    AS DOUBLE) AS np
           FROM base),
         sc AS (
           SELECT doc_id, text, nc, nt, ns,
                  CASE WHEN nt = 0 THEN 0.0 ELSE (nc - (nt - 1)) / nt END AS mtl,
                  CASE WHEN nt = 0 THEN 0.0 ELSE ns / nt END AS stop_ratio,
                  CASE WHEN nc = 0 THEN 0.0 ELSE np / nc END AS punct_ratio,
                  len(list_filter(list_filter(regexp_split_to_array(lower(text),
                    '\s+'), t -> len(t) > 0), t -> list_contains(
                    ['the','and','is','of'], t))) AS sc_en,
                  len(list_filter(list_filter(regexp_split_to_array(lower(text),
                    '\s+'), t -> len(t) > 0), t -> list_contains(
                    ['le','la','et','les'], t))) AS sc_fr,
                  len(list_filter(list_filter(regexp_split_to_array(lower(text),
                    '\s+'), t -> len(t) > 0), t -> list_contains(
                    ['el','los','las','una'], t))) AS sc_es,
                  len(list_filter(list_filter(regexp_split_to_array(lower(text),
                    '\s+'), t -> len(t) > 0), t -> list_contains(
                    ['der','die','und','das'], t))) AS sc_de
           FROM m)
         SELECT doc_id,
                CAST(nc AS BIGINT) AS n_chars,
                CAST(nt AS BIGINT) AS n_tokens,
                CAST(ns AS BIGINT) AS n_stopwords,
                round(mtl, 6) AS mean_token_len,
                round(least(nt / 50.0, 1.0) *
                      (0.5 + least(stop_ratio * 10.0, 1.0) * 0.5) *
                      greatest(0.0, 1.0 - punct_ratio * 4.0), 6) AS quality,
                CASE WHEN sc_en > 0 AND sc_en = greatest(sc_en, sc_fr, sc_es, sc_de)
                       THEN 'en'
                     WHEN sc_fr > 0 AND sc_fr = greatest(sc_en, sc_fr, sc_es, sc_de)
                       THEN 'fr'
                     WHEN sc_es > 0 AND sc_es = greatest(sc_en, sc_fr, sc_es, sc_de)
                       THEN 'es'
                     WHEN sc_de > 0 AND sc_de = greatest(sc_en, sc_fr, sc_es, sc_de)
                       THEN 'de'
                     ELSE 'und' END AS pred_lang,
                md5(trim(regexp_replace(regexp_replace(lower(text),
                    '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS fp
         FROM sc ORDER BY doc_id"""
  ) ++ QaSuites.oracleSql ++ winRound4Oracle ++ DrillFrameclause.oracleSql ++
    DrillAggregates.oracleSql ++ DrillLeadLag.oracleSql ++
    DrillMultiPartitions.oracleSql ++ DrillNestedAggs.oracleSql ++
    DrillWindowMisc.oracleSql ++ QaSqlBatteries.oracleSql ++
    CalciteJoinShapes.oracleSql ++ SqlQuidemShapes.oracleSql ++ MvdGates.oracleSql
}
