package graft

import org.apache.spark.sql.functions._

/** Drill window-function corpus slice
  * (`sql/src/test/resources/drill/window/queries/`) plus the seeded
  * randomized consistency corpus; each text runs verbatim on both engines.
  */
object DrillWindowGates {

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

  val gates: Seq[Gate] = Seq(

    // --------------------------------------------- drill window corpus slice
    // Representative frame/peer/null/nesting shapes ported from the
    // reference's adopted Drill window-function corpus
    // (sql/src/test/resources/drill/window/queries/ — 1,035 .q files it runs
    // via DruidAvaticaTestDriver), re-targeted at the testdata tables. Each
    // gate cites the .q family it ports; the SQL is shared verbatim with the
    // DuckDB oracle (both engines run the same text).

    // nestedAggs/frmclause02.q + basic_1.q/basic_2.q + nstdagg07.q: windows
    // with explicit frames and running order OVER GROUP-BY aggregates —
    // MAX(COUNT) under a cumulative RANGE frame, a running AVG of per-group
    // SUMs, MIN(MAX) over the empty OVER (), and a global running total
    Gate.spark("q_drill_window_nestagg_frames",
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
         ORDER BY pri, st"""),

    // aggregates/aggOWnFn_1.q: the SAME window NAME bound independently at
    // two query levels — inner NTILE over the subquery's WINDOW clause,
    // outer LEAD over the outer query's own definition of the same name
    Gate.spark("q_drill_window_named_scope",
      """SELECT pri, st, ntl,
                CAST(LEAD(ntl) OVER w AS BIGINT) AS ld
         FROM (SELECT pri, st,
                      CAST(NTILE(3) OVER w AS BIGINT) AS ntl
               FROM (SELECT o_orderpriority AS pri, o_orderstatus AS st,
                            COUNT(*) AS n
                     FROM orders GROUP BY o_orderpriority, o_orderstatus) g
               WINDOW w AS (PARTITION BY pri ORDER BY st)) sub
         WINDOW w AS (PARTITION BY pri ORDER BY st)
         ORDER BY pri, st"""),

    // frameclause/RBUPACR/RBUPACR_int_1.q: explicit cumulative ROWS frame
    Gate.spark("q_drill_window_rbupacr",
      """SELECT o_orderkey, o_orderpriority,
                round(MAX(o_totalprice) OVER (PARTITION BY o_orderpriority
                  ORDER BY o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS run_max,
                CAST(COUNT(*) OVER (PARTITION BY o_orderpriority
                  ORDER BY o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_n
         FROM orders WHERE o_orderkey < 5000
         ORDER BY o_orderkey"""),

    // frameclause/RBCRACR/RBCRACR_int_1.q: frame = exactly the current peers
    Gate.spark("q_drill_window_rbcracr",
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
                l_returnflag,
                CAST(SUM(l_quantity) OVER (PARTITION BY l_returnflag
                  ORDER BY l_linenumber
                  RANGE BETWEEN CURRENT ROW AND CURRENT ROW) AS BIGINT) AS peer_qty
         FROM lineitem WHERE l_orderkey < 1000
         ORDER BY l_orderkey, l_linenumber, l_returnflag"""),

    // frameclause/RBUPAUF (e.g. RBUPAUF_int_5.q): whole-partition ROWS frame
    Gate.spark("q_drill_window_rbupauf",
      """SELECT o_orderkey, o_orderpriority,
                FIRST_VALUE(o_orderkey) OVER w AS first_key,
                LAST_VALUE(o_orderkey) OVER w AS last_key,
                round(AVG(o_totalprice) OVER w, 2) AS part_avg
         FROM orders WHERE o_orderkey < 5000
         WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         ORDER BY o_orderkey"""),

    // frameclause/defaultFrame: no frame + duplicate order keys — the
    // implicit RANGE frame includes the whole tie class
    Gate.spark("q_drill_window_default_frame",
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
                CAST(SUM(l_quantity) OVER (PARTITION BY l_returnflag
                  ORDER BY l_orderkey) AS BIGINT) AS run_qty
         FROM lineitem WHERE l_orderkey < 2000
         ORDER BY l_orderkey, l_linenumber"""),

    // frameclause/multipl_wnwds/mulwind_01.q: four named windows, mixed
    // frame semantics, interleaved consumers
    Gate.spark("q_drill_window_multi",
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
         ORDER BY l_orderkey, l_linenumber"""),

    // nestedAggs/woutPrtnBy_45.q: windows OVER GROUP BY aggregates
    Gate.spark("q_drill_window_nested_aggs",
      """SELECT l_returnflag,
                CAST(COUNT(l_suppkey) AS BIGINT) AS n,
                CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS nd,
                CAST(MIN(COUNT(DISTINCT l_suppkey)) OVER () AS BIGINT) AS min_nd,
                CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS total_rows
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),

    // ntile_func/ntileFn_33.q: NTILE bucketing consumed by an outer GROUP BY
    Gate.spark("q_drill_window_ntile",
      """SELECT nt, CAST(COUNT(*) AS BIGINT) AS n
         FROM (SELECT CAST(NTILE(4) OVER (PARTITION BY c_mktsegment
                 ORDER BY c_custkey) AS BIGINT) AS nt
               FROM customer) sub
         GROUP BY nt ORDER BY nt"""),

    // lag_func/lead_func (e.g. lead.fewRowsAllData.q with nulls FIRST):
    // explicit null ordering + defaults + offset-2
    Gate.spark("q_drill_window_lag_lead",
      """SELECT p_partkey,
                LAG(p_size_n) OVER w AS lag_sz,
                LEAD(p_size_n, 2) OVER w AS lead2_sz,
                LAG(p_size_n, 1, CAST(-1 AS BIGINT)) OVER w AS lag_dflt
         FROM (SELECT p_partkey, p_brand,
                 CAST(NULLIF(p_size, 1) AS BIGINT) AS p_size_n FROM part) t
         WINDOW w AS (PARTITION BY p_brand
           ORDER BY p_size_n ASC NULLS FIRST, p_partkey)
         ORDER BY p_partkey"""),

    // first_val/firstValFn_*.q + last_val/lastValFn_*.q: LAST_VALUE under
    // the DEFAULT frame ends at the current row (the classic gotcha) vs the
    // explicit unbounded-following frame
    Gate.spark("q_drill_window_first_last",
      """SELECT c_custkey,
                FIRST_VALUE(c_custkey) OVER w1 AS first_k,
                LAST_VALUE(c_custkey) OVER w1 AS last_k_running,
                LAST_VALUE(c_custkey) OVER w2 AS last_k_full
         FROM customer WHERE c_custkey < 500
         WINDOW w1 AS (PARTITION BY c_mktsegment ORDER BY c_custkey),
                w2 AS (PARTITION BY c_mktsegment ORDER BY c_custkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         ORDER BY c_custkey"""),

    // empty_over_clause/avg_01.sql: OVER () — one global frame
    Gate.spark("q_drill_window_empty_over",
      """SELECT o_orderkey, round(o_totalprice, 2) AS price,
                CAST(COUNT(*) OVER () AS BIGINT) AS n_all,
                round(MIN(o_totalprice) OVER (), 2) AS min_all,
                round(MAX(o_totalprice) OVER (), 2) AS max_all
         FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey"""),

    // frameclause/subQueries/frmInSubQry_25.q: outer WHERE over a window
    // computed in a subquery
    Gate.spark("q_drill_window_subquery",
      """SELECT l_returnflag, CAST(w_sum AS BIGINT) AS w_sum
         FROM (SELECT l_returnflag,
                      SUM(l_quantity) OVER (PARTITION BY l_returnflag
                        ORDER BY l_orderkey, l_linenumber, l_quantity
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS w_sum
               FROM lineitem WHERE l_orderkey < 500) sub
         WHERE w_sum > 100
         ORDER BY l_returnflag, w_sum"""),

    // aggregates/winFnQry_*.q (MAX over FIRST_VALUE subquery): scalar
    // aggregate over per-row window results
    Gate.spark("q_drill_window_agg_outer",
      """SELECT l_returnflag, CAST(MAX(fv) AS BIGINT) AS max_fv,
                CAST(MIN(lv) AS BIGINT) AS min_lv
         FROM (SELECT l_returnflag,
                 FIRST_VALUE(l_suppkey) OVER (PARTITION BY l_returnflag, l_linestatus
                   ORDER BY l_orderkey, l_linenumber, l_suppkey) AS fv,
                 LAST_VALUE(l_suppkey) OVER (PARTITION BY l_returnflag, l_linestatus
                   ORDER BY l_orderkey, l_linenumber, l_suppkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS lv
               FROM lineitem) sub
         GROUP BY l_returnflag ORDER BY l_returnflag"""),

    // seeded randomized consistency corpus (see consistencySql): 24
    // generated aggregation queries, one shared text, both engines
    Gate.spark("q_random_consistency", consistencySql(seed = 42L, n = 24))
  )
}
