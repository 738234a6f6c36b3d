package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Wholesale port of the reference's Drill `multiple_partitions` corpus
  * (`sql/src/test/resources/drill/window/queries/multiple_partitions/` —
  * 69 .q over tables j1..j7 / t1 / t2), the largest remaining un-mined
  * Drill window directory. The corpus's defining trait: SEVERAL window
  * functions in one SELECT, each with a DIFFERENT `PARTITION BY` — the
  * shapes that stress an engine's window-exchange planning (one sort+
  * shuffle per distinct (partition, order) pair) rather than any single
  * function's semantics.
  *
  * Shape classes covered, with their source queries:
  *  - arithmetic over two differently-partitioned windows inside a
  *    subquery, outer filter on the combined alias (q1-q3);
  *  - the same aggregate over (), (p1), (p1,p2), and (p ORDER BY k DESC)
  *    in one projection (q4-q6, q65);
  *  - rank/dense_rank pairs with different partitions + NULLS FIRST
  *    spellings and an outer multi-key sort (q7, q8);
  *  - CAST of windowed aggregates into arithmetic / `||` concatenation
  *    chains, min/max over upper‖lower expressions (q10, q12, q35, q37);
  *  - the named `WINDOW W AS (…)` clause shared by the whole ranking
  *    family plus framed aggregates (q25, q27);
  *  - CASE WHEN windowed-avg comparisons, windows over subquery-computed
  *    CASE columns, COALESCE inside windowed aggregates (q22, q30, q32);
  *  - GROUP BY under windows — the window input is the GROUPED row set —
  *    with the outer ORDER BY on a window result (q47, q50, q55);
  *  - a join of two windowed subqueries on a non-window column (q60);
  *  - LAST_VALUE / NTILE across partition granularities (q42, q45).
  *
  * One inline fixture reproduces the j-table structure: 15 rows, a
  * 3-group DATE partition column (one NULL date), a globally-UNIQUE
  * c_time (every ORDER BY c_time is total, so running aggregates and
  * row_number over it are deterministic), duplicated c_integer /
  * c_varchar values for the tie-sensitive RANGE-default frames, and
  * NULLs in every nullable column. Where the original orders
  * ROW_NUMBER/NTILE/LAG by a DUPLICATED key (q15, q17, q45, q47, q50 —
  * stable only under Drill's incidental tie order), the port adds a
  * `rid` tie-break, the same adaptation the other Drill batteries use.
  * DuckDB's NULL-ordering defaults differ from Spark's (ASC ⇒ NULLS
  * LAST vs Spark's NULLS FIRST; DESC inverts both), so the oracle spells
  * NULLS FIRST / DESC NULLS LAST explicitly where the Spark text is
  * bare. Sums are CAST to BIGINT (DuckDB sums INTEGER into HUGEINT) and
  * averages to DOUBLE, as in the sibling batteries.
  */
object DrillMultiPartitions {

  // ------------------------------------------------------------ fixture ----
  // j-table shape: (rid, c_integer, c_bigint, c_double, c_date DATE,
  //                 c_time VARCHAR unique, c_timestamp TIMESTAMP,
  //                 c_boolean, c_varchar)
  private val rows: Seq[(Int, String, String, String, String, String,
      String, String, String)] = Seq(
    (1, "10", "1000", "0.5", "2007-12-01", "01:00:00",
      "2007-12-01 01:00:00", "true", "'CA'"),
    (2, "20", "1000", "-1.1", "2007-12-01", "01:15:00",
      "2007-12-01 02:00:00", "false", "'CO'"),
    (3, "20", "2000", "33.9", "2007-12-01", "01:30:00",
      "2007-12-01 03:00:00", "true", "'GA'"),
    (4, null, "2000", "1234.9", "2007-12-01", "01:45:00",
      "2007-12-01 04:00:00", null, null),
    (5, "40", "3000", null, "2007-12-01", "02:00:00",
      "2007-12-01 05:00:00", "false", "'NY'"),
    (6, "15", "1000", "-65534.0", "2008-05-10", "02:15:00",
      "2008-05-10 01:00:00", "true", "'CO'"),
    (7, "25", "2000", "9898.68", "2008-05-10", "02:30:00",
      "2008-05-10 02:00:00", "false", "'MN'"),
    (8, "35", "3000", "0.0", "2008-05-10", "02:45:00",
      "2008-05-10 03:00:00", "true", "'VT'"),
    (9, null, null, "1.0", "2008-05-10", "03:00:00", null, null, null),
    (10, "45", "1000", null, "2008-05-10", "03:15:00",
      "2008-05-10 05:00:00", "false", "'WY'"),
    (11, "12", "2000", "-1.0", "2009-03-20", "03:30:00",
      "2009-03-20 01:00:00", "true", "'CA'"),
    (12, "22", "3000", "255.99", "2009-03-20", "03:45:00",
      "2009-03-20 02:00:00", "false", "'GA'"),
    (13, "32", "1000", "256.0", "2009-03-20", "04:00:00",
      "2009-03-20 03:00:00", null, "'LA'"),
    (14, "42", "2000", "0.9999", "2009-03-20", "04:15:00",
      "2009-03-20 04:00:00", "true", null),
    (15, "52", "3000", null, null, "04:30:00", null, "false", "'OR'"))

  private def row(r: (Int, String, String, String, String, String, String,
      String, String), duck: Boolean): String = {
    val (rid, ci, cb, cd, dt, tm, ts, bo, vc) = r
    def n(v: String, st: String, dt0: String) =
      if (v == null) { if (duck) s"NULL::$dt0" else s"CAST(NULL AS $st)" }
      else v
    def big(v: String) =
      if (v == null) { if (duck) "NULL::BIGINT" else "CAST(NULL AS BIGINT)" }
      else if (duck) s"$v::BIGINT" else s"${v}L"
    val dtLit =
      if (dt == null) { if (duck) "NULL::DATE" else "CAST(NULL AS DATE)" }
      else s"DATE '$dt'"
    val tsLit =
      if (ts == null) { if (duck) "NULL::TIMESTAMP" else "CAST(NULL AS TIMESTAMP)" }
      else s"TIMESTAMP '$ts'"
    s"""($rid, ${n(ci, "INT", "INTEGER")}, ${big(cb)},
        ${n(cd, "DOUBLE", "DOUBLE")}, $dtLit, '$tm', $tsLit,
        ${n(bo, "BOOLEAN", "BOOLEAN")}, ${n(vc, "STRING", "VARCHAR")})"""
  }

  private val cols = "t(rid, c_integer, c_bigint, c_double, c_date, " +
    "c_time, c_timestamp, c_boolean, c_varchar)"
  private[graft] def fixture(duck: Boolean): String =
    if (duck)
      s"""j1 AS (SELECT * FROM (VALUES
          ${rows.map(row(_, duck = true)).mkString(",\n          ")}) $cols)"""
    else
      s"""j1 AS (SELECT * FROM VALUES
          ${rows.map(row(_, duck = false)).mkString(",\n          ")} AS $cols)"""

  // t1/t2 fixture for the join-of-windowed-subqueries shape (q60)
  private[graft] def tFixture(duck: Boolean): String = {
    val t1 = Seq((10, 1, "A"), (20, 1, "B"), (30, 2, "A"), (40, 2, "B"),
      (50, 3, "A"))
    val t2 = Seq((100, 1, "X"), (200, 1, "Y"), (300, 2, "X"), (400, 3, "Y"),
      (500, 4, "X"))
    def vals(xs: Seq[(Int, Int, String)]) =
      xs.map { case (a, b, c) => s"($a, $b, '$c')" }.mkString(", ")
    if (duck)
      s"""t1 AS (SELECT * FROM (VALUES ${vals(t1)}) t(a1, b1, c1)),
          t2 AS (SELECT * FROM (VALUES ${vals(t2)}) t(a2, b2, c2))"""
    else
      s"""t1 AS (SELECT * FROM VALUES ${vals(t1)} AS t(a1, b1, c1)),
          t2 AS (SELECT * FROM VALUES ${vals(t2)} AS t(a2, b2, c2))"""
  }

  // ----------------------------------------------------------- gates ----

  /** (name, sparkSql, duckSql) triples. `o`/`od` spell DuckDB's
    * NULL-ordering to match Spark's defaults.
    */
  private[graft] lazy val gates: Seq[(String, String, String)] = {
    def gate(name: String, body: Boolean => String,
        extraCte: Boolean => String = _ => ""): (String, String, String) =
      (name,
        s"WITH ${fixture(false)}${extraCte(false)} ${body(false)}",
        s"WITH ${fixture(true)}${extraCte(true)} ${body(true)}")
    def o(duck: Boolean, k: String) = if (duck) s"$k NULLS FIRST" else k
    def od(duck: Boolean, k: String) =
      if (duck) s"$k DESC NULLS LAST" else s"$k DESC"

    Seq(
      // q1/q2/q3: two differently-partitioned windows combined in a
      // subquery; outer keeps all rows (q2) — the q1/q3 filtered variants
      // ride as a filtered count column
      gate("q_drill_mp_arith_subquery", duck => {
        s"""SELECT rid, total, count1, count2,
              CASE WHEN total <> count1 + count2 THEN 1 ELSE 0 END AS mismatch
           FROM (
             SELECT rid,
               count(*) OVER (PARTITION BY c_date ORDER BY ${o(duck, "c_time")})
                 + CAST(sum(c_integer) OVER (PARTITION BY c_bigint
                     ORDER BY ${o(duck, "c_time")}) AS BIGINT) AS total,
               count(*) OVER (PARTITION BY c_integer
                 ORDER BY ${o(duck, "c_time")}) AS count1,
               CAST(sum(c_integer) OVER (PARTITION BY c_date
                 ORDER BY ${o(duck, "c_time")}) AS BIGINT) AS count2
             FROM j1) sub
           ORDER BY rid"""
      }),

      // q4/q5/q6/q65: one aggregate over (), (p1,p2), (p1,p2,p3) and a
      // DESC-ordered partition; avg over an expression (q65)
      gate("q_drill_mp_partition_grains", duck => {
        s"""SELECT rid,
              CAST(sum(c_integer) OVER () AS BIGINT) AS sum_all,
              CAST(sum(c_integer) OVER (PARTITION BY c_date, c_time) AS BIGINT)
                AS sum_dt,
              CAST(sum(c_integer) OVER (PARTITION BY c_date, c_time,
                c_timestamp) AS BIGINT) AS sum_dtt,
              CAST(sum(c_integer) OVER (PARTITION BY c_time
                ORDER BY ${od(duck, "c_date")}) AS BIGINT) AS sum_desc,
              CAST(avg(c_integer) OVER (PARTITION BY c_date, c_time) AS DOUBLE)
                AS avg_dt,
              CAST(avg(c_integer) OVER (PARTITION BY c_date) AS DOUBLE)
                AS avg_d,
              CAST(avg(c_bigint - c_integer) OVER (PARTITION BY c_date)
                AS DOUBLE) AS avg_expr
           FROM j1 ORDER BY rid"""
      }),

      // q7/q8: rank / dense_rank with different partitions, explicit
      // nulls first, global DESC dense_rank, outer multi-key sort
      gate("q_drill_mp_rank_pair", duck => {
        s"""SELECT rid, CAST(c_date AS VARCHAR(10)) AS c_date_s, c_time,
              rank() OVER (PARTITION BY c_date
                ORDER BY c_time NULLS FIRST) AS rnk_d,
              rank() OVER (PARTITION BY c_time
                ORDER BY c_time NULLS FIRST) AS rnk_t,
              dense_rank() OVER (PARTITION BY c_date
                ORDER BY c_time NULLS FIRST) AS drnk_d,
              dense_rank() OVER (ORDER BY ${od(duck, "c_integer")},
                ${o(duck, "rid")}) AS drnk_gdesc
           FROM j1
           ORDER BY ${if (duck) "c_date NULLS FIRST, c_time NULLS FIRST, rid"
             else "c_date, c_time, rid"}"""
      }),

      // q10/q12/q35/q37: CAST arithmetic over two windows; varchar-cast
      // concat; min/max over upper‖lower concat expressions
      gate("q_drill_mp_cast_concat", duck => {
        s"""SELECT rid,
              CAST(count(*) OVER (PARTITION BY c_date
                  ORDER BY ${o(duck, "c_time")}) AS BIGINT)
                + CAST(sum(c_integer) OVER (PARTITION BY c_bigint
                  ORDER BY ${o(duck, "c_time")}) AS BIGINT) AS add_win,
              CAST(count(*) OVER (PARTITION BY c_date
                  ORDER BY ${o(duck, "c_time")}) AS VARCHAR(20))
                || CAST(CAST(sum(c_integer) OVER (PARTITION BY c_bigint
                  ORDER BY ${o(duck, "c_time")}) AS BIGINT) AS VARCHAR(20))
                AS concat_win,
              min(upper(c_varchar) || lower(c_varchar)) OVER () AS min_ul,
              max(upper(c_varchar) || upper(c_varchar)) OVER () AS max_uu,
              min(upper(c_varchar) || lower(c_varchar))
                OVER (PARTITION BY c_date) AS min_ul_d,
              max(upper(c_varchar) || upper(c_varchar))
                OVER (PARTITION BY c_boolean, c_date) AS max_uu_bd,
              CAST(row_number() OVER (ORDER BY ${o(duck, "c_time")})
                  AS VARCHAR(5))
                || trim(max(upper(c_varchar) || upper(c_varchar)) OVER ())
                || CAST(min(c_integer) OVER () AS VARCHAR(10)) AS rn_chain
           FROM j1
           WHERE c_integer IS NOT NULL
           ORDER BY rid"""
      }),

      // q25/q27: the named WINDOW clause shared by the whole ranking
      // family + framed aggregates over W (every function reuses ONE
      // sort+exchange)
      gate("q_drill_mp_named_window", duck => {
        val w = if (duck)
          "(ORDER BY c_bigint NULLS FIRST, c_date NULLS FIRST, c_time NULLS FIRST)"
        else "(ORDER BY c_bigint, c_date, c_time)"
        s"""SELECT rid,
              rank() OVER W AS rnk,
              dense_rank() OVER W AS drnk,
              CAST(percent_rank() OVER W AS DOUBLE) AS prnk,
              CAST(cume_dist() OVER W AS DOUBLE) AS cdist,
              row_number() OVER W AS rn,
              CAST(avg(c_integer + c_integer) OVER W AS DOUBLE) AS avg2,
              CAST(sum(c_integer ${if (duck) "//" else "/"} 100) OVER W
                AS DOUBLE) AS sumdiv,
              count(*) OVER W AS cnt,
              min(c_integer) OVER W AS mn,
              max(c_integer) OVER W AS mx
           FROM j1
           WHERE c_boolean IS NOT NULL
           WINDOW W AS $w
           ORDER BY rnk, rid"""
      }),

      // q22/q30/q32: CASE WHEN windowed-avg comparisons; windows over
      // subquery CASE columns; COALESCE inside windowed aggregates
      gate("q_drill_mp_case_windows", duck => {
        s"""SELECT rid, col1, col2,
              min(col1) OVER (ORDER BY ${o(duck, "c_date")}) AS min_col1,
              max(col2) OVER () AS max_col2,
              CAST(avg(CASE WHEN c_integer IS NULL THEN 100 ELSE c_integer
                END) OVER () AS DOUBLE) AS avg_coal,
              CAST(sum(COALESCE(c_integer, 100))
                OVER (PARTITION BY c_date) AS BIGINT) AS sum_coal,
              count(*) OVER (PARTITION BY c_boolean) AS cnt_b
           FROM (
             SELECT *,
               CASE WHEN c_date < DATE '2008-01-01'
                 THEN (2008 - CAST(extract(year FROM c_date) AS INT)) * 500
                 END AS col1,
               CASE WHEN CAST(avg(c_integer)
                   OVER (PARTITION BY c_varchar) AS DOUBLE)
                   > CAST(c_bigint AS DOUBLE)
                 THEN 200 END AS col2
             FROM j1) s
           ORDER BY rid"""
      }),

      // q47/q50/q55: GROUP BY feeding windows — the window input is the
      // grouped row set — outer ORDER BY a window result via its alias
      // (Spark rejects a raw window expression in ORDER BY; ordering by
      // the projected column is the same sort)
      gate("q_drill_mp_groupby_windows", duck => {
        s"""SELECT c_integer, sum_ci, rn_desc, lv, tile
           FROM (
             SELECT c_integer,
               CAST(sum(c_integer) AS BIGINT) AS sum_ci,
               row_number() OVER (ORDER BY ${od(duck, "c_date")},
                 ${o(duck, "c_time")}) AS rn_desc,
               last_value(c_integer) OVER (ORDER BY ${od(duck, "c_date")},
                 ${o(duck, "c_time")}) AS lv,
               CAST(ntile(100) OVER (ORDER BY ${o(duck, "c_date")},
                 ${o(duck, "c_timestamp")}, ${o(duck, "c_time")}) AS BIGINT)
                 AS tile,
               row_number() OVER (ORDER BY ${o(duck, "c_date")},
                 ${o(duck, "c_time")}) AS rn_asc
             FROM j1
             GROUP BY c_integer, c_date, c_timestamp, c_time) g
           ORDER BY rn_asc"""
      }),

      // q55: join under GROUP BY under multi-partition windows
      gate("q_drill_mp_join_groupby", duck => {
        s"""SELECT
              CAST(sum(a.c_integer) OVER (PARTITION BY a.c_date
                ORDER BY ${o(duck, "a.c_time")}) AS BIGINT) AS s_dt,
              CAST(sum(a.c_integer) OVER () AS BIGINT) AS s_all,
              CAST(sum(a.c_integer) OVER (PARTITION BY a.c_bigint, a.c_date,
                a.c_time) AS BIGINT) AS s_bdt,
              count(a.c_integer) OVER (PARTITION BY a.c_date
                ORDER BY ${o(duck, "a.c_time")}) AS c_dt,
              count(a.c_integer) OVER () AS c_all,
              rank() OVER (PARTITION BY a.c_date
                ORDER BY ${o(duck, "a.c_date")}) AS r_d
           FROM j1 a, j1 b
           WHERE a.c_integer = b.c_integer
           GROUP BY a.c_date, a.c_time, a.c_integer, a.c_bigint
           ORDER BY ${o(duck, "a.c_date")}, a.c_time"""
      }),

      // q60: inner join of two windowed subqueries on a non-window column
      gate("q_drill_mp_join_subqueries", duck => {
        s"""SELECT sq1.b1, sq1.sum_a1, sq1.dr, sq2.b2, sq2.sum_a2,
              sq2.avg_a2, sq2.rn
           FROM (
             SELECT b1,
               CAST(sum(a1) OVER (PARTITION BY b1, c1) AS BIGINT) AS sum_a1,
               dense_rank() OVER (PARTITION BY b1 ORDER BY b1) AS dr,
               a1
             FROM t1) sq1
           INNER JOIN (
             SELECT b2,
               CAST(sum(a2) OVER (PARTITION BY b2) AS BIGINT) AS sum_a2,
               CAST(avg(a2) OVER (PARTITION BY b2) AS DOUBLE) AS avg_a2,
               row_number() OVER (ORDER BY a2) AS rn
             FROM t2) sq2
           ON sq1.b1 = sq2.b2
           ORDER BY sq1.a1, sq2.rn"""
      }, extraCte = d => s",\n          ${tFixture(d)}"),

      // q42/q45: LAST_VALUE across partition granularities (RANGE-default
      // frame includes peers, so ordering by the duplicated value column
      // is tie-insensitive); NTILE at two granularities, rid tie-broken
      gate("q_drill_mp_lastval_ntile", duck => {
        s"""SELECT rid,
              last_value(c_integer) OVER (ORDER BY c_integer NULLS FIRST)
                AS lv_glob,
              last_value(c_bigint) OVER (PARTITION BY c_time) AS lv_t,
              last_value(c_bigint) OVER (PARTITION BY c_time
                ORDER BY ${o(duck, "c_date")}) AS lv_td,
              CAST(ntile(5) OVER (ORDER BY c_integer NULLS FIRST, rid)
                AS BIGINT) AS tile5,
              CAST(ntile(10) OVER (PARTITION BY c_date
                ORDER BY ${o(duck, "c_time")}) AS BIGINT) AS tile10
           FROM j1 ORDER BY rid"""
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
