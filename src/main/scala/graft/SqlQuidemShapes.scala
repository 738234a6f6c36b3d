package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Port of the reference's `sql/src/test/quidem/org.apache.druid.quidem.
  * SqlQuidemTest/` edge-shape files (15 .iq) not already on the board:
  *
  *  - `filtered_sum.iq`: FILTER-clause aggregates over an EMPTY input —
  *    COUNT…FILTER → 0 but SUM…FILTER and MIN → SQL NULL, and the
  *    `SUM(CASE…)` spelling differs from `SUM(x) FILTER(…)` exactly on
  *    the empty set (0 vs NULL);
  *  - `full_outer_constant_project.iq`: FULL OUTER JOIN where the right
  *    branch projects a CONSTANT — the constant must be NULL on
  *    non-matching left rows (no constant-folding through the join);
  *  - `grouping_sets_single_value_filter.iq`: GROUPING SETS under a
  *    single-value WHERE pin — the subset grouping still nulls the
  *    pinned dimension;
  *  - `notinvalues.iq`: NOT IN (SELECT … FROM (VALUES …));
  *  - `numMerge.iq`: aggregates over a table UNION ALL'd with itself
  *    (merge-buffer shape);
  *  - `union_removed_branch_union_nulls.iq`: a UNION ALL whose first
  *    branch is provably EMPTY (contradictory constant filter) leaving
  *    only the `(SELECT null, null)` VALUES branch — branch removal
  *    must not drop the null row or retype the columns.
  */
object SqlQuidemShapes {

  lazy val gates: Seq[Gate] = Seq(
    Gate.druid("q_squid_filtered_sum_empty",
      """SELECT CAST(count(1) FILTER (WHERE n_regionkey = -1) AS BIGINT) AS c_eq,
                CAST(count(1) FILTER (WHERE n_regionkey <> -1) AS BIGINT) AS c_ne,
                min(n_nationkey) IS NULL AS min_null,
                CAST(sum(CASE WHEN n_regionkey = -1 THEN n_nationkey ELSE 0
                  END) AS BIGINT) AS sum_case,
                CAST(sum(n_nationkey) FILTER (WHERE n_regionkey = -1)
                  AS BIGINT) AS sum_filter
         FROM nation WHERE n_regionkey < -1""",
      """SELECT count(1) FILTER (WHERE n_regionkey = -1) AS c_eq,
                count(1) FILTER (WHERE n_regionkey <> -1) AS c_ne,
                min(n_nationkey) IS NULL AS min_null,
                CAST(sum(CASE WHEN n_regionkey = -1 THEN n_nationkey ELSE 0
                  END) AS BIGINT) AS sum_case,
                CAST(sum(n_nationkey) FILTER (WHERE n_regionkey = -1)
                  AS BIGINT) AS sum_filter
         FROM nation WHERE n_regionkey < -1"""),

    Gate.druid("q_squid_full_outer_constant",
      """WITH l AS (SELECT * FROM VALUES ('abc'), ('xyz') AS t(a)),
            r AS (SELECT * FROM VALUES ('abc'), (CAST(NULL AS STRING))
                  AS t(k))
         SELECT l.a, r.tag
         FROM l FULL JOIN (SELECT k, 42 AS tag FROM r) r ON l.a = r.k
         ORDER BY l.a NULLS FIRST, r.tag""",
      """WITH l AS (SELECT * FROM (VALUES ('abc'), ('xyz')) t(a)),
            r AS (SELECT * FROM (VALUES ('abc'), (NULL::VARCHAR)) t(k))
         SELECT l.a, r.tag
         FROM l FULL JOIN (SELECT k, 42 AS tag FROM r) r ON l.a = r.k
         ORDER BY l.a NULLS FIRST, r.tag"""),

    Gate.druid("q_squid_grouping_sets_pinned",
      """SELECT n_regionkey, n_name, CAST(count(*) AS BIGINT) AS cnt
         FROM nation
         WHERE n_name = 'NATION_7'
         GROUP BY GROUPING SETS ((n_regionkey, n_name), (n_regionkey))
         ORDER BY n_regionkey, n_name NULLS FIRST""",
      """SELECT n_regionkey, n_name, count(*) AS cnt
         FROM nation
         WHERE n_name = 'NATION_7'
         GROUP BY GROUPING SETS ((n_regionkey, n_name), (n_regionkey))
         ORDER BY n_regionkey, n_name NULLS FIRST"""),

    Gate.druid("q_squid_notin_values",
      """SELECT n_nationkey FROM nation
         WHERE n_nationkey NOT IN
           (SELECT col FROM VALUES (0), (999) AS t(col))
         ORDER BY n_nationkey""",
      """SELECT n_nationkey FROM nation
         WHERE n_nationkey NOT IN
           (SELECT col FROM (VALUES (0), (999)) t(col))
         ORDER BY n_nationkey"""),

    Gate.druid("q_squid_num_merge_union_self",
      """SELECT n_regionkey, CAST(sum(n_nationkey) AS BIGINT) AS s,
                CAST(count(*) AS BIGINT) AS c
         FROM (SELECT * FROM nation UNION ALL SELECT * FROM nation
               UNION ALL SELECT * FROM nation) u
         WHERE n_regionkey = 1 OR n_regionkey = 2
         GROUP BY n_regionkey ORDER BY n_regionkey""",
      """SELECT n_regionkey, CAST(sum(n_nationkey) AS BIGINT) AS s,
                count(*) AS c
         FROM (SELECT * FROM nation UNION ALL SELECT * FROM nation
               UNION ALL SELECT * FROM nation) u
         WHERE n_regionkey = 1 OR n_regionkey = 2
         GROUP BY n_regionkey ORDER BY n_regionkey"""),

    Gate.druid("q_squid_union_removed_branch",
      """SELECT CAST(c AS BIGINT) AS c, nm FROM (
           SELECT count(*) AS c, n_name AS nm
           FROM nation
           WHERE n_regionkey = 1 AND n_regionkey = 2
           GROUP BY n_name
           UNION ALL
           SELECT CAST(NULL AS BIGINT), CAST(NULL AS STRING)
         ) u""",
      """SELECT c, nm FROM (
           SELECT count(*) AS c, n_name AS nm
           FROM nation
           WHERE n_regionkey = 1 AND n_regionkey = 2
           GROUP BY n_name
           UNION ALL
           SELECT NULL::BIGINT, NULL::VARCHAR
         ) u"""),

    // DecoupledPlanningCalciteQueryTest testWindowingWithScanAndSort: a
    // RANK window inside a LIMIT'd CTE over a groupBy, sorted OUTSIDE on
    // the aggregate — the window must plan above the aggregate and below
    // the limit, and the outer sort on a projected aggregate must survive
    // the CTE boundary (25 nation groups < the LIMIT keeps it exact)
    Gate.druid("q_squid_window_scan_sort",
      """WITH t AS (
           SELECT rank() OVER (PARTITION BY n_regionkey
                               ORDER BY n_regionkey ASC) AS ranking,
                  CAST(count(n_name) AS BIGINT) AS trend_score
           FROM nation
           GROUP BY n_regionkey, n_name LIMIT 30)
         SELECT ranking, trend_score FROM t ORDER BY trend_score""",
      """WITH t AS (
           SELECT rank() OVER (PARTITION BY n_regionkey
                               ORDER BY n_regionkey ASC) AS ranking,
                  CAST(count(n_name) AS BIGINT) AS trend_score
           FROM nation
           GROUP BY n_regionkey, n_name LIMIT 30)
         SELECT ranking, trend_score FROM t ORDER BY trend_score"""))
}
