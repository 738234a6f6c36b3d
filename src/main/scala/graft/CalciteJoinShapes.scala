package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Port of the distinct join-planning shapes in the reference's
  * `sql/src/test/quidem/org.apache.druid.sql.calcite.
  * DecoupledPlanningCalciteJoinQueryTest/` tree (290 .iq = 50 distinct
  * tests × planner-config variants — the variants pin the same RESULT
  * under different join-rewrite strategies, so one result gate per shape
  * covers the family). Shapes not already pinned by the q_join_* /
  * q_lookup_* gates:
  *
  *  - semi- AND anti-join SIMULTANEOUSLY, in both spellings (WHERE IN +
  *    NOT IN subqueries; explicit EXISTS / NOT EXISTS)
  *    (testSemiAndAntiJoinSimultaneouslyUsing{WhereInSubquery,
  *    ExplicitJoins}, testTwoSemiJoinsSimultaneously);
  *  - UNION ALL where the left / right / both branches are joins
  *    (testUnionAllTwoQueries*QueryIsJoin);
  *  - a join whose right side is a GROUP BY over a time floor —
  *    "join on groupBy instead of timeseries"
  *    (testJoinOnGroupByInsteadOfTimeseriesWithFloorOnTime);
  *  - GROUP BY over GROUP BY over an inner join of two INLINE (VALUES)
  *    datasources (testGroupByOverGroupByOverInnerJoinOnTwoInline…);
  *  - join conditions carrying FUNCTIONS / CASTs of the left input
  *    (testInnerJoinLeftFunction, testInnerJoinCastLeft,
  *    testJoinWithInputRefCondition);
  *  - LEFT JOIN + IS NULL filter (the anti-join rewrite) and filter
  *    pushdown under many conjuncts with empty / non-empty results
  *    (testInnerJoinWithIsNullFilter,
  *    testInnerJoinWithFilterPushdownAndManyFilters*Results);
  *  - subqueries as one conjunct of an AND filter, with extraction
  *    functions (SUBSTRING) on the correlated column
  *    (testUsingSubqueryAsPartOfAndFilter,
  *    testUsingSubqueryWithExtractionFns).
  *
  * Runs over the driver's TPC-H parquet tables (real scans, real join
  * planning — broadcast for the dimension sides at any SF).
  */
object CalciteJoinShapes {

  lazy val gates: Seq[Gate] = Seq(
    Gate.druid("q_cjq_semi_anti_simul",
      """SELECT n_name, CAST(count(*) AS BIGINT) AS cnt
         FROM nation
         WHERE n_regionkey IN (SELECT r_regionkey FROM region
                               WHERE r_name LIKE 'A%')
           AND n_nationkey NOT IN (SELECT s_nationkey FROM supplier
                                   WHERE s_acctbal < 0)
         GROUP BY n_name ORDER BY n_name""",
      """SELECT n_name, count(*) AS cnt
         FROM nation
         WHERE n_regionkey IN (SELECT r_regionkey FROM region
                               WHERE r_name LIKE 'A%')
           AND n_nationkey NOT IN (SELECT s_nationkey FROM supplier
                                   WHERE s_acctbal < 0)
         GROUP BY n_name ORDER BY n_name"""),

    Gate.druid("q_cjq_semi_anti_explicit",
      """SELECT n.n_name
         FROM nation n
         WHERE EXISTS (SELECT 1 FROM region r
                       WHERE r.r_regionkey = n.n_regionkey
                         AND r.r_name LIKE 'A%')
           AND NOT EXISTS (SELECT 1 FROM supplier s
                           WHERE s.s_nationkey = n.n_nationkey
                             AND s.s_acctbal < 0)
         ORDER BY n.n_name""",
      """SELECT n.n_name
         FROM nation n
         WHERE EXISTS (SELECT 1 FROM region r
                       WHERE r.r_regionkey = n.n_regionkey
                         AND r.r_name LIKE 'A%')
           AND NOT EXISTS (SELECT 1 FROM supplier s
                           WHERE s.s_nationkey = n.n_nationkey
                             AND s.s_acctbal < 0)
         ORDER BY n.n_name"""),

    Gate.druid("q_cjq_union_of_joins",
      """SELECT src, nm, CAST(cnt AS BIGINT) AS cnt FROM (
           SELECT 'lj' AS src, r_name AS nm, count(*) AS cnt
           FROM nation JOIN region ON n_regionkey = r_regionkey
           GROUP BY r_name
           UNION ALL
           SELECT 'rq', n_name, 1
           FROM nation WHERE n_nationkey < 3
           UNION ALL
           SELECT 'bj', s_name, count(*)
           FROM supplier JOIN nation ON s_nationkey = n_nationkey
           WHERE n_regionkey = 1
           GROUP BY s_name
         ) u ORDER BY src, nm""",
      """SELECT src, nm, cnt FROM (
           SELECT 'lj' AS src, r_name AS nm, count(*) AS cnt
           FROM nation JOIN region ON n_regionkey = r_regionkey
           GROUP BY r_name
           UNION ALL
           SELECT 'rq', n_name, 1
           FROM nation WHERE n_nationkey < 3
           UNION ALL
           SELECT 'bj', s_name, count(*)
           FROM supplier JOIN nation ON s_nationkey = n_nationkey
           WHERE n_regionkey = 1
           GROUP BY s_name
         ) u ORDER BY src, nm"""),

    Gate.druid("q_cjq_join_on_groupby_floor",
      """SELECT o.o_orderpriority,
              CAST(sum(d.n) AS BIGINT) AS day_orders
         FROM orders o
         JOIN (SELECT date_trunc('month', o_orderdate) AS m,
                      count(*) AS n
               FROM orders GROUP BY date_trunc('month', o_orderdate)) d
           ON date_trunc('month', o.o_orderdate) = d.m
         WHERE o.o_totalprice > 100000
         GROUP BY o.o_orderpriority
         ORDER BY o.o_orderpriority""",
      """SELECT o.o_orderpriority,
              CAST(sum(d.n) AS BIGINT) AS day_orders
         FROM orders o
         JOIN (SELECT date_trunc('month', o_orderdate) AS m,
                      count(*) AS n
               FROM orders GROUP BY date_trunc('month', o_orderdate)) d
           ON date_trunc('month', o.o_orderdate) = d.m
         WHERE o.o_totalprice > 100000
         GROUP BY o.o_orderpriority
         ORDER BY o.o_orderpriority"""),

    Gate.druid("q_cjq_groupby_over_groupby_inline",
      """WITH a AS (SELECT * FROM VALUES (1, 'x'), (1, 'y'), (2, 'z')
                    AS t(k, v)),
            b AS (SELECT * FROM VALUES (1, 10), (2, 20), (2, 30)
                    AS t(k, w))
         SELECT cnt, CAST(count(*) AS BIGINT) AS n_groups FROM (
           SELECT a.k, CAST(count(*) AS BIGINT) AS cnt
           FROM a JOIN b ON a.k = b.k
           GROUP BY a.k) g
         GROUP BY cnt ORDER BY cnt""",
      """WITH a AS (SELECT * FROM (VALUES (1, 'x'), (1, 'y'), (2, 'z'))
                    t(k, v)),
            b AS (SELECT * FROM (VALUES (1, 10), (2, 20), (2, 30))
                    t(k, w))
         SELECT cnt, count(*) AS n_groups FROM (
           SELECT a.k, count(*) AS cnt
           FROM a JOIN b ON a.k = b.k
           GROUP BY a.k) g
         GROUP BY cnt ORDER BY cnt"""),

    Gate.druid("q_cjq_fn_cast_join_condition",
      """SELECT n.n_name, r.r_name
         FROM nation n
         JOIN region r
           ON substring(n.n_name, 8, 1) = CAST(r.r_regionkey AS VARCHAR(2))
          AND CAST(n.n_regionkey AS BIGINT) = CAST(r.r_regionkey AS BIGINT)
         ORDER BY n.n_name, r.r_name""",
      """SELECT n.n_name, r.r_name
         FROM nation n
         JOIN region r
           ON substring(n.n_name, 8, 1) = CAST(r.r_regionkey AS VARCHAR(2))
          AND CAST(n.n_regionkey AS BIGINT) = CAST(r.r_regionkey AS BIGINT)
         ORDER BY n.n_name, r.r_name"""),

    Gate.druid("q_cjq_isnull_pushdown",
      """SELECT
           (SELECT CAST(count(*) AS BIGINT)
            FROM nation n LEFT JOIN
              (SELECT DISTINCT s_nationkey FROM supplier) s
              ON n.n_nationkey = s.s_nationkey
            WHERE s.s_nationkey IS NULL) AS anti_rewrite,
           (SELECT CAST(count(*) AS BIGINT)
            FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
            WHERE r.r_name LIKE 'A%' AND n.n_name LIKE 'Z%'
              AND n.n_nationkey > 100 AND r.r_regionkey >= 0) AS many_empty,
           (SELECT CAST(count(*) AS BIGINT)
            FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
            WHERE r.r_name LIKE '%A%' AND n.n_nationkey >= 0
              AND n.n_regionkey <= 4) AS many_nonempty""",
      """SELECT
           (SELECT count(*)
            FROM nation n LEFT JOIN
              (SELECT DISTINCT s_nationkey FROM supplier) s
              ON n.n_nationkey = s.s_nationkey
            WHERE s.s_nationkey IS NULL) AS anti_rewrite,
           (SELECT count(*)
            FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
            WHERE r.r_name LIKE 'A%' AND n.n_name LIKE 'Z%'
              AND n.n_nationkey > 100 AND r.r_regionkey >= 0) AS many_empty,
           (SELECT count(*)
            FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
            WHERE r.r_name LIKE '%A%' AND n.n_nationkey >= 0
              AND n.n_regionkey <= 4) AS many_nonempty"""),

    Gate.druid("q_cjq_subquery_and_filter_extraction",
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS cnt
         FROM customer
         WHERE c_nationkey IN
             (SELECT n_nationkey FROM nation
              WHERE substring(n_name, 8, 1) IN
                (SELECT CAST(r_regionkey AS VARCHAR(2)) FROM region))
           AND c_acctbal > 0
         GROUP BY c_mktsegment
         ORDER BY c_mktsegment""",
      """SELECT c_mktsegment, count(*) AS cnt
         FROM customer
         WHERE c_nationkey IN
             (SELECT n_nationkey FROM nation
              WHERE substring(n_name, 8, 1) IN
                (SELECT CAST(r_regionkey AS VARCHAR(2)) FROM region))
           AND c_acctbal > 0
         GROUP BY c_mktsegment
         ORDER BY c_mktsegment"""))
}
