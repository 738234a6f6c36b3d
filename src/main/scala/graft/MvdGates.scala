package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Driver gates for the Druid MULTI-VALUE DIMENSION dialect (round 18):
  * grouping on an MVD explodes per element, scalar string functions map
  * per element, a null MVD row is the single-null MV for the
  * CONTAINS/OVERLAP family, numeric-aggregate ORDER BY places NULL as
  * the largest value with dimension-order ties, CAST(string AS integral)
  * parses leniently through the double space, and STRING_AGG(DISTINCT)
  * emits the sorted distinct set. Reference behavior pinned by the
  * Calcite QueryTest grids (CalciteMultiValueStringQueryTest,
  * CalciteQueryTest testOrderByAny / testSumOfString / testStringAgg).
  *
  * The fixture is registered per call: a druid.mv-tagged MV column (the
  * MVD convention the engine's dialect keys on) over a 4-row table.
  */
object MvdGates {

  private def fixture(s: SparkSession): Unit = {
    val mvMeta = new org.apache.spark.sql.types.MetadataBuilder()
      .putBoolean("druid.mv", true).build()
    s.sql(
      """SELECT * FROM VALUES
           ('a', array('x', 'y'), array('p'), 1L),
           ('b', array('y'), array('p', 'q'), CAST(NULL AS BIGINT)),
           ('c', CAST(NULL AS ARRAY<STRING>), array('q', 'r'), 2L),
           ('d', CAST(NULL AS ARRAY<STRING>), CAST(NULL AS ARRAY<STRING>),
            CAST(NULL AS BIGINT))
         AS t(k, mv, mv2, v)""")
      .withColumn("mv", col("mv").as("mv", mvMeta))
      .withColumn("mv2", col("mv2").as("mv2", mvMeta))
      .orderBy("k").coalesce(1)
      .createOrReplaceTempView("mvd_gate")
    graft.functions.MvdTables.register("mvd_gate")
    // an AUTO-format nested table: the druid.autojson tag routes JSON
    // functions to the specialized-field semantics (single-element arrays
    // unwrap, scalars wrap under array RETURNING, negative indexes
    // resolve — CalciteNestedDataQueryTest; round 19)
    val ajMeta = new org.apache.spark.sql.types.MetadataBuilder()
      .putBoolean("druid.autojson", true).build()
    s.sql(
      """SELECT * FROM VALUES
           ('r1', '{"c":[100]}'),
           ('r2', '{"c":["a","b"]}'),
           ('r3', '{"c":12.3}'),
           ('r4', '{"arr":["p","q"]}')
         AS t(k, j)""")
      .withColumn("j", col("j").as("j", ajMeta))
      .orderBy("k").coalesce(1)
      .createOrReplaceTempView("autojson_gate")
  }

  private def run(s: SparkSession, sql: String): DataFrame = {
    fixture(s)
    api.SqlApi.runSql(s, sql)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // grouping by an MVD expression explodes per element; null rows land
    // in the null group; ties in ORDER BY agg list in dimension order
    "q_mvd_groupby_explode" -> ((s, _) => run(s,
      """SELECT MV_APPEND(mv, 'z') AS e, CAST(count(*) AS BIGINT) AS n
         FROM mvd_gate GROUP BY 1 ORDER BY 2 DESC, 1""")),
    // scalar string fns map per element; a null MVD row applies once with
    // the null scalar (null result = SQL NULL); MV_CONTAINS(mv, [NULL])
    // finds the null MVD rows (null row IS the single-null MV)
    "q_mvd_elementwise_fns" -> ((s, _) => run(s,
      """SELECT k, MV_TO_STRING(COALESCE(mv, k), ',') AS c1,
                MV_TO_STRING(CONCAT(mv, '!'), ',') AS c2,
                MV_CONTAINS(mv, ARRAY[NULL]) AS hasnull
         FROM mvd_gate ORDER BY k""")),
    // numeric-aggregate sort keys place NULL as the LARGEST value
    // (nulls last ascending), ties resolve in dimension order
    "q_mvd_order_nulls_high" -> ((s, _) => run(s,
      """SELECT k, ANY_VALUE(v) AS av FROM mvd_gate
         GROUP BY 1 ORDER BY 2 LIMIT 10""")),
    // CAST(string AS integral) parses leniently through the double space
    // ('10.1' -> 10, non-numeric -> NULL — ExprEval convention), and
    // STRING_AGG(DISTINCT ...) is the sorted distinct set
    "q_mvd_lenient_cast_stragg" -> ((s, _) => run(s,
      """SELECT CAST('10.1' AS BIGINT) AS a,
                CAST(CAST('7' AS INTEGER) AS BIGINT) AS b,
                CAST('zap' AS BIGINT) AS c,
                SUM(CAST(k AS INTEGER)) AS d,
                STRING_AGG(DISTINCT k, ',') AS e
         FROM mvd_gate""")),
    // round 19: ARRAY_AGG over an MVD folds FLATTENED elements (null
    // rows → null elements); DISTINCT = sorted distinct element set.
    // Joined to strings so the driver's oracle compare gets hashable
    // scalars (raw ARRAY columns crash its pandas sort — r19 err).
    "q_mvd_array_agg_flatten" -> ((s, _) => run(s,
      """SELECT ARRAY_TO_STRING(ARRAY_AGG(mv), ',') AS f,
                ARRAY_TO_STRING(ARRAY_AGG(DISTINCT mv), ',') AS d
         FROM mvd_gate""")),
    // round 20: a function over TWO MVDs applies to the CARTESIAN
    // PRODUCT of the element sets (CalciteQueryTest
    // testCoalesceMoreColumns: coalesce(dim2,dim3,dim1) over dim2=['a'],
    // dim3=['a','b'] yields TWO cells in the 'a' group); null rows are
    // the single-null set, so both-null rows land in the null group
    "q_mvd_coalesce_two" -> ((s, _) => run(s,
      """SELECT COALESCE(mv, mv2) AS e, CAST(count(*) AS BIGINT) AS n
         FROM mvd_gate GROUP BY 1 ORDER BY e NULLS FIRST""")),
    // round 19: CASE mixing a scalar branch with an MVD aligns to the MV
    // form; an MVD member of ARRAY[] reads as its scalar (1-element
    // unwrap, multi → NULL); NULLIF(mv,…) IS NULL matches null rows or
    // any null element
    "q_mvd_case_scalar_read" -> ((s, _) => run(s,
      """SELECT k,
                ARRAY_TO_STRING(CASE WHEN v IS NULL THEN 'none'
                                     ELSE mv END, ',') AS c,
                ARRAY_TO_STRING(ARRAY[mv, k], ',') AS sr,
                (NULLIF(mv, 'x') IS NULL) AS nn
         FROM mvd_gate ORDER BY k""")),
    // round 19: GROUPING(a,b,…) builds its bitmask from single-column
    // grouping() calls — argument order free of the GROUP BY order
    "q_grouping_multiarg" -> ((s, _) => run(s,
      """SELECT k, coalesce(v, 0) AS v2,
                CAST(GROUPING(coalesce(v, 0), k) AS BIGINT) AS g,
                CAST(count(*) AS BIGINT) AS n
         FROM mvd_gate
         GROUP BY GROUPING SETS ((k, coalesce(v, 0)), (k), ())
         ORDER BY g, k NULLS FIRST, v2 NULLS FIRST""")),
    // round 19: FILTER over facade-built aggregates folds into the
    // CASE-wrapped argument (BIT_OR's TRY-cast shadow, ANY_VALUE)
    "q_agg_filter_wrapped" -> ((s, _) => run(s,
      """SELECT BIT_OR(v) FILTER (WHERE k <> 'a') AS bo,
                ANY_VALUE(k) FILTER (WHERE v IS NOT NULL) AS av
         FROM mvd_gate""")),
    // round 19: rank/lag over an UNORDERED window ride the input order
    // (the reference's scan-order convention)
    "q_window_unordered" -> ((s, _) => run(s,
      """SELECT k, CAST(ROW_NUMBER() OVER () AS BIGINT) AS rn,
                LAG(k) OVER () AS lg
         FROM mvd_gate ORDER BY k""")),
    // round 19: typed JSON walk over an AUTO-format nested column —
    // single-element arrays unwrap, multi-element are NULL, negative
    // path indexes resolve from the end
    "q_json_typed_walk" -> ((s, _) => run(s,
      """SELECT k, JSON_VALUE(j, '$.c') AS v1,
                JSON_VALUE(j, '$.c' RETURNING DOUBLE) AS v2,
                JSON_VALUE(j, '$.arr[-1]') AS v3
         FROM autojson_gate ORDER BY k""")),
    // round 19: LIKE … ESCAPE with the escape char before an ordinary
    // character (Calcite reads it as that character)
    "q_like_escape_ordinary" -> ((s, _) => run(s,
      """SELECT CAST(count(*) AS BIGINT) AS n FROM mvd_gate
         WHERE k LIKE '%xb%' ESCAPE 'x'""")))

  val oracleSql: Map[String, String] = Map(
    "q_mvd_groupby_explode" ->
      """WITH t(k, mv, v) AS (VALUES
           ('a', ['x','y'], 1), ('b', ['y'], NULL),
           ('c', NULL, 2), ('d', NULL, NULL))
         SELECT e, count(*) AS n
         FROM (SELECT unnest(CASE WHEN mv IS NULL THEN [NULL]
                 ELSE list_append(mv, 'z') END) AS e FROM t)
         GROUP BY e ORDER BY n DESC, e ASC NULLS FIRST""",
    "q_mvd_elementwise_fns" ->
      """WITH t(k, mv, v) AS (VALUES
           ('a', ['x','y'], 1), ('b', ['y'], NULL),
           ('c', NULL, 2), ('d', NULL, NULL))
         SELECT k,
                CASE WHEN mv IS NULL THEN k
                     ELSE array_to_string(mv, ',') END AS c1,
                CASE WHEN mv IS NULL THEN NULL
                     ELSE array_to_string(
                       list_transform(mv, ge -> ge || '!'), ',') END AS c2,
                (mv IS NULL) AS hasnull
         FROM t ORDER BY k""",
    "q_mvd_order_nulls_high" ->
      """WITH t(k, mv, v) AS (VALUES
           ('a', ['x','y'], 1::BIGINT), ('b', ['y'], NULL),
           ('c', NULL, 2::BIGINT), ('d', NULL, NULL))
         SELECT k, v AS av FROM t
         ORDER BY av ASC NULLS LAST, k LIMIT 10""",
    "q_mvd_lenient_cast_stragg" ->
      """SELECT 10::BIGINT AS a, 7::BIGINT AS b, NULL::BIGINT AS c,
                NULL::BIGINT AS d, 'a,b,c,d' AS e""",
    "q_mvd_array_agg_flatten" ->
      """SELECT 'x,y,y,null,null' AS f, 'null,x,y' AS d""",
    "q_mvd_coalesce_two" ->
      """WITH t(k, mv, mv2) AS (VALUES
           ('a', ['x','y'], ['p']), ('b', ['y'], ['p','q']),
           ('c', NULL, ['q','r']), ('d', NULL, NULL))
         SELECT e, count(*) AS n FROM (
           SELECT coalesce(e1, e2) AS e FROM (
             SELECT unnest(CASE WHEN mv IS NULL THEN [NULL] ELSE mv END)
                      AS e1,
                    mv2 FROM t) s,
             UNNEST(CASE WHEN s.mv2 IS NULL THEN [NULL]
                    ELSE s.mv2 END) AS u(e2))
         GROUP BY e ORDER BY e NULLS FIRST""",
    "q_mvd_case_scalar_read" ->
      """SELECT * FROM (VALUES
           ('a', 'x,y',  'null,a', true),
           ('b', 'none', 'y,b',    false),
           ('c', NULL,   'null,c', true),
           ('d', 'none', 'null,d', true))
         AS t(k, c, sr, nn) ORDER BY k""",
    "q_grouping_multiarg" ->
      """WITH t(k, v) AS (VALUES ('a', 1), ('b', NULL),
                                 ('c', 2), ('d', NULL))
         SELECT k, coalesce(v, 0) AS v2,
                CAST(GROUPING(coalesce(v, 0)) * 2 + GROUPING(k) AS BIGINT)
                  AS g,
                CAST(count(*) AS BIGINT) AS n
         FROM t
         GROUP BY GROUPING SETS ((k, coalesce(v, 0)), (k), ())
         ORDER BY g, k NULLS FIRST, v2 NULLS FIRST""",
    "q_agg_filter_wrapped" ->
      """WITH t(k, v) AS (VALUES ('a', 1), ('b', NULL),
                                 ('c', 2), ('d', NULL))
         SELECT CAST(bit_or(v) FILTER (WHERE k <> 'a') AS BIGINT) AS bo,
                min(k) FILTER (WHERE v IS NOT NULL) AS av
         FROM t""",
    "q_window_unordered" ->
      """WITH t(k) AS (VALUES ('a'), ('b'), ('c'), ('d'))
         SELECT k, CAST(ROW_NUMBER() OVER (ORDER BY k) AS BIGINT) AS rn,
                LAG(k) OVER (ORDER BY k) AS lg
         FROM t ORDER BY k""",
    "q_json_typed_walk" ->
      """SELECT * FROM (VALUES
           ('r1', '100',  100.0,          NULL),
           ('r2', NULL,   NULL::DOUBLE,   NULL),
           ('r3', '12.3', 12.3,           NULL),
           ('r4', NULL,   NULL::DOUBLE,   'q'))
         AS t(k, v1, v2, v3) ORDER BY k""",
    "q_like_escape_ordinary" ->
      """SELECT 1::BIGINT AS n""")
}
