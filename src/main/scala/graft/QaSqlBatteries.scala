package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Port of the reference's `qaSql` quidem batteries
  * (`quidem-ut/src/test/quidem/org.apache.druid.quidem.QTest/qaSql/` —
  * scalar_numeric/scalar_datetime/scalar_string ×50 TESTCASEs each,
  * scalar_reduction, scalar_other). Each corpus case ANDs the ENTIRE
  * comparison surface into one identity-preserving tautology over a
  * column of one type — `x = x AND x IS NOT DISTINCT FROM x AND
  * (x <> x-1) IS TRUE AND x BETWEEN x-1 AND x+1 AND x LIKE '%' AND x IN
  * (x-1, x, x+1) …` — and asserts the row count is unchanged, in three
  * containers (bare WHERE, derived table, GROUP BY). That pins: 3-valued
  * logic through every operator spelling, implicit numeric/timestamp →
  * string casts under LIKE, interval arithmetic in comparisons, the
  * Calcite boolean-test wraps, NULL-skipping GREATEST/LEAST
  * (scalar_reduction), and number‖string concat coercion (scalar_other).
  *
  * Ported onto the driver's `events` parquet (event_id BIGINT, ts
  * TIMESTAMP, value DOUBLE, event_type VARCHAR) with no time window —
  * the whole table is the identity baseline, so the gates scale with SF
  * like the corpus's 78k-row kttm slice. The DuckDB oracle spells the
  * LIKE casts explicitly (DuckDB has no implicit numeric→VARCHAR under
  * LIKE; Spark and the reference both coerce).
  */
object QaSqlBatteries {

  /** The full comparison tautology over expression `x` with unit step
    * `d` (x-d / x+d must stay in-domain and ordered). `likeCast` wraps x
    * for the LIKE legs on engines that don't implicitly cast.
    */
  private def tautology(x: String, d: String, likeCast: String => String)
      : String =
    s"""($x IS NULL
        OR ($x = $x
            AND $x IS NOT DISTINCT FROM $x
            AND $x <> $x-$d
            AND ($x IS DISTINCT FROM $x-$d)
            AND $x > $x-$d
            AND $x >= $x-$d
            AND $x < $x+$d
            AND $x <= $x+$d
            AND ($x <> $x-$d) IS TRUE
            AND ($x = $x-$d) IS NOT TRUE
            AND ($x = $x-$d) IS FALSE
            AND ($x <> $x-$d) IS NOT FALSE
            AND $x BETWEEN $x-$d AND $x+$d
            AND $x NOT BETWEEN $x AND $x-$d
            AND ${likeCast(x)} LIKE '%'
            AND ${likeCast(x)} NOT LIKE '__DOES_NOT_EXIST__%'
            AND $x IN ($x-$d, $x, $x+$d)
            AND $x NOT IN ($x-$d, $x+$d)))"""

  /** The three corpus containers over one predicate, as one single-row
    * projection: bare WHERE, derived table, GROUP BY, plus the baseline.
    */
  private def containers(pred: String, groupKey: String): String =
    s"""SELECT (SELECT count(*) FROM events WHERE $pred) AS n_simple,
          (SELECT count(*) FROM (SELECT * FROM events WHERE $pred) sq)
            AS n_subq,
          (SELECT count(*) FROM
            (SELECT $groupKey, count(*) AS c FROM events WHERE $pred
             GROUP BY $groupKey) gq) AS n_grpby,
          (SELECT count(*) FROM events) AS n_all,
          (SELECT count(DISTINCT $groupKey) FROM events) AS n_keys"""

  private[graft] lazy val gates: Seq[(String, String, String)] = {
    val noCast = (x: String) => x
    val duckCast = (x: String) => s"CAST($x AS VARCHAR)"

    def numericGate = {
      def body(likeCast: String => String) = containers(
        tautology("value", "1", likeCast) + "\n AND " +
          tautology("event_id", "1", likeCast), "event_type")
      ("q_qasql_tautology_numeric",
        s"${body(noCast)}",
        s"${body(duckCast)}")
    }

    def datetimeGate = {
      def body(likeCast: String => String) = containers(
        s"""(ts IS NULL
            OR (ts = ts
                AND ts IS NOT DISTINCT FROM ts
                AND ts <> ts - interval '2' YEAR
                AND (ts IS DISTINCT FROM ts - interval '2' YEAR)
                AND ts > ts - interval '2' YEAR
                AND ts >= ts - interval '2' YEAR
                AND ts < ts + interval '2' YEAR
                AND ts <= ts + interval '2' YEAR
                AND (ts <> ts - interval '2' YEAR) IS TRUE
                AND (ts = ts - interval '2' YEAR) IS NOT TRUE
                AND (ts = ts - interval '2' YEAR) IS FALSE
                AND (ts <> ts - interval '2' YEAR) IS NOT FALSE
                AND ts BETWEEN ts - interval '2' YEAR
                  AND ts + interval '2' YEAR
                AND ts NOT BETWEEN ts AND ts - interval '2' YEAR
                AND ${likeCast("ts")} LIKE '%'
                AND ${likeCast("ts")} NOT LIKE '__DOES_NOT_EXIST__%'
                AND ts IN (ts - interval '2' YEAR, ts,
                           ts + interval '2' YEAR)
                AND ts NOT IN (ts - interval '2' YEAR,
                               ts + interval '2' YEAR)))""", "event_type")
      ("q_qasql_tautology_datetime", body(noCast), body(duckCast))
    }

    def stringGate = {
      // string step: concat a suffix instead of subtracting a unit —
      // x <> x||'_', x < x||'_' (suffix extension sorts after its prefix)
      def body = containers(
        s"""(event_type IS NULL
            OR (event_type = event_type
                AND event_type IS NOT DISTINCT FROM event_type
                AND event_type <> event_type || '_'
                AND (event_type IS DISTINCT FROM event_type || '_')
                AND event_type < event_type || '_'
                AND event_type <= event_type || '_'
                AND (event_type <> event_type || '_') IS TRUE
                AND (event_type = event_type || '_') IS NOT TRUE
                AND (event_type = event_type || '_') IS FALSE
                AND (event_type <> event_type || '_') IS NOT FALSE
                AND event_type BETWEEN event_type AND event_type || '_'
                AND event_type NOT BETWEEN event_type || '_'
                  AND event_type
                AND event_type LIKE '%'
                AND event_type NOT LIKE '__DOES_NOT_EXIST__%'
                AND event_type IN (event_type, event_type || '_')
                AND event_type NOT IN (event_type || '_',
                                       '_' || event_type)))""",
        "event_type")
      ("q_qasql_tautology_string", body, body)
    }

    def reductionGate = {
      // scalar_reduction: GREATEST/LEAST SKIP null arguments in the
      // reference, Spark, and DuckDB alike — '1'||greatest(x, 1, NULL)
      // stays non-null and the ||-coerced string comparisons hold
      def g1 = "greatest(value, 1, NULL)"
      def l1 = "least(value, 1e9, NULL)"
      def body(cast: String => String) = containers(
        s"""('1'||${cast(g1)} IS NULL
            OR ('1'||${cast(g1)} = '1'||${cast(g1)}
                AND '1'||${cast(g1)} IS NOT DISTINCT FROM '1'||${cast(g1)}
                AND '1'||${cast(g1)} <> '0'||${cast(g1)}
                AND ('1'||${cast(g1)} IS DISTINCT FROM '0'||${cast(g1)})
                AND '1'||${cast(g1)} > '0'||${cast(g1)}
                AND '1'||${cast(g1)} >= '0'||${cast(g1)}
                AND '1'||${cast(g1)} < '2'||${cast(g1)}
                AND '1'||${cast(g1)} <= '2'||${cast(g1)}
                AND greatest(value, value, value) = value
                AND least(value, value, value) = value
                AND greatest(value, NULL, NULL) = value
                AND least(NULL, value, NULL) = value
                AND greatest(NULL, NULL, NULL) IS NULL
                AND '1'||${cast(l1)} <> '2'||${cast(l1)}))""",
        "event_type")
      ("q_qasql_reduction",
        body(noCast), body(duckCast))
    }

    def otherGate = {
      // scalar_other: string‖CASE-over-columns concat chains — the CASE
      // compares two string columns and yields a NUMERIC branch pair,
      // then rides the same concat-coercion tautology
      def cse = "(CASE event_type WHEN props THEN value ELSE value+1 END)"
      def body(cast: String => String) = containers(
        s"""('1'||${cast(cse)} IS NULL
            OR ('1'||${cast(cse)} = '1'||${cast(cse)}
                AND '1'||${cast(cse)} IS NOT DISTINCT FROM '1'||${cast(cse)}
                AND '1'||${cast(cse)} <> '0'||${cast(cse)}
                AND ('1'||${cast(cse)} IS DISTINCT FROM '0'||${cast(cse)})
                AND '1'||${cast(cse)} > '0'||${cast(cse)}
                AND '1'||${cast(cse)} < '2'||${cast(cse)}
                AND ('1'||${cast(cse)} <> '0'||${cast(cse)}) IS TRUE
                AND ('1'||${cast(cse)} = '0'||${cast(cse)}) IS FALSE))""",
        "event_type")
      ("q_qasql_other_case_concat", body(noCast), body(duckCast))
    }

    def aggrGate = {
      // aggr_general A1..A9: the same tautology surface applied to
      // AGGREGATE expressions inside HAVING — every group survives, so
      // the per-hour aggregate map is the identity baseline
      def having(x: String, d: String, likeCast: String => String) =
        s"""($x = $x
            AND $x IS NOT DISTINCT FROM $x
            AND $x <> $x-$d
            AND ($x IS DISTINCT FROM $x-$d)
            AND $x > $x-$d AND $x >= $x-$d
            AND $x < $x+$d AND $x <= $x+$d
            AND ($x <> $x-$d) IS TRUE
            AND ($x = $x-$d) IS NOT TRUE
            AND ($x = $x-$d) IS FALSE
            AND ($x <> $x-$d) IS NOT FALSE
            AND $x BETWEEN $x-$d AND $x+$d
            AND $x NOT BETWEEN $x AND $x-$d
            AND ${likeCast(x)} LIKE '%'
            AND $x IN ($x-$d, $x, $x+$d)
            AND $x NOT IN ($x-$d, $x+$d))"""
      def body(likeCast: String => String) =
        s"""SELECT date_trunc('hour', ts) AS t,
              count(DISTINCT event_type)+1 AS cd1,
              CAST(max(value)+1 AS DOUBLE) AS mx1,
              CAST(count(*) AS BIGINT) AS c
           FROM events
           GROUP BY date_trunc('hour', ts)
           HAVING ${having("count(DISTINCT event_type)+1", "1", likeCast)}
              AND ${having("max(value)+1", "1", likeCast)}
              AND ${having("min(value)", "1", likeCast)}
              AND ${having("count(*)+1", "1", likeCast)}
           ORDER BY t"""
      ("q_qasql_aggr_having_tautology", body(noCast), body(duckCast))
    }

    def arrayGate = {
      // array.all.iq: the tautology surface over WHOLE-ARRAY values —
      // array_prepend (reference argument order: ELEMENT first) over a
      // split-derived multi-word array, compared with every operator.
      // No null elements, so the DuckDB list compare is total and needs
      // no sentinel mapping; duck spells list_prepend/string_split.
      def arr(duck: Boolean, e: String) =
        if (duck) s"list_prepend('$e', string_split(p_name, ' '))"
        else s"array_prepend('$e', split(p_name, ' '))"
      def body(duck: Boolean) = {
        val x = arr(duck, "1"); val lo = arr(duck, "0"); val hi = arr(duck, "2")
        s"""SELECT (SELECT count(*) FROM part WHERE
              ($x IS NULL OR ($x = $x
                AND $x IS NOT DISTINCT FROM $x
                AND $x <> $lo AND ($x IS DISTINCT FROM $lo)
                AND $x > $lo AND $x >= $lo
                AND $x < $hi AND $x <= $hi
                AND ($x <> $lo) IS TRUE AND ($x = $lo) IS NOT TRUE
                AND ($x = $lo) IS FALSE AND ($x <> $lo) IS NOT FALSE
                AND $x BETWEEN $lo AND $hi
                AND $x NOT BETWEEN $x AND $lo
                AND $x IN ($lo, $x, $hi)
                AND $x NOT IN ($lo, $hi)))) AS n_taut,
            (SELECT count(*) FROM part) AS n_all"""
      }
      ("q_qasql_tautology_array", body(false), body(true))
    }

    def mvGate = {
      // mv.all.iq: '1'||MV_TO_STRING(MV_FILTER_ONLY(ARRAY_TO_MV(x), x))
      // concat-coercion tautology — the MV chain is an identity when the
      // allow-list is the array itself
      def mv(duck: Boolean, p: String) =
        if (duck)
          s"'$p' || array_to_string(list_filter(string_split(p_name, ' '), " +
            "gx -> list_contains(string_split(p_name, ' '), gx)), ',')"
        else
          s"'$p' || mv_to_string(mv_filter_only(array_to_mv(" +
            "split(p_name, ' ')), split(p_name, ' ')), ',')"
      def body(duck: Boolean) = {
        val x = mv(duck, "1"); val lo = mv(duck, "0"); val hi = mv(duck, "2")
        s"""SELECT (SELECT count(*) FROM part WHERE
              ($x IS NULL OR ($x = $x
                AND $x IS NOT DISTINCT FROM $x
                AND $x <> $lo AND ($x IS DISTINCT FROM $lo)
                AND $x > $lo AND $x >= $lo
                AND $x < $hi AND $x <= $hi
                AND ($x <> $lo) IS TRUE AND ($x = $lo) IS FALSE))) AS n_taut,
            (SELECT count(*) FROM part) AS n_all"""
      }
      ("q_qasql_tautology_mv", body(false), body(true))
    }

    def jsonGate = {
      // json.all.iq: array_prepend over JSON_KEYS(props, '$.') — the
      // root-keys array rides the whole-array comparison surface
      def k(duck: Boolean, e: String) =
        if (duck) s"list_prepend('$e', json_keys(props))"
        else s"array_prepend('$e', json_keys(props, '$$.'))"
      def body(duck: Boolean) = {
        val x = k(duck, "1"); val lo = k(duck, "0"); val hi = k(duck, "2")
        s"""SELECT (SELECT count(*) FROM events WHERE
              ($x IS NULL OR ($x = $x
                AND $x IS NOT DISTINCT FROM $x
                AND $x <> $lo AND ($x IS DISTINCT FROM $lo)
                AND $x > $lo AND $x >= $lo
                AND $x < $hi AND $x <= $hi
                AND ($x <> $lo) IS TRUE AND ($x = $lo) IS NOT TRUE
                AND $x BETWEEN $lo AND $hi
                AND $x IN ($lo, $x, $hi)
                AND $x NOT IN ($lo, $hi)))) AS n_taut,
            (SELECT count(*) FROM events) AS n_all"""
      }
      ("q_qasql_tautology_json_keys", body(false), body(true))
    }

    Seq(numericGate, datetimeGate, stringGate, reductionGate, otherGate,
      aggrGate, arrayGate, mvGate, jsonGate)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map { case (name, sparkSql, _) =>
      name -> ((s: SparkSession, _: String) => graft.api.SqlApi.runSql(s, sparkSql))
    }.toMap

  def oracleSql: Map[String, String] =
    gates.map { case (name, _, duckSql) => name -> duckSql }.toMap
}
