package graft.api

import java.time.Instant
import java.time.format.DateTimeFormatter
import java.time.ZoneOffset

import org.json4s._
import org.json4s.jackson.JsonMethods

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.types._

import graft.{GraftSession, Tables}
import SqlTokens._

/** SQL-over-HTTP facade — the reference's primary user-facing API
  * (`POST /druid/v2/sql`; payload shape `sql/src/main/java/org/apache/druid/
  * sql/http/SqlQuery.java`, resource `SqlResource.java:74-75`). Accepts the
  * same JSON payload a reference client sends:
  *
  * {{{
  * {"query":        "SELECT ... WHERE x = ? AND t > ?",
  *  "parameters":   [{"type": "VARCHAR", "value": "a"},
  *                   {"type": "TIMESTAMP", "value": "2001-01-01 00:00:00"}],
  *  "context":      {"sqlQueryId": "id", "timeout": 5000},
  *  "resultFormat": "object" | "array" | "objectLines" | "arrayLines" | "csv",
  *  "header":       true, "typesHeader": true, "sqlTypesHeader": true}
  * }}}
  *
  * Positional `?` parameters are bound with typed SQL literals (reference
  * `SqlParameter.java` / Calcite dynamic params), `EXPLAIN PLAN FOR` returns
  * the (PLAN, RESOURCES, ATTRIBUTES) row of the reference's explain handler
  * (`sql/.../planner/QueryHandler.java` planExplanation), and the reference's
  * `CROSS JOIN UNNEST(expr) AS alias (col)` SQL surface
  * (`sql/.../rel/DruidCorrelateUnnestRel.java`) is translated to a lateral
  * explode. The query is lexed once, on Calcite's lexical rules
  * ([[SqlTokens]]); parameter binding, the dialect passes from Calcite
  * spellings to Spark SQL ([[pipeline]]) and the table functions all work
  * on those tokens, so none of them can fire inside a string literal, a
  * quoted identifier or a comment. Everything else is plain Spark SQL.
  */
object SqlApi {

  /** Compile the payload's SQL (parameters bound, dialect rewritten) to a
    * DataFrame. EXPLAIN PLAN FOR payloads produce the one-row explain result.
    */
  def run(spark: SparkSession, dir: String, payload: String): DataFrame =
    plan(spark, dir, new Payload(JsonMethods.parse(payload)))

  /** A payload parsed once: its context and its query, lexed with the
    * parameters bound and every dialect pass applied.
    */
  private[graft] final class Payload(val json: JValue) {
    private val (sets, text) = setStatements(str(json \ "query").getOrElse(
      throw new IllegalArgumentException("payload requires a query field")))

    /** Context value for `key`: a leading SET statement wins over the
      * payload's context object (reference DruidSqlSet precedence).
      */
    def ctx(key: String): JValue = sets.getOrElse(key, json \ "context" \ key)

    val toks: Toks = pipeline.foldLeft(bind(lex(text), json \ "parameters" match {
      case JArray(xs) => xs; case _ => Nil
    }))((ts, p) => p(ts))

    /** The bound, dialect-rewritten SQL text, SET statements stripped. */
    val sql: String = render(toks)

    lazy val isIngest: Boolean = ingestTarget(sql).isDefined

    def lifecycle: QueryLanes.QueryContext = QueryLanes.context(ctx, "sqlQueryId")
  }

  /** The one plan step of a payload: its DataFrame, built on a per-query
    * clone of the session. A DML payload runs its ingest here.
    */
  private[graft] def plan(spark: SparkSession, dir: String, p: Payload): DataFrame = {
    GraftSession.attach(spark)
    Tables.registerAll(spark, dir)
    registerWarehouse(spark)
    val sqlText = renderCalcite(rewriteTableFunctions(spark, dir, p.toks))
    // The query is read on a CLONE of the session (shared context and
    // catalog, a copy of the temp views, its own SQLConf), so the per-query
    // confs set here cannot leak into the caller's session or to its
    // concurrent callers:
    //  - Druid SQL quotes identifiers with double quotes (Calcite), Spark
    //    with backticks — accept the reference's form on this entry point
    //    so console-generated SQL runs verbatim;
    //  - context.sqlTimeZone (reference PlannerContext.getTimeZone):
    //    Catalyst's ResolveTimeZone bakes the zone into datetime
    //    expressions at analysis time;
    //  - the reference's lookup-rewrite keys sqlReverseLookup and
    //    sqlPullUpLookup (default true) fold into the confs the optimizer
    //    rules read, which run on the clone the DataFrame belongs to.
    val ps = org.apache.spark.sql.GraftSessionAccess.cloneSession(spark)
    ps.conf.set("spark.sql.ansi.doubleQuotedIdentifiers", "true")
    str(p.ctx("sqlTimeZone")).foreach(ps.conf.set("spark.sql.session.timeZone", _))
    Seq("sqlReverseLookup", "sqlPullUpLookup").foreach(k =>
      bool(p.ctx(k)).foreach(v => ps.conf.set(s"spark.graft.$k", v.toString)))
    ingestTarget(sqlText) match {
      case Some(ing) => runIngest(spark, ps, ing)
      case None =>
        val df = explainTarget(sqlText) match {
          case Some(inner) => explainPlan(ps, inner)
          case None =>
            val base = sqlWithSortWindows(ps, sqlText)
            // context.sqlOuterLimit (reference QueryContexts): a hard
            // outer row cap applied over whatever the query returns
            p.ctx("sqlOuterLimit") match {
              case JInt(n)  => base.limit(n.toInt)
              case JLong(n) => base.limit(n.toInt)
              case _        => base
            }
        }
        df.queryExecution.analyzed // bake zone/idents into the plan now
        df
    }
  }

  /** Per-session lock for [[sqlWithSortWindows]]' scoped-conf window (weak
    * keys: sessions stay collectable).
    */
  private val confScopeLocks =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, AnyRef]())
  private def confScopeLock(spark: SparkSession): AnyRef =
    confScopeLocks.synchronized {
      var l = confScopeLocks.get(spark)
      if (l == null) { l = new AnyRef; confScopeLocks.put(spark, l) }
      l
    }

  /** Run the payload and render the HTTP response body per `resultFormat` +
    * header flags, under the query lifecycle ([[QueryLanes.run]]: admission,
    * context.sqlQueryId cancellation, context.lane and context.timeout —
    * reference `SqlResource` + `SqlLifecycle`). The result is bounded by
    * `context.maxSubqueryRows` (default [[QueryLanes.DefaultMaxResultRows]]):
    * rows are fetched through `toLocalIterator` — never an unbounded
    * `collect` — and overflow raises [[QueryLanes.ResourceLimitExceeded]]
    * instead of OOMing the driver.
    * `context.useCache` / `populateCache` serve the body through
    * [[ResultCache]], opt-in: the key is the payload's result-affecting
    * fields, the compiled plan and the version of every file it reads, and
    * a plan it cannot version is never served from it. The lookup follows
    * compilation, so a hit skips only execution; DML (already run by then,
    * with a local result) is never cached.
    * For unbounded streaming of line-shaped formats use [[executeStream]].
    */
  def execute(spark: SparkSession, dir: String, payload: String): String = {
    val out = new java.io.StringWriter()
    executeTo(spark, dir, payload, out, capped = true)
    out.toString
  }

  // the reference's SQL result-level cache (`useResultLevelCache`) reuses
  // the useCache/populateCache flags; oversize bodies are never cached
  private val MaxCachedBodyChars = 4 << 20

  /** Everything result-affecting in the payload besides the plan itself:
    * dir, the parameter-bound SQL, result format + header flags, and caps.
    */
  private def sqlCacheKey(dir: String, p: Payload): String = {
    val flags = Seq("resultFormat", "header", "typesHeader", "sqlTypesHeader")
      .map(k => k + "=" + JsonMethods.compact(JsonMethods.render(p.json \ k)))
    val ctxFlags = Seq("maxSubqueryRows", "sqlOuterLimit", "sqlTimeZone",
        "sqlStringifyArrays")
      .map(k => k + "=" + JsonMethods.compact(JsonMethods.render(p.ctx(k))))
    ("sql" +: dir +: p.sql +: (flags ++ ctxFlags)).mkString("\u0001")
  }

  /** Streaming variant of [[execute]]: renders the response body
    * incrementally to `out` via `toLocalIterator`, so driver memory stays
    * bounded by one partition regardless of result size — the analog of the
    * reference `SqlResource` streaming the HTTP chunked response. No row cap
    * by default (the caller owns the sink), but an explicitly supplied
    * `context.maxSubqueryRows` is honored; object/array formats stream
    * element-by-element, line formats line-by-line.
    */
  def executeStream(spark: SparkSession, dir: String, payload: String,
                    out: java.io.Writer): Unit =
    executeTo(spark, dir, payload, out, capped = false)

  private def executeTo(spark: SparkSession, dir: String, payload: String,
                        out: java.io.Writer, capped: Boolean): Unit = {
    val p = new Payload(JsonMethods.parse(payload))
    val q = p.lifecycle
    // capped (buffered) path: caller's cap or the default. Stream path:
    // unbounded by default (the caller owns the sink), but an EXPLICITLY
    // supplied maxSubqueryRows is honored — silently ignoring a requested
    // cap would be surprising for API parity.
    val maxRows =
      if (capped) Some(q.maxRows.getOrElse(QueryLanes.DefaultMaxResultRows))
      else q.maxRows
    QueryLanes.run(spark, q) {
      val df0 = plan(spark, dir, p)
      // reference sqlStringifyArrays: complex-typed result columns render as
      // JSON strings (the reference's default for non-array-aware formats;
      // here opt-in so the native array rendering stays the default)
      val df =
        if (bool(p.ctx("sqlStringifyArrays")).contains(true)) {
          import org.apache.spark.sql.functions.{col, to_json}
          df0.select(df0.schema.fields.map { f =>
            f.dataType match {
              case _: ArrayType | _: MapType | _: StructType =>
                to_json(col(s"`${f.name}`")).as(f.name)
              case _ => col(s"`${f.name}`")
            }
          }.toIndexedSeq: _*)
        } else df0
      def body(out: java.io.Writer): Unit = {
        val it = QueryLanes.limited(df, maxRows).toLocalIterator()
        val rows = new Iterator[Row] {
          private var n = 0L
          def hasNext: Boolean = it.hasNext
          def next(): Row = {
            n += 1
            QueryLanes.checkRows(n, maxRows)
            it.next()
          }
        }
        renderRows(rows, df.schema, p.json, out)
      }
      // execute's cache flags buffer the body through ResultCache; else it
      // goes to `out`. DML has already run in `plan`: it stays out of the
      // cache and its stats
      def flag(k: String) = capped && p.ctx(k) == JBool(true)
      val useCache = flag("useCache")
      val populateCache = flag("populateCache")
      if (!useCache && !populateCache || p.isIngest) body(out)
      else out.write(ResultCache.through(
          ResultCache.key(sqlCacheKey(dir, p), df.queryExecution.analyzed),
          useCache, populateCache, (b: String) => b.length <= MaxCachedBodyChars) {
        val buf = new java.io.StringWriter()
        body(buf)
        buf.toString
      })
    }
  }

  /** `spark.sql` plus support for window functions INSIDE the ORDER BY
    * clause (`... ORDER BY row_number() OVER (...)`) — Calcite (the
    * reference's planner, e.g. the adopted drill corpus's drill-3348 shape)
    * accepts this, but Spark's Sort operator rejects inline window
    * expressions. The facade hoists each ORDER-BY window into a hidden
    * projected alias below the Sort, sorts on the alias, and drops the
    * helper columns after analysis — the standard SQL-equivalent rewrite,
    * applied automatically.
    */
  private[graft] def sqlWithSortWindows(spark: SparkSession,
                                        sqlText: String): DataFrame = {
    // Druid is LENIENT where ANSI throws: implicit string→number casts
    // over dirty values ('' sums as null), size-of-null, invalid casts.
    // The pipeline's doubleQuotedIdents covers the one ANSI
    // feature the facade used (double-quoted identifiers), so ANSI is
    // off at the SQL boundary — scoped to THIS call: every Dataset built
    // below analyzes eagerly (Bridge.ofRows / Dataset construction), so
    // cast eval modes are baked into the plan before the conf is
    // restored, and a DataFrame-API user of the same session keeps their
    // ANSI semantics. Serialized per session via confScopeLock.
    // Calcite has NO lateral column aliases — a SELECT item's alias is
    // invisible to sibling expressions and to GROUP BY expressions, so
    // `SELECT time_floor(__time, …) AS __time … GROUP BY time_floor(
    // __time, …)` groups on the TABLE column (qaWin W9 subquery shapes);
    // Spark's implicit lateral resolution would bind the alias instead.
    val AnsiKey = "spark.sql.ansi.enabled"
    val LcaKey = "spark.sql.lateralColumnAlias.enableImplicitResolution"
    confScopeLock(spark).synchronized {
      val prevAnsi = spark.conf.getOption(AnsiKey)
      val prevLca = spark.conf.getOption(LcaKey)
      spark.conf.set(AnsiKey, "false")
      spark.conf.set(LcaKey, "false")
      try sortWindowSql(spark, sqlText)
      finally {
        prevAnsi match {
          case Some(v) => spark.conf.set(AnsiKey, v)
          case None    => spark.conf.unset(AnsiKey)
        }
        prevLca match {
          case Some(v) => spark.conf.set(LcaKey, v)
          case None    => spark.conf.unset(LcaKey)
        }
      }
    }
  }

  /** Calcite window-frame dialect the reference accepts but Spark's
    * analyzer rejects, normalized pre-analysis:
    *
    *  - RANGE frame with NO ORDER BY: every row is a peer of every other,
    *    so the CURRENT/UNBOUNDED bound combinations all equal the whole
    *    partition (qaWin orderby_range_current_* W21: first/last over
    *    `PARTITION BY client_ip RANGE CURRENT ROW` = partition first/last)
    *    → ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING.
    *  - INVERTED literal ROWS frames (lower > upper, e.g. `ROWS BETWEEN 1
    *    FOLLOWING AND 0 FOLLOWING`): the reference computes over the EMPTY
    *    frame — sum NULL, count 0 (orderby_rows_1_following A6 grids) —
    *    where Spark rejects the bound pair. Spark can't spell an empty
    *    frame, so null-ify the aggregate's arguments (null-ignoring aggs
    *    then see zero input rows) over a single-row frame.
    *
    * Named WINDOW clauses are inlined first (the analyzer's own
    * WindowsSubstitution runs too late — frame validation fails before the
    * rewrite could see the spec).
    */
  private def rewriteWindowDialect(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan):
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.plans.logical.WithWindowDefinition
    def boundVal(e: Expression): Option[Long] = e match {
      case CurrentRow => Some(0L)
      case l if l.foldable && l.resolved =>
        l.eval(null) match {
          case n: Number => Some(n.longValue())
          case _ => None
        }
      case _ => None
    }
    def specialOnly(e: Expression): Boolean =
      e == CurrentRow || e == UnboundedPreceding || e == UnboundedFollowing
    def fixSpec(spec: WindowSpecDefinition): WindowSpecDefinition =
      spec.frameSpecification match {
        case SpecifiedWindowFrame(RangeFrame, lo, hi)
            if spec.orderSpec.isEmpty && specialOnly(lo) && specialOnly(hi) =>
          spec.copy(frameSpecification =
            SpecifiedWindowFrame(RowFrame, UnboundedPreceding,
              UnboundedFollowing))
        case _ => spec
      }
    def nullified(agg: Expression): Expression = agg.mapChildren {
      // count(*) parses with a star child — count(1)-equivalent, and a
      // star can't sit inside a conditional
      case _: org.apache.spark.sql.catalyst.analysis.UnresolvedStar =>
        If(Literal(false), Literal(1), Literal.create(null,
          org.apache.spark.sql.types.NullType))
      case c if !c.isInstanceOf[WindowSpecDefinition] =>
        If(Literal(false), c, Literal.create(null,
          org.apache.spark.sql.types.NullType))
      case other => other
    }
    def fixWindowExpr(we: WindowExpression): Expression = {
      var spec = fixSpec(we.windowSpec)
      // FIRST_VALUE/LAST_VALUE over an UNORDERED window compute over the
      // whole partition in the reference (WindowFirstProcessor — the frame
      // is ignored: `WINDOW w AS (ROWS CURRENT ROW)` with no ORDER BY gives
      // the partition first/last, qaWin orderby_rows_current_first_last
      // W21/W22 grids), while framed aggregates like SUM keep the frame.
      val fnName = we.windowFunction match {
        case uf: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction =>
          uf.nameParts.last.toLowerCase
        case _ => ""
      }
      if (spec.orderSpec.isEmpty &&
          Set("first_value", "last_value")(fnName))
        spec = spec.copy(frameSpecification =
          SpecifiedWindowFrame(RowFrame, UnboundedPreceding,
            UnboundedFollowing))
      spec.frameSpecification match {
        case SpecifiedWindowFrame(RowFrame, lo, hi) =>
          (boundVal(lo), boundVal(hi)) match {
            case (Some(l), Some(h)) if l > h =>
              WindowExpression(nullified(we.windowFunction),
                spec.copy(frameSpecification =
                  SpecifiedWindowFrame(RowFrame, CurrentRow, CurrentRow)))
            case _ => we.copy(windowSpec = spec)
          }
        case _ => we.copy(windowSpec = spec)
      }
    }
    // inline named WINDOW specs, then normalize every window expression —
    // the references can sit ANY depth below the definition node (GROUP BY
    // shapes put them under Aggregate/Filter chains), so substitute across
    // the whole child subtree
    val inlined = plan.transformUp {
      case WithWindowDefinition(defs, child, _) =>
        child.transformAllExpressions {
          case UnresolvedWindowExpression(c, WindowSpecReference(name))
              if defs.contains(name) => WindowExpression(c, defs(name))
        }
    }
    // grouping()/grouping_id() with a PLAIN GROUP BY is constant 0 in the
    // reference (no subtotal rows — qaUnnest array_sql_group_by grouping
    // batteries); Spark rejects them outside GroupingSets/Cube/Rollup
    def plainAgg(
        agg: org.apache.spark.sql.catalyst.plans.logical.Aggregate): Boolean =
      !agg.groupingExpressions.exists(_.exists(
        _.isInstanceOf[BaseGroupingSets]))
    def dropGrouping(e: Expression): Expression = e.transform {
      case uf: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
          if Set("grouping", "grouping_id")(uf.nameParts.last.toLowerCase) =>
        Literal(0L)
    }
    val groupingFixed = inlined.transformUp {
      // HAVING grouping(…) sits ABOVE the aggregate in its own node
      case h: org.apache.spark.sql.catalyst.analysis.UnresolvedHaving
          if h.child.isInstanceOf[
            org.apache.spark.sql.catalyst.plans.logical.Aggregate] &&
            plainAgg(h.child.asInstanceOf[
              org.apache.spark.sql.catalyst.plans.logical.Aggregate]) =>
        h.copy(havingCondition = dropGrouping(h.havingCondition))
      case agg: org.apache.spark.sql.catalyst.plans.logical.Aggregate
          if plainAgg(agg) =>
        agg.copy(aggregateExpressions =
          agg.aggregateExpressions.map(e =>
            dropGrouping(e).asInstanceOf[
              org.apache.spark.sql.catalyst.expressions.NamedExpression]))
    }
    groupingFixed.transformAllExpressions {
      case we: WindowExpression => fixWindowExpr(we)
    }
  }

  /** Druid's groupBy EXPLODES a multi-value dimension into one group per
    * element — a row with ["b","c"] contributes to groups b AND c, a null
    * MVD row to the null group (Druid "Grouping on multi-value
    * dimensions"; CalciteMultiValueStringQueryTest grids) — and the same
    * applies to expressions OVER an MVD (the expression maps per element
    * first). Spark groups the whole array as one key, so the facade
    * rewrites: each MVD grouping expression moves into an explode
    * Generate below the Aggregate and the grouping/select references
    * swap to the exploded element. Gated on [[graft.functions.MvdTables]]
    * — a query that touches no registered MVD table pays nothing; when it
    * does, the aggregate's child is analyzed once to learn which columns
    * carry the druid.mv tag.
    */
  /** Pre-analysis wrap of the elementwise-function family for queries
    * touching a registered MVD table. The analysis-RETRY swap alone
    * misses calls that type-check natively — COALESCE(mv, mv2) over two
    * ARRAY columns resolves to Spark's whole-value Coalesce, where the
    * reference applies the function over the CARTESIAN PRODUCT of the
    * element sets (CalciteQueryTest testCoalesceMoreColumns). The wrap
    * is semantics-free for non-MV operands: [[graft.functions
    * .MvElementwise]] dispatches on RESOLVED types and rebuilds the
    * plain call when no MV is involved.
    */
  private def mvdElementwiseWrap(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan):
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    import org.apache.spark.sql.catalyst.analysis.{
      UnresolvedFunction, UnresolvedRelation}
    if (!graft.functions.MvdTables.any) return plan
    val refsMvd = plan.exists {
      case r: UnresolvedRelation =>
        graft.functions.MvdTables.isMvdTable(
          r.multipartIdentifier.mkString("."))
      case _ => false
    }
    if (!refsMvd) return plan
    // COALESCE/NVL/NULLIF resolve natively over two ARRAY operands
    // (whole-value — wrong for MVDs); CONCAT matters for composition with
    // builder-resolved per-element functions — concat(SUBSTRING(mv,…),
    // 'x') resolves substring to an ARRAY-valued transform during
    // analysis and the retry swap can no longer see the call shape
    // (testApproxCountDistinct). MvElementwise rebuilds the plain call
    // when no MV operand is involved, so the wrap is semantics-free
    // elsewhere; the ARRAY_AGG/STRING_AGG flatten detections see through
    // the node (mvArg).
    val names = Set("coalesce", "nvl", "nullif", "concat", "textcat")
    val wrapped = plan.transformAllExpressions {
      case f: UnresolvedFunction
          if names(f.nameParts.last.toLowerCase) && f.arguments.size >= 2 &&
            f.filter.isEmpty && !f.isDistinct =>
        graft.functions.MvElementwise(f.nameParts.last.toLowerCase,
          f.arguments)
      // `a || b` parses to a raw Concat node (no UnresolvedFunction stage)
      case c: org.apache.spark.sql.catalyst.expressions.Concat
          if c.children.size >= 2 =>
        graft.functions.MvElementwise("concat", c.children)
    }
    // IS [NOT] NULL over the wrapped calls: the wrap makes the query
    // analyze CLEANLY, so the retry path that would install MvIsNull (the
    // reference's null selector — NULL row or ANY null element) never
    // fires; NULLIF(dim2,'a') IS NULL must count the ['a']→[null] rows
    // (testNullEmptyStringEquality = 4, not 2)
    wrapped.transformAllExpressions {
      case org.apache.spark.sql.catalyst.expressions.IsNull(
          m: graft.functions.MvElementwise) => graft.functions.MvIsNull(m)
      case org.apache.spark.sql.catalyst.expressions.IsNotNull(
          m: graft.functions.MvElementwise) =>
        org.apache.spark.sql.catalyst.expressions.Not(
          graft.functions.MvIsNull(m))
    }
  }

  /** Align UNION branches where one side's column is a multi-value
    * STRING dimension (ARRAY<STRING>) and another's is a scalar STRING —
    * both are VARCHAR to the reference, so `SELECT dim2 FROM foo UNION
    * ALL SELECT dim2 FROM foo2` must not fail INCOMPATIBLE_COLUMN_TYPE
    * (CalciteUnionQueryTest testUnionAllTablesColumnTypeMismatchFloatLong).
    * The scalar side wraps to its 1-element MV (null scalar = null row)
    * and keeps the druid.mv tag so downstream MVD dialect still applies.
    */
  private def mvdUnionAlign(
      spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan):
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    import org.apache.spark.sql.catalyst.analysis.{
      UnresolvedAttribute, UnresolvedRelation}
    import org.apache.spark.sql.catalyst.expressions.{
      Alias, CreateArray, If, IsNull, Literal, NamedExpression}
    import org.apache.spark.sql.catalyst.plans.logical.{
      Project, Union, UnresolvedWith}
    import org.apache.spark.sql.types.{ArrayType, StringType}
    if (!graft.functions.MvdTables.any) return plan
    val refsMvd = plan.exists {
      case r: UnresolvedRelation =>
        graft.functions.MvdTables.isMvdTable(
          r.multipartIdentifier.mkString("."))
      case _ => false
    }
    if (!refsMvd || !plan.exists(_.isInstanceOf[Union])) return plan
    val cteDefs = plan.collect { case w: UnresolvedWith => w.cteRelations }
      .flatten
    def outputOf(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      try Some(spark.sessionState.analyzer.execute(
        if (cteDefs.isEmpty) p else UnresolvedWith(p, cteDefs)).output)
      catch { case _: Exception => None }
    val mvMeta = new org.apache.spark.sql.types.MetadataBuilder()
      .putBoolean("druid.mv", true).build()
    plan.transformUp {
      case u: Union if u.children.size >= 2 =>
        val outs = u.children.map(outputOf)
        if (outs.exists(_.isEmpty)) u
        else {
          val outputs = outs.map(_.get)
          val ncols = outputs.map(_.size).min
          // only positions where every branch exposes the SAME column
          // name — the reference maps its union datasource by position
          // AND name, and REJECTS reordered columns
          // (testUnionDifferentColumnOrder); aligning those here would
          // legalize a query the reference forbids
          val needs = (0 until ncols).filter { i =>
            outputs.map(_(i).name.toLowerCase).distinct.size == 1 &&
              outputs.exists(o =>
                o(i).dataType == ArrayType(StringType, true) ||
                  o(i).dataType == ArrayType(StringType, false)) &&
              outputs.exists(o => o(i).dataType == StringType)
          }.toSet
          if (needs.isEmpty) u
          else u.withNewChildren(u.children.zip(outputs).map { case (c, o) =>
            if (!needs.exists(i => o(i).dataType == StringType)) c
            else Project(o.zipWithIndex.map { case (a, i) =>
              val ref = UnresolvedAttribute.quoted(a.name)
              if (needs.contains(i) && a.dataType == StringType)
                Alias(If(IsNull(ref),
                  Literal.create(null, ArrayType(StringType, true)),
                  CreateArray(Seq(ref))), a.name)(
                  explicitMetadata = Some(mvMeta)): NamedExpression
              else (ref: NamedExpression)
            }, c)
          })
        }
    }
  }

  private def mvdGroupByExplode(
      spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan):
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.analysis.{
      UnresolvedAlias, UnresolvedAttribute, UnresolvedFunction,
      UnresolvedGenerator, UnresolvedRelation}
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.plans.logical.{
      Aggregate, Generate, UnresolvedWith}
    import org.apache.spark.sql.types.{ArrayType, IntegerType, StringType}
    if (!graft.functions.MvdTables.any) return plan
    def refsMvd(
        p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
      p.exists {
        case r: UnresolvedRelation =>
          graft.functions.MvdTables.isMvdTable(
            r.multipartIdentifier.mkString("."))
        case _ => false
      }
    if (!refsMvd(plan)) return plan
    val cteDefs = plan.collect { case w: UnresolvedWith => w.cteRelations }
      .flatten
    val mvProducing = Set("mv_append", "mv_prepend", "mv_concat", "mv_slice",
      "mv_filter_only", "mv_filter_none", "mv_filter_prefix",
      "mv_filter_regex", "string_to_mv", "coalesce", "nvl", "concat",
      "textcat", "upper", "lower", "nullif",
      // LOOKUP over an MVD key maps per element → MV result
      // (testMultiValuedFilterOnlyWhenLookupPullsInDuplicates)
      "lookup")
    var idx = 0
    def rewriteAgg(agg: Aggregate): org.apache.spark.sql.catalyst.plans
        .logical.LogicalPlan = {
      val childOut =
        try {
          val p = if (cteDefs.isEmpty) agg.child
            else UnresolvedWith(agg.child, cteDefs)
          spark.sessionState.analyzer.execute(p).output
        } catch { case _: Exception => return agg }
      def taggedAttr(name: String): Boolean = childOut.exists(a =>
        a.name.equalsIgnoreCase(name) && a.metadata.contains("druid.mv") &&
          a.dataType.isInstanceOf[ArrayType])
      def exprIsMvd(e: Expression): Boolean = e match {
        case u: UnresolvedAttribute => taggedAttr(u.nameParts.last)
        // ARRAY_TO_MV / STRING_TO_MV make their result an MVD regardless
        // of the input's tag — grouping on them explodes per element
        // (CalciteNestedDataQueryTest testGroupByRootSingleTypeArray*AsMvd;
        // CalciteMultiValueStringQueryTest
        // testMultiValueStringToStringToMultiValueString). A CONSTANT
        // call stays whole: the reference plans it as an array literal,
        // not an MVD dimension (testStringToMVOfConstantGroupedBy)
        case f: UnresolvedFunction
            if (f.nameParts.last.equalsIgnoreCase("array_to_mv") ||
              f.nameParts.last.equalsIgnoreCase("string_to_mv")) &&
              f.arguments.exists(_.exists(
                _.isInstanceOf[UnresolvedAttribute])) => true
        case f: UnresolvedFunction
            if mvProducing(f.nameParts.last.toLowerCase) =>
          f.arguments.exists(exprIsMvd)
        case m: graft.functions.MvElementwise => m.children.exists(exprIsMvd)
        case _ => false
      }
      // GROUP BY <ordinal> points at the select item (the parser emits
      // UnresolvedOrdinal; a plain integer literal covers older paths)
      def ordinalOf(g: Expression): Option[Int] = g match {
        case o: org.apache.spark.sql.catalyst.analysis.UnresolvedOrdinal =>
          Some(o.ordinal)
        case Literal(i: Int, IntegerType) => Some(i)
        case _ => None
      }
      def targetOf(g: Expression): Expression = ordinalOf(g) match {
        case Some(i) if i >= 1 && i <= agg.aggregateExpressions.size =>
          agg.aggregateExpressions(i - 1) match {
            case Alias(c, _) => c
            case UnresolvedAlias(c, _) => c
            case other => other
          }
        case _ => g
      }
      var child = agg.child
      var ae: Seq[NamedExpression] = agg.aggregateExpressions
      var changed = false
      val newGe = agg.groupingExpressions.map { g =>
        val t = targetOf(g)
        if (!exprIsMvd(t)) g
        else {
          changed = true
          val gname = s"__mvg_$idx"; idx += 1
          // concrete Coalesce (not an UnresolvedFunction) so the retry
          // path's elementwise rewrite can never touch this wrapper; an
          // EMPTY multi-value row groups into the null group like a NULL
          // one (Druid's groupBy engine), so both map to array(NULL) —
          // explode would otherwise DROP the empty-array row
          val asArr = Coalesce(Seq(
            Cast(t, ArrayType(StringType, containsNull = true)),
            CreateArray(Seq(Literal.create(null, StringType)))))
          val gen = UnresolvedGenerator(FunctionIdentifier("explode"), Seq(
            If(EqualTo(Size(asArr), Literal(0)),
              CreateArray(Seq(Literal.create(null, StringType))), asArr)))
          child = Generate(gen, unrequiredChildIndex = Nil, outer = false,
            qualifier = None,
            generatorOutput = Seq(UnresolvedAttribute(gname)), child)
          val rep = UnresolvedAttribute(gname)
          def nameOf(e: Expression): String = e match {
            case ua: UnresolvedAttribute => ua.nameParts.last
            case f: UnresolvedFunction => f.nameParts.last.toLowerCase
            case _ => gname
          }
          // aggregate ARGUMENTS keep the FULL multi-value row — Druid's
          // groupBy explodes only the dimension; SUM(MV_LENGTH(mv)) sums
          // the original array length per exploded row
          // (testGroupByRootSingleTypeArrayLongNullsAsMvdFiltered: 13,
          // not the group count) — so the substitution stops at any
          // aggregate call boundary
          val aggNames = Set("sum", "count", "min", "max", "avg", "any",
            "any_value", "first", "last", "earliest", "latest",
            "earliest_by", "latest_by", "array_agg", "string_agg",
            "listagg", "array_concat_agg", "bit_and", "bit_or", "bit_xor",
            "approx_count_distinct", "count_if", "grouping", "grouping_id",
            "var_pop", "var_samp", "stddev_pop", "stddev_samp", "variance",
            "stddev", "avg_if", "collect_list", "collect_set")
          def subst(e: Expression): Expression = e match {
            case x if x == t => rep
            case f: UnresolvedFunction
                if aggNames(f.nameParts.last.toLowerCase) => f
            case ae0: org.apache.spark.sql.catalyst.expressions.aggregate
                .AggregateExpression => ae0
            case other => other.mapChildren(subst)
          }
          ae = ae.map {
            case al @ Alias(c, n) if c == t => Alias(rep, n)()
            case UnresolvedAlias(c, _) if c == t => Alias(rep, nameOf(t))()
            case ua: UnresolvedAttribute if (ua: Expression) == t =>
              Alias(rep, ua.nameParts.last)()
            case other => subst(other).asInstanceOf[NamedExpression]
          }
          if (ordinalOf(g).isDefined) g // ordinal still points there
          else rep
        }
      }
      if (!changed) agg
      else agg.copy(groupingExpressions = newGe,
        aggregateExpressions = ae, child = child)
    }
    // ARRAY_AGG over an MVD argument folds FLATTENED (elements; null row
    // → null element — CalciteArraysQueryTest testArrayAggMultiValue).
    // The flatten changes the aggregate's RESULT TYPE, so it must be
    // decided HERE, before parents resolve against it — a post-analysis
    // flip would leave consumers (ARRAY_TO_STRING's element lambda) typed
    // against the nested form. The renamed builder carries the flag as a
    // constructor parameter, which survives the distinct rewrite's child
    // re-attribution.
    def foldMvExprs[P <: org.apache.spark.sql.catalyst.plans.logical
        .LogicalPlan](node: P, child: org.apache.spark.sql.catalyst.plans
        .logical.LogicalPlan,
        rebuild: Seq[NamedExpression] => P,
        exprs: Seq[NamedExpression]): P = {
      val childOut =
        try {
          val p = if (cteDefs.isEmpty) child
            else UnresolvedWith(child, cteDefs)
          spark.sessionState.analyzer.execute(p).output
        } catch { case _: Exception => return node }
      def tagged(name: String): Boolean = childOut.exists(a =>
        a.name.equalsIgnoreCase(name) && a.metadata.contains("druid.mv") &&
          a.dataType.isInstanceOf[ArrayType])
      def mvArg(e: Expression): Boolean = e match {
        case u: UnresolvedAttribute => tagged(u.nameParts.last)
        case f: UnresolvedFunction
            if mvProducing(f.nameParts.last.toLowerCase) =>
          f.arguments.exists(mvArg)
        case c: Concat => c.children.exists(mvArg)
        // the pre-analysis elementwise wrap (mvdElementwiseWrap) replaces
        // coalesce/concat calls with this node — see through it so
        // ARRAY_AGG(CONCAT(dim1, dim2)) still folds flattened
        case m: graft.functions.MvElementwise => m.children.exists(mvArg)
        case _ => false
      }
      rebuild(exprs.map(_.transformDown {
        case f: UnresolvedFunction
            if f.nameParts.last.equalsIgnoreCase("array_agg") &&
              f.arguments.nonEmpty && mvArg(f.arguments.head) =>
          f.copy(nameParts = Seq("array_agg_mv"))
      }.asInstanceOf[NamedExpression]))
    }
    def foldMvAggs(agg: Aggregate): Aggregate =
      foldMvExprs[Aggregate](agg, agg.child,
        es => agg.copy(aggregateExpressions = es), agg.aggregateExpressions)
    def hasArrayAgg(exprs: Seq[Expression]): Boolean = exprs.exists(_.exists {
      case f: UnresolvedFunction =>
        f.nameParts.last.equalsIgnoreCase("array_agg")
      case _ => false
    })
    def walk(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan):
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
      p.transformUp {
        case agg: Aggregate if refsMvd(agg) =>
          val folded = foldMvAggs(agg)
          if (folded.groupingExpressions.nonEmpty &&
              !folded.groupingExpressions.exists(
                _.exists(_.isInstanceOf[BaseGroupingSets])))
            rewriteAgg(folded)
          else folded
        // a GLOBAL aggregate (no GROUP BY) parses as a Project — the
        // analyzer extracts the aggregate later — so the MV-fold rename
        // must reach Project nodes too (testArrayAggMultiValue)
        case proj: org.apache.spark.sql.catalyst.plans.logical.Project
            if hasArrayAgg(proj.projectList) && refsMvd(proj) =>
          foldMvExprs[org.apache.spark.sql.catalyst.plans.logical.Project](
            proj, proj.child, es => proj.copy(projectList = es),
            proj.projectList)
      }
    walk(plan.transformUp {
      case w: UnresolvedWith =>
        w.copy(cteRelations = w.cteRelations.map(t =>
          t.copy(_2 = walk(t._2).asInstanceOf[
            org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias])))
    })
  }

  /** Druid's groupBy engine merges partial results SORTED BY THE
    * DIMENSIONS, and the SQL layer's LimitSpec sort is stable over that
    * input — so `GROUP BY d ORDER BY agg` lists TIED groups in dimension
    * order, and with a LIMIT the dim-first ties are the ones that
    * survive (the CalciteQueryTest testOrderByEarliest and
    * testMultiValueString grids all pin it). Spark's sort ties are
    * partition-arbitrary; append
    * the grouping expressions ascending-nulls-first as trailing sort keys
    * to model the reference's deterministic order. Skipped for GROUPING
    * SETS (subtotal rows make dim order ill-defined) and when the sort
    * already carries every grouping expression.
    */
  /** True when the plan reads a table registered as a Druid-native MVD
    * datasource — the dialect rewrites that model the reference's
    * segment/merge ORDER (tie-breakers, null collation, MVD explode)
    * only apply there: for arbitrary tables the ingest order is unknown
    * and the rewrites would just perturb Spark plans for nothing.
    */
  private def refsDruidTable(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
    graft.functions.MvdTables.any && plan.exists {
      case r: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation =>
        graft.functions.MvdTables.isMvdTable(
          r.multipartIdentifier.mkString("."))
      case _ => false
    }

  /** Druid drops an ORDER BY that sits in a subquery WITHOUT ITS OWN
    * LIMIT — only the outermost sort (or a sort feeding a limit) orders
    * anything, so `SELECT * FROM (SELECT dim1 … ORDER BY __time DESC)
    * LIMIT 2` takes the SEGMENT-order head, not the sorted head
    * (CalciteSelectQueryTest
    * testSelectStarFromSelectSingleColumnWithLimitDescending). Applied
    * only to registered Druid tables: for arbitrary tables the engine
    * keeps the user's inner sort.
    */
  private def dropUnlimitedSubquerySorts(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan):
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    import org.apache.spark.sql.catalyst.plans.logical.{
      GlobalLimit, LocalLimit, LogicalPlan, Offset, Sort, UnresolvedWith}
    if (!refsDruidTable(plan)) return plan
    def walk(p: LogicalPlan, keep: Boolean): LogicalPlan = p match {
      case s: Sort if !keep => walk(s.child, keep = false)
      case s: Sort =>
        s.withNewChildren(Seq(walk(s.child, keep = false)))
      case l @ (_: GlobalLimit | _: LocalLimit | _: Offset) =>
        l.withNewChildren(l.children.map(walk(_, keep = true)))
      // a WITH wrapper roots the plan ABOVE the main query's Sort: the
      // outermost ORDER BY of `WITH t AS (…) SELECT … ORDER BY k` must
      // survive (Calcite honors it); only the CTE definitions are
      // subqueries
      case w: UnresolvedWith =>
        w.copy(
          child = walk(w.child, keep),
          cteRelations = w.cteRelations.map { case (n, r, o) =>
            (n, walk(r, keep = false)
              .asInstanceOf[org.apache.spark.sql.catalyst.plans.logical
                .SubqueryAlias], o)
          })
      case other =>
        other.withNewChildren(other.children.map(walk(_, keep = false)))
    }
    walk(plan, keep = true)
  }

  private def appendGroupTieBreakers(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan):
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    import org.apache.spark.sql.catalyst.expressions.{
      Ascending, BaseGroupingSets, NullsFirst, SortOrder}
    import org.apache.spark.sql.catalyst.plans.logical.{
      Aggregate, Sort}
    import org.apache.spark.sql.catalyst.analysis.UnresolvedHaving
    if (!refsDruidTable(plan)) return plan
    def groupingOf(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
        : Option[Seq[org.apache.spark.sql.catalyst.expressions.Expression]] =
      p match {
        case a: Aggregate
            if a.groupingExpressions.nonEmpty &&
              !a.groupingExpressions.exists(
                _.exists(_.isInstanceOf[BaseGroupingSets])) &&
              // DISTINCT parses as Aggregate(grouping == aggregate list);
              // appending its keys is harmless but noisy — skip
              a.groupingExpressions != a.aggregateExpressions =>
          Some(a.groupingExpressions)
        case h: UnresolvedHaving => groupingOf(h.child)
        case _ => None
      }
    import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit}
    plan.transformUp {
      case s @ Sort(order, true, child, _) if groupingOf(child).isDefined =>
        val ge = groupingOf(child).get
        val present = order.map(_.child)
        val extra = ge.filterNot(present.contains)
          .map(g => SortOrder(g, Ascending, NullsFirst, Seq.empty))
        if (extra.isEmpty) s else s.copy(order = order ++ extra)
      // LIMIT with NO ORDER BY over a grouped query returns the
      // dim-sorted head in the reference (the groupBy merge order —
      // CalciteQueryTest testGroupByWithForceLimitPushDown expects the
      // lexicographically first group); Spark's head is
      // partition-arbitrary, so insert the dimension sort
      case gl @ GlobalLimit(_, ll @ LocalLimit(_, child))
          if groupingOf(child).isDefined =>
        val ge = groupingOf(child).get
        gl.copy(child = ll.copy(child = Sort(
          ge.map(g => SortOrder(g, Ascending, NullsFirst, Seq.empty)),
          global = true, child)))
      // LIMIT … OFFSET … parses with an Offset node between the limits —
      // the dim-sorted head applies the same way
      // (CalciteQueryTest testTimeseriesWithLimitAndOffset)
      case off @ org.apache.spark.sql.catalyst.plans.logical.Offset(
            _, child) if groupingOf(child).isDefined =>
        val ge = groupingOf(child).get
        off.copy(child = Sort(
          ge.map(g => SortOrder(g, Ascending, NullsFirst, Seq.empty)),
          global = true, child))
    }
  }

  /** Druid's groupBy ORDER BY over a NUMERIC AGGREGATE output sorts NULL
    * as the LARGEST value — nulls LAST ascending, FIRST descending
    * (CalciteQueryTest testOrderByAnyLong grid) — the aggregator
    * comparators' convention, where Spark defaults to
    * nulls-first-ascending. STRING keys and plain dimensions keep the
    * lexicographic nulls-low order, and EARLIEST/LATEST sort by their
    * (time, value) pair where the null pair is LOWEST
    * (testOrderByEarliestLong) — so the flip targets only sort keys that
    * resolve to a numeric-aggregate call in the aggregate below.
    */
  private def druidNullCollation(
      spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan):
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    import org.apache.spark.sql.catalyst.analysis.{
      UnresolvedAlias, UnresolvedAttribute, UnresolvedFunction,
      UnresolvedHaving, UnresolvedOrdinal}
    import org.apache.spark.sql.catalyst.expressions.{
      Alias, Ascending, Descending, Expression, NamedExpression,
      NullsFirst, NullsLast, SortOrder}
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Sort}
    if (!refsDruidTable(plan)) return plan
    val numericAggs = Set("sum", "count", "min", "max", "avg", "any_value",
      "bit_and", "bit_or", "bit_xor", "approx_count_distinct", "count_if")
    def aggOf(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
        : Option[Aggregate] = p match {
      case a: Aggregate if a.groupingExpressions.nonEmpty => Some(a)
      case h: UnresolvedHaving => aggOf(h.child)
      case _ => None
    }
    def aggListOf(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
        : Option[Seq[NamedExpression]] = aggOf(p).map(_.aggregateExpressions)
    def isNumericAggCall(e: Expression): Boolean = e match {
      case f: UnresolvedFunction =>
        numericAggs(f.nameParts.last.toLowerCase)
      // the parser builds ANY_VALUE (wrapped in an AggregateExpression)
      // directly, without an UnresolvedFunction stage
      case ae: org.apache.spark.sql.catalyst.expressions.aggregate
          .AggregateExpression =>
        ae.aggregateFunction.isInstanceOf[
          org.apache.spark.sql.catalyst.expressions.aggregate.AnyValue]
      case _ => false
    }
    plan.transformUp {
      case s @ Sort(order, true, child, _) if aggListOf(child).isDefined =>
        val ae = aggListOf(child).get
        // a NUMERIC grouping DIMENSION also takes the nulls-high order
        // (testNullLongTopN: GROUP BY l1 ORDER BY l1 DESC lists the null
        // group first); resolve the aggregate's child once to learn types
        lazy val childTypes: Map[String, org.apache.spark.sql.types.DataType] =
          try {
            spark.sessionState.analyzer.execute(aggOf(child).get.child)
              .output.map(a => a.name.toLowerCase -> a.dataType).toMap
          } catch { case _: Exception => Map.empty }
        def numericCol(name: String): Boolean =
          childTypes.get(name.toLowerCase).exists(
            _.isInstanceOf[org.apache.spark.sql.types.NumericType])
        def targets(key: Expression): Boolean = key match {
          case o: UnresolvedOrdinal
              if o.ordinal >= 1 && o.ordinal <= ae.size =>
            ae(o.ordinal - 1) match {
              case Alias(c, _) => isNumericAggCall(c)
              case UnresolvedAlias(c, _) => isNumericAggCall(c)
              case other => isNumericAggCall(other)
            }
          case u: UnresolvedAttribute =>
            // the select-list alias is authoritative: a sort key naming an
            // alias of a NON-numeric aggregate (EARLIEST(dim1) AS l1) must
            // keep nulls-low even when a numeric child column shares the
            // name; only an alias-free key falls back to the child type
            val aliased = ae.collect {
              case Alias(c, n) if n.equalsIgnoreCase(u.nameParts.last) => c
            }
            if (aliased.nonEmpty) aliased.exists {
              case a: UnresolvedAttribute => numericCol(a.nameParts.last)
              case c => isNumericAggCall(c)
            }
            else numericCol(u.nameParts.last)
          case e => isNumericAggCall(e)
        }
        s.copy(order = order.map {
          case so @ SortOrder(k, Ascending, NullsFirst, _) if targets(k) =>
            so.copy(nullOrdering = NullsLast)
          case so @ SortOrder(k, Descending, NullsLast, _) if targets(k) =>
            so.copy(nullOrdering = NullsFirst)
          case so => so
        })
    }
  }

  /** Druid computes window functions over the GROUPING SETS output rows
    * (the null-filled subtotal grid IS the window input — qaWin
    * sql_group_by A2/A3 shapes), where Spark's window extraction rejects
    * any window argument that is only a grouping-sets column
    * (MISSING_AGGREGATION). Decouple: the grouping-sets aggregate keeps
    * one helper alias per distinct flat grouping expression, and the
    * select list — windows included — moves to a Project above it with
    * each grouping expression swapped for its helper attribute.
    */
  private def decoupleGroupingSetWindows(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan):
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Project}
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAlias, UnresolvedAttribute, UnresolvedHaving}
    def gsWindowAgg(agg: Aggregate): Boolean =
      agg.groupingExpressions.exists(
        _.exists(_.isInstanceOf[BaseGroupingSets])) &&
        agg.aggregateExpressions.exists(
          _.exists(_.isInstanceOf[WindowExpression]))
    // Per-aggregate rewriter: substitutes grouping expressions AND plain
    // (non-window) aggregate calls with helper attributes, accumulating
    // the helpers so the inner Aggregate computes everything — a COUNT(*)
    // or SUM(x) left in the outer Project would fail analysis, and the
    // reference computes them per group before the windows run anyway.
    final class GsSplit(agg: Aggregate) {
      private val flat: Seq[Expression] = agg.groupingExpressions.flatMap {
        case gs: BaseGroupingSets => gs.groupingSets.flatten
        case e => Seq(e)
      }.distinct
      // SQL identifiers are case-insensitive: a select-list spelling of
      // SERVER_IP must match GROUP BY GROUPING SETS(server_ip)
      private def canon(e: Expression): Expression = e.transformUp {
        case a: UnresolvedAttribute =>
          UnresolvedAttribute(a.nameParts.map(_.toLowerCase))
        case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction =>
          f.copy(nameParts = f.nameParts.map(_.toLowerCase))
      }
      private val flatCanon = flat.map(canon)
      private val helper = flat.indices.map(i => s"__gs_$i")
      // the SQL aggregate surface this engine registers; grouping/
      // grouping_id must also compute INSIDE the Aggregate (they read the
      // grouping-sets bitmask, which does not exist above it)
      private val aggNames = Set("count", "sum", "min", "max", "avg",
        "any_value", "earliest", "latest", "earliest_by", "latest_by",
        "array_agg", "array_concat_agg", "string_agg", "listagg",
        "bit_and", "bit_or", "bit_xor", "grouping", "grouping_id",
        "approx_count_distinct", "stddev", "stddev_pop", "stddev_samp",
        "var_pop", "var_samp", "variance", "collect_list", "collect_set",
        "bool_and", "bool_or", "count_if", "mode", "median", "percentile",
        "percentile_cont", "approx_quantile_ds", "ds_hll", "ds_theta")
      private val hoisted =
        scala.collection.mutable.LinkedHashMap[Expression, (Expression, String)]()
      private def isAggCall(e: Expression): Boolean = e match {
        case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction =>
          aggNames(f.nameParts.last.toLowerCase)
        case _ => false
      }
      def subst(e: Expression): Expression = {
        val i = flatCanon.indexOf(canon(e))
        if (i >= 0) UnresolvedAttribute(helper(i))
        else e match {
          case we: WindowExpression =>
            // the window FUNCTION itself runs over the grouped grid —
            // only its arguments and the spec may carry group aggregates
            // (SUM(COUNT(*)) OVER (): the COUNT hoists, the SUM stays)
            WindowExpression(we.windowFunction.mapChildren(subst),
              we.windowSpec.mapChildren(subst)
                .asInstanceOf[WindowSpecDefinition])
          case f if isAggCall(f) =>
            val (_, h) = hoisted.getOrElseUpdate(canon(f),
              (f, s"__gsagg_${hoisted.size}"))
            UnresolvedAttribute(h)
          case other => other.mapChildren(subst)
        }
      }
      def outList: Seq[NamedExpression] = agg.aggregateExpressions.map {
        case Alias(c, name) => Alias(subst(c), name)()
        case UnresolvedAlias(att: UnresolvedAttribute, _) =>
          Alias(subst(att), att.nameParts.last)()
        // a bare column select item parses as the attribute itself —
        // substitution must not rename the output to the helper
        case att: UnresolvedAttribute =>
          Alias(subst(att), att.nameParts.last)()
        case UnresolvedAlias(c, f) => UnresolvedAlias(subst(c), f)
        case other => subst(other).asInstanceOf[NamedExpression]
      }
      // build AFTER all subst calls so every hoisted aggregate is known
      def inner: Aggregate = agg.copy(aggregateExpressions =
        flat.zip(helper).map { case (g, h) => Alias(g, h)() } ++
          hoisted.values.map { case (f, h) => Alias(f, h)() })
    }
    // top-down: HAVING + aggregate rewrite as ONE unit (the reference
    // filters the grouped rows BEFORE the windows run — sql_group_by
    // A2_Q3/Q4 expect FIRST/LAST/cnt computed over the HAVING survivors);
    // the replacement's inner aggregate no longer matches either case
    plan.transformDown {
      case UnresolvedHaving(cond, agg: Aggregate) if gsWindowAgg(agg) =>
        val sp = new GsSplit(agg)
        val substCond = sp.subst(cond)
        val out = sp.outList
        Project(out, Filter(substCond, sp.inner))
      case agg: Aggregate if gsWindowAgg(agg) =>
        val sp = new GsSplit(agg)
        val out = sp.outList
        Project(out, sp.inner)
    }
  }

  /** Druid's parse_json produces COMPLEX<json>, which groups, DISTINCTs
    * and compares BY VALUE (funcs_and_sql_func_parse_json A043-A046);
    * Spark's VARIANT does none of those. Route the variant through its
    * canonical JSON text at those use sites — to_json_string over a
    * variant serializes with SORTED object keys (the variant encoding),
    * so text equality IS value equality. Covered shapes: a grouping
    * expression that is (or aliases, via the child projection) a
    * parse_json/try_parse_json call; SELECT DISTINCT over such a
    * projection; equality with such a call on either side.
    */
  private def variantKeyDialect(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan):
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Distinct, Project}
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAlias, UnresolvedAttribute, UnresolvedFunction}
    def isVariantCall(e: Expression): Boolean = e match {
      case f: UnresolvedFunction =>
        Set("parse_json", "try_parse_json")(f.nameParts.last.toLowerCase)
      case _ => false
    }
    def textOf(e: Expression): Expression =
      UnresolvedFunction(Seq("to_json_string"), Seq(e), isDistinct = false)
    def wrapProject(p: Project, names: Set[String]): Project =
      p.copy(projectList = p.projectList.map {
        case Alias(c, n) if names.contains(n.toLowerCase) &&
            isVariantCall(c) => Alias(textOf(c), n)()
        case UnresolvedAlias(c, f) if names.isEmpty && isVariantCall(c) =>
          UnresolvedAlias(textOf(c), f)
        case Alias(c, n) if names.isEmpty && isVariantCall(c) =>
          Alias(textOf(c), n)()
        case other => other
      })
    val eqFixed = plan.transformAllExpressions {
      case EqualTo(l, r) if isVariantCall(l) || isVariantCall(r) =>
        EqualTo(if (isVariantCall(l)) textOf(l) else l,
          if (isVariantCall(r)) textOf(r) else r)
      case EqualNullSafe(l, r) if isVariantCall(l) || isVariantCall(r) =>
        EqualNullSafe(if (isVariantCall(l)) textOf(l) else l,
          if (isVariantCall(r)) textOf(r) else r)
      // subquery expressions carry their own plan — recurse so a variant
      // equality/grouping inside a scalar subquery is rewritten too
      case s: SubqueryExpression => s.withNewPlan(variantKeyDialect(s.plan))
    }
    eqFixed.transformUp {
      case Distinct(p: Project)
          if p.projectList.exists {
            case Alias(c, _) => isVariantCall(c)
            case UnresolvedAlias(c, _) => isVariantCall(c)
            case _ => false
          } =>
        Distinct(wrapProject(p, Set.empty))
      case agg: Aggregate =>
        val groupedNames = agg.groupingExpressions.collect {
          case a: UnresolvedAttribute if a.nameParts.size == 1 =>
            a.nameParts.head.toLowerCase
        }.toSet
        val g2 = agg.copy(groupingExpressions =
          agg.groupingExpressions.map(e =>
            if (isVariantCall(e)) textOf(e) else e),
          aggregateExpressions = agg.aggregateExpressions.map {
            case Alias(c, n) if isVariantCall(c) &&
                (agg.groupingExpressions.contains(c) ||
                  groupedNames.contains(n.toLowerCase)) =>
              // GROUP BY <alias> resolves by alias substitution, so the
              // variant alias in the SAME select list is the key
              Alias(textOf(c), n)()
            case other => other
          })
        // the aliased projection usually sits under a SubqueryAlias
        // (SELECT … FROM (SELECT parse_json(…) mycol FROM t) GROUP BY mycol)
        def rewriteChild(
            n: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan):
            org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
          n match {
            case p: Project => wrapProject(p, groupedNames)
            case sa: org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias =>
              sa.copy(child = rewriteChild(sa.child))
            case other => other
          }
        if (groupedNames.isEmpty) g2
        else g2.copy(child = rewriteChild(g2.child))
    }
  }

  /** Calcite's star expansion over a join UNIQUIFIES duplicate column
    * names — the second `a_bool` becomes `a_bool0`, the third `a_bool1`
    * (SqlValidatorUtil.uniquify), so `SELECT a_bool FROM (SELECT * FROM t
    * t1 CROSS JOIN t t2)` resolves to t1's column where Spark throws
    * AMBIGUOUS_REFERENCE (qaArray sql_join A7 grids; the UNNEST alias
    * colliding with a table column rides the same rename). The child
    * subtree is analyzed on its own to learn the output names; plans the
    * sub-analysis cannot resolve (correlations) pass through untouched.
    */
  private def dedupStarOverJoin(
      spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan):
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, NamedExpression}
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LateralJoin, Project, UnresolvedWith}
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedStar}
    // gate preludes define the fixtures as CTEs — a bare subtree can't
    // resolve them, so the throwaway schema-discovery analysis wraps the
    // join in the plan's own CTE definitions
    val ctes = plan.collect {
      case w: UnresolvedWith => w.cteRelations
    }.flatten
    plan.transformUp {
      case p @ Project(list, child)
          if list.exists {
            case s: UnresolvedStar => s.target.isEmpty
            case _ => false
          } && (child.isInstanceOf[Join] || child.isInstanceOf[LateralJoin]) =>
        try {
          val probe =
            if (ctes.isEmpty) child
            else UnresolvedWith(child, ctes, allowRecursion = false)
          // analyzed ONLY for the output schema + qualifiers; the rewritten
          // Project keeps the ORIGINAL child and re-references columns
          // qualified, so no resolved subtree is spliced into the plan
          val out = spark.sessionState.analyzer.execute(probe).output
          val lower = out.map(_.name.toLowerCase)
          if (lower.distinct.size == lower.size) p
          else {
            val seen = scala.collection.mutable.Map.empty[String, Int]
            val expanded: Seq[NamedExpression] = out.map { a =>
              val ref = UnresolvedAttribute(a.qualifier :+ a.name)
              val k = a.name.toLowerCase
              val n = seen.getOrElse(k, 0)
              seen(k) = n + 1
              if (n == 0) ref else Alias(ref, a.name + (n - 1))()
            }
            Project(list.flatMap {
              case s: UnresolvedStar if s.target.isEmpty => expanded
              case e => Seq(e)
            }, child)
          }
        } catch { case _: Exception => p }
    }
  }

  private def sortWindowSql(spark: SparkSession,
                            sqlText: String): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.{Project, Sort}
    import org.apache.spark.sql.catalyst.expressions.{Alias, NamedExpression, WindowExpression}
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedStar}
    val parsed0 =
      try spark.sessionState.sqlParser.parsePlan(sqlText)
      catch { case _: Exception => return spark.sql(sqlText) } // multi-statement etc.
    // Calcite division dialect: `/` on two integral operands is INTEGER
    // division in the reference (array_sql_ops A1_B4: c/s_int -> 0/1).
    // Swapped pre-analysis — the RuntimeReplaceable picks the arithmetic
    // once types resolve; DataFrame-API plans keep Spark's operator.
    def dialectCore(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
        : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
      dropUnlimitedSubquerySorts(
      decoupleGroupingSetWindows(appendGroupTieBreakers(druidNullCollation(spark,
        maybeVariantKeyDialect(rewriteWindowDialect(p.transformAllExpressions {
        case org.apache.spark.sql.catalyst.expressions.Divide(l, r, _) =>
          graft.functions.CalciteDiv(l, r)
        // Druid timestamps are epoch-millis LONGs — CAST(ts AS BIGINT)
        // yields millis, not Spark's seconds; the replacement falls back
        // to the plain cast for every non-timestamp input
        case org.apache.spark.sql.catalyst.expressions.Cast(
            child, org.apache.spark.sql.types.LongType, _, mode) =>
          graft.functions.DruidLongCast(child, mode)
        // …and CAST(x AS INTEGER/SMALLINT) takes the same lenient
        // string-through-double parse (Druid INTEGER IS LONG)
        case org.apache.spark.sql.catalyst.expressions.Cast(child, t, _, mode)
            if t == org.apache.spark.sql.types.IntegerType ||
              t == org.apache.spark.sql.types.ShortType =>
          graft.functions.DruidLongCast(child, mode, t)
        // Calcite equality dialect: a NUMERIC literal against a column
        // coerces toward the COLUMN's type — over a VARCHAR column the
        // literal becomes its string form ('my_null' = 999 is FALSE, so
        // `AND NOT c=999` KEEPS non-numeric rows — qaUnnest
        // mv_sql_subquery_with_where A1_B8_C9), where Spark's
        // PromoteStrings casts the COLUMN to the numeric type and
        // three-valued NULL drops them. CompatCompare resolves the
        // direction once types are known (string side wins via string
        // promotion; numeric pairs widen exactly like Spark would).
        case org.apache.spark.sql.catalyst.expressions.EqualTo(l, r)
            if isAttrVsNumericLit(l, r) =>
          graft.functions.CompatCompare(l, r, "=")
        case org.apache.spark.sql.catalyst.expressions.EqualNullSafe(l, r)
            if isAttrVsNumericLit(l, r) =>
          graft.functions.CompatCompare(l, r, "<=>")
        // a multi-value expression under IN takes Druid's MVD-filter
        // semantics — the row matches when ANY element is in the list
        // (qaUnnest mv_sql_mv_funcs A1_B1_C1: mv_filter_only(...) IN
        // ('', '1', …)); spelled as the IN-like three-valued MV_OVERLAP
        case org.apache.spark.sql.catalyst.expressions.In(
            f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction,
            list)
            if Set("mv_filter_only", "mv_filter_none")(
              f.nameParts.last.toLowerCase) &&
              list.nonEmpty && list.forall(
                _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Literal]) =>
          org.apache.spark.sql.catalyst.analysis.UnresolvedFunction(
            Seq("mv_overlap"), Seq(f,
              org.apache.spark.sql.catalyst.expressions.CreateArray(list)),
            isDistinct = false)
        // ARRAY[…] member dialect (both the raw CreateArray node and the
        // array(…) spelling the bracket rewrite emits):
        //  - boolean LITERALS are LONG 1/0 in the reference's expression
        //    layer (ARRAY[true,false,null] → [1,0,null] —
        //    testBooleanConstExprArray)
        //  - a column member reads as its MVD SCALAR when the column is a
        //    tagged multi-value dim (ARRAY[dim2] is the 1-element array of
        //    dim2's scalar read — testArrayOverlapFilterNonLiteral);
        //    MvScalarRead passes scalars and untagged arrays through
        case ca: org.apache.spark.sql.catalyst.expressions.CreateArray
            if ca.children.exists(arrayMemberDialect) =>
          ca.copy(children = ca.children.map(arrayMemberRewrite))
        case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
            if f.nameParts.last.equalsIgnoreCase("array") &&
              f.filter.isEmpty && !f.isDistinct &&
              f.arguments.exists(arrayMemberDialect) =>
          f.copy(arguments = f.arguments.map(arrayMemberRewrite))
        // LIKE … ESCAPE 'x': Calcite accepts the escape char before ANY
        // character (escape + ordinary char = that char), Spark rejects
        // non-wildcard escapes (ESC_IN_THE_MIDDLE for '%xb%' ESCAPE 'x').
        // Normalize the literal pattern to the standard backslash escape.
        case l: org.apache.spark.sql.catalyst.expressions.Like
            if l.escapeChar != '\\' && (l.right match {
              case org.apache.spark.sql.catalyst.expressions.Literal(
                s, StringType) => s != null
              case _ => false
            }) =>
          val pat = l.right.asInstanceOf[
            org.apache.spark.sql.catalyst.expressions.Literal]
            .value.toString
          val esc = l.escapeChar
          val out = new StringBuilder
          var k = 0
          while (k < pat.length) {
            val c = pat.charAt(k)
            if (c == esc && k + 1 < pat.length) {
              val nx = pat.charAt(k + 1)
              if (nx == '%' || nx == '_' || nx == '\\') out.append('\\')
              out.append(nx); k += 2
            } else if (c == '\\') { out.append("\\\\"); k += 1 }
            else { out.append(c); k += 1 }
          }
          org.apache.spark.sql.catalyst.expressions.Like(l.left,
            org.apache.spark.sql.catalyst.expressions.Literal(out.toString),
            '\\')
        // FILTER (WHERE cond) over a facade-BUILT aggregate: the builders
        // return wrapped expressions (AggregateExpression / TRY-cast / If
        // shells) that Spark's FILTER resolution rejects. These aggregates
        // all skip NULL inputs, so the filter folds into a CASE-wrapped
        // value argument — rows failing the condition contribute nothing
        // and an all-filtered group is NULL, exactly the FILTER contract.
        // (Edge: a matching row whose value IS NULL is indistinguishable
        // from a filtered one — the reference's first/last would keep its
        // timestamp; accepted, same class as the null-skip conventions.)
        case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
            if f.filter.isDefined && f.arguments.nonEmpty && Set(
              "any_value", "earliest", "latest", "earliest_by", "latest_by",
              "bit_and", "bit_or", "bit_xor", "string_agg_sorted",
              "array_concat_agg", "array_concat_agg_distinct",
              "approx_count_distinct")(
              f.nameParts.last.toLowerCase) =>
          f.copy(
            arguments = f.arguments.updated(0,
              org.apache.spark.sql.catalyst.expressions.CaseWhen(
                Seq((f.filter.get, f.arguments.head)), None)),
            filter = None,
            // DISTINCT is a no-op on a distinct-counting aggregate, and
            // Spark rejects it on the facade's temp function
            // (APPROX_COUNT_DISTINCT(DISTINCT dim1) —
            // testGroupByAggregatorDefaultValues)
            isDistinct = f.isDistinct &&
              !f.nameParts.last.equalsIgnoreCase("approx_count_distinct"))
        case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
            if f.isDistinct &&
              f.nameParts.last.equalsIgnoreCase("approx_count_distinct") =>
          f.copy(isDistinct = false)
        // Calcite's GROUPING takes any number of arguments IN ANY ORDER
        // and returns the bitmask — Spark's grouping_id() demands the
        // exact GROUP BY column order (GROUPING_ID_COLUMN_MISMATCH for
        // GROUPING(gran, dim2) over GROUP BY dim2, gran), so build the
        // bitmask from single-column grouping() calls
        case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
            if f.nameParts.last.equalsIgnoreCase("grouping") &&
              f.arguments.size > 1 => {
          import org.apache.spark.sql.catalyst.expressions.{Add, Cast, Literal, Multiply}
          val n = f.arguments.size
          f.arguments.zipWithIndex.map { case (a, i) =>
            val g: org.apache.spark.sql.catalyst.expressions.Expression =
              Cast(org.apache.spark.sql.catalyst.analysis.UnresolvedFunction(
                Seq("grouping"), Seq(a), isDistinct = false),
                org.apache.spark.sql.types.LongType)
            if (i == n - 1) g
            else Multiply(g, Literal(1L << (n - 1 - i)))
          }.reduceLeft[org.apache.spark.sql.catalyst.expressions.Expression](
            Add(_, _))
        }
        // expression dialect must reach subquery plans too — an IN
        // subquery spelling CAST(… AS BIGINT) on both sides would
        // otherwise get millis outside and seconds inside
        case s: org.apache.spark.sql.catalyst.expressions.SubqueryExpression =>
          s.withNewPlan(dialectCore(s.plan))
      }))))))
    // the variant-key walk touches every Aggregate — skip it unless the
    // text can possibly produce a VARIANT (measured at ~10ms/query on the
    // bench board otherwise)
    def maybeVariantKeyDialect(
        p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan):
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
      if (sqlText.toLowerCase.contains("parse_json")) variantKeyDialect(p)
      else p
    // CTE bodies are INNER children of UnresolvedWith — plan.transform
    // never descends into them, so apply the dialect pipeline to each
    // body explicitly (WITH t1 AS (… WHERE a_int=a_str) … was reaching
    // analysis untransformed)
    val parsed = mvdGroupByExplode(spark, mvdUnionAlign(spark,
      mvdElementwiseWrap(
      dialectCore(parsed0.transformUp {
      case w: org.apache.spark.sql.catalyst.plans.logical.UnresolvedWith =>
        w.copy(cteRelations = w.cteRelations.map { t =>
          t.copy(_2 = dialectCore(t._2).asInstanceOf[
            org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias])
        })
    }))))
    def sortHasWindow(s: Sort): Boolean =
      s.order.exists(_.exists(_.isInstanceOf[WindowExpression]))
    if (!parsed.exists { case s: Sort => sortHasWindow(s); case _ => false })
      return ofRowsCompat(spark, parsed)
    val helpers = scala.collection.mutable.ArrayBuffer.empty[String]
    val rewritten = parsed.transformUp {
      case s: Sort if sortHasWindow(s) =>
        val aliases = scala.collection.mutable.ArrayBuffer.empty[NamedExpression]
        val newOrder = s.order.map { so =>
          so.child match {
            case w: WindowExpression =>
              val name = s"__sort_window_${helpers.size}"
              helpers += name
              aliases += Alias(w, name)()
              so.copy(child = UnresolvedAttribute(name))
            case _ => so
          }
        }
        s.child match {
          // the common SELECT shape: splice the helper aliases into the
          // select list itself, so the window's references resolve against
          // the FROM scope exactly like the projected expressions do
          case Project(projectList, grandChild) =>
            Sort(newOrder, s.global,
              Project(projectList ++ aliases, grandChild))
          // anything else (set ops, aggregates …): project the child's
          // full output plus the helpers
          case other =>
            Sort(newOrder, s.global,
              Project(Seq(UnresolvedStar(None)) ++ aliases, other))
        }
    }
    val df = ofRowsCompat(spark, rewritten)
    helpers.foldLeft(df)(_.drop(_))
  }

  /** One side a bare column reference, the other a numeric literal —
    * the shape where Calcite's equality coercion direction (literal toward
    * column) differs from Spark's (column toward literal).
    */
  private def isAttrVsNumericLit(
      l: org.apache.spark.sql.catalyst.expressions.Expression,
      r: org.apache.spark.sql.catalyst.expressions.Expression): Boolean = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.NumericType
    def numLit(e: org.apache.spark.sql.catalyst.expressions.Expression) =
      e match {
        case Literal(_, _: NumericType) => true
        case _ => false
      }
    (l.isInstanceOf[UnresolvedAttribute] && numLit(r)) ||
      (r.isInstanceOf[UnresolvedAttribute] && numLit(l))
  }

  /** Analysis with the Calcite cross-type-array-comparison fallback: when
    * Spark's comparison coercion finds no common type for two columns
    * (BINARY_OP_DIFF_TYPES — e.g. `WHERE a_int = a_str` over BIGINT[] vs
    * VARCHAR[], which the reference coerces to the VARCHAR array space),
    * retry ONCE with attribute-vs-attribute comparisons swapped to
    * [[graft.functions.CompatCompare]]. Queries that analyze cleanly never
    * take the retry, so standard Spark coercion is untouched for them.
    */
  /** ARRAY[…] member dialect helpers — see the dialectCore cases. */
  private def arrayMemberDialect(
      e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean =
    e match {
      case org.apache.spark.sql.catalyst.expressions.Literal(
        _, org.apache.spark.sql.types.BooleanType) => true
      case x => x.exists {
        case _: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          true
        case _: org.apache.spark.sql.catalyst.expressions.OuterReference =>
          true
        case _ => false
      }
    }

  private def arrayMemberRewrite(
      e: org.apache.spark.sql.catalyst.expressions.Expression):
      org.apache.spark.sql.catalyst.expressions.Expression = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(
        b: Boolean, org.apache.spark.sql.types.BooleanType) =>
      org.apache.spark.sql.catalyst.expressions.Literal(if (b) 1L else 0L)
    case x if arrayMemberDialect(x) => graft.functions.MvScalarRead(x)
    case other => other
  }

  private def ofRowsCompat(
      spark: SparkSession,
      plan0: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame = {
    // the distinct-sorted ARRAY_AGG/STRING_AGG flip must see the
    // AggregateExpression BEFORE RewriteDistinctAggregates decomposes
    // multi-distinct queries into Expand (extraOptimizations run after
    // it, so the optimizer-rule injection alone misses the multi-distinct
    // shape — CalciteQueryTest testArrayAgg); flip on the analyzed plan
    // here, where isDistinct is still intact
    // executeAndCheck, NOT execute: a failing plan must stay UNRESOLVED so
    // the retry branches below can rewrite its Unresolved* nodes — execute
    // alone would hand them a half-resolved tree they can't match. Runs
    // under withActive so analysis reads THIS session's SQLConf (the
    // cloned session's scoped sqlTimeZone would otherwise be lost).
    val plan =
      try org.apache.spark.sql.graftbridge.Bridge.withActive(spark) {
        graft.plans.SortDistinctArrayAgg(
          spark.sessionState.analyzer.executeAndCheck(plan0,
            new org.apache.spark.sql.catalyst.QueryPlanningTracker()))
      }
      catch { case _: Exception => plan0 }
    try org.apache.spark.sql.graftbridge.Bridge.ofRows(spark, plan)
    catch {
      // the reference accepts rank/lag/ntile over an UNORDERED window
      // (the partition's scan order is the order — CalciteWindowQueryTest
      // lead_lag.sqlTest / windowInsideSubquery.sqlTest); Spark demands an
      // ORDER BY, so inject the input order as a monotonic id
      case e: org.apache.spark.sql.AnalysisException
          if Option(e.getMessage).exists(
            _.contains("requires window to be ordered")) =>
        import org.apache.spark.sql.catalyst.expressions.{
          Ascending, Attribute, MonotonicallyIncreasingID, NullsFirst,
          SortOrder, WindowSpecDefinition}
        import org.apache.spark.sql.catalyst.plans.logical.Aggregate
        // the reference's unordered window rides its INPUT order; a
        // groupBy-fed window's input arrives SORTED BY THE GROUPING
        // DIMENSIONS (lead_lag.sqlTest: LAG(dim1) OVER () with GROUP BY
        // dim1 laps the groups in dim order, not hash order) — use the
        // group keys when the plan is a single grouped aggregate, the
        // scan order id otherwise
        val groupOrder: Seq[SortOrder] = plan.collect {
          case a: Aggregate if a.groupingExpressions.nonEmpty => a
        } match {
          case Seq(a) if a.groupingExpressions.forall(
              _.isInstanceOf[Attribute]) =>
            a.groupingExpressions.map(g =>
              SortOrder(g, Ascending, NullsFirst, Seq.empty))
          case _ => Seq(SortOrder(
            MonotonicallyIncreasingID(), Ascending))
        }
        val retried = plan.transformAllExpressions {
          case w: WindowSpecDefinition if w.orderSpec.isEmpty =>
            w.copy(orderSpec = groupOrder)
        }
        if (retried eq plan) throw e
        else org.apache.spark.sql.graftbridge.Bridge.ofRows(spark, retried)
      // Calcite's star-expansion uniquify only matters when a duplicate
      // name is actually referenced — running the schema probe on every
      // star-over-join cost ~0.3s/query, so it lives on the failure path
      case e: org.apache.spark.sql.AnalysisException
          if Option(e.getMessage).exists(m =>
            m.contains("AMBIGUOUS_REFERENCE") ||
              m.contains("UNRESOLVED_COLUMN")) =>
        val retried = dedupStarOverJoin(spark, plan)
        if (retried eq plan) throw e
        else org.apache.spark.sql.graftbridge.Bridge.ofRows(spark, retried)
      case e: Exception
          if (e.isInstanceOf[org.apache.spark.sql.AnalysisException] ||
            // TypeCoercion throws COMPLEX_EXPRESSION_UNSUPPORTED_INPUT as
            // a SparkIllegalArgumentException (COALESCE over an MVD +
            // scalar); a RuntimeReplaceable whose replacement can't
            // resolve (ARRAY_PREPEND over ARRAY[mvd]) surfaces as an
            // INTERNAL_ERROR SparkException — same MV-dialect retry
            e.getClass.getSimpleName == "SparkIllegalArgumentException" ||
            e.isInstanceOf[org.apache.spark.SparkException]) &&
            Option(e.getMessage).exists(m =>
            m.contains("BINARY_OP_DIFF_TYPES") ||
              m.contains("DATA_DIFF_TYPES") ||
              m.contains("UNEXPECTED_INPUT_TYPE") ||
              m.contains("COMPLEX_EXPRESSION_UNSUPPORTED_INPUT") ||
              m.contains("The replacement is unresolved") ||
              m.contains("UNSUPPORTED_EXPR_FOR_WINDOW") ||
              m.contains("IN_SUBQUERY_DATA_TYPE_MISMATCH")) =>
        import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
        import org.apache.spark.sql.catalyst.expressions._
        def tag(c: BinaryComparison): String = c match {
          case _: EqualNullSafe => "<=>"
          case _: LessThan => "<"
          case _: LessThanOrEqual => "<="
          case _: GreaterThan => ">"
          case _: GreaterThanOrEqual => ">="
          case _ => "="
        }
        def attrish(x: Expression): Boolean = x.isInstanceOf[UnresolvedAttribute]
        val elementwiseNames =
          Set("coalesce", "nvl", "concat", "textcat", "upper", "lower",
            "nullif")
        def mvFnCall(x: Expression): Boolean = x match {
          case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction =>
            val n = f.nameParts.last.toLowerCase
            elementwiseNames(n) || n.startsWith("mv_") ||
              n == "string_to_mv" ||
              // LOOKUP over an MV key maps per element (LookupApply) —
              // a comparison/IN against its result needs the MV dialect
              // (CalciteLookupFunctionQueryTest testFilterLookupOfConcat)
              n == "lookup"
          // `||` parses to a raw Concat node (no UnresolvedFunction stage)
          case c: Concat => c.children.exists(mvFnCall) ||
            c.children.exists(attrish)
          // CASE WHEN … THEN dim2 END = 'abc' — an MVD-valued branch makes
          // the whole CASE an MV expression (testDecomposeCaseWhenTwoArg)
          case cw: CaseWhen =>
            cw.branches.exists(b => attrish(b._2) || mvFnCall(b._2)) ||
              cw.elseValue.exists(e => attrish(e) || mvFnCall(e))
          case m: graft.functions.MvElementwise => true
          case _ => false
        }
        // the IN-subquery's standalone analysis must see the outer WITH's
        // CTE definitions (gate SQL defines its fixture tables as CTEs)
        val cteDefs = plan.collect {
          case w: org.apache.spark.sql.catalyst.plans.logical.UnresolvedWith =>
            w.cteRelations
        }.flatten
        def analyzeWithCtes(
            p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
          spark.sessionState.analyzer.execute(
            if (cteDefs.isEmpty) p
            else org.apache.spark.sql.catalyst.plans.logical
              .UnresolvedWith(p, cteDefs))
        def swap(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
            : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
          p.transformAllExpressions {
            case c: BinaryComparison
                if attrish(c.left) || attrish(c.right) ||
                  mvFnCall(c.left) || mvFnCall(c.right) =>
              graft.functions.CompatCompare(c.left, c.right, tag(c))
            // scalar STRING functions over an MV operand map per element
            // in the reference's expression layer (CONCAT(dim3,'foo'),
            // COALESCE(dim2, dim1)); the node dispatches on resolved
            // types and rebuilds the plain call when no MV is involved
            case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
                if elementwiseNames(f.nameParts.last.toLowerCase) &&
                  f.arguments.nonEmpty && f.filter.isEmpty && !f.isDistinct =>
              graft.functions.MvElementwise(
                f.nameParts.last.toLowerCase, f.arguments)
            // `a || b || c` parses to raw Concat nodes — route them
            // through the same elementwise MV map as the CONCAT() spelling
            // (CalciteQueryTest testConcatDoubleBarsDecompose)
            case c: Concat
                if c.children.exists(x => attrish(x) || mvFnCall(x)) =>
              graft.functions.MvElementwise("concat", c.children)
            // MVD LIKE matches ANY element (the MVD selector); the wrap
            // dispatches on the RESOLVED type, so any left operand is
            // safe — scalar or untagged input keeps the plain LIKE
            // (MV_FILTER_PREFIX(dim3,'b') LIKE 'b%' —
            // CalciteMultiValueStringQueryTest testMultiValuePrefixFilterLike)
            case l: Like if !l.left.isInstanceOf[Literal] =>
              graft.functions.MvLikeAny(l.left, l.right, l.escapeChar)
            // REGEXP_LIKE over an MVD: any-element match
            // (testStringOperationsNullableInference)
            case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
                if f.nameParts.last.equalsIgnoreCase("regexp_like") &&
                  f.arguments.size == 2 =>
              graft.functions.MvRLikeAny(f.arguments(0), f.arguments(1))
            // ARRAY_CONCAT_AGG as a WINDOW function: the batch builder's
            // null-for-empty-group If shell isn't window-able — use the
            // bare collect with the flatten OUTSIDE the window
            // (CalciteWindowQueryTest arrayConcatAgg.sqlTest)
            case we: WindowExpression =>
              we.windowFunction match {
                case f: org.apache.spark.sql.catalyst.analysis
                    .UnresolvedFunction
                    if f.nameParts.last.equalsIgnoreCase("array_concat_agg") =>
                  // drop the optional maxBytes arg — collect_list is unary
                  Flatten(we.copy(windowFunction =
                    f.copy(nameParts = Seq("collect_list"),
                      arguments = f.arguments.take(1))))
                case _ => we
              }
            // the parser builds NULLIF directly (no UnresolvedFunction
            // stage) — route it through the elementwise MV map too
            case n: NullIf =>
              graft.functions.MvElementwise("nullif", Seq(n.left, n.right))
            // IS [NOT] NULL over an MV expression matches when the row is
            // null or ANY element is (Druid's null selector —
            // testNullEmptyStringEquality); scalar inputs keep plain IsNull
            case IsNull(e) if mvFnCall(e) || e.isInstanceOf[NullIf] =>
              graft.functions.MvIsNull(e)
            case IsNotNull(e) if mvFnCall(e) || e.isInstanceOf[NullIf] =>
              Not(graft.functions.MvIsNull(e))
            // ARRAY[dim2, dim4] with an MVD member: the scalar slot reads
            // the MV's scalar value (1-element unwrap, else NULL) —
            // MvScalarRead passes untagged members through. Matches the
            // raw CreateArray node AND the array(…) function spelling the
            // bracket rewrite produces; correlated members sit behind
            // OuterReference leaves, hence the tree scan.
            case ca: CreateArray
                if ca.children.exists(x => mvFnCall(x) || x.exists {
                  case _: UnresolvedAttribute => true
                  case _: OuterReference => true
                  case _ => false
                }) =>
              ca.copy(children =
                ca.children.map(graft.functions.MvScalarRead(_)))
            case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
                if f.nameParts.last.equalsIgnoreCase("array") &&
                  f.filter.isEmpty && !f.isDistinct &&
                  f.arguments.exists(x => mvFnCall(x) || x.exists {
                    case _: UnresolvedAttribute => true
                    case _: OuterReference => true
                    case _ => false
                  }) =>
              f.copy(arguments =
                f.arguments.map(graft.functions.MvScalarRead(_)))
            // a CASE mixing scalar and MVD branch VALUES reads as
            // MV-valued (the scalar branch is the 1-element MV) —
            // MvCaseAlign dispatches on the resolved branch types
            // (testGroupingAggregatorWithPostAggregator: THEN 'ALL' ELSE
            // dim2)
            case cw: CaseWhen
                if (cw.branches.map(_._2) ++ cw.elseValue).exists(v =>
                  attrish(v) || mvFnCall(v)) =>
              graft.functions.MvCaseAlign(cw.branches.map(_._1),
                cw.branches.map(_._2), cw.elseValue)
            // IN over an MV-producing call = MVD filter (any element in
            // the list) — mirror of the dialectCore mv_filter_* rule.
            // The MV-vs-scalar decision is deferred to resolution
            // (MvInDispatch): a purely scalar probe like UPPER(x) IN
            // ('A','B') keeps three-valued IN semantics
            case In(f, list)
                if mvFnCall(f) && list.nonEmpty &&
                  list.forall(_.isInstanceOf[Literal]) =>
              graft.functions.MvInDispatch(f, list)
            // Druid's MVD IN: any element in the value list — OR of the
            // per-element-compatible equalities (CalciteJoinQueryTest
            // `dim2 IN ('a','b')` over the MV dim2)
            case In(a, list)
                if attrish(a) && list.nonEmpty &&
                  list.forall(_.isInstanceOf[Literal]) =>
              list.map(l => graft.functions.CompatCompare(a, l, "=")
                : Expression).reduceLeft(Or(_, _))
            // tuple IN over an MV member: pairwise compatible equalities
            case In(s: CreateNamedStruct, list)
                if list.forall(_.isInstanceOf[CreateNamedStruct]) =>
              list.map { case t: CreateNamedStruct =>
                s.valExprs.zip(t.valExprs).map { case (l, r) =>
                  graft.functions.CompatCompare(l, r, "="): Expression
                }.reduceLeft(And(_, _))
              }.reduceLeft(Or(_, _))
            // Mismatched IN-subquery (gated on the IN-specific error so
            // well-typed IN subqueries elsewhere in the plan keep Spark's
            // semi-join planning): collect the value set once as
            // struct(vals, hasnull); GraftInCollected dispatches on the
            // resolved probe type — MVD overlap for an ARRAY probe,
            // three-valued IN for a scalar probe (NOT IN over a
            // null-containing subquery must stay NULL, not FALSE)
            case InSubquery(vals, l: ListQuery)
                if vals.size == 1 && Option(e.getMessage).exists(
                  _.contains("IN_SUBQUERY_DATA_TYPE_MISMATCH")) =>
              try {
                val analyzed = analyzeWithCtes(l.plan)
                val attr = analyzed.output.head
                val agg = org.apache.spark.sql.catalyst.plans.logical
                  .Aggregate(Nil, Seq(Alias(CreateNamedStruct(Seq(
                    Literal("vals"),
                    org.apache.spark.sql.catalyst.analysis.UnresolvedFunction(
                      Seq("collect_list"), Seq(attr), isDistinct = false),
                    Literal("hasnull"),
                    org.apache.spark.sql.catalyst.analysis.UnresolvedFunction(
                      Seq("max"), Seq(IsNull(attr)), isDistinct = false))),
                    "__in_coll")()), analyzed)
                graft.functions.GraftInCollected(vals.head, ScalarSubquery(agg))
              } catch {
                case _: Exception => InSubquery(vals, l)
              }
            // the failing comparison can live inside an IN/EXISTS/scalar
            // subquery plan — recurse
            case sub: SubqueryExpression => sub.withNewPlan(swap(sub.plan))
          }
        // CTE bodies are inner children — swap inside them too
        val retried = swap(plan.transformUp {
          case w: org.apache.spark.sql.catalyst.plans.logical.UnresolvedWith =>
            w.copy(cteRelations = w.cteRelations.map { t =>
              t.copy(_2 = swap(t._2).asInstanceOf[
                org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias])
            })
        })
        org.apache.spark.sql.graftbridge.Bridge.ofRows(spark, retried)
    }
  }

  /** The battery/gate SQL runner: the facade's dialect passes over the
    * lexed text ([[rewriteSql]]) + Calcite division dialect +
    * window-in-ORDER-BY splicing. One entry point so the QA batteries and
    * the facade share semantics.
    */
  def runSql(spark: SparkSession, sqlText: String): DataFrame =
    // withActive: the MVD/lookup registries' session-scoped overlays and
    // the dialect passes' SQLConf reads must see THIS session, not
    // whichever one the calling thread touched last
    org.apache.spark.sql.graftbridge.Bridge.withActive(spark) {
      GraftSession.attach(spark)
      sqlWithSortWindows(spark, rewriteSql(sqlText))
    }

  /** Bound, dialect-rewritten SQL text of a payload (SET statements
    * stripped — fold them into the context via [[setStatements]]).
    */
  private[graft] def sql(j: JValue): String = new Payload(j).sql

  private[graft] type Pass = Toks => Toks

  /** The dialect passes from Calcite spellings to Spark SQL, in order: the
    * ONE list shared by the facade ([[sql(j)]]) and the gate runner
    * ([[rewriteSql]]), so the two can never diverge on FETCH / FLOOR-TO /
    * negative-frame handling. Passes see tokens, so a string literal, a
    * quoted identifier or a comment never matches one.
    */
  private[graft] val pipeline: Seq[Pass] = Seq(doubleQuotedIdents, intervals,
    niladicPi, concatAggDistinct, negativeFrameBounds, extractUnits,
    positionFrom, fetch, floorCeilTo, arrayBrackets, castTypes, castTry,
    inBooleanTest, suffixFrames, emptyGroupBy, unnest, jsonReturning,
    jsonObject)

  /** Lex → `passes` (the whole pipeline by default) → render, for plain
    * SQL text (no payload binding) — the gate-runner entry point.
    */
  private[graft] def rewriteSql(sqlText: String,
                                passes: Seq[Pass] = pipeline): String =
    render(passes.foldLeft(lex(sqlText))((ts, p) => p(ts)))

  /** Druid (Calcite) double-quotes IDENTIFIERS - a quoted column in
    * every console-generated query - where Spark's default (ANSI off)
    * reads a string literal. Backtick them.
    */
  private[graft] def doubleQuotedIdents(ts: Toks): Toks = ts.map {
    case Tok(Ident, t) if t.length > 1 && t.startsWith("\"") && t.endsWith("\"") =>
      Tok(Ident, "`" + t.substring(1, t.length - 1).replace("\"\"", "\"") + "`")
    case t => t
  }

  /** Calcite interval literals carry an optional leading-field precision —
    * `INTERVAL '63' DAY (3)` (TPC-H Q1 as the reference's qaTpch corpus
    * writes it) — that Spark's grammar rejects. The precision only bounds
    * the literal's digits, never its value, so it is dropped. Calcite's
    * `INTERVAL 'n' QUARTER` — a unit Spark's grammar lacks — is spelled as
    * the month interval scaled by 3 (multiplication binds tighter than the
    * +/- the interval participates in), its precision dropped too.
    */
  private[graft] def intervals(ts: Toks): Toks = rewrite(ts) { (ts, i) =>
    val lit = seq(ts, i, "INTERVAL", "'")
    val unit = if (lit < 0) -1
      else seq(ts, next(ts, lit + 1), "QUARTER|DAY|MONTH|YEAR|HOUR|MINUTE|SECOND")
    val precision = if (unit < 0) -1 else seq(ts, next(ts, unit + 1), "(", "#", ")")
    if (unit >= 0 && ts(unit).is("QUARTER"))
      Some((math.max(unit, precision) + 1,
        "(" + render(ts.slice(i, unit)) + "MONTH * 3)"))
    else if (precision >= 0) Some((precision + 1, render(ts.slice(i, unit + 1))))
    else None
  }

  /** Calcite's niladic `PI` — usable without parens (`SELECT pi AS col`,
    * qaArray scalar batteries) — becomes Spark's pi() call; pi() calls and
    * qualified names (`t.pi`, `pi.x`) stay.
    */
  private[graft] def niladicPi(ts: Toks): Toks = rewrite(ts) { (ts, i) =>
    if (ts(i).is("PI") && seq(ts, prev(ts, i), ".") < 0 &&
        seq(ts, next(ts, i + 1), "(|.") < 0) Some((i + 1, "pi()"))
    else None
  }

  /** ARRAY_CONCAT_AGG(DISTINCT x) — the builder's NULL-for-all-NULL-groups
    * wrapper means it can't return a bare AggregateFunction, so Spark's
    * DISTINCT syntax can't reach it; reroute to the dedicated
    * ARRAY_CONCAT_AGG_DISTINCT builder (sorted distinct element set, the
    * reference's array_set_add_all TreeSet fold —
    * ops_funcs_agg_funcs A1_B30_C1_D1: [null, 0, 1]). STRING_AGG(DISTINCT
    * …) emits the SORTED distinct set in the reference (the distinct fold
    * is a TreeSet — CalciteQueryTest testStringAgg: ',1,10.1,2,abc,def');
    * the dedicated aggregate dedups + sorts internally, so the keyword
    * drops.
    */
  private[graft] def concatAggDistinct(ts: Toks): Toks = rewrite(ts) { (ts, i) =>
    val d = seq(ts, i, "ARRAY_CONCAT_AGG|STRING_AGG|LISTAGG", "(", "DISTINCT")
    if (d < 0) None
    else Some((d + 1,
      if (ts(i).is("ARRAY_CONCAT_AGG")) "ARRAY_CONCAT_AGG_DISTINCT(" else "STRING_AGG_SORTED("))
  }

  /** Calcite (and therefore the reference) rejects any NEGATIVE window-frame
    * amount — `ROWS BETWEEN UNBOUNDED PRECEDING AND -1 FOLLOWING` is an
    * error, not an empty frame. Post-parse, `-1 FOLLOWING` and `1 PRECEDING`
    * are the same Catalyst bound (both `UnaryMinus(1)`), so the optimizer
    * rule [[graft.plans.RejectInvertedFrames]] can only catch the inverted
    * subset; the negated-literal spelling must be rejected here on the SQL
    * tokens. PRECEDING/FOLLOWING are reserved frame keywords, so
    * `- <num> PRECEDING|FOLLOWING` can only be a frame bound.
    */
  private[graft] def negativeFrameBounds(ts: Toks): Toks = {
    if (ts.indices.exists(seq(ts, _, "-", "#", "PRECEDING|FOLLOWING") >= 0))
      throw new IllegalArgumentException(
        "Window frame bound amounts must be non-negative")
    ts
  }

  /** Calcite EXTRACT units Spark's builtin lacks or numbers differently —
    * EPOCH (seconds), MILLISECOND/MICROSECOND, DECADE/CENTURY/MILLENNIUM,
    * ISODOW/ISOYEAR, and DOW (the reference's TimeExtract is Joda ISO
    * Monday=1..Sunday=7 where Spark's DOW is Sunday-based) — rerouted to
    * the TIME_EXTRACT builder, which implements the reference's
    * TimestampExtractExprMacro unit set. Standard units stay on Spark's
    * builtin.
    */
  private[graft] def extractUnits(ts: Toks): Toks = rewrite(ts) { (ts, i) =>
    val from = seq(ts, i, "EXTRACT", "(", "EPOCH|MILLISECOND|MICROSECOND|DECADE" +
      "|CENTURY|MILLENNIUM|ISODOW|ISOYEAR|DOW", "FROM")
    val open = next(ts, i + 1)
    val end = if (from < 0) -1 else close(ts, open)
    if (end < 0) None
    else Some((end + 1, s"time_extract(${span(ts, from + 1, end)}, " +
      s"'${ts(next(ts, open + 1)).text.toUpperCase}')"))
  }

  /** Calcite's `POSITION(needle IN haystack FROM start)` — the FROM-start
    * form Spark's grammar lacks (PositionOperatorConversion; the qaAggFuncs
    * string_agg corpus writes it). `locate(needle, haystack, start)` has
    * the identical contract: 1-based index in the FULL string, search
    * starting at `start`, 0 when absent. The no-FROM form stays on Spark's
    * builtin.
    */
  private[graft] def positionFrom(ts: Toks): Toks = rewrite(ts) { (ts, i) =>
    val open = seq(ts, i, "POSITION", "(")
    val end = if (open < 0) -1 else close(ts, open)
    val in = topLevel(ts, open + 1, end, "IN")
    val from = topLevel(ts, open + 1, end, "FROM")
    if (in < 0 || from < in) None
    else Some((end + 1, s"locate(${span(ts, open + 1, in)}, " +
      s"${span(ts, in + 1, from)}, ${span(ts, from + 1, end)})"))
  }

  /** Calcite's SQL-standard row-limit spellings — `FETCH FIRST|NEXT n
    * ROWS ONLY` and `OFFSET n ROWS` (the reference accepts both; the Drill
    * window corpus writes them) — normalized to Spark's LIMIT/OFFSET.
    * Calcite writes OFFSET before FETCH, but Spark's grammar only accepts
    * LIMIT before OFFSET; a count-less FETCH FIRST ROW ONLY is 1 row.
    */
  private[graft] def fetch(ts: Toks): Toks = rewrite(ts) { (ts, i) =>
    val off = seq(ts, i, "OFFSET", "#", "ROW|ROWS")
    val f = if (off >= 0) next(ts, off + 1) else i
    val n = seq(ts, f, "FETCH", "FIRST|NEXT", "#", "ROW|ROWS", "ONLY")
    val one = seq(ts, f, "FETCH", "FIRST|NEXT", "ROW", "ONLY")
    val limit =
      if (n >= 0) Some((n + 1, "LIMIT " + ts(seq(ts, f, "FETCH", "FIRST|NEXT", "#")).text))
      else if (one >= 0) Some((one + 1, "LIMIT 1"))
      else None
    def offset = "OFFSET " + ts(next(ts, i + 1)).text
    (limit, off >= 0) match {
      case (Some((end, l)), true) => Some((end, l + " " + offset))
      case (None, true) => Some((off + 1, offset))
      case (l, false) => l
    }
  }

  private val CeilPeriods = Map("YEAR" -> "P1Y", "QUARTER" -> "P3M",
    "MONTH" -> "P1M", "WEEK" -> "P1W", "DAY" -> "P1D", "HOUR" -> "PT1H",
    "MINUTE" -> "PT1M", "SECOND" -> "PT1S", "DECADE" -> "P10Y",
    "CENTURY" -> "P100Y", "MILLENNIUM" -> "P1000Y", "MILLISECOND" -> "PT0.001S")

  /** Calcite's `FLOOR(expr TO unit)` / `CEIL(expr TO unit)` — the syntax
    * the reference's own SQL (and every Druid console query) uses for time
    * bucketing; Spark's parser has no TO form. FLOOR maps to date_trunc,
    * CEIL to the engine's TIME_CEIL with the unit's ISO period.
    */
  private[graft] def floorCeilTo(ts: Toks): Toks = rewrite(ts) { (ts, i) =>
    val open = seq(ts, i, "FLOOR|CEIL|CEILING", "(")
    val end = if (open < 0) -1 else close(ts, open)
    val unit = prev(ts, end)
    val to = prev(ts, unit)
    if (end < 0 || !CeilPeriods.contains(ts(unit).text.toUpperCase) || !ts(to).is("TO") ||
        to <= next(ts, open + 1)) None
    else {
      val expr = span(ts, open + 1, to)
      val u = ts(unit).text.toUpperCase
      Some((end + 1,
        if (ts(i).is("FLOOR")) s"date_trunc('$u', $expr)"
        else s"TIME_CEIL($expr, '${CeilPeriods(u)}')"))
    }
  }

  // Druid has NO decimal type — a literal with a decimal point is a
  // DOUBLE (math/expr grammar), while Spark parses 0.1 as DECIMAL(1,1),
  // whose ARRAY type then refuses to compare with a double-array
  // column. Bare decimal-literal elements get the double cast.
  private val DecLit = """-?\d+\.\d+(?:[eE][+-]?\d+)?""".r

  /** Calcite's bracket array constructor — `ARRAY[1, 0, NULL]`, the
    * spelling every reference corpus uses — to Spark's `array(...)` call
    * form (array literals nest: ARRAY[ARRAY[1]]).
    */
  private[graft] def arrayBrackets(ts: Toks): Toks = rewrite(ts) { (ts, i) =>
    val open = seq(ts, i, "ARRAY", "[")
    val end = if (open < 0) -1 else close(ts, open)
    if (end < 0) None
    else Some((end + 1, splitTop(ts, open + 1, end).map { case (a, b) =>
      val e = span(ts, a, b)
      if (DecLit.matches(e)) s"CAST($e AS DOUBLE)" else e
    }.mkString("array(", ", ", ")")))
  }

  /** Calcite's unparameterized string types: Druid SQL accepts
    * `CAST(x AS VARCHAR)` / `CAST(x AS CHAR)` as unbounded strings
    * (sql/.../planner/Calcites.java type mappings); Spark requires a
    * length on VARCHAR/CHAR, so map the bare forms to STRING. Only the
    * `AS <type>)` CAST tail is touched — `RETURNING VARCHAR` (JSON_VALUE)
    * keeps its own handling in [[jsonReturning]]. The SQL-standard
    * collection type `CAST(x AS BIGINT ARRAY)` (Calcite;
    * CalciteArraysQueryTest testArrayToMvPostaggInline) becomes Spark's
    * ARRAY<T>, so `VARCHAR ARRAY` lands as ARRAY<STRING>.
    */
  private[graft] def castTypes(ts: Toks): Toks = rewrite(ts) { (ts, i) =>
    val arr = seq(ts, i, "AS", "VARCHAR|CHAR|BIGINT|INTEGER|SMALLINT|TINYINT" +
      "|DOUBLE|FLOAT|REAL|BOOLEAN|TIMESTAMP|DATE", "ARRAY", ")")
    val str = seq(ts, i, "AS", "VARCHAR|CHAR", ")")
    if (arr >= 0) {
      val et = ts(next(ts, i + 1)).text.toUpperCase match {
        case "VARCHAR" | "CHAR" => "STRING"
        case t => t
      }
      Some((arr + 1, s"AS ARRAY<$et>)"))
    } else if (str >= 0) Some((str + 1, "AS STRING)"))
    else None
  }

  /** Druid casts are LENIENT — CAST('' AS BIGINT) and CAST('abc' AS
    * DOUBLE) are NULL (native casts are total), where Spark 4's ANSI
    * default throws at runtime. TRY_CAST has exactly the reference's
    * contract; identical results on every valid cast. Explicit casts in
    * facade SQL all become TRY_CAST here; the remaining lenient behaviors
    * (implicit coercions, size(null), …) come from the ANSI-off window
    * that [[sqlWithSortWindows]] scopes around plan analysis.
    * Casts TO STRING are total — they can never fail, so CAST and
    * TRY_CAST agree — and keeping the plain CAST matters: Spark rejects
    * TRY_CAST over a correlated outer reference in lateral position
    * (qaUnnest array_sql_mv_funcs `string_to_mv(cast(c AS char), …)`
    * under a correlated UNNEST), while the equivalent CAST decorrelates
    * fine. [[castTypes]] has already normalized VARCHAR/CHAR→STRING.
    */
  private[graft] def castTry(ts: Toks): Toks = rewrite(ts) { (ts, i) =>
    val open = seq(ts, i, "CAST", "(")
    val end = if (open < 0) -1 else close(ts, open)
    val last = prev(ts, end)
    if (end < 0 || ts(last).is("STRING") && ts(prev(ts, last)).is("AS")) None
    else Some((open + 1, "TRY_CAST("))
  }

  /** Calcite parses `x IN (...) IS FALSE` (boolean test directly over
    * an IN predicate) where Spark's grammar needs the predicate
    * parenthesized. The tested operand is a (dotted) name or a call —
    * LOOKUP(dim1, 'lookyloo') IN ('x6','nope') IS NOT TRUE
    * (CalciteLookupFunctionQueryTest testFilterInIsNotTrue).
    */
  private[graft] def inBooleanTest(ts: Toks): Toks = rewrite(ts) { (ts, i) =>
    var name = i
    while (name + 2 < ts.length && ts(name + 1).is(".") && ts(name + 2).kind == Word)
      name += 2
    val call = next(ts, name + 1)
    val operand = if (seq(ts, call, "(") >= 0) close(ts, call) else name
    val not = seq(ts, next(ts, operand + 1), "NOT")
    val list = seq(ts, if (not >= 0) next(ts, not + 1) else next(ts, operand + 1), "IN", "(")
    val end = if (list < 0) -1 else close(ts, list)
    val is = next(ts, end + 1)
    if (ts(i).kind != Word || i > 0 && (ts(i - 1).is(".") || ts(i - 1).is(")")) ||
        operand < 0 || end < 0 ||
        seq(ts, is, "IS", "TRUE|FALSE") < 0 && seq(ts, is, "IS", "NOT", "TRUE|FALSE") < 0)
      None
    else Some((end + 1, "(" + render(ts.slice(i, end + 1)) + ")"))
  }

  /** Calcite/Druid single-bound FOLLOWING frame shorthand: `ROWS <b>
    * FOLLOWING` (and RANGE, incl. `UNBOUNDED FOLLOWING`) means
    * BETWEEN CURRENT ROW AND <b> FOLLOWING — verified against the
    * reference's qaWin orderby_rows_1_following / _ub_following expected
    * outputs (quidem-ut qaWin corpus). Spark's parser rejects a lone
    * FOLLOWING bound, so expand it. PRECEDING shorthand is already
    * standard (BETWEEN <b> PRECEDING AND CURRENT ROW) in both.
    */
  private[graft] def suffixFrames(ts: Toks): Toks = rewrite(ts) { (ts, i) =>
    val b = next(ts, i + 1)
    val lit = seq(ts, b, "INTERVAL", "'")
    val unit = next(ts, lit + 1)
    val bound =
      if (seq(ts, b, "UNBOUNDED|#") >= 0) b
      else if (lit < 0) -1
      else if (seq(ts, unit, "_") >= 0 && !ts(unit).is("FOLLOWING")) unit
      else lit
    if (seq(ts, i, "ROWS|RANGE") < 0 || bound < 0 ||
        seq(ts, next(ts, bound + 1), "FOLLOWING") < 0) None
    else Some((b, ts(i).text + " BETWEEN CURRENT ROW AND "))
  }

  /** Calcite's explicit empty grouping set — `GROUP BY ()` — is what the
    * reference's own console/dashboard SQL emits for global aggregates
    * (every kttm_*.iq visualization query). Spark's parser rejects the
    * bare form but accepts the equivalent GROUPING SETS spelling.
    */
  private[graft] def emptyGroupBy(ts: Toks): Toks = rewrite(ts) { (ts, i) =>
    val e = seq(ts, i, "GROUP", "BY", "(", ")")
    if (e < 0) None else Some((e + 1, "GROUP BY GROUPING SETS (())"))
  }

  /** Translate the reference's correlated-unnest SQL surface
    * `[CROSS JOIN | ,] UNNEST(expr) AS alias (col)` into a lateral
    * derived table. UNNEST as the SOLE table factor (`SELECT * FROM
    * UNNEST(ARRAY[1,2,3])` — CalciteArraysQueryTest testUnnestInline)
    * becomes a bare derived table, not a lateral join.
    */
  private[graft] def unnest(ts: Toks): Toks = rewrite(ts) { (ts, i) =>
    val u = Seq(seq(ts, i, "CROSS", "JOIN", "UNNEST"), seq(ts, i, ",", "UNNEST"),
      seq(ts, i, "UNNEST")).find(_ >= 0).getOrElse(-1)
    if (u < 0) None
    else {
      val open = next(ts, u + 1)
      require(seq(ts, open, "(") >= 0, "UNNEST must be followed by (expr)")
      val end = close(ts, open)
      require(end >= 0, "unbalanced parentheses after UNNEST")
      // optional: AS alias (col)  /  AS alias(col)  /  alias (col)
      val a = next(ts, end + 1)
      val alias = if (seq(ts, a, "AS", "_", "(", "_", ")") >= 0) next(ts, a + 1) else a
      val aliasEnd = seq(ts, alias, "_", "(", "_", ")")
      val (name, col, stop) =
        if (aliasEnd < 0) ("unnested", "col", end + 1)
        else (ts(alias).text, ts(prev(ts, aliasEnd)).text, aliasEnd + 1)
      // LATERAL subquery, not LATERAL VIEW: Spark's grammar hangs lateral
      // views off the END of the FROM clause, so `… CROSS JOIN UNNEST(x)
      // AS u(c) INNER JOIN t2 ON u.c = …` (a shape all over the reference
      // corpus) could not be expressed — a JOIN LATERAL derived table
      // composes with subsequent joins and keeps the alias addressable.
      // mv_unnest_input: a null MVD row unnests to a null-element row
      // (resolved lazily on the druid.mv tag; TRUE arrays pass through)
      val joinKw = if (u == i && seq(ts, prev(ts, i), "FROM") >= 0) "" else " JOIN LATERAL"
      Some((stop, s"$joinKw (SELECT explode(mv_unnest_input(" +
        s"${render(ts.slice(open + 1, end))})) AS $col) $name"))
    }
  }

  /** Translate the reference's `JSON_VALUE(expr, path RETURNING type [ARRAY])`
    * (Calcite syntax Spark doesn't parse —
    * `sql/.../expression/builtin/NestedDataOperatorConversions.java`) into
    * the typed JSON_VALUE_* functions registered by DruidFunctions.
    * DECIMAL/FLOAT map to the double variants like the reference's ExprEval
    * coercion; CHAR/VARCHAR to the string one. The first argument may be
    * any expression (the reference accepts arbitrary ones), so a RETURNING
    * clause nested inside it rewrites too.
    */
  private[graft] def jsonReturning(ts: Toks): Toks = rewrite(rewrite(ts) { (ts, i) =>
    // the SQL-standard behavior clauses: the reference accepts ONLY the
    // NULL behaviors (NestedDataOperatorConversions.java:300-310 throws on
    // anything else) — NULL ON EMPTY / NULL ON ERROR are its defaults, so
    // they drop; non-NULL behaviors fall through to Spark's parser, which
    // rejects them loudly like the reference
    val e = seq(ts, i, "NULL", "ON", "EMPTY|ERROR")
    if (e < 0) None else Some((e + 1, ""))
  }) { (ts, i) =>
    val open = seq(ts, i, "JSON_VALUE", "(")
    val end = if (open < 0) -1 else close(ts, open)
    (if (end < 0) Nil else splitTop(ts, open + 1, end)) match {
      case Seq((a, b), (p0, _)) =>
        val path = next(ts, p0)
        val t = seq(ts, path, "'", "RETURNING",
          "BIGINT|INTEGER|INT|DECIMAL|DOUBLE|FLOAT|VARCHAR|CHAR|BOOLEAN")
        val arr = if (t < 0) -1 else seq(ts, next(ts, t + 1), "ARRAY")
        if (t < 0 || next(ts, math.max(t, arr) + 1) != end) None
        else {
          val base = ts(t).text.toUpperCase match {
            case "BIGINT" | "INTEGER" | "INT"   => "BIGINT"
            case "DECIMAL" | "DOUBLE" | "FLOAT" => "DOUBLE"
            case "BOOLEAN"                      => "BOOLEAN"
            case _                              => "VARCHAR"
          }
          val name =
            if (arr >= 0) s"JSON_VALUE_${base}_ARRAY"
            else if (base == "VARCHAR") "JSON_VALUE_STR"
            else s"JSON_VALUE_$base"
          Some((end + 1, s"$name(${span(ts, a, b)}, ${ts(path).text})"))
        }
      case _ => None
    }
  }

  /** Calcite's JSON_OBJECT syntaxes — `JSON_OBJECT(KEY k VALUE v, …)` and
    * `JSON_OBJECT(k : v, …)` (what the reference's SQL and the qaJsonCols
    * corpus write) — normalized to the plain pair-call form
    * `json_object(k, v, …)` the registered variadic builder accepts. Only
    * TOP-LEVEL `KEY`/`VALUE` tokens and `:` separators inside a
    * json_object(…) call are touched; nested calls rewrite in turn.
    */
  private[graft] def jsonObject(ts: Toks): Toks = rewrite(ts) { (ts, i) =>
    val open = seq(ts, i, "JSON_OBJECT", "(")
    val end = if (open < 0) -1 else close(ts, open)
    if (end < 0) None
    else {
      // `KEY` counts as syntax only at an ARGUMENT START (so a column
      // named key/value elsewhere is untouched), and `VALUE` only when a
      // KEY opened the current argument
      var d = 0
      var argStart = true
      var expectValue = false
      val comma = Tok(Sym, ",")
      val norm = ts.slice(open + 1, end).flatMap { t =>
        if (!t.sig) Some(t)
        else if (t.is("(") || t.is("[")) { d += 1; argStart = false; Some(t) }
        else if (t.is(")") || t.is("]")) { d -= 1; Some(t) }
        else if (d == 0 && t.is(",")) { argStart = true; expectValue = false; Some(t) }
        else if (d == 0 && t.is(":")) { argStart = false; Some(comma) }
        else if (d == 0 && argStart && t.is("KEY")) {
          argStart = false; expectValue = true; None
        } else if (d == 0 && expectValue && t.is("VALUE")) {
          expectValue = false; Some(comma)
        } else { argStart = false; Some(t) }
      }
      // values that are SYNTACTICALLY json-typed (json_query / parse_json
      // / try_parse_json / a nested json_object) EMBED as nested documents
      // like the reference's COMPLEX<json> values (func_json_object.03) —
      // and the reference PRESERVES the source document's key order, so
      // embedding splices the serialized text directly instead of
      // re-parsing through Spark's key-sorting variant. Plain values
      // JSON-encode through the to_json(array(v)) trick, which keeps their
      // Spark TYPE (numbers stay numbers, strings quote+escape).
      val args = splitTop(norm, 0, norm.length).map { case (a, b) => norm.slice(a, b) }
      def jsonTyped(arg: Toks): Boolean =
        seq(arg, next(arg, 0), "JSON_QUERY|JSON_OBJECT|PARSE_JSON|TRY_PARSE_JSON", "(") >= 0
      def enc(e: String) =
        s"substr(to_json(array(($e))), 2, length(to_json(array(($e)))) - 2)"
      if (args.size % 2 == 0 && args.indices.exists(k => k % 2 == 1 && jsonTyped(args(k))))
        Some((end + 1, args.grouped(2).map { case Seq(k, v) =>
          val vt = render(v).trim
          s"${enc(s"CAST((${render(k).trim}) AS STRING)")}, ':', " +
            (if (jsonTyped(v)) s"coalesce(CAST(($vt) AS STRING), 'null')"
             else s"coalesce(${enc(vt)}, 'null')")
        }.mkString("concat('{', ", ", ',', ", ", '}')")))
      else Some((end + 1, "json_object" + render(ts.slice(i + 1, open + 1)) +
        render(norm) + ")"))
    }
  }

  /** Leading `SET key = value;` statements (reference `DruidSqlSet` — SQL
    * context parameters set in the query text). Returns (context entries,
    * remaining SQL). String values quoted, numbers/booleans bare.
    */
  private[graft] def setStatements(raw: String): (Map[String, JValue], String) = {
    val SetRe =
      """(?is)^\s*SET\s+([A-Za-z_][A-Za-z0-9_.]*)\s*=\s*('(?:[^']|'')*'|[^;]+?)\s*;\s*(.*)$""".r
    raw match {
      case SetRe(k, v, rest) =>
        val value: JValue =
          if (v.startsWith("'"))
            JString(v.substring(1, v.length - 1).replace("''", "'"))
          else if (v.equalsIgnoreCase("true")) JBool(true)
          else if (v.equalsIgnoreCase("false")) JBool(false)
          else scala.util.Try(JLong(v.trim.toLong))
            .orElse(scala.util.Try(JDouble(v.trim.toDouble)))
            .getOrElse(JString(v.trim))
        val (more, sqlText) = setStatements(rest)
        (more + (k -> value), sqlText)
      case _ => (Map.empty, raw)
    }
  }

  // ---------------------------------------------------------------- binding

  /** Substitute positional `?` placeholders with typed SQL literals.
    * Placeholders inside string literals, quoted identifiers and comments
    * are other tokens and stay, matching JDBC semantics.
    */
  private[graft] def bind(ts: Toks, params: List[JValue]): Toks = {
    val values = params.iterator
    ts.flatMap { t =>
      if (!t.is("?")) Vector(t)
      else if (values.hasNext) lex(literal(values.next()))
      else throw new IllegalArgumentException(
        s"SQL has more ? placeholders than parameters (${params.length})")
    }
  }

  /** Typed SQL literal for one reference `SqlParameter` ({"type","value"}). */
  private def literal(p: JValue): String = {
    val v = p \ "value"
    if (v == JNull || v == JNothing) return "NULL"
    val t = str(p \ "type").getOrElse("OTHER").toUpperCase
    t match {
      case "VARCHAR" | "CHAR" => quote(asString(v))
      case "BIGINT" | "INTEGER" | "SMALLINT" | "TINYINT" =>
        v match {
          case JInt(x) => x.toString; case JLong(x) => x.toString
          case JDouble(x) => x.toLong.toString
          case JDecimal(x) => x.toLong.toString
          case JString(s) => s.trim.toLong.toString
          case _ => err(t, v)
        }
      case "DOUBLE" | "FLOAT" | "REAL" | "DECIMAL" =>
        val d = v match {
          case JInt(x) => BigDecimal(x); case JLong(x) => BigDecimal(x)
          case JDouble(x) => BigDecimal(x); case JDecimal(x) => x
          case JString(s) => BigDecimal(s.trim)
          case _ => err(t, v)
        }
        s"CAST($d AS DOUBLE)"
      case "BOOLEAN" =>
        v match {
          case JBool(b) => if (b) "TRUE" else "FALSE"
          case JString(s) => if (s.trim.toBoolean) "TRUE" else "FALSE"
          case _ => err(t, v)
        }
      case "TIMESTAMP" =>
        v match {
          // reference accepts epoch millis or a date-time string
          case JInt(ms)  => s"timestamp_millis($ms)"
          case JLong(ms) => s"timestamp_millis($ms)"
          case JString(s) =>
            val norm = s.trim.replace("T", " ").stripSuffix("Z")
            s"CAST(${quote(norm)} AS TIMESTAMP)"
          case _ => err(t, v)
        }
      case "DATE" =>
        v match {
          case JString(s) => s"DATE ${quote(s.trim)}"
          case JInt(d)    => s"date_from_unix_date($d)" // days since epoch
          case JLong(d)   => s"date_from_unix_date($d)"
          case _          => err(t, v)
        }
      case "ARRAY" =>
        v match {
          case JArray(xs) =>
            xs.map {
              case JString(s) => quote(s)
              case JInt(x) => x.toString; case JLong(x) => x.toString
              case JDouble(x) => x.toString; case JDecimal(x) => x.toString
              case JBool(b) => if (b) "TRUE" else "FALSE"
              case JNull => "NULL"
              case other => err(t, other)
            }.mkString("array(", ", ", ")")
          case _ => err(t, v)
        }
      case _ => // OTHER: infer from the JSON value
        v match {
          case JString(s) => quote(s)
          case JInt(x) => x.toString; case JLong(x) => x.toString
          case JDouble(x) => x.toString; case JDecimal(x) => x.toString
          case JBool(b) => if (b) "TRUE" else "FALSE"
          case other => err(t, other)
        }
    }
  }

  private def quote(s: String): String = "'" + s.replace("'", "''") + "'"
  private def asString(v: JValue): String = v match {
    case JString(s) => s; case JInt(x) => x.toString; case JLong(x) => x.toString
    case JDouble(x) => x.toString; case JDecimal(x) => x.toString
    case JBool(b) => b.toString; case _ => err("VARCHAR", v)
  }
  private def err(t: String, v: JValue): Nothing =
    throw new IllegalArgumentException(
      s"cannot bind ${JsonMethods.compact(JsonMethods.render(v))} as $t")

  // ----------------------------------------------------------- ingest SQL

  /** Engine-managed datasource directory for SQL INSERT/REPLACE targets
    * (the reference's deep storage). One day-partitioned parquet dir per
    * datasource; override with spark conf `spark.graft.warehouse`.
    */
  def warehouseDir(spark: SparkSession): String =
    spark.conf.getOption("spark.graft.warehouse").getOrElse(
      System.getProperty("java.io.tmpdir") + "/graft_warehouse")

  /** Register every warehouse datasource as a temp view so SQL can read
    * back what INSERT/REPLACE wrote, whoever wrote it: an ingest in this or
    * another session, or a writer outside graft. [[Tables.register]]
    * re-opens only a view that does not read its table's current version,
    * so a call with nothing new only lists each table's files.
    */
  private def registerWarehouse(spark: SparkSession): Unit =
    Option(new java.io.File(warehouseDir(spark)).listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).foreach { d =>
        try Tables.register(spark, d.getName, d.getCanonicalPath)
        catch { case _: Exception => () } // mid-write/empty dir: skip
      }

  private[graft] case class IngestStatement(
      replace: Boolean, table: String,
      overwriteWhere: Option[(String, String)],
      innerSql: String, clusterBy: Seq[String],
      granularity: String = "DAY")

  /** Parse the reference's ingest statements (`DruidSqlInsert.java:39`,
    * `DruidSqlReplace.java`):
    * {{{
    * INSERT INTO t <query> PARTITIONED BY DAY [CLUSTERED BY c1, c2]
    * REPLACE INTO t OVERWRITE ALL <query> PARTITIONED BY DAY
    * REPLACE INTO t OVERWRITE WHERE __time >= TIMESTAMP 'a' AND __time <
    *   TIMESTAMP 'b' <query> PARTITIONED BY DAY
    * }}}
    * Segment granularity: PARTITIONED BY DAY (and coarser) lands as
    * day-partitioned parquet — the same physical layout the reference's
    * day-granularity segments use.
    */
  private[graft] def ingestTarget(sqlText: String): Option[IngestStatement] = {
    val Head =
      """(?is)^\s*(INSERT|REPLACE)\s+INTO\s+([A-Za-z_][A-Za-z0-9_]*)\s+(.*)$""".r
    sqlText match {
      case Head(verb, table, rest0) =>
        val replace = verb.equalsIgnoreCase("REPLACE")
        var rest = rest0
        var where: Option[(String, String)] = None
        if (replace) {
          val All = """(?is)^OVERWRITE\s+ALL\s+(.*)$""".r
          val Where =
            ("""(?is)^OVERWRITE\s+WHERE\s+__time\s*>=\s*TIMESTAMP\s*'([^']+)'""" +
              """\s+AND\s+__time\s*<\s*TIMESTAMP\s*'([^']+)'\s+(.*)$""").r
          rest match {
            case All(r) => rest = r
            case Where(lo, hi, r) => where = Some((lo, hi)); rest = r
            case _ => throw new IllegalArgumentException(
              "REPLACE requires OVERWRITE ALL or OVERWRITE WHERE __time >= " +
                "TIMESTAMP '…' AND __time < TIMESTAMP '…' (reference " +
                "DruidSqlReplace)")
          }
        }
        val Part =
          """(?is)^(.*)\bPARTITIONED\s+BY\s+(ALL\s+TIME|HOUR|DAY|WEEK|MONTH|YEAR|ALL)\b\s*(.*)$""".r
        val (inner, tail, gran) = rest match {
          case Part(q, gran0, t2) =>
            val g = gran0.trim.toUpperCase.replaceAll("\\s+", " ")
            require(Seq("HOUR", "DAY", "WEEK", "MONTH", "YEAR", "ALL",
              "ALL TIME").contains(g),
              s"unsupported PARTITIONED BY $gran0")
            (q.trim, t2.trim, g)
          case _ => throw new IllegalArgumentException(
            "ingest SQL requires PARTITIONED BY (reference DruidSqlInsert)")
        }
        val cluster =
          if (tail.isEmpty) Nil
          else {
            val Cl = """(?is)^CLUSTERED\s+BY\s+(.*)$""".r
            tail match {
              case Cl(cols) => cols.split(",").map(_.trim).toSeq
              case other => throw new IllegalArgumentException(
                s"unexpected trailing ingest clause: $other")
            }
          }
        Some(IngestStatement(replace, table, where, inner, cluster, gran))
      case _ => None
    }
  }

  /** Run an ingest: its SELECT is read on `ps` (the query's session clone)
    * and the written table registers as a view on the caller's `spark`.
    */
  private def runIngest(spark: SparkSession, ps: SparkSession,
                        ing: IngestStatement): DataFrame = {
    val result = ps.sql(ing.innerSql)
    require(result.columns.contains(Tables.TimeColumn),
      s"ingest query must produce a ${Tables.TimeColumn} column")
    val path = warehouseDir(spark) + "/" + ing.table
    ing.overwriteWhere match {
      case Some((lo, hi)) =>
        // interval bounds must align to the day PARTITIONED BY granularity
        // (per-chunk replace is day-layout only; HOUR ingests use
        // OVERWRITE ALL, matching the supported REPLACE surface)
        require(ing.granularity != "HOUR",
          "OVERWRITE WHERE supports day-layout granularities; use " +
            "OVERWRITE ALL with PARTITIONED BY HOUR")
        def dayOf(ts: String): String = {
          require(ts.matches("""\d{4}-\d{2}-\d{2}([T ]00:00:00(\.0+)?)?Z?"""),
            s"OVERWRITE WHERE bound $ts must align to PARTITIONED BY DAY")
          ts.take(10)
        }
        graft.operators.Ingest.replaceWhere(result, path, Tables.TimeColumn,
          dayOf(lo), dayOf(hi), ing.clusterBy)
      case None if ing.replace =>
        graft.operators.Ingest.replaceAll(result, path, Tables.TimeColumn,
          ing.clusterBy, ing.granularity)
      case None =>
        // INSERT: append new time-chunk segments alongside existing ones.
        // The statement's granularity must match the datasource's existing
        // chunk layout — appending __day= dirs into an __hour= datasource
        // (or vice versa) would commit a mixed layout the reader rejects,
        // AFTER the data is already written
        val (partCol, partExpr) = graft.operators.Ingest
          .segmentPartition(Tables.TimeColumn, ing.granularity)
        val fs = org.apache.hadoop.fs.FileSystem.get(
          spark.sparkContext.hadoopConfiguration)
        val root = new org.apache.hadoop.fs.Path(path)
        if (fs.exists(root)) {
          val other = if (partCol == "__hour") "__day=" else "__hour="
          val mixed = fs.listStatus(root)
            .exists(_.getPath.getName.startsWith(other))
          require(!mixed,
            s"INSERT PARTITIONED BY ${ing.granularity} into '${ing.table}' " +
              s"conflicts with the datasource's existing ${other.dropRight(1)} " +
              "chunk layout; use REPLACE ... OVERWRITE ALL to change granularity")
        }
        result.withColumn(partCol, partExpr)
          .repartition(org.apache.spark.sql.functions.col(partCol))
          .sortWithinPartitions((partCol +: ing.clusterBy).map(
            org.apache.spark.sql.functions.col): _*)
          .write.mode("append").partitionBy(partCol).parquet(path)
    }
    Tables.register(spark, ing.table, new java.io.File(path).getCanonicalPath)
    import spark.implicits._
    Seq((ing.table, path)).toDF("dataSource", "location")
  }

  // ------------------------------------------------- table functions

  /** Expand the reference's table functions into temp views:
    * `TABLE(APPEND('t1','t2',…))` — schema-merging union
    * (`sql/.../table/AppendCatalogMacro`), and
    * `TABLE(EXTERN('<inputSource>','<inputFormat>','<signature>'))` — MSQ
    * external input (`msq/sql/.../ExternalOperatorConversion`): inline /
    * local / http input sources with csv, tsv or json input formats. A
    * string literal that merely contains "TABLE(EXTERN(" is one token and
    * never expands.
    */
  private[graft] def rewriteTableFunctions(spark: SparkSession, dir: String,
                                           ts: Toks): Toks = rewrite(ts) { (ts, i) =>
    val args = seq(ts, i, "TABLE", "(", "APPEND|EXTERN", "(")
    val argsEnd = if (args < 0) -1 else close(ts, args)
    val end = if (argsEnd < 0) -1 else close(ts, next(ts, i + 1))
    if (end < 0) None
    else {
      val fn = ts(prev(ts, args)).text.toUpperCase
      val region = render(ts.slice(args + 1, argsEnd))
      val values = splitTop(ts, args + 1, argsEnd).map { case (a, b) =>
        unquoteSql(span(ts, a, b))
      }.toList
      val view = "__" + fn.toLowerCase + "_" +
        Integer.toHexString(region.hashCode).replace('-', 'n')
      val df = fn match {
        case "APPEND" =>
          values.map(Tables.load(spark, dir, _)).reduce(
            _.unionByName(_, allowMissingColumns = true))
        case "EXTERN" => externDataFrame(spark, values)
      }
      df.createOrReplaceTempView(view)
      Some((end + 1, view))
    }
  }

  private def unquoteSql(s: String): String = {
    val t = s.trim
    if (t.startsWith("'") && t.endsWith("'") && t.length >= 2)
      t.substring(1, t.length - 1).replace("''", "'")
    else t
  }

  /** Build the DataFrame for TABLE(EXTERN(inputSource, inputFormat,
    * signature)) — JSON specs exactly as the reference accepts them.
    */
  private def externDataFrame(spark: SparkSession,
                              args: List[String]): DataFrame = {
    require(args.size == 3,
      "EXTERN needs (inputSource, inputFormat, signature) JSON args")
    val source = JsonMethods.parse(args(0))
    val format = JsonMethods.parse(args(1))
    val signature = JsonMethods.parse(args(2))
    val schema = StructType(signature match {
      case JArray(cols) => cols.map { c =>
        val name = str(c \ "name").getOrElse(
          throw new IllegalArgumentException("signature column needs name"))
        val t = str(c \ "type").getOrElse("string").toUpperCase match {
          case "LONG" | "BIGINT" => LongType
          case "DOUBLE" => DoubleType
          case "FLOAT" => FloatType
          case _ => StringType
        }
        StructField(name, t)
      }
      case _ => throw new IllegalArgumentException("signature must be a JSON array")
    })
    // line dataset from the input source
    import spark.implicits._
    val lines: org.apache.spark.sql.Dataset[String] =
      str(source \ "type").getOrElse("") match {
        case "inline" =>
          str(source \ "data").getOrElse("").split("\n").toSeq.toDS()
        case "local" =>
          val files = source \ "files" match {
            case JArray(fs) => fs.flatMap(str(_))
            case _ =>
              val base = str(source \ "baseDir").getOrElse(
                throw new IllegalArgumentException("local source needs files or baseDir"))
              val filter = str(source \ "filter").getOrElse("*")
              val rx = java.util.regex.Pattern.quote(filter)
                .replace("*", """\E.*\Q""").replace("?", """\E.\Q""")
              Option(new java.io.File(base).listFiles()).getOrElse(Array.empty)
                .filter(f => f.isFile && f.getName.matches(rx))
                .map(_.getAbsolutePath).sorted.toList
          }
          spark.read.textFile(files: _*)
        case "http" =>
          val uris = source \ "uris" match {
            case JArray(us) => us.flatMap(str(_))
            case _ => throw new IllegalArgumentException("http source needs uris")
          }
          graft.sources.Sources.httpLines(spark, uris)
        case other => throw new IllegalArgumentException(
          s"unsupported EXTERN input source type: $other")
      }
    str(format \ "type").getOrElse("") match {
      case "csv" | "tsv" =>
        val sep = if (str(format \ "type").contains("tsv")) "\t" else ","
        val header = format \ "findColumnsFromHeader" match {
          case JBool(b) => b; case _ => false
        }
        spark.read.schema(schema)
          .option("header", header.toString).option("sep", sep).csv(lines)
      case "json" => spark.read.schema(schema).json(lines)
      case other => throw new IllegalArgumentException(
        s"unsupported EXTERN input format: $other")
    }
  }

  // ---------------------------------------------------------------- explain

  private def explainTarget(sqlText: String): Option[String] = {
    val Re = """(?is)^\s*EXPLAIN\s+PLAN\s+FOR\s+(.*)$""".r
    sqlText match { case Re(inner) => Some(inner); case _ => None }
  }

  /** The reference's EXPLAIN PLAN FOR result row: (PLAN, RESOURCES,
    * ATTRIBUTES) — `sql/.../planner/QueryHandler.java` planExplanation /
    * `processing/.../query/explain/ExplainPlan.java`. PLAN carries the
    * engine's plan as JSON (here: the optimized Catalyst plan plus the
    * result signature), RESOURCES the datasources read, ATTRIBUTES the
    * statement type.
    */
  private def explainPlan(spark: SparkSession, innerSql: String): DataFrame = {
    // EXPLAIN PLAN FOR INSERT/REPLACE: explain the ingest's SELECT and
    // report the reference's ingest explain attributes (`query/explain/
    // ExplainAttributes.java`: statementType, targetDataSource,
    // partitionedBy, clusteredBy, replaceTimeChunks)
    val ingest = ingestTarget(innerSql)
    val selectSql = ingest.map(_.innerSql).getOrElse(innerSql)
    val df = spark.sql(selectSql)
    val signature = JArray(df.schema.fields.map(f =>
      JObject("name" -> JString(f.name),
        "type" -> JString(druidType(f.dataType)))).toList)
    val plan = JArray(List(JObject(
      "query" -> JObject(
        "queryType" -> JString("sparkPlan"),
        "plan" -> JString(df.queryExecution.optimizedPlan.toString)),
      "signature" -> signature)))
    // datasources from the *parsed* plan: analyzed plans inline temp views,
    // losing the original relation names
    val parsed = spark.sessionState.sqlParser.parsePlan(selectSql)
    val tables = parsed.collect {
      case r: UnresolvedRelation => r.multipartIdentifier.mkString(".")
    }.distinct.sorted
    val resources = JArray(tables.map(t =>
      JObject("name" -> JString(t), "type" -> JString("DATASOURCE"))).toList)
    val attributes = ingest match {
      case None => JObject("statementType" -> JString("SELECT"))
      case Some(ing) =>
        val base = List(
          "statementType" ->
            JString(if (ing.replace) "REPLACE" else "INSERT"),
          "targetDataSource" -> JString(ing.table),
          "partitionedBy" -> JString(ing.granularity))
        val clustered =
          if (ing.clusterBy.isEmpty) Nil
          else List("clusteredBy" ->
            JArray(ing.clusterBy.map(JString(_)).toList))
        val chunks =
          if (!ing.replace) Nil
          else List("replaceTimeChunks" -> JString(ing.overwriteWhere match {
            case Some((lo, hi)) => s"$lo/$hi"
            case None => "all"
          }))
        JObject(base ++ clustered ++ chunks)
    }
    import spark.implicits._
    Seq((compact(plan), compact(resources), compact(attributes)))
      .toDF("PLAN", "RESOURCES", "ATTRIBUTES")
  }

  // --------------------------------------------------------------- results

  private val TsFmt = DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").withZone(ZoneOffset.UTC)

  /** Render rows per resultFormat/header flags (reference
    * `sql/http/ResultFormat.java`: object, array, objectLines, arrayLines,
    * csv; header/typesHeader/sqlTypesHeader rows).
    */
  private[graft] def format(rows: Array[Row], schema: StructType,
                            j: JValue): String = {
    val out = new java.io.StringWriter()
    renderRows(rows.iterator, schema, j, out)
    out.toString
  }

  /** Streaming renderer behind [[format]]/[[executeStream]]: consumes the
    * row iterator once, writing each rendered row to `out` as it arrives —
    * nothing is accumulated, so memory is O(one row) regardless of result
    * size (the reference's ResultFormat writers stream the same way).
    */
  private def renderRows(rows: Iterator[Row], schema: StructType,
                     j: JValue, out: java.io.Writer): Unit = {
    val fmt = str(j \ "resultFormat").getOrElse("object")
    val header = bool(j \ "header").getOrElse(false)
    val typesHeader = bool(j \ "typesHeader").getOrElse(false)
    val sqlTypesHeader = bool(j \ "sqlTypesHeader").getOrElse(false)
    val names = schema.fields.map(_.name)
    val dTypes = schema.fields.map(f => druidType(f.dataType))
    val sTypes = schema.fields.map(f => sqlTypeName(f.dataType))

    def cell(v: Any): JValue = v match {
      case null => JNull
      case t: java.sql.Timestamp =>
        JString(TsFmt.format(Instant.ofEpochMilli(t.getTime)))
      case t: java.time.Instant => JString(TsFmt.format(t))
      case d: java.sql.Date => JString(d.toString)
      case d: java.time.LocalDate => JString(d.toString)
      case s: String => JString(s)
      case b: Boolean => JBool(b)
      case x: Long => JLong(x)
      case x: Int => JLong(x.toLong)
      case x: Short => JLong(x.toLong)
      case x: Byte => JLong(x.toLong)
      case x: Double => if (x.isNaN || x.isInfinite) JString(x.toString) else JDouble(x)
      case x: Float =>
        val d = x.toDouble
        if (d.isNaN || d.isInfinite) JString(d.toString) else JDouble(d)
      case x: java.math.BigDecimal => JDecimal(BigDecimal(x))
      case xs: scala.collection.Seq[_] => JArray(xs.map(cell).toList)
      case r: Row => JArray(r.toSeq.map(cell).toList)
      case m: scala.collection.Map[_, _] =>
        JObject(m.map { case (k, v2) => String.valueOf(k) -> cell(v2) }.toList)
      case bytes: Array[Byte] =>
        JString(java.util.Base64.getEncoder.encodeToString(bytes))
      case other => JString(other.toString)
    }

    def objRow(r: Row): JValue =
      JObject(names.zipWithIndex.map { case (nm, i) => nm -> cell(r.get(i)) }.toList)
    def arrRow(r: Row): JValue = JArray(r.toSeq.map(cell).toList)

    // header rows for array-shaped formats (reference emits the column-name
    // row, then optional type rows)
    val arrHeaders: List[JValue] = {
      var hs = List.empty[JValue]
      if (header) {
        hs :+= JArray(names.map(JString(_)).toList)
        if (typesHeader) hs :+= JArray(dTypes.map(JString(_)).toList)
        if (sqlTypesHeader) hs :+= JArray(sTypes.map(JString(_)).toList)
      }
      hs
    }
    // object-shaped formats get one header object: name -> {type/sqlType}
    // (reference ObjectWriter writes nulls when no type headers requested)
    val objHeader: List[JValue] =
      if (!header) Nil
      else List(JObject(names.zipWithIndex.map { case (nm, i) =>
        nm -> (if (!typesHeader && !sqlTypesHeader) JNull
               else JObject(
                 (if (typesHeader) List("type" -> JString(dTypes(i))) else Nil) ++
                 (if (sqlTypesHeader) List("sqlType" -> JString(sTypes(i))) else Nil)))
      }.toList))

    // one JSON value (or line) at a time — never a materialized list of rows
    def writeJsonArray(headers: List[JValue], body: Iterator[JValue]): Unit = {
      out.write("[")
      var first = true
      (headers.iterator ++ body).foreach { v =>
        if (!first) out.write(",")
        out.write(compact(v)); first = false
      }
      out.write("]")
    }
    def writeLines(headers: List[JValue], body: Iterator[JValue]): Unit =
      (headers.iterator ++ body).foreach { v => out.write(compact(v)); out.write("\n") }

    fmt match {
      case "object" =>
        writeJsonArray(objHeader, rows.map(objRow))
      case "array" =>
        writeJsonArray(arrHeaders, rows.map(arrRow))
      case "objectLines" =>
        writeLines(objHeader, rows.map(objRow))
      case "arrayLines" =>
        writeLines(arrHeaders, rows.map(arrRow))
      case "csv" =>
        def csvCell(v: JValue): String = v match {
          case JNull => ""
          case JString(s) =>
            if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
              "\"" + s.replace("\"", "\"\"") + "\""
            else s
          case other => compact(other)
        }
        def csvRow(vs: List[JValue]): String = vs.map(csvCell).mkString(",")
        val headerLines =
          if (!header) Nil
          else List(csvRow(names.map(JString(_)).toList)) ++
            (if (typesHeader) List(csvRow(dTypes.map(JString(_)).toList)) else Nil) ++
            (if (sqlTypesHeader) List(csvRow(sTypes.map(JString(_)).toList)) else Nil)
        (headerLines.iterator ++ rows.map(r => csvRow(r.toSeq.map(cell).toList)))
          .foreach { line => out.write(line); out.write("\n") }
      case other =>
        throw new IllegalArgumentException(s"unknown resultFormat $other")
    }
  }

  private def compact(j: JValue): String = JsonMethods.compact(JsonMethods.render(j))

  /** Spark type → reference column type name (`segment/column/ColumnType.
    * java:49-110`).
    */
  private[api] def druidType(dt: DataType): String = dt match {
    case LongType | IntegerType | ShortType | ByteType | BooleanType |
        TimestampType | DateType => "LONG"
    case DoubleType | _: DecimalType => "DOUBLE"
    case FloatType => "FLOAT"
    case StringType => "STRING"
    case ArrayType(e, _) => s"ARRAY<${druidType(e)}>"
    case BinaryType => "COMPLEX"
    case _: StructType | _: MapType | VariantType => "COMPLEX<json>"
    case _ => "COMPLEX"
  }

  /** Spark type → SQL type name (reference sqlTypesHeader row). */
  private[api] def sqlTypeName(dt: DataType): String = dt match {
    // all integral widths surface as BIGINT — the reference's only integer
    // SQL type (its LONG column type)
    case LongType | IntegerType | ShortType | ByteType => "BIGINT"
    case BooleanType => "BOOLEAN"
    case TimestampType => "TIMESTAMP"
    case DateType => "DATE"
    case DoubleType => "DOUBLE"
    case _: DecimalType => "DECIMAL"
    case FloatType => "FLOAT"
    case StringType => "VARCHAR"
    case ArrayType(_, _) => "ARRAY"
    case BinaryType => "VARBINARY"
    case _ => "OTHER"
  }

  private def str(j: JValue): Option[String] = j match {
    case JString(s) => Some(s); case _ => None
  }
  private def bool(j: JValue): Option[Boolean] = j match {
    case JBool(b) => Some(b); case _ => None
  }
}
