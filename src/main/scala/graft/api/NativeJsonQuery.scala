package graft.api

import java.time.Instant

import org.json4s._
import org.json4s.jackson.JsonMethods

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.DruidFunctions
import graft.functions.sketches.HllSketchAgg
import graft.operators.{NativeQueries => NQ}

/** Native JSON query façade — the reference's primary programmatic API
  * (`POST /druid/v2`, Jackson-deserialized `query/Query.java:74`). Accepts
  * the reference's JSON query shapes and compiles them to DataFrame plans,
  * so a caller migrating from the reference can submit the same query
  * objects. Supports all ten native query types enumerated at
  * `query/Query.java:76-86`: timeseries, topN, groupBy, scan, timeBoundary,
  * search, dataSourceMetadata, segmentMetadata, windowOperator, union.
  *
  * The translation is intentionally thin: JSON → the same `NativeQueries`
  * builders the Scala API uses → Catalyst. No new execution machinery.
  */
object NativeJsonQuery {

  def run(spark: SparkSession, dir: String, json: String): DataFrame =
    runParsed(spark, dir, JsonMethods.parse(json))

  /** The native expression language's `substring`/`strpos` differ from the
    * same-named SQL functions (0-based, NULL past end / Java indexOf with
    * -1) — Function.java:2824,2867. Expression virtual columns and
    * expression filters carry NATIVE text, so reroute those calls to the
    * druid_-prefixed builders, on the facade's tokens ([[SqlTokens]]) so a
    * string literal's content is never rewritten:
    *  - native bivariate max/min (Function.java Max:1852/Min:1879) are
    *    null-propagating scalars, not the SQL aggregates;
    *  - native `if` runs its condition through asBoolean (numerics true
    *    iff > 0), off Spark's IF (nonzero = true);
    *  - native unix_timestamp parses ISO (or a Joda pattern), not Spark's
    *    'yyyy-MM-dd HH:mm:ss' default;
    *  - the native json_value macro resolves NEGATIVE array indexes from
    *    the end (NestedPathArrayElement) — only the SQL layer's
    *    virtual-column planning nulls them — so it goes to the guard-free
    *    walker variant;
    *  - the two-arg `cast(x, 'TYPE')` (Function.java CastFunc:1986 —
    *    string→number via computeNumber, never an error) goes to
    *    `druid_cast`, while the SQL-style `CAST(x AS TYPE)` (which some
    *    native tests carry verbatim) stays on Spark's builtin: the
    *    discriminator is a top-level comma inside the call.
    *
    * Documented residual dialect divergences (operators, not function
    * names, so a lexical reroute can't fix them without a type-aware
    * parser): native `long / long` is integer division (Expr.java
    * BinDivExpr; Spark's `/` is always double — use `div(x, y)`), native
    * `^` is POWER (Spark: bitwise XOR — use `power(x, y)`), and native
    * `string + string` concatenates (Spark: numeric coercion — use
    * `concat`). The function forms are registered and exact.
    */
  private def rewriteNativeExpr(text: String): String = {
    import SqlTokens._
    val ts = lex(text)
    render(ts.indices.map { i =>
      val t = ts(i)
      val open = seq(ts, next(ts, i + 1), "(")
      if (t.kind != Word || open < 0) t
      else NativeCalls.get(t.text.toLowerCase) match {
        case Some(to) => Tok(Word, to)
        case None if t.is("cast") && splitTop(ts, open + 1, close(ts, open)).size > 1 =>
          Tok(Word, "druid_cast")
        case None => t
      }
    })
  }

  private val NativeCalls = Map("substring" -> "druid_substring",
    "strpos" -> "druid_strpos", "max" -> "druid_max", "min" -> "druid_min",
    "if" -> "druid_if", "unix_timestamp" -> "druid_unix_timestamp",
    "json_value" -> "json_value_native")

  private def nativeExpr(text: String): Column = expr(rewriteNativeExpr(text))

  private def runParsed(spark: SparkSession, dir: String, q: JValue): DataFrame = {
    graft.GraftSession.attach(spark)
    // top-level union query (reference query/union/UnionQuery.java:52):
    // concatenate sub-query results by name
    if (str(q \ "queryType").contains("union"))
      return arr(q \ "queries").map(runParsed(spark, dir, _))
        .reduce(_.unionByName(_, allowMissingColumns = true))
    val df0 = dataSource(spark, dir, q \ "dataSource")
    // virtual columns: ExpressionVirtualColumn (Spark SQL expressions) and
    // NestedFieldVirtualColumn (typed JSON-path access — struct field for
    // shredded nested columns, get_json_object for raw JSON strings)
    val df = arr(q \ "virtualColumns").foldLeft(df0) { (acc, vc) =>
      val name = str(vc \ "name").orElse(str(vc \ "outputName")).get
      str(vc \ "type") match {
        case Some("nested-field") =>
          val src = str(vc \ "columnName").get
          val path = str(vc \ "path").getOrElse("$")
          val isString = acc.schema.fields.exists(f => f.name == src &&
            f.dataType == org.apache.spark.sql.types.StringType)
          val c =
            if (isString) get_json_object(col(src), path)
            else if (path == "$") col(src)
            else expr(s"`$src`.${path.stripPrefix("$.")}")
          acc.withColumn(name, c)
        case _ =>
          acc.withColumn(name, nativeExpr(str(vc \ "expression").get))
      }
    }
    val flt = combineFilters(df, q)
    str(q \ "queryType").getOrElse("") match {
      case "timeseries"         => timeseries(df, q, flt)
      case "topN"               => topN(df, q, flt)
      case "groupBy"            => groupBy(df, q, flt)
      case "scan"               => scan(df, q, flt)
      case "timeBoundary" =>
        // TimeBoundaryQuery.bound: maxTime/minTime restrict to one column
        val tb = NQ.timeBoundary(flt.fold(df)(df.filter), Tables.TimeColumn)
        str(q \ "bound") match {
          case Some("minTime") => tb.select("min_time")
          case Some("maxTime") => tb.select("max_time")
          case _               => tb
        }
      case "dataSourceMetadata" => NQ.dataSourceMetadata(df, Tables.TimeColumn)
      case "search"             => search(df, q, flt)
      case "segmentMetadata" =>
        // reference SegmentMetadataQuery toInclude list (ListColumnIncluderator)
        val cols = arr(q \ "toInclude" \ "columns").collect { case JString(c) => c }
        NQ.segmentMetadata(flt.fold(df)(df.filter),
          if (cols.nonEmpty) cols else df.columns.toSeq)
      case "windowOperator"     => windowOperator(df, q, flt)
      case "movingAverage"      => movingAverage(df, q, flt)
      case other => throw new IllegalArgumentException(s"unsupported queryType: $other")
    }
  }

  /** Resolve a dataSource spec — all the reference's composable datasource
    * types (`query/DataSource.java` hierarchy):
    *
    *  - a plain table name, or {type: table, name} (TableDataSource)
    *  - {type: union, dataSources: [...]} (UnionDataSource — schema-merging
    *    append across tables)
    *  - {type: inline, columnNames: [...], rows: [[...]]}
    *    (InlineDataSource — literal rows shipped with the query)
    *  - {type: query, query: {...}} (QueryDataSource — a nested native
    *    query as the input relation)
    *  - {type: lookup, lookup: name} (LookupDataSource — the registered
    *    lookup as a two-column (k, v) relation)
    *  - {type: join, left, right, rightPrefix, condition, joinType}
    *    (JoinDataSource — equi-join; the right side is broadcast when it is
    *    a lookup/inline source, matching the reference's broadcast-only
    *    native join). Condition syntax is the reference's
    *    `leftCol == "prefix.rightCol"`.
    *  - {type: unnest, base, virtualColumn|column, outputName}
    *    (UnnestDataSource — correlated explode of an array/MV column)
    */
  private def dataSource(spark: SparkSession, dir: String, j: JValue): DataFrame =
    j match {
      case JString(name) => Tables.asDruid(spark, dir, name)
      case spec if str(spec \ "type").contains("union") =>
        arr(spec \ "dataSources")
          .map(d => dataSource(spark, dir, d))
          .reduce(_.unionByName(_, allowMissingColumns = true))
      case spec if str(spec \ "type").contains("inline") =>
        val names = arr(spec \ "columnNames").collect { case JString(c) => c }
        val rows = arr(spec \ "rows").map { r =>
          org.apache.spark.sql.Row(arr(r).map {
            case JString(s)  => s
            case JInt(n)     => n.toLong
            case JLong(n)    => n
            case JDouble(d)  => d
            case JBool(b)    => b
            case JNull       => null
            case other       => other.toString
          }: _*)
        }
        if (rows.isEmpty)
          throw new IllegalArgumentException("inline dataSource needs rows")
        // optional explicit columnTypes (reference InlineDataSource carries a
        // typed RowSignature, query/InlineDataSource.java:49); else infer each
        // column from its first NON-NULL cell — a null first cell must not
        // mistype the column into a runtime ClassCastException
        val declared = arr(spec \ "columnTypes").collect { case JString(c) => c }
        if (declared.nonEmpty && declared.size != names.size)
          throw new IllegalArgumentException(
            s"inline columnTypes has ${declared.size} entries for ${names.size} columns")
        def declaredType(t: String) = t.toUpperCase match {
          case "STRING"           => org.apache.spark.sql.types.StringType
          case "LONG"             => org.apache.spark.sql.types.LongType
          case "DOUBLE"           => org.apache.spark.sql.types.DoubleType
          case "FLOAT"            => org.apache.spark.sql.types.FloatType
          case "BOOLEAN"          => org.apache.spark.sql.types.BooleanType
          case o => throw new IllegalArgumentException(s"unsupported inline columnType: $o")
        }
        val fields = names.zipWithIndex.map { case (n, i) =>
          import org.apache.spark.sql.types._
          val dt =
            if (declared.nonEmpty) declaredType(declared(i))
            else {
              val vs = rows.iterator.map(_.get(i)).filter(_ != null).toList
              if (vs.isEmpty || vs.exists(_.isInstanceOf[String])) StringType
              else if (vs.exists(_.isInstanceOf[java.lang.Double])) DoubleType
              else if (vs.forall(_.isInstanceOf[java.lang.Boolean])) BooleanType
              else LongType
            }
          StructField(n, dt, nullable = true)
        }
        // coerce cells to the resolved column type (mixed int/double JSON
        // literals, or declared types wider than the literals)
        val data = rows.map(r =>
          org.apache.spark.sql.Row(fields.zipWithIndex.map { case (f, i) =>
            import org.apache.spark.sql.types._
            (r.get(i), f.dataType) match {
              case (null, _)                         => null
              case (v: java.lang.Number, DoubleType) => v.doubleValue()
              case (v: java.lang.Number, FloatType)  => v.floatValue()
              case (v: java.lang.Number, LongType)   => v.longValue()
              case (v, StringType)                   => v.toString
              case (v, _)                            => v
            }
          }: _*))
        spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](
            scala.jdk.CollectionConverters.SeqHasAsJava(data).asJava),
          org.apache.spark.sql.types.StructType(fields))
      case spec if str(spec \ "type").contains("query") =>
        runParsed(spark, dir, spec \ "query")
      case spec if str(spec \ "type").contains("lookup") =>
        val name = str(spec \ "lookup").getOrElse(
          throw new IllegalArgumentException("lookup dataSource needs a name"))
        val mapping = graft.functions.LookupRegistry.get(name).getOrElse(
          throw new IllegalArgumentException(s"unknown lookup: $name"))
        import spark.implicits._
        mapping.toSeq.sortBy(_._1).toDF("k", "v")
      case spec if str(spec \ "type").contains("join") =>
        val left = dataSource(spark, dir, spec \ "left")
        val rightSpec = spec \ "right"
        val right0 = dataSource(spark, dir, rightSpec)
        val prefix = str(spec \ "rightPrefix").getOrElse("j0.")
        val right1 = right0.columns.foldLeft(right0)((df, c) =>
          df.withColumnRenamed(c, prefix + c))
        // the reference's native join broadcasts the right side (hash-join
        // containers built from lookup/inline/broadcast segments)
        val broadcastable = Set("lookup", "inline")
          .exists(str(rightSpec \ "type").contains(_))
        val right = if (broadcastable) broadcast(right1) else right1
        val cond = str(spec \ "condition").getOrElse(
          throw new IllegalArgumentException("join dataSource needs condition"))
        // reference JoinConditionAnalysis equi-condition:  lhs == "prefix.rhs"
        val Array(lhs, rhsQuoted) = cond.split("==").map(_.trim)
        val rhs = rhsQuoted.stripPrefix("\"").stripSuffix("\"")
        val joinType = str(spec \ "joinType").getOrElse("INNER").toLowerCase
        // prefixed right columns contain a dot — backtick both sides
        left.join(right, col(s"`$lhs`") === col(s"`$rhs`"), joinType)
      // FilteredDataSource / RestrictedDataSource (reference
      // query/FilteredDataSource.java, RestrictedDataSource.java): a base
      // datasource decorated with a row-level filter / policy
      case spec if str(spec \ "type").exists(t => t == "filter" || t == "restrict") =>
        val base = dataSource(spark, dir, spec \ "base")
        val cond = spec \ "filter" match {
          case JNothing | JNull => spec \ "policy" \ "rowFilter" match {
            case JNothing | JNull => None
            case p => Some(filterExpr(p, mvLookup(base)))
          }
          case fj => Some(filterExpr(fj, mvLookup(base)))
        }
        cond.fold(base)(base.filter)
      case spec if str(spec \ "type").contains("unnest") =>
        val base = dataSource(spark, dir, spec \ "base")
        val outName = str(spec \ "outputName")
          .orElse(str(spec \ "virtualColumn" \ "outputName"))
          .getOrElse("unnested")
        val colExpr = str(spec \ "virtualColumn" \ "expression")
          .map(nativeExpr)
          .orElse(str(spec \ "column").map(col))
          .getOrElse(throw new IllegalArgumentException(
            "unnest dataSource needs column or virtualColumn"))
        base.withColumn(outName, explode(colExpr))
      case spec => str(spec \ "name") match {
        case Some(name) => Tables.asDruid(spark, dir, name)
        case None => throw new IllegalArgumentException(s"bad dataSource: $spec")
      }
    }

  /** The text part of the [[ResultCache]] key (reference
    * `CacheStrategy.computeCacheKey`): the query with ONLY the top-level
    * context stripped (a nested query-datasource's context stays in the key
    * — its flags are semantic for that subquery), and every result-affecting
    * top-level context flag folded back in explicitly, including the
    * effective maxSubqueryRows so a cached small-cap result can never
    * satisfy a stricter cap.
    */
  private def cacheKey(dir: String, parsed: JValue): String = {
    val cleaned = parsed match {
      case JObject(fs) => JObject(fs.filterNot(_._1 == "context"))
      case x           => x
    }
    val flags = Seq("skipEmptyBuckets", "useApproximateTopN", "maxSubqueryRows")
      .map(f => f + "=" + JsonMethods.compact(JsonMethods.render(
        parsed \ "context" \ f)))
    dir + "|" + JsonMethods.compact(JsonMethods.render(cleaned)) +
      "|" + flags.mkString(",")
  }

  /** Execute under the query lifecycle ([[QueryLanes.run]]): admission,
    * `context.queryId` cancellation, the `context.lane` pool and the
    * reference's `context.timeout` (millis, QueryContexts.java:47)
    * ENFORCED — the query's job group is cancelled when the deadline
    * passes, failing the collect. Result size is bounded by
    * `context.maxSubqueryRows` (default [[QueryLanes.DefaultMaxResultRows]]):
    * the collect fetches at most cap+1 rows — never the unbounded result —
    * and overflow raises [[QueryLanes.ResourceLimitExceeded]] instead of
    * OOMing the driver.
    * `context.useCache` / `populateCache` (the reference's
    * `CachingQueryRunner` flags) serve the rows through [[ResultCache]],
    * opt-in: the key is the canonical query, the built plan and the
    * version of every file it reads, and a plan it cannot version is never
    * served from it. The lookup follows the plan build, so a hit skips only
    * execution.
    */
  def execute(spark: SparkSession, dir: String, json: String)
      : Array[org.apache.spark.sql.Row] = {
    val parsed = JsonMethods.parse(json)
    val q = QueryLanes.context(parsed \ "context" \ _, "queryId")
    val maxRows = Some(q.maxRows.getOrElse(QueryLanes.DefaultMaxResultRows))
    QueryLanes.run(spark, q) {
      val df = runParsed(spark, dir, parsed)
      ResultCache.through[Array[org.apache.spark.sql.Row]](
          ResultCache.key(cacheKey(dir, parsed), df.queryExecution.analyzed),
          bool(parsed \ "context" \ "useCache").contains(true),
          bool(parsed \ "context" \ "populateCache").contains(true)) {
        val rows = QueryLanes.limited(df, maxRows).collect()
        QueryLanes.checkRows(rows.length, maxRows)
        rows
      }
    }
  }

  /** EXPLAIN PLAN FOR analog (reference `query/explain/ExplainPlan.java`):
    * the formatted physical plan of a JSON query.
    */
  def explain(spark: SparkSession, dir: String, json: String): String =
    run(spark, dir, json).queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)

  // ------------------------------------------------------------- queries ----

  private def timeseries(df: DataFrame, q: JValue, flt: Option[Column]): DataFrame = {
    // {type: duration, duration: <millis>} (reference DurationGranularity):
    // fixed-width epoch-aligned buckets, expressed as an exact-seconds
    // ISO period so the period machinery (incl. zero-fill) applies
    val duration = q \ "granularity" \ "duration" match {
      case JInt(ms)  => Some(ms.toLong)
      case JLong(ms) => Some(ms)
      case _         => None
    }
    val period = duration match {
      case Some(ms) if ms % 1000 == 0 => Some(s"PT${ms / 1000}S")
      // sub-second durations (reference DurationGranularity takes arbitrary
      // millis): ISO decimal-fraction seconds, floored in exact micros
      case Some(ms) => Some(s"PT${BigDecimal(ms) / 1000}S")
      case None => granularityPeriod(q \ "granularity")
    }
    val origin = granularityOrigin(q \ "granularity")
    // PeriodGranularity.timeZone (region ids like America/New_York or fixed
    // offsets): bucket in the zone's WALL CLOCK — floor the local time (with
    // the origin re-anchored to its local wall time), then map the local
    // bucket start back to an instant, so DST-transition days come out
    // 23h/25h with shifting UTC edges like the reference's Joda bucketing
    val tz = str(q \ "granularity" \ "timeZone")
    val aggs = aggregations(q \ "aggregations")
    val base = flt.fold(df)(df.filter)
    val bucket = (period, tz) match {
      case (Some(p), Some(z)) =>
        val localOrigin = if (origin == 0L) 0L else localWallMicros(origin, z)
        to_utc_timestamp(DruidFunctions.timeFloor(
          from_utc_timestamp(col(Tables.TimeColumn), z), p, localOrigin), z)
          .as("__bucket")
      case (Some(p), None) =>
        DruidFunctions.timeFloor(col(Tables.TimeColumn), p, origin).as("__bucket")
      case (None, _) => lit("all").as("__bucket") // granularity "all"
    }
    val agged = base.groupBy(bucket).agg(aggs.head, aggs.tail: _*)
      .withColumnRenamed("__bucket", "timestamp")
    // reference default: skipEmptyBuckets=false → zero-fill empty buckets
    // inside the query intervals (fixed-length periods; calendar months and
    // years, P<n>M and P<n>Y, are not filled; count-like aggs fill with 0,
    // others with null)
    val skipEmpty = bool(q \ "context" \ "skipEmptyBuckets").getOrElse(false)
    val allIntervals = intervalBounds(q \ "intervals")
    val filled = period match {
      case Some(p) if !skipEmpty && origin == 0L && allIntervals.nonEmpty &&
          DruidFunctions.monthsOf(p).isEmpty =>
        val spark = df.sparkSession
        val micros = DruidFunctions.periodMicros(if (p == "P1W") "P7D" else p)
        // timeFloor(P1W) = date_trunc('week') which is Monday-aligned; the
        // Monday grid origin is 1969-12-29T00:00Z (epoch - 3 days), not the
        // (Thursday) epoch itself. All other fixed periods are epoch-aligned.
        val gridOrigin = if (p == "P1W") -259200000000L else 0L
        // one bucket grid per query interval (rows in any interval must
        // survive the left join; a single-interval grid would drop the rest).
        // With a granularity timeZone the grid is generated in LOCAL wall
        // micros (fixed wall-clock steps: local midnights are 24h apart in
        // wall time even across DST) and each edge mapped back to an instant.
        val buckets = allIntervals.map { case (start0, end0) =>
          val (start, end) = tz.fold((start0, end0))(z =>
            (localWallMicros(start0, z), localWallMicros(end0, z)))
          val floorStart = start - Math.floorMod(start - gridOrigin, micros)
          val numBuckets = (end - 1 - floorStart) / micros + 1
          val localTs = timestamp_micros(col("id") * micros + lit(floorStart))
          spark.range(numBuckets)
            .select(tz.fold(localTs)(z => to_utc_timestamp(localTs, z))
              .as("timestamp"))
        }.reduce(_.union(_)).distinct()
        val countCols = arr(q \ "aggregations")
          .filter(a => str(a \ "type").contains("count"))
          .flatMap(a => str(a \ "name"))
        val joined = buckets.join(broadcast(agged), Seq("timestamp"), "left")
        countCols.foldLeft(joined)((acc, c) =>
          acc.withColumn(c, coalesce(col(c), lit(0L))))
      case _ => agged
    }
    val out = postAggregations(filled, q \ "postAggregations")
    val descending = bool(q \ "descending").getOrElse(false)
    // context.grandTotal (reference TimeseriesQueryQueryToolChest): one
    // extra all-buckets total row, emitted last with a null timestamp
    val withTotal =
      if (!bool(q \ "context" \ "grandTotal").getOrElse(false)) out
      else {
        val total = postAggregations(
          base.agg(aggs.head, aggs.tail: _*)
            .withColumn("timestamp", lit(null).cast("timestamp")),
          q \ "postAggregations")
        out.unionByName(total.select(out.columns.map(c => col(s"`$c`")): _*))
      }
    if (period.isEmpty) withTotal.drop("timestamp")
    else withTotal.orderBy(
      if (descending) col("timestamp").desc_nulls_last
      else col("timestamp").asc_nulls_last)
  }

  /** movingAverage query (reference extensions-contrib/movingAverage:
    * `MovingAverageQuery.java` + the averagers/ *Averager.java family): bucket by
    * granularity (+ optional dimensions), aggregate per bucket, then slide
    * an n-bucket window per dimension combination. Averager types:
    * long/doubleMean (sum over the frame ÷ bucket count — absent buckets
    * count as zero, the reference's Mean semantics over a zero-filled
    * timeseries), long/doubleMeanNoNulls (avg of present values),
    * long/doubleMax, long/doubleMin, long/doubleSum.
    *
    * The window slides over a DENSE zero-filled bucket grid per dimension
    * combination (reference MovingAverageIterable walks every granularity
    * bucket, absent ones as empty rows) — over present-only buckets the
    * frame offsets are wrong on sparse series. The scanned interval is
    * extended (maxBuckets-1) periods backwards so the first output bucket
    * has a full window, and the output is trimmed back to the query
    * intervals (reference MovingAverageQueryRunner).
    *
    * Scale shape: one hash aggregation to buckets, then a window shuffle
    * keyed on the dimensions — the window state is n buckets per key, never
    * raw rows, so the second exchange moves only the bucketed aggregate.
    * The grid is buckets × dimension combos, both derived from the already
    * aggregated (small) relation.
    */
  private def movingAverage(df: DataFrame, q: JValue, flt: Option[Column]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    val period = granularityPeriod(q \ "granularity").getOrElse("P1D")
    val dims = arr(q \ "dimensions").collect { case JString(d) => d }
    val aggs = aggregations(q \ "aggregations")
    val averagers = arr(q \ "averagers")
    val maxN = averagers.flatMap(av => int(av \ "buckets")).foldLeft(1)(math.max)
    val t = col(Tables.TimeColumn)
    // `flt` folds the UN-extended intervals in; rebuild the filter with the
    // warm-up extension instead
    val ivs = intervalBounds(q \ "intervals")
    val justFilter = q \ "filter" match {
      case JNothing | JNull => None
      case j => Some(filterExpr(j))
    }
    val extFilter =
      if (ivs.isEmpty) None
      else Some(ivs.map { case (s, e) =>
        t >= (timestamp_micros(lit(s)) - periodInterval(period, maxN - 1)) &&
          t < timestamp_micros(lit(e))
      }.reduce(_ || _))
    val base = List(justFilter, extFilter).flatten.foldLeft(df)(_ filter _)
    val bucket = DruidFunctions.timeFloor(t, period).as("timestamp")
    val grouped = base
      .groupBy((bucket +: dims.map(col)): _*)
      .agg(aggs.head, aggs.tail: _*)
    // dense bucket grid: from the (extended) intervals when given, else the
    // data's own bucket span
    val step = periodInterval(period)
    val gridBounds =
      if (ivs.isEmpty)
        grouped.agg(min(col("timestamp")).as("lo"), max(col("timestamp")).as("hi"))
      else ivs.map { case (s, e) =>
        spark.range(1).select(
          DruidFunctions.timeFloor(
            timestamp_micros(lit(s)) - periodInterval(period, maxN - 1), period).as("lo"),
          DruidFunctions.timeFloor(timestamp_micros(lit(e - 1)), period).as("hi"))
      }.reduce(_ union _)
    val grid = gridBounds
      .select(explode(sequence(col("lo"), col("hi"), step)).as("timestamp"))
      .distinct()
    val frame =
      if (dims.isEmpty) grid
      else grid.crossJoin(grouped.select(dims.map(col): _*).distinct())
    val countCols = arr(q \ "aggregations")
      .filter(a => str(a \ "type").contains("count")).flatMap(a => str(a \ "name"))
    val joined = frame.join(grouped, Seq("timestamp") ++ dims, "left")
    val dense = countCols.foldLeft(joined)((acc, c) =>
      acc.withColumn(c, coalesce(col(c), lit(0L))))
    val averaged = averagers.foldLeft(dense) { (acc, av) =>
      val n = int(av \ "buckets").getOrElse(
        throw new IllegalArgumentException("averager needs buckets"))
      val name = str(av \ "name").get
      val field = col(str(av \ "fieldName").get)
      val w = Window.partitionBy(dims.map(col): _*)
        .orderBy(col("timestamp")).rowsBetween(-(n - 1), 0)
      val out = str(av \ "type").getOrElse("") match {
        // Mean: frame sum ÷ n, absent buckets counting as zero (sum skips
        // the nulls the left join introduced; the divisor stays n)
        case "doubleMean" | "longMean"               => sum(field).over(w) / n
        case "doubleMeanNoNulls" | "longMeanNoNulls" => avg(field).over(w)
        case "doubleMax" | "longMax"                 => max(field).over(w)
        case "doubleMin" | "longMin"                 => min(field).over(w)
        case "doubleSum" | "longSum"                 => sum(field).over(w)
        case o => throw new IllegalArgumentException(s"unsupported averager: $o")
      }
      acc.withColumn(name, out)
    }
    // trim the warm-up buckets back out
    val trimmed =
      if (ivs.isEmpty) averaged
      else averaged.filter(ivs.map { case (s, e) =>
        col("timestamp") >= DruidFunctions.timeFloor(timestamp_micros(lit(s)), period) &&
          col("timestamp") < timestamp_micros(lit(e))
      }.reduce(_ || _))
    val withPost = postAggregations(trimmed, q \ "postAveragers")
    withPost.orderBy((col("timestamp") +: dims.map(col)): _*)
  }

  /** An ISO period × n as a Spark interval column (calendar periods as
    * year-month intervals, fixed-length ones as day-time intervals).
    */
  private def periodInterval(period: String, n: Int = 1): Column = period match {
    case "P1Y" => make_ym_interval(lit(n), lit(0))
    case "P3M" => make_ym_interval(lit(0), lit(3 * n))
    case "P1M" => make_ym_interval(lit(0), lit(n))
    case p =>
      val us = DruidFunctions.periodMicros(if (p == "P1W") "P7D" else p) * n
      make_dt_interval(lit(0), lit(0), lit(0),
        lit(new java.math.BigDecimal(us).movePointLeft(6)))
  }

  /** (startMicros, endMicros) of every query interval. */
  private def intervalBounds(j: JValue): List[(Long, Long)] =
    arr(j).collect { case JString(s) =>
      val Array(a, b) = s.split("/")
      def us(x: String) = {
        val i = Instant.parse(x); i.getEpochSecond * 1000000L + i.getNano / 1000L
      }
      (us(a), us(b))
    }

  private def topN(df0: DataFrame, q: JValue, flt: Option[Column]): DataFrame = {
    val dim = str(q \ "dimension").orElse(str(q \ "dimension" \ "dimension"))
      .getOrElse(throw new IllegalArgumentException("dimension required"))
    // MVD dimension: one entry per value (reference topN over multi-value)
    val df = explodeMvdDims(df0, Seq(dim))
    val k = int(q \ "threshold").getOrElse(10)
    val aggs = aggregations(q \ "aggregations")
    // metric spec (reference TopNMetricSpec hierarchy): a plain string or
    // {type: numeric|dimension}, optionally wrapped in {type: inverted,
    // metric: <delegate>} which flips the ordering (bottom-K)
    val metricSpec0 = q \ "metric"
    val inverted = str(metricSpec0 \ "type").contains("inverted")
    val metricSpec = if (inverted) metricSpec0 \ "metric" else metricSpec0
    // context.useApproximateTopN routes count/sum metrics through the
    // custom per-partition approximate operator (the reference's default
    // topN behavior; exact remains OUR default because the oracle is exact)
    val useApprox = bool(q \ "context" \ "useApproximateTopN").getOrElse(false)
    // only when ordering by THE aggregate itself: a dimension-ordered
    // metric spec, or a metric name that is not the single aggregator,
    // must fall through to the exact paths
    val approxable = arr(q \ "aggregations") match {
      case List(a) => str(a \ "type").exists(
        t => t == "count" || t == "longSum" || t == "doubleSum") &&
        !str(metricSpec \ "type").contains("dimension") &&
        str(metricSpec).orElse(str(metricSpec \ "metric")) == str(a \ "name")
      case _ => false
    }
    if (useApprox && approxable && !inverted) {
      val a = arr(q \ "aggregations").head
      val name = str(a \ "name").getOrElse("agg")
      val valueCol =
        if (str(a \ "type").contains("count")) None else str(a \ "fieldName")
      val base = flt.fold(df)(df.filter)
      val out = graft.plans.ApproxTopN.approxTopN(base, dim, valueCol, k)
      if (str(a \ "type").contains("doubleSum"))
        out.withColumnRenamed("metric", name)
      else out.select(col(dim), col("metric").cast("long").as(name))
    } else if (str(metricSpec \ "type").contains("dimension")) {
      // DimensionTopNMetricSpec (reference DimensionTopNMetricSpec.java):
      // ordered by the dimension value under a named comparator
      // (StringComparators: lexicographic / alphanumeric / numeric /
      // strlen / version), with previousStop pagination
      val ordering = str(metricSpec \ "ordering").getOrElse("lexicographic")
      val key = dimensionOrderKey(col(dim), ordering)
      val base0 = flt.fold(df)(df.filter)
      // previousStop pagination in COMPARATOR space: pages sort by the
      // comparator key, so the resume bound must too — a raw-string bound
      // under a non-lexicographic comparator (numeric, alphanumeric, …)
      // would skip/repeat values whose string and comparator orders differ.
      // Ties in the key (e.g. strlen) break on the raw dimension, matching
      // the page ordering's (key, dim) tiebreak exactly.
      val base = str(metricSpec \ "previousStop").fold(base0) { v =>
        val stopKey = dimensionOrderKey(lit(v), ordering)
        base0.filter(
          if (inverted) key < stopKey || (key === stopKey && col(dim) < lit(v))
          else key > stopKey || (key === stopKey && col(dim) > lit(v)))
      }
      val order =
        if (inverted) Seq(key.desc, col(dim).desc)
        else Seq(key.asc, col(dim).asc)
      base.groupBy(col(dim)).agg(aggs.head, aggs.tail: _*)
        .orderBy(order: _*).limit(k)
    } else {
      val metric = str(metricSpec).orElse(str(metricSpec \ "metric"))
        .getOrElse(throw new IllegalArgumentException("metric required"))
      val postAggNames = arr(q \ "postAggregations").flatMap(p => str(p \ "name"))
      if (postAggNames.contains(metric)) {
        // NumericTopNMetricSpec naming a post-aggregator: compute post-aggs
        // before the ordering/limit (reference orders on finalized values)
        val base = flt.fold(df)(df.filter)
        val withPost = postAggregations(
          base.groupBy(col(dim)).agg(aggs.head, aggs.tail: _*),
          q \ "postAggregations")
        withPost.orderBy(
          (if (inverted) col(metric).asc else col(metric).desc), col(dim).asc)
          .limit(k)
      } else postAggregations(
        NQ.topN(df, col(dim), aggs, metric, k,
          filter = flt, tiebreak = Seq(col(dim).asc), ascending = inverted),
        q \ "postAggregations")
    }
  }

  /** Sort key for a named dimension comparator (reference
    * `query/ordering/StringComparators.java`). Alphanumeric/version compare
    * digit runs numerically inside otherwise-lexicographic strings — here
    * each digit run is zero-padded to 20 places so a plain string sort
    * agrees with the reference up to 20-digit numbers.
    */
  private def dimensionOrderKey(c: Column, ordering: String): Column =
    ordering match {
      case "lexicographic" => c
      case "numeric" => c.cast("double")
      case "strlen" => length(c)
      case "alphanumeric" | "version" =>
        array_join(transform(
          regexp_extract_all(c, lit("[0-9]+|[^0-9]+"), lit(0)),
          t => when(t.rlike("^[0-9]+$"), lpad(t, 20, "0")).otherwise(t)), "")
      case o => throw new IllegalArgumentException(
        s"unsupported dimension ordering: $o")
    }

  /** A dimension reference that tolerates literal dots in column names
    * (join-datasource outputs are prefixed `j0.col`): when the frame has a
    * column whose NAME is the dotted string, reference it backticked;
    * otherwise keep dot-path semantics (nested struct fields).
    */
  private def dimRef(df: DataFrame, name: String): Column =
    if (name.contains(".") && df.columns.contains(name)) col(s"`$name`")
    else col(name)

  /** Multi-value dimension grouping semantics (reference
    * `MultiValuedDimensionTest` / `DimensionSelector`): grouping on an MVD
    * column produces one output row PER VALUE — rows explode along each
    * array-typed dimension before the aggregate (empty/null arrays
    * contribute a null group, like the reference's null row). Scalar dims
    * pass through untouched.
    */
  private def explodeMvdDims(df0: DataFrame, dimNames: Seq[String]): DataFrame =
    dimNames.foldLeft(df0) { (acc, d) =>
      acc.schema.fields.find(_.name == d) match {
        case Some(f) if f.dataType.isInstanceOf[
            org.apache.spark.sql.types.ArrayType] =>
          acc.withColumn(d, explode_outer(col(s"`$d`")))
        case _ => acc
      }
    }

  /** Value-filtering dimension specs over MVD cells (reference
    * ListFilteredDimensionSpec / PrefixFilteredDimensionSpec /
    * RegexFilteredDimensionSpec): keep only matching values WITHIN each
    * multi-value cell; the delegate may be a plain name or a nested spec.
    */
  private def filteredDimColumn(spec: JValue): Option[Column] = {
    def delegateCol: Column = spec \ "delegate" match {
      case JString(d) => col(d)
      case del => filteredDimColumn(del).getOrElse(
        col(str(del \ "dimension").getOrElse(
          throw new IllegalArgumentException("filtered spec needs a delegate"))))
    }
    str(spec \ "type") match {
      case Some("listFiltered") =>
        val values = arr(spec \ "values").flatMap(str(_))
        val white = bool(spec \ "isWhitelist").getOrElse(true)
        Some(filter(delegateCol, x =>
          if (white) x.isin(values: _*) else !x.isin(values: _*)))
      case Some("prefixFiltered") =>
        Some(filter(delegateCol, _.startsWith(str(spec \ "prefix").getOrElse(""))))
      case Some("regexFiltered") =>
        Some(filter(delegateCol, _.rlike(str(spec \ "pattern").getOrElse(".*"))))
      case _ => None
    }
  }

  private def groupBy(df0: DataFrame, q: JValue, flt: Option[Column]): DataFrame = {
    // materialize value-filtering dimension specs as real columns first so
    // the MVD explode below sees them (filter-within-cell, THEN one row per
    // surviving value — reference ListFilteredDimensionSpec order)
    var base = df0
    val dimSpecs = arr(q \ "dimensions").map { spec =>
      filteredDimColumn(spec) match {
        case Some(c) =>
          val out = str(spec \ "outputName")
            .orElse(str(spec \ "delegate"))
            .orElse(str(spec \ "delegate" \ "dimension"))
            .getOrElse("dim")
          val tmp = s"__dim_$out"
          base = base.withColumn(tmp, c)
          JObject("dimension" -> JString(tmp), "outputName" -> JString(out))
        case None => spec
      }
    }
    val df = explodeMvdDims(base,
      dimSpecs.collect { case JString(d) => d } ++
        dimSpecs.flatMap(spec => str(spec \ "dimension")))
    // (outputName, dim column) — subtotalsSpec subsets are defined over
    // dimension OUTPUT names, which may alias derived expressions
    val namedDims: List[(String, Column)] = dimSpecs.map {
      case JString(d) => d -> dimRef(df, d)
      // LookupDimensionSpec (reference LookupDimensionSpec.java): the
      // dimension mapped through an inline map or a registered lookup,
      // with the shared missing-value policy
      case spec if str(spec \ "type").contains("lookup") =>
        val d = str(spec \ "dimension").get
        val m: Map[String, String] = spec \ "lookup" \ "map" match {
          case JObject(fields) => fields.map { case (k, v) =>
            k -> (v match { case JString(s) => s; case o => o.values.toString })
          }.toMap
          case _ => str(spec \ "name")
            .flatMap(graft.functions.LookupRegistry.get).getOrElse(
              throw new IllegalArgumentException(
                "lookup dimension spec needs lookup.map or a registered name"))
        }
        val out = str(spec \ "outputName").getOrElse(d)
        out -> lookupExtract(col(d), m, spec).as(out)
      case spec =>
        val d = str(spec \ "dimension").get
        // extraction dimension spec (reference ExtractionDimensionSpec):
        // the full ExtractionFn family applies to the dimension
        val base = spec \ "extractionFn" match {
          case JNothing | JNull => col(d)
          case fn               => extractionColumn(fn, col(d))
        }
        str(spec \ "outputName") match {
          case Some(o) => o -> base.as(o)
          case None    => d -> base
        }
    }
    val dims = namedDims.map(_._2)
    val aggs = aggregations(q \ "aggregations")
    val having = q \ "having" match {
      case JNothing | JNull => None
      case h => Some(havingFilter(h))
    }
    val (orderCols, limit) = q \ "limitSpec" match {
      case JNothing | JNull => (Nil, None)
      case ls =>
        val cols = arr(ls \ "columns").map {
          case JString(c) => col(c).asc
          case spec =>
            // OrderByColumnSpec.dimensionOrder: named comparator applied to
            // the ordering key (same StringComparators family as topN)
            val c0 = col(str(spec \ "dimension").get)
            val c = str(spec \ "dimensionOrder")
              .fold(c0)(dimensionOrderKey(c0, _))
            if (str(spec \ "direction").contains("descending")) c.desc else c.asc
        }
        (cols, int(ls \ "limit"))
    }
    // subtotalsSpec (reference GroupByQuery.java:124): compute only the
    // listed dimension subsets; dims absent from a subset come back null.
    // Direct map onto GROUPING SETS — one shuffle, expand-based, no
    // re-aggregation per subset.
    val subtotals = arr(q \ "subtotalsSpec")
      .map(s => arr(s).collect { case JString(d) => d })
    val out =
      if (subtotals.nonEmpty) {
        val byName = namedDims.toMap
        val subsets = subtotals.map(_.map(n => byName.getOrElse(n,
          throw new IllegalArgumentException(s"subtotal dim not in dimensions: $n"))))
        val base = flt.fold(df)(df.filter)
        var g = base.groupingSets(subsets, dims: _*)
          .agg(aggs.head, aggs.tail: _*)
        g = having.fold(g)(g.filter)
        if (orderCols.nonEmpty) g = g.orderBy(orderCols: _*)
        limit.fold(g)(g.limit)
      } else NQ.groupBy(df, dims, aggs, filter = flt, having = having,
        orderBy = orderCols, limit = limit)
    postAggregations(out, q \ "postAggregations")
  }

  private def scan(df: DataFrame, q: JValue, flt: Option[Column]): DataFrame = {
    val cols = arr(q \ "columns").collect { case JString(c) => c } match {
      case Nil => df.columns.toSeq
      case cs  => cs
    }
    val order = str(q \ "order") match {
      case Some("descending") => Seq(col(Tables.TimeColumn).desc)
      case Some("ascending")  => Seq(col(Tables.TimeColumn).asc)
      case _                  => Nil
    }
    val projected = NQ.scan(df, cols, filter = flt, orderBy = order,
      limit = int(q \ "limit"), offset = int(q \ "offset").getOrElse(0))
    // resultFormat (reference query/scan/ScanQuery.java:65-67): "list"
    // (default) = named columns per row; "compactedList" = each row as a
    // positional value array in declared column order (the reference's
    // compact wire shape)
    str(q \ "resultFormat") match {
      case Some("compactedList") =>
        projected.select(array(
          cols.map(c => col(c).cast("string")): _*).as("events"))
      case _ => projected
    }
  }

  /** windowOperator query (reference `query/operator/WindowOperatorQuery
    * .java:56`): an operatorDefinition pipeline of naivePartition /
    * naiveSort / window-processor stages compiled onto one Spark window
    * spec — partitioning and ordering become the window frame, each
    * processor a window function column.
    */
  private def windowOperator(df: DataFrame, q: JValue, flt: Option[Column]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = flt.fold(df)(df.filter)
    val ops = arr(q \ "operatorDefinition")
    val partCols = ops.find(o => str(o \ "type").contains("naivePartition"))
      .map(o => arr(o \ "partitionColumns").collect { case JString(c) => col(c) })
      .getOrElse(Nil)
    val sortCols = ops.find(o => str(o \ "type").contains("naiveSort"))
      .map(o => arr(o \ "columns").map {
        case JString(c) => col(c).asc
        case spec =>
          val c = col(str(spec \ "column").get)
          if (str(spec \ "direction").exists(_.toUpperCase.startsWith("DESC")))
            c.desc else c.asc
      }).getOrElse(Nil)
    val w0 = Window.partitionBy(partCols: _*)
    val w = if (sortCols.nonEmpty) w0.orderBy(sortCols: _*) else w0
    val procs = ops.filter(o => str(o \ "type").contains("window"))
      .flatMap(o => arr(o \ "processors"))
    procs.foldLeft(base) { (acc, p) =>
      val out = str(p \ "outputColumn").getOrElse("w")
      def in = col(str(p \ "inputColumn").get)
      str(p \ "type").getOrElse("") match {
        // framed aggregate (reference WindowFramedAggregateProcessor):
        // any aggregator over a ROWS frame; {"frame": {"lower": -2,
        // "upper": 0}} with missing bounds = unbounded
        case "framedAgg" =>
          val lower = int(p \ "frame" \ "lower")
            .map(_.toLong).getOrElse(Window.unboundedPreceding)
          val upper = int(p \ "frame" \ "upper")
            .map(_.toLong).getOrElse(Window.unboundedFollowing)
          val framed = w.rowsBetween(lower, upper)
          arr(p \ "aggregations").foldLeft(acc) { (a, aggJson) =>
            val (name, agg) = aggregationNamed(aggJson)
            a.withColumn(name, agg.over(framed))
          }
        // reference WindowFirstProcessor/WindowLastProcessor return the
        // PARTITION first/last; with an ordered window Spark's default
        // frame ends at the current row, so first/last need the full frame
        case "first" =>
          acc.withColumn(out, first(in).over(
            w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        case "last" =>
          acc.withColumn(out, last(in).over(
            w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        case t =>
          val fn = t match {
            case "rowNumber"   => row_number()
            case "rank"        => rank()
            case "denseRank"   => dense_rank()
            case "cumeDist"    => cume_dist()
            case "percentRank" => percent_rank()
            case "lag"         => lag(in, int(p \ "offset").getOrElse(1))
            case "lead"        => lead(in, int(p \ "offset").getOrElse(1))
            case other => throw new IllegalArgumentException(s"unsupported processor: $other")
          }
          acc.withColumn(out, fn.over(w))
      }
    }
  }

  /** Search query (`query/search/SearchQuery.java`): per-dimension value
    * counts of values matched by any SearchQuerySpec type, with an optional
    * result limit.
    */
  private def search(df: DataFrame, q: JValue, flt: Option[Column]): DataFrame = {
    val dims = arr(q \ "searchDimensions").collect { case JString(d) => d }
    val base = flt.fold(df)(df.filter)
    val out = dims.map { d =>
      base.filter(searchPredicate(q \ "query", col(d)))
        .groupBy(lit(d).as("dimension"), col(d).cast("string").as("value"))
        .agg(count(lit(1)).as("cnt"))
    }.reduce(_ unionAll _).orderBy(col("dimension"), col("value"))
    int(q \ "limit").fold(out)(out.limit)
  }

  // ------------------------------------------------------------- filters ----

  /** Array-typed (multi-value) column test against a frame's schema. */
  private def mvLookup(df: DataFrame): String => Boolean = { name =>
    df.schema.fields.exists(fld => fld.name == name &&
      fld.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
  }

  private def combineFilters(df: DataFrame, q: JValue): Option[Column] = {
    val f = q \ "filter" match {
      case JNothing | JNull => None
      case j => Some(filterExpr(j, mvLookup(df)))
    }
    val iv = intervalsFilter(q \ "intervals")
    (f, iv) match {
      case (Some(a), Some(b)) => Some(a && b)
      case (a, b)             => a.orElse(b)
    }
  }

  private def intervalsFilter(j: JValue): Option[Column] = {
    val ivs = arr(j).collect { case JString(s) => s }
    if (ivs.isEmpty) None
    else Some(ivs.map { iv =>
      val Array(a, b) = iv.split("/")
      val t = col(Tables.TimeColumn)
      t >= lit(Instant.parse(a).toString).cast("timestamp") &&
        t < lit(Instant.parse(b).toString).cast("timestamp")
    }.reduce(_ || _))
  }

  /** Apply an extraction fn (reference ExtractionDimFilter: the filter
    * compares the EXTRACTED value) to the dimension column, if present.
    */
  private def dimWithExtraction(j: JValue): Column = {
    val base = col(str(j \ "dimension").get)
    j \ "extractionFn" match {
      case JNothing | JNull => base
      case fn               => extractionColumn(fn, base)
    }
  }

  /** The reference's ExtractionFn family
    * (`query/extraction/ExtractionFn.java` hierarchy), as a pure Column
    * transform — every member stays inside whole-stage codegen (string /
    * regex / map expressions; no UDFs):
    *
    *  - substring / upper / lower / strlen / identity
    *  - timeFormat {format, timeZone} (TimeFormatExtractionFn — formats a
    *    timestamp column, optionally in a zone)
    *  - time {timeFormat, resultFormat} (TimeDimExtractionFn — reparses a
    *    STRING dim with one format, emits another)
    *  - regex {expr, index, replaceMissingValue, replaceMissingValueWith}
    *    (RegexDimExtractionFn — group extract; on no-match retains the
    *    input unless replaceMissingValue)
    *  - partial {expr} (MatchingDimExtractionFn — value if it matches,
    *    else null)
    *  - searchQuery {query} (SearchQuerySpecDimExtractionFn)
    *  - stringFormat {format, nullHandling nullString|emptyString|returnNull}
    *  - bucket {size, offset} (BucketExtractionFn — numeric bucket floor)
    *  - cascade {extractionFns: [...]} (left-to-right composition)
    *  - lookup {lookup: {map}} / registeredLookup {lookup: name} with
    *    retainMissingValue / replaceMissingValueWith / injective knobs
    *    (LookupExtractionFn / RegisteredLookupExtractionFn)
    */
  private def extractionColumn(fn: JValue, base: Column): Column =
    str(fn \ "type").getOrElse("") match {
      case "identity" => base
      case "substring" =>
        val idx = int(fn \ "index").getOrElse(0)
        int(fn \ "length") match {
          case Some(len) => substring(base, idx + 1, len)
          case None      => base.substr(lit(idx + 1), length(base))
        }
      case "upper"  => upper(base)
      case "lower"  => lower(base)
      case "strlen" => length(base).cast("string")
      case "timeFormat" =>
        // format is Joda syntax (TimeFormatExtractionFn) — translate
        val f = graft.functions.DruidFunctions.jodaToJavaPattern(
          str(fn \ "format").getOrElse("yyyy-MM-dd"))
        val t = str(fn \ "timeZone").map(z => from_utc_timestamp(base, z))
          .getOrElse(base)
        date_format(t, f)
      case "time" =>
        date_format(
          to_timestamp(base, graft.functions.DruidFunctions.jodaToJavaPattern(
            str(fn \ "timeFormat").get)),
          graft.functions.DruidFunctions.jodaToJavaPattern(
            str(fn \ "resultFormat").get))
      case "regex" =>
        val pat = str(fn \ "expr").get
        val idx = int(fn \ "index").getOrElse(1)
        val s = base.cast("string")
        val onMiss =
          if (bool(fn \ "replaceMissingValue").getOrElse(false))
            str(fn \ "replaceMissingValueWith").map(lit)
              .getOrElse(lit(null).cast("string"))
          else s
        when(s.rlike(pat), regexp_extract(s, pat, idx)).otherwise(onMiss)
      case "partial" =>
        val s = base.cast("string")
        when(s.rlike(str(fn \ "expr").get), s).otherwise(lit(null).cast("string"))
      case "searchQuery" =>
        val s = base.cast("string")
        when(searchPredicate(fn \ "query", s), s)
          .otherwise(lit(null).cast("string"))
      case "stringFormat" =>
        val f = str(fn \ "format").get
        str(fn \ "nullHandling").getOrElse("nullString") match {
          case "returnNull" =>
            when(base.isNull, lit(null).cast("string"))
              .otherwise(format_string(f, base))
          case "emptyString" =>
            format_string(f, coalesce(base.cast("string"), lit("")))
          case _ => // nullString: java String.format prints null as "null"
            format_string(f, coalesce(base.cast("string"), lit("null")))
        }
      case "bucket" =>
        val size = double(fn \ "size").getOrElse(1.0)
        val off  = double(fn \ "offset").getOrElse(0.0)
        floor((base.cast("double") - off) / size) * size + off
      case "cascade" =>
        arr(fn \ "extractionFns").foldLeft(base)((c, f) => extractionColumn(f, c))
      case "lookup" =>
        val m = fn \ "lookup" \ "map" match {
          case JObject(fields) => fields.map { case (k, v) =>
            k -> (v match { case JString(s) => s; case o => o.values.toString })
          }.toMap
          case _ => Map.empty[String, String]
        }
        lookupExtract(base, m, fn)
      case "registeredLookup" =>
        val name = str(fn \ "lookup").getOrElse(
          throw new IllegalArgumentException("registeredLookup needs a name"))
        val m = graft.functions.LookupRegistry.get(name).getOrElse(
          throw new IllegalArgumentException(s"unknown lookup: $name"))
        lookupExtract(base, m, fn)
      case o => throw new IllegalArgumentException(s"unsupported extractionFn: $o")
    }

  /** Shared LookupExtractionFn semantics: a broadcast map literal probe
    * (element_at of a map literal — stays in codegen), then the reference's
    * missing-value policy.
    */
  private def lookupExtract(base: Column, m: Map[String, String], fn: JValue): Column = {
    val probed =
      if (m.isEmpty) lit(null).cast("string")
      else element_at(typedLit(m), base.cast("string"))
    if (bool(fn \ "retainMissingValue").getOrElse(false))
      coalesce(probed, base.cast("string"))
    else str(fn \ "replaceMissingValueWith") match {
      case Some(r) => coalesce(probed, lit(r))
      case None    => probed
    }
  }

  /** SearchQuerySpec match predicate (`query/search/SearchQuerySpec.java`
    * hierarchy: Contains / InsensitiveContains / Fragment / Regex), shared
    * by the search query, search-as-filter, and searchQuery extraction fn.
    */
  private def searchPredicate(q: JValue, c: Column): Column = {
    def ci(needle: String) = lower(c).contains(needle.toLowerCase)
    str(q \ "type").getOrElse("contains") match {
      case "contains" =>
        val v = str(q \ "value").get
        if (bool(q \ "caseSensitive").getOrElse(false)) c.contains(v) else ci(v)
      case "insensitive_contains" => ci(str(q \ "value").get)
      case "fragment" =>
        val cs = bool(q \ "caseSensitive").getOrElse(false)
        arr(q \ "values").flatMap(str)
          .map(v => if (cs) c.contains(v) else ci(v))
          .reduce(_ && _)
      case "regex" => c.rlike(str(q \ "pattern").get)
      case o => throw new IllegalArgumentException(s"unsupported search query: $o")
    }
  }

  /** Filter tree → predicate. `isMv` marks multi-value (array-typed)
    * dimensions: the reference's value matchers run per element, so a
    * filter on an MVD matches rows where ANY value satisfies it
    * (`MultiValuedDimensionTest` filter semantics), and the null filter
    * matches null/empty arrays.
    */
  private[api] def filterExpr(j: JValue,
                              isMv: String => Boolean = _ => false): Column = {
    // pred over the dimension: per-element under exists() when MVD
    def mvAware(dim: String, pred: Column => Column): Column =
      if (isMv(dim)) exists(col(dim), pred) else pred(col(dim))
    def f(x: JValue): Column = filterExpr(x, isMv)
    str(j \ "type").getOrElse("") match {
    case "selector" =>
      val dim = str(j \ "dimension").getOrElse("")
      val hasFn = (j \ "extractionFn") != JNothing && (j \ "extractionFn") != JNull
      if (hasFn || !isMv(dim)) dimWithExtraction(j) === literal(j \ "value")
      else j \ "value" match {
        case JNothing | JNull => col(dim).isNull || size(col(dim)) === 0
        case v => mvAware(dim, _ === literal(v))
      }
    case "equals" =>
      mvAware(str(j \ "column").get, _ === literal(j \ "matchValue"))
    case "in" =>
      val values = arr(j \ "values").map(jvalue)
      mvAware(str(j \ "dimension").get, _.isin(values: _*))
    case "bound" =>
      val lower = j \ "lower" match { case JNothing | JNull => None; case v => Some(v) }
      val upper = j \ "upper" match { case JNothing | JNull => None; case v => Some(v) }
      val ls = bool(j \ "lowerStrict").getOrElse(false)
      val us = bool(j \ "upperStrict").getOrElse(false)
      mvAware(str(j \ "dimension").get, c =>
        (lower.map(v => if (ls) c > literal(v) else c >= literal(v)).toSeq ++
          upper.map(v => if (us) c < literal(v) else c <= literal(v)).toSeq)
          .reduce(_ && _))
    case "range" =>
      val lower = j \ "lower" match { case JNothing | JNull => None; case v => Some(v) }
      val upper = j \ "upper" match { case JNothing | JNull => None; case v => Some(v) }
      val lo = bool(j \ "lowerOpen").getOrElse(false)
      val uo = bool(j \ "upperOpen").getOrElse(false)
      mvAware(str(j \ "column").get, c =>
        (lower.map(v => if (lo) c > literal(v) else c >= literal(v)).toSeq ++
          upper.map(v => if (uo) c < literal(v) else c <= literal(v)).toSeq)
          .reduce(_ && _))
    case "like" =>
      mvAware(str(j \ "dimension").get, _.like(str(j \ "pattern").get))
    case "regex" =>
      mvAware(str(j \ "dimension").get, _.rlike(str(j \ "pattern").get))
    case "null" =>
      val d = str(j \ "column").get
      if (isMv(d)) col(d).isNull || size(col(d)) === 0 else col(d).isNull
    case "not"   => !f(j \ "field")
    case "and"   => arr(j \ "fields").map(f).reduce(_ && _)
    case "or"    => arr(j \ "fields").map(f).reduce(_ || _)
    case "true"  => lit(true)
    case "false" => lit(false)
    // IsBooleanDimFilter (reference query/filter/IsBooleanDimFilter.java):
    // null-safe three-valued wrap — isFalse matches only definite false,
    // never null, hence <=> not ===
    case "istrue"  => f(j \ "field") <=> lit(true)
    case "isfalse" => f(j \ "field") <=> lit(false)
    // ColumnComparisonDimFilter: rows where all listed dimensions carry the
    // same value, compared as strings (the reference compares dimension
    // values, which are strings); null == null matches
    case "columnComparison" =>
      val dims = arr(j \ "dimensions").map {
        case JString(d) => col(d).cast("string")
        case spec       => dimWithExtraction(spec).cast("string")
      }
      dims.zip(dims.tail).map { case (a, b) => a <=> b }.reduce(_ && _)
    // ArrayContainsElementFilter (reference query/filter/
    // ArrayContainsElementFilter.java)
    case "arrayContainsElement" =>
      array_contains(col(str(j \ "column").get), literal(j \ "elementMatchValue"))
    // SearchQueryDimFilter: the search *query* spec reused as a filter
    // (reference query/search/*SearchQuerySpec.java)
    case "search" =>
      val dim = str(j \ "dimension").getOrElse("")
      val hasFn = (j \ "extractionFn") != JNothing && (j \ "extractionFn") != JNull
      if (!hasFn && isMv(dim))
        exists(col(dim), x => searchPredicate(j \ "query", x))
      else searchPredicate(j \ "query", dimWithExtraction(j))
    // SpatialDimFilter over a comma-joined "x,y" spatial dimension (the
    // reference's storage convention for spatial dims); bound types
    // rectangular/radius/polygon from query/filter/SpatialDimFilter.java
    case "spatial" =>
      val d = split(col(str(j \ "dimension").get), ",")
      val x = element_at(d, 1).cast("double")
      val y = element_at(d, 2).cast("double")
      def nums(v: JValue) = arr(v).flatMap(double)
      val b = j \ "bound"
      str(b \ "type").getOrElse("") match {
        case "rectangular" =>
          val mins = nums(b \ "minCoords"); val maxs = nums(b \ "maxCoords")
          graft.functions.SpatialFilters.rectangular(
            x, y, mins(0), mins(1), maxs(0), maxs(1))
        case "radius" =>
          val cs = nums(b \ "coords")
          graft.functions.SpatialFilters.radius(
            x, y, cs(0), cs(1), double(b \ "radius").get)
        case "polygon" =>
          graft.functions.SpatialFilters.polygon(
            x, y, nums(b \ "abscissa").zip(nums(b \ "ordinate")))
        case o => throw new IllegalArgumentException(s"unsupported spatial bound: $o")
      }
    case other   => throw new IllegalArgumentException(s"unsupported filter: $other")
    }
  }

  // -------------------------------------------------------- aggregations ----

  private def aggregations(j: JValue): Seq[Column] = {
    val aggs = arr(j).map(aggregation)
    if (aggs.isEmpty) Seq(count(lit(1)).as("count")) else aggs
  }

  private[api] def aggregation(j: JValue): Column = {
    val (name, c) = aggregationNamed(j)
    c.as(name)
  }

  /** (outputName, UNALIASED aggregate column) — window paths need the raw
    * aggregate (an Alias cannot be `.over()`d).
    */
  private[api] def aggregationNamed(j: JValue): (String, Column) = {
    val name = str(j \ "name").getOrElse("agg")
    val field = str(j \ "fieldName").map(col)
    def f = field.getOrElse(throw new IllegalArgumentException(s"fieldName required for $name"))
    val c = str(j \ "type").getOrElse("") match {
      case "count"                               => count(lit(1))
      case "longSum"                             => sum(f).cast("long")
      case "doubleSum" | "floatSum"              => sum(f.cast("double"))
      case "longMin"                             => min(f).cast("long")
      case "longMax"                             => max(f).cast("long")
      case "doubleMin" | "floatMin"              => min(f.cast("double"))
      case "doubleMax" | "floatMax"              => max(f.cast("double"))
      case "doubleMean"                          => avg(f)
      case "longFirst"                           => min_by(f, col(Tables.TimeColumn)).cast("long")
      case "longLast"                            => max_by(f, col(Tables.TimeColumn)).cast("long")
      case "doubleFirst" | "floatFirst" | "stringFirst" =>
        min_by(f, col(Tables.TimeColumn))
      case "doubleLast" | "floatLast" | "stringLast" =>
        max_by(f, col(Tables.TimeColumn))
      case "longAny" | "doubleAny" | "floatAny" | "stringAny" => any_value(f)
      // SingleValueAggregatorFactory (scalar-subquery enforcement): exactly
      // one input value, else the reference errors
      case "singleValue" =>
        when(count(lit(1)) === 1, any_value(f)).otherwise(
          raise_error(lit("singleValue aggregator saw more than one row")))
      // stats extension: variance/stddev with estimator population|sample
      case "variance" =>
        if (str(j \ "estimator").contains("population")) var_pop(f.cast("double"))
        else var_samp(f.cast("double"))
      case "stddev" =>
        if (str(j \ "estimator").contains("population")) stddev_pop(f.cast("double"))
        else stddev_samp(f.cast("double"))
      // GroupingAggregatorFactory → grouping_id over the listed groupings
      case "grouping" =>
        grouping_id(arr(j \ "groupings").collect { case JString(d) => col(d) }: _*)
      // HistogramAggregatorFactory: explicit breaks → (breaks, counts)
      // struct; values outside the break range fall into the open-ended
      // end buckets like the reference's Histogram.offer
      case "histogram" =>
        val breaks = arr(j \ "breaks").flatMap(double(_))
        require(breaks.size >= 2, "histogram needs >= 2 breaks")
        val inner = breaks.sliding(2).toSeq.map { case Seq(lo, hi) =>
          sum(when(f >= lo && f < hi, 1L).otherwise(0L))
        }
        val under = sum(when(f < breaks.head, 1L).otherwise(0L))
        val over = sum(when(f >= breaks.last, 1L).otherwise(0L))
        struct(
          array(breaks.map(lit): _*).as("breaks"),
          array((under +: inner :+ over): _*).as("counts"))
      case "hyperUnique" | "cardinality" =>
        // our HLL TypedImperativeAggregate (reference hyperUnique /
        // CardinalityAggregatorFactory). Multiple fields = distinct TUPLES
        // (byRow semantics): hash the delimiter-joined tuple, like the
        // reference's row-wise CardinalityAggregator
        val fields = arr(j \ "fields").collect { case JString(d) => col(d) }
        val in = field.getOrElse(fields match {
          case Nil      => f
          case Seq(one) => one
          case many     =>
            // concat_ws SKIPS nulls, which would collide (a, null) with
            // (null, a) — null-sentinel each field first
            concat_ws("\u0001",
              many.map(c => coalesce(c.cast("string"), lit("\u0000"))): _*)
        })
        HllSketchAgg.hllEstimate(in)
      case "filtered" =>
        // FILTER(WHERE …) via when(): null rows are ignored by the agg
        aggregationFiltered(j \ "aggregator", filterExpr(j \ "filter"))
      case "thetaSketch" =>
        // datasketches theta agg → KMV sketch estimate (set ops via the
        // kmv_* post-aggregation expressions)
        graft.functions.sketches.KmvSketchAgg.kmvEstimate(
          graft.functions.sketches.KmvSketchAgg.kmvSketch(f))
      case "quantilesDoublesSketch" =>
        // datasketches quantiles agg: the JSON contract returns a sketch
        // finalized by ...ToQuantile post-aggs; the common single-quantile
        // use maps to percentile_approx at the agg itself
        percentile_approx(f.cast("double"),
          lit(double(j \ "quantile").getOrElse(0.5)), lit(10000))
      case "KllDoublesSketch" =>
        // real mergeable KLL sketch (binary column; finalize with the
        // kll_quantile post-agg or a quantile in the JSON for convenience)
        double(j \ "quantile") match {
          case Some(q) => graft.functions.sketches.KllSketchAgg.kllQuantile(
            graft.functions.sketches.KllSketchAgg.kllSketch(f.cast("double"),
              int(j \ "k").getOrElse(graft.functions.sketches.Kll.DefaultK)),
            lit(q))
          case None => graft.functions.sketches.KllSketchAgg.kllSketch(
            f.cast("double"),
            int(j \ "k").getOrElse(graft.functions.sketches.Kll.DefaultK))
        }
      case "bloom" =>
        graft.functions.sketches.BloomFilterAgg.bloomBuild(f)
      case other => throw new IllegalArgumentException(s"unsupported aggregator: $other")
    }
    (name, c)
  }

  private def aggregationFiltered(j: JValue, cond: Column): Column = {
    val field = str(j \ "fieldName").map(col)
    def f = field.get
    str(j \ "type").getOrElse("") match {
      case "count"                  => count(when(cond, 1))
      case "longSum"                => sum(when(cond, f)).cast("long")
      case "doubleSum" | "floatSum" => sum(when(cond, f.cast("double")))
      case "longMin"                => min(when(cond, f)).cast("long")
      case "longMax"                => max(when(cond, f)).cast("long")
      case "doubleMin"              => min(when(cond, f.cast("double")))
      case "doubleMax"              => max(when(cond, f.cast("double")))
      case other => throw new IllegalArgumentException(s"unsupported filtered aggregator: $other")
    }
  }

  // ----------------------------------------------------- post-aggregators ----

  private def postAggregations(df: DataFrame, j: JValue): DataFrame =
    arr(j).foldLeft(df) { (acc, pa) =>
      acc.withColumn(str(pa \ "name").getOrElse("post"), postAggExpr(pa))
    }

  private def postAggExpr(j: JValue): Column = str(j \ "type").getOrElse("") match {
    case "fieldAccess" | "finalizingFieldAccess" => col(str(j \ "fieldName").get)
    case "constant" => lit(double(j \ "value").get)
    case "doubleGreatest" | "longGreatest" =>
      greatest(arr(j \ "fields").map(postAggExpr): _*)
    case "doubleLeast" | "longLeast" =>
      least(arr(j \ "fields").map(postAggExpr): _*)
    // our hyperUnique aggregator finalizes to the estimate, so cardinality
    // access is field access; DOUBLE like the reference's
    // HyperUniqueFinalizingPostAggregator
    case "hyperUniqueCardinality" =>
      col(str(j \ "fieldName").get).cast("double")
    case "arithmetic" =>
      val fields = arr(j \ "fields").map(postAggExpr)
      str(j \ "fn").getOrElse("+") match {
        case "+" => fields.reduce(_ + _)
        case "-" => fields.reduce(_ - _)
        case "*" => fields.reduce(_ * _)
        case "/" => fields.reduce((a, b) => DruidFunctions.safeDivide(a, b))
        case "quotient" => fields.reduce(_ / _)
        case "pow" => fields.reduce((a, b) => pow(a, b))
        case o => throw new IllegalArgumentException(s"unsupported arithmetic fn: $o")
      }
    case "expression" => nativeExpr(str(j \ "expression").get)
    case other => throw new IllegalArgumentException(s"unsupported postAggregator: $other")
  }

  // ----------------------------------------------------------- having ----

  private def havingFilter(j: JValue): Column = str(j \ "type").getOrElse("") match {
    case "greaterThan" => col(str(j \ "aggregation").get) > double(j \ "value").get
    case "lessThan"    => col(str(j \ "aggregation").get) < double(j \ "value").get
    case "equalTo"     => col(str(j \ "aggregation").get) === double(j \ "value").get
    case "and"         => arr(j \ "havingSpecs").map(havingFilter).reduce(_ && _)
    case "or"          => arr(j \ "havingSpecs").map(havingFilter).reduce(_ || _)
    case "not"         => !havingFilter(j \ "havingSpec")
    case "filter"      => filterExpr(j \ "filter")
    // DimensionSelectorHavingSpec: post-agg filter on a grouped dimension
    case "dimSelector" =>
      col(str(j \ "dimension").get).cast("string") <=> literal(j \ "value")
    case other => throw new IllegalArgumentException(s"unsupported having: $other")
  }

  // ------------------------------------------------------- granularity ----

  private def granularityPeriod(j: JValue): Option[String] = j match {
    case JString(s) => s.toLowerCase match {
      case "all"                          => None
      // NONE = no truncation: the reference treats it as millisecond
      // granularity (GranularityType.NONE ≡ DurationGranularity(1ms))
      case "none"                         => Some("PT0.001S")
      case "second"                       => Some("PT1S")
      case "minute"                       => Some("PT1M")
      case "five_minute"                  => Some("PT5M")
      case "ten_minute"                   => Some("PT10M")
      case "fifteen_minute"               => Some("PT15M")
      case "thirty_minute"                => Some("PT30M")
      case "hour"                         => Some("PT1H")
      case "six_hour"                     => Some("PT6H")
      case "eight_hour"                   => Some("PT8H")
      case "day"                          => Some("P1D")
      case "week"                         => Some("P1W")
      case "month"                        => Some("P1M")
      case "quarter"                      => Some("P3M")
      case "year"                         => Some("P1Y")
      case o => throw new IllegalArgumentException(s"unsupported granularity: $o")
    }
    case _ => str(j \ "period") // {type: period, period: "PT6H", origin: …}
  }

  private def granularityOrigin(j: JValue): Long =
    str(j \ "origin").map(o => {
      val inst = Instant.parse(o)
      inst.getEpochSecond * 1000000L + inst.getNano / 1000L
    }).getOrElse(0L)

  /** Epoch-micros of the WALL-CLOCK time the instant reads as in `zone`
    * (LocalDateTime reinterpreted as UTC) — the coordinate system the
    * granularity-timeZone bucketing floors in.
    */
  private def localWallMicros(instantMicros: Long, zone: String): Long = {
    val ldt = java.time.Instant
      .ofEpochSecond(Math.floorDiv(instantMicros, 1000000L),
        Math.floorMod(instantMicros, 1000000L) * 1000L)
      .atZone(java.time.ZoneId.of(zone)).toLocalDateTime
    ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + ldt.getNano / 1000L
  }

  // ------------------------------------------------------------ json utils ----

  private def str(j: JValue): Option[String] = j match {
    case JString(s) => Some(s); case _ => None
  }
  private def int(j: JValue): Option[Int] = j match {
    case JInt(i) => Some(i.toInt); case JLong(l) => Some(l.toInt); case _ => None
  }
  private def double(j: JValue): Option[Double] = j match {
    case JDouble(d) => Some(d); case JInt(i) => Some(i.toDouble)
    case JLong(l) => Some(l.toDouble); case JDecimal(d) => Some(d.toDouble)
    case _ => None
  }
  private def bool(j: JValue): Option[Boolean] = j match {
    case JBool(b) => Some(b); case _ => None
  }
  private def arr(j: JValue): List[JValue] = j match {
    case JArray(xs) => xs; case JNothing | JNull => Nil; case x => List(x)
  }
  private def jvalue(j: JValue): Any = j match {
    case JString(s) => s; case JInt(i) => i.toLong; case JLong(l) => l
    case JDouble(d) => d; case JDecimal(d) => d.toDouble; case JBool(b) => b
    case _ => null
  }
  private def literal(j: JValue): Column = lit(jvalue(j))
}
