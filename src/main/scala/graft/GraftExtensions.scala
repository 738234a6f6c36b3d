package graft

import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

import graft.functions.{EngineFunction, JaroWinklerSimilarity}
import graft.functions.EngineFunction.{aggregator, scalar}
import graft.functions.sketches.{BloomFilterAgg, BloomMightContain, HllEstimateWithBounds, HllSketchAgg, HllToString, HllUnion, KllDistQuery, KllQuery, KllSketchAgg, KllSummary, KmvEstimate, KmvEstimateWithBounds, KmvSetEstimate, KmvSetSketch, KmvSketchAgg, TDigestQuery, TDigestSketchAgg, TupleEstimate, TupleMetricSum, TupleMetricsSumEstimate, TupleSetSketch, TupleSketchAgg}

/** The sketch family's table of SQL functions, one [[EngineFunction]] per
  * name — sketch aggregates and post-aggregators, EARLIEST/LATEST, the
  * reference's APPROX_* names — plus [[ApproxCountDistinctRewrite]], the
  * reference's SQL-layer default of answering COUNT(DISTINCT x) with an
  * HLL estimate (`useApproximateCountDistinct`, see
  * `sql/.../BuiltinApproxCountDistinctSqlAggregator.java:62`), as an
  * opt-in optimizer rule gated on a runtime conf. The table is part of
  * [[GraftSession.functions]]; [[GraftSession.attach]], the one place that
  * registers functions, rules and strategies, arms both.
  */
object GraftExtensions {
  import org.apache.spark.sql.catalyst.expressions.Expression

  /** Resolve EARLIEST/LATEST arguments per the reference
    * (`sql/.../aggregation/builtin/EarliestLatestAnySqlAggregator.java`):
    * (value, ordering). A numeric-literal second argument is
    * maxBytesPerString — UTF-8 truncation of the value, ordering still the
    * implicit __time — never an ordering column.
    */
  private def earliestLatestArgs(fn: String, args: Seq[Expression])
      : (Expression, Expression) = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    def time = UnresolvedAttribute(Tables.TimeColumn)
    args match {
      case Seq(v) => (v, time)
      case Seq(v, second) if second.foldable &&
          Seq(ByteType, ShortType, IntegerType, LongType).contains(second.dataType) =>
        // the maxBytes form is the STRING aggregator — a numeric value
        // argument stringifies first (EarliestLatestBySqlAggregator
        // accepts ANY + numeric literal; qaUnnest earliest(s_int, 100))
        (graft.functions.ChopUtf8(
          org.apache.spark.sql.catalyst.expressions.Cast(
            v, org.apache.spark.sql.types.StringType),
          second.eval().toString.toInt), time)
      case Seq(v, order) => (v, order)
      case _ => throw new IllegalArgumentException(
        s"$fn takes 1 or 2 arguments, got ${args.size}")
    }
  }

  val functions: Seq[EngineFunction] = Seq(
    aggregator("hll_estimate_agg",
      "_FUNC_(expr) - HLL distinct estimate")(args =>
        HllSketchAgg(args.head).toAggregateExpression()),
    aggregator("hll_sketch_agg",
      "_FUNC_(expr) - HLL binary sketch")(args =>
        HllSketchAgg(args.head, emitSketch = true).toAggregateExpression()),
    aggregator("hll_merge_agg",
      "_FUNC_(sketch) - fold stored HLL sketches")(args =>
        HllSketchAgg(args.head, mergeSketches = true).toAggregateExpression()),
    aggregator("kmv_sketch_agg",
      "_FUNC_(expr) - KMV distinct sketch")(args =>
        KmvSketchAgg(args.head).toAggregateExpression()),
    scalar("kmv_estimate",
      "_FUNC_(sketch) - estimate of a KMV sketch")(args => KmvEstimate(args.head)),
    scalar("kmv_intersect_estimate",
      "_FUNC_(sketchA, sketchB) - theta intersect")(args =>
        KmvSetEstimate(args(0), args(1), "intersect")),
    scalar("kmv_union_estimate",
      "_FUNC_(sketchA, sketchB) - theta union")(args =>
        KmvSetEstimate(args(0), args(1), "union")),
    scalar("kmv_not_estimate",
      "_FUNC_(sketchA, sketchB) - theta A-NOT-B")(args =>
        KmvSetEstimate(args(0), args(1), "not")),
    aggregator("bloom_build_agg",
      "_FUNC_(expr) - bloom filter of a column")(args =>
        BloomFilterAgg(args.head).toAggregateExpression()),
    scalar("bloom_might_contain",
      "_FUNC_(filter, value) - bloom membership")(args =>
        BloomMightContain(args(0), args(1))),
    scalar("jaro_winkler_similarity",
      "_FUNC_(a, b) - fuzzy match")(args => JaroWinklerSimilarity(args(0), args(1))),
    aggregator("tuple_sketch_agg",
      "_FUNC_(key, ARRAY<DOUBLE>) - tuple (arrayOfDoubles) sketch")(args =>
        TupleSketchAgg(args(0), args(1)).toAggregateExpression()),
    scalar("tuple_estimate",
      "_FUNC_(sketch) - tuple sketch distinct keys")(args => TupleEstimate(args.head)),
    scalar("tuple_metric_sum",
      "_FUNC_(sketch, idx) - tuple sketch metric-column sum")(args =>
        TupleMetricSum(args(0), args(1).eval().toString.toInt)),
    aggregator("kll_sketch_agg",
      "_FUNC_(expr) - KLL quantiles binary sketch")(args =>
        KllSketchAgg(args.head).toAggregateExpression()),
    aggregator("kll_merge_agg",
      "_FUNC_(sketch) - fold stored KLL sketches")(args =>
        KllSketchAgg(args.head, mergeSketches = true).toAggregateExpression()),
    scalar("kll_quantile",
      "_FUNC_(sketch, q) - quantile of a KLL sketch")(args =>
        KllQuery(args(0), args(1), "quantile")),
    scalar("kll_rank",
      "_FUNC_(sketch, v) - rank of a value in a KLL sketch")(args =>
        KllQuery(args(0), args(1), "rank")),
    scalar("dot_product",
      "_FUNC_(a, b) - codegen'd numeric-array dot product")(args =>
        graft.functions.DotProduct(args(0), args(1))),
    // SQL EARLIEST/LATEST (reference EarliestLatestAnySqlAggregator.java):
    // value of `expr` at min/max of __time. Argument forms, matching the
    // reference: 1-arg = implicit __time ordering; 2-arg with a NUMERIC
    // LITERAL second argument = maxBytesPerString (UTF-8-safe truncation,
    // still ordered by __time — the reference never reads arg 2 as a time
    // column); 2-arg with an expression = the EARLIEST_BY/LATEST_BY
    // explicit-ordering form
    aggregator("earliest",
      "_FUNC_(expr[, maxBytes | timeExpr]) - value at the earliest time")(args => {
        val (v, order) = earliestLatestArgs("earliest", args)
        org.apache.spark.sql.catalyst.expressions.aggregate.MinBy(v, order)
          .toAggregateExpression()
      }),
    aggregator("latest",
      "_FUNC_(expr[, maxBytes | timeExpr]) - value at the latest time")(args => {
        val (v, order) = earliestLatestArgs("latest", args)
        org.apache.spark.sql.catalyst.expressions.aggregate.MaxBy(v, order)
          .toAggregateExpression()
      }),
    // Druid SQL sketch names (BuiltinApproxCountDistinctSqlAggregator.java,
    // datasketches SQL operator conversions) aliased onto the same sketch
    // layer, so reference SQL text runs unchanged
    aggregator("approx_count_distinct_ds_hll",
      "_FUNC_(expr[, lgK]) - HLL estimate (lgK ignored)")(args =>
        HllSketchAgg(args.head).toAggregateExpression()),
    aggregator("approx_count_distinct_ds_theta",
      "_FUNC_(expr[, size]) - theta-sketch estimate")(args =>
        KmvEstimate(KmvSketchAgg(args.head).toAggregateExpression())),
    aggregator("ds_hll",
      "_FUNC_(expr[, lgK]) - HLL binary sketch aggregate")(args =>
        HllSketchAgg(args.head, emitSketch = true).toAggregateExpression()),
    aggregator("ds_theta",
      "_FUNC_(expr[, size]) - theta (KMV) binary sketch aggregate")(args =>
        KmvSketchAgg(args.head).toAggregateExpression()),
    scalar("hll_sketch_estimate",
      "_FUNC_(sketch) - estimate of a stored HLL")(args =>
        graft.functions.sketches.HllEstimate(args.head)),
    scalar("theta_sketch_estimate",
      "_FUNC_(sketch) - estimate of a theta sketch")(args => KmvEstimate(args.head)),
    aggregator("approx_quantile_ds",
      "_FUNC_(expr, q[, k]) - KLL-backed quantile aggregate (k ignored)")(args =>
        KllQuery(KllSketchAgg(args(0)).toAggregateExpression(), args(1), "quantile")),
    aggregator("bloom_filter",
      "_FUNC_(expr[, entries]) - bloom filter aggregate")(args =>
        BloomFilterAgg(args.head).toAggregateExpression()),
    scalar("bloom_filter_test",
      "_FUNC_(expr, filter) - bloom membership")(args =>
        BloomMightContain(args(1), args(0))),
    // KLL distribution post-aggs (KllDoublesSketchToCDFPostAggregator /
    // ToHistogramPostAggregator; DS_CDF / DS_HISTOGRAM / DS_GET_QUANTILES
    // SQL operators take the split points / ranks as an array here)
    scalar("ds_cdf",
      "_FUNC_(sketch, splitPoints) - CDF of a KLL sketch")(args =>
        KllDistQuery(args(0), args(1), "cdf")),
    scalar("ds_histogram",
      "_FUNC_(sketch, splitPoints) - estimated bin counts of a KLL sketch")(args =>
        KllDistQuery(args(0), args(1), "pmf")),
    scalar("ds_get_quantiles",
      "_FUNC_(sketch, ranks) - quantiles of a KLL sketch")(args =>
        KllDistQuery(args(0), args(1), "quantiles")),
    scalar("ds_get_quantile",
      "_FUNC_(sketch, rank) - quantile of a KLL sketch")(args =>
        KllQuery(args(0), args(1), "quantile")),
    scalar("ds_rank",
      "_FUNC_(sketch, v) - rank of a value in a KLL sketch")(args =>
        KllQuery(args(0), args(1), "rank")),
    aggregator("ds_kll",
      "_FUNC_(expr) - KLL quantiles binary sketch aggregate")(args =>
        KllSketchAgg(args.head).toAggregateExpression()),
    // t-digest (extensions-contrib/tdigestsketch SQL operators)
    aggregator("tdigest_generate_sketch",
      "_FUNC_(expr[, compression]) - t-digest binary sketch aggregate")(args =>
        TDigestSketchAgg(args.head,
          if (args.length > 1) args(1).eval().toString.toDouble
          else graft.functions.sketches.TDigest.DefaultCompression)
          .toAggregateExpression()),
    aggregator("tdigest_merge_agg",
      "_FUNC_(sketch) - fold stored t-digests")(args =>
        TDigestSketchAgg(args.head, mergeSketches = true).toAggregateExpression()),
    scalar("tdigest_quantile",
      "_FUNC_(sketch, q) - quantile of a t-digest sketch column")(args =>
        TDigestQuery(args(0), args(1), "quantile")),
    scalar("tdigest_cdf",
      "_FUNC_(sketch, v) - rank in [0,1] of a value in a t-digest")(args =>
        TDigestQuery(args(0), args(1), "cdf")),
    aggregator("earliest_by",
      "_FUNC_(expr, orderExpr) - value at min of ordering")(args =>
        org.apache.spark.sql.catalyst.expressions.aggregate.MinBy(args(0), args(1))
          .toAggregateExpression()),
    aggregator("latest_by",
      "_FUNC_(expr, orderExpr) - value at max of ordering")(args =>
        org.apache.spark.sql.catalyst.expressions.aggregate.MaxBy(args(0), args(1))
          .toAggregateExpression()),
    // sketch-returning post-agg surface (scalar, per-row over sketch
    // columns): HLL_SKETCH_* / THETA_SKETCH_* / DS_TUPLE_DOUBLES_* /
    // DS_QUANTILE* reference names run unchanged
    scalar("hll_sketch_union",
      "_FUNC_([lgK, tgtHllType,] sketch...) - union of HLL sketches")(args =>
        HllUnion(dropLeadingParams(args))),
    scalar("hll_sketch_to_string",
      "_FUNC_(sketch) - debug summary of an HLL sketch")(args =>
        HllToString(args.head)),
    scalar("hll_sketch_estimate_with_error_bounds",
      "_FUNC_(sketch[, numStdDev]) - ARRAY(estimate, lo, hi) of an HLL sketch")(args =>
        HllEstimateWithBounds(args.head,
          if (args.length > 1) args(1)
          else org.apache.spark.sql.catalyst.expressions.Literal(1))),
    scalar("theta_sketch_union",
      "_FUNC_([size,] sketch...) - union of theta sketches")(args =>
        dropLeadingParams(args).reduceLeft(KmvSetSketch(_, _, "union"))),
    scalar("theta_sketch_intersect",
      "_FUNC_([size,] sketch...) - intersection of theta sketches")(args =>
        dropLeadingParams(args).reduceLeft(KmvSetSketch(_, _, "intersect"))),
    scalar("theta_sketch_not",
      "_FUNC_([size,] sketchA, sketchB) - A-NOT-B of theta sketches")(args =>
        dropLeadingParams(args).reduceLeft(KmvSetSketch(_, _, "not"))),
    scalar("theta_sketch_estimate_with_error_bounds",
      "_FUNC_(sketch[, stdDev]) - ARRAY(estimate, lo, hi) of a theta sketch")(args =>
        KmvEstimateWithBounds(args.head,
          if (args.length > 1) args(1)
          else org.apache.spark.sql.catalyst.expressions.Literal(1))),
    aggregator("ds_quantiles_sketch",
      "_FUNC_(expr[, k]) - KLL quantiles binary sketch aggregate (k ignored)")(args =>
        KllSketchAgg(args.head).toAggregateExpression()),
    scalar("ds_quantile_summary",
      "_FUNC_(sketch) - string summary of a KLL quantiles sketch")(args =>
        KllSummary(args.head)),
    // DS_TUPLE_DOUBLES(key, metric…[, nominalEntries]): aggregate form; the
    // set ops and metrics-sum estimate are scalar post-aggs
    aggregator("ds_tuple_doubles",
      "_FUNC_(key, metric...[, nominalEntries]) - tuple sketch aggregate")(args =>
        {
        import org.apache.spark.sql.catalyst.expressions.{Cast, CreateArray}
        import org.apache.spark.sql.types.DoubleType
        val metrics = dropTrailingParam(args.tail)
        require(metrics.nonEmpty, "ds_tuple_doubles needs at least one metric")
        TupleSketchAgg(args.head,
          CreateArray(metrics.map(Cast(_, DoubleType)))).toAggregateExpression()
      }),
    scalar("ds_tuple_doubles_union",
      "_FUNC_(sketch...[, nominalEntries]) - union of tuple sketches")(args =>
        dropTrailingParam(args).reduceLeft(TupleSetSketch(_, _, "union"))),
    scalar("ds_tuple_doubles_intersect",
      "_FUNC_(sketch...[, nominalEntries]) - intersection of tuple sketches")(args =>
        dropTrailingParam(args).reduceLeft(TupleSetSketch(_, _, "intersect"))),
    scalar("ds_tuple_doubles_not",
      "_FUNC_(sketchA, sketchB[, nominalEntries]) - A-NOT-B of tuple sketches")(args =>
        dropTrailingParam(args).reduceLeft(TupleSetSketch(_, _, "not"))),
    scalar("ds_tuple_doubles_metrics_sum_estimate",
      "_FUNC_(sketch) - per-metric sum estimates of a tuple sketch")(args =>
        TupleMetricsSumEstimate(args.head)),
    // reference APPROX_* SQL aggregators over Spark's own implementations
    aggregator("approx_count_distinct_builtin",
      "_FUNC_(expr) - Spark HyperLogLog++ distinct estimate")(args =>
        org.apache.spark.sql.catalyst.expressions.aggregate
          .HyperLogLogPlusPlus(args.head).toAggregateExpression()),
    aggregator("approx_quantile",
      "_FUNC_(expr, probability[, resolution]) - approximate quantile")(args =>
        new org.apache.spark.sql.catalyst.expressions.aggregate
          .ApproximatePercentile(args(0), args(1)).toAggregateExpression()),
    aggregator("approx_quantile_fixed_buckets",
      "_FUNC_(expr, prob, numBuckets, lower, upper[, mode]) - histogram quantile")(args =>
        {
        require(args.length >= 5, "approx_quantile_fixed_buckets(expr, prob, " +
          "numBuckets, lowerLimit, upperLimit[, outlierHandlingMode])")
        graft.functions.sketches.FixedBucketsQuantileAgg(args(0),
          args(1).eval().toString.toDouble,
          args(2).eval().toString.toInt,
          args(3).eval().toString.toDouble,
          args(4).eval().toString.toDouble,
          if (args.length > 5) args(5).eval().toString.toLowerCase else "ignore")
          .toAggregateExpression()
      }))

  /** Strip the reference's optional LEADING literal parameters (lgK /
    * tgtHllType / size) from a variadic sketch-combinator argument list:
    * foldable int or string literals before the first non-literal arg —
    * but never strip down to nothing.
    */
  private def dropLeadingParams(args: Seq[Expression]): Seq[Expression] = {
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
    val dropped = args.dropWhile(e => e.foldable &&
      Seq(IntegerType, LongType, StringType).exists(_ == e.dataType))
    if (dropped.isEmpty) args else dropped
  }

  /** Strip an optional TRAILING numeric-literal parameter (nominalEntries). */
  private def dropTrailingParam(args: Seq[Expression]): Seq[Expression] = {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    if (args.length > 1 && args.last.foldable &&
        Seq(IntegerType, LongType).exists(_ == args.last.dataType)) args.init
    else args
  }
}

/** Rewrites exact `COUNT(DISTINCT x)` into the HLL estimate when
  * `spark.graft.useApproximateCountDistinct=true` — the reference engine's
  * default SQL behavior (countDistinct compiles to an HLL aggregation unless
  * the user opts out). Exact mode stays the Spark default here because the
  * correctness oracle demands exact answers.
  */
object ApproxCountDistinctRewrite extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!conf.getConfString("spark.graft.useApproximateCountDistinct", "false")
        .toBoolean) {
      plan
    } else {
      plan.transform {
        case agg: Aggregate =>
          agg.transformExpressions {
            case ae @ AggregateExpression(Count(Seq(child)), Complete, true, _, _) =>
              HllSketchAgg(child).toAggregateExpression()
          }
      }
    }
  }
}
