package graft

import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

import graft.functions.JaroWinklerSimilarity
import graft.functions.sketches.{BloomFilterAgg, BloomMightContain, HllEstimateWithBounds, HllSketchAgg, HllToString, HllUnion, KllDistQuery, KllQuery, KllSketchAgg, KllSummary, KmvEstimate, KmvEstimateWithBounds, KmvSetEstimate, KmvSetSketch, KmvSketchAgg, TDigestQuery, TDigestSketchAgg, TupleEstimate, TupleMetricSum, TupleMetricsSumEstimate, TupleSetSketch, TupleSketchAgg}

/** The engine's Catalyst-level SQL function surface — sketch aggregates and
  * post-aggregators, EARLIEST/LATEST, the reference's APPROX_* names — plus
  * [[ApproxCountDistinctRewrite]], the reference's SQL-layer default of
  * answering COUNT(DISTINCT x) with an HLL estimate
  * (`useApproximateCountDistinct`, see
  * `sql/.../BuiltinApproxCountDistinctSqlAggregator.java:62`), as an
  * opt-in optimizer rule gated on a runtime conf. Both are armed on a
  * session by [[GraftSession.attach]], the one place that registers
  * functions, rules and strategies.
  */
object GraftExtensions {
  import org.apache.spark.sql.catalyst.expressions.Expression

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", name)

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

  val functions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("hll_estimate_agg", info("hll_estimate_agg", "HLL distinct estimate"),
      (args: Seq[Expression]) => HllSketchAgg(args.head).toAggregateExpression()),
    ("hll_sketch_agg", info("hll_sketch_agg", "HLL binary sketch"),
      (args: Seq[Expression]) =>
        HllSketchAgg(args.head, emitSketch = true).toAggregateExpression()),
    ("hll_merge_agg", info("hll_merge_agg", "fold stored HLL sketches"),
      (args: Seq[Expression]) =>
        HllSketchAgg(args.head, mergeSketches = true).toAggregateExpression()),
    ("kmv_sketch_agg", info("kmv_sketch_agg", "KMV distinct sketch"),
      (args: Seq[Expression]) => KmvSketchAgg(args.head).toAggregateExpression()),
    ("kmv_estimate", info("kmv_estimate", "estimate of a KMV sketch"),
      (args: Seq[Expression]) => KmvEstimate(args.head)),
    ("kmv_intersect_estimate", info("kmv_intersect_estimate", "theta intersect"),
      (args: Seq[Expression]) => KmvSetEstimate(args(0), args(1), "intersect")),
    ("kmv_union_estimate", info("kmv_union_estimate", "theta union"),
      (args: Seq[Expression]) => KmvSetEstimate(args(0), args(1), "union")),
    ("kmv_not_estimate", info("kmv_not_estimate", "theta A-NOT-B"),
      (args: Seq[Expression]) => KmvSetEstimate(args(0), args(1), "not")),
    ("bloom_build_agg", info("bloom_build_agg", "bloom filter of a column"),
      (args: Seq[Expression]) => BloomFilterAgg(args.head).toAggregateExpression()),
    ("bloom_might_contain", info("bloom_might_contain", "bloom membership"),
      (args: Seq[Expression]) => BloomMightContain(args(0), args(1))),
    ("jaro_winkler_similarity", info("jaro_winkler_similarity", "fuzzy match"),
      (args: Seq[Expression]) => JaroWinklerSimilarity(args(0), args(1))),
    ("tuple_sketch_agg", info("tuple_sketch_agg",
      "tuple (arrayOfDoubles) sketch of (key, ARRAY<DOUBLE>)"),
      (args: Seq[Expression]) =>
        TupleSketchAgg(args(0), args(1)).toAggregateExpression()),
    ("tuple_estimate", info("tuple_estimate", "tuple sketch distinct keys"),
      (args: Seq[Expression]) => TupleEstimate(args.head)),
    ("tuple_metric_sum", info("tuple_metric_sum",
      "tuple sketch metric-column sum (sketch, idx)"),
      (args: Seq[Expression]) =>
        TupleMetricSum(args(0), args(1).eval().toString.toInt)),
    ("kll_sketch_agg", info("kll_sketch_agg", "KLL quantiles binary sketch"),
      (args: Seq[Expression]) =>
        KllSketchAgg(args.head).toAggregateExpression()),
    ("kll_merge_agg", info("kll_merge_agg", "fold stored KLL sketches"),
      (args: Seq[Expression]) =>
        KllSketchAgg(args.head, mergeSketches = true).toAggregateExpression()),
    ("kll_quantile", info("kll_quantile", "quantile of a KLL sketch (sketch, q)"),
      (args: Seq[Expression]) => KllQuery(args(0), args(1), "quantile")),
    ("kll_rank", info("kll_rank", "rank of a value in a KLL sketch (sketch, v)"),
      (args: Seq[Expression]) => KllQuery(args(0), args(1), "rank")),
    ("dot_product", info("dot_product", "codegen'd numeric-array dot product"),
      (args: Seq[Expression]) =>
        graft.functions.DotProduct(args(0), args(1))),
    // SQL EARLIEST/LATEST (reference EarliestLatestAnySqlAggregator.java):
    // value of `expr` at min/max of __time. Argument forms, matching the
    // reference: 1-arg = implicit __time ordering; 2-arg with a NUMERIC
    // LITERAL second argument = maxBytesPerString (UTF-8-safe truncation,
    // still ordered by __time — the reference never reads arg 2 as a time
    // column); 2-arg with an expression = the EARLIEST_BY/LATEST_BY
    // explicit-ordering form
    ("earliest", info("earliest",
      "value at the earliest time (expr[, maxBytes | timeExpr])"),
      (args: Seq[Expression]) => {
        val (v, order) = earliestLatestArgs("earliest", args)
        org.apache.spark.sql.catalyst.expressions.aggregate.MinBy(v, order)
          .toAggregateExpression()
      }),
    ("latest", info("latest",
      "value at the latest time (expr[, maxBytes | timeExpr])"),
      (args: Seq[Expression]) => {
        val (v, order) = earliestLatestArgs("latest", args)
        org.apache.spark.sql.catalyst.expressions.aggregate.MaxBy(v, order)
          .toAggregateExpression()
      }),
    // Druid SQL sketch names (BuiltinApproxCountDistinctSqlAggregator.java,
    // datasketches SQL operator conversions) aliased onto the same sketch
    // layer, so reference SQL text runs unchanged
    ("approx_count_distinct_ds_hll",
      info("approx_count_distinct_ds_hll", "HLL estimate (ignores lgK arg)"),
      (args: Seq[Expression]) => HllSketchAgg(args.head).toAggregateExpression()),
    ("approx_count_distinct_ds_theta",
      info("approx_count_distinct_ds_theta", "theta-sketch estimate"),
      (args: Seq[Expression]) =>
        KmvEstimate(KmvSketchAgg(args.head).toAggregateExpression())),
    ("ds_hll", info("ds_hll", "HLL binary sketch aggregate"),
      (args: Seq[Expression]) =>
        HllSketchAgg(args.head, emitSketch = true).toAggregateExpression()),
    ("ds_theta", info("ds_theta", "theta (KMV) binary sketch aggregate"),
      (args: Seq[Expression]) => KmvSketchAgg(args.head).toAggregateExpression()),
    ("hll_sketch_estimate", info("hll_sketch_estimate", "estimate of a stored HLL"),
      (args: Seq[Expression]) => graft.functions.sketches.HllEstimate(args.head)),
    ("theta_sketch_estimate", info("theta_sketch_estimate", "estimate of a theta sketch"),
      (args: Seq[Expression]) => KmvEstimate(args.head)),
    ("approx_quantile_ds", info("approx_quantile_ds",
      "KLL-backed quantile aggregate (expr, q[, k ignored])"),
      (args: Seq[Expression]) =>
        KllQuery(KllSketchAgg(args(0)).toAggregateExpression(), args(1), "quantile")),
    ("bloom_filter", info("bloom_filter", "bloom filter aggregate (expr[, entries])"),
      (args: Seq[Expression]) => BloomFilterAgg(args.head).toAggregateExpression()),
    ("bloom_filter_test", info("bloom_filter_test", "membership (expr, filter)"),
      (args: Seq[Expression]) => BloomMightContain(args(1), args(0))),
    // KLL distribution post-aggs (KllDoublesSketchToCDFPostAggregator /
    // ToHistogramPostAggregator; DS_CDF / DS_HISTOGRAM / DS_GET_QUANTILES
    // SQL operators take the split points / ranks as an array here)
    ("ds_cdf", info("ds_cdf", "CDF of a KLL sketch at split points (sketch, array)"),
      (args: Seq[Expression]) => KllDistQuery(args(0), args(1), "cdf")),
    ("ds_histogram", info("ds_histogram",
      "estimated bin counts of a KLL sketch (sketch, splitArray)"),
      (args: Seq[Expression]) => KllDistQuery(args(0), args(1), "pmf")),
    ("ds_get_quantiles", info("ds_get_quantiles",
      "quantiles of a KLL sketch (sketch, rankArray)"),
      (args: Seq[Expression]) => KllDistQuery(args(0), args(1), "quantiles")),
    ("ds_get_quantile", info("ds_get_quantile",
      "quantile of a KLL sketch (sketch, rank)"),
      (args: Seq[Expression]) => KllQuery(args(0), args(1), "quantile")),
    ("ds_rank", info("ds_rank", "rank of a value in a KLL sketch (sketch, v)"),
      (args: Seq[Expression]) => KllQuery(args(0), args(1), "rank")),
    ("ds_kll", info("ds_kll", "KLL quantiles binary sketch aggregate"),
      (args: Seq[Expression]) => KllSketchAgg(args.head).toAggregateExpression()),
    // t-digest (extensions-contrib/tdigestsketch SQL operators)
    ("tdigest_generate_sketch", info("tdigest_generate_sketch",
      "t-digest binary sketch aggregate (expr[, compression])"),
      (args: Seq[Expression]) => TDigestSketchAgg(args.head,
        if (args.length > 1) args(1).eval().toString.toDouble
        else graft.functions.sketches.TDigest.DefaultCompression)
        .toAggregateExpression()),
    ("tdigest_merge_agg", info("tdigest_merge_agg", "fold stored t-digests"),
      (args: Seq[Expression]) =>
        TDigestSketchAgg(args.head, mergeSketches = true).toAggregateExpression()),
    ("tdigest_quantile", info("tdigest_quantile",
      "quantile from a t-digest sketch column (sketch, q)"),
      (args: Seq[Expression]) => TDigestQuery(args(0), args(1), "quantile")),
    ("tdigest_cdf", info("tdigest_cdf",
      "rank in [0,1] of a value in a t-digest (sketch, v)"),
      (args: Seq[Expression]) => TDigestQuery(args(0), args(1), "cdf")),
    ("earliest_by", info("earliest_by", "value at min of ordering (expr, orderExpr)"),
      (args: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions.aggregate.MinBy(args(0), args(1))
          .toAggregateExpression()),
    ("latest_by", info("latest_by", "value at max of ordering (expr, orderExpr)"),
      (args: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions.aggregate.MaxBy(args(0), args(1))
          .toAggregateExpression()),
    // sketch-returning post-agg surface (scalar, per-row over sketch
    // columns): HLL_SKETCH_* / THETA_SKETCH_* / DS_TUPLE_DOUBLES_* /
    // DS_QUANTILE* reference names run unchanged
    ("hll_sketch_union", info("hll_sketch_union",
      "union of HLL sketches ([lgK, tgtHllType], expr…) — leading literal params ignored"),
      (args: Seq[Expression]) => HllUnion(dropLeadingParams(args))),
    ("hll_sketch_to_string", info("hll_sketch_to_string", "debug summary of an HLL sketch"),
      (args: Seq[Expression]) => HllToString(args.head)),
    ("hll_sketch_estimate_with_error_bounds", info(
      "hll_sketch_estimate_with_error_bounds",
      "ARRAY(estimate, lo, hi) of an HLL sketch (sketch[, numStdDev])"),
      (args: Seq[Expression]) => HllEstimateWithBounds(args.head,
        if (args.length > 1) args(1)
        else org.apache.spark.sql.catalyst.expressions.Literal(1))),
    ("theta_sketch_union", info("theta_sketch_union",
      "union of theta sketches ([size], expr…) — leading literal size ignored"),
      (args: Seq[Expression]) =>
        dropLeadingParams(args).reduceLeft(KmvSetSketch(_, _, "union"))),
    ("theta_sketch_intersect", info("theta_sketch_intersect",
      "intersection of theta sketches ([size], expr…)"),
      (args: Seq[Expression]) =>
        dropLeadingParams(args).reduceLeft(KmvSetSketch(_, _, "intersect"))),
    ("theta_sketch_not", info("theta_sketch_not",
      "A-NOT-B of theta sketches ([size], exprA, exprB)"),
      (args: Seq[Expression]) =>
        dropLeadingParams(args).reduceLeft(KmvSetSketch(_, _, "not"))),
    ("theta_sketch_estimate_with_error_bounds", info(
      "theta_sketch_estimate_with_error_bounds",
      "ARRAY(estimate, lo, hi) of a theta sketch (sketch[, errorBoundsStdDev])"),
      (args: Seq[Expression]) => KmvEstimateWithBounds(args.head,
        if (args.length > 1) args(1)
        else org.apache.spark.sql.catalyst.expressions.Literal(1))),
    ("ds_quantiles_sketch", info("ds_quantiles_sketch",
      "KLL quantiles binary sketch aggregate (expr[, k ignored])"),
      (args: Seq[Expression]) => KllSketchAgg(args.head).toAggregateExpression()),
    ("ds_quantile_summary", info("ds_quantile_summary",
      "string summary of a KLL quantiles sketch"),
      (args: Seq[Expression]) => KllSummary(args.head)),
    // DS_TUPLE_DOUBLES(key, metric…[, nominalEntries]): aggregate form; the
    // set ops and metrics-sum estimate are scalar post-aggs
    ("ds_tuple_doubles", info("ds_tuple_doubles",
      "tuple sketch aggregate (key, metric…[, nominalEntries ignored])"),
      (args: Seq[Expression]) => {
        import org.apache.spark.sql.catalyst.expressions.{Cast, CreateArray}
        import org.apache.spark.sql.types.DoubleType
        val metrics = dropTrailingParam(args.tail)
        require(metrics.nonEmpty, "ds_tuple_doubles needs at least one metric")
        TupleSketchAgg(args.head,
          CreateArray(metrics.map(Cast(_, DoubleType)))).toAggregateExpression()
      }),
    ("ds_tuple_doubles_union", info("ds_tuple_doubles_union",
      "union of tuple sketches (expr…[, nominalEntries ignored]) — summaries summed"),
      (args: Seq[Expression]) =>
        dropTrailingParam(args).reduceLeft(TupleSetSketch(_, _, "union"))),
    ("ds_tuple_doubles_intersect", info("ds_tuple_doubles_intersect",
      "intersection of tuple sketches (expr…[, nominalEntries ignored])"),
      (args: Seq[Expression]) =>
        dropTrailingParam(args).reduceLeft(TupleSetSketch(_, _, "intersect"))),
    ("ds_tuple_doubles_not", info("ds_tuple_doubles_not",
      "A-NOT-B of tuple sketches (exprA, exprB[, nominalEntries ignored])"),
      (args: Seq[Expression]) =>
        dropTrailingParam(args).reduceLeft(TupleSetSketch(_, _, "not"))),
    ("ds_tuple_doubles_metrics_sum_estimate", info(
      "ds_tuple_doubles_metrics_sum_estimate",
      "ARRAY of population-scaled per-metric sums of a tuple sketch"),
      (args: Seq[Expression]) => TupleMetricsSumEstimate(args.head)),
    // reference APPROX_* SQL aggregators over Spark's own implementations
    ("approx_count_distinct_builtin", info("approx_count_distinct_builtin",
      "Spark HyperLogLog++ distinct estimate"),
      (args: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions.aggregate
          .HyperLogLogPlusPlus(args.head).toAggregateExpression()),
    ("approx_quantile", info("approx_quantile",
      "approximate quantile (expr, probability[, resolution ignored])"),
      (args: Seq[Expression]) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate
          .ApproximatePercentile(args(0), args(1)).toAggregateExpression()),
    ("approx_quantile_fixed_buckets", info("approx_quantile_fixed_buckets",
      "fixed-buckets histogram quantile (expr, prob, numBuckets, lower, upper[, mode])"),
      (args: Seq[Expression]) => {
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
