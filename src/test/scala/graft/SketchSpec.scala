package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.sketches.{HllSketchAgg, KmvSketchAgg, TDigestSketchAgg}

/** Accuracy + mergeability tests for the custom sketch aggregates. */
class SketchSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  import spark.implicits._

  test("HLL estimate within 3% of exact on 50k distinct") {
    spark.sparkContext.setLogLevel("ERROR")
    val df = spark.range(50000).select((col("id") % 37213).as("v"))
    val est = df.agg(HllSketchAgg.hllEstimate(col("v"))).head().getLong(0)
    val exact = 37213.0
    assert(math.abs(est - exact) / exact < 0.03, s"estimate $est vs $exact")
  }

  test("HLL is insensitive to partitioning (mergeable partials)") {
    val a = spark.range(10000).repartition(16)
      .agg(HllSketchAgg.hllEstimate(col("id"))).head().getLong(0)
    val b = spark.range(10000).coalesce(1)
      .agg(HllSketchAgg.hllEstimate(col("id"))).head().getLong(0)
    assert(a == b, s"partitioned $a != single $b")
  }

  test("HLL stored-sketch refold equals direct aggregation") {
    // build per-group sketches, store them, then fold the stored column —
    // the reference's sketch-column workflow
    val df = spark.range(20000)
      .select((col("id") % 4).as("g"), (col("id") % 9991).as("v"))
    val direct = df.agg(HllSketchAgg.hllEstimate(col("v"))).head().getLong(0)
    val stored = df.groupBy(col("g")).agg(HllSketchAgg.hllSketch(col("v")).as("sk"))
    val refold = stored.agg(HllSketchAgg.hllMergeEstimate(col("sk"))).head().getLong(0)
    assert(refold == direct, s"refold $refold != direct $direct")
  }

  test("KLL quantile estimates within rank-error bounds") {
    import graft.functions.sketches.KllSketchAgg._
    // uniform 0..99999: true quantile(q) = q * 100000
    val df = spark.range(100000).select(col("id").cast("double").as("v"))
      .repartition(8)
    val sk = df.agg(kllSketch(col("v")).as("s"))
    val row = sk.select(
      kllQuantile(col("s"), lit(0.5)).as("p50"),
      kllQuantile(col("s"), lit(0.95)).as("p95"),
      kllQuantile(col("s"), lit(0.0)).as("p0"),
      kllQuantile(col("s"), lit(1.0)).as("p100"),
      kllRank(col("s"), lit(25000.0)).as("r25")).head()
    // k=200 → ~1.65% rank error; allow 3% of the value range
    assert(math.abs(row.getDouble(0) - 50000) < 3000, s"p50=${row.getDouble(0)}")
    assert(math.abs(row.getDouble(1) - 95000) < 3000, s"p95=${row.getDouble(1)}")
    assert(row.getDouble(2) == 0.0 && row.getDouble(3) == 99999.0)
    assert(math.abs(row.getDouble(4) - 0.25) < 0.03, s"rank=${row.getDouble(4)}")
  }

  test("KLL stored-sketch refold matches direct aggregation accuracy") {
    import graft.functions.sketches.KllSketchAgg._
    val df = spark.range(80000)
      .select((col("id") % 8).as("g"), col("id").cast("double").as("v"))
    // per-group sketches stored as binary, folded back into one — the
    // reference's KLL sketch-column workflow (binary merge, no raw data)
    val stored = df.groupBy(col("g")).agg(kllSketch(col("v")).as("sk"))
    assert(stored.schema("sk").dataType ==
      org.apache.spark.sql.types.BinaryType)
    val refolded = stored.agg(kllMerge(col("sk")).as("s"))
      .select(kllQuantile(col("s"), lit(0.5))).head().getDouble(0)
    assert(math.abs(refolded - 40000) < 3200, s"refolded p50=$refolded")
  }

  test("t-digest quantiles accurate, tails tighter than mid (uniform 100k)") {
    import TDigestSketchAgg._
    val df = spark.range(100000).select(col("id").cast("double").as("v"))
    val sk = df.repartition(8).agg(tdigestSketch(col("v")).as("s"))
    val row = sk.select(
      tdigestQuantile(col("s"), lit(0.5)).as("p50"),
      tdigestQuantile(col("s"), lit(0.999)).as("p999"),
      tdigestQuantile(col("s"), lit(0.0)).as("p0"),
      tdigestQuantile(col("s"), lit(1.0)).as("p100"),
      tdigestCdf(col("s"), lit(25000.0)).as("r25")).head()
    assert(math.abs(row.getDouble(0) - 50000) < 1500, s"p50=${row.getDouble(0)}")
    // tail accuracy is the t-digest's selling point: p99.9 of uniform
    // 0..99999 is 99900; demand much tighter relative error than mid-range
    assert(math.abs(row.getDouble(1) - 99900) < 150, s"p999=${row.getDouble(1)}")
    assert(row.getDouble(2) == 0.0 && row.getDouble(3) == 99999.0)
    assert(math.abs(row.getDouble(4) - 0.25) < 0.02, s"cdf=${row.getDouble(4)}")
  }

  test("t-digest stored-sketch refold matches direct aggregation") {
    import TDigestSketchAgg._
    val df = spark.range(80000)
      .select((col("id") % 8).as("g"), col("id").cast("double").as("v"))
    val direct = df.agg(tdigestSketch(col("v")).as("s"))
      .select(tdigestQuantile(col("s"), lit(0.5))).head().getDouble(0)
    val stored = df.groupBy(col("g")).agg(tdigestSketch(col("v")).as("sk"))
    val refold = stored.agg(tdigestMerge(col("sk")).as("s"))
      .select(tdigestQuantile(col("s"), lit(0.5))).head().getDouble(0)
    assert(math.abs(direct - 40000) < 1500, s"direct p50=$direct")
    assert(math.abs(refold - 40000) < 1500, s"refold p50=$refold")
  }

  test("KLL cdf/histogram/quantiles-array post-aggs") {
    import graft.functions.sketches.KllSketchAgg._
    val df = spark.range(100000).select(col("id").cast("double").as("v"))
    val sk = df.agg(kllSketch(col("v")).as("s"))
    val row = sk.select(
      kllCdf(col("s"), array(lit(25000.0), lit(50000.0))).as("cdf"),
      kllHistogram(col("s"), array(lit(25000.0), lit(50000.0))).as("hist"),
      kllQuantiles(col("s"), array(lit(0.25), lit(0.75))).as("qs")).head()
    val cdf = row.getSeq[Double](0)
    val hist = row.getSeq[Double](1)
    val qs = row.getSeq[Double](2)
    assert(cdf.length == 3 && hist.length == 3 && qs.length == 2)
    assert(math.abs(cdf(0) - 0.25) < 0.03 && math.abs(cdf(1) - 0.5) < 0.03)
    assert(cdf(2) == 1.0)
    // bin counts sum to n and split roughly 25/25/50
    assert(math.abs(hist.sum - 100000.0) < 1e-6, s"hist mass=${hist.sum}")
    assert(math.abs(hist(0) - 25000) < 3000 && math.abs(hist(2) - 50000) < 4000)
    assert(math.abs(qs(0) - 25000) < 3000 && math.abs(qs(1) - 75000) < 3000)
  }

  test("SQL names: tdigest_generate_sketch/quantile, ds_histogram/ds_get_quantiles") {
    GraftSession.attach(spark)
    spark.range(50000).selectExpr("CAST(id AS DOUBLE) AS v")
      .createOrReplaceTempView("tdg")
    val r = spark.sql(
      """SELECT tdigest_quantile(s, 0.9) AS p90,
                tdigest_cdf(s, 10000.0) AS c,
                ds_get_quantiles(k, array(0.1, 0.9)) AS qs,
                ds_histogram(k, array(25000.0)) AS h
         FROM (SELECT tdigest_generate_sketch(v, 200.0) AS s,
                      ds_kll(v) AS k FROM tdg)""").head()
    assert(math.abs(r.getDouble(0) - 45000) < 1200, s"p90=${r.getDouble(0)}")
    assert(math.abs(r.getDouble(1) - 0.2) < 0.02)
    val qs = r.getSeq[Double](2)
    assert(math.abs(qs(0) - 5000) < 1500 && math.abs(qs(1) - 45000) < 1500)
    assert(math.abs(r.getSeq[Double](3).sum - 50000.0) < 1e-6)
  }

  test("KMV estimate within 5% and set ops are sane") {
    val a = spark.range(30000).select(col("id").as("v"))   // 0..29999
    val b = spark.range(20000, 40000).select(col("id").as("v")) // 20000..39999
    val skA = a.agg(KmvSketchAgg.kmvSketch(col("v")).as("sk")).head().getAs[Array[Byte]](0)
    val skB = b.agg(KmvSketchAgg.kmvSketch(col("v")).as("sk")).head().getAs[Array[Byte]](0)
    val est = spark.range(1).select(
      KmvSketchAgg.kmvEstimate(lit(skA)).as("ea"),
      KmvSketchAgg.kmvIntersect(lit(skA), lit(skB)).as("ei"),
      KmvSketchAgg.kmvUnion(lit(skA), lit(skB)).as("eu")).head()
    assert(math.abs(est.getDouble(0) - 30000) / 30000 < 0.05, s"|A| ${est.getDouble(0)}")
    assert(math.abs(est.getDouble(1) - 10000) / 10000 < 0.15, s"|A∩B| ${est.getDouble(1)}")
    assert(math.abs(est.getDouble(2) - 40000) / 40000 < 0.05, s"|A∪B| ${est.getDouble(2)}")
  }

  test("KMV A-NOT-B estimate") {
    val a = spark.range(30000).select(col("id").as("v"))
    val b = spark.range(20000, 40000).select(col("id").as("v"))
    val skA = a.agg(KmvSketchAgg.kmvSketch(col("v")).as("sk")).head().getAs[Array[Byte]](0)
    val skB = b.agg(KmvSketchAgg.kmvSketch(col("v")).as("sk")).head().getAs[Array[Byte]](0)
    val est = spark.range(1)
      .select(KmvSketchAgg.kmvNot(lit(skA), lit(skB)).as("e")).head().getDouble(0)
    // |A \ B| = 20000
    assert(math.abs(est - 20000) / 20000 < 0.15, s"|A\\B| $est")
  }

  test("tuple sketch: exact below nominal entries, estimates above") {
    import graft.functions.sketches.TupleSketchAgg._
    // 2000 distinct keys < K=4096 → exact distinct count and metric sums
    val small = spark.range(10000).select((col("id") % 2000).as("k"),
      lit(2.5).as("v"))
      .agg(tupleSketch(col("k"), array(col("v"))).as("sk"))
      .select(tupleEstimate(col("sk")).as("nk"),
        tupleMetricSum(col("sk"), 0).as("sv"))
      .head()
    assert(small.getDouble(0) == 2000.0)
    assert(math.abs(small.getDouble(1) - 25000.0) < 1e-9)
    // 50k distinct keys > K → approximate within 5%
    val big = spark.range(200000).repartition(8)
      .select((col("id") % 50000).as("k"), lit(1.0).as("v"))
      .agg(tupleSketch(col("k"), array(col("v"))).as("sk"))
      .select(tupleEstimate(col("sk")).as("nk"),
        tupleMetricSum(col("sk"), 0).as("sv"))
      .head()
    assert(math.abs(big.getDouble(0) - 50000.0) / 50000.0 < 0.05,
      s"distinct est ${big.getDouble(0)}")
    assert(math.abs(big.getDouble(1) - 200000.0) / 200000.0 < 0.05,
      s"metric est ${big.getDouble(1)}")
  }

  test("tuple sketch handles empty and null-key input") {
    import graft.functions.sketches.TupleSketchAgg._
    val r = spark.range(10)
      .select(when(col("id") < 5, col("id")).as("k"), lit(1.0).as("v"))
      .filter(col("id") < 0) // empty input
      .agg(tupleSketch(col("k"), array(col("v"))).as("sk"))
      .select(tupleEstimate(col("sk")), tupleMetricSum(col("sk"), 0)).head()
    assert(r.getDouble(0) == 0.0 && r.getDouble(1) == 0.0)
    // null keys are skipped like the reference's null-filtering aggs
    val withNulls = spark.range(10)
      .select(when(col("id") < 5, col("id")).as("k"), lit(2.0).as("v"))
      .agg(tupleSketch(col("k"), array(col("v"))).as("sk"))
      .select(tupleEstimate(col("sk")), tupleMetricSum(col("sk"), 0)).head()
    assert(withNulls.getDouble(0) == 5.0 && withNulls.getDouble(1) == 10.0)
  }

  test("tuple sketch is insensitive to partitioning (mergeable partials)") {
    import graft.functions.sketches.TupleSketchAgg._
    def run(parts: Int) = spark.range(30000).repartition(parts)
      .select((col("id") % 3000).as("k"), (col("id") % 7).cast("double").as("v"))
      .agg(tupleSketch(col("k"), array(col("v"))).as("sk"))
      .select(tupleEstimate(col("sk")), round(tupleMetricSum(col("sk"), 0), 6))
      .head()
    assert(run(16) == run(1))
  }

  test("bloom filter: no false negatives, low false positives") {
    import graft.functions.sketches.BloomFilterAgg._
    val inserted = spark.range(10000)
    val bytes = inserted.agg(bloomBuild(col("id"), numBits = 1 << 17))
      .head().getAs[Array[Byte]](0)
    // every inserted key must test positive
    val negatives = inserted
      .filter(!bloomMightContain(lit(bytes), col("id"))).count()
    assert(negatives == 0, s"$negatives false negatives")
    // disjoint probe set: FP rate should be small
    val fps = spark.range(1000000, 1010000)
      .filter(bloomMightContain(lit(bytes), col("id"))).count()
    assert(fps < 500, s"$fps false positives out of 10000")
  }

  test("SQL registration exposes sketch functions") {
    GraftSession.attach(spark)
    spark.range(1000).select((col("id") % 321).as("v"))
      .createOrReplaceTempView("sketch_in")
    val est = spark.sql("SELECT hll_estimate_agg(v) FROM sketch_in").head().getLong(0)
    assert(math.abs(est - 321) / 321.0 < 0.05, s"sql estimate $est")
    val tup = spark.sql(
      """SELECT tuple_estimate(sk), tuple_metric_sum(sk, 0)
         FROM (SELECT tuple_sketch_agg(v, array(CAST(2.0 AS DOUBLE))) AS sk
               FROM sketch_in)""").head()
    assert(tup.getDouble(0) == 321.0)
    assert(math.abs(tup.getDouble(1) - 2000.0) < 1e-9)
    val ip6 = spark.sql(
      "SELECT ipv6_match('2001:db8::5', '2001:db8::/32')").head().getBoolean(0)
    assert(ip6)
    val dp = spark.sql(
      "SELECT dot_product(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D))")
      .head().getDouble(0)
    assert(dp == 32.0)
  }

  test("hll_sketch_estimate returns DOUBLE (reference HllSketchToEstimate)") {
    GraftSession.attach(spark)
    spark.range(1000).select((col("id") % 321).as("v"))
      .createOrReplaceTempView("hll_est_in")
    val df = spark.sql(
      "SELECT hll_sketch_estimate(hll_sketch_agg(v)) FROM hll_est_in")
    assert(df.schema.head.dataType == org.apache.spark.sql.types.DoubleType)
    val est = df.head().getDouble(0)
    assert(math.abs(est - 321.0) / 321.0 < 0.05, s"estimate $est")
  }

  test("EARLIEST/LATEST numeric-literal 2nd arg is maxBytesPerString") {
    GraftSession.attach(spark)
    import spark.implicits._
    Seq(("2024-01-01T00:00:00", "aé-first"), ("2024-01-03T00:00:00", "zz-last"))
      .toDF("ts", "name")
      .select(col("ts").cast("timestamp").as("__time"), col("name"))
      .createOrReplaceTempView("el_in")
    val r = spark.sql(
      // 'aé' is 3 UTF-8 bytes: a 3-byte budget keeps 'é' whole, a 2-byte
      // budget would split it and must back off to 'a'
      """SELECT earliest(name, 3), latest(name, 1024), earliest(name),
                latest(name, 4), earliest(name, 2) FROM el_in""")
      .head()
    assert(r.getString(0) == "aé", "UTF-8-safe chop at the byte budget")
    assert(r.getString(1) == "zz-last", "budget larger than the value is a no-op")
    assert(r.getString(2) == "aé-first", "1-arg form orders by __time")
    assert(r.getString(3) == "zz-l")
    assert(r.getString(4) == "a", "never split a code point")
    // non-string input with a byte budget STRINGIFIES first — the
    // maxBytes form is the string aggregator and the reference accepts
    // ANY value type there (qaUnnest mv_sql_agg_funcs earliest(s_int,
    // 100); EarliestLatestAnySqlAggregator operand checker)
    val v = spark.sql("SELECT earliest(CAST(1.5 AS DOUBLE), 3) FROM el_in")
      .head().getString(0)
    assert(v == "1.5")
  }

  test("Druid SQL sketch names run reference SQL text unchanged") {
    GraftSession.attach(spark)
    spark.range(5000).select((col("id") % 321).as("v"), (col("id") % 2).as("g"))
      .createOrReplaceTempView("dsql_in")
    val r = spark.sql(
      """SELECT APPROX_COUNT_DISTINCT_DS_HLL(v) AS hll,
                APPROX_COUNT_DISTINCT_DS_THETA(v) AS theta,
                APPROX_QUANTILE_DS(CAST(v AS DOUBLE), 0.5) AS med
         FROM dsql_in""").head()
    assert(math.abs(r.getLong(0) - 321) / 321.0 < 0.05, s"hll ${r.getLong(0)}")
    assert(math.abs(r.getDouble(1) - 321) / 321.0 < 0.05, s"theta ${r.getDouble(1)}")
    assert(math.abs(r.getDouble(2) - 160.0) <= 4.0, s"median ${r.getDouble(2)}")
    // stored-sketch estimate forms + bloom test
    val s2 = spark.sql(
      """SELECT HLL_SKETCH_ESTIMATE(sk) AS est,
                THETA_SKETCH_ESTIMATE(tk) AS test2
         FROM (SELECT DS_HLL(v) AS sk, DS_THETA(v) AS tk FROM dsql_in)""").head()
    assert(math.abs(s2.getDouble(0) - 321) / 321.0 < 0.05)
    assert(math.abs(s2.getDouble(1) - 321) / 321.0 < 0.05)
    val bl = spark.sql(
      """SELECT BLOOM_FILTER_TEST(CAST(7 AS BIGINT), bf) AS hit,
                BLOOM_FILTER_TEST(CAST(99999 AS BIGINT), bf) AS miss
         FROM (SELECT BLOOM_FILTER(v) AS bf FROM dsql_in)""").head()
    assert(bl.getBoolean(0) && !bl.getBoolean(1))
  }

  test("approx-count-distinct rewrite rule fires when enabled") {
    // a fresh session armed only by attach
    val ext = spark.newSession()
    GraftSession.attach(ext)
    try {
      ext.conf.set("spark.graft.useApproximateCountDistinct", "true")
      val df = ext.range(10000).selectExpr("id % 777 AS v")
        .agg(count_distinct(col("v")))
      val plan = df.queryExecution.optimizedPlan.toString
      assert(plan.contains("hll_estimate_agg"), s"rule did not fire:\n$plan")
      assert(math.abs(df.head().getLong(0) - 777) / 777.0 < 0.05)
      ext.conf.set("spark.graft.useApproximateCountDistinct", "false")
      val exact = ext.range(10000).selectExpr("id % 777 AS v")
        .agg(count_distinct(col("v"))).head().getLong(0)
      assert(exact == 777)
    } finally {
      ext.conf.set("spark.graft.useApproximateCountDistinct", "false")
    }
  }
}
