package graft

import org.apache.spark.sql.functions._

import graft.Gate.t

/** Sketch aggregator gates (§2.5 ext), including the self-asserting
  * estimate gates whose oracles reproduce exact values and bound checks.
  */
object SketchGates {

  val gates: Seq[Gate] = Seq(

    // ------------------------------------- sketch aggregators (§2.5 ext)
    Gate("q_sketch_hll", (s, dir) => {
      // custom TypedImperativeAggregate HLL (reference hyperUnique, 2048
      // registers). Self-asserting error bound (reference
      // HllSketchAggregatorTest asserts within-epsilon): exact distinct is
      // computed alongside; the boolean hash-matches the oracle's TRUE.
      import graft.functions.sketches.HllSketchAgg.hllEstimate
      t(s, dir)("events")
        .groupBy(col("event_type"))
        .agg(hllEstimate(col("user_id")).as("est"),
          count_distinct(col("user_id")).as("n_users_exact"),
          count(lit(1)).as("n"))
        .select(col("event_type"), col("n_users_exact"), col("n"),
          (abs(col("est") / col("n_users_exact").cast("double") - 1.0) <= 0.05)
            .as("hll_ok"))
        .orderBy(col("event_type"))
    },
      """SELECT event_type,
                CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_exact,
                count(*) AS n, TRUE AS hll_ok
         FROM events GROUP BY event_type ORDER BY event_type"""),

    // reference json_object takes variadic KV pairs with heterogeneous
    // value types — number/string/boolean/float in one object, rendered
    // compact and type-preserving in both engines
    Gate.spark("q_qa_json_object_variadic",
      """
        SELECT event_id,
               JSON_OBJECT('id', event_id, 'type', event_type,
                           'flag', event_id % 2 = 0,
                           'half', CAST(event_id AS DOUBLE) / 2,
                           'maybe', CASE WHEN event_id % 3 = 0
                                         THEN NULL ELSE event_type END) AS obj
        FROM events WHERE event_id < 50 ORDER BY event_id""",
      """SELECT event_id,
                CAST(json_object('id', event_id, 'type', event_type,
                                 'flag', CASE WHEN event_id % 2 = 0
                                              THEN 1 ELSE 0 END,
                                 'half', CAST(event_id AS DOUBLE) / 2,
                                 'maybe', CASE WHEN event_id % 3 = 0
                                               THEN NULL ELSE event_type END)
                  AS VARCHAR) AS obj
         FROM events WHERE event_id < 50 ORDER BY event_id"""),

    // reference compressed-bigdecimal extension (exact decimal
    // aggregation immune to float accumulation error): Spark's native
    // DECIMAL(38,10) sum IS that capability — exact, order-independent,
    // and rendered at full scale for a digit-exact oracle compare
    Gate.spark("q_agg_bigdecimal",
      """
        SELECT l_returnflag,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(38,10))) AS STRING)
                 AS dec_sum,
               CAST(CAST(sum(CAST(l_tax AS DECIMAL(38,10)))
                 - sum(CAST(l_discount AS DECIMAL(38,10)))
                 AS DECIMAL(38,10)) AS STRING) AS dec_net
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
      """SELECT l_returnflag,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(38,10))) AS VARCHAR)
                  AS dec_sum,
                CAST(CAST(sum(CAST(l_tax AS DECIMAL(38,10)))
                  - sum(CAST(l_discount AS DECIMAL(38,10)))
                  AS DECIMAL(38,10)) AS VARCHAR) AS dec_net
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),

    Gate("q_ingest_sketch_rollup", (s, dir) => {
      // the reference's rollup-with-sketch-metric ingestion (metricsSpec
      // with hyperUnique/HLL at ingest: rollup keeps one row per (day,
      // dim) with a MERGEABLE sketch column instead of raw ids). Write the
      // day-partitioned rollup with the HLL binary as a metric column,
      // read it back, and merge the pre-aggregated sketches ACROSS days —
      // distinct users per event_type without ever re-reading raw ids.
      // Self-asserting like q_sketch_hll: the estimate must sit within 5%
      // of the exact count (computed from raw for the assertion only).
      import graft.functions.sketches.HllSketchAgg.{hllSketch, hllMergeEstimate}
      val out = Gate.scratch(dir, "sk_rollup")
      val ev = t(s, dir)("events")
      ev.withColumn("day", to_date(col("ts")))
        .groupBy(col("day"), col("event_type"))
        .agg(hllSketch(col("user_id")).as("users_hll"),
          count(lit(1)).as("n"))
        .repartition(col("day"))
        .write.mode("overwrite").partitionBy("day").parquet(out)
      val merged = s.read.parquet(out)
        .groupBy(col("event_type"))
        .agg(hllMergeEstimate(col("users_hll")).as("est"),
          sum(col("n")).as("n"))
      val exact = ev.groupBy(col("event_type"))
        .agg(count_distinct(col("user_id")).as("n_users_exact"))
      merged.join(exact, "event_type")
        .select(col("event_type"), col("n_users_exact"),
          col("n").cast("long").as("n"),
          (abs(col("est") / col("n_users_exact").cast("double") - 1.0) <= 0.05)
            .as("hll_ok"))
        .orderBy(col("event_type"))
    },
      """SELECT event_type,
                CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_exact,
                count(*) AS n, TRUE AS hll_ok
         FROM events GROUP BY event_type ORDER BY event_type"""),

    Gate("q_sketch_kll", (s, dir) => {
      // KLL quantiles sketch (reference datasketches KLL ext): mergeable
      // binary sketch per group, quantile/rank via post-agg. Self-asserting
      // rank-error bounds: the estimated quantiles are joined back against
      // the data to measure their TRUE rank, which must sit within the
      // sketch's epsilon of the requested rank — booleans hash-match the
      // oracle's TRUE (reference KLL tests assert the same bound).
      import graft.functions.sketches.KllSketchAgg._
      val li = t(s, dir)("lineitem")
      val sk = li.groupBy(col("l_returnflag"))
        .agg(kllSketch(col("l_extendedprice")).as("sk"))
        .select(col("l_returnflag"),
          kllQuantile(col("sk"), lit(0.5)).as("p50_est"),
          kllQuantile(col("sk"), lit(0.95)).as("p95_est"),
          kllRank(col("sk"), lit(30000.0)).as("rank30_est"))
      li.join(broadcast(sk), "l_returnflag")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          avg(when(col("l_extendedprice") <= col("p50_est"), 1.0)
            .otherwise(0.0)).as("r50"),
          avg(when(col("l_extendedprice") <= col("p95_est"), 1.0)
            .otherwise(0.0)).as("r95"),
          avg(when(col("l_extendedprice") <= 30000.0, 1.0)
            .otherwise(0.0)).as("r30"),
          first(col("rank30_est")).as("rank30_est"))
        .select(col("l_returnflag"), col("n"),
          (abs(col("r50") - 0.5) <= 0.03).as("p50_ok"),
          (abs(col("r95") - 0.95) <= 0.03).as("p95_ok"),
          (abs(col("rank30_est") - col("r30")) <= 0.03).as("rank30_ok"))
        .orderBy(col("l_returnflag"))
    },
      """SELECT l_returnflag, count(*) AS n, TRUE AS p50_ok, TRUE AS p95_ok,
                TRUE AS rank30_ok
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),

    Gate("q_sketch_tdigest", (s, dir) => {
      // merging t-digest (reference extensions-contrib/tdigestsketch):
      // mergeable binary digest per group, quantile + cdf post-aggs.
      // Self-asserting rank-error bounds via join-back (see q_sketch_kll);
      // t-digest's k1 scale function is tail-accurate, so p99 gets the
      // tighter epsilon (SketchSpec measures both).
      import graft.functions.sketches.TDigestSketchAgg._
      val li = t(s, dir)("lineitem")
      val sk = li.groupBy(col("l_returnflag"))
        .agg(tdigestSketch(col("l_extendedprice")).as("sk"))
        .select(col("l_returnflag"),
          tdigestQuantile(col("sk"), lit(0.5)).as("p50_est"),
          tdigestQuantile(col("sk"), lit(0.99)).as("p99_est"),
          tdigestCdf(col("sk"), lit(30000.0)).as("cdf30_est"))
      li.join(broadcast(sk), "l_returnflag")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          avg(when(col("l_extendedprice") <= col("p50_est"), 1.0)
            .otherwise(0.0)).as("r50"),
          avg(when(col("l_extendedprice") <= col("p99_est"), 1.0)
            .otherwise(0.0)).as("r99"),
          avg(when(col("l_extendedprice") <= 30000.0, 1.0)
            .otherwise(0.0)).as("r30"),
          first(col("cdf30_est")).as("cdf30_est"))
        .select(col("l_returnflag"), col("n"),
          (abs(col("r50") - 0.5) <= 0.02).as("p50_ok"),
          (abs(col("r99") - 0.99) <= 0.01).as("p99_ok"),
          (abs(col("cdf30_est") - col("r30")) <= 0.02).as("cdf30_ok"))
        .orderBy(col("l_returnflag"))
    },
      """SELECT l_returnflag, count(*) AS n, TRUE AS p50_ok, TRUE AS p99_ok,
                TRUE AS cdf30_ok
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),

    Gate("q_sketch_kll_dist", (s, dir) => {
      // KLL distribution post-aggs (reference KllDoublesSketchToCDF/
      // ToHistogram post-aggregators): split-point CDF fractions and
      // estimated bin counts from one stored sketch per group.
      // Self-asserting: every estimate is checked against the exact
      // fraction/count computed in the same plan (see q_sketch_kll).
      import graft.functions.sketches.KllSketchAgg._
      val li = t(s, dir)("lineitem")
      val sk = li.groupBy(col("l_returnflag"))
        .agg(kllSketch(col("l_extendedprice")).as("sk"))
        .select(col("l_returnflag"),
          element_at(kllCdf(col("sk"),
            array(lit(20000.0), lit(50000.0))), 1).as("cdf20_est"),
          element_at(kllHistogram(col("sk"),
            array(lit(20000.0), lit(50000.0))), 2).as("bin_mid_est"),
          element_at(kllQuantiles(col("sk"),
            array(lit(0.25), lit(0.75))), 2).as("p75_est"))
      li.join(broadcast(sk), "l_returnflag")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          avg(when(col("l_extendedprice") < 20000.0, 1.0)
            .otherwise(0.0)).as("r20"),
          avg(when(col("l_extendedprice") >= 20000.0 &&
            col("l_extendedprice") < 50000.0, 1.0).otherwise(0.0)).as("rmid"),
          avg(when(col("l_extendedprice") <= col("p75_est"), 1.0)
            .otherwise(0.0)).as("r75"),
          first(col("cdf20_est")).as("cdf20_est"),
          first(col("bin_mid_est")).as("bin_mid_est"))
        .select(col("l_returnflag"), col("n"),
          (abs(col("cdf20_est") - col("r20")) <= 0.03).as("cdf20_ok"),
          (abs(col("bin_mid_est") / col("n").cast("double") - col("rmid"))
            <= 0.06).as("bin_mid_ok"),
          (abs(col("r75") - 0.75) <= 0.03).as("p75_ok"))
        .orderBy(col("l_returnflag"))
    },
      """SELECT l_returnflag, count(*) AS n, TRUE AS cdf20_ok,
                TRUE AS bin_mid_ok, TRUE AS p75_ok
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),

    Gate("q_sketch_tuple", (s, dir) => {
      // tuple (arrayOfDoubles) sketch (reference datasketches tuple ext):
      // per distinct user, sum an array of double metrics; estimates are
      // exact below the nominal entry count, so this IS oracle-checkable
      // at sf0.01 (150 users/type << 4096 nominal entries)
      import graft.functions.sketches.TupleSketchAgg._
      t(s, dir)("events")
        .groupBy(col("event_type"))
        .agg(tupleSketch(col("user_id"),
          array(col("value").cast("double"), lit(1.0))).as("sk"))
        .select(col("event_type"),
          tupleEstimate(col("sk")).cast("long").as("n_users"),
          round(tupleMetricSum(col("sk"), 0), 3).as("sum_value"),
          tupleMetricSum(col("sk"), 1).cast("long").as("n_rows"))
        .orderBy(col("event_type"))
    },
      """SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
                round(sum(value), 3) AS sum_value, count(*) AS n_rows
         FROM events GROUP BY event_type ORDER BY event_type"""),

    Gate("q_sketch_theta_setops", (s, dir) => {
      // KMV/theta-style sketch algebra (reference datasketches theta):
      // distinct users per event type, then intersection/union estimates
      // across two types via post-aggregation set ops. Self-asserting: the
      // exact set sizes come from one distinct-user pass; every estimate
      // must land within KMV's epsilon (intersection/difference are noisier
      // — same bounds SketchSpec measures).
      import graft.functions.sketches.KmvSketchAgg._
      val ev = t(s, dir)("events").filter(col("event_type").isin("purchase", "click"))
      val sk = ev.groupBy(col("event_type"))
        .agg(kmvSketch(col("user_id")).as("sk"))
      val p = sk.filter(col("event_type") === "purchase").select(col("sk").as("sk_p"))
      val l = sk.filter(col("event_type") === "click").select(col("sk").as("sk_l"))
      val est = p.crossJoin(l).select(
        kmvEstimate(col("sk_p")).as("e_p"),
        kmvEstimate(col("sk_l")).as("e_l"),
        kmvIntersect(col("sk_p"), col("sk_l")).as("e_both"),
        kmvUnion(col("sk_p"), col("sk_l")).as("e_either"),
        kmvNot(col("sk_p"), col("sk_l")).as("e_only"))
      val exact = ev.groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase", 1).otherwise(0)).as("isp"),
          max(when(col("event_type") === "click", 1).otherwise(0)).as("isc"))
        .agg(sum(col("isp")).cast("long").as("purchase_users"),
          sum(col("isc")).cast("long").as("click_users"),
          sum(when(col("isp") === 1 && col("isc") === 1, 1).otherwise(0))
            .cast("long").as("both_users"),
          count(lit(1)).as("either_users"),
          sum(when(col("isp") === 1 && col("isc") === 0, 1).otherwise(0))
            .cast("long").as("purchase_only_users"))
      exact.crossJoin(est).select(
        col("purchase_users"), col("click_users"), col("both_users"),
        col("either_users"), col("purchase_only_users"),
        // set-op estimates carry union-scaled error (theta-sketch error
        // model), so intersection/difference bounds normalize by |A∪B| —
        // also keeps the bound defined when the exact difference is 0
        (abs(col("e_p") / col("purchase_users") - 1.0) <= 0.05).as("p_ok"),
        (abs(col("e_l") / col("click_users") - 1.0) <= 0.05).as("l_ok"),
        (abs(col("e_both") - col("both_users")) <=
          col("either_users") * 0.15).as("both_ok"),
        (abs(col("e_either") / col("either_users") - 1.0) <= 0.05).as("union_ok"),
        (abs(col("e_only") - col("purchase_only_users")) <=
          col("either_users") * 0.15).as("not_ok"))
    },
      """WITH u AS (
           SELECT user_id,
                  max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS isp,
                  max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS isc
           FROM events WHERE event_type IN ('purchase', 'click')
           GROUP BY user_id)
         SELECT CAST(sum(isp) AS BIGINT) AS purchase_users,
                CAST(sum(isc) AS BIGINT) AS click_users,
                CAST(sum(CASE WHEN isp = 1 AND isc = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS both_users,
                count(*) AS either_users,
                CAST(sum(CASE WHEN isp = 1 AND isc = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS purchase_only_users,
                TRUE AS p_ok, TRUE AS l_ok, TRUE AS both_ok,
                TRUE AS union_ok, TRUE AS not_ok
         FROM u"""),

    // reference sketch SQL text verbatim: DS_THETA / DS_HLL /
    // DS_TUPLE_DOUBLES aggregates, THETA_SKETCH_UNION/INTERSECT/NOT and
    // HLL_SKETCH_UNION sketch-returning post-aggs, *_WITH_ERROR_BOUNDS,
    // DS_TUPLE_DOUBLES_METRICS_SUM_ESTIMATE, APPROX_QUANTILE and
    // APPROX_QUANTILE_FIXED_BUCKETS. Self-asserting against the exact
    // distinct/median computed in the same query (bounds ≥2× the observed
    // sketch error at these K values).
    Gate.spark("q_sql_sketch_surface",
      """
        WITH sk AS (
          SELECT event_type,
                 ds_theta(user_id) AS th,
                 ds_hll(user_id) AS hl,
                 ds_tuple_doubles(user_id, CAST(1.0 AS DOUBLE)) AS tu
          FROM events WHERE event_type IN ('purchase', 'click')
          GROUP BY event_type),
        p AS (SELECT th AS th_p, hl AS hl_p, tu AS tu_p FROM sk
              WHERE event_type = 'purchase'),
        c AS (SELECT th AS th_c, hl AS hl_c, tu AS tu_c FROM sk
              WHERE event_type = 'click'),
        q AS (SELECT approx_quantile(value, 0.5) AS med_est,
                     approx_quantile_fixed_buckets(value, 0.5, 200, 0.0,
                       1000.0, 'clip') AS med_fb,
                     percentile(value, 0.5) AS med_exact,
                     count(*) AS n_events
              FROM events WHERE event_type IN ('purchase', 'click')),
        u AS (SELECT user_id,
                     max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS isp,
                     max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS isc
              FROM events WHERE event_type IN ('purchase', 'click')
              GROUP BY user_id),
        exact AS (
          SELECT CAST(sum(isp) AS BIGINT) AS purchase_users,
                 CAST(sum(CASE WHEN isp = 1 AND isc = 1 THEN 1 ELSE 0 END)
                   AS BIGINT) AS both_users,
                 count(*) AS either_users,
                 CAST(sum(CASE WHEN isp = 1 AND isc = 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS purchase_only_users
          FROM u)
        SELECT purchase_users, both_users, either_users, purchase_only_users,
               n_events,
               abs(theta_sketch_estimate(theta_sketch_union(th_p, th_c))
                 / either_users - 1.0) <= 0.05 AS theta_union_ok,
               abs(theta_sketch_estimate(theta_sketch_intersect(th_p, th_c))
                 - both_users) <= either_users * 0.15 AS theta_intersect_ok,
               abs(theta_sketch_estimate(theta_sketch_not(th_p, th_c))
                 - purchase_only_users) <= either_users * 0.15 AS theta_not_ok,
               theta_sketch_estimate_with_error_bounds(th_p, 3)[1]
                 <= purchase_users AND purchase_users
                 <= theta_sketch_estimate_with_error_bounds(th_p, 3)[2]
                 AS theta_bounds_ok,
               abs(hll_sketch_estimate(hll_sketch_union(hl_p, hl_c))
                 / either_users - 1.0) <= 0.1 AS hll_union_ok,
               hll_sketch_estimate_with_error_bounds(hl_p, 3)[1]
                 <= purchase_users AND purchase_users
                 <= hll_sketch_estimate_with_error_bounds(hl_p, 3)[2]
                 AS hll_bounds_ok,
               hll_sketch_to_string(hl_p) LIKE '%estimate%' AS hll_str_ok,
               abs(ds_tuple_doubles_metrics_sum_estimate(
                     ds_tuple_doubles_union(tu_p, tu_c))[0]
                 / n_events - 1.0) <= 0.1 AS tuple_union_ok,
               abs(tuple_estimate(ds_tuple_doubles_intersect(tu_p, tu_c))
                 - both_users) <= either_users * 0.15 AS tuple_intersect_ok,
               abs(med_est - med_exact)
                 <= 0.05 * greatest(abs(med_exact), 1.0) AS aq_ok,
               abs(med_fb - med_exact)
                 <= 0.1 * greatest(abs(med_exact), 1.0) + 5.0 AS fb_ok
        FROM exact CROSS JOIN p CROSS JOIN c CROSS JOIN q""",
      """WITH u AS (
           SELECT user_id,
                  max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS isp,
                  max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS isc
           FROM events WHERE event_type IN ('purchase', 'click')
           GROUP BY user_id),
         q AS (SELECT count(*) AS n_events FROM events
               WHERE event_type IN ('purchase', 'click'))
         SELECT CAST(sum(isp) AS BIGINT) AS purchase_users,
                CAST(sum(CASE WHEN isp = 1 AND isc = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS both_users,
                count(*) AS either_users,
                CAST(sum(CASE WHEN isp = 1 AND isc = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS purchase_only_users,
                (SELECT n_events FROM q) AS n_events,
                TRUE AS theta_union_ok, TRUE AS theta_intersect_ok,
                TRUE AS theta_not_ok, TRUE AS theta_bounds_ok,
                TRUE AS hll_union_ok, TRUE AS hll_bounds_ok,
                TRUE AS hll_str_ok, TRUE AS tuple_union_ok,
                TRUE AS tuple_intersect_ok, TRUE AS aq_ok, TRUE AS fb_ok
         FROM u"""),

    Gate("q_sketch_bloom", (s, dir) => {
      // bloom-filter agg + membership filter (reference bloom extension):
      // build a filter of high-balance custkeys, probe customers through it.
      // Self-asserting: bloom filters have NO false negatives (every member
      // passes) and the FP rate at 2^16 bits / ~this many keys is far under
      // 5% of the non-member population — both booleans hash-match TRUE.
      import graft.functions.sketches.BloomFilterAgg._
      val c = t(s, dir)("customer")
      val bytes = c.filter(col("c_acctbal") > 5000)
        .agg(bloomBuild(col("c_custkey"), numBits = 1 << 16)).head()
        .getAs[Array[Byte]](0)
      c.groupBy(col("c_nationkey"))
        .agg(count(when(col("c_acctbal") > 5000, 1)).as("n_high"),
          count(when(bloomMightContain(lit(bytes), col("c_custkey")), 1))
            .as("n_pass"),
          count(lit(1)).as("n_total"))
        .select(col("c_nationkey"), col("n_high"),
          (col("n_pass") >= col("n_high")).as("no_false_neg"),
          ((col("n_pass") - col("n_high")).cast("double") <=
            greatest(lit(2.0),
              (col("n_total") - col("n_high")).cast("double") * 0.05))
            .as("fp_ok"))
        .orderBy(col("c_nationkey"))
    },
      """SELECT c_nationkey,
                count(CASE WHEN c_acctbal > 5000 THEN 1 END) AS n_high,
                TRUE AS no_false_neg, TRUE AS fp_ok
         FROM customer GROUP BY c_nationkey ORDER BY c_nationkey"""),

    Gate("q_agg_quantile_approx", (s, dir) => {
      // approximate quantiles (reference quantiles/KLL sketch surface).
      // Self-asserting rank bound: approx_percentile(…, 1000) guarantees
      // rank error <= 1/1000, so the estimate must sit inside the exact
      // [p48, p52] envelope computed in the same aggregation; exact
      // percentiles are oracle-gated in q_agg_percentile.
      t(s, dir)("orders")
        .groupBy(col("o_orderpriority"))
        .agg(expr("approx_percentile(o_totalprice, 0.5, 1000)").as("p50_est"),
          expr("percentile(o_totalprice, 0.48)").as("lo"),
          expr("percentile(o_totalprice, 0.52)").as("hi"),
          count(lit(1)).as("n"))
        .select(col("o_orderpriority"), col("n"),
          (col("p50_est") >= col("lo") && col("p50_est") <= col("hi"))
            .as("p50_ok"))
        .orderBy(col("o_orderpriority"))
    },
      """SELECT o_orderpriority, count(*) AS n, TRUE AS p50_ok
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")
  )
}
