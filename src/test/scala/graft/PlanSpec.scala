package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions for the scale-critical properties: predicate
  * pushdown and column pruning reach the parquet scan, dimension joins
  * broadcast, big-big joins sort-merge, aggregation is partial+final, topN
  * plans to TakeOrderedAndProject, and hot expressions stay inside
  * whole-stage codegen. These are the properties that decide whether a plan
  * survives a 100 TB / 1000-executor scale-up, checked on every build.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries(name)(spark, dir)
      .queryExecution.executedPlan.toString
  }

  /** The SQL text a SQL-text gate runs. */
  private def gateSql(name: String): String =
    SparkEntry.gates.find(_.name == name).flatMap(_.sql).get

  test("scan pushes predicates and prunes columns at the parquet reader") {
    val p = plan("q_scan")
    assert(p.contains("PushedFilters: ["), p.takeWhile(_ => true).take(800))
    assert(!p.contains("PushedFilters: []"))
    // projection reaches the reader: the read schema must not include all
    // event columns (props is never selected)
    assert(!p.split("ReadSchema")(1).takeWhile(_ != '\n').contains("props"))
  }

  test("dimension joins broadcast — no shuffle of the fact side") {
    val p = plan("q_join_5way")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("big-big join plans as sort-merge") {
    val p = plan("q_join_sortmerge")
    assert(p.contains("SortMergeJoin"))
  }

  test("groupBy aggregates partially before the shuffle (map-side combine)") {
    val p = plan("q_groupby_q1")
    assert(p.contains("partial_sum") || p.contains("partial"),
      "expected partial aggregation before exchange")
  }

  test("topN plans to TakeOrderedAndProject, not global sort") {
    val p = plan("q_topn")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("multiple exact count-distincts run one Expand pass, no self-join") {
    // the reference rewrites N distinct aggregates into a join of N
    // grouping subqueries; Spark's Expand evaluates all of them plus the
    // plain aggregates in a single scan — pin that no join sneaks in and
    // the fact table is read once
    val p = plan("q_qa_multi_count_distinct")
    assert(p.contains("Expand"), "expected Expand-based multi-distinct")
    assert(!p.contains("Join"), "multi-distinct must not plan as a self-join")
    assert("FileScan|BatchScan".r.findAllIn(p).size == 1,
      "fact side must be scanned exactly once")
  }

  test("expression queries run inside whole-stage codegen") {
    // AQE finalizes codegen spans at execution; run the query, then read
    // the final plan
    val df = SparkEntry.queries("q_expr_math")(spark, dir)
    df.collect()
    // codegen stages print as "*(n)" operator prefixes in the final plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*(1)"), p.take(400))
    // the filter+project over the scan must be inside a codegen stage
    assert("\\*\\(\\d+\\) (Project|Filter)".r.findFirstIn(p).isDefined)
  }

  test("MV_* function queries stay inside whole-stage codegen") {
    // r17 regression class: MvInput/DruidTypedEquals were CodegenFallback
    // and sat in every MV_* builder — 2-11x on the MV microgates. Both are
    // RuntimeReplaceable now (dispatch is static on the operand dataType),
    // so the optimizer folds them away and the executed plan must show a
    // codegen'd Project with no trace of the placeholder expressions.
    // HOF-based MV fns (MV_FILTER_*, MV_OFFSET_OF, …) ride Spark's
    // transform/filter, which are CodegenFallback by construction in
    // Spark itself — pin the non-HOF core (length/offset/ordinal/
    // contains over STRING_TO_MV) instead, which must codegen end-to-end
    Tables.registerAll(spark, dir)
    GraftSession.attach(spark)
    val df = spark.sql(
      """SELECT p_partkey, MV_LENGTH(w) AS n, MV_OFFSET(w, 0) AS w0,
                MV_ORDINAL(w, 2) AS w2, MV_CONTAINS(w, 'green') AS g
         FROM (SELECT p_partkey, STRING_TO_MV(p_name, ' ') AS w FROM part)""")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("mvinput") && !p.contains("druidtypedequals") &&
      !p.contains("jsoninputtext"),
      "RuntimeReplaceable MV placeholders must fold away: " + p.take(600))
    assert("\\*\\(\\d+\\) Project".r.findFirstIn(p).isDefined,
      "MV projection must whole-stage codegen: " + p.take(1200))
  }

  test("MVD groupBy explode plans one Generate below the aggregate") {
    // the MVD grouping dialect must EXPLODE (a narrow Generate feeding
    // the hash aggregate), never expand to a join or re-scan: one scan,
    // one generate, no cartesian — the shape that scales to wide MVDs
    val df = SparkEntry.queries("q_mvd_groupby_explode")(spark, dir)
    df.collect()
    // AQE prints Final and Initial plans — inspect the final one only
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(p.contains("Generate explode"), p.take(800))
    assert(!p.contains("CartesianProduct"), "no cartesian: " + p.take(800))
    assert("Generate explode".r.findAllIn(p).size == 1,
      "exactly one explode: " + p.take(800))
  }

  test("approximate topN plans through the custom exec and matches exact") {
    val events = Tables.load(spark, dir, "events")
    val approx = graft.plans.ApproxTopN
      .approxTopN(events.repartition(5), "user_id", None, k = 10)
    // physical nodes print with the Exec suffix stripped
    assert(approx.queryExecution.executedPlan.toString
      .contains("LocalApproxTopN"))
    val a = approx.collect().map(r => (r.getLong(0), r.getDouble(1).toLong))
    val e = events.groupBy(col("user_id")).count()
      .orderBy(col("count").desc, col("user_id").asc).limit(10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // per-partition cardinality << 1000 at sf0.001 → exact
    assert(a.sameElements(e), s"approx ${a.toSeq} vs exact ${e.toSeq}")
    // sum-metric variant
    val s = graft.plans.ApproxTopN
      .approxTopN(events, "event_type", Some("value"), k = 3)
      .collect().map(_.getString(0))
    assert(s.length == 3)
  }

  test("reverse-lookup rule inverts lookup filters into pushable IN filters") {
    GraftSession.attach(spark)
    val lkp = Map("1-URGENT" -> "hot", "2-HIGH" -> "hot", "3-MEDIUM" -> "warm")
    val df = Tables.load(spark, dir, "orders")
      .filter(graft.functions.DruidFunctions
        .lookup(col("o_orderpriority"), lkp) === "hot")
    val plan = df.queryExecution.executedPlan.toString
    // the map-extraction equality must be gone, replaced by a raw-column IN
    // that reaches the parquet reader
    assert(!plan.contains("element_at"), plan.take(600))
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderpriority), " +
      "In(o_orderpriority"), plan.take(600))
    val expected = Tables.load(spark, dir, "orders")
      .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH")).count()
    assert(df.count() == expected)
  }

  test("aggregate pull-up-lookup rule lifts injective lookups above the agg") {
    GraftSession.attach(spark)
    val lkp = Map("F" -> "finished", "O" -> "open", "P" -> "partial")
    def query = Tables.load(spark, dir, "orders")
      .groupBy(graft.functions.DruidFunctions
        .lookup(col("o_orderstatus"), lkp).as("status"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
    import org.apache.spark.sql.catalyst.expressions.ElementAt
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    // "the probe is below the agg" = some Aggregate node's CHILD subtree
    // still computes element_at (per input row)
    def probeBelowAgg(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      p.collect { case a: Aggregate => a }
        .exists(_.child.exists(_.expressions.exists(
          _.exists(_.isInstanceOf[ElementAt]))))
    // without the injectivity declaration the rule must NOT fire: the
    // lookup is evaluated below the aggregate (Spark's own
    // PullOutGroupingExpressions pre-projection)
    assert(probeBelowAgg(query.queryExecution.optimizedPlan))
    spark.conf.set("spark.graft.assumeInjectiveLookups", "true")
    try {
      val on = query
      val optimized = on.queryExecution.optimizedPlan
      // declared injective: the agg groups by the RAW column; the lookup
      // probe sits ONLY above the aggregate (evaluated per group)
      assert(!probeBelowAgg(optimized), optimized.toString.take(800))
      assert(optimized.expressions.exists(
        _.exists(_.isInstanceOf[ElementAt])) || optimized.exists {
        case p: org.apache.spark.sql.catalyst.plans.logical.Project =>
          p.projectList.exists(_.exists(_.isInstanceOf[ElementAt]))
        case _ => false
      }, optimized.toString.take(800))
      // identical results either way (map covers every o_orderstatus value)
      val got = on.collect().map(r => (r.getString(0), r.getLong(1))).toMap
      spark.conf.set("spark.graft.assumeInjectiveLookups", "false")
      val want = query.collect().map(r => (r.getString(0), r.getLong(1))).toMap
      assert(got == want)
    } finally spark.conf.set("spark.graft.assumeInjectiveLookups", "false")
  }

  test("bounded pair joins never broadcast the corpus side in shuffle mode") {
    import graft.pipeline.{Dedup, Similarity}
    import org.apache.spark.sql.functions._
    val docs = Tables.load(spark, dir, "documents")
    val emb = Tables.load(spark, dir, "embeddings")
    // shuffle mode: the plan must contain no BroadcastExchange at all (the
    // corpus-sized build side is the only table in these self-joins)
    val fuzzyShuffle = Dedup.fuzzyPairs(
      Tables.load(spark, dir, "part"), "p_partkey", "p_name",
      blockKey = col("p_brand"), threshold = 0.92, mode = "shuffle")
    assert(!fuzzyShuffle.queryExecution.executedPlan.toString
      .contains("BroadcastExchange"))
    val jacShuffle = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      blockKey = col("source"), shingleSize = 3, threshold = 0.2,
      mode = "shuffle")
    assert(!jacShuffle.queryExecution.executedPlan.toString
      .contains("BroadcastExchange"))
    val cosShuffle = Similarity.cosineNearDupPairs(emb, "vec_id", "embedding",
      threshold = 0.8, mode = "shuffle")
    assert(!cosShuffle.queryExecution.executedPlan.toString
      .contains("BroadcastExchange"))
    // both modes produce the identical pair set (bit-identical per-pair math)
    def key(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val fuzzyBcast = Dedup.fuzzyPairs(
      Tables.load(spark, dir, "part"), "p_partkey", "p_name",
      blockKey = col("p_brand"), threshold = 0.92, mode = "broadcast")
    assert(key(fuzzyShuffle) == key(fuzzyBcast))
    val cosBcast = Similarity.cosineNearDupPairs(emb, "vec_id", "embedding",
      threshold = 0.8, mode = "broadcast")
    assert(key(cosShuffle) == key(cosBcast))
  }

  test("ann never broadcasts an over-threshold query side") {
    import graft.pipeline.Similarity
    import org.apache.spark.sql.functions._
    val emb = Tables.load(spark, dir, "embeddings")
    // corpus-vs-corpus self-search: in shuffle mode (what auto picks once
    // the query side exceeds the broadcast threshold) neither side may be
    // broadcast — the plan must be a salted shuffle join on the bucket key
    val lsh = Similarity.annLsh(emb, emb, "vec_id", "embedding", k = 3,
      numBits = 4, mode = "shuffle")
    assert(!lsh.queryExecution.executedPlan.toString
      .contains("BroadcastExchange"))
    val ivf = Similarity.annIvf(emb, emb, "vec_id", "embedding", k = 3,
      nlist = 4, nprobe = 2, iters = 1, mode = "shuffle")
    // centroid probe-assign broadcasts the nlist-row centroid table (fine);
    // the bucket join itself must be shuffle-shaped: assert it by checking
    // the SortMergeJoin on centroid_id is present
    val ivfPlan = ivf.queryExecution.executedPlan.toString
    assert(ivfPlan.contains("SortMergeJoin"))
    // both modes agree on results (same per-pair math, same top-k ties)
    val qs = emb.filter(col("vec_id") < 10)
    def key(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(key(Similarity.annLsh(qs, emb, "vec_id", "embedding", 3, 4,
      mode = "shuffle")) ==
      key(Similarity.annLsh(qs, emb, "vec_id", "embedding", 3, 4,
        mode = "broadcast")))
  }

  test("shingle pipeline has no shuffle before the partial min-aggregates") {
    // scan -> project -> generate -> partial agg; the only Exchange must be
    // AFTER the first HashAggregate (the partial)
    val p = graft.pipeline.Dedup
      .minHashLsh(Tables.load(spark, dir, "documents"), "doc_id", "text",
        shingleSize = 3, numHashes = 8, numBands = 2)
      .queryExecution.executedPlan.toString
    val firstAgg = p.indexOf("HashAggregate")
    assert(firstAgg >= 0)
    // AQE wraps plans; just assert a Generate (explode) exists with no
    // window exec anywhere (the old formulation sorted every token row)
    assert(p.contains("Generate") && !p.contains("Window"))
  }

  test("bucketed tables join with no shuffle on either side") {
    // reference CLUSTERED BY hash shards co-locate equal keys per segment;
    // our analog: bucketed tables. Both sides bucketed on the join key into
    // the same bucket count -> sort-merge join with ZERO Exchange operators.
    // At 100 TB this is the difference between shuffling two fact tables
    // per query and a per-bucket local merge.
    val tmp = java.nio.file.Files.createTempDirectory("graft_bkt").toString
    val li = Tables.load(spark, dir, "lineitem")
      .select("l_orderkey", "l_quantity", "l_extendedprice")
    val ord = Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_orderpriority")
    graft.operators.Ingest.writeBucketed(li, "bkt_lineitem", s"$tmp/li", 4,
      "l_orderkey", sortCols = Seq("l_orderkey"))
    graft.operators.Ingest.writeBucketed(ord, "bkt_orders", s"$tmp/ord", 4,
      "o_orderkey", sortCols = Seq("o_orderkey"))
    val joined = spark.table("bkt_lineitem")
      .join(spark.table("bkt_orders").hint("merge"),
        col("l_orderkey") === col("o_orderkey"))
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"))
    assert(!p.contains("Exchange"), s"bucketed join must not shuffle:\n$p")
    // and it still computes the right thing
    assert(joined.count() ==
      li.join(ord, col("l_orderkey") === col("o_orderkey")).count())
    spark.sql("DROP TABLE IF EXISTS bkt_lineitem")
    spark.sql("DROP TABLE IF EXISTS bkt_orders")
  }

  test("tpch suite plans: decorrelation, pushdown, no cartesian products") {
    Tables.registerAll(spark, dir)
    def plan(q: String): String =
      spark.sql(gateSql(s"q_tpch_$q")).queryExecution.executedPlan.toString
    // Q17: the correlated avg subquery decorrelates to an aggregate join —
    // never a per-row re-execution or a cartesian product
    val q17 = plan("q17")
    assert(!q17.contains("CartesianProduct"))
    assert(q17.contains("BroadcastHashJoin") || q17.contains("SortMergeJoin"))
    assert(q17.contains("p_brand"), "brand filter must reach the part scan")
    // Q19: the disjunctive brand/size/quantity predicate derives scan-level
    // range filters on BOTH sides (l_quantity bounds on lineitem, p_size
    // bounds on part) instead of filtering only after the join
    val q19 = plan("q19")
    assert(!q19.contains("CartesianProduct"))
    assert(q19.contains("DataFilters: [isnotnull(l_partkey"),
      s"lineitem scan must carry derived data filters:\n$q19")
    // Q22: NOT EXISTS plans as a LeftAnti join, and the nation-key IN
    // filter is pushed into the customer scan
    val q22 = plan("q22")
    assert(q22.contains("LeftAnti"))
    assert(q22.contains("IN (1,2,3,7,8,9,10)"),
      s"IN filter must reach the customer scan:\n$q22")
  }

  test("tpch full-battery plans: star joins broadcast, subqueries decorrelate to semi/anti joins") {
    Tables.registerAll(spark, dir)
    def plan(q: String): String =
      spark.sql(gateSql(s"q_tpch_$q")).queryExecution.executedPlan.toString
    // Q05: 6-table star — every dimension (supplier/nation/region/customer)
    // is broadcast-sized; the lineitem fact must never feed a cartesian, and
    // the date range must reach the orders scan as a pushed filter
    val q05 = plan("q05")
    assert(!q05.contains("CartesianProduct"), s"q05 cartesian:\n$q05")
    assert("BroadcastHashJoin".r.findAllIn(q05).size >= 3,
      s"q05 dimension joins must broadcast:\n$q05")
    assert(q05.contains("PushedFilters") && q05.contains("o_orderdate"),
      s"q05 date filter must push into the orders scan:\n$q05")
    // Q04: the correlated count(*) subquery decorrelates to ONE aggregate
    // over lineitem joined back to orders — not a per-order re-execution
    val q04 = plan("q04")
    assert(!q04.contains("CartesianProduct"), s"q04 cartesian:\n$q04")
    assert(q04.contains("l_returnflag"),
      s"q04 returnflag filter must reach the lineitem side:\n$q04")
    // Q18: the IN-over-HAVING subquery plans as a semi join against the
    // pre-aggregated lineitem, never as a full materialized IN list
    val q18 = plan("q18")
    assert(q18.contains("LeftSemi"), s"q18 IN must become LeftSemi:\n$q18")
    assert(!q18.contains("CartesianProduct"), s"q18 cartesian:\n$q18")
    // Q21: the EXISTS / NOT EXISTS pair over the same fact decorrelates to
    // a LeftSemi + LeftAnti chain — the 100-TB shape (two hash joins on
    // l_orderkey), not nested-loop re-probes
    val q21 = plan("q21")
    assert(q21.contains("LeftSemi") && q21.contains("LeftAnti"),
      s"q21 must plan semi+anti joins:\n$q21")
    assert(!q21.contains("CartesianProduct"), s"q21 cartesian:\n$q21")
    // Q08: widest join in the battery (8 relations) — planner must keep it
    // cartesian-free with the region/type filters pushed to their scans
    val q08 = plan("q08")
    assert(!q08.contains("CartesianProduct"), s"q08 cartesian:\n$q08")
    assert(q08.contains("ECONOMY"),
      s"q08 p_type filter must reach the part scan:\n$q08")
    // Q20: nested IN + correlated scalar agg — everything decorrelates;
    // no per-supplier re-scan of lineitem
    val q20 = plan("q20")
    assert(!q20.contains("CartesianProduct"), s"q20 cartesian:\n$q20")
    assert(q20.contains("LeftSemi"), s"q20 IN chain must semi-join:\n$q20")
  }

  test("ratio gates emit no DECIMAL output column (serialization parity with the oracle)") {
    // A round(decimal/decimal) projection keeps Spark's fixed decimal scale
    // (0.038360) where DuckDB's float repr drops the trailing zero (0.03836)
    // — identical numbers, divergent serialized hashes. Every ratio gate
    // must CAST its quotient to DOUBLE; pin that for the two TPC-H shapes
    // that carry the hazard (q08 mkt_share, q14 promo_revenue).
    Tables.registerAll(spark, dir)
    import org.apache.spark.sql.types.DecimalType
    for (q <- Seq("q08", "q14")) {
      val schema = spark.sql(gateSql(s"q_tpch_$q")).schema
      val decimals = schema.fields.filter(_.dataType.isInstanceOf[DecimalType])
      assert(decimals.isEmpty,
        s"$q must not expose DECIMAL output columns, found: " +
          decimals.map(f => s"${f.name}:${f.dataType}").mkString(", "))
    }
  }

  test("SSB star flights broadcast every dimension; fact never shuffles for the join") {
    Tables.registerAll(spark, dir)
    val p = spark.sql(gateSql("q_ssb_q4"))
      .queryExecution.executedPlan.toString
    // 4 dimension joins (orders plays the date role only through the fact
    // key; customer/supplier/part are true dims) — all broadcast, no
    // sort-merge anywhere in the star
    assert(!p.contains("SortMergeJoin"), s"star join must not sort-merge:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      s"dimension joins must broadcast:\n$p")
    // the brand IN filter reaches the part scan, not the post-join filter
    assert(p.contains("PushedFilters") && p.contains("p_brand"),
      "brand predicate must push into the part scan")
  }

  test("sketch SQL aggregates run two-phase: partial sketches before the shuffle") {
    // At cluster scale a sketch aggregate MUST combine per-partition state
    // map-side and merge small binary sketches through the exchange —
    // shipping raw rows to a single reducer would turn a KB-sized result
    // into a full shuffle of the fact table. TypedImperativeAggregate gives
    // ObjectHashAggregate with a partial mode below the exchange; pin that
    // shape for the reference-named SQL surface.
    Tables.registerAll(spark, dir)
    GraftSession.attach(spark)
    val p = spark.sql(
      """SELECT event_type, theta_sketch_estimate(ds_theta(user_id)) AS t,
                hll_sketch_estimate(ds_hll(user_id)) AS h,
                approx_quantile_fixed_buckets(value, 0.5, 100, 0.0, 1000.0) AS q
         FROM events GROUP BY event_type""")
      .queryExecution.executedPlan.toString
    assert(p.contains("ObjectHashAggregate"), s"expected object hash agg:\n$p")
    val exchangeIdx = p.indexOf("Exchange")
    val partialIdx = p.indexOf("partial_")
    assert(partialIdx >= 0, s"expected partial sketch aggregation:\n$p")
    // executedPlan prints top-down: the partial agg appears BELOW (after)
    // the exchange in the text, so its index is larger
    assert(exchangeIdx >= 0 && partialIdx > exchangeIdx,
      "partial sketch aggregation must sit below the exchange (map side)")
  }

  test("outer time filter reaches the scan through a subquery") {
    // the Calcite-corpus shape: a range filter applied ABOVE a projecting
    // subquery must still land in the scan's data filters — at 100 TB this
    // is the difference between reading 10 days and reading the table
    val p = plan("q_qa_time_filter_subquery")
    val scanIdx = p.indexOf("FileScan")
    val filterIdx = p.indexOf("Filter")
    assert(scanIdx >= 0 && filterIdx >= 0, "expected Filter + FileScan nodes:\n" + p)
    assert(p.substring(scanIdx).take(600).contains("ts"),
      "ts filter must reach the scan:\n" + p)
    assert(filterIdx < scanIdx,
      "filter must sit directly on the scan, not above the aggregate")
  }

  test("multi-partitioning windows: same-partitioning pair shares one Window; one extra exchange for the second") {
    // qaWin basics_multi_windows at 100 TB: N distinct PARTITION BY clauses
    // cost N sort+exchange passes — functions over the SAME partitioning
    // must collapse into one Window operator or the pass count silently
    // doubles
    val p = plan("q_qa_win_multi_partitions")
    val windows = "Window ".r.findAllIn(p).size
    assert(windows == 2,
      s"expected exactly 2 Window operators (one per distinct partitioning), got $windows:\n$p")
  }

  test("semi+anti simultaneous subqueries both broadcast; fact side never shuffles pre-agg") {
    val p = plan("q_qa_join_semi_anti_simul")
    assert(p.contains("LeftSemi"), "expected broadcast semi join:\n" + p)
    assert(p.contains("LeftAnti"), "expected (null-aware) anti join:\n" + p)
    val firstJoin = math.min(p.indexOf("LeftSemi"), p.indexOf("LeftAnti"))
    // no exchange may appear between the orders scan and the two joins —
    // only BroadcastExchange of the subquery sides
    val joinRegion = p.substring(firstJoin)
    val ordersScan = joinRegion.indexOf("orders.parquet")
    assert(ordersScan >= 0)
    assert(!joinRegion.take(ordersScan).contains("Exchange hashpartitioning"),
      "fact side must not shuffle for the semi/anti joins:\n" + p)
  }

  test("capPerKey plans as one key shuffle + one Window; no extra exchange") {
    val p = plan("q_sample_cap_per_key")
    assert(p.contains("Window"), "expected a Window operator (row_number):\n" + p)
    // exactly two hash exchanges may appear: the window's partitioning and
    // the final groupBy — both on the same key, so AQE/exchange reuse can
    // even merge them; more would mean the cap pass shuffles data twice
    val n = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(n <= 2, s"expected <=2 hash exchanges (window + final agg), got $n:\n$p")
    // the filter must be on the rank column, applied before the drop
    assert(p.contains("row_number"), p)
  }

  test("session_window gate plans a session-window aggregate, not a join") {
    val p = plan("q_session_window")
    assert(p.toLowerCase.contains("sessionwindow") ||
      p.contains("session_window"), "expected session window node:\n" + p)
    assert(!p.contains("CartesianProduct"), "no cartesian in sessionization:\n" + p)
  }

  test("Drill optimization corpus: same-spec windows share ONE Window " +
      "operator and one exchange (optimization/plan/pp_01-13)") {
    // pp_05: two aggregates over the SAME (partition, order) spec — the
    // planner must merge them into a single Window node over a single
    // hash exchange, not sort+shuffle twice; pp_10-style different
    // partitions genuinely need two
    Tables.registerAll(spark, dir)
    val same = spark.sql(
      """SELECT sum(n_regionkey) OVER (PARTITION BY n_regionkey)
               + sum(n_regionkey + 100) OVER (PARTITION BY n_regionkey)
         FROM nation""").queryExecution.executedPlan.toString
    assert("\\bWindow\\b".r.findAllIn(same).length == 1,
      "same-spec window functions must merge into one Window operator:\n" + same)
    assert("Exchange hashpartitioning".r.findAllIn(same).length == 1,
      "one partition spec → one exchange:\n" + same)
    val diff = spark.sql(
      """SELECT sum(n_regionkey) OVER (PARTITION BY n_regionkey),
                sum(n_nationkey) OVER (PARTITION BY n_name)
         FROM nation""").queryExecution.executedPlan.toString
    assert("\\bWindow\\b".r.findAllIn(diff).length == 2,
      "different partition specs need two Window operators:\n" + diff)
  }

  test("Drill negative corpus: window functions without OVER are rejected " +
      "(negative/no_over_clause)") {
    Tables.registerAll(spark, dir)
    for (fn <- Seq("rank()", "row_number()", "dense_rank()", "ntile(3)",
        "lag(n_name)")) {
      intercept[Exception] {
        spark.sql(s"SELECT $fn FROM nation").collect()
      }
    }
  }

  test("sunburst JSON-filtered slice still pushes the time range to the scan") {
    val p = plan("q_qa_kttm_sunburst")
    // the JSON_VALUE filter itself cannot push, but the ts range must
    assert(p.split("PushedFilters")(1).takeWhile(_ != '\n').contains("ts"),
      "time-range filter must reach the parquet reader:\n" + p)
  }

  test("denormalizing star pre-join broadcasts every dimension") {
    val p = plan("q_qa_ssb_denorm")
    val n = "BroadcastExchange".r.findAllIn(p).length
    assert(n >= 2, s"expected customer+nation broadcast (got $n):\n$p")
    // lineitem (the fact) must not shuffle before the aggregate
    val aggIdx = p.indexOf("Exchange hashpartitioning")
    val liIdx = p.indexOf("lineitem.parquet")
    assert(aggIdx >= 0 && liIdx >= 0,
      "expected a hash exchange (final agg) and the lineitem scan:\n" + p)
    assert(liIdx > aggIdx,
      "the only hash exchange must be the final aggregate's, above the fact scan")
  }

  test("one rule placement: a created session and an attached newSession " +
       "carry the same rules and plan the same") {
    spark.sparkContext.setLogLevel("ERROR")
    val prevActive = SparkSession.getActiveSession
    val prevDefault = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    // no default session: create builds a new one on the running context
    val created =
      try GraftSession.create("local[4]", shufflePartitions = 4)
      finally {
        prevActive.foreach(SparkSession.setActiveSession)
        prevDefault.foreach(SparkSession.setDefaultSession)
      }
    val attached = created.newSession()
    GraftSession.attach(attached)
    Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
        "spark.sql.files.maxPartitionBytes", "spark.sql.session.timeZone")
      .foreach(k => attached.conf.set(k, created.conf.get(k)))

    def placement(s: SparkSession) = {
      val graftRules = s.sessionState.optimizer.batches.flatMap(b =>
        b.rules.filter(GraftSession.rules.contains).map(r => (b.name, r)))
      val strategies = s.sessionState.planner.strategies
        .count(_ == graft.plans.ApproxTopNStrategy)
      (graftRules, strategies)
    }
    for (s <- Seq(created, attached)) {
      val (graftRules, strategies) = placement(s)
      assert(graftRules.map(_._2) == GraftSession.rules)
      assert(graftRules.map(_._1).distinct == Seq("User Provided Optimizers"))
      assert(strategies == 1)
      GraftSession.attach(s)
      assert(placement(s) == ((graftRules, strategies)),
        "a second attach must change nothing")
    }

    def optimized(s: SparkSession, gate: String): String =
      SparkEntry.queries(gate)(s, dir).queryExecution.optimizedPlan.toString
        .replaceAll("#\\d+L?", "#")
    val gates = Seq("q_tpch_q01_decimal", "q_qasql_tautology_json_keys",
      "q_lookup_pullup", "q_topn_approx", "q_drill_window_lag_lead")
    for (gate <- gates) {
      val a = optimized(created, gate)
      assert(a == optimized(attached, gate), s"$gate plans differ:\n$a")
    }
    // the placement-sensitive rules fire on their gates, so the equality
    // above compares rewritten plans
    assert(optimized(created, "q_tpch_q01_decimal").contains("decimal_sum_hybrid"))
    assert(optimized(created, "q_qasql_tautology_json_keys")
      .contains("Repartition"))
  }

  test("expensive-filter spread: a pushable disjunction keeps the filter on its scan") {
    GraftSession.attach(spark)
    val s = spark
    import s.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_spread").toString + "/t"
    (1 to 40).map(i => (i % 4, s"k$i")).toDF("a", "s").write.parquet(path)
    // twelve regex engines: enough heavy calls for the rule
    val heavy = (0 until 12).map(i => s"regexp_extract(s, 'k($i)', 1) = '$i'")
      .mkString("(", " OR ", ")")
    def spread(cond: String): Boolean = s.read.parquet(path).filter(cond)
      .queryExecution.executedPlan.toString.contains("RoundRobinPartitioning")
    assert(spread(heavy), "no pushable conjunct: the filter spreads")
    assert(!spread(s"(a = 1 OR a = 2) AND $heavy"))
  }

  // the hybrid long-partial decimal SUM must be bit-identical to the
  // builtin decimal Sum it replaces (incl. flush paths and partition-order
  // independence); the expensive-filter spread must change the PLAN but
  // not the rows
  private def withRule[T](enabled: Boolean)(body: => T): T = {
    spark.conf.set("spark.graft.hybridDecimalSum.enabled", enabled.toString)
    try body
    finally spark.conf.set("spark.graft.hybridDecimalSum.enabled", "true")
  }

  private def decimalFixture(): Unit = {
    GraftSession.attach(spark)
    // values near the 10^18 unscaled ceiling force partial→carry flushes
    // (FlushAt = 2^61 ≈ 2.3e18 unscaled, each row ≈ 9.2e17)
    val rows = (1 to 40).map { i =>
      val v = if (i % 7 == 0) null
      else new java.math.BigDecimal(
        (if (i % 3 == 0) -1 else 1) * (900000000000000000L - i))
      (i % 4, v)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2)), 4),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("g",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.DecimalType(18, 0)))))
      .createOrReplaceTempView("r21_dec")
  }

  test("hybrid decimal sum is bit-identical to the builtin, incl. flushes") {
    decimalFixture()
    val sql = """SELECT g, CAST(sum(v) AS STRING) AS s,
                        CAST(sum(CAST(v % 1000000 AS DECIMAL(18,2))) AS STRING) AS s2
                 FROM r21_dec GROUP BY g ORDER BY g"""
    val hybrid = withRule(true)(spark.sql(sql).collect().toSeq)
    val builtin = withRule(false)(spark.sql(sql).collect().toSeq)
    assert(hybrid == builtin)
    // the rule actually fired (plan carries the hybrid aggregate)
    val plan = withRule(true)(
      spark.sql(sql).queryExecution.optimizedPlan.toString)
    assert(plan.contains("decimal_sum_hybrid"))
  }

  test("hybrid decimal sum: empty input and all-null group are NULL") {
    decimalFixture()
    val r = withRule(true)(spark.sql(
      "SELECT sum(v) FROM r21_dec WHERE g = 99").collect().head)
    assert(r.isNullAt(0))
    val r2 = withRule(true)(spark.sql(
      "SELECT sum(v) FROM r21_dec WHERE v IS NULL").collect().head)
    assert(r2.isNullAt(0))
  }

  test("hybrid decimal sum is partition-order independent") {
    decimalFixture()
    val sql = "SELECT CAST(sum(v) AS STRING) FROM r21_dec"
    val results = Seq(1, 3, 7).map { n =>
      spark.conf.set("spark.sql.shuffle.partitions", n.toString)
      try withRule(true)(spark.sql(sql).collect().head.getString(0))
      finally spark.conf.set("spark.sql.shuffle.partitions", "4")
    }
    assert(results.distinct.size == 1)
  }

  test("spread rule inserts the exchange and keeps rows identical") {
    Tables.registerAll(spark, dir)
    GraftSession.attach(spark)
    val gate = SparkEntry.queries("q_qasql_tautology_json_keys")
    def run(enabled: Boolean): (Seq[Row], String) = {
      spark.conf.set("spark.graft.spreadFilter.enabled", enabled.toString)
      try {
        val df = gate(spark, dir)
        (df.collect().toSeq, df.queryExecution.executedPlan.toString)
      } finally spark.conf.set("spark.graft.spreadFilter.enabled", "true")
    }
    val (offRows, offPlan) = run(false)
    val (onRows, onPlan) = run(true)
    assert(onRows == offRows)
    assert(onPlan.contains("RoundRobinPartitioning"))
    assert(!offPlan.contains("RoundRobinPartitioning"))
  }
}
