package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Gate.t
import graft.functions.DruidFunctions
import graft.operators.Joins

/** Extension gates: histograms, extraction functions, frames, null
  * handling, lookups, system tables, granularities, subquery datasources,
  * typed UDAFs and spatial filters.
  */
object ExtensionGates {

  val gates: Seq[Gate] = Seq(

    // --------------------------------- histogram / percentiles (§2.5 ext)
    Gate("q_agg_histogram", (s, dir) => {
      // fixed-bucket histogram (reference HistogramAggregatorFactory):
      // width_bucket over [0, 200) in 10 buckets on events.value
      t(s, dir)("events")
        .groupBy(width_bucket(col("value"), lit(0.0), lit(200.0), lit(10))
          .as("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("bucket"))
    },
      """SELECT CASE WHEN value < 0 THEN 0
                     WHEN value >= 200 THEN 11
                     ELSE CAST(floor(value / 20) + 1 AS BIGINT) END AS bucket,
                count(*) AS n
         FROM events GROUP BY 1 ORDER BY 1"""),

    Gate("q_agg_percentile", (s, dir) => {
      // exact interpolated percentiles (reference approximate-histogram /
      // quantiles sketch surface; exact is an accepted superset)
      t(s, dir)("orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
          round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90"))
        .orderBy(col("o_orderpriority"))
    },
      """SELECT o_orderpriority,
                round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
                round(quantile_cont(o_totalprice, 0.9), 4) AS p90
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""),

    // ------------------------- extraction-fn dimension specs (§2.3/§2.2)
    Gate("q_extraction_groupby", (s, dir) => {
      // group by extraction functions of columns (reference ExtractionFn/
      // ExtractionDimensionSpec): substring + time-format dimensions
      t(s, dir)("orders")
        .groupBy(
          substring(col("o_orderpriority"), 1, 1).as("prio_code"),
          date_format(col("o_orderdate"), "yyyy-MM").as("month"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("prio_code"), col("month"))
    },
      """SELECT substring(o_orderpriority, 1, 1) AS prio_code,
                strftime(o_orderdate, '%Y-%m') AS month, count(*) AS n
         FROM orders GROUP BY 1, 2 ORDER BY 1, 2"""),

    Gate("q_lookup_map", (s, dir) => {
      // literal-map lookup (reference LookupExprMacro / map-based lookup):
      // a bounded key→value map inlined into the plan, no join at all
      val m = Map("purchase" -> "revenue", "click" -> "engagement",
        "view" -> "engagement", "signup" -> "growth")
      t(s, dir)("events")
        .select(DruidFunctions.lookup(col("event_type"), m, Some("other"))
          .as("category"))
        .groupBy(col("category")).agg(count(lit(1)).as("n"))
        .orderBy(col("category"))
    },
      """SELECT CASE event_type
                  WHEN 'purchase' THEN 'revenue'
                  WHEN 'click' THEN 'engagement'
                  WHEN 'view' THEN 'engagement'
                  WHEN 'signup' THEN 'growth'
                  ELSE 'other' END AS category,
                count(*) AS n
         FROM events GROUP BY 1 ORDER BY 1"""),

    // ------------------------------------------- RANGE window frame (§2.6)
    Gate("q_window_range", (s, dir) => {
      // value-based RANGE frame (reference WindowFrame RANGE/GROUPS)
      val w = Window.partitionBy(col("l_returnflag")).orderBy(col("l_quantity"))
        .rangeBetween(-5, 0)
      t(s, dir)("lineitem").filter(col("l_orderkey") < 200)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_quantity"),
          count(lit(1)).over(w).cast("long").as("n_within_5"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
                count(*) OVER (PARTITION BY l_returnflag ORDER BY l_quantity
                  RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS n_within_5
         FROM lineitem WHERE l_orderkey < 200
         ORDER BY l_orderkey, l_linenumber"""),

    // ------------------------------------------------ null handling (§7.4)
    Gate("q_null_handling", (s, dir) => {
      // three-valued logic + null grouping: synthesize nulls with nullif
      t(s, dir)("orders")
        .select(nullif(col("o_orderstatus"), lit("P")).as("status_or_null"),
          col("o_totalprice"))
        .groupBy(col("status_or_null"))
        .agg(count(lit(1)).as("n_rows"),
          count(col("status_or_null")).as("n_nonnull"),
          round(sum(when(col("status_or_null").isNull, col("o_totalprice"))), 2)
            .as("null_total"))
        .orderBy(col("status_or_null").asc_nulls_first)
    },
      """SELECT nullif(o_orderstatus, 'P') AS status_or_null,
                count(*) AS n_rows,
                count(nullif(o_orderstatus, 'P')) AS n_nonnull,
                round(sum(o_totalprice)
                  FILTER (WHERE nullif(o_orderstatus, 'P') IS NULL), 2)
                  AS null_total
         FROM orders GROUP BY 1 ORDER BY 1 NULLS FIRST"""),

    // ----------------------- period granularity with origin (§2.9/§7.3)
    Gate("q_timeseries_origin", (s, dir) => {
      // PT6H buckets anchored at 03:00 — PeriodGranularity-with-origin
      // semantics that date_trunc cannot express
      val origin = 3L * 3600 * 1000000 // 1970-01-01T03:00Z in epoch micros
      t(s, dir)("events")
        .groupBy(DruidFunctions.timeFloor(col("ts"), "PT6H", origin).as("bucket"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 3).as("sum_value"))
        .orderBy(col("bucket"))
    },
      """SELECT make_timestamp(epoch_us(ts) -
                  ((epoch_us(ts) - 10800000000) % 21600000000)) AS bucket,
                count(*) AS n, round(sum(value), 3) AS sum_value
         FROM events GROUP BY 1 ORDER BY 1"""),

    // ------------------------------- MVD any-match filter (§1.2/§2.2)
    Gate("q_mvd_filter", (s, dir) => {
      // Druid MVD filter semantics: a filter on a multi-value dimension
      // matches if ANY value matches (array_contains rewrite)
      val toks = split(col("text"), " ")
      t(s, dir)("documents")
        .filter(array_contains(toks, "spark") && !array_contains(toks, "slow"))
        .groupBy(col("lang")).agg(count(lit(1)).as("n"))
        .orderBy(col("lang"))
    },
      """SELECT lang, count(*) AS n FROM documents
         WHERE list_contains(string_split(text, ' '), 'spark')
           AND NOT list_contains(string_split(text, ' '), 'slow')
         GROUP BY lang ORDER BY lang"""),

    // ------------------------------------ string first/last (§2.5)
    Gate("q_agg_firstlast_str", (s, dir) => {
      t(s, dir)("events").filter(col("user_id") < 50)
        .groupBy(col("user_id"))
        .agg(min_by(col("event_type"), col("ts")).as("first_type"),
          max_by(col("event_type"), col("ts")).as("last_type"),
          count(lit(1)).as("n"))
        .orderBy(col("user_id"))
    },
      """SELECT user_id, min_by(event_type, ts) AS first_type,
                max_by(event_type, ts) AS last_type, count(*) AS n
         FROM events WHERE user_id < 50
         GROUP BY user_id ORDER BY user_id"""),

    // ------------------------------------------ system tables (§2.11)
    Gate("q_sys_segments", (s, dir) => {
      graft.operators.Metadata.segments(s, dir)
        .groupBy(col("datasource"))
        .agg(sum(col("num_rows")).as("num_rows"))
        .orderBy(col("datasource"))
    },
      """SELECT datasource, CAST(num_rows AS BIGINT) AS num_rows FROM (
           SELECT 'region' AS datasource, count(*) AS num_rows FROM region
           UNION ALL SELECT 'nation', count(*) FROM nation
           UNION ALL SELECT 'customer', count(*) FROM customer
           UNION ALL SELECT 'supplier', count(*) FROM supplier
           UNION ALL SELECT 'part', count(*) FROM part
           UNION ALL SELECT 'orders', count(*) FROM orders
           UNION ALL SELECT 'lineitem', count(*) FROM lineitem
           UNION ALL SELECT 'events', count(*) FROM events
           UNION ALL SELECT 'documents', count(*) FROM documents
           UNION ALL SELECT 'embeddings', count(*) FROM embeddings)
         ORDER BY datasource"""),

    // --------------------------------- INFORMATION_SCHEMA (§2.11)
    Gate("q_info_schema", (s, dir) => {
      // COLUMNS view vs DuckDB's native information_schema over the same
      // registered tables — name/ordinal parity is the whole check
      graft.operators.Metadata.informationSchemaColumns(s, dir)
        .select(col("table_name"), col("column_name"),
          col("ordinal_position"))
        .orderBy(col("table_name"), col("ordinal_position"))
    },
      """SELECT table_name, column_name,
                CAST(ordinal_position AS BIGINT) AS ordinal_position
         FROM information_schema.columns
         WHERE table_name IN ('region','nation','customer','supplier','part',
                              'orders','lineitem','events','documents',
                              'embeddings')
         ORDER BY table_name, ordinal_position"""),

    // --------------------------------------- registered lookup (§2.9)
    Gate("q_lookup_registered", (s, dir) => {
      // named lookup resolved through the registry by the SQL LOOKUP fn
      graft.functions.LookupRegistry.register("status_names", Map(
        "F" -> "finished", "O" -> "open", "P" -> "partial"))
      s.sql("""SELECT lookup(o_orderstatus, 'status_names', 'unknown') AS status,
                      count(*) AS n
               FROM orders GROUP BY 1 ORDER BY 1""")
    },
      """SELECT CASE o_orderstatus WHEN 'F' THEN 'finished'
                  WHEN 'O' THEN 'open' WHEN 'P' THEN 'partial'
                  ELSE 'unknown' END AS status, count(*) AS n
         FROM orders GROUP BY 1 ORDER BY 1"""),

    Gate("q_lookup_schema", (s, dir) => {
      // lookup introspection schema (reference LookupSchema.java): the
      // registered lookup queried AS A TABLE and joined against a fact —
      // broadcast join, since a lookup is bounded by contract
      graft.functions.LookupRegistry.register("status_names", Map(
        "F" -> "finished", "O" -> "open", "P" -> "partial"))
      val lk = graft.operators.Metadata.lookupSchema(s)
        .filter(col("lookup_name") === "status_names")
      t(s, dir)("orders")
        .join(broadcast(lk), col("o_orderstatus") === col("k"))
        .groupBy(col("v")).agg(count(lit(1)).as("n"))
        .orderBy(col("v"))
    },
      """SELECT v, count(*) AS n
         FROM orders JOIN (VALUES ('F', 'finished'), ('O', 'open'),
                                  ('P', 'partial')) AS l(k, v)
           ON o_orderstatus = k
         GROUP BY v ORDER BY v"""),

    Gate("q_lookup_pullup", (s, dir) => {
      // AggregatePullUpLookupRule: declared-injective lookup grouping is
      // pulled above the agg (probe runs per GROUP, not per row); the map
      // covers every o_orderstatus value, so results are exact either way —
      // optimization is forced while the declaration is on (optimizedPlan
      // is a cached lazy val), then the flag is dropped so non-covering
      // lookups elsewhere never see it
      s.conf.set("spark.graft.assumeInjectiveLookups", "true")
      try {
        val df = t(s, dir)("orders")
          .groupBy(graft.functions.DruidFunctions.lookup(col("o_orderstatus"),
            Map("F" -> "finished", "O" -> "open", "P" -> "partial")).as("status"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("o_totalprice")), 2).as("total"))
          .orderBy(col("status"))
        df.queryExecution.optimizedPlan
        df
      } finally s.conf.set("spark.graft.assumeInjectiveLookups", "false")
    },
      """SELECT CASE o_orderstatus WHEN 'F' THEN 'finished'
                  WHEN 'O' THEN 'open' WHEN 'P' THEN 'partial' END AS status,
                CAST(count(*) AS BIGINT) AS n,
                round(CAST(sum(o_totalprice) AS DOUBLE), 2) AS total
         FROM orders GROUP BY 1 ORDER BY 1"""),

    // ------------------------------- joins: sort-merge + outer (§2.4)
    Gate("q_join_sortmerge", (s, dir) => {
      // big-big equi-join forced to shuffle sort-merge (the reference's MSQ
      // sortMerge algorithm for joins too large to broadcast)
      Joins.sortMergeJoin(t(s, dir)("lineitem"), t(s, dir)("orders"),
        col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("o_orderpriority"))
    },
      """SELECT o_orderpriority, count(*) AS n, sum(l_quantity) AS sum_qty
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY 1 ORDER BY 1"""),

    Gate("q_join_outer", (s, dir) => {
      // FULL OUTER across part/lineitem subsets: null sides must survive
      val li = t(s, dir)("lineitem").filter(col("l_quantity") >= 49)
        .groupBy(col("l_partkey")).agg(count(lit(1)).as("n_li"))
      val p = t(s, dir)("part").filter(col("p_size") <= 5)
        .select(col("p_partkey"), col("p_brand"))
      p.join(li, col("p_partkey") === col("l_partkey"), "full_outer")
        .select(
          coalesce(col("p_partkey"), col("l_partkey")).as("partkey"),
          col("p_brand"), coalesce(col("n_li"), lit(0L)).as("n_li"))
        .orderBy(col("partkey"))
    },
      """SELECT coalesce(p_partkey, l_partkey) AS partkey, p_brand,
                coalesce(n_li, 0) AS n_li
         FROM (SELECT p_partkey, p_brand FROM part WHERE p_size <= 5) p
         FULL OUTER JOIN (SELECT l_partkey, count(*) AS n_li FROM lineitem
                          WHERE l_quantity >= 49 GROUP BY 1) li
           ON p_partkey = l_partkey
         ORDER BY partkey"""),

    // --------------------------------- column comparison filter (§2.2)
    Gate("q_filter_colcompare", (s, dir) => {
      t(s, dir)("lineitem")
        .filter(col("l_discount") > col("l_tax"))
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    },
      """SELECT l_returnflag, count(*) AS n FROM lineitem
         WHERE l_discount > l_tax GROUP BY 1 ORDER BY 1"""),

    // ------------------------------- window first/last value (§2.6)
    Gate("q_window_firstval", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, dir)("orders").filter(col("o_custkey") < 100)
        .select(col("o_custkey"), col("o_orderkey"),
          first(col("o_totalprice")).over(w).as("first_price"),
          last(col("o_totalprice")).over(w).as("last_price"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },
      """SELECT o_custkey, o_orderkey,
                first_value(o_totalprice) OVER w AS first_price,
                last_value(o_totalprice) OVER w AS last_price
         FROM orders WHERE o_custkey < 100
         WINDOW w AS (PARTITION BY o_custkey
                      ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         ORDER BY o_custkey, o_orderkey"""),

    // ----------------------------------- grouping_id on rollup (§2.5)
    Gate("q_grouping_id", (s, dir) => {
      t(s, dir)("lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          grouping_id().cast("long").as("gid"))
        .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    },
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
                CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""),

    // --------------------- subquery datasources (§1.1 QueryDataSource)
    Gate("q_window_over_agg", (s, dir) => {
      // the reference's windowOperator runs OVER an inner groupBy query
      // (QueryDataSource nesting): aggregate first, then rank the groups
      val byCust = t(s, dir)("orders")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
      val w = Window.orderBy(col("n").desc, col("o_custkey").asc)
      byCust.select(col("o_custkey"), col("n"), col("total"),
        row_number().over(w).as("rk"))
        .filter(col("rk") <= 25)
        .orderBy(col("rk"))
    },
      """SELECT o_custkey, n, total, rk FROM (
           SELECT o_custkey, n, total,
                  row_number() OVER (ORDER BY n DESC, o_custkey ASC) AS rk
           FROM (SELECT o_custkey, count(*) AS n,
                        round(sum(o_totalprice), 2) AS total
                 FROM orders GROUP BY o_custkey))
         WHERE rk <= 25 ORDER BY rk"""),

    // scalar subquery (reference singleValue aggregator enforcement)
    Gate.spark("q_scalar_subquery",
      """
        SELECT o_orderpriority, count(*) AS n
        FROM orders
        WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
        GROUP BY o_orderpriority ORDER BY o_orderpriority"""),

    // correlated subquery → decorrelated join (Catalyst does this free;
    // the reference needs DruidCorrelateUnnestRule/join rewrites)
    Gate.spark("q_correlated_subquery",
      """
        SELECT l_orderkey, count(*) AS n_above_avg
        FROM lineitem l1
        WHERE l_quantity > (SELECT avg(l_quantity) FROM lineitem l2
                            WHERE l2.l_orderkey = l1.l_orderkey)
        GROUP BY l_orderkey
        HAVING count(*) >= 3
        ORDER BY l_orderkey"""),

    // --------------------------- GROUPS window frame (§2.6 / §7.4.7)
    Gate("q_window_groups", (s, dir) => {
      // the reference's RANGE frames group PEERS (SQL GROUPS semantics);
      // emulated via dense_rank + value-RANGE (see operators.Windows)
      graft.operators.Windows.withGroupsFrame(
        t(s, dir)("lineitem").filter(col("l_suppkey") <= 3),
        partitionBy = Seq(col("l_returnflag")),
        orderBy = col("l_quantity"),
        agg = sum, valueCol = col("l_quantity"),
        lo = -1, hi = 0, as = "grp_sum")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_quantity"), col("grp_sum"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
                sum(l_quantity) OVER (PARTITION BY l_returnflag
                  ORDER BY dr RANGE BETWEEN 1 PRECEDING AND CURRENT ROW)
                  AS grp_sum
         FROM (SELECT *, dense_rank() OVER (PARTITION BY l_returnflag
                 ORDER BY l_quantity) AS dr
               FROM lineitem WHERE l_suppkey <= 3)
         ORDER BY l_orderkey, l_linenumber"""),

    // ----------------- timezone-anchored granularity (§2.9 / §7.4.4)
    Gate("q_timeseries_tz", (s, dir) => {
      // daily buckets in a +05:30 zone: bucket edges at 18:30 UTC
      t(s, dir)("events")
        .groupBy(graft.operators.Windows
          .timeFloorTz(col("ts"), "P1D", "+05:30").as("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("bucket"))
    },
      """SELECT date_trunc('day', ts + INTERVAL 330 MINUTE)
                  - INTERVAL 330 MINUTE AS bucket,
                count(*) AS n
         FROM events GROUP BY 1 ORDER BY 1"""),

    Gate("q_timeseries_dst", (s, dir) => {
      // daily buckets in a REGION zone across years of DST transitions
      // (orders span 1995-2001): spring-forward days are 23h, fall-back
      // days 25h, and every UTC-midnight order date lands on the PREVIOUS
      // New-York day whose offset (EST -5 / EDT -4) depends on the season.
      // A fixed-offset implementation gets hundreds of buckets wrong here.
      t(s, dir)("orders")
        .groupBy(graft.operators.Windows
          .timeFloorZone(col("o_orderdate").cast("timestamp"), "P1D",
            "America/New_York").as("bucket"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy(col("bucket"))
    },
      """SELECT ((date_trunc('day', (CAST(o_orderdate AS TIMESTAMP)
                    AT TIME ZONE 'UTC') AT TIME ZONE 'America/New_York'))
                  AT TIME ZONE 'America/New_York') AT TIME ZONE 'UTC' AS bucket,
                count(*) AS n,
                round(CAST(sum(o_totalprice) AS DOUBLE), 2) AS total
         FROM orders GROUP BY 1 ORDER BY 1"""),

    // ------------------- aggregate-projection rerouting (§4.2 / §1.3)
    Gate("q_projection_reroute", (s, dir) => {
      // register an hourly rollup projection, then answer a daily query
      // from it — the reference's AggregateProjectionMetadata behavior
      import graft.operators.{Ingest, ProjectionCatalog}
      val events = t(s, dir)("events")
      val proj = Ingest.rollup(events, "ts", "PT1H", Seq("event_type"),
        Seq("n" -> count(lit(1)), "sum_value" -> sum(col("value"))))
      ProjectionCatalog.register(s"events_hourly_$dir",
        ProjectionCatalog.Projection("events", "PT1H", Set("event_type"),
          Set("n", "sum_value"), proj))
      ProjectionCatalog.timeseries(events, "events", "ts", "P1D",
        Seq("event_type"), Seq("n" -> "n", "sum_value" -> "value"))
        .select(col("bucket"), col("event_type"), col("n"),
          round(col("sum_value"), 3).as("sum_value"))
        .orderBy(col("bucket"), col("event_type"))
    },
      """SELECT date_trunc('day', ts) AS bucket, event_type,
                count(*) AS n, round(sum(value), 3) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY 1, 2"""),

    // ------------------------- typed UDAF extension surface (§2.13)
    Gate.spark("q_agg_geomean",
      """SELECT l_returnflag,
                      round(geometric_mean(l_quantity), 6) AS geo_qty,
                      count(*) AS n
               FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
      """SELECT l_returnflag, round(exp(avg(ln(l_quantity))), 6) AS geo_qty,
                count(*) AS n
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")
  )
}
