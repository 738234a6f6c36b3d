package graftbench

import org.json4s._

/** The read templates. Each call draws its literal values from `rng`;
  * `rows` gives a table's logical row count (gen.py's manifest).
  */
object Dashboard {
  import Ops._
  val EventTypes = Seq("click", "error", "purchase", "signup", "view")
  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Needles = Seq("ic", "ur", "ew", "er", "si")

  /** Druid dashboard traffic: native JSON queries of every query type and
    * parameterised SQL (TIME_FLOOR group-bys, lookups, approximate
    * distinct, joins).
    */
  def ops(rng: scala.util.Random, dir: String, rows: String => Long): Seq[Op] = {
    def pick[T](xs: Seq[T]): T = xs(rng.nextInt(xs.size))
    def interval(days: Int) = {
      val d = rng.nextInt(30 - days)
      (day(d), day(d + days))
    }
    val templates: Seq[() => Op] = Seq(
      () => {
        val (lo, hi) = interval(2)
        val types = rng.shuffle(EventTypes).take(2).sorted
        native("ts_hour", "read", dir, rows("events"), "lo" -> jstr(lo), "hi" -> jstr(hi),
          "types" -> JArray(types.map(jstr).toList))(s"""
          {"queryType": "timeseries", "dataSource": "events", "granularity": "hour",
           "intervals": ["${lo}T00:00:00Z/${hi}T00:00:00Z"],
           "context": {"skipEmptyBuckets": true},
           "filter": {"type": "in", "dimension": "event_type",
                      "values": ["${types(0)}", "${types(1)}"]},
           "aggregations": [{"type": "count", "name": "n"},
                            {"type": "doubleSum", "name": "rev", "fieldName": "value"}]}""")
      },
      () => {
        val (lo, hi) = interval(7)
        native("topn", "read", dir, rows("events"), "lo" -> jstr(lo), "hi" -> jstr(hi))(s"""
          {"queryType": "topN", "dataSource": "events", "dimension": "event_type",
           "metric": "rev", "threshold": 3,
           "intervals": ["${lo}T00:00:00Z/${hi}T00:00:00Z"],
           "aggregations": [{"type": "count", "name": "n"},
                            {"type": "doubleSum", "name": "rev", "fieldName": "value"}]}""")
      },
      () => {
        val lower = 1000 + rng.nextInt(400000)
        native("groupby", "read", dir, rows("orders"), "lower" -> jnum(lower))(s"""
          {"queryType": "groupBy", "dataSource": "orders",
           "dimensions": ["o_orderstatus", "o_orderpriority"],
           "filter": {"type": "bound", "dimension": "o_totalprice", "lower": $lower,
                      "upper": ${lower + 100000}, "ordering": "numeric"},
           "aggregations": [{"type": "count", "name": "n"},
                            {"type": "doubleSum", "name": "total", "fieldName": "o_totalprice"}]}""")
      },
      () => {
        val key = rng.nextInt(150000)
        native("scan", "read", dir, rows("lineitem"), "key" -> jnum(key))(s"""
          {"queryType": "scan", "dataSource": "lineitem",
           "columns": ["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"],
           "filter": {"type": "selector", "dimension": "l_orderkey", "value": "$key"}}""")
      },
      () => {
        val (lo, hi) = interval(3)
        val needle = pick(Needles)
        native("search", "read", dir, rows("events"), "lo" -> jstr(lo), "hi" -> jstr(hi),
          "needle" -> jstr(needle))(s"""
          {"queryType": "search", "dataSource": "events",
           "searchDimensions": ["event_type"],
           "intervals": ["${lo}T00:00:00Z/${hi}T00:00:00Z"],
           "query": {"type": "insensitive_contains", "value": "$needle"}}""")
      },
      () => {
        val t = pick(EventTypes)
        native("time_boundary", "read", dir, rows("events"), "type" -> jstr(t))(s"""
          {"queryType": "timeBoundary", "dataSource": "events",
           "filter": {"type": "selector", "dimension": "event_type", "value": "$t"}}""")
      },
      () => {
        val (lo, hi) = interval(5)
        native("segment_metadata", "read", dir, rows("events"), "lo" -> jstr(lo), "hi" -> jstr(hi))(s"""
          {"queryType": "segmentMetadata", "dataSource": "events",
           "intervals": ["${lo}T00:00:00Z/${hi}T00:00:00Z"],
           "toInclude": {"type": "list", "columns": ["event_type", "user_id"]}}""")
      },
      () => {
        val (lo, hi) = interval(3)
        val user = rng.nextInt(1000)
        sql("sql_time_floor", "read", dir, rows("events"), "lo" -> jstr(lo), "hi" -> jstr(hi),
          "user" -> jnum(user))(
          """SELECT TIME_FLOOR(ts, 'PT1H') AS h, event_type, COUNT(*) AS n, SUM(value) AS v
             FROM events WHERE ts >= ? AND ts < ? AND user_id >= ? AND user_id < ?
             GROUP BY 1, 2""",
          "TIMESTAMP" -> s"$lo 00:00:00", "TIMESTAMP" -> s"$hi 00:00:00",
          "BIGINT" -> user.toLong, "BIGINT" -> (user + 500).toLong)
      },
      () => {
        val seg = pick(Segments)
        sql("sql_lookup", "read", dir, rows("customer"), "segment" -> jstr(seg))(
          """SELECT LOOKUP(CAST(c_nationkey AS VARCHAR), 'nation_name') AS nation,
                    COUNT(*) AS n, SUM(c_acctbal) AS bal
             FROM customer WHERE c_mktsegment = ? GROUP BY 1""",
          "VARCHAR" -> seg)
      },
      () => {
        val (lo, hi) = interval(10)
        sql("sql_approx_distinct", "read", dir, rows("events"), "lo" -> jstr(lo), "hi" -> jstr(hi))(
          """SELECT event_type, APPROX_COUNT_DISTINCT(user_id) AS users
             FROM events WHERE ts >= ? AND ts < ? GROUP BY 1""",
          "TIMESTAMP" -> s"$lo 00:00:00", "TIMESTAMP" -> s"$hi 00:00:00")
      },
      () => {
        val year = 1995 + rng.nextInt(6)
        sql("sql_join", "read", dir, rows("orders") + rows("customer") + rows("nation"), "year" -> jnum(year))(
          """SELECT n_name, COUNT(*) AS n, SUM(o_totalprice) AS total
             FROM orders JOIN customer ON o_custkey = c_custkey
             JOIN nation ON c_nationkey = n_nationkey
             WHERE o_orderdate >= ? AND o_orderdate < ?
             GROUP BY n_name ORDER BY total DESC LIMIT 5""",
          "TIMESTAMP" -> s"$year-01-01 00:00:00", "TIMESTAMP" -> s"${year + 1}-01-01 00:00:00")
      })
    Order.map(templates(_)())
  }

  /** Template indices in the order a round runs them. */
  val Order: Seq[Int] = Seq(0, 7, 1, 8, 2, 9, 3, 10, 4, 5, 6)
}

object RowQueries {
  import Ops._

  /** Row-bound scans, aggregations and TPC-H/SSB-style joins. Literals
    * vary per round, but each template's filter keeps about the same share
    * of rows, so its work does not depend on the seed.
    */
  def ops(rng: scala.util.Random, dir: String, rows: String => Long): Seq[Op] = {
    def year = 1995 + rng.nextInt(5)
    val li = rows("lineitem")
    Seq(
      {
        val y = year
        sql("b_count", "read", dir, li, "year" -> jnum(y))(
          "SELECT COUNT(*) AS n FROM lineitem WHERE l_shipdate >= ? AND l_shipdate < ?",
          "TIMESTAMP" -> s"$y-01-01 00:00:00", "TIMESTAMP" -> s"${y + 1}-01-01 00:00:00")
      },
      {
        val disc = rng.nextInt(11) / 100.0
        sql("b_sum", "read", dir, li, "discount" -> jdbl(disc))(
          """SELECT SUM(l_extendedprice) AS price, SUM(l_quantity) AS qty
             FROM lineitem WHERE l_discount <> ?""", "DOUBLE" -> disc)
      },
      {
        val y = year
        native("b_timeseries", "read", dir, li, "year" -> jnum(y))(s"""
          {"queryType": "timeseries", "dataSource": "lineitem", "granularity": "month",
           "intervals": ["$y-01-01T00:00:00Z/${y + 2}-01-01T00:00:00Z"],
           "aggregations": [{"type": "count", "name": "n"},
                            {"type": "doubleSum", "name": "price", "fieldName": "l_extendedprice"}]}""")
      },
      {
        val q = 1 + rng.nextInt(21)
        native("b_topn", "read", dir, li, "min_qty" -> jnum(q))(s"""
          {"queryType": "topN", "dataSource": "lineitem", "dimension": "l_linenumber",
           "metric": "price", "threshold": 3,
           "filter": {"type": "bound", "dimension": "l_quantity", "lower": $q,
                      "upper": ${q + 29}, "ordering": "numeric"},
           "aggregations": [{"type": "count", "name": "n"},
                            {"type": "doubleSum", "name": "price", "fieldName": "l_extendedprice"}]}""")
      },
      {
        val q = 1 + rng.nextInt(21)
        native("b_groupby", "read", dir, li, "min_qty" -> jnum(q))(s"""
          {"queryType": "groupBy", "dataSource": "lineitem",
           "dimensions": ["l_returnflag", "l_linestatus"],
           "filter": {"type": "bound", "dimension": "l_quantity", "lower": $q,
                      "upper": ${q + 29}, "ordering": "numeric"},
           "aggregations": [{"type": "count", "name": "n"},
                            {"type": "doubleSum", "name": "qty", "fieldName": "l_quantity"},
                            {"type": "doubleSum", "name": "price", "fieldName": "l_extendedprice"}]}""")
      },
      {
        // TPC-H Q1's cutoff: a DELTA of 60-120 days before the last ship day
        val cutoff = java.time.LocalDate.parse("2001-12-01").minusDays(60L + rng.nextInt(61)).toString
        sql("tpch_q1", "read", dir, li, "cutoff" -> jstr(cutoff))(
          """SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty,
                    SUM(l_extendedprice) AS sum_base_price,
                    SUM(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
                    SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge,
                    AVG(l_quantity) AS avg_qty, AVG(l_discount) AS avg_disc, COUNT(*) AS count_order
             FROM lineitem WHERE l_shipdate <= ?
             GROUP BY l_returnflag, l_linestatus""",
          "TIMESTAMP" -> s"$cutoff 00:00:00")
      },
      {
        val y = year
        val d = 2 + rng.nextInt(7)
        sql("tpch_q6", "read", dir, li, "year" -> jnum(y), "discount" -> jnum(d))(
          """SELECT SUM(l_extendedprice * l_discount) AS revenue, COUNT(*) AS n
             FROM lineitem WHERE l_shipdate >= ? AND l_shipdate < ?
               AND l_discount BETWEEN ? AND ? AND l_quantity < 24""",
          "TIMESTAMP" -> s"$y-01-01 00:00:00", "TIMESTAMP" -> s"${y + 1}-01-01 00:00:00",
          "DOUBLE" -> (d - 1) / 100.0, "DOUBLE" -> (d + 1) / 100.0)
      },
      {
        val status = Seq("F", "O", "P")(rng.nextInt(3))
        sql("ssb_star", "read", dir, li + rows("orders") + rows("customer") + rows("nation") + rows("region"),
          "status" -> jstr(status))(
          """SELECT r_name, YEAR(o_orderdate) AS yr, COUNT(*) AS n,
                    SUM(l_extendedprice * (1 - l_discount)) AS revenue
             FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             JOIN customer ON o_custkey = c_custkey
             JOIN nation ON c_nationkey = n_nationkey
             JOIN region ON n_regionkey = r_regionkey
             WHERE o_orderstatus = ?
             GROUP BY r_name, YEAR(o_orderdate)""",
          "VARCHAR" -> status)
      })
  }
}
