package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.api.{NativeJsonQuery, ResultCache, SqlApi}

/** JSON query façade shapes not covered by the oracle-gated entries. */
class NativeJsonQuerySpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val dir = "/root/testdata/sf0.001"

  test("timeBoundary") {
    spark.sparkContext.setLogLevel("ERROR")
    val r = NativeJsonQuery.run(spark, dir,
      """{"queryType": "timeBoundary", "dataSource": "events"}""").head()
    assert(r.getTimestamp(0).before(r.getTimestamp(1)))
  }

  test("timeBoundary bound=maxTime returns a single column") {
    val df = NativeJsonQuery.run(spark, dir,
      """{"queryType": "timeBoundary", "dataSource": "events", "bound": "maxTime"}""")
    assert(df.columns.toSeq == Seq("max_time"))
    assert(df.head.getTimestamp(0) != null)
  }

  test("dataSourceMetadata") {
    val r = NativeJsonQuery.run(spark, dir,
      """{"queryType": "dataSourceMetadata", "dataSource": "events"}""").head()
    assert(r.getLong(0) == 1000L)
  }

  test("topN dimension metric spec: alphanumeric / numeric / strlen orderings + previousStop") {
    val inline =
      """{"type": "inline",
          "columnNames": ["name", "v"],
          "columnTypes": ["STRING", "LONG"],
          "rows": [["item2", 1], ["item10", 2], ["item1", 3], ["b", 4], ["9", 5], ["70", 6]]}"""
    def names(metric: String): Seq[String] = NativeJsonQuery.run(spark, dir,
      s"""{"queryType": "topN", "dataSource": $inline, "dimension": "name",
           "threshold": 10, "metric": $metric,
           "aggregations": [{"type": "count", "name": "n"}]}""")
      .collect().map(_.getString(0)).toSeq
    // alphanumeric: digit runs compare numerically (9 < 70, item2 < item10)
    assert(names("""{"type": "dimension", "ordering": "alphanumeric"}""") ==
      Seq("9", "70", "b", "item1", "item2", "item10"))
    // lexicographic default: "70" < "9", item10 < item2
    assert(names("""{"type": "dimension"}""") ==
      Seq("70", "9", "b", "item1", "item10", "item2"))
    // strlen: shorter first, lexicographic tiebreak
    assert(names("""{"type": "dimension", "ordering": "strlen"}""").take(3) ==
      Seq("9", "b", "70"))
    // previousStop pagination skips past the stop value
    assert(names(
      """{"type": "dimension", "ordering": "lexicographic", "previousStop": "b"}""") ==
      Seq("item1", "item10", "item2"))
  }

  test("topN previousStop pages partition the value set under non-lexicographic comparators") {
    // the resume bound must apply in COMPARATOR space: under numeric or
    // alphanumeric ordering a raw-string bound would drop values whose
    // string order disagrees with the comparator order (e.g. "70" < "9"
    // as strings but 9 < 70 numerically)
    def run(rows: String, ordering: String, stop: Option[String],
            k: Int): Seq[String] = {
      val metric = stop match {
        case Some(v) =>
          s"""{"type": "dimension", "ordering": "$ordering", "previousStop": "$v"}"""
        case None => s"""{"type": "dimension", "ordering": "$ordering"}"""
      }
      NativeJsonQuery.run(spark, dir,
        s"""{"queryType": "topN",
             "dataSource": {"type": "inline", "columnNames": ["name", "v"],
               "columnTypes": ["STRING", "LONG"], "rows": $rows},
             "dimension": "name", "threshold": $k, "metric": $metric,
             "aggregations": [{"type": "count", "name": "n"}]}""")
        .collect().map(_.getString(0)).toSeq
    }
    val numRows = """[["9",1],["70",2],["100",3],["5",4],["23",5],["8",6]]"""
    // numeric pages: 5,8,9 | 23,70,100 — a raw-string bound after "9" would
    // exclude "23"/"70"/"100" (all < "9" lexicographically) entirely
    assert(run(numRows, "numeric", None, 3) == Seq("5", "8", "9"))
    assert(run(numRows, "numeric", Some("9"), 3) == Seq("23", "70", "100"))
    // alphanumeric pages of 2 partition the set: no skip, no repeat
    val alRows = """[["item2",1],["item10",2],["item1",3],["b",4],["9",5],["item21",6]]"""
    val pages = Seq(
      run(alRows, "alphanumeric", None, 2),
      run(alRows, "alphanumeric", Some("b"), 2),
      run(alRows, "alphanumeric", Some("item2"), 2))
    assert(pages == Seq(Seq("9", "b"), Seq("item1", "item2"),
      Seq("item10", "item21")))
    // inverted (descending) pagination also bounds in comparator space
    def runInv(stop: Option[String]): Seq[String] = {
      val m = stop match {
        case Some(v) => s"""{"type": "inverted", "metric": {"type": "dimension",
          "ordering": "numeric", "previousStop": "$v"}}"""
        case None => """{"type": "inverted", "metric": {"type": "dimension",
          "ordering": "numeric"}}"""
      }
      NativeJsonQuery.run(spark, dir,
        s"""{"queryType": "topN",
             "dataSource": {"type": "inline", "columnNames": ["name", "v"],
               "columnTypes": ["STRING", "LONG"], "rows": $numRows},
             "dimension": "name", "threshold": 3, "metric": $m,
             "aggregations": [{"type": "count", "name": "n"}]}""")
        .collect().map(_.getString(0)).toSeq
    }
    assert(runInv(None) == Seq("100", "70", "23"))
    assert(runInv(Some("23")) == Seq("9", "8", "5"))
  }

  test("greatest/least/hyperUniqueCardinality post-aggregators") {
    val df = NativeJsonQuery.run(spark, dir, """
      {"queryType": "groupBy", "dataSource": "orders",
       "dimensions": ["o_orderpriority"],
       "aggregations": [
         {"type": "doubleMax", "name": "mx", "fieldName": "o_totalprice"},
         {"type": "doubleMin", "name": "mn", "fieldName": "o_totalprice"},
         {"type": "hyperUnique", "name": "uc", "fieldName": "o_custkey"}],
       "postAggregations": [
         {"type": "doubleGreatest", "name": "g", "fields": [
            {"type": "fieldAccess", "fieldName": "mx"},
            {"type": "constant", "value": 100000.0}]},
         {"type": "doubleLeast", "name": "l", "fields": [
            {"type": "fieldAccess", "fieldName": "mn"},
            {"type": "constant", "value": 1000.0}]},
         {"type": "hyperUniqueCardinality", "name": "users", "fieldName": "uc"}]}""")
    val r = df.head()
    val mx = r.getDouble(df.columns.indexOf("mx"))
    assert(r.getDouble(df.columns.indexOf("g")) == math.max(mx, 100000.0))
    assert(r.getDouble(df.columns.indexOf("l")) <= 1000.0)
    assert(r.getDouble(df.columns.indexOf("users")) > 0)
  }

  test("groupBy/topN on a multi-value dimension explodes per value") {
    val inline =
      """{"type": "inline",
          "columnNames": ["s", "v"], "columnTypes": ["STRING", "LONG"],
          "rows": [["a b", 1], ["b c", 2], ["c", 4]]}"""
    val g = NativeJsonQuery.run(spark, dir,
      s"""{"queryType": "groupBy", "dataSource": $inline,
           "virtualColumns": [{"name": "tags", "expression": "split(s, ' ')"}],
           "dimensions": ["tags"],
           "aggregations": [{"type": "longSum", "name": "sv", "fieldName": "v"}],
           "limitSpec": {"columns": ["tags"]}}""")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(g == Seq("a" -> 1L, "b" -> 3L, "c" -> 6L))
    val t = NativeJsonQuery.run(spark, dir,
      s"""{"queryType": "topN", "dataSource": $inline,
           "virtualColumns": [{"name": "tags", "expression": "split(s, ' ')"}],
           "dimension": "tags", "threshold": 2, "metric": "sv",
           "aggregations": [{"type": "longSum", "name": "sv", "fieldName": "v"}]}""")
      .collect().map(_.getString(0)).toSeq
    assert(t == Seq("c", "b"))
  }

  test("filters on multi-value dimensions match ANY element") {
    val inline =
      """{"type": "inline",
          "columnNames": ["s", "v"], "columnTypes": ["STRING", "LONG"],
          "rows": [["a b", 1], ["b c", 2], ["c", 4], ["", 8]]}"""
    def total(filter: String): Long = NativeJsonQuery.run(spark, dir,
      s"""{"queryType": "timeseries", "dataSource": $inline,
           "virtualColumns": [
             {"name": "tags", "expression": "split(s, ' ')"},
             {"name": "__time", "expression": "timestamp'2024-01-01'"}],
           "granularity": "all", "filter": $filter,
           "aggregations": [{"type": "longSum", "name": "sv", "fieldName": "v"}]}""")
      .collect().headOption.map(r =>
        if (r.isNullAt(r.length - 1)) 0L else r.getLong(r.length - 1)).getOrElse(0L)
    // selector matches rows where ANY value equals
    assert(total("""{"type": "selector", "dimension": "tags", "value": "b"}""") == 3L)
    // in: any element in the set
    assert(total("""{"type": "in", "dimension": "tags", "values": ["a", "c"]}""") == 7L)
    // regex per element
    assert(total("""{"type": "regex", "dimension": "tags", "pattern": "^c$"}""") == 6L)
    // bound per element: tags >= 'b' matches a b / b c / c
    assert(total(
      """{"type": "bound", "dimension": "tags", "lower": "b"}""") == 7L)
  }

  test("list/prefix/regex-filtered dimension specs filter within MVD cells") {
    val inline =
      """{"type": "inline",
          "columnNames": ["s", "v"], "columnTypes": ["STRING", "LONG"],
          "rows": [["apple banana", 1], ["banana cherry", 2], ["cherry", 4]]}"""
    def run(dimSpec: String): Seq[(String, Long)] = NativeJsonQuery.run(spark, dir,
      s"""{"queryType": "groupBy", "dataSource": $inline,
           "virtualColumns": [{"name": "tags", "expression": "split(s, ' ')"}],
           "dimensions": [$dimSpec],
           "aggregations": [{"type": "longSum", "name": "sv", "fieldName": "v"}],
           "limitSpec": {"columns": ["t"]}}""")
      .collect().map(r => Option(r.getString(0)).getOrElse("-") -> r.getLong(1)).toSeq
    // whitelist: only banana/cherry values group; the apple-only part of
    // row 1 contributes nothing extra, cells with no survivors group as null
    assert(run("""{"type": "listFiltered", "delegate": "tags",
                   "values": ["banana", "cherry"], "outputName": "t"}""") ==
      Seq("banana" -> 3L, "cherry" -> 6L))
    assert(run("""{"type": "prefixFiltered", "delegate": "tags",
                   "prefix": "ch", "outputName": "t"}""") ==
      Seq("-" -> 1L, "cherry" -> 6L))
    assert(run("""{"type": "regexFiltered", "delegate": "tags",
                   "pattern": "^b.*", "outputName": "t"}""") ==
      Seq("-" -> 4L, "banana" -> 3L))
  }

  test("registerFrom loads a lookup from a two-column source with a cap") {
    // the analog of the reference's JDBC/URI cached-global lookup loaders:
    // last value wins per key, load refuses past the entry cap
    import spark.implicits._
    val src = Seq(("0", "AFRICA"), ("1", "AMERICA"), ("1", "AMERICA_V2"),
      (null, "IGNORED")).toDF("k", "v")
    graft.functions.LookupRegistry.registerFrom("region_names", src, "k", "v")
    val m = graft.functions.LookupRegistry.get("region_names").get
    assert(m == Map("0" -> "AFRICA", "1" -> "AMERICA_V2"))
    // and the loaded lookup resolves through SQL LOOKUP()
    GraftSession.attach(spark)
    val r = spark.sql("SELECT LOOKUP('1', 'region_names') AS v").head()
    assert(r.getString(0) == "AMERICA_V2")
    intercept[IllegalArgumentException] {
      graft.functions.LookupRegistry.registerFrom("too_big",
        spark.range(100).selectExpr("CAST(id AS STRING) k", "CAST(id AS STRING) v"),
        "k", "v", maxEntries = 10)
    }
  }

  test("lookup dimension spec: inline map + registered name + missing policy") {
    graft.functions.LookupRegistry.register("status_names",
      Map("F" -> "final", "O" -> "open"))
    val rows = NativeJsonQuery.run(spark, dir, """
      {"queryType": "groupBy", "dataSource": "orders",
       "dimensions": [
         {"type": "lookup", "dimension": "o_orderstatus",
          "outputName": "status", "name": "status_names",
          "replaceMissingValueWith": "other"}],
       "aggregations": [{"type": "count", "name": "n"}],
       "limitSpec": {"columns": ["status"]}}""")
      .collect().map(_.getString(0)).toSeq
    assert(rows == Seq("final", "open", "other"))
    val inline = NativeJsonQuery.run(spark, dir, """
      {"queryType": "groupBy", "dataSource": "orders",
       "dimensions": [
         {"type": "lookup", "dimension": "o_orderstatus", "outputName": "s2",
          "lookup": {"type": "map", "map": {"F": "done"}},
          "retainMissingValue": true}],
       "aggregations": [{"type": "count", "name": "n"}],
       "limitSpec": {"columns": ["s2"]}}""")
      .collect().map(_.getString(0)).toSeq
    assert(inline == Seq("O", "P", "done"))
  }

  test("timeseries grandTotal appends an all-buckets total row; nested-field virtual column") {
    val df = NativeJsonQuery.run(spark, dir, """
      {"queryType": "timeseries", "dataSource": "events",
       "granularity": "day",
       "intervals": ["2024-01-01T00:00:00Z/2024-01-04T00:00:00Z"],
       "context": {"grandTotal": true},
       "aggregations": [{"type": "count", "name": "n"}]}""")
    val rows = df.collect()
    assert(rows.last.isNullAt(0)) // total row last, null timestamp
    assert(rows.last.getLong(1) == rows.init.map(_.getLong(1)).sum)

    val nested = NativeJsonQuery.run(spark, dir, """
      {"queryType": "groupBy", "dataSource": "events",
       "virtualColumns": [
         {"type": "nested-field", "name": "k", "columnName": "props", "path": "$.k"}],
       "dimensions": ["k"],
       "aggregations": [{"type": "count", "name": "n"}],
       "limitSpec": {"columns": ["k"]}}""")
    assert(nested.count() > 0)
    assert(nested.columns.toSeq == Seq("k", "n"))
  }

  test("filtered datasource decorator; topN ordered by a post-aggregator") {
    val filtered = NativeJsonQuery.run(spark, dir, """
      {"queryType": "timeseries", "dataSource":
         {"type": "filter", "base": "orders",
          "filter": {"type": "selector", "dimension": "o_orderstatus", "value": "F"}},
       "granularity": "all",
       "aggregations": [{"type": "count", "name": "n"}]}""")
    val direct = NativeJsonQuery.run(spark, dir, """
      {"queryType": "timeseries", "dataSource": "orders", "granularity": "all",
       "filter": {"type": "selector", "dimension": "o_orderstatus", "value": "F"},
       "aggregations": [{"type": "count", "name": "n"}]}""")
    assert(filtered.head.getLong(0) == direct.head.getLong(0))

    val byPost = NativeJsonQuery.run(spark, dir, """
      {"queryType": "topN", "dataSource": "orders",
       "dimension": "o_orderpriority", "threshold": 3, "metric": "avg_price",
       "aggregations": [
         {"type": "count", "name": "n"},
         {"type": "doubleSum", "name": "total", "fieldName": "o_totalprice"}],
       "postAggregations": [
         {"type": "arithmetic", "name": "avg_price", "fn": "/",
          "fields": [{"type": "fieldAccess", "fieldName": "total"},
                     {"type": "fieldAccess", "fieldName": "n"}]}]}""")
      .collect()
    assert(byPost.length == 3)
    val idx = 3 // columns: dim, n, total, avg_price
    assert(byPost(0).getDouble(idx) >= byPost(1).getDouble(idx))
    assert(byPost(1).getDouble(idx) >= byPost(2).getDouble(idx))
  }

  test("variance/stddev/singleValue aggregators") {
    val df = NativeJsonQuery.run(spark, dir, """
      {"queryType": "timeseries", "dataSource": "lineitem",
       "granularity": "all",
       "aggregations": [
         {"type": "variance", "name": "v", "fieldName": "l_quantity"},
         {"type": "variance", "name": "vp", "fieldName": "l_quantity",
          "estimator": "population"},
         {"type": "stddev", "name": "sd", "fieldName": "l_quantity"}]}""")
    val r = df.head()
    assert(r.getDouble(df.columns.indexOf("v")) > r.getDouble(df.columns.indexOf("vp")))
    assert(math.abs(math.sqrt(r.getDouble(df.columns.indexOf("v"))) -
      r.getDouble(df.columns.indexOf("sd"))) < 1e-9)
    val sv = NativeJsonQuery.run(spark, dir, """
      {"queryType": "timeseries", "dataSource":
         {"type": "filter", "base": "nation",
          "filter": {"type": "selector", "dimension": "n_nationkey", "value": 7}},
       "granularity": "all",
       "aggregations": [{"type": "singleValue", "name": "nm", "fieldName": "n_name"}]}""")
    assert(sv.head.getString(0).nonEmpty)
    intercept[Exception] {
      NativeJsonQuery.run(spark, dir, """
        {"queryType": "timeseries", "dataSource": "nation", "granularity": "all",
         "aggregations": [{"type": "singleValue", "name": "nm", "fieldName": "n_name"}]}""")
        .collect()
    }
  }

  test("histogram aggregator: breaks + counts with open-ended end buckets") {
    val df = NativeJsonQuery.run(spark, dir, """
      {"queryType": "timeseries", "dataSource": "lineitem",
       "granularity": "all",
       "aggregations": [
         {"type": "histogram", "name": "h", "fieldName": "l_quantity",
          "breaks": [10.0, 20.0, 30.0]},
         {"type": "count", "name": "n"}]}""")
    val r = df.head()
    val h = r.getStruct(df.columns.indexOf("h"))
    val counts = h.getSeq[Long](1)
    assert(counts.length == 4) // under, [10,20), [20,30), over
    assert(counts.sum == r.getLong(df.columns.indexOf("n")))
  }

  test("search across dimensions") {
    val df = NativeJsonQuery.run(spark, dir, """
      {"queryType": "search", "dataSource": "part",
       "searchDimensions": ["p_brand", "p_type"],
       "query": {"type": "contains", "value": "and"}}""")
    assert(df.count() > 0)
    assert(df.columns.toSeq == Seq("dimension", "value", "cnt"))
  }

  test("granularity all timeseries") {
    val r = NativeJsonQuery.run(spark, dir, """
      {"queryType": "timeseries", "dataSource": "events",
       "granularity": "all",
       "aggregations": [{"type": "count", "name": "n"},
                        {"type": "doubleMean", "name": "avg_v", "fieldName": "value"}]}""")
      .head()
    assert(r.getAs[Long]("n") == 1000L)
  }

  test("duration granularity buckets at fixed millis") {
    val df = NativeJsonQuery.run(spark, dir, """
      {"queryType": "timeseries", "dataSource": "events",
       "granularity": {"type": "duration", "duration": 7200000},
       "intervals": ["2024-01-01T00:00:00Z/2024-01-02T00:00:00Z"],
       "aggregations": [{"type": "count", "name": "n"}]}""")
    val rows = df.collect()
    assert(rows.length == 12, s"expected 12 two-hour buckets, got ${rows.length}")
    assert(rows.map(_.getTimestamp(0).toString.substring(11, 13)).toSeq ==
      Seq("00", "02", "04", "06", "08", "10", "12", "14", "16", "18", "20", "22"))
  }

  test("sub-second duration granularity floors at exact 500ms edges") {
    val df = NativeJsonQuery.run(spark, dir, """
      {"queryType": "timeseries", "dataSource": "events",
       "granularity": {"type": "duration", "duration": 500},
       "intervals": ["2024-01-01T00:00:00Z/2024-01-01T01:00:00Z"],
       "aggregations": [{"type": "count", "name": "n"}],
       "context": {"skipEmptyBuckets": true}}""")
    val rows = df.collect()
    assert(rows.nonEmpty)
    // every bucket boundary is a 500ms multiple and counts add up to the
    // number of events in the hour
    assert(rows.forall(r =>
      java.time.Instant.ofEpochMilli(r.getTimestamp(0).getTime)
        .toEpochMilli % 500 == 0))
    val total = rows.map(_.getAs[Long]("n")).sum
    val expected = Tables.asDruid(spark, dir, "events")
      .filter(col("__time") >= "2024-01-01 00:00:00" &&
        col("__time") < "2024-01-01 01:00:00").count()
    assert(total == expected && expected > 0)
  }

  test("period granularity with origin") {
    val df = NativeJsonQuery.run(spark, dir, """
      {"queryType": "timeseries", "dataSource": "events",
       "granularity": {"type": "period", "period": "PT6H",
                       "origin": "1970-01-01T03:00:00Z"},
       "aggregations": [{"type": "count", "name": "n"}]}""")
    val buckets = df.collect().map(_.getTimestamp(0).toString)
    // buckets anchored at 03:00/09:00/15:00/21:00
    assert(buckets.forall(b => Set("03", "09", "15", "21")(b.substring(11, 13))))
  }

  test("month and year periods with an origin bucket as SQL TIME_FLOOR") {
    GraftSession.attach(spark)
    Tables.registerAll(spark, dir)
    val origin = "2024-01-15T00:00:00Z"
    for (period <- Seq("P1M", "P2M", "P1Y")) {
      val native = NativeJsonQuery.run(spark, dir, s"""
        {"queryType": "timeseries", "dataSource": "events",
         "granularity": {"type": "period", "period": "$period",
                         "origin": "$origin"},
         "aggregations": [{"type": "count", "name": "n"}]}""")
        .collect().map(r => r.getTimestamp(0).toString -> r.getLong(1)).toMap
      val sql = spark.sql(s"""
        SELECT TIME_FLOOR(ts, '$period', '$origin') AS b, count(*) AS n
        FROM events GROUP BY 1""")
        .collect().map(r => r.getTimestamp(0).toString -> r.getLong(1)).toMap
      // the January events straddle the origin: two buckets each
      assert(native == sql && native.size == 2, s"$period: $native vs $sql")
    }
  }

  test("multi-month periods with intervals bucket as SQL TIME_FLOOR") {
    GraftSession.attach(spark)
    Tables.registerAll(spark, dir)
    val native = NativeJsonQuery.run(spark, dir, """
      {"queryType": "timeseries", "dataSource": "events",
       "granularity": {"type": "period", "period": "P2M"},
       "intervals": ["2024-01-01T00:00:00Z/2024-03-01T00:00:00Z"],
       "aggregations": [{"type": "count", "name": "n"}]}""")
      .collect().map(r => r.getTimestamp(0).toString -> r.getLong(1)).toMap
    val sql = spark.sql("""
      SELECT TIME_FLOOR(ts, 'P2M') AS b, count(*) AS n FROM events
      WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-03-01'
      GROUP BY 1""")
      .collect().map(r => r.getTimestamp(0).toString -> r.getLong(1)).toMap
    assert(native == sql && native.nonEmpty, s"$native vs $sql")
  }

  test("period granularity with a region timeZone buckets in wall clock") {
    // events are Jan 2024: America/New_York is EST (UTC-5) throughout, so
    // every local day bucket must start at 05:00 UTC and zero-fill must
    // produce one bucket per local day
    val df = NativeJsonQuery.run(spark, dir, """
      {"queryType": "timeseries", "dataSource": "events",
       "granularity": {"type": "period", "period": "P1D",
                       "timeZone": "America/New_York"},
       "intervals": ["2024-01-02T05:00:00Z/2024-01-05T05:00:00Z"],
       "aggregations": [{"type": "count", "name": "n"}]}""")
    val rows = df.collect()
    assert(rows.length == 3, s"3 NY days, got ${rows.length}")
    assert(rows.forall(_.getTimestamp(0).toString.endsWith("05:00:00.0")),
      "local midnight = 05:00Z under EST")
    val total = rows.map(_.getAs[Long]("n")).sum
    val expected = Tables.asDruid(spark, dir, "events")
      .filter(col("__time") >= "2024-01-02 05:00:00" &&
        col("__time") < "2024-01-05 05:00:00").count()
    assert(total == expected && expected > 0)
  }

  test("timeZone bucketing is DST-correct across a spring-forward day") {
    import spark.implicits._
    // 2024-03-10 02:00 NY: EST→EDT. Build a tiny parquet datasource with one
    // row either side of the transition plus one the day before.
    val rows = Seq("2024-03-09 12:00:00", "2024-03-10 06:00:00",
      "2024-03-10 12:00:00")
    val tmp = java.nio.file.Files.createTempDirectory("graft-dst").toString
    rows.toDF("s").select(col("s").cast("timestamp").as("__time"))
      .write.mode("overwrite").parquet(s"$tmp/dst_rows.parquet")
    val df = NativeJsonQuery.run(spark, tmp, """
      {"queryType": "timeseries", "dataSource": "dst_rows",
       "granularity": {"type": "period", "period": "P1D",
                       "timeZone": "America/New_York"},
       "aggregations": [{"type": "count", "name": "n"}],
       "context": {"skipEmptyBuckets": true}}""")
    val got = df.collect().map(r => r.getTimestamp(0).toString -> r.getAs[Long]("n"))
    // Mar 9 bucket starts 05:00Z (EST); Mar 10 bucket also starts 05:00Z
    // (midnight was still EST) and CONTAINS both 06:00Z (01:00 EST) and
    // 12:00Z (08:00 EDT) rows; the bucket is 23h long
    assert(got.toSeq == Seq("2024-03-09 05:00:00.0" -> 1L,
      "2024-03-10 05:00:00.0" -> 2L))
  }

  test("hyperUnique aggregator maps to HLL") {
    val r = NativeJsonQuery.run(spark, dir, """
      {"queryType": "timeseries", "dataSource": "events",
       "granularity": "all",
       "aggregations": [{"type": "hyperUnique", "name": "u", "fieldName": "user_id"}]}""")
      .head()
    val exact = Tables.load(spark, dir, "events")
      .select("user_id").distinct().count()
    assert(math.abs(r.getAs[Long]("u") - exact).toDouble / exact < 0.05)
  }

  test("datasketches-style aggregator types map onto the sketch layer") {
    val r = NativeJsonQuery.run(spark, dir, """
      {"queryType": "timeseries", "dataSource": "events",
       "granularity": "all",
       "aggregations": [
         {"type": "thetaSketch", "name": "theta_users", "fieldName": "user_id"},
         {"type": "quantilesDoublesSketch", "name": "p95_value",
          "fieldName": "value", "quantile": 0.95}]}""").head()
    val exact = Tables.load(spark, dir, "events")
      .select("user_id").distinct().count()
    assert(math.abs(r.getAs[Double]("theta_users") - exact) / exact < 0.05)
    assert(r.getAs[Double]("p95_value") > 0)
  }

  test("cardinality aggregator over multiple fields counts tuples") {
    val r = NativeJsonQuery.run(spark, dir, """
      {"queryType": "timeseries", "dataSource": "events",
       "granularity": "all",
       "aggregations": [{"type": "cardinality", "name": "u",
                         "fields": ["user_id", "event_type"]}]}""").head()
    val exact = Tables.load(spark, dir, "events")
      .select("user_id", "event_type").distinct().count()
    assert(math.abs(r.getAs[Long]("u") - exact).toDouble / exact < 0.05)
  }

  test("first/last aggregators use __time") {
    val df = NativeJsonQuery.run(spark, dir, """
      {"queryType": "groupBy", "dataSource": "events",
       "dimensions": ["event_type"],
       "aggregations": [{"type": "doubleFirst", "name": "fv", "fieldName": "value"},
                        {"type": "doubleLast", "name": "lv", "fieldName": "value"}]}""")
    assert(df.count() == 5)
  }

  test("scan with time ordering, limit and offset") {
    val df = NativeJsonQuery.run(spark, dir, """
      {"queryType": "scan", "dataSource": "events",
       "columns": ["event_id", "event_type"],
       "order": "descending", "limit": 10, "offset": 5}""")
    assert(df.count() == 10)
  }

  test("timeseries zero-fills empty buckets within intervals (reference default)") {
    val df = NativeJsonQuery.run(spark, dir, """
      {"queryType": "timeseries", "dataSource": "events",
       "granularity": "hour",
       "intervals": ["2024-01-01T00:00:00Z/2024-01-02T00:00:00Z"],
       "aggregations": [{"type": "count", "name": "n"}]}""")
    val rows = df.collect()
    assert(rows.length == 24, s"expected 24 hourly buckets, got ${rows.length}")
    // sf0.001 events span ~17h, so the tail hours must be zero-filled
    assert(rows.exists(_.getAs[Long]("n") == 0L))
    // skipEmptyBuckets=true restores sparse output
    val sparse = NativeJsonQuery.run(spark, dir, """
      {"queryType": "timeseries", "dataSource": "events",
       "granularity": "hour",
       "intervals": ["2024-01-01T00:00:00Z/2024-01-02T00:00:00Z"],
       "context": {"skipEmptyBuckets": true},
       "aggregations": [{"type": "count", "name": "n"}]}""")
    assert(sparse.count() < 24)
  }

  test("weekly zero-fill aligns buckets to the Monday date_trunc grid") {
    // 2024-01-01 is a Monday; sf0.001 events put 248 rows in that week and
    // 246 in the next. An epoch-aligned (Thursday) grid would match nothing
    // and zero out the real aggregate rows.
    val df = NativeJsonQuery.run(spark, dir, """
      {"queryType": "timeseries", "dataSource": "events",
       "granularity": "week",
       "intervals": ["2023-12-25T00:00:00Z/2024-01-15T00:00:00Z"],
       "aggregations": [{"type": "count", "name": "n"}]}""")
    val rows = df.collect()
    assert(rows.length == 3, s"expected 3 weekly buckets, got ${rows.length}")
    val byTs = rows.map(r => r.getTimestamp(0).toString.take(10) -> r.getAs[Long]("n")).toMap
    assert(byTs == Map("2023-12-25" -> 0L, "2024-01-01" -> 248L, "2024-01-08" -> 246L))
  }

  test("zero-fill generates bucket grids for every interval, not just the first") {
    val df = NativeJsonQuery.run(spark, dir, """
      {"queryType": "timeseries", "dataSource": "events",
       "granularity": "day",
       "intervals": ["2024-01-01T00:00:00Z/2024-01-02T00:00:00Z",
                     "2024-01-05T00:00:00Z/2024-01-06T00:00:00Z"],
       "aggregations": [{"type": "count", "name": "n"}]}""")
    val rows = df.collect()
    assert(rows.length == 2, s"expected 2 daily buckets, got ${rows.length}")
    // the old single-interval grid dropped the 2024-01-05 aggregate (35 rows)
    assert(rows.forall(_.getAs[Long]("n") > 0L))
  }

  test("context.useApproximateTopN routes through the custom operator") {
    val json = """
      {"queryType": "topN", "dataSource": "events",
       "dimension": "user_id", "threshold": 5, "metric": "n",
       %s
       "aggregations": [{"type": "count", "name": "n"}]}"""
    val approx = NativeJsonQuery.run(spark, dir,
      json.format("\"context\": {\"useApproximateTopN\": true},"))
    assert(approx.queryExecution.executedPlan.toString.contains("LocalApproxTopN"))
    val exact = NativeJsonQuery.run(spark, dir, json.format(""))
    // sf0.001 cardinality << 1000 per partition → identical results
    val a = approx.collect().map(r => (r.getLong(0), r.getLong(1)))
    val e = exact.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(a.sorted.sameElements(e.sorted))
  }

  test("inverted topN metric spec returns bottom-K ascending") {
    val df = NativeJsonQuery.run(spark, dir, """
      {"queryType": "topN", "dataSource": "events",
       "dimension": "event_type", "threshold": 3,
       "metric": {"type": "inverted", "metric": "n"},
       "aggregations": [{"type": "count", "name": "n"}]}""")
    val ns = df.collect().map(_.getAs[Long]("n"))
    assert(ns.length == 3 && ns.sameElements(ns.sorted))
    val all = Tables.load(spark, dir, "events")
      .groupBy("event_type").count().collect().map(_.getAs[Long]("count")).sorted
    assert(ns.head == all.head)
  }

  test("dimension topN metric spec orders lexicographically") {
    val df = NativeJsonQuery.run(spark, dir, """
      {"queryType": "topN", "dataSource": "events",
       "dimension": "event_type", "threshold": 2,
       "metric": {"type": "dimension"},
       "aggregations": [{"type": "count", "name": "n"}]}""")
    val dims = df.collect().map(_.getString(0))
    assert(dims.sameElements(dims.sorted) && dims.length == 2)
  }

  test("GraftSession.attach registers the full SQL surface") {
    GraftSession.attach(spark)
    Tables.registerAll(spark, dir)
    val r = spark.sql(
      """SELECT TIME_FLOOR(min(ts), 'P1D'), hll_estimate_agg(user_id),
                geometric_mean(value)
         FROM events""").head()
    assert(r.getTimestamp(0).toString.startsWith("2024-01-01"))
    assert(r.getLong(1) > 10)
    // one builder per name across the whole table, the SQL-defined
    // functions, LOOKUP and GEOMETRIC_MEAN included: a repeated name would
    // be shadowed by whichever entry attach registers last
    val names = GraftSession.functions.map(_.name.toLowerCase)
    assert(names.distinct.size == names.size, names.diff(names.distinct))
    assert(Seq("strlen", "ipv4_match", "array_quantile", "lookup",
      "geometric_mean", "ds_theta").forall(names.contains))
  }

  test("union datasource appends tables by name") {
    val df = NativeJsonQuery.run(spark, dir, """
      {"queryType": "groupBy",
       "dataSource": {"type": "union",
                      "dataSources": ["customer", "supplier"]},
       "dimensions": [],
       "aggregations": [{"type": "count", "name": "n"}]}""")
    assert(df.head().getAs[Long]("n") == 160L) // 150 customers + 10 suppliers
  }

  test("segmentMetadata query type reports per-column analysis") {
    val df = NativeJsonQuery.run(spark, dir, """
      {"queryType": "segmentMetadata", "dataSource": "events",
       "toInclude": {"type": "list", "columns": ["event_type", "user_id"]}}""")
    val rows = df.collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("event_type", "user_id"))
    assert(rows.forall(_.getAs[Long]("non_null") == 1000L))
  }

  test("union query type concatenates sub-query results") {
    val df = NativeJsonQuery.run(spark, dir, """
      {"queryType": "union", "queries": [
        {"queryType": "groupBy", "dataSource": "events",
         "dimensions": ["event_type"],
         "aggregations": [{"type": "count", "name": "n"}]},
        {"queryType": "groupBy", "dataSource": "events",
         "dimensions": ["event_type"],
         "filter": {"type": "selector", "dimension": "event_type", "value": "click"},
         "aggregations": [{"type": "count", "name": "n"}]}]}""")
    assert(df.count() == 6) // 5 types + 1 filtered row
  }

  test("windowOperator query type runs the processor pipeline") {
    val df = NativeJsonQuery.run(spark, dir, """
      {"queryType": "windowOperator", "dataSource": "events",
       "operatorDefinition": [
         {"type": "naivePartition", "partitionColumns": ["event_type"]},
         {"type": "naiveSort", "columns": [{"column": "value", "direction": "DESC"}]},
         {"type": "window", "processors": [
           {"type": "rowNumber", "outputColumn": "rn"},
           {"type": "lag", "inputColumn": "value", "offset": 1, "outputColumn": "prev_v"}]}]}""")
    val top = df.filter(col("rn") === 1)
    val rows = top.collect()
    assert(rows.length == 5) // one top row per event_type
    assert(rows.forall(_.getAs[Any]("prev_v") == null))
  }

  test("windowOperator framedAgg aggregates over a ROWS frame") {
    val df = NativeJsonQuery.run(spark, dir, """
      {"queryType": "windowOperator", "dataSource": "events",
       "operatorDefinition": [
         {"type": "naivePartition", "partitionColumns": ["user_id"]},
         {"type": "naiveSort", "columns": ["__time"]},
         {"type": "window", "processors": [
           {"type": "rowNumber", "outputColumn": "rn"},
           {"type": "framedAgg", "frame": {"lower": -1, "upper": 0},
            "aggregations": [{"type": "count", "name": "cnt2"}]}]}]}""")
    val rows = df.select(col("rn"), col("cnt2")).collect()
    // frame [-1, 0]: first row of each partition sees 1 row, the rest 2
    assert(rows.forall(r =>
      if (r.getInt(0) == 1) r.getAs[Long]("cnt2") == 1L
      else r.getAs[Long]("cnt2") == 2L))
  }

  test("subtotalsSpec resolves dimension OUTPUT names (aliased extraction)") {
    val df = NativeJsonQuery.run(spark, dir, """
      {"queryType": "groupBy", "dataSource": "events",
       "dimensions": [{"dimension": "event_type", "outputName": "et_u",
                       "extractionFn": {"type": "upper"}}],
       "subtotalsSpec": [["et_u"], []],
       "aggregations": [{"type": "count", "name": "n"}]}""")
    val rows = df.collect()
    assert(rows.length == 6) // 5 uppercased types + grand total
    assert(rows.filter(!_.isNullAt(0)).forall(r =>
      r.getString(0) == r.getString(0).toUpperCase))
  }

  test("subtotalsSpec maps onto grouping sets") {
    val df = NativeJsonQuery.run(spark, dir, """
      {"queryType": "groupBy", "dataSource": "events",
       "dimensions": ["event_type"],
       "subtotalsSpec": [["event_type"], []],
       "aggregations": [{"type": "count", "name": "n"}]}""")
    val rows = df.collect()
    // 5 event types + 1 grand-total row (event_type null)
    assert(rows.length == 6)
    val total = rows.filter(_.isNullAt(0)).map(_.getAs[Long]("n"))
    assert(total.toSeq == Seq(1000L))
  }

  test("virtual columns are usable in dims and filters") {
    val df = NativeJsonQuery.run(spark, dir, """
      {"queryType": "groupBy", "dataSource": "orders",
       "virtualColumns": [{"type": "expression", "name": "price_band",
                           "expression": "CASE WHEN o_totalprice > 150000 THEN 'hi' ELSE 'lo' END"}],
       "dimensions": ["price_band"],
       "aggregations": [{"type": "count", "name": "n"}]}""")
    val m = df.collect().map(r => r.getString(0) -> r.getAs[Long]("n")).toMap
    assert(m.keySet == Set("hi", "lo") && m.values.sum == 1500L)
  }

  test("extraction fn in a selector filter compares extracted values") {
    val df = NativeJsonQuery.run(spark, dir, """
      {"queryType": "groupBy", "dataSource": "events",
       "dimensions": ["event_type"],
       "filter": {"type": "selector", "dimension": "event_type",
                  "extractionFn": {"type": "substring", "index": 0, "length": 1},
                  "value": "c"},
       "aggregations": [{"type": "count", "name": "n"}]}""")
    val types = df.collect().map(_.getString(0))
    assert(types.toSet == Set("click")) // only type starting with 'c'
  }

  test("extraction dimension spec (substring)") {
    val df = NativeJsonQuery.run(spark, dir, """
      {"queryType": "groupBy", "dataSource": "orders",
       "dimensions": [{"type": "extraction", "dimension": "o_orderpriority",
                       "outputName": "prio_code",
                       "extractionFn": {"type": "substring", "index": 0, "length": 1}}],
       "aggregations": [{"type": "count", "name": "n"}]}""")
    val codes = df.collect().map(_.getString(0)).toSet
    assert(codes.subsetOf(Set("1", "2", "3", "4", "5")))
  }

  test("explain returns the physical plan with pushed filters") {
    val plan = NativeJsonQuery.explain(spark, dir, """
      {"queryType": "scan", "dataSource": "lineitem",
       "columns": ["l_orderkey", "l_quantity"],
       "filter": {"type": "bound", "dimension": "l_quantity", "lower": 45}}""")
    assert(plan.contains("PushedFilters"))
    assert(plan.contains("GreaterThanOrEqual(l_quantity,45"))
  }

  test("context.lane maps onto a scheduler pool") {
    // the query's jobs run in the lane's pool; the caller's thread keeps
    // its own job group and pool
    val (pools, group, pool) = QueryLifecycleSpec.lanesOf(spark, "lane-native-1") {
      NativeJsonQuery.execute(spark, dir, """
        {"queryType": "groupBy", "dataSource": "events",
         "dimensions": ["event_type"],
         "context": {"lane": "low", "queryId": "lane-native-1"},
         "aggregations": [{"type": "count", "name": "n"}]}""")
    }
    assert(pools.nonEmpty && pools.forall(_ == "low"), pools)
    assert(group == "outer-group" && pool == "outer-pool", (group, pool))
  }

  test("context.timeout cancels an overrunning query, passes a quick one") {
    // ~1e6 interpreted ops per row via nested HOFs: whole query takes
    // several seconds, reliably slower than the 300ms deadline (but
    // orphaned tasks drain quickly after cancellation)
    val slow = """
      {"queryType": "groupBy", "dataSource": "events",
       "virtualColumns": [{"type": "expression", "name": "burn",
         "expression": "aggregate(transform(sequence(1, 1000), i -> aggregate(sequence(1, 1000), 0L, (a, x) -> a + x)), 0L, (a, x) -> a + x)"}],
       "dimensions": ["burn"],
       "context": {"timeout": 300},
       "aggregations": [{"type": "count", "name": "n"}]}"""
    val e = intercept[Exception](NativeJsonQuery.execute(spark, dir, slow))
    assert(e.getMessage.toLowerCase.contains("cancel"))
    val quick = NativeJsonQuery.execute(spark, dir, """
      {"queryType": "timeBoundary", "dataSource": "events",
       "context": {"timeout": 60000}}""")
    assert(quick.length == 1)
  }

  test("context.queryId tags jobs for cancellation") {
    // a running query is cancelled by its id (reference DELETE
    // /druid/v2/{id}): its jobs run in a group registered under the id
    val slow = """
      {"queryType": "groupBy", "dataSource": "events",
       "virtualColumns": [{"type": "expression", "name": "burn",
         "expression": "aggregate(transform(sequence(1, 1000), i -> aggregate(sequence(1, 1000), 0L, (a, x) -> a + x)), 0L, (a, x) -> a + x)"}],
       "dimensions": ["burn"],
       "context": {"queryId": "cancel-me-123"},
       "aggregations": [{"type": "count", "name": "n"}]}"""
    val sc = spark.sparkContext
    val started = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).map(_.getProperty("spark.jobGroup.id"))
              .exists(_.startsWith("cancel-me-123#"))) started.countDown()
    }
    sc.addSparkListener(listener)
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val runner = new Thread(() =>
      try NativeJsonQuery.execute(spark, dir, slow)
      catch { case e: Throwable => failure.set(e) })
    try {
      runner.start()
      assert(started.await(60, java.util.concurrent.TimeUnit.SECONDS))
      graft.api.QueryLanes.cancel(spark, "cancel-me-123")
      runner.join(60000)
      assert(!runner.isAlive)
      assert(failure.get != null &&
        String.valueOf(failure.get.getMessage).toLowerCase.contains("cancel"), failure.get)
    } finally sc.removeSparkListener(listener)
    graft.api.QueryLanes.cancel(spark, "cancel-me-123") // no-op when finished
  }

  test("sys_servers and sys_tasks system views register") {
    graft.operators.Metadata.registerSystemViews(spark, dir)
    assert(spark.table("sys_servers").count() >= 1)
    assert(spark.table("sys_tasks").columns.toSeq ==
      Seq("job_id", "status", "job_group"))
  }

  test("INFORMATION_SCHEMA.ROUTINES lists functions with aggregator flags") {
    graft.operators.Metadata.registerInformationSchema(spark, dir)
    val r = spark.table("information_schema_routines")
    assert(r.columns.toSeq == Seq("routine_catalog", "routine_schema",
      "routine_name", "routine_type", "is_aggregator", "signatures"))
    val byName = r.collect().map(x => x.getString(2) -> x.getString(4)).toMap
    // the engine surface itself is listed
    assert(byName.contains("ds_theta") && byName("ds_theta") == "YES")
    assert(byName.contains("theta_sketch_estimate")
      && byName("theta_sketch_estimate") == "NO")
    assert(byName.contains("earliest") && byName("earliest") == "YES")
    // ordinary builtins flow through from the session registry
    assert(byName.contains("concat") && byName("concat") == "NO")
    assert(byName("sum") == "YES")
    // scalars whose names merely CONTAIN aggregate-ish substrings stay NO
    for (scalar <- Seq("minute", "last_day", "bit_length"))
      if (byName.contains(scalar)) assert(byName(scalar) == "NO",
        s"$scalar misflagged as aggregate")
    // engine aggregates that shadow a built-in, and the typed aggregator
    for (agg <- Seq("any_value", "approx_count_distinct", "array_agg",
        "array_agg_mv", "array_concat_agg_distinct", "string_agg",
        "string_agg_sorted", "bit_and", "bit_or", "bit_xor", "geometric_mean"))
      assert(byName.get(agg).contains("YES"), s"$agg not flagged as aggregate")
  }

  test("INFORMATION_SCHEMA.ROUTINES signatures are the usage lines, equal across sessions") {
    def routines(s: SparkSession) =
      graft.operators.Metadata.informationSchemaRoutines(s).collect()
        .map(r => r.getString(2) -> r.getString(5)).toMap
    val one = routines(spark.newSession())
    assert(one == routines(spark.newSession()))
    for (f <- GraftSession.functions) {
      val sig = one(f.name)
      assert(sig.nonEmpty && sig != "N/A." && sig.startsWith(f.name + "("),
        s"${f.name}: '$sig'")
    }
  }

  test("sys_server_segments maps every segment onto each server") {
    graft.operators.Metadata.registerSystemViews(spark, dir)
    val ss = spark.table("sys_server_segments")
    assert(ss.columns.toSeq == Seq("server", "segment_id", "datasource"))
    val nSegments = spark.table("sys_segments").count()
    val nServers = spark.table("sys_servers").count()
    assert(ss.count() == nSegments * nServers,
      "shared storage: assignment is the full cross of servers × segments")
    assert(ss.where(col("datasource") === "lineitem").count() >= 1)
  }

  test("sys_supervisors lists active streaming queries") {
    graft.operators.Metadata.registerSystemViews(spark, dir)
    assert(spark.table("sys_supervisors").columns.toSeq ==
      Seq("supervisor_id", "run_id", "state", "detailed_state", "healthy",
        "type", "source", "suspended"))
    assert(spark.table("sys_supervisors").count() == 0, "no streams running")
    // start a stream; a re-registered snapshot must carry one RUNNING row
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sc: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[Int]
    in.addData(1, 2, 3)
    val q = in.toDF().writeStream.format("noop")
      .queryName("supervisor-spec").start()
    try {
      q.processAllAvailable()
      val rows = graft.operators.Metadata.supervisors(spark)
        .where(col("supervisor_id") === "supervisor-spec").collect()
      assert(rows.length == 1)
      val r = rows.head
      assert(r.getAs[String]("state") == "RUNNING")
      assert(r.getAs[Boolean]("healthy") && !r.getAs[Boolean]("suspended"))
    } finally q.stop()
  }

  test("istrue / isfalse filters wrap a base filter null-safely") {
    def cnt(flt: String) = NativeJsonQuery.run(spark, dir, s"""
      {"queryType": "scan", "dataSource": "events",
       "columns": ["event_type"], "filter": $flt}""").count()
    val base = """{"type": "equals", "column": "event_type", "matchValue": "click"}"""
    val t = cnt(s"""{"type": "istrue", "field": $base}""")
    val f = cnt(s"""{"type": "isfalse", "field": $base}""")
    assert(t == cnt(base))
    assert(t > 0 && f > 0 && t + f == 1000L) // no nulls: complementary
  }

  test("columnComparison filter matches rows with equal dimension values") {
    val df = NativeJsonQuery.run(spark, dir, """
      {"queryType": "scan", "dataSource": "lineitem",
       "columns": ["l_orderkey"],
       "filter": {"type": "columnComparison",
                  "dimensions": ["l_linenumber", "l_suppkey"]}}""")
    val expected = Tables.asDruid(spark, dir, "lineitem")
      .filter(col("l_linenumber").cast("string") === col("l_suppkey").cast("string"))
      .count()
    assert(df.count() == expected && expected > 0)
  }

  test("arrayContainsElement filter over a virtual array column") {
    val df = NativeJsonQuery.run(spark, dir, """
      {"queryType": "scan", "dataSource": "part",
       "virtualColumns": [{"type": "expression", "name": "words",
                           "expression": "split(p_name, ' ')"}],
       "columns": ["p_partkey"],
       "filter": {"type": "arrayContainsElement", "column": "words",
                  "elementMatchValueType": "STRING",
                  "elementMatchValue": "widget"}}""")
    val expected = Tables.asDruid(spark, dir, "part")
      .filter(col("p_name").contains("widget")).count()
    assert(df.count() == expected && expected > 0)
  }

  test("search filter: contains folds case by default, fragment needs all") {
    def cnt(flt: String) = NativeJsonQuery.run(spark, dir, s"""
      {"queryType": "scan", "dataSource": "part",
       "columns": ["p_partkey"], "filter": $flt}""").count()
    val ci = cnt("""{"type": "search", "dimension": "p_name",
      "query": {"type": "contains", "value": "WIDGET"}}""")
    val cs = cnt("""{"type": "search", "dimension": "p_name",
      "query": {"type": "contains", "value": "WIDGET", "caseSensitive": true}}""")
    val expected = Tables.asDruid(spark, dir, "part")
      .filter(col("p_name").contains("widget")).count()
    assert(ci == expected && expected > 0 && cs == 0)
    val frag = cnt("""{"type": "search", "dimension": "p_name",
      "query": {"type": "fragment", "values": ["COLD", "widget"]}}""")
    val fragExpected = Tables.asDruid(spark, dir, "part")
      .filter(col("p_name").contains("cold") && col("p_name").contains("widget"))
      .count()
    assert(frag == fragExpected && frag > 0 && frag < expected)
  }

  test("spatial filter bounds over a comma-joined point dimension") {
    def cnt(bound: String) = NativeJsonQuery.run(spark, dir, s"""
      {"queryType": "scan", "dataSource": "customer",
       "virtualColumns": [{"type": "expression", "name": "pt",
         "expression": "concat(cast(c_custkey % 100 - 50 as string), ',', cast(c_custkey % 60 - 30 as string))"}],
       "columns": ["c_custkey"],
       "filter": {"type": "spatial", "dimension": "pt", "bound": $bound}}""").count()
    val rect = cnt("""{"type": "rectangular", "minCoords": [-10, -10], "maxCoords": [10, 10]}""")
    val rad = cnt("""{"type": "radius", "coords": [0, 0], "radius": 10}""")
    val poly = cnt("""{"type": "polygon", "abscissa": [-10, 10, 0], "ordinate": [-10, -10, 10]}""")
    assert(rect > 0 && rad > 0 && poly > 0)
    assert(rad <= rect && poly <= rect) // circle and triangle inscribe the box
  }

  test("scan resultFormat compactedList returns positional value arrays") {
    val df = NativeJsonQuery.run(spark, dir, """
      {"queryType": "scan", "dataSource": "nation",
       "columns": ["n_nationkey", "n_name"],
       "resultFormat": "compactedList", "limit": 3}""")
    assert(df.columns.toSeq == Seq("events"))
    val rows = df.collect().map(_.getSeq[String](0))
    assert(rows.length == 3 && rows.forall(_.length == 2))
    // positional order matches the declared columns
    assert(rows.forall(r => r.head.forall(_.isDigit)))
  }

  test("maxSubqueryRows caps execute() results like the reference broker") {
    // scan over the cap errors with the resource-limit message...
    val over = intercept[graft.api.QueryLanes.ResourceLimitExceeded] {
      NativeJsonQuery.execute(spark, dir, """
        {"queryType": "scan", "dataSource": "events",
         "columns": ["event_type"],
         "context": {"maxSubqueryRows": 10}}""")
    }
    assert(over.getMessage.contains("maxSubqueryRows=10"))
    // ...an aggregation under the same cap still returns in full
    val under = NativeJsonQuery.execute(spark, dir, """
      {"queryType": "groupBy", "dataSource": "events",
       "dimensions": ["event_type"],
       "context": {"maxSubqueryRows": 10},
       "aggregations": [{"type": "count", "name": "n"}]}""")
    assert(under.length == 5)
  }

  test("unsupported queryType raises") {
    intercept[IllegalArgumentException] {
      NativeJsonQuery.run(spark, dir,
        """{"queryType": "mystery", "dataSource": "events"}""")
    }
  }

  test("inline, query, lookup, join and unnest dataSources resolve") {
    // inline rows + groupBy over them
    val inline = NativeJsonQuery.run(spark, dir, """
      {"queryType": "groupBy", "dataSource":
        {"type": "inline",
         "columnNames": ["cat", "x"],
         "rows": [["a", 1], ["a", 2], ["b", 5]]},
       "dimensions": ["cat"],
       "aggregations": [{"type": "longSum", "name": "sx", "fieldName": "x"}]}""")
      .orderBy("cat").collect()
    assert(inline.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a", 3L), ("b", 5L)))
    // query (subquery) datasource: aggregate of an inner scan
    val sub = NativeJsonQuery.run(spark, dir, """
      {"queryType": "groupBy",
       "dataSource": {"type": "query", "query":
         {"queryType": "scan", "dataSource": "events",
          "columns": ["event_type", "value"]}},
       "dimensions": ["event_type"],
       "aggregations": [{"type": "count", "name": "n"}]}""").collect()
    assert(sub.length == 5)
    // join against a lookup datasource (broadcast right), reference
    // condition syntax, then group on the joined value
    graft.functions.LookupRegistry.register("etype_names", Map(
      "click" -> "Click", "view" -> "View", "purchase" -> "Buy",
      "signup" -> "Signup", "error" -> "Error"))
    val joined = NativeJsonQuery.run(spark, dir, """
      {"queryType": "groupBy",
       "dataSource": {"type": "join",
         "left": "events",
         "right": {"type": "lookup", "lookup": "etype_names"},
         "rightPrefix": "j0.",
         "condition": "event_type == \"j0.k\"",
         "joinType": "INNER"},
       "dimensions": ["j0.v"],
       "aggregations": [{"type": "count", "name": "n"}]}""").collect()
    assert(joined.length == 5)
    assert(joined.map(_.getAs[String]("j0.v")).toSet ==
      Set("Click", "View", "Buy", "Signup", "Error"))
    // unnest datasource over a virtual MV column
    val un = NativeJsonQuery.run(spark, dir, """
      {"queryType": "groupBy",
       "dataSource": {"type": "unnest",
         "base": {"type": "inline", "columnNames": ["s"],
                  "rows": [["a b"], ["b c"]]},
         "virtualColumn": {"outputName": "w", "expression": "split(s, ' ')"}},
       "dimensions": ["w"],
       "aggregations": [{"type": "count", "name": "n"}]}""")
      .orderBy("w").collect()
    assert(un.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a", 1L), ("b", 2L), ("c", 1L)))
  }

  test("result cache: a native hit ignores queryId, other dimensions are another key, flagless queries leave the stats") {
    ResultCache.clear()
    def q(dim: String, id: String = "cache-test") = s"""
      {"queryType": "groupBy", "dataSource": "events",
       "dimensions": ["$dim"],
       "aggregations": [{"type": "count", "name": "n"}],
       "context": {"useCache": true, "populateCache": true,
                   "queryId": "$id", "timeout": 60000}}"""
    val first = NativeJsonQuery.execute(spark, dir, q("event_type"))
    val (h0, m0) = ResultCache.stats
    assert(h0 == 0 && m0 == 1)
    val second = NativeJsonQuery.execute(spark, dir,
      q("event_type", id = "other-query-id"))
    val (h1, m1) = ResultCache.stats
    assert(h1 == 1 && m1 == 1, "identical query (modulo queryId) must hit")
    assert(second.map(_.toString).sorted.sameElements(first.map(_.toString).sorted))
    NativeJsonQuery.execute(spark, dir, q("user_id"))
    val (h2, m2) = ResultCache.stats
    assert(h2 == 1 && m2 == 2, "different dimensions must be a different key")
    // an uncached query leaves the counters alone
    NativeJsonQuery.execute(spark, dir, """
      {"queryType": "timeBoundary", "dataSource": "events"}""")
    assert(ResultCache.stats == ((1L, 2L)))
    ResultCache.clear()
    assert(ResultCache.stats == ((0L, 0L)))
  }

  test("result cache: a nested query's context splits the native key") {
    ResultCache.clear()
    // identical outer queries over a nested timeseries differing ONLY in the
    // nested context's skipEmptyBuckets — semantic for the subquery, so it
    // must be a different cache key (no false hit)
    def q(skip: Boolean) = s"""
      {"queryType": "groupBy", "dataSource": {"type": "query", "query":
        {"queryType": "timeseries", "dataSource": "events",
         "granularity": "day",
         "intervals": ["2024-01-01T00:00:00Z/2024-02-01T00:00:00Z"],
         "aggregations": [{"type": "count", "name": "n"}],
         "context": {"skipEmptyBuckets": $skip}}},
       "dimensions": [],
       "aggregations": [{"type": "longSum", "name": "total", "fieldName": "n"},
                        {"type": "count", "name": "buckets"}],
       "context": {"useCache": true, "populateCache": true}}"""
    NativeJsonQuery.execute(spark, dir, q(skip = false))
    NativeJsonQuery.execute(spark, dir, q(skip = false))
    assert(ResultCache.stats == ((1L, 1L)), "the nested query is cached")
    NativeJsonQuery.execute(spark, dir, q(skip = true))
    val (h, m) = ResultCache.stats
    assert(h == 1 && m == 2, s"nested context must split the key (h=$h m=$m)")
    ResultCache.clear()
  }

  /** A private copy of the tables, so a rewrite leaves the test data alone. */
  private def tablesCopy(): java.nio.file.Path = {
    val copy = java.nio.file.Files.createTempDirectory("graft_sf_copy")
    new java.io.File(dir).listFiles().foreach(f =>
      java.nio.file.Files.copy(f.toPath, copy.resolve(f.getName)))
    copy
  }

  /** Rewrite `copy`'s nation.parquet from outside graft: region 0's five
    * nations only.
    */
  private def rewriteNation(copy: java.nio.file.Path): Unit = {
    val out = java.nio.file.Files.createTempDirectory("graft_nation_src").resolve("out")
    spark.read.parquet(s"$dir/nation.parquet").filter("n_regionkey = 0")
      .coalesce(1).write.parquet(out.toString)
    val part = out.toFile.listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(part.toPath, copy.resolve("nation.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  test("result cache: a native hit is not served after an outside rewrite of the table's file") {
    val copy = tablesCopy()
    val q = """
      {"queryType": "groupBy", "dataSource": "nation",
       "dimensions": ["n_regionkey"],
       "aggregations": [{"type": "count", "name": "n"}],
       "context": {"useCache": true, "populateCache": true}}"""
    def groups(s: SparkSession): Seq[(Long, Long)] =
      NativeJsonQuery.execute(s, copy.toString, q)
        .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue)).toSeq.sorted
    ResultCache.clear()
    val before = groups(spark)
    assert(before.map(_._2).sum == 25)
    assert(groups(spark) == before && ResultCache.stats == ((1L, 1L)))
    rewriteNation(copy)
    assert(groups(spark.newSession()) == Seq((0L, 5L)))
  }

  test("result cache: a same-session read after an outside rewrite of an sf table reads the new file, cached or not") {
    val copy = tablesCopy()
    def q(cached: Boolean) = s"""
      {"queryType": "groupBy", "dataSource": "nation",
       "dimensions": ["n_regionkey"],
       "aggregations": [{"type": "count", "name": "n"}],
       "context": {"useCache": $cached, "populateCache": $cached}}"""
    val s = spark.newSession()
    def nativeGroups(cached: Boolean): Int =
      NativeJsonQuery.execute(s, copy.toString, q(cached)).length
    def sqlGroups(): Int = SqlApi.execute(s, copy.toString, """{
      "query": "SELECT n_regionkey, count(*) AS n FROM nation GROUP BY n_regionkey",
      "resultFormat": "csv", "context": {"useCache": true, "populateCache": true}
    }""").trim.split("\n").length
    ResultCache.clear()
    assert(nativeGroups(cached = true) == 5 && sqlGroups() == 5)
    rewriteNation(copy)
    assert(nativeGroups(cached = true) == 1, "stale cached native read")
    assert(nativeGroups(cached = false) == 1, "stale uncached native read")
    assert(sqlGroups() == 1, "stale cached SQL read")
  }

  test("movingAverage densifies the bucket grid on sparse series") {
    // days 1, 2, 4 present — day 3 missing. The reference
    // (extensions-contrib/movingAverage MovingAverageIterable) slides over
    // the zero-filled grid: Mean divides by n with the absent bucket
    // counting as zero, and the empty bucket itself is emitted.
    val df = NativeJsonQuery.run(spark, dir, """
      {"queryType": "movingAverage",
       "dataSource": {"type": "inline", "columnNames": ["t", "value"],
         "rows": [["2024-01-01T06:00:00Z", 3.0],
                  ["2024-01-02T06:00:00Z", 6.0],
                  ["2024-01-04T06:00:00Z", 12.0]]},
       "virtualColumns": [{"name": "__time", "expression": "CAST(t AS TIMESTAMP)"}],
       "granularity": "day",
       "aggregations": [{"type": "count", "name": "n"},
                        {"type": "doubleSum", "name": "v", "fieldName": "value"}],
       "averagers": [
         {"type": "doubleMean", "name": "ma2", "fieldName": "v", "buckets": 2},
         {"type": "doubleMeanNoNulls", "name": "mnn2", "fieldName": "v", "buckets": 2}]}""")
    val rows = df.select("timestamp", "n", "ma2", "mnn2").collect()
    assert(rows.map(_.getTimestamp(0).toString.substring(0, 10)).toSeq ==
      Seq("2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04"),
      "the missing day-3 bucket must be emitted")
    assert(rows.map(r => r.getLong(1)).toSeq == Seq(1L, 1L, 0L, 1L))
    // Mean over the dense grid: gap counts as 0 in the numerator, n stays 2
    assert(rows.map(_.getDouble(2)).toSeq == Seq(1.5, 4.5, 3.0, 6.0))
    // MeanNoNulls skips the absent bucket instead
    assert(rows.map(_.getDouble(3)).toSeq == Seq(3.0, 4.5, 6.0, 12.0))
  }

  test("movingAverage warm-up extends the scan, output trims to intervals") {
    val df = NativeJsonQuery.run(spark, dir, """
      {"queryType": "movingAverage",
       "dataSource": {"type": "inline", "columnNames": ["t", "value"],
         "rows": [["2024-01-01T06:00:00Z", 3.0],
                  ["2024-01-02T06:00:00Z", 6.0],
                  ["2024-01-04T06:00:00Z", 12.0]]},
       "virtualColumns": [{"name": "__time", "expression": "CAST(t AS TIMESTAMP)"}],
       "granularity": "day",
       "intervals": ["2024-01-03T00:00:00Z/2024-01-05T00:00:00Z"],
       "aggregations": [{"type": "doubleSum", "name": "v", "fieldName": "value"}],
       "averagers": [
         {"type": "doubleMean", "name": "ma2", "fieldName": "v", "buckets": 2}]}""")
    val rows = df.select("timestamp", "ma2").collect()
    // only the interval's buckets come back, but day 3's window saw day 2
    // from the warm-up extension (reference MovingAverageQueryRunner)
    assert(rows.map(_.getTimestamp(0).toString.substring(0, 10)).toSeq ==
      Seq("2024-01-03", "2024-01-04"))
    assert(rows.map(_.getDouble(1)).toSeq == Seq(3.0, 6.0))
  }

  test("inline datasource: explicit columnTypes and null-first-cell inference") {
    // null first cell: inferred from the first NON-null value (reference
    // InlineDataSource carries a typed RowSignature, InlineDataSource.java:49)
    val inferred = NativeJsonQuery.run(spark, dir, """
      {"queryType": "scan",
       "dataSource": {"type": "inline", "columnNames": ["k", "x"],
         "rows": [["a", null], ["b", 2.5], ["c", 4]]},
       "columns": ["k", "x"]}""")
    assert(inferred.schema("x").dataType ==
      org.apache.spark.sql.types.DoubleType)
    assert(inferred.orderBy("k").collect().map(r =>
      Option(r.get(1))).toSeq == Seq(None, Some(2.5), Some(4.0)))
    // declared columnTypes win over inference, coercing integer literals
    val declared = NativeJsonQuery.run(spark, dir, """
      {"queryType": "scan",
       "dataSource": {"type": "inline", "columnNames": ["k", "x"],
         "columnTypes": ["STRING", "DOUBLE"],
         "rows": [["a", 1], ["b", 2]]},
       "columns": ["k", "x"]}""")
    assert(declared.schema("x").dataType ==
      org.apache.spark.sql.types.DoubleType)
    assert(declared.orderBy("k").collect().map(_.getDouble(1)).toSeq ==
      Seq(1.0, 2.0))
  }

  test("timeseries standard granularity names: five/ten minute, eight_hour, none") {
    // GranularityType enum: every standard name maps to a period bucket;
    // NONE is millisecond precision (no truncation)
    def buckets(g: String): Long = NativeJsonQuery.run(spark, dir,
      s"""{"queryType": "timeseries", "dataSource": "events",
           "granularity": "$g",
           "aggregations": [{"type": "count", "name": "n"}]}""").count()
    val b5 = buckets("five_minute")
    val b10 = buckets("ten_minute")
    val b15 = buckets("fifteen_minute")
    val b6h = buckets("six_hour")
    val b8h = buckets("eight_hour")
    val bNone = buckets("none")
    assert(b5 >= b10 && b10 >= b15)     // finer buckets, more rows
    assert(b8h <= b6h)
    assert(bNone >= b5)                 // ms precision dominates everything
  }

  test("native expression substring/strpos are 0-based (Function.java:2824,2867)") {
    // the NATIVE expression language differs from same-named SQL functions:
    // substring(s, index, length) is 0-based, length -1 = to the end, and
    // index at/past the length is NULL; strpos is Java indexOf (0-based,
    // -1 when absent, optional fromIndex)
    val df = NativeJsonQuery.run(spark, dir, """
      {"queryType": "scan",
       "dataSource": {"type": "inline", "columnNames": ["s"],
         "columnTypes": ["STRING"], "rows": [["abcdef"]]},
       "virtualColumns": [
         {"type": "expression", "name": "sub0", "expression": "substring(s, 0, 3)"},
         {"type": "expression", "name": "subtail", "expression": "substring(s, 4, -1)"},
         {"type": "expression", "name": "suboob", "expression": "substring(s, 6, 2)"},
         {"type": "expression", "name": "p_hit", "expression": "strpos(s, 'cd')"},
         {"type": "expression", "name": "p_miss", "expression": "strpos(s, 'xx')"},
         {"type": "expression", "name": "p_from", "expression": "strpos(s, 'b', 2)"}],
       "columns": ["sub0", "subtail", "suboob", "p_hit", "p_miss", "p_from"]}""")
    val r = df.head()
    assert(r.getString(0) == "abc")     // 0-based start
    assert(r.getString(1) == "ef")      // length -1 → to end
    assert(r.isNullAt(2))               // index == strlen → NULL, not ''
    assert(r.getLong(3) == 2L)          // 0-based indexOf
    assert(r.getLong(4) == -1L)         // absent → -1, not 0
    assert(r.getLong(5) == -1L)         // fromIndex skips the match
  }
}
