package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.api.SqlApi
import graft.functions.DruidFunctions
import graft.pipeline.{Dedup, Similarity, TextAnalysis}

/** Unit tests for the function layer on tiny literal data. */
class FunctionsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  import spark.implicits._

  test("timeFloor PT15M aligns to quarter hours") {
    spark.sparkContext.setLogLevel("ERROR")
    val df = Seq("2024-03-05 10:37:45").toDF("s")
      .select(DruidFunctions.timeFloor(col("s").cast("timestamp"), "PT15M").as("f"))
    assert(df.head().getTimestamp(0).toString == "2024-03-05 10:30:00.0")
  }

  test("timeFloor calendar periods use date_trunc") {
    val df = Seq("2024-03-05 10:37:45").toDF("s")
      .select(
        DruidFunctions.timeFloor(col("s").cast("timestamp"), "P1M").as("m"),
        DruidFunctions.timeFloor(col("s").cast("timestamp"), "P1W").as("w"))
    val r = df.head()
    assert(r.getTimestamp(0).toString == "2024-03-01 00:00:00.0")
    assert(r.getTimestamp(1).toString == "2024-03-04 00:00:00.0") // Monday
  }

  test("timeShift PT1H by -2") {
    val df = Seq("2024-01-01 05:00:00").toDF("s")
      .select(DruidFunctions.timeShift(col("s").cast("timestamp"), "PT1H", -2).as("t"))
    assert(df.head().getTimestamp(0).toString == "2024-01-01 03:00:00.0")
  }

  test("periodMicros parses compound periods") {
    assert(DruidFunctions.periodMicros("PT1H30M") == 5400L * 1000000)
    assert(DruidFunctions.periodMicros("P1DT12H") == 36L * 3600 * 1000000)
  }

  test("safeDivide returns null on zero") {
    val r = Seq((1.0, 0.0), (6.0, 2.0)).toDF("x", "y")
      .select(DruidFunctions.safeDivide(col("x"), col("y")).as("d"))
      .collect()
    assert(r(0).isNullAt(0) && r(1).getDouble(0) == 3.0)
  }

  test("safeDivide matches Function.java SafeDivide exactly") {
    // double path: 0/0 = 0 (the reference's special case), x/0 = null,
    // NaN divisor = null unless x = 0
    val d = Seq((0.0, 0.0), (1.0, Double.NaN), (0.0, Double.NaN), (7.0, 2.0))
      .toDF("x", "y")
      .select(DruidFunctions.safeDivide(col("x"), col("y")).as("d"))
      .collect()
    assert(d(0).getDouble(0) == 0.0)
    assert(d(1).isNullAt(0))
    assert(d(2).getDouble(0) == 0.0)
    assert(d(3).getDouble(0) == 3.5)
    // long path: integral inputs divide as longs (truncation), zero
    // divisor is null EVEN for 0/0
    GraftSession.attach(spark)
    val l = spark.sql(
      """SELECT safe_divide(7L, 2L) AS a, safe_divide(-7L, 2L) AS b,
                safe_divide(0L, 0L) AS c, safe_divide(5L, 0L) AS d,
                safe_divide(7.0D, 2L) AS e""").head()
    assert(l.getLong(0) == 3L && l.getLong(1) == -3L)
    assert(l.isNullAt(2) && l.isNullAt(3))
    assert(l.getDouble(4) == 3.5)
  }

  test("human_readable format family matches HumanReadableBytes.format") {
    GraftSession.attach(spark)
    val r = spark.sql(
      """SELECT human_readable_binary_byte_format(1024L) AS a,
                human_readable_binary_byte_format(1048576L, 1) AS b,
                human_readable_binary_byte_format(500L) AS c,
                human_readable_decimal_byte_format(1000L) AS d,
                human_readable_decimal_byte_format(-999L) AS e,
                human_readable_decimal_format(123456789L, 0) AS f,
                human_readable_decimal_format(999L) AS g""").head()
    assert(r.getString(0) == "1.00 KiB")
    assert(r.getString(1) == "1.0 MiB")
    assert(r.getString(2) == "500 B")
    assert(r.getString(3) == "1.00 KB")
    assert(r.getString(4) == "-999 B")
    assert(r.getString(5) == "123 M")
    assert(r.getString(6) == "999")
  }

  test("scalb and textcat match the reference's native expressions") {
    GraftSession.attach(spark)
    val r = spark.sql(
      """SELECT scalb(3.0D, 4) AS a, scalb(1.0D, -2) AS b,
                scalb(0.0D, 100) AS c,
                textcat('a', 'b') AS d, textcat('x', CAST(7 AS STRING)) AS e""")
      .head()
    assert(r.getDouble(0) == 48.0)
    assert(r.getDouble(1) == 0.25)
    assert(r.getDouble(2) == 0.0)
    assert(r.getString(3) == "ab" && r.getString(4) == "x7")
  }

  test("nvl is a two-argument coalesce") {
    GraftSession.attach(spark)
    val r = spark.sql(
      "SELECT nvl(NULL, 'x') AS a, nvl('y', 'x') AS b, nvl(NULL, 5) AS c")
      .head()
    assert(r.getString(0) == "x" && r.getString(1) == "y" && r.getInt(2) == 5)
  }

  test("ipv4 parse/stringify roundtrip and subnet match") {
    val df = Seq("10.64.3.1").toDF("ip").select(
      DruidFunctions.ipv4Parse(col("ip")).as("l"),
      DruidFunctions.ipv4Stringify(DruidFunctions.ipv4Parse(col("ip"))).as("s"),
      DruidFunctions.ipv4Match(col("ip"), "10.64.0.0/10").as("m1"),
      DruidFunctions.ipv4Match(col("ip"), "192.168.0.0/16").as("m2"))
    val r = df.head()
    assert(r.getLong(0) == (10L << 24) + (64L << 16) + (3L << 8) + 1)
    assert(r.getString(1) == "10.64.3.1")
    assert(r.getBoolean(2) && !r.getBoolean(3))
  }

  test("ipv6 subnet match handles ::, prefix masks, malformed input") {
    import graft.functions.Ipv6Match.ipv6Match
    val df = Seq(
      "2001:db8::1", "2001:db8:0:0:0:0:0:1", "2001:db9::1",
      "fe80::aaaa", "not-an-ip", "1.2.3.4").toDF("ip")
      .select(col("ip"),
        ipv6Match(col("ip"), "2001:db8::/32").as("m32"),
        ipv6Match(col("ip"), "2001:db8::/127").as("m127"),
        ipv6Match(col("ip"), "::/0").as("m0"))
    val rows = df.collect().map(r =>
      r.getString(0) -> (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3))).toMap
    assert(rows("2001:db8::1") == ((true, true, true)))
    assert(rows("2001:db8:0:0:0:0:0:1") == ((true, true, true)))  // same addr
    assert(rows("2001:db9::1") == ((false, false, true)))
    assert(rows("fe80::aaaa") == ((false, false, true)))
    assert(rows("not-an-ip") == ((false, false, false)))
    assert(rows("1.2.3.4") == ((false, false, false)))
    assert(graft.functions.Ipv6.parse("1::2::3") == null)
    assert(graft.functions.Ipv6.parse("12345::") == null)
  }

  test("mv functions behave like Druid MVDs") {
    val df = Seq("a,b,ab").toDF("s")
      .select(split(col("s"), ",").as("mv"))
      .select(
        DruidFunctions.mvLength(col("mv")).as("n"),
        DruidFunctions.mvContains(col("mv"), "b").as("c"),
        size(DruidFunctions.mvFilterPrefix(col("mv"), "a")).as("np"))
    val r = df.head()
    assert(r.getInt(0) == 3 && r.getBoolean(1) && r.getInt(2) == 2)
  }

  test("shingles produce k-grams") {
    val r = Seq("the quick brown fox").toDF("t")
      .select(Dedup.shingles(col("t"), 2).as("g")).head().getSeq[String](0)
    assert(r == Seq("the quick", "quick brown", "brown fox"))
  }

  test("jaccard of identical sets is 1") {
    val df = Seq(("a b c", "a b c"), ("a b", "c d")).toDF("x", "y")
      .select(Dedup.jaccard(Dedup.shingles(col("x"), 1),
        Dedup.shingles(col("y"), 1)).as("j"))
    val r = df.collect()
    assert(r(0).getDouble(0) == 1.0 && r(1).getDouble(0) == 0.0)
  }

  test("simhash identical texts collide, different texts differ") {
    val df = Seq(("hello world foo bar", "hello world foo bar", "totally different text here"))
      .toDF("a", "b", "c")
      .select(Dedup.simHash(col("a")).as("ha"), Dedup.simHash(col("b")).as("hb"),
        Dedup.simHash(col("c")).as("hc"))
    val r = df.head()
    assert(r.getLong(0) == r.getLong(1))
    assert(r.getLong(0) != r.getLong(2))
  }

  test("dot_product handles mixed float/double arrays and length mismatch") {
    import graft.functions.VectorMath.dotProduct
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(2.0, 3.0)))
      .toDF("f", "d")
      .select(dotProduct(col("f"), col("d")).as("x"),   // min length = 2
        dotProduct(col("f"), col("f")).as("y"))
    val r = df.head()
    assert(r.getDouble(0) == 1.0 * 2.0 + 2.0 * 3.0)
    assert(r.getDouble(1) == 14.0)
    // null array propagates null
    val n = Seq((Array(1.0), Option.empty[Array[Double]])).toDF("a", "b")
      .select(dotProduct(col("a"), col("b"))).head()
    assert(n.isNullAt(0))
  }

  test("positional_eq_count matches the HOF zip_with form and is codegen'd") {
    import graft.functions.VectorMath.positionalEqCount
    // every (a, b) pair of signature-shaped long arrays: the native count
    // must equal the interpreted aggregate(zip_with(...)) it replaced in
    // minHashLsh's candidate filter
    val df = Seq(
      (Array(1L, 2L, 3L, 4L), Array(1L, 9L, 3L, 8L)),
      (Array(1L, 2L), Array(1L, 2L)),
      (Array(7L), Array(8L)),
      (Array.empty[Long], Array.empty[Long]))
      .toDF("a", "b")
      .select(positionalEqCount(col("a"), col("b")).as("native"),
        aggregate(zip_with(col("a"), col("b"),
          (x, y) => when(x === y, 1).otherwise(0)), lit(0),
          (acc, v) => acc + v).as("hof"))
    assert(df.filter(col("native") =!= col("hof")).count() == 0)
    assert(df.collect().map(_.getInt(0)).toSeq == Seq(2, 2, 0, 0))
    // null array propagates null
    val n = Seq((Array(1L), Option.empty[Array[Long]])).toDF("a", "b")
      .select(positionalEqCount(col("a"), col("b"))).head()
    assert(n.isNullAt(0))
    // and it runs inside a whole-stage-codegen span (range source so the
    // projection can't constant-fold into a LocalTableScan)
    val plan = spark.range(4)
      .select(array(col("id"), col("id") + 1).as("a"),
        array(col("id"), col("id") + 2).as("b"))
      .select(positionalEqCount(col("a"), col("b")).as("c"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project") && plan.contains("positional_eq_count"))
  }

  test("cosine similarity of a vector with itself is 1") {
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f, 3.0f)))
      .toDF("a", "b")
      .select(Similarity.cosine(col("a"), col("b")).as("c"))
    assert(math.abs(df.head().getDouble(0) - 1.0) < 1e-12)
  }

  test("SQL TIME_FLOOR / TIME_SHIFT registered functions") {
    GraftSession.attach(spark)
    val r = spark.sql(
      """SELECT TIME_FLOOR(TIMESTAMP '2024-03-05 10:37:45', 'PT15M'),
                TIME_FLOOR(TIMESTAMP '2024-03-05 10:37:45', 'P1M'),
                TIME_SHIFT(TIMESTAMP '2024-03-05 10:37:45', 'PT1H', -2),
                TIME_SHIFT(TIMESTAMP '2024-03-05 10:37:45', 'P1M', 1)""").head()
    assert(r.getTimestamp(0).toString == "2024-03-05 10:30:00.0")
    assert(r.getTimestamp(1).toString == "2024-03-01 00:00:00.0")
    assert(r.getTimestamp(2).toString == "2024-03-05 08:37:45.0")
    assert(r.getTimestamp(3).toString == "2024-04-05 10:37:45.0")
  }

  test("timeExtract DOW is ISO (Monday=1..Sunday=7)") {
    // 2024-01-01 was a Monday, 2024-01-07 a Sunday
    val df = Seq("2024-01-01", "2024-01-04", "2024-01-07").toDF("s")
      .select(DruidFunctions.timeExtract(col("s").cast("timestamp"), "DOW").as("d"))
    assert(df.collect().map(_.getInt(0)).toSeq == Seq(1, 4, 7))
  }

  test("misc SQL macros: contains/parse_long/subtract_months/byte formats") {
    GraftSession.attach(spark)
    val r = spark.sql(
      """SELECT CONTAINS_STRING('Apache Spark', 'Spark'),
                ICONTAINS_STRING('Apache Spark', 'spark'),
                PARSE_LONG('42'), PARSE_LONG('xyz'),
                SUBTRACT_MONTHS(TIMESTAMP '2024-03-15 10:00:00', 2),
                SAFE_DIV(7, 2), SAFE_DIV(7, 0),
                HUMAN_READABLE_BINARY_BYTE_FORMAT(1536),
                HUMAN_READABLE_DECIMAL_BYTE_FORMAT(1500000)""").head()
    assert(r.getBoolean(0) && r.getBoolean(1))
    assert(r.getLong(2) == 42L && r.isNullAt(3))
    assert(r.getTimestamp(4).toString.startsWith("2024-01-15 10:00:00"))
    assert(r.getLong(5) == 3L && r.isNullAt(6))
    // Java long-division semantics: truncate toward zero, not floor
    val neg = spark.sql("SELECT SAFE_DIV(-7, 2)").head()
    assert(neg.getLong(0) == -3L)
    assert(r.getString(7) == "1.50 KiB")
    assert(r.getString(8) == "1.50 MB")
  }

  test("STRING_FORMAT varargs / PARSE_LONG radix / TIME_EXTRACT / decimal format") {
    GraftSession.attach(spark)
    val r = spark.sql(
      """SELECT STRING_FORMAT('%s=%d', 'k', 7),
                STRING_FORMAT('%03d-%s-%.1f', 5, 'x', 2.25),
                PARSE_LONG('ff', 16), PARSE_LONG('-42'),
                TIME_EXTRACT(TIMESTAMP '2024-01-07 10:37:45', 'DOW'),
                TIME_EXTRACT(TIMESTAMP '2024-01-07 10:37:45', 'DOY'),
                TIME_EXTRACT(TIMESTAMP '2024-01-07 10:37:45', 'HOUR'),
                TIME_EXTRACT(TIMESTAMP '2024-01-07 10:37:45', 'EPOCH'),
                HUMAN_READABLE_DECIMAL_FORMAT(999),
                HUMAN_READABLE_DECIMAL_FORMAT(1234567),
                HUMAN_READABLE_DECIMAL_FORMAT(-1234567890)""").head()
    assert(r.getString(0) == "k=7")
    // Java Formatter (same as the reference's StringUtils.format) rounds
    // %.1f HALF_UP: 2.25 → "2.3"
    assert(r.getString(1) == "005-x-2.3")
    assert(r.getLong(2) == 255L && r.getLong(3) == -42L)
    assert(r.getLong(4) == 7L, "2024-01-07 is a Sunday → ISO 7")
    assert(r.getLong(5) == 7L && r.getLong(6) == 10L)
    assert(r.getLong(7) == 1704623865L)
    assert(r.getString(8) == "999")
    assert(r.getString(9) == "1.23 M")
    assert(r.getString(10) == "-1.23 G")
  }

  test("timestamp()/subtract_months() native-expression functions match the reference") {
    GraftSession.attach(spark)
    val r = spark.sql(
      """SELECT TIMESTAMP('2024-03-07 01:02:03'),
                TIMESTAMP('07/03/2024', 'dd/MM/yyyy'),
                SUBTRACT_MONTHS(TIMESTAMP_TO_MILLIS(TIMESTAMP '2024-03-31 00:00:00'),
                                TIMESTAMP_TO_MILLIS(TIMESTAMP '2024-01-31 00:00:00'), 'UTC'),
                SUBTRACT_MONTHS(TIMESTAMP_TO_MILLIS(TIMESTAMP '2024-03-30 00:00:00'),
                                TIMESTAMP_TO_MILLIS(TIMESTAMP '2024-01-31 00:00:00'), 'UTC'),
                SUBTRACT_MONTHS(TIMESTAMP_TO_MILLIS(TIMESTAMP '2024-02-29 00:00:00'),
                                TIMESTAMP_TO_MILLIS(TIMESTAMP '2024-01-31 00:00:00'), 'UTC'),
                SUBTRACT_MONTHS(TIMESTAMP_TO_MILLIS(TIMESTAMP '2024-01-31 00:00:00'),
                                TIMESTAMP_TO_MILLIS(TIMESTAMP '2024-03-15 00:00:00'), 'UTC')""")
      .head()
    assert(r.getLong(0) == 1709773323000L)   // epoch millis, LONG like ref
    assert(r.getLong(1) == 1709769600000L)   // patterned parse
    assert(r.getLong(2) == 2L)               // Jan 31 → Mar 31 = 2 whole months
    // Jan 31 + 2 clamped months = Mar 31 > Mar 30 → truncates to 1 (Joda)
    assert(r.getLong(3) == 1L)
    // Jan 31 + 1 clamped month = Feb 29 (leap) → exactly reached → 1
    assert(r.getLong(4) == 1L)
    // negative direction truncates toward zero: Mar 15 → Jan 31 = -1
    assert(r.getLong(5) == -1L)
  }

  test("TIME_PARSE with pattern returns NULL on unparseable input (both arities agree)") {
    // reference TimestampParseExprMacro catches parse failures → NULL; the
    // patterned arity must not ANSI-error where the no-pattern arity TRYs
    GraftSession.attach(spark)
    val r = spark.sql(
      """SELECT TIME_PARSE('garbage', 'yyyy-MM-dd'),
                TIME_PARSE('garbage'),
                TIME_PARSE('2024-03-07', 'yyyy-MM-dd')""").head()
    assert(r.isNullAt(0), "patterned TIME_PARSE must NULL on garbage")
    assert(r.isNullAt(1))
    assert(r.getTimestamp(2).toString.startsWith("2024-03-07"))
  }

  test("TIME_EXTRACT reference units: MILLISECOND/ISOYEAR/DECADE/CENTURY/MILLENNIUM") {
    GraftSession.attach(spark)
    val r = spark.sql(
      """SELECT TIME_EXTRACT(TIMESTAMP '2024-01-07 10:37:45.123', 'MILLISECOND'),
                TIME_EXTRACT(TIMESTAMP '2024-01-07 10:37:45', 'ISOYEAR'),
                TIME_EXTRACT(TIMESTAMP '2024-01-07 10:37:45', 'DECADE'),
                TIME_EXTRACT(TIMESTAMP '2024-01-07 10:37:45', 'CENTURY'),
                TIME_EXTRACT(TIMESTAMP '2000-06-15 00:00:00', 'MILLENNIUM'),
                TIME_EXTRACT(TIMESTAMP '2001-06-15 00:00:00', 'MILLENNIUM')""").head()
    assert(r.getLong(0) == 123L)
    assert(r.getLong(1) == 2024L)
    assert(r.getLong(2) == 202L)          // postgres: year/10 truncating
    assert(r.getDouble(3) == 21.0)        // ceil(2024/100) — DOUBLE like ref
    assert(r.getDouble(4) == 2.0)         // 2000 is 2nd millennium
    assert(r.getDouble(5) == 3.0)         // 3rd started 2001-01-01
  }

  test("JSON SQL surface: JSON_OBJECT / JSON_QUERY_ARRAY / TO_JSON_STRING / MV_TO_ARRAY") {
    GraftSession.attach(spark)
    val r = spark.sql(
      """SELECT JSON_OBJECT('a', 'b'),
                JSON_QUERY_ARRAY('{"xs": ["p", "q"]}', '$.xs'),
                TO_JSON_STRING(c),
                to_json(TRY_PARSE_JSON('not json')),
                MV_TO_ARRAY(array('x', 'y')), ARRAY_TO_MV(array('x')),
                TO_JSON_STRING('{"a":  1}')
         FROM VALUES ('{"a":  1}') t(c)""").head()
    assert(r.getString(0) == """{"a":"b"}""")
    assert(r.getSeq[String](1) == Seq("p", "q"))
    assert(r.getString(2) == """{"a":1}""",
      "canonical re-serialization of a (non-literal) JSON column value")
    assert(r.isNullAt(3), "TRY_PARSE_JSON (Spark built-in) → null on garbage")
    assert(r.getSeq[String](4) == Seq("x", "y"))
    // a VARCHAR LITERAL always serializes as a JSON string in the reference
    // (funcs_and_sql_func_to_json_string: '1234' → "1234"), even when it
    // spells valid JSON
    assert(r.getString(6) == "\"{\\\"a\\\":  1}\"",
      "string literal is JSON-string-quoted, not re-parsed")
  }

  test("JSON fns over datetime inputs see epoch millis, not internals") {
    GraftSession.attach(spark)
    // the reference's expr layer carries datetimes as LONG millis —
    // json_value(__time, '$') = '1640995200000' (qaJsonCols
    // funcs_and_sql_func_json_value A001), never the internal micros /
    // epoch-day representation and never formatted text
    val r = spark.sql(
      """SELECT TO_JSON_STRING(TIMESTAMP '2001-01-01 00:00:00'),
                JSON_VALUE(TIMESTAMP '2022-01-01 00:00:00', '$'),
                TO_JSON_STRING(array(DATE '2001-01-01'))""").head()
    assert(r.getString(0) == "978307200000")
    assert(r.getString(1) == "1640995200000")
    assert(r.getString(2) == "[978307200000]")
  }

  test("SQL TIME_FLOOR / TIME_SHIFT raise on unsupported periods") {
    GraftSession.attach(spark)
    // the Catalyst-builder TIME_FLOOR handles ANY fixed ISO period (the old
    // SQL macro's enumerated list is gone) — PT10M is now a valid floor…
    val ok = spark.sql(
      "SELECT TIME_FLOOR(TIMESTAMP '2024-03-05 10:37:45', 'PT10M')").head()
    assert(ok.getTimestamp(0).toString == "2024-03-05 10:30:00.0")
    val shifted = spark.sql(
      "SELECT TIME_SHIFT(TIMESTAMP '2024-03-05 10:37:45', 'PT10M', 3)").head()
    assert(shifted.getTimestamp(0).toString == "2024-03-05 11:07:45.0")
    // calendar multiples bucket months-since-epoch aligned on 1970-01
    // (PeriodGranularity.java:436): March 2024 is month 650 since epoch,
    // even, so the P2M bucket starts at 2024-03-01
    val m2 = spark.sql(
      "SELECT TIME_FLOOR(TIMESTAMP '2024-03-05 10:37:45', 'P2M')").head()
    assert(m2.getTimestamp(0).toString == "2024-03-01 00:00:00.0")
    val m2b = spark.sql(
      "SELECT TIME_FLOOR(TIMESTAMP '2024-04-05 10:37:45', 'P2M')").head()
    assert(m2b.getTimestamp(0).toString == "2024-03-01 00:00:00.0")
    val s2 = spark.sql(
      "SELECT TIME_SHIFT(TIMESTAMP '2024-03-05 10:37:45', 'P2M', 1)").head()
    assert(s2.getTimestamp(0).toString == "2024-05-05 10:37:45.0")
    // …while malformed / compound periods still reject, at analysis time
    val e1 = intercept[Exception] {
      spark.sql("SELECT TIME_FLOOR(TIMESTAMP '2024-03-05 10:37:45', 'P1Y2M')").head()
    }
    assert(e1.getMessage.contains("unsupported period"))
  }

  test("TIME_CEIL / TIME_SHIFT full arity: timezone frames track DST") {
    GraftSession.attach(spark)
    val r = spark.sql("""
      SELECT TIME_CEIL(TIMESTAMP '2024-03-15 13:45:00', 'PT15M') AS aligned,
             TIME_CEIL(TIMESTAMP '2024-03-15 13:47:21', 'P1D', NULL,
               'America/Los_Angeles') AS la,
             TIME_SHIFT(TIMESTAMP '2024-03-09 13:47:21', 'P1D', 2,
               'America/Los_Angeles') AS dst,
             TIMESTAMP_CEIL(TIMESTAMP '2024-03-15 13:47:21', 'P1Y') AS tc,
             TIMESTAMP_SHIFT(TIMESTAMP '2024-03-15 13:47:21', 'P1M', -2) AS tsh
      """).head()
    assert(r.getTimestamp(0).toString == "2024-03-15 13:45:00.0",
      "aligned input stays put")
    // ceil day in LA: Mar 16 00:00 PDT = 07:00 UTC
    assert(r.getTimestamp(1).toString == "2024-03-16 07:00:00.0")
    // +2 LA calendar days over the spring-forward line: wall clock
    // preserved, so the UTC offset changes -8 -> -7 (a 23-hour day)
    assert(r.getTimestamp(2).toString == "2024-03-11 12:47:21.0")
    assert(r.getTimestamp(3).toString == "2025-01-01 00:00:00.0")
    assert(r.getTimestamp(4).toString == "2024-01-15 13:47:21.0")
  }

  test("TIME_FLOOR full arity: origin-anchored and timezone wall-clock floors") {
    GraftSession.attach(spark)
    val r = spark.sql("""
      SELECT TIME_FLOOR(TIMESTAMP '2024-03-15 13:47:21', 'PT15M',
               '1970-01-01T00:07:00') AS a,
             TIME_FLOOR(TIMESTAMP '2024-03-15 13:47:21', 'P1D', NULL,
               'America/Los_Angeles') AS b,
             TIME_FLOOR(TIMESTAMP '2024-12-15 13:47:21', 'P1D', NULL,
               'America/Los_Angeles') AS c,
             TIME_FLOOR(TIMESTAMP '2024-03-15 13:47:21', 'PT6H',
               TIMESTAMP '1970-01-01 01:00:00') AS d,
             TIMESTAMP_FLOOR(TIMESTAMP '2024-03-15 13:47:21', 'P1M') AS e
      """).head()
    assert(r.getTimestamp(0).toString == "2024-03-15 13:37:00.0")
    // PDT (−7): LA midnight = 07:00 UTC
    assert(r.getTimestamp(1).toString == "2024-03-15 07:00:00.0")
    // PST (−8): LA midnight = 08:00 UTC — tz floor follows the DST line
    assert(r.getTimestamp(2).toString == "2024-12-15 08:00:00.0")
    assert(r.getTimestamp(3).toString == "2024-03-15 13:00:00.0")
    assert(r.getTimestamp(4).toString == "2024-03-01 00:00:00.0")
  }

  test("IVF ANN returns k valid neighbors with useful recall") {
    val dir = "/root/testdata/sf0.001"
    val emb = graft.Tables.load(spark, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceKnn(queries, emb, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.annIvf(queries, emb, "vec_id", "embedding", 5,
      nlist = 8, nprobe = 4).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 5 per query; sims are real cosines so any hit is a true neighbor of
    // its candidate set
    assert(approx.size == 50)
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.3, s"recall $recall")
  }

  test("PQ encodes m codes per vector in codebook range; ADC search finds true neighbors") {
    val dir = "/root/testdata/sf0.001"
    val emb = graft.Tables.load(spark, dir, "embeddings")
    val m = 8; val k = 16
    val books = Similarity.pqTrain(emb, "vec_id", "embedding", m, k)
    assert(books.count() == m.toLong * k)
    val codes = Similarity.pqEncode(emb, "vec_id", "embedding", books, m)
    val n = emb.count()
    assert(codes.count() == n * m, "exactly m codes per vector")
    assert(codes.filter(col("code") < 1 || col("code") > k).isEmpty)
    val qs = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceKnn(qs, emb, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.pqSearch(qs, codes, books, "vec_id", "embedding",
        m, 5).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(approx.size == 50, "k=5 results for each of the 10 queries")
    val recall = (exact intersect approx).size.toDouble / exact.size
    // unclustered synthetic corpus — PQ's hardest case; the gate floor is
    // 0.15, require headroom here
    assert(recall >= 0.15, s"recall $recall")
  }

  test("building the PQ encode and search DataFrames runs no job") {
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val emb = graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val books = Similarity.pqTrain(emb, "vec_id", "embedding", 8, 16)
    val group = "pq-build"
    val marker = "pq-build-marker"
    val built = new AtomicInteger
    @volatile var markerDone = false
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null) {
          if (j.properties.getProperty("spark.jobGroup.id") == group)
            built.incrementAndGet()
          if (j.properties.getProperty("spark.job.description") == marker)
            markerDone = true
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, group)
      try {
        val codes = Similarity.pqEncode(emb, "vec_id", "embedding", books, 8)
        Similarity.pqSearch(emb.filter(col("vec_id") < 10), codes, books,
          "vec_id", "embedding", 8, 5)
      } finally spark.sparkContext.clearJobGroup()
      // events reach a listener in the order they were posted: once the
      // marker job is seen, every job the build ran has been counted
      spark.sparkContext.setJobDescription(marker)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!markerDone && System.nanoTime() < deadline) Thread.sleep(10)
      assert(markerDone)
      assert(built.get == 0)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("nearest_centroids: codegen and eval agree, ties go to the lowest id") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}
    import graft.functions.{CentroidMatrix, NearestCentroids}
    // rows 1 and 3 are equal, so every vector ties them
    val cm = CentroidMatrix(Seq(Array(1.0, 0.0), Array(0.0, 1.0),
      Array(1.0, 0.0), Array(-1.0, 0.0)))
    val expected = Map(
      Seq(1.0, 0.0) -> Seq(1, 3, 2, 4),
      Seq(0.5, 0.5) -> Seq(1, 2, 3, 4),
      Seq(0.0, 0.0) -> Seq(1, 2, 3, 4),
      Seq(-2.0, 1.0) -> Seq(4, 2, 1, 3))
    val encodings: Seq[(DataType, Seq[Double] => ArrayData)] = Seq(
      FloatType -> (v => ArrayData.toArrayData(v.map(_.toFloat).toArray)),
      DoubleType -> (v => ArrayData.toArrayData(v.toArray)))
    for ((t, encode) <- encodings; n <- Seq(1, 2, 4, 9)) {
      val e = NearestCentroids(
        BoundReference(0, ArrayType(t, containsNull = false), nullable = true), cm, n)
      val generated = GenerateUnsafeProjection.generate(Seq(e))
      for ((v, ids) <- expected) {
        val row = InternalRow(encode(v))
        val interpreted = e.eval(row).asInstanceOf[ArrayData].toIntArray().toSeq
        assert(interpreted == ids.take(n), s"$t $v n=$n")
        assert(generated(row).getArray(0).toIntArray().toSeq == interpreted,
          s"$t $v n=$n")
      }
      assert(e.eval(InternalRow(null)) == null)
      assert(generated(InternalRow(null)).isNullAt(0))
    }
    // value equality and a short, stable print: shape and digest
    val same = CentroidMatrix(Seq(Array(1.0, 0.0), Array(0.0, 1.0),
      Array(1.0, 0.0), Array(-1.0, 0.0)))
    assert(same == cm && same.hashCode == cm.hashCode)
    assert(same.toString == cm.toString)
    assert(cm.toString.matches("4×2#[0-9a-f]{16}"), cm.toString)
    assert(CentroidMatrix(Seq(Array(1.0, 0.0))) != CentroidMatrix(Seq(Array(0.0, 1.0))))
    // inside a whole-stage-codegen span (range source so the projection
    // can't constant-fold into a LocalTableScan), printed by its digest
    val df = spark.range(2)
      .select(array(col("id").cast("float"), lit(0.5f)).as("v"))
      .select(graft.functions.VectorMath.nearestCentroids(col("v"), cm, 2).as("ids"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project") && plan.contains(s"nearest_centroids(") &&
      plan.contains(cm.toString), plan)
    assert(df.collect().map(_.getSeq[Int](0)).toSeq == Seq(Seq(2, 1), Seq(1, 3)))
  }

  test("trainIvf: repeatable, hand-checked centroids, an empty list keeps its seed") {
    val emb = graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val a = Similarity.trainIvf(emb, "vec_id", "embedding", nlist = 8)
    val b = Similarity.trainIvf(emb, "vec_id", "embedding", nlist = 8)
    assert(a.k == 8 && a.dim == 64)
    assert(a.data.sameElements(b.data))
    // seeds are ids 1 and 2; both clusters hold one axis vector and one
    // 3-4-5 vector, so each unit mean is (3, 1)/√10 or (1, 3)/√10
    val two = Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)), (3L, Seq(4f, 3f)),
      (4L, Seq(3f, 4f))).toDF("id", "v")
    val c = Similarity.trainIvf(two, "id", "v", nlist = 2)
    val r10 = math.sqrt(10)
    def close(x: Array[Double], y: Seq[Double]) =
      x.length == y.length && x.zip(y).forall { case (p, q) => math.abs(p - q) < 1e-12 }
    assert(close(c.row(0), Seq(3 / r10, 1 / r10)), c.row(0).toSeq)
    assert(close(c.row(1), Seq(1 / r10, 3 / r10)), c.row(1).toSeq)
    // seed 3 points where seed 1 does: in the first iteration its vector
    // ties and goes to list 1, so list 3 is empty and keeps its seed while
    // list 1 moves to the mean of (1, 0), (2, 0) and (3, 1)
    val drained = Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)), (3L, Seq(2f, 0f)),
      (4L, Seq(0f, 5f)), (5L, Seq(3f, 1f))).toDF("id", "v")
    val d = Similarity.trainIvf(drained, "id", "v", nlist = 3, iters = 1)
    assert(close(d.row(2), Seq(1.0, 0.0)), d.row(2).toSeq)
    assert(d.row(0)(1) > 0, d.row(0).toSeq)
  }

  test("IVF over a corpus larger than its training sample keeps recall@10 >= 0.8") {
    // 6 well-separated clusters of 250 vectors each: 1,500 rows, beyond
    // the 256 × nlist = 1,024 rows the quantizer trains on
    val rnd = new scala.util.Random(11)
    val dim = 16
    val centres = Array.fill(6)(Array.fill(dim)(rnd.nextGaussian() * 4))
    val corpus = (0 until 1500).map { i =>
      val c = centres(i % 6)
      (i.toLong, c.map(x => (x + rnd.nextGaussian()).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val nlist = 4
    assert(corpus.count() > Similarity.TrainPointsPerList * nlist)
    val queries = corpus.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceKnn(queries, corpus, "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.annIvf(queries, corpus, "vec_id", "embedding", 10,
      nlist = nlist, nprobe = 2).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(approx.size == 200)
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall $recall")
  }

  test("connected components cluster transitive dup chains") {
    // chain 1-2, 2-3 plus island 7-8: components {1,2,3} and {7,8}
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("id_a", "id_b")
    val comps = Dedup.components(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L))
    val df = Seq(1L, 2L, 3L, 5L, 7L, 8L).toDF("id")
    val kept = Dedup.dropDuplicateFamilies(df, pairs, "id")
      .collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(1L, 5L, 7L)) // reps 1 and 7, unpaired 5
  }

  test("cosine near-dup pairs are symmetric-deduped") {
    val df = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.01f)), (3L, Array(0.0f, 1.0f)))
      .toDF("id", "v")
    val pairs = graft.pipeline.Similarity
      .cosineNearDupPairs(df, "id", "v", 0.99).collect()
    assert(pairs.length == 1)
    assert(pairs.head.getLong(0) == 1L && pairs.head.getLong(1) == 2L)
  }

  test("spatial filters: rect, radius, polygon membership") {
    import graft.functions.SpatialFilters._
    val pts = Seq((0.0, 0.0), (80.0, 0.0), (0.0, 55.0), (-200.0, 0.0))
      .toDF("x", "y")
    val r = pts.select(
      rectangular(col("x"), col("y"), -90, -45, 90, 45).as("rect"),
      radius(col("x"), col("y"), 0, 0, 60).as("rad"),
      polygon(col("x"), col("y"),
        Seq((-50.0, -50.0), (50.0, -50.0), (0.0, 60.0))).as("poly"))
      .collect()
    assert(r(0).getBoolean(0) && r(0).getBoolean(1) && r(0).getBoolean(2)) // origin
    assert(r(1).getBoolean(0) && !r(1).getBoolean(1) && !r(1).getBoolean(2)) // far east
    assert(!r(2).getBoolean(0) && r(2).getBoolean(1) && r(2).getBoolean(2)) // high y in triangle
    assert(!r(3).getBoolean(0) && !r(3).getBoolean(1) && !r(3).getBoolean(2)) // outside all
  }

  test("jaro-winkler matches known values and runs through codegen") {
    import graft.functions.JaroWinklerImpl
    assert(math.abs(JaroWinklerImpl.similarity("martha", "marhta") - 0.9611111111111111) < 1e-12)
    assert(math.abs(JaroWinklerImpl.similarity("dixon", "dicksonx") - 0.8133333333333332) < 1e-12)
    assert(JaroWinklerImpl.similarity("", "") == 0.0)
    assert(JaroWinklerImpl.similarity("same", "same") == 1.0)
    // through the expression (codegen path)
    val r = Seq(("martha", "marhta")).toDF("a", "b")
      .select(JaroWinklerImpl.jaroWinkler(col("a"), col("b")).as("jw")).head()
    assert(math.abs(r.getDouble(0) - 0.9611111111111111) < 1e-12)
  }

  test("saltedJoin equals the plain join (skew spreading changes nothing)") {
    import graft.operators.Joins
    // skewed left: 90% of rows share key 7
    val left = spark.range(1000)
      .select((when(col("id") % 10 === 0, col("id") % 5).otherwise(7L)).as("k"),
        col("id").as("rowid"))
    val right = spark.range(10).select(col("id").as("k"),
      (col("id") * 100).as("v"))
    val salted = Joins.saltedJoin(left, right, "k", col("rowid"), salts = 8)
      .orderBy(col("rowid"))
    val plain = left.join(right, Seq("k")).orderBy(col("rowid"))
    assert(salted.collect().map(_.toSeq).sameElements(
      plain.collect().map(_.toSeq)))
    val leftOuter = Joins.saltedJoin(left, right.filter(col("k") < 3), "k",
      col("rowid"), salts = 4, joinType = "left")
    assert(leftOuter.count() == 1000) // left rows all survive
  }

  test("asOfJoin picks latest prior-or-equal right row per key") {
    import graft.operators.Joins
    val l = Seq((1L, 10L, "l1"), (1L, 20L, "l2"), (2L, 5L, "l3"))
      .toDF("k", "t", "name")
    val r = Seq((1L, 10L, 100.0), (1L, 15L, 150.0), (1L, 30L, 300.0),
      (3L, 1L, 999.0)).toDF("k", "t", "v")
    val byName = Joins.asOfJoin(l, r, "k", "t", "t", Seq("v"))
      .select(col("name"), col("asof_v")).collect()
      .map(x => x.getString(0) -> Option(x.get(1))).toMap
    assert(byName("l1").contains(100.0)) // equal timestamp included
    assert(byName("l2").contains(150.0)) // latest prior, not the future 300
    assert(byName("l3").isEmpty)         // no right rows for key 2
  }

  test("token count and quality") {
    val df = Seq("the quick brown fox jumps").toDF("t")
      .select(TextAnalysis.tokenCount(col("t")).as("n"),
        TextAnalysis.qualityScore(col("t")).as("q"))
    val r = df.head()
    assert(r.getInt(0) == 5)
    assert(r.getDouble(1) > 0 && r.getDouble(1) <= 1.0)
  }

  test("repetition signals: duplicated n-grams and top-gram coverage") {
    val df = Seq(
      (1L, "a b a b a b"),  // bigrams: ab, ba, ab, ba, ab → 5 total, 2 distinct
      (2L, "x y z"),        // bigrams: xy, yz → all unique
      (3L, "w")             // shorter than n → no grams, row drops out
    ).toDF("doc_id", "text")
    val r = TextAnalysis.repetitionSignals(df, "doc_id", "text", n = 2)
      .orderBy("doc_id").collect()
    assert(r.length == 2)
    val d1 = r(0)
    assert(d1.getLong(1) == 5 && d1.getLong(2) == 2 && d1.getLong(3) == 3)
    assert(d1.getDouble(4) == 0.6 && d1.getDouble(5) == 0.6)
    val d2 = r(1)
    assert(d2.getLong(1) == 2 && d2.getLong(2) == 2 && d2.getLong(3) == 1)
    assert(d2.getDouble(4) == 0.0 && d2.getDouble(5) == 0.5)
  }

  test("boilerplate grams: spans shared across documents, singletons dropped") {
    val df = Seq(
      (1L, "copyright acme corp all rights reserved unique one"),
      (2L, "copyright acme corp all rights reserved unique two"),
      (3L, "copyright acme corp all rights reserved other text"),
      (4L, "totally different content with no shared spans here")
    ).toDF("doc_id", "text")
    val r = TextAnalysis.boilerplateGrams(df, "doc_id", "text",
      n = 5, minDocs = 3).orderBy("gram").collect()
    // the shared 6-word prefix yields exactly two 5-grams present in all
    // three docs; the grams touching the 7th word only reach 2 docs
    assert(r.map(_.getString(0)).toSeq == Seq(
      "acme corp all rights reserved",
      "copyright acme corp all rights"))
    assert(r.forall(row => row.getLong(1) == 3L && row.getLong(2) == 3L))
  }

  test("protobuf wire format matches the spec's known vectors") {
    import graft.functions.ProtobufWire
    // protobuf encoding guide examples: field 1 varint 150 = 08 96 01;
    // field 2 string "testing" = 12 07 74 65 73 74 69 6e 67
    assert(ProtobufWire.encode(Seq(1 -> 150L)).toSeq ==
      Seq(0x08, 0x96.toByte, 0x01).map(_.toByte))
    assert(ProtobufWire.encode(Seq(2 -> "testing")).toSeq ==
      (Seq(0x12, 0x07).map(_.toByte) ++ "testing".getBytes("UTF-8").toSeq))
    // decode the spec bytes back
    val msg = Array[Byte](0x08, 0x96.toByte, 0x01)
    assert(ProtobufWire.findField(msg, 1).contains((0, 150L)))
  }

  test("protobuf field expressions decode an encoded message column") {
    import graft.functions.ProtobufWire._
    val enc = udf((k: Long, name: String, d: Double) =>
      graft.functions.ProtobufWire.encode(Seq(1 -> k, 2 -> name, 3 -> d)))
    val df = Seq((1L, "alpha", 1.5), (2L, "beta", -2.25), (7L, "", 0.0))
      .toDF("k", "name", "d")
      .select(col("k"), col("name"), col("d"),
        enc(col("k"), col("name"), col("d")).as("msg"))
    val back = df.select(
      protoVarint(col("msg"), 1).as("k2"),
      protoString(col("msg"), 2).as("name2"),
      protoDouble(col("msg"), 3).as("d2"),
      protoVarint(col("msg"), 9).as("absent"))
    val rows = back.collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq ==
      Seq((1L, "alpha", 1.5), (2L, "beta", -2.25), (7L, "", 0.0)))
    assert(rows.forall(_.isNullAt(3)))
  }

  test("protobuf descriptor set parses and drives a typed flatten") {
    import graft.sources.ProtoDescriptor
    // a FileDescriptorSet is itself wire format: round-trip build → parse
    val desc = ProtoDescriptor.buildDescriptorSet("graft", "Customer", Seq(
      ("c_custkey", 1, 3L),     // TYPE_INT64
      ("c_mktsegment", 2, 9L),  // TYPE_STRING
      ("c_acctbal", 3, 1L),     // TYPE_DOUBLE
      ("c_flag", 4, 8L),        // TYPE_BOOL
      ("c_delta", 5, 18L)))     // TYPE_SINT64 (zigzag)
    val schema = ProtoDescriptor.schemaFor(desc, "graft.Customer")
    assert(schema == Seq(
      ProtoDescriptor.FieldSpec("c_custkey", 1, "varint"),
      ProtoDescriptor.FieldSpec("c_mktsegment", 2, "string"),
      ProtoDescriptor.FieldSpec("c_acctbal", 3, "double"),
      ProtoDescriptor.FieldSpec("c_flag", 4, "bool"),
      ProtoDescriptor.FieldSpec("c_delta", 5, "zigzag")))
    // simple-name lookup resolves; unknown name throws with the inventory
    assert(ProtoDescriptor.schemaFor(desc, "Customer") == schema)
    assertThrows[IllegalArgumentException](
      ProtoDescriptor.schemaFor(desc, "Nope"))
    // flatten an encoded message column through the parsed schema
    // (fixture zigzag-encodes field 5: -3 → varint 5)
    val encZ = udf((k: Long, seg: String, bal: Double, z: Long) =>
      graft.functions.ProtobufWire.encode(Seq(
        1 -> k, 2 -> seg, 3 -> bal, 4 -> true,
        5 -> ((z << 1) ^ (z >> 63)))))
    val df = Seq((10L, "AUTO", 12.5, -3L)).toDF("k", "seg", "bal", "z")
      .select(encZ(col("k"), col("seg"), col("bal"), col("z")).as("msg"))
    val flat = ProtoDescriptor.flatten(df, "msg", desc, "Customer")
    assert(flat.columns.toSeq ==
      Seq("c_custkey", "c_mktsegment", "c_acctbal", "c_flag", "c_delta"))
    val r = flat.head()
    assert(r.getLong(0) == 10L && r.getString(1) == "AUTO" &&
      r.getDouble(2) == 12.5 && r.getBoolean(3) && r.getLong(4) == -3L)
  }

  test("SQL TIME_CEIL: aligned stays, unaligned rounds up, calendar periods") {
    GraftSession.attach(spark)
    val r = spark.sql(
      """SELECT TIME_CEIL(TIMESTAMP '2024-03-05 10:37:45', 'PT15M') AS a,
                TIME_CEIL(TIMESTAMP '2024-03-05 10:45:00', 'PT15M') AS b,
                TIME_CEIL(TIMESTAMP '2024-03-05 10:37:45', 'P1M') AS c,
                TIME_CEIL(TIMESTAMP '2024-03-01 00:00:00', 'P1M') AS d""").head()
    assert(r.getTimestamp(0).toString == "2024-03-05 10:45:00.0")
    assert(r.getTimestamp(1).toString == "2024-03-05 10:45:00.0") // aligned
    assert(r.getTimestamp(2).toString == "2024-04-01 00:00:00.0")
    assert(r.getTimestamp(3).toString == "2024-03-01 00:00:00.0") // aligned
  }

  test("SQL MV offset/ordinal are 0/1-based and null out of bounds") {
    GraftSession.attach(spark)
    val r = spark.sql(
      """SELECT MV_OFFSET(array('a','b','c'), 1) AS off1,
                MV_ORDINAL(array('a','b','c'), 1) AS ord1,
                MV_OFFSET(array('a','b','c'), 9) AS oob,
                MV_OFFSET_OF(array('a','b','c'), 'c') AS offof,
                MV_ORDINAL_OF(array('a','b','c'), 'c') AS ordof,
                MV_OFFSET_OF(array('a','b','c'), 'z') AS missing""").head()
    assert(r.getString(0) == "b" && r.getString(1) == "a")
    assert(r.isNullAt(2))
    assert(r.getInt(3) == 2 && r.getInt(4) == 3)
    assert(r.isNullAt(5))
  }

  test("SQL ARRAY_QUANTILE interpolates like the reference") {
    GraftSession.attach(spark)
    val r = spark.sql(
      """SELECT ARRAY_QUANTILE(array(1D, 3D, 2D, 4D), 0.5) AS med,
                ARRAY_QUANTILE(array(1D, 3D, 2D, 4D), 0.25) AS q1,
                ARRAY_QUANTILE(array(1D, 2D, 3D), 0.5) AS exact,
                ARRAY_QUANTILE(array(CAST(NULL AS DOUBLE)), 0.5) AS allnull""").head()
    assert(r.getDouble(0) == 2.5 && r.getDouble(1) == 1.75 && r.getDouble(2) == 2.0)
    assert(r.isNullAt(3))
  }

  test("SQL TIME_IN_INTERVAL is [start, end)") {
    GraftSession.attach(spark)
    val r = spark.sql(
      """SELECT TIME_IN_INTERVAL(TIMESTAMP '1995-06-01', '1995-01-01/1996-01-01') AS yes,
                TIME_IN_INTERVAL(TIMESTAMP '1996-01-01', '1995-01-01/1996-01-01') AS excl""").head()
    assert(r.getBoolean(0) && !r.getBoolean(1))
  }

  test("SQL bitwise, TRUNCATE, TEXTCAT, STRPOS, base64, IPV4 round-trip") {
    GraftSession.attach(spark)
    val r = spark.sql(
      """SELECT BITWISE_AND(12, 10) AS band, BITWISE_XOR(5, 3) AS bxor,
                BITWISE_COMPLEMENT(5) AS bnot, BITWISE_SHIFT_LEFT(3, 2) AS shl,
                TRUNCATE(3.14159, 2) AS t2, TRUNCATE(-3.14159, 2) AS tneg,
                TEXTCAT('a', 'b') AS cat, STRPOS('2-HIGH', '-') AS pos,
                DECODE_BASE64_UTF8(base64(CAST('hi' AS BINARY))) AS b64,
                IPV4_STRINGIFY(IPV4_PARSE('192.168.1.200')) AS ip""").head()
    assert(r.getLong(0) == 8L && r.getLong(1) == 6L && r.getLong(2) == -6L)
    assert(r.getLong(3) == 12L)
    assert(r.getDouble(4) == 3.14 && r.getDouble(5) == -3.14)
    assert(r.getString(6) == "ab" && r.getInt(7) == 2)
    assert(r.getString(8) == "hi")
    assert(r.getString(9) == "192.168.1.200")
  }

  test("Sampling.split: deterministic, exhaustive, weight-proportional") {
    import graft.pipeline.Sampling
    val df = spark.range(10000).toDF("id")
    val s1 = Sampling.split(df, "id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val counts = s1.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == 10000)
    assert(counts("train") > 7500 && counts("train") < 8500)
    assert(counts("val") > 600 && counts("test") > 600)
    // stable: same assignment on re-run
    val s2 = Sampling.split(df, "id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    assert(s1.exceptAll(s2).isEmpty)
    // a row's split never changes when more rows arrive
    val bigger = Sampling.split(spark.range(20000).toDF("id"), "id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .filter(col("id") < 10000)
    assert(s1.exceptAll(bigger).isEmpty)
  }

  test("canonicalizeUrl normalizes case/ports/slashes/tracking-params/fragments") {
    import graft.pipeline.TextAnalysis
    import spark.implicits._
    val in = Seq(
      "HTTP://Example.COM:80/a/?b=2&utm_source=x&a=1#frag",
      "http://example.com/a?a=1&b=2",
      "HTTPS://Host.Org:443/",
      "https://host.org",
      "https://host.org:8443/x",          // non-default port kept
      "http://h.io/p?gclid=abc&fbclid=1&z=2",
      "http://h.io/p?z=2").toDF("url")
    val out = in.select(TextAnalysis.canonicalizeUrl(col("url")).as("c"))
      .collect().map(_.getString(0)).toSeq
    assert(out(0) == "http://example.com/a?a=1&b=2")
    assert(out(0) == out(1), "messy and clean forms must collapse")
    assert(out(2) == "https://host.org/")
    assert(out(2) == out(3), "default port + root slash collapse")
    assert(out(4) == "https://host.org:8443/x")
    assert(out(5) == "http://h.io/p?z=2")
    assert(out(5) == out(6), "tracking params drop")
  }

  test("capPerKey keeps at most N per key, deterministically by order") {
    import graft.pipeline.Sampling
    val df = (0 until 100).map(i => (s"dom${i % 3}", i.toLong)).toDF("dom", "id")
    val capped = Sampling.capPerKey(df, "dom", 7, Seq("id"))
    val byDom = capped.groupBy("dom").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byDom.values.forall(_ == 7), byDom.toString)
    // deterministic: the kept rows are the LOWEST ids per key
    val kept = capped.filter(col("dom") === "dom0")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(0L, 3L, 6L, 9L, 12L, 15L, 18L))
    // a key under the cap keeps everything
    val small = (0 until 3).map(i => ("only", i.toLong)).toDF("dom", "id")
    assert(Sampling.capPerKey(small, "dom", 7, Seq("id")).count() == 3)
    // helper column does not leak
    assert(capped.columns.toSeq == Seq("dom", "id"))
  }

  test("Sampling dispatches string keys through xxhash64 (no silent empty sample)") {
    import graft.pipeline.Sampling
    val df = (0 until 2000).map(i => (s"doc-$i", if (i % 2 == 0) "en" else "de"))
      .toDF("key", "lang")
    // pre-fix, cast('long') on the string key nulled (or ANSI-errored) the
    // hash and hashSample silently returned ZERO rows — a data-loss bug
    val n1 = Sampling.hashSample(df, "key", 0.5).count()
    assert(n1 > 700 && n1 < 1300, s"string-key sample was $n1 of 2000")
    // deterministic: identical rows on re-run
    assert(Sampling.hashSample(df, "key", 0.5)
      .exceptAll(Sampling.hashSample(df, "key", 0.5)).isEmpty)
    val strat = Sampling.stratified(df, "key", "lang",
      Map("en" -> 0.5, "de" -> 0.1))
    val byLang = strat.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLang.getOrElse("en", 0L) > 300 && byLang.getOrElse("de", 0L) > 20)
    val splits = Sampling.split(df, "key", Seq("train" -> 0.9, "test" -> 0.1))
    assert(splits.count() == 2000)
    assert(splits.filter(col("split") === "test").count() > 50)
    // numeric keys still take the multiplicative path (cross-engine arith):
    // same rows as the hand-inlined q_sample_hash gate arithmetic
    val ids = spark.range(1000).toDF("id")
    val lib = Sampling.hashSample(ids, "id", 0.1)
    val inlined = ids.filter(
      pmod(col("id") * lit(2654435761L), lit(4294967296L))
        < lit(4294967296L * 0.1))
    assert(lib.exceptAll(inlined).isEmpty && inlined.exceptAll(lib).isEmpty)
  }

  test("simHashPairs two-stage: hamming prefilter + exact-Jaccard verify") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank", "a"),
      (2L, "the quick brown fox jumps over the lazy dog near the river shore", "a"),
      (3L, "completely different text about cooking pasta with tomato sauce today", "a"),
      (4L, "another unrelated document discussing quarterly financial results report", "a"))
      .toDF("doc_id", "text", "src")
    val pairs = Dedup.simHashPairs(docs, "doc_id", "text",
      blockKey = col("src"), maxHamming = 12, minJaccard = 0.3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    // the near-identical pair survives both stages
    assert(pairs.contains((1L, 2L)), s"near-dup pair missing from $pairs")
    assert(pairs((1L, 2L)) > 0.5)
    // the verify stage structurally removes below-threshold pairs: nothing
    // under jaccard 0.3 can appear no matter how loose the hamming radius
    val loose = Dedup.simHashPairs(docs, "doc_id", "text",
      blockKey = col("src"), maxHamming = 64, minJaccard = 0.3)
    assert(loose.filter(col("jaccard") < 0.3).isEmpty)
    // unrelated docs are not paired even at maximal hamming radius
    assert(!loose.collect().map(r => (r.getLong(0), r.getLong(1)))
      .contains((3L, 4L)))
  }

  test("simHashPairs pigeonhole banding is loss-free vs the all-pairs join") {
    // radius <= 7 routes through band-join candidates; pigeonhole
    // guarantees the same pair set as the quadratic block join filtered to
    // the same radius. Use a word-shuffled corpus so several pairs land at
    // assorted hamming distances around the cut.
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val words = base.split(" ")
    val docs = (0 until 30).map { i =>
      val mutated = words.zipWithIndex.map { case (w, j) =>
        if ((i + j) % 7 == 0) w + i.toString else w }
      (i.toLong, mutated.mkString(" "), "blk")
    }.toDF("doc_id", "text", "src")
    def pairSet(h: Int) = Dedup.simHashPairs(docs, "doc_id", "text",
      blockKey = col("src"), maxHamming = h, minJaccard = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val banded = pairSet(6)                       // banding path
    val viaBlock = pairSet(64).filter(_._3 <= 6)  // all-pairs path, refiltered
    assert(banded == viaBlock,
      s"banding lost/invented pairs: ${banded.diff(viaBlock)} / ${viaBlock.diff(banded)}")
    assert(viaBlock.nonEmpty, "test corpus produced no pairs at radius 6")
  }

  test("temperatureSample: alpha=1 is uniform, alpha<1 upsamples tail strata") {
    import graft.pipeline.Sampling
    // head stratum 8x the tail stratum
    val df = (0 until 9000).map(i =>
      (i.toLong, if (i < 8000) "head" else "tail")).toDF("id", "lang")
    def kept(alpha: Double): Map[String, Long] =
      Sampling.temperatureSample(df, "id", "lang", alpha, rate = 0.2)
        .groupBy("lang").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    val uniform = kept(1.0)
    // alpha = 1: every stratum keeps ~rate of itself
    assert(math.abs(uniform("head") / 8000.0 - 0.2) < 0.03)
    assert(math.abs(uniform("tail") / 1000.0 - 0.2) < 0.05)
    val cooled = kept(0.5)
    // alpha = 0.5: tail keep-rate rises, head keep-rate falls
    assert(cooled("tail") / 1000.0 > uniform("tail") / 1000.0)
    assert(cooled("head") / 8000.0 < uniform("head") / 8000.0)
    // deterministic: same rows on re-run
    assert(Sampling.temperatureSample(df, "id", "lang", 0.5, 0.2)
      .exceptAll(Sampling.temperatureSample(df, "id", "lang", 0.5, 0.2))
      .isEmpty)
  }

  test("distributed prefix sum equals the single-partition global window") {
    import graft.pipeline.Packing
    val df = spark.range(0, 5000).toDF("id")
      .withColumn("v", (col("id") % 37) + 1)
    val dist = Packing.withPrefixSum(df, "id", col("v"), "ps",
      numPartitions = 8)
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val naive = df.withColumn("ps", coalesce(sum(col("v").cast("long")).over(w), lit(0L)))
    assert(dist.exceptAll(naive).isEmpty && naive.exceptAll(dist).isEmpty)
    // and the cumsum window is PARTITIONED on the range-partition id — not
    // a global (single-task) window like the naive formulation
    assert(dist.queryExecution.executedPlan.toString
      .contains("windowspecdefinition(__pid"))
    // packing invariants: offsets stay inside the sequence, ids monotone
    val packed = Packing.packSequences(
      Seq((1L, "a b c"), (2L, "d e"), (3L, "f g h i"), (4L, "j"))
        .toDF("doc_id", "text"), "doc_id", "text", maxTokens = 4,
      numPartitions = 2).collect().sortBy(_.getLong(0))
    // tape: doc1@0 (3 toks), doc2@3, doc3@5, doc4@9
    assert(packed.map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSeq ==
      Seq((1L, 0L, 0L), (2L, 0L, 3L), (3L, 1L, 1L), (4L, 2L, 1L)))
  }

  test("native lsh_bucket is bit-identical to the HOF formulation") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    for ((bits, off) <- Seq((4, 0), (4, 4), (8, 0), (6, 12))) {
      val diff = emb.select(
        Similarity.lshBucket(col("embedding"), bits, off).as("native"),
        Similarity.lshBucketHof(col("embedding"), bits, off).as("hof"))
        .filter(col("native") =!= col("hof")).count()
      assert(diff == 0, s"bucket mismatch at numBits=$bits offset=$off")
    }
    // and the native form really is codegen'd: the projection sits inside a
    // whole-stage-codegen span (the `*(n)` prefix in the executed plan)
    val plan = emb.select(
      Similarity.lshBucket(col("embedding"), 4).as("b"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project") && plan.contains("lsh_bucket"))
  }

  test("annLsh multi-probe recall clears the gate floor with >=2x margin") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val qs = emb.filter(col("vec_id") < 50)
    val exact = Similarity.bruteForceKnn(qs, emb, "vec_id", "embedding", k = 5)
      .select(col("q_id"), col("n_id"))
    def recall(ann: org.apache.spark.sql.DataFrame): Double = {
      val hits = exact.join(ann.select(col("q_id"), col("n_id")),
        Seq("q_id", "n_id"), "left_semi").count()
      hits.toDouble / exact.count()
    }
    val multi = recall(Similarity.annLsh(qs, emb, "vec_id", "embedding",
      k = 5, numBits = 4))
    val single = recall(Similarity.annLsh(qs, emb, "vec_id", "embedding",
      k = 5, numBits = 4, probeRadius = 0))
    // gate floor is 0.25 — multi-probe must clear it with >= 2x margin so
    // the CORRECTNESS gate never flakes on data/hash perturbations
    assert(multi >= 0.5, s"multi-probe recall $multi below 2x-margin floor")
    // and probing Hamming-1 buckets can only ADD candidates
    assert(multi >= single,
      s"multi-probe recall $multi below single-probe $single")
  }

  test("SQL REGEXP_EXTRACT: reference semantics — group 0 default, NULL on no match") {
    GraftSession.attach(spark)
    val r = spark.sql("""
      SELECT regexp_extract('foo123bar', '[0-9]+') AS whole,
             regexp_extract('foo123bar', '([a-z]+)([0-9]+)', 2) AS grp,
             regexp_extract('foobar', '[0-9]+') AS miss
    """).head()
    assert(r.getString(0) == "123")
    assert(r.getString(1) == "123")
    assert(r.isNullAt(2))
  }

  test("native expression language: timestamp_* aliases, case_searched/simple, notnull") {
    GraftSession.attach(spark)
    val r = spark.sql("""
      SELECT timestamp_floor(TIMESTAMP '2024-03-15 13:47:11', 'PT1H') AS fl,
             timestamp_shift(TIMESTAMP '2024-01-31 00:00:00', 'P1M', 1) AS sh,
             timestamp_extract(TIMESTAMP '2024-03-15 13:47:11', 'HOUR') AS h,
             case_searched(1 > 2, 'a', 3 > 2, 'b', 'z') AS cs,
             case_simple('F', 'F', 'final', 'O', 'open', 'other') AS cm,
             notnull('x') AS nn, notnull(NULL) AS nnn
    """).head()
    assert(r.getTimestamp(0).toString.startsWith("2024-03-15 13:00:00"))
    assert(r.getTimestamp(1).toString.startsWith("2024-02-29"))
    assert(r.getLong(2) == 13L)
    assert(r.getString(3) == "b" && r.getString(4) == "final")
    assert(r.getBoolean(5) && !r.getBoolean(6))
  }

  test("SQL DIV, IPV4_MATCH, IPV6_MATCH, COMPLEX_DECODE_BASE64") {
    GraftSession.attach(spark)
    val r = spark.sql("""
      SELECT DIV(17, 5) AS d1, DIV(-17, 5) AS d2,
             IPV4_MATCH('10.64.1.2', '10.64.0.0/10') AS m1,
             IPV4_MATCH('192.169.0.1', '192.168.0.0/16') AS m2,
             IPV4_MATCH('10.1.2.3', '10.1.2.3') AS m3,
             IPV6_MATCH('2001:db8::1', '2001:db8::/32') AS v6a,
             IPV6_MATCH('2001:db9::1', '2001:db8::/32') AS v6b,
             CAST(COMPLEX_DECODE_BASE64('json', base64('hi')) AS STRING) AS dec
    """).head()
    assert(r.getLong(0) == 3L && r.getLong(1) == -3L)
    assert(r.getBoolean(2) && !r.getBoolean(3) && r.getBoolean(4))
    assert(r.getBoolean(5) && !r.getBoolean(6))
    assert(r.getString(7) == "hi")
  }

  test("sketch-returning SQL surface: theta set ops match pairwise estimates") {
    GraftSession.attach(spark)
    spark.range(0, 3000).selectExpr("id % 2000 AS a", "id + 1000 AS b")
      .createOrReplaceTempView("theta_src")
    val r = spark.sql(
      """SELECT theta_sketch_estimate(theta_sketch_union(sa, sb)) AS u,
                theta_sketch_estimate(theta_sketch_intersect(sa, sb)) AS i,
                theta_sketch_estimate(theta_sketch_not(sa, sb)) AS d,
                kmv_union_estimate(sa, sb) AS u0,
                kmv_intersect_estimate(sa, sb) AS i0,
                kmv_not_estimate(sa, sb) AS d0,
                theta_sketch_estimate_with_error_bounds(sa, 2) AS bounds
         FROM (SELECT ds_theta(a) AS sa, ds_theta(b) AS sb FROM theta_src)""").head()
    // sketch-op estimate == direct pairwise estimate (same math, same hashes)
    assert(r.getDouble(0) === r.getDouble(3))
    assert(r.getDouble(1) === r.getDouble(4))
    assert(r.getDouble(2) === r.getDouble(5))
    // truth: |A|=2000, |B|=3000, |A∩B|=2000-1000=... A = 0..1999, B = 1000..3999
    // → union 4000, intersect 1000, A-not-B 1000; KMV err ~3% at K=1024
    assert(math.abs(r.getDouble(0) - 4000) / 4000.0 < 0.15)
    assert(math.abs(r.getDouble(1) - 1000) / 1000.0 < 0.2)
    assert(math.abs(r.getDouble(2) - 1000) / 1000.0 < 0.2)
    val bounds = r.getSeq[Double](6)
    assert(bounds.length == 3 && bounds(1) <= bounds(0) && bounds(0) <= bounds(2))
  }

  test("sketch set ops: null sides follow per-op semantics") {
    GraftSession.attach(spark)
    spark.range(0, 2000).selectExpr("id AS a", "CAST(id AS DOUBLE) AS m")
      .createOrReplaceTempView("null_setop_src")
    val r = spark.sql(
      """SELECT theta_sketch_estimate(
                  theta_sketch_union(CAST(NULL AS BINARY), sa)) AS u,
                theta_sketch_intersect(CAST(NULL AS BINARY), sa) AS i,
                theta_sketch_not(CAST(NULL AS BINARY), sa) AS d_nulla,
                theta_sketch_estimate(
                  theta_sketch_not(sa, CAST(NULL AS BINARY))) AS d_nullb,
                theta_sketch_estimate(sa) AS ref,
                tuple_estimate(ds_tuple_doubles_union(CAST(NULL AS BINARY), ta)) AS tu,
                ds_tuple_doubles_intersect(CAST(NULL AS BINARY), ta) AS ti,
                ds_tuple_doubles_not(CAST(NULL AS BINARY), ta) AS td_nulla,
                tuple_estimate(ds_tuple_doubles_not(ta, CAST(NULL AS BINARY))) AS td_nullb,
                tuple_estimate(ta) AS tref
         FROM (SELECT ds_theta(a) AS sa, ds_tuple_doubles(a, m) AS ta
               FROM null_setop_src)""").head()
    // union: a null side is an empty set — the surviving side's estimate
    assert(r.getDouble(0) === r.getDouble(4))
    assert(r.getDouble(5) === r.getDouble(9))
    // intersect with a missing side is unknowable; A-NOT-B likewise when A
    // is missing, but B missing leaves A untouched
    assert(r.isNullAt(1) && r.isNullAt(2))
    assert(r.getDouble(3) === r.getDouble(4))
    assert(r.isNullAt(6) && r.isNullAt(7))
    assert(r.getDouble(8) === r.getDouble(9))
  }

  test("tuple sketch union lowers theta when trimming to K") {
    GraftSession.attach(spark)
    // two disjoint key ranges, each > K=4096 distinct so both sides carry a
    // tagged theta < 1; the union must re-tighten theta or it reports ~half
    spark.range(0, 20000).selectExpr(
      "id AS a", "id + 20000 AS b", "CAST(1.0 AS DOUBLE) AS m")
      .createOrReplaceTempView("tuple_trim_src")
    val est = spark.sql(
      """SELECT tuple_estimate(ds_tuple_doubles_union(ta, tb)) AS u
         FROM (SELECT ds_tuple_doubles(a, m) AS ta, ds_tuple_doubles(b, m) AS tb
               FROM tuple_trim_src)""").head().getDouble(0)
    assert(math.abs(est - 40000) / 40000.0 < 0.15,
      s"union estimate $est should approximate 40000, not ~20000")
  }

  test("hll_sketch_union / to_string / estimate_with_error_bounds") {
    GraftSession.attach(spark)
    spark.range(0, 5000).selectExpr("id AS a", "id + 2500 AS b")
      .createOrReplaceTempView("hll_src")
    val r = spark.sql(
      """SELECT hll_sketch_estimate(hll_sketch_union(sa, sb)) AS u,
                hll_sketch_estimate_with_error_bounds(sa) AS bnd,
                hll_sketch_to_string(sa) AS dbg,
                hll_sketch_estimate(hll_sketch_union(12, 'HLL_4', sa, sb)) AS u_params
         FROM (SELECT hll_sketch_agg(a) AS sa, hll_sketch_agg(b) AS sb
               FROM hll_src)""").head()
    assert(math.abs(r.getDouble(0) - 7500) / 7500.0 < 0.1)
    val bnd = r.getSeq[Double](1)
    assert(bnd.length == 3 && bnd(1) <= bnd(0) && bnd(0) <= bnd(2))
    assert(r.getString(2).contains("estimate"))
    assert(r.getDouble(3) === r.getDouble(0)) // leading literal params ignored
  }

  test("ds_tuple_doubles set ops sum summaries; metrics_sum_estimate") {
    GraftSession.attach(spark)
    spark.range(0, 1000).selectExpr("id AS k", "CAST(1.0 AS DOUBLE) AS m1",
      "CAST(id AS DOUBLE) AS m2").createOrReplaceTempView("tup_src")
    val r = spark.sql(
      """SELECT tuple_estimate(ds_tuple_doubles_union(s1, s2)) AS uk,
                ds_tuple_doubles_metrics_sum_estimate(
                  ds_tuple_doubles_union(s1, s2)) AS usums,
                tuple_estimate(ds_tuple_doubles_intersect(s1, s2)) AS ik,
                ds_tuple_doubles_metrics_sum_estimate(
                  ds_tuple_doubles_intersect(s1, s2)) AS isums,
                tuple_estimate(ds_tuple_doubles_not(s1, s2)) AS dk
         FROM (SELECT ds_tuple_doubles(k, m1, m2) AS s1 FROM tup_src WHERE k < 600),
              (SELECT ds_tuple_doubles(k, m1, m2) AS s2 FROM tup_src WHERE k >= 400)
      """).head()
    // below K=4096 everything is exact: |A|=600, |B|=600, overlap 200
    assert(r.getDouble(0) == 1000.0)
    val usums = r.getSeq[Double](1)
    // union sums the m1=1 summaries of both sides: 600 + 600 = 1200
    assert(usums(0) == 1200.0)
    assert(r.getDouble(2) == 200.0)
    val isums = r.getSeq[Double](3)
    // intersection keys 400..599 carry m1 from BOTH sides: 2 each
    assert(isums(0) == 400.0)
    assert(r.getDouble(4) == 400.0)
  }

  test("approx_quantile, approx_count_distinct_builtin, array_concat_agg") {
    GraftSession.attach(spark)
    spark.range(0, 10000).selectExpr("CAST(id AS DOUBLE) AS v", "id % 100 AS k",
      "array(id, id + 1) AS arr").createOrReplaceTempView("aq_src")
    val r = spark.sql(
      """SELECT approx_quantile(v, 0.5) AS med,
                approx_count_distinct_builtin(k) AS acd,
                size(array_concat_agg(arr)) AS n
         FROM aq_src""").head()
    assert(math.abs(r.getDouble(0) - 5000.0) < 200.0)
    assert(math.abs(r.getLong(1) - 100L) <= 5L)
    assert(r.getInt(2) == 20000)
  }

  test("approx_quantile_fixed_buckets modes") {
    GraftSession.attach(spark)
    // uniform 0..999 plus outliers at -50 and 5000
    spark.range(0, 1000).selectExpr("CAST(id AS DOUBLE) AS v")
      .union(Seq(-50.0, 5000.0).toDF("v"))
      .createOrReplaceTempView("fb_src")
    val r = spark.sql(
      """SELECT approx_quantile_fixed_buckets(v, 0.5, 100, 0.0, 1000.0) AS ig,
                approx_quantile_fixed_buckets(v, 0.5, 100, 0.0, 1000.0, 'clip') AS cl,
                approx_quantile_fixed_buckets(v, 0.0, 100, 0.0, 1000.0, 'overflow') AS ov
         FROM fb_src""").head()
    assert(math.abs(r.getDouble(0) - 500.0) < 15.0) // outliers ignored
    assert(math.abs(r.getDouble(1) - 500.0) < 15.0) // two clipped extremes barely move it
    assert(r.getDouble(2) == 0.0)                   // rank 0 lands in lower outliers
  }

  test("ds_quantiles_sketch / ds_quantile_summary and scalar macro additions") {
    GraftSession.attach(spark)
    spark.range(0, 1000).selectExpr("CAST(id AS DOUBLE) AS v")
      .createOrReplaceTempView("kll_src")
    val s = spark.sql(
      """SELECT ds_quantile_summary(ds_quantiles_sketch(v)) AS summ
         FROM kll_src""").head().getString(0)
    assert(s.contains("N: 1000") && s.contains("Min: 0.0"))
    val r = spark.sql(
      """SELECT STRLEN('héllo') AS sl,
                MV_FILTER_PREFIX(array('abc', 'abd', 'xyz'), 'ab') AS pf,
                MV_FILTER_REGEX(array('a1', 'b2', 'a3'), '^a.*') AS rx,
                JSON_VALUE('{"a": {"b": 7}}', '$.a.b') AS jv,
                json_merge('{"a": 1, "o": {"x": 1}}',
                           '{"b": 2, "o": {"y": 2}}') AS jm,
                BITWISE_CONVERT_DOUBLE_TO_LONG_BITS(2.0) AS dl,
                BITWISE_CONVERT_LONG_BITS_TO_DOUBLE(
                  BITWISE_CONVERT_DOUBLE_TO_LONG_BITS(-1.5)) AS rt""").head()
    assert(r.getInt(0) == 5)
    assert(r.getSeq[String](1) == Seq("abc", "abd"))
    assert(r.getSeq[String](2) == Seq("a1", "a3"))
    assert(r.getString(3) == "7")
    // SHALLOW merge (JsonMergeExprMacro): the later top-level "o" replaces
    // the earlier one wholesale — "x":1 must be gone, not recursively kept
    assert(r.getString(4).contains("\"y\":2") && r.getString(4).contains("\"b\":2")
      && !r.getString(4).contains("\"x\""))
    assert(r.getLong(5) == java.lang.Double.doubleToLongBits(2.0))
    assert(r.getDouble(6) == -1.5)
  }

  test("json_merge is SHALLOW (JsonMergeExprMacro, " +
      "NestedDataExpressions.java:140-185)") {
    GraftSession.attach(spark)
    def s(sql: String): String = {
      val v = spark.sql(s"SELECT $sql AS r").head()
      if (v.isNullAt(0)) null else v.getString(0)
    }
    // object+object: top-level putAll — nested object replaced wholesale
    assert(s("""json_merge('{"o":{"x":1}}', '{"o":{"y":2}}')""")
      == """{"o":{"y":2}}""")
    // array+array: concatenation, duplicates kept (json4s would set-union)
    assert(s("""json_merge('[1,2]', '[2,3]')""") == "[1,2,2,3]")
    // three-arg fold is left-to-right shallow
    assert(s("""json_merge('{"a":1}', '{"a":2,"b":1}', '{"b":9}')""")
      == """{"a":2,"b":9}""")
    // JSON null argument nulls the whole result (getArgAsObject null path)
    assert(s("""json_merge('{"a":1}', 'null')""") == null)
    assert(s("""json_merge(CAST(NULL AS STRING), '{"a":1}')""") == null)
    // object/array mix is an ERROR, not a silent replace
    val e = intercept[Exception] { s("""json_merge('{"a":1}', '[1]')""") }
    assert(e.getMessage != null)
  }

  test("native predicate family uses Evals.asBoolean truthiness " +
      "(Function.java IsTrueFunc:2530, Evals.java:55-68)") {
    GraftSession.attach(spark)
    def b(sql: String): Boolean = spark.sql(s"SELECT $sql AS r").head().getBoolean(0)
    // numerics: true iff > 0 (−1 is FALSE, unlike a SQL nonzero cast)
    assert(b("istrue(1)") && !b("istrue(-1)") && !b("istrue(0)"))
    assert(b("istrue(0.5D)") && !b("istrue(CAST('NaN' AS DOUBLE))"))
    // strings: Boolean.parseBoolean — only 'true' (any case); '1' is FALSE
    assert(b("istrue('TRUE')") && !b("istrue('1')") && !b("istrue('abc')"))
    assert(b("isfalse('abc')") && b("isfalse('1')") && b("isfalse(-1)"))
    // NULL is neither true nor false, but IS not-true and not-false
    assert(!b("istrue(CAST(NULL AS BOOLEAN))"))
    assert(!b("isfalse(CAST(NULL AS BOOLEAN))"))
    assert(b("nottrue(CAST(NULL AS STRING))"))
    assert(b("notfalse(CAST(NULL AS DOUBLE))"))
    // IS [NOT] DISTINCT FROM treats NULL as a value, never returns null
    assert(b("notdistinctfrom(CAST(NULL AS INT), CAST(NULL AS INT))"))
    assert(!b("isdistinctfrom(CAST(NULL AS INT), CAST(NULL AS INT))"))
    assert(b("isdistinctfrom(CAST(NULL AS INT), 1)"))
    assert(b("notdistinctfrom(2, 2)") && !b("notdistinctfrom(2, 3)"))
    // native if() runs the condition through the same truthiness
    assert(one("druid_if(-1, 'a', 'b')") == "b")
    assert(one("druid_if(5, 'a', 'b')") == "a")
    assert(one("druid_if(CAST(NULL AS INT), 'a', 'b')") == "b")
    // case_searched conditions too (Function.java:2182)
    assert(one("case_searched(-1, 'neg', 2, 'pos', 'other')") == "pos")
  }

  test("decode_base64_utf8 and native unix_timestamp " +
      "(BuiltInExprMacros:149, Function.java UnixTimestampFunc:3245)") {
    GraftSession.attach(spark)
    assert(one("decode_base64_utf8('aGVsbG8=')") == "hello")
    assert(spark.sql("SELECT decode_base64_utf8(CAST(NULL AS STRING)) AS r")
      .head().isNullAt(0))
    // ISO parse (Spark's builtin unix_timestamp would NULL on the 'T' form)
    assert(spark.sql("SELECT druid_unix_timestamp('2000-01-01T00:00:00Z') AS r")
      .head().getLong(0) == 946684800L)
    assert(spark.sql(
      "SELECT druid_unix_timestamp('2000-01-02', 'yyyy-MM-dd') AS r")
      .head().getLong(0) == 946771200L)
  }

  test("native like() function form resolves to Spark's like builder " +
      "(LikeExprMacro parity: % _ wildcards, custom escape)") {
    GraftSession.attach(spark)
    def b(sql: String): Boolean = spark.sql(s"SELECT $sql AS r").head().getBoolean(0)
    assert(b("like('abcdef', 'abc%')") && !b("like('abcdef', 'xyz%')"))
    assert(b("like('a_c', 'a\\\\_c')") && b("like('abc', 'a_c')"))
    assert(spark.sql("SELECT like(CAST(NULL AS STRING), 'a%') AS r")
      .head().isNullAt(0))
  }

  private def one(sql: String): String =
    spark.sql(s"SELECT $sql AS r").head().getString(0)

  test("TIME_FLOOR calendar period with explicit origin") {
    val got = SqlApi.runSql(spark,
      """SELECT CAST(TIME_FLOOR(TIMESTAMP'2000-01-01 00:00:00', 'P1M',
                       TIMESTAMP '1970-01-01 01:02:03') AS STRING) AS a,
                CAST(TIME_FLOOR(TIMESTAMP'2000-01-02 10:00:00', 'P1M',
                       TIMESTAMP '1970-01-01 01:02:03') AS STRING) AS b""")
      .collect().head
    assert(got.getString(0) == "1999-12-01 01:02:03")
    assert(got.getString(1) == "2000-01-01 01:02:03")
  }

  test("EXTRACT(EPOCH FROM DATE) is timezone-independent") {
    val prev = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
      val e = SqlApi.runSql(spark,
        "SELECT EXTRACT(EPOCH FROM DATE '1970-01-02') AS e")
        .collect().head.getLong(0)
      assert(e == 86400L, s"DATE epoch shifted by the session zone: $e")
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  test("positional_eq_count treats null slots as non-matches (HOF parity)") {
    val df = spark.sql(
      """SELECT CAST(array(1, NULL, 3, NULL) AS ARRAY<BIGINT>) AS a,
                CAST(array(1, NULL, 4, 3) AS ARRAY<BIGINT>) AS b""")
    val counted = df.select(
      graft.functions.VectorMath.positionalEqCount(col("a"), col("b")).as("c"),
      expr("aggregate(zip_with(a, b, (x, y) -> IF(x = y, 1, 0)), 0, " +
        "(acc, v) -> acc + coalesce(v, 0))").as("hof"))
      .collect().head
    assert(counted.getInt(0) == 1)      // only position 0 matches; nulls never do
    assert(counted.getInt(0) == counted.getInt(1))
  }

  test("sorted_intersect_count stops at null slots (array_sort puts them last)") {
    val r = spark.sql(
      """SELECT CAST(array(1, 2, 3, NULL) AS ARRAY<BIGINT>) AS a,
                CAST(array(2, 3, NULL, NULL) AS ARRAY<BIGINT>) AS b""")
      .select(graft.functions.VectorMath
        .sortedIntersectCount(col("a"), col("b")).as("c"))
      .collect().head
    assert(r.getInt(0) == 2)
  }

  test("attach runs no SQL statement") {
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val statements = new AtomicInteger
    @volatile var markerDone = false
    val marker = "graft-attach-marker"
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => statements.incrementAndGet()
        case _ =>
      }
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null &&
            j.properties.getProperty("spark.job.description") == marker)
          markerDone = true
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      GraftSession.attach(spark.newSession())
      // events reach a listener in the order they were posted: once the
      // marker job is seen, every statement attach ran has been counted
      spark.sparkContext.setJobDescription(marker)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!markerDone && System.nanoTime() < deadline) Thread.sleep(10)
      assert(markerDone)
      assert(statements.get == 0)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("listFunctions adds exactly the engine's function names") {
    val plain = spark.newSession().catalog.listFunctions().collect()
      .map(_.name).toSet
    val armed = spark.newSession()
    GraftSession.attach(armed)
    val names = armed.catalog.listFunctions().collect().map(_.name).toSet
    val table = GraftSession.functions.map(_.name).toSet
    assert(names == plain ++ table)
    // the 189 names no built-in spells, as many as the 27 SQL statements
    // and the registration calls armed before the table: the 722 names
    // of an armed session are the same set
    assert((names -- plain).size == 189 && names.size == 722, names -- plain)
  }

  // Arguments for each SQL-defined function: a valid call, a NULL, and
  // malformed input that a parameter cast rejects
  private val sqlMacroArgs: Map[String, Seq[String]] = Map(
    "strlen" -> Seq("'abc'", "NULL", "12345"),
    "textcat" -> Seq("'a', 'b'", "NULL, 'b'", "1, 2"),
    "bitwise_convert_double_to_long_bits" -> Seq("1.5", "NULL", "'x'"),
    "bitwise_convert_long_bits_to_double" ->
      Seq("4609434218613702656", "NULL", "'x'"),
    "timestamp_to_millis" -> Seq("TIMESTAMP'2024-01-01 00:00:01.5'",
      "TIMESTAMP'1969-12-31 23:59:59.9985'", "NULL", "'garbage'", "'2024-01-01'"),
    "millis_to_timestamp" -> Seq("1700000000000", "NULL", "'x'"),
    "json_value_str" -> Seq("'{\"a\":1}', '$.a'", "NULL, '$.a'",
      "'not json', '$.a'"),
    "json_value_any" -> Seq("'{\"a\":[1]}', '$.a'", "NULL, '$.a'",
      "'not json', '$.a'"),
    "decode_base64_utf8" -> Seq("'aGVsbG8='", "NULL", "'!!'"),
    "contains_string" -> Seq("'Apache Spark', 'Spark'", "NULL, 'a'", "12, 1"),
    "icontains_string" -> Seq("'Apache Spark', 'spark'", "'a', NULL", "12, 1"),
    "safe_div" -> Seq("7, 2", "-7, 2", "1, 0", "NULL, 1", "'x', 1",
      "-9223372036854775808, -1"),
    "strpos" -> Seq("'hello', 'l'", "NULL, 'a'", "'abc', 'z'"),
    "bitwise_and" -> Seq("12, 10", "NULL, 1", "'x', 3"),
    "bitwise_or" -> Seq("12, 10", "NULL, 1", "'x', 3"),
    "bitwise_xor" -> Seq("12, 10", "NULL, 1", "'x', 3"),
    "bitwise_complement" -> Seq("5", "NULL", "'x'"),
    "bitwise_shift_left" -> Seq("1, 3", "NULL, 1", "'x', 1", "1, 'y'"),
    "bitwise_shift_right" -> Seq("64, 3", "NULL, 1", "'x', 1"),
    "array_quantile" -> Seq("array(1.0, 2.0, 3.0, 4.0), 0.5",
      "array(3.0, NULL, 1.0), 0.25", "array(CAST(NULL AS DOUBLE)), 0.5",
      "NULL, 0.5", "array(1.0), 'x'", "array(1.0, 2.0, 3.0), -3"),
    "timestamp_format" -> Seq("TIMESTAMP'2024-01-02 03:04:05', 'yyyy-MM-dd'",
      "NULL, 'yyyy'", "'garbage', 'yyyy'"),
    "timestamp_parse" -> Seq("'2024-01-02', 'yyyy-MM-dd'", "NULL, 'yyyy'",
      "'garbage', 'yyyy-MM-dd'"),
    "ipv4_parse" -> Seq("'10.64.3.1'", "'300.1.1.1'", "'1.2.3.4.5'", "NULL",
      "'abc'"),
    "ipv4_stringify" -> Seq("167772161", "NULL", "'x'"),
    "ipv4_match" -> Seq("'10.64.3.1', '10.64.0.0/10'",
      "'10.1.1.1', '10.64.0.0/10'", "'1.2.3.4', '1.2.3.4'",
      "NULL, '10.0.0.0/8'", "'300.1.1.1', '10.0.0.0/8'", "'1.2.3.4', '1.2.3.4/x'"),
    "complex_decode_base64" -> Seq("'hll', 'AAE='", "'hll', NULL", "'hll', '!!'"),
    "decode_base64_complex" -> Seq("'hll', 'AAE='", "'hll', NULL", "'hll', '!!'"))

  // the reference for each: its SQL text as a session-scoped
  // CREATE FUNCTION, made in ANSI mode (Spark's default, and the mode it
  // keeps); a body calling another macro calls that one's reference
  private lazy val refSession = {
    val s = spark.newSession()
    GraftSession.attach(s)
    s.conf.set("spark.sql.ansi.enabled", "true")
    for (m <- DruidFunctions.sqlMacros)
      s.sql(s"CREATE TEMPORARY FUNCTION ref_${m.name}(${m.params}) " +
        s"RETURNS ${m.returns} RETURN ${m.body.replace("IPV4_PARSE(", "ref_ipv4_parse(")}")
    s
  }

  for (m <- DruidFunctions.sqlMacros)
    test(s"SQL-defined ${m.name} answers as its CREATE FUNCTION text") {
      val s = refSession
      def run(fn: String, args: String) = scala.util.Try {
        val df = s.sql(s"SELECT $fn($args) AS v")
        (df.schema.head.dataType, df.collect().head.get(0) match {
          case b: Array[Byte] => b.toSeq
          case v => v
        })
      }
      val cases = sqlMacroArgs(m.name)
      assert(cases.size >= 3)
      for (ansi <- Seq("true", "false"); args <- cases) {
        s.conf.set("spark.sql.ansi.enabled", ansi)
        val (ref, got) = (run(s"ref_${m.name}", args), run(m.name, args))
        assert(ref.isSuccess == got.isSuccess && (ref.isFailure || ref == got),
          s"${m.name}($args) ansi=$ansi: reference $ref, table $got")
      }
      s.conf.set("spark.sql.ansi.enabled", "true")
    }
}
