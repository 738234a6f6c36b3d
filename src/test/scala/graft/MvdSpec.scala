package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.api.SqlApi
import graft.functions.DruidFunctions

/** Multi-value dimension semantics (SURVEY §1.2 / §7.4.1 — the reference's
  * most Druid-specific correctness trap): filters match ANY value of an MVD
  * cell, group-by EXPLODES rows (one output row per value), and empty string
  * is distinct from null. Fixture mirrors the 6-row `foo` shape
  * (`TestDataBuilder.java:186-195`) with an MVD column.
  */
class MvdSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  import spark.implicits._

  // (id, dim1 single-value w/ empty string, dim2 multi-value, m1 metric)
  private lazy val foo = Seq(
    (1L, "", Seq("a", "b"), 1.0),
    (2L, "10.1", Seq.empty[String], 2.0),
    (3L, "2", Seq(""), 3.0),
    (4L, "1", Seq("a"), 4.0),
    (5L, "def", Seq("abc"), 5.0),
    (6L, "abc", null, 6.0)
  ).toDF("id", "dim1", "dim2", "m1")

  test("MVD filter matches any value") {
    spark.sparkContext.setLogLevel("ERROR")
    // filter dim2 = 'a' → rows whose cell CONTAINS 'a' (ids 1 and 4)
    val ids = foo.filter(DruidFunctions.mvContains(col("dim2"), "a"))
      .select("id").as[Long].collect().sorted
    assert(ids.toSeq == Seq(1L, 4L))
  }

  test("MVD group-by explodes rows") {
    // Druid: GROUP BY mvd yields one row per VALUE; row 1 contributes to
    // both 'a' and 'b' groups; empty array and null contribute nothing
    // under explode (Druid's null group needs explode_outer)
    val grouped = foo
      .select(explode(col("dim2")).as("v"), col("m1"))
      .groupBy("v").agg(sum("m1").as("s"), count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(grouped("a") == (5.0, 2L)) // rows 1 and 4
    assert(grouped("b") == (1.0, 1L))
    assert(grouped("") == (3.0, 1L))  // empty STRING is a real group
    assert(grouped("abc") == (5.0, 1L))
    assert(!grouped.contains(null))
  }

  test("MVD group-by with explode_outer keeps null/empty rows") {
    val n = foo.select(explode_outer(col("dim2")).as("v"))
      .filter(col("v").isNull).count()
    // row 2 (empty array) and row 6 (null) both yield a null group row
    assert(n == 2L)
  }

  test("empty string is distinct from null in filters") {
    assert(foo.filter(col("dim1") === "").count() == 1)
    assert(foo.filter(col("dim1").isNull).count() == 0)
  }

  test("mv_filter_regex and mv_overlap") {
    val r = foo.filter(col("id") === 1)
      .select(
        DruidFunctions.mvFilterRegex(col("dim2"), "^a").as("filtered"),
        DruidFunctions.mvOverlap(col("dim2"), array(lit("b"), lit("z"))).as("ov"))
      .head()
    assert(r.getSeq[String](0) == Seq("a"))
    assert(r.getBoolean(1))
  }

  test("numeric-looking strings group as strings (no coercion)") {
    // dim1 '2' and '10.1' must remain strings: lexicographic ordering
    val ordered = foo.select("dim1").orderBy("dim1").as[String].collect()
    assert(ordered.toSeq == Seq("", "1", "10.1", "2", "abc", "def"))
  }

  test("mv_harmonize_nulls coerces null and [] into [null] (Function.java:4769)") {
    val df = Seq(Some(Seq("a", "b")), Some(Seq.empty[String]), None).toDF("mv")
      .select(DruidFunctions.mvHarmonizeNulls(col("mv")).as("h"))
    val rows = df.select(size(col("h")).as("n"),
      element_at(col("h"), 1).as("first")).collect()
    // null and [] both become the single-null array; real arrays untouched
    assert(rows.map(_.getInt(0)).sorted.toSeq == Seq(1, 1, 2))
    assert(rows.count(r => r.isNullAt(1)) == 2)
  }

  test("q_mvd_array_agg_flatten emits joined scalar strings") {
    spark.sparkContext.setLogLevel("ERROR")
    val df = MvdGates.queries("q_mvd_array_agg_flatten")(spark, "")
    val r = df.collect().head
    assert(r.getString(0) == "x,y,y,null,null")
    assert(r.getString(1) == "null,x,y")
  }

  test("empty MVD arrays group into the null group") {
    val mvMeta = new org.apache.spark.sql.types.MetadataBuilder()
      .putBoolean("druid.mv", true).build()
    spark.sql(
      """SELECT * FROM VALUES
           ('a', array('x', 'y')), ('b', array()),
           ('c', CAST(NULL AS ARRAY<STRING>))
         AS t(k, mv)""")
      .withColumn("mv", col("mv").cast("array<string>").as("mv", mvMeta))
      .createOrReplaceTempView("r20_empty_gate")
    graft.functions.MvdTables.register("r20_empty_gate")
    val got = SqlApi.runSql(spark,
      """SELECT mv AS e, CAST(count(*) AS BIGINT) AS n
         FROM r20_empty_gate GROUP BY 1 ORDER BY e NULLS FIRST""")
      .collect().map(r => (Option(r.getString(0)).getOrElse("<null>"),
        r.getLong(1)))
      .toSeq
    // the empty-array row 'b' and the null row 'c' BOTH land in the null
    // group (Druid's groupBy engine) — explode must not drop row 'b'
    assert(got == Seq(("<null>", 2L), ("x", 1L), ("y", 1L)))
  }

  test("functions over two MVDs apply to the cartesian element product") {
    val mvMeta = new org.apache.spark.sql.types.MetadataBuilder()
      .putBoolean("druid.mv", true).build()
    spark.sql(
      """SELECT * FROM VALUES
           ('r1', array('a'), array('a', 'b'), 'z1'),
           ('r2', CAST(NULL AS ARRAY<STRING>), array('b', 'c'), 'z2'),
           ('r3', CAST(NULL AS ARRAY<STRING>), CAST(NULL AS ARRAY<STRING>),
            'z3')
         AS t(k, mva, mvb, s)""")
      .withColumn("mva", col("mva").as("mva", mvMeta))
      .withColumn("mvb", col("mvb").as("mvb", mvMeta))
      .createOrReplaceTempView("r20_cart_gate")
    graft.functions.MvdTables.register("r20_cart_gate")
    // COALESCE(mva, mvb, s): r1 maps over mva×mvb (coalesce short-
    // circuits per pair → ['a','a']); r2's null mva fills from mvb; r3
    // falls through to the scalar (CalciteQueryTest
    // testCoalesceMoreColumns: the 'a' group counts BOTH r1 cells)
    val got = SqlApi.runSql(spark,
      """SELECT COALESCE(mva, mvb, s) AS e, CAST(count(*) AS BIGINT) AS n
         FROM r20_cart_gate GROUP BY 1 ORDER BY e""")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("a", 2L), ("b", 1L), ("c", 1L), ("z3", 1L)))
  }
}
