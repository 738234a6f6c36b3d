package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-21 optimization pins: the hybrid long-partial decimal SUM must be
  * bit-identical to the builtin decimal Sum it replaces (incl. flush paths
  * and partition-order independence), the expensive-filter spread must
  * change the PLAN but not the rows, and the null-slot guards on the
  * codegen'd array counters must match the interpreted HOF forms.
  */
class Round21Spec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    GraftSession.attach(s)
    s
  }

  private def withRule[T](enabled: Boolean)(body: => T): T = {
    spark.conf.set("spark.graft.hybridDecimalSum.enabled", enabled.toString)
    try body
    finally spark.conf.set("spark.graft.hybridDecimalSum.enabled", "true")
  }

  private def decimalFixture(): Unit = {
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
    Tables.registerAll(spark, "/root/testdata/sf0.001")
    GraftSession.attach(spark)
    val gate = QaSqlBatteries.queries("q_qasql_tautology_json_keys")
    def run(enabled: Boolean): (Seq[Row], String) = {
      spark.conf.set("spark.graft.spreadFilter.enabled", enabled.toString)
      try {
        val df = gate(spark, "/root/testdata/sf0.001")
        (df.collect().toSeq, df.queryExecution.executedPlan.toString)
      } finally spark.conf.set("spark.graft.spreadFilter.enabled", "true")
    }
    val (offRows, offPlan) = run(false)
    val (onRows, onPlan) = run(true)
    assert(onRows == offRows)
    assert(onPlan.contains("RoundRobinPartitioning"))
    assert(!offPlan.contains("RoundRobinPartitioning"))
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
}
