package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Runs every SparkEntry query against sf0.001 and sanity-checks shape.
  * (Value-level correctness is gated by the DuckDB oracle compare —
  * tools/check.py at sf0.01; this spec catches runtime regressions fast.)
  */
class QuerySpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val dir = "/root/testdata/sf0.001"

  // every query must run and (except pair-mining queries and
  // ultra-selective TPC-H/SSB filters that may legitimately be empty at
  // tiny scale) return rows
  private val mayBeEmpty = Set("q_dedup_minhash", "q_dedup_simhash",
    "q_dedup_ngram_jaccard", "q_embed_ann_lsh",
    "q_tpch_q11", "q_tpch_q20", "q_ssb_q3_3")

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name runs at sf0.001") {
      spark.sparkContext.setLogLevel("ERROR")
      val df = fn(spark, dir)
      val n = df.count()
      assert(df.columns.nonEmpty)
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned no rows")
    }
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("the registry holds 674 gates, each name once, each with an oracle") {
    val names = SparkEntry.gates.map(_.name)
    assert(names.size == 674 && names.distinct.size == 674)
    assert(SparkEntry.queries.keySet == names.toSet)
    val blank = SparkEntry.gates.filter(_.oracle.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, s"gates without an oracle: $blank")
  }

  test("a registry with a repeated gate name throws") {
    val a = Gate.spark("q_dup", "SELECT 1 AS x")
    val b = Gate.spark("q_dup", "SELECT 2 AS x")
    val e = intercept[IllegalArgumentException](
      Gate.registry(Seq(a), Seq(Gate.spark("q_other", "SELECT 3 AS x"), b)))
    assert(e.getMessage.contains("q_dup"))
    assert(Gate.registry(Seq(a), Seq(Gate.spark("q_other", "SELECT 3 AS x"))).size == 2)
  }
}
