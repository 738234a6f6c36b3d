package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Partition-order independence for the FLOOR-over-aggregate gate family.
  *
  * Round 10's only red gate (`q_qa_groupby_on_groupby_timefloor`) was a
  * FLOOR(sum(double)) sitting exactly on an integer boundary: the exact
  * decimal sum was integer-valued, so whichever partition order's FP
  * summation landed a hair below floored one lower — green on one run, red
  * on the next. The fix sums in DECIMAL (exact, associative) before FLOOR
  * on both dialects. This spec proves the property the gate hash relies on:
  * the same query returns bit-identical results under different shuffle
  * partition counts (different merge orders), for the once-flaky shape and
  * for a representative of the hardened TPC-H family (Q01 carries every
  * FLOOR(sum)/FLOOR(avg) pattern in the battery).
  */
class DeterminismSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val dir = "/root/testdata/sf0.001"

  /** Runs the gate at several shuffle-partition counts (AQE off so the
    * count is respected exactly) and asserts bit-identical sorted output.
    */
  private def stableAcrossPartitionings(gate: String): Unit = {
    spark.sparkContext.setLogLevel("ERROR")
    val aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val results = Seq("7", "32", "1").map { n =>
        spark.conf.set("spark.sql.shuffle.partitions", n)
        SparkEntry.queries(gate)(spark, dir)
          .collect().map(_.toString).sorted.toSeq
      }
      assert(results(0) == results(1),
        s"$gate differs between 7 and 32 shuffle partitions")
      assert(results(0) == results(2),
        s"$gate differs between 7 and 1 shuffle partitions")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.conf.set("spark.sql.shuffle.partitions", "4")
    }
  }

  test("groupby-on-groupby timefloor gate is partition-order independent") {
    stableAcrossPartitionings("q_qa_groupby_on_groupby_timefloor")
  }

  test("TPC-H Q01 (full FLOOR(sum)/FLOOR(avg) battery) is partition-order independent") {
    stableAcrossPartitionings("q_tpch_q01")
  }

  test("SSB Q4 profit expression is partition-order independent") {
    stableAcrossPartitionings("q_ssb_q4")
  }

  test("end-to-end curation pipeline is partition-order independent") {
    // six chained operators incl. MinHash-LSH candidate generation and a
    // two-phase prefix-sum packing — every stage must be associative for
    // the gate hash to survive a different executor layout
    stableAcrossPartitionings("q_pipeline_e2e")
  }

  test("BPE merge table and token counts are partition-order independent") {
    // the trainer's argmax collect is the risk point: ties MUST break on
    // (count DESC, pair ASC), never on partition arrival order
    stableAcrossPartitionings("q_text_bpe_merges")
    stableAcrossPartitionings("q_text_bpe")
  }

  test("entire TPC-H battery is partition-order independent (7 vs 32 partitions)") {
    // the family-wide claim: every battery gate survives a shuffle-count
    // perturbation bit-identically, not just the three spot-checked shapes
    spark.sparkContext.setLogLevel("ERROR")
    val battery = SparkEntry.queries.keys.filter(_.startsWith("q_tpch_")).toSeq.sorted
    val aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try battery.foreach { gate =>
      val results = Seq("7", "32").map { n =>
        spark.conf.set("spark.sql.shuffle.partitions", n)
        SparkEntry.queries(gate)(spark, dir).collect().map(_.toString).sorted.toSeq
      }
      assert(results(0) == results(1),
        s"$gate differs between 7 and 32 shuffle partitions")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.conf.set("spark.sql.shuffle.partitions", "4")
    }
  }

  test("the gate wrapper's registration is enough: SQL gates answer the same in a session with no views") {
    spark.sparkContext.setLogLevel("ERROR")
    Seq("q_tpch_q03", "q_qa_win_join_on_wincol", "q_cjq_semi_anti_simul",
        "q_squid_grouping_sets_pinned", "q_qasql_tautology_numeric").foreach { gate =>
      def rows(s: SparkSession): Seq[String] =
        SparkEntry.queries(gate)(s, dir).collect().map(_.toString).sorted.toSeq
      val shared = rows(spark)
      val fresh = spark.newSession()
      assert(Tables.all.forall(n => !fresh.catalog.tableExists(n)))
      assert(shared.nonEmpty && rows(fresh) == shared, gate)
    }
  }
}
