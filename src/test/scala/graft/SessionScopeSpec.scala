package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.api.SqlApi
import graft.functions.{LookupRegistry, MvdTables}

/** Session-scoped registries (round-19 verdict carry: MvdTables /
  * LookupRegistry were process-global TrieMaps keyed by bare name —
  * fine for the single-session driver contract, wrong for multi-tenant
  * hosts). registerScoped entries key on the owning SparkSession's
  * identity: a second session must see NEITHER the MVD tag nor the
  * lookup, and teardown drops a scope without touching the other.
  */
class SessionScopeSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("MVD registration in session A is invisible to session B") {
    spark.sparkContext.setLogLevel("ERROR")
    val a = spark.newSession()
    val b = spark.newSession()
    val mvMeta = new org.apache.spark.sql.types.MetadataBuilder()
      .putBoolean("druid.mv", true).build()
    def mk(s: SparkSession): Unit = s.sql(
      """SELECT * FROM VALUES ('r1', array('x','y')), ('r2', array('y'))
         AS t(k, mv)""")
      .withColumn("mv", col("mv").as("mv", mvMeta))
      .createOrReplaceTempView("scope_t")
    mk(a); mk(b)
    MvdTables.registerScoped(a, "scope_t")
    assert(MvdTables.isMvdTable(a, "scope_t"))
    assert(!MvdTables.isMvdTable(b, "scope_t"))
    // session A groups with MVD explode semantics (one group/element)…
    val gotA = SqlApi.runSql(a,
      "SELECT mv AS e, count(*) AS n FROM scope_t GROUP BY 1 ORDER BY e")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(gotA == Seq(("x", 1L), ("y", 2L)))
    // …session B keeps plain Spark array grouping, untouched
    val gotB = SqlApi.runSql(b,
      "SELECT size(mv) AS s, count(*) AS n FROM scope_t GROUP BY 1 ORDER BY s")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(gotB == Seq((1, 1L), (2, 1L)))
    MvdTables.clearScope(a)
    assert(!MvdTables.isMvdTable(a, "scope_t"))
  }

  test("scoped lookups resolve per session; teardown is scoped") {
    val a = spark.newSession()
    val b = spark.newSession()
    GraftSession.attach(a)
    GraftSession.attach(b)
    LookupRegistry.registerScoped(a, "tenant_lk", Map("k" -> "va"))
    LookupRegistry.registerScoped(b, "tenant_lk", Map("k" -> "vb"))
    def probe(s: SparkSession): String =
      SqlApi.runSql(s, "SELECT LOOKUP('k', 'tenant_lk') AS v")
        .collect().head.getString(0)
    assert(probe(a) == "va")
    assert(probe(b) == "vb")
    LookupRegistry.clearScope(a)
    // A's lookup is gone; B's survives
    intercept[Exception](probe(a))
    assert(probe(b) == "vb")
  }
}
