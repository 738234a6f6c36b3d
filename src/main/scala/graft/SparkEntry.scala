package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract: `entry`, `queries` (name → DataFrame builder) and
  * `oracleSql` (name → DuckDB SQL over the same parquet tables), both
  * derived from one registry of [[Gate]]s. Each gate is declared once, with
  * its builder and its oracle together, in a family object
  * (`NativeQueryGates`, `TpchGates`, `QaSuites`, …).
  *
  * Determinism conventions (so the driver's hash compare is stable):
  *  - every result has a total ordering (unique tie-break keys);
  *  - `events.ts` is nanosecond parquet which Spark truncates to micros —
  *    time outputs are truncated to >= 1 second in BOTH engines;
  *  - floating-point aggregates prefer integer-valued doubles (exact under
  *    any summation order) or are rounded identically on both sides.
  */
object SparkEntry {

  /** Every gate of every family; a repeated name fails here. */
  lazy val gates: Seq[Gate] = Gate.registry(
    NativeQueryGates.gates, DrillWindowGates.gates, TpchGates.gates,
    FunctionGates.gates, CalciteCorpusGates.gates, QaWinGates.gates,
    QaSqlScalarGates.gates, SqlFacadeGates.gates, StreamingGates.gates,
    PipelineGates.gates, ExtensionGates.gates, IngestGates.gates,
    NativeJsonGates.gates, SketchGates.gates, QaSuites.gates,
    DrillFrameclause.gates, DrillAggregates.gates, DrillLeadLag.gates,
    DrillMultiPartitions.gates, DrillNestedAggs.gates, DrillWindowMisc.gates,
    QaSqlBatteries.gates, CalciteJoinShapes.gates, SqlQuidemShapes.gates,
    MvdGates.gates)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_groupby_q1")(spark, "/root/testdata/sf0.001")

  /** Every gate, armed and over its tables: each builder first runs
    * `GraftSession.attach`, registers `dir`'s tables as the session's
    * views and points the session's warehouse into the process's scratch
    * root, so a gate answers the same whichever gates ran before it on the
    * session, and SQL-text bodies read the tables by name.
    */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map { g =>
      g.name -> ((s: SparkSession, dir: String) => {
        GraftSession.attach(s)
        Tables.registerAll(s, dir)
        s.conf.set("spark.graft.warehouse", Gate.scratch(dir, "warehouse"))
        g.build(s, dir)
      })
    }.toMap

  /** The DuckDB oracle of every gate. */
  lazy val oracleSql: Map[String, String] =
    gates.map(g => g.name -> g.oracle).toMap
}
