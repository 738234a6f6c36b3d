package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.pipeline.{Dedup, Similarity}

/** Both workloads run the same kinds of operation, at two scales, so that
  * every end-to-end metric reads on each: reads through the SQL and native
  * JSON facades, day ingests into a sliding window (SQL and streaming),
  * near-duplicate detection, and IVF ANN search.
  *
  *  - `interactive`: sf0.1 dashboard traffic, one pass over the native and
  *    SQL templates per round, 20k-event days, MinHash-LSH over a few
  *    hundred documents, a small ANN corpus. Spark's per-query floor does
  *    most of the work.
  *  - `batch_10x`: row-bound scans, aggregations, TPC-H and SSB-style joins
  *    over a key-consistent 10x copy of sf0.1, 50k-event days, SimHash over
  *    1,650 documents and a larger ANN corpus. Row execution does most of
  *    the work.
  */
class Mixed(name: String, inputs: String, work: String, seed: Long) {
  private val manifest = JsonMethods.parse(new java.io.File(s"$inputs/manifest.json"))
  private def size(k: String): Long = (manifest \ k).asInstanceOf[JInt].num.toLong
  private val copies = size("copies")
  private val dir = if (copies > 1) s"$inputs/sf${copies}x" else s"$inputs/sf"
  private val interactive = name == "interactive"
  private val rows: String => Long = t => (manifest \ "rows" \ t).asInstanceOf[JInt].num.toLong
  // batch_10x reads only the panel's first two: its four floor-bound reads
  // would sit beside eight row-bound ones, and the median between the two
  // clusters
  private val window = new Window(inputs, work, dir, size("day_rows"),
    panelSize = if (interactive) 4 else 2)

  private def reads(rng: scala.util.Random, d: String): Seq[Op] =
    if (interactive) Dashboard.ops(rng, d, rows) else RowQueries.ops(rng, d, rows)

  private var docs: DataFrame = _
  private var corpus: DataFrame = _
  private var queries: DataFrame = _

  /** Input preparation that is not set-up (runs once, before set-up). */
  def prepare(): Unit = window.prepare()
  /** Facts known only at the end of the run (sizes on disk, ratios). */
  def finish(spark: SparkSession): JObject = window.finish(spark)

  /** Session set-up after `GraftSession.create`: the lookup, the window
    * datasource and the star schema registered.
    */
  def setup(spark: SparkSession, trace: Trace): Unit = {
    graft.functions.LookupRegistry.register("nation_name",
      (0 until 25).map(i => i.toString -> s"NATION_$i").toMap)
    window.attach(spark)
    trace.span("tables.register_ms") { graft.Tables.registerAll(spark, dir) }
  }

  /** Untimed warm-up of every template, after the last set-up: the
    * pipeline operators over their timed inputs, both ingest paths, and the
    * reads over the timed tables (in `interactive`, twice). Returns the
    * operations it runs.
    */
  def warmUp(spark: SparkSession): Seq[Op] = {
    val p = s"$inputs/pipeline"
    docs = spark.read.parquet(s"$p/docs.parquet")
    corpus = spark.read.parquet(s"$p/corpus.parquet")
    queries = spark.read.parquet(s"$p/queries.parquet")
    // every operation warms up on the very inputs it is timed on: over a
    // filtered slice the pipeline operators' plans differ, and the first
    // timed call paid seconds of plan compilation. A second pass of the
    // reads costs ~4 s at sf0.1 but ~8 s over the 10x copy, where the
    // run-time budget does not hold it
    val passes = if (interactive) 2 else 1
    pipeline ++ window.warmUp ++
      (0 until passes).flatMap(i => reads(new scala.util.Random(-1 - i), dir))
  }

  /** Round r's operations: the same templates in the same order in every
    * round; only the literal values come from the seed.
    */
  def round(spark: SparkSession, r: Int): Seq[Op] = {
    val rs = reads(new scala.util.Random(seed * 1000003L + r), dir)
    val Seq(dedup, ann) = pipeline
    val sqlDay = window.step(2 * r, stream = false)
    val streamDay = window.step(2 * r + 1, stream = true)
    rs ++ sqlDay ++ Seq.fill(PipelineCalls)(dedup) ++ streamDay ++ Seq.fill(PipelineCalls)(ann)
  }

  /** Calls of each pipeline operation per round: each is a single call of
    * seconds, and run.py reports the median call's rate.
    */
  val PipelineCalls = 3

  private def pairs(df: DataFrame): String = Render.rows(df.select("id_a", "id_b").collect())

  /** The dedup operation (MinHash-LSH in interactive, SimHash in
    * batch_10x) and the ANN search, over the whole of their inputs.
    */
  private def pipeline: Seq[Op] = {
    val nDocs = size("docs") + size("exact") + size("near")
    val dedup =
      if (interactive) Op("minhash", "dedup", JObject(), 0L, nDocs,
        () => pairs(Dedup.minHashLsh(docs, "doc_id", "text")))
      else Op("simhash", "dedup", JObject(), 0L, nDocs,
        () => pairs(Dedup.simHashPairs(docs, "doc_id", "text", lit(0))))
    val ann = Op("ann_ivf", "ann", JObject(), 0L, size("queries"),
      () => Render.rows(Similarity.annIvf(queries, corpus, "vec_id", "embedding", 10)
        .select("q_id", "n_id").collect()))
    Seq(dedup, ann)
  }
}
