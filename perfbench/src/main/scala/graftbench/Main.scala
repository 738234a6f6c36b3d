package graftbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

/** One timed operation: a call into one of graft's public entry points.
  * `run` returns the operation's output as JSON text, which the checker
  * compares with a computation made apart from graft.
  *
  * @param kind   what the operation is: read, write, retention, dedup or
  *               ann; metrics aggregate over kinds
  * @param rows   logical rows of the tables it reads, before any pruning
  * @param units  the work it does in its own unit (docs, queries, raw rows)
  * @param compile the compile-only call of a read (traced runs time it
  *               apart, under the named metric)
  */
final case class Op(template: String, kind: String, params: JObject,
                    rows: Long, units: Long, run: () => String,
                    compile: Option[(String, () => Any)] = None)

/** Benchmark program: repeated set-up, then a fixed number of whole rounds
  * of operations, however long they take, then a full GC. Writes
  * per-operation records and outputs for `run.py`, which derives the
  * metrics and checks the outputs.
  *
  * Usage: Main <workload> <inputs dir> <work dir> <rounds> <trace 0|1> <seed>
  */
object Main {
  val Setups = 3

  def main(args: Array[String]): Unit = {
    val Array(name, inputs, work, roundsArg, traceArg, seedArg) = args
    val rounds = roundsArg.toInt
    val traced = traceArg == "1"
    val seed = seedArg.toLong
    val cores = Runtime.getRuntime.availableProcessors
    new File(work).mkdirs()

    // set-up: session creation and table registration, repeated; all but
    // the last session stop
    val workload = new Mixed(name, inputs, work, seed)
    workload.prepare()
    var spark: SparkSession = null
    var trace: Trace = null
    val setupS = (1 to Setups).map { _ =>
      if (spark != null) { spark.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession() }
      val t0 = System.nanoTime
      spark = graft.GraftSession.create(s"local[$cores]")
      spark.sparkContext.setLogLevel("ERROR")
      trace = new Trace(spark, traced)
      workload.setup(spark, trace)
      (System.nanoTime - t0) / 1e9
    }

    val warm = workload.warmUp(spark).map { op =>
      val s = System.nanoTime
      op.run()
      JObject("template" -> JString(op.template), "ms" -> JDouble((System.nanoTime - s) / 1e6))
    }

    // timed phase, from a settled heap (so that the context cleaner's work
    // on the warm-up's plans does not overlap the first timed reads): the
    // same number of rounds on every run, so that every run times the same
    // operations
    settleHeapMb()
    val outputs = new PrintWriter(new File(work, "outputs.jsonl"), "UTF-8")
    val opsOut = scala.collection.mutable.ArrayBuffer.empty[JValue]
    trace.start()
    val gc0 = gcMs()
    val t0 = System.nanoTime
    var failed = 0
    for (r <- 0 until rounds) {
      workload.round(spark, r).foreach { op =>
        trace.begin(op)
        val s = System.nanoTime
        val (out, ok) =
          try (op.run(), true)
          catch { case e: Exception => (JsonMethods.compact(JString(e.toString)), false) }
        val ms = (System.nanoTime - s) / 1e6
        trace.end(op, ms, out)
        if (!ok) failed += 1
        opsOut += JObject("round" -> JInt(r), "template" -> JString(op.template),
          "kind" -> JString(op.kind), "ms" -> JDouble(ms), "ok" -> JBool(ok),
          "rows" -> JLong(op.rows), "units" -> JLong(op.units))
        outputs.println(JsonMethods.compact(JObject(
          "i" -> JInt(opsOut.size - 1), "round" -> JInt(r),
          "template" -> JString(op.template), "ok" -> JBool(ok),
          "params" -> op.params, "result" -> JsonMethods.parse(out))))
      }
    }
    val timedS = (System.nanoTime - t0) / 1e9
    val gcTimed = gcMs() - gc0
    outputs.close()
    val layers = trace.finish()
    val extra = workload.finish(spark)

    // retained heap: in use at the end of the timed phase, once settled
    val heapSteps = settleHeapMb()
    val heapMb = heapSteps.last

    val result = JObject(
      "workload" -> JString(name), "cores" -> JInt(cores),
      "setup_s" -> JArray(setupS.map(JDouble(_)).toList),
      "warmup" -> JArray(warm.toList), "timed_s" -> JDouble(timedS), "rounds" -> JInt(rounds), "failed" -> JInt(failed),
      "retained_heap_mb" -> JDouble(heapMb),
      "retained_heap_steps_mb" -> JArray(heapSteps.map(JDouble(_)).toList),
      "ops" -> JArray(opsOut.toList),
      "layers" -> (layers ~~ JObject("jvm.gc_ms" -> JDouble(gcTimed.toDouble))),
      "extra" -> extra)
    val pw = new PrintWriter(new File(work, "result.json"), "UTF-8")
    pw.println(JsonMethods.compact(result)); pw.close()
    spark.stop()
  }

  implicit class JObjOps(val a: JObject) extends AnyVal {
    def ~~(b: JObject): JObject = JObject(a.obj ++ b.obj)
  }

  /** Full GCs until the heap in use stops falling: Spark's context cleaner
    * frees the blocks and files of collected plans on its own thread after
    * a GC finds them. Returns the heap in use (MiB) after each GC.
    */
  def settleHeapMb(): Seq[Double] = {
    def usedMb() = { System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0 }
    val steps = scala.collection.mutable.ArrayBuffer(usedMb())
    while (steps.size < 10 && (steps.size < 2 || steps.last < steps.init.last - 0.5)) {
      Thread.sleep(200)
      steps += usedMb()
    }
    steps.toSeq
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
}
