package graft

import org.apache.spark.sql.functions._

import graft.Gate.t
import graft.functions.DruidFunctions

/** Ingestion gates (§2.1): partitioned segment sinks, input formats
  * (CSV, TSV, JSON, regex, ORC, Avro, protobuf, JDBC) and schema-merging
  * append. Each writes into its own `Gate.scratch` directory.
  */
object IngestGates {

  val gates: Seq[Gate] = Seq(

    // ---------------------------- ingestion: partitioned segment sink (§2.1)
    Gate("q_sql_replace", (s, dir) => {
      // REPLACE INTO … OVERWRITE WHERE (reference DruidSqlReplace + MSQ
      // replace-time-chunks): ingest events, replace days [01-02, 01-04)
      // with doubled values, read back — interval days swapped atomically,
      // outside days untouched
      val out = Gate.scratch(dir, "replace")
      val ev = t(s, dir)("events")
      graft.operators.Ingest.writeSegments(ev, out, "ts", clusterBy = Seq("user_id"))
      val repl = ev
        .filter(to_date(col("ts")) >= "2024-01-02" && to_date(col("ts")) < "2024-01-04")
        .withColumn("value", col("value") * 2)
      graft.operators.Ingest.replaceWhere(repl, out, "ts", "2024-01-02", "2024-01-04")
      s.read.parquet(out)
        .filter(col("__day") >= lit("2024-01-01") && col("__day") <= lit("2024-01-05"))
        .groupBy(col("__day").as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 3).as("sum_value"))
        .orderBy(col("day"), col("event_type"))
    },
      """SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n,
                round(sum(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-02'
                                AND CAST(ts AS DATE) < DATE '2024-01-04'
                               THEN value * 2 ELSE value END), 3) AS sum_value
         FROM events
         WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-01' AND DATE '2024-01-05'
         GROUP BY 1, 2 ORDER BY 1, 2"""),

    Gate("q_ingest_roundtrip", (s, dir) => {
      // the reference's batch ingest contract: write time-partitioned
      // columnar "segments" (parquet partitioned by day bucket), read back
      // with partition pruning, aggregate. Mirrors INSERT … PARTITIONED BY.
      val out = Gate.scratch(dir, "ingest")
      val ev = t(s, dir)("events")
        .withColumn("day", to_date(col("ts")))
      // repartition by the partition key first: otherwise every one of the
      // 32 write tasks emits a file into every day directory (~960 small
      // files); keyed, each day is written by one task — the segment-sized
      // file discipline the reference enforces (5-10M rows/segment)
      ev.repartition(col("day"))
        .write.mode("overwrite").partitionBy("day").parquet(out)
      s.read.parquet(out)
        .filter(col("day") >= lit("2024-01-02") && col("day") <= lit("2024-01-03"))
        .groupBy(col("day"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 3).as("sum_value"))
        .orderBy(col("day"), col("event_type"))
    },
      """SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n,
                round(sum(value), 3) AS sum_value
         FROM events
         WHERE CAST(ts AS DATE) >= DATE '2024-01-02'
           AND CAST(ts AS DATE) <= DATE '2024-01-03'
         GROUP BY 1, 2 ORDER BY 1, 2"""),

    // ------------------------------------------- input formats (§2.1)
    Gate("q_source_csv", (s, dir) => {
      // CSV input format: write a CSV copy, read it back with schema, agg —
      // equivalence with the parquet-side oracle proves the format adapter
      val out = Gate.scratch(dir, "csv")
      val ev = t(s, dir)("events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      ev.write.mode("overwrite").option("header", "true").csv(out)
      s.read.option("header", "true").schema(ev.schema).csv(out)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 3).as("sum_value"))
        .orderBy(col("event_type"))
    },
      """SELECT event_type, count(*) AS n, round(sum(value), 3) AS sum_value
         FROM events GROUP BY event_type ORDER BY event_type"""),

    Gate("q_source_tsv", (s, dir) => {
      // delimited (TSV) input format (reference DelimitedInputFormat): same
      // adapter as CSV with a tab separator
      val out = Gate.scratch(dir, "tsv")
      val ev = t(s, dir)("events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      ev.write.mode("overwrite").option("header", "true").option("sep", "\t").csv(out)
      s.read.option("header", "true").option("sep", "\t").schema(ev.schema).csv(out)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 3).as("sum_value"))
        .orderBy(col("event_type"))
    },
      """SELECT event_type, count(*) AS n, round(sum(value), 3) AS sum_value
         FROM events GROUP BY event_type ORDER BY event_type"""),

    Gate("q_source_mvd", (s, dir) => {
      // delimited input with listDelimiter (reference DelimitedInputFormat):
      // a '|'-separated cell parses as a multi-value dimension, grouping on
      // it explodes per element
      val out = Gate.scratch(dir, "mvd")
      t(s, dir)("part")
        .select(col("p_partkey"),
          regexp_replace(col("p_name"), " ", "|").as("words"))
        .write.mode("overwrite").option("header", "true").option("sep", "\t")
        .csv(out)
      graft.sources.Sources.delimited(s, out, sep = "\t",
          listDelimiter = "|", mvColumns = Seq("words"))
        .select(col("p_partkey").cast("long").as("p_partkey"),
          explode(col("words")).as("w"))
        .groupBy(col("w"))
        .agg(count(lit(1)).as("n"), sum(col("p_partkey")).as("key_sum"))
        .orderBy(col("w"))
    },
      """SELECT w, count(*) AS n, CAST(sum(p_partkey) AS BIGINT) AS key_sum
         FROM part, unnest(string_split(p_name, ' ')) AS t(w)
         GROUP BY w ORDER BY w"""),

    Gate("q_source_json", (s, dir) => {
      val out = Gate.scratch(dir, "json")
      val ev = t(s, dir)("events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      ev.write.mode("overwrite").json(out)
      s.read.schema(ev.schema).json(out)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 3).as("sum_value"))
        .orderBy(col("event_type"))
    },
      """SELECT event_type, count(*) AS n, round(sum(value), 3) AS sum_value
         FROM events GROUP BY event_type ORDER BY event_type"""),

    Gate("q_source_regex", (s, dir) => {
      // regex input format (reference RegexInputFormat + lines format):
      // write pipe-delimited text lines, read as raw text, parse columns
      // with regexp_extract
      val out = Gate.scratch(dir, "regex")
      t(s, dir)("events")
        .select(concat_ws("|", col("event_id"), col("event_type"), col("value"))
          .as("value"))
        .write.mode("overwrite").text(out)
      val pattern = "^([0-9]+)\\|([a-z]+)\\|(.*)$"
      s.read.text(out)
        .select(
          regexp_extract(col("value"), pattern, 1).cast("long").as("event_id"),
          regexp_extract(col("value"), pattern, 2).as("event_type"),
          regexp_extract(col("value"), pattern, 3).cast("double").as("v"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("v")), 3).as("sum_value"))
        .orderBy(col("event_type"))
    },
      """SELECT event_type, count(*) AS n, round(sum(value), 3) AS sum_value
         FROM events GROUP BY event_type ORDER BY event_type"""),

    Gate("q_expr_timeceil", (s, dir) => {
      // TIME_CEIL to 15-minute buckets
      t(s, dir)("events").filter(col("event_id") < 200)
        .select(col("event_id"),
          DruidFunctions.timeCeil(col("ts"), "PT15M").as("ceil15m"))
        .orderBy(col("event_id"))
    },
      """SELECT event_id,
                make_timestamp(epoch_us(ts) - (epoch_us(ts) % 900000000) +
                  CASE WHEN epoch_us(ts) % 900000000 = 0 THEN 0
                       ELSE 900000000 END) AS ceil15m
         FROM events WHERE event_id < 200 ORDER BY event_id"""),

    // ------------------------- schema-merging append (§2.12 TABLE(APPEND))
    Gate("q_union_by_name", (s, dir) => {
      val c = t(s, dir)("customer").select(col("c_name").as("name"),
        col("c_acctbal").as("acctbal"), col("c_mktsegment").as("segment"))
      val su = t(s, dir)("supplier").select(col("s_name").as("name"),
        col("s_acctbal").as("acctbal"))
      c.unionByName(su, allowMissingColumns = true)
        .groupBy(coalesce(col("segment"), lit("(none)")).as("segment"))
        .agg(count(lit(1)).as("n"), round(sum(col("acctbal")), 2).as("total_bal"))
        .orderBy(col("segment"))
    },
      """SELECT coalesce(segment, '(none)') AS segment, count(*) AS n,
                round(sum(acctbal), 2) AS total_bal
         FROM (
           SELECT c_name AS name, c_acctbal AS acctbal, c_mktsegment AS segment
           FROM customer
           UNION ALL BY NAME
           SELECT s_name AS name, s_acctbal AS acctbal FROM supplier)
         GROUP BY 1 ORDER BY 1"""),

    Gate("q_agg_firstlast_refold", (s, dir) => {
      // stored first/last PAIR intermediates (reference SerializablePair
      // columns in rollup tables): a daily rollup stores struct(__time,
      // value) min/max pairs, a later query re-folds the stored pairs —
      // the result must equal direct first/last over the raw rows
      val ev = t(s, dir)("events")
      val daily = ev
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(min(struct(col("ts"), col("value"))).as("fp"),
          max(struct(col("ts"), col("value"))).as("lp"))
      daily.groupBy(col("event_type"))
        .agg(round(min(col("fp")).getField("value"), 3).as("first_value"),
          round(max(col("lp")).getField("value"), 3).as("last_value"))
        .orderBy(col("event_type"))
    },
      """SELECT event_type, round(arg_min(value, ts), 3) AS first_value,
                round(arg_max(value, ts), 3) AS last_value
         FROM events GROUP BY event_type ORDER BY event_type"""),

    // --------------------------------------- ORC input format (§2.1)
    Gate("q_source_orc", (s, dir) => {
      val out = Gate.scratch(dir, "orc")
      val n = t(s, dir)("nation")
      n.write.mode("overwrite").orc(out)
      s.read.orc(out)
        .groupBy(col("n_regionkey")).agg(count(lit(1)).as("n"))
        .orderBy(col("n_regionkey"))
    },
      """SELECT n_regionkey, count(*) AS n FROM nation
         GROUP BY 1 ORDER BY 1"""),

    Gate("q_source_jdbc", (s, dir) => {
      // SQL/JDBC input source (reference SqlInputSource): round-trip a
      // table through embedded Derby and read it back as a PARTITIONED
      // jdbc scan (4 key-range slices — the shape that keeps a 100-TB
      // ingest from serializing through one connection)
      val db = Gate.scratch(dir, "derby")
      val url = s"jdbc:derby:$db;create=true"
      t(s, dir)("supplier")
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
          col("s_acctbal"))
        .write.mode("overwrite").jdbc(url, "supplier_src",
          new java.util.Properties)
      graft.sources.Sources.jdbc(s, url, "supplier_src",
        bounds = Some(("s_suppkey", 0L, 10000L, 4)))
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n"), round(sum(col("s_acctbal")), 2).as("bal"))
        .orderBy(col("s_nationkey"))
    },
      """SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n,
                round(CAST(sum(s_acctbal) AS DOUBLE), 2) AS bal
         FROM supplier GROUP BY 1 ORDER BY 1"""),

    Gate("q_source_avro", (s, dir) => {
      // Avro object-container input format (reference avro-extensions
      // AvroOCFInputFormat), built on the public Avro core + mapred APIs
      // (no spark-avro jar in this image): schema from the OCF header,
      // block-splittable parallel record reads
      val out = Gate.scratch(dir, "avro")
      graft.sources.Sources.writeAvro(
        t(s, dir)("customer")
          .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
            col("c_acctbal")), out)
      graft.sources.Sources.avro(s, out)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), round(sum(col("c_acctbal")), 2).as("bal"))
        .orderBy(col("c_mktsegment"))
    },
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
                round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2) AS bal
         FROM customer GROUP BY 1 ORDER BY 1"""),

    Gate("q_source_protobuf", (s, dir) => {
      // protobuf input format (reference protobuf-extensions): messages
      // encoded to the public wire format (fixture side), stored as a
      // binary column, flattened back to typed columns with the
      // descriptor-less ProtoField expressions (product side)
      import graft.functions.ProtobufWire._
      val enc = udf((k: Long, seg: String, bal: Double) =>
        graft.functions.ProtobufWire.encode(
          Seq(1 -> k, 2 -> seg, 3 -> bal)))
      val out = Gate.scratch(dir, "proto")
      t(s, dir)("customer")
        .select(enc(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
          .as("msg"))
        .write.mode("overwrite").parquet(out)
      s.read.parquet(out)
        .select(protoVarint(col("msg"), 1).as("c_custkey"),
          protoString(col("msg"), 2).as("c_mktsegment"),
          protoDouble(col("msg"), 3).as("c_acctbal"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), round(sum(col("c_acctbal")), 2).as("bal"),
          max(col("c_custkey")).as("max_key"))
        .orderBy(col("c_mktsegment"))
    },
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
                round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2) AS bal,
                CAST(max(c_custkey) AS BIGINT) AS max_key
         FROM customer GROUP BY 1 ORDER BY 1"""),

    Gate("q_source_protobuf_desc", (s, dir) => {
      // descriptor-file-driven flatten (reference protobuf-extensions
      // FileBasedProtobufBytesDecoder): the schema comes from a compiled
      // FileDescriptorSet — itself protobuf wire format, parsed by the
      // same scanner — not from hand-supplied (fieldNo, kind) pairs
      import graft.sources.ProtoDescriptor
      val enc = udf((k: Long, seg: String, bal: Double) =>
        graft.functions.ProtobufWire.encode(
          Seq(1 -> k, 2 -> seg, 3 -> bal)))
      val out = Gate.scratch(dir, "protodesc")
      t(s, dir)("customer")
        .select(enc(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
          .as("msg"))
        .write.mode("overwrite").parquet(out)
      val desc = ProtoDescriptor.buildDescriptorSet("graft", "Customer", Seq(
        ("c_custkey", 1, 3L), ("c_mktsegment", 2, 9L), ("c_acctbal", 3, 1L)))
      ProtoDescriptor.flatten(s.read.parquet(out), "msg", desc, "graft.Customer")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), round(sum(col("c_acctbal")), 2).as("bal"),
          max(col("c_custkey")).as("max_key"))
        .orderBy(col("c_mktsegment"))
    },
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
                round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2) AS bal,
                CAST(max(c_custkey) AS BIGINT) AS max_key
         FROM customer GROUP BY 1 ORDER BY 1""")
  )
}
