package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.functions.{fnv1a32, money_dec2, wire_decode, wire_encode}
import graft.streaming.StreamOps

/** Queries derived from the reference's own operator surface (SURVEY.md §2
  * Part A). Each is a plain `Column`-expression plan so Catalyst gets full
  * pushdown/pruning/codegen; each ends in a canonical `orderBy` of a unique
  * key for oracle determinism.
  */
object ReferenceOps {

  /** Sum money-typed doubles exactly: per-value conversion to
    * DECIMAL(18,2) (the data is 2-decimal), exact decimal accumulation
    * (order-insensitive), then back to double — bit-identical across
    * engines and partitionings. At 100 TB this matters doubly: double-sum
    * results would differ run to run with shuffle order, breaking
    * retries/audits. The per-value conversion is
    * [[graft.functions.money_dec2]] (round 14): same decimal value and
    * type as `cast(c AS DECIMAL(18,2))` on 2-decimal data, without the
    * per-row Double.toString/BigDecimal cost that serializes the scan
    * stage. */
  def moneySum(c: Column): Column = sum(money_dec2(c)).cast(DoubleType)

  /** A1+A11+A16: the sales pipeline, [[StreamOps.salesTotals]]. */
  def salesTotals(spark: SparkSession, dir: String): DataFrame =
    StreamOps.salesTotals(Tables.events(spark, dir)).orderBy(col("user_id"))

  /** A11+A12: projection + derived columns + key extraction
    * (reference: sales_producer_client.go:59 key=CustomerName;
    * sales_consumer_client.go:91-95 total=quantity*price).
    */
  def recordProjection(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .select(
        $"l_orderkey", $"l_linenumber",
        concat($"l_returnflag", lit("|"), $"l_linestatus").as("record_key"),
        ($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("net_revenue"),
        ($"l_quantity" * $"l_extendedprice").as("gross"))
      .orderBy($"l_orderkey", $"l_linenumber")
  }

  /** A13: malformed-record guard — drop records shorter than the minimum
    * frame or with a wrong leading byte (reference:
    * golang/cmd/consumer/main.go:43-46).
    */
  def malformedFilter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .filter(length($"props") >= 5 && substring($"props", 1, 1) === "{")
      .select($"event_id", $"props")
      .orderBy($"event_id")
  }

  /** A14: multi-way event dispatch — classify by event type; counts and
    * totals per branch (reference: multi_event_proto_consumer_client.go:
    * 100-126 routes purchases/logins/searches to separate collections).
    */
  def eventDispatch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n"),
        moneySum($"value").as("total_value"))
      .orderBy($"event_type")
  }

  /** A15: the custom FNV-1a partitioner — partition = fnv1a32(key) % N with
    * the "CUSTOM"→0 override (reference: custom_order_partitioner.go:15-36).
    * Exposed as a computed column (usable directly as a Kafka sink
    * `partition` column or as a `repartition(n, col)` key).
    */
  def customPartition(spark: SparkSession, dir: String, numPartitions: Int = 8): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .select($"event_id", $"user_id".cast(StringType).as("key"))
      .withColumn("part_id",
        when($"key" === "CUSTOM", lit(0L))
          .otherwise(pmod(fnv1a32($"key"), lit(numPartitions.toLong))))
      .orderBy($"event_id")
  }

  /** A16+A17: per-group commit offset = max(offset)+1
    * (reference: concurrent_record_processor.go:79-89).
    */
  def offsetCommit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .groupBy($"user_id")
      .agg((max($"event_id") + 1).as("commit_offset"))
      .orderBy($"user_id")
  }

  /** A21+A22: JSON serde roundtrip — parse the props payload, re-encode it
    * (reference: sales_producer_client.go:56 json.Marshal /
    * sales_consumer_client.go:89-90 json.Unmarshal).
    */
  def jsonRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .select($"event_id",
        from_json($"props", StructType(Seq(StructField("k", IntegerType))))
          .getField("k").as("k"))
      .withColumn("reencoded", to_json(struct($"k")))
      .orderBy($"event_id")
  }

  /** A21+A13 composed: semi-structured field extraction + aggregation —
    * the payload-analytics shape every JSON topic consumer needs (parse
    * the value, pull a field, aggregate). `from_json` with an explicit
    * schema is codegen'd and scan-adjacent; the malformed guard runs
    * FIRST so bad payloads are dropped, not nulled into the aggregate —
    * the defensive-decode order the reference's consumer uses
    * (sales_consumer_client.go:89-90 checks the Unmarshal error before
    * touching fields). */
  def jsonFieldAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .where(length($"props") >= 5 && $"props".startsWith("{"))
      .withColumn("k",
        from_json($"props", StructType(Seq(StructField("k", LongType))))
          .getField("k"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"k").as("sum_k"),
        min($"k").as("min_k"), max($"k").as("max_k"))
      .orderBy($"event_type")
  }

  /** A26+A27: Confluent wire-format encode ∘ decode roundtrip over a
    * projected payload column, surfacing the header bytes for the oracle
    * (reference: golang/util/index.go:16-36; golang/cmd/consumer/main.go:48-51).
    */
  def wireFormatRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val framed = Tables.events(spark, dir)
      .select(
        $"event_id",
        ($"user_id" % 1000).cast(IntegerType).as("schema_id"),
        $"props".cast(BinaryType).as("payload"))
      .withColumn("frame", wire_encode($"schema_id", $"payload"))
      .withColumn("decoded", wire_decode($"frame"))
    framed.select(
        $"event_id",
        $"schema_id",
        hex(substring($"frame", 1, 5)).as("header_hex"),
        $"decoded.schema_id".as("decoded_id"),
        ($"decoded.payload" <=> $"payload").as("payload_ok"),
        length($"payload").as("payload_len"))
      .orderBy($"event_id")
  }

  /** A23+A24: Avro binary serde roundtrip through the custom codec
    * expressions — encode an Avenger-schema record built from events
    * columns, decode it back, surface the decoded fields + frame length
    * (SQL-computable: every string here is < 64 bytes ⇒ 1-byte zigzag
    * length prefixes). */
  def avroRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.{avro_record_decode, avro_record_encode}
    Tables.events(spark, dir)
      .select($"event_id", struct(
        $"event_type".as("name"),
        $"user_id".cast(StringType).as("real_name"),
        array($"props").as("movies")).as("rec"))
      .withColumn("frame", avro_record_encode($"rec"))
      .withColumn("dec", avro_record_decode($"frame"))
      .select(
        $"event_id",
        $"dec.name".as("name"),
        $"dec.real_name".as("real_name"),
        element_at($"dec.movies", 1).as("movie0"),
        length($"frame").as("frame_len"))
      .orderBy($"event_id")
  }

  /** A24 second half: Avro reader/writer schema RESOLUTION (reference:
    * golang/avro/avenger_avro.go:41-62 `DeserializeAvengerAvroFromSchema`
    * decodes against a registry-fetched writer schema; versioned lookups in
    * commands.sh:37-39). Even event_ids encode with a v1 writer schema that
    * predates `movies` — decoding fills the reader's declared default `[]`
    * (golang/avenger.avsc:9-14); odd event_ids encode with a v2 writer that
    * ADDS a `team` field unknown to the reader — decoding skips it. Both
    * resolve into the same reader shape in one pass. */
  def avroEvolution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.{avro_decode_schema, avro_encode_schema}
    val v1 =
      """{"type":"record","name":"avenger","fields":[
        |{"name":"name","type":"string"},{"name":"real_name","type":"string"}]}
        |""".stripMargin.replaceAll("\n", "")
    val v2 =
      """{"type":"record","name":"avenger","fields":[
        |{"name":"name","type":"string"},{"name":"real_name","type":"string"},
        |{"name":"movies","type":{"type":"array","items":"string"},"default":[]},
        |{"name":"team","type":"string"}]}
        |""".stripMargin.replaceAll("\n", "")
    val reader = graft.sources.SchemaCatalog.AvengerAvroJson
    Tables.events(spark, dir)
      .select($"event_id",
        when($"event_id" % 2 === 0, lit(1)).otherwise(lit(2)).as("writer_version"),
        when($"event_id" % 2 === 0,
          avro_encode_schema(struct(
            $"event_type".as("name"),
            $"user_id".cast(StringType).as("real_name")), v1))
        .otherwise(
          avro_encode_schema(struct(
            $"event_type".as("name"),
            $"user_id".cast(StringType).as("real_name"),
            array($"props").as("movies"),
            lit("earth-616").as("team")), v2)).as("frame"))
      .select($"event_id", $"writer_version",
        when($"writer_version" === 1, avro_decode_schema($"frame", v1, reader))
          .otherwise(avro_decode_schema($"frame", v2, reader)).as("dec"),
        length($"frame").as("frame_len"))
      .select($"event_id", $"writer_version",
        $"dec.name".as("name"), $"dec.real_name".as("real_name"),
        concat_ws(",", $"dec.movies").as("movies_csv"),
        size($"dec.movies").as("n_movies"), $"frame_len")
      .orderBy($"event_id")
  }

  /** A26+A28+A29+A24 integration — the reference consumer's full path:
    * producers frame payloads in the Confluent wire format under TWO
    * registered schema versions; the consumer reads each frame's schema
    * id, fetches THAT writer schema from the registry, and resolves it
    * against the reader schema (reference: versioned registry lookups
    * commands.sh:37-39 feeding `DeserializeAvengerAvroFromSchema`,
    * golang/avro/avenger_avro.go:52-62). Registry ids are plan-time
    * constants (bounded metadata, never a per-row lookup); the per-row
    * work is wire decode + a branch on the embedded id. */
  def registryEvolution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.{avro_decode_schema, avro_encode_schema, wire_decode, wire_encode}
    val v1 =
      """{"type":"record","name":"avenger","fields":[
        |{"name":"name","type":"string"},{"name":"real_name","type":"string"}]}
        |""".stripMargin.replaceAll("\n", "")
    val v2 =
      """{"type":"record","name":"avenger","fields":[
        |{"name":"name","type":"string"},{"name":"real_name","type":"string"},
        |{"name":"movies","type":{"type":"array","items":"string"},"default":[]}]}
        |""".stripMargin.replaceAll("\n", "")
    val reader = graft.sources.SchemaCatalog.AvengerAvroJson
    val catalog = new graft.sources.SchemaCatalog
    val id1 = catalog.register("avro-avengers-value", v1).id
    val id2 = catalog.register("avro-avengers-value", v2).id
    val framed = Tables.events(spark, dir)
      .select($"event_id",
        when($"event_id" % 2 === 0,
          wire_encode(lit(id1), avro_encode_schema(struct(
            $"event_type".as("name"),
            $"user_id".cast(StringType).as("real_name")), v1)))
        .otherwise(
          wire_encode(lit(id2), avro_encode_schema(struct(
            $"event_type".as("name"),
            $"user_id".cast(StringType).as("real_name"),
            array($"props").as("movies")), v2))).as("frame"))
    framed
      .select($"event_id", wire_decode($"frame").as("d"), length($"frame").as("frame_len"))
      .select($"event_id", $"d.schema_id".as("schema_id"),
        when($"d.schema_id" === id1, avro_decode_schema($"d.payload", v1, reader))
          .otherwise(avro_decode_schema($"d.payload", v2, reader)).as("rec"),
        $"frame_len")
      .select($"event_id", $"schema_id",
        $"rec.name".as("name"), $"rec.real_name".as("real_name"),
        concat_ws(",", $"rec.movies").as("movies_csv"), $"frame_len")
      .orderBy($"event_id")
  }

  /** A25: proto3 serde roundtrip through the custom codec expressions
    * (tag-length-value; 1-byte tags and lengths at these string sizes). */
  def protoRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.{proto_record_decode, proto_record_encode}
    Tables.events(spark, dir)
      .select($"event_id", struct(
        $"event_type".as("name"),
        $"user_id".cast(StringType).as("real_name"),
        array($"props").as("movies")).as("rec"))
      .withColumn("frame", proto_record_encode($"rec"))
      .withColumn("dec", proto_record_decode($"frame"))
      .select(
        $"event_id",
        $"dec.name".as("name"),
        $"dec.real_name".as("real_name"),
        element_at($"dec.movies", 1).as("movie0"),
        length($"frame").as("frame_len"))
      .orderBy($"event_id")
  }

  /** A4-adjacent: prove predicate pushdown + column pruning reach the
    * parquet scan (`PushedFilters`/`ReadSchema` in .explain).
    */
  def filterPushdownScan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .filter($"l_shipdate" >= lit("1995-06-01").cast(TimestampType))
      .select(
        $"l_orderkey", $"l_linenumber", $"l_quantity",
        $"l_shipdate".cast(DateType).as("ship_date"))
      .orderBy($"l_orderkey", $"l_linenumber")
  }

  /** A21-adjacent: SOURCE-FORMAT roundtrip proof — the same event slice
    * written to JSONL and headered CSV, read back through `spark.read`
    * with an EXPLICIT schema (schema inference re-scans the data and is
    * banned at 100 TB), and reconciled group-by-group against the parquet
    * original (count + exact DECIMAL(18,2) revenue per type; Java's
    * shortest-roundtrip double formatting makes both text encodings
    * lossless). This is the ingestion-boundary check a lakehouse runs
    * when a feed lands as JSONL/CSV before compaction to parquet: every
    * reader path (parquet / json / csv) must agree row-for-row. The
    * roundtrip files land under java.io.tmpdir keyed by the input dir,
    * overwritten per run — deterministic content, deterministic result. */
  /** A13-adjacent: malformed-record ACCOUNTING on the CSV ingest path —
    * the error-path counterpart of [[formatRoundtrip]]. A deterministic
    * corruption (every event_id ≡ 0 mod 7 gets an unparseable `value`
    * field) is injected into the CSV text, which is then read back in
    * PERMISSIVE mode with an explicit schema: Spark nulls the field that
    * failed to parse and keeps the row, so the audit counts rows whose
    * value column came back null per event type. This is the quarantine
    * report a 100 TB feed emits before promoting a landing zone to the
    * lake — all per-row, zero extra shuffles beyond the profile agg.
    * The oracle replays the mod-7 rule against the parquet truth. */
  /** The 4-field event slice both text-format audits write and read —
    * one definition so the two roundtrips can never drift apart. */
  private val EventsTextSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("event_type", StringType),
    StructField("user_id", LongType),
    StructField("value", DoubleType)))

  /** Scratch dirs this JVM created under a LOCAL root — deleted on
    * shutdown so repeated bench/test/gate runs don't accumulate full text
    * copies of the events slice under the tmp root (gigabytes at sf1). */
  private val fmtScratch =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.io.File]()
  private lazy val fmtCleanupHook: Boolean = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles(); if (kids != null) kids.foreach(rm)
        f.delete(); ()
      }
      fmtScratch.forEach(rm(_))
    }))
    true
  }

  /** Scratch dir for a format audit. The root comes from
    * `spark.graft.scratchDir` when set: `java.io.tmpdir` (the local-mode
    * default) is NODE-LOCAL on a real cluster, so executors would scatter
    * the write across machines and the re-read would silently miss data —
    * at scale the root must be shared FS (conf/cluster-100tb.conf sets
    * it). The dir name is keyed by input dir (deterministic within a
    * process) AND the JVM pid, so two concurrent processes benching the
    * same data dir never race on each other's overwrite; local dirs are
    * registered for shutdown cleanup. */
  private[graft] def fmtTmpDir(spark: SparkSession, prefix: String,
      dir: String): String = {
    val root = spark.conf.getOption("spark.graft.scratchDir")
      .getOrElse(sys.props("java.io.tmpdir"))
    val name = s"${prefix}_${dir.hashCode & 0x7fffffff}_p${ProcessHandle.current().pid()}"
    if (root.contains("://")) {
      // Shared-FS root (the cluster conf): the pid-keyed dir would
      // otherwise accumulate one events-slice copy per run forever —
      // register a Hadoop-FS deleteOnExit so the filesystem's shutdown
      // hook removes it (the audit's re-read completes within this JVM).
      val p = s"${root.stripSuffix("/")}/$name"
      // best-effort: path construction must stay side-effect-free when the
      // shared FS is unreachable from this process (the local-mode spec
      // pins an hdfs:/// conf with no namenode — resolution happens at
      // write time anyway)
      // NonFatal, not just IOException: Hadoop surfaces an unresolvable
      // namenode host as IllegalArgumentException(UnknownHostException),
      // and path construction is documented side-effect-free for ANY
      // unreachable-FS misconfiguration, not one exception class
      try {
        val hp = new org.apache.hadoop.fs.Path(p)
        hp.getFileSystem(spark.sparkContext.hadoopConfiguration).deleteOnExit(hp)
      } catch { case scala.util.control.NonFatal(_) => }
      p
    } else {
      val f = new java.io.File(root, name)
      fmtScratch.add(f)
      val _ = fmtCleanupHook
      f.getAbsolutePath
    }
  }

  def csvMalformedAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val corrupted = Tables.events(spark, dir)
      .select($"event_id", $"event_type", $"user_id",
        // null-safe corruption: concat(lit("x"), null) would be null, be
        // written as an empty cell, read back null, and be MIS-counted as
        // quarantined while the oracle's mod-7 replay counts it good.
        // coalesce guarantees every mod-7 row carries a real unparseable
        // token regardless of the source value.
        when($"event_id" % 7 === 0,
          concat(lit("x"), coalesce($"value".cast(StringType), lit(""))))
          .otherwise($"value".cast(StringType)).as("value"))
    val tmp = fmtTmpDir(spark, "graft_badcsv", dir)
    corrupted.write.mode("overwrite").option("header", "true").csv(tmp)
    spark.read.schema(EventsTextSchema).option("header", "true")
      .option("mode", "PERMISSIVE").csv(tmp)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_rows"),
        count($"value").as("n_good"),
        sum(($"value".isNull).cast(LongType)).as("n_quarantined"))
      .orderBy($"event_type")
  }

  def formatRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.events(spark, dir)
      .select($"event_id", $"event_type", $"user_id", $"value")
    val tmp = fmtTmpDir(spark, "graft_fmt", dir)
    base.write.mode("overwrite").json(s"$tmp/json")
    base.write.mode("overwrite").option("header", "true").csv(s"$tmp/csv")
    def profile(df: DataFrame, tag: String): DataFrame =
      df.groupBy($"event_type")
        .agg(count(lit(1)).as(s"n_$tag"), moneySum($"value").as(s"rev_$tag"))
    profile(base, "events")
      .join(profile(
        spark.read.schema(EventsTextSchema).json(s"$tmp/json"), "json"),
        Seq("event_type"))
      .join(profile(spark.read.schema(EventsTextSchema)
        .option("header", "true").csv(s"$tmp/csv"), "csv"),
        Seq("event_type"))
      .select($"event_type", $"n_events", $"rev_events".as("revenue"),
        ($"n_json" === $"n_events" && $"rev_json" === $"rev_events")
          .as("json_ok"),
        ($"n_csv" === $"n_events" && $"rev_csv" === $"rev_events")
          .as("csv_ok"))
      .orderBy($"event_type")
  }
}
