package graft

import org.apache.spark.sql.functions._

import graft.sources.{ConfluentSerde, SchemaCatalog, SyntheticSources}

/** Sources package: schema catalog (A29), high-level Confluent serde
  * (A28), synthetic generators (A1–A3).
  */
class SourcesSpec extends SparkSpecBase {

  test("catalog registration is create-if-absent with versioned subjects") {
    val c = new SchemaCatalog
    val r1 = c.register("t-value", """{"a":1}""")
    val r2 = c.register("t-value", """{"a":1}""")
    val r3 = c.register("t-value", """{"a":2}""")
    assert(r1.id == r2.id, "re-registering the same schema must return the same id")
    assert(r3.version == 2 && r3.id != r1.id)
    assert(c.latest("t-value").get.id == r3.id)
    assert(c.byVersion("t-value", 1).get.id == r1.id)
    assert(c.schemaById(r3.id).get.subject == "t-value")
    assert(c.latest("missing-value").isEmpty)
  }

  test("avro serde roundtrips through the catalog-framed wire format") {
    import spark.implicits._
    val serde = new ConfluentSerde(SchemaCatalog.withReferenceSchemas())
    val df = Seq(("Thor", "Odinson", Seq("Ragnarok", "Endgame")))
      .toDF("name", "real_name", "movies")
    val rec = struct($"name", $"real_name", $"movies")
    val out = df.select(serde.avroDecoded(serde.avroEncoded(rec, "avro-avengers-value")).as("d"))
      .selectExpr("d.schema_id", "d.record.name", "d.record.movies[1]")
      .collect().head
    assert(out.getInt(0) == 1) // preloaded reference schema = id 1
    assert(out.getString(1) == "Thor" && out.getString(2) == "Endgame")
  }

  test("proto serde roundtrips and registers its own subject/id") {
    import spark.implicits._
    val catalog = SchemaCatalog.withReferenceSchemas()
    val serde = new ConfluentSerde(catalog)
    val df = Seq(("Hulk", "Banner", Seq.empty[String])).toDF("name", "real_name", "movies")
    val rec = struct($"name", $"real_name", $"movies")
    val out = df.select(serde.protoDecoded(serde.protoEncoded(rec, "proto-avengers-value")).as("d"))
      .selectExpr("d.schema_id", "d.record.name").collect().head
    assert(out.getInt(0) == catalog.latest("proto-avengers-value").get.id)
    assert(out.getString(1) == "Hulk")
  }

  test("toFramedKafkaRecords shapes (key, value) with a decodable frame") {
    import spark.implicits._
    val serde = new ConfluentSerde(SchemaCatalog.withReferenceSchemas())
    val df = Seq(("k1", "Thor", "Odinson", Seq("Ragnarok")))
      .toDF("id", "name", "real_name", "movies")
    val framed = serde.toFramedKafkaRecords(df, keyCol = "id", subject = "avro-avengers-value")
    assert(framed.columns.toSeq == Seq("key", "value"))
    val back = framed.select(serde.avroDecoded($"value").as("d"))
      .selectExpr("d.record.name").as[String].collect().head
    assert(back == "Thor")
  }

  test("synthetic transactions are deterministic and distributed (A1/A2)") {
    val a = SyntheticSources.productTransactions(spark, 1000)
    val b = SyntheticSources.productTransactions(spark, 1000)
    assert(a.columns.toSeq ==
      Seq("customer_name", "product_name", "quantity", "price"))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "generator must be deterministic")
    // distributed: plans from Range, not a driver-side localtable
    assert(a.queryExecution.executedPlan.toString.contains("Range"))
  }

  test("DSv2 sales connector: partition planning, parity, reader-level pruning") {
    val df = spark.read.format("graft-sales")
      .option("rows", "100").option("partitions", "4").load()
    assert(df.count() === 100)
    assert(df.rdd.getNumPartitions === 4)
    // generator parity with the range-based A1 source, row for row
    val viaRange = SyntheticSources.productTransactions(spark, 100)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getDouble(3)))
    val viaDsv2 = df.orderBy("row_id")
      .select("customer_name", "product_name", "quantity", "price")
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getDouble(3)))
    assert(viaDsv2.toSeq === viaRange.toSeq)
    // column pruning reaches the reader: the scan's output (and its
    // description) must carry only the required column
    val pruned = df.select("quantity")
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("cols=quantity"), s"pruning not pushed to reader:\n$scan")
    assert(pruned.collect().map(_.getInt(0)).sum === (0 until 100).map(_ % 10 + 1).sum)
  }

  test("DSv2 sales connector: row_id filters push into partition planning") {
    import org.apache.spark.sql.functions.col
    val df = spark.read.format("graft-sales")
      .option("rows", "100").option("partitions", "4").load()
    // range predicate: bounds reach the scan (visible in its description),
    // non-overlapping ranges are pruned at PLAN time, values are right
    val sliced = df.where(col("row_id") >= 30L && col("row_id") < 55L)
    val plan = sliced.queryExecution.executedPlan.toString
    assert(plan.contains("rowBounds=[30,55)"), s"bounds not pushed:\n$plan")
    // rows 0-24 and 75-99 live in partitions 0 and 3 → both pruned
    assert(sliced.rdd.getNumPartitions === 2, "non-overlapping ranges not pruned")
    assert(sliced.select("row_id").collect().map(_.getLong(0)).sorted
      === (30L until 55L).toArray)
    // equality collapses to a single 1-row range
    val one = df.where(col("row_id") === 42L)
    assert(one.rdd.getNumPartitions === 1)
    assert(one.select("quantity").head().getInt(0) === (42 % 10 + 1))
    // empty intersection plans ZERO partitions (never generates a row)
    val none = df.where(col("row_id") >= 1000L)
    assert(none.rdd.getNumPartitions === 0)
    assert(none.count() === 0L)
    // a non-row_id predicate stays post-scan and still filters correctly
    val q = df.where(col("quantity") === 3)
    assert(q.count() === 10L) // row_id % 10 + 1 == 3 → 10 of 100 rows
    // exact statistics: bounds-aware row count reaches the scan stats
    val stats = sliced.queryExecution.optimizedPlan.stats
    assert(stats.rowCount.contains(BigInt(25)),
      s"connector stats not exact: ${stats.rowCount}")
    // LIMIT pushdown caps the planned id window (composes with filters)
    val lim = df.where(col("row_id") >= 30L).limit(5)
    val lplan = lim.queryExecution.executedPlan.toString
    assert(lplan.contains("rowBounds=[30,35)"), s"limit not pushed:\n$lplan")
    assert(lim.select("row_id").collect().map(_.getLong(0)).sorted
      === (30L until 35L).toArray)
    // COUNT(*) pushdown: answered from metadata (window-aware), the
    // aggregate rewritten away — no HashAggregate over generated rows
    val cnt = df.where(col("row_id") >= 30L && col("row_id") < 55L)
      .groupBy().count()
    val cplan = cnt.queryExecution.executedPlan.toString
    assert(cplan.contains("agg=count(*)"), s"count not pushed:\n$cplan")
    assert(cnt.head().getLong(0) === 25L)
    // MIN/MAX(row_id) pushdown: bounds answered from the same window
    // metadata, composing with COUNT in one pushed aggregation
    val mm = df.where(col("row_id") >= 30L && col("row_id") < 55L)
      .agg(org.apache.spark.sql.functions.min("row_id"),
        org.apache.spark.sql.functions.max("row_id"),
        org.apache.spark.sql.functions.count(col("*")))
    val mplan = mm.queryExecution.executedPlan.toString
    assert(mplan.contains("agg=min(row_id),max(row_id),count(*)"),
      s"min/max not pushed:\n$mplan")
    assert(mm.head() === org.apache.spark.sql.Row(30L, 54L, 25L))
    // empty window: COUNT=0, MIN/MAX=NULL — still answered from metadata
    val emptyAgg = df.where(col("row_id") >= 1000L)
      .agg(org.apache.spark.sql.functions.min("row_id"),
        org.apache.spark.sql.functions.count(col("*")))
    assert(emptyAgg.head() === org.apache.spark.sql.Row(null, 0L))
    // a MIN over a GENERATED column is declined: Spark computes it
    // post-scan and the value is still right
    val minQty = df.where(col("row_id") < 13L)
      .agg(org.apache.spark.sql.functions.min("quantity"))
    assert(!minQty.queryExecution.executedPlan.toString.contains("agg=min"),
      "min(quantity) must NOT claim pushdown")
    assert(minQty.head().getInt(0) === 1) // row_id 0 → quantity 1
  }

  test("DSv2 sales connector streams: AvailableNow drain == batch read") {
    val q = spark.readStream.format("graft-sales")
      .option("rows", "57").option("rowsPerBatch", "10").load()
      .writeStream.format("memory").queryName("dsv2_sales")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("dsv2_sales")
    assert(streamed.count() === 57)
    val batch = spark.read.format("graft-sales").option("rows", "57").load()
    assert(streamed.orderBy("row_id").collect().map(_.toString).toSeq ===
      batch.orderBy("row_id").collect().map(_.toString).toSeq)
  }

  test("DSv2 sales connector honors rowsPerBatch admission control under AvailableNow") {
    // run-once drains in ceil(rows/rowsPerBatch) admission-capped batches,
    // not one unbounded gulp — the same cap as continuous operation
    val counts = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.format("graft-sales")
      .option("rows", "57").option("rowsPerBatch", "10").load()
      .writeStream
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-adm").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        counts.synchronized { counts += b.count() }; ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(counts.sum === 57)
    assert(counts.count(_ > 0) === 6)
    assert(counts.forall(_ <= 10))
  }

  test("static multi-event source matches the reference's fixed list (A3)") {
    import spark.implicits._
    val rows = SyntheticSources.staticMultiEvents(spark)
      .select($"key", $"value".cast("string")).as[(String, String)]
      .collect().toMap
    assert(rows == Map("foo" -> "{}", "bar" -> """{"name":"bar"}"""))
  }

  test("JSONL source quarantines malformed lines in PERMISSIVE, drops in DROPMALFORMED") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-jsonl")
    java.nio.file.Files.write(dir.resolve("part-0.jsonl"),
      Seq("""{"id": 1, "name": "ok"}""",
        """{"id": 2 "name": "missing-comma"}""",
        """{"id": 3, "name": "fine"}""").mkString("\n").getBytes("UTF-8"))
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType)))
    // Spark disallows querying ONLY _corrupt_record straight off a raw
    // JSON scan — materialize the parse first (cache), then inspect.
    val permissive = SyntheticSources.readJsonl(spark, dir.toString, schema).cache()
    assert(permissive.count() === 3)
    val rejects = permissive.filter($"_corrupt_record".isNotNull)
      .select($"_corrupt_record").as[String].collect()
    assert(rejects.length === 1 && rejects.head.contains("missing-comma"),
      s"quarantine wrong: ${rejects.toSeq}")
    assert(permissive.filter($"_corrupt_record".isNull).count() === 2)
    val dropped = SyntheticSources.readJsonl(
      spark, dir.toString, schema, mode = "DROPMALFORMED")
    assert(dropped.count() === 2)
    assert(dropped.select($"id").as[Long].collect().sorted.toSeq === Seq(1L, 3L))
  }

  test("CSV source quarantines malformed rows like the JSONL source") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft-csv")
    java.nio.file.Files.writeString(dir.resolve("part.csv"),
      "1,alpha,2.5\nnot-a-long,beta,0.5\n3,gamma,9.0\n")
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType), StructField("v", DoubleType)))
    val permissive = SyntheticSources.readCsv(spark, dir.toString, schema).cache()
    assert(permissive.count() === 3)
    assert(permissive.filter($"_corrupt_record".isNotNull).count() === 1)
    val dropped = SyntheticSources.readCsv(
      spark, dir.toString, schema, mode = "DROPMALFORMED")
    assert(dropped.select($"id").as[Long].collect().sorted.toSeq === Seq(1L, 3L))
  }

  test("ORC round-trips with predicate pushdown (native columnar alternative)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-orc").toString
    Tables.lineitem(spark, Sf0001)
      .select($"l_orderkey", $"l_quantity", $"l_returnflag")
      .write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    assert(back.count() === Tables.lineitem(spark, Sf0001).count())
    val ex = back.filter($"l_quantity" > 40.0).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(ex.contains("PushedFilters") && ex.contains("GreaterThan(l_quantity"),
      s"quantity predicate did not reach the ORC scan:\n$ex")
  }

  test("parquet schema evolution: mergeSchema unions columns, old files null-fill") {
    // The columnar counterpart of the Avro reader/writer resolution story:
    // a dataset directory written over time by evolving jobs (v2 adds a
    // column) must read as ONE table — added columns null-fill for v1
    // files, and a pre-evolution column still prunes/pushes down.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-evolve").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "name")
      .write.parquet(s"$dir/batch=v1")
    Seq((3L, "c", 0.5), (4L, "d", 1.5)).toDF("id", "name", "score")
      .write.parquet(s"$dir/batch=v2")
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.sorted.toSeq === Seq("batch", "id", "name", "score"))
    assert(merged.count() === 4)
    assert(merged.filter($"score".isNull).select($"id").as[Long]
      .collect().sorted.toSeq === Seq(1L, 2L), "v1 rows must null-fill score")
    assert(merged.filter($"score".isNotNull).select($"id").as[Long]
      .collect().sorted.toSeq === Seq(3L, 4L))
    // pre-evolution column predicates still reach the scan
    val ex = merged.filter($"id" > 2L).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(ex.contains("PushedFilters") && ex.contains("GreaterThan(id"),
      s"id predicate did not reach the merged scan:\n$ex")
  }

  // ---- graft-sink: the DSv2 WRITE path (A8/A9 producer semantics) ----

  test("DSv2 sink: batch append commits atomically with per-partition counts") {
    import spark.implicits._
    graft.sources.LogSink.clear("t-batch")
    val df = (1L to 100L).map(i => (i, s"v$i")).toDF("k", "v").repartition(4)
    df.write.format("graft-sink").option("name", "t-batch").mode("append").save()
    val st = graft.sources.LogSink.get("t-batch").get
    assert(st.totalRows === 100L)
    assert(st.rowsByPartition.size === 4)
    assert(st.aborts === 0L)
    assert(st.rows.map(r => (r(0), r(1))).toSet ===
      (1L to 100L).map(i => (i, s"v$i")).toSet)
  }

  test("DSv2 sink: overwrite truncates; append accumulates") {
    import spark.implicits._
    graft.sources.LogSink.clear("t-mode")
    def w(lo: Long, hi: Long, mode: String): Unit =
      (lo to hi).toDF("k").write.format("graft-sink")
        .option("name", "t-mode").mode(mode).save()
    w(1, 10, "append"); w(11, 20, "append")
    assert(graft.sources.LogSink.get("t-mode").get.rows.size === 20)
    w(100, 104, "overwrite")
    val st = graft.sources.LogSink.get("t-mode").get
    assert(st.rows.map(_.head).toSet === (100L to 104L).toSet,
      "overwrite must start from empty, not accumulate")
  }

  test("DSv2 sink: failed task commit aborts the job and surfaces NO rows") {
    import spark.implicits._
    graft.sources.LogSink.clear("t-abort")
    val err = intercept[Exception] {
      (1L to 50L).toDF("k").write.format("graft-sink")
        .option("name", "t-abort").option("failCommits", "true")
        .mode("append").save()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(err).exists(c =>
      Option(c.getMessage).exists(_.contains("injected commit failure"))))
    val st = graft.sources.LogSink.get("t-abort").get
    assert(st.rows.isEmpty && st.totalRows === 0L,
      "two-phase commit must leave nothing visible on abort")
    assert(st.aborts === 1L)
  }

  test("DSv2 sink: replayed commit messages fold idempotently per partition") {
    // Drive the connector API directly: the same partition's commit message
    // delivered twice (coordinator replay / speculative duplicate) must not
    // double rows — counts overwrite by partitionId.
    import org.apache.spark.sql.connector.write.WriterCommitMessage
    import graft.sources.{LogSink, LogSinkCommit, LogSinkWrite}
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    LogSink.clear("t-replay")
    val write = new LogSinkWrite("t-replay",
      StructType(Seq(StructField("k", LongType))), 10000L, false, false)
    val batch = write.toBatch
    val msgs: Array[WriterCommitMessage] =
      Array(LogSinkCommit(0, 3, Vector(Seq(1L), Seq(2L), Seq(3L))),
        LogSinkCommit(1, 2, Vector(Seq(10L), Seq(11L))))
    batch.commit(msgs)
    batch.commit(msgs) // replay
    val st = LogSink.get("t-replay").get
    assert(st.totalRows === 5L, "replayed commit must not double counts")
    assert(st.rows.size === 5, "replayed commit must not duplicate rows")
  }

  test("DSv2 sink: array, struct and map values are not views of the " +
    "writer's reused input row") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
    graft.sources.LogSink.clear("t-nested")
    spark.range(0, 6, 1, 1)
      .selectExpr("id", "array(id, 2 * id) AS a",
        "named_struct('x', 10 * id, 's', concat('s', id)) AS st",
        "map('k', id) AS m")
      .write.format("graft-sink").option("name", "t-nested")
      .mode("append").save()
    val got = graft.sources.LogSink.get("t-nested").get.rows.map { r =>
      val a = r(1).asInstanceOf[ArrayData]
      val st = r(2).asInstanceOf[InternalRow]
      val m = r(3).asInstanceOf[MapData]
      (r(0), a.getLong(0), a.getLong(1), st.getLong(0),
        st.getUTF8String(1).toString, m.keyArray().getUTF8String(0).toString,
        m.valueArray().getLong(0))
    }
    assert(got.sortBy(_._1.asInstanceOf[Long]) ===
      (0L until 6L).map(i => (i, i, 2 * i, 10 * i, s"s$i", "k", i)))
  }

  test("E2/A19 exactly-once: commit crash mid-stream + restart from the " +
    "same checkpoint delivers every row exactly once (no dupes, no gaps)") {
    // The reference's whole pipelining chapter is commit-AFTER-process
    // (golang/chapter_4/pipelining/pipelining_consumer_client.go:98-108);
    // this is that contract under failure: the full graft-sales →
    // transform → graft-sink pipeline crashes at epoch 3's driver-side
    // commit (offsets already written to the WAL, nothing visible in the
    // sink), restarts from the SAME checkpoint, replays exactly the
    // crashed epoch's id range, and drains — totals must be EXACT.
    import org.apache.spark.sql.functions.col
    val name = "t-exactly-once"
    graft.sources.LogSink.clear(name)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-eo-ckpt").toString
    def run(): Unit = {
      val q = spark.readStream.format("graft-sales")
        .option("rows", "57").option("rowsPerBatch", "10").load()
        .select(col("row_id"), col("customer_name"),
          (col("quantity") * col("price")).as("total")) // the A11 transform
        .writeStream.format("graft-sink").option("name", name)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    graft.sources.LogSink.armCommitFailure(name, 3L)
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(err).exists(c => Option(c.getMessage)
      .exists(_.contains("injected commit failure at epoch 3"))), err.toString)
    val mid = graft.sources.LogSink.get(name).get
    assert(mid.totalRows === 30L,
      s"exactly epochs 0-2 (10 rows each) must be visible, got ${mid.epochRows}")
    assert(mid.epochRows.keySet === Set(0L, 1L, 2L))

    run() // recovery: same checkpoint, crashed epoch replays, drain completes
    val st = graft.sources.LogSink.get(name).get
    assert(st.totalRows === 57L, s"epochs after restart: ${st.epochRows}")
    assert(st.epochRows.values.sum === 57L)
    val ids = st.rows.map(_.head.asInstanceOf[Long])
    assert(ids.distinct.size === ids.size, "duplicate deliveries")
    assert(ids.sorted === (0L until 57L), "gaps in delivery")
    // and the transformed values are the batch pipeline's, row for row
    val batch = spark.read.format("graft-sales").option("rows", "57").load()
      .select(col("row_id"), col("customer_name"),
        (col("quantity") * col("price")).as("total"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).sortBy(_._1)
    val sunk = st.rows
      .map(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[String],
        r(2).asInstanceOf[Double])).sortBy(_._1)
    assert(sunk === batch.toVector, "restart must not perturb row contents")
  }

  test("DSv2 sink: streaming epochs record per-epoch delivery counts") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc: org.apache.spark.sql.SQLContext = spark.sqlContext
    graft.sources.LogSink.clear("t-stream")
    val ms = MemoryStream[Long]
    val q = ms.toDF().writeStream.format("graft-sink")
      .option("name", "t-stream")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-sink-ckpt").toString)
      .start()
    try {
      ms.addData(1L to 10L: _*); q.processAllAvailable()
      ms.addData(11L to 15L: _*); q.processAllAvailable()
    } finally q.stop()
    val st = graft.sources.LogSink.get("t-stream").get
    assert(st.epochRows.values.sum === 15L)
    assert(st.epochRows.count(_._2 > 0) === 2,
      s"expected two non-empty epochs, got ${st.epochRows}")
    assert(st.rows.map(_.head).toSet === (1L to 15L).toSet)
  }
}
