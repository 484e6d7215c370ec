package graft

import java.sql.Timestamp
import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.StreamOps

case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double, props: String)

case class Doc(doc_id: Long, text: String)

/** Streaming twins on MemoryStream: AvailableNow drains must agree with
  * the batch plans over the same rows (the A32 run-once parity the
  * reference exercises by hand). */
class StreamingSpec extends SparkSpecBase {
  import spark.implicits._

  private def t(minutes: Long) = new Timestamp(1704067200000L + minutes * 60000L)

  // 3 users × interleaved types across 3 hours, incl. duplicate keys
  private val rows: Seq[Ev] = (0 until 120).map { i =>
    Ev(i.toLong, t(i * 2L), (i % 3).toLong,
      if (i % 4 == 0) "purchase" else if (i % 4 == 1) "view" else "click",
      (i % 7) + 0.25, s"""{"k": $i}""")
  }

  private def batchDf = spark.createDataset(rows).toDF()

  test("cusum stream: split fold equals the scalar recursion exactly") {
    implicit val ctx = spark.sqlContext
    // ref=10: drifts [2,-5,-7,10,-1] → cum [2,-3,-10,0,-1],
    // strict-prefix min(0,·) [0,0,-3,-10,-10] → S [2,0,0,10,9]
    val feed = Seq((1L, 12L), (2L, 5L), (3L, 3L), (4L, 20L), (5L, 9L))
    for (splitAt <- Seq(2, 5)) {
      val ms = MemoryStream[(Long, Long)]
      val name = s"cusum_s$splitAt"
      val q = StreamOps.cusumStream(10L)(ms.toDF().toDF("day", "cents"))
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        val (b1, b2) = feed.splitAt(splitAt)
        ms.addData(b1); q.processAllAvailable()
        if (b2.nonEmpty) { ms.addData(b2); q.processAllAvailable() }
      } finally q.stop()
      val got = spark.table(name).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1).toSeq
      assert(got === Seq((1L, 12L, 2L, 2L), (2L, 5L, -3L, 0L),
        (3L, 3L, -10L, 0L), (4L, 20L, 0L, 10L), (5L, 9L, -1L, 9L)),
        s"split at $splitAt")
    }
  }

  test("decayed counters: mapGroupsWithState fold across batches == ground truth") {
    implicit val ctx = spark.sqlContext
    val tauUs = 3.6e9
    val ms = MemoryStream[Ev]
    val q = StreamOps.decayedCountsStream(ms.toDF(), tauUs).writeStream
      .format("memory").queryName("decayed").outputMode("update")
      .start()
    try {
      // ordered feed split mid-stream: the fold must be split-invariant
      val (b1, b2) = rows.sortBy(_.ts.getTime).splitAt(70)
      ms.addData(b1); q.processAllAvailable()
      ms.addData(b2); q.processAllAvailable()
    } finally q.stop()
    // update mode emits one row per (user, batch); the LAST per user is the
    // final state
    val fin = spark.table("decayed")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getDouble(3))))
      .groupBy(_._1).map { case (u, rs) => u -> rs.last._2 }
    val tMax = rows.map(_.ts.getTime).max * 1000L
    val truth = rows.groupBy(_.user_id).map { case (u, evs) =>
      u -> (evs.size.toLong,
        evs.map(e => math.exp((e.ts.getTime * 1000L - tMax).toDouble / tauUs)).sum)
    }
    assert(fin.keySet === truth.keySet)
    truth.foreach { case (u, (n, expect)) =>
      val (gotN, anchor, atAnchor) = fin(u)
      assert(gotN === n, s"user $u event count")
      val rescaled = atAnchor * math.exp((anchor - tMax).toDouble / tauUs)
      assert(math.abs(rescaled - expect) <= 1e-9 * expect,
        s"user $u: streamed $rescaled vs truth $expect")
    }
  }

  test("late-arrival flags: flatMapGroupsWithState fold across batches == batch running max") {
    implicit val ctx = spark.sqlContext
    // jittered event times: a user's consecutive events sit 6 minutes
    // apart (event i and i+3 share user i%3), so a −10-minute jitter on
    // every 4th per-user event lands BEFORE that user's previous event —
    // genuine out-of-order arrivals
    val feed: Seq[Ev] = (0 until 90).map { i =>
      val jitter = if ((i / 3) % 4 == 2) -10L else 0L
      Ev(i.toLong, t(i * 2L + jitter), (i % 3).toLong, "click", 1.0, "{}")
    }
    val ms = MemoryStream[Ev]
    val q = StreamOps.lateArrivalsStream(ms.toDF()).writeStream
      .format("memory").queryName("latearr").outputMode("append")
      .start()
    try {
      // arrival-ordered feed split mid-stream: the fold must be split-invariant
      val (b1, b2) = feed.splitAt(50)
      ms.addData(b1); q.processAllAvailable()
      ms.addData(b2); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("latearr").collect()
      .map(r => r.getLong(1) -> r.getBoolean(4)).toMap
    val truth = feed.groupBy(_.user_id).flatMap { case (_, evs) =>
      var mx = Long.MinValue
      evs.sortBy(_.event_id).map { e =>
        val us = e.ts.getTime * 1000L
        val ooo = mx != Long.MinValue && us < mx
        if (us > mx) mx = us
        e.event_id -> ooo
      }
    }.toMap
    assert(got === truth)
    assert(truth.values.count(identity) > 0, "feed produced no out-of-order events")
  }

  test("funnel tracker: mapGroupsWithState fold is split-invariant and matches the min-agg chain") {
    implicit val ctx = spark.sqlContext
    val W = 30L * 60000000L // 30-minute step window in µs
    // explicit per-bucket feed: u0/u1 complete, u2 purchases too late,
    // u3 never purchases, u4 clicks too late, u5 never views
    def ev(id: Long, minute: Long, u: Long, tpe: String) =
      Ev(id, t(minute), u, tpe, 1.0, "{}")
    val feed: Seq[Ev] = Seq(
      ev(0, 0, 0, "view"), ev(1, 10, 0, "click"), ev(2, 20, 0, "purchase"),
      ev(3, 1, 1, "error"), ev(4, 2, 1, "view"), ev(5, 25, 1, "click"),
      ev(6, 40, 1, "purchase"),
      ev(7, 0, 2, "view"), ev(8, 15, 2, "click"), ev(9, 50, 2, "purchase"),
      ev(10, 3, 3, "view"), ev(11, 9, 3, "click"), ev(12, 12, 3, "view"),
      ev(13, 0, 4, "view"), ev(14, 35, 4, "click"), ev(15, 40, 4, "purchase"),
      ev(16, 5, 5, "click"), ev(17, 8, 5, "purchase"))
    def lastPerUser(table: String): Map[Long, (Long, Long, Long, Int)] =
      spark.table(table).collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4))))
        .groupBy(_._1).map { case (u, rs) => u -> rs.last._2 }
    def run(name: String, batches: Seq[Seq[Ev]]): Map[Long, (Long, Long, Long, Int)] = {
      val ms = MemoryStream[Ev]
      val q = StreamOps.funnelStepsStream(ms.toDF(), W).writeStream
        .format("memory").queryName(name).outputMode("update").start()
      try { batches.foreach { b => ms.addData(b); q.processAllAvailable() } }
      finally q.stop()
      lastPerUser(name)
    }
    val ordered = feed.sortBy(e => (e.ts.getTime, e.event_id))
    val oneShot = run("funnel1", Seq(ordered))
    val split = run("funnel2", Seq(ordered.take(9), ordered.drop(9)))
    assert(oneShot === split, "fold is not split-invariant")
    // ground truth: the batch query's min-aggregate chain per user
    val Unset = Long.MinValue
    val truth = feed.groupBy(_.user_id).map { case (u, evs) =>
      val us = evs.map(e => (e.event_type, e.ts.getTime * 1000L))
      val v = us.filter(_._1 == "view").map(_._2).sorted.headOption.getOrElse(Unset)
      val s = if (v == Unset) Unset
        else us.filter { case (tp, x) => tp == "click" && x > v && x <= v + W }
          .map(_._2).sorted.headOption.getOrElse(Unset)
      val p = if (s == Unset) Unset
        else us.filter { case (tp, x) => tp == "purchase" && x > s && x <= s + W }
          .map(_._2).sorted.headOption.getOrElse(Unset)
      val steps = Seq(v, s, p).count(_ != Unset)
      u -> (v, s, p, steps)
    }
    assert(oneShot === truth, "stream fold diverges from the min-agg chain")
    val buckets = truth.values.map(_._4).toSet
    assert(buckets.size >= 3, s"feed not discriminating: $buckets")
  }

  test("dedupStream: first-seen-wins across batches, min-id within a batch, " +
    "every doc tagged exactly once") {
    implicit val ctx = spark.sqlContext
    // content A appears in both batches (batch-2 copy has the SMALLER id —
    // it must still lose to the batch-1 keeper); B duplicated within
    // batch 1 (lowest id keeps); C unique; D only in batch 2
    val b1 = Seq(Doc(10, "aaa"), Doc(11, "bbb"), Doc(14, "bbb"), Doc(12, "ccc"))
    val b2 = Seq(Doc(5, "aaa"), Doc(20, "ddd"), Doc(21, "aaa"))
    val ms = MemoryStream[Doc]
    val q = StreamOps.dedupStream(ms.toDF()).writeStream
      .format("memory").queryName("dedup_stream").outputMode("update").start()
    try {
      ms.addData(b1); q.processAllAvailable()
      ms.addData(b2); q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("dedup_stream").collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getBoolean(3)))).toMap
    assert(out.size === b1.size + b2.size, "every doc tagged exactly once")
    assert(out(10) === ((10L, false)), "first unique is its own keeper")
    assert(out(11) === ((11L, false)) && out(14) === ((11L, true)),
      "within-batch dup resolves to the lowest id")
    assert(out(12) === ((12L, false)))
    // arrival order is the contract: id 5 arrives later, so it is a DUP
    // of batch-1's keeper 10 — no retroactive displacement
    assert(out(5) === ((10L, true)) && out(21) === ((10L, true)))
    assert(out(20) === ((20L, false)))
  }

  test("windowed aggregation: streaming complete-mode == batch") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Ev]
    ms.addData(rows)
    val q = StreamOps.windowedAgg(ms.toDF()).writeStream
      .format("memory").queryName("wagg").outputMode("complete")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("wagg")
      .select($"w_start", $"event_type", $"n", $"total_value")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        math.rint(r.getDouble(3) * 100) / 100)).toSet
    val batch = StreamOps.windowedAgg(batchDf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        math.rint(r.getDouble(3) * 100) / 100)).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("sliding windows: streaming complete-mode == batch") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Ev]
    ms.addData(rows)
    val q = StreamOps.slidingWindow(ms.toDF()).writeStream
      .format("memory").queryName("swin").outputMode("complete")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("swin")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val batch = StreamOps.slidingWindow(batchDf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed === batch)
    // hop = 4 windows per event: distinct sliding window-starts strictly
    // exceed the TUMBLING aggregation's distinct window-starts on the same
    // data (the 15-min hop slices each 1-hour tumbling window four ways)
    val tumblingStarts = StreamOps.windowedAgg(batchDf)
      .collect().map(_.getLong(0)).toSet
    assert(streamed.map(_._1).size > tumblingStarts.size)
  }

  test("session windows: streaming complete-mode == batch") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Ev]
    ms.addData(rows)
    val q = StreamOps.sessionWindow(ms.toDF()).writeStream
      .format("memory").queryName("sess").outputMode("complete")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("sess")
      .select($"user_id", $"session_start", $"n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = StreamOps.sessionWindow(batchDf)
      .select($"user_id", $"session_start", $"n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("dropDuplicatesWithinWatermark keeps one row per key") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Ev]
    ms.addData(rows)
    val q = StreamOps.dedupWithinWatermark(ms.toDF()).writeStream
      .format("memory").queryName("dedup").outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("dedup").select($"user_id", $"event_type").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.length === got.distinct.length)
    val expectedKeys = rows.map(e => (e.user_id, e.event_type)).distinct.toSet
    assert(got.toSet === expectedKeys)
  }

  test("running sales totals (update-mode KTable aggregation)") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Ev]
    ms.addData(rows)
    val q = StreamOps.salesTotals(ms.toDF()).writeStream
      .format("memory").queryName("sales").outputMode("complete")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("sales")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val batch = StreamOps.salesTotals(batchDf)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(streamed === batch && streamed.nonEmpty)
  }

  test("KTable latest-per-key: streaming materialization == batch argmax") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Ev]
    // Two separate micro-batches so the state actually updates across
    // batches (a later batch overwrites keys from the first).
    ms.addData(rows.take(60))
    ms.addData(rows.drop(60))
    val q = StreamOps.ktableLatest(ms.toDF()).writeStream
      .format("memory").queryName("ktable").outputMode("complete")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("ktable")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
    val batch = StreamOps.ktableLatest(batchDf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
    assert(streamed === batch && streamed.size == 3)
    // last-write-wins: every user's latest event is from the tail batch
    assert(streamed.forall { case (_, eid, _) => eid >= 60 })
  }

  test("composed pipeline: guard -> replay dedup -> windowed agg == batch (at-least-once)") {
    // The reference's whole chapter-4 story in one streaming plan:
    // malformed guard, then exactly-once semantics recovered from
    // at-least-once delivery (batch 2 REPLAYS 40 events; event_id dedup
    // within the watermark drops the duplicates), then windowed totals.
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Ev]
    ms.addData(rows.take(80))
    ms.addData(rows.drop(40)) // overlap = replayed delivery
    val guarded = StreamOps.dedupWithinWatermark(
      ms.toDF().filter(length($"props") >= 5 && $"props".startsWith("{")),
      "10 minutes", Seq("event_id"))
    val q = StreamOps.windowedAgg(guarded, watermark = "").writeStream
      .format("memory").queryName("pipeline_e2e").outputMode("complete")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("pipeline_e2e")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        math.rint(r.getDouble(3) * 100) / 100)).toSet
    val batch = StreamOps.windowedAgg(
      batchDf.filter(length($"props") >= 5 && $"props".startsWith("{"))
        .dropDuplicates("event_id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        math.rint(r.getDouble(3) * 100) / 100)).toSet
    assert(streamed === batch && streamed.nonEmpty)
  }

  test("TopKRows aggregate maintains per-group top-k across micro-batches") {
    // The custom TypedImperativeAggregate must serialize/merge its buffer
    // through the streaming state store exactly like the batch partial
    // merge — batch parity over a two-batch stream proves it.
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.functions.{struct, col, posexplode}
    val ms = MemoryStream[Ev]
    ms.addData(rows.take(60))
    ms.addData(rows.drop(60))
    def topk(df: org.apache.spark.sql.DataFrame) = df
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(graft.functions.top_k_rows(
        struct((-col("value")).as("neg_value"), col("event_id")), 3).as("top"))
      .select(col("user_id"), posexplode(col("top")))
      .select(col("user_id"), col("pos"), col("col.event_id"), col("col.neg_value"))
    val q = topk(ms.toDF()).writeStream
      .format("memory").queryName("stream_topk").outputMode("complete")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("stream_topk").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val batch = topk(batchDf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(streamed === batch && streamed.nonEmpty)
  }

  test("foreachBatch dispatch fan-out routes every event type once per batch") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Ev]
    ms.addData(rows)
    val counts = TrieMap.empty[String, Long]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-fanout").toString
    val q = StreamOps.dispatchFanout(
        ms.toDF(), Seq("purchase", "view", "click"), ckpt,
        (tpe, df) => counts.updateWith(tpe) { prev => Some(prev.getOrElse(0L) + df.count()) })
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val expected = rows.groupBy(_.event_type).view.mapValues(_.size.toLong).toMap
    assert(counts.toMap === expected)
  }

  test("append-mode window agg drops data later than the watermark") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Ev]
    def ev(id: Long, minute: Long) =
      Ev(id, t(minute), 1L, "purchase", 1.0, "{}")
    val q = StreamOps.windowedAgg(ms.toDF()).writeStream
      .format("memory").queryName("late").outputMode("append").start()
    try {
      ms.addData(ev(0, 0), ev(1, 5)); q.processAllAvailable()
      ms.addData(ev(2, 200)); q.processAllAvailable()   // sets wm = 190 min
      // wm=190 now in force: hour-0 window [0,60) closes and emits n=2
      ms.addData(ev(3, 201)); q.processAllAvailable()
      // id=4 is 190 minutes late (ts < wm) → must be dropped, not start a
      // zombie state row for the already-emitted hour-0 window
      ms.addData(ev(4, 1), ev(5, 400)); q.processAllAvailable()
      ms.addData(ev(6, 401)); q.processAllAvailable()   // wm = 390: closes [180,240)
      val got = spark.table("late").select($"w_start", $"n").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === Set((t(0).getTime * 1000L, 2L), (t(180).getTime * 1000L, 2L)),
        s"late row leaked into emitted windows: $got")
    } finally q.stop()
  }

  test("idempotent batch sink: a replayed batch rewrites, never duplicates") {
    val out = java.nio.file.Files.createTempDirectory("graft-idem").toString
    val b0 = batchDf.limit(40)
    StreamOps.writeBatchIdempotent(b0, out, batchId = 0L)
    StreamOps.writeBatchIdempotent(b0, out, batchId = 0L) // replay: same batch
    assert(spark.read.parquet(out).count() === 40)
    StreamOps.writeBatchIdempotent(batchDf.limit(10), out, batchId = 1L)
    val all = spark.read.parquet(out)
    assert(all.count() === 50)
    assert(all.select("batch_id").distinct().count() === 2)
    // end-to-end through the streaming writer
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Ev]
    ms.addData(rows)
    val out2 = java.nio.file.Files.createTempDirectory("graft-idem2").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-idem-ck").toString
    val q = StreamOps.idempotentParquetSink(ms.toDF(), out2, ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.read.parquet(out2).count() === rows.size)
  }

  test("fixed-cadence ProcessingTime trigger fires repeated micro-batches (A31)") {
    val src = spark.readStream.format("rate")
      .option("rowsPerSecond", "50").load()
    val q = StreamOps.cadencedWriter(src, "250 milliseconds")
      .format("memory").queryName("cadence").outputMode("append").start()
    try {
      // wait (bounded) for at least two cadence ticks that produced rows
      val deadline = System.currentTimeMillis() + 15000
      while ((q.recentProgress.count(_.numInputRows > 0) < 2) &&
          System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
        "expected multiple processing-time ticks with data")
      assert(spark.table("cadence").count() > 0)
    } finally q.stop()
  }

  test("console sink drains a run-once stream without error (A10)") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Ev]
    ms.addData(rows.take(5))
    val q = StreamOps.consoleSink(ms.toDF(), numRows = 5)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.exception.isEmpty)
    assert(q.recentProgress.exists(p =>
      p.sink.description.toLowerCase.contains("console") && p.numInputRows == 5))
  }

  test("custom FNV partition column routes sink records like the reference (A15)") {
    val df = Seq("hello", "CUSTOM", "alpha", "beta", "gamma").toDF("k")
    val rec = StreamOps.toPartitionedKafkaRecords(df, "k", numPartitions = 8)
    assert(rec.schema.map(f => (f.name, f.dataType.typeName)) ===
      Seq(("key", "binary"), ("value", "binary"), ("partition", "integer")))
    val byKey = rec.collect()
      .map(r => (new String(r.getAs[Array[Byte]](0), "UTF-8"), r.getInt(2))).toMap
    // partition-count guard: every record within [0, numPartitions)
    assert(byKey.values.forall(p => p >= 0 && p < 8), s"partition out of range: $byKey")
    // FNV-1a-32("hello") = 0x4F9F2CAB; reference partitioner takes mod 8
    assert(byKey("hello") === (0x4F9F2CABL % 8).toInt)
    // the reference pins the CUSTOM key to partition 0
    assert(byKey("CUSTOM") === 0)
    // and the shaped STREAMING frame is accepted by the Kafka sink writer
    implicit val ctx = spark.sqlContext
    StreamOps.KafkaSinkConfig(Seq("localhost:9092"), "t", "/tmp/ck")
      .writer(StreamOps.toPartitionedKafkaRecords(MemoryStream[Ev].toDF(), "user_id", 8))
  }

  test("streaming as-of funnel across micro-batches == batch as-of join") {
    import graft.streaming.StreamingAsOf
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = StreamingAsOf.funnelMatches(ms.toDF()).writeStream
      .format("memory").queryName("asof_stream").outputMode("append").start()
    try {
      // in-order arrival split across micro-batches: purchases in the second
      // batch must match view state carried from the first
      val (first, second) = rows.splitAt(rows.length / 2)
      ms.addData(first); q.processAllAvailable()
      ms.addData(second); q.processAllAvailable()
      val streamed = spark.table("asof_stream")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4), r.getLong(5))).toSet
      val purchases = batchDf.filter($"event_type" === "purchase")
        .select($"user_id", $"event_id", $"ts", $"value")
      val views = batchDf.filter($"event_type" === "view")
        .select($"user_id".as("v_user"), $"ts".as("v_ts"), $"event_id".as("v_event_id"))
      val batch = graft.plans.AsOfJoin(purchases, views, "user_id", "v_user", "ts", "v_ts")
        .where(unix_micros($"ts") - unix_micros($"v_ts") <= 3600000000L)
        .select($"user_id", $"event_id", $"v_event_id", unix_micros($"v_ts"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(streamed === batch && streamed.nonEmpty)
    } finally q.stop()
  }

  test("streaming as-of keeps sub-millisecond timestamps at µs precision") {
    import graft.streaming.StreamingAsOf
    implicit val ctx = spark.sqlContext
    def tsUs(us: Long): Timestamp = {
      val ts = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
      ts.setNanos(((us % 1000000L) * 1000L).toInt)
      ts
    }
    // view and purchase inside the SAME millisecond: getTime*1000 would
    // round both to 1_000_000 µs and break the batch-parity contract
    val ms = MemoryStream[Ev]
    ms.addData(Seq(
      Ev(1L, tsUs(1000250L), 7L, "view", 0.0, ""),
      Ev(2L, tsUs(1000750L), 7L, "purchase", 5.0, "")))
    val q = StreamingAsOf.funnelMatches(ms.toDF()).writeStream
      .format("memory").queryName("asof_subms").outputMode("append").start()
    try {
      q.processAllAvailable()
      val out = spark.table("asof_subms").collect()
      assert(out.length === 1)
      assert(out(0).getAs[Long]("ts_us") === 1000750L)
      assert(out(0).getAs[Long]("v_ts_us") === 1000250L)
    } finally q.stop()
  }

  test("stream-static join: streamed new-batch signatures probe the minhash index") {
    // The ingest-time shape of minhash_incremental: signatures are
    // computed at produce time, the signed rows arrive as a stream, and
    // each micro-batch probes the STATIC index with a stateless
    // stream-static join — no watermark, no state store, per-row append.
    implicit val ctx = spark.sqlContext
    import graft.operators.DocDedup
    val expected = DocDedup.minhashIncremental(spark, Sf0001)
      .select($"new_doc", $"index_doc").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bands = DocDedup.minhashSignatures(spark, Sf0001)
      .select($"doc_id",
        posexplode(array($"b0", $"b1", $"b2", $"b3")).as(Seq("k", "bv")))
    val index = bands.where($"doc_id" % 10 =!= 7)
      .select($"doc_id".as("index_doc"), $"k", $"bv")
    val newRows = bands.where($"doc_id" % 10 === 7)
      .select($"doc_id", $"k", $"bv")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    val ms = MemoryStream[(Long, Int, String)]
    ms.addData(newRows.toSeq)
    val joined = ms.toDF().toDF("new_doc", "k", "bv")
      .join(index, Seq("k", "bv"))
      .select($"new_doc", $"index_doc")
    val q = joined.writeStream.format("memory").queryName("mh_inc")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("mh_inc").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed === expected)
  }

  test("transformWithState running totals across micro-batches == batch fold") {
    // Spark 4 arbitrary-state API (StatefulProcessor + ValueState) over
    // RocksDB state; three micro-batches must fold to the same per-user
    // totals as one batch aggregation — exact, because money accumulates
    // as integer cents inside the state cell.
    implicit val ctx = spark.sqlContext
    val prevProvider = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val purchases = rows.filter(_.event_type == "purchase")
        .map(e => (e.user_id, e.value))
      val ms = MemoryStream[(Long, Double)]
      val out = graft.streaming.TwsOps.runningTotals(ms.toDS())
      val q = out.toDF().writeStream.format("memory").queryName("tws_totals")
        .outputMode("update").start()
      purchases.grouped(purchases.size / 3 + 1).foreach { batch =>
        ms.addData(batch)
        q.processAllAvailable()
      }
      q.stop()
      // update mode re-emits per batch: keep the LAST row per user
      val streamed = spark.table("tws_totals")
        .groupBy($"user_id")
        .agg(max(struct($"n_events", $"revenue_cents")).as("m"))
        .select($"user_id", $"m.n_events", $"m.revenue_cents")
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val expected = purchases.groupBy(_._1).map { case (u, vs) =>
        u -> (vs.size.toLong, vs.map(v => math.round(v._2 * 100.0)).sum)
      }
      assert(streamed === expected)
      assert(expected.nonEmpty)
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("stream-static probe: new docs' gram novelty against the persisted index") {
    // The ingest-time shape of ngram_novelty: the corpus's distinct grams
    // are the persisted STATIC index; newly crawled docs stream in and
    // each micro-batch left-joins the index statelessly (append mode, no
    // state store) — novelty per new doc then rolls up from the sink.
    implicit val ctx = spark.sqlContext
    import graft.operators.TextAnalysis.shingles
    val grams = Tables.documents(spark, Sf0001)
      .select($"doc_id", explode(array_distinct(shingles($"text", 3))).as("gram"))
    val index = grams.where($"doc_id" % 10 =!= 7)
      .select($"gram").distinct().withColumn("known", lit(1))
    // batch ground truth, formulated independently of the streaming plan
    val expected = grams.where($"doc_id" % 10 === 7)
      .join(index, Seq("gram"), "left_outer")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when($"known".isNull, 1L).otherwise(0L)).as("n_novel"))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val newRows = grams.where($"doc_id" % 10 === 7)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val ms = MemoryStream[(Long, String)]
    ms.addData(newRows.toSeq)
    val joined = ms.toDF().toDF("doc_id", "gram")
      .join(index, Seq("gram"), "left_outer")
      .select($"doc_id", $"known")
    val q = joined.writeStream.format("memory").queryName("novelty_probe")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("novelty_probe")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when($"known".isNull, 1L).otherwise(0L)).as("n_novel"))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(streamed === expected)
    assert(expected.nonEmpty)
  }

  test("stream-static probe: streamed embeddings semantic-dedup against the cell index") {
    // Ingest-time SemDeDup: the cell index (assignments + norms) is the
    // persisted static side; a new batch arrives as a stream with its
    // cell/norm computed at produce time and probes the index with a
    // stateless stream-static equi-join on the cell key — same recipe as
    // the minhash incremental path, so batch and streaming decisions
    // must agree pair-for-pair.
    implicit val ctx = spark.sqlContext
    import graft.operators.Similarity
    val tau = 0.30 // sf0.001 is tiny; the query's 0.40 tail may be empty
    val assigned = Similarity.cellIndex(spark, Sf0001)
    val isNew = $"vec_id" % 10 === 7
    val index = assigned.where(!isNew).select($"vec_id".as("index_vec"),
      $"cell_id", $"embedding".as("ie"), $"nrm".as("inrm"))
    def pairs(newSide: org.apache.spark.sql.DataFrame) = newSide
      .join(index, Seq("cell_id"))
      .select($"vec_id", $"index_vec",
        (graft.functions.vector_dot($"embedding", $"ie") /
          ($"nrm" * $"inrm")).as("score"))
      .where($"score" >= tau)
    val newRows = assigned.where(isNew)
      .select($"vec_id", $"cell_id", $"embedding", $"nrm")
      .as[(Long, Long, Array[Float], Double)].collect()
    assert(newRows.nonEmpty)
    val ms = MemoryStream[(Long, Long, Array[Float], Double)]
    ms.addData(newRows.toSeq)
    val q = pairs(ms.toDF().toDF("vec_id", "cell_id", "embedding", "nrm"))
      .writeStream.format("memory").queryName("sem_inc")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("sem_inc").select($"vec_id", $"index_vec")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = pairs(assigned.where(isNew)).select($"vec_id", $"index_vec")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed === batch)
  }

  test("stream-stream interval join == batch inequality join") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Ev]
    ms.addData(rows)
    def shape(df: org.apache.spark.sql.DataFrame) = (
      df.filter($"event_type" === "purchase")
        .select($"user_id".as("p_user"), $"event_id".as("p_event_id"), $"ts".as("p_ts")),
      df.select($"user_id".as("e_user"), $"event_id".as("e_event_id"), $"ts".as("e_ts")))
    val (sp, se) = shape(ms.toDF())
    val q = StreamOps.intervalJoinFollowups(sp, se).writeStream
      .format("memory").queryName("ivj").outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("ivj").select($"p_event_id", $"e_event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val (bp, be) = shape(batchDf)
    val batch = bp.join(be, expr(
        "p_user = e_user AND e_ts > p_ts AND e_ts <= p_ts + INTERVAL 1 HOUR"))
      .select($"p_event_id", $"e_event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed === batch && streamed.nonEmpty)
  }

  test("CmsSketch aggregate accumulates across micro-batches == batch sketch") {
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val ms = MemoryStream[Ev]
    ms.addData(rows.take(60))
    ms.addData(rows.drop(60))
    def cms(df: org.apache.spark.sql.DataFrame) =
      df.agg(graft.functions.cms_sketch(col("event_type"), 4, 64).as("cms"))
    val q = cms(ms.toDF()).writeStream
      .format("memory").queryName("stream_cms").outputMode("complete")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("stream_cms").head().getSeq[Long](0)
    val batch = cms(batchDf).head().getSeq[Long](0)
    assert(streamed === batch && streamed.sum == 4L * rows.length)
  }

  test("kafka source/sink configs assemble the reference's options") {
    val src = StreamOps.KafkaSourceConfig(
      Seq("localhost:9092"), Seq("first-topic", "second-topic"),
      maxOffsetsPerTrigger = Some(25))
    assert(src.options("subscribe") === "first-topic,second-topic")
    assert(src.options("startingOffsets") === "earliest")
    assert(src.options("maxOffsetsPerTrigger") === "25")
    val sink = StreamOps.KafkaSinkConfig(
      Seq("localhost:9092"), "out-topic", "/tmp/ckpt")
    assert(sink.options("kafka.acks") === "1")
    assert(sink.options("kafka.retries") === "10")
    assert(sink.options("checkpointLocation") === "/tmp/ckpt")
    // reader/writer must be constructible without a broker (lazy until start)
    src.reader(spark)
    implicit val ctx = spark.sqlContext
    sink.writer(StreamOps.toKafkaRecords(MemoryStream[Ev].toDF(), "user_id"))
  }

  test("foreachBatch CDC apply across micro-batches == single batch apply") {
    val state0 = Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)).toDF("k", "v")
    val base = java.nio.file.Files.createTempDirectory("graft-cdc").toString
    state0.write.parquet(s"$base/v0")
    val b1 = Seq((2L, "U", 20.0, 1L), (4L, "I", 4.0, 2L), (1L, "D", 0.0, 3L))
    val b2 = Seq((4L, "U", 40.0, 4L), (3L, "D", 0.0, 5L),
      (5L, "I", 5.0, 6L), (5L, "U", 50.0, 7L))
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, String, Double, Long)]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cdc-ck").toString
    def drainOnce(): Unit = {
      val q = ms.toDF().toDF("k", "op", "v", "seq").writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          val cur = spark.read.parquet(s"$base/v$id")
          StreamOps.applyCdc(cur, batch, "k", "seq", "op")
            .write.mode("overwrite").parquet(s"$base/v${id + 1}")
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    ms.addData(b1); drainOnce()
    ms.addData(b2); drainOnce()
    val streamed = spark.read.parquet(s"$base/v2").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // parity: the same feed applied as ONE batch (last change per key wins)
    val oneShot = StreamOps.applyCdc(state0,
        (b1 ++ b2).toDF("k", "op", "v", "seq"), "k", "seq", "op")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(streamed === Map(2L -> 20.0, 4L -> 40.0, 5L -> 50.0))
    assert(streamed === oneShot)
  }

  test("applyCdc equals a sequential per-key fold on random change feeds") {
    // last-change-per-key-wins is exactly a sequential fold's fixpoint, so
    // an independent in-memory replay is a sound oracle
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 3) {
      val state0 = (0 until 20).map(k => k.toLong -> rnd.nextInt(100).toDouble)
      val feed = (0 until 60).map { i =>
        (rnd.nextInt(30).toLong, Seq("I", "U", "D")(rnd.nextInt(3)),
          rnd.nextInt(1000).toDouble, i.toLong)
      }
      val expected = feed.sortBy(_._4).foldLeft(state0.toMap) {
        case (m, (k, op, v, _)) => if (op == "D") m - k else m + (k -> v)
      }
      val got = StreamOps.applyCdc(state0.toDF("k", "v"),
          feed.toDF("k", "op", "v", "seq"), "k", "seq", "op")
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got === expected, s"trial $trial diverged from the fold oracle")
    }
  }

  test("applyCdc writes NULL value columns from upserts instead of retaining state") {
    // replacement is gated on change-row presence (the op column), not
    // per-column coalesce: an insert/update carrying NULL must WRITE null
    val state0 = Seq((1L, Option(1.0)), (3L, Option(3.0))).toDF("k", "v")
    val changes = Seq(
      (1L, "U", None: Option[Double], 1L),
      (2L, "I", None: Option[Double], 2L)).toDF("k", "op", "v", "seq")
    val got = StreamOps.applyCdc(state0, changes, "k", "seq", "op")
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(got === Map(1L -> None, 2L -> None, 3L -> Some(3.0)))
  }

  test("incremental SCD2 fold per micro-batch == batch scd2_build on the folded feed") {
    import graft.operators.Relational
    val evRows = Tables.events(spark, Sf0001).as[Ev].collect()
      .sortBy(e => (e.ts.getTime, e.event_id))
    // split at global event-time boundaries so per-key order holds across
    // batches (the applyScd2 contract); equal-ts rows stay in one chunk
    val cut1 = evRows(evRows.length / 3).ts
    val cut2 = evRows(2 * evRows.length / 3).ts
    val chunks = Seq(
      evRows.filter(_.ts.before(cut1)),
      evRows.filter(e => !e.ts.before(cut1) && e.ts.before(cut2)),
      evRows.filter(e => !e.ts.before(cut2)))
    assert(chunks.forall(_.nonEmpty), "degenerate split — adjust cuts")
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val base = java.nio.file.Files.createTempDirectory("graft-scd2").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-scd2-ck").toString
    Relational.scd2Build(spark, Sf0001).where(lit(false)).repartition(1)
      .write.parquet(s"$base/v0")
    def drainOnce(): Unit = {
      val q = ms.toDF().writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          val cur = spark.read.parquet(s"$base/v$id")
          StreamOps.applyScd2(cur, batch)
            .write.mode("overwrite").parquet(s"$base/v${id + 1}")
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    chunks.foreach { c => ms.addData(c); drainOnce() }
    val folded = spark.read.parquet(s"$base/v${chunks.length}")
    val batchT = Relational.scd2Build(spark, Sf0001)
    assert(folded.count() === batchT.count())
    assert(folded.exceptAll(batchT).isEmpty, "folded rows missing from batch")
    assert(batchT.exceptAll(folded).isEmpty, "batch rows missing from fold")
  }

  test("foreachBatch SCD2 exactly-once: crash BETWEEN state write and " +
    "checkpoint commit + restart does not double-apply the batch") {
    // The DSv2 graft-sink path proved exactly-once in round 8
    // (SourcesSpec); foreachBatch sinks need their OWN idempotency —
    // Structured Streaming re-delivers the same batchId after a crash
    // between the sink write and the commit marker. versionedFoldSink
    // applies batch id onto version id−1 and overwrites v=<id>, so the
    // replay regenerates identical state instead of applying twice.
    import java.util.concurrent.atomic.AtomicBoolean
    val base = java.nio.file.Files.createTempDirectory("graft-eo-fb").toString
    def changes(sdf: org.apache.spark.sql.DataFrame) = sdf.select(
      (col("row_id") % 7).as("user_id"),
      concat(lit("s"), col("row_id") % 3).as("event_type"),
      timestamp_micros(lit(1704067200000000L) + col("row_id") * 1000000L)
        .as("ts"),
      col("row_id").as("event_id"))
    val init = Seq.empty[(Long, Int, String, Long, Long, Boolean, Long)]
      .toDF("user_id", "version", "state", "valid_from_us",
        "valid_to_us", "is_current", "event_id")
    def run(tag: String, wrap: ((org.apache.spark.sql.DataFrame, Long) => Unit)
        => (org.apache.spark.sql.DataFrame, Long) => Unit): Unit = {
      val sink = wrap(StreamOps.versionedFoldSink(
        spark, s"$base/$tag/state", init, StreamOps.applyScd2))
      val q = spark.readStream.format("graft-sales")
        .option("rows", "35").option("rowsPerBatch", "10").load()
        .transform(changes)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", s"$base/$tag/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // crashing run: state for batch 2 is WRITTEN, then the query dies
    // before Spark can write batch 2's commit marker
    val armed = new AtomicBoolean(true)
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run("crash", sink => (b, id) => {
        sink(b, id)
        if (id == 2L && armed.getAndSet(false))
          throw new RuntimeException("injected crash after state write (batch 2)")
      })
    }
    assert(err.toString.contains("injected crash after state write"))
    // the crashed batch's state version IS on disk — the dangerous state
    assert(StreamOps.latestVersionAtMost(s"$base/crash/state", Long.MaxValue)
      === Some(2L))
    // restart from the same checkpoint: batch 2 replays, then 3 drains
    run("crash", identity)
    // clean reference run, same feed, no crash
    run("clean", identity)
    val crashed = StreamOps.versionedFoldState(spark, s"$base/crash/state", init)
    val clean = StreamOps.versionedFoldState(spark, s"$base/clean/state", init)
    // every event becomes exactly ONE version row; a double-applied batch
    // 2 would mint extra versions for its keys
    assert(crashed.count() === 35L, "double-applied batch after restart")
    assert(crashed.exceptAll(clean).isEmpty && clean.exceptAll(crashed).isEmpty,
      "crash+restart state differs from the clean run")
  }

  test("toKafkaRecords shapes key/value binary columns") {
    val rec = StreamOps.toKafkaRecords(batchDf, "user_id")
    assert(rec.schema.map(f => (f.name, f.dataType.typeName)) ===
      Seq(("key", "binary"), ("value", "binary")))
    val first = rec.orderBy(lit(1)).limit(1).collect()(0)
    assert(new String(first.getAs[Array[Byte]](0)) === "0")
  }
}
