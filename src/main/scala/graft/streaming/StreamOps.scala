package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamReader, DataStreamWriter, Trigger}
import org.apache.spark.sql.types._

import org.apache.spark.sql.Row

import graft.operators.ReferenceOps.moneySum

/** Structured-Streaming surface of the engine.
  *
  * The reference is a set of Kafka client applications (SURVEY.md §0); its
  * topologies map here:
  *  - produce/consume loops → readStream → transform → writeStream
  *    (MicroBatchExecution runs the loop; reference:
  *    golang/chapter_4/sales/sales_produce_consume_application.go:13-62),
  *  - manual offset commit → checkpointLocation WAL (at-least-once →
  *    exactly-once into tracked sinks; reference:
  *    golang/chapter_4/pipelining/pipelining_consumer_client.go:98-108),
  *  - bounded-queue backpressure → maxOffsetsPerTrigger (reference:
  *    golang/chapter_4/pipelining/produce_pipelining_consume_application.go:18-19),
  *  - 3-second produce cadence → ProcessingTime trigger; run-once →
  *    AvailableNow (reference: sales_producer_client.go:69;
  *    multi_event_avro_producer_client.go:98-103).
  *
  * Every transform below takes a DataFrame and works identically under
  * `read` and `readStream` — the streaming twin IS the batch logical plan.
  * No Kafka broker (or connector jar) exists in this sandbox, so the Kafka
  * builders assemble and expose the full option surface and are covered by
  * unit tests at that level; transforms are tested on MemoryStream.
  */
object StreamOps {

  /** Kafka-record schema produced by Spark's Kafka source — the engine's
    * record model (SURVEY.md §1.1). */
  val KafkaRecordSchema: StructType = StructType(Seq(
    StructField("key", BinaryType), StructField("value", BinaryType),
    StructField("topic", StringType), StructField("partition", IntegerType),
    StructField("offset", LongType), StructField("timestamp", TimestampType),
    StructField("timestampType", IntegerType)))

  /** A4/A5: consumer-group source config. `maxOffsetsPerTrigger` plays the
    * reference's bounded-queue backpressure (cap 25 batches). */
  final case class KafkaSourceConfig(
      brokers: Seq[String],
      topics: Seq[String],
      startingOffsets: String = "earliest",
      maxOffsetsPerTrigger: Option[Long] = None,
      failOnDataLoss: Boolean = true) {
    def options: Map[String, String] = Map(
      "kafka.bootstrap.servers" -> brokers.mkString(","),
      "subscribe" -> topics.mkString(","),
      "startingOffsets" -> startingOffsets,
      "failOnDataLoss" -> failOnDataLoss.toString) ++
      maxOffsetsPerTrigger.map("maxOffsetsPerTrigger" -> _.toString)
    def reader(spark: SparkSession): DataStreamReader =
      spark.readStream.format("kafka").options(options)
  }

  /** A8/A9: producer sink config — acks=1 + 10 retries are the reference's
    * settings (sales_producer_client.go:22-23); the checkpoint plays A19's
    * offset commit. */
  final case class KafkaSinkConfig(
      brokers: Seq[String],
      topic: String,
      checkpointLocation: String,
      acks: String = "1",
      retries: Int = 10) {
    def options: Map[String, String] = Map(
      "kafka.bootstrap.servers" -> brokers.mkString(","),
      "topic" -> topic,
      "kafka.acks" -> acks,
      "kafka.retries" -> retries.toString,
      "checkpointLocation" -> checkpointLocation)
    def writer(df: DataFrame): DataStreamWriter[Row] =
      df.writeStream.format("kafka").options(options)
  }

  /** The sales topology's record transform (A12+A21 producer side): key =
    * customer name, value = JSON of the record — ready for a Kafka sink. */
  def toKafkaRecords(records: DataFrame, keyCol: String): DataFrame =
    records.select(
      col(keyCol).cast(StringType).cast(BinaryType).as("key"),
      to_json(struct(records.columns.map(col): _*)).cast(BinaryType).as("value"))

  /** A15 second half: the custom FNV-1a partitioner wired into the sink
    * record shape. Spark's Kafka writer routes each record by an explicit
    * `partition` column when one is present — this computes it exactly as
    * the reference's partitioner does (fnv1a32(key) mod numPartitions,
    * with the "CUSTOM" key pinned to partition 0;
    * golang/chapter_4/sales/custom_order_partitioner.go:15-36). */
  def toPartitionedKafkaRecords(
      records: DataFrame, keyCol: String, numPartitions: Int): DataFrame = {
    require(numPartitions > 0, s"numPartitions must be positive, got $numPartitions")
    val key = col(keyCol).cast(StringType)
    records.select(
      key.cast(BinaryType).as("key"),
      to_json(struct(records.columns.map(col): _*)).cast(BinaryType).as("value"),
      when(key === "CUSTOM", lit(0))
        .otherwise(pmod(graft.functions.fnv1a32(key), lit(numPartitions)))
        .cast(IntegerType).as("partition"))
  }

  /** A31: the reference's fixed 3-second produce cadence
    * (golang/chapter_4/sales/sales_producer_client.go:69) → a
    * ProcessingTime trigger: the micro-batch loop fires once per tick
    * instead of as fast as data arrives. */
  def cadencedWriter(df: DataFrame, interval: String = "3 seconds"): DataStreamWriter[Row] =
    df.writeStream.trigger(Trigger.ProcessingTime(interval))

  /** A10: console/log sink — the reference's consumer print loop
    * (golang/chapter_4/sales/sales_consumer_client.go:91-95). Demo sink:
    * per-batch rows go to driver stdout; never a data path. */
  def consoleSink(df: DataFrame, numRows: Int = 20,
      truncate: Boolean = false): DataStreamWriter[Row] =
    df.writeStream.format("console")
      .option("numRows", numRows.toString)
      .option("truncate", truncate.toString)

  /** A1+A11+A16, the sales pipeline: per-customer exact purchase revenue
    * and count (reference: golang/chapter_4/sales/
    * sales_consumer_client.go:91-95 computes quantity*price per record).
    * Batch query `sales_totals` over the `events` table; running
    * KTable-style totals over a stream (`sales_totals_stream`). */
  def salesTotals(events: DataFrame): DataFrame =
    events
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(moneySum(col("value")).as("revenue"), count(lit(1)).as("n_purchases"))

  /** k=8 KMV distinct sketch of user_id per event type
    * ([[graft.functions.KmvSketch]]) and its distinct-count estimate.
    * Batch query `kmv_distinct`, whose oracle checks the sketch itself
    * (unlike HLL++ it is deterministic across engines). Streamed
    * (`kmv_distinct_stream`), partials merge as a set union, so the
    * sketch is bit-identical however the batches split, in 64 bytes of
    * state per group. */
  def kmvDistinct(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_type"))
      .agg(graft.functions.kmv_sketch(col("user_id").cast("string"), 8)
          .as("kmv"),
        count(lit(1)).as("n_events"))
      // CSV-stringified: the verify comparator cannot sort array columns
      .select(col("event_type"), concat_ws(",", col("kmv")).as("kmv_csv"),
        when(size(col("kmv")) < 8, size(col("kmv")).cast(DoubleType))
          .otherwise(lit(7.0 * math.pow(2, 60)) /
            element_at(col("kmv"), 8).cast(DoubleType))
          .as("est_users"),
        col("n_events"))

  /** KTable / compacted-topic materialization: the latest record per key,
    * last-write-wins on (ts, event_id). `max_by` over a struct
    * partial-aggregates map-side, so the shuffle carries one row per
    * (key, partition) and the stream state is one struct per key. Batch
    * query `ktable_latest`; streamed (`ktable_latest_stream`) in update
    * mode it emits only the keys whose latest value changed. */
  def ktableLatest(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"))
      .agg(max_by(
        struct(col("event_id"), col("event_type"), col("value")),
        struct(unix_micros(col("ts")), col("event_id"))).as("last"))
      .select(col("user_id"),
        col("last.event_id").as("last_event_id"),
        col("last.event_type").as("last_event_type"),
        col("last.value").as("last_value"))

  /** 1-hour tumbling windows per event type: count and exact value total.
    * Batch query `windowed_agg` (the analyzer drops a watermark on a batch
    * frame); streamed (`windowed_agg_stream`), the watermark drops late
    * events and evicts closed windows. Pass `watermark = ""` when the
    * input already carries one (Spark disallows redefining it downstream
    * of another stateful operator). */
  def windowedAgg(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    (if (watermark.isEmpty) events else events.withWatermark("ts", watermark))
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), moneySum(col("value")).as("total_value"))
      .select(unix_micros(col("w.start")).as("w_start"), col("event_type"),
        col("n"), col("total_value"))

  /** 1-hour windows hopping every 15 minutes per event type (4 windows
    * per event). Batch query `sliding_window`; streamed
    * (`sliding_window_stream`), the watermark bounds how long open windows
    * stay in state. */
  def slidingWindow(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("w.start")).as("w_start"), col("event_type"), col("n"))

  /** 30-minute-gap sessions per user: count and exact value total. Batch
    * query `session_window`; streamed (`session_window_stream`), the
    * watermark drives the session merge and eviction. */
  def sessionWindow(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), moneySum(col("value")).as("session_value"))
      .select(col("user_id"), unix_micros(col("w.start")).as("session_start"),
        col("n_events"), col("session_value"))

  /** Streaming dedup within the watermark horizon — the streaming twin of
    * `Relational.dedup` (state for each key is dropped once the watermark
    * passes, so state size is bounded by the horizon, not the stream). */
  def dedupWithinWatermark(events: DataFrame, watermark: String = "10 minutes",
      keys: Seq[String] = Seq("user_id", "event_type")): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** A14: multi-way event dispatch as a foreachBatch fan-out — each event
    * type's branch is handed to `route` exactly once per micro-batch
    * (reference: multi_event_proto_consumer_client.go:100-126 routes
    * purchase/login/search into separate collections). */
  def dispatchFanout(
      events: DataFrame,
      eventTypes: Seq[String],
      checkpointDir: String,
      route: (String, DataFrame) => Unit): DataStreamWriter[Row] =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.persist()
        try eventTypes.foreach { t =>
          route(t, batch.filter(col("event_type") === t))
        } finally batch.unpersist()
      }

  /** Stream-stream interval join — the streaming twin of the batch
    * range join ([[graft.operators.Scale.bucketedRangeJoin]]'s semantic
    * core): each purchase joined with the same user's events in the hour
    * after it. Both sides carry watermarks and the join condition is
    * time-bounded, so Spark expires buffered state once the watermark
    * passes `p_ts + 1 hour` — bounded memory on unbounded streams, unlike
    * an unconstrained stream-stream join. Column contract: left =
    * (p_user, p_ts, …), right = (e_user, e_ts, …). */
  def intervalJoinFollowups(purchases: DataFrame, events: DataFrame,
      watermark: String = "10 minutes"): DataFrame =
    purchases.withWatermark("p_ts", watermark)
      .join(events.withWatermark("e_ts", watermark),
        expr("p_user = e_user AND e_ts > p_ts AND e_ts <= p_ts + INTERVAL 1 HOUR"))

  /** One micro-batch written idempotently: the output partition is keyed
    * by `batchId`, and dynamic partition overwrite replaces exactly that
    * directory. A replayed batch (crash between sink write and checkpoint
    * commit — the at-least-once window the reference's MarkOffset loop
    * also has, pipelining_consumer_client.go:98-108) overwrites its own
    * half-written output instead of appending duplicates. */
  def writeBatchIdempotent(batch: DataFrame, outPath: String, batchId: Long): Unit =
    batch.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(outPath)

  /** Effectively-once parquet sink: foreachBatch + [[writeBatchIdempotent]]
    * + the checkpoint WAL. Retries of a batch rewrite, never duplicate. */
  def idempotentParquetSink(df: DataFrame, outPath: String,
      checkpoint: String): DataStreamWriter[Row] =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatchIdempotent(batch, outPath, batchId)
      }

  /** Pure CDC merge: apply one batch of keyed insert/update/delete change
    * rows onto the current keeper state — the function a foreachBatch CDC
    * sink runs per micro-batch (the process-then-commit loop of the
    * reference's pipelining consumer, concurrent_record_processor.go:66-94,
    * with Spark's checkpointed batch ids supplying the exactly-once replay
    * guard). Within a batch the LAST change per key wins, ordered by
    * `seq` (must be unique per key within a batch — Kafka offsets are);
    * op "D" removes the key, anything else upserts the value columns.
    * One key-partitioned full-outer join, no window — state stays
    * O(live keys) and each batch costs O(|state| + |batch|). A change row
    * REPLACES the key's value columns wholesale (gated on the op column,
    * which is non-null on every change row): an upsert carrying NULL in a
    * value column writes that NULL, it does not silently retain the prior
    * state value. */
  def applyCdc(state: DataFrame, changes: DataFrame, key: String,
      seq: String, op: String): DataFrame = {
    val valueCols = state.columns.filterNot(_ == key).toSeq
    val last = changes.groupBy(col(key))
      .agg(max_by(struct((op +: valueCols).map(col): _*), col(seq)).as("c"))
      .select(col(key) +: (op +: valueCols).map(c => col(s"c.$c").as(s"_c_$c")): _*)
    val changed = col(s"_c_$op").isNotNull
    state.join(last, Seq(key), "full_outer")
      .where(!changed || col(s"_c_$op") =!= "D")
      .select(col(key) +: valueCols.map(c =>
        when(changed, col(s"_c_$c")).otherwise(col(c)).as(c)): _*)
  }

  /** Incremental SCD2 maintenance — the streaming twin of
    * [[graft.operators.Relational.scd2Build]], shaped for a foreachBatch
    * sink like [[applyCdc]]: apply one micro-batch of change events (the
    * events-table shape: user_id / event_type / ts / event_id) onto the
    * current version table. Per key, the batch's events become new version
    * rows (numbered after the key's existing max version), the previously
    * open row is CLOSED at the batch's first event time − 1µs, and keys the
    * batch never touches pass through a key-partitioned left join
    * untouched — each batch costs O(|state| + |batch|), no global window.
    *
    * Assumes per-key event-time order ACROSS batches (what a CDC/Kafka
    * feed gives per key); out-of-order WITHIN a batch is handled by the
    * batch-local window. Under that contract the fold over any batch
    * split is row-identical to the batch [[graft.operators.Relational.scd2Build]]
    * on the concatenated feed — asserted by StreamingSpec's parity test
    * and the `scd2_apply` twin's anchor. */
  def applyScd2(scd2: DataFrame, changes: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val batch = changes
      .select(col("user_id"), col("event_type").as("state"),
        unix_micros(col("ts")).as("ts_us"), col("event_id"))
      .select(col("user_id"), row_number().over(w).as("dv"), col("state"),
        col("ts_us").as("valid_from_us"),
        (lead(col("ts_us"), 1).over(w) - 1).as("valid_to_us"),
        lead(col("ts_us"), 1).over(w).isNull.as("is_current"),
        col("event_id"))
    val keyInfo = batch.groupBy(col("user_id"))
      .agg(min(col("valid_from_us")).as("first_new_us"),
        max(col("dv")).as("n_new"))
    val closed = scd2.join(keyInfo, Seq("user_id"), "left_outer")
      .select(col("user_id"), col("version"), col("state"), col("valid_from_us"),
        when(col("is_current") && col("first_new_us").isNotNull,
          col("first_new_us") - 1).otherwise(col("valid_to_us")).as("valid_to_us"),
        (col("is_current") && col("first_new_us").isNull).as("is_current"),
        col("event_id"))
    val base = scd2.groupBy(col("user_id")).agg(max(col("version")).as("base_v"))
    val appended = batch.join(base, Seq("user_id"), "left_outer")
      .select(col("user_id"),
        (coalesce(col("base_v"), lit(0)) + col("dv")).as("version"),
        col("state"), col("valid_from_us"), col("valid_to_us"),
        col("is_current"), col("event_id"))
    closed.unionByName(appended)
  }

  /** The version table before any change event. */
  def emptyScd2(spark: SparkSession): DataFrame =
    spark.createDataFrame(Seq.empty[(Long, Int, String, Long, Long, Boolean, Long)])
      .toDF("user_id", "version", "state", "valid_from_us", "valid_to_us",
        "is_current", "event_id")

  /** Exponentially time-decayed per-user event counters as a CUSTOM-STATE
    * streaming aggregate — the `mapGroupsWithState` twin of
    * [[graft.operators.Relational.decayedCounts]], demonstrating the
    * arbitrary-state API the built-in windowed aggregates can't express
    * (the state is a (anchor, value) pair folded with a data-dependent
    * decay multiplier, not a commutative sum).
    *
    * Per user the state is (anchor µs = max ts seen, decayed value AT that
    * anchor, n). Each batch's group rows fold in (ts, then arrival) order:
    *   ts ≥ anchor: value·e^((anchor−ts)/τ) + 1, anchor ← ts
    *   ts <  anchor (late data): value + e^((ts−anchor)/τ)
    * so the counter is exact under any batch split of an ordered feed and
    * correct (order-insensitive up to FP re-association) under late
    * arrivals. State is O(1) per live user — the unbounded-key concern is
    * the same as any keyed state store and ages out with a timeout in a
    * real deployment.
    *
    * The batch query anchors every user at the GLOBAL max ts and quantizes
    * per-term; rescaling this stream's per-user result by
    * e^((anchor−t_max)/τ) reproduces it up to FP re-association —
    * StreamingSpec asserts that parity within 1e-9 relative. */
  def decayedCountsStream(events: DataFrame, tauUs: Double = 3.6e9): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    events
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[(Long, Double, Long), (Long, Long, Long, Double)](
        GroupStateTimeout.NoTimeout()) { case (user, rows, state) =>
        var (anchor, value, n) = state.getOption.getOrElse((Long.MinValue, 0.0, 0L))
        rows.map(_._2).toArray.sorted.foreach { us =>
          if (anchor == Long.MinValue) { anchor = us; value = 1.0 }
          else if (us >= anchor) {
            value = value * math.exp((anchor - us).toDouble / tauUs) + 1.0
            anchor = us
          } else value = value + math.exp((us - anchor).toDouble / tauUs)
          n += 1
        }
        state.update((anchor, value, n))
        (user, n, anchor, value)
      }
      .toDF("user_id", "n_events", "anchor_us", "decayed_at_anchor")
  }

  /** Per-user out-of-order flagger — the streaming twin of
    * [[graft.operators.Relational.lateArrivals]] (the metric that sizes
    * a watermark is naturally measured ON the stream): one long of state
    * per user (running max event time over ARRIVAL order), every event
    * emitted with its late flag. Within a batch the group's rows fold in
    * event_id (arrival) order; across batches the per-key delivery order
    * is the feed's arrival order, so the fold is split-invariant —
    * StreamingSpec asserts the flags equal the batch running-max window
    * on the concatenated feed. Append mode, no watermark needed: the
    * flag for an event never revises. */
  def lateArrivalsStream(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    events
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
      .as[(Long, Long, String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, (Long, Long, String, Long, Boolean)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (_, rows, state) =>
          var mx = state.getOption.getOrElse(Long.MinValue)
          val out = rows.toArray.sortBy(_._2).map { case (u, id, tpe, us) =>
            val ooo = mx != Long.MinValue && us < mx
            if (us > mx) mx = us
            (u, id, tpe, us, ooo)
          }
          state.update(mx)
          out.iterator
      }
      .toDF("user_id", "event_id", "event_type", "ts_us", "ooo")
  }

  /** Online CUSUM drift monitor — the streaming twin of
    * [[graft.operators.Relational.cusumChangepoint]]: the recursion
    * S_t = max(0, S_{t−1} + (x_t − ref)) folded live as each day's total
    * closes, against an a-priori reference level `refCents` (an online
    * monitor cannot know the retrospective all-period mean the batch
    * detector centers on — Page's test takes its target as
    * configuration). State is two longs — (cum drift, strict-prefix min
    * of cum) — on ONE monitor key per watched series; the per-day totals
    * feeding it are an ordinary upstream aggregate, so the single-key
    * fold touches |days| rows, never raw volume. FEED CONTRACT: the day
    * grid must be DENSE, zero on dark days (the twin folds the batch
    * detector's `Relational.cusumDays`): a day the monitor never sees
    * would silently skip its −ref drift, and a dark day IS drift. Days
    * fold in day order within a batch, so on a day-ordered feed the fold
    * is split-invariant and equals the scalar recursion exactly (integer
    * arithmetic, asserted in StreamingSpec). Append mode: a closed day's
    * alarm level never revises. */
  def cusumStream(refCents: Long)(daily: DataFrame): DataFrame = {
    import daily.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    daily
      .select(col("day"), col("cents"))
      .as[(Long, Long)]
      .groupByKey(_ => 0) // one monitored series — the global revenue line
      .flatMapGroupsWithState[(Long, Long), (Long, Long, Long, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (_, rows, state) =>
          var (cum, minPrefix) = state.getOption.getOrElse((0L, 0L))
          val out = rows.toArray.sortBy(_._1).map { case (day, x) =>
            cum += x - refCents
            // minPrefix is min(0, min over STRICTLY earlier cum) here
            val s = math.max(0L, cum - minPrefix)
            if (cum < minPrefix) minPrefix = cum
            (day, x, cum, s)
          }
          state.update((cum, minPrefix))
          out.iterator
      }
      .toDF("day", "day_cents", "cum_drift", "cusum")
  }

  /** Ordered-funnel tracker — the streaming twin of
    * [[graft.operators.Relational.funnelSteps]]: per user a 3-slot state
    * machine (first view µs, first qualifying click µs, first qualifying
    * purchase µs), each step only arming within `stepUs` of the previous
    * step's instant. Events fold in EVENT-TIME order within each batch;
    * on a per-key time-ordered feed the fold equals the batch query's
    * min-aggregate chain (asserted in StreamingSpec, including
    * split-invariance across an arbitrary batch boundary). Update mode —
    * one row per (user, batch) with the current steps_completed; state is
    * three longs per user. */
  def funnelStepsStream(events: DataFrame,
      stepUs: Long = 86400000000L): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val Unset = Long.MinValue
    events
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .as[(Long, String, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[(Long, Long, Long), (Long, Long, Long, Long, Int)](
        GroupStateTimeout.NoTimeout()) { case (user, rows, state) =>
        var (v, s, p) = state.getOption.getOrElse((Unset, Unset, Unset))
        rows.toArray.sortBy(_._3).foreach { case (_, tpe, us) =>
          if (v == Unset) { if (tpe == "view") v = us }
          else if (s == Unset) {
            if (tpe == "click" && us > v && us <= v + stepUs) s = us
          } else if (p == Unset) {
            if (tpe == "purchase" && us > s && us <= s + stepUs) p = us
          }
        }
        state.update((v, s, p))
        val steps = (if (v != Unset) 1 else 0) +
          (if (s != Unset) 1 else 0) + (if (p != Unset) 1 else 0)
        (user, v, s, p, steps)
      }
      .toDF("user_id", "v_us", "s_us", "p_us", "steps_completed")
  }

  /** NS per-user step of `markov_transitions` (not of the order-status
    * `status_transitions`): consecutive event-type transitions as an
    * ONLINE fold, computed at ingest instead of by a lag-window job. State is
    * the user's last event type (no state = no event seen yet); each batch
    * sorts its per-user slice by (event time, event_id) — the same total
    * order the feed arrives in, so a batch boundary lands BETWEEN two
    * ordered events and the emitted transition set is split-invariant
    * (append mode: each transition is emitted exactly once, in the batch
    * where its later event arrives). At 100 TB: state is O(|users|) × ~24
    * bytes (one short string as an UnsafeRow) sharded by the groupByKey
    * hash; swap NoTimeout for a TTL on idle users to bound it. */
  def statusTransitionsStream(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    events
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("event_id"))
      .as[(Long, String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[String, (Long, String, String, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (user, rows, state) =>
          var last = state.getOption
          val out =
            scala.collection.mutable.ArrayBuffer[(Long, String, String, Long)]()
          rows.toArray.sortBy(r => (r._3, r._4)).foreach {
            case (_, tpe, _, id) =>
              last.foreach(from => out += ((user, from, tpe, id)))
              last = Some(tpe)
          }
          last.foreach(state.update)
          out.iterator
      }
      .toDF("user_id", "from_type", "to_type", "event_id")
  }

  /** NS streaming twin of `doc_dedup_exact`: ONLINE exact dedup of a
    * document feed — the ingest-time gate that keeps a training corpus
    * append-only-unique without re-scanning history. Keyed by content
    * md5; state is one long (the keeper doc_id) per distinct content.
    * Semantics: FIRST-SEEN WINS across batches (arrival order is the
    * contract — a later batch cannot retroactively displace an earlier
    * keeper, which is what makes the sink append-safe); within one batch
    * the lowest doc_id is the keeper (deterministic under replay, same
    * rule as the batch query). Emits every input doc tagged with its
    * keeper and a duplicate flag, so the sink can route keepers to the
    * corpus and dupes to a quarantine topic. At 100 TB: state is
    * 16 bytes × |distinct contents| sharded across executors by the
    * groupByKey hash; for unbounded feeds swap NoTimeout for a TTL (the
    * dedup horizon) — the fold itself is unchanged. */
  def dedupStream(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    docs.select(md5(col("text")).as("h"), col("doc_id"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, (Long, String, Long, Boolean)](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (h, rows, state) =>
          val batch = rows.map(_._2).toArray.sorted
          val keeper = state.getOption.getOrElse(batch.head)
          if (state.getOption.isEmpty) state.update(keeper)
          batch.iterator.map(id => (id, h, keeper, id != keeper))
      }
      .toDF("doc_id", "content_md5", "keeper_doc_id", "is_duplicate")
  }

  // ---- exactly-once foreachBatch folds ------------------------------

  /** Latest COMPLETE state version ≤ `atMost` under `stateDir`
    * (completeness marker: parquet's _SUCCESS file). */
  private[graft] def latestVersionAtMost(stateDir: String, atMost: Long): Option[Long] = {
    val d = new java.io.File(stateDir)
    val vs = Option(d.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("v=") &&
        new java.io.File(f, "_SUCCESS").isFile)
      .map(_.getName.stripPrefix("v=").toLong)
      .filter(_ <= atMost)
    if (vs.isEmpty) None else Some(vs.max)
  }

  /** Exactly-once guard for foreachBatch CDC/SCD2 folds ([[applyCdc]],
    * [[applyScd2]]): Structured Streaming writes a batch's offsets to the
    * WAL BEFORE processing and its commit marker AFTER, so a crash
    * between the sink write and the commit re-delivers the SAME batchId
    * on restart — an unguarded fold would double-apply it. This sink
    * makes the fold idempotent the standard way (versioned state keyed
    * by batchId): batch `id` is always applied onto version `id−1` (the
    * latest COMPLETE version ≤ id−1, never "latest overall" — on replay,
    * latest-overall would be the crashed batch's own output and the fold
    * would double-apply) and written to `stateDir/v=<id>` with overwrite,
    * so a replay regenerates byte-identical state instead of applying
    * twice. In a lakehouse deployment the same contract is a transactional
    * table's (txnAppId, txnVersion=batchId) dedup; the versioned-directory
    * form here needs only parquet. Returns the foreachBatch function. */
  def versionedFoldSink(spark: SparkSession, stateDir: String,
      init: DataFrame, apply: (DataFrame, DataFrame) => DataFrame)
      : (DataFrame, Long) => Unit = { (batch, id) =>
    val prev = latestVersionAtMost(stateDir, id - 1) match {
      case Some(v) => spark.read.parquet(s"$stateDir/v=$v")
      case None    => init
    }
    apply(prev, batch).write.mode("overwrite").parquet(s"$stateDir/v=$id")
  }

  /** Current state table under a [[versionedFoldSink]] dir (the newest
    * complete version), or `init` when no batch has committed yet. */
  def versionedFoldState(spark: SparkSession, stateDir: String,
      init: DataFrame): DataFrame =
    latestVersionAtMost(stateDir, Long.MaxValue)
      .map(v => spark.read.parquet(s"$stateDir/v=$v")).getOrElse(init)
}
