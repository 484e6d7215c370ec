package graft.streaming

import java.sql.Timestamp

import scala.jdk.CollectionConverters._
import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, GraftShims,
  SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{Checkpoints, ReferenceOps, Relational}

/** The enumerable STREAMING surface — the `SparkEntry.queries` analogue
  * for the streaming twins, so a driver can list and gate them the same
  * way it gates the batch registry.
  *
  * Each manifest entry is a self-contained parity runner over a fixture
  * directory's tables: it feeds a table through a MemoryStream
  * in `splits` arrival batches, drains the twin to a memory sink, and
  * compares canonicalized results with the registered, DuckDB-oracled
  * batch query (D-Streams: a stream is a series of deterministic batch
  * computations, so it owes the batch answer):
  *
  *  - `agg` twins drain the rows of `SparkEntry.queries(<q>)`; most
  *    stream the very `StreamOps` function that query runs;
  *  - `fold` twins (arbitrary-state and foreachBatch folds) must give
  *    the same rows at N batches as at 1 (split invariance), AND their
  *    rows through the batch query's own tail must equal that query
  *    (the [[Anchor]]); split invariance alone passes a fold that is
  *    wrong the same way at every split.
  *
  * Every stateful fold in `graft.streaming` runs here but `RateLimiter`
  * (its token bucket has no batch query); `dynamic_sessions_stream` and
  * `funnel_conversion_stream` check `DynamicSessions` and `StreamingAsOf`
  * against `dynamic_sessions` and `funnel_conversion`.
  *
  * Not fully anchored: `cdc_apply` (no registered query applies
  * last-change-wins over events; `merge_upsert` applies a generated
  * balance-delta change set to `customer`); `decayed_counts_stream`
  * checks `n_events` only (the batch query quantizes each decay term
  * before it sums, the fold rescales one double per user, so the values
  * differ by up to n/2 quanta); `corpus_funnel_stream` checks its
  * N-batch stage counts against `corpus_pipeline_incremental`, the
  * one-batch report. StreamingSpec keeps hand-written truths.
  *
  * One-command run: `sbt "runMain graft.streaming.StreamingParity
  * /root/testdata/sf0.01 3"` — prints a single JSON line per the bench
  * convention, exit code 0 iff every twin is green.
  */
object StreamingEntry {

  /** (got, want) canonical row strings, plus a fold twin's anchor check;
    * parity ⇔ got == want and the anchor (if any) holds. */
  final case class Parity(got: Seq[String], want: Seq[String],
      anchor: Option[Parity] = None) {
    def ok: Boolean = got == want && anchor.forall(_.ok)
  }

  /** kind ∈ {agg, fold} — see object doc. */
  final case class Twin(kind: String,
      run: (SparkSession, String, Int) => Parity)

  /** A twin's link to the oracle: `tail` of its final rows must equal
    * the registered batch query `query`, projected onto the tail's
    * columns. */
  final case class Anchor(query: String, tail: DataFrame => DataFrame)

  // Public: Spark's generated (de)serializers construct and read them.
  final case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)
  final case class Doc(doc_id: Long, text: String)
  final case class Change(user_id: Long, event_id: Long, op: String,
      event_type: String, value: Double)

  /** Closes a watermarked feed: an event after every real one. */
  private val Sentinel = Ev(Long.MaxValue, new Timestamp(32503680000000L),
    Long.MinValue, "sentinel", 0.0)

  private val nameCtr = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Split `rows` into `n` contiguous arrival batches (order preserved —
    * the per-key arrival/event-time order contracts ride on it). */
  private def splitInto[T](rows: Seq[T], n: Int): Seq[Seq[T]] = {
    val per = math.max(1, (rows.size + n - 1) / n)
    rows.grouped(per).toSeq
  }

  /** Feed `rows` through a MemoryStream in `splits` arrival batches into
    * the query `start` begins on the stream, draining each batch before
    * the next arrives; the query is stopped on return. */
  private def runStream[T: Encoder](spark: SparkSession, rows: Seq[T],
      splits: Int)(start: DataFrame => StreamingQuery): Unit = {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[T]
    val q = start(ms.toDF())
    try splitInto(rows, splits).foreach { b =>
      ms.addData(b); q.processAllAvailable()
    } finally q.stop()
  }

  /** [[runStream]] of `xform` into a memory sink in output `mode`;
    * returns the sink table. */
  private def drained[T: Encoder](spark: SparkSession, rows: Seq[T],
      splits: Int, mode: String, xform: DataFrame => DataFrame): DataFrame = {
    val name = s"graft_parity_${nameCtr.incrementAndGet()}"
    runStream(spark, rows, splits)(xform(_).writeStream
      .format("memory").queryName(name).outputMode(mode).start())
    spark.table(name)
  }

  /** Double columns quantized to 2^-20 fixed point before compare —
    * streaming partial aggregation folds FP sums in a different order
    * than the batch plan, so raw double sums differ in the last ulps
    * (the same cross-engine discipline the batch oracles use). */
  private def quantized(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.map {
      case f if f.dataType == org.apache.spark.sql.types.DoubleType =>
        floor(col(f.name) * 1048576.0 + 0.5).cast("long").as(f.name)
      case f => col(f.name)
    }
    df.select(scala.collection.immutable.ArraySeq.unsafeWrapArray(cols): _*)
  }

  /** Canonical sorted row strings (memory-sink temp views are tiny and
    * die with the session — not dropped eagerly). */
  private def canon(df: DataFrame): Seq[String] =
    quantized(df).collect().map(_.toString).toSeq.sorted

  /** Update-mode folds emit one row per (key, batch): the last row per
    * key in collect (= batch) order of the memory sink is its final state. */
  private def lastPerKey(df: DataFrame, keyIdx: Int): DataFrame = {
    val last = df.collect().toSeq.groupMapReduce(_.get(keyIdx))(identity)((_, r) => r)
    df.sparkSession.createDataFrame(last.values.toSeq.asJava, df.schema)
  }

  /** The anchor check: `a.tail(rows)` against the registered query. */
  private def anchorParity(spark: SparkSession, dir: String, rows: DataFrame,
      a: Anchor): Parity = {
    val got = a.tail(rows)
    val want = graft.SparkEntry.queries(a.query)(spark, dir)
      .select(got.columns.toSeq.map(col): _*)
    Parity(canon(got), canon(want))
  }

  /** A fold twin's parity: the `splits`-batch fold against the 1-batch
    * fold, and the `splits`-batch fold against its anchor. */
  private def foldParity(spark: SparkSession, dir: String, splits: Int,
      anchor: Option[Anchor])(fold: Int => DataFrame): Parity = {
    val got = fold(splits)
    Parity(canon(got), canon(fold(1)), anchor.map(anchorParity(spark, dir, got, _)))
  }

  /** The events table in event-time order, to the µs the batch plans
    * order by (a ms order could swap a same-ms pair the batch
    * lead/argmax sees in µs order). */
  private def events(spark: SparkSession, dir: String): Seq[Ev] = {
    import spark.implicits._
    graft.Tables.events(spark, dir)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .orderBy(unix_micros($"ts"), $"event_id").as[Ev].collect().toSeq
  }

  /** The events table in arrival (event_id) order. */
  private[graft] def arrivals(spark: SparkSession, dir: String): Seq[Ev] =
    events(spark, dir).sortBy(_.event_id)

  private def docs(spark: SparkSession, dir: String,
      where: Column = lit(true)): Seq[Doc] = {
    import spark.implicits._
    graft.Tables.documents(spark, dir).where(where).select($"doc_id", $"text")
      .as[Doc].collect().toSeq.sortBy(_.doc_id)
  }

  /** Run `body` with the session conf `conf` set, then restore it. */
  private def withConf[A](spark: SparkSession, conf: Map[String, String])(
      body: => A): A = {
    val prev = conf.map { case (k, v) =>
      val p = spark.conf.getOption(k); spark.conf.set(k, v); k -> p }
    try body finally prev.foreach { case (k, p) =>
      p.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** agg twin `name`: the streamed result, through `post`, == the
    * registered batch query `query` over the same tables, projected onto
    * the result's columns. */
  private def aggTwin(query: String, mode: String,
      xform: DataFrame => DataFrame, post: DataFrame => DataFrame = identity,
      name: Option[String] = None): (String, Twin) =
    name.getOrElse(s"${query}_stream") -> Twin("agg", (spark, dir, splits) => {
      import spark.implicits._
      val streamed = drained(spark, events(spark, dir), splits, mode, xform)
      anchorParity(spark, dir, streamed, Anchor(query, post))
    })

  /** fold twin: N-split fold == 1-split fold, and the N-split fold
    * matches its `anchor`. The `feed`'s arrival order must be the one the
    * within-batch fold uses, or a batch boundary would reorder the fold.
    * `xform` sees the whole feed (CUSUM's level is a property of it);
    * `post` turns the drained rows into the final state; `conf` is set
    * for the run. */
  private[graft] def foldTwin[T <: Product : TypeTag](
      feed: (SparkSession, String) => Seq[T], mode: String)(
      xform: Seq[T] => DataFrame => DataFrame,
      post: DataFrame => DataFrame = identity,
      anchor: Option[Anchor] = None,
      conf: Map[String, String] = Map.empty): Twin =
    Twin("fold", (spark, dir, splits) => withConf(spark, conf) {
      implicit val enc: Encoder[T] = Encoders.product[T]
      val rows = feed(spark, dir)
      foldParity(spark, dir, splits, anchor)(n =>
        post(drained(spark, rows, n, mode, xform(rows))))
    })

  /** foreachBatch-shaped fold (pure per-batch apply function) over a
    * `feed` in the order the apply function's cross-batch contract
    * requires (seq order for CDC, per-key event-time order for SCD2):
    * N-split sequential apply == 1-split apply, and the N-split state
    * matches its `anchor`. */
  private def batchFold[T <: Product : TypeTag](
      feed: (SparkSession, String) => Seq[T], init: SparkSession => DataFrame,
      apply: (DataFrame, DataFrame) => DataFrame,
      anchor: Option[Anchor] = None): Twin =
    Twin("fold", (spark, dir, splits) => {
      val rows = feed(spark, dir)
      foldParity(spark, dir, splits, anchor)(n =>
        splitInto(rows, n).foldLeft(init(spark))((state, b) =>
          Checkpoints.eagerCut(
            apply(state, spark.createDataset(b)(Encoders.product[T]).toDF()))._1))
    })

  /** name → parity runner; the streaming registry a driver enumerates. */
  def twins: Map[String, Twin] = Map(
    // -- agg twins: batch parity ------------------------------------
    aggTwin("sales_totals", "complete", StreamOps.salesTotals),
    aggTwin("kmv_distinct", "complete", StreamOps.kmvDistinct),
    // update mode emits per-batch revisions; the last row per user is the
    // materialized KTable and must equal the batch argmax
    aggTwin("ktable_latest", "update", StreamOps.ktableLatest,
      lastPerKey(_, 0)),
    aggTwin("windowed_agg", "complete", StreamOps.windowedAgg(_)),
    aggTwin("sliding_window", "complete", StreamOps.slidingWindow(_)),
    aggTwin("session_window", "complete", StreamOps.sessionWindow(_)),
    // the one twin that composes an arbitrary-state fold (the per-user
    // transition extractor) with a downstream streaming aggregation
    aggTwin("markov_transitions", "complete",
      StreamOps.statusTransitionsStream(_)
        .groupBy(col("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))),
    // stream-stream interval join: the one twin with TWO streaming sides
    // (both derived from the same feed, like a fanned-out topic). Ordered
    // arrival + watermarked time-bounded condition ⇒ every (purchase,
    // follow-up) pair streams out; per purchase they are range_join's row.
    aggTwin("range_join", "append", df => StreamOps.intervalJoinFollowups(
        df.filter(col("event_type") === "purchase").select(
          col("user_id").as("p_user"), col("event_id").as("p_event_id"),
          col("ts").as("p_ts")),
        df.select(col("user_id").as("e_user"), col("ts").as("e_ts"),
          col("value"))),
      _.groupBy(col("p_event_id"), col("p_user")).agg(count(lit(1)).as("n_follow"),
        ReferenceOps.moneySum(col("value")).as("follow_value")),
      Some("interval_join_stream")),
    // -- fold twins: split invariance + anchor ----------------------
    // n_events only (see the object doc)
    "decayed_counts_stream" -> foldTwin(events, "update")(
      _ => StreamOps.decayedCountsStream(_), lastPerKey(_, 0),
      Some(Anchor("decayed_counts", _.select("user_id", "n_events")))),
    "late_arrivals_stream" -> foldTwin(arrivals, "append")(
      _ => StreamOps.lateArrivalsStream,
      anchor = Some(Anchor("late_arrivals", Relational.lateArrivalsReport))),
    "funnel_steps_stream" -> foldTwin(events, "update")(
      _ => StreamOps.funnelStepsStream(_), lastPerKey(_, 0),
      Some(Anchor("funnel_steps", { users =>
        // an unset step is Long.MinValue in the fold, NULL in the batch
        // query; a user who never viewed is not in its funnel
        def step(c: String) = when(col(c) =!= Long.MinValue, col(c)).as(c)
        Relational.funnelRollup(users.where(col("v_us") =!= Long.MinValue)
          .select(step("v_us"), step("s_us"), step("p_us")))
      }))),
    // the per-user step of markov_transitions' lead window
    "status_transitions_stream" -> foldTwin(events, "append")(
      _ => StreamOps.statusTransitionsStream(_),
      anchor = Some(Anchor("markov_transitions", Relational.transitionMatrix))),
    // purchase-weighted dynamic-gap sessions under a 10-minute watermark;
    // the far-future sentinel ends the feed, so every real session closes
    // by timeout (the sentinel's own session never closes)
    "dynamic_sessions_stream" -> foldTwin(
      (spark, dir) => events(spark, dir) :+ Sentinel, "append")(
      _ => df => DynamicSessions.sessionize(df.withWatermark("ts", "10 minutes"),
        DynamicSessions.purchaseWeightedGap(30L * 60 * 1000000)),
      anchor = Some(Anchor("dynamic_sessions", identity))),
    // each purchase's as-of view; per user, funnel_conversion's rollup
    "funnel_conversion_stream" -> foldTwin(events, "append")(
      _ => StreamingAsOf.funnelMatches(_),
      anchor = Some(Anchor("funnel_conversion", Relational.conversionRollup))),
    // online CUSUM on the batch detector's day grid (append: closed
    // alarms never revise): fed x·n_days against the total, its drift is
    // the batch query's; one row per day, so n_days = count
    "cusum_stream" -> foldTwin((spark, dir) => Relational.cusumDays(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1),
        "append")(
      days => df => StreamOps.cusumStream(days.map(_._2).sum)(df.select(
        col("_1").as("day"), (col("_2") * days.size).as("cents"))),
      anchor = Some(Anchor("cusum_changepoint", { days =>
        days.crossJoin(days.agg(count(lit(1)).as("n_days")))
          .select(col("day").as("epoch_day"),
            expr("day_cents div n_days").as("day_cents"), col("cum_drift"),
            col("cusum"))
          .orderBy(col("cusum").desc, col("epoch_day")).limit(10)
      }))),
    // transformWithState over the purchases (needs the RocksDB store):
    // each user's running totals are sales_totals' row
    "tws_running_totals" -> foldTwin(
      (spark, dir) => events(spark, dir).filter(_.event_type == "purchase")
        .map(e => (e.user_id, e.value)),
      "update")(
      _ => df => TwsOps.runningTotals(df.as(Encoders.product[(Long, Double)]))
        .toDF(),
      lastPerKey(_, 0),
      Some(Anchor("sales_totals", _.select(col("user_id"),
        (col("revenue_cents") / 100.0).as("revenue"),
        col("n_events").as("n_purchases")))),
      Map("spark.sql.streaming.stateStore.providerClass" ->
        ("org.apache.spark.sql.execution.streaming." +
          "state.RocksDBStateStoreProvider"))),
    // dedup feed is doc_id-ordered, so first-seen == min-id: per content
    // md5, the keeper and copy count are doc_dedup_exact's row
    "dedup_stream" -> foldTwin((spark, dir) => docs(spark, dir), "update")(
      _ => StreamOps.dedupStream,
      anchor = Some(Anchor("doc_dedup_exact",
        _.groupBy(col("content_md5").as("text_md5"))
          .agg(min(col("keeper_doc_id")).as("keeper_doc_id"),
            count(lit(1)).as("n_copies"))))),
    // the daily-ingest funnel as a REAL foreachBatch stream: today's
    // crawl arrives in N micro-batches, each one CorpusOps.ingestFunnel
    // call against the persisted index, the seen-hash state folded
    // between calls; corpus_pipeline_incremental is the same function
    // over the whole slice as ONE batch, so the N-batch stage counts
    // must equal that oracled report.
    "corpus_funnel_stream" -> Twin("fold", (spark, dir, splits) => {
      import spark.implicits._
      import graft.operators.{CorpusOps, DocDedup}
      val idx = CorpusOps.corpusIndex(spark, dir)
      val rows = docs(spark, dir, DocDedup.isNewDoc($"doc_id"))
      val acc = new java.util.concurrent.atomic.AtomicLongArray(8)
      val seenQ = new java.util.concurrent.atomic.AtomicReference[DataFrame](
        Seq.empty[String].toDF("h"))
      val applyBatch: (DataFrame, Long) => Unit = (b, _) => {
        val (counts, qh) = CorpusOps.ingestFunnel(idx, seenQ.get(), b)
        val r = counts.collect()(0)
        (0 until 8).foreach(i =>
          acc.addAndGet(i, if (r.isNullAt(i)) 0L else r.getLong(i)))
        // EAGER checkpoint: the micro-batch frame is only valid inside
        // this call; the folded hash state must outlive it. Then release
        // the superseded state — a per-batch checkpoint left pinned is a
        // leak over a long-running stream (GC reclamation is unreliable;
        // see GraftShims.unpersistCheckpoint).
        val prev = seenQ.get()
        seenQ.set(Checkpoints.eagerCut(prev.union(qh).distinct())._1)
        GraftShims.unpersistCheckpoint(prev)
      }
      runStream(spark, rows, splits)(
        _.writeStream.foreachBatch(applyBatch).start())
      val got = canon(Seq((acc.get(0), acc.get(1), acc.get(2), acc.get(3),
        acc.get(4), acc.get(5), acc.get(6), acc.get(7)))
        .toDF("n_batch", "tok_batch", "n_quality", "tok_quality",
          "n_exact", "tok_exact", "n_ingest", "tok_ingest"))
      val want = canon(CorpusOps.corpusPipelineIncremental(spark, dir))
      Parity(got, want)
    }),
    // foreachBatch CDC/SCD2 folds: sequential per-batch apply over a
    // seq-ordered feed == one-shot apply (cdc_apply: no anchor, see the
    // object doc)
    "cdc_apply" -> batchFold(
      (spark, dir) => arrivals(spark, dir).map(e => Change(e.user_id,
        e.event_id, if (e.event_type == "click") "D" else "U", e.event_type,
        e.value)),
      _.createDataFrame(Seq.empty[(Long, String, Double)])
        .toDF("user_id", "event_type", "value"),
      StreamOps.applyCdc(_, _, "user_id", "event_id", "op")),
    "scd2_apply" -> batchFold(events, StreamOps.emptyScd2, StreamOps.applyScd2,
      Some(Anchor("scd2_build", identity))))
}

/** One-command parity gate over [[StreamingEntry.twins]] — prints ONE
  * JSON line ({"metric":"streaming_parity",...}) and exits non-zero on
  * any red twin. args: <sfDir> [nSplits=3] */
object StreamingParity {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val splits = if (args.length > 1) args(1).toInt else 3
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val results = StreamingEntry.twins.toSeq.sortBy(_._1).map {
      case (name, twin) =>
        val ok =
          try {
            val p = twin.run(spark, sfDir, splits)
            for ((check, c) <- ("split" -> p) +: p.anchor.map("anchor" -> _).toSeq
                 if c.got != c.want) System.err.println(
              s"[parity] $name $check MISMATCH: got ${c.got.size} rows vs " +
                s"want ${c.want.size}; first diff: " +
                (c.got.toSet diff c.want.toSet).headOption
                  .orElse((c.want.toSet diff c.got.toSet).headOption))
            p.ok
          } catch { case e: Throwable =>
            System.err.println(s"[parity] $name failed: ${e.getMessage}")
            false
          }
        System.err.println(s"[parity] $name ${if (ok) "ok" else "FAIL"}")
        name -> ok
    }
    val green = results.forall(_._2)
    val body = results.map { case (n, ok) => s""""$n":${ok}""" }
      .mkString("{", ",", "}")
    println(s"""{"metric":"streaming_parity","twins":$body,""" +
      s""""n":${results.size},"splits":$splits,"green":$green}""")
    spark.stop()
    if (!green) sys.exit(1)
  }
}
