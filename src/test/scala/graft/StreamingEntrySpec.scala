package graft

import graft.streaming.StreamingEntry

/** The streaming-surface manifest gate: every declared twin must hold
  * its parity contract (agg twins: streamed == the registered batch
  * query; fold twins: N-split fold == 1-split fold, and the fold through
  * its anchor's tail == the anchor's batch query) over the real fixture
  * tables.
  * This is the in-suite mirror of the one-command
  * `runMain graft.streaming.StreamingParity` harness. */
class StreamingEntrySpec extends SparkSpecBase {

  test("every declared streaming twin holds its parity contract (3-split)") {
    val results = StreamingEntry.twins.toSeq.sortBy(_._1).map {
      case (name, twin) => name -> twin.run(spark, Sf0001, 3)
    }
    val broken = results.collect { case (n, p) if !p.ok => n }
    assert(broken.isEmpty, s"parity broken for: ${broken.mkString(", ")}")
    assert(results.map(_._1).toSet === Set(
      "sales_totals_stream", "kmv_distinct_stream", "ktable_latest_stream",
      "windowed_agg_stream", "sliding_window_stream", "session_window_stream",
      "markov_transitions_stream", "interval_join_stream",
      "decayed_counts_stream", "late_arrivals_stream", "funnel_steps_stream",
      "status_transitions_stream", "dynamic_sessions_stream",
      "funnel_conversion_stream", "cusum_stream", "tws_running_totals",
      "dedup_stream", "corpus_funnel_stream", "cdc_apply", "scd2_apply"))
    // both parity classes must stay represented
    val kinds = StreamingEntry.twins.values.map(_.kind).toSet
    assert(kinds === Set("agg", "fold"))
    // every fold twin checks a batch query but these two, whose reasons
    // the StreamingEntry doc states
    val unanchored = results.collect { case (n, p)
      if StreamingEntry.twins(n).kind == "fold" && p.anchor.isEmpty => n }
    assert(unanchored.toSet === Set("cdc_apply", "corpus_funnel_stream"))
  }

  test("an anchor catches a fold that is wrong the same way at every split") {
    import org.apache.spark.sql.functions.{col, not}
    import graft.operators.Relational
    import graft.streaming.StreamOps
    import StreamingEntry.{Anchor, arrivals, foldTwin}
    // late_arrivals_stream with every out-of-order flag negated: the
    // fold is still split-invariant, but its per-type counts are not
    // late_arrivals'
    val negated = foldTwin(arrivals, "append")(
      _ => StreamOps.lateArrivalsStream(_).withColumn("ooo", not(col("ooo"))),
      anchor = Some(Anchor("late_arrivals", Relational.lateArrivalsReport)))
    val p = negated.run(spark, Sf0001, 3)
    assert(p.got.nonEmpty)
    assert(p.got === p.want, "the negated fold should still be split-invariant")
    assert(p.anchor.exists(a => a.want.nonEmpty && a.got != a.want))
    assert(!p.ok)
  }

  test("late_arrivals counts out-of-order events, and its twin anchors to " +
      "it, on events whose event_id order disagrees with ts") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions.{col, expr, lit}
    import spark.implicits._
    // contract-shaped events (ts as TIMESTAMP_NTZ µs): user i % 4 sends
    // event i 60 s after event i - 4, plus µs noise; every 5th event is
    // stamped 5 minutes early, so it lands before its user's previous one
    val t0 = 1704067200000000L
    val rows = (0 until 40).map { i =>
      val us = t0 + i * 60000000L + i * 137L - (if (i % 5 == 3) 300000000L else 0L)
      (i.toLong, us, (i % 4).toLong, Seq("click", "purchase", "view")(i % 3),
        i * 1.25, "{}")
    }
    val want = rows.groupBy(_._3).values.flatMap { evs =>
      evs.sortBy(_._1).scanLeft((Long.MinValue, Option.empty[String])) {
        case ((mx, _), (_, us, _, tpe, _, _)) =>
          (math.max(mx, us), if (us < mx) Some(tpe) else None)
      }.flatMap(_._2)
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(want.values.sum > 0)
    val dir = Files.createTempDirectory("graft_ooo_events")
    try {
      rows.toDF("event_id", "us", "user_id", "event_type", "value", "props")
        .select(col("event_id"),
          expr("cast(timestamp_micros(us) as timestamp_ntz)").as("ts"),
          col("user_id"), col("event_type"), col("value"), col("props"))
        .write.parquet(s"$dir/events.parquet")
      val got = SparkEntry.queries("late_arrivals")(spark, dir.toString)
        .where(col("n_ooo") > lit(0L)).collect()
        .map(r => r.getAs[String]("event_type") -> r.getAs[Long]("n_ooo")).toMap
      assert(got === want)
      assert(StreamingEntry.twins("late_arrivals_stream").run(spark, dir.toString, 3).ok)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("the Ev, Doc and Change feeds run on generated code alone " +
      "(no interpreted fallback)") {
    // A feed case class Spark's generated projections cannot construct
    // fails to compile there; by default Spark logs the error and falls
    // back to interpreted code, which CODEGEN_ONLY turns into a failure.
    val key = "spark.sql.codegen.factoryMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "CODEGEN_ONLY")
    try Seq("windowed_agg_stream", "dedup_stream", "cdc_apply").foreach { n =>
      assert(StreamingEntry.twins(n).run(spark, Sf0001, 2).ok, n)
    } finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None => spark.conf.unset(key)
    }
  }

  test("corpus_pipeline_incremental: a cold construction runs no job past " +
      "its table loads, and a call pins one checkpoint outside the memo") {
    // The report is one lazy funnel call over the new slice: no gate,
    // index or probe work may run while the query is built. Each
    // spark.read.parquet runs one schema-inference job, and the query
    // loads documents twice (the new slice and the index).
    import graft.operators.{CorpusOps, FrameMemo}
    val sc = spark.sparkContext
    val loads = jobsDuring {
      Tables.documents(spark, Sf0001); Tables.documents(spark, Sf0001); ()
    }
    FrameMemo.shared.clear()
    val before = sc.getPersistentRDDs.keySet.toSet
    var report: org.apache.spark.sql.DataFrame = null
    val jobs = jobsDuring {
      report = CorpusOps.corpusPipelineIncremental(spark, Sf0001); ()
    }
    assert(jobs === loads,
      s"$jobs jobs to construct cold; the two table loads alone run $loads")
    assert(report.collect().length === 1)
    // the memo releases the index; only the new slice's checkpoint stays
    FrameMemo.shared.clear()
    val pinned = sc.getPersistentRDDs.keySet.toSet -- before
    assert(pinned.size <= 1, s"${pinned.size} RDDs left pinned past the memo")
  }
}
