package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.LongType

import graft.sources.LogSink
import graft.streaming.{RateLimiter, StreamOps, TwsOps}

/** The `stream_sales` pipeline: a `graft-sales` micro-batch source,
  * projected to keyed events, drained with `Trigger.AvailableNow` through
  * one stateful twin into `graft-sink`. The engine pulls the next
  * micro-batch only after the previous one commits, so the loop is
  * closed. */
final class Streams(spark: SparkSession, p: Workloads.StreamParams, seed: Long,
    ckptRoot: String) {
  import Streams._
  import spark.implicits._

  /** Events from sales rows: ts 1 ms apart in row order (so nothing is
    * ever late), user_id re-keyed by the seed over `keys` users. */
  def events(sales: DataFrame): DataFrame = sales.select(
    col("row_id").as("event_id"),
    timestamp_micros(lit(EpochMicros) + col("row_id") * lit(1000L)).as("ts"),
    pmod(xxhash64(col("row_id"), lit(seed)), lit(p.keys)).as("user_id"),
    col("product_name").as("event_type"),
    round(col("price") * col("quantity"), 2).as("value"))

  private def source(): DataFrame = spark.readStream.format("graft-sales")
    .option("rows", p.rows.toString)
    .option("rowsPerBatch", p.rowsPerBatch.toString)
    .load()

  /** Drain one twin over a fresh checkpoint; returns its wall time, the
    * trigger time of every micro-batch and a summary of what the sink
    * holds. */
  def drain(twin: String, name: String): DrainResult = {
    val ckpt = new File(s"$ckptRoot/$name")
    deleteTree(ckpt)
    LogSink.clear(name)
    val ev = events(source())
    val t0 = System.nanoTime()
    val q: StreamingQuery = twin match {
      case "ktable" =>
        updateViaBatches(StreamOps.ktableLatest(ev), name, ckpt)
      case "ratelimit" =>
        val limited = RateLimiter.rateLimit(
          ev.withWatermark("ts", "1 minute")
            .select("user_id", "ts", "event_id").as[RateLimiter.LimitEvent],
          p.capacity, p.refillPerSec)
        limited.toDF().writeStream.format("graft-sink")
          .option("name", name).option("maxRows", p.rows.toString)
          .outputMode("append").queryName(name)
          .option("checkpointLocation", ckpt.getPath)
          .trigger(Trigger.AvailableNow()).start()
      case "totals" =>
        // transformWithState needs the RocksDB store; the query keeps the
        // setting it started with
        val key = "spark.sql.streaming.stateStore.providerClass"
        val prev = spark.conf.getOption(key)
        spark.conf.set(key, "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        try updateViaBatches(
          TwsOps.runningTotals(ev.select("user_id", "value").as[(Long, Double)]).toDF(), name, ckpt)
        finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
    try q.awaitTermination() finally q.stop()
    val wallS = (System.nanoTime() - t0) / 1e9
    q.exception.foreach(e => throw e)
    val batchMs = q.recentProgress.toSeq.map(_.durationMs.get("triggerExecution").doubleValue)
    val summary = summarize(twin, LogSink.get(name))
    LogSink.clear(name)
    deleteTree(ckpt)
    DrainResult(wallS, batchMs, summary)
  }

  /** `graft-sink` takes no Update output, so update-mode twins append each
    * micro-batch's changed rows with a batch write. */
  private def updateViaBatches(df: DataFrame, name: String, ckpt: File): StreamingQuery = {
    val write: (DataFrame, Long) => Unit = (batch, _) =>
      batch.write.format("graft-sink").option("name", name)
        .option("maxRows", p.rows.toString).mode("append").save()
    df.writeStream.outputMode("update").queryName(name)
      .option("checkpointLocation", ckpt.getPath)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(write).start()
  }

  /** The same twins recomputed in one batch over the same generated input. */
  def expected(): Map[String, Summary] = {
    val ev = events(spark.read.format("graft-sales")
      .option("rows", p.rows.toString).option("partitions", "4").load())
    // update-mode twins emit one row per (micro-batch, changed key)
    val updateRows = ev.select((col("event_id") / lit(p.rowsPerBatch)).cast(LongType), col("user_id"))
      .distinct().count()
    val ktable = StreamOps.ktableLatest(ev).as[(Long, Long, String, Double)].collect()
      .map { case (u, e, t, v) => u -> Seq[Any](e, t, v) }.toMap
    val totals = ev.select("user_id", "value").as[(Long, Double)]
      .groupByKey(_._1).mapGroups { (u, it) =>
        var n = 0L; var cents = 0L
        it.foreach { case (_, v) => n += 1; cents += math.round(v * 100.0) }
        (u, n, cents)
      }.collect().map { case (u, n, c) => u -> Seq[Any](n, c) }.toMap
    val (cap, refill) = (p.capacity, p.refillPerSec)
    val limited = ev.select("user_id", "ts", "event_id").as[RateLimiter.LimitEvent]
      .groupByKey(_.user_id).mapGroups { (u, it) =>
        val evs = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
        val out = RateLimiter.foldBucket(None, cap, refill, evs)._2
        (u, out.size.toLong, out.count(_.admitted).toLong)
      }.collect().map { case (u, n, a) => u -> Seq[Any](n, a) }.toMap
    Map(
      "ktable" -> Summary(updateRows, ktable),
      "ratelimit" -> Summary(p.rows, limited),
      "totals" -> Summary(updateRows, totals))
  }
}

object Streams {
  val Twins: Seq[String] = Seq("ktable", "ratelimit", "totals")
  private val EpochMicros = 1704067200000000L // 2024-01-01 UTC

  /** Rows the sink received, and the final per-key state they imply. */
  final case class Summary(rows: Long, state: Map[Long, Seq[Any]])
  final case class DrainResult(wallS: Double, batchMs: Seq[Double], summary: Summary)

  def summarize(twin: String, sink: Option[LogSink.Committed]): Summary = {
    val c = sink.getOrElse(return Summary(0L, Map.empty))
    val key = (r: Seq[Any]) => r.head.asInstanceOf[Long]
    val state: Map[Long, Seq[Any]] = twin match {
      // update changelogs: the last row per key is its final state
      case "ktable" | "totals" => c.rows.map(r => key(r) -> r.tail).toMap
      // admissions: events seen and admitted per key
      case "ratelimit" => c.rows.groupBy(key).map { case (u, rs) =>
        u -> Seq[Any](rs.size.toLong, rs.count(_(3) == true).toLong)
      }
    }
    Summary(c.totalRows, state)
  }

  def describeMismatch(got: Summary, want: Summary): String = {
    val keys = (got.state.keySet ++ want.state.keySet).toSeq.sorted
    val bad = keys.filter(k => got.state.get(k) != want.state.get(k))
    s"sink rows ${got.rows} (expected ${want.rows}), ${bad.size} keys differ" +
      bad.headOption.map(k => s", first $k: ${got.state.get(k)} vs ${want.state.get(k)}").getOrElse("")
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
