package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.perfbench.BusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Benchmark process. `run.py` launches it once per measured run; it
  * prints one `PERFBENCH {json}` line that `run.py` turns into the
  * benchmark's result.
  *
  * Options (all `--key value`): mode (run | digests), workload,
  * seed, seconds, trace (0 | 1), data (parquet dir), out (artifact dir),
  * tmp (scratch dir), expected (digest file), launch-ms (epoch ms at which
  * the launcher started this process). */
object Main {
  val Cores = 4

  def main(argv: Array[String]): Unit = {
    val o = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val spark = session(o("tmp"))
    val setupS = (System.currentTimeMillis() - o("launch-ms").toLong) / 1000.0
    val body = try o("mode") match {
      case "digests" => Map("digests" -> Workloads.Pipeline.queries
        .map(q => q -> Checks.digest(graft.SparkEntry.queries(q)(spark, o("data")))).toMap)
      case "run" =>
        val run = new Run(spark, o("workload"), o("seed").toLong, o("seconds").toDouble,
          o("trace") == "1", o("data"), o("out"), o("tmp"), o("expected"))
        run.execute()
    } finally spark.stop()
    println("PERFBENCH " + Json.obj(body + ("setup_s" -> setupS)))
  }

  def session(tmp: String): SparkSession = {
    val spark = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.local.dir", s"$tmp/spark")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$tmp/hadoop")
      // keep every micro-batch's progress (the default keeps the last 100)
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** One measured run of one workload. */
final class Run(spark: SparkSession, workload: String, seed: Long,
    seconds: Double, trace: Boolean, data: String, out: String, tmp: String,
    expectedPath: String) {
  import Main._

  private val sc = spark.sparkContext
  private val tracer = if (trace) Some(new Tracer(spark, Cores)) else None
  private val failures = mutable.ArrayBuffer[String]()
  private var attempted = 0

  /** Stage input records, the one count the untraced run keeps (for
    * rows_per_s): a listener summing a field, no spans. */
  private val inputRows = new java.util.concurrent.atomic.AtomicLong()
  private val inputCounter = new SparkListener {
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(e.stageInfo.taskMetrics).foreach(m => inputRows.addAndGet(m.inputMetrics.recordsRead))
  }

  /** Passes run until `seconds` have elapsed; at least the workload's
    * `warmPasses` (four when traced) follow the cold one. A traced run
    * interleaves traced and untraced warm passes in ABBA order (so a
    * warm-up trend cancels), and reports its own overhead as their ratio. */
  private def minWarm(warmPasses: Int) = if (trace) math.max(4, warmPasses) else warmPasses
  private val maxPasses = 60
  private def traced(pass: Int): Boolean =
    trace && (pass == 0 || (pass - 1) % 4 == 0 || (pass - 1) % 4 == 3)

  private var runSpan = -1

  def execute(): Map[String, Any] = {
    sc.addSparkListener(inputCounter)
    tracer.foreach { t => t.register(); runSpan = t.open("run", s"$workload seed=$seed", -1) }
    val body = workload match {
      case Workloads.Pipeline.name => batch(Workloads.Pipeline)
      case Workloads.Stream.name   => stream()
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    body ++ Map("attempted" -> attempted, "failed" -> math.min(failures.size, attempted),
      "failures" -> failures.toSeq, "seed" -> seed)
  }

  private def elapsedSince(t0: Long) = (System.nanoTime() - t0) / 1e9

  private def tagged[T](tag: Tag)(f: => T): T = {
    sc.addJobTag(tag.render)
    try f finally { sc.removeJobTag(tag.render); tracer.foreach(_.claim(tag)) }
  }

  private def drainInputCount(): Long = { BusAccess.drain(sc); inputRows.get }

  /** Heap still in use after a full collection, plus RDD blocks on disk:
    * what a long-lived session keeps holding once the work is done. */
  private def retainedMb(): Double = {
    (1 to 2).foreach { _ => System.gc(); Thread.sleep(100) }
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    val disk = sc.getRDDStorageInfo.map(_.diskSize).sum
    (heap + disk) / 1e6
  }

  // ---- batch workloads -------------------------------------------------

  private final case class QueryTime(name: String, constructS: Double, writeS: Double) {
    def totalS: Double = constructS + writeS
  }
  private final case class Pass(index: Int, wallS: Double, queries: Seq[QueryTime], rows: Long)

  private def batch(w: Workloads.BatchWorkload): Map[String, Any] = {
    val order = new scala.util.Random(seed).shuffle(w.queries)
    val passes = mutable.ArrayBuffer[Pass]()
    val t0 = System.nanoTime()
    var pass = 0
    while (pass < maxPasses && (pass <= minWarm(w.warmPasses) || elapsedSince(t0) < seconds)) {
      passes += batchPass(pass, order)
      pass += 1
    }
    val retained = retainedMb()
    val blockMb = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1e6

    // untimed output check: one canonical digest per query
    val expected = Checks.readDigests(expectedPath)
    w.queries.sorted.foreach { q =>
      attempted += 1
      try {
        val got = Checks.digest(graft.SparkEntry.queries(q)(spark, data))
        expected.get(q) match {
          case Some(e) if e == got => ()
          case Some(e) => failures += s"$q: digest $got, expected $e"
          case None => failures += s"$q: no expected digest"
        }
      } catch { case NonFatal(e) => failures += s"$q: digest check threw $e" }
    }

    val warm = passes.toSeq.drop(1).filter(p => !traced(p.index))
    val steps = warm.flatMap(_.queries.map(_.totalS * 1000.0))
    val e2e = Map(
      "cold_s" -> passes.head.wallS,
      "warm_s" -> median(warm.map(_.wallS)),
      "retained_mb" -> retained,
      "rows_per_s" -> warm.map(_.rows).sum / warm.map(_.wallS).sum,
      "step_p50_ms" -> quantile(steps, 0.5),
      "step_p90_ms" -> quantile(steps, 0.9))
    val detail = Map("passes" -> passes.size, "steps" -> steps.size,
      "queries" -> order.size, "block_mb" -> blockMb,
      "order" -> order)
    val layers = tracer.map(t => batchLayers(t, passes.toSeq, order)).getOrElse(Map.empty)
    Map("e2e" -> e2e, "detail" -> detail) ++ layers
  }

  private def batchPass(pass: Int, order: Seq[String]): Pass = {
    tracer.foreach(_.startPass(traced(pass)))
    val tr = tracer.filter(_ => traced(pass))
    val passSpan = tr.map(_.open("pass", if (pass == 0) "cold" else s"warm$pass", runSpan)).getOrElse(-1)
    val rows0 = drainInputCount()
    val t0 = System.nanoTime()
    val times = order.map { q =>
      attempted += 1
      val qSpan = tr.map(_.open("query", q, passSpan)).getOrElse(-1)
      val ct = Tag(pass, q, "construct")
      val wt = Tag(pass, q, "write")
      val a = System.nanoTime()
      var b = a
      try {
        val cSpan = tr.map(_.open("construct", q, qSpan, Some(ct)))
        val df = try tagged(ct)(graft.SparkEntry.queries(q)(spark, data))
          finally cSpan.foreach(id => tr.foreach(_.close(id)))
        b = System.nanoTime()
        val wSpan = tr.map(_.open("write", q, qSpan, Some(wt)))
        try tagged(wt)(df.write.format("noop").mode("overwrite").save())
        finally wSpan.foreach(id => tr.foreach(_.close(id)))
      } catch { case NonFatal(e) => failures += s"$q (pass $pass): $e" }
      val c = System.nanoTime()
      tr.foreach { t => t.close(qSpan); t.sampleBlocks(pass) }
      QueryTime(q, (b - a) / 1e9, (c - b) / 1e9)
    }
    val wall = elapsedSince(t0)
    tr.foreach(_.close(passSpan))
    Pass(pass, wall, times, drainInputCount() - rows0)
  }

  private def batchLayers(t: Tracer, passes: Seq[Pass], order: Seq[String]): Map[String, Any] =
    traceReport(t, passes.map(p => p.index -> p.wallS), _ => Map.empty, { t =>
      // per-query ranking: construction time and jobs, task CPU, cold/warm
      val coldQ = t.queryLayers(0)
      val warmPasses = passes.drop(1).filter(p => traced(p.index))
      val ranking = order.map { q =>
        val cold = passes.head.queries.find(_.name == q).get
        val warm = median(warmPasses.flatMap(_.queries.find(_.name == q)).map(_.totalS))
        val l = coldQ.getOrElse(q, Map.empty)
        q -> Map("construct_s" -> cold.constructS,
          "construct_jobs" -> l.getOrElse("construct_jobs", 0.0),
          "task_cpu_s" -> l.getOrElse("task_cpu_s", 0.0), "cold_s" -> cold.totalS,
          "warm_s" -> warm, "cold_over_warm" -> cold.totalS / math.max(warm, 1e-9))
      }.toMap
      def rankBy(k: String) = ranking.toSeq.sortBy(-_._2(k)).map(_._1)
      Some(Json.obj(Map("workload" -> workload, "seed" -> seed, "queries" -> ranking,
        "by_construct_s" -> rankBy("construct_s"), "by_construct_jobs" -> rankBy("construct_jobs"),
        "by_task_cpu_s" -> rankBy("task_cpu_s"), "by_cold_over_warm" -> rankBy("cold_over_warm"))))
    })

  // ---- stream workload -------------------------------------------------

  private final case class Drain(index: Int, wallS: Double, twinS: Map[String, Double], batchMs: Seq[Double])

  private def stream(): Map[String, Any] = {
    val p = Workloads.Stream
    val streams = new Streams(spark, p, seed, s"$tmp/ckpt")
    val drains = mutable.ArrayBuffer[Drain]()
    val summaries = mutable.ArrayBuffer[(Int, String, Streams.Summary)]()
    val t0 = System.nanoTime()
    var pass = 0
    while (pass < maxPasses && (pass <= minWarm(p.warmPasses) || elapsedSince(t0) < seconds)) {
      tracer.foreach(_.startPass(traced(pass)))
      val tr = tracer.filter(_ => traced(pass))
      val passSpan = tr.map(_.open("pass", if (pass == 0) "cold" else s"warm$pass", runSpan)).getOrElse(-1)
      val twinS = mutable.LinkedHashMap[String, Double]()
      val batchMs = mutable.ArrayBuffer[Double]()
      Streams.Twins.foreach { twin =>
        attempted += 1
        val tag = Tag(pass, twin, "drain")
        val span = tr.map(_.open("twin", twin, passSpan, Some(tag)))
        val a = System.nanoTime()
        try {
          val r = tagged(tag)(streams.drain(twin, StreamNames(pass, twin)))
          twinS(twin) = r.wallS
          batchMs ++= r.batchMs
          summaries += ((pass, twin, r.summary))
        } catch { case NonFatal(e) =>
          twinS(twin) = (System.nanoTime() - a) / 1e9
          failures += s"$twin (drain $pass): $e"
        }
        span.foreach(id => tr.foreach(_.close(id)))
      }
      // a drain's time is its twins' start-to-termination times; the sink
      // summaries and checkpoint clean-up between them are not timed
      drains += Drain(pass, twinS.values.sum, twinS.toMap, batchMs.toSeq)
      tr.foreach(_.close(passSpan))
      pass += 1
    }
    val retained = retainedMb()

    // untimed output check against a batch recomputation of the same input
    val expected = streams.expected()
    summaries.foreach { case (d, twin, got) =>
      val want = expected(twin)
      if (got != want) failures += s"$twin (drain $d): ${Streams.describeMismatch(got, want)}"
    }

    val warm = drains.toSeq.drop(1).filter(d => !traced(d.index))
    val steps = warm.flatMap(_.batchMs)
    val e2e = Map(
      "cold_s" -> drains.head.wallS,
      "warm_s" -> median(warm.map(_.wallS)),
      "retained_mb" -> retained,
      "rows_per_s" -> (p.rows * Streams.Twins.size * warm.size) / warm.map(_.wallS).sum,
      "step_p50_ms" -> quantile(steps, 0.5),
      "step_p90_ms" -> quantile(steps, 0.9))
    val detail = Map("passes" -> drains.size, "steps" -> steps.size,
      "rows_per_drain" -> p.rows, "rows_per_batch" -> p.rowsPerBatch, "keys" -> p.keys,
      "twin_s" -> Streams.Twins.map(t => t -> median(warm.map(_.twinS.getOrElse(t, 0.0)))).toMap)
    val layers = tracer.map(t => traceReport(t, drains.toSeq.map(d => d.index -> d.wallS),
      _.streamLayers(drains.toSeq.drop(1).map(_.index).filter(traced), Streams.Twins),
      _ => None)).getOrElse(Map.empty)
    Map("e2e" -> e2e, "detail" -> detail) ++ layers
  }

  // ---- helpers ---------------------------------------------------------

  /** The traced run's report: per-layer sums of the cold pass and means
    * over the traced warm passes, workload-specific layers, tracing
    * overhead, the kernel probe, and the span (and ranking) files. */
  private def traceReport(t: Tracer, walls: Seq[(Int, Double)],
      extra: Tracer => Map[String, Double],
      ranking: Tracer => Option[String]): Map[String, Any] = {
    t.close(runSpan)
    t.finish()
    val (tracedWarm, plainWarm) = walls.drop(1).partition(w => traced(w._1))
    val cold = t.passLayers(0, walls.head._2)
    val warm = meanMaps(tracedWarm.map { case (i, w) => t.passLayers(i, w) })
    val (tw, pw) = (median(tracedWarm.map(_._2)), median(plainWarm.map(_._2)))
    val layers = suffix(cold, "cold") ++ suffix(warm, "warm") ++ extra(t) ++ Map(
      "trace.overhead_ratio" -> tw / pw, "trace.spans" -> t.spanCount.toDouble)
    Map("layers" -> (layers ++ Kernels.probe(spark, seed, Workloads.KernelRows)),
      "files" -> writeArtifacts(t, ranking(t)),
      "trace_e2e" -> Map("cold_s" -> walls.head._2, "warm_s" -> tw, "untraced_warm_s" -> pw))
  }

  private def suffix(m: Map[String, Double], s: String): Map[String, Double] =
    m.map { case (k, v) => s"$k.$s" -> v }

  private def meanMaps(ms: Seq[Map[String, Double]]): Map[String, Double] =
    if (ms.isEmpty) Map.empty
    else ms.flatMap(_.keys).distinct.map(k => k -> ms.map(_.getOrElse(k, 0.0)).sum / ms.size).toMap

  private def writeArtifacts(t: Tracer, ranking: Option[String]): Map[String, String] = {
    Files.createDirectories(Paths.get(out))
    val stem = s"$out/$workload-seed$seed"
    Files.write(Paths.get(s"$stem.spans.jsonl"), (t.spanLines().mkString("\n") + "\n").getBytes("UTF-8"))
    ranking.foreach(r => Files.write(Paths.get(s"$stem.ranking.json"), (r + "\n").getBytes("UTF-8")))
    Map("spans" -> s"$stem.spans.jsonl") ++ ranking.map(_ => "ranking" -> s"$stem.ranking.json")
  }
}
