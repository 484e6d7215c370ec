package perfbench

import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.BusAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Job tag the harness puts on every step: pass number, unit (a query or
  * a stream twin) and phase (`construct`, `write` or `drain`). Jobs,
  * SQL executions and streams inherit it, which is how the tracer finds
  * the span that caused each of them. */
final case class Tag(pass: Int, unit: String, phase: String) {
  def render: String = s"pb.$pass.$unit.$phase"
}

object Tag {
  def parse(s: String): Option[Tag] = s.split('.') match {
    case Array("pb", p, u, ph) => p.toIntOption.map(Tag(_, u, ph))
    case _                     => None
  }
  def of(tags: Iterable[String]): Option[Tag] = tags.flatMap(parse).headOption
}

/** Spans, counts and per-layer sums, recorded from outside the program:
  * the harness opens spans around each call into the engine, and a
  * `SparkListener`, a `QueryExecutionListener` and a
  * `StreamingQueryListener` collect jobs, stages, plans and micro-batches.
  * Everything stays in memory until [[finish]].
  *
  * Span tree: run → pass → query → construct | write → job for batch
  * work, run → pass → twin → batch → job for streams. */
final class Tracer(spark: SparkSession, cores: Int) {
  import Tracer._

  private val sc = spark.sparkContext
  private val t0Nano = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Nano) / 1e6

  // ---- harness spans ----------------------------------------------------

  private val spans = mutable.ArrayBuffer[Span]()
  private val spanOfTag = mutable.Map[Tag, Int]()
  private val blockPeakMb = mutable.Map[Int, Double]().withDefaultValue(0.0)

  def open(kind: String, name: String, parent: Int, tag: Option[Tag] = None): Int = {
    val s = Span(spans.size, parent, kind, name, nowMs, -1.0)
    spans += s
    tag.foreach(spanOfTag(_) = s.id)
    s.id
  }
  def close(id: Int): Unit = spans(id).end = nowMs
  /** Start a pass; plans are recorded only while a traced pass runs. */
  def startPass(on: Boolean): Unit = active = on
  @volatile private var active = false

  /** Record the block storage cached/checkpointed RDDs hold right now. */
  def sampleBlocks(pass: Int): Unit = blockPeakMb(pass) =
    math.max(blockPeakMb(pass), sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1e6)

  // ---- listener buffers (written on bus threads) ------------------------

  private val lock = new Object

  private val jobs = mutable.Map[Int, JobRec]()
  private val stages = mutable.Map[Int, StageRec]()
  private val execs = mutable.Map[Long, ExecRec]()
  private val pendingPlans = mutable.ArrayBuffer[PlanRec]()
  private val plans = mutable.Map[Tag, Seq[PlanRec]]()
  private val batches = mutable.ArrayBuffer[BatchRec]()
  private val streamNames = mutable.Map[String, String]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      jobs(e.jobId) = JobRec(e.jobId,
        Tag.of(prop("spark.job.tags").toSeq.flatMap(_.split(','))),
        prop("spark.sql.execution.id").flatMap(_.toLongOption),
        prop("sql.streaming.queryId"),
        prop("streaming.sql.batchId").flatMap(_.toLongOption),
        e.stageIds, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null) stages(i.stageId) = StageRec(i.stageId, i.numTasks,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => lock.synchronized {
        execs(s.executionId) = ExecRec(s.executionId, Tag.of(s.jobTags), s.time)
      }
      case s: SparkListenerSQLExecutionEnd => lock.synchronized {
        execs.get(s.executionId).foreach(_.end = s.time)
      }
      case _ => ()
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (active) {
        val r = PlanRec(qe.tracker.phases.values.map(_.durationMs).sum.toDouble,
          exchanges(qe.executedPlan))
        lock.synchronized { pendingPlans += r }
      }
    override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      lock.synchronized { streamNames(e.id.toString) = Option(e.name).getOrElse("") }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val b = batchRec(e.progress)
      lock.synchronized { batches += b }
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def register(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }
  /** Stop listening, once every pending event has been delivered. */
  def finish(): Unit = {
    BusAccess.drain(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Hand the query executions finished since the last claim to `tag`.
    * Called right after each step returns: a write command reports a
    * different execution id than the one its jobs carry, so plans are
    * matched to steps by time, after draining the bus. */
  def claim(tag: Tag): Unit = if (active) {
    BusAccess.drain(sc)
    lock.synchronized {
      plans(tag) = plans.getOrElse(tag, Nil) ++ pendingPlans
      pendingPlans.clear()
    }
  }

  // ---- aggregation -------------------------------------------------------

  private def jobsOf(pass: Int): Seq[JobRec] =
    jobs.values.filter(_.tag.exists(_.pass == pass)).toSeq
  private def batchesOf(pass: Int): Seq[BatchRec] =
    batches.filter(b => StreamNames.parse(b.query).exists(_._1 == pass)).toSeq

  /** Per-layer sums for one pass (batch work or one stream drain). */
  def passLayers(pass: Int, wallS: Double): Map[String, Double] = lock.synchronized {
    val js = jobsOf(pass)
    val ss = js.flatMap(_.stageIds).distinct.flatMap(stages.get)
    val construct = js.filter(_.tag.exists(_.phase == "construct"))
    val constructS = spanOfTag.collect {
      case (t, id) if t.pass == pass && t.phase == "construct" => spans(id).end - spans(id).start
    }.sum / 1000.0
    val passExecs = execs.values.filter(_.tag.exists(_.pass == pass)).toSeq
    val passPlans = plans.filter(_._1.pass == pass)
    val writeExchanges = passPlans.filter(_._1.phase == "write").values.flatten.map(_.exchanges).sum
    val taskRunS = ss.map(_.runMs).sum / 1000.0
    val commits = passExecs.flatMap { e =>
      val ends = js.filter(_.execId.contains(e.id)).map(_.end)
      if (ends.isEmpty || e.end < 0 || ends.exists(_ < 0)) None
      else Some((e.end - ends.max).toDouble)
    }
    val bs = batchesOf(pass)
    Map(
      "operators.construct_s" -> constructS,
      "operators.construct_jobs" -> construct.size.toDouble,
      "operators.block_mb_peak" -> blockPeakMb(pass),
      "plans.plan_s" -> (passPlans.values.flatten.map(_.planMs).sum + bs.map(_.dur("queryPlanning")).sum) / 1000.0,
      "plans.exchanges" -> writeExchanges.toDouble,
      "exec.exec_s" -> unionMs(js.filter(_.end >= 0).map(j => (j.start.toDouble, j.end.toDouble))) / 1000.0,
      "exec.jobs" -> js.size.toDouble,
      "exec.stages" -> ss.size.toDouble,
      "exec.tasks" -> ss.map(_.tasks).sum.toDouble,
      "exec.single_task_stages" -> ss.count(_.tasks == 1).toDouble,
      "exec.task_run_s" -> taskRunS,
      "exec.task_cpu_s" -> ss.map(_.cpuNs).sum / 1e9,
      "exec.gc_s" -> ss.map(_.gcMs).sum / 1000.0,
      "exec.busy_frac" -> (if (wallS > 0) taskRunS / (wallS * cores) else 0.0),
      "exec.shuffle_write_mb" -> ss.map(_.shWrite).sum / 1e6,
      "exec.shuffle_read_mb" -> ss.map(_.shRead).sum / 1e6,
      "exec.spill_mb" -> ss.map(_.spill).sum / 1e6,
      "sources.scan_mb" -> ss.map(_.inBytes).sum / 1e6,
      "sources.scan_rows" -> ss.map(_.inRecords).sum.toDouble,
      "sources.sink_commit_ms" -> mean(commits))
  }

  /** Micro-batch phase means per twin over the given drains, plus the
    * source-side means pooled over twins. */
  def streamLayers(passes: Seq[Int], twins: Seq[String]): Map[String, Double] = lock.synchronized {
    val bs = passes.flatMap(batchesOf)
    val byTwin = bs.groupBy(b => StreamNames.parse(b.query).map(_._2).getOrElse(""))
    val perTwin = twins.flatMap { t =>
      val xs = byTwin.getOrElse(t, Nil)
      // state size at the end of each drain, averaged over drains
      val last = xs.groupBy(_.query).values.map(_.maxBy(_.batchId)).toSeq
      Seq(
        s"streaming.$t.plan_ms" -> mean(xs.map(_.dur("queryPlanning"))),
        s"streaming.$t.add_batch_ms" -> mean(xs.map(_.dur("addBatch"))),
        s"streaming.$t.wal_commit_ms" -> mean(xs.map(_.dur("walCommit"))),
        s"streaming.$t.commit_offsets_ms" -> mean(xs.map(_.dur("commitOffsets"))),
        s"streaming.$t.state_rows" -> mean(last.map(_.stateRows.toDouble)),
        s"streaming.$t.state_mb" -> mean(last.map(_.stateBytes / 1e6)),
        s"streaming.$t.state_update_ms" -> mean(xs.map(_.stateUpdateMs.toDouble)),
        s"streaming.$t.state_commit_ms" -> mean(xs.map(_.stateCommitMs.toDouble)))
    }
    // scan partitions of a batch: tasks of the first stage of its first job
    val ids = streamNames.map(_.swap)
    val parts = bs.flatMap { b =>
      val qid = ids.get(b.query)
      val bj = jobs.values.filter(j => j.streamQuery == qid && j.batchId.contains(b.batchId))
      bj.toSeq.sortBy(_.id).headOption
        .flatMap(j => j.stageIds.sorted.flatMap(stages.get).headOption)
        .map(_.tasks.toDouble)
    }
    (perTwin ++ Seq(
      "sources.offset_ms" -> mean(bs.map(b => b.dur("latestOffset") + b.dur("getBatch"))),
      "sources.partitions_per_batch" -> mean(parts))).toMap
  }

  /** Per-query layer numbers of one pass, for the ranking. */
  def queryLayers(pass: Int): Map[String, Map[String, Double]] = lock.synchronized {
    val js = jobsOf(pass)
    js.groupBy(_.tag.get.unit).map { case (q, qj) =>
      val ss = qj.flatMap(_.stageIds).distinct.flatMap(stages.get)
      q -> Map(
        "construct_jobs" -> qj.count(_.tag.exists(_.phase == "construct")).toDouble,
        "jobs" -> qj.size.toDouble,
        "task_cpu_s" -> ss.map(_.cpuNs).sum / 1e9)
    }
  }

  /** All spans as JSON lines, jobs and micro-batches included, each with
    * its self time (duration minus the part its children cover). */
  def spanLines(): Seq[String] = lock.synchronized {
    val all = mutable.ArrayBuffer[Span]() ++= spans
    val counts = mutable.Map[Int, Map[String, Double]]()
    val batchSpan = mutable.Map[(String, Long), Int]()
    val ids = streamNames.map(_.swap)
    batches.foreach { b =>
      StreamNames.parse(b.query).flatMap { case (p, t) => spanOfTag.get(Tag(p, t, "drain")) }
        .foreach { parent =>
          val s = Span(all.size, parent, "batch", s"${b.query}#${b.batchId}",
            b.startMs.toDouble, b.startMs + b.dur("triggerExecution"))
          all += s
          counts(s.id) = Map("input_rows" -> b.inputRows.toDouble,
            "state_rows" -> b.stateRows.toDouble)
          ids.get(b.query).foreach(q => batchSpan((q, b.batchId)) = s.id)
        }
    }
    jobs.values.toSeq.sortBy(_.id).foreach { j =>
      val parent = j.streamQuery.zip(j.batchId).flatMap(batchSpan.get)
        .orElse(j.tag.flatMap(spanOfTag.get))
      parent.foreach { p =>
        val s = Span(all.size, p, "job", s"job${j.id}", j.start.toDouble,
          if (j.end >= 0) j.end.toDouble else j.start.toDouble)
        all += s
        val ss = j.stageIds.flatMap(stages.get)
        counts(s.id) = Map("stages" -> ss.size.toDouble,
          "tasks" -> ss.map(_.tasks).sum.toDouble,
          "task_cpu_ms" -> ss.map(_.cpuNs).sum / 1e6)
      }
    }
    val kids = all.toSeq.groupBy(_.parent)
    all.toSeq.map { s =>
      val end = if (s.end < 0) s.start else s.end
      val covered = unionMs(kids.getOrElse(s.id, Nil).filter(_.id != s.id)
        .map(c => (math.max(c.start, s.start), math.min(if (c.end < 0) c.start else c.end, end)))
        .filter(iv => iv._2 > iv._1))
      val extra = counts.getOrElse(s.id, Map.empty)
        .map { case (k, v) => s""","$k":${Json.num(v)}""" }.mkString
      s"""{"id":${s.id},"parent":${s.parent},"kind":"${s.kind}","name":${Json.str(s.name)},""" +
        s""""start_ms":${Json.num(s.start)},"dur_ms":${Json.num(end - s.start)},""" +
        s""""self_ms":${Json.num(end - s.start - covered)}$extra}"""
    }
  }

  def spanCount: Int = lock.synchronized(spans.size + jobs.size + batches.size)
}

object Tracer {
  final case class Span(id: Int, parent: Int, kind: String, name: String,
      start: Double, var end: Double)
  final case class JobRec(id: Int, tag: Option[Tag], execId: Option[Long],
      streamQuery: Option[String], batchId: Option[Long], stageIds: Seq[Int],
      start: Long, var end: Long = -1L)
  final case class StageRec(id: Int, tasks: Int, runMs: Long, cpuNs: Long,
      gcMs: Long, shWrite: Long, shRead: Long, spill: Long, inBytes: Long,
      inRecords: Long)
  final case class ExecRec(id: Long, tag: Option[Tag], start: Long, var end: Long = -1L)
  final case class PlanRec(planMs: Double, exchanges: Int)
  final case class BatchRec(query: String, batchId: Long, startMs: Long,
      durations: Map[String, Long], stateRows: Long, stateBytes: Long,
      stateUpdateMs: Long, stateCommitMs: Long, inputRows: Long) {
    def dur(k: String): Double = durations.getOrElse(k, 0L).toDouble
  }

  def batchRec(p: org.apache.spark.sql.streaming.StreamingQueryProgress): BatchRec = {
    val ops = p.stateOperators.toSeq
    BatchRec(Option(p.name).getOrElse(""), p.batchId,
      Instant.parse(p.timestamp).toEpochMilli,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
      ops.map(_.allUpdatesTimeMs).sum, ops.map(_.commitTimeMs).sum,
      p.numInputRows)
  }

  /** Shuffle exchanges of a final physical plan, adaptive stages and
    * subqueries included; reused exchanges do not count. */
  def exchanges(plan: SparkPlan): Int = {
    def walk(p: SparkPlan): Int = {
      val self = p match { case _: ShuffleExchangeLike => 1; case _ => 0 }
      val below = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec        => Seq(q.plan)
        case _                        => p.children ++ p.subqueries
      }
      self + below.map(walk).sum
    }
    walk(plan)
  }

  /** Length of the union of [start, end) intervals. */
  def unionMs(ivs: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    ivs.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Stream query names carry their pass and twin: `pb_<pass>_<twin>`. */
object StreamNames {
  def apply(pass: Int, twin: String): String = s"pb_${pass}_$twin"
  def parse(name: String): Option[(Int, String)] = name.split("_", 3) match {
    case Array("pb", p, t) => p.toIntOption.map(_ -> t)
    case _                 => None
  }
}
