package graft

import org.apache.spark.ShuffleDependency
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{LogicalRDD, SortExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.broadcast

import graft.operators.{CorpusOps, FrameMemo, Similarity}

/** Lifecycle contract of the shared (session, dir) frame memo: bounded
  * LRU over dirs with EXPLICIT release on eviction, so a multi-dir
  * session can no longer pin checkpoint blocks indefinitely (round-7
  * advice item). Release is explicit (unpersist of the underlying
  * checkpointed RDDs) because GC-driven ContextCleaner reclamation is
  * measurably unreliable here — on Spark 4.1 a dropped locally-
  * checkpointed RDD survives arbitrarily many System.gc() rounds once a
  * later shuffle-bearing query has run while another checkpointed frame
  * stays live (see the FrameMemo class doc). */
class FrameMemoSpec extends SparkSpecBase {
  import spark.implicits._

  private def frame(tag: String) = Seq((tag, 1L)).toDF("tag", "v")

  /** The checkpointed RDDs under a memo entry's frame (the entry's own
    * checkpoint, or the one under a sorted entry's cache). */
  private def cutRdds(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd }

  private def shuffleDeps(rdd: RDD[_]): Seq[ShuffleDependency[_, _, _]] =
    rdd.dependencies.flatMap {
      case s: ShuffleDependency[_, _, _] => s +: shuffleDeps(s.rdd)
      case d => shuffleDeps(d.rdd)
    }

  /** Run `query` alone on a fresh shared memo and return the entries it
    * left whose checkpoint never completed, as "key (rdd id)". */
  private def openCutsAfter(query: String): Seq[String] = {
    FrameMemo.shared.clear()
    SparkEntry.queries(query)(spark, Sf0001).collect()
    val entries = FrameMemo.shared.entries
    assert(entries.nonEmpty, s"$query built no memo entry")
    entries.flatMap { case (key, df) =>
      val cuts = cutRdds(df)
      assert(cuts.nonEmpty, s"$query: entry $key holds no checkpoint")
      cuts.filterNot(_.isCheckpointed).map(r => s"$key (rdd ${r.id})")
    }
  }

  test("3-dir session: LRU keeps 2 dirs, evicted dir's frames are forgotten") {
    val m = new FrameMemo(maxDirs = 2)
    var builds = 0
    def get(dir: String): Unit = {
      m(spark, dir, "k") { builds += 1; frame(dir) }; ()
    }
    get("dirA"); get("dirB")
    assert(m.size === 2 && m.dirCount === 2 && builds === 2)
    get("dirA") // touch: A is now most-recent
    assert(builds === 2, "touch must not rebuild")
    get("dirC") // admits C, evicts B (least-recently-used)
    assert(m.dirCount === 2)
    assert(m.size === 2, s"evicted dir's frames must be dropped, size=${m.size}")
    get("dirA")
    assert(builds === 3, "A survived the eviction (recently used)")
    get("dirB") // B was evicted: must rebuild
    assert(builds === 4, "B must rebuild after eviction")
  }

  test("multiple keys of one dir evict together; clear empties everything") {
    val m = new FrameMemo(maxDirs = 2)
    m(spark, "d1", "k1")(frame("a")); m(spark, "d1", "k2")(frame("b"))
    m(spark, "d2", "k1")(frame("c"))
    assert(m.size === 3)
    m(spark, "d3", "k1")(frame("d")) // evicts ALL of d1
    assert(m.size === 2, s"both d1 keys must go, size=${m.size}")
    m.clear()
    assert(m.size === 0 && m.dirCount === 0)
  }

  test("3-dir session without clear(): the evicted dir's checkpoint " +
    "RDDs are unpersisted on eviction (no pinned blocks left behind)") {
    val sc = spark.sparkContext
    val m = new FrameMemo(maxDirs = 2)
    // build inside a function so the test holds NO reference to the
    // returned frame; returns the persisted-RDD ids the build added
    def buildIds(dir: String, mult: Long): Set[Int] = {
      val before = sc.getPersistentRDDs.keySet.toSet
      val df = m(spark, dir, "k")(
        spark.range(5000).select(($"id" * mult).as("v")).toDF())
      assert(df.count() === 5000L) // reads the checkpoint back
      (sc.getPersistentRDDs.keySet.toSet -- before)
    }
    val idsA = buildIds("dirA", 3)
    val idsB = buildIds("dirB", 5)
    assert(idsA.nonEmpty && idsB.nonEmpty,
      "localCheckpoint should register persisted RDDs")
    val idsC = buildIds("dirC", 7) // LRU-evicts dirA → releases its RDDs
    // release is explicit unpersist: the persistentRdds entry is removed
    // synchronously (block deletion itself may lag; the ENTRY may not)
    assert(idsA.forall(id => !sc.getPersistentRDDs.contains(id)),
      s"dirA checkpoint RDDs still pinned after eviction: " +
        idsA.filter(sc.getPersistentRDDs.contains))
    // ...while the dirs the memo still holds stay pinned and usable
    assert(idsB.forall(sc.getPersistentRDDs.contains),
      "dirB (recently used) lost its checkpoint")
    assert(idsC.forall(sc.getPersistentRDDs.contains),
      "dirC (just admitted) lost its checkpoint")
    m.clear() // ...and clear releases those too
    assert((idsB ++ idsC).forall(id => !sc.getPersistentRDDs.contains(id)),
      "clear() must unpersist everything it held")
  }

  test("stress: 8 concurrent workers on one dir and key (Verify's pool " +
    "shape) — right counts, one survivor, losing builds released") {
    val sc = spark.sparkContext
    val baseline = sc.getPersistentRDDs.keySet.toSet
    val m = new FrameMemo(maxDirs = 2)
    // every built frame stays referenced here, so only an explicit
    // release (never a GC-driven cleanup) can unpersist a losing build
    val built = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.DataFrame]()
    val start = new java.util.concurrent.CountDownLatch(1)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 8).map { _ =>
      new Thread(() => {
        try {
          start.await() // release every worker at once: the first
          // request races, so several threads build and all but one lose
          for (_ <- 0 until 5) {
            // EAGER checkpoint in the build — the dangerous class: a
            // losing build that is not released pins its blocks forever
            val n = m.raw(spark, "cA", "k") {
              val df = spark.range(2000).select(($"id" * 3).as("v"))
                .toDF().localCheckpoint(true)
              built.add(df); df
            }.count()
            if (n != 2000L) throw new AssertionError(s"count=$n")
          }
        } catch { case e: Throwable => errs.add(e) }
      })
    }
    threads.foreach(_.start()); start.countDown(); threads.foreach(_.join())
    assert(errs.isEmpty, s"concurrent use failed: ${errs.peek()}")
    assert(m.size === 1 && m.dirCount === 1, "exactly one entry survives")
    val live = sc.getPersistentRDDs.keySet.toSet -- baseline
    assert(live.size === 1,
      s"${built.size} builds left ${live.size} checkpoint RDDs, not the winner's one")
    m.clear()
    val leaked = sc.getPersistentRDDs.keySet.toSet -- baseline
    assert(leaked.isEmpty,
      s"checkpoint RDDs leaked after clear(): ${leaked.toSeq.sorted}")
    assert(!built.isEmpty) // keeps every build referenced up to here
  }

  test("an evicted dir is rebuilt (not resurrected) on re-request") {
    val m = new FrameMemo(maxDirs = 1)
    var builds = 0
    def get(dir: String): Long = {
      val df = m(spark, dir, "k") { builds += 1; frame(dir) }
      df.count()
    }
    assert(get("dx") === 1L && builds === 1)
    assert(get("dy") === 1L && builds === 2) // evicts + releases dx
    // dx's frame was released with its blocks; the memo must hand back a
    // FRESH build, never the dead evicted frame
    assert(get("dx") === 1L && builds === 3)
  }

  test("a warm construction of lm_score and semantic_cell_profile runs " +
    "no job (the shared memo hit the warm bench passes rely on)") {
    Seq("lm_score", "semantic_cell_profile").foreach { q =>
      SparkEntry.queries(q)(spark, Sf0001).collect()
      val jobs = jobsDuring { SparkEntry.queries(q)(spark, Sf0001); () }
      assert(jobs === 0, s"$q: $jobs jobs on a warm construction")
    }
  }

  test("a warm lm_score runs 1 job and returns its rows in doc_id order " +
    "(the memo is laid out sorted on doc_id)") {
    val q = SparkEntry.queries("lm_score")
    q(spark, Sf0001).collect()
    var df: DataFrame = null
    var ids = Seq.empty[Long]
    val jobs = jobsDuring {
      df = q(spark, Sf0001)
      ids = df.collect().map(_.getAs[Long]("doc_id")).toSeq
    }
    assert(jobs === 1, s"lm_score: $jobs jobs on a warm build and collect")
    assert(ids.nonEmpty && ids === ids.sorted && ids.distinct === ids)
    // the final plan above the cached scan neither sorts nor shuffles
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    assert(plan.collect { case s: SortExec => s
      case e: ShuffleExchangeExec => e }.isEmpty, plan.toString)
  }

  test("a sorted entry cuts its lineage: the cached plan holds no " +
    "BroadcastExchange of the build") {
    val m = new FrameMemo(maxDirs = 2)
    def build = spark.range(3000).toDF("k")
      .join(broadcast(spark.range(3000).toDF("k")), "k")
    assert(build.queryExecution.executedPlan.toString
      .contains("BroadcastExchange"), "the build must plan a broadcast")
    val df = m.sorted(spark, "d", "k", "k")(build)
    assert(df.count() === 3000L)
    val cachedPlans = df.queryExecution.withCachedData.collect {
      case r: InMemoryRelation => r.cachedPlan.toString
    }
    assert(cachedPlans.size === 1)
    assert(!cachedPlans.head.contains("BroadcastExchange"), cachedPlans.head)
    m.clear()
  }

  test("a sorted entry's cache AND checkpoint are released by LRU " +
    "eviction and by clear()") {
    val sc = spark.sparkContext
    val m = new FrameMemo(maxDirs = 2)
    def buildIds(dir: String, mult: Long): Set[Int] = {
      val before = sc.getPersistentRDDs.keySet.toSet
      val df = m.sorted(spark, dir, "k", "v")(
        spark.range(5000).select(($"id" * mult % 997).as("v")).toDF())
      assert(df.count() === 5000L) // fills the cache over the checkpoint
      (sc.getPersistentRDDs.keySet.toSet -- before)
    }
    val idsA = buildIds("dirA", 3)
    val idsB = buildIds("dirB", 5)
    assert(idsA.size >= 2 && idsB.size >= 2,
      s"a sorted entry holds a cache and a checkpoint: $idsA, $idsB")
    val idsC = buildIds("dirC", 7) // LRU-evicts dirA
    assert(idsA.forall(id => !sc.getPersistentRDDs.contains(id)),
      s"dirA RDDs still pinned after eviction: " +
        idsA.filter(sc.getPersistentRDDs.contains))
    assert((idsB ++ idsC).forall(sc.getPersistentRDDs.contains))
    m.clear()
    assert((idsB ++ idsC).forall(id => !sc.getPersistentRDDs.contains(id)),
      "clear() must unpersist every cache and checkpoint it held")
  }

  test("kcore_membership and dedup_clusters, each alone on a fresh memo, " +
    "leave every memo checkpoint complete and simhash_pairs with no " +
    "shuffle in its lineage") {
    try {
      Seq("kcore_membership", "dedup_clusters").foreach { q =>
        val open = openCutsAfter(q)
        assert(open.isEmpty, s"$q left memo checkpoints open: $open")
        val pairs = FrameMemo.shared.entries.collect {
          case ("simhash_pairs", df) => df
        }
        assert(pairs.size === 1, s"$q: no simhash_pairs entry")
        val deps = cutRdds(pairs.head).flatMap(shuffleDeps)
        assert(deps.isEmpty,
          s"$q: simhash_pairs still holds ${deps.size} shuffle dependencies")
      }
    } finally FrameMemo.shared.clear()
  }

  test("a sorted entry's lazy checkpoint completes on its first reader " +
    "(lm_gate under lm_score and perplexity_buckets, cellIndex under " +
    "semantic_cell_profile)") {
    try {
      Seq("lm_score" -> "lm_gate", "perplexity_buckets" -> "lm_gate",
          "semantic_cell_profile" -> "cellIndex").foreach { case (q, key) =>
        val open = openCutsAfter(q)
        assert(FrameMemo.shared.entries.exists(_._1 == key), s"$q: no $key")
        assert(open.isEmpty, s"$q left memo checkpoints open: $open")
      }
    } finally FrameMemo.shared.clear()
  }

  test("with 200 shuffle partitions a sorted memo keeps no more " +
    "partitions than the checkpoint under it") {
    def checkpointParts(df: DataFrame): Int =
      df.queryExecution.analyzed.collect {
        case lr: LogicalRDD => lr.rdd.getNumPartitions
      }.head
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    FrameMemo.shared.clear()
    spark.conf.set(key, "200")
    try {
      Seq(CorpusOps.lmFrame(spark, Sf0001),
        Similarity.cellIndex(spark, Sf0001)).foreach { df =>
        val (parts, cut) = (df.rdd.getNumPartitions, checkpointParts(df))
        assert(parts <= cut, s"$parts cached partitions over a $cut-partition checkpoint")
      }
    } finally { spark.conf.set(key, saved); FrameMemo.shared.clear() }
  }
}
