package graft.operators

import scala.concurrent.Await
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}

/** The one place an operator in `graft.operators` cuts lineage. A cut
  * replaces a frame's plan with its materialized rows, so an iterative
  * loop's plan stays constant in depth (the plan tree would otherwise
  * double per round and Catalyst re-optimize an ever-growing DAG), and a
  * subtree read by several consumers runs once.
  *
  * Both forms honour [[ConfKey]]: unset (local mode, the default) they
  * take a `localCheckpoint` (executor blocks, free of DFS round-trips but
  * lost with their executor); `conf/cluster-100tb.conf` sets it, and they
  * take a reliable `checkpoint()` to `spark.checkpoint.dir` (shared FS),
  * so a long loop or a multi-consumer query survives executor loss.
  * ClusterConfSpec proves the reliable path result-identical, and
  * CheckpointsSpec that no query leaves a cut open on either path.
  *
  *  - [[cut]] is lazy. It completes (writes its blocks or file and drops
  *    its lineage) only when a RESULT job's checkpoint walk reaches it
  *    before any other checkpoint-marked RDD: the walk runs down from the
  *    job's final RDD and stops at the first marked one. AQE's
  *    shuffle-map-stage jobs never walk, so a lazy cut read only by a
  *    later cut's shuffle stays open, keeping its lineage and, on the
  *    reliable path, never writing its file. Nor is it free to take
  *    under AQE (Spark's default): the adaptive plan materializes every
  *    stage below the final one before it hands out the RDD, so a lazy
  *    cut of a shuffle-bearing plan runs its shuffle-map stages at once.
  *    Sites: the multi-consumer subtrees of `Scale.rangeBounds` and the
  *    global rank/cumsum/prefix-max helpers, `Relational.ksDrift`,
  *    `basketPairs` and `cusumDays`, `CorpusOps.corpusPipelineIncremental`,
  *    `DocDedup.minhashIncremental` and `fuzzyJoinPairs`,
  *    `TextAnalysis.winnowDedupPairs`; the PageRank rounds, the LPA
  *    labels of `GraphOps.graphModularity`, and the input pairs and the
  *    labels of `DocDedup.connectedComponents`. A result job of the same
  *    query (its final job, or a broadcast's collect) reaches each of
  *    these first.
  *  - [[eagerCut]] completes when taken, in one SQL execution that also
  *    fills an `Observation` of the given aggregates over the cut rows:
  *    a loop reads its convergence off the job that cuts the round
  *    instead of running a second one. Sites: the k-core peel waves
  *    (`GraphOps.kcoreMembershipOf`, the next wave's kill set), the
  *    oriented-edge cut and the star rounds of
  *    `DocDedup.connectedComponents` (the edge multiset's (count, Σu, Σv)
  *    fingerprint), and the BFS rounds of
  *    `GraphOps.bfsDistance` (no metric: their lazy cuts would be read
  *    only by the next round's shuffle, so they would stay open).
  *
  * `FrameMemo` keeps its own two cuts and stays local on either path: its
  * entries are session-scoped and freed by its `release`'s unpersist,
  * while a reliable checkpoint's files would outlive that release. (Its
  * `raw` entry `cc_labels` holds the CC labels' [[cut]] as taken.)
  */
object Checkpoints {
  val ConfKey = "spark.graft.reliableCheckpoints"

  /** Sees every frame either form hands out (CheckpointsSpec records
    * them); a no-op otherwise. */
  @volatile private[graft] var taken: DataFrame => Unit = _ => ()

  /** Lazy lineage cut of `df`; see the completion rule above. */
  def cut(df: DataFrame): DataFrame = handOut(df, eager = false)

  /** Eager lineage cut of `df` and, when `metrics` is non-empty, the row
    * of those aggregates over its rows, both from one SQL execution. */
  def eagerCut(df: DataFrame, metrics: Column*): (DataFrame, Row) =
    if (metrics.isEmpty) (handOut(df, eager = true), Row.empty)
    else {
      val obs = Observation()
      val c = handOut(df.observe(obs, metrics.head, metrics.tail: _*), eager = true)
      (c, Await.result(obs.future, Duration.Inf))
    }

  private def handOut(df: DataFrame, eager: Boolean): DataFrame = {
    val c =
      if (df.sparkSession.conf.get(ConfKey, "false").toBoolean) df.checkpoint(eager)
      else df.localCheckpoint(eager)
    taken(c)
    c
  }
}
