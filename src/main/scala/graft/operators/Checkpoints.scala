package graft.operators

import scala.concurrent.Await
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}

/** The one place the library cuts lineage. A cut replaces a frame's plan
  * with its materialized rows, so an iterative loop's plan stays bounded
  * in depth (the plan tree would otherwise grow per round and Catalyst
  * re-optimize an ever-growing DAG), and a subtree read by several
  * consumers runs once.
  *
  * One form, [[eagerCut]], and one completion rule: a cut is complete
  * when it returns. Its rows are written and its lineage dropped in one
  * SQL execution, whose job also fills an `Observation` of the given
  * aggregates over the cut rows, so a loop reads its convergence off the
  * job that cuts the round instead of running a second one. There is no
  * lazy form. A lazy checkpoint completes only when a result job's
  * checkpoint walk reaches it before any other marked RDD, so one read
  * only by a later cut's shuffle stays open; under AQE taking it runs its
  * shuffle-map stages anyway; and the job that completes it drops its SQL
  * metrics ("attempted to access non-existent accumulator").
  *
  * The cut honours [[ConfKey]]: unset (local mode, the default) it is a
  * `localCheckpoint` (executor blocks, free of DFS round-trips but lost
  * with their executor); `conf/cluster-100tb.conf` sets it, and the cut
  * is a reliable `checkpoint()` to `spark.checkpoint.dir` (shared FS), so
  * a long loop or a multi-consumer query survives executor loss. Spark
  * deletes a reliable cut's files only under
  * `spark.cleaner.referenceTracking.cleanCheckpoints`, which the same
  * conf sets: each cut's directory goes once its RDD is collected on the
  * driver. ClusterConfSpec proves the reliable path result-identical, and
  * CheckpointsSpec that no query leaves a cut open on either path.
  *
  * A cut costs a job and a SQL execution of its own, so a site takes one
  * only where it buys more: without it, a subtree with more than a scan
  * below it would run again per consumer (work that grows with the data,
  * where a job's cost does not), or a loop's plan would grow per round.
  * The sites and what each cut buys:
  *  - `Scale.withGlobalRank`, `withGlobalCumsum`, `withGlobalPrefixMax`:
  *    one range exchange, so both branches see one set of sampled
  *    boundaries (load-bearing for correctness, see `withGlobalRank`);
  *    `Scale.rangeBounds`: the boundary sampling and rank passes read the
  *    2% sample instead of re-filtering the fact table.
  *  - `Relational.basketPairs` (the per-order brand sets, read three
  *    times) and `Relational.cusumDays` (the day frame, read by the
  *    bounds aggregate and the grid join): one fact scan, not several.
  *  - `DocDedup.fuzzyJoinPairs` (the deletion neighbourhoods, three join
  *    inputs on two keys) and `TextAnalysis.winnowDedupPairs` (the
  *    fingerprints, read by the df gate and both join sides): one
  *    explode or hashing pass, not three.
  *  - `DocDedup.connectedComponents`: the input pairs (read by the first
  *    round and the validation join), the oriented edges and each star
  *    round (with the edge multiset's (count, Σu, Σv) fingerprint), and
  *    the labels (read by the validation and every caller;
  *    `dedupClusters` memoizes them as taken).
  *  - `GraphOps.kcoreMembershipOf`: each peel wave, with the next kill
  *    set; `GraphOps.bfsDistance`: each round; `GraphOps.pagerank`: after
  *    every 4th round that is not the last, bounding the plan's depth.
  *
  * Sites that plan without a cut, where one bought nothing (counted per
  * warm call at sf0.01 and sf0.1, the cut ran more jobs and SQL
  * executions and read no fewer rows): the LPA labels of
  * `GraphOps.graphModularity` (the three readers plan as one query), the
  * 3 rounds of `pair_graph_pagerank`, and the grid of `Relational.ksDrift`
  * (its one reader, `withGlobalCumsum`, cuts). The new-doc slice that
  * `DocDedup.minhashIncremental` and `CorpusOps.corpusPipelineIncremental`
  * broadcast is no cut but a `FrameMemo.sorted` entry
  * (`DocDedup.newBatch`): building either query runs no job (an eager
  * cut would run one, which StreamingEntrySpec forbids for the funnel),
  * the hinted side is still read from a checkpoint, and a warm call
  * reads the slice from the memo.
  *
  * `FrameMemo` keeps its own two cuts and stays local on either path: its
  * entries are session-scoped and freed by its `release`'s unpersist,
  * while a reliable checkpoint's files would outlive that release. Its
  * `sorted` form's inner cut stays lazy: the first job that reads its
  * cache is a result job whose checkpoint walk reaches it, and FrameMemoSpec
  * pins it complete.
  */
object Checkpoints {
  val ConfKey = "spark.graft.reliableCheckpoints"

  /** Sees every frame [[eagerCut]] hands out (CheckpointsSpec records
    * them); a no-op otherwise. */
  @volatile private[graft] var taken: DataFrame => Unit = _ => ()

  /** Lineage cut of `df`, complete when it returns, and, when `metrics`
    * is non-empty, the row of those aggregates over its rows, both from
    * one SQL execution (`Row.empty` otherwise). */
  def eagerCut(df: DataFrame, metrics: Column*): (DataFrame, Row) = {
    val obs = if (metrics.isEmpty) None else Some(Observation())
    val in = obs.fold(df)(o => df.observe(o, metrics.head, metrics.tail: _*))
    val c =
      if (df.sparkSession.conf.get(ConfKey, "false").toBoolean) in.checkpoint(true)
      else in.localCheckpoint(true)
    taken(c)
    (c, obs.fold(Row.empty)(o => Await.result(o.future, Duration.Inf)))
  }
}
