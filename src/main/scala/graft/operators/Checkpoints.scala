package graft.operators

import org.apache.spark.sql.DataFrame

/** Lineage-cut strategy for the ITERATIVE operators (the CC
  * star-contraction loop, PageRank/LPA rounds, the k-core peel, BFS
  * frontiers): each round must truncate lineage or the plan tree doubles
  * per round and Catalyst re-optimizes an ever-growing DAG.
  *
  * Local mode (default): lazy `localCheckpoint` — executor-block storage,
  * free of DFS round-trips, but LOST on executor death, which on a real
  * cluster would kill a long loop half-way. The 100 TB conf therefore
  * flips `spark.graft.reliableCheckpoints=true` and [[cut]] writes
  * reliable `checkpoint()`s to `spark.checkpoint.dir` (shared FS) instead;
  * ClusterConfSpec proves the reliable path result-identical on a
  * fixture. The swap reaches ONLY [[cut]]: the in-query lazy
  * `localCheckpoint(false)`s stay node-local (`Scale.rangeBounds` and the
  * global rank/cumsum/prefix-max helpers; `Relational.ksDrift`,
  * `basketPairs`, `cusumDays`; `CorpusOps.corpusPipelineIncremental`;
  * `DocDedup.minhashIncremental`, `fuzzyJoinPairs`, `connectedComponents`;
  * `TextAnalysis.winnowDedupPairs`; `FrameMemo`), so a lost executor
  * fails the query that holds them. Both forms are
  * LAZY, so no round runs twice. A lazy cut completes (writes its blocks
  * or file and drops its lineage) only when a RESULT job's checkpoint
  * walk reaches it before any other checkpoint-marked RDD: the walk runs
  * down from the job's final RDD and stops at the first marked one. A
  * round whose fingerprint is a driver read (count, collect) over the
  * cut completes it. AQE's shuffle-map-stage jobs never walk, so a cut
  * read only by the next round's shuffle, below that round's own cut,
  * stays open: it keeps its lineage and, on the reliable path, never
  * writes its file. Lazy is not free under AQE (Spark's default): taking
  * a lazy `localCheckpoint` of a shuffle-bearing plan runs its
  * shuffle-map stages at once, since the adaptive plan materializes every
  * stage below the final one before it hands out the RDD; only the final
  * stage waits for the next action.
  */
object Checkpoints {
  val ConfKey = "spark.graft.reliableCheckpoints"

  def cut(df: DataFrame): DataFrame =
    if (df.sparkSession.conf.get(ConfKey, "false").toBoolean)
      df.checkpoint(eager = false)
    else df.localCheckpoint(eager = false)
}
