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
  * flips `spark.graft.reliableCheckpoints=true` and the same call sites
  * write reliable `checkpoint()`s to `spark.checkpoint.dir` (shared FS)
  * instead — the swap is config-only, and ClusterConfSpec proves the
  * reliable path produces identical results on a fixture. Both forms are
  * LAZY: the caller's next action (fingerprint count, next round's
  * shuffle) materializes the cut, so no round runs twice.
  */
object Checkpoints {
  val ConfKey = "spark.graft.reliableCheckpoints"

  def cut(df: DataFrame): DataFrame =
    if (df.sparkSession.conf.get(ConfKey, "false").toBoolean)
      df.checkpoint(eager = false)
    else df.localCheckpoint(eager = false)
}
