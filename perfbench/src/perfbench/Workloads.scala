package perfbench

/** Workload definitions. `batch_pipeline` is a list of
  * `graft.SparkEntry.queries` names (the seed permutes their order);
  * `stream_sales` is the streaming pipeline's parameters (the seed
  * re-keys its input). */
object Workloads {
  /** `warmPasses`: the fewest warm passes an untraced run makes. */
  final case class BatchWorkload(name: String, queries: Seq[String], warmPasses: Int)

  final case class StreamParams(name: String, rows: Long, rowsPerBatch: Long,
      keys: Long, capacity: Double, refillPerSec: Double, warmPasses: Int)

  /** Queries that run eager driver jobs while they build, iterate through
    * checkpoints, or share memoized frames. Four warm passes, because with
    * three queries a pass gives only three per-query latencies. */
  val Pipeline = BatchWorkload("batch_pipeline", Seq(
    "kcore_membership", "lm_score", "semantic_cell_profile"), warmPasses = 4)

  val Stream = StreamParams("stream_sales", rows = 3000L, rowsPerBatch = 1000L,
    keys = 100000L, capacity = 1.0, refillPerSec = 0.01, warmPasses = 2)

  /** Rows per kernel probe in a traced run. */
  val KernelRows = 100000L
}
