package graft

import scala.io.Source

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Keeps `conf/cluster-100tb.conf` honest (SURVEY §6.1's sizing prose as
  * a CHECKED artifact): the file must carry the claimed knobs, and a
  * session configured with its runtime-settable SQL confs — including
  * `spark.sql.shuffle.partitions = 50000` — must still PLAN the
  * representative queries (planning is partition-count-agnostic; no
  * operator pins a partitioning that conflicts with the cluster width).
  * Planning only, no execution: at 50k partitions running local would
  * measure task-launch overhead, not plan validity — the alt-config
  * GATE sweep covers executed correctness at cluster-like widths.
  */
class ClusterConfSpec extends SparkSpecBase {

  private lazy val conf: Map[String, String] = {
    val src = Source.fromFile("conf/cluster-100tb.conf", "UTF-8")
    try src.getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(k, v) = l.split("\\s+", 2); (k, v.trim) }
      .toMap
    finally src.close()
  }

  /** Session-cloned (shared context, isolated SQLConf) with every
    * runtime-settable `spark.sql.*` knob from the artifact applied. */
  private lazy val cluster: SparkSession = {
    val s = spark.newSession()
    conf.filter(_._1.startsWith("spark.sql."))
      .filterNot(_._1.contains("streaming.stateStore")) // builder-time only
      .foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  private def planned(df: DataFrame): String = {
    val p = df.queryExecution.executedPlan // plans (incl. AQE wrap), never runs
    p.toString
  }

  test("artifact carries the SURVEY §6.1 sizing claims") {
    assert(conf("spark.sql.shuffle.partitions") === "50000")
    assert(conf("spark.sql.files.maxPartitionBytes") === "268435456")
    assert(conf("spark.sql.adaptive.enabled") === "true")
    assert(conf("spark.sql.adaptive.skewJoin.enabled") === "true")
    assert(conf("spark.sql.autoBroadcastJoinThreshold") === "10485760")
    assert(conf("spark.sql.streaming.stateStore.providerClass")
      .contains("RocksDBStateStoreProvider"))
    assert(conf("spark.executor.instances") === "1000")
    // format-audit scratch MUST be shared FS at cluster scale — the
    // local-mode java.io.tmpdir default is node-local (fmtTmpDir doc)
    assert(conf("spark.graft.scratchDir").contains("://"),
      "cluster scratchDir must be a shared-FS URI")
  }

  test("reliable-checkpoint swap is config-only and result-identical") {
    assert(conf("spark.graft.reliableCheckpoints") === "true")
    assert(conf("spark.checkpoint.dir").contains("://"),
      "cluster checkpoint dir must be shared FS")
    assert(conf("spark.cleaner.referenceTracking.cleanCheckpoints") === "true",
      "reliable cut files must be deleted once their RDDs are collected")
    val ckDir = java.nio.file.Files.createTempDirectory("graft_ck_spec")
    spark.sparkContext.setCheckpointDir(ckDir.toString)
    val base = graft.operators.DocDedup.dedupClusters(spark, Sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val s = spark.newSession()
    s.conf.set(graft.operators.Checkpoints.ConfKey, "true")
    try {
      // cloned session → fresh memo entry → the CC loop (and the pair-gen
      // memo build) actually re-runs through reliable checkpoint()s
      val rel = graft.operators.DocDedup.dedupClusters(s, Sf0001)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(rel === base, "reliable-checkpoint CC labels diverged")
      assert(java.nio.file.Files.list(ckDir).count() > 0,
        "no reliable checkpoint was written — the swap never engaged")
      // the k-core peel loop under the same flag, vs its scalar reference
      import s.implicits._
      val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L))
        .toDF("doc_a", "doc_b")
      val core = graft.operators.GraphOps.kcoreMembershipOf(s, pairs, k = 2)
        .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
      assert(core === Map(1L -> 1, 2L -> 1, 3L -> 1, 4L -> 0, 5L -> 0))
      // every other cut site takes the reliable form too: the global
      // rank/cumsum/prefix-max helpers, the per-query multi-consumer cuts
      // and the eager BFS rounds
      for (q <- Seq("range_bounds", "ks_drift", "rfm_segments", "skyline_2d",
          "cusum_changepoint", "basket_pairs", "fuzzy_join", "winnow_dedup_pairs",
          "minhash_incremental", "corpus_pipeline_incremental", "graph_bfs_distance"))
        assert(SparkEntry.queries(q)(s, Sf0001).collect().toSeq ===
          SparkEntry.queries(q)(spark, Sf0001).collect().toSeq, s"$q diverged")
    } finally s.conf.unset(graft.operators.Checkpoints.ConfKey)
  }

  test("fmtTmpDir resolves under spark.graft.scratchDir when set") {
    val s = spark.newSession()
    // URI roots pass through verbatim (no local File resolution)
    s.conf.set("spark.graft.scratchDir", "hdfs:///graft/scratch/")
    val uri = graft.operators.ReferenceOps.fmtTmpDir(s, "graft_fmt", "/x")
    assert(uri.startsWith("hdfs:///graft/scratch/graft_fmt_"))
    // local roots resolve under the configured dir, and the audits run
    val local = java.nio.file.Files.createTempDirectory("graft_scratch_spec")
    s.conf.set("spark.graft.scratchDir", local.toString)
    val p = graft.operators.ReferenceOps.fmtTmpDir(s, "graft_fmt", "/x")
    assert(p.startsWith(local.toString))
    val rows = graft.operators.ReferenceOps
      .csvMalformedAudit(s, Sf0001).collect()
    assert(rows.nonEmpty)
    assert(java.nio.file.Files.list(local).count() > 0,
      "audit scratch did not land under the configured root")
  }

  test("representative queries plan clean at shuffle.partitions=50000") {
    assert(cluster.conf.get("spark.sql.shuffle.partitions") === "50000")
    // one per plan family whose CONSTRUCTION is lazy (no build-time jobs):
    // scan+agg, two-fact join+agg, broadcast-dim star join, within-cell
    // self-join, window/top-k
    val reps = Seq(
      "pricing_summary", "shipping_priority", "brand_promo",
      "semantic_dedup", "big_orders", "media_decode")
    reps.foreach { name =>
      val plan = planned(SparkEntry.queries(name)(cluster, Sf0001))
      assert(!plan.contains("CartesianProduct"),
        s"$name degenerates to a cartesian at cluster width:\n$plan")
    }
  }

  test("AsOfJoinExec pins BOTH children to the cluster width (no conflicting partitioning)") {
    // Under AQE the executed plan is an AdaptiveSparkPlanExec wrapper
    // whose inner tree isn't reachable via collect(); the printed plan
    // carries the inserted exchanges, so assert on it.
    val plan = planned(SparkEntry.queries("asof_join")(cluster, Sf0001))
    // the merge zips child partitions 1:1, so BOTH pinned exchanges must
    // exist and agree — at exactly the width the artifact configures
    val pinned = "hashpartitioning\\([^)]*, 50000\\)".r
      .findAllIn(plan).size
    assert(pinned >= 2,
      s"expected both as-of exchanges pinned at 50000:\n$plan")
  }
}
