package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.{CheckpointMarks, RDD}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.LogicalRDD

import graft.operators.{Checkpoints, FrameMemo}

/** The open-cut check: every lineage cut a query takes completes (holds
  * its blocks or file and no lineage) by the time the query has run. A
  * cut that stays open keeps its whole build alive for the life of the
  * session and, on the reliable path, never writes its recovery file.
  *
  * Each registered query runs alone on a fresh memo, as the bench runs it
  * (a `noop` write). The cuts checked are every frame [[Checkpoints]]
  * hands out during the run, plus every new persistent checkpoint-marked
  * RDD (the `FrameMemo` cuts, which stay local on either path). The
  * local pass runs every query; the reliable pass
  * (`spark.graft.reliableCheckpoints`, as `conf/cluster-100tb.conf` sets
  * it) runs every query the local pass saw take a cut. */
class CheckpointsSpec extends SparkSpecBase {

  /** (cuts taken, cuts left open) by query `q` run alone on a fresh memo. */
  private def cutsOf(s: SparkSession, q: String): (Int, Seq[Int]) = {
    FrameMemo.shared.clear()
    val sc = s.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val handedOut = new ConcurrentLinkedQueue[RDD[_]]()
    Checkpoints.taken = c => c.queryExecution.logical.foreach {
      case l: LogicalRDD => handedOut.add(l.rdd)
      case _ =>
    }
    try SparkEntry.queries(q)(s, Sf0001).write.format("noop").mode("overwrite").save()
    finally Checkpoints.taken = _ => ()
    val memo = sc.getPersistentRDDs.collect {
      case (id, r) if !before(id) && CheckpointMarks.marked(r) => r
    }
    val cuts = (handedOut.asScala ++ memo).toSeq.distinctBy(_.id)
    (cuts.size, cuts.filterNot(_.isCheckpointed).map(_.id).sorted)
  }

  private def openIn(s: SparkSession, qs: Seq[String]): Map[String, (Int, Seq[Int])] =
    qs.map(q => q -> cutsOf(s, q)).toMap

  test("every cut of every query completes, on the local and the reliable path") {
    val all = SparkEntry.queries.keys.toSeq.sorted
    val local = openIn(spark, all)
    val cutting = local.collect { case (q, (n, _)) if n > 0 => q }.toSeq.sorted
    // the iterative operators and the multi-consumer sites are all reached
    Seq("kcore_membership", "graph_bfs_distance", "dedup_clusters", "ks_drift",
        "range_bounds", "fuzzy_join", "winnow_dedup_pairs")
      .foreach(q => assert(cutting.contains(q), s"$q took no cut"))
    val ckDir = java.nio.file.Files.createTempDirectory("graft_open_cut_spec")
    try {
      spark.sparkContext.setCheckpointDir(ckDir.toString)
      val reliable = spark.newSession()
      reliable.conf.set(Checkpoints.ConfKey, "true")
      val rel = openIn(reliable, cutting)
      FrameMemo.shared.clear()
      val open = for {
        (path, res) <- Seq("local" -> local, "reliable" -> rel)
        (q, (_, ids)) <- res.toSeq.sortBy(_._1) if ids.nonEmpty
      } yield s"$path $q: rdds ${ids.mkString(",")}"
      assert(open.isEmpty, s"cuts left open:\n${open.mkString("\n")}")
      assert(java.nio.file.Files.list(ckDir).count() > 0, "the reliable pass wrote no checkpoint")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(ckDir.toFile)
  }
}
