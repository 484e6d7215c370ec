package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite (lazy; UTC; small shuffle count).
  *
  * `SPARK_GRAFT_STATESTORE=rocksdb` swaps every stateful streaming
  * operator in the suite onto the RocksDB state store with changelog
  * checkpointing — exactly the two knobs `conf/cluster-100tb.conf`
  * prescribes — so the whole streaming-twin manifest can be re-proven
  * under the cluster state backend as a pure config sweep (the gate's
  * `rocksdb_twins` phase). Default (unset) keeps the in-memory HDFS
  * provider. */
trait SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val b = SparkSession.builder()
      .master("local[4]")
      .appName(getClass.getSimpleName)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"/tmp/graft-warehouse-${getClass.getSimpleName}")
      .config("spark.ui.enabled", "false")
    val withStore =
      if (sys.env.get("SPARK_GRAFT_STATESTORE").contains("rocksdb"))
        b.config("spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
          .config(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
            "true")
      else b
    withStore.getOrCreate()
  }

  val Sf0001 = "/root/testdata/sf0.001"

  /** Number of Spark jobs `body` starts. */
  def jobsDuring(body: => Unit): Int = jobsAndExecutionsDuring(body)._1

  /** Number of SQL executions `body` starts (`SparkListenerSQLExecutionStart`
    * events: one per Dataset action, eager or lazy checkpoint included). */
  def sqlExecutionsDuring(body: => Unit): Int = jobsAndExecutionsDuring(body)._2

  /** (jobs, SQL executions) `body` starts. Sentinel jobs fence the call,
    * because listener events arrive asynchronously but in order. */
  def jobsAndExecutionsDuring(body: => Unit): (Int, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val SqlStart = "<sql-execution-start>" // no fence job carries it
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => seen.add(SqlStart)
        case _ =>
      }
    }
    val sc = spark.sparkContext
    def fence(tag: String): Unit = {
      sc.setJobDescription(tag)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains(tag) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains(tag), s"listener never saw the $tag job")
    }
    sc.addSparkListener(listener)
    try {
      fence("jobs-start")
      body
      fence("jobs-end")
      val all = seen.toArray(Array.empty[String]).toSeq
      val inside = all.slice(all.indexOf("jobs-start") + 1, all.indexOf("jobs-end"))
      (inside.count(_ != SqlStart), inside.count(_ == SqlStart))
    } finally sc.removeSparkListener(listener)
  }
}
