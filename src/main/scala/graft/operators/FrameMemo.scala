package graft.operators

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, GraftShims, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** Bounded (session, dir)-scoped memo of the shared intermediates
  * several declared queries read (tokenized corpus, gate frames,
  * candidate pairs, CC labels, the IVF cell index, the ingest index).
  * One process-wide instance, [[FrameMemo.shared]], serves every family;
  * keys are unique across families.
  *
  * Three forms, by what the readers need:
  *   - [[apply]]: an eager `localCheckpoint` — written when the entry is
  *     built, so the entry pins none of its build's shuffle or broadcast
  *     pages, whoever reads it later. A lazy one would stay open, keeping
  *     its whole build alive, when every reader reaches it through
  *     another checkpoint or a shuffle-map stage (see [[Checkpoints]] for
  *     the completion rule; `simhash_pairs` is read so by the k-core
  *     waves). Under AQE the checkpoint reports `UnknownPartitioning(0)`
  *     and no ordering: every reader that groups, joins or sorts on a key
  *     re-shuffles it. Fits frames read whole or on varying keys.
  *   - [[cached]]: a lazy `persist` — referencing it runs no job (the
  *     cache fills on the first job that reads it), and it keeps its
  *     plan's partitioning and ordering, but it pins its build's
  *     broadcast relations for as long as it lives. Fits frames a query
  *     must reference without running a job.
  *   - [[sorted]]: checkpoint, then range-partition and sort on the
  *     readers' key, then persist — the lineage cut of [[apply]] with the
  *     layout of a persist, so a reader's `orderBy`/`groupBy` on that key
  *     plans no exchange. Fits frames whose readers share one key.
  *
  * Lifecycle: the map keeps at most `maxDirs` most-recently-used
  * (session, dir) groups. Admitting a NEW group beyond that evicts the
  * least-recently-used group's entries and EXPLICITLY unpersists their
  * checkpointed RDDs and caches; [[clear]] releases the same way.
  *
  * Why explicit release instead of dropping references and letting the
  * ContextCleaner reclaim on GC: measured on Spark 4.1, a dropped
  * locally-checkpointed RDD is NOT reclaimed once any later
  * shuffle-bearing query has executed while another checkpointed frame
  * stays live — it survives 30+ s of System.gc() polling (dropping every
  * frame reclaims all of them, so some shuffle-execution-side structure
  * transitively retains earlier checkpoints; FrameMemoSpec pins the
  * explicit-release behavior instead of that unreliable path).
  *
  * Concurrency: builds run OUTSIDE the monitor, so concurrent workers
  * (Verify's pool) never serialize on a checkpoint materialization. A
  * concurrent same-key double build keeps one winner via putIfAbsent and
  * releases the loser's frame at once. A handed-out frame is live AT
  * hand-out (an entry evicted mid-build is rebuilt, never resurrected);
  * callers consume it within the query that requested it, and eviction
  * needs a third (session, dir) group entering the process.
  */
private[graft] final class FrameMemo(maxDirs: Int) {
  import FrameMemo.Entry

  private val frames = TrieMap[(SparkSession, String, String), Entry]()
  // LRU over (session, dir): LinkedHashSet iterates in insertion order;
  // re-inserting on touch moves a dir to the back.
  private val lru = mutable.LinkedHashSet[(SparkSession, String)]()

  /** Memoize `build` as an eager `localCheckpoint`: building the entry
    * runs the build (its shuffle-map stages and one job that writes the
    * blocks), so the entry holds its blocks and no lineage from then on.
    * See [[cached]] for a form that runs no job. */
  def apply(spark: SparkSession, dir: String, key: String)(
      build: => DataFrame): DataFrame =
    raw(spark, dir, key)(build.localCheckpoint(true))

  /** [[apply]] with a lazy `persist` in place of the checkpoint, for
    * frames a query must reference without running a job: a cache fills
    * on the first job that reads it. */
  def cached(spark: SparkSession, dir: String, key: String)(
      build: => DataFrame): DataFrame =
    raw(spark, dir, key)(build.persist())

  /** Memoize `build` checkpointed, then range-partitioned and sorted on
    * column `by` and persisted: readers that order or group on `by` plan
    * no exchange and no sort over it. The checkpoint goes first so the
    * cache pins none of the build's broadcasts. It is lazy, unlike
    * [[apply]]'s: the first job that reads the cache is a result job
    * whose checkpoint walk reaches it, and an eager one would cost a cold
    * build one more job (FrameMemoSpec pins both cuts complete). The range
    * partitions number the checkpoint's own partitions (AQE has coalesced
    * those to the data; a cached plan's own shuffle would keep
    * `spark.sql.shuffle.partitions` of them). The cache fills on the
    * first job that reads it. */
  def sorted(spark: SparkSession, dir: String, key: String, by: String)(
      build: => DataFrame): DataFrame =
    memo(spark, dir, key) {
      val cut = build.localCheckpoint(false)
      val laid = cut
        .repartitionByRange(math.max(1, cut.rdd.getNumPartitions), col(by))
        .sortWithinPartitions(by).persist()
      Entry(laid, Seq(laid, cut))
    }

  /** [[apply]] for builds that already return a checkpointed frame
    * (e.g. connectedComponents) — memoizes without re-checkpointing. */
  def raw(spark: SparkSession, dir: String, key: String)(
      build: => DataFrame): DataFrame =
    memo(spark, dir, key) { val df = build; Entry(df, Seq(df)) }

  /** Validity check is membership in `frames` (did release run on OUR
    * entry?), not LRU membership: re-admission cannot resurrect released
    * blocks, so a frame evicted mid-build is REBUILT. */
  private def memo(spark: SparkSession, dir: String, key: String)(
      build: => Entry): DataFrame = {
    val k = (spark, dir, key)
    while (true) {
      synchronized(admit(spark, dir))
      val e = frames.get(k) match {
        case Some(existing) => existing
        case None =>
          val built = build
          frames.putIfAbsent(k, built) match {
            case Some(winner) => release(built); winner // losing build
            case None         => built
          }
      }
      synchronized {
        if (frames.get(k).exists(_ eq e)) {
          admit(spark, dir) // hand-out counts as a use
          return e.df
        }
      }
      // evicted (and released) mid-build — loop and rebuild
    }
    throw new IllegalStateException("unreachable")
  }

  /** Touch `dir`; evict and release LRU dirs beyond `maxDirs`. Caller
    * must hold the monitor. */
  private def admit(spark: SparkSession, dir: String): Unit = {
    val g = (spark, dir)
    lru.remove(g); lru.add(g)
    while (lru.size > maxDirs) {
      val oldest = lru.head
      lru.remove(oldest)
      frames.keys.filter(k => (k._1, k._2) == oldest)
        .foreach(k => frames.remove(k).foreach(release))
    }
  }

  /** Unpersist every cache and checkpointed RDD the entry holds NOW
    * (blocks freed without waiting for a GC the cleaner may never act on
    * — see class doc). */
  private def release(e: Entry): Unit = e.holds.foreach { df =>
    try {
      if (df.storageLevel != StorageLevel.NONE) df.unpersist(blocking = false)
      else GraftShims.unpersistCheckpoint(df)
    } catch { case _: Throwable => () } // a dead session is already free
  }

  /** Drop AND release every memoized frame (tests / explicit session
    * teardown). */
  def clear(): Unit = synchronized {
    frames.values.foreach(release)
    frames.clear(); lru.clear()
  }

  private[graft] def size: Int = frames.size
  /** The handed-out frame of every entry, by key. */
  private[graft] def entries: Seq[(String, DataFrame)] =
    frames.toSeq.map { case ((_, _, key), e) => key -> e.df }
  private[graft] def dirCount: Int = synchronized(lru.size)
}

private[graft] object FrameMemo {
  /** A memoized frame and the frames whose cache or checkpoint it holds
    * (itself, plus the checkpoint under a [[FrameMemo.sorted]] entry). */
  private final case class Entry(df: DataFrame, holds: Seq[DataFrame])

  /** Two groups cover every in-process multi-dir pattern we ship while
    * keeping a 3-dir session bounded. */
  val MaxDirs = 2

  /** The one memo every operator family reads and writes. */
  val shared = new FrameMemo(MaxDirs)
}
