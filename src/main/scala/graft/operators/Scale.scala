package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

/** Scale tooling: the two shuffle-shaping techniques a 100 TB deployment
  * leans on beyond what AQE does automatically — explicit key salting for
  * pathological skew, and bucketed tables for shuffle-free co-located
  * joins. Kept as library operators (not query rewrites) so pipelines opt
  * in per join; plans stay pure Column expressions.
  */
object Scale {

  /** Skew diagnostic: per-key row counts of the heaviest `k` keys with
    * their share of total table rows — the number you look at before
    * deciding to salt. The denominator (total row count) is a scalar
    * aggregate of the same per-key counts, broadcast back onto the top-k
    * rows: both subtrees hang off the identical groupBy exchange, which
    * Spark's exchange reuse runs ONCE — no second scan of the base table,
    * and no unpartitioned window funneling every distinct key through a
    * single partition. */
  def skewProfile(df: DataFrame, key: String, k: Int = 20): DataFrame = {
    val counts = df.groupBy(col(key)).agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("__total"))
    counts.orderBy(col("n").desc, col(key)).limit(k)
      .crossJoin(broadcast(total))
      .withColumn("share", col("n") / col("__total").cast("double"))
      .drop("__total")
  }

  /** Salted inner equi-join for skewed fact–fact joins (neither side
    * broadcastable, hot keys overwhelm single reducers).
    *
    * The skewed (left) side gets a deterministic salt in `[0, saltFactor)`
    * hashed from a disambiguating column — NOT `rand()`, which would make
    * retried tasks emit different rows and break exactly-once sinks. The
    * right side is replicated `saltFactor`× via `explode`, so every
    * (key, salt) bucket holds the full right-side key group and the join
    * result is exactly the unsalted join, with hot keys spread over
    * `saltFactor` reducers.
    *
    * Use when AQE's skew splitting isn't available (e.g. the skewed join
    * feeds a co-partitioned downstream op) or the skew is known up front.
    */
  def saltedEquiJoin(
      left: DataFrame, right: DataFrame, key: String,
      saltFactor: Int, leftSaltBy: String): DataFrame = {
    require(saltFactor > 0, s"saltFactor must be positive, got $saltFactor")
    val salted = left.withColumn("__salt",
      pmod(xxhash64(col(leftSaltBy)), lit(saltFactor)).cast("int"))
    val replicated = right.withColumn("__salt",
      explode(sequence(lit(0), lit(saltFactor - 1))))
    salted.join(replicated,
        salted(key) === replicated(key) && salted("__salt") === replicated("__salt"))
      .drop("__salt").drop(replicated(key))
  }

  /** Two-path salted join: salt ONLY the known-hot keys, plain-join the
    * cold majority, union. [[saltedEquiJoin]] replicates the ENTIRE right
    * side saltFactor× — fine when most keys are hot, an 8× right-side tax
    * when (as usual) a handful are. Here only right rows for hot keys
    * replicate, so the extra cost is saltFactor×|hot slice| and the cold
    * path keeps the plain sort-merge shape AQE already handles well.
    *
    * `hotKeys` typically comes from [[skewProfile]] on a sample or a prior
    * run (skew is a property of the data, profiled offline at 100 TB).
    * NULL keys take the cold path, where inner-join semantics drop them —
    * same result as the plain join. */
  def twoPathSaltedJoin(
      left: DataFrame, right: DataFrame, key: String,
      saltFactor: Int, leftSaltBy: String, hotKeys: Seq[Any]): DataFrame = {
    if (hotKeys.isEmpty) left.join(right, left(key) === right(key)).drop(right(key))
    else {
      val hotLit = hotKeys.map(lit)
      val hot = saltedEquiJoin(
        left.filter(col(key).isin(hotLit: _*)),
        right.filter(col(key).isin(hotLit: _*)),
        key, saltFactor, leftSaltBy)
      val coldRight = right.filter(!col(key).isin(hotLit: _*))
      val cold = left.filter(!col(key).isin(hotLit: _*) || col(key).isNull)
        .join(coldRight, left(key) === coldRight(key))
        .drop(coldRight(key))
      hot.unionByName(cold)
    }
  }

  /** Declared-query form of the salting toolkit: lineitem ⋈ orders on the
    * order key, [[twoPathSaltedJoin]] with the hot set = [[skewProfile]]'s
    * top 16 keys (collected at plan time — a 16-row driver read off one
    * aggregate scan) and saltFactor=8. Salting must be semantically
    * transparent — the DuckDB oracle for this query is the PLAIN join, so
    * the oracle gate proves hot path + cold path + union return exactly
    * the unsalted result. */
  def saltedJoinQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = graft.Tables.lineitem(spark, dir)
      .select($"l_orderkey", $"l_linenumber", $"l_quantity")
    val o = graft.Tables.orders(spark, dir)
      .select($"o_orderkey".as("l_orderkey"), $"o_totalprice")
    // Profile a seeded 5% sample, not the full table: hot-key detection
    // only needs approximate counts, and at 100 TB the profile pass must
    // not scale with the data. The seed keeps the hot set (and thus the
    // physical plan) deterministic across reruns; ANY hot set yields the
    // same join result, so the oracle is unaffected.
    val hot = skewProfile(li.sample(withReplacement = false, 0.05, seed = 7),
        "l_orderkey", 16)
      .select($"l_orderkey").collect().map(_.get(0)).toSeq
    twoPathSaltedJoin(li, o, "l_orderkey", saltFactor = 8,
        leftSaltBy = "l_linenumber", hotKeys = hot)
      .select($"l_orderkey", $"l_linenumber", $"l_quantity", $"o_totalprice")
      .orderBy($"l_orderkey", $"l_linenumber")
  }

  /** Bucketed range join: post-purchase activity — for each purchase, the
    * count/value of the same user's events in the hour after it.
    *
    * A naive time-range join is a non-equi condition ⇒ Spark plans a
    * nested-loop; instead the range is bucketed: both sides get an
    * hour-bucket key, the left probes its own and the next bucket (a
    * 1-hour window spans ≤ 2 hour-buckets), and the join becomes a plain
    * equi-join on (user, bucket) + a residual range filter — shuffle-
    * partitioned, AQE-skew-splittable, linear at 100 TB. Oracle = the
    * plain inequality join (semantics must be identical).
    */
  def bucketedRangeJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val H = 3600000000L // 1 hour in microseconds
    val base = graft.Tables.events(spark, dir)
      .select($"user_id", $"event_id", $"event_type",
        unix_micros($"ts").as("t"), $"value")
    val p = base.filter($"event_type" === "purchase")
      .select($"user_id".as("p_user"), $"event_id".as("p_event_id"), $"t".as("p_t"))
      .withColumn("pb", explode(array(floor($"p_t" / H), floor($"p_t" / H) + 1)))
    val e = base
      .select($"user_id".as("e_user"), $"t".as("e_t"), $"value")
      .withColumn("eb", floor($"e_t" / H))
    p.join(e, $"p_user" === $"e_user" && $"pb" === $"eb")
      .where($"e_t" > $"p_t" && $"e_t" <= $"p_t" + H)
      .groupBy($"p_event_id", $"p_user")
      .agg(count(lit(1)).as("n_follow"),
        graft.operators.ReferenceOps.moneySum($"value").as("follow_value"))
      .orderBy($"p_event_id")
  }

  /** NS: small-file compaction planner — the table-maintenance pass every
    * 100 TB lakehouse runs: within each partition directory (`source`
    * stands in for the partition key; file size = n_chars), greedily
    * bin-pack files in id order into ~targetBytes output groups via a
    * running-sum window — bin = ⌊bytes-before / target⌋, the streaming
    * first-fit that never splits a file and overshoots by at most one
    * file. Output is the rewrite manifest: one row per planned output
    * file with its input span and byte total. Planning is per-partition-
    * dir parallel (one window shuffle on the partition key); the plan
    * NEVER reads file contents — at scale this runs on the table's file
    * listing/metadata only. */
  def compactionPlan(spark: SparkSession, dir: String,
      targetBytes: Long = 4096L): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"source").orderBy($"doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    graft.Tables.documents(spark, dir)
      .select($"source", $"doc_id", $"n_chars".as("bytes"))
      .withColumn("off", coalesce(sum($"bytes").over(w), lit(0L)))
      .withColumn("bin_id", expr(s"off div $targetBytes"))
      .groupBy($"source", $"bin_id")
      .agg(count(lit(1)).as("n_files"), sum($"bytes").as("bin_bytes"),
        min($"doc_id").as("first_doc"), max($"doc_id").as("last_doc"))
      .orderBy($"source", $"bin_id")
  }

  /** The streaming first-fit bin assignment [[compactSmallFiles]] plans
    * with: files in listing order, bin = ⌊bytes-before / target⌋ — never
    * splits a file, one pass, O(1) planner state (the same rule
    * `compaction_plan` expresses as a window). Pure function of the
    * listing; PropertySpec pins its invariants (every file exactly one
    * bin, bins nondecreasing in file order, each bin's first file starts
    * in the bin's own [bin·target, (bin+1)·target) byte range). */
  def firstFitBins(files: Seq[(String, Long)],
      targetBytes: Long): Seq[(String, Long, Long)] = {
    var off = 0L
    files.map { case (name, len) =>
      val bin = off / targetBytes; off += len
      (name, bin, len)
    }
  }

  /** Execute a small-file compaction — the rewrite half of
    * [[compactionPlan]], run against REAL parquet files (Delta
    * OPTIMIZE / Iceberg rewrite_data_files shape): plan first-fit bins
    * over the directory's file LISTING (driver-side, metadata-scale —
    * file contents are never read while planning), then rewrite every
    * bin as exactly ONE output file in a single shuffled pass:
    * input rows tag their bin via a broadcast (file → bin) map joined on
    * file name, hash-repartition by bin keeps each bin's rows in one
    * task, and `partitionBy(bin)` lands one file per bin directory.
    * One read + one shuffle of the compacted bytes — the minimum any
    * compaction pays; bins (not files) bound the write parallelism.
    * Returns the executed manifest (bin → files in, bytes, rows out is
    * the caller's count). ScaleSpec proves: one output file per bin,
    * row-identical content, manifest == the driver plan. */
  def compactSmallFiles(spark: SparkSession, inPath: String, outPath: String,
      targetBytes: Long): DataFrame = {
    import spark.implicits._
    val fs = new org.apache.hadoop.fs.Path(inPath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val files = fs.listStatus(new org.apache.hadoop.fs.Path(inPath))
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
    val plan = firstFitBins(
      files.map(f => (f.getPath.getName, f.getLen)), targetBytes)
    val nBins = (plan.map(_._2).distinct.length).max(1)
    // join key is the URI-ENCODED last path segment: input_file_name()
    // returns a URI-encoded path, so a raw getName (space, %, …) would
    // silently drop that file's rows from the inner join
    val binMap = files.zip(plan).map { case (f, (_, bin, _)) =>
      (f.getPath.toUri.getRawPath.split('/').last, bin)
    }.toSeq.toDF("fname", "bin")
    // Row-conservation check rides the write job itself via observe()
    // metrics — scan rows counted at the source, written rows counted
    // after the bin join — so verification costs ZERO extra scans (the
    // previous form re-read input AND output, two full passes at the
    // claimed 100 TB scale). A mismatch (a file name failing the bin
    // join) deletes the partial output before failing, so a bad run
    // never leaves a half-written outPath behind.
    val obsIn = org.apache.spark.sql.Observation()
    val obsOut = org.apache.spark.sql.Observation()
    spark.read.parquet(inPath)
      .observe(obsIn, count(lit(1)).as("rows"))
      .withColumn("fname", regexp_extract(input_file_name(), "[^/]+$", 0))
      .join(broadcast(binMap), "fname")
      .drop("fname")
      .observe(obsOut, count(lit(1)).as("rows"))
      .repartition(nBins, $"bin")
      .write.mode("overwrite").partitionBy("bin").parquet(outPath)
    val (inRows, outRows) =
      (obsIn.get("rows").asInstanceOf[Long], obsOut.get("rows").asInstanceOf[Long])
    if (outRows != inRows) {
      val outP = new org.apache.hadoop.fs.Path(outPath)
      outP.getFileSystem(spark.sessionState.newHadoopConf()).delete(outP, true)
      throw new IllegalArgumentException(
        s"compaction dropped rows: $inRows in, $outRows out — a file name " +
          "failed the bin join; partial output deleted")
    }
    plan.toSeq.toDF("fname", "bin", "bytes")
      .groupBy($"bin")
      .agg(count(lit(1)).as("n_files_in"), sum($"bytes").as("bin_bytes"))
      .orderBy($"bin")
  }

  /** Parquet row-group statistics audit — the pruning-health
    * introspection behind every `PushedFilters` win: per (file,
    * row group, INT64 column), the footer's num_values / null_count /
    * min / max, plus how SELECTIVE the min–max envelope is (a column
    * whose row groups all span the full value range prunes nothing; a
    * clustered layout — see [[writeZOrdered]] / [[writeHilbertOrdered]] —
    * keeps envelopes tight). Reads ONLY footers through
    * parquet-hadoop's metadata API (the jar Spark itself reads through):
    * metadata-scale driver work, file contents untouched — the same
    * access pattern as a Delta/Iceberg manifest read, listed-directory
    * or single file alike. ScaleSpec proves the reported stats equal an
    * exact recomputation of min/max/count over the data itself. */
  def parquetStatsAudit(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val conf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    // RECURSIVE listing: partitioned layouts (writePartitionedSorted,
    // compactSmallFiles output) put their files under key=value
    // subdirectories — a top-level listStatus would silently return an
    // empty audit for exactly the clustered layouts this introspects
    val files: Seq[org.apache.hadoop.fs.Path] =
      if (fs.getFileStatus(p).isFile) Seq(p)
      else {
        val it = fs.listFiles(p, true)
        val buf = scala.collection.mutable.ArrayBuffer
          .empty[org.apache.hadoop.fs.Path]
        while (it.hasNext) {
          val f = it.next()
          if (f.isFile && f.getPath.getName.endsWith(".parquet"))
            buf += f.getPath
        }
        buf.toSeq.sortBy(_.toString)
      }
    // file label = path relative to the audited root (partition
    // subdirectories keep files with identical base names distinct)
    def label(f: org.apache.hadoop.fs.Path): String = {
      val rel = f.toString.stripPrefix(p.toString).stripPrefix("/")
      if (rel.isEmpty) f.getName else rel
    }
    val rows = files.flatMap { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        val blocks = scala.jdk.CollectionConverters
          .ListHasAsScala(reader.getFooter.getBlocks).asScala
        blocks.zipWithIndex.flatMap { case (b, rg) =>
          scala.jdk.CollectionConverters.ListHasAsScala(b.getColumns).asScala
            // plain INT64 only: timestamps are INT64-physical with a
            // logical annotation and belong to a typed audit, not this one
            .filter(c => c.getPrimitiveType.getPrimitiveTypeName ==
              org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64 &&
              c.getPrimitiveType.getLogicalTypeAnnotation == null)
            .map { c =>
              val st = c.getStatistics
              val (mn, mx) =
                if (st != null && st.hasNonNullValue)
                  (Some(st.genericGetMin.asInstanceOf[Long]),
                    Some(st.genericGetMax.asInstanceOf[Long]))
                else (None: Option[Long], None: Option[Long])
              // null_count is NULL when UNKNOWN — both when the stats
              // object is absent and when it exists with the null count
              // unset (getNumNulls returns -1 in that case, which would
              // be indistinguishable from our old absent marker)
              val nulls: Option[Long] =
                if (st == null || !st.isNumNullsSet) None
                else Some(st.getNumNulls)
              (label(f), rg, c.getPath.toDotString, c.getValueCount,
                nulls, mn, mx)
            }
        }
      } finally reader.close()
    }
    rows.toDF("file", "row_group", "column", "num_values", "null_count",
        "min_value", "max_value")
      .orderBy($"file", $"row_group", $"column")
  }

  /** Write `df` as parquet hive-partitioned by `partCol` (one directory
    * per value), rows sorted by `sortCol` inside each file. This is the
    * 100 TB data-layout contract: queries filtering on `partCol` read
    * only the matching directories (partition pruning, before any I/O),
    * and min/max row-group stats on `sortCol` are tight for range
    * predicates. Dynamic partition overwrite keeps re-runs idempotent
    * per partition. */
  def writePartitionedSorted(df: DataFrame, path: String,
      partCol: String, sortCol: String): Unit =
    df.repartition(col(partCol))
      .sortWithinPartitions(col(partCol), col(sortCol))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCol)
      .parquet(path)

  /** Write `df` clustered on the 2-D Z-order (Morton) curve of two long
    * key columns: range-partition + sort on the interleaved key, so each
    * parquet file covers a small rectangle in (c1, c2) space and min/max
    * row-group stats prune scans filtering on EITHER column — the layout
    * trick behind z-ordered table formats, for when two independent
    * predicates matter and hive-partitioning can only serve one.
    * Keys must lie in [0, 2^32) — `z_order2` raises otherwise; rank or
    * hash wider/negative domains down to 32 bits before calling. */
  def writeZOrdered(df: DataFrame, path: String, c1: String, c2: String,
      numFiles: Int): Unit =
    df.withColumn("__z", graft.functions.z_order2(col(c1).cast("long"),
        col(c2).cast("long")))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite")
      .parquet(path)

  /** NS: the Z-order clustering key itself, oracled bit-for-bit — the
    * DuckDB twin replays the same magic-number spread chain in SQL, so a
    * green row proves the layout key any engine would compute matches. */
  def zorderKey(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.Tables.lineitem(spark, dir)
      .select($"l_orderkey", $"l_linenumber",
        graft.functions.z_order2($"l_partkey", $"l_suppkey").as("z"))
      .orderBy($"l_orderkey", $"l_linenumber")
  }

  /** Write `df` range-partitioned and sorted by the order-16 Hilbert key
    * of (c1, c2) — [[writeZOrdered]]'s premium sibling: because the
    * Hilbert walk never jumps, each output file covers a CONTIGUOUS
    * curve segment, and contiguous segments have asymptotically square
    * bounding boxes (Morton segments straddle power-of-two seams and
    * blow their boxes wide). Tighter per-file min/max on both keys =
    * more files pruned per predicate at 100 TB. Keys must lie in
    * [0, 2^16) — pmod/rank/hash wider domains first (ScaleSpec pins the
    * box-area advantage over Z-order on a uniform grid). */
  def writeHilbertOrdered(df: DataFrame, path: String, c1: String, c2: String,
      numFiles: Int): Unit =
    df.withColumn("__h", graft.functions.hilbert2(col(c1).cast("long"),
        col(c2).cast("long")))
      .repartitionByRange(numFiles, col("__h"))
      .sortWithinPartitions(col("__h"))
      .drop("__h")
      .write.mode("overwrite")
      .parquet(path)

  /** NS: the Hilbert clustering key, oracled bit-for-bit like
    * [[zorderKey]] — the DuckDB twin replays the same 16 reflect/
    * transpose rounds in generated SQL (Oracles.scala derives them from
    * the same scale constants). Hilbert beats Z-order for layout
    * clustering because the walk never jumps: consecutive keys are
    * always Manhattan-adjacent cells, so range partitions on `h` cut
    * tighter per-file min/max bounding boxes for pruning on EITHER key
    * at 100 TB. Keys are pmod-normalized into the 2^16 axis domain
    * (documented contract of [[graft.functions.Hilbert2]]; rank or hash
    * wider domains instead when collisions matter). Pure per-row
    * codegen'd expression — zero shuffle. */
  def hilbertKey(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.Tables.lineitem(spark, dir)
      .select($"l_orderkey", $"l_linenumber",
        graft.functions.hilbert2(
          pmod($"l_partkey", lit(65536L)),
          pmod($"l_suppkey", lit(65536L))).as("h"))
      .orderBy($"l_orderkey", $"l_linenumber")
  }

  /** NS: partition-layout advisor — profiles candidate partition keys
    * (low-cardinality dispatch column, ingest day, hash-mod bucket) and
    * verdicts each against the two failure modes of a 100 TB layout:
    * partition-count blowup (too many small files / listing cost) and
    * per-partition skew (one hot partition serializes the stage). All
    * inputs are exact integer counts; `skew_ratio` = max/avg is the one
    * terminal division. Three aggregations over one table — at scale
    * you'd sample, but the verdict math is identical; this is the
    * metadata-side planning step BEFORE a repartition/write job, the
    * same family as `compaction_plan` and `zorder_key`. */
  def partitionAdvisor(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.Column
    val ev = graft.Tables.events(spark, dir)
    def profile(name: String, key: Column): DataFrame =
      ev.groupBy(key.as("k")).agg(count(lit(1)).as("cnt"))
        .agg(count(lit(1)).as("n_parts"), sum($"cnt").as("n_rows"),
          max($"cnt").as("max_rows"))
        .select(lit(name).as("candidate"), $"n_parts", $"n_rows", $"max_rows")
    profile("event_type", $"event_type")
      .unionByName(profile("event_day", to_date($"ts")))
      .unionByName(profile("user_mod_256", pmod($"user_id", lit(256L))))
      .select($"candidate", $"n_parts", $"n_rows", $"max_rows",
        ($"max_rows".cast(DoubleType) * $"n_parts" / $"n_rows").as("skew_ratio"))
      .withColumn("verdict",
        when($"n_parts" < 8, "too_few")
          .when($"n_parts" > 100000, "too_many")
          .when($"skew_ratio" > 4.0, "skewed")
          .otherwise("ok"))
      .orderBy($"candidate")
  }

  /** NS (scale): join-cardinality estimation by Count-Min inner product —
    * the pre-shuffle planning probe: |A ⋈ B| on a key = Σ_k a_k·b_k, and
    * the min over depth rows of the CMS sketches' per-row inner products
    * upper-bounds it (collisions only ADD). Each side aggregates to ONE
    * depth×width counter array (map-side combined, ~2 MB at width 2^16),
    * so estimating the join costs two linear scans and no shuffle of
    * either table — you learn whether the real join's exchange will be
    * 50 k or 50 B rows before paying for it. Fully deterministic (salted
    * md5 buckets, integer counters): the estimate itself is oracled, not
    * just bounded, and the exact count rides along as the audit column.
    * The estimate NEVER undercounts (spec-pinned); its slack is
    * ~N_a·N_b/width per the CMS inner-product bound. */
  def joinSizeEstimate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (depth, width) = (4, 65536)
    val orders = graft.Tables.orders(spark, dir).filter($"o_totalprice" > 200000.0)
    val a = graft.Tables.lineitem(spark, dir)
      .select($"l_orderkey".cast(org.apache.spark.sql.types.StringType).as("k"))
      .agg(graft.functions.cms_sketch($"k", depth, width).as("ca"))
    val b = orders
      .select($"o_orderkey".cast(org.apache.spark.sql.types.StringType).as("k"))
      .agg(graft.functions.cms_sketch($"k", depth, width).as("cb"))
    val est = a.crossJoin(b)
      .select(array_min(transform(sequence(lit(0), lit(depth - 1)),
        i => aggregate(
          zip_with(slice($"ca", i * width + 1, lit(width)),
            slice($"cb", i * width + 1, lit(width)), (x, y) => x * y),
          lit(0L), (acc, p) => acc + p))).as("est_rows"))
    val exact = graft.Tables.lineitem(spark, dir)
      .join(orders, $"l_orderkey" === $"o_orderkey")
      .agg(count(lit(1)).as("exact_rows"))
    est.crossJoin(exact)
      .select($"est_rows", $"exact_rows",
        ($"est_rows" - $"exact_rows").as("overcount"))
  }

  /** NS (scale): range-partition boundary planning — what Spark's
    * RangePartitioner does before any total sort, surfaced as an
    * auditable query: take a deterministic hash sample of the sort key,
    * read the (i·n/8)-th sample order statistics as the 7 boundaries,
    * then score the PLAN by bucketing the full table against them. The
    * audit columns are the point: `rows` per bucket and the max/avg
    * balance ratio tell you whether an 8-way total sort of this key
    * would be balanced BEFORE shuffling 100 TB (a skewed key shows up
    * here as a fat bucket, and you fix the sample rate or go to more
    * partitions). Sample is md5-deterministic so the boundaries — not
    * just their quality — are oracled. The sample is ranked in one plan
    * by [[withGlobalRank]] (broadcast per-partition offsets, no driver
    * collect), so the only driver read is the 7 boundary rows — a
    * bounded driver literal, same class as the IVF codebook. */
  def rangeBounds(spark: SparkSession, dir: String, parts: Int = 8): DataFrame = {
    import spark.implicits._
    import graft.operators.TextAnalysis.md5Long60
    val li = graft.Tables.lineitem(spark, dir)
    // cut of the sample so withGlobalRank's range-boundary sampling pass
    // and its rank pass both read the materialized 2% rows instead of
    // re-running the md5 filter over the full fact
    val (sample, _) = Checkpoints.eagerCut(li
      .select($"l_orderkey", $"l_linenumber")
      .where(md5Long60(concat_ws(":", lit("sb"), $"l_orderkey", $"l_linenumber"))
        % 50 === 0))
    // Rank the sample DISTRIBUTED via withGlobalRank — a 2% sample of a
    // 100 TB fact is still far too big for an unpartitioned row_number
    // window (the exact single-task failure this planner exists to
    // prevent). The rank plan carries n as a column and its per-partition
    // offsets as a broadcast frame, so the boundary RANKS are column
    // predicates over it and the whole boundary extraction is one driver
    // collect of at most parts − 1 rows; n rides along on those rows.
    val ranked = withGlobalRank(sample, "rk", "_n",
      Seq($"l_orderkey", $"l_linenumber"))
    // rank of boundary i (1-based): ceil(i*n/parts) — integer arithmetic.
    // One boundary PER i (duplicates kept when the sample has n < parts
    // rows and two boundary ranks coincide) — mirroring the oracle's
    // range-join exactly, so degenerate samples bucket identically.
    // reduceOption: parts == 1 means "no interior boundaries" — an empty
    // disjunction is `false` (the old isin(empty) behavior), not an
    // UnsupportedOperationException (ADVICE r13)
    val isBoundary = (1 until parts)
      .map(i => $"rk" === expr(s"($i * _n + $parts - 1) div $parts"))
      .reduceOption(_ || _).getOrElse(lit(false))
    val boundaryRows = ranked.where(isBoundary)
      .select($"rk", $"l_orderkey", $"_n")
      .as[(Long, Long, Long)].collect()
    val n = boundaryRows.headOption.map(_._3).getOrElse(0L)
    val ranks = (1 until parts).map(i => (i * n + parts - 1) / parts)
    val byRank: Map[Long, Long] =
      boundaryRows.map(r => (r._1, r._2)).toMap
    val bounds: Array[Long] = ranks.collect {
      case r if byRank.contains(r) => byRank(r)
    }.toArray
    val bucket = bounds.foldLeft(lit(0)) { (acc, b) =>
      acc + ($"l_orderkey" > b).cast(IntegerType)
    }
    li.groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("rows"),
        min($"l_orderkey").as("min_key"), max($"l_orderkey").as("max_key"))
      .crossJoin(broadcast(
        li.agg((count(lit(1)).cast(DoubleType) / parts).as("target_rows"))))
      .select($"bucket", $"rows", $"min_key", $"max_key",
        ($"rows" / $"target_rows").as("balance"))
      .orderBy($"bucket")
  }

  /** Global `row_number()` over a TOTAL order without the single-partition
    * window (`Window.orderBy` with no partitionBy funnels every row
    * through one task — the classic 100 TB scale-killer). One lineage
    * cut, then one plan with no driver round trip:
    *
    *  - range-repartition on the sort key (REPARTITION_BY_NUM origin —
    *    AQE never coalesces or skew-splits it, so partition ids are
    *    stable across both consumers);
    *  - branch A: per-partition row counts (a ≤numParts-row frame —
    *    bounded by CONFIG, not data), exclusive-prefix-summed into
    *    per-partition rank offsets plus the total count by a bounded
    *    unpartitioned window, then BROADCAST;
    *  - branch B: partition-local sort, then `monotonically_increasing_id`
    *    — (pid << 33) | row-offset-within-partition by construction —
    *    taken AFTER the sort, so `mid & (2^33−1)` is the 0-based
    *    within-partition rank with no window and no pid re-shuffle;
    *  - broadcast-join A onto B on `mid >> 33 = pid`:
    *    rank = offset(pid) + (mid & mask) + 1.
    *
    * Both branches read ONE checkpointed range exchange (see the in-body
    * note). Requires `sortCols` to be a total order (callers
    * tie-break on a key), which makes the rank independent of where the
    * range boundaries fall. A partition of 2^33 rows or more would
    * overflow the mid packing, so it fails the query instead (raise
    * numParts). Output: df's columns + `rankCol` (1-based LongType) +
    * `nCol` (the total row count on every row, for [[ntileFromRank]]). */
  def withGlobalRank(df: DataFrame, rankCol: String, nCol: String,
      sortCols: Seq[Column], numParts: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // The checkpoint (not a pure two-branch plan) is LOAD-BEARING for
    // correctness, not just speed: a range exchange samples its
    // partition boundaries with a seed derived from its RDD id, so two
    // independent exchange instances over the same input can draw
    // DIFFERENT boundaries whenever ReuseExchange fails to dedupe them —
    // and it does fail here, because the counts branch needs no data
    // columns and column pruning de-canonicalizes its copy (also
    // measured 1.4x slower from the double compute). With different
    // boundaries, branch A's offsets describe different pids than
    // branch B's rows — silently wrong ranks. The cut creates ONE
    // shuffled RDD whose boundaries are sampled exactly once; both
    // branches read its blocks (or, on the reliable path, its file).
    requireFreshCols(df, Seq(rankCol, nCol, "_gr_pid", "_gr_mid"))
    val (parted, _) = Checkpoints.eagerCut(df.repartitionByRange(numParts, sortCols: _*))
    val wOff = Window.orderBy(col("_gr_pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wTot = Window.orderBy(col("_gr_pid"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val offs = parted
      .groupBy(spark_partition_id().as("_gr_pid"))
      // mid-packing overflow guard: rank correctness needs every
      // partition under 2^33 rows ((pid << 33) | position). The counts
      // are already on hand in this bounded frame, so the check is free —
      // a violating partition fails loudly instead of silently
      // corrupting ranks.
      .agg(when(count(lit(1)) < (1L << 33), count(lit(1)))
        .otherwise(raise_error(concat(
          lit("withGlobalRank: partition exceeds 2^33 rows ("),
          count(lit(1)), lit(") — raise numParts")))).as("_gr_c"))
      .select(col("_gr_pid").cast(LongType).as("_gr_pid"),
        coalesce(sum(col("_gr_c")).over(wOff), lit(0L)).as("_gr_off"),
        sum(col("_gr_c")).over(wTot).as(nCol))
    val mask = (1L << 33) - 1
    val local = parted.sortWithinPartitions(sortCols: _*)
      .withColumn("_gr_mid", monotonically_increasing_id())
    local
      .join(broadcast(offs), shiftright(col("_gr_mid"), 33) === col("_gr_pid"))
      .withColumn(rankCol,
        col("_gr_mid").bitwiseAND(lit(mask)) + lit(1L) + col("_gr_off"))
      .select(df.columns.map(col) ++ Seq(col(rankCol), col(nCol)): _*)
  }

  /** Global cumulative sums over a TOTAL order without the single-task
    * window: range-repartition on the sort key, cumulative-sum WITHIN
    * each (ordered) partition, and add per-partition prefix totals —
    * exclusive-prefix-summed by a bounded ≤numParts-row window and
    * broadcast-joined back, in the same plan (no driver collect).
    * Exactly equal to `sum(col).over(Window.orderBy(sortCols))` but
    * distributed — the fix for CDF/running-share queries whose value grid
    * is data-sized (a continuous column's distinct grid ≈ its row count,
    * so an unpartitioned window would be the one-task sort at 100 TB).
    *
    * `sumCols` maps input LongType column → cumulative output column.
    * `sortCols` must be a total order over df's rows (ties would make
    * intermediate cumulative rows nondeterministic); callers aggregate
    * to distinct keys first. The within-partition running sum needs its
    * window clustered by pid — that exchange carries only df's rows. */
  def withGlobalCumsum(df: DataFrame, sortCols: Seq[Column],
      sumCols: Seq[(String, String)], numParts: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    requireFreshCols(df, "_gc_pid" +:
      sumCols.flatMap { case (in, out) => Seq(out, s"_gc_off_$in") })
    // the cut pins ONE sampled set of range boundaries for both
    // branches — without it the totals branch and the running-sum branch
    // each own a range exchange whose boundary sampling is seeded by its
    // RDD id, and when ReuseExchange doesn't dedupe them (AQE off) the
    // two pid spaces diverge and the joined offsets are silently wrong
    // (ks_drift failed the sf0.1 AQE-off oracle sweep exactly this way).
    val (parted0, _) = Checkpoints.eagerCut(df.repartitionByRange(numParts, sortCols: _*))
    val parted = parted0.withColumn("_gc_pid", spark_partition_id())
    val wOff = Window.orderBy(col("_gc_pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val totAggs = sumCols.map { case (in, _) => sum(col(in)).as(s"_gc_t_$in") }
    val offs = parted0.groupBy(spark_partition_id().as("_gc_pid"))
      .agg(totAggs.head, totAggs.tail: _*)
      .select(col("_gc_pid") +: sumCols.map { case (in, _) =>
        coalesce(sum(col(s"_gc_t_$in")).over(wOff), lit(0L))
          .as(s"_gc_off_$in") }: _*)
    val w = Window.partitionBy(col("_gc_pid")).orderBy(sortCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val joined = parted.join(broadcast(offs), "_gc_pid")
    val withCums = sumCols.foldLeft(joined) { case (acc, (in, out)) =>
      acc.withColumn(out, sum(col(in)).over(w) + col(s"_gc_off_$in"))
    }
    withCums.select(df.columns.map(col) ++
      sumCols.map { case (_, out) => col(out) }: _*)
  }

  /** Global STRICT-prefix running max over a TOTAL order without the
    * single-task window — the [[withGlobalCumsum]] construction
    * specialized to max: within each range partition, the running max
    * over the rows STRICTLY BEFORE the current one, folded with the max
    * of every preceding partition (a bounded ≤numParts-row window,
    * broadcast-joined back in the same plan). `outCol` equals
    * `max(maxCol).over(Window.orderBy(sortCols).rowsBetween(unboundedPreceding, -1))`
    * with nulls replaced by Long.MinValue (the max identity, so the
    * first row in the total order compares true against any value).
    * The strict frame is what dominance scans need (see [[skyline2d]]):
    * a row must never see its own value in the prefix. `sortCols` must
    * be a total order over df's rows (callers aggregate to distinct keys
    * first); `maxCol` must be LongType. */
  def withGlobalPrefixMax(df: DataFrame, sortCols: Seq[Column],
      maxCol: String, outCol: String, numParts: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    requireFreshCols(df, Seq("_gm_pid", "_gm_off", outCol))
    // the cut — same boundary-pinning argument as
    // [[withGlobalCumsum]] (one sampled pid space for both branches)
    val (parted0, _) = Checkpoints.eagerCut(df.repartitionByRange(numParts, sortCols: _*))
    val parted = parted0.withColumn("_gm_pid", spark_partition_id())
    val wOff = Window.orderBy(col("_gm_pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = parted0.groupBy(spark_partition_id().as("_gm_pid"))
      .agg(max(col(maxCol)).as("_gm_m"))
      .select(col("_gm_pid"),
        coalesce(max(col("_gm_m")).over(wOff), lit(Long.MinValue))
          .as("_gm_off"))
    val w = Window.partitionBy(col("_gm_pid")).orderBy(sortCols: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    parted.join(broadcast(offs), "_gm_pid")
      .withColumn(outCol,
        greatest(coalesce(max(col(maxCol)).over(w), lit(Long.MinValue)),
          col("_gm_off")))
      .select(df.columns.map(col) :+ col(outCol): _*)
  }

  /** SQL-standard `ntile(k)` recomputed from a global 1-based rank and
    * the total row count `n` (both columns — the [[withGlobalRank]]
    * outputs): the first `n mod k` buckets carry `n div k + 1` rows, the
    * rest `n div k` — bit-identical to Spark's and DuckDB's `ntile`, but
    * distributable because the rank needs no single-partition window. */
  def ntileFromRank(rank: Column, n: Column, k: Int): Column = {
    val base   = idiv(n, lit(k.toLong))
    val rem    = n - base * k
    val bigCut = rem * (base + 1L)
    val r0     = rank - 1L
    when(r0 < bigCut, idiv(r0, base + 1L) + 1L)
      .otherwise(rem + idiv(r0 - bigCut, greatest(base, lit(1L))) + 1L)
      .cast(IntegerType)
  }

  /** Integer division for Column divisors (Column `/` is double
    * division); both operands must be non-negative longs here. */
  private def idiv(a: Column, b: Column): Column =
    ((a - pmod(a, b)) / b).cast(LongType)

  /** Entry guard for the global-order helpers' internal/output column
    * names: a caller frame already carrying one of these would be
    * silently clobbered by withColumn — fail loudly instead. */
  private def requireFreshCols(df: DataFrame, names: Seq[String]): Unit = {
    val clash = names.filter(df.columns.contains)
    require(clash.isEmpty,
      s"global-order helper: input frame already has column(s) " +
        s"${clash.mkString(", ")} (helper-owned names)")
  }

  /** NS: distributed 2-D skyline (pareto frontier) — the parts no other
    * part beats on BOTH axes (lower `p_retailprice`, higher `p_size`):
    * q dominates p iff q.price <= p.price AND q.size >= p.size with at
    * least one strict. The classic O(n log n) sweep (sort by price, keep
    * rows whose size exceeds the running max) is inherently a global
    * cumulative — at 100 TB the textbook `Window.orderBy` form funnels
    * everything through one task, so this runs the sweep on the
    * per-price grid (one shuffle agg: max size + no equal-price
    * dominance survives except the per-price max) with the strict
    * prefix max distributed via [[withGlobalPrefixMax]], then joins the
    * surviving (price, size) frontier back to the parts that carry it.
    * Ties on both axes are mutually non-dominating — all such parts
    * stay. Linear in |parts| plus one range exchange of the price grid
    * (the grid is data-sized for a continuous price column — exactly
    * why the prefix max must be distributed, not a window allowlist
    * entry). */
  def skyline2d(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val p = graft.Tables.part(spark, dir)
    // per-price survivors: only a price's max size can be on the skyline
    // (any smaller size at the same price is dominated by it)
    val grid = p.groupBy($"p_retailprice")
      .agg(max($"p_size".cast(LongType)).as("g_size"))
    val swept = withGlobalPrefixMax(grid, Seq($"p_retailprice"), "g_size", "pmax")
    val frontier = swept.where($"g_size" > $"pmax")
      .select($"p_retailprice".as("f_price"), $"g_size")
    p.join(frontier,
        $"p_retailprice" === $"f_price" && $"p_size".cast(LongType) === $"g_size")
      .select($"p_partkey", $"p_name", $"p_retailprice", $"p_size")
      .orderBy($"p_retailprice", $"p_partkey")
  }

  /** Rendezvous (highest-random-weight) shard assignment for one id
    * column: shard(id) = argmax over s of md5("rv:<s>:<id>") — the
    * consistent-placement scheme behind elastic shard maps: growing the
    * fleet from n to n+1 shards reassigns ONLY the ids the new shard now
    * wins (≈ 1/(n+1) of them), never a global reshuffle — exactly what a
    * 100 TB corpus needs when the writer fleet resizes (PropertySpec pins
    * the minimal-movement law). Pure per-row expression over n md5 hashes:
    * zero shuffle, codegen'd, ties (2^-60 likely) break to the LOWEST
    * shard on both engines. */
  def rendezvousAssign(ids: DataFrame, idCol: String, nShards: Int): DataFrame = {
    import ids.sparkSession.implicits._
    val cand = array((0 until nShards).map { s =>
      struct(
        graft.operators.TextAnalysis.md5Long60(
          concat(lit(s"rv:$s:"), col(idCol).cast("string"))).as("hv"),
        lit(-s).as("ns"))
    }: _*)
    ids.withColumn("shard", (-array_max(cand).getField("ns")).cast(IntegerType))
  }

  /** NS (LLM pipeline): the shard-placement audit over `documents` —
    * rendezvous-assign every doc to 8 shards and report per-shard count,
    * id range, and balance vs the uniform target (the go/no-go read
    * before committing a shard map). One linear scan + an 8-row agg;
    * the 1-row total is broadcast back (the `revenue_share` pattern). */
  def rendezvousShards(spark: SparkSession, dir: String,
      nShards: Int = 8): DataFrame = {
    import spark.implicits._
    val assigned = rendezvousAssign(
      graft.Tables.documents(spark, dir).select($"doc_id"), "doc_id", nShards)
    val per = assigned.groupBy($"shard")
      .agg(count(lit(1)).as("n_docs"),
        min($"doc_id").as("min_doc"), max($"doc_id").as("max_doc"))
    val total = per.agg(sum($"n_docs").as("n_total"))
    per.crossJoin(broadcast(total))
      .select($"shard", $"n_docs", $"min_doc", $"max_doc",
        ($"n_docs".cast(DoubleType) * nShards / $"n_total")
          .as("balance"))
      .orderBy($"shard")
  }

  /** NS: bloom-filter semi-join reduction — the manual runtime-filter
    * technique for 100 TB fact⋈dim joins. The dim-side keys aggregate
    * into one compact bloom sketch (a distributed agg whose single
    * ~KB-scale value travels as a scalar subquery — never collected to
    * the application); the fact scan is pre-filtered with might_contain
    * (bloom guarantees no false negatives) BEFORE the join exchange, so
    * the shuffle carries only probable matches instead of the whole
    * fact table; the exact join then removes the false positives. The
    * oracle is the same query WITHOUT the bloom — a transparency proof,
    * like salted_join. Uses Spark's own `BloomFilterAggregate` /
    * `BloomFilterMightContain` (the InjectRuntimeFilter expressions)
    * surfaced as SQL functions by [[graft.plans.GraftExtensions]]; the
    * explicit form lets a pipeline build the bloom once and reuse it
    * across many scans, which the optimizer's per-join injection can't.
    */
  def bloomPruneJoin(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftExtensions.register(spark)
    graft.Tables.orders(spark, dir).createOrReplaceTempView("bp_orders")
    graft.Tables.lineitem(spark, dir).createOrReplaceTempView("bp_lineitem")
    spark.sql(
      """WITH dim AS (SELECT o_orderkey FROM bp_orders
        |             WHERE o_totalprice > 400000.0),
        |     bf  AS (SELECT graft_bloom_agg(o_orderkey, 4096L, 65536L) AS b
        |             FROM dim)
        |SELECT l.l_returnflag,
        |       count(*) AS n_items,
        |       CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) *
        |                (CAST(1 AS DECIMAL(18,2)) -
        |                 CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |         AS revenue
        |FROM bp_lineitem l
        |JOIN dim d ON l.l_orderkey = d.o_orderkey
        |WHERE graft_bloom_contains((SELECT b FROM bf), l.l_orderkey)
        |GROUP BY l.l_returnflag
        |ORDER BY l.l_returnflag""".stripMargin)
  }
}
