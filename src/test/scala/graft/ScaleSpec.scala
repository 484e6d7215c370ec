package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.operators.Scale

/** Scale tooling: salting correctness + bucketed co-located joins. */
class ScaleSpec extends SparkSpecBase {

  test("cusum_changepoint: the textbook recursion replayed on the fixture " +
    "matches the distributed prefix-min identity") {
    import spark.implicits._
    // scalar replay of S_t = max(0, S_{t-1} + d_t) over the same day/cents
    // frame (same IEEE floor arithmetic via the same Spark expressions)
    val perDay = spark.read.parquet(s"$Sf0001/orders.parquet")
      .select(expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000")
        .as("day"), floor($"o_totalprice" * 100 + 0.5).cast("long").as("cents"))
      .groupBy($"day").agg(sum($"cents").as("x"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (lo, hi) = (perDay.keys.min, perDay.keys.max)
    val days = (lo to hi).map(d => d -> perDay.getOrElse(d, 0L))
    val nDays = days.size.toLong
    val total = days.map(_._2).sum
    var s = 0L
    val ref = days.map { case (d, x) =>
      s = math.max(0L, s + (x * nDays - total))
      (d, x, s)
    }
    val expected = ref.sortBy { case (d, _, cs) => (-cs, d) }.take(10)
      .map { case (d, x, cs) => (d, x, cs) }
    val got = graft.operators.Relational.cusumChangepoint(spark, Sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(got.toSeq === expected)
  }

  test("parquetStatsAudit: footer row-group stats equal exact recomputation") {
    import spark.implicits._
    val path = s"$Sf0001/lineitem.parquet"
    val audit = Scale.parquetStatsAudit(spark, path).collect()
    assert(audit.nonEmpty, "no INT64 row-group stats found")
    // footer num_values per column must sum to the table's row count,
    // and the global min/max envelope must equal the exact aggregates
    val n = spark.read.parquet(path).count()
    val byCol = audit.groupBy(_.getString(2))
    assert(byCol.keySet.contains("l_orderkey"))
    byCol.foreach { case (column, rows) =>
      assert(rows.map(_.getLong(3)).sum === n, s"$column num_values")
      val ex: Row = spark.read.parquet(path).agg(
        min(col(column)), max(col(column)),
        sum(when(col(column).isNull, 1L).otherwise(0L))).head()
      // all-null row groups legitimately carry NULL min/max; the fixture
      // has none, but the envelope check must only read the known rows
      val withMinMax = rows.filter(r => !r.isNullAt(5) && !r.isNullAt(6))
      assert(withMinMax.nonEmpty, s"$column: no row group with min/max stats")
      assert(withMinMax.map(_.getLong(5)).min === ex.getLong(0), s"$column min")
      assert(withMinMax.map(_.getLong(6)).max === ex.getLong(1), s"$column max")
      // null_count is NULL when UNKNOWN (absent stats or unset count);
      // the exact-sum check only holds when every row group reports it
      if (rows.forall(!_.isNullAt(4)))
        assert(rows.map(_.getLong(4)).sum === ex.getLong(2), s"$column nulls")
    }
    // partitioned layouts (key=value subdirectories) audit recursively —
    // a top-level listing would return an empty audit for exactly the
    // clustered layouts the function introspects
    val outP = java.nio.file.Files.createTempDirectory("psa").toString
    spark.range(100).selectExpr("id", "id % 3 AS part")
      .write.mode("overwrite").partitionBy("part").parquet(outP)
    val pa = Scale.parquetStatsAudit(spark, outP).collect()
    assert(pa.nonEmpty, "partitioned layout audited as empty")
    assert(pa.map(_.getLong(3)).sum === 100L, "num_values over partitions")
    assert(pa.map(_.getString(0)).forall(_.contains("part=")),
      "file labels must carry the partition subpath")
  }

  test("parquetStatsAudit: all-null INT64 column reports NULL min/max, exact null_count") {
    import spark.implicits._
    val outP = java.nio.file.Files.createTempDirectory("psa_null").toString
    spark.range(10)
      .select($"id", lit(null).cast("long").as("v"))
      .coalesce(1).write.mode("overwrite").parquet(outP)
    val rows = Scale.parquetStatsAudit(spark, outP).collect()
      .filter(_.getString(2) == "v")
    assert(rows.nonEmpty, "all-null column missing from audit")
    rows.foreach { r =>
      assert(r.isNullAt(5) && r.isNullAt(6), "all-null row group must have NULL min/max")
      assert(!r.isNullAt(4) && r.getLong(4) === r.getLong(3),
        "null_count must equal num_values for an all-null row group")
    }
  }

  test("salted join returns exactly the unsalted join's rows") {
    import spark.implicits._
    // Heavy skew: key 1 holds 10k of 10.2k rows.
    val left = spark.range(10000).select(lit(1L).as("k"), $"id".as("lv"))
      .unionAll(spark.range(200).select(($"id" % 50 + 2).as("k"), $"id".as("lv")))
    val right = spark.range(60).select($"id".as("k"), ($"id" * 100).as("rv"))

    val plain = left.join(right, "k").select($"k", $"lv", $"rv")
    val salted = Scale.saltedEquiJoin(left, right, "k", saltFactor = 8, leftSaltBy = "lv")
      .select($"k", $"lv", $"rv")
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
    assert(salted.count() == plain.count())
  }

  test("salted join spreads a hot key over saltFactor reducers deterministically") {
    import spark.implicits._
    val left = spark.range(1000).select(lit(1L).as("k"), $"id".as("lv"))
    val salts = left.withColumn("__salt",
      pmod(xxhash64($"lv"), lit(8)).cast("int"))
      .select(countDistinct($"__salt")).as[Long].collect().head
    assert(salts == 8, s"hot key only spread over $salts of 8 salts")
    // determinism: same input → same salt assignment (no rand())
    val a = Scale.saltedEquiJoin(left, left.select($"k").distinct(), "k", 8, "lv")
    val b = Scale.saltedEquiJoin(left, left.select($"k").distinct(), "k", 8, "lv")
    assert(a.exceptAll(b).isEmpty)
  }

  test("two-path salted join returns exactly the plain join (hot + cold + null keys)") {
    import spark.implicits._
    val left = spark.range(5000).select(lit(1L).as("k"), $"id".as("lv"))
      .unionAll(spark.range(300).select(($"id" % 60 + 2).as("k"), $"id".as("lv")))
      .unionAll(Seq((Option.empty[Long], 99999L)).toDF("k", "lv"))
    val right = spark.range(70).select($"id".as("k"), ($"id" * 100).as("rv"))
    val plain = left.join(right, left("k") === right("k")).drop(right("k"))
      .select($"k", $"lv", $"rv")
    val hot = Scale.skewProfile(left, "k", 2).select($"k")
      .collect().map(_.get(0)).toSeq
    val got = Scale.twoPathSaltedJoin(left, right, "k", 8, "lv", hot)
      .select($"k", $"lv", $"rv")
    assert(got.exceptAll(plain).isEmpty && plain.exceptAll(got).isEmpty)
    assert(got.count() == plain.count())
    // empty hot set degenerates to the plain join
    val none = Scale.twoPathSaltedJoin(left, right, "k", 8, "lv", Nil)
      .select($"k", $"lv", $"rv")
    assert(none.exceptAll(plain).isEmpty && plain.exceptAll(none).isEmpty)
  }

  test("AQE splits a skewed sort-merge join partition (the no-salt path)") {
    // saltedEquiJoin's docs say "use when AQE's skew splitting isn't
    // available" — this proves the default path really does split.
    import spark.implicits._
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB")
    val saved = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      keys.foreach { case (k, v) => spark.conf.set(k, v) }
      // one hot key carries ~200k of 210k left rows
      val left = spark.range(200000).select(lit(1L).as("k"), $"id".as("lv"))
        .unionAll(spark.range(10000).select(($"id" % 100 + 2).as("k"), $"id".as("lv")))
      val right = spark.range(110).select($"id".as("k"), ($"id" * 3).as("rv"))
      val joined = left.join(right, "k").select(sum($"lv" + $"rv"))
      val expected = joined.collect().head.getLong(0)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not mark the skewed join:\n$plan")
      // and the split join still computes the right answer
      assert(expected === left.join(right, "k")
        .select(sum($"lv" + $"rv")).collect().head.getLong(0))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("skewProfile surfaces the hot keys with their share") {
    import spark.implicits._
    val df = spark.range(900).select(lit(7L).as("k"))
      .unionAll(spark.range(100).select(($"id" % 10 + 100).as("k")))
    val top = Scale.skewProfile(df, "k", k = 1).collect().head
    assert(top.getLong(0) == 7L)
    assert(top.getLong(1) == 900L && math.abs(top.getDouble(2) - 0.9) < 1e-9)
  }

  test("partitioned-sorted layout prunes partitions before any I/O") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft-layout").toString
    val df = Tables.events(spark, Sf0001)
      .withColumn("d", to_date($"ts"))
      .withColumn("d", date_format($"d", "yyyy-MM-dd")) // stable dir names
    Scale.writePartitionedSorted(df, path, "d", "ts")
    val back = spark.read.parquet(path)
    // partition dirs are type-inferred on read (d comes back as DATE)
    val days = back.select($"d").distinct().orderBy($"d").collect().map(_.get(0))
    assert(days.length > 1, "fixture spans a single day; test is vacuous")
    val probe = back.filter($"d" === lit(days.head))
    val ex = probe.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the filter must land in PartitionFilters (directory pruning), not as
    // a post-scan row filter over all partitions
    assert(ex.contains("PartitionFilters") && ex.contains("isnotnull(d"),
      s"partition filter missing from scan:\n$ex")
    val perDay = back.groupBy($"d").count().collect()
      .map(r => (r.get(0), r.getLong(1))).toMap
    assert(probe.count() === perDay(days.head))
    // full round-trip: layout must not lose or duplicate rows
    assert(back.count() === Tables.events(spark, Sf0001).count())
  }

  test("dynamic partition pruning fires on a partitioned-layout join") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft-dpp").toString
    val df = Tables.events(spark, Sf0001)
      .withColumn("d", date_format(to_date($"ts"), "yyyy-MM-dd"))
    Scale.writePartitionedSorted(df, path, "d", "ts")
    val fact = spark.read.parquet(path)
    // selective dim: the first day by rank — a Filter the optimizer can
    // neither constant-fold nor propagate as a literal onto the fact side
    // (rank is computed at runtime), so pruning the fact directories
    // REQUIRES a runtime DPP subquery — the 100 TB date-dim shape
    val w = org.apache.spark.sql.expressions.Window.orderBy($"dd")
    val dim = fact.select($"d".as("dd")).distinct()
      .select($"dd", row_number().over(w).as("rk"))
      .filter($"rk" === 1)
    val joined = fact.join(broadcast(dim), fact("d") === dim("dd"))
    val ex = joined.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(ex.contains("dynamicpruning"),
      s"no dynamic partition pruning in plan:\n$ex")
    // and it must actually return one partition's rows
    val oneDay = fact.groupBy($"d").count().orderBy($"d").limit(1)
      .collect()(0).getLong(1)
    assert(joined.count() === oneDay)
  }

  test("compactSmallFiles: one output file per planned bin, row-identical content") {
    import spark.implicits._
    val in = java.nio.file.Files.createTempDirectory("graft-compact-in").toString
    val out = java.nio.file.Files.createTempDirectory("graft-compact-out").toString
    // a deliberately fragmented table: 40 small files
    val src = graft.Tables.documents(spark, Sf0001)
      .select($"doc_id", $"source", $"n_chars")
    src.repartition(40).write.mode("overwrite").parquet(in)
    val fs = new org.apache.hadoop.fs.Path(in)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def parquetFiles(p: String): Array[org.apache.hadoop.fs.FileStatus] = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(p), true)
      val buf = scala.collection.mutable.ArrayBuffer[org.apache.hadoop.fs.LocatedFileStatus]()
      while (it.hasNext) buf += it.next()
      buf.filter(f => f.getPath.getName.endsWith(".parquet")).toArray
    }
    val inFiles = parquetFiles(in)
    val totalBytes = inFiles.map(_.getLen).sum
    // target ~ a fifth of the table → ~5-6 bins
    val manifest = graft.operators.Scale
      .compactSmallFiles(spark, in, out, totalBytes / 5).collect()
    val outFiles = parquetFiles(out)
    assert(outFiles.length === manifest.length,
      s"expected one output file per bin: ${outFiles.length} files vs ${manifest.length} bins")
    assert(outFiles.length < inFiles.length, "compaction did not reduce file count")
    assert(manifest.map(_.getAs[Long]("n_files_in")).sum === inFiles.length.toLong)
    // content identical as a multiset
    val a = src.collect().map(_.toString).sorted
    val b = spark.read.parquet(out).select($"doc_id", $"source", $"n_chars")
      .collect().map(_.toString).sorted
    assert(a === b, "compacted table lost or altered rows")
  }

  test("compactSmallFiles: URI-hostile file names (space, %) keep their rows") {
    import spark.implicits._
    val in = java.nio.file.Files.createTempDirectory("graft-compact-uri").toString
    val out = java.nio.file.Files.createTempDirectory("graft-compact-uri-out").toString
    val tmp = java.nio.file.Files.createTempDirectory("graft-compact-tmp").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val fs = new org.apache.hadoop.fs.Path(in)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val src = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
      .filter(_.getPath.getName.endsWith(".parquet")).head.getPath
    // input_file_name() URI-encodes these; a raw-name join would silently
    // drop both files' rows (the round-5 advisory)
    Seq("has space.parquet", "pct%41.parquet").foreach { name =>
      org.apache.hadoop.fs.FileUtil.copy(fs, src, fs,
        new org.apache.hadoop.fs.Path(in, name), false,
        spark.sessionState.newHadoopConf())
    }
    // the internal require would throw on any dropped row; assert anyway
    graft.operators.Scale.compactSmallFiles(spark, in, out, 1L << 20)
    assert(spark.read.parquet(out).count() === 4L)
  }

  test("withGlobalRank == collect-sort rank for any partition count " +
    "(incl. empty range partitions); ntileFromRank == SQL-standard ntile") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val rnd = new scala.util.Random(0x5EED)
    // duplicate-heavy values force the tie-break columns to matter
    val data = (0L until 97L).map(id => (rnd.nextInt(12).toLong, id))
    val expect = data.sortBy { case (v, id) => (v, id) }
      .zipWithIndex.map { case ((v, id), i) => (v, id, i + 1L, 97L) }
    for (parts <- Seq(1, 3, 8, 200)) { // 200 > n: some partitions empty
      val got = graft.operators.Scale.withGlobalRank(
        data.toDF("v", "id"), "rk", "n", Seq(col("v"), col("id")), parts)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(t => (t._1, t._2))
      assert(got.toSeq === expect, s"rank diverged at numParts=$parts")
    }
    // empty input: zero rows out, no exception
    assert(graft.operators.Scale.withGlobalRank(
      Seq.empty[(Long, Long)].toDF("v", "id"), "rk", "n",
      Seq(col("v"), col("id")), 4).collect().isEmpty)
    // ntile reference: first n%k buckets take n/k+1 rows
    def ntileRef(rank: Long, n: Long, k: Int): Int = {
      val (base, rem) = (n / k, n % k)
      val r0 = rank - 1
      if (r0 < rem * (base + 1)) (r0 / (base + 1) + 1).toInt
      else (rem + (r0 - rem * (base + 1)) / math.max(base, 1L) + 1).toInt
    }
    for (n <- Seq(1L, 4L, 5L, 7L, 97L); k <- Seq(3, 5, 10)) {
      val got = spark.range(1, n + 1)
        .select(graft.operators.Scale.ntileFromRank(col("id"), lit(n), k).as("t"))
        .collect().map(_.getInt(0))
      val want = (1L to n).map(r => ntileRef(r, n, k))
      assert(got.toSeq === want, s"ntile($k) over n=$n")
      // spark's own ntile agrees (single partition, small n)
      val sparkNtile = spark.range(1, n + 1)
        .select(org.apache.spark.sql.functions.ntile(k).over(
          org.apache.spark.sql.expressions.Window.orderBy(col("id"))).as("t"))
        .collect().map(_.getInt(0))
      assert(got.toSeq === sparkNtile.toSeq, s"diverges from Spark ntile($k) n=$n")
    }
  }

  test("withGlobalCumsum / withGlobalPrefixMax boundary pinning: correct " +
    "when the range sampler SUBSAMPLES (large input, AQE off — the gate's " +
    "sf0.1 sweep shape that caught the unpinned two-exchange form)") {
    // A range exchange samples boundaries with an RDD-id-derived seed; two
    // unshared exchange instances can draw different boundaries when the
    // input is large enough that sampling actually subsamples (~100 rows
    // per output partition). 20k distinct keys >> capacity at numParts=8,
    // and AQE off removes the stage-reuse masking. The helper's lazy
    // checkpoint must pin ONE boundary set for both branches.
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val rnd = new scala.util.Random(0xB04D)
      val data = rnd.shuffle((0L until 20000L).toList).map(k => (k, k % 17))
      val expect = data.sortBy(_._1).map(_._2).scanLeft(0L)(_ + _).tail
      val got = graft.operators.Scale.withGlobalCumsum(
        data.toDF("k", "v"), Seq(col("k")), Seq("v" -> "cum"), 8)
        .orderBy(col("k")).select(col("cum"))
        .collect().map(_.getLong(0))
      assert(got.toSeq === expect,
        "cumsum diverged under subsampled range boundaries")
      val gotPm = graft.operators.Scale.withGlobalPrefixMax(
        data.toDF("k", "v"), Seq(col("k")), "v", "pm", 8)
        .orderBy(col("k")).select(col("pm"))
        .collect().map(_.getLong(0))
      val expPm = data.sortBy(_._1).map(_._2)
        .scanLeft(Long.MinValue)(math.max).init
      assert(gotPm.toSeq === expPm,
        "prefix max diverged under subsampled range boundaries")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("withGlobalCumsum == unpartitioned running sum for any partition " +
    "count (incl. empty range partitions), multi-column") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(0xCADA)
    // distinct keys (the documented total-order contract), two sum columns
    val data = rnd.shuffle((0L until 83L).toList)
      .map(k => (k, rnd.nextInt(100).toLong, rnd.nextInt(7).toLong - 3L))
    val sorted = data.sortBy(_._1)
    val expA = sorted.map(_._2).scanLeft(0L)(_ + _).tail
    val expB = sorted.map(_._3).scanLeft(0L)(_ + _).tail
    val expect = sorted.lazyZip(expA).lazyZip(expB)
      .map { case ((k, a, b), ca, cb) => (k, a, b, ca, cb) }
    for (parts <- Seq(1, 3, 8, 200)) { // 200 > n: some partitions empty
      val got = graft.operators.Scale.withGlobalCumsum(
        data.toDF("k", "a", "b"), Seq(col("k")),
        Seq("a" -> "cum_a", "b" -> "cum_b"), parts)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))
        .sortBy(_._1)
      assert(got.toSeq === expect, s"cumsum diverged at numParts=$parts")
    }
    // empty input: zero rows out, no exception
    assert(graft.operators.Scale.withGlobalCumsum(
      Seq.empty[(Long, Long, Long)].toDF("k", "a", "b"), Seq(col("k")),
      Seq("a" -> "cum_a", "b" -> "cum_b"), 4).collect().isEmpty)
  }

  test("withGlobalPrefixMax == unpartitioned STRICT prefix max for any " +
    "partition count (incl. empty range partitions)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(0x5EAF)
    val data = rnd.shuffle((0L until 71L).toList)
      .map(k => (k, rnd.nextLong() % 1000L))
    val sorted = data.sortBy(_._1)
    // strict prefix: max over rows BEFORE this one; MinValue identity
    val expect = sorted.map(_._2).scanLeft(Long.MinValue)(math.max)
      .init.zip(sorted).map { case (pm, (k, v)) => (k, v, pm) }
    for (parts <- Seq(1, 3, 8, 200)) {
      val got = graft.operators.Scale.withGlobalPrefixMax(
        data.toDF("k", "v"), Seq(col("k")), "v", "pmax", parts)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1)
      assert(got.toSeq === expect, s"prefix max diverged at numParts=$parts")
    }
    // empty input: zero rows out, no exception
    assert(graft.operators.Scale.withGlobalPrefixMax(
      Seq.empty[(Long, Long)].toDF("k", "v"), Seq(col("k")), "v", "pmax", 4)
      .collect().isEmpty)
  }

  test("skyline2d survivors are exactly the undominated parts " +
    "(brute-force dominance check at sf0.001)") {
    import spark.implicits._
    val all = graft.Tables.part(spark, Sf0001)
      .select($"p_partkey", $"p_retailprice", $"p_size")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
    def dominated(p: (Long, Double, Int)) = all.exists { q =>
      q._2 <= p._2 && q._3 >= p._3 && (q._2 < p._2 || q._3 > p._3)
    }
    val want = all.filterNot(dominated).map(_._1).toSet
    val got = graft.operators.Scale.skyline2d(spark, Sf0001)
      .select($"p_partkey").collect().map(_.getLong(0)).toSet
    assert(got === want,
      s"skyline mismatch: extra=${got -- want}, missing=${want -- got}")
    assert(got.nonEmpty, "degenerate fixture: empty skyline")
  }

  test("rendezvousAssign: growing 8 -> 9 shards moves ONLY the docs the " +
    "new shard wins (minimal-movement law)") {
    import spark.implicits._
    val ids = (0L until 500L).toDF("doc_id")
    def assign(n: Int): Map[Long, Int] =
      graft.operators.Scale.rendezvousAssign(ids, "doc_id", n)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val a8 = assign(8)
    val a9 = assign(9)
    assert(a8.values.toSet.subsetOf((0 until 8).toSet))
    var moved = 0
    (0L until 500L).foreach { id =>
      if (a9(id) != a8(id)) {
        assert(a9(id) === 8,
          s"doc $id moved $a8($id) -> ${a9(id)} without the new shard winning")
        moved += 1
      }
    }
    // expected movement ≈ 500/9 ≈ 56; allow a wide deterministic band
    assert(moved > 20 && moved < 120, s"implausible movement count $moved")
    // scalar recount of the argmax for a few ids (independent md5 fold)
    def md5Long(s: String): Long =
      java.lang.Long.parseLong(
        java.security.MessageDigest.getInstance("MD5")
          .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
          .take(15), 16)
    (0L until 20L).foreach { id =>
      val want = (0 until 8).maxBy(s => (md5Long(s"rv:$s:$id"), -s))
      assert(a8(id) === want, s"doc $id: spark ${a8(id)} != scalar $want")
    }
  }

  test("z_order2 matches hand-computed Morton vectors") {
    import graft.functions.ZOrder2
    // interleave(x, y): x even bits, y odd bits
    assert(ZOrder2.interleave(0L, 0L) == 0L)
    assert(ZOrder2.interleave(1L, 0L) == 1L)
    assert(ZOrder2.interleave(0L, 1L) == 2L)
    assert(ZOrder2.interleave(1L, 1L) == 3L)
    assert(ZOrder2.interleave(2L, 2L) == 12L)
    assert(ZOrder2.interleave(7L, 0L) == 21L)        // 0b010101
    assert(ZOrder2.interleave(0L, 7L) == 42L)        // 0b101010
    assert(ZOrder2.interleave(0xFFFFFFFFL, 0xFFFFFFFFL) == -1L) // all 64 bits set
    // spread is exact on the full 32-bit domain boundary
    assert(ZOrder2.spread(0x80000000L) == 0x4000000000000000L)
    // out-of-range keys raise instead of silently aliasing onto the
    // low 32 bits (which would destroy clustering with no signal)
    intercept[IllegalArgumentException](ZOrder2.interleave(0x100000000L, 0L))
    intercept[IllegalArgumentException](ZOrder2.interleave(0L, -1L))
  }

  test("z-ordered layout: each file covers a small rectangle in BOTH key dims") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft-zorder").toString
    // Uniform 64×64 grid — equal bit-widths, where z-ordering must bound
    // BOTH dimensions per file (a single-key sort bounds one and leaves
    // the other full-range; that contrast is the point of the layout).
    val grid = spark.range(4096)
      .select(($"id" % 64).as("x"), ($"id" / 64).cast("long").as("y"))
    Scale.writeZOrdered(grid, path, "x", "y", numFiles = 8)
    val back = spark.read.parquet(path)
    assert(back.count() === 4096L) // round-trip: no loss, no dup
    val boxes = back
      .withColumn("f", input_file_name())
      .groupBy($"f")
      .agg(min($"x").as("x0"), max($"x").as("x1"),
        min($"y").as("y0"), max($"y").as("y1"))
      .collect()
    assert(boxes.length > 2, "needs several files for a meaningful check")
    val avgX = boxes.map(b => (b.getLong(2) - b.getLong(1) + 1) / 64.0).sum / boxes.length
    val avgY = boxes.map(b => (b.getLong(4) - b.getLong(3) + 1) / 64.0).sum / boxes.length
    // 8 contiguous z-ranges over a uniform 64×64 grid → per-file bounding
    // boxes around 1/2 × 1/4 of each axis (curve-boundary slop allowed);
    // a sort on x alone would leave avgY ≈ 1.0.
    assert(avgX <= 0.75 && avgY <= 0.75,
      f"z-order boxes too wide: avgX=$avgX%.2f avgY=$avgY%.2f")
  }

  test("hilbert layout: round-trips, bounds both dims, and cuts tighter " +
    "boxes than morton on unaligned segments") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft-hilbert").toString
    val grid = spark.range(4096)
      .select(($"id" % 64).as("x"), ($"id" / 64).cast("long").as("y"))
    Scale.writeHilbertOrdered(grid, path, "x", "y", numFiles = 8)
    val back = spark.read.parquet(path)
    assert(back.count() === 4096L)
    val boxes = back
      .withColumn("f", input_file_name())
      .groupBy($"f")
      .agg(min($"x").as("x0"), max($"x").as("x1"),
        min($"y").as("y0"), max($"y").as("y1"))
      .collect()
    assert(boxes.length > 2, "needs several files for a meaningful check")
    val avgX = boxes.map(b => (b.getLong(2) - b.getLong(1) + 1) / 64.0).sum / boxes.length
    val avgY = boxes.map(b => (b.getLong(4) - b.getLong(3) + 1) / 64.0).sum / boxes.length
    assert(avgX <= 0.75 && avgY <= 0.75,
      f"hilbert boxes too wide: avgX=$avgX%.2f avgY=$avgY%.2f")
    // The Hilbert CLAIM vs morton, pinned deterministically (no file or
    // sampling nondeterminism): split the same uniform grid into 10
    // UNALIGNED contiguous key ranges — power-of-two seams make morton
    // segments straddle distant quadrants while the never-jumping hilbert
    // walk stays local, so summed bounding-box area must be smaller.
    val cells = for { x <- 0 until 256; y <- 0 until 256 } yield (x, y)
    def boxArea(key: (Int, Int) => Long): Long = {
      val sorted = cells.sortBy { case (x, y) => key(x, y) }
      val per = (sorted.size + 9) / 10
      sorted.grouped(per).map { g =>
        (g.map(_._1).max - g.map(_._1).min + 1).toLong *
          (g.map(_._2).max - g.map(_._2).min + 1).toLong
      }.sum
    }
    val hil = boxArea((x, y) => graft.functions.Hilbert2.xy2d(x.toLong, y.toLong))
    val mor = boxArea((x, y) => graft.functions.ZOrder2.interleave(x.toLong, y.toLong))
    assert(hil < mor, s"hilbert box area $hil not tighter than morton $mor")
  }

  test("join_size_estimate: CMS inner product never undercounts; sketch " +
    "sides partial-aggregate") {
    val r = Scale.joinSizeEstimate(spark, Sf0001).head()
    val (est, exact) = (r.getAs[Long]("est_rows"), r.getAs[Long]("exact_rows"))
    assert(exact > 0)
    // the CMS guarantee: collisions only inflate the inner product
    assert(est >= exact, s"estimate $est undercounts exact $exact")
    assert(r.getAs[Long]("overcount") === est - exact)
    val p = Scale.joinSizeEstimate(spark, Sf0001)
      .queryExecution.executedPlan.toString
    assert(p.contains("partial_cms_sketch"),
      s"sketch aggregation lost its map-side combine:\n$p")
  }

  test("clustered layouts PRUNE: range predicates on either key read fewer " +
    "row groups than the unsorted layout (scan-metric proof)") {
    import spark.implicits._
    // rows actually READ by the parquet scan = rows in surviving row
    // groups: record-level parquet filtering is off by default, so every
    // row of every row group the footer stats could NOT skip is emitted
    // by the scan node and counted by its numOutputRows metric — the
    // direct measurement of row-group skipping that parquetStatsAudit's
    // footer check only implies.
    def rowsRead(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      val scans = df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numOutputRows").value
      }
      assert(scans.nonEmpty, "no parquet scan node found")
      scans.sum
    }
    val n = 65536L // 256×256 uniform grid
    val grid = spark.range(n)
      .select(($"id" % 256).as("x"), ($"id" / 256).cast("long").as("y"))
    // deterministic scramble so the baseline layout is genuinely unclustered
    val scrambled = grid.orderBy(md5(concat_ws(",", $"x", $"y")))
    val base = java.nio.file.Files.createTempDirectory("graft-prune").toString
    // small parquet blocks → MANY row groups per file, so the assertion
    // exercises row-group granularity, not just whole-file pruning
    val hc = spark.sparkContext.hadoopConfiguration
    val prevBlock = hc.get("parquet.block.size")
    hc.setInt("parquet.block.size", 32 * 1024)
    try {
      scrambled.repartition(4).write.mode("overwrite")
        .parquet(s"$base/unsorted")
      Scale.writeZOrdered(grid, s"$base/zorder", "x", "y", numFiles = 4)
      Scale.writeHilbertOrdered(grid, s"$base/hilbert", "x", "y", numFiles = 4)
    } finally {
      if (prevBlock == null) hc.unset("parquet.block.size")
      else hc.set("parquet.block.size", prevBlock)
    }
    for (key <- Seq("x", "y"); layout <- Seq("zorder", "hilbert")) {
      val pred = col(key) >= 16L && col(key) <= 31L // 1/16 of the domain
      val flat = spark.read.parquet(s"$base/unsorted").where(pred)
      val clus = spark.read.parquet(s"$base/$layout").where(pred)
      // same answer first (pruning must be lossless) ...
      assert(clus.count() === flat.count(),
        s"$layout/$key: pruned scan changed the result")
      val (flatRead, clusRead) = (rowsRead(flat), rowsRead(clus))
      // ... the unclustered layout can skip (almost) nothing: every row
      // group spans the full key range
      assert(flatRead > n * 9 / 10,
        s"unsorted baseline unexpectedly pruned: read $flatRead of $n")
      // ... and the clustered layout must skip most row groups on BOTH
      // axes (the 1/16-domain predicate selects 4096 rows; ≤40% read
      // allows curve-boundary + row-group-boundary slop)
      assert(clusRead * 5 <= flatRead * 2,
        s"$layout/$key read $clusRead rows vs unsorted $flatRead — " +
          "row-group skipping is not engaging on the clustered layout")
    }
  }

  test("partition_advisor: verdicts follow the thresholds; row totals agree") {
    val rows = Scale.partitionAdvisor(spark, Sf0001).collect()
    assert(rows.length === 3)
    val total = Tables.events(spark, Sf0001).count()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_rows") === total)
      val (parts, skew) = (r.getAs[Long]("n_parts"), r.getAs[Double]("skew_ratio"))
      val expected =
        if (parts < 8) "too_few"
        else if (parts > 100000) "too_many"
        else if (skew > 4.0) "skewed"
        else "ok"
      assert(r.getAs[String]("verdict") === expected)
      assert(skew >= 1.0) // max >= avg always
    }
  }
}
