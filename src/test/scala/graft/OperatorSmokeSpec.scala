package graft

import graft.operators._

/** Smoke coverage: every declared query runs on sf0.001 and returns a
  * sane, deterministic result (rerun-identical). The exact value checks
  * live in the DuckDB oracle gate (Verify + driver t2); these specs guard
  * the operator surface itself. */
class OperatorSmokeSpec extends SparkSpecBase {

  // Pair queries may legitimately be (near-)empty at sf0.001.
  private val mayBeEmpty = Set("minhash_dedup_pairs", "simhash_neardup_pairs",
    "embedding_neardup", "dedup_ensemble", "minhash_calibration")

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"query $name runs on sf0.001" + (if (mayBeEmpty(name)) " (pairs)" else "")) {
      val df = fn(spark, Sf0001)
      val n = df.count()
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned no rows")
      // deterministic rerun: same row multiset
      assert(fn(spark, Sf0001).count() === n)
    }
  }

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("ann_multiprobe dominates single-bucket LSH search rank-for-rank") {
    // multi-probe scans a strict superset of the single-bucket candidates,
    // so its rank-i score can never be worse
    val single = graft.operators.Similarity.annLshSearch(spark, Sf0001)
      .collect().map(_.getAs[Double]("score"))
    val multi = graft.operators.Similarity.annMultiprobe(spark, Sf0001)
      .collect().map(_.getAs[Double]("score"))
    single.zip(multi).foreach { case (s, m) =>
      assert(m >= s, s"multiprobe rank score $m < single-bucket $s")
    }
  }

  test("distinct_users_approx: band booleans true and exact side matches distinct_users") {
    // the band check is now IN the query output (oracled against literal
    // true); here we additionally pin that the exact columns agree with
    // the independent distinct_users implementation
    val rows = graft.operators.Relational.distinctUsersApprox(spark, Sf0001)
      .collect()
    val exact = graft.operators.Relational.distinctUsers(spark, Sf0001)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.map(_.getString(0)).toSet === exact.keySet)
    rows.foreach { r =>
      assert(r.getLong(1) === exact(r.getString(0)),
        s"${r.getString(0)}: n_users disagrees with distinct_users")
      assert(r.getBoolean(3), s"${r.getString(0)}: users estimate out of band")
      assert(r.getBoolean(4), s"${r.getString(0)}: events estimate out of band")
    }
  }

  test("split_leakage: matrix conserves the pair set; cross flags match cells") {
    val cells = graft.operators.DocDedup.splitLeakage(spark, Sf0001)
      .collect().map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getInt(4))))
    val totalPairs = graft.operators.DocDedup.simhashNearDupPairs(spark, Sf0001).count()
    assert(cells.map(_._2._1).sum === totalPairs,
      "leakage matrix must partition the full candidate pair set")
    cells.foreach { case ((a, b), (_, cross)) =>
      assert(cross === (if (a != b) 1 else 0), s"cross flag wrong for ($a,$b)")
    }
  }

  test("cluster_split: zero cross-split near-dup pairs by construction") {
    import org.apache.spark.sql.functions.{col, md5, concat, substring, lit, when}
    // rebuild each doc's cluster-derived split and check every candidate
    // pair lands in ONE split — the guarantee split_leakage shows doc-hash
    // splitting lacks
    val b = graft.functions.md5_long(col("cluster_id").cast("string"), 15) % 100
    val docSplit = graft.operators.DocDedup.dedupClusters(spark, Sf0001)
      .select(col("doc_id"),
        when(b < 80, "train").when(b < 90, "val").otherwise("test").as("split"))
    val pairs = graft.operators.DocDedup.simhashNearDupPairs(spark, Sf0001)
      .select(col("doc_a"), col("doc_b"))
    val crossed = pairs
      .join(docSplit.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("split", "sa"), "doc_a")
      .join(docSplit.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("split", "sb"), "doc_b")
      .where(col("sa") =!= col("sb")).count()
    assert(crossed === 0L, s"$crossed near-dup pairs cross cluster splits")
    // and the assignment still covers every document exactly once
    assert(docSplit.count() ===
      spark.read.parquet(s"$Sf0001/documents.parquet").count())
  }

  test("cms_calibration: estimates never under-count (CMS structural bound)") {
    val rows = graft.operators.TextAnalysis.cmsCalibration(spark, Sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (tok, exact, est, over) =>
      assert(est >= exact, s"CMS under-counted '$tok': $est < $exact")
      assert(over === est - exact, s"overest column inconsistent for '$tok'")
    }
  }

  test("token_budget: allocations bounded by supply and budget, " +
    "waterfilling leaves less than one share unspent") {
    val B = 1000000L
    val rows = graft.operators.CorpusOps.tokenBudget(spark, Sf0001, B)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (s, avail, alloc, _) =>
      assert(alloc >= 0 && alloc <= avail, s"source $s over-allocated")
    }
    val total = rows.map(_._3).sum
    assert(total <= B, s"budget exceeded: $total > $B")
    val leftover = B - total
    val allSaturated = rows.forall { case (_, avail, alloc, _) => alloc == avail }
    // 2-round waterfilling contract: either supply ran out, or the
    // unspent remainder is below one per-source share (div truncation)
    assert(allSaturated || leftover < rows.length.toLong * 2,
      s"implausible leftover $leftover over ${rows.length} sources")
  }

  test("corpus_pipeline: funnel counts are monotone and consistent with " +
    "the standalone stages") {
    val r = graft.operators.CorpusOps.corpusPipeline(spark, Sf0001).head()
    val Seq(nDocs, nTok, nQ, tokQ, nE, tokE, nC, tokC) =
      (0 until 8).map(r.getLong)
    assert(nDocs > 0 && nTok > 0)
    assert(nDocs >= nQ && nQ >= nE && nE >= nC && nC > 0,
      s"doc funnel not monotone: $nDocs >= $nQ >= $nE >= $nC")
    assert(nTok >= tokQ && tokQ >= tokE && tokE >= tokC && tokC > 0,
      s"token funnel not monotone: $nTok >= $tokQ >= $tokE >= $tokC")
    // stage 1 must agree with quality_ensemble's all-clear cell
    val clear = graft.operators.TextAnalysis.qualityEnsemble(spark, Sf0001)
      .collect()
      .find(x => x.getInt(0) == 0 && x.getInt(1) == 0 && x.getInt(2) == 0)
      .map(_.getLong(3)).getOrElse(0L)
    assert(nQ === clear,
      s"quality survivors $nQ != ensemble all-clear cell $clear")
  }

  test("linear_attribution: credit conserves total purchase revenue up " +
    "to integer-division truncation") {
    import org.apache.spark.sql.functions.{col, expr, sum => fsum}
    val rows = graft.operators.Relational
      .linearAttribution(spark, Sf0001).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(rows.keySet === Set("view", "click", "none"))
    val ev = spark.read.parquet(s"$Sf0001/events.parquet")
      .where(col("event_type") === "purchase")
    val totalCents = ev
      .agg(fsum(expr("cast(cast(value as decimal(18,2)) * 100 as bigint)")))
      .head().getLong(0)
    val nPurch = ev.count()
    val creditTotal = rows.values.map(_._2).sum
    val loss = totalCents * 1048576L - creditTotal
    // each credited purchase truncates two integer divisions, each losing
    // strictly less than one 2^-20 unit
    assert(loss >= 0 && loss < 2L * nPurch,
      s"credit not conserved: total=${totalCents * 1048576L} " +
        s"credited=$creditTotal loss=$loss purchases=$nPurch")
  }

  test("quantize_recall_eval: 8 probes, hits bounded by k, int8 recall " +
    "high at this dimensionality") {
    val rows = graft.operators.Similarity
      .quantizeRecallEval(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.map(_._1).toSeq === (0L until 8L))
    rows.foreach { case (p, hits, recall) =>
      assert(hits >= 0 && hits <= 5, s"probe $p hits=$hits out of range")
      assert(recall === hits.toDouble / 5.0)
    }
    // int8 over 64 dims loses little ranking signal: mean recall@5 well
    // above chance (structural, not a tuned threshold)
    val mean = rows.map(_._3).sum / rows.length
    assert(mean >= 0.5, s"implausibly low int8 recall $mean")
  }

  test("contrastive_negatives: wrong-class only, scores descend, exact " +
    "top-3 vs a scalar recount") {
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet(s"$Sf0001/embeddings.parquet")
      .select(col("vec_id"), col("label"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).toArray))
    val labels = emb.map(t => t._1 -> t._2).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var (d, na, nb) = (0.0, 0.0, 0.0)
      // ascending-d left fold — the house dot-product order
      (0 until a.length).foreach { i =>
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val rows = graft.operators.Similarity
      .contrastiveNegatives(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3),
        r.getDouble(4)))
    assert(rows.length === 8 * 3)
    rows.foreach { case (p, _, _, negLabel, _) =>
      assert(negLabel !== labels(p), s"probe $p mined a same-class negative")
    }
    val byProbe = emb.filter(_._1 < 8).map { case (pid, plabel, pe) =>
      val want = emb.filter(_._2 != plabel)
        .map { case (id, l, e) => (id, l, cos(e, pe)) }
        .sortBy { case (id, _, s) => (-s, id) }.take(3)
      val got = rows.filter(_._1 == pid).sortBy(_._2)
        .map { case (_, _, id, l, s) => (id, l, s) }.toSeq
      assert(got === want.toSeq, s"probe $pid top-3 mismatch")
    }
  }

  test("exact_median: ranked quantiles match a scalar full sort") {
    import org.apache.spark.sql.functions.col
    val cents = spark.read.parquet(s"$Sf0001/lineitem.parquet")
      .select(col("l_extendedprice").cast("decimal(18,2)").multiply(100)
        .cast("long").as("c"), col("l_orderkey"), col("l_linenumber"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .sortBy(t => (t._1, t._2, t._3)).map(_._1)
    val n = cents.length
    val row = graft.operators.Relational.exactMedian(spark, Sf0001).head()
    assert(row.getLong(0) === n.toLong)
    assert(row.getLong(1) === cents(((n + 3) / 4) - 1))
    assert(row.getLong(2) ===
      cents(((n + 1) / 2) - 1) + cents((n / 2 + 1) - 1))
    assert(row.getLong(3) === cents(((3 * n + 3) / 4) - 1))
  }

  test("exact_median: empty input yields zero rows (oracle GROUP BY shape)") {
    import org.apache.spark.sql.functions.col
    val empty = spark.read.parquet(s"$Sf0001/lineitem.parquet")
      .select(col("l_extendedprice").cast("decimal(18,2)").multiply(100)
        .cast("long").as("cents"), col("l_orderkey"), col("l_linenumber"))
      .where(col("cents") < 0) // fixture prices are positive → empty frame
    assert(empty.count() === 0L, "guard precondition: frame must be empty")
    val out = graft.operators.Relational.exactMedianOfCents(spark, empty)
    assert(out.count() === 0L,
      "empty input must produce zero rows, matching the oracle's GROUP BY")
  }

  test("linear_attribution: a negative-cents purchase fails loudly") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, to_timestamp}
    val ev = Seq(
      (1L, "2024-01-01 10:00:00", 7L, "purchase", -5.00, ""),
      (2L, "2024-01-01 09:30:00", 7L, "view", 0.0, ""))
      .toDF("event_id", "ts_s", "user_id", "event_type", "value", "props")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
    val ex = intercept[Exception] {
      graft.operators.Relational.linearAttributionOfEvents(spark, ev).collect()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(ex).exists(_.contains("negative purchase cents")),
      s"expected the contract raise_error, got: ${chain(ex).mkString(" | ")}")
  }

  test("pq_codes: codebook rows self-code with zero quantization error") {
    val rows = Similarity.pqCodes(spark, Sf0001).collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1).split('-').toSeq.map(_.toLong), r.getLong(2)))).toMap
    rows.foreach { case (_, (codes, _)) =>
      assert(codes.length === 8)
      assert(codes.forall(c => c >= 0 && c < 16), s"code out of range: $codes")
    }
    // a centroid vector's subspace distance to itself is exactly 0, so it
    // must code to a zero-distance centroid in every subspace
    (0L until 16L).foreach { cid =>
      assert(rows(cid)._2 === 0L, s"centroid $cid has nonzero err_u20")
    }
  }

  test("pq_search: ADC distances recount exactly from codes + probe LUT") {
    import org.apache.spark.sql.functions.col
    // scalar recount: rebuild the M×16 LUT from raw vectors, score every
    // doc by its pq_codes, and the top-5 must match pq_search bit-for-bit
    val emb = spark.read.parquet(s"$Sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val probe = emb(0L)
    val cents = (0L until 16L).map(emb).toArray
    def subDist(m: Int, a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0
      (0 until 8).foreach { d =>
        val diff = a(m * 8 + d).toDouble - b(m * 8 + d).toDouble
        s += diff * diff
      }
      s
    }
    val lut = Array.tabulate(8, 16)((m, c) =>
      math.floor(subDist(m, probe, cents(c)) * 1048576.0 + 0.5).toLong)
    val codes = Similarity.pqCodes(spark, Sf0001).collect()
      .map(r => r.getLong(0) -> r.getString(1).split('-').toSeq.map(_.toLong))
      .toMap
    val expect = codes.view.filterKeys(_ != 0L).toSeq
      .map { case (id, cs) =>
        (id, cs.zipWithIndex.map { case (c, m) => lut(m)(c.toInt) }.sum)
      }
      .sortBy { case (id, adc) => (adc, id) }.take(5)
    val got = Similarity.pqSearch(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(got === expect)
  }

  test("snapshot_diff recovers exactly the injected change feed") {
    import org.apache.spark.sql.functions.col
    val diff = Relational.snapshotDiff(spark, Sf0001).collect()
    val keys = Tables.customer(spark, Sf0001)
      .select(col("c_custkey")).collect().map(_.getLong(0))
    // expected per the deterministic perturbation: %97 keys insert,
    // %89 (and not %97) delete, %13 (surviving both filters) update
    val expect = keys.flatMap { k =>
      if (k % 97 == 0 && k % 89 == 0) None // in neither snapshot
      else if (k % 97 == 0) Some(k -> "I")
      else if (k % 89 == 0) Some(k -> "D")
      else if (k % 13 == 0) Some(k -> "U")
      else None
    }.toMap
    assert(diff.map(r => r.getLong(0) -> r.getString(1)).toMap === expect)
    diff.foreach { r =>
      r.getString(1) match {
        case "I" => assert(r.isNullAt(2) && !r.isNullAt(3))
        case "D" => assert(!r.isNullAt(2) && r.isNullAt(3))
        case "U" => assert(r.getDouble(2) != r.getDouble(3))
      }
    }
  }

  test("every query has an oracle") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"queries without oracle: $missing")
    val orphaned = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphaned.isEmpty, s"oracles without query: $orphaned")
  }

  test("custom partitioner: CUSTOM key override routes to partition 0") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq("CUSTOM", "alice", "bob").toDF("key")
      .withColumn("part_id",
        when($"key" === "CUSTOM", lit(0L))
          .otherwise(pmod(graft.functions.fnv1a32($"key"), lit(8L))))
    val m = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m("CUSTOM") === 0L)
    assert(m.values.forall(p => p >= 0 && p < 8))
  }

  test("PPM decoder: real byte-level parse, header-sized raster, poison pills") {
    import Multimodal.{ImageFeatures, PpmDecoder}
    // hand-built 2x1 P6 with a header comment, arbitrary (non-ASCII) bytes,
    // and trailing garbage the decoder must ignore
    val img = "P6\n# c\n2 1\n255\n".getBytes("US-ASCII") ++
      Array[Byte](0, 127, -1, 10, 20, 30) ++ "trailing!".getBytes("US-ASCII")
    assert(PpmDecoder.decode(7L, img) ===
      ImageFeatures(7L, ok = true, 2, 1, 255, 2, 0L + 10L, 127L + 20L, 255L + 30L))
    // poison pills: wrong magic, truncated raster, 16-bit maxval
    assert(!PpmDecoder.decode(1L, "P5\n2 1\n255\nxxxxxx".getBytes).ok)
    assert(!PpmDecoder.decode(2L, "P6\n2 1\n255\nxxx".getBytes).ok)
    assert(!PpmDecoder.decode(3L, ("P6\n1 1\n65535\n" + "x" * 6).getBytes).ok)
  }

  test("media decode: synthetic PPM payloads decode ok through mapPartitions") {
    val feats = Multimodal.decodeFeatures(Multimodal.ppmRecords(spark, Sf0001))
      .collect()
    assert(feats.nonEmpty && feats.forall(_.ok))
    feats.foreach { f =>
      assert(f.n_pixels === f.width * f.height && f.maxval === 255)
      assert(f.sum_r <= 95L * f.n_pixels && f.sum_r >= 32L * f.n_pixels)
    }
  }

  test("media_dedup: byte-distinct payloads collapse by perceptual dHash; " +
      "brute recount from the splice formula") {
    val rows = Multimodal.mediaDedup(spark, Sf0001).collect()
    val nDocs = graft.Tables.documents(spark, Sf0001).count()
    // every doc lands in exactly one cluster, and NO payload was a byte
    // dup (trailing text differs) — the collapse is purely perceptual
    assert(rows.map(_.getAs[Long]("n_copies")).sum === nDocs)
    assert(rows.map(_.getAs[Long]("n_distinct_payloads")).sum === nDocs)
    assert(rows.exists(_.getAs[Long]("n_copies") > 1L),
      "fixture must contain at least one perceptual cluster")
    // independent dHash reimplementation straight from the splice formula
    // (pixel j byte = 32 + (d*31 + j*7) % 64; channel = j%3, pixel = j/3)
    def bruteDhash(d: Long): (Int, Int, Long) = {
      val w = 2 + (d % 3).toInt; val h = 1 + (d % 2).toInt
      val s = Array.ofDim[Long](3, 4); val c = new Array[Long](4)
      for (k <- 0 until w * h) {
        val cell = (2 * (k / w) / h) * 2 + (2 * (k % w) / w)
        c(cell) += 1
        for (ch <- 0 until 3)
          s(ch)(cell) += 32 + ((d * 31 + (3 * k + ch) * 7) % 64)
      }
      val pairs = Seq((0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3))
      var bits = 0L
      for (ch <- 0 until 3; (p, pi) <- pairs.zipWithIndex) {
        if (s(ch)(p._1) * c(p._2) > s(ch)(p._2) * c(p._1))
          bits |= 1L << (ch * 6 + pi)
      }
      (w, h, bits)
    }
    val brute = (0L until nDocs).groupBy(bruteDhash)
      .map { case (k, ds) => k -> (ds.min, ds.size.toLong) }
    assert(rows.length === brute.size)
    rows.foreach { r =>
      val k = (r.getAs[Int]("width"), r.getAs[Int]("height"),
        r.getAs[Long]("dhash"))
      assert(brute(k) === ((r.getAs[Long]("keeper_doc_id"),
        r.getAs[Long]("n_copies"))))
    }
  }

  test("dhash2x2: trailing-text-only change shares the signature; a " +
      "one-pixel raster change flips it") {
    import Multimodal.PpmDecoder
    // 2x2 raster: each grid cell is exactly one pixel. Red channel means
    // 10/20/30/40 give a strict cell ordering every pair compares on.
    def ppm(px: Array[Int], trailing: String): Array[Byte] =
      "P6\n2 2\n255\n".getBytes("US-ASCII") ++ px.map(_.toByte) ++
        trailing.getBytes("US-ASCII")
    val raster = Array(
      10, 1, 2,   20, 3, 4,   // row 0: cells 0, 1
      30, 5, 6,   40, 7, 8)   // row 1: cells 2, 3
    val a = ppm(raster, "caption about a cat")
    val b = ppm(raster, "totally different alt text, different length too")
    assert(!java.util.Arrays.equals(a, b), "payloads must be byte-distinct")
    assert(PpmDecoder.dhash2x2(a) === PpmDecoder.dhash2x2(b),
      "trailing bytes after the raster must not reach the dHash")
    // one-pixel change: cell 0's red 10 -> 25 reverses the (0,1) red
    // comparison (10 > 20 false, 25 > 20 true) — the hash must flip
    val flipped = raster.clone(); flipped(0) = 25
    val c = ppm(flipped, "caption about a cat")
    assert(PpmDecoder.dhash2x2(c) !== PpmDecoder.dhash2x2(a),
      "a one-pixel raster change that reorders cell means must flip the hash")
    // and the flip is exactly the (red, pair(0,1)) bit: layout ch*6 + p
    assert((PpmDecoder.dhash2x2(c) ^ PpmDecoder.dhash2x2(a)) === (1L << 0))
  }

  test("media_neardup_pairs: banded join is lossless vs brute-force " +
      "hamming over cluster representatives") {
    val rows = Multimodal.mediaNeardupPairs(spark, Sf0001).collect()
    assert(rows.nonEmpty, "fixture must contain near-dup signature pairs")
    rows.foreach { r =>
      val h = r.getAs[Int]("hamming")
      assert(h >= 1 && h <= 2, s"hamming $h outside the declared radius")
      assert(r.getAs[Long]("keeper_a") < r.getAs[Long]("keeper_b"))
      assert(java.lang.Long.bitCount(
        r.getAs[Long]("dhash_a") ^ r.getAs[Long]("dhash_b")) === h)
    }
    // brute force: every distinct (w, h, dhash) representative pair with
    // hamming in [1, 2] — the 3x6-bit banding must find ALL of them
    // (hamming <= 2 over 3 bands pigeonholes >= 1 band exact)
    val reps = Multimodal.mediaDedup(spark, Sf0001).collect()
      .map(r => (r.getAs[Int]("width"), r.getAs[Int]("height"),
        r.getAs[Long]("dhash"), r.getAs[Long]("keeper_doc_id")))
    val brute = for {
      a <- reps; b <- reps
      if a._1 == b._1 && a._2 == b._2 && a._4 < b._4
      h = java.lang.Long.bitCount(a._3 ^ b._3)
      if h >= 1 && h <= 2
    } yield (a._4, b._4)
    assert(rows.map(r => (r.getAs[Long]("keeper_a"),
      r.getAs[Long]("keeper_b"))).toSet === brute.toSet,
      "banded candidates must equal the brute-force hamming pairs")
  }
}
