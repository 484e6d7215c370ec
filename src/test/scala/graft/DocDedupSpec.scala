package graft

import org.apache.spark.sql.functions._

import graft.operators.DocDedup

/** Connected-components (star contraction) unit coverage — the transitive-
  * closure core behind dedup_clusters, driven with synthetic graphs whose
  * shapes the documents fixture can't produce. */
class DocDedupSpec extends SparkSpecBase {
  import spark.implicits._

  private def cc(pairs: Seq[(Long, Long)]): Map[Long, Long] =
    DocDedup.connectedComponents(pairs.toDF("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("star contraction converges on a deep path graph (diameter >> rounds)") {
    // A 64-node path has eccentricity 63 from the min node: min-label
    // propagation would need 63 rounds; star contraction must finish
    // inside the 16-round cap or the require() in connectedComponents
    // throws. Every node must land on label 0.
    val labels = cc((0L until 63L).map(i => (i, i + 1)))
    assert(labels.size === 64)
    assert(labels.values.toSet === Set(0L))
  }

  test("star contraction separates components and picks min labels") {
    val labels = cc(Seq(
      (5L, 3L), (3L, 9L),          // component {3,5,9}       -> 3
      (100L, 200L),                // component {100,200}     -> 100
      (42L, 42L),                  // self-loop: drops out entirely
      (7L, 8L), (8L, 7L), (7L, 8L) // dup/reversed edges {7,8} -> 7
    ))
    assert(labels === Map(
      3L -> 3L, 5L -> 3L, 9L -> 3L,
      100L -> 100L, 200L -> 100L,
      7L -> 7L, 8L -> 7L))
  }

  test("star contraction on an empty edge set returns an empty labeling") {
    assert(cc(Seq.empty).isEmpty)
  }

  test("star contraction matches union-find on random graphs (fixed seeds)") {
    // independent reference implementation: path-compressing union-find
    def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      parent.keys.map(x => x -> find(x)).toMap
    }
    for (seed <- 1 to 12) {
      val rnd = new scala.util.Random(seed)
      val n = 5 + rnd.nextInt(35)
      val m = 1 + rnd.nextInt(2 * n)
      // sparse ids exercise non-contiguous node spaces
      val pairs = Seq.fill(m)(
        (rnd.nextInt(n).toLong * 17, rnd.nextInt(n).toLong * 17))
        .filter { case (a, b) => a != b }
      val expected = unionFind(pairs)
      assert(cc(pairs) === expected, s"seed $seed: n=$n m=${pairs.length}")
    }
    // one larger instance: sub-critical random graph (m < n/2) leaves many
    // mid-size tree components — the regime real near-dup graphs live in
    val rnd = new scala.util.Random(99)
    val big = Seq.fill(900)((rnd.nextInt(2000).toLong, rnd.nextInt(2000).toLong))
      .filter { case (a, b) => a != b }
    assert(cc(big) === unionFind(big), "2000-node random graph")
  }

  test("dedup_clusters labels agree with pair connectivity on the fixture") {
    val clusters = DocDedup.dedupClusters(spark, Sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = DocDedup.simhashNearDupPairs(spark, Sf0001)
      .select($"doc_a", $"doc_b").collect()
    pairs.foreach { r =>
      assert(clusters(r.getLong(0)) === clusters(r.getLong(1)))
    }
    // singletons keep their own id
    val paired = pairs.flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    clusters.filterNot { case (d, _) => paired(d) }.foreach { case (d, l) =>
      assert(d === l)
    }
  }

  test("incremental cluster merge is row-identical to the batch closure") {
    val batch = DocDedup.dedupClusters(spark, Sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val inc = DocDedup.dedupClustersIncremental(spark, Sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inc === batch)
    // non-vacuous: the standing new-batch slice must contribute pairs,
    // otherwise the merge path under test never ran
    val newPairs = DocDedup.simhashNearDupPairs(spark, Sf0001)
      .where($"doc_a" % 10 === 7 || $"doc_b" % 10 === 7).count()
    assert(newPairs > 0, "fixture has no new-batch pairs; merge untested")
  }

  test("minhash_incremental is minhash_dedup_pairs' split-crossing pairs, " +
      "oriented new -> index") {
    val isNewA = DocDedup.isNewDoc($"doc_a")
    val crossing = DocDedup.minhashDedupPairs(spark, Sf0001)
      .where(isNewA =!= DocDedup.isNewDoc($"doc_b"))
      .select(when(isNewA, $"doc_a").otherwise($"doc_b"),
        when(isNewA, $"doc_b").otherwise($"doc_a"), $"est_jaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val inc = DocDedup.minhashIncremental(spark, Sf0001)
      .select($"new_doc", $"index_doc", $"est_jaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(inc.length === inc.distinct.length, "duplicate incremental rows")
    assert(inc.toSet === crossing)
    assert(crossing.nonEmpty, "no pair crosses the split; the probe is untested")
  }

  test("dedup_threshold_sweep: counts decrease monotonically in the cutoff " +
    "and recount against the calibration pairs") {
    val rows = DocDedup.dedupThresholdSweep(spark, Sf0001).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(rows.map(_._1).toSeq === Seq(4, 8, 12))
    rows.sliding(2).foreach {
      case Array((_, pLo, dLo), (_, pHi, dHi)) =>
        assert(pLo >= pHi, "pair count must fall as the cutoff rises")
        assert(dLo >= dHi, "dropped-doc count must fall as the cutoff rises")
      case _ => ()
    }
    rows.foreach { case (_, p, d) => assert(d <= p, "dropped docs ≤ pairs") }
    // exact recount at cutoff 8/16 from the calibration frame's est
    val est8 = DocDedup.minhashCalibration(spark, Sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4)))
      .filter { case (_, _, estU20) => estU20 >= (1048576L / 2) }
    val at8 = rows.find(_._1 == 8).get
    assert(at8._2 === est8.length.toLong, "pair recount at 8/16")
    assert(at8._3 === est8.map(_._2).distinct.length.toLong, "drop recount")
  }

  test("lsh_scurve: the theory curve is a proper S (0 → 1, non-decreasing) " +
    "and the empirical mass equals the candidate-pair count") {
    val rows = DocDedup.lshScurve(spark, Sf0001).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(rows.map(_._1).toSeq === (0 to 16))
    assert(rows.head._2 === 0L, "p(0) = 0")
    assert(rows.last._2 === 1048576L, "p(1) = 1")
    rows.sliding(2).foreach {
      case Array((_, a, _), (_, b, _)) => assert(a <= b, "non-decreasing")
      case _ => ()
    }
    val nPairs = DocDedup.minhashDedupPairs(spark, Sf0001).count()
    assert(rows.map(_._3).sum === nPairs, "empirical mass = candidate pairs")
  }

  test("cluster_stats histogram is consistent with the cluster labeling") {
    val labels = DocDedup.dedupClusters(spark, Sf0001)
      .collect().map(_.getLong(1))
    val bySize = labels.groupBy(identity).values.map(_.length.toLong)
      .groupBy(identity).map { case (sz, cs) => sz -> cs.size.toLong }
    val rows = DocDedup.clusterStats(spark, Sf0001).collect()
    assert(rows.map(r => r.getLong(0) -> r.getLong(1)).toMap === bySize)
    rows.foreach { r =>
      assert(r.getLong(2) === r.getLong(0) * r.getLong(1), "n_docs")
      assert(r.getLong(3) === (r.getLong(0) - 1) * r.getLong(1), "n_dups_removable")
    }
    assert(rows.map(_.getLong(2)).sum === labels.length, "doc mass conserved")
  }

  test("pair governor: every ladder level's banded join is pigeonhole-lossless " +
      "at its radius (banded == brute force on the fixture)") {
    val docs = DocDedup.simhashDocsMemo(spark, Sf0001)
    val sims = docs.collect().map(r => r.getLong(0) -> r.getLong(1)).toVector
    (0 to 3).foreach { lvl =>
      val radius = 3 - lvl
      val brute = (for {
        (a, sa) <- sims; (b, sb) <- sims
        if a < b && java.lang.Long.bitCount(sa ^ sb) <= radius
      } yield (a, b)).toSet
      val banded = DocDedup.simhashPairsAt(docs, lvl)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(banded === brute, s"level $lvl misses/invents pairs")
    }
  }

  test("pair governor: escalates exactly when projected mass exceeds the budget") {
    val mass = DocDedup.simhashPairMass(DocDedup.simhashDocsMemo(spark, Sf0001))
      .collect().map(r => r.getInt(0) -> r.getLong(3)).toMap
    // fixture masses are small: a generous budget stays at level 0
    assert(DocDedup.chosenSimhashLevel(spark, Sf0001, budget = 1L << 40) === 0)
    // a budget below lvl-0 mass but >= lvl-1 mass escalates exactly one step
    assert(DocDedup.chosenSimhashLevel(spark, Sf0001, budget = mass(0) - 1) === 1)
    // an impossible budget floors at level 3 (exact-dup listing)
    assert(DocDedup.chosenSimhashLevel(spark, Sf0001, budget = 0L) === 3)
  }

  test("pair governor report: chosen row is the loosest within-budget level " +
      "and masses recount from the pair joins") {
    val rows = DocDedup.pairBudgetGovernor(spark, Sf0001).collect()
    assert(rows.map(_.getInt(0)).toSeq === Seq(0, 1, 2, 3))
    val chosen = rows.filter(_.getInt(7) == 1)
    assert(chosen.length === 1)
    val within = rows.filter(_.getInt(6) == 1).map(_.getInt(0))
    assert(chosen.head.getInt(0) === (if (within.nonEmpty) within.min else 3))
    // candidate mass at each level == the within-bucket join's pair count
    // BEFORE the hamming filter (recount via an unfiltered bucket join)
    val sims = DocDedup.simhashDocsMemo(spark, Sf0001).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toVector
    rows.foreach { r =>
      val lvl = r.getInt(0)
      val layout = DocDedup.SimhashBandLayouts.filter(_._1 == lvl)
      val cand = (for {
        (_, k, sh, w) <- layout
        (a, sa) <- sims; (b, sb) <- sims
        if a < b &&
          ((sa >>> sh) % (1L << w)) == ((sb >>> sh) % (1L << w))
      } yield (k, a, b)).size.toLong
      assert(r.getLong(4) === cand, s"level $lvl projected mass")
    }
  }

  test("governor escalation (level >= 1) runs end-to-end in the default gate") {
    // sf0.001/sf0.1 verifies only ever exercise ladder level 0 — a tiny
    // EXPLICIT budget forces the escalated banded join + a downstream
    // consumer through the suite, checked against an independent brute
    // twin (all-pairs hamming + union-find — no engine code shared).
    val budget = 1000L
    val lvl = DocDedup.chosenSimhashLevel(spark, Sf0001, budget)
    assert(lvl >= 1, s"budget=$budget must force escalation, picked $lvl")
    val docs = DocDedup.simhashDocsMemo(spark, Sf0001)
    val governedPairs = DocDedup.simhashPairsAt(docs, lvl)
    val governed = governedPairs
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val sims = docs.collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toVector
    val layout = DocDedup.SimhashBandLayouts.filter(_._1 == lvl)
    val brute = (for {
      (a, sa) <- sims; (b, sb) <- sims
      if a < b && java.lang.Long.bitCount((sa ^ sb) & 0xffffffffL) <= 3 - lvl &&
        // pigeonhole says the band restriction loses nothing at radius
        // 3-lvl; assert that rather than assume it
        layout.exists { case (_, _, sh, w) =>
          ((sa >>> sh) % (1L << w)) == ((sb >>> sh) % (1L << w)) }
    } yield (a, b, java.lang.Long.bitCount((sa ^ sb) & 0xffffffffL))).toSet
    val bruteUnbanded = (for {
      (a, sa) <- sims; (b, sb) <- sims
      if a < b && java.lang.Long.bitCount((sa ^ sb) & 0xffffffffL) <= 3 - lvl
    } yield (a, b)).toSet
    assert(brute.map(t => (t._1, t._2)) === bruteUnbanded,
      "band layout must be pigeonhole-lossless at its radius")
    assert(governed === brute)
    // downstream consumer at the escalated level: engine star-contraction
    // CC over the governed pairs vs a driver-side union-find over brute
    val labels = DocDedup.connectedComponents(
        governedPairs.select($"doc_a", $"doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    brute.foreach { case (a, b, _) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = brute.flatMap(t => Seq(t._1, t._2))
      .map(d => d -> find(d)).toMap
    assert(labels === expected)
  }

  test("inverse governor: recall floor picks the cheapest qualifying level " +
      "and prices it; query row agrees with the API") {
    // independent truth: brute calibration survival counts from the
    // collected simhash frame (no engine aggregate shared)
    val sims = DocDedup.simhashDocsMemo(spark, Sf0001)
      .where($"doc_id" < DocDedup.RecallCalibDocs).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toVector
    val s = (0 to 3).map { lvl =>
      (for {
        (a, sa) <- sims; (b, sb) <- sims
        if a < b && java.lang.Long.bitCount((sa ^ sb) & 0xffffffffL) <= 3 - lvl
      } yield 1).size.toLong
    }
    def pick(num: Long, den: Long): (Int, Long) = {
      val r = DocDedup.recallFloorPlan(spark, Sf0001, num, den)._2.head()
      (r.getInt(0), r.getLong(1))
    }
    // default floor 1/4
    val (lvl, reqBudget) = pick(DocDedup.RecallFloorNum, DocDedup.RecallFloorDen)
    val meets = (l: Int) => s(0) == 0L ||
      s(l) * DocDedup.RecallFloorDen >= s(0) * DocDedup.RecallFloorNum
    assert(meets(lvl), s"chosen level $lvl must meet the floor")
    ((lvl + 1) to 3).foreach(l =>
      assert(!meets(l), s"level $l above chosen $lvl also meets the floor — not maximal"))
    // the priced budget is that level's projected corpus mass
    val masses = DocDedup.simhashPairMass(
        DocDedup.simhashDocsMemo(spark, Sf0001))
      .select($"lvl", $"cand_pairs").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(reqBudget === masses.getOrElse(lvl, 0L))
    // the declared query's flagged row is the same decision
    val rows = DocDedup.governorRecallFloor(spark, Sf0001).collect()
    assert(rows.length === 4)
    val chosenRows = rows.filter(_.getAs[Int]("chosen_by_recall") == 1)
    assert(chosenRows.map(_.getAs[Int]("lvl")).toSeq === Seq(lvl))
    rows.foreach { r =>
      assert(r.getAs[Long]("n_true_pairs") === s(0))
      assert(r.getAs[Long]("n_survive") === s(r.getAs[Int]("lvl")))
      assert(r.getAs[Long]("required_budget") === reqBudget)
    }
    // floor 1/1 (perfect recall): only a level with zero loss qualifies —
    // level 0 by construction; higher only if calibration loses nothing
    val (lvlAll, _) = pick(1L, 1L)
    assert((0 to lvlAll).forall(l => s(0) == 0L || s(l) == s(0)))
    // floor 0: any level qualifies, so the cheapest (3) wins
    val (lvl0, _) = pick(0L, 1L)
    assert(lvl0 === 3)
  }

  test("governor on an empty corpus: the plan and the driver both pick level 3") {
    // sf0.001 tables with a 0-row documents table: no ladder level has
    // any mass, so the pick is the level-3 floor (as the DuckDB twins say)
    val dir = java.nio.file.Files.createTempDirectory("graft-empty-docs")
    new java.io.File(Sf0001).listFiles()
      .filter(f => f.getName.endsWith(".parquet") && f.getName != "documents.parquet")
      .foreach(f => java.nio.file.Files.createSymbolicLink(dir.resolve(f.getName), f.toPath))
    spark.read.parquet(s"$Sf0001/documents.parquet").limit(0)
      .write.parquet(dir.resolve("documents.parquet").toString)
    val d = dir.toString
    val rows = DocDedup.governorRecall(spark, d).collect()
    assert(rows.filter(_.getAs[Int]("chosen") == 1).map(_.getAs[Int]("lvl")).toSeq
      === Seq(3))
    assert(DocDedup.chosenSimhashLevel(spark, d) === 3)
  }
}
