package graft

import org.apache.spark.sql.functions._

import graft.operators.{DocDedup, GraphOps, Relational, TextAnalysis}

/** PageRank + the round-5 robust-stats operators, cross-checked against
  * scalar reference implementations that replay the exact same IEEE
  * arithmetic (long→double widening, `(0.85·pr)/deg`, floor, integer
  * sums) — so the assertions are bit-exact, not tolerance-based. */
class GraphOpsSpec extends SparkSpecBase {
  import spark.implicits._

  /** Scalar reference: same fixed-point PageRank as GraphOps.pagerank. */
  private def prRef(pairs: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val edges = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
    val deg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val n = deg.size
    val teleport = math.floor(0.15 * 1048576.0 / n + 0.5).toLong
    var pr: Map[Long, Long] =
      deg.map { case (v, _) => v -> math.floor(1048576.0 / n + 0.5).toLong }
    for (_ <- 1 to iters) {
      val in = edges.groupBy(_._2).view.mapValues(_.map { case (src, _) =>
        math.floor(0.85 * pr(src) / deg(src) + 0.5).toLong
      }.sum).toMap
      pr = pr.map { case (v, _) => v -> (teleport + in.getOrElse(v, 0L)) }
    }
    pr
  }

  private def prSpark(pairs: Seq[(Long, Long)], iters: Int): Map[Long, Long] =
    GraphOps.pagerank(spark, pairs.toDF("doc_a", "doc_b"), iters)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap

  test("pagerank matches the scalar reference bit-for-bit on a path graph") {
    val path = (1L to 9L).map(i => (i, i + 1))
    for (iters <- 1 to 3)
      assert(prSpark(path, iters) === prRef(path, iters))
  }

  test("pagerank: hub of a star graph outranks the leaves; symmetry holds") {
    val star = (1L to 8L).map(i => (0L, i))
    val pr = prSpark(star, 3)
    assert(pr === prRef(star, 3))
    val leaves = (1L to 8L).map(pr)
    assert(leaves.toSet.size === 1, "symmetric leaves must tie exactly")
    assert(pr(0L) > leaves.head, "hub must outrank leaves")
  }

  test("pagerank matches the scalar reference on seeded random graphs") {
    val rnd = new scala.util.Random(0xC0FFEE)
    for (trial <- 1 to 5) {
      val n = 6 + rnd.nextInt(20)
      val pairs = (0 until n * 2).map { _ =>
        val a = rnd.nextInt(n).toLong
        val b = rnd.nextInt(n).toLong
        (math.min(a, b), math.max(a, b))
      }.filter { case (a, b) => a != b }.distinct
      if (pairs.nonEmpty)
        assert(prSpark(pairs, 3) === prRef(pairs, 3), s"trial $trial: $pairs")
    }
  }

  test("pagerank: 10 rounds stay bit-exact with CONSTANT plan depth " +
    "(per-round lineage cut)") {
    val rnd = new scala.util.Random(0xBEEF)
    val n = 12
    val pairs = (0 until n * 2).map { _ =>
      val a = rnd.nextInt(n).toLong
      val b = rnd.nextInt(n).toLong
      (math.min(a, b), math.max(a, b))
    }.filter { case (a, b) => a != b }.distinct
    assert(prSpark(pairs, 10) === prRef(pairs, 10))
    // plan blowup guard: the final round's plan reads the previous round
    // from checkpoint blocks, so its size must NOT grow with iters
    def planLen(iters: Int): Int =
      GraphOps.pagerank(spark, pairs.toDF("doc_a", "doc_b"), iters)
        .queryExecution.executedPlan.toString.length
    val (p2, p10) = (planLen(2), planLen(10))
    assert(p10 <= p2 * 2,
      s"plan grew with iteration count ($p2 chars @2 iters vs $p10 @10) — " +
        "the per-round checkpoint is not cutting lineage")
  }

  test("pair_graph_pagerank: its 3 rounds plan and run as one SQL execution") {
    val q = SparkEntry.queries("pair_graph_pagerank")
    q(spark, Sf0001).collect() // builds the pairs memo
    val (_, execs) = jobsAndExecutionsDuring(q(spark, Sf0001).collect())
    assert(execs === 1, s"$execs SQL executions for a warm call")
  }

  test("pagerank: disconnected components do not leak rank across") {
    val two = Seq((1L, 2L), (10L, 11L), (11L, 12L), (12L, 10L))
    val pr = prSpark(two, 3)
    assert(pr === prRef(two, 3))
    // the 2-clique pair and the triangle nodes each tie internally
    assert(pr(1L) === pr(2L))
    assert(Set(pr(10L), pr(11L), pr(12L)).size === 1)
  }

  test("label_propagation: scalar 2-round majority-vote recount agrees") {
    val pairs = graft.operators.DocDedup.simhashNearDupPairs(spark, Sf0001)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    val adj = (pairs ++ pairs.map(_.swap)).groupBy(_._1).view.mapValues(_.map(_._2))
    var labels: Map[Long, Long] = adj.keys.map(v => v -> v).toMap
    for (_ <- 1 to 2) {
      labels = adj.map { case (v, ns) =>
        val counts = ns.map(labels).groupBy(identity).view.mapValues(_.size)
        v -> counts.toSeq.sortBy { case (l, c) => (-c, l) }.head._1
      }.toMap
    }
    val got = GraphOps.labelPropagation(spark, Sf0001, 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === labels)
    assert(got.nonEmpty)
  }

  test("label_propagation communities refine connected components") {
    // two docs sharing an LPA label must be in one CC (LPA never crosses a
    // component boundary — labels only flow along edges)
    val cc = graft.operators.DocDedup.dedupClusters(spark, Sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lpa = GraphOps.labelPropagation(spark, Sf0001, 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    lpa.groupBy(_._2).foreach { case (label, members) =>
      val comps = members.map { case (doc, _) => cc(doc) }.distinct
      assert(comps.length === 1,
        s"LPA label $label spans CC components $comps")
    }
  }

  test("graph_triangles: scalar triangle enumeration over the pair set agrees") {
    val pairs = graft.operators.DocDedup.simhashNearDupPairs(spark, Sf0001)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val tris = for {
      (a, b) <- pairs.toSeq
      (b2, c) <- pairs if b2 == b && pairs((a, c))
    } yield (a, b, c)
    val counts = tris.flatMap { case (a, b, c) => Seq(a, b, c) }
      .groupBy(identity).view.mapValues(_.size.toLong)
    val expect = counts.toSeq.sortBy { case (id, n) => (-n, id) }.take(20)
    val got = GraphOps.graphTriangles(spark, Sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === expect)
    assert(got.nonEmpty, "fixture has no triangles — invariant vacuous")
  }

  test("triangles: degree orientation is count-invariant on hub-heavy " +
    "random graphs and collapses hub wedge fan-out") {
    val rnd = new scala.util.Random(0x7A1A)
    for (trial <- 1 to 3) {
      // hub-heavy: node 0 connects to everything (the boilerplate-hub
      // shape), plus random edges among the leaves
      val n = 24 + rnd.nextInt(16)
      val hub = (1 until n).map(i => (0L, i.toLong))
      val rest = (0 until n * 3).map { _ =>
        val a = 1 + rnd.nextInt(n - 1); val b = 1 + rnd.nextInt(n - 1)
        (math.min(a, b).toLong, math.max(a, b).toLong)
      }.filter { case (a, b) => a != b }
      val pairs = (hub ++ rest).distinct
      val pairSet = pairs.toSet
      // id-oriented scalar reference (the pre-round-7 enumeration)
      val tris = for {
        (a, b) <- pairs
        (b2, c) <- pairs if b2 == b && pairSet((a, c))
      } yield (a, b, c)
      val expect = tris.flatMap { case (a, b, c) => Seq(a, b, c) }
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val got = GraphOps.trianglesPerNode(pairs.toDF("doc_a", "doc_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === expect, s"trial $trial")
      assert(got.nonEmpty, s"trial $trial produced no triangles — vacuous")
      // fan-out bound: under (degree, id) orientation the max out-degree
      // is O(√|E|); the id orientation would give the hub out-degree n−1
      val deg = pairs.flatMap { case (a, b) => Seq(a, b) }
        .groupBy(identity).view.mapValues(_.size).toMap
      val outDeg = pairs.groupBy { case (a, b) =>
        if (deg(a) < deg(b) || (deg(a) == deg(b) && a < b)) a else b
      }.view.mapValues(_.size)
      val bound = math.ceil(math.sqrt(2.0 * pairs.size)).toInt + 1
      assert(outDeg.values.max <= bound,
        s"trial $trial: oriented out-degree ${outDeg.values.max} exceeds " +
          s"√-bound $bound (|E|=${pairs.size})")
      assert(deg(0L) >= n - 1, "hub premise broken — test graph not hubby")
    }
  }

  test("entropy_score: direct scalar recount on raw text agrees bit-for-bit") {
    val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    val got = TextAnalysis.entropyScore(spark, Sf0001)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4))))
      .toMap
    assert(got.keySet === docs.keySet)
    docs.foreach { case (id, text) =>
      val counts = text.split(" ", -1).groupBy(identity).view.mapValues(_.length.toLong)
      val n = counts.values.sum
      val h = counts.values.map { c =>
        val p = c.toDouble / n
        math.floor(-p * math.log(p) * 1048576.0 + 0.5).toLong
      }.sum
      val flagged = if (h < 1572864L) 1 else 0
      assert(got(id) === ((n, counts.size.toLong, h, flagged)), s"doc $id")
    }
  }

  test("decayed_counts: direct scalar recount of the decay sums agrees") {
    val ev = graft.Tables.events(spark, Sf0001)
      .selectExpr("user_id", "unix_micros(ts) AS us")
      .as[(Long, Long)].collect()
    val tMax = ev.map(_._2).max
    val got = Relational.decayedCounts(spark, Sf0001)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val byUser = ev.groupBy(_._1)
    assert(got.keySet === byUser.keySet)
    byUser.foreach { case (u, rows) =>
      val sum = rows.map { case (_, us) =>
        math.floor(math.exp((us - tMax).toDouble / 3.6e9) * 1048576.0 + 0.5).toLong
      }.sum
      assert(got(u) === ((rows.length.toLong, sum)), s"user $u")
    }
  }

  test("mad_outliers: direct scalar recount of median/MAD/outliers agrees") {
    val ev = spark.read.parquet(s"$Sf0001/events.parquet")
      .select($"event_type", $"event_id", $"value")
      .as[(String, Long, Double)].collect()
    val got = Relational.madOutliers(spark, Sf0001)
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4))))
      .toMap
    val byType = ev.groupBy(_._1)
    assert(got.keySet === byType.keySet)
    byType.foreach { case (t, rows) =>
      val n = rows.length
      def discreteMedian(vs: Seq[(Double, Long)]): Double =
        vs.sortBy(identity).apply(((n + 1) / 2) - 1)._1
      val med = discreteMedian(rows.map(r => (r._3, r._2)).toSeq)
      val devs = rows.map(r => (math.abs(r._3 - med), r._2)).toSeq
      val mad = discreteMedian(devs)
      val outliers = devs.count { case (d, _) => 0.6745 * d > 3.5 * mad }
      assert(got(t) === ((n.toLong, med, mad, outliers.toLong)), s"type $t")
    }
  }

  test("graph_modularity: invariants hold against a scalar recount") {
    val rows = GraphOps.graphModularity(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val pairs = graft.operators.DocDedup
      .simhashNearDupPairs(spark, Sf0001) // same pair set, ordered variant
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val labels = GraphOps.labelPropagation(spark, Sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val m = pairs.length.toLong
    // every edge endpoint is labeled and the per-community sums recount
    val eIn = pairs.filter { case (a, b) => labels(a) == labels(b) }
      .groupBy { case (a, _) => labels(a) }.view.mapValues(_.length.toLong).toMap
    val dSum = pairs.flatMap { case (a, b) => Seq(a, b) }
      .groupBy(labels).view.mapValues(_.length.toLong).toMap
    assert(rows.map(_._1).toSet === labels.values.toSet, "community set")
    rows.foreach { case (label, nNodes, ein, dsum, num) =>
      assert(ein === eIn.getOrElse(label, 0L), s"e_in of $label")
      assert(dsum === dSum(label), s"d_sum of $label")
      assert(num === 4L * m * ein - dsum * dsum, s"contrib_num of $label")
      assert(nNodes === labels.count(_._2 == label), s"n_nodes of $label")
    }
    // degrees sum to 2m across communities; e_in never exceeds m
    assert(rows.map(_._4).sum === 2L * m)
    assert(rows.map(_._3).sum <= m)
  }

  /** Scalar reference: peel to fixpoint, report (in_core, core_deg) per
    * node — the exact contract of [[GraphOps.kcoreMembershipOf]] — and the
    * number of non-empty kill waves, the count `unrollGuard` checks. */
  private def kcorePeel(pairs: Seq[(Long, Long)], k: Int)
      : (Map[Long, (Int, Long)], Int) = {
    val nodes = pairs.flatMap { case (a, b) => Seq(a, b) }.distinct
    def degIn(s: Set[Long]): Map[Long, Long] = pairs
      .filter { case (a, b) => s(a) && s(b) }
      .flatMap { case (a, b) => Seq(a, b) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    var surv = nodes.toSet
    var waves = 0
    var changed = true
    while (changed) {
      val d = degIn(surv)
      val next = surv.filter(v => d.getOrElse(v, 0L) >= k)
      changed = next != surv
      if (changed) waves += 1
      surv = next
    }
    val cd = degIn(surv)
    (nodes.map(v => v -> (if (surv(v)) (1, cd(v)) else (0, 0L))).toMap, waves)
  }

  private def kcoreRef(pairs: Seq[(Long, Long)], k: Int): Map[Long, (Int, Long)] =
    kcorePeel(pairs, k)._1

  private def peelWaves(pairs: Seq[(Long, Long)], k: Int): Int = kcorePeel(pairs, k)._2

  private def kcoreSpark(pairs: Seq[(Long, Long)], k: Int): Map[Long, (Int, Long)] =
    GraphOps.kcoreMembershipOf(spark, pairs.toDF("doc_a", "doc_b"), k)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap

  test("kcore: a clique survives its own peel, a tree dies entirely") {
    // K4: every node has degree 3 → the whole clique IS the 3-core
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    assert(kcoreSpark(k4, 3) === k4.flatMap(p => Seq(p._1, p._2)).distinct
      .map(_ -> ((1, 3L))).toMap)
    // a path has max degree 2 → empty 3-core, every node flagged out
    val path = (1L to 6L).map(i => (i, i + 1))
    val got = kcoreSpark(path, 3)
    assert(got.values.forall(_ === ((0, 0L))))
    assert(got.keySet === (1L to 7L).toSet)
  }

  test("kcore: multi-round peeling cascades (clique + pendant chain)") {
    // K4 with a chain hung off node 1: the chain peels over SEVERAL
    // rounds (outermost node first), the clique stays — exercises the
    // fixpoint loop beyond one round
    val g = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (1L, 5L), (5L, 6L), (6L, 7L))
    assert(kcoreSpark(g, 3) === kcoreRef(g, 3))
    assert(kcoreSpark(g, 2) === kcoreRef(g, 2))
  }

  test("kcore: the oracle-unroll guard fails loudly when peel depth exceeds it") {
    import spark.implicits._
    // Path of 12 nodes, k=2: each wave peels only the two endpoints, so
    // the fixpoint (empty core) needs exactly 6 waves
    val path = (1L to 11L).map(i => (i, i + 1))
    val g = peelWaves(path, 2)
    assert(g === 6)
    def run(guard: Int) = GraphOps.kcoreMembershipOf(spark,
      path.toDF("doc_a", "doc_b"), 2, unrollGuard = Some(guard)).collect()
    val ex = intercept[IllegalArgumentException](run(g - 1))
    assert(ex.getMessage.contains("unrolled oracle"), ex.getMessage)
    assert(run(g).forall(_.getInt(1) == 0), "a path has no 2-core")
  }

  test("kcore: adjacent nodes killed in the same wave") {
    // K4 on 1..4 plus the triangle 5-6-7 hung off node 1: at k=3, 6 and 7
    // (adjacent, degree 2) die together in wave 1, then 5 in wave 2
    val g = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (1L, 5L), (5L, 6L), (5L, 7L), (6L, 7L))
    assert(peelWaves(g, 3) === 2)
    val got = kcoreSpark(g, 3)
    assert(got === kcoreRef(g, 3))
    assert(got(1L) === ((1, 3L)) && got(6L) === ((0, 0L)) && got(7L) === ((0, 0L)))
    // two pendant nodes that are each other's neighbor, both tied to the
    // clique: 5 and 6 both have degree 2 and die in the same single wave
    val h = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (1L, 5L), (2L, 6L), (5L, 6L))
    assert(peelWaves(h, 3) === 1)
    assert(kcoreSpark(h, 3) === kcoreRef(h, 3))
  }

  test("kcore: a peel wave costs at most two jobs") {
    val g = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (1L, 5L), (5L, 6L), (6L, 7L))
    val df = g.toDF("doc_a", "doc_b")
    for (k <- Seq(2, 3)) {
      val (jobs, execs) = jobsAndExecutionsDuring {
        GraphOps.kcoreMembershipOf(spark, df, k).collect()
      }
      val waves = peelWaves(g, k)
      // the vertex table and each wave's table are one observed eager cut
      // apiece (one SQL execution: its shuffle-map stage and the cut
      // job), then the ordered collect (sample, shuffle, result)
      assert(execs === waves + 2, s"k=$k: $execs SQL executions for $waves waves")
      assert(jobs === 2 * (waves + 1) + 3, s"k=$k: $jobs jobs for $waves waves")
    }
  }

  /** Scalar replay of [[DocDedup.connectedComponents]]' star rounds over
    * the same edge multiset: how many rounds its loop runs, i.e. until
    * the (count, Σu, Σv) fingerprint repeats. */
  private def starRounds(pairs: Seq[(Long, Long)]): Int = {
    def mins(e: Seq[(Long, Long)]) = e.groupMapReduce(_._1)(_._2)(math.min)
    def largeStar(e: Seq[(Long, Long)]) = {
      val sym = e ++ e.map(_.swap)
      val m = mins(sym)
      sym.collect { case (u, v) if v > u => (v, math.min(m(u), u)) }
    }
    def smallStar(e: Seq[(Long, Long)]) = {
      val m = mins(e)
      (e.map { case (u, v) => (v, m(u)) } ++ m.toSeq).filter { case (u, v) => u != v }
    }
    def fingerprint(e: Seq[(Long, Long)]) = (e.size, e.map(_._1).sum, e.map(_._2).sum)
    var edges = pairs.collect { case (a, b) if a != b => (math.max(a, b), math.min(a, b)) }
    var rounds = 0
    var stable = false
    while (!stable) {
      val next = smallStar(largeStar(edges))
      stable = fingerprint(next) == fingerprint(edges)
      edges = next
      rounds += 1
    }
    rounds
  }

  test("connected components: a star round costs one SQL execution") {
    // a 12-node path (one star round per ~halving of its length) and a
    // triangle: two components, labelled by their min doc_id
    val g = (1L until 12L).map(i => (i, i + 1)) ++
      Seq((100L, 101L), (101L, 102L), (100L, 102L))
    val rounds = starRounds(g)
    assert(rounds === 5)
    val (jobs, execs) = jobsAndExecutionsDuring {
      val labels = DocDedup.connectedComponents(g.toDF("doc_a", "doc_b")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(labels === ((1L to 12L).map(_ -> 1L) ++ (100L to 102L).map(_ -> 100L)).toMap)
    }
    // the input-pairs cut, the oriented-edge cut, one observed eager cut
    // per round, the labels cut, the validation count, the collect
    assert(execs === rounds + 5, s"$execs SQL executions for $rounds rounds")
    // per round: its shuffle-map stages and broadcasts (AQE picks the
    // joins from the round's data, so this is pinned for this graph
    // only) and the cut job, 6 in all; 8 more around the loop, of which
    // the input-pairs and labels cuts run one cut job apiece
    assert(jobs === 6 * rounds + 8, s"$jobs jobs for $rounds rounds")
  }

  test("kcore matches the scalar reference on seeded random graphs") {
    val rnd = new scala.util.Random(0xBEEF)
    for (trial <- 1 to 5) {
      val n = 8 + rnd.nextInt(16)
      val pairs = (0 until n * 3).map { _ =>
        val a = rnd.nextInt(n).toLong
        val b = rnd.nextInt(n).toLong
        (math.min(a, b), math.max(a, b))
      }.filter { case (a, b) => a != b }.distinct
      if (pairs.nonEmpty)
        for (k <- 2 to 3)
          assert(kcoreSpark(pairs, k) === kcoreRef(pairs, k), s"trial $trial k=$k")
    }
  }

  test("bfs_distance: seeds at 0, every frontier node has a one-hop-closer " +
      "neighbor, dist capped by rounds") {
    import spark.implicits._
    val dist = GraphOps.bfsDistance(spark, Sf0001, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // every 50th doc is a seed at distance exactly 0
    dist.foreach { case (id, d) =>
      if (id % 50 == 0) assert(d == 0, s"seed $id has dist $d")
      else assert(d >= 1 && d <= 4, s"non-seed $id has dist $d")
    }
    assert(dist.nonEmpty && dist.valuesIterator.min == 0)
    // BFS certificate: a node at dist d>0 must have a neighbor at d-1
    val pairs = graft.operators.DocDedup.simhashNearDupPairs(spark, Sf0001)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = (pairs ++ pairs.map(_.swap)).groupMap(_._1)(_._2)
    dist.foreach { case (id, d) =>
      if (d > 0) {
        val closer = adj.getOrElse(id, Array.empty[Long])
          .exists(n => dist.get(n).exists(_ == d - 1))
        assert(closer, s"node $id at dist $d has no dist-${d - 1} neighbor")
      }
    }
  }
}
