package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** Iterative graph computation over document-similarity graphs.
  *
  * [[DocDedup.connectedComponents]] answers "which docs are the same";
  * PageRank answers "which docs are central" — the authority signal a
  * curation pipeline uses to pick the canonical copy inside a dup cluster
  * or to weight a crawl frontier. The graph here is the same bucketed
  * simhash near-dup pair set the dedup family uses (never all-pairs).
  *
  * Determinism across engines: ranks are kept in 2^-20 fixed point
  * (`pr_u20: long`). Per-edge contributions are `floor(0.85·pr/deg + 0.5)`
  * — only IEEE-exact ops (long→double widening, `*`, `/`, `floor`), no
  * libm — and per-node sums are integer, so iteration results are
  * bit-identical in any engine that evaluates the same expressions
  * (the DuckDB oracle unrolls the same three rounds in SQL).
  */
object GraphOps {

  /** PageRank iteration over an undirected edge list, fully distributed:
    * one shuffle per round (contributions grouped by destination), joined
    * back to the degree table. Each round lazily localCheckpoints its
    * result (the [[DocDedup.connectedComponents]] loop pattern), so plan
    * depth stays CONSTANT in `iters` — long runs are safe, not just the
    * fixed 3 rounds the declared query uses.
    *
    * @param pairs undirected edges as (doc_a, doc_b), doc_a < doc_b, distinct
    */
  def pagerank(spark: SparkSession, pairs: DataFrame, iters: Int): DataFrame = {
    import spark.implicits._
    val edges = pairs.select($"doc_a".as("src"), $"doc_b".as("dst"))
      .union(pairs.select($"doc_b".as("src"), $"doc_a".as("dst")))
    val deg = edges.groupBy($"src".as("doc_id"))
      .agg(count(lit(1)).as("deg"))
    // 1-row node count broadcast onto the per-node frame (same bounded
    // scalar-frame pattern as revenue_share / winsorized_stats).
    val nNodes = deg.agg(count(lit(1)).as("n_nodes"))
    val base = deg.crossJoin(broadcast(nNodes))
    val teleport = floor(lit(0.15) * lit(1048576.0) / $"n_nodes" + lit(0.5))
    var pr = base.select($"doc_id", $"deg", $"n_nodes",
      floor(lit(1048576.0) / $"n_nodes" + lit(0.5)).as("pr_u20"))
    for (_ <- 1 to iters) {
      val contrib = pr.join(edges, $"doc_id" === $"src")
        .select($"dst",
          floor(lit(0.85) * $"pr_u20" / $"deg" + lit(0.5)).as("c"))
        .groupBy($"dst").agg(sum($"c").as("in_c"))
      // every node of an undirected graph has deg ≥ 1 and thus in-edges,
      // but keep the left join + coalesce so directed edge lists are safe
      // lazy lineage cut per round (the CC-loop pattern): without it the
      // plan tree deepens linearly with iters and the optimizer/codegen
      // cost blows up for long runs; the per-node frame is graph-sized,
      // never corpus-sized (Checkpoints.cut flips to reliable on cluster)
      pr = Checkpoints.cut(
        base.join(contrib, base("doc_id") === contrib("dst"), "left")
          .select(base("doc_id"), base("deg"), base("n_nodes"),
            (teleport + coalesce($"in_c", lit(0L))).as("pr_u20")))
    }
    pr
  }

  /** NS: community detection by synchronous label propagation over the
    * near-dup pair graph — where [[DocDedup.dedupClusters]] answers
    * "reachable at all" (connected components), LPA's majority vote finds
    * DENSELY-linked groups inside a component, so a chain of borderline
    * matches does not pull two tight boilerplate families into one
    * cluster. Deterministic by construction: labels start as doc_id, each
    * round every node takes its neighbors' most frequent label with ties
    * to the LOWEST label — pure integer argmax, bit-identical in any
    * engine, no random tie-breaking. Fixed 2 rounds (unrolled in the
    * oracle); one neighbor-count shuffle per round over the bounded pair
    * graph, the same per-round cost shape as [[pagerank]]. */
  def labelPropagation(spark: SparkSession, dir: String, iters: Int = 2): DataFrame = {
    import spark.implicits._
    val pairs = DocDedup.simhashPairsMemo(spark, dir).select($"doc_a", $"doc_b")
    val edges = pairs.select($"doc_a".as("src"), $"doc_b".as("dst"))
      .union(pairs.select($"doc_b".as("src"), $"doc_a".as("dst")))
    var labels = edges.select($"src".as("doc_id")).distinct()
      .withColumn("label", $"doc_id")
    for (_ <- 1 to iters) {
      val neigh = edges.join(labels, $"dst" === labels("doc_id"))
        .groupBy($"src", $"label").agg(count(lit(1)).as("c"))
      labels = neigh.groupBy($"src")
        .agg(max(struct($"c", (-$"label").as("nl"))).as("m"))
        .select($"src".as("doc_id"), (-$"m.nl").as("label"))
    }
    labels.orderBy($"doc_id")
  }

  /** NS: triangle participation counts over the near-dup pair graph — a
    * triangle means three docs that are all pairwise near-dups, so
    * per-node triangle density separates tight boilerplate cliques (every
    * pair agrees) from chained false-positive paths (a~b~c but a≁c) —
    * the structural quality signal for `dedup_clusters`' output.
    *
    * Enumeration is the DEGREE-ORIENTED wedge join (the MapReduce
    * triangle-counting skew fix): every undirected edge is re-oriented
    * low→high by (degree, id), wedges form only at each triangle's
    * MINIMUM-degree vertex, and the closing edge joins in oriented form.
    * Out-degree under this orientation is bounded by O(√|E|) regardless
    * of hubs (a degree-d hub is the wedge CENTER for none of its edges
    * unless everything around it is even denser), so per-key wedge
    * fan-out — the Σ_v outdeg(v)² join cost — survives a boilerplate
    * hub that would make the naive id-oriented join quadratic in the
    * hub degree. Count-invariance vs the id orientation and the √
    * fan-out bound are property-tested on a hub graph (GraphOpsSpec). */
  def graphTriangles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = DocDedup.simhashPairsMemo(spark, dir).select($"doc_a", $"doc_b")
    trianglesPerNode(e, degCap = 256)
      .orderBy($"n_triangles".desc, $"doc_id")
      .limit(20)
  }

  /** Per-node triangle participation counts over an undirected edge set
    * (`doc_a` < `doc_b`, distinct) via the degree-oriented wedge join —
    * see [[graphTriangles]]. Exposed for the orientation-invariance
    * property test.
    *
    * `degCap` is the HUB EXCLUSION bound (round-9 sf1 finding): a
    * homogeneous corpus makes the simhash pair graph a near-clique —
    * measured on the 10× tier, |E| grew 95× (129k → 12.3M) and the wedge
    * count Σdeg² grew 900× (4.4e7 → 3.9e10), a wall no enumeration
    * algorithm crosses because a k-clique simply CONTAINS Θ(k³)
    * triangles. The standard truncated-triangle-count answer: vertices
    * with full-graph degree > degCap are boilerplate hubs (near-identical
    * doc blobs — exact/near dedup handles them; their triangle counts
    * carry no ranking signal) and are excluded BEFORE the wedge join,
    * which restores scale-stable work (sf1 wedges at cap 256 ≈ sf0.1
    * wedges uncapped). The DuckDB twin applies the identical cap. */
  private[graft] def trianglesPerNode(e0: DataFrame,
      degCap: Int = Int.MaxValue): DataFrame = {
    val deg = e0.select(col("doc_a").as("v"))
      .union(e0.select(col("doc_b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val withDeg = e0
      .join(deg.select(col("v").as("doc_a"), col("deg").as("da")), "doc_a")
      .join(deg.select(col("v").as("doc_b"), col("deg").as("db")), "doc_b")
      .where(col("da") <= degCap && col("db") <= degCap)
    // a ≺ b  ⇔  (deg(a), a) < (deg(b), b): a strict total order, so each
    // triangle keeps exactly one wedge — at its minimum vertex.
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("doc_a") < col("doc_b"))
    val oriented = withDeg.select(
      when(aFirst, col("doc_a")).otherwise(col("doc_b")).as("src"),
      when(aFirst, col("doc_b")).otherwise(col("doc_a")).as("dst"),
      when(aFirst, col("db")).otherwise(col("da")).as("ddeg"))
    val dstFirst = col("e1.ddeg") < col("e2.ddeg") ||
      (col("e1.ddeg") === col("e2.ddeg") && col("e1.dst") < col("e2.dst"))
    val tri = oriented.as("e1")
      .join(oriented.as("e2"), col("e1.src") === col("e2.src") && dstFirst)
      .join(oriented.as("e3"),
        col("e1.dst") === col("e3.src") && col("e2.dst") === col("e3.dst"))
      .select(col("e1.src").as("a"), col("e1.dst").as("b"),
        col("e2.dst").as("c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_triangles"))
  }

  /** NS: degree distribution of the near-dup pair graph, log2-bucketed —
    * the one-glance health check on a dedup pair generation: a heavy
    * high-degree tail means boilerplate hubs (every page shares a nav
    * bar) that will chain clusters together and deserve a gram blacklist
    * BEFORE the CC pass, while an all-singleton profile means the bands
    * are too tight. Buckets come from the integer bit length of the
    * degree (`length(bin(deg)) - 1`) — no floating log2, so bucket edges
    * are engine-exact. Two bounded shuffles (degree count, bucket
    * rollup), both partial-aggregated map-side. */
  def graphDegreeHist(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pairs = DocDedup.simhashPairsMemo(spark, dir).select($"doc_a", $"doc_b")
    val deg = pairs.select($"doc_a".as("doc_id"))
      .union(pairs.select($"doc_b".as("doc_id")))
      .groupBy($"doc_id").agg(count(lit(1)).as("deg"))
    deg
      .groupBy((length(bin($"deg")) - 1).cast(IntegerType).as("deg_bucket"))
      .agg(count(lit(1)).as("n_nodes"),
        min($"deg").as("min_deg"), max($"deg").as("max_deg"),
        sum($"deg").as("sum_deg"))
      .orderBy($"deg_bucket")
  }

  /** Declared query: 3-round PageRank over the simhash near-dup pair
    * graph, top-20 most-central docs. TakeOrdered top-k — the full rank
    * frame is never globally sorted. */
  def pairGraphPagerank(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pairs = DocDedup.simhashPairsMemo(spark, dir).select($"doc_a", $"doc_b")
    pagerank(spark, pairs, iters = 3)
      .orderBy($"pr_u20".desc, $"doc_id")
      .limit(20)
      .select($"doc_id", $"deg", $"pr_u20")
  }

  /** NS: Newman modularity of the LPA communities over the near-dup pair
    * graph — the structure-quality number that says whether
    * [[labelPropagation]]'s groups are real (intra-community edge mass
    * above the degree-random baseline) or artifacts. Per community c:
    * contribution Q_c = e_c/m − (d_c/2m)², emitted as the EXACT integer
    * numerator `4·m·e_c − d_c²` over the implicit 4m² denominator — no
    * division anywhere, so the report is bit-identical in any engine
    * (the one global Q is the caller's single division). Plan: the
    * memoized pair frame + the 2-round LPA labels, two bounded
    * label-keyed rollups, a 1-row edge-count broadcast. */
  def graphModularity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pairs = DocDedup.simhashPairsMemo(spark, dir).select($"doc_a", $"doc_b")
    // lazy checkpoint: the LPA label frame is referenced THREE times
    // below (la, lb, the degree rollup) — without materialization each
    // reference re-runs both LPA rounds (4 shuffles apiece)
    val labels = Checkpoints.cut(labelPropagation(spark, dir))
    val withLab = pairs
      .join(labels.select($"doc_id".as("doc_a"), $"label".as("la")), "doc_a")
      .join(labels.select($"doc_id".as("doc_b"), $"label".as("lb")), "doc_b")
    val mm = pairs.agg(count(lit(1)).as("m"))
    val eIn = withLab.where($"la" === $"lb")
      .groupBy($"la".as("label")).agg(count(lit(1)).as("e_in"))
    val deg = pairs.select($"doc_a".as("doc_id"))
      .union(pairs.select($"doc_b".as("doc_id")))
      .groupBy($"doc_id").agg(count(lit(1)).as("deg"))
    val dc = deg.join(labels, "doc_id")
      .groupBy($"label")
      .agg(count(lit(1)).as("n_nodes"), sum($"deg").as("d_sum"))
    dc.join(eIn, Seq("label"), "left_outer")
      .crossJoin(broadcast(mm))
      .select($"label", $"n_nodes",
        coalesce($"e_in", lit(0L)).as("e_in"), $"d_sum",
        (lit(4L) * $"m" * coalesce($"e_in", lit(0L)) - $"d_sum" * $"d_sum")
          .as("contrib_num"))
      .orderBy($"label")
  }

  /** NS: 3-core membership over the simhash near-dup pair graph — the
    * density screen between [[labelPropagation]]'s communities and
    * [[graphTriangles]]' cliques: a node survives the 3-core peel iff it
    * keeps ≥3 neighbors after every weakly-attached node is recursively
    * removed, so the core isolates the tight boilerplate families (every
    * member corroborated by ≥3 others) from chain-linked periphery that
    * one borderline simhash match would detach. Output: every node of the
    * pair graph with its in-core flag and its degree INSIDE the core —
    * the corroboration count a survivorship policy keys on. The oracle
    * unrolls 8 peel rounds (the Spark loop stops at the first empty kill
    * wave, so unrolled rounds past the fixpoint are identity) — and the
    * `unrollGuard` makes that margin CHECKED: a regenerated fixture whose
    * peel depth exceeds 8 fails this query loudly instead of letting the
    * oracle silently under-peel. */
  def kcoreMembership(spark: SparkSession, dir: String, k: Int = 3): DataFrame =
    kcoreMembershipOf(spark,
      DocDedup.simhashPairsMemo(spark, dir).select(col("doc_a"), col("doc_b")), k,
      unrollGuard = Some(8))

  private val MaxPeelRounds = 64

  /** [[kcoreMembership]] over an explicit undirected edge set (`doc_a` <
    * `doc_b`, distinct) — exposed for the scalar-reference property test.
    *
    * Synchronous peeling: each wave kills, at once, every live node whose
    * degree within the surviving subgraph is < k, until a wave kills
    * nothing. The state is ONE vertex table `(doc_id, deg, alive)` built
    * from the pair endpoints; for a live node, `deg` is |N(v) ∩ live|. A
    * wave is one `groupBy(doc_id)` over
    *  - the table's own rows, with `alive` cleared where `deg < k` (this
    *    wave's kills), and
    *  - one `−1` row per pair endpoint whose other endpoint was killed,
    *    selected by an in-set filter on the driver-held kill ids (a node
    *    dies once, so the whole peel emits ≤ 2|E| such rows),
    * then one lineage cut and one driver read of the next wave's kill ids
    * (`alive && deg < k`), which is also the convergence fingerprint:
    * empty ⇒ fixpoint. So a wave costs one shuffle and one driver read,
    * and because every node dies at most once, all reads together return
    * ≤ |V| ids (for the shipped query |V| ≤ documents = 50,000 × sf).
    * Joining the table against the kills instead would shuffle both sides
    * every wave: a checkpointed frame reports no output partitioning.
    * The output is the final table itself: `in_core = alive`, and
    * `core_deg = deg` for a live node.
    *
    * `MaxPeelRounds` is a runaway guard, not the convergence contract.
    * `unrollGuard = Some(g)` fails the call unless the peel converged
    * within `g` non-empty kill waves — exactly the peel applications a
    * finitely-unrolled oracle must cover. */
  private[graft] def kcoreMembershipOf(spark: SparkSession, pairs: DataFrame,
      k: Int, unrollGuard: Option[Int] = None): DataFrame = {
    import spark.implicits._
    var table = Checkpoints.cut(
      pairs.select($"doc_a".as("doc_id")).union(pairs.select($"doc_b".as("doc_id")))
        .groupBy($"doc_id").agg(count(lit(1)).as("deg"))
        .select($"doc_id", $"deg", lit(1).as("alive")))
    def killedIn(t: DataFrame): Array[Long] =
      t.where($"alive" === 1 && $"deg" < k).select($"doc_id").as[Long].collect()
    var killed = killedIn(table)
    var round = 0
    while (killed.nonEmpty && round < MaxPeelRounds) {
      val dead = killed.toSeq
      val dec = pairs.where($"doc_a".isin(dead: _*)).select($"doc_b".as("doc_id"))
        .union(pairs.where($"doc_b".isin(dead: _*)).select($"doc_a".as("doc_id")))
        .select($"doc_id", lit(-1L).as("deg"), lit(0).as("alive"))
      table = Checkpoints.cut(
        table.select($"doc_id", $"deg",
            when($"deg" < k, 0).otherwise($"alive").as("alive"))
          .union(dec)
          .groupBy($"doc_id").agg(sum($"deg").as("deg"), max($"alive").as("alive")))
      killed = killedIn(table)
      round += 1
    }
    unrollGuard.foreach { g =>
      require(killed.isEmpty && round <= g,
        s"kcore peel needed $round waves (converged=${killed.isEmpty}); the " +
          s"unrolled oracle covers only $g — raise the oracle unroll")
    }
    table.select($"doc_id", $"alive".as("in_core"),
        when($"alive" === 1, $"deg").otherwise(0L).as("core_deg"))
      .orderBy($"doc_id")
  }

  /** NS: multi-source BFS distance over the near-dup pair graph — hop
    * count from a SEED SET (every 50th doc: a spot-audited sample) to
    * every reachable doc, capped at `rounds` hops. "How many near-dup
    * hops from an audited doc" is the contamination-radius question a
    * curation audit asks: dist 1 = direct near-dups of audited docs,
    * dist 2 = their neighborhood, unreachable = outside the audited
    * components. Classic frontier iteration, fully distributed: each
    * round is ONE shuffle (neighbor expansion joined on the edge key,
    * then a min-dist re-group); plan depth stays constant via the
    * CC-loop lazy localCheckpoint. The cap bounds work on high-diameter
    * graphs — beyond it, [[DocDedup.dedupClusters]]' pointer-doubling
    * answers reachability in O(log d) rounds instead. The DuckDB twin
    * unrolls the same `rounds` expansions. */
  def bfsDistance(spark: SparkSession, dir: String, rounds: Int = 4): DataFrame = {
    import spark.implicits._
    val pairs = DocDedup.simhashPairsMemo(spark, dir).select($"doc_a", $"doc_b")
    val edges = pairs.select($"doc_a".as("src"), $"doc_b".as("dst"))
      .union(pairs.select($"doc_b".as("src"), $"doc_a".as("dst")))
    var dist = Tables.documents(spark, dir)
      .select($"doc_id").where($"doc_id" % 50 === 0)
      .withColumn("dist", lit(0))
    for (_ <- 1 to rounds) {
      val next = edges.join(dist, edges("dst") === dist("doc_id"))
        .select(edges("src").as("doc_id"), (dist("dist") + 1).as("dist"))
      // lazy lineage cut per round (the pagerank/CC pattern)
      dist = Checkpoints.cut(dist.union(next)
        .groupBy($"doc_id").agg(min($"dist").as("dist")))
    }
    dist.orderBy($"doc_id")
  }
}
