package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Physical-plan audit: locks in the plan shapes the 100 TB design relies
  * on. Correctness specs prove the small-SF answers; these prove the plan
  * would still be the right plan at 1000 executors — filters reach the
  * parquet scan, bounded dims broadcast, top-k never global-sorts, and no
  * query ever degenerates to a cartesian product.
  */
class PlanSpec extends SparkSpecBase {

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  private def physical(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Final AQE plan — codegen spans only exist after execution. collect()
    * (not write: a writer plans its own QueryExecution) finalizes this one.
    */
  private def executedPhysical(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  /** Tables whose row count grows with SF — a broadcast() hint over one of
    * these is only safe when the hint subtree provably reduces it. */
  private val scaledTables = Seq("customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Round-13 finding (caught by the negative-control test below): an
    * ANALYZED LogicalRelation's toString is just `Relation [cols] parquet`
    * — no path — so the round-12 string probe never matched and the pin
    * was vacuous. Read the file-source root paths directly instead. A
    * LogicalRDD (localCheckpoint'd FrameMemo frame) is treated as
    * non-scaled: every memoized frame is reduced before materialization.
    */
  private def isScaledLeaf(l: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Boolean = l match {
    case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
      lr.relation match {
        case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
          fs.location.rootPaths.map(_.toString).exists(p =>
            scaledTables.exists(t => p.contains(s"/$t.parquet")))
        case _ => false
      }
    case other =>
      val s = other.toString
      scaledTables.exists(t =>
        s.contains(s"/$t.parquet") || s.contains(s"$t.parquet]"))
  }

  /** Recursive row-bound walk (round-13 tightening of the round-12
    * "reduced by construction" rule — the tfidf_topk loophole): a plan's
    * output is bounded-by-construction iff every root-to-leaf path passes
    * through a bounding node — a GLOBAL aggregate (1 row), a Limit, an
    * Aggregate/Deduplicate whose grouping keys are in the query's
    * declared bounded-enum set `cols`, or bottoms out in a non-scaled
    * leaf (nation/region/local/range — bounded by schema). Joins require
    * BOTH inputs bounded: a 1-row agg joined onto an unbounded frame does
    * NOT bound the result, which is exactly the loophole a subtree-wide
    * collectFirst would reopen. An Aggregate over unbounded grouping keys
    * (`groupBy(term)` — a vocabulary grows with the corpus, Heaps' law)
    * is bounded only when its INPUT is bounded (output ≤ input). Generate
    * (explode) fans out per-row, so it is bounded only when its input is.
    */
  private def boundedPlan(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      cols: Set[String]): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    p match {
      case a: Aggregate =>
        // references-empty grouping (spark_partition_id(), literals): the
        // group count is bounded by the child's PARTITION COUNT — a
        // config bound, not a data bound (the withGlobal*Plan helpers'
        // per-partition offset frames, ≤numParts rows at any SF). The
        // analyzer pulls nondeterministic grouping expressions into a
        // child Project (`PullOutNondeterministic`), so look one Project
        // level through the grouping attribute to its defining alias.
        def refFree(e: org.apache.spark.sql.catalyst.expressions.Expression)
            : Boolean =
          e.references.isEmpty || (a.child match {
            case p: Project => e.references.forall(r => p.projectList.exists {
              case al: org.apache.spark.sql.catalyst.expressions.Alias =>
                al.exprId == r.exprId && al.child.references.isEmpty
              case _ => false
            })
            case _ => false
          })
        a.groupingExpressions.isEmpty ||
          a.groupingExpressions.forall(refFree) ||
          (cols.nonEmpty && a.groupingExpressions
            .flatMap(_.references.map(_.name)).toSet.subsetOf(cols)) ||
          boundedPlan(a.child, cols)
      case d: Deduplicate =>
        (cols.nonEmpty && d.keys.map(_.name).toSet.subsetOf(cols)) ||
          boundedPlan(d.child, cols)
      case _: GlobalLimit | _: LocalLimit => true
      case l if l.children.isEmpty => !isScaledLeaf(l)
      case o => o.children.forall(boundedPlan(_, cols))
    }
  }

  test("filter_pushdown_scan pushes the shipdate predicate into the parquet scan") {
    val ex = formatted(graft.operators.ReferenceOps.filterPushdownScan(spark, Sf0001))
    assert(ex.contains("PushedFilters:") &&
      ex.contains("GreaterThanOrEqual(l_shipdate"),
      s"predicate did not reach the scan:\n$ex")
  }

  test("filter_pushdown_scan prunes to exactly the projected columns") {
    val ex = formatted(graft.operators.ReferenceOps.filterPushdownScan(spark, Sf0001))
    val readSchema = ex.linesIterator.find(_.contains("ReadSchema:")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_shipdate"))
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_extendedprice"),
      s"scan reads columns the query never uses: $readSchema")
  }

  test("multi_join_agg broadcasts the bounded dims (nation, region)") {
    val p = physical(graft.operators.Relational.multiJoinAgg(spark, Sf0001))
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join in:\n$p")
  }

  test("multi_join_agg uses two-phase (partial+final) aggregation") {
    val p = physical(graft.operators.Relational.multiJoinAgg(spark, Sf0001))
    assert(p.contains("partial_"), s"no map-side partial aggregation in:\n$p")
  }

  test("revenue_forecast pushes all three predicates into the scan; partial agg") {
    val df = graft.operators.Relational.revenueForecast(spark, Sf0001)
    val ex = formatted(df)
    assert(ex.contains("GreaterThanOrEqual(l_shipdate") &&
      ex.contains("GreaterThanOrEqual(l_discount") &&
      ex.contains("LessThan(l_quantity"),
      s"range predicates did not reach the scan:\n$ex")
    assert(physical(df).contains("partial_"), "no map-side partial aggregation")
  }

  test("pricing_summary partial-aggregates the wide aggregate map-side") {
    val p = physical(graft.operators.Relational.pricingSummary(spark, Sf0001))
    assert(p.contains("partial_sum"), s"no map-side partials:\n$p")
  }

  test("brand_promo keeps the equi-join under the disjunction (hash join, not NLJ)") {
    val p = physical(graft.operators.Relational.brandPromo(spark, Sf0001))
    assert(p.contains("BroadcastHashJoin"),
      s"disjunctive predicate broke the equi-join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"OR-of-ANDs degenerated to a nested loop:\n$p")
  }

  test("shipping_priority top-10 is TakeOrderedAndProject; filters reach the scans") {
    val df = graft.operators.Relational.shippingPriority(spark, Sf0001)
    val p = physical(df)
    assert(p.contains("TakeOrderedAndProject"), s"top-k fell back to a sort:\n$p")
    val ex = formatted(df)
    assert(ex.contains("EqualTo(c_mktsegment,BUILDING)"),
      s"segment filter did not reach the customer scan:\n$ex")
    assert(ex.contains("GreaterThan(l_shipdate"),
      s"shipdate filter did not reach the lineitem scan:\n$ex")
  }

  test("promo_revenue broadcasts part and aggregates in one pass") {
    val p = physical(graft.operators.Relational.promoRevenue(spark, Sf0001))
    assert(p.contains("BroadcastHashJoin"), s"part dim not broadcast:\n$p")
    assert(p.contains("partial_"), s"no map-side partial aggregation:\n$p")
  }

  test("min_cost_supplier argmin is a partial aggregate, not a window") {
    val p = physical(graft.operators.Relational.minCostSupplier(spark, Sf0001))
    assert(p.contains("partial_min"), s"argmin lost map-side combine:\n$p")
    assert(!p.contains("Window"), s"argmin degenerated to a window plan:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"supplier/nation dims not broadcast:\n$p")
  }

  test("top_spenders aggregates before the customer join (HAVING prunes the join input)") {
    val p = physical(graft.operators.Relational.topSpenders(spark, Sf0001))
    // the aggregate-side join input must already carry the HAVING filter:
    // spend_dec > 4000000 sits below the join in the plan tree
    val joinIdx = p.indexOf("Join")
    val aggIdx = p.lastIndexOf("HashAggregate")
    assert(joinIdx >= 0 && aggIdx > joinIdx,
      s"orders aggregation did not run below the join:\n$p")
  }

  test("returned_items ranks its top-20 as TakeOrderedAndProject with broadcast nation") {
    val p = physical(graft.operators.Relational.returnedItems(spark, Sf0001))
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 degenerated to a global sort:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"nation dim did not broadcast:\n$p")
  }

  test("revenue_bridge computes both periods from ONE orders scan with the date filter pushed") {
    val df = graft.operators.Relational.revenueBridge(spark, Sf0001)
    val ex = formatted(df)
    assert(ex.contains("GreaterThanOrEqual(o_orderdate") &&
      ex.contains("LessThan(o_orderdate"),
      s"period bounds did not reach the scan:\n$ex")
    val p = physical(df)
    assert("FileScan".r.findAllIn(p).size == 1,
      s"two-period self-join instead of one conditional agg:\n$p")
  }

  test("ab_test collects both arms' moments in one aggregate: 1 scan, <=1 shuffle, no window") {
    val p = physical(graft.operators.Relational.abTest(spark, Sf0001))
    assert("FileScan".r.findAllIn(p).size == 1, s"more than one scan:\n$p")
    assert(!p.contains("Window"), s"unexpected window:\n$p")
    assert("Exchange".r.findAllIn(p).length <= 1,
      s"more than the single final-agg exchange:\n$p")
    assert(p.contains("partial_"), s"no map-side partial aggregation:\n$p")
  }

  test("winnow_spans selects fingerprints with zero shuffle before the output sort") {
    val p = physical(graft.operators.TextAnalysis.winnowSpans(spark, Sf0001))
    assert(!p.contains("Generate"), s"winnowing exploded grams into rows:\n$p")
    assert(!p.contains("Join"), s"winnowing must not join:\n$p")
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 1, s"winnowing shuffled beyond the output sort:\n$p")
  }

  test("embedding_gram ships one array per partition (partial gram_sum_l, no input explode)") {
    val p = physical(graft.operators.Similarity.embeddingGram(spark, Sf0001))
    assert(p.contains("partial_gram_sum_l"),
      s"gram matrix lost its map-side combine:\n$p")
    // exactly one Generate: the d^2-row explode of the SINGLE aggregated
    // array — never a per-input-row explode below the aggregate
    val generates = "Generate".r.findAllIn(p).length
    assert(generates === 1, s"expected one post-agg explode, got $generates:\n$p")
  }

  test("ngram_novelty first-occurrence argmin partial-aggregates map-side") {
    val p = physical(graft.operators.CorpusOps.ngramNovelty(spark, Sf0001))
    assert(p.contains("partial_min"), s"first-doc argmin lost map-side combine:\n$p")
  }

  test("reservoir_sample ships bounded top-k partials, never a window") {
    val p = physical(graft.operators.CorpusOps.reservoirSample(spark, Sf0001))
    assert(p.contains("partial_top_k_rows"), s"sample lost map-side bounding:\n$p")
    assert(!p.contains("Window"), s"sample degenerated to a window plan:\n$p")
  }

  test("topk_sort plans as TakeOrderedAndProject, never a global sort") {
    val p = physical(graft.operators.Relational.topkSort(spark, Sf0001))
    assert(p.contains("TakeOrderedAndProject"), s"top-k fell back to a sort:\n$p")
  }

  test("similarity_search top-k is TakeOrderedAndProject (scan + k-row merge)") {
    val p = physical(graft.operators.Similarity.similaritySearch(spark, Sf0001))
    assert(p.contains("TakeOrderedAndProject"), s"top-k fell back to a sort:\n$p")
  }

  test("pq_search plans join-free: one scan, LUT expressions, TakeOrdered") {
    val p = physical(graft.operators.Similarity.pqSearch(spark, Sf0001))
    assert(p.contains("TakeOrderedAndProject"), s"top-k fell back to a sort:\n$p")
    assert(!p.contains("Exchange"), s"PQ ADC scan must not shuffle:\n$p")
    assert(!p.contains("Join"), s"PQ ADC scan must not join:\n$p")
  }

  test("ivfpq_search composes cell filter + ADC with no join, no shuffle") {
    val p = physical(graft.operators.Similarity.ivfpqSearch(spark, Sf0001))
    assert(p.contains("TakeOrderedAndProject"), s"top-k fell back to a sort:\n$p")
    assert(!p.contains("Exchange"), s"IVF-PQ scan must not shuffle:\n$p")
    assert(!p.contains("Join"), s"IVF-PQ scan must not join:\n$p")
  }

  test("vocab_topk plans partial count + TakeOrderedAndProject (no full collect)") {
    val p = physical(graft.operators.Relational.vocabTopk(spark, Sf0001))
    assert(p.contains("TakeOrderedAndProject"), s"top-k fell back to a sort:\n$p")
    assert(p.contains("partial_"), s"no map-side partial count in:\n$p")
  }

  test("sales_totals aggregates map-side first (partial sum before the shuffle)") {
    val p = physical(graft.operators.ReferenceOps.salesTotals(spark, Sf0001))
    assert(p.contains("partial_"), s"no partial aggregation in:\n$p")
  }

  test("hot projections run inside whole-stage codegen") {
    val p = executedPhysical(graft.operators.ReferenceOps.recordProjection(spark, Sf0001))
    assert(p.contains("*("), s"projection fell out of codegen:\n$p")
  }

  test("custom expressions (fnv1a32, wire codec) stay inside whole-stage codegen") {
    val p = executedPhysical(graft.operators.ReferenceOps.customPartition(spark, Sf0001))
    assert(p.contains("*("), s"fnv1a32 broke the codegen span:\n$p")
    val w = executedPhysical(graft.operators.ReferenceOps.wireFormatRoundtrip(spark, Sf0001))
    assert(w.contains("*("), s"wire codec broke the codegen span:\n$w")
  }

  test("grouped_topk partial-aggregates map-side (bounded rows cross the shuffle)") {
    val p = physical(graft.operators.Relational.groupedTopk(spark, Sf0001))
    assert(p.contains("partial_top_k_rows"), s"no map-side partial top-k in:\n$p")
    assert(!p.contains("Window"), s"top-k fell back to a window shuffle:\n$p")
  }

  test("contrastive_negatives top-k partial-aggregates map-side; " +
    "exact_median ranks without a global window or extra exchanges") {
    val p = physical(
      graft.operators.Similarity.contrastiveNegatives(spark, Sf0001))
    assert(p.contains("partial_top_k_rows"),
      s"negative mining lost its bounded map-side top-k:\n$p")
    assert(!p.contains("Window"), s"negative mining fell back to a window:\n$p")
    val m = physical(graft.operators.Relational.exactMedian(spark, Sf0001))
    // round 13: the rank is now windowLESS over the data (local sort +
    // monotonically_increasing_id packing); the only window allowed is
    // the helper's bounded ≤numParts-row offsets frame, which sits above
    // an aggregate grouped solely by the partition id
    val unpart = graft.operators.Relational.exactMedian(spark, Sf0001)
      .queryExecution.executedPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
            if w.partitionSpec.isEmpty => w
      }
    unpart.foreach { w =>
      val aggs = w.child.collect {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
      }
      assert(aggs.nonEmpty && aggs.forall(_.groupingExpressions.forall(g =>
        g.name == "_gr_pid" || g.references.forall(_.name == "_gr_pid"))),
        s"exact_median's unpartitioned window is not the bounded " +
          s"per-partition offsets frame:\n$m")
    }
    // and the DATA-sized path must carry no window at all: every window
    // input must be the pid-count frame, never the cents rows
    assert(unpart.size <= 1, s"exact_median grew extra global windows:\n$m")
  }

  test("grouped_topk returns exactly ranking_window's rows") {
    val a = graft.operators.Relational.groupedTopk(spark, Sf0001)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    val b = graft.operators.Relational.rankingWindow(spark, Sf0001)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(a === b && a.nonEmpty)
  }

  test("corr_report scan reads only the three columns the moments need") {
    val ex = formatted(graft.operators.Relational.corrReport(spark, Sf0001))
    val readSchema = ex.linesIterator.find(_.contains("ReadSchema:")).getOrElse("")
    assert(readSchema.contains("l_returnflag") && readSchema.contains("l_quantity") &&
      readSchema.contains("l_extendedprice"), s"missing needed columns: $readSchema")
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_shipdate"),
      s"scan reads columns the moments never use: $readSchema")
  }

  test("running_total pushes the purchase filter into the events scan") {
    val ex = formatted(graft.operators.Relational.runningTotal(spark, Sf0001))
    assert(ex.contains("PushedFilters:") && ex.contains("EqualTo(event_type,purchase)"),
      s"event_type predicate did not reach the scan:\n$ex")
  }

  test("corr_report computes all moments in one partial-aggregated pass") {
    val p = physical(graft.operators.Relational.corrReport(spark, Sf0001))
    assert(p.contains("partial_"), s"no map-side partial moments in:\n$p")
    // one scan feeds all six aggregates — no self-join of lineitem
    assert(!p.contains("Join"), s"moment computation degenerated to a join:\n$p")
  }

  test("grouping_sets_report uses a single Expand, not a union of aggregates") {
    val p = physical(graft.operators.Relational.groupingSetsReport(spark, Sf0001))
    assert(p.contains("Expand"), s"grouping sets did not plan through Expand:\n$p")
    assert(!p.contains("Union"), s"grouping sets planned as a union of aggregates:\n$p")
  }

  test("ann_ivf_search plans join-free: scan → argmax filter → TakeOrdered") {
    val p = physical(graft.operators.Similarity.annIvfSearch(spark, Sf0001))
    assert(p.contains("TakeOrderedAndProject"), s"top-k fell back to a sort:\n$p")
    assert(!p.contains("Join"), s"literal-codebook assignment regressed to a join:\n$p")
    assert(!p.contains("Exchange"), s"IVF search should have zero shuffles:\n$p")
  }

  test("embedding_neardup bands hash into >16 buckets (linear-ish pair forming)") {
    // 2 bands × 8 bits = 256 buckets per band; a 4-plane single table (16
    // buckets) made within-bucket pair formation quadratic at corpus scale.
    import spark.implicits._
    val perBand = Tables.embeddings(spark, Sf0001)
      .select((graft.operators.Similarity.lshBucket($"embedding", planes = 16) % 256).as("b0"))
      .distinct().count()
    assert(perBand > 16, s"band bucket space collapsed to $perBand buckets")
  }

  test("ktable_latest partial-aggregates the argmax map-side") {
    // The KTable materialization must ship ONE row per (key, partition)
    // across the shuffle — a partial max_by before the exchange — not the
    // whole changelog (which is what a row_number-window plan would do).
    val p = physical(graft.operators.Relational.ktableLatest(spark, Sf0001))
    assert(p.contains("partial_max_by"), s"no map-side partial argmax:\n$p")
    assert(!p.contains("Window"), s"ktable_latest fell back to a window plan:\n$p")
  }

  test("domain_cap partial-aggregates the bounded top-k map-side") {
    val p = physical(graft.operators.TextAnalysis.domainCap(spark, Sf0001, 25))
    assert(p.contains("partial_top_k_rows"), s"no map-side partial top-k:\n$p")
  }

  test("unpivot_metrics plans one Expand over one scan, not a 4-scan union") {
    val p = physical(graft.operators.Relational.unpivotMetrics(spark, Sf0001))
    assert(p.contains("Expand"), s"unpivot did not plan through Expand:\n$p")
    assert(!p.contains("Union"), s"unpivot degenerated to a union of scans:\n$p")
    assert("FileScan".r.findAllIn(p).size == 1, s"more than one scan:\n$p")
  }

  test("corr_matrix computes all 15 moments in ONE scan, no per-pair subtrees") {
    val p = physical(graft.operators.Relational.corrMatrix(spark, Sf0001))
    assert("FileScan".r.findAllIn(p).size == 1,
      s"pairwise moments re-scanned the table:\n$p")
    assert(!p.contains("Join"), s"unexpected join in the moment plan:\n$p")
    assert(p.contains("Expand") || p.contains("Generate"),
      s"melt stage missing:\n$p")
  }

  test("correlated_subquery decorrelates to one aggregate + join") {
    // Catalyst must rewrite the per-row correlated scalar subquery into a
    // per-part aggregate joined back — never a subquery evaluated per row.
    val p = physical(graft.operators.Relational.correlatedSubquery(spark, Sf0001))
    assert(p.contains("Join"), s"no join in decorrelated plan:\n$p")
    assert(!p.contains("Subquery"), s"subquery survived decorrelation:\n$p")
  }

  test("bloom_prune_join pre-filters the fact scan before the join exchange") {
    val p = physical(graft.operators.Scale.bloomPruneJoin(spark, Sf0001))
    // The might_contain predicate must sit in a Filter over the lineitem
    // scan (pre-shuffle semi-join reduction), with the bloom arriving as a
    // scalar subquery — never a driver-side collect.
    assert(p.contains("might_contain"), s"no bloom pre-filter in plan:\n$p")
    assert(p.contains("Subquery"), s"bloom not fed via scalar subquery:\n$p")
  }

  test("shuffle budgets: core aggregations stay within their exchange count") {
    // Pre-AQE physical plans are deterministic — pin the number of
    // Exchanges so a refactor can't silently add a shuffle. Budget = the
    // aggregation shuffle + the final orderBy range exchange.
    val budgets: Seq[(String, DataFrame, Int)] = Seq(
      ("sales_totals", graft.operators.ReferenceOps.salesTotals(spark, Sf0001), 2),
      ("ktable_latest", graft.operators.Relational.ktableLatest(spark, Sf0001), 2),
      ("doc_dedup_exact", graft.operators.DocDedup.docDedupExact(spark, Sf0001), 2),
      ("user_journey", graft.operators.Relational.userJourney(spark, Sf0001), 2),
      // ONE real repartition(doc_id) shuffle feeds every aggregation and
      // the count⋈total join (subset clustering): the matcher also counts
      // its ReusedExchange on the second branch, the small-stats
      // BroadcastExchange join choice, and the final orderBy range = 4
      // budget the INTERNAL frame: the query itself now reads a memoized
      // checkpoint (shared with quality_ensemble), hiding the shape
      ("entropy_score", graft.operators.TextAnalysis.entropyFrameBuild(spark, Sf0001), 4),
      ("domain_cap", graft.operators.TextAnalysis.domainCap(spark, Sf0001, 25), 2),
      // lag window, running-sum window, and the session aggregate must all
      // reuse ONE user_id exchange (subset-clustering satisfies the agg);
      // budget = that + the final orderBy range exchange.
      ("dynamic_sessions", graft.operators.Relational.dynamicSessionize(spark, Sf0001), 2),
      // hourly-count agg + per-type stats agg + stats broadcast back +
      // final orderBy range; the hourly exchange is reused by both readers
      ("burst_detection", graft.operators.Relational.burstDetection(spark, Sf0001), 5),
      // per-user decay agg + 1-row anchor broadcast + final orderBy range
      ("decayed_counts", graft.operators.Relational.decayedCounts(spark, Sf0001), 4),
      // part-dim broadcast + ONE l_partkey window shuffle + brand agg +
      // final orderBy range — the window exchange serves mean AND filter
      ("small_qty_revenue", graft.operators.Relational.smallQtyRevenue(spark, Sf0001), 4),
      // per-order agg + the two post-cut join exchanges + final sort
      ("big_orders", graft.operators.Relational.bigOrders(spark, Sf0001), 4),
      // ONE l_orderkey fact exchange reused by pair-groupBy AND both
      // windows (subset clustering) + supplier broadcast + suppkey agg +
      // final orderBy range
      ("waiting_suppliers", graft.operators.Relational.waitingSuppliers(spark, Sf0001), 4))
    budgets.foreach { case (name, df, budget) =>
      val n = "Exchange".r.findAllIn(physical(df)).size
      assert(n <= budget, s"$name plans $n exchanges (budget $budget)")
    }
  }

  test("no declared query plans a cartesian product or nested-loop join") {
    // Deliberate exceptions: ANN probes join a 1-row probe table against
    // every embedding — a broadcast nested loop of a bounded tiny side is
    // the intended linear scan, not a blow-up. time_gapfill's grid is
    // hours × distinct types: both sides bounded aggregates, never O(rows).
    val allowNestedLoop = Set("similarity_search", "contrastive_negatives",
      "quantize_recall_eval", "ngram_jaccard",
      "ann_lsh_search", "time_gapfill", "ann_recall_eval", "pq_recall_eval",
      "revenue_share", // 1-row scalar total broadcast onto 3 group rows
      "tfidf_topk",    // 1-row corpus-size N broadcast onto (doc,term) rows
      "source_mix",    // 1-row corpus-totals broadcast onto per-source rows
      "ann_multiprobe", // 1-row probe broadcast, bucket isin-filter scan
      "mixture_resample", // 1-row corpus-totals broadcast onto per-source rows
      "bm25_topk",     // 1-row (sum_dl, n_docs) broadcast onto hit rows
      "cooccur_pmi",   // 1-row (t_uni, t_pair) broadcast onto vocab pairs
      "skew_profile",  // 1-row total broadcast onto the top-k hot keys
      "rrf_fusion",    // 1-row probe + 1-row corpus stats broadcast (both arms)
      "stratified_sample", // 1-row min-stratum target broadcast onto the scan
      "scd2_slice",    // 1-row as-of instant T broadcast onto the version table
      "pair_graph_pagerank", // 1-row node-count N broadcast onto the degree table
      "bpe_apply",     // 1-row winner merge rule broadcast onto the vocabulary
      "decayed_counts", // 1-row max-ts anchor broadcast onto the scan
      "lang_drift",    // sources × langs grid: both sides bounded dim aggregates
      "join_size_estimate", // two 1-row sketch frames + 1-row exact count
      "top_supplier",  // 1-row global-max revenue broadcast onto suppliers
      "range_bounds",  // 1-row target-rows broadcast onto the 8 bucket rows
      "idle_customers", // 1-row avg-balance threshold broadcast onto customers
      "ks_drift",      // 1-row (na, nb) totals broadcast onto the value grid
      "freshness_sla", // 1-row global-max broadcast onto the |types|-row frame
      "dsir_weights",  // 1-row (ntv, nrv) totals broadcast onto occurrences
      "pareto_share",  // 1-row total-revenue broadcast onto the 10 deciles
      "rfm_segments",  // 1-row anchor-day broadcast onto per-customer aggs
      "benford_check", // 1-row order-total broadcast onto the 9 digits
      "seasonality_dow", // 1-row cents-total broadcast onto the 7 weekdays
      "chi2_drift",    // 1-row grand-total broadcast onto the 10 cells
      "gini_revenue",  // 1-row (n, total) broadcast onto per-cust ranks
      "basket_pairs",  // 1-row distinct-order total broadcast onto pair rows
      "rendezvous_shards", // 1-row total broadcast onto the 8 shard rows
      "token_budget",  // two 1-row scalar broadcasts onto |sources| rows
      "idle_rich_customers", // 1-row (total, n) broadcast onto customers
      "mixture_temperature", // two 1-row scalar broadcasts onto |sources| rows
      "ann_nprobe_frontier", // 1-row hit/scan/total aggregates joined per nprobe
      "cusum_changepoint", // 1-row (n_days, total) broadcast onto the day grid
      "dedup_threshold_sweep", // 3-row literal threshold dim onto the pair set
      "graph_modularity", // 1-row edge-count broadcast onto |communities| rows
      "kmv_set_ops",   // |types|-row sketch aggregate broadcast, non-equi pair join
      "autocorr_daily", // 1-row (n, s) totals broadcast onto the |days| frame
      "pair_budget_governor", // 1-row chosen-level aggregate onto the 4 ladder rows
      "governor_recall", // 1-row survival-count aggregate onto the 4 ladder rows
      "governor_recall_floor") // 1-row truth + 1-row pick aggregates onto the 4 ladder rows
    SparkEntry.queries.foreach { case (name, fn) =>
      val plan = fn(spark, Sf0001).queryExecution.executedPlan
      val p = plan.toString
      assert(!p.contains("CartesianProduct"), s"$name plans a cartesian product:\n$p")
      if (!allowNestedLoop(name))
        assert(!p.contains("BroadcastNestedLoopJoin"),
          s"$name plans a nested-loop join:\n$p")
      else
        // structural floor under the allowlist prose: every BNLJ's
        // broadcast side must be a REDUCED frame — an aggregate (1-row
        // totals / dim grids), a limit (top-k probes), a filter
        // (key-selected probe rows), or a driver-literal local table —
        // never an unfiltered scan of a full table
        plan.collect {
          case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
        }.foreach { j =>
          val bcast = j.buildSide match {
            case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.left
            case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.right
          }
          val reduced = bcast.collect {
            case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
            case l: org.apache.spark.sql.execution.GlobalLimitExec => l
            case l: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => l
            case f: org.apache.spark.sql.execution.FilterExec => f
            case t: org.apache.spark.sql.execution.LocalTableScanExec => t
          }
          assert(reduced.nonEmpty,
            s"$name is allowlisted for BNLJ but broadcasts an unreduced " +
              s"frame:\n$bcast")
        }
    }
  }

  test("no declared query force-broadcasts an SF-scaled base table") {
    // The round-11 finding: a `broadcast()` hint overrides BOTH the
    // 10 MiB statistics threshold AND AQE, so a hint on a table that
    // grows with SF (supplier is 1k/10k/20k rows at sf0.1/sf1/sf2; part
    // 20k/200k/400k) is a driver-OOM scale-killer at the 100 TB design
    // point even though every fixture tier happily broadcasts it. The
    // rule (see [[boundedPlan]]): a hint subtree must be BOUNDED by
    // construction on every root-to-leaf path — a global aggregate, a
    // limit, a bounded-enum-grouped aggregate, or only bounded leaves
    // (nation/region, ≤25 rows by schema construction; driver-literal
    // local tables; ranges). Unhinted joins are exempt: statistics/AQE
    // may freely broadcast a small side at a small tier, because the
    // same plan degrades gracefully to a shuffle join at scale.
    import org.apache.spark.sql.catalyst.plans.logical._
    // (1) Literal-key probe exceptions: the broadcast side is a slice of
    // a scaled table selected by comparing a BARE key attribute to a
    // literal (`vec_id = 0`, `vec_id < 8`, a literal-keyed batch id) —
    // O(1) rows at any SF because the probe id set is fixed by the
    // query, not by the data. Structural floor (enforced below): the
    // hint subtree must contain a Filter whose predicate compares a bare
    // attribute (not an expression OF an attribute — `doc_id % 50 = 0`
    // selects 2% of the corpus and does NOT qualify) to a literal.
    val allowFilterProbe: Map[String, String] = Map(
      "minhash_incremental" ->
        "broadcast side is the literal-keyed incremental batch slice",
      "dedup_clusters_incremental" ->
        "broadcast side is the literal-keyed incremental batch slice",
      "similarity_search" -> "1-row probe: vec_id = 0",
      "rrf_fusion" -> "1-row probe: vec_id = 0",
      "ann_multiprobe" -> "1-row probe: vec_id = 0",
      "ann_lsh_search" -> "1-row probe: vec_id = 0",
      "ngram_jaccard" -> "1-row probe doc: doc_id = 0",
      "ann_nprobe_frontier" -> "8-row probe set: vec_id < 8",
      "contrastive_negatives" -> "8-row probe set: vec_id < 8",
      "pq_recall_eval" -> "8-row probe set: vec_id < 8",
      "ann_ndcg" -> "8-row probe set: vec_id < 8",
      "ann_recall_eval" -> "8-row probe set: vec_id < 8",
      "quantize_recall_eval" -> "8-row probe set: vec_id < 8")
    // (2) Round-13 tightening (the tfidf_topk loophole): an Aggregate
    // only counts as "reduced by construction" when its GROUPING is
    // bounded — a global aggregate (1 row), or grouping keys drawn from
    // an enum-like domain bounded by the data model, never by row count.
    // `groupBy(term)` over a corpus is an Aggregate, but a vocabulary
    // grows with the corpus (Heaps' law), so it must not satisfy the
    // broadcast pin. Grouping-key-bounded hints need an entry here naming
    // the allowed grouping columns; the walk then requires every
    // bounding Aggregate/Deduplicate to group ONLY by those columns (the
    // structural floor under the prose). Domains: event_type is a 5-value
    // enum, lang/source are generator enums (≤6), l_returnflag is TPC-H's
    // {A,N,R}, o_orderpriority 5 values, yr is 2 years by the filter.
    val allowBoundedGroupAgg: Map[String, (Set[String], String)] = Map(
      "lang_drift" -> (Set("lang", "source"), "lang/source generator enums"),
      // the per-lang rank-offset frame (min rank + count per lang):
      // withGlobalRank's rank is one plan (broadcast per-partition
      // offsets, no collected literals), so this walk sees its lineage
      "perplexity_buckets" -> (Set("lang"), "lang generator enum"),
      "distinct_users_approx" -> (Set("event_type"), "5-value event enum"),
      "anomaly_zscore" -> (Set("event_type"), "5-value event enum"),
      "burst_detection" -> (Set("event_type"), "5-value event enum"),
      "kmv_set_ops" -> (Set("event_type"), "5-value event enum"),
      "time_gapfill" -> (Set("event_type"), "5-value event enum"),
      "loglin_quantiles" -> (Set("l_returnflag"), "TPC-H 3-value flag"),
      "winsorized_stats" -> (Set("l_returnflag"), "TPC-H 3-value flag"),
      "chi2_drift" -> (Set("o_orderpriority", "yr"),
        "5-value priority enum x 2 filtered years"),
      "stratified_sample" -> (Set("source"), "source generator enum"))
    // (3) Semantically-bounded exceptions: frames a structural walk
    // cannot prove bounded, where the bound comes from the data model's
    // MEANING. Each entry's floor: a Filter must exist in the subtree,
    // and for max-tie slices a global aggregate must feed it.
    val allowSemanticBounded: Map[String, String] = Map(
      "top_supplier" -> ("tied-winners slice: equality filter against the " +
        "broadcast 1-row global max — ≤ #ties rows at any SF"),
      "decontaminate" -> ("benchmark grams: an eval SUITE is " +
        "deployment-bounded (the doc_id % 50 slice is a fixture stand-in " +
        "for a fixed held-out set that does not grow with the corpus)"),
      "decontaminate_pairs" -> ("benchmark grams: an eval SUITE is " +
        "deployment-bounded (fixture stand-in slice), further df-capped " +
        "at maxBenchDf"))
    def isProbeFilter(f: Filter): Boolean = {
      import org.apache.spark.sql.catalyst.expressions._
      def bareAttr(e: Expression): Boolean = e match {
        case _: Attribute => true
        case c: Cast => bareAttr(c.child)
        case _ => false
      }
      def conjuncts(e: Expression): Seq[Expression] = e match {
        case And(l, r) => conjuncts(l) ++ conjuncts(r)
        case other => Seq(other)
      }
      conjuncts(f.condition).exists {
        case b: BinaryComparison =>
          (bareAttr(b.left) && b.right.foldable) ||
            (bareAttr(b.right) && b.left.foldable)
        case _ => false
      }
    }
    val violations = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.foreach { case (name, fn) =>
      val analyzed = fn(spark, Sf0001).queryExecution.analyzed
      val hints = analyzed.collect {
        case h: ResolvedHint if h.hints.strategy.exists(
          _.toString.toUpperCase.contains("BROADCAST")) => h
      }
      hints.foreach { h =>
        val cols = allowBoundedGroupAgg.get(name).map(_._1).getOrElse(Set.empty)
        if (!boundedPlan(h.child, cols)) {
          if (allowFilterProbe.contains(name)) {
            // floor: a bare-attribute-vs-literal Filter must exist
            val probe = h.child.collect { case f: Filter => f }.exists(isProbeFilter)
            if (!probe)
              violations += s"$name is allowlisted as a literal-key probe " +
                s"broadcast but its hint subtree has no bare-attribute-vs-" +
                s"literal Filter:\n${h.child}"
          } else if (allowSemanticBounded.contains(name)) {
            // floor: the slice selector must exist; tied-winner slices
            // must be fed by a 1-row global aggregate
            val hasFilter = h.child.collectFirst { case f: Filter => f }.nonEmpty
            val needsGlobalAgg = name == "top_supplier"
            val hasGlobalAgg = h.child.collectFirst {
              case a: Aggregate if a.groupingExpressions.isEmpty => a
            }.nonEmpty
            if (!hasFilter || (needsGlobalAgg && !hasGlobalAgg))
              violations += s"$name is allowlisted as semantically bounded " +
                s"but fails its structural floor (filter=${hasFilter}, " +
                s"globalAgg=${hasGlobalAgg}):\n${h.child}"
          } else {
            violations += s"$name broadcast-hints a subtree that is not " +
              s"bounded by construction — no global aggregate/limit/" +
              s"bounded-group aggregate on every path to its SF-scaled " +
              s"leaves (grouping aggregates over unbounded keys do NOT " +
              s"count: a vocabulary/user/key table grows with the data) " +
              s"— a forced unbounded broadcast at 100 TB:\n${h.child}"
          }
        }
      }
    }
    assert(violations.isEmpty,
      s"${violations.size} unbounded forced broadcast(s):\n\n" +
        violations.mkString("\n\n"))
  }

  test("boundedPlan walk (negative control): rejects the round-12 tfidf " +
      "vocabulary-broadcast loophole shapes") {
    // Proves the walk MATCHES something — guards against a refactor that
    // silently stops seeing scaled leaves or aggregates. Three shapes:
    // (1) the old tfidf df frame: groupBy(unbounded key) over a scaled
    //     leaf — an Aggregate, but NOT bounded;
    // (2) that same frame joined with a 1-row global agg — the collectFirst
    //     loophole: a global agg exists in the subtree, output still
    //     vocabulary-sized;
    // (3) the fixed shapes: a global agg, and a Limit, both bounded.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = Tables.documents(spark, Sf0001)
    val vocabDf = docs
      .select(explode(split($"text", " ")).as("term"))
      .groupBy($"term").agg(count(lit(1)).as("df"))
    assert(!boundedPlan(vocabDf.queryExecution.analyzed, Set.empty),
      "groupBy(term) over a scaled leaf must NOT count as bounded")
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val joined = vocabDf.crossJoin(n)
    assert(!boundedPlan(joined.queryExecution.analyzed, Set.empty),
      "a 1-row agg joined onto a vocabulary frame must NOT bound the join")
    assert(boundedPlan(n.queryExecution.analyzed, Set.empty),
      "a global aggregate is bounded")
    assert(boundedPlan(docs.limit(10).queryExecution.analyzed, Set.empty),
      "a Limit is bounded")
    // the declared-enum escape hatch: the same grouping is accepted only
    // when the query allowlists the grouping column
    assert(boundedPlan(vocabDf.queryExecution.analyzed, Set("term")),
      "an allowlisted grouping column bounds the aggregate")
  }

  test("local_volume's order-year cut reaches the orders scan as a pushed filter") {
    // `year(o_orderdate) = 1997` is a function predicate — parquet can't
    // evaluate it against row-group min/max stats, so the orders scan
    // would read EVERY row group at any scale. The half-open range
    // literal form is pushdown-eligible; this pin keeps it that way.
    val ex = formatted(graft.operators.Relational.localVolume(spark, Sf0001))
    val ordersScan = ex.split("\n\n").find(s =>
      s.contains("orders.parquet") || s.contains("orders"))
    assert(ex.contains("PushedFilters"), s"no pushed filters at all:\n$ex")
    assert(ex.contains("o_orderdate"), s"orderdate absent from plan:\n$ex")
    val pushedLines = ex.split("\n").filter(_.contains("PushedFilters"))
    assert(pushedLines.exists(l => l.contains("GreaterThanOrEqual(o_orderdate") &&
        l.contains("LessThan(o_orderdate")),
      s"orders date range not in PushedFilters:\n${pushedLines.mkString("\n")}")
  }

  test("no declared query runs a window with an empty partition spec") {
    // A `Window.orderBy` without partitionBy funnels EVERY row through one
    // task — the classic 100 TB scale-killer. pareto_share, rfm_segments,
    // gini_revenue, exact_median, range_bounds and the rest rank through
    // Scale.withGlobalRank; ks_drift and cusum_changepoint accumulate
    // through Scale.withGlobalCumsum: one plan each, range partitions plus
    // broadcast per-partition offsets, no driver collect. The allowlist
    // names the frames that are GRID-SIZED by construction — the window
    // input is a bounded aggregate (days, distinct grid values, top-k
    // arms, deciles), never O(input rows).
    val allowBounded = Set(
      "daily_revenue_ma7", // |days| rows
      "revenue_bridge",   // |days| rows (day-over-day lag)
      "rrf_fusion",       // two ≤20-row retrieval arms
      "pareto_share",     // 10 decile rows (cumulative share)
      "time_gapfill",     // hours × types grid
      "benford_check",    // 9 digit rows
      "chi2_drift",       // sources × buckets grid
      "seasonality_dow",  // 7 weekday rows
      "cms_calibration",  // heavy-hitter grid (bounded sketch width)
      "new_vs_returning", // |days| rows
      "minhash_calibration", // similarity-bucket grid
      "lang_id_eval",     // |langs|² confusion grid
      "pq_recall_eval",   // 8 probes × top-5
      "ann_recall_eval",  // 8 probes × top-5
      "ann_ndcg",         // 8 probes × top-5
      "zipf_slope",       // top-1024 vocabulary head (orderBy.limit)
      "autocorr_daily")   // |days| rows (7 lead lags over the day series)
    // Structural exemption: the Scale global-order helpers'
    // per-partition offset windows run unpartitioned over a frame the
    // helper itself aggregated down to ≤numParts rows — grouped ONLY by
    // the helper-owned partition-id column (spark_partition_id aliased
    // to _gr_pid/_gc_pid/_gm_pid), so the window input is bounded by the
    // PARTITION COUNT (config), never by row count. The check is
    // structural: every aggregate below the window must group only by
    // those helper-owned pid columns.
    val helperPids = Set("_gr_pid", "_gc_pid", "_gm_pid")
    def isHelperOffsetWindow(
        w: org.apache.spark.sql.execution.window.WindowExec): Boolean = {
      import org.apache.spark.sql.catalyst.expressions.{Alias, Cast, ExprId, SparkPartitionID}
      val aggs = w.child.collect {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
      }
      // ADVICE r13: a matching NAME is not enough — a future query
      // aliasing a data-sized column to _g?_pid would silently bypass
      // this sweep. Require the grouping attribute to resolve to a
      // spark_partition_id() alias somewhere below the window (the
      // analyzer's PullOutNondeterministic project), so the group count
      // is provably the child's partition count.
      def definesPid(id: ExprId): Boolean =
        w.child.collect { case node => node.expressions }.flatten.exists(
          _.collect {
            case al: Alias if al.exprId == id =>
              (al.child match {
                case c: Cast => c.child
                case o => o
              }).isInstanceOf[SparkPartitionID]
          }.contains(true))
      aggs.nonEmpty && aggs.forall(_.groupingExpressions.forall { g =>
        val refs = g.references.toSeq
        (helperPids(g.name) || refs.forall(r => helperPids(r.name))) &&
          refs.forall(r => definesPid(r.exprId)) &&
          (refs.nonEmpty || g.collectFirst {
            case _: SparkPartitionID => true }.nonEmpty)
      })
    }
    SparkEntry.queries.foreach { case (name, fn) =>
      val unpart = fn(spark, Sf0001).queryExecution.executedPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
            if w.partitionSpec.isEmpty && !isHelperOffsetWindow(w) => w
      }
      if (!allowBounded(name))
        assert(unpart.isEmpty,
          s"$name runs a window with no partition spec (single-task sort " +
            s"of the full input at scale):\n${unpart.headOption.getOrElse("")}")
      else
        // the allowlist claims are STRUCTURAL, not just prose (the round-6
        // range_bounds comment under-described its window input): every
        // allowlisted unpartitioned window must sit ABOVE a cardinality-
        // reducing node — an aggregate (grid/day/bucket frames) or a
        // limit (top-k arms) — so its input can never be the raw scan
        unpart.foreach { w =>
          val reduced = w.child.collect {
            case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
            case l: org.apache.spark.sql.execution.LocalLimitExec => l
            case l: org.apache.spark.sql.execution.GlobalLimitExec => l
            case l: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => l
          }
          assert(reduced.nonEmpty,
            s"$name is allowlisted as grid-bounded but its unpartitioned " +
              s"window reads no aggregate/limit — the bound claim is " +
              s"false:\n${w.child}")
        }
    }
  }
}
