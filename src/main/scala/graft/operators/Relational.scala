package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.functions.{money_cents, money_dec2, unscaled_decimal}
import graft.operators.ReferenceOps.moneySum
import graft.streaming.StreamOps

/** Relational capability closure (SURVEY.md §2 Part B): joins, window
  * functions, time windows, set ops, rollup, top-k, dedup. All plans are
  * pure `Column` expressions; scale notes per operator. Canonical
  * `orderBy` of a unique key everywhere for oracle determinism.
  */
object Relational {

  /** Exact revenue Σ extendedprice·(1−discount): both factors go through
    * DECIMAL(18,2) so the product and sum are exact decimals (order- and
    * partitioning-insensitive), then one cast back to double. Round 14:
    * the product is built from unscaled cents — one long multiply per
    * row where `(18,2) × (19,2)` multiplied java.math.BigDecimals — with
    * the same DECIMAL(38,4) type and values (cents·(100−disc_cents) <
    * 2^63 is a per-row DOMAIN bound — prices don't grow with the corpus,
    * so the fast path is safe at 100 TB too. Out of that domain the long
    * multiply wraps silently in non-ANSI mode, giving a wrong in-range
    * decimal, not the null the old decimal cast gave on overflow). */
  def revenueExact(price: Column, discount: Column): Column =
    sum(unscaled_decimal(
      money_cents(price) * (lit(100L) - money_cents(discount)), 38, 4))
      .cast(DoubleType)

  /** NS: the KStream–KTable equi-join. Fact-fact shuffle join on the key —
    * at 100 TB both sides partition on the join key; AQE handles skew. */
  def equiJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), $"o_custkey" === $"c_custkey", "inner")
      .select($"o_orderkey", $"o_custkey", $"c_name", $"c_mktsegment", $"o_totalprice")
      .orderBy($"o_orderkey")
  }

  /** NS: TPC-H Q5-shaped multi-join + aggregate — revenue by customer
    * nation. `nation`/`region` are bounded dims → explicit broadcast;
    * the fact-fact joins (lineitem⋈orders⋈customer) shuffle on their keys.
    */
  def multiJoinAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
    val o  = Tables.orders(spark, dir)
    val c  = Tables.customer(spark, dir)
    val n  = Tables.nation(spark, dir)
    val r  = Tables.region(spark, dir)
    li.join(o, $"l_orderkey" === $"o_orderkey")
      .join(c, $"o_custkey" === $"c_custkey")
      .join(broadcast(n), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(r), $"n_regionkey" === $"r_regionkey")
      .groupBy($"n_name", $"r_name")
      .agg(
        revenueExact($"l_extendedprice", $"l_discount").as("revenue"),
        count(lit(1)).as("n_lineitems"))
      .orderBy($"n_name")
  }

  /** NS: full-outer join as a reconciliation report — building-segment
    * customers vs high-value orders, null-extended on whichever side has
    * no counterpart (both unmatched classes genuinely occur: segment
    * customers without big orders AND big orders from other segments).
    * Same shuffle shape as the inner join; only match-emission differs.
    */
  def fullOuterJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.customer(spark, dir)
      .filter($"c_mktsegment" === "BUILDING")
      .join(Tables.orders(spark, dir).filter($"o_totalprice" > 300000.0),
        $"c_custkey" === $"o_custkey", "full_outer")
      .select($"c_custkey", $"c_mktsegment", $"o_orderkey", $"o_totalprice",
        when($"o_orderkey".isNull, "customer_only")
          .when($"c_custkey".isNull, "order_only")
          .otherwise("matched").as("side"))
      .orderBy($"c_custkey".asc_nulls_first, $"o_orderkey".asc_nulls_first)
  }

  /** NS: semi/anti join — customers with and without orders, tagged. */
  def semiAntiJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    val semi = c.join(o, $"c_custkey" === $"o_custkey", "left_semi")
      .select($"c_custkey", lit("has_orders").as("status"))
    val anti = c.join(o, $"c_custkey" === $"o_custkey", "left_anti")
      .select($"c_custkey", lit("no_orders").as("status"))
    semi.unionAll(anti).orderBy($"c_custkey")
  }

  /** NS (Kafka Streams tumbling window): [[StreamOps.windowedAgg]]. */
  def windowedAgg(spark: SparkSession, dir: String): DataFrame =
    StreamOps.windowedAgg(Tables.events(spark, dir))
      .orderBy(col("w_start"), col("event_type"))

  /** NS (hopping window): [[StreamOps.slidingWindow]]. */
  def slidingWindow(spark: SparkSession, dir: String): DataFrame =
    StreamOps.slidingWindow(Tables.events(spark, dir))
      .orderBy(col("w_start"), col("event_type"))

  /** NS (session window): [[StreamOps.sessionWindow]]. */
  def sessionWindow(spark: SparkSession, dir: String): DataFrame =
    StreamOps.sessionWindow(Tables.events(spark, dir))
      .orderBy(col("user_id"), col("session_start"))

  /** NS: top-3 purchases per user — rank inside a key partition. One
    * shuffle on user_id; rank+filter is map-side after that. */
  def rankingWindow(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"value".desc, $"event_id")
    Tables.events(spark, dir)
      .filter($"event_type" === "purchase")
      .withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= 3)
      .select($"user_id", $"rnk", $"event_id", $"value")
      .orderBy($"user_id", $"rnk")
  }

  /** NS: per-group top-k WITHOUT the window shuffle — the custom bounded
    * [[graft.functions.TopKRows]] aggregate. [[rankingWindow]]'s
    * row_number plan shuffles every purchase to the window sort before
    * discarding; this one partial-aggregates map-side, so the shuffle
    * carries ≤ 3 rows per (user, partition). "top by value DESC, id ASC"
    * is encoded as ascending order on struct(-value, event_id). The
    * oracle is the SAME SQL as ranking_window — the two plans must be
    * semantically identical, only the physical shape differs. */
  def groupedTopk(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .filter($"event_type" === "purchase")
      .groupBy($"user_id")
      .agg(graft.functions.top_k_rows(
        struct((-$"value").as("neg_value"), $"event_id"), 3).as("top"))
      .select($"user_id", posexplode($"top"))
      .select($"user_id", ($"pos" + 1).cast(IntegerType).as("rnk"),
        $"col.event_id".as("event_id"), (-$"col.neg_value").as("value"))
      .orderBy($"user_id", $"rnk")
  }

  /** NS: KTable / log-compaction materialization, [[StreamOps.ktableLatest]]. */
  def ktableLatest(spark: SparkSession, dir: String): DataFrame =
    StreamOps.ktableLatest(Tables.events(spark, dir)).orderBy(col("user_id"))

  /** NS: time-series resample with gap fill — hourly counts per type with
    * explicit zero rows for empty hours (the shape chart/train-curve
    * consumers need). The dense grid is generated, not stored: global
    * min/max hour (scalar agg) × distinct types (bounded dim), both
    * broadcast — grid size is O(hours·types), never O(rows), so the
    * sequence() explode and the nested-loop grid join stay tiny at any
    * data scale; the real counts left-join onto the grid. */
  def timeGapfill(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select(date_trunc("hour", $"ts").as("h"), $"event_type")
    val counts = ev.groupBy($"h", $"event_type").agg(count(lit(1)).as("n"))
    val hours = ev.agg(min($"h").as("h0"), max($"h").as("h1"))
      .select(explode(sequence($"h0", $"h1", expr("INTERVAL 1 HOUR"))).as("h"))
    val types = ev.select($"event_type").distinct()
    hours.crossJoin(broadcast(types))
      .join(counts, Seq("h", "event_type"), "left_outer")
      .select(unix_micros($"h").as("w_start"), $"event_type",
        coalesce($"n", lit(0L)).as("n"))
      .orderBy($"w_start", $"event_type")
  }

  /** Core of [[dynamicSessionize]], exposed on a DataFrame so the
    * streaming spec can run it over the same fixture rows the
    * flatMapGroupsWithState operator consumes. Expects the raw events
    * shape (user_id, ts, event_id, event_type, value). */
  def dynamicSessionizeDf(events: DataFrame, baseGapUs: Long): DataFrame = {
    import events.sparkSession.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
    events
      .select($"user_id", unix_micros($"ts").as("ts_us"), $"event_id",
        $"event_type", $"value")
      .withColumn("prev_ts", lag($"ts_us", 1).over(w))
      .withColumn("prev_type", lag($"event_type", 1).over(w))
      .withColumn("is_new", when($"prev_ts".isNull ||
        $"ts_us" - $"prev_ts" > when($"prev_type" === "purchase",
          baseGapUs * 3).otherwise(baseGapUs), 1L).otherwise(0L))
      .withColumn("session_idx", sum($"is_new")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"user_id", $"session_idx")
      .agg(min($"ts_us").as("session_start_us"),
        max($"ts_us").as("session_end_us"),
        count(lit(1)).as("n_events"),
        moneySum($"value").as("session_value"))
      .orderBy($"user_id", $"session_idx")
  }

  /** NS: dynamic-gap sessionization, batch form — purchases hold the
    * session open 3× longer than other events (90 min vs 30 min). This is
    * the oracle-checked twin of the streaming
    * [[graft.streaming.DynamicSessions]] operator: built-in
    * `session_window` can't express per-event gaps, so batch uses the
    * lag + conditional-gap + running-sum session-id window idiom (one
    * shuffle on user_id; both windows share it), and streaming uses
    * flatMapGroupsWithState. The `dynamic_sessions_stream` twin checks
    * that the fold over the real `events` table, drained in N
    * micro-batches, equals this query row for row. */
  def dynamicSessionize(spark: SparkSession, dir: String): DataFrame =
    dynamicSessionizeDf(Tables.events(spark, dir), 30L * 60 * 1000000)

  /** NS: unpivot (melt) — the wide→long reshape dual of [[pivotReport]],
    * with the aggregation pushed BELOW the reshape: the four decimal sums
    * are decomposable, so they aggregate on the wide table (one scan, one
    * partial-agg shuffle) and `unpivot`'s Expand melts the |groups|-row
    * RESULT, not the input. Melting first (as the SQL UNION-ALL oracle
    * does, 4 scans; or a pre-agg Expand, 4× the rows through the shuffle)
    * costs 4× at 100 TB for an identical answer — measured 2.2 s → 1.6 s
    * at sf0.1, where the remaining cost is the exact decimal partial
    * aggregation itself. */
  def unpivotMetrics(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def dsum(c: Column) = sum(money_dec2(c)).cast(DoubleType)
    Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        dsum($"l_quantity").as("l_quantity"),
        dsum($"l_extendedprice").as("l_extendedprice"),
        dsum($"l_discount").as("l_discount"),
        dsum($"l_tax").as("l_tax"))
      .unpivot(
        Array($"l_returnflag", $"n"),
        Array($"l_quantity", $"l_extendedprice", $"l_discount", $"l_tax"),
        "metric", "total")
      .select($"l_returnflag", $"metric", $"n", $"total")
      .orderBy($"l_returnflag", $"metric")
  }

  /** NS: time-based trailing window — per purchase, the user's rolling
    * 1-hour revenue and event count via a RANGE frame over microsecond
    * event time (ROWS frames count rows; RANGE bounds by time distance —
    * the correct frame for "last hour" when event spacing varies). One
    * shuffle on user_id; frame evaluation is a per-partition sliding
    * accumulator. Decimal-cast sum keeps the rolling total exact. */
  def trailingWindow(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts_us")
      .rangeBetween(-3600000000L, 0L)
    Tables.events(spark, dir)
      .filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", unix_micros($"ts").as("ts_us"), $"value")
      .select($"event_id", $"user_id", $"ts_us",
        sum(money_dec2($"value")).over(w)
          .cast(DoubleType).as("trail_value"),
        count(lit(1)).over(w).as("trail_n"))
      .orderBy($"event_id")
  }

  /** NS: MERGE / CDC apply — the lakehouse table-maintenance primitive:
    * apply a deterministic change set (updates, deletes, inserts) onto the
    * customer table in ONE full-outer join on the key, emitting the merged
    * state with a status tag. At 100 TB both sides shuffle on c_custkey
    * once (or zero times if the base is bucketed on the key); deletes
    * drop, updates override, inserts null-extend the base side — the
    * exact shape a foreachBatch CDC sink runs per micro-batch. */
  def mergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.customer(spark, dir)
      .select($"c_custkey", $"c_name", $"c_acctbal")
    // Change set, derived deterministically from the fixture tables:
    // update = +100.00 balance for customers with a >450k order;
    // delete = customers with deeply negative balances;
    // insert = one synthetic customer per supplier (shifted key space).
    val updates = Tables.orders(spark, dir)
      .filter($"o_totalprice" > 450000.0)
      .select($"o_custkey".as("k")).distinct()
      .select($"k", lit("U").as("op"), lit(null).cast(StringType).as("new_name"),
        lit(100.0).as("delta"))
    val deletes = base.filter($"c_acctbal" < -900.0)
      .select($"c_custkey".as("k"), lit("D").as("op"),
        lit(null).cast(StringType).as("new_name"), lit(0.0).as("delta"))
    val inserts = Tables.supplier(spark, dir)
      .select(($"s_suppkey" + 9000000L).as("k"), lit("I").as("op"),
        $"s_name".as("new_name"), $"s_acctbal".as("delta"))
    val changes = updates.unionByName(deletes).unionByName(inserts)
    base.join(changes, $"c_custkey" === $"k", "full_outer")
      .where($"op".isNull || $"op" =!= "D")
      .select(
        coalesce($"c_custkey", $"k").as("c_custkey"),
        coalesce($"new_name", $"c_name").as("c_name"),
        (coalesce(money_dec2($"c_acctbal"), lit(0).cast(DecimalType(18, 2)))
          + coalesce(money_dec2($"delta"), lit(0).cast(DecimalType(18, 2))))
          .cast(DoubleType).as("c_acctbal"),
        when($"op".isNull, "kept").when($"op" === "U", "updated")
          .otherwise("inserted").as("status"))
      .orderBy($"c_custkey")
  }

  /** NS: snapshot differencing — derive the CDC change feed BETWEEN two
    * table versions (the inverse of [[mergeUpsert]], which applies one):
    * full-outer join the snapshots on the key, tag each surviving row
    * insert / update / delete, drop unchanged rows. This is how a change
    * feed is recovered from systems that only hand you full dumps — the
    * day-over-day diff that feeds incremental downstream pipelines.
    *
    * Both snapshots derive deterministically from `customer`: the "old"
    * version is missing every 97th key (⇒ inserts) and carries a +100.00
    * balance shift on every 13th key (⇒ updates); the "new" version is
    * missing every 89th key (⇒ deletes). One key-partitioned full-outer
    * shuffle join, no window, no second scan of either side — linear in
    * |snapshot| at any scale, and the equality predicate prunes the
    * (dominant) unchanged rows before they reach the output. */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cur = Tables.customer(spark, dir)
      .select($"c_custkey", $"c_acctbal", $"c_mktsegment")
    val oldSnap = cur.where($"c_custkey" % 97 =!= 0)
      .select($"c_custkey".as("k"),
        when($"c_custkey" % 13 === 0,
          (money_dec2($"c_acctbal") + lit(100).cast(DecimalType(18, 2)))
            .cast(DoubleType))
          .otherwise($"c_acctbal").as("old_bal"),
        $"c_mktsegment".as("old_seg"))
    val newSnap = cur.where($"c_custkey" % 89 =!= 0)
      .select($"c_custkey".as("k"), $"c_acctbal".as("new_bal"),
        $"c_mktsegment".as("new_seg"))
    oldSnap.join(newSnap, Seq("k"), "full_outer")
      .where($"old_bal".isNull || $"new_bal".isNull || $"old_bal" =!= $"new_bal")
      .select($"k".as("c_custkey"),
        when($"old_bal".isNull, "I").when($"new_bal".isNull, "D")
          .otherwise("U").as("op"),
        $"old_bal", $"new_bal",
        coalesce($"new_seg", $"old_seg").as("c_mktsegment"))
      .orderBy($"c_custkey")
  }

  /** NS: winsorized (IQR-clipped) statistics — the robust-stats
    * preprocessing step: clip each quantity to its return-flag group's
    * [q1, q3] and report exact clipped sums. Two passes (tiny exact-
    * quartile aggregate, broadcast back onto the scan) — the shape that
    * holds at 100 TB because pass one reduces to |groups| rows. FP-exact
    * cross-engine: quartiles of integer-valued quantities at dyadic
    * fractions are exact doubles, clipping is pure comparison, and the
    * sum goes through DECIMAL(18,2). */
  def winsorizedStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
    val q = li.groupBy($"l_returnflag").agg(
      percentile($"l_quantity", lit(0.25)).as("q1"),
      percentile($"l_quantity", lit(0.75)).as("q3"))
    val clipped = least(greatest($"l_quantity", $"q1"), $"q3")
    li.join(broadcast(q), "l_returnflag")
      .groupBy($"l_returnflag", $"q1", $"q3")
      .agg(
        count(lit(1)).as("n"),
        sum(when($"l_quantity" < $"q1" || $"l_quantity" > $"q3", 1L)
          .otherwise(0L)).as("n_clipped"),
        // quartiles of integer quantities land on .00/.25/.50/.75 —
        // still exactly-2-decimal doubles, so the cents fast path holds
        sum(money_dec2(clipped)).cast(DoubleType).as("sum_clipped"))
      .orderBy($"l_returnflag")
  }

  /** NS: correlated scalar subquery (the TPC-H Q17 shape) — lineitems
    * cheaper than half their part's average quantity. Written as a
    * correlated subquery and left to Catalyst's decorrelation, which
    * rewrites it to one per-part aggregate + an equi-join: at 100 TB the
    * subquery never executes per row (PlanSpec pins the aggregate+join
    * plan). FP-exact: per-part sums of integer-valued quantities are
    * exact doubles in any order, so avg and the 0.5× threshold are
    * bit-stable cross-engine. */
  def correlatedSubquery(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir).createOrReplaceTempView("cs_lineitem")
    spark.sql(
      """SELECT l_returnflag, count(*) AS n_small,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |         AS small_revenue
        |FROM cs_lineitem l1
        |WHERE l_quantity < (SELECT 0.5 * avg(l_quantity)
        |                    FROM cs_lineitem l2
        |                    WHERE l2.l_partkey = l1.l_partkey)
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)
  }

  /** NS: per-user journey — the ordered event-type sequence as one
    * string ("view>view>purchase"), the input shape of funnel mining and
    * next-event models. collect_list is partial-aggregated map-side and
    * the in-group sort happens AFTER collection on the ≤|user activity|
    * array (array_sort on struct natural order (ts_us, event_id, type) —
    * deterministic under any partitioning), so the shuffle carries each
    * event once and nothing global sorts. Per-key state is bounded by
    * per-user activity — for unbounded keys you'd cap with the TopKRows
    * aggregate or a windowed slice first. */
  def userJourney(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .groupBy($"user_id")
      .agg(
        count(lit(1)).as("n_events"),
        array_join(
          transform(
            array_sort(collect_list(
              struct(unix_micros($"ts").as("t"), $"event_id", $"event_type"))),
            x => x.getField("event_type")),
          ">").as("journey"))
      .orderBy($"user_id")
  }

  /** NS: global top-10 by value — plans to TakeOrderedAndProject (per-
    * partition top-k then a k-row driver merge; no global sort even at
    * 100 TB). */
  def topkSort(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .orderBy($"value".desc, $"event_id")
      .limit(10)
      .select($"event_id", $"user_id", $"event_type", $"value")
  }

  /** NS: set operations over per-event-type user-id sets. */
  def setOps(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    def ids(t: String) = ev.filter($"event_type" === t).select($"user_id")
    val p = ids("purchase")
    val l = ids("view")
    p.intersect(l).withColumn("status", lit("both"))
      .unionAll(p.except(l).withColumn("status", lit("purchase_only")))
      .unionAll(l.except(p).withColumn("status", lit("view_only")))
      .orderBy($"status", $"user_id")
  }

  /** NS: ratio-to-report — each return flag's share of total revenue.
    * The denominator is a scalar aggregate of the SAME per-group subtree,
    * broadcast back onto the 3 group rows: exchange reuse runs the
    * groupBy once, and nothing funnels through the single-partition
    * unpartitioned window that the naive `sum() over ()` plan would
    * create. Shares divide as doubles derived from exact decimal sums —
    * both engines compute bit-identical IEEE quotients. */
  def revenueShare(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val per = Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag")
      .agg(sum(money_dec2($"l_extendedprice")).as("rd"))
    val tot = per.agg(sum($"rd").as("td"))
    per.crossJoin(broadcast(tot))
      .select($"l_returnflag",
        $"rd".cast(DoubleType).as("revenue"),
        ($"rd".cast(DoubleType) / $"td".cast(DoubleType)).as("share"))
      .orderBy($"l_returnflag")
  }

  /** NS: multiplicity-preserving set ops — INTERSECT ALL keeps
    * min(multiplicity), EXCEPT ALL subtracts multiplicities; physically a
    * different operator from the DISTINCT forms (count-tagged aggregate
    * instead of semi/anti join). The per-user survivor counts are
    * aggregated so the output is comparator-deterministic. */
  def setOpsAll(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    def ids(t: String) = ev.filter($"event_type" === t).select($"user_id")
    val p = ids("purchase")
    val v = ids("view")
    p.intersectAll(v).groupBy($"user_id")
      .agg(count(lit(1)).as("n")).withColumn("op", lit("intersect_all"))
      .unionByName(p.exceptAll(v).groupBy($"user_id")
        .agg(count(lit(1)).as("n")).withColumn("op", lit("except_all")))
      .select($"op", $"user_id", $"n")
      .orderBy($"op", $"user_id")
  }

  /** NS: exact distinct users per event type (shuffle-on-key distinct with
    * partial aggregation). */
  def distinctUsers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .groupBy($"event_type")
      .agg(countDistinct($"user_id").as("n_users"), count(lit(1)).as("n_events"))
      .orderBy($"event_type")
  }

  /** NS: KMV distinct sketch per event type, [[StreamOps.kmvDistinct]]. */
  def kmvDistinct(spark: SparkSession, dir: String): DataFrame =
    StreamOps.kmvDistinct(Tables.events(spark, dir)).orderBy(col("event_type"))

  /** NS: KMV sketch SET ALGEBRA — union / intersection cardinality and
    * Jaccard between every pair of event-type user populations from the
    * k=64 [[graft.functions.KmvSketch]] sketches alone, next to the exact
    * answers (the same estimator-calibration shape as `cms_calibration`
    * and `minhash_calibration`). The standard KMV combinators: the union
    * sketch is the k smallest of the two sketches' union (a KMV sketch of
    * A∪B by construction), Jaccard ≈ |{h ∈ union sketch : h ∈ both}| / |union
    * sketch|, |A∩B| ≈ Jaccard · |A∪B|-est. At 100 TB the sketches are the
    * point: 5 groups × 64 longs travel to one pair join instead of the
    * user sets themselves; the exact side here is the bounded calibration
    * twin (one distinct shuffle + a user-keyed self-join whose fan-out is
    * capped by |types|² per user). Everything is deterministic md5 hashing,
    * so the DuckDB twin replays the sketches bit-exactly. */
  def kmvSetOps(spark: SparkSession, dir: String, k: Int = 64): DataFrame = {
    import spark.implicits._
    // the registered DuckDB twin hardcodes k=64 in its [1:64] slices and
    // its 63·2^60 estimator constant — fail loudly rather than silently
    // diverge from the oracle (the kcore unrollGuard discipline)
    require(k == 64, s"kmv_set_ops' oracle hardcodes k=64; got k=$k")
    val sk = Tables.events(spark, dir)
      .groupBy($"event_type")
      .agg(graft.functions.kmv_sketch($"user_id".cast("string"), k).as("kmv"))
    val a = sk.select($"event_type".as("type_a"), $"kmv".as("kmv_a"))
    val b = sk.select($"event_type".as("type_b"), $"kmv".as("kmv_b"))
    // |types|²-row pair frame: non-equi join over a broadcast AGGREGATE —
    // the PlanSpec BNLJ allowlist shape (never an unreduced scan)
    val pairs = a.join(broadcast(b), $"type_a" < $"type_b")
      .withColumn("un",
        slice(array_sort(array_distinct(concat($"kmv_a", $"kmv_b"))), 1, k))
      .withColumn("ul", size($"un"))
      .withColumn("ov", size(filter($"un",
        x => array_contains($"kmv_a", x) && array_contains($"kmv_b", x))))
    val est = pairs.select($"type_a", $"type_b",
      when($"ul" < k, $"ul".cast(DoubleType))
        .otherwise(lit((k - 1).toDouble * math.pow(2, 60)) /
          element_at($"un", k).cast(DoubleType)).as("union_est"),
      ($"ov".cast(DoubleType) / $"ul").as("jaccard_est"))
      .withColumn("inter_est", $"jaccard_est" * $"union_est")
    // exact calibration side: one distinct shuffle, then a user-keyed
    // self-join (fan-out ≤ |types|² per user — bounded, never quadratic)
    val ue = Tables.events(spark, dir)
      .select($"event_type", $"user_id").distinct()
    val cnt = ue.groupBy($"event_type").agg(count(lit(1)).as("n"))
    val ex = ue.as("x").join(ue.as("y"),
        $"x.user_id" === $"y.user_id" && $"x.event_type" < $"y.event_type")
      .groupBy($"x.event_type".as("type_a"), $"y.event_type".as("type_b"))
      .agg(count(lit(1)).as("exact_inter"))
    est
      .join(ex, Seq("type_a", "type_b"), "left_outer")
      .join(broadcast(cnt.select($"event_type".as("type_a"), $"n".as("na"))),
        Seq("type_a"))
      .join(broadcast(cnt.select($"event_type".as("type_b"), $"n".as("nb"))),
        Seq("type_b"))
      .select($"type_a", $"type_b",
        ($"na" + $"nb" - coalesce($"exact_inter", lit(0L))).as("exact_union"),
        coalesce($"exact_inter", lit(0L)).as("exact_inter"),
        $"union_est", $"jaccard_est", $"inter_est")
      .orderBy($"type_a", $"type_b")
  }

  /** NS: autocorrelation function of the daily-revenue series at lags
    * 1..7 — the seasonality diagnostic that decides whether `seasonality_
    * dow` / `daily_revenue_ma7` models are even applicable. Division-free
    * until the final ratio (the `graph_modularity` discipline): daily
    * revenue is exact whole dollars (cents DIV 100), centered on the
    * FLOOR mean (mu = S div n — integer, so both engines center
    * identically), products and sums run in DECIMAL(18,0)→(38,0) exact
    * arithmetic, and acf_l = num_l/den is one IEEE double division of two
    * exact integers — bit-identical cross-engine. One scan → |days|-row
    * aggregate; the lead window orders the BOUNDED day series (PlanSpec
    * allowlists it above the aggregate), 7 lag products fold into ONE
    * 1-row aggregate, and the lag table explodes from that row — the
    * whole post-scan pipeline is O(|days|) regardless of order count. */
  def autocorrDaily(spark: SparkSession, dir: String, maxLag: Int = 7): DataFrame = {
    import spark.implicits._
    val perDay = Tables.orders(spark, dir)
      .select(expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000")
          .as("day"),
        floor($"o_totalprice" * 100 + 0.5).cast(LongType).as("cents"))
      .groupBy($"day").agg(expr("sum(cents) div 100").as("x"))
    val totals = perDay.agg(count(lit(1)).as("n"), sum($"x").as("s"))
    val centered = perDay.crossJoin(broadcast(totals))
      .select($"day", $"n", ($"x" - expr("s div n")).cast(DecimalType(18, 0)).as("d"))
    val w = Window.orderBy($"day")
    val withLeads = centered.select(
      Seq($"day", $"n", $"d") ++
        (1 to maxLag).map(l => lead($"d", l).over(w).as(s"d$l")): _*)
    val statCols = Seq(max($"n").as("n"), sum($"d" * $"d").as("den")) ++
      (1 to maxLag).map(l => sum($"d" * col(s"d$l")).as(s"num$l"))
    val stats = withLeads.agg(statCols.head, statCols.tail: _*)
    stats
      .select($"n", $"den", explode(array((1 to maxLag).map(l =>
        struct(lit(l).as("lag"), col(s"num$l").as("num"))): _*)).as("e"))
      .select($"e.lag".as("lag"), ($"n" - $"e.lag").as("n_pairs"),
        when($"den" === 0, lit(0.0))
          .otherwise($"e.num".cast(DoubleType) / $"den".cast(DoubleType))
          .as("acf"))
      .orderBy($"lag")
  }

  /** NS: first-order Markov transition matrix over per-user event-type
    * sequences — the session-model summary (what follows what, and how
    * often) behind funnel and journey analytics. One shuffle on user_id
    * for the lead window (per-user time order), then a |types|²-row
    * aggregate; transition probability is an exact-integer ratio cast to
    * double, so it is bit-identical cross-engine. The `user_journey` /
    * `status_transitions` relatives track specific paths; this emits the
    * full conditional matrix. */
  def markovTransitions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    transitionMatrix(Tables.events(spark, dir)
      .select($"user_id", $"ts", $"event_id", $"event_type".as("from_type"))
      .withColumn("to_type", lead($"from_type", 1).over(w))
      .where($"to_type".isNotNull))
  }

  /** The transition matrix over (from_type, to_type) rows: count, row
    * total `n_from` and probability per edge. */
  private[graft] def transitionMatrix(tr: DataFrame): DataFrame =
    tr.groupBy(col("from_type"), col("to_type")).agg(count(lit(1)).as("n"))
      .withColumn("n_from",
        sum(col("n")).over(Window.partitionBy(col("from_type"))))
      .select(col("from_type"), col("to_type"), col("n"), col("n_from"),
        (col("n").cast(DoubleType) / col("n_from").cast(DoubleType)).as("prob"))
      .orderBy(col("from_type"), col("to_type"))

  /** NS: disjunctive bracket revenue — the TPC-H Q19 shape: revenue
    * grouped by which of three (brand-set, size-range, quantity-range)
    * conjunctions a lineitem satisfies. The brackets are brand-disjoint,
    * so the `when` chain is order-independent; non-matching rows drop
    * before the aggregate. The part side carries NO broadcast hint —
    * `part` grows linearly with SF, so the join strategy is left to
    * statistics/AQE: a broadcast join at fixture tiers, a partkey-keyed
    * shuffle join with the bracket predicate evaluated join-side at
    * TPC-H-scale part counts. The OR-of-ANDs is the point: Catalyst splits the
    * disjunction's common `p_partkey` equi-key out of the filter, so the
    * join stays a hash join (never a nested loop over the predicate). */
  def bracketRevenue(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // decimal-first revenue (the promo_revenue discipline): exact cents
    // FACTORS multiplied as longs into the same DECIMAL(38,4) product
    // the old (18,2)×(19,2) decimal multiply produced, so the product is
    // exact and both engines sum identical values
    val joined = Tables.lineitem(spark, dir)
      .select($"l_partkey", $"l_quantity",
        unscaled_decimal(money_cents($"l_extendedprice") *
          (lit(100L) - money_cents($"l_discount")), 38, 4).as("rev"))
      .join(Tables.part(spark, dir)
        .select($"p_partkey", $"p_brand", $"p_size"),
        $"l_partkey" === $"p_partkey")
    joined
      .withColumn("bracket",
        when($"p_brand".isin("Brand#1", "Brand#2", "Brand#3") &&
          $"p_size" <= 10 && $"l_quantity" <= 15, "small")
        .when($"p_brand".isin("Brand#11", "Brand#12", "Brand#13") &&
          $"p_size".between(11, 30) && $"l_quantity".between(10, 30), "medium")
        .when($"p_brand".isin("Brand#21", "Brand#22", "Brand#23") &&
          $"p_size".between(25, 50) && $"l_quantity".between(25, 50), "large"))
      .where($"bracket".isNotNull)
      .groupBy($"bracket")
      .agg(count(lit(1)).as("n_items"),
        sum($"rev").cast(DoubleType).as("revenue"))
      .orderBy($"bracket")
  }

  /** NS: cohort lifetime-value curve — yearly acquisition cohorts (first
    * order year per customer) × account age, with active-customer counts,
    * period revenue, and the CUMULATIVE revenue each cohort has produced
    * by that age (the LTV curve finance reads). Where `retention_cohorts`
    * counts weekly activity, this accumulates value. Exact integer cents
    * end-to-end; the cumulative window runs over the bounded cohort×age
    * grid (≤ years², never order rows), partitioned by cohort. Two
    * shuffles total at any scale: the per-customer first-order agg and
    * the grid agg (the join back rides the customer exchange). */
  def cohortLtv(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, dir).select(
      $"o_custkey", year($"o_orderdate").cast(IntegerType).as("yr"),
      floor($"o_totalprice" * 100 + 0.5).cast(LongType).as("cents"))
    val firstYr = o.groupBy($"o_custkey").agg(min($"yr").as("cohort_year"))
    val grid = o.join(firstYr, Seq("o_custkey"))
      .groupBy($"cohort_year", ($"yr" - $"cohort_year").as("age"))
      .agg(countDistinct($"o_custkey").as("n_active"),
        sum($"cents").as("cents"))
    val w = Window.partitionBy($"cohort_year").orderBy($"age")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid
      .select($"cohort_year", $"age", $"n_active",
        ($"cents".cast(DoubleType) / 100.0).as("revenue"),
        (sum($"cents").over(w).cast(DoubleType) / 100.0).as("cum_revenue"))
      .orderBy($"cohort_year", $"age")
  }

  /** NS: HLL++ approximate distinct — the 100 TB path (no per-key exact
    * shuffle; fixed-size sketch per group). The raw estimate is
    * engine-specific (HLL++ register layout) and can never hash-match a
    * DuckDB twin, so the query emits the CONTRACT instead: the exact
    * counts plus a boolean per estimator asserting the HLL++ estimate
    * landed within 10% (= 5× the configured 2% rsd) of exact. The twin is
    * then pure SQL (exact counts + literal `true`), and a broken
    * estimator flips a boolean and fails the hash compare — the accuracy
    * band IS the oracled data, not a side-channel gate record. (The exact
    * side is the bounded calibration twin, same pattern as
    * `kmv_set_ops` / `cms_calibration`; production callers run only the
    * sketch half.) */
  def distinctUsersApprox(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // Plan note: the obvious single groupBy with two countDistincts +
    // two HLLs rewrites through Expand — every input row quadrupled
    // before the shuffle (one replica per distinct group + one for the
    // plain aggregates). Measured as the suite's slowest query at 26 s/
    // sf2. Instead each exact distinct is its own TWO-LEVEL aggregate
    // (groupBy(type, id) partial-combines duplicates map-side, then a
    // bounded per-type count) and the two HLLs share one plain
    // aggregate — three linear passes, zero fan-out, and the terminal
    // join is over ≤ |event_type| rows (broadcast both sides).
    val ev = Tables.events(spark, dir)
      .select($"event_type", $"user_id", $"event_id")
    // `where isNotNull` keeps countDistinct's null semantics bit-exact.
    def exactDistinct(id: Column, as: String) = ev
      .select($"event_type", id.as("k")).where($"k".isNotNull).distinct()
      .groupBy($"event_type").agg(count(lit(1)).as(as))
    val sketches = ev.groupBy($"event_type")
      .agg(approx_count_distinct($"user_id", 0.02).as("au"),
        approx_count_distinct($"event_id", 0.02).as("ae"))
    // null-SAFE join keys (<=>): a NULL event_type is a legitimate group
    // on both sides; a plain equi-join would never match it and its
    // exact counts would silently coalesce to 0 under populated sketches
    val nu = exactDistinct($"user_id", "nu0").withColumnRenamed("event_type", "et_u")
    val ne = exactDistinct($"event_id", "ne0").withColumnRenamed("event_type", "et_e")
    sketches
      .join(broadcast(nu), $"event_type" <=> $"et_u", "left").drop("et_u")
      .join(broadcast(ne), $"event_type" <=> $"et_e", "left").drop("et_e")
      // left + coalesce: an all-null id column must still report 0, as
      // countDistinct would.
      .withColumn("n_users", coalesce($"nu0", lit(0L)))
      .withColumn("n_events_distinct", coalesce($"ne0", lit(0L)))
      .select($"event_type", $"n_users", $"n_events_distinct",
        (abs($"au" - $"n_users") <= $"n_users" * 0.10)
          .as("users_within_band"),
        (abs($"ae" - $"n_events_distinct") <= $"n_events_distinct" * 0.10)
          .as("events_within_band"))
      .orderBy($"event_type")
  }

  /** NS: rollup report — (event_type, day) sums with subtotals + grand
    * total via Expand; null ordering pinned (Spark and DuckDB disagree on
    * the default). */
  def rollupReport(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .withColumn("d", to_date($"ts"))
      .rollup($"event_type", $"d")
      .agg(count(lit(1)).as("n"), moneySum($"value").as("total_value"))
      .orderBy($"event_type".asc_nulls_first, $"d".asc_nulls_first)
  }

  /** NS: backward as-of join via the custom [[graft.plans.AsOfJoin]]
    * operator — each event enriched with the same user's most recent
    * purchase at-or-before it (the classic point-in-time feature lookup a
    * training pipeline needs for leak-free labels). Oracle twin is
    * DuckDB's native ASOF JOIN; times compared at microsecond precision
    * on both sides. */
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select($"event_id", $"user_id", $"ts", $"event_type")
    val purchases = Tables.events(spark, dir)
      .filter($"event_type" === "purchase")
      .select($"user_id".as("p_user_id"), $"ts".as("p_ts"),
        $"event_id".as("p_event_id"), $"value".as("p_value"))
    graft.plans.AsOfJoin(ev, purchases, "user_id", "p_user_id", "ts", "p_ts")
      .select($"event_id", $"user_id", unix_micros($"ts").as("ts_us"),
        $"event_type", $"p_event_id", unix_micros($"p_ts").as("p_ts_us"), $"p_value")
      .orderBy($"event_id")
  }

  /** NS: left-outer as-of join — the enrichment shape: EVERY event kept,
    * null-extended when the user has no purchase at-or-before it. Same
    * custom operator, `joinType = "left_outer"`; oracle twin is DuckDB's
    * `ASOF LEFT JOIN`. */
  def asofJoinLeft(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select($"event_id", $"user_id", $"ts", $"event_type")
    val purchases = Tables.events(spark, dir)
      .filter($"event_type" === "purchase")
      .select($"user_id".as("p_user_id"), $"ts".as("p_ts"),
        $"event_id".as("p_event_id"), $"value".as("p_value"))
    graft.plans.AsOfJoin(ev, purchases, "user_id", "p_user_id", "ts", "p_ts",
        joinType = "left_outer")
      .select($"event_id", $"user_id", unix_micros($"ts").as("ts_us"),
        $"event_type", $"p_event_id", unix_micros($"p_ts").as("p_ts_us"), $"p_value")
      .orderBy($"event_id")
  }

  /** NS: as-of join with a tolerance bound — the feature-store
    * point-in-time lookup with max staleness: a purchase older than the
    * tolerance window does NOT qualify as context. Because the as-of
    * match is already the LATEST at-or-before row, "latest within
    * tolerance" is a post-condition on the custom operator's output
    * (anything older than the latest is older still): null out stale
    * matches, no second operator needed. Oracle = windowed latest-match
    * SQL with the same bound. */
  def asofJoinTolerance(spark: SparkSession, dir: String,
      toleranceUs: Long = 3600000000L): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select($"event_id", $"user_id", $"ts", $"event_type")
    val purchases = Tables.events(spark, dir)
      .filter($"event_type" === "purchase")
      .select($"user_id".as("p_user_id"), $"ts".as("p_ts"),
        $"event_id".as("p_event_id"), $"value".as("p_value"))
    val fresh = unix_micros($"p_ts") >= unix_micros($"ts") - toleranceUs
    graft.plans.AsOfJoin(ev, purchases, "user_id", "p_user_id", "ts", "p_ts",
        joinType = "left_outer")
      .select($"event_id", $"user_id", unix_micros($"ts").as("ts_us"),
        $"event_type",
        when(fresh, $"p_event_id").as("p_event_id"),
        when(fresh, unix_micros($"p_ts")).as("p_ts_us"),
        when(fresh, $"p_value").as("p_value"))
      .orderBy($"event_id")
  }

  /** NS: funnel conversion — purchases whose latest preceding view by the
    * same user happened within the previous hour, aggregated per user.
    * Composes the custom as-of operator with ordinary groupBy: the
    * point-in-time lookup finds each purchase's nearest earlier view, a
    * residual filter bounds the gap, and the aggregate rolls it up —
    * the standard sequence-pattern (A-then-B-within-T) plan at scale. */
  def funnelConversion(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"event_id", $"ts", $"value")
    val views = ev.filter($"event_type" === "view")
      .select($"user_id".as("v_user"), $"ts".as("v_ts"), $"event_id".as("v_event_id"))
    conversionRollup(
      graft.plans.AsOfJoin(purchases, views, "user_id", "v_user", "ts", "v_ts")
        .where(unix_micros($"ts") - unix_micros($"v_ts") <= 3600000000L))
  }

  /** [[funnelConversion]]'s per-user rollup over its matched purchases
    * (`user_id`, `value`), which `funnel_conversion_stream` also runs. */
  private[graft] def conversionRollup(matches: DataFrame): DataFrame =
    matches.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_converted"),
        moneySum(col("value")).as("converted_value"))
      .orderBy(col("user_id"))

  /** NS: cube report — all 4 grouping sets of (event_type, weekday) in one
    * pass via Expand (4 output rows per input row, partial-aggregated
    * before the single shuffle). Complements [[rollupReport]]'s
    * hierarchical subtotals with the full cross-product of margins. */
  def cubeReport(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .withColumn("weekday", dayofweek($"ts"))
      .cube($"event_type", $"weekday")
      .agg(count(lit(1)).as("n"), moneySum($"value").as("total_value"))
      .orderBy($"event_type".asc_nulls_first, $"weekday".asc_nulls_first)
  }

  /** NS: pivot report — daily revenue matrix, event types as columns. The
    * pivot value domain is pinned explicitly: an inferred domain would add
    * a driver-side distinct scan AND make the output schema data-dependent
    * (schema drift at 100 TB); sums are decimal-exact per cell. */
  def pivotReport(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .withColumn("d", to_date($"ts"))
      .groupBy($"d")
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(moneySum($"value"))
      .orderBy($"d")
  }

  /** NS (LLM pipeline): corpus vocabulary heavy-hitters — token frequency
    * across all documents, exact top-20. explode → partial-aggregated count
    * → TakeOrderedAndProject: the full token multiset never collects
    * anywhere, so the same plan runs at corpus scale (the 100 TB variant
    * swaps the exact tail for approx counts once k ≫ memory). */
  def vocabTopk(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(explode(split($"text", " ")).as("token"))
      .groupBy($"token")
      .agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"token")
      .limit(20)
  }

  /** NS: exact quantile report — quartiles of order quantity per return
    * flag. Quantiles are pinned to dyadic fractions (.25/.5/.75) over
    * integral doubles, so linear interpolation is FP-exact and
    * engine-independent (DuckDB `quantile_cont` twin matches bit-for-bit).
    * At 100 TB the same report runs through `approx_percentile` (KLL-style
    * sketch, fixed memory, partial-aggregated) — exact `percentile` holds
    * each group's values; keep it for bounded group cardinalities only. */
  def quantileReport(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag")
      .agg(
        percentile($"l_quantity", lit(0.25)).as("q25"),
        percentile($"l_quantity", lit(0.5)).as("q50"),
        percentile($"l_quantity", lit(0.75)).as("q75"),
        min($"l_quantity").as("q_min"), max($"l_quantity").as("q_max"),
        count(lit(1)).as("n"))
      .orderBy($"l_returnflag")
  }

  /** NS: z-score anomaly gate — the distribution-based outlier filter a
    * data-quality pass runs per segment: per-event-type mean/σ from EXACT
    * decimal moments (one bounded aggregate — a double Σ would be
    * fold-order-dependent and break replay audits), broadcast back onto
    * the scan, flag |z| > 3. Same two-pass broadcast shape as
    * [[winsorizedStats]]; the z expression is double arithmetic over
    * exact moments, so engine and oracle agree bit-for-bit even at the
    * threshold boundary. */
  def anomalyZscore(spark: SparkSession, dir: String,
      threshold: Double = 3.0): DataFrame = {
    import spark.implicits._
    val vc = money_cents($"value")
    val stats = Tables.events(spark, dir)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum(money_dec2($"value")).cast(DoubleType).as("sv"),
        // the (18,2)×(18,2) square as one long multiply of exact cents —
        // same DECIMAL(30,4) sum input (value < $10^7 ⇒ cents² < 2^63)
        sum(unscaled_decimal(vc * vc, 30, 4)).cast(DoubleType).as("svv"))
      .select($"event_type",
        ($"sv" / $"n".cast(DoubleType)).as("mean"),
        sqrt(($"svv" - $"sv" * $"sv" / $"n".cast(DoubleType)) /
          $"n".cast(DoubleType)).as("std"))
    Tables.events(spark, dir)
      .join(broadcast(stats), "event_type")
      .withColumn("z", ($"value" - $"mean") / $"std")
      .where(abs($"z") > threshold)
      .select($"event_type", $"event_id", $"value", $"mean", $"std", $"z")
      .orderBy($"event_id")
  }

  /** NS: per-column data-quality profile (the Deequ-style completeness /
    * cardinality report) of a frame with REAL missing values — the
    * null-extended output of [[asofJoinLeft]]: for every column, row
    * count, null count, distinct count, completeness ratio. One pass,
    * one aggregate row, melted to per-column rows with `stack`. At
    * 100 TB the exact countDistinct (one Expand path per column) swaps
    * for approx_count_distinct — same plan shape, sketch-sized state. */
  def dataProfile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val df = asofJoinLeft(spark, dir)
    val cols = df.columns.toSeq
    val aggs = cols.flatMap(c => Seq(
      count(col(c)).as(s"nn_$c"),
      countDistinct(col(c)).as(s"nd_$c"))) :+ count(lit(1)).as("n_rows")
    val stackArgs = cols.map(c => s"'$c', nn_$c, nd_$c").mkString(", ")
    df.agg(aggs.head, aggs.tail: _*)
      .selectExpr("n_rows",
        s"stack(${cols.length}, $stackArgs) AS (column_name, n_nonnull, n_distinct)")
      .select($"column_name", $"n_rows",
        ($"n_rows" - $"n_nonnull").as("n_null"), $"n_distinct",
        ($"n_nonnull".cast(DoubleType) / $"n_rows".cast(DoubleType))
          .as("completeness"))
      .orderBy($"column_name")
  }

  /** NS: cohort retention matrix — the product-analytics staple: users
    * grouped by their FIRST purchase week (epoch-week, pure integer µs
    * arithmetic — no calendar/timezone functions to diverge cross-engine),
    * then for every later purchase the (cohort_week, weeks-since-cohort)
    * cell counts distinct returning users. Two user-keyed shuffles (first-
    * purchase agg + join back — same hash exchange, so AQE/exchange reuse
    * can overlap them) and one small matrix agg; per-key state is one min,
    * so the shape is linear at 100 TB and never sorts globally. */
  def retentionCohorts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val purchases = Tables.events(spark, dir)
      .where($"event_type" === "purchase")
      .select($"user_id",
        // `div` (integer division): Column `/` is double division in Spark
        expr("unix_micros(ts) div 86400000000 div 7").as("week"))
    val first = purchases.groupBy($"user_id").agg(min($"week").as("cohort_week"))
    purchases.join(first, "user_id")
      .groupBy($"cohort_week", ($"week" - $"cohort_week").as("week_offset"))
      .agg(countDistinct($"user_id").as("n_users"),
        count(lit(1)).as("n_purchases"))
      .orderBy($"cohort_week", $"week_offset")
  }

  /** NS: SCD2 (slowly-changing-dimension type 2) version-table build —
    * the warehouse shape [[mergeUpsert]]'s CDC apply feeds: each per-key
    * change event becomes a version row carrying a validity interval,
    * half-open in µs — valid_from = its event time, valid_to = the next
    * change's time minus 1µs, NULL-ended + is_current on the latest: one
    * [[StreamOps.applyScd2]] micro-batch step (a window over (user, time,
    * id), no global sort) over the whole table onto an empty version
    * table. (The reference's KTable is exactly this table with only the
    * is_current row retained — [[ktableLatest]].) */
  def scd2Build(spark: SparkSession, dir: String): DataFrame =
    StreamOps.applyScd2(StreamOps.emptyScd2(spark), Tables.events(spark, dir))
      .orderBy(col("user_id"), col("version"))

  /** NS: point-in-time dimension slice — "the table AS OF instant T" read
    * off the [[scd2Build]] version table: per key, the single version row
    * whose half-open validity interval covers T. T is data-derived (the
    * µs midpoint of the corpus time range, one tiny agg broadcast back)
    * so the query is meaningful at every scale factor. With the version
    * table pre-built this is a scan-side interval filter — no join, no
    * window, at most one surviving row per key; completes the SCD2 story:
    * [[scd2Build]] builds, this slices, [[mergeUpsert]] applies. */
  def scd2Slice(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = Tables.events(spark, dir)
      .agg(expr("(min(unix_micros(ts)) + max(unix_micros(ts))) div 2").as("t_us"))
    scd2Build(spark, dir).crossJoin(broadcast(t))
      .where($"valid_from_us" <= $"t_us" &&
        ($"valid_to_us".isNull || $"t_us" <= $"valid_to_us"))
      .select($"user_id", $"version", $"state", $"valid_from_us", $"event_id")
      .orderBy($"user_id")
  }

  /** NS: mergeable log-linear histogram quantiles — the quantile SKETCH
    * companion to [[quantileReport]]'s exact percentiles (HdrHistogram /
    * DDSketch family, but built on pure integer math so engine and oracle
    * agree bit-for-bit): value → bucket via (exponent, 4-bit mantissa
    * head) of the price in integer cents, giving ≤6.7% relative error per
    * bucket; per-flag bucket counts are a plain hash aggregate (order-free,
    * mergeable — the 100 TB path: partials combine by adding counters,
    * unlike exact percentile which holds every value), and p50/p95/p99 are
    * read off the cumulative histogram.
    *
    * Integer-exactness notes: cents go through an explicit floor() because
    * Spark truncates double→long casts while DuckDB rounds them; the
    * bucket exponent is length(bin(v))−1 — integer bit-length, no
    * float log2 anywhere; sub-bucket/bounds are shifts. The quantile rank
    * is the ceiling ⌈q·n/100⌉ in integer arithmetic. The cumulative window
    * runs over the HISTOGRAM (≤ ~64·16 rows per flag — bounded by the
    * value RANGE, not the data), so the per-flag sort never sees data-
    * scale rows. */
  def loglinQuantiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hist = Tables.lineitem(spark, dir)
      .select($"l_returnflag",
        greatest(floor($"l_extendedprice" * 100).cast(LongType), lit(1L)).as("v"))
      .withColumn("e", (length(bin($"v")) - 1).cast(LongType))
      .withColumn("sh", greatest($"e" - 3, lit(0L)))
      .withColumn("sub", expr("shiftright(v, cast(sh as int))"))
      .select($"l_returnflag",
        ($"e" * 16 + $"sub").as("bucket"),
        expr("shiftleft(sub, cast(sh as int))").as("lo_cents"),
        (expr("shiftleft(sub + 1, cast(sh as int))") - 1).as("hi_cents"))
      .groupBy($"l_returnflag", $"bucket", $"lo_cents", $"hi_cents")
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy($"l_returnflag").orderBy($"bucket")
    val cum = hist.withColumn("cum_n", sum($"n").over(w))
    val tot = hist.groupBy($"l_returnflag").agg(sum($"n").as("total_n"))
    cum.join(broadcast(tot), "l_returnflag")
      .withColumn("q_pct", explode(array(lit(50L), lit(95L), lit(99L))))
      .where($"cum_n" >= expr("(q_pct * total_n + 99) div 100")) // int ceil
      .groupBy($"l_returnflag", $"q_pct", $"total_n")
      .agg(min_by(
        struct($"bucket", $"lo_cents", $"hi_cents", $"n", $"cum_n"),
        $"bucket").as("b"))
      .select($"l_returnflag", $"q_pct", $"b.bucket".as("bucket"),
        $"b.lo_cents".as("lo_cents"), $"b.hi_cents".as("hi_cents"),
        $"b.n".as("bucket_n"), $"b.cum_n".as("cum_n"), $"total_n")
      .orderBy($"l_returnflag", $"q_pct")
  }

  /** NS: the rank-function family beyond `row_number` — rank, dense_rank,
    * percent_rank, cume_dist per event type ordered by value DESC. Ties
    * are REAL here (values repeat), which is exactly what makes these
    * functions distinct from row_number — and all four are deterministic
    * under ties (tied rows share outputs), so the oracle holds without a
    * unique sort key inside the window. percent_rank/cume_dist are
    * rank-derived double ratios computed identically by both engines. */
  def rankFamily(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"event_type").orderBy($"value".desc)
    Tables.events(spark, dir)
      .filter($"event_type" === "purchase" || $"event_type" === "signup")
      .select($"event_type", $"event_id", $"value",
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        percent_rank().over(w).as("prank"),
        cume_dist().over(w).as("cdist"))
      .orderBy($"event_id")
  }

  /** NS: cumulative window frame — per-user running revenue over event
    * time. The frame is pinned to ROWS UNBOUNDED PRECEDING..CURRENT (the
    * default RANGE frame double-counts ties), ordered by (ts, event_id)
    * so every prefix is unique and the cumulative decimal sum is exact and
    * rerun-stable. One shuffle on user_id; the frame scan is a single
    * ordered pass per key group. */
  def runningTotal(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .filter($"event_type" === "purchase")
      .select($"user_id", $"event_id", unix_micros($"ts").as("ts_us"),
        sum(money_dec2($"value")).over(w).cast(DoubleType)
          .as("running_revenue"))
      .orderBy($"event_id")
  }

  /** NS: offset windows — lag/lead per user ordered by (ts, event_id):
    * previous event id, gap to it in µs, and the next event's type. The
    * first/last rows of each key group are null-extended, matching SQL
    * offset-window semantics. Same single-shuffle shape as any
    * per-key window. */
  def lagLeadGaps(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.events(spark, dir)
      .select($"user_id", $"event_id", $"event_type",
        unix_micros($"ts").as("ts_us"),
        lag($"event_id", 1).over(w).as("prev_event_id"),
        (unix_micros($"ts") - lag(unix_micros($"ts"), 1).over(w)).as("gap_us"),
        lead($"event_type", 1).over(w).as("next_type"))
      .orderBy($"event_id")
  }

  /** NS: inter-arrival-time spectrum — consecutive same-(user, type)
    * event gaps, log2-bucketed by integer bit length (the
    * `graph_degree_hist` trick: `length(bin(gap)) − 1`, no floating
    * log2, so bucket edges are engine-exact). THE histogram that sizes
    * watermarks and session-gap thresholds: the watermark should sit
    * past the bulk of the spectrum, the session gap at its first big
    * hole. One user-keyed window shuffle + a |types|×64-bounded rollup —
    * linear at 100 TB. */
  def interEventGaps(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id", $"event_type")
      .orderBy($"ts_us", $"event_id")
    Tables.events(spark, dir)
      .select($"user_id", $"event_type", unix_micros($"ts").as("ts_us"),
        $"event_id")
      .withColumn("gap_us", $"ts_us" - lag($"ts_us", 1).over(w))
      .where($"gap_us".isNotNull)
      .groupBy($"event_type",
        (length(bin($"gap_us")) - 1).cast(IntegerType).as("gap_bucket"))
      .agg(count(lit(1)).as("n_gaps"),
        min($"gap_us").as("min_gap_us"), max($"gap_us").as("max_gap_us"))
      .orderBy($"event_type", $"gap_bucket")
  }

  /** NS: explicit GROUPING SETS — the (event_type), (weekday), () margins
    * WITHOUT the cross-product a cube would add, plus the grouping flags
    * that disambiguate "aggregated-away" from a genuinely-null key. Same
    * Expand-based single-shuffle plan as rollup/cube. */
  def groupingSetsReport(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .withColumn("weekday", dayofweek($"ts"))
      .groupingSets(
        Seq(Seq($"event_type"), Seq($"weekday"), Seq()),
        $"event_type", $"weekday")
      .agg(count(lit(1)).as("n"), moneySum($"value").as("total_value"),
        grouping($"event_type").cast(IntegerType).as("g_type"),
        grouping($"weekday").cast(IntegerType).as("g_weekday"))
      .orderBy($"g_type", $"g_weekday",
        $"event_type".asc_nulls_first, $"weekday".asc_nulls_first)
  }

  /** NS: correlation/regression from decimal moments — per return flag,
    * Pearson r and OLS slope of extendedprice on quantity. The five
    * sufficient statistics (n, Σx, Σy, Σxy, Σx², Σy²) accumulate as exact
    * decimals (order-insensitive, one partial-aggregated shuffle); the
    * final r/slope arithmetic runs on doubles through an expression tree
    * kept IDENTICAL in the DuckDB twin, so even the FP result is
    * bit-reproducible. The built-in `corr()` is single-pass FP and
    * engine-/order-dependent — useless for audited reruns at 100 TB. */
  def corrReport(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // moments from exact cents: one long multiply per cross term where
    // the old (18,2)×(18,2) path multiplied BigDecimals per row — same
    // DECIMAL(30,4) sum inputs, same values (qty·price cents products
    // < 2^63 by the columns' value domains at any SF)
    val xc = money_cents($"l_quantity")
    val yc = money_cents($"l_extendedprice")
    Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(money_dec2($"l_quantity")).cast(DoubleType).as("sx"),
        sum(money_dec2($"l_extendedprice")).cast(DoubleType).as("sy"),
        sum(unscaled_decimal(xc * yc, 30, 4)).cast(DoubleType).as("sxy"),
        sum(unscaled_decimal(xc * xc, 30, 4)).cast(DoubleType).as("sxx"),
        sum(unscaled_decimal(yc * yc, 30, 4)).cast(DoubleType).as("syy"))
      .select($"l_returnflag", $"n",
        (($"n".cast(DoubleType) * $"sxy" - $"sx" * $"sy") /
          (sqrt($"n".cast(DoubleType) * $"sxx" - $"sx" * $"sx") *
           sqrt($"n".cast(DoubleType) * $"syy" - $"sy" * $"sy"))).as("corr_qty_price"),
        (($"n".cast(DoubleType) * $"sxy" - $"sx" * $"sy") /
          ($"n".cast(DoubleType) * $"sxx" - $"sx" * $"sx")).as("slope_price_per_qty"))
      .orderBy($"l_returnflag")
  }

  /** NS: full pairwise Pearson correlation matrix of the four lineitem
    * measures per return flag — [[corrReport]]'s single pair generalized to
    * the feature-screening shape (which measures co-move?): ONE scan
    * computes all 15 exact decimal moments (4 sums, 4 squares, 6 cross
    * products, n) with map-side partials, then the 6 correlations per group
    * are pure expression arithmetic on the |groups|-row aggregate and melt
    * via explode — adding measures grows the moment count, never the scan
    * or shuffle count. Same cross-engine FP discipline as [[corrReport]]:
    * decimal-exact moments, one correctly-rounded cast to double, an
    * expression-identical tail. */
  def corrMatrix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ms = Seq("qty" -> $"l_quantity", "price" -> $"l_extendedprice",
      "disc" -> $"l_discount", "tax" -> $"l_tax")
    // all 15 moments from exact cents (round 14): the old path paid 4
    // Double.toString decimal casts + 10 BigDecimal multiplies PER ROW
    // inside a single-row-group scan stage; the cents form is one
    // floor+multiply per factor and a long multiply per moment, with
    // identical DECIMAL(30,4)/(18,2) sum inputs (cents products < 2^63
    // by the measures' value domains at any SF)
    val cents = ms.map { case (n, c) => n -> money_cents(c) }.toMap
    val sums = ms.map { case (n, c) =>
      sum(money_dec2(c)).cast(DoubleType).as(s"s_$n") }
    val pairs = ms.combinations(2).toSeq.map { case Seq((na, a), (nb, b)) => (na, nb) }
    val crosses = pairs.map { case (na, nb) =>
      sum(unscaled_decimal(cents(na) * cents(nb), 30, 4))
        .cast(DoubleType).as(s"x_${na}_$nb")
    }
    val squares = ms.map { case (n, _) =>
      sum(unscaled_decimal(cents(n) * cents(n), 30, 4))
        .cast(DoubleType).as(s"q_$n")
    }
    val aggs = (count(lit(1)).as("n") +: (sums ++ squares ++ crosses))
    val nD = $"n".cast(DoubleType)
    def corr(a: String, b: String): Column =
      (nD * col(s"x_${a}_$b") - col(s"s_$a") * col(s"s_$b")) /
        (sqrt(nD * col(s"q_$a") - col(s"s_$a") * col(s"s_$a")) *
          sqrt(nD * col(s"q_$b") - col(s"s_$b") * col(s"s_$b")))
    Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag")
      .agg(aggs.head, aggs.tail: _*)
      .select($"l_returnflag", $"n",
        explode(array(pairs.map { case (a, b) =>
          struct(lit(s"${a}_$b").as("pair"), corr(a, b).as("corr"))
        }: _*)).as("pc"))
      .select($"l_returnflag", $"n", $"pc.pair".as("pair"), $"pc.corr".as("corr"))
      .orderBy($"l_returnflag", $"pair")
  }

  /** NS: last-touch revenue attribution — every purchase attributed to the
    * same user's latest PRIOR non-purchase event (the marketing "touch"),
    * revenue rolled up by touch type with un-attributed purchases under
    * 'none'. The attribution step IS the custom as-of operator (one
    * co-partitioned sort-merge pass, O(1) state per user); the rollup
    * ships |touch types| rows. The business twin of [[funnelConversion]]:
    * same operator, revenue-weighted instead of conversion-counted.
    *
    * Touches are collapsed to ONE row per (user, instant) first — max
    * event_type on ties — because an as-of join's choice among equal-time
    * right rows is engine-specific (our AsOfJoin tiebreaks by its total
    * order, DuckDB's ASOF is unspecified); with the collapse both engines
    * see a tie-free right side and the result is deterministic on any
    * data, not just fixtures without per-user duplicate timestamps. */
  def attributionReport(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val purchases = Tables.events(spark, dir)
      .filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts", $"value")
    val touches = Tables.events(spark, dir)
      .filter($"event_type" =!= "purchase")
      .groupBy($"user_id", $"ts")
      .agg(max($"event_type").as("t_type"))
      .select($"user_id".as("t_user_id"), $"ts".as("t_ts"), $"t_type")
    graft.plans.AsOfJoin(purchases, touches, "user_id", "t_user_id",
        "ts", "t_ts", joinType = "left_outer")
      .groupBy(coalesce($"t_type", lit("none")).as("touch"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(money_dec2($"value")).cast(DoubleType).as("revenue"))
      .orderBy($"touch")
  }

  /** NS: LINEAR multi-touch attribution — the equal-split counterpart of
    * [[attributionReport]]'s last-touch rule: each purchase's value is
    * divided equally over the user's view/click touches in the 24 h
    * before it (no touch ⇒ the 'none' bucket keeps full credit, so the
    * three buckets always sum to total purchase revenue). Cross-engine
    * exactness: per-(purchase, type) credit is the INTEGER
    * `cents·n_type·2^20 div n_touches` (truncating div, identical in
    * both engines), summed exactly; only the terminal cents→dollars
    * rescale is IEEE. Plan: one user-keyed fact–fact join bounded by
    * per-user activity × the 24 h window, purchase-keyed agg riding the
    * same clustering, 3-row stack output — linear at 100 TB. */
  def linearAttribution(spark: SparkSession, dir: String): DataFrame =
    linearAttributionOfEvents(spark, Tables.events(spark, dir))

  /** [[linearAttribution]] over an explicit events frame — exposed so the
    * negative-cents contract below is testable against a refunds row. */
  private[graft] def linearAttributionOfEvents(
      spark: SparkSession, ev: DataFrame): DataFrame = {
    import spark.implicits._
    val winUs = 86400000000L
    val p = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("p_id"), $"user_id",
        unix_micros($"ts").as("p_us"),
        money_cents($"value").as("cents"))
      // CONTRACT ENFORCEMENT (see comment below): fail loudly on a
      // refunds-bearing feed instead of silently diverging from the
      // oracle on truncate-vs-floor division of negative credits.
      .withColumn("cents", when($"cents" >= 0, $"cents").otherwise(
        raise_error(concat(lit("linear_attribution: negative purchase " +
          "cents violate the non-negative contract: "), $"cents"))))
    val t = ev.filter($"event_type".isin("view", "click"))
      .select($"user_id", $"event_type".as("touch_type"),
        unix_micros($"ts").as("t_us"))
    val per = p.join(t, Seq("user_id"))
      .where($"t_us" < $"p_us" && $"t_us" >= $"p_us" - winUs)
      .groupBy($"p_id")
      .agg(count(lit(1)).as("n_touches"),
        sum(when($"touch_type" === "view", 1L).otherwise(0L)).as("n_view"),
        sum(when($"touch_type" === "click", 1L).otherwise(0L)).as("n_click"))
    val credited = p.join(per, Seq("p_id"), "left_outer")
    // CONTRACT: purchase values are non-negative (events.value is a
    // price). Spark `div` truncates toward zero while the oracle's
    // DuckDB `//` floors, so the integer-exactness claim holds only for
    // non-negative cents. ENFORCED above (raise_error) and in the oracle
    // (DuckDB error()) — a refunds-bearing feed fails loudly on both
    // engines instead of silently diverging.
    credited
      .agg(
        sum(when($"n_touches".isNotNull,
          expr("cents * n_view * 1048576 div n_touches")).otherwise(0L))
          .as("vu"),
        sum(when($"n_touches".isNotNull,
          expr("cents * n_click * 1048576 div n_touches")).otherwise(0L))
          .as("cu"),
        sum(when($"n_touches".isNull, $"cents" * 1048576L).otherwise(0L))
          .as("nu"),
        sum(when($"n_view" > 0, 1L).otherwise(0L)).as("vp"),
        sum(when($"n_click" > 0, 1L).otherwise(0L)).as("cp"),
        sum(when($"n_touches".isNull, 1L).otherwise(0L)).as("np"))
      .select(expr(
        "stack(3, 'view', vp, vu, 'click', cp, cu, 'none', np, nu) " +
          "AS (touch, n_purchases, credit_u20)"))
      .select($"touch", $"n_purchases", $"credit_u20",
        ($"credit_u20".cast(DoubleType) / 1048576.0 / 100.0).as("credit"))
      .orderBy($"touch")
  }

  /** NS: header/detail reconciliation — the data-quality join every
    * warehouse runs nightly: roll lineitem up per order (exact decimal),
    * compare against the order header's total, and bucket each order as
    * matched (≤1% relative discrepancy), mismatched, or missing detail
    * rows entirely. The comparison stays in decimal (|h−d|·100 ≤ h — no
    * float thresholds to diverge cross-engine). One orderkey-keyed detail
    * agg + one key join + a |status×bucket|-row rollup — linear, and the
    * detail agg ships one row per order through the join. */
  def orderReconcile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val detail = Tables.lineitem(spark, dir)
      .groupBy($"l_orderkey")
      .agg(sum(money_dec2($"l_extendedprice")).as("detail_total"))
    val h = money_dec2($"o_totalprice")
    val diff = abs(h - coalesce($"detail_total", lit(0).cast(DecimalType(18, 2))))
    Tables.orders(spark, dir)
      .join(detail, $"o_orderkey" === $"l_orderkey", "left_outer")
      .select($"o_orderstatus",
        when($"detail_total".isNull, "missing_detail")
          .when(diff * 100 <= h, "matched")
          .otherwise("mismatched").as("recon_status"),
        diff.as("disc"))
      .groupBy($"o_orderstatus", $"recon_status")
      .agg(count(lit(1)).as("n_orders"),
        sum($"disc").cast(DoubleType).as("total_discrepancy"))
      .orderBy($"o_orderstatus", $"recon_status")
  }

  /** NS: exponentially time-decayed event counters per user — the
    * feature-store aggregate behind recency-weighted activity scores
    * (each event contributes e^(−Δt/τ), τ = 1 h, anchored at the corpus
    * max timestamp so the feature is a pure function of the data). The
    * per-event decay term is quantized to 2^-20 fixed point BEFORE the
    * per-user sum — order-free integer arithmetic, and the 1-ulp libm
    * `exp` divergence between engines is absorbed by the quantizer (same
    * discipline as `lm_score`'s ln). One 1-row anchor broadcast + one
    * user-keyed aggregation: linear and shardable at any scale, and the
    * same expression incrementally maintains under a streaming fold
    * (decayed(t2) = decayed(t1)·e^(−(t2−t1)/τ) + new terms). */
  def decayedCounts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select($"user_id", unix_micros($"ts").as("us"))
    val anchor = ev.agg(max($"us").as("t_max"))
    ev.crossJoin(broadcast(anchor))
      .select($"user_id",
        floor(exp(($"us" - $"t_max").cast(DoubleType) / lit(3.6e9))
          * lit(1048576.0) + lit(0.5)).as("term_u20"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"), sum($"term_u20").as("decayed_u20"))
      .orderBy($"user_id")
  }

  /** NS: burst detection — the rate-anomaly twin of `anomaly_zscore`:
    * bucket events into epoch hours per type, then flag hours whose COUNT
    * is > 2.5σ from the type's mean rate (traffic spikes / pipeline
    * stalls). Counts are integers, so the sufficient statistics (Σn, Σn²)
    * are EXACT longs and mean/σ/z are single correctly-rounded IEEE
    * expressions over them — the flag boundary is bit-stable cross-engine
    * without any quantization. Two bounded aggregations (hours × types,
    * then types) + a broadcast join back onto the hourly frame. */
  def burstDetection(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val counts = Tables.events(spark, dir)
      .select($"event_type", expr("unix_micros(ts) div 3600000000").as("hr"))
      .groupBy($"event_type", $"hr").agg(count(lit(1)).as("n"))
    val stats = counts.groupBy($"event_type").agg(
      count(lit(1)).as("n_hours"),
      sum($"n").as("sv"),
      sum($"n" * $"n").as("svv"))
    val mean = $"sv".cast(DoubleType) / $"n_hours"
    val stdev = sqrt(($"svv".cast(DoubleType) -
      $"sv".cast(DoubleType) * $"sv" / $"n_hours") / $"n_hours")
    counts.join(broadcast(stats), "event_type")
      .select($"event_type", $"hr", $"n", mean.as("mean"), stdev.as("std"),
        (($"n" - mean) / stdev).as("z"))
      .where(abs(($"n" - mean) / stdev) > 2.5)
      .orderBy($"event_type", $"hr")
  }

  /** NS: robust outlier detection via median absolute deviation — the
    * heavy-tail-safe complement to `anomaly_zscore` (mean/stddev are
    * themselves dragged by the outliers they're meant to find; the
    * median/MAD pair is 50%-breakdown robust). Flag when the modified
    * z-score 0.6745·|v−med|/MAD exceeds 3.5 (Iglewicz–Hoaglin cutoff).
    *
    * Medians are DISCRETE order statistics (the row at rank ⌈n/2⌉ in the
    * (value, event_id) total order), not interpolated — interpolation
    * arithmetic differs subtly between engines, an exact data element
    * cannot. The outlier test is rearranged division-free
    * (0.6745·dev > 3.5·MAD): pure IEEE multiply/compare, bit-identical in
    * any engine, and MAD = 0 degrades sanely (any dev > 0 flags).
    *
    * Scale: two rank windows partitioned BY event_type — one type per
    * sort partition, same partitioning story as `length_quartiles`; an
    * exact global median at 100 TB would instead broadcast approx-quantile
    * cutpoints as `winsorized_stats` does. */
  def madOutliers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir).select($"event_type", $"event_id", $"value")
    // Grid median (round 13, guide §2.3 "aggregate before you shuffle"):
    // the old form ranked EVERY event row inside a window partitioned by
    // the 5-value event_type enum — a full per-type sort whose partition
    // is the entire type at any scale (the one-task-per-enum-value
    // shape). The median of a multiset only depends on per-VALUE counts:
    // aggregate to the (type, value) grid first (map-side combined),
    // cumulative-count along the value order, and the median is the
    // value whose rank interval (prev_cum, cum] contains
    // r = floor((n+1)/2) — identical output, and the per-type sort now
    // runs over the distinct-value grid instead of the raw rows.
    def medianOf(df: DataFrame, valueCol: String, out: String): DataFrame = {
      val counts = df.groupBy($"event_type", col(valueCol))
        .agg(count(lit(1)).as("_c"))
      val wc = Window.partitionBy($"event_type").orderBy(col(valueCol))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wn = Window.partitionBy($"event_type")
      counts
        .withColumn("_cum", sum($"_c").over(wc))
        .withColumn("_r", floor((sum($"_c").over(wn) + 1) / 2))
        .where($"_cum" - $"_c" < $"_r" && $"_r" <= $"_cum")
        .select($"event_type", col(valueCol).as(out))
    }
    val med = medianOf(ev, "value", "med")
    val dev = ev.join(med, "event_type")
      .withColumn("dev", abs($"value" - $"med"))
    val mad = medianOf(dev.select($"event_type", $"dev"), "dev", "mad")
    dev.join(mad, "event_type")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        min($"med").as("med"), min($"mad").as("mad"),
        sum(when(lit(0.6745) * $"dev" > lit(3.5) * $"mad", 1).otherwise(0))
          .as("n_outliers"))
      .orderBy($"event_type")
  }

  /** NS (LLM pipeline): exact dedup with a deterministic keeper — first
    * event per (user_id, event_type) by (ts, event_id). Same single
    * shuffle as groupBy; `dropDuplicates` semantics but reproducible, which
    * is what a 100 TB training-data pipeline actually needs (re-runs must
    * keep the same rows). */
  def dedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // argmin AGGREGATE, not a window (round 13, guide §2.3 "aggregate
    // before you shuffle"): the keeper is min(struct(ts, event_id)) per
    // (user, type) — lexicographic struct min over a total order picks
    // the same row the old row_number()=1 window did, but it PARTIAL-
    // aggregates map-side, so the shuffle carries one row per group
    // instead of every event, and the per-group sort disappears.
    // (The round-12 sf2 scaling watch flagged this query at 2.31x; the
    // window's full-row shuffle + sort was the non-linear part.)
    Tables.events(spark, dir)
      .groupBy($"user_id", $"event_type")
      .agg(min(struct(unix_micros($"ts").as("ts_us"), $"event_id")).as("f"))
      .select($"user_id", $"event_type", $"f.event_id".as("event_id"),
        $"f.ts_us".as("ts_us"))
      .orderBy($"user_id", $"event_type")
  }

  /** NS: TPC-H Q1-shaped pricing summary — the canonical wide grouped
    * aggregate: 4 decimal-exact sums, 3 averages, and a count over a
    * date-filtered scan, grouped by the 2-value flag pair. The heaviest
    * single-table aggregation shape there is; everything partial-
    * aggregates map-side, so the shuffle carries ≤ |groups| rows per
    * partition no matter the scan size. Averages are one terminal
    * division of an exact decimal sum by an exact count each. */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // pin the disc-price intermediate to DECIMAL(18,4) (values < 10^7, so
    // exact) BEFORE the tax multiply: the raw (37,4)×(18,2) product would
    // exceed precision 38 and each engine rounds the overflow differently.
    // Round 14: both products are built from exact cents with long
    // multiplies (price·(100−disc) < 2^63, ·(100+tax) still < 2^63 —
    // per-row DOMAIN bounds) into the identical DECIMAL(18,4)/(37,6)
    // sum inputs the decimal-multiply chain produced; the old path paid
    // 4 Double.toString casts + 2 BigDecimal multiplies per scanned row.
    val ec = money_cents($"l_extendedprice")
    val discCentsSq = ec * (lit(100L) - money_cents($"l_discount"))
    val discPrice = unscaled_decimal(discCentsSq, 18, 4)
    val charge = unscaled_decimal(
      discCentsSq * (lit(100L) + money_cents($"l_tax")), 38, 6)
    Tables.lineitem(spark, dir)
      .filter($"l_shipdate" <= lit("2001-09-01").cast(TimestampType))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        sum(money_dec2($"l_quantity")).cast(DoubleType).as("sum_qty"),
        sum(money_dec2($"l_extendedprice")).cast(DoubleType).as("sum_base_price"),
        sum(discPrice).cast(DoubleType).as("sum_disc_price"),
        sum(charge).cast(DoubleType).as("sum_charge"),
        (sum(money_dec2($"l_quantity")).cast(DoubleType) / count(lit(1)))
          .as("avg_qty"),
        (sum(money_dec2($"l_extendedprice")).cast(DoubleType) / count(lit(1)))
          .as("avg_price"),
        (sum(money_dec2($"l_discount")).cast(DoubleType) / count(lit(1)))
          .as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  /** NS: TPC-H Q6-shaped forecast-revenue scan — THE pushdown benchmark:
    * one table, three range predicates, one sum; the whole query is a
    * parquet scan whose filters must reach the reader (PlanSpec pins
    * PushedFilters) and whose aggregate is a map-side partial. At 100 TB
    * this shape is bound purely by scan bandwidth × selectivity. */
  def revenueForecast(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .filter($"l_shipdate" >= lit("1997-01-01").cast(TimestampType) &&
        $"l_shipdate" < lit("1998-01-01").cast(TimestampType) &&
        $"l_discount" >= 0.05 && $"l_discount" <= 0.07 && $"l_quantity" < 24)
      .agg(
        sum(unscaled_decimal(money_cents($"l_extendedprice") *
          money_cents($"l_discount"), 37, 4)).cast(DoubleType)
          .as("forecast_revenue"),
        count(lit(1)).as("n_lineitems"))
  }

  /** NS: TPC-H Q19-shaped disjunctive-predicate join — OR-of-ANDs across
    * both join sides (brand × size × quantity bands). Catalyst extracts
    * the common `l_partkey = p_partkey` conjunct so the join stays an
    * equi-join (hash) with the disjunction as a residual filter — the
    * plan shape that separates engines that CNF-convert from those that
    * fall back to a nested loop. `part` is SF-scaled, so no broadcast
    * hint: statistics/AQE pick broadcast at fixture tiers and a partkey
    * shuffle join at 100 TB part counts. */
  def brandPromo(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val l = Tables.lineitem(spark, dir)
    val p = Tables.part(spark, dir)
    l.join(p, $"l_partkey" === $"p_partkey" && (
        ($"p_brand" === "Brand#1" && $"p_size".between(1, 15) &&
          $"l_quantity".between(1, 11)) ||
        ($"p_brand" === "Brand#2" && $"p_size".between(1, 30) &&
          $"l_quantity".between(10, 20)) ||
        ($"p_brand" === "Brand#3" && $"p_size".between(1, 45) &&
          $"l_quantity".between(20, 30))))
      .agg(revenueExact($"l_extendedprice", $"l_discount").as("revenue"),
        count(lit(1)).as("n_lineitems"),
        countDistinct($"p_partkey").as("n_parts"))
  }

  /** NS: TPC-H Q15-shaped top supplier — the "equal to a global max"
    * shape: quarterly revenue per supplier, keep every supplier tied at
    * the maximum (ties KEPT — a top-1 LIMIT would silently drop them).
    * The 1-row max broadcasts back onto the per-supplier frame (the
    * revenue_share scalar pattern); revenue is decimal-exact so the
    * equality is safe cross-engine. */
  def topSupplier(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rev = Tables.lineitem(spark, dir)
      .filter($"l_shipdate" >= lit("1997-01-01").cast(TimestampType) &&
        $"l_shipdate" < lit("1997-04-01").cast(TimestampType))
      .groupBy($"l_suppkey")
      .agg(revenueExact($"l_extendedprice", $"l_discount").as("total_revenue"))
    val mx = rev.agg(max($"total_revenue").as("mx"))
    // the tied-at-max winner set is the provably-reduced side (≈1 row),
    // so IT carries the broadcast hint — never the SF-scaled supplier
    // table, which would pin an unbounded broadcast at 100 TB.
    val winners = rev.crossJoin(broadcast(mx))
      .where($"total_revenue" === $"mx")
    broadcast(winners)
      .join(Tables.supplier(spark, dir), $"l_suppkey" === $"s_suppkey")
      .select($"l_suppkey".as("suppkey"), $"s_name", $"total_revenue")
      .orderBy($"suppkey")
  }

  /** NS: FORWARD as-of join — each event matched to the same user's
    * EARLIEST purchase at-or-after it (the "what happened next"
    * direction: time-to-conversion, next-touch attribution). No new
    * operator: a backward as-of on NEGATED µs time IS the forward join,
    * so the same `AsOfJoinExec` serves both directions — the
    * composability proof for the custom operator. Left-outer keeps
    * events with no later purchase, null-extended. */
  def asofJoinForward(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select($"event_id", $"user_id", $"ts", $"event_type")
      .withColumn("neg_ts", -unix_micros($"ts"))
    val purchases = Tables.events(spark, dir)
      .filter($"event_type" === "purchase")
      .select($"user_id".as("p_user_id"), $"ts".as("p_ts"),
        $"event_id".as("p_event_id"), $"value".as("p_value"))
      .withColumn("p_neg_ts", -unix_micros($"p_ts"))
    graft.plans.AsOfJoin(ev, purchases, "user_id", "p_user_id",
        "neg_ts", "p_neg_ts", "left_outer")
      .select($"event_id", $"user_id", unix_micros($"ts").as("ts_us"),
        $"event_type", $"p_event_id", unix_micros($"p_ts").as("p_ts_us"),
        $"p_value")
      .orderBy($"event_id")
  }

  /** NS: order→ship lead-time distribution per order priority — exact
    * integer day deltas (µs subtraction, integer division) through the
    * house dyadic-exact quantile pairing (`percentile` ↔ DuckDB
    * `quantile_cont`: midpoint interpolation of integers is FP-exact).
    * The ops-latency report shape; one fact join + one bounded rollup. */
  def leadTime(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), $"l_orderkey" === $"o_orderkey")
      .select($"o_orderpriority".as("priority"),
        datediff($"l_shipdate".cast(DateType), $"o_orderdate".cast(DateType))
          .cast(LongType).as("lead_days"))
      .groupBy($"priority")
      .agg(count(lit(1)).as("n"),
        min($"lead_days").as("min_days"),
        expr("percentile(lead_days, 0.5)").as("median_days"),
        // 0.75, not 0.95: only dyadic fractions keep the interpolation
        // formula FP-exact across engines (see quantile_report)
        expr("percentile(lead_days, 0.75)").as("p75_days"),
        max($"lead_days").as("max_days"))
      .orderBy($"priority")
  }

  /** NS: TPC-H Q22-shaped idle high-balance customers — the
    * scalar-subquery + anti-join composite: customers whose balance
    * exceeds the positive-balance average AND who placed no order since
    * 2000 (a recency window rather than "never": the fixture gives every
    * customer SOME order, exactly like real books do — dormancy is
    * always relative to a horizon). The average comes from an exact
    * decimal sum over an exact count (one terminal division), so the
    * threshold is engine-identical; the anti-join is the same
    * null-rejecting left-anti the driver's `semi_anti_join` pins, with
    * the date filter pushed into the orders scan before it. */
  def idleCustomers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = Tables.customer(spark, dir)
    val avgBal = c.filter($"c_acctbal" > 0.0)
      .agg((sum(money_dec2($"c_acctbal")).cast(DoubleType) /
        count(lit(1))).as("avg_bal"))
    val recent = Tables.orders(spark, dir)
      .filter($"o_orderdate" >= lit("2000-01-01").cast(TimestampType))
    c.crossJoin(broadcast(avgBal))
      .where($"c_acctbal" > $"avg_bal")
      .join(recent, $"c_custkey" === $"o_custkey", "left_anti")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_customers"),
        sum(money_dec2($"c_acctbal")).cast(DoubleType)
          .as("total_balance"))
      .orderBy($"c_mktsegment")
  }

  /** NS: two-sample Kolmogorov–Smirnov drift statistic — the exact
    * sup-norm distance between the purchase and view value
    * distributions: D = max over observed values of
    * |CDF_A(v) − CDF_B(v)|. The distribution-shift monitor a feature
    * pipeline runs between snapshots before trusting a model's inputs.
    * Computed exactly: per-value counts per side (one shuffle), then the
    * global CDF cumulative via [[Scale.withGlobalCumsum]] — range-
    * partitioned per-partition running sums plus broadcast prefix
    * offsets in the same plan (no driver collect), NOT an unpartitioned
    * window: `value` is a continuous column, so its distinct grid grows
    * with the data (≈ row count on real continuous data) and a
    * single-task cumulative sort would be the classic 100 TB scale-killer.
    * Every CDF difference is quantized to 2^-20 fixed point BEFORE the
    * argmax so the winning value is engine-exact (ties break to the
    * smallest value). */
  def ksDrift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .filter($"event_type".isin("purchase", "view"))
      .select($"event_type", $"value")
    // no cut of the grid: its one reader is withGlobalCumsum, whose own
    // cut materializes it for both of that helper's branches (a second
    // cut here ran one more job and SQL execution and read more rows)
    val perValue = ev.groupBy($"value")
      .agg(sum(($"event_type" === "purchase").cast(LongType)).as("ca"),
        sum(($"event_type" === "view").cast(LongType)).as("cb"))
    val totals = ev.agg(
      sum(($"event_type" === "purchase").cast(LongType)).as("na"),
      sum(($"event_type" === "view").cast(LongType)).as("nb"))
    Scale.withGlobalCumsum(perValue, Seq($"value"),
      Seq("ca" -> "cuma", "cb" -> "cumb"))
      .select($"value", $"cuma", $"cumb")
      .crossJoin(broadcast(totals))
      .select($"value",
        floor(abs($"cuma".cast(DoubleType) / $"na"
          - $"cumb".cast(DoubleType) / $"nb") * 1048576.0 + 0.5)
          .cast(LongType).as("d_u20"), $"na", $"nb")
      .agg(max(struct($"d_u20", (-$"value").as("nv"))).as("m"),
        max($"na").as("n_a"), max($"nb").as("n_b"))
      .select($"n_a", $"n_b", $"m.d_u20".as("ks_d_u20"),
        (-$"m.nv").as("argmax_value"))
  }

  /** NS: order-status transition matrix — the Markov-chain estimate over
    * each customer's order sequence: `lag` pairs consecutive statuses by
    * (o_orderdate, o_orderkey), then counts each (from → to) edge and its
    * row-share within the `from` state (the transition probability, one
    * terminal division of exact counts). Sequence analytics the per-row
    * `lag_lead_gaps` stops short of: this is the aggregated chain. One
    * window shuffle on custkey, then a bounded status×status rollup. */
  def statusTransitions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    transitionMatrix(Tables.orders(spark, dir)
      .select($"o_custkey", $"o_orderdate", $"o_orderkey", $"o_orderstatus")
      .withColumn("from_type", lag($"o_orderstatus", 1).over(w))
      .where($"from_type".isNotNull)
      .select($"from_type", $"o_orderstatus".as("to_type")))
      .select($"from_type".as("from_status"), $"to_type".as("to_status"),
        $"n", $"prob".as("p"))
  }

  /** NS: market-basket brand affinity — co-purchase counts and lift for
    * brand pairs appearing in the same order. The within-order self-join
    * is bounded by items-per-order (≈7), so pair fan-out is
    * O(rows · items/order), never corpus-quadratic — the same
    * bounded-blocking discipline as the LSH band joins. Lift =
    * P(a,b)/(P(a)·P(b)) from exact counts, quantized to 2^-20 fixed point
    * so the ranking is engine-exact (ln-free, divisions composed in one
    * expression both engines evaluate identically). */
  def basketPairs(spark: SparkSession, dir: String, minPairN: Long = 20): DataFrame = {
    import spark.implicits._
    // Round 14 (guide §2.4 "remove shuffles outright"): the round-13 plan
    // materialized the distinct (order, brand) frame and SELF-JOINED it
    // on okey — a distinct exchange plus a join exchange of the full
    // frame. The per-order brand set is bounded (≤|brands| = 25
    // elements), so ONE okey-keyed collect_set aggregate (map-side
    // partial — lineitem arrives order-clustered, so partials collapse
    // hard) replaces both: pairs explode IN-ROW from the sorted set
    // (a<b via index slicing — same pair set, same string order as the
    // old a.brand < b.brand join condition), and the totals/marginals
    // derive from the same per-order frame. Bounded per-group state at
    // any SF; the lineage cut feeds 3 consumers.
    // collect_set drops NULLs, so a NULL p_brand would vanish from the
    // brandN marginals (the old distinct kept it): the query assumes
    // p_brand is non-null, as it is in the contract data.
    // part is SF-scaled — no broadcast hint; stats/AQE choose.
    val (orderSets, _) = Checkpoints.eagerCut(Tables.lineitem(spark, dir)
      .join(Tables.part(spark, dir), $"l_partkey" === $"p_partkey")
      .groupBy($"l_orderkey".as("okey"))
      .agg(array_sort(collect_set($"p_brand")).as("brands")))
    // 1-row totals frame folded into the plan (no separate count action)
    val totals = orderSets.agg(count(lit(1)).as("n_orders_total"))
    val brandN = orderSets
      .select(explode($"brands").as("brand"))
      .groupBy($"brand").agg(count(lit(1)).as("bn"))
    val pairs = orderSets
      .select(explode(expr(
        // all i<j pairs of the ascending-sorted set, flattened
        "flatten(transform(brands, (x, i) -> " +
          "transform(slice(brands, i + 2, size(brands)), y -> " +
          "struct(x AS brand_a, y AS brand_b))))")).as("p"))
      .groupBy($"p.brand_a".as("brand_a"), $"p.brand_b".as("brand_b"))
      .agg(count(lit(1)).as("pair_n"))
      .where($"pair_n" >= minPairN)
    pairs
      .join(brandN.select($"brand".as("brand_a"), $"bn".as("na")), "brand_a")
      .join(brandN.select($"brand".as("brand_b"), $"bn".as("nb")), "brand_b")
      .crossJoin(broadcast(totals))
      .select($"brand_a", $"brand_b", $"pair_n", $"na", $"nb",
        floor($"pair_n".cast(DoubleType) * $"n_orders_total" / $"na" / $"nb"
          * 1048576.0 + 0.5).cast(LongType).as("lift_u20"))
      .orderBy($"brand_a", $"brand_b")
  }

  /** NS: rolling 7-day active users (WAU) per day — the one windowed
    * metric a window function CANNOT express: COUNT(DISTINCT) over a
    * sliding frame doesn't merge, so the correct distributed shape is
    * (day, user) de-dup first, then a bounded 7-way day-offset explode
    * and one exact distinct count per anchor day. Fan-out is exactly 7×
    * the distinct (day,user) pairs — independent of raw event volume,
    * which is what makes this linear at 100 TB where the naive
    * self-join-by-range is not. Day keys are integer epoch-days (UTC),
    * so bucketing is engine-exact. */
  def rollingWau(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dayUser = Tables.events(spark, dir)
      .select(expr("unix_micros(ts) div 86400000000").as("day"), $"user_id")
      .distinct()
    // each (day, user) pair contributes to anchors day..day+6
    val contrib = dayUser
      .select(explode(sequence($"day", $"day" + 6)).as("anchor"), $"user_id",
        $"day")
    val anchors = dayUser.select($"day".as("anchor")).distinct()
    contrib.join(anchors, "anchor") // only emit anchors with actual activity
      .groupBy($"anchor")
      .agg(countDistinct($"user_id").as("wau"),
        countDistinct(when($"day" === $"anchor", $"user_id")).as("dau"))
      .select($"anchor".as("epoch_day"), $"dau", $"wau",
        ($"dau".cast(DoubleType) / $"wau").as("stickiness"))
      .orderBy($"epoch_day")
  }

  /** NS: TPC-H Q13-shaped customer-order distribution — the
    * aggregate-of-an-aggregate shape: per-customer order counts (LEFT
    * join, so no-order customers land in the 0 bucket — the row the
    * inner-join formulation silently loses), then the histogram of those
    * counts. Both aggregations partial-combine; the second one's input
    * is already |customers| rows, so the heavy shuffle happens exactly
    * once. */
  def custOrderDist(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val perCust = Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir), $"c_custkey" === $"o_custkey", "left_outer")
      .groupBy($"c_custkey")
      .agg(count($"o_orderkey").as("c_count"))
    perCust.groupBy($"c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy($"custdist".desc, $"c_count".desc)
  }

  /** NS: TPC-H Q3-shaped shipping-priority report — unshipped-revenue
    * top-10 over a 3-way filtered join. Every filter sits directly on its
    * scan (pushed to parquet: segment on customer, date on both fact
    * sides), so the joins see pre-pruned inputs; the final top-10 is a
    * TakeOrderedAndProject, never a global sort. Revenue is decimal-exact
    * (`revenueExact`) so the desc ranking is engine-independent; ties
    * break by order key. At 100 TB: two fact-fact shuffle joins on
    * orderkey/custkey — the canonical co-partitioned pipeline. */
  def shippingPriority(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cutoff = lit("1998-01-01").cast(TimestampType)
    val c = Tables.customer(spark, dir).filter($"c_mktsegment" === "BUILDING")
    val o = Tables.orders(spark, dir).filter($"o_orderdate" < cutoff)
    val l = Tables.lineitem(spark, dir).filter($"l_shipdate" > cutoff)
    l.join(o, $"l_orderkey" === $"o_orderkey")
      .join(c, $"o_custkey" === $"c_custkey")
      .groupBy($"l_orderkey", $"o_orderpriority")
      .agg(revenueExact($"l_extendedprice", $"l_discount").as("revenue"),
        // o_orderdate is functionally determined by l_orderkey — max() is
        // just the determinism-safe way to carry it through the agg
        max($"o_orderdate").cast(DateType).as("order_date"))
      .orderBy($"revenue".desc, $"l_orderkey")
      .limit(10)
  }

  /** NS: TPC-H Q14-shaped promotion-revenue ratio — conditional
    * aggregation over a fact⋈dim join. `part` is the bounded dim →
    * explicit broadcast (no shuffle of the lineitem side at all); the
    * promo share is one pass with a `when` inside the sum, not two scans.
    * The month filter prunes lineitem at the scan. Numerator and
    * denominator are exact decimals; the single terminal division is the
    * only FP op, bit-identical cross-engine. */
  def promoRevenue(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val l = Tables.lineitem(spark, dir)
      .filter($"l_shipdate" >= lit("1997-01-01").cast(TimestampType) &&
        $"l_shipdate" < lit("1997-04-01").cast(TimestampType))
    val rev = unscaled_decimal(money_cents($"l_extendedprice") *
      (lit(100L) - money_cents($"l_discount")), 38, 4)
    l.join(Tables.part(spark, dir), $"l_partkey" === $"p_partkey")
      .agg(
        sum(when($"p_type" === "PROMO", rev)).cast(DoubleType).as("promo_revenue"),
        sum(rev).cast(DoubleType).as("total_revenue"),
        count(lit(1)).as("n_lineitems"))
      .select($"promo_revenue", $"total_revenue", $"n_lineitems",
        ($"promo_revenue" / $"total_revenue").as("promo_share"))
  }

  /** NS: TPC-H Q18-shaped large-volume customers — HAVING over a grouped
    * sum, joined back to the dimension for names. The aggregate runs
    * BEFORE the join, so only qualifying customers (a tiny fraction)
    * reach the join — at 100 TB the orders aggregation is the only
    * fact-sized shuffle and the join input is post-HAVING. Money through
    * DECIMAL(18,2) end to end; the threshold compares decimals exactly. */
  def topSpenders(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val spend = Tables.orders(spark, dir)
      .groupBy($"o_custkey")
      .agg(sum(money_dec2($"o_totalprice")).as("spend_dec"),
        count(lit(1)).as("n_orders"),
        max($"o_totalprice").as("max_order"))
      .filter($"spend_dec" > lit(4000000).cast(DecimalType(18, 2)))
    spend.join(Tables.customer(spark, dir), $"o_custkey" === $"c_custkey")
      .select($"o_custkey".as("custkey"), $"c_name", $"c_mktsegment",
        $"n_orders", $"spend_dec".cast(DoubleType).as("total_spend"),
        $"max_order")
      .orderBy($"custkey")
  }

  /** NS: TPC-H Q2-shaped min-cost supplier — per part, the supplier
    * observed offering the lowest unit price, argmin via `min(struct)` so
    * the map side ships ONE candidate per (part, partition) instead of a
    * window over all lineitems. Unit price is a single IEEE division per
    * row (identical cross-engine); ties break inside the struct by
    * suppkey. The supplier join is unhinted (supplier is SF-scaled;
    * stats/AQE choose) and only the bounded nation dim carries a
    * broadcast hint. At 100 TB the lineitem argmin is the only fact
    * shuffle, with partial aggregation doing the heavy lifting map-side. */
  def minCostSupplier(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val best = Tables.lineitem(spark, dir)
      .select($"l_partkey",
        struct(($"l_extendedprice" / $"l_quantity").as("unit_price"),
          $"l_suppkey".as("s")).as("cand"))
      .groupBy($"l_partkey")
      .agg(min($"cand").as("best"), count(lit(1)).as("n_offers"))
      .select($"l_partkey", $"best.unit_price".as("unit_price"),
        $"best.s".as("suppkey"), $"n_offers")
    best
      // supplier is SF-scaled — unhinted (stats/AQE choose); nation is
      // bounded by construction (≤25 rows) so its hint is safe
      .join(Tables.supplier(spark, dir), $"suppkey" === $"s_suppkey")
      .join(broadcast(Tables.nation(spark, dir)), $"s_nationkey" === $"n_nationkey")
      .select($"l_partkey".as("partkey"), $"suppkey", $"s_name", $"n_name",
        $"unit_price", $"n_offers")
      .orderBy($"partkey")
  }

  /** NS: TPC-H Q10 shape — returned-item reporting: the top-20 customers
    * by revenue lost to returns in a one-year window. The return-flag and
    * date predicates are scan-side on their respective fact tables (both
    * reach the parquet reader), the nation dim broadcasts, and the final
    * ranking is a TakeOrderedAndProject over the per-customer aggregate —
    * never a global sort. Revenue is decimal-exact before the one cast to
    * double, so the rank-20 cutoff is the same on both engines; ties
    * break by custkey. */
  def returnedItems(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir).filter($"l_returnflag" === "R")
    val o = Tables.orders(spark, dir)
      .filter($"o_orderdate" >= lit("1997-01-01").cast(TimestampType) &&
        $"o_orderdate" < lit("1998-01-01").cast(TimestampType))
    li.join(o, $"l_orderkey" === $"o_orderkey")
      .join(Tables.customer(spark, dir), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.nation(spark, dir)),
        $"c_nationkey" === $"n_nationkey")
      .groupBy($"c_custkey", $"c_name", $"n_name")
      .agg(revenueExact($"l_extendedprice", $"l_discount").as("revenue"),
        count(lit(1)).as("n_items"))
      .select($"c_custkey".as("custkey"), $"c_name", $"n_name",
        $"revenue", $"n_items")
      .orderBy($"revenue".desc, $"custkey")
      .limit(20)
  }

  /** NS: TPC-H Q7 shape — cross-border trade volume: revenue shipped from
    * each supplier nation to each (different) customer nation per order
    * year. Two fact shuffles (lineitem⋈orders on orderkey, then custkey),
    * the supplier and both nation dims broadcast; output is bounded by
    * |nations|²·|years| regardless of fact size. The year comes from
    * `year()` on a NTZ timestamp under a UTC session — calendar-stable
    * cross-engine. */
  def nationTrade(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val n1 = Tables.nation(spark, dir)
      .select($"n_nationkey".as("sn_key"), $"n_name".as("supp_nation"))
    val n2 = Tables.nation(spark, dir)
      .select($"n_nationkey".as("cn_key"), $"n_name".as("cust_nation"))
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), $"l_orderkey" === $"o_orderkey")
      .join(Tables.customer(spark, dir), $"o_custkey" === $"c_custkey")
      .join(Tables.supplier(spark, dir), $"l_suppkey" === $"s_suppkey")
      .join(broadcast(n1), $"s_nationkey" === $"sn_key")
      .join(broadcast(n2), $"c_nationkey" === $"cn_key")
      .where($"supp_nation" =!= $"cust_nation")
      .groupBy($"supp_nation", $"cust_nation",
        year($"o_orderdate").as("yr"))
      .agg(revenueExact($"l_extendedprice", $"l_discount").as("revenue"),
        count(lit(1)).as("n_lineitems"))
      .orderBy($"supp_nation", $"cust_nation", $"yr")
  }

  /** NS: TPC-H Q5 shape — local supplier volume: revenue per nation from
    * orders where the CUSTOMER and the SUPPLIER sit in the same nation
    * (the "local fulfilment" read), restricted to one region and one
    * order year. The same-nation predicate rides the lineitem→supplier
    * join as an extra equality (c_nationkey = s_nationkey), so mismatched
    * pairs die in the join, not in a post-filter; the bounded
    * nation×region membership is the only hinted broadcast (supplier is
    * SF-scaled — unhinted, stats/AQE choose); the date cut is a half-open
    * RANGE LITERAL (`>= '1997-01-01' && < '1998-01-01'`), not `year()`,
    * so it reaches the orders parquet scan as a min/max row-group filter
    * — a `year(col)=k` function predicate cannot be pushed and would
    * read every row group at any scale. One fact shuffle
    * (lineitem⋈orders), exact decimal revenue — the Q7 discipline on the
    * Q5 topology. */
  def localVolume(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nations = Tables.nation(spark, dir)
      .join(Tables.region(spark, dir).where($"r_name" === "ASIA"),
        $"n_regionkey" === $"r_regionkey")
      .select($"n_nationkey", $"n_name")
    val ord = Tables.orders(spark, dir)
      .where($"o_orderdate" >= lit("1997-01-01").cast(TimestampType) &&
        $"o_orderdate" < lit("1998-01-01").cast(TimestampType))
      .select($"o_orderkey", $"o_custkey")
    Tables.lineitem(spark, dir)
      .join(ord, $"l_orderkey" === $"o_orderkey")
      .join(Tables.customer(spark, dir), $"o_custkey" === $"c_custkey")
      .join(Tables.supplier(spark, dir),
        $"l_suppkey" === $"s_suppkey" && $"c_nationkey" === $"s_nationkey")
      .join(broadcast(nations), $"s_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(revenueExact($"l_extendedprice", $"l_discount").as("revenue"),
        count(lit(1)).as("n_lineitems"))
      .orderBy($"revenue".desc, $"n_name")
  }

  /** NS: TPC-H Q8 shape — market share: for customers in the ASIA region,
    * the yearly share of their purchase revenue supplied from WITHIN the
    * region (the "home market share" conditional-aggregate form Q8
    * introduced). The region→nation membership set is a broadcast
    * semi-join on the customer side and a broadcast left join carrying an
    * in-region flag on the supplier side; one pass computes both the
    * conditional and total decimal sums, and the share is a single double
    * division of exact decimals — identical on both engines. */
  def marketShare(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val asia = Tables.nation(spark, dir)
      .join(broadcast(Tables.region(spark, dir).filter($"r_name" === "ASIA")),
        $"n_regionkey" === $"r_regionkey")
      .select($"n_nationkey".as("asia_key"))
    val custAsia = Tables.customer(spark, dir)
      .join(broadcast(asia), $"c_nationkey" === $"asia_key", "left_semi")
    val suppFlag = Tables.supplier(spark, dir)
      .join(broadcast(asia), $"s_nationkey" === $"asia_key", "left_outer")
      .select($"s_suppkey", $"asia_key".isNotNull.as("intra"))
    val rev = unscaled_decimal(money_cents($"l_extendedprice") *
      (lit(100L) - money_cents($"l_discount")), 38, 4)
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), $"l_orderkey" === $"o_orderkey")
      .join(custAsia, $"o_custkey" === $"c_custkey", "left_semi")
      // suppFlag has supplier's cardinality (SF-scaled) — unhinted
      .join(suppFlag, $"l_suppkey" === $"s_suppkey")
      .groupBy(year($"o_orderdate").as("yr"))
      .agg(
        sum(when($"intra", rev).otherwise(lit(0).cast(DecimalType(18, 2))))
          .cast(DoubleType).as("intra_revenue"),
        sum(rev).cast(DoubleType).as("total_revenue"),
        count(lit(1)).as("n_lineitems"))
      .withColumn("intra_share", $"intra_revenue" / $"total_revenue")
      .orderBy($"yr")
  }

  /** NS: TPC-H Q9 shape (adapted — the fixture has no partsupp, so profit
    * is revenue): per supplier nation × order year profit on widget
    * parts. The part-name filter prunes the part side BEFORE the fact
    * join touches it, so only widget lineitems survive into the orders
    * shuffle; part/supplier are SF-scaled so those joins are unhinted
    * (stats/AQE choose), and only the bounded nation dim broadcasts.
    * Output bounded by |nations|·|years|. */
  def productProfit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      // part (even name-filtered) and supplier are SF-scaled — unhinted;
      // only the ≤25-row nation dim keeps its broadcast hint
      .join(Tables.part(spark, dir)
          .filter($"p_name".contains("widget")).select($"p_partkey"),
        $"l_partkey" === $"p_partkey")
      .join(Tables.supplier(spark, dir), $"l_suppkey" === $"s_suppkey")
      .join(broadcast(Tables.nation(spark, dir)), $"s_nationkey" === $"n_nationkey")
      .join(Tables.orders(spark, dir), $"l_orderkey" === $"o_orderkey")
      .groupBy($"n_name".as("nation"), year($"o_orderdate").as("yr"))
      .agg(revenueExact($"l_extendedprice", $"l_discount").as("profit"),
        count(lit(1)).as("n_lineitems"))
      .orderBy($"nation", $"yr")
  }

  /** NS: TPC-H Q4 shape — order-priority checking: orders with at least
    * one line shipped more than 90 days after the order date, counted per
    * priority. The EXISTS becomes a LEFT SEMI hash join on orderkey with
    * the lateness comparison as its residual — each order emits at most
    * once no matter how many late lines it has, and the comparison is
    * pure integer µs arithmetic (no interval/calendar math to diverge
    * cross-engine). */
  def lateOrders(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val late = Tables.lineitem(spark, dir)
      .select($"l_orderkey",
        unix_micros($"l_shipdate".cast(TimestampType)).as("ship_us"))
    Tables.orders(spark, dir)
      .withColumn("cut_us",
        unix_micros($"o_orderdate".cast(TimestampType)) +
          lit(90L * 86400000000L))
      .join(late, $"o_orderkey" === $"l_orderkey" && $"ship_us" > $"cut_us",
        "left_semi")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_late_orders"))
      .orderBy($"o_orderpriority")
  }

  /** NS: out-of-order arrival audit — per event type, how many events
    * ARRIVED (event_id = arrival order) carrying an event time older than
    * something the same user already sent: the late-data ratio that sizes
    * a streaming watermark. Running per-user max over arrival order (one
    * user_id shuffle, O(1) window state), then a |types|-row rollup; the
    * permille is integer division — no floating point anywhere. */
  def lateArrivals(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    lateArrivalsReport(Tables.events(spark, dir)
      .select($"user_id", $"event_type", $"event_id",
        unix_micros($"ts").as("ts_us"))
      .withColumn("ooo", coalesce($"ts_us" < max($"ts_us").over(w), lit(false))))
  }

  /** [[lateArrivals]]' rollup over its per-event `ooo` flags. */
  private[graft] def lateArrivalsReport(flagged: DataFrame): DataFrame =
    flagged.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("ooo").cast(LongType)).as("n_ooo"))
      .withColumn("ooo_permille", expr("n_ooo * 1000 div n_events"))
      .orderBy(col("event_type"))

  /** NS: freshness SLA report — per event type, how far its newest event
    * lags the newest event anywhere (the staleness monitor a pipeline
    * runs before trusting a "current" table). Two tiny aggregates; the
    * 1-row global max broadcasts back onto the |types|-row frame. All
    * integer µs arithmetic. */
  def freshnessSla(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val perType = Tables.events(spark, dir)
      .groupBy($"event_type")
      .agg(max(unix_micros($"ts")).as("latest_us"),
        count(lit(1)).as("n_events"))
    val global = perType.agg(max($"latest_us").as("global_us"))
    perType.crossJoin(broadcast(global))
      .select($"event_type", $"n_events", $"latest_us",
        ($"global_us" - $"latest_us").as("lag_us"),
        when($"global_us" - $"latest_us" > 86400000000L, 1).otherwise(0)
          .as("stale_1d"))
      .orderBy($"event_type")
  }

  /** NS: watermark advisor — the delay→data-loss curve you actually SET
    * a streaming watermark with, where `late_arrivals` only measures the
    * out-of-order RATE: an event arriving when the stream has already
    * seen a later event time by more than the watermark delay is
    * dropped, so per candidate delay D ∈ {0, 60, 300, 900, 3600}s the
    * advisor reports how many events satisfy
    * (max event time seen STRICTLY before it in arrival order) − its
    * own event time > D. The global running max over arrival order is
    * [[Scale.withGlobalPrefixMax]] — range-partitioned with broadcast
    * per-partition offsets, never a single-task window — and all five
    * delays come from ONE conditional aggregate over that frame, melted
    * by `stack` on the single result row (no per-delay fan-out of the
    * scan). Integer µs throughout; permille by truncating div. */
  def watermarkAdvisor(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val delaysS = Seq(0L, 60L, 300L, 900L, 3600L)
    val ev = Tables.events(spark, dir)
      .select($"event_id", unix_micros($"ts").as("us"))
    val late = Scale.withGlobalPrefixMax(ev, Seq($"event_id"), "us", "pm")
      // first arrival has an empty strict prefix (the MinValue identity)
      // and can never be late
      .select(when($"pm" === Long.MinValue, 0L)
        .otherwise(greatest($"pm" - $"us", lit(0L))).as("late_us"))
    val agg = late.agg(count(lit(1)).as("n_events"),
      delaysS.map(d => sum(when($"late_us" > d * 1000000L, 1L).otherwise(0L))
        .as(s"d_$d")): _*)
    agg.select(expr("stack(" + delaysS.size + ", " +
        delaysS.map(d => s"$d, d_$d").mkString(", ") +
        ") AS (delay_s, n_dropped)"), $"n_events")
      .select($"delay_s".cast(IntegerType).as("delay_s"), $"n_events",
        $"n_dropped",
        // empty-events guard: Spark's `div` yields NULL on /0 while
        // DuckDB's `//` raises — pin both engines to 0 explicitly
        when($"n_events" === 0, 0L)
          .otherwise(expr("(n_dropped * 1000) div n_events"))
          .as("drop_permille"))
      .orderBy($"delay_s")
  }

  /** NS: gaps-and-islands — longest consecutive-active-day streak per
    * user (the engagement metric behind every "N-day streak" feature and
    * the classic islands SQL shape no other declared query covers). The
    * island id is day − row_number over the user's DISTINCT active days —
    * constant within a consecutive run — so one user-keyed window over
    * ≤ active-days/user rows (never raw events) finds every island; the
    * longest (ties → earliest start) comes from a per-user max joined
    * back on the SAME user-keyed exchange. All integer day arithmetic. */
  def userStreaks(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val days = Tables.events(spark, dir)
      .select($"user_id", expr("unix_micros(ts) div 86400000000").as("day"))
      .distinct()
    val w = Window.partitionBy($"user_id").orderBy($"day")
    val islands = days
      .withColumn("grp", $"day" - row_number().over(w))
      .groupBy($"user_id", $"grp")
      .agg(count(lit(1)).as("len"), min($"day").as("start_day"))
    val perUser = islands.groupBy($"user_id")
      .agg(sum($"len").as("n_active_days"), max($"len").as("longest"))
    islands.join(perUser, "user_id")
      .where($"len" === $"longest")
      .groupBy($"user_id", $"n_active_days", $"longest")
      .agg(min($"start_day").as("streak_start_day"))
      .select($"user_id", $"n_active_days", $"longest".as("longest_streak"),
        $"streak_start_day")
      .orderBy($"user_id")
  }

  /** NS: ordered k-step funnel — first view → first click within 24 h of
    * it → first purchase within 24 h of that click (the product funnel
    * the 2-step `funnel_conversion` generalizes to; each step's window
    * restarts at the previous step, the standard product-analytics
    * semantics). Each step is a min-aggregate over the previous step's
    * frontier joined back on user_id, so the whole chain re-uses ONE
    * user-keyed exchange and never materializes event pairs; the report
    * is the bounded steps-completed rollup with exact integer µs
    * view→purchase time for full completers. */
  def funnelSteps(spark: SparkSession, dir: String,
      stepUs: Long = 86400000000L): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select($"user_id", $"event_type", unix_micros($"ts").as("ts_us"))
    def step(tpe: String) = ev.filter($"event_type" === tpe)
    val v = step("view").groupBy($"user_id").agg(min($"ts_us").as("v_us"))
    val s = step("click").join(v, "user_id")
      .where($"ts_us" > $"v_us" && $"ts_us" <= $"v_us" + stepUs)
      .groupBy($"user_id", $"v_us").agg(min($"ts_us").as("s_us"))
    val p = step("purchase").join(s.select($"user_id", $"s_us"), "user_id")
      .where($"ts_us" > $"s_us" && $"ts_us" <= $"s_us" + stepUs)
      .groupBy($"user_id", $"s_us").agg(min($"ts_us").as("p_us"))
    funnelRollup(
      v.join(s.select($"user_id", $"s_us"), Seq("user_id"), "left_outer")
        .join(p.select($"user_id", $"p_us"), Seq("user_id"), "left_outer"))
  }

  /** [[funnelSteps]]' rollup over one row per user who viewed: the step
    * instants `v_us`, `s_us`, `p_us`, NULL for a step not reached. */
  private[graft] def funnelRollup(perUser: DataFrame): DataFrame =
    perUser.groupBy((lit(1) + col("s_us").isNotNull.cast(IntegerType) +
        col("p_us").isNotNull.cast(IntegerType)).as("steps_completed"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("p_us") - col("v_us")).as("total_conv_us"))
      .orderBy(col("steps_completed"))

  /** NS: 7-day trailing moving average of daily purchase revenue on the
    * DENSE day grid — the gap-correct moving average (a frame over only
    * observed days silently spans gaps; the grid makes empty days
    * contribute zero). Grid = 1-row min/max bounds broadcast through
    * `sequence`+`explode` (the `time_gapfill` shape), daily sums left-join
    * on, and the ROWS 6-PRECEDING frame runs over the grid — window input
    * is |days| rows, never raw events, so the single-partition global
    * window is bounded by the calendar span, not data volume. Sums stay
    * exact decimal; the one double division is the final average. */
  def dailyRevenueMa7(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val purchases = Tables.events(spark, dir)
      .filter($"event_type" === "purchase")
      .select(expr("unix_micros(ts) div 86400000000").as("day"),
        money_dec2($"value").as("v"))
    val daily = purchases.groupBy($"day")
      .agg(sum($"v").as("day_rev"), count(lit(1)).as("n_purchases"))
    val bounds = purchases.agg(min($"day").as("lo"), max($"day").as("hi"))
    val grid = bounds.select(explode(sequence($"lo", $"hi")).as("day"))
    val w = Window.orderBy($"day").rowsBetween(-6, 0)
    grid.join(daily, Seq("day"), "left_outer")
      .select($"day",
        coalesce($"day_rev", lit(0).cast(DecimalType(18, 2))).as("day_rev"),
        coalesce($"n_purchases", lit(0L)).as("n_purchases"))
      .withColumn("ma7",
        (sum($"day_rev").over(w).cast(DoubleType) /
          count(lit(1)).over(w).cast(DoubleType)))
      .select($"day".as("epoch_day"), $"day_rev".cast(DoubleType).as("day_rev"),
        $"n_purchases", $"ma7")
      .orderBy($"epoch_day")
  }

  /** NS: growth-accounting revenue bridge — the period-over-period
    * decomposition every revenue dashboard opens with: 1997 vs 1998
    * per-customer order revenue, each customer bucketed
    * new / churned / expanded / contracted / flat, rolled up to bucket
    * totals and the period delta. ONE conditional aggregate over the
    * two-year scan (the date filter reaches the reader) computes both
    * periods — no self-join of two period scans; the bucket rollup ships
    * |customers| rows once. Exact decimal throughout; the only doubles
    * are the final casts. */
  def revenueBridge(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dec0 = lit(0).cast(DecimalType(18, 2))
    val perCust = Tables.orders(spark, dir)
      .filter($"o_orderdate" >= lit("1997-01-01").cast(TimestampType) &&
        $"o_orderdate" < lit("1999-01-01").cast(TimestampType))
      .groupBy($"o_custkey")
      .agg(
        coalesce(sum(when($"o_orderdate" < lit("1998-01-01").cast(TimestampType),
          money_dec2($"o_totalprice"))), dec0).as("r1"),
        coalesce(sum(when($"o_orderdate" >= lit("1998-01-01").cast(TimestampType),
          money_dec2($"o_totalprice"))), dec0).as("r2"))
    perCust
      .withColumn("bucket",
        when($"r1" === dec0, "new")
          .when($"r2" === dec0, "churned")
          .when($"r2" > $"r1", "expanded")
          .when($"r2" < $"r1", "contracted")
          .otherwise("flat"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_customers"),
        sum($"r1").cast(DoubleType).as("rev_1997"),
        sum($"r2").cast(DoubleType).as("rev_1998"),
        sum($"r2" - $"r1").cast(DoubleType).as("delta"))
      .orderBy($"bucket")
  }

  /** NS: Pareto / revenue-concentration report — customers ranked by
    * total order revenue, cut into deciles, with each decile's revenue
    * share and the cumulative share (the 80/20 read). The decile cut is
    * DISTRIBUTED: `Scale.withGlobalRank` range-partitions the
    * per-customer aggregate on the revenue order and adds per-partition
    * offsets broadcast in the same plan (no driver collect) — no
    * single-partition `ntile` window ever runs, so the plan survives
    * billions of customers. Shares are double divisions of exact
    * decimals; rank ties break by custkey so the decile assignment is
    * total-ordered on any data; the 10-row
    * cumulative window is grid-sized by construction. */
  def paretoShare(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val perCust = Tables.orders(spark, dir)
      .groupBy($"o_custkey")
      .agg(sum(money_dec2($"o_totalprice")).as("rev"))
    val ranked = Scale.withGlobalRank(perCust, "_rn", "_n",
      Seq($"rev".desc, $"o_custkey"))
    val deciled = ranked
      .withColumn("decile", Scale.ntileFromRank($"_rn", $"_n", 10))
      .groupBy($"decile")
      .agg(count(lit(1)).as("n_customers"), sum($"rev").as("dec_rev"))
    val total = deciled.agg(sum($"dec_rev").as("total_rev"))
    val cum = Window.orderBy($"decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    deciled.crossJoin(broadcast(total))
      .withColumn("cum_rev", sum($"dec_rev").over(cum))
      .select($"decile", $"n_customers",
        $"dec_rev".cast(DoubleType).as("decile_revenue"),
        ($"dec_rev".cast(DoubleType) / $"total_rev".cast(DoubleType))
          .as("share"),
        ($"cum_rev".cast(DoubleType) / $"total_rev".cast(DoubleType))
          .as("cum_share"))
      .orderBy($"decile")
  }

  /** NS: same-day split-order screen — the duplicate-invoice /
    * order-splitting check a warehouse runs nightly: customers placing
    * MORE than one order on the same calendar day, per (customer, day)
    * with order count, exact combined amount, and the key range (the
    * drill-down handle). One (custkey, day) shuffle, partial-aggregated
    * map-side; the HAVING keeps only colliding groups so output is
    * bounded by actual collisions. Day arithmetic is integer µs — no
    * calendar functions to diverge cross-engine. */
  def dupOrders(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .select($"o_custkey", $"o_orderkey",
        money_dec2($"o_totalprice").as("amount"),
        expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000")
          .as("day"))
      .groupBy($"o_custkey", $"day")
      .agg(count(lit(1)).as("n_orders"),
        sum($"amount").cast(DoubleType).as("total_amount"),
        min($"o_orderkey").as("first_orderkey"),
        max($"o_orderkey").as("last_orderkey"))
      .where($"n_orders" > 1)
      .select($"o_custkey".as("custkey"), $"day".as("epoch_day"),
        $"n_orders", $"total_amount", $"first_orderkey", $"last_orderkey")
      .orderBy($"custkey", $"epoch_day")
  }

  /** NS: RFM segmentation — the classic recency/frequency/monetary
    * customer scoring: per-customer last-order day (recency vs the
    * data-derived anchor = newest order anywhere), order count, exact
    * decimal spend; each dimension quintile-scored (r=1 most recent —
    * over the per-customer AGGREGATE, never raw orders; ties break by
    * custkey so scores are total-ordered on any data), rolled up to the
    * ≤125 (r,f,m) segments. All three quintile cuts run DISTRIBUTED via
    * `Scale.withGlobalRank` + `ntileFromRank` (range partitions +
    * broadcast per-partition offsets, no driver collect) — no
    * single-partition window anywhere in the plan. */
  def rfmSegments(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val day = expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000")
    val per = Tables.orders(spark, dir)
      .groupBy($"o_custkey")
      .agg(max(day).as("last_day"), count(lit(1)).as("frequency"),
        sum(money_dec2($"o_totalprice")).as("monetary"))
    val anchor = per.agg(max($"last_day").as("anchor"))
    val base = per.crossJoin(broadcast(anchor))
      .withColumn("recency_days", $"anchor" - $"last_day")
    // the three ranks chain with no driver round trip (one cut apiece);
    // each ntile reads its total count from the rank's n column
    def score(df: DataFrame, rank: String, out: String,
        sort: Seq[Column]): DataFrame =
      Scale.withGlobalRank(df, rank, "_n", sort)
        .withColumn(out, Scale.ntileFromRank(col(rank), $"_n", 5))
        .drop(rank, "_n")
    val r1 = score(base, "_rrk", "r_score", Seq($"recency_days", $"o_custkey"))
    val r2 = score(r1, "_frk", "f_score", Seq($"frequency".desc, $"o_custkey"))
    val r3 = score(r2, "_mrk", "m_score", Seq($"monetary".desc, $"o_custkey"))
    r3
      .groupBy($"r_score", $"f_score", $"m_score")
      .agg(count(lit(1)).as("n_customers"),
        sum($"monetary").cast(DoubleType).as("segment_revenue"))
      .orderBy($"r_score", $"f_score", $"m_score")
  }

  /** NS: A/B test read-out — Welch's two-sample t on purchase value with
    * deterministic arm assignment (user_id parity — the hash-bucket
    * assignment an experiment platform uses, replayable across engines).
    * One conditional aggregate collects both arms' exact moments
    * (n, Σv, Σv² — decimal, order-free); the t statistic and
    * Welch–Satterthwaite df are a fixed chain of correctly-rounded IEEE
    * ops (±, ×, ÷, √) on those exact moments, spelled identically in the
    * oracle — bit-identical cross-engine without quantization (the
    * `corr_report` discipline). Single row out, zero windows. */
  def abTest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val p = Tables.events(spark, dir)
      .filter($"event_type" === "purchase")
      .select(($"user_id" % 2 === 1).as("arm_b"),
        money_dec2($"value").as("v"),
        // the (18,2)² square as one long multiply of exact cents — the
        // same DECIMAL(37,4) the decimal multiply produced
        unscaled_decimal(money_cents($"value") * money_cents($"value"),
          37, 4).as("vv"))
    val m = p.agg(
      sum((!$"arm_b").cast(LongType)).as("na"),
      sum($"arm_b".cast(LongType)).as("nb"),
      sum(when(!$"arm_b", $"v")).as("sa"),
      sum(when($"arm_b", $"v")).as("sb"),
      sum(when(!$"arm_b", $"vv")).as("qa"),
      sum(when($"arm_b", $"vv")).as("qb"))
    val d = (c: Column) => c.cast(DoubleType)
    m.select($"na", $"nb",
        (d($"sa") / d($"na")).as("mean_a"),
        (d($"sb") / d($"nb")).as("mean_b"),
        ((d($"qa") - d($"sa") * d($"sa") / d($"na")) / (d($"na") - 1))
          .as("var_a"),
        ((d($"qb") - d($"sb") * d($"sb") / d($"nb")) / (d($"nb") - 1))
          .as("var_b"))
      .withColumn("se_a", $"var_a" / d($"na"))
      .withColumn("se_b", $"var_b" / d($"nb"))
      .withColumn("se2", $"se_a" + $"se_b")
      .select($"na", $"nb", $"mean_a", $"mean_b", $"var_a", $"var_b",
        (($"mean_b" - $"mean_a") / sqrt($"se2")).as("t_stat"),
        (($"se2" * $"se2") /
          (($"se_a" * $"se_a") / (d($"na") - 1) +
            ($"se_b" * $"se_b") / (d($"nb") - 1))).as("df"))
  }

  /** Benford first-digit expectations log10(1+1/d) in 2^-20 fixed point,
    * computed ONCE on the JVM and baked as literals into BOTH plans (the
    * `ann_ndcg` discipline) — no runtime libm on either engine. */
  val BenfordU20: Array[Long] = (1 to 9).map(d =>
    math.floor(math.log10(1.0 + 1.0 / d) * 1048576.0 + 0.5).toLong).toArray

  /** NS: Benford first-digit screen — the fraud/synthetic-data check:
    * first-digit distribution of order totals vs Benford's law, per-digit
    * observed share and deviation in 2^-20 fixed point. The digit comes
    * from integer→string conversion (exact on both engines — no log10 at
    * runtime anywhere: the expectations are plan-time literals and the
    * shares are pure integer division). The fixture's near-uniform totals
    * light the screen up — which is the point: synthetic amounts fail
    * Benford. 9-row output, one tiny agg + 1-row total broadcast. */
  def benfordCheck(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val digit = substring(floor($"o_totalprice").cast(LongType)
      .cast(StringType), 1, 1).cast(IntegerType)
    val perDigit = Tables.orders(spark, dir)
      // explicit contract: totals in [0,1) have no leading digit (digit 0
      // would index past the Benford table) and negatives aren't amounts —
      // both engines filter them identically
      .filter($"o_totalprice" >= 1)
      .select(digit.as("digit"))
      .groupBy($"digit").agg(count(lit(1)).as("n_orders"))
    val total = perDigit.agg(sum($"n_orders").as("n_total"))
    perDigit.crossJoin(broadcast(total))
      .select($"digit", $"n_orders",
        expr("n_orders * 1048576 div n_total").as("obs_u20"),
        element_at(array(BenfordU20.map(lit(_)): _*), $"digit").as("exp_u20"))
      .withColumn("dev_u20", $"obs_u20" - $"exp_u20")
      .orderBy($"digit")
  }

  /** NS: day-of-week seasonality profile of purchase revenue — weekday
    * revenue share plus the lift vs a uniform 1/7 split, all integer
    * arithmetic: exact cents (decimal×100 → long), share/lift via bigint
    * fixed-point division, weekday from epoch-day math ((day+4) mod 7;
    * 1970-01-01 was a Thursday) — no calendar functions to diverge
    * cross-engine. 7-row output, one agg + 1-row total broadcast. */
  def seasonalityDow(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val per = Tables.events(spark, dir)
      .filter($"event_type" === "purchase")
      .select(expr("(unix_micros(ts) div 86400000000 + 4) % 7").as("dow"),
        money_cents($"value").as("cents"))
      .groupBy($"dow")
      .agg(count(lit(1)).as("n_purchases"), sum($"cents").as("cents"))
    val total = per.agg(sum($"cents").as("total_cents"))
    per.crossJoin(broadcast(total))
      .select($"dow", $"n_purchases",
        ($"cents".cast(DoubleType) / 100.0).as("revenue"),
        expr("cents * 1048576 div total_cents").as("share_u20"),
        expr("cents * 7340032 div total_cents").as("lift_u20"))
      .orderBy($"dow")
  }

  /** NS: new-vs-returning daily actives — the growth dashboard's core
    * split: per day, distinct users active for the FIRST time vs
    * returning (first-seen day from a per-user min). Both the first-seen
    * aggregate and the join back are keyed on user_id, so the (day,user)
    * dedup's exchange is reused — one user-keyed shuffle, then a
    * |days|-row rollup. Pure integer epoch-day arithmetic. */
  def newVsReturning(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val du = Tables.events(spark, dir)
      .select(expr("unix_micros(ts) div 86400000000").as("day"), $"user_id")
      .distinct()
    val first = du.groupBy($"user_id").agg(min($"day").as("first_day"))
    du.join(first, "user_id")
      .groupBy($"day")
      .agg(sum(($"day" === $"first_day").cast(LongType)).as("n_new"),
        sum(($"day" =!= $"first_day").cast(LongType)).as("n_returning"),
        count(lit(1)).as("n_active"))
      .select($"day".as("epoch_day"), $"n_new", $"n_returning", $"n_active")
      .orderBy($"epoch_day")
  }

  /** NS: chi-square categorical drift — the CATEGORICAL twin of
    * `ks_drift`: did the order-priority mix shift between 1997 and 1998?
    * Per-cell observed counts vs independence expectations
    * e = row·col/total, with each cell's (o−e)²/e contribution emitted —
    * the analyst reads both the total and WHICH cells moved. Counts are
    * exact longs from one tiny agg; e and the contribution are a fixed
    * correctly-rounded IEEE chain on those longs, spelled identically in
    * the oracle (the `ab_test` discipline — raw doubles, no
    * quantization). |priorities|×2 rows, margins broadcast back onto the
    * cell frame off the same exchange. */
  def chi2Drift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cells = Tables.orders(spark, dir)
      .filter($"o_orderdate" >= lit("1997-01-01").cast(TimestampType) &&
        $"o_orderdate" < lit("1999-01-01").cast(TimestampType))
      .groupBy($"o_orderpriority", year($"o_orderdate").as("yr"))
      .agg(count(lit(1)).as("n"))
    val rowT = cells.groupBy($"o_orderpriority").agg(sum($"n").as("row_n"))
    val colT = cells.groupBy($"yr").agg(sum($"n").as("col_n"))
    val tot = cells.agg(sum($"n").as("total_n"))
    val d = (c: Column) => c.cast(DoubleType)
    cells.join(broadcast(rowT), "o_orderpriority")
      .join(broadcast(colT), "yr")
      .crossJoin(broadcast(tot))
      .withColumn("expected", d($"row_n") * d($"col_n") / d($"total_n"))
      .select($"o_orderpriority", $"yr", $"n", $"expected",
        ((d($"n") - $"expected") * (d($"n") - $"expected") / $"expected")
          .as("contrib"))
      .orderBy($"o_orderpriority", $"yr")
  }

  /** NS: Gini coefficient of customer revenue — the inequality scalar
    * behind `pareto_share`'s decile view, via the rank formula
    * G = Σᵢ(2i−n−1)xᵢ / (n·Σx) over ascending-sorted exact cents: the
    * numerator is PURE integer arithmetic (rank ties broken by custkey ⇒
    * total order on any data), and the single division at the end is one
    * correctly-rounded double op — bit-stable cross-engine. The rank is
    * DISTRIBUTED (`Scale.withGlobalRank`: range partitions + broadcast
    * per-partition offsets, no driver collect) over |customers|
    * aggregate rows, never raw orders — no single-partition window. */
  def giniRevenue(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val per = Tables.orders(spark, dir)
      .groupBy($"o_custkey")
      .agg(sum(money_cents($"o_totalprice")).as("cents"))
    val n1 = per.agg(count(lit(1)).as("n"), sum($"cents").as("total_cents"))
    val ranked = Scale.withGlobalRank(per, "i", "_gn",
      Seq($"cents", $"o_custkey")).drop("_gn")
    ranked
      .crossJoin(broadcast(n1))
      .agg(max($"n").as("n_customers"), max($"total_cents").as("total_cents"),
        sum((lit(2L) * $"i" - $"n" - 1L) * $"cents").as("gini_num"))
      .select($"n_customers", $"total_cents", $"gini_num",
        // denominator product in DOUBLE: n · total_cents exceeds int64 at
        // sf2 (299,994 × 7.5e13 ≈ 2.25e19 — DuckDB throws, Spark with
        // ANSI off silently WRAPS). Both factors are < 2^53 so their
        // double conversions are exact and the product is one correctly-
        // rounded op — bit-stable cross-engine (mirrored in the twin).
        ($"gini_num".cast(DoubleType) /
          ($"n_customers".cast(DoubleType) * $"total_cents".cast(DoubleType)))
          .as("gini"))
  }

  /** NS: TPC-H Q17 shape — revenue locked up in small-lot orders: for the
    * tracked brands, lineitems whose quantity is below half the part's
    * average. The per-part mean is a WINDOW over the (brand-pruned,
    * broadcast-joined) lineitem slice — one shuffle on `l_partkey` serves
    * both the mean and the filter, where the textbook agg+self-join plan
    * shuffles the fact side twice. The mean comparison is exact rational
    * arithmetic (qty·count vs sum·½ in decimal cents — no division), so
    * the below-threshold row set is engine-identical; at 100 TB the
    * window partitions by partkey, bounded per-part state. */
  def smallQtyRevenue(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val p = Tables.part(spark, dir)
      .filter($"p_brand".isin("Brand#1", "Brand#2"))
      .select($"p_partkey", $"p_brand")
    // p is brand-filtered part — still SF-scaled (a filter does not
    // bound growth), so the join is unhinted like the other part joins
    val li = Tables.lineitem(spark, dir)
      .select($"l_partkey", $"l_quantity", $"l_extendedprice")
      .join(p, $"l_partkey" === $"p_partkey")
    val w = Window.partitionBy($"l_partkey")
    li.withColumn("sum_q",
        sum(money_cents($"l_quantity")).over(w))
      .withColumn("n_q", count(lit(1)).over(w))
      // qty < 0.5 * avg  ⇔  2·qty·n < Σqty, all in integer centi-units
      .filter(money_cents($"l_quantity") *
        $"n_q" * 2 < $"sum_q")
      .groupBy($"p_brand")
      .agg(
        (sum(money_dec2($"l_extendedprice"))
          .cast(DoubleType) / 7.0).as("avg_yearly"),
        count(lit(1)).as("n_small_lots"),
        countDistinct($"l_partkey").as("n_parts"))
      .orderBy($"p_brand")
  }

  /** NS: TPC-H Q18 shape — large-volume orders: customers whose single
    * order carried more than 250 units. The HAVING filter runs on the
    * per-order aggregate (map-side partial sums shrink the shuffle to one
    * row per order), and only the surviving handful of orders join to
    * `orders`/`customer` — at 100 TB the expensive fact⋈fact join happens
    * AFTER the 99th-percentile cut, not before. Quantity sums are exact
    * decimal cents; ordering is (qty desc, orderkey) — a total order. */
  def bigOrders(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val big = Tables.lineitem(spark, dir)
      .groupBy($"l_orderkey")
      .agg(sum(money_cents($"l_quantity")).as("qty_cents"))
      .filter($"qty_cents" > 250 * 100L)
    big.join(Tables.orders(spark, dir), $"l_orderkey" === $"o_orderkey")
      .join(Tables.customer(spark, dir), $"o_custkey" === $"c_custkey")
      .select($"c_custkey", $"c_name", $"o_orderkey",
        $"o_orderdate".cast(DateType).as("order_date"), $"o_totalprice",
        ($"qty_cents".cast(DoubleType) / 100.0).as("total_qty"))
      .orderBy($"total_qty".desc, $"o_orderkey")
  }

  /** NS: TPC-H Q21 shape — suppliers who held up multi-supplier orders:
    * on orders with ≥2 suppliers, the one supplier whose latest shipment
    * IS the order's latest shipment (and uniquely so — the exists/
    * not-exists pair of the original, folded into one pass). Two stacked
    * aggregations, no self-join and NO window: per-(order,supplier) max
    * shipdate, then ONE more groupBy per order that finds the argmax
    * supplier and detects ties in the same pass — `max(struct(supp_max,
    * suppkey))` vs `max(struct(supp_max, −suppkey))` agree on the
    * supplier iff exactly one supplier holds the order max, so
    * `n_at_max = 1` never needs a second look at the rows. Both maxes
    * are partial-aggregable, so the whole query is two map-side-combined
    * hash aggregates on one reused exchange — no per-group sort at any
    * scale (the previous shape stacked two window passes over millions
    * of 1–7-row groups and re-sorted the fact exchange each time:
    * measured 4.96× at the sf1→sf2 doubling; this shape removed it). */
  def waitingSuppliers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // ONE fact shuffle: hash-partitioning on l_orderkey alone satisfies
    // both the (l_orderkey, l_suppkey) groupBy (subset clustering) and
    // the per-order groupBy, so the heavy lineitem exchange is reused —
    // the alternative (groupBy on the pair, then re-exchange per order)
    // shuffles twice at 100 TB.
    val perSupp = Tables.lineitem(spark, dir)
      .select($"l_orderkey", $"l_suppkey", $"l_shipdate")
      .repartition($"l_orderkey")
      .groupBy($"l_orderkey", $"l_suppkey")
      .agg(max($"l_shipdate").as("supp_max"))
    // struct max is lexicographic: (supp_max, suppkey) picks the LARGEST
    // suppkey at the order-max date, (supp_max, −suppkey) the SMALLEST —
    // they name the same supplier iff the max-date holder is unique.
    val blamed = perSupp
      .groupBy($"l_orderkey")
      .agg(count(lit(1)).as("n_supp"),
        max(struct($"supp_max", $"l_suppkey")).as("hi"),
        max(struct($"supp_max", (-$"l_suppkey").as("neg"))).as("lo"))
      .filter($"n_supp" >= 2 && $"hi.l_suppkey" === -$"lo.neg")
      .select($"hi.l_suppkey".as("l_suppkey"))
    // count per blamed supplier BEFORE touching the supplier table, so
    // the name join carries ≤|supplier| rows instead of one row per
    // blamed order; the join itself is unhinted (supplier is SF-scaled
    // — stats/AQE pick broadcast at fixture tiers, shuffle at 100 TB)
    blamed
      .groupBy($"l_suppkey")
      .agg(count(lit(1)).as("n_waiting_orders"))
      .join(Tables.supplier(spark, dir), $"l_suppkey" === $"s_suppkey")
      .select($"s_suppkey", $"s_name", $"n_waiting_orders")
      .orderBy($"n_waiting_orders".desc, $"s_suppkey")
  }

  /** NS: EXACT order-statistic quantiles of a 100 TB-sized column — the
    * "what is the real p50/p25/p75, not an approximation" audit query
    * (approx_percentile trades exactness for mergeability; billing and
    * SLA cuts sometimes need the true value). Fully distributed: the
    * global rank comes from [[Scale.withGlobalRank]] (range partitions +
    * broadcast per-partition offsets in one plan — never a single-task
    * sort, no driver collect), the four target ranks are integer column
    * arithmetic on the rank plan's total-count column, and one tiny
    * conditional aggregate picks the ranked values. Prices are exact
    * decimal cents; the median over an even count is reported as the
    * INTEGER sum of the two middle values (median_x2_cents) so no
    * engine ever divides. Tie-break (cents, orderkey, linenumber) makes
    * the rank — and therefore the output — total-ordered on any data. */
  def exactMedian(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    exactMedianOfCents(spark, Tables.lineitem(spark, dir)
      .select(money_cents($"l_extendedprice").as("cents"),
        $"l_orderkey", $"l_linenumber"))
  }

  /** [[exactMedian]] over an explicit (cents, l_orderkey, l_linenumber)
    * frame — exposed so the empty-input zero-row shape is testable. */
  private[graft] def exactMedianOfCents(
      spark: SparkSession, cents: DataFrame): DataFrame = {
    import spark.implicits._
    // the quartile target ranks are COLUMN arithmetic over the rank
    // plan's n column, so no driver literal is needed
    val ranked = Scale.withGlobalRank(cents, "rk", "_n",
      Seq($"cents", $"l_orderkey", $"l_linenumber"))
    val r25   = expr("(_n + 3) div 4")
    val r50lo = expr("(_n + 1) div 2")
    val r50hi = expr("_n div 2 + 1")
    val r75   = expr("(3 * _n + 3) div 4")
    ranked
      .where($"rk" === r25 || $"rk" === r50lo || $"rk" === r50hi ||
        $"rk" === r75)
      .select($"cents", $"rk", r25.as("_r25"), r50lo.as("_r50lo"),
        r50hi.as("_r50hi"), r75.as("_r75"), $"_n")
      .agg(
        max($"_n").as("n_rows"),
        max(when($"rk" === $"_r25", $"cents")).as("p25_cents"),
        (max(when($"rk" === $"_r50lo", $"cents")) +
          max(when($"rk" === $"_r50hi", $"cents"))).as("median_x2_cents"),
        max(when($"rk" === $"_r75", $"cents")).as("p75_cents"))
      .select($"n_rows", $"p25_cents", $"median_x2_cents", $"p75_cents")
      // empty-input shape parity: the oracle's GROUP BY emits zero rows
      // on an empty lineitem, where a global agg would emit one (its
      // n_rows max is NULL exactly when the input was empty)
      .where($"n_rows".isNotNull)
  }

  /** NS: TPC-H Q22-shaped "global sales opportunity" — customers with an
    * above-average positive balance and no order since 2000-01-01,
    * rolled up by nation (the fixture has no `c_phone`, so nation
    * replaces Q22's phone-prefix country code, and every fixture
    * customer has SOME order so the idle cut is recency-based;
    * FIXTURES.md). The above-average cut is exact integer arithmetic:
    * `cents · n_pos > total_cents` cross-multiplies instead of
    * comparing against a divided mean, so no engine ever forms a
    * decimal/double average (cents ≤ 10^6 and n_pos ≤ ~10^9 at 100 TB
    * keep the product well under 2^63). Plan: 1-row totals broadcast
    * onto the customer scan (allowlisted BNLJ), LEFT ANTI shuffle join
    * against the date-pruned orders scan (the filter reaches parquet),
    * bounded nation dim broadcast — linear at 100 TB. */
  def idleRichCustomers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cents = money_cents($"c_acctbal")
    val c = Tables.customer(spark, dir).withColumn("cents", cents)
    val tot = c.where($"c_acctbal" > 0)
      .agg(sum($"cents").as("total_cents"), count(lit(1)).as("n_pos"))
    c.crossJoin(broadcast(tot))
      .where($"cents" * $"n_pos" > $"total_cents")
      .join(Tables.orders(spark, dir)
          .where($"o_orderdate" >= lit("2000-01-01").cast(DateType)),
        $"c_custkey" === $"o_custkey", "left_anti")
      .join(broadcast(Tables.nation(spark, dir)),
        $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(count(lit(1)).as("n_custs"), sum($"cents").as("bal_cents"))
      .orderBy($"n_name")
  }

  /** NS: CUSUM changepoint scan over daily order revenue — the
    * sequential drift detector (Page 1954) a revenue/ingest monitor runs
    * to localize WHEN a level shift started, where `anomaly_zscore` only
    * flags isolated spikes. One-sided CUSUM against the all-period mean,
    * computed exactly in integers via the prefix-min identity:
    * the recursive S_t = max(0, S_{t−1} + d_t) equals
    * cum_t − min(0, min_{j<t} cum_j) clamped at 0, with
    * d_t = x_t·n_days − total (cross-multiplied cents, no divided mean —
    * |d| ≤ total·n_days stays far under 2^63 at fixture scale; re-center
    * per shard before applying at 100 TB-year spans). Both prefix
    * passes are DISTRIBUTED: [[Scale.withGlobalCumsum]] for cum and
    * [[Scale.withGlobalPrefixMax]] on −cum for the strict prefix min
    * (broadcast per-partition offsets, no driver collect) — no
    * unpartitioned window even though the day grid is calendar-bounded,
    * so the same code survives a per-minute grid.
    * Missing days count as zero revenue (a dark day IS drift). Output:
    * the 10 highest-alarm days. */
  def cusumChangepoint(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = cusumDays(spark, dir)
    val totals = daily.agg(count(lit(1)).as("n_days"), sum($"x").as("total"))
    val drift = daily.crossJoin(broadcast(totals))
      .select($"day", $"x", ($"x" * $"n_days" - $"total").as("d"))
    val cum = Scale.withGlobalCumsum(drift, Seq($"day"), Seq("d" -> "cum"))
      .withColumn("neg_cum", -$"cum")
    val withPm = Scale.withGlobalPrefixMax(cum, Seq($"day"), "neg_cum", "pm")
    withPm
      // min(0, min_{j<t} cum_j) = −max(0, max_{j<t} −cum_j); the max
      // identity (Long.MinValue on the first day) clamps to 0 safely
      .select($"day".as("epoch_day"), $"x".as("day_cents"),
        $"cum".as("cum_drift"),
        greatest($"cum" + greatest($"pm", lit(0L)), lit(0L)).as("cusum"))
      .orderBy($"cusum".desc, $"epoch_day")
      .limit(10)
  }

  /** [[cusumChangepoint]]'s feed: order cents `(day, x)` on the DENSE
    * day grid from the first order day to the last, zero on dark days. */
  private[graft] def cusumDays(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // cut of the |days|-row aggregate so the bounds aggregate and the
    // grid join both read the materialized day frame instead of each
    // re-scanning orders
    val (perDay, _) = Checkpoints.eagerCut(Tables.orders(spark, dir)
      .select(expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000")
          .as("day"),
        floor($"o_totalprice" * 100 + 0.5).cast(LongType).as("cents"))
      .groupBy($"day").agg(sum($"cents").as("x")))
    val bounds = perDay.agg(min($"day").as("lo"), max($"day").as("hi"))
    val grid = bounds.select(explode(sequence($"lo", $"hi")).as("day"))
    grid.join(perDay, Seq("day"), "left_outer")
      .select($"day", coalesce($"x", lit(0L)).as("x"))
  }
}
