package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.operators.TextAnalysis.{md5Long28, md5Long60, shingles, tokens}

/** Document deduplication family for LLM-data pipelines: exact hash dedup,
  * MinHash+LSH, SimHash, and n-gram Jaccard. Everything is bucketed — no
  * O(N²) pair enumeration anywhere, so the same plans run at 100 TB:
  * candidate pairs only ever form inside an LSH band bucket
  * (shuffle on the band key, pairs within a bucket).
  */
object DocDedup {

  // The expensive shared intermediates (near-dup pair sets and CC
  // labels) live in [[FrameMemo.shared]]: dedup_clusters / cluster_stats
  // / dedup_survivorship all consume one label frame and dedup_ensemble
  // re-reads both pair sets, so without sharing one bench/verify run
  // re-runs candidate generation + star contraction up to 4×. The frames
  // are deterministic and tiny (pairs and labels, not corpus); on a real
  // cluster this is a persisted staging table instead.

  // MinHash: 16 permutations h_i(x) = ((2i+1)·x + 7919·i + 1) mod P over
  // the 28-bit md5 base hash; products stay < 2^34, far from int64 overflow
  // — the same arithmetic is replayable in any engine, which is how the
  // DuckDB oracle checks it.
  private val MinHashP = 268435399L // largest prime < 2^28
  private val NumHashes = 16
  private val BandSize = 4 // 4 bands of 4 → LSH candidate buckets

  /** Exact dedup by content hash: keeper = min doc_id per md5(text). */
  def docDedupExact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .groupBy(md5($"text".cast(BinaryType)).as("text_md5"))
      .agg(min($"doc_id").as("keeper_doc_id"), count(lit(1)).as("n_copies"))
      .orderBy($"keeper_doc_id")
  }

  /** doc_id + 16-element MinHash signature over distinct word-3-gram
    * shingles, plus the 4 LSH band keys.
    *
    * Shape: explode shingles → hash once per shingle → groupBy(doc_id)
    * with 16 min() aggregates. The array-expression formulation
    * (transform+array_min over a shared `xs` column) looks natural but
    * Catalyst's projection collapse re-inlines `xs` into each of the 16
    * signature slots — md5 per shingle ran 16×. The explode form hashes
    * each shingle exactly once, gets map-side partial aggregation, and is
    * what you'd run at 100 TB anyway.
    */
  private def minhashSigs(spark: SparkSession, dir: String): DataFrame =
    minhashSigsOf(Tables.documents(spark, dir))

  /** [[minhashSigs]] over an arbitrary `(doc_id, text)` frame — the
    * streaming ingest funnel signs each arriving micro-batch with the
    * exact index pipeline (docs with <3 tokens have no shingles and drop
    * out, same as the batch path). */
  private[graft] def minhashSigsOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val hashed = docs
      .select($"doc_id", explode(array_distinct(shingles($"text", 3))).as("g"))
      .select($"doc_id", md5Long28($"g").as("x"))
    val aggs = (0 until NumHashes).map { i =>
      min(($"x" * (2 * i + 1) + (7919 * i + 1)) % MinHashP).as(s"m$i")
    }
    val sums = hashed.groupBy($"doc_id").agg(aggs.head, aggs.tail: _*)
    val withSig = sums
      .withColumn("sig", array((0 until NumHashes).map(i => col(s"m$i")): _*))
    (0 until NumHashes / BandSize).foldLeft(withSig) { case (df, k) =>
      df.withColumn(s"b$k", concat_ws(",",
        (0 until BandSize).map(j => col(s"m${k * BandSize + j}").cast(StringType)): _*))
    }.select($"doc_id", $"sig", $"b0", $"b1", $"b2", $"b3")
  }

  /** MinHash signatures + band keys per document (the dedup index one
    * would persist and incrementally join new batches against). */
  def minhashSignatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    minhashSigs(spark, dir)
      .select($"doc_id", $"b0", $"b1", $"b2", $"b3")
      .orderBy($"doc_id")
  }

  /** MinHash+LSH near-dup candidate pairs: docs sharing any band bucket,
    * scored by estimated Jaccard (fraction of equal signature slots).
    * The join key is (band index, band value) — bucket-local pairs only.
    */
  def minhashDedupPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    minhashPairsMemo(spark, dir).orderBy($"doc_a", $"doc_b")
  }

  private def minhashPairsMemo(spark: SparkSession, dir: String): DataFrame =
    FrameMemo.shared(spark, dir, "minhash_pairs") {
      val bands = bandFrameOf(Tables.documents(spark, dir))
      bands.as("x")
        .join(bands.as("y"), sameBand)
        .where(col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
          estJaccard)
        .distinct()
    }

  /** Band-exploded signature frame of `docs`: one `(doc_id, sig, k, bv)`
    * row per LSH band — the `(k, bv)`-keyed layout both candidate joins
    * read, and the one the persisted dedup index is stored in. */
  private[graft] def bandFrameOf(docs: DataFrame): DataFrame =
    minhashSigsOf(docs).select(col("doc_id"), col("sig"),
      posexplode(array(col("b0"), col("b1"), col("b2"), col("b3")))
        .as(Seq("k", "bv")))

  /** Band-bucket equality of the `x` and `y` aliases of a `(k, bv)`
    * band frame (MinHash or SimHash). */
  private def sameBand: Column =
    col("x.k") === col("y.k") && col("x.bv") === col("y.bv")

  /** Estimated Jaccard of the `x` and `y` aliases: the fraction of equal
    * signature slots (a k/16 dyadic, so thresholds are boundary-exact in
    * any engine). */
  private def estJaccard: Column =
    (size(filter(zip_with(col("x.sig"), col("y.sig"), (u, v) => u === v),
      b => b)).cast(DoubleType) / NumHashes).as("est_jaccard")

  /** The new-batch split every incremental query shares: docs with
    * doc_id ≡ 7 (mod 10) stand in for today's crawl; the rest is the
    * persisted index. */
  private[graft] def isNewDoc(docId: Column): Column = docId % 10 === 7

  /** The new batch's `(doc_id, text)` rows: the arrived crawl a daily
    * pipeline has persisted, memoized per (session, dir) sorted on
    * `doc_id`, the key every reader groups on. Referencing it runs no
    * job (the first query that reads it fills it), and the batch is read
    * from the memo, not re-sliced from the corpus, by every call of
    * [[minhashIncremental]] and `CorpusOps.corpusPipelineIncremental`. */
  private[graft] def newBatch(spark: SparkSession, dir: String): DataFrame =
    FrameMemo.shared.sorted(spark, dir, "new_batch", "doc_id")(
      Tables.documents(spark, dir).where(isNewDoc(col("doc_id")))
        .select("doc_id", "text"))

  /** NS: incremental MinHash dedup — the ingest-time shape: a small NEW
    * batch ([[isNewDoc]], standing in for today's crawl) is checked
    * against the persisted signature index (everything else: the band
    * frame of [[CorpusOps.corpusIndex]], which the ingest funnel probes)
    * WITHOUT recomputing or reshuffling the index: new-batch band keys
    * BROADCAST against the index's band keys, so the big side is one
    * linear probe-side scan. This is `minhashDedupPairs`' candidate logic with
    * the symmetry broken the way a daily pipeline actually runs it — at
    * 100 TB the index is a bucketed table on (band, band_value) and the
    * new batch is always broadcast-small relative to it. */
  def minhashIncremental(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val index = CorpusOps.corpusIndex(spark, dir).bands
    probePairs(index, bandFrameOf(newBatch(spark, dir))).orderBy($"new_doc", $"index_doc")
  }

  /** New-batch near-dup probe: batch band keys BROADCAST against the
    * persisted index band frame, one `(new_doc, index_doc, est_jaccard)`
    * row per candidate — [[minhashIncremental]]'s join, and the one the
    * ingest funnel runs per batch. The index side stays a linear probe
    * scan; nothing reshuffles it. */
  private[graft] def probePairs(indexBands: DataFrame,
      batchBands: DataFrame): DataFrame =
    indexBands.as("y").join(broadcast(batchBands.as("x")), sameBand)
      .select(col("x.doc_id").as("new_doc"), col("y.doc_id").as("index_doc"),
        estJaccard)
      .distinct()

  // SimHash: 32-bit signature from md5-60 token hashes, frequency-weighted.
  private val SimHashBits = 32

  /** The pair-budget escalation LADDER (round-10): `(lvl, band k, bit
    * shift, band width)` layouts over the 32-bit simhash, each
    * pigeonhole-LOSSLESS at its hamming radius `3 - lvl` (hamming ≤ h
    * with h+1 bands guarantees one band equal — the bucket join misses
    * nothing at that radius). Escalating a level narrows the radius and
    * widens the bands, shrinking both the within-bucket join work and the
    * emitted pair graph. `private[graft]` so [[graft.Oracles]] GENERATES
    * the DuckDB band-layout VALUES from these same tuples. */
  private[graft] val SimhashBandLayouts: Seq[(Int, Int, Int, Int)] = Seq(
    (0, 0, 0, 8), (0, 1, 8, 8), (0, 2, 16, 8), (0, 3, 24, 8), // hamming ≤ 3
    (1, 0, 0, 11), (1, 1, 11, 11), (1, 2, 22, 10),            // hamming ≤ 2
    (2, 0, 0, 16), (2, 1, 16, 16),                            // hamming ≤ 1
    (3, 0, 0, 32))                                            // exact dup

  /** Candidate-pair budget for the simhash near-dup graph (round-9/10
    * finding): a homogeneous corpus densifies the pair graph QUADRATICALLY
    * in docs (measured 129k → 12.3M → 49.7M pairs at sf0.1/sf1/sf2 — the
    * N² law exactly), and every downstream consumer (split hygiene, CC,
    * LPA, k-core, PageRank, BFS, modularity) is linear in that |E|. The
    * governor projects candidate mass per ladder level PRE-JOIN (band
    * bucket histogram: Σ C(n,2)) and picks the loosest level that fits
    * this budget — the `semantic_dedup` adaptive-codebook treatment
    * applied to the banded join. 2^24 keeps every tier ≤ sf0.1 at lvl 0
    * (measured masses 26k / 27k / 2.7M) and escalates sf1 → lvl 2
    * (hamming ≤ 1, 9.4M candidates vs 273M unbudgeted) and sf2 → lvl 3
    * (exact-simhash dups — boilerplate blobs owned by exact dedup
    * anyway). The constant is baked into the generated DuckDB twins, so
    * the registered queries are hash-checked END-TO-END through the
    * escalation at every tier; overriding it (the unbudgeted audit path)
    * is a parameter on [[simhashPairsAt]], deliberately NOT a conf knob
    * the oracled default could silently drift from. */
  private[graft] val PairBudget: Long = 1L << 24

  /** Per-document 32-bit SimHash (doc_id, simhash) — the shared, memoized
    * core of the whole pair-graph family: the governor's mass projection
    * and the banded pair join both read this one materialization. Explode
    * + groupBy keeps partial aggregation map-side (one shuffle on doc_id). */
  private[graft] def simhashDocsMemo(spark: SparkSession, dir: String): DataFrame =
    FrameMemo.shared(spark, dir, "simhash_docs") {
      import spark.implicits._
      val tok = Tables.documents(spark, dir)
        .select($"doc_id", explode(tokens($"text")).as("t"))
        .withColumn("h", md5Long60($"t"))
      val bitSums = (0 until SimHashBits).map { b =>
        sum(when(shiftright($"h", b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"s$b")
      }
      val sums = tok.groupBy($"doc_id").agg(bitSums.head, bitSums.tail: _*)
      val simhash = (0 until SimHashBits).map { b =>
        when(col(s"s$b") > 0, 1L << b).otherwise(0L)
      }.reduce(_ + _)
      sums.select($"doc_id", simhash.as("simhash"))
    }

  /** Declared query shape: per-doc simhash + its four lvl-0 8-bit bands. */
  def simhashDocs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    simhashDocsMemo(spark, dir)
      .select($"doc_id", $"simhash",
        ($"simhash" % 256).as("band0"),
        (shiftright($"simhash", 8) % 256).as("band1"),
        (shiftright($"simhash", 16) % 256).as("band2"),
        (shiftright($"simhash", 24) % 256).as("band3"))
      .orderBy($"doc_id")
  }

  /** Projected candidate-pair mass per ladder level, computed PRE-JOIN
    * from the band-bucket histogram (Σ C(n,2) over buckets — exactly the
    * within-bucket join's pair count, before the hamming filter). One
    * explode over the 10 layout rows + two bounded aggregations; the
    * division by 2 is an exact shiftright (n·(n−1) is even), mirrored as
    * `//` in the DuckDB twin. */
  private[graft] def simhashPairMass(docs: DataFrame): DataFrame =
    simhashBands(docs, SimhashBandLayouts)
      .groupBy(col("b.lvl").as("lvl"), col("b.k").as("k"), col("b.bv").as("bv"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("lvl"))
      .agg(countDistinct(col("k")).as("n_bands"),
        count(lit(1)).as("n_buckets"),
        sum(shiftright(col("n") * (col("n") - 1), 1)).as("cand_pairs"))

  /** One `(doc_id, simhash, b)` row per document and band of `layouts`,
    * `b` the `(lvl, k, bv)` bucket key the governor's mass projection
    * counts and the banded pair join matches on. */
  private def simhashBands(docs: DataFrame,
      layouts: Seq[(Int, Int, Int, Int)]): DataFrame = {
    val bandCols = layouts.map { case (l, k, sh, w) =>
      struct(lit(l).as("lvl"), lit(k).as("k"),
        pmod(shiftright(col("simhash"), sh), lit(1L << w)).as("bv"))
    }
    docs.select(col("doc_id"), col("simhash"), explode(array(bandCols: _*)).as("b"))
  }

  /** The governor's pick as a 1-row `chosen_lvl` frame: the loosest
    * ladder level whose projected candidate mass (`mass`, from
    * [[simhashPairMass]]) fits `budget`. Level 3 — exact-dup listing — is
    * the floor even when over budget (it cannot be avoided and is owned
    * by exact dedup), and also the pick when no level has any mass (an
    * empty corpus). The one definition of the rule: the report queries
    * cross-join it, [[chosenSimhashLevel]] collects it, and the DuckDB
    * twins replay it as their `pk` CTE. */
  private def chosenLevel(mass: DataFrame, budget: Long): DataFrame =
    mass.where(col("cand_pairs") <= budget)
      .agg(coalesce(min(col("lvl")), lit(3)).as("chosen_lvl"))

  /** The governor's choice for `budget` (see [[chosenLevel]]). Driver-side
    * state is one collected row. The governed pair join is memoized, so a
    * warm consumer never reaches this call. */
  private[graft] def chosenSimhashLevel(spark: SparkSession, dir: String,
      budget: Long = PairBudget): Int = {
    val lvl = chosenLevel(simhashPairMass(simhashDocsMemo(spark, dir)), budget)
      .head().getInt(0)
    System.err.println(
      s"[graft] simhash pair governor: dir=$dir budget=$budget -> level $lvl")
    lvl
  }

  /** NS: the pair-budget governor REPORT — the knob table a pipeline reads
    * before the near-dup pass: per ladder level, band count, hamming
    * radius, bucket count, projected candidate mass, whether it fits the
    * budget, and which level the governor chose. Everything is integer
    * bucket arithmetic over the memoized simhash frame — no pair join
    * runs — so the report costs one corpus-scan-equivalent at ANY corpus
    * size, and the DuckDB twin replays it bit-exactly (same layouts, same
    * budget constant, same Σ n(n−1)/2). */
  def pairBudgetGovernor(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val mass = simhashPairMass(simhashDocsMemo(spark, dir))
    mass.crossJoin(broadcast(chosenLevel(mass, PairBudget)))
      .select($"lvl", $"n_bands",
        (lit(3) - $"lvl").as("hamming_radius"),
        $"n_buckets", $"cand_pairs",
        lit(PairBudget).as("budget"),
        ($"cand_pairs" <= PairBudget).cast(IntegerType).as("within_budget"),
        ($"lvl" === $"chosen_lvl").cast(IntegerType).as("chosen"))
      .orderBy($"lvl")
  }

  /** Calibration-sample size for [[governorRecall]] — bounded CONSTANT
    * (not a corpus fraction) so the recall audit's pair work is ≤
    * C(1024,2) at any corpus size; small tiers (500 docs) simply use the
    * whole corpus. */
  private[graft] val RecallCalibDocs = 1024L

  /** NS: the governor ladder's measured RECALL cost — the quality axis of
    * the [[pairBudgetGovernor]] knob table (which only prices each level).
    * On a bounded calibration sample (doc_id < [[RecallCalibDocs]]), the
    * level-0 truth set (ALL sample pairs with hamming ≤ 3 — the banded
    * level-0 join is pigeonhole-lossless at that radius, so no brute-force
    * cross join is needed) is computed once, then each ladder level
    * reports how many of those true near-dup pairs its narrowed radius
    * `3 − lvl` still catches. `recall` is the surviving fraction; the
    * governor's actual pick at this corpus size is flagged, so the report
    * reads "escalating to the chosen level trades away 1 − recall of true
    * near-dups". Cost: one ≤1024-doc slice of the memoized simhash frame
    * + a bounded banded self-join — corpus-size-independent, like every
    * governor decision input. The DuckDB twin replays the same sample,
    * radii, and pick bit-exactly. */
  def governorRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val one = recallTruthAgg(spark, dir)
    val chosen = chosenLevel(simhashPairMass(simhashDocsMemo(spark, dir)), PairBudget)
    spark.range(4).select($"id".cast(IntegerType).as("lvl"))
      .crossJoin(broadcast(one)) // scalar-broadcast: `one` is a 1-row agg
      .crossJoin(broadcast(chosen)) // ...and so is the governor's pick
      .select($"lvl", (lit(3) - $"lvl").as("hamming_radius"),
        $"s0".as("n_true_pairs"),
        element_at(array($"s0", $"s1", $"s2", $"s3"), $"lvl" + 1)
          .as("n_survive"),
        when($"s0" > 0,
          element_at(array($"s0", $"s1", $"s2", $"s3"), $"lvl" + 1)
            .cast(DoubleType) / $"s0")
          .as("recall"),
        ($"lvl" === $"chosen_lvl").cast(IntegerType).as("chosen"))
      .orderBy($"lvl")
  }

  /** The 1-row calibration truth aggregate shared by [[governorRecall]]
    * and [[governorRecallFloor]]: on the bounded doc_id <
    * [[RecallCalibDocs]] sample, counts of true near-dup pairs surviving
    * each ladder radius (s0 = hamming ≤ 3 ... s3 = hamming = 0). The
    * level-0 banded join is pigeonhole-lossless at radius 3, so the truth
    * set needs no brute-force cross join; sums are coalesced so an empty
    * truth set still yields one all-zero row. */
  private def recallTruthAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    simhashPairsAt(simhashDocsMemo(spark, dir).where($"doc_id" < RecallCalibDocs), 0)
      .agg(
        coalesce(sum(when($"hamming" <= 3, 1L)), lit(0L)).as("s0"),
        coalesce(sum(when($"hamming" <= 2, 1L)), lit(0L)).as("s1"),
        coalesce(sum(when($"hamming" <= 1, 1L)), lit(0L)).as("s2"),
        coalesce(sum(when($"hamming" <= 0, 1L)), lit(0L)).as("s3"))
  }

  /** The recall floor for the INVERSE governor mode, as an exact rational
    * (num/den) so both engines evaluate the floor with one integer
    * cross-multiply — never a float compare on a derived quotient. 1/4:
    * "keep at least a quarter of the true h≤3 near-dups", the knob the
    * round-11 measurement showed the default budget ladder gives up
    * (level 2 keeps 4.5% at sf1). Baked like [[PairBudget]] so the
    * DuckDB twin can never drift. */
  private[graft] val RecallFloorNum = 1L
  private[graft] val RecallFloorDen = 4L

  /** NS: the INVERSE governor — given a recall floor instead of a pair
    * budget, pick the CHEAPEST (most-escalated) ladder level whose
    * measured calibration recall still meets the floor, and report the
    * pair-mass budget that level requires (what the user must raise
    * [[PairBudget]] to, to get that recall). The dual of
    * [[pairBudgetGovernor]]: that one holds cost fixed and lets recall
    * float; this one holds recall and prices it. Per ladder level:
    * calibration survival (the [[governorRecall]] columns), the
    * corpus-wide candidate mass, whether the floor is met
    * (n_survive·den ≥ s0·num — exact integers; an empty truth set meets
    * any floor), the chosen row, and the implied required budget.
    * Everything is the same two bounded inputs every governor decision
    * reads — the ≤1024-doc calibration aggregate and the 4-row band-mass
    * histogram — so the report is corpus-size-independent. */
  def governorRecallFloor(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (rows, pick) = recallFloorPlan(spark, dir, RecallFloorNum, RecallFloorDen)
    rows.crossJoin(broadcast(pick))
      .select($"lvl", (lit(3) - $"lvl").as("hamming_radius"),
        $"s0".as("n_true_pairs"), $"n_survive",
        when($"s0" > 0, $"n_survive".cast(DoubleType) / $"s0").as("recall"),
        $"meets_floor", $"cand_pairs",
        ($"lvl" === $"chosen_lvl").cast(IntegerType).as("chosen_by_recall"),
        $"required_budget")
      .orderBy($"lvl")
  }

  /** The inverse pick for `floorNum/floorDen`: the 4 per-level rows
    * (`lvl, s0, n_survive, cand_pairs, meets_floor`) and the 1-row
    * `chosen_lvl, required_budget` frame (the cheapest ladder level whose
    * calibration recall meets the floor, and the pair budget that level
    * requires). */
  private[graft] def recallFloorPlan(spark: SparkSession, dir: String,
      floorNum: Long, floorDen: Long): (DataFrame, DataFrame) = {
    import spark.implicits._
    val one = recallTruthAgg(spark, dir)
    val mass = simhashPairMass(simhashDocsMemo(spark, dir))
      .select($"lvl".as("m_lvl"), $"cand_pairs")
    val rows = spark.range(4).select($"id".cast(IntegerType).as("lvl"))
      .crossJoin(broadcast(one)) // scalar-broadcast: `one` is a 1-row agg
      .join(broadcast(mass), $"lvl" === $"m_lvl", "left")
      .select($"lvl", $"s0",
        element_at(array($"s0", $"s1", $"s2", $"s3"), $"lvl" + 1)
          .as("n_survive"),
        coalesce($"cand_pairs", lit(0L)).as("cand_pairs"))
      .withColumn("meets_floor",
        ($"s0" === 0L ||
          $"n_survive" * floorDen >= $"s0" * floorNum)
          .cast(IntegerType))
    val pick = rows.where($"meets_floor" === 1)
      // max(struct) = the HIGHEST qualifying level and its mass in one
      // bounded aggregate; level 0 always qualifies, so never empty
      .agg(max(struct($"lvl", $"cand_pairs")).as("c"))
      .select($"c.lvl".as("chosen_lvl"),
        $"c.cand_pairs".as("required_budget"))
    (rows, pick)
  }

  /** SimHash near-dup pairs under the BUDGETED default: hamming(simhash)
    * ≤ 3 − chosen level, candidates restricted to docs sharing a band of
    * the chosen layout (pigeonhole-lossless at that radius — see
    * [[SimhashBandLayouts]]). At every tier ≤ sf0.1 the governor stays at
    * level 0, so this is exactly the classic 4×8-bit/hamming≤3 listing;
    * at sf1/sf2 it escalates (see [[PairBudget]]) and the oracle follows. */
  def simhashNearDupPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    simhashPairsMemo(spark, dir).orderBy($"doc_a", $"doc_b")
  }

  private[graft] def simhashPairsMemo(spark: SparkSession, dir: String): DataFrame =
    FrameMemo.shared(spark, dir, "simhash_pairs") {
      simhashPairsAt(simhashDocsMemo(spark, dir), chosenSimhashLevel(spark, dir))
    }

  /** The banded pair join over a `(doc_id, simhash)` frame at an EXPLICIT
    * ladder level: `(doc_a, doc_b, hamming)` for every pair within radius
    * `3 - lvl` that shares a band of that level's layout. The governed
    * default goes through [[simhashPairsMemo]]; calling this with level 0
    * regardless of corpus size is the unbudgeted audit path. */
  private[graft] def simhashPairsAt(docs: DataFrame, lvl: Int): DataFrame = {
    val layout = SimhashBandLayouts.filter(_._1 == lvl)
    require(layout.nonEmpty, s"no band layout for level $lvl")
    val bands = simhashBands(docs, layout)
      .select(col("doc_id"), col("simhash"), col("b.k").as("k"), col("b.bv").as("bv"))
    bands.as("x")
      .join(bands.as("y"), sameBand)
      .where(col("x.doc_id") < col("y.doc_id"))
      .select(
        col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
      .where(col("hamming") <= 3 - lvl)
      .distinct()
  }

  /** n-gram Jaccard similarity of every document against a probe document
    * (doc_id 0) — the linear, shardable formulation (the all-pairs variant
    * is exactly `minhashDedupPairs`' candidate set scored the same way). */
  def ngramJaccardProbe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // Shape matters twice here: (1) explode + broadcast hash join beats the
    // per-row array_contains scan (an O(|grams|·|probe|) CodegenFallback
    // HOF); (2) the corpus is shingled exactly ONCE — n_grams and n_inter
    // both come out of the same exploded side via a left join + one
    // aggregate (count(pgm) counts only matches), because every extra DAG
    // branch over the docs would re-run the shingle transform end to end.
    def probeSide = Tables.documents(spark, dir).filter($"doc_id" === 0)
      .select(explode(array_distinct(shingles($"text", 3))).as("pgm"))
    val exploded = Tables.documents(spark, dir)
      .select($"doc_id", explode(array_distinct(shingles($"text", 3))).as("g"))
    val agg = exploded.join(broadcast(probeSide), $"g" === $"pgm", "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_grams_raw"), count($"pgm").as("n_inter_raw"))
    val pSize = probeSide.select(count(lit(1)).cast(IntegerType).as("p_size"))
    agg.crossJoin(broadcast(pSize))
      .withColumn("n_grams", $"n_grams_raw".cast(IntegerType))
      .withColumn("n_inter", $"n_inter_raw".cast(IntegerType))
      .withColumn("n_union", ($"n_grams" + $"p_size" - $"n_inter").cast(IntegerType))
      .select(
        $"doc_id", $"n_grams", $"n_inter", $"n_union",
        ($"n_inter".cast(DoubleType) / $"n_union").as("jaccard"))
      .orderBy($"doc_id")
  }

  /** NS: MinHash estimator CALIBRATION — for every candidate pair, the
    * 16-slot signature estimate vs the exact shingle-set Jaccard, with
    * the absolute error in 2^-20 fixed point: the eval loop that tells
    * you whether 16 permutations and a 0.5 threshold are right for THIS
    * corpus before deleting data on the estimator's word. Exact scoring
    * touches only the candidate pairs (the bucketed set — never
    * all-pairs), so the calibration costs O(candidates · doc grams) at
    * any corpus size; est = k/16 is dyadic, so its quantization is exact
    * in any engine. */
  def minhashCalibration(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    pairExactJaccard(spark, dir)
      .select($"doc_a", $"doc_b", $"n_inter", $"n_union",
        floor($"est_jaccard" * lit(1048576.0) + lit(0.5)).as("est_u20"),
        floor($"n_inter".cast(DoubleType) / $"n_union" * lit(1048576.0)
          + lit(0.5)).as("exact_u20"))
      .withColumn("err_u20", abs($"est_u20" - $"exact_u20"))
      .orderBy($"doc_a", $"doc_b")
  }

  /** The memoized candidate pairs scored by EXACT shingle-set Jaccard
    * (n_inter / n_union alongside the signature estimate) — the shared
    * measurement frame of [[minhashCalibration]] and [[lshScurve]]: one
    * place owns the gram/intersection arithmetic, so the two reports can
    * never silently disagree. */
  private def pairExactJaccard(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val gramsDf = Tables.documents(spark, dir)
      .select($"doc_id", array_distinct(shingles($"text", 3)).as("grams"))
    val inter = size(array_intersect($"ga", $"gb")).cast(LongType)
    val union = (size($"ga") + size($"gb")).cast(LongType) - inter
    minhashPairsMemo(spark, dir)
      .join(gramsDf.select($"doc_id".as("doc_a"), $"grams".as("ga")), Seq("doc_a"))
      .join(gramsDf.select($"doc_id".as("doc_b"), $"grams".as("gb")), Seq("doc_b"))
      .select($"doc_a", $"doc_b", $"est_jaccard",
        inter.as("n_inter"), union.as("n_union"))
  }

  /** NS: dedup threshold sweep — the knob report a pipeline reads BEFORE
    * deleting data: for estimated-Jaccard cutoffs {4,8,12}/16, how many
    * candidate pairs survive and how many docs the min-keeper rule would
    * drop (distinct larger ids), with an id checksum. est·16 is the
    * exact integer slot-agreement count (est is k/16, a dyadic —
    * DuckDB's rounding double→BIGINT cast and Spark's truncating one
    * agree because the value IS an integer), so every cutoff is
    * boundary-exact. One memoized pair frame × a 3-row literal
    * threshold dim — no rescan per cutoff. Every requested cutoff always
    * appears: the 3-row dim is left-joined back onto the aggregate so a
    * threshold that no pair survives reports zeros instead of silently
    * vanishing from the report. */
  def dedupThresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pairs = minhashPairsMemo(spark, dir)
      .select($"doc_a", $"doc_b",
        ($"est_jaccard" * NumHashes).cast(LongType).as("k16"))
    val th = Seq(4, 8, 12).toDF("threshold_16ths")
    val agg = pairs.crossJoin(broadcast(th))
      .where($"k16" >= $"threshold_16ths")
      .groupBy($"threshold_16ths")
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct($"doc_b").as("n_dropped_docs"),
        sum($"doc_a" + $"doc_b").as("id_checksum"))
    th.join(agg, Seq("threshold_16ths"), "left_outer")
      .select($"threshold_16ths",
        coalesce($"n_pairs", lit(0L)).as("n_pairs"),
        coalesce($"n_dropped_docs", lit(0L)).as("n_dropped_docs"),
        coalesce($"id_checksum", lit(0L)).as("id_checksum"))
      .orderBy($"threshold_16ths")
  }

  /** NS: the LSH S-curve — theory vs corpus for the b=4, r=4 band
    * layout: per Jaccard grid point s = k/16, the textbook candidate
    * probability 1 − (1 − s^r)^b next to the observed candidate-pair
    * count whose EXACT shingle Jaccard falls in that bucket. The table
    * that justifies (or retunes) the band configuration before a dedup
    * deletes data — `ann_nprobe_frontier`'s twin for the LSH side.
    * Determinism: s^4 and its complement are computed as explicit
    * left-associated multiply chains (k^4/65536 and its powers are
    * exact dyadics until the final multiply, which rounds identically
    * under IEEE in any engine — no libm pow), then 2^-20 quantized;
    * bucket = floor(exact·16) on the same single-division double both
    * engines produce. Grid is 17 rows; empirical side reuses the
    * memoized candidate pairs + per-doc gram sets. */
  def lshScurve(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val s = $"s_16th".cast(DoubleType) / 16.0
    val s4 = s * s * s * s
    val q = lit(1.0) - s4
    val p = lit(1.0) - q * q * q * q
    val grid = spark.range(0, 17)
      .select($"id".cast(IntegerType).as("s_16th"))
      .select($"s_16th",
        floor(p * 1048576.0 + 0.5).cast(LongType).as("p_candidate_u20"))
    val emp = pairExactJaccard(spark, dir)
      .select(floor($"n_inter".cast(DoubleType) / $"n_union" * 16.0)
        .cast(IntegerType).as("s_16th"))
      .groupBy($"s_16th").agg(count(lit(1)).as("n_candidates"))
    grid.join(emp, Seq("s_16th"), "left_outer")
      .select($"s_16th", $"p_candidate_u20",
        coalesce($"n_candidates", lit(0L)).as("n_candidates"))
      .orderBy($"s_16th")
  }

  /** NS: train/val/test leakage audit — near-dup pairs that CROSS the
    * `hash_split` boundaries: a test doc with a train near-duplicate is
    * contamination the benchmark-decontamination gate can't see (it only
    * checks the eval SUITE, not the held-out split), and hash-splitting
    * alone can't prevent (near-dups hash independently). The report is
    * the (split_a, split_b) pair matrix with counts and id checksums —
    * off-diagonal cells are the leaks a pipeline must fix by splitting
    * CLUSTER-wise (assign `dedup_clusters` labels to splits, not docs).
    * Cost: the memoized candidate pair set + a per-pair hash expression —
    * nothing rescans the corpus. */
  def splitLeakage(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def splitOf(c: Column): Column = {
      val b = md5Long60(c.cast(StringType)) % 100
      when(b < 80, "train").when(b < 90, "val").otherwise("test")
    }
    simhashPairsMemo(spark, dir)
      .select($"doc_a", $"doc_b",
        splitOf($"doc_a").as("split_a"), splitOf($"doc_b").as("split_b"))
      .groupBy($"split_a", $"split_b")
      .agg(count(lit(1)).as("n_pairs"),
        sum($"doc_a" + $"doc_b").as("id_checksum"))
      .withColumn("cross_split",
        when($"split_a" =!= $"split_b", 1).otherwise(0))
      .orderBy($"split_a", $"split_b")
  }

  /** NS: cluster-wise split assignment — the FIX [[splitLeakage]]
    * mandates: hash the CLUSTER label (not the doc id) into train/val/test,
    * so every member of a near-dup cluster lands in the same split and
    * cross-split near-dup leakage is zero BY CONSTRUCTION (every candidate
    * pair is within-cluster by the definition of the transitive closure —
    * the spec asserts the zero). Singletons keep the per-doc hash behavior
    * (their label IS their doc id). Report: per-split doc/cluster counts
    * and checksums — the 80/10/10 target now holds over clusters, with the
    * doc-level skew showing how much the big clusters bend it. */
  def clusterSplit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val b = md5Long60($"cluster_id".cast(StringType)) % 100
    dedupClusters(spark, dir)
      .withColumn("split",
        when(b < 80, "train").when(b < 90, "val").otherwise("test"))
      .groupBy($"split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct($"cluster_id").as("n_clusters"),
        sum($"doc_id").as("id_checksum"))
      .orderBy($"split")
  }

  /** NS: fuzzy entity-resolution join — all pairs of customer names within
    * edit distance 1, WITHOUT the O(N²) pair scan. Blocking is the
    * deletion neighborhood (the SymSpell/FastSS scheme) sharpened with the
    * deletion POSITION in the join key, which makes every candidate an
    * exact match by construction — no edit-distance verification at all:
    *
    *  - substitution/equal: two same-length strings that yield the same
    *    string by deleting the SAME position agree everywhere else, so
    *    they are at most one substitution apart;
    *  - indel: a string's deletion key equal to another string's full name
    *    means the latter IS the former minus one character — exactly one
    *    edit.
    *
    * (Position-less deletion keys would admit cross-position collisions
    * like "ab"/"ba" and need a levenshtein pass over every candidate —
    * measured 3× slower at sf0.1.) Candidate pairs only form inside
    * per-(position, 17-char-string) blocks, so the join output is
    * O(matches) at any scale. The oracle is the brute-force quadratic
    * levenshtein form in DuckDB: a transparency proof that the blocking
    * loses nothing. Edit distance k generalizes to k-deletion
    * neighborhoods plus a real verification step (practical for k ≤ 2). */
  def fuzzyJoinPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.customer(spark, dir).select($"c_custkey", $"c_name")
    // (key, name, pos, del = name minus the character at pos) —
    // materialized ONCE: it feeds three join inputs on two different
    // keys ((pos, del) and (del)), so the per-character explode would
    // otherwise run per input (no common exchange for Spark to reuse).
    val (keyed, _) = Checkpoints.eagerCut(base.select($"c_custkey", $"c_name",
      posexplode(expr("transform(sequence(1, length(c_name)), i -> " +
        "concat(substr(c_name, 1, i-1), substr(c_name, i+1)))"))))
    val subst = keyed.as("x").join(keyed.as("y"),
        $"x.pos" === $"y.pos" && $"x.col" === $"y.col" &&
          $"x.c_custkey" < $"y.c_custkey")
      .select($"x.c_custkey".as("a_key"), $"y.c_custkey".as("b_key"),
        when($"x.c_name" === $"y.c_name", 0).otherwise(1).as("dist"))
    val indel = keyed.as("x").join(base.as("y"), $"x.col" === $"y.c_name")
      .select(least($"x.c_custkey", $"y.c_custkey").as("a_key"),
        greatest($"x.c_custkey", $"y.c_custkey").as("b_key"),
        lit(1).as("dist"))
      .where($"a_key" =!= $"b_key")
    // A pair still collides once per equal position (equal names) or
    // per deletable duplicate character run — dedup the skinny triples.
    subst.unionByName(indel).distinct().orderBy($"a_key", $"b_key")
  }

  /** NS: exact duplicate-substring spans — the Lee et al. 2022
    * ("Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499) metric behind exact-substring dedup: for every
    * document, how many of its n-token spans (n=16) also occur verbatim in
    * at least one OTHER document, and what fraction of the doc that is —
    * the number a curation pipeline thresholds to cut boilerplate and
    * cross-doc plagiarism that whole-doc hashing can't see.
    *
    * Plan: one shingle explode (linear in corpus tokens), one fingerprint
    * aggregate (shuffle on md5 span keys — uniformly distributed by
    * construction), one equi-join back, one doc_id aggregate. No
    * suffix-array machinery and nothing quadratic; a pathologically hot
    * boilerplate span makes one big fp group, which AQE skew-splitting
    * handles (the group only feeds countDistinct + the join fan-back).
    * Docs shorter than n tokens have no spans and no output row (same in
    * the oracle). */
  def dupSpans(spark: SparkSession, dir: String, n: Int = 16): DataFrame = {
    import spark.implicits._
    // 60-bit md5 fingerprints: 8-byte shuffle keys instead of 32-char hex
    // strings (collision odds at 100 TB span counts ~2^44: ~2^27 expected
    // collisions of 2^88 pairs — each merges two spans into one "dup", a
    // vanishing overcount for a thresholded fraction; the oracle hashes
    // identically so the compare is unaffected)
    val sh = Tables.documents(spark, dir)
      .select($"doc_id", explode(shingles($"text", n)).as("gram"))
      .select($"doc_id", md5Long60($"gram").as("fp"))
    val dupFps = sh.groupBy($"fp")
      .agg(countDistinct($"doc_id").as("n_docs"))
      .where($"n_docs" >= 2)
      .select($"fp", $"n_docs")
    sh.join(dupFps, Seq("fp"), "left_outer")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_spans"),
        count($"n_docs").as("n_dup_spans"))
      .select($"doc_id", $"n_spans", $"n_dup_spans",
        ($"n_dup_spans".cast(DoubleType) / $"n_spans".cast(DoubleType))
          .as("dup_frac"))
      .orderBy($"doc_id")
  }

  /** NS (LLM pipeline): exact-substring duplicate REMOVAL — the rewrite
    * half of the Lee et al. (arXiv:2107.06499) dedup: [[dupSpans]] only
    * measures; this emits the cleaned corpus. Rule: a 16-token span whose
    * fingerprint also occurs in an earlier document (min doc_id keeps)
    * is removed from every later document; removal is token-accurate —
    * a token goes iff SOME duplicated span covers it, so overlapping dup
    * spans union instead of double-deleting. Output is the audit row per
    * doc (token counts before/after, md5 of the cleaned text) — the
    * cleaned text itself is the `kept_text` expression one select away.
    *
    * Scale: span fingerprints shuffle by fp (same shape as
    * [[dupSpans]]), keeper is a partial-aggregated argmin, dup start
    * positions come back as ONE bounded array per doc (≤ tokens/doc),
    * and the token masking is per-row HOF work. At 100 TB you'd bound
    * the fp explosion with [[TextAnalysis.winnowSelect]]'s fingerprints
    * first — same plan, 2/(w+1) of the rows. */
  def dedupRewrite(spark: SparkSession, dir: String, n: Int = 16): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val spans = docs
      .select($"doc_id", posexplode(shingles($"text", n)).as(Seq("pos", "gram")))
      .select($"doc_id", $"pos", md5Long60($"gram").as("fp"))
    val keeper = spans.groupBy($"fp").agg(min($"doc_id").as("keeper"))
    val dupStarts = spans.join(keeper, "fp")
      .where($"doc_id" =!= $"keeper")
      .groupBy($"doc_id")
      .agg(sort_array(collect_set($"pos")).as("starts"))
    docs.join(dupStarts, Seq("doc_id"), "left_outer")
      .select($"doc_id", tokens($"text").as("toks"),
        coalesce($"starts", array().cast(ArrayType(IntegerType))).as("starts"))
      .withColumn("kept", filter(
        zip_with($"toks",
          transform(sequence(lit(0), size($"toks") - 1),
            i => size(filter($"starts",
              s => s <= i && i < s + lit(n))) === 0),
          (t, keep) => when(keep, t)),
        t => t.isNotNull))
      .select($"doc_id",
        size($"toks").cast(LongType).as("n_tokens"),
        (size($"toks") - size($"kept")).cast(LongType).as("n_removed"),
        md5(concat_ws(" ", $"kept")).as("kept_md5"))
      .orderBy($"doc_id")
  }

  /** NS: cross-source syndication matrix — which SOURCE PAIRS share
    * verbatim 16-token spans (mirrors, syndicated feeds, scraped
    * re-posts): the source-level rollup of [[dupSpans]]' fingerprints.
    * High off-diagonal overlap means two "sources" are really one and the
    * mixture weights (`source_mix`) double-count them. Candidate rows are
    * (fingerprint, source) DISTINCT pairs — bounded by shared
    * fingerprints, never doc-quadratic; the within-fingerprint source
    * join is ≤|sources|² per fingerprint. */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val fps = Tables.documents(spark, dir)
      .select($"source", explode(shingles($"text", 16)).as("gram"))
      .select($"source", md5Long60($"gram").as("fp"))
      .distinct()
    fps.as("x").join(fps.as("y"),
        col("x.fp") === col("y.fp") && col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("source_a"), col("y.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared_spans"))
      .orderBy($"source_a", $"source_b")
  }

  /** Distributed connected components over an undirected edge list via
    * alternating large-star / small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC 2014 — public
    * algorithm). Input: (doc_a, doc_b) pairs. Output: (doc_id, label) for
    * every node that appears in some pair, label = min doc_id of its
    * component.
    *
    * Why contraction and not label propagation: a propagated min-label
    * travels ONE edge per round, so propagation rounds are lower-bounded
    * by the eccentricity of the min node (pointer jumping over the label
    * graph cannot help — the label has to ARRIVE before it can be jumped
    * through; measured on this corpus it saved zero rounds). Large-star /
    * small-star instead REWRITES the edge set toward per-component stars,
    * converging in O(log²) rounds independent of diameter, with the edge
    * multiset never growing beyond |E| + |V| per round — the standard
    * 100 TB-scale formulation.
    *
    * Each round is two (groupBy + join) stages over the current edge set,
    * ending in one [[Checkpoints.eagerCut]] (Catalyst would otherwise
    * re-optimize a doubling plan tree every round) that also observes the
    * (count, Σu, Σv) fingerprint of the new edge multiset: the round's
    * own SQL execution is its convergence check, and a count of 0 on the
    * first (oriented-edge) cut means an empty graph. The input pairs (read
    * by the first round and the validation join) and the labels (read by
    * the validation and the caller) are eager cuts too, so the returned
    * frame holds its rows and no lineage. The result is then
    * PROVEN, not trusted: a final validation join asserts
    * label(a) == label(b) for every ORIGINAL pair. Labels can never merge
    * two true components (every rewritten edge stays inside its component
    * by construction), so consistency on the input pairs is a sound
    * certificate — if the fingerprint ever falsely matched, the require
    * fails loudly rather than returning wrong clusters. */
  def connectedComponents(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    // Cut the pair pipeline ONCE — it feeds both the initial edge set and
    // the final validation join (without this the whole upstream
    // candidate-generation DAG would run twice).
    val (pairs0, _) = Checkpoints.eagerCut(pairs.toDF("a", "b"))
    def starCut(e: DataFrame): (DataFrame, Row) = Checkpoints.eagerCut(e,
      count(lit(1)), sum($"u".cast(DecimalType(38, 0))), sum($"v".cast(DecimalType(38, 0))))
    // Orient (bigger, smaller), drop self-loops; multiset semantics
    // throughout — groupBys dedup where it matters.
    var (edges, prev) = starCut(pairs0.where($"a" =!= $"b")
      .select(greatest($"a", $"b").as("u"), least($"a", $"b").as("v")))

    // large-star: every node hangs its LARGER neighbors onto the min of
    // its closed neighborhood. Output edges are (larger, smaller) again.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.unionAll(e.select($"v".as("u"), $"u".as("v")))
      val mins = sym.groupBy($"u").agg(least(min($"v"), $"u").as("m"))
      sym.join(mins, "u").where($"v" > $"u").select($"v".as("u"), $"m".as("v"))
    }
    // small-star: every node rewires its SMALLER neighbors (and itself)
    // to their min.
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy($"u").agg(min($"v").as("m"))
      e.join(mins, "u").select($"v".as("u"), $"m".as("v"))
        .unionAll(mins.select($"u", $"m".as("v")))
        .where($"u" =!= $"v")
    }
    if (prev.getLong(0) == 0) return edges.select($"u".as("doc_id"), $"v".as("label"))
    var iter = 0
    var stable = false
    while (!stable && iter < 16) {
      val (next, cur) = starCut(smallStar(largeStar(edges)))
      stable = cur == prev
      edges = next
      prev = cur
      iter += 1
    }
    // At the star fixpoint every non-root node has exactly one out-edge,
    // to its component root; roots appear only on the right — give each
    // root its own (root, root) row so every paired node is labeled.
    val nonRoot = edges.groupBy($"u").agg(min($"v").as("label"))
      .select($"u".as("doc_id"), $"label")
    // cut: read by the validation join and by every caller (dedupClusters
    // memoizes it as is)
    val (labels, _) = Checkpoints.eagerCut(nonRoot
      .unionByName(nonRoot.select($"label".as("doc_id"), $"label"))
      .groupBy($"doc_id").agg(min($"label").as("label")))
    val la = labels.select($"doc_id".as("a"), $"label".as("la"))
    val lb = labels.select($"doc_id".as("b"), $"label".as("lb"))
    val bad = pairs0
      .join(la, Seq("a"), "left_outer").join(lb, Seq("b"), "left_outer")
      .where(coalesce($"la", $"a") =!= coalesce($"lb", $"b")).count()
    require(stable && bad == 0,
      s"connectedComponents not converged after $iter star rounds " +
        s"($bad inconsistent pairs) — component structure exceeds the " +
        "round budget; raise the cap")
    labels
  }

  /** NS: near-duplicate CLUSTER assignment — connected components over the
    * simhash near-dup pair graph: the transitive-closure step a dedup
    * pipeline runs after pair generation (A~B, B~C ⇒ one keeper for
    * {A,B,C}; pairs alone can't pick keepers consistently).
    *
    * The star-contraction loop runs ONLY over nodes that appear in some
    * pair — singleton docs (the overwhelming majority of a corpus) never
    * enter it and get their cluster id from one final left join.
    * cluster_id = min doc_id in the component. */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // Label frame memoized directly (connectedComponents already returns a
    // checkpointed frame): cluster_stats and dedup_survivorship both
    // consume it, so the star-contraction loop runs once per (session, dir).
    val labels = FrameMemo.shared.raw(spark, dir, "cc_labels")(
      connectedComponents(
        simhashPairsMemo(spark, dir).select($"doc_a", $"doc_b")))
    Tables.documents(spark, dir).select($"doc_id")
      .join(labels, Seq("doc_id"), "left_outer")
      .select($"doc_id", coalesce($"label", $"doc_id").as("cluster_id"))
      .orderBy($"doc_id")
  }

  /** NS: incremental cluster maintenance — the step that completes the
    * incremental-ingest story [[minhashIncremental]] starts: merge a NEW
    * batch's near-dup pairs into EXISTING cluster labels without re-running
    * the global transitive closure. The new batch is the same standing
    * slice as minhash_incremental ([[isNewDoc]] = "today's crawl");
    * prior state is the label table over everything else.
    *
    * The merge CONTRACTS each prior component to its label node (labels are
    * component minima, so a (doc → label) edge loses nothing), rewrites
    * each new pair endpoint to its label (or itself if previously
    * unpaired), and runs star-contraction over just those contracted
    * edges — a graph bounded by the NEW pairs, not the corpus. Components
    * the batch never touches are never read: their labels pass through a
    * key-partitioned left join. Merged labels stay component minima
    * (min over old-label nodes and new docs = min doc overall), so the
    * output is row-identical to [[dedupClusters]] on the full corpus —
    * which is exactly what the oracle and the property spec assert.
    *
    * At 100 TB: prior labels are a persisted table, the contracted CC loop
    * runs over O(|new pairs|) edges, and the relabel is one broadcast-side
    * join of (touched old label → merged label) against the label table. */
  def dedupClustersIncremental(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pairs = simhashPairsMemo(spark, dir).select($"doc_a", $"doc_b")
    val oldPairs = pairs.where(!isNewDoc($"doc_a") && !isNewDoc($"doc_b"))
    val newPairs = pairs.where(isNewDoc($"doc_a") || isNewDoc($"doc_b"))
    // prior state — what a daily pipeline has persisted (checkpointed by
    // connectedComponents; feeds three joins below). Memoized per
    // (session, dir) for exactly that reason: the incremental path's
    // premise is that this frame ALREADY EXISTS — recomputing the prior
    // closure per call would bill the incremental query for the batch work
    // it exists to avoid.
    val oldLabels = FrameMemo.shared(spark, dir, "inc_old_labels") {
      connectedComponents(oldPairs)
    }
    val la = oldLabels.select($"doc_id".as("doc_a"), $"label".as("la"))
    val lb = oldLabels.select($"doc_id".as("doc_b"), $"label".as("lb"))
    val contracted = newPairs
      .join(la, Seq("doc_a"), "left_outer")
      .join(lb, Seq("doc_b"), "left_outer")
      .select(coalesce($"la", $"doc_a").as("a"), coalesce($"lb", $"doc_b").as("b"))
    // nodes of `merged` are old LABELS and previously-unpaired doc ids
    val merged = connectedComponents(contracted)
      .select($"doc_id".as("node"), $"label".as("mlabel"))
    val oldFinal = oldLabels
      .join(merged, oldLabels("label") === merged("node"), "left_outer")
      .select($"doc_id", coalesce($"mlabel", $"label").as("c_old"))
    val byDoc = merged.select($"node".as("doc_id"), $"mlabel")
    Tables.documents(spark, dir).select($"doc_id")
      .join(oldFinal, Seq("doc_id"), "left_outer")
      .join(byDoc, Seq("doc_id"), "left_outer")
      .select($"doc_id", coalesce($"c_old", $"mlabel", $"doc_id").as("cluster_id"))
      .orderBy($"doc_id")
  }

  /** NS: ensemble dedup agreement — MinHash (word-3-gram Jaccard proxy)
    * and SimHash (bit-distance proxy) candidate pairs full-outer merged
    * with per-method flags: pairs both methods agree on are the
    * high-confidence removals, single-method pairs are where the two
    * similarity notions genuinely differ (set overlap vs weighted bit
    * profile) and human thresholds get tuned. Cost is the two candidate
    * generators (each already bucketed, no all-pairs) plus one pair-keyed
    * full-outer join of the candidate sets — candidates, not corpus. */
  def dedupEnsemble(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val mh = minhashPairsMemo(spark, dir).select($"doc_a", $"doc_b")
      .withColumn("by_minhash", lit(1))
    val sh = simhashPairsMemo(spark, dir).select($"doc_a", $"doc_b")
      .withColumn("by_simhash", lit(1))
    mh.join(sh, Seq("doc_a", "doc_b"), "full_outer")
      .select($"doc_a", $"doc_b",
        coalesce($"by_minhash", lit(0)).as("by_minhash"),
        coalesce($"by_simhash", lit(0)).as("by_simhash"))
      .orderBy($"doc_a", $"doc_b")
  }

  /** NS: survivorship — the step AFTER entity resolution: collapse each
    * near-dup cluster ([[dedupClusters]] labels) into one golden record
    * with column-level rules (keeper id = min, length = max, source/lang
    * from the longest member, ties to the smallest id). One documents join
    * on doc_id + one cluster-keyed aggregate; every rule is an argmax/min
    * inside the same agg, so the golden-record build costs exactly one
    * shuffle more than the clustering it consumes. */
  def dedupSurvivorship(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    dedupClusters(spark, dir)
      .join(Tables.documents(spark, dir)
        .select($"doc_id", $"n_chars", $"source", $"lang"), "doc_id")
      .groupBy($"cluster_id")
      .agg(count(lit(1)).as("n_members"),
        min($"doc_id").as("golden_doc_id"),
        max($"n_chars").as("max_chars"),
        max_by(struct($"source", $"lang"), struct($"n_chars", -$"doc_id")).as("w"))
      .select($"cluster_id", $"n_members", $"golden_doc_id", $"max_chars",
        $"w.source".as("survivor_source"), $"w.lang".as("survivor_lang"))
      .orderBy($"cluster_id")
  }

  /** NS: near-dup cluster-size profile — the report one reads BEFORE acting
    * on [[dedupClusters]]'s output: how many clusters of each size exist,
    * how many documents they hold, and the duplicate count each size class
    * would remove under keep-one-per-cluster. A corpus whose mass sits in a
    * few giant clusters has a template/boilerplate problem, not a dedup
    * problem — this histogram is how you tell.
    *
    * Two bounded aggregations on top of the cluster labels (per-cluster
    * size → per-size histogram): the first shuffles ≤|clusters| rows, the
    * second ≤|distinct sizes| — both strictly smaller than the label set,
    * so the profile adds no scale risk to the CC computation it reads. */
  def clusterStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sizes = dedupClusters(spark, dir)
      .groupBy($"cluster_id").agg(count(lit(1)).as("cluster_size"))
    sizes.groupBy($"cluster_size")
      .agg(count(lit(1)).as("n_clusters"),
        sum($"cluster_id").as("cluster_id_checksum"))
      .select($"cluster_size", $"n_clusters",
        ($"cluster_size" * $"n_clusters").as("n_docs"),
        (($"cluster_size" - 1L) * $"n_clusters").as("n_dups_removable"),
        $"cluster_id_checksum")
      .orderBy($"cluster_size")
  }
}
