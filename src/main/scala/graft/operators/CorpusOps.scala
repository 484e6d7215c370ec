package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.operators.TextAnalysis.{md5Long60, shingles, tokens}

/** Corpus-preparation operators for LLM-data pipelines over `documents`:
  * TF-IDF term weighting, benchmark decontamination, PII scrubbing,
  * context-window sequence packing, and inverted-index construction.
  * Everything partial-aggregates map-side and broadcasts the small side;
  * no operator here shuffles more than the surviving rows, so the same
  * plans hold at 100 TB.
  */
object CorpusOps {

  /** NS: TF-IDF top-3 terms per document — the classic keyword/weighting
    * step (query expansion, near-dup feature vectors, topic tagging).
    *
    * Three bounded passes: tf from one explode + (doc, term) count; df
    * from a second scan aggregating per-row-distinct tokens by term; N
    * from a column-pruned count scan. All aggregations partial map-side;
    * df and N are vocabulary/1-row small → broadcast back, so only
    * (doc, term, tf) rows ever shuffle. Top-3 uses the bounded
    * [[graft.functions.TopKRows]] aggregate — ≤3 rows per
    * (doc, partition) shuffle where a window would move all.
    *
    * Scores are emitted (and RANKED) in fixed-point 2^-20 units:
    * floor(tf·ln(N/df)·2^20 + 0.5). Java's Math.log and C's log disagree
    * by 1 ulp on ~0.1% of inputs (measured), so raw-double scores are not
    * cross-engine comparable; quantizing both the output and the ordering
    * keeps engine and oracle bit-identical. */
  def tfidfTopk(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    import spark.implicits._
    // docTokens is FrameMemo-checkpointed: tf, df and N all read the ONE
    // materialized tokenized frame (0 parquet scans in the plan), so no
    // further sharing exists to extract here (round-14 re-audit; an extra
    // per-call checkpoint of the projection measured as pure overhead).
    val toksF = TextAnalysis.docTokens(spark, dir)
    val tf = toksF
      .select($"doc_id", explode($"toks").as("term"))
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    // df straight off per-row distinct tokens: ONE term-keyed aggregate
    // with map-side partials (deriving it from tf would re-run the
    // (doc, term) exchange — Catalyst prunes the count and the subtree
    // stops being reusable; a count-over-term window would instead sort
    // stop-word-sized partitions — a skew hazard at corpus scale).
    // The df join is deliberately UNhinted: `df` has VOCABULARY
    // cardinality, which grows with the corpus (Heaps' law — a 100 TB
    // corpus's unigram table is GBs), so a forced broadcast would be a
    // driver-OOM scale-killer. Statistics/AQE still pick a broadcast at
    // every fixture tier; at corpus scale the same plan degrades
    // gracefully to a term-keyed shuffle join (both sides already hash
    // on `term`, so the tf exchange is reused).
    val df = toksF
      .select(explode(array_distinct($"toks")).as("term"))
      .groupBy($"term").agg(count(lit(1)).as("df"))
    val n = toksF.agg(count(lit(1)).as("n_docs"))
    val scoreU20 = floor(
      $"tf".cast(DoubleType) *
        log($"n_docs".cast(DoubleType) / $"df".cast(DoubleType)) *
        1048576.0 + 0.5).cast(LongType)
    val scored = tf.join(df, "term").crossJoin(broadcast(n))
      .withColumn("score_u20", scoreU20)
    scored
      .groupBy($"doc_id")
      .agg(graft.functions.top_k_rows(
        struct((-$"score_u20").as("neg"), $"term", $"tf", $"df"), k).as("top"))
      .select($"doc_id", posexplode($"top"))
      .select($"doc_id", ($"pos" + 1).cast(IntegerType).as("rnk"),
        $"col.term".as("term"), $"col.tf".as("tf"), $"col.df".as("df"),
        (-$"col.neg").as("score_u20"))
      .orderBy($"doc_id", $"rnk")
  }

  /** NS: benchmark decontamination — the eval-integrity gate every
    * training pipeline needs: flag corpus documents that share too many
    * word-3-gram shingles with a held-out benchmark set (here: doc_id ≡ 0
    * mod 50, standing in for an eval suite). Corpus side is exploded once
    * and LEFT-joined against the broadcast benchmark gram set — overlap
    * counting is one linear pass, no all-pairs anywhere; at 100 TB the
    * benchmark grams (an eval suite, not a corpus) stay broadcast-small. */
  def decontaminate(spark: SparkSession, dir: String,
      flagAt: Int = 5): DataFrame = {
    import spark.implicits._
    def grams(df: DataFrame) =
      df.select($"doc_id", explode(array_distinct(shingles($"text", 3))).as("g"))
    val docs = Tables.documents(spark, dir)
    val bench = grams(docs.where($"doc_id" % 50 === 0))
      .select($"g".as("bg")).distinct()
    grams(docs.where($"doc_id" % 50 =!= 0))
      .join(broadcast(bench), $"g" === $"bg", "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_grams"), count($"bg").as("n_contam"))
      .select($"doc_id", $"n_grams", $"n_contam",
        ($"n_contam".cast(DoubleType) / $"n_grams").as("contam_ratio"),
        when($"n_contam" >= flagAt, 1).otherwise(0).as("flagged"))
      .orderBy($"doc_id")
  }

  /** NS: contamination ATTRIBUTION — the drill-down behind
    * [[decontaminate]]: for every (corpus doc, benchmark doc) pair sharing
    * ≥3 word-3-gram shingles, report the overlap — which eval suite
    * leaked, not just that something did. Same broadcast-gram shape, one
    * extra (doc, bench_doc) aggregate.
    *
    * `maxBenchDf` (round-10 sf2 finding): a gram present in more than
    * `maxBenchDf` BENCHMARK docs is suite boilerplate — it multiplies
    * every corpus match by its benchmark df, and over a homogeneous
    * corpus the match multiset grows quadratically in docs (measured:
    * 5.1M → 20.3M join rows for 2× docs; 9.6k of 26.5k bench grams
    * exceeded df 4 at sf2). Rare grams carry the attribution signal —
    * the same rationale as every published decontamination pipeline's
    * ubiquitous-n-gram drop — so the capped join is Θ(corpus grams ·
    * cap) at any corpus size. The DuckDB twin applies the identical
    * cap (it is part of the declared semantics, not an approximation). */
  def decontaminatePairs(spark: SparkSession, dir: String,
      minShared: Int = 3, maxBenchDf: Int = 4): DataFrame = {
    import spark.implicits._
    def grams(df: DataFrame) =
      df.select($"doc_id", explode(array_distinct(shingles($"text", 3))).as("g"))
    val docs = Tables.documents(spark, dir)
    val bench0 = grams(docs.where($"doc_id" % 50 === 0))
      .select($"doc_id".as("bench_doc"), $"g".as("bg")).distinct()
    val rareGrams = bench0.groupBy($"bg")
      .agg(count(lit(1)).as("bdf")).where($"bdf" <= maxBenchDf)
      .select($"bg")
    val bench = bench0.join(rareGrams, "bg")
    grams(docs.where($"doc_id" % 50 =!= 0))
      .join(broadcast(bench), $"g" === $"bg")
      .groupBy($"doc_id", $"bench_doc")
      .agg(count(lit(1)).as("n_shared"))
      .where($"n_shared" >= minShared)
      .orderBy($"doc_id", $"bench_doc")
  }

  /** NS: PII scrubbing — regex redaction of emails / phone numbers / SSNs
    * with per-class counts (the audit trail a compliance pass needs). The
    * corpus is synthetic prose with no PII, so a deterministic contact
    * blurb (email when doc_id % 3 ≠ 0, phone when doc_id % 2 = 0, SSN
    * when doc_id % 5 = 0) is spliced mid-document first, then scrubbed —
    * the mechanics are real, the injection makes them verifiable. Pure
    * per-row expressions, zero shuffle. Patterns are deliberately
    * ambiguity-free character-class runs so Java regex (leftmost-first)
    * and RE2 (leftmost-longest) match identically. */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val email = "[a-z0-9]+@[a-z]+\\.[a-z]+"
    val phone = "\\(555\\) [0-9]{3}-[0-9]{4}"
    val ssn = "[0-9]{3}-[0-9]{2}-[0-9]{4}"
    val blurb = concat(
      when($"doc_id" % 3 =!= 0,
        concat(lit(" contact user"), $"doc_id", lit("@example.com"))).otherwise(""),
      when($"doc_id" % 2 === 0,
        concat(lit(" call (555) 010-"), lpad(($"doc_id" % 10000).cast(StringType), 4, "0")))
        .otherwise(""),
      when($"doc_id" % 5 === 0,
        concat(lit(" id "), lpad(($"doc_id" % 1000).cast(StringType), 3, "0"),
          lit("-00-"), lpad(($"doc_id" % 10000).cast(StringType), 4, "0")))
        .otherwise(""))
    // splice after the first word so redaction is mid-string, not appended
    val withPii = Tables.documents(spark, dir)
      .withColumn("raw", concat(
        substring_index($"text", " ", 1), blurb,
        substring($"text", length(substring_index($"text", " ", 1)) + 1,
          lit(Int.MaxValue))))
    // SSN before phone: the phone tail ([0-9]{3}-[0-9]{4}) is a substring
    // of the SSN shape, so scrub the more specific pattern first.
    val scrubbed = regexp_replace(regexp_replace(regexp_replace(
      $"raw", ssn, "<SSN>"), phone, "<PHONE>"), email, "<EMAIL>")
    withPii.select(
      $"doc_id",
      regexp_count($"raw", lit(email)).as("n_emails"),
      regexp_count($"raw", lit(phone)).as("n_phones"),
      regexp_count($"raw", lit(ssn)).as("n_ssns"),
      length($"raw").as("raw_len"),
      scrubbed.as("scrubbed_head"))
      .withColumn("scrubbed_md5", md5($"scrubbed_head".cast(BinaryType)))
      .withColumn("scrubbed_head", substring($"scrubbed_head", 1, 40))
      .orderBy($"doc_id")
  }

  /** NS: sequence packing — the pretraining batch-prep step: concatenate
    * the token stream in curriculum order and cut fixed 512-token context
    * windows; each doc reports its start offset and the window span it
    * lands in (a doc crossing a boundary is the attention-masking case
    * downstream loaders care about). Packing is per-source: contiguous
    * packing is inherently sequential WITHIN a shard, so the shard key is
    * the parallelism unit — at 100 TB you pack per (source, hash-bucket)
    * and this plan is exactly that with one bucket. One shuffle on
    * source; cumulative sums are per-partition window frames. */
  def sequencePack(spark: SparkSession, dir: String,
      windowTokens: Int = 512): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"source").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(spark, dir)
      .select($"source", $"doc_id", size(tokens($"text")).cast(LongType).as("n_tok"))
      .withColumn("start_off", coalesce(sum($"n_tok").over(w), lit(0L)))
      .withColumn("first_win", floor($"start_off" / windowTokens))
      .withColumn("last_win", floor(($"start_off" + $"n_tok" - 1) / windowTokens))
      .select($"source", $"doc_id", $"n_tok", $"start_off",
        $"first_win", $"last_win",
        ($"last_win" - $"first_win" + 1).as("n_windows"),
        when($"last_win" > $"first_win", 1).otherwise(0).as("crosses_boundary"))
      .orderBy($"source", $"doc_id")
  }

  /** NS: bigram language-model scoring — the perplexity-proxy quality
    * filter (CCNet/Gopher-style): train bigram statistics ON the corpus,
    * then score each document by its mean bigram log-probability
    * P(w2|w1) = C(w1 w2) / C(w1 ·); documents far below the corpus norm
    * (avg log-prob < −ln 50, i.e. perplexity > 50) get flagged.
    *
    * Cross-engine determinism is the interesting part: a double SUM of ln
    * terms is fold-order-dependent, so each bigram's log-prob is
    * quantized to 2^-20 fixed point FIRST and the per-doc sum is integer
    * arithmetic — order-free and exact; only the final mean is a single
    * (correctly-rounded) double division. Plans as three aggregates over
    * one exploded shape + two joins keyed on bigram/prefix — all
    * partial-aggregated, vocabulary-bounded, no skew hot spots — built
    * once into [[lmFrame]], which a call reads already in `doc_id`
    * order. */
  def lmScore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    lmFrame(spark, dir).orderBy($"doc_id")
  }

  /** NS: CCNet-style perplexity bucketing — per language, split the
    * corpus into head / middle / tail terciles by LM score (Wenzek et
    * al., arXiv:1911.00359: the head is what you train on first, the
    * tail is what you drop or re-filter). Reads the ONE memoized
    * [[lmFrame]] (no re-tokenization), and the per-lang tercile is
    * computed WITHOUT a per-lang window: languages are few, so
    * `Window.partitionBy(lang)` would funnel each language's entire
    * corpus through one task at 100 TB. Instead ONE
    * [[Scale.withGlobalRank]] over the composite total order
    * (lang, score desc, doc_id) ranks everything distributed in one plan
    * (broadcast per-partition offsets, no driver collect); per-lang
    * ranks fall out by subtracting each language's first global rank
    * (a |langs|-row bounded agg, broadcast back), and the tercile is
    * exact integer math `((rk−rk0)·3) div n_lang` — no ntile, no divided
    * quantile, engine-exact. */
  def perplexityBuckets(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val scored = lmFrame(spark, dir)
      .join(Tables.documents(spark, dir).select($"doc_id", $"lang"), "doc_id")
      .select($"doc_id", $"lang", $"n_bigrams", $"avg_logprob_u20")
    val ranked = Scale.withGlobalRank(scored, "rk", "_n",
      Seq($"lang", $"avg_logprob_u20".desc, $"doc_id")).drop("_n")
    val offs = ranked.groupBy($"lang")
      .agg(min($"rk").as("rk0"), count(lit(1)).as("n_lang"))
    ranked.join(broadcast(offs), "lang")
      .withColumn("bucket", expr("((rk - rk0) * 3) div n_lang").cast(IntegerType))
      .groupBy($"lang", $"bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_bigrams").as("sum_bigrams"),
        min($"avg_logprob_u20").as("min_avg_u20"),
        max($"avg_logprob_u20").as("max_avg_u20"))
      .withColumn("bucket_label",
        when($"bucket" === 0, "head").when($"bucket" === 1, "middle")
          .otherwise("tail"))
      .orderBy($"lang", $"bucket")
  }

  /** The LM gate frame, memoized once per (session, dir) and laid out
    * sorted on `doc_id` ([[FrameMemo.sorted]]): `lm_score`'s
    * `orderBy(doc_id)` reads it with no exchange and no sort;
    * `perplexity_buckets`, `quality_ensemble` and `corpus_pipeline`
    * share it. */
  private[graft] def lmFrame(spark: SparkSession, dir: String): DataFrame =
    FrameMemo.shared.sorted(spark, dir, "lm_gate", "doc_id")(
      lmFrameBuild(spark, dir))

  private def lmFrameBuild(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val (cntBg, cntW1) = lmModel(docs)
    lmScore(docs, cntBg, cntW1)
  }

  /** Per-doc bigram rows of a `(doc_id, text)` frame — shared by model
    * training and scoring. */
  private def lmBigrams(docs: DataFrame): DataFrame = docs
    .withColumn("toks", tokens(col("text")))
    .where(size(col("toks")) >= 2)
    .select(col("doc_id"), explode(expr(
      "transform(sequence(1, size(toks)-1), i -> " +
        "concat(element_at(toks, i), ' ', element_at(toks, i+1)))")).as("bg"))
    .withColumn("w1", substring_index(col("bg"), " ", 1))

  /** Train the bigram LM on `docs`: (bigram counts, prefix totals) — the
    * persisted model artifact the streaming ingest funnel probes. */
  private[graft] def lmModel(docs: DataFrame): (DataFrame, DataFrame) = {
    val cntBg = lmBigrams(docs).groupBy(col("bg"))
      .agg(count(lit(1)).as("cnt_bg"))
    // prefix totals roll up from the (vocabulary-bounded) bigram counts —
    // NOT from a third pass over the exploded corpus
    val cntW1 = cntBg.select(substring_index(col("bg"), " ", 1).as("w1"),
        col("cnt_bg"))
      .groupBy(col("w1")).agg(sum(col("cnt_bg")).as("cnt_w1"))
    (cntBg, cntW1)
  }

  /** Score `docs` against a trained bigram model — per-doc-deterministic
    * given the model, so micro-batch scoring in the streaming funnel
    * matches the batch gate exactly. Inner joins assume every scored
    * bigram exists in the model (true whenever the model's training
    * corpus covers the scored docs; a production OOV floor would
    * left-join with a smoothing constant). */
  private[graft] def lmScore(docs: DataFrame, cntBg: DataFrame,
      cntW1: DataFrame): DataFrame = {
    val u20 = floor(
      log(col("cnt_bg").cast(DoubleType) / col("cnt_w1").cast(DoubleType)) *
        1048576.0 + 0.5).cast(LongType)
    val flagAt = -4102053.0 // -ln(50) * 2^20 = -4102053.43: perplexity-50 gate
    lmBigrams(docs).join(cntBg, "bg").join(cntW1, "w1")
      .select(col("doc_id"), u20.as("u20"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("u20")).as("sum_logprob_u20"))
      .select(col("doc_id"), col("n_bigrams"), col("sum_logprob_u20"),
        (col("sum_logprob_u20").cast(DoubleType) /
          col("n_bigrams").cast(DoubleType)).as("avg_logprob_u20"))
      .withColumn("flagged",
        when(col("avg_logprob_u20") < flagAt, 1).otherwise(0))
  }

  /** NS: per-source length quartiles — `ntile` bucketing (the one rank
    * window function `rank_family` doesn't cover) with the scale-correct
    * partitioning: quartiles WITHIN each source, so the window sorts one
    * source per partition — a corpus-global ntile would funnel 100 TB
    * through a single sort partition (for global quantile labels at scale
    * you broadcast approx-quantile cutpoints instead, as
    * `winsorized_stats` does). Output: per (source, quartile) doc counts
    * and length ranges — the curation report that shows where each
    * source's length mass sits. */
  def lengthQuartiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"source").orderBy($"n_chars", $"doc_id")
    Tables.documents(spark, dir)
      .select($"source", $"doc_id", $"n_chars")
      .withColumn("quartile", ntile(4).over(w))
      .groupBy($"source", $"quartile")
      .agg(count(lit(1)).as("n_docs"),
        min($"n_chars").as("min_chars"), max($"n_chars").as("max_chars"),
        sum($"n_chars").as("sum_chars"))
      .orderBy($"source", $"quartile")
  }

  /** NS: data-mixture report — the sampling-weight computation behind
    * corpus rebalancing (DoReMi-style static reweighting, C4/Pile mixture
    * tables): per-source document and token totals, the source's share of
    * the corpus token stream, and the up/down-sampling weight that would
    * equalize the mixture (target = uniform across sources). Two map-side
    * partial aggregates (per-source, then the 1-row total broadcast
    * back); weights are pure double divisions of exact longs, so the
    * oracle matches bit-for-bit without quantization. */
  def sourceMix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val perSource = Tables.documents(spark, dir)
      .select($"source", size(tokens($"text")).cast(LongType).as("n_tok"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("n_tokens"))
    val totals = perSource.agg(
      sum($"n_tokens").as("total_tokens"),
      count(lit(1)).as("n_sources"))
    perSource.crossJoin(broadcast(totals))
      .select($"source", $"n_docs", $"n_tokens",
        ($"n_tokens".cast(DoubleType) / $"total_tokens".cast(DoubleType))
          .as("token_share"),
        // uniform-target weight: (1/n_sources) / share
        ($"total_tokens".cast(DoubleType) /
          ($"n_sources".cast(DoubleType) * $"n_tokens".cast(DoubleType)))
          .as("mix_weight"))
      .orderBy($"source")
  }

  /** NS: overlapping context-window chunking — the RAG/fine-tune ingestion
    * shape [[sequencePack]] doesn't cover: each document is cut into
    * `size`-token windows advancing by `stride` < size tokens, so
    * consecutive chunks share (size − stride) tokens of context and no
    * boundary sentence is ever lost to a hard cut. One row per chunk with
    * the md5 of its text (compact + order-free; the full chunk text would
    * bloat the result without testing anything more).
    *
    * Pure per-row generate/project — tokenize once, explode the stride
    * grid, slice the token array per chunk. Zero shuffle, embarrassingly
    * parallel, linear at any corpus scale. */
  def chunkOverlap(spark: SparkSession, dir: String,
      size: Int = 32, stride: Int = 24): DataFrame = {
    import spark.implicits._
    require(stride > 0 && stride <= size, "need 0 < stride <= size")
    Tables.documents(spark, dir)
      .select($"doc_id", tokens($"text").as("toks"))
      .withColumn("n_tok", org.apache.spark.sql.functions.size($"toks").cast(LongType))
      .where($"n_tok" > 0)
      .select($"doc_id", $"toks", $"n_tok",
        explode(sequence(lit(0L), $"n_tok" - 1, lit(stride.toLong))).as("start_tok"))
      .select($"doc_id",
        ($"start_tok" / stride).cast(LongType).as("chunk_id"),
        $"start_tok",
        least(lit(size.toLong), $"n_tok" - $"start_tok").as("n_chunk_tok"),
        (($"n_tok" - $"start_tok") >= size).as("is_full"),
        md5(array_join(slice($"toks", ($"start_tok" + 1).cast(IntegerType),
          lit(size)), " ").cast(BinaryType)).as("chunk_md5"))
      .orderBy($"doc_id", $"chunk_id")
  }

  /** NS: apply the [[sourceMix]] mixture weights — deterministic
    * up/down-sampling that turns a weight w per source into an integer
    * copy count per document: every doc gets ⌊w⌋ copies, plus one more
    * iff md5("mix:" + doc_id) mod 2^20 falls under frac(w)·2^20 — so the
    * realized per-source token mass converges to w × original mass with
    * zero coordination (DoReMi-style static reweighting, materialized).
    *
    * Everything is integer fixed-point: w is computed as
    * ⌊total_tokens·2^20 / (n_sources·source_tokens)⌋ — bigint floor
    * division, no doubles anywhere — so engine and oracle agree exactly
    * even at copy-count boundaries. (At 100 TB token counts approach
    * 2^63/2^20: compute the same quotient in DECIMAL(38,0) — same floor
    * semantics, no overflow.) Plan: two bounded aggs (per-source, totals)
    * broadcast back onto the scan, then a sequence/explode fan-out of the
    * surviving copies. No shuffle beyond the |sources|-row aggregates. */
  def mixtureResample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val FP = 1048576L // 2^20
    val perSource = TextAnalysis.docTokens(spark, dir)
      .select($"source", org.apache.spark.sql.functions.size($"toks")
        .cast(LongType).as("n_tok"))
      .groupBy($"source").agg(sum($"n_tok").as("src_tokens"))
    val totals = perSource.agg(sum($"src_tokens").as("total_tokens"),
      count(lit(1)).as("n_sources"))
    val weighted = perSource.crossJoin(broadcast(totals))
      .select($"source",
        expr(s"(total_tokens * $FP) div (n_sources * src_tokens)").as("w_fp"))
    Tables.documents(spark, dir)
      .select($"doc_id", $"source")
      .join(broadcast(weighted), "source")
      .withColumn("n_copies",
        expr(s"w_fp div $FP") +
          when(graft.functions.md5_long(
            concat(lit("mix:"), $"doc_id".cast(StringType)), 15) % FP <
            $"w_fp" % FP, 1L).otherwise(0L))
      .where($"n_copies" > 0)
      .select($"source", $"doc_id", $"w_fp", $"n_copies",
        explode(sequence(lit(1L), $"n_copies")).as("copy_idx"))
      .orderBy($"source", $"doc_id", $"copy_idx")
  }

  /** NS: BM25 ranked retrieval over the corpus — the scoring loop behind
    * the [[invertedIndex]]: Okapi BM25 (k1=1.2, b=0.75, the Robertson/
    * Spärck Jones formulation) of a fixed query-term set, top-10
    * documents. The plan is the 100 TB retrieval shape: the explode is
    * pre-filtered to query terms (scan-side `isin`, so only hit rows ever
    * reach the (doc, term) aggregate), df and N are term-/1-row-bounded
    * broadcasts, and the final ranking is TakeOrdered — no window, no
    * global sort.
    *
    * Determinism: each (doc, term) partial score is quantized to 2^-20
    * fixed point — floor(idf·tfnorm·2^20 + 0.5) — and the per-doc total
    * is an integer SUM, so fold order cannot change the result and the
    * ln() 1-ulp engine divergence is absorbed by the quantizer (same
    * scheme as [[tfidfTopk]] / [[lmScore]]). */
  def bm25Topk(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    import spark.implicits._
    val qterms = Seq("dup", "spark", "vector", "stream", "window")
    val k1 = 1.2
    val b = 0.75
    val docs = TextAnalysis.docTokens(spark, dir)
      .withColumn("dl", org.apache.spark.sql.functions.size($"toks").cast(LongType))
    val lenStats = docs.agg(sum($"dl").as("sum_dl"),
      count(lit(1)).as("n_docs"))
    val tf = docs
      .select($"doc_id", $"dl", explode($"toks").as("term"))
      .where($"term".isin(qterms: _*))
      .groupBy($"doc_id", $"dl", $"term").agg(count(lit(1)).as("tf"))
    val df = docs
      .select(explode(array_distinct($"toks")).as("term"))
      .where($"term".isin(qterms: _*))
      .groupBy($"term").agg(count(lit(1)).as("df"))
    val xd: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      _.cast(DoubleType)
    val avgdl = xd($"sum_dl") / xd($"n_docs")
    val idf = log(lit(1.0) + (xd($"n_docs") - xd($"df") + 0.5) / (xd($"df") + 0.5))
    // constant subterms fold the same way the SQL twin's literals do:
    // (k1 + 1.0) and (1.0 - b) are single IEEE ops in both engines
    val tfnorm = (xd($"tf") * lit(k1 + 1.0)) /
      (xd($"tf") + lit(k1) * (lit(1.0 - b) + lit(b) * (xd($"dl") / avgdl)))
    tf.join(broadcast(df), "term").crossJoin(broadcast(lenStats))
      .withColumn("part_u20",
        floor(idf * tfnorm * 1048576.0 + 0.5).cast(LongType))
      .groupBy($"doc_id")
      .agg(sum($"part_u20").as("score_u20"),
        count(lit(1)).as("n_hit_terms"))
      .orderBy($"score_u20".desc, $"doc_id")
      .limit(k)
  }

  /** NS: pointwise-mutual-information word associations — the word2vec-era
    * collocation miner: for every unordered adjacent token pair,
    * PMI = ln( p(a,b) / (p(a)·p(b)) ) from corpus counts, top-20 pairs
    * with support ≥ minCount. Both count aggregates read the ONE
    * memoized [[TextAnalysis.docTokens]] frame (the corpus is tokenized
    * once, not once per aggregate), and the unigram counts reach the
    * pair rows through a melt-shaped SHUFFLE join: each surviving pair
    * contributes one row per side (wa and wb), the vocabulary table
    * joins once on that shuffled key, and a (wa, wb) regroup re-gathers
    * na/nb. A vocabulary is NOT broadcast-sized at corpus scale (a
    * 100 TB corpus's unigram table is GBs), so the only broadcast left
    * is the 1-row totals frame. The support filter runs BEFORE the melt,
    * so the join ships 2·|surviving pairs| rows, not 2·|all pairs|.
    *
    * PMI is emitted and RANKED in 2^-20 fixed point (same cross-engine
    * log discipline as [[tfidfTopk]]); count ratios divide exact bigints,
    * so the double inputs to ln() are bit-identical in any engine. */
  def cooccurPmi(spark: SparkSession, dir: String,
      minCount: Long = 5L, k: Int = 20): DataFrame = {
    import spark.implicits._
    val docs = TextAnalysis.docTokens(spark, dir).select($"toks")
    val pairCnt = docs
      .select(explode(expr(
        "transform(sequence(1, size(toks)-1), i -> " +
          "struct(least(element_at(toks, i), element_at(toks, i+1)) AS wa, " +
          "greatest(element_at(toks, i), element_at(toks, i+1)) AS wb))"))
        .as("p"))
      .where($"p.wa" =!= $"p.wb") // self-pairs have no association signal
      .groupBy($"p.wa".as("wa"), $"p.wb".as("wb"))
      .agg(count(lit(1)).as("pair_n"))
    val uniCnt = docs.select(explode($"toks").as("w"))
      .groupBy($"w").agg(count(lit(1)).as("uni_n"))
    val totals = uniCnt.agg(sum($"uni_n").as("t_uni"))
      .crossJoin(pairCnt.agg(sum($"pair_n").as("t_pair")))
    val withUni = pairCnt
      .where($"pair_n" >= minCount)
      .select($"wa", $"wb", $"pair_n", explode(array(
        struct(lit("a").as("side"), $"wa".as("w")),
        struct(lit("b").as("side"), $"wb".as("w")))).as("m"))
      .select($"wa", $"wb", $"pair_n", $"m.side".as("side"), $"m.w".as("w"))
      .join(uniCnt, "w") // shuffle join — the vocab side is never broadcast
      .groupBy($"wa", $"wb", $"pair_n")
      .agg(max(when($"side" === "a", $"uni_n")).as("na"),
        max(when($"side" === "b", $"uni_n")).as("nb"))
    val xd: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      _.cast(DoubleType)
    withUni
      .crossJoin(broadcast(totals))
      .withColumn("pmi_u20", floor(
        log((xd($"pair_n") / xd($"t_pair")) /
          ((xd($"na") / xd($"t_uni")) * (xd($"nb") / xd($"t_uni")))) *
          1048576.0 + 0.5).cast(LongType))
      .select($"wa", $"wb", $"pair_n", $"na", $"nb", $"pmi_u20")
      .orderBy($"pmi_u20".desc, $"wa", $"wb")
      .limit(k)
  }

  /** NS: inverted index — token → document-frequency + the first 20
    * postings (the retrieval/BM25 building block). Postings are bounded
    * BEFORE collection by [[graft.functions.TopKRows]]: the aggregate
    * ships ≤20 doc_ids per (token, partition), where collect_list-then-
    * slice would move every posting of every stop-word-grade token
    * through the shuffle — the difference between O(k·|vocab|) and
    * O(corpus) exchange volume at 100 TB. */
  def invertedIndex(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", explode(array_distinct(tokens($"text"))).as("token"))
      .groupBy($"token")
      .agg(count(lit(1)).as("df"),
        graft.functions.top_k_rows(struct($"doc_id"), k).as("keep"))
      .select($"token", $"df",
        concat_ws(",", transform($"keep", r => r.getField("doc_id"))).as("postings_head"))
      .orderBy($"token")
  }

  /** NS: vocabulary coverage / OOV-rate report — the tokenizer-fit eval
    * run before committing to a vocab: fix the top-256 corpus tokens as
    * the vocabulary (count-ranked, ties to the lexicographically smaller
    * token — deterministic in any engine), then measure per source how
    * much token mass falls outside it. A rising OOV rate on a new source
    * is the signal the tokenizer no longer fits the mixture. The vocab is
    * a bounded TakeOrdered (256 rows, broadcast back); the measurement is
    * one explode + broadcast membership join + per-source agg — linear,
    * no corpus-scale shuffle. Rate emitted in integer permille
    * (truncating div, identical in Spark and DuckDB). */
  def vocabCoverage(spark: SparkSession, dir: String, vocabSize: Int = 256): DataFrame = {
    import spark.implicits._
    val toks = Tables.documents(spark, dir)
      .select($"source", explode(tokens($"text")).as("token"))
    val vocab = toks.groupBy($"token").agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"token").limit(vocabSize)
      .select($"token", lit(1).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("token"), "left_outer")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when($"in_vocab".isNull, 1L).otherwise(0L)).as("n_oov"))
      .select($"source", $"n_tokens", $"n_oov",
        expr("(n_oov * 1000) div n_tokens").as("oov_permille"))
      .orderBy($"source")
  }

  /** NS: BPE merge candidates — the inner statistic of byte-pair-encoding
    * tokenizer training (Sennrich et al., arXiv:1508.07909): count every
    * adjacent character pair across the corpus, weighted by word frequency;
    * the argmax pair is the next merge rule. The pair explosion runs over
    * the DISTINCT word vocabulary (each word exploded once, carrying its
    * corpus count), not over the corpus — vocabulary is sublinear in corpus
    * size, so the expensive step shrinks as data grows; the corpus-scale
    * work is one token-count aggregate with map-side partials. */
  def bpeMerges(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    import spark.implicits._
    val vocab = Tables.documents(spark, dir)
      .select(explode(tokens($"text")).as("word"))
      .groupBy($"word").agg(count(lit(1)).as("cnt"))
    vocab.where(length($"word") >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))"))
        .as("pair"), $"cnt")
      .groupBy($"pair").agg(sum($"cnt").as("n"))
      .orderBy($"n".desc, $"pair")
      .limit(k)
  }

  /** NS: one round of BPE merge APPLICATION — the step [[bpeMerges]] only
    * nominates: take the round-1 winner rule, rewrite the word vocabulary
    * with it (symbols spaced out, left-to-right non-overlapping `replace`
    * — exactly the greedy merge semantics of BPE training), and emit the
    * round-2 merge candidates over the new symbol sequences. Two rounds of
    * the actual training loop, demonstrated end-to-end.
    *
    * Everything is string arithmetic — zero floating point, so
    * cross-engine equality is structural, not numeric. The rewrite runs
    * over the DISTINCT word vocabulary weighted by corpus counts
    * (vocabulary-bounded, like `bpe_merges`), and the 1-row winner rule
    * broadcasts onto it. */
  def bpeApply(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    import spark.implicits._
    val vocab = Tables.documents(spark, dir)
      .select(explode(tokens($"text")).as("word"))
      .groupBy($"word").agg(count(lit(1)).as("cnt"))
    val r1 = vocab.where(length($"word") >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))"))
        .as("pair"), $"cnt")
      .groupBy($"pair").agg(sum($"cnt").as("n"))
    val rule = r1.orderBy($"n".desc, $"pair").limit(1)
      .select($"pair".as("rule"))
    val spaced = trim(regexp_replace($"word", "(.)", "$1 "))
    vocab.crossJoin(broadcast(rule))
      .select($"rule",
        replace(spaced,
          concat(substring($"rule", 1, 1), lit(" "), substring($"rule", 2, 1)),
          $"rule").as("merged"),
        $"cnt")
      .select($"rule", split($"merged", " ").as("s"), $"cnt")
      .where(size($"s") >= 2)
      .select($"rule", explode(expr(
        "transform(sequence(1, size(s) - 1), " +
          "i -> concat(element_at(s, i), ' ', element_at(s, i + 1)))"))
        .as("pair"), $"cnt")
      .groupBy($"rule", $"pair").agg(sum($"cnt").as("n"))
      .orderBy($"n".desc, $"pair")
      .limit(k)
  }

  /** NS: reciprocal-rank fusion of sparse (BM25) and cosine (dense) retrieval
    * — the standard hybrid-search merge (Cormack et al., SIGIR'09): each arm
    * contributes 1/(60+rank) for the documents it ranked, missing docs
    * contribute 0. The arms are bounded top-k lists BY CONSTRUCTION (k rows
    * each after their own TakeOrdered), so the rank windows and the final
    * full-outer merge touch ≤2k rows no matter the corpus size — the fusion
    * itself is O(k), all the scale weight stays in the two arm scans, which
    * are linear (BM25: filtered explode + broadcast df; dense: broadcast-probe
    * scan + TakeOrdered).
    *
    * Cross-engine exactness: each 1/(60+r) is one correctly-rounded IEEE
    * division, the fused score is one addition of two such doubles, and the
    * emitted/ranked value is quantized to 2^-20 fixed point — bit-identical
    * in any IEEE-754 engine, same discipline as [[tfidfTopk]].
    *
    * Corpus convention: `embeddings.vec_id` is the embedding of
    * `documents.doc_id` (the driver generates them aligned), probe = vector 0,
    * mirroring [[graft.operators.Similarity.similaritySearch]]. */
  def rrfFusion(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    import spark.implicits._
    import graft.operators.Similarity.cosine
    val sparseRank = bm25Topk(spark, dir, k)
      .select($"doc_id", $"score_u20",
        row_number().over(Window.orderBy($"score_u20".desc, $"doc_id"))
          .as("bm25_rank"))
    val emb = Tables.embeddings(spark, dir)
    val probe = emb.filter($"vec_id" === 0).select($"embedding".as("p"))
    val denseRank = emb.crossJoin(broadcast(probe))
      .where($"vec_id" =!= 0)
      .select($"vec_id".as("doc_id"), cosine($"embedding", $"p").as("cos_score"))
      .orderBy($"cos_score".desc, $"doc_id").limit(k)
      .select($"doc_id",
        row_number().over(Window.orderBy($"cos_score".desc, $"doc_id"))
          .as("cos_rank"))
    val contrib: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      r => coalesce(lit(1.0) / (lit(60.0) + r.cast(DoubleType)), lit(0.0))
    sparseRank.join(denseRank, Seq("doc_id"), "full_outer")
      .select($"doc_id", $"bm25_rank", $"cos_rank",
        floor((contrib($"bm25_rank") + contrib($"cos_rank")) * 1048576.0 + 0.5)
          .cast(LongType).as("rrf_u20"))
      .orderBy($"rrf_u20".desc, $"doc_id")
  }

  /** NS: deterministic stratified downsampling — balance every `source`
    * stratum down to the SMALLEST stratum's size by hash-Bernoulli sampling
    * (the "balance the mixture without an RNG" shape; reproducible across
    * runs, engines, and re-partitioning, unlike `sampleBy`'s seed-stream
    * dependence on partition layout).
    *
    * Keep rule: md5₆₀(doc_id) mod 10⁶ · |stratum| < target · 10⁶ — all-bigint
    * arithmetic, no double ratios, so the kept set is bit-exactly
    * reproducible anywhere. Per-source counts are one tiny partial-agg
    * (|sources| rows, broadcast back onto the scan); the sample decision is
    * scan-side with zero extra shuffle, and the audit agg ships |sources|
    * rows. Linear at 100 TB.
    *
    * Output: per-source audit — stratum size, target, kept count (≈ uniform
    * across sources), kept-id checksum. */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val bySource = docs.groupBy($"source").agg(count(lit(1)).as("src_n"))
    val target = bySource.agg(min($"src_n").as("target_n"))
    docs.join(broadcast(bySource), "source").crossJoin(broadcast(target))
      .withColumn("h", md5Long60($"doc_id".cast(StringType)) % 1000000L)
      .where($"h" * $"src_n" < $"target_n" * 1000000L)
      .groupBy($"source")
      .agg(max($"src_n").as("src_n"), max($"target_n").as("target_n"),
        count(lit(1)).as("n_kept"), sum($"doc_id").as("id_checksum"))
      .orderBy($"source")
  }

  /** NS (LLM pipeline): deterministic uniform k-per-group sample — the
    * reproducible stand-in for reservoir sampling: rank every doc by a
    * salted content-independent hash of its id and keep the k smallest
    * per source. Re-running on the same corpus (or an engine swap)
    * selects the SAME sample, which is what eval-set carving and debug
    * slices need; a true random reservoir can't replay. The bounded
    * [[graft.functions.TopKRows]] aggregate ships ≤ k rows per (source,
    * partition) map-side — a row_number window would shuffle the whole
    * corpus to keep 5 rows per source. */
  def reservoirSample(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"source", $"doc_id",
        md5Long60(concat(lit("rsv:"), $"doc_id".cast(StringType))).as("h"))
      .groupBy($"source")
      .agg(graft.functions.top_k_rows(struct($"h", $"doc_id"), k).as("top"))
      .select($"source", posexplode($"top"))
      .select($"source", ($"pos" + 1).cast(IntegerType).as("rnk"),
        $"col.doc_id".as("doc_id"), $"col.h".as("h"))
      .orderBy($"source", $"rnk")
  }

  /** NS (LLM pipeline): per-source language-composition drift — L1
    * distance between each source's language distribution and the whole
    * corpus's, over the full source×lang grid (a language the source
    * LACKS still contributes its corpus share). The mixture-health
    * signal behind `source_mix`: a source whose composition drifts from
    * the corpus needs its own lang gates before its weight is trusted.
    * Cross-engine exact: each |p_src − p_corpus| term is one double
    * subtraction quantized to 2^-20 BEFORE the per-source sum, so
    * summation order can't matter. The grid is bounded (sources × langs,
    * both small dims) and broadcast; counts partial-aggregate. */
  def langDrift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val cnt = docs.groupBy($"source", $"lang").agg(count(lit(1)).as("n"))
    val bySrc = docs.groupBy($"source").agg(count(lit(1)).as("src_n"))
    val byLang = docs.groupBy($"lang").agg(count(lit(1)).as("lang_n"))
    val total = docs.agg(count(lit(1)).as("total_n"))
    val grid = bySrc.crossJoin(broadcast(byLang)).crossJoin(broadcast(total))
      .join(cnt, Seq("source", "lang"), "left_outer")
      .withColumn("n", coalesce($"n", lit(0L)))
    grid
      .withColumn("term_u20",
        floor(abs($"n".cast(DoubleType) / $"src_n"
          - $"lang_n".cast(DoubleType) / $"total_n") * 1048576.0 + 0.5)
          .cast(LongType))
      .groupBy($"source")
      .agg(max($"src_n").as("n_docs"),
        sum(($"n" > 0).cast(LongType)).as("n_langs_present"),
        sum($"term_u20").as("drift_u20"))
      .orderBy($"source")
  }

  /** NS (LLM pipeline): n-gram novelty scoring — for each document, the
    * fraction of its distinct word-3-grams whose FIRST corpus occurrence
    * (min doc_id over the gram) is this document. The curation signal
    * behind "is this page new content or a remix of what we already
    * have": low novelty late in a crawl ⇒ the doc adds nothing the
    * corpus hasn't seen (complementary to near-dup pairs, which need a
    * single close partner — novelty decays against the UNION of all
    * earlier docs).
    *
    * Scale: one gram-keyed shuffle for the first-occurrence argmin
    * (min partial-aggregates map-side) and one gram-keyed join back —
    * same key, so the exchange is reused, and nothing is ever
    * doc-quadratic. At 100 TB this is the same shape as the inverted
    * index build; the argmin side ships one long per distinct gram. */
  def ngramNovelty(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.documents(spark, dir)
      .select($"doc_id", explode(array_distinct(shingles($"text", 3))).as("gram"))
    val first = e.groupBy($"gram").agg(min($"doc_id").as("first_doc"))
    e.join(first, "gram")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(($"first_doc" === $"doc_id").cast(LongType)).as("n_novel"))
      .select($"doc_id", $"n_grams", $"n_novel",
        ($"n_novel".cast(DoubleType) / $"n_grams").as("novelty"))
      .orderBy($"doc_id")
  }

  /** NS: DSIR importance weights (Xie et al., arXiv:2302.03169 — data
    * selection via importance resampling): score every raw-corpus doc by
    * how much more likely its unigrams are under the TARGET distribution
    * (the benchmark docs, same doc_id ≡ 0 mod 50 set `decontaminate`
    * holds out) than under the raw corpus — the standing method for
    * carving a domain-matched subset out of a web crawl. Laplace-smoothed
    * unigram LMs on both sides: w(t) = ln[ (c_t+1)/(N_t+V) ÷
    * (c_r+1)/(N_r+V) ], per-token weight quantized to 2^-20 fixed point
    * BEFORE the per-doc sum (order-free integer arithmetic, libm's 1-ulp
    * absorbed — the `lm_score` discipline); positive mean ⇒ target-like.
    *
    * One explode feeds both sides' counts (conditional sums on the bench
    * flag); the vocabulary-bounded weight table joins back on token; the
    * 1-row (N_t, N_r, V) totals broadcast. Nothing shuffles more than
    * (doc, token) occurrences — the same plan at 100 TB. */
  def dsirWeights(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = TextAnalysis.docTokens(spark, dir)
      .select($"doc_id", ($"doc_id" % 50 === 0).as("is_bench"),
        explode($"toks").as("tok"))
    val perTok = toks.groupBy($"tok")
      .agg(sum(when($"is_bench", 1L).otherwise(0L)).as("ct"),
        sum(when($"is_bench", 0L).otherwise(1L)).as("cr"))
    val totals = perTok.agg(
      (sum($"ct") + count(lit(1))).cast(DoubleType).as("ntv"),
      (sum($"cr") + count(lit(1))).cast(DoubleType).as("nrv"))
    val u20 = floor(
      log(($"ct" + 1).cast(DoubleType) * $"nrv" /
        (($"cr" + 1).cast(DoubleType) * $"ntv")) * 1048576.0 + 0.5)
      .cast(LongType)
    toks.where(!$"is_bench")
      .join(perTok, "tok")
      .crossJoin(broadcast(totals))
      .select($"doc_id", u20.as("u20"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum($"u20").as("sum_w_u20"))
      .select($"doc_id", $"n_tokens", $"sum_w_u20",
        ($"sum_w_u20".cast(DoubleType) / $"n_tokens".cast(DoubleType))
          .as("avg_w_u20"),
        when($"sum_w_u20" > 0, 1).otherwise(0).as("target_like"))
      .orderBy($"doc_id")
  }

  /** NS (LLM pipeline): token-budget allocation across sources — the
    * waterfilling planner behind "train on B tokens, as uniform across
    * sources as supply allows": round 1 gives every source
    * min(available, B div n_sources); round 2 redistributes the surplus
    * equally among the sources that still have supply (the 2-round
    * truncation IS the declared contract — deterministic, integer-exact,
    * and within n_sources tokens of the fixed point). Everything after
    * the per-source token count is arithmetic over the |sources|-row
    * frame with two 1-row scalar broadcasts — the planner costs one
    * corpus aggregate at any scale. */
  def tokenBudget(spark: SparkSession, dir: String,
      budget: Long = 1000000L): DataFrame = {
    import spark.implicits._
    val per = Tables.documents(spark, dir)
      .select($"source",
        size(TextAnalysis.tokens($"text")).cast(LongType).as("toks"))
      .groupBy($"source").agg(sum($"toks").as("avail"))
    val n1 = per.agg(count(lit(1)).as("n_sources"))
    val a1 = per.crossJoin(broadcast(n1))
      .withColumn("fair1", expr(s"$budget div n_sources"))
      .withColumn("alloc1", least($"avail", $"fair1"))
    val t1 = a1.agg(sum($"alloc1").as("used"),
      sum(when($"avail" > $"fair1", 1L).otherwise(0L)).as("n_unsat"))
    a1.crossJoin(broadcast(t1))
      .withColumn("alloc2", when($"avail" > $"fair1",
        least($"avail" - $"alloc1",
          expr(s"($budget - used) div greatest(n_unsat, 1)")))
        .otherwise(0L))
      .select($"source", $"avail",
        ($"alloc1" + $"alloc2").as("allocated"),
        ($"avail" <= $"fair1").as("saturated"),
        (($"alloc1" + $"alloc2").cast(DoubleType) /
          $"avail".cast(DoubleType)).as("sample_rate"))
      .orderBy($"source")
  }

  /** NS (LLM pipeline): the END-TO-END curation funnel as ONE declarative
    * plan — the composition a training-data run actually executes, with
    * per-stage survivor doc/token counts (the report that justifies every
    * deleted byte):
    *   1. quality gates (repetition ∧ entropy ∧ bigram-LM, all three
    *      memoized gate frames — shared with their own queries),
    *   2. exact dedup among quality survivors (min-doc keeper per
    *      content md5),
    *   3. near-dup cluster dedup (min SURVIVING doc per simhash CC
    *      cluster — reusing the memoized star-contraction labels).
    * Every stage is a flag column on one doc-keyed frame, so the funnel
    * is a single linear pass + the bounded joins its inputs already pay;
    * nothing is re-scanned per stage. At 100 TB this is the plan you'd
    * submit nightly: gates and labels come from persisted staging tables
    * and the funnel itself is one job. */
  def corpusPipeline(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val q = qualityGated(funnelBase(Tables.documents(spark, dir)),
      TextAnalysis.repetitionFrame(spark, dir),
      TextAnalysis.entropyFrame(spark, dir), lmFrame(spark, dir))
    val exactKeepers = q.where($"q_keep")
      .groupBy($"h").agg(min($"doc_id").as("e_keeper"))
    val q2 = q.join(exactKeepers, Seq("h"), "left_outer")
      .withColumn("e_keep", $"q_keep" && $"doc_id" === $"e_keeper")
    val q3 = q2.join(DocDedup.dedupClusters(spark, dir), Seq("doc_id"))
    val clusterKeepers = q3.where($"e_keep")
      .groupBy($"cluster_id").agg(min($"doc_id").as("c_keeper"))
    stageCounts(q3.join(clusterKeepers, Seq("cluster_id"), "left_outer")
        .withColumn("c_keep", $"e_keep" && $"doc_id" === $"c_keeper"),
      ("n_docs", "n_tokens"), ("n_neardup", "tok_neardup"))
  }

  /** `(doc_id, h, n_toks)` of a `(doc_id, text)` frame: the content hash
    * exact dedup keys on and the token mass every stage count sums. */
  private def funnelBase(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), md5(col("text")).as("h"),
      size(tokens(col("text"))).cast(LongType).as("n_toks"))

  /** The quality stage of both funnels: `base` left-joined with the
    * repetition, entropy and bigram-LM gate frames, with `q_keep` set
    * where no gate flags the doc. */
  private def qualityGated(base: DataFrame, rep: DataFrame, ent: DataFrame,
      lm: DataFrame): DataFrame =
    base
      .join(rep.select(col("doc_id"), col("repetitive")), Seq("doc_id"), "left_outer")
      .join(ent.select(col("doc_id"), col("flagged").as("ent_f")), Seq("doc_id"),
        "left_outer")
      .join(lm.select(col("doc_id"), col("flagged").as("lm_f")), Seq("doc_id"),
        "left_outer")
      .withColumn("q_keep",
        coalesce(col("repetitive"), lit(0)) === 0 &&
          coalesce(col("ent_f"), lit(0)) === 0 &&
          coalesce(col("lm_f"), lit(0)) === 0)

  /** The 1-row funnel report over a doc frame flagged `q_keep` / `e_keep`
    * / `c_keep`: docs and tokens in (named `in`), then the survivors of
    * the quality, exact-dedup and near-dup stages (the last named `out`). */
  private def stageCounts(df: DataFrame, in: (String, String),
      out: (String, String)): DataFrame =
    df.agg(
      count(lit(1)).as(in._1), sum(col("n_toks")).as(in._2),
      sum(when(col("q_keep"), 1L).otherwise(0L)).as("n_quality"),
      sum(when(col("q_keep"), col("n_toks")).otherwise(0L)).as("tok_quality"),
      sum(when(col("e_keep"), 1L).otherwise(0L)).as("n_exact"),
      sum(when(col("e_keep"), col("n_toks")).otherwise(0L)).as("tok_exact"),
      sum(when(col("c_keep"), 1L).otherwise(0L)).as(out._1),
      sum(when(col("c_keep"), col("n_toks")).otherwise(0L)).as(out._2))

  /** NS (LLM pipeline): the INCREMENTAL ingest funnel — what a daily
    * crawl batch actually runs, where [[corpusPipeline]] is the
    * full-corpus backfill: the new batch (the `minhash_incremental`
    * split, [[DocDedup.isNewDoc]]) as ONE batch of [[ingestFunnel]]
    * against the persisted [[corpusIndex]], with nothing seen before it.
    * The streaming twin `corpus_funnel_stream` feeds the same slice as N
    * micro-batches through the same function and must report the same
    * counts. Emits the per-stage batch survivor counts (docs + tokens) —
    * the daily ingest report. */
  def corpusPipelineIncremental(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    ingestFunnel(corpusIndex(spark, dir), Seq.empty[String].toDF("h"),
      DocDedup.newBatch(spark, dir))._1
  }

  /** The persisted artifacts the daily ingest funnel probes, built ONCE
    * from the corpus and cached in [[FrameMemo.shared]] (filled by the
    * first query that reads them, so referencing them runs no job): the
    * index's content hashes (exact-dedup probe side), the index's
    * band-exploded MinHash signatures (near-dup probe side), and the
    * corpus-trained bigram LM model (the quality-gate artifact — trained
    * on the full fixture corpus, matching [[lmFrame]]'s training set so
    * stream and batch gate verdicts agree exactly). At 100 TB each member is a
    * persisted staging table; nothing here is rebuilt per batch. */
  final case class CorpusIndex(hashes: DataFrame, bands: DataFrame,
      lmBg: DataFrame, lmW1: DataFrame)

  /** [[CorpusIndex]] for `dir`'s corpus with the `minhash_incremental`
    * split: the index is every doc outside [[DocDedup.isNewDoc]]. */
  def corpusIndex(spark: SparkSession, dir: String): CorpusIndex = {
    import spark.implicits._
    // lazy: a memo hit loads nothing (a parquet load runs a schema job)
    lazy val docs = Tables.documents(spark, dir).select($"doc_id", $"text")
    lazy val idxDocs = docs.where(!DocDedup.isNewDoc($"doc_id"))
    lazy val (bg, w1) = lmModel(docs)
    CorpusIndex(
      FrameMemo.shared.cached(spark, dir, "index_hashes")(
        idxDocs.select(md5($"text").as("h")).distinct()),
      FrameMemo.shared.cached(spark, dir, "index_bands")(
        DocDedup.bandFrameOf(idxDocs)),
      FrameMemo.shared.cached(spark, dir, "index_lm_bg")(bg),
      FrameMemo.shared.cached(spark, dir, "index_lm_w1")(w1))
  }

  /** Near-dup cut of the ingest funnel: an arriving doc is dropped when
    * some index doc's estimated Jaccard reaches 1/2 (a k/16 dyadic, so the
    * cut is boundary-exact in any engine). */
  private val NearDupJaccard = 0.5

  /** One batch of `(doc_id, text)` arrivals through the ingest funnel
    * against the persisted index — the one funnel behind both
    * [[corpusPipelineIncremental]] (one batch) and its `foreachBatch`
    * stream twin (one call per micro-batch):
    *
    *  1. quality gates scored FROM THE ARRIVING TEXT (repetition and
    *     entropy are per-doc pure; the LM gate probes the persisted
    *     corpus-trained model),
    *  2. exact dedup against the index hashes AND `seenQ` — the content
    *     hashes of quality-passing docs from earlier batches, the
    *     funnel's only cross-batch state. First-keeper-wins over a
    *     doc_id-ordered feed reproduces the batch min-keeper rule. The
    *     seen-hash join carries no hint: the state grows with stream
    *     lifetime, so AQE picks the broadcast at runtime,
    *  3. near-dup band probe of the batch signatures (broadcast) against
    *     the index band frame at estimated Jaccard ≥ [[NearDupJaccard]].
    *
    * Returns two lazy frames, built without running a job: the 1-row
    * stage-count report and this batch's q_keep hashes (to fold into
    * `seenQ`). The batch keeper is a window over the h-keyed probe joins,
    * so the report reads the gate frame `q` once. */
  private[graft] def ingestFunnel(idx: CorpusIndex, seenQ: DataFrame,
      batch: DataFrame): (DataFrame, DataFrame) = {
    val q = qualityGated(funnelBase(batch), TextAnalysis.repetitionFrameOf(batch),
      TextAnalysis.entropyFrameOf(batch), lmScore(batch, idx.lmBg, idx.lmW1))
    val nearHits = DocDedup.probePairs(idx.bands, DocDedup.bandFrameOf(batch))
      .where(col("est_jaccard") >= NearDupJaccard)
      .select(col("new_doc").as("doc_id")).distinct()
      .withColumn("near_hit", lit(1))
    val flagged = q
      .join(idx.hashes.withColumn("in_index", lit(1)), Seq("h"), "left_outer")
      .join(seenQ.withColumn("seen_q", lit(1)), Seq("h"), "left_outer")
      .withColumn("e_keep", col("q_keep") && col("in_index").isNull &&
        col("seen_q").isNull && col("doc_id") ===
          min(when(col("q_keep"), col("doc_id"))).over(Window.partitionBy(col("h"))))
      .join(nearHits, Seq("doc_id"), "left_outer")
      .withColumn("c_keep", col("e_keep") && col("near_hit").isNull)
    (stageCounts(flagged, ("n_batch", "tok_batch"), ("n_ingest", "tok_ingest")),
      q.where(col("q_keep")).select(col("h")))
  }

  /** NS (LLM pipeline): temperature-scaled source mixture — the standard
    * multilingual/multi-source mixing rule (weight ∝ p^α, here α = 0.7):
    * flattens the natural source distribution so low-resource sources are
    * upsampled without letting any source dominate. Both engines compute
    * the power as `exp(α·ln p)` over exact bigint-ratio inputs (the same
    * one-transcendental discipline as the PMI/tf-idf logs), quantized to
    * 2^-20 fixed point before the weight normalization so the final
    * shares divide exact integers. `upsampled` flags sources whose
    * temperature share exceeds their natural share. Plan: one corpus
    * aggregate to |sources| rows + two 1-row scalar broadcasts — linear
    * at 100 TB. */
  def mixtureTemperature(spark: SparkSession, dir: String,
      alpha: Double = 0.7): DataFrame = {
    import spark.implicits._
    val FP = 1048576.0 // 2^20
    val per = TextAnalysis.docTokens(spark, dir)
      .select($"source",
        org.apache.spark.sql.functions.size($"toks").cast(LongType).as("toks"))
      .groupBy($"source").agg(sum($"toks").as("src_tokens"))
    val tot = per.agg(sum($"src_tokens").as("total_tokens"))
    val p = $"src_tokens".cast(DoubleType) / $"total_tokens".cast(DoubleType)
    val w = per.crossJoin(broadcast(tot))
      .withColumn("p_u20", floor(p * FP + 0.5).cast(LongType))
      .withColumn("w_u20", floor(exp(log(p) * alpha) * FP + 0.5).cast(LongType))
    val wt = w.agg(sum($"w_u20").as("w_total"))
    w.crossJoin(broadcast(wt))
      .select($"source", $"src_tokens", $"p_u20", $"w_u20",
        floor($"w_u20".cast(DoubleType) / $"w_total".cast(DoubleType) * FP + 0.5)
          .cast(LongType).as("share_u20"))
      .withColumn("upsampled", $"share_u20" > $"p_u20")
      .orderBy($"source")
  }

  /** NS (LLM pipeline): curriculum ordering manifest — the corpus in
    * global easy→hard order (difficulty proxy: `n_chars`, the classic
    * length curriculum) cut into `phases` equal training phases. The
    * global order comes from [[Scale.withGlobalRank]] (range partitions
    * + broadcast per-partition offsets in one plan, no driver collect —
    * ordering 100 TB of documents is exactly the workload a single-task
    * `row_number` window dies on) and the phase cut from
    * [[Scale.ntileFromRank]] over the rank plan's total-count column,
    * bit-identical to SQL `ntile`.
    * Emits the per-phase manifest (doc counts, char mass, length band)
    * a training scheduler consumes; the ranked frame itself is what
    * you'd hand to the shard writer. */
  def curriculumOrder(spark: SparkSession, dir: String,
      phases: Int = 8): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select($"doc_id", $"n_chars")
    val ranked = Scale.withGlobalRank(docs, "rk", "_n",
      Seq($"n_chars", $"doc_id"))
    ranked
      .withColumn("phase", Scale.ntileFromRank($"rk", $"_n", phases))
      .groupBy($"phase")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"),
        min($"n_chars").as("min_chars"), max($"n_chars").as("max_chars"))
      .orderBy($"phase")
  }

  /** NS (LLM pipeline): deterministic WEIGHTED k-per-group sample —
    * Efraimidis–Spirakis A-ES: draw an Exp(w) key per doc
    * (`-ln(u)/w`, here w = `n_chars`, u a salted md5 uniform) and keep
    * the k SMALLEST keys per source; inclusion probability is then
    * proportional to weight without replacement — the "sample long docs
    * more" knob mixture planners need, but replayable (same corpus →
    * same sample on any engine or partitioning, unlike an RNG draw).
    * u = (md5₆₀+1)/2^60: the 60-bit hash exceeds double precision, so
    * the BIGINT→DOUBLE cast rounds — but round-to-nearest is IEEE-
    * mandated and identical in both engines, so the one transcendental
    * sees bit-identical input; the key is quantized to 2^-20 fixed
    * point AFTER it, making selection order (key, doc_id) engine-exact. Bounded [[graft.functions.TopKRows]] partials ship
    * ≤ k rows per (source, partition) map-side — no window, no full
    * shuffle. Linear at 100 TB. */
  def weightedSample(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    import spark.implicits._
    val twoPow60 = 1152921504606846976.0 // 2^60
    Tables.documents(spark, dir)
      .where($"n_chars" > 0)
      .select($"source", $"doc_id", $"n_chars",
        floor(-log((md5Long60(concat(lit("ws:"), $"doc_id".cast(StringType)))
            .cast(DoubleType) + 1.0) / twoPow60)
          / $"n_chars".cast(DoubleType) * 1048576.0 + 0.5)
          .cast(LongType).as("key_u20"))
      .groupBy($"source")
      .agg(graft.functions.top_k_rows(
        struct($"key_u20", $"doc_id", $"n_chars"), k).as("top"))
      .select($"source", posexplode($"top"))
      .select($"source", ($"pos" + 1).cast(IntegerType).as("rnk"),
        $"col.doc_id".as("doc_id"), $"col.n_chars".as("n_chars"),
        $"col.key_u20".as("key_u20"))
      .orderBy($"source", $"rnk")
  }

  /** NS (LLM pipeline): Zipf-law fit over the head of the vocabulary —
    * the one-number corpus-health diagnostic (natural text sits near
    * slope −1; a slope far off means boilerplate floods or tokenizer
    * damage). OLS of ln(freq) on ln(rank) over the top-`topK` terms,
    * with both logs quantized to 2^-12 fixed point BEFORE summing so
    * every aggregate is exact integer arithmetic (double partial sums
    * would be partition-order-dependent; the 2^12 scale keeps
    * k·Σxy < 2^53 even at a 100 TB corpus's frequencies). The head is a
    * bounded `orderBy.limit(topK)` (TakeOrdered — map-side top-k
    * partials, never a vocabulary-wide sort), and the rank window runs
    * over those topK rows only (PlanSpec-allowlisted, limit-bounded by
    * construction). Slope and r² are emitted in 2^-20 fixed point from
    * single IEEE divisions of exact integers. */
  def zipfSlope(spark: SparkSession, dir: String, topK: Int = 1024): DataFrame = {
    import spark.implicits._
    val FP = 4096.0 // 2^12
    val top = TextAnalysis.docTokens(spark, dir)
      .select(explode($"toks").as("w"))
      .groupBy($"w").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"w").limit(topK)
    val q = top
      .withColumn("rk", row_number().over(Window.orderBy($"n".desc, $"w")))
      .select(
        floor(log($"rk".cast(DoubleType)) * FP + 0.5).cast(LongType).as("x"),
        floor(log($"n".cast(DoubleType)) * FP + 0.5).cast(LongType).as("y"))
    val s = q.agg(count(lit(1)).as("k"),
      sum($"x").as("sx"), sum($"y").as("sy"),
      sum($"x" * $"y").as("sxy"), sum($"x" * $"x").as("sxx"),
      sum($"y" * $"y").as("syy"))
    val num  = $"k" * $"sxy" - $"sx" * $"sy"
    val denx = $"k" * $"sxx" - $"sx" * $"sx"
    val deny = $"k" * $"syy" - $"sy" * $"sy"
    s.select($"k".as("n_terms"),
      floor(num.cast(DoubleType) / denx.cast(DoubleType) * 1048576.0 + 0.5)
        .cast(LongType).as("slope_u20"),
      floor(num.cast(DoubleType) * num.cast(DoubleType)
          / (denx.cast(DoubleType) * deny.cast(DoubleType)) * 1048576.0 + 0.5)
        .cast(LongType).as("r2_u20"))
  }
}
