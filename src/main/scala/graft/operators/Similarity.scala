package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** Similarity search over the `embeddings` table (64-dim float vectors):
  * brute-force cosine top-k as the exact baseline, random-hyperplane LSH
  * bucketing as the 100 TB scale path (bucket join instead of all-pairs),
  * and the IVF / PQ index family over a plan-time literal codebook.
  * Dot products are the codegen'd `vector_dot` expression ([[dot]]): a
  * sequential left fold over the array in double precision —
  * deterministic order, no UDF.
  */
object Similarity {

  /** Σ aᵢ·bᵢ as an ordered left fold in double precision — the codegen'd
    * [[graft.functions.VectorDot]]; bit-identical to the
    * `aggregate(zip_with(...))` HOF form it replaced, ~10× faster. */
  def dot(a: Column, b: Column): Column = graft.functions.vector_dot(a, b)

  def norm2(a: Column): Column = dot(a, a)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(norm2(a)) * sqrt(norm2(b)))

  /** Exact brute-force cosine top-10 against the probe vector (vec_id 0).
    * Linear scan + TakeOrderedAndProject: shardable over any number of
    * executors, k-row result merge — the correct exact-kNN plan at scale.
    */
  def similaritySearch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val probe = emb.filter($"vec_id" === 0).select($"embedding".as("p"))
    emb.crossJoin(broadcast(probe))
      .select($"vec_id", $"label", cosine($"embedding", $"p").as("score"))
      .where($"vec_id" =!= 0)
      .orderBy($"score".desc, $"vec_id")
      .limit(10)
  }

  /** NS (LLM pipeline): hard-negative mining for contrastive training —
    * for each probe (vec_id < 8), the top-3 nearest embeddings with a
    * DIFFERENT label: nearest-wrong-class is exactly the gradient-rich
    * negative a contrastive/triplet objective wants batched next to its
    * anchor. Plan: the 8-row probe frame broadcasts onto ONE linear scan
    * (bounded nested loop, the `similarity_search` shape × 8), and the
    * per-probe top-k runs as the `top_k_rows` partial aggregate — k rows
    * per (probe, partition) cross the shuffle, never the scored corpus.
    * At 100 TB: one pass over the embeddings, 24-row merge. */
  def contrastiveNegatives(spark: SparkSession, dir: String,
      k: Int = 3): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val probes = emb.where($"vec_id" < 8)
      .select($"vec_id".as("p_id"), $"label".as("p_label"),
        $"embedding".as("pe"))
    emb.crossJoin(broadcast(probes))
      .where($"label" =!= $"p_label")
      .groupBy($"p_id")
      .agg(graft.functions.top_k_rows(
        struct((-cosine($"embedding", $"pe")).as("neg_score"),
          $"vec_id", $"label"), k).as("top"))
      .select($"p_id", posexplode($"top"))
      .select($"p_id", ($"pos" + 1).cast(IntegerType).as("rnk"),
        $"col.vec_id".as("neg_vec_id"), $"col.label".as("neg_label"),
        (-$"col.neg_score").as("score"))
      .orderBy($"p_id", $"rnk")
  }

  /** Signed random-hyperplane bit for plane j: sign of Σ_d w(j,d)·v_d with
    * integer weights w(j,d) = md5_28("hp:j:d") mod 2001 − 1000 — a
    * deterministic pseudo-random hyperplane reproducible in any engine.
    * The weights are constants, so they're materialized at PLAN time (one
    * md5 per (j,d) total) and embedded as a literal array — the per-row
    * work is a single codegen'd dot product, not 64 md5 calls. */
  private def planeWeights(j: Int, dims: Int): Array[Double] =
    Array.tabulate(dims) { d =>
      (graft.functions.Md5Long.hash(s"hp:$j:$d".getBytes("UTF-8"), 7) % 2001 - 1000).toDouble
    }

  private def planeBit(v: Column, j: Int, dims: Int): Column =
    when(dot(v, lit(planeWeights(j, dims))) > 0, 1L).otherwise(0L)

  /** LSH bucket id (8 hyperplanes → 256 buckets) per vector. */
  def lshBucket(v: Column, planes: Int = 8, dims: Int = 64): Column =
    (0 until planes).map(j => planeBit(v, j, dims) * (1L << j)).reduce(_ + _)

  /** ANN index statistics: vectors per LSH bucket. This is the partition
    * histogram one watches at 100 TB — skewed buckets mean a bad hyperplane
    * draw; re-seed by changing the "hp:" salt. */
  def annLshBuckets(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.embeddings(spark, dir)
      .withColumn("bucket", lshBucket($"embedding"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_vectors"),
        min($"vec_id").as("min_vec_id"), max($"vec_id").as("max_vec_id"))
      .orderBy($"bucket")
  }

  /** ANN query path: cosine top-5 against the probe, restricted to the
    * probe's own LSH bucket (4 planes → 16 buckets, recall/cost knob).
    * The bucket equi-join replaces the full scan of `similaritySearch`. */
  def annLshSearch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
      .withColumn("bucket", lshBucket($"embedding", planes = 4))
    val probe = emb.filter($"vec_id" === 0)
      .select($"embedding".as("p"), $"bucket".as("pbucket"))
    emb.join(broadcast(probe), $"bucket" === $"pbucket")
      .where($"vec_id" =!= 0)
      .select($"vec_id", $"label", $"bucket", cosine($"embedding", $"p").as("score"))
      .orderBy($"score".desc, $"vec_id")
      .limit(5)
  }

  /** NS: multi-probe LSH search — the standard recall/cost middle ground
    * between one-bucket lookup ([[annLshSearch]]) and more hash tables:
    * probe the query's own 4-plane bucket PLUS the 4 neighbors that flip
    * exactly one plane bit (the most likely buckets for a near neighbor
    * that landed on the other side of one hyperplane). Candidate set is
    * 5 of 16 buckets via a broadcast `isin` on plan-time-constant probe
    * buckets — still an equi-filter scan + TakeOrdered, never all-pairs. */
  def annMultiprobe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val planes = 4
    val emb = Tables.embeddings(spark, dir)
      .withColumn("bucket", lshBucket($"embedding", planes = planes))
    val probe = emb.filter($"vec_id" === 0)
      .select($"embedding".as("p"), $"bucket".as("pbucket"))
    val withProbes = emb.crossJoin(broadcast(probe))
      .withColumn("probes", array(
        (Seq($"pbucket") ++
          (0 until planes).map(j => $"pbucket".bitwiseXOR(lit(1L << j)))): _*))
    withProbes
      .where(array_contains($"probes", $"bucket") && $"vec_id" =!= 0)
      .select($"vec_id", $"label", $"bucket",
        cosine($"embedding", $"p").as("score"))
      .orderBy($"score".desc, $"vec_id")
      .limit(5)
  }

  /** The IVF codebook size: 16 seed centroids, the first 16 vectors by
    * `vec_id` — deterministic and oracle-able; a production deployment
    * would k-means-train them offline and ship the trained codebook
    * exactly the same way. */
  private val IvfCells = 16

  /** Left-fold double dot product — the driver-side twin of
    * [[graft.functions.VectorDot]], bit-identical accumulation order so
    * plan-time codebook math matches the per-row expression exactly. */
  private def dotD(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
    acc
  }

  /** The (cell_id, centroid) codebook: bounded (k rows), read through a
    * pushdown-pruned scan at plan time. */
  private[graft] def codebook(spark: SparkSession, dir: String,
      k: Int = IvfCells): Array[(Long, Array[Float])] = {
    import spark.implicits._
    Tables.embeddings(spark, dir)
      .filter($"vec_id" < k)
      .select($"vec_id", $"embedding")
      .as[(Long, Array[Float])]
      .collect()
      .sortBy(_._1)
  }

  /** IVF (inverted-file) cell assignment: (vec_id, label, embedding,
    * cell_id, score), each vector's nearest centroid by cosine, ties to the
    * lowest cell id. The codebook is collected ONCE at plan time and
    * embedded as literals, so the assignment is a single map-side argmax
    * expression — zero shuffle, zero fan-out, one linear scan, the FAISS
    * IVF-Flat shape. Two forms by codebook size:
    *
    *  - k ≤ 64: `array_max` over k unrolled (score, −cell_id) structs —
    *    fully whole-stage-codegen'd (the shipped-tier k=16 plan,
    *    unchanged);
    *  - k > 64 (the adaptive-k tiers): the SAME max as an `aggregate`
    *    fold over ONE `typedlit` codebook array — the unrolled form
    *    generates an O(k) Java method that breaks janino's 64 KB limit
    *    at k=256 (measured at sf1: codegen compile failure → interpreted
    *    fallback), while the fold form stays a loop. Max over a TOTAL
    *    order ((score, −cid) lexicographic, ties impossible to conflate)
    *    is fold-order-independent, so both forms pick the identical cell
    *    with the identical score bits.
    *
    * An empty codebook (an empty `embeddings`) assigns nothing: 0 rows,
    * as the SQL twins' join against an empty centroid set. */
  private[graft] def ivfAssigned(spark: SparkSession, dir: String,
      cents: Array[(Long, Array[Float])]): DataFrame = {
    import spark.implicits._
    val selfNorm = sqrt(norm2($"embedding"))
    val best = if (cents.isEmpty) {
      lit(null).cast("struct<score: double, neg_cell: bigint>")
    } else if (cents.length <= 64) {
      val scored = cents.map { case (cid, ce) =>
        val ceNorm = math.sqrt(dotD(ce, ce))
        struct((dot($"embedding", lit(ce)) / (selfNorm * lit(ceNorm))).as("score"),
          lit(-cid).as("neg_cell"))
      }
      array_max(array(scored.toIndexedSeq: _*))
    } else {
      val catalog = typedlit(cents.map { case (cid, ce) =>
        (cid, ce.toSeq, math.sqrt(dotD(ce, ce)))
      }.toSeq)
      aggregate(
        catalog,
        struct(lit(Double.NegativeInfinity).as("score"),
          lit(Long.MinValue).as("neg_cell")),
        (acc, c) => {
          val score = dot($"embedding", c.getField("_2")) /
            (selfNorm * c.getField("_3"))
          val negCell = -c.getField("_1")
          when(score > acc.getField("score") ||
              (score === acc.getField("score") &&
                negCell > acc.getField("neg_cell")),
            struct(score.as("score"), negCell.as("neg_cell")))
            .otherwise(acc)
        })
    }
    val emb = Tables.embeddings(spark, dir)
    (if (cents.isEmpty) emb.limit(0) else emb)
      .select($"vec_id", $"label", $"embedding",
        (-best.getField("neg_cell")).as("cell_id"),
        best.getField("score").as("score"))
  }

  /** The eval probes of every recall/nDCG query: vec_id < 8. */
  private val EvalProbes = 8

  /** The eval probes of `frame` as (p_id, pe, extra…): `pe` is the probe's
    * `vec` column. The 8-row broadcast side of every eval; its filter on
    * the bare `vec_id` is what PlanSpec's broadcast pin accepts. */
  private def evalProbes(frame: DataFrame, vec: String,
      extra: Column*): DataFrame =
    frame.where(col("vec_id") < EvalProbes)
      .select(Seq(col("vec_id").as("p_id"), col(vec).as("pe")) ++ extra: _*)

  /** Runs a probe query over the probe vectors of the collected codebook
    * (the search probe `_ == 0`, or the eval probes `_ < EvalProbes`).
    * With none — an empty `embeddings`, or one without those ids — the
    * answer is 0 rows, as in the SQL twins, whose probe joins come up
    * empty: the query is planned over a zero vector and emptied, so its
    * schema holds. */
  private def withProbes(cents: Array[(Long, Array[Float])], isProbe: Long => Boolean)(
      query: Array[(Long, Array[Float])] => DataFrame): DataFrame = {
    val probes = cents.filter(c => isProbe(c._1))
    if (probes.nonEmpty) query(probes)
    else query(Array((0L, new Array[Float](PqM * PqDims)))).limit(0)
  }

  /** Probe→cell ranking, all driver-side arithmetic on the collected
    * codebook in the row expression's fold order: each probe's `nprobe`
    * nearest cells by cosine, ties to the lower cell id, as
    * (p_id, cell_id, rank from 1) — the SQL twins' `row_number()` over
    * the probe's codebook scores, bit for bit. */
  private[graft] def probeCells(cents: Array[(Long, Array[Float])],
      probes: Array[(Long, Array[Float])], nprobe: Int): Seq[(Long, Long, Int)] =
    probes.toSeq.flatMap { case (pid, pe) =>
      val pNorm = math.sqrt(dotD(pe, pe))
      cents.toSeq
        .map { case (cid, ce) =>
          (dotD(pe, ce) / (pNorm * math.sqrt(dotD(ce, ce))), cid) }
        .sortBy { case (score, cid) => (-score, cid) }
        .take(nprobe).zipWithIndex
        .map { case ((_, cid), i) => (pid, cid, i + 1) }
    }

  /** NS (LLM pipeline): label purity of the IVF cells — for each cell,
    * the majority ground-truth label's share (argmax over per-(cell,
    * label) counts, ties to the lowest label). THE clustering-eval
    * number: high purity means the geometric cells recover the semantic
    * classes and a cell-restricted scan (ANN, SemDeDup) rarely crosses
    * class boundaries; low purity means the codebook needs retraining
    * before cell-local decisions can be trusted. Two bounded-key
    * shuffles (cells × labels, then cells), both partial-aggregated;
    * purity is one terminal division of exact counts. */
  def clusterPurity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val perLabel = ivfAssigned(spark, dir, codebook(spark, dir))
      .groupBy($"cell_id", $"label")
      .agg(count(lit(1)).as("n"))
    perLabel.groupBy($"cell_id")
      .agg(sum($"n").as("n_vectors"),
        max(struct($"n", (-$"label").as("nl"))).as("m"),
        count(lit(1)).as("n_labels"))
      .select($"cell_id", $"n_vectors", $"n_labels",
        (-$"m.nl").cast(IntegerType).as("majority_label"),
        $"m.n".as("majority_n"),
        ($"m.n".cast(DoubleType) / $"n_vectors").as("purity"))
      .orderBy($"cell_id")
  }

  /** IVF index statistics: vectors per cell + summed assignment cosine
    * (cell cohesion, decimal-summed for order-insensitive exactness) —
    * the histogram that tells you whether the codebook needs retraining
    * (empty/overfull cells). One shuffle total (the 16-group cell agg). */
  def annIvfCells(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    ivfAssigned(spark, dir, codebook(spark, dir))
      .groupBy($"cell_id")
      .agg(count(lit(1)).as("n_vectors"),
        min($"vec_id").as("min_vec_id"), max($"vec_id").as("max_vec_id"),
        sum($"score".cast(DecimalType(27, 12))).cast(DoubleType).as("sum_cos"))
      .orderBy($"cell_id")
  }

  /** IVF query path: rank the probe (vec_id 0) against the codebook
    * ([[probeCells]]), take its nprobe=2 nearest cells, scan ONLY vectors
    * assigned to those cells, cosine top-5. The whole plan is scan →
    * filter → TakeOrdered: no join, no shuffle, no window. At 100 TB with
    * a trained codebook this reads nprobe/cells of the corpus instead of
    * all of it; recall is tuned by nprobe as in FAISS-style IVF-Flat. */
  def annIvfSearch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cents = codebook(spark, dir)
    withProbes(cents, _ == 0L) { probes =>
      val probe = probes.head._2
      val pNorm = math.sqrt(dotD(probe, probe))
      ivfAssigned(spark, dir, cents)
        .where($"cell_id".isin(probeCells(cents, probes, 2).map(_._2): _*) &&
          $"vec_id" =!= 0)
        .select($"vec_id", $"label", $"cell_id",
          (dot($"embedding", lit(probe)) / (sqrt(norm2($"embedding")) * lit(pNorm)))
            .as("score"))
        .orderBy($"score".desc, $"vec_id")
        .limit(5)
    }
  }

  // ---- Product quantization (the compression half of FAISS-style IVF-PQ) ----

  private val PqM = 8    // subspaces
  private val PqDims = 8 // dims per subspace (8×8 = 64)

  /** The seed codebook widened to the double matrix the PQ kernels take. */
  private def pqCodebook(cents: Array[(Long, Array[Float])]): Array[Array[Double]] =
    cents.map(_._2.map(_.toDouble))

  /** Each row's ADC distance to `probe`: the integer sum, by the row's
    * PQ code, of the probe's lookup tables — per subspace, its
    * 2^-20-quantized L2² to every centroid, built driver-side with the
    * left fold and float→double widening of
    * [[graft.functions.PqKernel.subDist]], so bit-identical to the row
    * kernel. `cb` is [[pqCodebook]] of `cents`. */
  private def adcDist(cents: Array[(Long, Array[Float])],
      cb: Array[Array[Double]], probe: Array[Float]): Column = {
    val tables = Array.tabulate(PqM) { m =>
      cents.map { case (_, ce) =>
        graft.functions.PqKernel.quantU20((0 until PqDims).foldLeft(0.0) { (s, d) =>
          val diff = probe(m * PqDims + d).toDouble - ce(m * PqDims + d).toDouble
          s + diff * diff
        })
      }
    }
    graft.functions.pq_adc(col("embedding"), cb, tables, PqDims)
  }

  /** NS: product-quantization index build — every vector compressed to
    * M=8 one-byte codes (64 floats → 8 bytes, 32×), using the same seed
    * codebook rows the IVF queries use (vec_id < 16; sub-vector m of
    * centroid c quantizes subspace m). Emits per-vector codes + the total
    * quantization error, per-subspace errors quantized to 2^-20 BEFORE
    * the sum (order-free integer arithmetic, same scheme as
    * `embedding_centroids`). Zero shuffle: the codebook is a plan-time
    * literal, assignment is a per-row argmin expression — at 100 TB this
    * is one linear scan writing the 8-byte codes a PQ index stores. */
  def pqCodes(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cb = pqCodebook(codebook(spark, dir))
    Tables.embeddings(spark, dir)
      .select($"vec_id",
        graft.functions.pq_encode($"embedding", cb, PqM, PqDims).as("pq"))
      .select($"vec_id",
        // serialized "c0-c1-…-c7" — the driver comparator cannot sort raw
        // array cells, so both sides emit the dash-joined string form
        concat_ws("-", $"pq.codes".cast("array<string>")).as("codes"),
        $"pq.err_u20".as("err_u20"))
      .orderBy($"vec_id")
  }

  /** NS: asymmetric-distance (ADC) PQ search — the query path over
    * [[pqCodes]]' compressed vectors: the probe (vec_id 0) precomputes an
    * M×16 lookup table of subspace distances to every centroid
    * ([[adcDist]]), and each row's estimated distance is the INTEGER
    * sum of 8 table lookups by code — no float arithmetic per row at all,
    * which is exactly why PQ scan throughput beats exact search at
    * 100 TB. Top-5 nearest by estimated distance via TakeOrdered. */
  def pqSearch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cents = codebook(spark, dir)
    withProbes(cents, _ == 0L) { probes =>
      Tables.embeddings(spark, dir)
        .select($"vec_id", $"label",
          adcDist(cents, pqCodebook(cents), probes.head._2).as("adc_u20"))
        .where($"vec_id" =!= 0)
        .orderBy($"adc_u20".asc, $"vec_id")
        .limit(5)
    }
  }

  /** NS (LLM pipeline): IVF-PQ search — the FAISS-style production ANN
    * composition: the probe's nprobe=2 nearest CELLS restrict the scan
    * (IVF half, zero-shuffle literal-codebook argmax) and the surviving
    * rows are scored by integer ADC lookup tables (PQ half) instead of
    * exact distance. At 100 TB this is the structure that actually runs:
    * read nprobe/cells of the corpus AND pay table-lookups-not-floats per
    * row; recall is tuned by nprobe and codebook size, both measured by
    * the recall-eval twins. Plan: scan → cell filter → ADC expression →
    * TakeOrdered; no join, no shuffle. */
  def ivfpqSearch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cents = codebook(spark, dir)
    withProbes(cents, _ == 0L) { probes =>
      ivfAssigned(spark, dir, cents)
        .where($"cell_id".isin(probeCells(cents, probes, 2).map(_._2): _*) &&
          $"vec_id" =!= 0)
        .select($"vec_id", $"label", $"cell_id",
          adcDist(cents, pqCodebook(cents), probes.head._2).as("adc_u20"))
        .orderBy($"adc_u20".asc, $"vec_id")
        .limit(5)
    }
  }

  // ---- Retrieval evals: recall@5, nDCG@5 and the nprobe frontier ----

  /** Per-probe top 5 of a (p_id, vec_id, score) frame by `byScore`, ties
    * to the lower vec_id, as (p_id, vec_id). */
  private def top5(scored: DataFrame, byScore: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("p_id")).orderBy(byScore, col("vec_id"))
    scored.withColumn("rnk", row_number().over(w)).where(col("rnk") <= 5)
      .select(col("p_id"), col("vec_id"))
  }

  /** Every row of `rows` scored against each (p_id, pe) probe, itself
    * excluded, as (p_id, vec_id, score) — the deliberate bounded-broadcast
    * linear scan of the brute-force arms. */
  private def probeScan(rows: DataFrame, probes: DataFrame,
      score: Column): DataFrame =
    rows.crossJoin(broadcast(probes))
      .where(col("vec_id") =!= col("p_id"))
      .select(col("p_id"), col("vec_id"), score.as("score"))

  /** The exact arm: every vector's cosine to each (p_id, pe) probe. */
  private def exactCosine(spark: SparkSession, dir: String,
      probes: DataFrame): DataFrame =
    probeScan(Tables.embeddings(spark, dir), probes,
      cosine(col("embedding"), col("pe")))

  /** recall@5 per probe: how many of the `exact` arm's top 5 the
    * `approx` arm's top 5 recovers, both ranked by `byScore` (then
    * vec_id), as (p_id, n_hits, recall) over every row of `probes`. */
  private def recallAt5(probes: DataFrame, exact: DataFrame,
      approx: DataFrame, byScore: Column): DataFrame = {
    val hits = top5(exact, byScore).join(top5(approx, byScore), Seq("p_id", "vec_id"))
      .groupBy(col("p_id")).agg(count(lit(1)).as("hits"))
    probes.select(col("p_id"))
      .join(hits, Seq("p_id"), "left_outer")
      .select(col("p_id"), coalesce(col("hits"), lit(0L)).as("n_hits"),
        (coalesce(col("hits"), lit(0L)).cast(DoubleType) / 5.0).as("recall"))
      .orderBy(col("p_id"))
  }

  /** IVF candidates: every `assigned` vector in one of its probe's ranked
    * `cells` ((p_id, cell_id, pc_rnk) rows of [[probeCells]]), itself
    * excluded, joined with that probe's `probes` row. */
  private def ivfCandidates(assigned: DataFrame, cells: DataFrame,
      probes: DataFrame): DataFrame =
    assigned.drop("score")
      .join(broadcast(cells), "cell_id")
      .join(broadcast(probes), "p_id")
      .where(col("vec_id") =!= col("p_id"))

  /** nDCG@5 weights at 2^-20 fixed point, computed ONCE on the JVM and
    * baked as literals into both the Spark plan and the generated SQL
    * oracle — the one place libm (log2) appears, and it appears in
    * neither engine's runtime, so a 1-ulp ln divergence cannot exist. */
  private[graft] val NdcgW: Seq[Long] = (1 to 5).map(r =>
    math.floor(1048576.0 / (math.log(r + 1.0) / math.log(2.0)) + 0.5).toLong)
  private[graft] val NdcgP: Seq[Long] = NdcgW.scanLeft(0L)(_ + _).tail

  /** NS (LLM pipeline): label-relevance nDCG@5 of the IVF search — the
    * graded-ranking eval that recall@k can't express: a relevant doc at
    * rank 1 is worth more than at rank 5. Relevance = ground-truth label
    * match; DCG sums the baked 2^-20 rank weights over relevant hits;
    * IDCG is the weight prefix-sum at min(5, #relevant-in-corpus), so
    * ndcg ∈ [0,1] compares probes with few relevant docs fairly.
    * Completes the retrieval-eval triad (recall@5, PQ recall@5, nDCG@5).
    * Same bounded probe/cell machinery as [[annRecallEval]]. */
  def annNdcg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val cents = codebook(spark, dir)
    withProbes(cents, _ < EvalProbes) { probeVecs =>
      val probes = evalProbes(Tables.embeddings(spark, dir), "embedding",
        $"label".as("p_label"))
      val w = Window.partitionBy($"p_id").orderBy($"score".desc, $"vec_id")
      val cells = probeCells(cents, probeVecs, 2).toDF("p_id", "cell_id", "pc_rnk")
      val ranked = ivfCandidates(ivfAssigned(spark, dir, cents), cells, probes)
        .select($"p_id", $"p_label", $"vec_id", $"label",
          cosine($"embedding", $"pe").as("score"))
        .withColumn("rnk", row_number().over(w))
        .where($"rnk" <= 5)
      val dcg = ranked.groupBy($"p_id")
        .agg(sum(when($"label" === $"p_label",
            element_at(lit(NdcgW.toArray), $"rnk")).otherwise(0L)).as("dcg_u20"),
          count(lit(1)).as("n_ranked"))
      val rel = Tables.embeddings(spark, dir)
        .join(broadcast(probes.select($"p_id", $"p_label")),
          $"label" === $"p_label" && $"vec_id" =!= $"p_id")
        .groupBy($"p_id").agg(count(lit(1)).as("n_rel"))
      dcg.join(rel, "p_id")
        .select($"p_id", $"n_rel", $"n_ranked", $"dcg_u20",
          element_at(lit(NdcgP.toArray),
            least(lit(5), $"n_rel").cast(IntegerType)).as("idcg_u20"))
        .withColumn("ndcg", $"dcg_u20".cast(DoubleType) / $"idcg_u20")
        .orderBy($"p_id")
    }
  }

  /** NS: recall@5 of PQ/ADC search against exact squared-L2 — the eval
    * loop that tells you whether 8×16 codebooks keep enough geometry for
    * THIS corpus before swapping the exact scan for the compressed one
    * (the PQ twin of [[annRecallEval]]'s IVF measurement). 8 probes; each
    * embedding is ADC-scored against all 8 probe LUTs in one scan (the
    * encode kernel runs per (row, probe) — at scale you'd materialize
    * `pq_codes` once and score by lookups alone). Ranking ties break by
    * vec_id; the ADC arm is pure integer so the comparison with the
    * oracle is exact, and the exact arm's L2 uses the same
    * dot-product-identity expression the SQL twin spells. */
  def pqRecallEval(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cents = codebook(spark, dir)
    val cb = pqCodebook(cents)
    withProbes(cents, _ < EvalProbes) { probeVecs =>
      val adcStructs = probeVecs.map { case (pid, pe) =>
        struct(lit(pid).as("p_id"), adcDist(cents, cb, pe).as("s"))
      }
      val emb = Tables.embeddings(spark, dir)
      val adc = emb
        .select($"vec_id", explode(array(adcStructs.toIndexedSeq: _*)).as("pa"))
        .select($"vec_id", $"pa.p_id".as("p_id"), $"pa.s".as("score"))
        .where($"vec_id" =!= $"p_id")
      val probes = evalProbes(emb, "embedding")
      val l2 = dot($"embedding", $"embedding") -
        lit(2.0) * dot($"embedding", $"pe") + dot($"pe", $"pe")
      recallAt5(probes, probeScan(emb, probes, l2), adc, $"score".asc)
    }
  }

  /** NS: vector normalization through the higher-order-function surface —
    * `transform` rescales each component by the L2 norm and `aggregate`
    * folds the unit vector's component sum as a checksum, all inside the
    * row (zero shuffle, arbitrary parallelism). The norm itself reuses the
    * codegen'd [[graft.functions.VectorDot]]; the HOF lambda captures it
    * as an outer reference. */
  def vectorNormalize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val norm = sqrt(dot($"embedding", $"embedding"))
    Tables.embeddings(spark, dir)
      .select($"vec_id", norm.as("norm"),
        aggregate(transform($"embedding", x => x / norm), lit(0.0d), (a, x) => a + x)
          .as("unit_sum"),
        (element_at($"embedding", 1) / norm).as("e0_unit"))
      .orderBy($"vec_id")
  }

  /** Embedding-cosine near-dup pairs via banded random-hyperplane LSH:
    * a 16-bit signature split into 2 bands of 8 bits, candidates agree on
    * at least one full band. 256 buckets per band keeps within-bucket pair
    * formation linear-ish at corpus scale (a single 4-plane table's 16
    * buckets would go quadratic), while OR-across-bands preserves recall —
    * the same band layout the MinHash path uses. With this corpus
    * (unit-norm random vectors, max pairwise cos ≈ 0.4) it reports the
    * tail above 0.30. */
  def embeddingNearDupPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val banded = Tables.embeddings(spark, dir)
      .withColumn("sig", lshBucket($"embedding", planes = 16))
      .select($"vec_id", $"embedding", explode(array(
        struct(lit(0).as("k"), ($"sig" % 256).as("bv")),
        struct(lit(1).as("k"), shiftright($"sig", 8).as("bv")))).as("band"))
      .select($"vec_id", $"embedding", $"band.k", $"band.bv")
    banded.as("x").join(banded.as("y"),
        col("x.k") === col("y.k") && col("x.bv") === col("y.bv") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"),
        cosine(col("x.embedding"), col("y.embedding")).as("score"))
      .where($"score" > 0.30)
      .distinct()
      .orderBy($"vec_a", $"vec_b")
  }

  /** NS: per-label embedding centroids — the class-prototype computation
    * behind nearest-centroid classifiers, cluster-drift monitors, and
    * SemDeDup's cell means. Components are quantized to 2^-20 fixed point
    * BEFORE summing, so the per-(label, dim) sums are order-free integer
    * arithmetic (a cross-row double sum depends on partition fold order —
    * not bit-reproducible on any engine pair); the centroid is emitted as
    * integer mean ⌊Σ/n⌋ in the same units. One bounded posexplode (64
    * rows/vector) + one (label, dim)-keyed partial-agg shuffle of
    * |labels|·64 rows — linear at any scale. */
  def embeddingCentroids(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.embeddings(spark, dir)
      .select($"label", posexplode($"embedding").as(Seq("dim", "x")))
      .withColumn("x_u20",
        floor($"x".cast(DoubleType) * 1048576.0 + 0.5).cast(LongType))
      .groupBy($"label", $"dim")
      .agg(count(lit(1)).as("n"), sum($"x_u20").as("sum_u20"))
      .select($"label", $"dim", $"n", $"sum_u20",
        // integer division, truncating toward zero: Spark's `div` and
        // DuckDB's BIGINT `//` both truncate (measured: -488498//50 =
        // -9769), and staying integer keeps exactness past 2^53 where a
        // double round-trip would not
        expr("sum_u20 div n").as("mean_u20"))
      .orderBy($"label", $"dim")
  }

  /** `embeddings` with the int8 per-vector symmetric scale: abs_max =
    * max|x| and scale = abs_max/127 (abs_max = 0 marks the all-zero
    * vector, which quantizes to zeros). */
  private def int8Scaled(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.embeddings(spark, dir)
      .withColumn("abs_max",
        array_max(transform($"embedding", x => abs(x.cast(DoubleType)))))
      .withColumn("scale", $"abs_max" / 127.0)
  }

  /** NS: int8 scalar quantization of embeddings — the 4× storage /
    * bandwidth compression a 100 TB vector store applies before indexing.
    * Per-vector symmetric scale = max|x|/127; quantize via
    * floor(x/scale + 0.5) (bit-identical in any engine — round() differs
    * half-even vs half-up across engines, floor doesn't). The audit
    * columns are deliberately order-free so the oracle is exact: an
    * integer checksum of the codes and the max absolute reconstruction
    * error (max is permutation-safe; a double sum would depend on fold
    * order). Pure per-row HOFs — zero shuffle, linear at any scale. */
  def embeddingQuantize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val xd: Column => Column = x => x.cast(DoubleType)
    int8Scaled(spark, dir)
      .withColumn("qs", when($"abs_max" === 0.0,
        transform($"embedding", _ => lit(0L)))
        .otherwise(transform($"embedding",
          x => floor(xd(x) / $"scale" + 0.5).cast(LongType))))
      .select($"vec_id", $"scale",
        aggregate($"qs", lit(0L), (a, q) => a + q).as("sum_q"),
        array_max(zip_with($"embedding", $"qs",
          (x, q) => abs(xd(x) - q * $"scale"))).as("max_abs_err"))
      .orderBy($"vec_id")
  }

  /** NS: int8-quantization retrieval eval — recall@5 of cosine over the
    * DEQUANTIZED int8 vectors (the `embedding_quantize` codes replayed
    * back through their per-vector scale) against exact-float cosine,
    * per probe (vec_id < 8). This is the measurement that licenses
    * serving a 4×-smaller int8 index: `pq_recall_eval` answers it for
    * 8-byte PQ codes, this answers it for scalar quantization — the two
    * compression points a production ANN tier chooses between. Both
    * pipelines are the bounded-broadcast linear scan of
    * [[annRecallEval]]; dequantization is the same IEEE chain spelled in
    * the oracle (floor(x/scale + 0.5)·scale), so ranks agree bit-exactly. */
  def quantizeRecallEval(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val deq = int8Scaled(spark, dir)
      .withColumn("dq", when($"abs_max" === 0.0,
        transform($"embedding", _ => lit(0.0)))
        .otherwise(transform($"embedding",
          x => floor(x.cast(DoubleType) / $"scale" + 0.5) * $"scale")))
      .select($"vec_id", $"dq")
    val probesX = evalProbes(Tables.embeddings(spark, dir), "embedding")
    val quant = probeScan(deq, evalProbes(deq, "dq"), cosine($"dq", $"pe"))
    recallAt5(probesX, exactCosine(spark, dir, probesX), quant, $"score".desc)
  }

  /** NS: ANN quality evaluation — recall@5 of the IVF search (nprobe=2)
    * against the exact brute-force top-5, per probe (vec_id < 8). The
    * eval loop you run after (re)training a codebook to size nprobe:
    * both pipelines execute distributed; only the bounded probe→cell
    * ranking (8 probes × 16 centroids, [[probeCells]]) happens at plan
    * time, from the same collected codebook the IVF queries embed as
    * literals (same double fold order as the SQL twin, so ranks agree
    * bit-for-bit). The exact side is the deliberate bounded-broadcast
    * linear scan. */
  def annRecallEval(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cents = codebook(spark, dir)
    withProbes(cents, _ < EvalProbes) { probeVecs =>
      val probes = evalProbes(Tables.embeddings(spark, dir), "embedding")
      val cells = probeCells(cents, probeVecs, 2).toDF("p_id", "cell_id", "pc_rnk")
      val ivf = ivfCandidates(ivfAssigned(spark, dir, cents), cells, probes)
        .select($"p_id", $"vec_id", cosine($"embedding", $"pe").as("score"))
      recallAt5(probes, exactCosine(spark, dir, probes), ivf, $"score".desc)
    }
  }

  /** NS (LLM pipeline): the nprobe COST/RECALL frontier — the one table
    * that decides an IVF deployment: for nprobe ∈ {1, 2, 4}, mean
    * recall@5 over the 8 eval probes AGAINST the fraction of the corpus
    * the probe actually scans (Σ probed-cell sizes / (probes × N)). Both
    * axes are exact integers in 2^-20 fixed point (hit counts and cell
    * sizes divide by literal totals — no FP drift), so the trade-off
    * read ("nprobe 2 buys X recall for Y× scan") is engine-exact. The
    * candidate generation reuses the literal-codebook assignment (zero
    * shuffle); the three per-nprobe rank passes re-filter the same
    * candidate frame — an eval you run on a fixed probe sample, not on
    * the full corpus, so the 3× candidate scan is sample-sized at
    * 100 TB. */
  def annNprobeFrontier(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cents = codebook(spark, dir)
    withProbes(cents, _ < EvalProbes) { probeVecs =>
      val cells = probeCells(cents, probeVecs, 4).toDF("p_id", "cell_id", "pc_rnk")
      val probes = evalProbes(Tables.embeddings(spark, dir), "embedding")
      val assigned = ivfAssigned(spark, dir, cents).drop("score")
      val cand = ivfCandidates(assigned, cells, probes)
        .select($"p_id", $"vec_id", $"pc_rnk",
          cosine($"embedding", $"pe").as("score"))
      val exact5 = top5(exactCosine(spark, dir, probes), $"score".desc)
      val cellSizes = assigned.groupBy($"cell_id").agg(count(lit(1)).as("cell_n"))
      val total = Tables.embeddings(spark, dir).agg(count(lit(1)).as("n_total"))
      Seq(1, 2, 4).map { np =>
        val hits = exact5.join(top5(cand.where($"pc_rnk" <= np), $"score".desc),
            Seq("p_id", "vec_id"))
          .agg(count(lit(1)).as("n_hits"))
        val scanned = cells.where($"pc_rnk" <= np)
          .join(cellSizes, "cell_id")
          .agg(sum($"cell_n").as("scanned_rows"))
        hits.crossJoin(scanned).select(lit(np).as("nprobe"), $"n_hits",
          $"scanned_rows")
      }.reduce(_ unionByName _)
        .crossJoin(broadcast(total))
        .select($"nprobe", $"n_hits",
          expr(s"n_hits * 1048576 div ${EvalProbes * 5}").as("recall_u20"),
          $"scanned_rows",
          expr(s"scanned_rows * 1048576 div ($EvalProbes * n_total)")
            .as("scanned_u20"))
        .orderBy($"nprobe")
    }
  }

  /** Cell count for the SemDeDup index, adaptive in corpus size N:
    * k = 16·2^ceil(log2(ceil(N/2000))) (k=16 up to N=2000). Pure INTEGER
    * arithmetic — the DuckDB twin computes the identical k as
    * 16·2^length(bin(m−1)) with m = (N+1999)//2000 — so the codebook
    * boundary is bit-exact cross-engine at every N. Why adaptive: with
    * FIXED k the within-cell pair mass Σ|cell|² grows ∝ N²/k — measured
    * on the 10× sf1 tier, semantic_dedup's join paid 100× the pairs for
    * 10× the vectors (12.5M vs 125k). Doubling k per corpus doubling
    * keeps E[pairs/cell] — and with it the whole dedup join — LINEAR in
    * N, the FAISS sizing rule (k grows with N) expressed deterministically
    * enough to oracle. Shipped tiers (N ≤ 2000) keep k=16: every
    * existing answer is unchanged. */
  private[graft] def adaptiveCells(n: Long): Int = {
    val m = (n + 1999) / 2000
    val bits =
      if (m <= 1) 0 else 64 - java.lang.Long.numberOfLeadingZeros(m - 1)
    16 << bits
  }

  /** The semantic-dedup index: every vector with its IVF cell over the
    * [[adaptiveCells]] codebook and its norm computed ONCE before any
    * pair join (sqrt(n2x)·sqrt(n2y) then divide is the identical IEEE op
    * sequence the per-pair form and the SQL twin use, so downstream
    * scores stay bit-equal while per-pair work drops to one dot product).
    * Shared by [[semanticDedup]], [[semanticCellProfile]] and the
    * stream-static ingest twin (StreamingSpec): at ingest time a new
    * batch probes exactly this index by cell key. Memoized (FrameMemo):
    * the dedup self-join consumes this frame on BOTH sides and the ingest
    * twin probes it per batch — without the memo each consumer re-runs
    * the k·N assignment fold. Laid out sorted on `cell_id`
    * ([[FrameMemo.sorted]]), so [[semanticCellProfile]]'s per-cell
    * aggregate plans no exchange. */
  def cellIndex(spark: SparkSession, dir: String): DataFrame =
    FrameMemo.shared.sorted(spark, dir, "cellIndex", "cell_id") {
      import spark.implicits._
      val n = Tables.embeddings(spark, dir).count()
      ivfAssigned(spark, dir, codebook(spark, dir, adaptiveCells(n)))
        .select($"vec_id", $"cell_id", $"embedding",
          sqrt(norm2($"embedding")).as("nrm"))
    }

  /** NS (LLM pipeline): the Σ|cell|² knob report read BEFORE running
    * [[semanticDedup]] — per cell, the population and the EXACT
    * within-cell candidate-pair count |c|·(|c|−1)/2 the dedup self-join
    * will materialize, each cell's share of the total pair mass in
    * 2^-20 fixed point, plus the corpus-wide totals next to the
    * brute-force N·(N−1)/2 for the reduction factor. SemDeDup's whole
    * scale argument is that clustering keeps the quadratic LOCAL
    * (Σ|cell|² ≪ N²); a skewed codebook shows up here as one cell
    * owning most of the pair mass — BEFORE the join is paid for, which
    * at 100 TB is the difference between resizing k and discovering the
    * skew in a dead executor. Plan: one |cells|-row aggregate over the
    * cell-sorted index (no exchange), then the totals as a window over
    * those |cells| rows (bounded by the codebook size) in one partition,
    * which the final sort reuses — linear, shardable. */
  def semanticCellProfile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    cellIndex(spark, dir)
      .groupBy($"cell_id").agg(count(lit(1)).as("n_vectors"))
      // n·(n−1) is even, so DIV 2 is exact — integer arithmetic only
      .withColumn("n_pairs", expr("n_vectors * (n_vectors - 1) DIV 2"))
      .withColumn("total_pairs", sum($"n_pairs").over())
      .withColumn("n_total", sum($"n_vectors").over())
      .select($"cell_id", $"n_vectors", $"n_pairs", $"total_pairs",
        expr("n_total * (n_total - 1) DIV 2").as("brute_pairs"),
        // share of the pair mass, quantized on an exact-bigint ratio
        // (the mixture_temperature discipline). total_pairs = 0 (every
        // cell holds ≤1 vector) must yield 0, not the engine-dependent
        // 0/0 (Spark NaN→cast-garbage vs DuckDB NULL).
        when($"total_pairs" === 0, lit(0L)).otherwise(
          floor($"n_pairs".cast(DoubleType) * 1048576.0 /
            $"total_pairs".cast(DoubleType) + 0.5).cast(LongType))
          .as("share_u20"))
      .orderBy($"cell_id")
  }

  /** NS: semantic (embedding-space) deduplication — the SemDeDup recipe
    * (Abbas et al. 2023, arXiv:2303.09540): cluster the embeddings, form
    * cosine pairs ONLY within a cluster, and drop every vector that has a
    * lower-id cluster-mate above the threshold; the surviving lowest id is
    * the keeper. Output is one row per vector: (vec_id, cell_id, is_dup,
    * keeper, max_dup_score) — the keep/drop decision a curation pipeline
    * applies before training.
    *
    * Clustering reuses the IVF codebook assignment (zero-shuffle literal-
    * codebook argmax). The within-cell self-join is the method's cost
    * model: O(Σ|cell|²) = N × avg cell size, so the cluster COUNT is the
    * scale knob — production SemDeDup sizes k ≈ N / (a few thousand) so
    * cells stay bounded and cost stays linear in N (the paper runs 50k
    * clusters on LAION); the 16-cell fixture codebook stands in for that
    * trained codebook here exactly as in the IVF queries. max() over the
    * pair scores is permutation-safe (a double SUM would be fold-order-
    * dependent), so the oracle compare is exact. */
  def semanticDedup(spark: SparkSession, dir: String,
      tau: Double = 0.40): DataFrame = {
    import spark.implicits._
    val assigned = cellIndex(spark, dir)
    val dup = assigned.as("x").join(assigned.as("y"),
        col("x.cell_id") === col("y.cell_id") &&
          col("x.vec_id") > col("y.vec_id"))
      .select(col("x.vec_id").as("vec_id"), col("x.cell_id").as("cell_id"),
        col("y.vec_id").as("cand"),
        (dot(col("x.embedding"), col("y.embedding")) /
          (col("x.nrm") * col("y.nrm"))).as("score"))
      .where($"score" >= tau)
      .groupBy($"vec_id", $"cell_id")
      .agg(min($"cand").as("dup_keeper"), max($"score").as("max_dup_score"))
    assigned.select($"vec_id", $"cell_id")
      .join(dup, Seq("vec_id", "cell_id"), "left_outer")
      .select($"vec_id", $"cell_id",
        $"dup_keeper".isNotNull.as("is_dup"),
        coalesce($"dup_keeper", $"vec_id").as("keeper"),
        $"max_dup_score")
      .orderBy($"vec_id")
  }

  /** NS (LLM pipeline): dominant principal direction of the embedding
    * cloud by power iteration — the "is this embedding space collapsed
    * onto one axis" diagnostic (a dominant component soaking up most
    * variance means cosine distances are mostly one feature, and
    * whitening is due before semantic dedup). The distributed part is
    * ONE [[embeddingGram]]-style pass (fused triangular O(d²) state per
    * partition via `gram_sum_l`); the iteration itself runs driver-side on the
    * collected d×d matrix — 4096 longs, the same bounded-by-construction
    * collect class as the IVF codebook. Determinism: the matrix is
    * trace-normalized (one IEEE division per entry), each mat-vec is an
    * ascending-j left fold in double, and the vector is re-quantized to
    * 2^-20 fixed point after every round via max-norm — so all three
    * rounds are bit-identical cross-engine, and the oracle just unrolls
    * them in SQL (ordered `list_sum` fold, same accumulation order).
    * Output: per-dim loading at 2^-20 scale; max |loading| = 2^20 by
    * construction. Convergence is paced by the eigengap (rounds decay
    * error by λ₂/λ₁ each) — a fixed 3 rounds is the deterministic
    * ESTIMATE the contract pins, not a converged eigenvector; the spec
    * proves exactness vs a scalar recompute and Rayleigh progress. */
  def embeddingPca(spark: SparkSession, dir: String, iters: Int = 3): DataFrame = {
    import spark.implicits._
    val d = 64
    val xsCol = transform($"embedding",
      x => floor(x.cast(DoubleType) * 1048576.0 + 0.5).cast(LongType))
    val row = Tables.embeddings(spark, dir)
      .select(xsCol.as("xs"))
      .agg(graft.functions.gram_sum_l($"xs", d).as("g"))
      .head()
    val s = row.getAs[scala.collection.Seq[Long]]("g").toArray
    val trace = (0 until d).map(i => s(i * d + i)).sum
    val g = Array.tabulate(d, d)((i, j) => s(i * d + j).toDouble / trace.toDouble)
    var x = Array.fill(d)(1048576.0)
    for (_ <- 1 to iters) {
      val y = Array.tabulate(d) { i =>
        var acc = 0.0
        var j = 0
        while (j < d) { acc += g(i)(j) * x(j); j += 1 }
        acc
      }
      val m = y.map(math.abs).max
      x = y.map(v => math.floor(v / m * 1048576.0 + 0.5))
    }
    // an all-zero Gram (no vectors) has no direction: NULL loadings, as
    // the SQL twin's 0/0 normalization gives
    (0 until d).map(i => (i, Option.when(trace != 0)(x(i).toLong)))
      .toDF("dim", "loading_u20")
      .orderBy($"dim")
  }

  /** NS (LLM pipeline): the corpus second-moment (Gram) matrix XᵀX over
    * the embedding column — the one-pass statistic behind PCA/whitening
    * of an embedding space before clustering or semantic dedup.
    * [[graft.functions.GramSumL]] multiply-adds each row's outer product
    * STRAIGHT into triangular O(d²) aggregate state — no per-row d²
    * intermediate array, no row explosion (`posexplode` twice would
    * shuffle 4096 rows per vector at d=64) — and ships ONE array per
    * partition across the shuffle. Components are 2^-20 fixed-point
    * quantized before multiplying, so every product is an exact i64 and
    * the sums are order-independent — cross-engine-identical without
    * tolerance. Output: the upper triangle (i ≤ j; the matrix is
    * symmetric) at 2^-40 scale, plus the row count that normalizes it;
    * no rows when there are no vectors. */
  def embeddingGram(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = 64
    val xs = transform($"embedding",
      x => floor(x.cast(DoubleType) * 1048576.0 + 0.5).cast(LongType))
    Tables.embeddings(spark, dir)
      .select(xs.as("xs"))
      .agg(graft.functions.gram_sum_l($"xs", d).as("g"),
        count(lit(1)).as("n_vecs"))
      .where($"n_vecs" > 0)
      .select($"n_vecs", posexplode($"g").as(Seq("idx", "sum_q40")))
      .select(shiftright($"idx", 6).cast(IntegerType).as("i"),
        pmod($"idx", lit(d)).cast(IntegerType).as("j"),
        $"sum_q40", $"n_vecs")
      .where($"i" <= $"j")
      .orderBy($"i", $"j")
  }
}
