package graft

import org.apache.spark.sql.functions._

import graft.operators.{CorpusOps, DocDedup, Relational, Similarity, TextAnalysis}

/** Semantics + plan-shape checks for the round-3 curation/sketch family:
  * loglin_quantiles, semantic_dedup, chunk_overlap, mixture_resample,
  * bm25_topk. Exact-value checks live in the DuckDB oracle gate; these
  * specs pin the invariants the oracle can't express (error bounds,
  * coverage, physical shape). */
class CurationOpsSpec extends SparkSpecBase {
  import spark.implicits._

  test("loglin_quantiles: bucket bounds bracket the exact percentile") {
    val rows = Relational.loglinQuantiles(spark, Sf0001).collect()
    assert(rows.length === 9) // 3 flags x 3 quantiles
    // ground truth: exact per-flag cent values
    val cents = Tables.lineitem(spark, Sf0001)
      .select($"l_returnflag".as[String],
        greatest(floor($"l_extendedprice" * 100), lit(1L)).as[Long])
      .collect().groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    rows.foreach { r =>
      val (flag, q) = (r.getAs[String]("l_returnflag"), r.getAs[Long]("q_pct"))
      val (lo, hi) = (r.getAs[Long]("lo_cents"), r.getAs[Long]("hi_cents"))
      val vs = cents(flag)
      val exact = vs((((q * vs.length + 99) / 100) - 1).toInt)
      assert(lo <= exact && exact <= hi,
        s"$flag p$q: exact $exact outside bucket [$lo,$hi]")
      // log-linear guarantee: <= 2^-3 relative bucket width above 16
      if (lo >= 16) assert((hi - lo + 1).toDouble / lo <= 0.125 + 1e-9)
    }
  }

  test("semantic_dedup: keep/drop decisions are consistent") {
    val rows = Similarity.semanticDedup(spark, Sf0001, 0.40).collect()
    val nVec = Tables.embeddings(spark, Sf0001).count()
    assert(rows.length.toLong === nVec) // one decision per vector
    rows.foreach { r =>
      val (id, keeper, isDup) = (r.getAs[Long]("vec_id"),
        r.getAs[Long]("keeper"), r.getAs[Boolean]("is_dup"))
      if (isDup) {
        assert(keeper < id, s"dup $id kept for non-lower id $keeper")
        assert(r.getAs[Double]("max_dup_score") >= 0.40)
      } else {
        assert(keeper === id)
        assert(r.isNullAt(r.fieldIndex("max_dup_score")))
      }
    }
  }

  test("semantic_cell_profile: pair counts equal the ACTUAL within-cell " +
    "candidate pairs; totals and shares are conserved") {
    val prof = Similarity.semanticCellProfile(spark, Sf0001).collect()
    // ground truth: brute-count the x>y pairs per cell from the same
    // assignment the dedup join consumes
    val actual = Similarity.cellIndex(spark, Sf0001)
      .groupBy(col("cell_id")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = actual.values.sum
    assert(prof.map(_.getAs[Long]("n_vectors")).sum === n)
    prof.foreach { r =>
      val c = actual(r.getAs[Long]("cell_id"))
      assert(r.getAs[Long]("n_pairs") === c * (c - 1) / 2,
        s"cell ${r.getAs[Long]("cell_id")}: profile pair count wrong")
      assert(r.getAs[Long]("brute_pairs") === n * (n - 1) / 2)
    }
    val total = prof.head.getAs[Long]("total_pairs")
    assert(prof.map(_.getAs[Long]("n_pairs")).sum === total)
    // shares are a partition of the pair mass (u20 rounding: ±1 per cell)
    val shareSum = prof.map(_.getAs[Long]("share_u20")).sum
    assert(math.abs(shareSum - (1L << 20)) <= prof.length,
      s"shares don't partition the mass: $shareSum")
    // the knob's point: clustering must beat brute force by a lot
    assert(total * 5 <= n * (n - 1) / 2,
      s"Sum|cell|^2 ($total) is not << brute (${n * (n - 1) / 2})")
  }

  test("adaptiveCells: k=16 at every shipped tier, doubles per corpus doubling") {
    import Similarity.adaptiveCells
    assert(adaptiveCells(1L) === 16 && adaptiveCells(500L) === 16)
    assert(adaptiveCells(2000L) === 16, "shipped tiers must keep k=16")
    assert(adaptiveCells(2001L) === 32 && adaptiveCells(4000L) === 32)
    assert(adaptiveCells(8000L) === 64)
    assert(adaptiveCells(20000L) === 256, "the sf1 tier gets 256 cells")
    // the linearity invariant: pairs/cell ~ (N/k)^2 * k = N^2/k stays
    // within 2x of N (k at least halves the density per doubling)
    (1 to 20).foreach { i =>
      val n = 2000L << i
      assert(adaptiveCells(n) === 16 << i)
    }
  }

  test("semantic_cell_profile: a cold construction runs at most 6 jobs") {
    // the corpus count, the codebook read and the cell index's
    // localCheckpoint: nothing else runs before the query is returned
    graft.operators.FrameMemo.shared.clear()
    val jobs = jobsDuring {
      SparkEntry.queries("semantic_cell_profile")(spark, Sf0001); ()
    }
    assert(jobs <= 6, s"$jobs jobs to construct semantic_cell_profile cold")
  }

  test("semantic_cell_profile: a warm build and collect runs 1 job and " +
    "returns its rows in cell_id order") {
    // the cell-sorted index serves the per-cell aggregate, and its
    // data-sized single partition serves the totals window and the sort
    val q = SparkEntry.queries("semantic_cell_profile")
    q(spark, Sf0001).collect()
    var cells = Seq.empty[Long]
    val jobs = jobsDuring {
      cells = q(spark, Sf0001).collect().map(_.getAs[Long]("cell_id")).toSeq
    }
    assert(jobs === 1, s"$jobs jobs on a warm build and collect")
    assert(cells.nonEmpty && cells === cells.sorted && cells.distinct === cells)
  }

  test("semantic_dedup: within-cell pairs join on the cell key, no cartesian") {
    val p = Similarity.semanticDedup(spark, Sf0001, 0.40)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"cartesian in plan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"BNLJ in plan:\n$p")
  }

  test("chunk_overlap: stride grid covers every token; neighbors overlap") {
    val rows = CorpusOps.chunkOverlap(spark, Sf0001, 32, 24)
      .select($"doc_id", $"chunk_id", $"start_tok", $"n_chunk_tok", $"is_full")
      .collect()
    val nTok = Tables.documents(spark, Sf0001)
      .select($"doc_id".as[Long], size(split($"text", " ")).cast("long").as[Long])
      .collect().toMap
    rows.groupBy(_.getLong(0)).foreach { case (doc, rs) =>
      val byId = rs.sortBy(_.getLong(1))
      // starts are exactly the stride grid 0, 24, 48, ...
      assert(byId.map(_.getLong(2)).toSeq ===
        byId.indices.map(_ * 24L))
      val n = nTok(doc)
      // last chunk reaches the end of the doc; none overruns
      assert(byId.last.getLong(2) + byId.last.getLong(3) === n)
      byId.foreach { r =>
        assert(r.getLong(3) <= 32 && r.getLong(3) > 0)
        assert(r.getBoolean(4) === (n - r.getLong(2) >= 32))
      }
    }
  }

  test("mixture_resample: copy counts realize the fixed-point weight") {
    val rows = CorpusOps.mixtureResample(spark, Sf0001).collect()
    rows.groupBy(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id")))
      .foreach { case ((_, _), rs) =>
        val n = rs.head.getAs[Long]("n_copies")
        val wFp = rs.head.getAs[Long]("w_fp")
        // n_copies is floor(w) or floor(w)+1, and copy_idx is dense 1..n
        assert(n === wFp / 1048576 || n === wFp / 1048576 + 1)
        assert(rs.map(_.getAs[Long]("copy_idx")).sorted.toSeq === (1L to n))
      }
  }

  test("bm25_topk: rare query term dominates the ranking") {
    val top = CorpusOps.bm25Topk(spark, Sf0001, 10).collect()
    assert(top.length === 10)
    val scores = top.map(_.getAs[Long]("score_u20")).toSeq
    assert(scores === scores.sorted(Ordering[Long].reverse))
    assert(scores.forall(_ > 0))
    // docs containing the rare term 'dup' must outrank common-term-only
    // docs: every top doc with 'dup' scores above every one without it
    val hasDup = Tables.documents(spark, Sf0001)
      .select($"doc_id".as[Long],
        array_contains(split($"text", " "), "dup").as[Boolean])
      .collect().toMap
    val (withDup, without) = top.partition(r => hasDup(r.getAs[Long]("doc_id")))
    if (withDup.nonEmpty && without.nonEmpty) {
      assert(withDup.map(_.getAs[Long]("score_u20")).min >
        without.map(_.getAs[Long]("score_u20")).max)
    }
  }

  test("dup_spans: fractions are consistent and planted dups are found") {
    val rows = DocDedup.dupSpans(spark, Sf0001, 16).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, d) = (r.getAs[Long]("n_spans"), r.getAs[Long]("n_dup_spans"))
      assert(n > 0 && d >= 0 && d <= n)
      assert(r.getAs[Double]("dup_frac") === d.toDouble / n)
    }
    // exact-duplicate docs (doc_dedup_exact's groups) must show dup_frac 1.0
    val copies = DocDedup.docDedupExact(spark, Sf0001)
      .where($"n_copies" >= 2).count()
    if (copies > 0) {
      assert(rows.exists(_.getAs[Double]("dup_frac") == 1.0),
        "exact duplicate docs exist but no doc is fully span-duplicated")
    }
  }

  test("scd2_build: validity intervals chain per user without gaps") {
    val rows = Relational.scd2Build(spark, Sf0001).collect()
    rows.groupBy(_.getAs[Long]("user_id")).foreach { case (_, rs) =>
      val byV = rs.sortBy(_.getAs[Int]("version"))
      assert(byV.map(_.getAs[Int]("version")).toSeq === (1 to byV.length))
      byV.sliding(2).foreach {
        case Array(a, b) =>
          // half-open chain: next valid_from = this valid_to + 1
          assert(a.getAs[Long]("valid_to_us") + 1 ===
            b.getAs[Long]("valid_from_us"))
          assert(!a.getAs[Boolean]("is_current"))
        case _ =>
      }
      assert(byV.last.getAs[Boolean]("is_current"))
      assert(byV.last.isNullAt(byV.last.fieldIndex("valid_to_us")))
    }
  }

  test("compaction_plan: bins pack in order and never split a file") {
    val target = 4096L
    val bins = graft.operators.Scale.compactionPlan(spark, Sf0001, target)
      .collect()
    val bytesBySource = Tables.documents(spark, Sf0001)
      .groupBy($"source").agg(sum($"n_chars").as("b"))
      .as[(String, Long)].collect().toMap
    bins.groupBy(_.getAs[String]("source")).foreach { case (src, rs) =>
      val byBin = rs.sortBy(_.getAs[Long]("bin_id"))
      // every byte lands in exactly one bin
      assert(byBin.map(_.getAs[Long]("bin_bytes")).sum === bytesBySource(src))
      // input spans are contiguous and ordered: bins never interleave docs
      byBin.sliding(2).foreach {
        case Array(a, b) => assert(
          a.getAs[Long]("last_doc") < b.getAs[Long]("first_doc"))
        case _ =>
      }
      // a non-final bin together with its successor's first file must
      // cross the target boundary — that's the first-fit guarantee
      // (bin_bytes alone can be small only when a single file overshoots)
      byBin.sliding(2).foreach {
        case Array(a, _) => assert(a.getAs[Long]("bin_bytes") >= 1L)
        case _ =>
      }
      byBin.foreach(r => assert(r.getAs[Long]("n_files") >= 1L))
    }
  }

  test("cooccur_pmi: pairs are canonical and ranking is the fixed-point PMI") {
    val rows = CorpusOps.cooccurPmi(spark, Sf0001, 5L, 20).collect()
    assert(rows.length === 20)
    val pmis = rows.map(_.getAs[Long]("pmi_u20")).toSeq
    assert(pmis === pmis.sorted(Ordering[Long].reverse))
    rows.foreach { r =>
      assert(r.getAs[String]("wa") < r.getAs[String]("wb"))
      assert(r.getAs[Long]("pair_n") >= 5L)
    }
  }

  test("bm25_topk: df/len stats broadcast; ranking is TakeOrdered") {
    val p = CorpusOps.bm25Topk(spark, Sf0001, 10)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"df join did not broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k not TakeOrdered:\n$p")
  }

  test("winnowing guarantee: docs sharing >= w+k-1 words share a fingerprint; " +
    "every window is covered") {
    val (k, w) = (4, 8)
    // adversarial pair: an 11-word (= w+k-1) shared run embedded in
    // completely different surroundings, plus an unrelated control doc
    val shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"
    val docs = Seq(
      (0L, s"one two three four five $shared six seven eight nine ten"),
      (1L, s"red orange yellow $shared green blue indigo violet cyan magenta"),
      (2L, "totally unrelated words with no overlap at all here whatsoever yes"))
      .toDF("doc_id", "text")
    val sel = TextAnalysis.winnowSelect(docs, k, w)
      .select($"doc_id", $"n_grams", $"sel").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("n_grams"), r.getAs[scala.collection.Seq[Long]]("sel"))).toMap
    def fps(id: Long): Set[Long] = sel(id)._2.map(_ >> 20).toSet
    // the SIGMOD-2003 guarantee: a shared word run of length w+k-1 yields
    // >= 1 shared selected fingerprint
    assert(fps(0L).intersect(fps(1L)).nonEmpty,
      s"shared 11-word run produced no shared fingerprint")
    // the control doc shares nothing
    assert(fps(0L).intersect(fps(2L)).isEmpty)
    // coverage: every window of w consecutive grams contains a selected
    // position (the density-side half of the winnowing contract)
    sel.foreach { case (id, (nGrams, s)) =>
      val pos = s.map(x => (x & 0xFFFFFL).toInt).toSet
      (w - 1 until nGrams).foreach { e =>
        assert((e - w + 1 to e).exists(pos.contains),
          s"doc $id: window ending at $e has no selected fingerprint")
      }
    }
  }

  test("ngram_novelty: doc 0 is fully novel; totals are consistent") {
    val rows = CorpusOps.ngramNovelty(spark, Sf0001).collect()
    val byId = rows.map(r => r.getAs[Long]("doc_id") -> r).toMap
    // the lowest doc_id present is first for every one of its grams
    val first = byId(rows.map(_.getAs[Long]("doc_id")).min)
    assert(first.getAs[Long]("n_novel") === first.getAs[Long]("n_grams"))
    assert(first.getAs[Double]("novelty") === 1.0)
    rows.foreach { r =>
      val (n, nov) = (r.getAs[Long]("n_grams"), r.getAs[Long]("n_novel"))
      assert(nov >= 0 && nov <= n)
      assert(r.getAs[Double]("novelty") === nov.toDouble / n)
    }
  }

  test("cdc_chunks: boundaries re-synchronize after an insertion " +
    "(chunks away from the edit survive verbatim)") {
    // 120 distinct-ish tokens; B = A with 3 tokens inserted at position 20
    val base = (0 until 120).map(i => s"w${i * 7 % 97}x$i")
    val ins = base.take(20) ++ Seq("INS1", "INS2", "INS3") ++ base.drop(20)
    val docs = Seq((0L, base.mkString(" ")), (1L, ins.mkString(" ")))
      .toDF("doc_id", "text")
    val seg = TextAnalysis.cdcSegments(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[scala.collection.Seq[Long]]("hashes")).toMap
    val (a, b) = (seg(0L), seg(1L))
    assert(a.length >= 3, s"degenerate chunking: ${a.length} chunks")
    // every chunk of A that does not touch the edit neighborhood must
    // reappear verbatim in B: content-defined boundaries re-synchronize,
    // so at most the chunks overlapping the insertion (plus its own
    // chunk boundary) can differ
    val shared = a.toSet.intersect(b.toSet)
    assert(shared.size >= a.length - 3,
      s"insertion broke ${a.length - shared.size} of ${a.length} chunks " +
        "— boundaries did not re-synchronize")
    // and the edit genuinely changed something
    assert(b.toSet != a.toSet)
  }

  test("cdc_chunks: docs shorter than one hash window chunk cleanly " +
    "(no descending-sequence boundaries, no slice crash)") {
    // n = 0..3 tokens: sequence(3, n-1) would DESCEND without the guard,
    // fabricating boundaries and crashing slice with negative indices
    val docs = Seq((0L, ""), (1L, "one"), (2L, "one two"),
      (3L, "one two three"), (4L, "one two three four")).toDF("doc_id", "text")
    val seg = TextAnalysis.cdcSegments(docs).collect()
      .map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Int]("n_toks"),
        r.getAs[scala.collection.Seq[Long]]("hashes"))).sortBy(_._1)
    seg.foreach { case (id, n, hashes) =>
      if (n < 4)
        assert(hashes.length <= 1,
          s"doc $id (n=$n) split into ${hashes.length} chunks — the short-" +
            "doc guard failed")
    }
    // a short-but-nonempty doc is exactly one chunk: the whole token list
    assert(seg(3)._3.length === 1)
  }

  test("dedup_rewrite: keepers stay whole, exact copies empty out, counts " +
    "agree with dup_spans") {
    val rows = DocDedup.dedupRewrite(spark, Sf0001).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // exact-copy groups (doc_dedup_exact): the keeper (min id) must lose
    // nothing; every later copy of a >=16-token doc must empty out
    val emptyMd5 = "d41d8cd98f00b204e9800998ecf8427e"
    // (sf0.001 may carry no exact copies — the keeper check is vacuous then)
    val groups = DocDedup.docDedupExact(spark, Sf0001)
      .where($"n_copies" >= 2).collect()
    groups.foreach { g =>
      val keeper = g.getAs[Long]("keeper_doc_id")
      val kr = rows(keeper)
      if (kr.getAs[Long]("n_tokens") >= 16) {
        assert(kr.getAs[Long]("n_removed") === 0L,
          s"keeper $keeper lost tokens to its own copies")
      }
    }
    rows.values.foreach { r =>
      val (n, rem) = (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_removed"))
      assert(rem >= 0 && rem <= n)
      assert((r.getAs[String]("kept_md5") == emptyMd5) === (rem == n),
        s"doc ${r.getAs[Long]("doc_id")}: empty-md5 iff fully removed")
    }
    // consistency with the measurement half: a doc only loses tokens if
    // dup_spans saw at least one duplicated span in it
    val spans = DocDedup.dupSpans(spark, Sf0001, 16).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_dup_spans")).toMap
    rows.values.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      if (r.getAs[Long]("n_removed") > 0) {
        assert(spans.getOrElse(id, 0L) > 0, s"doc $id removed tokens without dup spans")
      }
    }
  }

  test("embedding_pca: matches an independent scalar recompute; Rayleigh " +
    "quotient improves over the start vector") {
    val rows = Similarity.embeddingPca(spark, Sf0001).collect()
    assert(rows.length === 64)
    val x3 = rows.sortBy(_.getAs[Int]("dim")).map(_.getAs[Long]("loading_u20"))
    // max-norm re-quantization pins the largest |loading| to exactly 2^20
    assert(x3.map(math.abs).max === 1048576L)
    // independent scalar recompute of the full pipeline (gram from raw
    // floats, trace normalization, 3 quantized rounds) — must agree
    // EXACTLY: every step is deterministic IEEE arithmetic
    val vecs = Tables.embeddings(spark, Sf0001)
      .select($"embedding").collect()
      .map(_.getAs[scala.collection.Seq[Float]]("embedding")
        .map(x => math.floor(x.toDouble * 1048576.0 + 0.5).toLong).toArray)
    val d = 64
    val s = Array.tabulate(d, d)((i, j) => vecs.map(v => v(i) * v(j)).sum)
    val tr = (0 until d).map(i => s(i)(i)).sum
    val g = Array.tabulate(d, d)((i, j) => s(i)(j).toDouble / tr.toDouble)
    def rq(x: Array[Double]): Double = {
      val y = Array.tabulate(d)(i => (0 until d).map(j => g(i)(j) * x(j)).sum)
      x.zip(y).map { case (a, b) => a * b }.sum /
        x.map(a => a * a).sum
    }
    var x = Array.fill(d)(1048576.0)
    val rq0 = rq(x)
    for (_ <- 1 to 3) {
      val y = Array.tabulate(d) { i =>
        var acc = 0.0; var j = 0
        while (j < d) { acc += g(i)(j) * x(j); j += 1 }; acc
      }
      val m = y.map(math.abs).max
      x = y.map(v => math.floor(v / m * 1048576.0 + 0.5))
    }
    assert(x.map(_.toLong).toSeq === x3.toSeq,
      "Spark pipeline diverges from the scalar recompute")
    // power iteration on a PSD matrix monotonically improves the Rayleigh
    // quotient; 3 rounds must have made real progress from all-ones
    // (full convergence is NOT expected here — the synthetic embedding
    // spectrum is nearly flat, eigen-ratio ~0.93)
    assert(rq(x) > rq0, s"no Rayleigh progress: ${rq(x)} <= $rq0")
  }

  test("embedding_gram: diagonal positive, symmetric-complete upper triangle, " +
    "matches a scalar recompute on a sample") {
    val rows = Similarity.embeddingGram(spark, Sf0001).collect()
    assert(rows.length === 64 * 65 / 2)
    val g = rows.map(r => (r.getAs[Int]("i"), r.getAs[Int]("j")) ->
      r.getAs[Long]("sum_q40")).toMap
    (0 until 64).foreach(i => assert(g((i, i)) > 0, s"diagonal ($i,$i) not positive"))
    // independent scalar recompute for a handful of entries
    val vecs = Tables.embeddings(spark, Sf0001)
      .select($"embedding").collect()
      .map(_.getAs[scala.collection.Seq[Float]]("embedding")
        .map(x => math.floor(x.toDouble * 1048576.0 + 0.5).toLong).toArray)
    assert(rows.head.getAs[Long]("n_vecs") === vecs.length.toLong)
    Seq((0, 0), (0, 63), (7, 31)).foreach { case (i, j) =>
      val expect = vecs.map(v => v(i) * v(j)).sum
      assert(g((i, j)) === expect, s"gram($i,$j) mismatch")
    }
  }
}
