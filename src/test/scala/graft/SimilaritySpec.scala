package graft

import graft.operators.Similarity

/** The IVF / PQ family's shared probe path: degenerate input answers as
  * the DuckDB twins do, and the queries that share the probe→cell
  * ranking agree with each other. */
class SimilaritySpec extends SparkSpecBase {

  test("empty embeddings: every IVF/PQ probe and cell query answers 0 rows") {
    // sf0.001 tables with a 0-row embeddings table: no codebook and no
    // probe, so the SQL twins' probe and centroid joins come up empty
    val dir = java.nio.file.Files.createTempDirectory("graft-empty-emb")
    new java.io.File(Sf0001).listFiles()
      .filter(f => f.getName.endsWith(".parquet") && f.getName != "embeddings.parquet")
      .foreach(f => java.nio.file.Files.createSymbolicLink(dir.resolve(f.getName), f.toPath))
    spark.read.parquet(s"$Sf0001/embeddings.parquet").limit(0)
      .write.parquet(dir.resolve("embeddings.parquet").toString)
    val d = dir.toString
    Seq("ann_ivf_cells", "ann_ivf_search", "ann_recall_eval", "ann_ndcg",
      "ann_nprobe_frontier", "pq_search", "pq_recall_eval", "ivfpq_search",
      "cluster_purity", "semantic_cell_profile", "semantic_dedup",
      "media_text_pairs").foreach { q =>
      val n = SparkEntry.queries(q)(spark, d).collect().length
      assert(n === 0, s"$q: $n rows on an empty embeddings table")
    }
    // the Gram matrix of no vectors has no rows, and its principal
    // direction is undefined: one NULL loading per dim, as in the twins
    val gram = SparkEntry.queries("embedding_gram")(spark, d).collect()
    assert(gram.isEmpty, s"embedding_gram: ${gram.length} rows")
    val pca = SparkEntry.queries("embedding_pca")(spark, d).collect()
    assert(pca.map(_.getInt(0)).toSeq === (0 until 64))
    assert(pca.forall(_.isNullAt(1)), "embedding_pca: non-NULL loading")
  }

  test("ann_nprobe_frontier agrees with ann_recall_eval and the exact top 5") {
    import spark.implicits._
    val frontier = Similarity.annNprobeFrontier(spark, Sf0001)
      .select($"nprobe", $"n_hits").as[(Int, Long)].collect().toMap
    assert(frontier.keySet === Set(1, 2, 4))
    // nprobe=2 is ann_recall_eval's candidate set: same hits in total
    val recallHits = Similarity.annRecallEval(spark, Sf0001)
      .select($"n_hits").as[Long].collect()
    assert(recallHits.length === 8)
    assert(frontier(2) === recallHits.sum)
    assert(frontier(1) <= frontier(2) && frontier(2) <= frontier(4),
      s"hits fall as nprobe grows: $frontier")
    // an exact top-5 vector inside the probed cells ranks inside the
    // candidates' top 5, so the hits are exactly the exact top 5 that
    // land in the probe's nprobe nearest cells
    val emb = spark.read.parquet(s"$Sf0001/embeddings.parquet")
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
    def dotS(a: Array[Float], b: Array[Float]): Double =
      a.indices.foldLeft(0.0)((s, i) => s + a(i).toDouble * b(i).toDouble)
    def cos(a: Array[Float], b: Array[Float]): Double =
      dotS(a, b) / (math.sqrt(dotS(a, a)) * math.sqrt(dotS(b, b)))
    val cents = Similarity.codebook(spark, Sf0001)
    val probes = cents.filter(_._1 < 8)
    val exact5 = probes.map { case (p, pe) =>
      p -> emb.filter(_._1 != p).map { case (v, ve) => (-cos(ve, pe), v) }
        .sorted.take(5).map(_._2).toSet
    }.toMap
    val cellOf = Similarity.ivfAssigned(spark, Sf0001, cents)
      .select($"vec_id", $"cell_id").as[(Long, Long)].collect().toMap
    Seq(1, 2, 4).foreach { np =>
      val cells = Similarity.probeCells(cents, probes, np)
        .groupBy(_._1).map { case (p, cs) => p -> cs.map(_._2).toSet }
      val expected = exact5.toSeq.map { case (p, vs) =>
        vs.count(v => cells(p).contains(cellOf(v))).toLong }.sum
      assert(frontier(np) === expected, s"nprobe=$np")
    }
  }
}
