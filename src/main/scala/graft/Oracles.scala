package graft

/** DuckDB oracle SQL for the LLM-pipeline operators. The repetitive
  * bit-level SQL (simhash bit sums, LSH hyperplane dots) is generated here
  * so the SQL provably mirrors the Scala constants (same hash prefixes,
  * same primes, same band layout).
  */
object Oracles {

  /** Shared CTE: distinct word-3-gram shingles per document. */
  private val gramsCte =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |g AS MATERIALIZED (SELECT doc_id, list_distinct(list_transform(
      |        generate_series(1, len(w) - 2),
      |        i -> array_to_string(w[i:i+2], ' '))) AS grams FROM d)""".stripMargin

  /** MinHash signature CTE (16 perms over 28-bit md5 base hash). */
  private val minhashCte = gramsCte +
    """,
      |x AS (SELECT doc_id, list_transform(grams,
      |        s -> CAST(concat('0x', substr(md5(s), 1, 7)) AS BIGINT)) AS xs FROM g),
      |s AS MATERIALIZED (SELECT doc_id, list_transform(range(0, 16),
      |        i -> list_min(list_transform(xs,
      |               v -> (v * (2*i + 1) + 7919*i + 1) % 268435399))) AS sig FROM x)""".stripMargin

  private val simhashBitSums = (0 until 32)
    .map(b => s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS s$b")
    .mkString(", ")
  private val simhashAssemble = (0 until 32)
    .map(b => s"CASE WHEN s$b > 0 THEN CAST(${1L << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END")
    .mkString(" + ")

  /** doc_id, simhash CTE chain shared by the two simhash queries. */
  private val simhashCte =
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
       |h AS (SELECT doc_id, CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) AS h FROM tok),
       |s AS (SELECT doc_id, $simhashBitSums FROM h GROUP BY doc_id),
       |m AS MATERIALIZED (SELECT doc_id, $simhashAssemble AS simhash FROM s)""".stripMargin

  /** Budget-governed simhash pair CTE chain (the round-10 pair governor)
    * — appended right after [[simhashCte]]; yields
    * `pairs(pa, pb, hamming)` built at the LOOSEST ladder level whose
    * projected candidate mass (band-bucket histogram, Σ n(n−1)/2) fits
    * the budget, with the hamming radius narrowed to `3 − level`. The
    * band-layout VALUES and the budget constant are GENERATED from
    * [[graft.operators.DocDedup.SimhashBandLayouts]] /
    * [[graft.operators.DocDedup.PairBudget]], so the twins can never
    * drift from the engine's governor decision. */
  private lazy val governedPairsCte: String = {
    val vals = operators.DocDedup.SimhashBandLayouts
      .map { case (l, k, s, w) => s"($l, $k, $s, $w)" }.mkString(", ")
    val budget = operators.DocDedup.PairBudget
    s""",
       |bl AS (SELECT * FROM (VALUES $vals) AS t(lvl, k, shift, width)),
       |hb AS (SELECT bl.lvl, bl.k,
       |         (simhash >> bl.shift) % (CAST(1 AS BIGINT) << bl.width) AS bv,
       |         CAST(count(*) AS BIGINT) AS n
       |       FROM m, bl GROUP BY 1, 2, 3),
       |pick AS (SELECT CAST(COALESCE(min(lvl), 3) AS INTEGER) AS lvl FROM (
       |           SELECT lvl, sum((n*(n-1))//2) AS cand FROM hb GROUP BY lvl) mm
       |         WHERE cand <= $budget),
       |b AS MATERIALIZED (SELECT m.doc_id, m.simhash, bl.k,
       |       (m.simhash >> bl.shift) % (CAST(1 AS BIGINT) << bl.width) AS bv
       |     FROM m, bl, pick WHERE bl.lvl = pick.lvl),
       |pairs AS MATERIALIZED (SELECT DISTINCT x.doc_id AS pa, y.doc_id AS pb,
       |       CAST(bit_count(xor(x.simhash, y.simhash)) AS INTEGER) AS hamming
       |     FROM b x, b y, pick
       |     WHERE x.k = y.k AND x.bv = y.bv AND x.doc_id < y.doc_id
       |       AND bit_count(xor(x.simhash, y.simhash)) <= 3 - pick.lvl)""".stripMargin
  }

  private def lshDot(j: Int, v: String) =
    s"list_sum(list_transform(range(0, 64), d -> " +
      s"(CAST(concat('0x', substr(md5(concat('hp:$j:', d)), 1, 7)) AS BIGINT) % 2001 - 1000)" +
      s" * CAST($v[d+1] AS DOUBLE)))"

  private def lshBucket(planes: Int, v: String) = (0 until planes)
    .map(j => s"CASE WHEN ${lshDot(j, v)} > 0 THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END")
    .mkString(" + ")

  /** Product-quantization CTE chain: seed codebook (vec_id < 16), per
    * (vector, subspace, centroid) squared-L2 over the 8-component slice
    * (ordered list_sum fold — same accumulation order as the Spark
    * expression), argmin per (vector, subspace) with lowest-centroid
    * tie-break. Shared by `pq_codes` and `pq_search`. */
  private val pqCte =
    """WITH cents AS (SELECT vec_id AS cid, embedding AS ce
      |               FROM embeddings WHERE vec_id < 16),
      |sub AS (SELECT unnest([0,1,2,3,4,5,6,7]) AS m),
      |d AS (SELECT v.vec_id, s.m, c.cid,
      |        list_sum(list_transform(range(s.m*8+1, s.m*8+9),
      |          i -> (CAST(v.embedding[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE))
      |             * (CAST(v.embedding[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE)))) AS dist
      |      FROM embeddings v, sub s, cents c),
      |best AS (SELECT vec_id, m, cid AS code, dist,
      |           row_number() OVER (PARTITION BY vec_id, m
      |                              ORDER BY dist, cid) AS rn
      |         FROM d)""".stripMargin

  /** Winnowing selection CTE chain (doc_id, n_grams, sel) — word-4-gram
    * 40-bit hashes packed with position, window-8 minima, distinct.
    * Shared by `winnow_spans` and `winnow_dedup_pairs`. */
  private val winnowCte =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |g AS (SELECT doc_id, list_transform(generate_series(1, len(w) - 3),
      |        i -> array_to_string(w[i:i+3], ' ')) AS grams FROM d),
      |c AS (SELECT doc_id, list_transform(range(1, len(grams) + 1),
      |        i -> CAST(concat('0x', substr(md5(grams[i]), 1, 10)) AS BIGINT)
      |             * 1048576 + (i - 1)) AS comb FROM g),
      |s AS (SELECT doc_id, len(comb) AS n_grams,
      |        CASE WHEN len(comb) >= 8 THEN
      |          list_distinct(list_transform(range(8, len(comb) + 1),
      |            e -> list_min(comb[e-7:e])))
      |        WHEN len(comb) > 0 THEN [list_min(comb)]
      |        ELSE [] END AS sel FROM c)""".stripMargin

  private def dotSql(a: String, b: String) =
    s"list_sum(list_transform(range(1, 65), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"
  private def cosSql(a: String, b: String) =
    s"(${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)})))"

  /** Connected components over the simhash near-dup pair graph (no final
    * ORDER BY — shared by `dedup_clusters` and `cluster_stats`).
    *
    * Round 9: the naive RECURSIVE transitive closure this replaces
    * materializes Θ(Σ|component|²) (v, label) rows — measured 50+
    * CPU-minutes (killed) on the sf1 tier, whose simhash graph carries a
    * ~40k-node near-clique. Rewritten as UNROLLED min-label rounds with
    * POINTER JUMPING: each round takes min{self, L(L(v)), min over
    * neighbors} — lookback distance at least doubles per round, so 18
    * rounds converge for any component ≤ 2^18 nodes at Θ(rounds·(|V|+|E|))
    * total. Labels are always node ids (mins of node ids), so the L(L(v))
    * self-join always matches. Converged min-label CC is exact integer
    * arithmetic — same fixpoint as any correct CC, engine-independent.
    * Every round is MATERIALIZED (the DuckDB-1.0 CTE-inlining gotcha:
    * each round is referenced three times). */
  private lazy val clustersSql: String = {
    def round(i: Int): String =
      s""",
         |l$i AS MATERIALIZED (
         |  SELECT p.v, LEAST(p.l, q.l, COALESCE(nb.ml, p.l)) AS l
         |  FROM l${i - 1} p
         |  JOIN l${i - 1} q ON q.v = p.l
         |  LEFT JOIN (SELECT e.dst AS v, min(x.l) AS ml
         |             FROM l${i - 1} x JOIN edges e ON e.src = x.v
         |             GROUP BY e.dst) nb ON nb.v = p.v)""".stripMargin
    simhashCte +
      governedPairsCte +
      """,
        |edges AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM pairs
        |          UNION SELECT pb, pa FROM pairs),
        |l0 AS MATERIALIZED (SELECT doc_id AS v, doc_id AS l FROM m)""".stripMargin +
      (1 to 18).map(round).mkString +
      """
        |SELECT v AS doc_id, CAST(l AS BIGINT) AS cluster_id FROM l18""".stripMargin
  }

  /** 3-round fixed-point PageRank over the simhash near-dup pair graph —
    * the same b/pairs CTEs as `clustersSql`, then the iteration unrolled:
    * every arithmetic step mirrors the Spark side exactly (long→double
    * widening, `(0.85·pr)/deg`, floor, integer sums), so the ranks are
    * bit-identical. All BIGINT-summing columns are cast back to BIGINT —
    * DuckDB promotes `sum(BIGINT)` to HUGEINT, which the comparator would
    * materialize as float64 (the `compaction_plan` round-4 failure class). */
  private lazy val pagerankSql: String = {
    def round(i: Int, prev: String) =
      s""",
         |c$i AS (SELECT e.dst AS doc_id,
         |          CAST(sum(CAST(floor(CAST(0.85 AS DOUBLE) * p.pr_u20 / p.deg
         |                              + 0.5) AS BIGINT)) AS BIGINT) AS in_c
         |        FROM $prev p JOIN e ON p.doc_id = e.src GROUP BY e.dst),
         |p$i AS (SELECT d.doc_id, d.deg, nn.n_nodes,
         |          CAST(floor(CAST(0.15 AS DOUBLE) * CAST(1048576 AS DOUBLE)
         |                     / nn.n_nodes + 0.5) AS BIGINT)
         |            + COALESCE(c$i.in_c, 0) AS pr_u20
         |        FROM deg d CROSS JOIN nn
         |        LEFT JOIN c$i ON c$i.doc_id = d.doc_id)""".stripMargin
    simhashCte +
      governedPairsCte +
      """,
        |e AS (SELECT pa AS src, pb AS dst FROM pairs
        |      UNION ALL SELECT pb, pa FROM pairs),
        |deg AS (SELECT src AS doc_id, CAST(count(*) AS BIGINT) AS deg
        |        FROM e GROUP BY src),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg),
        |p0 AS (SELECT d.doc_id, d.deg, nn.n_nodes,
        |         CAST(floor(CAST(1048576 AS DOUBLE) / nn.n_nodes + 0.5) AS BIGINT)
        |           AS pr_u20
        |       FROM deg d CROSS JOIN nn)""".stripMargin +
      round(1, "p0") + round(2, "p1") + round(3, "p2") +
      """
        |SELECT doc_id, deg, pr_u20 FROM p3
        |ORDER BY pr_u20 DESC, doc_id LIMIT 20""".stripMargin
  }

  /** BM25 scoring CTE chain over the fixed query-term set (shared by
    * `bm25_topk` and `rrf_fusion`; caller appends the final SELECT). */
  /** Shared media-dHash CTE chain (media_dedup, media_neardup_pairs):
    * replay the PPM construction, parse the header, take channel sums,
    * then compute the 2x2 perceptual dHash. The per-cell sums/counts and
    * the comparison-bit expression are GENERATED from the engine's own
    * [[graft.operators.Multimodal.PpmDecoder.DhashPairs]] bit layout
    * (the anti-drift design). Ends with `g(doc_id, pmd5, width, height,
    * sum_r, sum_g, sum_b, ..., dhash)`. */
  private lazy val mediaDhashCte: String = {
    // cell id of pixel k: (2*(k div w)) div h * 2 + (2*(k mod w)) div w
    def cellFilter(m: Int) =
      s"list_filter(range(0, CAST(width * height AS BIGINT)), " +
        s"k -> ((2 * (k // width)) // height * 2 + (2 * (k % width)) // width) = $m)"
    // per-cell channel sums (COALESCE: empty cells sum to 0) and counts
    val cellSelect = (0 until 4).flatMap { m =>
      (0 until 3).map { ch =>
        s"  COALESCE(list_sum(list_transform(${cellFilter(m)},\n" +
        s"    k -> ascii(substr(px, CAST(k * 3 + ${ch + 1} AS INTEGER), 1)))), 0) AS s${ch}_$m"
      } :+ s"  len(${cellFilter(m)}) AS c_$m"
    }.mkString(",\n")
    val dhashExpr = operators.Multimodal.PpmDecoder.DhashPairs.zipWithIndex
      .flatMap { case ((i, j), p) =>
        (0 until 3).map { ch =>
          val bit = 1L << (ch * 6 + p)
          s"(CASE WHEN s${ch}_$i * c_$j > s${ch}_$j * c_$i THEN $bit ELSE 0 END)"
        }
      }.mkString(" + ")
    s"""WITH raw AS (SELECT doc_id,
       |    'P6' || chr(10) ||
       |    CAST(2 + doc_id % 3 AS VARCHAR) || ' ' ||
       |    CAST(1 + doc_id % 2 AS VARCHAR) || chr(10) || '255' || chr(10) ||
       |    array_to_string(list_transform(
       |      range(0, 3 * (2 + doc_id % 3) * (1 + doc_id % 2)),
       |      j -> chr(CAST(32 + (doc_id * 31 + j * 7) % 64 AS INTEGER))), '')
       |    || text AS s
       |  FROM documents),
       |d AS (SELECT doc_id, md5(s) AS pmd5,
       |    CAST(regexp_extract(s, '^P6\n([0-9]+) ([0-9]+)\n([0-9]+)\n', 1)
       |         AS INTEGER) AS width,
       |    CAST(regexp_extract(s, '^P6\n([0-9]+) ([0-9]+)\n([0-9]+)\n', 2)
       |         AS INTEGER) AS height,
       |    substr(s, length(regexp_extract(
       |      s, '^P6\n([0-9]+) ([0-9]+)\n([0-9]+)\n', 0)) + 1) AS px
       |  FROM raw),
       |f AS (SELECT doc_id, pmd5, width, height,
       |  CAST(list_sum(list_transform(range(0, CAST(width * height AS BIGINT)),
       |    k -> ascii(substr(px, CAST(k * 3 + 1 AS INTEGER), 1)))) AS BIGINT)
       |    AS sum_r,
       |  CAST(list_sum(list_transform(range(0, CAST(width * height AS BIGINT)),
       |    k -> ascii(substr(px, CAST(k * 3 + 2 AS INTEGER), 1)))) AS BIGINT)
       |    AS sum_g,
       |  CAST(list_sum(list_transform(range(0, CAST(width * height AS BIGINT)),
       |    k -> ascii(substr(px, CAST(k * 3 + 3 AS INTEGER), 1)))) AS BIGINT)
       |    AS sum_b,
       |$cellSelect
       |  FROM d),
       |g AS (SELECT *, CAST($dhashExpr AS BIGINT) AS dhash FROM f)""".stripMargin
  }

  private val bm25Cte: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks,
      |             CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
      |           FROM documents),
      |ls AS (SELECT CAST(sum(dl) AS BIGINT) AS sum_dl,
      |              CAST(count(*) AS BIGINT) AS n_docs FROM d),
      |tf AS (SELECT doc_id, dl, t AS term, CAST(count(*) AS BIGINT) AS tf
      |       FROM (SELECT doc_id, dl, unnest(toks) AS t FROM d)
      |       WHERE t IN ('dup', 'spark', 'vector', 'stream', 'window')
      |       GROUP BY doc_id, dl, t),
      |df AS (SELECT t AS term, CAST(count(*) AS BIGINT) AS df
      |       FROM (SELECT doc_id, unnest(list_distinct(toks)) AS t FROM d)
      |       WHERE t IN ('dup', 'spark', 'vector', 'stream', 'window')
      |       GROUP BY t),
      |sc AS (SELECT tf.doc_id,
      |         CAST(floor(
      |           ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
      |                    / (CAST(df AS DOUBLE) + 0.5))
      |           * ((CAST(tf AS DOUBLE) * (1.2 + 1.0))
      |              / (CAST(tf AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75
      |                 * (CAST(dl AS DOUBLE)
      |                    / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))))
      |           * 1048576.0 + 0.5) AS BIGINT) AS part_u20
      |       FROM tf JOIN df USING (term), ls)""".stripMargin

  /** Hilbert xy2d as 16 GENERATED rounds (one CTE per scale bit, high →
    * low), derived from the same scale constants as
    * [[graft.functions.Hilbert2]] so the SQL provably mirrors the
    * expression: per round, add the quadrant's curve offset s²·((3rx)^ry)
    * to d, then reflect within the full grid (65535−·) and transpose
    * when ry=0 — columns are versioned (x0→x16) so no round shadows its
    * own inputs. */
  private val hilbertCte: String = {
    val rounds = (15 to 0 by -1).zipWithIndex.map { case (k, i) =>
      val s = 1L << k
      val (px, py, pd) = (s"x$i", s"y$i", s"d$i")
      val j = i + 1
      // the quadrant constant must be BIGINT: at the top round s² = 2^30
      // and DuckDB folds `1073741824 * 3` in INT32 → overflow the moment
      // any partkey sets the top coordinate bit (first seen at the sf1
      // tier, where partkeys reach 200k)
      s"""h$j AS (SELECT l_orderkey, l_linenumber,
         |  $pd + CAST(${s * s} AS BIGINT) * (CASE
         |      WHEN ($px & $s) != 0 AND ($py & $s) != 0 THEN 2
         |      WHEN ($px & $s) != 0 THEN 3
         |      WHEN ($py & $s) != 0 THEN 1 ELSE 0 END) AS d$j,
         |  CASE WHEN ($py & $s) != 0 THEN $px
         |       WHEN ($px & $s) != 0 THEN 65535 - $py ELSE $py END AS x$j,
         |  CASE WHEN ($py & $s) != 0 THEN $py
         |       WHEN ($px & $s) != 0 THEN 65535 - $px ELSE $px END AS y$j
         |FROM h$i)""".stripMargin
    }
    s"""WITH h0 AS (SELECT l_orderkey, l_linenumber,
       |  l_partkey % 65536 AS x0, l_suppkey % 65536 AS y0,
       |  CAST(0 AS BIGINT) AS d0 FROM lineitem),
       |${rounds.mkString(",\n")}""".stripMargin
  }

  val llm: Map[String, String] = Map(
    "hilbert_key" -> (hilbertCte +
      """
        |SELECT l_orderkey, l_linenumber, d16 AS h
        |FROM h16 ORDER BY l_orderkey, l_linenumber""".stripMargin),
    "text_analysis" ->
      """SELECT doc_id,
        |       CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
        |       CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_types,
        |       CAST(length(text) AS INTEGER) AS n_chars_actual,
        |       length(text) = n_chars AS chars_ok,
        |       CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
        |         / len(string_split(text, ' ')) AS avg_token_len
        |FROM documents ORDER BY doc_id""".stripMargin,
    "token_count" ->
      """SELECT doc_id,
        |       CAST(len(string_split(text, ' ')) AS INTEGER) AS n_ws_tokens,
        |       CAST(len(regexp_extract_all(text, '[a-z]+')) AS INTEGER) AS n_word_tokens,
        |       CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INTEGER) AS n_bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "quality_score" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |q AS (SELECT doc_id,
        |        CAST(len(toks) AS INTEGER) AS n_tokens,
        |        CAST(len(list_filter(toks, t -> t = 'the' OR t = 'a')) AS INTEGER) AS n_stop,
        |        len(list_distinct(toks)) AS n_types
        |      FROM t)
        |SELECT doc_id, n_tokens, n_stop,
        |       CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
        |       CAST(n_types AS DOUBLE) / n_tokens AS ttr,
        |       least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) AS len_score,
        |       least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4 +
        |         (CAST(n_types AS DOUBLE) / n_tokens * 0.3 +
        |          (1.0 - CAST(n_stop AS DOUBLE) / n_tokens) * 0.3) AS quality
        |FROM q ORDER BY doc_id""".stripMargin,
    "lang_id" ->
      """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
        |s AS (SELECT doc_id, lang AS labeled_lang,
        |  CAST(len(list_filter(toks, t -> t='the' OR t='a' OR t='of' OR t='and')) AS INTEGER) AS n_en,
        |  CAST(len(list_filter(toks, t -> t='der' OR t='die' OR t='und' OR t='das')) AS INTEGER) AS n_de,
        |  CAST(len(list_filter(toks, t -> t='el' OR t='la' OR t='de' OR t='y')) AS INTEGER) AS n_es,
        |  CAST(len(list_filter(toks, t -> t='le' OR t='la' OR t='et' OR t='les')) AS INTEGER) AS n_fr
        | FROM t)
        |SELECT doc_id, labeled_lang, n_en, n_de, n_es, n_fr,
        |  CASE WHEN greatest(n_en, n_de, n_es, n_fr) = 0 THEN 'und'
        |       WHEN n_en = greatest(n_en, n_de, n_es, n_fr) THEN 'en'
        |       WHEN n_de = greatest(n_en, n_de, n_es, n_fr) THEN 'de'
        |       WHEN n_es = greatest(n_en, n_de, n_es, n_fr) THEN 'es'
        |       ELSE 'fr' END AS pred_lang
        |FROM s ORDER BY doc_id""".stripMargin,
    "lang_id_eval" ->
      """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
        |s AS (SELECT doc_id, lang AS labeled_lang,
        |  CAST(len(list_filter(toks, t -> t='the' OR t='a' OR t='of' OR t='and')) AS INTEGER) AS n_en,
        |  CAST(len(list_filter(toks, t -> t='der' OR t='die' OR t='und' OR t='das')) AS INTEGER) AS n_de,
        |  CAST(len(list_filter(toks, t -> t='el' OR t='la' OR t='de' OR t='y')) AS INTEGER) AS n_es,
        |  CAST(len(list_filter(toks, t -> t='le' OR t='la' OR t='et' OR t='les')) AS INTEGER) AS n_fr
        | FROM t),
        |p AS (SELECT labeled_lang,
        |  CASE WHEN greatest(n_en, n_de, n_es, n_fr) = 0 THEN 'und'
        |       WHEN n_en = greatest(n_en, n_de, n_es, n_fr) THEN 'en'
        |       WHEN n_de = greatest(n_en, n_de, n_es, n_fr) THEN 'de'
        |       WHEN n_es = greatest(n_en, n_de, n_es, n_fr) THEN 'es'
        |       ELSE 'fr' END AS pred_lang
        |FROM s)
        |SELECT labeled_lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CASE WHEN labeled_lang = pred_lang THEN 1 ELSE 0 END AS correct
        |FROM p GROUP BY labeled_lang, pred_lang
        |ORDER BY labeled_lang, pred_lang""".stripMargin,
    "fingerprint" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT doc_id, list_transform(generate_series(1, len(w) - 4),
        |        i -> array_to_string(w[i:i+4], ' ')) AS grams FROM t)
        |SELECT doc_id, CAST(len(grams) AS INTEGER) AS n_grams,
        |       list_min(list_transform(grams,
        |         g -> CAST(concat('0x', substr(md5(g), 1, 15)) AS BIGINT))) AS fingerprint
        |FROM g ORDER BY doc_id""".stripMargin,
    "doc_dedup_exact" ->
      """SELECT md5(text) AS text_md5, min(doc_id) AS keeper_doc_id,
        |       count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY keeper_doc_id""".stripMargin,
    "minhash_signatures" -> (minhashCte +
      """
        |SELECT doc_id,
        |  array_to_string(sig[1:4], ',') AS b0,
        |  array_to_string(sig[5:8], ',') AS b1,
        |  array_to_string(sig[9:12], ',') AS b2,
        |  array_to_string(sig[13:16], ',') AS b3
        |FROM s ORDER BY doc_id""".stripMargin),
    "minhash_dedup_pairs" -> (minhashCte +
      """,
        |b AS MATERIALIZED (SELECT doc_id, ks.k, array_to_string(sig[4*ks.k+1:4*ks.k+4], ',') AS bv, sig
        |      FROM s, (SELECT unnest([0,1,2,3]) AS k) ks)
        |SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |  CAST(list_sum(list_transform(range(1, 17),
        |    i -> CASE WHEN x.sig[i] = y.sig[i] THEN 1 ELSE 0 END)) AS DOUBLE) / 16 AS est_jaccard
        |FROM b x JOIN b y ON x.k = y.k AND x.bv = y.bv AND x.doc_id < y.doc_id
        |ORDER BY doc_a, doc_b""".stripMargin),
    "cluster_split" ->
      s"""SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
         |       CAST(sum(doc_id) AS BIGINT) AS id_checksum
         |FROM (SELECT doc_id, cluster_id,
         |        CASE WHEN CAST(concat('0x',
         |               substr(md5(CAST(cluster_id AS VARCHAR)), 1, 15))
         |               AS BIGINT) % 100 < 80 THEN 'train'
         |             WHEN CAST(concat('0x',
         |               substr(md5(CAST(cluster_id AS VARCHAR)), 1, 15))
         |               AS BIGINT) % 100 < 90 THEN 'val'
         |             ELSE 'test' END AS split
         |      FROM ($clustersSql) c) s
         |GROUP BY split ORDER BY split""".stripMargin,
    "split_leakage" -> (simhashCte +
      governedPairsCte +
      """,
        |sp AS (SELECT pa, pb,
        |         CASE WHEN CAST(concat('0x', substr(md5(CAST(pa AS VARCHAR)), 1, 15))
        |                   AS BIGINT) % 100 < 80 THEN 'train'
        |              WHEN CAST(concat('0x', substr(md5(CAST(pa AS VARCHAR)), 1, 15))
        |                   AS BIGINT) % 100 < 90 THEN 'val'
        |              ELSE 'test' END AS split_a,
        |         CASE WHEN CAST(concat('0x', substr(md5(CAST(pb AS VARCHAR)), 1, 15))
        |                   AS BIGINT) % 100 < 80 THEN 'train'
        |              WHEN CAST(concat('0x', substr(md5(CAST(pb AS VARCHAR)), 1, 15))
        |                   AS BIGINT) % 100 < 90 THEN 'val'
        |              ELSE 'test' END AS split_b
        |       FROM pairs)
        |SELECT split_a, split_b, CAST(count(*) AS BIGINT) AS n_pairs,
        |       CAST(sum(pa + pb) AS BIGINT) AS id_checksum,
        |       CASE WHEN split_a <> split_b THEN 1 ELSE 0 END AS cross_split
        |FROM sp GROUP BY split_a, split_b
        |ORDER BY split_a, split_b""".stripMargin),
    "minhash_calibration" -> (minhashCte +
      """,
        |b AS MATERIALIZED (SELECT doc_id, ks.k, array_to_string(sig[4*ks.k+1:4*ks.k+4], ',') AS bv, sig
        |      FROM s, (SELECT unnest([0,1,2,3]) AS k) ks),
        |p AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |        CAST(list_sum(list_transform(range(1, 17),
        |          i -> CASE WHEN x.sig[i] = y.sig[i] THEN 1 ELSE 0 END)) AS DOUBLE) / 16
        |          AS est
        |      FROM b x JOIN b y ON x.k = y.k AND x.bv = y.bv AND x.doc_id < y.doc_id),
        |j AS (SELECT p.doc_a, p.doc_b, p.est,
        |        CAST(len(list_intersect(ga.grams, gb.grams)) AS BIGINT) AS n_inter,
        |        CAST(len(ga.grams) AS BIGINT) + CAST(len(gb.grams) AS BIGINT)
        |          - CAST(len(list_intersect(ga.grams, gb.grams)) AS BIGINT) AS n_union
        |      FROM p JOIN g ga ON ga.doc_id = p.doc_a
        |             JOIN g gb ON gb.doc_id = p.doc_b),
        |q AS (SELECT doc_a, doc_b, n_inter, n_union,
        |        CAST(floor(est * 1048576.0 + 0.5) AS BIGINT) AS est_u20,
        |        CAST(floor(CAST(n_inter AS DOUBLE) / n_union * 1048576.0 + 0.5)
        |             AS BIGINT) AS exact_u20
        |      FROM j)
        |SELECT doc_a, doc_b, n_inter, n_union, est_u20, exact_u20,
        |       abs(est_u20 - exact_u20) AS err_u20
        |FROM q ORDER BY doc_a, doc_b""".stripMargin),
    "minhash_incremental" -> (minhashCte +
      """,
        |b AS MATERIALIZED (SELECT doc_id, ks.k, array_to_string(sig[4*ks.k+1:4*ks.k+4], ',') AS bv, sig
        |      FROM s, (SELECT unnest([0,1,2,3]) AS k) ks)
        |SELECT DISTINCT x.doc_id AS new_doc, y.doc_id AS index_doc,
        |  CAST(list_sum(list_transform(range(1, 17),
        |    i -> CASE WHEN x.sig[i] = y.sig[i] THEN 1 ELSE 0 END)) AS DOUBLE) / 16
        |    AS est_jaccard
        |FROM b x JOIN b y ON x.k = y.k AND x.bv = y.bv
        |WHERE x.doc_id % 10 = 7 AND y.doc_id % 10 <> 7
        |ORDER BY new_doc, index_doc""".stripMargin),
    // k16 is the integer slot-agreement count (est·16) — boundary-exact
    // at every threshold; DuckDB's rounding double→BIGINT cast and
    // Spark's truncating one agree because the value IS an integer
    "dedup_threshold_sweep" -> (minhashCte +
      """,
        |b AS MATERIALIZED (SELECT doc_id, ks.k, array_to_string(sig[4*ks.k+1:4*ks.k+4], ',') AS bv, sig
        |      FROM s, (SELECT unnest([0,1,2,3]) AS k) ks),
        |p AS MATERIALIZED (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |        CAST(list_sum(list_transform(range(1, 17),
        |          i -> CASE WHEN x.sig[i] = y.sig[i] THEN 1 ELSE 0 END)) AS BIGINT) AS k16
        |      FROM b x JOIN b y ON x.k = y.k AND x.bv = y.bv AND x.doc_id < y.doc_id),
        |t AS (SELECT unnest([4, 8, 12]) AS threshold_16ths)
        |SELECT t.threshold_16ths, CAST(count(p.doc_a) AS BIGINT) AS n_pairs,
        |       CAST(count(DISTINCT p.doc_b) AS BIGINT) AS n_dropped_docs,
        |       CAST(COALESCE(sum(p.doc_a + p.doc_b), 0) AS BIGINT) AS id_checksum
        |FROM t LEFT JOIN p ON p.k16 >= t.threshold_16ths
        |GROUP BY t.threshold_16ths
        |ORDER BY threshold_16ths""".stripMargin),
    // theory side: explicit left-associated multiply chains (no libm
    // pow) — exact dyadics until the final multiply, which rounds
    // identically under IEEE in both engines
    "lsh_scurve" -> (minhashCte +
      """,
        |b AS MATERIALIZED (SELECT doc_id, ks.k, array_to_string(sig[4*ks.k+1:4*ks.k+4], ',') AS bv, sig
        |      FROM s, (SELECT unnest([0,1,2,3]) AS k) ks),
        |p AS MATERIALIZED (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        |      FROM b x JOIN b y ON x.k = y.k AND x.bv = y.bv AND x.doc_id < y.doc_id),
        |j AS (SELECT p.doc_a, p.doc_b,
        |        CAST(len(list_intersect(ga.grams, gb.grams)) AS BIGINT) AS n_inter,
        |        CAST(len(ga.grams) AS BIGINT) + CAST(len(gb.grams) AS BIGINT)
        |          - CAST(len(list_intersect(ga.grams, gb.grams)) AS BIGINT) AS n_union
        |      FROM p JOIN g ga ON ga.doc_id = p.doc_a
        |             JOIN g gb ON gb.doc_id = p.doc_b),
        |emp AS (SELECT CAST(floor(CAST(n_inter AS DOUBLE) / n_union * 16.0)
        |                    AS INTEGER) AS s_16th,
        |               CAST(count(*) AS BIGINT) AS n_candidates
        |        FROM j GROUP BY 1),
        |sg AS (SELECT unnest(generate_series(0, 16)) AS s16),
        |sv AS (SELECT s16, CAST(s16 AS DOUBLE) / 16.0 AS sd FROM sg),
        |s4 AS (SELECT s16, sd * sd * sd * sd AS s4 FROM sv),
        |qv AS (SELECT s16, 1.0 - s4 AS q FROM s4),
        |pv AS (SELECT s16, 1.0 - q * q * q * q AS p FROM qv)
        |SELECT CAST(pv.s16 AS INTEGER) AS s_16th,
        |       CAST(floor(pv.p * 1048576.0 + 0.5) AS BIGINT) AS p_candidate_u20,
        |       COALESCE(emp.n_candidates, 0) AS n_candidates
        |FROM pv LEFT JOIN emp ON emp.s_16th = pv.s16
        |ORDER BY s_16th""".stripMargin),
    "pair_graph_pagerank" -> pagerankSql,
    "media_text_pairs" ->
      s"""WITH c AS (SELECT vec_id AS cell_id, embedding AS ce
         |           FROM embeddings WHERE vec_id < 16),
         |s AS (SELECT e.vec_id, c.cell_id,
         |        ${cosSql("e.embedding", "c.ce")} AS score FROM embeddings e, c),
         |r AS (SELECT vec_id, cell_id, score, row_number() OVER (
         |        PARTITION BY vec_id ORDER BY score DESC, cell_id) AS rnk FROM s),
         |a AS (SELECT vec_id, cell_id,
         |        CAST(floor(score * 1048576.0 + 0.5) AS BIGINT) AS score_u20
         |      FROM r WHERE rnk = 1),
         |cap AS (SELECT doc_id, source,
         |          CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens
         |        FROM documents)
         |SELECT cap.doc_id, cap.source, cap.n_tokens, a.cell_id, a.score_u20,
         |       CASE WHEN cap.n_tokens >= 5 AND a.score_u20 >= 104858
         |            THEN 1 ELSE 0 END AS kept
         |FROM cap JOIN a ON a.vec_id = cap.doc_id
         |ORDER BY cap.doc_id""".stripMargin,
    "media_shard_pack" ->
      """WITH f AS (SELECT source, doc_id, n_chars,
        |             sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |               - n_chars AS off
        |           FROM documents)
        |SELECT source, CAST(off // 4096 AS BIGINT) AS shard_id,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS shard_bytes,
        |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM f GROUP BY source, shard_id
        |ORDER BY source, shard_id""".stripMargin,
    "label_propagation" -> (simhashCte +
      governedPairsCte +
      """,
        |e AS (SELECT pa AS src, pb AS dst FROM pairs
        |      UNION ALL SELECT pb, pa FROM pairs),
        |l0 AS (SELECT DISTINCT src AS doc_id, src AS label FROM e),
        |n1 AS (SELECT e.src, l.label, CAST(count(*) AS BIGINT) AS c
        |       FROM e JOIN l0 l ON l.doc_id = e.dst GROUP BY e.src, l.label),
        |l1 AS (SELECT src AS doc_id, label FROM (
        |         SELECT src, label, row_number() OVER (
        |           PARTITION BY src ORDER BY c DESC, label) AS rn FROM n1)
        |       WHERE rn = 1),
        |n2 AS (SELECT e.src, l.label, CAST(count(*) AS BIGINT) AS c
        |       FROM e JOIN l1 l ON l.doc_id = e.dst GROUP BY e.src, l.label),
        |l2 AS (SELECT src AS doc_id, label FROM (
        |         SELECT src, label, row_number() OVER (
        |           PARTITION BY src ORDER BY c DESC, label) AS rn FROM n2)
        |       WHERE rn = 1)
        |SELECT doc_id, label FROM l2 ORDER BY doc_id""".stripMargin),
    // LPA labels (2 unrolled rounds, same as label_propagation) + the
    // per-community modularity contribution as the exact integer
    // numerator 4·m·e_c − d_c² — division-free
    "graph_modularity" -> (simhashCte +
      governedPairsCte +
      """,
        |e AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM pairs
        |      UNION ALL SELECT pb, pa FROM pairs),
        |l0 AS (SELECT DISTINCT src AS doc_id, src AS label FROM e),
        |n1 AS (SELECT e.src, l.label, CAST(count(*) AS BIGINT) AS c
        |       FROM e JOIN l0 l ON l.doc_id = e.dst GROUP BY e.src, l.label),
        |l1 AS MATERIALIZED (SELECT src AS doc_id, label FROM (
        |         SELECT src, label, row_number() OVER (
        |           PARTITION BY src ORDER BY c DESC, label) AS rn FROM n1)
        |       WHERE rn = 1),
        |n2 AS (SELECT e.src, l.label, CAST(count(*) AS BIGINT) AS c
        |       FROM e JOIN l1 l ON l.doc_id = e.dst GROUP BY e.src, l.label),
        |l2 AS MATERIALIZED (SELECT src AS doc_id, label FROM (
        |         SELECT src, label, row_number() OVER (
        |           PARTITION BY src ORDER BY c DESC, label) AS rn FROM n2)
        |       WHERE rn = 1),
        |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM pairs),
        |wl AS (SELECT p.pa, p.pb, a.label AS la, b2.label AS lb
        |       FROM pairs p JOIN l2 a ON a.doc_id = p.pa
        |                    JOIN l2 b2 ON b2.doc_id = p.pb),
        |ein AS (SELECT la AS label, CAST(count(*) AS BIGINT) AS e_in
        |        FROM wl WHERE la = lb GROUP BY 1),
        |deg AS (SELECT src AS doc_id, CAST(count(*) AS BIGINT) AS deg
        |        FROM e GROUP BY 1),
        |dc AS (SELECT l2.label, CAST(count(*) AS BIGINT) AS n_nodes,
        |              CAST(sum(deg) AS BIGINT) AS d_sum
        |       FROM deg JOIN l2 ON l2.doc_id = deg.doc_id GROUP BY 1)
        |SELECT dc.label, dc.n_nodes, COALESCE(ein.e_in, 0) AS e_in, dc.d_sum,
        |       4 * mm.m * COALESCE(ein.e_in, 0) - dc.d_sum * dc.d_sum
        |         AS contrib_num
        |FROM dc LEFT JOIN ein ON ein.label = dc.label CROSS JOIN mm
        |ORDER BY dc.label""".stripMargin),
    "graph_triangles" -> (simhashCte + governedPairsCte +
      """,
        |dg AS MATERIALIZED (SELECT v, count(*) AS deg FROM (
        |        SELECT pa AS v FROM pairs UNION ALL SELECT pb AS v FROM pairs)
        |      GROUP BY v),
        |pairsc AS MATERIALIZED (SELECT pa, pb FROM pairs
        |          JOIN dg da ON da.v = pairs.pa JOIN dg db ON db.v = pairs.pb
        |          WHERE da.deg <= 256 AND db.deg <= 256),
        |t AS (SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c
        |      FROM pairsc e1 JOIN pairsc e2 ON e1.pb = e2.pa
        |      JOIN pairsc e3 ON e3.pa = e1.pa AND e3.pb = e2.pb)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_triangles
        |FROM (SELECT unnest([a, b, c]) AS doc_id FROM t)
        |GROUP BY doc_id ORDER BY n_triangles DESC, doc_id LIMIT 20""".stripMargin),
    // power iteration unrolled 3 rounds: trace-normalized gram rows as
    // ordered lists, mat-vec = ordered list_sum fold (left-to-right, the
    // same accumulation order as the Scala while loop), max-norm
    // re-quantization to 2^-20 between rounds keeps every value exact
    "embedding_pca" ->
      """WITH q AS (SELECT vec_id, list_transform(embedding,
        |             x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0 + 0.5)
        |                       AS BIGINT)) AS xs FROM embeddings),
        |e AS (SELECT vec_id, t.i AS i, xs[t.i + 1] AS x FROM q, range(64) t(i)),
        |gm AS (SELECT a.i AS i, b.i AS j, CAST(sum(a.x * b.x) AS BIGINT) AS s
        |       FROM e a JOIN e b ON a.vec_id = b.vec_id GROUP BY a.i, b.i),
        |tr AS (SELECT CAST(sum(s) AS BIGINT) AS trace FROM gm WHERE i = j),
        |gr AS (SELECT i, list(CAST(s AS DOUBLE) / CAST(trace AS DOUBLE)
        |                      ORDER BY j) AS gs
        |       FROM gm CROSS JOIN tr GROUP BY i),
        |x0 AS (SELECT list_transform(range(64), j -> CAST(1048576 AS DOUBLE)) AS xv),
        |y1 AS (SELECT i, list_sum(list_transform(range(64),
        |                j -> gs[j+1] * xv[j+1])) AS y FROM gr CROSS JOIN x0),
        |m1 AS (SELECT max(abs(y)) AS m FROM y1),
        |x1 AS (SELECT list(floor(y / m * 1048576.0 + 0.5) ORDER BY i) AS xv
        |       FROM y1 CROSS JOIN m1),
        |y2 AS (SELECT i, list_sum(list_transform(range(64),
        |                j -> gs[j+1] * xv[j+1])) AS y FROM gr CROSS JOIN x1),
        |m2 AS (SELECT max(abs(y)) AS m FROM y2),
        |x2 AS (SELECT list(floor(y / m * 1048576.0 + 0.5) ORDER BY i) AS xv
        |       FROM y2 CROSS JOIN m2),
        |y3 AS (SELECT i, list_sum(list_transform(range(64),
        |                j -> gs[j+1] * xv[j+1])) AS y FROM gr CROSS JOIN x2),
        |m3 AS (SELECT max(abs(y)) AS m FROM y3),
        |x3 AS (SELECT list(floor(y / m * 1048576.0 + 0.5) ORDER BY i) AS xv
        |       FROM y3 CROSS JOIN m3)
        |SELECT CAST(t.i AS INTEGER) AS dim, CAST(xv[t.i + 1] AS BIGINT)
        |         AS loading_u20
        |FROM x3, range(64) t(i) ORDER BY dim""".stripMargin,
    // degree histogram buckets via integer bit length (length(bin(x))-1):
    // both engines print unpadded binary, so bucket edges are exact
    "graph_degree_hist" -> (simhashCte +
      governedPairsCte +
      """,
        |deg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS deg FROM
        |        (SELECT pa AS doc_id FROM pairs
        |         UNION ALL SELECT pb AS doc_id FROM pairs)
        |        GROUP BY doc_id)
        |SELECT CAST(length(bin(deg)) - 1 AS INTEGER) AS deg_bucket,
        |       CAST(count(*) AS BIGINT) AS n_nodes,
        |       min(deg) AS min_deg, max(deg) AS max_deg,
        |       CAST(sum(deg) AS BIGINT) AS sum_deg
        |FROM deg GROUP BY 1 ORDER BY deg_bucket""".stripMargin),
    // 8 unrolled peel rounds: the Spark loop stops at its first empty
    // kill wave, so any unrolled round past the fixpoint is the identity,
    // and its unrollGuard fails the query if a fixture ever needs more
    // than 8 waves. The multi-referenced CTEs are MATERIALIZED: DuckDB
    // inlines CTEs by default, and each round references the previous
    // one twice — inlined, the unroll would re-evaluate the simhash chain
    // 2^8 times
    "kcore_membership" -> (simhashCte + governedPairsCte +
      s""",
         |e AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM pairs
         |      UNION ALL SELECT pb, pa FROM pairs),
         |v0 AS MATERIALIZED (SELECT DISTINCT src AS doc_id FROM e),
         |${(1 to 8).map(i =>
             s"v$i AS MATERIALIZED (SELECT e.src AS doc_id FROM e " +
               s"JOIN v${i - 1} x ON x.doc_id = e.src " +
               s"JOIN v${i - 1} y ON y.doc_id = e.dst " +
               "GROUP BY e.src HAVING count(*) >= 3)").mkString(",\n")},
         |cd AS (SELECT e.src AS doc_id, CAST(count(*) AS BIGINT) AS core_deg
         |       FROM e JOIN v8 x ON x.doc_id = e.src
         |              JOIN v8 y ON y.doc_id = e.dst
         |       GROUP BY e.src)
         |SELECT v0.doc_id,
         |       CASE WHEN cd.doc_id IS NOT NULL THEN 1 ELSE 0 END AS in_core,
         |       COALESCE(cd.core_deg, 0) AS core_deg
         |FROM v0 LEFT JOIN cd ON cd.doc_id = v0.doc_id
         |ORDER BY v0.doc_id""".stripMargin),
    // the three gate chains (repetition / entropy / bigram-LM, renamed
    // r_/e_/l_) + the minhash incremental band probe (m_), composed into
    // the batch funnel — flag thresholds identical to the standalone
    // repetition_score / entropy_score / lm_score / minhash_incremental
    // oracles; multi-referenced CTEs materialized
    "corpus_pipeline_incremental" ->
      """WITH ib AS MATERIALIZED (SELECT doc_id, md5(text) AS h,
        |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
        |        (doc_id % 10 = 7) AS is_new FROM documents),
        |r_tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |r_bg AS (SELECT doc_id, list_transform(range(1, len(ts)),
        |                 i -> ts[i] || ' ' || ts[i+1]) AS bgs
        |        FROM r_tok WHERE len(ts) >= 2),
        |r_e AS (SELECT doc_id, unnest(bgs) AS bg FROM r_bg),
        |r_c AS (SELECT doc_id, bg, count(*) AS n FROM r_e GROUP BY 1, 2),
        |r_t AS (SELECT doc_id, CAST(max(n) AS BIGINT) AS top_count,
        |               CAST(sum(n) AS BIGINT) AS n_bigrams FROM r_c GROUP BY 1),
        |rf AS MATERIALIZED (SELECT doc_id,
        |        CASE WHEN CAST(top_count AS DOUBLE) / n_bigrams > 0.05
        |             THEN 1 ELSE 0 END AS repetitive FROM r_t),
        |e_tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |          FROM documents),
        |e_c AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
        |        FROM e_tok GROUP BY doc_id, tok),
        |e_n AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens
        |        FROM e_c GROUP BY doc_id),
        |e_t AS (SELECT e_c.doc_id,
        |          CAST(floor(-(CAST(e_c.c AS DOUBLE) / e_n.n_tokens)
        |                     * ln(CAST(e_c.c AS DOUBLE) / e_n.n_tokens)
        |                     * CAST(1048576 AS DOUBLE) + 0.5) AS BIGINT) AS term_u20
        |        FROM e_c JOIN e_n USING (doc_id)),
        |ef AS MATERIALIZED (SELECT doc_id,
        |        CASE WHEN CAST(sum(term_u20) AS BIGINT) < 1572864
        |             THEN 1 ELSE 0 END AS ent_f FROM e_t GROUP BY doc_id),
        |l_tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |l_bg AS (SELECT doc_id, unnest(list_transform(range(1, len(ts)),
        |           i -> ts[i] || ' ' || ts[i+1])) AS bg
        |         FROM l_tok WHERE len(ts) >= 2),
        |l_bw AS (SELECT doc_id, bg, split_part(bg, ' ', 1) AS w1 FROM l_bg),
        |l_cb AS (SELECT bg, CAST(count(*) AS BIGINT) AS cnt_bg FROM l_bw GROUP BY 1),
        |l_cw AS (SELECT split_part(bg, ' ', 1) AS w1,
        |                CAST(sum(cnt_bg) AS BIGINT) AS cnt_w1 FROM l_cb GROUP BY 1),
        |l_s AS (SELECT doc_id,
        |          CAST(floor(ln(CAST(cnt_bg AS DOUBLE) / CAST(cnt_w1 AS DOUBLE))
        |                 * 1048576.0 + 0.5) AS BIGINT) AS u20
        |        FROM l_bw JOIN l_cb USING (bg) JOIN l_cw USING (w1)),
        |lf AS MATERIALIZED (SELECT doc_id,
        |        CASE WHEN CAST(sum(u20) AS DOUBLE) / count(*) < -4102053.0
        |             THEN 1 ELSE 0 END AS lm_f FROM l_s GROUP BY doc_id),
        |m_d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |m_g AS (SELECT doc_id, list_distinct(list_transform(
        |          generate_series(1, len(w) - 2),
        |          i -> array_to_string(w[i:i+2], ' '))) AS grams FROM m_d),
        |m_x AS (SELECT doc_id, list_transform(grams,
        |          s -> CAST(concat('0x', substr(md5(s), 1, 7)) AS BIGINT)) AS xs
        |        FROM m_g),
        |m_s AS MATERIALIZED (SELECT doc_id, list_transform(range(0, 16),
        |          i -> list_min(list_transform(xs,
        |                 v -> (v * (2*i + 1) + 7919*i + 1) % 268435399))) AS sig
        |        FROM m_x),
        |m_b AS MATERIALIZED (SELECT doc_id, ks.k,
        |          array_to_string(sig[4*ks.k+1:4*ks.k+4], ',') AS bv, sig
        |        FROM m_s, (SELECT unnest([0,1,2,3]) AS k) ks),
        |nh AS MATERIALIZED (SELECT DISTINCT x.doc_id
        |      FROM m_b x JOIN m_b y ON x.k = y.k AND x.bv = y.bv
        |      WHERE x.doc_id % 10 = 7 AND y.doc_id % 10 <> 7
        |        AND CAST(list_sum(list_transform(range(1, 17),
        |              i -> CASE WHEN x.sig[i] = y.sig[i] THEN 1 ELSE 0 END))
        |            AS DOUBLE) / 16 >= 0.5),
        |q AS MATERIALIZED (SELECT ib.*,
        |        CASE WHEN ib.is_new AND COALESCE(rf.repetitive, 0) = 0
        |              AND COALESCE(ef.ent_f, 0) = 0
        |              AND COALESCE(lf.lm_f, 0) = 0
        |             THEN 1 ELSE 0 END AS q_keep
        |      FROM ib LEFT JOIN rf ON rf.doc_id = ib.doc_id
        |              LEFT JOIN ef ON ef.doc_id = ib.doc_id
        |              LEFT JOIN lf ON lf.doc_id = ib.doc_id),
        |idx AS (SELECT DISTINCT h FROM ib WHERE NOT is_new),
        |bk AS (SELECT h, min(doc_id) AS b_keeper FROM q WHERE q_keep = 1
        |       GROUP BY h),
        |q2 AS (SELECT q.*, CASE WHEN q.q_keep = 1 AND idx.h IS NULL
        |               AND q.doc_id = bk.b_keeper THEN 1 ELSE 0 END AS e_keep
        |       FROM q LEFT JOIN idx ON idx.h = q.h
        |              LEFT JOIN bk ON bk.h = q.h
        |       WHERE q.is_new),
        |q3 AS (SELECT q2.*, CASE WHEN q2.e_keep = 1 AND nh.doc_id IS NULL
        |               THEN 1 ELSE 0 END AS c_keep
        |       FROM q2 LEFT JOIN nh ON nh.doc_id = q2.doc_id)
        |SELECT CAST(count(*) AS BIGINT) AS n_batch,
        |       CAST(sum(n_toks) AS BIGINT) AS tok_batch,
        |       CAST(sum(q_keep) AS BIGINT) AS n_quality,
        |       CAST(sum(q_keep * n_toks) AS BIGINT) AS tok_quality,
        |       CAST(sum(e_keep) AS BIGINT) AS n_exact,
        |       CAST(sum(e_keep * n_toks) AS BIGINT) AS tok_exact,
        |       CAST(sum(c_keep) AS BIGINT) AS n_ingest,
        |       CAST(sum(c_keep * n_toks) AS BIGINT) AS tok_ingest
        |FROM q3""".stripMargin,
    // the lm_score CTE chain + per-lang tercile by row_number (the Spark
    // side subtracts per-lang first-rank offsets from ONE global rank —
    // identical within-lang order, identical integer bucket math)
    "perplexity_buckets" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |bg AS (SELECT doc_id,
        |         unnest(list_transform(range(1, len(ts)),
        |           i -> ts[i] || ' ' || ts[i+1])) AS bg
        |       FROM tok WHERE len(ts) >= 2),
        |bw AS (SELECT doc_id, bg, split_part(bg, ' ', 1) AS w1 FROM bg),
        |cb AS (SELECT bg, CAST(count(*) AS BIGINT) AS cnt_bg FROM bw GROUP BY 1),
        |cw AS (SELECT split_part(bg, ' ', 1) AS w1,
        |              CAST(sum(cnt_bg) AS BIGINT) AS cnt_w1 FROM cb GROUP BY 1),
        |s AS (SELECT doc_id,
        |        CAST(floor(ln(CAST(cnt_bg AS DOUBLE) / CAST(cnt_w1 AS DOUBLE))
        |               * 1048576.0 + 0.5) AS BIGINT) AS u20
        |      FROM bw JOIN cb USING (bg) JOIN cw USING (w1)),
        |d AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |             CAST(sum(u20) AS BIGINT) AS sum_logprob_u20
        |      FROM s GROUP BY doc_id),
        |j AS (SELECT d.doc_id, doc.lang, d.n_bigrams,
        |        CAST(d.sum_logprob_u20 AS DOUBLE) / CAST(d.n_bigrams AS DOUBLE)
        |          AS avg_u20
        |      FROM d JOIN documents doc ON doc.doc_id = d.doc_id),
        |r AS (SELECT lang, n_bigrams, avg_u20,
        |        row_number() OVER (PARTITION BY lang
        |                           ORDER BY avg_u20 DESC, doc_id) AS rk,
        |        count(*) OVER (PARTITION BY lang) AS n_lang
        |      FROM j),
        |g AS (SELECT lang, CAST(((rk - 1) * 3) // n_lang AS INTEGER) AS bucket,
        |             n_bigrams, avg_u20 FROM r)
        |SELECT lang, bucket, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_bigrams) AS BIGINT) AS sum_bigrams,
        |       min(avg_u20) AS min_avg_u20, max(avg_u20) AS max_avg_u20,
        |       CASE WHEN bucket = 0 THEN 'head'
        |            WHEN bucket = 1 THEN 'middle' ELSE 'tail' END AS bucket_label
        |FROM g GROUP BY lang, bucket ORDER BY lang, bucket""".stripMargin,
    "reservoir_sample" ->
      """WITH h AS (SELECT source, doc_id,
        |  CAST(concat('0x', substr(md5('rsv:' || CAST(doc_id AS VARCHAR)), 1, 15))
        |       AS BIGINT) AS h
        |  FROM documents),
        |r AS (SELECT source, doc_id, h,
        |  row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rnk FROM h)
        |SELECT source, CAST(rnk AS INTEGER) AS rnk, doc_id, h
        |FROM r WHERE rnk <= 5 ORDER BY source, rnk""".stripMargin,
    "weighted_sample" ->
      """WITH h AS (SELECT source, doc_id, n_chars,
        |  CAST(concat('0x', substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 15))
        |       AS BIGINT) AS h
        |  FROM documents WHERE n_chars > 0),
        |k AS (SELECT source, doc_id, n_chars,
        |  CAST(floor(-ln((CAST(h AS DOUBLE) + 1) / 1152921504606846976.0)
        |             / CAST(n_chars AS DOUBLE) * 1048576 + 0.5) AS BIGINT)
        |    AS key_u20
        |  FROM h),
        |r AS (SELECT source, doc_id, n_chars, key_u20, row_number()
        |        OVER (PARTITION BY source ORDER BY key_u20, doc_id) AS rnk
        |      FROM k)
        |SELECT source, CAST(rnk AS INTEGER) AS rnk, doc_id, n_chars, key_u20
        |FROM r WHERE rnk <= 5 ORDER BY source, rnk""".stripMargin,
    "mixture_temperature" ->
      """WITH tok AS (SELECT source, len(string_split(text, ' ')) AS toks
        |             FROM documents),
        |per AS (SELECT source, CAST(sum(toks) AS BIGINT) AS src_tokens
        |        FROM tok GROUP BY source),
        |t AS (SELECT CAST(sum(src_tokens) AS BIGINT) AS total_tokens FROM per),
        |w AS (SELECT source, src_tokens,
        |        CAST(floor(CAST(src_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE)
        |                   * 1048576 + 0.5) AS BIGINT) AS p_u20,
        |        CAST(floor(exp(ln(CAST(src_tokens AS DOUBLE)
        |                          / CAST(total_tokens AS DOUBLE)) * 0.7)
        |                   * 1048576 + 0.5) AS BIGINT) AS w_u20
        |      FROM per CROSS JOIN t),
        |wt AS (SELECT CAST(sum(w_u20) AS BIGINT) AS w_total FROM w)
        |SELECT source, src_tokens, p_u20, w_u20,
        |       CAST(floor(CAST(w_u20 AS DOUBLE) / CAST(w_total AS DOUBLE)
        |                  * 1048576 + 0.5) AS BIGINT) AS share_u20,
        |       CAST(floor(CAST(w_u20 AS DOUBLE) / CAST(w_total AS DOUBLE)
        |                  * 1048576 + 0.5) AS BIGINT) > p_u20 AS upsampled
        |FROM w CROSS JOIN wt ORDER BY source""".stripMargin,
    "curriculum_order" ->
      """WITH r AS (SELECT doc_id, n_chars,
        |             ntile(8) OVER (ORDER BY n_chars, doc_id) AS phase
        |           FROM documents)
        |SELECT CAST(phase AS INTEGER) AS phase,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM r GROUP BY phase ORDER BY phase""".stripMargin,
    "zipf_slope" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |u AS (SELECT w, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY w),
        |t AS (SELECT w, n FROM u ORDER BY n DESC, w LIMIT 1024),
        |r AS (SELECT n, row_number() OVER (ORDER BY n DESC, w) AS rk FROM t),
        |q AS (SELECT CAST(floor(ln(CAST(rk AS DOUBLE)) * 4096 + 0.5) AS BIGINT) AS x,
        |             CAST(floor(ln(CAST(n AS DOUBLE)) * 4096 + 0.5) AS BIGINT) AS y
        |      FROM r),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |             CAST(sum(x*y) AS BIGINT) AS sxy,
        |             CAST(sum(x*x) AS BIGINT) AS sxx,
        |             CAST(sum(y*y) AS BIGINT) AS syy
        |      FROM q)
        |SELECT k AS n_terms,
        |       CAST(floor(CAST(k*sxy - sx*sy AS DOUBLE)
        |                  / CAST(k*sxx - sx*sx AS DOUBLE) * 1048576 + 0.5)
        |            AS BIGINT) AS slope_u20,
        |       CAST(floor(CAST(k*sxy - sx*sy AS DOUBLE)
        |                  * CAST(k*sxy - sx*sy AS DOUBLE)
        |                  / (CAST(k*sxx - sx*sx AS DOUBLE)
        |                     * CAST(k*syy - sy*sy AS DOUBLE)) * 1048576 + 0.5)
        |            AS BIGINT) AS r2_u20
        |FROM s""".stripMargin,
    "pq_codes" -> (pqCte +
      """
        |SELECT vec_id, string_agg(CAST(code AS VARCHAR), '-' ORDER BY m) AS codes,
        |       CAST(sum(CAST(floor(dist * CAST(1048576 AS DOUBLE) + 0.5)
        |                AS BIGINT)) AS BIGINT) AS err_u20
        |FROM best WHERE rn = 1
        |GROUP BY vec_id ORDER BY vec_id""".stripMargin),
    "pq_recall_eval" -> (pqCte +
      s""",
         |codes AS (SELECT vec_id, m, code FROM best WHERE rn = 1),
         |lut AS (SELECT vec_id AS p_id, m, cid,
         |          CAST(floor(dist * CAST(1048576 AS DOUBLE) + 0.5) AS BIGINT) AS ld
         |        FROM d WHERE vec_id < 8),
         |adc AS (SELECT l.p_id, c.vec_id, CAST(sum(l.ld) AS BIGINT) AS score
         |        FROM codes c JOIN lut l ON l.m = c.m AND l.cid = c.code
         |        WHERE c.vec_id <> l.p_id
         |        GROUP BY l.p_id, c.vec_id),
         |a5 AS (SELECT p_id, vec_id FROM (
         |         SELECT p_id, vec_id, row_number() OVER (
         |           PARTITION BY p_id ORDER BY score, vec_id) AS rnk FROM adc)
         |       WHERE rnk <= 5),
         |p AS (SELECT vec_id AS p_id, embedding AS pe
         |      FROM embeddings WHERE vec_id < 8),
         |ex AS (SELECT p.p_id, e.vec_id,
         |         (${dotSql("e.embedding", "e.embedding")}
         |          - CAST(2 AS DOUBLE) * ${dotSql("e.embedding", "p.pe")})
         |          + ${dotSql("p.pe", "p.pe")} AS score
         |       FROM embeddings e, p WHERE e.vec_id <> p.p_id),
         |e5 AS (SELECT p_id, vec_id FROM (
         |         SELECT p_id, vec_id, row_number() OVER (
         |           PARTITION BY p_id ORDER BY score, vec_id) AS rnk FROM ex)
         |       WHERE rnk <= 5),
         |h AS (SELECT e5.p_id, CAST(count(*) AS BIGINT) AS n_hits
         |      FROM e5 JOIN a5 USING (p_id, vec_id) GROUP BY e5.p_id)
         |SELECT p.p_id, COALESCE(h.n_hits, CAST(0 AS BIGINT)) AS n_hits,
         |       CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / CAST(5 AS DOUBLE) AS recall
         |FROM p LEFT JOIN h ON h.p_id = p.p_id ORDER BY p.p_id""".stripMargin),
    "pq_search" -> (pqCte +
      """,
        |lut AS (SELECT m, cid,
        |          CAST(floor(dist * CAST(1048576 AS DOUBLE) + 0.5) AS BIGINT) AS ld
        |        FROM d WHERE vec_id = 0),
        |codes AS (SELECT vec_id, m, code FROM best WHERE rn = 1 AND vec_id <> 0),
        |adc AS (SELECT c.vec_id, CAST(sum(l.ld) AS BIGINT) AS adc_u20
        |        FROM codes c JOIN lut l ON l.m = c.m AND l.cid = c.code
        |        GROUP BY c.vec_id)
        |SELECT a.vec_id, e.label, a.adc_u20
        |FROM adc a JOIN embeddings e ON e.vec_id = a.vec_id
        |ORDER BY a.adc_u20, a.vec_id LIMIT 5""".stripMargin),
    // IVF-PQ: pqCte's codes/LUT machinery + the ann_ivf_search cell
    // assignment; the ADC ranking only sees rows whose argmax cell is one
    // of the probe's two nearest cells
    "ivfpq_search" -> (pqCte +
      s""",
         |s AS (SELECT e.vec_id, e.label, c.cid AS cell_id,
         |        ${cosSql("e.embedding", "c.ce")} AS score
         |      FROM embeddings e, cents c),
         |r AS (SELECT vec_id, label, cell_id, score, row_number() OVER (
         |        PARTITION BY vec_id ORDER BY score DESC, cell_id) AS rnk FROM s),
         |a AS (SELECT vec_id, label, cell_id FROM r WHERE rnk = 1),
         |pc AS (SELECT cell_id AS pcell FROM r WHERE vec_id = 0 AND rnk <= 2),
         |lut AS (SELECT m, cid,
         |          CAST(floor(dist * CAST(1048576 AS DOUBLE) + 0.5) AS BIGINT) AS ld
         |        FROM d WHERE vec_id = 0),
         |codes AS (SELECT vec_id, m, code FROM best WHERE rn = 1 AND vec_id <> 0),
         |adc AS (SELECT c.vec_id, CAST(sum(l.ld) AS BIGINT) AS adc_u20
         |        FROM codes c JOIN lut l ON l.m = c.m AND l.cid = c.code
         |        GROUP BY c.vec_id)
         |SELECT a.vec_id, a.label, a.cell_id, adc.adc_u20
         |FROM adc JOIN a ON a.vec_id = adc.vec_id
         |JOIN pc ON a.cell_id = pc.pcell
         |ORDER BY adc.adc_u20, a.vec_id LIMIT 5""".stripMargin),
    "entropy_score" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |             FROM documents),
        |c AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
        |      FROM tok GROUP BY doc_id, tok),
        |n AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |             CAST(count(*) AS BIGINT) AS n_types
        |      FROM c GROUP BY doc_id),
        |t AS (SELECT c.doc_id,
        |        CAST(floor(-(CAST(c.c AS DOUBLE) / n.n_tokens)
        |                   * ln(CAST(c.c AS DOUBLE) / n.n_tokens)
        |                   * CAST(1048576 AS DOUBLE) + 0.5) AS BIGINT) AS term_u20
        |      FROM c JOIN n USING (doc_id))
        |SELECT doc_id, n_tokens, n_types,
        |       CAST(sum(term_u20) AS BIGINT) AS entropy_u20,
        |       CASE WHEN CAST(sum(term_u20) AS BIGINT) < 1572864
        |            THEN 1 ELSE 0 END AS flagged
        |FROM t JOIN n USING (doc_id)
        |GROUP BY doc_id, n_tokens, n_types
        |ORDER BY doc_id""".stripMargin,
    "simhash_docs" -> (simhashCte +
      """
        |SELECT doc_id, simhash,
        |       simhash % 256 AS band0,
        |       (simhash >> 8) % 256 AS band1,
        |       (simhash >> 16) % 256 AS band2,
        |       (simhash >> 24) % 256 AS band3
        |FROM m ORDER BY doc_id""".stripMargin),
    "simhash_neardup_pairs" -> (simhashCte + governedPairsCte +
      """
        |SELECT pa AS doc_a, pb AS doc_b, hamming FROM pairs
        |ORDER BY doc_a, doc_b""".stripMargin),
    // the governor REPORT: per ladder level, projected candidate mass and
    // the chosen level — same hb histogram the pair CTE uses, no join
    "pair_budget_governor" -> (simhashCte + {
      val vals = operators.DocDedup.SimhashBandLayouts
        .map { case (l, k, s, w) => s"($l, $k, $s, $w)" }.mkString(", ")
      val budget = operators.DocDedup.PairBudget
      s""",
         |bl AS (SELECT * FROM (VALUES $vals) AS t(lvl, k, shift, width)),
         |hb AS (SELECT bl.lvl, bl.k,
         |         (simhash >> bl.shift) % (CAST(1 AS BIGINT) << bl.width) AS bv,
         |         CAST(count(*) AS BIGINT) AS n
         |       FROM m, bl GROUP BY 1, 2, 3),
         |mm AS (SELECT lvl, CAST(count(DISTINCT k) AS BIGINT) AS n_bands,
         |         CAST(count(*) AS BIGINT) AS n_buckets,
         |         CAST(sum((n*(n-1))//2) AS BIGINT) AS cand_pairs
         |       FROM hb GROUP BY lvl),
         |pk AS (SELECT CAST(COALESCE(min(lvl), 3) AS INTEGER) AS chosen_lvl
         |       FROM mm WHERE cand_pairs <= $budget)
         |SELECT CAST(mm.lvl AS INTEGER) AS lvl, mm.n_bands,
         |       CAST(3 - mm.lvl AS INTEGER) AS hamming_radius,
         |       mm.n_buckets, mm.cand_pairs,
         |       CAST($budget AS BIGINT) AS budget,
         |       CASE WHEN mm.cand_pairs <= $budget THEN 1 ELSE 0 END
         |         AS within_budget,
         |       CASE WHEN mm.lvl = pk.chosen_lvl THEN 1 ELSE 0 END AS chosen
         |FROM mm, pk ORDER BY lvl""".stripMargin
    }),
    // the governor ladder's RECALL audit: level-0 truth pairs (hamming
    // ≤ 3) on the bounded calibration sample, surviving fraction per
    // narrowed radius, the corpus-wide pick flagged — brute pair scan is
    // fine here (≤ C(1024,2) rows), the engine uses the lossless banded
    // join for the identical set
    "governor_recall" -> (simhashCte + {
      val vals = operators.DocDedup.SimhashBandLayouts
        .map { case (l, k, s, w) => s"($l, $k, $s, $w)" }.mkString(", ")
      val budget = operators.DocDedup.PairBudget
      val calib = operators.DocDedup.RecallCalibDocs
      s""",
         |c AS MATERIALIZED (SELECT doc_id, simhash FROM m WHERE doc_id < $calib),
         |t AS (SELECT bit_count(xor(x.simhash, y.simhash)) AS h
         |      FROM c x, c y
         |      WHERE x.doc_id < y.doc_id
         |        AND bit_count(xor(x.simhash, y.simhash)) <= 3),
         |agg AS (SELECT
         |    CAST(COALESCE(sum(CASE WHEN h <= 3 THEN 1 END), 0) AS BIGINT) AS s0,
         |    CAST(COALESCE(sum(CASE WHEN h <= 2 THEN 1 END), 0) AS BIGINT) AS s1,
         |    CAST(COALESCE(sum(CASE WHEN h <= 1 THEN 1 END), 0) AS BIGINT) AS s2,
         |    CAST(COALESCE(sum(CASE WHEN h <= 0 THEN 1 END), 0) AS BIGINT) AS s3
         |  FROM t),
         |bl AS (SELECT * FROM (VALUES $vals) AS bt(lvl, k, shift, width)),
         |hb AS (SELECT bl.lvl,
         |         (simhash >> bl.shift) % (CAST(1 AS BIGINT) << bl.width) AS bv,
         |         bl.k, CAST(count(*) AS BIGINT) AS n
         |       FROM m, bl GROUP BY 1, 2, 3),
         |pk AS (SELECT CAST(COALESCE(min(lvl), 3) AS INTEGER) AS chosen_lvl FROM (
         |         SELECT lvl, sum((n*(n-1))//2) AS cand FROM hb GROUP BY lvl) mm
         |       WHERE cand <= $budget)
         |SELECT CAST(v.lvl AS INTEGER) AS lvl,
         |       CAST(3 - v.lvl AS INTEGER) AS hamming_radius,
         |       agg.s0 AS n_true_pairs,
         |       CASE v.lvl WHEN 0 THEN agg.s0 WHEN 1 THEN agg.s1
         |                  WHEN 2 THEN agg.s2 ELSE agg.s3 END AS n_survive,
         |       CAST(CASE WHEN agg.s0 > 0 THEN
         |         CAST(CASE v.lvl WHEN 0 THEN agg.s0 WHEN 1 THEN agg.s1
         |                         WHEN 2 THEN agg.s2 ELSE agg.s3 END AS DOUBLE)
         |           / agg.s0 END AS DOUBLE) AS recall,
         |       CASE WHEN v.lvl = pk.chosen_lvl THEN 1 ELSE 0 END AS chosen
         |FROM (VALUES (0), (1), (2), (3)) v(lvl), agg, pk
         |ORDER BY lvl""".stripMargin
    }),
    // the INVERSE governor: hold recall (exact-rational floor), price the
    // level — same truth aggregate + band-mass histogram as the two
    // reports above, chosen = HIGHEST level meeting the floor, plus the
    // budget that level's corpus mass implies
    "governor_recall_floor" -> (simhashCte + {
      val vals = operators.DocDedup.SimhashBandLayouts
        .map { case (l, k, s, w) => s"($l, $k, $s, $w)" }.mkString(", ")
      val calib = operators.DocDedup.RecallCalibDocs
      val num = operators.DocDedup.RecallFloorNum
      val den = operators.DocDedup.RecallFloorDen
      s""",
         |c AS MATERIALIZED (SELECT doc_id, simhash FROM m WHERE doc_id < $calib),
         |t AS (SELECT bit_count(xor(x.simhash, y.simhash)) AS h
         |      FROM c x, c y
         |      WHERE x.doc_id < y.doc_id
         |        AND bit_count(xor(x.simhash, y.simhash)) <= 3),
         |agg AS (SELECT
         |    CAST(COALESCE(sum(CASE WHEN h <= 3 THEN 1 END), 0) AS BIGINT) AS s0,
         |    CAST(COALESCE(sum(CASE WHEN h <= 2 THEN 1 END), 0) AS BIGINT) AS s1,
         |    CAST(COALESCE(sum(CASE WHEN h <= 1 THEN 1 END), 0) AS BIGINT) AS s2,
         |    CAST(COALESCE(sum(CASE WHEN h <= 0 THEN 1 END), 0) AS BIGINT) AS s3
         |  FROM t),
         |bl AS (SELECT * FROM (VALUES $vals) AS bt(lvl, k, shift, width)),
         |hb AS (SELECT bl.lvl,
         |         (simhash >> bl.shift) % (CAST(1 AS BIGINT) << bl.width) AS bv,
         |         bl.k, CAST(count(*) AS BIGINT) AS n
         |       FROM m, bl GROUP BY 1, 2, 3),
         |mm AS (SELECT lvl, CAST(sum((n*(n-1))//2) AS BIGINT) AS cand_pairs
         |       FROM hb GROUP BY lvl),
         |rows_ AS (SELECT v.lvl,
         |    agg.s0,
         |    CASE v.lvl WHEN 0 THEN agg.s0 WHEN 1 THEN agg.s1
         |               WHEN 2 THEN agg.s2 ELSE agg.s3 END AS n_survive,
         |    CAST(COALESCE(mm.cand_pairs, 0) AS BIGINT) AS cand_pairs
         |  FROM (VALUES (0), (1), (2), (3)) v(lvl)
         |  LEFT JOIN mm ON mm.lvl = v.lvl
         |  CROSS JOIN agg),
         |ok AS (SELECT *, CASE WHEN s0 = 0 OR n_survive * $den >= s0 * $num
         |                 THEN 1 ELSE 0 END AS meets_floor FROM rows_),
         |pk AS (SELECT CAST(max(lvl) AS INTEGER) AS chosen_lvl
         |       FROM ok WHERE meets_floor = 1),
         |req AS (SELECT ok.cand_pairs AS required_budget FROM ok, pk
         |        WHERE ok.lvl = pk.chosen_lvl)
         |SELECT CAST(ok.lvl AS INTEGER) AS lvl,
         |       CAST(3 - ok.lvl AS INTEGER) AS hamming_radius,
         |       ok.s0 AS n_true_pairs, ok.n_survive,
         |       CAST(CASE WHEN ok.s0 > 0 THEN
         |         CAST(ok.n_survive AS DOUBLE) / ok.s0 END AS DOUBLE) AS recall,
         |       CAST(ok.meets_floor AS INTEGER) AS meets_floor,
         |       ok.cand_pairs,
         |       CASE WHEN ok.lvl = pk.chosen_lvl THEN 1 ELSE 0 END
         |         AS chosen_by_recall,
         |       req.required_budget
         |FROM ok, pk, req ORDER BY lvl""".stripMargin
    }),
    "dedup_ensemble" -> {
      val mhPairs = minhashCte +
        """,
          |b AS MATERIALIZED (SELECT doc_id, ks.k, array_to_string(sig[4*ks.k+1:4*ks.k+4], ',') AS bv
          |      FROM s, (SELECT unnest([0,1,2,3]) AS k) ks)
          |SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
          |FROM b x JOIN b y ON x.k = y.k AND x.bv = y.bv AND x.doc_id < y.doc_id""".stripMargin
      val shPairs = simhashCte + governedPairsCte +
        """
          |SELECT pa AS doc_a, pb AS doc_b FROM pairs""".stripMargin
      s"""SELECT COALESCE(a.doc_a, s.doc_a) AS doc_a,
         |       COALESCE(a.doc_b, s.doc_b) AS doc_b,
         |       CASE WHEN a.doc_a IS NULL THEN 0 ELSE 1 END AS by_minhash,
         |       CASE WHEN s.doc_a IS NULL THEN 0 ELSE 1 END AS by_simhash
         |FROM ($mhPairs) a FULL OUTER JOIN ($shPairs) s
         |  ON a.doc_a = s.doc_a AND a.doc_b = s.doc_b
         |ORDER BY doc_a, doc_b""".stripMargin
    },
    "corpus_pipeline" ->
      s"""WITH base AS (SELECT doc_id, md5(text) AS h,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
         |       FROM documents),
         |rtok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
         |rbg AS (SELECT doc_id, unnest(list_transform(range(1, len(ts)),
         |                 i -> ts[i] || ' ' || ts[i+1])) AS bg
         |        FROM rtok WHERE len(ts) >= 2),
         |rc AS (SELECT doc_id, bg, count(*) AS n FROM rbg GROUP BY 1, 2),
         |repf AS (SELECT doc_id, CASE WHEN CAST(max(n) AS DOUBLE) / sum(n) > 0.05
         |                THEN 1 ELSE 0 END AS rep_f FROM rc GROUP BY doc_id),
         |etok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |         FROM documents),
         |ec AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
         |       FROM etok GROUP BY doc_id, tok),
         |en AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens
         |       FROM ec GROUP BY doc_id),
         |et AS (SELECT ec.doc_id,
         |         CAST(floor(-(CAST(ec.c AS DOUBLE) / en.n_tokens)
         |                    * ln(CAST(ec.c AS DOUBLE) / en.n_tokens)
         |                    * CAST(1048576 AS DOUBLE) + 0.5) AS BIGINT) AS term_u20
         |       FROM ec JOIN en USING (doc_id)),
         |entf AS (SELECT doc_id, CASE WHEN CAST(sum(term_u20) AS BIGINT) < 1572864
         |                THEN 1 ELSE 0 END AS ent_f FROM et GROUP BY doc_id),
         |lbw AS (SELECT doc_id, bg, split_part(bg, ' ', 1) AS w1 FROM rbg),
         |lcb AS (SELECT bg, CAST(count(*) AS BIGINT) AS cnt_bg FROM lbw GROUP BY 1),
         |lcw AS (SELECT split_part(bg, ' ', 1) AS w1,
         |               CAST(sum(cnt_bg) AS BIGINT) AS cnt_w1 FROM lcb GROUP BY 1),
         |ls AS (SELECT doc_id,
         |         CAST(floor(ln(CAST(cnt_bg AS DOUBLE) / CAST(cnt_w1 AS DOUBLE))
         |                * 1048576.0 + 0.5) AS BIGINT) AS u20
         |       FROM lbw JOIN lcb USING (bg) JOIN lcw USING (w1)),
         |lmf AS (SELECT doc_id, CASE WHEN
         |          CAST(sum(u20) AS DOUBLE) / count(*) < -4102053.0
         |          THEN 1 ELSE 0 END AS lm_f FROM ls GROUP BY doc_id),
         |q AS (SELECT b.doc_id, b.h, b.n_toks,
         |        CASE WHEN COALESCE(r.rep_f, 0) = 0 AND COALESCE(e.ent_f, 0) = 0
         |             AND COALESCE(l.lm_f, 0) = 0 THEN 1 ELSE 0 END AS q_keep
         |      FROM base b LEFT JOIN repf r USING (doc_id)
         |      LEFT JOIN entf e USING (doc_id) LEFT JOIN lmf l USING (doc_id)),
         |ek AS (SELECT h, min(doc_id) AS e_keeper FROM q WHERE q_keep = 1
         |       GROUP BY h),
         |q2 AS (SELECT q.doc_id, q.h, q.n_toks, q.q_keep,
         |         CASE WHEN q.q_keep = 1 AND q.doc_id = ek.e_keeper
         |              THEN 1 ELSE 0 END AS e_keep
         |       FROM q LEFT JOIN ek USING (h)),
         |cl AS (SELECT * FROM ($clustersSql)),
         |q3 AS (SELECT q2.*, cl.cluster_id FROM q2 JOIN cl USING (doc_id)),
         |cm AS (SELECT cluster_id, min(doc_id) AS c_keeper FROM q3
         |       WHERE e_keep = 1 GROUP BY cluster_id),
         |q4 AS (SELECT q3.*, CASE WHEN q3.e_keep = 1 AND q3.doc_id = cm.c_keeper
         |              THEN 1 ELSE 0 END AS c_keep
         |       FROM q3 LEFT JOIN cm USING (cluster_id))
         |SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_toks) AS BIGINT) AS n_tokens,
         |       CAST(sum(q_keep) AS BIGINT) AS n_quality,
         |       CAST(sum(CASE WHEN q_keep = 1 THEN n_toks ELSE 0 END)
         |            AS BIGINT) AS tok_quality,
         |       CAST(sum(e_keep) AS BIGINT) AS n_exact,
         |       CAST(sum(CASE WHEN e_keep = 1 THEN n_toks ELSE 0 END)
         |            AS BIGINT) AS tok_exact,
         |       CAST(sum(c_keep) AS BIGINT) AS n_neardup,
         |       CAST(sum(CASE WHEN c_keep = 1 THEN n_toks ELSE 0 END)
         |            AS BIGINT) AS tok_neardup
         |FROM q4""".stripMargin,
    "dedup_clusters" -> (clustersSql + " ORDER BY doc_id"),
    // incremental merge must be row-identical to the batch closure — the
    // oracle IS the batch recursive-CTE closure over the full pair graph
    "dedup_clusters_incremental" -> (clustersSql + " ORDER BY doc_id"),
    "dedup_survivorship" ->
      s"""WITH j AS (SELECT COALESCE(cl.cluster_id, d.doc_id) AS cluster_id,
         |             d.doc_id, d.n_chars, d.source, d.lang
         |           FROM documents d
         |           LEFT JOIN ($clustersSql) cl ON cl.doc_id = d.doc_id),
         |w AS (SELECT cluster_id, source, lang,
         |             row_number() OVER (PARTITION BY cluster_id
         |               ORDER BY n_chars DESC, doc_id) AS rn FROM j),
         |a AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
         |             min(doc_id) AS golden_doc_id, max(n_chars) AS max_chars
         |      FROM j GROUP BY cluster_id)
         |SELECT a.cluster_id, a.n_members, a.golden_doc_id, a.max_chars,
         |       w.source AS survivor_source, w.lang AS survivor_lang
         |FROM a JOIN w ON a.cluster_id = w.cluster_id AND w.rn = 1
         |ORDER BY a.cluster_id""".stripMargin,
    "embedding_centroids" ->
      """WITH c AS (SELECT label, CAST(d.dim AS INT) AS dim,
        |             CAST(count(*) AS BIGINT) AS n,
        |             CAST(sum(CAST(floor(CAST(embedding[d.dim + 1] AS DOUBLE)
        |                  * 1048576.0 + 0.5) AS BIGINT)) AS BIGINT) AS sum_u20
        |           FROM embeddings, (SELECT unnest(range(0, 64)) AS dim) d
        |           GROUP BY label, d.dim)
        |SELECT label, dim, n, sum_u20, sum_u20 // n AS mean_u20
        |FROM c ORDER BY label, dim""".stripMargin,
    "cluster_stats" ->
      s"""SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
         |       CAST(cluster_size * count(*) AS BIGINT) AS n_docs,
         |       CAST((cluster_size - 1) * count(*) AS BIGINT) AS n_dups_removable,
         |       CAST(sum(cluster_id) AS BIGINT) AS cluster_id_checksum
         |FROM (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
         |      FROM ($clustersSql) c GROUP BY cluster_id) s
         |GROUP BY cluster_size ORDER BY cluster_size""".stripMargin,
    "ngram_jaccard" -> (gramsCte +
      """,
        |p AS (SELECT grams AS pg FROM g WHERE doc_id = 0)
        |SELECT doc_id, CAST(len(grams) AS INTEGER) AS n_grams,
        |  CAST(len(list_filter(grams, x -> list_contains(pg, x))) AS INTEGER) AS n_inter,
        |  CAST(len(grams) + len(pg)
        |       - len(list_filter(grams, x -> list_contains(pg, x))) AS INTEGER) AS n_union,
        |  CAST(len(list_filter(grams, x -> list_contains(pg, x))) AS DOUBLE)
        |    / (len(grams) + len(pg) - len(list_filter(grams, x -> list_contains(pg, x)))) AS jaccard
        |FROM g, p ORDER BY doc_id""".stripMargin),
    "similarity_search" ->
      s"""WITH p AS (SELECT embedding AS p FROM embeddings WHERE vec_id = 0)
         |SELECT vec_id, label, ${cosSql("embedding", "p")} AS score
         |FROM embeddings, p WHERE vec_id <> 0
         |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin,
    "contrastive_negatives" ->
      s"""WITH p AS (SELECT vec_id AS p_id, label AS p_label, embedding AS pe
         |           FROM embeddings WHERE vec_id < 8),
         |s AS (SELECT p.p_id, e.vec_id, e.label,
         |        ${cosSql("e.embedding", "p.pe")} AS score
         |      FROM embeddings e, p WHERE e.label <> p.p_label),
         |r AS (SELECT p_id, vec_id, label, score, row_number() OVER (
         |        PARTITION BY p_id ORDER BY score DESC, vec_id) AS rnk FROM s)
         |SELECT p_id, CAST(rnk AS INTEGER) AS rnk, vec_id AS neg_vec_id,
         |       label AS neg_label, score
         |FROM r WHERE rnk <= 3 ORDER BY p_id, rnk""".stripMargin,
    "ann_lsh_buckets" ->
      s"""WITH b AS (SELECT vec_id, ${lshBucket(8, "embedding")} AS bucket FROM embeddings)
         |SELECT bucket, count(*) AS n_vectors,
         |       min(vec_id) AS min_vec_id, max(vec_id) AS max_vec_id
         |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,
    "ann_lsh_search" ->
      s"""WITH b AS (SELECT vec_id, label, embedding,
         |             ${lshBucket(4, "embedding")} AS bucket FROM embeddings),
         |p AS (SELECT embedding AS pe, bucket AS pbucket FROM b WHERE vec_id = 0)
         |SELECT vec_id, label, bucket, ${cosSql("embedding", "pe")} AS score
         |FROM b, p WHERE bucket = pbucket AND vec_id <> 0
         |ORDER BY score DESC, vec_id LIMIT 5""".stripMargin,
    "ann_multiprobe" ->
      s"""WITH b AS (SELECT vec_id, label, embedding,
         |             ${lshBucket(4, "embedding")} AS bucket FROM embeddings),
         |p AS (SELECT embedding AS pe, bucket AS pbucket FROM b WHERE vec_id = 0)
         |SELECT vec_id, label, bucket, ${cosSql("embedding", "pe")} AS score
         |FROM b, p
         |WHERE vec_id <> 0 AND (bucket = pbucket OR bucket = xor(pbucket, 1)
         |   OR bucket = xor(pbucket, 2) OR bucket = xor(pbucket, 4)
         |   OR bucket = xor(pbucket, 8))
         |ORDER BY score DESC, vec_id LIMIT 5""".stripMargin,
    "ann_ivf_cells" ->
      s"""WITH c AS (SELECT vec_id AS cell_id, embedding AS ce
         |           FROM embeddings WHERE vec_id < 16),
         |s AS (SELECT e.vec_id, c.cell_id,
         |        ${cosSql("e.embedding", "c.ce")} AS score FROM embeddings e, c),
         |r AS (SELECT vec_id, cell_id, score, row_number() OVER (
         |        PARTITION BY vec_id ORDER BY score DESC, cell_id) AS rnk FROM s),
         |a AS (SELECT vec_id, cell_id, score FROM r WHERE rnk = 1)
         |SELECT cell_id, count(*) AS n_vectors, min(vec_id) AS min_vec_id,
         |       max(vec_id) AS max_vec_id,
         |       CAST(CAST(sum(CAST(score AS DECIMAL(27,12))) AS VARCHAR)
         |            AS DOUBLE) AS sum_cos
         |FROM a GROUP BY cell_id ORDER BY cell_id""".stripMargin,
    "ann_ivf_search" ->
      s"""WITH c AS (SELECT vec_id AS cell_id, embedding AS ce
         |           FROM embeddings WHERE vec_id < 16),
         |s AS (SELECT e.vec_id, e.label, e.embedding, c.cell_id,
         |        ${cosSql("e.embedding", "c.ce")} AS score FROM embeddings e, c),
         |r AS (SELECT vec_id, label, embedding, cell_id, score, row_number() OVER (
         |        PARTITION BY vec_id ORDER BY score DESC, cell_id) AS rnk FROM s),
         |a AS (SELECT vec_id, label, embedding, cell_id FROM r WHERE rnk = 1),
         |pc AS (SELECT cell_id AS pcell FROM r WHERE vec_id = 0 AND rnk <= 2),
         |p AS (SELECT embedding AS pe FROM embeddings WHERE vec_id = 0)
         |SELECT a.vec_id, a.label, a.cell_id,
         |       ${cosSql("a.embedding", "p.pe")} AS score
         |FROM a JOIN pc ON a.cell_id = pc.pcell, p
         |WHERE a.vec_id <> 0
         |ORDER BY score DESC, a.vec_id LIMIT 5""".stripMargin,
    "cluster_purity" ->
      s"""WITH c AS (SELECT vec_id AS cell_id, embedding AS ce
         |           FROM embeddings WHERE vec_id < 16),
         |s AS (SELECT e.vec_id, e.label, c.cell_id,
         |        ${cosSql("e.embedding", "c.ce")} AS score FROM embeddings e, c),
         |r AS (SELECT vec_id, label, cell_id, row_number() OVER (
         |        PARTITION BY vec_id ORDER BY score DESC, cell_id) AS rnk FROM s),
         |a AS (SELECT vec_id, label, cell_id FROM r WHERE rnk = 1),
         |pl AS (SELECT cell_id, label, CAST(count(*) AS BIGINT) AS n
         |       FROM a GROUP BY cell_id, label),
         |mj AS (SELECT cell_id, label, n,
         |         row_number() OVER (PARTITION BY cell_id
         |                            ORDER BY n DESC, label) AS rk,
         |         CAST(sum(n) OVER (PARTITION BY cell_id) AS BIGINT) AS n_vectors,
         |         CAST(count(*) OVER (PARTITION BY cell_id) AS BIGINT) AS n_labels
         |       FROM pl)
         |SELECT cell_id, n_vectors, n_labels,
         |       CAST(label AS INTEGER) AS majority_label,
         |       n AS majority_n, CAST(n AS DOUBLE) / n_vectors AS purity
         |FROM mj WHERE rk = 1 ORDER BY cell_id""".stripMargin,
    // adaptive cell count k = 16·2^ceil(log2(ceil(N/2000))): integer-exact
    // twin of Similarity.adaptiveCells — k=16 at every shipped tier, grows
    // with the corpus so Σ|cell|² (and the dedup join) stays linear in N
    "semantic_cell_profile" ->
      s"""WITH kk AS (SELECT CAST(16 * CASE WHEN m <= 1 THEN 1
         |              ELSE power(2, length(bin(m - 1))) END AS BIGINT) AS k
         |            FROM (SELECT (count(*) + 1999) // 2000 AS m
         |                  FROM embeddings)),
         |c AS (SELECT vec_id AS cell_id, embedding AS ce
         |      FROM embeddings WHERE vec_id < (SELECT k FROM kk)),
         |s AS (SELECT e.vec_id, c.cell_id,
         |        ${cosSql("e.embedding", "c.ce")} AS score FROM embeddings e, c),
         |r AS (SELECT vec_id, cell_id, row_number() OVER (
         |        PARTITION BY vec_id ORDER BY score DESC, cell_id) AS rnk FROM s),
         |a AS (SELECT vec_id, cell_id FROM r WHERE rnk = 1),
         |per AS (SELECT cell_id, CAST(count(*) AS BIGINT) AS n_vectors,
         |          CAST(count(*) * (count(*) - 1) // 2 AS BIGINT) AS n_pairs
         |        FROM a GROUP BY cell_id),
         |t AS (SELECT CAST(sum(n_pairs) AS BIGINT) AS total_pairs,
         |        CAST(sum(n_vectors) AS BIGINT) AS n_total FROM per)
         |SELECT per.cell_id, per.n_vectors, per.n_pairs, t.total_pairs,
         |       CAST(t.n_total * (t.n_total - 1) // 2 AS BIGINT) AS brute_pairs,
         |       CAST(CASE WHEN t.total_pairs = 0 THEN 0
         |            ELSE floor(CAST(per.n_pairs AS DOUBLE) * 1048576.0
         |                 / t.total_pairs + 0.5) END AS BIGINT) AS share_u20
         |FROM per, t ORDER BY per.cell_id""".stripMargin,
    "semantic_dedup" ->
      s"""WITH kk AS (SELECT CAST(16 * CASE WHEN m <= 1 THEN 1
         |              ELSE power(2, length(bin(m - 1))) END AS BIGINT) AS k
         |            FROM (SELECT (count(*) + 1999) // 2000 AS m
         |                  FROM embeddings)),
         |c AS (SELECT vec_id AS cell_id, embedding AS ce
         |      FROM embeddings WHERE vec_id < (SELECT k FROM kk)),
         |s AS (SELECT e.vec_id, c.cell_id,
         |        ${cosSql("e.embedding", "c.ce")} AS score FROM embeddings e, c),
         |r AS (SELECT vec_id, cell_id, row_number() OVER (
         |        PARTITION BY vec_id ORDER BY score DESC, cell_id) AS rnk FROM s),
         |a AS (SELECT r.vec_id, r.cell_id, e.embedding
         |      FROM r JOIN embeddings e USING (vec_id) WHERE rnk = 1),
         |p AS (SELECT x.vec_id, x.cell_id, y.vec_id AS cand,
         |        ${cosSql("x.embedding", "y.embedding")} AS score
         |      FROM a x JOIN a y
         |        ON x.cell_id = y.cell_id AND x.vec_id > y.vec_id),
         |d AS (SELECT vec_id, cell_id, CAST(min(cand) AS BIGINT) AS dup_keeper,
         |        max(score) AS max_dup_score
         |      FROM p WHERE score >= 0.40 GROUP BY vec_id, cell_id)
         |SELECT a.vec_id, a.cell_id, d.dup_keeper IS NOT NULL AS is_dup,
         |       coalesce(d.dup_keeper, a.vec_id) AS keeper, d.max_dup_score
         |FROM a LEFT JOIN d ON a.vec_id = d.vec_id AND a.cell_id = d.cell_id
         |ORDER BY a.vec_id""".stripMargin,
    "cms_vocab" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS t FROM documents),
        |h AS (SELECT rs.i,
        |        CAST(concat('0x', substr(md5(CAST(rs.i AS VARCHAR) || '|' || t), 1, 7))
        |             AS BIGINT) % 256 AS b
        |      FROM tok, (SELECT unnest([0, 1, 2, 3]) AS i) rs)
        |SELECT CAST(i * 256 + b AS BIGINT) AS idx, CAST(count(*) AS BIGINT) AS n
        |FROM h GROUP BY i, b ORDER BY idx""".stripMargin,
    "quality_ensemble" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(ts)),
        |         i -> ts[i] || ' ' || ts[i+1])) AS bg
        |       FROM tok WHERE len(ts) >= 2),
        |c AS (SELECT doc_id, bg, count(*) AS n FROM bg GROUP BY 1, 2),
        |rt AS (SELECT doc_id, CAST(max(n) AS BIGINT) AS top_count,
        |              CAST(sum(n) AS BIGINT) AS n_bigrams FROM c GROUP BY 1),
        |rep AS (SELECT doc_id,
        |          CASE WHEN CAST(top_count AS DOUBLE) / n_bigrams > 0.05
        |               THEN 1 ELSE 0 END AS rep_flag FROM rt),
        |ec AS (SELECT doc_id, t, CAST(count(*) AS BIGINT) AS c
        |       FROM (SELECT doc_id, unnest(ts) AS t FROM tok) GROUP BY 1, 2),
        |en AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens
        |       FROM ec GROUP BY 1),
        |et AS (SELECT ec.doc_id,
        |         CAST(floor(-(CAST(ec.c AS DOUBLE) / en.n_tokens)
        |                    * ln(CAST(ec.c AS DOUBLE) / en.n_tokens)
        |                    * CAST(1048576 AS DOUBLE) + 0.5) AS BIGINT) AS u
        |       FROM ec JOIN en USING (doc_id)),
        |ent AS (SELECT doc_id,
        |          CASE WHEN CAST(sum(u) AS BIGINT) < 1572864
        |               THEN 1 ELSE 0 END AS ent_flag FROM et GROUP BY doc_id),
        |bw AS (SELECT doc_id, bg, split_part(bg, ' ', 1) AS w1 FROM bg),
        |cb AS (SELECT bg, CAST(count(*) AS BIGINT) AS cnt_bg FROM bw GROUP BY 1),
        |cw AS (SELECT split_part(bg, ' ', 1) AS w1,
        |              CAST(sum(cnt_bg) AS BIGINT) AS cnt_w1 FROM cb GROUP BY 1),
        |s AS (SELECT doc_id,
        |        CAST(floor(ln(CAST(cnt_bg AS DOUBLE) / CAST(cnt_w1 AS DOUBLE))
        |               * 1048576.0 + 0.5) AS BIGINT) AS u20
        |      FROM bw JOIN cb USING (bg) JOIN cw USING (w1)),
        |lm AS (SELECT doc_id,
        |         CASE WHEN CAST(sum(u20) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |                   < -4102053.0 THEN 1 ELSE 0 END AS lm_flag
        |       FROM s GROUP BY doc_id),
        |a AS (SELECT d.doc_id,
        |        COALESCE(r.rep_flag, 0) AS rep_flag,
        |        COALESCE(e2.ent_flag, 0) AS ent_flag,
        |        COALESCE(l.lm_flag, 0) AS lm_flag
        |      FROM (SELECT doc_id FROM documents) d
        |      LEFT JOIN rep r USING (doc_id)
        |      LEFT JOIN ent e2 USING (doc_id)
        |      LEFT JOIN lm l USING (doc_id))
        |SELECT rep_flag, ent_flag, lm_flag,
        |       CAST(count(*) AS BIGINT) AS n_docs, min(doc_id) AS min_doc,
        |       CAST(sum(doc_id) AS BIGINT) AS doc_checksum
        |FROM a GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "cms_calibration" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS t FROM documents),
        |h AS (SELECT rs.i,
        |        CAST(concat('0x', substr(md5(CAST(rs.i AS VARCHAR) || '|' || t), 1, 7))
        |             AS BIGINT) % 256 AS b
        |      FROM tok, (SELECT unnest([0, 1, 2, 3]) AS i) rs),
        |cells AS (SELECT i, b, CAST(count(*) AS BIGINT) AS n FROM h GROUP BY i, b),
        |ex AS (SELECT t AS tok, CAST(count(*) AS BIGINT) AS exact_n
        |       FROM tok GROUP BY t ORDER BY exact_n DESC, tok LIMIT 32),
        |pr AS (SELECT ex.tok, ex.exact_n, rs.i,
        |         CAST(concat('0x',
        |           substr(md5(CAST(rs.i AS VARCHAR) || '|' || ex.tok), 1, 7))
        |           AS BIGINT) % 256 AS b
        |       FROM ex, (SELECT unnest([0, 1, 2, 3]) AS i) rs),
        |est AS (SELECT pr.tok, pr.exact_n, CAST(min(c.n) AS BIGINT) AS cms_est
        |        FROM pr JOIN cells c ON c.i = pr.i AND c.b = pr.b
        |        GROUP BY pr.tok, pr.exact_n)
        |SELECT tok, exact_n, cms_est, cms_est - exact_n AS overest
        |FROM est ORDER BY exact_n DESC, tok""".stripMargin,
    "embedding_quantize" ->
      """WITH b AS (SELECT vec_id, embedding,
        |             list_max(list_transform(embedding,
        |               x -> abs(CAST(x AS DOUBLE)))) AS abs_max
        |           FROM embeddings),
        |q AS (SELECT vec_id, embedding, abs_max, abs_max / 127.0 AS scale,
        |        CASE WHEN abs_max = 0
        |             THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
        |             ELSE list_transform(embedding, x -> CAST(floor(
        |                    CAST(x AS DOUBLE) / (abs_max / 127.0) + 0.5) AS BIGINT))
        |        END AS qs
        |      FROM b)
        |SELECT vec_id, scale,
        |       CAST(list_sum(qs) AS BIGINT) AS sum_q,
        |       list_max(list_transform(range(1, len(embedding) + 1),
        |         i -> abs(CAST(embedding[i] AS DOUBLE) - qs[i] * scale)))
        |         AS max_abs_err
        |FROM q ORDER BY vec_id""".stripMargin,
    "quantize_recall_eval" ->
      s"""WITH b AS (SELECT vec_id, embedding,
         |             list_max(list_transform(embedding,
         |               x -> abs(CAST(x AS DOUBLE)))) AS abs_max
         |           FROM embeddings),
         |q AS (SELECT vec_id,
         |        CASE WHEN abs_max = 0
         |             THEN list_transform(embedding, x -> CAST(0 AS DOUBLE))
         |             ELSE list_transform(embedding, x -> floor(
         |                    CAST(x AS DOUBLE) / (abs_max / 127.0) + 0.5)
         |                    * (abs_max / 127.0))
         |        END AS dq
         |      FROM b),
         |pq AS (SELECT vec_id AS p_id, dq AS pe FROM q WHERE vec_id < 8),
         |px AS (SELECT vec_id AS p_id, embedding AS pe
         |       FROM embeddings WHERE vec_id < 8),
         |qs AS (SELECT p.p_id, e.vec_id, ${cosSql("e.dq", "p.pe")} AS score
         |       FROM q e, pq p WHERE e.vec_id <> p.p_id),
         |qr AS (SELECT p_id, vec_id, row_number() OVER (
         |         PARTITION BY p_id ORDER BY score DESC, vec_id) AS rnk FROM qs),
         |q5 AS (SELECT p_id, vec_id FROM qr WHERE rnk <= 5),
         |xs AS (SELECT p.p_id, e.vec_id, ${cosSql("e.embedding", "p.pe")} AS score
         |       FROM embeddings e, px p WHERE e.vec_id <> p.p_id),
         |xr AS (SELECT p_id, vec_id, row_number() OVER (
         |         PARTITION BY p_id ORDER BY score DESC, vec_id) AS rnk FROM xs),
         |x5 AS (SELECT p_id, vec_id FROM xr WHERE rnk <= 5),
         |hits AS (SELECT p_id, CAST(count(*) AS BIGINT) AS hits
         |         FROM x5 JOIN q5 USING (p_id, vec_id) GROUP BY p_id)
         |SELECT p.p_id, COALESCE(hits, CAST(0 AS BIGINT)) AS n_hits,
         |       CAST(COALESCE(hits, CAST(0 AS BIGINT)) AS DOUBLE) / 5.0 AS recall
         |FROM px p LEFT JOIN hits USING (p_id)
         |ORDER BY p_id""".stripMargin,
    "ann_recall_eval" ->
      s"""WITH c AS (SELECT vec_id AS cell_id, embedding AS ce
         |           FROM embeddings WHERE vec_id < 16),
         |s AS (SELECT e.vec_id, e.embedding, c.cell_id,
         |        ${cosSql("e.embedding", "c.ce")} AS score FROM embeddings e, c),
         |r AS (SELECT vec_id, embedding, cell_id, score, row_number() OVER (
         |        PARTITION BY vec_id ORDER BY score DESC, cell_id) AS rnk FROM s),
         |a AS (SELECT vec_id, embedding, cell_id FROM r WHERE rnk = 1),
         |probes AS (SELECT vec_id AS p_id, embedding AS pe
         |           FROM embeddings WHERE vec_id < 8),
         |pc AS (SELECT vec_id AS p_id, cell_id FROM r
         |       WHERE vec_id < 8 AND rnk <= 2),
         |ivf AS (SELECT pc.p_id, a.vec_id, ${cosSql("a.embedding", "p.pe")} AS score
         |        FROM a JOIN pc ON a.cell_id = pc.cell_id
         |        JOIN probes p ON p.p_id = pc.p_id
         |        WHERE a.vec_id <> pc.p_id),
         |ivfr AS (SELECT p_id, vec_id, row_number() OVER (
         |          PARTITION BY p_id ORDER BY score DESC, vec_id) AS rnk FROM ivf),
         |ivf5 AS (SELECT p_id, vec_id FROM ivfr WHERE rnk <= 5),
         |ex AS (SELECT p.p_id, e.vec_id, ${cosSql("e.embedding", "p.pe")} AS score
         |       FROM embeddings e, probes p WHERE e.vec_id <> p.p_id),
         |exr AS (SELECT p_id, vec_id, row_number() OVER (
         |          PARTITION BY p_id ORDER BY score DESC, vec_id) AS rnk FROM ex),
         |ex5 AS (SELECT p_id, vec_id FROM exr WHERE rnk <= 5),
         |hits AS (SELECT p_id, CAST(count(*) AS BIGINT) AS hits
         |         FROM ex5 JOIN ivf5 USING (p_id, vec_id) GROUP BY p_id)
         |SELECT p.p_id, COALESCE(hits, CAST(0 AS BIGINT)) AS n_hits,
         |       CAST(COALESCE(hits, CAST(0 AS BIGINT)) AS DOUBLE) / 5.0 AS recall
         |FROM probes p LEFT JOIN hits USING (p_id)
         |ORDER BY p_id""".stripMargin,
    "ann_nprobe_frontier" ->
      s"""WITH c AS (SELECT vec_id AS cell_id, embedding AS ce
         |           FROM embeddings WHERE vec_id < 16),
         |s AS (SELECT e.vec_id, e.embedding, c.cell_id,
         |        ${cosSql("e.embedding", "c.ce")} AS score FROM embeddings e, c),
         |r AS (SELECT vec_id, embedding, cell_id, score, row_number() OVER (
         |        PARTITION BY vec_id ORDER BY score DESC, cell_id) AS rnk FROM s),
         |a AS (SELECT vec_id, embedding, cell_id FROM r WHERE rnk = 1),
         |probes AS (SELECT vec_id AS p_id, embedding AS pe
         |           FROM embeddings WHERE vec_id < 8),
         |pc AS (SELECT vec_id AS p_id, cell_id, CAST(rnk AS INTEGER) AS pc_rnk
         |       FROM r WHERE vec_id < 8 AND rnk <= 4),
         |np AS (SELECT unnest([1, 2, 4]) AS nprobe),
         |cand AS (SELECT np.nprobe, pc.p_id, a.vec_id,
         |           ${cosSql("a.embedding", "p.pe")} AS score
         |         FROM a JOIN pc ON a.cell_id = pc.cell_id
         |         JOIN probes p ON p.p_id = pc.p_id
         |         CROSS JOIN np
         |         WHERE a.vec_id <> pc.p_id AND pc.pc_rnk <= np.nprobe),
         |ivfr AS (SELECT nprobe, p_id, vec_id, row_number() OVER (
         |          PARTITION BY nprobe, p_id ORDER BY score DESC, vec_id)
         |          AS rnk FROM cand),
         |ivf5 AS (SELECT nprobe, p_id, vec_id FROM ivfr WHERE rnk <= 5),
         |ex AS (SELECT p.p_id, e.vec_id, ${cosSql("e.embedding", "p.pe")} AS score
         |       FROM embeddings e, probes p WHERE e.vec_id <> p.p_id),
         |exr AS (SELECT p_id, vec_id, row_number() OVER (
         |          PARTITION BY p_id ORDER BY score DESC, vec_id) AS rnk FROM ex),
         |ex5 AS (SELECT p_id, vec_id FROM exr WHERE rnk <= 5),
         |hits AS (SELECT nprobe, CAST(count(*) AS BIGINT) AS n_hits
         |         FROM ivf5 JOIN ex5 USING (p_id, vec_id) GROUP BY nprobe),
         |cs AS (SELECT cell_id, CAST(count(*) AS BIGINT) AS cell_n
         |       FROM a GROUP BY cell_id),
         |sc AS (SELECT np.nprobe, CAST(sum(cs.cell_n) AS BIGINT) AS scanned_rows
         |       FROM pc JOIN cs USING (cell_id) CROSS JOIN np
         |       WHERE pc.pc_rnk <= np.nprobe GROUP BY np.nprobe),
         |t AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM embeddings)
         |SELECT np.nprobe AS nprobe,
         |       COALESCE(h.n_hits, CAST(0 AS BIGINT)) AS n_hits,
         |       COALESCE(h.n_hits, CAST(0 AS BIGINT)) * 1048576 // 40
         |         AS recall_u20,
         |       sc.scanned_rows,
         |       sc.scanned_rows * 1048576 // (8 * t.n_total) AS scanned_u20
         |FROM np LEFT JOIN hits h USING (nprobe)
         |JOIN sc USING (nprobe) CROSS JOIN t
         |ORDER BY nprobe""".stripMargin,
    "ann_ndcg" -> {
      val W = graft.operators.Similarity.NdcgW
      val P = graft.operators.Similarity.NdcgP
      val wCase = (1 to 5)
        .map(r => s"WHEN $r THEN CAST(${W(r - 1)} AS BIGINT)").mkString(" ")
      val pCase = (1 to 5)
        .map(k => s"WHEN $k THEN CAST(${P(k - 1)} AS BIGINT)").mkString(" ")
      s"""WITH c AS (SELECT vec_id AS cell_id, embedding AS ce
         |           FROM embeddings WHERE vec_id < 16),
         |s AS (SELECT e.vec_id, e.label, e.embedding, c.cell_id,
         |        ${cosSql("e.embedding", "c.ce")} AS score FROM embeddings e, c),
         |r AS (SELECT vec_id, label, embedding, cell_id, score, row_number() OVER (
         |        PARTITION BY vec_id ORDER BY score DESC, cell_id) AS rnk FROM s),
         |a AS (SELECT vec_id, label, embedding, cell_id FROM r WHERE rnk = 1),
         |probes AS (SELECT vec_id AS p_id, embedding AS pe, label AS p_label
         |           FROM embeddings WHERE vec_id < 8),
         |pc AS (SELECT vec_id AS p_id, cell_id FROM r
         |       WHERE vec_id < 8 AND rnk <= 2),
         |ivf AS (SELECT pc.p_id, p.p_label, a.vec_id, a.label,
         |          ${cosSql("a.embedding", "p.pe")} AS score
         |        FROM a JOIN pc ON a.cell_id = pc.cell_id
         |        JOIN probes p ON p.p_id = pc.p_id
         |        WHERE a.vec_id <> pc.p_id),
         |ranked AS (SELECT p_id, p_label, vec_id, label, row_number() OVER (
         |             PARTITION BY p_id ORDER BY score DESC, vec_id) AS rnk
         |           FROM ivf),
         |r5 AS (SELECT * FROM ranked WHERE rnk <= 5),
         |dcg AS (SELECT p_id,
         |          CAST(sum(CASE WHEN label = p_label
         |                        THEN CASE rnk $wCase ELSE 0 END
         |                        ELSE 0 END) AS BIGINT) AS dcg_u20,
         |          CAST(count(*) AS BIGINT) AS n_ranked
         |        FROM r5 GROUP BY p_id),
         |rel AS (SELECT p.p_id, CAST(count(*) AS BIGINT) AS n_rel
         |        FROM embeddings e JOIN probes p
         |          ON e.label = p.p_label AND e.vec_id <> p.p_id
         |        GROUP BY p.p_id)
         |SELECT d.p_id, rel.n_rel, d.n_ranked, d.dcg_u20,
         |       CASE least(rel.n_rel, 5) $pCase END AS idcg_u20,
         |       CAST(d.dcg_u20 AS DOUBLE)
         |         / (CASE least(rel.n_rel, 5) $pCase END) AS ndcg
         |FROM dcg d JOIN rel ON d.p_id = rel.p_id
         |ORDER BY d.p_id""".stripMargin
    },
    "embedding_neardup" ->
      s"""WITH s AS (SELECT vec_id, ${lshBucket(16, "embedding")} AS sig, embedding
         |           FROM embeddings),
         |b AS (SELECT vec_id, embedding, ks.k,
         |        CASE WHEN ks.k = 0 THEN sig % 256 ELSE sig // 256 END AS bv
         |      FROM s, (SELECT unnest([0,1]) AS k) ks)
         |SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b,
         |       ${cosSql("x.embedding", "y.embedding")} AS score
         |FROM b x JOIN b y ON x.k = y.k AND x.bv = y.bv AND x.vec_id < y.vec_id
         |WHERE ${cosSql("x.embedding", "y.embedding")} > 0.30
         |ORDER BY vec_a, vec_b""".stripMargin,
    "corpus_curation" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks, text
        |           FROM documents),
        |q AS (SELECT doc_id, text,
        |        CAST(len(toks) AS INTEGER) AS n_tokens,
        |        CAST(len(list_filter(toks, x -> x = 'the' OR x = 'a')) AS DOUBLE)
        |          / len(toks) AS stop_ratio,
        |        CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr,
        |        least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) AS len_score,
        |        CAST(len(list_filter(toks, x -> x='the' OR x='a' OR x='of' OR x='and')) AS BIGINT) AS n_en,
        |        CAST(len(list_filter(toks, x -> x='der' OR x='die' OR x='und' OR x='das')) AS BIGINT) AS n_de,
        |        CAST(len(list_filter(toks, x -> x='el' OR x='la' OR x='de' OR x='y')) AS BIGINT) AS n_es,
        |        CAST(len(list_filter(toks, x -> x='le' OR x='la' OR x='et' OR x='les')) AS BIGINT) AS n_fr
        |      FROM t),
        |s AS (SELECT doc_id, text, n_tokens,
        |        len_score * 0.4 + (ttr * 0.3 + (1.0 - stop_ratio) * 0.3) AS quality,
        |        CASE WHEN greatest(n_en, n_de, n_es, n_fr) = 0 THEN 'und'
        |             WHEN n_en = greatest(n_en, n_de, n_es, n_fr) THEN 'en'
        |             WHEN n_de = greatest(n_en, n_de, n_es, n_fr) THEN 'de'
        |             WHEN n_es = greatest(n_en, n_de, n_es, n_fr) THEN 'es'
        |             ELSE 'fr' END AS pred_lang
        |      FROM q),
        |w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |g AS (SELECT doc_id, list_transform(generate_series(1, len(ws) - 4),
        |        i -> array_to_string(ws[i:i+4], ' ')) AS grams FROM w),
        |f AS (SELECT doc_id, list_min(list_transform(grams,
        |        g -> CAST(concat('0x', substr(md5(g), 1, 15)) AS BIGINT)))
        |        AS fingerprint FROM g),
        |j AS (SELECT s.doc_id, s.n_tokens, s.quality, f.fingerprint
        |      FROM s JOIN f ON s.doc_id = f.doc_id
        |      WHERE s.quality > 0.5 AND s.pred_lang = 'en'),
        |d AS (SELECT *, row_number() OVER (PARTITION BY fingerprint
        |                                   ORDER BY doc_id) AS rn FROM j)
        |SELECT doc_id, n_tokens, quality, fingerprint
        |FROM d WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "vector_normalize" ->
      s"""WITH b AS (SELECT vec_id, embedding,
         |             sqrt(${dotSql("embedding", "embedding")}) AS norm
         |           FROM embeddings)
         |SELECT vec_id, norm,
         |       list_sum(list_transform(embedding,
         |         x -> CAST(x AS DOUBLE) / norm)) AS unit_sum,
         |       CAST(embedding[1] AS DOUBLE) / norm AS e0_unit
         |FROM b ORDER BY vec_id""".stripMargin,
    "multimodal_cols" ->
      """SELECT doc_id, CAST(length(text) AS INTEGER) AS payload_len,
        |       substr(md5(text), 1, 16) AS payload_head,
        |       'lang' AS meta_key, lang AS meta_value FROM documents
        |UNION ALL
        |SELECT doc_id, CAST(length(text) AS INTEGER), substr(md5(text), 1, 16),
        |       'source', source FROM documents
        |ORDER BY doc_id, meta_key""".stripMargin,
    "tfidf_topk" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |             FROM documents),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |       FROM tok GROUP BY 1, 2),
        |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        |s AS (SELECT doc_id, term, tf, df,
        |        CAST(floor(CAST(tf AS DOUBLE) *
        |               ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) *
        |               1048576.0 + 0.5) AS BIGINT) AS score_u20
        |      FROM tf JOIN df USING (term), n),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |        ORDER BY score_u20 DESC, term) AS rnk FROM s)
        |SELECT doc_id, CAST(rnk AS INTEGER) AS rnk, term, tf, df, score_u20
        |FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,
    "decontaminate" -> (gramsCte +
      """,
        |e AS (SELECT doc_id, unnest(grams) AS gr FROM g),
        |b AS (SELECT DISTINCT gr AS bg FROM e WHERE doc_id % 50 = 0),
        |c AS (SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |             CAST(count(bg) AS BIGINT) AS n_contam
        |      FROM e LEFT JOIN b ON e.gr = b.bg
        |      WHERE e.doc_id % 50 <> 0 GROUP BY 1)
        |SELECT doc_id, n_grams, n_contam,
        |       CAST(n_contam AS DOUBLE) / n_grams AS contam_ratio,
        |       CASE WHEN n_contam >= 5 THEN 1 ELSE 0 END AS flagged
        |FROM c ORDER BY doc_id""".stripMargin),
    // benchmark-df cap 4 mirrors decontaminatePairs' maxBenchDf: suite-
    // boilerplate grams (df > 4 across bench docs) are dropped BEFORE the
    // join on both engines — part of the declared semantics
    "decontaminate_pairs" -> (gramsCte +
      """,
        |e AS (SELECT doc_id, unnest(grams) AS gr FROM g),
        |b0 AS (SELECT DISTINCT doc_id AS bench_doc, gr AS bg FROM e
        |       WHERE doc_id % 50 = 0),
        |rare AS (SELECT bg FROM b0 GROUP BY bg HAVING count(*) <= 4),
        |b AS (SELECT bench_doc, b0.bg FROM b0 JOIN rare ON rare.bg = b0.bg)
        |SELECT e.doc_id, b.bench_doc, CAST(count(*) AS BIGINT) AS n_shared
        |FROM e JOIN b ON e.gr = b.bg
        |WHERE e.doc_id % 50 <> 0
        |GROUP BY 1, 2 HAVING count(*) >= 3
        |ORDER BY doc_id, bench_doc""".stripMargin),
    "pii_scrub" ->
      """WITH raw AS (SELECT doc_id,
        |  split_part(text, ' ', 1) ||
        |  CASE WHEN doc_id % 3 <> 0
        |       THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
        |       ELSE '' END ||
        |  CASE WHEN doc_id % 2 = 0
        |       THEN ' call (555) 010-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |       ELSE '' END ||
        |  CASE WHEN doc_id % 5 = 0
        |       THEN ' id ' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') ||
        |            '-00-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |       ELSE '' END ||
        |  substr(text, length(split_part(text, ' ', 1)) + 1) AS raw
        |  FROM documents),
        |s AS (SELECT doc_id, raw,
        |        regexp_replace(regexp_replace(regexp_replace(raw,
        |          '[0-9]{3}-[0-9]{2}-[0-9]{4}', '<SSN>', 'g'),
        |          '\(555\) [0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
        |          '[a-z0-9]+@[a-z]+\.[a-z]+', '<EMAIL>', 'g') AS scrubbed
        |      FROM raw)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(raw, '[a-z0-9]+@[a-z]+\.[a-z]+')) AS INTEGER)
        |    AS n_emails,
        |  CAST(len(regexp_extract_all(raw, '\(555\) [0-9]{3}-[0-9]{4}')) AS INTEGER)
        |    AS n_phones,
        |  CAST(len(regexp_extract_all(raw, '[0-9]{3}-[0-9]{2}-[0-9]{4}')) AS INTEGER)
        |    AS n_ssns,
        |  CAST(length(raw) AS INTEGER) AS raw_len,
        |  substr(scrubbed, 1, 40) AS scrubbed_head,
        |  md5(scrubbed) AS scrubbed_md5
        |FROM s ORDER BY doc_id""".stripMargin,
    "sequence_pack" ->
      """WITH t AS (SELECT source, doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |  CAST(COALESCE(sum(len(string_split(text, ' '))) OVER (
        |         PARTITION BY source ORDER BY doc_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |       0) AS BIGINT) AS start_off
        |  FROM documents)
        |SELECT source, doc_id, n_tok, start_off,
        |       start_off // 512 AS first_win,
        |       (start_off + n_tok - 1) // 512 AS last_win,
        |       (start_off + n_tok - 1) // 512 - start_off // 512 + 1 AS n_windows,
        |       CASE WHEN (start_off + n_tok - 1) // 512 > start_off // 512
        |            THEN 1 ELSE 0 END AS crosses_boundary
        |FROM t ORDER BY source, doc_id""".stripMargin,
    "dsir_weights" ->
      """WITH tk AS (SELECT doc_id, (doc_id % 50 = 0) AS is_bench,
        |                   unnest(string_split(text, ' ')) AS tok
        |            FROM documents),
        |pt AS (SELECT tok,
        |         CAST(sum(CASE WHEN is_bench THEN 1 ELSE 0 END) AS BIGINT) AS ct,
        |         CAST(sum(CASE WHEN is_bench THEN 0 ELSE 1 END) AS BIGINT) AS cr
        |       FROM tk GROUP BY tok),
        |t AS (SELECT CAST(sum(ct) + count(*) AS DOUBLE) AS ntv,
        |             CAST(sum(cr) + count(*) AS DOUBLE) AS nrv FROM pt),
        |s AS (SELECT doc_id,
        |        CAST(floor(ln(CAST(ct + 1 AS DOUBLE) * nrv /
        |                      (CAST(cr + 1 AS DOUBLE) * ntv)) * 1048576.0 + 0.5)
        |             AS BIGINT) AS u20
        |      FROM tk JOIN pt USING (tok) CROSS JOIN t
        |      WHERE NOT is_bench),
        |d AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |             CAST(sum(u20) AS BIGINT) AS sum_w_u20
        |      FROM s GROUP BY doc_id)
        |SELECT doc_id, n_tokens, sum_w_u20,
        |       CAST(sum_w_u20 AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS avg_w_u20,
        |       CASE WHEN sum_w_u20 > 0 THEN 1 ELSE 0 END AS target_like
        |FROM d ORDER BY doc_id""".stripMargin,
    "lm_score" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |bg AS (SELECT doc_id,
        |         unnest(list_transform(range(1, len(ts)),
        |           i -> ts[i] || ' ' || ts[i+1])) AS bg
        |       FROM tok WHERE len(ts) >= 2),
        |bw AS (SELECT doc_id, bg, split_part(bg, ' ', 1) AS w1 FROM bg),
        |cb AS (SELECT bg, CAST(count(*) AS BIGINT) AS cnt_bg FROM bw GROUP BY 1),
        |cw AS (SELECT split_part(bg, ' ', 1) AS w1,
        |              CAST(sum(cnt_bg) AS BIGINT) AS cnt_w1 FROM cb GROUP BY 1),
        |s AS (SELECT doc_id,
        |        CAST(floor(ln(CAST(cnt_bg AS DOUBLE) / CAST(cnt_w1 AS DOUBLE))
        |               * 1048576.0 + 0.5) AS BIGINT) AS u20
        |      FROM bw JOIN cb USING (bg) JOIN cw USING (w1)),
        |d AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |             CAST(sum(u20) AS BIGINT) AS sum_logprob_u20
        |      FROM s GROUP BY doc_id)
        |SELECT doc_id, n_bigrams, sum_logprob_u20,
        |       CAST(sum_logprob_u20 AS DOUBLE) / CAST(n_bigrams AS DOUBLE)
        |         AS avg_logprob_u20,
        |       CASE WHEN CAST(sum_logprob_u20 AS DOUBLE) / CAST(n_bigrams AS DOUBLE)
        |                 < -4102053.0 THEN 1 ELSE 0 END AS flagged
        |FROM d ORDER BY doc_id""".stripMargin,
    "source_mix" ->
      """WITH p AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |           FROM documents GROUP BY source),
        |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |             CAST(count(*) AS BIGINT) AS n_sources FROM p)
        |SELECT source, n_docs, n_tokens,
        |       CAST(n_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE)
        |         AS token_share,
        |       CAST(total_tokens AS DOUBLE) /
        |         (CAST(n_sources AS DOUBLE) * CAST(n_tokens AS DOUBLE))
        |         AS mix_weight
        |FROM p, t ORDER BY source""".stripMargin,
    "text_normalize" ->
      """WITH r AS (SELECT doc_id,
        |    split_part(text, ' ', 1) ||
        |    (CASE WHEN doc_id % 2 = 0
        |      THEN ' cafe' || chr(769) || ' A' || chr(778) || 'ngstro'
        |           || chr(776) || 'm ' || chr(8491)
        |      ELSE '' END) ||
        |    substr(text, length(split_part(text, ' ', 1)) + 1) AS raw
        |  FROM documents)
        |SELECT doc_id, raw <> nfc_normalize(raw) AS changed,
        |       CAST(length(raw) AS INT) AS len_raw,
        |       CAST(length(nfc_normalize(raw)) AS INT) AS len_nfc,
        |       md5(nfc_normalize(raw)) AS nfc_md5
        |FROM r ORDER BY doc_id""".stripMargin,
    "compaction_plan" ->
      """WITH f AS (SELECT source, doc_id, n_chars AS bytes,
        |             coalesce(sum(n_chars) OVER (PARTITION BY source
        |               ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
        |               AND 1 PRECEDING), 0) AS off
        |           FROM documents)
        |SELECT source, CAST(off // 4096 AS BIGINT) AS bin_id,
        |       CAST(count(*) AS BIGINT) AS n_files,
        |       CAST(sum(bytes) AS BIGINT) AS bin_bytes,
        |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM f GROUP BY source, bin_id ORDER BY source, bin_id""".stripMargin,
    "cooccur_pmi" ->
      """WITH d AS (SELECT string_split(text, ' ') AS toks FROM documents),
        |pr AS (SELECT least(toks[i], toks[i+1]) AS wa,
        |              greatest(toks[i], toks[i+1]) AS wb
        |       FROM d, unnest(generate_series(1, len(toks) - 1)) AS u(i)),
        |pc AS (SELECT wa, wb, CAST(count(*) AS BIGINT) AS pair_n
        |       FROM pr WHERE wa <> wb GROUP BY wa, wb),
        |un AS (SELECT w, CAST(count(*) AS BIGINT) AS uni_n
        |       FROM (SELECT unnest(toks) AS w FROM d) GROUP BY w),
        |t AS (SELECT (SELECT CAST(sum(uni_n) AS BIGINT) FROM un) AS t_uni,
        |             (SELECT CAST(sum(pair_n) AS BIGINT) FROM pc) AS t_pair)
        |SELECT pc.wa, pc.wb, pc.pair_n, a.uni_n AS na, b.uni_n AS nb,
        |       CAST(floor(ln(
        |         (CAST(pair_n AS DOUBLE) / CAST(t_pair AS DOUBLE)) /
        |         ((CAST(a.uni_n AS DOUBLE) / CAST(t_uni AS DOUBLE))
        |          * (CAST(b.uni_n AS DOUBLE) / CAST(t_uni AS DOUBLE))))
        |         * 1048576.0 + 0.5) AS BIGINT) AS pmi_u20
        |FROM pc JOIN un a ON pc.wa = a.w JOIN un b ON pc.wb = b.w, t
        |WHERE pair_n >= 5
        |ORDER BY pmi_u20 DESC, wa, wb LIMIT 20""".stripMargin,
    // CMS inner product: same salted-md5 bucket construction as cms_vocab,
    // per-depth-row Σ a_b·b_b joined on (row, bucket) — absent buckets are
    // zero counts and contribute nothing, so the join form is exact
    "join_size_estimate" ->
      """WITH ka AS (SELECT CAST(l_orderkey AS VARCHAR) AS t FROM lineitem),
        |ha AS (SELECT rs.i,
        |        CAST(concat('0x', substr(md5(CAST(rs.i AS VARCHAR) || '|' || t), 1, 7))
        |             AS BIGINT) % 65536 AS b
        |       FROM ka, (SELECT unnest([0,1,2,3]) AS i) rs),
        |ca AS (SELECT i, b, CAST(count(*) AS BIGINT) AS n FROM ha GROUP BY i, b),
        |kb AS (SELECT CAST(o_orderkey AS VARCHAR) AS t FROM orders
        |       WHERE o_totalprice > 200000.0),
        |hb AS (SELECT rs.i,
        |        CAST(concat('0x', substr(md5(CAST(rs.i AS VARCHAR) || '|' || t), 1, 7))
        |             AS BIGINT) % 65536 AS b
        |       FROM kb, (SELECT unnest([0,1,2,3]) AS i) rs),
        |cb AS (SELECT i, b, CAST(count(*) AS BIGINT) AS n FROM hb GROUP BY i, b),
        |ip AS (SELECT ca.i, CAST(sum(ca.n * cb.n) AS BIGINT) AS p
        |       FROM ca JOIN cb ON ca.i = cb.i AND ca.b = cb.b GROUP BY ca.i),
        |est AS (SELECT min(p) AS est_rows FROM ip),
        |ex AS (SELECT CAST(count(*) AS BIGINT) AS exact_rows
        |       FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |       WHERE o_totalprice > 200000.0)
        |SELECT est_rows, exact_rows, est_rows - exact_rows AS overcount
        |FROM est, ex""".stripMargin,
    "partition_advisor" ->
      """WITH a AS (SELECT event_type AS k, count(*) AS cnt FROM events GROUP BY 1),
        |b AS (SELECT CAST(ts AS DATE) AS k, count(*) AS cnt FROM events GROUP BY 1),
        |c AS (SELECT user_id % 256 AS k, count(*) AS cnt FROM events GROUP BY 1),
        |p AS (
        |  SELECT 'event_type' AS candidate, CAST(count(*) AS BIGINT) AS n_parts,
        |         CAST(sum(cnt) AS BIGINT) AS n_rows,
        |         CAST(max(cnt) AS BIGINT) AS max_rows FROM a
        |  UNION ALL
        |  SELECT 'event_day', CAST(count(*) AS BIGINT), CAST(sum(cnt) AS BIGINT),
        |         CAST(max(cnt) AS BIGINT) FROM b
        |  UNION ALL
        |  SELECT 'user_mod_256', CAST(count(*) AS BIGINT), CAST(sum(cnt) AS BIGINT),
        |         CAST(max(cnt) AS BIGINT) FROM c)
        |SELECT candidate, n_parts, n_rows, max_rows,
        |       CAST(max_rows AS DOUBLE) * n_parts / n_rows AS skew_ratio,
        |       CASE WHEN n_parts < 8 THEN 'too_few'
        |            WHEN n_parts > 100000 THEN 'too_many'
        |            WHEN CAST(max_rows AS DOUBLE) * n_parts / n_rows > 4.0
        |              THEN 'skewed'
        |            ELSE 'ok' END AS verdict
        |FROM p ORDER BY candidate""".stripMargin,
    // exact-substring removal: span fp -> min-doc keeper; a token in a
    // later doc is dropped iff some duplicated span covers it (mask
    // union over overlapping spans, same rule as the Spark HOF)
    "dedup_rewrite" ->
      """WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
        |sp AS (SELECT doc_id, i - 1 AS pos,
        |         CAST(concat('0x', substr(md5(array_to_string(w[i:i+15], ' ')), 1, 15))
        |              AS BIGINT) AS fp
        |       FROM d, UNNEST(generate_series(1, len(w) - 15)) AS t(i)),
        |k AS (SELECT fp, min(doc_id) AS keeper FROM sp GROUP BY fp),
        |ds AS (SELECT sp.doc_id, list_sort(list(DISTINCT sp.pos)) AS starts
        |       FROM sp JOIN k ON sp.fp = k.fp
        |       WHERE sp.doc_id <> k.keeper GROUP BY sp.doc_id),
        |m AS (SELECT d.doc_id, d.w, coalesce(ds.starts, []) AS starts
        |      FROM d LEFT JOIN ds ON d.doc_id = ds.doc_id),
        |r AS (SELECT doc_id, w,
        |        list_filter(range(0, len(w)),
        |          i -> len(list_filter(starts, s -> s <= i AND i < s + 16)) = 0)
        |          AS keep_idx
        |      FROM m)
        |SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
        |       CAST(len(w) - len(keep_idx) AS BIGINT) AS n_removed,
        |       md5(coalesce(array_to_string(
        |             list_transform(keep_idx, i -> w[i + 1]), ' '), ''))
        |         AS kept_md5
        |FROM r ORDER BY doc_id""".stripMargin,
    "dup_spans" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT doc_id, CAST(concat('0x',
        |        substr(md5(array_to_string(w[i:i+15], ' ')), 1, 15))
        |        AS BIGINT) AS fp
        |      FROM d, unnest(generate_series(1, len(w) - 15)) AS u(i)),
        |f AS (SELECT fp, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |      FROM g GROUP BY fp HAVING count(DISTINCT doc_id) >= 2)
        |SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |       CAST(count(f.fp) AS BIGINT) AS n_dup_spans,
        |       CAST(count(f.fp) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |         AS dup_frac
        |FROM g LEFT JOIN f USING (fp)
        |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin,
    "source_overlap" ->
      """WITH d AS (SELECT source, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT DISTINCT source, CAST(concat('0x',
        |        substr(md5(array_to_string(w[i:i+15], ' ')), 1, 15))
        |        AS BIGINT) AS fp
        |      FROM d, unnest(generate_series(1, len(w) - 15)) AS u(i))
        |SELECT x.source AS source_a, y.source AS source_b,
        |       CAST(count(*) AS BIGINT) AS n_shared_spans
        |FROM g x JOIN g y ON x.fp = y.fp AND x.source < y.source
        |GROUP BY x.source, y.source
        |ORDER BY source_a, source_b""".stripMargin,
    "mixture_resample" ->
      """WITH p AS (SELECT source,
        |             CAST(sum(len(string_split(text, ' '))) AS BIGINT)
        |               AS src_tokens
        |           FROM documents GROUP BY source),
        |t AS (SELECT CAST(sum(src_tokens) AS BIGINT) AS total_tokens,
        |             CAST(count(*) AS BIGINT) AS n_sources FROM p),
        |w AS (SELECT source,
        |        (total_tokens * 1048576) // (n_sources * src_tokens) AS w_fp
        |      FROM p, t),
        |d AS (SELECT d.source, d.doc_id, w.w_fp,
        |        (w.w_fp // 1048576) +
        |        (CASE WHEN CAST(concat('0x',
        |             substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 15))
        |             AS BIGINT) % 1048576 < w.w_fp % 1048576
        |         THEN 1 ELSE 0 END) AS n_copies
        |      FROM documents d JOIN w USING (source))
        |SELECT source, doc_id, w_fp, n_copies,
        |       unnest(generate_series(1, n_copies)) AS copy_idx
        |FROM d WHERE n_copies > 0
        |ORDER BY source, doc_id, copy_idx""".stripMargin,
    "chunk_overlap" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks,
        |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |           FROM documents),
        |s AS (SELECT doc_id, toks, n_tok,
        |        unnest(generate_series(0, n_tok - 1, 24)) AS start_tok
        |      FROM d WHERE n_tok > 0)
        |SELECT doc_id, start_tok // 24 AS chunk_id, start_tok,
        |       least(32, n_tok - start_tok) AS n_chunk_tok,
        |       (n_tok - start_tok) >= 32 AS is_full,
        |       md5(array_to_string(
        |         toks[CAST(start_tok + 1 AS INT):CAST(start_tok + 32 AS INT)],
        |         ' ')) AS chunk_md5
        |FROM s ORDER BY doc_id, chunk_id""".stripMargin,
    "vocab_coverage" ->
      """WITH t AS (SELECT source, unnest(string_split(text, ' ')) AS token
        |           FROM documents),
        |v AS (SELECT token FROM (SELECT token, CAST(count(*) AS BIGINT) AS cnt
        |                         FROM t GROUP BY token)
        |      ORDER BY cnt DESC, token LIMIT 256),
        |j AS (SELECT t.source, CASE WHEN v.token IS NULL THEN 1 ELSE 0 END AS oov
        |      FROM t LEFT JOIN v ON t.token = v.token)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
        |       CAST(sum(oov) AS BIGINT) AS n_oov,
        |       CAST((sum(oov) * 1000) // count(*) AS BIGINT) AS oov_permille
        |FROM j GROUP BY source ORDER BY source""".stripMargin,
    "bpe_merges" ->
      """WITH v AS (SELECT t AS word, CAST(count(*) AS BIGINT) AS cnt
        |           FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
        |           GROUP BY t),
        |pairs AS (SELECT unnest(list_transform(range(1, length(word)),
        |                  i -> substr(word, CAST(i AS INT), 2))) AS pair, cnt
        |          FROM v WHERE length(word) >= 2)
        |SELECT pair, CAST(sum(cnt) AS BIGINT) AS n
        |FROM pairs GROUP BY pair
        |ORDER BY n DESC, pair LIMIT 20""".stripMargin,
    "bpe_apply" ->
      """WITH v AS (SELECT t AS word, CAST(count(*) AS BIGINT) AS cnt
        |           FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
        |           GROUP BY t),
        |r1 AS (SELECT pair, CAST(sum(cnt) AS BIGINT) AS n
        |       FROM (SELECT unnest(list_transform(range(1, length(word)),
        |               i -> substr(word, CAST(i AS INT), 2))) AS pair, cnt
        |             FROM v WHERE length(word) >= 2)
        |       GROUP BY pair),
        |rule AS (SELECT pair AS rule FROM r1 ORDER BY n DESC, pair LIMIT 1),
        |mg AS (SELECT rule.rule,
        |         replace(trim(regexp_replace(word, '(.)', '\1 ', 'g')),
        |                 substr(rule.rule, 1, 1) || ' ' || substr(rule.rule, 2, 1),
        |                 rule.rule) AS merged,
        |         cnt
        |       FROM v, rule),
        |syms AS (SELECT rule, string_split(merged, ' ') AS s, cnt
        |         FROM mg WHERE len(string_split(merged, ' ')) >= 2),
        |p2 AS (SELECT rule, unnest(list_transform(range(1, len(s)),
        |         i -> s[CAST(i AS INT)] || ' ' || s[CAST(i AS INT) + 1])) AS pair, cnt
        |       FROM syms)
        |SELECT rule, pair, CAST(sum(cnt) AS BIGINT) AS n
        |FROM p2 GROUP BY rule, pair
        |ORDER BY n DESC, pair LIMIT 20""".stripMargin,
    "bm25_topk" -> (bm25Cte +
      """
        |SELECT doc_id, CAST(sum(part_u20) AS BIGINT) AS score_u20,
        |       CAST(count(*) AS BIGINT) AS n_hit_terms
        |FROM sc GROUP BY doc_id
        |ORDER BY score_u20 DESC, doc_id LIMIT 10""".stripMargin),
    "rrf_fusion" -> (bm25Cte +
      s""",
         |bm AS (SELECT doc_id, CAST(sum(part_u20) AS BIGINT) AS score_u20
         |       FROM sc GROUP BY doc_id
         |       ORDER BY score_u20 DESC, doc_id LIMIT 20),
         |bmr AS (SELECT doc_id, CAST(row_number() OVER
         |          (ORDER BY score_u20 DESC, doc_id) AS INTEGER) AS bm25_rank
         |        FROM bm),
         |p AS (SELECT embedding AS pe FROM embeddings WHERE vec_id = 0),
         |dn AS (SELECT vec_id AS doc_id, ${cosSql("embedding", "pe")} AS cos_score
         |       FROM embeddings, p WHERE vec_id <> 0
         |       ORDER BY cos_score DESC, doc_id LIMIT 20),
         |dnr AS (SELECT doc_id, CAST(row_number() OVER
         |          (ORDER BY cos_score DESC, doc_id) AS INTEGER) AS cos_rank
         |        FROM dn)
         |SELECT COALESCE(bmr.doc_id, dnr.doc_id) AS doc_id, bm25_rank, cos_rank,
         |       CAST(floor((COALESCE(1.0 / (60.0 + CAST(bm25_rank AS DOUBLE)), 0.0)
         |                 + COALESCE(1.0 / (60.0 + CAST(cos_rank AS DOUBLE)), 0.0))
         |                  * 1048576.0 + 0.5) AS BIGINT) AS rrf_u20
         |FROM bmr FULL OUTER JOIN dnr ON bmr.doc_id = dnr.doc_id
         |ORDER BY rrf_u20 DESC, doc_id""".stripMargin),
    "length_quartiles" ->
      """WITH q AS (SELECT source, doc_id, n_chars,
        |             CAST(ntile(4) OVER (PARTITION BY source
        |               ORDER BY n_chars, doc_id) AS INTEGER) AS quartile
        |           FROM documents)
        |SELECT source, quartile, CAST(count(*) AS BIGINT) AS n_docs,
        |       min(n_chars) AS min_chars, max(n_chars) AS max_chars,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM q GROUP BY 1, 2 ORDER BY source, quartile""".stripMargin,
    "inverted_index" ->
      """WITH e AS (SELECT DISTINCT doc_id, token FROM (
        |        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |        FROM documents))
        |SELECT token, CAST(count(*) AS BIGINT) AS df,
        |       array_to_string(list_sort(list(doc_id))[1:20], ',') AS postings_head
        |FROM e GROUP BY token ORDER BY token""".stripMargin,
    // media_decode: replay the PPM construction (header + printable-ASCII
    // raster from doc_id + the document text as ignored trailing bytes),
    // then DECODE it the way PpmDecoder does — parse width/height/maxval
    // from the header, then sum exactly width·height RGB samples from the
    // raster region (ascii() = the byte value on this ASCII payload).
    "media_decode" ->
      """WITH raw AS (SELECT doc_id,
        |    'P6' || chr(10) ||
        |    CAST(2 + doc_id % 3 AS VARCHAR) || ' ' ||
        |    CAST(1 + doc_id % 2 AS VARCHAR) || chr(10) || '255' || chr(10) ||
        |    array_to_string(list_transform(
        |      range(0, 3 * (2 + doc_id % 3) * (1 + doc_id % 2)),
        |      j -> chr(CAST(32 + (doc_id * 31 + j * 7) % 64 AS INTEGER))), '')
        |    || text AS s
        |  FROM documents),
        |d AS (SELECT doc_id,
        |    CAST(regexp_extract(s, '^P6\n([0-9]+) ([0-9]+)\n([0-9]+)\n', 1)
        |         AS INTEGER) AS width,
        |    CAST(regexp_extract(s, '^P6\n([0-9]+) ([0-9]+)\n([0-9]+)\n', 2)
        |         AS INTEGER) AS height,
        |    CAST(regexp_extract(s, '^P6\n([0-9]+) ([0-9]+)\n([0-9]+)\n', 3)
        |         AS INTEGER) AS maxval,
        |    substr(s, length(regexp_extract(
        |      s, '^P6\n([0-9]+) ([0-9]+)\n([0-9]+)\n', 0)) + 1) AS px
        |  FROM raw)
        |SELECT doc_id, TRUE AS ok, width, height, maxval,
        |  width * height AS n_pixels,
        |  CAST(list_sum(list_transform(range(0, CAST(width * height AS BIGINT)),
        |    k -> ascii(substr(px, CAST(k * 3 + 1 AS INTEGER), 1)))) AS BIGINT)
        |    AS sum_r,
        |  CAST(list_sum(list_transform(range(0, CAST(width * height AS BIGINT)),
        |    k -> ascii(substr(px, CAST(k * 3 + 2 AS INTEGER), 1)))) AS BIGINT)
        |    AS sum_g,
        |  CAST(list_sum(list_transform(range(0, CAST(width * height AS BIGINT)),
        |    k -> ascii(substr(px, CAST(k * 3 + 3 AS INTEGER), 1)))) AS BIGINT)
        |    AS sum_b
        |FROM d ORDER BY doc_id""".stripMargin,
    // media_dedup: same construction + decode replay as media_decode,
    // then group byte-DISTINCT payloads by perceptual signature (width,
    // height, 2x2 dHash). The dHash SQL is GENERATED from the engine's
    // own PpmDecoder.DhashPairs bit layout (the anti-drift design):
    // per-cell per-channel byte sums + pixel counts, then one comparison
    // bit per (channel, cell pair) by exact integer cross-multiplication.
    // md5(s) is the distinct-payload audit (ASCII payload: VARCHAR md5
    // == the engine's md5 over the same bytes).
    "media_dedup" -> (mediaDhashCte +
      """
        |SELECT width, height, dhash,
        |  CAST(min(doc_id) AS BIGINT) AS keeper_doc_id,
        |  CAST(count(*) AS BIGINT) AS n_copies,
        |  CAST(count(DISTINCT pmd5) AS BIGINT) AS n_distinct_payloads,
        |  CAST(count(DISTINCT (sum_r, sum_g, sum_b)) AS BIGINT) AS n_rasters
        |FROM g GROUP BY 1, 2, 3
        |ORDER BY keeper_doc_id""".stripMargin),
    // media_neardup_pairs: cluster representatives from the same dHash
    // CTE, 3 six-bit bands (hamming <= 2 pigeonholes >= 1 exact band),
    // verify with bit_count(xor) — the engine's banded join replayed
    "media_neardup_pairs" -> (mediaDhashCte +
      """,
        |reps AS (SELECT width, height, dhash,
        |           CAST(min(doc_id) AS BIGINT) AS keeper,
        |           CAST(count(*) AS BIGINT) AS n
        |         FROM g GROUP BY 1, 2, 3),
        |bands AS (SELECT r.*, b AS bidx, (dhash >> (6 * b)) & 63 AS bval
        |          FROM reps r, unnest([0, 1, 2]) AS t(b)),
        |cand AS (SELECT DISTINCT x.width, x.height,
        |           x.dhash AS dhash_a, y.dhash AS dhash_b,
        |           x.keeper AS keeper_a, y.keeper AS keeper_b,
        |           x.n AS n_a, y.n AS n_b
        |         FROM bands x JOIN bands y
        |           ON x.width = y.width AND x.height = y.height
        |          AND x.bidx = y.bidx AND x.bval = y.bval
        |          AND x.keeper < y.keeper)
        |SELECT width, height, dhash_a, dhash_b, keeper_a, keeper_b, n_a, n_b,
        |       CAST(bit_count(xor(dhash_a, dhash_b)) AS INTEGER) AS hamming
        |FROM cand
        |WHERE bit_count(xor(dhash_a, dhash_b)) BETWEEN 1 AND 2
        |ORDER BY keeper_a, keeper_b""".stripMargin),
    "media_frame_sample" ->
      """WITH d AS (SELECT doc_id, text,
        |             CAST((length(text) + 99) // 100 AS INTEGER) AS n_frames
        |           FROM documents),
        |s AS (SELECT doc_id, text, n_frames,
        |        greatest(1, n_frames // 4) AS stride FROM d),
        |f AS (SELECT doc_id, n_frames,
        |        CAST(unnest(generate_series(0, n_frames - 1, stride)) AS INTEGER)
        |          AS frame_idx,
        |        text, stride FROM s)
        |SELECT doc_id, n_frames, frame_idx,
        |       CAST(length(substr(text, frame_idx * 100 + 1, 100)) AS INTEGER)
        |         AS frame_len,
        |       md5(substr(text, frame_idx * 100 + 1, 100)) AS frame_md5
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin,
    // content-defined chunking: 1-based j in the SQL maps to the Spark
    // side's 0-based i = j-1; boundary test and chunk hashes use the same
    // md5 prefixes (28-bit gate, 40-bit content hash — 40-bit keeps the
    // per-doc checksum sum far from i64 overflow)
    "cdc_chunks" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |bd AS (SELECT doc_id, w, len(w) AS n,
        |        list_transform(list_filter(range(4, len(w) + 1),
        |          j -> CAST(concat('0x', substr(md5(array_to_string(w[j-3:j], ' ')), 1, 7))
        |               AS BIGINT) % 16 = 0),
        |          j -> j - 1) AS b0 FROM d),
        |sg AS (SELECT doc_id, w, n,
        |        [CAST(0 AS BIGINT)] || list_transform(b0, x -> x + 1) AS ss,
        |        b0 || [CAST(n - 1 AS BIGINT)] AS ee FROM bd),
        |ch AS (SELECT doc_id, n, ss, ee, w,
        |        list_filter(range(1, len(ss) + 1), k -> ee[k] >= ss[k]) AS ks
        |       FROM sg)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
        |       CAST(len(ks) AS BIGINT) AS n_chunks,
        |       CAST(list_max(list_transform(ks, k -> ee[k] - ss[k] + 1)) AS BIGINT)
        |         AS max_chunk,
        |       CAST(coalesce(list_sum(list_transform(ks, k ->
        |         CAST(concat('0x', substr(md5(array_to_string(
        |           w[ss[k]+1:ee[k]+1], ' ')), 1, 10)) AS BIGINT))), 0) AS BIGINT)
        |         AS hash_checksum
        |FROM ch ORDER BY doc_id""".stripMargin,
    // full source×lang grid so absent languages still contribute their
    // corpus share; each |Δp| term is quantized before the sum
    "lang_drift" ->
      """WITH c AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n
        |           FROM documents GROUP BY source, lang),
        |s AS (SELECT source, CAST(count(*) AS BIGINT) AS src_n
        |      FROM documents GROUP BY source),
        |l AS (SELECT lang, CAST(count(*) AS BIGINT) AS lang_n
        |      FROM documents GROUP BY lang),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS total_n FROM documents),
        |g AS (SELECT s.source, l.lang, s.src_n, l.lang_n, t.total_n,
        |        coalesce(c.n, 0) AS n
        |      FROM s CROSS JOIN l CROSS JOIN t
        |      LEFT JOIN c ON c.source = s.source AND c.lang = l.lang),
        |q AS (SELECT source, src_n, n,
        |        CAST(floor(abs(CAST(n AS DOUBLE) / src_n
        |                       - CAST(lang_n AS DOUBLE) / total_n)
        |                   * 1048576.0 + 0.5) AS BIGINT) AS term_u20
        |      FROM g)
        |SELECT source, max(src_n) AS n_docs,
        |       CAST(sum(CASE WHEN n > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_langs_present,
        |       CAST(sum(term_u20) AS BIGINT) AS drift_u20
        |FROM q GROUP BY source ORDER BY source""".stripMargin,
    "token_spectrum" ->
      """WITH tf AS (SELECT t.tok, CAST(count(*) AS BIGINT) AS n
        |            FROM (SELECT unnest(string_split(text, ' ')) AS tok
        |                  FROM documents) t
        |            GROUP BY t.tok)
        |SELECT CAST(length(bin(n)) - 1 AS INTEGER) AS freq_bucket,
        |       CAST(count(*) AS BIGINT) AS n_types,
        |       min(n) AS min_freq, max(n) AS max_freq,
        |       CAST(sum(n) AS BIGINT) AS total_occurrences
        |FROM tf GROUP BY 1 ORDER BY freq_bucket""".stripMargin,
    "token_fertility" ->
      """WITH d AS (SELECT lang,
        |             CAST(length(text) AS BIGINT) AS chars,
        |             CAST(len(string_split(text, ' ')) AS BIGINT) AS ws,
        |             CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
        |                  AS BIGINT) AS bpe
        |           FROM documents)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(chars) AS BIGINT) AS n_chars,
        |       CAST(sum(ws) AS BIGINT) AS n_ws_tokens,
        |       CAST(sum(bpe) AS BIGINT) AS n_bpe_tokens,
        |       CAST(CAST(sum(bpe) AS BIGINT) AS DOUBLE)
        |         / CAST(sum(ws) AS BIGINT) AS fertility,
        |       CAST(CAST(sum(chars) AS BIGINT) AS DOUBLE)
        |         / CAST(sum(bpe) AS BIGINT) AS chars_per_token
        |FROM d GROUP BY lang ORDER BY lang""".stripMargin,
    // winnowing (SIGMOD 2003): word-4-gram 40-bit hashes packed with their
    // position (h*2^20 + pos), window-8 min per end position, distinct —
    // the packed long min IS the (hash, leftmost-pos) argmin on both engines
    "winnow_spans" -> (winnowCte +
      """
        |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
        |       CAST(len(sel) AS BIGINT) AS n_selected,
        |       CAST(coalesce(list_sum(list_transform(sel, x -> x >> 20)), 0)
        |            AS BIGINT) AS fp_checksum
        |FROM s ORDER BY doc_id""".stripMargin),
    "winnow_dedup_pairs" -> (winnowCte +
      """,
        |f AS (SELECT DISTINCT doc_id, x >> 20 AS fp
        |      FROM (SELECT doc_id, unnest(sel) AS x FROM s)),
        |r AS (SELECT fp FROM f GROUP BY fp
        |      HAVING count(*) BETWEEN 2 AND 32),
        |f2 AS (SELECT f.doc_id, f.fp FROM f JOIN r USING (fp))
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       CAST(count(*) AS BIGINT) AS n_shared_fps
        |FROM f2 a JOIN f2 b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY doc_a, doc_b""".stripMargin),
    "ngram_novelty" -> (gramsCte +
      """,
        |e AS (SELECT doc_id, unnest(grams) AS gr FROM g),
        |f AS (SELECT gr, min(doc_id) AS first_doc FROM e GROUP BY gr)
        |SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |       CAST(sum(CASE WHEN f.first_doc = e.doc_id THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_novel,
        |       CAST(sum(CASE WHEN f.first_doc = e.doc_id THEN 1 ELSE 0 END)
        |            AS DOUBLE) / count(*) AS novelty
        |FROM e JOIN f ON e.gr = f.gr
        |GROUP BY e.doc_id ORDER BY doc_id""".stripMargin),
    // corpus second-moment matrix at 2^-40 fixed-point scale: components
    // quantized to 2^-20 BEFORE multiplying, so every term is an exact i64
    // and the sum is order-independent on both engines
    "embedding_gram" ->
      """WITH q AS (SELECT vec_id, list_transform(embedding,
        |             x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0 + 0.5)
        |                       AS BIGINT)) AS xs FROM embeddings),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_vecs FROM q),
        |e AS (SELECT vec_id, t.i AS i, xs[t.i + 1] AS x FROM q, range(64) t(i))
        |SELECT CAST(a.i AS INTEGER) AS i, CAST(b.i AS INTEGER) AS j,
        |       CAST(sum(a.x * b.x) AS BIGINT) AS sum_q40,
        |       n.n_vecs
        |FROM e a JOIN e b ON a.vec_id = b.vec_id CROSS JOIN n
        |WHERE a.i <= b.i
        |GROUP BY a.i, b.i, n.n_vecs
        |ORDER BY i, j""".stripMargin,
    // Gopher-style hard rule gates: all-integer comparisons (length gates
    // multiplied through by n_tokens), so the twin is trivially bit-exact
    "gopher_rules" ->
      """WITH t AS (SELECT doc_id, length(text) AS nc,
        |             string_split(text, ' ') AS toks FROM documents),
        |q AS (SELECT doc_id,
        |        CAST(len(toks) AS INTEGER) AS n_tokens,
        |        CAST(nc - (len(toks) - 1) AS INTEGER) AS n_letters,
        |        CAST(len(list_filter(toks, t -> t = 'the' OR t = 'a'))
        |             AS INTEGER) AS n_stop,
        |        CAST(list_max(list_transform(list_distinct(toks),
        |               t -> len(list_filter(toks, x -> x = t))))
        |             AS INTEGER) AS max_tok_n
        |      FROM t),
        |g AS (SELECT doc_id, n_tokens, n_stop, max_tok_n,
        |        CAST(n_letters AS DOUBLE) / n_tokens AS mean_word_len,
        |        CASE WHEN n_tokens >= 30 AND n_tokens <= 500
        |             THEN 1 ELSE 0 END AS g_len,
        |        CASE WHEN n_letters >= n_tokens * 3
        |              AND n_letters <= n_tokens * 10
        |             THEN 1 ELSE 0 END AS g_wordlen,
        |        CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS g_stop,
        |        CASE WHEN max_tok_n * 8 <= n_tokens THEN 1 ELSE 0 END
        |          AS g_maxshare
        |      FROM q)
        |SELECT doc_id, n_tokens, n_stop, max_tok_n, mean_word_len,
        |       g_len, g_wordlen, g_stop, g_maxshare,
        |       CASE WHEN g_len = 1 AND g_wordlen = 1 AND g_stop = 1
        |             AND g_maxshare = 1 THEN 1 ELSE 0 END AS pass
        |FROM g ORDER BY doc_id""".stripMargin,
    // multi-source BFS over the simhash pair graph: 4 unrolled
    // frontier-expansion + min-dist rounds (same pair CTE as
    // label_propagation; seeds = every 50th doc, dist 0)
    "graph_bfs_distance" -> (simhashCte +
      governedPairsCte +
      """,
        |e AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM pairs
        |      UNION ALL SELECT pb, pa FROM pairs),
        |d0 AS (SELECT doc_id, 0 AS dist FROM documents WHERE doc_id % 50 = 0),
        |r1 AS (SELECT e.src AS doc_id, d0.dist + 1 AS dist
        |       FROM e JOIN d0 ON d0.doc_id = e.dst),
        |d1 AS (SELECT doc_id, CAST(min(dist) AS INTEGER) AS dist FROM
        |        (SELECT * FROM d0 UNION ALL SELECT * FROM r1) GROUP BY doc_id),
        |r2 AS (SELECT e.src AS doc_id, d1.dist + 1 AS dist
        |       FROM e JOIN d1 ON d1.doc_id = e.dst),
        |d2 AS (SELECT doc_id, CAST(min(dist) AS INTEGER) AS dist FROM
        |        (SELECT * FROM d1 UNION ALL SELECT * FROM r2) GROUP BY doc_id),
        |r3 AS (SELECT e.src AS doc_id, d2.dist + 1 AS dist
        |       FROM e JOIN d2 ON d2.doc_id = e.dst),
        |d3 AS (SELECT doc_id, CAST(min(dist) AS INTEGER) AS dist FROM
        |        (SELECT * FROM d2 UNION ALL SELECT * FROM r3) GROUP BY doc_id),
        |r4 AS (SELECT e.src AS doc_id, d3.dist + 1 AS dist
        |       FROM e JOIN d3 ON d3.doc_id = e.dst),
        |d4 AS (SELECT doc_id, CAST(min(dist) AS INTEGER) AS dist FROM
        |        (SELECT * FROM d3 UNION ALL SELECT * FROM r4) GROUP BY doc_id)
        |SELECT doc_id, dist FROM d4 ORDER BY doc_id""".stripMargin),
  )
}
