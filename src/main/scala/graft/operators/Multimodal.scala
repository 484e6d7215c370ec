package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** Multimodal-column plumbing: media payloads as opaque `binary` columns
  * with typed metadata, batch-shaped decode via `mapPartitions`.
  *
  * The image decode is REAL: [[PpmDecoder]] parses binary PPM (P6) —
  * magic, comment-tolerant whitespace-delimited header, then raw
  * interleaved RGB bytes — in pure byte arithmetic (PPM needs no codec
  * library; spec: netpbm P6). The fixture payloads are deterministic
  * synthetic PPMs spliced from `doc_id` (the `pii_scrub` injection
  * pattern) with the document text as TRAILING bytes, so a correct
  * decoder must size the raster from the parsed header, not the payload
  * length. Everything Spark-side — schema, binary columns, struct/map
  * shaping, partition-wise batch decode — is the shape a codec-backed
  * deployment would keep: at 100 TB the binary payloads stay columnar in
  * parquet (never materialized as strings) and decode runs once per
  * partition with amortized decoder setup.
  */
object Multimodal {

  case class MediaRecord(doc_id: Long, payload: Array[Byte], meta: Map[String, String])
  case class ImageFeatures(doc_id: Long, ok: Boolean, width: Int, height: Int,
      maxval: Int, n_pixels: Int, sum_r: Long, sum_g: Long, sum_b: Long)

  /** Decoder contract a real deployment would back with further codecs.
    * `decodeBatch` is partition-scoped so implementations can amortize
    * codec/model initialization across a whole batch of payloads. */
  trait MediaDecoder extends Serializable {
    def decodeBatch(records: Iterator[MediaRecord]): Iterator[ImageFeatures]
  }

  /** REAL binary PPM (P6) decoder: `P6`, then three whitespace-delimited
    * decimal header fields (width, height, maxval; `#` comments allowed,
    * per the netpbm spec), then a single whitespace byte, then
    * width·height interleaved RGB samples (1 byte each for maxval<256).
    * Pure byte arithmetic — malformed/truncated payloads yield an
    * `ok=false` row (zeros) instead of failing the partition, the
    * poison-pill discipline a 100 TB crawl decode needs. */
  object PpmDecoder extends MediaDecoder {
    def decodeBatch(records: Iterator[MediaRecord]): Iterator[ImageFeatures] =
      records.map { r => decode(r.doc_id, r.payload) }

    /** Header parse shared by [[decode]] and [[dhash2x2]]:
      * (width, height, maxval, rasterStart) or None when malformed. */
    private[graft] def parseHeader(b: Array[Byte]): Option[(Int, Int, Int, Int)] = {
      var pos = 2
      if (b.length < 2 || b(0) != 'P' || b(1) != '6') return None

      def isWs(c: Byte) = c == ' ' || c == '\n' || c == '\r' || c == '\t'
      // whitespace-delimited decimal token, skipping '#'-to-newline comments
      def nextInt(): Int = {
        var skipping = true
        while (skipping && pos < b.length) {
          if (isWs(b(pos))) pos += 1
          else if (b(pos) == '#') { while (pos < b.length && b(pos) != '\n') pos += 1 }
          else skipping = false
        }
        if (pos >= b.length || b(pos) < '0' || b(pos) > '9') return -1
        var v = 0
        while (pos < b.length && b(pos) >= '0' && b(pos) <= '9') {
          v = v * 10 + (b(pos) - '0'); pos += 1
        }
        v
      }

      val w = nextInt(); val h = nextInt(); val mx = nextInt()
      // exactly ONE whitespace byte separates maxval from the raster
      if (w <= 0 || h <= 0 || mx <= 0 || mx > 255 ||
          pos >= b.length || !isWs(b(pos))) return None
      pos += 1
      if (b.length - pos < 3 * w * h) return None
      Some((w, h, mx, pos))
    }

    private[graft] def decode(docId: Long, b: Array[Byte]): ImageFeatures =
      parseHeader(b) match {
        case None =>
          ImageFeatures(docId, ok = false, 0, 0, 0, 0, 0L, 0L, 0L)
        case Some((w, h, mx, pos)) =>
          val n = w * h
          var (sr, sg, sb) = (0L, 0L, 0L)
          var k = 0
          while (k < n) {
            sr += b(pos + 3 * k) & 0xff
            sg += b(pos + 3 * k + 1) & 0xff
            sb += b(pos + 3 * k + 2) & 0xff
            k += 1
          }
          ImageFeatures(docId, ok = true, w, h, mx, n, sr, sg, sb)
      }

    /** Cell-pair comparison order for [[dhash2x2]] — 2x2 grid cells in
      * row-major order (0,0)=0 (1,0)=1 (0,1)=2 (1,1)=3; bit layout is
      * channel·6 + pairIndex. The DuckDB oracle SQL is GENERATED from
      * this same constant (the anti-drift design), so the layout is the
      * single source of truth. */
    private[graft] val DhashPairs: Seq[(Int, Int)] =
      Seq((0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3))

    /** Perceptual difference hash over a 2x2 downsample of the decoded
      * raster — a REAL dHash, not a stats signature: pixel (x,y) maps to
      * grid cell (2x/w, 2y/h); per cell and per RGB channel the byte sum
      * and pixel count are accumulated; each of the 6 ordered cell pairs
      * contributes one bit per channel — set when cell i's channel MEAN
      * exceeds cell j's, compared exactly by integer cross-multiplication
      * (s_i·c_j > s_j·c_i — no division, no floats). 3 channels x 6 pairs
      * = 18 comparison bits packed into a 64-bit long; the tiny fixture
      * rasters (≤4x2) bound the grid — a deployment-scale 9x8 grid (the
      * classic 64-bit dHash) drops into the identical shape. Trailing
      * bytes after the raster never reach the hash (the spec proves it),
      * and empty cells (h=1 rasters) compare deterministically as mean 0.
      */
    private[graft] def dhash2x2(b: Array[Byte]): Long = parseHeader(b) match {
      case None => 0L
      case Some((w, h, _, pos)) =>
        val s = Array.ofDim[Long](3, 4)
        val c = new Array[Long](4)
        val n = w * h
        var k = 0
        while (k < n) {
          val cell = (2 * (k / w) / h) * 2 + (2 * (k % w) / w)
          c(cell) += 1
          var ch = 0
          while (ch < 3) {
            s(ch)(cell) += b(pos + 3 * k + ch) & 0xff
            ch += 1
          }
          k += 1
        }
        var bits = 0L
        var ch = 0
        while (ch < 3) {
          var p = 0
          while (p < DhashPairs.length) {
            val (i, j) = DhashPairs(p)
            if (s(ch)(i) * c(j) > s(ch)(j) * c(i)) bits |= 1L << (ch * 6 + p)
            p += 1
          }
          ch += 1
        }
        bits
    }
  }

  /** Synthetic PPM payloads spliced from `doc_id` (the `pii_scrub`
    * injection pattern — the corpus carries no real images, the splice
    * makes the decode verifiable): a P6 header with
    * width = 2 + doc_id%3, height = 1 + doc_id%2, maxval 255, raster
    * bytes `32 + (doc_id·31 + j·7) mod 64` (printable ASCII, so the
    * DuckDB oracle can replay the construction and the decode in string
    * arithmetic), then the document TEXT as trailing bytes the decoder
    * must ignore. Built as pure column expressions; cast to binary at
    * the end — the payload column IS opaque bytes to everything
    * downstream. */
  def ppmRecords(spark: SparkSession, dir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    val w = lit(2) + ($"doc_id" % 3).cast(IntegerType)
    val h = lit(1) + ($"doc_id" % 2).cast(IntegerType)
    val px = concat_ws("", transform(
      sequence(lit(0), lit(3) * w * h - 1),
      j => chr(lit(32) + pmod($"doc_id" * 31 + j.cast(LongType) * 7, lit(64)))))
    Tables.documents(spark, dir)
      .select(
        $"doc_id",
        concat(lit("P6\n"), w.cast(StringType), lit(" "), h.cast(StringType),
          lit("\n255\n"), px, $"text").cast(BinaryType).as("payload"),
        map(lit("lang"), $"lang", lit("source"), $"source").as("meta"))
      .as[MediaRecord]
  }

  /** Partition-wise batch decode through the decoder — the mapPartitions
    * seam where a codec batch runs (PPM here; JPEG/PNG/audio decoders
    * drop into the same contract). */
  def decodeFeatures(records: Dataset[MediaRecord],
      decoder: MediaDecoder = PpmDecoder): Dataset[ImageFeatures] = {
    import records.sparkSession.implicits._
    records.mapPartitions(decoder.decodeBatch(_))
  }

  /** Oracle-checked multimodal shaping query: pack each document into
    * struct<payload:binary, meta:map>, then unpack — payload stats +
    * exploded metadata rows. Exercises struct/map/binary/explode. */
  def multimodalCols(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", struct(
        $"text".cast(BinaryType).as("payload"),
        map(lit("lang"), $"lang", lit("source"), $"source").as("meta")).as("packed"))
      .select(
        $"doc_id",
        length($"packed.payload").as("payload_len"),
        substring(md5($"packed.payload"), 1, 16).as("payload_head"),
        explode($"packed.meta").as(Seq("meta_key", "meta_value")))
      .orderBy($"doc_id", $"meta_key")
  }

  /** NS: CLIP-style caption/embedding pair curation — the LAION-recipe
    * gate over (text, image) training pairs: each document's caption joins
    * its aligned embedding (`embeddings.vec_id` = `documents.doc_id`, the
    * corpus convention `rrf_fusion` established), and a pair is kept when
    * the caption is long enough (≥5 ws-tokens) AND the embedding's
    * IVF-assignment cosine clears the alignment floor — the stand-in for
    * a CLIP image-text score in a sandbox with no model. The score gate
    * compares in 2^-20 fixed point, so the keep decision is
    * boundary-exact cross-engine. One equi-join on the id; the argmax
    * assignment is the same zero-shuffle literal-codebook expression the
    * ANN family uses. */
  def mediaTextPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val assigned = Similarity.ivfAssigned(spark, dir,
        Similarity.codebook(spark, dir))
      .select($"vec_id", $"cell_id",
        floor($"score" * lit(1048576.0) + lit(0.5)).as("score_u20"))
    Tables.documents(spark, dir)
      .select($"doc_id", $"source",
        size(split($"text", " ")).as("n_tokens"))
      .join(assigned, $"doc_id" === $"vec_id")
      .select($"doc_id", $"source", $"n_tokens", $"cell_id", $"score_u20",
        when($"n_tokens" >= 5 && $"score_u20" >= 104858L, 1).otherwise(0)
          .as("kept")) // 104858 ≈ 0.1 in 2^-20 units: the alignment floor
      .orderBy($"doc_id")
  }

  /** NS: WebDataset-style shard packing — assign each payload to a
    * ~budget-byte training shard, per source, in doc_id order (the
    * tar-shard planner a multimodal loader streams from; shard = unit of
    * sequential I/O and shuffle-free sampling at training time). Same
    * start-offset binning as `compaction_plan`, applied to payload bytes;
    * per-partition-dir windows keep the cumsum shardable. */
  def mediaShardPack(spark: SparkSession, dir: String,
      budget: Long = 4096L): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"source").orderBy($"doc_id")
    Tables.documents(spark, dir)
      .select($"source", $"doc_id", $"n_chars")
      .withColumn("off", sum($"n_chars").over(w) - $"n_chars")
      .withColumn("shard_id", expr(s"off div $budget"))
      .groupBy($"source", $"shard_id")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("shard_bytes"),
        min($"doc_id").as("first_doc"), max($"doc_id").as("last_doc"))
      .orderBy($"source", $"shard_id")
  }

  /** Oracled decode query: synthetic PPM payloads through the REAL
    * [[PpmDecoder]] in the typed mapPartitions seam; the DuckDB twin
    * replays construction + header-parse + channel sums in string
    * arithmetic over the identical bytes. Channel SUMS (exact bigints)
    * rather than float means keep the compare bit-exact. */
  def mediaDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    decodeFeatures(ppmRecords(spark, dir)).toDF().orderBy($"doc_id")
  }

  case class MediaSig(doc_id: Long, ok: Boolean, width: Int, height: Int,
      sum_r: Long, sum_g: Long, sum_b: Long, dhash: Long, payload_md5: String)

  /** NS: perceptual media dedup — byte-DISTINCT payloads collapsed by
    * their decoded perceptual signature: (width, height,
    * [[PpmDecoder.dhash2x2]]) — a real difference hash over the decoded
    * raster, so near-identical rasters (same cell-mean ORDERING) collapse
    * even when their exact channel sums differ. Every fixture payload is
    * byte-unique (trailing text differs), yet the decoded rasters repeat
    * with the doc_id splice period, so the dedup is REAL work the
    * exact-dup md5 listing cannot do. One partition pass decodes AND
    * hashes each payload — the MessageDigest is instantiated ONCE per
    * partition (digest() resets it between rows), the same amortization
    * as [[decodeFeatures]] — then ONE bounded hash aggregate: map-side
    * combine collapses each partition to ≤|signatures| rows before the
    * shuffle, so the exchange is signature-bounded at any corpus size —
    * the `doc_dedup_exact` discipline applied to decoded content.
    * `n_rasters` counts distinct exact channel-sum triples inside each
    * perceptual cluster — >1 means the dHash merged rasters the exact
    * signature would have kept apart. */
  def mediaDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sigs = ppmRecords(spark, dir).mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { r =>
        val f = PpmDecoder.decode(r.doc_id, r.payload)
        val hex = md.digest(r.payload).map("%02x".format(_)).mkString
        MediaSig(f.doc_id, f.ok, f.width, f.height,
          f.sum_r, f.sum_g, f.sum_b, PpmDecoder.dhash2x2(r.payload), hex)
      }
    }.toDF()
    sigs.where($"ok")
      .groupBy($"width", $"height", $"dhash")
      .agg(min($"doc_id").as("keeper_doc_id"),
        count(lit(1)).as("n_copies"),
        countDistinct($"payload_md5").as("n_distinct_payloads"),
        countDistinct($"sum_r", $"sum_g", $"sum_b").as("n_rasters"))
      .orderBy($"keeper_doc_id")
  }

  /** NS: perceptual NEAR-dup pairs — the media twin of the simhash banded
    * join: find pairs of perceptual clusters whose dHashes differ by 1–2
    * bits (a near-identical raster: slight re-encode, tiny edit), which
    * [[mediaDedup]]'s exact-signature grouping keeps apart. Two scale
    * disciplines compose: (1) the search runs over cluster
    * REPRESENTATIVES (distinct (width, height, dhash) triples — bounded
    * by the signature space, never by the corpus), so the hamming-0 mass
    * that media_dedup owns is excluded by construction; (2) the 18-bit
    * hash splits into 3 six-bit bands — hamming ≤ 2 pigeonholes at least
    * one band exact, so candidates only form inside per-(dims, band,
    * value) blocks, the same lossless-banding argument as
    * `DocDedup.SimhashBandLayouts`. Verification is one integer
    * `bit_count(xor)` per candidate. */
  def mediaNeardupPairs(spark: SparkSession, dir: String,
      maxHamming: Int = 2): DataFrame = {
    import spark.implicits._
    val reps = ppmRecords(spark, dir).mapPartitions { it =>
      it.map { r =>
        val f = PpmDecoder.decode(r.doc_id, r.payload)
        (f.doc_id, f.ok, f.width, f.height, PpmDecoder.dhash2x2(r.payload))
      }
    }.toDF("doc_id", "ok", "width", "height", "dhash")
      .where($"ok")
      .groupBy($"width", $"height", $"dhash")
      .agg(min($"doc_id").as("keeper_doc_id"), count(lit(1)).as("n_copies"))
    val banded = reps.select($"width", $"height", $"dhash",
      $"keeper_doc_id", $"n_copies",
      explode(array((0 until 3).map(b => struct(
        lit(b).as("bidx"),
        shiftright($"dhash", 6 * b).bitwiseAND(lit(63L)).as("bval"))): _*))
        .as("bd"))
      .select($"width", $"height", $"dhash", $"keeper_doc_id", $"n_copies",
        $"bd.bidx".as("bidx"), $"bd.bval".as("bval"))
    val cand = banded.as("x").join(banded.as("y"),
        $"x.width" === $"y.width" && $"x.height" === $"y.height" &&
          $"x.bidx" === $"y.bidx" && $"x.bval" === $"y.bval" &&
          $"x.keeper_doc_id" < $"y.keeper_doc_id")
      .select($"x.width".as("width"), $"x.height".as("height"),
        $"x.dhash".as("dhash_a"), $"y.dhash".as("dhash_b"),
        $"x.keeper_doc_id".as("keeper_a"), $"y.keeper_doc_id".as("keeper_b"),
        $"x.n_copies".as("n_a"), $"y.n_copies".as("n_b"))
      .distinct() // a pair sharing several bands must emit once
    cand
      .withColumn("hamming", bit_count($"dhash_a".bitwiseXOR($"dhash_b")))
      .where($"hamming" >= 1 && $"hamming" <= maxHamming)
      .orderBy($"keeper_a", $"keeper_b")
  }

  /** Frame sampling as REAL (non-stub) plumbing: the payload is windowed
    * into fixed-size frames and every stride-th frame is taken, stride
    * chosen so ~4 frames survive per document — the row-explosion shape
    * of video frame-sampling, payload-agnostic (only the in-frame decode
    * needs codecs, and it is not part of this query). Fan-out is bounded
    * (≤5 rows/doc) and map-side; fully DuckDB-oracled. */
  def mediaFrameSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val frameLen = 100
    val frame = $"text".substr($"frame_idx" * frameLen + 1, lit(frameLen))
    Tables.documents(spark, dir)
      .select($"doc_id", $"text",
        floor((length($"text") + frameLen - 1) / frameLen).cast(IntegerType)
          .as("n_frames"))
      .withColumn("stride",
        greatest(lit(1), floor($"n_frames" / 4).cast(IntegerType)))
      .select($"doc_id", $"n_frames",
        explode(sequence(lit(0), $"n_frames" - 1, $"stride")).as("frame_idx"),
        $"text")
      .select($"doc_id", $"n_frames", $"frame_idx",
        length(frame).as("frame_len"),
        md5(frame.cast(BinaryType)).as("frame_md5"))
      .orderBy($"doc_id", $"frame_idx")
  }
}
