package graft

import scala.util.Random

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions._

/** Unit tests for the custom Catalyst expressions: FNV-1a vectors,
  * Confluent wire-format roundtrips (seeded-random property loops
  * mirroring the reference's encoder/decoder), uvarint overflow guard,
  * Avro/proto3 record codec roundtrips. */
class FunctionsSpec extends SparkSpecBase {
  import spark.implicits._

  // Published FNV-1a-32 test vectors + the reference partitioner's override
  // input (custom_order_partitioner.go:22-24).
  test("fnv1a32 matches published vectors") {
    assert(Fnv1a32.hash("".getBytes("UTF-8")) === 0x811c9dc5L)
    assert(Fnv1a32.hash("a".getBytes("UTF-8")) === 0xe40c292cL)
    assert(Fnv1a32.hash("foobar".getBytes("UTF-8")) === 0xbf9cf968L)
    val row = spark.range(1)
      .select(fnv1a32(lit("a")).as("h"), fnv1a32(lit("").cast("string")).as("e"))
      .head()
    assert(row.getLong(0) === 0xe40c292cL)
    assert(row.getLong(1) === 0x811c9dc5L)
  }

  test("unicode_normalize: UAX #15 vectors across all four forms") {
    val composed = "caf\u00e9"   // precomposed e-acute
    val decomposed = "cafe\u0301" // e + combining acute
    val row = spark.range(1).select(
      unicode_normalize(lit(decomposed), "NFC").as("nfc"),
      unicode_normalize(lit(composed), "NFD").as("nfd"),
      unicode_normalize(lit("\u212b"), "NFC").as("ang"),  // angstrom sign
      unicode_normalize(lit("\ufb01le"), "NFKC").as("lig"), // fi ligature
      unicode_normalize(lit("\u00bd"), "NFKD").as("half"),  // vulgar 1/2
      unicode_normalize(lit("plain ascii"), "NFC").as("id"))
      .head()
    assert(row.getString(0) === composed)
    assert(row.getString(1) === decomposed)
    assert(row.getString(2) === "\u00c5") // A-ring letter
    assert(row.getString(3) === "file")
    assert(row.getString(4) === "1\u20442") // 1 + fraction slash + 2
    assert(row.getString(5) === "plain ascii")
    // null passes through; bad form is rejected at analysis
    assert(spark.range(1)
      .select(unicode_normalize(lit(null).cast("string"), "NFC")).head().isNullAt(0))
    intercept[Exception] {
      spark.range(1).select(unicode_normalize(lit("x"), "NFX")).collect()
    }
  }

  test("wire format roundtrips for arbitrary payloads (avro + proto)") {
    val rnd = new Random(42)
    for (_ <- 1 to 200) {
      val schemaId = rnd.nextInt(Int.MaxValue)
      val payload = Array.fill[Byte](rnd.nextInt(64))(rnd.nextInt().toByte)
      for (proto <- Seq(false, true)) {
        val frame = WireFormat.encode(schemaId, payload, proto)
        assert(frame(0) === 0x00.toByte)
        val decoded = WireFormat.decode(frame, proto)
        assert(decoded != null)
        assert(decoded._1 === schemaId)
        assert(decoded._2.toSeq === payload.toSeq)
      }
    }
  }

  test("wire decode rejects malformed frames") {
    assert(WireFormat.decode(Array[Byte](1, 2, 3), proto = false) === null)
    assert(WireFormat.decode(Array[Byte](9, 0, 0, 0, 9, 65), proto = false) === null)
    assert(WireFormat.decode(null, proto = false) === null)
    // truncated uvarint: proto frame ending mid-varint
    assert(WireFormat.decode(Array[Byte](0, 0, 0, 0, 9, -1), proto = true) === null)
  }

  test("uvarint matches the reference semantics incl. overflow guard") {
    assert(WireFormat.readUVarint(Array[Byte](0x07), 0) === ((7L, 1)))
    // multi-byte: 300 = 0xAC 0x02
    assert(WireFormat.readUVarint(Array[Byte](0xac.toByte, 0x02), 0) === ((300L, 2)))
    // overflow: ten 0xff continuation bytes (> 64 bits) must be rejected
    val over = Array.fill[Byte](9)(0xff.toByte) :+ 0x02.toByte
    val (_, n) = WireFormat.readUVarint(over, 0)
    assert(n < 0)
    // truncation: continuation bit set, no terminator
    assert(WireFormat.readUVarint(Array[Byte](0x80.toByte), 0)._2 === 0)
  }

  private def randStr(rnd: Random): String =
    Iterator.fill(rnd.nextInt(20))(rnd.nextPrintableChar()).mkString

  // avro_record_encode / avro_record_decode evaluated on one row
  private def avroEncode(name: String, realName: String, movies: Seq[String]): Array[Byte] = {
    val row = InternalRow(UTF8String.fromString(name), UTF8String.fromString(realName),
      new GenericArrayData(movies.map(UTF8String.fromString).toArray[Any]))
    AvroSchemaCodec.recordEncode(Literal(row, RecordCodecs.RecordSchema)).eval()
      .asInstanceOf[Array[Byte]]
  }

  private def avroDecode(frame: Array[Byte]): (String, String, Seq[String]) = {
    val row = AvroSchemaCodec.recordDecode(Literal(frame)).eval().asInstanceOf[InternalRow]
    val movies = row.getArray(2)
    (row.getUTF8String(0).toString, row.getUTF8String(1).toString,
      (0 until movies.numElements()).map(movies.getUTF8String(_).toString))
  }

  test("avro record codec roundtrips (incl. empty movies / unicode)") {
    val rnd = new Random(7)
    for (_ <- 1 to 200) {
      val t = (randStr(rnd), randStr(rnd), Seq.fill(rnd.nextInt(5))(randStr(rnd)))
      assert(avroDecode(avroEncode(t._1, t._2, t._3)) === t)
    }
    val uni = avroEncode("héro", "名前", Seq("ünïcode"))
    assert(avroDecode(uni) === (("héro", "名前", Seq("ünïcode"))))
  }

  test("proto record codec roundtrips") {
    val rnd = new Random(11)
    for (_ <- 1 to 200) {
      val t = (randStr(rnd), randStr(rnd), Seq.fill(rnd.nextInt(5))(randStr(rnd)))
      assert(RecordCodecs.protoDecode(RecordCodecs.protoEncode(t._1, t._2, t._3)) === t)
    }
  }

  test("avro codec matches the reference's canonical record bytes") {
    // ("Captain America","Steve Rogers",[3 movies]) — cmd/producer/main.go:59-63.
    // Byte layout: zigzag-len + utf8 per string; array = block count, items, 0.
    val bytes = avroEncode("Captain America", "Steve Rogers",
      Seq("The First Avenger", "The Winter Soldier", "Civil War"))
    assert(bytes(0) === 30.toByte) // zigzag(15) = 30
    assert(new String(bytes, 1, 15, "UTF-8") === "Captain America")
    assert(bytes(16) === 24.toByte) // zigzag(12)
    val decoded = avroDecode(bytes)
    assert(decoded._3.size === 3)
  }

  test("codec expressions work as Columns with null-safety") {
    val df = Seq(("Hulk", "Bruce Banner", Seq("The Avengers", "Age of Ultron")))
      .toDF("name", "real_name", "movies")
      .select(struct($"name", $"real_name", $"movies").as("rec"))
      .select(
        avro_record_decode(avro_record_encode($"rec")).as("avro"),
        proto_record_decode(proto_record_encode($"rec")).as("proto"),
        avro_record_decode(lit(Array[Byte](-1))).as("bad"))
    val r = df.head()
    assert(r.getStruct(0).getString(0) === "Hulk")
    assert(r.getStruct(1).getSeq[String](2) === Seq("The Avengers", "Age of Ultron"))
    assert(r.isNullAt(2))
  }

  test("cms_sketch: never undercounts, sums exactly, merges across partitions") {
    import spark.implicits._
    import graft.functions.CmsSketch
    val (depth, width) = (4, 64)
    val tokens = Seq.fill(50)("alpha") ++ Seq.fill(7)("beta") ++
      (1 to 40).map(i => s"rare$i")
    // repartition(8) forces map-side partials + element-wise merge
    val sketch = tokens.toDF("tok").repartition(8)
      .agg(graft.functions.cms_sketch($"tok", depth, width))
      .head().getSeq[Long](0).toArray
    assert(sketch.length === depth * width)
    // every row of the matrix counts every token exactly once
    (0 until depth).foreach { i =>
      assert(sketch.slice(i * width, (i + 1) * width).sum === tokens.length.toLong)
    }
    // CMS guarantee: estimate >= true count, and equals it for the heavy
    // hitter here (collisions can only inflate the minimum)
    val est = CmsSketch.estimate(sketch, depth, width, "alpha")
    assert(est >= 50L && est <= 50L + 47L, s"alpha estimate $est")
    assert(CmsSketch.estimate(sketch, depth, width, "beta") >= 7L)
    assert(CmsSketch.estimate(sketch, depth, width, "never-seen") <= 97L)
  }

  test("winnow_mins: deque kernel == the HOF window-min formulation on random arrays") {
    import graft.functions.winnow_mins
    val rnd = new Random(123)
    val w = 8
    val cases: Seq[Seq[Long]] =
      Seq(Seq.empty[Long], Seq(5L), (1L to 7L), Seq.fill(20)(42L)) ++
        (1 to 60).map { _ =>
          val n = rnd.nextInt(120)
          Seq.fill(n)(rnd.nextLong(1L << 40)) // duplicate-prone small range too
        } ++
        (1 to 20).map(_ => Seq.fill(30)(rnd.nextLong(8L)))
    val df = cases.zipWithIndex.map { case (xs, i) => (i, xs) }.toDF("id", "xs")
    val both = df.select($"id",
        winnow_mins($"xs", w).as("kernel"),
        when(size($"xs") >= w,
          array_distinct(transform(sequence(lit(w - 1), size($"xs") - 1),
            e => array_min(slice($"xs", e - (w - 2), lit(w))))))
          .when(size($"xs") > 0, array(array_min($"xs")))
          .otherwise(array().cast("array<bigint>")).as("hof"))
      .collect()
    both.foreach { r =>
      assert(r.getAs[scala.collection.Seq[Long]]("kernel") ===
        r.getAs[scala.collection.Seq[Long]]("hof"),
        s"case ${r.getInt(0)} diverged")
    }
  }

  test("vector_sum_l: element-wise sums, null skipping, grouped map-side combine") {
    import graft.functions.vector_sum_l
    val df = Seq(
      ("a", Seq(1L, 2L, 3L)),
      ("a", Seq(10L, 20L, 30L)),
      ("b", Seq(-1L, 0L, 7L)))
      .toDF("g", "xs")
    val grouped = df.groupBy($"g").agg(vector_sum_l($"xs").as("s"))
      .collect().map(r => r.getAs[String]("g") -> r.getAs[scala.collection.Seq[Long]]("s")).toMap
    assert(grouped("a") === Seq(11L, 22L, 33L))
    assert(grouped("b") === Seq(-1L, 0L, 7L))
    // null rows are skipped, not zero-length-poisoned
    val withNull = Seq(Some(Seq(5L, 5L)), None, Some(Seq(1L, 2L)))
      .toDF("xs")
    val s = withNull.agg(vector_sum_l($"xs").as("s"))
      .head().getAs[scala.collection.Seq[Long]]("s")
    assert(s === Seq(6L, 7L))
    // ragged input fails loudly instead of silently truncating
    val ragged = Seq(Seq(1L, 2L), Seq(1L, 2L, 3L)).toDF("xs")
    val e = intercept[Exception] {
      ragged.coalesce(1).agg(vector_sum_l($"xs")).collect()
    }
    assert(e.getMessage != null)
  }

  test("gram_sum_l: matches the unfused scalar outer-product sum exactly") {
    import graft.functions.gram_sum_l
    val d = 5
    val rows: Seq[Seq[Long]] = Seq(
      Seq(1L, -2L, 3L, 0L, 7L),
      Seq(4L, 5L, -6L, 2L, 1L),
      Seq(0L, 0L, 9L, -1L, 3L),
      Seq(-8L, 1L, 2L, 6L, -4L))
    // scalar reference: full d*d row-major sum of outer products
    val expect = Array.fill(d * d)(0L)
    rows.foreach { x =>
      for (i <- 0 until d; j <- 0 until d)
        expect(i * d + j) += x(i) * x(j)
    }
    // repartition(3) forces partial buffers through serialize/merge
    val got = rows.toDF("xs").repartition(3)
      .agg(gram_sum_l($"xs", d).as("g"))
      .head().getAs[scala.collection.Seq[Long]]("g")
    assert(got === expect.toSeq)
    // symmetry of the mirrored output
    for (i <- 0 until d; j <- 0 until d)
      assert(got(i * d + j) === got(j * d + i))
    // null ROWS are skipped
    val withNull = (rows.map(Option(_)) :+ None).toDF("xs")
      .agg(gram_sum_l($"xs", d).as("g"))
      .head().getAs[scala.collection.Seq[Long]]("g")
    assert(withNull === expect.toSeq)
    // wrong dimension fails loudly
    val bad = intercept[Exception] {
      Seq(Seq(1L, 2L)).toDF("xs").agg(gram_sum_l($"xs", d)).collect()
    }
    assert(bad.getMessage != null)
  }
}
