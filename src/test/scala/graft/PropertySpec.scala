package graft

import org.scalacheck.{Arbitrary, Gen}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Md5Long, WireFormat}

/** Property-based coverage of the byte-level custom functions (SURVEY.md
  * §5.2): deterministic scalacheck sampling (fixed seed, no scalatestplus
  * bridge needed) against independent re-implementations written in this
  * file — so an error in the production encoding can't be mirrored by the
  * test oracle.
  */
class PropertySpec extends AnyFunSuite {

  private val N = 300

  private def samples[A](gen: Gen[A]): Seq[A] = {
    val params = Gen.Parameters.default.withSize(64)
    (0 until N).flatMap(i => gen.apply(params, Seed(0xC0FFEEL + i)))
  }

  private val payloadGen: Gen[Array[Byte]] =
    Gen.containerOf[Array, Byte](Arbitrary.arbitrary[Byte])
  private val idGen: Gen[Int] = Gen.chooseNum(0, Int.MaxValue)

  test("firstFitBins: every file one bin, bins nondecreasing, bin starts in own byte range") {
    val fileGen = Gen.chooseNum(0L, 20000L)
    val caseGen = Gen.zip(
      Gen.chooseNum(1L, 8192L),
      Gen.listOfN(40, fileGen))
    samples(caseGen).zipWithIndex.foreach { case ((target, sizes), i) =>
      val files = sizes.zipWithIndex.map { case (s, j) => (f"f$j%03d", s) }
      val plan = graft.operators.Scale.firstFitBins(files, target)
      assert(plan.map(_._1) === files.map(_._1), s"case $i: files dropped/reordered")
      assert(plan.map(p => (p._1, p._3)) === files, s"case $i: sizes altered")
      // bins nondecreasing in listing order
      plan.sliding(2).foreach {
        case Seq(a, b) => assert(a._2 <= b._2, s"case $i: bin went backwards")
        case _ =>
      }
      // each bin's FIRST file starts inside the bin's own byte range
      var off = 0L
      var prevBin = -1L
      plan.foreach { case (_, bin, len) =>
        if (bin != prevBin) {
          assert(off >= bin * target && off < (bin + 1) * target,
            s"case $i: bin $bin first file starts at byte $off outside its range")
          prevBin = bin
        }
        off += len
      }
    }
  }

  test("wire format: decode(encode(id, payload)) is identity, avro and proto flavors") {
    for {
      proto <- Seq(false, true)
      ((id, payload), i) <- samples(Gen.zip(idGen, payloadGen)).zipWithIndex
    } {
      val frame = WireFormat.encode(id, payload, proto)
      // frame layout: magic byte + big-endian id at bytes 1..4
      assert(frame(0) === 0x00.toByte, s"case $i: magic byte")
      val beId = ((frame(1) & 0xff) << 24) | ((frame(2) & 0xff) << 16) |
        ((frame(3) & 0xff) << 8) | (frame(4) & 0xff)
      assert(beId === id, s"case $i: big-endian id")
      val decoded = WireFormat.decode(frame, proto)
      assert(decoded != null, s"case $i: roundtrip returned null")
      assert(decoded._1 === id, s"case $i: schema id")
      assert(decoded._2.toSeq === payload.toSeq, s"case $i: payload")
    }
  }

  test("wire format: malformed frames (short / wrong magic) decode to null") {
    for (bytes <- samples(payloadGen)) {
      if (bytes.length < 5)
        assert(WireFormat.decode(bytes, proto = false) == null)
      else if (bytes(0) != 0x00.toByte)
        assert(WireFormat.decode(bytes, proto = false) == null)
    }
  }

  test("uvarint: reference Go semantics incl. overflow and truncation guards") {
    // independent encoder: standard LEB128
    def enc(v: Long): Array[Byte] = {
      var x = v; val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
      while ((x & ~0x7fL) != 0) { out += ((x & 0x7f) | 0x80).toByte; x >>>= 7 }
      out += (x & 0x7f).toByte
      out.toArray
    }
    for (v <- samples(Gen.chooseNum(0L, Long.MaxValue)) ++ Seq(0L, 1L, 127L, 128L, -1L)) {
      val bytes = enc(v)
      val (got, n) = WireFormat.readUVarint(bytes, 0)
      assert(n === bytes.length, s"$v: bytes read")
      assert(got === v, s"$v: value")
      // truncation: dropping the terminating byte must not return a value
      if (bytes.length > 1) {
        val (_, nt) = WireFormat.readUVarint(bytes.dropRight(1), 0)
        assert(nt === 0, s"$v: truncated varint accepted")
      }
    }
    // reference boundary (golang/proto/consumer/main.go:81): a 10-byte
    // varint is valid iff its final byte is 0 or 1 (the 64th bit)
    val max10 = Array.fill[Byte](9)(0xff.toByte) :+ 0x01.toByte
    assert(WireFormat.readUVarint(max10, 0)._2 === 10, "uint64 max rejected")
    val over = Array.fill[Byte](9)(0xff.toByte) :+ 0x02.toByte
    assert(WireFormat.readUVarint(over, 0)._2 < 0, "65-bit varint accepted")
    val over11 = Array.fill[Byte](10)(0xff.toByte) :+ 0x00.toByte
    assert(WireFormat.readUVarint(over11, 0)._2 < 0, "11-byte varint accepted")
  }

  test("fnv1a32 matches an independent FNV-1a fold for arbitrary strings") {
    def ref(s: String): Long = {
      var h = 2166136261L
      for (b <- s.getBytes("UTF-8")) {
        h = ((h ^ (b & 0xff)) * 16777619L) & 0xffffffffL
      }
      h
    }
    // known vectors (public FNV test suite) + random strings incl. unicode
    assert(ref("") === 2166136261L)
    for (s <- samples(Arbitrary.arbitrary[String]) ++ Seq("", "a", "foobar", "héllo✓")) {
      assert(graft.functions.Fnv1a32.hash(s.getBytes("UTF-8")) === ref(s), s"string $s")
    }
  }

  test("md5_long matches BigInteger hex-prefix for arbitrary strings and widths") {
    val md = java.security.MessageDigest.getInstance("MD5")
    def ref(s: String, digits: Int): Long = {
      val hex = md.digest(s.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.substring(0, digits)
      java.lang.Long.parseLong(hex, 16)
    }
    for {
      (s, d) <- samples(Gen.zip(Arbitrary.arbitrary[String], Gen.chooseNum(1, 15)))
    } assert(Md5Long.hash(s.getBytes("UTF-8"), d) === ref(s, d), s"($s, $d)")
  }

  // ---- Avro: the schema codec against Apache Avro ----
  // Apache Avro, the specification's reference implementation, writes and
  // reads every payload these properties compare (see AvroReference), so
  // an error in graft's codec can't be mirrored by the oracle.

  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.Literal
  import org.apache.spark.sql.catalyst.util.GenericArrayData
  import org.apache.spark.unsafe.types.UTF8String
  import scala.jdk.CollectionConverters._
  import graft.functions.{AvroDecodeSchema, AvroSchemaCodec, RecordCodecs}
  import graft.sources.SchemaCatalog.AvengerAvroJson
  import AvroReference.{fromAvro, fromCatalyst}

  private val recGen: Gen[(String, String, Seq[String])] = for {
    name <- Arbitrary.arbitrary[String]
    real <- Arbitrary.arbitrary[String]
    movies <- Gen.listOf(Arbitrary.arbitrary[String])
  } yield (name, real, movies)

  private def avengerRow(name: String, real: String, movies: Seq[String]): InternalRow =
    InternalRow(UTF8String.fromString(name), UTF8String.fromString(real),
      new GenericArrayData(movies.map(UTF8String.fromString).toArray[Any]))

  private def utf8(s: String): Seq[Byte] = s.getBytes("UTF-8").toSeq

  /** `avro_record_encode` / `avro_record_decode`, evaluated row by row. */
  private def encodeRecord(name: String, real: String, movies: Seq[String]): Array[Byte] =
    AvroSchemaCodec.recordEncode(Literal(avengerRow(name, real, movies), RecordCodecs.RecordSchema))
      .eval().asInstanceOf[Array[Byte]]
  private def decodeRecord(frame: Array[Byte]): Any =
    fromCatalyst(AvroSchemaCodec.recordDecode(Literal(frame)).eval(), RecordCodecs.RecordSchema)

  test("avro: avenger codec writes Apache Avro's bytes and reads them back") {
    val fixed = Seq(("", "", Seq.empty[String]), ("héro", "名前", Seq("ünïcode", "")),
      ("Captain America", "Steve Rogers", Seq("The First Avenger", "Civil War")))
    for (((name, real, movies), i) <- (fixed ++ samples(recGen)).zipWithIndex) {
      val expected = Seq(utf8(name), utf8(real), movies.map(utf8))
      val ours = encodeRecord(name, real, movies)
      val theirs = AvroReference.write(AvengerAvroJson,
        AvroReference.record(AvengerAvroJson, name, real, movies.asJava))
      assert(ours.sameElements(theirs), s"case $i: byte mismatch")
      assert(decodeRecord(theirs) === expected, s"case $i: decode of Apache Avro's bytes")
      assert(AvroReference.read(AvengerAvroJson, AvengerAvroJson, ours).map(fromAvro).get ===
        expected, s"case $i: Apache Avro's read of our bytes")
    }
  }

  test("avro: resolution projects random evolved writers onto the avenger reader") {
    // writer = avenger + a random long prepended and a random string
    // appended; the reader must see exactly the avenger projection
    val writerJson =
      """{"type":"record","name":"avenger","fields":[
        |{"name":"seq","type":"long"},
        |{"name":"name","type":"string"},
        |{"name":"real_name","type":"string"},
        |{"name":"movies","type":{"type":"array","items":"string"},"default":[]},
        |{"name":"team","type":"string"}]}
        |""".stripMargin.replaceAll("\n", "")
    val gen = Gen.zip(recGen, Arbitrary.arbitrary[Long], Arbitrary.arbitrary[String])
    for ((((name, real, movies), seq, team), i) <- samples(gen).zipWithIndex) {
      val bytes = AvroReference.write(writerJson,
        AvroReference.record(writerJson, seq, name, real, movies.asJava, team))
      val dec = AvroDecodeSchema(Literal(bytes), writerJson, AvengerAvroJson)
      val got = fromCatalyst(dec.eval(), dec.dataType)
      assert(got === Seq(utf8(name), utf8(real), movies.map(utf8)), s"case $i")
      assert(AvroReference.read(writerJson, AvengerAvroJson, bytes).map(fromAvro).get === got,
        s"case $i: Apache Avro resolves differently")
    }
  }

  test("avro: truncated and byte-flipped avenger frames decode to null or " +
      "to Apache Avro's value") {
    // short strings (with 2- and 3-byte UTF-8 characters) keep the mutant
    // count small while still covering every field boundary
    val str = Gen.resize(6, Gen.listOf(Gen.oneOf('a', 'Z', ' ', 'é', '名')).map(_.mkString))
    val gen = Gen.zip(str, str, Gen.resize(3, Gen.listOf(str)))
    var (nulls, values) = (0, 0)
    for (((name, real, movies), i) <- samples(gen).zipWithIndex) {
      val frame = encodeRecord(name, real, movies)
      val truncated = (0 until frame.length).map(frame.take(_))
      val flipped = for (j <- frame.indices; mask <- Seq(0x01, 0x40, 0x80, 0xff)) yield {
        val f = frame.clone()
        f(j) = (f(j) ^ mask).toByte
        f
      }
      for (m <- truncated ++ flipped) {
        val ours = decodeRecord(m)
        if (ours == null) nulls += 1
        else {
          val theirs = AvroReference.read(AvengerAvroJson, AvengerAvroJson, m).map(fromAvro)
          assert(theirs.toOption.contains(ours),
            s"case $i: ${AvroReference.hex(m)} decoded to $ours, Apache Avro: $theirs")
          values += 1
        }
      }
    }
    assert(nulls > 0 && values > 0, s"$nulls null, $values decoded: a one-sided sample")
  }

  test("z-order: interleave is a bijection on the 32-bit × 32-bit domain") {
    import graft.functions.ZOrder2
    def unspread(z: Long): Long = { // inverse of the magic-number spread
      var x = z & 0x5555555555555555L
      x = (x | (x >>> 1)) & 0x3333333333333333L
      x = (x | (x >>> 2)) & 0x0F0F0F0F0F0F0F0FL
      x = (x | (x >>> 4)) & 0x00FF00FF00FF00FFL
      x = (x | (x >>> 8)) & 0x0000FFFF0000FFFFL
      x = (x | (x >>> 16)) & 0x00000000FFFFFFFFL
      x
    }
    val u32 = Gen.chooseNum(0L, 0xFFFFFFFFL)
    val extremes = Seq(0L, 1L, 0xFFFFFFFFL, 0x80000000L, 0x7FFFFFFFL)
    for {
      x <- samples(u32) ++ extremes
      y <- Seq(0L, 1L, x, 0xFFFFFFFFL - x)
    } {
      val z = ZOrder2.interleave(x, y)
      assert(unspread(z) === x && unspread(z >>> 1) === y, s"zorder($x, $y)")
    }
    // adjacency: flipping x's bit k moves z by exactly bit 2k
    assert((ZOrder2.interleave(5L, 9L) ^ ZOrder2.interleave(4L, 9L)) === 1L)
    assert((ZOrder2.interleave(5L, 9L) ^ ZOrder2.interleave(5L, 8L)) === 2L)
  }

  test("hilbert: xy2d/d2xy round-trip, never-jumps walk, domain guard") {
    import graft.functions.Hilbert2
    // round trip pins the forward map against the independent inverse
    val u16 = Gen.chooseNum(0L, 0xFFFFL)
    for {
      x <- samples(u16) ++ Seq(0L, 1L, 0xFFFFL, 0x8000L)
      y <- Seq(0L, 1L, x, 0xFFFFL - x)
    } {
      val d = Hilbert2.xy2d(x, y)
      assert(d >= 0L && d < (1L << 32), s"d out of range for ($x, $y)")
      assert(Hilbert2.d2xy(d) === ((x.toInt, y.toInt)), s"roundtrip ($x, $y)")
    }
    // the Hilbert property Z-order lacks: consecutive d are ALWAYS
    // Manhattan-adjacent cells (|dx| + |dy| == 1), including across
    // power-of-two boundaries where Morton jumps
    val dGen = Gen.chooseNum(0L, (1L << 32) - 2)
    for (d <- samples(dGen) ++ Seq(0L, 0xFFFFL, 0xFFFFFFL, (1L << 31) - 1)) {
      val (x0, y0) = Hilbert2.d2xy(d)
      val (x1, y1) = Hilbert2.d2xy(d + 1)
      assert(math.abs(x1 - x0) + math.abs(y1 - y0) === 1,
        s"walk jumps between d=$d and d=${d + 1}: ($x0,$y0) -> ($x1,$y1)")
    }
    // corner vectors of the order-16 curve
    assert(Hilbert2.xy2d(0L, 0L) === 0L)
    assert(Hilbert2.xy2d(0xFFFFL, 0L) === (1L << 32) - 1) // walk ends at (N-1, 0)
    intercept[IllegalArgumentException](Hilbert2.xy2d(65536L, 0L))
    intercept[IllegalArgumentException](Hilbert2.xy2d(0L, -1L))
  }

  test("pq kernel: codes/err match an independent scalar argmin on random vectors") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    import graft.functions.{PqAdc, PqEncode}
    val (subspaces, subDims) = (4, 4)
    val dims = subspaces * subDims
    val rnd = new scala.util.Random(0xBEEF)
    // codebook with a DELIBERATE duplicate centroid (rows 2 and 5) so the
    // lowest-id tie-break is actually exercised
    val k = 8
    val cb = Array.tabulate(k, dims)((c, d) =>
      if (c == 5) 0.0 else rnd.nextGaussian())
    for (c <- 0 until dims) cb(5)(c) = cb(2)(c)
    val luts = Array.tabulate(subspaces, k)((m, c) => (m * 100 + c).toLong)
    val enc = PqEncode(BoundReference(0, ArrayType(FloatType), nullable = false),
      cb, subspaces, subDims)
    val adc = PqAdc(BoundReference(0, ArrayType(FloatType), nullable = false),
      cb, luts, subDims)
    def scalarRef(v: Array[Float]): (Seq[Long], Long) = {
      val codes = (0 until subspaces).map { m =>
        val ds = (0 until k).map { c =>
          (0 until subDims).foldLeft(0.0) { (s, d) =>
            val diff = v(m * subDims + d).toDouble - cb(c)(m * subDims + d)
            s + diff * diff
          }
        }
        val best = ds.zipWithIndex.minBy { case (s, c) => (s, c) }
        (best._2.toLong, math.floor(best._1 * 1048576.0 + 0.5).toLong)
      }
      (codes.map(_._1), codes.map(_._2).sum)
    }
    val vectors =
      (0 until 50).map(_ => Array.fill(dims)(rnd.nextGaussian().toFloat)) ++
        cb.map(_.map(_.toFloat)) // centroid vectors themselves (exact ties)
    vectors.zipWithIndex.foreach { case (v, i) =>
      val row = InternalRow(new GenericArrayData(v))
      val got = enc.eval(row).asInstanceOf[InternalRow]
      val (expCodes, expErr) = scalarRef(v)
      assert(got.getArray(0).toLongArray.toSeq === expCodes, s"vector $i codes")
      assert(got.getLong(1) === expErr, s"vector $i err")
      val expAdc = expCodes.zipWithIndex.map { case (c, m) => luts(m)(c.toInt) }.sum
      assert(adc.eval(row) === expAdc, s"vector $i adc")
    }
    // the duplicated centroid pair must code to the LOWER id (2, never 5)
    val dupRow = InternalRow(new GenericArrayData(cb(2).map(_.toFloat)))
    val dupCodes = enc.eval(dupRow).asInstanceOf[InternalRow].getArray(0).toLongArray
    assert(dupCodes.forall(_ == 2L), s"tie went to ${dupCodes.toSeq}, not lowest id")
  }

  test("avro: zigzag roundtrips arbitrary longs including extremes") {
    val extremes = Seq(0L, -1L, 1L, Long.MaxValue, Long.MinValue, 63L, 64L, -64L, -65L)
    for (v <- samples(Arbitrary.arbitrary[Long]) ++ extremes) {
      val out = new AvroSchemaCodec.ByteSink
      out.writeZigZag(v)
      val bytes = out.toByteArray
      assert(bytes.sameElements(AvroReference.write("\"long\"", v)), s"zigzag($v) bytes")
      val c = new AvroSchemaCodec.Cursor
      assert(AvroSchemaCodec.readZigZag(bytes, c) === v && c.pos === bytes.length, s"zigzag($v)")
    }
  }

  test("kmv merge law: k-min of two sketches' union == sketch of the " +
      "set union (the identity kmv_set_ops' union estimator rides on)") {
    def sketch(xs: Set[String], k: Int): Seq[Long] =
      xs.map(s => Md5Long.hash(s.getBytes("UTF-8"), 15))
        .toSeq.sorted.take(k)
    val setGen = Gen.zip(
      Gen.chooseNum(1, 6),
      Gen.listOfN(120, Gen.chooseNum(0, 400)))
    samples(Gen.zip(setGen, setGen)).zipWithIndex.foreach {
      case (((salt1, a), (salt2, b)), i) =>
        val (sa, sb) = (a.map(x => s"u$salt1-$x").toSet,
          b.map(x => s"u$salt2-$x").toSet)
        for (k <- Seq(8, 64)) {
          val merged = (sketch(sa, k) ++ sketch(sb, k)).distinct.sorted.take(k)
          assert(merged === sketch(sa ++ sb, k),
            s"case $i k=$k: merge rule diverges from the union sketch")
        }
    }
  }
}
