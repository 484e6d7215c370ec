package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.functions.{avro_decode_schema, avro_encode_schema, avro_record_encode}
import AvroReference.{fromAvro, fromRow, hex}

/** Avro reader/writer schema resolution (reference:
  * golang/avro/avenger_avro.go:41-62 DeserializeAvengerAvroFromSchema):
  * default fill, unknown-field skip, by-name matching, promotions, unions,
  * and null for malformed payloads. Apache Avro (see AvroReference) writes
  * the payloads and checks the values where a case names it.
  */
class AvroEvolutionSpec extends SparkSpecBase {
  import spark.implicits._

  private def rec(fields: String*) =
    s"""{"type":"record","name":"r","fields":[${fields.mkString(",")}]}"""
  private def f(name: String, tpe: String, extra: String = "") =
    s"""{"name":"$name","type":$tpe$extra}"""

  private val readerAvenger = sources.SchemaCatalog.AvengerAvroJson

  test("reader-only field with a default fills it (movies -> [])") {
    val v1 = rec(f("name", "\"string\""), f("real_name", "\"string\""))
    val out = Seq(("Thor", "Odinson")).toDF("n", "rn")
      .select(avro_decode_schema(
        avro_encode_schema(struct($"n".as("name"), $"rn".as("real_name")), v1),
        v1, readerAvenger).as("d"))
      .selectExpr("d.name", "d.real_name", "size(d.movies)").collect().head
    assert(out.getString(0) == "Thor" && out.getString(1) == "Odinson")
    assert(out.getInt(2) == 0, "movies default [] not applied")
  }

  test("writer-only fields are skip-decoded (string, long, array, nested record)") {
    val v2 = rec(
      f("power_level", "\"long\""),
      f("name", "\"string\""),
      f("aliases", """{"type":"array","items":"string"}"""),
      f("origin", rec(f("planet", "\"string\""), f("year", "\"int\""))),
      f("real_name", "\"string\""),
      f("movies", """{"type":"array","items":"string"}""", ""","default":[]"""))
    val out = Seq(("Hulk", "Banner", Seq("Ragnarok", "Endgame"))).toDF("n", "rn", "m")
      .select(avro_decode_schema(
        avro_encode_schema(struct(
          lit(9000L).as("power_level"), $"n".as("name"),
          array(lit("Jade Giant")).as("aliases"),
          struct(lit("Earth").as("planet"), lit(1962).as("year")).as("origin"),
          $"rn".as("real_name"), $"m".as("movies")), v2),
        v2, readerAvenger).as("d"))
      .selectExpr("d.name", "d.real_name", "d.movies").collect().head
    assert(out.getString(0) == "Hulk" && out.getString(1) == "Banner")
    assert(out.getSeq[String](2) == Seq("Ragnarok", "Endgame"))
  }

  test("fields match by name across reordered reader schemas") {
    val writer = rec(f("a", "\"string\""), f("b", "\"string\""))
    val reader = rec(f("b", "\"string\""), f("a", "\"string\""))
    val out = Seq(("va", "vb")).toDF("x", "y")
      .select(avro_decode_schema(
        avro_encode_schema(struct($"x".as("a"), $"y".as("b")), writer),
        writer, reader).as("d"))
      .selectExpr("d.a", "d.b").collect().head
    assert(out.getString(0) == "va" && out.getString(1) == "vb")
  }

  test("numeric and string/bytes promotions") {
    val writer = rec(f("i", "\"int\""), f("l", "\"long\""), f("fl", "\"float\""),
      f("s", "\"string\""))
    val reader = rec(f("i", "\"long\""), f("l", "\"double\""), f("fl", "\"double\""),
      f("s", "\"bytes\""))
    val out = Seq((7, 11L, 2.5f, "hi")).toDF("i", "l", "fl", "s")
      .select(avro_decode_schema(
        avro_encode_schema(struct($"i", $"l", $"fl", $"s"), writer),
        writer, reader).as("d"))
      .selectExpr("d.i", "d.l", "d.fl", "CAST(d.s AS STRING)").collect().head
    assert(out.getLong(0) == 7L && out.getDouble(1) == 11.0 &&
      out.getDouble(2) == 2.5 && out.getString(3) == "hi")
  }

  test("reader field missing from writer without a default fails at analysis") {
    val writer = rec(f("name", "\"string\""))
    val reader = rec(f("name", "\"string\""), f("required_new", "\"string\""))
    val e = intercept[Exception] {
      Seq("x").toDF("n")
        .select(avro_decode_schema(
          avro_encode_schema(struct($"n".as("name")), writer), writer, reader))
        .collect()
    }
    assert(e.getMessage.contains("required_new"), s"wrong error: ${e.getMessage}")
  }

  test("union [null, string] roundtrips nulls and values") {
    val schema = rec(f("name", "\"string\""), f("nick", """["null","string"]"""))
    val out = Seq(("a", Some("x")), ("b", None)).toDF("n", "k")
      .select($"n", avro_decode_schema(
        avro_encode_schema(struct($"n".as("name"), $"k".as("nick")), schema),
        schema, schema).as("d"))
      .selectExpr("n", "d.nick").orderBy($"n").collect()
    assert(out(0).getString(1) == "x" && out(1).isNullAt(1))
  }

  test("avenger encode writes Apache Avro's bytes (both encode functions)") {
    val df = Seq(("Thor", "Odinson", Seq("Ragnarok", "Endgame")))
      .toDF("name", "real_name", "movies")
      .select(struct($"name", $"real_name", $"movies").as("rec"))
    val viaSchema = df.select(avro_encode_schema($"rec", readerAvenger))
      .collect().head.getAs[Array[Byte]](0)
    val viaRecord = df.select(avro_record_encode($"rec")).collect().head.getAs[Array[Byte]](0)
    val reference = AvroReference.write(readerAvenger, AvroReference.record(readerAvenger,
      "Thor", "Odinson", Seq("Ragnarok", "Endgame").asJava))
    assert(viaSchema.sameElements(reference), s"${hex(viaSchema)} != ${hex(reference)}")
    assert(viaRecord.sameElements(reference), s"${hex(viaRecord)} != ${hex(reference)}")
  }

  /** `avro_decode_schema` over a hex payload, from SQL. */
  private def decodeSql(frame: Array[Byte], writer: String, reader: String): Any = {
    graft.plans.GraftExtensions.register(spark)
    spark.sql(s"SELECT avro_decode_schema(unhex('${hex(frame)}'), '$writer', '$reader')")
      .collect().head.get(0)
  }

  private def recordDecodeSql(frame: Array[Byte]): Any = {
    graft.plans.GraftExtensions.register(spark)
    spark.sql(s"SELECT avro_record_decode(unhex('${hex(frame)}'))").collect().head.get(0)
  }

  test("skip jumps sized (negative-count) array blocks wholesale") {
    // Apache Avro's blocking encoder writes the writer-only array as one
    // sized block: negative item count, then the block's byte size
    val writer = rec(f("aliases", """{"type":"array","items":"string"}"""), f("n", "\"long\""))
    val reader = rec(f("n", "\"long\""))
    val buf = AvroReference.write(writer,
      AvroReference.record(writer, Seq("aa", "bbb").asJava, 42L), blocking = true)
    assert(buf(0) == 3, s"not a sized block of 2 items: ${hex(buf)}") // zigzag(-2)
    val got = decodeSql(buf, writer, reader)
    assert(fromRow(got) == Seq(42L), "sized-block skip landed at the wrong offset")
    assert(AvroReference.read(writer, reader, buf).map(fromAvro).get == fromRow(got))
  }

  test("decode reads sized (negative-count) array blocks") {
    val frame = AvroReference.write(readerAvenger, AvroReference.record(readerAvenger,
      "Loki", "Laufeyson", Seq("x", "yz", "").asJava), blocking = true)
    val expected = AvroReference.read(readerAvenger, readerAvenger, frame).map(fromAvro).get
    assert(fromRow(recordDecodeSql(frame)) == expected)
    assert(fromRow(decodeSql(frame, readerAvenger, readerAvenger)) == expected)
    assert(expected == Seq("Loki", "Laufeyson", Seq("x", "yz", "")).map(fromRow))
  }

  test("malformed payloads decode to null (avro_record_decode, avro_decode_schema)") {
    def zigzag(v: Long) = AvroReference.write("\"long\"", v)
    val string = rec(f("s", "\"string\""))
    val bytes = rec(f("b", "\"bytes\""))
    val strings = rec(f("a", """{"type":"array","items":"string"}"""))
    val skipped = rec(f("a", """{"type":"array","items":"string"}"""), f("n", "\"long\""))
    val long = rec(f("n", "\"long\""))
    // length 64 over 3 bytes; a 2^40-item block whose first item has
    // length -1 (it would walk the cursor backwards); an 11-byte varint
    val stringPastEnd = zigzag(64) ++ "abc".getBytes("UTF-8")
    val bytesPastEnd = zigzag(64) ++ Array[Byte](1, 2, 3)
    val hugeBlock = zigzag(1L << 40) ++ zigzag(-1)
    val cases = Seq(
      (string, string, stringPastEnd),
      (bytes, bytes, bytesPastEnd),
      (strings, strings, hugeBlock),
      (skipped, long, hugeBlock),
      (long, long, Array.fill[Byte](10)(0x80.toByte) :+ 1.toByte))
    cases.foreach { case (w, r, frame) =>
      // (Apache Avro's skip of the writer-only block walks all 2^40 items)
      if (w == r)
        assert(AvroReference.read(w, r, frame).isFailure, s"Apache Avro reads ${hex(frame)}")
      assert(decodeSql(frame, w, r) == null, s"${hex(frame)} as $w decoded")
    }
    // the avenger record: empty name and real_name, then the same block
    val avenger = Array[Byte](0, 0) ++ hugeBlock
    assert(AvroReference.read(readerAvenger, readerAvenger, avenger).isFailure)
    assert(recordDecodeSql(avenger) == null)
    assert(decodeSql(avenger, readerAvenger, readerAvenger) == null)
    // control: the well-formed frame still decodes
    assert(fromRow(recordDecodeSql(Array[Byte](0, 0, 0))) == Seq(Nil, Nil, Nil))
  }

  test("resolution agrees with Apache Avro: promotions, unions, defaults, skips") {
    // named apart from the outer record "r", as Apache Avro requires
    val nested = s"""{"type":"record","name":"o","fields":[""" +
      s"""${f("planet", "\"string\"")},${f("year", "\"int\"")}]}"""
    val writer = rec(
      f("i", "\"int\""), f("l", "\"long\""), f("fl", "\"float\""), f("s", "\"string\""),
      f("nick", """["null","string"]"""),
      f("dropped", """{"type":"map","values":"long"}"""),
      f("origin", nested),
      f("tags", """{"type":"array","items":"int"}"""))
    val reader = rec(
      f("tags", """{"type":"array","items":"double"}"""),
      f("s", "\"bytes\""), f("fl", "\"double\""), f("l", "\"float\""), f("i", "\"long\""),
      f("nick", """["null","string"]"""),
      f("movies", """{"type":"array","items":"string"}""", ""","default":["First Avenger"]"""),
      f("level", "\"int\"", ""","default":7"""))
    val origin = AvroReference.schema(writer).getField("origin").schema()
    val data = Seq(
      (7, 11L, 2.5f, "hi", "x", Map("a" -> 1L, "b" -> -2L), Seq(1, 2, 3)),
      (-1, Long.MinValue, -0.0f, "", null, Map.empty[String, Long], Seq.empty[Int]),
      (Int.MaxValue, 1L << 40, 1e-3f, "名前", "", Map("é" -> Long.MaxValue), Seq(Int.MinValue)))
    for ((i, l, fl, s, nick, dropped, tags) <- data; blocking <- Seq(false, true)) {
      val datum = AvroReference.record(writer, i, l, fl, s, nick,
        dropped.map { case (k, v) => k -> java.lang.Long.valueOf(v) }.asJava,
        AvroReference.record(origin, "Earth", 1962), tags.map(Int.box).asJava)
      val frame = AvroReference.write(writer, datum, blocking)
      val expected = AvroReference.read(writer, reader, frame).map(fromAvro).get
      assert(fromRow(decodeSql(frame, writer, reader)) == expected, s"${hex(frame)}")
      if (!blocking) {
        val ours = Seq(1).toDF("x").select(avro_encode_schema(struct(
          lit(i).as("i"), lit(l).as("l"), lit(fl).as("fl"), lit(s).as("s"),
          lit(nick).cast("string").as("nick"), typedLit(dropped).as("dropped"),
          struct(lit("Earth").as("planet"), lit(1962).as("year")).as("origin"),
          typedLit(tags).as("tags")), writer)).collect().head.getAs[Array[Byte]](0)
        assert(ours.sameElements(frame), s"${hex(ours)} != ${hex(frame)}")
      }
    }
  }

  test("map values resolve and roundtrip") {
    val schema = rec(f("tags", """{"type":"map","values":"int"}"""))
    val readerPromoted = rec(f("tags", """{"type":"map","values":"long"}"""))
    val out = Seq(1).toDF("x")
      .select(avro_decode_schema(
        avro_encode_schema(struct(
          map(lit("a"), lit(1), lit("b"), lit(2)).as("tags")), schema),
        schema, readerPromoted).as("d"))
      .selectExpr("d.tags['a']", "d.tags['b']").collect().head
    assert(out.getLong(0) == 1L && out.getLong(1) == 2L)
  }

  test("avro_evolution SQL surface is callable") {
    graft.plans.GraftExtensions.register(spark)
    val v1 = rec(f("name", "\"string\""))
    val got = spark.sql(
      s"""SELECT avro_decode_schema(
         |  avro_encode_schema(named_struct('name', 'Cap'), '$v1'),
         |  '$v1',
         |  '${rec(f("name", "\"string\""),
                  f("movies", """{"type":"array","items":"string"}""", ""","default":["First Avenger"]"""))}'
         |) AS d""".stripMargin)
      .selectExpr("d.name", "d.movies[0]").collect().head
    assert(got.getString(0) == "Cap" && got.getString(1) == "First Avenger")
  }
}
