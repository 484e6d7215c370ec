package graft.functions

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Protobuf binary serde for the reference's record schema
  * `{name: string, real_name: string, movies: array<string>}`
  * (reference: golang/proto/avenegers.proto:7-11 proto3), implemented from
  * the public proto3 wire encoding. The environment ships no
  * spark-protobuf connector jar, so these scoped expressions stand in for
  * `to_protobuf`/`from_protobuf` on this schema — byte-compatible with the
  * reference's serializer (golang/util/index.go:17 proto.Marshal).
  *
  * The Avro side of the same record (golang/avenger.avsc:1-16) goes
  * through the schema codec: `avro_record_encode`/`avro_record_decode` are
  * [[AvroSchemaCodec.recordEncode]]/[[AvroSchemaCodec.recordDecode]] over
  * [[graft.sources.SchemaCatalog.AvengerAvroJson]], typed [[RecordSchema]].
  *
  * Serde demo path, not a bench hot path → interpreted eval
  * (CodegenFallback) is acceptable.
  */
object RecordCodecs {
  val RecordSchema: StructType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("real_name", StringType, nullable = false),
    StructField("movies", ArrayType(StringType, containsNull = false), nullable = false)))

  // ---- Protobuf (proto3) ----

  /** Plain unsigned varint (protobuf). */
  def writeUVarint(out: ByteArrayOutputStream, n: Long): Unit = {
    var v = n
    while ((v & ~0x7fL) != 0) {
      out.write(((v & 0x7f) | 0x80).toInt)
      v >>>= 7
    }
    out.write(v.toInt)
  }

  private def writeProtoString(out: ByteArrayOutputStream, tag: Int, s: String): Unit = {
    val b = s.getBytes(StandardCharsets.UTF_8)
    if (b.nonEmpty) { // proto3 omits empty scalar fields
      out.write((tag << 3) | 2)
      writeUVarint(out, b.length.toLong)
      out.write(b, 0, b.length)
    }
  }

  def protoEncode(name: String, realName: String, movies: Seq[String]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    writeProtoString(out, 1, name)
    writeProtoString(out, 2, realName)
    movies.foreach { m => // repeated fields emit every element, even ""
      val b = m.getBytes(StandardCharsets.UTF_8)
      out.write((3 << 3) | 2)
      writeUVarint(out, b.length.toLong)
      out.write(b, 0, b.length)
    }
    out.toByteArray
  }

  def protoDecode(frame: Array[Byte]): (String, String, Seq[String]) = {
    var name = ""; var real = ""
    val movies = Seq.newBuilder[String]
    var pos = 0
    while (pos < frame.length) {
      val (key, p1) = WireFormat.readUVarint(frame, pos) match {
        case (v, n) if n > 0 => (v, pos + n)
        case _ => throw new IllegalArgumentException("bad varint")
      }
      pos = p1
      val fieldNo = (key >>> 3).toInt
      val wireType = (key & 7).toInt
      require(wireType == 2, s"unexpected wire type $wireType")
      val (len, n2) = WireFormat.readUVarint(frame, pos)
      require(n2 > 0, "bad length varint")
      pos += n2
      val s = new String(frame, pos, len.toInt, StandardCharsets.UTF_8)
      pos += len.toInt
      fieldNo match {
        case 1 => name = s
        case 2 => real = s
        case 3 => movies += s
        case _ => // unknown field: skip (already consumed)
      }
    }
    (name, real, movies.result())
  }
}

private[functions] trait RecordCodecExpr { self: UnaryExpression =>
  protected def rowOf(t: (String, String, Seq[String])): InternalRow =
    InternalRow(
      UTF8String.fromString(t._1),
      UTF8String.fromString(t._2),
      new GenericArrayData(t._3.map(UTF8String.fromString).toArray[Any]))

  protected def unpack(input: Any): (String, String, Seq[String]) = {
    val row = input.asInstanceOf[InternalRow]
    val arr = row.getArray(2)
    val movies = (0 until arr.numElements()).map(i => arr.getUTF8String(i).toString)
    (row.getUTF8String(0).toString, row.getUTF8String(1).toString, movies)
  }
}

/** struct<name,real_name,movies> → proto3 binary. */
case class ProtoRecordEncode(child: Expression)
    extends UnaryExpression with CodegenFallback with RecordCodecExpr {
  override def dataType: DataType = BinaryType
  override def nullSafeEval(input: Any): Any = {
    val (n, r, m) = unpack(input)
    RecordCodecs.protoEncode(n, r, m)
  }
  override protected def withNewChildInternal(c: Expression): ProtoRecordEncode = copy(c)
  override def prettyName: String = "proto_record_encode"
}

/** proto3 binary → struct<name,real_name,movies>; null on malformed input. */
case class ProtoRecordDecode(child: Expression)
    extends UnaryExpression with CodegenFallback with RecordCodecExpr {
  override def dataType: DataType = RecordCodecs.RecordSchema
  override def nullable: Boolean = true
  override def nullSafeEval(input: Any): Any =
    try rowOf(RecordCodecs.protoDecode(input.asInstanceOf[Array[Byte]]))
    catch { case _: RuntimeException => null }
  override protected def withNewChildInternal(c: Expression): ProtoRecordDecode = copy(c)
  override def prettyName: String = "proto_record_decode"
}
