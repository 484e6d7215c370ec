package graft

import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.{DecoderFactory, EncoderFactory}
import org.apache.avro.util.Utf8
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Apache Avro, the specification's reference implementation (on the test
  * classpath through the Spark distribution), as the independent oracle
  * for graft's Avro codec — plus one comparable form for values from
  * either side: strings and bytes as byte sequences, records and arrays
  * as sequences, maps as String-keyed maps. */
object AvroReference {
  private val schemas = TrieMap.empty[String, Schema]

  def schema(json: String): Schema =
    schemas.getOrElseUpdate(json, new Schema.Parser().parse(json))

  /** A generic record of `json`'s record schema, fields in order. */
  def record(json: String, values: Any*): GenericRecord = record(schema(json), values: _*)

  def record(s: Schema, values: Any*): GenericRecord = {
    val r = new GenericData.Record(s)
    values.zipWithIndex.foreach { case (v, i) => r.put(i, v) }
    r
  }

  /** Apache Avro's binary encoding of `datum`; `blocking` writes arrays
    * and maps as sized (negative-count) blocks. */
  def write(json: String, datum: Any, blocking: Boolean = false): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val enc =
      if (blocking) EncoderFactory.get().blockingBinaryEncoder(out, null)
      else EncoderFactory.get().directBinaryEncoder(out, null)
    new GenericDatumWriter[Any](schema(json)).write(datum, enc)
    enc.flush()
    out.toByteArray
  }

  /** Apache Avro's read of one datum written with `writerJson`, resolved
    * into `readerJson`; a Failure when it rejects the payload. */
  def read(writerJson: String, readerJson: String, bytes: Array[Byte]): Try[Any] =
    Try(new GenericDatumReader[Any](schema(writerJson), schema(readerJson))
      .read(null, DecoderFactory.get().binaryDecoder(bytes, null)))

  private def bytesOf(b: ByteBuffer): Seq[Byte] = {
    val d = b.duplicate()
    val a = new Array[Byte](d.remaining())
    d.get(a)
    a.toSeq
  }

  def fromAvro(v: Any): Any = v match {
    case u: Utf8 => java.util.Arrays.copyOf(u.getBytes, u.getByteLength).toSeq
    case s: CharSequence => s.toString.getBytes(UTF_8).toSeq
    case b: ByteBuffer => bytesOf(b)
    case r: GenericRecord => r.getSchema.getFields.asScala.map(f => fromAvro(r.get(f.pos))).toSeq
    case m: java.util.Map[_, _] => m.asScala.map { case (k, x) => k.toString -> fromAvro(x) }.toMap
    case l: java.util.Collection[_] => l.asScala.map(fromAvro).toSeq
    case x => x
  }

  /** A Catalyst value of type `t` (what the codec expressions return). */
  def fromCatalyst(v: Any, t: DataType): Any = (v, t) match {
    case (null, _) => null
    case (s: UTF8String, _) => s.getBytes.toSeq
    case (b: Array[Byte], _) => b.toSeq
    case (a: ArrayData, ArrayType(et, _)) =>
      (0 until a.numElements()).map(i => fromCatalyst(a.get(i, et), et))
    case (m: MapData, MapType(_, vt, _)) =>
      (0 until m.numElements()).map(i =>
        m.keyArray().getUTF8String(i).toString -> fromCatalyst(m.valueArray().get(i, vt), vt)).toMap
    case (r: InternalRow, StructType(fs)) =>
      fs.indices.map(i => fromCatalyst(r.get(i, fs(i).dataType), fs(i).dataType))
    case (x, _) => x
  }

  /** A value collected from a DataFrame. */
  def fromRow(v: Any): Any = v match {
    case s: String => s.getBytes(UTF_8).toSeq
    case b: Array[Byte] => b.toSeq
    case r: Row => r.toSeq.map(fromRow)
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => k.toString -> fromRow(x) }.toMap
    case s: scala.collection.Seq[_] => s.map(fromRow)
    case x => x
  }

  def hex(bytes: Array[Byte]): String = bytes.map(b => f"${b & 0xff}%02x").mkString
}
