package graft.functions

import java.nio.charset.StandardCharsets

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.SchemaCatalog

/** Schema-driven Avro binary codec with reader/writer schema RESOLUTION —
  * the second half of the reference's Avro surface
  * (golang/avro/avenger_avro.go:41-62 `DeserializeAvengerAvroFromSchema`
  * compiles writer-schema bytes against the reader schema; versioned
  * registry lookups in commands.sh:37-39). Semantics follow the public
  * Avro 1.12 specification's Schema Resolution rules:
  *
  *  - record fields match by NAME, not position; writer-only fields are
  *    skip-decoded, reader-only fields take their declared default
  *    (e.g. the reference's `movies` default `[]`, golang/avenger.avsc:9-14)
  *    and it is a plan-time error if such a field has none;
  *  - numeric promotions int→long/float/double, long→float/double,
  *    float→double, and string↔bytes;
  *  - writer unions resolve per-datum by branch index; reader unions accept
  *    the first resolvable branch.
  *
  * Supported types: null, boolean, int, long, float, double, bytes, string,
  * array, map, union, record (nested). Not supported: enum and fixed
  * (absent from the reference surface) — rejected at parse time.
  *
  * This is the one Avro binary codec: `avro_encode_schema` /
  * `avro_decode_schema` run it over caller-given schemas, and
  * `avro_record_encode` / `avro_record_decode` over the reference's
  * registered avenger schema ([[recordEncode]] / [[recordDecode]]). The
  * expressions are CodegenFallback but run COMPILED closure trees
  * ([[compileEncoder]]/[[compileDecoder]]): schema parsing, resolution
  * validation, Spark type mapping, record field actions, defaults, and
  * union branch choice all happen once at plan time, never per row.
  * Malformed payloads (see [[readZigZag]] and its neighbours) decode to
  * null. The tests check both directions against Apache Avro.
  */
object AvroSchemaCodec {

  sealed trait AvroType
  case object ANull extends AvroType { override def toString = "null" }
  case object ABoolean extends AvroType { override def toString = "boolean" }
  case object AInt extends AvroType { override def toString = "int" }
  case object ALong extends AvroType { override def toString = "long" }
  case object AFloat extends AvroType { override def toString = "float" }
  case object ADouble extends AvroType { override def toString = "double" }
  case object ABytes extends AvroType { override def toString = "bytes" }
  case object AString extends AvroType { override def toString = "string" }
  final case class AArray(items: AvroType) extends AvroType
  final case class AMap(values: AvroType) extends AvroType
  final case class AUnion(branches: Seq[AvroType]) extends AvroType
  final case class AField(name: String, tpe: AvroType, default: Option[JsonNode])
  final case class ARecord(name: String, fields: Seq[AField]) extends AvroType

  // ---- schema JSON parsing ----

  private val mapper = new ObjectMapper

  def parse(json: String): AvroType =
    parseNode(mapper.readTree(json), mutable.Map.empty)

  private def parseNode(n: JsonNode, named: mutable.Map[String, AvroType]): AvroType =
    if (n.isTextual) primitiveOrRef(n.asText, named)
    else if (n.isArray) AUnion(n.elements().asScala.map(parseNode(_, named)).toSeq)
    else if (n.isObject) {
      val t = n.get("type").asText
      t match {
        case "array" => AArray(parseNode(n.get("items"), named))
        case "map" => AMap(parseNode(n.get("values"), named))
        case "record" =>
          val ns = Option(n.get("namespace")).map(_.asText)
          val name = n.get("name").asText
          val fullName = ns.filter(_ => !name.contains(".")).map(_ + "." + name).getOrElse(name)
          val fields = n.get("fields").elements().asScala.map { f =>
            AField(f.get("name").asText, parseNode(f.get("type"), named),
              Option(f.get("default")))
          }.toSeq
          val rec = ARecord(fullName, fields)
          named(fullName) = rec
          rec
        case "enum" | "fixed" =>
          throw new IllegalArgumentException(s"unsupported Avro type: $t")
        case prim => primitiveOrRef(prim, named)
      }
    } else throw new IllegalArgumentException(s"bad Avro schema node: $n")

  private def primitiveOrRef(s: String, named: mutable.Map[String, AvroType]): AvroType =
    s match {
      case "null" => ANull
      case "boolean" => ABoolean
      case "int" => AInt
      case "long" => ALong
      case "float" => AFloat
      case "double" => ADouble
      case "bytes" => ABytes
      case "string" => AString
      case ref => named.getOrElse(ref, throw new IllegalArgumentException(
        s"unsupported or unknown Avro type reference: $ref"))
    }

  // ---- Spark type mapping ----

  private def isNullable(t: AvroType): Boolean = t match {
    case ANull => true
    case AUnion(bs) => bs.contains(ANull)
    case _ => false
  }

  private def nonNullOf(t: AvroType): AvroType = t match {
    case AUnion(bs) => bs.filter(_ != ANull) match {
      case Seq(one) => one
      case other => throw new IllegalArgumentException(
        s"only unions of null with one type map to Spark, got union of $other")
    }
    case other => other
  }

  def sparkType(t: AvroType): DataType = nonNullOf(t) match {
    case ANull => NullType
    case ABoolean => BooleanType
    case AInt => IntegerType
    case ALong => LongType
    case AFloat => FloatType
    case ADouble => DoubleType
    case ABytes => BinaryType
    case AString => StringType
    case AArray(it) => ArrayType(sparkType(it), containsNull = isNullable(it))
    case AMap(v) => MapType(StringType, sparkType(v), valueContainsNull = isNullable(v))
    case ARecord(_, fs) => StructType(fs.map(f =>
      StructField(f.name, sparkType(f.tpe), nullable = isNullable(f.tpe))))
    case u: AUnion => throw new IllegalStateException(s"unreachable: $u")
  }

  // ---- static resolution validation (plan-time) ----

  private def promotable(w: AvroType, r: AvroType): Boolean = (w, r) match {
    case (a, b) if a == b => true
    case (AInt, ALong | AFloat | ADouble) => true
    case (ALong, AFloat | ADouble) => true
    case (AFloat, ADouble) => true
    case (AString, ABytes) | (ABytes, AString) => true
    case _ => false
  }

  private def canResolve(w: AvroType, r: AvroType): Boolean =
    try { validateResolution(w, r); true }
    catch { case _: IllegalArgumentException => false }

  /** Throws IllegalArgumentException describing the first incompatibility. */
  def validateResolution(w: AvroType, r: AvroType): Unit = (w, r) match {
    case (ARecord(_, wf), ARecord(_, rf)) =>
      val wByName = wf.map(f => f.name -> f).toMap
      rf.foreach { f =>
        wByName.get(f.name) match {
          case Some(wfld) => validateResolution(wfld.tpe, f.tpe)
          case None => if (f.default.isEmpty) throw new IllegalArgumentException(
            s"reader field '${f.name}' is absent from the writer schema and has no default")
        }
      }
    case (AArray(wi), AArray(ri)) => validateResolution(wi, ri)
    case (AMap(wv), AMap(rv)) => validateResolution(wv, rv)
    case (AUnion(wbs), _) => wbs.foreach(b => validateResolution(b, r))
    case (_, AUnion(rbs)) =>
      if (!rbs.exists(b => canResolve(w, b))) throw new IllegalArgumentException(
        s"no reader union branch of $r accepts writer type $w")
    case (a, b) =>
      if (!promotable(a, b)) throw new IllegalArgumentException(
        s"cannot resolve writer type $a against reader type $b")
  }

  // ---- defaults (reader-side JSON → Catalyst values) ----

  def defaultValue(t: AvroType, node: JsonNode): Any = t match {
    case ANull => null
    case ABoolean => node.asBoolean
    case AInt => node.asInt
    case ALong => node.asLong
    case AFloat => node.floatValue
    case ADouble => node.doubleValue
    case AString => UTF8String.fromString(node.asText)
    // Avro JSON encodes bytes defaults as ISO-8859-1 strings
    case ABytes => node.asText.getBytes(StandardCharsets.ISO_8859_1)
    case AArray(it) =>
      new GenericArrayData(node.elements().asScala.map(defaultValue(it, _)).toArray[Any])
    case AMap(v) =>
      val entries = node.properties().asScala.toSeq
      ArrayBasedMapData(
        entries.map(e => UTF8String.fromString(e.getKey)).toArray[Any],
        entries.map(e => defaultValue(v, e.getValue)).toArray[Any])
    // per the Avro spec a union default is interpreted as its FIRST branch
    case AUnion(bs) => if (node.isNull) null else defaultValue(bs.head, node)
    case ARecord(name, fs) => InternalRow.fromSeq(fs.map { f =>
      Option(node.get(f.name)).map(defaultValue(f.tpe, _))
        .orElse(f.default.map(defaultValue(f.tpe, _)))
        .getOrElse(throw new IllegalArgumentException(
          s"record default for $name is missing field ${f.name}"))
    })
  }

  // ---- payload reading: the primitives the compiled decoder runs on ----
  //
  // Every length, count and branch index comes from the payload, so each
  // is checked against the bytes left before it is used: a negative
  // length, a length past the end, a block count that cannot fit in the
  // bytes left, an out-of-range union index or a varint longer than ten
  // bytes makes the payload malformed (IllegalArgumentException, which
  // the decode expression turns into null).

  /** Mutable decode position, shared by one payload's decoders. */
  final class Cursor { var pos = 0 }

  private def malformed(what: String): Nothing =
    throw new IllegalArgumentException(s"malformed Avro payload: $what")

  private def readLe(buf: Array[Byte], pos: Int, n: Int): Long = {
    var v = 0L
    var i = 0
    while (i < n) { v |= (buf(pos + i) & 0xffL) << (8 * i); i += 1 }
    v
  }

  /** Avro zigzag varint (int or long) at the cursor. */
  def readZigZag(buf: Array[Byte], c: Cursor): Long = {
    var x = 0L; var s = 0; var i = c.pos
    while (s < 64) {
      val b = buf(i) & 0xff
      x |= (b & 0x7fL) << s
      i += 1
      if ((b & 0x80) == 0) { c.pos = i; return (x >>> 1) ^ -(x & 1) }
      s += 7
    }
    malformed("varint longer than 10 bytes")
  }

  /** Byte length of a string, bytes or map key: within the bytes left. */
  private def readLength(buf: Array[Byte], c: Cursor): Int = {
    val len = readZigZag(buf, c)
    if (len < 0 || len > buf.length - c.pos) malformed(s"length $len at ${c.pos}")
    len.toInt
  }

  private def readIndex(buf: Array[Byte], c: Cursor, branches: Int): Int = {
    val i = readZigZag(buf, c)
    if (i < 0 || i >= branches) malformed(s"union index $i of $branches")
    i.toInt
  }

  /** Fewest bytes one value of writer type `t` takes (0 only for null and
    * records of nulls, whose values take no bytes at all). */
  private def minBytes(t: AvroType): Int = t match {
    case ANull => 0
    case AFloat => 4
    case ADouble => 8
    case ARecord(_, fs) => fs.map(f => minBytes(f.tpe)).sum
    case _ => 1
  }

  /** Malformed unless `n` items of `itemBytes` or more each fit in the
    * bytes left. */
  private def checkCount(buf: Array[Byte], c: Cursor, n: Long, itemBytes: Int): Unit =
    if (n < 0 || (itemBytes > 0 && n > (buf.length - c.pos) / itemBytes))
      malformed(s"block of $n items at ${c.pos}")

  /** Item count of the next array/map block, 0 at the end of the
    * collection. A negative count is followed by the block's byte size,
    * which only [[skip]] uses. */
  private def readBlockCount(buf: Array[Byte], c: Cursor, itemBytes: Int): Long = {
    var n = readZigZag(buf, c)
    if (n < 0) { readZigZag(buf, c); n = -n }
    checkCount(buf, c, n, itemBytes)
    n
  }

  private def skipBytes(buf: Array[Byte], c: Cursor, n: Int): Unit = {
    if (n > buf.length - c.pos) malformed(s"$n bytes past the end at ${c.pos}")
    c.pos += n
  }

  /** Advance past one value of writer type `t` without materializing it —
    * how writer-only fields are dropped. Negative array/map block counts
    * carry a byte size, letting whole blocks be jumped. */
  def skip(t: AvroType, buf: Array[Byte], c: Cursor): Unit = t match {
    case ANull => ()
    case ABoolean => skipBytes(buf, c, 1)
    case AInt | ALong => readZigZag(buf, c)
    case AFloat => skipBytes(buf, c, 4)
    case ADouble => skipBytes(buf, c, 8)
    case AString | ABytes => skipBytes(buf, c, readLength(buf, c))
    case AArray(it) => skipBlocks(buf, c, minBytes(it), () => skip(it, buf, c))
    case AMap(v) => skipBlocks(buf, c, 1 + minBytes(v), { () =>
      skipBytes(buf, c, readLength(buf, c))
      skip(v, buf, c)
    })
    case AUnion(bs) => skip(bs(readIndex(buf, c, bs.length)), buf, c)
    case ARecord(_, fs) => fs.foreach(f => skip(f.tpe, buf, c))
  }

  private def skipBlocks(buf: Array[Byte], c: Cursor, itemBytes: Int,
      skipOne: () => Unit): Unit = {
    var more = true
    while (more) {
      val count = readZigZag(buf, c)
      if (count == 0) more = false
      else if (count < 0) {
        val size = readZigZag(buf, c) // sized block: jump it wholesale
        if (size < 0 || size > buf.length - c.pos) malformed(s"block size $size at ${c.pos}")
        c.pos += size.toInt
      } else {
        checkCount(buf, c, count, itemBytes)
        // items of zero bytes (nulls) need no walk
        var i = 0L
        while (itemBytes > 0 && i < count) { skipOne(); i += 1 }
      }
    }
  }

  // ---- compiled codecs ----
  //
  // One closure tree per schema (encode) or (writer, reader) pair
  // (decode), built once at first eval. Everything per-schema — Spark
  // DataTypes, record field actions (decode-into-slot vs skip),
  // reader-only default values, union branch resolution — is resolved
  // here, never per row.

  /** Unsynchronized growable byte buffer: ByteArrayOutputStream takes a
    * monitor per write (real per-row cost since JDK 15 removed biased
    * locking) — this is the same API surface without the lock, reused
    * across rows via a ThreadLocal in [[AvroEncodeSchema]]. */
  final class ByteSink {
    private var buf = new Array[Byte](256)
    private var len = 0
    def reset(): Unit = len = 0
    private def ensure(n: Int): Unit =
      if (len + n > buf.length) {
        var cap = buf.length << 1
        while (cap < len + n) cap <<= 1
        buf = java.util.Arrays.copyOf(buf, cap)
      }
    def writeByte(b: Int): Unit = { ensure(1); buf(len) = b.toByte; len += 1 }
    def write(bs: Array[Byte], off: Int, n: Int): Unit = {
      ensure(n); System.arraycopy(bs, off, buf, len, n); len += n
    }
    def writeZigZag(n: Long): Unit = {
      var v = (n << 1) ^ (n >> 63)
      ensure(10)
      while ((v & ~0x7fL) != 0) { buf(len) = ((v & 0x7f) | 0x80).toByte; len += 1; v >>>= 7 }
      buf(len) = v.toByte; len += 1
    }
    def toByteArray: Array[Byte] = java.util.Arrays.copyOf(buf, len)
  }

  type Enc = (Any, ByteSink) => Unit
  type Dec = (Array[Byte], Cursor) => Any

  private def writeLeSink(out: ByteSink, v: Long, n: Int): Unit = {
    var i = 0
    while (i < n) { out.writeByte(((v >>> (8 * i)) & 0xff).toInt); i += 1 }
  }

  def compileEncoder(t: AvroType): Enc = t match {
    case ANull => (_, _) => ()
    case ABoolean => (v, out) => out.writeByte(if (v.asInstanceOf[Boolean]) 1 else 0)
    case AInt => (v, out) => out.writeZigZag(v.asInstanceOf[Int].toLong)
    case ALong => (v, out) => out.writeZigZag(v.asInstanceOf[Long])
    case AFloat => (v, out) =>
      writeLeSink(out, java.lang.Float.floatToIntBits(v.asInstanceOf[Float]) & 0xffffffffL, 4)
    case ADouble => (v, out) =>
      writeLeSink(out, java.lang.Double.doubleToLongBits(v.asInstanceOf[Double]), 8)
    case AString => (v, out) => {
      val b = v.asInstanceOf[UTF8String].getBytes
      out.writeZigZag(b.length.toLong)
      out.write(b, 0, b.length)
    }
    case ABytes => (v, out) => {
      val b = v.asInstanceOf[Array[Byte]]
      out.writeZigZag(b.length.toLong)
      out.write(b, 0, b.length)
    }
    case AArray(it) =>
      val et = sparkType(it)
      val itemEnc = compileEncoder(it)
      (v, out) => {
        val arr = v.asInstanceOf[ArrayData]
        val n = arr.numElements()
        if (n > 0) {
          out.writeZigZag(n.toLong)
          var i = 0
          while (i < n) { itemEnc(arr.get(i, et), out); i += 1 }
        }
        out.writeZigZag(0L)
      }
    case AMap(vt) =>
      val et = sparkType(vt)
      val valEnc = compileEncoder(vt)
      (v, out) => {
        val m = v.asInstanceOf[MapData]
        val n = m.numElements()
        if (n > 0) {
          out.writeZigZag(n.toLong)
          var i = 0
          while (i < n) {
            val k = m.keyArray().get(i, StringType).asInstanceOf[UTF8String].getBytes
            out.writeZigZag(k.length.toLong)
            out.write(k, 0, k.length)
            valEnc(m.valueArray().get(i, et), out)
            i += 1
          }
        }
        out.writeZigZag(0L)
      }
    case AUnion(bs) =>
      val nullIdx = bs.indexOf(ANull)
      val valIdx = bs.indexWhere(_ != ANull)
      val valEnc = if (valIdx >= 0) compileEncoder(bs(valIdx)) else null
      (v, out) =>
        if (v == null) {
          require(nullIdx >= 0, "null value but union has no null branch")
          out.writeZigZag(nullIdx.toLong)
        } else {
          out.writeZigZag(valIdx.toLong)
          valEnc(v, out)
        }
    case ARecord(_, fs) =>
      val fieldTypes = fs.map(f => sparkType(f.tpe)).toArray
      val fieldEncs = fs.map(f => compileEncoder(f.tpe)).toArray
      (v, out) => {
        val row = v.asInstanceOf[InternalRow]
        var i = 0
        while (i < fieldEncs.length) { fieldEncs(i)(row.get(i, fieldTypes(i)), out); i += 1 }
      }
  }

  def compileDecoder(w: AvroType, r: AvroType): Dec = (w, r) match {
    case (ANull, ANull) => (_, _) => null
    case (ABoolean, ABoolean) => (buf, c) => { val v = buf(c.pos) != 0; c.pos += 1; v }
    case (AInt | ALong, _) => r match {
      case AInt => (buf, c) => readZigZag(buf, c).toInt
      case ALong => (buf, c) => readZigZag(buf, c)
      case AFloat => (buf, c) => readZigZag(buf, c).toFloat
      case ADouble => (buf, c) => readZigZag(buf, c).toDouble
      case other => throw new IllegalArgumentException(s"cannot promote $w to $other")
    }
    case (AFloat, _) => r match {
      case AFloat => (buf, c) => {
        val v = java.lang.Float.intBitsToFloat(readLe(buf, c.pos, 4).toInt)
        c.pos += 4; v
      }
      case ADouble => (buf, c) => {
        val v = java.lang.Float.intBitsToFloat(readLe(buf, c.pos, 4).toInt).toDouble
        c.pos += 4; v
      }
      case other => throw new IllegalArgumentException(s"cannot promote float to $other")
    }
    case (ADouble, ADouble) => (buf, c) => {
      val v = java.lang.Double.longBitsToDouble(readLe(buf, c.pos, 8))
      c.pos += 8; v
    }
    case (AString | ABytes, _) => r match {
      case AString => (buf, c) => {
        val len = readLength(buf, c)
        val v = UTF8String.fromBytes(buf, c.pos, len)
        c.pos += len; v
      }
      case ABytes => (buf, c) => {
        val len = readLength(buf, c)
        val v = java.util.Arrays.copyOfRange(buf, c.pos, c.pos + len)
        c.pos += len; v
      }
      case other => throw new IllegalArgumentException(s"cannot promote $w to $other")
    }
    case (AArray(wi), AArray(ri)) =>
      val itemDec = compileDecoder(wi, ri)
      val itemBytes = minBytes(wi)
      (buf, c) => {
        val items = mutable.ArrayBuffer.empty[Any]
        var n = readBlockCount(buf, c, itemBytes)
        while (n != 0) {
          var i = 0L
          while (i < n) { items += itemDec(buf, c); i += 1 }
          n = readBlockCount(buf, c, itemBytes)
        }
        new GenericArrayData(items.toArray)
      }
    case (AMap(wv), AMap(rv)) =>
      val valDec = compileDecoder(wv, rv)
      val entryBytes = 1 + minBytes(wv)
      (buf, c) => {
        val keys = mutable.ArrayBuffer.empty[Any]
        val vals = mutable.ArrayBuffer.empty[Any]
        var n = readBlockCount(buf, c, entryBytes)
        while (n != 0) {
          var i = 0L
          while (i < n) {
            val klen = readLength(buf, c)
            keys += UTF8String.fromBytes(buf, c.pos, klen)
            c.pos += klen
            vals += valDec(buf, c)
            i += 1
          }
          n = readBlockCount(buf, c, entryBytes)
        }
        ArrayBasedMapData(keys.toArray, vals.toArray)
      }
    case (AUnion(wbs), _) =>
      // reader branch chosen per WRITER branch — known here, so the
      // per-datum try/catch `canResolve` probe compiles away entirely
      val branchDecs: Array[Dec] = wbs.map { b =>
        r match {
          case AUnion(rbs) =>
            val rb = rbs.find(canResolve(b, _)).getOrElse(
              throw new IllegalArgumentException(s"no reader branch for writer $b"))
            compileDecoder(b, rb)
          case _ => compileDecoder(b, r)
        }
      }.toArray
      (buf, c) => branchDecs(readIndex(buf, c, branchDecs.length))(buf, c)
    case (_, AUnion(rbs)) =>
      val rb = rbs.find(canResolve(w, _)).getOrElse(
        throw new IllegalArgumentException(s"no reader branch for writer $w"))
      compileDecoder(w, rb)
    case (ARecord(_, wf), ARecord(_, rf)) =>
      val readerIdx = rf.map(_.name).zipWithIndex.toMap
      // per writer field: target reader slot (-1 = skip) + its decoder
      val slots = new Array[Int](wf.length)
      val decs = new Array[Dec](wf.length)
      wf.zipWithIndex.foreach { case (f, i) =>
        readerIdx.get(f.name) match {
          case Some(j) => slots(i) = j; decs(i) = compileDecoder(f.tpe, rf(j).tpe)
          case None =>
            slots(i) = -1
            val t = f.tpe
            decs(i) = (buf, c) => { skip(t, buf, c); null }
        }
      }
      val writerNames = wf.map(_.name).toSet
      // reader-only fields: (slot, default) materialized ONCE — default
      // values are immutable Catalyst objects, safe to share across rows
      val defaults: Array[(Int, Any)] = rf.zipWithIndex.collect {
        case (f, i) if !writerNames.contains(f.name) =>
          (i, f.default.map(defaultValue(f.tpe, _)).getOrElse(
            throw new IllegalArgumentException(
              s"reader field '${f.name}' absent from writer schema and has no default")))
      }.toArray
      val nFields = rf.length
      (buf, c) => {
        val values = new Array[Any](nFields)
        var i = 0
        while (i < decs.length) {
          val v = decs(i)(buf, c)
          if (slots(i) >= 0) values(slots(i)) = v
          i += 1
        }
        var j = 0
        while (j < defaults.length) {
          values(defaults(j)._1) = defaults(j)._2
          j += 1
        }
        new GenericInternalRow(values)
      }
    case (a, b) =>
      throw new IllegalArgumentException(s"cannot decode writer $a as reader $b")
  }

  // ---- the avenger record codec ----

  /** `avro_record_encode`: struct<name, real_name, movies> → Avro binary
    * under the reference's registered schema
    * ([[graft.sources.SchemaCatalog.AvengerAvroJson]]). */
  def recordEncode(child: Expression): Expression =
    AvroEncodeSchema(child, SchemaCatalog.AvengerAvroJson, "avro_record_encode")

  /** `avro_record_decode`: the inverse, typed [[RecordCodecs.RecordSchema]];
    * null on a malformed payload. */
  def recordDecode(child: Expression): Expression =
    AvroDecodeSchema(child, SchemaCatalog.AvengerAvroJson, SchemaCatalog.AvengerAvroJson,
      "avro_record_decode")
}

/** struct (shaped like the schema) → Avro binary, driven by a constant
  * schema JSON fixed at plan time. */
case class AvroEncodeSchema(child: Expression, schemaJson: String,
    override val prettyName: String = "avro_encode_schema")
    extends UnaryExpression with CodegenFallback {
  @transient private lazy val schema = AvroSchemaCodec.parse(schemaJson)
  override def dataType: DataType = BinaryType
  override def checkInputDataTypes(): TypeCheckResult =
    try {
      val expected = AvroSchemaCodec.sparkType(schema)
      if (DataType.equalsStructurally(child.dataType, expected, ignoreNullability = true))
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName input ${child.dataType.sql} does not match schema shape ${expected.sql}")
    } catch {
      case e: IllegalArgumentException => TypeCheckResult.TypeCheckFailure(e.getMessage)
    }
  @transient private lazy val enc = AvroSchemaCodec.compileEncoder(schema)
  @transient private lazy val sinks =
    ThreadLocal.withInitial[AvroSchemaCodec.ByteSink](() => new AvroSchemaCodec.ByteSink)
  override def nullSafeEval(input: Any): Any = {
    val out = sinks.get()
    out.reset()
    enc(input, out)
    out.toByteArray
  }
  override protected def withNewChildInternal(c: Expression): AvroEncodeSchema =
    copy(child = c)
}

/** Avro binary written with `writerJson` → struct shaped by `readerJson`,
  * applying Avro schema resolution (defaults, skips, promotions). Schema
  * incompatibilities surface at analysis time; malformed payloads decode
  * to null. */
case class AvroDecodeSchema(child: Expression, writerJson: String, readerJson: String,
    override val prettyName: String = "avro_decode_schema")
    extends UnaryExpression with CodegenFallback {
  @transient private lazy val writer = AvroSchemaCodec.parse(writerJson)
  @transient private lazy val reader = AvroSchemaCodec.parse(readerJson)
  override def dataType: DataType = AvroSchemaCodec.sparkType(reader)
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    try {
      AvroSchemaCodec.validateResolution(writer, reader)
      if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects binary input, got ${child.dataType.sql}")
    } catch {
      case e: IllegalArgumentException => TypeCheckResult.TypeCheckFailure(e.getMessage)
    }
  @transient private lazy val dec = AvroSchemaCodec.compileDecoder(writer, reader)
  override def nullSafeEval(input: Any): Any =
    try dec(input.asInstanceOf[Array[Byte]], new AvroSchemaCodec.Cursor)
    catch { case _: RuntimeException => null }
  override protected def withNewChildInternal(c: Expression): AvroDecodeSchema =
    copy(child = c)
}
