package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.functions._

/** `SparkSessionExtensions` injector — makes graft's custom Catalyst
  * expressions first-class SQL functions, so `spark.sql(...)` users get
  * the same surface as the Column API in [[graft.functions]]:
  *
  * {{{
  * SparkSession.builder()
  *   .withExtensions(new GraftExtensions)           // or:
  *   .config("spark.sql.extensions", "graft.plans.GraftExtensions")
  * ...
  * spark.sql("SELECT fnv1a32(user_id), wire_encode(7, payload) FROM t")
  * }}}
  *
  * All registered functions are codegen'd expressions (no UDF in the hot
  * path); constant-typed parameters (shingle width, hex-digit count, proto
  * flag) are passed as foldable literals and fixed at plan time.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions._

  override def apply(ext: SparkSessionExtensions): Unit = {
    registry.foreach { case (name, (info, builder)) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    // Optimizer rule: collapse provably-redundant unicode_normalize chains
    // (UAX #15 idempotence / compatibility absorption) — see NormalizeCollapse.
    ext.injectOptimizerRule(_ => NormalizeCollapse)
  }
}

object GraftExtensions {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name,
      usage.replace(name, "_FUNC_"), "")

  private def intArg(name: String, e: Expression): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$name expects a constant int argument, got $other")
  }

  private def strArg(name: String, e: Expression): String = e match {
    case Literal(v: org.apache.spark.unsafe.types.UTF8String, _) => v.toString
    case other => throw new IllegalArgumentException(
      s"$name expects a constant string argument, got $other")
  }

  private def boolArg(name: String, args: Seq[Expression], idx: Int): Boolean =
    if (args.length <= idx) false
    else args(idx) match {
      case Literal(v: Boolean, _) => v
      case other => throw new IllegalArgumentException(
        s"$name expects a constant boolean argument, got $other")
    }

  /** name → (doc, builder). Exposed for tests. */
  val registry: Map[String, (ExpressionInfo, Seq[Expression] => Expression)] = Map(
    "fnv1a32" -> (
      info("fnv1a32", "fnv1a32(expr) - FNV-1a 32-bit hash of a string/binary, as long."),
      (args: Seq[Expression]) => Fnv1a32(args.head)),
    "wire_encode" -> (
      info("wire_encode",
        "wire_encode(schema_id, payload[, proto]) - Confluent wire-format frame."),
      (args: Seq[Expression]) =>
        WireEncode(args(0), args(1), boolArg("wire_encode", args, 2))),
    "wire_decode" -> (
      info("wire_decode",
        "wire_decode(frame[, proto]) - parse a Confluent frame to struct<schema_id, payload>."),
      (args: Seq[Expression]) =>
        WireDecode(args(0), boolArg("wire_decode", args, 1))),
    "avro_record_encode" -> (
      info("avro_record_encode",
        "avro_record_encode(struct) - avenger record struct to Avro binary."),
      (args: Seq[Expression]) => AvroSchemaCodec.recordEncode(args.head)),
    "avro_record_decode" -> (
      info("avro_record_decode",
        "avro_record_decode(bin) - Avro binary to avenger record struct."),
      (args: Seq[Expression]) => AvroSchemaCodec.recordDecode(args.head)),
    "proto_record_encode" -> (
      info("proto_record_encode",
        "proto_record_encode(struct) - avenger record struct to proto3 binary."),
      (args: Seq[Expression]) => ProtoRecordEncode(args.head)),
    "proto_record_decode" -> (
      info("proto_record_decode",
        "proto_record_decode(bin) - proto3 binary to avenger record struct."),
      (args: Seq[Expression]) => ProtoRecordDecode(args.head)),
    "avro_encode_schema" -> (
      info("avro_encode_schema",
        "avro_encode_schema(struct, schema_json) - schema-driven Avro binary encode."),
      (args: Seq[Expression]) =>
        AvroEncodeSchema(args(0), strArg("avro_encode_schema", args(1)))),
    "avro_decode_schema" -> (
      info("avro_decode_schema",
        "avro_decode_schema(bin, writer_json, reader_json) - Avro schema-resolution decode."),
      (args: Seq[Expression]) =>
        AvroDecodeSchema(args(0), strArg("avro_decode_schema", args(1)),
          strArg("avro_decode_schema", args(2)))),
    "md5_long" -> (
      info("md5_long",
        "md5_long(expr, hex_digits) - first hex_digits of md5 as a long."),
      (args: Seq[Expression]) => Md5Long(args(0), intArg("md5_long", args(1)))),
    "vector_dot" -> (
      info("vector_dot",
        "vector_dot(a, b) - ordered-fold double dot product of two numeric arrays."),
      (args: Seq[Expression]) => VectorDot(args(0), args(1))),
    "z_order2" -> (
      info("z_order2",
        "z_order2(x, y) - 2-D Z-order (Morton) interleave of two non-negative bigint keys."),
      (args: Seq[Expression]) => ZOrder2(args(0), args(1))),
    "hilbert2" -> (
      info("hilbert2",
        "hilbert2(x, y) - order-16 Hilbert-curve distance of two bigint keys in [0, 2^16)."),
      (args: Seq[Expression]) => Hilbert2(args(0), args(1))),
    "unicode_normalize" -> (
      info("unicode_normalize",
        "unicode_normalize(str, form) - UAX #15 normalization; form NFC/NFD/NFKC/NFKD."),
      (args: Seq[Expression]) =>
        UnicodeNormalize(args(0), strArg("unicode_normalize", args(1)))),
    "word_shingles" -> (
      info("word_shingles",
        "word_shingles(text, n) - distinct lowercase word n-gram shingles."),
      (args: Seq[Expression]) => WordShingles(args(0), intArg("word_shingles", args(1)))),
    "kmv_sketch" -> (
      info("kmv_sketch",
        "kmv_sketch(expr, k) - aggregate: k smallest distinct md5_long hashes, sorted."),
      (args: Seq[Expression]) =>
        KmvSketch(args(0), intArg("kmv_sketch", args(1))).toAggregateExpression()),
    "top_k_rows" -> (
      info("top_k_rows",
        "top_k_rows(struct, k) - aggregate: k smallest struct rows in natural order, sorted."),
      (args: Seq[Expression]) =>
        TopKRows(args(0), intArg("top_k_rows", args(1))).toAggregateExpression()),
    "cms_sketch" -> (
      info("cms_sketch",
        "cms_sketch(expr, depth, width) - aggregate: Count-Min counter matrix, row-major."),
      (args: Seq[Expression]) =>
        CmsSketch(args(0), intArg("cms_sketch", args(1)),
          intArg("cms_sketch", args(2))).toAggregateExpression()),
    "vector_sum_l" -> (
      info("vector_sum_l",
        "vector_sum_l(arr) - aggregate: element-wise sum of array<bigint> rows."),
      (args: Seq[Expression]) => VectorSumL(args.head).toAggregateExpression()),
    "gram_sum_l" -> (
      info("gram_sum_l",
        "gram_sum_l(arr, d) - aggregate: fused sum of d-dim outer products, full d*d row-major."),
      (args: Seq[Expression]) =>
        GramSumL(args(0), intArg("gram_sum_l", args(1))).toAggregateExpression()),
    "winnow_mins" -> (
      info("winnow_mins",
        "winnow_mins(arr, w) - distinct sliding-window-w minima of array<bigint>, first-occurrence order."),
      (args: Seq[Expression]) =>
        WinnowMins(args(0), intArg("winnow_mins", args(1)))),
    // Spark's own runtime-filter expressions (public Catalyst classes the
    // optimizer uses for InjectRuntimeFilter), surfaced as SQL functions so
    // a pipeline can build the dim-side bloom ONCE and pre-filter many fact
    // scans with it — the manual form of the 100 TB semi-join reduction.
    "graft_bloom_agg" -> (
      info("graft_bloom_agg",
        "graft_bloom_agg(key, n_items, n_bits) - aggregate: bloom-filter sketch bytes over keys."),
      (args: Seq[Expression]) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          args(0), args(1), args(2)).toAggregateExpression()),
    "graft_bloom_contains" -> (
      info("graft_bloom_contains",
        "graft_bloom_contains(bloom_bytes, key) - might-contain probe; never a false negative."),
      (args: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          args(0), args(1))),
  )

  /** Imperative registration onto an existing session (tests, REPLs). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    registry.foreach { case (name, (i, builder)) =>
      reg.registerFunction(FunctionIdentifier(name), i, builder)
    }
  }
}
