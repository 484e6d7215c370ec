package graft

import org.apache.spark.sql.{Column, GraftShims}

/** Column-level facade over graft's custom Catalyst expressions. */
package object functions {
  private def toCol(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    GraftShims.column(e)
  private def ex(c: Column) = GraftShims.expression(c)

  /** FNV-1a-32 of a string/binary column, widened to long (0..2^32-1). */
  def fnv1a32(c: Column): Column = toCol(Fnv1a32(ex(c)))

  /** Confluent wire-format frame: magic 0x00 + BE-uint32 schema id
    * (+ 0x00 proto message-index) + payload. */
  def wire_encode(schemaId: Column, payload: Column, proto: Boolean = false): Column =
    toCol(WireEncode(ex(schemaId), ex(payload), proto))

  /** Parse a Confluent frame → struct<schema_id:int, payload:binary>;
    * null for malformed frames. */
  def wire_decode(frame: Column, proto: Boolean = false): Column =
    toCol(WireDecode(ex(frame), proto))

  /** struct<name,real_name,movies> ↔ Avro binary (reference avenger.avsc):
    * the schema codec over the registered avenger schema; decode gives
    * null on a malformed payload. */
  def avro_record_encode(c: Column): Column = toCol(AvroSchemaCodec.recordEncode(ex(c)))
  def avro_record_decode(c: Column): Column = toCol(AvroSchemaCodec.recordDecode(ex(c)))

  /** struct<name,real_name,movies> ↔ proto3 binary (avenegers.proto). */
  def proto_record_encode(c: Column): Column = toCol(ProtoRecordEncode(ex(c)))
  def proto_record_decode(c: Column): Column = toCol(ProtoRecordDecode(ex(c)))

  /** Schema-driven Avro binary encode: the struct column must be shaped
    * like the (constant) schema JSON. */
  def avro_encode_schema(c: Column, schemaJson: String): Column =
    toCol(AvroEncodeSchema(ex(c), schemaJson))

  /** Avro schema RESOLUTION decode: payload written with `writerJson`,
    * projected into `readerJson`'s shape (defaults, skips, promotions). */
  def avro_decode_schema(c: Column, writerJson: String, readerJson: String): Column =
    toCol(AvroDecodeSchema(ex(c), writerJson, readerJson))

  /** First n hex digits of md5 as a long (codegen'd cross-engine hash). */
  def md5_long(c: Column, hexDigits: Int): Column = toCol(Md5Long(ex(c), hexDigits))

  /** Ordered-fold double dot product of two numeric arrays (codegen'd). */
  def vector_dot(a: Column, b: Column): Column = toCol(VectorDot(ex(a), ex(b)))

  /** PQ codes + 2^-20 quantization error for a float-array embedding
    * against a plan-time codebook (compact custom kernel — see
    * [[PqEncode]]'s scaladoc for why this beats a literal expression tree). */
  def pq_encode(v: Column, codebook: Array[Array[Double]],
      subspaces: Int, subDims: Int): Column =
    toCol(PqEncode(ex(v), codebook, subspaces, subDims))

  /** PQ asymmetric-distance (ADC) estimate: integer Σ of per-subspace
    * LUT lookups by the row's PQ code. */
  def pq_adc(v: Column, codebook: Array[Array[Double]],
      luts: Array[Array[Long]], subDims: Int): Column =
    toCol(PqAdc(ex(v), codebook, luts, subDims))

  /** 2-D Z-order (Morton) key of two non-negative long keys (codegen'd):
    * the clustering value behind multi-dimensional layout/pruning. */
  def z_order2(x: Column, y: Column): Column = toCol(ZOrder2(ex(x), ex(y)))

  def hilbert2(x: Column, y: Column): Column = toCol(Hilbert2(ex(x), ex(y)))

  /** KMV distinct sketch: the k smallest distinct md5_long(value, 15)
    * hashes as a sorted long array (aggregate; O(k) memory per group). */
  def kmv_sketch(c: Column, k: Int): Column =
    toCol(KmvSketch(ex(c), k).toAggregateExpression())

  /** Count-Min frequency sketch (aggregate): depth×width counter matrix
    * over salted md5 buckets, flattened row-major — O(depth·width) state,
    * element-wise-add merge, fully reproducible cross-engine. */
  def cms_sketch(c: Column, depth: Int, width: Int): Column =
    toCol(CmsSketch(ex(c), depth, width).toAggregateExpression())

  /** Bounded per-group top-k (aggregate): the k struct rows smallest in
    * natural ascending order, as a sorted array — partial-aggregates
    * map-side, shuffling ≤ k rows per group per partition where a
    * row_number window would shuffle everything. */
  def top_k_rows(c: Column, k: Int): Column =
    toCol(TopKRows(ex(c), k).toAggregateExpression())

  /** Distinct sliding-window-w minima of an array<long> in
    * first-occurrence order — the O(n) winnowing selection kernel. */
  def winnow_mins(c: Column, w: Int): Column = toCol(WinnowMins(ex(c), w))

  /** Element-wise sum of array<long> rows (aggregate): the
    * distributed-linear-algebra accumulator — O(d) state per group,
    * exact i64, map-side combine; pair with 2^-20 fixed-point
    * quantization for cross-engine-reproducible vector/matrix sums. */
  def vector_sum_l(c: Column): Column =
    toCol(VectorSumL(ex(c)).toAggregateExpression())

  /** Fused Gram-matrix sum (aggregate): Σ x·xᵀ of array<long> rows with
    * NO per-row d² intermediate — triangular O(d²) state per group,
    * exact i64, emitted as the full row-major d×d array. */
  def gram_sum_l(c: Column, d: Int): Column =
    toCol(GramSumL(ex(c), d).toAggregateExpression())

  /** Unicode normalization (UAX #15; form NFC/NFD/NFKC/NFKD) — the text
    * canonicalization pass before any hash/dedup (codegen'd; Spark has no
    * built-in). */
  def unicode_normalize(c: Column, form: String = "NFC"): Column =
    toCol(UnicodeNormalize(ex(c), form))

  /** Exact integer cents of a 2-decimal "money" double, as a long —
    * the cheap twin of `cast(c AS DECIMAL(18,2)) * 100` (round 14,
    * guide §1.2 "per-task work").
    *
    * Why it is exact, and why it is fast:
    *  - every money column in this suite is 2-decimal BY CONSTRUCTION
    *    (DataGen emits `round(x, 2)` / `k / 100.0` doubles), i.e. each
    *    value is the double NEAREST k/100 for an integer k with
    *    |k| < 2^40. Then fl(v·100) = k·(1+δ), |δ| ≤ 3·2^-53, so
    *    |fl(v·100) − k| < 0.5 and `floor(v·100 + 0.5)` returns k for
    *    any sign (FLOOR, not a long cast, so negative balances round
    *    half-up too, matching Cast's HALF_UP);
    *  - `Cast(double → decimal)` goes through `Double.toString` +
    *    `java.math.BigDecimal` + `setScale(HALF_UP)` PER VALUE (the
    *    shortest-decimal string of the double nearest k/100 is k/100
    *    itself, so the cast also returns k cents — same value, ~50x
    *    the cycles). In a single-row-group parquet scan stage that
    *    per-row cost is serial wall-clock time at every scale.
    *
    * ONLY valid for 2-decimal inputs: a 3-decimal value would round
    * half-to-odd differently than the decimal cast. ExactMoneySpec pins
    * the equivalence over the DataGen value shapes (negatives, nulls,
    * quartile .25/.75 fractions, full c_acctbal/l_extendedprice ranges).
    *
    * Non-finite inputs are NOT nulled: NaN maps to 0, +Infinity to
    * Long.MaxValue and −Infinity to Long.MinValue (floor of a non-finite
    * double), where the DECIMAL(18,2) cast it replaces returns NULL. The
    * fixtures hold finite money only; nothing checks that at runtime. */
  def money_cents(c: Column): Column =
    org.apache.spark.sql.functions.floor(
      c * org.apache.spark.sql.functions.lit(100d) +
        org.apache.spark.sql.functions.lit(0.5d))

  /** DECIMAL(p, s) built from its UNSCALED long (Spark's own
    * `MakeDecimal`, the partial-sum internal): long-backed for any
    * |unscaled| < 10^18, so downstream decimal sums take the long-add
    * fast path instead of per-row BigDecimal allocation. Null on
    * overflow — the same non-ANSI semantics as the Cast it replaces. */
  def unscaled_decimal(unscaled: Column, precision: Int, scale: Int): Column =
    toCol(org.apache.spark.sql.catalyst.expressions.MakeDecimal(
      ex(unscaled), precision, scale, nullOnOverflow = true))

  /** `cast(c AS DECIMAL(18,2))` for 2-decimal money doubles without the
    * per-row Double.toString/BigDecimal cost — see [[money_cents]] for
    * the exactness argument. Identical type, value and null behavior on
    * the suite's money columns. */
  def money_dec2(c: Column): Column =
    unscaled_decimal(money_cents(c), 18, 2)
}
