package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{functions => gf}

/** Rows per second of each `graft.functions` kernel next to the nearest
  * Spark built-in doing the same job, over columns generated from the
  * seed. Inputs are materialized first, so a probe times the kernel, not
  * the generator; each probe runs twice and keeps the faster run. */
object Kernels {
  private val Dims = 16
  private val SubDims = 4
  private val Codes = 16

  def probe(spark: SparkSession, seed: Long, rows: Long): Map[String, Double] = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val h = (salt: Int) => xxhash64(col("id"), lit(seed), lit(salt))
    val base = spark.range(0L, rows, 1L, 4).select(
      concat(lit("user-"), pmod(h(1), lit(100000L)).cast(StringType)).as("s"),
      pmod(h(2), lit(1000L)).cast(IntegerType).as("sid"),
      struct(
        concat(lit("name-"), pmod(h(3), lit(5000L)).cast(StringType)).as("name"),
        concat(lit("real-"), pmod(h(4), lit(5000L)).cast(StringType)).as("real_name"),
        array((5 to 7).map(i => concat(lit("movie-"), pmod(h(i), lit(300L)).cast(StringType))): _*)
          .as("movies")).as("rec"),
      array((0 until Dims).map(d => pmod(h(10 + d), lit(1000L))): _*).as("vl"),
      array((0 until Dims).map(d =>
        (pmod(h(40 + d), lit(2001L)) / lit(1000.0) - lit(1.0)).cast(FloatType)): _*).as("vf"))
      .withColumn("payload", col("s").cast(BinaryType))
      .withColumn("frame", gf.wire_encode(col("sid"), col("payload")))
      .withColumn("avro", gf.avro_record_encode(col("rec")))
      .withColumn("json", to_json(col("rec")))
      .localCheckpoint()

    val rnd = new scala.util.Random(seed)
    val codebook = Array.fill(Codes, Dims)(rnd.nextDouble() * 2 - 1)
    val luts = Array.fill(Dims / SubDims, Codes)(rnd.nextInt(1 << 20).toLong)
    val query = Array.fill(Dims)(rnd.nextDouble() * 2 - 1)
    val recSchema = base.schema("rec").dataType

    def proj(cs: Column*): DataFrame => Unit =
      df => df.select(cs: _*).write.format("noop").mode("overwrite").save()
    def agg(cs: Column*): DataFrame => Unit = df => df.agg(cs.head, cs.tail: _*).collect()
    val sqDist = aggregate(
      zip_with(col("vf"), typedLit(query), (a, b) => (a.cast(DoubleType) - b) * (a.cast(DoubleType) - b)),
      lit(0.0), (acc, x) => acc + x)

    val pairs: Seq[(String, DataFrame => Unit, DataFrame => Unit)] = Seq(
      ("fnv1a32", proj(gf.fnv1a32(col("s"))), proj(xxhash64(col("s")))),
      ("md5_long", proj(gf.md5_long(col("s"), 15)),
        proj(conv(substring(md5(col("s")), 1, 15), 16, 10).cast(LongType))),
      ("wire_encode", proj(gf.wire_encode(col("sid"), col("payload"))),
        proj(concat(unhex(lit("00")), unhex(lpad(hex(col("sid")), 8, "0")), col("payload")))),
      ("wire_decode", proj(gf.wire_decode(col("frame"))),
        proj(struct(conv(hex(substring(col("frame"), 2, 4)), 16, 10).cast(IntegerType),
          expr("substring(frame, 6)")))),
      ("avro_record_encode", proj(gf.avro_record_encode(col("rec"))),
        proj(encode(to_json(col("rec")), "UTF-8"))),
      ("avro_record_decode", proj(gf.avro_record_decode(col("avro"))),
        proj(from_json(col("json"), recSchema))),
      ("kmv_sketch", agg(gf.kmv_sketch(col("s"), 256)), agg(approx_count_distinct(col("s")))),
      ("cms_sketch", agg(gf.cms_sketch(col("s"), 4, 1024)),
        agg(count_min_sketch(col("s"), lit(0.003), lit(0.95), lit(1)))),
      ("vector_sum_l", agg(gf.vector_sum_l(col("vl"))),
        df => df.select(posexplode(col("vl"))).groupBy("pos").agg(sum("col")).collect()),
      ("pq_adc", proj(gf.pq_adc(col("vf"), codebook, luts, SubDims)), proj(sqDist)))

    def rate(f: DataFrame => Unit): Double = {
      val ts = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        f(base)
        (System.nanoTime() - t0) / 1e9
      }
      rows / ts.min
    }
    val out = pairs.flatMap { case (name, kernel, builtin) =>
      Seq(s"functions.$name.rows_per_s" -> rate(kernel),
        s"functions.$name.builtin_rows_per_s" -> rate(builtin))
    }.toMap
    sc.getPersistentRDDs.foreach { case (id, r) => if (!before(id)) r.unpersist() }
    out
  }
}
