package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{money_cents, money_dec2, unscaled_decimal}

/** Pins the round-14 exact-money fast path bit-equal to the decimal-cast
  * expressions it replaced, over every value shape the suite's money
  * columns can produce (DataGen: `round(x, 2)` doubles, `k/100.0`
  * divisions, integer-valued quantities, negative balances, quartile
  * .25/.75 interpolations, NULLs). The replacement is ONLY valid for
  * 2-decimal doubles — these tests are the data contract's enforcement
  * alongside the DuckDB oracle sweep. */
class ExactMoneySpec extends SparkSpecBase {
  import spark.implicits._

  /** Money-shaped doubles: every representative generator shape. */
  private def moneyValues: Seq[java.lang.Double] = {
    val rng = new scala.util.Random(42)
    val rounded = (1 to 4000).map { _ =>
      // DataGen.money: round(lo + u*(hi-lo), 2) over [-1000, 105000]
      val raw = -1000.0 + rng.nextDouble() * 106000.0
      BigDecimal(raw).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val divided = (1 to 500).map(_ => rng.nextInt(1100).toDouble / 100.0)
    val ints = (1 to 100).map(_ => (rng.nextInt(50) + 1).toDouble)
    val quartiles = (1 to 200).map(_ => rng.nextInt(200).toDouble / 4.0)
    val edges = Seq(0.0, -0.01, 0.01, -999.99, 104999.99,
      0.05, 0.07, 575.13, 9999.99, -1000.0, 105000.0)
    (rounded ++ divided ++ ints ++ quartiles ++ edges)
      .map(java.lang.Double.valueOf)
  }

  test("money_dec2 == cast(DECIMAL(18,2)) on every money shape + NULL") {
    val df = (moneyValues :+ null.asInstanceOf[java.lang.Double])
      .toDF("v")
    val out = df.select(
      money_dec2($"v").as("fast"),
      $"v".cast(DecimalType(18, 2)).as("slow")).collect()
    out.foreach { r =>
      assert(r.get(0) == r.get(1), s"fast=${r.get(0)} slow=${r.get(1)}")
    }
    // type parity, not just value parity
    val sch = df.select(money_dec2($"v"), $"v".cast(DecimalType(18, 2)))
      .schema.fields
    assert(sch(0).dataType == sch(1).dataType)
  }

  test("money_cents == (cast(DECIMAL(18,2)) * 100).cast(LONG), incl. negatives") {
    val df = (moneyValues :+ null.asInstanceOf[java.lang.Double]).toDF("v")
    val out = df.select(
      money_cents($"v").as("fast"),
      ($"v".cast(DecimalType(18, 2)) * 100).cast(LongType).as("slow")).collect()
    out.foreach { r =>
      assert(r.get(0) == r.get(1), s"fast=${r.get(0)} slow=${r.get(1)}")
    }
  }

  test("unscaled_decimal product == decimal multiply, all precision shapes used") {
    val rng = new scala.util.Random(7)
    val pairs = (1 to 2000).map { _ =>
      val a = BigDecimal(rng.nextDouble() * 105000.0)
        .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
      val b = rng.nextInt(11).toDouble / 100.0
      (a, b)
    }
    val df = pairs.toDF("a", "b")
    def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(18, 2))
    val one = lit(1).cast(DecimalType(18, 2))
    val ca = money_cents($"a"); val cb = money_cents($"b")
    val out = df.select(
      // (18,2)×(18,2) cast to (30,4) — the corr/anomaly moment shape
      unscaled_decimal(ca * cb, 30, 4).as("f1"),
      (dec($"a") * dec($"b")).cast(DecimalType(30, 4)).as("s1"),
      // (18,2)×(19,2) — the revenueExact / promo (38,4) shape
      unscaled_decimal(ca * (lit(100L) - cb), 38, 4).as("f2"),
      (dec($"a") * (one - dec($"b"))).as("s2"),
      // the pricing_summary (18,4) disc-price and (38,6) charge shapes
      unscaled_decimal(ca * (lit(100L) - cb), 18, 4).as("f3"),
      (dec($"a") * (one - dec($"b"))).cast(DecimalType(18, 4)).as("s3"),
      unscaled_decimal(ca * (lit(100L) - cb) * (lit(100L) + cb), 38, 6).as("f4"),
      ((dec($"a") * (one - dec($"b"))).cast(DecimalType(18, 4)) *
        (one + dec($"b"))).as("s4")).collect()
    out.foreach { r =>
      assert(r.get(0) == r.get(1), s"30,4: ${r.get(0)} vs ${r.get(1)}")
      assert(r.get(2) == r.get(3), s"38,4: ${r.get(2)} vs ${r.get(3)}")
      assert(r.get(4) == r.get(5), s"18,4: ${r.get(4)} vs ${r.get(5)}")
      assert(r.get(6) == r.get(7), s"38,6: ${r.get(6)} vs ${r.get(7)}")
    }
    // product type parity for the sum-input shapes
    val sch = df.select(
      unscaled_decimal(ca * cb, 30, 4),
      (dec($"a") * dec($"b")).cast(DecimalType(30, 4)),
      unscaled_decimal(ca * (lit(100L) - cb), 38, 4),
      dec($"a") * (one - dec($"b"))).schema.fields
    assert(sch(0).dataType == sch(1).dataType)
    assert(sch(2).dataType == sch(3).dataType)
  }

  test("moneySum over generated money values == decimal-cast sum") {
    val df = moneyValues.toDF("v")
    val r = df.agg(
      operators.ReferenceOps.moneySum($"v").as("fast"),
      sum($"v".cast(DecimalType(18, 2))).cast(DoubleType).as("slow"))
      .collect()(0)
    assert(r.getDouble(0) == r.getDouble(1))
  }

  test("contract boundary: a 3-decimal value is OUTSIDE the fast path") {
    // -2.675's nearest double is -2.67499…; fl(-2.675·100) lands on
    // exactly -267.5, so floor(v·100+0.5) → -267 while the cast's
    // shortest-string HALF_UP ("-2.675" → -2.68) gives -268 — they
    // genuinely disagree on 3-decimal input. The fast path is only valid
    // for the suite's 2-decimal money columns, which is what the fixture
    // sweep below and the DuckDB oracle enforce.
    val r = Seq(-2.675).toDF("v").select(
      money_cents($"v"),
      ($"v".cast(DecimalType(18, 2)) * 100).cast(LongType)).collect()(0)
    assert(r.getLong(0) == -267L && r.getLong(1) == -268L)
  }

  test("money_cents matches the cast on the real fixture money columns") {
    // end-to-end over actual parquet values, not just generated shapes,
    // at every fixture tier (value ranges widen with the scale factor)
    Seq(Sf0001, "/root/testdata/sf0.01", "/root/testdata/sf0.1").foreach { dir =>
      val li = Tables.lineitem(spark, dir)
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax").foreach { c =>
        val bad = li.where(
          money_cents(col(c)) =!=
            (col(c).cast(DecimalType(18, 2)) * 100).cast(LongType)).count()
        assert(bad == 0L, s"$dir $c: $bad mismatching rows")
      }
      val cust = Tables.customer(spark, dir)
      val badBal = cust.where(
        money_cents($"c_acctbal") =!=
          ($"c_acctbal".cast(DecimalType(18, 2)) * 100).cast(LongType)).count()
      assert(badBal == 0L, s"$dir c_acctbal: $badBal mismatching rows")
    }
  }
}
