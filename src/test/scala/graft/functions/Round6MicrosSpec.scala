package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Pins the [[Round6Micros]] micro-unit sum bit-identical to the
  * DECIMAL(38,6) form it replaces on the ADC scoring path:
  * `sum(round6_micros(x)).cast(double) / 1e6` must equal
  * `sum(round(x, 6).cast(decimal(38,6))).cast(double)` to the BIT for
  * bounded-group sums — the ADC oracles encode the decimal form's
  * exact values.
  */
class Round6MicrosSpec extends SparkSpec {

  test("grouped sums: micro-long form ≡ decimal form, bit for bit") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    // M=8 rows per group like the ADC aggregation; values in the
    // squared-distance range, including half-up tie shapes
    val rows = (0 until 4000).map { i =>
      (i / 8, rnd.nextDouble() * (if (i % 3 == 0) 1000 else 1))
    } ++ Seq((9991, 0.1234565), (9991, 0.0000005), (9991, 123.4567895),
      (9992, 0.0), (9992, 1e-9), (9993, 999999.9999995))
    val df = rows.toDF("g", "d2")
    val out = df.groupBy(col("g")).agg(
      (sum(round6Micros(col("d2"))).cast("double") / lit(1e6)).as("fast"),
      sum(round(col("d2"), 6).cast("decimal(38,6)"))
        .cast("double").as("ref")).collect()
    out.foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(1)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)),
        s"g=${r.get(0)} fast=${r.getDouble(1)} ref=${r.getDouble(2)}")
    }
  }

  test("per-value micros match Spark's Round semantics (valueOf/HALF_UP)") {
    import spark.implicits._
    val vals = Seq(0.1234565, 0.1234575, 1.0000005, 0.3, 2.675,
      1e-7, 4.9e-7, 5.0e-7, 5.1e-7, 1234567.891234)
    val df = vals.toDF("x")
    df.select(col("x"), round6Micros(col("x")).as("m"),
      round(col("x"), 6).as("r")).collect().foreach { row =>
      val viaRound = java.math.BigDecimal.valueOf(row.getDouble(2))
        .movePointRight(6).longValueExact()
      assert(row.getLong(1) == viaRound,
        s"x=${row.getDouble(0)} micros=${row.getLong(1)} round=$viaRound")
    }
  }

  test("null propagates") {
    import spark.implicits._
    val df = Seq(Option.empty[Double]).toDF("x")
    assert(df.select(round6Micros(col("x"))).head.isNullAt(0))
  }

  test("documented edges: the long ceiling and non-finite input throw") {
    // just under and just over 2^63 micro-units (|x| ~ 9.22e12)
    assert(Round6Micros.micros(9.2e12) == 9200000000000000000L)
    intercept[ArithmeticException](Round6Micros.micros(9.3e12))
    Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
      .foreach(x => intercept[NumberFormatException](Round6Micros.micros(x)))
  }
}
