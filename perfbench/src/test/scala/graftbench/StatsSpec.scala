package graftbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("percentile interpolates between the closest ranks and counts its samples") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.percentile(xs, 0.5) == Stats.Pct(2.5, 4, 2))
    assert(Stats.percentile(xs, 0.0).value == 1.0)
    assert(Stats.percentile(xs, 1.0) == Stats.Pct(4.0, 4, 0))
    // rank (10 - 1) * 0.9 = 8.1 over 1..10: 9 + 0.1 * (10 - 9)
    val p90 = Stats.percentile((1 to 10).map(_.toDouble), 0.9)
    assert(math.abs(p90.value - 9.1) < 1e-12)
    assert(p90.samples == 10 && p90.beyond == 1)
    assert(Stats.percentile(Seq(7.0), 0.9) == Stats.Pct(7.0, 1, 0))
    assert(Stats.median(Seq(5.0, 1.0, 9.0)) == 5.0)
  }

  test("percentile refuses an empty sample and a rank outside [0, 1]") {
    intercept[IllegalArgumentException](Stats.percentile(Nil, 0.5))
    intercept[IllegalArgumentException](Stats.percentile(Seq(1.0), 1.5))
  }

  test("Harrell-Davis quantile weighs every sample by the beta weights and counts its samples") {
    // n = 5, p = 0.5: a = b = 3, I(x) = 10x^3 - 15x^4 + 6x^5, so the weights
    // are 0.05792, 0.25952, 0.36512, 0.25952, 0.05792
    val hd = Stats.hdQuantile(Seq(10.0, 1.0, 4.0, 2.0, 3.0), 0.5)
    assert(math.abs(hd.value - 3.2896) < 1e-9)
    assert(hd.samples == 5 && hd.beyond == 2)
    // two samples: symmetric weights, so the median is their mean
    assert(math.abs(Stats.hdQuantile(Seq(3.0, 1.0), 0.5).value - 2.0) < 1e-12)
    // p90 of 1..10, against a numerical integration of the beta density
    assert(math.abs(Stats.hdQuantile((1 to 10).map(_.toDouble), 0.9).value - 9.435115) < 1e-5)
    assert(math.abs(Stats.hdQuantile(Seq.fill(7)(2.5), 0.9).value - 2.5) < 1e-12)
    assert(Stats.hdQuantile(Seq(7.0), 0.9) == Stats.Pct(7.0, 1, 0))
    intercept[IllegalArgumentException](Stats.hdQuantile(Nil, 0.5))
    intercept[IllegalArgumentException](Stats.hdQuantile(Seq(1.0), 1.0))
  }

  test("union length counts overlapping and nested intervals once, clipped to the window") {
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L)), 0L, 100L) == 15L)
    assert(Stats.unionLength(Seq((0L, 10L), (2L, 3L)), 0L, 100L) == 10L)
    assert(Stats.unionLength(Seq((20L, 30L), (0L, 5L)), 0L, 100L) == 15L)
    assert(Stats.unionLength(Seq((-5L, 5L), (95L, 120L)), 0L, 100L) == 10L)
    assert(Stats.unionLength(Seq((0L, 10L), (10L, 20L)), 0L, 100L) == 20L)
    assert(Stats.unionLength(Nil, 0L, 100L) == 0L)
  }

  test("self time is the span minus the union of its children") {
    // op [0, 100): jobs [10, 40) and [30, 60) overlap (50 covered); of
    // [90, 120) only [90, 100) lies inside the span (10 more)
    assert(Stats.selfTime(0L, 100L, Seq((10L, 40L), (30L, 60L), (90L, 120L))) == 40L)
    assert(Stats.selfTime(0L, 100L, Nil) == 100L)
    assert(Stats.selfTime(0L, 100L, Seq((0L, 100L))) == 0L)
  }

  private val schema = StructType(Seq(StructField("k", LongType),
    StructField("name", StringType), StructField("x", DoubleType)))
  private val rows = Seq(Row(1L, "a", 0.5), Row(2L, "b", 1.25), Row(3L, null, -2.0))

  test("result digest ignores row order") {
    val d = ResultHash.digest(rows, schema)
    assert(ResultHash.digest(rows.reverse, schema) == d)
    assert(d.rows == 3L)
  }

  test("result digest compares columns in name order") {
    val swapped = StructType(Seq(schema(2), schema(0), schema(1)))
    val swappedRows = rows.map(r => Row(r.get(2), r.get(0), r.get(1)))
    assert(ResultHash.digest(swappedRows, swapped) == ResultHash.digest(rows, schema))
    val renamed = StructType(Seq(StructField("k", LongType),
      StructField("label", StringType), StructField("x", DoubleType)))
    val renamedRows = rows.map(r => Row(r.get(0), r.get(1), r.get(2)))
    // a rename that keeps the name order keeps the digest; one that
    // changes it reorders the values
    assert(ResultHash.digest(renamedRows, renamed) == ResultHash.digest(rows, schema))
    val reordered = StructType(Seq(StructField("a", LongType),
      StructField("z", StringType), StructField("m", DoubleType)))
    assert(ResultHash.digest(rows, reordered) != ResultHash.digest(rows, schema))
  }

  test("result digest sees a changed value, a duplicated row and a dropped row") {
    val d = ResultHash.digest(rows, schema)
    assert(ResultHash.digest(rows.updated(1, Row(2L, "b", 1.5)), schema) != d)
    assert(ResultHash.digest(rows :+ rows.head, schema) != d)
    assert(ResultHash.digest(rows.tail, schema) != d)
    assert(ResultHash.digest(rows.updated(2, Row(3L, "", -2.0)), schema) != d)
  }

  test("result digest rounds doubles to 9 significant digits and normalizes decimals") {
    val a = Seq(Row(1L, "a", 0.1 + 0.2))
    val b = Seq(Row(1L, "a", 0.3))
    assert(ResultHash.digest(a, schema) == ResultHash.digest(b, schema))
    assert(ResultHash.canon(new java.math.BigDecimal("12.50")) == "12.5")
    assert(ResultHash.canon(new java.math.BigDecimal("0.00")) == "0")
    assert(ResultHash.canon(-0.0) == ResultHash.canon(0.0))
    assert(ResultHash.canon(Seq(1.0f, Double.NaN)) == "[1,NaN]")
  }

  test("digest text round-trips") {
    val d = ResultHash.digest(rows, schema)
    assert(ResultHash.Digest.parse(d.toString) == d)
    val neg = ResultHash.Digest(2L, -42L)
    assert(ResultHash.Digest.parse(neg.toString) == neg)
  }
}
