package graftbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

import scala.util.hashing.MurmurHash3

/** Order-independent digest of a query result: the row count and the
  * wrapping sum of a 64-bit hash per row. Row order never matters, a
  * changed value or a duplicated row always does.
  *
  * A row is rendered canonically before hashing: columns in name order
  * (as the oracle comparison sorts them), doubles rounded to 9
  * significant digits so that the last-bit differences of a different
  * summation order do not change the digest, decimals without trailing
  * zeros, nested arrays, structs and maps rendered recursively. */
object ResultHash {

  final case class Digest(rows: Long, hash: Long) {
    override def toString: String = f"$rows%d:$hash%016x"
  }

  object Digest {
    def parse(s: String): Digest = {
      val Array(r, h) = s.split(':')
      Digest(r.toLong, java.lang.Long.parseUnsignedLong(h, 16))
    }
  }

  private val mc = new java.math.MathContext(9)

  def canon(v: Any): String = v match {
    case null => "NULL"
    case d: Double => canonDouble(d)
    case f: Float => canonDouble(f.toDouble)
    case b: java.math.BigDecimal =>
      if (b.signum == 0) "0" else b.stripTrailingZeros.toPlainString
    case b: BigDecimal => canon(b.bigDecimal)
    case t: java.sql.Timestamp => t.toInstant.toString
    case t: java.time.Instant => t.toString
    case a: Array[Byte] => a.map(x => f"$x%02x").mkString("0x", "", "")
    case r: Row => (0 until r.length).map(i => canon(r.get(i)))
      .mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }.sorted
        .mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case x => x.toString
  }

  private def canonDouble(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(mc).stripTrailingZeros.toString

  /** Column positions in name order (ties keep their schema order). */
  def nameOrder(schema: StructType): Array[Int] =
    schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)

  def rowHash(r: Row, order: Array[Int]): Long = {
    val s = order.map(i => canon(r.get(i))).mkString("\u0001")
    val hi = MurmurHash3.stringHash(s, 0x3c074a61)
    val lo = MurmurHash3.stringHash(s, 0x5bd1e995)
    mix((hi.toLong << 32) | (lo.toLong & 0xffffffffL))
  }

  /** SplitMix64 finalizer: spreads the two 32-bit halves over all 64
    * bits so that sums of row hashes do not cancel structurally. */
  private def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def digest(rows: Seq[Row], schema: StructType): Digest = {
    val order = nameOrder(schema)
    Digest(rows.size.toLong, rows.foldLeft(0L)((h, r) => h + rowHash(r, order)))
  }
}
