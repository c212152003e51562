package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** 60-bit SimHash of a document's whitespace tokens, computed in ONE
  * native pass per row: split on the [[WsTokens]] boundary rule, hash
  * each token to the top 60 bits of its MD5 (the first 15 hex digits
  * read base-16; the SQL twin is
  * `CAST('0x' || substr(md5(t), 1, 15) AS BIGINT)`), and keep one
  * signed counter per bit — +1 where the
  * token's bit is set, −1 where it is clear. Bit j of the signature is
  * set iff counter j ends positive, so a repeated token counts with its
  * multiplicity (term-frequency weighting). Its values equal the
  * explode + md5-prefix hash + groupBy(doc) + 60×sum() plan (the parity
  * spec in DedupSpec), but it is a map-only projection with no row
  * explosion and no signature shuffle.
  *
  * Returns a long; NULL for a document with no tokens (exactly the
  * documents the exploded formulation dropped).
  */
case class SimHashSignature(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "simhash_signature"

  override def nullSafeEval(input: Any): Any = {
    val sig = SimHashSignature.compute(input.asInstanceOf[UTF8String])
    if (sig < 0) null else sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val sig = ctx.freshName("sig")
      s"""
         |long $sig = graft.functions.SimHashSignature$$.MODULE$$.compute($c);
         |if ($sig < 0L) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $sig;
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHashSignature {

  /** Signature width: the token hash's 60 bits. */
  val Bits = 60

  // one MD5 engine per task thread; `digest(buf, 0, 16)` resets it
  private val md5 = ThreadLocal.withInitial[MessageDigest](() =>
    MessageDigest.getInstance("MD5"))

  /** One pass over the UTF-8 bytes; −1 when there is no token (a
    * signature is < 2^60, so never negative). The token hash is the
    * digest's first 15 hex digits read as a number, i.e. its first 8
    * bytes big-endian shifted right by 4. */
  def compute(text: UTF8String): Long = {
    val bytes = text.getBytes
    val n = bytes.length
    val md = md5.get()
    val digest = new Array[Byte](16)
    val counts = new Array[Int](Bits)
    var ntok = 0
    var i = 0
    while (i < n) {
      if (WsTokens.isWs(bytes(i))) i += 1
      else {
        val st = i
        while (i < n && !WsTokens.isWs(bytes(i))) i += 1
        md.update(bytes, st, i - st)
        md.digest(digest, 0, 16)
        var h = 0L
        var b = 0
        while (b < 8) { h = (h << 8) | (digest(b) & 0xFFL); b += 1 }
        h >>>= 4
        var j = 0
        while (j < Bits) {
          counts(j) += (if (((h >>> j) & 1L) != 0L) 1 else -1)
          j += 1
        }
        ntok += 1
      }
    }
    if (ntok == 0) return -1L
    var sig = 0L
    var k = 0
    while (k < Bits) {
      if (counts(k) > 0) sig |= 1L << k
      k += 1
    }
    sig
  }

  /** Column-API entry point. Input must be a string column. */
  def apply(c: Column): Column =
    Bridge.column(SimHashSignature(Bridge.expression(c)))
}
