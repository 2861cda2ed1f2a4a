package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{BooleanType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Bloom membership of one md5 digest against a densified bitmap — the
  * per-row test of [[graft.sketch.Sketches.bloomPrefilter]].
  *
  * `child` is a 32-hex-digit md5 digest; its first `slots` 8-digit
  * slices are bit addresses `b = slice % mBits`, exactly as
  * `Sketches.bloomBits` draws them, and bit `b` lives in word `b / 62`
  * at position `b % 62` of `words` (the `(word, mask)` packing of
  * `bloomBuild`). True iff every addressed bit is set; a null digest is
  * not a member.
  *
  * The bitmap is held here and handed to generated code as a reference
  * object, never as a literal child: Spark prints the whole plan at
  * execution start and on every adaptive re-plan, and a 16 K-element
  * array literal made that printing the driver's largest cost on the
  * prefilter query. `toString` names the word count only.
  */
case class BloomMember(child: Expression, words: Array[Long], slots: Int, mBits: Long)
    extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    if (slots < 1 || slots > 4 || mBits < 1 || (mBits + 61) / 62 > words.length)
      TypeCheckResult.TypeCheckFailure(
        s"bloom_member needs 1..4 slots and ceil(mBits/62) words, got " +
          s"slots=$slots mBits=$mBits words=${words.length}")
    else child.dataType match {
      case _: StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"bloom_member requires a string digest, got $other")
    }

  override def eval(input: InternalRow): Any = {
    val d = child.eval(input)
    d != null && BloomMember.test(words, d.asInstanceOf[UTF8String], slots, mBits)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomWords", words, "long[]")
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      boolean ${ev.value} = !${c.isNull} &&
        graft.expr.BloomMember.test($ref, ${c.value}, $slots, ${mBits}L);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): BloomMember =
    copy(child = newChild)

  override def prettyName: String = "bloom_member"

  override def toString: String = s"$prettyName($child, ${words.length} words)"
}

object BloomMember {
  def test(words: Array[Long], digest: UTF8String, slots: Int, mBits: Long): Boolean = {
    val hex = digest.getBytes
    var s = 0
    while (s < slots) {
      var v = 0L
      var i = s * 8
      while (i < s * 8 + 8) {
        v = (v << 4) | Character.digit(hex(i), 16)
        i += 1
      }
      val b = v % mBits
      if ((words((b / 62).toInt) & (1L << (b % 62))) == 0L) return false
      s += 1
    }
    true
  }
}
