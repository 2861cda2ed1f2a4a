package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** BPE subword tokenization with a TRAINED merge list (Sennrich et
  * al. '16 apply_bpe): each whitespace word of a pre-normalized string
  * (the [[graft.dedup.Dedup.normalizeText]] contract) is split into
  * characters, then every merge is applied in rank order with the
  * single-pass greedy rule of [[BpeMergeStep]].
  *
  * In-order application is canonical for a TRAINED list whose output
  * symbols are pairwise distinct: rule k's output symbol then only
  * appears as a component of rules > k (training creates symbols in
  * rank order), so a later rule can never create a match for an
  * earlier one — iterating rules once in rank order equals the
  * lowest-rank-first priority-queue encode, and the segmentation of
  * every in-corpus word equals its final training state (the
  * differential BpeSpec pins both). The caveat: two merges CAN emit
  * the same string — e.g. (a,bc) after (ab,c) both yield "abc" — and
  * then a later rule may recreate an earlier rule's left/right
  * component, breaking the single-pass equivalence; [[graft.text.Bpe.
  * train]] models never do at shipped corpora/merge counts (BpeSpec's
  * differential run would catch it), but an externally supplied merge
  * list with duplicate outputs is outside this expression's contract.
  *
  * The merge list is compiled once per expression instance and shipped
  * as a codegen reference object (the broadcast-dimension pattern at
  * the expression level, as [[WordpieceTokens]]); per-row cost is
  * O(words × merges × word length) with no allocation beyond the two
  * flip-flop buffers.
  */
case class BpeTokens(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true

  @transient private lazy val model = BpeTokens.Model(merges)

  override def checkInputDataTypes(): TypeCheckResult =
    if (merges.exists(p => p._1.isEmpty || p._2.isEmpty))
      TypeCheckResult.TypeCheckFailure("bpe_tokens merge halves must be non-empty")
    else child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"bpe_tokens requires string, got $other")
    }

  override protected def nullSafeEval(input: Any): Any =
    BpeTokens.compute(input.asInstanceOf[UTF8String], model)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeModel", model,
      classOf[BpeTokens.Model].getName)
    defineCodeGen(ctx, ev, c => s"graft.expr.BpeTokens.compute($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeTokens =
    copy(child = newChild)

  override def prettyName: String = "bpe_tokens"
}

object BpeTokens {
  /** Compiled merge list in rank order. */
  case class Model(merges: Seq[(String, String)]) extends Serializable {
    @transient lazy val pairs: Array[(UTF8String, UTF8String)] =
      merges.map(p => (UTF8String.fromString(p._1),
        UTF8String.fromString(p._2))).toArray
  }

  def compute(s: UTF8String, model: Model): ArrayData = {
    val out = new java.util.ArrayList[Any]()
    val words = s.toString.split(" ", -1)
    var wi = 0
    while (wi < words.length) {
      val w = words(wi)
      if (w.nonEmpty) {
        // CODE-POINT split, then each merge once in rank order (greedy
        // pass). charAt would cut a supplementary-plane letter (kept by
        // normalizeText's \p{L}) into lone surrogates — invalid UTF-8
        // symbols that no trained merge could ever match — while
        // Spark's split(w, "") in Bpe.train and DuckDB's str_split both
        // split on code points; this keeps encoder, trainer and oracle
        // on the same symbol alphabet.
        val cps = w.codePoints().toArray
        val syms = new Array[UTF8String](cps.length)
        var ci = 0
        while (ci < cps.length) {
          syms(ci) = UTF8String.fromString(
            new String(Character.toChars(cps(ci))))
          ci += 1
        }
        var n = syms.length
        var mi = 0
        while (mi < model.pairs.length && n > 1) {
          val (l, r) = model.pairs(mi)
          var i = 0
          var o = 0
          while (i < n) {
            if (i + 1 < n && syms(i).equals(l) && syms(i + 1).equals(r)) {
              syms(o) = UTF8String.concat(l, r)
              i += 2
            } else {
              syms(o) = syms(i)
              i += 1
            }
            o += 1
          }
          n = o
          mi += 1
        }
        var oi = 0
        while (oi < n) { out.add(syms(oi)); oi += 1 }
      }
      wi += 1
    }
    new GenericArrayData(out.toArray)
  }
}
