package graft

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.Expression

import graft.expr.{AcFindAll, BloomMember, BpeMergeStep, BpeTokens, DamerauLevenshtein, DotI64, NfkcNormalize, SimHash64, WordShingles, WordpieceTokens, ZOrder2}

/** Columns of graft's native Catalyst expressions. Each method builds its
  * expression directly from the argument columns' expressions and typed
  * parameters, so nothing is registered in, or looked up from, a session:
  * analysis resolves the children like those of any built-in function.
  */
object GraftFunctions {
  private def native(e: Expression): Column = GraftSqlBridge.column(e)
  private def expr(c: Column): Expression = GraftSqlBridge.expression(c)

  /** NFKC Unicode normalization (reference: handlers/kazakhstan.py:163). */
  def nfkc(c: Column): Column = native(NfkcNormalize(expr(c)))

  /** 64-bit SimHash of an array<string> token column. */
  def simhash64(tokens: Column): Column = native(SimHash64(expr(tokens)))

  /** Distinct word n-gram shingles of a pre-normalized string. */
  def wordShingles(c: Column, n: Int): Column = native(WordShingles(expr(c), n))

  /** Integer dot product of two array<bigint> vectors. */
  def dotI64(a: Column, b: Column): Column = native(DotI64(expr(a), expr(b)))

  /** Unrestricted (Lowrance–Wagner) Damerau–Levenshtein distance. */
  def damerauLevenshtein(a: Column, b: Column): Column =
    native(DamerauLevenshtein(expr(a), expr(b)))

  /** 64-bit Morton key of two non-negative 32-bit coordinates. */
  def zOrder2(a: Column, b: Column): Column = native(ZOrder2(expr(a), expr(b)))

  /** Greedy longest-match WordPiece subword tokens of a pre-normalized
    * string; continuation pieces are `##`-prefixed.
    */
  def wordpiece(c: Column, vocab: Seq[String]): Column =
    native(WordpieceTokens(expr(c), vocab))

  /** One greedy BPE merge pass of (left, right) over an array<string>
    * symbol column — the trainer's per-word state transition.
    */
  def bpeMergeStep(syms: Column, left: String, right: String): Column =
    native(BpeMergeStep(expr(syms), left, right))

  /** All Aho–Corasick dictionary matches (term, 1-based pos) in a
    * string; multi-word phrase terms match across spaces.
    */
  def acFindAll(c: Column, terms: Seq[String]): Column =
    native(AcFindAll(expr(c), terms))

  /** BPE subword tokens of a pre-normalized string under a trained
    * rank-ordered merge list.
    */
  def bpeTokens(c: Column, merges: Seq[(String, String)]): Column =
    native(BpeTokens(expr(c), merges))

  /** Bloom-filter membership of an md5 hex digest column: `slots`
    * addresses are read from the digest and tested against the `mBits`
    * bitmap held in `words` (62 bits per word). The bitmap rides the
    * expression, not the plan, so it is never printed as a literal.
    */
  def bloomMember(digest: Column, words: Array[Long], slots: Int, mBits: Long): Column =
    native(BloomMember(expr(digest), words, slots, mBits))
}
