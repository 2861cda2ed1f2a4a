package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions.call_function

import graft.expr.{AcFindAll, BpeMergeStep, BpeTokens, DamerauLevenshtein, DotI64, NfkcNormalize, SimHash64, WordShingles, WordpieceTokens, ZOrder2}

/** Registration of graft's native Catalyst expressions.
  *
  * Spark 4 no longer exposes a public Expression→Column constructor, so the
  * supported path is: register an expression builder in the session's
  * FunctionRegistry, then build columns with `call_function`. Registration
  * is idempotent and cheap; `Tables.load` calls it so every query entry
  * point gets the functions without extra ceremony. [[GraftExtensions]]
  * injects the same list.
  */
object GraftFunctions {
  private[graft] val builders: Seq[(String, Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
      org.apache.spark.sql.catalyst.expressions.Expression)] = Seq(
    "nfkc" -> (exprs => NfkcNormalize(exprs.head)),
    "simhash64" -> (exprs => SimHash64(exprs.head)),
    "dot_i64" -> (exprs => DotI64(exprs(0), exprs(1))),
    "damerau_levenshtein" -> (exprs => DamerauLevenshtein(exprs(0), exprs(1))),
    "z_order2" -> (exprs => ZOrder2(exprs(0), exprs(1))),
    "word_shingles" -> (exprs => exprs match {
      case Seq(c, org.apache.spark.sql.catalyst.expressions.Literal(n: Int, _)) =>
        WordShingles(c, n)
      case _ => throw new IllegalArgumentException(
        "word_shingles(stringCol, intLiteral)")
    }),
    "wordpiece" -> (exprs => exprs match {
      case Seq(c, org.apache.spark.sql.catalyst.expressions.Literal(v, _))
          if v != null =>
        WordpieceTokens(c, v.toString.split(" ").toSeq.filter(_.nonEmpty))
      case _ => throw new IllegalArgumentException(
        "wordpiece(stringCol, 'piece piece ##piece ...' literal)")
    }),
    "bpe_merge_step" -> (exprs => exprs match {
      case Seq(c, org.apache.spark.sql.catalyst.expressions.Literal(l, _),
          org.apache.spark.sql.catalyst.expressions.Literal(r, _))
          if l != null && r != null =>
        BpeMergeStep(c, l.toString, r.toString)
      case _ => throw new IllegalArgumentException(
        "bpe_merge_step(arrayCol, 'left' literal, 'right' literal)")
    }),
    "ac_find_all" -> (exprs => exprs match {
      case Seq(c, org.apache.spark.sql.catalyst.expressions.Literal(d, _))
          if d != null =>
        AcFindAll(c, d.toString.split(",").toSeq.filter(_.nonEmpty))
      case _ => throw new IllegalArgumentException(
        "ac_find_all(stringCol, 'term,term,...' literal)")
    }),
    "bpe_tokens" -> (exprs => exprs match {
      case Seq(c, org.apache.spark.sql.catalyst.expressions.Literal(m, _))
          if m != null =>
        BpeTokens(c, GraftFunctions.parseMerges(m.toString))
      case _ => throw new IllegalArgumentException(
        "bpe_tokens(stringCol, 'l r l r ...' flat merge-list literal)")
    }),
  )

  /** Flat `l r l r …` space-separated merge-list codec: symbols come
    * from normalizeText words, so they can never contain a space.
    */
  private[graft] def parseMerges(flat: String): Seq[(String, String)] = {
    val parts = flat.split(" ").toSeq.filter(_.nonEmpty)
    require(parts.length % 2 == 0, "merge list must pair up")
    parts.grouped(2).map(p => (p(0), p(1))).toSeq
  }

  /** Registers every native function the session's own registry lacks —
    * idempotent, and it keeps no state outside the session.
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    builders.foreach { case (name, builder) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }

  /** NFKC Unicode normalization (reference: handlers/kazakhstan.py:163). */
  def nfkc(c: Column): Column = call_function("nfkc", c)

  /** 64-bit SimHash of an array<string> token column. */
  def simhash64(tokens: Column): Column = call_function("simhash64", tokens)

  /** Distinct word n-gram shingles of a pre-normalized string. */
  def wordShingles(c: Column, n: Int): Column =
    call_function("word_shingles", c, org.apache.spark.sql.functions.lit(n))

  /** Integer dot product of two array<bigint> vectors. */
  def dotI64(a: Column, b: Column): Column = call_function("dot_i64", a, b)

  /** Unrestricted (Lowrance–Wagner) Damerau–Levenshtein distance. */
  def damerauLevenshtein(a: Column, b: Column): Column =
    call_function("damerau_levenshtein", a, b)

  /** 64-bit Morton key of two non-negative 32-bit coordinates. */
  def zOrder2(a: Column, b: Column): Column = call_function("z_order2", a, b)

  /** Greedy longest-match WordPiece subword tokens of a pre-normalized
    * string; vocab pieces are space-separated, continuations `##`-prefixed.
    */
  def wordpiece(c: Column, vocab: Seq[String]): Column =
    call_function("wordpiece", c,
      org.apache.spark.sql.functions.lit(vocab.mkString(" ")))

  /** One greedy BPE merge pass of (left, right) over an array<string>
    * symbol column — the trainer's per-word state transition.
    */
  def bpeMergeStep(syms: Column, left: String, right: String): Column =
    call_function("bpe_merge_step", syms,
      org.apache.spark.sql.functions.lit(left),
      org.apache.spark.sql.functions.lit(right))

  /** All Aho–Corasick dictionary matches (term, 1-based pos) in a
    * string; terms are comma-separated so multi-word phrase terms pass
    * through (normalized text never contains a comma).
    */
  def acFindAll(c: Column, terms: Seq[String]): Column = {
    require(terms.forall(!_.contains(",")), "ac terms cannot contain commas")
    call_function("ac_find_all", c,
      org.apache.spark.sql.functions.lit(terms.mkString(",")))
  }

  /** BPE subword tokens of a pre-normalized string under a trained
    * rank-ordered merge list.
    */
  def bpeTokens(c: Column, merges: Seq[(String, String)]): Column =
    call_function("bpe_tokens", c,
      org.apache.spark.sql.functions.lit(
        merges.map(p => s"${p._1} ${p._2}").mkString(" ")))
}
