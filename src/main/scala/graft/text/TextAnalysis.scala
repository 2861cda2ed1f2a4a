package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: language ID,
  * quality scoring, token counting, fingerprinting. All built-ins (one
  * native expression for the rolling hash) → whole-stage codegen, and each
  * op is expressible in ANSI SQL for oracle checking.
  */
object TextAnalysis {

  /** Stopword profiles per language for the n-gram/stopword language-ID
    * heuristic. Deterministic and fully declarative: one regexp_count per
    * language over the lowercased text.
    */
  val StopwordProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un"),
    "es" -> Seq("el", "los", "las", "y", "es", "un"),
  )

  def langScore(c: Column, words: Seq[String]): Column =
    regexp_count(lower(coalesce(c, lit(""))),
      lit(words.mkString("\\b(", "|", ")\\b")))

  /** Predicted language = highest stopword score, ties broken by profile
    * order, "und" (undetermined) when no profile matches at all.
    */
  def langId(c: Column): Column = {
    val scores = StopwordProfiles.map { case (lang, words) => lang -> langScore(c, words) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldLeft(when(best <= 0, "und")) { case (acc, (lang, s)) =>
      acc.when(s === best, lang)
    }.otherwise("und")
  }

  /** Whitespace token count ("" → 0). */
  def tokenCountWhitespace(c: Column): Column = {
    val t = trim(coalesce(c, lit("")))
    when(t === "", 0).otherwise(size(split(t, "\\s+")))
  }

  /** BPE-ish token count: letter runs, digit runs, and single
    * non-alphanumeric symbols each count as one token — a cheap proxy for
    * subword tokenizer cost, computable as one regexp_count.
    */
  def tokenCountBpe(c: Column): Column =
    regexp_count(coalesce(c, lit("")), lit("\\p{L}+|\\d+|[^\\p{L}\\d\\s]"))

  /** Quality-signal bundle (length / punctuation ratio / stopword ratio /
    * mean word length), composed into a 0..1-ish score. Heuristics follow
    * the C4/Gopher-style quality filter families.
    */
  def punctCount(c: Column): Column =
    regexp_count(coalesce(c, lit("")), lit("[^\\p{L}\\d\\s]"))

  def stopwordCount(c: Column): Column =
    langScore(c, StopwordProfiles.flatMap(_._2).distinct)

  def qualityScore(c: Column): Column = {
    val nChars = length(coalesce(c, lit(""))).cast("double")
    val nTokens = tokenCountWhitespace(c).cast("double")
    val meanWordLen = when(nTokens > 0, nChars / nTokens).otherwise(lit(0.0))
    val punctRatio = when(nChars > 0, punctCount(c).cast("double") / nChars).otherwise(lit(1.0))
    val stopRatio = when(nTokens > 0, stopwordCount(c).cast("double") / nTokens).otherwise(lit(0.0))
    // in-range components: reasonable length, low punctuation, some stopwords
    val lenOk = when(nTokens >= 10 && nTokens <= 1000, lit(1.0)).otherwise(lit(0.0))
    val wordLenOk = when(meanWordLen >= 3.0 && meanWordLen <= 12.0, lit(1.0)).otherwise(lit(0.0))
    val punctOk = when(punctRatio <= 0.2, lit(1.0)).otherwise(lit(0.0))
    val stopOk = when(stopRatio >= 0.05, lit(1.0)).otherwise(lit(0.0))
    round((lenOk + wordLenOk + punctOk + stopOk) / 4.0, 2)
  }

  /** Gopher quality rules (Rae et al. '21, §A1.1) — the concrete
    * repetition-free formatting gate most LLM corpora apply before
    * model-based scoring. Every metric is exact integer arithmetic and
    * every threshold an integer cross-multiply (never a float ratio), so
    * the whole relation hash-oracles:
    *
    *  - word count in [50, 100000]; mean word length in [3, 10]
    *    (non-whitespace chars over `\S+` words, micro-units via
    *    integral division);
    *  - symbol-to-word ratio (`#` or ellipsis) ≤ 0.1;
    *  - ≤ 90% of non-blank lines start with a bullet, ≤ 30% end with an
    *    ellipsis (multiline-flag regex counts — no per-line explode);
    *  - ≥ 80% of words contain a letter; ≥ 2 distinct required stopwords
    *    (the paper's {the, be, to, of, and, that, have, with}).
    *
    * `keep` is the conjunction. Pure projection — one codegen'd pass,
    * no aggregation, no HOF.
    */
  def gopherRules(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    val nWords = size(regexp_extract_all(t, lit("\\S+"), lit(0))).cast("long")
    val charSum = length(regexp_replace(t, "\\s+", "")).cast("long")
    // floor of the double quotient: exact (charSum·1e6 ≤ ~1e11 « 2^53)
    // and identical to DuckDB's floor((cs*1000000)/nw) — the
    // classifierScore convention.
    val meanMicro = when(nWords > 0L,
      floor((charSum * 1000000L) / nWords).cast("long")).otherwise(lit(0L))
    val nSymbols = size(regexp_extract_all(t, lit("\\.{3}|…"), lit(0))).cast("long") +
      (length(t) - length(regexp_replace(t, "#", ""))).cast("long")
    val nLines = size(regexp_extract_all(t, lit("(?m)^[ \\t]*\\S"), lit(0))).cast("long")
    val nBullet = size(regexp_extract_all(t, lit("(?m)^[ \\t]*[-*•]"), lit(0))).cast("long")
    val nEllEnd = size(regexp_extract_all(t, lit("(?m)(\\.{3}|…)[ \\t]*$"), lit(0))).cast("long")
    val nAlpha = size(regexp_extract_all(t, lit("\\S*\\p{L}\\S*"), lit(0))).cast("long")
    val gopherStops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val nStop = gopherStops.map(w =>
      when(lower(t).rlike(s"\\b$w\\b"), 1L).otherwise(0L)).reduce(_ + _)
    df.select(col(idCol).as("doc"),
      nWords.as("n_words"),
      meanMicro.as("mean_word_len_micro"),
      nSymbols.as("n_symbols"),
      nLines.as("n_lines"),
      nBullet.as("n_bullet_lines"),
      nEllEnd.as("n_ellipsis_lines"),
      nAlpha.as("n_alpha_words"),
      nStop.as("n_stop_kinds"),
      (nWords >= 50L && nWords <= 100000L &&
        meanMicro >= 3000000L && meanMicro <= 10000000L &&
        nSymbols * 10L <= nWords &&
        nBullet * 10L <= nLines * 9L &&
        nEllEnd * 10L <= nLines * 3L &&
        nAlpha * 10L >= nWords * 8L &&
        nStop >= 2L).as("keep"))
  }

  /** Content fingerprint: md5 of the dedup-normalized text (engine-portable,
    * oracle-checkable).
    */
  def fingerprintMd5(c: Column): Column =
    md5(graft.dedup.Dedup.normalizeText(c))

  /** TF-IDF top-k terms per document: tf = term occurrences in the doc,
    * df = documents containing the term, idf = ln((N+1)/(df+1)), ranked
    * by the ROUNDED score (4 decimals) then term — rounding first makes
    * the ranking bit-stable across engines (ln may differ in the last
    * ulp between libm implementations; 4-decimal rounding absorbs it on
    * both the sort key and the output).
    *
    * Scale shape: two hash aggregations over the exploded token stream
    * (map-side partials apply) + one scalar N broadcast + a per-doc
    * top-k window. The token explode is the dominant shuffle; everything
    * downstream is narrow (doc, term, counts).
    */
  def tfIdfTopTerms(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val toks = df
      .select(col(idCol).as("doc"),
        explode(graft.dedup.Dedup.tokensOf(col(textCol))).as("term"))
      .filter(col("term") =!= "")
    val tf = toks.groupBy(col("doc"), col("term")).agg(count(lit(1)).as("tf"))
    val docFreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = df.select(count(lit(1)).as("n_docs"))
    val scored = tf.join(docFreq, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        round(col("tf") * log((col("n_docs") + 1.0) / (col("df") + 1.0)), 4))
    val w = Window.partitionBy(col("doc")).orderBy(col("tfidf").desc, col("term"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("doc"), col("term"), col("rank"), col("tfidf"))
  }

  /** BM25 keyword retrieval (Robertson/Spärck Jones; k1/b are the standard
    * Okapi constants): score = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
    * over the query's distinct normalized terms, idf = ln(1 + (N−df+0.5)/(df+0.5)).
    * Returns the top-k documents by (rounded score desc, doc asc) — the
    * ranking and the emitted score both use the 4-decimal-rounded value so
    * last-ulp ln() differences can't flip an order across engines (the
    * TF-IDF ranking rule).
    *
    * Scale shape: term stats come from one exploded hash-agg filtered to
    * the query's terms (so the shuffle carries |queryTerms|·|matching
    * docs| rows, not the corpus vocabulary); N and avgdl are a 1-row
    * broadcast; the final ranking is a TakeOrdered of per-doc sums.
    */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
      query: String, k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val queryTerms = query.toLowerCase.split("\\s+").filter(_.nonEmpty).distinct.toSeq
    require(queryTerms.nonEmpty, "empty query")
    val docs = df.select(col(idCol).as("doc"),
      graft.dedup.Dedup.tokensOf(col(textCol)).as("_t"))
    // Persisted (two narrow columns per doc): lens feeds the corpus
    // stats AND the per-doc score join, and unpersisted each consumer
    // re-ran the full tokenize from its own corpus scan (r18: final plan
    // showed 4 source scans; 2 is the floor — one pass for lengths, one
    // for the query-term TFs, which need different projections of the
    // token stream). Released via clearCache, the session contract.
    val lens = docs.select(col("doc"), size(col("_t")).cast("double").as("dl"))
      .persist()
    val stats = lens.agg(count(lit(1)).cast("double").as("n_docs"),
      avg(col("dl")).as("avgdl"))
    val tf = docs
      .select(col("doc"), explode(col("_t")).as("term"))
      .filter(col("term").isin(queryTerms: _*))
      .groupBy(col("doc"), col("term")).agg(count(lit(1)).cast("double").as("tf"))
    val docFreq = tf.groupBy(col("term")).agg(count(lit(1)).cast("double").as("df"))
    val scored = tf.join(broadcast(docFreq), "term")
      .join(lens, "doc")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("w",
        col("idf") * col("tf") * (k1 + 1) /
          (col("tf") + lit(k1) * (lit(1.0) - b + lit(b) * col("dl") / col("avgdl"))))
      // Quantize each term's contribution to integer micro-units before
      // summing: float sums are partition-order-dependent in the last
      // ulp; long sums are exact and order-free, so the score is
      // bit-stable across engines and partitionings.
      .withColumn("w6", round(col("w") * 1e6).cast("long"))
      .groupBy(col("doc"))
      .agg(round(sum(col("w6")) / 1e6, 4).as("score"))
    scored
      .orderBy(col("score").desc, col("doc"))
      .limit(k)
      .withColumn("rank",
        row_number().over(Window.partitionBy(lit(1))
          .orderBy(col("score").desc, col("doc"))).cast("long"))
      .select(col("rank"), col("doc"), col("score"))
  }

  /** Sentence segmentation: text splits on terminal-punctuation runs
    * (`[.!?]+` plus trailing whitespace) into (doc, sent_idx, sentence)
    * rows with a DENSE index over the non-empty segments — the unit the
    * paragraph-level dedup, PII and quality gates drop to when document
    * granularity is too coarse. The split pattern is RE2-safe (no
    * lookbehind, which the usual "keep the delimiter" split needs), so
    * the DuckDB oracle runs the identical regex.
    *
    * Scale: pure generator fan-out (split → filter → posexplode), zero
    * shuffle; fan-out is bounded by text length like chunkDocuments.
    */
  def splitSentences(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc"),
        filter(split(coalesce(col(textCol), lit("")), "[.!?]+\\s*"),
          x => x =!= "").as("_ss_arr"))
      .select(col("doc"), posexplode(col("_ss_arr")).as(Seq("sent_idx", "sentence")))
      .select(col("doc"), col("sent_idx").cast("long").as("sent_idx"),
        col("sentence"), length(col("sentence")).cast("long").as("n_chars"))

  /** Flesch reading-ease score in micro units, on the classic
    * vowel-group syllable estimate:
    * `206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)`,
    * each ratio cleared to one integral division so the score is exact
    * integer arithmetic end-to-end (the constants are already rational
    * — ×10⁶ loses nothing). Sentences = non-empty `[.!?]+` segments
    * (the [[splitSentences]] rule); words = `\S+` runs; syllables =
    * `[aeiouyAEIOUY]+` runs — the standard heuristic, and an EXACT
    * specification both engines implement with the same RE2 regexes,
    * which is what makes a "readability" number oracle-able at all.
    * NULL when a document has no sentences or no words.
    *
    * Scale: one codegen projection, zero shuffle.
    */
  def readability(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    df.select(col(idCol).as("doc"),
        size(filter(split(t, "[.!?]+\\s*"), x => x =!= ""))
          .cast("long").as("n_sents"),
        size(regexp_extract_all(t, lit("\\S+"), lit(0)))
          .cast("long").as("n_words"),
        size(regexp_extract_all(t, lit("[aeiouyAEIOUY]+"), lit(0)))
          .cast("long").as("n_sylls"))
      .withColumn("flesch_micro", expr(
        """case when n_sents > 0 and n_words > 0
          |then 206835000 - (1015000 * n_words) div n_sents
          |              - (84600000 * n_sylls) div n_words end""".stripMargin))
  }

  /** Lexical diversity: type–token ratio and hapax-legomena ratio per
    * document — the repetition gate orthogonal to [[charEntropy]]
    * (characters) and the Gopher line rules (formatting). Both ratios
    * are single integral divisions of exact counts over the whitespace
    * token relation, so the report hash-oracles.
    *
    * Scale: one explode → two-level hash aggregation (token cells →
    * per-doc counts), the tf-idf shape; no window.
    */
  def lexicalDiversity(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("doc"),
        explode(graft.dedup.Dedup.tokensOf(col(textCol))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("doc"), col("tok")).agg(count(lit(1)).as("tf"))
    toks.groupBy(col("doc")).agg(
        sum(col("tf")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("tf") === 1L, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("doc"), col("n_tokens"), col("n_types"), col("n_hapax"),
        expr("n_types * 1000000 div n_tokens").as("ttr_micro"),
        expr("n_hapax * 1000000 div n_types").as("hapax_micro"))
  }

  /** Reciprocal-rank fusion (Cormack et al. SIGIR'09) of two ranked
    * retrieval lists — the standard way a hybrid search combines a
    * lexical (BM25) list with a semantic (embedding-cosine) list
    * without comparing their incommensurable scores: each list
    * contributes `1/(kConst + rank)` and items are re-ranked by the
    * sum. Inputs are (idCol, rankCol) relations; an item missing from
    * one list contributes 0 for it (the full-outer semantics fusion
    * requires — inner would demand presence in both lists).
    *
    * Deterministic: each contribution is one integral `div` of 10⁹
    * (floor), the sum is exact, and ties re-rank by id — no float
    * comparison anywhere, so the fused list hash-oracles.
    *
    * Scale: one full-outer equi-join on id between two ALREADY-SMALL
    * top-k relations (the data-sized work happened inside each
    * retriever); the final rank is a single-partition window over
    * ≤ |a| + |b| rows by construction.
    */
  def rrfFuse(a: DataFrame, b: DataFrame, idCol: String, rankCol: String,
      kConst: Int = 60, topK: Int = 20): DataFrame = {
    require(kConst > 0 && topK > 0, "rrfFuse needs positive kConst/topK")
    val la = a.select(col(idCol).as("_rf_id"), col(rankCol).as("rank_a"))
    val lb = b.select(col(idCol).as("_rf_id"), col(rankCol).as("rank_b"))
    val fused = la.join(lb, Seq("_rf_id"), "full_outer")
      .withColumn("rrf_nano",
        coalesce(expr(s"1000000000 div ($kConst + rank_a)"), lit(0L)) +
          coalesce(expr(s"1000000000 div ($kConst + rank_b)"), lit(0L)))
    fused
      .withColumn("fused_rank", row_number().over(
        Window.partitionBy(lit(1))
          .orderBy(col("rrf_nano").desc, col("_rf_id"))).cast("long"))
      .filter(col("fused_rank") <= topK)
      .select(col("fused_rank"), col("_rf_id").as(idCol), col("rank_a"),
        col("rank_b"), col("rrf_nano"))
  }

  // ------------------------------------------------------------ PII / URLs

  /** PII redaction for training corpora: URLs, emails, IPv4 addresses and
    * phone-like digit runs are replaced with typed placeholder tags, in
    * that order (URLs first so an address inside a URL can't be half-eaten;
    * IPs before phones so a phone pattern can't swallow dotted quads).
    * Every pattern is RE2-compatible — no lookaround, explicit classes —
    * so the DuckDB oracle runs the exact same regexes.
    */
  val UrlRegex = "https?://\\S+"
  val EmailRegex = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Regex = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhoneRegex = "\\+?\\d[\\d\\s().-]{7,}\\d"

  /** Luhn checksum validity of a pure-digit string (ISO/IEC 7812 mod-10
    * — the card-number check digit): right-to-left, every second digit
    * doubles with a 9-wrap, and the total must divide by 10. The PII
    * upgrade over a bare `\d{13,16}` regex: ~90% of random digit runs
    * fail the checksum, so candidate extraction + Luhn filtering finds
    * ACTUAL card-shaped numbers instead of order ids and timestamps.
    * Pure built-in arithmetic (reverse + tiny HOF fold — candidate
    * strings are ≤19 chars, interpreted cost is irrelevant), identical
    * in the DuckDB oracle's list comprehension.
    */
  def luhnValid(c: Column): Column = {
    val rev = reverse(coalesce(c, lit("")))
    val total = aggregate(
      transform(sequence(lit(1), length(rev)), i => {
        val d = rev.substr(i, lit(1)).cast("int")
        when(i % 2 === 0,
          when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d)
      }),
      lit(0), (acc, x) => acc + x)
    length(rev) > 0 && total % 10 === 0
  }

  /** Card-number candidates (13–16 digit runs) with their Luhn verdict
    * per document — the typed PII DETECTION relation redactPii's blind
    * replacement can't give (flag-and-review pipelines need to see
    * what matched and whether it checksums).
    */
  def cardCandidates(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc"),
        explode(regexp_extract_all(coalesce(col(textCol), lit("")),
          lit("\\d{13,16}"), lit(0))).as("candidate"))
      .select(col("doc"), col("candidate"),
        luhnValid(col("candidate")).as("luhn_valid"))

  def redactPii(c: Column): Column = {
    val s0 = coalesce(c, lit(""))
    val s1 = regexp_replace(s0, UrlRegex, "<URL>")
    val s2 = regexp_replace(s1, EmailRegex, "<EMAIL>")
    val s3 = regexp_replace(s2, Ipv4Regex, "<IP>")
    regexp_replace(s3, PhoneRegex, "<PHONE>")
  }

  /** HTML → text extraction for web corpora — the content pull every
    * crawl-derived dataset starts from. Deterministic rule chain, all
    * RE2-safe regex (oracle-checkable, no parser dependency):
    * script/style blocks and comments drop whole (dot-all non-greedy);
    * block-closing tags (`</p>`, `</div>`, `</li>`, `</h1..6>`, `</tr>`,
    * `<br>`) become newlines so paragraph structure survives; remaining
    * tags become spaces; the FIXED entity set `&lt; &gt; &quot; &#39;
    * &apos; &nbsp;` decodes first and `&amp;` LAST, so double-escaped
    * text decodes exactly one level (`&amp;lt;` → `&lt;`, never `<`);
    * whitespace collapses per line and blank runs collapse to single
    * newlines. Numeric entities beyond `&#39;` are out of scope by
    * design (a general decoder needs a codepoint expression, not a
    * fixed table).
    *
    * Pure projection — codegen'd regexp chain, no UDF, scales as a map.
    */
  def stripHtml(c: Column): Column = {
    val s0 = coalesce(c, lit(""))
    val noBlock = regexp_replace(s0,
      "(?is)<(script|style)\\b[^>]*>.*?</(script|style)\\s*>", " ")
    val noComment = regexp_replace(noBlock, "(?s)<!--.*?-->", " ")
    val breaks = regexp_replace(noComment,
      "(?i)<(br|/p|/div|/li|/h[1-6]|/tr)\\b[^>]*>", "\n")
    val noTags = regexp_replace(breaks, "<[^>]*>", " ")
    val ent = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
        "&#39;" -> "'", "&apos;" -> "'", "&nbsp;" -> " ")
      .foldLeft(noTags) { case (acc, (e, r)) => regexp_replace(acc, e, r) }
    val amp = regexp_replace(ent, "&amp;", "&")
    val sp = regexp_replace(amp, "[ \\t\\x0B\\f\\r]+", " ")
    val nl = regexp_replace(sp, " ?\\n ?", "\n")
    // regex trim, not trim(): built-in trim strips spaces only and would
    // leave boundary newlines minted by the break-tag rule
    regexp_replace(regexp_replace(nl, "\\n{2,}", "\n"), "^\\s+|\\s+$", "")
  }

  /** One row per URL found in the text, with its host: the inventory pass
    * behind per-domain corpus filtering/weighting. Generator fan-out of
    * regexp_extract_all — no UDF.
    */
  def extractUrls(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc"),
        explode(regexp_extract_all(coalesce(col(textCol), lit("")), lit(UrlRegex), lit(0)))
          .as("url"))
      .withColumn("domain", regexp_extract(col("url"), "^https?://([^/]+)", 1))

  /** Corpus-level PMI collocations: the `topK` adjacent word pairs whose
    * co-occurrence most exceeds chance — `PMI = ln(c_xy·N / (c_x·c_y))`
    * over bigram/unigram counts — the classic multi-word-expression
    * extractor ("new york", "machine learning") feeding tokenizer vocab
    * decisions and phrase-aware dedup keys. `minCount` screens the
    * unstable low-frequency tail BEFORE any join, so only frequent
    * bigrams reach the scoring stage.
    *
    * Deterministic: counts are exact longs; the PMI argument is one
    * division of two exactly-representable double products (< 2⁵³ — at
    * corpus scales beyond ~10¹⁵ token-pair products, route the ratio
    * through decimal before the ln), quantized to micro-nats by the
    * corpus ln rule; ties rank by (w1, w2).
    *
    * Scale: two hash aggs with map-side partials (bigrams, unigrams) +
    * broadcast joins of the frequent-bigram relation against the unigram
    * relation, then a global TakeOrdered top-k — no windows, no
    * quadratic stage.
    */
  def pmiCollocations(df: DataFrame, idCol: String, textCol: String,
      minCount: Int = 5, topK: Int = 50): DataFrame = {
    val toks = df.select(col(idCol).as("doc"),
      filter(graft.dedup.Dedup.tokensOf(col(textCol)), t => t =!= "").as("_t"))
    // Persisted unigram relation (vocab-sized): it feeds BOTH pmi joins
    // (uc1/uc2) and the token total is exactly Σ uc over it — the
    // unpersisted form re-ran the tokenize+explode+aggregate from its
    // own corpus scan per consumer (r18: final plan showed 4 source
    // scans; 2 is the floor — one unigram pass, one bigram pass).
    // Released via clearCache, the session-wide contract.
    val words = toks.select(explode(col("_t")).as("w"))
    val uni = words.groupBy(col("w")).agg(count(lit(1)).as("uc")).persist()
    val tot = uni.agg(coalesce(sum(col("uc")), lit(0L)).as("n_tok"))
    val big = toks
      .filter(size(col("_t")) >= 2)
      .select(explode(arrays_zip(
        slice(col("_t"), lit(1), size(col("_t")) - 1).as("a"),
        slice(col("_t"), lit(2), size(col("_t")) - 1).as("b"))).as("bg"))
      .select(col("bg.a").as("w1"), col("bg.b").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minCount)
    big
      .join(uni.select(col("w").as("w1"), col("uc").as("uc1")), "w1")
      .join(uni.select(col("w").as("w2"), col("uc").as("uc2")), "w2")
      .crossJoin(broadcast(tot))
      .withColumn("pmi_micro",
        round(log((col("n_pair").cast("double") * col("n_tok")) /
          (col("uc1").cast("double") * col("uc2"))) * 1e6).cast("long"))
      .select(col("w1"), col("w2"), col("n_pair"), col("pmi_micro"))
      .orderBy(col("pmi_micro").desc, col("w1"), col("w2"))
      .limit(topK)
  }

  /** Canonical form of an absolute URL — the key under which web-corpus
    * pipelines dedup/weight pages that differ only in URL noise:
    * lowercased scheme and host, default port stripped (:80 on http,
    * :443 on https — a non-default or cross-scheme port survives),
    * fragment dropped, empty path normalized to `/`, tracking params
    * removed (`utm_*`, `fbclid`, `gclid` — by param NAME, with or
    * without a value), remaining params sorted byte-lexicographically,
    * and the `?` dropped when nothing remains. Path case and
    * percent-encodings are preserved (paths are case-sensitive by spec).
    * A value without a `scheme://` prefix is returned fragment-stripped
    * but otherwise untouched (no base to resolve against).
    *
    * Pure projection (regex + array built-ins, no UDF) — the param sort
    * is per-URL over a handful of elements, not a relational sort.
    */
  def canonicalUrl(c: Column): Column = {
    val noFrag = regexp_replace(coalesce(c, lit("")), "#.*", "")
    val scheme = lower(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val rest = regexp_replace(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://", "")
    val hostPort = lower(regexp_extract(rest, "^([^/?]*)", 1))
    val host = when(scheme === "http", regexp_replace(hostPort, ":80$", ""))
      .when(scheme === "https", regexp_replace(hostPort, ":443$", ""))
      .otherwise(hostPort)
    val pathQ = regexp_replace(rest, "^[^/?]*", "")
    val path0 = regexp_extract(pathQ, "^([^?]*)", 1)
    val path = when(path0 === "", lit("/")).otherwise(path0)
    val query = regexp_extract(pathQ, "\\?(.*)", 1)
    val params = filter(split(query, "&"), p =>
      p =!= "" && !p.rlike("^(utm_[^=&]*|fbclid|gclid)(=|$)"))
    val sortedQ = array_join(array_sort(params), "&")
    when(scheme === "", noFrag)
      .otherwise(concat(scheme, lit("://"), host, path,
        when(size(params) > 0, concat(lit("?"), sortedQ)).otherwise(lit(""))))
  }

  /** [[canonicalUrl]] as a table op: adds `url_canon` next to `urlCol`. */
  def canonicalizeUrls(df: DataFrame, urlCol: String): DataFrame =
    df.withColumn("url_canon", canonicalUrl(col(urlCol)))

  // ----------------------------------------------------- dataset splitting

  /** Stable content-hash bucket in [0, nBuckets): first 4 hex chars of
    * md5 → integer. Hash-based (not id-modulo) so the assignment survives
    * re-ids/re-ordering and stays uniform under any key distribution; both
    * engines compute it from the same md5 hex text, so it is
    * oracle-checkable (DuckDB spells hex→int as strpos arithmetic).
    */
  def hashBucket(c: Column, nBuckets: Int): Column =
    conv(substring(md5(c.cast("string")), 1, 4), 16, 10).cast("long") % nBuckets

  /** Deterministic train/validation/test assignment by content hash —
    * the held-out-split operator every training pipeline needs. Percent
    * points out of 100.
    */
  def hashSplit(c: Column, trainPct: Int, valPct: Int): Column = {
    require(trainPct + valPct <= 100, "train+val must leave room for test")
    val b = hashBucket(c, 100)
    when(b < trainPct, "train").when(b < trainPct + valPct, "val").otherwise("test")
  }

  /** Leakage-safe train/val/test split: assignment hashes the near-dup
    * CLUSTER representative, not the document — a per-doc [[hashSplit]]
    * puts the two halves of a near-duplicate pair in different splits
    * whenever their ids hash apart, leaking eval content into training
    * (the concern behind Lee '22 §6 / benchmark decontamination; dedup
    * alone doesn't fix it when near-dups are intentionally KEPT).
    * `pairs` is any near-dup relation `(id_a, id_b)` — n-gram Jaccard,
    * MinHash bands, SimHash buckets; components come from
    * [[graft.dedup.Dedup.connectedComponents]], the representative is
    * the component's min id, and singletons key their own id — so with
    * no pairs at all the assignment degenerates to `hashSplit(id)`
    * EXACTLY (spec-pinned).
    *
    * Scale: component state is bounded by the dedup family's machinery;
    * the join-back relation holds only CLUSTERED docs (broadcast-sized
    * at sane near-dup density) and the split itself stays a pure
    * projection on (id, split_key).
    */
  def leakageSafeSplit(docs: DataFrame, idCol: String, pairs: DataFrame,
      trainPct: Int, valPct: Int): DataFrame = {
    val comps = graft.dedup.Dedup.connectedComponents(pairs)
      .select(col("doc").as("_ls_doc"), col("cluster_id").as("_ls_rep"))
    docs.join(comps, col(idCol) === col("_ls_doc"), "left")
      .select(col(idCol),
        coalesce(col("_ls_rep"), col(idCol)).as("split_key"))
      .select(col(idCol), col("split_key"),
        hashBucket(col("split_key"), 100).as("bucket"),
        hashSplit(col("split_key"), trainPct, valPct).as("split"))
  }

  // ------------------------------------------------- contamination checking

  /** Benchmark-contamination pairs: corpus documents sharing at least
    * `minCommon` distinct word n-grams with a benchmark document (self
    * pairs excluded). The shape is the standard decontamination pass over
    * pretraining corpora (n-gram collision against eval sets).
    *
    * Scale: benchmark sets are tiny next to the corpus, so the shingle
    * join is hash-partitioned with the benchmark side broadcast-eligible;
    * the corpus side streams through explode → join → partial count.
    */
  def ngramOverlap(
      corpus: DataFrame, bench: DataFrame,
      corpusId: String, benchId: String,
      textCol: String, n: Int, minCommon: Long): DataFrame = {
    // Same sub-n guard as ngramDocFreq: texts shorter than n words have no
    // n-grams (Dedup.shingles would collapse them to a whole-text shingle,
    // and a whole-text match is exact-dup territory, not n-gram overlap).
    def shingled(df: DataFrame, idCol: String, as: String) = df
      .filter(size(graft.dedup.Dedup.tokensOf(col(textCol))) >= n)
      .select(col(idCol).as(as),
        explode(graft.dedup.Dedup.shingles(col(textCol), n)).as("s"))
    val c = shingled(corpus, corpusId, "doc")
    val b = shingled(bench, benchId, "bench_doc")
    c.join(b, c("s") === b("s") && c("doc") =!= b("bench_doc"))
      .groupBy(col("doc"), col("bench_doc"))
      .agg(count(lit(1)).as("n_common"))
      .filter(col("n_common") >= minCommon)
  }

  /** Decontamination MATERIALIZATION: the training corpus with every
    * document that [[ngramOverlap]]-collides with the benchmark set
    * removed (GPT-3-appendix-C shape: drop the training doc on n-gram
    * collision; the benchmark rows themselves are not training data and
    * are excluded up front). The flag pass is `ngramOverlap`; this is
    * the anti-join that actually ships a clean corpus.
    *
    * Scale: distinct contaminated ids collapse before the LEFT ANTI
    * join, so the join's build side is |contaminated docs|, not
    * |overlap pairs|.
    */
  def decontaminate(
      corpus: DataFrame, bench: DataFrame,
      corpusId: String, benchId: String,
      textCol: String, n: Int = 3, minCommon: Long = 2L): DataFrame = {
    val dirty = ngramOverlap(corpus, bench, corpusId, benchId, textCol,
        n, minCommon)
      .select(col("doc")).distinct()
    corpus.join(dirty, corpus(corpusId) === dirty("doc"), "left_anti")
  }

  /** Gopher-style repetition metrics per document: total word-bigram
    * occurrences, distinct bigrams, the top bigram's occurrence count, and
    * a repetitiveness flag (top bigram > 20% of occurrences OR repeated
    * occurrences > 50%) — the within-document repetition filter
    * (Rae et al. '21 §A1.3) that exact/near dedup can't see. The flag is
    * computed by INTEGER cross-multiplication (`5·top > total`), not a
    * float ratio, so it is bit-identical across engines.
    *
    * Documents with fewer than 2 tokens have no bigrams: counts 0, flag
    * false. Scale shape: index-explode → two hash aggregations with
    * map-side partials; everything is codegen (element_at over the token
    * array, no HOF lambdas).
    */
  def repetitionMetrics(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val n = 2
    val grams = df
      .select(col(idCol).as("doc"), graft.dedup.Dedup.tokensOf(col(textCol)).as("t"))
      .filter(size(col("t")) >= n)
      .select(col("doc"), col("t"),
        explode(sequence(lit(1), size(col("t")) - (n - 1))).as("i"))
      .select(col("doc"),
        concat_ws(" ", (0 until n).map(j => element_at(col("t"), col("i") + j)): _*)
          .as("g"))
    val perGram = grams.groupBy(col("doc"), col("g")).agg(count(lit(1)).as("cnt"))
    val perDoc = perGram.groupBy(col("doc")).agg(
      sum(col("cnt")).as("n2_total"),
      count(lit(1)).as("n2_distinct"),
      max(col("cnt")).as("n2_top"))
    df.select(col(idCol).as("doc"))
      .join(perDoc, Seq("doc"), "left")
      .select(col("doc"),
        coalesce(col("n2_total"), lit(0L)).as("n2_total"),
        coalesce(col("n2_distinct"), lit(0L)).as("n2_distinct"),
        coalesce(col("n2_top"), lit(0L)).as("n2_top"))
      .withColumn("is_repetitive",
        col("n2_top") * 5 > col("n2_total") ||
          (col("n2_total") - col("n2_distinct")) * 2 > col("n2_total"))
  }

  /** Cross-document duplicated n-gram stats — the corpus-level counterpart
    * of [[repetitionMetrics]] (Dolma/Gopher quality-signal family): for
    * each document, how many of its word-n-gram OCCURRENCES use a gram
    * that appears in at least `minDocs` documents. High values mark
    * boilerplate shared across the corpus (templates, headers, licence
    * blocks) that within-document repetition cannot see and document-level
    * dedup does not remove. The `mostly_duplicated` flag is integer
    * cross-multiplication (`2·dup > total`), bit-identical across engines.
    *
    * Scale shape: index-explode → (doc, gram) hash agg with map-side
    * partials → corpus gram stats (shuffle = |distinct grams|, not corpus
    * size) → equi-join back on the gram (AQE-skewable; a stop-gram fans
    * out to its document list, never a cross product) → per-doc hash agg.
    * No windows, no corpus broadcast, no driver state.
    */
  def crossDocDupNgrams(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 2, minDocs: Int = 2): DataFrame = {
    require(n >= 1 && minDocs >= 2, s"need n >= 1 and minDocs >= 2")
    val grams = df
      .select(col(idCol).as("doc"), graft.dedup.Dedup.tokensOf(col(textCol)).as("t"))
      .filter(size(col("t")) >= n)
      .select(col("doc"), col("t"),
        explode(sequence(lit(1), size(col("t")) - (n - 1))).as("i"))
      .select(col("doc"),
        concat_ws(" ", (0 until n).map(j => element_at(col("t"), col("i") + j)): _*)
          .as("g"))
    val perDocGram = grams.groupBy(col("doc"), col("g")).agg(count(lit(1)).as("cnt"))
    // One row per (gram, doc) above ⇒ count(*) here IS the document count.
    val gramDocs = perDocGram.groupBy(col("g")).agg(count(lit(1)).as("n_docs"))
    val perDoc = perDocGram.join(gramDocs, "g")
      .groupBy(col("doc")).agg(
        sum(col("cnt")).as("ng_total"),
        sum(when(col("n_docs") >= minDocs, col("cnt")).otherwise(0L)).as("ng_cross_dup"))
    df.select(col(idCol).as("doc"))
      .join(perDoc, Seq("doc"), "left")
      .select(col("doc"),
        coalesce(col("ng_total"), lit(0L)).as("ng_total"),
        coalesce(col("ng_cross_dup"), lit(0L)).as("ng_cross_dup"))
      .withColumn("mostly_duplicated", col("ng_cross_dup") * 2 > col("ng_total"))
  }

  /** Corpus-trained bigram language-model scoring — the CCNet/KenLM-style
    * perplexity filter every large pretraining pipeline runs: documents
    * whose token transitions are unusual under the corpus's own bigram
    * statistics (gibberish, boilerplate soup, wrong-language fragments)
    * score low and can be thresholded out.
    *
    * Model: add-one-smoothed bigram LM trained on the corpus itself.
    *   score(doc) = mean over bigrams of ln( (c(w1,w2)+1) / (c(w1)+V) )
    * (≙ negative cross-entropy per token; higher = more typical).
    *
    * Determinism: each bigram's log-prob is quantized to integer
    * micro-units BEFORE the per-doc sum (the BM25 rule) — long sums are
    * exact and order-free, so the score is bit-stable across engines and
    * partitionings and gets a full DuckDB hash oracle.
    *
    * Scale shape: two exploded hash-aggregations (unigram + bigram counts,
    * map-side partials, ≤|vocab|/|bigram-vocab| rows out), a 1-row vocab
    * scalar broadcast, then equi-joins of the exploded corpus against the
    * count relations (AQE picks broadcast vs shuffle by size) and one
    * final per-doc aggregation. No windows, no driver loops; bigrams are
    * produced by a zip of two array slices — a pure projection, not a
    * self-join on positions.
    */
  def lmBigramScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("doc"),
      filter(graft.dedup.Dedup.tokensOf(col(textCol)), t => t =!= "").as("_t"))
    // (doc, w1, w2) with multiplicity — zip(tokens, tokens[1:]).
    // Persisted: the frame feeds BOTH the bigram-count aggregation and
    // the scoring join; without a materialization point the normalize +
    // split + zip + explode chain (the CPU-dominant stage) runs twice.
    // Lazy persist, lineage kept; released via clearCache between
    // corpora — the same contract as minhashLshPairs' shingle frame.
    val bigrams = toks
      .filter(size(col("_t")) >= 2)
      .select(col("doc"),
        slice(col("_t"), lit(1), size(col("_t")) - 1).as("a"),
        slice(col("_t"), lit(2), size(col("_t")) - 1).as("b"))
      .select(col("doc"), explode(arrays_zip(col("a"), col("b"))).as("bg"))
      .select(col("doc"), col("bg.a").as("w1"), col("bg.b").as("w2"))
      .persist()
    // uni persists too (vocab-sized, r18): it feeds the scoring join AND
    // the vocabulary count — unpersisted, the second consumer re-ran the
    // word explode from its own corpus scan (4 source scans → 3, the
    // floor: unigram pass, bigram cache build, the id-only fill scan).
    val words = toks.select(col("doc"), explode(col("_t")).as("w"))
    val uni = words.groupBy(col("w").as("w1")).agg(count(lit(1)).as("uc"))
      .persist()
    val big = bigrams.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("bc"))
    val vocab = uni.agg(count(lit(1)).cast("double").as("v"))

    val perBigram = bigrams
      .join(big, Seq("w1", "w2"))            // every bigram has a count (≥ its own)
      .join(uni, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("lp6",
        round(log((col("bc") + lit(1.0)) / (col("uc") + col("v"))) * 1e6).cast("long"))
    // Mean as FLOORED integer micro-units, then an exact /1e6: round(x, 6)
    // of the quotient is NOT cross-engine-stable (Spark rounds the
    // shortest-decimal rendering via BigDecimal HALF_UP, DuckDB rounds the
    // true binary — a half-way value can land on different sides; observed
    // on 1 of 5000 docs at sf0.1). floor() of the bit-identical IEEE
    // quotient is deterministic everywhere.
    val scored = perBigram.groupBy(col("doc")).agg(
      count(lit(1)).as("n_bigrams"),
      (floor(sum(col("lp6")) / count(lit(1))).cast("long") / 1e6).as("lm_score"))
    // docs with <2 tokens have no bigrams: surfaced with null score, the
    // caller's filter policy decides (same contract as crossDocDupNgrams)
    df.select(col(idCol).as("doc"))
      .join(scored, Seq("doc"), "left")
      .select(col("doc"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"), col("lm_score"))
  }

  /** Stupid Backoff trigram LM scoring (Brants et al. EMNLP '07 §4 —
    * the web-scale LM quality filter that skips discount estimation
    * entirely): each scoring-corpus trigram (w1 w2 w3) takes
    * `S = c(w1w2w3)/c(w1w2)` when the trigram is in the TRAIN corpus,
    * backs off to `0.4·c(w2w3)/c(w2)`, then to `0.16·c(w3)/N`; tokens
    * whose unigram is unseen are counted OOV and excluded from the
    * score (no smoothing — the paper's S is not a probability). Scores
    * are per-trigram ln in integer micro-nats (the lm_score rules:
    * round(ln·1e6) per trigram, exact long sums, floor of the
    * bit-identical mean quotient), so the whole thing hash-oracles.
    *
    * Train and score corpora are SEPARATE inputs — scoring a held-out
    * slice is what exercises the backoff tiers (a corpus scored on
    * itself hits the trigram tier on every token); the per-doc tier
    * counts (n_tri/n_bi/n_uni/n_oov) come out alongside the score as
    * the filter diagnostics.
    *
    * Scale: count relations are vocabulary-shaped (uni ≤ |V|, bi/tri ≤
    * observed n-grams) and every scoring join is an equi-join AQE can
    * broadcast when counts fit; the trigram stream is a zip of three
    * array slices — a pure projection, never a positional self-join.
    * N rides a single-row broadcast.
    */
  def stupidBackoffScore(train: DataFrame, score: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    def toks(df: DataFrame) = df.select(col(idCol).as("doc"),
      filter(graft.dedup.Dedup.tokensOf(col(textCol)), t => t =!= "").as("_t"))
    def trigrams(df: DataFrame) = toks(df)
      .filter(size(col("_t")) >= 3)
      .select(col("doc"),
        slice(col("_t"), lit(1), size(col("_t")) - 2).as("a"),
        slice(col("_t"), lit(2), size(col("_t")) - 2).as("b"),
        slice(col("_t"), lit(3), size(col("_t")) - 2).as("c"))
      .select(col("doc"), explode(arrays_zip(col("a"), col("b"), col("c"))).as("tg"))
      .select(col("doc"), col("tg.a").as("w1"), col("tg.b").as("w2"),
        col("tg.c").as("w3"))

    // The unigram and bigram count relations each feed TWO scoring joins
    // (uc2/uc3, bc12/bc23) — unpersisted, each consumer re-ran the whole
    // tokenize+explode+aggregate subtree from its own corpus scan (r18:
    // final plan showed 9 parquet scans of the source). Both are
    // aggregate-sized (vocab / bigram types — Zipf-small next to the
    // corpus), so lazy persists are the right materialization points;
    // and Σ uc IS the train token count exactly, so n derives from the
    // persisted unigram relation instead of a further full re-scan.
    // Train corpus scans: 6 → 3 (one per n-gram order). Released via
    // spark.catalog.clearCache(), the session-wide contract.
    val trainToks = toks(train).select(col("doc"), explode(col("_t")).as("w"))
    val uni = trainToks.groupBy(col("w")).agg(count(lit(1)).as("uc"))
      .persist()
    val bi = toks(train).filter(size(col("_t")) >= 2)
      .select(col("doc"),
        slice(col("_t"), lit(1), size(col("_t")) - 1).as("a"),
        slice(col("_t"), lit(2), size(col("_t")) - 1).as("b"))
      .select(explode(arrays_zip(col("a"), col("b"))).as("bg"))
      .groupBy(col("bg.a").as("x1"), col("bg.b").as("x2"))
      .agg(count(lit(1)).as("bc"))
      .persist()
    val tri = trigrams(train)
      .groupBy(col("w1"), col("w2"), col("w3")).agg(count(lit(1)).as("tc"))
    val n = uni.agg(coalesce(sum(col("uc")), lit(0L)).cast("double").as("n"))

    val perTri = trigrams(score)
      .join(tri, Seq("w1", "w2", "w3"), "left")
      .join(bi.select(col("x1").as("w1"), col("x2").as("w2"),
        col("bc").as("bc12")), Seq("w1", "w2"), "left")
      .join(bi.select(col("x1").as("w2"), col("x2").as("w3"),
        col("bc").as("bc23")), Seq("w2", "w3"), "left")
      .join(uni.select(col("w").as("w2"), col("uc").as("uc2")), Seq("w2"), "left")
      .join(uni.select(col("w").as("w3"), col("uc").as("uc3")), Seq("w3"), "left")
      .crossJoin(broadcast(n))
      .withColumn("tier",
        when(col("tc").isNotNull, lit(0))
          .when(col("bc23").isNotNull, lit(1))
          .when(col("uc3").isNotNull, lit(2))
          .otherwise(lit(3)))
      .withColumn("lp6",
        when(col("tier") === 0,
          round(log(col("tc").cast("double") / col("bc12")) * 1e6))
        .when(col("tier") === 1,
          round(log(lit(0.4) * col("bc23") / col("uc2")) * 1e6))
        .when(col("tier") === 2,
          round(log(lit(0.16) * col("uc3") / col("n")) * 1e6))
        .cast("long"))

    val scored = perTri.groupBy(col("doc")).agg(
      sum(when(col("tier") === 0, 1L).otherwise(0L)).as("n_tri"),
      sum(when(col("tier") === 1, 1L).otherwise(0L)).as("n_bi"),
      sum(when(col("tier") === 2, 1L).otherwise(0L)).as("n_uni"),
      sum(when(col("tier") === 3, 1L).otherwise(0L)).as("n_oov"),
      when(sum(when(col("tier") < 3, 1L).otherwise(0L)) > 0L,
        floor(sum(col("lp6")) / sum(when(col("tier") < 3, 1L).otherwise(0L)))
          .cast("long") / 1e6).as("sb_score"))
    score.select(col(idCol).as("doc")).distinct()
      .join(scored, Seq("doc"), "left")
      .select(col("doc"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        coalesce(col("n_bi"), lit(0L)).as("n_bi"),
        coalesce(col("n_uni"), lit(0L)).as("n_uni"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        col("sb_score"))
  }

  /** Word n-gram document frequency per group: in how many documents of
    * each group does each n-gram appear (shingles are distinct per doc),
    * top-k per group by (count desc, n-gram asc). The corpus-level n-gram
    * statistic behind contamination checks and boilerplate detection.
    */
  def ngramDocFreq(
      df: DataFrame, groupCol: String, textCol: String, n: Int, k: Int): DataFrame = {
    val grams = df
      .filter(size(graft.dedup.Dedup.tokensOf(col(textCol))) >= n)
      .select(col(groupCol).as("grp"),
        explode(graft.dedup.Dedup.shingles(col(textCol), n)).as("ngram"))
    val counts = grams.groupBy(col("grp"), col("ngram")).agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("grp")).orderBy(col("n_docs").desc, col("ngram"))
    counts
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("grp"), col("ngram"), col("rank"), col("n_docs"))
  }

  // ----------------------------------------- character-diversity filtering

  /** Character-level Shannon entropy per document (nats) — the
    * low-diversity gate (repeated-char padding, mojibake runs, binary
    * junk) that token-level quality scores can't see. Uses the identity
    * H = ln(total) − (Σ_c cnt_c·ln(cnt_c)) / total with each character's
    * ln quantized to integer micro-units BEFORE the per-doc sum (the
    * BM25/LM-score rule: long sums are exact and order-free) and the
    * final division floored on the bit-identical integer quotient, so
    * the value is bit-stable across engines/partitionings and gets a
    * full hash oracle.
    *
    * Also emits a `low_diversity` flag by integer cross-multiply (top
    * character above 60% of all characters — no float ratio). Documents
    * with no characters report zero entropy, flag false.
    *
    * Scale shape: per-character explode → one (doc, char) hash
    * aggregation with map-side partials → one narrow per-doc
    * aggregation. No windows, no driver residency.
    */
  def charEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    def qln(x: Column): Column = round(log(x.cast("double")) * 1e6).cast("long")
    val perChar = df
      .select(col(idCol).as("doc"),
        explode(split(coalesce(col(textCol), lit("")), "")).as("ch"))
      .filter(col("ch") =!= "")
      .groupBy(col("doc"), col("ch")).agg(count(lit(1)).as("cnt"))
    val perDoc = perChar.groupBy(col("doc")).agg(
      sum(col("cnt")).as("n_chars"),
      count(lit(1)).as("n_distinct_chars"),
      max(col("cnt")).as("top_cnt"),
      sum(col("cnt") * qln(col("cnt"))).as("a6"))
    val stats = perDoc.select(col("doc"), col("n_chars"), col("n_distinct_chars"),
      (floor((col("n_chars") * qln(col("n_chars")) - col("a6")) / col("n_chars"))
        .cast("long") / 1e6).as("entropy_nats"),
      (col("top_cnt") * 10 > col("n_chars") * 6).as("low_diversity"))
    df.select(col(idCol).as("doc")).join(stats, Seq("doc"), "left")
      .select(col("doc"),
        coalesce(col("n_chars"), lit(0L)).as("n_chars"),
        coalesce(col("n_distinct_chars"), lit(0L)).as("n_distinct_chars"),
        coalesce(col("entropy_nats"), lit(0.0)).as("entropy_nats"),
        coalesce(col("low_diversity"), lit(false)).as("low_diversity"))
  }

  /** Unicode-script composition per document — the corpus-composition
    * screen beside language-ID (lang-ID says "probably Russian";
    * script counts say "37% of the characters aren't even Cyrillic" —
    * the mixed-script / mojibake / code-heavy signal Gopher-style
    * filters act on). Counts Latin, Cyrillic, digit, and whitespace
    * characters by subtractive regex (`len − len(strip(class))` — one
    * codegen projection, no explode) and reports each class's share in
    * micro units; `other` is the remainder (punctuation, CJK, emoji).
    *
    * Output `(doc, n_chars, latin, cyrillic, digit, whitespace, other,
    * latin_share_micro, cyrillic_share_micro, other_share_micro)`.
    * Null text counts as empty (all zero, shares 0). Exact integer
    * arithmetic — fully hash-oracled (both engines count regexp
    * replacements over characters, not bytes).
    *
    * Scale: a pure projection — zero shuffle beyond the caller's sink
    * ordering; linear in text length.
    */
  def scriptDistribution(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val tx = coalesce(col(textCol), lit(""))
    val n = length(tx).cast("long")
    def cnt(cls: String): Column =
      (n - length(regexp_replace(tx, cls, ""))).cast("long")
    df.select(col(idCol).as("doc"),
        n.as("n_chars"),
        cnt("[A-Za-z]").as("latin"),
        cnt("[А-Яа-яЁё]").as("cyrillic"),
        cnt("[0-9]").as("digit"),
        cnt("\\s").as("whitespace"))
      .withColumn("other",
        col("n_chars") - col("latin") - col("cyrillic") - col("digit") -
          col("whitespace"))
      .withColumn("latin_share_micro",
        when(col("n_chars") > 0L, expr("latin * 1000000 div n_chars"))
          .otherwise(lit(0L)))
      .withColumn("cyrillic_share_micro",
        when(col("n_chars") > 0L, expr("cyrillic * 1000000 div n_chars"))
          .otherwise(lit(0L)))
      .withColumn("other_share_micro",
        when(col("n_chars") > 0L, expr("other * 1000000 div n_chars"))
          .otherwise(lit(0L)))
  }

  /** fastText-shape linear quality classifier over hashed bag-of-words
    * features (the CCNet/fastText quality-classifier stage, reduced to
    * its engine-portable arithmetic): each non-empty normalized token
    * hashes into one of 2001 buckets ([[hashBucket]] — the hashing-trick
    * projection) and bucket b carries weight b in milli-units, centered
    * at 1000. A document's score is the mean token weight — emitted as
    * floored integer micro-units over the exact long sum — and the
    * positive label is mean > 1000, decided by integer cross-multiply
    * (`sum > 1000·n`), never a float ratio.
    *
    * A production model replaces the identity bucket→weight map with a
    * trained weight relation (dim rows, broadcast join); the plan shape —
    * explode → hash-projection → one narrow per-doc aggregation, all
    * codegen, map-side partials — is identical, which is what this
    * operator pins. Token-less documents score 0 with a negative label.
    */
  def classifierScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df
      .select(col(idCol).as("doc"),
        explode(graft.dedup.Dedup.tokensOf(col(textCol))).as("tok"))
      .filter(col("tok") =!= "")
      .select(col("doc"), hashBucket(col("tok"), 2001).as("w"))
    val perDoc = toks.groupBy(col("doc")).agg(
      count(lit(1)).as("n_tokens"),
      sum(col("w")).as("w_sum"))
    val scored = perDoc.select(col("doc"), col("n_tokens"),
      (floor((col("w_sum") * 1000000L) / col("n_tokens")).cast("long") / 1e6)
        .as("score_milli"),
      (col("w_sum") > col("n_tokens") * 1000L).as("keep"))
    df.select(col(idCol).as("doc")).join(scored, Seq("doc"), "left")
      .select(col("doc"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("score_milli"), lit(0.0)).as("score_milli"),
        coalesce(col("keep"), lit(false)).as("keep"))
  }

  /** Demo WordPiece vocabulary over the synthetic documents lexicon:
    * full words, split words (word-initial + `##` continuation pieces),
    * and a deliberate hole ("dup" has no pieces → `[UNK]`) so all three
    * tokenizer paths stay exercised. Shared by the q_wordpiece query and
    * its DuckDB oracle — the two sides must segment identically.
    */
  val WordpieceDemoVocab: Seq[String] = Seq(
    "a", "the", "table", "hash", "ha", "##sh", "part", "fast", "f", "##ast",
    "batch", "join", "key", "row", "data", "line", "value", "agg", "merge",
    "filter", "fil", "##ter", "ta", "##ble", "s", "##can", "##ort", "##low",
    "##mall", "##park", "##tream", "qu", "##ery", "b", "##ig", "c",
    "##olumn", "##ustomer", "gr", "##oup", "or", "##der", "vec", "##tor",
    "win", "##dow")

  /** Exact-phrase retrieval through a positional inverted index — the
    * corpus lookup a contamination audit or a quote-tracing pass runs
    * ("which training documents contain this benchmark sentence, and how
    * often"): postings `(term, doc, pos)` restricted to the query's
    * terms, then one equi-join per subsequent phrase word aligning
    * `pos + i`, then a per-doc count. Returns `(doc, hits)` for
    * documents with ≥ 1 occurrence; overlapping occurrences each count
    * (positions are distinct by construction).
    *
    * The plan IS the inverted-index story at 100 TB: the term filter
    * prunes the exploded postings BEFORE any shuffle (a phrase of rare
    * words touches a sliver of the index), every join is an equi-join on
    * `(doc, pos±i)` — hash-partitionable, no position explosion — and
    * the first word's postings drive the probe like a posting-list
    * intersection. Tokenization is [[graft.dedup.Dedup.tokensOf]] (the
    * dedup normalization), so phrase matching composes with the
    * fingerprint/dedup family's notion of a token. All-integer counts —
    * hash-oracles against a zipped-unnest SQL replica.
    */
  def phraseSearch(df: DataFrame, idCol: String, textCol: String,
      phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phraseSearch needs a non-empty phrase")
    val post = df
      .select(col(idCol).as("doc"),
        posexplode(graft.dedup.Dedup.tokensOf(col(textCol)))
          .as(Seq("pos", "term")))
      .filter(col("term").isin(phrase.distinct: _*))
      .persist()
    val heads = post.filter(col("term") === phrase.head)
      .select(col("doc"), col("pos"))
    val matched = phrase.zipWithIndex.drop(1)
      .foldLeft(heads) { case (acc, (w, i)) =>
        val pi = post.filter(col("term") === w)
          .select(col("doc").as("_ps_d"), col("pos").as("_ps_p"))
        acc.join(pi,
          col("doc") === col("_ps_d") &&
            col("pos") + lit(i) === col("_ps_p"), "left_semi")
      }
    matched.groupBy(col("doc")).agg(count(lit(1)).as("hits"))
  }

  /** Dictionary tagging via one Aho–Corasick pass ([[graft.expr
    * .AcFindAll]]): per (document, term), the occurrence count and first
    * 1-based character position of every dictionary term in the
    * NORMALIZED text (the dedup tokenization contract) — overlapping and
    * nested matches all counted ("scan" hits `scan`, `can`, and `an`).
    * The blocklist / PII-term-list / gazetteer primitive: cost is one
    * automaton pass per document REGARDLESS of dictionary size, where
    * the naive plan is |dict| regex passes over the corpus; the
    * automaton compiles once on the driver and ships as a codegen
    * reference object. Documents with no hit for a term are absent
    * (inner semantics — the tag relation, not a dense matrix).
    *
    * Terms are normalized with the SAME rule as the text (lowercase,
    * non-word → space, collapse, trim) before compiling the automaton —
    * the text side is normalizeText output, so an uppercase or
    * punctuated dictionary entry ("E-mail") would otherwise silently
    * never match. The output `term` column carries the CALLER'S
    * spelling — the first original term per normalized key, in
    * dictionary order, restored via a broadcast join over the
    * |dictionary|-row mapping — so results join back to the caller's
    * dictionary strings ("E-mail" comes back as "E-mail", not
    * "e mail"). Terms that normalize to the same string dedup into one
    * automaton entry; terms that normalize away entirely are rejected.
    */
  def dictionaryTag(df: DataFrame, idCol: String, textCol: String,
      terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "dictionaryTag needs a non-empty dictionary")
    // driver-side twin of Dedup.normalizeText (Locale.ROOT: no
    // locale-dependent case surprises; the corpus contract is ASCII)
    val firstOrig = scala.collection.mutable.LinkedHashMap.empty[String, String]
    for (t <- terms if t != null) {
      val n = t.toLowerCase(java.util.Locale.ROOT)
        .replaceAll("[^\\p{L}\\p{N}_\\s]", " ")
        .replaceAll("\\s+", " ").trim
      if (n.nonEmpty && !firstOrig.contains(n)) firstOrig(n) = t
    }
    require(firstOrig.nonEmpty,
      s"dictionaryTag: every term normalized to empty: $terms")
    val normed = firstOrig.keys.toSeq
    val mapping = df.sparkSession.createDataFrame(
      firstOrig.toSeq.map { case (n, o) => Tuple2(n, o) })
      .toDF("_norm", "term")
    df.select(col(idCol).as("doc"),
        explode(graft.GraftFunctions.acFindAll(
          graft.dedup.Dedup.normalizeText(col(textCol)), normed)).as("m"))
      .groupBy(col("doc"), col("m.term").as("_norm"))
      .agg(count(lit(1)).as("n_hits"),
        min(col("m.pos")).cast("long").as("first_pos"))
      .join(broadcast(mapping), "_norm")
      .select(col("doc"), col("term"), col("n_hits"), col("first_pos"))
  }

  /** Per-document n-gram novelty against a reference corpus — "how much
    * of this document is NEW text?" — the graded companion to the
    * binary contamination/decontamination pair (those flag ANY overlap
    * with a benchmark; this measures the novel fraction against any
    * standing corpus — dedup-pressure forecasting for an incremental
    * crawl, TEMPLATE detection when novelty ≈ 0, memorization screening
    * of generated data against its training source):
    *
    *   novelty = |shingles(doc) \\ shingles(ref)| / |shingles(doc)|
    *
    * Distinct word n-gram shingles on both sides (the dedup family's
    * shingle expression), counted by one left-semi equi-join — exact
    * integers, one integral micro division. Short docs collapse to the
    * whole-text shingle (the shingles contract), so every non-null doc
    * reports.
    *
    * Output: `(doc, n_grams, n_novel, novelty_micro)`.
    *
    * Scale: the shingle equi-join is the q_contamination shape —
    * broadcast the reference's distinct-shingle relation when it fits,
    * shuffle-join otherwise; never pairwise. Reference distinctness is
    * one hash aggregation with map-side partials.
    */
  def ngramNovelty(target: DataFrame, reference: DataFrame, idCol: String,
      textCol: String, n: Int = 3): DataFrame = {
    val tg = target.filter(col(textCol).isNotNull && col(idCol).isNotNull)
      .select(col(idCol).as("doc"),
        explode(graft.dedup.Dedup.shingles(col(textCol), n)).as("g"))
    val refs = reference.filter(col(textCol).isNotNull)
      .select(explode(graft.dedup.Dedup.shingles(col(textCol), n)).as("g"))
      .distinct()
    val sizes = tg.groupBy(col("doc")).agg(count(lit(1)).as("n_grams"))
    val matched = tg.join(refs, Seq("g"), "left_semi")
      .groupBy(col("doc")).agg(count(lit(1)).as("_nn_m"))
    sizes.join(matched, Seq("doc"), "left")
      .withColumn("n_novel",
        col("n_grams") - coalesce(col("_nn_m"), lit(0L)))
      .select(col("doc"), col("n_grams"), col("n_novel"),
        expr("(n_novel * 1000000) div n_grams").as("novelty_micro"))
  }

  /** Zipf rank–frequency fit per group — "is this corpus slice natural
    * language?" The token rank–frequency law (freq ∝ rank^s, s ≈ −1)
    * holds for organic text and breaks for boilerplate, spam and
    * machine-generated filler, so the fitted log–log slope is a corpus
    * health gate (and its drift across crawls a contamination signal).
    *
    * Token types aggregate to exact counts (the house normalize-split
    * tokens), rank is `row_number` by (freq desc, term asc) — a total
    * order, deterministic — and both coordinates quantize by the
    * micro-nat ln rule (`round(ln·10⁶)`, the charEntropy discipline).
    * The OLS slope then runs the [[graft.ops.Regression.linearTrend]]
    * cleared-denominator arithmetic on exact decimals:
    *
    *   s = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)    (dimensionless)
    *
    * reported as ONE integral micro division (both engines truncate
    * toward zero — the linearTrend pin). Groups with < 2 distinct ranks
    * report NULL slope.
    *
    * Output: `(group…, n_types, n_tokens, slope_micro)`.
    *
    * Scale: a full-data (group, term) hash aggregation with map-side
    * partials, then a rank window over |vocab| rows per group —
    * vocabulary-sized, not corpus-sized; the moment aggregation
    * re-shuffles only the vocab relation.
    */
  def zipfFit(df: DataFrame, groupCols: Seq[String],
      textCol: String): DataFrame = {
    require(groupCols.nonEmpty, "zipfFit needs group columns")
    val g = groupCols.map(col)
    val dec = "decimal(38,0)"
    val toks = df
      .select(g :+ explode(graft.dedup.Dedup.tokensOf(col(textCol)))
        .as("term"): _*)
      .filter(col("term") =!= "")
    val freq = toks.groupBy(g :+ col("term"): _*)
      .agg(count(lit(1)).as("_zf_f"))
    val rk = row_number().over(Window.partitionBy(g: _*)
      .orderBy(col("_zf_f").desc, col("term")))
    val pts = freq.withColumn("_zf_r", rk)
      .select(g ++ Seq(col("_zf_f"),
        round(log(col("_zf_r").cast("double")) * 1e6).cast("long")
          .as("_zf_x"),
        round(log(col("_zf_f").cast("double")) * 1e6).cast("long")
          .as("_zf_y")): _*)
    val agg = pts.groupBy(g: _*).agg(
      count(lit(1)).as("n_types"),
      sum(col("_zf_f")).as("n_tokens"),
      sum(col("_zf_x").cast(dec)).as("_zf_sx"),
      sum(col("_zf_y").cast(dec)).as("_zf_sy"),
      sum((col("_zf_x").cast(dec) * col("_zf_y")).cast(dec)).as("_zf_sxy"),
      sum((col("_zf_x").cast(dec) * col("_zf_x")).cast(dec)).as("_zf_sxx"))
    agg.select(g ++ Seq(col("n_types"), col("n_tokens"),
      when(expr(s"cast(n_types as $dec) * _zf_sxx - _zf_sx * _zf_sx") > 0L,
        expr(s"((cast(n_types as $dec) * _zf_sxy - _zf_sx * _zf_sy) " +
          s"* 1000000) div " +
          s"(cast(n_types as $dec) * _zf_sxx - _zf_sx * _zf_sx)")
          .cast("long")).as("slope_micro")): _*)
  }

  /** Vocabulary-growth audit (Heaps' law, |V| ≈ K·N^β) — the corpus
    * health curve that catches ingestion pathologies dedup can't see:
    * β collapsing toward 0 means new data stops bringing new vocabulary
    * (template/boilerplate floods); β near 1 means vocabulary explodes
    * (mojibake, serial numbers, encoding noise). Reports the cumulative
    * (docs, tokens, types) curve at `nCheckpoints` id-range checkpoints
    * plus the fitted log–log slope `beta_micro` (10⁻⁶ units) on every
    * row.
    *
    * Checkpoints are EQUAL-WIDTH doc-id ranges from the corpus min/max
    * id (two scalars) — never an ntile over the document relation (a
    * global sort at 100 TB). A type's checkpoint is where its FIRST
    * occurrence (min doc id) lands, so cumulative types = running sum
    * of per-checkpoint first-seen counts; empty id ranges simply don't
    * appear. The fit reuses the [[zipfFit]] arithmetic: micro-nat
    * quantized ln points, exact integer moment sums (≤ nCheckpoints
    * rows — longs suffice), one cleared-denominator integral division.
    *
    * Scale shape: one token explode feeding two hash aggregations
    * (per-doc counts, per-type min-doc), a 2-scalar broadcast for the
    * bucket arithmetic, then everything further runs on the
    * ≤ nCheckpoints-row relation (cumulative windows included). No
    * corpus-width windows, no driver loops.
    */
  def vocabGrowth(df: DataFrame, idCol: String, textCol: String,
      nCheckpoints: Int = 10): DataFrame = {
    require(nCheckpoints >= 2, "vocabGrowth needs >= 2 checkpoints")
    // The 1-row bounds and ≤ nCheckpoints-row cumulative relations
    // persist (r18): bounds feeds both bucket projections and cum feeds
    // both the Heaps fit and the final assembly — unpersisted, each
    // consumer re-ran the full token explode from its own corpus scan
    // (final plan showed 8 source scans; 3 is the floor — the id
    // min/max pass plus the two aggregation passes). Released via
    // clearCache, the session-wide contract.
    val ids = df.select(col(idCol).cast("long").as("doc"))
    val bounds = broadcast(ids.agg(min(col("doc")).as("_lo"),
      (max(col("doc")) - min(col("doc")) + 1L).as("_span")).persist())
    def bucket(c: String) = least(lit(nCheckpoints.toLong),
      lit(1L) + expr(s"(($c - _lo) * $nCheckpoints) div _span"))
    val toks = df.select(col(idCol).cast("long").as("doc"),
      filter(graft.dedup.Dedup.tokensOf(col(textCol)), t => t =!= "").as("_t"))
    val docTok = toks.select(col("doc"), size(col("_t")).cast("long").as("ntok"))
      .crossJoin(bounds)
      .select(bucket("doc").as("ck"), col("ntok"))
      .groupBy(col("ck")).agg(count(lit(1)).as("nd"), sum(col("ntok")).as("nt"))
    val firstSeen = toks.select(col("doc"), explode(col("_t")).as("w"))
      .groupBy(col("w")).agg(min(col("doc")).as("fd"))
      .crossJoin(bounds)
      .select(bucket("fd").as("ck"))
      .groupBy(col("ck")).agg(count(lit(1)).as("nw"))
    val w = Window.orderBy(col("ck"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = docTok.join(firstSeen, Seq("ck"), "left")
      .select(col("ck"), sum(col("nd")).over(w).as("cum_docs"),
        sum(col("nt")).over(w).as("cum_tokens"),
        sum(coalesce(col("nw"), lit(0L))).over(w).as("cum_types"))
      .persist()
    // Heaps fit: ln-ln OLS over the checkpoint rows with positive
    // counts; moment sums are exact longs (≤ nCheckpoints points).
    val dec = "decimal(38,0)"
    val pts = cum.filter(col("cum_tokens") > 0L && col("cum_types") > 0L)
      .select(
        round(log(col("cum_tokens").cast("double")) * 1e6).cast("long").as("x"),
        round(log(col("cum_types").cast("double")) * 1e6).cast("long").as("y"))
    val fit = broadcast(pts.agg(count(lit(1)).as("k"),
        sum(col("x").cast(dec)).as("sx"), sum(col("y").cast(dec)).as("sy"),
        sum((col("x").cast(dec) * col("y").cast(dec)).cast(dec)).as("sxy"),
        sum((col("x").cast(dec) * col("x").cast(dec)).cast(dec)).as("sxx"))
      .select(when(expr(s"cast(k as $dec) * sxx - sx * sx") > 0L,
        expr(s"((cast(k as $dec) * sxy - sx * sy) * 1000000) div " +
          s"(cast(k as $dec) * sxx - sx * sx)").cast("long"))
        .as("beta_micro")))
    cum.crossJoin(fit)
      .select(col("ck"), col("cum_docs"), col("cum_tokens"),
        col("cum_types"), col("beta_micro"))
  }

  /** Corpus-level BLEU (Papineni '02 §2) per group — the generation-eval
    * score every distillation / paraphrase / translation pipeline
    * publishes: modified n-gram precision for n = 1..`maxN` with
    * per-pair clipping (a candidate n-gram counts at most as often as
    * it appears in its reference), summed over the group BEFORE the
    * ratio (corpus BLEU, not averaged sentence BLEU), plus the brevity
    * penalty on total lengths.
    *
    * Determinism: everything is exact integer counts until four ln
    * calls on exact-integer ratios (bit-identical IEEE quotients, then
    * the round·1e6 micro-nat rule), one floor of a ÷4.0 quotient, and
    * an exact ceil-division brevity penalty — so the report
    * hash-oracles. The score stays in LOG micro-nats (`bleu_lmicro` =
    * 10⁶·ln BLEU ≤ 0; exp() is libm-dependent — the caller exponentiates
    * for display). Groups where some precision is zero report NULL
    * `bleu_lmicro` (log undefined — the standard smoothing decision is
    * the caller's).
    *
    * Input: one row per (candidate, reference) pair; `idCol` names the
    * pair. Output per group: pair count, total token lengths, per-n
    * clipped matches `m_n` / candidate totals `t_n`, `bp_lmicro`
    * (10⁶·min(0, 1−r/c)) and `bleu_lmicro`.
    *
    * Scale shape: tokenize once per side (persisted), n-grams with
    * multiplicity via zip-slice projections (never positional
    * self-joins), one (pair, n, gram) equi-join, then group-sized
    * aggregations — no windows, no driver state, group cardinality out.
    */
  def bleuCorpus(pairs: DataFrame, groupCol: String, idCol: String,
      candCol: String, refCol: String, maxN: Int = 4): DataFrame = {
    require(maxN >= 1 && maxN <= 8, "bleuCorpus needs 1 <= maxN <= 8")
    // ONE lazy persist holding BOTH sides' token arrays (r18: the two
    // per-side persists each rebuilt their cache from a separate scan of
    // the source — final plan showed 2 corpus scans; tokenizing cand and
    // ref in the same projection halves that to 1, caching the same
    // bytes). Each side is then a projection over the cached frame,
    // feeding maxN gram projections + the length aggregation. The blocks
    // stay registered until spark.catalog.clearCache() — the session-wide
    // release contract (minhashLshPairs/cosinePairs discipline; the
    // Bench harness clears between queries). Callers looping over many
    // corpora should clearCache between calls.
    def toks(c: String) =
      filter(graft.dedup.Dedup.tokensOf(col(c)), t => t =!= "")
    val tok = pairs.select(col(groupCol).as("grp"), col(idCol).as("pid"),
        toks(candCol).as("_tc"), toks(refCol).as("_tr"))
      .persist()
    val ctk = tok.select(col("grp"), col("pid"), col("_tc").as("_t"))
    val rtk = tok.select(col("grp"), col("pid"), col("_tr").as("_t"))
    // n-grams WITH multiplicity (wordShingles is distinct-per-doc —
    // wrong tool here): zip n aliased slices, concat_ws in order.
    def gramCounts(side: DataFrame, cntName: String) =
      (1 to maxN).map { n =>
        val sliced = (0 until n).map(j =>
          slice(col("_t"), lit(j + 1), size(col("_t")) - (n - 1)).as(s"g$j"))
        side.filter(size(col("_t")) >= n)
          .select(Seq(col("grp"), col("pid")) ++ sliced: _*)
          .select(col("grp"), col("pid"),
            explode(arrays_zip((0 until n).map(j => col(s"g$j")): _*)).as("z"))
          .select(col("grp"), col("pid"), lit(n).as("n"),
            concat_ws(" ", (0 until n).map(j => col(s"z.g$j")): _*).as("gram"))
      }.reduce(_ unionAll _)
        .groupBy(col("grp"), col("pid"), col("n"), col("gram"))
        .agg(count(lit(1)).as(cntName))
    val joined = gramCounts(ctk, "ccnt")
      .join(gramCounts(rtk, "rcnt").drop("grp"), Seq("pid", "n", "gram"), "left")
    val perN = joined.groupBy(col("grp"), col("n")).agg(
      sum(col("ccnt")).as("tot"),
      sum(least(col("ccnt"), coalesce(col("rcnt"), lit(0L)))).as("mat"))
    val wcols = (1 to maxN).flatMap(i => Seq(
      coalesce(sum(when(col("n") === i, col("mat"))), lit(0L)).as(s"m_$i"),
      coalesce(sum(when(col("n") === i, col("tot"))), lit(0L)).as(s"t_$i")))
    val wide = perN.groupBy(col("grp")).agg(wcols.head, wcols.tail: _*)
    val lens = ctk.groupBy(col("grp")).agg(
        count(lit(1)).as("n_pairs"), sum(size(col("_t"))).cast("long").as("cand_len"))
      .join(rtk.groupBy(col("grp"))
        .agg(sum(size(col("_t"))).cast("long").as("ref_len")), Seq("grp"))
    val c = col("cand_len"); val r = col("ref_len")
    val bp = when(c >= r, lit(0L))
      .otherwise(-expr("((ref_len - cand_len) * 1000000 + cand_len - 1) div cand_len"))
    def qln(i: Int) =
      round(log(col(s"m_$i").cast("double") / col(s"t_$i").cast("double")) * 1e6)
        .cast("long")
    val allPos = (1 to maxN).map(i => col(s"m_$i") > 0L).reduce(_ && _) && c > 0L
    val sumQln = (1 to maxN).map(qln).reduce(_ + _)
    lens.join(wide, Seq("grp"), "left")
      .select(Seq(col("grp").as(groupCol), col("n_pairs"), c, r) ++
        (1 to maxN).flatMap(i =>
          Seq(coalesce(col(s"m_$i"), lit(0L)).as(s"m_$i"),
            coalesce(col(s"t_$i"), lit(0L)).as(s"t_$i"))) ++ Seq(
        when(c > 0L, bp).as("bp_lmicro"),
        when(allPos, bp + floor(sumQln / lit(maxN.toDouble)).cast("long"))
          .as("bleu_lmicro")): _*)
  }
}
