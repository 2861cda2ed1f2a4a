package graft

/** DuckDB-dialect oracle SQL, one statement per entry in
  * [[SparkEntry.queries]] (omissions = operators that get the driver's
  * rows-only check: the approximate family — minhash-LSH, simhash,
  * payload near-dup, ANN-LSH/IVF/PQ, SemDeDup, approx_distinct — plus
  * clean_text (DuckDB has no NFKC) and the mapPartitions image decode).
  *
  * Dialect porting rules applied throughout (Java regex → RE2):
  *  - every regexp_replace carries the 'g' flag (Spark replaces all
  *    occurrences; DuckDB defaults to first-only);
  *  - `(?U)\w` has no RE2 equivalent → both sides spell the class
  *    explicitly as `[\p{L}\p{N}_]`;
  *  - lookaround (`(?<=\d)\s+(?=\d)`, `(См\.)\s*(?=\S)`) is unsupported in
  *    RE2 → capture-group consume-and-restore rewrites, applied twice
  *    where a single pass could leave alternating matches behind;
  *  - integer aggregates are CAST to BIGINT (DuckDB widens int sums to
  *    INT128; Spark uses long) so result schemas line up;
  *  - regexp_count ≙ len(regexp_extract_all(...)).
  */
object OracleSql {

  /** Mirror of SparkEntry.registryView. */
  private val registry =
    """registry AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 17 = 0 THEN 'Name: footer'
      |         WHEN doc_id % 3 = 0 THEN '№' || lpad(CAST(doc_id AS VARCHAR), 4, '0') || '/ТЗ'
      |         ELSE '' END AS reg_num,
      |    CASE WHEN doc_id % 11 = 0 THEN text || ' исключен' ELSE text END AS text,
      |    source
      |  FROM documents)""".stripMargin

  private val exclusionRegex =
    """(?:^|[^а-я])и\s*с\s*к\s*л\s*ю\s*ч\s*е\s*н(?:$|[^а-я])"""

  private val newRecordRegex = """^(№?\d{4,})(/ТЗ.*)?"""

  /** Shared monthly-quantity-per-brand series (SparkEntry
    * .monthlyBrandQty) for the q_theil_sen / q_mann_kendall trend pair.
    */
  private val monthlyBrandCte: String =
    """SELECT p_brand AS g,
      |    year(l_shipdate) * 12 + month(l_shipdate) AS x,
      |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS y
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  GROUP BY 1, 2""".stripMargin

  /** Shared CTE chain for the power-iteration PCA family
    * (q_pca_power, q_remove_top): quantized embeddings, exact HUGEINT
    * scatter matrix, 8 unrolled fixed-point iterations ending in `v8`;
    * also exposes `e` (per-dim rows) for downstream projections.
    *
    * Every CTE is declared `AS MATERIALIZED`: without the hint DuckDB
    * re-inlines each `v_k`'s whole upstream subtree (qz/e/pp/c) into
    * every downstream reference, which is exponential in the iteration
    * count — measured 517 s for q_remove_top at sf0.01 vs 0.3 s
    * materialized (identical results; the hint changes evaluation
    * order only).
    */
  private def pcaPowerCtes: String = {
    val steps = (1 to 8).map { t =>
      s"""w$t AS MATERIALIZED (
         |  SELECT c.i, sum(c.c * v.v) AS w
         |  FROM c JOIN v${t - 1} v ON c.j = v.i GROUP BY c.i),
         |m$t AS MATERIALIZED (SELECT max(abs(w)) AS m FROM w$t),
         |v$t AS MATERIALIZED (
         |  SELECT i, CASE WHEN m = 0 THEN CAST(0 AS HUGEINT)
         |    ELSE (w * 1000000 - (((w * 1000000) % m) + m) % m) // m
         |  END AS v
         |  FROM w$t, m$t)""".stripMargin
    }.mkString(",\n")
    s"""qz AS MATERIALIZED (
       |  SELECT vec_id AS id, list_transform(embedding,
       |    x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
       |  FROM embeddings),
       |e AS MATERIALIZED (
       |  SELECT id, unnest(generate_series(1, len(v))) AS i,
       |    unnest(v) AS q
       |  FROM qz),
       |ds AS MATERIALIZED (
       |  SELECT i, CAST(sum(q) AS HUGEINT) AS s,
       |    CAST(count(*) AS HUGEINT) AS n
       |  FROM e GROUP BY i),
       |pp AS MATERIALIZED (
       |  SELECT a.i AS i, b.i AS j, CAST(sum(a.q * b.q) AS HUGEINT) AS p
       |  FROM e a JOIN e b ON a.id = b.id GROUP BY 1, 2),
       |c AS MATERIALIZED (
       |  SELECT pp.i, pp.j, da.n * pp.p - da.s * db.s AS c
       |  FROM pp JOIN ds da ON pp.i = da.i JOIN ds db ON pp.j = db.i),
       |v0 AS MATERIALIZED (SELECT i, CAST(1000000 AS HUGEINT) AS v FROM ds),
       |$steps""".stripMargin
  }

  /** Dedup/fingerprint text normalization (Dedup.normalizeText). */
  private def norm(c: String): String =
    s"""trim(regexp_replace(regexp_replace(lower(coalesce($c, '')), '[^\\p{L}\\p{N}_\\s]', ' ', 'g'), '\\s+', ' ', 'g'))"""

  /** Shared BPE training chain (q_bpe_train, q_bpe_encode): word-type
    * counts off the documents corpus, char-split positional state st0,
    * then `n` unrolled merge steps. Step k elects the best pair b_k
    * (max summed count, overlaps included, lexicographic (l, r)
    * tie-break) and rewrites the state: match positions (kp_k, greedy
    * island parity), consumed rights dropped, positions renumbered.
    * The engine stops early under its best-count < minCount guard; the
    * oracle unrolls unconditionally, so the registered nMerges must
    * leave every elected count ≥ minCount at every shipped SF (the
    * 8th-best pair count is ≥ 1831 at sf0.01 — verified, nowhere near
    * the minCount = 2 floor).
    */
  private def bpeCtes(n: Int): String = {
    val steps = (1 to n).map { k =>
      val p = k - 1
      s"""pr$k AS MATERIALIZED (
         |  SELECT a.sym AS l, b.sym AS r, CAST(sum(a.cnt) AS BIGINT) AS c
         |  FROM st$p a JOIN st$p b ON a.w = b.w AND b.pos = a.pos + 1
         |  GROUP BY 1, 2),
         |b$k AS MATERIALIZED (
         |  SELECT l, r, c FROM pr$k ORDER BY c DESC, l, r LIMIT 1),
         |mt$k AS MATERIALIZED (
         |  SELECT a.w, a.pos FROM st$p a
         |  JOIN st$p b ON a.w = b.w AND b.pos = a.pos + 1
         |  JOIN b$k x ON a.sym = x.l AND b.sym = x.r),
         |kp$k AS MATERIALIZED (
         |  SELECT w, pos FROM (
         |    SELECT w, pos, pos - min(pos) OVER (PARTITION BY w, isl) AS off FROM (
         |      SELECT w, pos, pos - row_number() OVER (PARTITION BY w ORDER BY pos) AS isl
         |      FROM mt$k))
         |  WHERE off % 2 = 0),
         |st$k AS MATERIALIZED (
         |  SELECT w, cnt, row_number() OVER (PARTITION BY w ORDER BY opos) AS pos, sym
         |  FROM (
         |    SELECT s.w, s.cnt, s.pos AS opos,
         |      CASE WHEN k1.pos IS NOT NULL THEN (SELECT l || r FROM b$k)
         |        ELSE s.sym END AS sym
         |    FROM st$p s
         |    LEFT JOIN kp$k k1 ON s.w = k1.w AND s.pos = k1.pos
         |    LEFT JOIN kp$k k2 ON s.w = k2.w AND s.pos = k2.pos + 1
         |    WHERE k2.pos IS NULL))""".stripMargin
    }.mkString(",\n")
    s"""docs AS MATERIALIZED (
       |  SELECT doc_id AS doc, ${norm("text")} AS nt FROM documents),
       |docw AS MATERIALIZED (
       |  SELECT doc, unnest(generate_series(1, len(str_split(nt, ' ')))) AS wpos,
       |    unnest(str_split(nt, ' ')) AS w
       |  FROM docs WHERE nt != ''),
       |words AS MATERIALIZED (
       |  SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM docw WHERE w != '' GROUP BY w),
       |st0 AS MATERIALIZED (
       |  SELECT w, cnt, unnest(generate_series(1, len(w))) AS pos,
       |    unnest(str_split(w, '')) AS sym
       |  FROM words),
       |$steps""".stripMargin
  }

  /** Shared FNV-1a/SimHash CTE chain for the simhash family
    * (q_dedup_simhash, q_payload_near_dup): expects a `tk(doc, tok, c)`
    * relation upstream (token bag with multiplicities) and yields
    * `fp(doc, f)` — the SAME 64-bit fingerprint as the engine's
    * SimHash64 expression (FNV-1a offset basis/prime over the token's
    * bytes; ±1 per bit position weighted by multiplicity; sign bit
    * handled as two's complement).
    *
    * FNV runs per DISTINCT token (dt/hh) — the corpus vocabulary is far
    * smaller than the token stream. The byte fold emulates 64-bit
    * wrapping arithmetic in HUGEINT: xor touches only the low 8 bits
    * (bytes < 256), multiply fits 104 bits, then mod 2⁶⁴. unicode(ch)
    * == UTF-8 byte only for ASCII — valid here because the documents
    * corpus is verified pure-ASCII at every SF (the clean_text oracle's
    * check); empty tokens are guarded (unicode('') is -1 in DuckDB).
    */
  private def simhashFpCtes: String =
    """dt AS MATERIALIZED (SELECT DISTINCT tok FROM tk),
      |hh AS MATERIALIZED (
      |  SELECT tok,
      |    list_reduce(
      |      list_prepend(CAST('14695981039346656037' AS HUGEINT),
      |        list_transform(
      |          list_filter(str_split(tok, ''), ch -> ch <> ''),
      |          ch -> CAST(unicode(ch) AS HUGEINT))),
      |      (h, b) -> ((h - (h % 256) +
      |          CAST(xor(CAST(h % 256 AS BIGINT), CAST(b AS BIGINT))
      |            AS HUGEINT))
      |        * CAST(1099511628211 AS HUGEINT))
      |        % CAST('18446744073709551616' AS HUGEINT)
      |    ) AS hv
      |  FROM dt),
      |bits AS (
      |  SELECT tk.doc, b.b AS bit,
      |    sum(tk.c * CASE WHEN (hh.hv // (CAST(1 AS HUGEINT) << b.b)) % 2 = 1
      |      THEN 1 ELSE -1 END) AS acc
      |  FROM tk JOIN hh ON tk.tok = hh.tok
      |  CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS b) b
      |  GROUP BY 1, 2),
      |fp AS MATERIALIZED (
      |  SELECT doc,
      |    CAST(sum(CASE WHEN acc > 0 THEN
      |      CASE WHEN bit = 63 THEN CAST('-9223372036854775808' AS HUGEINT)
      |           ELSE (CAST(1 AS HUGEINT) << bit) END
      |      ELSE 0 END) AS BIGINT) AS f
      |  FROM bits GROUP BY 1)""".stripMargin

  /** TextAnalysis.langScore as RE2 count. */
  private def langScore(c: String, words: Seq[String]): String =
    s"""CAST(len(regexp_extract_all(lower(coalesce($c, '')), '${words.mkString("\\b(", "|", ")\\b")}')) AS BIGINT)"""

  /** Shared CTE chain computing exact n-gram Jaccard scores (the naive
    * all-pairs form — the engine's prefix-filtered version must equal it).
    */
  private def ngramCtes: String =
    s"""toks AS (
       |  SELECT doc_id AS doc, str_split(${norm("text")}, ' ') AS t FROM documents),
       |sh AS (
       |  SELECT doc, list_distinct(CASE WHEN len(t) >= 3
       |    THEN [array_to_string(t[i:i+2], ' ') FOR i IN generate_series(1, len(t) - 2)]
       |    ELSE [array_to_string(t, ' ')] END) AS shs
       |  FROM toks),
       |ex AS (SELECT doc, unnest(shs) AS s FROM sh),
       |sizes AS (SELECT doc, count(*) AS n_sh FROM ex GROUP BY doc),
       |common AS (
       |  SELECT a.doc AS id_a, b.doc AS id_b, count(*) AS n_common
       |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc < b.doc
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT id_a, id_b,
       |    CAST(n_common AS DOUBLE) / CAST(za.n_sh + zb.n_sh - n_common AS DOUBLE) AS jaccard
       |  FROM common
       |  JOIN sizes za ON id_a = za.doc
       |  JOIN sizes zb ON id_b = zb.doc)""".stripMargin

  /** Shared CTE chain for the Fellegi–Sunter linkage family: sorted-
    * neighborhood blocking over customer (row_number replica, window 3
    * on c_name), pair join-back, and per-field levenshtein CASE weights
    * summed as exact longs into `sc(a, b, score_micro)`.
    */
  private def linkageCtes: String =
    """lr AS (
      |  SELECT c_custkey, row_number() OVER (
      |    ORDER BY c_name, c_custkey) AS rnk
      |  FROM customer),
      |lp AS (
      |  SELECT x.c_custkey AS a, y.c_custkey AS b
      |  FROM lr x JOIN lr y ON y.rnk > x.rnk AND y.rnk - x.rnk <= 3),
      |lj AS (
      |  SELECT lp.a, lp.b,
      |    ka.c_name AS an, kb.c_name AS bn,
      |    ka.c_mktsegment AS asg, kb.c_mktsegment AS bsg,
      |    CAST(ka.c_nationkey AS VARCHAR) AS ank,
      |    CAST(kb.c_nationkey AS VARCHAR) AS bnk
      |  FROM lp
      |  JOIN customer ka ON lp.a = ka.c_custkey
      |  JOIN customer kb ON lp.b = kb.c_custkey),
      |sc AS (
      |  SELECT a, b,
      |    (CASE WHEN an IS NULL OR bn IS NULL THEN 0
      |      WHEN levenshtein(an, bn) <= 1 THEN 2000000 ELSE -1500000 END
      |    + CASE WHEN asg IS NULL OR bsg IS NULL THEN 0
      |      WHEN levenshtein(asg, bsg) <= 1 THEN 1000000 ELSE -400000 END
      |    + CASE WHEN ank IS NULL OR bnk IS NULL THEN 0
      |      WHEN levenshtein(ank, bnk) <= 1 THEN 800000 ELSE -200000 END)
      |    AS score_micro
      |  FROM lj)""".stripMargin

  /** First-4-hex-chars md5 → int (CorpusAssembly.seededBucket /
    * TextAnalysis.hashBucket); DuckDB has no conv(x, 16, 10) so it is
    * spelled as strpos arithmetic over the hex column named by `hx`.
    */
  private def hex4(hx: String): String =
    s"""((strpos('0123456789abcdef', substr($hx, 1, 1)) - 1) * 4096 +
       | (strpos('0123456789abcdef', substr($hx, 2, 1)) - 1) * 256 +
       | (strpos('0123456789abcdef', substr($hx, 3, 1)) - 1) * 16 +
       | (strpos('0123456789abcdef', substr($hx, 4, 1)) - 1))""".stripMargin

  /** n-hex-char string → BIGINT (hex4's generalization for the HLL's
    * 3-char register / 10-char rank-bits addresses).
    */
  private def hexN(hx: String, n: Int): String =
    "(" + (0 until n).map { i =>
      val mult = math.pow(16, n - 1 - i).toLong
      val term = s"(strpos('0123456789abcdef', substr($hx, ${i + 1}, 1)) - 1)"
      if (mult == 1L) term else s"$term * CAST($mult AS BIGINT)"
    }.mkString(" +\n ") + ")"

  /** IVF top-k, FULLY replayed (q_ann_ivf at 16/4, q_ann_ivf_joined at
    * 64/16 — the literal-projection and broadcast-join engine paths
    * share every tiebreak and every double, so one statement serves
    * both): the seeded-md5 training sample, the id-strided seed
    * centroids, BOTH Lloyd iterations (exact integer dots, avg over
    * exact-representable double sums, floor(x+0.5) for Scala's
    * math.round half-up), the final full-corpus cell assignment, the
    * nprobe probe ranking, and the exact re-ranking — every double is
    * one fixed IEEE expression over exact integers, so both engines
    * agree bit-for-bit. Assumes the sample holds >= nCells vectors
    * (engine falls back to full-corpus training below that — outside
    * this statement's domain; sample sizes 262/262/1057 at shipped
    * SFs). Shapes: ~|corpus|·nCells·dim joined rows per assignment.
    */
  private def ivfOracleSql(nCells: Int, nprobe: Int): String =
    s"""WITH ${ivfCellCtes(nCells)},
       |probes AS MATERIALIZED (
       |  SELECT id AS query_id, cid FROM (
       |    SELECT id, cid,
       |      row_number() OVER (PARTITION BY id ORDER BY sim DESC, cid ASC) AS rk
       |    FROM simf WHERE id < 10) WHERE rk <= $nprobe),
       |cand AS MATERIALIZED (
       |  SELECT p.query_id, t.id AS neighbor_id
       |  FROM probes p JOIN asgf t ON t.cid = p.cid AND t.id <> p.query_id),
       |cdot AS MATERIALIZED (
       |  SELECT c.query_id, c.neighbor_id, sum(eq.x * en.x) AS dt
       |  FROM cand c
       |  JOIN ex eq ON eq.id = c.query_id
       |  JOIN ex en ON en.id = c.neighbor_id AND en.dim = eq.dim
       |  GROUP BY 1, 2),
       |sc AS (
       |  SELECT d.query_id, d.neighbor_id,
       |    CASE WHEN qv.vn * nv.vn = 0 THEN NULL
       |         ELSE CAST(d.dt AS DOUBLE) / (qv.vn * nv.vn) END AS cosine
       |  FROM cdot d
       |  JOIN vn qv ON qv.id = d.query_id
       |  JOIN vn nv ON nv.id = d.neighbor_id),
       |rnk AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC NULLS LAST, neighbor_id) AS rk
       |  FROM sc)
       |SELECT query_id, neighbor_id, CAST(rk AS BIGINT) AS rank, cosine
       |FROM rnk WHERE rk <= 5
       |ORDER BY query_id, rank""".stripMargin

  /** The shared IVF cell chain: seeded-md5 sample, id-strided seeds,
    * two unrolled Lloyd iterations, and the final full-corpus argmax —
    * ending at `asgf(id, cid, sim)` / `simf(id, cid, sim)` with `ex`,
    * `vn`, `q0` still in scope for consumers' own tails (the ANN probe
    * ranking, semdedup's intra-cell edges).
    */
  private def ivfCellCtes(nCells: Int): String = {
    // one Lloyd step: score members against prevC, argmax per id
    // (sim DESC, cid ASC — the engine's max-struct tiebreak), then
    // per-(cid, dim) rounded means as the next centroid table
    def lloyd(i: Int, prevC: String, outC: String): String =
      s"""cn$i AS (SELECT cid, sqrt(CAST(sum(c*c) AS DOUBLE)) AS cn
         |  FROM $prevC GROUP BY cid),
         |dt$i AS MATERIALIZED (
         |  SELECT e.id, c.cid, sum(e.x * c.c) AS dt
         |  FROM exs e JOIN $prevC c ON c.dim = e.dim
         |  GROUP BY 1, 2),
         |sim$i AS (
         |  SELECT d.id, d.cid,
         |    CASE WHEN vn.vn * cn.cn = 0 THEN -2.0
         |         ELSE CAST(d.dt AS DOUBLE) / (vn.vn * cn.cn) END AS sim
         |  FROM dt$i d JOIN vn ON vn.id = d.id JOIN cn$i cn ON cn.cid = d.cid),
         |asg$i AS MATERIALIZED (
         |  SELECT id, cid FROM (
         |    SELECT id, cid,
         |      row_number() OVER (PARTITION BY id ORDER BY sim DESC, cid ASC) AS rk
         |    FROM sim$i) WHERE rk = 1),
         |$outC AS MATERIALIZED (
         |  SELECT a.cid, e.dim,
         |    CAST(floor(avg(CAST(e.x AS DOUBLE)) + 0.5) AS BIGINT) AS c
         |  FROM asg$i a JOIN exs e ON e.id = a.id
         |  GROUP BY 1, 2)""".stripMargin
    s"""q0 AS MATERIALIZED (
       |  SELECT vec_id AS id, list_transform(embedding,
       |    x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
       |  FROM embeddings),
       |ex AS MATERIALIZED (
       |  SELECT id, unnest(generate_series(1, len(v))) AS dim,
       |    unnest(v) AS x
       |  FROM q0),
       |vn AS MATERIALIZED (
       |  SELECT id, sqrt(CAST(sum(x*x) AS DOUBLE)) AS vn
       |  FROM ex GROUP BY id),
       |samp AS MATERIALIZED (
       |  SELECT id FROM (
       |    SELECT id, md5('ivf-train:' || CAST(id AS VARCHAR)) AS hx FROM q0)
       |  WHERE ${hex4("hx")} % 10000 < 5000),
       |exs AS MATERIALIZED (
       |  SELECT ex.* FROM ex JOIN samp USING (id)),
       |st AS (SELECT greatest(1, count(*) // $nCells) AS stride FROM samp),
       |seeds AS MATERIALIZED (
       |  SELECT row_number() OVER (ORDER BY s.id) - 1 AS cid, s.id
       |  FROM samp s, st WHERE s.id % st.stride = 0
       |  ORDER BY s.id LIMIT $nCells),
       |c0 AS MATERIALIZED (
       |  SELECT sd.cid, e.dim, e.x AS c
       |  FROM seeds sd JOIN ex e ON e.id = sd.id),
       |${lloyd(1, "c0", "c1")},
       |${lloyd(2, "c1", "c2")},
       |cnf AS (SELECT cid, sqrt(CAST(sum(c*c) AS DOUBLE)) AS cn
       |  FROM c2 GROUP BY cid),
       |dtf AS MATERIALIZED (
       |  SELECT e.id, c.cid, sum(e.x * c.c) AS dt
       |  FROM ex e JOIN c2 c ON c.dim = e.dim
       |  GROUP BY 1, 2),
       |simf AS MATERIALIZED (
       |  SELECT d.id, d.cid,
       |    CASE WHEN vn.vn * cn.cn = 0 THEN -2.0
       |         ELSE CAST(d.dt AS DOUBLE) / (vn.vn * cn.cn) END AS sim
       |  FROM dtf d JOIN vn ON vn.id = d.id JOIN cnf cn ON cn.cid = d.cid),
       |asgf AS MATERIALIZED (
       |  SELECT id, cid, sim FROM (
       |    SELECT id, cid, sim,
       |      row_number() OVER (PARTITION BY id ORDER BY sim DESC, cid ASC) AS rk
       |    FROM simf) WHERE rk = 1)""".stripMargin
  }

  /** PQ (product-quantization) ADC top-k replica — the full pipeline:
    * seeded-md5 training sample ('pq-train', fraction via 16-bit md5
    * bucket), id-strided seed slices shared across subspaces, two Lloyd
    * iterations with the L2 argmin's |c|²−2·c·x scores (exact BIGINT
    * dots, ties to the lowest code), empty-cell dense re-indexing (the
    * engine's toBooks), corpus encoding, ADC scoring through
    * reconstruction norms with the refine·k cut, and the exact cosine
    * re-rank. Every double is one fixed IEEE expression over
    * exact-representable integers, so engines agree bit-for-bit.
    * Assumes the sample holds >= ks vectors and the stride hits >= 1 id
    * (holds at all shipped SFs; the engine falls back below that).
    */
  private def pqOracleSql(m: Int, ks: Int, sub: Int, refine: Int,
      k: Int, trainPermille10k: Int): String = {
    // one Lloyd step over the (mm, cid, pos, c) codebook relation
    def lloyd(i: Int, prevB: String, outB: String): String =
      s"""bn$i AS (SELECT mm, cid, sum(c*c) AS n2 FROM $prevB GROUP BY 1, 2),
         |sd$i AS MATERIALIZED (
         |  SELECT e.id, e.mm, b.cid, sum(e.x * b.c) AS dt
         |  FROM exm e JOIN samp USING (id)
         |  JOIN $prevB b ON b.mm = e.mm AND b.pos = e.pos
         |  GROUP BY 1, 2, 3),
         |as$i AS MATERIALIZED (
         |  SELECT id, mm, cid FROM (
         |    SELECT d.id, d.mm, d.cid,
         |      row_number() OVER (PARTITION BY d.id, d.mm
         |        ORDER BY CAST(n.n2 AS DOUBLE) - 2.0 * CAST(d.dt AS DOUBLE) ASC,
         |          d.cid ASC) AS rk
         |    FROM sd$i d JOIN bn$i n ON n.mm = d.mm AND n.cid = d.cid)
         |  WHERE rk = 1),
         |mu$i AS MATERIALIZED (
         |  SELECT a.mm, a.cid, e.pos,
         |    CAST(floor(avg(CAST(e.x AS DOUBLE)) + 0.5) AS BIGINT) AS c
         |  FROM as$i a JOIN exm e ON e.id = a.id AND e.mm = a.mm
         |  GROUP BY 1, 2, 3),
         |$outB AS MATERIALIZED (
         |  SELECT mm, dense_rank() OVER (PARTITION BY mm ORDER BY cid) - 1
         |    AS cid, pos, c
         |  FROM mu$i)""".stripMargin
    s"""WITH q0 AS MATERIALIZED (
       |  SELECT vec_id AS id, list_transform(embedding,
       |    x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
       |  FROM embeddings),
       |ex AS MATERIALIZED (
       |  SELECT id, unnest(generate_series(1, len(v))) AS dim,
       |    unnest(v) AS x
       |  FROM q0),
       |exm AS MATERIALIZED (
       |  SELECT id, (dim - 1) // $sub AS mm,
       |    (dim - 1) % $sub + 1 AS pos, x
       |  FROM ex),
       |vn AS MATERIALIZED (
       |  SELECT id, sqrt(CAST(sum(x*x) AS DOUBLE)) AS vn
       |  FROM ex GROUP BY id),
       |samp AS MATERIALIZED (
       |  SELECT id FROM (
       |    SELECT id, md5('pq-train:' || CAST(id AS VARCHAR)) AS hx FROM q0)
       |  WHERE ${hex4("hx")} % 10000 < $trainPermille10k),
       |st AS (SELECT greatest(1, count(*) // $ks) AS stride FROM samp),
       |sids AS MATERIALIZED (
       |  SELECT row_number() OVER (ORDER BY s.id) - 1 AS cid, s.id
       |  FROM samp s, st WHERE s.id % st.stride = 0
       |  ORDER BY s.id LIMIT $ks),
       |b0 AS MATERIALIZED (
       |  SELECT e.mm, s.cid, e.pos, e.x AS c
       |  FROM sids s JOIN exm e ON e.id = s.id),
       |${lloyd(1, "b0", "b1")},
       |${lloyd(2, "b1", "b2")},
       |bnf AS MATERIALIZED (
       |  SELECT mm, cid, sum(c*c) AS n2 FROM b2 GROUP BY 1, 2),
       |cdf AS MATERIALIZED (
       |  SELECT e.id, e.mm, b.cid, sum(e.x * b.c) AS dt
       |  FROM exm e JOIN b2 b ON b.mm = e.mm AND b.pos = e.pos
       |  GROUP BY 1, 2, 3),
       |codes AS MATERIALIZED (
       |  SELECT id, mm, cid, n2, dt FROM (
       |    SELECT d.id, d.mm, d.cid, n.n2, d.dt,
       |      row_number() OVER (PARTITION BY d.id, d.mm
       |        ORDER BY CAST(n.n2 AS DOUBLE) - 2.0 * CAST(d.dt AS DOUBLE) ASC,
       |          d.cid ASC) AS rk
       |    FROM cdf d JOIN bnf n ON n.mm = d.mm AND n.cid = d.cid)
       |  WHERE rk = 1),
       |xhat AS MATERIALIZED (
       |  SELECT id, sqrt(CAST(sum(n2) AS DOUBLE)) AS xn
       |  FROM codes GROUP BY id),
       |adc AS MATERIALIZED (
       |  SELECT qd.id AS query_id, t.id AS neighbor_id, sum(qd.dt) AS dt
       |  FROM codes t
       |  JOIN cdf qd ON qd.mm = t.mm AND qd.cid = t.cid
       |  WHERE qd.id < 10 AND t.id <> qd.id
       |  GROUP BY 1, 2),
       |ascore AS (
       |  SELECT a.query_id, a.neighbor_id,
       |    CASE WHEN qv.vn * x.xn = 0 THEN NULL
       |         ELSE CAST(a.dt AS DOUBLE) / (qv.vn * x.xn) END AS approx
       |  FROM adc a
       |  JOIN vn qv ON qv.id = a.query_id
       |  JOIN xhat x ON x.id = a.neighbor_id),
       |cands AS MATERIALIZED (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY approx DESC NULLS LAST, neighbor_id) AS rk
       |    FROM ascore) WHERE rk <= ${refine * k}),
       |cdot AS MATERIALIZED (
       |  SELECT c.query_id, c.neighbor_id, sum(eq.x * en.x) AS dt
       |  FROM cands c
       |  JOIN ex eq ON eq.id = c.query_id
       |  JOIN ex en ON en.id = c.neighbor_id AND en.dim = eq.dim
       |  GROUP BY 1, 2),
       |sc AS (
       |  SELECT d.query_id, d.neighbor_id,
       |    CASE WHEN qv.vn * nv.vn = 0 THEN NULL
       |         ELSE CAST(d.dt AS DOUBLE) / (qv.vn * nv.vn) END AS cosine
       |  FROM cdot d
       |  JOIN vn qv ON qv.id = d.query_id
       |  JOIN vn nv ON nv.id = d.neighbor_id),
       |rnk AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC NULLS LAST, neighbor_id) AS rk
       |  FROM sc)
       |SELECT query_id, neighbor_id, CAST(rk AS BIGINT) AS rank, cosine
       |FROM rnk WHERE rk <= $k
       |ORDER BY query_id, rank""".stripMargin
  }

  /** SemDeDup replica over the shared IVF cells (k=16, the q_ann_ivf
    * parameters): intra-cell exact-cosine edges at eps, min-label
    * connected components via the recursive closure, exemplar =
    * argmin(clamped centroid similarity, id) per component — `keep` is
    * true only for the exemplar (most peripheral representative).
    */
  private def semDedupOracleSql(eps: Double): String =
    s"""WITH RECURSIVE ${ivfCellCtes(16)},
       |cp AS MATERIALIZED (
       |  SELECT a.id AS id_a, b.id AS id_b
       |  FROM asgf a JOIN asgf b ON a.cid = b.cid AND a.id < b.id),
       |pdot AS MATERIALIZED (
       |  SELECT c.id_a, c.id_b, sum(ea.x * eb.x) AS dt
       |  FROM cp c
       |  JOIN ex ea ON ea.id = c.id_a
       |  JOIN ex eb ON eb.id = c.id_b AND eb.dim = ea.dim
       |  GROUP BY 1, 2),
       |edges0 AS MATERIALIZED (
       |  SELECT d.id_a, d.id_b
       |  FROM pdot d
       |  JOIN vn va ON va.id = d.id_a
       |  JOIN vn vb ON vb.id = d.id_b
       |  WHERE va.vn * vb.vn <> 0
       |    AND CAST(d.dt AS DOUBLE) / (va.vn * vb.vn) >= $eps),
       |uedges AS (
       |  SELECT id_a AS u, id_b AS v FROM edges0
       |  UNION ALL
       |  SELECT id_b, id_a FROM edges0),
       |reach AS (
       |  SELECT u, v FROM uedges
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN uedges e ON r.v = e.u),
       |comp AS (SELECT u AS id, least(u, min(v)) AS component
       |  FROM reach GROUP BY u),
       |lab AS MATERIALIZED (
       |  SELECT a.id, a.cid,
       |    least(CAST(1.0 AS DOUBLE), greatest(CAST(-1.0 AS DOUBLE), a.sim))
       |      AS ccos,
       |    coalesce(c.component, a.id) AS component
       |  FROM asgf a LEFT JOIN comp c ON c.id = a.id),
       |reps AS (
       |  SELECT component, id AS rep_id FROM (
       |    SELECT component, id,
       |      row_number() OVER (PARTITION BY component
       |        ORDER BY ccos ASC, id ASC) AS rk
       |    FROM lab) WHERE rk = 1)
       |SELECT l.id, CAST(l.cid AS BIGINT) AS cell, l.component,
       |  (l.id = r.rep_id) AS keep
       |FROM lab l JOIN reps r USING (component)
       |ORDER BY l.id""".stripMargin

  /** The HLL estimate CTE chain (q_hll's arithmetic) over a `regs`-shaped
    * relation `srcCte(keys..., reg, mreg)`, emitting `fin(keys...,
    * hll_estimate)`. `keys` are the group columns carried through.
    */
  private def hllEstChain(prefix: String, srcCte: String, keys: Seq[String]): String = {
    val ks = keys.mkString(", ")
    s"""${prefix}agg AS (SELECT $ks,
       |  sum(CAST(1 AS BIGINT) << CAST(41 - mreg AS INTEGER)) AS sp,
       |  count(*) AS pres FROM $srcCte GROUP BY $ks),
       |${prefix}est AS (SELECT $ks, 4096 - pres AS v,
       |  sp + (4096 - pres) * (CAST(1 AS BIGINT) << 41) AS sumscaled FROM ${prefix}agg),
       |${prefix}ed AS (SELECT $ks, v,
       |  CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + CAST(1.079 AS DOUBLE) / CAST(4096.0 AS DOUBLE))
       |    * CAST(4096.0 AS DOUBLE) * CAST(4096.0 AS DOUBLE)
       |    * CAST(2199023255552.0 AS DOUBLE) / CAST(sumscaled AS DOUBLE) AS e
       |  FROM ${prefix}est),
       |${prefix}fin AS (SELECT $ks,
       |  CASE WHEN v > 0 AND e <= CAST(10240.0 AS DOUBLE)
       |    THEN (4096 * CAST(round(ln(CAST(4096.0 AS DOUBLE) / CAST(v AS DOUBLE)) * 1e6) AS BIGINT) + 500000) // 1000000
       |    ELSE CAST(floor(e) AS BIGINT) END AS hll_estimate
       |  FROM ${prefix}ed)""".stripMargin
  }

  private val stopEn = Seq("the", "a", "and", "of", "to", "in", "is")
  private val stopDe = Seq("der", "die", "das", "und", "ist", "ein")
  private val stopFr = Seq("le", "la", "les", "et", "est", "un")
  private val stopEs = Seq("el", "los", "las", "y", "es", "un")
  private val stopAll = (stopEn ++ stopDe ++ stopFr ++ stopEs).distinct

  val all: Map[String, String] = Map(

    "q_trim_all" ->
      """SELECT doc_id, trim(text) AS text, trim(lang) AS lang, trim(source) AS source
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_clean_cells" ->
      """SELECT doc_id, regexp_replace(trim(coalesce(text, '')), '\s+', ' ', 'g') AS clean_text
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_regnum_normalize" ->
      """WITH messy AS (
        |  SELECT doc_id,
        |    '№ ' || lpad(CAST(doc_id AS VARCHAR), 4, '0') || ' — ' || CAST(n_chars AS VARCHAR)
        |      || ' / ТЗ . См.' || CAST(n_chars AS VARCHAR) AS raw
        |  FROM documents)
        |SELECT doc_id, raw,
        |  trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |       regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |       regexp_replace(trim(coalesce(raw, '')),
        |    '^№\s*', '', 'g'),
        |    '\s*См\.\s*', ' См. ', 'g'),
        |    '\s*[–—]\s*', '-', 'g'),
        |    '\s*-\s*', '-', 'g'),
        |    '\s*/\s*', '/', 'g'),
        |    '\s*\.\s*', '.', 'g'),
        |    '(\d)\s+(\d)', '\1\2', 'g'),
        |    '(\d)\s+(\d)', '\1\2', 'g'),
        |    '(См\.)\s*(\S)', '\1 \2', 'g'),
        |    '-{2,}', '-', 'g'),
        |    '\s+', ' ', 'g')) AS reg_num
        |FROM messy ORDER BY doc_id""".stripMargin,

    "q_exclusion_flag" ->
      s"""WITH $registry
         |SELECT doc_id,
         |  CASE WHEN regexp_matches(replace(lower(concat_ws(' ', reg_num, text)), 'ё', 'е'),
         |       '$exclusionRegex') THEN 'Да' ELSE 'Нет' END AS excluded
         |FROM registry ORDER BY doc_id""".stripMargin,

    "q_new_record_flag" ->
      s"""WITH $registry
         |SELECT doc_id, reg_num,
         |  CAST(CASE WHEN regexp_matches(trim(coalesce(reg_num, '')), '$newRecordRegex')
         |       THEN 1 ELSE 0 END AS BIGINT) AS is_new
         |FROM registry ORDER BY doc_id""".stripMargin,

    "q_row_concat" ->
      """SELECT doc_id,
        |  concat_ws(' ', CAST(doc_id AS VARCHAR), text, lang, source, CAST(n_chars AS VARCHAR)) AS row_text
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_cast_all_string" ->
      """SELECT CAST(doc_id AS VARCHAR) AS doc_id, CAST(text AS VARCHAR) AS text,
        |  CAST(lang AS VARCHAR) AS lang, CAST(source AS VARCHAR) AS source,
        |  CAST(n_chars AS VARCHAR) AS n_chars
        |FROM documents ORDER BY 1""".stripMargin,

    "q_slice_offset" ->
      """WITH indexed AS (
        |  SELECT row_number() OVER (ORDER BY doc_id) - 1 AS _idx, doc_id, text FROM documents)
        |SELECT _idx, doc_id, text FROM indexed WHERE _idx >= 2 ORDER BY doc_id""".stripMargin,

    "q_promote_header" ->
      """WITH indexed AS (
        |  SELECT row_number() OVER (ORDER BY doc_id) AS _idx,
        |         CAST(doc_id AS VARCHAR) AS c1, lang AS c2, source AS c3,
        |         CAST(n_chars AS VARCHAR) AS c4
        |  FROM documents),
        |framed AS (
        |  SELECT 0 AS _idx, 'Reg No' AS c1, 'Reg No' AS c2, '' AS c3,
        |         CAST(NULL AS VARCHAR) AS c4
        |  UNION ALL SELECT * FROM indexed)
        |SELECT c1 AS "Reg No", c2 AS "Reg No_1", c3 AS "Unnamed_1", c4 AS "UNKNOWN"
        |FROM framed WHERE _idx > 0 ORDER BY CAST(c1 AS BIGINT)""".stripMargin,

    "q_sanitize_prompt" ->
      """WITH raw AS (
        |  SELECT doc_id, text || ' 123 ,,, .' || CAST(n_chars AS VARCHAR) AS x FROM documents),
        |tok AS (
        |  SELECT doc_id,
        |    array_to_string(list_filter(
        |      str_split(trim(regexp_replace(regexp_replace(x, '\d+', '', 'g'), '\s+', ' ', 'g')), ' '),
        |      t -> NOT regexp_matches(t, '^[!"#$%&''()*+,\-./:;<=>?@\[\]^_`{|}~]+$') AND t <> ''), ' ') AS kept
        |  FROM raw)
        |SELECT doc_id,
        |  CASE WHEN length(kept) > 200 THEN substr(kept, 1, 200) || '...' ELSE kept END AS prompt
        |FROM tok ORDER BY doc_id""".stripMargin,

    "q_merge_continued" ->
      s"""WITH $registry,
         |indexed AS (
         |  SELECT *, row_number() OVER (ORDER BY doc_id) - 1 AS _idx FROM registry),
         |kept AS (
         |  SELECT * FROM indexed
         |  WHERE NOT starts_with(trim(coalesce(CAST(reg_num AS VARCHAR), '')), 'Name:')),
         |flagged AS (
         |  SELECT *,
         |    CAST(sum(CASE WHEN regexp_matches(trim(coalesce(reg_num, '')), '$newRecordRegex')
         |             THEN 1 ELSE 0 END)
         |      OVER (ORDER BY _idx ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS record_id
         |  FROM kept)
         |SELECT record_id,
         |  coalesce(string_agg(trim(coalesce(reg_num, '')), ' ' ORDER BY _idx)
         |    FILTER (WHERE trim(coalesce(reg_num, '')) <> ''), '') AS reg_num,
         |  coalesce(string_agg(trim(coalesce(text, '')), ' ' ORDER BY _idx)
         |    FILTER (WHERE trim(coalesce(text, '')) <> ''), '') AS text
         |FROM flagged GROUP BY record_id ORDER BY record_id""".stripMargin,

    "q_merge_partitioned" ->
      s"""WITH $registry,
         |indexed AS (
         |  SELECT *, row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS _idx
         |  FROM registry),
         |kept AS (
         |  SELECT * FROM indexed
         |  WHERE NOT starts_with(trim(coalesce(CAST(reg_num AS VARCHAR), '')), 'Name:')),
         |flagged AS (
         |  SELECT *,
         |    CAST(sum(CASE WHEN regexp_matches(trim(coalesce(reg_num, '')), '$newRecordRegex')
         |             THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY source ORDER BY _idx
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS record_id
         |  FROM kept)
         |SELECT source, record_id,
         |  coalesce(string_agg(trim(coalesce(reg_num, '')), ' ' ORDER BY _idx)
         |    FILTER (WHERE trim(coalesce(reg_num, '')) <> ''), '') AS reg_num,
         |  coalesce(string_agg(trim(coalesce(text, '')), ' ' ORDER BY _idx)
         |    FILTER (WHERE trim(coalesce(text, '')) <> ''), '') AS text
         |FROM flagged GROUP BY source, record_id ORDER BY source, record_id""".stripMargin,

    "q_positional_join" ->
      """WITH base AS (
        |  SELECT doc_id, source, row_number() OVER (ORDER BY doc_id) - 1 AS _idx FROM documents),
        |img AS (
        |  SELECT vec_id AS excel_row, label AS img_order,
        |    'data:image/png;base64,' || md5(CAST(vec_id AS VARCHAR)) AS b64
        |  FROM embeddings WHERE vec_id % 7 = 0),
        |per_row AS (
        |  SELECT excel_row - 2 - 1 AS _target,
        |    string_agg(b64, ' ' ORDER BY img_order, b64) AS img
        |  FROM img GROUP BY 1)
        |SELECT b._idx, b.doc_id, coalesce(p.img, '') AS image
        |FROM base b LEFT JOIN per_row p ON b._idx = p._target
        |ORDER BY b.doc_id""".stripMargin,

    "q_enrich_pipeline" ->
      s"""WITH $registry,
         |reg AS (
         |  SELECT doc_id, text,
         |    CASE WHEN doc_id % 5 = 0 THEN '' ELSE split_part(text, ' ', 1) END AS brand,
         |    CASE WHEN doc_id % 2 = 0 THEN 'data:image/png;base64,' || md5(text) ELSE '' END AS image
         |  FROM registry),
         |flags AS (
         |  SELECT *,
         |    regexp_matches(
         |      replace(lower(concat_ws(' ', CAST(doc_id AS VARCHAR), text, brand, image)), 'ё', 'е'),
         |      '$exclusionRegex') AS excl
         |  FROM reg),
         |b1 AS (
         |  SELECT *,
         |    CASE WHEN NOT excl AND brand = '' AND image <> ''
         |         THEN 'OCR-' || substr(md5(image), 1, 8) || ' (RECOG)'
         |         ELSE brand END AS brand1
         |  FROM flags),
         |b2 AS (
         |  SELECT *, trim(regexp_replace(brand1, ' \\(RECOG\\)', '', 'g')) AS plain,
         |    (NOT excl AND trim(brand1) <> '') AS fires
         |  FROM b1)
         |SELECT doc_id, brand1 AS brand,
         |  CASE WHEN fires THEN upper(plain) || ', ' || lower(plain) END AS brand_en,
         |  CASE WHEN fires THEN plain || '-ру' || ', ' || reverse(plain) END AS brand_ru,
         |  CASE WHEN excl THEN 'Да' ELSE 'Нет' END AS excluded
         |FROM b2 ORDER BY doc_id""".stripMargin,

    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q3_shipping_priority" ->
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_date,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate >= TIMESTAMP '1998-01-01'
        |GROUP BY o_orderkey, o_date
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,

    "q_join_revenue" ->
      """SELECT c_mktsegment,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q_broadcast_dims" ->
      """SELECT p_brand, s_name, round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY p_brand, s_name ORDER BY p_brand, s_name""".stripMargin,

    "q_rollup" ->
      """SELECT r_name, n_name, round(sum(c_acctbal), 2) AS sum_bal, count(*) AS n_cust
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin,

    "q_cube" ->
      """SELECT r_name, c_mktsegment, round(sum(c_acctbal), 2) AS sum_bal, count(*) AS n_cust
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY CUBE (r_name, c_mktsegment)
        |ORDER BY r_name ASC NULLS FIRST, c_mktsegment ASC NULLS FIRST""".stripMargin,

    "q_explode_tokens" ->
      """WITH t AS (
        |  SELECT doc_id, str_split(text, ' ') AS toks FROM documents WHERE doc_id < 100),
        |e AS (
        |  SELECT doc_id,
        |    unnest([{'pos': CAST(i - 1 AS BIGINT), 'token': toks[i]}
        |            FOR i IN generate_series(1, len(toks))]) AS s
        |  FROM t)
        |SELECT doc_id, s.pos AS pos, s.token AS token
        |FROM e ORDER BY doc_id, pos""".stripMargin,

    "q_topk_per_group" ->
      """WITH ranked AS (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders)
        |SELECT o_custkey, CAST(rk AS BIGINT) AS rk, o_orderkey, o_totalprice
        |FROM ranked WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin,

    "q_distinct" ->
      """SELECT DISTINCT c_mktsegment, c_nationkey FROM customer
        |ORDER BY c_mktsegment, c_nationkey""".stripMargin,

    "q_anti_join" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin,

    "q_semi_join" ->
      """SELECT p_partkey, p_brand FROM part p
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |  WHERE l.l_partkey = p.p_partkey AND l.l_quantity > 45)
        |ORDER BY p_partkey""".stripMargin,

    "q_running_sum" ->
      """SELECT o_custkey, o_orderkey,
        |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q_moving_avg" ->
      """SELECT o_custkey, o_orderkey,
        |  round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |      OVER w AS DOUBLE)
        |    / (count(*) OVER w * 100.0), 3) AS mavg3
        |FROM orders WHERE o_custkey % 20 = 0
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q_percentiles" ->
      """SELECT l_returnflag,
        |  round(median(l_quantity), 4) AS med_qty,
        |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // Sketched twin: exact columns recomputed (q_percentiles arithmetic);
    // the engine-side GK drift boolean must be all-true.
    "q_approx_percentile" ->
      """SELECT l_returnflag,
        |  round(median(l_quantity), 4) AS med_qty,
        |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
        |  TRUE AS approx_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // HLL rollup contract: exact distinct counts at both levels; the
    // engine-side sketch-drift boolean must be all-true.
    "q_approx_distinct" ->
      """WITH fine AS (
        |  SELECT l_returnflag, l_linestatus, FALSE AS is_total,
        |    CAST(count(DISTINCT l_suppkey) AS BIGINT) AS exact_distinct
        |  FROM lineitem GROUP BY 1, 2),
        |coarse AS (
        |  SELECT l_returnflag, CAST(NULL AS VARCHAR) AS l_linestatus,
        |    TRUE AS is_total,
        |    CAST(count(DISTINCT l_suppkey) AS BIGINT) AS exact_distinct
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, l_linestatus, is_total, exact_distinct,
        |  TRUE AS approx_ok
        |FROM (SELECT * FROM fine UNION ALL SELECT * FROM coarse)
        |ORDER BY l_returnflag, l_linestatus NULLS FIRST""".stripMargin,

    // Binned-quantile sketch: identical double arithmetic on both sides —
    // q is CAST to DOUBLE (a DuckDB decimal literal would make q*n exact
    // and flip ceil() against Spark's double product).
    "q_binned_quantiles" ->
      """WITH v AS (
        |  SELECT l_returnflag AS g, CAST(l_extendedprice AS DOUBLE) AS x
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |b AS (SELECT g, least(255, greatest(0,
        |    CAST(floor((x - 900.0) / ((105000.0 - 900.0) / 256)) AS BIGINT))) AS bin
        |  FROM v),
        |h AS (SELECT g, bin, count(*) AS cnt FROM b GROUP BY 1, 2),
        |c AS (SELECT g, bin, cnt,
        |  sum(cnt) OVER (PARTITION BY g ORDER BY bin
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |  sum(cnt) OVER (PARTITION BY g) AS n
        |  FROM h),
        |qs AS (SELECT CAST(unnest([0.5, 0.9, 0.99]) AS DOUBLE) AS q),
        |t AS (SELECT c.*, qs.q,
        |  greatest(1, CAST(ceil(qs.q * c.n) AS BIGINT)) AS target
        |  FROM c, qs)
        |SELECT g AS l_returnflag, q,
        |  round(900.0 + ((105000.0 - 900.0) / 256) *
        |    (bin + (target - (cum - cnt)) * 1.0 / cnt), 4) AS quantile_est
        |FROM t WHERE cum >= target AND cum - cnt < target
        |ORDER BY l_returnflag, q""".stripMargin,

    // Count-Min sketch: deterministic seeded-md5 cells ("cm<r>:" || tok,
    // first 4 hex → 16-bit int % w), exact counter sums, min over d rows.
    "q_countmin" ->
      s"""WITH toks AS (
         |  SELECT unnest(str_split(${norm("text")}, ' ')) AS tok FROM documents),
         |tf AS (SELECT tok, count(*) AS exact_cnt FROM toks WHERE tok <> '' GROUP BY tok),
         |probes AS (SELECT tok, exact_cnt FROM tf ORDER BY exact_cnt DESC, tok LIMIT 20),
         |cells AS (
         |  SELECT tok, r.r AS hrow,
         |    ${hex4("substr(md5('cm' || r.r || ':' || tok), 1, 4)")} % 1024 AS cell
         |  FROM (SELECT tok FROM toks WHERE tok <> '') t, range(0, 4) r(r)),
         |counters AS (
         |  SELECT hrow, cell, count(*) AS counter FROM cells GROUP BY hrow, cell),
         |pc AS (
         |  SELECT p.tok, r.r AS hrow,
         |    ${hex4("substr(md5('cm' || r.r || ':' || p.tok), 1, 4)")} % 1024 AS cell
         |  FROM probes p, range(0, 4) r(r)),
         |est AS (
         |  SELECT pc.tok, min(c.counter) AS cm_estimate
         |  FROM pc JOIN counters c ON pc.hrow = c.hrow AND pc.cell = c.cell
         |  GROUP BY pc.tok)
         |SELECT p.tok AS item, CAST(p.exact_cnt AS BIGINT) AS exact_cnt,
         |  CAST(e.cm_estimate AS BIGINT) AS cm_estimate
         |FROM probes p JOIN est e ON p.tok = e.tok
         |ORDER BY item""".stripMargin,

    // Bloom screen: four 32-bit address slices of one seeded md5 digest,
    // mod 2^20, packed 62 bits/word (a 63-bit shift is an out-of-range
    // ERROR in DuckDB), bit_or words, all-kh-bits-set probe.
    "q_bloom" ->
      s"""WITH fps AS (
         |  SELECT doc_id, md5(${norm("text")}) AS fp FROM documents),
         |pbits AS (
         |  SELECT doc_id, fp,
         |    (${hexN("substr(md5('bl0:' || fp), CAST(r.r * 8 + 1 AS INTEGER), 8)", 8)} % 1048576) AS bit
         |  FROM fps, range(0, 4) r(r)),
         |fwords AS (
         |  SELECT bit // 62 AS word,
         |    bit_or(CAST(1 AS BIGINT) << CAST(bit % 62 AS INTEGER)) AS fmask
         |  FROM pbits WHERE doc_id % 3 = 0 GROUP BY 1),
         |hits AS (
         |  SELECT p.doc_id,
         |    CASE WHEN w.fmask IS NOT NULL AND
         |      (w.fmask & (CAST(1 AS BIGINT) << CAST(p.bit % 62 AS INTEGER)))
         |        = (CAST(1 AS BIGINT) << CAST(p.bit % 62 AS INTEGER))
         |    THEN 1 ELSE 0 END AS hit
         |  FROM pbits p LEFT JOIN fwords w ON p.bit // 62 = w.word)
         |SELECT doc_id, sum(hit) = 4 AS maybe_member
         |FROM hits GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Deterministic HLL: register = first 3 md5 hex chars (p=12), rank
    // bits = next 10 (40 bits), rho = 41 - bitlength via the exact base-2
    // string conversion (bin), harmonic sum in exact longs scaled by 2^41,
    // the two float steps spelled identically to the Spark side (IEEE ops
    // on identical inputs), linear counting under the lm_score micro-nat
    // quantization rule.
    "q_hll" ->
      s"""WITH toks AS (
         |  SELECT source, unnest(str_split(${norm("text")}, ' ')) AS tok FROM documents),
         |tk AS (SELECT source, tok FROM toks WHERE tok <> ''),
         |h AS (SELECT source, md5('hll:' || tok) AS hx FROM tk),
         |rr AS (SELECT source,
         |  ${hexN("substr(hx, 1, 3)", 3)} AS reg,
         |  ${hexN("substr(hx, 4, 10)", 10)} AS tail FROM h),
         |regs AS (SELECT source, reg,
         |  max(CASE WHEN tail = 0 THEN 41 ELSE 41 - length(bin(tail)) END) AS mreg
         |  FROM rr GROUP BY 1, 2),
         |agg AS (SELECT source,
         |  sum(CAST(1 AS BIGINT) << CAST(41 - mreg AS INTEGER)) AS sp,
         |  count(*) AS pres FROM regs GROUP BY 1),
         |est AS (SELECT source, 4096 - pres AS v,
         |  sp + (4096 - pres) * (CAST(1 AS BIGINT) << 41) AS sumscaled FROM agg),
         |ed AS (SELECT source, v,
         |  CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + CAST(1.079 AS DOUBLE) / CAST(4096.0 AS DOUBLE))
         |    * CAST(4096.0 AS DOUBLE) * CAST(4096.0 AS DOUBLE)
         |    * CAST(2199023255552.0 AS DOUBLE) / CAST(sumscaled AS DOUBLE) AS e
         |  FROM est),
         |fin AS (SELECT source,
         |  CASE WHEN v > 0 AND e <= CAST(10240.0 AS DOUBLE)
         |    THEN (4096 * CAST(round(ln(CAST(4096.0 AS DOUBLE) / CAST(v AS DOUBLE)) * 1e6) AS BIGINT) + 500000) // 1000000
         |    ELSE CAST(floor(e) AS BIGINT) END AS hll_estimate
         |  FROM ed),
         |ex AS (SELECT source, count(DISTINCT tok) AS exact_distinct FROM tk GROUP BY 1)
         |SELECT ex.source, CAST(ex.exact_distinct AS BIGINT) AS exact_distinct,
         |  f.hll_estimate
         |FROM ex JOIN fin f ON ex.source = f.source
         |ORDER BY ex.source""".stripMargin,

    // Bloom-prefiltered join: the engine screens lineitem map-side with a
    // Bloom filter before the exact broadcast join; a Bloom filter has no
    // false negatives and the exact join kills false positives, so the
    // oracle is the PLAIN join — that equality is the contract.
    "q_bloom_join" ->
      """SELECT s.s_suppkey, s.s_name, count(*) AS n_items,
        |  round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
        |FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |WHERE s.s_nationkey < 5
        |GROUP BY 1, 2 ORDER BY s.s_suppkey""".stripMargin,

    // SCD-2: collapse consecutive unchanged event_types per user, then
    // close each surviving change at the next change's timestamp.
    "q_scd2" ->
      """WITH ord AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    lag(event_type) OVER w AS prev, lag(ts) OVER w AS prev_ts
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |changes AS (
        |  SELECT * FROM ord
        |  WHERE prev_ts IS NULL OR event_type IS DISTINCT FROM prev),
        |iv AS (
        |  SELECT user_id, event_type, ts AS vf,
        |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS vt
        |  FROM changes)
        |SELECT user_id, event_type,
        |  strftime(vf, '%Y-%m-%d %H:%M:%S') AS valid_from,
        |  strftime(vt, '%Y-%m-%d %H:%M:%S') AS valid_to,
        |  vt IS NULL AS is_current
        |FROM iv ORDER BY user_id, vf""".stripMargin,

    // Streaming temporal-enrich replica: the batch interval join
    // against the q_scd2 CTE chain — every event falls in exactly one
    // [vf, vt) interval of its user (intervals start at the user's
    // first event and partition the timeline).
    "q_stream_asof" ->
      """WITH ord AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    lag(event_type) OVER w AS prev, lag(ts) OVER w AS prev_ts
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |changes AS (
        |  SELECT * FROM ord
        |  WHERE prev_ts IS NULL OR event_type IS DISTINCT FROM prev),
        |iv AS (
        |  SELECT user_id, event_type, ts AS vf,
        |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS vt
        |  FROM changes)
        |SELECT e.event_id, e.user_id, i.event_type AS state_type,
        |  i.vt IS NULL AS is_current
        |FROM events e JOIN iv i ON e.user_id = i.user_id
        |  AND e.ts >= i.vf AND (i.vt IS NULL OR e.ts < i.vt)
        |ORDER BY event_id""".stripMargin,

    // Fixed-point PageRank, iterations unrolled (DuckDB disallows
    // aggregates in recursive CTE terms): rank0 = SCALE//N, rank' =
    // (15*SCALE)//(100*N) + (17 * sum(rank//deg)) // 20 — pure integer
    // arithmetic, identical floor divisions on both engines.
    "q_pagerank" -> {
      val iter = (1 to 10).map { i =>
        s"""it$i AS (
           |  SELECT n.node, bp.base + (17 * coalesce(s.s, 0)) // 20 AS rank
           |  FROM nodes n CROSS JOIN bparams bp
           |  LEFT JOIN (
           |    SELECT e.dst AS node, CAST(sum(p.rank // d.deg) AS BIGINT) AS s
           |    FROM it${i - 1} p
           |    JOIN e0 e ON p.node = e.src
           |    JOIN deg d ON d.src = e.src
           |    GROUP BY e.dst) s ON n.node = s.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH pairs AS (
         |  SELECT DISTINCT l_partkey * 2 AS a, l_suppkey * 2 + 1 AS b
         |  FROM lineitem),
         |e0 AS (SELECT a AS src, b AS dst FROM pairs
         |       UNION SELECT b AS src, a AS dst FROM pairs),
         |nodes AS (SELECT DISTINCT src AS node FROM e0),
         |deg AS (SELECT src, count(*) AS deg FROM e0 GROUP BY 1),
         |bparams AS (
         |  SELECT (15 * 1000000000000) // (100 * count(*)) AS base,
         |         1000000000000 // count(*) AS init
         |  FROM nodes),
         |it0 AS (SELECT node, init AS rank FROM nodes CROSS JOIN bparams),
         |$iter
         |SELECT node, CAST(rank AS BIGINT) AS rank FROM it10
         |ORDER BY rank DESC, node LIMIT 20""".stripMargin
    },

    // Label propagation: 4 unrolled synchronous iterations, each picking
    // the most frequent in-neighbor+self label with ties to the smallest
    // label (row_number ORDER BY count DESC, label == Spark's
    // min(struct(-c, label))). Self-votes are UNION ALL self-loops.
    "q_label_prop" -> {
      val iter = (1 to 4).map { i =>
        s"""it$i AS (
           |  SELECT dst AS node, label FROM (
           |    SELECT e.dst, p.label, count(*) AS c,
           |      row_number() OVER (PARTITION BY e.dst
           |        ORDER BY count(*) DESC, p.label) AS rk
           |    FROM it${i - 1} p JOIN ae e ON p.node = e.src
           |    GROUP BY e.dst, p.label) WHERE rk = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH pairs AS (
         |  SELECT DISTINCT l_partkey * 2 AS a, l_suppkey * 2 + 1 AS b
         |  FROM lineitem),
         |e0 AS (SELECT a AS src, b AS dst FROM pairs
         |       UNION SELECT b AS src, a AS dst FROM pairs),
         |nodes AS (SELECT DISTINCT src AS node FROM e0),
         |ae AS (SELECT src, dst FROM e0
         |       UNION ALL SELECT node, node FROM nodes),
         |it0 AS (SELECT node, node AS label FROM nodes),
         |$iter
         |SELECT CAST(label AS BIGINT) AS label,
         |  CAST(count(*) AS BIGINT) AS n_nodes
         |FROM it4 GROUP BY label ORDER BY label""".stripMargin
    },

    // Weighted label propagation: votes sum edge weights (lineitem count
    // per pair), self-votes weigh 1; same tie-break as q_label_prop.
    "q_label_prop_weighted" -> {
      val iter = (1 to 4).map { i =>
        s"""it$i AS (
           |  SELECT dst AS node, label FROM (
           |    SELECT e.dst, p.label, sum(e.w) AS c,
           |      row_number() OVER (PARTITION BY e.dst
           |        ORDER BY sum(e.w) DESC, p.label) AS rk
           |    FROM it${i - 1} p JOIN ae e ON p.node = e.src
           |    GROUP BY e.dst, p.label) WHERE rk = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH pairs AS (
         |  SELECT l_partkey * 2 AS a, l_suppkey * 2 + 1 AS b,
         |    count(*) AS w
         |  FROM lineitem GROUP BY 1, 2),
         |e0 AS (SELECT a AS src, b AS dst, w FROM pairs
         |       UNION ALL SELECT b AS src, a AS dst, w FROM pairs),
         |nodes AS (SELECT DISTINCT src AS node FROM e0),
         |ae AS (SELECT src, dst, w FROM e0
         |       UNION ALL SELECT node, node, 1 FROM nodes),
         |it0 AS (SELECT node, node AS label FROM nodes),
         |$iter
         |SELECT CAST(label AS BIGINT) AS label,
         |  CAST(count(*) AS BIGINT) AS n_nodes
         |FROM it4 GROUP BY label ORDER BY label""".stripMargin
    },

    // Personalized PageRank: q_pagerank's unrolled replica with init and
    // teleport mass concentrated on the seed set (node % 400 = 0 part
    // nodes) — zero elsewhere; same floor-division integer arithmetic.
    "q_ppr" -> {
      val iter = (1 to 4).map { i =>
        s"""it$i AS (
           |  SELECT nb.node, nb.base + (17 * coalesce(s.s, 0)) // 20 AS rank
           |  FROM nb
           |  LEFT JOIN (
           |    SELECT e.dst AS node, CAST(sum(p.rank // d.deg) AS BIGINT) AS s
           |    FROM it${i - 1} p
           |    JOIN e0 e ON p.node = e.src
           |    JOIN deg d ON d.src = e.src
           |    GROUP BY e.dst) s ON nb.node = s.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH pairs AS (
         |  SELECT DISTINCT l_partkey * 2 AS a, l_suppkey * 2 + 1 AS b
         |  FROM lineitem),
         |e0 AS (SELECT a AS src, b AS dst FROM pairs
         |       UNION SELECT b AS src, a AS dst FROM pairs),
         |nodes AS (SELECT DISTINCT src AS node FROM e0),
         |deg AS (SELECT src, count(*) AS deg FROM e0 GROUP BY 1),
         |seeds AS (SELECT node FROM nodes WHERE node % 400 = 0),
         |sp AS (
         |  SELECT (15 * 1000000000000) // (100 * count(*)) AS sbase,
         |         1000000000000 // count(*) AS sinit
         |  FROM seeds),
         |nb AS (
         |  SELECT n.node,
         |    CASE WHEN s.node IS NOT NULL THEN p.sinit ELSE 0 END AS init,
         |    CASE WHEN s.node IS NOT NULL THEN p.sbase ELSE 0 END AS base
         |  FROM nodes n CROSS JOIN sp p
         |  LEFT JOIN seeds s ON n.node = s.node),
         |it0 AS (SELECT node, init AS rank FROM nb),
         |$iter
         |SELECT node, CAST(rank AS BIGINT) AS rank FROM it4
         |ORDER BY rank DESC, node LIMIT 20""".stripMargin
    },

    // k-core peeling: 4 unrolled rounds, each keeping edges whose BOTH
    // endpoints currently have out-degree >= k (bidirectional edge set,
    // so out-degree is THE degree). Final degrees over the survivors.
    "q_kcore" -> {
      val rounds = (1 to 4).map { i =>
        s"""k$i AS (SELECT src FROM e${i - 1} GROUP BY src HAVING count(*) >= 3),
           |e$i AS (SELECT e.src, e.dst FROM e${i - 1} e
           |  JOIN k$i s ON e.src = s.src
           |  JOIN k$i d ON e.dst = d.src)""".stripMargin
      }.mkString(",\n")
      s"""WITH pairs AS (
         |  SELECT DISTINCT l_partkey * 2 AS a, l_suppkey * 2 + 1 AS b
         |  FROM lineitem),
         |e0 AS (SELECT a AS src, b AS dst FROM pairs
         |       UNION SELECT b AS src, a AS dst FROM pairs),
         |$rounds
         |SELECT CAST(src AS BIGINT) AS node,
         |  CAST(count(*) AS BIGINT) AS degree
         |FROM e4 GROUP BY src ORDER BY node""".stripMargin
    },

    // Triangle counting replica: same degree-ordered wedge join — edges
    // directed low→high in the (degree, id) row-value order, wedges from
    // each apex closed by probing the canonical a<b edge set.
    "q_triangles" ->
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS it FROM lineitem),
        |und AS (
        |  SELECT a.it AS a, b.it AS b FROM items a
        |  JOIN items b ON a.ok = b.ok AND a.it < b.it
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |deg AS (
        |  SELECT n AS node, count(*) AS degree FROM (
        |    SELECT a AS n FROM und UNION ALL SELECT b FROM und)
        |  GROUP BY 1),
        |ed AS (
        |  SELECT
        |    CASE WHEN (da.degree, u.a) < (db.degree, u.b)
        |      THEN u.a ELSE u.b END AS s,
        |    CASE WHEN (da.degree, u.a) < (db.degree, u.b)
        |      THEN u.b ELSE u.a END AS t
        |  FROM und u
        |  JOIN deg da ON u.a = da.node JOIN deg db ON u.b = db.node),
        |tr AS (
        |  SELECT w.s, w.t1, w.t2 FROM (
        |    SELECT e1.s, e1.t AS t1, e2.t AS t2
        |    FROM ed e1 JOIN ed e2 ON e1.s = e2.s AND e1.t < e2.t) w
        |  JOIN und ON least(w.t1, w.t2) = und.a
        |          AND greatest(w.t1, w.t2) = und.b),
        |pn AS (
        |  SELECT node, count(*) AS triangles FROM (
        |    SELECT s AS node FROM tr
        |    UNION ALL SELECT t1 FROM tr
        |    UNION ALL SELECT t2 FROM tr)
        |  GROUP BY 1)
        |SELECT CAST(d.node AS BIGINT) AS node,
        |  CAST(d.degree AS BIGINT) AS degree,
        |  CAST(p.triangles AS BIGINT) AS triangles,
        |  CAST(CASE WHEN d.degree >= 2
        |    THEN (2 * p.triangles * 1000000) // (d.degree * (d.degree - 1))
        |    ELSE 0 END AS BIGINT) AS lcc_micro
        |FROM deg d JOIN pn p ON d.node = p.node
        |WHERE p.triangles > 0 ORDER BY node""".stripMargin,

    // 3-truss peeling: 3 unrolled rounds over the q_triangles
    // co-purchase graph — per-round triangle enumeration (id-ordered
    // x<y<z; same counts as the engine's degree-ordered join), per-edge
    // support, drop edges with support < k−2 — then final supports.
    // Every round CTE is AS MATERIALIZED: DuckDB inlines CTEs by
    // default, and r_i appears 4× per round — inlining would rescan the
    // lineitem self-join 4^rounds times (observed as an fd-exhaustion
    // error before compute even matters).
    "q_ktruss" -> {
      val rounds = (0 until 3).map { i =>
        s"""t$i AS MATERIALIZED (
           |  SELECT p1.a AS x, p1.b AS y, p2.b AS z
           |  FROM r$i p1 JOIN r$i p2 ON p2.a = p1.a AND p1.b < p2.b
           |  JOIN r$i p3 ON p3.a = p1.b AND p3.b = p2.b),
           |s$i AS MATERIALIZED (
           |  SELECT a, b, count(*) AS sup FROM (
           |    SELECT x AS a, y AS b FROM t$i
           |    UNION ALL SELECT x, z FROM t$i
           |    UNION ALL SELECT y, z FROM t$i)
           |  GROUP BY 1, 2),
           |r${i + 1} AS MATERIALIZED (
           |  SELECT e.a, e.b FROM r$i e
           |  JOIN s$i s ON e.a = s.a AND e.b = s.b AND s.sup >= 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH items AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS it FROM lineitem),
         |r0 AS MATERIALIZED (
         |  SELECT a.it AS a, b.it AS b FROM items a
         |  JOIN items b ON a.ok = b.ok AND a.it < b.it
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |$rounds,
         |tf AS (
         |  SELECT p1.a AS x, p1.b AS y, p2.b AS z
         |  FROM r3 p1 JOIN r3 p2 ON p2.a = p1.a AND p1.b < p2.b
         |  JOIN r3 p3 ON p3.a = p1.b AND p3.b = p2.b),
         |sf AS (
         |  SELECT a, b, count(*) AS sup FROM (
         |    SELECT x AS a, y AS b FROM tf
         |    UNION ALL SELECT x, z FROM tf
         |    UNION ALL SELECT y, z FROM tf)
         |  GROUP BY 1, 2)
         |SELECT CAST(e.a AS BIGINT) AS src, CAST(e.b AS BIGINT) AS dst,
         |  CAST(coalesce(s.sup, 0) AS BIGINT) AS support
         |FROM r3 e LEFT JOIN sf s ON e.a = s.a AND e.b = s.b
         |ORDER BY src, dst""".stripMargin
    },

    // Interval-overlap replica: the plain inequality join the bucketed
    // plan must equal exactly (closed intervals, touching counts).
    "q_interval_overlap" ->
      """WITH li AS MATERIALIZED (
        |  SELECT l_orderkey*10 + l_linenumber AS id, l_partkey AS part,
        |    datediff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE)) AS lo,
        |    datediff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE))
        |      + 1 + CAST(l_quantity AS BIGINT) % 30 AS hi
        |  FROM lineitem)
        |SELECT CAST(a.part AS BIGINT) AS part, CAST(a.id AS BIGINT) AS a_id,
        |  CAST(b.id AS BIGINT) AS b_id,
        |  CAST(least(a.hi, b.hi) - greatest(a.lo, b.lo) + 1 AS BIGINT)
        |    AS overlap_days
        |FROM li a JOIN li b ON a.part = b.part AND a.id < b.id
        |  AND a.lo <= b.hi AND b.lo <= a.hi
        |ORDER BY part, a_id, b_id""".stripMargin,

    // Aho–Corasick replica: all-positions substr scan — every (doc,
    // term, start) where the term matches verbatim in the normalized
    // text (overlapping/nested matches included by construction, the
    // exact all-occurrences semantics the automaton reports).
    "q_dict_tag" -> {
      val tm = Seq("scan", "can", "an", "spark", "park", "ar", "table",
        "able", "the line", "filter").map(t => s"('$t')").mkString(", ")
      s"""WITH docs AS MATERIALIZED (
         |  SELECT doc_id AS doc, ${norm("text")} AS nt FROM documents),
         |tm(term) AS (VALUES $tm),
         |ppos AS MATERIALIZED (
         |  SELECT doc, nt, unnest(generate_series(1, len(nt))) AS p FROM docs),
         |hits AS (
         |  SELECT q.doc, t.term, q.p FROM ppos q
         |  JOIN tm t ON substr(q.nt, q.p, len(t.term)) = t.term)
         |SELECT doc, term, CAST(count(*) AS BIGINT) AS n_hits,
         |  CAST(min(p) AS BIGINT) AS first_pos
         |FROM hits GROUP BY doc, term
         |ORDER BY doc, term""".stripMargin
    },

    // BPE trainer replica: the full learn_bpe loop unrolled — per step,
    // adjacent-pair counts off the positional word-type state (overlaps
    // included, as get_stats), 1-row argmax with count-desc/lexicographic
    // tie-break, then the greedy single-pass merge: match positions
    // grouped into islands of CONSECUTIVE positions keep even offsets
    // (provably the left-to-right scan — islands need sym L = R, and the
    // scan takes every other match in a run), consumed right positions
    // drop, positions renumber. Every CTE is MATERIALIZED (each state
    // feeds 4 downstream CTEs; the round-9 exponential-reinline lesson).
    "q_bpe_train" -> {
      s"""WITH ${bpeCtes(8)}
         |SELECT CAST(rank AS BIGINT) AS rank, l AS "left", r AS "right",
         |  c AS pair_count
         |FROM (${(1 to 8).map(k =>
             s"SELECT $k AS rank, l, r, c FROM b$k").mkString(" UNION ALL ")})
         |ORDER BY rank""".stripMargin
    },

    // BPE encode replica: the trained word-type states ARE the
    // segmentation of every in-corpus word (in-rank-order application —
    // canonical for a trained list), so encode = join the positional
    // word relation back to st8 and re-aggregate per doc.
    "q_bpe_encode" -> {
      s"""WITH ${bpeCtes(8)},
         |seg AS MATERIALIZED (
         |  SELECT w, string_agg(sym, ' ' ORDER BY pos) AS seg,
         |    CAST(count(*) AS BIGINT) AS ntok
         |  FROM st8 GROUP BY w),
         |agg AS (
         |  SELECT d.doc, CAST(sum(s.ntok) AS BIGINT) AS n_tokens,
         |    string_agg(s.seg, ' ' ORDER BY d.wpos) AS bpe_text
         |  FROM docw d JOIN seg s ON d.w = s.w WHERE d.w != '' GROUP BY d.doc)
         |SELECT d.doc_id AS doc, CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens,
         |  coalesce(a.bpe_text, '') AS bpe_text
         |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc
         |ORDER BY doc""".stripMargin
    },

    // WordPiece replica: segment the DISTINCT word types by 4 unrolled
    // greedy steps — at each step LEFT JOIN the vocab on a position/
    // continuation-aware prefix match and QUALIFY-keep the longest
    // piece (no match → the word fails to [UNK]) — then join back to
    // the positional word relation and re-aggregate per doc. Steps are
    // MATERIALIZED (each is referenced twice; inlining doubles per
    // step). 4 steps cover the demo vocab's ≤2-piece segmentations.
    "q_wordpiece" -> {
      val vrows = graft.text.TextAnalysis.WordpieceDemoVocab.map { p =>
        val cont = p.startsWith("##")
        val plain = if (cont) p.substring(2) else p
        s"('$p', $cont, '$plain', ${plain.length})"
      }.mkString(",\n    ")
      val steps = (0 until 4).map { i =>
        s"""s${i + 1} AS MATERIALIZED (
           |  SELECT w, pos, acc, fail FROM s$i WHERE fail OR pos > len(w)
           |  UNION ALL
           |  SELECT s.w,
           |    CASE WHEN v.piece IS NULL THEN s.pos ELSE s.pos + v.plen END AS pos,
           |    CASE WHEN v.piece IS NULL THEN s.acc
           |      WHEN s.acc = '' THEN v.piece
           |      ELSE s.acc || ' ' || v.piece END AS acc,
           |    (v.piece IS NULL) AS fail
           |  FROM (SELECT * FROM s$i WHERE NOT fail AND pos <= len(w)) s
           |  LEFT JOIN v ON ((s.pos = 1) = (NOT v.cont))
           |    AND substr(s.w, s.pos, v.plen) = v.plain
           |  QUALIFY row_number() OVER (PARTITION BY s.w
           |    ORDER BY v.plen DESC NULLS LAST) = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH docs AS MATERIALIZED (
         |  SELECT doc_id AS doc, ${norm("text")} AS nt FROM documents),
         |docw AS MATERIALIZED (
         |  SELECT doc, unnest(generate_series(1, len(str_split(nt, ' ')))) AS wpos,
         |    unnest(str_split(nt, ' ')) AS w
         |  FROM docs WHERE nt != ''),
         |words AS MATERIALIZED (SELECT DISTINCT w FROM docw WHERE w != ''),
         |v(piece, cont, plain, plen) AS (VALUES
         |    $vrows),
         |s0 AS MATERIALIZED (
         |  SELECT w, 1 AS pos, CAST('' AS VARCHAR) AS acc, false AS fail
         |  FROM words),
         |$steps,
         |segf AS (
         |  SELECT w, CASE WHEN fail OR pos <= len(w) THEN '[UNK]' ELSE acc END AS seg
         |  FROM s4),
         |agg AS (
         |  SELECT d.doc,
         |    CAST(sum(len(str_split(f.seg, ' '))) AS BIGINT) AS n_pieces,
         |    CAST(sum(CASE WHEN f.seg = '[UNK]' THEN 1 ELSE 0 END) AS BIGINT) AS n_unk,
         |    string_agg(f.seg, ' ' ORDER BY d.wpos) AS subword_text
         |  FROM docw d JOIN segf f ON d.w = f.w
         |  WHERE d.w != ''
         |  GROUP BY d.doc)
         |SELECT d.doc_id AS doc,
         |  CAST(coalesce(a.n_pieces, 0) AS BIGINT) AS n_pieces,
         |  CAST(coalesce(a.n_unk, 0) AS BIGINT) AS n_unk,
         |  coalesce(a.subword_text, '') AS subword_text
         |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc
         |ORDER BY doc""".stripMargin
    },

    // Phrase retrieval: zipped-unnest positional postings, one
    // pos-aligned join per phrase word, per-doc occurrence count.
    "q_phrase_search" ->
      s"""WITH toks AS (
         |  SELECT doc_id AS doc, str_split(${norm("text")}, ' ') AS t
         |  FROM documents),
         |post AS (
         |  SELECT doc, unnest(generate_series(1, len(t))) AS pos,
         |    unnest(t) AS term
         |  FROM toks),
         |m AS (
         |  SELECT p0.doc, p0.pos FROM post p0
         |  JOIN post p1 ON p1.doc = p0.doc AND p1.pos = p0.pos + 1
         |    AND p1.term = 'hash'
         |  WHERE p0.term = 'table')
         |SELECT doc, CAST(count(*) AS BIGINT) AS hits
         |FROM m GROUP BY doc ORDER BY doc""".stripMargin,

    // Link prediction: the q_triangles co-purchase graph, wedge
    // self-join with per-apex 10¹²//ln_micro(deg) Adamic–Adar
    // contributions, existing edges anti-joined away.
    "q_link_pred" ->
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS it FROM lineitem),
        |und AS (
        |  SELECT a.it AS a, b.it AS b FROM items a
        |  JOIN items b ON a.ok = b.ok AND a.it < b.it
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |adj AS (
        |  SELECT a AS z, b AS n FROM und UNION ALL SELECT b, a FROM und),
        |deg AS (
        |  SELECT z AS node, CAST(count(*) AS BIGINT) AS degree
        |  FROM adj GROUP BY 1),
        |aac AS (
        |  SELECT node, 1000000000000 // CAST(round(
        |    ln(CAST(degree AS DOUBLE)) * 1000000.0) AS BIGINT) AS c
        |  FROM deg WHERE degree >= 2),
        |w AS (
        |  SELECT a1.n AS u, a2.n AS v, aac.c
        |  FROM adj a1 JOIN adj a2 ON a1.z = a2.z AND a1.n < a2.n
        |  JOIN aac ON aac.node = a1.z),
        |p AS (
        |  SELECT u, v, CAST(count(*) AS BIGINT) AS common,
        |    CAST(sum(c) AS BIGINT) AS aa_micro
        |  FROM w GROUP BY 1, 2 HAVING count(*) >= 2),
        |np AS (
        |  SELECT p.* FROM p
        |  ANTI JOIN und ON p.u = und.a AND p.v = und.b)
        |SELECT CAST(np.u AS BIGINT) AS u, CAST(np.v AS BIGINT) AS v,
        |  common,
        |  CAST(common * 1000000 // (du.degree + dv.degree - common)
        |    AS BIGINT) AS jaccard_micro,
        |  aa_micro
        |FROM np JOIN deg du ON np.u = du.node
        |JOIN deg dv ON np.v = dv.node
        |ORDER BY common DESC, u, v LIMIT 50""".stripMargin,

    // Multi-source BFS: 6 unrolled min-depth relaxation rounds from the
    // q_ppr seed set over the bidirectional supply graph.
    "q_bfs" -> {
      val iter = (1 to 6).map { i =>
        s"""it$i AS (
           |  SELECT node, min(depth) AS depth FROM (
           |    SELECT e.dst AS node, p.depth + 1 AS depth
           |    FROM it${i - 1} p JOIN e0 e ON p.node = e.src
           |    UNION ALL SELECT node, depth FROM it${i - 1})
           |  GROUP BY 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH pairs AS (
         |  SELECT DISTINCT l_partkey * 2 AS a, l_suppkey * 2 + 1 AS b
         |  FROM lineitem),
         |e0 AS (SELECT a AS src, b AS dst FROM pairs
         |       UNION SELECT b AS src, a AS dst FROM pairs),
         |it0 AS (
         |  SELECT DISTINCT a AS node, 0 AS depth FROM pairs
         |  WHERE a % 400 = 0),
         |$iter
         |SELECT CAST(node AS BIGINT) AS node, CAST(depth AS BIGINT) AS depth
         |FROM it6 ORDER BY node""".stripMargin
    },

    // Market-basket pair mining: set-semantics self-join per order,
    // support >= 2, integer micro confidence/lift (count(*) is already
    // BIGINT so the floor divisions stay in long range).
    "q_item_pairs" ->
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS it FROM lineitem),
        |pairs AS (
        |  SELECT a.it AS a, b.it AS b, count(*) AS supp FROM items a
        |  JOIN items b ON a.ok = b.ok AND a.it < b.it
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |ic AS (SELECT it, count(*) AS cnt FROM items GROUP BY 1),
        |nb AS (SELECT count(DISTINCT ok) AS n FROM items)
        |SELECT CAST(p.a AS BIGINT) AS a, CAST(p.b AS BIGINT) AS b,
        |  CAST(p.supp AS BIGINT) AS supp,
        |  CAST((p.supp * 1000000) // ca.cnt AS BIGINT) AS conf_a_b_micro,
        |  CAST((p.supp * 1000000) // cb.cnt AS BIGINT) AS conf_b_a_micro,
        |  CAST((p.supp * nb.n * 1000000) // (ca.cnt * cb.cnt) AS BIGINT)
        |    AS lift_micro
        |FROM pairs p
        |JOIN ic ca ON p.a = ca.it JOIN ic cb ON p.b = cb.it
        |CROSS JOIN nb
        |ORDER BY supp DESC, a, b LIMIT 50""".stripMargin,

    // BH-FDR screening replica: the q_mann_whitney chain per
    // (event_type, dow), then A&S 26.2.19's rational normal CDF as the
    // SAME fixed expression tree (Horner + four squarings — every step
    // an individually-rounded IEEE op, no libm), then the integer
    // step-up as a reverse running min.
    "q_bh_fdr" ->
      """WITH r AS (
        |  SELECT event_type, dayofweek(ts) + 1 AS dow,
        |    (user_id % 2 = 0) AS a,
        |    CAST(floor(value * 10000) AS BIGINT) AS y
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL),
        |rk AS (
        |  SELECT event_type, dow, a, y,
        |    2 * rank() OVER (PARTITION BY event_type, dow ORDER BY y)
        |      + count(*) OVER (PARTITION BY event_type, dow, y) - 1 AS r2,
        |    count(*) OVER (PARTITION BY event_type, dow, y) AS t
        |  FROM r),
        |agg AS (
        |  SELECT event_type, dow,
        |    CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    sum(CASE WHEN a THEN CAST(r2 AS HUGEINT) ELSE 0 END) AS ra2,
        |    sum(CAST(t * t - 1 AS HUGEINT)) AS ties
        |  FROM rk GROUP BY 1, 2),
        |u AS (
        |  SELECT *, CAST(2 * CAST(n_a AS HUGEINT) * n_b
        |    + CAST(n_a AS HUGEINT) * (n_a + 1) - ra2 AS BIGINT) AS u2_a,
        |    CAST(n_a + n_b AS DOUBLE) AS n
        |  FROM agg),
        |s AS (
        |  SELECT *, sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0
        |    * ((n + 1.0) - CAST(ties AS DOUBLE) / (n * (n - 1.0)))) AS sigma
        |  FROM u),
        |z AS (
        |  SELECT event_type, dow,
        |    CASE WHEN n_a > 0 AND n_b > 0 AND sigma > 0.0
        |      THEN CAST(floor((CAST(u2_a AS DOUBLE)
        |        - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) / 2.0 / sigma
        |        * 1000000.0) AS BIGINT)
        |    END AS z_micro
        |  FROM s),
        |pb AS (
        |  SELECT *, 1.0 + zz * (0.0498673470 + zz * (0.0211410061
        |    + zz * (0.0032776263 + zz * (0.0000380036
        |    + zz * (0.0000488906 + zz * 0.0000053830))))) AS b
        |  FROM (SELECT *, CAST(abs(z_micro) AS DOUBLE) / 1000000.0 AS zz
        |        FROM z)),
        |pp AS (
        |  SELECT event_type, dow, z_micro,
        |    CAST(floor(1000000.0 / b16) AS BIGINT) AS p_micro
        |  FROM (SELECT *, b8 * b8 AS b16 FROM
        |        (SELECT *, b4 * b4 AS b8 FROM
        |         (SELECT *, b2 * b2 AS b4 FROM
        |          (SELECT *, b * b AS b2 FROM pb)))) ),
        |bh AS (
        |  SELECT *,
        |    CAST(row_number() OVER (ORDER BY p_micro, event_type, dow)
        |      AS BIGINT) AS bh_rank,
        |    CAST(count(*) OVER () AS BIGINT) AS m
        |  FROM pp WHERE p_micro IS NOT NULL),
        |adj AS (
        |  SELECT *, least(min((p_micro * m) // bh_rank) OVER
        |      (ORDER BY bh_rank DESC
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    1000000) AS p_adj_micro
        |  FROM bh)
        |SELECT event_type, dow, z_micro, p_micro, bh_rank,
        |  CAST(p_adj_micro AS BIGINT) AS p_adj_micro,
        |  p_adj_micro <= 50000 AS reject
        |FROM adj ORDER BY event_type, dow""".stripMargin,

    // Greedy max-coverage replica: 5 unrolled rounds, each taking the
    // (gain DESC, doc) argmax over the residual relation and removing
    // the winner's features and the winner itself.
    "q_greedy_cover" -> {
      val rounds = (1 to 5).map { i =>
        s"""p$i AS (
           |  SELECT $i AS round, doc, count(*) AS gain
           |  FROM r${i - 1} GROUP BY doc ORDER BY gain DESC, doc LIMIT 1),
           |r$i AS (
           |  SELECT r.doc, r.feat FROM r${i - 1} r
           |  WHERE r.doc NOT IN (SELECT doc FROM p$i)
           |    AND r.feat NOT IN (
           |      SELECT c.feat FROM r${i - 1} c JOIN p$i ON c.doc = p$i.doc))""".stripMargin
      }.mkString(",\n")
      s"""WITH dt AS (
         |  SELECT DISTINCT doc_id AS doc, tok AS feat FROM (
         |    SELECT doc_id, unnest(str_split(${norm("text")}, ' ')) AS tok
         |    FROM documents)
         |  WHERE tok <> ''),
         |r0 AS (SELECT doc, feat FROM dt),
         |$rounds
         |SELECT CAST(round AS BIGINT) AS round, doc,
         |  CAST(gain AS BIGINT) AS gain
         |FROM (SELECT * FROM p1 UNION ALL SELECT * FROM p2
         |      UNION ALL SELECT * FROM p3 UNION ALL SELECT * FROM p4
         |      UNION ALL SELECT * FROM p5)
         |ORDER BY round""".stripMargin
    },

    // Two-feature OLS replica: exact HUGEINT moments and cleared
    // denominators, the same fixed double trees for b1/b2/b0/R² as the
    // Spark side (identical association order), micro floors.
    "q_ols" ->
      """WITH j AS (
        |  SELECT s_nationkey,
        |    CAST(floor(l_quantity * 100) AS BIGINT) AS x1,
        |    CAST(floor(l_discount * 100) AS BIGINT) AS x2,
        |    CAST(floor(l_extendedprice * 100) AS BIGINT) AS y
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
        |    AND l_extendedprice IS NOT NULL),
        |m AS (
        |  SELECT s_nationkey, count(*) AS n,
        |    sum(CAST(x1 AS HUGEINT)) AS s1, sum(CAST(x2 AS HUGEINT)) AS s2,
        |    sum(CAST(y AS HUGEINT)) AS sy,
        |    sum(CAST(x1 AS HUGEINT) * x1) AS s11,
        |    sum(CAST(x2 AS HUGEINT) * x2) AS s22,
        |    sum(CAST(x1 AS HUGEINT) * x2) AS s12,
        |    sum(CAST(x1 AS HUGEINT) * y) AS s1y,
        |    sum(CAST(x2 AS HUGEINT) * y) AS s2y,
        |    sum(CAST(y AS HUGEINT) * y) AS syy
        |  FROM j GROUP BY 1),
        |d AS (
        |  SELECT s_nationkey, n,
        |    n * s11 - s1 * s1 AS d11, n * s22 - s2 * s2 AS d22,
        |    n * s12 - s1 * s2 AS d12, n * s1y - s1 * sy AS d1y,
        |    n * s2y - s2 * sy AS d2y, n * syy - sy * sy AS dyy,
        |    s1, s2, sy
        |  FROM m),
        |c AS (
        |  SELECT *, d11 * d22 - d12 * d12 AS det FROM d),
        |b AS (
        |  SELECT *,
        |    (CAST(d1y AS DOUBLE) * CAST(d22 AS DOUBLE)
        |      - CAST(d2y AS DOUBLE) * CAST(d12 AS DOUBLE))
        |      / CAST(det AS DOUBLE) AS b1,
        |    (CAST(d2y AS DOUBLE) * CAST(d11 AS DOUBLE)
        |      - CAST(d1y AS DOUBLE) * CAST(d12 AS DOUBLE))
        |      / CAST(det AS DOUBLE) AS b2
        |  FROM c)
        |SELECT s_nationkey, CAST(n AS BIGINT) AS n,
        |  CASE WHEN det > 0 AND dyy > 0 THEN
        |    CAST(floor((CAST(sy AS DOUBLE) - b1 * CAST(s1 AS DOUBLE)
        |      - b2 * CAST(s2 AS DOUBLE)) / CAST(n AS DOUBLE)
        |      / 100 * 1000000.0) AS BIGINT) END AS b0_micro,
        |  CASE WHEN det > 0 AND dyy > 0 THEN
        |    CAST(floor(b1 * 1000000.0) AS BIGINT) END AS b1_micro,
        |  CASE WHEN det > 0 AND dyy > 0 THEN
        |    CAST(floor(b2 * 1000000.0) AS BIGINT) END AS b2_micro,
        |  CASE WHEN det > 0 AND dyy > 0 THEN
        |    CAST(floor((b1 * CAST(d1y AS DOUBLE) + b2 * CAST(d2y AS DOUBLE))
        |      / CAST(dyy AS DOUBLE) * 1000000.0) AS BIGINT) END AS r2_micro
        |FROM b ORDER BY s_nationkey""".stripMargin,

    // Spearman: doubled midranks (2·rank() + tie-count − 1, exact
    // integers), HUGEINT moment sums (values identical to Spark's longs,
    // so the shared int→double conversion rounds identically), one
    // IEEE division + sqrt, floored to micro.
    "q_spearman" ->
      """WITH j AS (
        |  SELECT s_nationkey, l_quantity AS x, l_extendedprice AS y
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey),
        |r AS (
        |  SELECT s_nationkey,
        |    2 * rank() OVER (PARTITION BY s_nationkey ORDER BY x)
        |      + count(*) OVER (PARTITION BY s_nationkey, x) - 1 AS rx,
        |    2 * rank() OVER (PARTITION BY s_nationkey ORDER BY y)
        |      + count(*) OVER (PARTITION BY s_nationkey, y) - 1 AS ry
        |  FROM j),
        |m AS (
        |  SELECT s_nationkey, count(*) AS n,
        |    sum(rx) AS sx, sum(ry) AS sy, sum(rx * rx) AS sxx,
        |    sum(ry * ry) AS syy, sum(rx * ry) AS sxy
        |  FROM r GROUP BY 1)
        |SELECT s_nationkey, CAST(n AS BIGINT) AS n,
        |  CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
        |    THEN CAST(floor(CAST(n * sxy - sx * sy AS DOUBLE) * 1000000.0
        |      / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
        |           * CAST(n * syy - sy * sy AS DOUBLE))) AS BIGINT)
        |  END AS rho_micro
        |FROM m ORDER BY s_nationkey""".stripMargin,

    // Efraimidis–Spirakis weighted sampling: exponential keys −ln(u)/w
    // under the house quantization (u from the 40-bit seeded md5 tail,
    // micro-nat ln, exact integer floor-div by the weight), top-5/source.
    "q_weighted_sample" ->
      s"""WITH w AS (
         |  SELECT source, doc_id, n_chars,
         |    ${hexN("substr(md5('ws:' || doc_id), 1, 10)", 10)} + 1 AS tail
         |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0),
         |k AS (
         |  SELECT source, doc_id, n_chars,
         |    (CAST(round(-ln(CAST(tail AS DOUBLE) / 1099511627776.0) * 1e6) AS BIGINT)
         |      * 1000000) // n_chars AS sk
         |  FROM w),
         |r AS (
         |  SELECT source, doc_id, n_chars,
         |    row_number() OVER (PARTITION BY source ORDER BY sk, doc_id) AS rn
         |  FROM k)
         |SELECT source, doc_id, CAST(n_chars AS BIGINT) AS n_chars
         |FROM r WHERE rn <= 5 ORDER BY source, doc_id""".stripMargin,

    // Streaming HLL distinct-per-hour must equal the batch replica of the
    // identical register/estimate formula (see q_hll for the arithmetic).
    "q_stream_distinct" ->
      s"""WITH h AS (
         |  SELECT date_trunc('hour', ts) AS ws, md5('hll:' || user_id) AS hx
         |  FROM events),
         |rr AS (SELECT ws,
         |  ${hexN("substr(hx, 1, 3)", 3)} AS reg,
         |  ${hexN("substr(hx, 4, 10)", 10)} AS tail FROM h),
         |regs AS (SELECT ws, reg,
         |  max(CASE WHEN tail = 0 THEN 41 ELSE 41 - length(bin(tail)) END) AS mreg
         |  FROM rr GROUP BY 1, 2),
         |agg AS (SELECT ws,
         |  sum(CAST(1 AS BIGINT) << CAST(41 - mreg AS INTEGER)) AS sp,
         |  count(*) AS pres FROM regs GROUP BY 1),
         |est AS (SELECT ws, 4096 - pres AS v,
         |  sp + (4096 - pres) * (CAST(1 AS BIGINT) << 41) AS sumscaled FROM agg),
         |ed AS (SELECT ws, v,
         |  CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + CAST(1.079 AS DOUBLE) / CAST(4096.0 AS DOUBLE))
         |    * CAST(4096.0 AS DOUBLE) * CAST(4096.0 AS DOUBLE)
         |    * CAST(2199023255552.0 AS DOUBLE) / CAST(sumscaled AS DOUBLE) AS e
         |  FROM est),
         |fin AS (SELECT ws,
         |  CASE WHEN v > 0 AND e <= CAST(10240.0 AS DOUBLE)
         |    THEN (4096 * CAST(round(ln(CAST(4096.0 AS DOUBLE) / CAST(v AS DOUBLE)) * 1e6) AS BIGINT) + 500000) // 1000000
         |    ELSE CAST(floor(e) AS BIGINT) END AS hll_estimate
         |  FROM ed)
         |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, hll_estimate
         |FROM fin ORDER BY window_start""".stripMargin,

    // Snapshot diff: fingerprint both snapshots, full-outer join on id.
    "q_corpus_diff" ->
      s"""WITH old AS (
         |  SELECT doc_id, md5(${norm("text")}) AS fp FROM documents),
         |newd AS (
         |  SELECT doc_id,
         |    md5(${norm("CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END")}) AS fp
         |  FROM documents WHERE doc_id % 7 <> 0
         |  UNION ALL
         |  SELECT doc_id + 1000000, md5(${norm("text")})
         |  FROM documents WHERE doc_id % 11 = 0),
         |j AS (
         |  SELECT coalesce(o.doc_id, n.doc_id) AS id,
         |    CASE WHEN o.fp IS NULL THEN 'added'
         |         WHEN n.fp IS NULL THEN 'removed'
         |         WHEN o.fp <> n.fp THEN 'changed'
         |         ELSE 'unchanged' END AS status
         |  FROM old o FULL OUTER JOIN newd n ON o.doc_id = n.doc_id)
         |SELECT status, count(*) AS n_docs,
         |  min(id) AS min_id, max(id) AS max_id
         |FROM j GROUP BY status ORDER BY status""".stripMargin,

    // One-pass profile: stacked (column, value) strings; stats + the
    // deterministic HLL estimate (q_hll's arithmetic) per column.
    "q_profile" ->
      s"""WITH st AS (
         |  SELECT 'doc_id' AS c, CAST(doc_id AS VARCHAR) AS value FROM documents
         |  UNION ALL SELECT 'lang', lang FROM documents
         |  UNION ALL SELECT 'source', source FROM documents
         |  UNION ALL SELECT 'n_chars', CAST(n_chars AS VARCHAR) FROM documents),
         |stats AS (
         |  SELECT c, count(*) AS n_rows,
         |    CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
         |    min(value) AS min_val, max(value) AS max_val
         |  FROM st GROUP BY 1),
         |h AS (SELECT c, md5('hll:' || value) AS hx FROM st WHERE value IS NOT NULL),
         |rr AS (SELECT c,
         |  ${hexN("substr(hx, 1, 3)", 3)} AS reg,
         |  ${hexN("substr(hx, 4, 10)", 10)} AS tail FROM h),
         |regs AS (SELECT c, reg,
         |  max(CASE WHEN tail = 0 THEN 41 ELSE 41 - length(bin(tail)) END) AS mreg
         |  FROM rr GROUP BY 1, 2),
         |agg AS (SELECT c,
         |  sum(CAST(1 AS BIGINT) << CAST(41 - mreg AS INTEGER)) AS sp,
         |  count(*) AS pres FROM regs GROUP BY 1),
         |est AS (SELECT c, 4096 - pres AS v,
         |  sp + (4096 - pres) * (CAST(1 AS BIGINT) << 41) AS sumscaled FROM agg),
         |ed AS (SELECT c, v,
         |  CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + CAST(1.079 AS DOUBLE) / CAST(4096.0 AS DOUBLE))
         |    * CAST(4096.0 AS DOUBLE) * CAST(4096.0 AS DOUBLE)
         |    * CAST(2199023255552.0 AS DOUBLE) / CAST(sumscaled AS DOUBLE) AS e
         |  FROM est),
         |fin AS (SELECT c,
         |  CASE WHEN v > 0 AND e <= CAST(10240.0 AS DOUBLE)
         |    THEN (4096 * CAST(round(ln(CAST(4096.0 AS DOUBLE) / CAST(v AS DOUBLE)) * 1e6) AS BIGINT) + 500000) // 1000000
         |    ELSE CAST(floor(e) AS BIGINT) END AS hll_estimate
         |  FROM ed)
         |SELECT s.c AS "column", CAST(s.n_rows AS BIGINT) AS n_rows, s.n_nulls,
         |  coalesce(f.hll_estimate, 0) AS n_distinct_est, s.min_val, s.max_val
         |FROM stats s LEFT JOIN fin f ON s.c = f.c
         |ORDER BY s.c""".stripMargin,

    // k-anonymity audit: QI equivalence classes with count +
    // count-distinct sensitive, one summary row of exact longs.
    "q_k_anonymity" ->
      """WITH cls AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(count(DISTINCT c_acctbal) AS BIGINT) AS l
        |  FROM customer GROUP BY 1, 2)
        |SELECT CAST(sum(n) AS BIGINT) AS n_rows,
        |  CAST(count(*) AS BIGINT) AS n_classes,
        |  CAST(min(n) AS BIGINT) AS k_anonymity,
        |  CAST(sum(CASE WHEN n < 10 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_violating_classes,
        |  CAST(sum(CASE WHEN n < 10 THEN n ELSE 0 END) AS BIGINT)
        |    AS rows_at_risk,
        |  CASE WHEN sum(n) > 0
        |    THEN CAST(sum(CASE WHEN n < 10 THEN n ELSE 0 END) * 1000000
        |      // sum(n) AS BIGINT)
        |    ELSE 0 END AS risk_share_micro,
        |  CAST(min(l) AS BIGINT) AS l_diversity
        |FROM cls""".stripMargin,

    // Script composition: subtractive regex counts over the planted
    // mixed-script text — characters, not bytes, on both engines.
    "q_script_dist" ->
      """WITH m AS (
        |  SELECT doc_id, coalesce(text, '') || ' Счёт №' ||
        |    CAST(doc_id AS VARCHAR) || '!' AS tx
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, CAST(length(tx) AS BIGINT) AS n_chars,
        |    CAST(length(tx) - length(regexp_replace(tx, '[A-Za-z]', '',
        |      'g')) AS BIGINT) AS latin,
        |    CAST(length(tx) - length(regexp_replace(tx, '[А-Яа-яЁё]', '',
        |      'g')) AS BIGINT) AS cyrillic,
        |    CAST(length(tx) - length(regexp_replace(tx, '[0-9]', '',
        |      'g')) AS BIGINT) AS digit,
        |    CAST(length(tx) - length(regexp_replace(tx, '\s', '',
        |      'g')) AS BIGINT) AS whitespace
        |  FROM m),
        |o AS (
        |  SELECT *, n_chars - latin - cyrillic - digit - whitespace
        |    AS other
        |  FROM c)
        |SELECT doc_id AS doc, n_chars, latin, cyrillic, digit,
        |  whitespace, other,
        |  CASE WHEN n_chars > 0 THEN latin * 1000000 // n_chars
        |    ELSE 0 END AS latin_share_micro,
        |  CASE WHEN n_chars > 0 THEN cyrillic * 1000000 // n_chars
        |    ELSE 0 END AS cyrillic_share_micro,
        |  CASE WHEN n_chars > 0 THEN other * 1000000 // n_chars
        |    ELSE 0 END AS other_share_micro
        |FROM o ORDER BY doc""".stripMargin,

    // Curriculum ordering: per-source rank/size windows, exact
    // equal-frequency band arithmetic, per-stage interleave positions,
    // cumulative stage offsets.
    "q_curriculum" ->
      """WITH r AS (
        |  SELECT doc_id, source,
        |    CAST(row_number() OVER (
        |      PARTITION BY source ORDER BY n_chars, doc_id) AS BIGINT) AS rn,
        |    CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS ns
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, source, (rn - 1) * 4 // ns + 1 AS stage, rn
        |  FROM r),
        |p AS (
        |  SELECT *, CAST(row_number() OVER (
        |    PARTITION BY stage ORDER BY rn, source, doc_id) AS BIGINT)
        |    AS pos_in_stage
        |  FROM s),
        |o AS (SELECT stage, CAST(count(*) AS BIGINT) AS sz
        |  FROM p GROUP BY 1),
        |c AS (SELECT stage,
        |  CAST(coalesce(sum(sz) OVER (ORDER BY stage
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) AS off
        |  FROM o)
        |SELECT p.doc_id, p.source, CAST(p.stage AS BIGINT) AS stage,
        |  p.pos_in_stage, c.off + p.pos_in_stage AS global_pos
        |FROM p JOIN c USING (stage) ORDER BY global_pos""".stripMargin,

    // Profile drift: the q_profile stack/stats/HLL chain once per half
    // (hllEstChain), then one row per column of ratio deltas.
    "q_profile_diff" -> {
      def side(sfx: String, parity: Int): String =
        s"""st$sfx AS (
           |  SELECT 'lang' AS c, lang AS value FROM documents
           |    WHERE doc_id % 2 = $parity
           |  UNION ALL SELECT 'source', source FROM documents
           |    WHERE doc_id % 2 = $parity
           |  UNION ALL SELECT 'n_chars', CAST(n_chars AS VARCHAR)
           |    FROM documents WHERE doc_id % 2 = $parity),
           |stats$sfx AS (
           |  SELECT c, CAST(count(*) AS BIGINT) AS n_rows,
           |    CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
           |      AS BIGINT) AS n_nulls,
           |    min(value) AS min_val, max(value) AS max_val
           |  FROM st$sfx GROUP BY 1),
           |h$sfx AS (SELECT c, md5('hll:' || value) AS hx
           |  FROM st$sfx WHERE value IS NOT NULL),
           |rr$sfx AS (SELECT c,
           |  ${hexN(s"substr(hx, 1, 3)", 3)} AS reg,
           |  ${hexN(s"substr(hx, 4, 10)", 10)} AS tail FROM h$sfx),
           |regs$sfx AS (SELECT c, reg,
           |  max(CASE WHEN tail = 0 THEN 41 ELSE 41 - length(bin(tail)) END)
           |    AS mreg
           |  FROM rr$sfx GROUP BY 1, 2),
           |${hllEstChain(sfx, s"regs$sfx", Seq("c"))}""".stripMargin
      s"""WITH ${side("b", 0)},
         |${side("a", 1)}
         |SELECT sb.c AS "column",
         |  sb.n_rows AS n_rows_before, sa.n_rows AS n_rows_after,
         |  CASE WHEN sb.n_rows > 0
         |    THEN CAST(sb.n_nulls * 1000000 // sb.n_rows AS BIGINT)
         |    ELSE 0 END AS null_ratio_before_micro,
         |  CASE WHEN sa.n_rows > 0
         |    THEN CAST(sa.n_nulls * 1000000 // sa.n_rows AS BIGINT)
         |    ELSE 0 END AS null_ratio_after_micro,
         |  CAST(coalesce(fa.hll_estimate, 0) * 1000000
         |    // greatest(coalesce(fb.hll_estimate, 0), 1) AS BIGINT)
         |    AS distinct_ratio_micro,
         |  (sb.min_val IS DISTINCT FROM sa.min_val) AS min_changed,
         |  (sb.max_val IS DISTINCT FROM sa.max_val) AS max_changed
         |FROM statsb sb JOIN statsa sa ON sb.c = sa.c
         |LEFT JOIN bfin fb ON fb.c = sb.c
         |LEFT JOIN afin fa ON fa.c = sb.c
         |ORDER BY sb.c""".stripMargin
    },

    // Weighted PageRank, 6 unrolled iterations: contribution =
    // (rank * w) // sum-of-weights(src), otherwise q_pagerank's integer
    // arithmetic verbatim.
    "q_pagerank_weighted" -> {
      val iter = (1 to 6).map { i =>
        s"""it$i AS (
           |  SELECT n.node, bp.base + (17 * coalesce(s.s, 0)) // 20 AS rank
           |  FROM nodes n CROSS JOIN bparams bp
           |  LEFT JOIN (
           |    SELECT e.dst AS node, CAST(sum((p.rank * e.w) // d.deg) AS BIGINT) AS s
           |    FROM it${i - 1} p
           |    JOIN e0 e ON p.node = e.src
           |    JOIN deg d ON d.src = e.src
           |    GROUP BY e.dst) s ON n.node = s.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH pairs AS (
         |  SELECT l_partkey * 2 AS a, l_suppkey * 2 + 1 AS b,
         |    CAST(count(*) AS BIGINT) AS w
         |  FROM lineitem GROUP BY 1, 2),
         |e0 AS (SELECT a AS src, b AS dst, w FROM pairs
         |       UNION ALL SELECT b AS src, a AS dst, w FROM pairs),
         |nodes AS (SELECT DISTINCT src AS node FROM e0),
         |deg AS (SELECT src, CAST(sum(w) AS BIGINT) AS deg FROM e0 GROUP BY 1),
         |bparams AS (
         |  SELECT (15 * 1000000000000) // (100 * count(*)) AS base,
         |         1000000000000 // count(*) AS init
         |  FROM nodes),
         |it0 AS (SELECT node, init AS rank FROM nodes CROSS JOIN bparams),
         |$iter
         |SELECT node, CAST(rank AS BIGINT) AS rank FROM it6
         |ORDER BY rank DESC, node LIMIT 20""".stripMargin
    },

    // Pairwise source-vocabulary overlap by HLL inclusion–exclusion:
    // per-source estimates + union-of-registers estimates, all from the
    // one register relation (q_hll's arithmetic via the shared chain).
    "q_hll_overlap" ->
      s"""WITH toks AS (
         |  SELECT source, unnest(str_split(${norm("text")}, ' ')) AS tok FROM documents),
         |tk AS (SELECT source, tok FROM toks WHERE tok <> ''),
         |h AS (SELECT source, md5('hll:' || tok) AS hx FROM tk),
         |rr AS (SELECT source,
         |  ${hexN("substr(hx, 1, 3)", 3)} AS reg,
         |  ${hexN("substr(hx, 4, 10)", 10)} AS tail FROM h),
         |regs AS (SELECT source, reg,
         |  max(CASE WHEN tail = 0 THEN 41 ELSE 41 - length(bin(tail)) END) AS mreg
         |  FROM rr GROUP BY 1, 2),
         |${hllEstChain("s_", "regs", Seq("source"))},
         |prs AS (
         |  SELECT g1.source AS a, g2.source AS b
         |  FROM (SELECT DISTINCT source FROM regs) g1,
         |       (SELECT DISTINCT source FROM regs) g2
         |  WHERE g1.source < g2.source),
         |mregs AS (
         |  SELECT p.a, p.b, r.reg, max(r.mreg) AS mreg
         |  FROM prs p JOIN regs r ON r.source = p.a OR r.source = p.b
         |  GROUP BY 1, 2, 3),
         |${hllEstChain("u_", "mregs", Seq("a", "b"))}
         |SELECT u.a, u.b,
         |  ea.hll_estimate AS distinct_a, eb.hll_estimate AS distinct_b,
         |  u.hll_estimate AS union_est,
         |  greatest(0, ea.hll_estimate + eb.hll_estimate - u.hll_estimate) AS overlap_est
         |FROM u_fin u
         |JOIN s_fin ea ON ea.source = u.a
         |JOIN s_fin eb ON eb.source = u.b
         |ORDER BY u.a, u.b""".stripMargin,

    // MAD outliers: medians quantized to 4 dp before the strict-> flag
    // (boundary stability), same interpolated-median parity as
    // q_percentiles.
    "q_outliers" ->
      """WITH med AS (
        |  SELECT o_orderpriority, round(median(o_totalprice), 4) AS med
        |  FROM orders GROUP BY 1),
        |mad AS (
        |  SELECT o.o_orderpriority,
        |    round(median(abs(o.o_totalprice - m.med)), 4) AS mad
        |  FROM orders o JOIN med m USING (o_orderpriority) GROUP BY 1),
        |fl AS (
        |  SELECT o.o_orderpriority, o.o_totalprice,
        |    abs(o.o_totalprice - m.med) > 3.0 * d.mad AS is_out
        |  FROM orders o
        |  JOIN med m USING (o_orderpriority)
        |  JOIN mad d USING (o_orderpriority))
        |SELECT o_orderpriority, count(*) AS n_orders,
        |  CAST(sum(CASE WHEN is_out THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  round(max(CASE WHEN is_out THEN o_totalprice END), 2) AS max_outlier
        |FROM fl GROUP BY 1 ORDER BY 1""".stripMargin,

    // Trimmed/winsorized means: fences and values quantized to 1e-4 long
    // units (round-to-integer of the interpolated quantile — the same
    // quantile_cont parity as q_percentiles), exact long sums, one integer
    // floor-division per mean. DuckDB integer sums are HUGEINT → CAST.
    "q_trimmed_stats" ->
      """WITH f AS (
        |  SELECT o_orderstatus,
        |    CAST(round(quantile_cont(o_totalprice, 0.05) * 10000) AS BIGINT) AS lo4,
        |    CAST(round(quantile_cont(o_totalprice, 0.95) * 10000) AS BIGINT) AS hi4
        |  FROM orders GROUP BY 1),
        |v AS (
        |  SELECT o.o_orderstatus,
        |    CAST(round(o.o_totalprice * 10000) AS BIGINT) AS v4, f.lo4, f.hi4
        |  FROM orders o JOIN f USING (o_orderstatus)),
        |a AS (
        |  SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN v4 BETWEEN lo4 AND hi4 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |    CAST(sum(CASE WHEN v4 BETWEEN lo4 AND hi4 THEN v4 ELSE 0 END) AS BIGINT) AS tsum,
        |    CAST(sum(least(greatest(v4, lo4), hi4)) AS BIGINT) AS wsum
        |  FROM v GROUP BY 1)
        |SELECT o_orderstatus, n, n_kept,
        |  CASE WHEN n_kept > 0 THEN (tsum * 100) // n_kept END AS trimmed_mean_micro,
        |  (wsum * 100) // n AS winsor_mean_micro
        |FROM a ORDER BY o_orderstatus""".stripMargin,

    // Empirical-Bayes shrunk means: 1e-4 quantized values, HUGEINT sums,
    // one cross-multiplied integral division per group (k = 20).
    "q_shrunk_means" ->
      """WITH v AS (
        |  SELECT source, lang,
        |    CAST(CAST(round(n_chars * 10000) AS BIGINT) AS HUGEINT) AS v4
        |  FROM documents WHERE n_chars IS NOT NULL),
        |grp AS (
        |  SELECT source, lang, CAST(count(*) AS HUGEINT) AS n, sum(v4) AS s
        |  FROM v GROUP BY 1, 2),
        |tot AS (SELECT CAST(count(*) AS HUGEINT) AS gn, sum(v4) AS gs FROM v)
        |SELECT source, lang, CAST(n AS BIGINT) AS n,
        |  CAST((s * 100) // n AS BIGINT) AS mean_micro,
        |  CAST(((s * gn + 20 * gs) * 100) // (gn * (n + 20)) AS BIGINT)
        |    AS shrunk_micro
        |FROM grp, tot ORDER BY source, lang""".stripMargin,

    // Markov transitions: lead over (user, ts, event_id), then exact
    // integral division for the row-conditional probability (window sum
    // over BIGINT is HUGEINT → CAST).
    "q_transitions" ->
      """WITH p AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |a AS (
        |  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n_transitions
        |  FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n_transitions,
        |  CAST((n_transitions * 1000000)
        |    // sum(n_transitions) OVER (PARTITION BY from_type) AS BIGINT)
        |    AS p_micro
        |FROM a ORDER BY from_type, to_type""".stripMargin,

    // Sorted-neighborhood blocking: the oracle states the definition
    // directly — global row_number over (key, id) and a rank-distance
    // self-join; Spark's range-partitioned rank must reproduce it.
    "q_sorted_neighborhood" ->
      """WITH k AS (
        |  SELECT doc_id, substr(lower(text), 1, 12) AS key FROM documents),
        |r AS (
        |  SELECT doc_id, row_number() OVER (ORDER BY key, doc_id) AS rnk
        |  FROM k)
        |SELECT x.doc_id AS a, y.doc_id AS b
        |FROM r x JOIN r y ON y.rnk > x.rnk AND y.rnk - x.rnk <= 3
        |ORDER BY a, b""".stripMargin,

    // Blocking-quality triple: SN window-3 candidates vs 17-char
    // name-prefix truth pairs; C(n,2) in HUGEINT, one integral division
    // per ratio.
    "q_blocking_eval" ->
      """WITH c AS (
        |  SELECT c_custkey AS id, c_name, substr(c_name, 1, 17) AS tk
        |  FROM customer),
        |tru AS (
        |  SELECT x.id AS a, y.id AS b FROM c x
        |  JOIN c y ON x.tk = y.tk AND x.id < y.id),
        |sn AS (
        |  SELECT id, CAST(row_number() OVER (ORDER BY c_name, id)
        |    AS BIGINT) AS rn FROM c),
        |cand AS (
        |  SELECT x.id AS a, y.id AS b FROM sn x
        |  JOIN sn y ON y.rn > x.rn AND y.rn - x.rn <= 3),
        |agg AS (SELECT
        |  (SELECT CAST(count(DISTINCT id) AS BIGINT) FROM c) AS n_records,
        |  (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidates,
        |  (SELECT CAST(count(*) AS BIGINT) FROM tru) AS n_truth,
        |  (SELECT CAST(count(*) AS BIGINT)
        |   FROM cand JOIN tru USING (a, b)) AS n_hit),
        |p AS (SELECT *,
        |  CAST(n_records AS HUGEINT) * (n_records - 1) // 2 AS poss
        |  FROM agg)
        |SELECT n_records, CAST(poss AS BIGINT) AS n_possible_pairs,
        |  n_candidates, n_truth, n_hit,
        |  CASE WHEN poss > 0
        |    THEN CAST((poss - n_candidates) * 1000000 // poss AS BIGINT)
        |  END AS reduction_micro,
        |  CASE WHEN n_truth > 0
        |    THEN CAST(n_hit * 1000000 // n_truth AS BIGINT)
        |  END AS completeness_micro,
        |  CASE WHEN n_candidates > 0
        |    THEN CAST(n_hit * 1000000 // n_candidates AS BIGINT)
        |  END AS quality_micro
        |FROM p""".stripMargin,

    // URL canonicalization: the oracle reconstructs BOTH the messy input
    // and the expected canonical form directly from doc_id — an
    // independent derivation the Spark normalizer never sees.
    "q_url_canon" ->
      """SELECT doc_id,
        |  'HTTPS://Example' || (doc_id % 3) || '.COM'
        |    || CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END
        |    || '/Path/' || doc_id
        |    || CASE WHEN doc_id % 2 = 0 THEN '?utm_source=x&b=2&a=1'
        |       ELSE '?z=9&utm_campaign=c&fbclid=abc' END
        |    || CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END AS url,
        |  'https://example' || (doc_id % 3) || '.com/Path/' || doc_id
        |    || CASE WHEN doc_id % 2 = 0 THEN '?a=1&b=2' ELSE '?z=9' END
        |    AS url_canon
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Changeset apply: winner per id by (seq, op) descending — upsert
    // sorts after delete so it wins ties; a present winner's row image
    // replaces the payload outright (CASE on presence, NOT coalesce).
    "q_apply_changeset" ->
      """WITH base AS (SELECT doc_id, text, source FROM documents),
        |ch AS (
        |  SELECT doc_id, 'delete' AS op, 1 AS seq,
        |    CAST(NULL AS VARCHAR) AS text, CAST(NULL AS VARCHAR) AS source
        |  FROM base WHERE doc_id % 7 = 0
        |  UNION ALL SELECT doc_id, 'upsert', 2, text || ' v2', source
        |  FROM base WHERE doc_id % 5 = 0
        |  UNION ALL SELECT doc_id + 1000000, 'upsert', 1, text, source
        |  FROM base WHERE doc_id % 11 = 0
        |  UNION ALL SELECT doc_id, 'delete', 5, NULL, NULL
        |  FROM base WHERE doc_id % 13 = 0),
        |w AS (
        |  SELECT doc_id, op, text, source FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY doc_id ORDER BY seq DESC, op DESC) AS rn
        |    FROM ch) WHERE rn = 1)
        |SELECT coalesce(b.doc_id, w.doc_id) AS doc_id,
        |  CASE WHEN w.doc_id IS NOT NULL THEN w.text ELSE b.text END AS text,
        |  CASE WHEN w.doc_id IS NOT NULL THEN w.source ELSE b.source END AS source
        |FROM base b FULL OUTER JOIN w ON b.doc_id = w.doc_id
        |WHERE w.doc_id IS NULL OR w.op <> 'delete'
        |ORDER BY doc_id""".stripMargin,

    // Grouped OLS: HUGEINT power sums mirror Spark's decimal(38,0) exact
    // accumulation; // truncates toward zero exactly like Spark's div
    // (both verified on negative operands).
    "q_linear_trend" ->
      """WITH v AS (
        |  SELECT o_orderpriority,
        |    CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS HUGEINT) AS x,
        |    CAST(CAST(round(o_totalprice * 10000) AS BIGINT) AS HUGEINT) AS y
        |  FROM orders
        |  WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL),
        |a AS (
        |  SELECT o_orderpriority, CAST(count(*) AS HUGEINT) AS n,
        |    sum(x) AS sx, sum(y) AS sy, sum(x*x) AS sxx, sum(x*y) AS sxy
        |  FROM v GROUP BY 1),
        |d AS (
        |  SELECT o_orderpriority, n, sx, sy,
        |    n*sxy - sx*sy AS num, n*sxx - sx*sx AS den FROM a)
        |SELECT o_orderpriority, CAST(n AS BIGINT) AS n,
        |  CASE WHEN den > 0 THEN CAST((num * 100) // den AS BIGINT) END AS slope_micro,
        |  CASE WHEN den > 0 THEN CAST(((sy*den - num*sx) * 100) // (n*den) AS BIGINT) END AS intercept_micro,
        |  CAST((sy * 100) // n AS BIGINT) AS mean_y_micro
        |FROM d ORDER BY o_orderpriority""".stripMargin,

    "q_json_extract" ->
      """SELECT event_id, CAST(props->>'$.k' AS BIGINT) AS k
        |FROM events ORDER BY event_id""".stripMargin,

    "q_array_funcs" ->
      """WITH q AS (
        |  SELECT vec_id, embedding,
        |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
        |  FROM embeddings)
        |SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
        |  qv[1] AS first_q, qv[-1] AS last_q,
        |  list_min(qv) AS min_q, list_max(qv) AS max_q
        |FROM q ORDER BY vec_id""".stripMargin,

    "q_pivot" ->
      """SELECT user_id,
        |  count(*) FILTER (WHERE event_type = 'click') AS click,
        |  count(*) FILTER (WHERE event_type = 'view') AS view,
        |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |  count(*) FILTER (WHERE event_type = 'signup') AS signup,
        |  count(*) FILTER (WHERE event_type = 'error') AS error
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_unpivot" ->
      """SELECT l_orderkey, l_linenumber, measure, value
        |FROM (
        |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value
        |  FROM lineitem WHERE l_orderkey < 100
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
        |  FROM lineitem WHERE l_orderkey < 100
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
        |  FROM lineitem WHERE l_orderkey < 100)
        |ORDER BY l_orderkey, l_linenumber, measure, value""".stripMargin,

    "q_sql_text" ->
      """SELECT n_name, round(sum(o_totalprice), 2) AS total_value, count(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q_events_tumbling" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
        |  event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // The STREAMING tumbling agg (MemoryStream replay) must equal the
    // batch aggregation — same statement as q_events_tumbling.
    "q_stream_tumbling" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
        |  event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Sliding windows (10 min wide, 5 min slide): every event lands in
    // exactly two epoch-aligned buckets — expand via a 2-row VALUES join.
    // make_timestamp(µs) keeps the arithmetic on the naive UTC clock,
    // matching Spark's epoch-aligned window() under the UTC session TZ.
    "q_events_sliding" ->
      """WITH w AS (
        |  SELECT make_timestamp((CAST(floor(epoch(ts) / 300) AS BIGINT) * 300
        |                         - o.k * 300) * 1000000) AS ws,
        |         event_type
        |  FROM events, (VALUES (0), (1)) o(k))
        |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, event_type,
        |  count(*) AS n_events
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // The replayed stream-stream interval join (nothing late-dropped, so
    // the finished stream equals the batch range join).
    "q_stream_interval" ->
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id,
        |  round(p.value, 2) AS amount
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON p.user_id = c.user_id
        | AND p.ts BETWEEN c.ts - INTERVAL 1 HOUR AND c.ts
        |ORDER BY click_id, purchase_id""".stripMargin,

    // Stream-static enrichment: the stateless per-batch broadcast join
    // must equal the plain batch join.
    "q_stream_enrich" ->
      """SELECT e.event_id, e.user_id, n.n_name
        |FROM events e LEFT JOIN nation n ON e.user_id % 25 = n.n_nationkey
        |ORDER BY e.event_id""".stripMargin,

    // Stream-stream LEFT OUTER interval join: the watermark-flushed
    // stream must equal the batch left-outer range join. Spark sorts
    // nulls first under ASC; DuckDB defaults NULLS LAST — spelled out.
    "q_stream_outer" ->
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id,
        |  round(p.value, 2) AS amount
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON p.user_id = c.user_id
        | AND p.ts BETWEEN c.ts - INTERVAL 1 HOUR AND c.ts
        |ORDER BY click_id, purchase_id ASC NULLS FIRST""".stripMargin,

    // Full-outer stream-stream interval join: matched pairs plus
    // unmatched rows from BOTH sides (null other-side columns). NULLS
    // FIRST spelled out — DuckDB defaults ASC to NULLS LAST, Spark to
    // nulls first.
    "q_stream_full_outer" ->
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id,
        |  round(p.value, 2) AS amount
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON p.user_id = c.user_id
        | AND p.ts BETWEEN c.ts - INTERVAL 1 HOUR AND c.ts
        |ORDER BY click_id ASC NULLS FIRST,
        |  purchase_id ASC NULLS FIRST""".stripMargin,

    // Streaming exact dedup keeps one row per key: the surviving key set
    // is the DISTINCT key set.
    "q_stream_dedup" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,

    // Streaming flatMapGroupsWithState sessionization replay must equal
    // the batch gap-session definition (session identity = its start ts).
    "q_stream_sessionize" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |           OR CAST(floor(epoch(ts)) AS BIGINT)
        |              - CAST(floor(epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts))) AS BIGINT) > 1800
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |sessions AS (
        |  SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM flagged)
        |SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  count(*) AS n_events, round(sum(value), 2) AS session_value
        |FROM sessions GROUP BY user_id, session_id
        |ORDER BY user_id, session_start""".stripMargin,

    // Built-in session_window is HALF-OPEN: merge iff diff < gap at
    // exact µs precision (vs the custom fold's > gap at floored-second
    // grain above) — the boundary rule is part of the oracle.
    "q_stream_session_builtin" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |           OR epoch_us(ts)
        |              - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts))
        |              >= 1800000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |sessions AS (
        |  SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM flagged)
        |SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  count(*) AS n_events, round(sum(value), 2) AS session_value
        |FROM sessions GROUP BY user_id, session_id
        |ORDER BY user_id, session_start""".stripMargin,

    "q_events_sessionize" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |           OR CAST(floor(epoch(ts)) AS BIGINT)
        |              - CAST(floor(epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts))) AS BIGINT) > 1800
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |sessions AS (
        |  SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM flagged)
        |SELECT user_id, session_id, count(*) AS n_events, round(sum(value), 2) AS session_value
        |FROM sessions GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin,

    "q_events_props" ->
      """SELECT event_id, TRY_CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) AS k
        |FROM events ORDER BY event_id""".stripMargin,

    "q_asof_join" ->
      """SELECT l.event_id, r.event_id AS purchase_event,
        |  round(r.value, 2) AS purchase_value
        |FROM (SELECT * FROM events WHERE event_type = 'click') l
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
        |  ON l.user_id = r.user_id AND r.ts <= l.ts
        |ORDER BY l.event_id""".stripMargin,

    // Same native ASOF oracle as q_asof_join: the bucketed engine path
    // must be indistinguishable from the direct one.
    "q_asof_bucketed" ->
      """SELECT l.event_id, r.event_id AS purchase_event,
        |  round(r.value, 2) AS purchase_value
        |FROM (SELECT * FROM events WHERE event_type = 'click') l
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
        |  ON l.user_id = r.user_id AND r.ts <= l.ts
        |ORDER BY l.event_id""".stripMargin,

    "q_range_join" ->
      """SELECT l_orderkey, l_linenumber, p_partkey, l_extendedprice
        |FROM lineitem JOIN part
        |  ON l_extendedprice >= p_retailprice - 1
        | AND l_extendedprice <= p_retailprice + 1
        |ORDER BY l_orderkey, l_linenumber, p_partkey""".stripMargin,

    "q_dedup_exact" ->
      s"""SELECT md5(${norm("text")}) AS content_hash,
         |  min(doc_id) AS canonical_id, count(*) AS n_copies
         |FROM documents GROUP BY 1 ORDER BY content_hash""".stripMargin,

    "q_dedup_ngram_jaccard" ->
      s"""WITH $ngramCtes
         |SELECT id_a, id_b, round(jaccard, 4) AS jaccard
         |FROM scored WHERE jaccard >= 0.8 ORDER BY id_a, id_b""".stripMargin,

    // MinHash+LSH with the replayable affine family: the 60-bit md5 base
    // hash and the (a·h + b) mod 2⁶¹−1 permutations are recomputed in
    // HUGEINT (h < 2⁶⁰, a < 2⁶¹ ⇒ product < 2¹²¹, inside int128), the
    // banding replayed via md5(string_agg) band keys — the oracle
    // reproduces WHICH pairs collide, then the exact-Jaccard filter.
    // Coefficients come from the same driver-side generator the engine
    // bakes into its plan (Dedup.minhashCoeffs), so the SQL text and the
    // Spark literals cannot drift independently.
    "q_dedup_minhash_lsh" -> {
      val coeffs = graft.dedup.Dedup.minhashCoeffs(64)
      val p = graft.dedup.Dedup.MinhashPrime
      val coValues = coeffs.zipWithIndex
        .map { case ((a, b), i) => s"($i, $a, $b)" }.mkString(",\n    ")
      s"""WITH $ngramCtes,
         |dv AS MATERIALIZED (SELECT DISTINCT s FROM ex),
         |hv AS MATERIALIZED (
         |  SELECT s, CAST(${hexN("substr(md5('mh:' || s), 1, 15)", 15)}
         |    AS HUGEINT) AS h
         |  FROM dv),
         |co AS (SELECT * FROM (VALUES
         |    $coValues) AS t(i, a, b)),
         |mh AS MATERIALIZED (
         |  SELECT ex.doc, co.i,
         |    min(CAST((hv.h * CAST(co.a AS HUGEINT) + CAST(co.b AS HUGEINT))
         |      % CAST($p AS HUGEINT) AS BIGINT)) AS m
         |  FROM ex JOIN hv USING (s) CROSS JOIN co
         |  GROUP BY 1, 2),
         |banded AS MATERIALIZED (
         |  SELECT doc, i // 4 AS band,
         |    md5(string_agg(CAST(m AS VARCHAR), ',' ORDER BY i)) AS bk
         |  FROM mh GROUP BY doc, i // 4),
         |cand AS MATERIALIZED (
         |  SELECT DISTINCT a.doc AS id_a, b.doc AS id_b
         |  FROM banded a JOIN banded b
         |    ON a.band = b.band AND a.bk = b.bk AND a.doc < b.doc),
         |verified AS (
         |  SELECT s.id_a, s.id_b, s.jaccard
         |  FROM scored s JOIN cand c ON s.id_a = c.id_a AND s.id_b = c.id_b
         |  WHERE s.jaccard >= 0.8)
         |SELECT id_a, id_b, jaccard FROM verified
         |ORDER BY id_a, id_b""".stripMargin
    },

    // Fellegi–Sunter over sorted-neighborhood blocks: row_number
    // replica of the blocking, then per-field levenshtein CASE weights
    // summed as exact longs.
    "q_linkage" ->
      s"""WITH $linkageCtes
         |SELECT a, b, CAST(score_micro AS BIGINT) AS score_micro,
         |  score_micro >= 3000000 AS is_match
         |FROM sc ORDER BY a, b""".stripMargin,

    // Transitive closure of the linkage matches via the recursive
    // reachability CTE (same shape as q_dedup_clusters); singletons
    // label themselves through the left-join coalesce.
    "q_er_clusters" ->
      s"""WITH RECURSIVE $linkageCtes,
         |m AS (SELECT a, b FROM sc WHERE score_micro >= 3000000),
         |edges AS (
         |  SELECT a AS u, b AS v FROM m
         |  UNION ALL
         |  SELECT b, a FROM m),
         |reach AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT rr.u, e.v FROM reach rr JOIN edges e ON rr.v = e.u),
         |labels AS (SELECT u AS id, least(u, min(v)) AS cluster_id
         |  FROM reach GROUP BY u)
         |SELECT c.c_custkey AS id,
         |  coalesce(l.cluster_id, c.c_custkey) AS cluster_id
         |FROM customer c LEFT JOIN labels l ON c.c_custkey = l.id
         |ORDER BY id""".stripMargin,

    // Golden records: cluster labels as in q_er_clusters, then per
    // (cluster, field) mode election — row_number over (count DESC,
    // value ASC) replicates the engine's min(struct(-cnt, v)) rule —
    // and a CASE pivot back to columns.
    "q_golden" ->
      s"""WITH RECURSIVE $linkageCtes,
         |m AS (SELECT a, b FROM sc WHERE score_micro >= 3000000),
         |edges AS (
         |  SELECT a AS u, b AS v FROM m
         |  UNION ALL
         |  SELECT b, a FROM m),
         |reach AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT rr.u, e.v FROM reach rr JOIN edges e ON rr.v = e.u),
         |labels AS (SELECT u AS id, least(u, min(v)) AS cluster_id
         |  FROM reach GROUP BY u),
         |cl AS (
         |  SELECT coalesce(l.cluster_id, c.c_custkey) AS cluster_id,
         |    c.c_name, c.c_mktsegment,
         |    CAST(c.c_nationkey AS VARCHAR) AS c_nationkey
         |  FROM customer c LEFT JOIN labels l ON c.c_custkey = l.id),
         |sizes AS (
         |  SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members
         |  FROM cl GROUP BY 1),
         |st AS (
         |  SELECT cluster_id, 'c_name' AS f, c_name AS v FROM cl
         |  WHERE c_name IS NOT NULL
         |  UNION ALL
         |  SELECT cluster_id, 'c_mktsegment', c_mktsegment FROM cl
         |  WHERE c_mktsegment IS NOT NULL
         |  UNION ALL
         |  SELECT cluster_id, 'c_nationkey', c_nationkey FROM cl
         |  WHERE c_nationkey IS NOT NULL),
         |cn AS (
         |  SELECT cluster_id, f, v, count(*) AS cnt FROM st GROUP BY 1, 2, 3),
         |el AS (
         |  SELECT cluster_id, f, v FROM (
         |    SELECT cluster_id, f, v, row_number() OVER (
         |      PARTITION BY cluster_id, f ORDER BY cnt DESC, v ASC) AS rn
         |    FROM cn) WHERE rn = 1)
         |SELECT s.cluster_id, s.n_members,
         |  max(CASE WHEN e.f = 'c_name' THEN e.v END) AS c_name,
         |  max(CASE WHEN e.f = 'c_mktsegment' THEN e.v END) AS c_mktsegment,
         |  max(CASE WHEN e.f = 'c_nationkey' THEN e.v END) AS c_nationkey
         |FROM sizes s LEFT JOIN el e ON s.cluster_id = e.cluster_id
         |GROUP BY 1, 2 ORDER BY s.cluster_id""".stripMargin,

    // Winnowing: gram hash = first 15 md5 hex chars (60-bit), tie-encoded
    // key hash·2^20 + pos in HUGEINT (= Spark's decimal(38,0)); window
    // min over full windows only; texts under one window keep their
    // global min (greatest(..., 1)).
    "q_winnow" -> {
      val key = hexN("md5(substr(t, pos, 5))", 15)
      s"""WITH nt AS (
         |  SELECT doc_id AS doc, ${norm("text")} AS t FROM documents
         |  WHERE doc_id % 10 = 0),
         |g AS (
         |  SELECT doc, t, greatest(len(t) - 4, 1) AS ng,
         |    unnest(generate_series(1, greatest(len(t) - 4, 1))) AS pos
         |  FROM nt),
         |keyed AS (
         |  SELECT doc, ng, pos,
         |    CAST($key AS HUGEINT) * 1048576 + pos AS k
         |  FROM g),
         |win AS (
         |  SELECT doc, ng, pos, min(k) OVER (
         |    PARTITION BY doc ORDER BY pos
         |    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS winner
         |  FROM keyed),
         |sel AS (
         |  SELECT DISTINCT doc, winner FROM win
         |  WHERE pos <= greatest(ng - 3, 1))
         |SELECT doc, CAST(winner % 1048576 AS BIGINT) AS fp_pos,
         |  CAST(winner // 1048576 AS BIGINT) AS fp_hash
         |FROM sel ORDER BY doc, fp_pos, fp_hash""".stripMargin
    },

    // Ordered containment pairs: the naive all-(ordered)-pairs join the
    // prefix-filtered engine form must reproduce; score is the exact
    // integral micro-division (no float ratio).
    "q_containment" ->
      s"""WITH $ngramCtes,
         |common2 AS (
         |  SELECT a.doc AS id_a, b.doc AS id_b,
         |    CAST(count(*) AS BIGINT) AS n_common
         |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc <> b.doc
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b,
         |  CAST((n_common * 1000000) // za.n_sh AS BIGINT) AS containment_micro
         |FROM common2 JOIN sizes za ON id_a = za.doc
         |WHERE n_common * 1000000 >= 900000 * za.n_sh
         |ORDER BY id_a, id_b""".stripMargin,

    "q_dedup_clusters" ->
      s"""WITH RECURSIVE $ngramCtes,
         |pairs AS (SELECT id_a, id_b FROM scored WHERE jaccard >= 0.8),
         |edges AS (
         |  SELECT id_a AS u, id_b AS v FROM pairs
         |  UNION ALL
         |  SELECT id_b, id_a FROM pairs),
         |reach AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
         |SELECT u AS doc, least(u, min(v)) AS cluster_id
         |FROM reach GROUP BY u ORDER BY doc""".stripMargin,

    // Label-vote replica: gold-join accuracy floor-division weights,
    // left-join prior 500000, mass aggregation, row_number election
    // (mass desc, label asc == the engine's min(struct(-mass, label))).
    "q_label_vote" ->
      """WITH v AS MATERIALIZED (
        |  SELECT l_orderkey AS item, l_suppkey % 31 AS rater,
        |    l_returnflag AS label
        |  FROM lineitem),
        |g AS MATERIALIZED (
        |  SELECT o_orderkey AS item,
        |    CASE WHEN o_orderstatus = 'F' THEN 'R'
        |         WHEN o_orderstatus = 'O' THEN 'N' ELSE 'A' END AS glabel
        |  FROM orders WHERE o_orderkey % 7 = 0),
        |w AS MATERIALIZED (
        |  SELECT rater,
        |    (sum(CASE WHEN label = glabel THEN 1 ELSE 0 END) * 1000000)
        |      // count(*) AS w
        |  FROM v JOIN g USING (item) GROUP BY rater),
        |m AS MATERIALIZED (
        |  SELECT item, label, CAST(sum(coalesce(w.w, 500000)) AS BIGINT) AS mass,
        |    CAST(count(*) AS BIGINT) AS votes
        |  FROM v LEFT JOIN w USING (rater) GROUP BY item, label),
        |e AS (
        |  SELECT item, label, mass,
        |    row_number() OVER (PARTITION BY item ORDER BY mass DESC, label) AS rk,
        |    sum(votes) OVER (PARTITION BY item) AS n_votes,
        |    count(*) OVER (PARTITION BY item) AS n_labels
        |  FROM m)
        |SELECT CAST(item AS BIGINT) AS item, label,
        |  CAST(mass AS BIGINT) AS weight_micro,
        |  CAST(n_votes AS BIGINT) AS n_votes,
        |  CAST(n_labels AS BIGINT) AS n_labels
        |FROM e WHERE rk = 1 ORDER BY item""".stripMargin,

    // Stupid Backoff replica: positional trigram joins over the train
    // slice's count relations, the engine's CASE tiers, round(ln·1e6)
    // per trigram (the lm_score quantization), floored mean quotient.
    "q_lm_backoff" ->
      s"""WITH docs AS MATERIALIZED (
         |  SELECT doc_id AS doc, ${norm("text")} AS nt FROM documents),
         |post AS MATERIALIZED (
         |  SELECT doc, unnest(generate_series(1, len(str_split(nt, ' ')))) AS p,
         |    unnest(str_split(nt, ' ')) AS w
         |  FROM docs WHERE nt != ''),
         |train AS MATERIALIZED (SELECT * FROM post WHERE doc % 3 != 0),
         |uni AS MATERIALIZED (
         |  SELECT w, CAST(count(*) AS BIGINT) AS uc FROM train GROUP BY w),
         |bi AS MATERIALIZED (
         |  SELECT a.w AS x1, b.w AS x2, CAST(count(*) AS BIGINT) AS bc
         |  FROM train a JOIN train b ON a.doc = b.doc AND b.p = a.p + 1
         |  GROUP BY 1, 2),
         |tri AS MATERIALIZED (
         |  SELECT a.w AS w1, b.w AS w2, c.w AS w3, CAST(count(*) AS BIGINT) AS tc
         |  FROM train a JOIN train b ON a.doc = b.doc AND b.p = a.p + 1
         |  JOIN train c ON a.doc = c.doc AND c.p = a.p + 2
         |  GROUP BY 1, 2, 3),
         |nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM train),
         |occ AS MATERIALIZED (
         |  SELECT a.doc, a.w AS w1, b.w AS w2, c.w AS w3
         |  FROM post a JOIN post b ON a.doc = b.doc AND b.p = a.p + 1
         |  JOIN post c ON a.doc = c.doc AND c.p = a.p + 2),
         |sc AS MATERIALIZED (
         |  SELECT o.doc,
         |    CASE WHEN t.tc IS NOT NULL THEN 0
         |         WHEN b23.bc IS NOT NULL THEN 1
         |         WHEN u3.uc IS NOT NULL THEN 2 ELSE 3 END AS tier,
         |    CASE WHEN t.tc IS NOT NULL
         |        THEN CAST(round(ln(CAST(t.tc AS DOUBLE) / b12.bc) * 1e6) AS BIGINT)
         |      WHEN b23.bc IS NOT NULL
         |        THEN CAST(round(ln(0.4 * b23.bc / u2.uc) * 1e6) AS BIGINT)
         |      WHEN u3.uc IS NOT NULL
         |        THEN CAST(round(ln(0.16 * u3.uc / nn.n) * 1e6) AS BIGINT)
         |      END AS lp6
         |  FROM occ o
         |  LEFT JOIN tri t ON o.w1 = t.w1 AND o.w2 = t.w2 AND o.w3 = t.w3
         |  LEFT JOIN bi b12 ON o.w1 = b12.x1 AND o.w2 = b12.x2
         |  LEFT JOIN bi b23 ON o.w2 = b23.x1 AND o.w3 = b23.x2
         |  LEFT JOIN uni u2 ON o.w2 = u2.w
         |  LEFT JOIN uni u3 ON o.w3 = u3.w
         |  CROSS JOIN nn),
         |agg AS (
         |  SELECT doc,
         |    CAST(sum(CASE WHEN tier = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_tri,
         |    CAST(sum(CASE WHEN tier = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bi,
         |    CAST(sum(CASE WHEN tier = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_uni,
         |    CAST(sum(CASE WHEN tier = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
         |    CASE WHEN sum(CASE WHEN tier < 3 THEN 1 ELSE 0 END) > 0
         |      THEN CAST(floor(CAST(sum(lp6) AS DOUBLE)
         |        / sum(CASE WHEN tier < 3 THEN 1 ELSE 0 END)) AS BIGINT) / 1e6
         |      END AS sb_score
         |  FROM sc GROUP BY doc)
         |SELECT d.doc_id AS doc,
         |  coalesce(a.n_tri, 0) AS n_tri, coalesce(a.n_bi, 0) AS n_bi,
         |  coalesce(a.n_uni, 0) AS n_uni, coalesce(a.n_oov, 0) AS n_oov,
         |  a.sb_score
         |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc
         |ORDER BY doc""".stripMargin,

    // Fuzzy-join replica: the naive levenshtein inequality join over
    // name types the q-gram-prefiltered plan must equal exactly.
    "q_fuzzy_join" ->
      """WITH ty AS MATERIALIZED (
        |  SELECT p_name, CAST(count(*) AS BIGINT) AS cnt FROM part GROUP BY p_name)
        |SELECT a.p_name AS name_a, b.p_name AS name_b,
        |  CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist,
        |  CAST(a.cnt * b.cnt AS BIGINT) AS n_pairs
        |FROM ty a JOIN ty b ON a.p_name < b.p_name
        |  AND levenshtein(a.p_name, b.p_name) <= 2
        |ORDER BY name_a, name_b""".stripMargin,

    // Luhn replica: same planted candidates, the mod-10 fold as a list
    // comprehension over the reversed digits.
    "q_pii_luhn" ->
      """WITH planted AS (
        |  SELECT doc_id AS doc,
        |    text || CASE WHEN doc_id % 4 = 0 THEN ' card 4111111111111111 on file'
        |                 WHEN doc_id % 4 = 2 THEN ' card 4111111111111112 on file'
        |                 ELSE '' END AS t
        |  FROM documents),
        |cand AS (
        |  SELECT doc, unnest(regexp_extract_all(t, '\d{13,16}')) AS candidate
        |  FROM planted),
        |luhn AS (
        |  SELECT doc, candidate,
        |    list_sum([CASE WHEN i % 2 = 0 THEN
        |        CASE WHEN 2 * CAST(reverse(candidate)[i] AS INTEGER) > 9
        |          THEN 2 * CAST(reverse(candidate)[i] AS INTEGER) - 9
        |          ELSE 2 * CAST(reverse(candidate)[i] AS INTEGER) END
        |      ELSE CAST(reverse(candidate)[i] AS INTEGER) END
        |      FOR i IN generate_series(1, len(candidate))]) AS s
        |  FROM cand)
        |SELECT doc, candidate, (len(candidate) > 0 AND s % 10 = 0) AS luhn_valid
        |FROM luhn ORDER BY doc, candidate""".stripMargin,

    // Leakage-safe split replica: near-dup closure (the shared recursive
    // chain), split key = component rep (singletons = own id), then the
    // q_hash_split md5-bucket arithmetic on the KEY instead of the doc.
    "q_safe_split" ->
      s"""WITH RECURSIVE $ngramCtes,
         |pairs AS (SELECT id_a, id_b FROM scored WHERE jaccard >= 0.8),
         |edges AS (
         |  SELECT id_a AS u, id_b AS v FROM pairs
         |  UNION ALL
         |  SELECT id_b, id_a FROM pairs),
         |reach AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         |labels AS (SELECT u AS doc, least(u, min(v)) AS rep
         |  FROM reach GROUP BY u),
         |k AS (
         |  SELECT d.doc_id, coalesce(l.rep, d.doc_id) AS split_key
         |  FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc),
         |h AS (SELECT doc_id, split_key,
         |  md5(CAST(split_key AS VARCHAR)) AS hx FROM k),
         |b AS (SELECT doc_id, split_key,
         |  ${hex4("hx")} % 100 AS bucket FROM h)
         |SELECT doc_id, CAST(split_key AS BIGINT) AS split_key,
         |  CAST(bucket AS BIGINT) AS bucket,
         |  CASE WHEN bucket < 80 THEN 'train'
         |       WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
         |FROM b ORDER BY doc_id""".stripMargin,

    // Int8 quantization-audit replica: same micro quantization, the
    // ceil-div scale, round-half-up-on-|x| codes, exact error sums —
    // all non-negative integer floor divisions (// == div here).
    "q_int8_quant" ->
      """WITH qz AS MATERIALIZED (
        |  SELECT vec_id AS id,
        |    unnest(list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))) AS x
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |sc AS MATERIALIZED (
        |  SELECT id, CAST(count(*) AS BIGINT) AS n_dims,
        |    greatest((max(abs(x)) + 126) // 127, 1) AS scale
        |  FROM qz GROUP BY id),
        |er AS (
        |  SELECT q.id, sc.n_dims, sc.scale,
        |    abs(abs(q.x) - ((2 * abs(q.x) + sc.scale) // (2 * sc.scale))
        |      * sc.scale) AS e
        |  FROM qz q JOIN sc USING (id))
        |SELECT id, n_dims, CAST(scale AS BIGINT) AS scale,
        |  CAST(max(e) AS BIGINT) AS max_abs_err,
        |  CAST(sum(e) AS BIGINT) AS sum_abs_err
        |FROM er GROUP BY id, n_dims, scale
        |ORDER BY id""".stripMargin,

    // Skip-gram replica: same 40-bit seeded-md5 uniforms over
    // (doc, 0-based position), keep iff u < sqrt(tNum·N / tDen·c(w))
    // (sqrt is correctly rounded — both engines compare identical
    // doubles), survivors re-sequenced per doc BEFORE windowing, pairs
    // via a positional self-join on the re-sequenced rank.
    "q_skipgram" ->
      s"""WITH docs AS MATERIALIZED (
         |  SELECT doc_id AS doc, ${norm("text")} AS nt FROM documents),
         |post AS MATERIALIZED (
         |  SELECT doc, unnest(generate_series(1, len(str_split(nt, ' ')))) AS p1,
         |    unnest(str_split(nt, ' ')) AS w
         |  FROM docs WHERE nt != ''),
         |uni AS MATERIALIZED (
         |  SELECT w, CAST(count(*) AS BIGINT) AS uc FROM post GROUP BY w),
         |nn AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM post),
         |kept AS MATERIALIZED (
         |  SELECT doc, p1, w FROM post JOIN uni USING (w) CROSS JOIN nn
         |  WHERE CAST(${hexN("substr(md5('sg:' || doc || ':' || (p1 - 1)), 1, 10)", 10)} + 1 AS DOUBLE)
         |      / 1099511627776.0
         |    < sqrt(CAST(1 * n AS DOUBLE) / CAST(200 * uc AS DOUBLE))),
         |r AS MATERIALIZED (
         |  SELECT doc, w,
         |    row_number() OVER (PARTITION BY doc ORDER BY p1) AS rp
         |  FROM kept),
         |ord AS MATERIALIZED (
         |  SELECT a.w AS wa, b.w AS wb, CAST(count(*) AS BIGINT) AS c
         |  FROM r a JOIN r b ON a.doc = b.doc AND b.rp - a.rp BETWEEN 1 AND 2
         |  GROUP BY 1, 2)
         |SELECT center, context, CAST(sum(c) AS BIGINT) AS n_pairs FROM (
         |  SELECT wa AS center, wb AS context, c FROM ord
         |  UNION ALL SELECT wb AS center, wa AS context, c FROM ord)
         |GROUP BY center, context
         |ORDER BY center, context""".stripMargin,

    // Heaps replica: equal-width id-range checkpoints off two scalars,
    // first-seen = min doc per type, cumulative windows over the
    // checkpoint rows, zipf-style micro-nat OLS slope in HUGEINT.
    "q_heaps" ->
      s"""WITH docs AS MATERIALIZED (
         |  SELECT doc_id AS doc, ${norm("text")} AS nt FROM documents),
         |bounds AS MATERIALIZED (
         |  SELECT min(doc) AS lo, max(doc) - min(doc) + 1 AS span FROM docs),
         |post AS MATERIALIZED (
         |  SELECT doc, unnest(str_split(nt, ' ')) AS w
         |  FROM docs WHERE nt != ''),
         |dt AS MATERIALIZED (
         |  SELECT CAST(least(10, 1 + ((d.doc - b.lo) * 10) // b.span) AS BIGINT) AS ck,
         |    CAST(count(*) AS BIGINT) AS nd, CAST(sum(d.ntok) AS BIGINT) AS nt
         |  FROM (SELECT doc,
         |      CASE WHEN nt = '' THEN 0 ELSE len(str_split(nt, ' ')) END AS ntok
         |    FROM docs) d CROSS JOIN bounds b
         |  GROUP BY 1),
         |fb AS MATERIALIZED (
         |  SELECT CAST(least(10, 1 + ((f.fd - b.lo) * 10) // b.span) AS BIGINT) AS ck,
         |    CAST(count(*) AS BIGINT) AS nw
         |  FROM (SELECT w, min(doc) AS fd FROM post GROUP BY w) f
         |  CROSS JOIN bounds b GROUP BY 1),
         |cum AS MATERIALIZED (
         |  SELECT d.ck,
         |    CAST(sum(d.nd) OVER (ORDER BY d.ck) AS BIGINT) AS cum_docs,
         |    CAST(sum(d.nt) OVER (ORDER BY d.ck) AS BIGINT) AS cum_tokens,
         |    CAST(sum(coalesce(f.nw, 0)) OVER (ORDER BY d.ck) AS BIGINT)
         |      AS cum_types
         |  FROM dt d LEFT JOIN fb f ON d.ck = f.ck),
         |fit AS MATERIALIZED (
         |  SELECT CASE WHEN k * sxx - sx * sx > 0 THEN
         |      CAST(((k * sxy - sx * sy) * 1000000) // (k * sxx - sx * sx)
         |        AS BIGINT) END AS beta_micro
         |  FROM (
         |    SELECT CAST(count(*) AS HUGEINT) AS k,
         |      CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
         |      CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
         |      CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
         |    FROM (SELECT
         |        CAST(round(ln(CAST(cum_tokens AS DOUBLE)) * 1e6) AS BIGINT) AS x,
         |        CAST(round(ln(CAST(cum_types AS DOUBLE)) * 1e6) AS BIGINT) AS y
         |      FROM cum WHERE cum_tokens > 0 AND cum_types > 0) p))
         |SELECT c.ck, c.cum_docs, c.cum_tokens, c.cum_types, f.beta_micro
         |FROM cum c CROSS JOIN fit f ORDER BY c.ck""".stripMargin,

    // Corpus-BLEU replica: candidate = tokens at 1-based position
    // p % 7 != 0 re-sequenced (the array_join makes dropped-boundary
    // grams contiguous — hence row_number, not p, on the cand side);
    // n-grams with multiplicity via consecutive-position self-joins;
    // clipping per (pair, gram); micro-nat lns of exact-integer ratios;
    // exact ceil-division brevity penalty.
    "q_bleu" ->
      s"""WITH docs AS MATERIALIZED (
         |  SELECT doc_id AS doc, lang, ${norm("text")} AS nt FROM documents),
         |post AS MATERIALIZED (
         |  SELECT doc, lang,
         |    unnest(generate_series(1, len(str_split(nt, ' ')))) AS p1,
         |    unnest(str_split(nt, ' ')) AS w
         |  FROM docs WHERE nt != ''),
         |cpost AS MATERIALIZED (
         |  SELECT doc, lang, w,
         |    row_number() OVER (PARTITION BY doc ORDER BY p1) AS q
         |  FROM post WHERE p1 % 7 != 0),
         |cgc AS MATERIALIZED (
         |  SELECT doc, lang, n, gram, CAST(count(*) AS BIGINT) AS ccnt FROM (
         |    SELECT doc, lang, 1 AS n, w AS gram FROM cpost
         |    UNION ALL SELECT a.doc, a.lang, 2, a.w || ' ' || b.w
         |      FROM cpost a JOIN cpost b ON a.doc = b.doc AND b.q = a.q + 1
         |    UNION ALL SELECT a.doc, a.lang, 3, a.w || ' ' || b.w || ' ' || c.w
         |      FROM cpost a JOIN cpost b ON a.doc = b.doc AND b.q = a.q + 1
         |      JOIN cpost c ON a.doc = c.doc AND c.q = a.q + 2
         |    UNION ALL
         |      SELECT a.doc, a.lang, 4,
         |        a.w || ' ' || b.w || ' ' || c.w || ' ' || d.w
         |      FROM cpost a JOIN cpost b ON a.doc = b.doc AND b.q = a.q + 1
         |      JOIN cpost c ON a.doc = c.doc AND c.q = a.q + 2
         |      JOIN cpost d ON a.doc = d.doc AND d.q = a.q + 3)
         |  GROUP BY doc, lang, n, gram),
         |rgc AS MATERIALIZED (
         |  SELECT doc, n, gram, CAST(count(*) AS BIGINT) AS rcnt FROM (
         |    SELECT doc, 1 AS n, w AS gram FROM post
         |    UNION ALL SELECT a.doc, 2, a.w || ' ' || b.w
         |      FROM post a JOIN post b ON a.doc = b.doc AND b.p1 = a.p1 + 1
         |    UNION ALL SELECT a.doc, 3, a.w || ' ' || b.w || ' ' || c.w
         |      FROM post a JOIN post b ON a.doc = b.doc AND b.p1 = a.p1 + 1
         |      JOIN post c ON a.doc = c.doc AND c.p1 = a.p1 + 2
         |    UNION ALL
         |      SELECT a.doc, 4, a.w || ' ' || b.w || ' ' || c.w || ' ' || d.w
         |      FROM post a JOIN post b ON a.doc = b.doc AND b.p1 = a.p1 + 1
         |      JOIN post c ON a.doc = c.doc AND c.p1 = a.p1 + 2
         |      JOIN post d ON a.doc = d.doc AND d.p1 = a.p1 + 3)
         |  GROUP BY doc, n, gram),
         |pn AS MATERIALIZED (
         |  SELECT c.lang, c.n, CAST(sum(c.ccnt) AS BIGINT) AS tot,
         |    CAST(sum(least(c.ccnt, coalesce(r.rcnt, 0))) AS BIGINT) AS mat
         |  FROM cgc c LEFT JOIN rgc r
         |    ON c.doc = r.doc AND c.n = r.n AND c.gram = r.gram
         |  GROUP BY 1, 2),
         |fin AS MATERIALIZED (
         |  SELECT l.lang, l.n_pairs,
         |    coalesce(cl.cand_len, 0) AS cand_len,
         |    coalesce(rl.ref_len, 0) AS ref_len,
         |    coalesce(w.m_1, 0) AS m_1, coalesce(w.t_1, 0) AS t_1,
         |    coalesce(w.m_2, 0) AS m_2, coalesce(w.t_2, 0) AS t_2,
         |    coalesce(w.m_3, 0) AS m_3, coalesce(w.t_3, 0) AS t_3,
         |    coalesce(w.m_4, 0) AS m_4, coalesce(w.t_4, 0) AS t_4
         |  FROM (SELECT lang, CAST(count(*) AS BIGINT) AS n_pairs
         |        FROM documents GROUP BY 1) l
         |  LEFT JOIN (SELECT lang, CAST(count(*) AS BIGINT) AS cand_len
         |             FROM cpost GROUP BY 1) cl ON l.lang = cl.lang
         |  LEFT JOIN (SELECT lang, CAST(count(*) AS BIGINT) AS ref_len
         |             FROM post GROUP BY 1) rl ON l.lang = rl.lang
         |  LEFT JOIN (SELECT lang,
         |      CAST(coalesce(sum(CASE WHEN n = 1 THEN mat END), 0) AS BIGINT) AS m_1,
         |      CAST(coalesce(sum(CASE WHEN n = 1 THEN tot END), 0) AS BIGINT) AS t_1,
         |      CAST(coalesce(sum(CASE WHEN n = 2 THEN mat END), 0) AS BIGINT) AS m_2,
         |      CAST(coalesce(sum(CASE WHEN n = 2 THEN tot END), 0) AS BIGINT) AS t_2,
         |      CAST(coalesce(sum(CASE WHEN n = 3 THEN mat END), 0) AS BIGINT) AS m_3,
         |      CAST(coalesce(sum(CASE WHEN n = 3 THEN tot END), 0) AS BIGINT) AS t_3,
         |      CAST(coalesce(sum(CASE WHEN n = 4 THEN mat END), 0) AS BIGINT) AS m_4,
         |      CAST(coalesce(sum(CASE WHEN n = 4 THEN tot END), 0) AS BIGINT) AS t_4
         |    FROM pn GROUP BY lang) w ON l.lang = w.lang)
         |SELECT lang, n_pairs, cand_len, ref_len,
         |  m_1, t_1, m_2, t_2, m_3, t_3, m_4, t_4,
         |  CASE WHEN cand_len > 0 THEN
         |    CASE WHEN cand_len >= ref_len THEN 0
         |      ELSE -(((ref_len - cand_len) * 1000000 + cand_len - 1) // cand_len)
         |    END END AS bp_lmicro,
         |  CASE WHEN cand_len > 0 AND m_1 > 0 AND m_2 > 0 AND m_3 > 0
         |      AND m_4 > 0 THEN
         |    (CASE WHEN cand_len >= ref_len THEN 0
         |       ELSE -(((ref_len - cand_len) * 1000000 + cand_len - 1) // cand_len)
         |     END)
         |    + CAST(floor((
         |        CAST(round(ln(CAST(m_1 AS DOUBLE) / t_1) * 1e6) AS BIGINT)
         |      + CAST(round(ln(CAST(m_2 AS DOUBLE) / t_2) * 1e6) AS BIGINT)
         |      + CAST(round(ln(CAST(m_3 AS DOUBLE) / t_3) * 1e6) AS BIGINT)
         |      + CAST(round(ln(CAST(m_4 AS DOUBLE) / t_4) * 1e6) AS BIGINT)
         |      ) / 4.0) AS BIGINT) END AS bleu_lmicro
         |FROM fin ORDER BY lang""".stripMargin,

    // Merkle commitment replica: md5-bucketed shards, ordered
    // string_agg folds — leaf order is the STRING id order (the
    // engine's struct sort on the stringified id).
    "q_merkle" -> {
      s"""WITH leaves AS MATERIALIZED (
         |  SELECT CAST(doc_id AS VARCHAR) AS id,
         |    ${hex4("md5(CAST(doc_id AS VARCHAR))")} % 16 AS shard,
         |    CAST(doc_id AS VARCHAR) || ':' || md5(coalesce(text, '')) AS leaf
         |  FROM documents),
         |sh AS MATERIALIZED (
         |  SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
         |    md5(string_agg(leaf, '' ORDER BY id)) AS hash
         |  FROM leaves GROUP BY shard),
         |root AS (
         |  SELECT CAST(1 AS BIGINT) AS level, CAST(-1 AS BIGINT) AS shard,
         |    CAST(sum(n_docs) AS BIGINT) AS n_docs,
         |    md5(string_agg(hash, '' ORDER BY shard)) AS hash
         |  FROM sh)
         |SELECT * FROM (
         |  SELECT CAST(0 AS BIGINT) AS level, CAST(shard AS BIGINT) AS shard,
         |    n_docs, hash
         |  FROM sh
         |  UNION ALL SELECT * FROM root)
         |ORDER BY level, shard""".stripMargin
    },

    // Near-dup admission replica: the planted union, naive all-pairs
    // shingle overlap, cross-boundary filter (target ≡ id ≥ 1e6 or
    // id % 7 != 0), anti-join on the dirty target ids.
    "q_dedup_against_near" -> {
      val normU = norm("u.text")
      s"""WITH refc AS MATERIALIZED (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0),
         |tgt AS MATERIALIZED (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 7 != 0
         |  UNION ALL
         |  SELECT -doc_id - 1 AS doc_id,
         |    array_to_string(t[1:len(t) - 1], ' ') AS text
         |  FROM (SELECT doc_id, str_split(text, ' ') AS t
         |        FROM refc WHERE doc_id % 3 = 0)),
         |u AS MATERIALIZED (
         |  SELECT * FROM tgt UNION ALL SELECT * FROM refc),
         |sh AS MATERIALIZED (
         |  SELECT doc, list_distinct(CASE WHEN len(t) >= 3
         |    THEN [array_to_string(t[i:i+2], ' ') FOR i IN generate_series(1, len(t) - 2)]
         |    ELSE [array_to_string(t, ' ')] END) AS shs
         |  FROM (SELECT doc_id AS doc, str_split($normU, ' ') AS t FROM u)),
         |ex AS MATERIALIZED (SELECT doc, unnest(shs) AS s FROM sh),
         |sizes AS MATERIALIZED (SELECT doc, count(*) AS n_sh FROM ex GROUP BY doc),
         |common AS MATERIALIZED (
         |  SELECT a.doc AS id_a, b.doc AS id_b, count(*) AS n_common
         |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc < b.doc
         |  GROUP BY 1, 2),
         |scored AS (
         |  SELECT id_a, id_b,
         |    CAST(n_common AS DOUBLE)
         |      / CAST(za.n_sh + zb.n_sh - n_common AS DOUBLE) AS jaccard
         |  FROM common
         |  JOIN sizes za ON id_a = za.doc
         |  JOIN sizes zb ON id_b = zb.doc),
         |dirty AS (
         |  SELECT DISTINCT CASE WHEN (id_a < 0 OR id_a % 7 != 0)
         |    THEN id_a ELSE id_b END AS d
         |  FROM scored
         |  WHERE jaccard >= 0.8
         |    AND ((id_a < 0 OR id_a % 7 != 0)
         |      != (id_b < 0 OR id_b % 7 != 0)))
         |SELECT doc_id FROM tgt
         |WHERE doc_id NOT IN (SELECT d FROM dirty)
         |ORDER BY doc_id""".stripMargin
    },

    "q_dedup_against" ->
      s"""WITH refk AS (
         |  SELECT DISTINCT md5(${norm("text")}) AS k
         |  FROM documents WHERE doc_id % 7 = 0)
         |SELECT d.doc_id, d.lang FROM documents d
         |WHERE md5(${norm("d.text")}) NOT IN (SELECT k FROM refk)
         |ORDER BY d.doc_id""".stripMargin,

    // Cluster labels from the shared recursive CTE; quality replicated
    // from q_quality_score; representative = row_number 1 by
    // (quality DESC, doc) per cluster — the engine's min_by struct rule.
    "q_dedup_best_rep" ->
      s"""WITH RECURSIVE $ngramCtes,
         |pairs AS (SELECT id_a, id_b FROM scored WHERE jaccard >= 0.8),
         |edges AS (
         |  SELECT id_a AS u, id_b AS v FROM pairs
         |  UNION ALL
         |  SELECT id_b, id_a FROM pairs),
         |reach AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         |labels AS (SELECT u AS doc, least(u, min(v)) AS cluster
         |  FROM reach GROUP BY u),
         |qm AS (
         |  SELECT doc_id,
         |    CAST(length(coalesce(text, '')) AS DOUBLE) AS nc,
         |    CAST(CASE WHEN trim(coalesce(text, '')) = '' THEN 0
         |         ELSE len(str_split_regex(trim(coalesce(text, '')), '\\s+')) END AS BIGINT) AS n_tokens,
         |    CAST(len(regexp_extract_all(coalesce(text, ''), '[^\\p{L}\\d\\s]')) AS BIGINT) AS n_punct,
         |    ${langScore("text", stopAll)} AS n_stop
         |  FROM documents),
         |qr AS (
         |  SELECT doc_id,
         |    round(((CASE WHEN n_tokens >= 10 AND n_tokens <= 1000 THEN 1.0 ELSE 0.0 END)
         |         + (CASE WHEN (CASE WHEN n_tokens > 0 THEN nc / n_tokens ELSE 0.0 END) >= 3.0
         |                  AND (CASE WHEN n_tokens > 0 THEN nc / n_tokens ELSE 0.0 END) <= 12.0
         |             THEN 1.0 ELSE 0.0 END)
         |         + (CASE WHEN (CASE WHEN nc > 0 THEN CAST(n_punct AS DOUBLE) / nc ELSE 1.0 END) <= 0.2
         |             THEN 1.0 ELSE 0.0 END)
         |         + (CASE WHEN (CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END) >= 0.05
         |             THEN 1.0 ELSE 0.0 END)) / 4.0, 2) AS quality
         |  FROM qm),
         |wc AS (
         |  SELECT qr.doc_id AS doc, coalesce(l.cluster, qr.doc_id) AS cluster,
         |    qr.quality
         |  FROM qr LEFT JOIN labels l ON qr.doc_id = l.doc),
         |reps AS (
         |  SELECT cluster, doc AS rep_doc FROM (
         |    SELECT cluster, doc,
         |      row_number() OVER (PARTITION BY cluster
         |        ORDER BY quality DESC, doc) AS rk
         |    FROM wc) WHERE rk = 1)
         |SELECT wc.doc AS doc_id, wc.cluster, wc.quality, r.rep_doc,
         |  wc.doc = r.rep_doc AS is_rep
         |FROM wc JOIN reps r USING (cluster)
         |ORDER BY doc_id""".stripMargin,

    // Robust per-dim normalization: zipped unnests keep (dim, q) in
    // lockstep; median/quantile interpolation is exact on quantized
    // longs; division order pinned before the micro floor. Output is
    // one scalar row per (id, dim) — the driver's pandas comparator
    // cannot sort array cells (r8 lesson; SurfaceContractSpec pins it).
    "q_embed_normalize" ->
      """WITH qz AS (
        |  SELECT vec_id AS id,
        |    unnest(generate_series(1, len(embedding))) AS dim,
        |    unnest(list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))) AS q
        |  FROM embeddings),
        |med AS (SELECT dim, median(q) AS med FROM qz GROUP BY dim),
        |j AS (SELECT qz.id, qz.dim, qz.q, med.med FROM qz JOIN med USING (dim)),
        |mad AS (SELECT dim, median(abs(CAST(q AS DOUBLE) - med)) AS mad
        |  FROM j GROUP BY dim),
        |n AS (
        |  SELECT j.id, j.dim,
        |    CASE WHEN d.mad <> 0
        |      THEN CAST(floor(((CAST(j.q AS DOUBLE) - j.med) / d.mad)
        |        * 1000000.0) AS BIGINT)
        |      ELSE CAST(0 AS BIGINT) END AS nm
        |  FROM j JOIN mad d USING (dim))
        |SELECT id, CAST(dim AS BIGINT) AS dim, nm
        |FROM n ORDER BY id, dim""".stripMargin,

    // Sketched twin: the exact nm column is recomputed (same arithmetic as
    // q_embed_normalize); the engine-side drift boolean must be all-true.
    "q_embed_normalize_approx" ->
      """WITH qz AS (
        |  SELECT vec_id AS id,
        |    unnest(generate_series(1, len(embedding))) AS dim,
        |    unnest(list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))) AS q
        |  FROM embeddings),
        |med AS (SELECT dim, median(q) AS med FROM qz GROUP BY dim),
        |j AS (SELECT qz.id, qz.dim, qz.q, med.med FROM qz JOIN med USING (dim)),
        |mad AS (SELECT dim, median(abs(CAST(q AS DOUBLE) - med)) AS mad
        |  FROM j GROUP BY dim),
        |n AS (
        |  SELECT j.id, j.dim,
        |    CASE WHEN d.mad <> 0
        |      THEN CAST(floor(((CAST(j.q AS DOUBLE) - j.med) / d.mad)
        |        * 1000000.0) AS BIGINT)
        |      ELSE CAST(0 AS BIGINT) END AS nm
        |  FROM j JOIN mad d USING (dim))
        |SELECT id, CAST(dim AS BIGINT) AS dim, nm, TRUE AS approx_ok
        |FROM n ORDER BY id, dim""".stripMargin,

    // IVF top-k, FULLY replayed: the seeded-md5 training sample, the
    // id-strided seed centroids, BOTH Lloyd iterations (exact integer
    // dots, avg over exact-representable double sums, floor(x+0.5) for
    // Scala's math.round half-up), the final full-corpus cell
    // assignment, the nprobe probe ranking, and the exact re-ranking —
    // every double is one fixed IEEE expression over exact integers, so
    // both engines agree bit-for-bit. Assumes the sample holds >= nCells
    // vectors and >= 1 id divisible by the stride (holds at every
    // shipped SF: sample sizes 262/262/1057; engine falls back to
    // full-corpus training below nCells — outside this statement's
    // domain). Shapes: ~|corpus|·nCells·dim joined rows per assignment
    // — 0.5M at sf0.01.
    "q_ann_ivf" -> ivfOracleSql(nCells = 16, nprobe = 4),

    // The broadcast-join form differs only in HOW Spark evaluates the
    // argmax (relation join vs literals) — the arithmetic and tiebreaks
    // are identical, so the replica is the same statement at the
    // large-cell parameters.
    "q_ann_ivf_joined" -> ivfOracleSql(nCells = 64, nprobe = 16),

    "q_semdedup" -> semDedupOracleSql(eps = 0.92),

    "q_ann_pq" -> pqOracleSql(m = 8, ks = 16, sub = 8, refine = 8,
      k = 5, trainPermille10k = 2500),

    "q_ann_brute_force" ->
      """WITH qz AS (
        |  SELECT vec_id, list_transform(embedding,
        |    x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM qz WHERE vec_id < 10),
        |c AS (SELECT vec_id AS neighbor_id, v AS cv FROM qz),
        |scored AS (
        |  SELECT query_id, neighbor_id,
        |    CAST(list_sum(list_transform(generate_series(1, len(qv)), i -> qv[i] * cv[i])) AS DOUBLE)
        |      / (sqrt(CAST(list_sum(list_transform(generate_series(1, len(qv)), i -> qv[i] * qv[i])) AS DOUBLE))
        |       * sqrt(CAST(list_sum(list_transform(generate_series(1, len(cv)), i -> cv[i] * cv[i])) AS DOUBLE))) AS cosine
        |  FROM c CROSS JOIN q WHERE neighbor_id <> query_id),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk
        |  FROM scored)
        |SELECT query_id, CAST(rk AS BIGINT) AS rank, neighbor_id, round(cosine, 6) AS cosine
        |FROM ranked WHERE rk <= 5 ORDER BY query_id, rank""".stripMargin,

    // Same scoring as q_ann_brute_force with the corpus predicate-filtered
    // BEFORE ranking (exact top-k over the filtered set).
    "q_ann_filtered" ->
      """WITH qz AS (
        |  SELECT vec_id, label, list_transform(embedding,
        |    x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM qz WHERE vec_id < 10),
        |c AS (SELECT vec_id AS neighbor_id, v AS cv FROM qz WHERE label % 3 = 0),
        |scored AS (
        |  SELECT query_id, neighbor_id,
        |    CAST(list_sum(list_transform(generate_series(1, len(qv)), i -> qv[i] * cv[i])) AS DOUBLE)
        |      / (sqrt(CAST(list_sum(list_transform(generate_series(1, len(qv)), i -> qv[i] * qv[i])) AS DOUBLE))
        |       * sqrt(CAST(list_sum(list_transform(generate_series(1, len(cv)), i -> cv[i] * cv[i])) AS DOUBLE))) AS cosine
        |  FROM c CROSS JOIN q WHERE neighbor_id <> query_id),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk
        |  FROM scored)
        |SELECT query_id, CAST(rk AS BIGINT) AS rank, neighbor_id, round(cosine, 6) AS cosine
        |FROM ranked WHERE rk <= 5 ORDER BY query_id, rank""".stripMargin,

    // Sign-LSH, FULLY replayed: the md5-parity Rademacher rows (the
    // q_random_project sign matrix at 4×64), bucket bit = exact integer
    // dot sign test, hamming-1 multi-probe by XOR, then the exact
    // re-rank — the oracle reproduces WHICH candidates each query sees.
    "q_ann_lsh" ->
      """WITH qz AS MATERIALIZED (
        |  SELECT vec_id AS id, list_transform(embedding,
        |    x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        |  FROM embeddings),
        |vn AS MATERIALIZED (
        |  SELECT id, sqrt(CAST(list_sum(list_transform(
        |    generate_series(1, len(v)), i -> v[i] * v[i])) AS DOUBLE)) AS vn
        |  FROM qz),
        |signs AS MATERIALIZED (
        |  SELECT j, i,
        |    CASE WHEN strpos('02468ace', substr(md5(CAST(j AS VARCHAR)
        |      || '_' || CAST(i AS VARCHAR)), 1, 1)) > 0
        |    THEN 1 ELSE -1 END AS s
        |  FROM generate_series(1, 4) t1(j)
        |  CROSS JOIN generate_series(1, 64) t2(i)),
        |dots AS MATERIALIZED (
        |  SELECT qz.id, sg.j, sum(sg.s * qz.v[sg.i]) AS d
        |  FROM qz CROSS JOIN signs sg GROUP BY 1, 2),
        |bk AS MATERIALIZED (
        |  SELECT id,
        |    CAST(sum(CASE WHEN d > 0 THEN 1 << (j - 1) ELSE 0 END) AS BIGINT)
        |      AS bucket
        |  FROM dots GROUP BY id),
        |probes AS MATERIALIZED (
        |  SELECT b.id AS query_id,
        |    CASE WHEN t.p = 0 THEN b.bucket
        |         ELSE xor(b.bucket, CAST(1 << (t.p - 1) AS BIGINT)) END
        |      AS qbucket
        |  FROM bk b CROSS JOIN generate_series(0, 4) t(p)
        |  WHERE b.id < 10),
        |cand AS MATERIALIZED (
        |  SELECT p.query_id, c.id AS neighbor_id
        |  FROM probes p JOIN bk c ON c.bucket = p.qbucket
        |    AND c.id <> p.query_id),
        |sc AS (
        |  SELECT cd.query_id, cd.neighbor_id,
        |    CASE WHEN qn.vn * nn.vn = 0 THEN NULL
        |         ELSE CAST(list_sum(list_transform(
        |             generate_series(1, len(qv.v)),
        |             i -> qv.v[i] * nv.v[i])) AS DOUBLE) / (qn.vn * nn.vn)
        |    END AS cosine
        |  FROM cand cd
        |  JOIN qz qv ON qv.id = cd.query_id
        |  JOIN qz nv ON nv.id = cd.neighbor_id
        |  JOIN vn qn ON qn.id = cd.query_id
        |  JOIN vn nn ON nn.id = cd.neighbor_id),
        |rnk AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY cosine DESC NULLS LAST, neighbor_id) AS rk
        |  FROM sc)
        |SELECT query_id, neighbor_id, CAST(rk AS BIGINT) AS rank, cosine
        |FROM rnk WHERE rk <= 5
        |ORDER BY query_id, rank""".stripMargin,

    "q_dedup_embedding" ->
      """WITH q AS (
        |  SELECT vec_id, list_transform(embedding,
        |    x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        |  FROM embeddings),
        |p AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    CAST(list_sum(list_transform(generate_series(1, len(a.v)), i -> a.v[i] * b.v[i])) AS DOUBLE)
        |      / (sqrt(CAST(list_sum(list_transform(generate_series(1, len(a.v)), i -> a.v[i] * a.v[i])) AS DOUBLE))
        |       * sqrt(CAST(list_sum(list_transform(generate_series(1, len(b.v)), i -> b.v[i] * b.v[i])) AS DOUBLE))) AS cosine
        |  FROM q a JOIN q b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b, round(cosine, 6) AS cosine
        |FROM p WHERE cosine >= 0.4 ORDER BY id_a, id_b""".stripMargin,

    "q_count_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_suppkey) AS n_supp,
        |  count(DISTINCT l_partkey) AS n_part, count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_window_funcs" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  lag(o_orderkey, 1) OVER w AS prev_ok,
        |  lead(o_orderkey, 1) OVER w AS next_ok,
        |  CAST(rank() OVER w AS BIGINT) AS rnk,
        |  CAST(dense_rank() OVER w AS BIGINT) AS drnk,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile
        |FROM orders WHERE o_custkey % 10 = 0
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q_union_shapes" ->
      """SELECT doc_id, coalesce(text, '') AS text, coalesce(lang, '') AS lang,
        |  side, coalesce(source, '') AS source
        |FROM (
        |  SELECT doc_id, text, lang, 'a' AS side, CAST(NULL AS VARCHAR) AS source
        |  FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT doc_id, CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), 'b', source
        |  FROM documents WHERE doc_id % 2 = 1)
        |ORDER BY side, doc_id""".stripMargin,

    // FakeDecoder replica: FNV-1a64 of the raw (pure-ASCII, verified)
    // text bytes in HUGEINT — the simhashFpCtes fold — then the signed
    // two's-complement view, Scala's arithmetic >> 16 as exact floor
    // division (hv // 2^16 minus 2^48 when negative), abs, mod, +1.
    // The mapPartitions execution is engine-specific; the registered
    // query's ARITHMETIC is not.
    "q_multimodal_features" ->
      """WITH hh AS MATERIALIZED (
        |  SELECT doc_id,
        |    list_reduce(
        |      list_prepend(CAST('14695981039346656037' AS HUGEINT),
        |        list_transform(
        |          list_filter(str_split(text, ''), ch -> ch <> ''),
        |          ch -> CAST(unicode(ch) AS HUGEINT))),
        |      (h, b) -> ((h - (h % 256) +
        |          CAST(xor(CAST(h % 256 AS BIGINT), CAST(b AS BIGINT))
        |            AS HUGEINT))
        |        * CAST(1099511628211 AS HUGEINT))
        |        % CAST('18446744073709551616' AS HUGEINT)
        |    ) AS hv
        |  FROM documents),
        |sg AS (
        |  SELECT doc_id,
        |    hv - CASE WHEN hv >= CAST('9223372036854775808' AS HUGEINT)
        |         THEN CAST('18446744073709551616' AS HUGEINT)
        |         ELSE CAST(0 AS HUGEINT) END AS h,
        |    (hv // 65536)
        |      - CASE WHEN hv >= CAST('9223372036854775808' AS HUGEINT)
        |        THEN CAST('281474976710656' AS HUGEINT)
        |        ELSE CAST(0 AS HUGEINT) END AS h16
        |  FROM hh)
        |SELECT doc_id,
        |  CAST((CASE WHEN h < 0 THEN -h ELSE h END) % 1920 + 1
        |    AS INTEGER) AS width,
        |  CAST((CASE WHEN h16 < 0 THEN -h16 ELSE h16 END) % 1080 + 1
        |    AS INTEGER) AS height
        |FROM sg ORDER BY doc_id""".stripMargin,

    "q_data_url" ->
      """SELECT doc_id, 'data:image/png;base64,' || to_base64(CAST(text AS BLOB)) AS data_url
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_json_roundtrip" ->
      """SELECT doc_id, text AS text_rt, lang AS lang_rt
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Deterministic multimodal projections: byte lengths, data-URL
    // validity, magic-byte sniff — the same synthetic payload mix built
    // blob-side in DuckDB (hex() is uppercase in both engines).
    "q_payload_stats" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 4 = 0 THEN '\x89PNG'::BLOB || encode(text)
        |         WHEN doc_id % 4 = 1 THEN '\xFF\xD8\xFF\xE0'::BLOB || encode(text)
        |         ELSE encode(text) END AS payload,
        |    CASE WHEN doc_id % 2 = 0 THEN 'data:image/png;base64,' || md5(text)
        |         ELSE text END AS maybe_url
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(octet_length(payload) AS BIGINT) AS n_bytes,
        |  regexp_matches(maybe_url, '^data:[^;]+;base64,') AS is_data_url,
        |  CASE WHEN substr(hex(payload), 1, 8) = '89504E47' THEN 'png'
        |       WHEN substr(hex(payload), 1, 6) = 'FFD8FF' THEN 'jpeg'
        |       WHEN substr(hex(payload), 1, 8) = '47494638' THEN 'gif'
        |       ELSE 'unknown' END AS container
        |FROM p ORDER BY doc_id""".stripMargin,

    // Mirrors ServiceEnrichment.process over StubLlmClient exactly: the
    // stub's OCR is the same md5 transform as StubProvider.ocr, the
    // correction roundtrip is the identity, and correction stringifies
    // every cell (null→'') — so the service path's decision tree is fully
    // SQL-expressible. rowText joins ALL four stringified fields with a
    // single space (concat_ws keeps empty strings, like the Scala
    // mkString over non-null fields).
    "q_service_enrich" ->
      s"""WITH reg AS (
         |  SELECT doc_id AS id,
         |    CAST(doc_id AS VARCHAR) AS doc_id,
         |    CASE WHEN doc_id % 11 = 0 THEN text || ' исключен' ELSE text END AS text,
         |    CASE WHEN doc_id % 5 = 0 THEN ''
         |         ELSE split_part(CASE WHEN doc_id % 11 = 0 THEN text || ' исключен' ELSE text END, ' ', 1) END AS brand,
         |    CASE WHEN doc_id % 2 = 0
         |         THEN 'data:image/png;base64,' || md5(CASE WHEN doc_id % 11 = 0 THEN text || ' исключен' ELSE text END)
         |         ELSE '' END AS image
         |  FROM documents),
         |flagged AS (
         |  SELECT *,
         |    regexp_matches(replace(lower(concat_ws(' ', doc_id, text, brand, image)), 'ё', 'е'),
         |      '$exclusionRegex') AS excl
         |  FROM reg),
         |branded AS (
         |  SELECT id, doc_id, excl,
         |    CASE WHEN NOT excl AND brand = '' AND image <> ''
         |         THEN 'OCR-' || substr(md5(image), 1, 8) || ' (RECOG)'
         |         ELSE brand END AS brand
         |  FROM flagged)
         |SELECT doc_id, brand,
         |  CASE WHEN NOT excl AND trim(brand) <> ''
         |       THEN upper(trim(replace(brand, ' (RECOG)', ''))) || ', ' || lower(trim(replace(brand, ' (RECOG)', '')))
         |       ELSE '' END AS brand_en,
         |  CASE WHEN excl THEN 'Да' ELSE 'Нет' END AS excluded
         |FROM branded ORDER BY id""".stripMargin,

    "q_dedup_corpus" ->
      s"""WITH RECURSIVE $ngramCtes,
         |pairs AS (SELECT id_a, id_b FROM scored WHERE jaccard >= 0.8),
         |edges AS (
         |  SELECT id_a AS u, id_b AS v FROM pairs
         |  UNION ALL
         |  SELECT id_b, id_a FROM pairs),
         |reach AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         |losers AS (
         |  SELECT u AS doc FROM reach GROUP BY u
         |  HAVING least(u, min(v)) <> u)
         |SELECT doc_id, lang, source FROM documents
         |WHERE doc_id NOT IN (SELECT doc FROM losers)
         |ORDER BY doc_id""".stripMargin,

    // Four-stage attrition over the same predicate SQL as the individual
    // oracles (token count, quality, lang-ID, source); cumulative
    // conjunction via conditional sums, unpivoted with VALUES.
    "q_corpus_attrition" ->
      s"""WITH m AS (
         |  SELECT doc_id, source,
         |    CASE WHEN trim(coalesce(text, '')) = '' THEN 0
         |         ELSE len(str_split_regex(trim(coalesce(text, '')), '\\s+')) END AS n_tokens,
         |    CAST(length(coalesce(text, '')) AS DOUBLE) AS nc,
         |    CAST(len(regexp_extract_all(coalesce(text, ''), '[^\\p{L}\\d\\s]')) AS BIGINT) AS n_punct,
         |    ${langScore("text", stopAll)} AS n_stop,
         |    greatest(${langScore("text", stopEn)}, ${langScore("text", stopDe)},
         |      ${langScore("text", stopFr)}, ${langScore("text", stopEs)}) AS best
         |  FROM documents),
         |p AS (
         |  SELECT
         |    (n_tokens >= 20) AS f1,
         |    (round(((CASE WHEN n_tokens >= 10 AND n_tokens <= 1000 THEN 1.0 ELSE 0.0 END)
         |       + (CASE WHEN (CASE WHEN n_tokens > 0 THEN nc / n_tokens ELSE 0.0 END) >= 3.0
         |              AND (CASE WHEN n_tokens > 0 THEN nc / n_tokens ELSE 0.0 END) <= 12.0
         |          THEN 1.0 ELSE 0.0 END)
         |       + (CASE WHEN (CASE WHEN nc > 0 THEN CAST(n_punct AS DOUBLE) / nc ELSE 1.0 END) <= 0.2
         |          THEN 1.0 ELSE 0.0 END)
         |       + (CASE WHEN (CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END) >= 0.05
         |          THEN 1.0 ELSE 0.0 END)) / 4.0, 2) >= 0.5) AS f2,
         |    (best > 0) AS f3,
         |    (source != 'src0') AS f4
         |  FROM m),
         |agg AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_in,
         |    CAST(sum(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS s1,
         |    CAST(sum(CASE WHEN f1 AND f2 THEN 1 ELSE 0 END) AS BIGINT) AS s2,
         |    CAST(sum(CASE WHEN f1 AND f2 AND f3 THEN 1 ELSE 0 END) AS BIGINT) AS s3,
         |    CAST(sum(CASE WHEN f1 AND f2 AND f3 AND f4 THEN 1 ELSE 0 END) AS BIGINT) AS s4
         |  FROM p)
         |SELECT stage_idx, stage, n_survivors, n_removed FROM (
         |  SELECT CAST(1 AS BIGINT) AS stage_idx, 'min_length' AS stage,
         |    s1 AS n_survivors, n_in - s1 AS n_removed FROM agg
         |  UNION ALL SELECT 2, 'quality', s2, s1 - s2 FROM agg
         |  UNION ALL SELECT 3, 'lang_known', s3, s2 - s3 FROM agg
         |  UNION ALL SELECT 4, 'source_allowed', s4, s3 - s4 FROM agg)
         |ORDER BY stage_idx""".stripMargin,

    "q_lang_id" ->
      s"""WITH s AS (
         |  SELECT doc_id,
         |    ${langScore("text", stopEn)} AS s_en,
         |    ${langScore("text", stopDe)} AS s_de,
         |    ${langScore("text", stopFr)} AS s_fr,
         |    ${langScore("text", stopEs)} AS s_es
         |  FROM documents),
         |b AS (SELECT *, greatest(s_en, s_de, s_fr, s_es) AS best FROM s)
         |SELECT doc_id,
         |  CASE WHEN best <= 0 THEN 'und'
         |       WHEN s_en = best THEN 'en'
         |       WHEN s_de = best THEN 'de'
         |       WHEN s_fr = best THEN 'fr'
         |       WHEN s_es = best THEN 'es'
         |       ELSE 'und' END AS pred_lang
         |FROM b ORDER BY doc_id""".stripMargin,

    "q_quality_score" ->
      s"""WITH m AS (
         |  SELECT doc_id,
         |    CAST(length(coalesce(text, '')) AS DOUBLE) AS nc,
         |    CAST(CASE WHEN trim(coalesce(text, '')) = '' THEN 0
         |         ELSE len(str_split_regex(trim(coalesce(text, '')), '\\s+')) END AS BIGINT) AS n_tokens,
         |    CAST(len(regexp_extract_all(coalesce(text, ''), '[^\\p{L}\\d\\s]')) AS BIGINT) AS n_punct,
         |    ${langScore("text", stopAll)} AS n_stop
         |  FROM documents),
         |r AS (
         |  SELECT doc_id, n_tokens, n_punct,
         |    CASE WHEN n_tokens > 0 THEN nc / n_tokens ELSE 0.0 END AS mean_word_len,
         |    CASE WHEN nc > 0 THEN CAST(n_punct AS DOUBLE) / nc ELSE 1.0 END AS punct_ratio,
         |    CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END AS stop_ratio
         |  FROM m)
         |SELECT doc_id, n_tokens, n_punct,
         |  round(((CASE WHEN n_tokens >= 10 AND n_tokens <= 1000 THEN 1.0 ELSE 0.0 END)
         |       + (CASE WHEN mean_word_len >= 3.0 AND mean_word_len <= 12.0 THEN 1.0 ELSE 0.0 END)
         |       + (CASE WHEN punct_ratio <= 0.2 THEN 1.0 ELSE 0.0 END)
         |       + (CASE WHEN stop_ratio >= 0.05 THEN 1.0 ELSE 0.0 END)) / 4.0, 2) AS quality
         |FROM r ORDER BY doc_id""".stripMargin,

    // Character entropy: per-char ln quantized to integer micro-units
    // before the per-doc sum, final division floored on the exact integer
    // quotient (the lm_score determinism rules). DuckDB string indexing
    // tx[i] is character-based like Spark's split-by-empty-pattern.
    "q_char_entropy" ->
      """WITH ch AS (
        |  SELECT doc_id AS doc,
        |    unnest([tx[i] FOR i IN generate_series(1, len(tx))]) AS ch
        |  FROM (SELECT doc_id, coalesce(text, '') AS tx FROM documents)),
        |perch AS (SELECT doc, ch, count(*) AS cnt FROM ch GROUP BY doc, ch),
        |perdoc AS (
        |  SELECT doc,
        |    sum(cnt) AS n_chars,
        |    count(*) AS n_distinct_chars,
        |    max(cnt) AS top_cnt,
        |    sum(cnt * CAST(round(ln(cnt) * 1e6) AS BIGINT)) AS a6
        |  FROM perch GROUP BY doc)
        |SELECT d.doc_id AS doc,
        |  CAST(coalesce(p.n_chars, 0) AS BIGINT) AS n_chars,
        |  CAST(coalesce(p.n_distinct_chars, 0) AS BIGINT) AS n_distinct_chars,
        |  coalesce(CAST(floor(
        |      (p.n_chars * CAST(round(ln(p.n_chars) * 1e6) AS BIGINT) - p.a6)
        |      / p.n_chars) AS BIGINT) / 1e6, 0.0) AS entropy_nats,
        |  coalesce(p.top_cnt * 10 > p.n_chars * 6, false) AS low_diversity
        |FROM documents d LEFT JOIN perdoc p ON d.doc_id = p.doc
        |ORDER BY doc""".stripMargin,

    // Hashed-linear classifier: same first-4-hex md5 bucket as hash_split,
    // identity bucket→weight map, exact long sum, floored micro-unit mean.
    "q_classifier_score" ->
      s"""WITH toks AS (
         |  SELECT doc_id AS doc, unnest(str_split(${norm("text")}, ' ')) AS tok
         |  FROM documents),
         |h AS (SELECT doc, substr(md5(tok), 1, 4) AS hx FROM toks WHERE tok <> ''),
         |w AS (SELECT doc, ${hex4("hx")} % 2001 AS w FROM h),
         |perdoc AS (
         |  SELECT doc, count(*) AS n_tokens, sum(w) AS w_sum FROM w GROUP BY doc)
         |SELECT d.doc_id AS doc,
         |  CAST(coalesce(p.n_tokens, 0) AS BIGINT) AS n_tokens,
         |  coalesce(CAST(floor((p.w_sum * 1000000) / p.n_tokens) AS BIGINT) / 1e6,
         |    0.0) AS score_milli,
         |  coalesce(p.w_sum > p.n_tokens * 1000, false) AS keep
         |FROM documents d LEFT JOIN perdoc p ON d.doc_id = p.doc
         |ORDER BY doc""".stripMargin,

    "q_token_count" ->
      """SELECT doc_id,
        |  CAST(CASE WHEN trim(coalesce(text, '')) = '' THEN 0
        |       ELSE len(str_split_regex(trim(coalesce(text, '')), '\s+')) END AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(coalesce(text, ''), '\p{L}+|\d+|[^\p{L}\d\s]')) AS BIGINT) AS bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_fingerprint" ->
      s"""SELECT doc_id, md5(${norm("text")}) AS fp_md5
         |FROM documents ORDER BY doc_id""".stripMargin,

    // TF-IDF: ranking and output both use the 4-decimal-rounded score so
    // a last-ulp ln() difference between libm implementations can't flip
    // the order or the value.
    "q_tfidf" ->
      s"""WITH toks AS (
         |  SELECT doc_id AS doc, unnest(str_split(${norm("text")}, ' ')) AS term
         |  FROM documents),
         |tf AS (
         |  SELECT doc, term, CAST(count(*) AS BIGINT) AS tf
         |  FROM toks WHERE term <> '' GROUP BY doc, term),
         |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |scored AS (
         |  SELECT doc, tf.term AS term, tf,
         |    round(tf * ln((n_docs + 1.0) / (df + 1.0)), 4) AS tfidf
         |  FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n)
         |SELECT doc, term, rank, tfidf FROM (
         |  SELECT doc, term, tfidf,
         |    CAST(row_number() OVER (PARTITION BY doc ORDER BY tfidf DESC, term) AS BIGINT) AS rank
         |  FROM scored) r
         |WHERE rank <= 3 ORDER BY doc, rank""".stripMargin,

    // Bigram document frequency: list_distinct mirrors word_shingles'
    // per-document distinctness; docs under n tokens are excluded on both
    // sides (the engine filters size(tokens) >= 2).
    "q_ngram_freq" ->
      s"""WITH d AS (
         |  SELECT lang, str_split(${norm("text")}, ' ') AS toks FROM documents),
         |bg AS (
         |  SELECT lang AS grp,
         |    unnest(list_distinct([toks[i] || ' ' || toks[i+1] FOR i IN range(1, len(toks))])) AS ngram
         |  FROM d WHERE len(toks) >= 2),
         |cnt AS (
         |  SELECT grp, ngram, CAST(count(*) AS BIGINT) AS n_docs
         |  FROM bg GROUP BY grp, ngram)
         |SELECT grp, ngram, rank, n_docs FROM (
         |  SELECT grp, ngram, n_docs,
         |    CAST(row_number() OVER (PARTITION BY grp ORDER BY n_docs DESC, ngram) AS BIGINT) AS rank
         |  FROM cnt) r
         |WHERE rank <= 10 ORDER BY grp, rank""".stripMargin,

    // Salted join must be result-identical to the plain equi-join.
    "q_salted_join" ->
      """SELECT s_nationkey, round(sum(l_quantity), 2) AS sum_qty,
        |  count(*) AS n_rows
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,

    // Aligned unnests zip in DuckDB: (seg, pos) pairs stay in step.
    "q_dedup_paragraphs" ->
      s"""WITH segs AS (
         |  SELECT doc_id,
         |    unnest(string_split_regex(coalesce(text, ''), '\\.\\s+')) AS seg,
         |    unnest(range(0, len(string_split_regex(coalesce(text, ''), '\\.\\s+')))) AS pos
         |  FROM documents),
         |keyed AS (
         |  SELECT doc_id, pos, seg,
         |    md5(CASE WHEN ${norm("seg")} = '' THEN seg ELSE ${norm("seg")} END) AS k
         |  FROM segs WHERE trim(seg) != ''),
         |firsts AS (
         |  SELECT doc_id, pos, seg,
         |    row_number() OVER (PARTITION BY k ORDER BY doc_id, pos) AS rn
         |  FROM keyed),
         |agg AS (
         |  SELECT doc_id, string_agg(seg, '. ' ORDER BY pos) AS dedup_text
         |  FROM firsts WHERE rn = 1 GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(a.dedup_text, '') AS dedup_text
         |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    // Boilerplate strip: footer planted into every 3rd doc on both sides
    // (corpus has no natural cross-doc paragraphs — same planting pattern
    // as q_pii_redact), then the same segment/keying CTEs as
    // q_dedup_paragraphs with df >= 3 keys removed EVERYWHERE (vs
    // first-copy-wins above).
    "q_strip_boilerplate" ->
      s"""WITH planted AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 3 = 0
         |         THEN text || '. All rights reserved worldwide'
         |         ELSE text END AS text
         |  FROM documents),
         |segs AS (
         |  SELECT doc_id,
         |    unnest(string_split_regex(coalesce(text, ''), '\\.\\s+')) AS seg,
         |    unnest(range(0, len(string_split_regex(coalesce(text, ''), '\\.\\s+')))) AS pos
         |  FROM planted),
         |keyed AS (
         |  SELECT doc_id, pos, seg,
         |    md5(CASE WHEN ${norm("seg")} = '' THEN seg ELSE ${norm("seg")} END) AS k
         |  FROM segs WHERE trim(seg) != ''),
         |boiler AS (
         |  SELECT k FROM (SELECT k, count(DISTINCT doc_id) AS df
         |                 FROM keyed GROUP BY k) f
         |  WHERE df >= 3),
         |agg AS (
         |  SELECT doc_id, string_agg(seg, '. ' ORDER BY pos) AS clean_text
         |  FROM keyed WHERE k NOT IN (SELECT k FROM boiler)
         |  GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(a.clean_text, '') AS clean_text
         |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    // ExactSubstr dedup: disclaimer planted into every 5th doc on both
    // sides; 8-token windows grouped by their md5 key, the canonical first
    // occurrence (smallest (doc, pos)) kept via row_number, the rest
    // island-merged (new run iff start > prev-max-end + 1) and removed.
    // Two zipped unnests keep window position and key in lockstep.
    "q_dedup_substring" ->
      s"""WITH planted AS (
         |  SELECT doc_id, CASE WHEN doc_id % 5 = 0
         |    THEN text || ' this document is provided as is without any warranty of any kind'
         |    ELSE text END AS text
         |  FROM documents),
         |toks AS (SELECT doc_id AS doc, str_split(${norm("text")}, ' ') AS t FROM planted),
         |wins AS (
         |  SELECT doc,
         |    unnest(generate_series(1, len(t) - 7)) AS pos,
         |    unnest([md5(array_to_string(t[i:i+7], ' ')) FOR i IN generate_series(1, len(t) - 7)]) AS wk
         |  FROM toks WHERE len(t) >= 8),
         |occ AS (
         |  SELECT doc, pos,
         |    count(*) OVER (PARTITION BY wk) AS cnt,
         |    row_number() OVER (PARTITION BY wk ORDER BY doc, pos) AS rn
         |  FROM wins),
         |spans AS (SELECT doc, pos AS s, pos + 7 AS e FROM occ WHERE cnt > 1 AND rn > 1),
         |isl AS (
         |  SELECT doc, s, e,
         |    CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc ORDER BY s
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
         |    THEN 1 ELSE 0 END AS brk
         |  FROM spans),
         |merged AS (
         |  SELECT doc, gid, min(s) AS s, max(e) AS e
         |  FROM (SELECT doc, s, e,
         |          sum(brk) OVER (PARTITION BY doc ORDER BY s) AS gid FROM isl)
         |  GROUP BY doc, gid),
         |stats AS (
         |  SELECT doc, count(*) AS n_spans, sum(e - s + 1) AS n_dup FROM merged GROUP BY doc),
         |toksep AS (
         |  SELECT doc, unnest(t) AS tok, unnest(generate_series(1, len(t))) AS pos FROM toks),
         |kept AS (
         |  SELECT tk.doc, tk.pos, tk.tok
         |  FROM toksep tk LEFT JOIN merged m
         |    ON tk.doc = m.doc AND tk.pos BETWEEN m.s AND m.e
         |  WHERE m.doc IS NULL),
         |cleaned AS (
         |  SELECT doc, string_agg(tok, ' ' ORDER BY pos) AS clean_text FROM kept GROUP BY doc)
         |SELECT t.doc AS doc,
         |  CAST(len(t.t) AS BIGINT) AS n_tokens,
         |  CAST(coalesce(st.n_dup, 0) AS BIGINT) AS n_dup_tokens,
         |  CAST(coalesce(st.n_spans, 0) AS BIGINT) AS n_spans,
         |  coalesce(c.clean_text, '') AS clean_text
         |FROM toks t
         |LEFT JOIN stats st ON t.doc = st.doc
         |LEFT JOIN cleaned c ON t.doc = c.doc
         |ORDER BY doc""".stripMargin,

    "q_latest_snapshot" ->
      """WITH ranked AS (
        |  SELECT o_custkey, o_orderkey,
        |    strftime(o_orderdate, '%Y-%m-%d') AS as_of, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders)
        |SELECT o_custkey, o_orderkey, as_of, o_totalprice
        |FROM ranked WHERE rn = 1 ORDER BY o_custkey""".stripMargin,

    // DuckDB has no width_bucket: spelled as the equivalent arithmetic
    // (bucket i covers [lo + (i-1)·w, lo + i·w), 0 below, count+1 above).
    "q_histogram" ->
      """SELECT CAST(CASE WHEN o_totalprice < 0 THEN 0
        |       WHEN o_totalprice >= 600000 THEN 13
        |       ELSE floor(o_totalprice / 50000) + 1 END AS BIGINT) AS bucket,
        |  count(*) AS n
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_intersect_except" ->
      """WITH urgent AS (
        |  SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
        |low AS (
        |  SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '5-LOW')
        |SELECT o_custkey, 'both' AS op FROM (SELECT * FROM urgent INTERSECT SELECT * FROM low)
        |UNION ALL
        |SELECT o_custkey, 'urgent_only' AS op FROM (SELECT * FROM urgent EXCEPT SELECT * FROM low)
        |ORDER BY op, o_custkey""".stripMargin,

    "q_grouping_sets" ->
      """SELECT r_name, c_mktsegment,
        |  round(CAST(sum(c_acctbal) AS DOUBLE), 2) AS sum_bal,
        |  count(*) AS n_cust
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY GROUPING SETS ((r_name, c_mktsegment), (r_name), ())
        |ORDER BY r_name ASC NULLS FIRST, c_mktsegment ASC NULLS FIRST""".stripMargin,

    // Spark weekday (0=Mon) + 1 == DuckDB isodow (1=Mon); last_day via
    // date string for cross-engine type parity.
    "q_date_funcs" ->
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS BIGINT) AS y,
        |  CAST(month(o_orderdate) AS BIGINT) AS m,
        |  CAST(quarter(o_orderdate) AS BIGINT) AS q,
        |  CAST(isodow(o_orderdate) AS BIGINT) AS isodow,
        |  CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT)
        |    AS days_since,
        |  CAST(last_day(CAST(o_orderdate AS DATE)) AS VARCHAR) AS month_end
        |FROM orders WHERE o_orderkey < 500 ORDER BY o_orderkey""".stripMargin,

    "q_fuzzy_match" ->
      """SELECT a.p_partkey, a.p_name, b.p_name AS next_name,
        |  CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist
        |FROM part a JOIN part b ON b.p_partkey = a.p_partkey + 1
        |WHERE a.p_partkey <= 200 AND b.p_partkey <= 200
        |  AND levenshtein(a.p_name, b.p_name) <= 25
        |ORDER BY a.p_partkey""".stripMargin,

    // + 0.0 canonicalizes IEEE -0.0 (mirrors the Spark side).
    "q_stats_agg" ->
      """SELECT l_returnflag,
        |  round(stddev_samp(l_quantity), 3) + 0.0 AS sd_qty,
        |  round(var_samp(l_quantity), 3) + 0.0 AS var_qty,
        |  round(corr(l_quantity, l_extendedprice), 3) + 0.0 AS corr_qp,
        |  round(covar_samp(l_quantity, l_discount), 3) + 0.0 AS cov_qd
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_array_hof" ->
      """WITH q AS (
        |  SELECT vec_id,
        |    [CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT) FOR x IN embedding] AS qv
        |  FROM embeddings WHERE vec_id < 200)
        |SELECT vec_id,
        |  CAST(len(list_filter(qv, x -> x > 0)) AS BIGINT) AS n_pos,
        |  CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS sum_sq,
        |  CAST(list_max(list_transform(qv, x -> abs(x))) AS BIGINT) AS max_abs
        |FROM q ORDER BY vec_id""".stripMargin,

    // The whole corpus pipeline: dedup → quality >= 0.5 → redact → split.
    "q_corpus_pipeline" ->
      s"""WITH canon AS (
         |  SELECT min(doc_id) AS keep FROM documents GROUP BY md5(${norm("text")})),
         |kept AS (
         |  SELECT d.doc_id, d.text FROM documents d JOIN canon c ON d.doc_id = c.keep),
         |m AS (
         |  SELECT doc_id, text,
         |    CAST(length(coalesce(text, '')) AS DOUBLE) AS nc,
         |    CAST(CASE WHEN trim(coalesce(text, '')) = '' THEN 0
         |         ELSE len(str_split_regex(trim(coalesce(text, '')), '\\s+')) END AS BIGINT) AS n_tokens,
         |    CAST(len(regexp_extract_all(coalesce(text, ''), '[^\\p{L}\\d\\s]')) AS BIGINT) AS n_punct,
         |    ${langScore("text", stopAll)} AS n_stop
         |  FROM kept),
         |r AS (
         |  SELECT doc_id, text,
         |    round(((CASE WHEN n_tokens >= 10 AND n_tokens <= 1000 THEN 1.0 ELSE 0.0 END)
         |         + (CASE WHEN (CASE WHEN n_tokens > 0 THEN nc / n_tokens ELSE 0.0 END) >= 3.0
         |                  AND (CASE WHEN n_tokens > 0 THEN nc / n_tokens ELSE 0.0 END) <= 12.0
         |                THEN 1.0 ELSE 0.0 END)
         |         + (CASE WHEN (CASE WHEN nc > 0 THEN CAST(n_punct AS DOUBLE) / nc ELSE 1.0 END) <= 0.2
         |                THEN 1.0 ELSE 0.0 END)
         |         + (CASE WHEN (CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END) >= 0.05
         |                THEN 1.0 ELSE 0.0 END)) / 4.0, 2) AS quality
         |  FROM m),
         |h AS (
         |  SELECT doc_id, quality, text, md5(CAST(doc_id AS VARCHAR)) AS hx FROM r
         |  WHERE quality >= 0.5),
         |b AS (
         |  SELECT doc_id, quality, text,
         |    ((strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 4096 +
         |     (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1) * 256 +
         |     (strpos('0123456789abcdef', substr(hx, 3, 1)) - 1) * 16 +
         |     (strpos('0123456789abcdef', substr(hx, 4, 1)) - 1)) % 100 AS bucket
         |  FROM h)
         |SELECT doc_id, quality,
         |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(coalesce(text, ''),
         |    'https?://\\S+', '<URL>', 'g'),
         |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         |    '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'),
         |    '\\+?\\d[\\d\\s().-]{7,}\\d', '<PHONE>', 'g') AS clean_text,
         |  CASE WHEN bucket < 90 THEN 'train'
         |       WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split
         |FROM b ORDER BY doc_id""".stripMargin,

    // Same regex chain and order as TextAnalysis.redactPii (all RE2-safe).
    // text is coalesced to '' on BOTH sides (Spark side does the same) so
    // the pair stays equivalent if the generator ever emits null text —
    // || would otherwise null the whole planted string here while
    // redactPii's internal coalesce yields ''.
    "q_pii_redact" ->
      """WITH planted AS (
        |  SELECT doc_id,
        |    coalesce(text, '') || ' Contact user' || CAST(doc_id AS VARCHAR) ||
        |    '@mail.example.com, call +7 916 ' ||
        |    lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') ||
        |    '-12-34, visit https://svc' || CAST(doc_id % 7 AS VARCHAR) ||
        |    '.example.org/d/' || CAST(doc_id AS VARCHAR) ||
        |    ' from 10.1.' || CAST(doc_id % 256 AS VARCHAR) || '.42' AS raw
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(raw,
        |    'https?://\S+', '<URL>', 'g'),
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\+?\d[\d\s().-]{7,}\d', '<PHONE>', 'g') AS redacted
        |FROM planted ORDER BY doc_id""".stripMargin,

    // HTML extraction: identical regex chain (RE2 inline flags, non-
    // greedy dot-all blocks), entity decode after tag strip with &amp;
    // LAST (one decode level), chr(10) as the newline replacement.
    "q_html_text" ->
      """WITH planted AS (
        |  SELECT doc_id,
        |    '<html><head><title>D' || CAST(doc_id AS VARCHAR) ||
        |    '</title><style type="text/css">p { color: red }</style>' ||
        |    '</head><body><!-- hidden --><h1>R&amp;D &amp;amp; more</h1><p>' ||
        |    coalesce(text, '') ||
        |    '</p><ul><li>first &lt;item&gt;</li><li>second&nbsp;' ||
        |    '&#39;quoted&#39;</li></ul><script>var x = 1 < 2;</script>' ||
        |    '<div>tail</div></body></html>' AS raw
        |  FROM documents),
        |s1 AS (SELECT doc_id, regexp_replace(raw,
        |  '(?is)<(script|style)\b[^>]*>.*?</(script|style)\s*>', ' ', 'g') AS t
        |  FROM planted),
        |s2 AS (SELECT doc_id, regexp_replace(t, '(?s)<!--.*?-->', ' ', 'g') AS t
        |  FROM s1),
        |s3 AS (SELECT doc_id, regexp_replace(t,
        |  '(?i)<(br|/p|/div|/li|/h[1-6]|/tr)\b[^>]*>', chr(10), 'g') AS t
        |  FROM s2),
        |s4 AS (SELECT doc_id, regexp_replace(t, '<[^>]*>', ' ', 'g') AS t
        |  FROM s3),
        |s5 AS (SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |  regexp_replace(regexp_replace(t,
        |    '&lt;', '<', 'g'), '&gt;', '>', 'g'), '&quot;', '"', 'g'),
        |    '&#39;', '''', 'g'), '&apos;', '''', 'g'), '&nbsp;', ' ', 'g') AS t
        |  FROM s4),
        |s6 AS (SELECT doc_id, regexp_replace(t, '&amp;', '&', 'g') AS t
        |  FROM s5),
        |s7 AS (SELECT doc_id, regexp_replace(t, '[ \t\x0B\f\r]+', ' ', 'g') AS t
        |  FROM s6),
        |s8 AS (SELECT doc_id, regexp_replace(t, ' ?\n ?', chr(10), 'g') AS t
        |  FROM s7)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(t, '\n{2,}', chr(10), 'g'),
        |    '^\s+|\s+$', '', 'g') AS extracted
        |FROM s8 ORDER BY doc_id""".stripMargin,

    // Gopher rules: every metric is a regex count (RE2 multiline flags)
    // and every threshold an integer cross-multiply; mean word length
    // uses the classifierScore floor-of-double-quotient convention.
    "q_gopher" ->
      """WITH planted AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN coalesce(text, '') || chr(10) ||
        |        '- item one' || chr(10) || '- item two' || chr(10) ||
        |        '* item three'
        |      WHEN doc_id % 5 = 1 THEN coalesce(text, '') || chr(10) ||
        |        'to be continued...' || chr(10) || 'and then more…'
        |      ELSE coalesce(text, '') END AS t
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(t, '\S+')) AS BIGINT) AS n_words,
        |    CAST(length(regexp_replace(t, '\s+', '', 'g')) AS BIGINT) AS cs,
        |    CAST(len(regexp_extract_all(t, '\.{3}|…')) AS BIGINT)
        |      + CAST(length(t) - length(replace(t, '#', '')) AS BIGINT) AS n_symbols,
        |    CAST(len(regexp_extract_all(t, '(?m)^[ \t]*\S')) AS BIGINT) AS n_lines,
        |    CAST(len(regexp_extract_all(t, '(?m)^[ \t]*[-*•]')) AS BIGINT) AS n_bullet_lines,
        |    CAST(len(regexp_extract_all(t, '(?m)(\.{3}|…)[ \t]*$')) AS BIGINT) AS n_ellipsis_lines,
        |    CAST(len(regexp_extract_all(t, '\S*\p{L}\S*')) AS BIGINT) AS n_alpha_words,
        |    CAST((CASE WHEN regexp_matches(lower(t), '\bthe\b') THEN 1 ELSE 0 END
        |      + CASE WHEN regexp_matches(lower(t), '\bbe\b') THEN 1 ELSE 0 END
        |      + CASE WHEN regexp_matches(lower(t), '\bto\b') THEN 1 ELSE 0 END
        |      + CASE WHEN regexp_matches(lower(t), '\bof\b') THEN 1 ELSE 0 END
        |      + CASE WHEN regexp_matches(lower(t), '\band\b') THEN 1 ELSE 0 END
        |      + CASE WHEN regexp_matches(lower(t), '\bthat\b') THEN 1 ELSE 0 END
        |      + CASE WHEN regexp_matches(lower(t), '\bhave\b') THEN 1 ELSE 0 END
        |      + CASE WHEN regexp_matches(lower(t), '\bwith\b') THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_stop_kinds
        |  FROM planted),
        |w AS (
        |  SELECT *, CASE WHEN n_words > 0
        |    THEN CAST(floor((cs * 1000000) / n_words) AS BIGINT)
        |    ELSE 0 END AS mean_word_len_micro
        |  FROM m)
        |SELECT doc_id AS doc, n_words, mean_word_len_micro, n_symbols,
        |  n_lines, n_bullet_lines, n_ellipsis_lines, n_alpha_words,
        |  n_stop_kinds,
        |  (n_words >= 50 AND n_words <= 100000
        |    AND mean_word_len_micro >= 3000000 AND mean_word_len_micro <= 10000000
        |    AND n_symbols * 10 <= n_words
        |    AND n_bullet_lines * 10 <= n_lines * 9
        |    AND n_ellipsis_lines * 10 <= n_lines * 3
        |    AND n_alpha_words * 10 >= n_words * 8
        |    AND n_stop_kinds >= 2) AS keep
        |FROM w ORDER BY doc""".stripMargin,

    "q_url_extract" ->
      """WITH planted AS (
        |  SELECT doc_id,
        |    'see https://a' || CAST(doc_id % 5 AS VARCHAR) || '.example.com/x/' ||
        |    CAST(doc_id AS VARCHAR) ||
        |    CASE WHEN doc_id % 3 = 0
        |      THEN ' and http://b' || CAST(doc_id % 4 AS VARCHAR) ||
        |           '.example.org/?q=' || CAST(doc_id AS VARCHAR)
        |      ELSE '' END || ' end' AS text
        |  FROM documents),
        |urls AS (
        |  SELECT doc_id, unnest(regexp_extract_all(text, 'https?://\S+')) AS url
        |  FROM planted)
        |SELECT doc_id, url, regexp_extract(url, '^https?://([^/]+)', 1) AS domain
        |FROM urls ORDER BY doc_id, url""".stripMargin,

    // Hex→int spelled as strpos arithmetic (DuckDB has no conv(x, 16, 10));
    // the Spark side reads the same leading 4 md5 hex chars.
    "q_hash_split" ->
      """WITH h AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS hx FROM documents),
        |b AS (SELECT doc_id,
        |  ((strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 4096 +
        |   (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1) * 256 +
        |   (strpos('0123456789abcdef', substr(hx, 3, 1)) - 1) * 16 +
        |   (strpos('0123456789abcdef', substr(hx, 4, 1)) - 1)) % 100 AS bucket
        |  FROM h)
        |SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
        |  CASE WHEN bucket < 80 THEN 'train'
        |       WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
        |FROM b ORDER BY doc_id""".stripMargin,

    // Own shingle chain with the >= n token guard (the shared ngramCtes
    // collapses sub-n texts to a whole-text shingle, which is exact-dup
    // territory, not n-gram overlap — ngramOverlap filters them out).
    "q_contamination" ->
      s"""WITH ctoks AS (
         |  SELECT doc_id AS doc, str_split(${norm("text")}, ' ') AS t FROM documents),
         |csh AS (
         |  SELECT doc, list_distinct(
         |    [array_to_string(t[i:i+2], ' ') FOR i IN generate_series(1, len(t) - 2)]) AS shs
         |  FROM ctoks WHERE len(t) >= 3),
         |cex AS (SELECT doc, unnest(shs) AS s FROM csh),
         |bench AS (SELECT doc, s FROM cex WHERE doc % 97 = 0)
         |SELECT c.doc AS doc_id, b.doc AS bench_doc,
         |  CAST(count(*) AS BIGINT) AS n_common
         |FROM cex c JOIN bench b ON c.s = b.s AND c.doc != b.doc
         |GROUP BY 1, 2 HAVING count(*) >= 2
         |ORDER BY doc_id, bench_doc""".stripMargin,

    // Decontamination materialization: q_contamination's shingle chain
    // restricted to train-vs-bench, then NOT IN over the distinct dirty
    // ids (the anti-join replica).
    "q_decontaminate" ->
      s"""WITH ctoks AS (
         |  SELECT doc_id AS doc, str_split(${norm("text")}, ' ') AS t FROM documents),
         |csh AS (
         |  SELECT doc, list_distinct(
         |    [array_to_string(t[i:i+2], ' ') FOR i IN generate_series(1, len(t) - 2)]) AS shs
         |  FROM ctoks WHERE len(t) >= 3),
         |cex AS (SELECT doc, unnest(shs) AS s FROM csh),
         |train AS (SELECT doc, s FROM cex WHERE doc % 97 <> 0),
         |bench AS (SELECT doc, s FROM cex WHERE doc % 97 = 0),
         |dirty AS (
         |  SELECT DISTINCT c.doc
         |  FROM train c JOIN bench b ON c.s = b.s AND c.doc != b.doc
         |  GROUP BY c.doc, b.doc HAVING count(*) >= 2)
         |SELECT d.doc_id, d.lang, d.source FROM documents d
         |WHERE d.doc_id % 97 <> 0 AND d.doc_id NOT IN (SELECT doc FROM dirty)
         |ORDER BY d.doc_id""".stripMargin,

    // Welch t-test: HUGEINT conditional sums of floor-quantized values,
    // then one fixed IEEE expression tree (multiply/divide/sqrt only —
    // no engine-ordered float accumulation, no libm pow/ln).
    "q_ab_test" ->
      """WITH r AS (
        |  SELECT event_type, (user_id % 2 = 0) AS a,
        |    CAST(floor(value * 10000) AS HUGEINT) AS y
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL),
        |agg AS (
        |  SELECT event_type,
        |    CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    sum(CASE WHEN a THEN y ELSE 0 END) AS s_a,
        |    sum(CASE WHEN NOT a THEN y ELSE 0 END) AS s_b,
        |    sum(CASE WHEN a THEN y * y ELSE 0 END) AS ss_a,
        |    sum(CASE WHEN NOT a THEN y * y ELSE 0 END) AS ss_b
        |  FROM r GROUP BY 1),
        |m AS (
        |  SELECT *,
        |    CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS ma,
        |    CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mb,
        |    (CAST(ss_a AS DOUBLE) - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE)
        |      / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1.0) AS va,
        |    (CAST(ss_b AS DOUBLE) - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE)
        |      / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1.0) AS vb
        |  FROM agg),
        |se AS (
        |  SELECT *, va / CAST(n_a AS DOUBLE) AS sea, vb / CAST(n_b AS DOUBLE) AS seb,
        |    va / CAST(n_a AS DOUBLE) + vb / CAST(n_b AS DOUBLE) AS se2
        |  FROM m)
        |SELECT event_type, n_a, n_b,
        |  CASE WHEN n_a > 0 THEN CAST(floor(ma * 100.0) AS BIGINT) END AS mean_a_micro,
        |  CASE WHEN n_b > 0 THEN CAST(floor(mb * 100.0) AS BIGINT) END AS mean_b_micro,
        |  CASE WHEN n_a >= 2 AND n_b >= 2 AND se2 > 0.0
        |    THEN CAST(floor((ma - mb) / sqrt(se2) * 1000000.0) AS BIGINT)
        |  END AS t_micro,
        |  CASE WHEN n_a >= 2 AND n_b >= 2 AND se2 > 0.0
        |    THEN CAST(floor(se2 * se2 / (sea * sea / (CAST(n_a AS DOUBLE) - 1.0)
        |      + seb * seb / (CAST(n_b AS DOUBLE) - 1.0)) * 1000000.0) AS BIGINT)
        |  END AS df_micro
        |FROM se ORDER BY event_type""".stripMargin,

    // Mann–Whitney U: doubled mid-ranks stay integer (2·rank_min +
    // tieCount − 1); Σ(t³−t) via the per-row t²−1 identity; one fixed
    // IEEE tree for the tie-corrected z.
    "q_mann_whitney" ->
      """WITH r AS (
        |  SELECT event_type, (user_id % 2 = 0) AS a,
        |    CAST(floor(value * 10000) AS BIGINT) AS y
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL),
        |rk AS (
        |  SELECT event_type, a, y,
        |    2 * rank() OVER (PARTITION BY event_type ORDER BY y)
        |      + count(*) OVER (PARTITION BY event_type, y) - 1 AS r2,
        |    count(*) OVER (PARTITION BY event_type, y) AS t
        |  FROM r),
        |agg AS (
        |  SELECT event_type,
        |    CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    sum(CASE WHEN a THEN CAST(r2 AS HUGEINT) ELSE 0 END) AS ra2,
        |    sum(CAST(t * t - 1 AS HUGEINT)) AS ties
        |  FROM rk GROUP BY 1),
        |u AS (
        |  SELECT *, CAST(2 * CAST(n_a AS HUGEINT) * n_b
        |    + CAST(n_a AS HUGEINT) * (n_a + 1) - ra2 AS BIGINT) AS u2_a,
        |    CAST(n_a + n_b AS DOUBLE) AS n
        |  FROM agg),
        |s AS (
        |  SELECT *, sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0
        |    * ((n + 1.0) - CAST(ties AS DOUBLE) / (n * (n - 1.0)))) AS sigma
        |  FROM u)
        |SELECT event_type, n_a, n_b, u2_a,
        |  CASE WHEN n_a > 0 AND n_b > 0 AND sigma > 0.0
        |    THEN CAST(floor((CAST(u2_a AS DOUBLE)
        |      - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) / 2.0 / sigma
        |      * 1000000.0) AS BIGINT)
        |  END AS z_micro
        |FROM s ORDER BY event_type""".stripMargin,

    // Cohen's kappa with cleared denominators: exact HUGEINT
    // numerator/denominator, one final double division.
    "q_cohen_kappa" ->
      """WITH r AS (
        |  SELECT o_orderstatus,
        |    CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 'hi' ELSE 'lo' END AS a,
        |    CASE WHEN o_totalprice > 150000 THEN 'hi' ELSE 'lo' END AS b
        |  FROM orders),
        |cells AS (
        |  SELECT o_orderstatus, a, b, count(*) AS c FROM r GROUP BY 1, 2, 3),
        |tot AS (
        |  SELECT o_orderstatus, CAST(sum(c) AS HUGEINT) AS n,
        |    CAST(sum(CASE WHEN a = b THEN c ELSE 0 END) AS HUGEINT) AS agree
        |  FROM cells GROUP BY 1),
        |ma AS (SELECT o_orderstatus, a AS cat, CAST(sum(c) AS HUGEINT) AS na
        |  FROM cells GROUP BY 1, 2),
        |mb AS (SELECT o_orderstatus, b AS cat, CAST(sum(c) AS HUGEINT) AS nb
        |  FROM cells GROUP BY 1, 2),
        |e AS (SELECT o_orderstatus, sum(na * nb) AS e
        |  FROM ma JOIN mb USING (o_orderstatus, cat) GROUP BY 1)
        |SELECT o_orderstatus, CAST(n AS BIGINT) AS n,
        |  CAST(agree AS BIGINT) AS agree,
        |  CASE WHEN n * n - e <> 0
        |    THEN CAST(floor(CAST(agree * n - e AS DOUBLE)
        |      / CAST(n * n - e AS DOUBLE) * 1000000.0) AS BIGINT)
        |  END AS kappa_micro
        |FROM tot JOIN e USING (o_orderstatus) ORDER BY o_orderstatus""".stripMargin,

    // PSI + KL drift: cleared-denominator integer weights, per-bin ln
    // quantized to micro-nats, HUGEINT accumulation, ALL 20 bins
    // completed per group (smoothing covers empty bins), one final
    // double division per score.
    "q_drift_psi" ->
      """WITH r AS (
        |  SELECT event_type, (day(ts) <= 15) AS p,
        |    CAST(least(greatest(floor(value / 25.0), 0), 19) AS BIGINT) AS b
        |  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
        |cells AS (
        |  SELECT event_type, b,
        |    CAST(sum(CASE WHEN p THEN 1 ELSE 0 END) AS BIGINT) AS cp,
        |    CAST(sum(CASE WHEN NOT p THEN 1 ELSE 0 END) AS BIGINT) AS cq
        |  FROM r GROUP BY 1, 2),
        |allb AS (
        |  SELECT g.event_type, t.b,
        |    coalesce(c.cp, 0) AS cp, coalesce(c.cq, 0) AS cq
        |  FROM (SELECT DISTINCT event_type FROM cells) g
        |  CROSS JOIN generate_series(0, 19) t(b)
        |  LEFT JOIN cells c ON c.event_type = g.event_type AND c.b = t.b),
        |tot AS (
        |  SELECT event_type, CAST(sum(cp) AS BIGINT) AS n_p,
        |    CAST(sum(cq) AS BIGINT) AS n_q
        |  FROM cells GROUP BY 1),
        |sc AS (
        |  SELECT f.event_type, n_p, n_q, cp,
        |    CAST(cp + 1 AS HUGEINT) * (n_q + 20) AS wp,
        |    CAST(cq + 1 AS HUGEINT) * (n_p + 20) AS wq
        |  FROM allb f JOIN tot USING (event_type)),
        |lnb AS (
        |  SELECT *, CAST(round(ln(CAST(wp AS DOUBLE) / CAST(wq AS DOUBLE))
        |    * 1000000.0) AS HUGEINT) AS lnm
        |  FROM sc),
        |agg AS (
        |  SELECT event_type, any_value(n_p) AS n_p, any_value(n_q) AS n_q,
        |    sum((wp - wq) * lnm) AS s,
        |    sum(CAST(cp + 1 AS HUGEINT) * lnm) AS k
        |  FROM lnb GROUP BY 1)
        |SELECT event_type, n_p, n_q,
        |  CAST(floor(CAST(s AS DOUBLE)
        |    / CAST((n_p + 20) * (n_q + 20) AS DOUBLE)) AS BIGINT) AS psi_micro,
        |  CAST(floor(CAST(k AS DOUBLE)
        |    / CAST(n_p + 20 AS DOUBLE)) AS BIGINT) AS kl_micro
        |FROM agg ORDER BY event_type""".stripMargin,

    // Jensen–Shannon drift: the q_drift_psi cell/smoothing skeleton
    // verbatim; the mixture ratio collapses to 2w/(w_p+w_q), each log
    // micro-quantized once, exact HUGEINT summands, ONE final double
    // division by 2D.
    "q_js_divergence" ->
      """WITH r AS (
        |  SELECT event_type, (day(ts) <= 15) AS p,
        |    CAST(least(greatest(floor(value / 25.0), 0), 19) AS BIGINT) AS b
        |  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
        |cells AS (
        |  SELECT event_type, b,
        |    CAST(sum(CASE WHEN p THEN 1 ELSE 0 END) AS BIGINT) AS cp,
        |    CAST(sum(CASE WHEN NOT p THEN 1 ELSE 0 END) AS BIGINT) AS cq
        |  FROM r GROUP BY 1, 2),
        |allb AS (
        |  SELECT g.event_type, t.b,
        |    coalesce(c.cp, 0) AS cp, coalesce(c.cq, 0) AS cq
        |  FROM (SELECT DISTINCT event_type FROM cells) g
        |  CROSS JOIN generate_series(0, 19) t(b)
        |  LEFT JOIN cells c ON c.event_type = g.event_type AND c.b = t.b),
        |tot AS (
        |  SELECT event_type, CAST(sum(cp) AS BIGINT) AS n_p,
        |    CAST(sum(cq) AS BIGINT) AS n_q
        |  FROM cells GROUP BY 1),
        |sc AS (
        |  SELECT f.event_type, n_p, n_q,
        |    CAST(cp + 1 AS HUGEINT) * (n_q + 20) AS wp,
        |    CAST(cq + 1 AS HUGEINT) * (n_p + 20) AS wq
        |  FROM allb f JOIN tot USING (event_type)),
        |lnb AS (
        |  SELECT *,
        |    CAST(round(ln(2.0 * CAST(wp AS DOUBLE)
        |      / CAST(wp + wq AS DOUBLE)) * 1000000.0) AS HUGEINT) AS lnp,
        |    CAST(round(ln(2.0 * CAST(wq AS DOUBLE)
        |      / CAST(wp + wq AS DOUBLE)) * 1000000.0) AS HUGEINT) AS lnq
        |  FROM sc),
        |agg AS (
        |  SELECT event_type, any_value(n_p) AS n_p, any_value(n_q) AS n_q,
        |    sum(wp * lnp + wq * lnq) AS s
        |  FROM lnb GROUP BY 1)
        |SELECT event_type, n_p, n_q,
        |  CAST(floor(CAST(s AS DOUBLE)
        |    / CAST((n_p + 20) * (n_q + 20) * 2 AS DOUBLE)) AS BIGINT)
        |    AS js_micro
        |FROM agg ORDER BY event_type""".stripMargin,

    // Benford screen: ⌊v·100⌋ cents (IEEE multiply + floor, identical
    // both engines), first digit read off the BIGINT's decimal
    // rendering, the nine expectations as definitional VALUES constants.
    "q_benford" ->
      """WITH u AS (
        |  SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS v
        |  FROM orders WHERE o_totalprice IS NOT NULL),
        |d AS (
        |  SELECT CAST(substr(CAST(v AS VARCHAR), 1, 1) AS INTEGER) AS digit
        |  FROM u WHERE v > 0),
        |c AS (SELECT digit, CAST(count(*) AS BIGINT) AS cnt
        |  FROM d GROUP BY 1),
        |n AS (SELECT CAST(sum(cnt) AS BIGINT) AS nt FROM c),
        |e (digit, benford_micro) AS (VALUES
        |  (1, CAST(301030 AS BIGINT)), (2, 176091), (3, 124939),
        |  (4, 96910), (5, 79181), (6, 66947), (7, 57992), (8, 51153),
        |  (9, 45757))
        |SELECT e.digit, coalesce(c.cnt, 0) AS cnt,
        |  CASE WHEN nt > 0
        |    THEN CAST(coalesce(c.cnt, 0) * 1000000 // nt AS BIGINT)
        |    ELSE 0 END AS share_micro,
        |  e.benford_micro,
        |  abs(CASE WHEN nt > 0
        |    THEN CAST(coalesce(c.cnt, 0) * 1000000 // nt AS BIGINT)
        |    ELSE 0 END - e.benford_micro) AS dev_micro
        |FROM e CROSS JOIN n LEFT JOIN c ON c.digit = e.digit
        |ORDER BY e.digit""".stripMargin,

    // Key-skew report: stacked key columns → one cell relation,
    // ascending (cnt, key) ranks for the exact-integer Gini, windowed
    // top-1 election, HUGEINT cross-multiplies, integral divisions.
    "q_skew_report" ->
      """WITH st AS (
        |  SELECT 'l_orderkey' AS key_col,
        |    CAST(l_orderkey AS VARCHAR) AS key FROM lineitem
        |  UNION ALL SELECT 'l_partkey', CAST(l_partkey AS VARCHAR)
        |    FROM lineitem
        |  UNION ALL SELECT 'l_suppkey', CAST(l_suppkey AS VARCHAR)
        |    FROM lineitem),
        |cells AS (
        |  SELECT key_col, key, CAST(count(*) AS BIGINT) AS cnt
        |  FROM st WHERE key IS NOT NULL GROUP BY 1, 2),
        |rk AS (
        |  SELECT *, CAST(row_number() OVER (
        |    PARTITION BY key_col ORDER BY cnt, key) AS BIGINT) AS r
        |  FROM cells),
        |top AS (
        |  SELECT key_col, key AS top1_key, cnt AS top1_cnt FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY key_col ORDER BY cnt DESC, key) AS tr
        |    FROM cells) WHERE tr = 1),
        |agg AS (
        |  SELECT key_col, CAST(sum(cnt) AS BIGINT) AS n_rows,
        |    CAST(count(*) AS BIGINT) AS n_keys,
        |    sum(CAST(r AS HUGEINT) * cnt) AS s
        |  FROM rk GROUP BY 1)
        |SELECT a.key_col, n_rows, n_keys, top1_key, top1_cnt,
        |  CAST(top1_cnt * 1000000 // n_rows AS BIGINT) AS top1_share_micro,
        |  CAST((2 * s - CAST(n_keys + 1 AS HUGEINT) * n_rows) * 1000000
        |    // (CAST(n_keys AS HUGEINT) * n_rows) AS BIGINT) AS gini_micro,
        |  greatest(CAST(1 AS BIGINT),
        |    CAST((top1_cnt * 200 + n_rows - 1) // n_rows AS BIGINT))
        |    AS salt_factor
        |FROM agg a JOIN top USING (key_col) ORDER BY key_col""".stripMargin,

    // FD discovery: per pair, count-distinct dependents per determinant
    // then one summary row; four independent pairs unioned.
    "q_fd_check" ->
      """WITH p1 AS (
        |  SELECT c_custkey AS d,
        |    CAST(count(DISTINCT c_nationkey) AS BIGINT) AS nd
        |  FROM customer WHERE c_custkey IS NOT NULL GROUP BY 1),
        |p2 AS (
        |  SELECT c_nationkey AS d,
        |    CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS nd
        |  FROM customer WHERE c_nationkey IS NOT NULL GROUP BY 1),
        |p3 AS (
        |  SELECT o_orderkey AS d,
        |    CAST(count(DISTINCT o_custkey) AS BIGINT) AS nd
        |  FROM orders WHERE o_orderkey IS NOT NULL GROUP BY 1),
        |p4 AS (
        |  SELECT o_custkey AS d,
        |    CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS nd
        |  FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1),
        |u AS (
        |  SELECT 'c_custkey' AS det_col, 'c_nationkey' AS dep_col,
        |    CAST(count(*) AS BIGINT) AS n_dets,
        |    CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_violating,
        |    CAST(max(nd) AS BIGINT) AS max_deps
        |  FROM p1
        |  UNION ALL
        |  SELECT 'c_nationkey', 'c_mktsegment', CAST(count(*) AS BIGINT),
        |    CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(max(nd) AS BIGINT)
        |  FROM p2
        |  UNION ALL
        |  SELECT 'o_orderkey', 'o_custkey', CAST(count(*) AS BIGINT),
        |    CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(max(nd) AS BIGINT)
        |  FROM p3
        |  UNION ALL
        |  SELECT 'o_custkey', 'o_orderpriority', CAST(count(*) AS BIGINT),
        |    CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(max(nd) AS BIGINT)
        |  FROM p4)
        |SELECT det_col, dep_col, n_dets, n_violating, max_deps,
        |  (n_violating = 0) AS fd_holds
        |FROM u ORDER BY det_col, dep_col""".stripMargin,

    // Power-iteration PCA replica: exact HUGEINT scatter matrix, 8
    // unrolled matvec + remainder-adjusted L-inf rescale iterations.
    "q_pca_power" ->
      s"""WITH $pcaPowerCtes
         |SELECT CAST(i AS BIGINT) AS dim, CAST(v AS BIGINT) AS v_micro
         |FROM v8 ORDER BY dim""".stripMargin,

    // All-but-the-top replica: the SAME v8 chain, then the exact
    // cleared-denominator projection removal per (id, dim).
    "q_remove_top" ->
      s"""WITH $pcaPowerCtes,
         |vv AS MATERIALIZED (SELECT CAST(sum(v * v) AS HUGEINT) AS vv FROM v8),
         |qv AS MATERIALIZED (
         |  SELECT e.id, CAST(sum(CAST(e.q AS HUGEINT) * v.v) AS HUGEINT)
         |    AS qv
         |  FROM e JOIN v8 v ON e.i = v.i GROUP BY e.id)
         |SELECT e.id, CAST(e.i AS BIGINT) AS dim,
         |  CASE WHEN x.vv = 0 THEN CAST(e.q * 1000 AS BIGINT)
         |    ELSE CAST(((e.q * x.vv - qv.qv * v.v) * 1000 -
         |      ((((e.q * x.vv - qv.qv * v.v) * 1000) % x.vv + x.vv) % x.vv))
         |      // x.vv AS BIGINT)
         |  END AS value_micro
         |FROM e JOIN v8 v ON e.i = v.i JOIN qv ON e.id = qv.id, vv x
         |ORDER BY e.id, e.i""".stripMargin,

    // Quantile-normalization replica: per-source ranks with id
    // tie-break, pooled order statistics by value alone, ceil-index.
    "q_quantile_normalize" ->
      """WITH base AS (
        |  SELECT source, doc_id AS id, CAST(n_chars AS BIGINT) AS value
        |  FROM documents
        |  WHERE n_chars IS NOT NULL AND doc_id IS NOT NULL),
        |pooled AS (
        |  SELECT value AS pv,
        |    CAST(row_number() OVER (ORDER BY value) AS BIGINT) AS pos
        |  FROM base),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS big_n FROM base),
        |ranked AS (
        |  SELECT source, id, value,
        |    CAST(row_number() OVER (
        |      PARTITION BY source ORDER BY value, id) AS BIGINT) AS r,
        |    CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
        |  FROM base)
        |SELECT ranked.source, ranked.id, ranked.value,
        |  pooled.pv AS normalized
        |FROM ranked CROSS JOIN tot
        |JOIN pooled ON (ranked.r * tot.big_n + ranked.n - 1) // ranked.n
        |  = pooled.pos
        |ORDER BY id""".stripMargin,

    // Water-filling replica: sorted-prefix segment search for the water
    // line, affordability guard pinning floor semantics.
    "q_budget_waterfill" ->
      s"""WITH tk AS (
         |  SELECT source,
         |    CAST(sum(CASE WHEN nt = '' THEN 0
         |      ELSE len(str_split(nt, ' ')) END) AS BIGINT) AS t
         |  FROM (SELECT source, ${norm("text")} AS nt FROM documents)
         |  GROUP BY source),
         |r AS (
         |  SELECT source, t, CAST(row_number() OVER w AS BIGINT) AS k,
         |    CAST(sum(t) OVER w AS BIGINT) AS p,
         |    CAST(count(*) OVER () AS BIGINT) AS n,
         |    CAST(sum(t) OVER () AS BIGINT) AS total,
         |    CAST(coalesce(lag(t, 1) OVER w, 0) AS BIGINT) AS prev
         |  FROM tk WINDOW w AS (ORDER BY t, source)),
         |lvl AS (
         |  SELECT CAST(coalesce(max(
         |    CASE WHEN total <= 25000 THEN t
         |      WHEN 25000 - (p - t) >= 0
         |        AND (25000 - (p - t)) // (n - k + 1) >= prev
         |        AND (25000 - (p - t)) // (n - k + 1) < t
         |      THEN (25000 - (p - t)) // (n - k + 1) END), 0) AS BIGINT)
         |    AS l
         |  FROM r)
         |SELECT source, t AS tokens, least(t, l) AS alloc,
         |  (t > l) AS capped
         |FROM tk, lvl ORDER BY source""".stripMargin,

    // Padding-waste replica: same bin()-length next-pow2 bucket, exact
    // integer waste arithmetic.
    "q_padding_waste" ->
      s"""WITH tk AS (
         |  SELECT CASE WHEN ${norm("text")} = '' THEN 0
         |         ELSE CAST(len(str_split(${norm("text")}, ' ')) AS BIGINT)
         |         END AS n
         |  FROM documents),
         |b AS (
         |  SELECT CASE WHEN n = 0 THEN 0 WHEN n = 1 THEN 1
         |         ELSE CAST(1 AS BIGINT) << length(bin(n - 1)) END AS bucket,
         |    n
         |  FROM tk),
         |a AS (
         |  SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(n) AS BIGINT) AS sum_tokens
         |  FROM b GROUP BY 1)
         |SELECT bucket, n_docs, sum_tokens,
         |  n_docs * bucket AS padded_tokens,
         |  n_docs * bucket - sum_tokens AS waste_tokens,
         |  CASE WHEN bucket > 0 THEN
         |    CAST((n_docs * bucket - sum_tokens) * 1000000 //
         |      (n_docs * bucket) AS BIGINT)
         |  ELSE 0 END AS waste_micro
         |FROM a ORDER BY bucket""".stripMargin,

    // Negative-sampling replica: same dense item index, same
    // md5('neg:basket:j') 8-hex draws, min-j collision dedup.
    "q_negative_samples" -> {
      val draw = hexN("substr(md5('neg:' || b.basket || ':' || g.j), 1, 8)", 8)
      s"""WITH ui AS (
         |  SELECT DISTINCT o_custkey AS basket, l_partkey AS item
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |it AS (
         |  SELECT item,
         |    CAST(row_number() OVER (ORDER BY item) AS BIGINT) - 1 AS idx
         |  FROM (SELECT DISTINCT item FROM ui)),
         |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM it),
         |dr AS (
         |  SELECT b.basket, g.j,
         |    $draw % m.m AS idx
         |  FROM (SELECT DISTINCT basket FROM ui) b
         |  CROSS JOIN m CROSS JOIN generate_series(1, 11) AS g(j)),
         |cand AS (
         |  SELECT dr.basket, it.item, CAST(min(dr.j) AS BIGINT) AS j
         |  FROM dr JOIN it ON dr.idx = it.idx
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM ui o
         |    WHERE o.basket = dr.basket AND o.item = it.item)
         |  GROUP BY 1, 2),
         |rk AS (
         |  SELECT basket, item, CAST(row_number() OVER (
         |    PARTITION BY basket ORDER BY j) AS INTEGER) AS rank
         |  FROM cand)
         |SELECT basket, rank, item
         |FROM rk WHERE rank <= 3 AND basket <= 60
         |ORDER BY basket, rank""".stripMargin
    },

    // Item-CF replica: micro-cosine weights, capped neighbor lists,
    // owned exclusion by NOT EXISTS, deterministic top-3.
    "q_recommend" ->
      """WITH ui AS (
        |  SELECT DISTINCT o_custkey AS basket, l_partkey AS item
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |cnt AS (SELECT item, CAST(count(*) AS BIGINT) AS cnt FROM ui GROUP BY 1),
        |pr AS (
        |  SELECT a.item AS a, b.item AS b, CAST(count(*) AS BIGINT) AS supp
        |  FROM ui a JOIN ui b ON a.basket = b.basket AND a.item < b.item
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |w AS (
        |  SELECT a, b, CAST(floor(CAST(supp AS DOUBLE) * 1000000.0 /
        |    sqrt(CAST(ca.cnt AS DOUBLE) * CAST(cb.cnt AS DOUBLE)))
        |    AS BIGINT) AS w
        |  FROM pr JOIN cnt ca ON pr.a = ca.item
        |    JOIN cnt cb ON pr.b = cb.item),
        |sym AS (
        |  SELECT a AS src, b AS dst, w FROM w
        |  UNION ALL SELECT b, a, w FROM w),
        |nb AS (
        |  SELECT src, dst, w FROM (
        |    SELECT src, dst, w,
        |      row_number() OVER (PARTITION BY src ORDER BY w DESC, dst) AS rn
        |    FROM sym) WHERE rn <= 20),
        |sc AS (
        |  SELECT u.basket, n.dst, CAST(sum(n.w) AS BIGINT) AS score_micro
        |  FROM ui u JOIN nb n ON u.item = n.src
        |  GROUP BY 1, 2),
        |filt AS (
        |  SELECT * FROM sc s WHERE NOT EXISTS (
        |    SELECT 1 FROM ui o WHERE o.basket = s.basket AND o.item = s.dst)),
        |rec AS (
        |  SELECT basket, dst, score_micro, CAST(row_number() OVER (
        |    PARTITION BY basket ORDER BY score_micro DESC, dst)
        |    AS INTEGER) AS rank
        |  FROM filt)
        |SELECT basket, rank, dst AS item, score_micro
        |FROM rec WHERE rank <= 3 AND basket <= 60
        |ORDER BY basket, rank""".stripMargin,

    // Mann-Kendall replica off the same monthly series as q_theil_sen:
    // exact S and tie-corrected 18*Var, the house rational normal CDF.
    "q_mann_kendall" ->
      s"""WITH monthly AS (
         |  $monthlyBrandCte),
         |p AS (
         |  SELECT a.g, CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1
         |    ELSE 0 END AS sg
         |  FROM monthly a JOIN monthly b ON a.g = b.g AND a.x < b.x),
         |sa AS (
         |  SELECT g, CAST(coalesce(sum(sg), 0) AS BIGINT) AS s
         |  FROM p GROUP BY g),
         |tg AS (
         |  SELECT g, y, CAST(count(*) AS BIGINT) AS tc
         |  FROM monthly GROUP BY 1, 2),
         |ti AS (
         |  SELECT g,
         |    CAST(sum(tc * (tc - 1) * (2 * tc + 5)) AS BIGINT) AS tsum,
         |    CAST(sum(tc) AS BIGINT) AS n
         |  FROM tg GROUP BY g),
         |m AS (
         |  SELECT ti.g, ti.n, coalesce(sa.s, 0) AS s_stat,
         |    ti.n * (ti.n - 1) * (2 * ti.n + 5) - ti.tsum AS var18
         |  FROM ti LEFT JOIN sa ON ti.g = sa.g),
         |z AS (
         |  SELECT *, CASE WHEN var18 > 0 THEN
         |    CAST(floor(CAST(CASE WHEN s_stat > 0 THEN s_stat - 1
         |        WHEN s_stat < 0 THEN s_stat + 1 ELSE 0 END AS DOUBLE)
         |      * 1000000.0 / sqrt(CAST(var18 AS DOUBLE) / 18.0)) AS BIGINT)
         |    END AS z_micro
         |  FROM m),
         |pb AS (
         |  SELECT *, 1.0 + zz * (0.0498673470 + zz * (0.0211410061
         |    + zz * (0.0032776263 + zz * (0.0000380036
         |    + zz * (0.0000488906 + zz * 0.0000053830))))) AS b
         |  FROM (SELECT *, CAST(abs(z_micro) AS DOUBLE) / 1000000.0 AS zz
         |        FROM z)),
         |pp AS (
         |  SELECT g, n, s_stat, var18, z_micro,
         |    CASE WHEN z_micro IS NOT NULL
         |      THEN CAST(floor(1000000.0 / b16) AS BIGINT) END AS p_micro
         |  FROM (SELECT *, b8 * b8 AS b16 FROM
         |        (SELECT *, b4 * b4 AS b8 FROM
         |         (SELECT *, b2 * b2 AS b4 FROM
         |          (SELECT *, b * b AS b2 FROM pb)))) )
         |SELECT g AS p_brand, n, s_stat, var18, z_micro, p_micro,
         |  CASE WHEN p_micro IS NOT NULL AND p_micro <= 50000
         |      AND s_stat > 0 THEN 'increasing'
         |    WHEN p_micro IS NOT NULL AND p_micro <= 50000
         |      AND s_stat < 0 THEN 'decreasing'
         |    ELSE 'no trend' END AS trend
         |FROM pp ORDER BY p_brand""".stripMargin,

    // Theil-Sen replica: remainder-adjusted exact floor division per
    // pair slope, lower-median by row_number.
    "q_theil_sen" ->
      s"""WITH monthly AS (
         |  $monthlyBrandCte),
        |p AS (
        |  SELECT a.g,
        |    ((b.y - a.y) * 1000000 -
        |      (((((b.y - a.y) * 1000000) % (b.x - a.x)) + (b.x - a.x))
        |        % (b.x - a.x))) // (b.x - a.x) AS s
        |  FROM monthly a JOIN monthly b ON a.g = b.g AND a.x < b.x),
        |r AS (
        |  SELECT g, s, row_number() OVER (PARTITION BY g ORDER BY s) AS rn,
        |    count(*) OVER (PARTITION BY g) AS n
        |  FROM p)
        |SELECT g AS p_brand, CAST(n AS BIGINT) AS n_slopes,
        |  CAST(s AS BIGINT) AS slope_micro
        |FROM r WHERE rn = (n + 1) // 2
        |ORDER BY p_brand""".stripMargin,

    // Kendall tau-b replica: same id-ordered pair relation, exact
    // counts, same multiply/sqrt/divide/floor tail.
    "q_kendall" ->
      """WITH oc AS (
        |  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
        |  FROM orders GROUP BY 1),
        |base AS (
        |  SELECT c_nationkey AS g, c_custkey AS id,
        |    CAST(floor(c_acctbal * 100) AS BIGINT) AS x,
        |    coalesce(n_orders, 0) AS y
        |  FROM customer LEFT JOIN oc ON c_custkey = o_custkey),
        |p AS (
        |  SELECT a.g, (a.x - b.x) AS dx, (a.y - b.y) AS dy
        |  FROM base a JOIN base b ON a.g = b.g AND a.id < b.id),
        |m AS (
        |  SELECT g, CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(coalesce(sum(CASE WHEN dx * dy > 0 THEN 1 END), 0)
        |      AS BIGINT) AS concordant,
        |    CAST(coalesce(sum(CASE WHEN dx * dy < 0 THEN 1 END), 0)
        |      AS BIGINT) AS discordant,
        |    CAST(coalesce(sum(CASE WHEN dx = 0 THEN 1 END), 0)
        |      AS BIGINT) AS nx,
        |    CAST(coalesce(sum(CASE WHEN dy = 0 THEN 1 END), 0)
        |      AS BIGINT) AS ny
        |  FROM p GROUP BY g)
        |SELECT g AS c_nationkey, n_pairs, concordant, discordant,
        |  CASE WHEN n_pairs - nx > 0 AND n_pairs - ny > 0 THEN
        |    CAST(floor(CAST(concordant - discordant AS DOUBLE) * 1000000.0 /
        |      sqrt(CAST(n_pairs - nx AS DOUBLE) *
        |        CAST(n_pairs - ny AS DOUBLE))) AS BIGINT)
        |  END AS tau_micro
        |FROM m ORDER BY c_nationkey""".stripMargin,

    // CCF replica: daily click/purchase series per cohort, same
    // cleared-denominator cross moments and IEEE tail as the engine.
    "q_ccf" -> {
      val ks = 0 to 3
      val leads = ks.map(k => s"lead(y, $k) OVER w AS l$k").mkString(", ")
      val moms = ks.map { k =>
        s"""    CAST(coalesce(sum(CAST(x AS HUGEINT) * l$k), 0) AS HUGEINT) AS p$k,
           |    CAST(coalesce(sum(CASE WHEN l$k IS NOT NULL THEN CAST(x AS HUGEINT) END), 0) AS HUGEINT) AS a$k,
           |    CAST(coalesce(sum(CAST(l$k AS HUGEINT)), 0) AS HUGEINT) AS b$k""".stripMargin
      }.mkString(",\n")
      val branches = ks.map { k =>
        s"""SELECT cohort, $k AS lag, CAST(n AS BIGINT) AS n,
           |  CASE WHEN dx > 0 AND dy > 0 AND n > $k THEN
           |    CAST(floor(CAST(n*n*p$k - n*sy*a$k - n*sx*b$k
           |        + (n - $k)*sx*sy AS DOUBLE)
           |      * 1000000.0 / sqrt(CAST(dx AS DOUBLE) * CAST(dy AS DOUBLE)))
           |      AS BIGINT)
           |  END AS ccf_micro
           |FROM mom""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH d AS (
         |  SELECT user_id % 4 AS cohort,
         |    CAST(date_trunc('day', ts) AS DATE) AS day,
         |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS x,
         |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS y
         |  FROM events GROUP BY 1, 2),
         |l AS (
         |  SELECT cohort, x, y, $leads
         |  FROM d WINDOW w AS (PARTITION BY cohort ORDER BY day)),
         |mom AS (
         |  SELECT cohort, CAST(count(*) AS HUGEINT) AS n,
         |    CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
         |    CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
         |    CAST(count(*) AS HUGEINT) * count(*) *
         |      CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) -
         |      CAST(count(*) AS HUGEINT)
         |      * CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT)
         |      * CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS dx,
         |    CAST(count(*) AS HUGEINT) * count(*) *
         |      CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) -
         |      CAST(count(*) AS HUGEINT)
         |      * CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT)
         |      * CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS dy,
         |$moms
         |  FROM l GROUP BY cohort)
         |$branches
         |ORDER BY cohort, lag""".stripMargin
    },

    // Sample ACF replica: same lead() window, same cleared-denominator
    // HUGEINT moments, same two-IEEE-op final division per lag.
    "q_acf" -> {
      val ks = 1 to 5
      val leads = ks.map(k => s"lead(x, $k) OVER w AS l$k").mkString(", ")
      val moms = ks.map { k =>
        s"""    CAST(coalesce(sum(CAST(x AS HUGEINT) * l$k), 0) AS HUGEINT) AS p$k,
           |    CAST(coalesce(sum(CASE WHEN l$k IS NOT NULL THEN CAST(x AS HUGEINT) END), 0) AS HUGEINT) AS a$k,
           |    CAST(coalesce(sum(CAST(l$k AS HUGEINT)), 0) AS HUGEINT) AS b$k""".stripMargin
      }.mkString(",\n")
      val branches = ks.map { k =>
        s"""SELECT g AS o_orderpriority, $k AS lag, CAST(n AS BIGINT) AS n,
           |  CASE WHEN den > 0 AND n > $k THEN
           |    CAST(floor(CAST(n*n*p$k - n*s1*(a$k + b$k) + (n - $k)*s1*s1
           |      AS DOUBLE) * 1000000.0 / CAST(den AS DOUBLE)) AS BIGINT)
           |  END AS acf_micro
           |FROM mom""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH s AS (
         |  SELECT o_orderpriority AS g, o_orderdate AS d,
         |    CAST(count(*) AS BIGINT) AS x
         |  FROM orders GROUP BY 1, 2),
         |l AS (
         |  SELECT g, x, $leads
         |  FROM s WINDOW w AS (PARTITION BY g ORDER BY d)),
         |mom AS (
         |  SELECT g, CAST(count(*) AS HUGEINT) AS n,
         |    CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS s1,
         |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS ss,
         |    CAST(count(*) AS HUGEINT) * count(*) *
         |      CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) -
         |      CAST(count(*) AS HUGEINT) * CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT)
         |        * CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS den,
         |$moms
         |  FROM l GROUP BY g)
         |$branches
         |ORDER BY o_orderpriority, lag""".stripMargin
    },

    // Referential-integrity audit, parents damaged (pk % 97 = 0 dropped)
    // exactly as the Spark side plants them; one UNION ALL branch per
    // FK edge.
    "q_orphans" -> {
      val edges = Seq(
        ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
        ("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
        ("supplier->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
        ("nation->region", "nation", "n_regionkey", "region", "r_regionkey"))
      val branches = edges.map { case (label, child, fk, parent, pk) =>
        s"""SELECT '$label' AS relation, '$fk' AS fk_col,
           |  t.n_rows, t.n_null_fk, o.n_orphans, o.orphan_keys,
           |  CASE WHEN t.n_rows > 0
           |    THEN CAST(o.n_orphans * 1000000 // t.n_rows AS BIGINT)
           |    ELSE 0 END AS orphan_micro,
           |  (o.n_orphans = 0 AND t.n_null_fk = 0) AS ok
           |FROM (
           |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
           |    CAST(coalesce(sum(CASE WHEN $fk IS NULL THEN 1 END), 0)
           |      AS BIGINT) AS n_null_fk
           |  FROM $child) t,
           |(
           |  SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS n_orphans,
           |    CAST(count(*) AS BIGINT) AS orphan_keys
           |  FROM (
           |    SELECT $fk AS k, count(*) AS n FROM $child
           |    WHERE $fk IS NOT NULL GROUP BY 1) c
           |  WHERE NOT EXISTS (
           |    SELECT 1 FROM $parent p
           |    WHERE p.$pk % 97 != 0 AND p.$pk = c.k)) o""".stripMargin
      }
      branches.mkString("", "\nUNION ALL\n", "\nORDER BY relation")
    },

    // Inclusion-dependency discovery: the same one-aggregation bitmask
    // fold — per distinct stringified value, bit_or of 1 << attr_id,
    // then pairwise verdicts from the (mask, count) relation.
    "q_inclusion_deps" -> {
      val attrs = Seq(
        ("nation.n_nationkey", "nation", "n_nationkey"),
        ("customer.c_nationkey", "customer", "c_nationkey"),
        ("supplier.s_nationkey", "supplier", "s_nationkey"),
        ("customer.c_custkey", "customer", "c_custkey"),
        ("orders.o_custkey", "orders", "o_custkey"),
        ("orders.o_orderkey", "orders", "o_orderkey"),
        ("lineitem.l_orderkey", "lineitem", "l_orderkey"),
        ("part.p_partkey", "part", "p_partkey"),
        ("lineitem.l_partkey", "lineitem", "l_partkey"))
      val stack = attrs.zipWithIndex.map { case ((_, tbl, c), i) =>
        s"SELECT CAST($c AS VARCHAR) AS v, $i AS a FROM $tbl WHERE $c IS NOT NULL"
      }.mkString("\n  UNION ALL ")
      val labels = attrs.zipWithIndex
        .map { case ((l, _, _), i) => s"($i, '$l')" }.mkString(", ")
      s"""WITH st AS ($stack),
         |m AS (
         |  SELECT v, bit_or(CAST(1 AS BIGINT) << a) AS m
         |  FROM st GROUP BY v),
         |mc AS (SELECT m, CAST(count(*) AS BIGINT) AS n FROM m GROUP BY m),
         |attrs(i, lbl) AS (VALUES $labels),
         |p AS (
         |  SELECT a.i AS ai, a.lbl AS col_a, b.i AS bi, b.lbl AS col_b
         |  FROM attrs a, attrs b WHERE a.i != b.i)
         |SELECT col_a, col_b,
         |  CAST(coalesce(sum(n), 0) AS BIGINT) AS n_a,
         |  CAST(coalesce(sum(CASE WHEN (m >> bi) & 1 = 0 THEN n END), 0)
         |    AS BIGINT) AS n_missing,
         |  (coalesce(sum(CASE WHEN (m >> bi) & 1 = 0 THEN n END), 0) = 0)
         |    AS included
         |FROM p LEFT JOIN mc ON (mc.m >> p.ai) & 1 = 1
         |GROUP BY col_a, col_b, bi
         |ORDER BY col_a, col_b""".stripMargin
    },

    // JL ±1 projection: the sign matrix is regenerated from md5 parity
    // of the (j, i) coordinates, so the exact-integer projection is
    // plain SQL.
    "q_random_project" ->
      """WITH qz AS (
        |  SELECT vec_id, list_transform(embedding,
        |    x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        |  FROM embeddings),
        |signs AS (
        |  SELECT j, i,
        |    CASE WHEN strpos('02468ace', substr(md5(CAST(j AS VARCHAR)
        |      || '_' || CAST(i AS VARCHAR)), 1, 1)) > 0
        |    THEN 1 ELSE -1 END AS s
        |  FROM generate_series(1, 16) t1(j)
        |  CROSS JOIN generate_series(1, 64) t2(i)),
        |proj AS (
        |  SELECT vec_id, j, CAST(sum(s * v[i]) AS BIGINT) AS y
        |  FROM qz CROSS JOIN signs GROUP BY 1, 2)
        |SELECT vec_id, CAST(j AS BIGINT) AS j, y
        |FROM proj ORDER BY vec_id, j""".stripMargin,

    // Two-sample KS: cleared-denominator cumulative gaps in exact
    // HUGEINT over the pinned value order, one integral division.
    "q_ks_test" ->
      """WITH r AS (
        |  SELECT event_type, (user_id % 2 = 0) AS a,
        |    CAST(floor(value * 10000) AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL),
        |cells AS (
        |  SELECT event_type, v,
        |    CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) AS cb
        |  FROM r GROUP BY 1, 2),
        |c2 AS (
        |  SELECT event_type, ca, cb,
        |    sum(ca) OVER w AS cuma, sum(cb) OVER w AS cumb,
        |    sum(ca) OVER (PARTITION BY event_type) AS n_a,
        |    sum(cb) OVER (PARTITION BY event_type) AS n_b
        |  FROM cells
        |  WINDOW w AS (PARTITION BY event_type ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |agg AS (
        |  SELECT event_type,
        |    CAST(any_value(n_a) AS BIGINT) AS n_a,
        |    CAST(any_value(n_b) AS BIGINT) AS n_b,
        |    max(abs(CAST(cuma AS HUGEINT) * n_b
        |      - CAST(cumb AS HUGEINT) * n_a)) AS g
        |  FROM c2 GROUP BY 1)
        |SELECT event_type, n_a, n_b,
        |  CASE WHEN n_a > 0 AND n_b > 0
        |    THEN CAST((g * 1000000)
        |      // (CAST(n_a AS HUGEINT) * n_b) AS BIGINT)
        |  END AS ks_micro
        |FROM agg ORDER BY event_type""".stripMargin,

    // Fleiss' kappa: constant-rater items only, cleared denominators,
    // exact HUGEINT products, ONE double division.
    "q_fleiss_kappa" ->
      """WITH r AS (
        |  SELECT o_orderstatus, o_orderkey, unnest([
        |    CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 'hi' ELSE 'lo' END,
        |    CASE WHEN o_totalprice > 150000 THEN 'hi' ELSE 'lo' END,
        |    CASE WHEN year(o_orderdate) >= 1996 THEN 'hi' ELSE 'lo' END])
        |    AS c
        |  FROM orders),
        |cells AS (
        |  SELECT o_orderstatus, o_orderkey, c, count(*) AS n
        |  FROM r GROUP BY 1, 2, 3),
        |items AS (
        |  SELECT o_orderstatus, o_orderkey, CAST(sum(n) AS BIGINT) AS ni,
        |    CAST(sum(n * (n - 1)) AS HUGEINT) AS agree
        |  FROM cells GROUP BY 1, 2),
        |kept AS (SELECT * FROM items WHERE ni = 3),
        |pg AS (
        |  SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_items,
        |    sum(agree) AS pnum
        |  FROM kept GROUP BY 1),
        |tc AS (
        |  SELECT cells.o_orderstatus, cells.c,
        |    CAST(sum(cells.n) AS HUGEINT) AS t
        |  FROM cells JOIN kept
        |    ON cells.o_orderstatus = kept.o_orderstatus
        |    AND cells.o_orderkey = kept.o_orderkey
        |  GROUP BY 1, 2),
        |s AS (SELECT o_orderstatus, sum(t * t) AS s FROM tc GROUP BY 1),
        |f AS (
        |  SELECT pg.o_orderstatus, n_items, pnum, s,
        |    CAST(n_items AS HUGEINT) * 3 AS nn,
        |    CAST(n_items AS HUGEINT) * 6 AS d
        |  FROM pg JOIN s USING (o_orderstatus))
        |SELECT o_orderstatus, n_items,
        |  CASE WHEN n_items > 0 AND d * (nn * nn - s) <> 0
        |    THEN CAST(floor(CAST(pnum * nn * nn - s * d AS DOUBLE)
        |      / CAST(d * (nn * nn - s) AS DOUBLE) * 1000000.0) AS BIGINT)
        |  END AS kappa_micro
        |FROM f ORDER BY o_orderstatus""".stripMargin,

    // Per-class precision/recall/F1: pure integer counts and integral
    // divisions over the full-outer label frame — no doubles anywhere.
    "q_confusion" ->
      """WITH r AS (
        |  SELECT o_orderpriority, o_orderstatus AS a,
        |    CASE WHEN year(o_orderdate) < 1995 THEN 'F'
        |      WHEN o_totalprice > 150000 THEN 'O' ELSE 'P' END AS p
        |  FROM orders WHERE o_orderstatus IS NOT NULL),
        |cells AS (
        |  SELECT o_orderpriority, a, p, count(*) AS c FROM r GROUP BY 1, 2, 3),
        |act AS (SELECT o_orderpriority, a AS label,
        |  CAST(sum(c) AS BIGINT) AS n_actual FROM cells GROUP BY 1, 2),
        |prd AS (SELECT o_orderpriority, p AS label,
        |  CAST(sum(c) AS BIGINT) AS n_predicted FROM cells GROUP BY 1, 2),
        |tp AS (SELECT o_orderpriority, a AS label,
        |  CAST(sum(c) AS BIGINT) AS tp FROM cells WHERE a = p GROUP BY 1, 2),
        |f AS (
        |  SELECT o_orderpriority, label,
        |    coalesce(n_actual, 0) AS n_actual,
        |    coalesce(n_predicted, 0) AS n_predicted,
        |    coalesce(tp, 0) AS tp
        |  FROM act FULL JOIN prd USING (o_orderpriority, label)
        |  LEFT JOIN tp USING (o_orderpriority, label))
        |SELECT o_orderpriority, label, n_actual, n_predicted, tp,
        |  CASE WHEN n_predicted > 0
        |    THEN CAST((CAST(tp AS HUGEINT) * 1000000) // n_predicted AS BIGINT)
        |  END AS precision_micro,
        |  CASE WHEN n_actual > 0
        |    THEN CAST((CAST(tp AS HUGEINT) * 1000000) // n_actual AS BIGINT)
        |  END AS recall_micro,
        |  CASE WHEN n_predicted + n_actual > 0
        |    THEN CAST((2 * CAST(tp AS HUGEINT) * 1000000)
        |      // (n_predicted + n_actual) AS BIGINT)
        |  END AS f1_micro
        |FROM f ORDER BY o_orderpriority, label""".stripMargin,

    // ROC AUC by the rank identity: doubled mid-ranks exactly as
    // q_mann_whitney, then ONE integral division.
    "q_auc" ->
      """WITH r AS (
        |  SELECT l_linestatus, (l_returnflag = 'R') AS l,
        |    CAST(floor(l_extendedprice * 10000) AS BIGINT) AS s
        |  FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL),
        |rk AS (
        |  SELECT l_linestatus, l,
        |    2 * rank() OVER (PARTITION BY l_linestatus ORDER BY s)
        |      + count(*) OVER (PARTITION BY l_linestatus, s) - 1 AS r2
        |  FROM r),
        |agg AS (
        |  SELECT l_linestatus,
        |    CAST(sum(CASE WHEN l THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |    CAST(sum(CASE WHEN NOT l THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
        |    sum(CASE WHEN l THEN CAST(r2 AS HUGEINT) ELSE 0 END) AS rp2
        |  FROM rk GROUP BY 1),
        |u AS (
        |  SELECT *, rp2 - CAST(n_pos AS HUGEINT) * (n_pos + 1) AS u2
        |  FROM agg)
        |SELECT l_linestatus, n_pos, n_neg, CAST(u2 AS BIGINT) AS u2_pos,
        |  CASE WHEN n_pos > 0 AND n_neg > 0
        |    THEN CAST((u2 * 1000000)
        |      // (2 * CAST(n_pos AS HUGEINT) * n_neg) AS BIGINT)
        |  END AS auc_micro
        |FROM u ORDER BY l_linestatus""".stripMargin,

    // Reliability bins + ECE: scores quantize to 10⁻⁶ BEFORE summing,
    // per-bin means and the ECE are integral divisions over exact sums.
    "q_calibration" ->
      """WITH r AS (
        |  SELECT l_linestatus,
        |    CAST(least(greatest(floor(l_discount * 10.0 * 10), 0), 9)
        |      AS BIGINT) AS bin,
        |    CAST(floor(l_discount * 10.0 * 1000000) AS BIGINT) AS s,
        |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        |  FROM lineitem
        |  WHERE l_discount IS NOT NULL AND l_returnflag IS NOT NULL),
        |cells AS (
        |  SELECT l_linestatus, bin, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(s) AS HUGEINT) AS ss, CAST(sum(y) AS HUGEINT) AS pos
        |  FROM r GROUP BY 1, 2),
        |m AS (
        |  SELECT l_linestatus, bin, n,
        |    CAST(ss // n AS BIGINT) AS conf_micro,
        |    CAST((pos * 1000000) // n AS BIGINT) AS acc_micro
        |  FROM cells)
        |SELECT l_linestatus, bin, n, conf_micro, acc_micro,
        |  CAST(sum(CAST(abs(acc_micro - conf_micro) AS HUGEINT) * n)
        |      OVER (PARTITION BY l_linestatus)
        |    // sum(n) OVER (PARTITION BY l_linestatus) AS BIGINT)
        |    AS ece_micro
        |FROM m ORDER BY l_linestatus, bin""".stripMargin,

    // CUPED: exact HUGEINT power sums (spend pre-quantized to cents so
    // the per-customer sum is integer), fixed IEEE trees after.
    "q_cuped" ->
      """WITH spend AS (
        |  SELECT o_custkey,
        |    sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS spend
        |  FROM orders GROUP BY 1),
        |r AS (
        |  SELECT c_mktsegment, (c_custkey % 2 = 0) AS a,
        |    CAST(spend AS HUGEINT) * 10000 AS y,
        |    CAST(floor(c_acctbal * 10000) AS HUGEINT) AS x
        |  FROM customer JOIN spend ON c_custkey = o_custkey
        |  WHERE c_acctbal IS NOT NULL AND spend IS NOT NULL),
        |agg AS (
        |  SELECT c_mktsegment,
        |    CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    sum(x) AS sx, sum(y) AS sy, sum(x * x) AS sxx,
        |    sum(x * y) AS sxy, sum(y * y) AS syy,
        |    sum(CASE WHEN a THEN x ELSE 0 END) AS sxa,
        |    sum(CASE WHEN NOT a THEN x ELSE 0 END) AS sxb,
        |    sum(CASE WHEN a THEN y ELSE 0 END) AS sya,
        |    sum(CASE WHEN NOT a THEN y ELSE 0 END) AS syb
        |  FROM r GROUP BY 1),
        |f AS (
        |  SELECT *,
        |    CAST(n_a + n_b AS HUGEINT) * sxy - sx * sy AS covnum,
        |    CAST(n_a + n_b AS HUGEINT) * sxx - sx * sx AS varxnum,
        |    CAST(n_a + n_b AS HUGEINT) * syy - sy * sy AS varynum,
        |    CAST(sya AS DOUBLE) / n_a - CAST(syb AS DOUBLE) / n_b AS dy,
        |    CAST(sxa AS DOUBLE) / n_a - CAST(sxb AS DOUBLE) / n_b AS dx
        |  FROM agg)
        |SELECT c_mktsegment, n_a, n_b,
        |  CASE WHEN n_a > 0 AND n_b > 0
        |    THEN CAST(floor(dy * 100.0) AS BIGINT) END AS diff_micro,
        |  CASE WHEN varxnum > 0
        |    THEN CAST(floor(CAST(covnum AS DOUBLE) / CAST(varxnum AS DOUBLE)
        |      * 1000000.0) AS BIGINT) END AS theta_micro,
        |  CASE WHEN n_a > 0 AND n_b > 0 AND varxnum > 0
        |    THEN CAST(floor((dy
        |      - CAST(covnum AS DOUBLE) / CAST(varxnum AS DOUBLE) * dx)
        |      * 100.0) AS BIGINT) END AS adj_diff_micro,
        |  CASE WHEN varxnum > 0 AND varynum > 0
        |    THEN CAST(floor(CAST(covnum AS DOUBLE) * CAST(covnum AS DOUBLE)
        |      / (CAST(varxnum AS DOUBLE) * CAST(varynum AS DOUBLE))
        |      * 1000000.0) AS BIGINT) END AS rho2_micro
        |FROM f ORDER BY c_mktsegment""".stripMargin,

    // Daily grid + forward fill: max(struct) latest-in-day election,
    // per-key unnest(generate_series) grid, IGNORE NULLS running last.
    "q_gap_fill" ->
      """WITH r AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, ts,
        |    CAST(floor(value * 1000000) AS BIGINT) AS v
        |  FROM events
        |  WHERE ts IS NOT NULL AND value IS NOT NULL AND event_id % 877 = 0),
        |cells AS (
        |  SELECT event_type, day, max({'ts': ts, 'v': v}).v AS dv
        |  FROM r GROUP BY 1, 2),
        |span AS (
        |  SELECT event_type, min(day) AS d0, max(day) AS d1
        |  FROM cells GROUP BY 1),
        |grid AS (
        |  SELECT event_type,
        |    CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
        |      CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM span),
        |j AS (
        |  SELECT grid.event_type, grid.day, cells.dv
        |  FROM grid LEFT JOIN cells USING (event_type, day))
        |SELECT event_type, day,
        |  last_value(dv IGNORE NULLS) OVER (PARTITION BY event_type
        |    ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS value_micro,
        |  dv IS NOT NULL AS is_observed
        |FROM j ORDER BY event_type, day""".stripMargin,

    // Diff-in-diff: four exact conditional cell sums (HUGEINT), one
    // integral division per mean, integer subtraction for the estimate.
    "q_diff_in_diff" ->
      """WITH r AS (
        |  SELECT o_orderpriority,
        |    (o_custkey % 2 = 0) AS t,
        |    (year(o_orderdate) >= 1995) AS p,
        |    CAST(floor(o_totalprice * 10000) AS BIGINT) AS y
        |  FROM orders
        |  WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
        |    AND o_totalprice IS NOT NULL),
        |a AS (
        |  SELECT o_orderpriority,
        |    CAST(count(*) FILTER (WHERE t AND NOT p) AS BIGINT) AS n_t_pre,
        |    CAST(count(*) FILTER (WHERE t AND p) AS BIGINT) AS n_t_post,
        |    CAST(count(*) FILTER (WHERE NOT t AND NOT p) AS BIGINT) AS n_c_pre,
        |    CAST(count(*) FILTER (WHERE NOT t AND p) AS BIGINT) AS n_c_post,
        |    sum(CASE WHEN t AND NOT p THEN CAST(y AS HUGEINT) END) AS stpre,
        |    sum(CASE WHEN t AND p THEN CAST(y AS HUGEINT) END) AS stpost,
        |    sum(CASE WHEN NOT t AND NOT p THEN CAST(y AS HUGEINT) END) AS scpre,
        |    sum(CASE WHEN NOT t AND p THEN CAST(y AS HUGEINT) END) AS scpost
        |  FROM r GROUP BY 1),
        |m AS (
        |  SELECT *,
        |    CASE WHEN n_t_pre > 0 THEN CAST((stpre * 100) // n_t_pre AS BIGINT) END AS mean_t_pre_micro,
        |    CASE WHEN n_t_post > 0 THEN CAST((stpost * 100) // n_t_post AS BIGINT) END AS mean_t_post_micro,
        |    CASE WHEN n_c_pre > 0 THEN CAST((scpre * 100) // n_c_pre AS BIGINT) END AS mean_c_pre_micro,
        |    CASE WHEN n_c_post > 0 THEN CAST((scpost * 100) // n_c_post AS BIGINT) END AS mean_c_post_micro
        |  FROM a)
        |SELECT o_orderpriority, n_t_pre, n_t_post, n_c_pre, n_c_post,
        |  mean_t_pre_micro, mean_t_post_micro, mean_c_pre_micro,
        |  mean_c_post_micro,
        |  (mean_t_post_micro - mean_t_pre_micro)
        |    - (mean_c_post_micro - mean_c_pre_micro) AS did_micro
        |FROM m ORDER BY o_orderpriority""".stripMargin,

    // Isotonic fit by the minimax identity: interval averages from
    // prefix sums (ONE exact-long IEEE division each), min over j ≥ k,
    // max over i ≤ k — no sequential pooling, mirrors the Spark joins.
    "q_isotonic" ->
      """WITH r AS (
        |  SELECT l_linestatus,
        |    CAST(least(greatest(floor((l_discount * 10.0) * 10), 0.0), 9.0)
        |      AS BIGINT) AS bin,
        |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        |  FROM lineitem
        |  WHERE l_discount IS NOT NULL AND l_returnflag IS NOT NULL),
        |cells AS (
        |  SELECT l_linestatus, bin, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(y) AS BIGINT) AS pos
        |  FROM r GROUP BY 1, 2),
        |pre AS (
        |  SELECT l_linestatus, bin, n, pos,
        |    sum(n) OVER (PARTITION BY l_linestatus ORDER BY bin) AS cn,
        |    sum(pos) OVER (PARTITION BY l_linestatus ORDER BY bin) AS cp
        |  FROM cells),
        |pairs AS (
        |  SELECT i.l_linestatus, i.bin AS ib, j.bin AS jb,
        |    CAST(j.cp - i.cp + i.pos AS DOUBLE)
        |      / CAST(j.cn - i.cn + i.n AS DOUBLE) AS avg
        |  FROM pre i JOIN pre j
        |    ON i.l_linestatus = j.l_linestatus AND i.bin <= j.bin),
        |mins AS (
        |  SELECT p.l_linestatus, k.bin AS kb, p.ib, min(p.avg) AS minavg
        |  FROM pairs p JOIN cells k
        |    ON p.l_linestatus = k.l_linestatus
        |    AND p.ib <= k.bin AND k.bin <= p.jb
        |  GROUP BY 1, 2, 3),
        |iso AS (
        |  SELECT l_linestatus, kb, max(minavg) AS iso FROM mins GROUP BY 1, 2)
        |SELECT c.l_linestatus, c.bin, c.n, c.pos,
        |  CAST((c.pos * 1000000) // c.n AS BIGINT) AS rate_micro,
        |  CAST(floor(i.iso * 1000000.0) AS BIGINT) AS iso_micro
        |FROM cells c JOIN iso i
        |  ON c.l_linestatus = i.l_linestatus AND c.bin = i.kb
        |ORDER BY c.l_linestatus, c.bin""".stripMargin,

    // Kaplan–Meier: suffix-sum at-risk over (group, t) cells, per-step
    // ln factor on the corpus micro-nat rule, exact integer prefix sum;
    // a step that kills everyone NULLs the curve from there on.
    // Mantel-Haenszel replica: per-stratum 2x2 exact micro terms,
    // pooled OR by one more integral division, house rational-CDF p.
    "q_mantel_haenszel" ->
      """WITH o98 AS (
        |  SELECT DISTINCT o_custkey FROM orders
        |  WHERE year(o_orderdate) = 1998),
        |base AS (
        |  SELECT c_mktsegment AS g, c_nationkey AS st,
        |    (c_acctbal > 0) AS arm,
        |    (o_custkey IS NOT NULL) AS outc
        |  FROM customer LEFT JOIN o98 ON c_custkey = o_custkey),
        |cells AS (
        |  SELECT g, st,
        |    CAST(sum(CASE WHEN arm AND outc THEN 1 ELSE 0 END)
        |      AS BIGINT) AS a2,
        |    CAST(sum(CASE WHEN arm AND NOT outc THEN 1 ELSE 0 END)
        |      AS BIGINT) AS b2,
        |    CAST(sum(CASE WHEN NOT arm AND outc THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c2,
        |    CAST(sum(CASE WHEN NOT arm AND NOT outc THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d2
        |  FROM base GROUP BY 1, 2),
        |tm AS (
        |  SELECT g, a2, a2 + b2 + c2 + d2 AS n,
        |    CAST((CAST(a2 AS HUGEINT) * d2 * 1000000)
        |      // (a2 + b2 + c2 + d2) AS BIGINT) AS ad,
        |    CAST((CAST(b2 AS HUGEINT) * c2 * 1000000)
        |      // (a2 + b2 + c2 + d2) AS BIGINT) AS bc,
        |    CAST((CAST(a2 + b2 AS HUGEINT) * (a2 + c2) * 1000000)
        |      // (a2 + b2 + c2 + d2) AS BIGINT) AS em,
        |    CASE WHEN a2 + b2 + c2 + d2 > 1 THEN
        |      CAST((CAST(a2 + b2 AS HUGEINT) * (c2 + d2) * (a2 + c2)
        |          * (b2 + d2) * 1000000)
        |        // (CAST(a2 + b2 + c2 + d2 AS HUGEINT)
        |          * (a2 + b2 + c2 + d2) * (a2 + b2 + c2 + d2 - 1))
        |        AS BIGINT)
        |    ELSE 0 END AS vm
        |  FROM cells),
        |m AS (
        |  SELECT g, CAST(count(*) AS BIGINT) AS n_strata,
        |    CAST(sum(n) AS BIGINT) AS n,
        |    CAST(sum(a2) AS BIGINT) AS o,
        |    CAST(sum(ad) AS BIGINT) AS r,
        |    CAST(sum(bc) AS BIGINT) AS s,
        |    CAST(sum(em) AS BIGINT) AS e,
        |    CAST(sum(vm) AS BIGINT) AS v
        |  FROM tm GROUP BY g),
        |z AS (
        |  SELECT g, n_strata, n,
        |    CASE WHEN s > 0 THEN
        |      CAST((CAST(r AS HUGEINT) * 1000000) // s AS BIGINT)
        |    END AS or_micro,
        |    CASE WHEN v > 0 THEN
        |      CAST(floor(CAST(o * 1000000 - e AS DOUBLE) * 1000.0
        |        / sqrt(CAST(v AS DOUBLE))) AS BIGINT) END AS z_micro
        |  FROM m),
        |pb AS (
        |  SELECT *, 1.0 + zz * (0.0498673470 + zz * (0.0211410061
        |    + zz * (0.0032776263 + zz * (0.0000380036
        |    + zz * (0.0000488906 + zz * 0.0000053830))))) AS b
        |  FROM (SELECT *, CAST(abs(z_micro) AS DOUBLE) / 1000000.0 AS zz
        |        FROM z))
        |SELECT g AS c_mktsegment, n_strata, n, or_micro, z_micro,
        |  CASE WHEN z_micro IS NOT NULL
        |    THEN CAST(floor(1000000.0 / b16) AS BIGINT) END AS p_micro
        |FROM (SELECT *, b8 * b8 AS b16 FROM
        |      (SELECT *, b4 * b4 AS b8 FROM
        |       (SELECT *, b2_ * b2_ AS b4 FROM
        |        (SELECT *, b * b AS b2_ FROM pb))))
        |ORDER BY c_mktsegment""".stripMargin,

    // Log-rank replica: pooled risk-set suffix sums, exact integral
    // micro divisions per event time, house rational-CDF p.
    "q_log_rank" ->
      """WITH c AS (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
        |    date_diff('day', o_orderdate, DATE '1998-12-31') // 90 AS t,
        |    CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END AS a,
        |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS e
        |  FROM orders),
        |cells AS (
        |  SELECT yr, t, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(a) AS BIGINT) AS na, CAST(sum(e) AS BIGINT) AS d,
        |    CAST(sum(a * e) AS BIGINT) AS da
        |  FROM c GROUP BY 1, 2),
        |w AS (
        |  SELECT *, CAST(sum(n) OVER sfx AS BIGINT) AS r,
        |    CAST(sum(na) OVER sfx AS BIGINT) AS ra
        |  FROM cells WINDOW sfx AS (PARTITION BY yr ORDER BY t
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
        |tm AS (
        |  SELECT yr, da,
        |    CAST((CAST(d AS HUGEINT) * ra * 1000000) // r AS BIGINT) AS em,
        |    CASE WHEN r > 1 THEN
        |      CAST((CAST(d AS HUGEINT) * ra * (r - ra) * (r - d) * 1000000)
        |        // (CAST(r AS HUGEINT) * r * (r - 1)) AS BIGINT)
        |    ELSE 0 END AS vm
        |  FROM w WHERE d > 0),
        |m AS (
        |  SELECT yr, CAST(count(*) AS BIGINT) AS n_times,
        |    CAST(sum(da) AS BIGINT) AS o_a,
        |    CAST(sum(em) AS BIGINT) AS e_a_micro,
        |    CAST(sum(vm) AS BIGINT) AS v_micro
        |  FROM tm GROUP BY yr),
        |z AS (
        |  SELECT *, CASE WHEN v_micro > 0 THEN
        |    CAST(floor(CAST(o_a * 1000000 - e_a_micro AS DOUBLE) * 1000.0
        |      / sqrt(CAST(v_micro AS DOUBLE))) AS BIGINT) END AS z_micro
        |  FROM m),
        |pb AS (
        |  SELECT *, 1.0 + zz * (0.0498673470 + zz * (0.0211410061
        |    + zz * (0.0032776263 + zz * (0.0000380036
        |    + zz * (0.0000488906 + zz * 0.0000053830))))) AS b
        |  FROM (SELECT *, CAST(abs(z_micro) AS DOUBLE) / 1000000.0 AS zz
        |        FROM z))
        |SELECT yr, n_times, o_a, e_a_micro, v_micro, z_micro,
        |  CASE WHEN z_micro IS NOT NULL
        |    THEN CAST(floor(1000000.0 / b16) AS BIGINT) END AS p_micro
        |FROM (SELECT *, b8 * b8 AS b16 FROM
        |      (SELECT *, b4 * b4 AS b8 FROM
        |       (SELECT *, b2 * b2 AS b4 FROM
        |        (SELECT *, b * b AS b2 FROM pb))))
        |ORDER BY yr""".stripMargin,

    "q_km_survival" ->
      """WITH r AS (
        |  SELECT o_orderpriority,
        |    date_diff('day', o_orderdate, DATE '1998-12-31') // 90 AS t,
        |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS e
        |  FROM orders
        |  WHERE o_orderdate IS NOT NULL AND o_orderstatus IS NOT NULL),
        |cells AS (
        |  SELECT o_orderpriority, t, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(e) AS BIGINT) AS events
        |  FROM r GROUP BY 1, 2),
        |w AS (
        |  SELECT o_orderpriority, t, n, events,
        |    sum(n) OVER (PARTITION BY o_orderpriority ORDER BY t
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS at_risk
        |  FROM cells),
        |terms AS (
        |  SELECT o_orderpriority, t, n, events, at_risk,
        |    CASE WHEN events = 0 THEN 0
        |      WHEN events < at_risk THEN CAST(round(
        |        ln(CAST(at_risk - events AS DOUBLE) / CAST(at_risk AS DOUBLE))
        |        * 1e6) AS BIGINT) END AS term,
        |    max(CASE WHEN events = at_risk THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY o_orderpriority ORDER BY t) AS dead
        |  FROM w)
        |SELECT o_orderpriority, t, CAST(at_risk AS BIGINT) AS at_risk,
        |  events, n - events AS censored,
        |  CASE WHEN dead = 0 THEN CAST(sum(term)
        |    OVER (PARTITION BY o_orderpriority ORDER BY t) AS BIGINT)
        |  END AS km_log_micro
        |FROM terms ORDER BY o_orderpriority, t""".stripMargin,

    // Two-proportion pooled z: exact conditional counts, one fixed IEEE
    // expression tree for the statistic.
    "q_prop_test" ->
      """WITH agg AS (
        |  SELECT o_orderpriority,
        |    CAST(sum(CASE WHEN o_custkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN o_custkey % 2 = 0 AND o_orderstatus = 'F'
        |      THEN 1 ELSE 0 END) AS BIGINT) AS x_a,
        |    CAST(sum(CASE WHEN o_custkey % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    CAST(sum(CASE WHEN o_custkey % 2 <> 0 AND o_orderstatus = 'F'
        |      THEN 1 ELSE 0 END) AS BIGINT) AS x_b
        |  FROM orders WHERE o_custkey IS NOT NULL AND o_orderstatus IS NOT NULL
        |  GROUP BY 1),
        |m AS (
        |  SELECT *,
        |    CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS pa,
        |    CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS pb,
        |    (CAST(x_a AS DOUBLE) + CAST(x_b AS DOUBLE))
        |      / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) AS pp
        |  FROM agg),
        |s AS (
        |  SELECT *, sqrt(pp * (1.0 - pp)
        |    * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))) AS se
        |  FROM m)
        |SELECT o_orderpriority, n_a, x_a, n_b, x_b,
        |  CASE WHEN n_a > 0 THEN CAST(floor(pa * 1000000.0) AS BIGINT) END AS p_a_micro,
        |  CASE WHEN n_b > 0 THEN CAST(floor(pb * 1000000.0) AS BIGINT) END AS p_b_micro,
        |  CASE WHEN n_a > 0 AND n_b > 0 AND se > 0.0
        |    THEN CAST(floor((pa - pb) / se * 1000000.0) AS BIGINT)
        |  END AS z_micro
        |FROM s ORDER BY o_orderpriority""".stripMargin,

    // Chi-square independence: exact cell/margin counts; the cell sum
    // runs as a running window in pinned (a, b) order (max of the
    // non-negative cumulative), never an engine-ordered float aggregate.
    "q_chi_square" ->
      """WITH obs AS (
        |  SELECT year(o_orderdate) AS yr, o_orderstatus AS a,
        |    o_orderpriority AS b, CAST(count(*) AS BIGINT) AS o
        |  FROM orders
        |  WHERE o_orderstatus IS NOT NULL AND o_orderpriority IS NOT NULL
        |  GROUP BY 1, 2, 3),
        |av AS (SELECT DISTINCT yr, a FROM obs),
        |bv AS (SELECT DISTINCT yr, b FROM obs),
        |cells AS (
        |  SELECT av.yr, av.a, bv.b, coalesce(obs.o, 0) AS o
        |  FROM av JOIN bv USING (yr)
        |  LEFT JOIN obs ON obs.yr = av.yr AND obs.a = av.a AND obs.b = bv.b),
        |m AS (
        |  SELECT *,
        |    sum(o) OVER (PARTITION BY yr, a) AS rt,
        |    sum(o) OVER (PARTITION BY yr, b) AS ct,
        |    sum(o) OVER (PARTITION BY yr) AS n
        |  FROM cells),
        |t AS (
        |  SELECT yr, a, b,
        |    (CAST(o AS DOUBLE) - (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE))
        |      / CAST(n AS DOUBLE))
        |    * (CAST(o AS DOUBLE) - (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE))
        |      / CAST(n AS DOUBLE))
        |    / ((CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)) / CAST(n AS DOUBLE))
        |      AS term
        |  FROM m),
        |c AS (
        |  SELECT yr, sum(term) OVER (PARTITION BY yr ORDER BY a, b
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t),
        |chi AS (SELECT yr, max(cum) AS chi FROM c GROUP BY yr),
        |dof AS (
        |  SELECT yr, CAST((count(DISTINCT a) - 1) * (count(DISTINCT b) - 1)
        |    AS BIGINT) AS dof
        |  FROM cells GROUP BY yr)
        |SELECT chi.yr, CAST(floor(chi.chi * 1000000.0) AS BIGINT) AS chi2_micro,
        |  dof.dof
        |FROM chi JOIN dof USING (yr) ORDER BY chi.yr""".stripMargin,

    // Strictly-ordered funnel: each stage's first qualifying time feeds
    // the next stage's at-or-after predicate.
    "q_funnel" ->
      """WITH s1 AS (
        |  SELECT user_id AS u, min(ts) AS t FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id AS u, min(e.ts) AS t
        |  FROM events e JOIN s1 ON e.user_id = s1.u AND e.ts >= s1.t
        |  WHERE e.event_type = 'click' GROUP BY 1),
        |s3 AS (
        |  SELECT e.user_id AS u, min(e.ts) AS t
        |  FROM events e JOIN s2 ON e.user_id = s2.u AND e.ts >= s2.t
        |  WHERE e.event_type = 'purchase' GROUP BY 1)
        |SELECT CAST(1 AS BIGINT) AS step_idx, 'view' AS step,
        |  CAST((SELECT count(*) FROM s1) AS BIGINT) AS n_users
        |UNION ALL
        |SELECT 2, 'click', CAST((SELECT count(*) FROM s2) AS BIGINT)
        |UNION ALL
        |SELECT 3, 'purchase', CAST((SELECT count(*) FROM s3) AS BIGINT)
        |ORDER BY step_idx""".stripMargin,

    "q_cohort_retention" ->
      """WITH f AS (
        |  SELECT user_id AS u, min(CAST(ts AS DATE)) AS cohort
        |  FROM events GROUP BY 1),
        |a AS (SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS day FROM events)
        |SELECT strftime(cohort, '%Y-%m-%d') AS cohort_day,
        |  CAST(date_diff('day', cohort, day) AS BIGINT) AS day_offset,
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM a JOIN f USING (u)
        |GROUP BY cohort, day_offset
        |ORDER BY cohort_day, day_offset""".stripMargin,

    "q_asof_forward" ->
      """SELECT l.event_id, r.event_id AS next_purchase,
        |  round(r.value, 2) AS next_value
        |FROM (SELECT * FROM events WHERE event_type = 'click') l
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
        |  ON l.user_id = r.user_id AND r.ts >= l.ts
        |ORDER BY l.event_id""".stripMargin,

    // Frame indices are pure byte arithmetic over the UTF-8 payload:
    // ceil(bytes/32) frames, every 4th kept (FakeFrameSampler contract).
    // Duration = bytes / bytesPerMs (FakeAudioDecoder contract).
    // sample_rate is NULL-guarded to mirror the engine, which returns
    // NULL features for NULL payloads (duration already NULL-propagates
    // through octet_length(encode(NULL))).
    "q_audio_features" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) // 4 AS BIGINT) AS duration_ms,
        |  CASE WHEN text IS NULL THEN NULL
        |       ELSE CAST(16000 AS BIGINT) END AS sample_rate
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Corpus assembly: seeded md5 shard/order arithmetic mirrors
    // CorpusAssembly.seededBucket/seededKey exactly (same "seed:key"
    // string through md5, same leading-4-hex-chars bucket).
    "q_shuffle_shards" ->
      s"""WITH h AS (
         |  SELECT doc_id, md5('epoch0:' || CAST(doc_id AS VARCHAR)) AS hx
         |  FROM documents),
         |b AS (SELECT doc_id, hx, ${hex4("hx")} % 8 AS shard FROM h)
         |SELECT doc_id, CAST(shard AS BIGINT) AS shard,
         |  CAST(row_number() OVER (PARTITION BY shard ORDER BY hx, doc_id)
         |    AS BIGINT) AS pos
         |FROM b ORDER BY shard, pos""".stripMargin,

    "q_pack_sequences" ->
      s"""WITH h AS (
         |  SELECT doc_id, text, md5('pack0:' || CAST(doc_id AS VARCHAR)) AS hx
         |  FROM documents),
         |b AS (SELECT doc_id, hx, ${hex4("hx")} % 8 AS shard,
         |  CASE WHEN trim(coalesce(text, '')) = '' THEN 0
         |       ELSE len(str_split_regex(trim(coalesce(text, '')), '\\s+')) END
         |    AS n_tokens
         |  FROM h),
         |c AS (SELECT doc_id, shard, n_tokens,
         |  coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY hx, doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
         |  FROM b)
         |SELECT doc_id, CAST(shard AS BIGINT) AS shard,
         |  CAST(start // 512 AS BIGINT) AS seq_id,
         |  CAST(start % 512 AS BIGINT) AS seq_pos,
         |  CAST(n_tokens AS BIGINT) AS n_tokens
         |FROM c ORDER BY doc_id""".stripMargin,

    // BM25: same left-associative double arithmetic as the engine; each
    // term's contribution is quantized to integer micro-units before the
    // per-doc sum (float sums are order-dependent in the last ulp).
    // Mirrors TextAnalysis.lmBigramScore: add-one smoothed bigram LM
    // trained on the corpus itself; per-bigram ln-probs quantized to
    // integer micro-units before the per-doc sum (order-free, exact),
    // identical round-half-away-from-zero semantics in both engines.
    "q_lm_score" ->
      s"""WITH toks AS (
         |  SELECT doc_id AS doc,
         |    list_filter(str_split(${norm("text")}, ' '), x -> x <> '') AS t
         |  FROM documents),
         |words AS (SELECT doc, unnest(t) AS w FROM toks),
         |uni AS (SELECT w AS w1, CAST(count(*) AS BIGINT) AS uc FROM words GROUP BY 1),
         |vocab AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM uni),
         |bigrams AS (
         |  SELECT doc,
         |    unnest([t[i] FOR i IN generate_series(1, len(t) - 1)]) AS w1,
         |    unnest([t[i + 1] FOR i IN generate_series(1, len(t) - 1)]) AS w2
         |  FROM toks WHERE len(t) >= 2),
         |bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS bc FROM bigrams GROUP BY 1, 2),
         |per AS (
         |  SELECT doc,
         |    CAST(round(ln((bc.bc + 1.0) / (uni.uc + vocab.v)) * 1e6) AS BIGINT) AS lp6
         |  FROM bigrams JOIN bc USING (w1, w2) JOIN uni USING (w1) CROSS JOIN vocab),
         |scored AS (
         |  SELECT doc, CAST(count(*) AS BIGINT) AS n_bigrams,
         |    CAST(floor(sum(lp6) / count(*)) AS BIGINT) / 1e6 AS lm_score
         |  FROM per GROUP BY doc)
         |SELECT d.doc_id, CAST(coalesce(s.n_bigrams, 0) AS BIGINT) AS n_bigrams, s.lm_score
         |FROM documents d LEFT JOIN scored s ON s.doc = d.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    // PMI collocations: exact counts, one double division of exact
    // products, micro-nat ln quantization (the lm_score rule), strict
    // (pmi, w1, w2) order so the LIMIT boundary is deterministic.
    "q_pmi" ->
      s"""WITH toks AS (
         |  SELECT list_filter(str_split(${norm("text")}, ' '), x -> x <> '') AS t
         |  FROM documents),
         |words AS (SELECT unnest(t) AS w FROM toks),
         |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS uc FROM words GROUP BY 1),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_tok FROM words),
         |bigrams AS (
         |  SELECT unnest([t[i] FOR i IN generate_series(1, len(t) - 1)]) AS w1,
         |    unnest([t[i + 1] FOR i IN generate_series(1, len(t) - 1)]) AS w2
         |  FROM toks WHERE len(t) >= 2),
         |bc AS (
         |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_pair
         |  FROM bigrams GROUP BY 1, 2 HAVING count(*) >= 5)
         |SELECT w1, w2, n_pair,
         |  CAST(round(ln((CAST(n_pair AS DOUBLE) * n_tok)
         |    / (CAST(u1.uc AS DOUBLE) * u2.uc)) * 1e6) AS BIGINT) AS pmi_micro
         |FROM bc JOIN uni u1 ON bc.w1 = u1.w JOIN uni u2 ON bc.w2 = u2.w
         |CROSS JOIN tot
         |ORDER BY pmi_micro DESC, w1, w2 LIMIT 40""".stripMargin,

    "q_bm25" ->
      s"""WITH docs AS (
         |  SELECT doc_id AS doc, str_split(${norm("text")}, ' ') AS t FROM documents),
         |lens AS (SELECT doc, CAST(len(t) AS DOUBLE) AS dl FROM docs),
         |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl
         |  FROM lens),
         |tf AS (SELECT doc, term, CAST(count(*) AS DOUBLE) AS tf
         |  FROM (SELECT doc, unnest(t) AS term FROM docs)
         |  WHERE term IN ('spark', 'window', 'join', 'vector')
         |  GROUP BY 1, 2),
         |dfq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
         |w AS (SELECT tf.doc,
         |  ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * tf.tf * 2.2 /
         |    (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) AS w
         |  FROM tf JOIN dfq USING (term) JOIN lens ON tf.doc = lens.doc, stats),
         |s AS (SELECT doc,
         |  round(sum(CAST(round(w * 1000000.0) AS BIGINT)) / 1000000.0, 4) AS score
         |  FROM w GROUP BY 1),
         |topk AS (SELECT doc, score FROM s ORDER BY score DESC, doc LIMIT 20)
         |SELECT CAST(row_number() OVER (ORDER BY score DESC, doc) AS BIGINT) AS rank,
         |  doc AS doc_id, score
         |FROM topk ORDER BY rank""".stripMargin,

    // Chunking: stride 48 = 64 − 16; DuckDB list slice t[a:b] is
    // inclusive where Spark's slice(t, start, len) is (start, length).
    "q_chunk_docs" ->
      s"""WITH toks AS (
         |  SELECT doc_id, str_split(${norm("text")}, ' ') AS t FROM documents),
         |n AS (SELECT doc_id, t,
         |  1 + CAST(floor((greatest(len(t) - 64, 0) + 47) / 48.0) AS BIGINT) AS nc
         |  FROM toks),
         |c AS (SELECT doc_id, t,
         |  unnest(generate_series(0, nc - 1)) AS chunk_idx FROM n)
         |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
         |  array_to_string(t[chunk_idx * 48 + 1 : chunk_idx * 48 + 64], ' ')
         |    AS chunk_text,
         |  CAST(CASE
         |    WHEN array_to_string(t[chunk_idx * 48 + 1 : chunk_idx * 48 + 64], ' ') = ''
         |    THEN 0
         |    ELSE len(str_split(
         |      array_to_string(t[chunk_idx * 48 + 1 : chunk_idx * 48 + 64], ' '), ' '))
         |    END AS BIGINT) AS chunk_tokens
         |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,

    // Pack CTEs replicated from q_pack_sequences; ties at one seq_pos
    // (zero-token docs) break on the text itself, matching the engine's
    // struct sort.
    "q_pack_materialize" ->
      s"""WITH h AS (
         |  SELECT doc_id, text, md5('pack0:' || CAST(doc_id AS VARCHAR)) AS hx
         |  FROM documents),
         |b AS (SELECT doc_id, text, hx, ${hex4("hx")} % 8 AS shard,
         |  CASE WHEN trim(coalesce(text, '')) = '' THEN 0
         |       ELSE len(str_split_regex(trim(coalesce(text, '')), '\\s+')) END
         |    AS n_tokens
         |  FROM h),
         |c AS (SELECT doc_id, text, shard, n_tokens,
         |  coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY hx, doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
         |  FROM b)
         |SELECT CAST(shard AS BIGINT) AS shard,
         |  CAST(start // 512 AS BIGINT) AS seq_id,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |  string_agg(text, ' <|doc|> ' ORDER BY start % 512, text) AS seq_text
         |FROM c GROUP BY 1, 2 ORDER BY shard, seq_id""".stripMargin,

    "q_sample_stratified" ->
      s"""WITH h AS (
         |  SELECT doc_id, lang, md5('mix0:' || CAST(doc_id AS VARCHAR)) AS hx
         |  FROM documents),
         |b AS (SELECT doc_id, lang, ${hex4("hx")} % 10000 AS bucket FROM h)
         |SELECT doc_id, lang FROM b
         |WHERE bucket < CASE WHEN lang = 'en' THEN 5000
         |                    WHEN lang = 'de' THEN 10000 ELSE 2500 END
         |ORDER BY doc_id""".stripMargin,

    // Bigram multiset (NOT the distinct shingle chain) — list slice
    // t[i:i+1] is the 2-token window; flag by integer cross-multiply.
    "q_repetition" ->
      s"""WITH toks AS (
         |  SELECT doc_id, str_split(${norm("text")}, ' ') AS t FROM documents),
         |g0 AS (
         |  SELECT doc_id,
         |    [array_to_string(t[i:i+1], ' ') FOR i IN generate_series(1, len(t) - 1)] AS gs
         |  FROM toks WHERE len(t) >= 2),
         |g AS (SELECT doc_id, unnest(gs) AS g FROM g0),
         |c AS (SELECT doc_id, g, count(*) AS cnt FROM g GROUP BY 1, 2),
         |m AS (SELECT doc_id, sum(cnt) AS total, count(*) AS nd, max(cnt) AS top
         |  FROM c GROUP BY 1)
         |SELECT d.doc_id,
         |  CAST(coalesce(m.total, 0) AS BIGINT) AS n2_total,
         |  CAST(coalesce(m.nd, 0) AS BIGINT) AS n2_distinct,
         |  CAST(coalesce(m.top, 0) AS BIGINT) AS n2_top,
         |  (coalesce(m.top, 0) * 5 > coalesce(m.total, 0) OR
         |   (coalesce(m.total, 0) - coalesce(m.nd, 0)) * 2 > coalesce(m.total, 0))
         |    AS is_repetitive
         |FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    // Cross-doc dup bigrams: same token/gram machinery as q_repetition,
    // plus a corpus-level gram→doc-count join.
    "q_cross_dup_ngrams" ->
      s"""WITH toks AS (
         |  SELECT doc_id, str_split(${norm("text")}, ' ') AS t FROM documents),
         |g0 AS (
         |  SELECT doc_id,
         |    [array_to_string(t[i:i+1], ' ') FOR i IN generate_series(1, len(t) - 1)] AS gs
         |  FROM toks WHERE len(t) >= 2),
         |g AS (SELECT doc_id, unnest(gs) AS g FROM g0),
         |c AS (SELECT doc_id, g, count(*) AS cnt FROM g GROUP BY 1, 2),
         |s AS (SELECT g, count(*) AS n_docs FROM c GROUP BY 1),
         |m AS (SELECT c.doc_id, sum(c.cnt) AS total,
         |        sum(CASE WHEN s.n_docs >= 2 THEN c.cnt ELSE 0 END) AS dup_occ
         |      FROM c JOIN s USING (g) GROUP BY 1)
         |SELECT d.doc_id,
         |  CAST(coalesce(m.total, 0) AS BIGINT) AS ng_total,
         |  CAST(coalesce(m.dup_occ, 0) AS BIGINT) AS ng_cross_dup,
         |  coalesce(m.dup_occ, 0) * 2 > coalesce(m.total, 0) AS mostly_duplicated
         |FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    // Mixture report: whitespace token rule of q_token_count aggregated
    // per source; DOUBLE casts keep DuckDB off DECIMAL inference so the
    // rounded shares match Spark's double math.
    // Mirrors CorpusAssembly.applyMixture: multiplier = share × total / n
    // (IEEE double, same association order), floor copies + one fractional
    // copy iff the seeded 16-bit md5 hash fraction falls under the
    // fractional part. generate_series(0, -1) is empty, so n_copies = 0
    // drops the row exactly like Spark's explode of an empty array.
    "q_apply_mixture" ->
      s"""WITH per AS (
         |  SELECT source AS src,
         |    CAST(sum(CASE WHEN trim(coalesce(text, '')) = '' THEN 0
         |         ELSE len(str_split_regex(trim(coalesce(text, '')), '\\s+')) END)
         |      AS BIGINT) AS n
         |  FROM documents GROUP BY 1),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM per),
         |tgt AS (SELECT * FROM (VALUES
         |    ('src0', CAST(0.2 AS DOUBLE)), ('src1', CAST(0.01 AS DOUBLE))) v(src, share)),
         |mults AS (
         |  SELECT p.src, coalesce(t.share * tot.total / p.n, CAST(1.0 AS DOUBLE)) AS mult
         |  FROM per p CROSS JOIN tot LEFT JOIN tgt t USING (src)),
         |expanded AS (
         |  SELECT d.doc_id, d.source,
         |    CAST(floor(m.mult) AS BIGINT) AS k,
         |    ${hex4("md5('mix0:' || CAST(d.doc_id AS VARCHAR))")} AS h16,
         |    m.mult - floor(m.mult) AS f
         |  FROM documents d JOIN mults m ON d.source = m.src),
         |counted AS (
         |  SELECT doc_id, source,
         |    k + (CASE WHEN CAST(h16 AS DOUBLE) < f * 65536.0 THEN 1 ELSE 0 END) AS n_copies
         |  FROM expanded)
         |SELECT doc_id, source,
         |  CAST(unnest(generate_series(0, n_copies - 1)) AS BIGINT) AS copy_idx
         |FROM counted
         |ORDER BY doc_id, copy_idx""".stripMargin,

    "q_mixture_report" ->
      """WITH per AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(CASE WHEN trim(coalesce(text, '')) = '' THEN 0
        |         ELSE len(str_split_regex(trim(coalesce(text, '')), '\s+')) END)
        |      AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |tot AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS total FROM per),
        |tgt AS (SELECT * FROM (VALUES
        |    ('src0', CAST(0.2 AS DOUBLE)), ('src1', CAST(0.1 AS DOUBLE)),
        |    ('src2', CAST(0.05 AS DOUBLE))) v(source, target_share))
        |SELECT p.source, p.n_docs, p.n_tokens,
        |  CASE WHEN total > 0 THEN round(p.n_tokens / total, 6) END AS token_share,
        |  t.target_share,
        |  CASE WHEN t.target_share IS NOT NULL AND p.n_tokens > 0
        |       THEN round(t.target_share * total / p.n_tokens, 6)
        |  END AS sample_multiplier
        |FROM per p CROSS JOIN tot LEFT JOIN tgt t USING (source)
        |ORDER BY p.source""".stripMargin,

    // Temperature mixture (T=2): sqrt is IEEE-exact on both engines;
    // the normalizer is a RUNNING sum in source order (max of the
    // non-negative cumulative = the final value), so every double is
    // bit-identical before the micro-unit floor.
    "q_temperature_mixture" ->
      """WITH per AS (
        |  SELECT source,
        |    CAST(sum(CASE WHEN trim(coalesce(text, '')) = '' THEN 0
        |         ELSE len(str_split_regex(trim(coalesce(text, '')), '\s+')) END)
        |      AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |w AS (
        |  SELECT source, n_tokens, sqrt(CAST(n_tokens AS DOUBLE)) AS w,
        |    sum(sqrt(CAST(n_tokens AS DOUBLE))) OVER (ORDER BY source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(n_tokens) OVER () AS total
        |  FROM per),
        |z AS (SELECT *, max(cum) OVER () AS z FROM w)
        |SELECT source, n_tokens,
        |  CAST(floor((w / z) * 1000000.0) AS BIGINT) AS target_share_micro,
        |  CASE WHEN n_tokens > 0 THEN
        |    CAST(floor((w / z) * CAST(total AS DOUBLE)
        |      / CAST(n_tokens AS DOUBLE) * 1000000.0) AS BIGINT)
        |  END AS sample_multiplier_micro
        |FROM z ORDER BY source""".stripMargin,

    "q_cap_strata" ->
      s"""WITH n AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
         |h AS (SELECT doc_id, lang, md5('cap0:' || CAST(doc_id AS VARCHAR)) AS hx
         |  FROM documents),
         |b AS (SELECT h.doc_id, h.lang, ${hex4("hx")} % 10000 AS bucket, n.n
         |  FROM h JOIN n USING (lang))
         |SELECT doc_id, lang FROM b
         |WHERE bucket < least(10000, CAST(floor(100 * 10000.0 / n) AS BIGINT))
         |ORDER BY doc_id""".stripMargin,

    "q_vocab_coverage" ->
      s"""WITH toks AS (
         |  SELECT unnest(str_split(${norm("text")}, ' ')) AS token FROM documents),
         |counts AS (
         |  SELECT token, count(*) AS n FROM toks WHERE token != '' GROUP BY token),
         |total AS (SELECT sum(n) AS tot FROM counts),
         |top AS (SELECT token, n FROM counts ORDER BY n DESC, token LIMIT 50)
         |SELECT
         |  CAST(row_number() OVER (ORDER BY n DESC, token) AS BIGINT) AS rank,
         |  token, CAST(n AS BIGINT) AS n,
         |  round(CAST(sum(n) OVER (ORDER BY n DESC, token
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         |    / tot, 6) AS coverage
         |FROM top, total
         |ORDER BY rank""".stripMargin,

    // Integer percent_rank: rank() tie semantics, NULLS FIRST spelled
    // out (Spark's asc default), floor-of-double-quotient micro-units.
    "q_rank_normalize" ->
      """SELECT doc_id, source, n_chars,
        |  CASE WHEN count(*) OVER (PARTITION BY source) > 1
        |    THEN CAST(floor(((rank() OVER (PARTITION BY source
        |        ORDER BY n_chars ASC NULLS FIRST) - 1) * 1000000)
        |      / (count(*) OVER (PARTITION BY source) - 1)) AS BIGINT)
        |    ELSE 0 END AS pct_micro
        |FROM documents ORDER BY doc_id""".stripMargin,

    // DSIR: hashed-unigram add-one-smoothed log-likelihood ratio. The
    // ln argument is one double division of two exact integer products;
    // per-bucket micro-nat weights (round·1e6 → BIGINT) sum exactly.
    "q_dsir" ->
      s"""WITH tk0 AS (
         |  SELECT doc_id AS doc, coalesce(lang = 'en', false) AS is_target,
         |    unnest(str_split(${norm("text")}, ' ')) AS tok
         |  FROM documents),
         |tkh AS (
         |  SELECT doc, is_target, substr(md5(tok), 1, 4) AS hx
         |  FROM tk0 WHERE tok <> ''),
         |tk AS (SELECT doc, is_target, ${hex4("hx")} % 4096 AS b FROM tkh),
         |pb AS (
         |  SELECT b, sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS ct,
         |    sum(CASE WHEN is_target THEN 0 ELSE 1 END) AS cr
         |  FROM tk GROUP BY b),
         |tot AS (SELECT sum(ct) AS tt, sum(cr) AS tr FROM pb),
         |w AS (
         |  SELECT b, CAST(round(ln(
         |      CAST((ct + 1) * (tr + 4096) AS DOUBLE)
         |      / CAST((cr + 1) * (tt + 4096) AS DOUBLE)) * 1e6) AS BIGINT) AS w
         |  FROM pb, tot),
         |db AS (SELECT doc, b, count(*) AS c FROM tk GROUP BY 1, 2),
         |pd AS (
         |  SELECT doc, sum(c) AS n_tokens, sum(c * w.w) AS dsir_micro
         |  FROM db JOIN w ON db.b = w.b GROUP BY doc)
         |SELECT d.doc_id AS doc, coalesce(d.lang = 'en', false) AS is_target,
         |  CAST(coalesce(p.n_tokens, 0) AS BIGINT) AS n_tokens,
         |  CAST(coalesce(p.dsir_micro, 0) AS BIGINT) AS dsir_micro,
         |  (NOT coalesce(d.lang = 'en', false))
         |    AND coalesce(p.dsir_micro, 0) > 0 AS keep
         |FROM documents d LEFT JOIN pd p ON d.doc_id = p.doc
         |ORDER BY doc""".stripMargin,

    "q_frame_sample" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(ceil(octet_length(encode(text)) / 32.0) AS BIGINT) AS nf
        |  FROM documents),
        |f AS (SELECT doc_id, unnest(range(0, nf)) AS frame_idx FROM d)
        |SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx
        |FROM f WHERE frame_idx % 4 = 0
        |ORDER BY doc_id, frame_idx""".stripMargin,

    // Heavy hitters: exact long counts; both shares are single integral
    // divisions of count·10⁶ — the ties rank by key value.
    "q_heavy_hitters" ->
      """WITH c AS (
        |  SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT event_type, user_id, cnt,
        |    CAST(row_number() OVER
        |      (PARTITION BY event_type ORDER BY cnt DESC, user_id)
        |      AS BIGINT) AS hh_rank,
        |    sum(cnt) OVER (PARTITION BY event_type) AS total,
        |    sum(cnt) OVER
        |      (PARTITION BY event_type ORDER BY cnt DESC, user_id
        |       ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM c)
        |SELECT event_type, user_id, hh_rank, cnt,
        |  CAST(cnt * 1000000 // total AS BIGINT) AS share_micro,
        |  CAST(cum * 1000000 // total AS BIGINT) AS cum_share_micro
        |FROM r WHERE hh_rank <= 10
        |ORDER BY event_type, hh_rank""".stripMargin,

    // Misra–Gries replica: the registered query pins a key-sorted,
    // one-partition-per-group stream, so the summary is a pure function
    // of the data. The oracle replays that stream as per-key RUNS
    // through a recursive CTE (one step per distinct key — ~150/group):
    // a run of c occurrences against a full k-counter set decrements
    // every counter by min(c, m) where m is the current minimum count
    // (zeros evicted), and inserts the new key with c−m iff c > m —
    // the closed form of per-occurrence MG on a sorted stream.
    "q_misra_gries" ->
      """WITH RECURSIVE runs AS MATERIALIZED (
        |  SELECT event_type AS g, user_id AS uk,
        |    CAST(count(*) AS BIGINT) AS c,
        |    CAST(row_number() OVER (
        |      PARTITION BY event_type ORDER BY user_id) AS BIGINT) AS rid
        |  FROM events
        |  WHERE event_type IS NOT NULL AND user_id IS NOT NULL
        |  GROUP BY 1, 2),
        |nr AS MATERIALIZED (
        |  SELECT g, max(rid) AS mr, CAST(sum(c) AS BIGINT) AS n
        |  FROM runs GROUP BY 1),
        |rec AS (
        |  SELECT g, CAST(0 AS BIGINT) AS rid,
        |    CAST([] AS STRUCT(k BIGINT, cnt BIGINT)[]) AS st
        |  FROM (SELECT DISTINCT g FROM runs)
        |  UNION ALL
        |  SELECT p.g, r.rid,
        |    CASE
        |      WHEN len(p.st) < 20
        |        THEN list_append(p.st, {'k': r.uk, 'cnt': r.c})
        |      WHEN r.c <= list_min(list_transform(p.st, s -> s.cnt)) THEN
        |        list_transform(
        |          list_filter(p.st, s -> s.cnt - r.c > 0),
        |          s -> {'k': s.k, 'cnt': s.cnt - r.c})
        |      ELSE list_append(
        |        list_transform(
        |          list_filter(p.st, s -> s.cnt -
        |            list_min(list_transform(p.st, s2 -> s2.cnt)) > 0),
        |          s -> {'k': s.k, 'cnt': s.cnt -
        |            list_min(list_transform(p.st, s2 -> s2.cnt))}),
        |        {'k': r.uk, 'cnt': r.c -
        |          list_min(list_transform(p.st, s2 -> s2.cnt))})
        |    END
        |  FROM rec p JOIN runs r ON r.g = p.g AND r.rid = p.rid + 1),
        |fin AS (
        |  SELECT rec.g, unnest(rec.st) AS s
        |  FROM rec JOIN nr ON rec.g = nr.g AND rec.rid = nr.mr),
        |m AS (SELECT g, CAST(sum(s.cnt) AS BIGINT) AS msum
        |  FROM fin GROUP BY 1)
        |SELECT fin.g AS event_type, CAST(s.k AS VARCHAR) AS user_id,
        |  CAST(row_number() OVER (PARTITION BY fin.g
        |    ORDER BY s.cnt DESC, CAST(s.k AS VARCHAR)) AS BIGINT) AS mg_rank,
        |  s.cnt AS est,
        |  (nr.n - m.msum) // 21 AS err_max, nr.n AS n
        |FROM fin JOIN nr ON fin.g = nr.g JOIN m ON fin.g = m.g
        |QUALIFY mg_rank <= 20
        |ORDER BY event_type, mg_rank""".stripMargin,

    // clean_text replica: same op order as TextOps.cleanText (trim →
    // newline/CR replace → whitespace collapse → normalize → char
    // strip) over the SAME concatenated string. The corpus is verified
    // NFKC-stable at every SF (ASCII lowercase + spaces), so NFKC only
    // acts on the query's constant " ﬁ№①" suffix — emulated by three
    // replace()s at the end (ﬁ→fi, №→No, ①→1 — NUMERO SIGN is a
    // compatibility character too). NULL text short-circuits because
    // Spark's concat(NULL, lit) is NULL → "".
    "q_clean_text" ->
      s"""SELECT doc_id,
         |  CASE WHEN text IS NULL THEN ''
         |    ELSE replace(replace(replace(
         |      regexp_replace(regexp_replace(regexp_replace(
         |        regexp_replace(trim(text || ' ﬁ№①'), chr(10), ' ', 'g'),
         |        chr(13), '', 'g'), '\\s{2,}', ' ', 'g'),
         |        '[^\\p{L}\\p{N}_\\s.,;:№\\-]', '', 'g'),
         |      'ﬁ', 'fi'), '№', 'No'), '①', '1')
         |  END AS clean
         |FROM documents ORDER BY doc_id""".stripMargin,

    // SimHash near-dup replica: the pigeonhole arrangement is COMPLETE
    // for chunks=8 > maxHamming=6 (every pair within budget is a
    // candidate, verification exact), so the engine's bucketed output
    // EQUALS the all-pairs Hamming filter this oracle computes over the
    // same FNV-1a fingerprints (word-token bag with multiplicities).
    "q_dedup_simhash" ->
      s"""WITH tks AS MATERIALIZED (
         |  SELECT doc_id AS doc, unnest(str_split(${norm("text")}, ' ')) AS tok
         |  FROM documents),
         |tk AS MATERIALIZED (
         |  SELECT doc, tok, CAST(count(*) AS BIGINT) AS c
         |  FROM tks GROUP BY 1, 2),
         |$simhashFpCtes
         |SELECT a.doc AS id_a, b.doc AS id_b,
         |  CAST(bit_count(xor(a.f, b.f)) AS BIGINT) AS hamming
         |FROM fp a JOIN fp b ON a.doc < b.doc
         |WHERE bit_count(xor(a.f, b.f)) <= 6
         |ORDER BY id_a, id_b""".stripMargin,

    // Payload near-dup replica: same completeness argument (chunks=6 >
    // maxHamming=3). Tokens are the engine's 8-hex-char windows at
    // 4-byte stride — hex() of the UTF-8 payload split into spaced
    // groups, then DISTINCT 2-token shingles (WordShingles set
    // semantics; < 2 tokens collapse to the whole string).
    "q_payload_near_dup" ->
      s"""WITH sp AS MATERIALIZED (
         |  SELECT doc_id AS doc,
         |    str_split(trim(regexp_replace(hex(encode(text)),
         |      '(........)', '\\1 ', 'g')), ' ') AS t
         |  FROM documents WHERE text IS NOT NULL),
         |tk AS MATERIALIZED (
         |  SELECT doc, unnest(CASE WHEN len(t) < 2
         |      THEN [array_to_string(t, ' ')]
         |      ELSE list_distinct([t[i] || ' ' || t[i+1]
         |        FOR i IN generate_series(1, len(t) - 1)])
         |    END) AS tok, CAST(1 AS BIGINT) AS c
         |  FROM sp),
         |$simhashFpCtes
         |SELECT a.doc AS id_a, b.doc AS id_b,
         |  CAST(bit_count(xor(a.f, b.f)) AS BIGINT) AS hamming
         |FROM fp a JOIN fp b ON a.doc < b.doc
         |WHERE bit_count(xor(a.f, b.f)) <= 3
         |ORDER BY id_a, id_b""".stripMargin,

    // PR curve: suffix sums over occupied bins; F1 cleared to one
    // integral division. Integer aggregates CAST to BIGINT.
    "q_pr_curve" ->
      """WITH r AS (
        |  SELECT l_linestatus,
        |    CAST(least(greatest(floor(l_discount * 10.0 * 20), 0), 19)
        |      AS BIGINT) AS thr_bin,
        |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        |  FROM lineitem
        |  WHERE l_discount IS NOT NULL AND l_returnflag IS NOT NULL),
        |cells AS (
        |  SELECT l_linestatus, thr_bin, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(y) AS BIGINT) AS pos
        |  FROM r GROUP BY 1, 2),
        |s AS (
        |  SELECT l_linestatus, thr_bin,
        |    sum(pos) OVER (PARTITION BY l_linestatus ORDER BY thr_bin DESC
        |      ROWS UNBOUNDED PRECEDING) AS tp,
        |    sum(n - pos) OVER (PARTITION BY l_linestatus ORDER BY thr_bin DESC
        |      ROWS UNBOUNDED PRECEDING) AS fp,
        |    sum(pos) OVER (PARTITION BY l_linestatus) AS p_all
        |  FROM cells)
        |SELECT l_linestatus, thr_bin, CAST(tp AS BIGINT) AS tp,
        |  CAST(fp AS BIGINT) AS fp, CAST(p_all - tp AS BIGINT) AS fn,
        |  CAST(tp * 1000000 // (tp + fp) AS BIGINT) AS precision_micro,
        |  CASE WHEN p_all > 0
        |    THEN CAST(tp * 1000000 // p_all AS BIGINT) END AS recall_micro,
        |  CASE WHEN 2 * tp + fp + (p_all - tp) > 0
        |    THEN CAST(2 * tp * 1000000 // (2 * tp + fp + (p_all - tp))
        |      AS BIGINT) END AS f1_micro
        |FROM s ORDER BY l_linestatus, thr_bin""".stripMargin,

    // Flesch: identical RE2 counts; both ratios are single integral divs.
    "q_readability" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(
        |      str_split_regex(coalesce(text, ''), '[.!?]+\s*'),
        |      x -> x <> '')) AS BIGINT) AS n_sents,
        |    CAST(len(regexp_extract_all(coalesce(text, ''), '\S+'))
        |      AS BIGINT) AS n_words,
        |    CAST(len(regexp_extract_all(coalesce(text, ''), '[aeiouyAEIOUY]+'))
        |      AS BIGINT) AS n_sylls
        |  FROM documents)
        |SELECT doc_id, n_sents, n_words, n_sylls,
        |  CASE WHEN n_sents > 0 AND n_words > 0
        |    THEN 206835000 - (1015000 * n_words) // n_sents
        |                   - (84600000 * n_sylls) // n_words
        |  END AS flesch_micro
        |FROM c ORDER BY doc_id""".stripMargin,

    // TTR/hapax over the house token normalization; both ratios are
    // single integral divisions of exact counts.
    "q_ttr" ->
      s"""WITH tk AS (
         |  SELECT doc_id AS doc, unnest(str_split(${norm("text")}, ' ')) AS tok
         |  FROM documents),
         |tf AS (
         |  SELECT doc, tok, CAST(count(*) AS BIGINT) AS tf
         |  FROM tk WHERE tok <> '' GROUP BY 1, 2),
         |d AS (
         |  SELECT doc, CAST(sum(tf) AS BIGINT) AS n_tokens,
         |    CAST(count(*) AS BIGINT) AS n_types,
         |    CAST(sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
         |  FROM tf GROUP BY 1)
         |SELECT doc AS doc_id, n_tokens, n_types, n_hapax,
         |  CAST(n_types * 1000000 // n_tokens AS BIGINT) AS ttr_micro,
         |  CAST(n_hapax * 1000000 // n_types AS BIGINT) AS hapax_micro
         |FROM d ORDER BY doc_id""".stripMargin,

    // Seasonal index: volume-weighted cleared-denominator ratio over
    // exact cents sums; DuckDB dayofweek is 0-based Sunday, Spark's is
    // 1-based Sunday → +1.
    "q_seasonality" ->
      """WITH r AS (
        |  SELECT event_type, dayofweek(ts) + 1 AS dow,
        |    CAST(floor(value * 100) AS BIGINT) AS c
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |cells AS (
        |  SELECT event_type, CAST(dow AS BIGINT) AS dow,
        |    CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS HUGEINT) AS s
        |  FROM r GROUP BY 1, 2),
        |t AS (
        |  SELECT event_type, dow, n, s,
        |    sum(n) OVER (PARTITION BY event_type) AS tn,
        |    sum(s) OVER (PARTITION BY event_type) AS tsum
        |  FROM cells)
        |SELECT event_type, dow, n, CAST(s // n AS BIGINT) AS mean_cents,
        |  CAST((s * tn * 1000000) // (n * tsum) AS BIGINT) AS idx_micro
        |FROM t WHERE tsum > 0 ORDER BY event_type, dow""".stripMargin,

    // Rolling z: exact integer window sums, one IEEE division + sqrt
    // (the Spearman discipline), floored to micro.
    "q_rolling_z" ->
      """WITH d AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS s
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        |  GROUP BY 1, 2),
        |x AS (SELECT event_type, day, s // n AS x_cents FROM d),
        |w AS (
        |  SELECT event_type, day, x_cents,
        |    count(*) OVER fr AS m, sum(x_cents) OVER fr AS sw,
        |    sum(x_cents * x_cents) OVER fr AS ssw
        |  FROM x WINDOW fr AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)),
        |z AS (
        |  SELECT event_type, day, x_cents,
        |    CASE WHEN m * ssw - sw * sw > 0 THEN
        |      CAST(floor((m * x_cents - sw) * 1e6 /
        |        sqrt(CAST(m * (m * ssw - sw * sw) AS DOUBLE))) AS BIGINT)
        |    END AS z_micro
        |  FROM w)
        |SELECT event_type, day, x_cents, z_micro,
        |  z_micro IS NOT NULL AND abs(z_micro) > 2000000 AS is_spike
        |FROM z ORDER BY event_type, day""".stripMargin,

    // Sentences: identical RE2 split; dense index over non-empty
    // segments via generate_series (unnest has no ordinality).
    "q_sentences" ->
      """WITH d AS (
        |  SELECT doc_id, list_filter(
        |    str_split_regex(coalesce(text, ''), '[.!?]+\s*'),
        |    x -> x <> '') AS arr
        |  FROM documents),
        |s AS (SELECT doc_id, arr,
        |  unnest(generate_series(1, len(arr))) AS i FROM d)
        |SELECT doc_id, CAST(i - 1 AS BIGINT) AS sent_idx,
        |  arr[i] AS sentence, CAST(length(arr[i]) AS BIGINT) AS n_chars
        |FROM s ORDER BY doc_id, sent_idx""".stripMargin,

    "q_degree_dist" ->
      """WITH pairs AS (
        |  SELECT DISTINCT l_partkey * 2 AS a, l_suppkey * 2 + 1 AS b
        |  FROM lineitem),
        |e0 AS (SELECT a AS src, b AS dst FROM pairs
        |       UNION SELECT b AS src, a AS dst FROM pairs),
        |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS degree
        |        FROM e0 GROUP BY 1)
        |SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes
        |FROM deg GROUP BY 1 ORDER BY degree""".stripMargin,

    // Last-touch attribution: touches pre-deduped to one channel per
    // (user, ts) so the ASOF winner is tie-free on both engines.
    "q_attribution" ->
      """WITH p AS (
        |  SELECT user_id, ts, value FROM events
        |  WHERE event_type = 'purchase'),
        |t AS (
        |  SELECT user_id AS t_user, ts AS t_ts, min(event_type) AS channel
        |  FROM events WHERE event_type IN ('click', 'view')
        |  GROUP BY 1, 2),
        |j AS (
        |  SELECT p.value, r.channel
        |  FROM p ASOF LEFT JOIN t r
        |    ON p.user_id = r.t_user AND r.t_ts <= p.ts)
        |SELECT coalesce(channel, 'direct') AS channel,
        |  CAST(count(*) AS BIGINT) AS n_purchases,
        |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM j GROUP BY 1 ORDER BY channel""".stripMargin,

    // HITS: 6 unrolled L1-normalized half-step pairs; raw sums are
    // HUGEINT, every normalization is one floor division.
    "q_hits" -> {
      val scale = "1000000000000"
      val iter = (1 to 4).map { i =>
        s"""ar$i AS (
           |  SELECT nd.node, coalesce(s.s, 0) AS raw
           |  FROM nodes nd LEFT JOIN (
           |    SELECT e.dst AS node, sum(h.hub) AS s
           |    FROM h${i - 1} h JOIN e0 e ON h.node = e.src GROUP BY 1) s
           |  ON nd.node = s.node),
           |a$i AS (
           |  SELECT node, CASE WHEN sum(raw) OVER () > 0
           |    THEN (raw * $scale) // sum(raw) OVER ()
           |    ELSE 0 END AS auth
           |  FROM ar$i),
           |hr$i AS (
           |  SELECT nd.node, coalesce(s.s, 0) AS raw
           |  FROM nodes nd LEFT JOIN (
           |    SELECT e.src AS node, sum(a.auth) AS s
           |    FROM a$i a JOIN e0 e ON a.node = e.dst GROUP BY 1) s
           |  ON nd.node = s.node),
           |h$i AS (
           |  SELECT node, CASE WHEN sum(raw) OVER () > 0
           |    THEN (raw * $scale) // sum(raw) OVER () ELSE 0 END AS hub
           |  FROM hr$i)""".stripMargin
      }.mkString(",\n")
      s"""WITH pairs AS (
         |  SELECT DISTINCT l_partkey * 2 AS a, l_suppkey * 2 + 1 AS b
         |  FROM lineitem),
         |e0 AS (SELECT a AS src, b AS dst FROM pairs),
         |nodes AS (SELECT src AS node FROM e0 UNION SELECT dst FROM e0),
         |h0 AS (SELECT node, $scale // count(*) OVER () AS hub FROM nodes),
         |$iter,
         |final AS (
         |  SELECT a4.node, a4.auth, h4.hub FROM a4 JOIN h4 USING (node)),
         |at AS (SELECT 'auth' AS side, node, auth, hub FROM (
         |  SELECT *, row_number() OVER (ORDER BY auth DESC, node) AS rk
         |  FROM final) WHERE rk <= 10),
         |ht AS (SELECT 'hub' AS side, node, auth, hub FROM (
         |  SELECT *, row_number() OVER (ORDER BY hub DESC, node) AS rk
         |  FROM final) WHERE rk <= 10)
         |SELECT side, node, CAST(auth AS BIGINT) AS auth,
         |  CAST(hub AS BIGINT) AS hub
         |FROM (SELECT * FROM at UNION ALL SELECT * FROM ht)
         |ORDER BY side, node""".stripMargin
    },

    // Both distances are the same well-defined functions in both engines
    // (DuckDB's damerau_levenshtein is also the unrestricted form —
    // damerau_levenshtein('ca','abc') = 2, probed during development).
    "q_fuzzy_damerau" ->
      """SELECT p.p_partkey, p.p_name, n.p_name AS next_name,
        |  CAST(levenshtein(p.p_name, n.p_name) AS BIGINT) AS lev_dist,
        |  CAST(damerau_levenshtein(p.p_name, n.p_name) AS BIGINT) AS damerau_dist
        |FROM part p JOIN part n ON n.p_partkey = p.p_partkey + 1
        |WHERE p.p_partkey <= 200 AND n.p_partkey <= 200
        |  AND damerau_levenshtein(p.p_name, n.p_name) <= 25
        |ORDER BY p.p_partkey""".stripMargin,

    // RRF: bm25 CTEs replicated from q_bm25 (k=50), cosine CTEs from
    // q_ann_brute_force (query 0 only); fusion is exact integer floors.
    "q_rrf_fusion" ->
      s"""WITH docs AS (
         |  SELECT doc_id AS doc, str_split(${norm("text")}, ' ') AS t FROM documents),
         |lens AS (SELECT doc, CAST(len(t) AS DOUBLE) AS dl FROM docs),
         |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl
         |  FROM lens),
         |tf AS (SELECT doc, term, CAST(count(*) AS DOUBLE) AS tf
         |  FROM (SELECT doc, unnest(t) AS term FROM docs)
         |  WHERE term IN ('spark', 'window', 'join', 'vector')
         |  GROUP BY 1, 2),
         |dfq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
         |w AS (SELECT tf.doc,
         |  ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * tf.tf * 2.2 /
         |    (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) AS w
         |  FROM tf JOIN dfq USING (term) JOIN lens ON tf.doc = lens.doc, stats),
         |s AS (SELECT doc,
         |  round(sum(CAST(round(w * 1000000.0) AS BIGINT)) / 1000000.0, 4) AS score
         |  FROM w GROUP BY 1),
         |lex AS (SELECT doc, r FROM (
         |  SELECT doc, row_number() OVER (ORDER BY score DESC, doc) AS r FROM s)
         |  WHERE r <= 50),
         |qz AS (
         |  SELECT vec_id, list_transform(embedding,
         |    x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
         |  FROM embeddings),
         |qv AS (SELECT v FROM qz WHERE vec_id = 0),
         |scored AS (
         |  SELECT c.vec_id AS doc,
         |    CAST(list_sum(list_transform(generate_series(1, len(q.v)),
         |        i -> q.v[i] * c.v[i])) AS DOUBLE)
         |      / (sqrt(CAST(list_sum(list_transform(generate_series(1, len(q.v)),
         |          i -> q.v[i] * q.v[i])) AS DOUBLE))
         |       * sqrt(CAST(list_sum(list_transform(generate_series(1, len(c.v)),
         |          i -> c.v[i] * c.v[i])) AS DOUBLE))) AS cosine
         |  FROM qz c CROSS JOIN qv q WHERE c.vec_id <> 0),
         |sem AS (SELECT doc, r FROM (
         |  SELECT doc, row_number() OVER (ORDER BY cosine DESC, doc) AS r
         |  FROM scored) WHERE r <= 50),
         |fused AS (
         |  SELECT coalesce(l.doc, m.doc) AS doc, l.r AS rank_a, m.r AS rank_b,
         |    coalesce(1000000000 // (60 + l.r), 0)
         |      + coalesce(1000000000 // (60 + m.r), 0) AS rrf_nano
         |  FROM lex l FULL OUTER JOIN sem m ON l.doc = m.doc)
         |SELECT * FROM (
         |  SELECT CAST(row_number() OVER (ORDER BY rrf_nano DESC, doc)
         |      AS BIGINT) AS fused_rank,
         |    doc AS doc_id, CAST(rank_a AS BIGINT) AS rank_a,
         |    CAST(rank_b AS BIGINT) AS rank_b, CAST(rrf_nano AS BIGINT) AS rrf_nano
         |  FROM fused)
         |WHERE fused_rank <= 20 ORDER BY fused_rank""".stripMargin,

    // EWMA α=1/2: shift weights are exact longs; the list() window frame
    // is chronological on both engines; one integral div by 2^m − 1.
    "q_ewma" ->
      """WITH d AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS s
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        |  GROUP BY 1, 2),
        |x AS (SELECT event_type, day, s // n AS x_cents FROM d),
        |a AS (
        |  SELECT event_type, day, x_cents,
        |    list(x_cents) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS arr
        |  FROM x)
        |SELECT event_type, day, x_cents,
        |  CAST(list_sum(list_transform(generate_series(1, len(arr)),
        |      i -> arr[i] * (CAST(1 AS BIGINT) << (i - 1))))
        |    // ((CAST(1 AS BIGINT) << len(arr)) - 1) AS BIGINT) AS ewma_cents
        |FROM a ORDER BY event_type, day""".stripMargin,

    // Mergeable stats: the oracle is the DIRECT aggregation — the hash
    // match proves merge-of-partials is lossless.
    "q_partial_merge" ->
      """WITH r AS (
        |  SELECT o_orderpriority, o_orderkey % 8 AS shard,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS c
        |  FROM orders WHERE o_totalprice IS NOT NULL)
        |SELECT o_orderpriority,
        |  CAST(count(DISTINCT shard) AS BIGINT) AS n_shards,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(c AS HUGEINT)) AS BIGINT) AS sum_cents,
        |  CAST(sum(CAST(c AS HUGEINT)) // count(*) AS BIGINT) AS mean_cents,
        |  CAST((count(*) * sum(CAST(c AS HUGEINT) * c)
        |      - sum(CAST(c AS HUGEINT)) * sum(CAST(c AS HUGEINT)))
        |    // (CAST(count(*) AS HUGEINT) * count(*)) AS BIGINT) AS var_cents2,
        |  CAST(min(c) AS BIGINT) AS min_cents,
        |  CAST(max(c) AS BIGINT) AS max_cents
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,

    // CUSUM closed form: S_t = C_t − min_{j≤t} C_j over exact
    // cents-quantized daily means.
    "q_cusum" ->
      """WITH d AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS s
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        |  GROUP BY 1, 2),
        |x AS (
        |  SELECT event_type, day, n, s // n AS x_cents FROM d),
        |c AS (
        |  SELECT event_type, day, n, x_cents,
        |    sum(x_cents - 5000) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM x),
        |m AS (
        |  SELECT event_type, day, n, x_cents,
        |    cum - min(cum) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS UNBOUNDED PRECEDING) AS s_cents
        |  FROM c)
        |SELECT event_type, day, n, x_cents, CAST(s_cents AS BIGINT) AS s_cents,
        |  s_cents > 1500 AS alarm
        |FROM m ORDER BY event_type, day""".stripMargin,

    // Kruskal–Wallis: doubled-midrank Σ per arm, per-arm exact floor
    // ra2²//(4n_i), fixed IEEE trees for H and the tie correction.
    "q_kruskal" ->
      """WITH r AS (
        |  SELECT user_id % 3 AS cohort, event_type AS a,
        |    CAST(floor(value * 10000) AS BIGINT) AS y
        |  FROM events
        |  WHERE value IS NOT NULL AND event_type IS NOT NULL
        |    AND user_id IS NOT NULL),
        |rk AS (
        |  SELECT cohort, a, y,
        |    2 * rank() OVER (PARTITION BY cohort ORDER BY y)
        |      + count(*) OVER (PARTITION BY cohort, y) - 1 AS r2,
        |    count(*) OVER (PARTITION BY cohort, y) AS t
        |  FROM r),
        |arms AS (
        |  SELECT cohort, a, CAST(count(*) AS BIGINT) AS ni,
        |    sum(CAST(r2 AS HUGEINT)) AS ra2,
        |    sum(CAST(t * t - 1 AS HUGEINT)) AS tiesum
        |  FROM rk GROUP BY 1, 2),
        |agg AS (
        |  SELECT cohort, CAST(sum(ni) AS BIGINT) AS n,
        |    CAST(count(*) AS BIGINT) AS k_arms,
        |    sum((ra2 * ra2) // (4 * CAST(ni AS HUGEINT))) AS s,
        |    sum(tiesum) AS ties
        |  FROM arms GROUP BY 1),
        |h AS (
        |  SELECT cohort, n, k_arms,
        |    12.0 * CAST(s AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))
        |      - 3.0 * (CAST(n AS DOUBLE) + 1.0) AS hv,
        |    1.0 - CAST(ties AS DOUBLE)
        |      / CAST(CAST(n AS HUGEINT) * n * n - n AS DOUBLE) AS corr
        |  FROM agg)
        |SELECT cohort, n, k_arms,
        |  CASE WHEN n > 1 AND k_arms > 1
        |    THEN CAST(floor(hv * 1000000.0) AS BIGINT) END AS h_micro,
        |  CASE WHEN n > 1 AND k_arms > 1 AND corr > 0.0
        |    THEN CAST(floor(hv / corr * 1000000.0) AS BIGINT)
        |  END AS h_tie_micro
        |FROM h ORDER BY cohort""".stripMargin,

    // One-way ANOVA: exact decimal moments per arm, per-arm floor
    // si²//ni, SSB/SSW exact, ONE double division for F.
    "q_anova" ->
      """WITH r AS (
        |  SELECT event_type, user_id % 4 AS a,
        |    CAST(floor(value * 10000) AS BIGINT) AS y
        |  FROM events
        |  WHERE value IS NOT NULL AND event_type IS NOT NULL
        |    AND user_id IS NOT NULL),
        |arms AS (
        |  SELECT event_type, a, CAST(count(*) AS BIGINT) AS ni,
        |    sum(CAST(y AS HUGEINT)) AS si,
        |    sum(CAST(y AS HUGEINT) * y) AS qi
        |  FROM r GROUP BY 1, 2),
        |agg AS (
        |  SELECT event_type, CAST(sum(ni) AS BIGINT) AS n,
        |    CAST(count(*) AS BIGINT) AS k_arms,
        |    sum(si) AS s, sum(qi) AS q,
        |    sum((si * si) // CAST(ni AS HUGEINT)) AS b
        |  FROM arms GROUP BY 1),
        |f AS (
        |  SELECT event_type, n, k_arms,
        |    b - (s * s) // CAST(n AS HUGEINT) AS ssb,
        |    q - b AS ssw
        |  FROM agg)
        |SELECT event_type, n, k_arms, k_arms - 1 AS df1, n - k_arms AS df2,
        |  CASE WHEN k_arms > 1 AND n > k_arms AND ssw > 0
        |    THEN CAST(floor(CAST(ssb AS DOUBLE)
        |      * (CAST(n AS DOUBLE) - CAST(k_arms AS DOUBLE))
        |      / (CAST(ssw AS DOUBLE) * (CAST(k_arms AS DOUBLE) - 1.0))
        |      * 1000000.0) AS BIGINT)
        |  END AS f_micro
        |FROM f ORDER BY event_type""".stripMargin,

    // Pettitt: U_τ = Σ_{i≤τ} 2·midrank − τ(n+1) exact per prefix;
    // earliest-τ max-|U| election; cleared-exp significance gate.
    "q_pettitt" ->
      """WITH d AS (
        |  SELECT event_type,
        |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS t,
        |    CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        |  GROUP BY 1, 2),
        |rk AS (
        |  SELECT event_type, t, cents,
        |    2 * rank() OVER (PARTITION BY event_type ORDER BY cents)
        |      + count(*) OVER (PARTITION BY event_type, cents) - 1 AS r2
        |  FROM d),
        |pre AS (
        |  SELECT event_type, t,
        |    row_number() OVER (PARTITION BY event_type ORDER BY t) AS tau,
        |    count(*) OVER (PARTITION BY event_type) AS n,
        |    sum(r2) OVER (PARTITION BY event_type ORDER BY t
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM rk),
        |u AS (
        |  SELECT event_type, t, cum - tau * (n + 1) AS uu
        |  FROM pre WHERE tau < n),
        |e AS (
        |  SELECT event_type, CAST(abs(uu) AS BIGINT) AS k_stat,
        |    t AS cp_t,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY abs(uu) DESC, t ASC) AS rn
        |  FROM u),
        |sel AS (SELECT event_type, k_stat, cp_t FROM e WHERE rn = 1),
        |ns AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n
        |  FROM d GROUP BY 1)
        |SELECT ns.event_type, n, k_stat, cp_t,
        |  CASE WHEN k_stat IS NOT NULL THEN
        |    6 * CAST(k_stat AS HUGEINT) * k_stat * 1000000 >=
        |      3688879 * (CAST(n AS HUGEINT) * n * n
        |        + CAST(n AS HUGEINT) * n)
        |  END AS signif
        |FROM ns LEFT JOIN sel USING (event_type)
        |ORDER BY ns.event_type""".stripMargin,

    // Ranking eval: exact integer gains, micro-nat ln weights (the
    // charEntropy rule), prefix-hit precision terms, one div each.
    "q_ranking_metrics" ->
      """WITH ev AS (SELECT * FROM events WHERE user_id IS NOT NULL),
        |rel AS (
        |  SELECT user_id,
        |    CASE
        |      WHEN max(CASE WHEN event_type = 'purchase' THEN value END)
        |        > 300.0 THEN 2
        |      WHEN max(CASE WHEN event_type = 'purchase' THEN value END)
        |        > 150.0 THEN 1
        |      ELSE 0 END AS grade
        |  FROM ev GROUP BY 1),
        |ranked AS (
        |  SELECT event_type, user_id,
        |    sum(CAST(floor(value * 100) AS BIGINT)) AS cents
        |  FROM ev WHERE value IS NOT NULL GROUP BY 1, 2),
        |rr AS (
        |  SELECT r.event_type, r.user_id,
        |    row_number() OVER (PARTITION BY r.event_type
        |      ORDER BY r.cents DESC, r.user_id) AS rnk,
        |    l.grade
        |  FROM ranked r JOIN rel l USING (user_id)),
        |pre AS (
        |  SELECT event_type, rnk AS r, grade,
        |    CAST((1::BIGINT << grade) - 1 AS HUGEINT) AS g,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY grade DESC, rnk) AS ir,
        |    sum(CASE WHEN grade > 0 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY event_type ORDER BY rnk
        |        ROWS UNBOUNDED PRECEDING) AS hits
        |  FROM rr),
        |agg AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(CASE WHEN grade > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_rel,
        |    sum(CASE WHEN r <= 20 AND g > 0 THEN
        |      (g * 693147 * 1000000)
        |        // CAST(round(ln(CAST(r + 1 AS DOUBLE)) * 1e6) AS HUGEINT)
        |      ELSE 0 END) AS dcg,
        |    sum(CASE WHEN ir <= 20 AND g > 0 THEN
        |      (g * 693147 * 1000000)
        |        // CAST(round(ln(CAST(ir + 1 AS DOUBLE)) * 1e6) AS HUGEINT)
        |      ELSE 0 END) AS idcg,
        |    min(CASE WHEN grade > 0 AND r <= 20 THEN r END) AS first_rel,
        |    sum(CASE WHEN grade > 0 AND r <= 20
        |      THEN (hits * 1000000) // r ELSE 0 END) AS apsum
        |  FROM pre GROUP BY 1)
        |SELECT event_type, n_docs, n_rel,
        |  coalesce(CAST(1000000 // first_rel AS BIGINT), 0) AS mrr_micro,
        |  CASE WHEN idcg > 0
        |    THEN CAST((dcg * 1000000) // idcg AS BIGINT) END AS ndcg_micro,
        |  CASE WHEN n_rel > 0
        |    THEN CAST(apsum // least(n_rel, 20) AS BIGINT)
        |    ELSE 0 END AS ap_micro
        |FROM agg ORDER BY event_type""".stripMargin,

    // Decile lift: ntile on a total order (score desc, id), exact
    // integral rate and cumulative-lift divisions.
    "q_lift_deciles" ->
      """WITH ev AS (SELECT * FROM events WHERE user_id IS NOT NULL),
        |ent AS (
        |  SELECT user_id % 2 AS cohort, user_id,
        |    CAST(sum(CASE WHEN event_type IN ('view', 'click')
        |      THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END)
        |      AS BIGINT) AS score,
        |    max(CASE WHEN event_type = 'purchase' THEN value END) AS mpv
        |  FROM ev GROUP BY 1, 2),
        |tiled AS (
        |  SELECT cohort,
        |    CASE WHEN coalesce(mpv > 200.0, false) THEN 1 ELSE 0 END AS c,
        |    ntile(10) OVER (PARTITION BY cohort
        |      ORDER BY score DESC, user_id) AS tile
        |  FROM ent WHERE score IS NOT NULL),
        |cells AS (
        |  SELECT cohort, CAST(tile AS BIGINT) AS tile,
        |    CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS conv
        |  FROM tiled GROUP BY 1, 2),
        |w AS (
        |  SELECT cohort, tile, n, conv,
        |    sum(n) OVER (PARTITION BY cohort ORDER BY tile
        |      ROWS UNBOUNDED PRECEDING) AS cn,
        |    sum(conv) OVER (PARTITION BY cohort ORDER BY tile
        |      ROWS UNBOUNDED PRECEDING) AS cc,
        |    sum(n) OVER (PARTITION BY cohort) AS tn,
        |    sum(conv) OVER (PARTITION BY cohort) AS tc
        |  FROM cells)
        |SELECT cohort, tile, n, conv,
        |  CAST((conv * 1000000) // n AS BIGINT) AS rate_micro,
        |  CASE WHEN tc > 0
        |    THEN CAST((cc * tn * 1000000) // (cn * tc) AS BIGINT)
        |  END AS cum_lift_micro
        |FROM w ORDER BY cohort, tile""".stripMargin,

    // FIM PSM rewrite: seeded-md5 16-bit cuts mod (len−1), char-based
    // substring on both engines; short docs degrade to pure prefix.
    "q_fim" ->
      s"""WITH d AS (
         |  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS len
         |  FROM documents WHERE text IS NOT NULL),
         |c AS (
         |  SELECT doc_id, text, len,
         |    CASE WHEN len >= 64 THEN
         |      1 + ${hex4("substr(md5('fima:' || doc_id), 1, 4)")}
         |        % (len - 1) END AS c1,
         |    CASE WHEN len >= 64 THEN
         |      1 + ${hex4("substr(md5('fimb:' || doc_id), 1, 4)")}
         |        % (len - 1) END AS c2
         |  FROM d),
         |s AS (
         |  SELECT doc_id, text, len, least(c1, c2) AS lo,
         |    greatest(c1, c2) AS hi
         |  FROM c)
         |SELECT doc_id AS doc, len AS n_chars, CAST(lo AS BIGINT) AS lo,
         |  CAST(hi AS BIGINT) AS hi,
         |  CASE WHEN lo IS NULL THEN '<PRE>' || text || '<SUF><MID>'
         |    ELSE '<PRE>' || substr(text, 1, CAST(lo AS INTEGER))
         |      || '<SUF>' || substr(text, CAST(hi + 1 AS INTEGER),
         |        CAST(len - hi AS INTEGER))
         |      || '<MID>' || substr(text, CAST(lo + 1 AS INTEGER),
         |        CAST(hi - lo AS INTEGER))
         |  END AS fim_text
         |FROM s ORDER BY doc""".stripMargin,

    // Gini: Σ(2i−1)x − nΣx over ascending order statistics (tie-order
    // invariant), one exact integral micro division.
    "q_gini" ->
      """WITH r AS (
        |  SELECT lang, CAST(n_chars AS BIGINT) AS x
        |  FROM documents WHERE n_chars IS NOT NULL),
        |rk AS (
        |  SELECT lang, x,
        |    row_number() OVER (PARTITION BY lang ORDER BY x) AS i
        |  FROM r),
        |agg AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(x AS HUGEINT)) AS s,
        |    sum((2 * CAST(i AS HUGEINT) - 1) * x) AS w
        |  FROM rk GROUP BY 1)
        |SELECT lang, n, CAST(s AS BIGINT) AS sum_val,
        |  CASE WHEN s > 0 THEN
        |    CAST(((w - CAST(n AS HUGEINT) * s) * 1000000)
        |      // (CAST(n AS HUGEINT) * s) AS BIGINT)
        |  END AS gini_micro
        |FROM agg ORDER BY lang""".stripMargin,

    // Brown–Forsythe: lower-median center per arm (order-statistic
    // election), then the exact q_anova chain on |y − med| (same quanta as y).
    "q_brown_forsythe" ->
      """WITH r AS (
        |  SELECT event_type, user_id % 4 AS a,
        |    CAST(floor(value * 10000) AS BIGINT) AS y
        |  FROM events
        |  WHERE value IS NOT NULL AND event_type IS NOT NULL
        |    AND user_id IS NOT NULL),
        |w AS (
        |  SELECT event_type, a, y,
        |    row_number() OVER (PARTITION BY event_type, a ORDER BY y) AS rn,
        |    count(*) OVER (PARTITION BY event_type, a) AS cnt
        |  FROM r),
        |m AS (
        |  SELECT event_type, a, y,
        |    max(CASE WHEN rn = (cnt + 1) // 2 THEN y END)
        |      OVER (PARTITION BY event_type, a) AS med
        |  FROM w),
        |z AS (
        |  SELECT event_type, a, abs(y - med) AS zy FROM m),
        |arms AS (
        |  SELECT event_type, a, CAST(count(*) AS BIGINT) AS ni,
        |    sum(CAST(zy AS HUGEINT)) AS si,
        |    sum(CAST(zy AS HUGEINT) * zy) AS qi
        |  FROM z GROUP BY 1, 2),
        |agg AS (
        |  SELECT event_type, CAST(sum(ni) AS BIGINT) AS n,
        |    CAST(count(*) AS BIGINT) AS k_arms,
        |    sum(si) AS s, sum(qi) AS q,
        |    sum((si * si) // CAST(ni AS HUGEINT)) AS b
        |  FROM arms GROUP BY 1),
        |f AS (
        |  SELECT event_type, n, k_arms,
        |    b - (s * s) // CAST(n AS HUGEINT) AS ssb,
        |    q - b AS ssw
        |  FROM agg)
        |SELECT event_type, n, k_arms, k_arms - 1 AS df1, n - k_arms AS df2,
        |  CASE WHEN k_arms > 1 AND n > k_arms AND ssw > 0
        |    THEN CAST(floor(CAST(ssb AS DOUBLE)
        |      * (CAST(n AS DOUBLE) - CAST(k_arms AS DOUBLE))
        |      / (CAST(ssw AS DOUBLE) * (CAST(k_arms AS DOUBLE) - 1.0))
        |      * 1000000.0) AS BIGINT)
        |  END AS f_micro
        |FROM f ORDER BY event_type""".stripMargin,

    // Cochran–Armitage: cleared-denominator trend z over (score) cells,
    // Abramowitz–Stegun rational p (the mann_kendall replica).
    "q_cochran_armitage" ->
      """WITH r AS (
        |  SELECT user_id % 2 AS cohort,
        |    CAST((day(ts) - 1) // 7 AS BIGINT) AS t,
        |    event_type = 'purchase' AS s
        |  FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_type IS NOT NULL),
        |cells AS (
        |  SELECT cohort, t, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN s THEN 1 ELSE 0 END) AS BIGINT) AS rr
        |  FROM r GROUP BY 1, 2),
        |agg AS (
        |  SELECT cohort, CAST(sum(n) AS BIGINT) AS n,
        |    CAST(sum(rr) AS BIGINT) AS r,
        |    sum(CAST(t * n AS HUGEINT)) AS tn,
        |    sum(CAST(t * rr AS HUGEINT)) AS tr,
        |    sum(CAST(t * t AS HUGEINT) * n) AS ttn
        |  FROM cells GROUP BY 1),
        |v AS (
        |  SELECT cohort, n, r,
        |    CAST(n AS HUGEINT) * tr - CAST(r AS HUGEINT) * tn AS num,
        |    CAST(r AS HUGEINT) * (n - r)
        |      * (CAST(n AS HUGEINT) * ttn - tn * tn) AS rad,
        |    CAST(n AS HUGEINT) * ttn - tn * tn AS svar
        |  FROM agg),
        |z AS (
        |  SELECT cohort, n, r,
        |    CASE WHEN r > 0 AND r < n AND svar > 0 THEN
        |      CAST(floor(CAST(num AS DOUBLE)
        |        / sqrt(CAST(rad AS DOUBLE) / CAST(n AS DOUBLE))
        |        * 1000000.0) AS BIGINT)
        |    END AS z_micro
        |  FROM v),
        |pb AS (
        |  SELECT *, 1.0 + zz * (0.0498673470 + zz * (0.0211410061
        |    + zz * (0.0032776263 + zz * (0.0000380036
        |    + zz * (0.0000488906 + zz * 0.0000053830))))) AS b
        |  FROM (SELECT *, CAST(abs(z_micro) AS DOUBLE) / 1000000.0 AS zz
        |        FROM z))
        |SELECT cohort, n, r, z_micro,
        |  CASE WHEN z_micro IS NOT NULL
        |    THEN CAST(floor(1000000.0 / b16) AS BIGINT) END AS p_micro
        |FROM (SELECT *, b8 * b8 AS b16 FROM
        |      (SELECT *, b4 * b4 AS b8 FROM
        |       (SELECT *, b2 * b2 AS b4 FROM
        |        (SELECT *, b * b AS b2 FROM pb))))
        |ORDER BY cohort""".stripMargin,

    // HHI: mergeable Σx²/(Σx)² + top share, exact integral divisions.
    "q_hhi" ->
      """WITH cells AS (
        |  SELECT lang, source,
        |    CAST(sum(n_chars) AS BIGINT) AS chars
        |  FROM documents GROUP BY 1, 2),
        |agg AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(chars AS HUGEINT)) AS s,
        |    sum(CAST(chars AS HUGEINT) * chars) AS q,
        |    max(chars) AS m
        |  FROM cells WHERE chars IS NOT NULL GROUP BY 1)
        |SELECT lang, n, CAST(s AS BIGINT) AS sum_val,
        |  CASE WHEN s > 0
        |    THEN CAST((q * 1000000) // (s * s) AS BIGINT) END AS hhi_micro,
        |  CASE WHEN s > 0
        |    THEN CAST((CAST(m AS HUGEINT) * 1000000) // s AS BIGINT)
        |  END AS top_share_micro
        |FROM agg ORDER BY lang""".stripMargin,

    // Zipf: token-type counts, total-order ranks, micro-nat ln points,
    // cleared-denominator OLS slope with one integral division.
    "q_zipf" ->
      s"""WITH toks AS (
         |  SELECT lang, unnest(str_split(${norm("text")}, ' ')) AS term
         |  FROM documents),
         |tf AS (
         |  SELECT lang, term, CAST(count(*) AS BIGINT) AS f
         |  FROM toks WHERE term <> '' GROUP BY 1, 2),
         |rk AS (
         |  SELECT lang, f,
         |    row_number() OVER (PARTITION BY lang ORDER BY f DESC, term)
         |      AS r
         |  FROM tf),
         |pts AS (
         |  SELECT lang, f,
         |    CAST(round(ln(CAST(r AS DOUBLE)) * 1e6) AS BIGINT) AS x,
         |    CAST(round(ln(CAST(f AS DOUBLE)) * 1e6) AS BIGINT) AS y
         |  FROM rk),
         |agg AS (
         |  SELECT lang, CAST(count(*) AS BIGINT) AS n_types,
         |    CAST(sum(f) AS BIGINT) AS n_tokens,
         |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
         |    sum(CAST(x AS HUGEINT) * y) AS sxy,
         |    sum(CAST(x AS HUGEINT) * x) AS sxx
         |  FROM pts GROUP BY 1)
         |SELECT lang, n_types, n_tokens,
         |  CASE WHEN CAST(n_types AS HUGEINT) * sxx - sx * sx > 0 THEN
         |    CAST(((CAST(n_types AS HUGEINT) * sxy - sx * sy) * 1000000)
         |      // (CAST(n_types AS HUGEINT) * sxx - sx * sx) AS BIGINT)
         |  END AS slope_micro
         |FROM agg ORDER BY lang""".stripMargin,

    // Bradley–Terry: Hunter '04 MM fixed point, 8 unrolled iterations
    // of exact integral divisions + per-pass normalization (Σπ = N·10⁶)
    // — the pageRank unrolled-CTE discipline.
    "q_bradley_terry" -> bradleyTerrySql,

    // 3-step paths: two leads over the (user, ts, id) total order,
    // exact counts, total-order top-k.
    "q_paths3" ->
      """WITH s AS (
        |  SELECT user_id, event_type,
        |    lead(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS b,
        |    lead(event_type, 2) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS c
        |  FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_type IS NOT NULL),
        |p AS (
        |  SELECT event_type AS step1, b AS step2, c AS step3,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM s WHERE b IS NOT NULL AND c IS NOT NULL
        |  GROUP BY 1, 2, 3),
        |r AS (
        |  SELECT *, CAST(row_number() OVER (ORDER BY n DESC, step1,
        |    step2, step3) AS BIGINT) AS rank
        |  FROM p)
        |SELECT step1, step2, step3, n, rank FROM r
        |WHERE rank <= 20 ORDER BY rank""".stripMargin,

    // Language confusion: the q_lang_id scoring chain grouped into a
    // declared-vs-predicted agreement matrix.
    "q_lang_confusion" ->
      s"""WITH s AS (
         |  SELECT doc_id, lang,
         |    ${langScore("text", stopEn)} AS s_en,
         |    ${langScore("text", stopDe)} AS s_de,
         |    ${langScore("text", stopFr)} AS s_fr,
         |    ${langScore("text", stopEs)} AS s_es
         |  FROM documents),
         |b AS (SELECT *, greatest(s_en, s_de, s_fr, s_es) AS best FROM s),
         |p AS (
         |  SELECT lang,
         |    CASE WHEN best <= 0 THEN 'und'
         |         WHEN s_en = best THEN 'en'
         |         WHEN s_de = best THEN 'de'
         |         WHEN s_fr = best THEN 'fr'
         |         WHEN s_es = best THEN 'es'
         |         ELSE 'und' END AS pred_lang
         |  FROM b)
         |SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n
         |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Decomposition: centered-window integral trend, dow means of the
    // detrended series, residual by subtraction — all truncating divs.
    "q_decompose" ->
      """WITH d AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
        |      AS x_cents
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        |  GROUP BY 1, 2),
        |t AS (
        |  SELECT event_type, day, x_cents,
        |    sum(x_cents) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS ws,
        |    count(*) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS wn
        |  FROM d),
        |tt AS (
        |  SELECT event_type, day, x_cents,
        |    CAST(ws // wn AS BIGINT) AS trend_cents,
        |    x_cents - ws // wn AS det,
        |    dayofweek(day) + 1 AS dow
        |  FROM t),
        |s AS (
        |  SELECT event_type, dow,
        |    CAST(sum(CAST(det AS HUGEINT)) // CAST(count(*) AS HUGEINT)
        |      AS BIGINT) AS seasonal_cents
        |  FROM tt GROUP BY 1, 2)
        |SELECT tt.event_type, tt.day, tt.x_cents, tt.trend_cents,
        |  s.seasonal_cents,
        |  CAST(tt.x_cents - tt.trend_cents - s.seasonal_cents AS BIGINT)
        |    AS residual_cents
        |FROM tt JOIN s ON tt.event_type = s.event_type AND tt.dow = s.dow
        |ORDER BY tt.event_type, tt.day""".stripMargin,

    // Candidate keys: per-candidate strictly-reducing exact counts.
    "q_key_candidates" -> {
      def one(csv: String, cols: String, nonnull: String): String =
        s"""SELECT '$csv' AS key_cols,
           |  (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_rows,
           |  CAST(coalesce(sum(cnt), 0) AS BIGINT) AS n_nonnull,
           |  CAST(count(*) AS BIGINT) AS n_distinct,
           |  CAST(coalesce(max(cnt), 0) AS BIGINT) AS max_dup,
           |  count(*) = coalesce(sum(cnt), 0) AS is_unique,
           |  count(*) = coalesce(sum(cnt), 0) AND coalesce(sum(cnt), 0)
           |    = (SELECT count(*) FROM orders) AS is_key
           |FROM (SELECT $cols, count(*) AS cnt FROM orders
           |      WHERE $nonnull GROUP BY $cols)""".stripMargin
      Seq(
        one("o_orderkey", "o_orderkey", "o_orderkey IS NOT NULL"),
        one("o_custkey", "o_custkey", "o_custkey IS NOT NULL"),
        one("o_custkey,o_orderdate", "o_custkey, o_orderdate",
          "o_custkey IS NOT NULL AND o_orderdate IS NOT NULL"),
        one("o_orderdate", "o_orderdate", "o_orderdate IS NOT NULL"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY key_cols")
    },

    // Neyman allocation: micro-floored σ BEFORE the weight products
    // (quantize-then-sum), exact integral budget split.
    "q_neyman" ->
      """WITH r AS (
        |  SELECT event_type AS stratum,
        |    CAST(floor(value * 100) AS BIGINT) AS c
        |  FROM events
        |  WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |agg AS (
        |  SELECT stratum, CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(c AS HUGEINT)) AS s,
        |    sum(CAST(c AS HUGEINT) * c) AS ss
        |  FROM r GROUP BY 1),
        |v AS (
        |  SELECT stratum, n,
        |    (n * ss - s * s) // (CAST(n AS HUGEINT) * n) AS var
        |  FROM agg),
        |sg AS (
        |  SELECT stratum, n,
        |    CASE WHEN n > 1 AND var > 0
        |      THEN CAST(floor(sqrt(CAST(var AS DOUBLE)) * 1000000.0)
        |        AS BIGINT)
        |      ELSE 0 END AS sigma_microcents
        |  FROM v),
        |w AS (
        |  SELECT *, CAST(n AS HUGEINT) * sigma_microcents AS wt FROM sg),
        |t AS (SELECT sum(wt) AS tw FROM w)
        |SELECT stratum, n, sigma_microcents,
        |  CASE WHEN tw > 0 THEN CAST((10000 * wt) // tw AS BIGINT)
        |    ELSE 0 END AS alloc
        |FROM w, t ORDER BY stratum""".stripMargin,

    // Operating point: descending-threshold cumulative cells (the
    // prCurve shape), min-threshold election at target precision.
    "q_operating_point" ->
      """WITH r AS (
        |  SELECT event_type, CAST(floor(value * 10000) AS BIGINT) AS thr,
        |    CASE WHEN (user_id + event_id) % 5 < 2 THEN 1 ELSE 0 END AS y
        |  FROM events
        |  WHERE user_id IS NOT NULL AND value IS NOT NULL
        |    AND event_type IS NOT NULL),
        |cells AS (
        |  SELECT event_type, thr, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(y) AS BIGINT) AS p
        |  FROM r GROUP BY 1, 2),
        |sc AS (
        |  SELECT event_type, thr,
        |    sum(p) OVER (PARTITION BY event_type ORDER BY thr DESC
        |      ROWS UNBOUNDED PRECEDING) AS ctp,
        |    sum(n) OVER (PARTITION BY event_type ORDER BY thr DESC
        |      ROWS UNBOUNDED PRECEDING) AS cn,
        |    sum(p) OVER (PARTITION BY event_type) AS tp
        |  FROM cells),
        |q AS (
        |  SELECT event_type, thr, ctp, cn - ctp AS fp,
        |    (ctp * 1000000) // cn AS prec,
        |    CASE WHEN tp > 0 THEN (ctp * 1000000) // tp END AS recall,
        |    row_number() OVER (PARTITION BY event_type ORDER BY thr) AS rn
        |  FROM sc WHERE (ctp * 1000000) // cn >= 500000 AND tp > 0)
        |SELECT g.event_type, q.thr AS thr_q4, CAST(q.ctp AS BIGINT) AS tp,
        |  CAST(q.fp AS BIGINT) AS fp, CAST(q.prec AS BIGINT) AS prec_micro,
        |  CAST(q.recall AS BIGINT) AS recall_micro
        |FROM (SELECT DISTINCT event_type FROM cells) g
        |LEFT JOIN q ON g.event_type = q.event_type AND q.rn = 1
        |ORDER BY g.event_type""".stripMargin,

    // Mutual information: the charEntropy count identity on micro-nat
    // qln terms — N·MI = Σn_xy·qln − Σn_x·qln − Σn_y·qln + N·qln(N).
    "q_mutual_info" ->
      """WITH r AS (
        |  SELECT user_id % 2 AS cohort, event_type AS x,
        |    dayofweek(ts) + 1 AS y
        |  FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_type IS NOT NULL),
        |cells AS (
        |  SELECT cohort, x, y, CAST(count(*) AS BIGINT) AS n
        |  FROM r GROUP BY 1, 2, 3),
        |joint AS (
        |  SELECT cohort,
        |    sum(CAST(n AS HUGEINT)
        |      * CAST(round(ln(CAST(n AS DOUBLE)) * 1e6) AS BIGINT)) AS txy,
        |    CAST(sum(n) AS BIGINT) AS nn
        |  FROM cells GROUP BY 1),
        |mx AS (
        |  SELECT cohort, x, CAST(sum(n) AS BIGINT) AS nx
        |  FROM cells GROUP BY 1, 2),
        |tx AS (
        |  SELECT cohort, sum(CAST(nx AS HUGEINT)
        |    * CAST(round(ln(CAST(nx AS DOUBLE)) * 1e6) AS BIGINT)) AS tx
        |  FROM mx GROUP BY 1),
        |my AS (
        |  SELECT cohort, y, CAST(sum(n) AS BIGINT) AS ny
        |  FROM cells GROUP BY 1, 2),
        |ty AS (
        |  SELECT cohort, sum(CAST(ny AS HUGEINT)
        |    * CAST(round(ln(CAST(ny AS DOUBLE)) * 1e6) AS BIGINT)) AS ty
        |  FROM my GROUP BY 1),
        |f AS (
        |  SELECT j.cohort, nn,
        |    txy - tx.tx - ty.ty + CAST(nn AS HUGEINT)
        |      * CAST(round(ln(CAST(nn AS DOUBLE)) * 1e6) AS BIGINT)
        |      AS minum,
        |    CAST(nn AS HUGEINT)
        |      * CAST(round(ln(CAST(nn AS DOUBLE)) * 1e6) AS BIGINT)
        |      - tx.tx AS hxn,
        |    CAST(nn AS HUGEINT)
        |      * CAST(round(ln(CAST(nn AS DOUBLE)) * 1e6) AS BIGINT)
        |      - ty.ty AS hyn
        |  FROM joint j JOIN tx ON j.cohort = tx.cohort
        |  JOIN ty ON j.cohort = ty.cohort)
        |SELECT cohort, nn AS n,
        |  CAST(minum // CAST(nn AS HUGEINT) AS BIGINT) AS mi_micro,
        |  CAST(hxn // CAST(nn AS HUGEINT) AS BIGINT) AS h_x_micro,
        |  CAST(hyn // CAST(nn AS HUGEINT) AS BIGINT) AS h_y_micro,
        |  CASE WHEN least(hxn, hyn) > 0 THEN
        |    CAST((minum * 1000000) // least(hxn, hyn) AS BIGINT)
        |  END AS nmi_micro
        |FROM f ORDER BY cohort""".stripMargin,

    // N-gram novelty: distinct 3-gram shingles (the dedup replica),
    // ref set from src0, left-semi match counting, one micro division.
    "q_novelty" ->
      s"""WITH toks AS (
         |  SELECT doc_id AS doc, source,
         |    str_split(${norm("text")}, ' ') AS t
         |  FROM documents WHERE text IS NOT NULL),
         |sh AS (
         |  SELECT doc, source, list_distinct(CASE WHEN len(t) >= 3
         |    THEN [array_to_string(t[i:i+2], ' ')
         |      FOR i IN generate_series(1, len(t) - 2)]
         |    ELSE [array_to_string(t, ' ')] END) AS shs
         |  FROM toks),
         |ex AS (SELECT doc, source, unnest(shs) AS g FROM sh),
         |ref AS (SELECT DISTINCT g FROM ex WHERE source = 'src0'),
         |tgt AS (SELECT doc, g FROM ex WHERE source <> 'src0'),
         |sizes AS (
         |  SELECT doc, CAST(count(*) AS BIGINT) AS n_grams
         |  FROM tgt GROUP BY 1),
         |mt AS (
         |  SELECT t.doc, CAST(count(*) AS BIGINT) AS m
         |  FROM tgt t JOIN ref r ON t.g = r.g GROUP BY 1)
         |SELECT s.doc, s.n_grams,
         |  s.n_grams - coalesce(m, 0) AS n_novel,
         |  CAST(((s.n_grams - coalesce(m, 0)) * 1000000) // s.n_grams
         |    AS BIGINT) AS novelty_micro
         |FROM sizes s LEFT JOIN mt ON s.doc = mt.doc
         |ORDER BY s.doc""".stripMargin,

    // Subclassified ATE: covariate-quintile strata (total-order ntile),
    // exact per-arm micro means, size-weighted integral average.
    "q_subclass_ate" ->
      """WITH r AS (
        |  SELECT event_type, event_id AS id, (user_id % 2 = 0) AS t,
        |    CAST(day(ts) AS BIGINT) AS x,
        |    CAST(floor(value * 10000) AS BIGINT) AS y
        |  FROM events
        |  WHERE user_id IS NOT NULL AND value IS NOT NULL
        |    AND ts IS NOT NULL),
        |st AS (
        |  SELECT event_type, t, y,
        |    ntile(5) OVER (PARTITION BY event_type ORDER BY x, id) AS s
        |  FROM r),
        |cells AS (
        |  SELECT event_type, s,
        |    CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS nt,
        |    sum(CASE WHEN t THEN CAST(y AS HUGEINT) ELSE 0 END) AS sty,
        |    CAST(sum(CASE WHEN NOT t THEN 1 ELSE 0 END) AS BIGINT) AS nc,
        |    sum(CASE WHEN NOT t THEN CAST(y AS HUGEINT) ELSE 0 END) AS scy
        |  FROM st GROUP BY 1, 2),
        |v AS (
        |  SELECT event_type, nt + nc AS ns,
        |    CASE WHEN nt > 0 AND nc > 0 THEN
        |      (sty * 1000000) // CAST(nt AS HUGEINT)
        |        - (scy * 1000000) // CAST(nc AS HUGEINT)
        |    END AS diff
        |  FROM cells)
        |SELECT event_type, CAST(sum(ns) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN diff IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_strata_used,
        |  CASE WHEN sum(CASE WHEN diff IS NOT NULL THEN ns ELSE 0 END) > 0
        |    THEN CAST(sum(CASE WHEN diff IS NOT NULL
        |        THEN CAST(ns AS HUGEINT) * diff ELSE 0 END)
        |      // CAST(sum(CASE WHEN diff IS NOT NULL THEN ns ELSE 0 END)
        |        AS HUGEINT) AS BIGINT)
        |  END AS ate_micro_q4
        |FROM v GROUP BY 1 ORDER BY 1""".stripMargin,

    // Centroid cosine: counts cancel, so the statistic runs on exact
    // per-(label, dim) integer sum vectors; one IEEE division per pair.
    "q_centroid_sim" ->
      """WITH qz AS (
        |  SELECT vec_id AS id, label, list_transform(embedding,
        |    x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        |  FROM embeddings
        |  WHERE embedding IS NOT NULL AND label IS NOT NULL),
        |e AS (
        |  SELECT id, label, unnest(generate_series(1, len(v))) AS i,
        |    unnest(v) AS q
        |  FROM qz),
        |s AS (
        |  SELECT label, i, sum(CAST(q AS HUGEINT)) AS sv
        |  FROM e GROUP BY 1, 2),
        |cnt AS (
        |  SELECT label, CAST(count(*) AS BIGINT) AS n FROM qz GROUP BY 1),
        |nr AS (SELECT label, sum(sv * sv) AS n2 FROM s GROUP BY 1),
        |d AS (
        |  SELECT a.label AS la, b.label AS lb, sum(a.sv * b.sv) AS dot
        |  FROM s a JOIN s b ON a.i = b.i AND a.label < b.label
        |  GROUP BY 1, 2)
        |SELECT CAST(la AS BIGINT) AS label_a, CAST(lb AS BIGINT) AS label_b,
        |  na.n AS n_a, nb.n AS n_b,
        |  CASE WHEN ra.n2 > 0 AND rb.n2 > 0 THEN
        |    CAST(floor(CAST(dot AS DOUBLE)
        |      / (sqrt(CAST(ra.n2 AS DOUBLE)) * sqrt(CAST(rb.n2 AS DOUBLE)))
        |      * 1000000.0) AS BIGINT)
        |  END AS cos_micro
        |FROM d JOIN cnt na ON la = na.label JOIN cnt nb ON lb = nb.label
        |  JOIN nr ra ON la = ra.label JOIN nr rb ON lb = rb.label
        |ORDER BY 1, 2""".stripMargin,

    // Centroid outliers: n²d² = n²Σx² − 2nΣxs + Σs² exact per vector;
    // far flag vs 4× the label's integral-division mean.
    "q_centroid_outliers" ->
      """WITH qz AS (
        |  SELECT vec_id AS id, label, list_transform(embedding,
        |    x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        |  FROM embeddings
        |  WHERE embedding IS NOT NULL AND label IS NOT NULL
        |    AND vec_id IS NOT NULL),
        |e AS (
        |  SELECT id, label, unnest(generate_series(1, len(v))) AS i,
        |    unnest(v) AS q
        |  FROM qz),
        |aa AS (
        |  SELECT id, label, sum(CAST(q AS HUGEINT) * q) AS a2
        |  FROM e GROUP BY 1, 2),
        |s AS (
        |  SELECT label, i, sum(CAST(q AS HUGEINT)) AS sv
        |  FROM e GROUP BY 1, 2),
        |c AS (SELECT label, sum(sv * sv) AS cc FROM s GROUP BY 1),
        |n AS (
        |  SELECT label, CAST(count(*) AS HUGEINT) AS n FROM qz GROUP BY 1),
        |b AS (
        |  SELECT e.id, e.label, sum(CAST(e.q AS HUGEINT) * s.sv) AS bb
        |  FROM e JOIN s ON e.label = s.label AND e.i = s.i
        |  GROUP BY 1, 2),
        |d2 AS (
        |  SELECT aa.id, aa.label,
        |    n.n * n.n * aa.a2 - 2 * n.n * b.bb + c.cc AS d2
        |  FROM aa JOIN b ON aa.id = b.id AND aa.label = b.label
        |  JOIN c ON aa.label = c.label JOIN n ON aa.label = n.label),
        |m AS (SELECT label, sum(d2) // count(*) AS mean FROM d2 GROUP BY 1)
        |SELECT d2.id, CAST(d2.label AS BIGINT) AS label,
        |  CAST(d2.d2 AS BIGINT) AS dist2n2,
        |  d2.d2 > 4 * m.mean AS is_far
        |FROM d2 JOIN m ON d2.label = m.label ORDER BY d2.id""".stripMargin,

    // Split-conformal: seeded-md5 halves, order-statistic q̂ at
    // k = ⌈(n+1)·90/100⌉, one integral coverage division.
    "q_conformal" ->
      s"""WITH r AS (
         |  SELECT event_type, event_id AS id,
         |    CAST(floor(value * 10000) AS BIGINT) AS s,
         |    ${hex4("substr(md5('conf:' || event_id), 1, 4)")} % 2 = 0
         |      AS cal
         |  FROM events
         |  WHERE value IS NOT NULL AND event_id IS NOT NULL),
         |c AS (
         |  SELECT event_type, s,
         |    row_number() OVER (PARTITION BY event_type ORDER BY s, id)
         |      AS rn,
         |    count(*) OVER (PARTITION BY event_type) AS nc
         |  FROM r WHERE cal),
         |q AS (
         |  SELECT event_type, CAST(max(nc) AS BIGINT) AS n_cal,
         |    CAST(max(((nc + 1) * 90 + 99) // 100) AS BIGINT) AS k,
         |    max(CASE WHEN rn = ((nc + 1) * 90 + 99) // 100 THEN s END)
         |      AS qhat_q4
         |  FROM c GROUP BY 1),
         |e AS (SELECT event_type, s FROM r WHERE NOT cal),
         |ea AS (
         |  SELECT e.event_type, CAST(count(*) AS BIGINT) AS n_eval,
         |    CAST(sum(CASE WHEN e.s <= q.qhat_q4 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS cov
         |  FROM e LEFT JOIN q ON e.event_type = q.event_type
         |  GROUP BY 1),
         |grp AS (SELECT DISTINCT event_type FROM r)
         |SELECT grp.event_type, coalesce(q.n_cal, 0) AS n_cal,
         |  coalesce(ea.n_eval, 0) AS n_eval, q.k, q.qhat_q4,
         |  CASE WHEN coalesce(ea.n_eval, 0) = 0 THEN NULL
         |    WHEN q.qhat_q4 IS NULL THEN 1000000
         |    ELSE CAST((ea.cov * 1000000) // ea.n_eval AS BIGINT)
         |  END AS coverage_micro
         |FROM grp
         |LEFT JOIN q ON grp.event_type = q.event_type
         |LEFT JOIN ea ON grp.event_type = ea.event_type
         |ORDER BY 1""".stripMargin,

    // RFM: exact cents triples, corpus-max recency anchor, three
    // total-order ntiles (worst-first so tile 5 = best).
    "q_rfm" ->
      """WITH ent AS (
        |  SELECT user_id AS entity, max(ts) AS last_ts,
        |    CAST(count(*) AS BIGINT) AS freq,
        |    CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
        |      AS monetary_cents
        |  FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND value IS NOT NULL
        |  GROUP BY 1),
        |mx AS (SELECT max(last_ts) AS max_ts FROM ent),
        |rd AS (
        |  SELECT entity, freq, monetary_cents,
        |    CAST(CAST(max_ts AS DATE) - CAST(last_ts AS DATE) AS BIGINT)
        |      AS r_days
        |  FROM ent, mx)
        |SELECT entity, r_days, freq, monetary_cents,
        |  CAST(ntile(5) OVER (ORDER BY r_days DESC, entity) AS BIGINT)
        |    AS r_score,
        |  CAST(ntile(5) OVER (ORDER BY freq ASC, entity) AS BIGINT)
        |    AS f_score,
        |  CAST(ntile(5) OVER (ORDER BY monetary_cents ASC, entity)
        |    AS BIGINT) AS m_score
        |FROM rd ORDER BY entity""".stripMargin,

    // MDE: exact cleared-denominator variance, micro-pinned z-sum
    // constant, one IEEE multiply + sqrt.
    "q_mde" ->
      """WITH r AS (
        |  SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS c
        |  FROM events WHERE value IS NOT NULL),
        |agg AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(c AS HUGEINT)) AS s,
        |    sum(CAST(c AS HUGEINT) * c) AS ss
        |  FROM r GROUP BY 1),
        |v AS (
        |  SELECT event_type, n,
        |    CAST((n * ss - s * s) // (CAST(n AS HUGEINT) * n) AS BIGINT)
        |      AS var_cents2
        |  FROM agg)
        |SELECT event_type, n, var_cents2,
        |  CASE WHEN n > 1 AND var_cents2 > 0 THEN
        |    CAST(floor(2801585.0 * sqrt(2.0 * CAST(var_cents2 AS DOUBLE)
        |      / CAST(n AS DOUBLE))) AS BIGINT)
        |  END AS mde_microcents
        |FROM v ORDER BY event_type""".stripMargin,

    // Harmonic centrality: per-probe BFS frontier keyed (probe, node),
    // 4 unrolled min-depth rounds (MATERIALIZED — the frontier is read
    // twice per round), exact 10⁶//d reciprocal sums.
    "q_harmonic" -> {
      val iter = (1 to 4).map { i =>
        s"""it$i AS MATERIALIZED (
           |  SELECT probe, node, min(depth) AS depth FROM (
           |    SELECT p.probe, e.dst AS node, p.depth + 1 AS depth
           |    FROM it${i - 1} p JOIN e0 e ON p.node = e.src
           |    UNION ALL SELECT probe, node, depth FROM it${i - 1})
           |  GROUP BY 1, 2)""".stripMargin
      }.mkString(",\n")
      s"""WITH pairs AS MATERIALIZED (
         |  SELECT DISTINCT l_partkey * 2 AS a, l_suppkey * 2 + 1 AS b
         |  FROM lineitem),
         |e0 AS MATERIALIZED (
         |  SELECT a AS src, b AS dst FROM pairs
         |  UNION SELECT b AS src, a AS dst FROM pairs),
         |it0 AS MATERIALIZED (
         |  SELECT DISTINCT a AS probe, a AS node, 0 AS depth FROM pairs
         |  WHERE a % 1600 = 0),
         |$iter
         |SELECT CAST(probe AS BIGINT) AS probe,
         |  CAST(count(*) AS BIGINT) AS reached,
         |  CAST(sum(1000000 // depth) AS BIGINT) AS harmonic_micro
         |FROM it4 WHERE depth > 0
         |GROUP BY 1 ORDER BY 1""".stripMargin
    },
  )

  private def bradleyTerrySql: String = {
    val base =
      """WITH cents AS MATERIALIZED (
        |  SELECT user_id AS u, event_type AS t,
        |    CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS c
        |  FROM events
        |  WHERE user_id IS NOT NULL AND value IS NOT NULL
        |    AND event_type IS NOT NULL
        |  GROUP BY 1, 2),
        |mt AS MATERIALIZED (
        |  SELECT CASE WHEN a.c > b.c THEN a.t ELSE b.t END AS w,
        |    CASE WHEN a.c > b.c THEN b.t ELSE a.t END AS l
        |  FROM cents a JOIN cents b
        |    ON a.u = b.u AND a.t < b.t AND a.c <> b.c),
        |pairs AS MATERIALIZED (
        |  SELECT a, b, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(win) AS BIGINT) AS w
        |  FROM (SELECT w AS a, l AS b, 1 AS win FROM mt
        |        UNION ALL SELECT l AS a, w AS b, 0 AS win FROM mt)
        |  GROUP BY 1, 2),
        |stats AS MATERIALIZED (
        |  SELECT a AS item, CAST(sum(w) AS BIGINT) AS wins,
        |    CAST(sum(n) AS BIGINT) AS n_matches
        |  FROM pairs GROUP BY 1),
        |nn AS MATERIALIZED (SELECT CAST(count(*) AS HUGEINT) AS nitems FROM stats),
        |r0 AS MATERIALIZED (SELECT item, CAST(1000000 AS HUGEINT) AS r FROM stats)"""
        .stripMargin
    val iters = (1 to 8).map { k =>
      s"""d$k AS MATERIALIZED (
         |  SELECT p.a, sum((CAST(p.n AS HUGEINT) * 1000000000000)
         |    // greatest(ra.r + rb.r, 1)) AS d
         |  FROM pairs p
         |  JOIN r${k - 1} ra ON p.a = ra.item
         |  JOIN r${k - 1} rb ON p.b = rb.item
         |  GROUP BY p.a),
         |p$k AS MATERIALIZED (
         |  SELECT s.item, (CAST(s.wins AS HUGEINT) * 1000000000000)
         |    // greatest(d.d, 1) AS pr
         |  FROM stats s JOIN d$k d ON s.item = d.a),
         |s$k AS MATERIALIZED (SELECT sum(pr) AS s FROM p$k),
         |r$k AS MATERIALIZED (
         |  SELECT item, CASE WHEN s$k.s > 0
         |    THEN (pr * nitems * 1000000) // s$k.s ELSE pr END AS r
         |  FROM p$k, s$k, nn)""".stripMargin
    }.mkString(",\n")
    s"""$base,
       |$iters
       |SELECT st.item, st.wins, st.n_matches,
       |  CAST(r8.r AS BIGINT) AS rating_micro
       |FROM stats st JOIN r8 ON st.item = r8.item
       |ORDER BY st.item""".stripMargin
  }
}
