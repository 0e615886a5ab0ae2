package graft.gate

import graft.analysis.Analyzer

/** DuckDB oracle SQL for every [[Gate]] query, over the same raw parquet
  * tables, so the row/schema/hash compare is exact.
  *
  * Shared prelude:
  *  - `tok`  : the analysis chain (split + length<=255 + 33 stopwords — on
  *             this corpus identical to the StandardAnalyzer chain).
  *  - `nbt`  : SmallFloat315 norm-byte encode, emulated arithmetically from
  *             the float32 value of 1/sqrt(len) (2 explicit mantissa bits kept
  *             by `bits >> 21`, exponent rebased by 384).
  *  - `tfs`/`dfs`: per-(term, doc) tf and per-term df/ttf.
  *
  * Every ranked or scored gate runs the float32 engine, so its oracle is
  * built on [[fprelude]]: the [[graft.score.Bm25]] kernel in REAL
  * arithmetic, ranked by the REAL score then doc_id through [[ranked]].
  */
object GateOracle {

  private val stop: String =
    Analyzer.Stopwords.toSeq.sorted.map(s => s"'$s'").mkString(", ")

  /** floor(x*10000 + 0.5) as BIGINT — the shared score quantizer. */
  private def qz(expr: String): String =
    s"CAST(floor(($expr) * 10000 + 0.5) AS BIGINT)"

  private val prelude: String =
    s"""WITH splits AS (
       |  SELECT doc_id, string_split(text, ' ') AS l FROM documents
       |), pos AS (
       |  SELECT doc_id, unnest(l) AS t, unnest(range(1, len(l) + 1)) AS p FROM splits
       |), tok AS (
       |  SELECT doc_id, t AS term FROM pos
       |  WHERE t <> '' AND length(t) <= 255 AND t NOT IN ($stop)
       |), lens AS (
       |  SELECT d.doc_id, coalesce(c.len, 0) AS len
       |  FROM documents d
       |  LEFT JOIN (SELECT doc_id, count(*) AS len FROM tok GROUP BY doc_id) c USING (doc_id)
       |), nbt AS (
       |  SELECT doc_id, len,
       |    CASE WHEN len = 0 THEN 255 ELSE
       |      CAST((floor(log2(y)) + 127) * 4
       |           + floor(y / power(2.0, floor(log2(y))) * 4) - 4 - 384 AS BIGINT)
       |    END AS nb
       |  FROM (SELECT doc_id, len, CAST(CAST(1.0 / sqrt(len) AS REAL) AS DOUBLE) AS y FROM lens)
       |), st AS (
       |  SELECT (SELECT count(*) FROM documents) AS n, (SELECT count(*) FROM tok) AS sttf
       |), tfs AS (
       |  SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY term, doc_id
       |), dfs AS (
       |  SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS ttf FROM tfs GROUP BY term
       |)""".stripMargin

  // ---------- float32 ENGINE-kernel emulation ------------------------------
  // DuckDB REAL arithmetic is true per-op float32 (verified exhaustively:
  // every (doc, term) score over the whole corpus vocabulary at sf0.001/0.01/
  // 0.1 is bit-identical to the JVM kernel). Literals MUST be written in
  // scientific notation ("e0") — plain decimals parse as DECIMAL, whose
  // REAL conversion truncates instead of rounding to nearest.

  /** Exact float32 NORM_TABLE values (1f/(f*f), [[graft.score.Bm25.NormTable]])
    * inlined as double literals — every float is exactly representable.
    */
  private val ntabValues: String =
    graft.score.Bm25.NormTable.zipWithIndex.map { case (v, i) =>
      val litv =
        if (v.isInfinity) "CAST('infinity' AS REAL)"
        else f"CAST(${v.toDouble}%.17e AS REAL)"
      s"($i, $litv)"
    }.mkString(", ")

  private val k1p1 = "CAST(2.2000000476837158e0 AS REAL)" // (float)(1.2f + 1)
  private val k1f = "CAST(1.2000000476837158e0 AS REAL)"  // 1.2f
  private val fz = "CAST(0.0e0 AS REAL)"                  // x + 0.0f == x

  /** [[graft.score.Bm25.score]]: wv * tf / (tf + cache[nb]), with the
    * doc's cache value `r.c` from `fnorm`.
    */
  private def bm25(wv: String, tf: String): String = s"($wv * $tf) / ($tf + r.c)"

  /** The engine kernel ([[graft.score.Bm25]]) mirrored op-for-op in REAL
    * arithmetic: `fidf.idf` = (float) ln(...), `fnorm.c` = the per-doc
    * cache k1*((1-b) + b*NORM_TABLE[nb]/avgdl) with avgdl = (float)(sttf/n),
    * and `fsc.s` = the per-(doc, term) score with weightValue = idf*(k1+1).
    */
  private val fprelude: String =
    s"""$prelude, ntab(nb, nt) AS (VALUES $ntabValues
       |), fstats AS (
       |  SELECT CAST(CAST(st.sttf AS DOUBLE) / st.n AS REAL) AS avgdl, st.n AS n FROM st
       |), fidf AS (
       |  SELECT d.term, CAST(ln(1.0 + (fs2.n - d.df + 0.5) / (d.df + 0.5)) AS REAL) AS idf
       |  FROM dfs d CROSS JOIN fstats fs2
       |), fnorm AS (
       |  SELECT b.doc_id,
       |    $k1f * (CAST(0.25e0 AS REAL) + (CAST(0.75e0 AS REAL) * ntab.nt) / fs.avgdl) AS c
       |  FROM nbt b JOIN ntab ON ntab.nb = b.nb CROSS JOIN fstats fs
       |), fsc AS (
       |  SELECT t.doc_id, t.term, ${bm25(s"(i.idf * $k1p1)", "CAST(t.tf AS REAL)")} AS s
       |  FROM tfs t JOIN fidf i USING (term) JOIN fnorm r USING (doc_id)
       |)""".stripMargin

  /** Payload-index prelude: WhitespaceAnalyzer tokenization (every token of
    * the space-split text; the payload suffix is NOT part of the indexed
    * term), payload w = ((doc_id + p) % 8 + 1)/2 recomputed from the
    * [[Gate.indexDirPayload]] formula, norms/stats over ALL tokens (no
    * stoplist, no length cap). Query term: 'vector'.
    */
  private val payprelude: String =
    s"""WITH psplits AS (
       |  SELECT doc_id, string_split(text, ' ') AS l FROM documents
       |), ppos AS (
       |  SELECT doc_id, unnest(l) AS t, unnest(range(1, len(l) + 1)) AS p FROM psplits
       |), pnbt AS (
       |  SELECT doc_id,
       |    CASE WHEN len = 0 THEN 255 ELSE
       |      CAST((floor(log2(y)) + 127) * 4
       |           + floor(y / power(2.0, floor(log2(y))) * 4) - 4 - 384 AS BIGINT)
       |    END AS nb
       |  FROM (SELECT doc_id, len(l) AS len,
       |          CAST(CAST(1.0 / sqrt(len(l)) AS REAL) AS DOUBLE) AS y FROM psplits)
       |), ntab(nb, nt) AS (VALUES $ntabValues
       |), pstats AS (
       |  SELECT CAST(CAST((SELECT count(*) FROM ppos) AS DOUBLE)
       |              / (SELECT count(*) FROM documents) AS REAL) AS avgdl,
       |         (SELECT count(*) FROM documents) AS n
       |), pocc AS (
       |  SELECT doc_id, p, CAST((doc_id + p) % 8 + 1 AS DOUBLE) / 2 AS w
       |  FROM ppos WHERE t = 'vector'
       |), pagg AS (
       |  SELECT doc_id, count(*) AS tf, sum(w) AS sumw, min(w) AS minw
       |  FROM pocc GROUP BY doc_id
       |), pidf AS (
       |  SELECT CAST(ln(1.0 + (fs.n - d.df + 0.5) / (d.df + 0.5)) AS REAL) AS idf
       |  FROM (SELECT count(*) AS df FROM pagg) d CROSS JOIN pstats fs
       |)""".stripMargin

  /** `bsc`: `fsc` with a per-term boost from the query `w` (term, b REAL) —
    * [[graft.score.Bm25.weightValue]]'s (idf * boost) * (k1 + 1).
    */
  private def boosted(w: String): String =
    s""", w(term, b) AS (
       |  $w
       |), bsc AS (
       |  SELECT t.doc_id, t.term, ${bm25(s"((i.idf * w.b) * $k1p1)", "CAST(t.tf AS REAL)")} AS s
       |  FROM tfs t JOIN fidf i USING (term) JOIN w USING (term) JOIN fnorm r USING (doc_id)
       |)""".stripMargin

  /** The engine's flat-boolean clause sum: `s` folded per group in
    * ascending term order (term ids ascend with the term). DuckDB's sum()
    * over REAL returns DOUBLE; list_reduce stays REAL and folds in order.
    */
  private def fold(s: String = "s"): String =
    s"list_reduce(list($s ORDER BY term), (a, b) -> a + b)"

  /** Per doc, the folded clause scores of the `from` rows matching `where`. */
  private def flat(where: String, having: String = "", from: String = "fsc"): String =
    s"SELECT doc_id, ${fold()} AS s FROM $from WHERE $where GROUP BY doc_id $having"

  /** A ranked float32 result: `hits` yields one (doc_id, s REAL) row per
    * matching doc; the top `k` by the REAL score, then doc_id (the engine's
    * collector order), with the quantized score. `ctes` follow the prelude.
    */
  private def ranked(hits: String, k: Int = 10, ctes: String = ""): String =
    s"""$fprelude$ctes
       |SELECT doc_id, ${qz("CAST(s AS DOUBLE)")} AS score_q FROM ($hits)
       |ORDER BY s DESC, doc_id LIMIT $k""".stripMargin

  /** Phrase score: `ph` (doc_id, pf REAL) scored with weightValue = the
    * idf of `terms` summed in slot order, times k1+1.
    */
  private def phrase(ph: String, terms: String*): String = {
    val idfSum = terms.map(t => s"(SELECT idf FROM fidf WHERE term = '$t')").mkString(" + ")
    ranked(s"SELECT doc_id, ${bm25(s"(($idfSum) * $k1p1)", "ph.pf")} AS s " +
      "FROM ph JOIN fnorm r USING (doc_id)", ctes = s", ph AS ($ph)")
  }

  private def inList(terms: String*): String =
    terms.map(t => s"'$t'").mkString("term IN (", ", ", ")")

  /** Shared MinHash-LSH candidate chain (8 hashes, 2/band, exact-Jaccard
    * intersections): ends with CTEs `inter` (d1, d2, i) and `sizes`
    * (doc_id, sz). `recursive` prefixes WITH RECURSIVE for consumers that
    * append a recursive closure (dedup_groups).
    */
  private def mhChain(recursive: Boolean): String =
    s"""WITH ${if (recursive) "RECURSIVE " else ""}splits AS (
       |  SELECT doc_id, string_split(text, ' ') AS l FROM documents
       |), pos AS (
       |  SELECT doc_id, unnest(l) AS t, unnest(range(1, len(l) + 1)) AS p FROM splits
       |), sh AS (
       |  SELECT DISTINCT a.doc_id, a.t || ' ' || b.t || ' ' || c.t AS s
       |  FROM pos a
       |  JOIN pos b ON b.doc_id = a.doc_id AND b.p = a.p + 1
       |  JOIN pos c ON c.doc_id = a.doc_id AND c.p = a.p + 2
       |), mh AS (
       |  SELECT doc_id, r.k AS k, min(md5(CAST(r.k AS VARCHAR) || '|' || s)) AS h
       |  FROM sh CROSS JOIN (SELECT unnest(range(0, 8)) AS k) r
       |  GROUP BY doc_id, r.k
       |), bands AS (
       |  SELECT doc_id, k // 2 AS band, string_agg(h, '' ORDER BY k) AS bv
       |  FROM mh GROUP BY doc_id, k // 2
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
       |), sizes AS (
       |  SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
       |), inter AS (
       |  SELECT c.d1, c.d2, count(*) AS i
       |  FROM cand c
       |  JOIN sh x ON x.doc_id = c.d1
       |  JOIN sh y ON y.doc_id = c.d2 AND y.s = x.s
       |  GROUP BY c.d1, c.d2
       |)""".stripMargin

  /** Raw token ordinals with CHARACTER start offsets: the corpus text is
    * single-space-joined tokens, so token p starts at the sum of all prior
    * token lengths plus one separator each — mirrors the engine tokenizer's
    * span tracking exactly on this corpus.
    */
  private val tposSql: String =
    """
      |  SELECT doc_id, t, p,
      |    CAST(coalesce(sum(length(t) + 1) OVER (
      |      PARTITION BY doc_id ORDER BY p
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off
      |  FROM pos
      |""".stripMargin

  /** Oracles shared by gates that run the same engine query. */
  private val termVector = ranked(flat("term = 'vector'"))
  private val orMergeSparkWindow = ranked(flat(inList("merge", "spark", "window")))
  // (spark OR window) AND merge: the group's fold, then the conjunct
  private val nested = ranked(
    s"""SELECT g.doc_id, g.s + m.s AS s
       |FROM (${flat(inList("spark", "window"))}) g
       |JOIN (SELECT doc_id, s FROM fsc WHERE term = 'merge') m USING (doc_id)""".stripMargin)
  // DisjunctionMaxScorer: max + (sum - max) * 0.1f, the sum in clause order
  private val dismax = ranked(
    s"""SELECT doc_id, max(s) + (${fold()} - max(s)) * CAST(1.00000001490116119e-01 AS REAL) AS s
       |FROM fsc WHERE ${inList("spark", "window")} GROUP BY doc_id""".stripMargin)
  private val phraseFastTable = phrase(
    """SELECT a.doc_id, CAST(count(*) AS REAL) AS pf
      |  FROM pos a JOIN pos b ON b.doc_id = a.doc_id AND b.p = a.p + 1
      |  WHERE a.t = 'fast' AND b.t = 'table' GROUP BY a.doc_id""".stripMargin, "fast", "table")

  /** FuzzyQuery 'soft' within `edits`: the top 50 terms by similarity
    * 1 - d/min(|t|, |q|), then term, each boosted by that similarity in
    * float32 ([[graft.query.Rewrite.expansion]]).
    */
  private def fuzzy(edits: Int): String = ranked(flat("true", from = "bsc"), ctes = boosted(
    s"""SELECT term, CAST(1.0e0 AS REAL) - CAST(d AS REAL) / CAST(least(length(term), 4) AS REAL)
       |  FROM (SELECT term, levenshtein(term, 'soft') AS d FROM dfs) WHERE d <= $edits
       |  ORDER BY 1.0 - d / CAST(least(length(term), 4) AS DOUBLE) DESC, term LIMIT 50""".stripMargin))

  val sql: Map[String, String] = Map(
    "ft_termdict" ->
      s"$prelude SELECT term, df, ttf FROM dfs ORDER BY term",
    "ft_norms" ->
      s"$prelude SELECT nb, count(*) AS cnt FROM nbt GROUP BY nb ORDER BY nb",
    "ft_stats" ->
      s"""$prelude
         |SELECT st.n AS max_doc, st.n AS doc_count, st.sttf AS sum_ttf,
         |       (SELECT CAST(sum(df) AS BIGINT) FROM dfs) AS sum_df
         |FROM st""".stripMargin,
    "ft_postings_term" ->
      s"""$prelude
         |SELECT doc_id, CAST(tf AS BIGINT) AS tf FROM tfs
         |WHERE term = 'query' ORDER BY doc_id""".stripMargin,
    "ft_q_term" -> termVector,
    // EnglishAnalyzer index: every stem group on this corpus is a single
    // surface form (PorterSpec), so the unstemmed tables carry its stats
    "ft_q_term_stemmed" -> ranked(flat("term = 'merge'")),
    "ft_q_term_rare" -> ranked(flat("term = 'dup'")),
    "ft_q_or" -> ranked(flat(inList("spark", "window"))),
    "ft_q_and" -> ranked(flat(inList("hash", "merge"), "HAVING count(*) = 2")),
    "ft_q_not" -> ranked(flat(
      "term = 'table' AND doc_id NOT IN (SELECT doc_id FROM tfs WHERE term = 'slow')")),
    "ft_q_mm" -> ranked(flat(inList("spark", "stream", "sort"), "HAVING count(*) >= 2")),
    "ft_q_dismax" -> dismax,
    "ft_q_constant_score" -> ranked(
      "SELECT doc_id, CAST(2.5e0 AS REAL) AS s FROM tfs WHERE term = 'vector'"),
    "ft_q_nested" -> nested,
    "ft_q_phrase" -> phraseFastTable,
    // SloppyPhrase's two-slot window walk, one recursive step per cursor
    // advance: the runner (the cursor at the smaller adjusted position)
    // advances while it stays <= the other cursor; when it passes it, the
    // window closed at the previous step (matchLength ml) scores
    // 1/(1 + ml) if ml <= slop, and the cursors swap roles. The runner
    // running out scores the last window. pf accumulates in REAL in
    // discovery order, like the engine's freq.
    "ft_q_phrase_sloppy" -> phrase(
      """WITH RECURSIVE sl AS (
        |  SELECT doc_id, a.xa, b.xb
        |  FROM (SELECT doc_id, list(p ORDER BY p) AS xa FROM pos WHERE t = 'fast' GROUP BY doc_id) a
        |  JOIN (SELECT doc_id, list(p - 1 ORDER BY p) AS xb FROM pos WHERE t = 'merge' GROUP BY doc_id) b
        |  USING (doc_id)
        |), walk(doc_id, ra, i, j, ml, pf, fin) AS (
        |  SELECT doc_id, xa[1] <= xb[1], 1, 1, abs(xa[1] - xb[1]), CAST(0.0e0 AS REAL), false FROM sl
        |  UNION ALL
        |  SELECT doc_id,
        |    CASE WHEN nx > y THEN NOT ra ELSE ra END,
        |    CASE WHEN nx > y THEN j ELSE i + 1 END,
        |    CASE WHEN nx > y THEN i + 1 ELSE j END,
        |    CASE WHEN nx > y THEN nx - y ELSE y - nx END,
        |    CASE WHEN (nx IS NULL OR nx > y) AND ml <= 2
        |      THEN pf + CAST(1.0e0 AS REAL) / CAST(1 + ml AS REAL) ELSE pf END,
        |    nx IS NULL
        |  FROM (SELECT w.*, (CASE WHEN w.ra THEN s.xa ELSE s.xb END)[w.i + 1] AS nx,
        |               (CASE WHEN w.ra THEN s.xb ELSE s.xa END)[w.j] AS y
        |        FROM walk w JOIN sl s USING (doc_id) WHERE NOT w.fin)
        |)
        |SELECT doc_id, pf FROM walk WHERE fin AND pf > 0""".stripMargin, "fast", "merge"),
    // MultiPhrase: weight = idf summed in slot order, ascending term within a slot
    "ft_q_multi_phrase" -> phrase(
      """SELECT a.doc_id, CAST(count(*) AS REAL) AS pf
        |  FROM pos a JOIN pos b ON b.doc_id = a.doc_id AND b.p = a.p + 1
        |  WHERE a.t IN ('fast', 'slow') AND b.t = 'table' GROUP BY a.doc_id""".stripMargin,
      "fast", "slow", "table"),
    "ft_drill_down" -> ranked(flat("term = 'data' AND doc_id IN " +
      "(SELECT doc_id FROM documents WHERE lang = 'en' AND source = 'src3')")),
    "ft_span_near" ->
      s"""$prelude
         |SELECT a.doc_id, count(*) AS matches
         |FROM pos a JOIN pos b ON b.doc_id = a.doc_id AND b.p - a.p BETWEEN 1 AND 3
         |WHERE a.t = 'scan' AND b.t = 'group'
         |GROUP BY a.doc_id ORDER BY a.doc_id""".stripMargin,
    "ft_span_unordered" ->
      s"""$prelude, occ AS (
         |  SELECT doc_id, t, min(p) AS p, count(*) AS c FROM pos
         |  WHERE t IN ('vector', 'merge', 'scan')
         |  GROUP BY doc_id, t
         |), ok AS (
         |  SELECT doc_id FROM occ GROUP BY doc_id
         |  HAVING count(*) = 3 AND max(c) = 1
         |)
         |SELECT o.doc_id, CAST(min(o.p) - 1 AS BIGINT) AS start,
         |       CAST(max(o.p) AS BIGINT) AS "end"
         |FROM occ o JOIN ok USING (doc_id)
         |GROUP BY o.doc_id
         |HAVING max(o.p) - min(o.p) <= 6 + 2
         |ORDER BY doc_id, start, "end"""".stripMargin,
    "ft_span_first" ->
      s"""$prelude
         |SELECT doc_id, CAST(p AS BIGINT) AS p FROM pos
         |WHERE t = 'vector' AND p <= 5 ORDER BY doc_id, p""".stripMargin,
    "ft_span_or_near" ->
      s"""$prelude
         |SELECT a.doc_id, CAST(a.p AS BIGINT) AS start_pos, CAST(b.p AS BIGINT) AS end_pos
         |FROM pos a JOIN pos b ON b.doc_id = a.doc_id AND b.p - a.p BETWEEN 1 AND 2
         |WHERE a.t IN ('fast', 'slow') AND b.t = 'table'
         |ORDER BY a.doc_id, start_pos, end_pos""".stripMargin,
    "ft_engine_term" -> termVector,
    "ft_percolate" ->
      s"""$prelude, m1 AS (
         |  SELECT doc_id FROM tok WHERE term = 'vector'
         |  INTERSECT SELECT doc_id FROM tok WHERE term = 'search'
         |), m2 AS (
         |  SELECT DISTINCT a.doc_id
         |  FROM pos a JOIN pos b ON b.doc_id = a.doc_id AND b.p = a.p + 1
         |  WHERE a.t = 'fast' AND b.t = 'table'
         |), m3 AS (
         |  SELECT doc_id FROM tok WHERE term IN ('spark', 'index', 'merge')
         |  GROUP BY doc_id HAVING count(DISTINCT term) >= 2
         |), m4 AS (
         |  SELECT doc_id FROM tok WHERE term = 'data'
         |  EXCEPT SELECT doc_id FROM tok WHERE term = 'merge'
         |)
         |SELECT doc_id, query_id FROM (
         |  SELECT doc_id, 'and_vector_search' AS query_id FROM m1
         |  UNION ALL SELECT doc_id, 'phrase_fast_table' FROM m2
         |  UNION ALL SELECT doc_id, 'mm2_spark_index_merge' FROM m3
         |  UNION ALL SELECT doc_id, 'data_not_merge' FROM m4
         |) ORDER BY query_id, doc_id""".stripMargin,
    "ft_multi_collector" ->
      s"""$fprelude, hits AS (
         |  SELECT doc_id, s FROM fsc WHERE term = 'vector'
         |), tot AS (
         |  SELECT count(*) AS total_hits, ${qz("CAST(max(s) AS DOUBLE)")} AS max_q
         |  FROM hits
         |)
         |SELECT h.doc_id, ${qz("CAST(h.s AS DOUBLE)")} AS score_q,
         |  t.total_hits, t.max_q
         |FROM hits h CROSS JOIN tot t
         |ORDER BY h.s DESC, h.doc_id LIMIT 10""".stripMargin,
    "ft_engine_or" -> orMergeSparkWindow,
    "ft_engine_wand" -> orMergeSparkWindow,
    "ft_engine_conj" -> ranked(flat(inList("merge", "spark", "window"),
      "HAVING count(*) FILTER (WHERE term IN ('merge', 'spark')) = 2")),
    "ft_engine_nested" -> nested,
    "ft_engine_dismax" -> dismax,
    "ft_engine_phrase" -> phraseFastTable,
    // PayloadTermQuery gates run on the WhitespaceAnalyzer payload index
    // (Gate.indexDirPayload): token = "<term>|<w>", w = ((doc_id + p) % 8 + 1)/2
    // at 1-based position p. All w are multiples of 0.5, so every float32
    // fold below (sum, avg, min) is exact and order-independent; the span
    // kernel mirrors fprelude with freq = 0.5f * tf (TermSpans matchLength 1).
    "ft_engine_payload" ->
      s"""$payprelude, tot AS (
         |  SELECT a.doc_id,
         |    (((i.idf * $k1p1) * (CAST(a.tf AS REAL) * CAST(0.5e0 AS REAL)))
         |      / ((CAST(a.tf AS REAL) * CAST(0.5e0 AS REAL))
         |         + $k1f * (CAST(0.25e0 AS REAL) + (CAST(0.75e0 AS REAL) * ntab.nt) / fs.avgdl)))
         |    * (CAST(a.sumw AS REAL) / CAST(a.tf AS REAL)) AS s
         |  FROM pagg a JOIN pnbt b USING (doc_id) JOIN ntab ON ntab.nb = b.nb
         |  CROSS JOIN pidf i CROSS JOIN pstats fs
         |)
         |SELECT doc_id, ${qz("CAST(s AS DOUBLE)")} AS score_q FROM tot
         |ORDER BY s DESC, doc_id LIMIT 10""".stripMargin,
    "ft_engine_payload_min" ->
      s"""$payprelude
         |SELECT doc_id, ${qz("CAST(CAST(minw AS REAL) AS DOUBLE)")} AS score_q
         |FROM pagg ORDER BY CAST(minw AS REAL) DESC, doc_id LIMIT 10""".stripMargin,
    // PayloadNear ordered slop-0 over 'merge hash': the shrink walk equals
    // the adjacency-pair set here (<= 2 pairs/doc, all positions carry
    // payloads), freq = n * float32(1/3) (n = 1: trivial; n = 2: doubling a
    // float is exact, same bits as the engine's 1/3f + 1/3f), payload Avg
    // over the 2n matched positions' w — exact half sums. Weight: idf sums
    // over BOTH clause terms (SpanWeight multi-term stats).
    "ft_engine_payload_near" ->
      s"""$payprelude, nocc AS (
         |  SELECT a.doc_id, a.p AS pa, b.p AS pb
         |  FROM ppos a JOIN ppos b ON b.doc_id = a.doc_id AND b.p = a.p + 1
         |  WHERE a.t = 'merge' AND b.t = 'hash'
         |), nagg AS (
         |  SELECT doc_id, count(*) AS n,
         |    sum(CAST((doc_id + pa) % 8 + 1 AS DOUBLE) / 2
         |        + CAST((doc_id + pb) % 8 + 1 AS DOUBLE) / 2) AS sumw
         |  FROM nocc GROUP BY doc_id
         |), nidf AS (
         |  SELECT (CAST(ln(1.0 + (fs.n - dm.df + 0.5) / (dm.df + 0.5)) AS REAL)
         |        + CAST(ln(1.0 + (fs.n - dh.df + 0.5) / (dh.df + 0.5)) AS REAL)) AS idf2
         |  FROM (SELECT count(DISTINCT doc_id) AS df FROM ppos WHERE t = 'merge') dm
         |  CROSS JOIN (SELECT count(DISTINCT doc_id) AS df FROM ppos WHERE t = 'hash') dh
         |  CROSS JOIN pstats fs
         |), tot AS (
         |  SELECT a.doc_id,
         |    (((i.idf2 * $k1p1)
         |       * (CAST(a.n AS REAL) * (CAST(1.0e0 AS REAL) / CAST(3.0e0 AS REAL))))
         |      / ((CAST(a.n AS REAL) * (CAST(1.0e0 AS REAL) / CAST(3.0e0 AS REAL)))
         |         + $k1f * (CAST(0.25e0 AS REAL) + (CAST(0.75e0 AS REAL) * ntab.nt) / fs.avgdl)))
         |    * (CAST(a.sumw AS REAL) / CAST(2 * a.n AS REAL)) AS s
         |  FROM nagg a JOIN pnbt b USING (doc_id) JOIN ntab ON ntab.nb = b.nb
         |  CROSS JOIN nidf i CROSS JOIN pstats fs
         |)
         |SELECT doc_id, ${qz("CAST(s AS DOUBLE)")} AS score_q FROM tot
         |ORDER BY s DESC, doc_id LIMIT 10""".stripMargin,
    "ft_q_prefix" -> ranked(flat("term LIKE 's%'")),
    "ft_q_prefix_wide" ->
      s"""$prelude
         |SELECT doc_id, CAST(25000 AS BIGINT) AS score_q
         |FROM tfs WHERE term LIKE 's%'
         |GROUP BY doc_id ORDER BY score_q DESC, doc_id LIMIT 10""".stripMargin,
    // +s* merge: the in-cap prefix under MUST nests as a SHOULD group;
    // clause order: the group's fold, then the optional 'merge'
    "ft_q_must_prefix" -> ranked(
      s"""SELECT g.doc_id, g.s + coalesce(m.s, $fz) AS s
         |FROM (${flat("term LIKE 's%'")}) g
         |LEFT JOIN (SELECT doc_id, s FROM fsc WHERE term = 'merge') m USING (doc_id)""".stripMargin),
    "ft_q_wildcard" -> ranked(flat("term LIKE 'w_ndow'")),
    "ft_q_fuzzy" -> fuzzy(1),
    "ft_q_fuzzy2" -> fuzzy(2),
    // +table -slow fast^2
    "ft_q_parser" -> ranked(
      flat("term IN ('fast', 'table') AND doc_id IN (SELECT doc_id FROM tfs WHERE term = 'table')" +
        " AND doc_id NOT IN (SELECT doc_id FROM tfs WHERE term = 'slow')", from = "bsc"),
      ctes = boosted("VALUES ('fast', CAST(2.0e0 AS REAL)), ('table', CAST(1.0e0 AS REAL))")),
    "ft_q_range" ->
      s"""$prelude
         |SELECT doc_id, count(*) AS nterms FROM tfs
         |WHERE term BETWEEN 'batch' AND 'data'
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "ft_q_absent" -> ranked(flat("term = 'zzz'")),
    "ft_q_paging" ->
      s"""$fprelude
         |SELECT doc_id, ${qz("CAST(s AS DOUBLE)")} AS score_q FROM (
         |  SELECT doc_id, s, row_number() OVER (ORDER BY s DESC, doc_id) AS rn
         |  FROM fsc WHERE term = 'vector'
         |) WHERE rn > 10 AND rn <= 20""".stripMargin,
    "ft_delete" -> ranked(flat("term = 'table' AND doc_id % 7 <> 0")),
    "ft_count_all" -> "SELECT count(*) AS cnt FROM documents",
    "ft_facet_lang" ->
      s"""$prelude
         |SELECT d.lang AS lang, count(*) AS cnt
         |FROM tfs t JOIN documents d USING (doc_id)
         |WHERE t.term = 'spark' GROUP BY d.lang ORDER BY lang""".stripMargin,
    "ft_facet_range" ->
      s"""$prelude
         |SELECT CASE WHEN d.n_chars < 200 THEN '0-200'
         |            WHEN d.n_chars < 300 THEN '200-300'
         |            ELSE '300+' END AS bucket, count(*) AS cnt
         |FROM tfs t JOIN documents d USING (doc_id)
         |WHERE t.term = 'merge' GROUP BY bucket ORDER BY bucket""".stripMargin,
    "ft_group_top" ->
      s"""$fprelude
         |SELECT source, CAST(rn AS BIGINT) AS rn, doc_id,
         |  ${qz("CAST(s AS DOUBLE)")} AS score_q FROM (
         |  SELECT d.source, f.doc_id, f.s,
         |         row_number() OVER (PARTITION BY d.source ORDER BY f.s DESC, f.doc_id) AS rn
         |  FROM fsc f JOIN documents d USING (doc_id) WHERE f.term = 'data'
         |) WHERE rn <= 3 ORDER BY source, rn""".stripMargin,
    "ft_group_distinct" ->
      s"""$prelude, base AS (SELECT DISTINCT doc_id FROM tfs WHERE term = 'data')
         |SELECT d.source AS source, count(*) AS cnt,
         |       count(DISTINCT d.lang) AS n_langs,
         |       array_to_string(list_sort(list(DISTINCT d.lang)), ',') AS langs
         |FROM documents d JOIN base USING (doc_id)
         |GROUP BY d.source ORDER BY source""".stripMargin,
    "ft_group_facet" ->
      s"""$prelude, base AS (SELECT DISTINCT doc_id FROM tfs WHERE term = 'data')
         |SELECT d.lang AS lang, count(DISTINCT d.source) AS n_groups,
         |       count(*) AS doc_cnt
         |FROM documents d JOIN base USING (doc_id)
         |GROUP BY d.lang ORDER BY lang""".stripMargin,
    "ft_group_block" ->
      s"""$fprelude, ranked AS (
         |  SELECT d.source, f.doc_id, f.s,
         |         row_number() OVER (PARTITION BY d.source ORDER BY f.s DESC, f.doc_id) AS rn
         |  FROM fsc f JOIN documents d USING (doc_id) WHERE f.term = 'data'
         |), topdocs AS (SELECT * FROM ranked WHERE rn <= 2),
         |g AS (SELECT source, max(s) AS gs FROM topdocs
         |      GROUP BY source ORDER BY gs DESC, source LIMIT 5)
         |SELECT t.source AS source, ${qz("CAST(g.gs AS DOUBLE)")} AS gmax,
         |       CAST(t.rn AS BIGINT) AS rn, t.doc_id, ${qz("CAST(t.s AS DOUBLE)")} AS score_q
         |FROM topdocs t JOIN g USING (source)
         |ORDER BY g.gs DESC, t.source, t.rn""".stripMargin,
    "ft_sort_field" ->
      s"""$prelude
         |SELECT d.doc_id, d.n_chars FROM documents d
         |WHERE d.doc_id IN (SELECT doc_id FROM tfs WHERE term = 'stream')
         |ORDER BY d.n_chars DESC, d.doc_id LIMIT 10""".stripMargin,
    "ft_sort_early" ->
      """SELECT doc_id, n_chars FROM documents
        |ORDER BY n_chars DESC, doc_id LIMIT 20""".stripMargin,
    "ft_facet_sum" ->
      s"""$prelude
         |SELECT d.lang AS lang, CAST(sum(d.n_chars) AS BIGINT) AS sum_chars,
         |       count(*) AS cnt
         |FROM documents d
         |WHERE d.doc_id IN (SELECT doc_id FROM tfs WHERE term = 'spark')
         |GROUP BY d.lang ORDER BY lang""".stripMargin,
    "ft_facet_tree" ->
      s"""$prelude, base AS (
         |  SELECT DISTINCT doc_id FROM tfs WHERE term = 'index'
         |), j AS (
         |  SELECT d.lang, d.source FROM documents d JOIN base USING (doc_id)
         |), child AS (
         |  SELECT lang, source, count(*) AS cnt FROM j GROUP BY lang, source
         |), ranked AS (
         |  SELECT lang || '/' || source AS path, cnt,
         |         CAST(row_number() OVER (PARTITION BY lang
         |                                 ORDER BY cnt DESC, source) AS BIGINT) AS rn
         |  FROM child
         |)
         |SELECT * FROM (
         |  SELECT lang AS path, CAST(sum(cnt) AS BIGINT) AS cnt,
         |         CAST(0 AS BIGINT) AS rn
         |  FROM child GROUP BY lang
         |  UNION ALL
         |  SELECT path, cnt, rn FROM ranked WHERE rn <= 3
         |) ORDER BY path, rn""".stripMargin,
    "ft_drill_sideways" ->
      s"""$prelude, base AS (
         |  SELECT DISTINCT doc_id FROM tfs WHERE term = 'data'
         |), j AS (
         |  SELECT d.* FROM documents d JOIN base USING (doc_id)
         |)
         |SELECT * FROM (
         |  SELECT 'lang' AS dim, lang AS value, count(*) AS cnt
         |  FROM j WHERE source = 'src3' GROUP BY lang
         |  UNION ALL
         |  SELECT 'source' AS dim, source AS value, count(*) AS cnt
         |  FROM j WHERE lang = 'en' GROUP BY source
         |) ORDER BY dim, value""".stripMargin,
    "ft_high_freq_terms" ->
      s"$prelude SELECT term, df, ttf FROM dfs ORDER BY df DESC, term LIMIT 10",
    "ft_suggest" ->
      s"""$prelude
         |SELECT term, CAST(levenshtein(term, 'tabel') AS BIGINT) AS dist, df
         |FROM dfs WHERE levenshtein(term, 'tabel') <= 2
         |ORDER BY dist, df DESC, term LIMIT 5""".stripMargin,
    "ft_suggest_prefix" ->
      s"""$prelude
         |SELECT term, ttf AS weight FROM dfs
         |WHERE term LIKE 'pro%'
         |ORDER BY weight DESC, term LIMIT 8""".stripMargin,
    "ft_suggest_free" ->
      s"""$prelude, big AS (
         |  SELECT a.doc_id, a.t AS w1, b.t AS w2
         |  FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 1
         |)
         |SELECT w2 AS next, count(*) AS cnt FROM big WHERE w1 = 'time'
         |GROUP BY w2 ORDER BY cnt DESC, next LIMIT 8""".stripMargin,
    "ft_explain" ->
      s"""$fprelude, parts AS (
         |  SELECT t.doc_id, t.term, t.tf, d.df, b.nb, i.idf,
         |    (CAST(t.tf AS REAL) * $k1p1) / (CAST(t.tf AS REAL) + r.c) AS tfnorm, f.s AS sc0
         |  FROM tfs t JOIN dfs d USING (term) JOIN fidf i USING (term)
         |  JOIN nbt b USING (doc_id) JOIN fnorm r USING (doc_id) JOIN fsc f USING (doc_id, term)
         |  WHERE t.term IN ('table', 'value')
         |), top1 AS (
         |  SELECT doc_id, ${fold("sc0")} AS tot FROM parts GROUP BY doc_id
         |  ORDER BY tot DESC, doc_id LIMIT 1
         |)
         |SELECT p.doc_id, p.term, CAST(p.tf AS BIGINT) AS tf, p.df,
         |       CAST(p.nb AS BIGINT) AS nb,
         |       ${qz("CAST(p.idf AS DOUBLE)")} AS idf_q, ${qz("CAST(p.tfnorm AS DOUBLE)")} AS tfnorm_q,
         |       ${qz("CAST(p.sc0 AS DOUBLE)")} AS clause_q, ${qz("CAST(t.tot AS DOUBLE)")} AS total_q
         |FROM parts p JOIN top1 t USING (doc_id)
         |ORDER BY term""".stripMargin,
    "ft_suggest_jaro" ->
      s"""$prelude
         |SELECT term,
         |       CAST(floor(jaro_winkler_similarity(term, 'tabel') * 10000 + 0.5) AS BIGINT) AS jw_q
         |FROM dfs ORDER BY jw_q DESC, term LIMIT 5""".stripMargin,
    "ft_suggest_fuzzy" ->
      s"""$prelude
         |SELECT term, ttf AS weight FROM dfs
         |WHERE levenshtein(substring(term, 1, 3), 'pro') <= 1
         |ORDER BY weight DESC, term LIMIT 8""".stripMargin,
    "ft_highlight_multi" ->
      s"""$fprelude, top AS (
         |  SELECT doc_id FROM fsc WHERE term = 'vector' ORDER BY s DESC, doc_id LIMIT 3
         |), occ AS (
         |  SELECT p.doc_id, p.p AS pos,
         |         row_number() OVER (PARTITION BY p.doc_id ORDER BY p.p) AS rn
         |  FROM pos p JOIN top USING (doc_id) WHERE p.t = 'vector'
         |)
         |SELECT o.doc_id, CAST(o.pos AS BIGINT) AS pos,
         |       array_to_string(l[o.pos:o.pos + 2], ' ') AS snippet
         |FROM occ o JOIN splits USING (doc_id)
         |WHERE o.rn <= 3 ORDER BY doc_id, pos""".stripMargin,
    "ft_q_regexp" -> ranked(flat("regexp_matches(term, '^w.ndow$')")),
    "ft_join" ->
      s"""$prelude
         |SELECT d2.source AS source, count(*) AS cnt
         |FROM documents d2
         |WHERE d2.source IN (
         |  SELECT DISTINCT d.source FROM tfs t JOIN documents d USING (doc_id)
         |  WHERE t.term = 'dup')
         |GROUP BY d2.source ORDER BY source""".stripMargin,
    "ft_join_score" ->
      s"""$fprelude, fromside AS (
         |  SELECT doc_id, ${qz("CAST(s AS DOUBLE)")} AS sq FROM fsc WHERE term = 'dup'
         |), f AS (
         |  SELECT d.source, fs.sq FROM fromside fs JOIN documents d USING (doc_id)
         |), agg AS (
         |  SELECT source, min(sq) AS min_q, max(sq) AS max_q,
         |         CAST(sum(sq) AS BIGINT) AS sum_q, count(*) AS from_hits
         |  FROM f GROUP BY source
         |)
         |SELECT a.source AS source, t.to_docs, a.min_q, a.max_q, a.sum_q,
         |       CAST(floor(CAST(a.sum_q AS DOUBLE) / a.from_hits + 0.5) AS BIGINT) AS avg_q,
         |       a.from_hits
         |FROM agg a
         |JOIN (SELECT source, count(*) AS to_docs FROM documents GROUP BY source) t
         |  USING (source)
         |ORDER BY source""".stripMargin,
    "ft_block_join" ->
      s"""$fprelude
         |SELECT d.source AS source, ${qz("CAST(max(f.s) AS DOUBLE)")} AS max_q, count(*) AS hits
         |FROM fsc f JOIN documents d USING (doc_id) WHERE f.term = 'vector'
         |GROUP BY d.source ORDER BY max(f.s) DESC, source LIMIT 5""".stripMargin,
    // MoreLikeThis of doc 0: its top 5 terms by float32 tf * idf, then term
    "ft_more_like_this" -> ranked(flat("term IN (SELECT term FROM mlt) AND doc_id <> 0"),
      ctes = """, mlt AS (
               |  SELECT t.term FROM tfs t JOIN fidf i USING (term) WHERE t.doc_id = 0
               |  ORDER BY CAST(t.tf AS REAL) * i.idf DESC, t.term LIMIT 5
               |)""".stripMargin),
    "ft_rescore" ->
      s"""$fprelude, first AS (
         |  SELECT doc_id, ${qz("CAST(s AS DOUBLE)")} AS score_q FROM fsc WHERE term = 'query'
         |  ORDER BY s DESC, doc_id LIMIT 20
         |)
         |SELECT f.doc_id, CAST(f.score_q + d.n_chars AS BIGINT) AS rescore
         |FROM first f JOIN documents d USING (doc_id)
         |ORDER BY rescore DESC, doc_id LIMIT 10""".stripMargin,
    // CommonTermsQuery: a MUST group of the low-df terms (df <= 0.79 N),
    // then an optional SHOULD group of the high-df ones, each folded by term
    "ft_common_terms" -> ranked(
      s"""SELECT l.doc_id, l.s + coalesce(h.s, $fz) AS s
         |FROM g l LEFT JOIN g h ON h.doc_id = l.doc_id AND NOT h.low
         |WHERE l.low""".stripMargin,
      ctes = s""", g AS (
         |  SELECT f.doc_id, d.df <= 0.79 * st.n AS low, ${fold("f.s")} AS s
         |  FROM fsc f JOIN dfs d USING (term) CROSS JOIN st
         |  WHERE term IN ('dup', 'batch', 'key') GROUP BY f.doc_id, low
         |)""".stripMargin),
    "ft_highlight" ->
      s"""$fprelude, top AS (
         |  SELECT doc_id FROM fsc WHERE term = 'vector' ORDER BY s DESC, doc_id LIMIT 5
         |), firstpos AS (
         |  SELECT p.doc_id, min(p.p) AS pos FROM pos p JOIN top USING (doc_id)
         |  WHERE p.t = 'vector' GROUP BY p.doc_id
         |)
         |SELECT f.doc_id, CAST(f.pos AS BIGINT) AS pos,
         |       array_to_string(l[f.pos:f.pos + 3], ' ') AS snippet
         |FROM firstpos f JOIN splits USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "ft_postings_offsets" ->
      s"""$prelude, tpos AS ($tposSql)
         |SELECT doc_id, count(*) AS tf,
         |  min_by(start_off, p) AS first_start,
         |  CAST(min_by(start_off + length(t), p) AS BIGINT) AS first_end
         |FROM tpos
         |WHERE t = 'vector'
         |GROUP BY doc_id
         |ORDER BY doc_id LIMIT 25""".stripMargin,
    "ft_term_vector" ->
      s"""$prelude, tpos AS ($tposSql)
         |SELECT doc_id, t AS term, count(*) AS tf,
         |  CAST(min(p) - 1 AS BIGINT) AS first_pos,
         |  min_by(start_off, p) AS first_start,
         |  CAST(min_by(start_off, p) + length(t) AS BIGINT) AS first_end
         |FROM tpos
         |WHERE doc_id IN (0, 1, 2)
         |  AND t <> '' AND length(t) <= 255 AND t NOT IN ($stop)
         |GROUP BY doc_id, t
         |ORDER BY doc_id, term""".stripMargin,
    "ft_highlight_offsets" ->
      s"""$fprelude, tpos AS ($tposSql), top AS (
         |  SELECT doc_id FROM fsc WHERE term = 'vector' ORDER BY s DESC, doc_id LIMIT 5
         |), first AS (
         |  SELECT doc_id, min(p) AS p FROM tpos
         |  WHERE t = 'vector' GROUP BY doc_id
         |)
         |SELECT t.doc_id, o.start_off,
         |  CAST(o.start_off + length(o.t) AS BIGINT) AS end_off,
         |  substr(d.text, CAST(o.start_off + 1 AS INT), 25) AS snippet
         |FROM top t
         |JOIN first f USING (doc_id)
         |JOIN tpos o ON o.doc_id = t.doc_id AND o.p = f.p
         |JOIN documents d ON d.doc_id = t.doc_id
         |ORDER BY t.doc_id""".stripMargin,
    "dedup_exact" ->
      """SELECT c AS cnt, count(*) AS groups FROM (
        |  SELECT md5(text) AS h, count(*) AS c FROM documents GROUP BY h
        |) GROUP BY c ORDER BY c""".stripMargin,
    "dedup_minhash" ->
      s"""${mhChain(recursive = false)}
         |SELECT d1, d2, ${qz("CAST(i AS DOUBLE) / (sa.sz + sb.sz - i)")} AS jaccard_q
         |FROM inter
         |JOIN sizes sa ON sa.doc_id = d1
         |JOIN sizes sb ON sb.doc_id = d2
         |WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.8
         |ORDER BY d1, d2""".stripMargin,
    "sim_int8_topk" ->
      s"""WITH e AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
         |  FROM embeddings
         |), m AS (
         |  SELECT vec_id, ev, list_max(list_transform(ev, x -> abs(x))) AS mx FROM e
         |), qv AS (
         |  SELECT vec_id,
         |    list_transform(ev, x -> CAST(floor(x * 127.0 / mx + 0.5) AS BIGINT)) AS qe
         |  FROM m WHERE mx > 0
         |), qq AS (
         |  SELECT qe AS q0 FROM qv WHERE vec_id = 0
         |), d AS (
         |  SELECT vec_id,
         |    list_sum(list_transform(range(1, len(qe) + 1), i -> qe[i] * q0[i])) AS dot,
         |    sqrt(list_sum(list_transform(qe, x -> CAST(x * x AS DOUBLE)))) AS ne,
         |    sqrt((SELECT list_sum(list_transform(q0, x -> CAST(x * x AS DOUBLE))) FROM qq)) AS nq
         |  FROM qv CROSS JOIN qq
         |)
         |SELECT vec_id, CAST(dot AS BIGINT) AS idot,
         |  ${qz("CAST(dot AS DOUBLE) / (ne * nq)")} AS cos_q
         |FROM d ORDER BY cos_q DESC, vec_id LIMIT 10""".stripMargin,
    "ann_pq" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
        |  FROM embeddings
        |), sub AS (
        |  SELECT vec_id, j, list_slice(ev, j * 8 + 1, j * 8 + 8) AS sv
        |  FROM e CROSS JOIN (SELECT unnest(range(0, 8)) AS j)
        |), cent AS (
        |  SELECT CAST(vec_id - 1 AS INT) AS c, j, sv AS cv
        |  FROM sub WHERE vec_id BETWEEN 1 AND 16
        |), dists AS (
        |  SELECT s.vec_id, s.j, c.c,
        |    list_sum(list_transform(range(1, 9),
        |      i -> (s.sv[i] - c.cv[i]) * (s.sv[i] - c.cv[i]))) AS d2
        |  FROM sub s JOIN cent c ON c.j = s.j
        |), codes AS (
        |  SELECT vec_id, j, c FROM (
        |    SELECT vec_id, j, c,
        |      row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, c) AS rn
        |    FROM dists
        |  ) WHERE rn = 1
        |), qt AS (
        |  SELECT j, c, CAST(floor(d2 * 1000.0 + 0.5) AS BIGINT) AS qd
        |  FROM dists WHERE vec_id = 0
        |)
        |SELECT codes.vec_id, CAST(sum(qt.qd) AS BIGINT) AS adist_q
        |FROM codes JOIN qt ON qt.j = codes.j AND qt.c = codes.c
        |GROUP BY codes.vec_id
        |ORDER BY adist_q, vec_id LIMIT 10""".stripMargin,
    "pack_sequences" ->
      """WITH t AS (
        |  SELECT doc_id, source, len(string_split(text, ' ')) AS tok FROM documents
        |), b AS (
        |  SELECT source, doc_id, tok,
        |    coalesce(sum(tok) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2048 AS bin
        |  FROM t
        |), g AS (
        |  SELECT source, bin, count(*) AS docs, CAST(sum(tok) AS BIGINT) AS toks
        |  FROM b GROUP BY source, bin
        |)
        |SELECT source, count(*) AS bins, CAST(max(docs) AS BIGINT) AS max_docs,
        |  CAST(sum(toks) AS BIGINT) AS total_toks,
        |  CAST(sum(bin * docs) AS BIGINT) AS checksum
        |FROM g GROUP BY source ORDER BY source""".stripMargin,
    "sample_stratified" ->
      """SELECT lang, count(*) AS total,
        |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS sampled,
        |  CAST(sum(CASE WHEN keep THEN doc_id ELSE 0 END) AS BIGINT) AS id_checksum
        |FROM (
        |  SELECT doc_id, lang,
        |    substr(md5('s1|' || CAST(doc_id AS VARCHAR)), 1, 4) <
        |      (CASE WHEN lang = 'en' THEN '4000'
        |            WHEN lang = 'fr' THEN '8000' ELSE 'g' END) AS keep
        |  FROM documents
        |) GROUP BY lang ORDER BY lang""".stripMargin,
    "text_metaphone" -> {
      // expected keys come straight from the reference's DoubleMetaphone2Test
      // vectors (the slate is shared with the engine gate, which reads only
      // the words and must re-derive the keys)
      val rows = Gate.metaphoneSlate
        .map { case (w, p, a) => s"('$w', '$p', '$a')" }
        .mkString(",\n|       ")
      s"""SELECT * FROM (VALUES
         |       $rows
         |) AS t(word, dm_primary, dm_alternate)
         |ORDER BY word""".stripMargin
    },
    "text_phonetic" -> {
      // expected keys verbatim from the reference's NysiisTest /
      // RefinedSoundexTest / Caverphone2Test vectors; the engine gate reads
      // only (encoder, word) and must re-derive them
      val rows = Gate.phoneticSlate
        .map { case (e, w, k) => s"('$e', '$w', '$k')" }
        .mkString(",\n|       ")
      s"""SELECT * FROM (VALUES
         |       $rows
         |) AS t(encoder, word, key)
         |ORDER BY encoder, word""".stripMargin
    },
    "text_soundex" ->
      s"""$prelude, sdx AS (
         |  SELECT term, df, CASE WHEN u = '' THEN '' ELSE
         |      substr(substr(u, 1, 1) || replace(substr(cl, 2), '0', '') || '000', 1, 4)
         |    END AS key
         |  FROM (
         |    SELECT term, df, u,
         |      regexp_replace(regexp_replace(regexp_replace(regexp_replace(
         |      regexp_replace(regexp_replace(regexp_replace(
         |        translate(substr(u, 1, 1) || translate(substr(u, 2), 'HW', ''),
         |          'ABCDEFGHIJKLMNOPQRSTUVWXYZ', '01230120022455012623010202'),
         |        '0+', '0', 'g'), '1+', '1', 'g'), '2+', '2', 'g'), '3+', '3', 'g'),
         |        '4+', '4', 'g'), '5+', '5', 'g'), '6+', '6', 'g') AS cl
         |    FROM (SELECT term, df, regexp_replace(upper(term), '[^A-Z]', '', 'g') AS u
         |          FROM dfs)
         |  )
         |)
         |SELECT key, count(*) AS n_terms, CAST(sum(df) AS BIGINT) AS sum_df
         |FROM sdx WHERE key <> ''
         |GROUP BY key ORDER BY n_terms DESC, sum_df DESC, key LIMIT 10""".stripMargin,
    "dedup_groups" ->
      s"""${mhChain(recursive = true)}, pairs AS (
         |  SELECT d1, d2 FROM inter
         |  JOIN sizes sa ON sa.doc_id = d1
         |  JOIN sizes sb ON sb.doc_id = d2
         |  WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.8
         |), sym AS (
         |  SELECT d1 AS v1, d2 AS v2 FROM pairs
         |  UNION ALL SELECT d2, d1 FROM pairs
         |), reach AS (
         |  SELECT v1 AS v, v1 AS r FROM sym
         |  UNION
         |  SELECT s.v2 AS v, reach.r FROM reach JOIN sym s ON s.v1 = reach.v
         |)
         |SELECT root, count(*) AS size FROM (
         |  SELECT v, min(r) AS root FROM reach GROUP BY v
         |) GROUP BY root ORDER BY root""".stripMargin,
    "dedup_ngram_jaccard" ->
      s"""$prelude, sh AS (
         |  SELECT DISTINCT a.doc_id, a.t || ' ' || b.t || ' ' || c.t AS s
         |  FROM pos a
         |  JOIN pos b ON b.doc_id = a.doc_id AND b.p = a.p + 1
         |  JOIN pos c ON c.doc_id = a.doc_id AND c.p = a.p + 2
         |), marked AS (
         |  SELECT DISTINCT doc_id AS d1 FROM tfs WHERE term = 'dup'
         |), sizes AS (
         |  SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
         |), inter AS (
         |  SELECT m.d1, y.doc_id AS d2, count(*) AS i
         |  FROM marked m
         |  JOIN sh x ON x.doc_id = m.d1
         |  JOIN sh y ON y.s = x.s AND y.doc_id <> m.d1
         |  GROUP BY m.d1, y.doc_id
         |)
         |SELECT d1, d2, ${qz("CAST(i AS DOUBLE) / (sa.sz + sb.sz - i)")} AS jaccard_q
         |FROM inter
         |JOIN sizes sa ON sa.doc_id = d1
         |JOIN sizes sb ON sb.doc_id = d2
         |WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.8
         |ORDER BY d1, d2""".stripMargin,
    "dedup_simhash" ->
      s"""$prelude, sh AS (
         |  SELECT DISTINCT a.doc_id, a.t || ' ' || b.t || ' ' || c.t AS s
         |  FROM pos a
         |  JOIN pos b ON b.doc_id = a.doc_id AND b.p = a.p + 1
         |  JOIN pos c ON c.doc_id = a.doc_id AND c.p = a.p + 2
         |), hv AS (
         |  SELECT doc_id, md5(s) AS h FROM sh
         |), hvv AS (
         |  SELECT doc_id,
         |    CAST((instr('0123456789abcdef', substr(h, 1, 1)) - 1) * 268435456
         |       + (instr('0123456789abcdef', substr(h, 2, 1)) - 1) * 16777216
         |       + (instr('0123456789abcdef', substr(h, 3, 1)) - 1) * 1048576
         |       + (instr('0123456789abcdef', substr(h, 4, 1)) - 1) * 65536
         |       + (instr('0123456789abcdef', substr(h, 5, 1)) - 1) * 4096
         |       + (instr('0123456789abcdef', substr(h, 6, 1)) - 1) * 256
         |       + (instr('0123456789abcdef', substr(h, 7, 1)) - 1) * 16
         |       + (instr('0123456789abcdef', substr(h, 8, 1)) - 1) AS BIGINT) AS vhi,
         |    CAST((instr('0123456789abcdef', substr(h, 9, 1)) - 1) * 268435456
         |       + (instr('0123456789abcdef', substr(h, 10, 1)) - 1) * 16777216
         |       + (instr('0123456789abcdef', substr(h, 11, 1)) - 1) * 1048576
         |       + (instr('0123456789abcdef', substr(h, 12, 1)) - 1) * 65536
         |       + (instr('0123456789abcdef', substr(h, 13, 1)) - 1) * 4096
         |       + (instr('0123456789abcdef', substr(h, 14, 1)) - 1) * 256
         |       + (instr('0123456789abcdef', substr(h, 15, 1)) - 1) * 16
         |       + (instr('0123456789abcdef', substr(h, 16, 1)) - 1) AS BIGINT) AS vlo
         |  FROM hv
         |), votes AS (
         |  SELECT doc_id, r.b AS b,
         |    sum(CASE WHEN ((CASE WHEN r.b < 32 THEN vhi ELSE vlo END)
         |                   // CAST(power(2, r.b % 32) AS BIGINT)) % 2 = 1
         |        THEN 1 ELSE -1 END) AS vt
         |  FROM hvv CROSS JOIN (SELECT unnest(range(0, 64)) AS b) r
         |  GROUP BY doc_id, r.b
         |), sigs AS (
         |  SELECT doc_id,
         |    CAST(sum(CASE WHEN vt > 0 AND b < 32 THEN CAST(power(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS sighi,
         |    CAST(sum(CASE WHEN vt > 0 AND b >= 32 THEN CAST(power(2, b - 32) AS BIGINT) ELSE 0 END) AS BIGINT) AS siglo
         |  FROM votes GROUP BY doc_id
         |), marked AS (
         |  SELECT DISTINCT doc_id AS d1 FROM tfs WHERE term = 'dup'
         |)
         |SELECT m.d1, s2.doc_id AS d2,
         |       CAST(bit_count(xor(s1.sighi, s2.sighi)) + bit_count(xor(s1.siglo, s2.siglo)) AS BIGINT) AS hamming
         |FROM marked m
         |JOIN sigs s1 ON s1.doc_id = m.d1
         |CROSS JOIN sigs s2
         |WHERE s2.doc_id <> m.d1
         |  AND bit_count(xor(s1.sighi, s2.sighi)) + bit_count(xor(s1.siglo, s2.siglo)) <= 3
         |ORDER BY d1, d2""".stripMargin,
    "ann_lsh" ->
      s"""WITH e AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
         |  FROM embeddings
         |), pl AS (
         |  SELECT p.p AS p, j.j AS j,
         |    (instr('0123456789abcdef', substr(md5(CAST(p.p AS VARCHAR) || '|' || CAST(j.j AS VARCHAR)), 1, 1)) - 1) * 16 +
         |    (instr('0123456789abcdef', substr(md5(CAST(p.p AS VARCHAR) || '|' || CAST(j.j AS VARCHAR)), 2, 1)) - 1) - 127.5 AS w
         |  FROM (SELECT unnest(range(0, 16)) AS p) p
         |  CROSS JOIN (SELECT unnest(range(0, (SELECT len(embedding) FROM embeddings LIMIT 1))) AS j) j
         |), dots AS (
         |  SELECT e.vec_id, pl.p, sum(e.ev[pl.j + 1] * pl.w) AS dot
         |  FROM e CROSS JOIN pl GROUP BY e.vec_id, pl.p
         |), buck AS (
         |  SELECT vec_id,
         |    CAST(sum(CASE WHEN dot >= 0 THEN CAST(power(2, p) AS BIGINT) ELSE 0 END) AS BIGINT) AS b
         |  FROM dots GROUP BY vec_id
         |), q AS (
         |  SELECT e.ev AS qv, buck.b AS qb FROM e JOIN buck USING (vec_id) WHERE vec_id = 0
         |), cand AS (
         |  SELECT e.vec_id, e.ev FROM e JOIN buck USING (vec_id) CROSS JOIN q
         |  WHERE bit_count(xor(buck.b, q.qb)) <= 3 AND e.vec_id <> 0
         |), d AS (
         |  SELECT c.vec_id,
         |    list_sum(list_transform(range(1, len(c.ev) + 1), i -> c.ev[i] * q.qv[i])) AS dot,
         |    sqrt(list_sum(list_transform(c.ev, x -> x * x))) AS ne,
         |    sqrt(list_sum(list_transform(q.qv, x -> x * x))) AS nq
         |  FROM cand c CROSS JOIN q
         |)
         |SELECT vec_id, ${qz("dot / (ne * nq)")} AS cos_q
         |FROM d ORDER BY cos_q DESC, vec_id LIMIT 5""".stripMargin,
    "text_quality" ->
      s"""$prelude, raws AS (
         |  SELECT doc_id, CAST(len(l) AS BIGINT) AS raw_tokens FROM splits
         |), dts AS (
         |  SELECT doc_id, count(DISTINCT term) AS distinct_terms FROM tok GROUP BY doc_id
         |)
         |SELECT d.doc_id, l.len AS tokens, coalesce(dt.distinct_terms, 0) AS distinct_terms,
         |       r.raw_tokens,
         |       ${qz("(r.raw_tokens - l.len) * 1.0 / r.raw_tokens")} AS stop_ratio_q
         |FROM documents d
         |JOIN lens l USING (doc_id)
         |JOIN raws r USING (doc_id)
         |LEFT JOIN dts dt USING (doc_id)
         |ORDER BY doc_id LIMIT 100""".stripMargin,
    "text_langid" ->
      s"""WITH h AS (
         |  SELECT doc_id,
         |    CAST(len(list_filter(string_split(text, ' '), t -> t IN ('der','die','das','und','ist','nicht'))) AS BIGINT) AS de_hits,
         |    CAST(len(list_filter(string_split(text, ' '), t -> t IN ('the','a','and','is','of','to'))) AS BIGINT) AS en_hits,
         |    CAST(len(list_filter(string_split(text, ' '), t -> t IN ('el','los','que','es','una','por'))) AS BIGINT) AS es_hits,
         |    CAST(len(list_filter(string_split(text, ' '), t -> t IN ('le','les','est','une','dans','pour'))) AS BIGINT) AS fr_hits,
         |    CAST(len(list_filter(string_split(text, ' '), t -> t IN ('的','是','了','在','和','有'))) AS BIGINT) AS zh_hits
         |  FROM documents
         |)
         |SELECT doc_id, de_hits, en_hits, es_hits, fr_hits, zh_hits,
         |  CASE WHEN greatest(de_hits, en_hits, es_hits, fr_hits, zh_hits) = 0 THEN 'und'
         |       WHEN de_hits = greatest(de_hits, en_hits, es_hits, fr_hits, zh_hits) THEN 'de'
         |       WHEN en_hits = greatest(de_hits, en_hits, es_hits, fr_hits, zh_hits) THEN 'en'
         |       WHEN es_hits = greatest(de_hits, en_hits, es_hits, fr_hits, zh_hits) THEN 'es'
         |       WHEN fr_hits = greatest(de_hits, en_hits, es_hits, fr_hits, zh_hits) THEN 'fr'
         |       ELSE 'zh' END AS pred_lang
         |FROM h ORDER BY doc_id LIMIT 200""".stripMargin,
    "text_fingerprint" ->
      s"""$prelude, sh AS (
         |  SELECT a.doc_id, a.p, md5(a.t || ' ' || b.t || ' ' || c.t) AS h
         |  FROM pos a
         |  JOIN pos b ON b.doc_id = a.doc_id AND b.p = a.p + 1
         |  JOIN pos c ON c.doc_id = a.doc_id AND c.p = a.p + 2
         |), wins AS (
         |  SELECT doc_id, p,
         |    min(h) OVER (PARTITION BY doc_id ORDER BY p
         |                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
         |    max(p) OVER (PARTITION BY doc_id) AS mp
         |  FROM sh
         |)
         |SELECT DISTINCT doc_id, fp FROM wins WHERE p <= mp - 3
         |ORDER BY doc_id, fp""".stripMargin,
    "text_token_bpe" ->
      s"""SELECT doc_id,
         |  CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0)) AS BIGINT) AS ws_tokens,
         |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS bpe_tokens
         |FROM documents ORDER BY doc_id LIMIT 200""".stripMargin,
    "dedup_embedding" ->
      s"""WITH e AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
         |  FROM embeddings
         |), pl AS (
         |  SELECT p.p AS p, j.j AS j,
         |    (instr('0123456789abcdef', substr(md5(CAST(p.p AS VARCHAR) || '|' || CAST(j.j AS VARCHAR)), 1, 1)) - 1) * 16 +
         |    (instr('0123456789abcdef', substr(md5(CAST(p.p AS VARCHAR) || '|' || CAST(j.j AS VARCHAR)), 2, 1)) - 1) - 127.5 AS w
         |  FROM (SELECT unnest(range(0, 32)) AS p) p
         |  CROSS JOIN (SELECT unnest(range(0, (SELECT len(embedding) FROM embeddings LIMIT 1))) AS j) j
         |), dots AS (
         |  SELECT e.vec_id, pl.p, sum(e.ev[pl.j + 1] * pl.w) AS dot
         |  FROM e CROSS JOIN pl GROUP BY e.vec_id, pl.p
         |), buck AS (
         |  SELECT vec_id,
         |    CAST(sum(CASE WHEN dot >= 0 THEN CAST(power(2, p) AS BIGINT) ELSE 0 END) AS BIGINT) AS b
         |  FROM dots GROUP BY vec_id
         |), bands AS (
         |  SELECT buck.vec_id, k.k AS band,
         |    (buck.b // CAST(power(2, 8 * k.k) AS BIGINT)) % 256 AS bits
         |  FROM buck CROSS JOIN (SELECT unnest(range(0, 4)) AS k) k
         |), cand AS (
         |  SELECT DISTINCT a.vec_id AS d1, b.vec_id AS d2
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bits = b.bits AND a.vec_id < b.vec_id
         |), cosd AS (
         |  SELECT c.d1, c.d2,
         |    list_sum(list_transform(range(1, len(x.ev) + 1), i -> x.ev[i] * y.ev[i])) /
         |    (sqrt(list_sum(list_transform(x.ev, v -> v * v))) *
         |     sqrt(list_sum(list_transform(y.ev, v -> v * v)))) AS cos
         |  FROM cand c JOIN e x ON x.vec_id = c.d1 JOIN e y ON y.vec_id = c.d2
         |)
         |SELECT d1, d2, ${qz("cos")} AS cos_q FROM cosd WHERE cos >= 0.3
         |ORDER BY d1, d2""".stripMargin,
    "ann_ivf" ->
      s"""WITH e AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
         |  FROM embeddings
         |), c AS (
         |  SELECT vec_id AS cid, ev AS cv FROM e
         |  WHERE vec_id BETWEEN 1 AND
         |    (SELECT greatest(8, CAST(ceil(sqrt(count(*))) AS BIGINT)) FROM embeddings)
         |), dist AS (
         |  SELECT e.vec_id, c.cid,
         |    list_sum(list_transform(range(1, len(e.ev) + 1),
         |      i -> (e.ev[i] - c.cv[i]) * (e.ev[i] - c.cv[i]))) AS d2
         |  FROM e CROSS JOIN c
         |), assign AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
         |    FROM dist) WHERE rn = 1
         |), probes AS (
         |  SELECT cid FROM dist WHERE vec_id = 0 ORDER BY d2, cid LIMIT 3
         |), q AS (
         |  SELECT ev AS qv FROM e WHERE vec_id = 0
         |), cand AS (
         |  SELECT e.vec_id, e.ev FROM e JOIN assign USING (vec_id)
         |  WHERE assign.cid IN (SELECT cid FROM probes) AND e.vec_id <> 0
         |), d AS (
         |  SELECT c.vec_id,
         |    list_sum(list_transform(range(1, len(c.ev) + 1), i -> c.ev[i] * q.qv[i])) AS dot,
         |    sqrt(list_sum(list_transform(c.ev, x -> x * x))) AS ne,
         |    sqrt(list_sum(list_transform(q.qv, x -> x * x))) AS nq
         |  FROM cand c CROSS JOIN q
         |)
         |SELECT vec_id, ${qz("dot / (ne * nq)")} AS cos_q
         |FROM d ORDER BY cos_q DESC, vec_id LIMIT 5""".stripMargin,
    "ft_analyze_expr" ->
      s"""$prelude, firsts AS (
         |  SELECT doc_id, arg_min(t, p) AS first_term
         |  FROM pos WHERE t <> '' AND length(t) <= 255 AND t NOT IN ($stop)
         |  GROUP BY doc_id
         |)
         |SELECT d.doc_id, l.len AS n_terms, f.first_term
         |FROM documents d
         |JOIN lens l USING (doc_id)
         |LEFT JOIN firsts f USING (doc_id)
         |ORDER BY d.doc_id LIMIT 100""".stripMargin,
    "multimodal_meta" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        |  md5(text) AS checksum,
        |  hex(encode(substring(text, 1, 1))) || hex(encode(substring(text, 17, 1)))
        |    || hex(encode(substring(text, 33, 1))) || hex(encode(substring(text, 49, 1)))
        |    AS frame_sample
        |FROM documents ORDER BY doc_id LIMIT 100""".stripMargin,
    "sim_topk" ->
      s"""WITH q AS (
         |  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
         |  FROM embeddings WHERE vec_id = 0
         |), e AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
         |  FROM embeddings
         |), d AS (
         |  SELECT vec_id,
         |    list_sum(list_transform(range(1, len(ev) + 1), i -> ev[i] * qv[i])) AS dot,
         |    sqrt(list_sum(list_transform(ev, x -> x * x))) AS ne,
         |    sqrt((SELECT list_sum(list_transform(qv, x -> x * x)) FROM q)) AS nq
         |  FROM e CROSS JOIN q
         |)
         |SELECT vec_id, ${qz("dot / (ne * nq)")} AS cos_q
         |FROM d ORDER BY cos_q DESC, vec_id LIMIT 10""".stripMargin,
    "sessionize" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS tus FROM events
        |), lagd AS (
        |  SELECT user_id,
        |         tus - lag(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS gap
        |  FROM ev
        |)
        |SELECT user_id, CAST(1 + sum(CASE WHEN gap > 1800000000 THEN 1 ELSE 0 END) AS BIGINT) AS sessions
        |FROM lagd GROUP BY user_id ORDER BY user_id""".stripMargin
  )
}
