package graft.query

/** Query algebra over the index — the analog of the reference's Query tree
  * (/root/reference/src/Lucene.Net/Search/BooleanQuery.cs, TermQuery.cs).
  * Multi-term expansion queries (prefix/wildcard/regexp/fuzzy/range) rewrite
  * to weighted term disjunctions against the term dictionary at search time
  * (MultiTermQuery rewrite semantics,
  * /root/reference/src/Lucene.Net/Search/MultiTermQuery.cs:65-121).
  */
sealed trait Query

object Query {
  final val MaxClauseCount = 1024 // BooleanQuery.MaxClauseCount guard

  /** Clause occurrence (BooleanClause.Occur). */
  sealed trait Occur
  case object Must extends Occur
  case object Should extends Occur
  case object MustNot extends Occur

  final case class Term(term: String, boost: Float = 1.0f) extends Query

  /** Flat unweighted boolean over analyzed terms (the original v0 shape;
    * still the common fast path).
    */
  final case class Bool(
      must: Seq[String] = Nil,
      should: Seq[String] = Nil,
      mustNot: Seq[String] = Nil,
      minShouldMatch: Int = 0) extends Query

  /** General boolean with per-clause occurrence. Clauses may be flat
    * leaves (Term / multi-term rewrites) or NESTED queries (BoolQ groups,
    * Phrase, MultiPhrase — BooleanQuery-in-BooleanQuery semantics,
    * /root/reference/src/Lucene.Net/Search/BooleanQuery.cs). `boost`
    * multiplies the group's summed score (BooleanQuery.Boost).
    *
    * Float32 canonical order: an all-flat boolean sums clause scores in
    * ascending term_id (the v0 contract, shared with the oracle); a
    * boolean containing nested sub-queries sums in CLAUSE order at each
    * nesting level, each child's score computed under its own canonical
    * order first — both deterministic, both mirrored bit-for-bit by the
    * BruteForce oracle.
    */
  final case class BoolQ(clauses: Seq[(Occur, Query)],
                         minShouldMatch: Int = 0,
                         boost: Float = 1.0f) extends Query

  /** Positional phrase query scored from the postings positions index.
    *
    * slop = 0 is the reference's exact phrase (conjunction + position
    * alignment, freq = number of alignments,
    * /root/reference/src/Lucene.Net/Search/ExactPhraseScorer.cs:237-349).
    * slop > 0 (any arity, repeats included) runs the reference's window walk
    * (see [[SloppyPhrase]]): minimal windows scored SloppyFreq =
    * 1/(matchLength+1)
    * (/root/reference/src/Lucene.Net/Search/Similarities/BM25Similarity.cs:74-77,
    * match loop + repetition machinery SloppyPhraseScorer.cs; goldens
    * TestSloppyPhraseQuery.cs). Multi-term (MultiPhrase) sloppy slots stay
    * unsupported.
    */
  final case class Phrase(terms: Seq[String], slop: Int = 0,
                          boost: Float = 1.0f) extends Query

  /** MultiPhraseQuery: a phrase where each position slot accepts any of
    * several terms (/root/reference/src/Lucene.Net/Search/MultiPhraseQuery.cs).
    * Scored like Phrase with the weight = summed idf over every alternative
    * present in the dictionary (slot order, then ascending term_id within a
    * slot — the documented canonical float order); a slot with no surviving
    * alternative matches nothing. slop > 0 runs the [[SloppyPhrase]] window
    * walk over the per-slot position UNIONS (UnionDocsAndPositionsEnum
    * cursor semantics), including the reference's hidden-collision
    * machinery for partially overlapping slot term sets
    * (SloppyPhraseScorer.InitFirstTime multi-term repeats — see
    * [[SloppyPhrase]]).
    */
  final case class MultiPhrase(slots: Seq[Seq[String]], slop: Int = 0,
                               boost: Float = 1.0f) extends Query

  /** ConstantScoreQuery: every matching doc of the wrapped query scores
    * exactly `boost` (/root/reference/src/Lucene.Net/Search/ConstantScoreQuery.cs).
    */
  final case class ConstantScore(query: Query, boost: Float = 1.0f) extends Query

  /** PayloadTermQuery (/root/reference/src/Lucene.Net/Search/Payloads/
    * PayloadTermQuery.cs): a term query whose score folds the per-occurrence
    * payloads through `func`:
    *
    *   spanScore    = BM25 with freq = SUM over occurrences of
    *                  sloppyFreq(1) = 0.5f each (TermSpans windows are
    *                  [pos, pos+1), so matchLength is always 1 —
    *                  PayloadTermQuery.cs:101-104)
    *   payloadScore = func-fold over occurrences that CARRY a stored payload
    *                  (IsPayloadAvailable gates ProcessPayload and the no-
    *                  payload else branch is empty, PayloadTermQuery.cs:
    *                  117-143 — a bare position neither folds nor counts
    *                  toward payloadsSeen); factor = the float-decoded
    *                  4-byte payload (the PayloadHelper.DecodeSingle setup
    *                  of the reference payload test suite,
    *                  /root/reference/src/Lucene.Net.Tests/Search/Payloads/
    *                  PayloadHelper.cs; stock BM25Similarity.ScorePayload
    *                  would constant-fold to 1), 1f for other lengths;
    *                  zero payload-carrying occurrences => payloadScore 1
    *                  (each PayloadFunction.DocScore's numPayloadsSeen == 0
    *                  arm)
    *   score        = spanScore * payloadScore when includeSpanScore,
    *                  else payloadScore alone (PayloadTermQuery.cs:133-135)
    *
    * Requires an index built with IndexBuilder.Options(payloads = true).
    */
  final case class PayloadTerm(term: String, func: PayloadFunc = PayloadFunc.Avg,
                               includeSpanScore: Boolean = true,
                               boost: Float = 1.0f) extends Query

  /** PayloadNearQuery (/root/reference/src/Lucene.Net/Search/Payloads/
    * PayloadNearQuery.cs): a SpanNear over TERM clauses whose score is
    *
    *   spanScore    = BM25 with freq = SUM over the scorer's match stream of
    *                  sloppyFreq(end - start) = 1f/(end - start + 1)
    *                  (PayloadNearQuery.cs:289-297; BM25Similarity.cs:74-77).
    *                  The match stream is the reference iterator's — ordered
    *                  emits shrink-to-shortest matches, unordered the
    *                  CellQueue frontier passes ([[PayloadSpans]]) — NOT the
    *                  exhaustive span set.
    *   payloadScore = func-fold of the payloads stored at the matched clause
    *                  positions, in collection order; bare positions
    *                  contribute nothing; zero payloads seen => 1
    *                  (PayloadNearQuery.cs:228-276)
    *   score        = spanScore * payloadScore (always both —
    *                  PayloadNearQuery.cs:300-303)
    *
    * Weight: idf sums over all clause terms (SpanWeight's multi-term
    * ComputeWeight), boost applied once. Requires payloads = true AND
    * positions = true at build time.
    */
  final case class PayloadNear(terms: Seq[String], slop: Int, inOrder: Boolean,
                               func: PayloadFunc = PayloadFunc.Avg,
                               boost: Float = 1.0f) extends Query

  /** Payload fold (PayloadFunction.cs subclasses). */
  sealed trait PayloadFunc extends Serializable
  object PayloadFunc {
    case object Avg extends PayloadFunc // AveragePayloadFunction.cs
    case object Min extends PayloadFunc // MinPayloadFunction.cs
    case object Max extends PayloadFunc // MaxPayloadFunction.cs
  }

  /** DisjunctionMaxQuery: score = max(clause scores) + tieBreaker * (sum of
    * the others), float32
    * (/root/reference/src/Lucene.Net/Search/DisjunctionMaxScorer.cs:60:
    * `scoreMax + (scoreSum - scoreMax) * tieBreakerMultiplier`). Canonical
    * float order: the sum folds in CLAUSE order (the reference's heap-walk
    * order is structure-dependent; clause order is our deterministic
    * contract, mirrored by the oracle).
    */
  final case class DisMax(clauses: Seq[Query], tieBreaker: Float = 0.0f,
                          boost: Float = 1.0f) extends Query

  /** MatchAllDocsQuery: every live doc scores exactly `boost`
    * (/root/reference/src/Lucene.Net/Search/MatchAllDocsQuery.cs).
    */
  final case class MatchAll(boost: Float = 1.0f) extends Query

  /** PrefixQuery (/root/reference/src/Lucene.Net/Search/PrefixQuery.cs). */
  final case class Prefix(prefix: String, boost: Float = 1.0f) extends Query

  /** WildcardQuery `*`/`?` glob
    * (/root/reference/src/Lucene.Net/Search/WildcardQuery.cs).
    */
  final case class Wildcard(pattern: String, boost: Float = 1.0f) extends Query

  /** RegexpQuery over the term dictionary; the pattern matches the WHOLE
    * term (/root/reference/src/Lucene.Net/Search/RegexpQuery.cs).
    */
  final case class Regexp(pattern: String, boost: Float = 1.0f) extends Query

  /** FuzzyQuery: Levenshtein <= maxEdits (2 like the reference default,
    * /root/reference/src/Lucene.Net/Search/FuzzyQuery.cs:58), rewritten to
    * the top-`maxExpansions` matching terms ranked by similarity
    * `1 - d/|term|` (FuzzyTermsEnum.cs:270) — the TopTermsRewrite boost heap.
    */
  final case class Fuzzy(term: String, maxEdits: Int = 2, boost: Float = 1.0f,
                         maxExpansions: Int = 50) extends Query

  /** TermRangeQuery (/root/reference/src/Lucene.Net/Search/TermRangeQuery.cs:45). */
  final case class TermRange(lo: String, hi: String, includeLo: Boolean = true,
                             includeHi: Boolean = true, boost: Float = 1.0f) extends Query

  // -------------------------------------------------------------------------
  // Classic query-parser syntax (recursive descent over the JavaCC grammar's
  // surface: /root/reference/src/Lucene.Net.QueryParser/Classic/QueryParser.cs:104,
  // clause loop :137-229; builders QueryParserBase.cs:445-498 (field/phrase),
  // :479 (range), :750 (wildcard), :784 (regexp)).
  //
  // Supported: bare/`+`/`-` clauses, AND/OR/NOT (&&/||/!), `field:term` (the
  // single indexed field is `text`), quoted phrases with `~slop`, trailing-`*`
  // prefix, `*`/`?` wildcards, `~`/`~1`/`~2` fuzzy, `[a TO b]`/`{a TO b}`
  // ranges, `^boost`, and parenthesized groups with optional `^boost`
  // (nested boolean groups, executed recursively — see [[BoolQ]]).
  // -------------------------------------------------------------------------

  private val FieldName = "text"

  /** Parse a classic-syntax query string into an executable Query. Terms are
    * analyzed with the same chain as indexing (GetFieldQuery semantics); a
    * single-clause boolean collapses to its leaf (BooleanQuery.cs:539-562).
    */
  def parse(q: String): Query = {
    val s = q
    val n = s.length
    var i = 0
    def ws(c: Char) = c == ' ' || c == '\t' || c == '\n' || c == '\r'
    def readNumber(): Float = {
      val start = i
      while (i < n && (s(i).isDigit || s(i) == '.')) i += 1
      require(i > start, s"expected number at offset $start in: $q")
      s.substring(start, i).toFloat
    }

    /** One clause list, ending at end-of-input or (when depth > 0) at the
      * group's closing ')' — QueryParserBase's recursive group production
      * (/root/reference/src/Lucene.Net.QueryParser/Classic/QueryParserBase.cs:445).
      */
    def parseClauses(depth: Int): Seq[(Occur, Query)] = {
    val clauses = new scala.collection.mutable.ArrayBuffer[(Occur, Query)]()
    var pendingOccur: Option[Occur] = None
    var pendingConj: Option[String] = None
    var pendingNot = false

    def addClause(leaf: Query): Unit = {
      // classic conjunction semantics: AND promotes the PREVIOUS default-
      // SHOULD clause to MUST and makes this one MUST (unless a +/-/NOT
      // modifier already decided); OR leaves both SHOULD.
      val occ = pendingOccur.getOrElse {
        if (pendingNot) MustNot
        else if (pendingConj.contains("AND")) Must
        else Should
      }
      if (pendingConj.contains("AND") && clauses.nonEmpty) {
        val (lastOcc, lastQ) = clauses.last
        if (lastOcc == Should) clauses(clauses.size - 1) = (Must, lastQ)
      }
      clauses += ((occ, leaf))
      pendingOccur = None
      pendingConj = None
      pendingNot = false
    }

    var done = false
    while (i < n && !done) {
      val c = s(i)
      if (ws(c)) i += 1
      else if (c == ')') {
        require(depth > 0, s"unbalanced ')' at offset $i in: $q")
        done = true // caller consumes the ')'
      }
      else if (c == '(') {
        i += 1
        val sub = parseClauses(depth + 1)
        require(i < n && s(i) == ')', s"unterminated group in: $q")
        i += 1
        var boost = 1.0f
        if (i < n && s(i) == '^') { i += 1; boost = readNumber() }
        sub match {
          case Seq() => // empty group (all stopwords): clause vanishes
            pendingOccur = None; pendingConj = None; pendingNot = false
          case Seq((Should, leaf)) if boost == 1.0f => addClause(leaf)
          case cs => addClause(BoolQ(cs, 0, boost))
        }
      }
      else if (c == '+' && i + 1 < n && !ws(s(i + 1))) { pendingOccur = Some(Must); i += 1 }
      else if (c == '-' && i + 1 < n && !ws(s(i + 1))) { pendingOccur = Some(MustNot); i += 1 }
      else if (c == '!' && i + 1 < n && !ws(s(i + 1))) { pendingNot = true; i += 1 }
      else if (c == '"') {
        i += 1
        val start = i
        while (i < n && s(i) != '"') i += 1
        require(i < n, s"unterminated phrase in: $q")
        val body = s.substring(start, i)
        i += 1
        var slop = 0
        if (i < n && s(i) == '~') { i += 1; slop = readNumber().toInt }
        var boost = 1.0f
        if (i < n && s(i) == '^') { i += 1; boost = readNumber() }
        val terms = graft.analysis.Analyzer.terms(body).toSeq
        terms.size match {
          case 0 => // all stopwords: contributes nothing (reference drops it)
          case 1 => addClause(Term(terms.head, boost))
          case _ => addClause(Phrase(terms, slop, boost))
        }
      }
      else if (c == '[' || c == '{') {
        val includeLo = c == '['
        i += 1
        val start = i
        while (i < n && s(i) != ']' && s(i) != '}') i += 1
        require(i < n, s"unterminated range in: $q")
        val includeHi = s(i) == ']'
        val body = s.substring(start, i).trim
        i += 1
        var boost = 1.0f
        if (i < n && s(i) == '^') { i += 1; boost = readNumber() }
        val parts = body.split("\\s+TO\\s+")
        require(parts.length == 2, s"range must be [a TO b] in: $q")
        addClause(TermRange(parts(0).toLowerCase, parts(1).toLowerCase,
          includeLo, includeHi, boost))
      }
      else {
        // bare word (may carry field:, wildcards, ~fuzzy, ^boost)
        val start = i
        while (i < n && !ws(s(i)) && s(i) != '^' && s(i) != '~' && s(i) != '"' &&
          s(i) != '[' && s(i) != '{' && s(i) != '(' && s(i) != ')') i += 1
        var word = s.substring(start, i)
        var fuzzyEdits = -1
        if (i < n && s(i) == '~') {
          i += 1
          fuzzyEdits =
            if (i < n && s(i).isDigit) readNumber().toInt else 2 // default ~2
        }
        var boost = 1.0f
        if (i < n && s(i) == '^') { i += 1; boost = readNumber() }
        word match {
          case "AND" | "&&" => pendingConj = Some("AND")
          case "OR" | "||"  => pendingConj = Some("OR")
          case "NOT"        => pendingNot = true
          case _ =>
            val colon = word.indexOf(':')
            if (colon >= 0) {
              val f = word.substring(0, colon)
              require(f == FieldName, s"unknown field '$f' (only '$FieldName' is indexed)")
              word = word.substring(colon + 1)
            }
            if (fuzzyEdits >= 0)
              addClause(Fuzzy(word.toLowerCase, fuzzyEdits, boost))
            else if (word.contains("*") || word.contains("?")) {
              val lw = word.toLowerCase
              if (lw.endsWith("*") && !lw.dropRight(1).exists(ch => ch == '*' || ch == '?'))
                addClause(Prefix(lw.dropRight(1), boost))
              else addClause(Wildcard(lw, boost))
            } else {
              // analyze like the field; a word that tokenizes to several terms
              // keeps ONE resolved occurrence for all of them
              // (QueryParserBase.GetFieldQuery non-quoted multi-token behavior)
              val toks = graft.analysis.Analyzer.terms(word)
              if (toks.nonEmpty) {
                addClause(Term(toks.head, boost))
                val occ = clauses.last._1
                toks.tail.foreach(t => clauses += ((occ, Term(t, boost))))
              } else {
                // all-stopword token: clause vanishes; modifiers are consumed
                pendingOccur = None
                pendingNot = false
              }
            }
        }
      }
    }
    require(clauses.size <= MaxClauseCount, s"too many clauses (> $MaxClauseCount)")
    clauses.toSeq
    }

    val top = parseClauses(0)
    top match {
      case Seq((Should, leaf)) => leaf // single-clause collapse
      case cs                  => BoolQ(cs)
    }
  }
}
