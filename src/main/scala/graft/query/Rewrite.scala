package graft.query

/** MultiTermQuery rewrite: lower multi-term leaves against a term dictionary,
  * with the reference's rewrite-method selection
  * (/root/reference/src/Lucene.Net/Search/MultiTermQuery.cs:65-121):
  *
  *  - expansions within [[maxExpansions]] use SCORING_BOOLEAN_QUERY_REWRITE
  *    (weighted term clauses; fuzzy ranks its top-N boost heap,
  *    TopTermsRewrite.cs);
  *  - expansions PAST the cap switch to the constant-score filter rewrite
  *    (ConstantScoreAutoRewrite.cs:263): the leaf stays unexpanded, wrapped
  *    as [[Query.ConstantScore]] and executed as a term_id docset filter —
  *    no term list reaches the plan;
  *  - an in-cap expansion under MUST nests as a SHOULD group inside the
  *    boolean (BooleanQuery.cs rewrite of a MultiTermQuery clause), executed
  *    by the nested-group engine path; under MUST_NOT the flat union stays
  *    sound (excluding the union).
  *
  * Every leaf resolves against the view's driver-side dictionaries
  * ([[IndexView.expand]], [[IndexView.fuzzyTop]]) — one segment or the
  * merged union across segments, so expansions are identical wherever the
  * terms live. An expansion asks for UP TO cap+1 terms; the +1 signals an
  * overflow to [[harden]].
  */
private[graft] object Rewrite {

  /** Rewrite-method switch point (the reference's term-count cut-over,
    * ConstantScoreAutoRewrite.DefaultTermCountCutoff scaled to the clause
    * cap); `graft.rewrite.maxExpansions` overrides (tests/gates).
    */
  def maxExpansions: Int =
    sys.props.get("graft.rewrite.maxExpansions").map(_.toInt)
      .getOrElse(Query.MaxClauseCount)

  /** Multi-term leaves that lower to a term-dictionary predicate (fuzzy is
    * excluded — its top-N heap self-caps the expansion).
    */
  def isMultiTerm(q: Query): Boolean = q match {
    case _: Query.Prefix | _: Query.Wildcard | _: Query.Regexp |
         _: Query.TermRange => true
    case _ => false
  }

  /** The boost of a multi-term leaf. */
  def boost(q: Query): Float = q match {
    case Query.Prefix(_, b) => b
    case Query.Wildcard(_, b) => b
    case Query.Regexp(_, b) => b
    case Query.TermRange(_, _, _, _, b) => b
    case other => throw new IllegalArgumentException(s"not a multi-term query: $other")
  }

  /** The weighted terms of a multi-term or fuzzy leaf; None past the cap.
    * Fuzzy keeps its top-N ([[IndexView.fuzzyTop]]) with boost = clause
    * boost * (1 - d/min(|candidate|,|query|)). Ranking by the double
    * similarity is identical to the float32 boost ordering because the
    * rationals 1 - d/m (d <= 2, m <= 255) are spaced >= 1/65025, far wider
    * than either rounding.
    */
  def expansion(view: IndexView, q: Query): Option[Seq[(String, Float)]] = q match {
    case f: Query.Fuzzy =>
      Some(view.fuzzyTop(f).map { case (t, d) =>
        (t, f.boost * (1.0f - d.toFloat / math.min(t.length, f.term.length)))
      })
    case mt =>
      val ts = view.expand(mt, maxExpansions + 1)
      if (ts.size > maxExpansions) None else Some(ts.map((_, boost(mt))))
  }

  /** Rewrite-method pre-pass over a boolean's clauses (see object doc).
    * Returns None when a MUST clause provably matches nothing (empty
    * expansion) — conjunction semantics empty the whole query.
    */
  def harden(view: IndexView,
             cs: Seq[(Query.Occur, Query)]): Option[Seq[(Query.Occur, Query)]] = {
    val out = cs.map {
      case (occ, q) if isMultiTerm(q) || occ == Query.Must && q.isInstanceOf[Query.Fuzzy] =>
        expansion(view, q) match {
          case None => (occ, Query.ConstantScore(q, boost(q)))
          case Some(exp) if occ == Query.Must =>
            if (exp.isEmpty) return None
            (occ, Query.BoolQ(exp.map { case (t, b) =>
              (Query.Should: Query.Occur, Query.Term(t, b): Query) }))
          case _ => (occ, q)
        }
      case c => c
    }
    Some(out)
  }

  /** Lower hardened clauses to weighted flat term clauses (SCORING_BOOLEAN
    * semantics). Callers run [[harden]] first — by then every remaining
    * multi-term leaf is within the cap and none sits under MUST.
    */
  def clauses(view: IndexView,
              cs: Seq[(Query.Occur, Query)]): Seq[(String, Query.Occur, Float)] =
    cs.flatMap {
      case (occ, Query.Term(t, b)) => Seq((t, occ, b))
      case (occ, q) if isMultiTerm(q) || q.isInstanceOf[Query.Fuzzy] =>
        expansion(view, q).getOrElse(throw new IllegalStateException(
          s"flat lowering of an over-cap expansion — caller must harden() first: $q"))
          .map { case (t, b) => (t, occ, b) }
      case (_, other) =>
        throw new IllegalStateException(
          s"clause not executable in a flat boolean — caller must harden() first: $other")
    }
}
