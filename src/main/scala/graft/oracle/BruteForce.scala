package graft.oracle

import graft.analysis.Analyzer
import graft.codec.SmallFloat
import graft.query.{Query, Rewrite}
import graft.score.Bm25
import scala.collection.mutable

/** In-memory exact BM25 searcher over raw (doc_id, text) pairs — the
  * dual-implementation oracle (CheckHits analog,
  * /root/reference/src/Lucene.Net.TestFramework/Search/CheckHits.cs:40).
  * Shares the Bm25 kernel and Analyzer with the distributed engine, so the
  * engine must be rank- and score-bit-identical, stronger than the
  * reference's 1e-3 tolerance.
  */
final class BruteForce(docs: Seq[(Long, String)],
                       similarity: graft.score.Similarity = graft.score.Bm25Similarity) {

  private val positions: Seq[(Long, mutable.HashMap[String, mutable.ArrayBuffer[Int]], Int)] =
    docs.map { case (id, t) => val (tp, len) = Analyzer.termPositions(t); (id, tp, len) }

  private val analyzed: Seq[(Long, mutable.HashMap[String, Int], Int)] =
    positions.map { case (id, tp, len) =>
      (id, tp.map { case (t, ps) => t -> ps.length }, len)
    }

  val maxDoc: Long = docs.size.toLong
  val sumTtf: Long = analyzed.map(_._3.toLong).sum
  private val df: Map[String, Long] =
    analyzed.flatMap(_._2.keys).groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
  private val ttf: Map[String, Long] =
    analyzed.flatMap(_._2).groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2.toLong).sum }
  private val collStats = graft.model.CollectionStats(maxDoc, maxDoc, sumTtf, df.values.sum)
  /** Dense term ids by ascending term — same contract as the index build. */
  val termIds: Map[String, Long] = df.keys.toSeq.sorted.zipWithIndex
    .map { case (t, i) => t -> i.toLong }.toMap

  def search(q: Query, k: Int): Seq[(Long, Float)] =
    scoreAll(q).sortBy { case (id, s) => (-s, id) }.take(k)

  private def isNested(q: Query): Boolean = q match {
    case _: Query.BoolQ | _: Query.Bool | _: Query.Phrase |
         _: Query.MultiPhrase | _: Query.ConstantScore |
         _: Query.DisMax | _: Query.MatchAll => true
    case _ => false
  }

  /** ALL matching docs with scores — the recursion mirror of the engine's
    * Searcher.scoreAll (same canonical float orders: flat levels ascending
    * term_id, nested levels clause order, group boost last).
    */
  private def scoreAll(q: Query): Seq[(Long, Float)] = q match {
    case Query.Term(t, boost) => runClauses(Seq((t, Query.Should, boost)), 0)
    case b: Query.Bool =>
      runClauses(
        b.must.map(t => (t, Query.Must: Query.Occur, 1.0f)) ++
          b.should.map(t => (t, Query.Should: Query.Occur, 1.0f)) ++
          b.mustNot.map(t => (t, Query.MustNot: Query.Occur, 1.0f)),
        b.minShouldMatch)
    case p: Query.Phrase => runPositional(p.terms.map(Seq(_)), p.slop, p.boost)
    case mp: Query.MultiPhrase => runPositional(mp.slots, mp.slop, mp.boost)
    case Query.MatchAll(boost) => (0L until maxDoc).map(id => (id, boost))
    case dm: Query.DisMax =>
      // DisjunctionMaxScorer: max + tieBreaker * rest, sum in clause order
      val kids: Seq[Map[Long, Float]] = dm.clauses.map(scoreAll(_).toMap)
      val docs = kids.flatMap(_.keys).distinct.sorted
      docs.map { id =>
        var sum = 0.0f
        var mx = Float.NegativeInfinity
        kids.foreach(_.get(id).foreach { s => sum += s; if (s > mx) mx = s })
        val sc = mx + (sum - mx) * dm.tieBreaker
        (id, if (dm.boost == 1.0f) sc else dm.boost * sc)
      }
    case Query.ConstantScore(mt, boost) if Rewrite.isMultiTerm(mt) =>
      // constant-score filter: docs containing ANY matching term, score = boost
      val ts = expandMulti(mt).toSet
      analyzed.collect {
        case (id, tf, _) if tf.keysIterator.exists(ts.contains) => (id, boost)
      }
    case Query.ConstantScore(sub, boost) =>
      scoreAll(sub).map { case (id, _) => (id, boost) }
    case bq0: Query.BoolQ =>
      harden(bq0.clauses) match {
        case None => Nil
        case Some(cs) =>
          val bq = Query.BoolQ(cs, bq0.minShouldMatch, bq0.boost)
          if (bq.clauses.exists(c => isNested(c._2))) runNested(bq)
          else {
            val flat = runClauses(rewrite(bq.clauses), bq.minShouldMatch)
            if (bq.boost == 1.0f) flat
            else flat.map { case (id, s) => (id, bq.boost * s) }
          }
      }
    case leaf => scoreAll(Query.BoolQ(Seq((Query.Should, leaf))))
  }

  /** Vocabulary expansion of a multi-term leaf (term list only). */
  private def expandMulti(q: Query): Seq[String] = {
    val vocab = df.keys.toSeq.sorted
    q match {
      case Query.Prefix(p, _)   => vocab.filter(_.startsWith(p))
      case Query.Wildcard(w, _) =>
        val re = ("\\Q" + w.replace("*", "\\E.*\\Q").replace("?", "\\E.\\Q") + "\\E").r
        vocab.filter(t => re.pattern.matcher(t).matches())
      case Query.Regexp(re, _)  => vocab.filter(_.matches(re))
      case Query.TermRange(lo, hi, il, ih, _) =>
        vocab.filter { t =>
          (if (il) t >= lo else t > lo) && (if (ih) t <= hi else t < hi)
        }
      case other => throw new IllegalArgumentException(s"not multi-term: $other")
    }
  }

  /** Mirror of [[graft.query.Rewrite.harden]] over the oracle's vocabulary:
    * over-cap expansions become constant-score filters, in-cap expansions
    * under MUST nest as SHOULD groups, fuzzy under MUST nests its top-N.
    */
  private def harden(cs: Seq[(Query.Occur, Query)]): Option[Seq[(Query.Occur, Query)]] = {
    val cap = Rewrite.maxExpansions
    val out = cs.map {
      case (occ, mt) if Rewrite.isMultiTerm(mt) =>
        val ts = expandMulti(mt)
        if (ts.size > cap) (occ, Query.ConstantScore(mt, Rewrite.boost(mt)))
        else if (occ == Query.Must) {
          if (ts.isEmpty) return None
          (Query.Must: Query.Occur,
            Query.BoolQ(ts.map(t =>
              (Query.Should: Query.Occur, Query.Term(t, Rewrite.boost(mt)): Query))): Query)
        } else (occ, mt)
      case (Query.Must, f: Query.Fuzzy) =>
        val exp = fuzzyTop(f)
        if (exp.isEmpty) return None
        (Query.Must: Query.Occur,
          Query.BoolQ(exp.map { case (t, b) =>
            (Query.Should: Query.Occur, Query.Term(t, b): Query) }): Query)
      case c => c
    }
    Some(out)
  }

  private def fuzzyTop(f: Query.Fuzzy): Seq[(String, Float)] = {
    val lev = org.apache.commons.text.similarity.LevenshteinDistance.getDefaultInstance
    df.keys.toSeq.sorted.flatMap { t =>
      val d = lev.apply(t, f.term).intValue()
      if (d <= f.maxEdits)
        Some((t, 1.0f - d.toFloat / math.min(t.length, f.term.length)))
      else None
    }
      .sortBy { case (t, sim) => (-sim, t) }
      .take(f.maxExpansions)
      .map { case (t, sim) => (t, f.boost * sim) }
  }

  private def runNested(bq: Query.BoolQ): Seq[(Long, Float)] = {
    val kids: Seq[(Query.Occur, Map[Long, Float])] =
      bq.clauses.map { case (occ, sub) => (occ, scoreAll(sub).toMap) }
    val nMust = bq.clauses.count(_._1 == Query.Must)
    val docs = kids.flatMap(_._2.keys).distinct.sorted
    docs.flatMap { id =>
      var mustSeen = 0
      var shouldSeen = 0
      var excluded = false
      var score = 0.0f
      kids.foreach { case (occ, m) => // clause order = the nested canonical
        m.get(id).foreach { s =>
          if (occ == Query.MustNot) excluded = true
          else {
            if (occ == Query.Must) mustSeen += 1 else shouldSeen += 1
            score += s
          }
        }
      }
      if (!excluded && mustSeen == nMust && shouldSeen >= bq.minShouldMatch &&
        (mustSeen + shouldSeen) > 0)
        Some((id, if (bq.boost == 1.0f) score else bq.boost * score))
      else None
    }
  }

  /** In-memory MultiTermQuery rewrite over the oracle's own vocabulary —
    * the same expansion/ranking contract as [[graft.query.Rewrite.clauses]]
    * (callers run [[harden]] first, so no MUST-side or over-cap leaves
    * remain here).
    */
  private def rewrite(clauses: Seq[(Query.Occur, Query)]): Seq[(String, Query.Occur, Float)] = {
    def expansion(q: Query): Seq[(String, Float)] = q match {
      case mt if Rewrite.isMultiTerm(mt) => expandMulti(mt).map((_, Rewrite.boost(mt)))
      case f: Query.Fuzzy => fuzzyTop(f)
      case other =>
        throw new IllegalStateException(
          s"clause not executable in a flat boolean — harden() first: $other")
    }
    clauses.flatMap {
      case (occ, Query.Term(t, b)) => Seq((t, occ, b))
      case (occ, q) => expansion(q).map { case (t, b) => (t, occ, b) }
    }
  }

  /** Exact/sloppy phrase + multi-phrase oracle (same semantics contract as
    * [[graft.query.Query.Phrase]] / [[graft.query.Query.MultiPhrase]]): freq
    * from the per-doc position lists (a slot = sorted-distinct union of its
    * alternatives), weight = summed idf in canonical slot/term_id order,
    * scored with the shared Bm25 kernel.
    */
  private def runPositional(slots: Seq[Seq[String]], slop: Int,
                            boost: Float): Seq[(Long, Float)] = {
    val slotTerms: Seq[Seq[String]] =
      slots.map(_.filter(df.contains).distinct.sortBy(termIds))
    if (slotTerms.exists(_.isEmpty)) return Nil
    var idfSum = 0.0f
    slotTerms.foreach(_.foreach(t => idfSum += Bm25.idf(df(t), maxDoc)))
    val weightValue = Bm25.weightValue(idfSum, boost)
    val cache = Bm25.buildCache(Bm25.avgFieldLength(sumTtf, maxDoc))
    // slot term identities for multi-term repeat (hidden-collision) detection
    val slotTermIds: Array[Array[Int]] = {
      val ord = slotTerms.flatten.distinct.zipWithIndex.toMap
      slotTerms.map(_.map(ord).toArray).toArray
    }
    val out = positions.flatMap { case (id, tp, len) =>
      val cp: Seq[Array[Int]] = slotTerms.map { ts =>
        ts.flatMap(t => tp.getOrElse(t, Nil)).distinct.sorted.toArray
      }
      if (cp.exists(_.isEmpty)) None
      else {
        var pf = 0.0f
        if (slop == 0) {
          var c = 0
          cp.head.foreach { p0 =>
            if (cp.indices.drop(1).forall(i =>
              java.util.Arrays.binarySearch(cp(i), p0 + i) >= 0)) c += 1
          }
          pf = c.toFloat
        } else {
          pf = graft.query.SloppyPhrase.freq(cp.toArray, slop, slotTermIds)
        }
        if (pf > 0.0f)
          Some((id, Bm25.score(weightValue, pf, cache, SmallFloat.encodeNorm(len))))
        else None
      }
    }
    out
  }

  private def runClauses(clauses: Seq[(String, Query.Occur, Float)],
                         mm0: Int): Seq[(Long, Float)] = {
    val must = clauses.collect { case (t, Query.Must, _) => t }.distinct
    val shouldAll = clauses.collect { case (t, Query.Should, _) => t }.distinct
    val should = shouldAll.filterNot(must.contains)
    // MUST-duplicated SHOULD terms credit minShouldMatch (engine contract,
    // see Searcher.clausesScoreAll)
    val mm = math.max(0, mm0 - shouldAll.count(must.contains))
    val mustNot = clauses.collect { case (t, Query.MustNot, _) => t }.distinct.toSet
    val boosts: Map[String, Float] =
      clauses.filter(_._2 != Query.MustNot).groupBy(_._1).map { case (t, cs) => t -> cs.head._3 }
    if (must.exists(t => !df.contains(t))) return Nil
    val pos = (must ++ should).filter(df.contains)
    if (pos.isEmpty) return Nil
    val mustSet = must.toSet
    val weights: Seq[(String, graft.score.Similarity.TermScorer)] = pos
      .sortBy(t => termIds(t)) // canonical ascending-term_id clause order
      .map(t => t -> similarity.termScorer(df(t), ttf(t), collStats, boosts(t)))
    val out = analyzed.flatMap { case (id, tf, len) =>
      if (mustNot.exists(tf.contains)) None
      else {
        val nb = SmallFloat.encodeNorm(len)
        var mustSeen = 0
        var shouldSeen = 0
        var score = 0.0f
        weights.foreach { case (t, w) =>
          tf.get(t).foreach { f =>
            if (mustSet.contains(t)) mustSeen += 1 else shouldSeen += 1
            score += w.score(f.toFloat, nb)
          }
        }
        val ok = mustSeen == mustSet.count(df.contains) && mustSeen == must.size &&
          shouldSeen >= mm && (mustSeen + shouldSeen) > 0
        if (ok) Some((id, score)) else None
      }
    }
    out
  }
}
