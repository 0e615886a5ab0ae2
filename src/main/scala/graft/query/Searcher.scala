package graft.query

import graft.codec.{PostingCodec, ScoreBlock}
import graft.model.{CollectionStats, TermDictRow}
import graft.score.Bm25
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Top-k BM25 search over a built index directory or a streaming store
  * (read through an [[IndexView]]) — the read path (IndexSearcher.Search
  * semantics, SURVEY.md §3.1) as one declarative DataFrame plan per query:
  *
  *   postings pruned by term_id (Parquet row-group min/max act as the term
  *   index) -> decode + score (shared float32 Bm25 kernel) -> boolean combine
  *   in a typed group (clause scores summed in ascending term_id order,
  *   the documented canonical order) -> orderBy(score desc, doc_id asc)
  *   limit k, which Catalyst plans as TakeOrderedAndProject — structurally
  *   the reference's per-leaf heaps + TopDocs.Merge with the HitQueue
  *   tie-break (score desc, then smaller docID;
  *   /root/reference/src/Lucene.Net/Search/HitQueue.cs:88-105).
  */
object Searcher {
  /** Lead-term threshold for the phrase block filter: when the rarest slot's
    * df is at most this, its block ranges (df/128 rows of skip metadata, so
    * <= 512 driver-side rows) prune every other term's blocks before the
    * positions shuffle — ExactPhraseScorer's lead-with-rarest conjunction
    * order at block granularity. Bounded by construction, so it is safe at
    * any corpus scale; `graft.phrase.leadMaxDf` overrides.
    */
  private[query] def phraseLeadMaxDf: Long =
    sys.props.get("graft.phrase.leadMaxDf").map(_.toLong).getOrElse(65536L)
}

final class Searcher(val spark: SparkSession, indexDir: String,
                     similarity: graft.score.Similarity = graft.score.Bm25Similarity)
    extends Serializable {
  import spark.implicits._

  /** A batch index directory or a streaming store, see [[IndexView]]. */
  private[query] val view: IndexView = IndexView.open(spark, indexDir)
  val stats: CollectionStats = view.stats

  /** Driver-side term lookup — the TermContext resolution analog
    * (/root/reference/src/Lucene.Net/Search/TermQuery.cs:101-123): one tiny
    * pushdown-pruned job for just the query's terms. On a streaming store
    * `term_id` is the view's scan key, see [[IndexView.lookup]].
    */
  def lookup(terms: Seq[String]): Map[String, TermDictRow] = view.lookup(terms).rows

  /** Expand a term-dictionary predicate to concrete terms (MultiTermQuery
    * rewrite). `pred` is a Column over the `term` column. Returns up to
    * maxTerms + 1 rows — the +1 row signals an over-cap expansion to
    * [[Rewrite.harden]], which switches that leaf to the constant-score
    * filter rewrite instead of expanding it.
    */
  def expand(pred: org.apache.spark.sql.Column, maxTerms: Int = Query.MaxClauseCount): Seq[String] =
    view.terms.filter(pred).select("term").as[String]
      .orderBy("term").limit(maxTerms + 1).collect().toSeq

  /** Distributed fuzzy top-N over the cached dictionaries (length-window
    * pre-filter, TakeOrdered by similarity — the collect is bounded by
    * maxExpansions, never by the candidate count).
    */
  def fuzzyTop(f: Query.Fuzzy): Seq[(String, Int)] = Rewrite.fuzzyTopIn(view.terms, f)

  def search(q: Query, k: Int): DataFrame =
    view.live(scoreAll(q)).orderBy(desc("score"), asc("doc_id")).limit(k)

  /** Every matching (doc_id, score) row, liveDocs applied — the scorer
    * stream collectors consume: [[Collectors.searchWithTotals]] observes it
    * in one pass, a caching collector persists it for replay.
    */
  def scoredDocs(q: Query): DataFrame = view.live(scoreAll(q))

  /** True when the query cannot lower to one flat weighted-term clause list
    * (BooleanQuery-in-BooleanQuery / phrase clauses).
    */
  private def isNested(q: Query): Boolean = q match {
    case _: Query.BoolQ | _: Query.Bool | _: Query.Phrase |
         _: Query.MultiPhrase | _: Query.ConstantScore |
         _: Query.DisMax | _: Query.MatchAll | _: Query.PayloadTerm |
         _: Query.PayloadNear => true
    case _ => false
  }

  /** ALL matching docs with scores (no top-k, no liveDocs — the caller
    * applies both once at the top). Scoring contract per [[Query.BoolQ]]:
    * flat levels sum ascending term_id; nested levels sum in clause order.
    */
  private def scoreAll(q: Query): DataFrame = q match {
    case Query.Term(t, boost) => clausesScoreAll(Seq((t, Query.Should, boost)), 0)
    case b: Query.Bool =>
      clausesScoreAll(
        b.must.map(t => (t, Query.Must: Query.Occur, 1.0f)) ++
          b.should.map(t => (t, Query.Should: Query.Occur, 1.0f)) ++
          b.mustNot.map(t => (t, Query.MustNot: Query.Occur, 1.0f)),
        b.minShouldMatch)
    case p: Query.Phrase => positionalScoreAll(p.terms.map(Seq(_)), p.slop, p.boost)
    case mp: Query.MultiPhrase => positionalScoreAll(mp.slots, mp.slop, mp.boost)
    case Query.MatchAll(boost) =>
      // MatchAllDocsQuery: every doc (the norms sidecar holds one row per
      // doc); liveDocs apply at the top like every other path
      view.docIds.select(col("doc_id"), lit(boost).cast("float").as("score"))
    case dm: Query.DisMax => disMaxScoreAll(dm)
    case pt: Query.PayloadTerm => payloadScoreAll(pt)
    case pn: Query.PayloadNear => payloadNearScoreAll(pn)
    case Query.ConstantScore(mt, boost) if Rewrite.isMultiTerm(mt) =>
      // constant-score FILTER rewrite (ConstantScoreAutoRewrite semantics):
      // the docset of every matching term, score = boost, never expanded
      multiTermDocs(mt).select(col("doc_id"), lit(boost).cast("float").as("score"))
    case Query.ConstantScore(sub, boost) =>
      scoreAll(sub).select(col("doc_id"), lit(boost).cast("float").as("score"))
    case bq0: Query.BoolQ =>
      Rewrite.harden(expand, fuzzyTop, bq0.clauses) match {
        case None => emptyResult // a MUST clause provably matches nothing
        case Some(cs) =>
          val bq = Query.BoolQ(cs, bq0.minShouldMatch, bq0.boost)
          if (bq.clauses.exists(c => isNested(c._2))) nestedScoreAll(bq)
          else {
            val flat = clausesScoreAll(rewriteClauses(bq.clauses), bq.minShouldMatch)
            if (bq.boost == 1.0f) flat
            else flat.select(col("doc_id"), (col("score") * lit(bq.boost)).cast("float").as("score"))
          }
      }
    case leaf => scoreAll(Query.BoolQ(Seq((Query.Should, leaf))))
  }

  /** Docset of a multi-term leaf without expansion — the CONSTANT_SCORE
    * filter execution over [[IndexView.blocksWhere]] (the reference builds
    * the same docset as a bitset).
    */
  private def multiTermDocs(mt: Query): DataFrame =
    view.blocksWhere(Rewrite.pred(mt)._1, Rewrite.isContiguous(mt), ScoreBlock.cols) match {
      case None => emptyResult.select("doc_id")
      case Some(blocks) =>
        blocks.as[ScoreBlock]
          .flatMap(b => PostingCodec.decode(b)._1.iterator)
          .toDF("doc_id")
          .distinct()
    }

  /** Nested boolean combine: every clause (group, phrase, or leaf) scores
    * ALL its docs, the union folds per doc in CLAUSE order (the nested
    * canonical float order, see [[Query.BoolQ]]) with MUST/NOT/mm
    * semantics, then the group boost multiplies.
    */
  private def nestedScoreAll(bq: Query.BoolQ): DataFrame = {
    require(bq.clauses.size <= Query.MaxClauseCount, "too many clauses")
    val nMust = bq.clauses.count(_._1 == Query.Must)
    val mm = bq.minShouldMatch
    val gb = bq.boost
    val tagged: Seq[DataFrame] = bq.clauses.zipWithIndex.map { case ((occ, sub), ci) =>
      scoreAll(sub).select(col("doc_id"), lit(ci).as("ci"), col("score"),
        lit(occ == Query.Must).as("m"), lit(occ == Query.MustNot).as("n"))
    }
    val folded = tagged.reduce(_ unionByName _)
      .repartition(col("doc_id"))
      .sortWithinPartitions("doc_id", "ci")
      .as[(Long, Int, Float, Boolean, Boolean)]
      .mapPartitions { it =>
        val b = it.buffered
        new scala.collection.AbstractIterator[(Long, Float)] {
          private var pending: (Long, Float) = _
          private var done = false
          private def advance(): Unit = {
            pending = null
            while (pending == null && b.hasNext) {
              val doc = b.head._1
              var mustSeen = 0
              var shouldSeen = 0
              var excluded = false
              var score = 0.0f
              while (b.hasNext && b.head._1 == doc) {
                val (_, _, s, isM, isN) = b.next()
                if (isN) excluded = true
                else {
                  if (isM) mustSeen += 1 else shouldSeen += 1
                  score += s
                }
              }
              if (!excluded && mustSeen == nMust && shouldSeen >= mm &&
                (mustSeen + shouldSeen) > 0)
                pending = (doc, if (gb == 1.0f) score else gb * score)
            }
            if (pending == null) done = true
          }
          advance()
          override def hasNext: Boolean = !done
          override def next(): (Long, Float) = { val h = pending; advance(); h }
        }
      }
    folded.toDF("doc_id", "score")
  }

  /** DisjunctionMaxScorer fold: per doc, max over clause scores plus
    * tieBreaker times the rest, float32 in clause order (see
    * [[Query.DisMax]]); same doc-grouped shuffle shape as the nested
    * boolean combine.
    */
  private def disMaxScoreAll(dm: Query.DisMax): DataFrame = {
    require(dm.clauses.nonEmpty && dm.clauses.size <= Query.MaxClauseCount,
      "DisMax needs 1..MaxClauseCount clauses")
    val tagged = dm.clauses.zipWithIndex.map { case (sub, ci) =>
      scoreAll(sub).select(col("doc_id"), lit(ci).as("ci"), col("score"))
    }
    val tb = dm.tieBreaker
    val gb = dm.boost
    tagged.reduce(_ unionByName _)
      .repartition(col("doc_id"))
      .sortWithinPartitions("doc_id", "ci")
      .as[(Long, Int, Float)]
      .mapPartitions { it =>
        val b = it.buffered
        new Iterator[(Long, Float)] {
          override def hasNext: Boolean = b.hasNext
          override def next(): (Long, Float) = {
            val doc = b.head._1
            var sum = 0.0f
            var mx = Float.NegativeInfinity
            while (b.hasNext && b.head._1 == doc) {
              val s = b.next()._3
              sum += s
              if (s > mx) mx = s
            }
            val sc = mx + (sum - mx) * tb
            (doc, if (gb == 1.0f) sc else gb * sc)
          }
        }
      }
      .toDF("doc_id", "score")
  }

  private[graft] def rewriteClauses(clauses: Seq[(Query.Occur, Query)]): Seq[(String, Query.Occur, Float)] =
    Rewrite.clauses(expand, fuzzyTop, clauses)

  /** Per-doc scored hits for the positive clauses + the boolean combine.
    * Returns ALL matching (doc_id: Long, score: Float) rows.
    */
  private def clausesScoreAll(clauses: Seq[(String, Query.Occur, Float)],
                              mm0: Int): DataFrame = {
    require(clauses.size <= Query.MaxClauseCount, "too many clauses")
    val must = clauses.collect { case (t, Query.Must, _) => t }.distinct
    val shouldAll = clauses.collect { case (t, Query.Should, _) => t }.distinct
    val should = shouldAll.filterNot(must.contains)
    // A term that is both MUST and SHOULD is deduped to one MUST clause, but
    // its SHOULD clause is satisfied on EVERY doc passing the conjunction
    // (the doc provably contains the term) — credit those toward
    // minShouldMatch so Bool(must=[a], should=[a], mm=1) keeps the
    // reference's duplicate-clause semantics. (Scores stay deduped: one
    // contribution per distinct term — documented divergence from
    // double-counting duplicate clauses.)
    val mm = math.max(0, mm0 - shouldAll.count(must.contains))
    val mustNot = clauses.collect { case (t, Query.MustNot, _) => t }.distinct
    // first-clause boost wins for a duplicated positive term
    val boosts: Map[String, Float] =
      clauses.filter(_._2 != Query.MustNot).groupBy(_._1).map { case (t, cs) => t -> cs.head._3 }
    val ts = view.lookup(must ++ should ++ mustNot)
    val dict = ts.rows
    // A MUST term absent from the index -> no results (conjunction semantics).
    if (must.exists(t => !dict.contains(t)) || (must ++ should).forall(t => !dict.contains(t)))
      return emptyResult

    val posTerms = (must ++ should).filter(dict.contains)
    val notTerms = mustNot.filter(dict.contains)
    // Similarity seam: ComputeWeight once per term (stats binding), score
    // closure per posting. The default Bm25Similarity delegates to the same
    // bit-exact kernel as before.
    val weights: Map[Long, graft.score.Similarity.TermScorer] = posTerms.map { t =>
      val d = dict(t)
      d.term_id -> similarity.termScorer(d.df, d.ttf, stats, boosts(t))
    }.toMap
    val mustIds = must.flatMap(dict.get).map(_.term_id).toSet
    val notIds = notTerms.map(dict(_).term_id).toSet

    val combined =
      if (posTerms.size == 1 && notIds.isEmpty &&
        (mm == 0 || (mm == 1 && should.exists(dict.contains)))) {
        // single positive term with a trivially-satisfied minShouldMatch:
        // no combine, no shuffle. The mm check must see DICTIONARY-PRESENT
        // should terms: a MUST-only query with mm >= 1 — including one whose
        // should terms are all absent from the corpus — matches NOTHING
        // (mm counts SHOULD clauses only, BooleanWeight semantics), so it
        // takes the combine path below, whose shouldSeen filter drops all.
        val bw = spark.sparkContext.broadcast(weights)
        scoredHits(ts, weights.keySet.toSeq, bw).map(h => (h._1, h._3))
      } else {
        // compact ti ascending term_id == the canonical clause-sum order
        val allTids: Seq[Long] = (weights.keySet ++ notIds).toSeq.sorted
        val tiOf: Map[Long, Int] = allTids.zipWithIndex.toMap
        val scorers: Array[graft.score.Similarity.TermScorer] =
          allTids.map(tid => weights.getOrElse(tid, null)).toArray
        val isMust: Array[Boolean] = allTids.map(mustIds.contains).toArray
        val isNot: Array[Boolean] = allTids.map(notIds.contains).toArray
        // lead-with-rarest MUST term (ConjunctionScorer order): per-doc
        // state sized by the rarest conjunct, and when selective its block
        // ranges prune every other term's blocks pre-shuffle
        val dfOf: Map[Long, Long] =
          dict.values.map(d => d.term_id -> d.df).toMap
        val leadTid: Option[Long] =
          if (mustIds.nonEmpty) Some(mustIds.minBy(dfOf)) else None
        val leadTi = leadTid.map(tiOf).getOrElse(-1)
        val width = PositionalScan.bucketWidth(spark, stats.max_doc)

        import graft.codec.ScoreSpanBlock
        var blocks = view.blocks(ts, allTids, ScoreSpanBlock.cols).as[ScoreSpanBlock]
        leadTid.filter(t => dfOf(t) <= Searcher.phraseLeadMaxDf && allTids.size > 1)
          .foreach { t =>
            val bIv = spark.sparkContext.broadcast(view.docRanges(ts, Seq(t)))
            blocks = blocks.filter(b => bIv.value.overlaps(b.first_doc, b.last_doc))
          }

        val bTi = spark.sparkContext.broadcast(tiOf)
        val bNotSet = spark.sparkContext.broadcast(notIds)
        val tagged = blocks.flatMap { b =>
          val ti = bTi.value(b.term_id)
          // MUST_NOT terms never establish docs; with a MUST lead, only it does
          val rank =
            if (bNotSet.value(b.term_id)) 1
            else if (leadTi < 0) 0
            else if (ti == leadTi) 0 else 1
          PositionalScan.buckets(b.first_doc, b.last_doc, width).map(bk =>
            BlockCombine.Tagged(bk, rank, ti, b.first_doc, b.cnt,
              b.doc_bytes, b.tf_bytes, b.norm_bytes))
        }
        BlockCombine.combine(spark, tagged, scorers, isMust, isNot,
          nMust = mustIds.size, mm = mm, width = width)
      }

    combined.toDF("doc_id", "score")
  }

  /** Decode + score the postings blocks of the given terms.
    * Emits (doc_id, term_id, score); excluded (mustNot) terms score 0.
    */
  private def scoredHits(ts: IndexView.Terms, termIds: Seq[Long],
                         bw: org.apache.spark.broadcast.Broadcast[Map[Long, graft.score.Similarity.TermScorer]])
      : org.apache.spark.sql.Dataset[(Long, Long, Float)] = {
    view.blocks(ts, termIds, ScoreBlock.cols) // the projection prunes the positions column
      .as[ScoreBlock]
      .flatMap { b =>
        val (docs, tfs, norms) = PostingCodec.decode(b)
        bw.value.get(b.term_id) match {
          case Some(w) =>
            docs.indices.iterator.map { i =>
              (docs(i), b.term_id, w.score(tfs(i).toFloat, norms(i)))
            }
          case None => // mustNot term: presence only
            docs.iterator.map(d => (d, b.term_id, 0.0f))
        }
      }
  }

  /** Native positional search from the positions index (ExactPhraseScorer /
    * SloppyPhraseScorer / MultiPhraseQuery semantics, see [[Query.Phrase]] /
    * [[Query.MultiPhrase]]): one positions-column scan pruned to the
    * phrase's terms, blocks shipped PACKED through a doc-range-bucketed
    * shuffle, decoded doc-at-a-time reduce-side (the [[PositionalScan]]
    * kernel), then BM25 with freq = phrase frequency and weight = summed
    * idf in canonical order
    * (/root/reference/src/Lucene.Net/Search/PhraseQuery.cs,
    * MultiPhraseQuery.cs weight construction). When the rarest slot is
    * selective its block ranges prune the other terms' blocks up front
    * (lead-term conjunction order, ExactPhraseScorer.cs:118).
    */
  private def positionalScoreAll(slots: Seq[Seq[String]], slop: Int,
                                 boost: Float): DataFrame = {
    import graft.codec.PosSpanBlock
    require(slots.size >= 2, "phrase needs at least two positions")
    val ts = view.lookup(slots.flatten.distinct)
    val dict = ts.rows
    // alternatives absent from the dictionary drop out; an empty slot
    // matches nothing (MultiPhraseQuery semantics)
    val slotTids: Array[Array[Long]] =
      slots.map(_.flatMap(dict.get).map(_.term_id).distinct.sorted.toArray).toArray
    if (slotTids.exists(_.isEmpty)) return emptyResult
    // weight = summed idf in canonical order: slot order, ascending term_id
    val idByTerm = dict.map { case (_, d) => d.term_id -> d }
    var idfSum = 0.0f
    slotTids.foreach(_.foreach(tid => idfSum += Bm25.idf(idByTerm(tid).df, stats.max_doc)))
    val weightValue = Bm25.weightValue(idfSum, boost)
    val cache = Bm25.buildCache(Bm25.avgFieldLength(stats.sum_ttf, stats.max_doc))
    val ids = slotTids.flatten.distinct.toSeq

    // compact term index + slot -> indices mapping for the kernel
    val tiOf: Map[Long, Int] = ids.sorted.zipWithIndex.toMap
    val slotIdx: Array[Array[Int]] = slotTids.map(_.map(tiOf))
    val width = PositionalScan.bucketWidth(spark, stats.max_doc)

    var blocks = view.blocks(ts, ids, PosSpanBlock.cols).as[PosSpanBlock]

    // lead slot = rarest (fewest total postings); its terms stream first on
    // the reduce side (rank 0), and when it is selective enough its block
    // ranges also prune the other terms' blocks up front
    val slotDf: Array[Long] = slotTids.map(_.map(tid => idByTerm(tid).df).sum)
    val minDf = slotDf.min
    val leadTis: Set[Int] = slotIdx(slotDf.indexOf(minDf)).toSet
    if (minDf <= Searcher.phraseLeadMaxDf && slotDf.exists(_ > minDf)) {
      val leadTids = slotTids(slotDf.indexOf(minDf)).toSeq
      val bIv = spark.sparkContext.broadcast(view.docRanges(ts, leadTids))
      blocks = blocks.filter(b => bIv.value.overlaps(b.first_doc, b.last_doc))
    }

    val bTi = spark.sparkContext.broadcast(tiOf)
    val bLead = spark.sparkContext.broadcast(leadTis)
    val tagged = blocks.flatMap { b =>
      val ti = bTi.value(b.term_id)
      val rank = if (bLead.value(ti)) 0 else 1
      PositionalScan.buckets(b.first_doc, b.last_doc, width).map(bk =>
        PositionalScan.Tagged(bk, rank, ti, b.first_doc, b.cnt, b.doc_bytes,
          b.tf_bytes, b.norm_bytes, b.pos_bytes))
    }

    PositionalScan.score(spark, tagged, ids.size, slotIdx, width,
      slop, weightValue, cache).toDF("doc_id", "score")
  }

  /** PayloadTermQuery execution (see [[Query.PayloadTerm]]): one pruned scan
    * of the payload-carrying blocks, scored posting-at-a-time — spanScore
    * from the shared BM25 kernel with freq = 0.5f * tf (every TermSpans
    * window has matchLength 1), payload factors folded in position order.
    */
  private def payloadScoreAll(pt: Query.PayloadTerm): DataFrame = {
    import graft.codec.PayBlock
    val ts = view.lookup(Seq(pt.term))
    if (!ts.rows.contains(pt.term)) return emptyResult
    val d = ts.rows(pt.term)
    val w = Bm25.termWeight(d.term_id, d.df, stats.max_doc, stats.sum_ttf, pt.boost)
    val bw = spark.sparkContext.broadcast(w)
    val func = pt.func
    val includeSpan = pt.includeSpanScore
    view.blocks(ts, Seq(d.term_id), PayBlock.cols)
      .as[PayBlock]
      .flatMap { b =>
        require(b.cnt == 0 || b.pay_bytes.nonEmpty,
          "payloads not indexed: rebuild with IndexBuilder.Options(payloads = true) " +
            "to run payload queries")
        val tw = bw.value
        val (docs, tfs) = PostingCodec.decodeDocsTfs(b.first_doc, b.cnt,
          b.doc_bytes, b.tf_bytes)
        val r = new graft.codec.ForCodec.Reader(b.pay_bytes, 0)
        docs.indices.iterator.map { i =>
          val tf = tfs(i)
          // freq: tf additions of 0.5f — exactly representable, fold matches
          // the reference's occurrence-order accumulation bit-for-bit
          var freq = 0.0f
          var j = 0
          while (j < tf) { freq += 0.5f; j += 1 }
          var payloadScore = 0.0f
          var seen = 0
          j = 0
          while (j < tf) {
            val len = r.readVarLong().toInt
            if (len > 0) {
              // a STORED payload at this position: factor = decoded float
              // for the 4-byte (PayloadHelper) encoding, 1f otherwise.
              // Positions WITHOUT a stored payload contribute nothing at
              // all — IsPayloadAvailable gates ProcessPayload and the else
              // branch is empty (PayloadTermQuery.cs:117-143).
              val factor =
                if (len == 4) {
                  val bits = ((b.pay_bytes(r.pos) & 0xff) << 24) |
                    ((b.pay_bytes(r.pos + 1) & 0xff) << 16) |
                    ((b.pay_bytes(r.pos + 2) & 0xff) << 8) |
                    (b.pay_bytes(r.pos + 3) & 0xff)
                  java.lang.Float.intBitsToFloat(bits)
                } else 1.0f
              payloadScore = func match {
                case Query.PayloadFunc.Avg => payloadScore + factor
                case Query.PayloadFunc.Min =>
                  if (seen == 0) factor else math.min(payloadScore, factor)
                case Query.PayloadFunc.Max =>
                  if (seen == 0) factor else math.max(payloadScore, factor)
              }
              seen += 1
            }
            r.pos += len
            j += 1
          }
          val docScore = func match {
            case Query.PayloadFunc.Avg =>
              if (seen > 0) payloadScore / seen else 1.0f
            case _ => if (seen > 0) payloadScore else 1.0f
          }
          val out =
            if (includeSpan)
              Bm25.score(tw.weightValue, freq, tw.cache, b.norm_bytes(i)) * docScore
            else docScore
          (docs(i), out)
        }
      }
      .toDF("doc_id", "score")
  }

  /** PayloadNearQuery execution (see [[Query.PayloadNear]]): per clause term,
    * one pruned scan of (positions + payloads); one doc-grouped shuffle; per
    * doc, the reference scorer's match walk ([[PayloadSpans]]) accumulates
    * freq and folds the matched payloads. Docs missing any clause term (or
    * with freq 0) emit nothing — SpanScorer skips zero-freq docs.
    */
  private def payloadNearScoreAll(pn: Query.PayloadNear): DataFrame = {
    import graft.codec.PosPayBlock
    require(pn.terms.size >= 2, "PayloadNear needs >= 2 clause terms")
    val ts = view.lookup(pn.terms.distinct)
    val dict = ts.rows
    // a clause term absent from the corpus can never match
    if (pn.terms.exists(t => !dict.contains(t))) return emptyResult
    var idfSum = 0.0f
    pn.terms.foreach(t => idfSum += Bm25.idf(dict(t).df, stats.max_doc))
    val weightValue = Bm25.weightValue(idfSum, pn.boost)
    val cache = Bm25.buildCache(Bm25.avgFieldLength(stats.sum_ttf, stats.max_doc))
    val bw = spark.sparkContext.broadcast((weightValue, cache))
    // clause index per distinct term (a term may fill several clauses; each
    // clause gets its own cursor over the same positions)
    val clauseTids: Array[Long] = pn.terms.map(t => dict(t).term_id).toArray
    val tidSet = clauseTids.toSet
    val func = pn.func
    val slop = pn.slop
    val inOrder = pn.inOrder
    view.blocks(ts, tidSet.toSeq, PosPayBlock.cols)
      .as[PosPayBlock]
      .flatMap { b =>
        require(b.cnt == 0 || b.pay_bytes.nonEmpty,
          "payloads not indexed: rebuild with IndexBuilder.Options(payloads = true) " +
            "to run payload queries")
        val (docs, tfs, norms, poss) = PostingCodec.decodePos(
          graft.codec.PosBlock(b.term_id, b.first_doc, b.cnt, b.doc_bytes,
            b.tf_bytes, b.norm_bytes, b.pos_bytes))
        val paySegs = PostingCodec.splitPaySegments(b.pay_bytes, tfs)
        docs.indices.iterator.map { i =>
          (docs(i), b.term_id, norms(i), poss(i),
            PostingCodec.decodePayloads(paySegs(i), tfs(i)))
        }
      }
      .toDF("doc_id", "term_id", "norm", "pos", "pays")
      .repartition(col("doc_id"))
      .sortWithinPartitions("doc_id", "term_id")
      .as[(Long, Long, Byte, Array[Int], Array[Array[Byte]])]
      .mapPartitions { it =>
        val (wv, ch) = bw.value
        val byTid = new scala.collection.mutable.HashMap[Long, (Array[Int], Array[Array[Byte]])]()
        val b = it.buffered
        new scala.collection.AbstractIterator[(Long, Float)] {
          private var pending: (Long, Float) = _
          private var done = false
          private def advance(): Unit = {
            pending = null
            while (pending == null && b.hasNext) {
              val doc = b.head._1
              var nb: Byte = 0
              byTid.clear()
              while (b.hasNext && b.head._1 == doc) {
                val (_, tid, n, ps, pl) = b.next()
                nb = n
                byTid.update(tid, (ps, pl))
              }
              if (clauseTids.forall(byTid.contains)) {
                val cursors = clauseTids.map { tid =>
                  val (ps, pl) = byTid(tid)
                  new PayloadSpans.TermCursor(ps, pl)
                }
                val matches =
                  if (inOrder) PayloadSpans.ordered(cursors, slop)
                  else PayloadSpans.unordered(cursors, slop)
                var freq = 0.0f
                var payloadScore = 0.0f
                var seen = 0
                matches.foreach { m =>
                  freq += 1.0f / (m.end - m.start + 1)
                  m.payloads.foreach { p =>
                    val factor =
                      if (p.length == 4) {
                        val bits = ((p(0) & 0xff) << 24) | ((p(1) & 0xff) << 16) |
                          ((p(2) & 0xff) << 8) | (p(3) & 0xff)
                        java.lang.Float.intBitsToFloat(bits)
                      } else 1.0f
                    payloadScore = func match {
                      case Query.PayloadFunc.Avg => payloadScore + factor
                      case Query.PayloadFunc.Min =>
                        if (seen == 0) factor else math.min(payloadScore, factor)
                      case Query.PayloadFunc.Max =>
                        if (seen == 0) factor else math.max(payloadScore, factor)
                    }
                    seen += 1
                  }
                }
                if (freq > 0.0f) {
                  val docScore = func match {
                    case Query.PayloadFunc.Avg =>
                      if (seen > 0) payloadScore / seen else 1.0f
                    case _ => if (seen > 0) payloadScore else 1.0f
                  }
                  pending = (doc, Bm25.score(wv, freq, ch, nb) * docScore)
                }
              }
            }
            if (pending == null) done = true
          }
          advance()
          override def hasNext: Boolean = !done
          override def next(): (Long, Float) = { val h = pending; advance(); h }
        }
      }
      .toDF("doc_id", "score")
  }

  private def emptyResult: DataFrame =
    spark.emptyDataset[(Long, Float)].toDF("doc_id", "score")
}
