package graft.query

import graft.codec.{PostingCodec, ScoreBlock}
import graft.model.{CollectionStats, TermDictRow}
import graft.score.Bm25
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import PositionalScan.{Hits, Rank}
import Searcher.payloadDocScore

/** Top-k BM25 search over a built index directory or a streaming store
  * (read through an [[IndexView]]) — the read path (IndexSearcher.Search
  * semantics, SURVEY.md §3.1) as one DataFrame plan per query:
  *
  *   postings pruned by term_id (files by their term range, then Parquet
  *   row-group min/max) -> decode + score (shared float32 Bm25 kernel) ->
  *   boolean combine ([[BlockCombine]]: clause scores summed in ascending
  *   term_id order, the documented canonical order) or positional scoring
  *   ([[PositionalScan]]) -> liveDocs -> the top k by (score desc, doc_id
  *   asc) — the reference's HitQueue tie-break (score desc, then smaller
  *   docID; Lucene.Net/Search/HitQueue.cs:88-105).
  *
  * For a flat term query or a phrase whose scan is one task
  * ([[IndexView.Scan.oneTask]]), everything after the scan runs in that
  * task as ONE typed operator that emits the k best hits already ranked
  * ([[PositionalScan.byBucket]]). Larger scans, and the nested, DisMax,
  * constant-score, MatchAll and payload shapes, keep every hit and end
  * with liveDocs and orderBy/limit, which Catalyst plans as
  * TakeOrderedAndProject — the per-leaf heaps + TopDocs.Merge shape. The
  * nested boolean, DisMax and PayloadNear shapes read one doc's clause
  * hits or matches at a time through [[PositionalScan.byDoc]], the one
  * per-doc fold.
  *
  * This is also the one flat top-k path of [[WandSearcher]]: asked to
  * prune, a term, a Bool and an unboosted flat BoolQ group (in-cap
  * expansions and boosted terms included) skip the blocks whose block-max
  * bounds cannot reach the k best ([[BlockCombine]]). `search` itself stays
  * exhaustive, the reference the pruned search is checked against.
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

  /** A doc's PayloadFunction score from its stored payloads (bytes, offset,
    * length) in position order: each factor is the 4-byte (PayloadHelper)
    * big-endian float, 1f for any other length, folded Avg/Min/Max in
    * float32; 1f when the doc has no stored payload.
    */
  private def payloadDocScore(func: Query.PayloadFunc,
                              payloads: Iterator[(Array[Byte], Int, Int)]): Float = {
    var score = 0.0f
    var seen = 0
    payloads.foreach { case (p, off, len) =>
      val factor =
        if (len == 4)
          java.lang.Float.intBitsToFloat(((p(off) & 0xff) << 24) | ((p(off + 1) & 0xff) << 16) |
            ((p(off + 2) & 0xff) << 8) | (p(off + 3) & 0xff))
        else 1.0f
      score = func match {
        case Query.PayloadFunc.Avg => score + factor
        case Query.PayloadFunc.Min => if (seen == 0) factor else math.min(score, factor)
        case Query.PayloadFunc.Max => if (seen == 0) factor else math.max(score, factor)
      }
      seen += 1
    }
    if (seen == 0) 1.0f
    else if (func == Query.PayloadFunc.Avg) score / seen
    else score
  }
}

final class Searcher(@transient val spark: SparkSession, indexDir: String,
                     similarity: graft.score.Similarity = graft.score.Bm25Similarity)
    extends Serializable {
  import spark.implicits._

  /** A batch index directory or a streaming store, see [[IndexView]]. */
  private[query] val view: IndexView = IndexView.open(spark, indexDir)
  val stats: CollectionStats = view.stats

  /** Driver-side term lookup — the TermContext resolution analog
    * (/root/reference/src/Lucene.Net/Search/TermQuery.cs:101-123): a binary
    * search in each segment's in-memory dictionary, no Spark job once the
    * view's dictionaries are loaded. On a streaming store `term_id` is the
    * view's scan key, see [[IndexView.lookup]].
    */
  def lookup(terms: Seq[String]): Map[String, TermDictRow] = view.lookup(terms).rows

  /** Expand a multi-term leaf (prefix, wildcard, regexp, term range or
    * fuzzy) to concrete terms against the in-memory dictionaries, no Spark
    * job (MultiTermQuery rewrite). Fuzzy gives its ranked top-N; the others
    * give up to maxTerms + 1 terms, ascending — the +1 term signals an
    * over-cap expansion, which [[Rewrite.harden]] switches to the
    * constant-score filter rewrite instead of expanding it.
    */
  def expand(q: Query, maxTerms: Int = Query.MaxClauseCount): Seq[String] = q match {
    case f: Query.Fuzzy => view.fuzzyTop(f).map(_._1)
    case mt => view.expand(mt, maxTerms + 1)
  }

  /** The k best hits of `q`, exhaustively: the reference the pruned search
    * is checked against.
    */
  def search(q: Query, k: Int): DataFrame = search(q, k, None)

  /** The k best hits of `q`; with `pruning`, the ranked flat shapes prune
    * blocks by their block-max bounds ([[BlockCombine]], BM25 bounds: only
    * for the default similarity) — the one flat top-k path, which
    * [[WandSearcher]] asks to prune.
    */
  private[query] def search(q: Query, k: Int, pruning: Option[BlockCombine.Pruning]): DataFrame =
    view.top(hits(q, Some(view.rank(k)), pruning), k)

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
  private def scoreAll(q: Query): DataFrame = hits(q, None).rows

  /** The hits of `q`; with a [[Rank]], a flat term query or a phrase whose
    * scan is one task returns its k best live hits already ranked, and
    * `pruning` applies to the flat term shapes — a term, a Bool and an
    * unboosted flat BoolQ group, in-cap expansions included.
    */
  private def hits(q: Query, rank: Option[Rank],
                   pruning: Option[BlockCombine.Pruning] = None): Hits = q match {
    case Query.Term(t, boost) => clausesScoreAll(Seq((t, Query.Should, boost)), 0, rank, pruning)
    case b: Query.Bool =>
      clausesScoreAll(
        b.must.map(t => (t, Query.Must: Query.Occur, 1.0f)) ++
          b.should.map(t => (t, Query.Should: Query.Occur, 1.0f)) ++
          b.mustNot.map(t => (t, Query.MustNot: Query.Occur, 1.0f)),
        b.minShouldMatch, rank, pruning)
    case p: Query.Phrase => positionalScoreAll(p.terms.map(Seq(_)), p.slop, p.boost, rank)
    case mp: Query.MultiPhrase => positionalScoreAll(mp.slots, mp.slop, mp.boost, rank)
    case bq0: Query.BoolQ =>
      Rewrite.harden(view, bq0.clauses) match {
        case None => empty // a MUST clause provably matches nothing
        case Some(cs) =>
          val bq = Query.BoolQ(cs, bq0.minShouldMatch, bq0.boost)
          if (bq.clauses.exists(c => isNested(c._2))) all(nestedScoreAll(bq))
          else {
            val cs = Rewrite.clauses(view, bq.clauses)
            // a boost rescales after the combine, so only an unboosted group
            // can rank in the scan's task
            if (bq.boost == 1.0f) clausesScoreAll(cs, bq.minShouldMatch, rank, pruning)
            else all(clausesScoreAll(cs, bq.minShouldMatch, None, None).rows
              .select(col("doc_id"), (col("score") * lit(bq.boost)).cast("float").as("score")))
          }
      }
    case Query.MatchAll(boost) =>
      // MatchAllDocsQuery: every doc (the norms sidecar holds one row per
      // doc); liveDocs apply at the top like every other path
      all(view.docIds.select(col("doc_id"), lit(boost).cast("float").as("score")))
    case dm: Query.DisMax => all(disMaxScoreAll(dm))
    case pt: Query.PayloadTerm => all(payloadScoreAll(pt))
    case pn: Query.PayloadNear => all(payloadNearScoreAll(pn))
    case Query.ConstantScore(mt, boost) if Rewrite.isMultiTerm(mt) =>
      // constant-score FILTER rewrite (ConstantScoreAutoRewrite semantics):
      // the docset of every matching term, score = boost, never expanded
      all(multiTermDocs(mt).select(col("doc_id"), lit(boost).cast("float").as("score")))
    case Query.ConstantScore(sub, boost) =>
      all(scoreAll(sub).select(col("doc_id"), lit(boost).cast("float").as("score")))
    case leaf => hits(Query.BoolQ(Seq((Query.Should, leaf))), rank, pruning)
  }

  /** Every hit, unranked. */
  private def all(df: DataFrame): Hits = Hits(df, ranked = false)

  /** No hit: trivially ranked. */
  private def empty: Hits = Hits(emptyResult, ranked = true)

  /** Docset of a multi-term leaf without expansion — the CONSTANT_SCORE
    * filter execution over [[IndexView.blocksWhere]] (the reference builds
    * the same docset as a bitset).
    */
  private def multiTermDocs(mt: Query): DataFrame =
    view.blocksWhere(mt, ScoreBlock.cols) match {
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
    val occ = bq.clauses.map(_._1).toArray
    val nMust = occ.count(_ == Query.Must)
    val mm = bq.minShouldMatch
    val gb = bq.boost
    clauseFold(bq.clauses.map(_._2)) { (doc, hs) =>
      var mustSeen = 0
      var shouldSeen = 0
      var excluded = false
      var score = 0.0f
      hs.foreach { case (_, ci, s) =>
        occ(ci) match {
          case Query.MustNot => excluded = true
          case Query.Must => mustSeen += 1; score += s
          case Query.Should => shouldSeen += 1; score += s
        }
      }
      if (!excluded && mustSeen == nMust && shouldSeen >= mm && (mustSeen + shouldSeen) > 0)
        Some((doc, if (gb == 1.0f) score else gb * score))
      else None
    }
  }

  /** DisjunctionMaxScorer fold: per doc, max over clause scores plus
    * tieBreaker times the rest, float32 in clause order (see
    * [[Query.DisMax]]).
    */
  private def disMaxScoreAll(dm: Query.DisMax): DataFrame = {
    require(dm.clauses.nonEmpty && dm.clauses.size <= Query.MaxClauseCount,
      "DisMax needs 1..MaxClauseCount clauses")
    val tb = dm.tieBreaker
    val gb = dm.boost
    clauseFold(dm.clauses) { (doc, hs) =>
      var sum = 0.0f
      var mx = Float.NegativeInfinity
      hs.foreach { case (_, _, s) =>
        sum += s
        if (s > mx) mx = s
      }
      val sc = mx + (sum - mx) * tb
      Some((doc, if (gb == 1.0f) sc else gb * sc))
    }
  }

  /** Every sub-query's hits, tagged with its clause index `ci` and folded
    * per doc in clause order ([[PositionalScan.byDoc]]): `fold` reads one
    * doc's (doc_id, ci, score) rows.
    */
  private def clauseFold(subs: Seq[Query])
                        (fold: (Long, Seq[(Long, Int, Float)]) => Option[(Long, Float)]): DataFrame =
    PositionalScan.byDoc[(Long, Int, Float), (Long, Float)](
      subs.zipWithIndex.map { case (sub, ci) =>
        scoreAll(sub).select(col("doc_id"), lit(ci).as("ci"), col("score"))
      }.reduce(_ unionByName _), "ci")(_._1)(fold).toDF("doc_id", "score")

  /** Per-doc scored hits for the positive clauses + the boolean combine
    * over the shared clause plan ([[BlockCombine.Clauses]]): ALL matching
    * (doc_id: Long, score: Float) rows, or with a [[Rank]] on a one-task
    * scan the k best live ones, ranked. With a [[Rank]] and `pruning`, the
    * plan's block-max bounds skip blocks that cannot reach the top k.
    */
  private def clausesScoreAll(clauses: Seq[(String, Query.Occur, Float)], mm0: Int,
                              rank: Option[Rank], pruning: Option[BlockCombine.Pruning]): Hits = {
    require(clauses.size <= Query.MaxClauseCount, "too many clauses")
    def terms(o: Query.Occur): Seq[String] = clauses.collect { case (t, `o`, _) => t }
    BlockCombine.Clauses.plan(view, terms(Query.Must), terms(Query.Should),
      terms(Query.MustNot), mm0).fold(empty) { p =>
      // first-clause boost wins for a duplicated positive term
      val boosts: Map[String, Float] = clauses.filter(_._2 != Query.MustNot)
        .groupBy(_._1).map { case (t, cs) => t -> cs.head._3 }
      // Similarity seam: ComputeWeight once per term (stats binding), score
      // closure per posting. The default Bm25Similarity delegates to the same
      // bit-exact kernel as before.
      val weights: Map[Long, graft.score.Similarity.TermScorer] = p.pos.map { d =>
        d.term_id -> similarity.termScorer(d.df, d.ttf, stats, boosts(d.term))
      }.toMap
      val prune = for (r <- rank; ask <- pruning; pr <- p.bounds(stats, boosts, r.k, ask)) yield pr
      if (p.pos.size == 1 && !p.isNot.contains(true) &&
        (p.mm == 0 || (p.mm == 1 && p.should.exists(p.ts.rows.contains)))) {
        // single positive term with a trivially-satisfied minShouldMatch:
        // scored during the scan, no combine, no shuffle. The mm check must
        // see DICTIONARY-PRESENT should terms: a MUST-only query with mm >= 1
        // — including one whose should terms are all absent from the corpus
        // — matches NOTHING (mm counts SHOULD clauses only, BooleanWeight
        // semantics), so it takes the combine path below, whose shouldSeen
        // filter drops all.
        val (tid, w) = weights.head
        // the projection prunes the positions column
        val scan = view.scan(p.ts, Seq(tid), ScoreBlock.cols)
        PositionalScan.scored(scan.rows.as(PositionalScan.Rows.scoreBlock), scan.oneTask, rank)(
          BlockCombine.termPass(w, prune.orNull))
      } else {
        val width = PositionalScan.bucketWidth(spark, stats.max_doc)
        val (scan, one) = p.scan(spark, view)
        val (tag, pr) = p.tagged(spark, view, prune, one, width)
        PositionalScan.byBucket(scan, one, tag, BlockCombine.combine(
          p.tids.map(weights.getOrElse(_, null)), p.isMust, p.isNot, p.nMust, p.mm, width, pr), rank)
      }
    }
  }

  /** Native positional search from the positions index (ExactPhraseScorer /
    * SloppyPhraseScorer / MultiPhraseQuery semantics, see [[Query.Phrase]] /
    * [[Query.MultiPhrase]]): one positions-column scan pruned to the
    * phrase's terms, blocks kept PACKED and grouped by doc-range bucket
    * (in the scan's task for a small query, else through a shuffle),
    * decoded doc-at-a-time (the [[PositionalScan]] kernel), then BM25 with
    * freq = phrase frequency and weight = summed idf in canonical order
    * (/root/reference/src/Lucene.Net/Search/PhraseQuery.cs,
    * MultiPhraseQuery.cs weight construction). When the scan takes more
    * than one task and the rarest slot is selective, its block ranges prune
    * the other terms' blocks up front (lead-term conjunction order,
    * ExactPhraseScorer.cs:118).
    */
  private def positionalScoreAll(slots: Seq[Seq[String]], slop: Int,
                                 boost: Float, rank: Option[Rank]): Hits = {
    import graft.codec.PosSpanBlock
    require(slots.size >= 2, "phrase needs at least two positions")
    val ts = view.lookup(slots.flatten.distinct)
    val dict = ts.rows
    // alternatives absent from the dictionary drop out; an empty slot
    // matches nothing (MultiPhraseQuery semantics)
    val slotTids: Array[Array[Long]] =
      slots.map(_.flatMap(dict.get).map(_.term_id).distinct.sorted.toArray).toArray
    if (slotTids.exists(_.isEmpty)) return empty
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
    val scan = view.scan(ts, ids, PosSpanBlock.cols)
    val one = scan.oneTask
    var blocks = scan.rows.as(PositionalScan.Rows.posSpanBlock)

    // lead slot = rarest (fewest total postings); its terms stream first in
    // each bucket (rank 0), and when the scan takes several tasks and the
    // lead is selective enough its block ranges also prune the other
    // terms' blocks up front
    val slotDf: Array[Long] = slotTids.map(_.map(tid => idByTerm(tid).df).sum)
    val minDf = slotDf.min
    val leadTis: Set[Int] = slotIdx(slotDf.indexOf(minDf)).toSet
    if (!one && minDf <= Searcher.phraseLeadMaxDf && slotDf.exists(_ > minDf)) {
      val leadTids = slotTids(slotDf.indexOf(minDf)).toSeq
      val bIv = spark.sparkContext.broadcast(view.docRanges(ts, leadTids))
      blocks = blocks.filter(b => bIv.value.overlaps(b.first_doc, b.last_doc))
    }

    val tag: Iterator[PosSpanBlock] => Iterator[PositionalScan.Tagged] = _.flatMap { b =>
      val ti = tiOf(b.term_id)
      val r = if (leadTis(ti)) 0 else 1
      PositionalScan.buckets(b.first_doc, b.last_doc, width).map(bk =>
        PositionalScan.Tagged(bk, r, ti, b.first_doc, b.cnt, b.doc_bytes,
          b.tf_bytes, b.norm_bytes, b.pos_bytes))
    }
    PositionalScan.byBucket(blocks, one, tag,
      PositionalScan.score(ids.size, slotIdx, width, slop, weightValue, cache), rank)
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
    val func = pt.func
    val includeSpan = pt.includeSpanScore
    view.blocks(ts, Seq(d.term_id), PayBlock.cols)
      .as[PayBlock]
      .flatMap { b =>
        require(b.cnt == 0 || b.pay_bytes.nonEmpty,
          "payloads not indexed: rebuild with IndexBuilder.Options(payloads = true) " +
            "to run payload queries")
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
          // Positions WITHOUT a stored payload contribute nothing at all —
          // IsPayloadAvailable gates ProcessPayload and the else branch is
          // empty (PayloadTermQuery.cs:117-143).
          val docScore = payloadDocScore(func, Iterator.range(0, tf).flatMap { _ =>
            val len = r.readVarLong().toInt
            val off = r.pos
            r.pos += len
            if (len > 0) Some((b.pay_bytes, off, len)) else None
          })
          val out =
            if (includeSpan)
              Bm25.score(w.weightValue, freq, w.cache, b.norm_bytes(i)) * docScore
            else docScore
          (docs(i), out)
        }
      }
      .toDF("doc_id", "score")
  }

  /** PayloadNearQuery execution (see [[Query.PayloadNear]]): per clause term,
    * one pruned scan of (positions + payloads), grouped by doc
    * ([[PositionalScan.byDoc]]); per doc, the reference scorer's match walk
    * ([[PayloadSpans]]) accumulates freq and folds the matched payloads.
    * Docs missing any clause term (or with freq 0) emit nothing —
    * SpanScorer skips zero-freq docs.
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
    // clause index per distinct term (a term may fill several clauses; each
    // clause gets its own cursor over the same positions)
    val clauseTids: Array[Long] = pn.terms.map(t => dict(t).term_id).toArray
    val tidSet = clauseTids.toSet
    val func = pn.func
    val slop = pn.slop
    val inOrder = pn.inOrder
    val rows = view.blocks(ts, tidSet.toSeq, PosPayBlock.cols)
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
    PositionalScan.byDoc[(Long, Long, Byte, Array[Int], Array[Array[Byte]]), (Long, Float)](
      rows, "term_id")(_._1) { (doc, hs) =>
      val byTid = hs.map(h => h._2 -> (h._4, h._5)).toMap
      if (!clauseTids.forall(byTid.contains)) None
      else {
        val cursors = clauseTids.map { tid =>
          val (ps, pl) = byTid(tid)
          new PayloadSpans.TermCursor(ps, pl)
        }
        val matches =
          if (inOrder) PayloadSpans.ordered(cursors, slop)
          else PayloadSpans.unordered(cursors, slop)
        var freq = 0.0f
        val docScore = payloadDocScore(func, matches.flatMap { m =>
          freq += 1.0f / (m.end - m.start + 1) // in match order
          m.payloads.iterator.map(p => (p, 0, p.length))
        })
        if (freq > 0.0f) Some((doc, Bm25.score(weightValue, freq, cache, hs.head._3) * docScore))
        else None
      }
    }.toDF("doc_id", "score")
  }

  private def emptyResult: DataFrame =
    spark.emptyDataset[(Long, Float)].toDF("doc_id", "score")
}
