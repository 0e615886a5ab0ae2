package graft.query

import graft.codec.{PostingCodec, ScoreBlock}
import graft.model.TermDictRow
import graft.score.Bm25
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator
import WandSearcher.{scorer, ubD, ubFn}

/** Block-max pruned top-k search — the north rule's "block-max WAND scoring"
  * realized for a term-range-partitioned columnar postings layout.
  *
  * Lucene 4.8 predates WAND (SURVEY.md §4.2); classic BMW (Ding & Suel,
  * "Faster Top-k Document Retrieval Using Block-Max Indexes", SIGIR 2011) is
  * doc-at-a-time over co-located per-doc posting cursors. A distributed
  * term-partitioned scan has no cheap doc-at-a-time cursor alignment, so this
  * kernel uses the rank-safe block-skipping form (MaxScore-style bound
  * splitting over block-max metadata), as ONE job with no driver-side
  * metadata collection (the round-1 shape collected one row per 128-doc
  * block — a driver OOM at exactly the scale WAND exists for):
  *
  *  - per-term GLOBAL maxima come from the term dictionary (`max_tf`/`max_nb`
  *    columns laid down at build time, the max over a store's segments), so `rest(i) = Σ_{j≠i} gmax_j` is
  *    driver-side arithmetic over the query's own terms — no metadata job.
  *  - each scan partition keeps a k-heap of exact single-clause float scores
  *    PER TERM; the k-th best score of one term is a sound lower bound θ on
  *    the global k-th best total (k distinct docs of that term, and a
  *    single clause score never exceeds the canonical float32 clause sum of
  *    non-negative scores). θ only grows as blocks stream through
  *    impact-ordered (best blocks first, IndexBuilder S4).
  *  - a block b of term i is skipped without decoding iff
  *    `bound(b) < θ` (STRICT — a block whose bound equals θ can still hold
  *    docs scoring exactly θ that the exhaustive tie-break keeps), where
  *    `bound(b) = (ub_i(b) + rest(i)) * slack` is computed in DOUBLE
  *    precision and inflated by `slack = 1 + (n+4)·1.2e-7` so it dominates
  *    the float32 canonical clause sum regardless of per-step float rounding
  *    (each float op rounds within 2^-24 relative; n-term fold compounds n
  *    of them — the double bound with slack is therefore ≥ every doc's true
  *    float score in the block, making pruning rank- AND score-safe).
  *
  * Residual blocks decode + float32-score via the shared Bm25 kernel and the
  * combine is identical to the exhaustive path — any doc that could reach the
  * top k has every one of its blocks scanned (its total ≤ each such block's
  * bound, which is then ≥ θ), so results are rank- and score-identical
  * (equivalence-tested in WandSpec).
  *
  * ub_i(b) = weightValue_i * max_tf / (max_tf + cache[max_nb]): the real
  * function is monotone ↑tf and ↓cache; max_nb (largest norm byte = shortest
  * doc) gives the smallest cache value (block-max metadata laid down at build
  * time, graft.codec.PostingBlock).
  */
final class WandSearcher(spark: SparkSession, indexDir: String,
                         seedMinBlocksOpt: Option[Long] = None,
                         maxScoreMinBlocksOpt: Option[Long] = None) extends Serializable {
  import spark.implicits._

  private val base = new Searcher(spark, indexDir)
  private val view = base.view

  /** Blocks skipped/scanned by the last search (for tests/metrics). */
  @transient var lastSkipped: Option[LongAccumulator] = None
  @transient var lastScanned: Option[LongAccumulator] = None

  def search(q: Query, k: Int): DataFrame = q match {
    case _ if view.hasTombstones =>
      // buried docs would poison the threshold heaps (a dead doc's clause
      // score is no lower bound on the k-th LIVE total), so pruning is
      // disabled until compaction purges them — the same class of
      // optimization Lucene turns off under liveDocs.
      base.search(q, k)
    case Query.Term(t, boost) =>
      searchShould(Seq((t, boost)), k)
    case Query.Bool(Nil, should, Nil, mm) if mm <= 1 && should.nonEmpty =>
      searchShould(should.map((_, 1.0f)), k)
    case Query.Bool(must, should, Nil, mm)
      if must.distinct.size == 1 &&
        mm - should.distinct.count(must.contains) <= 0 =>
      // single-MUST conjunction (the everyday "+required optional ..."):
      // the result set is EXACTLY the must term's posting set, which is what
      // makes a scan-side theta sound here — see searchMustShould.
      searchMustShould(must.head, should.distinct.filterNot(_ == must.head), k)
    case Query.BoolQ(cs, mm, gb) if mm <= 1 && gb == 1.0f && cs.nonEmpty &&
      cs.forall { case (o, c) => o == Query.Should && c.isInstanceOf[Query.Term] } =>
      searchShould(cs.map { case (_, t: Query.Term) => (t.term, t.boost); case _ => null }, k)
    case Query.BoolQ(cs, mm, gb) if gb == 1.0f && cs.nonEmpty &&
      cs.forall { case (_, Query.Term(_, b)) => b == 1.0f; case _ => false } =>
      // flat unboosted term group (the parser's everyday output, e.g.
      // "+spark +index" / "time -person"): identical semantics to Bool, so
      // re-route through the occur-specific pruned paths below
      search(Query.Bool(
        must = cs.collect { case (Query.Must, t: Query.Term) => t.term },
        should = cs.collect { case (Query.Should, t: Query.Term) => t.term },
        mustNot = cs.collect { case (Query.MustNot, t: Query.Term) => t.term },
        minShouldMatch = mm), k)
    case Query.Bool(must, should, mustNot, mm) if (must ++ should).nonEmpty =>
      // multi-MUST / NOT / residual min-should-match: scan-side clause-score
      // heaps are UNSOUND here (the k-th best single-clause score over one
      // term's postings can exceed the k-th best total over the smaller
      // intersection/filtered result set), so these shapes prune
      // REDUCE-side instead — bucket-level MaxScore bounds against a theta
      // grown only from verified totals (see BlockCombine.combinePruned).
      searchBoolPruned(must, should, mustNot, mm, k)
    case other =>
      // nested/phrase/constant-score shapes run on the exhaustive path
      // (same results, no pruning).
      base.search(other, k)
  }


  /** Minimum estimated scan size (in posting blocks, summed over the query's
    * present terms) before a theta-seed job runs. DEFAULT OFF (MaxValue):
    * measured head-to-head at a 70k-conv corpus (24-query set, 2 runs), the
    * seed changed NOTHING — 11529 skipped / 25069 scanned bit-identical with
    * and without it, while costing one extra TakeOrdered job per armed
    * query. Two structural reasons, both layout-inherent: (a) every scan
    * partition is a range cut whose blocks stream IMPACT-ORDERED, so its
    * local theta reaches the cut's ceiling after the first decoded block —
    * the seed arrives at most one block early; (b) in disjunctions a block's
    * bound carries the OTHER terms' global maxima as rest, which any sound
    * single-clause theta (seeded or grown) can never exceed, so cross-term
    * blocks are unskippable at block granularity regardless of theta. The
    * mechanism stays available (the `seedMinBlocksOpt` constructor
    * parameter) for layouts whose streams are NOT impact-ordered — e.g.
    * doc-ordered segment files — where per-cut self-seeding does not happen;
    * WandSpec forces it on to pin rank/score identity either way.
    */
  private val seedMinBlocks: Long = seedMinBlocksOpt.getOrElse(Long.MaxValue)

  /** Minimum estimated scan size (posting blocks over the query's terms)
    * before the dictionary θ-seed job runs to arm the REDUCE-side term-level
    * MaxScore split (BlockCombine.combineShouldPruned scaladoc). DEFAULT ON
    * at 64 blocks: unlike the scan-side use above — where impact-ordered
    * cuts self-seed and the experiment showed zero effect — the reduce side
    * has exactly ONE bucket per partition in the default geometry and
    * therefore never develops a θ before its only flush; the seed is what
    * makes the essential/non-essential split live from the first block.
    * The seed job itself reads only (k/128+1) blocks of one term.
    */
  private val maxScoreMinBlocks: Long = maxScoreMinBlocksOpt.getOrElse(64L)

  private def estBlocks(dict: Iterable[TermDictRow]): Long =
    dict.iterator.map(d =>
      (d.df + PostingCodec.BlockSize - 1) / PostingCodec.BlockSize).sum

  /** Dictionary-seeded initial threshold theta_0: decode the seed term's few
    * BEST impact-ordered blocks (one pushdown-pruned TakeOrdered job over
    * that term's postings, top blocks by the same ub the skip test uses) and
    * take the k-th best exact float32 clause score. Sound: those are >= k
    * DISTINCT docs of one term, and every doc's final total is >= its own
    * clause score (clauses are non-negative) — the per-term-heap argument,
    * evaluated BEFORE the scan so every partition opens with a live
    * threshold instead of growing one from -inf independently (the
    * cross-partition gap is exactly where sub-global thetas under-skip).
    * Returns -inf when the seed blocks hold fewer than k postings.
    */
  private def seedTheta(ts: IndexView.Terms, seedTid: Long, w: Bm25.TermWeight,
                        k: Int): Double = {
    val ubCol = col("max_tf").cast("double") /
      (col("max_tf").cast("double") +
        element_at(typedLit(w.cache.toSeq), col("max_nb") + 1).cast("double"))
    val nBlocks = math.max(1, (k + PostingCodec.BlockSize - 1) / PostingCodec.BlockSize + 1)
    val rows = view.blocks(ts, Seq(seedTid), ScoreBlock.cols)
      .orderBy(ubCol.desc, col("first_doc").asc)
      .limit(nBlocks)
      .as[ScoreBlock].collect()
    val scores = rows.iterator.flatMap { b =>
      val (_, tfs, nbs) = PostingCodec.decode(b)
      tfs.indices.iterator.map(i =>
        Bm25.score(w.weightValue, tfs(i).toFloat, w.cache, nbs(i)))
    }.toArray
    if (k <= 0 || scores.length < k) Double.NegativeInfinity
    else {
      java.util.Arrays.sort(scores)
      scores(scores.length - k).toDouble
    }
  }

  /** Pruned single-MUST conjunction (`+m s1 s2 ...`, mm satisfied, no NOT).
    *
    * Soundness of theta here: the result set is EXACTLY docs(m) (the one
    * MUST is required, shoulds are optional), and every clause score is
    * non-negative, so any doc of m has final total >= its m-clause score —
    * a per-partition k-heap of exact m-clause scores lower-bounds the k-th
    * best FINAL total. The block bound is the same rest-sum algebra as the
    * disjunction path: bound(b of i) = (ub_i(b) + Σ_{j≠i} gmax_j) * slack
    * >= any contained doc's true float total (MUST only shrinks who
    * matches, never raises scores). Skipping any term's block with
    * bound < theta is then rank- and score-safe by the usual argument: a
    * skipped doc's total < theta <= k-th best total, so it cannot enter the
    * top k (if its MUST evidence was skipped it is dropped entirely —
    * equally fine), while every true top-k doc's blocks all survive
    * (their bounds >= its total >= theta) so its score stays exact.
    * SHOULD-term postings never grow theta (a should doc needn't match m).
    */
  private def searchMustShould(mustTerm: String, shoulds: Seq[String], k: Int): DataFrame = {
    val ts = view.lookup(mustTerm +: shoulds)
    val dict: Map[String, TermDictRow] = ts.rows
    if (!dict.contains(mustTerm)) // absent MUST -> conjunction matches nothing
      return spark.emptyDataset[(Long, Float)].toDF("doc_id", "score")
    val st = base.stats
    val weights: Map[Long, Bm25.TermWeight] = dict.values.map { d =>
      d.term_id -> Bm25.termWeight(d.term_id, d.df, st.max_doc, st.sum_ttf, 1.0f)
    }.toMap
    val ids = weights.keySet.toSeq.sorted
    val mustId = dict(mustTerm).term_id

    val slack: Double = 1.0 + (ids.size + 4) * 1.2e-7
    val gmaxD: Map[Long, Double] = dict.values.map { d =>
      d.term_id -> ubD(weights(d.term_id), d.max_tf, d.max_nb)
    }.toMap
    val restD: Map[Long, Double] =
      ids.map(i => i -> ids.iterator.filter(_ != i).map(gmaxD).sum).toMap

    val skipped = spark.sparkContext.longAccumulator("wand.skippedBlocks")
    val scanned = spark.sparkContext.longAccumulator("wand.scannedBlocks")
    lastSkipped = Some(skipped)
    lastScanned = Some(scanned)
    val bw = spark.sparkContext.broadcast(weights)
    val bRest = spark.sparkContext.broadcast(restD)
    val kk = k
    val mId = mustId
    // theta may only grow from MUST clause scores here (see scaladoc), so
    // the seed reads the MUST term's best blocks. Experimental-flag only
    // (default off): a θ0-driven bound skip needs ub_i(b) + rest(i) < θ0 ≤
    // gmax(must), but every term's rest already sums the others' gmax —
    // ≥ gmax(must) whenever ≥2 terms are present — so the seed cannot add
    // skips here; the conjunction pruning lives in combinePruned's
    // doc-exact leapfrog + verified-total bounds instead.
    val theta0: Double =
      if (estBlocks(dict.values) < seedMinBlocks) Double.NegativeInfinity
      else seedTheta(ts, mustId, weights(mustId), k)

    import graft.codec.ScoreSpanBlock
    val tiOf: Map[Long, Int] = ids.zipWithIndex.toMap // ids sorted asc
    val bTi = spark.sparkContext.broadcast(tiOf)
    val width = PositionalScan.bucketWidth(spark, st.max_doc)
    val tagged = view.blocks(ts, ids, ScoreSpanBlock.cols)
      .as[ScoreSpanBlock]
      .mapPartitions { blocks =>
        val w = bw.value
        val rest = bRest.value
        val heap = new java.util.PriorityQueue[java.lang.Float](kk + 1)
        var theta = theta0
        blocks.flatMap { b =>
          val tw = w(b.term_id)
          val copies = b.last_doc / width - b.first_doc / width + 1
          val bound = (ubD(tw, b.max_tf, b.max_nb) + rest(b.term_id)) * slack
          if (bound < theta) {
            skipped.add(copies)
            Iterator.empty
          } else {
            // only the MUST term's clause scores may grow theta — and only
            // a block whose own ub can exceed the full heap's k-th best can
            // raise it (the scan-side decode exists solely for theta, so
            // skip it when it provably cannot help; the reduce side
            // re-scores every surviving block regardless)
            if (b.term_id == mId &&
              !(heap.size == kk && ubD(tw, b.max_tf, b.max_nb) <= theta)) {
              val (_, tfs, nbs) = PostingCodec.decode(
                ScoreBlock(b.term_id, b.first_doc, b.cnt, b.doc_bytes,
                  b.tf_bytes, b.norm_bytes, b.max_tf, b.max_nb))
              var i = 0
              while (i < b.cnt) {
                val s = Bm25.score(tw.weightValue, tfs(i).toFloat, tw.cache, nbs(i))
                if (heap.size < kk) heap.offer(s)
                else if (s > heap.peek()) { heap.poll(); heap.offer(s) }
                if (heap.size == kk) {
                  val cand = heap.peek().toDouble
                  if (cand > theta) theta = cand
                }
                i += 1
              }
            }
            val ti = bTi.value(b.term_id)
            // MUST leads (rank 0): only it establishes per-doc state
            val rank = if (b.term_id == mId) 0 else 1
            PositionalScan.buckets(b.first_doc, b.last_doc, width).map(bk =>
              BlockCombine.TaggedM(bk, rank, ti, b.first_doc, b.last_doc,
                b.cnt, b.doc_bytes, b.tf_bytes, b.norm_bytes,
                b.max_tf, b.max_nb))
          }
        }
      }
    val scorers = ids.map(tid => scorer(weights(tid))).toArray
    val ubFns = ids.map(tid => ubFn(weights(tid))).toArray
    // reduce side: doc-exact SHOULD leapfrog (a should block with no
    // established MUST candidate in range never decodes) + block bounds
    // against max(theta0, verified flushed totals)
    BlockCombine.combinePruned(spark, tagged, scorers,
      isMust = ids.map(_ == mId).toArray,
      isNot = Array.fill(ids.size)(false),
      nMust = 1, mm = 0, width = width,
      ubFns = ubFns, rests = ids.map(restD).toArray,
      slack = slack, k = k,
      skipped = skipped, scanned = scanned, theta0 = theta0)
      .toDF("doc_id", "score")
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
  }

  /** General boolean top-k with reduce-side bucket pruning — multi-MUST,
    * residual minShouldMatch, and NOT shapes. The scan ships packed blocks
    * with their (max_tf, max_nb) metadata and NEVER decodes (unlike the
    * disjunction path there is no sound scan-side theta to grow); all
    * pruning happens in [[BlockCombine.combinePruned]] where exact verified
    * totals bound the skip. Clause semantics (dup dedup, mm credit, lead
    * rank, absent-term handling) mirror Searcher.clausesScoreAll so results
    * stay bit-identical to the exhaustive path.
    */
  private def searchBoolPruned(must0: Seq[String], should0: Seq[String],
                               not0: Seq[String], mm0: Int, k: Int): DataFrame = {
    val must = must0.distinct
    val shouldAll = should0.distinct
    val should = shouldAll.filterNot(must.contains)
    val mm = math.max(0, mm0 - shouldAll.count(must.contains))
    val mustNot = not0.distinct
    val ts = view.lookup(must ++ should ++ mustNot)
    val dict: Map[String, TermDictRow] = ts.rows
    if (must.exists(t => !dict.contains(t)) ||
      (must ++ should).forall(t => !dict.contains(t)))
      return spark.emptyDataset[(Long, Float)].toDF("doc_id", "score")

    val st = base.stats
    val posTerms = (must ++ should).filter(dict.contains)
    val notTerms = mustNot.filter(dict.contains)
    val weights: Map[Long, Bm25.TermWeight] = posTerms.map { t =>
      val d = dict(t)
      d.term_id -> Bm25.termWeight(d.term_id, d.df, st.max_doc, st.sum_ttf, 1.0f)
    }.toMap
    val mustIds = must.map(dict(_).term_id).toSet
    val notIds = notTerms.map(dict(_).term_id).toSet
    val allTids: Seq[Long] = (weights.keySet ++ notIds).toSeq.sorted
    val tiOf: Map[Long, Int] = allTids.zipWithIndex.toMap
    val scorers = allTids.map(tid => weights.get(tid).map(scorer).orNull).toArray
    val isMust: Array[Boolean] = allTids.map(mustIds.contains).toArray
    val isNot: Array[Boolean] = allTids.map(notIds.contains).toArray
    // bound algebra: per-clause double ub from block-max metadata; NOT
    // clauses never score so they contribute nothing to the bound or rests
    val ubFns = allTids.map(tid => weights.get(tid).map(ubFn).orNull).toArray
    val dictByTid: Map[Long, TermDictRow] = dict.values.map(d => d.term_id -> d).toMap
    val gmaxD: Map[Long, Double] = allTids.map { tid =>
      tid -> weights.get(tid).map { tw =>
        val d = dictByTid(tid)
        ubD(tw, d.max_tf, d.max_nb)
      }.getOrElse(0.0)
    }.toMap
    val rests: Array[Double] =
      allTids.map(i => allTids.iterator.filter(_ != i).map(gmaxD).sum).toArray
    val slack: Double = 1.0 + (allTids.size + 4) * 1.2e-7

    // lead-with-rarest MUST (same block-range prefilter as the exhaustive
    // path — pruned and exhaustive must agree on WHICH docs can match)
    val dfOf: Map[Long, Long] = dict.values.map(d => d.term_id -> d.df).toMap
    val leadTid: Option[Long] =
      if (mustIds.nonEmpty) Some(mustIds.minBy(dfOf)) else None
    val leadTi = leadTid.map(tiOf).getOrElse(-1)
    // the exhaustive geometry: one bucket per reduce partition (finer
    // buckets replicate blocks that span several of them, and the
    // block-granular leapfrog that does the real conjunction pruning is
    // width-independent)
    val width = PositionalScan.bucketWidth(spark, st.max_doc)

    import graft.codec.ScoreSpanBlock
    var blocks = view.blocks(ts, allTids, ScoreSpanBlock.cols).as[ScoreSpanBlock]
    leadTid.filter(t => dfOf(t) <= Searcher.phraseLeadMaxDf && allTids.size > 1)
      .foreach { t =>
        val bIv = spark.sparkContext.broadcast(view.docRanges(ts, Seq(t)))
        blocks = blocks.filter(b => bIv.value.overlaps(b.first_doc, b.last_doc))
      }

    val skipped = spark.sparkContext.longAccumulator("wand.skippedBlocks")
    val scanned = spark.sparkContext.longAccumulator("wand.scannedBlocks")
    lastSkipped = Some(skipped)
    lastScanned = Some(scanned)
    val bTi = spark.sparkContext.broadcast(tiOf)
    val bNotSet = spark.sparkContext.broadcast(notIds)
    val lTi = leadTi
    val tagged = blocks.flatMap { b =>
      val ti = bTi.value(b.term_id)
      val rank =
        if (bNotSet.value(b.term_id)) 1
        else if (lTi < 0) 0
        else if (ti == lTi) 0 else 1
      PositionalScan.buckets(b.first_doc, b.last_doc, width).map(bk =>
        BlockCombine.TaggedM(bk, rank, ti, b.first_doc, b.last_doc, b.cnt,
          b.doc_bytes, b.tf_bytes, b.norm_bytes, b.max_tf, b.max_nb))
    }
    BlockCombine.combinePruned(spark, tagged, scorers, isMust, isNot,
      nMust = mustIds.size, mm = mm, width = width,
      ubFns = ubFns, rests = rests, slack = slack, k = k,
      skipped = skipped, scanned = scanned)
      .toDF("doc_id", "score")
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
  }

  private def searchShould(terms: Seq[(String, Float)], k: Int): DataFrame = {
    val boosts: Map[String, Float] = terms.groupBy(_._1).map { case (t, cs) => t -> cs.head._2 }
    val ts = view.lookup(terms.map(_._1).distinct)
    val dict: Map[String, TermDictRow] = ts.rows
    if (dict.isEmpty) return spark.emptyDataset[(Long, Float)].toDF("doc_id", "score")
    val st = base.stats
    val weights: Map[Long, Bm25.TermWeight] = dict.values.map { d =>
      d.term_id -> Bm25.termWeight(d.term_id, d.df, st.max_doc, st.sum_ttf, boosts(d.term))
    }.toMap
    val ids = weights.keySet.toSeq.sorted

    // ---- driver-side bound algebra (query-terms-sized, no jobs) -----------
    val slack: Double = 1.0 + (ids.size + 4) * 1.2e-7
    val gmaxD: Map[Long, Double] = dict.values.map { d =>
      d.term_id -> ubD(weights(d.term_id), d.max_tf, d.max_nb)
    }.toMap
    val restD: Map[Long, Double] =
      ids.map(i => i -> ids.iterator.filter(_ != i).map(gmaxD).sum).toMap

    // ---- single pruned-scan job, exhaustive-identical combine -------------
    val skipped = spark.sparkContext.longAccumulator("wand.skippedBlocks")
    val scanned = spark.sparkContext.longAccumulator("wand.scannedBlocks")
    lastSkipped = Some(skipped)
    lastScanned = Some(scanned)
    val bw = spark.sparkContext.broadcast(weights)
    val bRest = spark.sparkContext.broadcast(restD)
    val singleTerm = ids.size == 1
    val kk = k
    // seed from the strongest term (largest global ub): its best blocks hold
    // the highest clause scores available to any single term. Armed by the
    // scan-side experiment flag (seedMinBlocks, default off) OR by the
    // reduce-side MaxScore split (maxScoreMinBlocks, default on past 64
    // blocks) — but for the split only when the freeze is POSSIBLE: θ0 can
    // never exceed the strongest term's gmax, so unless the remaining
    // terms' gmax sum is already below it (real df skew), the seeded split
    // cannot fire and the job is pure overhead (measured: the 24-query
    // bench set has equal-frequency pairs, identical skip counts, ~30-140ms
    // wasted per armed query — the same lesson as the round-4 scan-side
    // experiment, now load-gated instead of default-off).
    val gmaxSortedDesc = ids.map(gmaxD).sorted(Ordering[Double].reverse)
    val freezePossible = !singleTerm &&
      gmaxSortedDesc.drop(1).sum * slack < gmaxSortedDesc.head
    val theta0: Double =
      if (estBlocks(dict.values) >= seedMinBlocks ||
        (freezePossible && estBlocks(dict.values) >= maxScoreMinBlocks)) {
        val tid = ids.maxBy(gmaxD)
        seedTheta(ts, tid, weights(tid), k)
      } else Double.NegativeInfinity

    val combined =
      if (singleTerm) {
        // single term: score during the scan, no combine, no shuffle
        val hits = view.blocks(ts, ids, ScoreBlock.cols)
          .as[ScoreBlock]
          .mapPartitions { blocks =>
            val w = bw.value
            val heap = new java.util.PriorityQueue[java.lang.Float](kk + 1)
            var theta = theta0
            blocks.flatMap { b =>
              val tw = w(b.term_id)
              val bound = ubD(tw, b.max_tf, b.max_nb) * slack
              if (bound < theta) { skipped.add(1); Iterator.empty }
              else {
                scanned.add(1)
                val (docs, tfs, nbs) = PostingCodec.decode(b)
                docs.indices.iterator.map { i =>
                  val s = Bm25.score(tw.weightValue, tfs(i).toFloat, tw.cache, nbs(i))
                  if (heap.size < kk) heap.offer(s)
                  else if (s > heap.peek()) { heap.poll(); heap.offer(s) }
                  if (heap.size == kk) {
                    val cand = heap.peek().toDouble
                    if (cand > theta) theta = cand
                  }
                  (docs(i), s)
                }
              }
            }
          }
        hits
      } else {
        // multi-term: prune blocks during the scan (per-term k-heaps of
        // exact clause scores bound theta), then ship the SURVIVING blocks
        // packed through the doc-range-bucketed MaxScore combine
        // (BlockCombine.combineShouldPruned) — residual postings are
        // re-scored reduce-side in canonical order; the scan-side decode
        // exists only to grow theta. skipped/scanned are counted in
        // BUCKET-COPIES (the unit of reduce decode work): the combine
        // counts each shipped copy once, the scan-side bound skip counts
        // the copies it prevented.
        import graft.codec.ScoreSpanBlock
        val tiOf: Map[Long, Int] = ids.zipWithIndex.toMap // ids sorted asc
        val bTi = spark.sparkContext.broadcast(tiOf)
        val width = PositionalScan.bucketWidth(spark, st.max_doc)
        // term-level MaxScore split metadata: ranks order terms STRONGEST
        // first; suffix(r) = sum of gmax over ranks >= r (see
        // combineShouldPruned scaladoc for the soundness argument)
        val rankedTids: Seq[Long] = ids.sortBy(t => (-gmaxD(t), t))
        val rankOfTid: Map[Long, Int] = rankedTids.zipWithIndex.toMap
        val suffix: Array[Double] = {
          val g = rankedTids.map(gmaxD).toArray
          val s = new Array[Double](g.length)
          var acc = 0.0
          var i = g.length - 1
          while (i >= 0) { acc += g(i); s(i) = acc; i -= 1 }
          s
        }
        val bRank = spark.sparkContext.broadcast(rankOfTid)
        // STATIC essential/non-essential split, decidable at the driver once
        // theta0 is known: the smallest rank whose gmax suffix cannot reach
        // theta0 starts the non-essential set. When every essential term is
        // rare enough to collect its block ranges (same phraseLeadMaxDf cap
        // as the conjunction prefilter), non-essential blocks overlapping NO
        // essential range are dropped AT THE SCAN — never shipped, never
        // decoded. Sound by the freeze argument (combineShouldPruned
        // scaladoc): suffix(splitRank)·slack < theta0 means a doc outside
        // every essential posting has total < theta0 ≤ the k-th best, and
        // with theta0 armed non-essential blocks never establish reduce-side
        // either, so a dropped block can contain no candidate.
        val splitRank: Int =
          if (theta0.isNegInfinity) ids.size
          else (1 until ids.size).find(r => suffix(r) * slack < theta0).getOrElse(ids.size)
        val essIv: Option[org.apache.spark.broadcast.Broadcast[PositionalScan.Intervals]] =
          if (splitRank >= ids.size) None
          else {
            val essTids = rankedTids.take(splitRank)
            val dfByTid: Map[Long, Long] = dict.values.map(d => d.term_id -> d.df).toMap
            if (essTids.map(dfByTid).sum > Searcher.phraseLeadMaxDf) None
            else Some(spark.sparkContext.broadcast(view.docRanges(ts, essTids)))
          }
        val splitRankEff = if (essIv.isDefined) splitRank else Int.MaxValue
        val tagged = view.blocks(ts, ids, ScoreSpanBlock.cols)
          .as[ScoreSpanBlock]
          .mapPartitions { blocks =>
            val w = bw.value
            val rest = bRest.value
            val heaps = new scala.collection.mutable.HashMap[Long, java.util.PriorityQueue[java.lang.Float]]()
            var theta = theta0
            blocks.flatMap { b =>
              val tw = w(b.term_id)
              val copies = b.last_doc / width - b.first_doc / width + 1
              val bound = (ubD(tw, b.max_tf, b.max_nb) + rest(b.term_id)) * slack
              if (bound < theta) {
                skipped.add(copies)
                Iterator.empty
              } else if (bRank.value(b.term_id) >= splitRankEff &&
                !essIv.get.value.overlaps(b.first_doc, b.last_doc)) {
                // non-essential block away from every essential-term range:
                // dropped before the shuffle (the scan-side MaxScore win)
                skipped.add(copies)
                Iterator.empty
              } else {
                // scan-side decode exists solely to grow theta: a block whose
                // scores are all <= theta (ub <= theta) cannot produce a
                // cand above it from any per-term heap — ship undecoded
                if (!(ubD(tw, b.max_tf, b.max_nb) <= theta)) {
                  val heap = heaps.getOrElseUpdate(b.term_id,
                    new java.util.PriorityQueue[java.lang.Float](kk + 1))
                  val (docs, tfs, nbs) = PostingCodec.decode(
                    ScoreBlock(b.term_id, b.first_doc, b.cnt, b.doc_bytes,
                      b.tf_bytes, b.norm_bytes, b.max_tf, b.max_nb))
                  var i = 0
                  while (i < b.cnt) {
                    val s = Bm25.score(tw.weightValue, tfs(i).toFloat, tw.cache, nbs(i))
                    if (heap.size < kk) heap.offer(s)
                    else if (s > heap.peek()) { heap.poll(); heap.offer(s) }
                    if (heap.size == kk) {
                      val cand = heap.peek().toDouble
                      if (cand > theta) theta = cand
                    }
                    i += 1
                  }
                }
                val ti = bTi.value(b.term_id)
                val rank = bRank.value(b.term_id)
                PositionalScan.buckets(b.first_doc, b.last_doc, width).map(bk =>
                  BlockCombine.TaggedM(bk, rank, ti, b.first_doc, b.last_doc,
                    b.cnt, b.doc_bytes, b.tf_bytes, b.norm_bytes,
                    b.max_tf, b.max_nb))
              }
            }
          }
        val scorers = ids.map(tid => scorer(weights(tid))).toArray
        val ubFns = ids.map(tid => ubFn(weights(tid))).toArray
        BlockCombine.combineShouldPruned(spark, tagged, scorers,
          suffix = suffix, ubFns = ubFns, rests = ids.map(restD).toArray,
          slack = slack, k = k, width = width, theta0 = theta0,
          skipped = skipped, scanned = scanned)
      }

    combined.toDF("doc_id", "score")
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
  }
}

object WandSearcher {
  /** Double-precision per-term upper bound from (max_tf, max_nb) metadata.
    * Lives on the COMPANION so the bound lambdas shipped to executors
    * capture only the TermWeight — as an instance method every
    * `(maxTf, maxNb) => ubD(tw, ...)` closure dragged `this` (and through
    * `base.spark` the whole SparkSession) into the broadcast, which
    * deserialized by luck only while the session's lazily-created
    * non-serializable fields (e.g. the observation manager) were still
    * null.
    */
  private[query] def ubD(w: Bm25.TermWeight, maxTf: Int, maxNb: Int): Double = {
    val c = w.cache(maxNb & 0xff).toDouble
    if (c.isInfinity) 0.0
    else w.weightValue.toDouble * maxTf / (maxTf + c)
  }

  /** A term's float32 scorer and its block bound — companion-side, like ubD. */
  private def scorer(w: Bm25.TermWeight): graft.score.Similarity.TermScorer =
    (tf: Float, nb: Byte) => Bm25.score(w.weightValue, tf, w.cache, nb)
  private def ubFn(w: Bm25.TermWeight): (Int, Int) => Double =
    (maxTf, maxNb) => ubD(w, maxTf, maxNb)
}
