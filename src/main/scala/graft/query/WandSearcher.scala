package graft.query

import graft.JobNames.named
import graft.codec.{PostingCodec, ScoreBlock, ScoreSpanBlock}
import graft.model.TermDictRow
import graft.score.Bm25
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator
import WandSearcher.{offerScores, scorer, ubD, ubFn}

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
  * Residual blocks decode + float32-score reduce-side in the exhaustive
  * path's own combine kernel ([[BlockCombine.combine]], here with its
  * optional reduce-side pruning) — any doc that could reach the top k has
  * every one of its blocks scanned (its total ≤ each such block's bound,
  * which is then ≥ θ), so results are rank- and score-identical
  * (equivalence-tested in WandSpec; the shared kernel itself is checked
  * against the BruteForce oracle in RandomQuerySpec).
  *
  * ub_i(b) = weightValue_i * max_tf / (max_tf + cache[max_nb]): the real
  * function is monotone ↑tf and ↓cache; max_nb (largest norm byte = shortest
  * doc) gives the smallest cache value (block-max metadata laid down at build
  * time, graft.codec.PostingBlock).
  */
final class WandSearcher(@transient spark: SparkSession, indexDir: String,
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
      // MUST / NOT / residual min-should-match: see searchBoolPruned
      searchBoolPruned(must, should, mustNot, mm, k)
    case other =>
      // nested/phrase/constant-score shapes run on the exhaustive path
      // (same results, no pruning).
      base.search(other, k)
  }

  /** Minimum estimated scan size (posting blocks over the query's terms)
    * before the dictionary θ-seed job runs to arm the REDUCE-side term-level
    * MaxScore split (see [[BlockCombine]]). DEFAULT ON at 64 blocks: the
    * reduce side has exactly ONE bucket per partition in the default
    * geometry and therefore never develops a θ before its only flush; the
    * seed is what makes the essential/non-essential split live from the
    * first block. The scan side needs no seed: every scan partition is a
    * range cut whose blocks stream impact-ordered, so its local θ reaches
    * the cut's ceiling after the first decoded block (measured: no change
    * in skip counts at a 70k-conv corpus). The seed job itself reads only
    * (k/128+1) blocks of one term.
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
    val rows = named(spark, "graft: WAND theta seed") {
      view.blocks(ts, Seq(seedTid), ScoreBlock.cols)
        .orderBy(ubCol.desc, col("first_doc").asc)
        .limit(nBlocks)
        .as[ScoreBlock].collect()
    }
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

  /** Fresh skipped/scanned block counters, published as the last search's. */
  private def counters(): (LongAccumulator, LongAccumulator) = {
    val skipped = spark.sparkContext.longAccumulator("wand.skippedBlocks")
    val scanned = spark.sparkContext.longAccumulator("wand.scannedBlocks")
    lastSkipped = Some(skipped)
    lastScanned = Some(scanned)
    (skipped, scanned)
  }

  /** Boolean top-k for every flat shape with a MUST, a NOT or a residual
    * minShouldMatch: the exhaustive path's clause plan
    * ([[BlockCombine.Clauses]], so both agree on which docs can match and
    * stay bit-identical) plus reduce-side prune parameters. Scan-side
    * clause-score heaps are UNSOUND here in general (the k-th best
    * single-clause score over one term's postings can exceed the k-th best
    * total over the smaller intersection/filtered result set), so the scan
    * ships packed blocks with their (max_tf, max_nb) metadata and the
    * combine prunes against verified totals — doc-exact leapfrog plus
    * block bounds, see [[BlockCombine]].
    *
    * One exception: a single MUST with no NOT and mm satisfied
    * (`+m s1 s2 ...`, the everyday conjunction). The result set is then
    * EXACTLY docs(m) and every clause score is non-negative, so any doc of m
    * has final total >= its m-clause score — a per-partition k-th best of
    * exact m-clause scores lower-bounds the k-th best FINAL total, and the
    * scan bound-skips every term's blocks by the disjunction algebra:
    * bound(b of i) = (ub_i(b) + Σ_{j≠i} gmax_j) * slack >= any contained
    * doc's true float total (MUST only shrinks who matches, never raises
    * scores). A skipped doc's total < theta <= k-th best total, so it cannot
    * enter the top k (if its MUST evidence was skipped it is dropped
    * entirely — equally fine), while every true top-k doc's blocks all
    * survive so its score stays exact. SHOULD-term postings never grow
    * theta (a should doc needn't match m). This scan runs no lead-range
    * prefilter; its leapfrog is the combine's.
    */
  private def searchBoolPruned(must: Seq[String], should: Seq[String],
                               mustNot: Seq[String], mm: Int, k: Int): DataFrame =
    BlockCombine.Clauses.plan(view, must, should, mustNot, mm).fold(emptyResult) { p =>
      val st = base.stats
      val weights: Map[Long, Bm25.TermWeight] = p.pos.map(d =>
        d.term_id -> Bm25.termWeight(d.term_id, d.df, st.max_doc, st.sum_ttf, 1.0f)).toMap
      // NOT clauses never score, so they add nothing to a bound or a rest
      val gmaxD: Map[Long, Double] = p.pos.map(d =>
        d.term_id -> ubD(weights(d.term_id), d.max_tf, d.max_nb)).toMap.withDefaultValue(0.0)
      val tids = p.tids
      val rests = tids.map(i => tids.iterator.filter(_ != i).map(gmaxD).sum)
      val slack: Double = 1.0 + (tids.length + 4) * 1.2e-7
      val (skipped, scanned) = counters()
      // the exhaustive geometry: one bucket per reduce partition (finer
      // buckets replicate blocks that span several of them, and the
      // block-granular leapfrog that does the real conjunction pruning is
      // width-independent)
      val width = PositionalScan.bucketWidth(spark, st.max_doc)
      val (blocks, one, tag) =
        if (mustNot.nonEmpty || p.nMust != 1 || p.mm != 0) {
          val (blocks, one) = p.scan(spark, view)
          (blocks, one, p.tagger(width))
        } else {
          val mId = tids(p.isMust.indexOf(true))
          val tiOf: Map[Long, Int] = tids.zipWithIndex.toMap
          val ranks = p.ranks
          val scan = view.scan(p.ts, tids.toSeq, ScoreSpanBlock.cols)
          val tag: Iterator[ScoreSpanBlock] => Iterator[BlockCombine.Block] = { blocks =>
            val best = new BlockCombine.KthBest(k)
            blocks.flatMap { b =>
              val ti = tiOf(b.term_id)
              val tw = weights(b.term_id)
              val ub = ubD(tw, b.max_tf, b.max_nb)
              if ((ub + rests(ti)) * slack < best.theta) {
                skipped.add(b.last_doc / width - b.first_doc / width + 1)
                Iterator.empty
              } else {
                // only the MUST term's clause scores may grow theta — and
                // only a block whose own ub can exceed the k-th best can
                // raise it (the scan-side decode exists solely for theta;
                // the reduce side re-scores every surviving block)
                if (b.term_id == mId && !(ub <= best.theta)) offerScores(best, tw, b)
                BlockCombine.tag(b, ranks(ti), ti, width)
              }
            }
          }
          (scan.rows.as(PositionalScan.Rows.scoreSpanBlock), scan.oneTask, tag)
        }
      val prune = BlockCombine.Prune(tids.map(t => weights.get(t).map(ubFn).orNull),
        rests, slack, k, skipped, scanned)
      view.top(PositionalScan.byBucket(blocks, one, tag,
        BlockCombine.combine(tids.map(t => weights.get(t).map(scorer).orNull),
          p.isMust, p.isNot, p.nMust, p.mm, width, Some(prune)), Some(view.rank(k))), k)
    }

  private def searchShould(terms: Seq[(String, Float)], k: Int): DataFrame = {
    val boosts: Map[String, Float] = terms.groupBy(_._1).map { case (t, cs) => t -> cs.head._2 }
    val ts = view.lookup(terms.map(_._1).distinct)
    val dict: Map[String, TermDictRow] = ts.rows
    if (dict.isEmpty) return emptyResult
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
    val (skipped, scanned) = counters()
    if (ids.size == 1) {
      // single term: score during the scan, no combine, no shuffle
      val tw = weights(ids.head)
      val scan = view.scan(ts, ids, ScoreBlock.cols)
      return view.top(PositionalScan.scored(scan.rows.as(PositionalScan.Rows.scoreBlock), scan.oneTask,
        Some(view.rank(k))) { blocks =>
        val best = new BlockCombine.KthBest(k)
        blocks.flatMap { b =>
          if (ubD(tw, b.max_tf, b.max_nb) * slack < best.theta) {
            skipped.add(1)
            Iterator.empty
          } else {
            scanned.add(1)
            val (docs, tfs, nbs) = PostingCodec.decode(b)
            docs.indices.iterator.map { i =>
              val s = Bm25.score(tw.weightValue, tfs(i).toFloat, tw.cache, nbs(i))
              best.offer(s)
              (docs(i), s)
            }
          }
        }
      }, k)
    }

    // multi-term: prune blocks during the scan (per-term k-th best exact
    // clause scores bound theta), then ship the SURVIVING blocks packed
    // through the doc-range-bucketed MaxScore combine ([[BlockCombine]]) —
    // residual postings are re-scored reduce-side in canonical order; the
    // scan-side decode exists only to grow theta. skipped/scanned are
    // counted in BUCKET-COPIES (the unit of reduce decode work): the combine
    // counts each shipped copy once, the scan-side bound skip counts the
    // copies it prevented.
    //
    // Seed from the strongest term (largest global ub): its best blocks hold
    // the highest clause scores available to any single term. Armed by the
    // reduce-side MaxScore split (maxScoreMinBlocks, default on past 64
    // blocks) — but only when the freeze is POSSIBLE: θ0 can never exceed
    // the strongest term's gmax, so unless the remaining terms' gmax sum is
    // already below it (real df skew), the seeded split cannot fire and the
    // job is pure overhead (measured: the 24-query bench set has
    // equal-frequency pairs, identical skip counts, ~30-140ms wasted per
    // armed query). A one-task scan ([[IndexView.Scan.oneTask]]) never
    // seeds: its single partition sees every block, so the combine's own
    // k-th best floor rises bucket by bucket, and a seed job would cost more
    // than the whole query.
    val scan = view.scan(ts, ids, ScoreSpanBlock.cols)
    val one = scan.oneTask
    val gmaxSortedDesc = ids.map(gmaxD).sorted(Ordering[Double].reverse)
    val freezePossible = gmaxSortedDesc.drop(1).sum * slack < gmaxSortedDesc.head
    val theta0: Double =
      if (!one && freezePossible && estBlocks(dict.values) >= maxScoreMinBlocks) {
        val tid = ids.maxBy(gmaxD)
        seedTheta(ts, tid, weights(tid), k)
      } else Double.NegativeInfinity

    val tiOf: Map[Long, Int] = ids.zipWithIndex.toMap // ids sorted asc
    val width = PositionalScan.bucketWidth(spark, st.max_doc)
    // term-level MaxScore split metadata: ranks order terms STRONGEST
    // first; suffix(r) = sum of gmax over ranks >= r (see the BlockCombine
    // doc for the soundness argument)
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
    // STATIC essential/non-essential split, decidable at the driver once
    // theta0 is known: the smallest rank whose gmax suffix cannot reach
    // theta0 starts the non-essential set. When every essential term is
    // rare enough to collect its block ranges (same phraseLeadMaxDf cap
    // as the conjunction prefilter), non-essential blocks overlapping NO
    // essential range are dropped AT THE SCAN — never shipped, never
    // decoded. Sound by the freeze argument (BlockCombine doc):
    // suffix(splitRank)·slack < theta0 means a doc outside every essential
    // posting has total < theta0 ≤ the k-th best, and with theta0 armed
    // non-essential blocks never establish reduce-side either, so a
    // dropped block can contain no candidate.
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
    val tag: Iterator[ScoreSpanBlock] => Iterator[BlockCombine.Block] = { blocks =>
      val heaps = new scala.collection.mutable.HashMap[Long, BlockCombine.KthBest]()
      var theta = theta0
      blocks.flatMap { b =>
        val tw = weights(b.term_id)
        val copies = b.last_doc / width - b.first_doc / width + 1
        val bound = (ubD(tw, b.max_tf, b.max_nb) + restD(b.term_id)) * slack
        if (bound < theta) {
          skipped.add(copies)
          Iterator.empty
        } else if (rankOfTid(b.term_id) >= splitRankEff &&
          !essIv.get.value.overlaps(b.first_doc, b.last_doc)) {
          // non-essential block away from every essential-term range:
          // dropped before the shuffle (the scan-side MaxScore win)
          skipped.add(copies)
          Iterator.empty
        } else {
          // scan-side decode exists solely to grow theta: a block whose
          // scores are all <= theta (ub <= theta) cannot produce a
          // k-th best above it from any per-term heap — ship undecoded
          if (!(ubD(tw, b.max_tf, b.max_nb) <= theta)) {
            val heap = heaps.getOrElseUpdate(b.term_id, new BlockCombine.KthBest(k))
            offerScores(heap, tw, b)
            if (heap.theta > theta) theta = heap.theta
          }
          BlockCombine.tag(b, rankOfTid(b.term_id), tiOf(b.term_id), width)
        }
      }
    }
    val prune = BlockCombine.Prune(ids.map(tid => ubFn(weights(tid))).toArray,
      ids.map(restD).toArray, slack, k, skipped, scanned, theta0, Some(suffix))
    val none = Array.fill(ids.size)(false)
    view.top(PositionalScan.byBucket(scan.rows.as(PositionalScan.Rows.scoreSpanBlock), one, tag,
      BlockCombine.combine(ids.map(tid => scorer(weights(tid))).toArray,
        none, none, nMust = 0, mm = 0, width, Some(prune)), Some(view.rank(k))), k)
  }

  private def emptyResult: DataFrame =
    spark.emptyDataset[(Long, Float)].toDF("doc_id", "score")
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

  /** Offer a block's exact float32 clause scores to a k-th best threshold. */
  private def offerScores(best: BlockCombine.KthBest, tw: Bm25.TermWeight,
                          b: ScoreSpanBlock): Unit = {
    val (_, tfs) = PostingCodec.decodeDocsTfs(b.first_doc, b.cnt, b.doc_bytes, b.tf_bytes)
    var i = 0
    while (i < b.cnt) {
      best.offer(Bm25.score(tw.weightValue, tfs(i).toFloat, tw.cache, b.norm_bytes(i)))
      i += 1
    }
  }

  /** A term's float32 scorer and its block bound — companion-side, like ubD. */
  private def scorer(w: Bm25.TermWeight): graft.score.Similarity.TermScorer =
    (tf: Float, nb: Byte) => Bm25.score(w.weightValue, tf, w.cache, nb)
  private def ubFn(w: Bm25.TermWeight): (Int, Int) => Double =
    (maxTf, maxNb) => ubD(w, maxTf, maxNb)
}
