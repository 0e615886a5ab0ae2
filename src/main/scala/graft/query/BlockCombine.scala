package graft.query

import graft.JobNames.named
import graft.codec.{PostingCodec, ScoreBlock, ScoreSpanBlock}
import graft.model.{CollectionStats, TermDictRow}
import graft.score.{Bm25, Similarity}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions.{col, element_at, typedLit}
import org.apache.spark.util.LongAccumulator

/** Doc-range co-partitioned boolean combine — the multi-term scoring pass
  * behind the exhaustive and block-max term searchers, as ONE kernel.
  *
  * The sorted-row fold this replaces shuffled one decoded row per posting
  * (doc_id, term_id, score). Here each packed scoring block travels whole,
  * keyed by the doc-range bucket(s) it overlaps (the [[PositionalScan]]
  * layout applied to the scoring projection: ~128x fewer rows, FOR-packed
  * bytes), and is decoded + scored doc-at-a-time per bucket, streaming:
  * read, decode and accumulate overlap block-at-a-time (a buffered-bucket
  * variant measured ~30% slower by serializing read and decode). Where the
  * buckets meet is [[PositionalScan.byBucket]]'s one rule: the combine is a
  * partition function ([[combine]]), and a small query's scan
  * ([[IndexView.Scan.oneTask]]) runs it in its own task after an in-memory
  * sort, in the same typed operator that tags the blocks and ranks the top
  * k, with no exchange, so one partition sees every block of the query (the
  * tightest [[KthBest]] floor); a larger one shuffles blocks by bucket and
  * combines reduce-side.
  *
  * Float32 canonical order is preserved structurally: each doc accumulates
  * its clause scores in a per-doc slot array indexed by the compact term
  * index `ti` (callers assign ti in ascending term_id / clause order), and
  * the final score sums the slots ASCENDING — the same documented canonical
  * clause-sum order as every other path, bit-identical to the BruteForce
  * oracle (DisjunctionSumScorer doc-at-a-time analog,
  * /root/reference/src/Lucene.Net/Search/DisjunctionSumScorer.cs:56,72).
  *
  * ESTABLISHMENT. Blocks arrive per bucket sorted by (rank, ti), and only
  * establishing blocks create per-doc accumulators; every later block only
  * attaches to docs already established. Without a MaxScore `suffix`, rank 0
  * establishes: the rarest MUST term when the query has one —
  * ConjunctionScorer's lead-with-rarest order
  * (Lucene.Net/Search/ConjunctionScorer.cs:118), so
  * per-doc state is sized by the rarest MUST df, not the union of all
  * clause dfs — else every positive term (NOT blocks sit at rank 1 and only
  * ever EXCLUDE established docs). With a `suffix` (pure disjunctions, rank
  * = gmax-desc position, strongest term first) blocks establish until
  * `suffix(rank) * slack < theta`: a doc not yet seen can then only hold the
  * remaining weaker terms, so its float32 total is <= suffix(rank) · slack <
  * theta <= the global k-th best verified total and it can never enter the
  * top k — the term-level essential/non-essential split (Turtle & Flood,
  * "Query evaluation: strategies and optimizations", IP&M 1995) at block
  * granularity. Either way establishment stops once per bucket and never
  * resumes, so the candidate set then FREEZES (one sorted snapshot), and a
  * later block whose doc range holds NO candidate (binary search) cannot
  * touch any accumulator: its decode is skipped — the DOC-EXACT leapfrog
  * (ConjunctionScorer.DoNext at candidate granularity), exact work
  * elimination, not a threshold decision, with no driver collect, so it
  * holds at any lead df. Every block holding a candidate decodes, so every
  * surviving doc's score is bit-identical to a full decode.
  *
  * PRUNING (optional, [[Prune]], for a ranked search that asks for it —
  * [[WandSearcher]]). Lucene 4.8 predates WAND (SURVEY.md §4.2), and classic
  * block-max WAND (Ding & Suel, SIGIR 2011) aligns per-doc cursors, which a
  * term-partitioned scan does not have; pruning here is the rank-safe
  * block-skipping form (MaxScore-style bound splitting over block-max
  * metadata), and the same plan without it is the exhaustive reference.
  * The bound algebra is driver-side arithmetic over the query's own terms
  * ([[Clauses.bounds]], no job): `ub(ti, block)` is the clause's double
  * upper bound `weightValue * max_tf / (max_tf + cache[max_nb])` from the
  * block's (max_tf, max_nb) (a score rises with tf and falls with the
  * length cache, smallest at max_nb, the shortest doc), `gmax(ti)` the
  * same bound from the dictionary's per-term maxima (over a store's
  * segments), `rest(ti)` the other clauses' summed gmax, and `slack = 1 +
  * (n+4)·1.2e-7` inflates the double past float32 fold rounding (each float
  * op rounds within 2^-24 relative; an n-term fold compounds n of them), so
  * `(ub + rest) * slack` is >= every contained doc's true float total.
  *
  * Each partition keeps the k-th best of its flushed totals ([[KthBest]]:
  * docs that passed the MUST/mm/NOT filters — order-statistics dominance
  * keeps theta sound even when some flushed scores are understated by prior
  * skips), starting at `theta0` (a sound lower bound on the global k-th best
  * total, or -inf). A non-NOT block is skipped undecoded when `(ub(block) +
  * rest(ti)) * slack < theta` — STRICT (a block whose bound equals theta can
  * still hold docs scoring exactly theta that the exhaustive tie-break
  * keeps). A doc that loses a block this way has true total < theta <= the
  * partition's k-th best verified total <= the global k-th best, so its
  * (understated or filtered) emission cannot affect membership or
  * tie-break of the final top k, while every true top-k doc's blocks all
  * survive and its score stays bit-exact. A bound-skipped establishing
  * block's docs are never established, so the frozen candidates exclude
  * them consistently everywhere. NOT blocks are never bound-skipped (they
  * exclude; dropping one could un-exclude an emitted doc) — only
  * leapfrogged, which is sound because a range without candidates holds no
  * accumulator to exclude.
  *
  * Two shapes also prune at the scan ([[Clauses.tagged]]), because there a
  * single clause's exact scores lower-bound the final totals: a pure
  * disjunction (per-term k-heaps, since every doc's total is >= each of its
  * clause scores) and a single MUST with no NOT and mm met (`+m s ...`: the
  * result set is exactly docs(m), so the MUST term's heap alone). Blocks
  * stream impact-ordered (IndexBuilder S4), so each partition's theta rises
  * from its best blocks. A pure disjunction also gets the term-level
  * MaxScore `suffix`; past the file split budget, on a scan estimated at
  * `minSeedBlocks` or more blocks with real df skew, a dictionary theta seed
  * job ([[seedTheta]]) arms it from the first block, and when the essential
  * terms are rare enough their block ranges drop non-essential blocks
  * before the shuffle. Every other shape prunes in the combine only. Under
  * tombstones nothing prunes: a dead doc's score is no lower bound on the
  * k-th live total. A single positive term scores during the scan with the
  * same bound skip ([[termPass]]). Skipped and scanned count bucket copies
  * (blocks, on the single-term pass).
  *
  * Memory: a bucket spans maxDoc/shuffle-partitions doc ids, so per-task
  * state is bounded by bucket width (and by the lead df under a MUST);
  * state is released at every bucket boundary, also when one task runs
  * every bucket of a small query. That task also buffers its tagged blocks
  * for the in-memory sort: at most the pruned postings bytes the one-task
  * rule admits (Spark's file split, 4 MB on more than one core), as bucket
  * copies share their block's byte arrays. Sizing
  * spark.sql.shuffle.partitions to the corpus (as on any shuffle) bounds
  * the per-doc state at cluster scale.
  */
object BlockCombine {

  /** A packed scoring block tagged with its bucket, establishment rank
    * and the query-local compact term index (ascending ti == the canonical
    * clause order; resolved at the scan, so segment-local term_ids are
    * fine), plus its doc-range end and block-max metadata (max_tf, max_nb)
    * so the combine can bound and leapfrog it without decoding.
    */
  final case class Block(bucket: Long, rank: Int, ti: Int, first_doc: Long,
                         last_doc: Long, cnt: Int, doc_bytes: Array[Byte],
                         tf_bytes: Array[Byte], norm_bytes: Array[Byte],
                         max_tf: Int, max_nb: Int) extends PositionalScan.Bucketed

  // derived once: a product encoder reflects over its case class
  private val BlockEncoder: Encoder[Block] = Encoders.product[Block]

  /** One copy of a scanned block per bucket it overlaps. */
  def tag(b: ScoreSpanBlock, rank: Int, ti: Int, width: Long): Iterator[Block] =
    PositionalScan.buckets(b.first_doc, b.last_doc, width).map(bk =>
      Block(bk, rank, ti, b.first_doc, b.last_doc, b.cnt, b.doc_bytes,
        b.tf_bytes, b.norm_bytes, b.max_tf, b.max_nb))

  /** A ranked search's ask for block-max pruning ([[WandSearcher]]): the
    * estimated scan size, in posting blocks, from which a pure disjunction
    * past the file split budget runs the theta seed job, and the counters
    * of skipped and scanned bucket copies.
    */
  final case class Pruning(minSeedBlocks: Long, skipped: LongAccumulator, scanned: LongAccumulator)

  /** The bound algebra of one clause plan (see the object doc) for the k
    * best hits: `tws(ti)` the clause's BM25 weight (null for a MUST_NOT-only
    * clause, which never scores), `gmax`, `rests` and `slack`; `theta0` and
    * the MaxScore `suffix(r)` (the summed gmax of ranks >= r) for a pure
    * disjunction. Task closures capture this, never a searcher or its
    * session.
    */
  final case class Prune(tws: Array[Bm25.TermWeight], gmax: Array[Double], rests: Array[Double],
                         slack: Double, k: Int, ask: Pruning,
                         theta0: Double = Double.NegativeInfinity,
                         suffix: Option[Array[Double]] = None) {
    def ub(ti: Int, maxTf: Int, maxNb: Int): Double = ubD(tws(ti), maxTf, maxNb)

    /** Every doc of a block of clause ti with upper bound `ub` totals below
      * theta (STRICT).
      */
    def below(ti: Int, ub: Double, theta: Double): Boolean = (ub + rests(ti)) * slack < theta
  }

  /** Double-precision clause upper bound from (max_tf, max_nb) metadata. */
  private def ubD(w: Bm25.TermWeight, maxTf: Int, maxNb: Int): Double = {
    val c = w.cache(maxNb & 0xff).toDouble
    if (c.isInfinity) 0.0
    else w.weightValue.toDouble * maxTf / (maxTf + c)
  }

  /** The k-th best float32 score offered so far, as a double threshold that
    * only grows from `theta0` — the per-partition top-k floor
    * (Cache-Efficient Top-k Aggregation over High Cardinality Large
    * Datasets, VLDB 2023). Any k distinct docs' scores that lower-bound
    * their final totals make it a sound lower bound on the k-th best total.
    */
  final class KthBest(k: Int, theta0: Double = Double.NegativeInfinity) {
    private val heap = new java.util.PriorityQueue[java.lang.Float](k + 1)
    private var t = theta0
    def theta: Double = t
    def offer(s: Float): Unit = if (k > 0) {
      if (heap.size < k) heap.offer(s)
      else if (s > heap.peek()) { heap.poll(); heap.offer(s) }
      if (heap.size == k) {
        val c = heap.peek().toDouble
        if (c > t) t = c
      }
    }
  }

  /** A flat boolean clause list planned for the combine — the one setup the
    * exhaustive and pruned searchers share, so both agree on which docs can
    * match: distinct MUST/SHOULD/NOT, present terms only, ids ascending
    * (`tids(ti)`), and the rarest MUST as the establishing lead.
    */
  final class Clauses private (val ts: IndexView.Terms, val should: Seq[String],
                               val mm: Int, val pos: Seq[TermDictRow],
                               val tids: Array[Long], val isMust: Array[Boolean],
                               val isNot: Array[Boolean], lead: Option[TermDictRow]) {
    val nMust: Int = isMust.count(identity)

    /** Rank by ti: MUST_NOT terms never establish docs; with a MUST lead,
      * only it does.
      */
    val ranks: Array[Int] = tids.indices.map(ti =>
      if (isNot(ti)) 1 else lead.fold(0)(l => if (tids(ti) == l.term_id) 0 else 1)).toArray

    /** The clause scan: its blocks and whether they come in one task
      * ([[IndexView.Scan.oneTask]]). When the scan takes more than one task
      * and the lead is selective (df <= [[Searcher.phraseLeadMaxDf]]), its
      * block ranges prune every other term's blocks before the shuffle; in
      * one task the combine's leapfrog does that work with no collect.
      */
    def scan(spark: SparkSession, view: IndexView): (Dataset[ScoreSpanBlock], Boolean) = {
      val s = view.scan(ts, tids.toSeq, ScoreSpanBlock.cols)
      var blocks = s.rows.as(PositionalScan.Rows.scoreSpanBlock)
      lead.filter(l => !s.oneTask && l.df <= Searcher.phraseLeadMaxDf && tids.length > 1).foreach { l =>
        val bIv = spark.sparkContext.broadcast(view.docRanges(ts, Seq(l.term_id)))
        blocks = blocks.filter(b => bIv.value.overlaps(b.first_doc, b.last_doc))
      }
      (blocks, s.oneTask)
    }

    /** Tags each scanned clause block for [[combine]] by its ti and rank. */
    private def tagger(width: Long): Iterator[ScoreSpanBlock] => Iterator[Block] = {
      val tiOf: Map[Long, Int] = tids.zipWithIndex.toMap
      val rk = ranks
      _.flatMap { b =>
        val ti = tiOf(b.term_id)
        tag(b, rk(ti), ti, width)
      }
    }

    /** The bound algebra of this plan for the k best hits, from the
      * dictionary's per-term maxima; None when a positive clause weighs
      * below zero, since every bound assumes non-negative clause scores.
      */
    def bounds(stats: CollectionStats, boosts: Map[String, Float], k: Int,
               ask: Pruning): Option[Prune] = {
      val byId = pos.map(d => d.term_id -> d).toMap
      val tws = tids.map(t => byId.get(t).map(d =>
        Bm25.termWeight(t, d.df, stats.max_doc, stats.sum_ttf, boosts(d.term))).orNull)
      if (tws.exists(w => w != null && !(w.weightValue >= 0.0f))) None
      else {
        // NOT clauses never score, so they add nothing to a bound or a rest
        val gmax = tids.indices.map(ti => byId.get(tids(ti))
          .fold(0.0)(d => ubD(tws(ti), d.max_tf, d.max_nb))).toArray
        val rests = tids.indices.map(i => tids.indices.iterator.filter(_ != i).map(gmax).sum).toArray
        Some(Prune(tws, gmax, rests, 1.0 + (tids.length + 4) * 1.2e-7, k, ask))
      }
    }

    /** The multi-term scan's tagger and, with `prune`, the combine's
      * [[Prune]] for this plan's shape (see the object doc). Unpruned or
      * pruned in the combine only, blocks are tagged by [[tagger]]. A pure
      * disjunction ranks terms strongest first (gmax desc) and, past the
      * file split budget, may seed theta0 and drop non-essential blocks; a
      * single MUST's own clause scores raise the scan's theta.
      */
    def tagged(spark: SparkSession, view: IndexView, prune: Option[Prune], oneTask: Boolean,
               width: Long): (Iterator[ScoreSpanBlock] => Iterator[Block], Option[Prune]) = {
      val pr = prune.orNull
      val noNot = !isNot.contains(true)
      if (pr != null && noNot && nMust == 1 && mm == 0)
        (scanTagger(pr, tids, ranks, isMust, width, None), prune)
      else if (pr == null || !noNot || nMust != 0 || mm > 1) (tagger(width), prune)
      else {
        val n = tids.length
        val order = tids.indices.sortBy(ti => (-pr.gmax(ti), ti))
        val rankOf = new Array[Int](n)
        order.indices.foreach(r => rankOf(order(r)) = r)
        val g = order.map(pr.gmax).toArray
        val suffix = g.scanRight(0.0)(_ + _).dropRight(1)
        // the seed cannot lift theta0 past the strongest term's gmax, so it
        // runs only when the others' gmax sum is below it (real df skew); a
        // one-task scan never seeds, since its one partition sees every block
        val freezePossible = g.drop(1).sum * pr.slack < g.head
        val blocks = pos.iterator.map(d => (d.df + PostingCodec.BlockSize - 1) / PostingCodec.BlockSize).sum
        val theta0 =
          if (!oneTask && freezePossible && blocks >= pr.ask.minSeedBlocks)
            seedTheta(spark, view, ts, tids(order.head), pr.tws(order.head), pr.k)
          else Double.NegativeInfinity
        // the static essential split: a doc outside every essential posting
        // totals at most suffix(splitRank)·slack < theta0 <= the k-th best,
        // so non-essential blocks overlapping no essential range cannot hold
        // a candidate and drop at the scan when the essential terms are rare
        // enough to collect their ranges
        val splitRank =
          if (theta0.isNegInfinity) n
          else (1 until n).find(r => suffix(r) * pr.slack < theta0).getOrElse(n)
        val dfOf = pos.map(d => d.term_id -> d.df).toMap
        val essential = Option.when(splitRank < n)(order.take(splitRank).map(tids))
          .filter(_.map(dfOf).sum <= Searcher.phraseLeadMaxDf)
          .map(ess => (splitRank, spark.sparkContext.broadcast(view.docRanges(ts, ess))))
        val p = pr.copy(theta0 = theta0, suffix = Some(suffix))
        (scanTagger(p, tids, rankOf, Array.fill(n)(true), width, essential), Some(p))
      }
    }
  }

  object Clauses {
    /** None when the query provably matches nothing: a MUST term absent from
      * the index (conjunction semantics) or no positive term present.
      */
    def plan(view: IndexView, must0: Seq[String], should0: Seq[String],
             not0: Seq[String], mm0: Int): Option[Clauses] = {
      val must = must0.distinct
      val shouldAll = should0.distinct
      val should = shouldAll.filterNot(must.contains)
      // A term that is both MUST and SHOULD is deduped to one MUST clause, but
      // its SHOULD clause is satisfied on EVERY doc passing the conjunction
      // (the doc provably contains the term) — credit those toward
      // minShouldMatch so Bool(must=[a], should=[a], mm=1) keeps the
      // reference's duplicate-clause semantics. (Scores stay deduped: one
      // contribution per distinct term — documented divergence from
      // double-counting duplicate clauses.)
      val mm = math.max(0, mm0 - shouldAll.count(must.contains))
      val mustNot = not0.distinct
      val ts = view.lookup(must ++ should ++ mustNot)
      val dict = ts.rows
      if (must.exists(t => !dict.contains(t)) || (must ++ should).forall(t => !dict.contains(t)))
        None
      else {
        val pos = (must ++ should).flatMap(dict.get)
        val mustIds = must.map(dict(_).term_id).toSet
        val notIds = mustNot.flatMap(dict.get).map(_.term_id).toSet
        // compact ti ascending term_id == the canonical clause-sum order
        val tids = (pos.map(_.term_id).toSet ++ notIds).toArray.sorted
        val byId = dict.values.map(d => d.term_id -> d).toMap
        val lead = mustIds.minByOption(byId(_).df).map(byId)
        Some(new Clauses(ts, should, mm, pos, tids, tids.map(mustIds.contains),
          tids.map(notIds.contains), lead))
      }
    }
  }

  /** The scan-side prune of the shapes whose single-clause scores
    * lower-bound the final totals: a block whose bound is below the
    * partition's theta, or a non-essential one (rank >= the split rank)
    * overlapping no essential range, is dropped and its bucket copies
    * counted skipped; a block of a clause that `grows` theta and whose bound
    * can pass it offers its exact scores to that clause's k-th best. The
    * decode exists only to raise theta: the combine re-scores every block
    * it keeps.
    */
  private def scanTagger(pr: Prune, tids: Array[Long], ranks: Array[Int], grows: Array[Boolean],
                         width: Long, essential: Option[(Int, Broadcast[PositionalScan.Intervals])])
      : Iterator[ScoreSpanBlock] => Iterator[Block] = {
    val tiOf: Map[Long, Int] = tids.zipWithIndex.toMap
    val splitRank = essential.fold(Int.MaxValue)(_._1)
    val ess = essential.map(_._2).orNull
    blocks => {
      val heaps = new Array[KthBest](tids.length)
      var theta = pr.theta0
      blocks.flatMap { b =>
        val ti = tiOf(b.term_id)
        val ub = pr.ub(ti, b.max_tf, b.max_nb)
        if (pr.below(ti, ub, theta) ||
          ranks(ti) >= splitRank && !ess.value.overlaps(b.first_doc, b.last_doc)) {
          pr.ask.skipped.add(b.last_doc / width - b.first_doc / width + 1)
          Iterator.empty
        } else {
          if (grows(ti) && !(ub <= theta)) {
            if (heaps(ti) == null) heaps(ti) = new KthBest(pr.k)
            offerScores(heaps(ti), pr.tws(ti), b)
            if (heaps(ti).theta > theta) theta = heaps(ti).theta
          }
          tag(b, ranks(ti), ti, width)
        }
      }
    }
  }

  /** Offer a block's exact float32 clause scores to a k-th best threshold. */
  private def offerScores(best: KthBest, tw: Bm25.TermWeight, b: ScoreSpanBlock): Unit = {
    val (_, tfs) = PostingCodec.decodeDocsTfs(b.first_doc, b.cnt, b.doc_bytes, b.tf_bytes)
    var i = 0
    while (i < b.cnt) {
      best.offer(Bm25.score(tw.weightValue, tfs(i).toFloat, tw.cache, b.norm_bytes(i)))
      i += 1
    }
  }

  /** A single positive term's pass: every kept block's postings scored
    * during the scan. With `pr` (null: exhaustive), a block whose bound is
    * below the k-th best score emitted so far is skipped undecoded, and
    * every block counts as skipped or scanned.
    */
  def termPass(scorer: Similarity.TermScorer, pr: Prune): Iterator[ScoreBlock] => Iterator[(Long, Float)] = {
    blocks =>
      val best = if (pr == null) null else new KthBest(pr.k)
      blocks.flatMap { b =>
        if (best != null && pr.below(0, pr.ub(0, b.max_tf, b.max_nb), best.theta)) {
          pr.ask.skipped.add(1)
          Iterator.empty
        } else {
          if (best != null) pr.ask.scanned.add(1)
          val (docs, tfs, norms) = PostingCodec.decode(b)
          docs.indices.iterator.map { i =>
            val s = scorer.score(tfs(i).toFloat, norms(i))
            if (best != null) best.offer(s)
            (docs(i), s)
          }
        }
      }
  }

  /** Dictionary-seeded theta0 for a pure disjunction: the k-th best exact
    * float32 clause score in the seed term's few best blocks (by the same
    * ub the skip test uses), read by one pushdown-pruned TakeOrdered job.
    * Sound: those are >= k distinct docs of one term, and every doc's total
    * is >= its own clause score; every partition then opens with a live
    * threshold instead of growing one from -inf on its own. -inf when the
    * seed blocks hold fewer than k postings.
    */
  private def seedTheta(spark: SparkSession, view: IndexView, ts: IndexView.Terms, tid: Long,
                        w: Bm25.TermWeight, k: Int): Double = {
    val ubCol = col("max_tf").cast("double") /
      (col("max_tf").cast("double") +
        element_at(typedLit(w.cache.toSeq), col("max_nb") + 1).cast("double"))
    val nBlocks = math.max(1, (k + PostingCodec.BlockSize - 1) / PostingCodec.BlockSize + 1)
    val rows = named(spark, "graft: WAND theta seed") {
      view.blocks(ts, Seq(tid), ScoreBlock.cols)
        .orderBy(ubCol.desc, col("first_doc").asc)
        .limit(nBlocks)
        .as(PositionalScan.Rows.scoreBlock).collect()
    }
    val scores = rows.iterator.flatMap { b =>
      val (_, tfs, nbs) = PostingCodec.decode(b)
      tfs.indices.iterator.map(i => Bm25.score(w.weightValue, tfs(i).toFloat, w.cache, nbs(i)))
    }.toArray
    if (k <= 0 || scores.length < k) Double.NegativeInfinity
    else {
      java.util.Arrays.sort(scores)
      scores(scores.length - k).toDouble
    }
  }

  private final class DocAcc(nTis: Int) {
    val s = new Array[Float](nTis)
    java.util.Arrays.fill(s, Float.NaN)
    var excluded = false
  }

  /** The combine kernel: tagged blocks of one partition, sorted by (bucket,
    * rank, ti) ([[PositionalScan.byBucket]]), into per-doc boolean-filtered
    * scores. `scorers(ti)` scores that clause's postings (null => MUST_NOT:
    * presence-only); `isMust(ti)`/`isNot(ti)` classify; `nMust` counts
    * distinct MUST clauses; `mm` is minimum-should-match. With `prune`, the
    * bound skips and the MaxScore establishment rule of the object doc
    * apply, and every bucket copy counts as skipped or scanned.
    */
  def combine(scorers: Array[Similarity.TermScorer], isMust: Array[Boolean],
              isNot: Array[Boolean], nMust: Int, mm: Int, width: Long,
              prune: Option[Prune] = None): PositionalScan.Kernel[Block] = {
    val nTis = scorers.length
    val pr = prune.orNull
    PositionalScan.Kernel(Seq("bucket", "rank", "ti"), { it =>
      val best = if (pr == null) null else new KthBest(pr.k, pr.theta0)
      val suffix = if (pr == null) null else pr.suffix.orNull
      val perDoc = new scala.collection.mutable.LongMap[DocAcc]()
      var curBucket = Long.MinValue
      var establishing = true      // flips once per bucket, never back
      var cand: Array[Long] = null // frozen sorted candidates of the bucket

      def anyCandidateIn(first: Long, last: Long): Boolean = {
        if (cand == null) {
          cand = perDoc.keysIterator.toArray
          java.util.Arrays.sort(cand)
        }
        var loI = 0
        var hiI = cand.length
        while (loI < hiI) {
          val mid = (loI + hiI) >>> 1
          if (cand(mid) < first) loI = mid + 1 else hiI = mid
        }
        loI < cand.length && cand(loI) <= last
      }

      def flush(): Iterator[(Long, Float)] = {
        cand = null
        establishing = true
        val out = perDoc.iterator.flatMap { case (doc, acc) =>
          var mustSeen = 0
          var shouldSeen = 0
          var score = 0.0f
          var i = 0
          while (i < nTis) {
            val v = acc.s(i)
            if (!v.isNaN) {
              if (isMust(i)) mustSeen += 1 else shouldSeen += 1
              score += v
            }
            i += 1
          }
          if (!acc.excluded && mustSeen == nMust && shouldSeen >= mm &&
            (mustSeen + shouldSeen) > 0) Iterator.single((doc, score))
          else Iterator.empty
        }.toArray
        perDoc.clear()
        if (best != null) out.foreach(h => best.offer(h._2))
        out.iterator
      }

      def addBlock(b: Block): Unit = {
        val ti = b.ti
        if (pr != null && !isNot(ti) && pr.tws(ti) != null &&
          pr.below(ti, pr.ub(ti, b.max_tf, b.max_nb), best.theta)) {
          pr.ask.skipped.add(1)
          return
        }
        if (establishing &&
          (if (suffix == null) b.rank > 0 else suffix(b.rank) * pr.slack < best.theta))
          establishing = false
        val lo = b.bucket * width
        val hi = lo + width
        if (!establishing && !anyCandidateIn(math.max(b.first_doc, lo),
          math.min(b.last_doc, hi - 1))) {
          if (pr != null) pr.ask.skipped.add(1)
          return
        }
        if (pr != null) pr.ask.scanned.add(1)
        val scorer = scorers(ti)
        val (docs, tfs) = PostingCodec.decodeDocsTfs(b.first_doc, b.cnt,
          b.doc_bytes, b.tf_bytes)
        var i = 0
        while (i < b.cnt) {
          val d = docs(i)
          if (d >= lo && d < hi) {
            var acc = perDoc.getOrNull(d)
            if (acc == null && establishing) {
              acc = new DocAcc(nTis)
              perDoc.update(d, acc)
            }
            if (acc != null) {
              if (isNot(ti)) acc.excluded = true
              else acc.s(ti) = scorer.score(tfs(i).toFloat, b.norm_bytes(i))
            }
          }
          i += 1
        }
      }

      new scala.collection.AbstractIterator[(Long, Float)] {
        private var pendingFlush: Iterator[(Long, Float)] = Iterator.empty
        private var done = false
        private def advance(): Unit = {
          while (!pendingFlush.hasNext && !done) {
            if (it.hasNext) {
              val b = it.next()
              if (b.bucket != curBucket) {
                pendingFlush = flush()
                curBucket = b.bucket
              }
              addBlock(b)
            } else {
              pendingFlush = flush()
              done = true
            }
          }
        }
        advance()
        override def hasNext: Boolean = pendingFlush.hasNext
        override def next(): (Long, Float) = {
          val h = pendingFlush.next()
          advance()
          h
        }
      }
    }, BlockEncoder)
  }
}
