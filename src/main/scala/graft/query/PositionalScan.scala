package graft.query

import graft.codec.{ForCodec, PosSpanBlock, PostingCodec, ScoreBlock, ScoreSpanBlock}
import graft.score.Bm25
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions.col

/** Doc-range co-partitioned positional scoring — the kernel behind
  * exact/sloppy [[Query.Phrase]] and [[Query.MultiPhrase]] in [[Searcher]],
  * over batch indexes and streaming stores alike (an [[IndexView]] feeds it
  * one relation of blocks whose doc ids are unique across segments).
  *
  * The postings table is term-partitioned, so aligning positions across the
  * phrase's terms needs the blocks of one doc range together. Shuffling
  * DECODED rows (one per posting, carrying an Array[Int] of positions) is
  * ~128x more rows and ~4-8x more bytes than the source blocks; instead each
  * packed block travels whole, keyed by the doc-range bucket(s)
  * [first_doc/R, last_doc/R] it overlaps (R sized so ~one bucket per shuffle
  * partition), and is decoded doc-at-a-time per bucket — the distributed
  * analog of ExactPhraseScorer's per-doc cursor alignment
  * (/root/reference/src/Lucene.Net/Search/ExactPhraseScorer.cs:237-349),
  * with the flat skip-list metadata (first_doc/last_doc) doing double duty
  * as the partitioner key. A dense block overlaps 1-2 buckets; a sparse
  * (rare-term) block may replicate to several, but rare terms have few
  * blocks, so replication is bounded by min(df/128, nBuckets) small rows.
  * [[byBucket]] is the one place that groups blocks by bucket and runs a
  * kernel over them: a one-task scan ([[IndexView.Scan.oneTask]]) tags,
  * sorts, scores and ranks its blocks in its own task, as one typed
  * operator with no exchange; a larger one goes through the bucket
  * exchange. [[byDoc]] is the one per-doc fold: the nested boolean,
  * DisMax, PayloadNear and span paths shuffle their rows by doc_id through
  * it and fold each doc's rows together.
  *
  * Scoring matches the decoded-row fold it replaces bit-for-bit: one norm
  * byte per doc (norms are per-doc, identical across a doc's term rows),
  * slot position lists = sorted-distinct union of the slot's alternatives
  * present in the doc (MultiPhraseQuery union semantics), freq = exact
  * alignment count (slop 0) or the reference window walk ([[SloppyPhrase]]),
  * one float32 BM25 score per doc.
  */
object PositionalScan {

  /** A tagged block as a per-bucket pass reads it: its doc-range bucket,
    * its establishment rank and its query-local compact term index.
    */
  trait Bucketed {
    def bucket: Long
    def rank: Int
    def ti: Int
  }

  /** A packed positions block tagged with its bucket and the
    * query-local compact term index `ti` (term_ids are segment-local, so the
    * tag is resolved BEFORE blocks of several segments meet). `rank` is 0 for
    * the rarest slot's terms and 1
    * otherwise: partitions sort on (bucket, rank), so the per-bucket pass
    * streams the lead slot FIRST and every other term attaches only to docs
    * the lead slot established — the per-doc state is sized by the rarest
    * df, not the union, and non-candidate postings skip position decoding
    * (lead-with-rarest conjunction order, ExactPhraseScorer.cs:118).
    */
  final case class Tagged(bucket: Long, rank: Int, ti: Int, first_doc: Long,
                          cnt: Int, doc_bytes: Array[Byte], tf_bytes: Array[Byte],
                          norm_bytes: Array[Byte], pos_bytes: Array[Byte]) extends Bucketed

  /** A scoring kernel as a partition function: `pass` reads one partition's
    * tagged blocks grouped by bucket and sorted by `order` (columns of the
    * tagged type, whose rows `encoder` carries through an exchange) and
    * emits (doc_id, score) hits.
    */
  final case class Kernel[T](order: Seq[String], pass: Iterator[T] => Iterator[(Long, Float)],
                             encoder: Encoder[T])

  /** A top-k search's ask of a one-task scan: the `k` best hits of the docs
    * not in `dead` (the view's sorted tombstone ids, [[IndexView.rank]]).
    */
  final case class Rank(k: Int, dead: Option[Broadcast[Array[Long]]])

  /** A query's (doc_id, score) rows: `ranked` when they already are the k
    * best live hits in rank order (a one-task scan asked for a [[Rank]]),
    * else every hit with liveDocs not applied ([[IndexView.top]] finishes
    * them).
    */
  final case class Hits(rows: DataFrame, ranked: Boolean)

  /** Encoders of the query path's row types, derived once: deriving a
    * product encoder reflects over its case class, a cost every query would
    * otherwise pay again.
    */
  private[query] object Rows {
    val scoreBlock: Encoder[ScoreBlock] = Encoders.product[ScoreBlock]
    val scoreSpanBlock: Encoder[ScoreSpanBlock] = Encoders.product[ScoreSpanBlock]
    val posSpanBlock: Encoder[PosSpanBlock] = Encoders.product[PosSpanBlock]
    val tagged: Encoder[Tagged] = Encoders.product[Tagged]
    val hit: Encoder[(Long, Float)] = Encoders.tuple(Encoders.scalaLong, Encoders.scalaFloat)
  }

  /** Bucket width: ~one bucket per shuffle partition over [0, maxDoc]. */
  def bucketWidth(spark: SparkSession, maxDoc: Long): Long = {
    val n = spark.sessionState.conf.numShufflePartitions.max(1)
    math.max(1L, (maxDoc + n) / n)
  }

  /** The one place a kernel meets its blocks. `tag` turns a scan
    * partition's blocks into tagged bucket copies (and may bound-skip
    * them). A one-task scan ([[IndexView.Scan.oneTask]]) runs the whole
    * query as ONE typed operator ([[scored]]): tag, an in-memory sort by
    * the kernel's order, the kernel and, with a [[Rank]], liveDocs and the
    * k-bounded selection — no encoder round trip of the tagged blocks, no
    * sort operator, no second typed operator and no TakeOrderedAndProject.
    * The buffered blocks are at most the pruned postings bytes the
    * one-task rule admits (Spark's file split, 4 MB on more than one
    * core); a block's bucket copies share its byte arrays. Otherwise the
    * tagged blocks repartition by bucket, sort within partitions and the
    * kernel runs reduce-side, every hit returned unranked.
    */
  def byBucket[S, T <: Bucketed](scan: Dataset[S], oneTask: Boolean,
                                 tag: Iterator[S] => Iterator[T], kernel: Kernel[T],
                                 rank: Option[Rank]): Hits =
    if (oneTask) {
      val (order, pass) = (kernel.order, kernel.pass)
      scored(scan, oneTask = true, rank) { it =>
        val blocks = scala.collection.mutable.ArrayBuffer.from(tag(it))
        pass(blocks.sortInPlace()(inTaskOrder[T](order)).iterator)
      }
    } else Hits(scan.mapPartitions(tag)(kernel.encoder).repartition(col("bucket"))
      .sortWithinPartitions(kernel.order.map(col): _*)
      .mapPartitions(kernel.pass)(Rows.hit).toDF("doc_id", "score"), ranked = false)

  /** `pass` over each scan partition as one typed operator; on a one-task
    * scan with a [[Rank]], the same operator drops dead docs and emits the
    * k best hits ranked ([[topK]]).
    */
  def scored[S](scan: Dataset[S], oneTask: Boolean, rank: Option[Rank])
               (pass: Iterator[S] => Iterator[(Long, Float)]): Hits = {
    val r = if (oneTask) rank.orNull else null
    val hits = scan.mapPartitions { it =>
      if (r == null) pass(it)
      else {
        val dead = r.dead.map(_.value).orNull
        topK(if (dead == null) pass(it)
          else pass(it).filter(h => java.util.Arrays.binarySearch(dead, h._1) < 0), r.k)
      }
    }(Rows.hit)
    Hits(hits.toDF("doc_id", "score"), ranked = r != null)
  }

  /** The one per-doc fold: shuffles `rows` (a `doc_id` column among others)
    * by doc_id, sorts them by (doc_id, `order`), reads them as `T` and
    * passes each doc's rows to `fold` together. The combining scorers
    * (nested boolean and DisMax clauses, PayloadNear and span matches)
    * group by doc here, as the kernels group by bucket in [[byBucket]].
    */
  private[query] def byDoc[T: Encoder, O: Encoder](rows: DataFrame, order: String)
                                                 (doc: T => Long)
                                                 (fold: (Long, Seq[T]) => IterableOnce[O]): Dataset[O] =
    rows.repartition(col("doc_id")).sortWithinPartitions("doc_id", order).as[T]
      .mapPartitions { it =>
        val b = it.buffered
        Iterator.continually(b).takeWhile(_.hasNext).flatMap { _ =>
          val d = doc(b.head)
          val group = Seq.newBuilder[T]
          while (b.hasNext && doc(b.head) == d) group += b.next()
          fold(d, group.result())
        }
      }

  /** A sort of tagged blocks by the named columns, as in a task. */
  private def inTaskOrder[T <: Bucketed](order: Seq[String]): Ordering[T] =
    order.map[Ordering[T]] {
      case "bucket" => Ordering.by(_.bucket)
      case "rank" => Ordering.by(_.rank)
      case "ti" => Ordering.by(_.ti)
    }.reduce(_ orElse _)

  /** Hits from worst to best: score ascending in Spark's float order
    * (`SQLOrderingUtil.compareFloats`: -0.0f equals 0.0f, NaN equals NaN
    * and sorts above every other value), then doc_id descending.
    */
  private val WorstFirst: java.util.Comparator[(Long, Float)] = (a, b) => {
    val c = if (a._2 == b._2) 0 else java.lang.Float.compare(a._2, b._2)
    if (c != 0) c else java.lang.Long.compare(b._1, a._1)
  }

  /** The k best hits in the order `orderBy(desc("score"), asc("doc_id"))
    * .limit(k)` gives, kept in a k-bounded heap whose head is the worst
    * kept hit (the per-partition top-k floor of Cache-Efficient Top-k
    * Aggregation over High Cardinality Large Datasets, VLDB 2023, here
    * over the whole query). Every hit is consumed, so the kernel's block
    * counters end the same for any k.
    */
  private def topK(hits: Iterator[(Long, Float)], k: Int): Iterator[(Long, Float)] = {
    if (k <= 0) { hits.foreach(_ => ()); return Iterator.empty }
    val heap = new java.util.PriorityQueue[(Long, Float)](k + 1, WorstFirst)
    hits.foreach { h =>
      if (heap.size < k) heap.offer(h)
      else if (WorstFirst.compare(h, heap.peek()) > 0) { heap.poll(); heap.offer(h) }
    }
    val out = new Array[(Long, Float)](heap.size)
    var i = out.length - 1
    while (i >= 0) { out(i) = heap.poll(); i -= 1 }
    out.iterator
  }

  /** Buckets a block overlaps (inclusive range of bucket ids). */
  def buckets(firstDoc: Long, lastDoc: Long, width: Long): Iterator[Long] =
    Iterator.range(firstDoc / width, lastDoc / width + 1)

  private final class DocState(val nb: Byte, val pos: Array[Array[Int]])

  /** The positional kernel: one doc-at-a-time pass over a partition's tagged
    * blocks sorted by (bucket, rank) ([[byBucket]]). `slotIdx(s)` lists the
    * compact term indices whose position lists union into phrase slot s;
    * `nTis` is the compact index count; `width` must match the bucketing
    * used to tag.
    */
  def score(nTis: Int, slotIdx: Array[Array[Int]], width: Long, slop: Int,
            weightValue: Float, cache: Array[Float]): Kernel[Tagged] = {
    val nSlots = slotIdx.length
    Kernel(Seq("bucket", "rank"), { it =>
      val perDoc = new scala.collection.mutable.LongMap[DocState]()
      it.foreach { b =>
        require(b.cnt == 0 || b.pos_bytes.nonEmpty,
          "positions not indexed (IndexOptions DOCS_AND_FREQS): rebuild with " +
            "IndexBuilder.Options(positions = true) to run positional queries")
        val lo = b.bucket * width
        val hi = lo + width
        val lead = b.rank == 0
        val (docs, tfs) = PostingCodec.decodeDocsTfs(b.first_doc, b.cnt,
          b.doc_bytes, b.tf_bytes)
        // decode positions lazily per posting: skip the payload bytes of
        // out-of-bucket and non-candidate postings without materializing
        var i = 0
        val r = new ForCodec.Reader(b.pos_bytes, 0)
        while (i < b.cnt) {
          val d = docs(i)
          var st: DocState = null
          if (d >= lo && d < hi) {
            st = perDoc.getOrNull(d)
            if (st == null && lead) {
              st = new DocState(b.norm_bytes(i), new Array[Array[Int]](nTis))
              perDoc.update(d, st)
            }
          }
          if (st != null) {
            val ps = new Array[Int](tfs(i))
            var prev = 0
            var j = 0
            while (j < ps.length) { prev += r.readVarLong().toInt; ps(j) = prev; j += 1 }
            st.pos(b.ti) = ps
          } else {
            var j = 0
            while (j < tfs(i)) { r.readVarLong(); j += 1 }
          }
          i += 1
        }
      }
      perDoc.iterator.flatMap { case (doc, st) =>
        val cp = new Array[Array[Int]](nSlots)
        var s = 0
        var anyEmpty = false
        while (s < nSlots && !anyEmpty) {
          cp(s) = slotPositions(st.pos, slotIdx(s))
          anyEmpty = cp(s).isEmpty
          s += 1
        }
        if (anyEmpty) Iterator.empty
        else {
          val pf = freq(cp, slop, slotIdx)
          if (pf > 0.0f)
            Iterator.single((doc, Bm25.score(weightValue, pf, cache, st.nb)))
          else Iterator.empty
        }
      }
    }, Rows.tagged)
  }

  /** Sorted-distinct union of a slot's alternatives' position lists (those
    * present in the doc) — MultiPhraseQuery slot semantics.
    */
  def slotPositions(byTi: Array[Array[Int]], tis: Array[Int]): Array[Int] = {
    var only: Array[Int] = null
    var n = 0
    var i = 0
    while (i < tis.length) {
      val ps = byTi(tis(i))
      if (ps != null) { only = ps; n += 1 }
      i += 1
    }
    if (n == 0) Array.emptyIntArray
    else if (n == 1) only
    else {
      val all = tis.flatMap(t => Option(byTi(t)).getOrElse(Array.emptyIntArray))
      all.distinct.sorted
    }
  }

  /** Phrase frequency given per-slot position lists: exact alignment count
    * at slop 0 (ExactPhraseScorer), else the reference window walk
    * (`slotTerms` = per-slot term identities for multi-term repeat
    * detection, see [[SloppyPhrase.freq]]).
    */
  def freq(cp: Array[Array[Int]], slop: Int,
           slotTerms: Array[Array[Int]] = null): Float =
    if (slop == 0) {
      var c = 0
      val nSlots = cp.length
      cp(0).foreach { p0 =>
        var ok = true
        var i = 1
        while (ok && i < nSlots) {
          ok = java.util.Arrays.binarySearch(cp(i), p0 + i) >= 0
          i += 1
        }
        if (ok) c += 1
      }
      c.toFloat
    } else SloppyPhrase.freq(cp, slop, slotTerms)

  /** Merged sorted intervals for the lead-with-rarest-term block filter of a
    * query too large for one task:
    * collect the rarest slot's (first_doc, last_doc) block ranges (bounded:
    * df/128 rows, only taken when df is small), merge, and prune every other
    * term's blocks to those overlapping — the conjunction lead-term order of
    * ExactPhraseScorer.cs:118 at block granularity, with the driver never
    * touching more than the lead term's skip metadata.
    */
  final case class Intervals(starts: Array[Long], ends: Array[Long]) {
    def overlaps(first: Long, last: Long): Boolean = {
      // find the last interval with start <= last; it overlaps iff end >= first
      var lo = 0
      var hi = starts.length - 1
      var found = -1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        if (starts(mid) <= last) { found = mid; lo = mid + 1 } else hi = mid - 1
      }
      found >= 0 && ends(found) >= first
    }
  }

  object Intervals {
    def merge(ranges: Array[(Long, Long)]): Intervals = {
      val sorted = ranges.sortBy(_._1)
      val starts = scala.collection.mutable.ArrayBuffer[Long]()
      val ends = scala.collection.mutable.ArrayBuffer[Long]()
      sorted.foreach { case (f, l) =>
        if (ends.nonEmpty && f <= ends.last) {
          if (l > ends.last) ends(ends.length - 1) = l
        } else { starts += f; ends += l }
      }
      Intervals(starts.toArray, ends.toArray)
    }
  }
}
