package graft.query

import graft.codec.{ForCodec, PostingCodec}
import graft.score.Bm25
import org.apache.spark.sql.{Dataset, SparkSession}
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
  * [[byBucket]] is the one place that groups blocks by bucket: a one-task
  * scan ([[IndexView.Scan.oneTask]]) sorts them in its own task with no
  * exchange; a larger one goes through the bucket exchange.
  *
  * Scoring matches the decoded-row fold it replaces bit-for-bit: one norm
  * byte per doc (norms are per-doc, identical across a doc's term rows),
  * slot position lists = sorted-distinct union of the slot's alternatives
  * present in the doc (MultiPhraseQuery union semantics), freq = exact
  * alignment count (slop 0) or the reference window walk ([[SloppyPhrase]]),
  * one float32 BM25 score per doc.
  */
object PositionalScan {

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
                          norm_bytes: Array[Byte], pos_bytes: Array[Byte])

  /** Bucket width: ~one bucket per shuffle partition over [0, maxDoc]. */
  def bucketWidth(spark: SparkSession, maxDoc: Long): Long = {
    val n = spark.sessionState.conf.numShufflePartitions.max(1)
    math.max(1L, (maxDoc + n) / n)
  }

  /** Tagged blocks grouped by bucket and sorted by `order` within each
    * partition, for a doc-at-a-time pass per bucket: the blocks of a
    * one-task scan ([[IndexView.Scan.oneTask]]), already in one partition,
    * sort in that task, with no exchange and no adaptive re-plan, so every
    * bucket flushes through one partition's state; otherwise blocks
    * repartition by bucket.
    */
  def byBucket[T](blocks: Dataset[T], oneTask: Boolean, order: String*): Dataset[T] =
    (if (oneTask) blocks else blocks.repartition(col("bucket")))
      .sortWithinPartitions(order.map(col): _*)

  /** Buckets a block overlaps (inclusive range of bucket ids). */
  def buckets(firstDoc: Long, lastDoc: Long, width: Long): Iterator[Long] =
    Iterator.range(firstDoc / width, lastDoc / width + 1)

  private final class DocState(val nb: Byte, val pos: Array[Array[Int]])

  /** Score tagged blocks: packed blocks grouped by bucket ([[byBucket]]),
    * one doc-at-a-time pass. `slotIdx(s)` lists the compact term indices
    * whose position lists union into phrase slot s; `nTis` is the compact
    * index count; `width` must match the bucketing used to tag.
    */
  def score(spark: SparkSession, blocks: Dataset[Tagged], nTis: Int,
            slotIdx: Array[Array[Int]], width: Long, slop: Int,
            weightValue: Float, cache: Array[Float], oneTask: Boolean): Dataset[(Long, Float)] = {
    import spark.implicits._
    val nSlots = slotIdx.length
    val bSlots = spark.sparkContext.broadcast(slotIdx)
    byBucket(blocks, oneTask, "bucket", "rank")
      .mapPartitions { it =>
        val slots = bSlots.value
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
            cp(s) = slotPositions(st.pos, slots(s))
            anyEmpty = cp(s).isEmpty
            s += 1
          }
          if (anyEmpty) Iterator.empty
          else {
            val pf = freq(cp, slop, slots)
            if (pf > 0.0f)
              Iterator.single((doc, Bm25.score(weightValue, pf, cache, st.nb)))
            else Iterator.empty
          }
        }
      }
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
