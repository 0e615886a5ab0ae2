package graft.query

import graft.codec.PostingBlock
import graft.model.{CollectionStats, TermDictRow}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import scala.reflect.runtime.universe.TypeTag

/** The reader's view of an index: its segment directories, its tombstone
  * tables, and collection statistics summed once over the segments — the
  * IndexReader-over-leaves analog, where TermContext sums per-leaf term
  * statistics (Lucene.Net/Search/TermQuery.cs:50-83)
  * and per-leaf hits merge under one top-k
  * (Lucene.Net/Search/TopDocs.cs:301). Doc ids are
  * globally unique across segments, so one (score desc, doc_id asc) order
  * subsumes the cross-leaf tie-break.
  *
  * A batch directory is a one-segment view; a store (a directory with
  * `_snapshots/`, which every delete, append, update or compaction gives a
  * batch directory too) is its latest snapshot's base + segments +
  * tombstones. Snapshots are the one source of tombstones.
  *
  * Every segment's term dictionary is held on the driver, sorted by term_id
  * (one load job per new segment set, shared by every view of the
  * directory): [[lookup]], [[expand]], [[fuzzyTop]] and [[blocksWhere]]
  * resolve terms with binary searches and scans over it, never a job.
  *
  * Term ids are segment-local, so [[lookup]] hands out scan KEYS and
  * [[blocks]] rewrites every segment's term ids to them: the scoring
  * kernels see one postings relation. Keys ascend with the term — the
  * canonical float32 clause order, which is ascending term_id inside one
  * segment. A one-segment view keys by the segment's own term ids and scans
  * its postings unchanged, so the batch plan gains no job and no operator.
  */
final class IndexView private (spark: SparkSession, val segments: Seq[String],
                               tombDirs: Seq[String]) extends Serializable {
  import spark.implicits._
  import IndexView.{Terms, cut, matching, utf8}

  private val single = segments.size == 1

  /** Element-wise sums of the per-segment stats tables (one job). */
  lazy val stats: CollectionStats = {
    val per = segments.map(IndexView.table[CollectionStats](spark, _, "stats").as[CollectionStats])
      .reduce(_ union _).collect()
    CollectionStats(per.map(_.max_doc).sum, per.map(_.doc_count).sum,
      per.map(_.sum_ttf).sum, per.map(_.sum_df).sum)
  }

  // One relation (and one file listing) per segment reused across queries:
  // at cluster scale, listing the postings table again per query is a
  // hotspot.
  private lazy val postings: IndexedSeq[DataFrame] =
    segments.map(IndexView.table[PostingBlock](spark, _, "postings")).toIndexedSeq
  // driver-only: a task closure that captures the view never ships it
  @transient private lazy val dicts: IndexedSeq[Array[TermDictRow]] =
    IndexView.dictionaries(spark, segments)

  /** TermContext resolution: a binary search in every segment's dictionary,
    * no job. Each found term gets its global df/ttf (summed), max_tf/max_nb
    * (the max over segments — a sound block-max bound) and its id in every
    * segment.
    */
  def lookup(ts: Seq[String]): Terms = {
    if (ts.isEmpty) return Terms(Map.empty, Map.empty)
    val want = ts.distinct.map(t => (t, utf8(t)))
    val hits = for {
      (d, s) <- dicts.zipWithIndex
      (t, u) <- want
      i = cut(d)(_.compareTo(u) < 0)
      if i < d.length && d(i).term == t
    } yield (s, d(i))
    // a store keys by ascending term in Spark's binary UTF-8 order, the
    // order the builder assigns term ids in
    val keyed = hits.groupBy(_._2.term).toSeq.sortBy(t => utf8(t._1)).zipWithIndex.map {
      case ((t, hs), rank) => (t, hs, if (single) hs.head._2.term_id else rank.toLong)
    }
    Terms(
      keyed.map { case (t, hs, key) =>
        t -> TermDictRow(t, key, hs.map(_._2.df).sum, hs.map(_._2.ttf).sum,
          hs.map(_._2.max_tf).max, hs.map(_._2.max_nb).max)
      }.toMap,
      keyed.map { case (_, hs, key) =>
        val ids = Array.fill(segments.size)(-1L)
        hs.foreach { case (s, r) => ids(s) = r.term_id }
        key -> ids
      }.toMap)
  }

  /** The first `limit` distinct terms matching a multi-term leaf, ascending:
    * each segment's matches ascend, so the union's first `limit` terms are
    * among the first `limit` of every segment (the sorted-array merge).
    */
  def expand(q: Query, limit: Int): Seq[String] =
    dicts.flatMap(matching(q, _).take(limit).map(_.term)).distinct.sortBy(utf8).take(limit)

  /** Fuzzy top-N over the union dictionary: terms within maxEdits ranked by
    * similarity 1 - d/min(|term|, |query|) desc, then term (the reference's
    * accept path, FuzzyTermsEnum.cs:419, and TopTermsRewrite's boost heap),
    * as (term, d). Distance and length are Spark's `levenshtein`/`length`
    * (code points); a length window prunes before the distance.
    */
  def fuzzyTop(f: Query.Fuzzy): Seq[(String, Int)] = {
    val q = utf8(f.term)
    val cands = dicts.flatMap(_.iterator.flatMap { r =>
      val t = utf8(r.term)
      if (math.abs(t.numChars - f.term.length) > f.maxEdits) None
      else Some((t, t.levenshteinDistance(q))).filter(_._2 <= f.maxEdits)
    }).distinctBy(_._1)
    def sim(c: (UTF8String, Int)): Double =
      1.0 - c._2.toDouble / math.min(c._1.numChars, f.term.length)
    cands.sortWith((a, b) => sim(a) > sim(b) || sim(a) == sim(b) && a._1.compareTo(b._1) < 0)
      .take(f.maxExpansions).map(c => (c._1.toString, c._2))
  }

  /** Blocks of every term matching a multi-term leaf, never expanded to a
    * term list (the CONSTANT_SCORE filter rewrite,
    * Lucene.Net/Search/ConstantScoreAutoRewrite.cs:263). Term ids ascend
    * with the term, so each segment's scan prunes by its matched id
    * interval, and only a gapped match (wildcard/regexp) also filters by
    * the matched ids. None when no term matches.
    */
  def blocksWhere(q: Query, cols: Seq[String]): Option[DataFrame] =
    postings.indices.flatMap { s =>
      val ids = matching(q, dicts(s)).map(_.term_id).toArray
      if (ids.isEmpty) None
      else {
        val b = postings(s).filter(col("term_id").between(ids.head, ids.last))
        Some((if (ids.last - ids.head + 1 == ids.length) b else b.filter(col("term_id").isin(ids: _*)))
          .select(cols.map(col): _*))
      }
    }.reduceOption(_ union _)

  /** The posting blocks of the given keys (from `ts`), projected to `cols`,
    * as one relation: each segment's scan is pruned by its own term ids
    * (Parquet row-group min/max act as the term index) and its `term_id`
    * column rewritten to the key.
    */
  def blocks(ts: Terms, keys: Seq[Long], cols: Seq[String]): DataFrame = {
    val scans = postings.indices.flatMap { s =>
      val idToKey = keys.flatMap(k => ts.segIds.get(k).map(_(s) -> k)).filter(_._1 >= 0)
      if (idToKey.isEmpty) None
      else {
        val key = if (single) col("term_id")
          else element_at(typedLit(idToKey.toMap), col("term_id"))
        Some(postings(s).filter(col("term_id").isin(idToKey.map(_._1): _*))
          .select(cols.map(c => if (c == "term_id") key.as(c) else col(c)): _*))
      }
    }
    scans.reduceOption(_ union _)
      .getOrElse(postings.head.select(cols.map(col): _*).limit(0))
  }

  /** Merged doc ranges of the keys' blocks — skip metadata only, df/128
    * rows per term — for the lead-term block filter.
    */
  def docRanges(ts: Terms, keys: Seq[Long]): PositionalScan.Intervals =
    PositionalScan.Intervals.merge(
      blocks(ts, keys, Seq("first_doc", "last_doc")).as[(Long, Long)].collect())

  /** One row per doc (the norms sidecar), for MatchAllDocsQuery. */
  def docIds: DataFrame =
    segments.map(d => spark.read.parquet(s"$d/norms").select("doc_id")).reduce(_ union _)

  /** Dead docs (the snapshot's tombstone tables, the liveDocs-bitset analog,
    * Lucene.Net/Codecs/LiveDocsFormat.cs), applied liveDocs-style as a
    * pre-top-k anti-join. Like the reference, collection and term statistics
    * keep counting buried docs until compaction purges them
    * ([[graft.streaming.StreamingIndexer.compact]]).
    */
  private lazy val dead: Option[DataFrame] =
    if (tombDirs.isEmpty) None
    else Some(tombDirs.map(spark.read.parquet(_).select("doc_id")).reduce(_ union _).distinct())
  def hasTombstones: Boolean = tombDirs.nonEmpty
  def live(df: DataFrame): DataFrame =
    dead.map(t => df.join(t, Seq("doc_id"), "left_anti")).getOrElse(df)
}

object IndexView {

  /** Looked-up terms: `rows` by term, whose `term_id` is the scan key
    * [[IndexView.blocks]] takes; `segIds(key)(s)` is the term's id in
    * segment s (-1: absent). Keys are only meaningful to the view and the
    * lookup that produced them.
    */
  final case class Terms(rows: Map[String, TermDictRow], segIds: Map[Long, Array[Long]])

  /** Open `dir`: a streaming store's latest snapshot, else a batch index. */
  def open(spark: SparkSession, dir: String): IndexView =
    new graft.streaming.SnapshotLog(dir, spark).latest() match {
      case Some(snap) => of(spark, snap)
      case None => new IndexView(spark, Seq(dir), Nil)
    }

  def of(spark: SparkSession, snap: graft.streaming.SnapshotLog#Snapshot): IndexView =
    new IndexView(spark, snap.base.toSeq ++ snap.segments, snap.tombs)

  /** Segment dictionaries by directory, each sorted by term_id — which is
    * ascending term in Spark's binary UTF-8 order. The dictionary is
    * metadata-sized (the reference holds its terms index in RAM,
    * BlockTreeTermsWriter.cs:57) and segment directories are write-once, so
    * every view of a directory shares one entry until compaction
    * [[release]]s the segments it retires.
    */
  private val loaded = new java.util.concurrent.ConcurrentHashMap[String, Array[TermDictRow]]()

  /** The dictionaries of `dirs`, loading every missing one in one job. */
  private def dictionaries(spark: SparkSession, dirs: Seq[String]): IndexedSeq[Array[TermDictRow]] = {
    import spark.implicits._
    val have = dirs.distinct.map(d => d -> loaded.get(d)).toMap
    val missing = have.collect { case (d, null) => d }.toIndexedSeq
    val fresh = if (missing.isEmpty) Map.empty[String, Array[TermDictRow]] else {
      val bySeg = missing.indices.map { i =>
        table[TermDictRow](spark, missing(i), "termdict")
          .select(lit(i).as("_1"), struct(col("*")).as("_2"))
      }.reduce(_ union _).as[(Int, TermDictRow)].collect().groupMap(_._1)(_._2)
      missing.indices.map(i =>
        missing(i) -> bySeg.getOrElse(i, Array.empty[TermDictRow]).sortBy(_.term_id)).toMap
    }
    fresh.foreach { case (d, rows) => loaded.put(d, rows) }
    dirs.map(d => fresh.getOrElse(d, have(d))).toIndexedSeq
  }

  /** Drop the dictionaries of segments no snapshot references any more. */
  def release(dirs: Seq[String]): Unit = dirs.foreach(loaded.remove)

  private def utf8(s: String): UTF8String = UTF8String.fromString(s)

  /** The first index of sorted `d` whose term is not `below` (a predicate
    * true on a prefix of `d`): a binary search.
    */
  private def cut(d: Array[TermDictRow])(below: UTF8String => Boolean): Int = {
    var (lo, hi) = (0, d.length)
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (below(utf8(d(mid).term))) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** The rows of one sorted dictionary a multi-term leaf matches, ascending.
    * Prefix and range matches are one contiguous slice (two binary
    * searches); wildcard and regexp test every term and match the WHOLE
    * term (the reference's automaton semantics). String order and prefix
    * tests are Spark's binary UTF-8 ones, the order of the term ids.
    */
  private def matching(q: Query, d: Array[TermDictRow]): Iterator[TermDictRow] = {
    def whole(re: String): Iterator[TermDictRow] = {
      val p = java.util.regex.Pattern.compile(re)
      d.iterator.filter(r => p.matcher(r.term).matches())
    }
    q match {
      case Query.Prefix(p, _) =>
        val u = utf8(p)
        d.iterator.slice(cut(d)(_.compareTo(u) < 0), cut(d)(t => t.compareTo(u) < 0 || t.startsWith(u)))
      case Query.TermRange(lo, hi, il, ih, _) =>
        val (l, h) = (utf8(lo), utf8(hi))
        d.iterator.slice(cut(d)(t => if (il) t.compareTo(l) < 0 else t.compareTo(l) <= 0),
          cut(d)(t => if (ih) t.compareTo(h) <= 0 else t.compareTo(h) < 0))
      case Query.Wildcard(w, _) =>
        // `*` any run, `?` one character, everything else literal
        whole("(?s)" + w.split("(?<=[*?])|(?=[*?])").map {
          case "*" => ".*"
          case "?" => "."
          case text => java.util.regex.Pattern.quote(text)
        }.mkString)
      case Query.Regexp(re, _) => whole(re)
      case other => throw new IllegalArgumentException(s"not a multi-term query: $other")
    }
  }

  /** A table of an index directory read with its known schema: no
    * schema-inference job per open.
    */
  private def table[T <: Product: TypeTag](spark: SparkSession, dir: String,
                                           name: String): DataFrame =
    spark.read.schema(Encoders.product[T].schema).parquet(s"$dir/$name")
}
