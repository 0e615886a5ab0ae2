package graft.query

import graft.JobNames.named
import graft.codec.PostingBlock
import graft.model.{CollectionStats, NormRow, TermDictRow}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.datasources.FilePartition
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
  * resolve terms with binary searches and scans over it, never a job. Next
  * to it sits the segment's postings file list with each file's term_id
  * range (the postings table is range-partitioned by term_id at build time,
  * S4), so a scan opens only the files that can hold its terms — the
  * in-memory terms index resolving a term to its file block
  * (BlockTreeTermsReader).
  *
  * A [[scan]] whose pruned files fit the split Spark's file scan sizes for
  * them is one task: it reads in one partition, and the combine kernels and
  * the top-k selection run in that same task with no exchange — a small
  * query is one Spark job with one task and one typed operator.
  *
  * Term ids are segment-local, so [[lookup]] hands out scan KEYS and
  * [[blocks]] rewrites every segment's term ids to them: the scoring
  * kernels see one postings relation. Keys ascend with the term — the
  * canonical float32 clause order, which is ascending term_id inside one
  * segment. A one-segment view keys by the segment's own term ids and scans
  * its postings unchanged, so the batch plan gains no job and no operator.
  */
final class IndexView private (@transient spark: SparkSession, val segments: Seq[String],
                               tombDirs: Seq[String]) extends Serializable {
  import spark.implicits._
  import IndexView.{PostingsFile, Scan, Terms, Tombstone, cut, matching, utf8}

  private val single = segments.size == 1

  /** Element-wise sums of the per-segment stats tables (one job). */
  lazy val stats: CollectionStats = {
    val per = named(spark, "graft: collection stats") {
      segments.map(IndexView.table[CollectionStats](spark, _, "stats").as[CollectionStats])
        .reduce(_ union _).collect()
    }
    CollectionStats(per.map(_.max_doc).sum, per.map(_.doc_count).sum,
      per.map(_.sum_ttf).sum, per.map(_.sum_df).sum)
  }

  // One relation (and one file listing) per segment reused across queries:
  // at cluster scale, listing the postings table again per query is a
  // hotspot. The relations, dictionaries and file ranges are driver-only: a
  // task closure that captures the view never ships them.
  @transient private lazy val postings: IndexedSeq[DataFrame] =
    segments.map(IndexView.table[PostingBlock](spark, _, "postings")).toIndexedSeq
  @transient private lazy val loaded: IndexedSeq[IndexView.Segment] =
    IndexView.load(spark, segments)
  @transient private lazy val dicts: IndexedSeq[Array[TermDictRow]] = loaded.map(_.dict)

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
    * interval (files and row groups), and only a gapped match
    * (wildcard/regexp) also filters by the matched ids. None when no term
    * matches.
    */
  def blocksWhere(q: Query, cols: Seq[String]): Option[DataFrame] = {
    val scans = postings.indices.flatMap { s =>
      val ids = matching(q, dicts(s)).map(_.term_id).toArray
      if (ids.isEmpty) None
      else {
        val files = loaded(s).files.toSeq.filter(f => f.lo <= ids.last && ids.head <= f.hi)
        val range = col("term_id").between(ids.head, ids.last)
        Some((files, read(s, files, if (ids.last - ids.head + 1 == ids.length) range
          else range && col("term_id").isin(ids: _*)).select(cols.map(col): _*)))
      }
    }
    scans.map(_._2).reduceOption(_ union _).map(inOneTask(scans.flatMap(_._1), _).rows)
  }

  /** The posting blocks of the given keys (from `ts`), projected to `cols`,
    * as one relation: each segment's scan reads only the files whose term
    * range holds one of its term ids, is pruned by those ids (Parquet
    * row-group min/max act as the block index) and has its `term_id` column
    * rewritten to the key.
    *
    * This is the small-query rule, decided here once for every kernel: when
    * the pruned files' bytes fit the split Spark's own file scan would size
    * for them ([[FilePartition.maxSplitBytes]]: `maxPartitionBytes`, capped
    * at the bytes per core but never below `openCostInBytes`), the scan is
    * [[Scan.oneTask]] and comes in ONE partition. [[BlockCombine.combine]]
    * and [[PositionalScan.score]] then run in that task with no exchange —
    * sort, kernel, liveDocs and the top k in one typed operator
    * ([[PositionalScan.byBucket]]) — and the driver-side lead-range and
    * theta-seed jobs are skipped, since the task sees every block of the
    * query anyway. A scan that would spread over several cores keeps the
    * bucket exchange and its prefilters.
    */
  def scan(ts: Terms, keys: Seq[Long], cols: Seq[String]): Scan = {
    val parts = pruned(ts, keys)
    val scans = parts.map { case (s, idToKey, files) =>
      val key = if (single) col("term_id")
        else element_at(typedLit(idToKey.toMap), col("term_id"))
      read(s, files, col("term_id").isin(idToKey.map(_._1): _*))
        .select(cols.map(c => if (c == "term_id") key.as(c) else col(c)): _*)
    }
    scans.reduceOption(_ union _).map(inOneTask(parts.flatMap(_._3), _))
      .getOrElse(Scan(postings.head.select(cols.map(col): _*).limit(0), oneTask = true))
  }

  /** The rows of [[scan]], for callers that need not know how they are
    * partitioned.
    */
  def blocks(ts: Terms, keys: Seq[Long], cols: Seq[String]): DataFrame = scan(ts, keys, cols).rows

  private def inOneTask(files: Seq[PostingsFile], df: DataFrame): Scan = {
    val bytes = files.iterator.map(_.bytes).sum
    if (bytes <= FilePartition.maxSplitBytes(spark, bytes)) Scan(df.coalesce(1), oneTask = true)
    else Scan(df, oneTask = false)
  }

  /** Per segment holding one of the keys: (segment, its (id, key) pairs, the
    * postings files whose term range holds one of those ids).
    */
  private def pruned(ts: Terms, keys: Seq[Long]): Seq[(Int, Seq[(Long, Long)], Seq[PostingsFile])] =
    postings.indices.flatMap { s =>
      val idToKey = keys.flatMap(k => ts.segIds.get(k).map(_(s) -> k)).filter(_._1 >= 0)
      if (idToKey.isEmpty) None
      else Some((s, idToKey, loaded(s).files.toSeq.filter(f =>
        idToKey.exists { case (id, _) => f.lo <= id && id <= f.hi })))
    }

  /** Segment `s`'s postings restricted to `files` and filtered by `where`:
    * the file name filter Spark applies when it lists the (cached) file
    * index, so the other files are never opened.
    */
  private def read(s: Int, files: Seq[PostingsFile], where: Column): DataFrame =
    postings(s).filter(col("_metadata.file_name").isin(files.map(_.name): _*) && where)

  /** Merged doc ranges of the keys' blocks — skip metadata only, df/128
    * rows per term — for the lead-term block filter of a query whose
    * [[scan]] is not one task.
    */
  def docRanges(ts: Terms, keys: Seq[Long]): PositionalScan.Intervals =
    PositionalScan.Intervals.merge(named(spark, "graft: lead block ranges") {
      blocks(ts, keys, Seq("first_doc", "last_doc")).as[(Long, Long)].collect()
    })

  /** One row per doc (the norms sidecar), for MatchAllDocsQuery. */
  def docIds: DataFrame =
    segments.map(IndexView.table[NormRow](spark, _, "norms").select("doc_id")).reduce(_ union _)

  /** Dead docs (the snapshot's tombstone tables, the liveDocs-bitset analog,
    * Lucene.Net/Codecs/LiveDocsFormat.cs), applied liveDocs-style as a
    * pre-top-k filter. A snapshot never changes, so its dead ids load once
    * per view (one job, on first use, reading each table with its known
    * schema) into a sorted array shipped to tasks as one broadcast: a query
    * then runs no job and no exchange for them.
    * That costs about 12 driver bytes per tombstone (BASELINE.md) for as
    * long as the view lives — about 6 MB per open view at 500,000
    * uncompacted tombstones, the size past which
    * [[graft.streaming.StreamingIndexer.compact]] itself stops broadcasting
    * them — and the broadcast is freed once the view is garbage-collected
    * (Spark's ContextCleaner). Like the reference, collection and term
    * statistics keep counting buried docs until compaction purges them.
    */
  @transient private lazy val deadIds: Broadcast[Array[Long]] = {
    val dead = named(spark, "graft: load tombstones") {
      tombDirs.map(IndexView.table[Tombstone](spark, _)).reduce(_ union _).as[Long].collect()
    }.distinct.sorted
    spark.sparkContext.broadcast(dead)
  }
  @transient private lazy val isLive = {
    val b = deadIds
    udf((d: Long) => java.util.Arrays.binarySearch(b.value, d) < 0)
  }
  def hasTombstones: Boolean = tombDirs.nonEmpty
  def live(df: DataFrame): DataFrame =
    if (tombDirs.isEmpty) df else df.filter(isLive(col("doc_id")))

  /** A top-k search's ask of a one-task scan over this view's live docs. */
  def rank(k: Int): PositionalScan.Rank =
    PositionalScan.Rank(k, if (tombDirs.isEmpty) None else Some(deadIds))

  /** The k best live hits, ranked: `hits` as they are when the one-task
    * operator already ranked them, else liveDocs then `orderBy(score desc,
    * doc_id asc).limit(k)`, which Catalyst plans as TakeOrderedAndProject.
    */
  def top(hits: PositionalScan.Hits, k: Int): DataFrame =
    if (hits.ranked) hits.rows
    else live(hits.rows).orderBy(desc("score"), asc("doc_id")).limit(k)
}

object IndexView {

  /** Looked-up terms: `rows` by term, whose `term_id` is the scan key
    * [[IndexView.blocks]] takes; `segIds(key)(s)` is the term's id in
    * segment s (-1: absent). Keys are only meaningful to the view and the
    * lookup that produced them.
    */
  final case class Terms(rows: Map[String, TermDictRow], segIds: Map[Long, Array[Long]])

  /** A postings scan ([[IndexView.scan]]): its rows, and whether they come
    * in one partition, so the kernels combine them in that task.
    */
  final case class Scan(rows: DataFrame, oneTask: Boolean)

  /** Open `dir`: a streaming store's latest snapshot, else a batch index. */
  def open(spark: SparkSession, dir: String): IndexView =
    at(spark, dir, new graft.streaming.SnapshotLog(dir, spark).latest())

  private def at(spark: SparkSession, dir: String,
                 snap: Option[graft.streaming.SnapshotLog#Snapshot]): IndexView =
    snap.fold(new IndexView(spark, Seq(dir), Nil))(of(spark, _))

  // the view [[shared]] hands out per directory: its session, its snapshot
  // id (-1: a batch index) and the view
  private val views = new java.util.concurrent.ConcurrentHashMap[String, (SparkSession, Long, IndexView)]()

  /** [[open]]'s view, shared until `dir`'s latest snapshot (or the session)
    * changes — for callers that open a view per call, such as
    * [[Spans.spans]]: a snapshot's tombstones then load once, into one
    * broadcast, not once per call.
    */
  def shared(spark: SparkSession, dir: String): IndexView = {
    val snap = new graft.streaming.SnapshotLog(dir, spark).latest()
    val id = snap.fold(-1L)(_.id)
    views.compute(dir, (_, old) =>
      if (old != null && (old._1 eq spark) && old._2 == id) old else (spark, id, at(spark, dir, snap)))._3
  }

  def of(spark: SparkSession, snap: graft.streaming.SnapshotLog#Snapshot): IndexView =
    new IndexView(spark, snap.base.toSeq ++ snap.segments, snap.tombs)

  /** One postings file of a segment: its name, its bytes and the term_id
    * range its blocks hold.
    */
  private[query] final case class PostingsFile(name: String, bytes: Long, lo: Long, hi: Long)

  /** A segment's terms index: its dictionary sorted by term_id — which is
    * ascending term in Spark's binary UTF-8 order — and its postings files.
    */
  private[query] final case class Segment(dict: Array[TermDictRow], files: Array[PostingsFile])

  /** Terms indexes by directory. The dictionary is metadata-sized (the
    * reference holds its terms index in RAM, BlockTreeTermsWriter.cs:57)
    * and segment directories are write-once, so every view of a directory
    * shares one entry until compaction [[release]]s the segments it
    * retires.
    */
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, Segment]()

  // one row of the load job: a dictionary row or a partial file range
  private[query] final case class Loaded(seg: Int, row: TermDictRow, file: PostingsFile)

  /** The terms indexes of `dirs`, loading every missing one in one job: the
    * dictionaries, and each postings file's term range as per-partition
    * partial min/max of its `term_id` column (no exchange; the driver merges
    * the partials). Reading Parquet footers on the driver instead costs a
    * file open per postings file on every segment an append adds.
    */
  private def load(spark: SparkSession, dirs: Seq[String]): IndexedSeq[Segment] = {
    import spark.implicits._
    val have = dirs.distinct.map(d => d -> cache.get(d)).toMap
    val missing = have.collect { case (d, null) => d }.toIndexedSeq
    val fresh = if (missing.isEmpty) Map.empty[String, Segment] else {
      val noFile = lit(null).cast(Encoders.product[PostingsFile].schema)
      val rows = missing.indices.map { i =>
        table[TermDictRow](spark, missing(i), "termdict")
          .select(lit(i).as("seg"), struct(col("*")).as("row"), noFile.as("file"))
      }.reduce(_ union _).as[Loaded]
      val ranges = missing.indices.map { i =>
        table[PostingBlock](spark, missing(i), "postings")
          .select(lit(i), col("_metadata.file_name"), col("_metadata.file_size"), col("term_id"))
      }.reduce(_ union _).as[(Int, String, Long, Long)].mapPartitions { it =>
        val m = scala.collection.mutable.LinkedHashMap[(Int, String), PostingsFile]()
        it.foreach { case (s, name, bytes, id) =>
          val f = m.getOrElseUpdate((s, name), PostingsFile(name, bytes, id, id))
          if (id < f.lo || id > f.hi)
            m((s, name)) = f.copy(lo = math.min(f.lo, id), hi = math.max(f.hi, id))
        }
        m.iterator.map { case ((s, _), f) => Loaded(s, null, f) }
      }
      val all = named(spark, "graft: load term dictionaries and postings file ranges") {
        rows.union(ranges).collect()
      }
      val bySeg = all.groupBy(_.seg)
      missing.indices.map { i =>
        val got = bySeg.getOrElse(i, Array.empty[Loaded])
        val files = got.flatMap(l => Option(l.file)).groupBy(_.name).values.map(fs =>
          PostingsFile(fs.head.name, fs.head.bytes, fs.map(_.lo).min, fs.map(_.hi).max))
        missing(i) -> Segment(got.flatMap(l => Option(l.row)).sortBy(_.term_id),
          files.toArray.sortBy(_.lo))
      }.toMap
    }
    fresh.foreach { case (d, seg) => cache.put(d, seg) }
    dirs.map(d => fresh.getOrElse(d, have(d))).toIndexedSeq
  }

  /** Drop the terms indexes of segments no snapshot references any more. */
  def release(dirs: Seq[String]): Unit = dirs.foreach(cache.remove)

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
    table[T](spark, s"$dir/$name")
  private def table[T <: Product: TypeTag](spark: SparkSession, path: String): DataFrame =
    spark.read.schema(Encoders.product[T].schema).parquet(path)

  /** A tombstone table's row: one dead doc. */
  private final case class Tombstone(doc_id: Long)
}
