package graft.query

import graft.codec.PostingBlock
import graft.model.{CollectionStats, TermDictRow}
import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
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
  * A batch directory is a one-segment view (plus its `tombstones` table); a
  * streaming store (a directory with `_snapshots/`) is its latest snapshot's
  * base + segments + tombstones.
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
  import IndexView.{SegTerm, Terms}

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
  private lazy val dicts: IndexedSeq[DataFrame] =
    segments.map(IndexView.dictionary(spark, _)).toIndexedSeq

  /** The union dictionary, each term once — the domain multi-term rewrites
    * expand over.
    */
  lazy val terms: DataFrame =
    if (single) dicts.head else dicts.map(_.select("term")).reduce(_ union _).distinct()

  /** TermContext resolution: one pushdown-pruned job over the union of the
    * segment dictionaries. Each found term gets its global df/ttf (summed),
    * max_tf/max_nb (the max over segments — a sound block-max bound) and its
    * id in every segment.
    */
  def lookup(ts: Seq[String]): Terms = {
    if (ts.isEmpty) return Terms(Map.empty, Map.empty)
    val want = ts.distinct
    val hits = dicts.zipWithIndex.map { case (d, s) =>
      d.filter(col("term").isin(want: _*))
        .select(lit(s).as("seg") +: IndexView.TermCols.map(col): _*)
    }.reduce(_ union _).as[SegTerm].collect()
    if (single)
      Terms(hits.map(h => h.term -> h.row(h.term_id)).toMap,
        hits.map(h => h.term_id -> Array(h.term_id)).toMap)
    else {
      // keys by ascending term in Spark's binary UTF-8 order, the order the
      // builder assigns term ids in
      val byTerm = hits.groupBy(_.term).toSeq
        .sortBy(t => UTF8String.fromString(t._1)).zipWithIndex
      Terms(
        byTerm.map { case ((t, hs), key) =>
          t -> TermDictRow(t, key.toLong, hs.map(_.df).sum, hs.map(_.ttf).sum,
            hs.map(_.max_tf).max, hs.map(_.max_nb).max)
        }.toMap,
        byTerm.map { case ((_, hs), key) =>
          val ids = Array.fill(segments.size)(-1L)
          hs.foreach(h => ids(h.seg) = h.term_id)
          key.toLong -> ids
        }.toMap)
    }
  }

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

  /** Blocks of every term matching a dictionary predicate, never expanded
    * to a term list (the CONSTANT_SCORE filter rewrite,
    * Lucene.Net/Search/ConstantScoreAutoRewrite.cs:263).
    * Term ids are dense by ascending term, so a prefix/range match is one
    * CONTIGUOUS id interval per segment: the scan prunes by
    * `term_id BETWEEN lo AND hi`, and only non-contiguous shapes
    * (wildcard/regexp) refine with a term_id semi-join. No term list ever
    * is collected. None when no term matches.
    */
  def blocksWhere(pred: Column, contiguous: Boolean, cols: Seq[String]): Option[DataFrame] = {
    def matched(s: Int): DataFrame = dicts(s).filter(pred).select("term_id")
    val ranges = segments.indices.map(s => matched(s).select(lit(s).as("seg"), col("term_id")))
      .reduce(_ union _)
      .groupBy("seg").agg(min("term_id"), max("term_id"))
      .as[(Int, Long, Long)].collect()
    ranges.map { case (s, lo, hi) =>
      val b = postings(s).filter(col("term_id").between(lo, hi))
      (if (contiguous) b else b.join(matched(s), Seq("term_id"), "left_semi"))
        .select(cols.map(col): _*)
    }.reduceOption(_ union _)
  }

  /** One row per doc (the norms sidecar), for MatchAllDocsQuery. */
  def docIds: DataFrame =
    segments.map(d => spark.read.parquet(s"$d/norms").select("doc_id")).reduce(_ union _)

  /** Dead docs, applied liveDocs-style as a pre-top-k anti-join; stats stay
    * unpurged until compaction (reference behavior, see
    * [[graft.build.Tombstones]]).
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

  final case class SegTerm(seg: Int, term: String, term_id: Long, df: Long, ttf: Long,
                           max_tf: Int, max_nb: Int) {
    def row(key: Long): TermDictRow = TermDictRow(term, key, df, ttf, max_tf, max_nb)
  }
  private val TermCols = Seq("term", "term_id", "df", "ttf", "max_tf", "max_nb")

  /** Open `dir`: a streaming store's latest snapshot, else a batch index. */
  def open(spark: SparkSession, dir: String): IndexView =
    new graft.streaming.SnapshotLog(dir, spark).latest() match {
      case Some(snap) => of(spark, snap)
      case None => new IndexView(spark, Seq(dir), graft.build.Tombstones.dir(spark, dir).toSeq)
    }

  def of(spark: SparkSession, snap: graft.streaming.SnapshotLog#Snapshot): IndexView =
    new IndexView(spark, snap.base.toSeq ++ snap.segments, snap.tombs)

  /** A segment's term dictionary, cached once per directory: the dictionary
    * is metadata-sized (the reference holds its FST in RAM,
    * BlockTreeTermsWriter.cs:57), segment directories are write-once, and
    * the cache is keyed by the relation, so reopening a view reuses every
    * entry. Compaction [[release]]s the segments it retires.
    */
  private def dictionary(spark: SparkSession, dir: String): DataFrame = {
    val df = table[TermDictRow](spark, dir, "termdict")
    if (df.storageLevel == StorageLevel.NONE) df.cache()
    df
  }

  /** Drop the cached dictionaries of segments no snapshot references any more. */
  def release(spark: SparkSession, dirs: Seq[String]): Unit =
    dirs.foreach(d => table[TermDictRow](spark, d, "termdict").unpersist(blocking = false))

  /** A table of an index directory read with its known schema: no
    * schema-inference job per open.
    */
  private def table[T <: Product: TypeTag](spark: SparkSession, dir: String,
                                           name: String): DataFrame =
    spark.read.schema(Encoders.product[T].schema).parquet(s"$dir/$name")
}
