package graft.query

import graft.codec.{PosBlock, PostingCodec}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Positional span algebra over the positions index — the Spans family
  * (/root/reference/src/Lucene.Net/Search/Spans/: SpanTermQuery,
  * SpanNearQuery ordered/unordered, SpanOrQuery, SpanNotQuery,
  * SpanFirstQuery; ordered matching semantics NearSpansOrdered.cs).
  *
  * A span is (start, end) with end exclusive, in token-position space
  * (stopword holes consume positions). SpanNear is the binary form
  * (ordered = adjacent-pair enumeration; unordered routes through the
  * [[SpanNearUnorderedK]] CellQueue walk so overlapping sub-spans match,
  * the reference's 4.x semantics); SpanNearK / SpanNearUnorderedK are the
  * k-ary window algorithms.
  */
object Spans {

  sealed trait SpanQuery {
    /** Leaf terms of the tree (for the postings scan). */
    def terms: Set[String] = this match {
      case SpanTerm(t)          => Set(t)
      case SpanNear(a, b, _, _) => a.terms ++ b.terms
      case SpanNearK(cs, _)     => cs.flatMap(_.terms).toSet
      case SpanNearUnorderedK(cs, _) => cs.flatMap(_.terms).toSet
      case SpanOr(cs)           => cs.flatMap(_.terms).toSet
      case SpanNot(i, e)        => i.terms ++ e.terms
      case SpanFirst(q, _)      => q.terms
      case SpanPositionRange(q, _, _) => q.terms
    }
  }
  final case class SpanTerm(term: String) extends SpanQuery
  final case class SpanNear(left: SpanQuery, right: SpanQuery, slop: Int,
                            inOrder: Boolean) extends SpanQuery
  /** k-ary ORDERED near: sub-spans in document order, pairwise
    * non-overlapping, with total inter-span gap <= slop — the
    * NearSpansOrdered matchLength accounting
    * (end_last - start_first - Σ lengths <= slop).
    */
  final case class SpanNearK(clauses: Seq[SpanQuery], slop: Int) extends SpanQuery
  /** k-ary UNORDERED near — the NearSpansUnordered CellQueue walk
    * (/root/reference/src/Lucene.Net/Search/Spans/NearSpansUnordered.cs:385):
    * one cursor per clause, match when
    * `maxEnd - minStart - Σ currentLengths <= slop` (overlapping sub-spans
    * ARE permitted — the documented 4.x unordered quirk), emitting
    * (minStart, maxEnd) and advancing the minimum cursor each step.
    */
  final case class SpanNearUnorderedK(clauses: Seq[SpanQuery], slop: Int) extends SpanQuery
  final case class SpanOr(clauses: Seq[SpanQuery]) extends SpanQuery
  final case class SpanNot(include: SpanQuery, exclude: SpanQuery) extends SpanQuery
  final case class SpanFirst(query: SpanQuery, end: Int) extends SpanQuery
  /** SpanPositionRangeQuery: sub-spans with start >= `start` and
    * end <= `end` (/root/reference/src/Lucene.Net/Search/Spans/
    * SpanPositionRangeQuery.cs; SpanFirst is its start=0 special case).
    */
  final case class SpanPositionRange(query: SpanQuery, start: Int,
                                     end: Int) extends SpanQuery

  /** Evaluate a span tree against one document's term -> sorted positions. */
  def eval(q: SpanQuery, tp: collection.Map[String, Array[Int]]): Seq[(Int, Int)] = q match {
    case SpanTerm(t) =>
      tp.get(t).map(_.toSeq.map(p => (p, p + 1))).getOrElse(Nil)
    case SpanOr(cs) =>
      cs.flatMap(eval(_, tp)).distinct.sorted
    case SpanNear(l, r, slop, inOrder) if !inOrder =>
      // unordered binary near runs the reference's NearSpansUnordered walk
      // (overlapping sub-spans ARE permitted — the documented 4.x quirk),
      // identical to the k-ary form with two clauses
      eval(SpanNearUnorderedK(Seq(l, r), slop), tp)
    case SpanNear(l, r, slop, _) =>
      val ls = eval(l, tp)
      val rs = eval(r, tp)
      val out = for {
        a <- ls
        b <- rs
        if b._1 >= a._2 && b._1 - a._2 <= slop
      } yield (a._1, b._2)
      out.distinct.sorted
    case SpanNearK(cs, slop) =>
      require(cs.size >= 2, "SpanNearK needs >= 2 clauses")
      val sub: Seq[Seq[(Int, Int)]] = cs.map(eval(_, tp))
      if (sub.exists(_.isEmpty)) Nil
      else {
        val out = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
        def rec(i: Int, firstStart: Int, prevEnd: Int, lenSum: Int): Unit =
          if (i == sub.length) {
            if (prevEnd - firstStart - lenSum <= slop) out += ((firstStart, prevEnd))
          } else sub(i).foreach { s =>
            if (s._1 >= prevEnd &&
              // prune: gap so far already exceeds the slop budget
              s._2 - firstStart - (lenSum + (s._2 - s._1)) <= slop)
              rec(i + 1, firstStart, s._2, lenSum + (s._2 - s._1))
          }
        sub.head.foreach(s => rec(1, s._1, s._2, s._2 - s._1))
        out.distinct.sorted.toSeq
      }
    case SpanNearUnorderedK(cs, slop) =>
      require(cs.size >= 2, "SpanNearUnorderedK needs >= 2 clauses")
      val sub: Seq[Array[(Int, Int)]] = cs.map(eval(_, tp).toArray)
      if (sub.exists(_.isEmpty)) Nil
      else {
        // CellQueue walk: frontier of one span per clause ordered by
        // (start, end); test, emit, advance the minimum — overlaps allowed
        val ptr = new Array[Int](sub.size)
        val out = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
        var more = true
        while (more) {
          var minI = 0
          var maxEnd = Int.MinValue
          var totLen = 0
          var i = 0
          while (i < sub.length) {
            val s = sub(i)(ptr(i))
            totLen += s._2 - s._1
            if (s._2 > maxEnd) maxEnd = s._2
            val m = sub(minI)(ptr(minI))
            if (s._1 < m._1 || (s._1 == m._1 && s._2 < m._2)) minI = i
            i += 1
          }
          val minS = sub(minI)(ptr(minI))
          if (maxEnd - minS._1 - totLen <= slop) out += ((minS._1, maxEnd))
          ptr(minI) += 1
          if (ptr(minI) >= sub(minI).length) more = false
        }
        out.distinct.sorted.toSeq
      }
    case SpanNot(inc, exc) =>
      val bad = eval(exc, tp)
      eval(inc, tp).filter(s => !bad.exists(b => s._1 < b._2 && b._1 < s._2))
    case SpanFirst(sub, end) =>
      eval(sub, tp).filter(_._2 <= end)
    case SpanPositionRange(sub, start, end) =>
      eval(sub, tp).filter(s => s._1 >= start && s._2 <= end)
  }

  /** Distributed evaluation: (doc_id, start, end) rows for every matching
    * live span — the positions read path shared with phrase queries, over a
    * batch index or a streaming store ([[IndexView]], one per snapshot
    * across calls: [[IndexView.shared]]).
    */
  def spans(spark: SparkSession, indexDir: String, q: SpanQuery): DataFrame = {
    import spark.implicits._
    val view = IndexView.shared(spark, indexDir)
    val ts = view.lookup(q.terms.toSeq)
    if (ts.rows.isEmpty)
      return spark.emptyDataset[(Long, Int, Int)].toDF("doc_id", "start", "end")
    val names: Map[Long, String] = ts.rows.map { case (t, d) => d.term_id -> t }
    val hits = view.blocks(ts, names.keySet.toSeq, PosBlock.cols)
      .as[PosBlock]
      .flatMap { b =>
        val (docs, _, _, poss) = PostingCodec.decodePos(b)
        val t = names(b.term_id)
        docs.indices.iterator.map(i => (docs(i), t, poss(i)))
      }
      .toDF("doc_id", "term", "pos")
      .repartition(col("doc_id"))
      .sortWithinPartitions("doc_id", "term")
      .as[(Long, String, Array[Int])]
      .mapPartitions { it =>
        val tp = new scala.collection.mutable.HashMap[String, Array[Int]]()
        val b = it.buffered
        new scala.collection.AbstractIterator[Seq[(Long, Int, Int)]] {
          override def hasNext: Boolean = b.hasNext
          override def next(): Seq[(Long, Int, Int)] = {
            val doc = b.head._1
            tp.clear()
            while (b.hasNext && b.head._1 == doc) {
              val (_, t, ps) = b.next()
              tp.update(t, ps)
            }
            eval(q, tp).map { case (s, e) => (doc, s, e) }
          }
        }.flatten
      }
      .toDF("doc_id", "start", "end")
    view.live(hits).orderBy("doc_id", "start", "end")
  }
}
