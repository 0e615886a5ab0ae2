package graft

import graft.query.Spans
import graft.query.Spans._
import org.scalatest.funsuite.AnyFunSuite

/** Span algebra semantics over per-doc position maps (reference behavior:
  * /root/reference/src/Lucene.Net/Search/Spans/, NearSpansOrdered.cs).
  */
class SpansSpec extends AnyFunSuite {

  // "a b c a d" with stopword hole at 2? Use plain positions:
  private val tp = Map(
    "a" -> Array(0, 3),
    "b" -> Array(1),
    "c" -> Array(2),
    "d" -> Array(4))

  test("span term and or") {
    assert(eval(SpanTerm("a"), tp) == Seq((0, 1), (3, 4)))
    assert(eval(SpanTerm("zz"), tp) == Nil)
    assert(eval(SpanOr(Seq(SpanTerm("a"), SpanTerm("b"))), tp) ==
      Seq((0, 1), (1, 2), (3, 4)))
  }

  test("ordered near with slop") {
    // a..b adjacent
    assert(eval(SpanNear(SpanTerm("a"), SpanTerm("b"), 0, inOrder = true), tp) ==
      Seq((0, 2)))
    // b..a with a gap of 1 ('c' between): needs slop >= 1
    assert(eval(SpanNear(SpanTerm("b"), SpanTerm("a"), 0, inOrder = true), tp) == Nil)
    assert(eval(SpanNear(SpanTerm("b"), SpanTerm("a"), 1, inOrder = true), tp) ==
      Seq((1, 4)))
    // reversed order never matches when inOrder
    assert(eval(SpanNear(SpanTerm("d"), SpanTerm("a"), 5, inOrder = true), tp) == Nil)
  }

  test("unordered near matches either direction") {
    assert(eval(SpanNear(SpanTerm("d"), SpanTerm("a"), 0, inOrder = false), tp) ==
      Seq((3, 5)))
    assert(eval(SpanNear(SpanTerm("c"), SpanTerm("b"), 0, inOrder = false), tp) ==
      Seq((1, 3)))
    // binary unordered runs the NearSpansUnordered walk: co-positioned /
    // overlapping sub-spans match (the 4.x quirk), same as the k-ary form
    val tpx = Map("x" -> Array(3), "y" -> Array(3))
    assert(eval(SpanNear(SpanTerm("x"), SpanTerm("y"), 0, inOrder = false), tpx) ==
      Seq((3, 4)))
    assert(eval(SpanNear(SpanTerm("x"), SpanTerm("y"), 0, inOrder = false), tpx) ==
      eval(SpanNearUnorderedK(Seq(SpanTerm("x"), SpanTerm("y")), 0), tpx))
  }

  test("span not removes overlapping matches") {
    val near = SpanNear(SpanTerm("a"), SpanTerm("b"), 0, inOrder = true) // (0,2)
    assert(eval(SpanNot(near, SpanTerm("b")), tp) == Nil)      // b overlaps
    assert(eval(SpanNot(near, SpanTerm("d")), tp) == Seq((0, 2)))
    assert(eval(SpanNot(SpanTerm("a"), SpanTerm("a")), tp) == Nil)
  }

  test("span first bounds the end position") {
    assert(eval(SpanFirst(SpanTerm("a"), 1), tp) == Seq((0, 1)))
    assert(eval(SpanFirst(SpanTerm("a"), 4), tp) == Seq((0, 1), (3, 4)))
  }

  test("span position range bounds both ends (SpanPositionRangeQuery.cs)") {
    assert(eval(SpanPositionRange(SpanTerm("a"), 1, 5), tp) == Seq((3, 4)))
    assert(eval(SpanPositionRange(SpanTerm("a"), 0, 5), tp) == Seq((0, 1), (3, 4)))
    assert(eval(SpanPositionRange(SpanTerm("a"), 4, 9), tp) == Nil)
    // SpanFirst(q, end) == SpanPositionRange(q, 0, end)
    assert(eval(SpanPositionRange(SpanTerm("a"), 0, 1), tp) ==
      eval(SpanFirst(SpanTerm("a"), 1), tp))
  }

  test("k-ary ordered near with total-gap slop accounting") {
    // a@0 b@1 c@2 a@3 d@4
    assert(eval(SpanNearK(Seq(SpanTerm("a"), SpanTerm("b"), SpanTerm("c")), 0), tp) ==
      Seq((0, 3)))
    // a..c..d: gap 1 (position 1 or 3 skipped): a@0 c@2 d@4 has gaps 1+1=2
    assert(eval(SpanNearK(Seq(SpanTerm("a"), SpanTerm("c"), SpanTerm("d")), 1), tp) == Nil)
    assert(eval(SpanNearK(Seq(SpanTerm("a"), SpanTerm("c"), SpanTerm("d")), 2), tp) ==
      Seq((0, 5)))
    // second 'a' gives a tighter 3-term window: b@1 c@2 a@3 contiguous
    assert(eval(SpanNearK(Seq(SpanTerm("b"), SpanTerm("c"), SpanTerm("a")), 0), tp) ==
      Seq((1, 4)))
  }

  test("k-ary unordered near: CellQueue walk, overlaps allowed") {
    // tp2: a@0,10  b@2  c@4
    val tp2 = Map("a" -> Array(0, 10), "b" -> Array(2), "c" -> Array(4))
    val q = SpanNearUnorderedK(Seq(SpanTerm("a"), SpanTerm("b"), SpanTerm("c")), 4)
    // frontier {a@0,b@2,c@4}: 5-0-3=2 <= 4 -> (0,5); advance a -> 11-2-3=6 > 4
    assert(eval(q, tp2) == Seq((0, 5)))
    // slop 6 admits the second frontier (2,11)
    assert(eval(SpanNearUnorderedK(
      Seq(SpanTerm("a"), SpanTerm("b"), SpanTerm("c")), 6), tp2) ==
      Seq((0, 5), (2, 11)))
    // order-free: clauses given in reverse find the same spans
    assert(eval(SpanNearUnorderedK(
      Seq(SpanTerm("c"), SpanTerm("b"), SpanTerm("a")), 4), tp2) == Seq((0, 5)))
    // the 4.x quirk: co-positioned sub-spans overlap and still match at slop 0
    // (NearSpansUnordered.cs:385 — matchLength goes negative)
    val tp3 = Map("x" -> Array(3), "y" -> Array(3))
    assert(eval(SpanNearUnorderedK(Seq(SpanTerm("x"), SpanTerm("y")), 0), tp3) ==
      Seq((3, 4)))
    // missing clause -> no matches
    assert(eval(SpanNearUnorderedK(Seq(SpanTerm("a"), SpanTerm("zz")), 9), tp2) == Nil)
  }

  test("nested composition: near over or") {
    val q = SpanNear(SpanOr(Seq(SpanTerm("a"), SpanTerm("c"))), SpanTerm("d"), 1,
      inOrder = true)
    // a@3 -> d@4 adjacent (gap 0); c@2 -> d@4 gap 1
    assert(eval(q, tp) == Seq((2, 5), (3, 5)))
  }

  test("distributed spans over a real index match the local evaluator") {
    import graft.build.IndexBuilder
    import graft.fixtures.Transcripts
    val spark = SparkTestSession.spark
    val dir = java.nio.file.Files.createTempDirectory("graft_spans").toString
    IndexBuilder.buildFromTurns(Transcripts.dataset(spark, 60), dir)
    val turns = Transcripts.local(60).sortBy(t => (t.conv_id, t.turn_idx))
    // local oracle input: each analyzed doc's term -> sorted positions
    val analyzed = turns.zipWithIndex.map { case (t, i) =>
      (i.toLong, graft.analysis.Analyzer.termPositions(t.text)._1
        .map { case (k, v) => k -> v.toArray })
    }
    def check(q: SpanQuery): Seq[(Long, Int, Int)] = {
      val want = analyzed.flatMap { case (id, tp) =>
        eval(q, tp).map { case (s, e) => (id, s, e) }
      }.sorted
      SparkTestSession.bothPlans {
        val got = Spans.spans(spark, dir, q).collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq
        assert(got == want, s"diverged on $q")
      }
      want
    }
    for (q <- Seq[SpanQuery](
      SpanNear(SpanTerm("time"), SpanTerm("person"), 2, inOrder = true),
      SpanNearUnorderedK(Seq(SpanTerm("time"), SpanTerm("person"),
        SpanTerm("year")), 5)))
      assert(check(q).nonEmpty, s"no span of $q")

    // seeded random span trees: near ordered/unordered (binary and k-ary),
    // or, not, first and position range, nested two or three deep
    val rnd = new scala.util.Random(20260819L)
    val vocab = Vector("time", "person", "year", "way", "day", "world", "life",
      "hand", "part", "people", "thing", "w000123", "zzznope")
    def term(): SpanQuery = SpanTerm(vocab(rnd.nextInt(vocab.size)))
    def tree(depth: Int): SpanQuery =
      if (depth == 0) term()
      else rnd.nextInt(8) match {
        case 0 => term()
        case 1 => SpanNear(tree(depth - 1), tree(depth - 1), rnd.nextInt(6), inOrder = true)
        case 2 => SpanNearK(Seq.fill(2 + rnd.nextInt(2))(tree(depth - 1)), rnd.nextInt(8))
        case 3 => SpanNearUnorderedK(Seq.fill(2 + rnd.nextInt(2))(tree(depth - 1)),
          rnd.nextInt(8))
        case 4 => SpanOr(Seq.fill(2 + rnd.nextInt(2))(tree(depth - 1)))
        case 5 => SpanNot(tree(depth - 1), tree(depth - 1))
        case 6 => SpanFirst(tree(depth - 1), 1 + rnd.nextInt(30))
        case _ => SpanPositionRange(tree(depth - 1), rnd.nextInt(10), 5 + rnd.nextInt(40))
      }
    val matched = (1 to 30).count(_ => check(tree(2 + rnd.nextInt(2))).nonEmpty)
    assert(matched >= 10, s"only $matched of 30 random span trees matched")
  }

  test("spans reuse one view per snapshot: a second call loads no tombstones") {
    import graft.build.IndexBuilder
    import graft.fixtures.Transcripts
    import graft.streaming.StreamingIndexer
    val spark = SparkTestSession.spark
    val dir = java.nio.file.Files.createTempDirectory("graft_spans_dead").toString
    IndexBuilder.buildFromTurns(Transcripts.dataset(spark, 60), dir)
    val q = SpanNear(SpanTerm("time"), SpanTerm("person"), 2, inOrder = true)
    def docs(): Seq[Long] = Spans.spans(spark, dir, q).collect().map(_.getLong(0)).toSeq
    val all = docs()
    assert(all.distinct.size >= 2)
    StreamingIndexer.deleteDocs(spark, dir, Seq(all.head))
    val first = SparkTestSession.jobsOf(assert(docs() == all.filterNot(_ == all.head)))
    assert(first.count(_ == "graft: load tombstones") == 1, first)
    val second = SparkTestSession.jobsOf(assert(docs() == all.filterNot(_ == all.head)))
    assert(!second.contains("graft: load tombstones"), second)
    // a new snapshot gets a new view
    StreamingIndexer.deleteDocs(spark, dir, Seq(all.last))
    assert(docs() == all.filterNot(Set(all.head, all.last)))
  }
}
