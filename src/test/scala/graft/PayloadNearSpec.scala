package graft

import graft.analysis.WhitespaceAnalyzer
import graft.build.IndexBuilder
import graft.query.Query.{PayloadFunc, PayloadNear}
import graft.query.Searcher
import graft.score.Bm25
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** PayloadNearQuery vs hand-walked reference semantics
  * (/root/reference/src/Lucene.Net/Search/Payloads/PayloadNearQuery.cs):
  * the ORDERED match stream is NearSpansOrdered's shrink-to-shortest walk
  * (not the exhaustive combination set), the UNORDERED stream is the
  * CellQueue frontier; freq sums 1/(matchLength+1) per emitted match and the
  * payload fold sees the payloads stored at the matched positions — bare
  * positions contribute nothing, and an ordered clause whose final matched
  * position is bare contributes its most recent payload-carrying position
  * instead (the reference's possiblePayload overwrite-on-available quirk,
  * NearSpansOrdered.cs:360-391).
  */
class PayloadNearSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val docs = Seq(
    (0L, "a|1.0 b|2.0"),
    (1L, "a|1.0 x a|3.0 b|2.0"),
    (2L, "b|2.0 a|1.0"),
    (3L, "a|4.0 b|0.5 a b|1.5"),
    (4L, "a|1.0 a b|2.0"),
    (5L, "a|9.0 z z"),
    (6L, "a|1.0 z b|2.0"))

  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft_paynear").toString
    IndexBuilder.build(spark.createDataset(docs).toDF("doc_id", "text"), d,
      IndexBuilder.Options(analyzer = WhitespaceAnalyzer, payloads = true,
        numPartitions = 2))
    d
  }

  /** Expected per doc: (matchLengths of the reference walk's emitted matches,
    * payload factors in collection order).
    */
  private def expected(table: Map[Long, (Seq[Int], Seq[Float])],
                       func: PayloadFunc): Seq[(Long, Float)] = {
    val norms = spark.read.parquet(s"$dir/norms")
      .select("doc_id", "norm").as[(Long, Byte)].collect().toMap
    val stats = spark.read.parquet(s"$dir/stats")
      .as[graft.model.CollectionStats].head()
    val dfA = 7L // 'a' appears in every doc
    val dfB = 6L // 'b' in docs 0-4, 6
    val wv = Bm25.weightValue(Bm25.idf(dfA, stats.max_doc) + Bm25.idf(dfB, stats.max_doc))
    val cache = Bm25.buildCache(Bm25.avgFieldLength(stats.sum_ttf, stats.max_doc))
    table.toSeq.map { case (doc, (lens, fs)) =>
      val freq = lens.foldLeft(0.0f)((s, l) => s + 1.0f / (l + 1))
      val pay =
        if (fs.isEmpty) 1.0f
        else func match {
          case PayloadFunc.Avg => fs.foldLeft(0.0f)(_ + _) / fs.size
          case PayloadFunc.Min => fs.reduceLeft(math.min)
          case PayloadFunc.Max => fs.reduceLeft(math.max)
        }
      (doc, Bm25.score(wv, freq, cache, norms(doc)) * pay)
    }.sortBy { case (d, s) => (-s, d) }
  }

  private def engine(slop: Int, inOrder: Boolean, func: PayloadFunc): Seq[(Long, Float)] =
    new Searcher(spark, dir)
      .search(PayloadNear(Seq("a", "b"), slop, inOrder, func), 10)
      .collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq

  // ORDERED slop 0 walk, hand-derived:
  //  doc0 a@0 b@1        -> (0,2)                      pays [b 2.0, a 1.0]
  //  doc1 a@0 a@2 b@3    -> shrink picks a@2: (2,4)    pays [2.0, 3.0]
  //  doc2 b before a     -> no ordered match
  //  doc3 a@0 b@1 a@2 b@3-> (0,2) then (2,4)           pays [0.5, 4.0, 1.5]
  //       (second match: a@2 is bare -> clause contributes nothing)
  //  doc4 a@0 a@1 b@2    -> (1,3); a@1 bare -> STALE a@0 payload carried
  //                         (possiblePayload quirk)    pays [2.0, 1.0]
  //  doc5 no b           -> nothing
  //  doc6 a@0 z b@2      -> gap 1 > slop 0 -> no match
  private val orderedSlop0: Map[Long, (Seq[Int], Seq[Float])] = Map(
    0L -> (Seq(2), Seq(2.0f, 1.0f)),
    1L -> (Seq(2), Seq(2.0f, 3.0f)),
    3L -> (Seq(2, 2), Seq(0.5f, 4.0f, 1.5f)),
    4L -> (Seq(2), Seq(2.0f, 1.0f)))

  test("ordered walk: shrink-to-shortest matches, slop filter, stale-payload quirk") {
    SparkTestSession.bothPlans {
      for (f <- Seq(PayloadFunc.Avg, PayloadFunc.Min, PayloadFunc.Max))
        assert(engine(0, inOrder = true, f) == expected(orderedSlop0, f), s"func=$f")
    }
  }

  test("ordered slop 1 admits the gapped doc") {
    // doc6: (0,3) with one-position gap, matchLength 3 -> freq 1/4
    val t = orderedSlop0 + (6L -> (Seq(3), Seq(2.0f, 1.0f)))
    SparkTestSession.bothPlans {
      assert(engine(1, inOrder = true, PayloadFunc.Avg) == expected(t, PayloadFunc.Avg))
    }
  }

  // UNORDERED slop 5 CellQueue walk:
  //  doc0: (0,2)                                  pays [1.0, 2.0]
  //  doc1: (0,4) then (2,4)                       pays [1.0, 2.0, 3.0, 2.0]
  //  doc2: out-of-order pair matches: (0,2)       pays [1.0, 2.0]
  //  doc3: (0,2), (1,3), (2,4) — b@1's payload is collected TWICE,
  //        a@2 is bare                            pays [4.0, 0.5, 0.5, 1.5]
  //  doc4: (1,3), (0,3)? walk: min a@0: (0,3) 3-0-2=1 ok -> emit;
  //        advance a -> a@1: (1,3) 0 ok -> emit; advance a -> done
  //                                               pays [1.0, 2.0, 2.0]
  //  doc6: (0,3) gap 1 <= 5                       pays [1.0, 2.0]
  private val unorderedSlop5: Map[Long, (Seq[Int], Seq[Float])] = Map(
    0L -> (Seq(2), Seq(1.0f, 2.0f)),
    1L -> (Seq(4, 2), Seq(1.0f, 2.0f, 3.0f, 2.0f)),
    2L -> (Seq(2), Seq(1.0f, 2.0f)),
    3L -> (Seq(2, 2, 2), Seq(4.0f, 0.5f, 0.5f, 1.5f)),
    4L -> (Seq(3, 2), Seq(1.0f, 2.0f, 2.0f)),
    6L -> (Seq(3), Seq(1.0f, 2.0f)))

  test("unordered walk: frontier matches incl. overlap and repeat payload collection") {
    SparkTestSession.bothPlans {
      for (f <- Seq(PayloadFunc.Avg, PayloadFunc.Min, PayloadFunc.Max))
        assert(engine(5, inOrder = false, f) == expected(unorderedSlop5, f), s"func=$f")
    }
  }

  test("clause term absent from the corpus matches nothing") {
    SparkTestSession.bothPlans {
      assert(engine(0, inOrder = true, PayloadFunc.Avg).nonEmpty)
      val r = new Searcher(spark, dir)
        .search(PayloadNear(Seq("a", "nope"), 0, inOrder = true), 10).collect()
      assert(r.isEmpty)
    }
  }
}
