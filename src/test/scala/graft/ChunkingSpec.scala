package graft

import graft.build.IndexBuilder
import graft.model.Turn
import graft.oracle.BruteForce
import graft.query.{Query, Searcher}
import graft.verify.IndexVerifier
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import java.sql.Timestamp

/** The positional-mass run chunking (IndexBuilder.RunMaxPositions): the rest
  * of the suite builds corpora with avg tf <= 4, so the positional cap never
  * binds there — this corpus makes ONE hot term carry ~200 positions per doc
  * so every S1 partition's run splits on positions (not postings), and then
  * requires that the split is invisible end to end: CheckIndex invariants,
  * term/phrase/sloppy results bit-identical to the brute-force oracle.
  */
class ChunkingSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private val nDocs = 800
  private lazy val turns: Seq[Turn] = (0 until nDocs).map { i =>
    // "alpha pepper^200 omega marker_i" — hot tf-dense term + phrase anchors
    val body = Array.fill(200)("pepper").mkString(" ")
    Turn(f"c$i%05d", 0, "user", s"alpha $body omega w${i % 7}", "", new Timestamp(i * 1000L))
  }

  private lazy val indexDir: String = {
    val dir = Files.createTempDirectory("graft_chunk").toString
    import spark.implicits._
    IndexBuilder.buildFromTurns(spark.createDataset(turns), dir,
      IndexBuilder.Options(numPartitions = 4, segmentPartitions = 4, positions = true))
    dir
  }

  private lazy val searcher = new Searcher(spark, indexDir)
  private lazy val oracle = new BruteForce(
    turns.sortBy(t => (t.conv_id, t.turn_idx)).zipWithIndex
      .map { case (t, i) => (i.toLong, t.text) })

  private def check(q: Query, k: Int = 10): Unit = {
    val got = searcher.search(q, k).collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
    val want = oracle.search(q, k)
    assert(got == want, s"query $q\n got: $got\nwant: $want")
  }

  test("the positional cap actually binds: hot-term runs split beyond one row per partition") {
    // the runs S1 emits for the index above, tokenized as its 4 doc-range
    // partitions (the build deletes its runs table once it has committed)
    val sorted = turns.sortBy(t => (t.conv_id, t.turn_idx))
    val pepperRuns = sorted.grouped(nDocs / 4).zipWithIndex.map { case (part, pid) =>
      IndexBuilder.buildRuns(pid, part.iterator.zipWithIndex.map { case (t, i) => (i.toLong, t.text) })
        .count(_.term == "pepper")
    }.sum
    // 800 docs x 200 positions = 160k positions over 4 partitions = ~40k per
    // partition > RunMaxPositions (8192) -> >= 2 rows per partition; the
    // postings cap (8192 docs) alone would have produced exactly 4.
    assert(pepperRuns > 4, s"expected positional split, got $pepperRuns runs")
  }

  test("index invariants hold on a positions-split index") {
    assert(IndexVerifier.verify(spark, indexDir).isEmpty)
  }

  test("term and boolean results identical to oracle across split runs") {
    check(Query.Term("pepper"))
    check(Query.Term("alpha"))
    check(Query.Bool(should = Seq("pepper", "w3")))
    check(Query.Bool(must = Seq("pepper", "omega"), mustNot = Seq("w5")))
  }

  test("phrase and sloppy positional walks identical to oracle across split runs") {
    check(Query.Phrase(Seq("alpha", "pepper")))
    check(Query.Phrase(Seq("pepper", "omega")))
    check(Query.Phrase(Seq("alpha", "omega"), slop = 205))
  }
}
