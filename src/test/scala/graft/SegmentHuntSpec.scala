package graft

import graft.build.IndexBuilder
import graft.fixtures.Transcripts
import graft.query.{Query, Searcher, WandSearcher}
import graft.streaming.{SegmentedSearcher, StreamingIndexer}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.util.Random

/** Segment-split hunt on a fixed budget: the SAME corpus appended as random
  * segment splits (random count, random cut points, mixed positional /
  * DOCS_AND_FREQS verbosity) must search bit-identically to the one-segment
  * batch build — (doc id, float32 score bits) equality on random boolean,
  * nested, phrase, rewrite and filter-style shapes, through both the
  * exhaustive and the pruned searcher. Seeded, so a failure reproduces.
  */
class SegmentHuntSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val Seed = 20260821L
  private val Splits = 2
  private val QueriesPerSplit = 12

  test("random segment splits search bit-identically to the batch build") {
    import spark.implicits._
    val rnd = new Random(Seed)
    val convs = 150
    val pool = Transcripts.local(convs).sortBy(t => (t.conv_id, t.turn_idx))
    val batchDir = Files.createTempDirectory("graft_seg_hunt_batch").toString
    IndexBuilder.buildFromTurns(Transcripts.dataset(spark, convs), batchDir)
    val batch = new Searcher(spark, batchDir)

    val vocab = Vector("time", "person", "year", "way", "day", "world", "life",
      "hand", "part", "people", "w000123", "zzznope")
    def term(): String = vocab(rnd.nextInt(vocab.size))
    def randomQuery(): Query = rnd.nextInt(9) match {
      case 0 => Query.Phrase(Seq(term(), term()).distinct match {
        case s if s.size >= 2 => s; case s => s :+ "person"
      }, rnd.nextInt(3))
      case 1 => Query.Bool(must = Seq(term()), should = Seq(term(), term()).distinct,
        mustNot = if (rnd.nextBoolean()) Seq(term()) else Nil, minShouldMatch = 0)
      case 2 => Query.parse("w00123*")
      case 3 => Query.parse(s"${term()}~1")
      case 4 => Query.parse(s"(${term()} OR ${term()}) AND ${term()}")
      case 5 => Query.parse(s"+(${term()} ${term()})^2 -${term()} ${term()}")
      case 6 => Query.ConstantScore(Query.parse(s"${term()} ${term()}"), 1.5f)
      case 7 => Query.DisMax(Seq(Query.Term(term()), Query.parse(s"${term()} ${term()}")), 0.3f)
      case _ => Query.Bool(should = Seq(term(), term(), term()).distinct,
        minShouldMatch = 1 + rnd.nextInt(2))
    }
    def hits(df: org.apache.spark.sql.DataFrame): Seq[(Long, Int)] =
      df.collect().map(r => (r.getLong(0), java.lang.Float.floatToRawIntBits(r.getFloat(1)))).toSeq

    (1 to Splits).foreach { s =>
      // random cut points: 2-6 chunks in sorted order (ids align with batch)
      val nCuts = 1 + rnd.nextInt(5)
      val cuts = (Seq.fill(nCuts)(1 + rnd.nextInt(pool.size - 1)).distinct.sorted
        :+ pool.size).distinct
      val dir = Files.createTempDirectory(s"graft_seg_hunt_$s").toString
      var prev = 0
      cuts.foreach { c =>
        val positions = s % 2 == 0 || rnd.nextBoolean() // mixed verbosity on odd runs
        StreamingIndexer.appendSegment(spark.createDataset(pool.slice(prev, c)), dir,
          autoCompact = false, positions = positions)
        prev = c
      }
      val seg = new SegmentedSearcher(spark, dir)
      val wand = new WandSearcher(spark, dir)
      (1 to QueriesPerSplit).foreach { i =>
        val q = randomQuery()
        // positional queries need positions in EVERY segment; mixed-verbosity
        // runs restrict to non-positional shapes
        if (!(q.isInstanceOf[Query.Phrase] && s % 2 == 1)) {
          val want = hits(batch.search(q, 10))
          val got = hits(seg.search(q, 10))
          assert(got == want, s"split $s/q$i (${cuts.size} segs): $q\n seg:   $got\n batch: $want")
          val pruned = hits(wand.search(q, 10))
          assert(pruned == want, s"split $s/q$i (${cuts.size} segs) WAND: $q\n wand:  $pruned\n batch: $want")
        }
      }
    }
  }
}
