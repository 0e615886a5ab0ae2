package graft

import graft.build.IndexBuilder
import graft.fixtures.Transcripts
import graft.oracle.BruteForce
import graft.query.{Query, Searcher, WandSearcher}
import java.nio.file.Files
import scala.util.Random

/** One-off wide fuzz hunt (dev main, not part of the suite): fresh seeds,
  * larger corpus, deeper nesting, varied k — engine vs brute-force oracle and
  * WAND (plain / MaxScore-forced with its dictionary seed) vs exhaustive,
  * all bit-identical.
  */
object DevFuzzHunt {
  def main(args: Array[String]): Unit = {
    val spark = SparkTestSession.spark
    val convs = 600
    val dir = Files.createTempDirectory("graft_fuzz_hunt").toString
    IndexBuilder.buildFromTurns(Transcripts.dataset(spark, convs), dir)
    val turns = Transcripts.local(convs).sortBy(t => (t.conv_id, t.turn_idx))
      .zipWithIndex.map { case (t, i) => (i.toLong, t.text) }
    val exhaustive = new Searcher(spark, dir)
    val oracle = new BruteForce(turns)
    val wand = new WandSearcher(spark, dir)
    val wandForced = new WandSearcher(spark, dir, maxScoreMinBlocksOpt = Some(0L))

    val rnd = new Random(if (args.nonEmpty) args(0).toLong else 20260819023L)
    val vocab = Vector("time", "person", "year", "way", "day", "spark", "index",
      "search", "query", "merge", "table", "fast", "slow", "people", "thing",
      "world", "life", "hand", "part", "w000123", "w004242", "zzznope")
    def term(): String = vocab(rnd.nextInt(vocab.size))
    def boost(): Float = Vector(0.25f, 0.5f, 1.0f, 1.0f, 2.0f, 4.0f)(rnd.nextInt(6))
    def occ(): Query.Occur = rnd.nextInt(6) match {
      case 0     => Query.Must
      case 5     => Query.MustNot
      case _     => Query.Should
    }
    def leaf(): Query = rnd.nextInt(4) match {
      case 0 =>
        val n = 2 + rnd.nextInt(3)
        val slop = rnd.nextInt(5)
        Query.Phrase(Seq.fill(n)(term()).distinct match {
          case ts if ts.size >= 2 => ts
          case ts                 => ts :+ "person"
        }, slop, boost())
      case _ => Query.Term(term(), boost())
    }
    def group(depth: Int): Query = {
      val n = 1 + rnd.nextInt(4)
      val cs = Seq.fill(n)((occ(), if (depth > 0 && rnd.nextInt(3) == 0)
        group(depth - 1) else leaf()))
      Query.BoolQ(cs, minShouldMatch = if (rnd.nextInt(4) == 0) 1 + rnd.nextInt(2) else 0,
        boost = if (rnd.nextInt(5) == 0) 2.0f else 1.0f)
    }
    def k(): Int = Vector(1, 3, 10, 25, 50)(rnd.nextInt(5))

    var fails = 0
    var nonEmpty = 0
    // Part 1: nested trees, engine vs brute-force oracle
    (1 to 300).foreach { i =>
      val q = group(3)
      val kk = k()
      val got = exhaustive.search(q, kk).collect()
        .map(r => (r.getLong(0), r.getFloat(1))).toSeq
      val want = oracle.search(q, kk)
      if (got != want) {
        fails += 1
        println(s"NESTED-DIVERGE $i k=$kk: $q\n got: $got\nwant: $want")
      }
      if (got.nonEmpty) nonEmpty += 1
    }
    println(s"part1 nested: 300 shapes, nonEmpty=$nonEmpty, fails=$fails")

    // Part 2: flat booleans, WAND (plain + forced) vs exhaustive
    var nonEmpty2 = 0
    (1 to 300).foreach { i =>
      def pick(n: Int): Seq[String] = Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).distinct
      val must = pick(rnd.nextInt(3))
      val should = pick(rnd.nextInt(5))
      val not = if (rnd.nextInt(3) == 0) pick(1 + rnd.nextInt(2)) else Nil
      val mm = if (should.nonEmpty && rnd.nextInt(3) == 0)
        1 + rnd.nextInt(should.size) else 0
      if (must.nonEmpty || should.nonEmpty) {
        val q = Query.Bool(must, should, not, mm)
        val kk = k()
        val a = exhaustive.search(q, kk).collect()
          .map(r => (r.getLong(0), r.getFloat(1))).toSeq
        val b = wand.search(q, kk).collect()
          .map(r => (r.getLong(0), r.getFloat(1))).toSeq
        val c = wandForced.search(q, kk).collect()
          .map(r => (r.getLong(0), r.getFloat(1))).toSeq
        if (a != b) { fails += 1; println(s"WAND-DIVERGE $i k=$kk: $q\n ex: $a\n wd: $b") }
        if (a != c) { fails += 1; println(s"FORCED-DIVERGE $i k=$kk: $q\n ex: $a\n wf: $c") }
        if (a.nonEmpty) nonEmpty2 += 1
      }
    }
    println(s"part2 wand: 300 shapes x3 engines, nonEmpty=$nonEmpty2, fails=$fails")
    println(s"FUZZ_HUNT_RESULT fails=$fails")
    if (fails > 0) sys.exit(1)
  }
}
