package graft

import graft.build.IndexBuilder
import graft.fixtures.Transcripts
import graft.oracle.BruteForce
import graft.query.{Query, Searcher}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.util.Random

/** Randomized engine-vs-oracle equivalence over generated nested boolean /
  * phrase trees (the CheckHits random-query discipline,
  * /root/reference/src/Lucene.Net.TestFramework/Search/CheckHits.cs —
  * strengthened to bit-identity). Fixed seed: deterministic corpus AND
  * deterministic query set, so a failure reproduces exactly.
  */
class RandomQuerySpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  test("100 random nested queries: top-k ids AND float32 scores bit-identical") {
    val dir = Files.createTempDirectory("graft_rand").toString
    IndexBuilder.buildFromTurns(Transcripts.dataset(spark, 150), dir)
    val turns = Transcripts.local(150).sortBy(t => (t.conv_id, t.turn_idx))
      .zipWithIndex.map { case (t, i) => (i.toLong, t.text) }
    val searcher = new Searcher(spark, dir)
    val oracle = new BruteForce(turns)

    val rnd = new Random(20260817L)
    val vocab = Vector("time", "person", "year", "way", "day", "spark", "index",
      "search", "query", "merge", "table", "fast", "slow", "w000123", "zzznope")
    def term(): String = vocab(rnd.nextInt(vocab.size))
    def boost(): Float = Vector(0.5f, 1.0f, 1.0f, 2.0f)(rnd.nextInt(4))
    def occ(): Query.Occur = rnd.nextInt(6) match {
      case 0     => Query.Must
      case 5     => Query.MustNot
      case _     => Query.Should
    }
    def phrase(): Query = {
      val n = 2 + rnd.nextInt(2)
      val slop = rnd.nextInt(3)
      Query.Phrase(Seq.fill(n)(term()).distinct match {
        case ts if ts.size >= 2 => ts
        case ts                 => ts :+ "person"
      }, slop, boost())
    }
    def scored(): Query = if (rnd.nextInt(3) == 0) phrase() else Query.Term(term(), boost())
    // DisMax and ConstantScore over a sub-query fold per doc like the nested
    // groups around them
    def leaf(): Query = rnd.nextInt(7) match {
      case 0 => phrase()
      case 1 => Query.DisMax(Seq.fill(2 + rnd.nextInt(2))(scored()),
        tieBreaker = Vector(0.0f, 0.1f, 0.5f)(rnd.nextInt(3)), boost = boost())
      case 2 => Query.ConstantScore(scored(), boost())
      case _ => Query.Term(term(), boost())
    }
    def group(depth: Int): Query = {
      val n = 1 + rnd.nextInt(3)
      val cs = Seq.fill(n)((occ(), if (depth > 0 && rnd.nextInt(3) == 0)
        group(depth - 1) else leaf()))
      Query.BoolQ(cs, minShouldMatch = if (rnd.nextInt(4) == 0) 1 else 0,
        boost = if (rnd.nextInt(5) == 0) 2.0f else 1.0f)
    }

    var nonEmpty = 0
    var folded = 0
    (1 to 100).foreach { i =>
      val q = group(2)
      val want = oracle.search(q, 10)
      // the per-doc folds run reduce-side on both plans; their clause scans
      // take one task or the bucket exchange
      SparkTestSession.bothPlans {
        val got = searcher.search(q, 10).collect()
          .map(r => (r.getLong(0), r.getFloat(1))).toSeq
        assert(got == want, s"query $i diverged: $q\n got: $got\nwant: $want")
      }
      if (want.nonEmpty) nonEmpty += 1
      if (want.nonEmpty && q.toString.matches(".*(DisMax|ConstantScore).*")) folded += 1
    }
    // the generator must actually exercise matching queries, the DisMax and
    // ConstantScore leaves among them
    assert(nonEmpty > 30, s"only $nonEmpty of 100 random queries matched docs")
    assert(folded > 20, s"only $folded matching queries hold a DisMax or ConstantScore leaf")
  }

  test("80 random flat boolean shapes: block-max pruned == exhaustive bit-identically") {
    val dir = Files.createTempDirectory("graft_rand_wand").toString
    IndexBuilder.buildFromTurns(Transcripts.dataset(spark, 150), dir)
    val turns = Transcripts.local(150).sortBy(t => (t.conv_id, t.turn_idx))
      .zipWithIndex.map { case (t, i) => (i.toLong, t.text) }
    // WAND and exhaustive share one combine kernel, so the exhaustive result
    // is also checked against the independent brute-force oracle
    val oracle = new BruteForce(turns)
    val exhaustive = new Searcher(spark, dir)
    val wand = new graft.query.WandSearcher(spark, dir)

    val rnd = new Random(20260818L)
    val vocab = Vector("time", "person", "year", "way", "day", "spark", "index",
      "search", "query", "merge", "table", "fast", "slow", "w000123", "zzznope")
    def pick(n: Int): Seq[String] = Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).distinct

    val shapes = (1 to 80).flatMap { i =>
      val must = pick(rnd.nextInt(3))
      val should = pick(rnd.nextInt(4))
      val not = if (rnd.nextInt(3) == 0) pick(1) else Nil
      val mm = if (should.nonEmpty && rnd.nextInt(3) == 0)
        1 + rnd.nextInt(should.size) else 0
      if (must.nonEmpty || should.nonEmpty) Some(i -> Query.Bool(must, should, not, mm)) else None
    }
    // flat unboosted BoolQ groups, which prune too: boosted terms and in-cap
    // prefix, wildcard and fuzzy leaves (an expansion under MUST nests)
    val grnd = new Random(20260820L)
    def boost(): Float = Vector(0.5f, 1.0f, 1.0f, 2.0f)(grnd.nextInt(4))
    def leaf(): Query = {
      val t = vocab(grnd.nextInt(vocab.size))
      grnd.nextInt(6) match {
        case 0 => Query.Prefix(t.take(if (t.startsWith("w")) 6 else 2), boost())
        case 1 => Query.Wildcard(t.updated(grnd.nextInt(t.length), '?'), boost())
        case 2 => Query.Fuzzy(t, 1 + grnd.nextInt(2), boost())
        case _ => Query.Term(t, boost())
      }
    }
    val groups = (81 to 120).map { i =>
      val cs = Seq.fill(1 + grnd.nextInt(4))(((grnd.nextInt(6) match {
        case 0 => Query.Must
        case 5 => Query.MustNot
        case _ => Query.Should
      }): Query.Occur, leaf()))
      i -> Query.BoolQ(cs, minShouldMatch = if (grnd.nextInt(4) == 0) 1 else 0)
    }
    // the same shapes on the one-task plan and through the bucket exchange
    SparkTestSession.bothPlans {
      var nonEmpty = 0
      var groupsNonEmpty = 0
      (shapes ++ groups).foreach { case (i, q) =>
        val a = exhaustive.search(q, 10).collect()
          .map(r => (r.getLong(0), r.getFloat(1))).toSeq
        val b = wand.search(q, 10).collect()
          .map(r => (r.getLong(0), r.getFloat(1))).toSeq
        assert(a == b, s"query $i: WAND diverged on $q\n exhaustive: $a\n wand: $b")
        val want = oracle.search(q, 10)
        assert(a == want, s"query $i: exhaustive diverged from the oracle on $q\n got: $a\nwant: $want")
        if (a.nonEmpty) { if (i <= 80) nonEmpty += 1 else groupsNonEmpty += 1 }
      }
      assert(nonEmpty > 25, s"only $nonEmpty random boolean shapes matched docs")
      assert(groupsNonEmpty > 20, s"only $groupsNonEmpty random flat groups matched docs")
    }
  }

  test("40 random shapes with the dictionary theta seed forced on: still bit-identical") {
    // the dictionary seed arms only past maxScoreMinBlocks (see
    // WandSearcher scaladoc); force it so random shapes fuzz the seeded
    // pruning against the exhaustive oracle. Per-instance opt-in — no global
    // sys-prop mutation (parallel suites must never see each other's
    // seeding). A one-task scan never seeds, so the whole test runs past the
    // file split budget, where the seed, the essential-range drop and the
    // bucket exchange run.
    SparkTestSession.pastSplitBudget {
      val dir = Files.createTempDirectory("graft_rand_seed").toString
      IndexBuilder.buildFromTurns(Transcripts.dataset(spark, 150), dir)
      val exhaustive = new Searcher(spark, dir)
      val wand = new graft.query.WandSearcher(spark, dir, maxScoreMinBlocksOpt = Some(0L))
      val rnd = new Random(20260819L)
      val vocab = Vector("time", "person", "year", "way", "day", "spark", "index",
        "search", "query", "merge", "table", "fast", "slow", "w000123", "zzznope")
      def pick(n: Int): Seq[String] = Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).distinct
      var nonEmpty = 0
      val jobs = SparkTestSession.jobsOf((1 to 40).foreach { i =>
        val must = pick(rnd.nextInt(3))
        val should = pick(rnd.nextInt(4))
        val not = if (rnd.nextInt(3) == 0) pick(1) else Nil
        val mm = if (should.nonEmpty && rnd.nextInt(3) == 0)
          1 + rnd.nextInt(should.size) else 0
        if (must.nonEmpty || should.nonEmpty) {
          val q = Query.Bool(must, should, not, mm)
          val a = exhaustive.search(q, 10).collect()
            .map(r => (r.getLong(0), r.getFloat(1))).toSeq
          val b = wand.search(q, 10).collect()
            .map(r => (r.getLong(0), r.getFloat(1))).toSeq
          assert(a == b, s"query $i: seeded WAND diverged on $q\n exhaustive: $a\n wand: $b")
          if (a.nonEmpty) nonEmpty += 1
        }
      })
      assert(nonEmpty > 12, s"only $nonEmpty random seeded shapes matched docs")
      // the seeded path really ran (it arms on skewed pure disjunctions only)
      val seeds = jobs.count(_ == "graft: WAND theta seed")
      assert(seeds > 0, "no random shape ran the theta seed")
    }
  }
}
