package graft

import graft.build.IndexBuilder
import graft.fixtures.Transcripts
import graft.query.{Query, Searcher, WandSearcher}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Block-max pruned search must be rank- AND score-bit-identical to the
  * exhaustive path (the rank-safety property of the bound algebra), and must
  * actually skip blocks on skewed term mixes.
  */
class WandSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private lazy val indexDir: String = {
    val dir = Files.createTempDirectory("graft_wand").toString
    IndexBuilder.buildFromTurns(Transcripts.dataset(spark, 400), dir)
    dir
  }
  private lazy val exhaustive = new Searcher(spark, indexDir)
  private lazy val wand = new WandSearcher(spark, indexDir)

  import SparkTestSession.bothPlans

  private def both(q: Query, k: Int = 10): Unit = {
    val a = exhaustive.search(q, k).collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
    val b = wand.search(q, k).collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
    assert(a == b, s"WAND diverged on $q\n exhaustive: $a\n wand: $b")
  }

  test("single-term: identical to exhaustive") {
    both(Query.Term("time"))
    both(Query.Term("w001234"))
    both(Query.Term("zzzznothere"))
    // a negative boost scores below zero, where no block-max bound holds
    both(Query.Term("time", -1.0f))
  }

  test("disjunctions: identical to exhaustive") {
    both(Query.Bool(should = Seq("time", "person")))
    both(Query.Bool(should = Seq("spark", "index", "search")))
    both(Query.Bool(should = Seq("year", "way", "day", "thing", "man")))
    both(Query.Bool(should = Seq("time", "zzzznothere")))
    // hot + rare mix: the pruning sweet spot
    both(Query.Bool(should = Seq("time", "w001234")))
    both(Query.BoolQ(Seq((Query.Should, Query.Term("time", -1.0f)),
      (Query.Should, Query.Term("w001234")))))
  }

  test("multi-MUST / NOT / residual mm: bucket-pruned path identical to exhaustive") {
    both(Query.Bool(must = Seq("time", "person"))) // 2 MUSTs
    both(Query.Bool(must = Seq("time", "person", "year"))) // 3 MUSTs
    both(Query.Bool(must = Seq("time", "w001234"))) // hot + rare conjunction
    both(Query.Bool(must = Seq("time", "zzzznothere"))) // absent MUST -> empty
    both(Query.Bool(must = Seq("time", "person"), should = Seq("year", "way")))
    both(Query.Bool(should = Seq("time"), mustNot = Seq("person")))
    both(Query.Bool(must = Seq("time", "person"), mustNot = Seq("year")))
    // residual minShouldMatch shapes (pure-should mm >= 2, must + unmet mm)
    both(Query.Bool(should = Seq("time", "person", "year"), minShouldMatch = 2))
    both(Query.Bool(should = Seq("time", "person", "year", "way"), minShouldMatch = 3))
    both(Query.Bool(must = Seq("time"), should = Seq("person", "year"), minShouldMatch = 2))
    // unsatisfiable mm
    both(Query.Bool(should = Seq("time", "zzzznothere"), minShouldMatch = 2))
  }

  test("reduce-side leapfrog prunes conjunctions past the driver-collect cap") {
    // The scan-side Intervals prefilter is gated by graft.phrase.leadMaxDf
    // (driver collect bound). Past it — the 10^9-df lead at corpus scale —
    // the reduce-side block-range leapfrog must carry the intersection
    // pruning alone. Simulate by forcing the cap to 0 so NO scan-side
    // prefilter runs, then check the rare+hot conjunction still skips the
    // hot term's non-overlapping blocks and stays bit-identical.
    val key = "graft.phrase.leadMaxDf"
    val old = sys.props.get(key)
    sys.props(key) = "0"
    try bothPlans {
      val q = Query.Bool(must = Seq("time", "w001234"))
      both(q)
      wand.search(q, 5).collect()
      val skipped = wand.lastSkipped.get.value
      val scanned = wand.lastScanned.get.value
      assert(skipped > 0, s"expected leapfrogged blocks (scanned=$scanned)")
    } finally {
      old match { case Some(v) => sys.props(key) = v; case None => sys.props.remove(key) }
    }
  }

  test("conjunction pruning skips buckets where a MUST term is absent") {
    // +rare +hot: buckets without the rare term's blocks are skipped without
    // decoding (block-granular ConjunctionScorer advance) — on this corpus
    // the rare term w001234 appears in few buckets, so most of the hot
    // term's blocks never decode.
    wand.search(Query.Bool(must = Seq("time", "w001234")), 5).collect()
    val skipped = wand.lastSkipped.get.value
    val scanned = wand.lastScanned.get.value
    assert(skipped + scanned > 0)
    assert(skipped > 0, s"expected skipped blocks (scanned=$scanned)")
  }

  test("single-MUST conjunctions: pruned path identical to exhaustive") {
    both(Query.Bool(must = Seq("time"), should = Seq("person")))
    both(Query.Bool(must = Seq("w001234"), should = Seq("time", "person"))) // rare must, hot shoulds
    both(Query.Bool(must = Seq("time"), should = Seq("w001234"))) // hot must, rare should
    both(Query.Bool(must = Seq("time"), should = Seq("zzzznothere")))
    both(Query.Bool(must = Seq("zzzznothere"), should = Seq("time"))) // absent MUST -> empty
    both(Query.Bool(must = Seq("time"), should = Seq("time"))) // duplicated term
    both(Query.Bool(must = Seq("time"), should = Seq("time"), minShouldMatch = 1)) // mm credited by the dup
    both(Query.Bool(must = Seq("time"), should = Seq("year", "way", "day")))
    both(Query.BoolQ(Seq((Query.Must, Query.Term("time", -1.0f)),
      (Query.Should, Query.Term("person")))))
  }

  test("single-MUST pruning actually skips blocks on a hot conjunction") {
    // On this tiny corpus a hot+hot pair can't prune (every block bound
    // carries the other term's gmax as rest, and theta never clears it —
    // same block-granularity reality as the hot+rare disjunction note
    // below); with the optional clause absent from the dictionary rest=0
    // and the MUST heap must skip the hot tail like the single-term case.
    wand.search(Query.Bool(must = Seq("time"), should = Seq("zzzznothere")), 3).collect()
    val skipped = wand.lastSkipped.get.value
    val scanned = wand.lastScanned.get.value
    assert(skipped + scanned > 0)
    assert(skipped > 0, s"expected some skipped blocks (scanned=$scanned)")
  }

  test("tight ties on the MUST path: strict skip keeps equal-bound blocks") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_wand_must_ties").toString
    val docs = (0L until 600L).map(i => (i, "alpha beta gamma delta")).toDF("doc_id", "text")
    IndexBuilder.build(docs, dir)
    val ex = new Searcher(spark, dir)
    val wd = new WandSearcher(spark, dir)
    val q = Query.Bool(must = Seq("alpha"), should = Seq("beta"))
    val a = ex.search(q, 10).collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
    val b = wd.search(q, 10).collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
    assert(a.nonEmpty && a == b)
    assert(a.map(_._1) == (0L until 10L))
  }

  test("pruning actually skips blocks on a hot single-term query") {
    // Block-level bounds (no doc-at-a-time cursor alignment) can prune only
    // when the threshold exceeds a block's own upper bound: the hot
    // single-term case, where θ from the best blocks beats the long tail of
    // low-block-max blocks. (A hot+rare disjunction is un-prunable at block
    // granularity — any hot doc might also contain the rare term.)
    wand.search(Query.Term("time"), 3).collect()
    val skipped = wand.lastSkipped.get.value
    val scanned = wand.lastScanned.get.value
    assert(skipped + scanned > 0)
    assert(skipped > 0, s"expected some skipped blocks (scanned=$scanned)")
  }

  test("k larger than total hits") {
    both(Query.Term("w001234"), k = 10000)
  }

  test("dictionary-seeded theta: identity preserved with seeding forced on") {
    // The dictionary seed normally arms only on disjunction scans past
    // maxScoreMinBlocks; force it on for EVERY shape so the seeded threshold
    // is exercised against the exhaustive oracle on this corpus (including
    // the all-ties corpus where theta_0 equals every block's score and the
    // strict skip must keep them). Per-instance opt-in (constructor param) —
    // no global sys-prop mutation, so concurrently-running suites are never
    // armed by this test. A one-task scan never seeds, so the seed runs on
    // the second, past-the-split-budget plan.
    bothPlans {
      val wd = new WandSearcher(spark, indexDir, maxScoreMinBlocksOpt = Some(0L))
      def seededBoth(q: Query, k: Int = 10): Unit = {
        val a = exhaustive.search(q, k).collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
        val b = wd.search(q, k).collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
        assert(a == b, s"seeded WAND diverged on $q\n exhaustive: $a\n wand: $b")
      }
      seededBoth(Query.Term("time"))
      seededBoth(Query.Term("w001234"))
      seededBoth(Query.Bool(should = Seq("time", "person")))
      seededBoth(Query.Bool(should = Seq("time", "w001234")))
      seededBoth(Query.Bool(should = Seq("year", "way", "day", "thing", "man")))
      seededBoth(Query.Bool(must = Seq("time"), should = Seq("person")))
      seededBoth(Query.Bool(must = Seq("w001234"), should = Seq("time", "person")))
      seededBoth(Query.Term("w001234"), k = 10000) // seed under-fills: k > df
      // all-ties corpus: theta_0 == every block bound modulo slack
      import spark.implicits._
      val dir = Files.createTempDirectory("graft_wand_seed_ties").toString
      val docs = (0L until 600L).map(i => (i, "alpha beta gamma delta")).toDF("doc_id", "text")
      IndexBuilder.build(docs, dir)
      val ex2 = new Searcher(spark, dir)
      val wd2 = new WandSearcher(spark, dir,
        maxScoreMinBlocksOpt = Some(0L)) // all-ties + forced MaxScore split
      val q = Query.Bool(must = Seq("alpha"), should = Seq("beta"))
      val a = ex2.search(q, 10).collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
      val b = wd2.search(q, 10).collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
      assert(a.nonEmpty && a == b)
    }
  }

  /** One rare strong term (`needle`: 50 docs, clustered at the low ids) and
    * one dense weak term (`hay`: every doc) over 20,000 docs.
    */
  private lazy val needleDir: String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_wand_maxscore").toString
    val docs = (0L until 20000L).map { i =>
      val rare = if (i < 50) " needle" else ""
      (i, s"hay filler$rare")
    }.toDF("doc_id", "text")
    IndexBuilder.build(docs, dir)
    dir
  }

  test("term-level MaxScore: dense non-essential blocks skip away from rare candidates") {
    // theta_0 seeded from the rare term's top-k exceeds the dense term's
    // entire gmax, so the dense term is NON-ESSENTIAL from block one — it
    // stops establishing candidates, and every dense block whose 128-doc
    // range holds no rare candidate skips its decode (BlockCombine's MaxScore
    // establishment). This is exactly the cross-term block population the
    // round-4 theta-seed experiment proved unskippable by block BOUNDS alone.
    val dir = needleDir
    val ex = new Searcher(spark, dir)
    val wd = new WandSearcher(spark, dir) // default-on split (158 blocks > 64)
    val q = Query.Bool(should = Seq("needle", "hay"))
    // one task: the combine's own k-th best floor freezes the dense term
    // after the first bucket; past the split budget: the theta seed does
    bothPlans {
      val a = ex.search(q, 10).collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
      val b = wd.search(q, 10).collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
      assert(a.nonEmpty && a == b, s"MaxScore diverged\n exhaustive: $a\n wand: $b")
      val skipped = wd.lastSkipped.get.value
      val scanned = wd.lastScanned.get.value
      assert(skipped > scanned,
        s"dense blocks should mostly skip: skipped=$skipped scanned=$scanned")
      // the skip is the term-level split, not the bound test: the dense term's
      // blocks all carry the rare term's gmax as rest, so bounds alone keep them
      assert(skipped.toDouble / (skipped + scanned) > 0.7,
        s"expected >70% skip on the skewed mix: skipped=$skipped scanned=$scanned")
    }
  }

  test("single MUST past the split budget: the rare MUST's block ranges prefilter the scan") {
    // +needle hay: every hit holds the rare MUST, so hay blocks overlapping
    // none of its block ranges drop before the exchange. With the prefilter
    // off (graft.phrase.leadMaxDf=0) they cross it and the combine counts
    // each copy as skipped or scanned.
    val q = Query.Bool(must = Seq("needle"), should = Seq("hay"))
    val ex = new Searcher(spark, needleDir)
    val wd = new WandSearcher(spark, needleDir)
    def run(): (Seq[(Long, Float)], Long) = {
      val got = wd.search(q, 10).collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
      (got, wd.lastSkipped.get.value + wd.lastScanned.get.value)
    }
    val key = "graft.phrase.leadMaxDf"
    val old = sys.props.get(key)
    SparkTestSession.pastSplitBudget {
      val want = ex.search(q, 10).collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
      val (on, copiesOn) = run()
      sys.props(key) = "0"
      val (off, copiesOff) =
        try run()
        finally old match { case Some(v) => sys.props(key) = v; case None => sys.props.remove(key) }
      assert(want.nonEmpty && on == want && off == want, s"\n want: $want\n on: $on\n off: $off")
      assert(copiesOn < copiesOff, s"prefiltered copies $copiesOn, unfiltered $copiesOff")
    }
  }

  test("term-level MaxScore identity fuzz: split forced on at every scan size") {
    // force the split (and its theta seed) on for small corpora so the
    // freeze/candidate machinery is exercised against the exhaustive oracle
    // across mixed-df disjunctions, on both plans
    val wd = new WandSearcher(spark, indexDir, maxScoreMinBlocksOpt = Some(0L))
    def forcedBoth(q: Query, k: Int = 10): Unit = {
      val a = exhaustive.search(q, k).collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
      val b = wd.search(q, k).collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
      assert(a == b, s"forced MaxScore diverged on $q\n exhaustive: $a\n wand: $b")
    }
    bothPlans {
      forcedBoth(Query.Bool(should = Seq("time", "person")))
      forcedBoth(Query.Bool(should = Seq("spark", "index", "search")))
      forcedBoth(Query.Bool(should = Seq("year", "way", "day", "thing", "man")))
      forcedBoth(Query.Bool(should = Seq("time", "w001234")))
      forcedBoth(Query.Bool(should = Seq("time", "w001234")), k = 10000)
      forcedBoth(Query.Bool(must = Seq("time"), should = Seq("person", "year")))
      forcedBoth(Query.Bool(must = Seq("w001234"), should = Seq("time")))
    }
  }

  test("zero-score ties: a block whose bound equals theta is never skipped") {
    // With boost 0 every posting scores exactly 0, so every block bound
    // (0 + rest 0) * slack EQUALS theta once k docs are seen — the one case
    // where slack cannot separate them. The strict skip must scan every
    // block, scan-side and in the combine. Short docs sit at the high ids,
    // so impact order streams them first: a non-strict skip would drop the
    // low-id docs that win the doc_id tie-break.
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_wand_zero").toString
    val docs = (0L until 2000L).map { i =>
      (i, if (i < 1000) "alpha beta filler filler filler filler" else "alpha beta")
    }.toDF("doc_id", "text")
    IndexBuilder.build(docs, dir)
    val ex = new Searcher(spark, dir)
    val wd = new WandSearcher(spark, dir)
    Seq(Query.Term("alpha", 0.0f),
      Query.BoolQ(Seq((Query.Should, Query.Term("alpha", 0.0f)),
        (Query.Should, Query.Term("beta", 0.0f))))).foreach { q =>
      val a = ex.search(q, 10).collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
      val b = wd.search(q, 10).collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
      assert(a.map(_._1) == (0L until 10L) && a == b, s"zero-score ties diverged on $q: $b")
      assert(wd.lastSkipped.get.value == 0L, s"skipped a block whose bound equals theta on $q")
    }
  }

  test("tight score ties: every block bound equals theta, nothing lost") {
    // Adversarial corpus for the skip condition: every doc is identical
    // (tf=1, same length), so every posting scores exactly the same and every
    // block's upper bound equals the threshold up to slack, which keeps the
    // bound just above it (exact equality is the zero-score test above). The
    // skip must keep every block and match the exhaustive tie-break
    // (doc_id asc).
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_wand_ties").toString
    val docs = (0L until 600L).map(i => (i, "alpha beta gamma delta")).toDF("doc_id", "text")
    IndexBuilder.build(docs, dir)
    val ex = new Searcher(spark, dir)
    val wd = new WandSearcher(spark, dir)
    val q = Query.Term("alpha")
    val a = ex.search(q, 10).collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
    val b = wd.search(q, 10).collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
    assert(a.nonEmpty && a == b)
    assert(a.map(_._1) == (0L until 10L))
  }
}
