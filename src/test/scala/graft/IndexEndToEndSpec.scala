package graft

import graft.build.IndexBuilder
import graft.fixtures.Transcripts
import graft.oracle.BruteForce
import graft.query.{Query, Searcher}
import graft.verify.IndexVerifier
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** North-star slice: build the index over the synthesized transcripts corpus,
  * run the reference query classes, and require rank- AND score-bit-identical
  * results vs the in-memory brute-force oracle (FIXTURES.md §4).
  */
class IndexEndToEndSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val numConvs = 200L
  private lazy val turns = Transcripts.local(numConvs)
  private lazy val indexDir: String = {
    val dir = Files.createTempDirectory("graft_idx").toString
    IndexBuilder.buildFromTurns(Transcripts.dataset(spark, numConvs), dir)
    dir
  }
  private lazy val searcher = new Searcher(spark, indexDir)
  private lazy val oracle: BruteForce = {
    // doc_id = rank of (conv_id, turn_idx) in sorted order — same contract
    val sorted = turns.sortBy(t => (t.conv_id, t.turn_idx))
    new BruteForce(sorted.zipWithIndex.map { case (t, i) => (i.toLong, t.text) })
  }

  private def check(q: Query, k: Int = 10): Unit = {
    val got = searcher.search(q, k).collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
    val want = oracle.search(q, k)
    assert(got == want, s"query $q\n got: $got\nwant: $want")
  }

  test("index invariants hold (CheckIndex analog)") {
    assert(IndexVerifier.verify(spark, indexDir).isEmpty)
  }

  /** The verifier's findings on a copy of the good index whose `table` is
    * rewritten by `f`.
    */
  private def corrupted(table: String)(
      f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Seq[String] = {
    val dir = java.nio.file.Files.createTempDirectory("graft_checkidx_neg")
    val src = java.nio.file.Paths.get(indexDir)
    java.nio.file.Files.walk(src).forEach { p =>
      val t = dir.resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t)
    }
    val rows = spark.read.parquet(s"$dir/$table").cache(); rows.count()
    val out = f(rows).cache(); out.count()
    out.write.mode("overwrite").parquet(s"$dir/$table")
    rows.unpersist(); out.unpersist()
    IndexVerifier.verify(spark, dir.toString)
  }

  test("CheckIndex DETECTS missing and orphan postings (found by DevVerifierHunt)") {
    import org.apache.spark.sql.functions._
    // a term whose posting blocks ALL vanish (the outer-join side of the
    // df/ttf cross-check; an inner join silently passed this)
    val missing = corrupted("postings")(p => p.filter(col("term_id") =!= 0L))
    assert(missing.exists(_.contains("df/ttf mismatch")), s"missed dropped term: $missing")
    // posting blocks under a term_id the dict doesn't know
    val orphan = corrupted("postings") { p =>
      p.union(p.filter(col("term_id") === 0L).withColumn("term_id", lit(987654321L)))
    }
    assert(orphan.exists(_.contains("no termdict entry")), s"missed orphan postings: $orphan")
  }

  test("CheckIndex DETECTS two terms swapped out of term order") {
    import org.apache.spark.sql.functions._
    // terms 0 and 1 trade places: the ids stay dense and each id's df/ttf
    // still matches its postings, so term order is the only violation
    val swapped = corrupted("termdict") { d =>
      val t = d.filter(col("term_id") <= 1L).select("term_id", "term").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      d.withColumn("term", when(col("term_id") === 0L, lit(t(1L)))
        .when(col("term_id") === 1L, lit(t(0L))).otherwise(col("term")))
    }
    assert(swapped == Seq("1 term_id pairs out of term order"), s"swapped terms: $swapped")
  }

  test("docmap matches the stable (conv_id, turn_idx) ordering") {
    val docmap = spark.read.parquet(s"$indexDir/docmap")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
      .sortBy(_._1)
    val want = turns.sortBy(t => (t.conv_id, t.turn_idx)).zipWithIndex
      .map { case (t, i) => (i.toLong, t.conv_id, t.turn_idx) }
    assert(docmap.toSeq == want)
  }

  test("single term queries: hot, mid, rare, absent, stopword") {
    check(Query.Term("the"))        // stopword: empty
    check(Query.Term("time"))       // hot head-of-zipf real word
    check(Query.Term("index"))
    check(Query.Term("w001234"))    // mid/rare tail word
    check(Query.Term("w029999"))    // likely df<=1
    check(Query.Term("zzzznothere"))
  }

  test("boolean SHOULD disjunctions (2..5 terms)") {
    check(Query.Bool(should = Seq("time", "person")))
    check(Query.Bool(should = Seq("spark", "index", "search")))
    check(Query.Bool(should = Seq("year", "way", "day", "thing", "man")))
    check(Query.Bool(should = Seq("time", "zzzznothere")))
  }

  test("boolean MUST conjunctions") {
    check(Query.Bool(must = Seq("time", "person")))
    check(Query.Bool(must = Seq("spark", "query")))
    check(Query.Bool(must = Seq("time", "zzzznothere"))) // absent MUST -> empty
  }

  test("MUST_NOT and mixed boolean") {
    check(Query.Bool(should = Seq("time"), mustNot = Seq("person")))
    check(Query.Bool(must = Seq("index"), should = Seq("search", "merge"), mustNot = Seq("error")))
  }

  test("minimumNumberShouldMatch") {
    check(Query.Bool(should = Seq("time", "person", "year"), minShouldMatch = 2))
    check(Query.Bool(should = Seq("spark", "index", "merge", "sort"), minShouldMatch = 3))
  }

  test("duplicate MUST+SHOULD clause credits minShouldMatch") {
    // Bool(must=[a], should=[a], mm=1) must NOT be empty: the deduped SHOULD
    // clause is satisfied by every conjunction-passing doc (BooleanQuery
    // duplicate-clause semantics)
    val q = Query.Bool(must = Seq("time"), should = Seq("time"), minShouldMatch = 1)
    check(q)
    assert(searcher.search(q, 10).count() > 0)
    check(Query.Bool(must = Seq("time"), should = Seq("time", "person"), minShouldMatch = 2))
    check(Query.BoolQ(Seq((Query.Must, Query.Term("time")),
      (Query.Should, Query.Term("time"))), minShouldMatch = 1))
  }

  test("parsed query syntax end-to-end") {
    check(Query.parse("time person"))
    check(Query.parse("+index search -error"))
    check(Query.parse("The Quick-Brown index")) // analyzer applies to queries too
  }

  test("parsed full syntax end-to-end: AND/OR, boosts, multi-term rewrites, phrase") {
    check(Query.parse("time AND person"))
    check(Query.parse("time OR person OR year"))
    check(Query.parse("time^2 person"))
    check(Query.parse("time^0.5 AND NOT person"))
    check(Query.parse("w00123*"))               // prefix expansion
    check(Query.parse("w0012?4"))               // wildcard expansion
    check(Query.Regexp("0012"))                 // a regexp matches the whole term: none here
    check(Query.Regexp("w0012[3-5]4"))          // whole-term regexp expansion
    check(Query.Regexp("^w0012.4$"))            // explicit anchors change nothing
    check(Query.parse("time~1"))                // fuzzy distance 1
    check(Query.parse("index~"))                // fuzzy default distance 2, top-50 by sim
    check(Query.parse("[w001230 TO w001240]"))  // term range expansion
    check(Query.parse("{w001230 TO w001240}"))
    check(Query.parse("\"time person\""))       // phrase through the parser
    check(Query.parse("\"time person\"~2"))
    check(Query.parse("+time w00123* -person")) // mixed boolean with expansion
  }

  test("multi-term under MUST nests as a SHOULD group (BooleanQuery rewrite)") {
    check(Query.parse("+w00123* search"))
    check(Query.BoolQ(Seq(
      (Query.Must, Query.TermRange("w001230", "w001240", includeLo = true, includeHi = true)),
      (Query.Should, Query.Term("time")))))
    check(Query.BoolQ(Seq((Query.Must, Query.Fuzzy("index", 1)))))
    check(Query.BoolQ(Seq(
      (Query.Must, Query.Wildcard("w0012?4")),
      (Query.MustNot, Query.Term("person")))))
    // a MUST expansion matching nothing empties the conjunction
    check(Query.BoolQ(Seq(
      (Query.Must, Query.Prefix("zzzznope")),
      (Query.Should, Query.Term("time")))))
  }

  test("over-cap expansions switch to the constant-score filter rewrite") {
    val key = "graft.rewrite.maxExpansions"
    val prev = sys.props.get(key)
    sys.props(key) = "3"
    try {
      // 'w*' matches thousands of synthetic tail words >> cap 3
      check(Query.Prefix("w", 2.0f))
      check(Query.parse("time w*"))
      check(Query.Wildcard("w*1"))
      check(Query.BoolQ(Seq(
        (Query.Must, Query.Prefix("w")),
        (Query.Should, Query.Term("time")))))
      check(Query.BoolQ(Seq(
        (Query.Should, Query.Term("time")),
        (Query.MustNot, Query.Prefix("w")))))
      // still rank-defined: constant score, ties by doc_id
      assert(searcher.search(Query.Prefix("w", 2.0f), 5).collect()
        .forall(_.getFloat(1) == 2.0f))
    } finally {
      prev match { case Some(v) => sys.props(key) = v; case None => sys.props -= key }
    }
  }

  test("nested boolean groups end-to-end (clause-order canonical float sum)") {
    check(Query.parse("(time OR person) AND year"))
    check(Query.parse("+(spark index) -slow"))
    check(Query.parse("(time person)^2 way"))
    check(Query.parse("((time OR person) year) spark"))
    check(Query.parse("(\"time person\" OR year) spark")) // phrase in a group
    check(Query.parse("+(time person) +(year way)"))
    check(Query.parse("-(time person) year")) // negated group
  }

  test("DisjunctionMax: max + tieBreaker * rest, engine == oracle") {
    check(Query.DisMax(Seq(Query.Term("time"), Query.Term("person"))))
    check(Query.DisMax(Seq(Query.Term("time"), Query.Term("person")), tieBreaker = 0.1f))
    check(Query.DisMax(Seq(
      Query.Term("spark"), Query.Term("index"), Query.Term("search")), 0.3f, boost = 2.0f))
    // nested: dismax over a phrase and a boolean group
    check(Query.DisMax(Seq(
      Query.Phrase(Seq("time", "person")),
      Query.BoolQ(Seq((Query.Should, Query.Term("year")),
        (Query.Should, Query.Term("way"))))), 0.5f))
    // dismax as a clause inside a boolean
    check(Query.BoolQ(Seq(
      (Query.Must, Query.DisMax(Seq(Query.Term("time"), Query.Term("person")), 0.1f)),
      (Query.Should, Query.Term("year")))))
  }

  test("MatchAllDocs: every doc scores the boost") {
    val all = searcher.search(Query.MatchAll(), 100000).collect()
    assert(all.length == oracle.maxDoc)
    assert(all.forall(_.getFloat(1) == 1.0f))
    check(Query.MatchAll(2.5f), k = 50)
    // MUST_NOT carves out of MatchAll (the classic *:* -term shape)
    check(Query.BoolQ(Seq(
      (Query.Should, Query.MatchAll()),
      (Query.MustNot, Query.Term("time")))))
  }

  test("constant-score wrapper: every match scores the boost") {
    check(Query.ConstantScore(Query.Term("time"), 2.5f))
    check(Query.ConstantScore(Query.parse("time AND person")))
    check(Query.ConstantScore(Query.Phrase(Seq("time", "person")), 0.5f))
  }

  test("phrase queries from the positions index (exact + sloppy)") {
    // exact slop-0 alignments, incl. a frequent pair and an absent pair
    check(Query.Phrase(Seq("time", "person")))
    check(Query.Phrase(Seq("spark", "index")))
    check(Query.Phrase(Seq("time", "zzzznothere")))
    // 3-term exact phrase
    check(Query.Phrase(Seq("time", "person", "year")))
    // sloppy: the reference window walk (1/(matchLength+1) per minimal window)
    check(Query.Phrase(Seq("time", "person"), slop = 2))
    check(Query.Phrase(Seq("index", "search"), slop = 3))
    check(Query.Phrase(Seq("person", "time"), slop = 2))      // transposed
    check(Query.Phrase(Seq("time", "person", "year"), slop = 4)) // 3-term sloppy
    check(Query.Phrase(Seq("spark", "index", "search"), slop = 2))
    // repeating terms: the SloppyPhraseScorer repetition machinery
    check(Query.Phrase(Seq("time", "time"), slop = 3))
    check(Query.Phrase(Seq("time", "person", "time"), slop = 4))
    // boosted phrase
    check(Query.Phrase(Seq("time", "person"), boost = 2.0f))
  }

  test("multi-phrase: per-slot term alternatives") {
    check(Query.MultiPhrase(Seq(Seq("time", "spark"), Seq("person"))))
    check(Query.MultiPhrase(Seq(Seq("time"), Seq("person", "year", "way"))))
    check(Query.MultiPhrase(Seq(Seq("time", "zzznothere"), Seq("person"))))
    // a slot with no surviving alternative matches nothing
    check(Query.MultiPhrase(Seq(Seq("zzznothere"), Seq("person"))))
    check(Query.MultiPhrase(Seq(Seq("time", "spark"), Seq("person"), Seq("year", "day"))))
    // sloppy multi-phrase: window walk over per-slot position unions
    // (disjoint slots; MultiPhraseQuery.Slop semantics)
    check(Query.MultiPhrase(Seq(Seq("time", "spark"), Seq("person")), slop = 2))
    check(Query.MultiPhrase(Seq(Seq("time"), Seq("person", "year")), slop = 3))
    // identical slots = a repeated union cursor (repetition machinery)
    check(Query.MultiPhrase(Seq(Seq("time", "person"), Seq("time", "person")), slop = 2))
    // PARTIALLY overlapping slots: multi-term repeats (hidden collisions)
    check(Query.MultiPhrase(Seq(Seq("time", "person"), Seq("person", "year")), slop = 2))
    check(Query.MultiPhrase(Seq(Seq("time", "way"), Seq("way", "day"), Seq("day")), slop = 3))
  }

  test("IndexOptions DOCS_AND_FREQS: positions-less index scores identically") {
    val dir = Files.createTempDirectory("graft_nopos").toString
    IndexBuilder.buildFromTurns(Transcripts.dataset(spark, numConvs), dir,
      IndexBuilder.Options(positions = false))
    assert(IndexVerifier.verify(spark, dir).isEmpty)
    val slim = new Searcher(spark, dir)
    for (q <- Seq(Query.Term("time"), Query.parse("+index search -error"),
      Query.parse("time~1"))) {
      val a = slim.search(q, 10).collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
      val b = searcher.search(q, 10).collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
      assert(a == b, s"positions-less index diverged on $q")
    }
    // positional queries fail fast with a clear message
    val e = intercept[Exception] {
      slim.search(Query.Phrase(Seq("time", "person")), 10).collect()
    }
    assert(e.getMessage != null)
  }

  test("k larger than hit count and k=1") {
    check(Query.Term("w001234"), k = 10000)
    check(Query.Bool(should = Seq("time", "person")), k = 1)
  }

  test("resume: killed-after-runs rebuild skips completed stages, identical index") {
    val dir = Files.createTempDirectory("graft_resume").toString
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sessionState.newHadoopConf())
    def runsRecord = new String(Files.readAllBytes(java.nio.file.Paths.get(s"$dir/_manifest/runs.json")),
      java.nio.charset.StandardCharsets.UTF_8)
    // Semantic identity: the decoded (term_id, doc, tf, norm) postings must be
    // identical; block layout may differ with range-sampler state, exactly as
    // the reference's merge order may differ without changing the index.
    def canon(path: String): Seq[(Long, Long, Int, Byte)] = {
      import spark.implicits._
      spark.read.parquet(path).as[graft.codec.PostingBlock]
        .flatMap { b =>
          val (d, t, n) = graft.codec.PostingCodec.decode(b)
          d.indices.map(i => (b.term_id, d(i), t(i), n(i)))
        }.collect().sortBy(x => (x._1, x._2)).toSeq
    }
    // a build killed right after S1 committed: only `runs` is on disk
    IndexBuilder.writeRuns(StableMini.docs(spark, 50L), dir, IndexBuilder.Options())
    val s1 = runsRecord
    val resumed = SparkTestSession.jobsOf(IndexBuilder.build(StableMini.docs(spark, 50L), dir))
    assert(!resumed.contains("graft: build runs"), s"the resumed build re-ran S1: $resumed")
    assert(runsRecord == s1)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/runs")), "a finished build keeps its runs")
    val postingsBefore = canon(s"$dir/postings")
    val fresh = Files.createTempDirectory("graft_resume_fresh").toString
    IndexBuilder.build(StableMini.docs(spark, 50L), fresh)
    assert(canon(s"$fresh/postings") == postingsBefore)
    // delete the postings output + its manifest record -> resume redoes S4,
    // and S1 too: a finished build deleted its runs
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/postings"), true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_manifest/postings.json"), false)
    val redone = SparkTestSession.jobsOf(IndexBuilder.build(StableMini.docs(spark, 50L), dir))
    assert(redone.contains("graft: build runs") && redone.contains("graft: build postings"), redone)
    assert(!redone.contains("graft: build term dictionary"), s"a committed stage re-ran: $redone")
    val postingsAfter = canon(s"$dir/postings")
    assert(postingsBefore == postingsAfter)
    val m = new graft.build.ManifestStore(dir, spark)
    assert(m.committedStages().toSet == Set("runs", "norms", "termdict", "postings", "stats"))
  }
}

object StableMini {
  def docs(spark: org.apache.spark.sql.SparkSession, n: Long) = {
    import spark.implicits._
    val turns = Transcripts.local(n).sortBy(t => (t.conv_id, t.turn_idx))
    turns.zipWithIndex.map { case (t, i) => (i.toLong, t.text) }
      .toDF("doc_id", "text")
  }
}
