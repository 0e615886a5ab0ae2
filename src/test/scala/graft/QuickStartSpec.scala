package graft

import graft.build.IndexBuilder
import graft.fixtures.Transcripts
import graft.query.{MemoryIndex, Query, Searcher, Spans, WandSearcher}
import graft.streaming.{SegmentedSearcher, StreamingIndexer}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** README front-door fidelity: every call in the Quick start block, run
  * verbatim through the PUBLIC API only (no private[graft] seams, no test
  * fixtures beyond the corpus synthesizer). If a README snippet rots, this
  * suite fails before a user does.
  */
class QuickStartSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private lazy val indexDir: String = {
    val dir = Files.createTempDirectory("graft_qs").toString
    import spark.implicits._
    IndexBuilder.buildFromTurns(
      spark.createDataset(Transcripts.local(300)), dir)
    dir
  }

  test("batch build + every Quick start query form returns hits") {
    val s = new Searcher(spark, indexDir)
    // full classic syntax: required term, sloppy phrase, prefix, negated boost
    assert(s.search(Query.parse("""+time "person year"~2 wa* -shuffle^0.5"""), 10).count() > 0)
    // nested groups with a group boost
    assert(s.search(Query.parse("(time OR person) AND (year day)^2"), 10).count() > 0)
    // positional phrase straight from the index
    assert(s.search(Query.Phrase(Seq("time", "person")), 10).count() > 0)
    // multi-phrase with alternatives + slop
    assert(s.search(Query.MultiPhrase(Seq(Seq("time", "person"), Seq("year")), slop = 2), 10).count() > 0)
    // filter-style constant scoring: every score == the constant
    val cs = s.search(Query.ConstantScore(Query.Term("time"), 1.5f), 10)
      .collect().map(_.getFloat(1)).toSeq
    assert(cs.nonEmpty && cs.forall(_ == 1.5f))
    // block-max pruned path agrees with the exhaustive path rank-for-rank
    val wand = new WandSearcher(spark, indexDir)
      .search(Query.Term("time"), 10).collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
    val exact = s.search(Query.Term("time"), 10).collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
    assert(wand == exact)
    // span algebra
    assert(Spans.spans(spark, indexDir,
      Spans.SpanNear(Spans.SpanTerm("time"), Spans.SpanTerm("person"), 5,
        inOrder = false)).count() > 0)
    // pluggable similarity
    assert(new Searcher(spark, indexDir, graft.score.LMDirichletSimilarity())
      .search(Query.Term("time"), 10).count() > 0)
  }

  test("liveDocs-style deletes drop the tombstoned doc from results") {
    val dir = Files.createTempDirectory("graft_qs_del").toString
    import spark.implicits._
    IndexBuilder.buildFromTurns(spark.createDataset(Transcripts.local(120)), dir)
    val s0 = new Searcher(spark, dir)
    val top = s0.search(Query.Term("time"), 5).collect().map(_.getLong(0)).toSeq
    StreamingIndexer.deleteDocs(spark, dir, Seq(top.head))
    val after = new Searcher(spark, dir)
      .search(Query.Term("time"), 5).collect().map(_.getLong(0)).toSeq
    assert(!after.contains(top.head))
  }

  test("alternate analysis chain: the stemmed index matches morphological variants") {
    val dir = Files.createTempDirectory("graft_qs_en").toString
    import spark.implicits._
    val turns = Seq(
      graft.model.Turn("c0", 0, "user", "running quickly through tests", null,
        new java.sql.Timestamp(0L)),
      graft.model.Turn("c1", 0, "user", "nothing relevant here", null,
        new java.sql.Timestamp(1L)))
    IndexBuilder.buildFromTurns(spark.createDataset(turns), dir,
      IndexBuilder.Options(analyzer = graft.analysis.EnglishAnalyzer))
    // query analyzes through the same chain: "runs" -> "run" == stem("running")
    val qTerm = graft.analysis.EnglishAnalyzer.terms("runs").head
    assert(new Searcher(spark, dir).search(Query.Term(qTerm), 10).count() == 1)
  }

  test("streaming: micro-batch appends, update-by-term, segmented search") {
    import spark.implicits._
    val srcDir = Files.createTempDirectory("graft_qs_src").toString
    val idxDir = Files.createTempDirectory("graft_qs_sidx").toString
    val ckDir = Files.createTempDirectory("graft_qs_ck").toString
    spark.createDataset(Transcripts.local(30)).write.parquet(s"$srcDir/b0")
    val stream = spark.readStream
      .schema(spark.read.parquet(s"$srcDir/b0").schema)
      .parquet(s"$srcDir/*")
      .as[graft.model.Turn]
    StreamingIndexer.writer(stream, idxDir, ckDir).start().awaitTermination(120000)
    val seg = new SegmentedSearcher(spark, idxDir)
    assert(seg.search(Query.Phrase(Seq("time", "person")), 10).count() >= 0)
    assert(seg.search(Query.Term("time"), 10).count() > 0)
    // a store takes every query shape, bit-identical to a batch build of the
    // same turns (one micro-batch: the same doc ids)
    val batchDir = Files.createTempDirectory("graft_qs_sbatch").toString
    IndexBuilder.buildFromTurns(Transcripts.dataset(spark, 30), batchDir)
    val batch = new Searcher(spark, batchDir)
    val store = new Searcher(spark, idxDir)
    val wand = new WandSearcher(spark, idxDir)
    for (q <- Seq(Query.parse("(time OR year) AND person"), Query.Term("time"),
      Query.ConstantScore(Query.Term("time"), 1.5f), Query.MatchAll())) {
      val want = batch.search(q, 10).collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
      assert(want.nonEmpty)
      for (got <- Seq(seg.search(q, 10), store.search(q, 10), wand.search(q, 10)))
        assert(got.collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq == want,
          s"store diverged on $q")
    }
    StreamingIndexer.deleteByTerm(spark, idxDir, "time")
    assert(new SegmentedSearcher(spark, idxDir).search(Query.Term("time"), 10).count() == 0)
    val replacement = Seq(graft.model.Turn("cX", 0, "user",
      "replacement stale doc", null, new java.sql.Timestamp(0L)))
    StreamingIndexer.updateDocuments(spark.createDataset(replacement), idxDir, "stale")
    assert(new SegmentedSearcher(spark, idxDir).search(Query.Term("replacement"), 10).count() == 1)
  }

  test("SQL side: the registered codegen analyzer expression tokenizes") {
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    Seq((1L, "Running FAST queries")).toDF("doc_id", "text")
      .createOrReplaceTempView("qs_docs")
    val toks = spark.sql("SELECT graft_terms(text) AS t FROM qs_docs")
      .collect().head.getSeq[String](0)
    assert(toks == Seq("running", "fast", "queries"))
  }

  test("percolation: MemoryIndex matches the Query ADT against one document") {
    val mi = new MemoryIndex("spark builds a fast index")
    assert(mi.matches(Query.Phrase(Seq("fast", "index"))))
    assert(!mi.matches(Query.Term("slow")))
  }
}
