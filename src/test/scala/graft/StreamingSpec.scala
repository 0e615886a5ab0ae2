package graft

import graft.build.IndexBuilder
import graft.fixtures.Transcripts
import graft.query.{IndexView, Query, Searcher, WandSearcher}
import graft.streaming.{SegmentedSearcher, SnapshotLog, StreamingIndexer}
import graft.verify.IndexVerifier
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** Streaming segment ingest: appended segments must be searchable with
  * GLOBAL statistics identical to a batch build of the same corpus (when
  * batches arrive in canonical order), and compaction must produce a base
  * index that passes the CheckIndex invariants and returns the same top-k.
  */
class StreamingSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val numConvs = 150L

  private lazy val dirs: (String, String) = {
    import spark.implicits._
    val streamDir = Files.createTempDirectory("graft_stream").toString
    val batchDir = Files.createTempDirectory("graft_batch").toString
    // canonical order: batch i covers a contiguous conv range, so arrival
    // order == (conv_id, turn_idx) order and doc ids match the batch build
    val all = Transcripts.local(numConvs)
    val cut1 = all.count(_.conv_id < f"c${50}%08d")
    val cut2 = all.count(_.conv_id < f"c${100}%08d")
    val batches = Seq(all.take(cut1), all.slice(cut1, cut2), all.drop(cut2))
    batches.foreach { b =>
      StreamingIndexer.appendSegment(spark.createDataset(b), streamDir,
        autoCompact = false)
    }
    IndexBuilder.buildFromTurns(Transcripts.dataset(spark, numConvs), batchDir)
    (streamDir, batchDir)
  }

  private def queries = Seq(
    Query.Term("time"), Query.Term("w001234"),
    Query.Bool(should = Seq("time", "person")),
    Query.Bool(must = Seq("spark", "query")),
    Query.Bool(should = Seq("time"), mustNot = Seq("person")),
    // phrase over segments: per-segment positional scans + global stats
    Query.Phrase(Seq("time", "person")),
    Query.Phrase(Seq("time", "person"), slop = 2),
    // weighted BoolQ through the parser (per-clause boosts)
    Query.parse("time^2 person"),
    Query.parse("+time person^0.5 -man"),
    // multi-term rewrites against the UNION dictionary across segments
    Query.parse("w00123*"),
    Query.parse("time~1"),
    Query.parse("[w001230 TO w001240] person"),
    // multi-phrase over segments (slot alternatives)
    Query.MultiPhrase(Seq(Seq("time", "year"), Seq("person"))),
    // many common terms per doc: float bits depend on the clause-sum order
    Query.Bool(should = Seq("way", "time", "year", "person", "day", "life", "world"))) ++
    expansions ++ storeOnlyBefore

  // multi-term leaves: each segment's dictionary matches, the union merges
  private def expansions = Seq(
    Query.Prefix("w00123"), Query.Wildcard("w0012?4"), Query.Regexp("w0012[3-5][0-9]"),
    Query.TermRange("w001230", "w001240", includeLo = false), Query.Fuzzy("person", 1),
    // thousands of w* terms, past the 1024 cap: the constant-score filter
    Query.Prefix("w", 2.0f))

  // nested, MUST-side multi-term and filter-style shapes: a segmented store
  // could not run them before it shared the batch reader
  private def storeOnlyBefore = Seq(
    Query.parse("(time OR year) AND person"),
    Query.parse("+w00123* time"),
    Query.ConstantScore(Query.Term("time"), 1.5f),
    Query.DisMax(Seq(Query.Term("time"), Query.parse("person year")), tieBreaker = 0.1f),
    Query.MatchAll())

  /** (doc id, float bits) rows: float equality down to the bit. */
  private def hits(df: DataFrame): Seq[(Long, Int)] =
    df.collect().map(r => (r.getLong(0), java.lang.Float.floatToRawIntBits(r.getFloat(1)))).toSeq

  test("three appended segments search identically to the batch build") {
    val seg = new SegmentedSearcher(spark, dirs._1)
    val wand = new WandSearcher(spark, dirs._1) // pruned: the store holds no tombstones
    val batch = new Searcher(spark, dirs._2)
    // same corpus, same doc ids -> identical stats -> identical float32 scores
    queries.foreach { q =>
      val b = hits(batch.search(q, 10))
      assert(b.nonEmpty || !storeOnlyBefore.contains(q), s"no hits for $q")
      for ((reader, got) <- Seq("segmented" -> seg.search(q, 10), "segmented WAND" -> wand.search(q, 10))) {
        val a = hits(got)
        assert(a == b, s"$reader diverged on $q\n store: $a\n batch: $b")
      }
    }
  }

  /** Spark jobs `body` runs, counted by a listener: every job that starts
    * before a marker job. Jobs are not told apart by job group, because the
    * builder runs some stages in futures whose pool threads need not carry
    * the caller's group; the suite runs nothing else meanwhile.
    */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val marker = s"counted-${java.util.UUID.randomUUID()}-end"
    val started = new AtomicInteger()
    val markerSeen = new CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `marker` => markerSeen.countDown()
          case _ => started.incrementAndGet()
        }
    }
    sc.addSparkListener(l)
    try {
      body
      // a listener sees events in posting order: once the marker job shows,
      // every job of `body` has been counted
      sc.setJobGroup(marker, "marker")
      sc.parallelize(Seq(1), 1).count()
      assert(markerSeen.await(60, TimeUnit.SECONDS))
      started.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }

  test("a warm term lookup on the 3-segment store runs no job, as on the batch index") {
    val terms = Seq("time", "person", "w001234", "zzznope")
    val seg = new Searcher(spark, dirs._1)
    val batch = new Searcher(spark, dirs._2)
    // the first use of a view loads its missing dictionaries; later ones are warm
    Seq(seg, batch).foreach(_.lookup(Seq("time")))
    var a, b = Map.empty[String, graft.model.TermDictRow]
    assert(jobsOf { a = seg.lookup(terms) } == 0)
    assert(jobsOf { b = batch.lookup(terms) } == 0)
    // global statistics: summed df/ttf, max of the block-max metadata
    assert(a.keySet == Set("time", "person", "w001234"))
    assert(a.map { case (t, d) => t -> (d.df, d.ttf, d.max_tf, d.max_nb) } ==
      b.map { case (t, d) => t -> (d.df, d.ttf, d.max_tf, d.max_nb) })
    // every expansion and the over-cap filter's id resolution run no job,
    // and the store's merged expansion equals the batch dictionary's
    assert(batch.expand(Query.Prefix("w")).size > Query.MaxClauseCount)
    expansions.foreach { q =>
      var e, f = Seq.empty[String]
      assert(jobsOf { e = seg.expand(q) } == 0, s"store expand $q")
      assert(jobsOf { f = batch.expand(q) } == 0, s"batch expand $q")
      assert(e.nonEmpty && e == f, s"$q\n store: $e\n batch: $f")
    }
    assert(jobsOf(seg.search(Query.ConstantScore(Query.Prefix("w"), 1.0f), 10)) == 0)
    // reopening reuses each segment's dictionary
    val reopened = new Searcher(spark, dirs._1)
    assert(jobsOf(reopened.lookup(terms)) == 0)
    // the dictionaries, file ranges and session stay on the driver: a
    // serialized searcher (what a task closure capturing it would ship) is
    // smaller than 8 bytes a term, also once the session has used an
    // Observation (whose manager does not serialize)
    graft.query.Collectors.searchWithTotals(seg, Query.Term("time"), 5)
    val nTerms = spark.read.parquet(s"${dirs._2}/termdict").count()
    for (s <- Seq[AnyRef](seg, batch, new WandSearcher(spark, dirs._1))) {
      val bytes = new java.io.ByteArrayOutputStream()
      val out = new java.io.ObjectOutputStream(bytes)
      out.writeObject(s)
      out.close()
      assert(bytes.size < 8 * nTerms, s"serialized searcher: ${bytes.size} bytes, $nTerms terms")
    }
  }

  test("one small append runs 8 named Spark jobs and writes one file per table") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_append_jobs").toString
    val batch = spark.createDataset(Transcripts.local(10))
    // one task per build stage: runs, doc counts, docmap, norms, term
    // dictionary, the postings' dictionary broadcast and write, stats
    val jobs = SparkTestSession.jobsOf(StreamingIndexer.appendSegment(batch, dir, autoCompact = false))
    assert(jobs.size == 8, s"the append ran ${jobs.size} jobs: $jobs")
    assert(jobs.forall(_.startsWith("graft: build ")), s"unnamed append jobs: $jobs")
    val snap = new SnapshotLog(dir, spark).latest().get
    assert(snap.maxDoc == Transcripts.local(10).size)
    for (table <- Seq("postings", "termdict", "norms", "docmap")) {
      val files = new java.io.File(snap.segments.head, table).listFiles()
        .count(_.getName.endsWith(".parquet"))
      assert(files == 1, s"$table holds $files Parquet files")
    }
  }

  test("compaction produces a valid base index with identical results") {
    val before = new SegmentedSearcher(spark, dirs._1)
      .search(Query.Bool(should = Seq("time", "person")), 10)
      .collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
    val retired = new SnapshotLog(dirs._1, spark).latest().get
    val terms = Seq("time", "person")
    IndexView.of(spark, retired).lookup(terms)
    StreamingIndexer.compact(spark, dirs._1)
    // the three retired segments' dictionaries are released: reading them
    // again loads all three in one job, and then none
    val reread = IndexView.of(spark, retired)
    assert(jobsOf(reread.lookup(terms)) == 1)
    assert(jobsOf(reread.lookup(terms)) == 0)
    val snap = new SnapshotLog(dirs._1, spark).latest().get
    assert(snap.segments.isEmpty && snap.base.isDefined)
    assert(IndexVerifier.verify(spark, snap.base.get).isEmpty)
    val after = new Searcher(spark, snap.base.get)
      .search(Query.Bool(should = Seq("time", "person")), 10)
      .collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
    assert(after == before)
    // the segmented reader over the compacted snapshot agrees too
    val segAfter = new SegmentedSearcher(spark, dirs._1)
      .search(Query.Bool(should = Seq("time", "person")), 10)
      .collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
    assert(segAfter == before)
  }

  test("streaming writer ingests a file stream into segments") {
    import spark.implicits._
    val srcDir = Files.createTempDirectory("graft_src").toString
    val idxDir = Files.createTempDirectory("graft_sidx").toString
    val ckDir = Files.createTempDirectory("graft_ck").toString
    spark.createDataset(Transcripts.local(20)).write.parquet(s"$srcDir/b0")
    val stream = spark.readStream
      .schema(spark.read.parquet(s"$srcDir/b0").schema)
      .parquet(s"$srcDir/*")
      .as[graft.model.Turn]
    val q = StreamingIndexer.writer(stream, idxDir, ckDir).start()
    q.awaitTermination(120000)
    val snap = new SnapshotLog(idxDir, spark).latest()
    assert(snap.isDefined && snap.get.maxDoc > 0)
    val hits = new SegmentedSearcher(spark, idxDir).search(Query.Term("time"), 5)
    assert(hits.count() > 0)
  }
}
