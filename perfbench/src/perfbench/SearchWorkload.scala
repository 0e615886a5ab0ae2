package perfbench

import graft.build.IndexBuilder
import graft.fixtures.Transcripts
import graft.oracle.BruteForce
import graft.query.{Query, Searcher, WandSearcher}

/** `search`: set-up builds one positional index of a seeded corpus on
  * `local[cpus]`; the run is a closed loop of top-10 queries through
  * `WandSearcher.search`, drawn from the seeded [[Pool]]. Results are checked
  * after the loop against `graft.oracle.BruteForce` (doc ids and float score
  * bits).
  */
final class SearchWorkload(a: Main.Args, rec: Recorder, rss: RssSampler) {
  private val convs = SearchWorkload.Convs
  private val dir = s"${a.work}/search/index"

  def run(): Unit = {
    rec.context("convs") = convs
    rss.on = true
    val spark = rec.setup("session")(Main.session(a, a.cpus))
    rec.setup("index") {
      IndexBuilder.buildFromTurns(Transcripts.dataset(spark, convs, a.seed), dir)
    }
    val sample = Transcripts.local(math.min(convs, 500).toLong, a.seed)
    val pool = new Pool(a.seed, sample)
    val (searcher, wand) = rec.setup("open") {
      val s = new Searcher(spark, dir)
      val w = new WandSearcher(spark, dir)
      // one query of every shape lets lazy relations and caches fill
      pool.warmup.foreach(q => w.search(Query.parse(q), 10).collect())
      (s, w)
    }
    rec.counters("turns") = searcher.stats.max_doc

    val draws = new java.util.Random(a.seed)
    val results = scala.collection.mutable.HashMap[Long, (String, Seq[(Long, Float)])]()
    val deadline = Clock.nowMs() + a.seconds * 1000.0
    var n = 0
    while (Clock.nowMs() < deadline || !pool.atBlockEnd) {
      val (cls, qs) = pool.draw(draws)
      val traced = a.trace
      WandStats.reset(wand)
      Main.withListener(spark, traced, rec) {
        rec.op("query", cls, traced) { o =>
          val q = rec.call("Query.parse")(Query.parse(qs))
          val df = rec.call("WandSearcher.search")(wand.search(q, 10))
          val rows = rec.call("Dataset.collect")(df.collect())
          results(o.id) = (qs, rows.map(r => (r.getLong(0), r.getFloat(1))).toSeq)
        }
      }
      val o = rec.ops.last
      o.info("query") = qs
      if (traced) {
        val (scanned, skipped) = WandStats.read(wand)
        o.info("blocks_scanned") = scanned
        o.info("blocks_skipped") = skipped
        val terms = Pool.leaves(Query.parse(qs))
        val t0 = Clock.nowMs()
        searcher.lookup(terms)
        o.info("lookup_ms") = Clock.nowMs() - t0
      }
      n += 1
    }
    rss.on = false

    if (a.trace) {
      val texts = sample.map(_.text)
      rec.counters("analysis.tokens_per_s") = MicroTimings.analysis(texts)
      MicroTimings.codecAndScore(spark, dir, Pool.Common)
        .foreach { case (k, v) => rec.counters(k) = v }
      rec.counters("index_dir_manifest") = Main.manifest(dir)
    }
    rec.counters("index_tables") = Seq("runs", "docmap", "norms", "termdict", "postings", "stats")
      .map(t => t -> Main.bytesUnder(new java.io.File(dir, t))).toMap
    rec.counters("text_bytes") = Transcripts.local(convs.toLong, a.seed)
      .map(_.text.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong).sum

    // Output check, untimed: every op against the brute-force oracle over
    // the same docs under the index's own doc ids.
    import spark.implicits._
    val text = Transcripts.local(convs.toLong, a.seed)
      .map(t => (t.conv_id, t.turn_idx) -> t.text).toMap
    val docs = spark.read.parquet(s"$dir/docmap").select("doc_id", "conv_id", "turn_idx")
      .as[(Long, String, Int)].collect().map { case (d, c, t) => (d, text((c, t))) }
      .sortBy(_._1).toSeq
    val oracle = new BruteForce(docs)
    val expected = results.values.map(_._1).toSeq.distinct
      .map(qs => qs -> oracle.search(Query.parse(qs), 10)).toMap
    rec.ops.filter(_.kind == "query").foreach { o =>
      results.get(o.id).foreach { case (qs, got) =>
        rec.check(o, Oracle.same(got, expected(qs)), Oracle.diff(qs, got, expected(qs)))
      }
    }
    spark.stop()
  }
}

object SearchWorkload {
  /** Corpus size in conversations (about 4 turns each). */
  final val Convs = 2500
}

/** Result comparison: same doc ids in the same order, identical float bits. */
object Oracle {
  def same(got: Seq[(Long, Float)], want: Seq[(Long, Float)]): Boolean =
    got.size == want.size && got.zip(want).forall { case ((d1, s1), (d2, s2)) =>
      d1 == d2 && java.lang.Float.floatToIntBits(s1) == java.lang.Float.floatToIntBits(s2)
    }
  def diff(qs: String, got: Seq[(Long, Float)], want: Seq[(Long, Float)]): String =
    s"$qs: got ${got.take(3).mkString(",")} want ${want.take(3).mkString(",")}"
}
