package graft

import graft.build.IndexBuilder
import graft.fixtures.Transcripts
import graft.oracle.BruteForce
import graft.query.{Query, Searcher, WandSearcher}
import graft.streaming.{SnapshotLog, StreamingIndexer}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, MapPartitionsExec, SortExec,
  SparkPlan, TakeOrderedAndProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.functions.{max, min}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The plan a small query takes: on a warm view, a two-term OR, a single
  * MUST with a SHOULD, a NOT, an exact phrase, a single term and an in-cap
  * prefix expansion each run ONE Spark job with no exchange, as ONE typed
  * operator that sorts, combines and ranks the top k in the scan's task
  * (no sort operator, no TakeOrderedAndProject, at most two codegen
  * stages), and the scan opens only the postings files whose term range
  * holds a query term — on a batch index and on a 3-segment store, with
  * and without tombstones. Past the file split budget the same queries
  * take the bucket exchange. Every result is checked against the
  * brute-force oracle (doc ids and float bits).
  */
class QueryPlanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  private lazy val spark = SparkTestSession.spark
  import SparkTestSession.jobsOf
  private val Convs = 150L

  private val queries: Seq[Query] = Seq(
    Query.Bool(should = Seq("time", "person")),
    Query.parse("+time person"),
    Query.parse("time -person"),
    Query.Phrase(Seq("time", "person")),
    Query.Term("time"),
    Query.Prefix("st"))
  private def termsOf(s: Searcher, q: Query): Seq[String] = q match {
    case Query.Term(t, _) => Seq(t)
    case p: Query.Prefix => s.expand(p)
    case Query.Bool(must, should, not, _) => must ++ should ++ not
    case Query.BoolQ(cs, _, _) => cs.collect { case (_, Query.Term(t, _)) => t }
    case Query.Phrase(ts, _, _) => ts
    case other => fail(s"unexpected query $other")
  }

  /** The corpus under the index's doc ids, for the oracle. */
  private lazy val docs: Seq[(Long, String)] = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_plan_docs").toString
    IndexBuilder.buildFromTurns(Transcripts.dataset(spark, Convs), dir)
    val text = Transcripts.local(Convs).map(t => (t.conv_id, t.turn_idx) -> t.text).toMap
    spark.read.parquet(s"$dir/docmap").select("doc_id", "conv_id", "turn_idx")
      .as[(Long, String, Int)].collect().map { case (d, c, t) => (d, text((c, t))) }
      .sortBy(_._1).toSeq
  }

  private def batchIndex(): String = {
    val dir = Files.createTempDirectory("graft_plan_batch").toString
    IndexBuilder.buildFromTurns(Transcripts.dataset(spark, Convs), dir)
    dir
  }

  /** Three appended segments in canonical order: doc ids match the batch. */
  private def store(): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_plan_store").toString
    val all = Transcripts.local(Convs)
    val cut1 = all.count(_.conv_id < f"c${50}%08d")
    val cut2 = all.count(_.conv_id < f"c${100}%08d")
    Seq(all.take(cut1), all.slice(cut1, cut2), all.drop(cut2)).foreach { b =>
      StreamingIndexer.appendSegment(spark.createDataset(b), dir, autoCompact = false)
    }
    dir
  }

  /** Postings files, over every segment of `dir`'s latest snapshot: those
    * whose term_id range holds one of `terms`, and all of them.
    */
  private def filesHolding(dir: String, terms: Seq[String]): (Long, Long) = {
    import spark.implicits._
    val segs = new SnapshotLog(dir, spark).latest()
      .map(s => s.base.toSeq ++ s.segments).getOrElse(Seq(dir))
    val counts = segs.map { seg =>
      val ids = spark.read.parquet(s"$seg/termdict").filter($"term".isin(terms: _*))
        .select("term_id").as[Long].collect()
      val ranges = spark.read.parquet(s"$seg/postings").groupBy($"_metadata.file_name")
        .agg(min("term_id"), max("term_id")).as[(String, Long, Long)].collect()
      (ranges.count { case (_, lo, hi) => ids.exists(i => lo <= i && i <= hi) }.toLong,
        ranges.length.toLong)
    }
    (counts.map(_._1).sum, counts.map(_._2).sum)
  }

  private def exchanges(plan: SparkPlan): Seq[SparkPlan] = collect(plan) { case e: Exchange => e }

  /** What a one-task plan may hold: one typed operator, no sort operator,
    * no TakeOrderedAndProject and at most two codegen stages on a batch
    * index — the scan's and the hits' serializer. A store's scan is a union
    * of one scan per segment, each its own codegen stage, so it may hold
    * one stage per segment scan plus the serializer's.
    */
  private def assertFused(at: String, plan: SparkPlan): Unit = {
    val typed = collect(plan) { case m: MapPartitionsExec => m }
    assert(typed.size == 1, s"$at planned ${typed.size} typed operators:\n$plan")
    assert(collect(plan) { case s: SortExec => s }.isEmpty, s"$at planned a sort:\n$plan")
    assert(collect(plan) { case t: TakeOrderedAndProjectExec => t }.isEmpty,
      s"$at planned TakeOrderedAndProject:\n$plan")
    val stages = collect(plan) { case w: WholeStageCodegenExec => w }
    val scans = collect(plan) { case s: FileSourceScanExec => s }
    assert(stages.size <= 2.max(scans.size + 1), s"$at planned ${stages.size} codegen stages:\n$plan")
  }

  private def filesRead(plan: SparkPlan): Long =
    collect(plan) { case s: FileSourceScanExec => s.metrics("numFiles").value }.sum

  private def bits(df: DataFrame): Seq[(Long, Int)] =
    df.collect().map(r => (r.getLong(0), java.lang.Float.floatToRawIntBits(r.getFloat(1)))).toSeq

  /** Every query through both searchers: one job, no exchange, pruned files
    * and oracle results; then, with the split budget below the query's
    * bytes, the bucket exchange and the same results.
    */
  private def check(label: String, dir: String, dead: Set[Long]): Unit = {
    val oracle = new BruteForce(docs)
    def want(q: Query): Seq[(Long, Int)] =
      oracle.search(q, 10 + dead.size).filterNot(h => dead.contains(h._1)).take(10)
        .map(h => (h._1, java.lang.Float.floatToRawIntBits(h._2)))
    val s = new Searcher(spark, dir)
    val searchers: Seq[(String, Query => DataFrame)] = {
      val w = new WandSearcher(spark, dir)
      Seq("exhaustive" -> (q => s.search(q, 10)), "WAND" -> (q => w.search(q, 10)))
    }
    // warm: dictionaries, file ranges and tombstones load on first use
    for ((_, search) <- searchers; q <- queries) search(q).collect()
    for ((name, search) <- searchers; q <- queries) {
      val at = s"$label, $name: $q"
      var df: DataFrame = null
      var got = Seq.empty[(Long, Int)]
      val jobs = jobsOf { df = search(q); got = bits(df) }
      assert(jobs.size == 1, s"$at ran ${jobs.size} jobs: $jobs")
      val plan = df.queryExecution.executedPlan
      assert(exchanges(plan).isEmpty, s"$at planned an exchange:\n$plan")
      assertFused(at, plan)
      val (holding, all) = filesHolding(dir, termsOf(s, q))
      assert(filesRead(plan) == holding && holding < all,
        s"$at read ${filesRead(plan)} postings files; $holding of $all hold its terms")
      assert(got == want(q), s"$at\n got:  $got\n want: ${want(q)}")
    }
    SparkTestSession.pastSplitBudget {
      for ((name, search) <- searchers; q <- queries) {
        val at = s"$label past the split budget, $name: $q"
        val df = search(q)
        val got = bits(df)
        val plan = df.queryExecution.executedPlan
        // a single term scores during the scan: no bucket exchange to take
        assert(q.isInstanceOf[Query.Term] ||
          collect(plan) { case e: ShuffleExchangeExec => e }.nonEmpty, s"$at took no exchange")
        assert(collect(plan) { case t: TakeOrderedAndProjectExec => t }.nonEmpty,
          s"$at was not ranked by TakeOrderedAndProject:\n$plan")
        assert(got == want(q), s"$at\n got:  $got\n want: ${want(q)}")
      }
    }
  }

  private def withTombstones(label: String, dir: String): Unit = {
    check(label, dir, Set.empty)
    val dead = Seq(3L, 40L, 41L, 300L)
    StreamingIndexer.deleteDocs(spark, dir, dead)
    check(s"$label with tombstones", dir, dead.toSet)
  }

  test("batch index: a small query is one job with no exchange, reading only its files") {
    withTombstones("batch", batchIndex())
  }

  test("3-segment store: a small query is one job with no exchange, reading only its files") {
    withTombstones("store", store())
  }

  test("ranking on both plans: equal scores by doc_id asc, all-0.0f scores from a boost-0 term") {
    val dir = batchIndex()
    val oracle = new BruteForce(docs)
    val s = new Searcher(spark, dir)
    val w = new WandSearcher(spark, dir)
    val zero = Query.Term("time", 0.0f)
    val ranked = Seq(zero, Query.Term("person"),
      Query.BoolQ(Seq((Query.Should, zero), (Query.Should, Query.Term("person")))))
    SparkTestSession.bothPlans {
      for ((name, search) <- Seq[(String, (Query, Int) => DataFrame)](
        "exhaustive" -> s.search, "WAND" -> w.search); q <- ranked; k <- Seq(10, 40)) {
        val got = bits(search(q, k))
        val want = oracle.search(q, k).map(h => (h._1, java.lang.Float.floatToRawIntBits(h._2)))
        assert(got == want, s"$name top $k of $q\n got:  $got\n want: $want")
        val scores = got.map(_._2)
        assert(got.zip(got.drop(1)).exists { case (a, b) => a._2 == b._2 },
          s"$name top $k of $q holds no tie: $scores")
      }
    }
    val allZero = bits(s.search(zero, 40))
    assert(allZero.forall(_._2 == 0) && allZero.map(_._1) == allZero.map(_._1).sorted)
  }

  test("a reopened store with two tombstone tables loads them in one job, inferring no schema") {
    val dir = store()
    StreamingIndexer.deleteDocs(spark, dir, Seq(3L, 40L))
    StreamingIndexer.deleteDocs(spark, dir, Seq(300L))
    new Searcher(spark, dir).search(queries.head, 10).collect()
    val s = new Searcher(spark, dir) // reopened: its tombstones load on first use
    val jobs = jobsOf(s.search(queries.head, 10).collect())
    assert(jobs.count(_ == "graft: load tombstones") == 1, jobs)
    assert(jobs.size == 2, s"expected the tombstone load and the query: $jobs")
  }

  test("the library names its own jobs and restores the caller's description") {
    val dir = batchIndex()
    val sc = spark.sparkContext
    sc.setJobDescription("caller's job")
    try {
      var after: String = null
      val names = jobsOf {
        new Searcher(spark, dir).lookup(Seq("time"))
        after = sc.getLocalProperty("spark.job.description")
      }
      assert(names.contains("graft: load term dictionaries and postings file ranges"), names)
      assert(after == "caller's job")
    } finally sc.setJobDescription(null)
  }
}
