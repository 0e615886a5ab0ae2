package graft

import graft.build.IndexBuilder
import graft.fixtures.Transcripts
import graft.query.{Collectors, Query, Searcher}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Collector combinators: one-pass MultiCollector (observe), the
  * TimeLimitingCollector budget cancel, and CachingCollector replay.
  */
class CollectorsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private lazy val indexDir: String = {
    val dir = Files.createTempDirectory("graft_collect").toString
    IndexBuilder.buildFromTurns(Transcripts.dataset(spark, 400), dir)
    dir
  }
  private lazy val searcher = new Searcher(spark, indexDir)

  test("searchWithTotals: top-k, total hits and max score from ONE pass") {
    val q = Query.Bool(should = Seq("time", "person"))
    val (top, totals) = Collectors.searchWithTotals(searcher, q, 10)

    // top-k identical to the plain search path
    val expTop = searcher.search(q, 10).collect()
      .map(r => (r.getLong(0), r.getFloat(1))).toSeq
    assert(top == expTop)

    // totals identical to separately-computed aggregates over all hits
    val all = searcher.scoredDocs(q).collect().map(_.getFloat(1))
    assert(totals.totalHits == all.length.toLong)
    assert(totals.maxScore.contains(all.max))
    assert(totals.totalHits > 10L) // the sidecar carries MORE than the page

    // the single-pass shape is structural: a CollectMetrics node sits in
    // the observed plan below the top-k
    val obs = org.apache.spark.sql.Observation()
    val observed = searcher.scoredDocs(q)
      .observe(obs, org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
    assert(observed.queryExecution.analyzed.collect {
      case c: org.apache.spark.sql.catalyst.plans.logical.CollectMetrics => c
    }.nonEmpty)
  }

  test("a registered Observation does not poison later WAND broadcasts") {
    // Regression: WandSearcher's bound lambdas once captured `this` (and
    // through it the SparkSession) into the combine broadcast. That
    // serialized by luck until the session's lazily-created observation
    // manager became non-null — i.e. the FIRST Dataset.observe in the JVM
    // broke every later pruned query with NotSerializableException.
    val (_, totals) =
      Collectors.searchWithTotals(searcher, Query.Term("time"), 5)
    assert(totals.totalHits > 0L)
    val wand = new graft.query.WandSearcher(spark, indexDir)
    val hits = wand.search(Query.Bool(should = Seq("time", "person")), 10)
      .collect()
    assert(hits.length == 10)
  }

  test("searchWithTotals: empty result set -> zero hits, no max") {
    val (top, totals) =
      Collectors.searchWithTotals(searcher, Query.Term("zzzznothere"), 10)
    assert(top.isEmpty)
    assert(totals == Collectors.TopTotals(0L, None))
  }

  test("collectTimeLimited: fast query inside budget returns Right") {
    val df = searcher.search(Query.Term("time"), 5)
    val r = Collectors.collectTimeLimited(df, budgetMs = 60000L)
    assert(r.isRight)
    assert(r.toOption.get.length == 5)
  }

  test("collectTimeLimited: budget expiry cancels the job group -> Left") {
    import spark.implicits._
    val slow = org.apache.spark.sql.functions.udf { (x: Long) =>
      Thread.sleep(200L); x
    }
    // 32 rows x 200 ms across partitions: far over a 250 ms budget
    val df = spark.range(0, 32, 1, 8).toDF("id")
      .select(slow($"id").as("slept"))
    val t0 = System.nanoTime()
    val r = Collectors.collectTimeLimited(df, budgetMs = 250L)
    val wallMs = (System.nanoTime() - t0) / 1000000L
    assert(r == Left(Collectors.TimeExceeded(250L)))
    assert(wallMs < 30000L) // cancelled, not run to completion
    // the session is still healthy after the cancel
    assert(spark.range(3).count() == 3L)
  }

  test("collectTimeLimited: a failure after the budget expired is not a timeout") {
    import spark.implicits._
    // the projection over a local relation is evaluated in the calling
    // thread while the plan is optimized: the budget expires mid-sleep, then
    // the UDF fails on its own — that failure must surface as itself
    val failLate = org.apache.spark.sql.functions.udf { (x: Int) =>
      Thread.sleep(1000L)
      if (x >= 0) throw new IllegalStateException("genuine failure")
      x
    }
    val df = Seq(1).toDF("x").select(failLate($"x").as("y"))
    val e = intercept[Exception](Collectors.collectTimeLimited(df, budgetMs = 100L))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("genuine failure")), e)
  }

  test("collectTimeLimited: restores the caller's job group") {
    val sc = spark.sparkContext
    sc.setJobGroup("caller-group", "caller's jobs")
    try {
      assert(Collectors.collectTimeLimited(spark.range(3).toDF(), budgetMs = 60000L).isRight)
      assert(sc.getLocalProperty("spark.jobGroup.id") == "caller-group")
      assert(sc.getLocalProperty("spark.job.description") == "caller's jobs")
    } finally sc.clearJobGroup()
    assert(Collectors.collectTimeLimited(spark.range(3).toDF(), budgetMs = 60000L).isRight)
    assert(sc.getLocalProperty("spark.jobGroup.id") == null)
  }

  test("cacheScored: replay serves later collectors from memory") {
    val q = Query.Bool(should = Seq("spark", "index"))
    val cached = Collectors.cacheScored(searcher.scoredDocs(q))
    try {
      val total = cached.count() // first pass materializes the cache
      // second collector REPLAYS: its physical plan scans the InMemoryRelation
      val topPlan = cached.orderBy(org.apache.spark.sql.functions.desc("score"))
        .limit(5).queryExecution.executedPlan.toString
      assert(topPlan.contains("InMemoryTableScan"))
      val top = cached.orderBy(org.apache.spark.sql.functions.desc("score"),
        org.apache.spark.sql.functions.asc("doc_id")).limit(5).collect()
      assert(top.length == math.min(5L, total).toInt)
      // replayed rows equal a fresh scoring pass
      val fresh = searcher.search(q, 5).collect()
        .map(r => (r.getLong(0), r.getFloat(1))).toSeq
      assert(top.map(r => (r.getLong(0), r.getFloat(1))).toSeq == fresh)
    } finally cached.unpersist()
  }
}
