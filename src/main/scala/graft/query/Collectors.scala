package graft.query

import org.apache.spark.SparkException
import org.apache.spark.sql.{DataFrame, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Collector combinators over the scorer stream ([[Searcher.scoredDocs]]) —
  * the Spark-native analogs of the reference's collector wrappers
  * (/root/reference/src/Lucene.Net/Search/MultiCollector.cs,
  * TotalHitCountCollector.cs, TimeLimitingCollector.cs:121-160,
  * CachingCollector.cs). Lucene chains collectors so ONE index pass feeds
  * them all; here the same single-pass property comes from the plan shape:
  * a CollectMetrics node (Dataset.observe) under the top-k exchange sees
  * every scored row exactly once, a persisted scorer stream replays from
  * the block cache instead of re-scoring, and a time budget cancels the
  * job group mid-scan.
  */
object Collectors {

  /** TopDocs.totalHits + maxScore sidecar of a one-pass search. */
  final case class TopTotals(totalHits: Long, maxScore: Option[Float])

  /** MultiCollector(TopScoreDocCollector, TotalHitCountCollector) analog:
    * one action computes the top-k AND the whole-result-set aggregates.
    * The observe node sits BELOW TakeOrderedAndProject, so the count/max
    * are collected from the same row stream the partial top-k consumes —
    * the data is scanned once, not once per collector.
    */
  def searchWithTotals(searcher: Searcher, q: Query, k: Int)
      : (Seq[(Long, Float)], TopTotals) = {
    val obs = Observation()
    val scored = searcher.scoredDocs(q)
      .observe(obs,
        count(lit(1)).as("total_hits"),
        max(col("score")).as("max_score"))
    val top = scored.orderBy(desc("score"), asc("doc_id")).limit(k)
      .collect()
      .map(r => (r.getLong(0), r.getFloat(1)))
      .toSeq
    val m = obs.get
    val maxScore = m("max_score") match {
      case f: java.lang.Float => Some(f.floatValue())
      case _                  => None // empty result set -> SQL max is null
    }
    (top, TopTotals(m("total_hits").asInstanceOf[Long], maxScore))
  }

  /** Raised (as a Left) when the budget expires before the collect ends —
    * TimeLimitingCollector.TimeExceededException's role.
    */
  final case class TimeExceeded(budgetMs: Long)

  /** TimeLimitingCollector analog: run `df.collect()` under a job group
    * whose tasks are interrupt-cancelled when the budget expires. Lucene
    * checks a clock every few collected docs and throws; the distributed
    * equivalent is group cancellation — running tasks get a thread
    * interrupt, queued stages never launch, and the caller gets a typed
    * timeout instead of a hung query. Only that cancellation becomes a
    * Left: any other failure surfaces as its own exception, even after the
    * budget expired. The caller's job group is restored afterwards.
    */
  def collectTimeLimited(df: DataFrame, budgetMs: Long)
      : Either[TimeExceeded, Array[Row]] = {
    val sc = df.sparkSession.sparkContext
    val group = s"graft-tlc-${java.util.UUID.randomUUID()}"
    val saved = JobGroupProps.map(p => p -> sc.getLocalProperty(p))
    val timer = new java.util.Timer("graft-tlc", true)
    sc.setJobGroup(group, s"time-limited collect ($budgetMs ms)",
      interruptOnCancel = true)
    timer.schedule(new java.util.TimerTask {
      override def run(): Unit = sc.cancelJobGroup(group)
    }, budgetMs)
    try Right(df.collect())
    catch {
      case e: Exception if causes(e).exists(c => c.isInstanceOf[SparkException] &&
        String.valueOf(c.getMessage).contains(s"cancelled job group $group")) =>
        Left(TimeExceeded(budgetMs))
    } finally {
      timer.cancel()
      saved.foreach { case (p, v) => sc.setLocalProperty(p, v) } // null unsets
    }
  }

  // the local properties SparkContext.setJobGroup sets
  private val JobGroupProps =
    Seq("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")

  private def causes(e: Throwable): Iterator[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(16)

  /** CachingCollector analog: persist the scorer stream so later collectors
    * REPLAY it (InMemoryRelation scan) instead of re-scoring the index —
    * Lucene caches (doc, score) pairs for a second collector pass. Spill-
    * safe (MEMORY_AND_DISK) like CachingCollector's RAM-bounded contract.
    * Caller owns the handle: `unpersist()` when the replay phase ends.
    */
  def cacheScored(scored: DataFrame): DataFrame =
    scored.persist(StorageLevel.MEMORY_AND_DISK)
}
