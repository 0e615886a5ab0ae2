package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._

/** One shared local session for all suites (sbt forks one test JVM). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs `body` with a file split budget below any test index's postings
    * bytes, restoring the setting after: queries that would scan in one task
    * take the bucket exchange and its prefilters instead.
    */
  def pastSplitBudget[T](body: => T): T = {
    val key = "spark.sql.files.maxPartitionBytes"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "1024")
    try body finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Runs `body` on the default plan — a small query scans, combines and
    * ranks in one task, with no theta seed and no range collect — and again
    * past the file split budget, where the bucket exchange, per-partition
    * k-th best floors, the theta seed and the lead/essential range collects
    * run.
    */
  def bothPlans(body: => Unit): Unit = {
    body
    pastSplitBudget(body)
  }

  /** The descriptions of the Spark jobs `body` starts ("" for an unnamed
    * job). The listener bus is asynchronous, so a marker job closes the
    * window: every job started before it has been seen once it is.
    */
  def jobsOf(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val marker = s"counted-${java.util.UUID.randomUUID()}-end"
    val started = new ConcurrentLinkedQueue[String]()
    val markerSeen = new CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        p.map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `marker` => markerSeen.countDown()
          case _ => started.add(p.flatMap(x => Option(x.getProperty("spark.job.description"))).getOrElse(""))
        }
      }
    }
    sc.addSparkListener(l)
    try {
      body
      sc.setJobGroup(marker, "marker")
      sc.parallelize(Seq(1), 1).count()
      assert(markerSeen.await(60, TimeUnit.SECONDS), "marker job not seen")
      started.asScala.toSeq
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }
}
