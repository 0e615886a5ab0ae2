package graft

import org.apache.spark.sql.SparkSession

/** Names the library's own Spark jobs, so listeners and event logs tell the
  * build stages and the query jobs apart (`graft: build postings`,
  * `graft: WAND theta seed`, ...).
  */
private[graft] object JobNames {

  /** Run `body` with `what` as the description of the Spark jobs it starts;
    * the caller's description is restored afterwards. The description is a
    * thread-local property: a body running on a pool thread (a `Future`)
    * must set its own.
    */
  def named[T](spark: SparkSession, what: String)(body: => T): T = {
    val sc = spark.sparkContext
    val saved = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(what)
    try body finally sc.setLocalProperty("spark.job.description", saved) // null unsets
  }
}
