package graft.streaming

import graft.query.{Query, Searcher}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Top-k search over a streaming store's latest snapshot. The batch
  * [[Searcher]] reads a store directly (its [[graft.query.IndexView]] opens
  * the snapshot's base + segments + tombstones), so this class only names
  * the streaming use; every query shape and similarity works on it.
  */
final class SegmentedSearcher(spark: SparkSession, indexDir: String) extends Serializable {
  private val searcher = new Searcher(spark, indexDir)

  def search(q: Query, k: Int): DataFrame = searcher.search(q, k)
}
