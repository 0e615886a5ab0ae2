package graft.build

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Delete support for an index directory: a `tombstones` parquet table of
  * dead doc_ids — the liveDocs-bitset analog
  * (/root/reference/src/Lucene.Net/Codecs/LiveDocsFormat.cs;
  * /root/reference/src/Lucene.Net/Index/BufferedUpdates.cs:38). Like the
  * reference, deletes are applied at SEARCH time (anti-join instead of a
  * bitset test) and physically purged at merge/compaction; collection and
  * term statistics keep counting buried docs until the purge — exactly
  * Lucene's visible behavior between delete and merge.
  */
object Tombstones {

  /** Append dead doc ids (idempotent at query time — duplicates are fine). */
  def append(spark: SparkSession, indexDir: String, docIds: Seq[Long]): Unit = {
    import spark.implicits._
    if (docIds.isEmpty) return
    docIds.toDF("doc_id").write.mode("append").parquet(path(indexDir))
  }

  /** The tombstone table's path, when the index has one. */
  def dir(spark: SparkSession, indexDir: String): Option[String] = {
    val p = new Path(path(indexDir))
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p)) Some(path(indexDir)) else None
  }

  private def path(indexDir: String): String = s"$indexDir/tombstones"
}
