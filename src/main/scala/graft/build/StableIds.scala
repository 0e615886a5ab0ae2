package graft.build

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Dense, deterministic 0-based id assignment by a total key order — without a
  * global single-partition sort (SURVEY.md §7.4 item 2: a plain row_number()
  * over one unpartitioned window is a driver bottleneck at 10^12 rows).
  *
  * Two narrow passes over one range-partitioned, partition-sorted dataset:
  * pass 1 counts rows per partition, pass 2 assigns `offset(pid) + i`. The
  * dataset MUST be persisted between the two jobs: separate actions re-plan
  * and re-sample the range partitioner, and above a shuffle (e.g. a groupBy)
  * AQE can re-shape the child so the resampled boundaries differ between
  * passes — observed as duplicate ids. (Doc ids never come from here:
  * buildFromTurns assigns them, for batch builds and streaming segments
  * alike, via partition-local ids + offset fixup. The one user is the term
  * dictionary, which is metadata-sized, so the persist is cheap at any
  * scale.) An input the caller sizes to one partition sorts in one task and
  * needs neither pass.
  */
object StableIds {

  /** Returns `df` plus a LongType `idCol`, ids dense in ascending `keys` order.
    * `keys` must be a uniqueness-guaranteeing key set. On more than one
    * partition the result is persisted; callers should unpersist after
    * consuming it. On one partition the id is the row index of the sorted
    * partition: no count pass and nothing persisted (unpersist is a no-op).
    */
  def attach(df: DataFrame, keys: Seq[Column], idCol: String, numPartitions: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val outSchema = StructType(df.schema.fields :+ StructField(idCol, LongType, nullable = false))
    def numbered(sorted: DataFrame, offsets: Array[Long]): DataFrame =
      sorted.mapPartitions { it =>
        val base = offsets(TaskContext.getPartitionId())
        var i = 0L
        it.map { row =>
          val id = base + i
          i += 1
          Row.fromSeq(row.toSeq :+ id)
        }
      }(org.apache.spark.sql.Encoders.row(outSchema))
    if (numPartitions == 1)
      return numbered(df.coalesce(1).sortWithinPartitions(keys: _*), Array(0L))
    val sorted = df
      .repartitionByRange(numPartitions, keys: _*)
      .sortWithinPartitions(keys: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val counts = sorted
      .groupBy(spark_partition_id().as("pid")).count()
      .as[(Int, Long)].collect().toMap
    val offsets = (0 until numPartitions).scanLeft(0L)((acc, p) => acc + counts.getOrElse(p, 0L))
    val result = numbered(sorted, offsets.toArray)
    // Materialize while `sorted` is cached so both jobs see one execution.
    result.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).count()
    sorted.unpersist(blocking = false)
    result
  }
}
