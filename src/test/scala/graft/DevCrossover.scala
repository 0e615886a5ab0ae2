package graft

import graft.build.IndexBuilder
import graft.fixtures.Transcripts
import graft.query.{Query, WandSearcher}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.functions.{col, max, min}

/** Dev-only harness (not part of any test run): where a one-task scan stops
  * beating the bucket exchange. Builds a positional index of `convs`
  * conversations once (default 10,000, under target/devcrossover), then
  * times disjunctions of the n most frequent terms, so the postings bytes a
  * query reads grow from about a hundred KB to several MB, on the one-task
  * plan (`spark.sql.files.openCostInBytes` raised to 1 GB, so every scan
  * fits one split) and on the exchange plan (`openCostInBytes` = 1 byte, so
  * the split is the bytes per core and no scan fits it). Prints bytes read,
  * both medians and whether the default rule takes one task. Run:
  *   SPARK_DRIVER_MEM=4g sbt -batch "Test/runMain graft.DevCrossover [convs]"
  */
object DevCrossover {
  def main(args: Array[String]): Unit = {
    val convs = args.headOption.map(_.toLong).getOrElse(10000L)
    val idx = s"target/devcrossover/$convs"
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    if (!new java.io.File(s"$idx/stats").exists())
      IndexBuilder.buildFromTurns(Transcripts.dataset(spark, convs), idx,
        IndexBuilder.Options(positions = true))

    // each postings file's bytes and term_id range, to price a query's scan
    val files = spark.read.parquet(s"$idx/postings")
      .groupBy(col("_metadata.file_name"), col("_metadata.file_size"))
      .agg(min("term_id"), max("term_id")).as[(String, Long, Long, Long)].collect()
    val top = spark.read.parquet(s"$idx/termdict").orderBy(col("df").desc)
      .select("term", "term_id").as[(String, Long)].take(64)
    def bytesOf(ids: Seq[Long]): Long =
      files.filter { case (_, _, lo, hi) => ids.exists(i => lo <= i && i <= hi) }.map(_._2).sum

    val wand = new WandSearcher(spark, idx)
    def median(q: Query): Double = {
      (1 to 2).foreach(_ => wand.search(q, 10).collect())
      val ms = (1 to 7).map { _ =>
        val t0 = System.nanoTime()
        wand.search(q, 10).collect()
        (System.nanoTime() - t0) / 1e6
      }.sorted
      ms(ms.size / 2)
    }
    def withConf[T](key: String, value: String)(body: => T): T = {
      spark.conf.set(key, value)
      try body finally spark.conf.unset(key)
    }
    println(s"terms\tbytes\tdefault_one_task\tone_task_ms\texchange_ms")
    Seq(1, 2, 4, 8, 16, 32, 64).filter(_ <= top.length).foreach { n =>
      val q = Query.Bool(should = top.take(n).map(_._1).toSeq)
      val bytes = bytesOf(top.take(n).map(_._2).toSeq)
      val oneByDefault = bytes <= FilePartition.maxSplitBytes(spark, bytes)
      val one = withConf("spark.sql.files.openCostInBytes", (1L << 30).toString)(median(q))
      val ex = withConf("spark.sql.files.openCostInBytes", "1")(median(q))
      println(f"$n\t$bytes\t$oneByDefault\t$one%.0f\t$ex%.0f")
    }
    spark.stop()
  }
}
