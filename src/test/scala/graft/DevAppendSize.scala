package graft

import graft.fixtures.Transcripts
import graft.streaming.StreamingIndexer
import org.apache.spark.sql.SparkSession
import java.nio.file.Files

/** Dev-only harness (not part of any test run): the wall time of one
  * `StreamingIndexer.appendSegment` by batch size, to place the size rule of
  * a stream segment's build (`IndexBuilder.segmentTasks`, `dictPartitions`,
  * `mergeCuts`). For each conversation count, and for the same counts with
  * every turn's text repeated 4 times (`x4`: the batch's Spark size estimate
  * stays the same, its text bytes grow 4-fold), it appends a seeded
  * `Transcripts` batch into a fresh directory, on `local[4]` with 4 shuffle
  * partitions like perfbench `nrt`. One untimed round warms the JIT, then
  * `reps` rounds print one tab-separated row per append. Run:
  *   sbt -batch "Test/runMain graft.DevAppendSize [convs,convs,...] [reps]"
  */
object DevAppendSize {
  def main(args: Array[String]): Unit = {
    val sizes = args.headOption.map(_.split(",").map(_.toLong).toSeq)
      .getOrElse(Seq(40L, 300L, 1000L, 2500L, 5000L, 10000L))
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val cases = sizes.map((_, 1)) ++ sizes.filter(_ >= 1000L).map((_, 4))
    def append(convs: Long, times: Int, seed: Long): String = {
      val turns = (0L until convs).flatMap(Transcripts.turnsFor(_, seed))
        .map(t => t.copy(text = Seq.fill(times)(t.text).mkString(" ")))
      val batch = spark.createDataset(turns)
      val estimate = batch.queryExecution.optimizedPlan.stats.sizeInBytes
      val textBytes = turns.map(_.text.getBytes("UTF-8").length.toLong).sum
      val dir = Files.createTempDirectory("graft_dev_append").toString
      val t0 = System.nanoTime()
      StreamingIndexer.appendSegment(batch, dir, autoCompact = false)
      val ms = (System.nanoTime() - t0) / 1e6
      // the runs bytes S1 committed, from the segment's manifest record
      val record = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$dir/seg-0/_manifest/runs.json")), "UTF-8")
      val runsBytes = "\"bytes\":(\\d+)".r.findAllMatchIn(record).map(_.group(1).toLong).sum
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      f"$convs\tx$times\t${turns.size}\t$estimate\t$textBytes\t$runsBytes\t$ms%.0f"
    }
    cases.foreach { case (n, x) => append(n, x, 99L) }
    println("convs\ttext\tturns\testimate_bytes\ttext_bytes\truns_bytes\tappend_ms")
    for (rep <- 1 to reps; (n, x) <- cases) {
      System.gc()
      println(append(n, x, rep.toLong))
    }
    spark.stop()
  }
}
