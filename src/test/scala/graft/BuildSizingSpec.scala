package graft

import graft.build.IndexBuilder
import graft.fixtures.Transcripts
import graft.model.TermDictRow
import org.scalatest.funsuite.AnyFunSuite

/** The rule that sizes a build stage by the bytes it reads, capped by the
  * stage's core-count partition count: a large build keeps today's counts,
  * a small append runs one task per stage, and the `search` benchmark index
  * (2,500 conversations, 1.77 MB of runs) keeps its 32 postings files. The
  * one-partition and the multi-partition term dictionary give the same ids.
  */
class BuildSizingSpec extends AnyFunSuite {

  private val p = 4 // the segment build's p on 4 cores: max(shuffle / 4, 4)

  test("a large build keeps the core-count partition counts") {
    val gb = 1L << 30
    assert(IndexBuilder.mergeCuts(gb, p, positions = true) == 32)
    assert(IndexBuilder.mergeCuts(gb, p, positions = false) == 16)
    assert(IndexBuilder.dictPartitions(gb, p) == 8)
    assert(IndexBuilder.dictPartitions(gb, 200) == 50)
    assert(IndexBuilder.segmentTasks(gb, p) == p)
    // an unknown size estimates huge
    assert(IndexBuilder.segmentTasks(Long.MaxValue, p) == p)
    assert(IndexBuilder.mergeCuts(Long.MaxValue, 200, positions = true) == 1600)
    // the perfbench `build` workload: 12.9 MB of runs at p = 16 keeps its 128
    // cuts, and its dictionary takes 4 partitions where the core-count rule
    // gave 8 (BASELINE.md)
    assert(IndexBuilder.mergeCuts(12893941L, 16, positions = true) == 128)
    assert(IndexBuilder.dictPartitions(12893941L, 16) == 4)
  }

  test("a 40-conversation batch runs one task in every sized stage") {
    import SparkTestSession.spark.implicits._
    val batch = SparkTestSession.spark.createDataset((0L until 40L).flatMap(Transcripts.turnsFor(_, 1L)))
    val estimate = batch.queryExecution.optimizedPlan.stats.sizeInBytes.toLong
    assert(IndexBuilder.segmentTasks(estimate, p) == 1, s"estimate $estimate bytes")
    // the runs such a batch tokenizes in one task: 44,002 bytes (BASELINE.md)
    val runsBytes = 44002L
    assert(IndexBuilder.dictPartitions(runsBytes, p) == 1)
    assert(IndexBuilder.mergeCuts(runsBytes, p, positions = true) == 1)
  }

  test("the search index's runs still cut into at least 32 postings files") {
    val runsBytes = 1770000L
    assert(IndexBuilder.mergeCuts(runsBytes, p, positions = true) >= 32)
  }

  test("the term dictionary is the same on one partition and on eight") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val texts = Transcripts.local(200L).sortBy(t => (t.conv_id, t.turn_idx)).map(_.text)
    // the runs S1 writes for 4 doc-range partitions, dealt over 5 input
    // partitions so that the multi-partition aggregate has rows to exchange
    val runs = texts.zipWithIndex.grouped(texts.size / 4 + 1).zipWithIndex.flatMap {
      case (part, pid) => IndexBuilder.buildRuns(pid, part.iterator.map { case (t, i) => (i.toLong, t) })
    }.toSeq
    val df = spark.createDataset(runs).toDF().repartition(5)
    def dict(n: Int): Seq[TermDictRow] = {
      val d = IndexBuilder.termDictionary(df, n)
      try d.select("term", "term_id", "df", "ttf", "max_tf", "max_nb").as[TermDictRow]
        .collect().sortBy(_.term_id).toSeq
      finally d.unpersist(blocking = false)
    }
    val one = dict(1)
    assert(one.size > 1000)
    assert(dict(8) == one)
    // dense ids from 0, in Spark's ascending term order
    assert(one.map(_.term_id) == one.indices.map(_.toLong))
    assert(one.map(_.term) == spark.createDataset(one.map(_.term)).orderBy("value").collect().toSeq)
  }

  test("the rule is a ceiling division clamped to [1, today]") {
    val per = IndexBuilder.MergeBytesPerCut
    assert(IndexBuilder.sizedTasks(0L, per, 32) == 1)
    assert(IndexBuilder.sizedTasks(per, per, 32) == 1)
    assert(IndexBuilder.sizedTasks(per + 1, per, 32) == 2)
    assert(IndexBuilder.sizedTasks(5 * per, per, 32) == 5)
    assert(IndexBuilder.sizedTasks(5 * per, per, 3) == 3)
  }
}
