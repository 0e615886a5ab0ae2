package perfbench

import graft.analysis.Analyzer
import graft.codec.PostingCodec
import graft.model.CollectionStats
import graft.query.WandSearcher
import graft.score.Bm25
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** The one place that reads `WandSearcher.lastScanned` / `lastSkipped`.
  * Those fields hold the accumulators of the last pruned search and are not
  * touched by the exhaustive fall-back paths, so they are cleared first.
  */
object WandStats {
  def reset(w: WandSearcher): Unit = { w.lastScanned = None; w.lastSkipped = None }
  def read(w: WandSearcher): (Long, Long) =
    (w.lastScanned.map(_.value.longValue).getOrElse(0L),
     w.lastSkipped.map(_.value.longValue).getOrElse(0L))
}

/** Single-thread micro-timings of the analysis, codec and scoring layers,
  * through their public functions, on data of the workload's own index.
  * Each loops until `MinMs` has elapsed and returns units per second.
  */
object MicroTimings {
  private val MinMs = 300.0

  private def rate(work: => Long): Double = {
    val t0 = Clock.nowMs()
    var units = 0L
    while (Clock.nowMs() - t0 < MinMs) units += work
    units / ((Clock.nowMs() - t0) / 1000.0)
  }

  def analysis(texts: Seq[String]): Double =
    rate(texts.iterator.map(t => Analyzer.termPositions(t)._2.toLong).sum)

  /** codec.decode_postings_per_s, codec.decode_positions_per_s and
    * score.postings_per_s over the posting blocks of `terms`.
    */
  def codecAndScore(spark: SparkSession, indexDir: String, terms: Seq[String]): Map[String, Double] = {
    import spark.implicits._
    val stats = spark.read.parquet(s"$indexDir/stats").as[CollectionStats].head()
    val dict = spark.read.parquet(s"$indexDir/termdict")
      .filter(col("term").isin(terms.distinct: _*))
      .select("term_id", "df").as[(Long, Long)].collect().toMap
    val blocks = spark.read.parquet(s"$indexDir/postings")
      .filter(col("term_id").isin(dict.keys.toSeq: _*))
      .select("term_id", "first_doc", "cnt", "doc_bytes", "tf_bytes", "norm_bytes", "pos_bytes")
      .as[(Long, Long, Int, Array[Byte], Array[Byte], Array[Byte], Array[Byte])]
      .limit(4000).collect()
    if (blocks.isEmpty) return Map.empty
    val decoded = blocks.map { case (_, fd, cnt, db, tb, _, _) => PostingCodec.decodeDocsTfs(fd, cnt, db, tb) }
    val weights = dict.map { case (tid, df) =>
      tid -> Bm25.termWeight(tid, df, stats.max_doc, stats.sum_ttf) }
    var sink = 0.0f
    val decode = rate(blocks.iterator.map { case (_, fd, cnt, db, tb, _, _) =>
      PostingCodec.decodeDocsTfs(fd, cnt, db, tb)._1.length.toLong }.sum)
    val withPos = blocks.indices.filter(i => blocks(i)._7.nonEmpty)
    val positions =
      if (withPos.isEmpty) 0.0
      else rate(withPos.iterator.map { i =>
        PostingCodec.unpackPositions(blocks(i)._7, decoded(i)._2).iterator.map(_.length.toLong).sum
      }.sum)
    val score = rate(blocks.indices.iterator.map { i =>
      val w = weights(blocks(i)._1)
      val tfs = decoded(i)._2
      val nbs = blocks(i)._6
      var j = 0
      while (j < tfs.length) { sink += Bm25.score(w.weightValue, tfs(j).toFloat, w.cache, nbs(j)); j += 1 }
      tfs.length.toLong
    }.sum)
    Map("codec.decode_postings_per_s" -> decode, "codec.decode_positions_per_s" -> positions,
      "score.postings_per_s" -> score,
      "sum_df" -> stats.sum_df.toDouble,
      "postings_bytes" -> Main.bytesUnder(new java.io.File(indexDir, "postings")).toDouble)
  }
}
