package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.util.LongAccumulator

/** Block-max pruned top-k search — the north rule's "block-max WAND
  * scoring" for a term-range-partitioned columnar postings layout. It runs
  * [[Searcher]]'s one ranked path with pruning asked for: a term, a Bool and
  * an unboosted flat BoolQ group (boosted terms and in-cap prefix,
  * wildcard, regexp, range and fuzzy expansions included) skip every block
  * whose bound cannot reach the k best, by the algebra in [[BlockCombine]];
  * every other shape runs as in [[Searcher]]. Results are rank- and
  * score-identical to [[Searcher.search]] (WandSpec, RandomQuerySpec).
  *
  * On a view with tombstones nothing prunes: a dead doc's clause score is
  * no lower bound on the k-th LIVE total, so the search stays exhaustive
  * until compaction purges them — the same class of optimization Lucene
  * turns off under liveDocs.
  *
  * `maxScoreMinBlocksOpt` is the estimated scan size in posting blocks
  * (default 64) from which a pure disjunction past the file split budget
  * runs the dictionary theta seed job that arms the reduce side's
  * term-level MaxScore split: a reduce partition holds one bucket and
  * would otherwise build no threshold before its only flush. A one-task
  * scan never seeds.
  */
final class WandSearcher(@transient spark: SparkSession, indexDir: String,
                         maxScoreMinBlocksOpt: Option[Long] = None) extends Serializable {
  private val base = new Searcher(spark, indexDir)
  private val maxScoreMinBlocks: Long = maxScoreMinBlocksOpt.getOrElse(64L)

  /** Bucket copies (blocks, for a single term) skipped and scanned by the
    * last pruned search (for tests/metrics).
    */
  @transient var lastSkipped: Option[LongAccumulator] = None
  @transient var lastScanned: Option[LongAccumulator] = None

  def search(q: Query, k: Int): DataFrame =
    if (base.view.hasTombstones) base.search(q, k)
    else {
      val skipped = spark.sparkContext.longAccumulator("wand.skippedBlocks")
      val scanned = spark.sparkContext.longAccumulator("wand.scannedBlocks")
      lastSkipped = Some(skipped)
      lastScanned = Some(scanned)
      base.search(q, k, Some(BlockCombine.Pruning(maxScoreMinBlocks, skipped, scanned)))
    }
}
