package perfbench

import graft.analysis.Analyzer
import graft.model.Turn
import graft.query.Query
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Seeded query pool in three classes, drawn Zipf-repeating by a closed-loop
  * client:
  *   - `topk`: single terms, OR, `+must`, `-not` and rare+common skew;
  *   - `phrase`: exact and sloppy phrases cut from corpus texts;
  *   - `expand`: prefix, wildcard and fuzzy leaves.
  * The class comes from a fixed mix, then a query within the class by Zipf
  * rank, so the class shares do not depend on the seed.
  */
final class Pool(seed: Long, sample: Seq[Turn]) {
  import Pool._
  private val rng = new java.util.Random(seed * 31 + 7)

  private def common(): String = Common(rng.nextInt(Common.length))

  /** Synthetic terms `wNNNNNN` found in one to three sample docs. The sample
    * is part of the indexed corpus, so each is in the index and rare there:
    * a rare+common query always has both posting lists to combine, whatever
    * the seed.
    */
  private val rareTerms: IndexedSeq[String] = {
    val df = mutable.HashMap[String, Int]()
    sample.foreach(t => Analyzer.termPositions(t.text)._1.keys
      .filter(_.matches("w[0-9]{6}")).foreach(w => df(w) = df.getOrElse(w, 0) + 1))
    df.collect { case (w, n) if n <= 3 => w }.toIndexedSeq.sorted
  }
  private def rare(): String = rareTerms(rng.nextInt(rareTerms.size))

  /** Five seeded queries of each topk shape. */
  val topkShapes: IndexedSeq[IndexedSeq[String]] = IndexedSeq[() => String](
    () => common(),
    () => s"${common()} ${common()}",
    () => s"+${common()} ${common()} ${common()}",
    () => s"${common()} -${common()}",
    () => s"${rare()} ${common()}",
    () => s"${common()} ${rare()} ${common()}"
  ).map(shape => IndexedSeq.fill(5)(shape()))

  val topk: IndexedSeq[String] = topkShapes.flatten

  val phrase: IndexedSeq[String] = {
    val out = mutable.ArrayBuffer[String]()
    var tries = 0
    while (out.size < 8 && tries < 10000) {
      tries += 1
      val t = sample(rng.nextInt(sample.size))
      val (tp, _) = Analyzer.termPositions(t.text)
      val at = tp.toSeq.flatMap { case (term, ps) => ps.map(_ -> term) }.toMap
      if (at.size >= 4) {
        val ps = at.keys.toSeq.sorted
        val p = ps(rng.nextInt(ps.size))
        val sloppy = out.size % 2 == 1
        val next = at.get(p + (if (sloppy) 2 else 1))
        next.foreach { n =>
          val q = if (sloppy) s"\"${at(p)} $n\"~2" else s"\"${at(p)} $n\""
          if (!out.contains(q)) out += q
        }
      }
    }
    out.toIndexedSeq
  }

  val expand: IndexedSeq[String] = (0 until 8).map { i =>
    i % 3 match {
      case 0 => f"w0${100 + rng.nextInt(900)}%03d*"
      case 1 => f"w0${rng.nextInt(10)}%d?${rng.nextInt(100)}%02d"
      case _ =>
        val w = Common(rng.nextInt(Common.length))
        val j = 1 + rng.nextInt(w.length - 2)
        s"${w.substring(0, j)}${w.charAt(j + 1)}${w.charAt(j)}${w.substring(j + 2)}~1"
    }
  }

  /** Next (class, query string) of the closed loop. Each block of
    * `Mix.size` queries is a seeded shuffle of a fixed mix of classes and
    * topk shapes, so the mix does not depend on the seed; within a class or
    * shape the query is drawn by Zipf rank.
    */
  def draw(r: java.util.Random): (String, String) = {
    if (slot % Mix.size == 0) {
      val l = new java.util.ArrayList[String](Mix.asJava)
      java.util.Collections.shuffle(l, r)
      order = l.asScala.toIndexedSeq
    }
    val kind = order(slot % Mix.size)
    slot += 1
    val qs = kind match {
      case "phrase" => phrase
      case "expand" => expand
      case shape => topkShapes(shape.stripPrefix("topk").toInt)
    }
    (if (kind.startsWith("topk")) "topk" else kind, qs(zipfRank(r, qs.size)))
  }
  private var slot = 0
  private var order: IndexedSeq[String] = Mix
  /** True between blocks: a run stops only there, so it holds whole blocks. */
  def atBlockEnd: Boolean = slot % Mix.size == 0

  /** The `i`-th topk query of a fixed shape rotation, Zipf within the shape. */
  def topkRotating(i: Int, r: java.util.Random): String = {
    val qs = topkShapes(i % topkShapes.size)
    qs(zipfRank(r, qs.size))
  }

  /** One query of every topk shape and class, for warming up. */
  def warmup: Seq[String] = topkShapes.map(_.head) ++ Seq(phrase.head, expand.head)

}

object Pool {
  /** 7 topk (every shape once, shape 1 twice), 2 phrase and 1 expand
    * queries in every 10.
    */
  val Mix: IndexedSeq[String] =
    (Seq(0, 1, 1, 2, 3, 4, 5).map(i => s"topk$i") ++ Seq("phrase", "phrase", "expand"))
      .toIndexedSeq

  /** Non-stopword vocabulary of `graft.fixtures.Transcripts`. */
  val Common: IndexedSeq[String] = (
    "time person year way day thing man world life hand part child eye woman " +
    "place work week case point government company number group problem fact " +
    "spark index search query merge sort shuffle partition token score rank " +
    "batch stream agent tool turn reply plan error retry cache disk memory " +
    "node executor driver stage task").split(" ").toIndexedSeq

  /** Zipf(s=1) rank in [0, n). */
  def zipfRank(r: java.util.Random, n: Int): Int = {
    val w = (1 to n).map(1.0 / _)
    var u = r.nextDouble() * w.sum
    var i = 0
    while (i < n - 1 && u >= w(i)) { u -= w(i); i += 1 }
    i
  }

  /** Literal leaf strings of a parsed query (for dictionary lookups). */
  def leaves(q: Query): Seq[String] = q match {
    case Query.Term(t, _) => Seq(t)
    case b: Query.Bool => b.must ++ b.should ++ b.mustNot
    case b: Query.BoolQ => b.clauses.flatMap(c => leaves(c._2))
    case p: Query.Phrase => p.terms
    case p: Query.Prefix => Seq(p.prefix)
    case w: Query.Wildcard => Seq(w.pattern)
    case f: Query.Fuzzy => Seq(f.term)
    case _ => Nil
  }
}
