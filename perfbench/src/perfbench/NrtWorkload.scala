package perfbench

import graft.analysis.Analyzer
import graft.fixtures.Transcripts
import graft.model.Turn
import graft.oracle.BruteForce
import graft.query.Query
import graft.streaming.{SegmentedSearcher, SnapshotLog, StreamingIndexer}
import graft.verify.IndexVerifier
import scala.collection.mutable

/** `nrt`: near-real-time indexing on `local[cpus]`. Set-up appends a base
  * segment and queries it once through a `SegmentedSearcher`, so the append
  * and the segmented search path have each run before the timed cycles.
  * Each cycle appends a small seeded batch with
  * `StreamingIndexer.appendSegment(autoCompact = false)`, reopens a
  * `SegmentedSearcher` and queries the new snapshot; cycle 0, 2, … first
  * deletes docs (tombstones), so every timed query sees some. After the loop
  * a traced run updates docs and then calls `StreamingIndexer.compact` once,
  * which also checks the update; untraced runs leave both out to stay short.
  *
  * The check model is kept by the benchmark alone: the text of every doc
  * physically in the store and the set of buried doc ids. Each cycle's
  * queries are compared with `BruteForce` over the physical docs (stats
  * stay unpurged until compaction), buried docs filtered out.
  */
final class NrtWorkload(a: Main.Args, rec: Recorder, rss: RssSampler) {
  import NrtWorkload._
  private val dir = s"${a.work}/nrt/store"

  private val text = mutable.LongMap[String]()
  private val dead = mutable.Set[Long]()
  private val df = mutable.HashMap[String, Int]()
  private var segments = 0
  private var nextConv = 0L

  private def batch(nConvs: Int): Seq[Turn] = {
    val b = (nextConv until nextConv + nConvs).flatMap(Transcripts.turnsFor(_, a.seed))
    nextConv += nConvs
    b
  }

  private def terms(s: String): Iterable[String] = Analyzer.termPositions(s)._1.keys

  /** Record the docs of the newest segment (doc ids from its docmap);
    * returns them and the segment directory.
    */
  private def absorb(spark: org.apache.spark.sql.SparkSession, b: Seq[Turn]): (Set[Long], String) = {
    import spark.implicits._
    val seg = new SnapshotLog(dir, spark).latest().get.segments.last
    val byKey = b.map(t => (t.conv_id, t.turn_idx) -> t.text).toMap
    val ids = spark.read.parquet(s"$seg/docmap").select("doc_id", "conv_id", "turn_idx")
      .as[(Long, String, Int)].collect().map { case (d, c, t) =>
        text(d) = byKey((c, t))
        terms(text(d)).foreach(w => df(w) = df.getOrElse(w, 0) + 1)
        d
      }
    segments += 1
    (ids.toSet, seg)
  }

  private def oracle(): BruteForce = new BruteForce(text.toSeq.sortBy(_._1))

  private def expect(o: BruteForce, q: Query): Seq[(Long, Float)] =
    o.search(q, 10 + dead.size).filterNot(h => dead.contains(h._1)).take(10)

  def run(): Unit = {
    rec.context("base_convs") = BaseConvs
    rss.on = true
    val spark = rec.setup("session")(Main.session(a, a.cpus))
    import spark.implicits._
    val base = batch(BaseConvs)
    rec.setup("base") {
      StreamingIndexer.appendSegment(spark.createDataset(base), dir, autoCompact = false)
    }
    absorb(spark, base)
    rec.setup("open")(new SegmentedSearcher(spark, dir).search(Query.Term("time"), 10).collect())
    val pool = new Pool(a.seed, base.take(2000))
    val draws = new java.util.Random(a.seed)

    var deadline = Clock.nowMs() + a.seconds * 1000.0
    var c = 0
    while (c < MinCycles || Clock.nowMs() < deadline) {
      if (c % 2 == 0) delete(spark, c, a.trace)
      deadline += cycle(spark, pool, draws, c, a.trace)
      c += 1
    }
    val snap = new SnapshotLog(dir, spark).latest().get
    rec.counters("store_bytes") = (snap.base.toSeq ++ snap.segments)
      .map(p => Main.bytesUnder(new java.io.File(p))).sum
    rec.counters("text_bytes") = text.values
      .map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong).sum
    // Traced runs only, to keep an untraced run short: an update, then one
    // compaction of the store (fewer than `StreamingIndexer.CompactAt`
    // segments), whose checks also cover the update.
    if (a.trace) {
      update(spark, c, traced = true)
      compact(spark, traced = true)
      val live = new SnapshotLog(dir, spark).latest().get
      val anyPart = (live.base.toSeq ++ live.segments).head
      rec.counters("analysis.tokens_per_s") = MicroTimings.analysis(base.take(2000).map(_.text))
      MicroTimings.codecAndScore(spark, anyPart, Pool.Common)
        .foreach { case (k, v) => rec.counters(k) = v }
    }
    rss.on = false
    spark.stop()
  }

  /** One cycle: append a batch, reopen, query the batch's rarest term
    * (visibility), then `QueriesPerCycle` topk queries on that snapshot;
    * then the untimed checks. Returns the milliseconds the checks took.
    */
  private def cycle(spark: org.apache.spark.sql.SparkSession, pool: Pool,
                    draws: java.util.Random, c: Int, traced: Boolean): Double = {
    import spark.implicits._
    val b = batch(BatchConvs)
    val batchTerms = b.flatMap(t => terms(t.text)).distinct
    // the batch's rarest term (after this append): its top 10 must show
    // a doc of the batch
    val probe = batchTerms.minBy(t => (df.getOrElse(t, 0), t))
    val ds = spark.createDataset(b)
    var searcher: SegmentedSearcher = null
    var seen: Seq[(Long, Float)] = Nil
    Main.withListener(spark, traced, rec) {
      rec.op("nrt", "visibility", traced) { o =>
        val t0 = Clock.nowMs()
        rec.call("StreamingIndexer.appendSegment") {
          StreamingIndexer.appendSegment(ds, dir, autoCompact = false)
        }
        val t1 = Clock.nowMs()
        searcher = rec.call("SegmentedSearcher.<init>")(new SegmentedSearcher(spark, dir))
        val t2 = Clock.nowMs()
        seen = rec.call("SegmentedSearcher.search") {
          searcher.search(Query.Term(probe), 10).collect()
        }.map(r => (r.getLong(0), r.getFloat(1))).toSeq
        o.info("append_ms") = t1 - t0
        o.info("reopen_ms") = t2 - t1
        o.info("probe_ms") = Clock.nowMs() - t2
      }
    }
    val vis = rec.ops.last
    val queries = mutable.ArrayBuffer[(Op, Query, Seq[(Long, Float)])]()
    if (searcher != null) {
      (0 until QueriesPerCycle).foreach { j =>
        val qs = pool.topkRotating(c * QueriesPerCycle + j, draws)
        var got: Seq[(Long, Float)] = Nil
        Main.withListener(spark, traced, rec) {
          rec.op("nrt_query", "topk", traced) { _ =>
            got = rec.call("SegmentedSearcher.search") {
              searcher.search(Query.parse(qs), 10).collect()
            }.map(r => (r.getLong(0), r.getFloat(1))).toSeq
          }
        }
        val o = rec.ops.last
        o.info("query") = qs
        o.info("segments") = segments
        o.info("tombstones") = dead.size
        queries += ((o, Query.parse(qs), got))
      }
    }
    rss.on = false
    // checks for this snapshot, untimed and not counted in the run time
    val checkStart = Clock.nowMs()
    if (vis.ok) {
      val (added, seg) = absorb(spark, b)
      vis.info("manifest") = Main.manifest(seg)
      rec.check(vis, seen.exists(h => added.contains(h._1)),
        s"probe '$probe' shows no doc of the new batch")
      val bf = oracle()
      val want = expect(bf, Query.Term(probe))
      rec.check(vis, Oracle.same(seen, want), Oracle.diff(probe, seen, want))
      queries.foreach { case (o, q, got) =>
        if (o.ok) {
          val w = expect(bf, q)
          rec.check(o, Oracle.same(got, w), Oracle.diff(o.info("query").toString, got, w))
        }
      }
    }
    rss.on = true
    Clock.nowMs() - checkStart
  }

  /** Bury a few live docs. */
  private def delete(spark: org.apache.spark.sql.SparkSession, c: Int, traced: Boolean): Unit = {
    val r = new java.util.Random(a.seed * 1000 + c)
    val live = text.keys.filterNot(dead.contains).toIndexedSeq.sorted
    val ids = Seq.fill(3)(live(r.nextInt(live.size))).distinct
    Main.withListener(spark, traced, rec) {
      rec.op("nrt_mutate", "delete", traced) { _ =>
        rec.call("StreamingIndexer.deleteDocs")(StreamingIndexer.deleteDocs(spark, dir, ids))
      }
    }
    if (rec.ops.last.ok) dead ++= ids
  }

  /** Replace the docs holding a rare term of a random live doc with one
    * new doc.
    */
  private def update(spark: org.apache.spark.sql.SparkSession, c: Int, traced: Boolean): Unit = {
    import spark.implicits._
    val r = new java.util.Random(a.seed * 1000 + c)
    val live = text.keys.filterNot(dead.contains).toIndexedSeq.sorted
    val doc = text(live(r.nextInt(live.size)))
    val term = terms(doc).minBy(t => (df.getOrElse(t, 0), t))
    val replacement = batch(1)
    Main.withListener(spark, traced, rec) {
      rec.op("nrt_mutate", "update", traced) { _ =>
        rec.call("StreamingIndexer.updateDocuments") {
          StreamingIndexer.updateDocuments(spark.createDataset(replacement), dir, term)
        }
      }
    }
    if (rec.ops.last.ok) {
      dead ++= text.collect { case (d, t) if terms(t).exists(_ == term) => d }
      absorb(spark, replacement)
    }
  }

  private def compact(spark: org.apache.spark.sql.SparkSession, traced: Boolean): Unit = {
    Main.withListener(spark, traced, rec) {
      rec.op("nrt_compact", "compact", traced) { _ =>
        rec.call("StreamingIndexer.compact")(StreamingIndexer.compact(spark, dir))
      }
    }
    val o = rec.ops.last
    rss.on = false
    // the compacted base must verify and hold exactly the live docs
    if (o.ok) {
      val snap = new SnapshotLog(dir, spark).latest().get
      import spark.implicits._
      val baseDir = snap.base.get
      val violations = IndexVerifier.verify(spark, baseDir)
      rec.check(o, violations.isEmpty, s"IndexVerifier: ${violations.take(3).mkString("; ")}")
      val ids = spark.read.parquet(s"$baseDir/docmap").select("doc_id").as[Long].collect().toSet
      val live = text.keySet.toSet -- dead
      rec.check(o, ids == live, s"compacted docmap holds ${ids.size} docs, want ${live.size}")
      o.info("manifest") = Main.manifest(baseDir)
    }
  }
}

object NrtWorkload {
  /** Base segment size in conversations (about 4 turns each). */
  final val BaseConvs = 300
  /** Conversations per appended batch. */
  final val BatchConvs = 40
  final val QueriesPerCycle = 3
  /** Cycles run even when they outlast `--seconds`. */
  final val MinCycles = 2
}
