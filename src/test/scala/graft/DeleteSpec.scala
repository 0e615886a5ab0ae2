package graft

import graft.build.{IndexBuilder, Tombstones}
import graft.fixtures.Transcripts
import graft.query.{Query, Searcher, WandSearcher}
import graft.streaming.{SegmentedSearcher, SnapshotLog, StreamingIndexer}
import graft.verify.IndexVerifier
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Deletes/updates via tombstones: anti-join at query time (liveDocs
  * semantics), physical purge at compaction (SegmentMerger drop-deleted) —
  * reference behavior contract: IndexWriter.cs:1693,1751, BufferedUpdates.cs:38,
  * LiveDocsFormat.cs.
  */
class DeleteSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("batch index: tombstoned docs drop from every query path") {
    val dir = Files.createTempDirectory("graft_del_batch").toString
    IndexBuilder.buildFromTurns(Transcripts.dataset(spark, 150), dir)
    val pre = new Searcher(spark, dir)
    val top = pre.search(Query.Term("time"), 10).collect().map(_.getLong(0)).toSeq
    assert(top.nonEmpty)
    // bury the current top-2 docs
    Tombstones.append(spark, dir, top.take(2))
    val post = new Searcher(spark, dir)
    val afterEx = post.search(Query.Term("time"), 10).collect().map(_.getLong(0)).toSeq
    assert(afterEx.intersect(top.take(2)).isEmpty)
    assert(afterEx.take(8) == top.drop(2), "survivors keep their order")
    // block-max path falls back but must agree exactly
    val wand = new WandSearcher(spark, dir)
      .search(Query.Term("time"), 10).collect().map(_.getLong(0)).toSeq
    assert(wand == afterEx)
    // phrase path applies liveDocs too
    val ph = post.search(Query.Phrase(Seq("time", "person")), 10)
      .collect().map(_.getLong(0)).toSeq
    assert(ph.intersect(top.take(2)).isEmpty)
  }

  test("streaming: delete-by-term hides docs; compaction purges them") {
    val dir = Files.createTempDirectory("graft_del_stream").toString
    val all = Transcripts.local(80)
    val cut = all.size / 2
    StreamingIndexer.appendSegment(spark.createDataset(all.take(cut)), dir, autoCompact = false)
    StreamingIndexer.appendSegment(spark.createDataset(all.drop(cut)), dir, autoCompact = false)

    StreamingIndexer.deleteByTerm(spark, dir, "person")
    val snap1 = new SnapshotLog(dir, spark).latest().get
    assert(snap1.tombs.nonEmpty)
    val dead = snap1.tombs.map(t => spark.read.parquet(t)).reduce(_ unionByName _)
      .select("doc_id").as[Long].collect().toSet
    assert(dead.nonEmpty)
    // commit returns exactly the snapshot a reader then sees, tombstones too
    val log = new SnapshotLog(dir, spark)
    assert(log.commit(snap1.maxDoc, snap1.base, snap1.segments, snap1.tombs) == log.latest().get)

    // read-your-deletes before compaction
    val seg = new SegmentedSearcher(spark, dir)
    val hits = seg.search(Query.Term("time"), 1000).collect().map(_.getLong(0)).toSet
    assert(hits.intersect(dead).isEmpty)
    assert(seg.search(Query.Term("person"), 1000).count() == 0)

    // the store answers every query shape exactly like a batch build of the
    // same corpus carrying the same tombstones (WAND falls back: pruning
    // stays off while tombstones exist)
    val batchDir = Files.createTempDirectory("graft_del_stream_batch").toString
    IndexBuilder.buildFromTurns(spark.createDataset(all), batchDir)
    Tombstones.append(spark, batchDir, dead.toSeq)
    val batch = new Searcher(spark, batchDir)
    val wand = new WandSearcher(spark, dir)
    def bits(df: org.apache.spark.sql.DataFrame): Seq[(Long, Int)] =
      df.collect().map(r => (r.getLong(0), java.lang.Float.floatToRawIntBits(r.getFloat(1)))).toSeq
    for (q <- Seq(Query.Term("time"), Query.Bool(should = Seq("time", "year")),
      Query.Phrase(Seq("time", "year"), slop = 2), Query.parse("(time OR year) AND way"),
      Query.parse("+ti* year"), Query.ConstantScore(Query.Term("year"), 2.0f),
      Query.DisMax(Seq(Query.Term("time"), Query.Term("year")), 0.5f), Query.MatchAll())) {
      val want = bits(batch.search(q, 20))
      assert(want.nonEmpty, s"no hits for $q")
      assert(bits(seg.search(q, 20)) == want, s"segmented diverged on $q")
      assert(bits(wand.search(q, 20)) == want, s"segmented WAND diverged on $q")
    }

    // compaction purges: snapshot drops tombs, postings/norms shrink
    StreamingIndexer.compact(spark, dir)
    val snap2 = new SnapshotLog(dir, spark).latest().get
    assert(snap2.tombs.isEmpty && snap2.base.isDefined && snap2.segments.isEmpty)
    val base = snap2.base.get
    assert(IndexVerifier.verify(spark, base).isEmpty)
    val purged = new Searcher(spark, base)
    assert(purged.search(Query.Term("person"), 1000).count() == 0)
    assert(purged.stats.max_doc == all.size - dead.size)
    val docmapIds = spark.read.parquet(s"$base/docmap").select("doc_id").as[Long].collect().toSet
    assert(docmapIds.intersect(dead).isEmpty)
    // maxDoc high-water mark is preserved so future appends never reuse ids
    assert(snap2.maxDoc == all.size)
  }

  test("DOCS_AND_FREQS segments: delete-by-term + compaction (no positions payload)") {
    val dir = Files.createTempDirectory("graft_del_nopos").toString
    val all = Transcripts.local(60)
    val cut = all.size / 2
    StreamingIndexer.appendSegment(spark.createDataset(all.take(cut)), dir,
      autoCompact = false, positions = false)
    StreamingIndexer.appendSegment(spark.createDataset(all.drop(cut)), dir,
      autoCompact = false, positions = false)
    StreamingIndexer.deleteByTerm(spark, dir, "person")
    // compaction must re-encode tombstoned runs WITHOUT decoding positions
    // (regression: unpackPositions on an empty pos_bytes crashed here)
    StreamingIndexer.compact(spark, dir)
    val snap = new SnapshotLog(dir, spark).latest().get
    assert(snap.tombs.isEmpty && snap.base.isDefined)
    val base = snap.base.get
    assert(IndexVerifier.verify(spark, base).isEmpty)
    val purged = new Searcher(spark, base)
    assert(purged.search(Query.Term("person"), 1000).count() == 0)
    assert(purged.search(Query.Term("time"), 10).count() > 0)
  }

  test("bulk purge: majority delete-by-hot-term compacts via the shuffled anti-join path") {
    // Same delete applied to two identical indexes; one compaction runs the
    // broadcast-set purge, the other is FORCED onto the bulk anti-join path
    // (broadcastTombMax = 0 — the production trigger is a data-sized delete
    // set that must never be collected to the driver). The two bases must
    // agree exactly.
    val all = Transcripts.local(80)
    val cut = all.size / 2
    def mkIndex(): String = {
      val dir = Files.createTempDirectory("graft_del_bulk").toString
      StreamingIndexer.appendSegment(spark.createDataset(all.take(cut)), dir, autoCompact = false)
      StreamingIndexer.appendSegment(spark.createDataset(all.drop(cut)), dir, autoCompact = false)
      StreamingIndexer.deleteByTerm(spark, dir, "time") // a hot term
      dir
    }
    val dirA = mkIndex()
    val dirB = mkIndex()
    val dead = new SnapshotLog(dirA, spark).latest().get.tombs
      .map(t => spark.read.parquet(t)).reduce(_ unionByName _)
      .select("doc_id").as[Long].collect().toSet
    assert(dead.size * 4 > all.size, s"hot-term delete should be bulk-sized, got ${dead.size}/${all.size}")
    StreamingIndexer.compact(spark, dirA) // broadcast path
    StreamingIndexer.compact(spark, dirB, broadcastTombMax = 0L) // anti-join path
    val baseA = new SnapshotLog(dirA, spark).latest().get.base.get
    val baseB = new SnapshotLog(dirB, spark).latest().get.base.get
    assert(IndexVerifier.verify(spark, baseB).isEmpty)
    val sA = new Searcher(spark, baseA)
    val sB = new Searcher(spark, baseB)
    assert(sB.search(Query.Term("time"), 1000).count() == 0)
    assert(sA.stats == sB.stats)
    for (q <- Seq(Query.Term("person"), Query.Phrase(Seq("year", "way")),
      Query.Bool(must = Seq("person"), should = Seq("world")))) {
      val a = sA.search(q, 50).collect().map(r => (r.getLong(0), r.get(1))).toSeq
      val b = sB.search(q, 50).collect().map(r => (r.getLong(0), r.get(1))).toSeq
      assert(a == b, s"purge-path divergence on $q")
    }
  }

  test("updateDocuments: delete + add publish in one atomic snapshot") {
    val dir = Files.createTempDirectory("graft_upd").toString
    val all = Transcripts.local(40)
    StreamingIndexer.appendSegment(spark.createDataset(all), dir, autoCompact = false)
    val snapBefore = new SnapshotLog(dir, spark).latest().get
    // replacement turns: a fresh conv whose text reuses a queryable marker
    val repl = all.take(2).zipWithIndex.map { case (t, i) =>
      t.copy(conv_id = "zzreplacement", turn_idx = i,
        text = "replacement doc about person time")
    }
    StreamingIndexer.updateDocuments(spark.createDataset(repl), dir, "person")
    val snapAfter = new SnapshotLog(dir, spark).latest().get
    // exactly ONE snapshot advanced: delete + add are atomic
    assert(snapAfter.id == snapBefore.id + 1)
    assert(snapAfter.tombs.nonEmpty && snapAfter.segments.size == snapBefore.segments.size + 1)
    val seg = new SegmentedSearcher(spark, dir)
    val personDocs = seg.search(Query.Term("person"), 1000).collect().map(_.getLong(0)).toSet
    // only the replacement docs (ids at the old high-water mark) match now
    assert(personDocs.nonEmpty && personDocs.forall(_ >= snapBefore.maxDoc))
  }
}
