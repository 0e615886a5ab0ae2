package graft.streaming

import graft.JobNames.named
import graft.build.{IndexBuilder, ManifestStore}
import graft.codec.{PostingCodec, ScoreBlock}
import graft.query.IndexView
import graft.model.{Run, Turn}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import scala.reflect.ClassTag

/** Streaming ingest (axis B) and the write path of every index directory:
  * every micro-batch becomes an immutable index segment, built by the batch
  * builder's single pass ([[IndexBuilder.buildFromTurns]]) and published
  * atomically through the [[SnapshotLog]] — the Structured Streaming
  * realization of Lucene's NRT flow (DocumentsWriter flush ->
  * searchable-after-refresh segment; SURVEY.md §2.11). Doc ids continue
  * from the snapshot's high-water mark batch by batch in arrival order (the
  * reference's behavior: docIDs are arrival-ordered,
  * Lucene.Net/Index/DocumentsWriterPerThread.cs) and follow (conv_id,
  * turn_idx) within a batch; a batch rebuild restores canonical order across
  * batches too — documented mode difference.
  *
  * A batch-built directory is the base of its store: the first append,
  * delete, update or compaction on it commits snapshot 0 with the directory
  * as base, so its deletes are snapshot tombstones like any other and
  * compaction purges them.
  */
object StreamingIndexer {

  /** Number of live segments that triggers a compaction (TieredMergePolicy's
    * segmentsPerTier-like knob,
    * /root/reference/src/Lucene.Net/Index/TieredMergePolicy.cs:82-89).
    */
  final val CompactAt = 10

  /** The store's latest snapshot. A completed batch build with no snapshot
    * yet becomes the base of snapshot 0, whose maxDoc is its max doc_id + 1
    * (from its norms), so appended segments never reuse an id. None for a
    * directory that holds no index yet.
    */
  private def latest(spark: SparkSession, log: SnapshotLog,
                     indexDir: String): Option[SnapshotLog#Snapshot] =
    log.latest().orElse(batchBase(spark, log, indexDir).map(commitBase(log, _)))

  /** Snapshot 0 of a completed batch build with no snapshot yet, not
    * committed; None otherwise.
    */
  private def batchBase(spark: SparkSession, log: SnapshotLog,
                        indexDir: String): Option[SnapshotLog#Snapshot] =
    if (!new ManifestStore(indexDir, spark).isDone("stats")) None
    else {
      import spark.implicits._
      val maxDoc = named(spark, "graft: base doc-id high-water mark") {
        spark.read.parquet(s"$indexDir/norms")
          .agg(coalesce(max("doc_id") + 1, lit(0L))).as[Long].head()
      }
      Some(log.Snapshot(0L, maxDoc, Some(indexDir), Nil))
    }

  private def commitBase(log: SnapshotLog, s: SnapshotLog#Snapshot): SnapshotLog#Snapshot =
    log.commit(s.maxDoc, s.base, s.segments)

  /** Build a new segment's tables (no snapshot commit). Returns
    * (segDir, new high-water maxDoc); None for a batch without turns, whose
    * empty segment is deleted — the build itself tells, with no job of its
    * own.
    */
  private def buildSegment(batch: Dataset[Turn], indexDir: String,
                           snap: Option[SnapshotLog#Snapshot],
                           positions: Boolean = true): Option[(String, Long)] = {
    val spark = batch.sparkSession
    val segDir = s"$indexDir/seg-${snap.map(_.id + 1).getOrElse(0L)}"
    val p = math.max(spark.sessionState.conf.numShufflePartitions / 4, 4)
    // S1 tasks from Spark's size estimate of the batch (an unknown size
    // estimates huge and keeps p); S3 and S4 size themselves from the runs
    val estimate = batch.queryExecution.optimizedPlan.stats.sizeInBytes
      .min(BigInt(Long.MaxValue)).toLong
    val first = snap.map(_.maxDoc).getOrElse(0L)
    val maxDoc = IndexBuilder.buildFromTurns(batch, segDir,
      IndexBuilder.Options(numPartitions = p,
        segmentPartitions = IndexBuilder.segmentTasks(estimate, p), positions = positions),
      firstDoc = first)
    if (maxDoc > first) Some((segDir, maxDoc))
    else {
      val path = new Path(segDir)
      path.getFileSystem(spark.sessionState.newHadoopConf()).delete(path, true)
      None
    }
  }

  /** Append one batch of turns as a new segment and commit a snapshot; a
    * batch without turns commits nothing and leaves no segment directory.
    * `positions` selects the segment's IndexOptions verbosity
    * (DOCS_AND_FREQS when false — BM25-only streaming indexes skip the
    * positions payload; deletes/compaction handle both).
    */
  def appendSegment(batch: Dataset[Turn], indexDir: String,
                    autoCompact: Boolean = true,
                    positions: Boolean = true): Unit = {
    val spark = batch.sparkSession
    val log = new SnapshotLog(indexDir, spark)
    // a batch-built base's snapshot 0 commits only with a segment, so an
    // empty batch commits nothing
    val committed = log.latest()
    val snap = committed.orElse(batchBase(spark, log, indexDir))
    buildSegment(batch, indexDir, snap, positions).foreach { case (segDir, maxDoc) =>
      if (committed.isEmpty) snap.foreach(commitBase(log, _))
      val newSegs = snap.map(_.segments).getOrElse(Nil) :+ segDir
      log.commit(maxDoc, snap.flatMap(_.base), newSegs, snap.map(_.tombs).getOrElse(Nil))
      if (autoCompact && newSegs.size >= CompactAt) compact(spark, indexDir)
    }
  }

  /** Atomic update: delete every doc matching `term`, add the replacement
    * batch, publish BOTH in ONE snapshot commit — readers never observe the
    * delete without the add (IndexWriter.UpdateDocuments semantics,
    * /root/reference/src/Lucene.Net/Index/IndexWriter.cs:1751).
    */
  def updateDocuments(batch: Dataset[Turn], indexDir: String, term: String): Unit = {
    val spark = batch.sparkSession
    val log = new SnapshotLog(indexDir, spark)
    val snap = latest(spark, log, indexDir).getOrElse {
      appendSegment(batch, indexDir); return
    }
    val tomb = tombstoneTerm(spark, indexDir, snap, term)
    val tombs = snap.tombs ++ tomb
    buildSegment(batch, indexDir, Some(snap)) match {
      case Some((segDir, maxDoc)) => log.commit(maxDoc, snap.base, snap.segments :+ segDir, tombs)
      // an empty batch: the update is a delete
      case None => if (tomb.isDefined) log.commit(snap.maxDoc, snap.base, snap.segments, tombs)
    }
  }

  /** Write the docs of `snap` holding `term` — resolved across base +
    * segments through one [[IndexView]] — as the next snapshot's tombstone
    * table, fully distributed (dead docs stream straight into the table).
    * Returns its path; None when no doc holds the term.
    */
  private def tombstoneTerm(spark: SparkSession, indexDir: String,
                            snap: SnapshotLog#Snapshot, term: String): Option[String] = {
    import spark.implicits._
    val view = IndexView.of(spark, snap)
    val ts = view.lookup(Seq(term))
    ts.rows.get(term).map { d =>
      val tombDir = s"$indexDir/tomb-${snap.id + 1}"
      named(spark, "graft: write tombstones") {
        view.blocks(ts, Seq(d.term_id), ScoreBlock.cols).as[ScoreBlock]
          .flatMap(b => PostingCodec.decode(b)._1.iterator)
          .toDF("doc_id")
          .write.mode("overwrite").parquet(tombDir)
      }
      tombDir
    }
  }

  /** Buffer deletions: dead doc_ids become a tombstone table referenced by
    * the next snapshot; queries anti-join them and compact() purges them
    * (IndexWriter.DeleteDocuments semantics,
    * /root/reference/src/Lucene.Net/Index/IndexWriter.cs:1693; buffered state
    * BufferedUpdates.cs:38).
    */
  def deleteDocs(spark: SparkSession, indexDir: String, docIds: Seq[Long]): Unit = {
    import spark.implicits._
    if (docIds.isEmpty) return
    val log = new SnapshotLog(indexDir, spark)
    val snap = latest(spark, log, indexDir).getOrElse(
      throw new IllegalStateException("deleteDocs on an empty index"))
    val tombDir = s"$indexDir/tomb-${snap.id + 1}"
    named(spark, "graft: write tombstones") {
      docIds.toDF("doc_id").write.mode("overwrite").parquet(tombDir)
    }
    log.commit(snap.maxDoc, snap.base, snap.segments, snap.tombs :+ tombDir)
  }

  /** Delete-by-term (IndexWriter.DeleteDocuments(Term),
    * /root/reference/src/Lucene.Net/Index/IndexWriter.cs:1693): resolve the
    * term's postings across base + segments, tombstone every matching doc.
    */
  def deleteByTerm(spark: SparkSession, indexDir: String, term: String): Unit = {
    val log = new SnapshotLog(indexDir, spark)
    val snap = latest(spark, log, indexDir).getOrElse(return)
    tombstoneTerm(spark, indexDir, snap, term).foreach { tombDir =>
      log.commit(snap.maxDoc, snap.base, snap.segments, snap.tombs :+ tombDir)
    }
  }

  /** One exploded posting in flight through the bulk purge shuffle. `pos`
    * (absolute positions), `pay` (payload segment) and `off` (offset
    * segment) are null when the run's IndexOptions level omits them —
    * all-or-none within a run.
    */
  final case class PurgedPosting(term: String, run_key: Long,
                                         doc_id: Long, tf: Int, nb: Byte,
                                         pos: Array[Int], pay: Array[Byte],
                                         off: Array[Byte])

  /** A run's postings, decoded. `pos`, `pay` and `off` are null when the
    * run's IndexOptions level omits them (DOCS_AND_FREQS runs carry no
    * positions payload, mirroring the mergeRuns hasPos handling).
    */
  private final case class Postings(docs: Array[Long], tfs: Array[Int], norms: Array[Byte],
                                    pos: Array[Array[Int]], pay: Array[Array[Byte]],
                                    off: Array[Array[Byte]]) {
    /** The postings at `keep` (ascending indices) re-encoded as one run row. */
    def encode(pid: Int, term: String, keep: Array[Int]): Run = {
      def pick[A: ClassTag](a: Array[A]): Array[A] = if (a == null) null else keep.map(a(_))
      IndexBuilder.encodeRunRow(pid, term, pick(docs), pick(tfs), pick(norms),
        pick(pos), pick(pay), pick(off))
    }
  }

  private def postingsOf(r: Run): Postings = {
    val (docs, tfs, norms) = IndexBuilder.decodeRun(r)
    Postings(docs, tfs, norms,
      if (r.pos_bytes.nonEmpty) PostingCodec.unpackPositions(r.pos_bytes, tfs) else null,
      if (r.pay_bytes.nonEmpty) PostingCodec.splitPaySegments(r.pay_bytes, tfs) else null,
      if (r.off_bytes.nonEmpty) PostingCodec.splitOffSegments(r.off_bytes, tfs) else null)
  }

  /** Bulk tombstone purge: runs -> per-posting rows -> anti-join the
    * (data-sized) tombstone table on doc_id -> regroup per original run and
    * re-encode. Every step is a keyed shuffle; the delete set never reaches
    * the driver. Groups are original posting runs (block-sized), so
    * per-group memory stays bounded; (term, original first_doc) keys a run
    * uniquely because segment doc spaces are disjoint.
    */
  private def purgeBulk(spark: SparkSession, runs: DataFrame,
                        tombs: DataFrame): Dataset[Run] = {
    import spark.implicits._
    def at[A >: Null](a: Array[A], i: Int): A = if (a == null) null else a(i)
    val exploded = runs.as[Run].flatMap { r =>
      val p = postingsOf(r)
      p.docs.indices.iterator.map { i =>
        PurgedPosting(r.term, r.first_doc, p.docs(i), p.tfs(i), p.norms(i),
          at(p.pos, i), at(p.pay, i), at(p.off, i))
      }
    }
    exploded
      .join(tombs.select("doc_id"), Seq("doc_id"), "left_anti")
      .as[PurgedPosting]
      .groupByKey(p => (p.term, p.run_key))
      .mapGroups { (key: (String, Long), it: Iterator[PurgedPosting]) =>
        val rows = it.toArray.sortBy(_.doc_id)
        def opt[A >: Null: ClassTag](f: PurgedPosting => A): Array[A] =
          if (f(rows.head) == null) null else rows.map(f)
        Postings(rows.map(_.doc_id), rows.map(_.tf), rows.map(_.nb),
          opt(_.pos), opt(_.pay), opt(_.off)).encode(-1, key._1, rows.indices.toArray)
      }
  }

  /** Merge base + all segments into a fresh base snapshot (SegmentMerger +
    * TieredMergePolicy analog): every segment's postings rows ARE doc-sorted
    * disjoint-range runs per term, so they re-enter the batch builder's
    * sort-merge (S4) unchanged; the snapshot pointer flips atomically at the
    * end and old segment dirs stay readable for in-flight queries.
    */
  def compact(spark: SparkSession, indexDir: String,
              broadcastTombMax: Long = 500000L): Unit = {
    import spark.implicits._
    val log = new SnapshotLog(indexDir, spark)
    val snap = latest(spark, log, indexDir).getOrElse(return)
    // nothing to fold in and nothing to purge -> no-op (a bare base is
    // already compact, and an empty snapshot must not reach the reduce below)
    if (snap.segments.isEmpty && snap.tombs.isEmpty) return
    // the build stages of the new base carry their own `graft: build` names
    named(spark, "graft: compact") {
    val parts = snap.base.toSeq ++ snap.segments
    val newBase = s"$indexDir/base-${snap.id + 1}"
    // Tombstone purge (LiveDocsFormat -> SegmentMerger drop-deleted
    // semantics), TWO distribution strategies switched on the delete-set
    // size: trickle deletes (bounded by the delete rate per compaction
    // interval) broadcast a set and each run re-encodes locally; BULK
    // deletes (delete-by-hot-term, GDPR-style source purges — data-sized,
    // nothing the driver may hold) take a fully shuffled path: explode runs
    // to postings, anti-join the tombstone table on doc_id, regroup per
    // original run. The shuffle is one pass over the index — the floor for
    // any purge that rewrites a data-sized fraction of it.
    val tombDf: Option[DataFrame] =
      if (snap.tombs.isEmpty) None
      else Some(snap.tombs.map(t => spark.read.parquet(t)).reduce(_ unionByName _)
        .select("doc_id").distinct()
        // persisted: the distinct set feeds the size probe below plus up to
        // three anti-joins (runs purge, norms, docmap) — without it each
        // consumer recomputes the union+distinct shuffle
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val tombCount = tombDf.map(_.count()).getOrElse(0L)
    val tombSet =
      if (tombCount > broadcastTombMax) None
      else tombDf.map(df => spark.sparkContext.broadcast(df.as[Long].collect().toSet))
    // postings (term_id) -> Run rows (term): reverse the per-segment dict
    val runs: DataFrame = parts.map { dir =>
      val dict = spark.read.parquet(s"$dir/termdict").select("term", "term_id")
      IndexBuilder.ensurePay(spark.read.parquet(s"$dir/postings"))
        .join(dict, "term_id")
        .select(lit(-1).as("pid"), col("term"), col("first_doc"), col("last_doc"), col("cnt"),
          // sum_tf per run only feeds the termdict agg; recompute from blocks
          lit(0L).as("sum_tf"), col("max_tf"), col("max_nb"),
          col("doc_bytes"), col("tf_bytes"), col("norm_bytes"), col("pos_bytes"),
          col("pay_bytes"), col("off_bytes"))
    }.reduce(_ unionByName _)
    // recompute per-run sum_tf (needed for ttf) by decoding tf cells; when
    // tombstones exist, drop dead postings and re-encode (the purge)
    val fixed: Dataset[Run] =
      if (tombDf.isDefined && tombSet.isEmpty) purgeBulk(spark, runs, tombDf.get)
      else runs.as[Run].flatMap { r =>
        tombSet match {
          case None =>
            val tfs = graft.codec.ForCodec.unpack(r.tf_bytes)
            Iterator.single(r.copy(sum_tf = tfs.sum))
          case Some(dead) =>
            val p = postingsOf(r)
            val keep = p.docs.indices.filter(i => !dead.value.contains(p.docs(i))).toArray
            if (keep.isEmpty) Iterator.empty
            else Iterator.single(p.encode(r.pid, r.term, keep))
        }
      }
    fixed.write.mode("overwrite").parquet(s"$newBase/runs")
    def purged(df: DataFrame): DataFrame =
      tombDf.map(t => df.join(t, Seq("doc_id"), "left_anti")).getOrElse(df)
    // norms: concatenate (doc spaces are disjoint), minus buried docs
    purged(parts.map(d => spark.read.parquet(s"$d/norms")).reduce(_ unionByName _))
      .write.mode("overwrite").parquet(s"$newBase/norms")
    val manifest = new ManifestStore(newBase, spark)
    // a build(DataFrame) base has no docmap: the new base keeps one only
    // when every part has one, so it always covers the norms' doc space
    val docmaps = parts.map(d => new Path(s"$d/docmap"))
    if (docmaps.forall(p => p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p))) {
      purged(docmaps.map(p => spark.read.parquet(p.toString)).reduce(_ unionByName _))
        .write.mode("overwrite").parquet(s"$newBase/docmap")
      manifest.commit("docmap", -1L, 0L, Some(s"$newBase/docmap"))
    }
    manifest.commit("runs", -1L, 0L, Some(s"$newBase/runs"))
    manifest.commit("norms", -1L, 0L, Some(s"$newBase/norms"))
    tombDf.foreach(_.unpersist(blocking = false))
    IndexBuilder.buildFromRuns(newBase, IndexBuilder.Options(),
      IndexBuilder.runCounts(spark, newBase))
    manifest.dropOutput("runs")
    log.commit(snap.maxDoc, Some(newBase), Nil)
    IndexView.release(parts)
    } // named
  }

  /** Wire a streaming Dataset[Turn] into segment appends. Watermark bounds
    * late turns; each micro-batch commits one segment.
    */
  def writer(turns: Dataset[Turn], indexDir: String, checkpoint: String,
             watermarkDelay: String = "1 hour"): DataStreamWriter[Turn] = {
    import turns.sparkSession.implicits._
    turns
      .withWatermark("ts", watermarkDelay)
      .as[Turn]
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[Turn], _: Long) =>
        appendSegment(batch, indexDir)
      }
  }
}
