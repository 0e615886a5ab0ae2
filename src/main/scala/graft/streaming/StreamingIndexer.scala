package graft.streaming

import graft.build.{IndexBuilder, StableIds}
import graft.codec.{PostingCodec, ScoreBlock}
import graft.query.IndexView
import graft.model.Turn
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** Streaming ingest (axis B): every micro-batch becomes an immutable index
  * segment, published atomically through the [[SnapshotLog]] — the Structured
  * Streaming realization of Lucene's NRT flow (DocumentsWriter flush ->
  * searchable-after-refresh segment; SURVEY.md §2.11). Doc ids are assigned
  * per batch in arrival order from the snapshot's high-water mark (the
  * reference's behavior: docIDs are arrival-ordered,
  * /root/reference/src/Lucene.Net/Index/DocumentsWriterPerThread.cs); a batch
  * rebuild restores canonical (conv_id, turn_idx) order — documented mode
  * difference.
  */
object StreamingIndexer {

  /** Number of live segments that triggers a compaction (TieredMergePolicy's
    * segmentsPerTier-like knob,
    * /root/reference/src/Lucene.Net/Index/TieredMergePolicy.cs:82-89).
    */
  final val CompactAt = 10

  /** Build a new segment's tables (no snapshot commit). Returns
    * (segDir, new high-water maxDoc).
    */
  private def buildSegment(batch: Dataset[Turn], indexDir: String,
                           snap: Option[SnapshotLog#Snapshot],
                           positions: Boolean = true): (String, Long) = {
    val spark = batch.sparkSession
    val base = snap.map(_.maxDoc).getOrElse(0L)
    val segId = snap.map(_.id + 1).getOrElse(0L)
    val segDir = s"$indexDir/seg-$segId"
    val p = math.max(spark.sessionState.conf.numShufflePartitions / 4, 4)
    // within-batch stable order, offset by the global high-water mark
    val withIds = StableIds.attach(
      batch.toDF().select(col("conv_id"), col("turn_idx"), col("text")),
      Seq(col("conv_id"), col("turn_idx")), "seg_doc", p)
      .withColumn("doc_id", col("seg_doc") + lit(base))
    withIds.select("doc_id", "conv_id", "turn_idx")
      .write.mode("overwrite").parquet(s"$segDir/docmap")
    val maxDoc = base + withIds.count()
    IndexBuilder.build(withIds.select("doc_id", "text"), segDir,
      IndexBuilder.Options(numPartitions = p, positions = positions))
    withIds.unpersist(blocking = false)
    (segDir, maxDoc)
  }

  /** Append one batch of turns as a new segment and commit a snapshot.
    * `positions` selects the segment's IndexOptions verbosity
    * (DOCS_AND_FREQS when false — BM25-only streaming indexes skip the
    * positions payload; deletes/compaction handle both).
    */
  def appendSegment(batch: Dataset[Turn], indexDir: String,
                    autoCompact: Boolean = true,
                    positions: Boolean = true): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    val log = new SnapshotLog(indexDir, spark)
    val snap = log.latest()
    val (segDir, maxDoc) = buildSegment(batch, indexDir, snap, positions)
    val newSegs = snap.map(_.segments).getOrElse(Nil) :+ segDir
    log.commit(maxDoc, snap.flatMap(_.base), newSegs, snap.map(_.tombs).getOrElse(Nil))
    if (autoCompact && newSegs.size >= CompactAt) compact(spark, indexDir)
  }

  /** Atomic update: delete every doc matching `term`, add the replacement
    * batch, publish BOTH in ONE snapshot commit — readers never observe the
    * delete without the add (IndexWriter.UpdateDocuments semantics,
    * /root/reference/src/Lucene.Net/Index/IndexWriter.cs:1751).
    */
  def updateDocuments(batch: Dataset[Turn], indexDir: String, term: String): Unit = {
    val spark = batch.sparkSession
    if (batch.isEmpty) { deleteByTerm(spark, indexDir, term); return }
    val log = new SnapshotLog(indexDir, spark)
    val snap = log.latest().getOrElse {
      appendSegment(batch, indexDir); return
    }
    val tombs = snap.tombs ++ tombstoneTerm(spark, indexDir, snap, term)
    val (segDir, maxDoc) = buildSegment(batch, indexDir, Some(snap))
    log.commit(maxDoc, snap.base, snap.segments :+ segDir, tombs)
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
      view.blocks(ts, Seq(d.term_id), ScoreBlock.cols).as[ScoreBlock]
        .flatMap(b => PostingCodec.decode(b)._1.iterator)
        .toDF("doc_id")
        .write.mode("overwrite").parquet(tombDir)
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
    val snap = log.latest().getOrElse(
      throw new IllegalStateException("deleteDocs on an empty index"))
    val tombDir = s"$indexDir/tomb-${snap.id + 1}"
    docIds.toDF("doc_id").write.mode("overwrite").parquet(tombDir)
    log.commit(snap.maxDoc, snap.base, snap.segments, snap.tombs :+ tombDir)
  }

  /** Delete-by-term (IndexWriter.DeleteDocuments(Term),
    * /root/reference/src/Lucene.Net/Index/IndexWriter.cs:1693): resolve the
    * term's postings across base + segments, tombstone every matching doc.
    */
  def deleteByTerm(spark: SparkSession, indexDir: String, term: String): Unit = {
    val log = new SnapshotLog(indexDir, spark)
    val snap = log.latest().getOrElse(return)
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

  /** Bulk tombstone purge: runs -> per-posting rows -> anti-join the
    * (data-sized) tombstone table on doc_id -> regroup per original run and
    * re-encode. Every step is a keyed shuffle; the delete set never reaches
    * the driver. Groups are original posting runs (block-sized), so
    * per-group memory stays bounded; (term, original first_doc) keys a run
    * uniquely because segment doc spaces are disjoint.
    */
  private def purgeBulk(spark: SparkSession, runs: DataFrame,
                        tombs: DataFrame): Dataset[graft.model.Run] = {
    import spark.implicits._
    val exploded = runs.as[graft.model.Run].flatMap { r =>
      val (docs, tfs, norms) = IndexBuilder.decodeRun(r)
      val hasPos = r.pos_bytes.nonEmpty
      val poss =
        if (hasPos) graft.codec.PostingCodec.unpackPositions(r.pos_bytes, tfs)
        else null
      val hasPay = r.pay_bytes.nonEmpty
      val pays =
        if (hasPay) graft.codec.PostingCodec.splitPaySegments(r.pay_bytes, tfs)
        else null
      val hasOff = r.off_bytes.nonEmpty
      val offs =
        if (hasOff) graft.codec.PostingCodec.splitOffSegments(r.off_bytes, tfs)
        else null
      docs.indices.iterator.map { i =>
        PurgedPosting(r.term, r.first_doc, docs(i), tfs(i), norms(i),
          if (hasPos) poss(i) else null,
          if (hasPay) pays(i) else null,
          if (hasOff) offs(i) else null)
      }
    }
    exploded
      .join(tombs.select("doc_id"), Seq("doc_id"), "left_anti")
      .as[PurgedPosting]
      .groupByKey(p => (p.term, p.run_key))
      .mapGroups { (key: (String, Long), it: Iterator[PurgedPosting]) =>
        val term = key._1
        val rows = it.toArray.sortBy(_.doc_id)
        val hasPos = rows.head.pos != null
        val hasPay = rows.head.pay != null
        val hasOff = rows.head.off != null
        IndexBuilder.encodeRunRow(-1, term,
          rows.map(_.doc_id), rows.map(_.tf), rows.map(_.nb),
          if (hasPos) rows.map(_.pos) else null,
          if (hasPay) rows.map(_.pay) else null,
          if (hasOff) rows.map(_.off) else null)
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
    val snap = log.latest().getOrElse(return)
    // nothing to fold in and nothing to purge -> no-op (a bare base is
    // already compact, and an empty snapshot must not reach the reduce below)
    if (snap.segments.isEmpty && snap.tombs.isEmpty) return
    val parts = snap.base.toSeq ++ snap.segments
    val newBase = s"$indexDir/base-${snap.id + 1}"
    // Tombstone purge (LiveDocsFormat -> SegmentMerger drop-deleted
    // semantics), TWO distribution strategies switched on the delete-set
    // size: trickle deletes (bounded by the delete rate per compaction
    // interval) broadcast a set and each run re-encodes locally; BULK
    // deletes (delete-by-hot-term, GDPR-style source purges — data-sized,
    // nothing the driver may hold) take a fully shuffled path: explode runs
    // to postings, anti-join the tombstone table on doc_id (the same join
    // the query-time liveDocs path uses), regroup per original run. The
    // shuffle is one pass over the index — the floor for any purge that
    // rewrites a data-sized fraction of it.
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
      val postings0 = spark.read.parquet(s"$dir/postings")
      val postings1 = // segments written before the payloads column read payload-less
        if (postings0.columns.contains("pay_bytes")) postings0
        else postings0.withColumn("pay_bytes", lit(Array.emptyByteArray))
      val postings = // ... and before the offsets column, offset-less
        if (postings1.columns.contains("off_bytes")) postings1
        else postings1.withColumn("off_bytes", lit(Array.emptyByteArray))
      postings
        .join(dict, "term_id")
        .select(lit(-1).as("pid"), col("term"), col("first_doc"), col("last_doc"), col("cnt"),
          // sum_tf per run only feeds the termdict agg; recompute from blocks
          lit(0L).as("sum_tf"), col("max_tf"), col("max_nb"),
          col("doc_bytes"), col("tf_bytes"), col("norm_bytes"), col("pos_bytes"),
          col("pay_bytes"), col("off_bytes"))
    }.reduce(_ unionByName _)
    // recompute per-run sum_tf (needed for ttf) by decoding tf cells; when
    // tombstones exist, drop dead postings and re-encode (the purge)
    val fixed: Dataset[graft.model.Run] =
      if (tombDf.isDefined && tombSet.isEmpty) purgeBulk(spark, runs, tombDf.get)
      else runs.as[graft.model.Run].flatMap { r =>
        tombSet match {
          case None =>
            val tfs = graft.codec.ForCodec.unpack(r.tf_bytes)
            Iterator.single(r.copy(sum_tf = tfs.sum))
          case Some(dead) =>
            val (docs, tfs, norms) = IndexBuilder.decodeRun(r)
            // DOCS_AND_FREQS runs carry no positions payload (mirror the
            // mergeRuns hasPos handling): decode/re-encode positions only
            // when present, else pass null through.
            val hasPos = r.pos_bytes.nonEmpty
            val poss =
              if (hasPos) graft.codec.PostingCodec.unpackPositions(r.pos_bytes, tfs)
              else null
            val hasPay = r.pay_bytes.nonEmpty
            val pays =
              if (hasPay) graft.codec.PostingCodec.splitPaySegments(r.pay_bytes, tfs)
              else null
            val hasOff = r.off_bytes.nonEmpty
            val offs =
              if (hasOff) graft.codec.PostingCodec.splitOffSegments(r.off_bytes, tfs)
              else null
            val keep = docs.indices.filter(i => !dead.value.contains(docs(i)))
            if (keep.isEmpty) Iterator.empty
            else Iterator.single(IndexBuilder.encodeRunRow(r.pid, r.term,
              keep.map(docs).toArray, keep.map(tfs).toArray,
              keep.map(norms).toArray, if (hasPos) keep.map(poss).toArray else null,
              if (hasPay) keep.map(pays).toArray else null,
              if (hasOff) keep.map(offs).toArray else null))
        }
      }
    fixed.write.mode("overwrite").parquet(s"$newBase/runs")
    def purged(df: DataFrame): DataFrame =
      tombDf.map(t => df.join(t, Seq("doc_id"), "left_anti")).getOrElse(df)
    // norms: concatenate (doc spaces are disjoint), minus buried docs
    purged(parts.map(d => spark.read.parquet(s"$d/norms")).reduce(_ unionByName _))
      .write.mode("overwrite").parquet(s"$newBase/norms")
    purged(parts.map(d => spark.read.parquet(s"$d/docmap")).reduce(_ unionByName _))
      .write.mode("overwrite").parquet(s"$newBase/docmap")
    val manifest = new graft.build.ManifestStore(newBase, spark)
    manifest.commit("docmap", -1L, 0L, Some(s"$newBase/docmap"))
    manifest.commit("runs", -1L, 0L, Some(s"$newBase/runs"))
    manifest.commit("norms", -1L, 0L, Some(s"$newBase/norms"))
    tombDf.foreach(_.unpersist(blocking = false))
    IndexBuilder.buildFromRuns(newBase, IndexBuilder.Options())
    log.commit(snap.maxDoc, Some(newBase), Nil)
    IndexView.release(spark, parts)
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
