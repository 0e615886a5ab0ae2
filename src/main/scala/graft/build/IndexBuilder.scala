package graft.build

import graft.analysis.{Analyzer, TextAnalyzer}
import graft.JobNames.named
import graft.codec.{ForCodec, PostingCodec, PostingBlock, SmallFloat}
import graft.model._
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Batch inverted-index build: the Spark-native realization of the reference
  * write path (IndexWriter -> DWPT flush -> SegmentMerger -> commit,
  * SURVEY.md §3.2), all in Dataset/DataFrame ops:
  *
  *  S1 `runs`     docs range-partitioned by doc_id; each task tokenizes its
  *                doc range and emits one compressed posting run per term
  *                (the DWPT-flush analog; hot Zipfian terms are implicitly
  *                sharded across doc-range partitions, which is what defeats
  *                build-side skew — every partition contributes at most its
  *                own doc-range share of a hot term).
  *  S2 `norms`    per-doc emitted-token counts + lossy norm bytes, decoded
  *                from S1's per-partition norms pseudo-runs (no 2nd tokenize).
  *  S3 `termdict` term -> (dense term_id by ascending term, df, ttf).
  *  S4 `postings` runs + term_id, range-repartitioned by (term_id, first_doc),
  *                sort-merged and re-blocked into 128-doc FOR blocks — the
  *                SegmentMerger analog. Output files are term_id-sorted so
  *                Parquet row-group min/max stats act as the term index.
  *  S5 `stats`    collection statistics.
  *
  * Every stage commits to the ManifestStore; completed stages are skipped on
  * re-run (resume mid-merge).
  */
object IndexBuilder {

  /** Pseudo-term carrying per-partition (doc_id, len) runs so norms don't need
    * a second tokenization pass. Sorts before any real term; filtered out of
    * termdict/postings.
    */
  val NormsKey = "\u0000norms"

  /** Pseudo-term carrying the per-partition (conv_id, turn_idx) payloads the
    * docmap is decoded from - emitted in the SAME single pass as the posting
    * runs, so the docmap/doc-id correspondence is consistent by construction
    * (no reliance on two queries resampling identical range boundaries).
    * Payload lives in norm_bytes as DataOutputStream(writeUTF, writeInt)*cnt.
    */
  val DocmapKey = "\u0001docmap"

  /** Real terms sort at or above this (the analyzer never emits control
    * chars); everything below is a pseudo-run.
    */
  val PseudoMax = "\u0002"

  /** Max postings per run row. Splitting hot-term runs into uniform chunks is
    * what makes the S4 range partitioning balance by posting mass (a Zipf-hot
    * term becomes many equal rows the range partitioner spreads across
    * partitions) and bounds row sizes at 10^12-doc scale.
    */
  val RunMaxPostings = 8192

  /** Positional-mass cap per run row (total positions across the chunk).
    * Posting-count-uniform chunks are cost-uniform only at DOCS_AND_FREQS:
    * with positions on, a chunk's S4 merge cost is dominated by its
    * positional payload (sum tf), which varies by an order of magnitude
    * between tf~1 terms and dense conversational terms — the 40M-turn
    * rehearsal measured a 91x worst-stage max/median task skew on the
    * positional build where the docs+freqs builds read 3-12x (BASELINE.md
    * sf1 finding 2). Splitting on EITHER cap keeps row cost uniform, so the
    * S4 row-balanced range cuts balance positional byte mass too. Cap = 1x
    * RunMaxPostings (binds once avg tf > 1): A/B'd against 4x on the same
    * 40M corpus — merge-stage max task 44.1 -> 34.1 s (quiet window) and
    * 81.8 -> 47.1 s (loaded window) for identical wall (161.0 vs 161.3 s
    * quiet), because tf-dense rows split ~4x finer and the range cuts
    * spread them; tf<=1 terms chunk identically under either value.
    */
  val RunMaxPositions = 1 * RunMaxPostings

  /** Split size for re-reading the `runs` table in S2-S4. Runs rows are
    * blob-dense, so the 128 MB default yields a handful of fat splits and
    * every single-pass downstream stage (norms/termdict/docmap decode, the
    * S4 map side) quantizes to a fraction of the worker slots. 32 MB keeps
    * those stages wave-balanced at ANY worker count — split sizing is
    * data-driven, identical at every parallelism level, and still yields
    * multi-second tasks (a 100 TB run table => ~3M splits across a
    * 1000-executor cluster, comfortably amortized).
    */
  val RunSplitBytes: Long = 32L << 20

  /** Input bytes per task of the stages sized by their data: S1 of a stream
    * segment (Spark's size estimate of the batch), S3's dictionary ids and
    * S4's range cuts (the bytes of the committed `runs` files). Each stage
    * keeps its core-count partition count as a cap, so a large build is
    * unchanged and a small append runs one task per stage. The estimate of
    * an in-memory batch is about 100 bytes a turn whatever its text length
    * (a row count: 2 MB is about 20,000 turns), and of a file source its
    * on-disk bytes. The measurements behind each value are in BASELINE.md,
    * "small appends, this host".
    */
  val SegmentBytesPerTask: Long = 2L << 20
  val DictBytesPerTask: Long = 4L << 20
  val MergeBytesPerCut: Long = 48L << 10

  /** Tasks for a stage that reads `bytes`: one per `perTask` bytes, at least
    * one and at most `today`, the stage's core-count rule.
    */
  def sizedTasks(bytes: Long, perTask: Long, today: Int): Int =
    math.max(1L, math.min(today.toLong,
      bytes / perTask + (if (bytes % perTask > 0) 1 else 0))).toInt

  /** S1 tokenize tasks of a stream segment whose batch Spark estimates at
    * `batchBytes`; today's count is the segment build's `p`.
    */
  def segmentTasks(batchBytes: Long, p: Int): Int =
    sizedTasks(batchBytes, SegmentBytesPerTask, p)

  /** S3 dictionary-id partitions over `runsBytes` of runs; today's count is
    * max(p / 4, 8).
    */
  def dictPartitions(runsBytes: Long, p: Int): Int =
    sizedTasks(runsBytes, DictBytesPerTask, math.max(p / 4, 8))

  /** S4 range cuts (postings files) over `runsBytes` of runs; today's count
    * is 8p for a positional build and 4p otherwise (see S4).
    */
  def mergeCuts(runsBytes: Long, p: Int, positions: Boolean): Int =
    sizedTasks(runsBytes, MergeBytesPerCut, (if (positions) 8 else 4) * p)

  final case class Options(
      numPartitions: Int = 0, // 0 = spark.sql.shuffle.partitions
      // Segment granularity for the id-assign + tokenize pass (S0/S1). At
      // cluster scale this must be DATA-size-driven (a fixed ~docs-per-segment
      // target), not parallelism-driven: each extra segment re-emits a run row
      // for every distinct term it contains, so tying segment count to cores
      // multiplies the run table superlinearly with cluster size. A stream
      // segment sets it from its batch's size estimate (`segmentTasks`), so a
      // small append tokenizes in one task. 0 = fall back to numPartitions.
      segmentPartitions: Int = 0,
      // Analysis chain for tokenization (StandardAnalyzer-equivalent by
      // default; e.g. graft.analysis.EnglishAnalyzer for stemmed indexes).
      analyzer: TextAnalyzer = Analyzer,
      // IndexOptions verbosity (reference per-field knob,
      // /root/reference/src/Lucene.Net/Index/FieldInfo.cs:315-355):
      // true  = DOCS_AND_FREQS_AND_POSITIONS (phrase/span/multi-passage
      //         highlighting supported; ~1 varint byte per occurrence),
      // false = DOCS_AND_FREQS (BM25 top-k only; positional queries on such
      //         an index raise a clear error).
      positions: Boolean = true,
      // Per-position PAYLOADS (DelimitedPayloadTokenFilter semantics,
      // /root/reference/src/Lucene.Net.Analysis.Common/Analysis/Payloads/
      // DelimitedPayloadTokenFilter.cs + FloatEncoder): tokens of the form
      // "term|1.5" index the part before the LAST '|' as the term and the
      // part after as a 4-byte float payload (PayloadHelper.EncodeSingle
      // byte order); tokens without the delimiter carry no payload. Pair
      // with a whitespace-preserving analyzer (WhitespaceAnalyzer) — the
      // standard chain would split at the '|'. Off by default: the payload
      // branch never executes on the ingest hot path.
      payloads: Boolean = false,
      // Per-position CHARACTER OFFSETS — the 4th IndexOptions rung
      // (DOCS_AND_FREQS_AND_POSITIONS_AND_OFFSETS, reference
      // FieldInfo.cs:315-355): each occurrence stores (startChar, endChar)
      // into the ORIGINAL text, enabling offsets-driven highlighting with
      // no re-analysis. Requires positions = true and an analyzer that
      // tracks spans (TextAnalyzer.tokenSpans). Own pruned Parquet column;
      // off by default — the branch never executes on the ingest hot path.
      offsets: Boolean = false)

  /** Run `body` with build-scoped SQL confs (split size + range-exchange
    * sample size), restoring the caller's values after. Nested scopes restore
    * pairwise, so the concurrent docmap future and buildFromRuns compose.
    */
  private def withBuildConfs[A](spark: SparkSession)(body: => A): A = {
    val conf = spark.conf
    val keys = Seq(
      // See RunSplitBytes.
      "spark.sql.files.maxPartitionBytes" -> RunSplitBytes.toString,
      // S4's range boundaries must cut the run table into EQUAL posting-mass
      // partitions (rows are posting-count-uniform by RunMaxPostings
      // chunking, so row balance == byte balance). The 100-row/partition
      // default sketch over a handful of fat splits leaves boundary noise
      // that shows up as a 2-3x straggler on the merge reducers; a 2000-row
      // reservoir per input split is still metadata-sized and makes the cuts
      // tight at any scale.
      "spark.sql.execution.rangeExchange.sampleSizePerPartition" -> "2000")
    val saved = keys.map { case (k, _) => k -> conf.getOption(k) }
    keys.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  /** Entry point for the transcripts north star: ONE pass over the text.
    *
    * The doc-id trick that makes this single-pass (and the key divergence
    * from a naive two-pass id-assign-then-tokenize): runs are delta-encoded,
    * so every doc id inside a run shifts by a constant when the run's
    * partition is offset — the gap cells are shift-invariant. Each task
    * therefore tokenizes its range-partition with PARTITION-LOCAL doc ids
    * (0..n_p-1) and tags rows with its pid; the global dense id of a doc is
    * `offset(pid) + local`, where offsets are the prefix sums of the
    * per-partition doc counts — recoverable afterwards from the norms
    * pseudo-runs with one tiny aggregation. Only `first_doc`/`last_doc`
    * columns are fixed up downstream; no run is re-encoded and the corpus
    * text is shuffled exactly once.
    *
    * `docmap` is decoded from [[DocmapKey]] pseudo-runs emitted in the same
    * pass, so the docmap/doc-id correspondence never depends on re-running
    * (and re-sampling) the range shuffle.
    *
    * Doc ids start at `firstDoc`: a streaming segment continues its store's
    * id space from the snapshot's high-water mark. Returns the next free doc
    * id (`firstDoc` + the number of turns).
    */
  def buildFromTurns(turns: Dataset[Turn], outDir: String,
                     opts: Options = Options(), firstDoc: Long = 0L): Long = {
    val spark = turns.sparkSession
    import spark.implicits._
    val manifest = new ManifestStore(outDir, spark)
    // a finished directory has dropped its runs; its doc count is in stats
    if (("docmap" +: RunsReaders).forall(manifest.isDone))
      return firstDoc + named(spark, "graft: build doc count") {
        spark.read.schema(Encoders.product[CollectionStats].schema)
          .parquet(s"$outDir/stats").as[CollectionStats].head().max_doc
      }
    val segP = if (opts.segmentPartitions > 0) opts.segmentPartitions
               else partitions(spark, opts)
    val keys = Seq(col("conv_id"), col("turn_idx"))
    require(!opts.offsets || opts.positions,
      "offsets require positions (the reference's IndexOptions ladder)")
    val bAn = spark.sparkContext.broadcast(opts.analyzer)
    val bPos = spark.sparkContext.broadcast(opts.positions)
    val bOffs = spark.sparkContext.broadcast(opts.offsets)
    if (!manifest.isDone("runs") || !manifest.hasOutput("runs")) named(spark, "graft: build runs") {
      val t0 = System.nanoTime()
      rangeCut(turns.toDF().select(col("conv_id"), col("turn_idx"), col("text")), segP, keys)
        .sortWithinPartitions(keys: _*)
        .as[(String, Int, String)]
        .mapPartitions { it =>
          val pid = org.apache.spark.TaskContext.getPartitionId()
          buildRunsWithDocmap(pid, it, bAn.value, bPos.value, bOffs.value)
        }
        .write.mode("overwrite").parquet(s"$outDir/runs")
      manifest.commit("runs", -1L, ms(t0), Some(s"$outDir/runs"))
    }
    // docmap decode is independent of S2-S5: run it concurrently (Spark
    // timeshares the task slots across jobs, shrinking the serial tail).
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val next = withBuildConfs(spark) {
    val counts = runCounts(spark, outDir)
    val (offsets, end) = counts.offsets(firstDoc)
    val docmapF = Future {
      if (!manifest.isDone("docmap")) named(spark, "graft: build docmap") {
        val t0 = System.nanoTime()
        val bOff = spark.sparkContext.broadcast(offsets)
        // Column-form predicate: pushes the term filter into the parquet
        // scan (row-group pruning + no Run deserialization of the blob
        // columns for the 99.99% of rows that are real postings — a typed
        // lambda filter here decoded EVERY run row first).
        runsTable(spark, outDir).where(col("term") === DocmapKey)
          .flatMap { r =>
            val off = bOff.value.getOrElse(r.pid, 0L)
            decodeDocmapPayload(r).map { case (local, c, t) => (off + local, c, t) }
          }
          .toDF("doc_id", "conv_id", "turn_idx")
          .write.mode("overwrite").parquet(s"$outDir/docmap")
        manifest.commit("docmap", -1L, ms(t0), Some(s"$outDir/docmap"))
      }
    }
    buildFromRuns(outDir, opts, counts, offsets)
    Await.result(docmapF, scala.concurrent.duration.Duration.Inf)
    end
    } // withBuildConfs
    manifest.dropOutput("runs")
    next
  }

  /** Tokenize one sorted partition, emitting posting runs AND the docmap
    * pseudo-runs, with partition-local doc ids.
    */
  private def buildRunsWithDocmap(pid: Int,
      it: Iterator[(String, Int, String)], analyzer: TextAnalyzer,
      positions: Boolean, offsets: Boolean = false): Iterator[Run] = {
    val payload = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(payload)
    var chunkStart = 0L
    var local = -1L
    val docmapRuns = new mutable.ArrayBuffer[Run]()
    def flushDocmap(): Unit = if (local >= chunkStart) {
      docmapRuns += Run(pid, DocmapKey, chunkStart, local, (local - chunkStart + 1).toInt,
        0L, 0, 0, Array.emptyByteArray, Array.emptyByteArray, payload.toByteArray,
        Array.emptyByteArray)
      payload.reset()
      chunkStart = local + 1
    }
    val runs = buildRuns(pid, it.map { case (c, t, text) =>
      local += 1
      out.writeUTF(c)
      out.writeInt(t)
      if (local - chunkStart + 1 >= RunMaxPostings) flushDocmap()
      (local, text)
    }, analyzer, positions, payloads = false, offsets = offsets)
    // buildRuns drains `it` eagerly before returning its (lazy) run iterator,
    // so docmapRuns is complete here and run encoding stays streaming.
    flushDocmap()
    runs ++ docmapRuns.iterator
  }

  private def decodeDocmapPayload(r: Run): Iterator[(Long, String, Int)] = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(r.norm_bytes))
    (0 until r.cnt).iterator.map { i =>
      (r.first_doc + i, in.readUTF(), in.readInt())
    }
  }

  /** What one pass over a runs table counts: per pid, the docs of its S1
    * partition and their summed lengths (the norms pseudo-runs), and the
    * postings of every real term (the collection's sumDf).
    */
  private[graft] final case class RunCounts(docs: Map[Int, (Long, Long)], postings: Long) {

    /** Per-pid doc-id offsets = `firstDoc` + prefix sums of the per-partition
      * doc counts in pid order, and the next free doc id after the last
      * partition.
      */
    def offsets(firstDoc: Long): (Map[Int, Long], Long) = {
      var acc = firstDoc
      val offs = docs.toSeq.sortBy(_._1).map { case (pid, (n, _)) =>
        val off = acc
        acc += n
        pid -> off
      }.toMap
      (offs, acc)
    }
  }

  /** [[RunCounts]] of `outDir`'s runs: one job with no exchange, each task
    * folding its split to a few rows.
    */
  private[graft] def runCounts(spark: SparkSession, outDir: String): RunCounts = {
    import spark.implicits._
    val rows = named(spark, "graft: build doc counts") {
      runsTable(spark, outDir)
        .select(col("pid"), col("term") === NormsKey, col("term") >= PseudoMax,
          col("cnt"), col("sum_tf"))
        .as[(Int, Boolean, Boolean, Int, Long)]
        .mapPartitions { it =>
          val docs = mutable.HashMap[Int, (Long, Long)]()
          var postings = 0L
          it.foreach { case (pid, norms, real, cnt, lens) =>
            if (norms) {
              val (n, l) = docs.getOrElse(pid, (0L, 0L))
              docs(pid) = (n + cnt, l + lens)
            } else if (real) postings += cnt
          }
          // (pid, docs, lengths) per partition, and (None, postings, 0)
          docs.iterator.map { case (pid, (n, l)) => (Option(pid), n, l) } ++
            Iterator.single((Option.empty[Int], postings, 0L))
        }
        .collect()
    }
    val docs = rows.collect { case (Some(pid), n, l) => (pid, (n, l)) }
      .groupMapReduce(_._1)(_._2) { case ((n1, l1), (n2, l2)) => (n1 + n2, l1 + l2) }
    RunCounts(docs, rows.collect { case (None, n, _) => n }.sum)
  }

  /** The stages that read `runs`. Once they and the docmap (when the entry
    * writes one) have committed, no reader needs the table — queries read
    * postings and compaction rebuilds its runs from them — so it is deleted
    * and its manifest record kept: a re-run never redoes S1.
    */
  private val RunsReaders = Seq("norms", "termdict", "postings", "stats")

  /** `df` range-partitioned into `n` partitions by `keys`. One partition
    * needs no range exchange (no sample job, no shuffle): its one task sorts
    * everything.
    */
  private def rangeCut(df: DataFrame, n: Int, keys: Seq[Column]): DataFrame =
    if (n == 1) df.coalesce(1) else df.repartitionByRange(n, keys: _*)

  private def runsTable(spark: SparkSession, dir: String): Dataset[Run] =
    spark.read.schema(Encoders.product[Run].schema).parquet(s"$dir/runs").as(Encoders.product[Run])

  /** Build over any (doc_id: Long, text: String) DataFrame. */
  def build(docsIn: DataFrame, outDir: String, opts: Options = Options()): Unit = {
    val spark = docsIn.sparkSession
    val manifest = new ManifestStore(outDir, spark)
    if (RunsReaders.forall(manifest.isDone)) return
    writeRuns(docsIn, outDir, opts)
    withBuildConfs(spark)(buildFromRuns(outDir, opts, runCounts(spark, outDir)))
    manifest.dropOutput("runs")
  }

  /** S1 of [[build]]: per-partition posting runs (DWPT analog), ids already
    * global. Skipped when `runs` is committed and still on disk, so a build
    * killed after S1 resumes from its runs.
    */
  private[graft] def writeRuns(docsIn: DataFrame, outDir: String, opts: Options): Unit = {
    val spark = docsIn.sparkSession
    import spark.implicits._
    val manifest = new ManifestStore(outDir, spark)
    require(!opts.offsets || opts.positions,
      "offsets require positions (the reference's IndexOptions ladder)")
    if (!manifest.isDone("runs") || !manifest.hasOutput("runs")) named(spark, "graft: build runs") {
      val t0 = System.nanoTime()
      val bAn = spark.sparkContext.broadcast(opts.analyzer)
      val bPos = spark.sparkContext.broadcast(opts.positions)
      val bPay = spark.sparkContext.broadcast(opts.payloads)
      val bOff = spark.sparkContext.broadcast(opts.offsets)
      val runs = rangeCut(docsIn.select(col("doc_id").cast("long"), col("text")),
          partitions(spark, opts), Seq(col("doc_id")))
        .sortWithinPartitions("doc_id")
        .as[(Long, String)]
        .mapPartitions(buildRuns(-1, _, bAn.value, bPos.value, bPay.value, bOff.value))
      runs.write.mode("overwrite").parquet(s"$outDir/runs")
      manifest.commit("runs", -1L, ms(t0), Some(s"$outDir/runs"))
    }
  }

  /** S3's term dictionary over a runs table: every real term's df, ttf,
    * max_tf and max_nb, with a dense `term_id` in ascending term order, on
    * `dictP` partitions ([[dictPartitions]]). On one partition the aggregate
    * and the ids need no exchange; on more the result is persisted (see
    * [[StableIds.attach]]), so unpersist it after use.
    */
  private[graft] def termDictionary(runs: DataFrame, dictP: Int): DataFrame = {
    val termAgg = (if (dictP == 1) runs.coalesce(1) else runs)
      .filter(col("term") >= PseudoMax)
      .groupBy("term")
      .agg(sum("cnt").as("df"), sum("sum_tf").as("ttf"),
        max("max_tf").as("max_tf"), max("max_nb").as("max_nb"))
    StableIds.attach(termAgg, Seq(col("term")), "term_id", dictP)
  }

  /** S2-S5 over an existing `runs` table (shared by both build entries and
    * the streaming compactor), whose `counts` the caller took. `offsets` maps
    * a run's pid to the doc-id offset of its partition-local ids; runs
    * written with global ids carry pid = -1 and get offset 0.
    */
  private[graft] def buildFromRuns(outDir: String, opts: Options, counts: RunCounts,
                                   offsets: Map[Int, Long] = Map.empty): Unit = {
    val spark = SparkSession.active
    import spark.implicits._
    val manifest = new ManifestStore(outDir, spark)
    withBuildConfs(spark) {
    val p = partitions(spark, opts)
    val runs = runsTable(spark, outDir)
    val runsBytes = manifest.outputBytes("runs")
    val bOff = spark.sparkContext.broadcast(offsets)

    // ---- S2: norms sidecar (concurrent with S3 — independent inputs) -----
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val normsF = Future {
      if (!manifest.isDone("norms")) named(spark, "graft: build norms") {
        val t0 = System.nanoTime()
        // Column-form predicate — same pushdown rationale as the docmap scan
        val norms = runs.filter(col("term") === NormsKey).flatMap { r =>
          val off = bOff.value.getOrElse(r.pid, 0L)
          val (docs, lens, _) = decodeRun(r)
          docs.indices.iterator.map { i =>
            NormRow(off + docs(i), lens(i), SmallFloat.encodeNorm(lens(i)))
          }
        }
        norms.write.mode("overwrite").parquet(s"$outDir/norms")
        manifest.commit("norms", -1L, ms(t0), Some(s"$outDir/norms"))
      }
    }

    // ---- S3: term dictionary with dense term_ids by term order -----------
    if (!manifest.isDone("termdict")) named(spark, "graft: build term dictionary") {
      val t0 = System.nanoTime()
      val dict = termDictionary(runs.toDF(), dictPartitions(runsBytes, p))
      dict.select("term", "term_id", "df", "ttf", "max_tf", "max_nb")
        .write.mode("overwrite").parquet(s"$outDir/termdict")
      dict.unpersist(blocking = false)
      manifest.commit("termdict", -1L, ms(t0), Some(s"$outDir/termdict"))
    }
    val termdict = spark.read.schema(Encoders.product[TermDictRow].schema)
      .parquet(s"$outDir/termdict")
    // S4 needs the norms stats (impact avgdl); S5 needs the norms table.
    Await.result(normsF, scala.concurrent.duration.Duration.Inf)
    // (doc count, sum of lengths), for S4 and S5: from the norms pseudo-runs
    // every S1 writes; a compacted base's runs carry none (compaction writes
    // its norms table directly), so its come from the norms table
    lazy val (maxDoc, sumTtf) =
      if (counts.docs.nonEmpty) (counts.docs.values.map(_._1).sum, counts.docs.values.map(_._2).sum)
      else named(spark, "graft: build doc stats") {
        spark.read.schema(Encoders.product[NormRow].schema).parquet(s"$outDir/norms")
          .agg(count(lit(1)), coalesce(sum("len"), lit(0L))).as[(Long, Long)].head()
      }

    // ---- S4: global sort-merge into impact-ordered 128-doc blocks ---------
    // (SegmentMerger analog; block membership is by DESCENDING build-time
    // impact — tf/(tf+cache[nb]) with the collection's avgdl, a monotone
    // proxy of every query's per-term score — then doc-sorted within each
    // block so the FOR delta encoding still applies. Random doc order defeats
    // block-max pruning (every block contains some high-impact posting);
    // impact-clustered blocks make max_tf/max_nb sharply discriminative, the
    // trade being slightly larger doc gaps. Lucene 4.8 has neither; this is
    // the scale path for the BMW kernel.)
    if (!manifest.isDone("postings")) named(spark, "graft: build postings") {
      val t0 = System.nanoTime()
      val impactCache = graft.score.Bm25.buildCache(
        graft.score.Bm25.avgFieldLength(sumTtf, math.max(maxDoc, 1L)))
      // the pid -> offset map rides in the plan as a literal (null for pid -1)
      val off = coalesce(element_at(typedLit(offsets), col("pid")), lit(0L))
      val joined = runs.toDF()
        .filter(col("term") >= PseudoMax)
        .withColumn("first_doc", col("first_doc") + off)
        .withColumn("last_doc", col("last_doc") + off)
        .drop("pid")
        .join(termdict.select("term", "term_id"), "term")
        .drop("term")
      // 4x task-to-slot over-partitioning: merge cost per reducer is NOT
      // row-uniform (a hot term pays an n-log-n impact sort over all its
      // postings), so at exactly-one-task-per-slot the heaviest range is a
      // straggler that idles the other slots for its whole tail (measured
      // ~3 s of a 14 s stage at 4 slots). Finer ranges split hot terms
      // across more cuts (correct: blocks are per-(term, range) and the
      // searcher unions them) and let the scheduler pack the waves; the
      // extra partial blocks per cut are noise. Same fan-out rule a real
      // cluster uses (reducers = small multiple of total cores). Positional
      // builds double the fan-out: per-row merge cost there has higher
      // variance (position decode + re-encode is byte-bound), so finer
      // ranges halve the heaviest range's tail — measured at 40M turns,
      // worst-stage max task 155.6 s -> 55.3 s with the RunMaxPositions cap
      // alone, and the docs+freqs scaling-criterion path stays at 4x.
      // (Capped by the runs bytes: `mergeCuts`.)
      val keyed = rangeCut(joined, mergeCuts(runsBytes, p, opts.positions),
          Seq(col("term_id"), col("first_doc")))
        .sortWithinPartitions("term_id", "first_doc")
        .as[KeyedRun]
      val blocks = keyed.mapPartitions(mergeRuns(impactCache))
      blocks.write.mode("overwrite").parquet(s"$outDir/postings")
      manifest.commit("postings", -1L, ms(t0), Some(s"$outDir/postings"))
    }

    // ---- S5: collection statistics ----------------------------------------
    if (!manifest.isDone("stats")) named(spark, "graft: build stats") {
      val t0 = System.nanoTime()
      // sumDf = the sum of every term's df = the postings of the real runs
      Seq(CollectionStats(maxDoc, maxDoc, sumTtf, counts.postings)).toDS()
        .write.mode("overwrite").parquet(s"$outDir/stats")
      manifest.commit("stats", 1L, ms(t0), Some(s"$outDir/stats"))
    }
    } // withBuildConfs
  }

  final case class KeyedRun(
      term_id: Long, first_doc: Long, last_doc: Long, cnt: Int, sum_tf: Long,
      max_tf: Int, max_nb: Int, doc_bytes: Array[Byte], tf_bytes: Array[Byte],
      norm_bytes: Array[Byte], pos_bytes: Array[Byte],
      pay_bytes: Array[Byte] = Array.emptyByteArray,
      off_bytes: Array[Byte] = Array.emptyByteArray)

  /** Back-compat shim: runs and postings tables written before the
    * payloads/offsets columns existed read as payload-/offset-less (encoders
    * need every field present).
    */
  private[graft] def ensurePay(df: DataFrame): DataFrame = {
    val withPay =
      if (df.columns.contains("pay_bytes")) df
      else df.withColumn("pay_bytes", lit(Array.emptyByteArray))
    if (withPay.columns.contains("off_bytes")) withPay
    else withPay.withColumn("off_bytes", lit(Array.emptyByteArray))
  }

  private def partitions(spark: SparkSession, opts: Options): Int =
    if (opts.numPartitions > 0) opts.numPartitions
    else spark.sessionState.conf.numShufflePartitions

  private def ms(t0: Long): Long = (System.nanoTime() - t0) / 1000000L

  /** Tokenize one doc-range partition into per-term runs + a norms pseudo-run.
    * The DocInverter/TermsHash analog
    * (/root/reference/src/Lucene.Net/Index/DocInverterPerField.cs:131-195,
    * TermsHashPerField.cs:31-88): in-memory term hash with growable postings
    * buffers, flushed as compressed runs at partition end.
    */
  private[graft] def buildRuns(pid: Int, it: Iterator[(Long, String)],
                               analyzer: TextAnalyzer = Analyzer,
                               positions: Boolean = true,
                               payloads: Boolean = false,
                               offsets: Boolean = false): Iterator[Run] = {
    // Per-term growable PRIMITIVE postings buffers. The per-token path
    // allocates nothing beyond the token strings themselves: no per-doc
    // tf/positions map, no boxed appends (an earlier boxed-ArrayBuffer
    // version cost ~1 heap box per posting plus 1-2 Options per token —
    // measurable GC pressure on the bandwidth-saturated 4-thread side of
    // the scaling pair). The norm byte is known BEFORE the posting pass by
    // pre-counting emitted tokens in the already-materialized token buffer,
    // so postings never need a doc-end fixup. Positions go to one flat
    // int buffer per term; a posting's tf grows only while it is the
    // term's last posting, so its position block stays contiguous.
    final class Acc {
      var docs = new Array[Long](4)
      var tfs = new Array[Int](4)
      var norms = new Array[Byte](4)
      var n = 0
      var lastDoc = -1L
      var pos: Array[Int] = if (positions) new Array[Int](8) else null
      var posN = 0
      // flat (start, end) pairs, parallel to pos (2 ints per occurrence)
      var off: Array[Int] = if (offsets) new Array[Int](16) else null
      var offN = 0
      // payload stream, position-aligned (varint len + bytes per position) —
      // allocated only on payload builds, never touched otherwise
      var pay: java.io.ByteArrayOutputStream = null
      var payOffs: Array[Int] = null // stream offset at each POSTING start
      def startPosting(doc: Long, nb: Byte): Unit = {
        if (n == docs.length) {
          docs = java.util.Arrays.copyOf(docs, n * 2)
          tfs = java.util.Arrays.copyOf(tfs, n * 2)
          norms = java.util.Arrays.copyOf(norms, n * 2)
          if (payOffs != null) payOffs = java.util.Arrays.copyOf(payOffs, n * 2)
        }
        if (payloads) {
          if (pay == null) {
            pay = new java.io.ByteArrayOutputStream()
            payOffs = new Array[Int](docs.length)
          }
          payOffs(n) = pay.size()
        }
        docs(n) = doc; tfs(n) = 1; norms(n) = nb; n += 1; lastDoc = doc
      }
      def addPos(p: Int): Unit = {
        if (posN == pos.length) pos = java.util.Arrays.copyOf(pos, posN * 2)
        pos(posN) = p; posN += 1
      }
      def addOff(s: Int, e: Int): Unit = {
        if (offN + 1 >= off.length) off = java.util.Arrays.copyOf(off, offN * 2 + 2)
        off(offN) = s; off(offN + 1) = e; offN += 2
      }
      def addPay(bytes: Array[Byte]): Unit = {
        graft.codec.ForCodec.writeVarLong(pay, bytes.length.toLong)
        pay.write(bytes)
      }
    }
    val terms = new mutable.HashMap[String, Acc]()
    var normDocs = new Array[Long](1024)
    var normLens = new Array[Int](1024)
    var normN = 0
    it.foreach { case (docId, text) =>
      val txt = if (text == null) "" else text
      var starts: Array[Int] = null
      var ends: Array[Int] = null
      val toks =
        if (offsets) {
          val (tk, st, en) = analyzer.tokenSpans(txt)
          starts = st; ends = en; tk
        } else analyzer.tokens(txt)
      var len = 0
      var i = 0
      while (i < toks.length) { if (toks(i) ne null) len += 1; i += 1 }
      val nb = SmallFloat.encodeNorm(len)
      if (normN == normDocs.length) {
        normDocs = java.util.Arrays.copyOf(normDocs, normN * 2)
        normLens = java.util.Arrays.copyOf(normLens, normN * 2)
      }
      normDocs(normN) = docId; normLens(normN) = len; normN += 1
      i = 0
      var p = -1
      while (i < toks.length) {
        val t = toks(i)
        p += 1
        if (t ne null) {
          var term = t
          var payBytes: Array[Byte] = null
          if (payloads) {
            // DelimitedPayloadTokenFilter: split at the LAST delimiter; the
            // suffix float-encodes (PayloadHelper.EncodeSingle byte order);
            // malformed/absent payloads index the token payload-less
            val d = t.lastIndexOf('|')
            if (d > 0 && d < t.length - 1) {
              try {
                val bits = java.lang.Float.floatToIntBits(t.substring(d + 1).toFloat)
                payBytes = Array[Byte]((bits >>> 24).toByte, (bits >>> 16).toByte,
                  (bits >>> 8).toByte, bits.toByte)
                term = t.substring(0, d)
              } catch { case _: NumberFormatException => }
            }
          }
          val acc = terms.getOrElseUpdate(term, new Acc)
          if (acc.n == 0 || acc.lastDoc != docId) acc.startPosting(docId, nb)
          else acc.tfs(acc.n - 1) += 1
          if (positions) acc.addPos(p)
          if (payloads)
            acc.addPay(if (payBytes == null) Array.emptyByteArray else payBytes)
          if (offsets) acc.addOff(starts(i), ends(i))
        }
        i += 1
      }
    }
    val termRuns = terms.iterator.flatMap { case (term, acc) =>
      val docs = java.util.Arrays.copyOf(acc.docs, acc.n)
      val tfs = java.util.Arrays.copyOf(acc.tfs, acc.n)
      val norms = java.util.Arrays.copyOf(acc.norms, acc.n)
      val poss = if (!positions) null else {
        val out = new Array[Array[Int]](acc.n)
        var off = 0
        var i = 0
        while (i < acc.n) {
          out(i) = java.util.Arrays.copyOfRange(acc.pos, off, off + tfs(i))
          off += tfs(i)
          i += 1
        }
        out
      }
      val paySegs = if (!payloads || acc.pay == null) null else {
        val stream = acc.pay.toByteArray
        val out = new Array[Array[Byte]](acc.n)
        var i = 0
        while (i < acc.n) {
          val end = if (i + 1 < acc.n) acc.payOffs(i + 1) else stream.length
          out(i) = java.util.Arrays.copyOfRange(stream, acc.payOffs(i), end)
          i += 1
        }
        out
      }
      val offSegs = if (!offsets) null else {
        val out = new Array[Array[Byte]](acc.n)
        var o = 0 // flat-pair cursor: 2 ints per occurrence, tf occurrences
        var i = 0
        while (i < acc.n) {
          out(i) = PostingCodec.encodeOffSegment(
            java.util.Arrays.copyOfRange(acc.off, o, o + 2 * tfs(i)))
          o += 2 * tfs(i)
          i += 1
        }
        out
      }
      chunkedRuns(pid, term, docs, tfs, norms, poss, paySegs, offSegs)
    }
    val normsRun =
      if (normN == 0) Iterator.empty
      else chunkedRuns(pid, NormsKey, java.util.Arrays.copyOf(normDocs, normN),
        java.util.Arrays.copyOf(normLens, normN), new Array[Byte](normN), null)
    termRuns ++ normsRun
  }

  private def chunkedRuns(pid: Int, term: String, docs: Array[Long], tfs: Array[Int],
                          norms: Array[Byte], poss: Array[Array[Int]],
                          paySegs: Array[Array[Byte]] = null,
                          offSegs: Array[Array[Byte]] = null): Iterator[Run] =
    if (docs.length <= RunMaxPostings && poss == null)
      Iterator.single(encodeRunRow(pid, term, docs, tfs, norms, poss, paySegs, offSegs))
    else {
      // Cut after RunMaxPostings postings, or (positional builds only) after
      // RunMaxPositions total positions — whichever comes first. With poss
      // == null the boundaries are exactly the legacy uniform grouping;
      // chunk boundaries never change index CONTENT (S4 re-blocks merged
      // runs into 128-entry blocks regardless), only row cost uniformity.
      val n = docs.length
      val cuts = Array.newBuilder[Int]
      var start = 0
      var posMass = 0L
      var i = 0
      while (i < n) {
        if (poss != null) posMass += poss(i).length.toLong
        i += 1
        if (i - start >= RunMaxPostings || posMass >= RunMaxPositions) {
          cuts += i
          start = i
          posMass = 0L
        }
      }
      if (start < n) cuts += n
      var prev = 0
      cuts.result().iterator.map { b =>
        val a = prev
        prev = b
        encodeRunRow(pid, term, docs.slice(a, b), tfs.slice(a, b), norms.slice(a, b),
          if (poss == null) null else poss.slice(a, b),
          if (paySegs == null) null else paySegs.slice(a, b),
          if (offSegs == null) null else offSegs.slice(a, b))
      }
    }

  private[graft] def encodeRunRow(pid: Int, term: String, docs: Array[Long], tfs: Array[Int],
                           norms: Array[Byte], poss: Array[Array[Int]],
                           paySegs: Array[Array[Byte]] = null,
                           offSegs: Array[Array[Byte]] = null): Run = {
    val gaps = new Array[Long](docs.length - 1)
    var i = 1
    while (i < docs.length) {
      val g = docs(i) - docs(i - 1)
      require(g > 0, s"doc ids must be strictly increasing within a run ($term)")
      gaps(i - 1) = g
      i += 1
    }
    var sumTf = 0L
    var maxTf = 0
    var maxNb = 0
    i = 0
    while (i < tfs.length) {
      sumTf += tfs(i)
      if (tfs(i) > maxTf) maxTf = tfs(i)
      val nb = norms(i) & 0xff
      if (nb > maxNb) maxNb = nb
      i += 1
    }
    Run(pid, term, docs.head, docs.last, docs.length, sumTf, maxTf, maxNb,
      ForCodec.pack(gaps), ForCodec.pack(tfs.map(_.toLong)), norms,
      if (poss == null) Array.emptyByteArray else PostingCodec.packPositions(poss),
      if (paySegs == null) Array.emptyByteArray else {
        val buf = new java.io.ByteArrayOutputStream()
        paySegs.foreach(buf.write)
        buf.toByteArray
      },
      if (offSegs == null) Array.emptyByteArray else {
        val buf = new java.io.ByteArrayOutputStream()
        offSegs.foreach(buf.write)
        buf.toByteArray
      })
  }

  private[graft] def decodeRun(r: Run): (Array[Long], Array[Int], Array[Byte]) = {
    val gaps = ForCodec.unpack(r.doc_bytes)
    val tfs = ForCodec.unpack(r.tf_bytes).map(_.toInt)
    val docs = new Array[Long](r.cnt)
    var i = 0
    var d = r.first_doc
    while (i < r.cnt) {
      if (i > 0) d += gaps(i - 1)
      docs(i) = d
      i += 1
    }
    (docs, tfs, r.norm_bytes)
  }

  /** Streaming merge of (term_id, first_doc)-sorted runs into final blocks,
    * re-blocked by DESCENDING impact (ties: doc asc), each block doc-sorted
    * for the delta codec. Runs of one term may overlap in doc range (impact
    * blocks from a prior compaction do); each doc appears in exactly one run,
    * so merging is concatenate + impact-partition + per-block doc sort.
    */
  private def mergeRuns(impactCache: Array[Float])(
      it: Iterator[KeyedRun]): Iterator[PostingBlock] = {
    val buf = it.buffered
    new Iterator[PostingBlock] {
      private var pending: Iterator[PostingBlock] = Iterator.empty
      override def hasNext: Boolean = pending.hasNext || buf.hasNext
      override def next(): PostingBlock = {
        if (!pending.hasNext) {
          val tid = buf.head.term_id
          // streaming decode into PRIMITIVE builders (no per-term row
          // buffering, and no boxed element churn — a hot term holds
          // millions of postings, and boxed buffers/orderings here were
          // measurable 4-thread-side GC pressure). DOCS_AND_FREQS runs
          // carry no positions; a mixed merge drops them for the term.
          val docsB = new mutable.ArrayBuilder.ofLong
          val tfsB = new mutable.ArrayBuilder.ofInt
          val normsB = new mutable.ArrayBuilder.ofByte
          val poss = new mutable.ArrayBuffer[Array[Int]]()
          val pays = new mutable.ArrayBuffer[Array[Byte]]()
          val offs = new mutable.ArrayBuffer[Array[Byte]]()
          var hasPos = true
          var hasPay = true
          var hasOff = true
          while (buf.hasNext && buf.head.term_id == tid) {
            val r = buf.next()
            val (d, t, n) = decodeRun(
              Run(-1, "", r.first_doc, r.last_doc, r.cnt, r.sum_tf, r.max_tf,
                r.max_nb, r.doc_bytes, r.tf_bytes, r.norm_bytes, r.pos_bytes))
            docsB ++= d
            tfsB ++= t
            normsB ++= n
            if (hasPos) {
              if (r.cnt > 0 && r.pos_bytes.isEmpty) { hasPos = false; poss.clear() }
              else poss ++= PostingCodec.unpackPositions(r.pos_bytes, t)
            }
            if (hasPay) {
              // payloads ride as opaque per-posting segments (a mixed merge
              // drops them for the term, mirroring the positions rule)
              if (r.cnt > 0 && r.pay_bytes.isEmpty) { hasPay = false; pays.clear() }
              else pays ++= PostingCodec.splitPaySegments(r.pay_bytes, t)
            }
            if (hasOff) {
              // offsets ride the same opaque-segment contract as payloads
              if (r.cnt > 0 && r.off_bytes.isEmpty) { hasOff = false; offs.clear() }
              else offs ++= PostingCodec.splitOffSegments(r.off_bytes, t)
            }
          }
          val docs = docsB.result()
          val tfs = tfsB.result()
          val norms = normsB.result()
          val n = docs.length
          val idx = Array.range(0, n)
          val impact = new Array[Float](n)
          var i = 0
          while (i < n) {
            impact(i) = graft.score.Bm25.score(1.0f, tfs(i).toFloat, impactCache, norms(i))
            i += 1
          }
          // primitive in-place sort (docs unique per term => total order)
          sortIdx(idx, (a, b) =>
            if (impact(a) != impact(b)) impact(a) > impact(b) else docs(a) < docs(b))
          pending = idx.iterator.grouped(PostingCodec.BlockSize).flatMap { chunk =>
            val byDoc = chunk.toArray
            sortIdx(byDoc, (a, b) => docs(a) < docs(b))
            PostingCodec.encodeRun(tid,
              byDoc.map(docs(_)), byDoc.map(tfs(_)), byDoc.map(norms(_)),
              if (hasPos) byDoc.map(poss(_)) else null,
              if (hasPay) byDoc.map(pays(_)) else null,
              if (hasOff) byDoc.map(offs(_)) else null)
          }
        }
        pending.next()
      }
    }
  }

  /** In-place quicksort of an index array under a strict total order `lt`
    * (median-of-three pivot, insertion sort below 16) — no boxing, unlike
    * `Array[Int].sortWith`, which routes through an Object[] merge sort.
    */
  private[build] def sortIdx(a: Array[Int], lt: (Int, Int) => Boolean): Unit = {
    def swap(i: Int, j: Int): Unit = { val t = a(i); a(i) = a(j); a(j) = t }
    def sort(lo: Int, hi: Int): Unit = {
      if (hi - lo < 16) {
        var i = lo + 1
        while (i <= hi) {
          val v = a(i)
          var j = i - 1
          while (j >= lo && lt(v, a(j))) { a(j + 1) = a(j); j -= 1 }
          a(j + 1) = v
          i += 1
        }
      } else {
        val mid = lo + ((hi - lo) >>> 1)
        // median-of-three to a(lo)
        if (lt(a(mid), a(lo))) swap(mid, lo)
        if (lt(a(hi), a(lo))) swap(hi, lo)
        if (lt(a(hi), a(mid))) swap(hi, mid)
        val pivot = a(mid)
        var i = lo
        var j = hi
        while (i <= j) {
          while (lt(a(i), pivot)) i += 1
          while (lt(pivot, a(j))) j -= 1
          if (i <= j) { swap(i, j); i += 1; j -= 1 }
        }
        if (lo < j) sort(lo, j)
        if (i < hi) sort(i, hi)
      }
    }
    if (a.length > 1) sort(0, a.length - 1)
  }
}
