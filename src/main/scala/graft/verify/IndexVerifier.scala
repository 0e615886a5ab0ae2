package graft.verify

import graft.codec.{PostingBlock, PostingCodec}
import graft.model.CollectionStats
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Whole-index invariant checker — the CheckIndex analog
  * (/root/reference/src/Lucene.Net/Index/CheckIndex.cs:828-839,921,1626):
  * posting order/gap invariants, df and ttf cross-checks against the term
  * dictionary, norms row count vs maxDoc, dense ascending term_ids.
  * Returns violations (empty = index is consistent).
  */
object IndexVerifier {

  def verify(spark: SparkSession, indexDir: String): Seq[String] = {
    import spark.implicits._
    val errs = scala.collection.mutable.ArrayBuffer[String]()

    val stats = spark.read.parquet(s"$indexDir/stats").as[CollectionStats].head()
    val termdict = spark.read.parquet(s"$indexDir/termdict").cache()
    val postings0 = spark.read.parquet(s"$indexDir/postings")
    val postings = Seq("pay_bytes", "off_bytes") // pre-payload/offset tables
      .foldLeft(postings0)((df, c) =>
        if (df.columns.contains(c)) df
        else df.withColumn(c, lit(Array.emptyByteArray)))
      .as[PostingBlock]
    val norms = spark.read.parquet(s"$indexDir/norms")

    // Per-block decode invariants + per-term aggregates from postings.
    val perBlock = postings.map { b =>
      val (docs, tfs, nbs) = PostingCodec.decode(b)
      var i = 1
      while (i < docs.length) { require(docs(i) > docs(i - 1)); i += 1 }
      require(docs.head == b.first_doc && docs.last == b.last_doc, s"block bounds ${b.term_id}")
      require(tfs.max == b.max_tf, s"max_tf mismatch term ${b.term_id}")
      require(nbs.map(_ & 0xff).max == b.max_nb, s"max_nb mismatch term ${b.term_id}")
      require(tfs.forall(_ >= 1), s"tf < 1 in term ${b.term_id}")
      // positions (when indexed): one sorted strictly-increasing list of
      // length tf per posting; a DOCS_AND_FREQS block has no pos payload
      if (b.pos_bytes.nonEmpty) {
        val poss = PostingCodec.unpackPositions(b.pos_bytes, tfs)
        i = 0
        while (i < poss.length) {
          val ps = poss(i)
          require(ps.length == tfs(i), s"positions count != tf in term ${b.term_id}")
          var j = 1
          while (j < ps.length) {
            require(ps(j) > ps(j - 1), s"positions not increasing in term ${b.term_id}")
            j += 1
          }
          require(ps.isEmpty || ps(0) >= 0, s"negative position in term ${b.term_id}")
          i += 1
        }
      }
      // payloads (when indexed): the stream must parse into exactly tf
      // varint-length-prefixed entries per posting, consuming every byte
      if (b.pay_bytes.nonEmpty) {
        val segs = PostingCodec.splitPaySegments(b.pay_bytes, tfs)
        var consumed = 0
        i = 0
        while (i < segs.length) { consumed += segs(i).length; i += 1 }
        require(consumed == b.pay_bytes.length,
          s"payload stream length mismatch in term ${b.term_id}")
      }
      // offsets (when indexed): 2*tf varints per posting; pairs well-formed
      // (end >= start, starts non-decreasing within a posting — the
      // reference CheckIndex rejects only startOffset < lastStartOffset,
      // CheckIndex.cs:1626 region: EQUAL starts are legal, e.g. same-position
      // synonym/phonetic-injected tokens) and the stream fully consumed
      if (b.off_bytes.nonEmpty) {
        val offs = PostingCodec.unpackOffsets(b.off_bytes, tfs)
        var consumed = 0
        i = 0
        while (i < offs.length) {
          val pairs = offs(i)
          require(pairs.length == 2 * tfs(i), s"offset pairs != tf in term ${b.term_id}")
          var k = 0
          while (k < pairs.length) {
            require(pairs(k) >= 0 && pairs(k + 1) >= pairs(k),
              s"malformed offset pair in term ${b.term_id}")
            if (k > 0) require(pairs(k) >= pairs(k - 2),
              s"offsets went backwards in term ${b.term_id}")
            k += 2
          }
          consumed += PostingCodec.encodeOffSegment(pairs).length
          i += 1
        }
        require(consumed == b.off_bytes.length,
          s"offset stream length mismatch in term ${b.term_id}")
      }
      (b.term_id, b.cnt.toLong, tfs.map(_.toLong).sum, b.first_doc, b.last_doc)
    }.toDF("term_id", "cnt", "sum_tf", "first_doc", "last_doc")

    val perTerm = perBlock.groupBy("term_id")
      .agg(sum("cnt").as("df2"), sum("sum_tf").as("ttf2"))
    // OUTER join on the termdict side: a term whose posting blocks are ALL
    // missing must still be flagged (df > 0 vs no postings at all) — an
    // inner join would silently drop it from the cross-check.
    val joined = termdict.join(perTerm, Seq("term_id"), "left_outer")
      .filter(coalesce(col("df2"), lit(0L)) =!= col("df") ||
        coalesce(col("ttf2"), lit(0L)) =!= col("ttf"))
    val badTerms = joined.count()
    if (badTerms > 0) errs += s"$badTerms terms with df/ttf mismatch between postings and termdict"
    // the symmetric orphan: posting blocks under a term_id the termdict
    // doesn't know (CheckIndex rejects postings without a dict entry)
    val orphans = perTerm.join(termdict.select("term_id"), Seq("term_id"), "left_anti").count()
    if (orphans > 0) errs += s"$orphans term_ids with postings but no termdict entry"

    // Blocks of one term are impact-partitioned (doc ranges MAY overlap) but
    // must still partition the posting set: no doc twice under one term.
    val dups = postings.flatMap { b =>
      val (docs, _, _) = PostingCodec.decode(b)
      docs.iterator.map(d => (b.term_id, d))
    }.toDF("term_id", "doc_id")
      .groupBy("term_id", "doc_id").count()
      .filter(col("count") > 1)
      .count()
    if (dups > 0) errs += s"$dups duplicate (term, doc) postings across blocks"

    val normCount = norms.count()
    if (normCount != stats.max_doc) errs += s"norms rows $normCount != maxDoc ${stats.max_doc}"
    // docmap (when present) covers exactly the norms' doc space
    val docmapPath = new org.apache.hadoop.fs.Path(s"$indexDir/docmap")
    val fs = docmapPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(docmapPath)) {
      val docmap = spark.read.parquet(s"$indexDir/docmap")
      val dmCount = docmap.count()
      if (dmCount != normCount) errs += s"docmap rows $dmCount != norms rows $normCount"
      val unmatched = docmap.select("doc_id")
        .join(norms.select("doc_id"), Seq("doc_id"), "left_anti").count()
      if (unmatched > 0) errs += s"$unmatched docmap ids missing from norms"
    }
    val sumLen = norms.agg(coalesce(sum("len"), lit(0L))).as[Long].head()
    if (sumLen != stats.sum_ttf) errs += s"sum(len) $sumLen != sumTtf ${stats.sum_ttf}"

    val nTerms = termdict.count()
    val idStats = termdict.agg(min("term_id"), max("term_id"), countDistinct("term_id"))
      .as[(Long, Long, Long)].head()
    if (nTerms > 0 && (idStats._1 != 0L || idStats._2 != nTerms - 1 || idStats._3 != nTerms))
      errs += s"term_ids not dense: $idStats over $nTerms terms"
    // term order must follow term_id order. DISTRIBUTED check — CheckIndex's
    // value is at production scale, so no whole-dict collect and no
    // unpartitioned window: each term joins its id-predecessor (ids are
    // dense, checked above), a shuffle join partitioned by term_id.
    val prev = termdict.select((col("term_id") + 1).as("term_id"), col("term").as("prev_term"))
    val misordered = termdict.select("term_id", "term").join(prev, Seq("term_id"))
      .filter(col("prev_term") >= col("term"))
      .count()
    if (misordered > 0) errs += s"$misordered term_id pairs out of term order"

    val sumDf = termdict.agg(coalesce(sum("df"), lit(0L))).as[Long].head()
    if (sumDf != stats.sum_df) errs += s"sum(df) $sumDf != stats.sum_df ${stats.sum_df}"

    termdict.unpersist()
    errs.toSeq
  }

  /** Cross-check a term-vectors sidecar (build.TermVectors) against the
    * inverted index built over the SAME docs with the SAME analyzer: the two
    * are transposes, so per-term df/ttf must agree exactly, and every
    * vector row must be internally consistent (tf = positions length,
    * strictly increasing positions, aligned well-formed spans) — the
    * vectors half of CheckIndex (reference CheckIndex.cs TestTermVectors
    * mode cross-validates vectors against postings the same way).
    */
  def verifyTermVectors(spark: SparkSession, indexDir: String,
                        vectorsDir: String): Seq[String] = {
    import spark.implicits._
    val errs = scala.collection.mutable.ArrayBuffer[String]()
    val tv = spark.read.parquet(vectorsDir)
    val badRows = tv.as[(Long, String, Int, Array[Int], Array[Int], Array[Int])]
      .filter { case (_, _, tf, ps, ss, es) =>
        tf != ps.length || ss.length != tf || es.length != tf ||
          ps.indices.drop(1).exists(i => ps(i) <= ps(i - 1)) ||
          ps.indices.exists(i => ss(i) < 0 || es(i) <= ss(i))
      }.count()
    if (badRows > 0) errs += s"$badRows malformed term-vector rows"
    val perTerm = tv.groupBy("term")
      .agg(count(lit(1)).as("vdf"), sum("tf").as("vttf"))
    val dict = spark.read.parquet(s"$indexDir/termdict")
      .select(col("term"), col("df").cast("long"), col("ttf").cast("long"))
    val mismatch = perTerm.join(dict, Seq("term"), "full_outer")
      .filter(col("vdf").isNull || col("df").isNull ||
        col("vdf") =!= col("df") || col("vttf") =!= col("ttf"))
      .count()
    if (mismatch > 0) errs += s"$mismatch terms disagree between vectors and termdict"
    errs.toSeq
  }
}
