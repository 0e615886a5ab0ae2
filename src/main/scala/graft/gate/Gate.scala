package graft.gate

import graft.analysis.Analyzer
import graft.build.{IndexBuilder, TermVectors}
import graft.codec.{PosBlock, PostingCodec, ScoreBlock}
import graft.model.TermDictRow
import graft.query.{Query, Searcher, WandSearcher}
import graft.score.Bm25
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver-facing correctness gate: every operator exposed as a
  * `(SparkSession, sfDir) => DataFrame` over `/root/testdata/sf*` tables, with
  * an exactly-mirrored DuckDB oracle SQL (see [[GateOracle]]).
  *
  * The full-text queries run against a real index built by [[IndexBuilder]]
  * over `documents.parquet` (StandardAnalyzer-equivalent chain; on this corpus
  * — space-separated lowercase ASCII words — the chain reduces to
  * split-minus-stopwords, which is what makes a SQL oracle possible).
  *
  * Every gate that ranks or reports BM25 scores runs the shipped float32
  * engine ([[Searcher]], or [[WandSearcher]] where named), ranks by the
  * float32 score then doc_id, and quantizes to `floor(score * 10000 + 0.5)`
  * as BIGINT, so no raw float reaches the oracle's hash compare. The oracle
  * mirrors the [[graft.score.Bm25]] kernel op-for-op in DuckDB REAL
  * arithmetic and ranks by the same score.
  */
object Gate {

  /** Bump when the on-disk index layout changes (invalidates cached builds). */
  final val Version = "v7"

  private val built = scala.collection.concurrent.TrieMap[String, String]()

  /** Per-session cached relations for the partitioned ANN stores. A 2^16-dir
    * bucket table pays its partition DISCOVERY (file listing) when the
    * relation is created — a catalog-registration cost a deployment pays
    * once, not per query — so the gates reuse one relation per (session,
    * store) and the bench warms it in the gate-build phase; the probe then
    * pays only pruned reads. Keyed by session identity (SparkSession does
    * not override equals) so a cached relation is never handed to a
    * different session; weak keying alone would NOT reclaim anything (the
    * cached DataFrames strongly reference their session through
    * queryExecution), so eviction is explicit — a listener registered at
    * cache creation drops the whole per-session map when that session's
    * SparkContext ends.
    */
  private val relations =
    new java.util.IdentityHashMap[SparkSession, scala.collection.concurrent.TrieMap[String, DataFrame]]()

  private def sessionCache(spark: SparkSession): scala.collection.concurrent.TrieMap[String, DataFrame] =
    relations.synchronized {
      var m = relations.get(spark)
      if (m == null) {
        m = scala.collection.concurrent.TrieMap[String, DataFrame]()
        relations.put(spark, m)
        spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
          override def onApplicationEnd(
              end: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit =
            relations.synchronized { relations.remove(spark): Unit }
        })
      }
      m
    }

  /** INVARIANT: the cached relation snapshots the file listing at first use,
    * so every directory cached here must be WRITE-ONCE within a session (all
    * gate/ANN stores are: built once behind [[built]]/manifests, never
    * overwritten). Rewriting a cached dir would serve a stale file list.
    */
  private def cachedRelation(spark: SparkSession, key: String, dir: => String): DataFrame =
    sessionCache(spark).getOrElseUpdate(key, {
      val df = spark.read.parquet(dir)
      df.schema // force analysis -> partition discovery happens HERE
      df
    })

  def annLshTable(spark: SparkSession, sfDir: String): DataFrame =
    cachedRelation(spark, s"$sfDir#annlsh", annLshDir(spark, sfDir))

  def annIvfTable(spark: SparkSession, sfDir: String): DataFrame =
    cachedRelation(spark, s"$sfDir#annivf", annIvfDir(spark, sfDir))

  def annPqTable(spark: SparkSession, sfDir: String): DataFrame =
    cachedRelation(spark, s"$sfDir#annpq", annPqDir(spark, sfDir))

  /** Build (once per JVM per sfDir; resumable across JVMs via the manifest)
    * the index over documents.parquet.
    */
  def indexDir(spark: SparkSession, sfDir: String): String =
    built.getOrElseUpdate(sfDir, {
      val name = new java.io.File(sfDir).getName
      val dir = s"target/gate-index/$Version-$name"
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("text"))
      IndexBuilder.build(docs, dir)
      dir
    })

  /** English-analyzed (Porter-stemmed) index variant over the same corpus. */
  def indexDirEnglish(spark: SparkSession, sfDir: String): String =
    built.getOrElseUpdate(s"$sfDir#en", {
      val name = new java.io.File(sfDir).getName
      val dir = s"target/gate-index/$Version-en-$name"
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("text"))
      IndexBuilder.build(docs, dir,
        IndexBuilder.Options(analyzer = graft.analysis.EnglishAnalyzer))
      dir
    })

  /** Payload-carrying index variant: every token gets a deterministic
    * `|<w>` float suffix with w = ((doc_id + position) % 8 + 1) / 2 (position
    * 1-based) — DelimitedPayloadTokenFilter input
    * (/root/reference/src/Lucene.Net.Analysis.Common/Analysis/Payloads/
    * DelimitedPayloadTokenFilter.cs), indexed under WhitespaceAnalyzer so the
    * delimiter survives tokenization. The formula is mirrored exactly by the
    * DuckDB oracle (all w are multiples of 0.5, so every float32 fold over
    * them is exact).
    */
  def indexDirPayload(spark: SparkSession, sfDir: String): String =
    built.getOrElseUpdate(s"$sfDir#pay", {
      val name = new java.io.File(sfDir).getName
      val dir = s"target/gate-index/$Version-pay-$name"
      val w = (x: Column, i: Column) =>
        concat(x, lit("|"),
          (((col("doc_id") + i + 1) % 8 + 1).cast("double") / 2.0).cast("string"))
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"),
          concat_ws(" ", transform(split(col("text"), " "), w)).as("text"))
      IndexBuilder.build(docs, dir,
        IndexBuilder.Options(analyzer = graft.analysis.WhitespaceAnalyzer,
          payloads = true))
      dir
    })

  /** Offsets-carrying index variant (DOCS_AND_FREQS_AND_POSITIONS_AND_OFFSETS,
    * the IndexOptions ladder's 4th rung): per-occurrence character spans in
    * the postings themselves.
    */
  def indexDirOffsets(spark: SparkSession, sfDir: String): String =
    built.getOrElseUpdate(s"$sfDir#off", {
      val name = new java.io.File(sfDir).getName
      val dir = s"target/gate-index/$Version-off-$name"
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("text"))
      IndexBuilder.build(docs, dir, IndexBuilder.Options(offsets = true))
      dir
    })

  /** Term-vectors sidecar over the corpus (standard chain; built once per
    * JVM per sfDir — the build is one analysis pass + one range exchange).
    */
  def termVectorsDir(spark: SparkSession, sfDir: String): String =
    built.getOrElseUpdate(s"$sfDir#tv", {
      val name = new java.io.File(sfDir).getName
      val dir = s"target/gate-index/$Version-tv-$name"
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("text"))
      TermVectors.build(spark, docs, dir)
      dir
    })

  /** Sharded two-level prefix-sum bin assignment for sequence packing:
    * input (doc_id, source, tok) -> + (bin). Level 1 computes each
    * source x `shardDocs`-doc-range shard's LOCAL running token sum;
    * level 2 builds a shard-count-sized offsets table (per-source prefix
    * sum over shard totals) broadcast into the add-back join. carry +
    * local = the global running sum, BIT-IDENTICAL to one global
    * per-source window (PackBinsSpec pins the equality on adversarial
    * shapes), but no source ever serializes into a single sort partition.
    */
  def packBins(docs: DataFrame, shardDocs: Long = 4096L,
               window: Long = 2048L): DataFrame = {
    val sharded = docs
      .withColumn("shard", floor(col("doc_id") / shardDocs).cast("long"))
    val wLocal = Window.partitionBy("source", "shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = sharded.withColumn("local_off",
      coalesce(sum("tok").over(wLocal), lit(0L)))
    val wCarry = Window.partitionBy("source").orderBy("shard")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = sharded.groupBy("source", "shard")
      .agg(sum("tok").as("shard_toks"))
      .withColumn("carry", coalesce(sum("shard_toks").over(wCarry), lit(0L)))
      .select("source", "shard", "carry")
    local
      .join(broadcast(offsets), Seq("source", "shard"))
      .withColumn("bin",
        floor((col("carry") + col("local_off")) / lit(window)).cast("long"))
      .drop("shard", "local_off", "carry")
  }

  /** Bigram language-model table for FreeTextSuggester-style typeahead
    * (reference /root/reference/src/Lucene.Net.Suggest/Suggest/Analyzing/
    * FreeTextSuggester.cs — an n-gram LM built ONCE over the corpus, looked
    * up per keystroke): (w1, w2, cnt) under WhitespaceAnalyzer, written
    * range-sorted by w1 so a context lookup prunes to the matching row
    * groups by Parquet min/max stats (the FST-arc-walk analog; a directory
    * per w1 would explode the namespace, sorted row groups give the same
    * pruning). Built once per sf, cached like the index.
    */
  def suggestFreeDir(spark: SparkSession, sfDir: String): String =
    built.getOrElseUpdate(s"$sfDir#freesugg", {
      val name = new java.io.File(sfDir).getName
      val dir = s"target/gate-index/$Version-freesugg-$name"
      if (!new java.io.File(s"$dir/_SUCCESS").exists()) {
        import spark.implicits._
        spark.read.parquet(s"$sfDir/documents.parquet")
          .select(col("text")).as[String]
          .flatMap { text =>
            val toks = text.split(" ", -1)
            (0 until toks.length - 1).iterator.map(i => (toks(i), toks(i + 1)))
          }
          .toDF("w1", "w2")
          .groupBy("w1", "w2").agg(count(lit(1)).as("cnt"))
          .repartitionByRange(col("w1"))
          .sortWithinPartitions("w1", "w2")
          .write.mode("overwrite").parquet(dir)
      }
      dir
    })

  // ---------- the engine under the gates ----------------------------------

  /** Quantized score column: floor(score*10000 + 0.5) as BIGINT. */
  def q(c: Column): Column = floor(c * lit(10000) + lit(0.5)).cast("long")

  private def termdict(spark: SparkSession, idx: String): DataFrame =
    spark.read.parquet(s"$idx/termdict")

  /** The shipped engine over the gate index. */
  private def searcher(spark: SparkSession, sfDir: String): Searcher =
    new Searcher(spark, indexDir(spark, sfDir))

  /** (doc_id, score_q): the engine's float32 score, quantized. */
  private def scoreQ(scored: DataFrame): DataFrame =
    scored.select(col("doc_id"), q(col("score").cast("double")).as("score_q"))

  /** The top `k` of a scored (doc_id, score) frame by the float32 score,
    * then doc_id — the engine's collector order, which the oracles rank by.
    */
  private def rankQ(scored: DataFrame, k: Int): DataFrame =
    scoreQ(scored.orderBy(desc("score"), asc("doc_id")).limit(k))

  /** Run the float32 ENGINE ([[Searcher]]) end-to-end and project the
    * quantized score — the oracle ranks by the bit-identical REAL score.
    */
  def engineTopk(spark: SparkSession, sfDir: String, qry: Query, k: Int): DataFrame =
    engineTopkIn(spark, indexDir(spark, sfDir), qry, k)

  /** [[engineTopk]] over an explicit index directory (the analyzer and
    * payload variants).
    */
  private def engineTopkIn(spark: SparkSession, idx: String, qry: Query, k: Int): DataFrame =
    scoreQ(new Searcher(spark, idx).search(qry, k))

  /** The docs matching one term, from the engine's scorer stream. */
  private def docsOf(spark: SparkSession, sfDir: String, term: String): DataFrame =
    searcher(spark, sfDir).scoredDocs(Query.Term(term)).select("doc_id")

  private val nestedQuery = Query.parse("(spark OR window) AND merge")
  private val dismaxQuery =
    Query.DisMax(Seq(Query.Term("spark"), Query.Term("window")), tieBreaker = 0.1f)

  /** Per-(doc, term) positions decoded from the postings positions column
    * (DOCS_AND_FREQS_AND_POSITIONS read path). Returns
    * (doc_id LONG, term STRING, nb INT, pos ARRAY<INT>); positions are
    * 0-based raw-token ordinals (stopword holes counted).
    */
  def posHits(spark: SparkSession, sfDir: String, terms: Seq[String]): DataFrame = {
    import spark.implicits._
    val idx = indexDir(spark, sfDir)
    val names: Map[Long, String] =
      searcher(spark, sfDir).lookup(terms).map { case (t, d) => d.term_id -> t }
    if (names.isEmpty)
      return spark.emptyDataset[(Long, String, Int, Array[Int])]
        .toDF("doc_id", "term", "nb", "pos")
    val bn = spark.sparkContext.broadcast(names)
    spark.read.parquet(s"$idx/postings")
      .filter(col("term_id").isin(names.keySet.toSeq: _*))
      .select(PosBlock.cols.map(col): _*)
      .as[PosBlock]
      .flatMap { b =>
        val (docs, _, nbs, poss) = PostingCodec.decodePos(b)
        val term = bn.value(b.term_id)
        docs.indices.iterator.map(i => (docs(i), term, nbs(i) & 0xff, poss(i)))
      }
      .toDF("doc_id", "term", "nb", "pos")
  }

  def docsTable(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/documents.parquet")

  /** Bucket count for the sort-ordered early-termination store. Small
    * enough that a bucket holds >> k docs at scale (5000 docs/bucket at
    * sf0.1; a real deployment sizes buckets to segments), large enough that
    * the widening loop is exercised at the small SFs (~16 docs/bucket).
    */
  final val SortStoreBuckets = 32

  /** EarlyTerminatingSortingCollector's precondition, Spark-shaped: an
    * index SORTED by the field at WRITE time (SortingMergePolicy,
    * /root/reference/src/Lucene.Net.Misc/Index/Sorter/SortingMergePolicy.cs:40),
    * here a write-once parquet store range-partitioned by descending
    * `n_chars` bucket (bucket 0 = the sort head) so a top-k-by-field query
    * prunes to the leading partitions instead of scanning the table.
    */
  def sortedStoreDir(spark: SparkSession, sfDir: String): String =
    built.getOrElseUpdate(s"$sfDir#sorted", {
      val name = new java.io.File(sfDir).getName
      val dir = s"target/gate-index/$Version-sorted-$name"
      if (!new java.io.File(s"$dir/_SUCCESS").exists()) {
        val docs = docsTable(spark, sfDir).select(col("doc_id"), col("n_chars"))
        val r = docs.agg(min("n_chars"), max("n_chars")).head()
        val (lo, hi) = (r.getLong(0), r.getLong(1))
        val span = math.max(1L, hi - lo + 1)
        docs.withColumn("bucket",
            least(lit(SortStoreBuckets - 1),
              (lit(hi) - col("n_chars")) * SortStoreBuckets / span).cast("int"))
          .write.mode("overwrite").partitionBy("bucket").parquet(dir)
      }
      dir
    })

  /** EarlyTerminatingSortingCollector analog
    * (/root/reference/src/Lucene.Net.Misc/Index/Sorter/EarlyTerminatingSortingCollector.cs:59):
    * top-k by a field over the sort-ordered store, terminating the scan
    * after the leading partitions. The widening loop reads per-bucket
    * parquet COUNTs (rowgroup metadata only, partition-pruned) until k rows
    * are covered, then sorts just those buckets — every bucket <= the stop
    * point dominates every later bucket by construction, so the result is
    * exactly the global top-k while the data read is O(k), not O(N).
    */
  def sortEarly(spark: SparkSession, sfDir: String, k: Int): DataFrame = {
    val store = cachedRelation(spark, s"$sfDir#sorted", sortedStoreDir(spark, sfDir))
    var need = k.toLong
    var stop = 0
    while (need > 0 && stop < SortStoreBuckets) {
      need -= store.filter(col("bucket") === stop).count()
      stop += 1
    }
    store.filter(col("bucket") < stop) // PartitionFilters: bucket < stop
      .select(col("doc_id"), col("n_chars"))
      .orderBy(desc("n_chars"), asc("doc_id"))
      .limit(k)
  }

  // --------------------------- the query map -------------------------------

  /** All driver-facing queries. Names map 1:1 to [[GateOracle.sql]]. */
  /** (word, expected primary, expected alternate) — every 30th row of the
    * reference's DoubleMetaphone2Test surname vectors (see
    * src/test/resources/double_metaphone_vectors.tsv). The ENGINE only reads
    * the words; the expected keys feed the DuckDB oracle VALUES table.
    */
  val metaphoneSlate: Seq[(String, String, String)] = Seq(
    ("Alan", "ALN", "ALN"), ("Bachelour", "PXLR", "PKLR"),
    ("Benjamin", "PNJM", "PNJM"), ("Bodine", "PTN", "PTN"),
    ("Bruley", "PRL", "PRL"), ("Chambers", "XMPR", "XMPR"),
    ("Coleman", "KLMN", "KLMN"), ("Cutha", "K0", "KT"),
    ("Donahue", "TNH", "TNH"), ("Ellot", "ALT", "ALT"),
    ("Foulke", "FLK", "FLK"), ("Gater", "KTR", "KTR"),
    ("Guba", "KP", "KP"), ("Heald", "HLT", "HLT"),
    ("Houstin", "HSTN", "HSTN"), ("Jewitt", "JT", "AT"),
    ("La Pointe", "LPNT", "LPNT"), ("Levine", "LFN", "LFN"),
    ("MacKenneth", "MKN0", "MKNT"), ("McAllaster", "MKLS", "MKLS"),
    ("Mullins", "MLNS", "MLNS"), ("Page", "PJ", "PK"),
    ("Pickard", "PKRT", "PKRT"), ("Purdy", "PRT", "PRT"),
    ("Ruth", "R0", "RT"), ("Sherman", "XRMN", "XRMN"),
    ("Sperry", "SPR", "SPR"), ("Stout", "STT", "STT"),
    ("Throckmorton", "0RKM", "TRKM"), ("Ua Tuathail", "AT0L", "ATTL"),
    ("Wayne", "AN", "FN"), ("Wing", "ANK", "FNK"),
    ("de Braiose", "TPRS", "TPRS"), ("de Montault", "TMNT", "TMNT"),
    ("de Vexin", "TFKS", "TFKS"), ("of Bavaria", "AFPF", "AFPF"),
    ("of Meulan", "AFML", "AFML"), ("ORCHID", "ARKT", "ARKT"),
    ("bough", "P", "P"), ("hunger", "HNKR", "HNJR"),
    ("svobodka", "SFPT", "SFPT"))

  /** (encoder, word, expected key) — reference test-suite vectors for the
    * remaining commons-codec encoders (NysiisTest.cs dropby table,
    * RefinedSoundexTest.cs, Caverphone2Test.cs, ColognePhoneticTest.cs,
    * MatchRatingApproachEncoderTest.cs; mra_cmp rows are IsEncodeEquals
    * pairs joined by '|'). The ENGINE reads only (encoder, word) and must
    * re-derive the keys; the expected keys feed the oracle VALUES table
    * verbatim. Full golden coverage in PhoneticSpec.
    */
  val phoneticSlate: Seq[(String, String, String)] = Seq(
    ("nysiis", "MACINTOSH", "MCANT"), ("nysiis", "KNUTH", "NAT"),
    ("nysiis", "PHILLIPSON", "FALAPSAN"), ("nysiis", "PFEISTER", "FASTAR"),
    ("nysiis", "SCHOENHOEFT", "SANAFT"), ("nysiis", "HEITSCHMIDT", "HATSNAD"),
    ("nysiis", "WESTERLUND", "WASTARLAD"), ("nysiis", "CASSTEVENS", "CASTAFAN"),
    ("nysiis", "VASQUEZ", "VASG"), ("nysiis", "YAMADA", "YANAD"),
    ("nysiis", "MCKNIGHT", "MCNAGT"), ("nysiis", "DEUTSCH", "DAT"),
    ("refined", "testing", "T6036084"), ("refined", "quick", "Q503"),
    ("refined", "brown", "B1908"), ("refined", "jumped", "J408106"),
    ("refined", "lazy", "L7050"), ("refined", "dogs", "D6043"),
    ("caverphone2", "Stevenson", "STFNSN1111"), ("caverphone2", "Peter", "PTA1111111"),
    ("caverphone2", "Karleen", "KLN1111111"), ("caverphone2", "earth", "AT11111111"),
    ("caverphone2", "social", "SSA1111111"), ("caverphone2", "mbmb", "MPM1111111"),
    ("cologne", "schmidt", "862"), ("cologne", "schneider", "8627"),
    ("cologne", "wagner", "3467"), ("cologne", "hoffmann", "0366"),
    ("cologne", "Breschnew", "17863"), ("cologne", "Wikipedia", "3412"),
    ("cologne", "christstollen", "478256"), ("cologne", "Xanthippe", "48621"),
    ("cologne", "Eberhardt", "01772"), ("cologne", "heithabu", "021"),
    ("mra", "HARPER", "HRPR"), ("mra", "Smith", "SMTH"),
    ("mra", "Smyth", "SMYTH"), ("mra", "Catherine", "CTHRN"),
    ("mra_cmp", "smith|smyth", "true"), ("mra_cmp", "Catherine|Kathryn", "true"),
    ("mra_cmp", "Burns|Bourne", "true"), ("mra_cmp", "Micky|Michael", "true"),
    ("mra_cmp", "Karl|Alessandro", "false"), ("mra_cmp", "Al|Ed", "false"),
    ("mra_cmp", "Peterson|Peters", "true"), ("mra_cmp", "LIPSHITZ|LIPPSZYC", "true"),
    ("dm", "GERSCHFELD", "547830|545783|594783|594578"),
    ("dm", "AUERBACH", "097400|097500"), ("dm", "Mannheim", "665600"),
    ("dm", "Kleinmann", "586660"), ("dm", "Peterson", "734600|739460"),
    ("dm", "Ceniow", "467000|567000"), ("dm", "Holubica", "587400|587500"),
    ("dm", "Przemysl", "746480|794648"), ("dm", "Moskowitz", "645740"),
    ("dm", "Jackson", "154600|145460|454600|445460"),
    ("metaphone", "howl", "HL"), ("metaphone", "testing", "TSTN"),
    ("metaphone", "The", "0"), ("metaphone", "quick", "KK"),
    ("metaphone", "brown", "BRN"), ("metaphone", "fox", "FKS"),
    ("metaphone", "jumped", "JMPT"), ("metaphone", "over", "OFR"),
    ("metaphone", "lazy", "LS"), ("metaphone", "dogs", "TKS"),
    ("metaphone", "SCHEDULE", "SKTL"), ("metaphone", "CHARACTER", "KRKT"),
    ("caver1", "David", "TFT111"), ("caver1", "Whittle", "WTL111"),
    ("caver1", "Lee", "L11111"), ("caver1", "Thompson", "TMPSN1"),
    ("caver1", "mb", "M11111"), ("caver1", "mbmb", "MPM111"),
    ("caver1", "at", "AT1111"), ("caver1", "earth", "AT1111"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- index validation (termdict / norms / stats / postings content) ----
    "ft_termdict" -> ((s, d) => {
      val idx = indexDir(s, d)
      termdict(s, idx)
        .select(col("term"), col("df").cast("long"), col("ttf").cast("long"))
        .orderBy("term")
    }),
    "ft_norms" -> ((s, d) => {
      val idx = indexDir(s, d)
      s.read.parquet(s"$idx/norms")
        .select((col("norm").cast("int").bitwiseAND(lit(255))).cast("long").as("nb"))
        .groupBy("nb").agg(count(lit(1)).as("cnt"))
        .orderBy("nb")
    }),
    "ft_stats" -> ((s, d) => {
      val idx = indexDir(s, d)
      s.read.parquet(s"$idx/stats")
        .select(col("max_doc"), col("doc_count"), col("sum_ttf"), col("sum_df"))
    }),
    "ft_postings_term" -> ((s, d) => {
      import s.implicits._
      val idx = indexDir(s, d)
      val tid = searcher(s, d).lookup(Seq("query"))("query").term_id
      s.read.parquet(s"$idx/postings")
        .filter(col("term_id") === tid)
        .select(ScoreBlock.cols.map(col): _*)
        .as[ScoreBlock]
        .flatMap { b =>
          val (docs, tfs, _) = PostingCodec.decode(b)
          docs.indices.iterator.map(i => (docs(i), tfs(i).toLong))
        }
        .toDF("doc_id", "tf")
        .orderBy("doc_id")
    }),
    // --- ranked gates: every one below runs query.Searcher (or
    // WandSearcher where named) end-to-end — decode, float32 kernel,
    // packed-block combine, top-k — against a bit-exact REAL-arithmetic
    // DuckDB oracle. The ft_engine_* gates cover the engine paths (WAND,
    // payloads, collectors); the ft_q_* gates the query shapes.
    "ft_engine_term" -> ((s, d) => engineTopk(s, d, Query.Term("vector"), 10)),
    "ft_multi_collector" -> ((s, d) => {
      // MultiCollector(TopScoreDoc, TotalHitCount) analog: ONE pass — a
      // CollectMetrics (observe) node under the top-k counts every scored
      // row and tracks max score while the partial top-k consumes the same
      // stream; the TopDocs-style sidecar is projected onto each hit row.
      val (top, totals) = graft.query.Collectors.searchWithTotals(
        searcher(s, d), Query.Term("vector"), 10)
      val maxQ = totals.maxScore
        .map(m => math.floor(m.toDouble * 10000 + 0.5).toLong).getOrElse(0L)
      import s.implicits._
      top.toDF("doc_id", "score")
        .select(col("doc_id"), q(col("score").cast("double")).as("score_q"),
          lit(totals.totalHits).as("total_hits"), lit(maxQ).as("max_q"))
    }),
    "ft_engine_or" -> ((s, d) =>
      engineTopk(s, d, Query.Bool(should = Seq("spark", "window", "merge")), 10)),
    "ft_engine_wand" -> ((s, d) =>
      scoreQ(new WandSearcher(s, indexDir(s, d))
        .search(Query.Bool(should = Seq("spark", "window", "merge")), 10))),
    "ft_engine_conj" -> ((s, d) =>
      // the pruned multi-MUST path (BlockCombine's pruned combine: leapfrog +
      // verified-total bound skips) under the hard correctness signal
      scoreQ(new WandSearcher(s, indexDir(s, d))
        .search(Query.Bool(must = Seq("spark", "merge"), should = Seq("window")), 10))),
    "ft_engine_nested" -> ((s, d) => engineTopk(s, d, nestedQuery, 10)),
    "ft_engine_dismax" -> ((s, d) => engineTopk(s, d, dismaxQuery, 10)),
    "ft_engine_phrase" -> ((s, d) => engineTopk(s, d, Query.Phrase(Seq("fast", "table")), 10)),
    "ft_engine_payload" -> ((s, d) =>
      engineTopkIn(s, indexDirPayload(s, d), Query.PayloadTerm("vector"), 10)),
    // PayloadNearQuery, ordered, slop 0 — on this corpus (every position
    // payload-carrying, <= 2 adjacent merge->hash pairs per doc) the
    // shrink-to-shortest walk provably equals the adjacency-pair set, so
    // an exact SQL oracle exists; the walk's divergent cases (shrink
    // consumption, stale payloads, frontier repeats) are certified by
    // PayloadNearSpec instead
    "ft_engine_payload_near" -> ((s, d) =>
      engineTopkIn(s, indexDirPayload(s, d),
        Query.PayloadNear(Seq("merge", "hash"), 0, inOrder = true), 10)),
    // Min fold, payloadScore only (includeSpanScore = false) — ties on the
    // 8 distinct payload values resolve by doc_id ascending
    "ft_engine_payload_min" -> ((s, d) =>
      engineTopkIn(s, indexDirPayload(s, d), Query.PayloadTerm("vector",
        Query.PayloadFunc.Min, includeSpanScore = false), 10)),
    // --- search: term / boolean algebra / dismax / phrase (engine) ---------
    "ft_q_term" -> ((s, d) => engineTopk(s, d, Query.Term("vector"), 10)),
    "ft_q_term_stemmed" -> ((s, d) =>
      // EnglishAnalyzer index variant: the query analyzes through the same
      // chain ('merge' -> 'merg') and must hit the stemmed posting list. On
      // this closed corpus every stem group is a single surface form (checked
      // in PorterSpec), so the unstemmed SQL oracle is exactly equivalent;
      // the stemmer's own semantics carry golden-vector coverage in
      // PorterSpec.
      engineTopkIn(s, indexDirEnglish(s, d),
        Query.Term(graft.analysis.EnglishAnalyzer.terms("merge").head), 10)),
    "ft_q_term_rare" -> ((s, d) => engineTopk(s, d, Query.Term("dup"), 10)),
    "ft_q_or" -> ((s, d) => engineTopk(s, d, Query.Bool(should = Seq("spark", "window")), 10)),
    "ft_q_and" -> ((s, d) => engineTopk(s, d, Query.Bool(must = Seq("hash", "merge")), 10)),
    "ft_q_not" -> ((s, d) =>
      engineTopk(s, d, Query.Bool(must = Seq("table"), mustNot = Seq("slow")), 10)),
    "ft_q_mm" -> ((s, d) => engineTopk(s, d,
      Query.Bool(should = Seq("spark", "stream", "sort"), minShouldMatch = 2), 10)),
    "ft_q_dismax" -> ((s, d) => engineTopk(s, d, dismaxQuery, 10)),
    "ft_q_constant_score" -> ((s, d) =>
      // ConstantScoreQuery: every match scores exactly the boost (2.5 ->
      // quantized 25000); ties resolve by doc_id asc
      engineTopk(s, d, Query.ConstantScore(Query.Term("vector"), 2.5f), 10)),
    "ft_q_nested" -> ((s, d) => engineTopk(s, d, nestedQuery, 10)),
    "ft_q_phrase" -> ((s, d) => engineTopk(s, d, Query.Phrase(Seq("fast", "table")), 10)),
    "ft_q_phrase_sloppy" -> ((s, d) =>
      engineTopk(s, d, Query.Phrase(Seq("fast", "merge"), slop = 2), 10)),
    "ft_q_multi_phrase" -> ((s, d) =>
      engineTopk(s, d, Query.MultiPhrase(Seq(Seq("fast", "slow"), Seq("table"))), 10)),
    "ft_drill_down" -> ((s, d) =>
      // DrillDownQuery: base query + conjunctive facet filters
      // (/root/reference/src/Lucene.Net.Facet/DrillDownQuery.cs:67)
      rankQ(searcher(s, d).scoredDocs(Query.Term("data"))
        .join(docsTable(s, d).filter(col("lang") === "en" && col("source") === "src3")
          .select("doc_id"), "doc_id"), 10)),
    "ft_span_near" -> ((s, d) => spanNearQuery(s, d, "scan", "group", 3)),
    "ft_span_unordered" -> ((s, d) =>
      spanUnorderedQuery(s, d, Seq("vector", "merge", "scan"), 6)),
    "ft_span_first" -> ((s, d) => {
      // SpanFirstQuery: term occurrences within the first 5 positions
      import graft.query.Spans
      Spans.spans(s, indexDir(s, d), Spans.SpanFirst(Spans.SpanTerm("vector"), 5))
        .select(col("doc_id"), (col("start") + 1).cast("long").as("p"))
        .orderBy("doc_id", "p")
    }),
    "ft_span_or_near" -> ((s, d) => {
      // SpanNear(SpanOr(fast, slow), table, slop=1, ordered): composed span
      // algebra evaluated from the positions index
      import graft.query.Spans
      Spans.spans(s, indexDir(s, d),
          Spans.SpanNear(Spans.SpanOr(Seq(Spans.SpanTerm("fast"), Spans.SpanTerm("slow"))),
            Spans.SpanTerm("table"), slop = 1, inOrder = true))
        .select(col("doc_id"), (col("start") + 1).cast("long").as("start_pos"),
          col("end").cast("long").as("end_pos"))
        .orderBy("doc_id", "start_pos", "end_pos")
    }),
    // --- MultiTermQuery rewrites, the engine's own leaves -----------------
    "ft_q_prefix" -> ((s, d) => engineTopk(s, d, Query.Prefix("s"), 10)),
    "ft_q_prefix_wide" -> ((s, d) => {
      // CONSTANT_SCORE_AUTO rewrite past the clause cap: the prefix is
      // NEVER expanded — the ENGINE (query.Searcher) executes it as a
      // term_id-interval docset filter, every match scoring exactly the
      // boost (MultiTermQuery.cs:65-121, ConstantScoreAutoRewrite.cs:263).
      // The corpus has 6 's%' terms; cap 4 forces the switch — the same
      // code path a >1024-term expansion takes at scale.
      val key = "graft.rewrite.maxExpansions"
      val prev = sys.props.get(key)
      sys.props(key) = "4"
      try engineTopk(s, d, Query.Prefix("s", 2.5f), 10)
      finally {
        prev match { case Some(v) => sys.props(key) = v; case None => sys.props -= key }
      }
    }),
    "ft_q_must_prefix" -> ((s, d) =>
      // multi-term expansion under MUST = a nested SHOULD group inside the
      // conjunction (BooleanQuery rewrite): the s% group gates the doc,
      // optional 'merge' adds when present
      engineTopk(s, d, Query.BoolQ(Seq(
        (Query.Must, Query.Prefix("s")), (Query.Should, Query.Term("merge")))), 10)),
    "ft_q_wildcard" -> ((s, d) => engineTopk(s, d, Query.Wildcard("w?ndow"), 10)),
    "ft_q_fuzzy" -> ((s, d) => engineTopk(s, d, Query.Fuzzy("soft", 1), 10)),
    // FuzzyQuery at reference strength: distance <= 2, the top 50 terms by
    // similarity (TopTermsRewrite), each boosted by its similarity
    "ft_q_fuzzy2" -> ((s, d) => engineTopk(s, d, Query.Fuzzy("soft", 2), 10)),
    // driven end-to-end through the classic query parser
    "ft_q_parser" -> ((s, d) => engineTopk(s, d, Query.parse("+table -slow fast^2"), 10)),
    "ft_q_range" -> ((s, d) => {
      // per doc, how many range-expanded terms it holds
      val srch = searcher(s, d)
      srch.expand(Query.TermRange("batch", "data"))
        .map(t => srch.scoredDocs(Query.Term(t)).select("doc_id"))
        .reduce(_ union _)
        .groupBy("doc_id").agg(count(lit(1)).cast("long").as("nterms"))
        .orderBy("doc_id")
    }),
    "ft_q_absent" -> ((s, d) => engineTopk(s, d, Query.Term("zzz"), 10)),
    "ft_q_paging" -> ((s, d) => pagingQuery(s, d, Query.Term("vector"), 10)),
    "ft_delete" -> ((s, d) =>
      // liveDocs-style delete application (BufferedUpdates/LiveDocsFormat,
      // engine path: StreamingIndexer.deleteDocs + Searcher anti-join; tested
      // bit-exactly in DeleteSpec): every doc_id divisible by 7 is buried,
      // then a term query must not surface any of them.
      rankQ(searcher(s, d).scoredDocs(Query.Term("table"))
        .join(docsTable(s, d).filter(col("doc_id") % 7 === 0).select("doc_id"),
          Seq("doc_id"), "left_anti"), 10)),
    "ft_count_all" -> ((s, d) => {
      val idx = indexDir(s, d)
      s.read.parquet(s"$idx/norms").agg(count(lit(1)).as("cnt"))
    }),
    // --- facets / grouping / joins over the engine's scorer stream --------
    "ft_facet_lang" -> ((s, d) =>
      docsOf(s, d, "spark")
        .join(docsTable(s, d), "doc_id")
        .groupBy("lang").agg(count(lit(1)).as("cnt"))
        .orderBy("lang")),
    "ft_facet_range" -> ((s, d) =>
      docsOf(s, d, "merge")
        .join(docsTable(s, d), "doc_id")
        .select(when(col("n_chars") < 200, "0-200")
          .when(col("n_chars") < 300, "200-300")
          .otherwise("300+").as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("cnt"))
        .orderBy("bucket")),
    "ft_group_top" -> ((s, d) => {
      // GroupingSearch top-k-per-group, k = 3 (two-pass grouping collector,
      // /root/reference/src/Lucene.Net.Grouping/GroupingSearch.cs:112-174)
      val base = searcher(s, d).scoredDocs(Query.Term("data"))
        .join(docsTable(s, d).select("doc_id", "source"), "doc_id")
      val w = Window.partitionBy("source").orderBy(desc("score"), asc("doc_id"))
      base.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("source"), col("rn").cast("long").as("rn"), col("doc_id"),
          q(col("score").cast("double")).as("score_q"))
        .orderBy("source", "rn")
    }),
    "ft_group_distinct" -> ((s, d) =>
      // AbstractDistinctValuesCollector (reference /root/reference/src/
      // Lucene.Net.Grouping/AbstractDistinctValuesCollector.cs:25): per group
      // (source), the DISTINCT values of a second field (lang) over a query's
      // hits. One hash-partitioned groupBy; collect_set state is bounded by
      // the value-field cardinality, never the hit count — safe at any scale.
      docsOf(s, d, "data")
        .join(docsTable(s, d).select("doc_id", "source", "lang"), "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("cnt"),
          countDistinct(col("lang")).as("n_langs"),
          concat_ws(",", sort_array(collect_set(col("lang")))).as("langs"))
        .orderBy("source")),
    "ft_group_facet" -> ((s, d) =>
      // AbstractGroupFacetCollector (reference /root/reference/src/
      // Lucene.Net.Grouping/AbstractGroupFacetCollector.cs:30): facet counts
      // de-duplicated per GROUP — for each facet value (lang), how many
      // distinct groups (source) and how many hit docs carry it.
      docsOf(s, d, "data")
        .join(docsTable(s, d).select("doc_id", "source", "lang"), "doc_id")
        .groupBy("lang")
        .agg(countDistinct(col("source")).as("n_groups"),
          count(lit(1)).as("doc_cnt"))
        .orderBy("lang")),
    "ft_group_block" -> ((s, d) => {
      // BlockGroupingCollector (reference /root/reference/src/
      // Lucene.Net.Grouping/BlockGroupingCollector.cs:36-56): top-N GROUPS
      // ranked by each group's best hit, with the top-k docs inside each.
      // One hash shuffle on the group key feeds both the within-group
      // row_number and the group-max ranking; the 5-group winner set joins
      // back broadcast-sized.
      val base = searcher(s, d).scoredDocs(Query.Term("data"))
        .join(docsTable(s, d).select("doc_id", "source"), "doc_id")
      val wDoc = Window.partitionBy("source").orderBy(desc("score"), asc("doc_id"))
      val ranked = base.withColumn("rn", row_number().over(wDoc)).filter(col("rn") <= 2)
      val groups = ranked.groupBy("source").agg(max("score").as("gs"))
        .orderBy(desc("gs"), asc("source")).limit(5)
      ranked.join(broadcast(groups), "source")
        .select(col("source"), q(col("gs").cast("double")).as("gmax"),
          col("rn").cast("long").as("rn"), col("doc_id"),
          q(col("score").cast("double")).as("score_q"))
        .orderBy(desc("gmax"), col("source"), col("rn"))
    }),
    "ft_sort_field" -> ((s, d) =>
      // TopFieldCollector: top-k by a stored field, not by score
      // (/root/reference/src/Lucene.Net/Search/TopFieldCollector.cs:37;
      // SortField semantics SortField.cs:516-604)
      docsOf(s, d, "stream")
        .join(docsTable(s, d).select("doc_id", "n_chars"), "doc_id")
        .orderBy(desc("n_chars"), asc("doc_id"))
        .limit(10)),
    "ft_sort_early" -> ((s, d) => sortEarly(s, d, 20)),
    "ft_facet_sum" -> ((s, d) =>
      // TaxonomyFacetSumValueSource: facet aggregation by expression
      // (/root/reference/src/Lucene.Net.Facet/Taxonomy/TaxonomyFacetSumValueSource.cs)
      docsOf(s, d, "spark")
        .join(docsTable(s, d), "doc_id")
        .groupBy("lang").agg(sum("n_chars").as("sum_chars"), count(lit(1)).as("cnt"))
        .orderBy("lang")),
    "ft_facet_tree" -> ((s, d) => {
      // HIERARCHICAL taxonomy facets (FastTaxonomyFacetCounts,
      // /root/reference/src/Lucene.Net.Facet/Taxonomy/FastTaxonomyFacetCounts.cs:34;
      // taxonomy tree under Taxonomy/Directory/): a two-level dimension
      // lang -> lang/source over the 'index' hits. Parent counts are the
      // ROLLUP of their children (rn=0 rows); child rows carry the
      // top-children-per-parent ordinal (count desc, ord asc — the
      // GetTopChildren contract), kept to 3 per parent.
      val base = docsOf(s, d, "index")
        .join(docsTable(s, d).select("doc_id", "lang", "source"), "doc_id")
      val children = base.groupBy("lang", "source").agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("lang").orderBy(desc("cnt"), asc("source"))
      val topChildren = children.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(concat(col("lang"), lit("/"), col("source")).as("path"),
          col("cnt"), col("rn").cast("long").as("rn"))
      val parents = children.groupBy("lang").agg(sum("cnt").as("cnt"))
        .select(col("lang").as("path"), col("cnt"), lit(0L).as("rn"))
      parents.unionByName(topChildren).orderBy("path", "rn")
    }),
    "ft_drill_sideways" -> ((s, d) => drillSideways(s, d)),
    "ft_suggest" -> ((s, d) => suggest(s, d, "tabel", 5)),
    "ft_suggest_prefix" -> ((s, d) => {
      // AnalyzingSuggester-family typeahead (reference
      // /root/reference/src/Lucene.Net.Suggest/Suggest/Analyzing/AnalyzingSuggester.cs:90,
      // FreeTextSuggester.cs): completions of an analyzed prefix ranked by
      // weight (here ttf — corpus frequency, the FreeTextSuggester weight).
      // A prefix scan over the SORTED termdict: StringStartsWith pushes to
      // the parquet scan, so only the matching dictionary range is read —
      // the FST-prefix-walk analog.
      val idx = indexDir(s, d)
      termdict(s, idx)
        .filter(col("term").startsWith("pro"))
        .select(col("term"), col("ttf").cast("long").as("weight"))
        .orderBy(desc("weight"), asc("term"))
        .limit(8)
    }),
    "ft_suggest_free" -> ((s, d) => {
      // FreeTextSuggester lookup: continuations of context token 'time'
      // ranked by bigram frequency from the ONCE-BUILT LM table
      // ([[suggestFreeDir]]); the w1 filter prunes to sorted row groups.
      s.read.parquet(suggestFreeDir(s, d))
        .filter(col("w1") === lit("time"))
        .select(col("w2").as("next"), col("cnt"))
        .orderBy(desc("cnt"), asc("next"))
        .limit(8)
    }),
    "ft_explain" -> ((s, d) => {
      // IndexSearcher.Explain (reference
      // /root/reference/src/Lucene.Net/Search/IndexSearcher.cs Explain +
      // BM25Similarity.ExplainScore): the engine's float32 per-clause score
      // BREAKDOWN for the top-1 doc of a 2-term disjunction, decomposed as
      // the reference renders it — idf(docFreq, maxDocs) and
      // tfNorm = tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)) — next to the
      // kernel's clause score and the engine's total.
      import s.implicits._
      val qTerms = Seq("table", "value")
      val srch = searcher(s, d)
      val st = srch.stats
      val dfs = srch.lookup(qTerms).map { case (t, r) => t -> r.df }
      val cache = Bm25.buildCache(Bm25.avgFieldLength(st.sum_ttf, st.max_doc))
      val top1 = srch.search(Query.Bool(should = qTerms), 1)
      posHits(s, d, qTerms).join(top1, "doc_id")
        .select(col("doc_id"), col("term"), size(col("pos")), col("nb"), col("score"))
        .as[(Long, String, Int, Int, Float)]
        .map { case (doc, term, tf, nb, total) =>
          val idf = Bm25.idf(dfs(term), st.max_doc)
          val tfNorm = tf * (Bm25.K1 + 1) / (tf + cache(nb))
          (doc, term, tf.toLong, dfs(term), nb.toLong, idf.toDouble, tfNorm.toDouble,
            Bm25.score(Bm25.weightValue(idf), tf, cache, nb.toByte).toDouble, total.toDouble)
        }
        .toDF("doc_id", "term", "tf", "df", "nb", "idf", "tfnorm", "sc", "total")
        .select(col("doc_id"), col("term"), col("tf"), col("df"), col("nb"),
          q(col("idf")).as("idf_q"), q(col("tfnorm")).as("tfnorm_q"),
          q(col("sc")).as("clause_q"), q(col("total")).as("total_q"))
        .orderBy("term")
    }),
    "ft_suggest_jaro" -> ((s, d) => {
      // JaroWinklerDistance spell ranking (reference
      // Suggest/Spell/JaroWinklerDistance.cs:30): every dictionary term
      // scored against the misspelling, top-5 by similarity. The Scala
      // implementation (query.StringDistance) is double-bit-exact with
      // DuckDB's jaro_winkler_similarity (0.7-threshold Winkler bonus), so
      // the quantized scores hash-match.
      import s.implicits._
      val idx = indexDir(s, d)
      termdict(s, idx).select(col("term")).as[String]
        .map(t => (t, math.floor(
          graft.query.StringDistance.jaroWinkler(t, "tabel") * 10000.0 + 0.5).toLong))
        .toDF("term", "jw_q")
        .orderBy(desc("jw_q"), asc("term"))
        .limit(5)
    }),
    "ft_suggest_fuzzy" -> ((s, d) => {
      // FuzzySuggester (reference Suggest/Analyzing/FuzzySuggester.cs:58):
      // typeahead tolerating 1 edit INSIDE the typed prefix — candidates
      // whose first |p| chars are within Levenshtein 1 of the prefix,
      // ranked by weight (ttf) like the exact-prefix path. Dictionary-sized
      // scan, same cost class as DirectSpellChecker (ft_suggest).
      val idx = indexDir(s, d)
      termdict(s, idx)
        .filter(levenshtein(substring(col("term"), 1, 3), lit("pro")) <= 1)
        .select(col("term"), col("ttf").cast("long").as("weight"))
        .orderBy(desc("weight"), asc("term"))
        .limit(8)
    }),
    "ft_join_score" -> ((s, d) => {
      // JoinUtil.CreateJoinQuery SCORE MODES (reference
      // /root/reference/src/Lucene.Net.Join/JoinUtil.cs:29,
      // TermsIncludingScoreQuery.cs): from-side 'dup' hit scores aggregate
      // per join value (source) under Min/Max/Total/Avg, attached to the
      // to-side (every doc of that source). Per-doc scores are quantized
      // BEFORE aggregation so min/max/sum are integer ops (order-free);
      // avg is one double divide of exact integers — deterministic.
      val from = searcher(s, d).scoredDocs(Query.Term("dup"))
        .select(col("doc_id"), q(col("score").cast("double")).as("sq"))
        .join(docsTable(s, d).select("doc_id", "source"), "doc_id")
      val agg = from.groupBy("source")
        .agg(min("sq").as("min_q"), max("sq").as("max_q"),
          sum("sq").as("sum_q"), count(lit(1)).as("from_hits"))
        .withColumn("avg_q",
          floor(col("sum_q").cast("double") / col("from_hits") + 0.5).cast("long"))
      docsTable(s, d).groupBy("source").agg(count(lit(1)).as("to_docs"))
        .join(agg, "source")
        .select(col("source"), col("to_docs"), col("min_q"), col("max_q"),
          col("sum_q"), col("avg_q"), col("from_hits"))
        .orderBy("source")
    }),
    "ft_high_freq_terms" -> ((s, d) => {
      // HighFreqTerms (/root/reference/src/Lucene.Net.Misc/Misc/HighFreqTerms.cs):
      // top terms by document frequency from the term dictionary
      val idx = indexDir(s, d)
      termdict(s, idx)
        .select(col("term"), col("df").cast("long"), col("ttf").cast("long"))
        .orderBy(desc("df"), asc("term"))
        .limit(10)
    }),
    "ft_highlight_multi" -> ((s, d) => highlightMulti(s, d, "vector", 3, 3)),
    "ft_q_regexp" -> ((s, d) => engineTopk(s, d, Query.Regexp("^w.ndow$"), 10)),
    "ft_join" -> ((s, d) => {
      val srcs = docsOf(s, d, "dup")
        .join(docsTable(s, d).select("doc_id", "source"), "doc_id")
        .select("source").distinct()
      docsTable(s, d).join(srcs, Seq("source"), "left_semi")
        .groupBy("source").agg(count(lit(1)).as("cnt"))
        .orderBy("source")
    }),
    "ft_block_join" -> ((s, d) =>
      searcher(s, d).scoredDocs(Query.Term("vector"))
        .join(docsTable(s, d).select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(max("score").as("ms"), count(lit(1)).as("hits"))
        .orderBy(desc("ms"), asc("source"))
        .limit(5)
        .select(col("source"), q(col("ms").cast("double")).as("max_q"), col("hits"))),
    // --- second-stage / derived query operators ----------------------------
    "ft_more_like_this" -> ((s, d) => moreLikeThis(s, d, 0L, 5, 10)),
    "ft_rescore" -> ((s, d) => {
      // QueryRescorer analog: BM25 top-20 first pass, re-ranked by the
      // combined (first-pass score + n_chars) second-stage key.
      val first = engineTopk(s, d, Query.Term("query"), 20)
      first.join(docsTable(s, d).select("doc_id", "n_chars"), "doc_id")
        .select(col("doc_id"), (col("score_q") + col("n_chars")).cast("long").as("rescore"))
        .orderBy(desc("rescore"), asc("doc_id"))
        .limit(10)
    }),
    "ft_common_terms" -> ((s, d) => {
      // CommonTermsQuery analog: low-df terms form a MUST group (>=1
      // required), high-df terms (df > 0.79*N) an optional SHOULD group
      // that only contributes score.
      val srch = searcher(s, d)
      val dict = srch.lookup(Seq("dup", "batch", "key"))
      val (low, high) = dict.values.toSeq.partition(_.df <= 0.79 * srch.stats.max_doc)
      def group(ts: Seq[TermDictRow]) = Query.BoolQ(ts.map(t => (Query.Should, Query.Term(t.term))))
      val clauses: Seq[(Query.Occur, Query)] = (Query.Must, group(low)) +:
        (if (high.isEmpty) Nil else Seq((Query.Should, group(high))))
      scoreQ(srch.search(Query.BoolQ(clauses), 10))
    }),
    "ft_highlight" -> ((s, d) => {
      // PostingsHighlighter analog: first occurrence position of the term in
      // each top doc + a 4-token snippet window from the stored text.
      import s.implicits._
      val top = engineTopk(s, d, Query.Term("vector"), 5).select("doc_id")
      top.join(docsTable(s, d).select("doc_id", "text"), "doc_id")
        .as[(Long, String)]
        .map { case (id, text) =>
          val toks = text.split(" ", -1)
          val p = toks.indexOf("vector")
          val snippet = toks.slice(p, math.min(p + 4, toks.length)).mkString(" ")
          (id, (p + 1).toLong, snippet)
        }
        .toDF("doc_id", "pos", "snippet")
        .orderBy("doc_id")
    }),
    "ft_postings_offsets" -> ((s, d) => {
      // Character offsets read from the POSTINGS (the 4th IndexOptions
      // rung, vs ft_term_vector's doc-major storage): per doc containing
      // 'vector', its tf and the first occurrence's character span. The
      // off_bytes column is read only here — scoring scans prune it.
      import s.implicits._
      val idx = indexDirOffsets(s, d)
      val tid = new Searcher(s, idx).lookup(Seq("vector"))("vector").term_id
      s.read.parquet(s"$idx/postings")
        .filter(col("term_id") === lit(tid))
        .select("first_doc", "cnt", "doc_bytes", "tf_bytes", "off_bytes")
        .as[(Long, Int, Array[Byte], Array[Byte], Array[Byte])]
        .flatMap { case (firstDoc, cnt, docB, tfB, offB) =>
          val gaps = graft.codec.ForCodec.unpack(docB)
          val tfs = graft.codec.ForCodec.unpack(tfB).map(_.toInt)
          val offs = graft.codec.PostingCodec.unpackOffsets(offB, tfs)
          var d0 = firstDoc
          (0 until cnt).iterator.map { i =>
            if (i > 0) d0 += gaps(i - 1)
            (d0, tfs(i).toLong, offs(i)(0).toLong, offs(i)(1).toLong)
          }
        }
        .toDF("doc_id", "tf", "first_start", "first_end")
        .orderBy("doc_id")
        .limit(25)
    }),
    "ft_term_vector" -> ((s, d) => {
      // Term vectors (doc-major per-doc mini inverted index, reference
      // TermVectorsWriter with positions + offsets): three docs' vectors —
      // per term: tf, first raw-ordinal position, first character span.
      val tv = termVectorsDir(s, d)
      TermVectors.fetch(s, tv, Seq(0L, 1L, 2L))
        .select(col("doc_id"), col("term"), col("tf").cast("long"),
          col("positions").getItem(0).cast("long").as("first_pos"),
          col("starts").getItem(0).cast("long").as("first_start"),
          col("ends").getItem(0).cast("long").as("first_end"))
        .orderBy("doc_id", "term")
    }),
    "ft_highlight_offsets" -> ((s, d) => {
      // PostingsHighlighter over STORED OFFSETS (reference
      // ICUPostingsHighlighter-era offsets use, FieldType.StoreTermVectorOffsets):
      // top-5 docs for 'vector'; the snippet is sliced from the stored text
      // by the vector's first-occurrence character span — no re-analysis.
      val top = engineTopk(s, d, Query.Term("vector"), 5).select("doc_id")
      val tv = s.read.parquet(termVectorsDir(s, d))
        .filter(col("term") === lit("vector"))
        .select(col("doc_id"), col("starts").getItem(0).cast("long").as("start_off"),
          col("ends").getItem(0).cast("long").as("end_off"))
      top.join(tv, "doc_id")
        .join(docsTable(s, d).select("doc_id", "text"), "doc_id")
        .select(col("doc_id"), col("start_off"), col("end_off"),
          expr("substring(text, cast(start_off + 1 as int), 25)").as("snippet"))
        .orderBy("doc_id")
    }),
    // --- training-data pipeline ops ---------------------------------------
    "dedup_exact" -> ((s, d) =>
      docsTable(s, d)
        .select(md5(col("text").cast("binary")).as("h"))
        .groupBy("h").agg(count(lit(1)).as("c"))
        .groupBy("c").agg(count(lit(1)).as("groups"))
        .orderBy("c")
        .withColumnRenamed("c", "cnt")),
    "sim_int8_topk" -> ((s, d) => int8TopK(s, d, 10)),
    "ann_pq" -> ((s, d) => annPq(s, d, 10)),
    "pack_sequences" -> ((s, d) => {
      // Concat-and-chunk SEQUENCE PACKING (the standard LLM-pretraining
      // batching step): documents stream concatenated in stable doc_id
      // order WITHIN each source; a context-window boundary falls every
      // 2048 tokens and a doc belongs to the bin its first token lands in.
      // SHARDED two-level prefix sum so no single source ever serializes
      // into one sort partition at 100 TB: (1) each source x doc-range
      // shard computes its LOCAL running token sum, (2) a shard-count-sized
      // offsets table (one row per 4096-doc shard) carries each shard's
      // starting token offset via a per-source prefix sum, (3) carry +
      // local = the global running sum, bit-identical to a single global
      // window (the oracle computes exactly that). The offsets table is
      // ~N/4096 rows — broadcast-sized into the add-back join.
      val docs = docsTable(s, d)
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("tok"))
      packBins(docs).groupBy("source", "bin")
        .agg(count(lit(1)).as("docs"), sum("tok").as("toks"))
        .groupBy("source")
        .agg(count(lit(1)).as("bins"), max("docs").as("max_docs"),
          sum("toks").as("total_toks"),
          sum(col("bin") * col("docs")).as("checksum"))
        .orderBy("source")
    }),
    "sample_stratified" -> ((s, d) => {
      // Deterministic hash-threshold STRATIFIED sampling (reproducible
      // training-data downsampling, no RNG state): keep a doc iff the first
      // 4 hex chars of md5("s1|" + doc_id) fall below the stratum's
      // threshold — en 25% (< '4000'), fr 50% (< '8000'), other langs 100%.
      // Identical at any parallelism or cluster size, stable under re-runs
      // and incremental appends; all codegen'd built-ins, one shuffle.
      val key = md5(concat(lit("s1|"), col("doc_id").cast("string")).cast("binary"))
      val thr = when(col("lang") === "en", lit("4000"))
        .when(col("lang") === "fr", lit("8000")).otherwise(lit("g"))
      val keep = substring(key, 1, 4) < thr
      docsTable(s, d).select(col("doc_id"), col("lang"))
        .groupBy("lang")
        .agg(count(lit(1)).as("total"),
          sum(when(keep, 1).otherwise(0)).as("sampled"),
          sum(when(keep, col("doc_id")).otherwise(0L)).as("id_checksum"))
        .orderBy("lang")
    }),
    "text_metaphone" -> ((s, d) => {
      // DoubleMetaphone encoder (reference /root/reference/src/
      // Lucene.Net.Analysis.Phonetic/Language/DoubleMetaphone.cs via
      // DoubleMetaphoneFilter.cs): the engine encodes a fixed slate of 41
      // reference surnames DISTRIBUTED (mapPartitions shape — one encoder per
      // partition); the oracle carries the reference test suite's expected
      // (primary, alternate) keys verbatim, so any rule drift in the encoder
      // hash-fails. Full 1221-vector coverage lives in PhoneticSpec.
      import s.implicits._
      s.createDataset(metaphoneSlate.map(_._1)).repartition(4)
        .mapPartitions { it =>
          it.map { w =>
            val (p, a) = graft.analysis.DoubleMetaphone.encode(w)
            (w, p, a)
          }
        }
        .toDF("word", "dm_primary", "dm_alternate")
        .orderBy("word")
    }),
    "text_phonetic" -> ((s, d) => {
      // NYSIIS (relaxed), RefinedSoundex, Caverphone 1.0 + 2.0, Kölner
      // Phonetik, Daitch-Mokotoff, original Metaphone and
      // MatchRatingApproach encode+compare (reference
      // Lucene.Net.Analysis.Phonetic/Language/*.cs via the encoder-generic
      // PhoneticFilter seam): the
      // engine re-derives every key DISTRIBUTED via the same
      // TokenFilters.phonetic(terms, inject, encode) path the analyzer
      // chain uses; the oracle carries the reference suites' expected keys.
      import s.implicits._
      import graft.analysis.{PhoneticEncoders => PE, TokenFilters}
      s.createDataset(phoneticSlate.map { case (e, w, _) => (e, w) }).repartition(4)
        .mapPartitions { it =>
          it.map { case (enc, w) =>
            val f: String => String = enc match {
              case "nysiis"  => PE.nysiis(_, strict = false)
              case "refined" => PE.refinedSoundex
              case "cologne" => PE.cologne
              case "dm"      => PE.daitchMokotoff
              case "metaphone" => PE.metaphone(_)
              case "caver1"  => PE.caverphone1
              case "mra"     => PE.mra
              case "mra_cmp" => w => {
                val Array(a, b) = w.split('|'); PE.mraEquals(a, b).toString
              }
              case _         => PE.caverphone2
            }
            (enc, w, TokenFilters.phonetic(Array(w), inject = false, f)(0))
          }
        }
        .toDF("encoder", "word", "key")
        .orderBy("encoder", "word")
    }),
    "text_soundex" -> ((s, d) => {
      // Phonetic key clustering over the term dictionary: top soundex
      // buckets by distinct-term count (reference phonetic module,
      // Soundex.cs US_ENGLISH + PhoneticFilter). TokenFilters.soundex (the
      // commons-codec H-W-rule variant the reference wraps) over the
      // dictionary-sized termdict, not the corpus — the big table never
      // re-tokenizes.
      import s.implicits._
      val idx = indexDir(s, d)
      termdict(s, idx).select(col("term"), col("df").cast("long")).as[(String, Long)]
        .map { case (t, df) => (graft.analysis.TokenFilters.soundex(t), df) }
        .toDF("key", "df")
        .filter(col("key") =!= "")
        .groupBy("key")
        .agg(count(lit(1)).as("n_terms"), sum("df").as("sum_df"))
        .orderBy(desc("n_terms"), desc("sum_df"), asc("key"))
        .limit(10)
    }),
    "dedup_minhash" -> ((s, d) => minhashPairs(s, d)),
    "dedup_groups" -> ((s, d) =>
      // pairwise matches -> transitive duplicate GROUPS (connected
      // components over the MinHash-verified pair list; see
      // operators.ConnectedComponents for the scale argument)
      graft.operators.ConnectedComponents.groups(
        minhashPairs(s, d).select("d1", "d2"))),
    "dedup_ngram_jaccard" -> ((s, d) => ngramJaccard(s, d)),
    "dedup_simhash" -> ((s, d) => simhashPairs(s, d)),
    "ann_lsh" -> ((s, d) => annLsh(s, d, 5)),
    "ann_ivf" -> ((s, d) => annIvf(s, d, 5)),
    "text_quality" -> ((s, d) => textQuality(s, d)),
    "text_langid" -> ((s, d) => textLangId(s, d)),
    "text_fingerprint" -> ((s, d) => textFingerprint(s, d)),
    "text_token_bpe" -> ((s, d) => textTokenCounts(s, d)),
    "dedup_embedding" -> ((s, d) => dedupEmbedding(s, d, 0.3)),
    "ft_analyze_expr" -> ((s, d) => {
      // the codegen'd Catalyst analyzer expression (graft.functions
      // .AnalyzeTerms), registered via the SparkSessionExtensions hook /
      // runtime registry — tokenization as a native SQL function
      graft.functions.GraftFunctions.register(s)
      val terms = expr("graft_terms(text)")
      docsTable(s, d)
        .select(col("doc_id"), size(terms).cast("long").as("n_terms"),
          when(size(terms) > 0, element_at(terms, 1)).as("first_term"))
        .orderBy("doc_id")
        .limit(100)
    }),
    "multimodal_meta" -> ((s, d) => {
      // Multimodal-column plumbing over an opaque binary column (the text
      // bytes stand in for undecodable media; engine-side typed extraction
      // incl. the header decoder lives in graft.multimodal.Media, tested in
      // MediaSpec): byte length, checksum, and a stride-16 byte "frame
      // sample" — all computed on the binary, never the string.
      val m = docsTable(s, d)
        .select(col("doc_id"), col("text").cast("binary").as("media"))
      m.select(col("doc_id"),
          length(col("media")).cast("long").as("byte_len"),
          md5(col("media")).as("checksum"),
          concat((0 until 4).map(i =>
            hex(substring(col("media"), 1 + 16 * i, 1))): _*).as("frame_sample"))
        .orderBy("doc_id")
        .limit(100)
    }),
    "sim_topk" -> ((s, d) => simTopk(s, d, 10)),
    "sessionize" -> ((s, d) => sessionize(s, d)),
    "ft_percolate" -> ((s, d) => {
      // Batch percolation (reference MemoryIndex.cs:159's stated use):
      // a standing query pool broadcasts; each doc is analyzed once into a
      // single-doc in-RAM index and matched in place — one narrow pass,
      // no shuffle, no join. Output = (doc_id, query_id) match pairs.
      val pool: Seq[(String, Query)] = Seq(
        "and_vector_search" -> Query.Bool(must = Seq("vector", "search")),
        "phrase_fast_table" -> Query.Phrase(Seq("fast", "table")),
        "mm2_spark_index_merge" -> Query.Bool(
          should = Seq("spark", "index", "merge"), minShouldMatch = 2),
        "data_not_merge" -> Query.Bool(
          must = Seq("data"), mustNot = Seq("merge")))
      graft.operators.Percolator
        .percolate(docsTable(s, d), "doc_id", "text", pool)
        .orderBy("query_id", "doc_id")
    })
  )

  // ------------------------- multi-step queries ----------------------------

  /** MoreLikeThis: the seed doc's terms ranked by float32 tf * idf
    * interest (top `nTerms`, ties by term), run through the engine as a
    * SHOULD disjunction excluding the seed
    * (reference Lucene.Net.Queries/Mlt/MoreLikeThis.cs semantics, with
    * the engine's BM25 idf).
    */
  def moreLikeThis(spark: SparkSession, sfDir: String, seedDoc: Long,
                   nTerms: Int, k: Int): DataFrame = {
    import spark.implicits._
    val srch = searcher(spark, sfDir)
    val text = docsTable(spark, sfDir).filter(col("doc_id") === seedDoc)
      .select("text").as[String].head()
    val tf = Analyzer.termFreqs(text)._1
    val dict = srch.lookup(tf.keys.toSeq)
    val interesting = tf.toSeq
      .filter { case (t, _) => dict.contains(t) }
      .map { case (t, f) => (t, f * Bm25.idf(dict(t).df, srch.stats.max_doc)) }
      .sortBy { case (t, i) => (-i, t) }
      .take(nTerms).map(_._1)
    rankQ(srch.scoredDocs(Query.Bool(should = interesting))
      .filter(col("doc_id") =!= seedDoc), k)
  }

  /** Two-term positions join from the index — (doc_id, nb, pos1, pos2). */
  private def posPairs(spark: SparkSession, sfDir: String, t1: String, t2: String) = {
    import spark.implicits._
    val ph = posHits(spark, sfDir, Seq(t1, t2))
    val a = ph.filter(col("term") === t1).select(col("doc_id"), col("nb"), col("pos").as("pos1"))
    val b = ph.filter(col("term") === t2).select(col("doc_id"), col("pos").as("pos2"))
    a.join(b, "doc_id").as[(Long, Int, Seq[Int], Seq[Int])]
  }

  /** Ordered SpanNearQuery analog from the positions index: matches = ordered
    * (p1, p2) pairs with 1 <= p2 - p1 <= window (span algebra over the
    * positions table; /root/reference/src/Lucene.Net/Search/Spans/NearSpansOrdered.cs
    * semantics collapsed to a pair count).
    */
  def spanNearQuery(spark: SparkSession, sfDir: String, t1: String, t2: String,
                    window: Int): DataFrame = {
    import spark.implicits._
    posPairs(spark, sfDir, t1, t2)
      .map { case (docId, _, pos1, pos2) =>
        var m = 0L
        pos1.foreach { p1 =>
          pos2.foreach { p2 => if (p2 - p1 >= 1 && p2 - p1 <= window) m += 1 }
        }
        (docId, m)
      }
      .filter(_._2 > 0)
      .toDF("doc_id", "matches")
      .orderBy("doc_id")
  }

  /** Unordered k-ary SpanNear from the positions index (NearSpansUnordered
    * CellQueue walk, [[graft.query.Spans.SpanNearUnorderedK]]), gated on the
    * SQL-expressible single-frontier subset: docs where every clause term
    * occurs exactly once, where the walk tests one frontier and the match
    * condition collapses to max(p) - min(p) <= slop + (k - 1). The full
    * multi-occurrence walk carries golden coverage in SpansSpec.
    */
  def spanUnorderedQuery(spark: SparkSession, sfDir: String, terms: Seq[String],
                         slop: Int): DataFrame = {
    import graft.query.Spans
    val idx = indexDir(spark, sfDir)
    val spans = Spans.spans(spark, idx,
      Spans.SpanNearUnorderedK(terms.map(Spans.SpanTerm), slop))
    val singles = docsTable(spark, sfDir)
      .select(col("doc_id"), explode(split(col("text"), " ", -1)).as("t"))
      .filter(col("t").isin(terms: _*))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(count(lit(1)).as("nt"), max("c").as("mx"))
      .filter(col("nt") === terms.size && col("mx") === 1)
      .select("doc_id")
    spans.join(singles, "doc_id")
      .select(col("doc_id"), col("start").cast("long"), col("end").cast("long"))
      .orderBy("doc_id", "start", "end")
  }

  /** SearchAfter paging: page 2 (ranks k+1..2k) of an engine query — the
    * collector keeps `(score, doc_id)` of the page-1 tail and ranks only
    * the docs after it.
    */
  def pagingQuery(spark: SparkSession, sfDir: String, qry: Query, k: Int): DataFrame = {
    val srch = searcher(spark, sfDir)
    val page1 = srch.search(qry, k).collect()
    val after =
      if (page1.length < k) lit(false)
      else {
        val (ld, ls) = (page1.last.getLong(0), page1.last.getFloat(1))
        col("score") < ls || (col("score") === ls && col("doc_id") > ld)
      }
    rankQ(srch.scoredDocs(qry).filter(after), k)
  }

  /** DrillSideways (/root/reference/src/Lucene.Net.Facet/DrillSideways.cs:50):
    * with drill-down filters lang='en' AND source='src3' over the 'data'
    * hits, each dimension's counts are computed as if its OWN filter were
    * dropped (one pass per dim minus its predicate).
    */
  def drillSideways(spark: SparkSession, sfDir: String): DataFrame = {
    val base = docsOf(spark, sfDir, "data")
      .join(docsTable(spark, sfDir), "doc_id")
    val langSideways = base.filter(col("source") === "src3")
      .groupBy("lang").agg(count(lit(1)).as("cnt"))
      .select(lit("lang").as("dim"), col("lang").as("value"), col("cnt"))
    val srcSideways = base.filter(col("lang") === "en")
      .groupBy("source").agg(count(lit(1)).as("cnt"))
      .select(lit("source").as("dim"), col("source").as("value"), col("cnt"))
    langSideways.unionByName(srcSideways).orderBy("dim", "value")
  }

  /** DirectSpellChecker-style suggestion
    * (/root/reference/src/Lucene.Net.Suggest/Spell/DirectSpellChecker.cs:49):
    * candidate terms within edit distance 2 of the (misspelled) query,
    * ranked by (distance asc, df desc, term asc).
    */
  def suggest(spark: SparkSession, sfDir: String, qterm: String, n: Int): DataFrame = {
    val idx = indexDir(spark, sfDir)
    termdict(spark, idx)
      .filter(levenshtein(col("term"), lit(qterm)) <= 2)
      .select(col("term"), levenshtein(col("term"), lit(qterm)).cast("long").as("dist"),
        col("df").cast("long").as("df"))
      .orderBy(asc("dist"), desc("df"), asc("term"))
      .limit(n)
  }

  /** Multi-passage highlighter from the POSITIONS index
    * (PostingsHighlighter semantics — offsets/positions from postings, not
    * re-analysis; /root/reference/src/Lucene.Net.Highlighter/Highlight/Highlighter.cs:34):
    * first `nPass` occurrences per top doc, each with a 3-token snippet.
    */
  def highlightMulti(spark: SparkSession, sfDir: String, term: String,
                     kDocs: Int, nPass: Int): DataFrame = {
    import spark.implicits._
    val top = engineTopk(spark, sfDir, Query.Term(term), kDocs).select("doc_id")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    posHits(spark, sfDir, Seq(term))
      .join(top, "doc_id")
      .select(col("doc_id"), explode(col("pos")).as("p0"))
      .withColumn("pos", col("p0") + 1) // 1-based like the oracle's pos CTE
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= nPass)
      .join(docsTable(spark, sfDir).select("doc_id", "text"), "doc_id")
      .select(col("doc_id"), col("p0"), col("pos"), col("text"))
      .as[(Long, Int, Int, String)]
      .map { case (id, p0, pos, text) =>
        val toks = text.split(" ", -1)
        (id, pos.toLong, toks.slice(p0, math.min(p0 + 3, toks.length)).mkString(" "))
      }
      .toDF("doc_id", "pos", "snippet")
      .orderBy("doc_id", "pos")
  }

  /** MinHash+LSH near-duplicate pairs over raw 3-token shingles: 8 md5-derived
    * minhashes, banded 2-per-band, candidate pairs verified with exact Jaccard
    * >= 0.8. All hash material is md5 hex strings so the oracle SQL computes
    * the identical candidates.
    */
  def minhashPairs(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val sh = docsTable(spark, sfDir).select("doc_id", "text")
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val raw = text.split(" ", -1)
        (0 until math.max(0, raw.length - 2)).iterator
          .map(i => (id, raw(i) + " " + raw(i + 1) + " " + raw(i + 2)))
      }
      .toDF("doc_id", "s").distinct()
    val ks = explode(sequence(lit(0), lit(7))).as("k")
    val mh = sh.select(col("doc_id"), col("s"), ks)
      .select(col("doc_id"), col("k"),
        md5(concat(col("k").cast("string"), lit("|"), col("s")).cast("binary")).as("h"))
      .groupBy("doc_id", "k").agg(min("h").as("h"))
    val bands = mh
      .withColumn("band", (col("k") / 2).cast("int"))
      .groupBy("doc_id", "band")
      .agg(concat_ws("", sort_array(collect_list(struct(col("k"), col("h")))
        .getField("h"))).as("bv"))
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val inter = cand
      .join(sh.select(col("doc_id").as("d1"), col("s")), "d1")
      .join(sh.select(col("doc_id").as("d2"), col("s")), Seq("d2", "s"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("i"))
    inter
      .join(sizes.select(col("doc_id").as("d1"), col("sz").as("sa")), "d1")
      .join(sizes.select(col("doc_id").as("d2"), col("sz").as("sb")), "d2")
      .withColumn("j", col("i").cast("double") / (col("sa") + col("sb") - col("i")))
      .filter(col("j") >= 0.8)
      .select(col("d1"), col("d2"), q(col("j")).as("jaccard_q"))
      .orderBy("d1", "d2")
  }

  /** Raw 3-token shingle sets per doc (shared by the n-gram dedup ops). */
  private def shingles(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    docsTable(spark, sfDir).select("doc_id", "text")
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val raw = text.split(" ", -1)
        (0 until math.max(0, raw.length - 2)).iterator
          .map(i => (id, raw(i) + " " + raw(i + 1) + " " + raw(i + 2)))
      }
      .toDF("doc_id", "s").distinct()
  }

  /** Exact n-gram Jaccard dedup: candidate docs are those containing the
    * planted rare marker term 'dup'; each is compared against EVERY doc
    * (shingle-set Jaccard >= 0.8). The no-LSH baseline of dedup_minhash.
    */
  def ngramJaccard(spark: SparkSession, sfDir: String): DataFrame = {
    val sh = shingles(spark, sfDir)
    val marked = docsOf(spark, sfDir, "dup").select(col("doc_id").as("d1"))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val inter = marked
      .join(sh.select(col("doc_id").as("d1"), col("s")), "d1")
      .join(sh.select(col("doc_id").as("d2"), col("s")), Seq("s"))
      .filter(col("d1") =!= col("d2"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("i"))
    inter
      .join(sizes.select(col("doc_id").as("d1"), col("sz").as("sa")), "d1")
      .join(sizes.select(col("doc_id").as("d2"), col("sz").as("sb")), "d2")
      .withColumn("j", col("i").cast("double") / (col("sa") + col("sb") - col("i")))
      .filter(col("j") >= 0.8)
      .select(col("d1"), col("d2"), q(col("j")).as("jaccard_q"))
      .orderBy("d1", "d2")
  }

  /** SimHash near-dup: 64-BIT signature per doc (md5's leading 64 bits as
    * two 32-bit halves — hex material the oracle SQL reproduces exactly):
    * bit b votes +1 when bit b of the shingle's hash is set, else -1; the
    * sign of the vote sum is the signature bit. Pairs of 'dup'-marked docs
    * vs all docs at Hamming distance <= 3.
    *
    * Hamming-LSH banding (pigeonhole): distance <= 3 over 64 bits split
    * into four 16-BIT bands means at least one band is identical, so
    * candidates come from an equality join on (band, value) — complete for
    * the <= 3 radius, never a cross product. 65536 keys per band keep the
    * per-bucket population ~N/65536 (vs N/16 for 4-bit bands), so the
    * per-bucket candidate quadratic stays bounded at corpus scale; random
    * 64-bit pairs pass the radius with p ~ 2^-45, so the verify set is
    * near-pure true positives.
    */
  def simhashPairs(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val sh = shingles(spark, sfDir).as[(Long, String)]
    val sigs = sh.map { case (id, s) => (id, md5hex32(s, 0), md5hex32(s, 8)) }
      .groupByKey(_._1)
      .mapGroups { (id, it) =>
        val votes = new Array[Int](64)
        it.foreach { case (_, hi, lo) =>
          var b = 0
          while (b < 32) {
            votes(b) += (if (((hi >> b) & 1L) == 1L) 1 else -1)
            votes(b + 32) += (if (((lo >> b) & 1L) == 1L) 1 else -1)
            b += 1
          }
        }
        var sigHi = 0L
        var sigLo = 0L
        var b = 0
        while (b < 32) {
          if (votes(b) > 0) sigHi |= (1L << b)
          if (votes(b + 32) > 0) sigLo |= (1L << b)
          b += 1
        }
        (id, sigHi, sigLo)
      }
      .toDF("doc_id", "sig_hi", "sig_lo")
    val bandCols = Seq(
      shiftright(col("sig_hi"), 16).bitwiseAND(lit(0xFFFFL)),
      col("sig_hi").bitwiseAND(lit(0xFFFFL)),
      shiftright(col("sig_lo"), 16).bitwiseAND(lit(0xFFFFL)),
      col("sig_lo").bitwiseAND(lit(0xFFFFL)))
    val banded = sigs.select(col("doc_id"), col("sig_hi"), col("sig_lo"),
      posexplode(array(bandCols: _*)).as(Seq("band", "bv")))
    val marked = docsOf(spark, sfDir, "dup").select(col("doc_id").as("d1"))
    val markedBands = marked.join(
      banded.select(col("doc_id").as("d1"), col("sig_hi").as("h1"),
        col("sig_lo").as("l1"), col("band"), col("bv")), "d1")
    markedBands
      .join(banded.select(col("doc_id").as("d2"), col("sig_hi").as("h2"),
        col("sig_lo").as("l2"), col("band"), col("bv")), Seq("band", "bv"))
      .filter(col("d1") =!= col("d2"))
      .select("d1", "d2", "h1", "l1", "h2", "l2").distinct()
      .withColumn("ham", expr("bit_count(h1 ^ h2) + bit_count(l1 ^ l2)"))
      .filter(col("ham") <= 3)
      .select(col("d1"), col("d2"), col("ham").cast("long").as("hamming"))
      .orderBy("d1", "d2")
  }

  /** 32 bits of md5(s) from 8 hex nibbles starting at `off` (0 = bits
    * 0..31 of the signature space, 8 = bits 32..63).
    */
  def md5hex32(s: String, off: Int): Long = {
    val hex = org.apache.commons.codec.digest.DigestUtils.md5Hex(s)
    java.lang.Long.parseLong(hex.substring(off, off + 8), 16)
  }

  /** The 16 deterministic md5-derived sign hyperplanes shared by the ANN-LSH
    * write and probe paths: h(p)[j] = (first byte of md5(p|j)) - 127.5 —
    * identical arithmetic in the oracle SQL.
    */
  private def lshPlanes(numPlanes: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(numPlanes) { p =>
      Array.tabulate(dim) { j =>
        Integer.parseInt(
          org.apache.commons.codec.digest.DigestUtils.md5Hex(s"$p|$j").substring(0, 2),
          16) - 127.5
      }
    }

  private def lshBucket(e: Array[Float], planes: Array[Array[Double]]): Int = {
    var bits = 0
    var p = 0
    while (p < planes.length) {
      var dot = 0.0
      var j = 0
      while (j < e.length) { dot += e(j).toDouble * planes(p)(j); j += 1 }
      if (dot >= 0) bits |= (1 << p)
      p += 1
    }
    bits
  }

  val AnnLshPlanes = 16

  /** WRITE-TIME bucket assignment: the embeddings table re-materialized with
    * the 16-plane sign bucket as a PARTITION column, so a probe set prunes
    * file listings instead of filtering a full scan (built once per sf,
    * cached like the index).
    */
  def annLshDir(spark: SparkSession, sfDir: String): String =
    built.getOrElseUpdate(s"$sfDir#annlsh", {
      val name = new java.io.File(sfDir).getName
      val dir = s"target/gate-index/$Version-ann-lsh-$name"
      if (!new java.io.File(s"$dir/_SUCCESS").exists()) {
        import spark.implicits._
        val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
          .select(col("vec_id"), col("embedding"))
          .as[(Long, Array[Float])]
        val dim = emb.head()._2.length
        val bp = spark.sparkContext.broadcast(lshPlanes(AnnLshPlanes, dim))
        emb.map { case (id, e) => (id, e, lshBucket(e, bp.value)) }
          .toDF("vec_id", "embedding", "bucket")
          .write.mode("overwrite").partitionBy("bucket").parquet(dir)
      }
      dir
    })

  /** LSH-bucketed approximate nearest neighbours: 16 deterministic
    * md5-derived random hyperplanes -> 65536 sign buckets written as a
    * PARTITION column at ingest ([[annLshDir]]), MULTI-PROBE over every
    * bucket within Hamming distance 3 of the query's (697 probes ~ 1% of the
    * bucket space, pushed as a PartitionFilters IN-set so only probed
    * partitions are even listed), exact cosine re-rank within the probed
    * buckets (the scale path next to the brute-force sim_topk baseline).
    */
  def annLsh(spark: SparkSession, sfDir: String, k: Int): DataFrame = {
    import spark.implicits._
    val bucketed = annLshTable(spark, sfDir)
    // query vector: a point lookup on the base table (pushed-down vec_id=0)
    val qv: Array[Float] = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].filter(_._1 == 0L).head()._2
    val qb = lshBucket(qv, lshPlanes(AnnLshPlanes, qv.length))
    // multi-probe set: the query bucket plus all 1-, 2- and 3-bit flips
    val probes: Seq[Int] =
      (0 until (1 << AnnLshPlanes)).filter(b => Integer.bitCount(b ^ qb) <= 3)
    val bq = spark.sparkContext.broadcast(qv.map(_.toDouble))
    val nq = math.sqrt(bq.value.map(x => x * x).sum)
    bucketed
      .filter(col("bucket").isin(probes: _*) && col("vec_id") =!= 0L)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .map { case (id, e) =>
        var dot = 0.0; var ne = 0.0; var j = 0
        while (j < e.length) {
          val x = e(j).toDouble
          dot += x * bq.value(j)
          ne += x * x
          j += 1
        }
        (id, dot / (math.sqrt(ne) * nq))
      }
      .toDF("vec_id", "cos")
      .select(col("vec_id"), q(col("cos")).as("cos_q"))
      .orderBy(desc("cos_q"), asc("vec_id"))
      .limit(k)
  }

  /** IVF list count: ~sqrt(N) (the standard rule — per-list population and
    * list count grow together), floored at 8 so tiny corpora keep a real
    * multi-list structure. Mirrored in the oracle SQL.
    */
  def ivfNlist(n: Long): Int = math.max(8, math.ceil(math.sqrt(n.toDouble)).toInt)

  /** L2^2 to a centroid, ascending-index sum (matches the SQL list_sum). */
  private def ivfD2(e: Array[Float], c: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < e.length) {
      val x = e(i).toDouble - c(i)
      acc += x * x
      i += 1
    }
    acc
  }

  /** Deterministic coarse-quantizer centroids: the vectors of ids 1..nlist
    * (the "trained on a sample" stand-in; a production build k-means-trains
    * them, the plumbing is identical). Cached per (session, sf) — the
    * centroid table is the quantizer MODEL, loaded once at serving start,
    * not re-collected per query. Unlike [[relations]] (whose DataFrame
    * values pin their session, forcing explicit eviction), these values are
    * plain arrays with no back-reference, so weak keying genuinely reclaims
    * entries after a session is collected.
    */
  private val centroids =
    new java.util.WeakHashMap[SparkSession, scala.collection.concurrent.TrieMap[String, Array[(Long, Array[Double])]]]()

  private def centroidCache(spark: SparkSession): scala.collection.concurrent.TrieMap[String, Array[(Long, Array[Double])]] =
    centroids.synchronized {
      var m = centroids.get(spark)
      if (m == null) {
        m = scala.collection.concurrent.TrieMap[String, Array[(Long, Array[Double])]]()
        centroids.put(spark, m)
      }
      m
    }

  private def ivfCentroids(spark: SparkSession, sfDir: String): Array[(Long, Array[Double])] =
    centroidCache(spark).getOrElseUpdate(sfDir, {
      import spark.implicits._
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id"), col("embedding"))
        .as[(Long, Array[Float])]
      val nlist = ivfNlist(emb.count())
      emb.filter(r => r._1 >= 1 && r._1 <= nlist)
        .collect().sortBy(_._1)
        .map { case (id, e) => (id, e.map(_.toDouble)) }
    })

  /** WRITE-TIME IVF assignment: the embeddings table re-materialized with
    * each vector's L2-nearest list id as a PARTITION column (nlist ~ sqrt(N)
    * directories), so an nprobe-list probe reads ~nprobe/nlist of the table
    * by partition pruning (built once per sf, cached like the index).
    */
  def annIvfDir(spark: SparkSession, sfDir: String): String =
    built.getOrElseUpdate(s"$sfDir#annivf", {
      val name = new java.io.File(sfDir).getName
      val dir = s"target/gate-index/$Version-ann-ivf-$name"
      if (!new java.io.File(s"$dir/_SUCCESS").exists()) {
        import spark.implicits._
        val bc = spark.sparkContext.broadcast(ivfCentroids(spark, sfDir))
        spark.read.parquet(s"$sfDir/embeddings.parquet")
          .select(col("vec_id"), col("embedding"))
          .as[(Long, Array[Float])]
          .map { case (id, e) =>
            val list = bc.value.map { case (cid, cv) => (ivfD2(e, cv), cid) }.min._2
            (id, e, list)
          }
          .toDF("vec_id", "embedding", "list")
          .write.mode("overwrite").partitionBy("list").parquet(dir)
      }
      dir
    })

  /** IVF approximate nearest neighbours over the list-partitioned table
    * ([[annIvfDir]]): the query probes its nprobe nearest lists — an IN-set
    * on the partition column, so only probed lists are read — with exact
    * cosine re-rank inside them.
    */
  def annIvf(spark: SparkSession, sfDir: String, k: Int,
             nprobe: Int = 3): DataFrame = {
    import spark.implicits._
    val listed = annIvfTable(spark, sfDir)
    val centroids = ivfCentroids(spark, sfDir)
    val qv: Array[Double] = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].filter(_._1 == 0L).head()._2.map(_.toDouble)
    val probes: Seq[Long] = centroids
      .map { case (cid, cv) =>
        var acc = 0.0
        var i = 0
        while (i < qv.length) { val x = qv(i) - cv(i); acc += x * x; i += 1 }
        (acc, cid)
      }
      .sorted.take(nprobe).map(_._2).toSeq
    val bq = spark.sparkContext.broadcast(qv)
    val nq = math.sqrt(qv.map(x => x * x).sum)
    listed
      .filter(col("list").isin(probes: _*) && col("vec_id") =!= 0L)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .map { case (id, e) =>
        var dot = 0.0; var ne = 0.0; var j = 0
        while (j < e.length) {
          val x = e(j).toDouble
          dot += x * bq.value(j)
          ne += x * x
          j += 1
        }
        (id, dot / (math.sqrt(ne) * nq))
      }
      .toDF("vec_id", "cos")
      .select(col("vec_id"), q(col("cos")).as("cos_q"))
      .orderBy(desc("cos_q"), asc("vec_id"))
      .limit(k)
  }

  /** Per-doc quality metrics: emitted tokens, distinct terms, raw tokens and
    * the stop/dropped ratio (quantized).
    */
  def textQuality(spark: SparkSession, sfDir: String): DataFrame = {
    val idx = indexDir(spark, sfDir)
    val lens = spark.read.parquet(s"$idx/norms")
      .select(col("doc_id"), col("len").cast("long").as("tokens"))
    val raw = docsTable(spark, sfDir)
      .select(col("doc_id"), size(split(col("text"), " ", -1)).cast("long").as("raw_tokens"))
    val distinctTerms = {
      import spark.implicits._
      spark.read.parquet(s"$idx/postings")
        .select(ScoreBlock.cols.map(col): _*)
        .as[ScoreBlock]
        .flatMap { b =>
          val (docs, _, _) = PostingCodec.decode(b)
          docs.iterator.map(d => (d, b.term_id))
        }
        .toDF("doc_id", "term_id").distinct()
        .groupBy("doc_id").agg(count(lit(1)).as("distinct_terms"))
    }
    lens.join(raw, "doc_id")
      .join(distinctTerms, Seq("doc_id"), "left")
      .na.fill(0, Seq("distinct_terms"))
      .select(col("doc_id"), col("tokens"), col("distinct_terms"), col("raw_tokens"),
        q((col("raw_tokens") - col("tokens")) * lit(1.0) / col("raw_tokens"))
          .as("stop_ratio_q"))
      .orderBy("doc_id")
      .limit(100)
  }

  /** Language-ID by stopword-profile hits (the n-gram-heuristic family at
    * its word-gram point): per language, count tokens hitting a small
    * marker list; predicted = highest count, ties broken by language code
    * ascending, all-zero -> "und" (the BCP-47 undetermined tag). At scale:
    * one narrow projection, no shuffle (per-row arithmetic only).
    */
  def textLangId(spark: SparkSession, sfDir: String): DataFrame = {
    val profiles: Seq[(String, Seq[String])] = Seq(
      "de" -> Seq("der", "die", "das", "und", "ist", "nicht"),
      "en" -> Seq("the", "a", "and", "is", "of", "to"),
      "es" -> Seq("el", "los", "que", "es", "una", "por"),
      "fr" -> Seq("le", "les", "est", "une", "dans", "pour"),
      "zh" -> Seq("的", "是", "了", "在", "和", "有"))
    val toks = split(col("text"), " ", -1)
    val hitCols = profiles.map { case (lang, markers) =>
      size(filter(toks, t => t.isInCollection(markers))).cast("long").as(s"${lang}_hits")
    }
    val withHits = docsTable(spark, sfDir).select(col("doc_id") +: hitCols: _*)
    val g = greatest(profiles.map(p => col(s"${p._1}_hits")): _*)
    // tie-break = the CASE order (language code ascending) — mirrored in SQL
    val pred = when(g === 0, lit("und"))
      .otherwise(profiles.foldRight(lit(null).cast("string")) { case ((lang, _), acc) =>
        when(col(s"${lang}_hits") === g, lit(lang)).otherwise(acc)
      })
    withHits
      .select((col("doc_id") +: profiles.map(p => col(s"${p._1}_hits"))) :+
        pred.as("pred_lang"): _*)
      .orderBy("doc_id")
      .limit(200)
  }

  /** Document fingerprinting by winnowing (Schleimer et al., SIGMOD'03 —
    * the rolling-hash fingerprint family): 3-token shingles hashed with
    * md5, a w=4 sliding window over consecutive shingle hashes, the
    * window minimum selected, distinct selected hashes = the doc's
    * fingerprint set. Guarantees every match of >= w+2 tokens shares a
    * fingerprint. At scale: narrow per-doc window functions, one shuffle
    * on doc_id.
    */
  def textFingerprint(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docsTable(spark, sfDir)
      .select(col("doc_id"), posexplode(split(col("text"), " ", -1)).as(Seq("p", "t")))
    val w = Window.partitionBy("doc_id").orderBy("p")
    val sh = toks
      .withColumn("t2", lead("t", 1).over(w))
      .withColumn("t3", lead("t", 2).over(w))
      .filter(col("t3").isNotNull)
      .select(col("doc_id"), col("p"),
        md5(concat_ws(" ", col("t"), col("t2"), col("t3"))).as("h"))
    val ww = Window.partitionBy("doc_id").orderBy("p").rowsBetween(0, 3)
    val maxP = Window.partitionBy("doc_id")
    sh.withColumn("fp", min("h").over(ww))
      .withColumn("mp", max("p").over(maxP))
      .filter(col("p") <= col("mp") - 3)
      .select(col("doc_id"), col("fp")).distinct()
      .orderBy("doc_id", "fp")
  }

  /** Token counting two ways (training-data accounting): whitespace tokens
    * and a BPE-ish regex segmentation (letter runs | digit runs | single
    * other non-space — the pre-tokenizer shape of byte-pair encoders).
    * Per-row arithmetic only; no shuffle.
    */
  def textTokenCounts(spark: SparkSession, sfDir: String): DataFrame =
    docsTable(spark, sfDir)
      .select(col("doc_id"),
        size(filter(split(col("text"), "\\s+", -1), t => length(t) > 0))
          .cast("long").as("ws_tokens"),
        size(expr("regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\\\s]', 0)"))
          .cast("long").as("bpe_tokens"))
      .orderBy("doc_id")
      .limit(200)

  /** Embedding-cosine near-duplicate pairs — the dedup variant of the ANN
    * machinery: 32 sign hyperplanes -> a 32-bit signature split into four
    * 8-BIT bands (256 keys per band); candidate pairs join on (band, bits)
    * EQUALITY (never a cross product), then exact double-precision cosine
    * >= tau verifies.
    *
    * Parameter law (standard (r, L) banded sign-LSH): per-plane agreement
    * p = 1 - theta/pi; recall = 1 - (1 - p^r)^L; expected candidate rate
    * for unrelated pairs (p ~ 0.5) = L * 2^-r. Widening bands (r) divides
    * the random-candidate volume by 2^(delta r) — the scale lever — while
    * recall at a given similarity is recovered by MORE band tables (L) or
    * multi-probe, never by narrower bands. r=8 cuts the candidate volume
    * ~12x vs the 4-bit config on this corpus while keeping the verified
    * near-dup pairs; at 100 TB with a near-dup threshold (cos >= 0.9,
    * p ~ 0.86) the same L=4, r=8 yields ~74% single-pass recall and
    * ~1/64 candidate rate, and r scales up with log2(N) as buckets grow.
    */
  def dedupEmbedding(spark: SparkSession, sfDir: String, tau: Double): DataFrame = {
    import spark.implicits._
    val NumPlanes = 32
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
    val dim = emb.head()._2.length
    val planes: Array[Array[Double]] = Array.tabulate(NumPlanes) { p =>
      Array.tabulate(dim) { j =>
        Integer.parseInt(
          org.apache.commons.codec.digest.DigestUtils.md5Hex(s"$p|$j").substring(0, 2),
          16) - 127.5
      }
    }
    val bp = spark.sparkContext.broadcast(planes)
    val bands = emb.flatMap { case (id, e) =>
      var bits = 0L
      var p = 0
      while (p < NumPlanes) {
        var dot = 0.0
        var j = 0
        while (j < e.length) { dot += e(j).toDouble * bp.value(p)(j); j += 1 }
        if (dot >= 0) bits |= (1L << p)
        p += 1
      }
      (0 until 4).iterator.map(b => (b, (bits >> (8 * b)) & 0xFFL, id))
    }.toDF("band", "bits", "vec_id")
    val cands = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bits") === col("b.bits") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("d1"), col("b.vec_id").as("d2"))
      .distinct()
    val ev = emb.toDF("vec_id", "e")
    cands
      .join(ev.select(col("vec_id").as("d1"), col("e").as("e1")), "d1")
      .join(ev.select(col("vec_id").as("d2"), col("e").as("e2")), "d2")
      .select(col("d1"), col("d2"), col("e1"), col("e2"))
      .as[(Long, Long, Array[Float], Array[Float])]
      .map { case (d1, d2, e1, e2) =>
        var dot = 0.0
        var n1 = 0.0
        var n2 = 0.0
        var j = 0
        while (j < e1.length) {
          val x = e1(j).toDouble
          val y = e2(j).toDouble
          dot += x * y; n1 += x * x; n2 += y * y
          j += 1
        }
        (d1, d2, dot / (math.sqrt(n1) * math.sqrt(n2)))
      }
      .toDF("d1", "d2", "cos")
      .filter(col("cos") >= tau)
      .select(col("d1"), col("d2"), q(col("cos")).as("cos_q"))
      .orderBy("d1", "d2")
  }

  /** Brute-force cosine top-k over the embeddings table vs. the vec_id=0
    * vector (ANN baseline; dot/norms in double with sequential fold).
    */
  def simTopk(spark: SparkSession, sfDir: String, k: Int): DataFrame = {
    import spark.implicits._
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
    val qv: Array[Double] = emb.filter(_._1 == 0L).head()._2.map(_.toDouble)
    val bq = spark.sparkContext.broadcast(qv)
    val nq = {
      var acc = 0.0; var i = 0
      while (i < qv.length) { acc += qv(i) * qv(i); i += 1 }
      math.sqrt(acc)
    }
    emb.map { case (id, e) =>
      val v = bq.value
      var dot = 0.0; var ne = 0.0; var i = 0
      while (i < e.length) {
        val x = e(i).toDouble
        dot += x * v(i)
        ne += x * x
        i += 1
      }
      (id, dot / (math.sqrt(ne) * nq))
    }.toDF("vec_id", "cos")
      .select(col("vec_id"), q(col("cos")).as("cos_q"))
      .orderBy(desc("cos_q"), asc("vec_id"))
      .limit(k)
  }

  /** Int8 SCALAR QUANTIZATION of the embedding store + integer-dot top-k:
    * per-vector symmetric codes q_i = floor(x_i * 127 / max|x| + 0.5) — 4x
    * smaller storage and SIMD-able integer dot products, the standard
    * compressed serving layout for a 100 TB embedding store. The per-vector
    * scales CANCEL in cosine, so ranking needs only the integer codes:
    * cos~ = qdot / (|q_e| * |q_q|). Half-up rounding is spelled
    * floor(x + 0.5) on both sides because DuckDB's round() is
    * half-away-from-zero while the JVM's is half-up — the one spelling that
    * is bit-identical everywhere. All-zero vectors carry no direction and
    * are excluded symmetrically.
    */
  def int8TopK(spark: SparkSession, sfDir: String, k: Int): DataFrame = {
    import spark.implicits._
    def quant(e: Array[Float]): Array[Long] = {
      var m = 0.0; var j = 0
      while (j < e.length) { val a = math.abs(e(j).toDouble); if (a > m) m = a; j += 1 }
      if (m == 0.0) null
      else {
        val out = new Array[Long](e.length)
        j = 0
        while (j < e.length) {
          out(j) = math.floor(e(j).toDouble * 127.0 / m + 0.5).toLong
          j += 1
        }
        out
      }
    }
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
    val qq: Array[Long] = quant(emb.filter(_._1 == 0L).head()._2)
    // all-zero query carries no direction: fail fast on the driver instead
    // of broadcasting a null and NPE-ing inside executor flatMaps
    require(qq != null, "int8TopK: query vector (vec_id 0) is all-zero")
    val bq = spark.sparkContext.broadcast(qq)
    val nq = {
      var acc = 0.0; var i = 0
      while (i < qq.length) { acc += qq(i).toDouble * qq(i); i += 1 }
      math.sqrt(acc)
    }
    emb.flatMap { case (id, e) =>
      val qe = quant(e)
      if (qe == null) None
      else {
        val v = bq.value
        var dot = 0L; var ne = 0.0; var i = 0
        while (i < qe.length) {
          dot += qe(i) * v(i)
          ne += qe(i).toDouble * qe(i)
          i += 1
        }
        Some((id, dot, dot.toDouble / (math.sqrt(ne) * nq)))
      }
    }.toDF("vec_id", "idot", "cos")
      .select(col("vec_id"), col("idot"), q(col("cos")).as("cos_q"))
      .orderBy(desc("cos_q"), asc("vec_id"))
      .limit(k)
  }

  /** Product-quantization ANN (Jegou, Douze, Schmid, "Product Quantization
    * for Nearest Neighbor Search", IEEE TPAMI 2011): vectors split into
    * m=8 subspaces of 8 dims, each encoded as its nearest sub-codebook
    * centroid id (ks=16 -> 4 bits/subspace: 32 bits/vector vs 256 bytes,
    * 64x). Queries score by Asymmetric Distance Computation: ONE m x ks
    * table of exact query-to-centroid sub-distances, approx distance = sum
    * of m table lookups. Per-subspace distances are quantized to integers
    * BEFORE the final sum so the total is addition-order-free (exact parity
    * with the SQL oracle regardless of fold order). Codebooks are
    * DETERMINISTIC — the subvectors of vec ids 1..ks, the ann_ivf centroid
    * convention — so the oracle mirrors encode+ADC bit-for-bit; production
    * swaps k-means codebooks behind the same encode/score shape.
    *
    * 100 TB: codes are 4 bytes/vector, the codebook is broadcast-sized,
    * encode is one pass over the store, ADC scans only codes (a 64x
    * smaller scan than raw floats); compose with IVF partition pruning
    * (ann_ivf) for sublinear candidate sets.
    */
  final val PqM = 8
  final val PqKs = 16

  private def pqD2(a: Array[Double], boff: Int, b: Array[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < b.length) { val t = a(boff + i) - b(i); acc += t * t; i += 1 }
    acc
  }

  /** Deterministic PQ sub-codebooks + the query vector: centroids(j)(c) =
    * subvector j of vec id c+1 (the "trained on a sample" stand-in shared
    * with ann_ivf's centroid convention), query = vec id 0. One pushed-down
    * 17-row point lookup.
    */
  private def pqCodebook(spark: SparkSession, sfDir: String)
      : (Array[Array[Array[Double]]], Array[Double], Int) = {
    import spark.implicits._
    val small = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .filter(_._1 <= PqKs.toLong).collect().sortBy(_._1)
    val dim = small.head._2.length
    val sub = dim / PqM
    // the DuckDB oracle hardcodes 8-dim list_slice windows; a corpus dim
    // change must fail FAST here, not surface as a silent hash mismatch
    require(sub == 8, s"ann_pq oracle assumes 8-dim subspaces, got dim=$dim m=$PqM sub=$sub")
    val query: Array[Double] = small.find(_._1 == 0L).get._2.map(_.toDouble)
    val cents: Array[Array[Array[Double]]] = Array.tabulate(PqM) { j =>
      Array.tabulate(PqKs) { c =>
        small.find(_._1 == (c + 1).toLong).get._2
          .slice(j * sub, (j + 1) * sub).map(_.toDouble)
      }
    }
    (cents, query, sub)
  }

  /** WRITE-TIME PQ encoding: the materialized codes table — (vec_id,
    * codes: 8 nibble ids) per vector, 4 bits x 8 = 4 B of payload vs 256 B
    * of raw floats — PARTITIONED by the vector's IVF `list` (the ann_ivf
    * coarse quantizer), the standard IVF-PQ composition: a probe prunes to
    * nprobe/nlist of the files AND scans only codes inside them. Built once
    * per sf, cached like the index.
    */
  def annPqDir(spark: SparkSession, sfDir: String): String =
    built.getOrElseUpdate(s"$sfDir#annpq", {
      val name = new java.io.File(sfDir).getName
      val dir = s"target/gate-index/$Version-ann-pq-$name"
      if (!new java.io.File(s"$dir/_SUCCESS").exists()) {
        import spark.implicits._
        val (cents, _, sub) = pqCodebook(spark, sfDir)
        val bc = spark.sparkContext.broadcast(cents)
        val bl = spark.sparkContext.broadcast(ivfCentroids(spark, sfDir))
        spark.read.parquet(s"$sfDir/embeddings.parquet")
          .select(col("vec_id"), col("embedding"))
          .as[(Long, Array[Float])]
          .map { case (id, e) =>
            val cs = bc.value
            val ev = new Array[Double](e.length)
            var i = 0
            while (i < e.length) { ev(i) = e(i).toDouble; i += 1 }
            val codes = new Array[Int](PqM)
            var j = 0
            while (j < PqM) {
              var best = 0; var bestD = Double.MaxValue
              var c = 0
              while (c < PqKs) {
                val d = pqD2(ev, j * sub, cs(j)(c))
                if (d < bestD) { bestD = d; best = c } // ties keep the lowest c
                c += 1
              }
              codes(j) = best
              j += 1
            }
            val list = bl.value.map { case (cid, cv) => (ivfD2(e, cv), cid) }.min._2
            (id, codes, list)
          }
          .toDF("vec_id", "codes", "list")
          .write.mode("overwrite").partitionBy("list").parquet(dir)
      }
      dir
    })

  def annPq(spark: SparkSession, sfDir: String, k: Int): DataFrame = {
    import spark.implicits._
    val (cents, query, sub) = pqCodebook(spark, sfDir)
    // ADC table, integer-quantized per entry (order-free final sums)
    val dq: Array[Array[Long]] = Array.tabulate(PqM) { j =>
      Array.tabulate(PqKs) { c =>
        math.floor(pqD2(query, j * sub, cents(j)(c)) * 1000.0 + 0.5).toLong
      }
    }
    val bt = spark.sparkContext.broadcast(dq)
    // The ADC pass scans ONLY the materialized codes table ([[annPqDir]],
    // 4 B/vector): per row it is m integer table lookups — no float math,
    // no raw embeddings anywhere in the executed plan. (Exhaustive over all
    // lists here to mirror the oracle exactly; a recall-oriented serving
    // path pushes an IN-set on the `list` partition column first, ann_ivf's
    // probe shape, and exact-reranks a shortlist — operators.ProductQuantizer.)
    annPqTable(spark, sfDir)
      .select(col("vec_id"), col("codes"))
      .as[(Long, Array[Int])]
      .map { case (id, codes) =>
        val t = bt.value
        var adist = 0L
        var j = 0
        while (j < PqM) { adist += t(j)(codes(j)); j += 1 }
        (id, adist)
      }
      .toDF("vec_id", "adist_q")
      .orderBy(asc("adist_q"), asc("vec_id"))
      .limit(k)
  }

  /** Sessionization over the events stream table: a new session starts when
    * the gap to the previous event of the same user exceeds 30 minutes.
    */
  def sessionize(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
      // ts is TIMESTAMP_NTZ; session tz is pinned UTC so the cast is the
      // identity on wall time and matches DuckDB's epoch_us(ts).
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts").cast("timestamp")).as("tus"))
    val w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    ev.withColumn("gap", col("tus") - lag("tus", 1).over(w))
      .groupBy("user_id")
      .agg((lit(1) + sum(when(col("gap") > 1800000000L, 1).otherwise(0)))
        .cast("long").as("sessions"))
      .orderBy("user_id")
  }
}
