package graft.operators

import org.apache.spark.sql.{Dataset, SparkSession}

/** Product quantization for ANN over an embedding store (Jegou, Douze,
  * Schmid, "Product Quantization for Nearest Neighbor Search", IEEE TPAMI
  * 2011): split each d-dim vector into `m` subspaces, vector-quantize each
  * subspace against its own `ks`-entry codebook (Lloyd/k-means), store only
  * the code ids — d*4 bytes become m*ceil(log2 ks)/8 bytes (64x at d=64,
  * m=8, ks=16). Queries score with Asymmetric Distance Computation: one
  * m x ks table of exact query-to-centroid sub-distances, then the
  * approximate distance of ANY stored vector is m table lookups over its
  * code — no float math against the store at all.
  *
  * 100 TB shape: training samples a broadcast-sized subset; encoding is one
  * map over the store (writes the 4-byte code column next to the vector or
  * replaces it); search scans ONLY the code column (64x less IO), takes a
  * `shortlist` by ADC, and exact-reranks just those rows — compose with IVF
  * partition pruning for sublinear candidate sets (the ann_pq gate,
  * gate.Gate.annPqDir/annPq, encodes its IVF-partitioned codes table with
  * [[encode]] and scores with [[adcTable]]). Distance-concentrated (near-uniform random) data defeats any
  * compressed index — recall claims belong on clusterable data, see
  * ProductQuantizerSpec.
  *
  * Determinism: init centroids are the subvectors of the `ks` smallest ids;
  * Lloyd means reduce in Spark partition order, so trained centroids are
  * deterministic up to float reduction order (exact-parity consumers — the
  * ann_pq gate against its DuckDB oracle — keep the iters=0 init).
  */
object ProductQuantizer {

  /** cents(j)(c) = centroid c of subspace j. */
  final case class Codebook(m: Int, ks: Int, sub: Int,
                            cents: Array[Array[Array[Double]]])

  /** Squared L2 from `a`'s `b.length` values at `off` to `b`, one
    * ascending-index fold; each float is widened in the fold, so no double
    * copy of `a` is made.
    */
  private[graft] def l2(a: Array[Float], off: Int, b: Array[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < b.length) { val t = a(off + i).toDouble - b(i); acc += t * t; i += 1 }
    acc
  }

  private def toD(v: Array[Float]): Array[Double] = {
    val out = new Array[Double](v.length)
    var i = 0
    while (i < v.length) { out(i) = v(i).toDouble; i += 1 }
    out
  }

  /** Nearest-centroid code per subspace (ties -> lowest id). */
  def encode(v: Array[Float], cb: Codebook): Array[Int] =
    Array.tabulate(cb.m) { j =>
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < cb.ks) {
        val d = l2(v, j * cb.sub, cb.cents(j)(c))
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      best
    }

  /** ADC table: t(j)(c) = exact squared L2 from the query's subvector j to
    * centroid (j, c).
    */
  def adcTable(query: Array[Float], cb: Codebook): Array[Array[Double]] =
    Array.tabulate(cb.m)(j => Array.tabulate(cb.ks)(c => l2(query, j * cb.sub, cb.cents(j)(c))))

  /** Train per-subspace codebooks with `iters` Lloyd rounds (iters=0 keeps
    * the deterministic init: subvectors of the `ks` smallest ids). Each
    * round is one distributed pass: assign every subvector to its nearest
    * centroid (map), average per (subspace, code) (one keyed agg); the
    * m*ks*sub result is collected (broadcast-sized by construction). Empty
    * cells keep their previous centroid.
    */
  def train(spark: SparkSession, vectors: Dataset[(Long, Array[Float])],
            m: Int, ks: Int, iters: Int): Codebook = {
    import spark.implicits._
    val dim = vectors.head()._2.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val sub = dim / m
    val init = vectors.filter(_._1 < ks.toLong).collect().sortBy(_._1)
    require(init.length == ks, s"need ids 0..${ks - 1} for init, got ${init.length}")
    var cents: Array[Array[Array[Double]]] =
      Array.tabulate(m)(j => Array.tabulate(ks)(c =>
        toD(init(c)._2).slice(j * sub, (j + 1) * sub)))
    var it = 0
    while (it < iters) {
      val cb = Codebook(m, ks, sub, cents)
      val bc = spark.sparkContext.broadcast(cb)
      val sums = vectors.flatMap { case (_, v) =>
        val codes = encode(v, bc.value)
        val ev = toD(v)
        codes.indices.iterator.map { j =>
          (j, codes(j), ev.slice(j * sub, (j + 1) * sub), 1L)
        }
      }
        .groupByKey(r => (r._1, r._2))
        .reduceGroups { (a, b) =>
          val s = new Array[Double](a._3.length)
          var i = 0
          while (i < s.length) { s(i) = a._3(i) + b._3(i); i += 1 }
          (a._1, a._2, s, a._4 + b._4)
        }
        .collect()
      val next = cents.map(_.map(_.clone()))
      sums.foreach { case ((j, c), (_, _, s, n)) =>
        if (n > 0) next(j)(c) = s.map(_ / n)
      }
      cents = next
      bc.destroy()
      it += 1
    }
    Codebook(m, ks, sub, cents)
  }

  /** One encode pass over the store: the materialized codes table the ADC
    * pass scans instead of raw vectors — m small ints per row
    * (m*ceil(log2 ks)/8 bytes once written, 4 B/vector at m=8 ks=16 vs
    * 256 B of floats). Built ONCE per store (persist it next to the
    * vectors; compose with an IVF `list` partition column for sublinear
    * probes, as gate.Gate.annPqDir does with [[encode]]).
    */
  def encodeStore(spark: SparkSession, vectors: Dataset[(Long, Array[Float])],
                  cb: Codebook): Dataset[(Long, Array[Int])] = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(cb)
    vectors.map { case (id, v) => (id, encode(v, bc.value)) }
  }

  /** ADC shortlist of `shortlist` ids, exact-reranked to the top `k` by true
    * squared L2 — the standard PQ serving pipeline. The ADC pass scans ONLY
    * the materialized `codes` table (no float math, no raw vectors: m table
    * lookups per row); the raw `vectors` table is touched only to fetch the
    * `shortlist` rows for the exact rerank.
    */
  def search(spark: SparkSession, codes: Dataset[(Long, Array[Int])],
             vectors: Dataset[(Long, Array[Float])],
             cb: Codebook, query: Array[Float],
             shortlist: Int, k: Int): Array[(Long, Double)] = {
    import spark.implicits._
    val t = adcTable(query, cb)
    val bt = spark.sparkContext.broadcast(t)
    val short = codes.map { case (id, cs) =>
      val tab = bt.value
      var ad = 0.0; var j = 0
      while (j < cs.length) { ad += tab(j)(cs(j)); j += 1 }
      (id, ad)
    }.toDF("vec_id", "adist")
      .orderBy(org.apache.spark.sql.functions.asc("adist"),
        org.apache.spark.sql.functions.asc("vec_id"))
      .limit(shortlist)
      .select("vec_id").as[Long].collect().toSet
    val bq = spark.sparkContext.broadcast(toD(query))
    vectors.filter(r => short.contains(r._1))
      .map { case (id, v) => (id, l2(v, 0, bq.value)) }
      .collect().sortBy { case (id, d) => (d, id) }.take(k)
  }
}
