package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.SimFns

/** Product quantization (PQ) — the memory-side ANN scale path, complementing
  * IVF's partition-pruning path (graft.operators.Ivf): each vector is split
  * into `m` subvectors, each subvector quantized to one of `k` per-subspace
  * centroids, so a 64-dim float vector compresses to `m` small codes
  * (64×4 bytes → 8 bytes at m=8). Search runs by Asymmetric Distance
  * Computation: the query precomputes its distance to every centroid of
  * every subspace (an m×k TABLE, driver-sized at any corpus scale), and a
  * database vector's approximate distance is just the sum of m table
  * lookups — no float vector is ever touched at query time, which is what
  * lets a 100 TB embedding corpus serve from the codes alone.
  *
  * Everything is deterministic: codebooks come from [[Ivf.train]]'s
  * convergence-based Lloyd (seeded by first-k-in-id-order), assignment ties
  * break to the lower cell ([[graft.plans.NearestCells]]).
  */
object Pq {

  /** Train per-subspace codebooks: dims sliced into `m` contiguous groups,
    * each Lloyd-trained to `k` centroids — ON A BOUNDED SAMPLE, driver-side.
    * Codebook quality needs a representative sample, not the corpus (the
    * standard ANN-library practice), so training cost is corpus-size
    * independent: one `limit(sampleN)` collect, then pure in-memory Lloyd
    * per subspace (the distributed [[Ivf.train]] would launch m×iters
    * full-corpus jobs to train what is a few-KB model). Deterministic:
    * sample = first `sampleN` in id order, seeds = first k of the sample,
    * ties to the lower cell, empty cells keep their previous centroid.
    * Returns m codebooks of k×(dim/m).
    */
  def train(vectors: DataFrame, idCol: String, vecCol: String, m: Int, k: Int,
            maxIters: Int = 25, sampleN: Int = 2048): Seq[Array[Array[Double]]] = {
    val sample = vectors.orderBy(col(idCol)).limit(sampleN)
      .select(SimFns.toDouble(col(vecCol))).collect()
      .map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "no vectors to train on")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    (0 until m).map { j =>
      val data = sample.map(v => java.util.Arrays.copyOfRange(v, j * sub, (j + 1) * sub))
      lloydLocal(data, k, maxIters, tol = 1e-4)
    }
  }

  /** Pure in-memory Lloyd with [[Ivf.train]]'s conventions (deterministic
    * first-k seeding, lower-index tie-break, empty cell keeps centroid,
    * stop on max movement < tol). */
  private[graft] def lloydLocal(data: Array[Array[Double]], k: Int,
                                maxIters: Int, tol: Double): Array[Array[Double]] = {
    val kk = math.min(k, data.length)
    val dim = data.head.length
    var cents = data.take(kk).map(_.clone)
    var it = 0
    var moved = Double.PositiveInfinity
    while (it < maxIters && moved >= tol) {
      val sums = Array.fill(kk)(new Array[Double](dim))
      val counts = new Array[Long](kk)
      data.foreach { v =>
        var best = 0; var bestD = Double.PositiveInfinity
        var c = 0
        while (c < kk) {
          var d = 0.0; var i = 0
          while (i < dim) { val t = v(i) - cents(c)(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        counts(best) += 1
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
      }
      val next = cents.zipWithIndex.map { case (prev, c) =>
        if (counts(c) == 0L) prev.clone()
        else sums(c).map(_ / counts(c))
      }
      moved = cents.zip(next).map { case (a, b) =>
        math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
      }.max
      cents = next
      it += 1
    }
    cents
  }

  /** The m-code array expression for one vector column — m NearestCells
    * probes over sliced subvectors, all codegen'd, usable inside any
    * projection (so composites like IVF-PQ can emit cell + codes in ONE
    * narrow pass instead of joining two encodes). */
  def codesFor(vec: Column, books: Seq[Array[Array[Double]]]): Column = {
    val dim = books.map(_.head.length).sum
    val sub = dim / books.length
    array(books.zipWithIndex.map { case (book, j) =>
      element_at(Ivf.nearestCells(
        slice(SimFns.toDouble(vec), j * sub + 1, sub), book, 1), 1)
    }: _*)
  }

  /** Encode every vector to its m-code array — one codegen'd projection
    * (m NearestCells probes over sliced subvectors), no join, no shuffle. */
  def encode(vectors: DataFrame, idCol: String, vecCol: String,
             books: Seq[Array[Array[Double]]]): DataFrame =
    vectors.select(col(idCol), codesFor(col(vecCol), books).as("codes"))

  /** Squared L2 between `c` and the `c.length`-long slice of `v` at `off`:
    * the ascending-index left fold of NearestCells, so driver-side values
    * (ADC tables, probe choices, k-center picks) match the codegen'd and
    * the DuckDB `(v−c)²` chains bit for bit. */
  private[graft] def sqL2(v: Array[Double], c: Array[Double], off: Int = 0): Double = {
    var d = 0.0; var i = 0
    while (i < c.length) { val t = v(off + i) - c(i); d += t * t; i += 1 }
    d
  }

  /** The query-side ADC lookup table: squared L2 from the query's j-th
    * subvector to centroid c of subspace j, for all (j, c). m×k rows. */
  private[graft] def adcTable(q: Array[Double], books: Seq[Array[Array[Double]]]): Seq[(Int, Int, Double)] = {
    val sub = q.length / books.length
    books.zipWithIndex.flatMap { case (book, j) =>
      book.zipWithIndex.map { case (cent, c) => (j, c, sqL2(q, cent, j * sub)) }
    }
  }

  /** Every query's ADC table as one broadcast (qid, j, code, d) relation
    * over the queries (`qid`, `qe`): Q×m×k rows collected driver-side —
    * query-set-sized, never corpus-sized. */
  private def adcLut(queries: DataFrame, books: Seq[Array[Array[Double]]]): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val luts = queries
      .select(col("qid").cast("long"), SimFns.toDouble(col("qe"))).collect()
      .flatMap { r =>
        adcTable(r.getSeq[Double](1).toArray, books)
          .map { case (j, c, d) => (r.getLong(0), j, c, d) }
      }.toIndexedSeq
    broadcast(luts.toDF("qid", "j", "code", "d"))
  }

  /** The ADC ranking tail: per-(qid, vec_id) sums of the looked-up `d`
    * terms (partial-aggregated, so the shuffle carries one row per pair),
    * top `topk` per query by (dist2, vec_id). */
  private def adcTopK(terms: DataFrame, topk: Int): DataFrame =
    TopK.perKey(terms.groupBy(col("qid"), col("vec_id")).agg(sum(col("d")).as("dist2")),
      col("qid"))(topk, col("dist2").asc, col("vec_id").asc)

  /** Approximate top-k by squared L2 via ADC over an encoded corpus
    * (`vec_id`, `codes`) for the queries (`qid`, `qe`): the
    * (query × subspace × code) distance tables broadcast (Q×m×k rows — query
    * -set-sized, never corpus-sized), codes explode to (id, subspace, code)
    * and join the table map-side, partial-aggregated sums reduce the shuffle
    * to one row per (query, id). Returns (qid, vec_id, dist2, rank). */
  def search(encoded: DataFrame, queries: DataFrame, books: Seq[Array[Array[Double]]],
             topk: Int): DataFrame =
    adcTopK(encoded
      .select(col("vec_id"), posexplode(col("codes")).as(Seq("j", "code")))
      .join(adcLut(queries, books), Seq("j", "code")), topk)

  /** IVF-PQ search (FAISS IndexIVFPQ, by_residual=false): each query
    * (`qid`, `qe`) probes its `nprobe` nearest of the coarse `cents`
    * ([[Ivf.probe]]), and only the probed cells' codes are
    * ADC-scored — each vector lives in exactly one cell, so no dedup is
    * needed, and the ADC sum folds ascending-j as in [[search]].
    * `encoded` holds (vec_id, cell, codes). Returns (qid, vec_id, dist2,
    * rank). */
  def ivfSearch(encoded: DataFrame, cents: Array[Array[Double]], queries: DataFrame,
                books: Seq[Array[Array[Double]]], nprobe: Int, topk: Int): DataFrame =
    adcTopK(encoded.join(Ivf.probe(queries, cents, nprobe), "cell")
      .select(col("qid"), col("vec_id"), posexplode(col("codes")).as(Seq("j", "code")))
      .join(adcLut(queries, books), Seq("qid", "j", "code")), topk)
}
