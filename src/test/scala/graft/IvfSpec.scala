package graft

import graft.operators.Ivf
import graft.functions.SimFns
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF ANN: deterministic k-means training, cell partitioning, and probe
  * search recall against exact brute force on the real embeddings table. */
class IvfSpec extends SparkSpec {

  private lazy val vecs = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")
    .select(col("vec_id"), col("embedding"))

  test("train is deterministic and assigns every vector to one of k cells") {
    val c1 = Ivf.train(vecs, "vec_id", "embedding", k = 8)
    val c2 = Ivf.train(vecs, "vec_id", "embedding", k = 8)
    assert(c1.map(_.toSeq).toSeq == c2.map(_.toSeq).toSeq)
    val cells = Ivf.index(vecs, c1, "embedding")
    assert(cells.count() == vecs.count())
    assert(cells.select("cell").distinct().count() <= 8)
  }

  test("train refuses corpora over its maxRows ceiling (scale guard — r5 verdict)") {
    val e = intercept[IllegalArgumentException] {
      Ivf.train(vecs, "vec_id", "embedding", k = 4, maxRows = 10L)
    }
    assert(e.getMessage.contains("trainSampled"),
      "guard message must point callers at the corpus-size-independent trainer")
    // at-or-under the ceiling still trains
    assert(Ivf.train(vecs.limit(10), "vec_id", "embedding", k = 4, maxRows = 10L)
      .length == 4)
    // maxRows = Long.MaxValue must saturate, not overflow to a negative
    // limit() (r5 advice: the error message tells callers to raise maxRows)
    assert(Ivf.train(vecs.limit(10), "vec_id", "embedding", k = 4,
      maxRows = Long.MaxValue).length == 4)
  }

  test("trainSampled is deterministic and matches distributed train's recall") {
    val c1 = Ivf.trainSampled(vecs, "vec_id", "embedding", k = 8)
    val c2 = Ivf.trainSampled(vecs, "vec_id", "embedding", k = 8)
    assert(c1.map(_.toSeq).toSeq == c2.map(_.toSeq).toSeq)
    val cells = Ivf.index(vecs, c1, "embedding")
    assert(cells.count() == vecs.count())
    assert(cells.select("cell").distinct().count() <= 8)

    // quality parity: sampled-trained quantizer reaches at least the
    // distributed trainer's recall@10 (both probe 3 of 8 cells)
    val queries = vecs.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    val exactSet = vecs.join(broadcast(queries))
      .select(col("qid"), col("vec_id"), SimFns.cosine(col("qe"), col("embedding")).as("cos"))
      .withColumn("rank", row_number().over(w)).where(col("rank") <= 10)
      .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(centroids: Array[Array[Double]]): Double = {
      val approx = Ivf.search(Ivf.index(vecs, centroids, "embedding"),
        centroids, queries, "embedding", topK = 10, nprobe = 3)
        .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      approx.count(exactSet.contains).toDouble / exactSet.size
    }
    val sampled = recallOf(c1)
    val distributed = recallOf(Ivf.train(vecs, "vec_id", "embedding", k = 8))
    assert(sampled >= math.min(distributed, 0.5),
      s"sampled recall $sampled < distributed recall $distributed")
  }

  test("search finds the query itself and beats 50% recall@10 at nprobe=3/8") {
    val centroids = Ivf.train(vecs, "vec_id", "embedding", k = 8)
    val idx = Ivf.index(vecs, centroids, "embedding")
    val queries = vecs.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val approx = Ivf.search(idx, centroids, queries, "embedding", topK = 10, nprobe = 3)

    // the query's own cell is always its nearest → self-match at rank 1
    val self = approx.where(col("rank") === 1)
      .select(col("qid"), col("vec_id")).collect()
    assert(self.forall(r => r.getLong(0) == r.getLong(1)))

    // exact brute-force top-10
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    val exact = vecs.join(broadcast(queries))
      .select(col("qid"), col("vec_id"), SimFns.cosine(col("qe"), col("embedding")).as("cos"))
      .withColumn("rank", row_number().over(w)).where(col("rank") <= 10)
    val exactSet = exact.select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approxSet = approx.select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = approxSet.count(exactSet.contains).toDouble / exactSet.size
    assert(recall >= 0.5, s"recall@10 was $recall")
  }

  test("probe fans each query out to its nprobe nearest cells, ranked by crank") {
    val cents = Ivf.trainSampled(vecs, "vec_id", "embedding", k = 8)
    val queries = vecs.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val got = Ivf.probe(queries, cents, 3)
      .select("qid", "crank", "cell").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).sorted.toSeq
    // driver recompute: squared-L2 order, ties to the lower cell
    val expected = queries.collect().toSeq.flatMap { r =>
      val qv = r.getSeq[Float](1).map(_.toDouble).toArray
      cents.indices.map(c => (graft.operators.Pq.sqL2(qv, cents(c)), c)).sorted.take(3)
        .zipWithIndex.map { case ((_, c), i) => (r.getLong(0), i + 1, c) }
    }.sorted
    assert(got == expected)
    // the query's own cell is its nearest: an index probe at crank 1 finds it
    val own = Ivf.index(vecs.where(col("vec_id") < 5), cents, "embedding")
      .select(col("vec_id"), col("cell")).collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got.filter(_._2 == 1).forall { case (q, _, c) => own(q) == c })
  }

  test("on-disk index is cell-partitioned and probes prune partitions (DPP)") {
    val centroids = Ivf.train(vecs, "vec_id", "embedding", k = 8)
    val path = "target/tmp_ivf_index"
    Ivf.writeIndex(Ivf.index(vecs, centroids, "embedding"), path)
    // layout: one directory per cell
    val dirs = new java.io.File(path).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("cell=")), dirs.mkString(","))
    val onDisk = Ivf.readIndex(spark, path)
    val queries = vecs.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val fromDisk = Ivf.search(onDisk, centroids, queries, "embedding", topK = 10, nprobe = 3)
    val inMem = Ivf.search(Ivf.index(vecs, centroids, "embedding"), centroids,
      queries, "embedding", topK = 10, nprobe = 3)
    assert(fromDisk.orderBy("qid", "rank").collect().map(_.toSeq).toSeq ==
      inMem.orderBy("qid", "rank").collect().map(_.toSeq).toSeq)
    // the probe join must reach the scan as a runtime partition filter —
    // at 100 TB this is the difference between scanning 3 cells and all of them
    fromDisk.collect()
    val plan = fromDisk.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"), s"no dynamic partition pruning:\n$plan")
  }
}
