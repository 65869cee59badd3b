package graft

import graft.operators.{Dedup, SkewJoin}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, rng}

/** Randomized property checks (ScalaCheck generators, evaluated in batched
  * DataFrames — one Spark job per property, not per case). */
class PropertiesSpec extends SparkSpec {

  import spark.implicits._

  private def seeded[T](gen: Gen[T], n: Int, seed: Long): List[T] =
    Gen.listOfN(n, gen).apply(Gen.Parameters.default, rng.Seed(seed)).get

  test("property: salted join ≡ plain join on random data") {
    val facts = seeded(Gen.zip(Gen.chooseNum(0L, 30L), Gen.chooseNum(-1000.0, 1000.0)), 500, 1L)
      .zipWithIndex.map { case ((k, v), i) => (i.toLong, k, v) }.toDF("id", "k", "v")
    val dims = (0L to 30L).map(k => (k, s"dim_$k")).toDF("dk", "name")
    val salted = SkewJoin.saltedEquiJoin(facts, dims, "k", "dk", 4, col("id"))
      .groupBy(col("name")).agg(count(lit(1)).as("n"), round(sum(col("v")), 6).as("s"))
    val plain = facts.join(dims, col("k") === col("dk"))
      .groupBy(col("name")).agg(count(lit(1)).as("n"), round(sum(col("v")), 6).as("s"))
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("property: jaccard is symmetric, in [0,1], and 1 iff equal sets") {
    val wordGen = Gen.listOfN(12, Gen.oneOf("a", "b", "c", "d", "e", "f", "g", "h"))
    val pairs = seeded(Gen.zip(wordGen, wordGen), 200, 2L)
      .map { case (x, y) => (x.distinct, y.distinct) }.toDF("x", "y")
    val j = pairs.select(
      Dedup.jaccard(col("x"), col("y")).as("xy"),
      Dedup.jaccard(col("y"), col("x")).as("yx"),
      (size(array_distinct(concat(col("x"), col("y")))) === size(array_intersect(col("x"), col("y")))).as("eq"))
      .collect()
    j.foreach { r =>
      val xy = r.getDouble(0); val yx = r.getDouble(1); val eq = r.getBoolean(2)
      assert(xy == yx, "symmetric")
      assert(xy >= 0.0 && xy <= 1.0, "bounded")
      assert((xy == 1.0) == eq, "1 iff set-equal")
    }
  }

  test("property: relaxed_double(format(x)) == x for random doubles with $ , % noise") {
    val xs = seeded(Gen.chooseNum(-1e6, 1e6), 300, 3L)
    val df = xs.map(x => (x, s" $$${x} % ")).toDF("x", "s")
    val got = df.select(col("x"), TypeGuess.relaxedDouble(col("s")).as("p")).collect()
    got.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("property: type lattice — adding a string value always demotes to string") {
    val numericCols = Seq(Seq("1", "2", "3"), Seq("1.5", "2"), Seq("2020-01-01 00:00:00"))
    numericCols.foreach { vals =>
      val dt = DataTable.fromStringRows(spark, Seq("c"), (vals :+ "definitely-not-a-number").map(Seq(_)))
      assert(TypeGuess.guessTypes(dt)("c") == org.apache.spark.sql.types.StringType)
    }
  }

  test("property: selectColumns composes (narrowing twice = narrowing once)") {
    val dt = DataTable(spark.range(50).select(
      col("id"), (col("id") * 2).as("a"), (col("id") * 3).as("b"), lit("x").as("c")))
    val twice = dt.selectColumns(Seq("a", "b", "c")).selectColumns(Seq("c", "a"))
    val once = dt.selectColumns(Seq("c", "a"))
    assert(twice.columnNames == once.columnNames && twice.dataEquals(once))
  }

  test("property: overlay of a table onto itself at (0,0) is identity") {
    val pt = DataTable(spark.range(20).select(
      col("id"), concat(lit("v"), col("id")).as("v"))).withRowIdx(Seq(col("id")))
    val overlaid = pt.overlay(pt, 0L, 0)
    assert(DataTable(overlaid.df.select("id", "v")).dataEquals(DataTable(pt.df.select("id", "v"))))
  }

  test("property: formatTable always yields all-string schema and no nulls") {
    val dt = DataTable(spark.range(30).select(
      col("id"),
      when(col("id") % 3 === 0, col("id").cast("double") / 7.0).as("d"),
      when(col("id") % 2 === 0, concat(lit("s"), col("id"))).as("s")))
    val out = Fns.formatTable(dt)
    assert(out.schema.fields.forall(_.dataType == org.apache.spark.sql.types.StringType))
    assert(out.df.columns.map(c => out.df.where(col(c).isNull).count()).forall(_ == 0L))
  }

  test("property: contentHash invariant under repartition and row order") {
    val dt = DataTable(spark.range(500).select(col("id"), (col("id") * 17 % 91).as("k")))
    val shuffled = DataTable(dt.df.repartition(13, col("k")).sortWithinPartitions(col("k").desc))
    assert(dt.contentHash == shuffled.contentHash)
  }

  // DiskCache-backed cards (bm25_*, corpus_assembly_incremental, the
  // MinHash index and cluster-label cards) read at 7 partitions the entry
  // built at 1, so for them this checks the query side only.
  // The graph and near-dup cards ride along: neither their driver-side folds
  // nor their distributed rounds may depend on the partition count.
  test("property: TopK-ranked cards are invariant under shuffle partitions") {
    val cards = Seq("sim_topk", "sim_ivf", "sim_lsh_multiprobe", "sim_hamming_rerank",
      "sim_ivfpq", "knn_eval", "retrieval_mrr", "ann_nprobe_sweep",
      "sim_ivf_kmeans", "sim_filtered", "sim_range_search", "sim_lsh", "ann_recall",
      "sim_pq", "mmr_diversify", "ivf_retrain_trigger", "semdedup", "knn_eval_sampled",
      "rrf_fusion", "tfidf_top", "bm25_prf", "bm25_search", "bm25_incremental",
      "token_zipf", "length_tail", "session_paths", "graph_lpa_users", "trending_topk",
      "inverted_index", "review_sample", "corpus_assembly", "corpus_assembly_incremental",
      "stratified_sample", "source_quota", "window_rank",
      "graph_hits", "graph_communities", "graph_pagerank", "graph_pagerank_users",
      "graph_ppr_users", "graph_bfs_users", "graph_densest_users", "graph_triangles",
      "graph_link_predict", "graph_shortest_paths",
      "minhash_dedup", "simhash_dedup", "phash_neardup", "dedup_clusters",
      "dedup_incremental", "dedup_clusters_incremental", "stream_neardup_gate",
      "embed_neardup")
    def hashes(partitions: Int) = {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", partitions.toString)
      try cards.map(c => c -> DataTable(SparkEntry.queries(c)(spark, "/root/testdata/sf0.001"))
        .contentHash).toMap
      finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    val (h1, h7) = (hashes(1), hashes(7))
    cards.foreach(c => assert(h1(c) == h7(c), s"$c: ${h1(c)} at 1 partition, ${h7(c)} at 7"))
  }

  test("property: dedup pairs shrink monotonically with threshold") {
    val text = (1 to 30).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, text), (2L, text), (3L, text + " a b"), (4L, text + " a b c d e f"),
      (5L, (100 to 130).map(i => s"tok$i").mkString(" "))).toDF("doc_id", "text")
    def pairs(th: Double) = Dedup.minhashNearDups(docs, "doc_id", "text", th)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val loose = pairs(0.3); val tight = pairs(0.9)
    assert(tight.subsetOf(loose), s"tight=$tight loose=$loose")
    assert(tight.contains((1L, 2L))) // exact copies survive any threshold
  }

  test("property: IVF recall is non-decreasing in nprobe") {
    val vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val centroids = graft.operators.Ivf.train(vecs, "vec_id", "embedding", k = 8)
    val idx = graft.operators.Ivf.index(vecs, centroids, "embedding")
    val qs = vecs.where(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    def hits(np: Int) = graft.operators.Ivf.search(idx, centroids, qs, "embedding",
        topK = 10, nprobe = np)
      .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val h1 = hits(1); val h8 = hits(8)
    assert(h1.size <= h8.size)
    // full probe = exact brute force over all cells: must contain 1-probe's top hits? not
    // guaranteed per-rank, but the self-match always survives
    assert((0L until 3L).forall(q => h8.contains((q, q)) && h1.contains((q, q))))
  }

  test("property: multi-probe LSH candidate set contains the single-probe set") {
    import graft.functions.SimFns
    val planes = SimFns.fixedPlanes(nPlanes = 6, dim = 64)
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
      .withColumn("bucket", SimFns.rpLshKey(col("embedding"), planes))
    val qs = e.where(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("bucket").as("qbucket"),
        SimFns.rpLshProbeKeys(col("embedding"), planes).as("probes"))
    // probe key 0 IS the base bucket — single-probe is the first multi-probe
    val probes0 = qs.select(col("qbucket"), element_at(col("probes"), 1)).collect()
    probes0.foreach(r => assert(r.getString(0) == r.getString(1)))
    def cands(probeCount: Int) = qs
      .select(col("qid"), explode(slice(col("probes"), 1, probeCount)).as("probe"))
      .join(e, col("bucket") === col("probe"))
      .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val single = cands(1); val multi = cands(7)
    assert(single.subsetOf(multi))
    assert(multi.size >= single.size)
    // every query still finds itself
    assert((0L until 3L).forall(q => single.contains((q, q))))
  }

  test("property: kebabCase is idempotent on random strings") {
    val strGen = Gen.listOfN(12, Gen.frequency(
      8 -> Gen.alphaNumChar, 2 -> Gen.oneOf(' ', '_', '-', '.', '!'))).map(_.mkString)
    seeded(strGen, 200, 4L).foreach { s =>
      val once = DataTable.kebabCase(s)
      assert(DataTable.kebabCase(once) == once, s"input '$s'")
    }
  }

  test("property: DiscreteQuantile ≡ percentile on random discrete groups") {
    import graft.operators.DiscreteQuantile
    // ragged group sizes (incl. size-1), duplicate-heavy values, negatives
    val rows = seeded(Gen.zip(Gen.chooseNum(0, 6), Gen.chooseNum(-25L, 25L)), 800, 13L)
      .map { case (g, v) => (s"g$g", v) } ++ Seq(("lone", 7L))
    val df = rows.toDF("k", "v")
    val ps = Seq(0.0, 0.1, 0.5, 0.9, 1.0)
    val got = DiscreteQuantile.quantiles(df, Seq("k"), col("v"), ps,
        ps.indices.map(i => s"q$i"))
      .orderBy(col("k")).collect().map(_.toSeq).toSeq
    val want = df.groupBy(col("k"))
      .agg(expr("percentile(v, 0.0)").as("q0"), expr("percentile(v, 0.1)").as("q1"),
        expr("percentile(v, 0.5)").as("q2"), expr("percentile(v, 0.9)").as("q3"),
        expr("percentile(v, 1.0)").as("q4"))
      .orderBy(col("k")).collect().map(_.toSeq).toSeq
    assert(got == want)
    // the pure helper agrees bit-for-bit on every group's histogram
    rows.groupBy(_._1).foreach { case (k, grp) =>
      val hist = grp.groupBy(_._2).map { case (v, g) => (v.toDouble, g.size.toLong) }.toSeq
      val fromDf = got.find(_.head == k).get
      ps.zipWithIndex.foreach { case (p, i) =>
        assert(DiscreteQuantile.quantileOfHistogram(hist, p) == fromDf(i + 1), s"$k p=$p")
      }
    }
  }

  test("property: heavy-hitter top-k is exact for random capacities and skews") {
    import graft.operators.HeavyHitters
    // zipf-ish skew plus a uniform tail, shuffled; several (capacity, k)
    val base = (1 to 30).flatMap(i => Seq.fill(600 / i)(f"w$i%02d")) ++
      (1 to 300).map(i => s"tail$i")
    val data = new scala.util.Random(17L).shuffle(base).toDF("token")
    val want = data.groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc).limit(8).collect().toSeq
    for (capacity <- Seq(2, 16, 256, 4096)) {
      val got = HeavyHitters.exactTopK(data, 8, capacity).collect().toSeq
      assert(got == want, s"capacity=$capacity diverged")
    }
  }
}
