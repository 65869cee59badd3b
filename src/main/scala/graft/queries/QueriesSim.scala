package graft.queries

import graft.functions.SimFns
import graft.operators.{Ivf, Pq, TopK}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Similarity-search queries over the `embeddings` table (SURVEY.md §2.8):
  * brute-force cosine top-k as the exact baseline, an IVF-style
  * cell-restricted variant, and a random-hyperplane LSH-bucketed variant as
  * the approximate scale path.
  *
  * Scale shape: the query set is tiny and broadcast; candidates stream
  * through a narrow map (codegen'd zip_with/aggregate dot product); ranking
  * is [[graft.operators.TopK.perKey]] per query key — partitioned by query
  * id, so it scales with the number of queries × candidates, never a global
  * sort.
  */
object QueriesSim {

  /** ivf_retrain_trigger thresholds — frozen from MEASURED margins at all
    * 3 SFs (Round13Spec asserts the separation; the planted-signal rule).
    * Measured (sf0.001 = sf0.01 / sf0.1; the first probe also killed a
    * negation drift live — the embedding distribution is near-symmetric,
    * so -x moved NOTHING: occ_l1 196k vs 156k in-dist, qerr ratio 1.04):
    *   occ_l1_ppm  : in-dist 156000 / 134000; shifted 1684000 / 1686000
    *   qerr_ratio  : in-dist ~1.0e6;          shifted 2.76e8 / 2.70e8
    *   recall6     : in-dist 860000 / 860000; shifted 1000000 (the +2.0
    *     shift CROWDS the batch into probed cells, so recall does not decay
    *     on this plant — the verdict rides on occ/qerr; recall6 stays a
    *     measured safety net for scatter-type drift, thresholded BELOW the
    *     in-dist floor so it can never fire spuriously)
    * occ threshold 500000: ≥3.2× margin both sides; qerr 5000000: ≥5×
    * below, ≥54× above; recall 500000: 1.7× under the measured floor. */
  private[graft] val RetrainOccL1Ppm = 500000L
  private[graft] val RetrainQerrPpm = 5000000L
  private[graft] val RetrainRecall6 = 500000L

  /** Shared construction for embed_classify / triplet_margin /
    * embed_outliers: labeled vectors as array<double> plus per-label mean
    * centroids (a labels×64 posexplode aggregate, centroid re-assembled in
    * pos order) — ONE definition so the three views and their shared oracle
    * formula text cannot drift apart (review-caught triplication). */
  private def labeledWithCentroids(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val e = t(s, dir, "embeddings")
      .where(col("embedding").isNotNull && col("label").isNotNull)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
    val cent = e.select(col("label").as("clabel"), posexplode(col("v")))
      .groupBy(col("clabel"), col("pos")).agg(avg(col("col")).as("c"))
      .groupBy(col("clabel"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        x => x.getField("c")).as("cv"))
    (e, cent)
  }

  /** The ranked-output tail of the top-k cards: (qid, vec_id, `keep`…,
    * `score` rounded to 6 places, rank as BIGINT), ordered by (qid, rank). */
  private def ranked(df: DataFrame, score: String, keep: String*): DataFrame =
    df.select(Seq(col("qid"), col("vec_id")) ++ keep.map(col) ++
        Seq(round(col(score), 6).as(score), col("rank").cast(LongType).as("rank")): _*)
      .orderBy(col("qid"), col("rank"))

  /** ColBERT's MaxSim over the 4×16 sub-vector slicing:
    * Σᵢ maxⱼ pair(qᵢ, dⱼ). The 4-way max is order-free (max commutes) and
    * the outer sum folds in fixed ascending part order, so both engines
    * walk the identical tree. */
  private def maxSim(q: Column, d: Column, pair: (Column, Column) => Column): Column =
    (0 until 4).map { i =>
      greatest((0 until 4).map { j =>
        pair(slice(q, i * 16 + 1, 16), slice(d, j * 16 + 1, 16))
      }: _*)
    }.reduce(_ + _)

  /** The PLAID cards' (maxsim_ivf, maxsim_pq) per-query card: candidate
    * volume, hits of the reranked top-5 `rer` in the brute-force top-5
    * `truth` (both (qid, vec_id)), and recall in µ-units. `extra`, a
    * one-row frame, is cross-joined in; its columns follow qid. */
  private def candRecall(qids: DataFrame, cand: DataFrame, rer: DataFrame, truth: DataFrame,
                         extra: Option[DataFrame]): DataFrame = {
    val card = qids
      .join(cand.groupBy(col("qid")).agg(count(lit(1)).as("n_cand")), Seq("qid"), "left")
      .join(rer.join(truth, Seq("qid", "vec_id"), "left_semi")
          .groupBy(col("qid")).agg(count(lit(1)).as("hits")), Seq("qid"), "left")
    extra.fold(card)(card.crossJoin)
      .select(col("qid") +: extra.toSeq.flatMap(_.columns.map(col)) :+
        coalesce(col("n_cand"), lit(0L)).as("n_cand") :+
        coalesce(col("hits"), lit(0L)).as("hits"): _*)
      .withColumn("recall6", expr("(hits * 1000000) DIV 5"))
      .orderBy(col("qid"))
  }

  /** knn_eval / knn_eval_sampled's body over the query set `q` (qid, qlbl,
    * qe): the 10 nearest neighbors (cosine, self excluded) vote on each
    * query's label, ties → smaller label, and per-label accuracy is an
    * exact count ratio. */
  private def knnVote(e: DataFrame, q: DataFrame): DataFrame = {
    val nn = TopK.byCosine(e.crossJoin(broadcast(q)).where(col("vec_id") =!= col("qid")),
      10, "embedding", "qlbl", "lbl")
    val pred = nn.groupBy(col("qid"), col("qlbl"), col("lbl"))
      .agg(count(lit(1)).as("votes"))
      .transform(TopK.perKey(_, col("qid"))(1, col("votes").desc, col("lbl").asc))
    pred.groupBy(col("qlbl").as("label"))
      .agg(count(lit(1)).as("n_queries"),
        count(when(col("lbl") === col("qlbl"), 1)).as("n_correct"))
      .withColumn("accuracy",
        expr("floor(CAST(n_correct AS DOUBLE) / n_queries * 1e6 + 0.5) / 1e6"))
      .orderBy(col("label"))
  }

  /** ann_recall / ann_nprobe_sweep's ground truth: the exact cosine top-10
    * of the panel candidates `cand` as (qid, vec_id), and its row count.
    * Panel-bounded (queries × 10 rows), so it is collected once into a
    * broadcast local relation instead of persisted — a cached RDD would sit
    * in executor storage for the rest of the session (the Verify sweep runs
    * every card in one SparkSession). */
  private def panelTruth(cand: DataFrame): (DataFrame, Long) = {
    val plan = TopK.byCosine(cand, 10, "embedding").select(col("qid"), col("vec_id"))
    val rows = plan.collect()
    val s = cand.sparkSession
    (broadcast(s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), plan.schema)),
      rows.length.toLong)
  }

  /** nndescent_round's graph construction, shared with sim_beam_search (one
    * definition — the build and the search can never disagree about the
    * graph): TWO independent sign-bit bucketings seed 3-NN lists (a single
    * bucketing is a descent FIXPOINT: 2-hop candidates never leave the
    * bucket — caught live), merged to a 5-NN init n0, then ONE NN-descent
    * round over sym ∪ sym∘sym candidates gives n1. Each unordered
    * within-bucket pair scores ONCE (u < v, checkpointed, mirrored).
    * The n0/n1 edge lists persist through DiskCache keyed by the data
    * fingerprint (the cluster_labels pattern — and the production shape:
    * the graph is built ONCE and searched many times; before the cache
    * each of the two queries re-paid the ~6 s construction per sweep).
    * Returns (corpus-with-buckets, n0, n1). */
  private def dualLshKnnGraph(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val pa = SimFns.fixedPlanes(nPlanes = 6, dim = 64)
    val pb = SimFns.fixedPlanes(nPlanes = 6, dim = 64, seed = 777L)
    val e = graft.operators.CacheRegistry.track(
      vectors(s, dir).select(col("vec_id"), col("embedding"),
          SimFns.rpLshKey(col("embedding"), pa).as("bka"),
          SimFns.rpLshKey(col("embedding"), pb).as("bkb")))
      // read by 2 init joins, 2 fetches, truth — tracked (not a per-call
      // localCheckpoint) so BOTH graph consumers (nndescent_round,
      // sim_beam_search) share one materialization per session (round 14)
    val base = graft.operators.DiskCache.keyedPath(
      "knn_graph_v1", s"$dir/embeddings.parquet")
    graft.operators.DiskCache.ensure(base,
        Seq("n0/_SUCCESS", "n1/_SUCCESS")) { tmp =>
      def topPerV(df: DataFrame, k: Int) =
        TopK.perKey(df, col("v"))(k, col("cos").desc, col("u"))
          .select(col("v"), col("u"), col("cos"))
      def bucketTop3(bk: String) = {
        val half = e.select(col("vec_id").as("v"), col(bk), col("embedding").as("ev"))
          .join(e.select(col("vec_id").as("u"), col(bk), col("embedding").as("eu")),
            Seq(bk))
          .where(col("u") < col("v"))
          .select(col("v"), col("u"), SimFns.cosine(col("ev"), col("eu")).as("cos"))
          .localCheckpoint(false) // read by both orientations below
        topPerV(half.unionByName(half.select(col("u").as("v"), col("v").as("u"), col("cos"))), 3)
      }
      val n0 = topPerV(bucketTop3("bka").unionByName(bucketTop3("bkb"))
          .groupBy(col("v"), col("u")).agg(max(col("cos")).as("cos")), 5) // dedup
        .localCheckpoint(false)
      n0.write.parquet(s"$tmp/n0")
      val sym = n0.select(col("v"), col("u"))
        .unionByName(n0.select(col("u").as("v"), col("v").as("u"))).distinct()
        .localCheckpoint(false) // joined with itself below
      val cand = sym.unionByName(
          sym.join(sym.select(col("v").as("u"), col("u").as("w")), "u")
            .select(col("v"), col("w").as("u")))
        .where(col("u") =!= col("v")).distinct()
      topPerV(cand
        .join(e.select(col("vec_id").as("v"), col("embedding").as("ev")), "v")
        .join(e.select(col("vec_id").as("u"), col("embedding").as("eu")), "u")
        .select(col("v"), col("u"), SimFns.cosine(col("ev"), col("eu")).as("cos")), 5)
        .write.parquet(s"$tmp/n1")
    }
    (e, s.read.parquet(s"$base/n0"), s.read.parquet(s"$base/n1"))
  }

  /** The similarity family's corpus: every non-null (vec_id, embedding). */
  private def vectors(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings").where(col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding"))

  /** sim_filtered's corpus (card and oracle): labeled non-null vectors. */
  private def labeledVectors(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings").where(col("embedding").isNotNull && col("label").isNotNull)
      .select(col("vec_id"), col("label"), col("embedding"))

  /** The query panel of the top-k cards: vec_id < 5 as (qid, qe). */
  private def panel(e: DataFrame): DataFrame =
    e.where(col("vec_id") < 5).select(col("vec_id").as("qid"), col("embedding").as("qe"))

  /** The same panel driver-side, as (qid, qv) in qid order — what the ADC
    * paths table (sim_ivfpq_residual's probes, the sim_pq / sim_ivfpq
    * oracles). Panel-bounded: one collect of ≤ 5 rows. */
  private def queryPanel(e: DataFrame): Array[(Long, Array[Double])] =
    panel(e).select(col("qid"), SimFns.toDouble(col("qe"))).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)

  /** The coarse k=8 quantizer of every 8-cell card and its refit oracle: a
    * pure function of `e`'s first (vec_id, embedding) rows in id order. */
  private def coarseCents(e: DataFrame): Array[Array[Double]] =
    Ivf.trainSampled(e, "vec_id", "embedding", k = 8)

  /** The raw m=8/k=16 PQ codebooks (sim_pq, sim_ivfpq, sim_ivfpq_append). */
  private def rawPqBooks(e: DataFrame): Seq[Array[Array[Double]]] =
    Pq.train(e, "vec_id", "embedding", m = 8, k = 16)

  /** PLAID's sub-vector stream: each vector sliced into 4×16, as
    * (vec_id, pos, sub). */
  private def subVectors(e: DataFrame): DataFrame =
    e.select(col("vec_id"), posexplode(array((0 until 4).map(i =>
      slice(col("embedding"), i * 16 + 1, 16)): _*)).as(Seq("pos", "sub")))

  /** The shared k=32 sub-vector quantizer (maxsim_ivf, maxsim_pq and their
    * oracles), trained on the id-ordered slice stream (sid = vec_id·4+pos). */
  private def subCents(e: DataFrame): Array[Array[Double]] =
    Ivf.trainSampled(subVectors(e).select((col("vec_id") * 4 + col("pos")).as("sid"),
      col("sub")), "sid", "sub", k = 32)

  /** embed_whitening's model (card and oracle): the 4-component sample PCA
    * as (mean, whitening rows comp_c/√λ_c — scaled ON THE DRIVER, so no
    * sqrt runs in either engine — and the eigenvalues in µ-units). */
  private def whiteningFit(e: DataFrame): (Array[Double], Seq[Array[Double]], Seq[Long]) = {
    val (mu, comps, lams) = graft.operators.Pca.fitSampledFull(e, "vec_id", "embedding",
      nComponents = 4)
    val rows = comps.zip(lams).map { case (w, l) =>
      val s2 = math.sqrt(l); w.map(_ / s2) }
    (mu, rows, lams.map(l => math.floor(l * 1e6 + 0.5).toLong))
  }

  /** sim_ivfpq_residual's shared model construction (query + trained-oracle
    * generator call the SAME function — the kcenterFit pattern): the coarse
    * quantizer, then PQ codebooks trained on the
    * RESIDUALS v − centroid[cell] (FAISS's by_residual=true default — the
    * codebooks only have to cover the within-cell spread, a much tighter
    * distribution than the raw corpus). The residual column materializes in
    * its own projection so the interpreted zip_with runs ONCE per row and
    * the 8 downstream NearestCells probes read the materialized array.
    * Returns (centroids, codebooks, (vec_id, cell, rv) frame). */
  private def ivfpqResidualParts(e: DataFrame)
      : (Array[Array[Double]], Seq[Array[Array[Double]]], DataFrame) = {
    val cents = coarseCents(e)
    val centLit = array(cents.map(c => typedLit(c.toSeq)): _*)
    val res = e.select(col("vec_id"),
        element_at(Ivf.nearestCells(col("embedding"), cents, 1), 1).as("cell"),
        SimFns.toDouble(col("embedding")).as("vd"))
      .select(col("vec_id"), col("cell"),
        zip_with(col("vd"), element_at(centLit, col("cell") + 1),
          (x, c) => x - c).as("rv"))
    val books = Pq.train(res, "vec_id", "rv", m = 8, k = 16)
    (cents, books, res)
  }

  /** sim_ivfpq_residual's probes — driver-side, shared by query and oracle:
    * each panel query's 3 nearest cells by (dist, cell), with the query's
    * residual against that cell (whose ADC table, Pq.adcTable, scores the
    * cell's codes), as (qid, cell, residual). */
  private def ivfpqResidualProbes(e: DataFrame, cents: Array[Array[Double]])
      : Seq[(Long, Int, Array[Double])] =
    queryPanel(e).toSeq.flatMap { case (qid, qv) =>
      cents.indices.map(c => (Pq.sqL2(qv, cents(c)), c)).sorted.take(3)
        .map { case (_, c) => (qid, c, qv.indices.map(i => qv(i) - cents(c)(i)).toArray) }
    }

  /** semdedup's model, fit IDENTICALLY by semdedup, semdedup_incremental
    * and their oracle refit (one shared definition so they cannot drift):
    * the data-dependent knobs from ONE (count, max) aggregate over the
    * natural corpus — a single cheap probe job reading only vec_id — then
    * the `k`-cell quantizer from the sampled trainer on max(2048, 8·k)
    * id-ordered vectors. Returns (centroids, planted-copy offset).
    *
    *  - `k` targets a bounded expected cell occupancy of ~512 vectors, so
    *    the within-cell pairwise prune does ≤ occupancy × N total pair work
    *    — LINEAR in the corpus, where any fixed k is (N/k)² quadratic. The
    *    floor of 8 keeps tiny corpora on the fleet's trained-quantizer
    *    convention; the 4096 ceiling is the BASE-TIER budget (the sampled
    *    trainer collects 8·k vectors and NearestCells carries k×dim
    *    doubles as a plan reference object — both must stay driver-sized).
    *    Past ~2M vectors the base cells exceed the occupancy bound and
    *    [[graft.operators.Ivf.assignBounded]] (round-11, closing the
    *    round-10 verdict's semdedup ceiling) RECURSIVELY SPLITS them:
    *    per-cell sub-quantizers trained inside flatMapGroups from bounded
    *    id-ordered samples, assignment via a join against the
    *    (cell, sub, centroid) table — pair work stays linear at ANY n. At
    *    the shipped SFs occupancy ≈ target, no split triggers (measured
    *    margin, see Round11Spec), and the base tier is bit-identical to
    *    Ivf.index — the refit oracle stays exact.
    *  - the planted-copy offset is the smallest power of ten STRICTLY above
    *    max(vec_id) (and ≥ 100000, the historical convention), so planted
    *    ids can never alias real ones once the corpus passes 100k vectors
    *    (advice round 9). */
  private def semdedupFit(e: DataFrame): (Array[Array[Double]], Long) = {
    val r = e.agg(count(lit(1)), max(col("vec_id"))).head
    val n = r.getLong(0)
    val mx = if (r.isNullAt(1)) 0L else r.getLong(1)
    val k = math.min(math.max(8L, (n + 511L) / 512L), 4096L).toInt
    var off = 100000L
    while (off <= mx) off *= 10
    (Ivf.trainSampled(e, "vec_id", "embedding", k = k, sampleN = math.max(2048, 8 * k)), off)
  }

  /** SemDeDup's drop rule between two cell-assigned (vec_id, embedding,
    * cell) frames: every row of `b` that has a lower-id row of `x` in its
    * cell above cos 0.95, as (cell, did). One row per dropping pair —
    * callers take the distinct set. */
  private def semdedupDrops(x: DataFrame, b: DataFrame): DataFrame =
    x.as("x").join(b.as("b"),
        col("x.cell") === col("b.cell") && col("x.vec_id") < col("b.vec_id") &&
          SimFns.cosine(col("x.embedding"), col("b.embedding")) > 0.95)
      .select(col("b.cell").as("cell"), col("b.vec_id").as("did"))

  /** kcenter_coreset's deterministic greedy fit — a pure function of the
    * first-256 vectors in id order (the trainSampled convention), shared by
    * the query and its trained-oracle generator so the two cannot drift:
    * seed = lowest-id vector; each further center is the sample point
    * FARTHEST from its nearest selected center (classic 2-approx k-center
    * greedy; ties to the lower id). Distances are left-assoc ascending-dim
    * folds (the NearestCells loop order). */
  private def kcenterFit(s: SparkSession, dir: String,
                         k: Int = 8): Array[(Long, Array[Double])] = {
    val sample = vectors(s, dir).orderBy(col("vec_id")).limit(256)
      .select(col("vec_id"), SimFns.toDouble(col("embedding"))).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    require(sample.nonEmpty, "no vectors to fit on")
    val selected = scala.collection.mutable.ArrayBuffer(sample.head)
    while (selected.length < math.min(k, sample.length)) {
      val next = sample
        .filterNot(p => selected.exists(_._1 == p._1))
        .map { p => (p, selected.map(c => Pq.sqL2(p._2, c._2)).min) }
        .maxBy { case (p, d) => (d, -p._1) }._1
      selected += next
    }
    selected.toArray
  }

  val queries: Map[String, Q] = Map(
    // Clustering-quality card over the trained coarse quantizer (the
    // "should I trust these cells?" eval an ANN/semantic-dedup pipeline
    // runs after k-means): per cell, the SIMPLIFIED silhouette on squared
    // L2 — s = (d₂−d₁)/max(d₁,d₂) with d₁/d₂ the nearest/second-nearest
    // centroid distances (the centroid-based silhouette approximation;
    // exact silhouette is O(n²) and never runs at corpus scale). Scale
    // shape: the per-vector (d₁, cell, d₂) comes from ONE native
    // NearestCellDists k×dim loop — a narrow codegen'd map with no join
    // and no shuffle except the final 8-row aggregate; means fold as
    // exact micro-unit BIGINTs. Oracle refits the deterministic sampled
    // trainer and inlines the centroids (sim_ivf_kmeans pattern).
    "cluster_silhouette" -> ((s, dir) => {
      val e = vectors(s, dir)
      val cents = coarseCents(e)
      // one native k×dim loop per row (NearestCellDists) — the explicit
      // 8×dim column-chain alternative compiled to 9.9 MiB task binaries
      // and ~6× the runtime; distances add in ascending element order, so
      // the l2ChainSql oracle stays bit-identical
      val nd = Ivf.nearestCellDists(col("embedding"), cents, 2)
      val d1 = element_at(nd, 1).getField("d2")
      val c1 = element_at(nd, 1).getField("cell")
      val d2 = element_at(nd, 2).getField("d2")
      val sil = when(greatest(d1, d2) > 0,
        (d2 - d1) / greatest(d1, d2)).otherwise(lit(0.0))
      e.select(c1.as("cell"), d1.as("d1"), sil.as("sil"))
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n_vecs"),
          round(sum(floor(col("sil") * 1e6 + 0.5).cast(LongType))
            .cast(DoubleType) / count(lit(1)) / 1e6, 6).as("mean_sil"),
          round(sum(floor(col("d1") * 1e6 + 0.5).cast(LongType))
            .cast(DoubleType) / count(lit(1)) / 1e6, 6).as("mean_dist2"))
        .select(col("cell").cast(LongType).as("cell"), col("n_vecs"),
          col("mean_sil"), col("mean_dist2"))
        .orderBy(col("cell"))
    }),
    // Centroid classifier scoring (fastText-style quality-classifier shape):
    // per-label centroids come from ONE distributed posexplode+avg pass
    // (output is labels×dims — config-sized), broadcast back, and every
    // vector scores one native-CosineSim pass against all 10 centroids
    // (a 10x row fan-out of config-sized rows, not a data-data join).
    // `predicted` picks the best centroid on the ROUNDED sim with a label
    // tiebreak, so the argmax is engine-stable; margin = own-centroid sim
    // minus best other — the confidence signal a filtering stage thresholds.
    "embed_classify" -> ((s, dir) => {
      val (e, cent) = labeledWithCentroids(s, dir)
      val sc = e.crossJoin(broadcast(cent))
        .select(col("vec_id"), col("label"), col("clabel"),
          SimFns.cosine(col("v"), col("cv")).as("sim"))
      // prediction folds into the SAME aggregate as the similarity stats
      // via a tie-deterministic max-struct (rounded sim desc, then smallest
      // label) — one pass over the fan-out, no window, no self-join (the
      // window+join form re-computed the scored fan-out twice, SMJ'd on
      // vec_id; plan-audited)
      sc.groupBy(col("vec_id"), col("label"))
        .agg(
          (-max(struct(round(col("sim"), 6).as("s"),
            (-col("clabel")).as("nl"))).getField("nl")).as("predicted"),
          round(max(when(col("clabel") === col("label"), col("sim"))), 6).as("own_sim"),
          round(max(when(col("clabel") === col("label"), col("sim"))) -
            max(when(col("clabel") =!= col("label"), col("sim"))), 6).as("margin"))
        .select(col("vec_id"), col("label"), col("predicted"),
          col("own_sim"), col("margin"))
        .orderBy(col("vec_id"))
    }),

    // Triplet-mining card: per label, how separable it is from its hardest
    // negative CENTROID — the margin statistics (violations, min, mean)
    // contrastive/metric training mines for before spending a training run.
    // Shares embed_classify's fan-out (labels-sized centroid broadcast +
    // native CosineSim) but collapses straight to the labels domain in the
    // same aggregate pass. Violations compare the UNROUNDED margin (both
    // engines derive the identical doubles); min is order-independent;
    // mean follows the floor-1e6 precedent.
    "triplet_margin" -> ((s, dir) => {
      val (e, cent) = labeledWithCentroids(s, dir)
      e.crossJoin(broadcast(cent))
        .select(col("vec_id"), col("label"), col("clabel"),
          SimFns.cosine(col("v"), col("cv")).as("sim"))
        .groupBy(col("vec_id"), col("label"))
        .agg((max(when(col("clabel") === col("label"), col("sim"))) -
          max(when(col("clabel") =!= col("label"), col("sim")))).as("margin"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("margin") < 0, 1L).otherwise(0L)).as("n_violations"),
          (floor(min(col("margin")) * 1e6 + 0.5) / 1e6).as("min_margin"),
          (floor(avg(col("margin")) * 1e6 + 0.5) / 1e6).as("mean_margin"))
        .orderBy(col("label"))
    }),

    // Within-label embedding outlier report: cosine of every vector to its
    // OWN label centroid, flagged below a fixed threshold — the mislabeled/
    // contaminated-cluster screen that runs before centroid classifiers or
    // SemDeDup trust the labels. Same scale shape as embed_classify minus
    // the fan-out: one posexplode aggregate to labels×64 centroids, an
    // EQUI broadcast join back (each vector meets exactly its own
    // centroid), native codegen'd CosineSim scoring, and a labels-sized
    // final aggregate. min is order-independent; mean follows the
    // embed_drift precedent (floor-1e6 on an avg of ~n/label doubles).
    "embed_outliers" -> ((s, dir) => {
      val (e, cent) = labeledWithCentroids(s, dir)
      e.join(broadcast(cent), col("label") === col("clabel"))
        .select(col("label"), SimFns.cosine(col("v"), col("cv")).as("sim"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("sim") < -0.05, 1L).otherwise(0L)).as("n_out"),
          (floor(min(col("sim")) * 1e6 + 0.5) / 1e6).as("min_cos"),
          (floor(avg(col("sim")) * 1e6 + 0.5) / 1e6).as("mean_cos"))
        .orderBy(col("label"))
    }),
    // Exact brute-force cosine top-10 for 5 query vectors.
    // Product quantization ANN: 64-dim float vectors compress to 8 one-byte
    // codes (operators/Pq); search touches ONLY the codes via ADC table
    // lookups (the query's m×k distance table broadcasts; no float vector is
    // read at query time). The oracle refits the Lloyd-trained codebooks
    // (rawPqBooks) and inlines them; PqSpec pins recall vs the exact-L2
    // oracle and the ADC arithmetic itself.
    "sim_pq" -> ((s, dir) => {
      val e = vectors(s, dir)
      val books = rawPqBooks(e)
      val enc = Pq.encode(e, "vec_id", "embedding", books)
      val q = panel(e)
      ranked(Pq.search(enc, q, books, 10), "dist2")
    }),

    // Late-interaction retrieval (ColBERT's MaxSim, Khattab & Zaharia
    // 2020 — the multi-vector scoring single-vector cosine can't express:
    // each QUERY part matches its own best DOC part, so a document
    // covering all aspects beats one maximizing a pooled average). Vectors
    // deterministically slice into 4×16 sub-vectors standing in for token
    // embeddings; score = Σᵢ maxⱼ cos(qᵢ, dⱼ). The 4-way max is
    // order-free (max commutes) and the outer sum folds in fixed ascending
    // part order, so both engines walk the identical tree; ranking follows
    // sim_topk's raw-score + id-tiebreak convention. Brute force over the
    // broadcast query set — the IVF family is the scale path for the
    // candidate-generation stage in front of this re-scorer.
    "maxsim_retrieval" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = panel(e)
      val top = e.join(broadcast(q))
        .select(col("qid"), col("vec_id"),
          maxSim(col("qe"), col("embedding"), SimFns.cosine).as("ms"))
        .transform(TopK.perKey(_, col("qid"))(5, col("ms").desc, col("vec_id")))
      ranked(top.withColumnRenamed("ms", "maxsim"), "maxsim")
    }),

    // PLAID-style centroid-pruned late interaction (Santhanam et al.
    // 2022 — how ColBERT actually runs at scale: maxsim_retrieval's
    // brute-force corpus×queries MaxSim is the quality ceiling, PLAID
    // prunes candidates by coarse-quantizing every SUB-vector into a
    // shared centroid space and scoring only docs that share a cell with
    // some query sub-vector). ONE k=32 quantizer trained on the id-ordered
    // sub-vector stream (sid = vec_id·4+pos — deterministic sample);
    // candidates come from a cell EQUI-JOIN between the exploded
    // (vec_id, cell) postings and the query's probe cells — work ∝ cell
    // occupancy, never corpus×queries — then the exact shared MaxSim
    // formula re-ranks candidates only. Card: per-query candidate volume
    // (the pruning price) and top-5 recall vs the brute-force truth —
    // self-retrieval guarantees hits ≥ 1 (spec). Oracle: trained pattern,
    // 8 centroids × 4 position offsets inlined as distance chains.
    "maxsim_ivf" -> ((s, dir) => {
      val e = vectors(s, dir)
      val cents = subCents(e)
      val cellsArr = array((0 until 4).map(i =>
        element_at(Ivf.nearestCells(slice(col("embedding"), i * 16 + 1, 16), cents, 1), 1)): _*)
      val docs = e.select(col("vec_id"), col("embedding"), cellsArr.as("cells"))
        .localCheckpoint(false) // postings, queries, rerank, truth all read it
      val q = docs.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("cells").as("qcells"))
      val dcell = docs.select(col("vec_id"), explode(col("cells")).as("cell")).distinct()
      val qcell = q.select(col("qid"), explode(col("qcells")).as("cell")).distinct()
      val cand = dcell.join(broadcast(qcell), "cell")
        .select(col("qid"), col("vec_id")).distinct()
        .localCheckpoint(false) // counted AND re-ranked
      def top5(pairs: DataFrame) = pairs
        .select(col("qid"), col("vec_id"),
          maxSim(col("qe"), col("embedding"), SimFns.cosine).as("ms"))
        .transform(TopK.perKey(_, col("qid"))(5, col("ms").desc, col("vec_id")))
        .select(col("qid"), col("vec_id"))
      val qe = broadcast(q.select(col("qid"), col("qe")))
      val rer = top5(cand.join(docs.select(col("vec_id"), col("embedding")), "vec_id")
        .join(qe, "qid"))
      val truth = top5(docs.select(col("vec_id"), col("embedding")).crossJoin(qe))
      candRecall(q.select(col("qid")), cand, rer, truth,
        Some(e.agg(count(lit(1)).as("n_corpus"))))
    }),

    // PLAID with COMPRESSED rerank (round-11 verdict missing #2 —
    // maxsim_ivf prunes candidates by shared sub-vector cells but reranks
    // on RAW float embeddings; at 100 TB the raw-vector IO dominates, and
    // PLAID's actual production trick is ADC over PQ-compressed residuals:
    // the doc side of the rerank reads CODES ONLY — 5 small ints per
    // sub-vector instead of 16 floats, a ~12× IO cut — while queries keep
    // their raw vectors, per ColBERTv2/PLAID). Approximate late
    // interaction: dot(q_i, d_j) ≈ dot(q_i, cent[cell_j]) +
    // dot(q_i[0:8], rbook0[c_j0]) + dot(q_i[8:16], rbook1[c_j1]) — three
    // broadcast lut joins (lut size = queries × 4 slices × (32+16+16)
    // entries, query-set-sized at any corpus scale), summed
    // left-associatively, maxed per query slice, summed across slices in
    // a PINNED order (an m0..m3 pivot — a plain double sum would be
    // accumulation-order-dependent). Card: candidate volume + top-5
    // recall of the COMPRESSED rerank vs the exact raw-dot MaxSim truth —
    // the recall-vs-compression trade. Oracle: trained pattern — shared
    // quantizer + both residual codebooks refit driver-side and inlined.
    "maxsim_pq" -> ((s, dir) => {
      val parts = maxsimPqParts(s, dir)
      val rer = TopK.perKey(parts.scored, col("qid"))(5, col("score").desc, col("vec_id"))
        .select(col("qid"), col("vec_id"))
      val truth = parts.corpus.crossJoin(broadcast(parts.queries))
        .select(col("qid"), col("vec_id"), maxSim(SimFns.toDouble(col("qe")),
          SimFns.toDouble(col("embedding")), SimFns.dot).as("ms"))
        .transform(TopK.perKey(_, col("qid"))(5, col("ms").desc, col("vec_id")))
        .select(col("qid"), col("vec_id"))
      candRecall(parts.queries.select(col("qid")), parts.cand, rer, truth, None)
    }),

    "sim_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = panel(e)
      TopK.byCosine(e.join(broadcast(q)), 10, "embedding")
        .transform(ranked(_, "cos"))
    }),

    // IVF-style: the label column is the coarse cell; search only the
    // query's own cell (1-probe). Exactly mirrored by the oracle.
    "sim_ivf" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.where(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("label").as("qlabel"))
      TopK.byCosine(e.join(broadcast(q), col("label") === col("qlabel")), 5, "embedding")
        .transform(ranked(_, "cos"))
    }),

    // IVF with a trained coarse quantizer (deterministic k-means): probe the
    // 3 nearest of 8 cells. Training is SAMPLE-based (one bounded collect +
    // driver Lloyd — corpus-size-independent, the FAISS convention; the
    // distributed corpus-wide Ivf.train stays available for ragged data).
    // The oracle refits the quantizer (coarseCents) and inlines it; recall
    // vs brute force and sampled-vs-distributed parity are pinned by IvfSpec.
    "sim_ivf_kmeans" -> ((s, dir) => {
      val e = vectors(s, dir)
      val centroids = coarseCents(e)
      val idx = Ivf.index(e, centroids, "embedding")
      val q = panel(e)
      Ivf.search(idx, centroids, q, "embedding", topK = 10, nprobe = 3)
        .transform(ranked(_, "cos"))
    }),

    // IVF APPEND-BATCH ingestion (dedup_incremental's ANN sibling — the
    // production loop at 100 TB): the corpus is assigned + written
    // partitioned-by-cell ONCE (keyed by data fingerprint like the dedup
    // caches); each incoming batch is assigned by the SAME frozen
    // quantizer (a narrow codegen'd map over the batch only — the corpus
    // is never re-read, never re-indexed) and lands in its own snapshot
    // directory; probes read the UNION of snapshots with per-side
    // partition pruning. Search results must equal a full recompute over
    // corpus ∪ batch — the oracle regenerates that ground truth with the
    // inlined trained centroids.
    "sim_ivf_append" -> ((s, dir) => {
      // both snapshots publish atomically ensure-once (round-11 ADVICE) via
      // the ONE shared lifecycle construction
      val (e, cents, base) = ivfLifecycleSnapshots(s, dir)
      val idx = Ivf.readIndex(s, s"$base/corpus")
        .unionByName(Ivf.readIndex(s, s"$base/batch_1"))
      val q = panel(e)
      Ivf.search(idx, cents, q, "embedding", topK = 10, nprobe = 3)
        .transform(ranked(_, "cos"))
    }),

    // IVF snapshot COMPACTION — the index-maintenance op that completes
    // the build → append (sim_ivf_append) → compact lifecycle: appended
    // snapshot dirs accumulate small files and per-snapshot listing cost,
    // so a periodic compaction rewrites the snapshot UNION into one
    // cell-partitioned layout. Crucially there is NO re-assignment and no
    // quantizer involvement — cells are STORED, the rewrite is a pure
    // partitioned shuffle-write of (vec_id, embedding, cell) — so
    // compaction cost is IO-linear in the index size at any scale and the
    // compacted index must search EXACTLY like the snapshot union: the
    // declared output is the same probe search, checked against the
    // sim_ivf_append oracle (full recompute over corpus ∪ batch).
    "ivf_compact" -> ((s, dir) => {
      val (e, cents, base) = ivfLifecycleSnapshots(s, dir)
      // the compaction: snapshot union → ONE partitioned-by-cell rewrite,
      // atomically published (ensure-once: the union is a pure function of
      // the two fingerprint-keyed snapshots)
      graft.operators.DiskCache.ensure(s"$base/compacted_1") { tmp =>
        Ivf.writeIndex(Ivf.readIndex(s, s"$base/corpus")
          .unionByName(Ivf.readIndex(s, s"$base/batch_1")), tmp)
      }
      val idx = Ivf.readIndex(s, s"$base/compacted_1")
      val q = panel(e)
      Ivf.search(idx, cents, q, "embedding", topK = 10, nprobe = 3)
        .transform(ranked(_, "cos"))
    }),

    // IVF DELETE — the tombstoned vector forget that completes the index
    // lifecycle build → append (sim_ivf_append) → compact (ivf_compact) →
    // DELETE: right-to-be-forgotten exists for events (forget_users) but a
    // purged user's EMBEDDINGS stayed searchable forever (round-11 verdict
    // missing #1). Production vector stores tombstone first (search-time
    // exclusion, O(|index ∩ tombstones|) via an anti-join — no index
    // rewrite on the delete path) and physically DROP at the next
    // compaction. The forget set is the family's convention: user ids
    // ≡ 0 (mod 30) — including their planted +100000 batch copies (the
    // same user's data lands in every snapshot). The declared output is
    // the probe search over the COMPACTED post-delete index; the oracle is
    // a full recompute over (corpus ∪ batch) − deleted, and Round12Spec
    // pins (a) no tombstoned id survives compaction and (b) the logical
    // (anti-join) and physical (compacted) delete paths search
    // identically.
    "ivf_delete" -> ((s, dir) => {
      val (e, cents, base) = ivfLifecycleSnapshots(s, dir)
      // the tombstone set: forgotten users' corpus rows AND their batch
      // copies — id-only (a tombstone never stores the vector)
      val tomb = e.where(col("vec_id") % 30 === 0).select(col("vec_id"))
        .unionByName(e.where(col("vec_id") % 50 === 0 && col("vec_id") % 30 === 0)
          .select((col("vec_id") + 100000L).as("vec_id")))
      // compaction with drop: snapshot union − tombstones → ONE
      // partitioned-by-cell rewrite (IO-linear; the quantizer is never
      // touched — deleted rows simply don't land)
      graft.operators.DiskCache.ensure(s"$base/compacted_del_1") { tmp =>
        Ivf.writeIndex(Ivf.readIndex(s, s"$base/corpus")
          .unionByName(Ivf.readIndex(s, s"$base/batch_1"))
          .join(tomb, Seq("vec_id"), "left_anti"), tmp)
      }
      val idx = Ivf.readIndex(s, s"$base/compacted_del_1")
      // queries come from the SURVIVING corpus (vec_id 0 is itself
      // forgotten — a purged user no longer issues queries, and the
      // oracle's query CTE reads the post-delete corpus)
      val q = e.where(col("vec_id") < 5 && col("vec_id") % 30 =!= 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      Ivf.search(idx, cents, q, "embedding", topK = 10, nprobe = 3)
        .transform(ranked(_, "cos"))
    }),

    // IVF RETRAIN TRIGGER — the operational decision that closes the index
    // lifecycle build → append → compact → delete (round-12 verdict #3):
    // after appends, does the FROZEN quantizer still fit the data, or is a
    // retrain due? FAISS operational practice monitors exactly the signals
    // measured here per append batch, each exact-integer and bit-exact
    // against the refit oracle:
    //   occ_l1_ppm     — L1 distance between the batch's and the corpus's
    //                    cell-occupancy distributions (ppm, integer DIV);
    //                    drifted data concentrates in the wrong cells;
    //   max_share_ppm  — worst single-cell share (imbalance factor);
    //   qerr_ratio_ppm — batch mean quantization error (µ-unit BIGINT sum
    //                    of squared distance to the assigned centroid —
    //                    the bm25_prf per-term-quantize precedent) over
    //                    corpus mean, in ppm. THE retrain signal: a frozen
    //                    quantizer far from new data reconstructs it badly;
    //   recall6        — measured recall decay: nprobe=3/top-10 IVF search
    //                    of a 5-query panel drawn FROM the batch against
    //                    exact truth over corpus ∪ batch.
    // Two planted batches exercise both verdicts: every 5th corpus vector
    // re-ingested as-is (in-distribution — trigger must stay SILENT) and
    // the same vectors SHIFTED by +2.0 per dimension (exact in IEEE double,
    // so both engines transform bit-identically; the shifted cloud sits 16
    // L2-units up the all-ones diagonal, far from every centroid — trigger
    // must FIRE). A negation drift was probed first and measured DEAD (the
    // embedding distribution is near-symmetric — see the threshold
    // scaladoc); thresholds are frozen from measured margins at all 3 SFs
    // (Round13Spec; planted-signal rule).
    // Scale: metrics are one narrow codegen'd assign pass per batch + k-row
    // aggregates; the corpus baseline is the same pass production amortizes
    // into the index build. d2u BIGINT sums hold to ~3e10 vectors (d2u ≤
    // ~3e8 µ-units at this geometry); past that the sums move to
    // DECIMAL(38) like the checksum precedent.
    "ivf_retrain_trigger" -> ((s, dir) => {
      val e = vectors(s, dir)
      val cents = coarseCents(e)
      val k = cents.length
      val ev = e.select(col("vec_id"), SimFns.toDouble(col("embedding")).as("v"))
      def assigned(df: DataFrame) = {
        val cd = element_at(Ivf.nearestCellDists(col("v"), cents, 1), 1)
        df.select(col("vec_id"), col("v"), cd.getField("cell").as("cell"),
          floor(cd.getField("d2") * 1e6 + 0.5).cast(LongType).as("d2u"))
      }
      // ONE corpus assign pass feeds the occupancy baseline, the qerr
      // baseline and both recall indexes (production keeps this materialized
      // as the index itself — writeIndex — so the baseline is free there)
      val corpusA = assigned(ev).localCheckpoint(false)
      val cellDom = s.range(0, k).select(col("id").cast("int").as("cell"))
      def occ(a: DataFrame, n: String) =
        cellDom.join(a.groupBy(col("cell")).agg(count(lit(1)).as(n)), Seq("cell"), "left")
          .select(col("cell"), coalesce(col(n), lit(0L)).as(n))
      def tot(a: DataFrame, np: String, sp: String) =
        a.agg(count(lit(1)).as(np), sum(col("d2u")).as(sp))
      val cOcc = occ(corpusA, "cn")
      val cTot = tot(corpusA, "nc", "csum")
      def card(name: String, batch: DataFrame, off: Long) = {
        val ba = assigned(batch).localCheckpoint(false)
        val met = occ(ba, "bn").join(cOcc, "cell")
          .crossJoin(broadcast(tot(ba, "nb", "bsum"))).crossJoin(broadcast(cTot))
          .agg(
            max(col("nb")).as("n_vecs"),
            sum(abs(expr("(bn * 1000000) DIV nb") - expr("(cn * 1000000) DIV nc")))
              .as("occ_l1_ppm"),
            max(expr("(bn * 1000000) DIV nb")).as("max_share_ppm"),
            max(expr("((bsum DIV nb) * 1000000) DIV (csum DIV nc)")).as("qerr_ratio_ppm"))
        // recall decay: panel = the batch copies of the 5 smallest source
        // ids ≡ 0 (mod 5); index = corpus ∪ batch, both already assigned
        val idx = corpusA.select(col("vec_id"), col("v"), col("cell"))
          .unionByName(ba.select(col("vec_id"), col("v"), col("cell")))
        val qs = ba.where(col("vec_id") < off + 25L)
          .select(col("vec_id").as("qid"), col("v").as("qe"))
        val ivfTop = Ivf.search(idx, cents, qs, "v", topK = 10, nprobe = 3)
          .select(col("qid"), col("vec_id"))
        val truth = TopK.byCosine(idx.crossJoin(broadcast(qs)), 10, "v")
          .select(col("qid"), col("vec_id"))
        val rec = ivfTop.join(truth, Seq("qid", "vec_id"))
          .agg(count(lit(1)).as("hits"))
          .crossJoin(broadcast(qs.agg(count(lit(1)).as("np"))))
          .select(expr("(hits * 1000000) DIV (10 * np)").as("recall6"))
        met.join(rec, lit(true), "left").select(lit(name).as("batch"),
          col("n_vecs"), col("occ_l1_ppm"), col("max_share_ppm"),
          col("qerr_ratio_ppm"), col("recall6"))
      }
      val src = ev.where(col("vec_id") % 5 === 0)
      val bIn = src.select((col("vec_id") + 100000L).as("vec_id"), col("v"))
      val bDr = src.select((col("vec_id") + 200000L).as("vec_id"),
        transform(col("v"), x => x + lit(2.0)).as("v"))
      card("batch_drifted", bDr, 200000L)
        .unionByName(card("batch_indist", bIn, 100000L))
        .withColumn("retrain",
          col("occ_l1_ppm") > RetrainOccL1Ppm ||
            col("qerr_ratio_ppm") > RetrainQerrPpm || col("recall6") < RetrainRecall6)
        .orderBy(col("batch"))
    }),

    // RANGE (radius/threshold) similarity search — the retrieval shape
    // top-k can't express: "EVERYTHING above cos τ" (dedup candidate
    // generation, near-match alerting, recall-first filtering demand all
    // matches, not the best k). τ = 0.3 CALIBRATED to the corpus
    // (measured 1–16 matches per query at both sf0.001 and sf0.1; 0.4
    // would return zero — the planted-threshold discipline). The IVF
    // probe answers the range query from nprobe=3 cells; truth is the
    // exact query-bounded scan, and the card reports range-RECALL —
    // the probe's matches are a subset of truth by construction, so the
    // µ-unit recall is the honest cell-pruning price. All-BIGINT output
    // (counts, id checksums, recalls) — bit-exact compare. Oracle:
    // trained-oracle pattern with the threshold inlined.
    "sim_range_search" -> ((s, dir) => {
      val e = vectors(s, dir)
      val cents = coarseCents(e)
      val idx = Ivf.index(e, cents, "embedding")
      val q = panel(e)
      val hits = idx.join(Ivf.probe(q, cents, 3), "cell")
        .where(col("vec_id") =!= col("qid") &&
          SimFns.cosine(col("qe"), col("embedding")) >= 0.3)
        .groupBy(col("qid"))
        .agg(count(lit(1)).as("n_probe"), sum(col("vec_id")).as("probe_id_sum"))
      val exact = e.crossJoin(broadcast(q))
        .where(col("vec_id") =!= col("qid") &&
          SimFns.cosine(col("qe"), col("embedding")) >= 0.3)
        .groupBy(col("qid"))
        .agg(count(lit(1)).as("n_exact"), sum(col("vec_id")).as("exact_id_sum"))
      q.select(col("qid"))
        .join(exact, Seq("qid"), "left")
        .join(hits, Seq("qid"), "left")
        .select(col("qid"),
          coalesce(col("n_exact"), lit(0L)).as("n_exact"),
          coalesce(col("exact_id_sum"), lit(0L)).as("exact_id_sum"),
          coalesce(col("n_probe"), lit(0L)).as("n_probe"),
          coalesce(col("probe_id_sum"), lit(0L)).as("probe_id_sum"))
        .withColumn("recall6",
          expr("(n_probe * 1000000) DIV greatest(n_exact, 1)"))
        .orderBy(col("qid"))
    }),

    // Label-match retrieval MRR — the reciprocal-rank eval the recall
    // cards (ann_recall, knn_eval) don't cover: "how deep must a user
    // read before the first relevant hit". Relevance = same label;
    // queries are the seeded md5-ordered 64-id subset (knn_eval_sampled's
    // 100 TB-safe pattern), the ranking is cut at 100 by a
    // WindowGroupLimit-planned rank filter (MRR@100: misses score 0), and
    // every metric is an exact BIGINT — reciprocal ranks as 1e6 DIV rank
    // µ-units, means as integer division — so the compare is bit-exact.
    "retrieval_mrr" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .where(col("embedding").isNotNull && col("label").isNotNull)
        .select(col("vec_id"), col("label").cast(LongType).as("lbl"), col("embedding"))
      val q = e
        .orderBy(md5(concat(lit("mrr1:"), col("vec_id").cast("string"))), col("vec_id"))
        .limit(64)
        .select(col("vec_id").as("qid"), col("lbl").as("qlbl"), col("embedding").as("qe"))
      val top = TopK.byCosine(e.crossJoin(broadcast(q)).where(col("vec_id") =!= col("qid")),
        100, "embedding", "qlbl", "lbl")
      val firstHit = top.where(col("lbl") === col("qlbl"))
        .groupBy(col("qid"), col("qlbl"))
        .agg(min(col("rank")).cast(LongType).as("rank1"))
      q.select(col("qid"), col("qlbl"))
        .join(firstHit, Seq("qid", "qlbl"), "left")
        .groupBy(col("qlbl").as("label"))
        .agg(count(lit(1)).as("n_queries"),
          count(when(col("rank1") === 1, 1)).as("hits_at1"),
          count(when(col("rank1") <= 10, 1)).as("hits_at10"),
          count(col("rank1")).as("hits_at100"),
          sum(coalesce(expr("1000000 DIV rank1"), lit(0L))).as("rr6_sum"))
        .withColumn("mrr6", expr("rr6_sum DIV n_queries"))
        .orderBy(col("label"))
    }),

    // FILTERED (predicate-constrained) ANN — the most common production
    // vector-search shape (round-10 verdict "what's missing" #1:
    // "neighbors among docs WHERE lang='en' AND quality>0.8"), and the
    // card that prices the two ways to do it:
    //  - FILTERED PROBE: the predicate (label % 3 = 0, ~1/3 selective)
    //    pushes INTO the cell-pruned candidate scan — Catalyst places the
    //    filter below the probe join, and on the partitioned-by-cell
    //    on-disk layout it composes with partition pruning, so top-k
    //    fills from matching vectors only;
    //  - POST-FILTER (the anti-pattern): unfiltered top-10, predicate
    //    applied after — survivors ≈ 10×selectivity and recall collapses.
    // Ground truth is exact filtered top-10 (query-bounded brute force).
    // All metrics are exact BIGINTs (hit counts, µ-unit recalls) — the
    // Spark/DuckDB compare is bit-exact. Oracle: trained-oracle pattern
    // (refit + inlined centroid distance chains + the same predicate).
    "sim_filtered" -> ((s, dir) => {
      val e = labeledVectors(s, dir)
      val pred = col("label") % 3 === 0
      val cents = coarseCents(e)
      val idx = Ivf.index(e, cents, "embedding")
      val q = panel(e)
      val fil = Ivf.search(idx.where(pred), cents, q, "embedding", topK = 10, nprobe = 3)
        .select(col("qid"), col("vec_id"))
        .localCheckpoint(false) // counted AND truth-joined
      val post = Ivf.search(idx, cents, q, "embedding", topK = 10, nprobe = 3)
        .select(col("qid"), col("vec_id"))
        .join(e.select(col("vec_id"), col("label")), "vec_id")
        .where(pred)
        .select(col("qid"), col("vec_id"))
        .localCheckpoint(false)
      // exact filtered top-10: the rank<=10 filter plans WindowGroupLimit
      // around the qid exchange, so no task holds a query's full candidate
      // ranking (the knn_eval_sampled shape)
      val truth = TopK.byCosine(e.where(pred).crossJoin(broadcast(q)), 10, "embedding")
        .select(col("qid"), col("vec_id"))
        .localCheckpoint(false)
      def cnt(df: DataFrame, name: String) =
        df.groupBy(col("qid")).agg(count(lit(1)).as(name))
      def hits(df: DataFrame, name: String) =
        df.join(truth, Seq("qid", "vec_id"), "left_semi")
          .groupBy(col("qid")).agg(count(lit(1)).as(name))
      q.select(col("qid"))
        .join(cnt(truth, "n_truth"), Seq("qid"), "left")
        .join(cnt(fil, "n_filtered"), Seq("qid"), "left")
        .join(hits(fil, "filtered_hits"), Seq("qid"), "left")
        .join(cnt(post, "n_post"), Seq("qid"), "left")
        .join(hits(post, "post_hits"), Seq("qid"), "left")
        .select(col("qid"),
          coalesce(col("n_truth"), lit(0L)).as("n_truth"),
          coalesce(col("n_filtered"), lit(0L)).as("n_filtered"),
          coalesce(col("filtered_hits"), lit(0L)).as("filtered_hits"),
          coalesce(col("n_post"), lit(0L)).as("n_post"),
          coalesce(col("post_hits"), lit(0L)).as("post_hits"))
        .withColumn("recall_filtered6",
          expr("(filtered_hits * 1000000) DIV greatest(n_truth, 1)"))
        .withColumn("recall_post6",
          expr("(post_hits * 1000000) DIV greatest(n_truth, 1)"))
        .orderBy(col("qid"))
    }),

    // Greedy k-center coreset (the 2-approx farthest-point heuristic —
    // the active-learning / diverse-subset selection primitive): 8
    // centers fit on the bounded first-256 sample (corpus-size-
    // independent, the trainSampled convention), then the WHOLE corpus
    // assigns to its nearest center in one native codegen'd
    // NearestCellDists pass — no join, no shuffle except the 8-row card
    // aggregate. The card reports per-center mass, mean d² (micro-unit
    // BIGINT fold) and the coverage radius max d² — the "how well do 8
    // exemplars cover the space" measurement that prices a coreset before
    // an annotation/distillation run. Oracle: trained-oracle pattern —
    // the shared kcenterFit re-runs at dump time and the centers inline
    // as literal distance chains.
    "kcenter_coreset" -> ((s, dir) => {
      val centers = kcenterFit(s, dir)
      val e = vectors(s, dir)
      val nd = Ivf.nearestCellDists(col("embedding"), centers.map(_._2), 1)
      import s.implicits._
      val ids = broadcast(centers.zipWithIndex
        .map { case ((id, _), i) => (i, id) }.toSeq.toDF("cell", "center_id"))
      e.select(element_at(nd, 1).getField("cell").as("cell"),
          element_at(nd, 1).getField("d2").as("d1"))
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n_vecs"),
          round(sum(floor(col("d1") * 1e6 + 0.5).cast(LongType))
            .cast(DoubleType) / count(lit(1)) / 1e6, 6).as("mean_d2"),
          (floor(max(col("d1")) * 1e6 + 0.5) / 1e6).as("radius_d2"))
        .join(ids, "cell")
        .select(col("center_id"), (col("cell") + 1).cast(LongType).as("step"),
          col("n_vecs"), col("mean_d2"), col("radius_d2"))
        .orderBy(col("step"))
    }),

    // IVF-PQ with RESIDUAL encoding — FAISS's by_residual=true DEFAULT,
    // completing sim_ivfpq's composition with the production refinement:
    // PQ codebooks train on v − centroid[cell], so they only cover the
    // within-cell spread (tighter quantization at the same byte budget),
    // and each query precomputes a SEPARATE ADC table per probed cell
    // (its residual against that cell). The residual materializes in its
    // own projection (one interpreted zip_with per row; the 8 native
    // NearestCells probes read the materialized array); LUTs are
    // (queries × 3 cells × m × k) broadcast rows — config-sized at any
    // corpus scale. Oracle: shared model refit + literal centroids in a
    // CASE-indexed list_transform residual, PQ chains over rv, per-
    // (query, cell) ADC arrays inlined.
    "sim_ivfpq_residual" -> ((s, dir) => {
      val e = vectors(s, dir)
      val (cents, books, res) = ivfpqResidualParts(e)
      val enc = res.select(col("vec_id"), col("cell"),
        Pq.codesFor(col("rv"), books).as("codes"))
      val probes = ivfpqResidualProbes(e, cents)
      import s.implicits._
      val probesDF = broadcast(probes.map(p => (p._1, p._2)).toDF("qid", "cell"))
      val lut = broadcast(probes.flatMap { case (qid, cell, rq) =>
        Pq.adcTable(rq, books).map { case (j, c, d) => (qid, cell, j, c, d) }
      }.toDF("qid", "cell", "j", "code", "d"))
      enc.join(probesDF, "cell")
        .select(col("qid"), col("cell"), col("vec_id"),
          posexplode(col("codes")).as(Seq("j", "code")))
        .join(lut, Seq("qid", "cell", "j", "code"))
        .groupBy(col("qid"), col("vec_id")).agg(sum(col("d")).as("dist2"))
        .transform(TopK.perKey(_, col("qid"))(10, col("dist2").asc, col("vec_id").asc))
        .transform(ranked(_, "dist2"))
    }),

    // MMR diversity re-ranking (Carbonell & Goldstein) — the standard
    // result-diversification stage between retrieval and the context
    // window: greedily pick 5 of the top-20 dense candidates maximizing
    // λ·rel − (1−λ)·max-sim-to-already-picked (λ=0.7; the uniform
    // recurrence treats the empty selected set as max-sim 0, so step 1 is
    // the pure-relevance argmax). Scale shape: candidate generation is
    // the distributed dense top-20 (queries broadcast, rank windows per
    // query); the greedy runs on the COLLECTED 3×20 candidate set — fixed
    // size by construction (rank ≤ 20 × 3 literal queries), the graph-
    // family precedent for config-sized sequential recurrences. The
    // oracle unrolls the identical 5-step recurrence with correlated
    // max-sim subqueries; scores are two-op double folds of cosines both
    // engines derive bit-identically (sim_topk precedent), ties to the
    // lower doc id. Round 9 (advice item): the pairwise candidate sims
    // come from a SECOND distributed pass through SimFns.cosine — the one
    // pinned cosine implementation pair — instead of a hand-rolled driver
    // copy; the greedy only ever reads the collected 20×20 sim matrix, so
    // a single-ulp divergence in a third cosine can no longer flip an
    // argmax pick.
    "mmr_diversify" -> ((s, dir) => {
      val e = vectors(s, dir)
      val q = e.where(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val cand = TopK.byCosine(e.crossJoin(broadcast(q)).where(col("vec_id") =!= col("qid")),
          20, "embedding", "embedding")
        .select(col("qid"), col("vec_id"), col("cos"), col("embedding"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getSeq[Float](3)))
      import s.implicits._
      // fixed-size (3 queries × ≤20 candidates) local relation → one
      // distributed SimFns.cosine pass over the ≤ 3·20·19/2 pairs
      val candDf = cand.map { case (qid, id, _, emb) => (qid, id, emb) }
        .toSeq.toDF("qid", "vec_id", "emb")
      val simM = candDf.as("x").join(candDf.as("y"),
          col("x.qid") === col("y.qid") && col("x.vec_id") < col("y.vec_id"))
        .select(col("x.qid"), col("x.vec_id").as("a"), col("y.vec_id").as("b"),
          SimFns.cosine(col("x.emb"), col("y.emb")).as("sim"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getDouble(3))
        .toMap
      def sim(qid: Long, x: Long, y: Long): Double =
        simM((qid, math.min(x, y), math.max(x, y)))
      val out = cand.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (qid, cs) =>
        var remaining = cs.map(c => (c._2, c._3)).sortBy(_._1).toSeq
        var selected = Seq.empty[Long]
        (1 to 5).map { step =>
          val scored = remaining.map { case (id, rel) =>
            val maxs = if (selected.isEmpty) 0.0
              else selected.map(sid => sim(qid, id, sid)).max
            (id, rel, 0.7 * rel - 0.3 * maxs)
          }
          val best = scored.minBy { case (id, _, sc) => (-sc, id) }
          selected :+= best._1
          remaining = remaining.filterNot(_._1 == best._1)
          (qid, step.toLong, best._1, best._3, best._2)
        }
      }
      out.toDF("qid", "step", "doc_id", "score_raw", "rel_raw")
        .select(col("qid"), col("step"), col("doc_id"),
          round(col("score_raw"), 6).as("score"), round(col("rel_raw"), 6).as("rel"))
        .orderBy(col("qid"), col("step"))
    }),

    // IVF nprobe tuning curve — the recall-vs-cost card that SIZES an ANN
    // deployment (ann_recall prices two bucketing methods at one setting;
    // THIS sweeps the knob): recall@10 vs brute force for nprobe ∈
    // {1,2,4,8} over the SAME trained 8-cell quantizer. Candidate cosines
    // compute ONCE with each candidate's cell-rank attached; each nprobe
    // level is a filter + rank window over that one fan-out, so the sweep
    // costs one pass, not four. nprobe=8 probes every cell ⇒ recall 1.0 —
    // a built-in sanity anchor (matryoshka's dim=64 convention). Oracle:
    // trained-model pattern (refit + inlined centroid distance chains).
    "ann_nprobe_sweep" -> ((s, dir) => {
      val e = vectors(s, dir)
      val cents = coarseCents(e)
      val assigned = Ivf.index(e, cents, "embedding")
      val q = panel(e)
      val (truth, nTruth) =
        panelTruth(e.crossJoin(broadcast(q)).where(col("vec_id") =!= col("qid")))
      val possible = lit(nTruth)
      val cand = assigned.join(Ivf.probe(q, cents, 8), "cell")
        .where(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("crank"), col("vec_id"),
          SimFns.cosine(col("qe"), col("embedding")).as("cos"))
      val lev = cand
        .withColumn("np", explode(array(lit(1), lit(2), lit(4), lit(8))))
        .where(col("crank") <= col("np"))
        .transform(TopK.perKey(_, col("qid"), col("np"))(10, col("cos").desc, col("vec_id")))
        .select(col("np"), col("qid"), col("vec_id"))
      val hits = lev.join(truth, Seq("qid", "vec_id"), "left_semi")
        .groupBy(col("np")).agg(count(lit(1)).as("hits"))
      import s.implicits._
      Seq(1, 2, 4, 8).toDF("np").join(hits, Seq("np"), "left")
        .select(col("np").cast(LongType).as("nprobe"),
          coalesce(col("hits"), lit(0L)).as("hits"), possible.as("possible"),
          (floor(coalesce(col("hits"), lit(0L)) / possible.cast(DoubleType) * 1e4 + 0.5)
            / 1e4).as("recall"))
        .orderBy(col("nprobe"))
    }),

    // Leave-one-out kNN label-recovery — the standard "is this embedding
    // space any good" eval card (a probe classifier without training):
    // for each of 100 query vectors, the 10 nearest neighbors (cosine,
    // self excluded) vote on its label; ties → smaller label. Per-label
    // accuracy is an exact count ratio. Scale shape: queries broadcast,
    // ONE corpus×queries fan-out, rank windows per query cut at 10, then
    // everything is query-domain-sized; at real scale the fan-out swaps
    // for an IVF probe (sim_ivf) with ann_recall pricing the swap —
    // brute force IS the declared ground truth here. At 100 TB, use the
    // knn_eval_sampled variant: a seeded fixed-size md5-ordered query
    // subset caps truth cost at corpus×|sample| (the same knob applies to
    // every eval card in this family — swap the vec_id<N prefix for the
    // md5 TakeOrdered sample).
    "knn_eval" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .where(col("embedding").isNotNull && col("label").isNotNull)
        .select(col("vec_id"), col("label").cast(LongType).as("lbl"), col("embedding"))
      val q = e.where(col("vec_id") < 100)
        .select(col("vec_id").as("qid"), col("lbl").as("qlbl"), col("embedding").as("qe"))
      knnVote(e, q)
    }),

    // knn_eval's SAMPLED-TRUTH variant (round-9 verdict #8 — the knob that
    // keeps eval cards runnable at 100 TB): instead of a prefix-of-ids
    // query set, the queries are a SEEDED FIXED-SIZE pseudo-random subset —
    // order every id by md5("knn1:" || id) (a deterministic permutation
    // both engines compute identically; the "knn1:" prefix IS the seed)
    // and take the first 64. Selection is one bounded TakeOrdered pass;
    // ground truth is then brute-forced over corpus × 64 — LINEAR in the
    // corpus with a constant factor you pick, vs corpus × corpus for
    // exhaustive truth. Everything downstream is knn_eval verbatim
    // (10-NN vote, per-label exact accuracy).
    "knn_eval_sampled" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .where(col("embedding").isNotNull && col("label").isNotNull)
        .select(col("vec_id"), col("label").cast(LongType).as("lbl"), col("embedding"))
      val q = e
        .orderBy(md5(concat(lit("knn1:"), col("vec_id").cast("string"))), col("vec_id"))
        .limit(64)
        .select(col("vec_id").as("qid"), col("lbl").as("qlbl"), col("embedding").as("qe"))
      knnVote(e, q)
    }),

    // SemDeDup (Abbas et al. 2023) — semantic deduplication at embedding
    // scale: a cheap k-means quantizer buckets the corpus, then the
    // expensive pairwise-cosine prune runs ONLY within cells — Σ cell²
    // work instead of corpus², the bucketed-never-all-pairs contract of
    // the MinHash/LSH family, with the cell as the partitioning key. The
    // cell count is DATA-DEPENDENT (round-9 verdict #1 — a fixed k makes
    // within-cell pairwise (N/k)², quadratic again at scale): k targets a
    // bounded EXPECTED CELL OCCUPANCY (semdedupFit), so the total
    // within-cell pair volume is occupancy × N — LINEAR in the corpus.
    // Corpus = embeddings ∪ planted copies (vec_id%25 re-planted at an
    // offset semdedupFit derives as a power of ten ABOVE max vec_id,
    // so planted ids can never alias real ones at any SF — the natural
    // corpus has no pairs above cos 0.7, so the planted near-dups ARE the
    // signal). Drop rule: within a cell, a vector is dropped when any
    // LOWER-id vector sits above cos 0.95 (deterministic keeper; cosines
    // via SimFns.cosine ≡ list_cosine_similarity, the sim_topk-pinned
    // pair). Declared output: the per-cell card with an exact dropped-id
    // checksum. Oracle: trained-model pattern (refit + inlined centroid
    // distance chains, recomputing the SAME k and offset from the data).
    "semdedup" -> ((s, dir) => {
      val e = vectors(s, dir)
      val (cents, off) = semdedupFit(e)
      val corpus = e.unionByName(e.where(col("vec_id") % 25 === 0)
        .select((col("vec_id") + off).as("vec_id"), col("embedding")))
      // bounded-occupancy assignment: identical to Ivf.index when no cell
      // exceeds 4×target (the shipped SFs — measured margin in
      // Round11Spec), recursive distributed splits past it, so the
      // within-cell pair volume stays linear at ANY corpus size
      val assigned = Ivf.assignBounded(corpus, cents, "vec_id", "embedding")
      val dropped = semdedupDrops(assigned, assigned).distinct()
      assigned.groupBy(col("cell")).agg(count(lit(1)).as("n_vecs"))
        .join(dropped.groupBy(col("cell"))
          .agg(count(lit(1)).as("nd"), sum(col("did")).as("ds")), Seq("cell"), "left")
        .select(col("cell").cast(LongType).as("cell"), col("n_vecs"),
          coalesce(col("nd"), lit(0L)).as("n_dropped"),
          coalesce(col("ds"), lit(0L)).as("dropped_id_sum"))
        .orderBy(col("cell"))
    }),

    // SemDeDup under APPENDS — the IVM variant semdedup lacked (round-12
    // verdict #4; the bm25_incremental / corpus_assembly_incremental
    // pattern): the base era's cell assignments, per-cell counts AND drop
    // verdicts persist once under the data-fingerprint key, and each
    // append batch pays only (a) one narrow frozen-quantizer assign pass
    // over the BATCH, (b) batch×base-cell and batch×batch verify joins,
    // (c) a union with the persisted base partials. The base corpus is
    // never re-assigned and base×base pairs are never re-verified — the
    // IVM is EXACT because batch ids exceed every base id (the planted
    // +off convention), so SemDeDup's keep-the-lowest-id rule makes the
    // base-era drop set FINAL: arrivals can only be dropped, never drop a
    // base vector. Output ≡ full recompute over base ∪ batch (the
    // semdedup card's own corpus), so the oracle IS semdedupOracle and
    // Round13Spec pins inc ≡ full at 3 SFs. Scale: the frozen plain
    // assignment composes era-by-era; the bounded-occupancy split tier
    // (assignBounded) coincides with it at every shipped SF (the measured
    // 4×-target margin, Round11Spec) — at a true 100 TB the split
    // boundaries would persist WITH the era state, same as the centroids.
    "semdedup_incremental" -> ((s, dir) => {
      val e = vectors(s, dir)
      val (cents, off) = semdedupFit(e)
      val state = graft.operators.DiskCache.keyedPath(
        "semdedup_state_v1", s"$dir/embeddings.parquet")
      graft.operators.DiskCache.ensure(state,
          Seq("idx/_SUCCESS", "counts/_SUCCESS", "drops/_SUCCESS")) { tmp =>
        val baseA = Ivf.index(e, cents, "embedding")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        Ivf.writeIndex(baseA, s"$tmp/idx")
        baseA.groupBy(col("cell")).agg(count(lit(1)).as("n_base"))
          .write.parquet(s"$tmp/counts")
        semdedupDrops(baseA, baseA).distinct().write.parquet(s"$tmp/drops")
        baseA.unpersist()
      }
      val baseIdx = Ivf.readIndex(s, s"$state/idx")
      val baseCounts = s.read.parquet(s"$state/counts")
      val baseDrops = s.read.parquet(s"$state/drops")
      val batch = e.where(col("vec_id") % 25 === 0)
        .select((col("vec_id") + off).as("vec_id"), col("embedding"))
      val batchA = Ivf.index(batch, cents, "embedding")
        .localCheckpoint(false)
      // batch rows dropped by a base row, then by a lower-id batch row;
      // x.vec_id < b.vec_id is implied for the vs-base family (off > every
      // base id) but kept so the predicate IS the SemDeDup rule verbatim
      val allDrops = baseDrops.unionByName(
        semdedupDrops(baseIdx, batchA).unionByName(semdedupDrops(batchA, batchA)).distinct())
      val nVecs = baseCounts
        .join(batchA.groupBy(col("cell")).agg(count(lit(1)).as("n_batch")),
          Seq("cell"), "full")
        .select(col("cell"),
          (coalesce(col("n_base"), lit(0L)) + coalesce(col("n_batch"), lit(0L)))
            .as("n_vecs"))
      nVecs
        .join(allDrops.groupBy(col("cell"))
          .agg(count(lit(1)).as("nd"), sum(col("did")).as("ds")), Seq("cell"), "left")
        .select(col("cell").cast(LongType).as("cell"), col("n_vecs"),
          coalesce(col("nd"), lit(0L)).as("n_dropped"),
          coalesce(col("ds"), lit(0L)).as("dropped_id_sum"))
        .orderBy(col("cell"))
    }),

    // Matryoshka truncation-recall card (Kusupati et al. 2022): how much
    // of the exact top-10 survives when cosine runs on only the first
    // 8/16/32 of 64 dimensions — THE index-sizing measurement before a
    // truncated-dim ANN tier is deployed (matryoshka-trained embeddings
    // front-load information; this card measures whether THESE embeddings
    // do). ONE corpus×queries fan-out computes all four prefix cosines
    // per pair (norms recomputed on the prefix — true truncation
    // semantics); rank windows partition by (query, dim); the dim=64 row
    // is the ground truth itself (recall 1.0 — a built-in sanity anchor),
    // and hits fold per candidate pair so the fan-out executes ONCE (no
    // second reference for the truth set). recall = hits/possible in the
    // ann_recall floor-1e4 form.
    "matryoshka_eval" -> ((s, dir) => {
      val e = vectors(s, dir)
      val q = e.where(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val dims = Seq(8, 16, 32, 64)
      val cosMap = map(dims.flatMap(d => Seq(lit(d),
        SimFns.cosine(slice(col("qe"), 1, d), slice(col("embedding"), 1, d)))): _*)
      e.crossJoin(broadcast(q))
        .select(col("qid"), col("vec_id"), explode(cosMap).as(Seq("dim", "cos")))
        .transform(TopK.perKey(_, col("qid"), col("dim"))(10, col("cos").desc, col("vec_id")))
        .groupBy(col("qid"), col("vec_id"))
        .agg(max(when(col("dim") === 64, 1).otherwise(0)).as("in_truth"),
          collect_list(col("dim")).as("ds"))
        .select(explode(col("ds")).as("dim"), col("in_truth"))
        .groupBy(col("dim"))
        .agg(sum(col("in_truth")).as("hits"), count(lit(1)).as("possible"))
        .select(col("dim").cast(LongType).as("dim"), col("hits"), col("possible"),
          (floor(col("hits").cast(DoubleType) / col("possible") * 1e4 + 0.5) / 1e4)
            .as("recall"))
        .orderBy(col("dim"))
    }),

    // IVF-PQ — the two scale paths COMPOSED, the canonical billion-vector
    // ANN layout (FAISS IndexIVFPQ with by_residual=false): the coarse
    // quantizer prunes WHICH vectors are touched (3 of 8 cells per query)
    // and PQ prunes WHAT is read per vector (m byte-codes via ADC table
    // lookups — no float vector at query time). One narrow codegen'd pass
    // emits (cell, codes) together; candidates come from a broadcast
    // (qid, cell) probe join — each vector lives in exactly one cell, so
    // no dedup is needed — and the ADC sum folds ascending-j inside one
    // partition exactly as sim_pq's (the oracle's explicit chain matches).
    // Residual encoding (PQ over v − centroid[cell]) is the production
    // refinement; the non-residual variant is a real FAISS option and
    // keeps codes reusable across cells. Oracle: both trained models
    // refit at dump time, centroids + codebooks + per-query ADC tables
    // inlined as literals (sim_ivf_kmeans / sim_pq patterns combined).
    "sim_ivfpq" -> ((s, dir) => {
      val e = vectors(s, dir)
      val cents = coarseCents(e)
      val books = rawPqBooks(e)
      val enc = e.select(col("vec_id"),
        element_at(Ivf.nearestCells(col("embedding"), cents, 1), 1).as("cell"),
        Pq.codesFor(col("embedding"), books).as("codes"))
      val q = panel(e)
      ranked(Pq.ivfSearch(enc, cents, q, books, nprobe = 3, topk = 10), "dist2")
    }),

    // IVF-PQ APPEND-BATCH ingestion (round-9 verdict #4 — sim_ivf_append's
    // composed sibling): at 100 TB you NEVER retrain centroids or
    // codebooks per batch — the delta is encoded under the FROZEN models
    // (one narrow codegen'd pass over the batch only: cell + m byte-codes
    // together) and lands in its own snapshot dir beside the once-written
    // corpus layout; probes read the union of snapshots with per-side
    // cell-partition pruning. Search must equal a full re-encode of
    // corpus ∪ batch under the same models — bm25_incremental's
    // inc ≡ rebuild contract, pinned both by the trained-model oracle
    // (same frozen models refit, union corpus) and by a Round10Spec
    // differential against the in-memory full re-encode.
    "sim_ivfpq_append" -> ((s, dir) => {
      val e = vectors(s, dir)
      val cents = coarseCents(e)
      val books = rawPqBooks(e)
      def enc(df: DataFrame) = df.select(col("vec_id"),
        element_at(Ivf.nearestCells(col("embedding"), cents, 1), 1).as("cell"),
        Pq.codesFor(col("embedding"), books).as("codes"))
      val base = graft.operators.DiskCache.keyedPath(
        "ivfpq_idx_v1", s"$dir/embeddings.parquet")
      graft.operators.DiskCache.ensure(s"$base/corpus") { tmp =>
        Ivf.writeIndex(enc(e), tmp)
      }
      val batch = e.where(col("vec_id") % 50 === 0)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
      // snapshot overwrite keeps reruns idempotent (sim_ivf_append's
      // convention); the union below is the live index
      Ivf.writeIndex(enc(batch), s"$base/batch_1")
      val idx = Ivf.readIndex(s, s"$base/corpus")
        .unionByName(Ivf.readIndex(s, s"$base/batch_1"))
      val q = panel(e)
      ranked(Pq.ivfSearch(idx, cents, q, books, nprobe = 3, topk = 10), "dist2")
    }),

    // Binary sign quantization + Hamming pre-rank + exact cosine rerank —
    // the 32×-compression ANN scan path (Charikar 2002's sign-random-
    // projection geometry applied as a compressed SCAN rather than sim_lsh's
    // bucketed index): each 64-dim vector packs into two BIGINT words
    // (bit i = [v_i > 0], split 32/32 so both words stay positive — no
    // sign-bit aliasing in either engine), the candidate stage ranks the
    // whole corpus by codegen'd bit_count(xor) over 16 bytes/vector — no
    // float math, no index build, no training — and only the top-C=50
    // candidates per query fetch their full vectors for the exact cosine
    // rerank. At 100 TB the packed projection is its own narrow column
    // (or cached layout), the Hamming scan is bandwidth-bound at 1/16 the
    // bytes of the float scan, and the rerank join touches C×|queries|
    // rows. Packing is an unrolled sum of 32 when()s per word — distinct
    // powers of two, an order-free integer sum, bit-exact cross-engine.
    "sim_hamming_rerank" -> ((s, dir) => {
      val e = vectors(s, dir)
      def word(off: Int): Column = (0 until 32).map(i =>
        when(col("embedding")(off + i) > 0f, lit(1L << i)).otherwise(lit(0L)))
        .reduce(_ + _)
      val packed = e.select(col("vec_id"), word(0).as("lo"), word(32).as("hi"))
      val qp = packed.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("lo").as("qlo"), col("hi").as("qhi"))
      val ham = bit_count(col("lo").bitwiseXOR(col("qlo"))).cast(LongType) +
        bit_count(col("hi").bitwiseXOR(col("qhi"))).cast(LongType)
      val cand = packed.join(broadcast(qp))
        .select(col("qid"), col("vec_id"), ham.as("ham"))
        .transform(TopK.perKey(_, col("qid"))(50, col("ham"), col("vec_id")))
        .select(col("qid"), col("vec_id"), col("ham"))
      val q = panel(e)
      TopK.byCosine(e.join(broadcast(cand), "vec_id").join(broadcast(q), "qid"),
          10, "embedding", "ham")
        .transform(ranked(_, "cos", "ham"))
    }),

    // One NN-descent refinement round (Dong, Moses & Li, WWW 2011: "a
    // neighbor of a neighbor is likely a neighbor") over an LSH-seeded
    // kNN graph — the scalable ANN-GRAPH construction path (HNSW/NSG's
    // distributed cousin): init the 5-NN lists from sim_lsh's sign-bit
    // buckets (bucket-local top-k, work Σ bucket² — more planes bound
    // the bucket size at larger corpora), then ONE descent round scores
    // only sym ∪ sym∘sym candidates (≤ (2K)² per node, K²-bounded — the
    // whole point: never corpus², and each round is two equi-joins + one
    // window, the MapReduce-friendly shape). Card: edges / mean neighbor
    // cosine (quantized ONCE per edge to µ-units, then commuting BIGINT
    // sums) / recall@5 vs exact truth on the seed queries (vec_id < 20,
    // the knn_eval_sampled bounded-truth knob) for both stages — the
    // measured "one round closes most of the LSH recall gap" curve.
    // Greedy beam search OVER the refined kNN graph — the query side of
    // the graph-ANN pair (nndescent_round builds the graph; this is
    // HNSW's layer-0 walk, distributed): from a fixed entry node (vec 0,
    // present at every SF), 5 hops of expand-neighbors → score → keep the
    // top-2 beam per query. Each hop is ONE equi-join against the
    // symmetric edge list + a per-query WindowGroupLimit — work per hop
    // is beams×degree, independent of the corpus, which is the entire
    // point: at 100 TB the walk touches tens of vectors where the
    // brute-force scan touches all of them. Card: per query, the node the
    // walk converged to, its cosine, and whether it IS the exact nearest
    // neighbor (brute-force truth on the 10 seed queries only). Revisits
    // dedup via groupBy max — the cosine of a (qid, u) pair is one
    // deterministic value, so max ≡ first-visit in both engines.
    "sim_beam_search" -> ((s, dir) => {
      val (e, _, n1) = dualLshKnnGraph(s, dir)
      val sym1 = n1.select(col("v"), col("u"))
        .unionByName(n1.select(col("u").as("v"), col("v").as("u"))).distinct()
        .localCheckpoint(false) // expanded every hop
      val q = broadcast(e.where(col("vec_id").between(1, 10))
        .select(col("vec_id").as("qid"), col("embedding").as("qe")))
      val eu = e.select(col("vec_id").as("u"), col("embedding").as("eu"))
      def score(cands: DataFrame) =
        cands.join(eu, "u").join(q, "qid")
          .select(col("qid"), col("u"), SimFns.cosine(col("qe"), col("eu")).as("cos"))
      def beamTop(df: DataFrame, k: Int) =
        TopK.perKey(df, col("qid"))(k, col("cos").desc, col("u"))
          .select(col("qid"), col("u"), col("cos"))
      // r15 (JobProfile evidence): the checkpointed-frame walk ran 52 jobs /
      // 197 stages for 1.3 s of total task time — the wall clock was
      // scheduling barriers (a localCheckpoint materialization per hop plus
      // AQE sub-jobs), not compute. The beam state is CONFIG-bounded
      // (|queries|=10 × beam 2 ≤ 20 rows), so it rides the driver between
      // hops as an exact-double literal relation (collected Rows round-trip
      // binary doubles bit-for-bit; every comparison/top-2 decision still
      // runs IN Spark with the identical expressions, so outputs are
      // unchanged — oracle-verified). One job per hop replaces
      // checkpoint + window + union job trains; at 100 TB the per-hop work
      // is still beams×degree, corpus-independent — the walk's whole point.
      val beamSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("qid",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("u",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("cos",
          org.apache.spark.sql.types.DoubleType, nullable = true)))
      // the ONE audited collect site of the walk (PlanLintSpec budget):
      // ≤ 20 rows per call by the rank <= 2 / |queries| bound
      def collectBeam(df: DataFrame)
          : Seq[org.apache.spark.sql.Row] =
        df.select(col("qid"), col("u"), col("cos")).collect().toSeq
      def beamDF(rows: Seq[org.apache.spark.sql.Row]) =
        s.createDataFrame(
          new java.util.ArrayList(scala.jdk.CollectionConverters
            .SeqHasAsJava(rows).asJava), beamSchema)
      var beamRows = collectBeam(
        score(q.select(col("qid")).withColumn("u", lit(0L))))
      for (_ <- 1 to 5) {
        val bdf = beamDF(beamRows)
        // no .distinct() on the expansion (r15): duplicate (qid, u)
        // candidates score to the IDENTICAL deterministic double and the
        // groupBy(qid, u).max below already collapses them — the distinct
        // only added an exchange + an AQE job train per hop
        val exp = bdf.select(col("qid"), col("u").as("v"))
          .join(sym1, "v").select(col("qid"), col("u"))
          .where(col("u") =!= col("qid"))
        beamRows = collectBeam(beamTop(score(exp).unionByName(bdf)
          .groupBy(col("qid"), col("u")).agg(max(col("cos")).as("cos")), 2))
      }
      val beam = beamDF(beamRows)
      // SAMPLED ground truth (round-10 verdict #4 — knn_eval_sampled's
      // seeded-subset treatment): the found node ranks within a seeded
      // md5-ordered 2048-node corpus subset instead of the full corpus, so
      // the truth fan-out is BOUNDED at any corpus size; and the rank is a
      // COUNT of strictly-better sample nodes (a map-side-combined
      // aggregate), never a corpus-sized per-query window sort. On
      // near-isotropic embeddings the 5-hop beam-2 walk lands top-decile,
      // not rank 1 — the honest metric survives the sampling.
      val sample = e
        .orderBy(md5(concat(lit("beam1:"), col("vec_id").cast("string"))), col("vec_id"))
        .limit(2048)
        .select(col("vec_id").as("u"), col("embedding").as("eu"))
      val found = beamTop(beam, 1)
      val scored = sample.crossJoin(q).where(col("u") =!= col("qid"))
        .select(col("qid"), col("u"), SimFns.cosine(col("qe"), col("eu")).as("scos"))
        .localCheckpoint(false) // read by the size and the rank aggregates
      val nScored = scored.groupBy(col("qid")).agg(count(lit(1)).as("n_sample"))
      val better = scored
        .join(found.select(col("qid"), col("u").as("fu"), col("cos").as("fcos")), "qid")
        .where(col("scos") > col("fcos") ||
          (col("scos") === col("fcos") && col("u") < col("fu")))
        .groupBy(col("qid")).agg(count(lit(1)).as("n_better"))
      found.join(nScored, "qid")
        .join(better, Seq("qid"), "left")
        .withColumn("sample_rank", coalesce(col("n_better"), lit(0L)) + lit(1L))
        .select(col("qid"), col("u").as("found_id"), round(col("cos"), 6).as("cos"),
          col("sample_rank"), col("n_sample"),
          (col("sample_rank") * 10 <= col("n_sample")).as("in_top_decile"))
        .orderBy(col("qid"))
    }),

    "nndescent_round" -> ((s, dir) => {
      val (e, n0, n1) = dualLshKnnGraph(s, dir)
      val q = e.where(col("vec_id") < 20)
        .select(col("vec_id").as("v"), col("embedding").as("ev"))
      val truth = e.select(col("vec_id").as("u"), col("embedding").as("eu"))
        .join(broadcast(q)).where(col("u") =!= col("v"))
        .select(col("v"), col("u"), SimFns.cosine(col("ev"), col("eu")).as("cos"))
        .transform(TopK.perKey(_, col("v"))(5, col("cos").desc, col("u")))
        .select(col("v"), col("u"))
        .localCheckpoint(false) // read by both stage cards + the count
      val nt = truth.agg(count(lit(1)).as("n_truth")).localCheckpoint(false)
      def card(stage: String, edges: DataFrame) =
        edges.agg(count(lit(1)).as("n_edges"),
            sum(floor(col("cos") * 1e6 + 0.5).cast(LongType)).as("c6"))
          .crossJoin(edges.join(truth, Seq("v", "u"), "left_semi")
            .agg(count(lit(1)).as("n_hits")))
          .crossJoin(nt)
          .select(lit(stage).as("stage"), col("n_edges"),
            expr("c6 DIV greatest(n_edges, 1)").as("avg_cos6"),
            col("n_hits"), col("n_truth"),
            expr("(n_hits * 1000000) DIV greatest(n_truth, 1)").as("recall6"))
      card("lsh_init", n0).unionByName(card("nn_descent_r1", n1))
        .orderBy(col("stage"))
    }),

    // PCA projection onto the top-2 principal directions — the
    // visualization/whitening/linear-probe prep step. The model fits
    // driver-side on the first-2048 sample (operators/Pca — deterministic
    // fixed-iteration power method; the distributed Gram's partial-sum
    // order would break literal reproducibility), then the projection is a
    // NARROW map over the corpus: center against the broadcast-literal
    // mean, two sequential-fold dot products per row, no join, no shuffle.
    // Oracle refits the identical model and inlines μ/w1/w2 as literals.
    "embed_pca_project" -> ((s, dir) => {
      import graft.operators.Pca
      val e = vectors(s, dir)
      val (mu, comps) = Pca.fitSampled(e, "vec_id", "embedding")
      val muArr = array(mu.map(lit).toSeq: _*)
      val centered = zip_with(SimFns.toDouble(col("embedding")), muArr, (a, b) => a - b)
      def proj(w: Array[Double]) = SimFns.dot(centered, array(w.map(lit).toSeq: _*))
      e.select(col("vec_id"),
          (floor(proj(comps(0)) * 1e6 + 0.5) / 1e6).as("p1"),
          (floor(proj(comps(1)) * 1e6 + 0.5) / 1e6).as("p2"))
        .orderBy(col("vec_id"))
    }),

    // PCA WHITENING diagnostic — the embedding-preprocessing step after
    // embed_pca_project: whitened coordinate w_c = (v − µ)·(comp_c/√λ_c)
    // should have corpus mean ≈ 0, mean-square ≈ 1, and ≈ 0 covariance
    // between components; this card MEASURES whether the sample-fit
    // whitener holds on the full corpus (the drift diagnostic a pipeline
    // checks before shipping a whitened store). The 1/√λ scaling happens
    // ON THE DRIVER (the rows inline as literals — no sqrt in either
    // engine); per-row coordinates µ-quantize BEFORE aggregation, so every
    // statistic is an exact-integer fold (the bm25_prf rule) and the
    // compare is bit-exact: mean_u = Σw6 DIV n (truncated division —
    // measured identical to DuckDB's `//` on negatives), msq_ppm =
    // Σw6² DIV (n·1e6), cov_next_ppm likewise over (c, c+1) products
    // (NULL for the last component in both engines). Scale: ONE narrow
    // codegen'd pass + a 4-row aggregate. Whitened coords are unit-scale
    // by design (msq_ppm ≈ 1e6), so each w6² term is ~1e12 and a BIGINT
    // Σw6² would hit the 9.2e18 ceiling at ~9e6 vectors — while DuckDB
    // silently promotes to HUGEINT, i.e. the engines would diverge right
    // where it matters. ssq/sxy therefore sum as DECIMAL(38,0) (the
    // wordpiece HUGEINT-matching precedent): headroom to ~1e26 vectors,
    // and DIV on (DECIMAL, BIGINT) still lands the exact BIGINT.
    "embed_whitening" -> ((s, dir) => {
      val e = vectors(s, dir)
      val (mu, rows, eig6) = whiteningFit(e)
      val muArr = array(mu.map(lit).toSeq: _*)
      val centered = zip_with(SimFns.toDouble(col("embedding")), muArr, (a, b) => a - b)
      def w6(row: Array[Double]) =
        floor(SimFns.dot(centered, array(row.map(lit).toSeq: _*)) * 1e6 + 0.5)
          .cast(LongType)
      val wcols = e.select((rows.zipWithIndex.map { case (r, i) => w6(r).as(s"w$i") }): _*)
      val pairs = array(
        struct(lit(0L).as("comp"), col("w0").as("w"), col("w1").as("wn")),
        struct(lit(1L).as("comp"), col("w1").as("w"), col("w2").as("wn")),
        struct(lit(2L).as("comp"), col("w2").as("w"), col("w3").as("wn")),
        struct(lit(3L).as("comp"), col("w3").as("w"),
          lit(null).cast(LongType).as("wn")))
      val eigMap = map(eig6.zipWithIndex.flatMap { case (v, i) =>
        Seq(lit(i.toLong), lit(v)) }: _*)
      wcols.select(explode(pairs).as("p"))
        .select(col("p.comp").as("comp"), col("p.w").as("w"), col("p.wn").as("wn"))
        .groupBy(col("comp"))
        .agg(count(lit(1)).as("n_vecs"), sum(col("w")).as("sw"),
          sum(expr("CAST(w AS DECIMAL(38,0)) * w")).as("ssq"),
          sum(expr("CAST(w AS DECIMAL(38,0)) * wn")).as("sxy"))
        .select(col("comp"), col("n_vecs"),
          element_at(eigMap, col("comp")).as("eig6"),
          expr("sw DIV n_vecs").as("mean_u"),
          expr("ssq DIV (n_vecs * 1000000)").as("msq_ppm"),
          expr("sxy DIV (n_vecs * 1000000)").as("cov_next_ppm"))
        .orderBy(col("comp"))
    }),

    // Int8 symmetric quantization: per-vector scale, max reconstruction
    // error, and cosine(original, dequantized) — the embedding-compression
    // step before ANN indexing. Deterministic arithmetic → exact SQL twin.
    "embed_quantize" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").where(col("vec_id") < 500)
      e.select(col("vec_id"), SimFns.quantizeStats(col("embedding")).as("qs"))
        .select(col("vec_id"),
          round(col("qs.scale"), 6).as("scale"),
          round(col("qs.max_err"), 6).as("max_err"),
          round(col("qs.cos_deq"), 6).as("cos_deq"))
        .orderBy(col("vec_id"))
    }),

    // Random-hyperplane LSH bucketing: probe only the query's sign-bucket.
    // The planes are deterministic driver-side literals (SimFns.fixedPlanes),
    // so the bucket function IS SQL-expressible: the oracle inlines the same
    // 6×64 doubles and recomputes the sign bits — the full bucketed top-k
    // output is exact-checked, not rows-only. (Both engines fold the dot
    // product sequentially over exact float→double products; a sign flip
    // would need |dot| ≲ 1e-13, vanishing for unit-scale data.)
    "sim_lsh" -> ((s, dir) => {
      val planes = SimFns.fixedPlanes(nPlanes = 6, dim = 64)
      val e = t(s, dir, "embeddings")
        .withColumn("bucket", SimFns.rpLshKey(col("embedding"), planes))
      val q = e.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("bucket").as("qbucket"))
      TopK.byCosine(e.join(broadcast(q), col("bucket") === col("qbucket")), 10, "embedding")
        .transform(ranked(_, "cos"))
    }),

    // Multi-probe LSH: probe the query's bucket AND every Hamming-1 bucket
    // (one flipped hyperplane) — recall rises toward brute force while the
    // scan stays bucket-pruned. Same literal-planes oracle as sim_lsh (the
    // probe set is a pure bit recombination); recall vs the exact top-k is
    // additionally pinned by PropertiesSpec.
    "sim_lsh_multiprobe" -> ((s, dir) => {
      val planes = SimFns.fixedPlanes(nPlanes = 6, dim = 64)
      val e = t(s, dir, "embeddings")
        .withColumn("bucket", SimFns.rpLshKey(col("embedding"), planes))
      val q = e.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"),
          explode(SimFns.rpLshProbeKeys(col("embedding"), planes)).as("probe"))
      TopK.byCosine(e.join(broadcast(q), col("bucket") === col("probe")), 10, "embedding")
        .transform(ranked(_, "cos"))
    }),

    // ANN recall card — MEASURED recall@10 of the approximate paths
    // against brute-force ground truth, in one query (the quality monitor
    // you run before trusting an index at 100 TB; lsh_curve is the
    // analytic design curve, this is the empirical check on real data).
    // Ground truth: exact cosine top-10 per query (the sim_topk shape,
    // 20-query broadcast). Methods: the sim_lsh sign-bucket probe and the
    // sim_ivf own-label cell. Hits count by LEFT SEMI against the truth
    // pairs; recall divides exact BIGINTs once. Everything rides the same
    // broadcast fan-outs as the underlying queries — no new shuffle shape.
    "ann_recall" -> ((s, dir) => {
      val planes = SimFns.fixedPlanes(nPlanes = 6, dim = 64)
      val e = t(s, dir, "embeddings").where(col("embedding").isNotNull)
        .select(col("vec_id"), col("embedding"), col("label"))
        .withColumn("bucket", SimFns.rpLshKey(col("embedding"), planes))
      val q = e.where(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"),
          col("label").as("qlabel"), col("bucket").as("qbucket"))
      val (truth, nTruth) = panelTruth(e.join(broadcast(q)))
      val possible = lit(nTruth)
      def card(method: String, cand: DataFrame) =
        TopK.byCosine(cand, 10, "embedding").join(truth, Seq("qid", "vec_id"), "left_semi")
          .agg(count(lit(1)).as("hits"))
          .select(lit(method).as("method"), col("hits"), possible.as("possible"),
            (floor(col("hits") / possible.cast(DoubleType) * 1e4 + 0.5) / 1e4)
              .as("recall"))
      card("ivf_label", e.join(broadcast(q), col("label") === col("qlabel")))
        .unionByName(card("lsh_bucket", e.join(broadcast(q), col("bucket") === col("qbucket"))))
        .orderBy(col("method"))
    }),

    // Distributed Gram matrix X^T X (operators/Gram): ONE mapPartitions
    // pass accumulates per-partition upper triangles (2080 doubles — no 64×
    // explosion, no shuffle of exploded values), a cells-sized groupBy
    // folds them, and downstream PCA/whitening solves run on the
    // config-sized result (GramSpec does the eigen step by power
    // iteration). The compute scales; the algebra doesn't have to.
    "embed_gram" -> ((s, dir) => {
      import graft.operators.Gram
      Gram.upperTriangle(s, t(s, dir, "embeddings"), "embedding", 64)
        .select(col("i").cast(LongType).as("i"), col("j").cast(LongType).as("j"),
          (floor(col("s") * 1e4 + 0.5) / 1e4).as("s"), col("n"))
        .orderBy(col("i"), col("j"))
    }),

    // Embedding drift monitor: per-label centroid shift between two
    // batches (vec_id parity split). One distributed posexplode+avg pass
    // per half collapses to labels×dims centroids (the embed_classify
    // construction), then the drift is the cosine between each label's two
    // centroids — a labels-sized result from one scan of the embeddings.
    "embed_drift" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .where(col("embedding").isNotNull && col("label").isNotNull)
        .select(col("label"), (col("vec_id") % 2).as("half"),
          col("embedding").cast("array<double>").as("v"))
      val cent = e.select(col("label"), col("half"), posexplode(col("v")))
        .groupBy(col("label"), col("half"), col("pos"))
        .agg(avg(col("col")).as("c"), count(lit(1)).as("n"))
        .groupBy(col("label"), col("half"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
          x => x.getField("c")).as("cv"), max(col("n")).as("n"))
      val a = cent.where(col("half") === 0)
        .select(col("label"), col("cv").as("ca"), col("n").as("n_a"))
      val b = cent.where(col("half") === 1)
        .select(col("label").as("lb"), col("cv").as("cb"), col("n").as("n_b"))
      a.join(b, col("label") === col("lb"))
        .select(col("label"), col("n_a"), col("n_b"),
          (floor(SimFns.cosine(col("ca"), col("cb")) * 1e6 + 0.5) / 1e6).as("centroid_cos"))
        .orderBy(col("label"))
    }),

    // Sparse tf-idf cosine similarity join (the weighted complement to
    // ssjoin_prefix's set semantics): document-at-a-time scoring through an
    // inverted-postings equi-join — dot products accumulate ONLY over
    // co-occurring terms (work = Σ df², never |docs|²), norms join back on
    // the doc key. Terms are token BIGRAMS (streamed by the native
    // ShingleGenerator, no intermediate array): the testdata's unigram
    // vocabulary is a flat 31 words present in every document — zero idf
    // discrimination — while the bigram space is vocabulary², where tf-idf
    // actually separates near-dups from unrelated docs. Terms in >10% of
    // docs prune BEFORE weighting (identically in the oracle): the Zipf
    // head contributes ~0 idf weight but quadratic postings pairs, so
    // dropping it bounds the join at any corpus size. Scale shape
    // (round 6): the WEIGHTED postings + norms ARE the index — built ONCE
    // per corpus fingerprint and persisted (DiskCache atomic publish, the
    // bm25_search pattern that took that query 6.0 s → 1.28 s); every
    // invocation after the first pays only the Σ df² pair join, never the
    // tokenize+tf+df+weight corpus pass. Postings are term-range-sorted:
    // equal-term runs land in the same row groups (tight tok min/max =
    // row-group pruning for probe-style consumers + better dictionary
    // compression for the full-join consumer here).
    "sparse_cosine_join" -> ((s, dir) => {
      import graft.functions.TextFns
      val idx = graft.operators.DiskCache.keyedPath(
        "scj_idx_v2", s"$dir/documents.parquet")
      graft.operators.DiskCache.ensure(idx, Seq("postings/_SUCCESS")) { tmp =>
        // same constructed corpus as the dedup family (QueriesDedup.corpus):
        // planted exact (+100000) and near (+200000) copies guarantee known
        // high-cosine pairs at any scale factor
        val base = t(s, dir, "documents").where(col("doc_id") % 25 === 0)
          .select(col("doc_id"), col("text"))
        val c = base
          .unionByName(base.select((col("doc_id") + 100000L).as("doc_id"), col("text")))
          .unionByName(base.select((col("doc_id") + 200000L).as("doc_id"),
            concat(col("text"), lit(" xtra xtra")).as("text")))
        val terms = c
          .select(col("doc_id"),
            TextFns.shingleExplode(TextFns.tokens(col("text")), 2).as("tok"))
          .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
        val n = broadcast(terms.select(col("doc_id")).distinct()
          .agg(count(lit(1)).as("n_docs")))
        val dfq = terms.groupBy(col("tok")).agg(count(lit(1)).as("df"))
        // persist: the weighted-postings table feeds TWO build consumers
        // (postings write + norms aggregate) — without it Spark re-runs the
        // tokenize+tf+df chain per reference (no common-subplan reuse
        // across DataFrame branches). Build-scoped: unpersisted below.
        val w = terms.join(dfq, "tok").crossJoin(n)
          .where(col("df") <= col("n_docs") * 0.1)
          .withColumn("w", col("tf") * log(col("n_docs").cast("double") / col("df")))
          .select(col("doc_id"), col("tok"), col("w"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // the stored weight is UNIT-NORMALIZED (w / ‖doc‖): cosine is then
        // just Σ wnₐ·wn_b over co-occurring terms, so the query-time plan
        // is ONE equi-join + ONE aggregate — the two norm joins that used
        // to re-shuffle the pair stream are paid once here at build.
        val norms = w.groupBy(col("doc_id"))
          .agg(sqrt(sum(col("w") * col("w"))).as("nrm"))
        // sort within the EXISTING hash partitions — tok-run locality and
        // dictionary compression without the extra full-data range
        // exchange bm25's postings pay. bm25's consumer is a selective
        // term probe (row-group pruning repays the exchange); this index's
        // consumer is the full Σ df² self-join, which reads everything and
        // re-shuffles on tok regardless.
        w.join(norms, "doc_id")
          .select(col("doc_id"), col("tok"), (col("w") / col("nrm")).as("wn"))
          .sortWithinPartitions(col("tok"), col("doc_id"))
          .write.parquet(s"$tmp/postings")
        w.unpersist(): Unit
      }
      val w = s.read.parquet(s"$idx/postings")
      w.as("a").join(w.as("b"),
          col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .agg(sum(col("a.wn") * col("b.wn")).as("c"))
        .where(col("c") >= 0.3)
        .select(col("id_a"), col("id_b"), (floor(col("c") * 1e6 + 0.5) / 1e6).as("cos"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Per-label embedding dispersion — MEAN PAIRWISE COSINE without the
    // pairwise join: for unit vectors, ‖Σuᵢ‖² = n + Σ_{i≠j} cos(uᵢ,uⱼ), so
    // mean pairwise cosine = (‖S‖² − n) / (n·(n−1)) falls out of ONE
    // posexplode aggregate to the labels×dims domain — O(n·d) work where
    // the naive form is O(n²·d). Near-1 means the label's embeddings have
    // collapsed (SemDeDup would gut it); near-0 means diverse. Zero-norm
    // vectors are excluded before normalization (can't contribute a
    // direction); a single-vector label divides by n(n−1)=0 → NULL in both
    // engines, never an ANSI error.
    "embed_dispersion" -> ((s, dir) => {
      val u = t(s, dir, "embeddings")
        .where(col("embedding").isNotNull && col("label").isNotNull)
        // native fused normalize (plans/L2Normalize): NULL = zero-norm,
        // exactly the composed form's nv > 0 filter
        .select(col("label"), SimFns.l2normalize(col("embedding")).as("u"))
        .where(col("u").isNotNull)
      u.select(col("label"), posexplode(col("u")))
        .groupBy(col("label"), col("pos"))
        .agg(sum(col("col")).as("si"), count(lit(1)).as("n"))
        .groupBy(col("label"))
        .agg(sum(col("si") * col("si")).as("s2"), max(col("n")).as("n"))
        .select(col("label"), col("n").as("n_vecs"),
          (floor((col("s2") - col("n"))
            / when(col("n") * (col("n") - 1) =!= 0, col("n") * (col("n") - 1))
            * 1e6 + 0.5) / 1e6).as("mean_cos"))
        .orderBy(col("label"))
    }),

    // MinHash-LSH design curve: P(candidate | jaccard j) = 1 − (1 − jʳ)ᵇ
    // for the b=16, r=4 banding nearDupStream/minhash_dedup use, over the
    // j = i/20 grid. The powers are EXPLICIT square-multiplication chains
    // (j²→j⁴, then (1−j⁴)²→⁴→⁸→¹⁶) — deterministic IEEE multiplications in
    // both engines, where pow() is libm-dependent in its last ulp. Pure
    // config-sized compute (19 rows): the planner you consult before
    // committing a 100-TB dedup pass to a banding choice.
    "lsh_curve" -> ((s, dir) => {
      val j = col("i").cast("double") / 20.0
      val j2 = j * j
      val miss = lit(1.0) - j2 * j2            // 1 − j⁴: per-band miss prob
      val m2 = miss * miss
      val m4 = m2 * m2
      val m8 = m4 * m4
      s.range(1, 20).select(col("id").as("i"))
        .select((col("i").cast("double") / 20.0).as("jaccard"),
          (floor((lit(1.0) - m8 * m8) * 1e6 + 0.5) / 1e6).as("p_candidate"))
        .orderBy(col("jaccard"))
    }),

    // Class-balance data card over the embedding labels: per-label counts,
    // corpus share, and ratio to the majority class — the imbalance report
    // that decides oversampling/reweighting before classifier training.
    // One map-side-combined aggregate to the labels domain; shares from a
    // window over that config-sized table.
    "label_balance" -> ((s, dir) => {
      val g = t(s, dir, "embeddings")
        .where(col("label").isNotNull)
        .groupBy(col("label")).agg(count(lit(1)).as("n"))
      val w = Window.partitionBy()
      g.withColumn("tot", sum(col("n")).over(w))
        .withColumn("mx", max(col("n")).over(w))
        .select(col("label"), col("n"),
          (floor(col("n") / col("tot") * 1e6 + 0.5) / 1e6).as("share"),
          (floor(col("n") / col("mx").cast("double") * 1e6 + 0.5) / 1e6)
            .as("ratio_to_max"))
        .orderBy(col("label"))
    }))

  /** The ONE definition of the IVF lifecycle's shared on-disk snapshots —
    * sim_ivf_append, ivf_compact and ivf_delete all read the SAME
    * fingerprint-keyed `corpus` and `batch_1` dirs, and DiskCache.ensure is
    * first-runner-wins: if the corpus filter, quantizer k, or batch
    * definition lived per-card and one drifted, the other two would
    * silently search a snapshot built under the OLD definition
    * (review-caught — the block was copy-pasted three times). Returns
    * (corpus, trained centroids, base path); both snapshots are published
    * atomically ensure-once. */
  private def ivfLifecycleSnapshots(s: SparkSession, dir: String)
      : (DataFrame, Array[Array[Double]], String) = {
    val e = vectors(s, dir)
    val cents = coarseCents(e)
    val base = graft.operators.DiskCache.keyedPath(
      "ivf_idx_v1", s"$dir/embeddings.parquet")
    graft.operators.DiskCache.ensure(s"$base/corpus") { tmp =>
      Ivf.writeIndex(Ivf.index(e, cents, "embedding"), tmp)
    }
    val batch = e.where(col("vec_id") % 50 === 0)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    graft.operators.DiskCache.ensure(s"$base/batch_1") { tmp =>
      Ivf.writeIndex(Ivf.index(batch, cents, "embedding"), tmp)
    }
    (e, cents, base)
  }

  final case class MaxsimPqParts(
    corpus: DataFrame, queries: DataFrame, cand: DataFrame, dcodes: DataFrame, scored: DataFrame,
    cents: Array[Array[Double]], books: Seq[Array[Array[Double]]])

  /** Shared construction for maxsim_pq (query + trained oracle +
    * Round12Spec's codes-only plan assert): the shared k=32 sub-vector
    * quantizer (identical slice stream to maxsim_ivf), per-subspace
    * residual codebooks (m=2, k=16 over each 16-dim slice), the
    * MATERIALIZED doc-side code table (cell + 2 residual codes per slice —
    * the rerank never reads a raw doc embedding past this checkpoint),
    * PLAID cell-join candidates, and the ADC-scored candidate stream.
    * Score determinism: every lut value is a sequential dot fold, the
    * three terms add left-associatively, the per-slice max is
    * order-independent, and the cross-slice sum is a PINNED m0..m3 pivot. */
  private[graft] def maxsimPqParts(s: SparkSession, dir: String): MaxsimPqParts = {
    import s.implicits._
    val e = vectors(s, dir)
    val d = 16
    val cents = subCents(e)
    val centDf = broadcast(cents.toSeq.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toDF("cell", "cent"))
    // residual = slice − its cell centroid, via a broadcast join with the
    // stored codebook table (same double values NearestCells embeds)
    val resid = subVectors(e)
      .select(col("vec_id"), col("pos"), col("sub"),
        element_at(Ivf.nearestCells(col("sub"), cents, 1), 1).as("cell"))
      .join(centDf, "cell")
      .select(col("vec_id"), col("pos"), col("cell"),
        zip_with(SimFns.toDouble(col("sub")), col("cent"), (a, b) => a - b).as("res"))
    val books = Pq.train(
      resid.select((col("vec_id") * 4 + col("pos")).as("sid"), col("res")),
      "sid", "res", m = 2, k = 16)
    val dcodes = resid
      .select(col("vec_id"), col("pos"), col("cell"),
        Pq.codesFor(col("res"), books).as("codes"))
      .select(col("vec_id"), col("pos"), col("cell"),
        element_at(col("codes"), 1).as("c0"), element_at(col("codes"), 2).as("c1"))
      .localCheckpoint(false) // the compressed index: every rerank read hits this
    val q = panel(e)
    val dcell = dcodes.select(col("vec_id"), col("cell")).distinct()
    val qcell = dcodes.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("cell")).distinct()
    val cand = dcell.join(broadcast(qcell), "cell")
      .select(col("qid"), col("vec_id")).distinct()
      .localCheckpoint(false) // counted AND re-ranked
    val iDf = broadcast((0 until 4).toDF("i"))
    val qi = q.crossJoin(iDf)
    def qslice(off: Int, len: Int) =
      slice(SimFns.toDouble(col("qe")), col("i") * d + off + 1, lit(len))
    def bookDf(b: Array[Array[Double]], cn: String) = broadcast(
      b.toSeq.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toDF(cn, "rc"))
    val lutC = broadcast(qi.crossJoin(centDf)
      .select(col("qid"), col("i"), col("cell"),
        SimFns.dot(qslice(0, 16), col("cent")).as("cd")))
    val lutR0 = broadcast(qi.crossJoin(bookDf(books(0), "c0"))
      .select(col("qid"), col("i"), col("c0"),
        SimFns.dot(qslice(0, 8), col("rc")).as("r0")))
    val lutR1 = broadcast(qi.crossJoin(bookDf(books(1), "c1"))
      .select(col("qid"), col("i"), col("c1"),
        SimFns.dot(qslice(8, 8), col("rc")).as("r1")))
    val scored = cand.join(dcodes, "vec_id")
      .crossJoin(iDf)
      .join(lutC, Seq("qid", "i", "cell"))
      .join(lutR0, Seq("qid", "i", "c0"))
      .join(lutR1, Seq("qid", "i", "c1"))
      .select(col("qid"), col("vec_id"), col("i"),
        ((col("cd") + col("r0")) + col("r1")).as("sadc"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(max(when(col("i") === 0, col("sadc"))).as("m0"),
        max(when(col("i") === 1, col("sadc"))).as("m1"),
        max(when(col("i") === 2, col("sadc"))).as("m2"),
        max(when(col("i") === 3, col("sadc"))).as("m3"))
      .select(col("qid"), col("vec_id"),
        (((col("m0") + col("m1")) + col("m2")) + col("m3")).as("score"))
    MaxsimPqParts(e, q, cand, dcodes, scored, cents, books)
  }

  /** The LSH sign-bit columns as DuckDB SQL: the SAME fixedPlanes(6, 64)
    * doubles the Spark query uses, inlined as literals (Double.toString is
    * shortest-round-trip, so DuckDB parses back the identical bits), with
    * list_dot_product mirroring the sequential left-fold of SimFns.dot. */
  private def lshBitsSql: String =
    SimFns.fixedPlanes(nPlanes = 6, dim = 64).zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), " +
        s"[${p.mkString(", ")}]) >= 0 THEN 1 ELSE 0 END) AS b$i"
    }.mkString(",\n    ")

  private val lshBucketSql: String =
    (0 until 6).map(i => s"CAST(b$i AS VARCHAR)").mkString(" || ")

  /** The dual-LSH kNN-graph CTE chain (bits → buckets → per-bucketing
    * top-3 → n0 → sym/cand → n1) shared by the nndescent_round and
    * sim_beam_search oracles — one definition, the graphs cannot drift. */
  private def dualLshGraphCtes: String =
    s"""bits AS (SELECT vec_id, embedding,
       |    ${lshBitsSqlFor("a", 42L)},
       |    ${lshBitsSqlFor("c", 777L)}
       |  FROM embeddings WHERE embedding IS NOT NULL),
       |b AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
       |  ${lshBucketSqlFor("a")} AS bka, ${lshBucketSqlFor("c")} AS bkb
       |  FROM bits),
       |ea AS (SELECT v, u, c FROM (
       |  SELECT x.vec_id AS v, y.vec_id AS u,
       |    list_cosine_similarity(x.emb, y.emb) AS c,
       |    row_number() OVER (PARTITION BY x.vec_id
       |      ORDER BY list_cosine_similarity(x.emb, y.emb) DESC, y.vec_id) AS rk
       |  FROM b x JOIN b y ON x.bka = y.bka AND x.vec_id <> y.vec_id) z
       |  WHERE rk <= 3),
       |eb AS (SELECT v, u, c FROM (
       |  SELECT x.vec_id AS v, y.vec_id AS u,
       |    list_cosine_similarity(x.emb, y.emb) AS c,
       |    row_number() OVER (PARTITION BY x.vec_id
       |      ORDER BY list_cosine_similarity(x.emb, y.emb) DESC, y.vec_id) AS rk
       |  FROM b x JOIN b y ON x.bkb = y.bkb AND x.vec_id <> y.vec_id) z
       |  WHERE rk <= 3),
       |n0 AS MATERIALIZED (SELECT v, u, c FROM (
       |  SELECT v, u, c, row_number() OVER (PARTITION BY v
       |      ORDER BY c DESC, u) AS rk
       |  FROM (SELECT v, u, max(c) AS c FROM (
       |    SELECT * FROM ea UNION ALL SELECT * FROM eb) z0 GROUP BY v, u) z1) z
       |  WHERE rk <= 5),
       |sym AS MATERIALIZED (SELECT DISTINCT v, u FROM (
       |  SELECT v, u FROM n0 UNION ALL SELECT u AS v, v AS u FROM n0) z),
       |cand AS MATERIALIZED (SELECT DISTINCT v, u FROM (
       |  SELECT v, u FROM sym
       |  UNION ALL SELECT s1.v, s2.u FROM sym s1 JOIN sym s2 ON s1.u = s2.v) z
       |  WHERE u <> v),
       |n1 AS MATERIALIZED (SELECT v, u, c FROM (
       |  SELECT cand.v, cand.u, list_cosine_similarity(ev.emb, eu.emb) AS c,
       |    row_number() OVER (PARTITION BY cand.v
       |      ORDER BY list_cosine_similarity(ev.emb, eu.emb) DESC, cand.u) AS rk
       |  FROM cand JOIN b ev ON ev.vec_id = cand.v
       |    JOIN b eu ON eu.vec_id = cand.u) z
       |  WHERE rk <= 5)""".stripMargin

  /** nndescent_round's generalized twin of [[lshBitsSql]]: sign-bit columns
    * for an arbitrary (prefix, seed) so the oracle can inline BOTH
    * independent bucketings. */
  private def lshBitsSqlFor(prefix: String, seed: Long): String =
    SimFns.fixedPlanes(nPlanes = 6, dim = 64, seed = seed).zipWithIndex.map {
      case (p, i) =>
        s"(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), " +
          s"[${p.mkString(", ")}]) >= 0 THEN 1 ELSE 0 END) AS $prefix$i"
    }.mkString(",\n    ")

  private def lshBucketSqlFor(prefix: String): String =
    (0 until 6).map(i => s"CAST($prefix$i AS VARCHAR)").mkString(" || ")

  /** The multi-probe key list: own bucket + each one-bit flip. */
  private val lshProbesSql: String = {
    val base = lshBucketSql
    val flips = (0 until 6).map { i =>
      (0 until 6).map(j =>
        if (j == i) s"CAST(1 - b$j AS VARCHAR)" else s"CAST(b$j AS VARCHAR)")
        .mkString(" || ")
    }
    s"[$base, ${flips.mkString(", ")}]"
  }

  // ---- Trained-ANN oracle generation --------------------------------------
  // sim_ivf_kmeans / sim_pq were rows-only before round 4: their models are
  // Lloyd-trained, so no static SQL twin exists. But the trainers are PURE
  // DETERMINISTIC functions of the first-N vectors in id order
  // (Ivf.trainSampled / Pq.train) — so at oracle-dump time (Verify sets
  // Tables.OracleContext) we fit the same model driver-side and inline the
  // centroids/codebooks as literals, the way sim_lsh inlines fixedPlanes.
  // All distance arithmetic is emitted as EXPLICIT left-associative
  // (v[i]−c)² chains — the same sequential double adds as the JVM loops
  // (NearestCells.nearest / Pq.adcTable), never list_sum (fold order
  // unspecified).
  // Each oracle refits through its card's fit function and follows the
  // card's partition → prune → verify steps with one SQL builder per step:
  // assign (assignCtes), probe (probeCtes), verify (topKSql), plus the PQ
  // encode (pqEncodeCtes) and ADC scoring (adcTopSql). An oracle writes
  // only the CTEs of its own card.

  /** Σᵢ (vexpr[i] − cent[i])² as a left-associative SQL chain (ascending i,
    * matching NearestCells' loop order bit-for-bit). `off` = 0-based start
    * within vexpr (PQ subspace slicing). */
  private def l2ChainSql(vexpr: String, cent: Array[Double], off: Int = 0): String =
    cent.zipWithIndex.map { case (cv, i) =>
      s"(($vexpr[${off + i + 1}] - ($cv)) * ($vexpr[${off + i + 1}] - ($cv)))"
    }.mkString(" + ")

  /** Argmin with ties → lower index over precomputed distance columns: the
    * first satisfied WHEN wins, and cell c's bound is the least of the LATER
    * cells only (earlier cells already failed strictly), which reproduces
    * NearestCells' strict-< selection exactly. */
  private def argminCaseSql(dcols: Seq[String]): String = {
    val whens = dcols.indices.dropRight(1).map { c =>
      val later = dcols.drop(c + 1)
      val bound = if (later.size == 1) later.head else s"least(${later.mkString(", ")})"
      s"WHEN ${dcols(c)} <= $bound THEN $c"
    }
    s"CASE ${whens.mkString(" ")} ELSE ${dcols.size - 1} END"
  }

  /** The distance-chain column list: `name`i = the l2ChainSql of `vexpr`
    * (from `off`) against centroid i, for every centroid. PQ subspaces and
    * PLAID's sub-vector slices pass their offset and a per-slice `name`
    * (d0_, d1_, …). */
  private def distColsSql(cents: Array[Array[Double]], name: String = "d",
                          vexpr: String = "v", off: Int = 0): String =
    cents.zipWithIndex.map { case (c, i) => s"${l2ChainSql(vexpr, c, off)} AS $name$i" }
      .mkString(",\n    ")

  private def distCols(k: Int, name: String = "d"): Seq[String] = (0 until k).map(i => s"$name$i")

  /** The assign step over the rows of `from` (vector `v`): `d` holds `keep`
    * and the distances d0…d(k−1) to every centroid; `a` (materialized — the
    * probe and verify steps both read it) holds `keep`, the nearest `cell`
    * (ties to the lower cell, as NearestCells) and `extra` columns over the
    * distances. */
  private def assignCtes(cents: Array[Array[Double]], from: String, keep: String = "vec_id, v",
                         extra: String = "", d: String = "d", a: String = "a"): String =
    s"""$d AS (SELECT $keep,
       |    ${distColsSql(cents)}
       |  FROM $from),
       |$a AS MATERIALIZED (SELECT $keep, ${argminCaseSql(distCols(cents.length))} AS cell$extra
       |  FROM $d)""".stripMargin

  /** The probe step, the SQL twin of Ivf.probe: the rows of the assign
    * step's distance CTE `d` that pass `where` become the queries `qd`
    * (qid, qv and the k distances), `qc` pairs each with every cell, and
    * `probes` keeps each query's `nprobe` nearest cells as (qid, qv, cell,
    * crank), ranked by (dist, cell) — NearestCells' tie order. `tag`
    * prefixes the three CTE names. */
  private def probeCtes(k: Int, d: String, where: String, nprobe: Int, tag: String = ""): String =
    s"""${tag}qd AS MATERIALIZED (SELECT vec_id AS qid, v AS qv, ${distCols(k).mkString(", ")}
       |  FROM $d WHERE $where),
       |${tag}qc AS (SELECT qid, qv, u.cell,
       |    CASE u.cell ${(0 until k).map(i => s"WHEN $i THEN d$i").mkString(" ")} END AS dist
       |  FROM ${tag}qd CROSS JOIN (SELECT unnest(range(0, $k)) AS cell) u),
       |${tag}probes AS MATERIALIZED (SELECT qid, qv, cell, crank FROM (
       |  SELECT qid, qv, cell,
       |    row_number() OVER (PARTITION BY qid ORDER BY dist, cell) AS crank FROM ${tag}qc)
       |  WHERE crank <= $nprobe)""".stripMargin

  /** The verify step, the SQL twin of TopK.byCosine: over the candidate
    * join `from` — query side aliased `q` (qid, qv), corpus side `x`
    * (vec_id, v) — each query's top `k` by (`score` DESC, vec_id) as
    * (qid, vec_id, c = the score, rn = the rank). The score is the exact
    * cosine; PLAID's cards rank on their MaxSim score instead. */
  private def topKSql(from: String, k: Int,
                      score: String = "list_cosine_similarity(q.qv, x.v)"): String =
    s"""SELECT qid, vec_id, c, rn FROM (
       |  SELECT qid, vec_id, c,
       |    row_number() OVER (PARTITION BY qid ORDER BY c DESC, vec_id) AS rn
       |  FROM (SELECT q.qid, x.vec_id, $score AS c FROM $from) z0) z
       |  WHERE rn <= $k""".stripMargin

  /** The PQ encode step, the SQL twin of Pq.codesFor over `vexpr`: `pqd`
    * holds `keep` and each subspace slice's distance to every codeword
    * (d{j}_{c}), `enc` holds `keep` and the m codes c0…c(m−1) (ties to the
    * lower code). */
  private def pqEncodeCtes(books: Seq[Array[Array[Double]]], vexpr: String, keep: String,
                           from: String): String = {
    val sub = books.head.head.length
    val dists = books.indices.map(j => distColsSql(books(j), s"d${j}_", vexpr, j * sub))
    val codes = books.indices.map(j =>
      s"${argminCaseSql(distCols(books(j).length, s"d${j}_"))} AS c$j")
    s"""pqd AS (SELECT $keep,
       |    ${dists.mkString(",\n    ")}
       |  FROM $from),
       |enc AS (SELECT $keep,
       |    ${codes.mkString(",\n    ")}
       |  FROM pqd)""".stripMargin
  }

  /** The ADC step: `ad` scores each candidate of `from` (which binds `p`
    * with qid and `enc` with the codes) by the per-query ADC CASE — for each
    * (condition, query vector) pair, the vector's m×k Pq.adcTable inlined as
    * literal arrays, looked up by code and summed in ascending-j order
    * (Pq.search's posexplode-order partial aggregate) — and each query's
    * top 10 by (dd, vec_id) comes out as (qid, vec_id, dist2, rank). */
  private def adcTopSql(cases: Seq[(String, Array[Double])], books: Seq[Array[Array[Double]]],
                        from: String): String = {
    val whens = cases.map { case (cond, qv) =>
      val byJC = Pq.adcTable(qv, books).map { case (j, c, d) => (j, c) -> d }.toMap
      val chain = books.indices.map { j =>
        books(j).indices.map(c => byJC((j, c))).mkString("([", ", ", s"])[c$j + 1]")
      }.mkString(" + ")
      s"WHEN $cond THEN $chain"
    }
    s"""ad AS (SELECT p.qid, enc.vec_id,
       |    CASE
       |      ${whens.mkString("\n      ")}
       |    END AS dd
       |  FROM $from)
       |SELECT CAST(qid AS BIGINT) AS qid, vec_id, round(dd, 6) AS dist2,
       |  CAST(rn AS BIGINT) AS rank FROM (
       |  SELECT qid, vec_id, dd,
       |    row_number() OVER (PARTITION BY qid ORDER BY dd, vec_id) AS rn FROM ad)
       |WHERE rn <= 10 ORDER BY qid, rank""".stripMargin
  }

  /** The oracles' corpus `e` as (vec_id, v DOUBLE[]) — the SQL twin of
    * [[vectors]]. Every generated-ANN corpus filters NULL embeddings: the
    * Spark side DROPS a NULL row naturally (NULL cell/codes never join),
    * while argminCaseSql's ELSE branch would assign it the LAST cell and
    * emit a phantom NULL-cosine candidate (review-caught, latent — current
    * data has no NULLs). */
  private val vectorsSql =
    "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE embedding IS NOT NULL"

  /** The append cards' index: the corpus ∪ its batch (every 50th vector
    * planted again at +100000). */
  private val appendedSql =
    s"""$vectorsSql
       |  UNION ALL
       |  SELECT vec_id + 100000, CAST(embedding AS DOUBLE[])
       |  FROM embeddings WHERE vec_id % 50 = 0 AND embedding IS NOT NULL""".stripMargin

  /** sim_ivf_kmeans' twin and the IVF lifecycle's: refit the coarse
    * quantizer on the natural corpus (whatever `corpusSql` indexes — the
    * frozen-model contract), assign `corpusSql`, probe 3 cells per panel
    * query and verify the top 10 by exact cosine. */
  private def ivfSearchOracle(s: SparkSession, dir: String, corpusSql: String): String = {
    val cents = coarseCents(vectors(s, dir))
    s"""WITH e AS ($corpusSql),
       |${assignCtes(cents, "e")},
       |${probeCtes(cents.length, "d", "vec_id < 5", 3)}
       |SELECT qid, vec_id, round(c, 6) AS cos, CAST(rn AS BIGINT) AS rank FROM (
       |${topKSql("probes q JOIN a x ON x.cell = q.cell", 10)})
       |ORDER BY qid, rank""".stripMargin
  }

  /** ivf_delete's twin: ground truth is a full recompute over
    * (corpus ∪ batch) − deleted — the compacted post-delete index must
    * search exactly like a from-scratch index over the surviving rows
    * (same corpus-trained quantizer; the forget set is ids ≡ 0 mod 30
    * plus their +100000 batch copies). */
  private def ivfDeleteOracle(s: SparkSession, dir: String): String =
    ivfSearchOracle(s, dir,
      """SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  WHERE embedding IS NOT NULL AND vec_id % 30 <> 0
        |  UNION ALL
        |  SELECT vec_id + 100000, CAST(embedding AS DOUBLE[])
        |  FROM embeddings
        |  WHERE vec_id % 50 = 0 AND vec_id % 30 <> 0 AND embedding IS NOT NULL""".stripMargin)

  /** Scientific-notation double literal: parsed by DuckDB directly as
    * DOUBLE (never DECIMAL — the decimal-literal trap), 18 significant
    * digits so the exact JVM double round-trips. */
  private def dlit(d: Double): String =
    java.lang.String.format(java.util.Locale.ROOT, "%.17E", Double.box(d))

  private def dlistLit(v: Array[Double]): String =
    v.map(dlit).mkString("CAST([", ", ", "] AS DOUBLE[])")

  /** The SQL twin of [[maxSim]] over the panel query `q.qv` and the corpus
    * vector `x.v`, with the slice score `pair` (a DuckDB list function). */
  private def maxSimSql(pair: String): String =
    (0 until 4).map { i =>
      (0 until 4).map(j =>
        s"$pair(q.qv[${i * 16 + 1}:${i * 16 + 16}], x.v[${j * 16 + 1}:${j * 16 + 16}])")
        .mkString("greatest(", ", ", ")")
    }.mkString(" + ")

  /** PLAID's assign and candidate steps over the refit k=32 sub-vector
    * quantizer (maxsim_ivf and maxsim_pq): `cl` holds each vector's four
    * slice cells c0…c3 (distance chains at slice offsets 0/16/32/48 +
    * argmin), `dc` the distinct (vec_id, cell) postings, `cand` the
    * (qid, vec_id) pairs that share a cell with a panel query, and `qe` the
    * panel as (qid, qv). */
  private def plaidCandCtes(cents: Array[Array[Double]]): String = {
    val dists = (0 until 4).map(j => distColsSql(cents, s"d${j}_", off = j * 16))
    val cells = (0 until 4).map(j =>
      s"${argminCaseSql(distCols(cents.length, s"d${j}_"))} AS c$j")
    s"""dd AS (SELECT vec_id, v,
       |    ${dists.mkString(",\n    ")}
       |  FROM e),
       |cl AS MATERIALIZED (SELECT vec_id,
       |    ${cells.mkString(",\n    ")}
       |  FROM dd),
       |dc AS MATERIALIZED (SELECT DISTINCT vec_id, cell FROM (
       |  SELECT vec_id, unnest([c0, c1, c2, c3]) AS cell FROM cl) z),
       |qcl AS (SELECT vec_id AS qid, cell FROM dc WHERE vec_id < 5),
       |cand AS MATERIALIZED (SELECT DISTINCT q.qid, d.vec_id
       |  FROM qcl q JOIN dc d ON d.cell = q.cell),
       |qe AS MATERIALIZED (SELECT vec_id AS qid, v AS qv FROM e
       |  WHERE vec_id < 5)""".stripMargin
  }

  /** The SQL twin of [[candRecall]] over the panel `qe`, `cand` and the
    * top-5 (qid, vec_id) sets `rer` (reranked) and `tr` (truth); `extra`
    * names a one-row CTE whose columns follow qid. */
  private def candRecallSql(extra: String = ""): String = {
    val (cols, join) = if (extra.isEmpty) ("", "") else (s"$extra.*, ", s" CROSS JOIN $extra")
    s"""cc AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_cand FROM cand GROUP BY 1),
       |hh AS (SELECT rer.qid, CAST(count(*) AS BIGINT) AS hits
       |  FROM rer JOIN tr USING (qid, vec_id) GROUP BY 1)
       |SELECT q.qid, ${cols}coalesce(cc.n_cand, 0) AS n_cand,
       |  coalesce(hh.hits, 0) AS hits,
       |  CAST((coalesce(hh.hits, 0) * 1000000) // 5 AS BIGINT) AS recall6
       |FROM (SELECT qid FROM qe) q$join
       |LEFT JOIN cc ON cc.qid = q.qid
       |LEFT JOIN hh ON hh.qid = q.qid
       |ORDER BY q.qid""".stripMargin
  }

  /** maxsim_pq's twin: refit the shared k=32 sub-vector quantizer AND the
    * two m=2/k=16 residual codebooks (all pure functions of id-ordered
    * samples), inline them, and reproduce the code assignment + ADC
    * scoring exactly: residual code distances keep the two-subtraction
    * shape ((v−cent)−rc)² the JVM loop uses (folding cent+rc into one
    * literal would round differently), luts are sequential dot folds
    * (list_dot_product ≡ the aggregate/zip_with fold), terms add
    * left-associatively, and the cross-slice sum is the pinned m0..m3
    * pivot. */
  private def maxsimPqOracle(s: SparkSession, dir: String): String = {
    val p = maxsimPqParts(s, dir)
    def vals(b: Array[Array[Double]]) = b.zipWithIndex
      .map { case (c, i) => s"($i, ${dlistLit(c)})" }.mkString(",\n    ")
    // residual code distance for (subspace m, code c): Σ_t ((v[pos·16+off+t]
    // − cent[off+t]) − rc_t)² — cent referenced from the joined cv list so
    // the subtraction order matches the Spark residual exactly
    def resChain(m: Int, rc: Array[Double]): String =
      rc.zipWithIndex.map { case (rv, t) =>
        val x = s"(e.v[p.pos*16 + ${m * 8 + t + 1}] - cv.cent[${m * 8 + t + 1}])"
        s"(($x - (${dlit(rv)})) * ($x - (${dlit(rv)})))"
      }.mkString(" + ")
    val rdDefs = (0 until 2).flatMap { m =>
      p.books(m).zipWithIndex.map { case (rc, c) =>
        s"${resChain(m, rc)} AS e${m}_$c" }
    }.mkString(",\n    ")
    s"""WITH e AS ($vectorsSql),
       |${plaidCandCtes(p.cents)},
       |pp AS (SELECT vec_id, unnest([0,1,2,3]) AS pos,
       |    unnest([c0, c1, c2, c3]) AS cell FROM cl),
       |cv AS (SELECT * FROM (VALUES
       |    ${vals(p.cents)}) t(cell, cent)),
       |rb AS (SELECT p.vec_id, p.pos, p.cell,
       |    $rdDefs
       |  FROM pp p JOIN e ON e.vec_id = p.vec_id JOIN cv ON cv.cell = p.cell),
       |rd AS MATERIALIZED (SELECT vec_id, pos, cell,
       |    ${argminCaseSql(distCols(16, "e0_"))} AS cc0,
       |    ${argminCaseSql(distCols(16, "e1_"))} AS cc1
       |  FROM rb),
       |ir AS (SELECT unnest([0,1,2,3]) AS i),
       |rv0 AS (SELECT * FROM (VALUES
       |    ${vals(p.books(0))}) t(code, rc)),
       |rv1 AS (SELECT * FROM (VALUES
       |    ${vals(p.books(1))}) t(code, rc)),
       |lutc AS MATERIALIZED (SELECT q.qid, ir.i, cv.cell,
       |    list_dot_product(q.qv[(ir.i*16+1):(ir.i*16+16)], cv.cent) AS cd
       |  FROM qe q CROSS JOIN ir CROSS JOIN cv),
       |lut0 AS MATERIALIZED (SELECT q.qid, ir.i, rv0.code,
       |    list_dot_product(q.qv[(ir.i*16+1):(ir.i*16+8)], rv0.rc) AS r0
       |  FROM qe q CROSS JOIN ir CROSS JOIN rv0),
       |lut1 AS MATERIALIZED (SELECT q.qid, ir.i, rv1.code,
       |    list_dot_product(q.qv[(ir.i*16+9):(ir.i*16+16)], rv1.rc) AS r1
       |  FROM qe q CROSS JOIN ir CROSS JOIN rv1),
       |sc AS (SELECT c.qid, c.vec_id,
       |    max(CASE WHEN ir.i = 0 THEN (lc.cd + l0.r0) + l1.r1 END) AS m0,
       |    max(CASE WHEN ir.i = 1 THEN (lc.cd + l0.r0) + l1.r1 END) AS m1,
       |    max(CASE WHEN ir.i = 2 THEN (lc.cd + l0.r0) + l1.r1 END) AS m2,
       |    max(CASE WHEN ir.i = 3 THEN (lc.cd + l0.r0) + l1.r1 END) AS m3
       |  FROM cand c JOIN rd d ON d.vec_id = c.vec_id CROSS JOIN ir
       |    JOIN lutc lc ON lc.qid = c.qid AND lc.i = ir.i AND lc.cell = d.cell
       |    JOIN lut0 l0 ON l0.qid = c.qid AND l0.i = ir.i AND l0.code = d.cc0
       |    JOIN lut1 l1 ON l1.qid = c.qid AND l1.i = ir.i AND l1.code = d.cc1
       |  GROUP BY 1, 2),
       |rer AS (${topKSql("sc x JOIN qe q ON q.qid = x.qid", 5, "((x.m0 + x.m1) + x.m2) + x.m3")}),
       |tr AS (${topKSql("e x CROSS JOIN qe q", 5, maxSimSql("list_dot_product"))}),
       |${candRecallSql()}""".stripMargin
  }

  /** maxsim_ivf's twin: refit the shared sub-vector quantizer (identical
    * id-ordered slice stream), inline 32 centroids × 4 position offsets as
    * distance chains + argmin CASEs, rebuild the cell postings / probe
    * equi-join candidates, and re-rank with the same sliced MaxSim
    * formula maxsim_retrieval's oracle uses. */
  private def maxsimIvfOracle(s: SparkSession, dir: String): String = {
    val ms = maxSimSql("list_cosine_similarity")
    s"""WITH e AS ($vectorsSql),
       |${plaidCandCtes(subCents(vectors(s, dir)))},
       |rer AS (${topKSql("cand p JOIN e x ON x.vec_id = p.vec_id JOIN qe q ON q.qid = p.qid", 5, ms)}),
       |tr AS (${topKSql("e x CROSS JOIN qe q", 5, ms)}),
       |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus FROM e),
       |${candRecallSql("nc")}""".stripMargin
  }

  /** sim_range_search's twin: refit the quantizer, assign the corpus,
    * pick probe cells with inlined distance chains, and reproduce the
    * probe-hit / exact range counts at the same cos >= 0.3 threshold
    * (CAST AS DOUBLE — a bare 0.3 parses as DECIMAL in DuckDB). */
  private def rangeSearchOracle(s: SparkSession, dir: String): String = {
    val cents = coarseCents(vectors(s, dir))
    s"""WITH e AS ($vectorsSql),
       |${assignCtes(cents, "e")},
       |${probeCtes(cents.length, "d", "vec_id < 5", 3)},
       |hits AS (SELECT p.qid, CAST(count(*) AS BIGINT) AS n_probe,
       |    CAST(sum(a.vec_id) AS BIGINT) AS probe_id_sum
       |  FROM probes p JOIN a ON a.cell = p.cell
       |  WHERE a.vec_id <> p.qid
       |    AND list_cosine_similarity(p.qv, a.v) >= CAST(0.3 AS DOUBLE)
       |  GROUP BY 1),
       |ex AS (SELECT q.qid, CAST(count(*) AS BIGINT) AS n_exact,
       |    CAST(sum(a.vec_id) AS BIGINT) AS exact_id_sum
       |  FROM qd q JOIN a ON a.vec_id <> q.qid
       |      AND list_cosine_similarity(q.qv, a.v) >= CAST(0.3 AS DOUBLE)
       |  GROUP BY 1)
       |SELECT qd.qid,
       |  coalesce(ex.n_exact, 0) AS n_exact,
       |  coalesce(ex.exact_id_sum, 0) AS exact_id_sum,
       |  coalesce(hits.n_probe, 0) AS n_probe,
       |  coalesce(hits.probe_id_sum, 0) AS probe_id_sum,
       |  CAST((coalesce(hits.n_probe, 0) * 1000000)
       |    // greatest(coalesce(ex.n_exact, 0), 1) AS BIGINT) AS recall6
       |FROM qd
       |LEFT JOIN ex ON ex.qid = qd.qid
       |LEFT JOIN hits ON hits.qid = qd.qid
       |ORDER BY qd.qid""".stripMargin
  }

  /** ivf_retrain_trigger's twin: refit the sampled quantizer, inline the 8
    * centroid distance chains, and reproduce the occupancy-L1 / µ-unit
    * quantization-error-ratio / panel-recall metrics for both planted
    * batches in exact integers (shares and ratios via `//`, d2u per-term
    * floor-quantized to 1e-6 units before the BIGINT sum — the bm25_prf
    * precedent; `least(d0..d7)` equals NearestCellDists' selected d2 even
    * on ties). The +2.0 drift is CAST AS DOUBLE (a bare 2.0 parses as
    * DECIMAL; CLAUDE.md invariant) and exact in IEEE, so both engines
    * transform bit-identically. */
  private def ivfRetrainOracle(s: SparkSession, dir: String): String = {
    val cents = coarseCents(vectors(s, dir))
    val k = cents.length
    val d2u = s",\n    CAST(floor(least(${distCols(k).mkString(", ")}) * 1e6 + 0.5) AS BIGINT) AS d2u"
    // one block per batch: assignment, occupancy/qerr aggregates, and the
    // nprobe=3 / top-10 panel recall against exact truth over corpus ∪ batch
    def batchBlock(tag: String, off: Long, vExpr: String): String =
      s"""$tag AS (SELECT vec_id + $off AS vec_id, $vExpr AS v
         |  FROM e WHERE vec_id % 5 = 0),
         |${assignCtes(cents, tag, extra = d2u, d = s"${tag}d", a = s"${tag}a")},
         |${tag}occ AS (SELECT cells.cell, coalesce(z.n, 0) AS bn FROM cells
         |  LEFT JOIN (SELECT cell, CAST(count(*) AS BIGINT) AS n
         |             FROM ${tag}a GROUP BY 1) z USING (cell)),
         |${tag}tot AS (SELECT CAST(count(*) AS BIGINT) AS nb,
         |    CAST(sum(d2u) AS BIGINT) AS bsum FROM ${tag}a),
         |${tag}met AS (SELECT max(nb) AS n_vecs,
         |    CAST(sum(abs((bn * 1000000) // nb - (cn * 1000000) // nc)) AS BIGINT)
         |      AS occ_l1_ppm,
         |    CAST(max((bn * 1000000) // nb) AS BIGINT) AS max_share_ppm,
         |    CAST(max(((bsum // nb) * 1000000) // (csum // nc)) AS BIGINT)
         |      AS qerr_ratio_ppm
         |  FROM ${tag}occ JOIN cocc USING (cell) CROSS JOIN ${tag}tot CROSS JOIN ctot),
         |${tag}idx AS MATERIALIZED (SELECT vec_id, v, cell FROM ca
         |  UNION ALL SELECT vec_id, v, cell FROM ${tag}a),
         |${probeCtes(k, s"${tag}d", s"vec_id < ${off + 25L}", 3, tag)},
         |${tag}ivf AS (${topKSql(s"${tag}probes q JOIN ${tag}idx x ON x.cell = q.cell", 10)}),
         |${tag}tr AS (${topKSql(s"${tag}qd q CROSS JOIN ${tag}idx x", 10)}),
         |${tag}rec AS (SELECT CAST((count(*) * 1000000)
         |    // (10 * (SELECT count(*) FROM ${tag}qd)) AS BIGINT) AS recall6
         |  FROM ${tag}ivf JOIN ${tag}tr USING (qid, vec_id))""".stripMargin
    s"""WITH e AS ($vectorsSql),
       |${assignCtes(cents, "e", extra = d2u, d = "cd", a = "ca")},
       |cells AS (SELECT unnest(range(0, $k)) AS cell),
       |cocc AS MATERIALIZED (SELECT cells.cell, coalesce(z.n, 0) AS cn FROM cells
       |  LEFT JOIN (SELECT cell, CAST(count(*) AS BIGINT) AS n
       |             FROM ca GROUP BY 1) z USING (cell)),
       |ctot AS (SELECT CAST(count(*) AS BIGINT) AS nc,
       |    CAST(sum(d2u) AS BIGINT) AS csum FROM ca),
       |${batchBlock("bi", 100000L, "v")},
       |${batchBlock("bd", 200000L, "list_transform(v, x -> x + CAST(2.0 AS DOUBLE))")}
       |SELECT batch, n_vecs, occ_l1_ppm, max_share_ppm, qerr_ratio_ppm, recall6,
       |  (occ_l1_ppm > $RetrainOccL1Ppm OR qerr_ratio_ppm > $RetrainQerrPpm
       |    OR recall6 < $RetrainRecall6) AS retrain
       |FROM (
       |  SELECT 'batch_drifted' AS batch, * FROM bdmet CROSS JOIN bdrec
       |  UNION ALL
       |  SELECT 'batch_indist' AS batch, * FROM bimet CROSS JOIN birec)
       |ORDER BY batch""".stripMargin
  }

  /** sim_filtered's twin: refit the quantizer, assign the corpus and rank
    * the probes via inlined distance chains, and reproduce the
    * filtered-probe / post-filter / exact-filtered-truth top-10s with the
    * same `label % 3 = 0` predicate — every output column is an exact
    * BIGINT (hit counts and µ-unit recalls), so the compare is bit-exact. */
  private def simFilteredOracle(s: SparkSession, dir: String): String = {
    val cents = coarseCents(labeledVectors(s, dir))
    s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings WHERE embedding IS NOT NULL AND label IS NOT NULL),
       |${assignCtes(cents, "e", keep = "vec_id, label, v")},
       |${probeCtes(cents.length, "d", "vec_id < 5", 3)},
       |fil AS MATERIALIZED (
       |${topKSql("probes q JOIN a x ON x.cell = q.cell AND x.label % 3 = 0", 10)}),
       |post AS MATERIALIZED (SELECT t.qid, t.vec_id FROM (
       |${topKSql("probes q JOIN a x ON x.cell = q.cell", 10)}) t
       |  JOIN a ON a.vec_id = t.vec_id WHERE a.label % 3 = 0),
       |truth AS MATERIALIZED (${topKSql("qd q JOIN a x ON x.label % 3 = 0", 10)})
       |SELECT qd.qid,
       |  coalesce(t.c, 0) AS n_truth,
       |  coalesce(f.c, 0) AS n_filtered,
       |  coalesce(fh.c, 0) AS filtered_hits,
       |  coalesce(p.c, 0) AS n_post,
       |  coalesce(ph.c, 0) AS post_hits,
       |  CAST((coalesce(fh.c, 0) * 1000000)
       |    // greatest(coalesce(t.c, 0), 1) AS BIGINT) AS recall_filtered6,
       |  CAST((coalesce(ph.c, 0) * 1000000)
       |    // greatest(coalesce(t.c, 0), 1) AS BIGINT) AS recall_post6
       |FROM qd
       |LEFT JOIN (SELECT qid, CAST(count(*) AS BIGINT) AS c
       |  FROM truth GROUP BY 1) t ON t.qid = qd.qid
       |LEFT JOIN (SELECT qid, CAST(count(*) AS BIGINT) AS c
       |  FROM fil GROUP BY 1) f ON f.qid = qd.qid
       |LEFT JOIN (SELECT fil.qid, CAST(count(*) AS BIGINT) AS c
       |  FROM fil JOIN truth USING (qid, vec_id) GROUP BY 1) fh ON fh.qid = qd.qid
       |LEFT JOIN (SELECT post.qid, CAST(count(*) AS BIGINT) AS c
       |  FROM post GROUP BY 1) p ON p.qid = qd.qid
       |LEFT JOIN (SELECT post.qid, CAST(count(*) AS BIGINT) AS c
       |  FROM post JOIN truth USING (qid, vec_id) GROUP BY 1) ph ON ph.qid = qd.qid
       |ORDER BY qd.qid""".stripMargin
  }

  /** ann_nprobe_sweep's twin: refit the sampled trainer, inline the 8
    * centroid distance chains for BOTH corpus assignment and query cell
    * ranks, brute-force the truth top-10, and reproduce each nprobe
    * level's recall with the same (dist, cell) / (cos DESC, vec_id)
    * determinism. */
  private def nprobeSweepOracle(s: SparkSession, dir: String): String = {
    val cents = coarseCents(vectors(s, dir))
    val k = cents.length
    s"""WITH e AS ($vectorsSql),
       |${assignCtes(cents, "e")},
       |${probeCtes(k, "d", "vec_id < 5", k)},
       |truth AS MATERIALIZED (${topKSql("a x CROSS JOIN qd q WHERE x.vec_id <> q.qid", 10)}),
       |tt AS (SELECT CAST(count(*) AS BIGINT) AS possible FROM truth),
       |cand AS MATERIALIZED (SELECT p.qid, p.crank, a.vec_id,
       |    list_cosine_similarity(p.qv, a.v) AS c
       |  FROM a JOIN probes p ON a.cell = p.cell WHERE a.vec_id <> p.qid),
       |nps(np) AS (VALUES (1), (2), (4), (8)),
       |lev AS (SELECT np, qid, vec_id FROM (
       |  SELECT n.np, cand.qid, cand.vec_id,
       |    row_number() OVER (PARTITION BY cand.qid, n.np
       |      ORDER BY cand.c DESC, cand.vec_id) AS rn
       |  FROM cand CROSS JOIN nps n WHERE cand.crank <= n.np) WHERE rn <= 10),
       |h AS (SELECT np, CAST(count(*) AS BIGINT) AS hits
       |  FROM lev JOIN truth USING (qid, vec_id) GROUP BY 1)
       |SELECT CAST(n.np AS BIGINT) AS nprobe,
       |  CAST(coalesce(h.hits, 0) AS BIGINT) AS hits, tt.possible,
       |  floor(CAST(coalesce(h.hits, 0) AS DOUBLE) / tt.possible * 1e4 + 0.5) / 1e4
       |    AS recall
       |FROM nps n LEFT JOIN h ON h.np = n.np CROSS JOIN tt ORDER BY nprobe""".stripMargin
  }

  /** semdedup's twin: refit the SAME data-sized model via semdedupFit,
    * assign corpus ∪ planted copies via the inlined argmin distance chains,
    * and reproduce the within-cell lower-id cosine prune with
    * list_cosine_similarity (the sim_topk-pinned pair of SimFns.cosine). */
  private def semdedupOracle(s: SparkSession, dir: String): String = {
    val (cents, off) = semdedupFit(vectors(s, dir))
    s"""WITH e AS ($vectorsSql
       |  UNION ALL
       |  SELECT vec_id + $off, CAST(embedding AS DOUBLE[]) FROM embeddings
       |    WHERE vec_id % 25 = 0 AND embedding IS NOT NULL),
       |${assignCtes(cents, "e")},
       |dropped AS (SELECT DISTINCT b.cell, b.vec_id AS did
       |  FROM a x JOIN a b ON x.cell = b.cell AND x.vec_id < b.vec_id
       |  WHERE list_cosine_similarity(x.v, b.v) > 0.95),
       |nv AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs FROM a GROUP BY 1),
       |dd AS (SELECT cell, CAST(count(*) AS BIGINT) AS nd,
       |    CAST(sum(did) AS BIGINT) AS ds FROM dropped GROUP BY 1)
       |SELECT CAST(nv.cell AS BIGINT) AS cell, n_vecs,
       |  CAST(coalesce(dd.nd, 0) AS BIGINT) AS n_dropped,
       |  CAST(coalesce(dd.ds, 0) AS BIGINT) AS dropped_id_sum
       |FROM nv LEFT JOIN dd ON dd.cell = nv.cell ORDER BY cell""".stripMargin
  }

  /** cluster_silhouette's twin: refit the sampled trainer, inline the 8
    * centroids, and reproduce (d₁, cell, d₂) with least / argmin-CASE /
    * list_sort — tie semantics match the Spark struct-sort (lower cell
    * wins; a tied d₂ equals d₁ either way, so sil agrees bit-for-bit). */
  private def silhouetteOracle(s: SparkSession, dir: String): String = {
    val cents = coarseCents(vectors(s, dir))
    val dcols = distCols(cents.length).mkString(", ")
    val d12 = s", least($dcols) AS d1,\n    list_sort([$dcols])[2] AS d2"
    s"""WITH e AS ($vectorsSql),
       |${assignCtes(cents, "e", keep = "vec_id", extra = d12)},
       |sil AS (SELECT cell, d1,
       |    CASE WHEN greatest(d1, d2) > 0 THEN (d2 - d1) / greatest(d1, d2)
       |      ELSE 0.0 END AS sil FROM a)
       |SELECT CAST(cell AS BIGINT) AS cell, CAST(count(*) AS BIGINT) AS n_vecs,
       |  round(CAST(sum(CAST(floor(sil * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
       |    / count(*) / 1e6, 6) AS mean_sil,
       |  round(CAST(sum(CAST(floor(d1 * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
       |    / count(*) / 1e6, 6) AS mean_dist2
       |FROM sil GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** sim_pq's twin: refit the raw codebooks, encode the corpus with the
    * inlined codeword chains, and score every vector for each panel query
    * with the query's literal ADC table. */
  private def pqOracle(s: SparkSession, dir: String): String = {
    val e = vectors(s, dir)
    val books = rawPqBooks(e)
    val qs = queryPanel(e)
    val cases = qs.toSeq.map { case (qid, qv) => (s"p.qid = $qid", qv) }
    val from = s"enc CROSS JOIN (SELECT unnest([${qs.map(_._1).mkString(", ")}]) AS qid) p"
    s"""WITH e AS ($vectorsSql),
       |${pqEncodeCtes(books, "v", "vec_id", "e")},
       |${adcTopSql(cases, books, from)}""".stripMargin
  }

  /** sim_ivfpq's twin: BOTH trained models refit at dump time — the 8
    * coarse centroids assign the corpus and pick each query's 3 probe
    * cells, and the 8×16 codebooks encode + ADC-score the candidates.
    * Candidates are the probe-cell join; each vector has exactly one cell
    * so the join cannot duplicate a (qid, vec_id) pair. `corpusSql`
    * parameterizes WHICH vectors are indexed (sim_ivfpq_append unions the
    * planted batch) while the models ALWAYS refit on the natural corpus —
    * the frozen-model contract. */
  private def ivfpqOracle(s: SparkSession, dir: String, corpusSql: String = vectorsSql): String = {
    val e = vectors(s, dir)
    val cents = coarseCents(e)
    val books = rawPqBooks(e)
    val cases = queryPanel(e).toSeq.map { case (qid, qv) => (s"p.qid = $qid", qv) }
    s"""WITH e AS ($corpusSql),
       |${assignCtes(cents, "e")},
       |${pqEncodeCtes(books, "v", "vec_id, cell", "a")},
       |${probeCtes(cents.length, "d", "vec_id < 5", 3)},
       |${adcTopSql(cases, books, "enc JOIN probes p ON enc.cell = p.cell")}""".stripMargin
  }

  /** kcenter_coreset's twin: refit the shared greedy (pure function of the
    * first-256 sample), inline the 8 centers as literal distance chains,
    * assign with the argmin-CASE, fold the card exactly as the query does
    * (cluster_silhouette's micro-unit BIGINT mean + order-independent max). */
  private def kcenterOracle(s: SparkSession, dir: String): String = {
    val centers = kcenterFit(s, dir)
    val d1 = s", least(${distCols(centers.length).mkString(", ")}) AS d1"
    val idCase = s"CASE cell ${centers.zipWithIndex
      .map { case ((id, _), i) => s"WHEN $i THEN $id" }.mkString(" ")} END"
    s"""WITH e AS ($vectorsSql),
       |${assignCtes(centers.map(_._2), "e", keep = "vec_id", extra = d1)}
       |SELECT $idCase AS center_id, CAST(cell + 1 AS BIGINT) AS step,
       |  CAST(count(*) AS BIGINT) AS n_vecs,
       |  round(CAST(sum(CAST(floor(d1 * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
       |    / count(*) / 1e6, 6) AS mean_d2,
       |  floor(max(d1) * 1e6 + 0.5) / 1e6 AS radius_d2
       |FROM a GROUP BY cell ORDER BY step""".stripMargin
  }

  /** sim_ivfpq_residual's twin: refit the SHARED model parts, assign cells
    * with literal-centroid chains, materialize the residual with the same
    * elementwise subtract (list_transform over a CASE-indexed literal
    * centroid — bit-identical to the Spark zip_with), encode with PQ chains
    * over rv, and score candidates with the per-(query, probed-cell)
    * residual ADC tables inlined as literals. */
  private def ivfpqResidualOracle(s: SparkSession, dir: String): String = {
    val e = vectors(s, dir)
    val (cents, books, _) = ivfpqResidualParts(e)
    val probes = ivfpqResidualProbes(e, cents)
    val centCase = s"CASE cell ${cents.zipWithIndex.map { case (c, i) =>
      s"WHEN $i THEN ${c.mkString("[", ", ", "]")}" }.mkString(" ")} END"
    val probeValues = probes.map { case (q, c, _) => s"($q, $c)" }.mkString(", ")
    val cases = probes.map { case (q, c, rq) => (s"p.qid = $q AND enc.cell = $c", rq) }
    s"""WITH e AS ($vectorsSql),
       |${assignCtes(cents, "e")},
       |rvt AS (SELECT vec_id, cell,
       |    list_transform(range(1, ${cents.head.length + 1}), i -> v[i] - ($centCase)[i]) AS rv
       |  FROM a),
       |${pqEncodeCtes(books, "rv", "vec_id, cell", "rvt")},
       |rp(qid, cell) AS (VALUES $probeValues),
       |${adcTopSql(cases, books, "enc JOIN rp p ON enc.cell = p.cell")}""".stripMargin
  }

  private def pcaOracle(s: SparkSession, dir: String): String = {
    val (mu, comps) = graft.operators.Pca.fitSampled(vectors(s, dir), "vec_id", "embedding")
    val muLit = mu.mkString("[", ", ", "]")
    def wLit(w: Array[Double]) = w.mkString("[", ", ", "]")
    // list_dot_product folds sequentially like SimFns.dot (sim_lsh
    // precedent); centering subtracts literal-list elements in index order
    s"""WITH e AS ($vectorsSql),
       |c AS (SELECT vec_id,
       |    list_transform(range(1, ${mu.length + 1}), i -> v[i] - ($muLit)[i]) AS cv
       |  FROM e)
       |SELECT vec_id,
       |  floor(list_dot_product(cv, ${wLit(comps(0))}) * 1e6 + 0.5) / 1e6 AS p1,
       |  floor(list_dot_product(cv, ${wLit(comps(1))}) * 1e6 + 0.5) / 1e6 AS p2
       |FROM c ORDER BY vec_id""".stripMargin
  }

  /** embed_whitening's twin: refit the identical model (whiteningFit — the
    * bit-reproducible driver fit with the rows pre-scaled by 1/√λ), and
    * replay the µ-quantize-then-integer-fold statistics; list_dot_product
    * folds sequentially like SimFns.dot (the pcaOracle precedent), and
    * truncated integer division matches Spark DIV on negative sums
    * (probed: DuckDB -7//2 = -3). */
  private def whiteningOracle(s: SparkSession, dir: String): String = {
    val (mu, rows, eig6) = whiteningFit(vectors(s, dir))
    val muLit = mu.mkString("[", ", ", "]")
    def wLit(w: Array[Double]) = w.mkString("[", ", ", "]")
    val wDefs = rows.zipWithIndex.map { case (r, i) =>
      s"CAST(floor(list_dot_product(cv, ${wLit(r)}) * 1e6 + 0.5) AS BIGINT) AS w$i"
    }.mkString(",\n    ")
    val evVals = eig6.zipWithIndex.map { case (v, i) =>
      s"(CAST($i AS BIGINT), CAST($v AS BIGINT))" }.mkString(", ")
    s"""WITH e AS ($vectorsSql),
       |c AS (SELECT list_transform(range(1, ${mu.length + 1}), i -> v[i] - ($muLit)[i]) AS cv
       |  FROM e),
       |w AS MATERIALIZED (SELECT
       |    $wDefs
       |  FROM c),
       |p AS (SELECT CAST(0 AS BIGINT) AS comp, w0 AS w, w1 AS wn FROM w
       |  UNION ALL SELECT 1, w1, w2 FROM w
       |  UNION ALL SELECT 2, w2, w3 FROM w
       |  UNION ALL SELECT 3, w3, CAST(NULL AS BIGINT) FROM w),
       |ev AS (SELECT * FROM (VALUES $evVals) AS t(comp, eig6))
       |SELECT p.comp, CAST(count(*) AS BIGINT) AS n_vecs, ev.eig6,
       |  CAST(sum(w) // count(*) AS BIGINT) AS mean_u,
       |  CAST(sum(w * w) // (count(*) * 1000000) AS BIGINT) AS msq_ppm,
       |  CAST(sum(w * wn) // (count(*) * 1000000) AS BIGINT) AS cov_next_ppm
       |FROM p JOIN ev USING (comp) GROUP BY p.comp, ev.eig6 ORDER BY comp""".stripMargin
  }

  /** Static oracles + the trained-ANN pair when an OracleContext is set
    * (Verify dump time); without a context the pair is omitted → rows-only,
    * the pre-round-4 behaviour. */
  def oracle: Map[String, String] = staticOracle ++
    Tables.OracleContext.ctx.map { case (s, dir) =>
      // a trained-oracle failure must not take the other oracles with it
      // (the dump writes ONE json) — but each entry degrades to rows-only
      // INDEPENDENTLY and LOUDLY (one shared Try would let a failure in
      // any generator silently drop all four exact checks; review-caught)
      def tryGen(name: String, gen: => String): Option[(String, String)] =
        scala.util.Try(gen) match {
          case scala.util.Success(sql) => Some(name -> sql)
          case scala.util.Failure(e) =>
            System.err.println(
              s"[oracle] trained-oracle generation FAILED for $name " +
                s"(degrading to rows-only): ${e.getMessage}")
            None
        }
      (tryGen("sim_ivf_kmeans", ivfSearchOracle(s, dir, vectorsSql)) ++
        // the append card searches corpus ∪ batch with the SAME
        // corpus-trained quantizer: ground truth is a full recompute over
        // the union, which the snapshot-union index must reproduce exactly
        tryGen("sim_ivf_append", ivfSearchOracle(s, dir, appendedSql)) ++
        // compaction must search EXACTLY like the snapshot union, so its
        // oracle IS the append oracle (full recompute over corpus ∪ batch)
        tryGen("ivf_compact", ivfSearchOracle(s, dir, appendedSql)) ++
        tryGen("ivf_delete", ivfDeleteOracle(s, dir)) ++
        tryGen("ivf_retrain_trigger", ivfRetrainOracle(s, dir)) ++
        tryGen("sim_filtered", simFilteredOracle(s, dir)) ++
        tryGen("sim_range_search", rangeSearchOracle(s, dir)) ++
        tryGen("maxsim_ivf", maxsimIvfOracle(s, dir)) ++
        tryGen("maxsim_pq", maxsimPqOracle(s, dir)) ++
        tryGen("sim_pq", pqOracle(s, dir)) ++
        tryGen("sim_ivfpq", ivfpqOracle(s, dir)) ++
        tryGen("sim_ivfpq_append", ivfpqOracle(s, dir, appendedSql)) ++
        tryGen("sim_ivfpq_residual", ivfpqResidualOracle(s, dir)) ++
        tryGen("embed_pca_project", pcaOracle(s, dir)) ++
        tryGen("embed_whitening", whiteningOracle(s, dir)) ++
        tryGen("cluster_silhouette", silhouetteOracle(s, dir)) ++
        tryGen("kcenter_coreset", kcenterOracle(s, dir)) ++
        tryGen("semdedup", semdedupOracle(s, dir)) ++
        // the incremental view must equal the full recompute over the SAME
        // final corpus — its oracle IS semdedup's (the ivf_compact pattern)
        tryGen("semdedup_incremental", semdedupOracle(s, dir)) ++
        tryGen("ann_nprobe_sweep", nprobeSweepOracle(s, dir))).toMap
    }.getOrElse(Map.empty)

  /** mmr_diversify's unrolled 5-step greedy twin: per step, score every
    * unselected candidate with a correlated max-sim-to-selected subquery,
    * pick rn=1 by (score DESC, vec_id). Every accumulating CTE is
    * MATERIALIZED — the double back reference per step otherwise
    * re-inlines the chain exponentially (graph_hits lesson). */
  private val mmrOracle: String = {
    val steps = (1 to 5).map { k =>
      val prev = s"sel${k - 1}"
      s"""sc$k AS (SELECT c.qid, c.vec_id, c.rel,
         |    0.7e0 * c.rel - 0.3e0 * COALESCE((SELECT max(s.sim) FROM sims s
         |      JOIN $prev t ON t.qid = s.qid AND t.vec_id = s.ib
         |      WHERE s.qid = c.qid AND s.ia = c.vec_id), 0e0) AS score
         |  FROM c0 c WHERE NOT EXISTS (SELECT 1 FROM $prev t
         |    WHERE t.qid = c.qid AND t.vec_id = c.vec_id)),
         |pk$k AS MATERIALIZED (SELECT qid, vec_id, rel, score, $k AS step FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid
         |    ORDER BY score DESC, vec_id) AS rn
         |  FROM sc$k) WHERE rn = 1),
         |sel$k AS MATERIALIZED (SELECT qid, vec_id FROM $prev
         |  UNION ALL SELECT qid, vec_id FROM pk$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |  WHERE embedding IS NOT NULL),
       |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 3),
       |c0 AS MATERIALIZED (SELECT qid, vec_id, rel, v FROM (
       |  SELECT q.qid, e.vec_id, list_cosine_similarity(q.qv, e.v) AS rel, e.v,
       |    row_number() OVER (PARTITION BY q.qid
       |      ORDER BY list_cosine_similarity(q.qv, e.v) DESC, e.vec_id) AS rn
       |  FROM e CROSS JOIN q WHERE e.vec_id <> q.qid) WHERE rn <= 20),
       |sims AS MATERIALIZED (SELECT a.qid, a.vec_id AS ia, b.vec_id AS ib,
       |  list_cosine_similarity(a.v, b.v) AS sim FROM c0 a JOIN c0 b ON a.qid = b.qid),
       |sel0 AS (SELECT qid, vec_id FROM c0 WHERE FALSE),
       |$steps
       |SELECT CAST(qid AS BIGINT) AS qid, CAST(step AS BIGINT) AS step,
       |  vec_id AS doc_id, round(score, 6) AS score, round(rel, 6) AS rel
       |FROM (SELECT * FROM pk1 UNION ALL SELECT * FROM pk2
       |  UNION ALL SELECT * FROM pk3 UNION ALL SELECT * FROM pk4
       |  UNION ALL SELECT * FROM pk5)
       |ORDER BY qid, step""".stripMargin
  }

  private val staticOracle: Map[String, String] = Map(
    "knn_eval" ->
      """WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS lbl,
        |    CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE embedding IS NOT NULL AND label IS NOT NULL),
        |q AS (SELECT vec_id AS qid, lbl AS qlbl, v AS qv FROM e WHERE vec_id < 100),
        |nn AS (SELECT qid, qlbl, lbl FROM (
        |  SELECT q.qid, q.qlbl, e.lbl,
        |    row_number() OVER (PARTITION BY q.qid
        |      ORDER BY list_cosine_similarity(q.qv, e.v) DESC, e.vec_id) AS rn
        |  FROM e CROSS JOIN q WHERE e.vec_id <> q.qid) WHERE rn <= 10),
        |pred AS (SELECT qid, qlbl, lbl FROM (
        |  SELECT qid, qlbl, lbl,
        |    row_number() OVER (PARTITION BY qid ORDER BY count(*) DESC, lbl) AS r2
        |  FROM nn GROUP BY qid, qlbl, lbl) WHERE r2 = 1)
        |SELECT qlbl AS label, CAST(count(*) AS BIGINT) AS n_queries,
        |  CAST(count(CASE WHEN lbl = qlbl THEN 1 END) AS BIGINT) AS n_correct,
        |  floor(CAST(count(CASE WHEN lbl = qlbl THEN 1 END) AS DOUBLE)
        |    / count(*) * 1e6 + 0.5) / 1e6 AS accuracy
        |FROM pred GROUP BY 1 ORDER BY 1""".stripMargin,
    "knn_eval_sampled" ->
      """WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS lbl,
        |    CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE embedding IS NOT NULL AND label IS NOT NULL),
        |q AS (SELECT vec_id AS qid, lbl AS qlbl, v AS qv FROM e
        |  ORDER BY md5('knn1:' || CAST(vec_id AS VARCHAR)), vec_id LIMIT 64),
        |nn AS (SELECT qid, qlbl, lbl FROM (
        |  SELECT q.qid, q.qlbl, e.lbl,
        |    row_number() OVER (PARTITION BY q.qid
        |      ORDER BY list_cosine_similarity(q.qv, e.v) DESC, e.vec_id) AS rn
        |  FROM e CROSS JOIN q WHERE e.vec_id <> q.qid) WHERE rn <= 10),
        |pred AS (SELECT qid, qlbl, lbl FROM (
        |  SELECT qid, qlbl, lbl,
        |    row_number() OVER (PARTITION BY qid ORDER BY count(*) DESC, lbl) AS r2
        |  FROM nn GROUP BY qid, qlbl, lbl) WHERE r2 = 1)
        |SELECT qlbl AS label, CAST(count(*) AS BIGINT) AS n_queries,
        |  CAST(count(CASE WHEN lbl = qlbl THEN 1 END) AS BIGINT) AS n_correct,
        |  floor(CAST(count(CASE WHEN lbl = qlbl THEN 1 END) AS DOUBLE)
        |    / count(*) * 1e6 + 0.5) / 1e6 AS accuracy
        |FROM pred GROUP BY 1 ORDER BY 1""".stripMargin,
    "retrieval_mrr" ->
      """WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS lbl,
        |    CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE embedding IS NOT NULL AND label IS NOT NULL),
        |q AS (SELECT vec_id AS qid, lbl AS qlbl, v AS qv FROM e
        |  ORDER BY md5('mrr1:' || CAST(vec_id AS VARCHAR)), vec_id LIMIT 64),
        |r AS (SELECT qid, qlbl, lbl, rk FROM (
        |  SELECT q.qid, q.qlbl, e.lbl,
        |    row_number() OVER (PARTITION BY q.qid
        |      ORDER BY list_cosine_similarity(q.qv, e.v) DESC, e.vec_id) AS rk
        |  FROM e CROSS JOIN q WHERE e.vec_id <> q.qid) z WHERE rk <= 100),
        |fh AS (SELECT qid, qlbl, CAST(min(rk) AS BIGINT) AS rank1
        |  FROM r WHERE lbl = qlbl GROUP BY 1, 2)
        |SELECT q.qlbl AS label, CAST(count(*) AS BIGINT) AS n_queries,
        |  CAST(count(CASE WHEN rank1 = 1 THEN 1 END) AS BIGINT) AS hits_at1,
        |  CAST(count(CASE WHEN rank1 <= 10 THEN 1 END) AS BIGINT) AS hits_at10,
        |  CAST(count(rank1) AS BIGINT) AS hits_at100,
        |  CAST(sum(coalesce(1000000 // rank1, 0)) AS BIGINT) AS rr6_sum,
        |  CAST(sum(coalesce(1000000 // rank1, 0)) // count(*) AS BIGINT) AS mrr6
        |FROM q LEFT JOIN fh ON fh.qid = q.qid AND fh.qlbl = q.qlbl
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "mmr_diversify" -> mmrOracle,
    "matryoshka_eval" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  WHERE embedding IS NOT NULL),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 20),
        |p AS (SELECT q.qid, e.vec_id, d.dim,
        |    list_cosine_similarity(list_slice(q.qv, 1, d.dim),
        |      list_slice(e.v, 1, d.dim)) AS cos
        |  FROM e CROSS JOIN q CROSS JOIN (SELECT unnest([8, 16, 32, 64]) AS dim) d),
        |rk AS (SELECT qid, vec_id, dim FROM (
        |  SELECT qid, vec_id, dim,
        |    row_number() OVER (PARTITION BY qid, dim ORDER BY cos DESC, vec_id) AS rn
        |  FROM p) WHERE rn <= 10),
        |pair AS (SELECT qid, vec_id,
        |    max(CASE WHEN dim = 64 THEN 1 ELSE 0 END) AS in_truth,
        |    list(dim) AS ds FROM rk GROUP BY 1, 2),
        |ex AS (SELECT unnest(ds) AS dim, in_truth FROM pair)
        |SELECT CAST(dim AS BIGINT) AS dim, CAST(sum(in_truth) AS BIGINT) AS hits,
        |  CAST(count(*) AS BIGINT) AS possible,
        |  floor(CAST(sum(in_truth) AS DOUBLE) / count(*) * 1e4 + 0.5) / 1e4 AS recall
        |FROM ex GROUP BY 1 ORDER BY 1""".stripMargin,
    "ann_recall" ->
      s"""WITH bits AS MATERIALIZED (SELECT vec_id, embedding, label,
         |    $lshBitsSql
         |  FROM embeddings WHERE embedding IS NOT NULL),
         |b AS MATERIALIZED (SELECT vec_id, embedding, label,
         |    $lshBucketSql AS bucket FROM bits),
         |q AS (SELECT vec_id AS qid, embedding AS qe, label AS qlabel,
         |    bucket AS qbucket FROM b WHERE vec_id < 20),
         |truth AS MATERIALIZED (SELECT qid, vec_id FROM (
         |  SELECT q.qid, e.vec_id, row_number() OVER (PARTITION BY q.qid
         |      ORDER BY list_cosine_similarity(CAST(q.qe AS DOUBLE[]),
         |        CAST(e.embedding AS DOUBLE[])) DESC, e.vec_id) AS rn
         |  FROM b e CROSS JOIN q) WHERE rn <= 10),
         |poss AS (SELECT CAST(count(*) AS BIGINT) AS possible FROM truth),
         |ivf AS (SELECT qid, vec_id FROM (
         |  SELECT q.qid, e.vec_id, row_number() OVER (PARTITION BY q.qid
         |      ORDER BY list_cosine_similarity(CAST(q.qe AS DOUBLE[]),
         |        CAST(e.embedding AS DOUBLE[])) DESC, e.vec_id) AS rn
         |  FROM b e JOIN q ON e.label = q.qlabel) WHERE rn <= 10),
         |lsh AS (SELECT qid, vec_id FROM (
         |  SELECT q.qid, e.vec_id, row_number() OVER (PARTITION BY q.qid
         |      ORDER BY list_cosine_similarity(CAST(q.qe AS DOUBLE[]),
         |        CAST(e.embedding AS DOUBLE[])) DESC, e.vec_id) AS rn
         |  FROM b e JOIN q ON e.bucket = q.qbucket) WHERE rn <= 10)
         |SELECT method, hits, possible,
         |  floor(hits / CAST(possible AS DOUBLE) * 1e4 + 0.5) / 1e4 AS recall
         |FROM (
         |  SELECT 'ivf_label' AS method, CAST(count(*) AS BIGINT) AS hits
         |  FROM ivf WHERE EXISTS (SELECT 1 FROM truth t
         |                         WHERE t.qid = ivf.qid AND t.vec_id = ivf.vec_id)
         |  UNION ALL
         |  SELECT 'lsh_bucket', CAST(count(*) AS BIGINT)
         |  FROM lsh WHERE EXISTS (SELECT 1 FROM truth t
         |                         WHERE t.qid = lsh.qid AND t.vec_id = lsh.vec_id)
         |) CROSS JOIN poss ORDER BY method""".stripMargin,
    "triplet_margin" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |    FROM embeddings WHERE embedding IS NOT NULL AND label IS NOT NULL),
        |d AS (SELECT label AS clabel, i, avg(v[i]) AS c
        |  FROM e CROSS JOIN (SELECT unnest(range(1, 65)) AS i) GROUP BY 1, 2),
        |cent AS (SELECT clabel, list(c ORDER BY i) AS cv FROM d GROUP BY 1),
        |sc AS (SELECT e.vec_id, e.label, cent.clabel,
        |    list_cosine_similarity(e.v, cent.cv) AS sim FROM e CROSS JOIN cent),
        |m AS (SELECT vec_id, label,
        |    max(CASE WHEN clabel = label THEN sim END)
        |      - max(CASE WHEN clabel <> label THEN sim END) AS margin
        |  FROM sc GROUP BY 1, 2)
        |SELECT label, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN margin < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
        |  floor(min(margin) * 1e6 + 0.5) / 1e6 AS min_margin,
        |  floor(avg(margin) * 1e6 + 0.5) / 1e6 AS mean_margin
        |FROM m GROUP BY label ORDER BY label""".stripMargin,
    "embed_outliers" ->
      """WITH e AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE embedding IS NOT NULL AND label IS NOT NULL),
        |d AS (
        |  SELECT label, i, avg(v[i]) AS c
        |  FROM e CROSS JOIN (SELECT unnest(range(1, 65)) AS i) GROUP BY 1, 2),
        |cent AS (SELECT label, list(c ORDER BY i) AS cv FROM d GROUP BY 1),
        |sc AS (
        |  SELECT e.label, list_cosine_similarity(e.v, cent.cv) AS sim
        |  FROM e JOIN cent USING (label))
        |SELECT label, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN sim < -0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_out,
        |  floor(min(sim) * 1e6 + 0.5) / 1e6 AS min_cos,
        |  floor(avg(sim) * 1e6 + 0.5) / 1e6 AS mean_cos
        |FROM sc GROUP BY label ORDER BY label""".stripMargin,
    "sim_beam_search" -> {
      val hops = (1 to 5).map { i =>
        val p = s"b${i - 1}"
        s"""x$i AS (SELECT DISTINCT p.qid, s.u FROM $p p
           |  JOIN sym1 s ON s.v = p.u WHERE s.u <> p.qid),
           |sc$i AS (SELECT x.qid, x.u,
           |    list_cosine_similarity(q.qe, eb.emb) AS c
           |  FROM x$i x JOIN b eb ON eb.vec_id = x.u
           |    JOIN qs q ON q.qid = x.qid),
           |m$i AS (SELECT qid, u, max(c) AS c FROM (
           |  SELECT * FROM sc$i UNION ALL SELECT * FROM $p) z GROUP BY 1, 2),
           |b$i AS MATERIALIZED (SELECT qid, u, c FROM (
           |  SELECT qid, u, c, row_number() OVER (PARTITION BY qid
           |      ORDER BY c DESC, u) AS rk FROM m$i) z
           |  WHERE rk <= 2)""".stripMargin
      }.mkString(",\n")
      s"""WITH $dualLshGraphCtes,
         |sym1 AS MATERIALIZED (SELECT DISTINCT v, u FROM (
         |  SELECT v, u FROM n1 UNION ALL SELECT u AS v, v AS u FROM n1) z),
         |qs AS MATERIALIZED (SELECT vec_id AS qid, emb AS qe FROM b
         |  WHERE vec_id BETWEEN 1 AND 10),
         |b0 AS MATERIALIZED (SELECT qs.qid, CAST(0 AS BIGINT) AS u,
         |    list_cosine_similarity(qs.qe, e0.emb) AS c
         |  FROM qs JOIN b e0 ON e0.vec_id = 0),
         |$hops,
         |samp AS MATERIALIZED (SELECT vec_id AS u, emb AS eu FROM b
         |  ORDER BY md5('beam1:' || CAST(vec_id AS VARCHAR)), vec_id LIMIT 2048),
         |f AS MATERIALIZED (SELECT qid, u, c FROM (
         |  SELECT qid, u, c, row_number() OVER (PARTITION BY qid
         |      ORDER BY c DESC, u) AS rk FROM b5) z WHERE rk = 1),
         |sc AS MATERIALIZED (SELECT q.qid, s.u,
         |    list_cosine_similarity(q.qe, s.eu) AS scos
         |  FROM qs q JOIN samp s ON s.u <> q.qid),
         |ns AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_sample
         |  FROM sc GROUP BY 1),
         |bt AS (SELECT sc.qid, CAST(count(*) AS BIGINT) AS n_better
         |  FROM sc JOIN f ON f.qid = sc.qid
         |  WHERE sc.scos > f.c OR (sc.scos = f.c AND sc.u < f.u)
         |  GROUP BY 1)
         |SELECT f.qid, f.u AS found_id, round(f.c, 6) AS cos,
         |  coalesce(bt.n_better, 0) + 1 AS sample_rank, ns.n_sample,
         |  (coalesce(bt.n_better, 0) + 1) * 10 <= ns.n_sample AS in_top_decile
         |FROM f JOIN ns ON ns.qid = f.qid
         |LEFT JOIN bt ON bt.qid = f.qid ORDER BY f.qid""".stripMargin
    },
    "nndescent_round" ->
      s"""WITH $dualLshGraphCtes,
         |truth AS MATERIALIZED (SELECT v, u FROM (
         |  SELECT q.vec_id AS v, e.vec_id AS u,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY list_cosine_similarity(q.emb, e.emb) DESC, e.vec_id) AS rk
         |  FROM b q JOIN b e ON q.vec_id < 20 AND e.vec_id <> q.vec_id) z
         |  WHERE rk <= 5),
         |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth),
         |st0 AS (SELECT CAST(count(*) AS BIGINT) AS n_edges,
         |  CAST(sum(CAST(floor(c * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS c6 FROM n0),
         |h0 AS (SELECT CAST(count(*) AS BIGINT) AS n_hits
         |  FROM n0 JOIN truth USING (v, u)),
         |st1 AS (SELECT CAST(count(*) AS BIGINT) AS n_edges,
         |  CAST(sum(CAST(floor(c * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS c6 FROM n1),
         |h1 AS (SELECT CAST(count(*) AS BIGINT) AS n_hits
         |  FROM n1 JOIN truth USING (v, u))
         |SELECT * FROM (
         |  SELECT 'lsh_init' AS stage, n_edges,
         |    CAST(c6 // greatest(n_edges, 1) AS BIGINT) AS avg_cos6,
         |    n_hits, n_truth,
         |    CAST((n_hits * 1000000) // greatest(n_truth, 1) AS BIGINT) AS recall6
         |  FROM st0 CROSS JOIN h0 CROSS JOIN nt
         |  UNION ALL
         |  SELECT 'nn_descent_r1' AS stage, n_edges,
         |    CAST(c6 // greatest(n_edges, 1) AS BIGINT) AS avg_cos6,
         |    n_hits, n_truth,
         |    CAST((n_hits * 1000000) // greatest(n_truth, 1) AS BIGINT) AS recall6
         |  FROM st1 CROSS JOIN h1 CROSS JOIN nt) z
         |ORDER BY stage""".stripMargin,
    "sim_lsh" ->
      s"""WITH bits AS (SELECT vec_id, embedding,
         |    $lshBitsSql
         |  FROM embeddings),
         |b AS (SELECT vec_id, embedding, $lshBucketSql AS bucket FROM bits),
         |q AS (SELECT vec_id AS qid, embedding AS qe, bucket AS qb
         |  FROM b WHERE vec_id < 5)
         |SELECT qid, vec_id, round(c, 6) AS cos, CAST(rn AS BIGINT) AS rank FROM (
         |  SELECT qid, vec_id, c,
         |    row_number() OVER (PARTITION BY qid ORDER BY c DESC, vec_id) AS rn
         |  FROM (SELECT q.qid, e.vec_id,
         |      list_cosine_similarity(CAST(q.qe AS DOUBLE[]),
         |        CAST(e.embedding AS DOUBLE[])) AS c
         |    FROM b e JOIN q ON e.bucket = q.qb))
         |WHERE rn <= 10 ORDER BY qid, rank""".stripMargin,
    "sim_lsh_multiprobe" ->
      s"""WITH bits AS (SELECT vec_id, embedding,
         |    $lshBitsSql
         |  FROM embeddings),
         |b AS (SELECT vec_id, embedding, $lshBucketSql AS bucket,
         |    $lshProbesSql AS probes FROM bits),
         |q AS (SELECT vec_id AS qid, embedding AS qe, probes
         |  FROM b WHERE vec_id < 5)
         |SELECT qid, vec_id, round(c, 6) AS cos, CAST(rn AS BIGINT) AS rank FROM (
         |  SELECT qid, vec_id, c,
         |    row_number() OVER (PARTITION BY qid ORDER BY c DESC, vec_id) AS rn
         |  FROM (SELECT q.qid, e.vec_id,
         |      list_cosine_similarity(CAST(q.qe AS DOUBLE[]),
         |        CAST(e.embedding AS DOUBLE[])) AS c
         |    FROM b e JOIN q ON list_contains(q.probes, e.bucket)))
         |WHERE rn <= 10 ORDER BY qid, rank""".stripMargin,
    "embed_classify" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |    FROM embeddings WHERE embedding IS NOT NULL AND label IS NOT NULL),
        |d AS (SELECT label AS clabel, i, avg(v[i]) AS c
        |  FROM e CROSS JOIN (SELECT unnest(range(1, 65)) AS i) GROUP BY 1, 2),
        |cent AS (SELECT clabel, list(c ORDER BY i) AS cv FROM d GROUP BY 1),
        |sc AS (SELECT e.vec_id, e.label, cent.clabel,
        |    list_cosine_similarity(e.v, cent.cv) AS sim FROM e CROSS JOIN cent),
        |pred AS (SELECT vec_id, clabel AS predicted FROM (
        |    SELECT vec_id, clabel, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY round(sim, 6) DESC, clabel) AS rn FROM sc) WHERE rn = 1),
        |agg AS (SELECT vec_id, label,
        |    round(max(CASE WHEN clabel = label THEN sim END), 6) AS own_sim,
        |    round(max(CASE WHEN clabel = label THEN sim END)
        |      - max(CASE WHEN clabel <> label THEN sim END), 6) AS margin
        |  FROM sc GROUP BY 1, 2)
        |SELECT a.vec_id, a.label, p.predicted, a.own_sim, a.margin
        |FROM agg a JOIN pred p USING (vec_id) ORDER BY a.vec_id""".stripMargin,
    "embed_gram" ->
      """WITH v AS (SELECT CAST(embedding AS DOUBLE[]) AS x FROM embeddings
        |           WHERE embedding IS NOT NULL AND len(embedding) = 64),
        |idx AS (SELECT unnest(range(0, 64)) AS i),
        |cells AS (SELECT a.i AS i, b.i AS j FROM idx a JOIN idx b ON b.i >= a.i)
        |SELECT c.i AS i, c.j AS j,
        |  floor(sum(x[CAST(c.i AS INTEGER) + 1] * x[CAST(c.j AS INTEGER) + 1]) * 1e4 + 0.5) / 1e4 AS s,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM cells c CROSS JOIN v
        |GROUP BY c.i, c.j ORDER BY i, j""".stripMargin,
    "embed_quantize" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x
        |           FROM embeddings WHERE vec_id < 500),
        |s AS (SELECT vec_id, x,
        |        list_max(list_transform(x, e -> abs(e))) / CAST(127.0 AS DOUBLE) AS sc0
        |      FROM v),
        |s2 AS (SELECT vec_id, x, CASE WHEN sc0 > 0 THEN sc0 END AS sc FROM s),
        |d AS (SELECT vec_id, x, sc,
        |        list_transform(x, e -> round(e / sc) * sc) AS deq
        |      FROM s2)
        |SELECT vec_id, round(sc, 6) AS scale,
        |  round(list_max(list_transform(range(1, len(x) + 1),
        |    i -> abs(x[i] - deq[i]))), 6) AS max_err,
        |  round(list_cosine_similarity(x, deq), 6) AS cos_deq
        |FROM d ORDER BY vec_id""".stripMargin,
    "maxsim_retrieval" -> {
      def lcs(i: Int, j: Int) =
        s"list_cosine_similarity(CAST(q.embedding[${i * 16 + 1}:${i * 16 + 16}] AS DOUBLE[]), " +
          s"CAST(e.embedding[${j * 16 + 1}:${j * 16 + 16}] AS DOUBLE[]))"
      val ms = (0 until 4).map(i =>
        "greatest(" + (0 until 4).map(j => lcs(i, j)).mkString(", ") + ")")
        .mkString(" + ")
      s"""SELECT qid, vec_id, round(ms, 6) AS maxsim, CAST(rn AS BIGINT) AS rank FROM (
         |  SELECT qid, vec_id, ms, row_number() OVER (PARTITION BY qid ORDER BY ms DESC, vec_id) AS rn
         |  FROM (SELECT q.vec_id AS qid, e.vec_id, $ms AS ms
         |    FROM embeddings e, (SELECT * FROM embeddings WHERE vec_id < 5) q))
         |WHERE rn <= 5 ORDER BY qid, rank""".stripMargin
    },
    "sim_topk" ->
      """SELECT qid, vec_id, round(c, 6) AS cos, CAST(rn AS BIGINT) AS rank FROM (
        |  SELECT qid, vec_id, c, row_number() OVER (PARTITION BY qid ORDER BY c DESC, vec_id) AS rn
        |  FROM (SELECT q.vec_id AS qid, e.vec_id,
        |      list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) AS c
        |    FROM embeddings e, (SELECT * FROM embeddings WHERE vec_id < 5) q))
        |WHERE rn <= 10 ORDER BY qid, rank""".stripMargin,
    "sim_hamming_rerank" -> {
      // sign-bit packing as literal power-of-two CASE sums — the exact
      // integer the Spark side's unrolled when() sum produces
      val lo = (0 until 32).map(i =>
        s"(CASE WHEN x[${i + 1}] > 0 THEN CAST(${1L << i} AS BIGINT) ELSE 0 END)")
        .mkString(" + ")
      val hi = (0 until 32).map(i =>
        s"(CASE WHEN x[${i + 33}] > 0 THEN CAST(${1L << i} AS BIGINT) ELSE 0 END)")
        .mkString(" + ")
      s"""WITH v AS MATERIALIZED (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x,
         |    $lo AS lo, $hi AS hi
         |  FROM embeddings WHERE embedding IS NOT NULL),
         |q AS (SELECT vec_id AS qid, x AS qx, lo AS qlo, hi AS qhi
         |  FROM v WHERE vec_id < 5),
         |cand AS (
         |  SELECT qid, vec_id, ham FROM (
         |    SELECT qid, vec_id, ham,
         |      row_number() OVER (PARTITION BY qid ORDER BY ham, vec_id) AS crn
         |    FROM (SELECT q.qid, v.vec_id,
         |        CAST(bit_count(xor(v.lo, q.qlo)) AS BIGINT)
         |          + CAST(bit_count(xor(v.hi, q.qhi)) AS BIGINT) AS ham
         |      FROM v CROSS JOIN q))
         |  WHERE crn <= 50)
         |SELECT qid, vec_id, ham, round(c, 6) AS cos, CAST(rn AS BIGINT) AS rank
         |FROM (
         |  SELECT t.qid, t.vec_id, t.ham, list_cosine_similarity(q.qx, v.x) AS c,
         |    row_number() OVER (PARTITION BY t.qid
         |      ORDER BY list_cosine_similarity(q.qx, v.x) DESC, t.vec_id) AS rn
         |  FROM cand t JOIN v ON v.vec_id = t.vec_id JOIN q ON q.qid = t.qid)
         |WHERE rn <= 10 ORDER BY qid, rank""".stripMargin
    },
    "sim_ivf" ->
      """SELECT qid, vec_id, round(c, 6) AS cos, CAST(rn AS BIGINT) AS rank FROM (
        |  SELECT qid, vec_id, c, row_number() OVER (PARTITION BY qid ORDER BY c DESC, vec_id) AS rn
        |  FROM (SELECT q.vec_id AS qid, e.vec_id,
        |      list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) AS c
        |    FROM embeddings e JOIN (SELECT * FROM embeddings WHERE vec_id < 20) q ON e.label = q.label))
        |WHERE rn <= 5 ORDER BY qid, rank""".stripMargin,
    "embed_drift" ->
      """WITH e AS (
        |  SELECT label, vec_id % 2 AS half, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE embedding IS NOT NULL AND label IS NOT NULL),
        |d AS (
        |  SELECT label, half, i, avg(v[i]) AS c, CAST(count(*) AS BIGINT) AS n
        |  FROM e CROSS JOIN (SELECT unnest(range(1, 65)) AS i) GROUP BY 1, 2, 3),
        |cent AS (
        |  SELECT label, half, list(c ORDER BY i) AS cv, max(n) AS n
        |  FROM d GROUP BY 1, 2)
        |SELECT a.label, a.n AS n_a, b.n AS n_b,
        |  floor(list_cosine_similarity(a.cv, b.cv) * 1e6 + 0.5) / 1e6 AS centroid_cos
        |FROM cent a JOIN cent b ON a.label = b.label AND a.half = 0 AND b.half = 1
        |ORDER BY a.label""".stripMargin,
    "sparse_cosine_join" ->
      s"""WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id % 25 = 0),
         |corpus AS (
         |  SELECT doc_id, text FROM base
         |  UNION ALL SELECT doc_id + 100000, text FROM base
         |  UNION ALL SELECT doc_id + 200000, text || ' xtra xtra' FROM base),
         |terms AS (
         |  SELECT doc_id, unnest(list_transform(range(1, len(tk)),
         |    i -> tk[i] || ' ' || tk[i+1])) AS tok
         |  FROM (SELECT doc_id, ${Tables.toksSql()} AS tk FROM corpus)),
         |tfm AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
         |  FROM terms GROUP BY 1, 2),
         |n AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM tfm),
         |dfm AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tfm GROUP BY 1),
         |w AS (
         |  SELECT doc_id, tok, tf * ln(CAST(n_docs AS DOUBLE) / df) AS w
         |  FROM tfm JOIN dfm USING (tok) CROSS JOIN n
         |  WHERE df <= n_docs * 0.1),
         |norms AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY 1),
         |wn AS (
         |  SELECT doc_id, tok, w / nrm AS wn FROM w JOIN norms USING (doc_id)),
         |dots AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, sum(a.wn * b.wn) AS c
         |  FROM wn a JOIN wn b ON a.tok = b.tok AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b, floor(c * 1e6 + 0.5) / 1e6 AS cos FROM dots
         |WHERE c >= 0.3 ORDER BY id_a, id_b""".stripMargin,
    "embed_dispersion" ->
      """WITH e AS (
        |  SELECT label, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE embedding IS NOT NULL AND label IS NOT NULL),
        |nrm AS (
        |  SELECT label, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nv
        |  FROM e),
        |u AS (
        |  SELECT label, i, v[i] / nv AS ui
        |  FROM nrm CROSS JOIN (SELECT unnest(range(1, 65)) AS i)
        |  WHERE nv > 0),
        |s AS (
        |  SELECT label, i, sum(ui) AS si, CAST(count(*) AS BIGINT) AS n
        |  FROM u GROUP BY 1, 2),
        |g AS (SELECT label, sum(si * si) AS s2, max(n) AS n FROM s GROUP BY 1)
        |SELECT label, n AS n_vecs,
        |  floor((s2 - n) / nullif(n * (n - 1), 0) * 1e6 + 0.5) / 1e6 AS mean_cos
        |FROM g ORDER BY label""".stripMargin,
    "lsh_curve" ->
      """WITH g AS (SELECT unnest(range(1, 20)) AS i),
        |c AS (SELECT CAST(i AS DOUBLE) / 20.0 AS j FROM g),
        |s1 AS (SELECT j, j * j AS j2 FROM c),
        |s2 AS (SELECT j, 1.0 - j2 * j2 AS miss FROM s1),
        |s3 AS (SELECT j, miss * miss AS m2 FROM s2),
        |s4 AS (SELECT j, m2 * m2 AS m4 FROM s3),
        |s5 AS (SELECT j, m4 * m4 AS m8 FROM s4)
        |SELECT j AS jaccard,
        |  floor((1.0 - m8 * m8) * 1e6 + 0.5) / 1e6 AS p_candidate
        |FROM s5 ORDER BY jaccard""".stripMargin,
    "label_balance" ->
      """WITH g AS (
        |  SELECT label, CAST(count(*) AS BIGINT) AS n
        |  FROM embeddings WHERE label IS NOT NULL GROUP BY 1),
        |w AS (SELECT label, n, sum(n) OVER () AS tot, max(n) OVER () AS mx FROM g)
        |SELECT label, n,
        |  floor(CAST(n AS DOUBLE) / tot * 1e6 + 0.5) / 1e6 AS share,
        |  floor(CAST(n AS DOUBLE) / mx * 1e6 + 0.5) / 1e6 AS ratio_to_max
        |FROM w ORDER BY label""".stripMargin)
}
