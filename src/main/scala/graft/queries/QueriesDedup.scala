package graft.queries

import graft.operators.Dedup
import graft.functions.{SimFns, TextFns}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Tables._

/** Deduplication queries (SURVEY.md §2.8 LLM extensions). The testdata has
  * no duplicates, so each query builds a corpus with known duplicates
  * in-query (exact copies at +100000, near-copies with appended tokens at
  * +200000) — the DuckDB oracle mirrors the construction and computes the
  * ground truth exhaustively, while the Spark side must find the same pairs
  * through the scalable path (LSH banding, never all-pairs).
  */
object QueriesDedup {

  /** Restricted corpus (1/25th of documents) + exact + near copies. */
  private def corpus(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents").where(col("doc_id") % 25 === 0)
      .select(col("doc_id"), col("text"))
    base
      .unionByName(base.select((col("doc_id") + 100000L).as("doc_id"), col("text")))
      .unionByName(base.select((col("doc_id") + 200000L).as("doc_id"),
        concat(col("text"), lit(" xtra xtra")).as("text")))
  }

  /** One construction for ALL FOUR cluster queries (dedup_clusters /
    * dedup_apply / dedup_soft / dup_cluster_stats share the recursive-CTE
    * oracle's corpus, so their edges/labels must never drift): minhash
    * near-dup edges over the constructed corpus → connected-component
    * labels (component = min doc_id). The fixpoint is MATERIALIZED ONCE
    * per corpus (same on-disk pattern as Dedup.ensureMinhashIndex, keyed
    * by source dir so concurrent sf0.01/sf0.1 runs never share) — the
    * four views read the same persisted labels instead of each re-running
    * the minhash + large-star/small-star iteration (~12 s of bench time
    * recomputed 4× before round 4). _v1 = version of the corpus
    * definition (doc_id%25 + copies at +100000/+200000) and Dedup's
    * MinHash layout: bump it if either changes, or a stale reused label set
    * silently serves the old corpus. Returns (corpus, labels). */
  private def clusterLabels(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val c = corpus(s, dir)
    // cache key = data fingerprint of documents.parquet (DiskCache.keyedPath,
    // the unified scheme): regenerated testdata at the SAME path gets a
    // fresh fixpoint instead of silently serving the old corpus's labels
    val path = graft.operators.DiskCache.keyedPath(
      "cluster_labels_v1", s"$dir/documents.parquet")
    graft.operators.DiskCache.ensure(path) { tmp =>
      val edges = Dedup.minhashNearDups(c, "doc_id", "text", threshold = 0.8)
        .select(col("id_a"), col("id_b"))
      graft.operators.ConnectedComponents.components(edges, c.select(col("doc_id")))
        .write.mode("overwrite").parquet(tmp)
    }
    (c, s.read.parquet(path))
  }

  /** The corpus index `dedup_incremental` and `stream_neardup_gate` probe
    * (and the streaming-gate spec, so no second definition fills the key):
    * existing = doc_id ≥ 100, signature-indexed ON DISK once, keyed by
    * source dir so concurrent Verify (sf0.01) and Bench (sf0.1) runs never
    * share an index, and REUSED — the timed cost converges to the
    * incremental join, which is the operator's point (the corpus scan
    * amortizes across batches). _v1 = version of this corpus definition and
    * Dedup's MinHash layout: bump it if either changes. The key also folds
    * in documents.parquet's data fingerprint so REGENERATED testdata at the
    * same path re-indexes instead of serving the old corpus. Returns the
    * index path. */
  private[graft] def existingCorpusIndex(s: SparkSession, dir: String): String = {
    val existing = t(s, dir, "documents").where(col("doc_id") >= 100)
      .select(col("doc_id"), col("text"))
    val idxPath = graft.operators.DiskCache.keyedPath(
      "minhash_idx_v1", s"$dir/documents.parquet")
    Dedup.ensureMinhashIndex(existing, "doc_id", "text", idxPath)
    idxPath
  }

  /** One construction for BOTH contamination variants (they share one
    * oracle string, so their corpora must never drift): eval = doc_id < 50,
    * train = the rest + planted eval copies at +500000. Returns the
    * exploded (eval_id|train_id, sh) 8-gram shingle streams. */
  private def contaminationCorpus(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val docs = t(s, dir, "documents")
    val evalSet = docs.where(col("doc_id") < 50)
    val train = docs.where(col("doc_id") >= 50)
      .unionByName(evalSet.select((col("doc_id") + 500000L).as("doc_id"),
        col("text"), col("lang"), col("source"), col("n_chars"))) // planted leakage
    (evalSet, train)
  }

  private def contaminationShingles(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val (evalSet, train) = contaminationCorpus(s, dir)
    // the per-doc shingle ARRAYS are session-persisted (round 14): THREE
    // cards (contamination / contamination_bloom / decontaminate_apply)
    // explode these identical frames — CacheManager's canonicalized-plan
    // dedup makes one track serve all three, so the corpus tokenize +
    // 8-gram pass runs once per session instead of per card. The cache
    // holds the compact array form (docs-sized), NOT the exploded stream —
    // the hll_card "never cache an exploded token stream" rule.
    val evalSh = graft.operators.CacheRegistry.track(
      Dedup.shingleSets(evalSet, "doc_id", "text", 8))
    val trainSh = graft.operators.CacheRegistry.track(
      Dedup.shingleSets(train, "doc_id", "text", 8))
    (evalSh.select(col("doc_id").as("eval_id"), explode(col("shingles")).as("sh")),
      trainSh.select(col("doc_id").as("train_id"), explode(col("shingles")).as("sh")))
  }

  private val corpusSql =
    """WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id % 25 = 0),
      |corpus AS (
      |  SELECT doc_id, text FROM base
      |  UNION ALL SELECT doc_id + 100000, text FROM base
      |  UNION ALL SELECT doc_id + 200000, text || ' xtra xtra' FROM base)""".stripMargin

  private val toksSql = Tables.toksSql()
  /** Distinct token-trigram shingles in DuckDB. */
  private val shinglesSql =
    s"""SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(tk) - 1, 1)),
       |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS s
       |  FROM (SELECT doc_id, $toksSql AS tk FROM corpus)""".stripMargin

  val queries: Map[String, Q] = Map(
    // Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003 — the MOSS
    // algorithm; the LOCAL-similarity guarantee the MinHash family lacks:
    // any shared run of w+k−1 tokens shares ≥1 selected fingerprint, so
    // partial overlap is detected, not just whole-document similarity).
    // Per doc: 5-gram md5 hashes, a w=4 sliding window keeps each window's
    // MINIMUM (ties to the RIGHTMOST position — the paper's rule, encoded
    // by packing hash·1e6 + (999999−pos) into ONE BIGINT so a plain window
    // min implements arg-min-with-tie; docs are contracted < 1e6 shingles,
    // and past it both engines degrade identically). Selected fingerprints
    // dedupe to per-doc SETS; fingerprints in >50 docs are dropped (MOSS's
    // common-code guard — they carry no signal and quadratically blow up
    // the join); pairs sharing ≥8 fingerprints report. The fingerprint
    // table is CacheRegistry-tracked: the df guard and both sides of the
    // pair join reuse ONE shingle/window pass.
    "winnowing_pairs" -> ((s, dir) => {
      val sh = corpus(s, dir).select(col("doc_id"),
          posexplode(TextFns.shingles(TextFns.tokens(col("text")), 5)))
        .toDF("doc_id", "pos", "sh")
      val hashed = sh.select(col("doc_id"), col("pos"),
        expr("CAST(conv(substring(md5(sh), 1, 10), 16, 10) AS BIGINT) * 1000000 + (999999 - pos)")
          .as("c"))
      val wFrame = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        .rowsBetween(0, 3)
      val wDoc = Window.partitionBy(col("doc_id"))
      val fps = graft.operators.CacheRegistry.track(hashed
        .withColumn("sel", min(col("c")).over(wFrame))
        .withColumn("cnt", count(lit(1)).over(wDoc))
        .where(col("pos") <= col("cnt") - 4)
        .select(col("doc_id"), expr("sel DIV 1000000").as("fp")).distinct())
      val keep = fps.groupBy(col("fp"))
        .agg(countDistinct(col("doc_id")).as("df"))
        .where(col("df") <= 50).select(col("fp"))
      val rare = fps.join(keep, Seq("fp"))
      rare.as("a").join(rare.as("b"),
          col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("shared"))
        .where(col("shared") >= 8)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Exact dedup: hash-groupBy on full text; keep min id + multiplicity.
    "dedup_exact" -> ((s, dir) => {
      corpus(s, dir)
        .groupBy(col("text"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
        .select(col("doc_id"), col("n_copies"))
        .orderBy(col("doc_id"))
    }),

    // Exact n-gram Jaccard on the constructed duplicate pairs.
    "ngram_jaccard" -> ((s, dir) => {
      // track: identical canonical plan to minhash_dedup's shingle cache —
      // whichever card runs first builds it, the rest reuse (round 14)
      val sh = graft.operators.CacheRegistry.track(
        Dedup.shingleSets(corpus(s, dir), "doc_id", "text", 3))
      sh.as("a").join(sh.as("b"),
          col("b.doc_id") === col("a.doc_id") + 100000L ||
            col("b.doc_id") === col("a.doc_id") + 200000L)
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
          round(Dedup.jaccard(col("a.shingles"), col("b.shingles")), 6).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Cross-source duplication matrix: which sources carry byte-identical
    // copies of each other's documents — the "mirror site" diagnostic that
    // decides source-level dedup ORDER (dedup the mirrored source against
    // its origin first). Texts collapse to DISTINCT (md5, source) pairs
    // before any join (work ∝ distinct texts), the pair join shuffles
    // 16-byte hashes, never text bodies, and the output is bounded by
    // sources². A deterministic 'mirror' source (every 7th doc re-sourced —
    // 7 is coprime with the 20-source id cycle, so every source is hit)
    // plants the structure the synthetic corpus lacks.
    "cross_source_dups" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val full = docs.select(col("text"), col("source"))
        .unionByName(docs.where(col("doc_id") % 7 === 0)
          .select(col("text"), lit("mirror").as("source")))
      val d = full.select(md5(col("text")).as("h"), col("source")).distinct()
      d.as("a").join(d.as("b"),
          col("a.h") === col("b.h") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
        .agg(count(lit(1)).as("n_shared_texts"))
        .orderBy(col("src_a"), col("src_b"))
    }),

    // Asymmetric CONTAINMENT screen: C(A→B) = |sh(A)∩sh(B)| / min(|sh(A)|,
    // |sh(B)|) catches near-SUBSET duplication — a document embedded in a
    // longer one (quote walls, boilerplate wrappers) — that symmetric
    // Jaccard misses by construction (a 40-token doc inside a 400-token doc
    // has J ≈ 0.1 but containment 1.0). Same scale shape as the other
    // shingle joins: postings equi-join (work ∝ Σ df², never |docs|²), doc
    // sizes ride the postings rows so nothing joins back, and the ≥0.9
    // threshold compares by EXACT BIGINT cross-multiplication
    // (10·shared ≥ 9·min-size). The jaccard_blind flag marks pairs the
    // symmetric 0.8 screen would NOT have caught — the operator's yield.
    "containment_dedup" -> ((s, dir) => {
      // track the bare shingle frame (same canonical plan as minhash_dedup's
      // cache) BEFORE the sz projection: containment runs alphabetically
      // first among the 3-gram consumers, so it builds the session cache the
      // minhash/ngram cards then reuse (round 14)
      val sh = graft.operators.CacheRegistry.track(
          Dedup.shingleSets(corpus(s, dir), "doc_id", "text", 3))
        .select(col("doc_id"), col("shingles"),
          size(col("shingles")).cast("long").as("sz"))
      val posts = sh.select(col("doc_id"), col("sz"), explode(col("shingles")).as("t"))
      posts.as("a").join(posts.as("b"),
          col("a.t") === col("b.t") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
          col("a.sz").as("sz_a"), col("b.sz").as("sz_b"))
        .agg(count(lit(1)).as("shared"))
        .where(col("shared") * 10 >= least(col("sz_a"), col("sz_b")) * 9)
        .select(col("id_a"), col("id_b"), col("shared"), col("sz_a"), col("sz_b"),
          expr("floor(shared / least(sz_a, sz_b) * 1e6 + 0.5) / 1e6").as("containment"),
          (col("shared") * 10 < (col("sz_a") + col("sz_b") - col("shared")) * 8)
            .as("jaccard_blind"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // MinHash+LSH near-dup detection: 64 hashes, 16 bands × 4 rows;
    // candidates from band-bucket equi-join only, exact-verified at j ≥ 0.8.
    // The oracle computes ALL pairs ≥ 0.8 exhaustively — the constructed
    // duplicate pairs sit at j ≥ 0.95 where LSH recall is 1 - 5e-12.
    "minhash_dedup" -> ((s, dir) => {
      Dedup.minhashNearDups(corpus(s, dir), "doc_id", "text", threshold = 0.8)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // SimHash near-dup: 64-bit signatures, 4×16-bit chunk blocking —
    // complete for hamming ≤ 3 (pigeonhole: <4 differing bits always leave
    // one chunk identical). The signature is xxhash64-derived (no DuckDB
    // twin), so the DECLARED output is the hash-independent core guarantee:
    // every planted exact-copy pair MUST surface with hamming 0 (identical
    // text ⇒ identical shingle set ⇒ identical signature ⇒ same chunks),
    // which the oracle enumerates exactly. Near-dup pairs (hash-dependent
    // hamming) stay covered by DedupSpec's property checks.
    "simhash_dedup" -> ((s, dir) => {
      Dedup.simhashNearDups(corpus(s, dir), "doc_id", "text")
        .where(col("id_b") === col("id_a") + 100000L && col("id_a") < 100000L)
        .select(col("id_a"), col("id_b"), col("hamming"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Train/eval contamination: training docs sharing any 8-token-gram with
    // an eval doc (doc_id < 50 plays the eval set; a planted copy guarantees
    // hits). The shuffle key is the shingle hash — work scales with corpus
    // size × overlap, never |train| × |eval|.
    "contamination" -> ((s, dir) => {
      val (evalSh, trainSh) = contaminationShingles(s, dir)
      trainSh.join(evalSh, "sh")
        .groupBy(col("train_id"), col("eval_id"))
        .agg(count(lit(1)).as("n_shared_8grams"))
        .orderBy(col("train_id"), col("eval_id"))
    }),

    // Decontamination APPLIED: drop every training doc that shares ≥5
    // 8-gram shingles with any eval doc — the contamination report's
    // enforcement twin (as dedup_apply is to dedup_clusters). The screened
    // id set comes from the same shingle equi-join (work ∝ overlap, never
    // |train|×|eval|), a LEFT ANTI join removes the hits, and the declared
    // output is the kept-corpus card per source (counts + exact id/char
    // checksums) — sources-sized, scale-independent.
    "decontaminate_apply" -> ((s, dir) => {
      val (evalSh, trainSh) = contaminationShingles(s, dir)
      val drops = trainSh.join(evalSh, "sh")
        .groupBy(col("train_id"), col("eval_id")).agg(count(lit(1)).as("n"))
        .where(col("n") >= 5)
        .select(col("train_id")).distinct()
      val (_, train) = contaminationCorpus(s, dir)
      train.join(drops, train("doc_id") === drops("train_id"), "left_anti")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum"),
          sum(col("n_chars")).as("chars_kept"))
        .orderBy(col("source"))
    }),

    // Contamination with a BLOOM PREFILTER: the eval side's 8-gram set is
    // tiny, so a Bloom filter over it (built in one small job, broadcast as
    // a task-level object) prefilters the train side BEFORE the shuffle
    // join. False positives only admit extra candidates that the exact
    // equi-join then drops, so the result is IDENTICAL to `contamination`
    // (same oracle) while the shuffled volume collapses from
    // |train-shingles| to |matching-candidates|.
    //
    // Round 5: the prefilter is Spark's own codegen'd
    // BloomFilterMightContain expression (Dedup.mightContainHashed) over an
    // xxhash64-long-keyed filter — the round-4 Scala `udf` broke
    // whole-stage codegen at the probe site. The prefilter is approximate
    // only in admitting false positives; exactness is restored by the
    // equi-join, so the result is IDENTICAL to `contamination` (same
    // oracle) while the shuffled volume collapses from |train-shingles| to
    // |matching-candidates| — the win when the shuffle crosses a network
    // at corpus scale.
    "contamination_bloom" -> ((s, dir) => {
      val (evalSh0, trainSh0) = contaminationShingles(s, dir)
      val evalSh = graft.operators.CacheRegistry.track(evalSh0)
      // build over the SAME xxhash64 longs the probe hashes (putLong ↔
      // mightContainLong)
      val bloom = evalSh.select(xxhash64(col("sh")).as("h"))
        .stat.bloomFilter("h", expectedNumItems = 200000L, fpp = 0.01)
      val trainSh = trainSh0.where(Dedup.mightContainHashed(bloom, col("sh")))
      trainSh.join(evalSh, "sh")
        .groupBy(col("train_id"), col("eval_id"))
        .agg(count(lit(1)).as("n_shared_8grams"))
        .orderBy(col("train_id"), col("eval_id"))
    }),

    // Near-dup pairs resolved into duplicate CLUSTERS: MinHash-LSH edges →
    // large-star/small-star connected components (log-round convergence —
    // a duplicate chain a~b~c~… would take diameter rounds under naive
    // label flooding). Output: every doc with its cluster id (= min doc_id
    // in the cluster) and cluster size.
    "dedup_clusters" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val (_, labels) = clusterLabels(s, dir)
      labels
        .select(col("id").as("doc_id"), col("component").as("cluster_id"))
        .withColumn("cluster_size",
          count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
        .orderBy(col("doc_id"))
    }),

    // Duplicate-cluster size distribution: how much of the corpus sits in
    // clusters of each size — the "how bad is duplication" card that
    // decides whether near-dedup is worth running (dup_rate_report's
    // near-dup sibling, and the input to dedup cost estimates: pair volume
    // inside a cluster is c·(c−1)/2). Shares clusterLabels with
    // dedup_clusters/apply (one construction, views can't drift); the
    // histogram collapses clusters → sizes → size counts, every stage
    // bounded by the cluster count.
    "dup_cluster_stats" -> ((s, dir) => {
      val (_, labels) = clusterLabels(s, dir)
      labels.groupBy(col("component")).agg(count(lit(1)).as("cluster_size"))
        .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
        .select(col("cluster_size"), col("n_clusters"),
          (col("cluster_size") * col("n_clusters")).as("n_docs"))
        .orderBy(col("cluster_size"))
    }),

    // MinHash banding S-curve (Leskovec/Rajaraman/Ullman ch.3: P(candidate)
    // = 1−(1−s^r)^b) MEASURED at three (bands, rows) operating points over
    // the planted tuning sample — the "pick b×r before the 100-TB dedup
    // run" card: more rows/band cuts false candidates but starts missing
    // 0.8-similar pairs (the S-curve shoulder), and this card prices that
    // trade with real counts. Minhashes here are md5-derived (the
    // dp_histogram idiom) so BOTH engines compute identical signatures —
    // the production path (Dedup.minhashNearDups) keeps xxhash64, which
    // DuckDB can't mirror; this card is the TUNER, run on a sample, so
    // hash portability beats hash speed. Ground truth = exact Jaccard
    // ≥ 0.8 via the shared-shingle equi-join (work ∝ overlap, never
    // all-pairs) with integer cross-multiplication (containment_dedup's
    // trick) — zero doubles anywhere in the card.
    "minhash_curve" -> ((s, dir) => {
      val c = corpus(s, dir)
      val sh = graft.operators.CacheRegistry.track(
        Dedup.shingleSets(c, "doc_id", "text", 3))
      val ex = sh.select(col("doc_id"), explode(col("shingles")).as("s"))
      val aggs = (0 until 32).map(i => min(expr(
        s"CAST(conv(substring(md5(concat('mh$i:', s)), 1, 15), 16, 10) AS BIGINT)"))
        .as(s"m$i"))
      val sig = ex.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
        .localCheckpoint(false) // the 3 config projections read it
      val keys = Seq((16, 2), (8, 4), (4, 8)).map { case (b, r) =>
        val bandKeys = (0 until b).map { j =>
          concat_ws(",", (0 until r).map(k => col(s"m${j * r + k}")): _*)
        }
        sig.select(lit(b.toLong).as("b"), lit(r.toLong).as("r"), col("doc_id"),
          posexplode(array(bandKeys: _*)).as(Seq("band", "key")))
      }.reduce(_ unionByName _)
      val cand = keys.as("x").join(keys.as("y"),
          col("x.b") === col("y.b") && col("x.band") === col("y.band") &&
            col("x.key") === col("y.key") && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.b").as("b"), col("x.r").as("r"),
          col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
        .distinct()
        .localCheckpoint(false) // counted AND truth-joined
      val shared = ex.as("a").join(ex.as("b"),
          col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .agg(count(lit(1)).as("shared"))
      val sizes = sh.select(col("doc_id"), size(col("shingles")).cast("long").as("sz"))
      val truth = shared
        .join(sizes.select(col("doc_id").as("id_a"), col("sz").as("sz_a")), "id_a")
        .join(sizes.select(col("doc_id").as("id_b"), col("sz").as("sz_b")), "id_b")
        .where(expr("shared * 10 >= (sz_a + sz_b - shared) * 8"))
        .select(col("id_a"), col("id_b"))
        .localCheckpoint(false) // counted AND semi-joined per config
      // anchor the output on the STATIC 3-row config frame (bloom_fpr_curve
      // pattern — round-10 ADVICE): an operating point with ZERO candidates
      // must still report n_candidates=0 instead of silently vanishing
      val confs = broadcast(s.createDataFrame(Seq((16L, 2L), (8L, 4L), (4L, 8L)))
        .toDF("b", "r"))
      confs
        .join(cand.groupBy(col("b"), col("r")).agg(count(lit(1)).as("nc")),
          Seq("b", "r"), "left")
        .join(cand.join(truth, Seq("id_a", "id_b"), "left_semi")
            .groupBy(col("b"), col("r")).agg(count(lit(1)).as("nct")),
          Seq("b", "r"), "left")
        .crossJoin(truth.agg(count(lit(1)).as("n_true")))
        .select(col("b"), col("r"), coalesce(col("nc"), lit(0L)).as("n_candidates"),
          coalesce(col("nct"), lit(0L)).as("n_cand_true"), col("n_true"))
        .withColumn("recall6", expr("(n_cand_true * 1000000) DIV greatest(n_true, 1)"))
        .withColumn("precision6",
          expr("(n_cand_true * 1000000) DIV greatest(n_candidates, 1)"))
        .orderBy(col("b"))
    }),

    // B-cubed precision/recall/F1 of the near-dup clustering against the
    // PLANTED truth (Bagga & Baldwin 1998; Amigó et al. 2009 singles B³
    // out as the clustering metric satisfying all four formal
    // constraints) — "did dedup find the right clusters", the eval card
    // that gates a threshold change before it ships. Truth key: recovered
    // by MEMBERSHIP against the base id set, not by id % 100000 — at the
    // 100× generated dir real doc_ids reach 9e7 and the modulo collapsed
    // 2000 base docs onto 200 truth keys (measured; cross-engine
    // consistent, so the oracle stayed green while the semantics silently
    // broke — the semdedup planted-offset lesson again). Every corpus
    // member is exactly one of base / base+100000 / base+200000 and
    // planted ids never collide with real ids (copies land inside a
    // block's unused id range), so two left joins decide provenance.
    // Exactness: B³P averages
    // n_pt/n_p over docs — each (pred, truth) cell quantizes ONCE to
    // µ-units ((n_pt·1e6) DIV n_p, the dsir one-rounding discipline; the
    // n_pt·q form keeps every term ≤ N·1e6, overflow-safe at any corpus)
    // and cell sums are commuting BIGINT folds. Work is cells-sized (≤
    // cluster count) — the per-doc definition never materializes pairs.
    "dedup_bcubed" -> ((s, dir) => {
      val (_, labels) = clusterLabels(s, dir)
      val base = t(s, dir, "documents").where(col("doc_id") % 25 === 0)
        .select(col("doc_id"))
      val lt = labels
        .join(base.select(col("doc_id").as("id"), lit(true).as("b1")), Seq("id"), "left")
        .join(base.select((col("doc_id") + 100000L).as("id"), lit(true).as("b2")),
          Seq("id"), "left")
        .select(col("id"), col("component").as("p"),
          when(col("b1"), col("id"))
            .when(col("b2"), col("id") - 100000L)
            .otherwise(col("id") - 200000L).as("t"))
        .localCheckpoint(false) // read by 3 aggregates below
      val cells = lt.groupBy(col("p"), col("t")).agg(count(lit(1)).as("n_pt"))
      val psz = lt.groupBy(col("p")).agg(count(lit(1)).as("n_p"))
      val tsz = lt.groupBy(col("t")).agg(count(lit(1)).as("n_t"))
      cells.join(psz, "p").join(tsz, "t")
        .agg(sum(expr("n_pt * ((n_pt * 1000000) DIV n_p)")).as("psum6"),
          sum(expr("n_pt * ((n_pt * 1000000) DIV n_t)")).as("rsum6"),
          sum(col("n_pt")).as("n_docs"))
        .crossJoin(psz.agg(count(lit(1)).as("n_pred_clusters")))
        .crossJoin(tsz.agg(count(lit(1)).as("n_truth_clusters")))
        .select(col("n_docs"), col("n_pred_clusters"), col("n_truth_clusters"),
          expr("psum6 DIV n_docs").as("p6"), expr("rsum6 DIV n_docs").as("r6"))
        .withColumn("f1_6", expr("(2 * p6 * r6) DIV greatest(p6 + r6, 1)"))
    }),

    // Dedup APPLIED: clusters → one representative per cluster (the min
    // doc_id, which IS the component label) → the filtered corpus. The
    // end-to-end "make the training set" step that dedup_clusters' labels
    // feed; output is a one-row summary + kept-id checksum so the oracle
    // pins the exact surviving set, not just its size.
    "dedup_apply" -> ((s, dir) => {
      val (c, labels) = clusterLabels(s, dir)
      val kept = labels.where(col("id") === col("component"))
      kept.agg(count(lit(1)).as("n_kept"), sum(col("id")).as("kept_id_sum"))
        .crossJoin(c.agg(count(lit(1)).as("n_before")))
        .select(col("n_before"), col("n_kept"),
          (col("n_before") - col("n_kept")).as("n_dropped"), col("kept_id_sum"))
    }),

    // SOFT dedup: instead of dropping duplicates, the kept representative
    // carries its cluster multiplicity as a training weight (downsample-by-
    // weighting, the alternative to hard removal when duplicate mass is
    // signal). Reuses the SAME cluster labels as dedup_clusters/dedup_apply
    // (one shared construction — the three views can never drift); output
    // is the exact weight histogram + representative-id checksum.
    "dedup_soft" -> ((s, dir) => {
      val (_, labels) = clusterLabels(s, dir)
      labels.groupBy(col("component")).agg(count(lit(1)).as("weight"))
        .groupBy(col("weight"))
        .agg(count(lit(1)).as("n_clusters"), sum(col("component")).as("rep_id_sum"))
        .orderBy(col("weight"))
    }),

    // Incremental CLUSTER maintenance (round 6): the production loop where
    // the persisted dedup fixpoint absorbs an append batch WITHOUT
    // re-running connected components over the corpus. Edges touching the
    // batch come from the stored minhash band index (new-vs-corpus, no
    // corpus recompute) and a batch-local scan (new-vs-new); the corpus
    // side then CONTRACTS to its component labels — every old cluster is
    // ONE super-node, its internal edges already folded into the fixpoint
    // (labels are min-ids, so the contracted min IS the merged cluster's
    // true min) — and the CC re-run sees only |clusters| + |batch| nodes.
    // The batch plants all three production cases: near-copies that join
    // existing clusters (+400000, one appended token), intra-batch
    // duplicates (+600000, same text as +400000 ⇒ new-new edges), and
    // novel docs (+800000, reversed token order ⇒ disjoint shingle sets).
    // Offsets are spaced 200000 apart (the family's convention, ≥100000):
    // 10000-spacing would collide doc 10000's +400000 variant with doc 0's
    // next variant one scale step past sf0.1's 4999-doc ceiling.
    // Ground truth is a FULL recompute over corpus ∪ batch — the oracle
    // does exactly that, so the contraction must be exactly equivalent.
    "dedup_clusters_incremental" -> ((s, dir) => {
      import graft.operators.{ConnectedComponents, Dedup}
      val (c, labels) = clusterLabels(s, dir)
      val bpick = t(s, dir, "documents").where(col("doc_id") % 100 === 0)
        .select(col("doc_id"), col("text"))
      val batch = bpick.select((col("doc_id") + 400000L).as("doc_id"),
          concat(col("text"), lit(" xtra")).as("text"))
        .unionByName(bpick.where(col("doc_id") % 200 === 0)
          .select((col("doc_id") + 600000L).as("doc_id"),
            concat(col("text"), lit(" xtra")).as("text")))
        .unionByName(bpick.select((col("doc_id") + 800000L).as("doc_id"),
          concat_ws(" ", reverse(TextFns.tokens(col("text")))).as("text")))
      val idxPath = graft.operators.DiskCache.keyedPath(
        "minhash_dcorpus_idx_v1", s"$dir/documents.parquet")
      Dedup.ensureMinhashIndex(c, "doc_id", "text", idxPath)
      // ONE batch shingle/band computation feeds both edge families
      val (newVsIdx, newVsNew) =
        Dedup.batchNearDups(batch, "doc_id", "text", idxPath, threshold = 0.8)
      val contractedEdges = newVsIdx
        .join(labels.select(col("id").as("id_idx"), col("component")), "id_idx")
        .select(col("component").as("id_a"), col("id_new").as("id_b"))
        .unionByName(newVsNew.select(col("id_a"), col("id_b")))
      // only nodes TOUCHED by a batch edge re-label; an untouched cluster
      // (or matchless batch doc) keeps its label via the coalesce below —
      // so the CC input is batch-bounded, never |clusters|-bounded. Below
      // the cardinality ceiling the component solve runs as driver
      // union-find with min-id roots (ONE probe-and-collect job instead of
      // CC's per-round job train — the winsorize guarded-collect pattern);
      // the distributed large-star/small-star path is the guarded fallback.
      val maxDriverEdges = 200000
      val eProbe = contractedEdges.limit(maxDriverEdges + 1).collect()
      val contracted =
        if (eProbe.length <= maxDriverEdges) {
          val parent = scala.collection.mutable.HashMap.empty[Long, Long]
          def find(x: Long): Long = {
            var r = x
            while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
            var c = x
            while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
            r
          }
          eProbe.foreach { e =>
            val (ra, rb) = (find(e.getLong(0)), find(e.getLong(1)))
            if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
          }
          val nodes = eProbe.flatMap(e => Seq(e.getLong(0), e.getLong(1))).distinct
          import s.implicits._
          nodes.map(n => (n, find(n))).toSeq.toDF("node", "newc")
        } else {
          val endpoints = contractedEdges.select(col("id_a").as("doc_id"))
            .unionByName(contractedEdges.select(col("id_b").as("doc_id"))).distinct()
          ConnectedComponents.components(contractedEdges, endpoints)
            .select(col("id").as("node"), col("component").as("newc"))
        }
      labels.select(col("id").as("doc_id"), col("component").as("node"))
        .unionByName(batch.select(col("doc_id"), col("doc_id").as("node")))
        .join(contracted, Seq("node"), "left")
        .select(col("doc_id"), coalesce(col("newc"), col("node")).as("cluster_id"))
        .withColumn("cluster_size",
          count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
        .orderBy(col("doc_id"))
    }),

    // Incremental dedup: the append-batch production loop. The existing
    // corpus (doc_id ≥ 100) is signature-indexed ON DISK once
    // (existingCorpusIndex); the incoming batch (near-copies of some
    // indexed docs + novel docs) joins the stored band buckets only — no
    // corpus recompute, no incoming×incoming pairs. Oracle: exhaustive
    // jaccard between the two constructed sets.
    "dedup_incremental" -> ((s, dir) => {
      val idxPath = existingCorpusIndex(s, dir)
      val docs = t(s, dir, "documents")
      val incoming = docs.where(col("doc_id") >= 100 && col("doc_id") % 25 === 0)
        .select((col("doc_id") + 300000L).as("doc_id"),
          concat(col("text"), lit(" xtra xtra")).as("text"))
        .unionByName(docs.where(col("doc_id") < 50)
          .select((col("doc_id") + 400000L).as("doc_id"), col("text")))
      Dedup.incrementalNearDups(incoming, "doc_id", "text", idxPath, threshold = 0.8)
        .select(col("id_new"), col("id_idx"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("id_new"), col("id_idx"))
    }),

    // Dedup threshold-sweep card: EXACT near-dup pair/doc counts at each
    // candidate threshold {0.5..0.9} over the constructed corpus — the
    // measured complement to lsh_curve's analytic banding curve (what dup
    // mass would each τ actually remove from THIS corpus?). Candidates
    // come from a shingle-postings equi-join (any pair with j > 0 shares a
    // shingle, so candidates are provably complete for every τ > 0; work
    // = Σ df² over trigram shingles, never |docs|²); ONE exact
    // intersect/union per candidate pair; the 5-threshold fan-out happens
    // on the (tiny) pair stream. Exact BIGINT counts both engines.
    "dedup_sweep" -> ((s, dir) => {
      // EXACT-TEXT CLASS COLLAPSE (round 6, the ssjoin_prefix rewrite's
      // pattern): J is a function of the shingle SETS, so exact-duplicate
      // docs are interchangeable — the Σ df² shingle-postings candidate
      // machinery and the per-pair intersect/union verify run over DISTINCT
      // TEXTS only (the dup-heavy corpus collapses its planted 30× clusters
      // to one representative each), and the per-τ pair/doc counts expand
      // arithmetically: within a class of m docs, C(m,2) pairs at J=1
      // clear EVERY τ ≤ 0.9 and all m docs count as matched; a qualifying
      // class pair (A,B) contributes m_A·m_B pairs, and a singleton class
      // counts as a matched doc iff it has a qualifying cross pair.
      // Bit-identical to the unchanged brute-force oracle.
      val taus = Seq(0.5, 0.6, 0.7, 0.8, 0.9)
      val cls = corpus(s, dir).groupBy(col("text"))
        .agg(min(col("doc_id")).as("cid"), count(lit(1)).as("m"))
      // zero-shingle classes (docs under 3 tokens — identical text means
      // identical sets, so the test is class-level) are excluded from the
      // WITHIN arithmetic too, matching the oracle's len(s) > 0 guard and
      // the postings path, where an empty set can never form a candidate
      val sh = graft.operators.CacheRegistry.track(
        cls.select(col("cid"), col("m"),
          array_distinct(TextFns.shingles(TextFns.tokens(col("text")), 3)).as("shingles"))
          .where(size(col("shingles")) > 0))
      val ex = sh.select(col("cid"), explode(col("shingles")).as("g"))
      val cand = ex.as("a").join(ex.as("b"),
          col("a.g") === col("b.g") && col("a.cid") < col("b.cid"))
        .select(col("a.cid").as("ca"), col("b.cid").as("cb"))
        .distinct()
      val cpairs = cand
        .join(sh.select(col("cid").as("ca"), col("shingles").as("sa"),
          col("m").as("ma")), "ca")
        .join(sh.select(col("cid").as("cb"), col("shingles").as("sb"),
          col("m").as("mb")), "cb")
        .select(col("ca"), col("cb"), col("ma"), col("mb"),
          (size(array_intersect(col("sa"), col("sb"))).cast("double")
            / size(array_union(col("sa"), col("sb")))).as("j"))
      val crossSwept = cpairs
        .select(col("ca"), col("cb"), col("ma"), col("mb"), col("j"),
          explode(array(taus.map(lit): _*)).as("threshold"))
        .where(col("j") >= col("threshold"))
      val npCross = crossSwept.groupBy(col("threshold"))
        .agg(sum(col("ma") * col("mb")).as("np_cross"))
      // singleton classes match only through a qualifying cross pair;
      // multi-doc classes are matched at every τ by their J=1 within pairs
      val matchedCross = crossSwept
        .select(col("ca").as("cid"), col("threshold"))
        .unionByName(crossSwept.select(col("cb").as("cid"), col("threshold")))
        .distinct()
      // derived from the cached sh (carries cid + m), not from a fresh
      // corpus groupBy — no extra full-text scans per invocation
      val ndSingles = matchedCross
        .join(sh.where(col("m") === 1).select(col("cid")), "cid")
        .groupBy(col("threshold")).agg(count(lit(1)).as("nd_single"))
      val within = broadcast(sh.where(col("m") >= 2)
        .agg(sum(expr("(m * (m - 1)) div 2")).as("np_within"),
          sum(col("m")).as("nd_within")))
      import s.implicits._
      taus.toDF("threshold")
        .join(npCross, Seq("threshold"), "left")
        .join(ndSingles, Seq("threshold"), "left")
        .crossJoin(within)
        .select(col("threshold"),
          (coalesce(col("np_cross"), lit(0L))
            + coalesce(col("np_within"), lit(0L))).as("n_pairs"),
          (coalesce(col("nd_single"), lit(0L))
            + coalesce(col("nd_within"), lit(0L))).as("n_docs"))
        .orderBy(col("threshold"))
    }),

    // Embedding cosine near-dup: exact copies at +100000 must be found at
    // cosine ≥ 0.9 (natural max pairwise cosine in the data is ~0.31).
    // DECLARED path is LSH-banded (the 100 TB shape): 4 bands × 4
    // hyperplanes hash each vector ONCE; candidates are pairs agreeing on
    // all 4 bits of ≥1 band (shuffle equi-join on the exploded band keys
    // — NO all-pairs/cartesian anywhere in the plan). Each band row
    // carries its vector, so the exact cosine verifies inside the join
    // output: no join back to the vectors, and only the pairs that pass
    // 0.9 are made distinct (a pair colliding in several bands yields the
    // same double each time). Exact copies have identical sign bits in
    // every band, so recall on the oracle's answer set is exact; the
    // brute-force all-pairs form survives only as the differential spec
    // at sf0.001 (LlmOpsSpec "embed_neardup LSH path ≡ brute force").
    "embed_neardup" -> ((s, dir) => {
      // one scan: each sampled vector and its planted copy at +100000
      val all = t(s, dir, "embeddings").where(col("vec_id") % 25 === 0)
        .select(col("vec_id"), col("embedding"),
          explode(array(lit(0L), lit(100000L))).as("off"))
        .select((col("vec_id") + col("off")).as("vec_id"), col("embedding"))
      val keyed = all.select(col("vec_id"), col("embedding"),
        posexplode(SimFns.bandedLshKeys(col("embedding"),
          nBands = 4, rowsPerBand = 4, dim = 64)).as(Seq("band", "key")))
      keyed.as("a").join(keyed.as("b"),
          col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
            col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
          SimFns.cosine(col("a.embedding"), col("b.embedding")).as("cos"))
        .where(col("cos") >= 0.9)
        .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
        .distinct()
        .orderBy(col("id_a"), col("id_b"))
    }),

    // EXACT set-similarity join via prefix filtering (the PPJoin family —
    // the deterministic complement to MinHash's probabilistic candidates):
    // all pairs with token-set Jaccard ≥ 0.6, no hashing, provably no
    // misses. Each doc's distinct tokens sort by global document frequency
    // (rarest first, token as tie-break); only the first
    // n − ceil(τ·n) + 1 tokens join. Completeness: J(a,b) ≥ τ forces
    // overlap ≥ ⌈τ·|a|⌉, and skipping a's prefix leaves only
    // ⌈τ·|a|⌉ − 1 tokens — so every qualifying pair collides on a prefix
    // token, and rare-token prefixes keep collision lists short (the Zipf
    // head sits at the END of the sort, outside every prefix). Candidates
    // then verify with ONE exact intersect/union per distinct pair. The
    // oracle computes all pairs exhaustively — the scalable path must
    // reproduce the brute-force answer exactly.
    "ssjoin_prefix" -> ((s, dir) => {
      val tau = 0.6
      // zero-token docs are excluded up front: J(∅,∅) is 0/0 — NaN, which
      // DuckDB's comparison orders ABOVE the threshold while Spark's Java
      // semantics reject, a latent cross-engine divergence (an empty set
      // has J = 0 < τ with everything anyway)
      // EXACT-DEDUP-BEFORE-NEAR-DEDUP (round 6, the production pipeline
      // order): J(a,b) is a function of the token SETS alone, so docs with
      // identical sets are interchangeable — group them into classes
      // (ckey = the sorted set itself; tokens are whitespace-split so the
      // space join is injective, no hash-collision risk) and run the
      // quadratic machinery on DISTINCT CLASSES only. Duplicate clusters
      // collapse to ONE representative each — the prefix-collision volume
      // and the doc-pair quadratic blowup (c·(c−1)/2 per cluster) are
      // replaced by per-class ARITHMETIC below.
      //
      // Round-8 plan surgery (profiled at 100×, 14.9 s → see SCALING.md):
      // every multiply-referenced subtree used to re-run per reference —
      // the corpus union inlined THREE documents scans, the prefix
      // self-join re-ran the whole collapse twice (self-joins get no
      // ReusedExchange), and the symmetric pair expansion re-ran the
      // entire candidate+verify chain twice. Now: the 3-variant corpus is
      // ONE documents scan (tokenize once per doc, then a 3-row explode
      // builds the copies' ckeys — the +200000 variant's token set is
      // distinct(tk ∪ {xtra}) by construction of " xtra xtra"), only
      // (doc_id, ckey) rides the class shuffle (the token array
      // re-derives from ckey by split, which is injective), and the three
      // reused corpus-shaped intermediates (mem, prefix, verified class
      // pairs) are tracked session-lifetime caches.
      val slim = t(s, dir, "documents").where(col("doc_id") % 25 === 0)
        .select(col("doc_id"),
          sort_array(array_distinct(TextFns.tokens(col("text")))).as("tk"))
        .select(col("doc_id"), col("tk"), explode(array(
          struct(lit(0L).as("off"), lit(false).as("xtra")),
          struct(lit(100000L).as("off"), lit(false).as("xtra")),
          struct(lit(200000L).as("off"), lit(true).as("xtra")))).as("v"))
        .select((col("doc_id") + col("v.off")).as("doc_id"),
          concat_ws(" ", when(col("v.xtra"),
            sort_array(array_distinct(concat(col("tk"), array(lit("xtra"))))))
            .otherwise(col("tk"))).as("ckey"))
        // zero-token guard (see NaN note above): empty set ⇒ empty ckey
        .where(col("ckey") =!= "")
      val wc = Window.partitionBy("ckey")
      val wco = Window.partitionBy("ckey").orderBy("doc_id")
      val mem = graft.operators.CacheRegistry.track(slim
        .withColumn("m", count(lit(1)).over(wc))
        .withColumn("rn", row_number().over(wco))
        .withColumn("c1", min(col("doc_id")).over(wc))
        .withColumn("c2", max(when(col("rn") === 2, col("doc_id"))).over(wc)))
      val reps = mem.where(col("rn") === 1)
        .select(col("c1").as("cid"), split(col("ckey"), " ").as("toks"), col("m"))
      // class-level prefix join: n rides the array size through the explode
      // (no unordered count window); df now counts CLASSES per token — any
      // consistent global total order preserves prefix completeness
      val ex = reps.select(col("cid"), size(col("toks")).cast("long").as("n"),
        explode(col("toks")).as("tok"))
      val tf = ex.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val w = Window.partitionBy("cid").orderBy(col("df"), col("tok"))
      // tracked: the self-join below references prefix twice and would
      // otherwise re-run the whole collapse+df chain per side
      val prefix = graft.operators.CacheRegistry.track(ex.join(tf, "tok")
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= col("n") - ceil(col("n") * tau) + 1)
        .select(col("cid"), col("tok"), col("n"), col("rk")))
      // PPJoin length filter: J ≥ τ forces τ·|a| ≤ |b| ≤ |a|/τ, so length-
      // mismatched collisions prune in the join condition — lossless.
      // PPJoin+ positional/suffix filter: tokens sort by ONE global
      // (df, tok) order in every class, so the globally-largest SHARED
      // prefix token has the largest rk on both sides at once, and any
      // common token that is not a shared-prefix collision must sort after
      // it (earlier ⇒ inside both prefixes ⇒ it would have collided).
      // Hence overlap ≤ cnt + min(|a|−max rkₐ, |b|−max rk_b), and J ≥ τ
      // needs overlap ≥ τ/(1+τ)·(|a|+|b|) — pairs whose bound falls short
      // prune HERE, before the exact verify joins the full token arrays.
      // The ε slack only loosens the bound (a float constant never prunes
      // a boundary-qualifying pair); the aggregate replaces a .distinct()
      // with the same shuffle key and map-side combine.
      val cand = prefix.as("a").join(prefix.as("b"),
          col("a.tok") === col("b.tok") && col("a.cid") < col("b.cid") &&
            col("b.n") >= col("a.n") * tau && col("a.n") >= col("b.n") * tau)
        .groupBy(col("a.cid").as("ca"), col("b.cid").as("cb"))
        .agg(count(lit(1)).as("cnt"),
          max(col("a.rk")).as("mra"), max(col("b.rk")).as("mrb"),
          max(col("a.n")).as("an"), max(col("b.n")).as("bn"))
        .where(col("cnt") + least(col("an") - col("mra"), col("bn") - col("mrb"))
          >= (col("an") + col("bn")) * (tau / (1 + tau)) - 1e-9)
        .select(col("ca"), col("cb"))
      // τ compares against the UNROUNDED ratio: both engines compute the
      // identical IEEE double from the same integer intersect/union sizes.
      // Distinct classes have distinct sets, so cross-class J < 1 strictly
      // — the within-class J = 1 entries below always dominate arg-max.
      // tracked: the symmetric expansion below references the verified
      // pair stream twice and would otherwise re-run candidates + verify
      val cpairs = graft.operators.CacheRegistry.track(cand
        .join(reps.select(col("cid").as("ca"), col("toks").as("ta")), "ca")
        .join(reps.select(col("cid").as("cb"), col("toks").as("tb")), "cb")
        .withColumn("j",
          size(array_intersect(col("ta"), col("tb"))).cast("double")
            / size(array_union(col("ta"), col("tb"))))
        .where(col("j") >= tau)
        .select(col("ca"), col("cb"), col("j")))
      // Per-CLASS cross aggregates (partner class contributes all m members;
      // its best representative under the (j desc, id asc) tie rule is its
      // min doc_id = cid), then per-doc expansion by pure arithmetic:
      //   n_matches(d ∈ A) = (m_A − 1)  +  Σ_{B: J(A,B) ≥ τ} m_B
      //   best(d ∈ A)      = within-class (J = 1, smallest other member)
      //                      when m_A > 1, else the best cross class.
      // Declared output stays PER-DOC (match count + best partner), linear
      // in corpus size — bit-identical to the brute-force oracle.
      val symc = cpairs.select(col("ca").as("cid"), col("cb").as("pcid"), col("j"))
        .unionByName(cpairs.select(col("cb").as("cid"), col("ca").as("pcid"), col("j")))
      val crossAgg = symc
        .join(reps.select(col("cid").as("pcid"), col("m").as("pm")), "pcid")
        .groupBy(col("cid"))
        .agg(sum(col("pm")).as("cross_n"),
          max(struct(col("j").as("j"), (-col("pcid")).as("np"))).as("bc"))
      mem.join(crossAgg, mem("c1") === crossAgg("cid"), "left")
        .withColumn("n_matches", (col("m") - 1) + coalesce(col("cross_n"), lit(0L)))
        .where(col("n_matches") > 0)
        .withColumn("bj", when(col("m") > 1, lit(1.0)).otherwise(col("bc.j")))
        .withColumn("bp", when(col("m") > 1,
            when(col("doc_id") === col("c1"), col("c2")).otherwise(col("c1")))
          .otherwise(-col("bc.np")))
        .select(col("doc_id"), col("n_matches"),
          col("bp").as("best_partner"),
          (floor(col("bj") * 1e6 + 0.5) / 1e6).as("best_jaccard"))
        .orderBy(col("doc_id"))
    }))

  private val contaminationSql =
    s"""WITH ev AS (SELECT doc_id, text FROM documents WHERE doc_id < 50),
       |tr AS (SELECT doc_id, text FROM documents WHERE doc_id >= 50
       |       UNION ALL SELECT doc_id + 500000, text FROM ev),
       |evsh AS (SELECT doc_id AS eval_id, unnest(s) AS sh FROM (
       |  SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(tk) - 6, 1)),
       |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' ||
       |         tk[i+4] || ' ' || tk[i+5] || ' ' || tk[i+6] || ' ' || tk[i+7])) AS s
       |  FROM (SELECT doc_id, $toksSql AS tk FROM ev))),
       |trsh AS (SELECT doc_id AS train_id, unnest(s) AS sh FROM (
       |  SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(tk) - 6, 1)),
       |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' ||
       |         tk[i+4] || ' ' || tk[i+5] || ' ' || tk[i+6] || ' ' || tk[i+7])) AS s
       |  FROM (SELECT doc_id, $toksSql AS tk FROM tr)))
       |SELECT train_id, eval_id, CAST(count(*) AS BIGINT) AS n_shared_8grams
       |FROM trsh JOIN evsh USING (sh)
       |GROUP BY train_id, eval_id ORDER BY train_id, eval_id""".stripMargin

  val oracle: Map[String, String] = Map(
    "winnowing_pairs" ->
      s"""$corpusSql,
         |tk5 AS (SELECT doc_id, $toksSql AS tk FROM corpus),
         |sh AS (SELECT doc_id, i - 1 AS pos,
         |    tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4] AS sh
         |  FROM (SELECT doc_id, tk, unnest(range(1, greatest(len(tk) - 3, 1))) AS i FROM tk5)),
         |hashed AS (SELECT doc_id, pos,
         |    CAST(('0x' || substr(md5(sh), 1, 10)) AS BIGINT) * 1000000 + (999999 - pos) AS c
         |  FROM sh),
         |sel AS (SELECT doc_id, pos,
         |    min(c) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel,
         |    count(*) OVER (PARTITION BY doc_id) AS cnt
         |  FROM hashed),
         |fps AS (SELECT DISTINCT doc_id, sel // 1000000 AS fp FROM sel
         |  WHERE pos <= cnt - 4),
         |keep AS (SELECT fp FROM fps GROUP BY fp HAVING count(DISTINCT doc_id) <= 50),
         |rare AS (SELECT fps.doc_id, fps.fp FROM fps JOIN keep USING (fp))
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS shared
         |FROM rare a JOIN rare b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 8 ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_exact" ->
      s"""$corpusSql
         |SELECT CAST(min(doc_id) AS BIGINT) AS doc_id, CAST(count(*) AS BIGINT) AS n_copies
         |FROM corpus GROUP BY text ORDER BY doc_id""".stripMargin,
    "ngram_jaccard" ->
      s"""$corpusSql,
         |sh AS ($shinglesSql)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  round(CAST(len(list_distinct(list_intersect(a.s, b.s))) AS DOUBLE) /
         |        CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE), 6) AS jaccard
         |FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 100000 OR b.doc_id = a.doc_id + 200000
         |ORDER BY id_a, id_b""".stripMargin,
    "simhash_dedup" ->
      """SELECT CAST(doc_id AS BIGINT) AS id_a,
        |  CAST(doc_id + 100000 AS BIGINT) AS id_b, CAST(0 AS BIGINT) AS hamming
        |FROM documents WHERE doc_id % 25 = 0 AND doc_id < 100000
        |ORDER BY id_a, id_b""".stripMargin,
    "minhash_curve" -> {
      val mhCols = (0 until 32).map(i =>
        s"min(CAST(('0x' || substr(md5('mh$i:' || sg), 1, 15)) AS BIGINT)) AS m$i")
        .mkString(",\n    ")
      val keyArms = Seq((16, 2), (8, 4), (4, 8)).flatMap { case (b, r) =>
        (0 until b).map { j =>
          val key = (0 until r).map(k => s"CAST(m${j * r + k} AS VARCHAR)")
            .mkString(" || ',' || ")
          s"SELECT CAST($b AS BIGINT) AS b, CAST($r AS BIGINT) AS r, doc_id, " +
            s"$j AS band, $key AS key FROM sig"
        }
      }.mkString("\n  UNION ALL ")
      s"""$corpusSql,
         |sh AS MATERIALIZED ($shinglesSql),
         |ex AS MATERIALIZED (SELECT doc_id, unnest(s) AS sg FROM sh),
         |sig AS MATERIALIZED (SELECT doc_id,
         |    $mhCols
         |  FROM ex GROUP BY doc_id),
         |keys AS MATERIALIZED (
         |  $keyArms),
         |cand AS MATERIALIZED (SELECT DISTINCT x.b, x.r,
         |    x.doc_id AS id_a, y.doc_id AS id_b
         |  FROM keys x JOIN keys y ON x.b = y.b AND x.band = y.band
         |    AND x.key = y.key AND x.doc_id < y.doc_id),
         |shared AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    CAST(count(*) AS BIGINT) AS shared
         |  FROM ex a JOIN ex b ON a.sg = b.sg AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |sizes AS (SELECT doc_id, CAST(len(s) AS BIGINT) AS sz FROM sh),
         |truth AS MATERIALIZED (SELECT id_a, id_b
         |  FROM shared JOIN sizes sa ON sa.doc_id = id_a
         |    JOIN sizes sb ON sb.doc_id = id_b
         |  WHERE shared * 10 >= (sa.sz + sb.sz - shared) * 8),
         |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM truth),
         |cc AS (SELECT b, r, CAST(count(*) AS BIGINT) AS n_candidates
         |  FROM cand GROUP BY 1, 2),
         |ct AS (SELECT b, r, CAST(count(*) AS BIGINT) AS n_cand_true
         |  FROM cand JOIN truth USING (id_a, id_b) GROUP BY 1, 2),
         |g AS (SELECT CAST(unnest([16, 8, 4]) AS BIGINT) AS b,
         |  CAST(unnest([2, 4, 8]) AS BIGINT) AS r)
         |SELECT g.b, g.r, coalesce(cc.n_candidates, 0) AS n_candidates,
         |  coalesce(ct.n_cand_true, 0) AS n_cand_true, nt.n_true,
         |  CAST((coalesce(ct.n_cand_true, 0) * 1000000)
         |    // greatest(nt.n_true, 1) AS BIGINT) AS recall6,
         |  CAST((coalesce(ct.n_cand_true, 0) * 1000000)
         |    // greatest(coalesce(cc.n_candidates, 0), 1) AS BIGINT) AS precision6
         |FROM g CROSS JOIN nt
         |LEFT JOIN cc ON cc.b = g.b AND cc.r = g.r
         |LEFT JOIN ct ON ct.b = g.b AND ct.r = g.r
         |ORDER BY g.b""".stripMargin
    },
    "minhash_dedup" ->
      s"""$corpusSql,
         |sh AS ($shinglesSql)
         |SELECT id_a, id_b, round(j, 6) AS jaccard FROM (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    CAST(len(list_distinct(list_intersect(a.s, b.s))) AS DOUBLE) /
         |    CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) AS j
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         |WHERE j >= 0.8 ORDER BY id_a, id_b""".stripMargin,
    "cross_source_dups" ->
      """WITH full_c AS (
        |  SELECT text, source FROM documents
        |  UNION ALL SELECT text, 'mirror' FROM documents WHERE doc_id % 7 = 0),
        |d AS (SELECT DISTINCT md5(text) AS h, source FROM full_c)
        |SELECT a.source AS src_a, b.source AS src_b,
        |  CAST(count(*) AS BIGINT) AS n_shared_texts
        |FROM d a JOIN d b ON a.h = b.h AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "containment_dedup" ->
      s"""$corpusSql,
         |sh AS ($shinglesSql)
         |SELECT id_a, id_b, shared, sz_a, sz_b,
         |  floor(shared / least(sz_a, sz_b) * 1e6 + 0.5) / 1e6 AS containment,
         |  (shared * 10 < (sz_a + sz_b - shared) * 8) AS jaccard_blind
         |FROM (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS shared,
         |    CAST(len(a.s) AS BIGINT) AS sz_a, CAST(len(b.s) AS BIGINT) AS sz_b
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         |WHERE shared > 0 AND shared * 10 >= least(sz_a, sz_b) * 9
         |ORDER BY id_a, id_b""".stripMargin,
    "contamination" -> contaminationSql,
    // the bloom prefilter is exactness-preserving (FPs removed by the
    // equi-join) — SAME ground truth as the unfiltered formulation
    "contamination_bloom" -> contaminationSql,
    "decontaminate_apply" ->
      s"""WITH ev AS (SELECT doc_id, text FROM documents WHERE doc_id < 50),
         |tr AS (SELECT doc_id, text, source, n_chars FROM documents WHERE doc_id >= 50
         |       UNION ALL SELECT doc_id + 500000, text, source, n_chars FROM documents
         |       WHERE doc_id < 50),
         |evsh AS (SELECT doc_id AS eval_id, unnest(s) AS sh FROM (
         |  SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(tk) - 6, 1)),
         |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' ||
         |         tk[i+4] || ' ' || tk[i+5] || ' ' || tk[i+6] || ' ' || tk[i+7])) AS s
         |  FROM (SELECT doc_id, $toksSql AS tk FROM ev))),
         |trsh AS (SELECT doc_id AS train_id, unnest(s) AS sh FROM (
         |  SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(tk) - 6, 1)),
         |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' ||
         |         tk[i+4] || ' ' || tk[i+5] || ' ' || tk[i+6] || ' ' || tk[i+7])) AS s
         |  FROM (SELECT doc_id, $toksSql AS tk FROM tr))),
         |drops AS (
         |  SELECT DISTINCT train_id FROM (
         |    SELECT train_id, eval_id, count(*) AS n
         |    FROM trsh JOIN evsh USING (sh) GROUP BY 1, 2)
         |  WHERE n >= 5)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
         |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
         |  CAST(sum(n_chars) AS BIGINT) AS chars_kept
         |FROM tr WHERE doc_id NOT IN (SELECT train_id FROM drops)
         |GROUP BY source ORDER BY source""".stripMargin,
    "dedup_incremental" ->
      s"""WITH ex AS (SELECT doc_id, text FROM documents WHERE doc_id >= 100),
         |inc AS (
         |  SELECT doc_id + 300000 AS doc_id, text || ' xtra xtra' AS text
         |  FROM documents WHERE doc_id >= 100 AND doc_id % 25 = 0
         |  UNION ALL
         |  SELECT doc_id + 400000 AS doc_id, text FROM documents WHERE doc_id < 50),
         |she AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(tk) - 1, 1)),
         |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS s
         |  FROM (SELECT doc_id, $toksSql AS tk FROM ex)),
         |shi AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(tk) - 1, 1)),
         |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS s
         |  FROM (SELECT doc_id, $toksSql AS tk FROM inc))
         |SELECT id_new, id_idx, round(j, 6) AS jaccard FROM (
         |  SELECT i.doc_id AS id_new, e.doc_id AS id_idx,
         |    CAST(len(list_distinct(list_intersect(i.s, e.s))) AS DOUBLE) /
         |    CAST(len(list_distinct(list_concat(i.s, e.s))) AS DOUBLE) AS j
         |  FROM shi i, she e)
         |WHERE j >= 0.8 ORDER BY id_new, id_idx""".stripMargin,
    // Ground truth: exhaustive jaccard edges + recursive transitive closure.
    // (The driver-side compare is engine-agnostic; the Spark side must reach
    // the same clusters through LSH banding + star contraction.)
    "dedup_apply" ->
      s"""WITH RECURSIVE base AS (SELECT doc_id, text FROM documents WHERE doc_id % 25 = 0),
         |corpus AS (
         |  SELECT doc_id, text FROM base
         |  UNION ALL SELECT doc_id + 100000, text FROM base
         |  UNION ALL SELECT doc_id + 200000, text || ' xtra xtra' FROM base),
         |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(tk) - 1, 1)),
         |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS s
         |  FROM (SELECT doc_id, $toksSql AS tk FROM corpus)),
         |edges AS (
         |  SELECT a.doc_id AS u, b.doc_id AS v FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE CAST(len(list_distinct(list_intersect(a.s, b.s))) AS DOUBLE) /
         |        CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) >= 0.8),
         |bidir AS (SELECT u, v FROM edges UNION SELECT v, u FROM edges),
         |reach(src, dst) AS (
         |  SELECT doc_id, doc_id FROM corpus
         |  UNION
         |  SELECT r.src, b.v FROM reach r JOIN bidir b ON r.dst = b.u),
         |lab AS (SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src),
         |kept AS (SELECT doc_id FROM lab WHERE doc_id = cluster_id)
         |SELECT CAST((SELECT count(*) FROM corpus) AS BIGINT) AS n_before,
         |  CAST((SELECT count(*) FROM kept) AS BIGINT) AS n_kept,
         |  CAST((SELECT count(*) FROM corpus) - (SELECT count(*) FROM kept) AS BIGINT) AS n_dropped,
         |  CAST((SELECT sum(doc_id) FROM kept) AS BIGINT) AS kept_id_sum""".stripMargin,
    "dedup_soft" ->
      s"""WITH RECURSIVE base AS (SELECT doc_id, text FROM documents WHERE doc_id % 25 = 0),
         |corpus AS (
         |  SELECT doc_id, text FROM base
         |  UNION ALL SELECT doc_id + 100000, text FROM base
         |  UNION ALL SELECT doc_id + 200000, text || ' xtra xtra' FROM base),
         |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(tk) - 1, 1)),
         |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS s
         |  FROM (SELECT doc_id, $toksSql AS tk FROM corpus)),
         |edges AS (
         |  SELECT a.doc_id AS u, b.doc_id AS v FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE CAST(len(list_distinct(list_intersect(a.s, b.s))) AS DOUBLE) /
         |        CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) >= 0.8),
         |bidir AS (SELECT u, v FROM edges UNION SELECT v, u FROM edges),
         |reach(src, dst) AS (
         |  SELECT doc_id, doc_id FROM corpus
         |  UNION
         |  SELECT r.src, b.v FROM reach r JOIN bidir b ON r.dst = b.u),
         |lab AS (SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src),
         |w AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS weight FROM lab GROUP BY 1)
         |SELECT weight, CAST(count(*) AS BIGINT) AS n_clusters,
         |  CAST(sum(cluster_id) AS BIGINT) AS rep_id_sum
         |FROM w GROUP BY weight ORDER BY weight""".stripMargin,
    // FULL recompute over corpus ∪ batch — the incremental contraction
    // must reproduce this exactly (cluster_id = min doc_id of the MERGED
    // cluster, sizes including batch members)
    "dedup_clusters_incremental" ->
      s"""WITH RECURSIVE base AS (SELECT doc_id, text FROM documents WHERE doc_id % 25 = 0),
         |corpus AS (
         |  SELECT doc_id, text FROM base
         |  UNION ALL SELECT doc_id + 100000, text FROM base
         |  UNION ALL SELECT doc_id + 200000, text || ' xtra xtra' FROM base),
         |bpick AS (SELECT doc_id, text FROM documents WHERE doc_id % 100 = 0),
         |allc AS (
         |  SELECT doc_id, text FROM corpus
         |  UNION ALL SELECT doc_id + 400000, text || ' xtra' FROM bpick
         |  UNION ALL SELECT doc_id + 600000, text || ' xtra' FROM bpick
         |    WHERE doc_id % 200 = 0
         |  UNION ALL SELECT doc_id + 800000,
         |    array_to_string(list_reverse($toksSql), ' ') FROM bpick),
         |sh AS MATERIALIZED (
         |  SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(tk) - 1, 1)),
         |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS s
         |  FROM (SELECT doc_id, $toksSql AS tk FROM allc)),
         |edges AS (
         |  SELECT a.doc_id AS u, b.doc_id AS v FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE CAST(len(list_distinct(list_intersect(a.s, b.s))) AS DOUBLE) /
         |        CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) >= 0.8),
         |bidir AS (SELECT u, v FROM edges UNION SELECT v, u FROM edges),
         |reach(src, dst) AS (
         |  SELECT doc_id, doc_id FROM allc
         |  UNION
         |  SELECT r.src, b.v FROM reach r JOIN bidir b ON r.dst = b.u),
         |lab AS (SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src)
         |SELECT doc_id, cluster_id,
         |  CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
         |FROM lab ORDER BY doc_id""".stripMargin,
    "dedup_clusters" ->
      s"""WITH RECURSIVE base AS (SELECT doc_id, text FROM documents WHERE doc_id % 25 = 0),
         |corpus AS (
         |  SELECT doc_id, text FROM base
         |  UNION ALL SELECT doc_id + 100000, text FROM base
         |  UNION ALL SELECT doc_id + 200000, text || ' xtra xtra' FROM base),
         |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(tk) - 1, 1)),
         |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS s
         |  FROM (SELECT doc_id, $toksSql AS tk FROM corpus)),
         |edges AS (
         |  SELECT a.doc_id AS u, b.doc_id AS v FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE CAST(len(list_distinct(list_intersect(a.s, b.s))) AS DOUBLE) /
         |        CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) >= 0.8),
         |bidir AS (SELECT u, v FROM edges UNION SELECT v, u FROM edges),
         |reach(src, dst) AS (
         |  SELECT doc_id, doc_id FROM corpus
         |  UNION
         |  SELECT r.src, b.v FROM reach r JOIN bidir b ON r.dst = b.u),
         |lab AS (SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src)
         |SELECT doc_id, cluster_id,
         |  CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
         |FROM lab ORDER BY doc_id""".stripMargin,
    "dedup_bcubed" ->
      s"""WITH RECURSIVE base AS (SELECT doc_id, text FROM documents WHERE doc_id % 25 = 0),
         |corpus AS (
         |  SELECT doc_id, text FROM base
         |  UNION ALL SELECT doc_id + 100000, text FROM base
         |  UNION ALL SELECT doc_id + 200000, text || ' xtra xtra' FROM base),
         |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(tk) - 1, 1)),
         |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS s
         |  FROM (SELECT doc_id, $toksSql AS tk FROM corpus)),
         |edges AS (
         |  SELECT a.doc_id AS u, b.doc_id AS v FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE CAST(len(list_distinct(list_intersect(a.s, b.s))) AS DOUBLE) /
         |        CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) >= 0.8),
         |bidir AS (SELECT u, v FROM edges UNION SELECT v, u FROM edges),
         |reach(src, dst) AS (
         |  SELECT doc_id, doc_id FROM corpus
         |  UNION
         |  SELECT r.src, b.v FROM reach r JOIN bidir b ON r.dst = b.u),
         |lab AS (SELECT src AS doc_id, min(dst) AS p FROM reach GROUP BY src),
         |lt AS MATERIALIZED (SELECT lab.doc_id, lab.p,
         |    CASE WHEN b1.doc_id IS NOT NULL THEN lab.doc_id
         |         WHEN b2.doc_id IS NOT NULL THEN lab.doc_id - 100000
         |         ELSE lab.doc_id - 200000 END AS t
         |  FROM lab
         |  LEFT JOIN base b1 ON b1.doc_id = lab.doc_id
         |  LEFT JOIN base b2 ON b2.doc_id = lab.doc_id - 100000),
         |cells AS (SELECT p, t, CAST(count(*) AS BIGINT) AS n_pt FROM lt GROUP BY 1, 2),
         |psz AS MATERIALIZED (SELECT p, CAST(count(*) AS BIGINT) AS n_p FROM lt GROUP BY 1),
         |tsz AS MATERIALIZED (SELECT t, CAST(count(*) AS BIGINT) AS n_t FROM lt GROUP BY 1),
         |pr AS (SELECT
         |    CAST(sum(n_pt * ((n_pt * 1000000) // n_p)) AS BIGINT) AS psum6,
         |    CAST(sum(n_pt * ((n_pt * 1000000) // n_t)) AS BIGINT) AS rsum6,
         |    CAST(sum(n_pt) AS BIGINT) AS n_docs
         |  FROM cells JOIN psz USING (p) JOIN tsz USING (t)),
         |pp AS (SELECT n_docs,
         |    (SELECT CAST(count(*) AS BIGINT) FROM psz) AS n_pred_clusters,
         |    (SELECT CAST(count(*) AS BIGINT) FROM tsz) AS n_truth_clusters,
         |    CAST(psum6 // n_docs AS BIGINT) AS p6,
         |    CAST(rsum6 // n_docs AS BIGINT) AS r6
         |  FROM pr)
         |SELECT n_docs, n_pred_clusters, n_truth_clusters, p6, r6,
         |  CAST((2 * p6 * r6) // greatest(p6 + r6, 1) AS BIGINT) AS f1_6
         |FROM pp""".stripMargin,
    "dup_cluster_stats" ->
      s"""WITH RECURSIVE base AS (SELECT doc_id, text FROM documents WHERE doc_id % 25 = 0),
         |corpus AS (
         |  SELECT doc_id, text FROM base
         |  UNION ALL SELECT doc_id + 100000, text FROM base
         |  UNION ALL SELECT doc_id + 200000, text || ' xtra xtra' FROM base),
         |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(tk) - 1, 1)),
         |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS s
         |  FROM (SELECT doc_id, $toksSql AS tk FROM corpus)),
         |edges AS (
         |  SELECT a.doc_id AS u, b.doc_id AS v FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE CAST(len(list_distinct(list_intersect(a.s, b.s))) AS DOUBLE) /
         |        CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) >= 0.8),
         |bidir AS (SELECT u, v FROM edges UNION SELECT v, u FROM edges),
         |reach(src, dst) AS (
         |  SELECT doc_id, doc_id FROM corpus
         |  UNION
         |  SELECT r.src, b.v FROM reach r JOIN bidir b ON r.dst = b.u),
         |lab AS (SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src),
         |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
         |       FROM lab GROUP BY 1)
         |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
         |  CAST(cluster_size * count(*) AS BIGINT) AS n_docs
         |FROM sz GROUP BY cluster_size ORDER BY cluster_size""".stripMargin,
    // exhaustive brute force over the /25 corpus (~600 docs at sf0.1):
    // every pair's exact shingle jaccard, bucketed per threshold — the
    // candidate-complete postings path must land on identical counts
    "dedup_sweep" ->
      s"""$corpusSql,
         |sh AS MATERIALIZED ($shinglesSql),
         |pairs AS MATERIALIZED (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    CAST(len(list_distinct(list_intersect(a.s, b.s))) AS DOUBLE) /
         |      CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) AS j
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE len(a.s) > 0 AND len(b.s) > 0),
         |t AS (SELECT CAST(unnest([0.5, 0.6, 0.7, 0.8, 0.9]) AS DOUBLE) AS threshold),
         |sel AS (SELECT threshold, id_a, id_b FROM pairs CROSS JOIN t
         |  WHERE j >= threshold),
         |np AS (SELECT threshold, CAST(count(*) AS BIGINT) AS n_pairs
         |  FROM sel GROUP BY threshold),
         |nd AS (SELECT threshold, CAST(count(DISTINCT doc) AS BIGINT) AS n_docs FROM (
         |  SELECT threshold, id_a AS doc FROM sel
         |  UNION ALL SELECT threshold, id_b FROM sel) GROUP BY threshold)
         |SELECT threshold, n_pairs, n_docs FROM np JOIN nd USING (threshold)
         |ORDER BY threshold""".stripMargin,
    "embed_neardup" ->
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |    FROM embeddings WHERE vec_id % 25 = 0),
        |  allv AS (SELECT vec_id, v FROM base
        |    UNION ALL SELECT vec_id + 100000, v FROM base)
        |SELECT id_a, id_b, round(c, 6) AS cos FROM (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, list_cosine_similarity(a.v, b.v) AS c
        |  FROM allv a JOIN allv b ON a.vec_id < b.vec_id)
        |WHERE c >= 0.9 ORDER BY id_a, id_b""".stripMargin,
    // Exhaustive ground truth: ALL pairs' exact token-set Jaccard, collapsed
    // to the same per-doc (count, best-partner) shape — the prefix-filtered
    // Spark path must reproduce the brute-force answer with zero misses.
    // τ filters the UNROUNDED ratio in both engines (identical IEEE doubles
    // from identical integer sizes); only the emitted column rounds.
    "ssjoin_prefix" ->
      s"""$corpusSql,
         |toks AS (SELECT doc_id, tk FROM (
         |  SELECT doc_id, list_distinct($toksSql) AS tk FROM corpus)
         |  WHERE len(tk) > 0),
         |pairs AS (SELECT id_a, id_b, jc FROM (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE) /
         |      len(list_distinct(list_concat(a.tk, b.tk))) AS jc
         |  FROM toks a JOIN toks b ON a.doc_id < b.doc_id)
         |  WHERE jc >= 0.6),
         |sym AS (SELECT id_a AS doc_id, id_b AS partner, jc FROM pairs
         |  UNION ALL SELECT id_b, id_a, jc FROM pairs)
         |SELECT doc_id, n_matches, partner AS best_partner,
         |  floor(jc * 1e6 + 0.5) / 1e6 AS best_jaccard
         |FROM (
         |  SELECT doc_id, partner, jc,
         |    CAST(count(*) OVER (PARTITION BY doc_id) AS BIGINT) AS n_matches,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY jc DESC, partner) AS rn
         |  FROM sym)
         |WHERE rn = 1 ORDER BY doc_id""".stripMargin)
}
