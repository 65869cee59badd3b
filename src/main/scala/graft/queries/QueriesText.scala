package graft.queries

import graft.functions.TextFns
import graft.operators.TopK
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Text-analysis queries over the `documents` table (SURVEY.md §2.8 LLM
  * extensions): tokenization, token counting, language ID, quality scoring,
  * fingerprinting. All per-row narrow transforms — the only shuffle is the
  * final aggregation/sort where the query itself demands one.
  */
object QueriesText {

  /** The gopher_rules planted corpus (natural + short/symbol/glued violator
    * families at offset ids) — ONE construction shared by the batch card
    * and the streaming gate card (stream_gopher_gate), so the planted
    * liveness families cannot drift between the two surfaces. */
  private[graft] def gopherCorpus(s: org.apache.spark.sql.SparkSession,
                                  dir: String): org.apache.spark.sql.DataFrame = {
    val base = t(s, dir, "documents").where(col("text").isNotNull)
      .select(col("doc_id"), col("text"))
    val off = base.agg((max(col("doc_id")) + 1L).as("off"))
    def planted(m: Long, k: Int, fam: String, f: Column => Column) =
      base.where(col("doc_id") % 40 === m).crossJoin(broadcast(off))
        .select((col("doc_id") + col("off") * k).as("doc_id"),
          f(col("text")).as("text"), lit(fam).as("family"))
    val hashes = " " + Seq.fill(16)("#").mkString(" ")
    base.withColumn("family", lit("natural"))
      .unionByName(planted(0L, 1, "short",
        tx => array_join(slice(TextFns.tokens(tx), 1, 5), " ")))
      .unionByName(planted(20L, 2, "symbol", tx => concat(tx, lit(hashes))))
      .unionByName(planted(30L, 3, "glued",
        tx => regexp_replace(tx, "\\s+", "")))
  }

  /** tokenizer_train_unigram model constants: vocabulary cap, µ-unit UNK
    * cost for sample-unseen single characters (dead on the shipped corpora
    * — the 256-doc sample covers the full 26-letter char set — but
    * deterministic in both engines), and its DP encoding (cost6·1024+1). */
  private[graft] val UnigramVocabCap = 512
  private[graft] val UnigramUnkCost6 = 20000000L
  private[graft] val UnigramUnkEnc = UnigramUnkCost6 * 1024L + 1L

  /** The deterministic unigram-LM fit: a pure function of the first-256
    * docs in doc_id order (fixed 3 EM rounds, integer-cost Viterbi in the
    * E-step with ties to the shortest piece, +1-smoothed usage in the
    * M-step, unused multi-char pieces dropped). Returns piece → cost6 =
    * floor(−ln(p)·1e6 + 0.5); ln runs ONLY here on the driver — the model
    * reaches both engines as integer literals, so no cross-engine libm
    * surface exists. Memoized per dir (the bpeCache convention) so the
    * query and its oracle generator train once and cannot drift. */
  private val unigramCache =
    new java.util.concurrent.ConcurrentHashMap[String, Map[String, Long]]()
  private[graft] def unigramModel(s: org.apache.spark.sql.SparkSession,
                                  dir: String): Map[String, Long] =
    unigramCache.computeIfAbsent(dir, _ => {
      val sample = t(s, dir, "documents").where(col("text").isNotNull)
        .orderBy(col("doc_id")).limit(256)
        .select(explode(TextFns.tokens(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
        .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
      require(sample.nonEmpty, "unigram trainer: empty sample")
      val subCnt = scala.collection.mutable.HashMap.empty[String, Long]
      for ((w, c) <- sample; i <- 0 until w.length;
           j <- 1 to math.min(4, w.length - i)) {
        val p = w.substring(i, i + j)
        subCnt(p) = subCnt.getOrElse(p, 0L) + c
      }
      val singles = subCnt.keys.filter(_.length == 1).toSeq.sorted
      val multis = subCnt.filter(_._1.length > 1).toSeq
        .sortBy { case (p, c) => (-c, p) }
        .take(math.max(0, UnigramVocabCap - singles.length)).map(_._1)
      def costs(cnt: Map[String, Long]): Map[String, Long] = {
        val t = cnt.values.sum.toDouble
        cnt.map { case (p, c) =>
          p -> math.floor(-math.log(c.toDouble / t) * 1e6 + 0.5).toLong }
      }
      var model = costs((singles ++ multis).map(p => p -> subCnt(p)).toMap)
      for (_ <- 1 to 3) {
        val use = scala.collection.mutable.HashMap.empty[String, Long]
        for ((w, c) <- sample; p <- unigramSegment(w, model))
          use(p) = use.getOrElse(p, 0L) + c
        val kept = model.keys
          .filter(p => p.length == 1 || use.getOrElse(p, 0L) > 0L).toSeq
        model = costs(kept.map(p => p -> (use.getOrElse(p, 0L) + 1L)).toMap)
      }
      model
    })

  /** Viterbi segmentation under integer encoded costs — the driver twin of
    * the 16-step sliding-column SQL DP (identical encoding and chunking,
    * so the trainer's E-step sees exactly what the corpus application
    * computes; ties break to the SHORTEST piece, which only affects the
    * trainer's usage counts — the DP VALUE is tie-invariant). */
  private[graft] def unigramSegment(word: String, model: Map[String, Long]): Seq[String] = {
    word.grouped(16).toSeq.flatMap { c =>
      val n = c.length
      val d = new Array[Long](n + 1)
      val from = new Array[Int](n + 1)
      var i = 1
      while (i <= n) {
        var best = Long.MaxValue; var bj = 1
        var j = 1
        while (j <= math.min(4, i)) {
          val p = c.substring(i - j, i)
          val e = model.get(p).map(_ * 1024L + 1L)
            .getOrElse(if (j == 1) UnigramUnkEnc else Long.MaxValue)
          if (e != Long.MaxValue && d(i - j) + e < best) { best = d(i - j) + e; bj = j }
          j += 1
        }
        d(i) = best; from(i) = bj
        i += 1
      }
      val pieces = scala.collection.mutable.ArrayBuffer.empty[String]
      var pos = n
      while (pos > 0) { pieces.prepend(c.substring(pos - from(pos), pos)); pos -= from(pos) }
      pieces.toSeq
    }
  }

  /** tokenizer_train_unigram's twin: inline the refit model as ONE map
    * literal CTE and replay the identical 16-step sliding-column integer
    * DP (m[piece][1] is the DuckDB map lookup — a missing key yields an
    * empty list, [1] of which is NULL, and least() skips NULLs in both
    * engines). */
  private def unigramOracle(s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val model = unigramModel(s, dir).toSeq.sortBy(_._1)
    val keys = model.map { case (p, _) => s"'${p.replace("'", "''")}'" }.mkString(", ")
    val vals = model.map { case (_, c6) => (c6 * 1024L + 1L).toString }.mkString(", ")
    val steps = (1 to 16).map { i =>
      def look(j: Int) = s"m[substring(c, ${i - j + 1}, $j)][1]"
      val cands = Seq(s"d + coalesce(${look(1)}, $UnigramUnkEnc)") ++
        Seq(2, 3, 4).filter(_ <= i).map {
          case 2 => s"p1 + ${look(2)}"
          case 3 => s"p2 + ${look(3)}"
          case 4 => s"p3 + ${look(4)}"
        }
      val newD = if (cands.size == 1) cands.head else s"least(${cands.mkString(", ")})"
      s"""t$i AS (SELECT lang, w, cnt, c, m,
         |    $newD AS d, d AS p1, p1 AS p2, p2 AS p3,
         |    CASE WHEN len(c) = ${i - 1} THEN d ELSE r END AS r FROM t${i - 1})"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH wt AS (SELECT lang, unnest(${Tables.toksSql()}) AS w FROM documents
       |  WHERE text IS NOT NULL AND lang IS NOT NULL),
       |wc AS (SELECT lang, w, CAST(count(*) AS BIGINT) AS cnt FROM wt GROUP BY 1, 2),
       |vm AS (SELECT map([$keys], [$vals]) AS m),
       |t0 AS (SELECT lang, w, cnt, unnest(regexp_extract_all(w, '.{1,16}')) AS c, m,
       |    CAST(0 AS BIGINT) AS d, CAST(NULL AS BIGINT) AS p1,
       |    CAST(NULL AS BIGINT) AS p2, CAST(NULL AS BIGINT) AS p3,
       |    CAST(NULL AS BIGINT) AS r
       |  FROM wc CROSS JOIN vm),
       |$steps,
       |we AS (SELECT lang, w, cnt,
       |    CAST(sum(CASE WHEN len(c) = 16 THEN d ELSE r END) AS BIGINT) AS we
       |  FROM t16 GROUP BY 1, 2, 3)
       |SELECT lang, CAST(count(*) AS BIGINT) AS n_distinct_words,
       |  CAST(sum(cnt) AS BIGINT) AS n_words,
       |  CAST(sum(cnt * len(w)) AS BIGINT) AS n_chars,
       |  CAST(sum(cnt * (we % 1024)) AS BIGINT) AS n_pieces,
       |  CAST(sum(cnt * (we // 1024)) AS BIGINT) AS cost6_sum,
       |  CAST((sum(cnt * (we % 1024)) * 1000000) // sum(cnt) AS BIGINT) AS fertility_ppm,
       |  CAST((sum(cnt * len(w)) * 1000000) // sum(cnt * (we % 1024)) AS BIGINT) AS cpp_ppm
       |FROM we GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** Shared bigram-LM scoring pipeline (lm_score + ccnet_bucket): add-one
    * smoothed bigram log-probs trained on doc_id >= 50, scored on the
    * held-out doc_id < 50 split. One definition so the two views cannot
    * drift. */
  private def lmScores(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val docs = t(s, dir, "documents")
    val train = docs.where(col("doc_id") >= 50)
    val c2 = train.select(TextFns.shingleExplode(TextFns.tokens(col("text")), 2).as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("c2"))
    val c1 = train.select(explode(TextFns.tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c1"))
    val v = c1.agg(count(lit(1)).as("v"))
    val evalBg = docs.where(col("doc_id") < 50)
      .select(col("doc_id"), TextFns.shingleExplode(TextFns.tokens(col("text")), 2).as("bg"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
    evalBg.join(c2, Seq("bg"), "left")
      .join(c1, col("w1") === c1("w"), "left")
      .crossJoin(v)
      .select(col("doc_id"),
        log((coalesce(col("c2"), lit(0L)) + lit(1.0)) /
          (coalesce(col("c1"), lit(0L)) + col("v"))).as("lp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), round(avg(col("lp")), 4).as("avg_logp"))
  }

  /** badwords_filter's lexicon — in production this is the C4/RefinedWeb
    * blocklist (config-sized, broadcast); on the synthetic corpus it holds
    * one common and one rare term so both branches of the gate carry
    * signal. Shared verbatim with the SQL oracle. */
  private val BadLexicon = Seq("slow", "dup")

  /** search_ndcg's fixed evaluation queries (qid, term1, term2): ranking
    * scores by term1's tf only while relevance counts BOTH terms, so the
    * metric separates ranking quality from relevance (NDCG < 1 is
    * reachable). Shared verbatim with the SQL oracle. */
  private val NdcgQueries = Seq((1L, "slow", "dup"), (2L, "merge", "join"),
    (3L, "scan", "vector"))

  /** The bm25 cards' fixed queries (qid, bigram term): EXACTLY two terms
    * per query, so a raw-double score sum is order-free. The SQL oracles
    * spell the same six rows. */
  private val Bm25Queries = Seq((0L, "hash join"), (0L, "table scan"),
    (1L, "merge sort"), (1L, "batch stream"), (2L, "slow query"), (2L, "fast scan"))
  private val Bm25Terms = Bm25Queries.map(_._2)

  /** The full-corpus bigram BM25 index shared by bm25_search and bm25_prf:
    * postings (term-sorted), doclens, dfs and corpus stats, built once per
    * documents fingerprint under DiskCache. Returns the index root. */
  private def bm25Index(s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val base = graft.operators.DiskCache.keyedPath(
      "bm25_idx_v1", s"$dir/documents.parquet")
    graft.operators.DiskCache.ensure(base, Seq("postings/_SUCCESS",
      "doclens/_SUCCESS", "dfs/_SUCCESS", "stats/_SUCCESS")) { tmp =>
      val terms = bigramTerms(t(s, dir, "documents"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      terms.repartitionByRange(col("term")).sortWithinPartitions(col("term"))
        .write.parquet(s"$tmp/postings")
      val dlen = terms.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      dlen.write.parquet(s"$tmp/doclens")
      dlen.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_len"))
        .write.parquet(s"$tmp/stats")
      terms.groupBy(col("term")).agg(count(lit(1)).as("df"))
        .repartitionByRange(col("term")).sortWithinPartitions(col("term"))
        .write.parquet(s"$tmp/dfs")
      dlen.unpersist()
      terms.unpersist(): Unit
    }
    base
  }

  /** One row per doc, its text tokenized ONCE: (doc_id, dl, qt) with
    * dl = size(tokens) − 1, the doc's bigram count (the BM25 document
    * length over width-2 shingles), and qt = its bigrams among the bm25
    * query terms, in text order with repeats (one element per occurrence).
    * qt equals filtering every bigram of the doc, but only positions whose
    * token starts a query term build a bigram string: lambdas run
    * interpreted per element, and the cheap first-word test halves the
    * batch pass at ScaleGen x10. */
  private[graft] def bigramRows(docs: DataFrame): DataFrame = {
    val tk = col("tk")
    val firsts = Bm25Terms.map(_.takeWhile(_ != ' ')).distinct
    val qt = when(size(tk) > 1,
      filter(
        transform(filter(sequence(lit(1), size(tk) - 1), i => element_at(tk, i).isin(firsts: _*)),
          i => concat_ws(" ", element_at(tk, i), element_at(tk, i + 1))),
        _.isin(Bm25Terms: _*)))
      .otherwise(array().cast(ArrayType(StringType)))
    docs.select(col("doc_id"), TextFns.tokens(col("text")).as("tk"))
      .select(col("doc_id"), (size(tk) - 1).cast(LongType).as("dl"), qt.as("qt"))
  }

  /** Per-doc bigram count from [[bigramRows]] without building the term
    * table: rows with fewer than 2 tokens dropped (no bigram, so no doc),
    * summed per doc_id. Equals sum(tf) over the doc's (doc_id, term, tf)
    * rows. */
  private[graft] def bigramDocLens(rows: DataFrame) = rows
    .where(col("dl") > 0)
    .groupBy(col("doc_id")).agg(sum(col("dl")).as("dl"))

  /** Bigram term frequencies (doc_id, term, tf): the postings rows of both
    * BM25 indexes (bm25_idx_v1 and bm25_base_v2). */
  private def bigramTerms(docs: DataFrame) = docs
    .select(col("doc_id"), TextFns.shingleExplode(TextFns.tokens(col("text")), 2).as("term"))
    .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))

  /** One (term, doc) BM25 weight (k1 = 1.2, b = 0.75, Lucene's idf) over
    * tf, df, dl, n_docs and total_len. bm25_search and bm25_incremental
    * rank on this raw double, so its expression tree is part of the
    * output; bm25_prf quantizes it to µ-units. */
  private def bm25Weight: Column =
    log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)) *
      (col("tf") * 2.2) / (col("tf") +
        lit(1.2) * (lit(1.0) - 0.75 + lit(0.75) * col("dl")
          / (col("total_len").cast(DoubleType) / col("n_docs"))))

  /** Top-10 docs per query by summed BM25 weight over query-term postings:
    * (qid, doc_id, score rounded to 1e-6, rank BIGINT) ordered by qid, rank.
    * `qdf` is the query table joined with its terms' df, `stats` the
    * one-row (n_docs, total_len). */
  private def bm25Top10(postings: DataFrame, qdf: DataFrame, dlen: DataFrame,
      stats: DataFrame): DataFrame =
    postings.join(qdf, "term")
      .join(dlen, "doc_id")
      .crossJoin(stats)
      .withColumn("part", bm25Weight)
      .groupBy(col("qid"), col("doc_id")).agg(sum(col("part")).as("score"))
      .transform(TopK.perKey(_, col("qid"))(10, col("score").desc, col("doc_id")))
      .select(col("qid"), col("doc_id"),
        (floor(col("score") * 1e6 + 0.5) / 1e6).as("score"),
        col("rank").cast(LongType).as("rank"))
      .orderBy(col("qid"), col("rank"))

  val queries: Map[String, Q] = Map(
    // Blocklist filtering card (the C4 "bad words" pipeline stage): per
    // source, how many docs a lexicon gate would drop and the bad-token
    // density. ONE corpus tokenize pass: the lexicon test is a codegen'd
    // IN-list on the exploded token stream, per-doc counts collapse
    // map-side, and the per-source card is an 8-row aggregate. Docs are
    // counted from the token stream (every corpus doc has ≥1 token —
    // empty docs would be invisible to a token-level gate anyway).
    "badwords_filter" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          explode(TextFns.tokens(col("text"))).as("w"))
        .groupBy(col("doc_id"), col("source"))
        .agg(count(lit(1)).as("nt"),
          sum(when(col("w").isInCollection(BadLexicon), 1L)
            .otherwise(0L)).as("n_bad"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n_bad") > 0, 1L).otherwise(0L)).as("n_flagged"),
          sum(col("n_bad")).as("bad_tokens"),
          round(sum(when(col("n_bad") > 0, 1L).otherwise(0L))
            .cast(DoubleType) / count(lit(1)), 6).as("flag_rate"),
          round(sum(col("n_bad")).cast(DoubleType) * lit(1e4)
            / sum(col("nt")).cast(DoubleType), 4).as("bad_per_10k"))
        .orderBy(col("source"))
    }),

    // Search-ranking evaluation (NDCG@10) for a deterministic ranker:
    // score = term1's exact tf (ties doc_id), graded relevance = how many
    // of the query's two terms the doc contains. Both DCG and ideal-DCG
    // fold as exact micro-unit BIGINTs over the top-10 window rows, so
    // the metric is order-independent and cross-engine exact. Scale
    // shape: queries broadcast into ONE tokenize pass; per-(query, doc)
    // tfs collapse map-side; ranking windows partition by query id over
    // the candidate set only (docs containing ≥1 query term).
    "search_ndcg" -> ((s, dir) => {
      import s.implicits._
      val qs = NdcgQueries.toDF("qid", "t1", "t2")
      val hits = t(s, dir, "documents")
        .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("w"))
        .join(broadcast(qs), col("w") === col("t1") || col("w") === col("t2"))
        .groupBy(col("qid"), col("doc_id"))
        .agg(sum(when(col("w") === col("t1"), 1L).otherwise(0L)).as("tf1"),
          sum(when(col("w") === col("t2"), 1L).otherwise(0L)).as("tf2"))
        .select(col("qid"), col("doc_id"), col("tf1"),
          (when(col("tf1") > 0, 1L).otherwise(0L)
            + when(col("tf2") > 0, 1L).otherwise(0L)).as("rel"))
      val wRank = Window.partitionBy(col("qid"))
        .orderBy(col("tf1").desc, col("doc_id"))
      val wIdeal = Window.partitionBy(col("qid"))
        .orderBy(col("rel").desc, col("doc_id"))
      val gain = when(col("rel") === 2, lit(3.0))
        .when(col("rel") === 1, lit(1.0)).otherwise(lit(0.0))
      hits
        .withColumn("rn", row_number().over(wRank))
        .withColumn("irn", row_number().over(wIdeal))
        .groupBy(col("qid"))
        .agg(count(lit(1)).as("n_cand"),
          sum(when(col("rel") === 2, 1L).otherwise(0L)).as("n_rel2"),
          sum(when(col("rn") <= 10,
            floor(gain / log2(col("rn") + 1) * 1e6 + 0.5).cast(LongType))
            .otherwise(0L)).as("dcg_m"),
          sum(when(col("irn") <= 10,
            floor(gain / log2(col("irn") + 1) * 1e6 + 0.5).cast(LongType))
            .otherwise(0L)).as("idcg_m"))
        .select(col("qid"), col("n_cand"), col("n_rel2"),
          round(when(col("idcg_m") > 0,
            col("dcg_m").cast(DoubleType) / col("idcg_m"))
            .otherwise(lit(0.0)), 6).as("ndcg10"))
        .orderBy(col("qid"))
    }),

    // Feature-relevance card for quality-filter design: mutual information
    // I(feature; quality-label) for each candidate routing feature (lang,
    // source, length bucket) against the rule-based quality gate — the
    // measurement that says WHICH metadata column actually predicts
    // quality before anyone trains a per-feature filter or stratifies a
    // mixture on it. ONE corpus pass (fused TextStats scan) collapses to
    // the ≤ langs×sources×6×2 contingency cube (CacheRegistry-tracked —
    // the three marginalizations must not re-scan the corpus); every MI
    // term (n_xy/N)·ln(n_xy·N/(n_x·n_y)) micro-rounds ONCE to a nano-unit
    // BIGINT so the fold is an order-independent integer sum (the
    // doremi_weights convention).
    // r15 REVERT (r14 verdict #5): the r14 docStats rewiring of this card
    // measured SLOWER in the canonical sweep (0.92×) and the settle A/B
    // confirmed it (min-of-3 isolated: r13 direct scan 3.24 s vs r14 form
    // 3.60 s even with r13 handicapped by higher ambient load) — the direct
    // fused-TextStats scan collapses straight into the cube's map-side
    // partial agg, while the cache route pays the docStats read + a second
    // aggregate. Restored to the direct scan per the measured-revert rule.
    "mi_features" -> ((s, dir) => {
      import graft.operators.CacheRegistry
      val m = TextFns.textStats(col("text"))
      val cube = CacheRegistry.track(t(s, dir, "documents")
        .select(col("lang"), col("source"),
          least(floor(col("n_chars") / lit(100.0)).cast(LongType), lit(5L))
            .as("len_bucket"),
          (TextFns.qualityScoreFrom(m) >= 0.8).as("label"))
        .groupBy(col("lang"), col("source"), col("len_bucket"), col("label"))
        .agg(count(lit(1)).as("n")))
      def miFor(f: String) = {
        val xy = cube.groupBy(col(f).as("xv"), col("label"))
          .agg(sum(col("n")).as("nxy"))
        val nx = xy.groupBy(col("xv")).agg(sum(col("nxy")).as("nx"))
        val ny = xy.groupBy(col("label")).agg(sum(col("nxy")).as("ny"))
        val ntot = xy.agg(sum(col("nxy")).as("ntot"))
        val term = floor(
          (col("nxy").cast(DoubleType) / col("ntot").cast(DoubleType)) *
            log((col("nxy").cast(DoubleType) * col("ntot").cast(DoubleType)) /
              (col("nx").cast(DoubleType) * col("ny").cast(DoubleType)))
            * 1e9 + 0.5).cast(LongType)
        xy.join(nx, "xv").join(ny, "label").crossJoin(ntot)
          .agg(count(lit(1)).as("levels"), sum(term).as("mi_nano"))
          .select(lit(f).as("feature"), col("levels"),
            round(col("mi_nano").cast(DoubleType) / 1e9, 6).as("mi"))
      }
      miFor("lang").unionByName(miFor("source")).unionByName(miFor("len_bucket"))
        .orderBy(col("feature"))
    }),

    // Hybrid-retrieval fusion (the RAG-stack standard): the SPARSE ranker
    // (query-term tf, the search_ndcg ranker over one tokenize pass) and
    // the DENSE ranker (cosine to the query's anchor embedding — doc_id
    // and vec_id share the id space, so vec qid IS the query embedding)
    // each produce a top-20 list; Reciprocal Rank Fusion combines them as
    // Σ 1/(60 + rank) (Cormack et al., k=60), missing-from-a-list = 0.
    // The fusion join touches only 2×20 rows per query; the RRF score is
    // a fixed two-term left-assoc double add (identical IEEE both
    // engines), ties broken by doc_id. Scale shape: queries broadcast
    // into one tokenize pass + one embeddings fan-out; at 100 TB the
    // sparse arm rides the persisted bm25 postings index and the dense
    // arm the IVF cells — both candidate generators here are their exact
    // brute-force baselines.
    "rrf_fusion" -> ((s, dir) => {
      import s.implicits._
      import graft.functions.SimFns
      val qs = NdcgQueries.toDF("qid", "t1", "t2")
      val sparse = t(s, dir, "documents")
        .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("w"))
        .join(broadcast(qs), col("w") === col("t1") || col("w") === col("t2"))
        .groupBy(col("qid"), col("doc_id")).agg(count(lit(1)).as("tf"))
        .transform(TopK.perKey(_, col("qid"))(20, col("tf").desc, col("doc_id")))
        .select(col("qid"), col("doc_id"), col("rank").as("rs"))
      val e = t(s, dir, "embeddings").where(col("embedding").isNotNull)
      val qe = e.where(col("vec_id").isInCollection(NdcgQueries.map(_._1)))
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val dense = e.crossJoin(broadcast(qe))
        .select(col("qid"), col("vec_id").as("doc_id"),
          SimFns.cosine(col("qv"), col("embedding")).as("cos"))
        .transform(TopK.perKey(_, col("qid"))(20, col("cos").desc, col("doc_id")))
        .select(col("qid"), col("doc_id"), col("rank").as("rd"))
      sparse.join(dense, Seq("qid", "doc_id"), "full_outer")
        .select(col("qid"), col("doc_id"), col("rs"), col("rd"),
          (coalesce(lit(1.0) / (lit(60) + col("rs")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("rd")), lit(0.0))).as("rrf"))
        .transform(TopK.perKey(_, col("qid"))(10, col("rrf").desc, col("doc_id")))
        .select(col("qid"), col("doc_id"),
          col("rs").cast(LongType).as("sparse_rank"),
          col("rd").cast(LongType).as("dense_rank"),
          round(col("rrf"), 6).as("rrf"),
          col("rank").cast(LongType).as("fused_rank"))
        .orderBy(col("qid"), col("fused_rank"))
    }),

    // Per-source token (Shannon) entropy — the diversity signal that
    // separates natural text from boilerplate/template sources. Uses the
    // identity H = ln(N) − Σc·ln(c)/N so ONE aggregate over the per-source
    // term counts suffices (no per-term probability column, no second
    // pass); the term-count table itself is the only shuffle.
    // NOTE (r15, measured negative result — r14 verdict #8): a shared
    // session-tracked (source, token, count) table feeding this card,
    // token_zipf, text_tokens, vocab_coverage and hll_card was implemented
    // and A/B-measured at sf0.1 (min-of-3 isolated, both directions): the
    // four consumers gained 0.1–0.3 s each, but the BUILDER card paid ~+0.9 s
    // (cache build + store + re-read vs the direct stream aggregate whose
    // map-side partial agg already collapses to the same vocab-sized
    // exchange) — family net NEGATIVE (7.04 → 7.33 s). Reverted per the
    // keep-only-if-min-of-sweeps-improves rule; per-card tokenize stays the
    // documented scale trade.
    "token_entropy" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("source"), explode(TextFns.tokens(col("text"))).as("w"))
        .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
        .groupBy(col("source"))
        .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("vocab"),
          round(log(sum(col("c"))) -
            sum(col("c") * log(col("c"))) / sum(col("c")), 4).as("entropy"))
        .orderBy(col("source"))
    }),
    // Tokenize + explode + count: top-20 corpus tokens.
    "text_tokens" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(explode(TextFns.tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token")).limit(20)
    }),

    // Per-document token counts: whitespace + BPE-ish regex.
    "token_count" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextFns.tokenCount(col("text")).as("ws_tokens"),
          TextFns.bpeTokenCount(col("text")).as("bpe_tokens"))
        .orderBy(col("doc_id"))
    }),

    // Marker-word language ID vs the labeled lang column.
    "lang_id" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), TextFns.langId(col("text")).as("detected"))
        .orderBy(col("doc_id"))
    }),

    // Quality scoring: length/punct/stopword/word-length components — all
    // from ONE TextStats scan (the repeated struct refs collapse via
    // projection subexpression elimination).
    "quality_score" -> ((s, dir) => {
      val m = col("m") // shared session TextStats frame (Tables.docStats, r14)
      Tables.docStats(s, dir)
        .select(col("doc_id"),
          m.getField("n_chars").as("n_chars"),
          m.getField("n_tokens").as("n_tokens"),
          TextFns.qualityScoreFrom(m).as("score"))
        .orderBy(col("doc_id"))
    }),

    // End-to-end cleaning pipeline — the composition story: inject dups →
    // quality-score filter → language filter → exact dedup → corpus stats.
    // One narrow pass plus the dedup groupBy; this is the whole
    // training-data-cleaning shape at any scale.
    "pipeline_e2e" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = docs.unionByName(
        docs.where(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
      val cleaned = corpus
        .where(TextFns.qualityLangGate(col("text"), lit(0.7), lit("en")))
        .groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
      cleaned
        .select(col("doc_id"), TextFns.tokenCount(col("text")).as("toks"))
        .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("total_tokens"),
          min(col("doc_id")).as("first_doc"))
    }),

    // Within-document repetition score (Gopher-style quality signal):
    // fraction of duplicate token trigrams. High values flag
    // boilerplate/generated text. One narrow pass — total vs distinct
    // counts of the SAME let-bound shingle array.
    "repetition_score" -> ((s, dir) => {
      val rep = element_at(
        transform(array(TextFns.shingles(TextFns.tokens(col("text")), 3)), sh =>
          struct(size(sh).cast(LongType).as("total"),
            size(array_distinct(sh)).cast(LongType).as("uniq"))),
        1)
      t(s, dir, "documents")
        .select(col("doc_id"), rep.as("r"))
        .select(col("doc_id"), col("r.total").as("n_trigrams"),
          col("r.uniq").as("n_distinct"),
          when(col("r.total") > 0,
            round(lit(1.0) - col("r.uniq").cast("double") / col("r.total"), 6))
            .otherwise(lit(0.0)).as("rep_score"))
        .orderBy(col("doc_id"))
    }),

    // Line-level boilerplate dedup (CCNet/RefinedWeb-style): lines occurring
    // in ≥10 distinct documents (injected nav header / copyright footer)
    // are dropped from every document; real content lines survive. The
    // shuffle key is the line hash — work scales with corpus size, and the
    // doc-frequency side is vocabulary-sized. Order is preserved through a
    // posexplode index and an array_sort reassembly.
    "line_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents").where(col("doc_id") < 300)
        .select(col("doc_id"),
          concat(lit("HOME | ABOUT | CONTACT\n"), col("text"),
            when(col("doc_id") % 2 === 0, lit("\n(c) 2024 Example Corp"))
              .otherwise(lit(""))).as("text"))
      val lines = docs
        .select(col("doc_id"), posexplode(split(col("text"), "\n")))
        .toDF("doc_id", "pos", "line")
      val boiler = lines.groupBy(col("line"))
        .agg(countDistinct(col("doc_id")).as("line_df"))
        .where(col("line_df") >= 10)
        .select(col("line"), lit(true).as("bp"))
      // ONE pass over the exploded lines: broadcast-flag boilerplate, then a
      // single per-doc aggregate computes total, kept, and the md5 of the
      // order-preserved surviving lines (no second explode, no extra join)
      lines.join(broadcast(boiler), Seq("line"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("total_lines"),
          count(when(col("bp").isNull, 1)).as("kept_lines"),
          md5(concat_ws("\n",
            transform(
              filter(array_sort(collect_list(
                struct(col("pos"), col("line"), col("bp").isNull.as("keep")))),
                x => x.getField("keep")),
              x => x.getField("line")))).as("clean_md5"))
        .where(col("kept_lines") > 0) // match the oracle's inner join: a
        // fully-boilerplate doc has no defined clean text
        .select(col("doc_id"), col("total_lines"), col("kept_lines"), col("clean_md5"))
        .orderBy(col("doc_id"))
    }),

    // TF-IDF: top-scoring term per document (first 100 docs). tf and df are
    // two aggregations over the exploded token table; idf joins back via a
    // broadcast of the (small) term-df side. At 100 TB the df table is the
    // only global state and it is tiny (vocabulary-sized).
    // Bigram language-model quality score (the CCNet-style perplexity
    // filter): train add-one-smoothed bigram probabilities on the big split,
    // score each held-out doc by mean log-probability. The LM "model" is
    // two count tables; scoring is two equi-joins on the bigram/unigram
    // keys — the shape that holds when the LM table itself is huge (no
    // broadcast assumed, no per-doc model state). Bigrams stream from the
    // native ShingleGenerator (no intermediate arrays).
    "lm_score" -> ((s, dir) => lmScores(s, dir).orderBy(col("doc_id"))),

    // Stupid-backoff bigram scorer (Brants et al. 2007 — the LM quality
    // signal that SCALES: no discount estimation, just counts): seen
    // bigrams score c2/c1(w1), unseen ones back off to 0.4·(c1(w2)+1)/
    // (N+V) (the +1/(N+V) floor keeps unseen unigrams finite, add-one on
    // the unigram only). Complements lm_score's add-one bigram model —
    // and reports the BACKOFF RATE per doc, the fraction of bigrams the
    // bigram table couldn't cover (a train/eval domain-mismatch signal
    // add-one smoothing hides). Same train/eval split and count-table
    // equi-joins as lm_score; per-term logs micro-round to BIGINT so the
    // per-doc fold is order-independent.
    "lm_backoff" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val train = docs.where(col("doc_id") >= 50)
      val c2 = train.select(TextFns.shingleExplode(TextFns.tokens(col("text")), 2).as("bg"))
        .groupBy(col("bg")).agg(count(lit(1)).as("c2"))
      val c1 = train.select(explode(TextFns.tokens(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c1"))
      val nv = c1.agg(sum(col("c1")).as("n"), count(lit(1)).as("v"))
      val evalBg = docs.where(col("doc_id") < 50)
        .select(col("doc_id"), TextFns.shingleExplode(TextFns.tokens(col("text")), 2).as("bg"))
        .withColumn("w1", substring_index(col("bg"), " ", 1))
        .withColumn("w2", substring_index(col("bg"), " ", -1))
      evalBg.join(c2, Seq("bg"), "left")
        .join(c1.select(col("w").as("w1"), col("c1").as("c1w1")), Seq("w1"), "left")
        .join(c1.select(col("w").as("w2"), col("c1").as("c1w2")), Seq("w2"), "left")
        .crossJoin(nv)
        .select(col("doc_id"), col("c2").isNull.as("backed"),
          when(col("c2").isNotNull,
            log(col("c2").cast(DoubleType) / col("c1w1")))
            .otherwise(log(lit(0.4) *
              (coalesce(col("c1w2"), lit(0L)) + lit(1L)).cast(DoubleType)
              / (col("n") + col("v")))).as("ls"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          round(sum(floor(col("ls") * 1e6 + 0.5).cast(LongType)).cast(DoubleType)
            / count(lit(1)) / 1e6, 4).as("avg_logs"),
          round(sum(when(col("backed"), 1L).otherwise(0L)).cast(DoubleType)
            / count(lit(1)), 4).as("backoff_rate"))
        .orderBy(col("doc_id"))
    }),

    // Interpolated Kneser–Ney bigram scorer (Kneser & Ney 1995, the
    // Chen & Goodman 1999 interpolated form with fixed discount D=0.75) —
    // completes the LM trio: add-one (lm_score) over-smooths, stupid
    // backoff (lm_backoff) is not a probability; KN is what production
    // n-gram LMs actually shipped. EVERYTHING derives from the bigram
    // count table: history mass c1(w1)=Σc2 and the N1+(w1,·) fan-out come
    // from ONE aggregate over c2, continuation counts N1+(·,w2) from
    // another — the train corpus is tokenized ONCE (lm_score/lm_backoff
    // each scan it twice) and every model table is vocabulary-sized.
    // p(w2|w1) = (c2−D)⁺/c1 + D·N1+(w1,·)/c1 · pcont(w2); an unseen
    // HISTORY falls back to pcont entirely; pcont is add-one smoothed so
    // unseen continuations stay finite. Per-term logs micro-round to
    // BIGINT (order-independent fold); novel_rate = share of eval bigrams
    // scored by the continuation model alone — KN's domain-mismatch
    // signal.
    "lm_kneser_ney" -> ((s, dir) => {
      import graft.operators.CacheRegistry
      val docs = t(s, dir, "documents")
      val train = docs.where(col("doc_id") >= 50)
      // the bigram table is referenced 4× (fw, bw, gl, the eval probe) —
      // CacheRegistry-tracked so the train corpus is tokenized ONCE and
      // the three model aggregates run on the vocabulary-sized cache
      // (the dsir_weights round-8 lesson)
      val c2 = CacheRegistry.track(train
        .select(TextFns.shingleExplode(TextFns.tokens(col("text")), 2).as("bg"))
        .groupBy(col("bg")).agg(count(lit(1)).as("c2"))
        .withColumn("w1", substring_index(col("bg"), " ", 1))
        .withColumn("w2", substring_index(col("bg"), " ", -1)))
      val fw = c2.groupBy(col("w1"))
        .agg(sum(col("c2")).as("c1"), count(lit(1)).as("n1fw"))
      val bw = c2.groupBy(col("w2")).agg(count(lit(1)).as("n1bw"))
      val glob = bw.agg(sum(col("n1bw")).as("n1all"), count(lit(1)).as("vcont"))
      val evalBg = docs.where(col("doc_id") < 50)
        .select(col("doc_id"),
          TextFns.shingleExplode(TextFns.tokens(col("text")), 2).as("bg"))
        .withColumn("ew1", substring_index(col("bg"), " ", 1))
        .withColumn("ew2", substring_index(col("bg"), " ", -1))
      val d = lit(0.75)
      // pcont must be ONE shared definition — both branches and both
      // engines fold the identical IEEE tree
      val pcont = (coalesce(col("n1bw"), lit(0L)) + lit(1L)).cast(DoubleType) /
        (col("n1all") + col("vcont") + lit(1L))
      evalBg.join(c2.select(col("bg"), col("c2")), Seq("bg"), "left")
        .join(fw.select(col("w1").as("ew1"), col("c1"), col("n1fw")), Seq("ew1"), "left")
        .join(bw.select(col("w2").as("ew2"), col("n1bw")), Seq("ew2"), "left")
        .crossJoin(glob)
        .select(col("doc_id"), col("c1").isNull.as("novel"),
          log(when(col("c1").isNotNull,
            greatest(coalesce(col("c2"), lit(0L)).cast(DoubleType) - d, lit(0.0)) / col("c1") +
              d * col("n1fw") / col("c1") * pcont)
            .otherwise(pcont)).as("ls"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          round(sum(floor(col("ls") * 1e6 + 0.5).cast(LongType)).cast(DoubleType)
            / count(lit(1)) / 1e6, 4).as("avg_logp"),
          round(sum(when(col("novel"), 1L).otherwise(0L)).cast(DoubleType)
            / count(lit(1)), 4).as("novel_rate"))
        .orderBy(col("doc_id"))
    }),

    // CCNet head/middle/tail bucketing: the perplexity-style score (shared
    // lmScores pipeline — the two queries can never drift) terciled over
    // the rounded score with a doc tiebreak (engine-stable cut). The cut
    // is a DISTRIBUTED GlobalOrder.withNtile — the naive ntile(3) global
    // window is one task sorting the ENTIRE corpus at scale, the most
    // corpus-sized of the round-10 verdict's five. The LM score pipeline
    // is checkpointed so the ntile probe jobs re-read partitions instead
    // of re-running the bigram model.
    "ccnet_bucket" -> ((s, dir) => {
      import graft.operators.GlobalOrder
      val lm = lmScores(s, dir).localCheckpoint(false)
      GlobalOrder.withNtile(lm.withColumn("_neg", col("avg_logp") * -1),
          Seq(col("_neg"), col("doc_id")), 3, "bucket")
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"), round(avg(col("avg_logp")), 4).as("mean_logp"))
        .orderBy(col("bucket"))
    }),

    // Flesch reading-ease card (Flesch 1948 — the readability standard
    // behind every "grade level" metric; a training-data lens on register:
    // legal/academic text scores low, conversational text high). Per doc,
    // three codegen'd regexp counters (words = \S+ runs, sentences =
    // terminal punctuation clamped ≥1, syllables ≈ vowel groups — the
    // standard dictionary-free approximation), then the classic
    // 206.835 − 1.015·(W/S) − 84.6·(Syl/W) through SHARED formula text so
    // both engines fold the identical IEEE tree. Per-doc scores
    // micro-round to BIGINT (order-independent mean folds); output is the
    // langs×5-bounded (lang, bucket) histogram with mean scores.
    "readability_score" -> ((s, dir) => {
      val base = t(s, dir, "documents").select(col("lang"),
        greatest(TextFns.tokenCount(col("text")), lit(1L)).as("w"),
        greatest(regexp_count(col("text"), lit("[.!?]")).cast(LongType), lit(1L))
          .as("sents"),
        regexp_count(lower(col("text")), lit("[aeiouy]+")).cast(LongType).as("syl"))
      base.withColumn("fs", expr(FleschSql))
        .withColumn("bucket", expr(FleschBucketSql))
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          round(sum(floor(col("fs") * 1e4 + 0.5).cast(LongType)).cast(DoubleType)
            / count(lit(1)) / 1e4, 4).as("mean_flesch"))
        .orderBy(col("lang"), col("bucket"))
    }),

    // Gopher-style quality gate: the rule-by-rule drop report a filtering
    // stage publishes before committing a corpus. All four rule inputs come
    // from the ONE fused TextStats scan; the report is a single
    // conditional aggregate (one row).
    "doc_quality_gate" -> ((s, dir) => {
      val m = col("m") // shared session TextStats frame (Tables.docStats, r14)
      val d = Tables.docStats(s, dir).select(
        m.getField("n_chars").cast(DoubleType).as("nc"),
        m.getField("n_tokens").cast(DoubleType).as("nt"),
        m.getField("n_punct").cast(DoubleType).as("np"),
        m.getField("n_stop").cast(DoubleType).as("ns"))
        .select(
          (col("nt") < 5 || col("nt") > 10000).as("f_tokens"),
          not((col("nc") / greatest(col("nt"), lit(1.0))).between(2.0, 12.0)).as("f_wordlen"),
          (col("np") / greatest(col("nc"), lit(1.0)) > 0.3).as("f_punct"),
          (col("ns") / greatest(col("nt"), lit(1.0)) < 0.02).as("f_stop"))
      d.agg(count(lit(1)).as("n_total"),
          count(when(col("f_tokens"), 1)).as("fail_tokens"),
          count(when(col("f_wordlen"), 1)).as("fail_wordlen"),
          count(when(col("f_punct"), 1)).as("fail_punct"),
          count(when(col("f_stop"), 1)).as("fail_stop"),
          count(when(!col("f_tokens") && !col("f_wordlen") &&
            !col("f_punct") && !col("f_stop"), 1)).as("survivors"))
    }),

    "tfidf_top" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // corpus size N folds in LAZILY as a broadcast single-row aggregate —
      // no plan-construction job (the old docs.count() ran a full extra scan
      // before the query even started). Same pattern as rfm_segmentation's
      // max-date scalar.
      val nDocs = docs.agg(count(lit(1)).cast(DoubleType).as("n_docs"))
      val toks = docs.where(col("doc_id") < 100)
        .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("term"))
      val allToks = docs.select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("term"))
      val tf = toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      val dfreq = allToks.select(col("doc_id"), col("term")).distinct()
        .groupBy(col("term")).agg(count(lit(1)).as("df"))
      // no broadcast hint on dfreq: the vocabulary is corpus-sized (a
      // billion-type vocab overflows the broadcast limit at 100 TB) — let
      // AQE pick broadcast only when the measured size allows it.
      val scored = tf.join(dfreq, "term")
        .crossJoin(broadcast(nDocs))
        .withColumn("tfidf", col("tf") * log(col("n_docs") / col("df")))
      TopK.perKey(scored, col("doc_id"))(1, col("tfidf").desc, col("term"))
        .select(col("doc_id"), col("term"), round(col("tfidf"), 6).as("tfidf"))
        .orderBy(col("doc_id"))
    }),

    // RAKE keyword extraction (Rose et al. 2010 — Rapid Automatic Keyword
    // Extraction, the zero-training phrase miner): candidate phrases are
    // maximal runs of non-stopword tokens (the gaps-and-islands pos − rn
    // trick — one per-doc window, no UDF), each word scores
    // degree/frequency over phrase occurrences, a phrase scores the sum of
    // its words. All counts are integers and the word score quantizes
    // ONCE to µ-units ((deg·1e6) DIV freq), so phrase sums commute and
    // the SQL twin is bit-exact. Work: two corpus-token passes + joins on
    // the vocab/phrase domain; the final top-10 window runs on the
    // phrase-domain frame with partitionBy(lit(0)) explicit.
    "rake_keywords" -> ((s, dir) => {
      val stops = Seq("the", "and", "of", "to", "in", "is", "a", "for",
        "on", "with", "as", "by", "at", "it")
      val tok = t(s, dir, "documents")
        .select(col("doc_id"), posexplode(TextFns.tokens(col("text"))).as(Seq("pos", "w")))
      val phrases = tok.where(!col("w").isInCollection(stops))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
        .groupBy(col("doc_id"), (col("pos") - col("rn")).as("run"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("w")))),
          x => x.getField("w")).as("ws"))
        .select(concat_ws(" ", col("ws")).as("phrase"), col("ws"))
        .localCheckpoint(false) // word stats + occurrence counts + scores
      val wscore = phrases.select(explode(col("ws")).as("w"), size(col("ws")).as("len"))
        .groupBy(col("w"))
        .agg(count(lit(1)).as("freq"), sum(col("len")).as("deg"))
        .select(col("w"), expr("(deg * 1000000) DIV freq").as("ws6"))
      val occ = phrases.groupBy(col("phrase")).agg(count(lit(1)).as("n_occ"))
      val sc = phrases.dropDuplicates("phrase")
        .select(col("phrase"), explode(col("ws")).as("w"))
        .join(wscore, "w")
        .groupBy(col("phrase"))
        .agg(count(lit(1)).as("n_words"), sum(col("ws6")).as("score6"))
      // TakeOrderedAndProject cuts the top-10 DISTRIBUTEDLY (the phrase
      // domain grows with the corpus — a partitionBy(lit(0)) rank over it
      // is a data-sized single partition; caught in self-review), then the
      // rank window runs on the 10-row result
      sc.join(occ, "phrase")
        .orderBy(col("score6").desc, col("phrase")).limit(10)
        .withColumn("rank", row_number().over(
          Window.partitionBy(lit(0)).orderBy(col("score6").desc, col("phrase"))))
        .select(col("rank").cast(LongType).as("rank"), col("phrase"),
          col("n_words"), col("n_occ"), col("score6"))
        .orderBy(col("rank"))
    }),

    // BM25 + pseudo-relevance feedback (RM3-lite, Lavrenko & Croft's
    // relevance-model idea in its integer-exact form): stage 1 ranks with
    // the SAME index bm25_search built (DiskCache-shared — no second
    // build), the top-3 docs per query vote expansion terms by
    // idf6·Σtf (pure integers), and stage 2 rescores original (weight 10)
    // + expansion (weight 5) terms. Cross-engine exactness: each (term,
    // doc) BM25 contribution quantizes ONCE to µ-unit BIGINTs right after
    // the double formula (bm25_search ranks raw doubles but only ever
    // sums TWO terms — IEEE addition is commutative; 4+ terms need the
    // quantize-then-integer-sum discipline), so stage-2 sums commute.
    "bm25_prf" -> ((s, dir) => {
      import s.implicits._
      val base = bm25Index(s, dir)
      val postings = s.read.parquet(s"$base/postings")
      val dft = s.read.parquet(s"$base/dfs")
      val dlen = s.read.parquet(s"$base/doclens")
      val stats = broadcast(s.read.parquet(s"$base/stats"))
      val part6 = floor(bm25Weight * 1e6 + 0.5).cast(LongType)
      def scored(qterms: org.apache.spark.sql.DataFrame) =
        postings.join(broadcast(qterms), "term")
          .join(dft, "term").join(dlen, "doc_id").crossJoin(stats)
          .select(col("qid"), col("doc_id"), col("w"), part6.as("p6"))
      val q0 = Bm25Queries.toDF("qid", "term")
      val s1 = scored(q0.withColumn("w", lit(10L)))
        .groupBy(col("qid"), col("doc_id")).agg(sum(col("p6")).as("sc1"))
      val fb = TopK.perKey(s1, col("qid"))(3, col("sc1").desc, col("doc_id"))
        .select(col("qid"), col("doc_id"))
        .localCheckpoint(false) // expansion vote join below
      val idf6 = floor(log(lit(1.0) +
        (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)) * 1e6 + 0.5)
        .cast(LongType)
      val exp = postings.join(broadcast(fb), "doc_id")
        .groupBy(col("qid"), col("term")).agg(sum(col("tf")).as("wsum"))
        .join(q0.select(col("qid"), col("term")), Seq("qid", "term"), "left_anti")
        .join(dft, "term").crossJoin(stats)
        .select(col("qid"), col("term"), (idf6 * col("wsum")).as("esc"))
        .transform(TopK.perKey(_, col("qid"))(2, col("esc").desc, col("term")))
        .select(col("qid"), col("term"))
      val allq = q0.withColumn("w", lit(10L))
        .unionByName(exp.withColumn("w", lit(5L)))
      scored(allq)
        .groupBy(col("qid"), col("doc_id"))
        .agg(sum(expr("w * p6")).as("score6w"))
        .transform(TopK.perKey(_, col("qid"))(5, col("score6w").desc, col("doc_id")))
        .select(col("qid"), col("doc_id"), col("score6w"),
          col("rank").cast(LongType).as("rank"))
        .orderBy(col("qid"), col("rank"))
    }),

    // BM25 retrieval (Robertson/Okapi, k1=1.2 b=0.75, Lucene's
    // ln(1 + (N−df+0.5)/(df+0.5)) idf): top-10 docs for fixed 2-term
    // bigram queries — the search-side complement to tfidf_top's
    // characterize-side scoring. Terms are token BIGRAMS (the unigram
    // vocabulary is flat — zero idf discrimination; sparse_cosine_join
    // precedent). Scale shape (round 5): the postings/doc-length/df/stats
    // tables ARE the index — built ONCE per corpus fingerprint and
    // persisted (DiskCache atomic publish, the ensureMinhashIndex
    // pattern), term-range-sorted so the literal query-term isin filter
    // reaches the parquet scan as a row-group-pruning pushed predicate.
    // A probe then reads only matching postings row groups; the
    // tokenize+shingle+groupBy corpus pass never re-runs. The query table
    // is literal and broadcast (with its df's) into the postings; doc
    // lengths join back on the doc key (postings-sized); N/avgdl ride a
    // 1-row broadcast. EXACTLY 2 terms per query keeps the score sum
    // order-free (IEEE addition of two values is commutative), so the
    // double formula is engine-identical from exact BIGINT tf/df/dl.
    "bm25_search" -> ((s, dir) => {
      import s.implicits._
      val base = bm25Index(s, dir)
      val postings = s.read.parquet(s"$base/postings")
        .where(col("term").isin(Bm25Terms: _*))
      val dft = s.read.parquet(s"$base/dfs").where(col("term").isin(Bm25Terms: _*))
      val qdf = broadcast(Bm25Queries.toDF("qid", "term").join(dft, "term"))
      bm25Top10(postings, qdf, s.read.parquet(s"$base/doclens"),
        broadcast(s.read.parquet(s"$base/stats")))
    }),

    // Incremental BM25 index maintenance — the text-retrieval member of
    // the IVM family (agg_incremental merges algebraic partials,
    // hll_incremental merges sketches; THIS merges postings): the base
    // era's postings/doclens persist ONCE under the fingerprint-keyed
    // DiskCache, a corpus refresh tokenizes ONLY the appended batch
    // (doc_id >= 400), and the merged statistics are delta-sized unions —
    // postings and doclens unions, df per term the count of the merged
    // query-term postings (one postings row is one (doc, term)), corpus
    // stats one aggregate over the doc-domain doclens table. Search over
    // the merged index must EQUAL the full-corpus rebuild: the oracle
    // recomputes from scratch, so a drifted merge fails the hash. The
    // base-era TEXT is never re-tokenized — that is the 100-TB contract
    // (re-tokenizing the corpus per refresh is the cost this kills).
    "bm25_incremental" -> ((s, dir) => {
      import s.implicits._
      import graft.operators.{CacheRegistry, DiskCache}
      val docs = t(s, dir, "documents")
      // the base-era cache key covers ONLY the base slice's content — a
      // file-level fingerprint of documents.parquet would change on every
      // batch append and re-tokenize the base each refresh, defeating the
      // IVM contract (review-caught). One tiny probe aggregate derives a
      // refresh-stable content key: (count ^ xor of xxhash64(doc_id, text))
      // over doc_id < 400 changes iff the BASE ERA changes. The probe
      // reads only the base slice (doc_id pushdown); at real scale the
      // base era is its own immutable file and keyedPath's O(files)
      // fingerprint applies instead — this content probe is the testbed's
      // single-file stand-in (CLAUDE.md invariant amended).
      val bRow = docs.where(col("doc_id") < 400)
        .agg(count(lit(1)), bit_xor(xxhash64(col("doc_id"), col("text")))).head()
      val baseKey = java.lang.Long.toHexString(
        bRow.getLong(0) ^ (if (bRow.isNullAt(1)) 0L else bRow.getLong(1)))
      val base = s"${DiskCache.root}/bm25_base_v2_$baseKey"
      DiskCache.ensure(base, Seq("postings/_SUCCESS", "doclens/_SUCCESS")) { tmp =>
        val terms = bigramTerms(docs.where(col("doc_id") < 400))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        terms.write.parquet(s"$tmp/postings")
        terms.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
          .write.parquet(s"$tmp/doclens")
        terms.unpersist(): Unit
      }
      // the refresh tokenizes the BATCH once: one tracked row per doc
      // carries its bigram count and only its query-term bigrams, so both
      // the batch postings and the batch doc lengths come from that cache
      // and no unfiltered batch bigram is shuffled or held. The entry is
      // read with the schema it was written with (no inference job).
      val batch = CacheRegistry.track(bigramRows(docs.where(col("doc_id") >= 400)))
      val postings = s.read.schema("doc_id BIGINT, term STRING, tf BIGINT")
        .parquet(s"$base/postings").where(col("term").isin(Bm25Terms: _*))
        .unionByName(batch.select(col("doc_id"), explode(col("qt")).as("term"))
          .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf")))
      val dfs = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
      // merged doclens: compact per-doc metadata, two consumers → tracked
      val dlen = CacheRegistry.track(
        s.read.schema("doc_id BIGINT, dl BIGINT").parquet(s"$base/doclens")
          .unionByName(bigramDocLens(batch)))
      val stats = broadcast(
        dlen.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_len")))
      val qdf = broadcast(Bm25Queries.toDF("qid", "term").join(dfs, "term"))
      bm25Top10(postings, qdf, dlen, stats)
    }),

    // Fixed-size token chunking with overlap (64-token windows, stride 48) —
    // the context-window prep step of a training pipeline. One narrow pass:
    // tokens are let-bound per row, chunk starts come from `sequence`, and
    // posexplode emits (doc, chunk) rows; no shuffle until the final sort.
    "doc_chunks" -> ((s, dir) => {
      val chunks = element_at(
        transform(array(TextFns.tokens(col("text"))), tk =>
          transform(sequence(lit(1), greatest(size(tk), lit(1)), lit(48)),
            st => concat_ws(" ", slice(tk, st, lit(64))))),
        1)
      t(s, dir, "documents").where(col("doc_id") < 200)
        .select(col("doc_id"), posexplode(chunks))
        .toDF("doc_id", "chunk_idx", "chunk_text")
        .select(col("doc_id"), col("chunk_idx").cast(LongType).as("chunk_idx"),
          col("chunk_text"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    // PII detection + redaction: emails / IPv4s / SSN-shaped ids are
    // counted and replaced. Deterministic synthetic PII is injected
    // in-query (the corpus has none); output carries the md5 of the
    // redacted text so the oracle compares full redaction results without
    // shipping whole documents through the harness.
    "pii_redact" -> ((s, dir) => {
      val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val ipRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
      val ssnRe = "\\b\\d{3}-\\d{2}-\\d{4}\\b"
      val docs = t(s, dir, "documents").where(col("doc_id") < 300)
        .select(col("doc_id"), concat(col("text"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" contact user"), col("doc_id").cast(StringType), lit("@example.com")))
            .otherwise(lit("")),
          when(col("doc_id") % 5 === 0, lit(" from 192.168.1.77")).otherwise(lit("")),
          when(col("doc_id") % 7 === 0, lit(" ssn 123-45-6789")).otherwise(lit(""))).as("text"))
      docs.select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit(emailRe), lit(0))).cast(LongType).as("n_emails"),
        size(regexp_extract_all(col("text"), lit(ipRe), lit(0))).cast(LongType).as("n_ips"),
        size(regexp_extract_all(col("text"), lit(ssnRe), lit(0))).cast(LongType).as("n_ssns"),
        md5(regexp_replace(regexp_replace(regexp_replace(col("text"),
          emailRe, "[EMAIL]"), ipRe, "[IP]"), ssnRe, "[SSN]")).as("redacted_md5"))
        .orderBy(col("doc_id"))
    }),

    // Document fingerprints: md5-of-normalized + min-shingle (rolling-hash
    // style, robust to local edits).
    "fingerprint" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextFns.fingerprint(col("text")).as("fp"),
          TextFns.minShingleFingerprint(col("text"), 4).as("min_shingle_fp"))
        .orderBy(col("doc_id"))
    }),

    // Vocabulary drift monitor: Laplace-smoothed bigram-share log-ratio
    // between two corpus halves, top-20 movers. Terms are bigrams (the
    // unigram vocabulary is a flat 31 words — zero drift signal); counts
    // collapse both halves in ONE conditional aggregate, the totals are a
    // 1-row broadcast, and the top-20 cut orders by the ROUNDED score with
    // a token tie-break so the cut is engine-deterministic.
    "vocab_drift" -> ((s, dir) => {
      val terms = t(s, dir, "documents")
        .where(col("text").isNotNull)
        .select((col("doc_id") % 2).as("half"),
          TextFns.shingleExplode(TextFns.tokens(col("text")), 2).as("tok"))
      val counts = terms.groupBy(col("tok"))
        .agg(count(when(col("half") === 0, 1)).as("na"),
          count(when(col("half") === 1, 1)).as("nb"))
      val tot = broadcast(counts.agg(sum(col("na")).as("ta"), sum(col("nb")).as("tb"),
        count(lit(1)).as("v")))
      counts.crossJoin(tot)
        .withColumn("score",
          log(((col("na") + 1).cast("double") / (col("ta") + col("v")))
            / ((col("nb") + 1).cast("double") / (col("tb") + col("v")))))
        .orderBy((floor(abs(col("score")) * 1e6 + 0.5) / 1e6).desc, col("tok"))
        .limit(20)
        .select(col("tok"), col("na"), col("nb"),
          (floor(col("score") * 1e6 + 0.5) / 1e6).as("score"))
    }),

    // Per-document n-gram novelty — the fraction of a doc's distinct
    // trigram shingles whose corpus-FIRST occurrence (min doc_id) is this
    // doc: near-1 means fresh content, near-0 means the doc restates what
    // earlier docs already said. The signal RECITE-style dedup pipelines
    // rank ingest order by. One shuffle keyed on the shingle (the min-doc
    // window partitions are duplicate-cluster-sized), one doc-keyed
    // aggregate; work ∝ corpus token mass like minhash_dedup, never
    // all-pairs. Novelty is one IEEE division of exact counts.
    "ngram_novelty" -> ((s, dir) => {
      val sh = t(s, dir, "documents")
        .where(col("text").isNotNull)
        .select(col("doc_id"),
          explode(array_distinct(TextFns.shingles(TextFns.tokens(col("text")), 3)))
            .as("sh"))
      val w = Window.partitionBy(col("sh"))
      sh.withColumn("first_doc", min(col("doc_id")).over(w))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
          count(when(col("doc_id") === col("first_doc"), 1)).as("n_novel"))
        .select(col("doc_id"), col("n_shingles"), col("n_novel"),
          (floor(col("n_novel") / col("n_shingles") * 1e6 + 0.5) / 1e6).as("novelty"))
        .orderBy(col("doc_id"))
    }),

    // Per-source Zipf slope: least-squares fit of ln(freq) ~ ln(rank) over
    // the deterministic top-100 tokens (count desc, token tie-break — the
    // rank≤100 filter plans WindowGroupLimit, so Zipf heads never buffer).
    // A healthy natural-language source sits near −1; a flat slope flags
    // templated/synthetic text. The regression sums run over ≤100 rows per
    // source; 1e-4 rounding absorbs double-sum association order (the
    // token_entropy precedent).
    "token_zipf" -> ((s, dir) => {
      val tc = t(s, dir, "documents")
        .where(col("text").isNotNull)
        .select(col("source"), explode(TextFns.tokens(col("text"))).as("w"))
        .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
      TopK.perKey(tc, col("source"))(100, col("c").desc, col("w"))
        .select(col("source"), log(col("rank").cast("double")).as("x"),
          log(col("c").cast("double")).as("y"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_ranks"),
          (floor((count(lit(1)) * sum(col("x") * col("y"))
              - sum(col("x")) * sum(col("y")))
            / (count(lit(1)) * sum(col("x") * col("x"))
              - sum(col("x")) * sum(col("x"))) * 1e4 + 0.5) / 1e4).as("zipf_slope"))
        .orderBy(col("source"))
    }),

    // Document-frequency spectrum over trigram shingles — the Good–Turing
    // view of corpus health: how much content is singleton (df=1) vs
    // boilerplate (high df). The shingle aggregate collapses the corpus to
    // the df domain; the spectrum caps at df=21 (">20" overflow bucket) so
    // the declared output stays bounded at any corpus size. All-integer.
    "df_spectrum" -> ((s, dir) => {
      t(s, dir, "documents")
        .where(col("text").isNotNull)
        .select(col("doc_id"),
          explode(array_distinct(TextFns.shingles(TextFns.tokens(col("text")), 3)))
            .as("sh"))
        .groupBy(col("sh")).agg(count(lit(1)).as("df"))
        .select(least(col("df"), lit(21L)).as("df_bucket"))
        .groupBy(col("df_bucket")).agg(count(lit(1)).as("n_shingles"))
        .orderBy(col("df_bucket"))
    }),

    // Hill estimator of the doc-length tail index per source (heavy-tail
    // data card: α ≈ 1–2 means a few huge docs dominate token mass —
    // they'll dominate packed-sequence buffers too). α = k / Σ ln(x_i /
    // x_(k+1)) over the deterministic top-k lengths (length desc, doc_id);
    // the rank filter is WindowGroupLimit-planned, the k-row log sums take
    // the 1e-4 rounding idiom. A flat tail (all top-k equal) would zero
    // the divisor — guarded to NULL in both engines, never IEEE ∞.
    "length_tail" -> ((s, dir) => {
      val r = t(s, dir, "documents")
        .where(col("n_chars").isNotNull && col("n_chars") > 0)
        .transform(TopK.perKey(_, col("source"))(21, col("n_chars").desc, col("doc_id")))
      val thr = r.where(col("rank") === 21)
        .select(col("source"), col("n_chars").as("x_k1"))
      r.where(col("rank") <= 20)
        .join(thr, "source")
        .select(col("source"),
          log(col("n_chars").cast("double") / col("x_k1")).as("lr"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("k"),
          (floor(count(lit(1)) / when(sum(col("lr")) =!= 0, sum(col("lr")))
            * 1e4 + 0.5) / 1e4).as("hill_alpha"))
        .orderBy(col("source"))
    }),

    // Language-ID confusion matrix — the evaluation view of lang_id:
    // declared label × detected language with the share of the declared
    // label's documents in each cell (one fused-TextStats scan + ONE
    // map-side-combined aggregate to the langs² domain, share via a
    // langs-partitioned window over that config-sized table). The
    // diagonal-vs-off-diagonal split is the lang-filter precision signal a
    // pipeline checks before trusting the detector on unlabeled data.
    "lang_confusion" -> ((s, dir) => {
      val m = t(s, dir, "documents")
        .where(col("lang").isNotNull && col("text").isNotNull)
        .select(col("lang"), TextFns.langId(col("text")).as("detected"))
        .groupBy(col("lang"), col("detected"))
        .agg(count(lit(1)).as("n"))
      val wl = Window.partitionBy("lang")
      m.withColumn("share",
          floor(col("n") / sum(col("n")).over(wl) * 1e6 + 0.5) / 1e6)
        .select(col("lang"), col("detected"), col("n"), col("share"))
        .orderBy(col("lang"), col("detected"))
    }),

    // WITHIN-doc n-gram repetition (the Gopher repetition filters, Rae et
    // al. 2021 — "fraction of tokens inside duplicated n-grams": loops,
    // keyword stuffing and degenerate generations repeat trigrams long
    // before cross-doc dedup sees anything; line_dedup/substring_dedup are
    // CROSS-doc, this is the within-doc twin the quality gate was
    // missing). Per doc: trigram occurrences belonging to a gram seen >=2
    // times in the SAME doc, over total trigram occurrences — exact
    // µ-unit BIGINTs. Planted signal (measured margin, the round-10
    // discipline): every 25th doc re-emitted with text DOUBLED carries
    // rep >= 0.889 while natural docs top out at 0.154 (measured at
    // sf0.1) — the 0.5 flag threshold has >=3.2x margin both ways;
    // provenance rides a literal flag column, so no id-offset aliasing is
    // possible at any scale. Shape: one ShingleGenerator pass (streamed
    // trigrams, no array materialization) -> two map-side-combined
    // aggregates; work is token-linear.
    "ngram_repetition" -> ((s, dir) => {
      val base = t(s, dir, "documents").where(col("text").isNotNull)
        .select(col("doc_id"), col("source"), col("text"))
      val docs = base.withColumn("planted", lit(false))
        .unionByName(base.where(col("doc_id") % 25 === 0)
          .select(col("doc_id"), col("source"),
            concat(col("text"), lit(" "), col("text")).as("text"))
          .withColumn("planted", lit(true)))
      val perDoc = docs
        .select(col("doc_id"), col("source"), col("planted"),
          TextFns.shingleExplode(TextFns.tokens(col("text")), 3).as("g"))
        .groupBy(col("doc_id"), col("source"), col("planted"), col("g"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"), col("source"), col("planted"))
        .agg(sum(col("c")).as("tt"),
          sum(when(col("c") >= 2, col("c")).otherwise(0L)).as("r"))
        .withColumn("rep6", expr("(r * 1000000) DIV greatest(tt, 1)"))
      perDoc.groupBy(col("source"), col("planted"))
        .agg(count(lit(1)).as("n_docs"),
          expr("sum(rep6) DIV count(1)").as("mean_rep6"),
          count(when(col("rep6") >= 500000L, 1)).as("n_flagged"))
        .orderBy(col("source"), col("planted"))
    }),

    // The Gopher RULE BATTERY (Rae et al. 2021, Appendix A — the named
    // filter set every LLM data paper cites) as one fused pass with
    // PER-RULE drop accounting: word-count bounds, mean-word-length
    // bounds, symbol-to-word ratio, minimum stopword count. Thresholds
    // and liveness follow the planted-threshold discipline: the
    // word-count lower bound (20) and the ≥2-stopword rule fire on
    // NATURAL docs (measured: 5th-pctile word count 14–16, 34–446
    // zero-stopword docs per SF), while the symbol and word-length rules
    // have no natural violators (measured sym=0, mean word length
    // 3.5–5.73 chars) — so each gets a PLANTED violator family at
    // collision-free off-multiples (provenance rides a literal family
    // column): 'short' = 5-token prefixes (word count), 'symbol' = 16
    // appended '#' tokens (16·10 > nw+16 at the measured ≤100-token
    // docs), 'glued' = whitespace-stripped one-giant-token docs (mean
    // word length = the whole doc). All-integer rule arithmetic (µ-unit
    // DIV, cross-multiplied ratio) — bit-exact compare; one TextStats-
    // shared stopword definition.
    "gopher_rules" -> ((s, dir) => {
      // flags via the ONE shared battery definition (TextFns.gopherFlags —
      // the streaming gate applies the same struct per arrival); nw comes
      // from the SAME fused TextStats scan as ns (≡ len(tokens), the green
      // qualityMetricsSql equivalence) — materializing the token array just
      // to count it would re-split the corpus-sized hot path (review-caught)
      val rules = gopherCorpus(s, dir)
        .select(col("doc_id"), col("family"), TextFns.gopherFlags(col("text")).as("f"))
        .select(col("doc_id"), col("family"),
          col("f.f_wc").as("f_wc"), col("f.f_wl").as("f_wl"),
          col("f.f_sym").as("f_sym"), col("f.f_stop").as("f_stop"))
      rules.groupBy(col("family"))
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("f_wc"), 1)).as("fail_wordcount"),
          count(when(col("f_wl"), 1)).as("fail_wordlen"),
          count(when(col("f_sym"), 1)).as("fail_symbol"),
          count(when(col("f_stop"), 1)).as("fail_stopword"),
          count(when(!col("f_wc") && !col("f_wl") && !col("f_sym") && !col("f_stop"), 1))
            .as("n_pass"),
          // checksum mod 1e18 in DECIMAL(38)/HUGEINT: a raw Σ doc_id over
          // most of the corpus plus 4·max_id planted ids overflows BIGINT
          // well inside the documented envelope (review-caught)
          expr("CAST(coalesce(sum(CASE WHEN NOT f_wc AND NOT f_wl AND NOT f_sym " +
            "AND NOT f_stop THEN CAST(doc_id AS DECIMAL(38,0)) END), 0) " +
            "% 1000000000000000000 AS BIGINT)").as("pass_id_sum"))
        .orderBy(col("family"))
    }),

    // Vocabulary-coverage curve for tokenizer sizing: the share of total
    // token MASS the top-k vocabulary covers, k ∈ {10, 100, 1000}. The
    // corpus collapses to (token, count) first; the global Zipf rank is a
    // DISTRIBUTED GlobalOrder row number over (count desc, token) — the
    // vocabulary domain is data-sized (Heaps' law: it grows with the
    // corpus), so the round-10 verdict's single-task row_number window is
    // a real hazard here, and with no rank-limit filter
    // InferWindowGroupLimit cannot rescue it. The total mass joins back
    // as a broadcast scalar; the 3-row k-grid fans out vocab rows only.
    // Exact integer mass; one rounded share per k.
    "vocab_coverage" -> ((s, dir) => {
      import graft.operators.GlobalOrder
      val tc = t(s, dir, "documents")
        .where(col("text").isNotNull)
        .select(explode(TextFns.tokens(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
        .localCheckpoint(false) // feeds the rank pass, its probes, the total
      val tot = tc.agg(sum(col("c")).as("tot"))
      val ranked = GlobalOrder.withGlobalRowNumber(
          tc.withColumn("_negc", col("c") * -1), Seq(col("_negc"), col("w")), "r")
        .crossJoin(broadcast(tot))
      val grid = broadcast(s.range(1, 4)
        .select(pow(lit(10.0), col("id")).cast("long").as("k")))
      ranked.crossJoin(grid)
        .where(col("r") <= col("k"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n_vocab"),
          (floor(sum(col("c")).cast("double") / max(col("tot")) * 1e6 + 0.5) / 1e6)
            .as("mass_share"))
        .orderBy(col("k"))
    }),

    // Tokenizer fertility by language — chars per BPE-ish token: the
    // compression the tokenizer achieves per language, the signal that
    // decides per-language token budgets (a language at 2 chars/token
    // costs 2× the context of one at 4). Exact BIGINT char/token sums in
    // ONE map-side-combined aggregate to the langs domain.
    // Unigram-LM (SentencePiece-style) tokenizer TRAINER + corpus
    // application — the trainer modern pipelines default to, completing the
    // tokenizer family beyond BPE (round-12 verdict #5). The model is fit
    // on the driver over the first-256-docs-in-id-order sample (the
    // trainSampled convention): seed vocabulary = all substrings of length
    // ≤4 capped at 512 pieces (singles always kept, so every word stays
    // segmentable), then 3 FIXED EM rounds — Viterbi-segment the sample
    // under µ-quantized integer piece costs, re-estimate costs from +1-
    // smoothed usage, drop unused multi-char pieces. The trained model
    // inlines into BOTH engines as one literal piece→cost map, and the
    // corpus application is an EXACT INTEGER Viterbi DP (encoded
    // cost6·1024 + n_pieces, minimized — cost dominates, then piece
    // count), unrolled 16 sliding-column steps over ≤16-char chunks
    // (longer words split greedily first — both engines' regexp '.{1,16}'
    // contract), so the cross-engine compare is bit-exact with NO float
    // arithmetic in either engine. Scale: the DP runs over the distinct
    // (lang, word) table (Heaps-bounded), one row-narrow pass; cost6 sums
    // hold to ~1e12 corpus words (≤3e8 µ per word), then DECIMAL(38) per
    // the checksum precedent. Output = per-lang fertility under the
    // TRAINED tokenizer (pieces/word, chars/piece, corpus cost) — the
    // tokenizer_fertility consuming proof the verdict asked for.
    "tokenizer_train_unigram" -> ((s, dir) => {
      val enc = typedLit(unigramModel(s, dir).map {
        case (p, c6) => p -> (c6 * 1024L + 1L) })
      val words = t(s, dir, "documents")
        .where(col("text").isNotNull && col("lang").isNotNull)
        .select(col("lang"), explode(TextFns.tokens(col("text"))).as("w"))
        .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("cnt"))
      var df = words
        .select(col("lang"), col("w"), col("cnt"),
          explode(regexp_extract_all(col("w"), lit(".{1,16}"), lit(0))).as("c"))
        .withColumn("_m", enc)
        .withColumn("_d", lit(0L))
        .withColumn("_p1", lit(null).cast(LongType))
        .withColumn("_p2", lit(null).cast(LongType))
        .withColumn("_p3", lit(null).cast(LongType))
        .withColumn("_r", lit(null).cast(LongType))
      for (i <- 1 to 16) {
        def look(j: Int) = element_at(col("_m"), col("c").substr(lit(i - j + 1), lit(j)))
        // j=1 falls back to the UNK cost (sample-unseen character); j>=2
        // missing pieces go NULL and least() skips them. The result for a
        // chunk of length L is captured one step LATER from the _d COLUMN
        // (a cheap ref — keeps CollapseProject from duplicating the DP
        // trees), with a final capture after the loop for L = 16.
        val cands = Seq(col("_d") + coalesce(look(1), lit(UnigramUnkEnc))) ++
          Seq(2, 3, 4).filter(_ <= i).map {
            case 2 => col("_p1") + look(2)
            case 3 => col("_p2") + look(3)
            case 4 => col("_p3") + look(4)
          }
        val newD = if (cands.size == 1) cands.head else least(cands: _*)
        df = df.select(col("lang"), col("w"), col("cnt"), col("c"), col("_m"),
          newD.as("_d"), col("_d").as("_p1"), col("_p1").as("_p2"),
          col("_p2").as("_p3"),
          when(length(col("c")) === i - 1, col("_d")).otherwise(col("_r")).as("_r"))
      }
      df.select(col("lang"), col("w"), col("cnt"),
          when(length(col("c")) === 16, col("_d")).otherwise(col("_r")).as("e"))
        .groupBy(col("lang"), col("w"), col("cnt"))
        .agg(sum(col("e")).as("we")) // multi-chunk words: encs add exactly
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_distinct_words"),
          sum(col("cnt")).as("n_words"),
          sum(col("cnt") * length(col("w"))).as("n_chars"),
          sum(col("cnt") * (col("we") % 1024L)).as("n_pieces"),
          sum(col("cnt") * expr("we DIV 1024")).as("cost6_sum"))
        .select(col("lang"), col("n_distinct_words"), col("n_words"),
          col("n_chars"), col("n_pieces"), col("cost6_sum"),
          expr("(n_pieces * 1000000) DIV n_words").as("fertility_ppm"),
          expr("(n_chars * 1000000) DIV n_pieces").as("cpp_ppm"))
        .orderBy(col("lang"))
    }),

    "tokenizer_fertility" -> ((s, dir) => {
      t(s, dir, "documents")
        .where(col("text").isNotNull && col("lang").isNotNull)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).as("n_chars"),
          sum(TextFns.bpeTokenCount(col("text"))).as("n_bpe"))
        .withColumn("chars_per_token",
          floor(col("n_chars") / when(col("n_bpe") =!= 0, col("n_bpe"))
            * 1e4 + 0.5) / 1e4)
        .orderBy(col("lang"))
    }),

    // Heaps-law vocabulary GROWTH curve: cumulative distinct vocabulary vs
    // cumulative token mass at 10 ingestion-order checkpoints — the
    // tokenizer/vocab sizing input (vocab_coverage answers "how much mass
    // do the top-k cover NOW"; this answers "how fast does the vocabulary
    // still grow", i.e. whether more data will keep minting types).
    // Checkpoints are id-VALUE deciles ((id−lo)·10 div span — fully
    // distributed, no global rank window); each token's FIRST decile comes
    // from one min-aggregate keyed by the token, so the heavy stages are
    // two ordinary shuffles ∝ token mass / vocabulary, and only the
    // 10-row decile table ever sees a window. All counts exact BIGINTs.
    "vocab_growth" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val bounds = broadcast(docs.agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi")))
      val tok = docs.crossJoin(bounds)
        .select(expr("least(((doc_id - lo) * 10) div (hi - lo + 1), 9)").as("decile"),
          explode(TextFns.tokens(col("text"))).as("w"))
      val perB = tok.groupBy(col("decile")).agg(count(lit(1)).as("n_toks"))
      val firstB = tok.groupBy(col("w")).agg(min(col("decile")).as("decile"))
        .groupBy(col("decile")).agg(count(lit(1)).as("new_vocab"))
      val w10 = Window.orderBy(col("decile"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      perB.join(firstB, Seq("decile"), "left")
        .select(col("decile"), coalesce(col("new_vocab"), lit(0L)).as("new_vocab"),
          col("n_toks"))
        .withColumn("cum_vocab", sum(col("new_vocab")).over(w10))
        .withColumn("cum_tokens", sum(col("n_toks")).over(w10))
        .select(col("decile"), col("new_vocab"), col("cum_vocab"), col("cum_tokens"))
        .orderBy(col("decile"))
    }))

  // DuckDB mirrors. Tokens: list_filter(string_split_regex(lower(text))).
  private val toks = Tables.toksSql()

  /** readability_score's shared formula text — evaluated VERBATIM by both
    * engines over the (w, sents, syl) counts (scientific literals keep the
    * constants pure doubles in both SQL dialects). */
  private val FleschSql =
    "206.835e0 - 1.015e0 * (CAST(w AS DOUBLE) / sents) - 84.6e0 * (CAST(syl AS DOUBLE) / w)"
  private val FleschBucketSql =
    "CASE WHEN fs >= 90e0 THEN 'very_easy' WHEN fs >= 70e0 THEN 'easy' " +
      "WHEN fs >= 50e0 THEN 'standard' WHEN fs >= 30e0 THEN 'difficult' " +
      "ELSE 'very_difficult' END"

  private def markers(pat: String) =
    s"len(regexp_extract_all(lower(text), '$pat'))"
  private val en = markers("\\b(the|and|of|to|in|is|a)\\b")
  private val de = markers("\\b(der|die|das|und|nicht|ein)\\b")
  private val fr = markers("\\b(le|la|les|et|est|une)\\b")
  private val es = markers("\\b(el|los|las|es|y|una)\\b")

  private val LmSqlCtes =
    s"""WITH tr AS (SELECT $toks AS tk FROM documents WHERE doc_id >= 50),
         |tbg AS (SELECT unnest(${ngramsSql(2)}) AS bg FROM tr),
         |c2 AS (SELECT bg, count(*) AS c2 FROM tbg GROUP BY 1),
         |tw AS (SELECT unnest(tk) AS w FROM tr),
         |c1 AS (SELECT w, count(*) AS c1 FROM tw GROUP BY 1),
         |v AS (SELECT count(*) AS v FROM c1),
         |ev AS (SELECT doc_id, unnest(${ngramsSql(2)}) AS bg
         |       FROM (SELECT doc_id, $toks AS tk FROM documents WHERE doc_id < 50)),
         |sc AS (SELECT doc_id, ln((coalesce(c2, 0) + 1.0) / (coalesce(c1, 0) + v)) AS lp
         |  FROM ev LEFT JOIN c2 USING (bg)
         |  LEFT JOIN c1 ON c1.w = string_split(ev.bg, ' ')[1]
         |  CROSS JOIN v)""".stripMargin

  /** Static oracles + the trained unigram twin when an OracleContext is
    * set at dump time (the QueriesSim convention — degrades to rows-only
    * LOUDLY if generation fails, never taking the static oracles along). */
  def oracle: Map[String, String] = staticOracle ++
    Tables.OracleContext.ctx.flatMap { case (s, dir) =>
      scala.util.Try(unigramOracle(s, dir)) match {
        case scala.util.Success(sql) => Some("tokenizer_train_unigram" -> sql)
        case scala.util.Failure(e) =>
          System.err.println("[oracle] trained-oracle generation FAILED for " +
            s"tokenizer_train_unigram (degrading to rows-only): ${e.getMessage}")
          None
      }
    }

  private val staticOracle: Map[String, String] = Map(
    "badwords_filter" ->
      s"""WITH tok AS (SELECT doc_id, source, unnest($toks) AS w FROM documents),
         |perdoc AS (SELECT doc_id, source, CAST(count(*) AS BIGINT) AS nt,
         |    CAST(sum(CASE WHEN w IN (${BadLexicon.map("'" + _ + "'").mkString(", ")})
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_bad
         |  FROM tok GROUP BY 1, 2)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN n_bad > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
         |  CAST(sum(n_bad) AS BIGINT) AS bad_tokens,
         |  round(CAST(sum(CASE WHEN n_bad > 0 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*), 6) AS flag_rate,
         |  round(CAST(sum(n_bad) AS DOUBLE) * 1e4
         |    / CAST(sum(nt) AS DOUBLE), 4) AS bad_per_10k
         |FROM perdoc GROUP BY 1 ORDER BY 1""".stripMargin,

    "search_ndcg" ->
      s"""WITH q(qid, t1, t2) AS (VALUES
         |  ${NdcgQueries.map { case (i, a, b) => s"($i, '$a', '$b')" }.mkString(", ")}),
         |tok AS (SELECT doc_id, unnest($toks) AS w FROM documents),
         |hits AS (SELECT qid, doc_id,
         |    CAST(sum(CASE WHEN w = t1 THEN 1 ELSE 0 END) AS BIGINT) AS tf1,
         |    CAST(sum(CASE WHEN w = t2 THEN 1 ELSE 0 END) AS BIGINT) AS tf2
         |  FROM tok JOIN q ON w = t1 OR w = t2 GROUP BY 1, 2),
         |r AS (SELECT qid, doc_id, tf1,
         |    (CASE WHEN tf1 > 0 THEN 1 ELSE 0 END
         |      + CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS rel FROM hits),
         |rk AS (SELECT qid, rel,
         |    row_number() OVER (PARTITION BY qid ORDER BY tf1 DESC, doc_id) AS rn,
         |    row_number() OVER (PARTITION BY qid ORDER BY rel DESC, doc_id) AS irn
         |  FROM r),
         |m AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_cand,
         |    CAST(sum(CASE WHEN rel = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rel2,
         |    CAST(sum(CASE WHEN rn <= 10 THEN CAST(floor(
         |      (CASE WHEN rel = 2 THEN 3e0 WHEN rel = 1 THEN 1e0 ELSE 0e0 END)
         |      / log2(rn + 1) * 1e6 + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT) AS dcg_m,
         |    CAST(sum(CASE WHEN irn <= 10 THEN CAST(floor(
         |      (CASE WHEN rel = 2 THEN 3e0 WHEN rel = 1 THEN 1e0 ELSE 0e0 END)
         |      / log2(irn + 1) * 1e6 + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT) AS idcg_m
         |  FROM rk GROUP BY 1)
         |SELECT CAST(qid AS BIGINT) AS qid, n_cand, n_rel2,
         |  round(CASE WHEN idcg_m > 0 THEN CAST(dcg_m AS DOUBLE) / idcg_m
         |    ELSE 0e0 END, 6) AS ndcg10
         |FROM m ORDER BY qid""".stripMargin,

    "mi_features" -> {
      def block(f: String) =
        s"""SELECT '$f' AS feature, CAST(count(*) AS BIGINT) AS levels,
           |  round(CAST(sum(CAST(floor(
           |    (CAST(nxy AS DOUBLE) / CAST(ntot AS DOUBLE)) *
           |    ln((CAST(nxy AS DOUBLE) * CAST(ntot AS DOUBLE))
           |      / (CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE)))
           |    * 1e9 + 0.5) AS BIGINT)) AS DOUBLE) / 1e9, 6) AS mi
           |FROM (
           |  SELECT xy.nxy, x.nx, y.ny, tot.ntot
           |  FROM (SELECT $f AS xv, label, CAST(sum(n) AS BIGINT) AS nxy
           |    FROM cube GROUP BY 1, 2) xy
           |  JOIN (SELECT $f AS xv, CAST(sum(n) AS BIGINT) AS nx
           |    FROM cube GROUP BY 1) x USING (xv)
           |  JOIN (SELECT label, CAST(sum(n) AS BIGINT) AS ny
           |    FROM cube GROUP BY 1) y USING (label)
           |  CROSS JOIN tot)""".stripMargin
      s"""WITH m AS (${Tables.qualityMetricsSql(", lang, source, n_chars")}),
         |lab AS (SELECT lang, source,
         |    least(CAST(floor(n_chars / 100.0) AS BIGINT), 5) AS len_bucket,
         |    round(${Tables.qualityScoreSql}, 6) >= 0.8 AS label FROM m),
         |cube AS MATERIALIZED (SELECT lang, source, len_bucket, label,
         |    CAST(count(*) AS BIGINT) AS n FROM lab GROUP BY 1, 2, 3, 4),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS ntot FROM cube)
         |${Seq("lang", "source", "len_bucket").map(block).mkString("\nUNION ALL\n")}
         |ORDER BY feature""".stripMargin
    },

    "rrf_fusion" ->
      s"""WITH q(qid, t1, t2) AS (VALUES
         |  ${NdcgQueries.map { case (i, a, b) => s"($i, '$a', '$b')" }.mkString(", ")}),
         |tok AS (SELECT doc_id, unnest($toks) AS w FROM documents),
         |sp0 AS (SELECT qid, doc_id, count(*) AS tf
         |  FROM tok JOIN q ON w = t1 OR w = t2 GROUP BY 1, 2),
         |sparse AS (SELECT qid, doc_id, rs FROM (
         |  SELECT qid, doc_id,
         |    row_number() OVER (PARTITION BY qid ORDER BY tf DESC, doc_id) AS rs
         |  FROM sp0) WHERE rs <= 20),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         |  WHERE embedding IS NOT NULL),
         |qe AS (SELECT vec_id AS qid, v AS qv FROM e
         |  WHERE vec_id IN (${NdcgQueries.map(_._1).mkString(", ")})),
         |dn0 AS (SELECT qe.qid, e.vec_id AS doc_id,
         |    list_cosine_similarity(qe.qv, e.v) AS cos FROM e CROSS JOIN qe),
         |dense AS (SELECT qid, doc_id, rd FROM (
         |  SELECT qid, doc_id,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, doc_id) AS rd
         |  FROM dn0) WHERE rd <= 20),
         |f AS (SELECT COALESCE(s.qid, d.qid) AS qid,
         |    COALESCE(s.doc_id, d.doc_id) AS doc_id, s.rs, d.rd,
         |    COALESCE(CAST(1 AS DOUBLE) / (60 + s.rs), 0e0)
         |      + COALESCE(CAST(1 AS DOUBLE) / (60 + d.rd), 0e0) AS rrf
         |  FROM sparse s FULL OUTER JOIN dense d
         |    ON s.qid = d.qid AND s.doc_id = d.doc_id)
         |SELECT CAST(qid AS BIGINT) AS qid, doc_id,
         |  CAST(rs AS BIGINT) AS sparse_rank, CAST(rd AS BIGINT) AS dense_rank,
         |  round(rrf, 6) AS rrf, CAST(fr AS BIGINT) AS fused_rank
         |FROM (SELECT *, row_number() OVER (PARTITION BY qid
         |    ORDER BY rrf DESC, doc_id) AS fr FROM f)
         |WHERE fr <= 10 ORDER BY qid, fused_rank""".stripMargin,

    "vocab_growth" ->
      s"""WITH b AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents),
        |tok AS MATERIALIZED (
        |  SELECT least(((doc_id - lo) * 10) // (hi - lo + 1), 9) AS decile,
        |    unnest($toks) AS w
        |  FROM documents CROSS JOIN b),
        |perb AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_toks
        |  FROM tok GROUP BY 1),
        |firstb AS (SELECT decile, CAST(count(*) AS BIGINT) AS new_vocab FROM (
        |  SELECT w, min(decile) AS decile FROM tok GROUP BY w) GROUP BY 1)
        |SELECT decile, coalesce(new_vocab, 0) AS new_vocab,
        |  CAST(sum(coalesce(new_vocab, 0)) OVER (ORDER BY decile
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_vocab,
        |  CAST(sum(n_toks) OVER (ORDER BY decile
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        |FROM perb LEFT JOIN firstb USING (decile)
        |ORDER BY decile""".stripMargin,
    "token_entropy" ->
      s"""WITH tok AS (SELECT source, unnest(${Tables.toksSql()}) AS w FROM documents),
        |tc AS (SELECT source, w, count(*) AS c FROM tok GROUP BY 1, 2)
        |SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
        |  CAST(count(*) AS BIGINT) AS vocab,
        |  round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 4) AS entropy
        |FROM tc GROUP BY source ORDER BY source""".stripMargin,
    "repetition_score" ->
      s"""WITH s AS (SELECT doc_id, ${ngramsSql(3)} AS tri
         |  FROM (SELECT doc_id, $toks AS tk FROM documents))
         |SELECT doc_id, CAST(len(tri) AS BIGINT) AS n_trigrams,
         |  CAST(len(list_distinct(tri)) AS BIGINT) AS n_distinct,
         |  CASE WHEN len(tri) > 0
         |       THEN round(CAST(1.0 AS DOUBLE) -
         |                  CAST(len(list_distinct(tri)) AS DOUBLE) / CAST(len(tri) AS DOUBLE), 6)
         |       ELSE CAST(0.0 AS DOUBLE) END AS rep_score
         |FROM s ORDER BY doc_id""".stripMargin,
    "line_dedup" ->
      """WITH d AS (SELECT doc_id, 'HOME | ABOUT | CONTACT' || chr(10) || text ||
        |    CASE WHEN doc_id % 2 = 0 THEN chr(10) || '(c) 2024 Example Corp' ELSE '' END AS text
        |  FROM documents WHERE doc_id < 300),
        |l0 AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM d),
        |l1 AS (SELECT doc_id, ls, unnest(range(1, len(ls) + 1)) AS pos FROM l0),
        |lines AS (SELECT doc_id, pos, ls[pos] AS line FROM l1),
        |freq AS (SELECT line, count(DISTINCT doc_id) AS line_df FROM lines GROUP BY line),
        |kept AS (SELECT doc_id, pos, line FROM lines
        |         WHERE line NOT IN (SELECT line FROM freq WHERE line_df >= 10)),
        |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS total_lines FROM lines GROUP BY doc_id),
        |kp AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS kept_lines,
        |       md5(string_agg(line, chr(10) ORDER BY pos)) AS clean_md5 FROM kept GROUP BY doc_id)
        |SELECT doc_id, total_lines, kept_lines, clean_md5
        |FROM tot JOIN kp USING (doc_id) ORDER BY doc_id""".stripMargin,
    "text_tokens" ->
      s"""SELECT token, CAST(count(*) AS BIGINT) AS n
         |FROM (SELECT unnest($toks) AS token FROM documents)
         |GROUP BY token ORDER BY n DESC, token LIMIT 20""".stripMargin,
    "token_count" ->
      s"""SELECT doc_id, CAST(len($toks) AS BIGINT) AS ws_tokens,
         |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\\s]')) AS BIGINT) AS bpe_tokens
         |FROM documents ORDER BY doc_id""".stripMargin,
    "lang_id" ->
      s"""SELECT doc_id, lang,
         |  CASE WHEN $en > 0 AND $en >= $de AND $en >= $fr AND $en >= $es THEN 'en'
         |       WHEN $de > 0 AND $de >= $fr AND $de >= $es THEN 'de'
         |       WHEN $fr > 0 AND $fr >= $es THEN 'fr'
         |       WHEN $es > 0 THEN 'es'
         |       ELSE 'und' END AS detected
         |FROM documents ORDER BY doc_id""".stripMargin,
    "quality_score" ->
      s"""WITH m AS (${Tables.qualityMetricsSql()})
         |SELECT doc_id, CAST(nc AS BIGINT) AS n_chars, CAST(nt AS BIGINT) AS n_tokens,
         |  round(${Tables.qualityScoreSql}, 6) AS score
         |FROM m ORDER BY doc_id""".stripMargin,
    "pipeline_e2e" ->
      s"""WITH corpus AS (SELECT doc_id, text FROM documents
         |    UNION ALL SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0),
         |m AS (SELECT doc_id, text,
         |    CAST(length(text) AS DOUBLE) AS nc, CAST(len($toks) AS DOUBLE) AS nt,
         |    CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS DOUBLE) AS np,
         |    CAST(len(regexp_extract_all(lower(text), '\\b(the|and|of|to|in|is|a|for|on|with|as|by|at|it)\\b')) AS DOUBLE) AS ns,
         |    $en AS en, $de AS de, $fr AS fr, $es AS es
         |  FROM corpus),
         |scored AS (SELECT doc_id, text, CAST(nt AS BIGINT) AS toks,
         |    round(
         |      (CASE WHEN nc >= 100 AND nc <= 10000 THEN 1.0 WHEN nc >= 20 THEN 0.5 ELSE 0.0 END) * 0.3 +
         |      (CASE WHEN np / greatest(nc, 1.0) <= 0.1 THEN 1.0 WHEN np / greatest(nc, 1.0) <= 0.3 THEN 0.5 ELSE 0.0 END) * 0.2 +
         |      (CASE WHEN ns / greatest(nt, 1.0) >= 0.05 AND ns / greatest(nt, 1.0) <= 0.6 THEN 1.0 ELSE 0.3 END) * 0.3 +
         |      (CASE WHEN nc / greatest(nt, 1.0) >= 3.0 AND nc / greatest(nt, 1.0) <= 12.0 THEN 1.0 ELSE 0.3 END) * 0.2, 6) AS score,
         |    CASE WHEN en > 0 AND en >= de AND en >= fr AND en >= es THEN 'en'
         |         WHEN de > 0 AND de >= fr AND de >= es THEN 'de'
         |         WHEN fr > 0 AND fr >= es THEN 'fr'
         |         WHEN es > 0 THEN 'es' ELSE 'und' END AS detected
         |  FROM m),
         |clean AS (SELECT min(doc_id) AS doc_id, max(toks) AS toks FROM scored
         |  WHERE score >= 0.7 AND detected = 'en' GROUP BY text)
         |SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(toks) AS BIGINT) AS total_tokens,
         |  CAST(min(doc_id) AS BIGINT) AS first_doc
         |FROM clean""".stripMargin,
    "lm_score" ->
      s"""$LmSqlCtes
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams, round(avg(lp), 4) AS avg_logp
         |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "lm_backoff" ->
      s"""WITH tr AS (SELECT $toks AS tk FROM documents WHERE doc_id >= 50),
         |tbg AS (SELECT unnest(${ngramsSql(2)}) AS bg FROM tr),
         |c2 AS (SELECT bg, CAST(count(*) AS BIGINT) AS c2 FROM tbg GROUP BY 1),
         |tw AS (SELECT unnest(tk) AS w FROM tr),
         |c1 AS (SELECT w, CAST(count(*) AS BIGINT) AS c1 FROM tw GROUP BY 1),
         |nv AS (SELECT CAST(sum(c1) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS v FROM c1),
         |ev AS (SELECT doc_id, unnest(${ngramsSql(2)}) AS bg
         |       FROM (SELECT doc_id, $toks AS tk FROM documents WHERE doc_id < 50)),
         |sc AS (SELECT doc_id, (c2.c2 IS NULL) AS backed,
         |    CASE WHEN c2.c2 IS NOT NULL
         |      THEN ln(CAST(c2.c2 AS DOUBLE) / a.c1)
         |      ELSE ln(0.4e0 * CAST(coalesce(b.c1, 0) + 1 AS DOUBLE) / (nv.n + nv.v))
         |    END AS ls
         |  FROM ev LEFT JOIN c2 USING (bg)
         |  LEFT JOIN c1 a ON a.w = string_split(ev.bg, ' ')[1]
         |  LEFT JOIN c1 b ON b.w = string_split(ev.bg, ' ')[2]
         |  CROSS JOIN nv)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |  round(CAST(sum(CAST(floor(ls * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
         |    / count(*) / 1e6, 4) AS avg_logs,
         |  round(CAST(sum(CASE WHEN backed THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*), 4) AS backoff_rate
         |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "lm_kneser_ney" ->
      s"""WITH tr AS (SELECT $toks AS tk FROM documents WHERE doc_id >= 50),
         |tbg AS (SELECT unnest(${ngramsSql(2)}) AS bg FROM tr),
         |c2 AS (SELECT bg, CAST(count(*) AS BIGINT) AS c2 FROM tbg GROUP BY 1),
         |fw AS (SELECT string_split(bg, ' ')[1] AS w1, CAST(sum(c2) AS BIGINT) AS c1,
         |    CAST(count(*) AS BIGINT) AS n1fw FROM c2 GROUP BY 1),
         |bw AS (SELECT string_split(bg, ' ')[2] AS w2, CAST(count(*) AS BIGINT) AS n1bw
         |  FROM c2 GROUP BY 1),
         |gl AS (SELECT CAST(sum(n1bw) AS BIGINT) AS n1all, CAST(count(*) AS BIGINT) AS vcont FROM bw),
         |ev AS (SELECT doc_id, unnest(${ngramsSql(2)}) AS bg
         |       FROM (SELECT doc_id, $toks AS tk FROM documents WHERE doc_id < 50)),
         |sc AS (SELECT doc_id, (f.c1 IS NULL) AS novel,
         |    ln(CASE WHEN f.c1 IS NOT NULL
         |      THEN greatest(CAST(coalesce(c2.c2, 0) AS DOUBLE) - 0.75e0, 0e0) / f.c1
         |        + 0.75e0 * f.n1fw / f.c1
         |          * (CAST(coalesce(b.n1bw, 0) + 1 AS DOUBLE) / (g.n1all + g.vcont + 1))
         |      ELSE CAST(coalesce(b.n1bw, 0) + 1 AS DOUBLE) / (g.n1all + g.vcont + 1)
         |    END) AS ls
         |  FROM ev
         |  LEFT JOIN c2 USING (bg)
         |  LEFT JOIN fw f ON f.w1 = string_split(ev.bg, ' ')[1]
         |  LEFT JOIN bw b ON b.w2 = string_split(ev.bg, ' ')[2]
         |  CROSS JOIN gl g)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |  round(CAST(sum(CAST(floor(ls * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
         |    / count(*) / 1e6, 4) AS avg_logp,
         |  round(CAST(sum(CASE WHEN novel THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*), 4) AS novel_rate
         |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "ccnet_bucket" ->
      s"""$LmSqlCtes,
         |lm AS (SELECT doc_id, round(avg(lp), 4) AS avg_logp FROM sc GROUP BY doc_id),
         |b AS (SELECT doc_id, avg_logp,
         |    ntile(3) OVER (ORDER BY avg_logp DESC, doc_id) AS bucket FROM lm)
         |SELECT CAST(bucket AS INTEGER) AS bucket,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  round(avg(avg_logp), 4) AS mean_logp
         |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,
    "readability_score" ->
      s"""WITH m AS (SELECT lang,
         |    greatest(CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT), 1) AS w,
         |    greatest(CAST(len(regexp_extract_all(text, '[.!?]')) AS BIGINT), 1) AS sents,
         |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS syl
         |  FROM documents),
         |f AS (SELECT lang, $FleschSql AS fs FROM m),
         |b AS (SELECT lang, fs, $FleschBucketSql AS bucket FROM f)
         |SELECT lang, bucket, CAST(count(*) AS BIGINT) AS n_docs,
         |  round(CAST(sum(CAST(floor(fs * 1e4 + 0.5) AS BIGINT)) AS DOUBLE)
         |    / count(*) / 1e4, 4) AS mean_flesch
         |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "doc_quality_gate" ->
      s"""WITH m AS (${Tables.qualityMetricsSql()}),
         |f AS (SELECT
         |    (nt < 5 OR nt > 10000) AS f_tokens,
         |    NOT (nc / greatest(nt, 1.0) BETWEEN 2.0 AND 12.0) AS f_wordlen,
         |    (np / greatest(nc, 1.0) > 0.3) AS f_punct,
         |    (ns / greatest(nt, 1.0) < 0.02) AS f_stop
         |  FROM m)
         |SELECT CAST(count(*) AS BIGINT) AS n_total,
         |  CAST(count(CASE WHEN f_tokens THEN 1 END) AS BIGINT) AS fail_tokens,
         |  CAST(count(CASE WHEN f_wordlen THEN 1 END) AS BIGINT) AS fail_wordlen,
         |  CAST(count(CASE WHEN f_punct THEN 1 END) AS BIGINT) AS fail_punct,
         |  CAST(count(CASE WHEN f_stop THEN 1 END) AS BIGINT) AS fail_stop,
         |  CAST(count(CASE WHEN NOT f_tokens AND NOT f_wordlen
         |    AND NOT f_punct AND NOT f_stop THEN 1 END) AS BIGINT) AS survivors
         |FROM f""".stripMargin,
    "tfidf_top" ->
      s"""WITH tok AS (SELECT doc_id, unnest($toks) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok WHERE doc_id < 100 GROUP BY 1, 2),
         |dfreq AS (SELECT term, count(*) AS df FROM (SELECT DISTINCT doc_id, term FROM tok) GROUP BY term),
         |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
         |scored AS (SELECT doc_id, tf.term AS term, tf * ln(n.n / df) AS tfidf
         |  FROM tf JOIN dfreq USING (term), n)
         |SELECT doc_id, term, round(tfidf, 6) AS tfidf FROM (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn
         |  FROM scored) WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    // tfm is corpus-sized and referenced three times → AS MATERIALIZED
    // (CLAUDE.md oracle rule); tf * CAST(2.2 AS DOUBLE) forces the double
    // multiply Spark performs — a bare 2.2 literal is DECIMAL in DuckDB
    // and BIGINT×DECIMAL stays exact (3·2.2 = 6.6 vs double
    // 6.6000000000000005), a last-ulp engine split (review-caught; the
    // decimal DIVISIONS are safe — DuckDB promotes those to DOUBLE)
    "rake_keywords" ->
      s"""WITH toks AS (SELECT doc_id, $toks AS tk FROM documents),
         |tok AS (SELECT doc_id, u.i, tk[u.i] AS w
         |  FROM toks, UNNEST(range(1, len(tk) + 1)) u(i)),
         |ns AS (SELECT doc_id, i, w,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY i) AS rn
         |  FROM tok WHERE w NOT IN ('the', 'and', 'of', 'to', 'in', 'is', 'a',
         |    'for', 'on', 'with', 'as', 'by', 'at', 'it')),
         |phr AS MATERIALIZED (
         |  SELECT array_to_string(list(w ORDER BY i), ' ') AS phrase,
         |    list(w ORDER BY i) AS ws
         |  FROM ns GROUP BY doc_id, i - rn),
         |wsc AS (SELECT w, (CAST(sum(len) AS BIGINT) * 1000000)
         |    // CAST(count(*) AS BIGINT) AS ws6
         |  FROM (SELECT unnest(ws) AS w, len(ws) AS len FROM phr) z GROUP BY 1),
         |occ AS (SELECT phrase, CAST(count(*) AS BIGINT) AS n_occ
         |  FROM phr GROUP BY 1),
         |uniq AS (SELECT DISTINCT phrase, ws FROM phr),
         |sc AS (SELECT phrase, CAST(count(*) AS BIGINT) AS n_words,
         |    CAST(sum(ws6) AS BIGINT) AS score6
         |  FROM (SELECT phrase, unnest(ws) AS w FROM uniq) z JOIN wsc USING (w)
         |  GROUP BY 1)
         |SELECT CAST(rn AS BIGINT) AS rank, phrase, n_words, n_occ, score6 FROM (
         |  SELECT sc.phrase, sc.n_words, occ.n_occ, sc.score6,
         |    row_number() OVER (ORDER BY sc.score6 DESC, sc.phrase) AS rn
         |  FROM sc JOIN occ USING (phrase)) z
         |WHERE rn <= 10 ORDER BY rank""".stripMargin,
    "bm25_prf" ->
      s"""WITH toks AS (SELECT doc_id, $toks AS tk FROM documents),
         |terms AS (SELECT doc_id, unnest(${ngramsSql(2)}) AS term FROM toks),
         |tfm AS MATERIALIZED (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
         |  FROM terms GROUP BY doc_id, term),
         |dlen AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tfm GROUP BY doc_id),
         |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(dl) AS BIGINT) AS total_len FROM dlen),
         |dfm AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tfm GROUP BY term),
         |p6 AS MATERIALIZED (
         |  SELECT tfm.term, tfm.doc_id,
         |    CAST(floor(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
         |      * (tf * CAST(2.2 AS DOUBLE)) / (tf
         |        + 1.2 * (1.0 - 0.75 + 0.75 * dl
         |          / (CAST(total_len AS DOUBLE) / n_docs))) * 1e6 + 0.5) AS BIGINT) AS p6
         |  FROM tfm JOIN dfm USING (term) JOIN dlen USING (doc_id) CROSS JOIN stats),
         |q0(qid, term) AS (VALUES (0, 'hash join'), (0, 'table scan'),
         |  (1, 'merge sort'), (1, 'batch stream'),
         |  (2, 'slow query'), (2, 'fast scan')),
         |s1 AS (SELECT q0.qid, p6.doc_id, CAST(sum(p6.p6) AS BIGINT) AS sc1
         |  FROM q0 JOIN p6 USING (term) GROUP BY 1, 2),
         |fb AS MATERIALIZED (SELECT qid, doc_id FROM (
         |  SELECT qid, doc_id,
         |    row_number() OVER (PARTITION BY qid ORDER BY sc1 DESC, doc_id) AS rk
         |  FROM s1) z WHERE rk <= 3),
         |votes AS (SELECT fb.qid, tfm.term, CAST(sum(tfm.tf) AS BIGINT) AS wsum
         |  FROM fb JOIN tfm USING (doc_id)
         |  GROUP BY 1, 2),
         |cand AS (SELECT v.qid, v.term,
         |    CAST(floor(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * 1e6 + 0.5)
         |      AS BIGINT) * v.wsum AS esc
         |  FROM votes v JOIN dfm USING (term) CROSS JOIN stats
         |  WHERE NOT EXISTS (SELECT 1 FROM q0
         |    WHERE q0.qid = v.qid AND q0.term = v.term)),
         |exp AS (SELECT qid, term FROM (
         |  SELECT qid, term,
         |    row_number() OVER (PARTITION BY qid ORDER BY esc DESC, term) AS rk
         |  FROM cand) z WHERE rk <= 2),
         |allq AS (SELECT qid, term, CAST(10 AS BIGINT) AS w FROM q0
         |  UNION ALL SELECT qid, term, CAST(5 AS BIGINT) AS w FROM exp),
         |s2 AS (SELECT allq.qid, p6.doc_id,
         |    CAST(sum(allq.w * p6.p6) AS BIGINT) AS score6w
         |  FROM allq JOIN p6 USING (term) GROUP BY 1, 2)
         |SELECT CAST(qid AS BIGINT) AS qid, doc_id, score6w, CAST(rn AS BIGINT) AS rank
         |FROM (SELECT qid, doc_id, score6w,
         |    row_number() OVER (PARTITION BY qid ORDER BY score6w DESC, doc_id) AS rn
         |  FROM s2) z
         |WHERE rn <= 5 ORDER BY qid, rank""".stripMargin,
    "bm25_search" ->
      s"""WITH toks AS (SELECT doc_id, $toks AS tk FROM documents),
         |terms AS (SELECT doc_id, unnest(${ngramsSql(2)}) AS term FROM toks),
         |tfm AS MATERIALIZED (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
         |  FROM terms GROUP BY doc_id, term),
         |dlen AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tfm GROUP BY doc_id),
         |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(dl) AS BIGINT) AS total_len FROM dlen),
         |dfm AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tfm GROUP BY term),
         |q(qid, term) AS (VALUES (0, 'hash join'), (0, 'table scan'),
         |  (1, 'merge sort'), (1, 'batch stream'),
         |  (2, 'slow query'), (2, 'fast scan')),
         |scored AS (
         |  SELECT q.qid, tfm.doc_id,
         |    sum(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
         |      * (tf * CAST(2.2 AS DOUBLE)) / (tf
         |        + 1.2 * (1.0 - 0.75 + 0.75 * dl
         |          / (CAST(total_len AS DOUBLE) / n_docs)))) AS score
         |  FROM q JOIN tfm USING (term) JOIN dfm USING (term)
         |    JOIN dlen USING (doc_id) CROSS JOIN stats
         |  GROUP BY q.qid, tfm.doc_id)
         |SELECT CAST(qid AS BIGINT) AS qid, doc_id,
         |  floor(score * 1e6 + 0.5) / 1e6 AS score, CAST(rn AS BIGINT) AS rank
         |FROM (SELECT qid, doc_id, score,
         |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rn
         |  FROM scored)
         |WHERE rn <= 10 ORDER BY qid, rank""".stripMargin,
"bm25_incremental" ->
      s"""WITH toks AS (SELECT doc_id, $toks AS tk FROM documents),
         |terms AS (SELECT doc_id, unnest(${ngramsSql(2)}) AS term FROM toks),
         |tfm AS MATERIALIZED (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
         |  FROM terms GROUP BY doc_id, term),
         |dlen AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tfm GROUP BY doc_id),
         |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(dl) AS BIGINT) AS total_len FROM dlen),
         |dfm AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tfm GROUP BY term),
         |q(qid, term) AS (VALUES (0, 'hash join'), (0, 'table scan'),
         |  (1, 'merge sort'), (1, 'batch stream'),
         |  (2, 'slow query'), (2, 'fast scan')),
         |scored AS (
         |  SELECT q.qid, tfm.doc_id,
         |    sum(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
         |      * (tf * CAST(2.2 AS DOUBLE)) / (tf
         |        + 1.2 * (1.0 - 0.75 + 0.75 * dl
         |          / (CAST(total_len AS DOUBLE) / n_docs)))) AS score
         |  FROM q JOIN tfm USING (term) JOIN dfm USING (term)
         |    JOIN dlen USING (doc_id) CROSS JOIN stats
         |  GROUP BY q.qid, tfm.doc_id)
         |SELECT CAST(qid AS BIGINT) AS qid, doc_id,
         |  floor(score * 1e6 + 0.5) / 1e6 AS score, CAST(rn AS BIGINT) AS rank
         |FROM (SELECT qid, doc_id, score,
         |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rn
         |  FROM scored)
         |WHERE rn <= 10 ORDER BY qid, rank""".stripMargin,
    "doc_chunks" ->
      s"""WITH tk AS (SELECT doc_id, $toks AS tk FROM documents WHERE doc_id < 200),
         |ch AS (SELECT doc_id, unnest(range(1, greatest(len(tk), 1) + 1, 48)) AS st, tk FROM tk)
         |SELECT doc_id, CAST((st - 1) // 48 AS BIGINT) AS chunk_idx,
         |  array_to_string(tk[st:st+63], ' ') AS chunk_text
         |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin,
    "pii_redact" ->
      """WITH d AS (SELECT doc_id, text ||
        |    CASE WHEN doc_id % 3 = 0 THEN ' contact user' || doc_id || '@example.com' ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0 THEN ' from 192.168.1.77' ELSE '' END ||
        |    CASE WHEN doc_id % 7 = 0 THEN ' ssn 123-45-6789' ELSE '' END AS text
        |  FROM documents WHERE doc_id < 300)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
        |  CAST(len(regexp_extract_all(text, '\b\d{3}-\d{2}-\d{4}\b')) AS BIGINT) AS n_ssns,
        |  md5(regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g'),
        |    '\b\d{3}-\d{2}-\d{4}\b', '[SSN]', 'g')) AS redacted_md5
        |FROM d ORDER BY doc_id""".stripMargin,
    "fingerprint" ->
      s"""WITH tk AS (SELECT doc_id,
         |    md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g'))) AS fp,
         |    $toks AS t FROM documents)
         |SELECT doc_id, fp,
         |  list_min(list_transform(${ngramsSql(4, "t")},
         |    g -> substr(md5(g), 1, 16))) AS min_shingle_fp
         |FROM tk ORDER BY doc_id""".stripMargin,
    "vocab_drift" ->
      s"""WITH terms AS (
         |  SELECT doc_id % 2 AS half,
         |    unnest(${ngramsSql(2)}) AS tok
         |  FROM (SELECT doc_id, $toks AS tk FROM documents WHERE text IS NOT NULL)),
         |counts AS (
         |  SELECT tok,
         |    CAST(count(CASE WHEN half = 0 THEN 1 END) AS BIGINT) AS na,
         |    CAST(count(CASE WHEN half = 1 THEN 1 END) AS BIGINT) AS nb
         |  FROM terms GROUP BY 1),
         |tot AS (SELECT sum(na) AS ta, sum(nb) AS tb, count(*) AS v FROM counts)
         |SELECT tok, na, nb, floor(score * 1e6 + 0.5) / 1e6 AS score FROM (
         |  SELECT tok, na, nb,
         |    ln((CAST(na + 1 AS DOUBLE) / (ta + v)) / (CAST(nb + 1 AS DOUBLE) / (tb + v)))
         |      AS score
         |  FROM counts CROSS JOIN tot)
         |ORDER BY floor(abs(score) * 1e6 + 0.5) / 1e6 DESC, tok LIMIT 20""".stripMargin,
    "ngram_novelty" ->
      s"""WITH sh AS (
         |  SELECT doc_id,
         |    unnest(list_distinct(${ngramsSql(3)})) AS sh
         |  FROM (SELECT doc_id, $toks AS tk FROM documents WHERE text IS NOT NULL)),
         |f AS (
         |  SELECT doc_id, min(doc_id) OVER (PARTITION BY sh) AS first_doc FROM sh)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
         |  CAST(count(CASE WHEN doc_id = first_doc THEN 1 END) AS BIGINT) AS n_novel,
         |  floor(CAST(count(CASE WHEN doc_id = first_doc THEN 1 END) AS DOUBLE)
         |    / count(*) * 1e6 + 0.5) / 1e6 AS novelty
         |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,
    "lang_confusion" ->
      s"""WITH d AS (
         |  SELECT lang,
         |    CASE WHEN $en > 0 AND $en >= $de AND $en >= $fr AND $en >= $es THEN 'en'
         |         WHEN $de > 0 AND $de >= $fr AND $de >= $es THEN 'de'
         |         WHEN $fr > 0 AND $fr >= $es THEN 'fr'
         |         WHEN $es > 0 THEN 'es'
         |         ELSE 'und' END AS detected
         |  FROM documents WHERE lang IS NOT NULL AND text IS NOT NULL),
         |m AS (SELECT lang, detected, CAST(count(*) AS BIGINT) AS n
         |  FROM d GROUP BY 1, 2)
         |SELECT lang, detected, n,
         |  floor(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY lang) * 1e6 + 0.5) / 1e6
         |    AS share
         |FROM m ORDER BY lang, detected""".stripMargin,
    "gopher_rules" ->
      s"""WITH d AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
         |o AS (SELECT max(doc_id) + 1 AS off FROM d),
         |corpus AS (
         |  SELECT doc_id, text, 'natural' AS family FROM d
         |  UNION ALL SELECT doc_id + o.off,
         |    array_to_string((${Tables.toksSql()})[1:5], ' '), 'short'
         |  FROM d, o WHERE doc_id % 40 = 0
         |  UNION ALL SELECT doc_id + 2 * o.off,
         |    text || ' ${Seq.fill(16)("#").mkString(" ")}', 'symbol'
         |  FROM d, o WHERE doc_id % 40 = 20
         |  UNION ALL SELECT doc_id + 3 * o.off,
         |    regexp_replace(text, '\\s+', '', 'g'), 'glued'
         |  FROM d, o WHERE doc_id % 40 = 30),
         |m AS (SELECT doc_id, family,
         |    CAST(len(${Tables.toksSql()}) AS BIGINT) AS nw,
         |    CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS BIGINT)
         |      AS nonspace,
         |    CAST(len(regexp_extract_all(text, '#|\\.\\.\\.|…')) AS BIGINT) AS sym,
         |    CAST(len(regexp_extract_all(lower(text),
         |      '\\b(the|and|of|to|in|is|a|for|on|with|as|by|at|it)\\b')) AS BIGINT)
         |      AS ns
         |  FROM corpus),
         |r AS (SELECT doc_id, family,
         |    nw < 20 OR nw > 100000 AS f_wc,
         |    (nonspace * 1000000) // greatest(nw, 1) < 3000000
         |      OR (nonspace * 1000000) // greatest(nw, 1) > 10000000 AS f_wl,
         |    sym * 10 > nw AS f_sym,
         |    ns < 2 AS f_stop
         |  FROM m)
         |SELECT family, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(CASE WHEN f_wc THEN 1 END) AS BIGINT) AS fail_wordcount,
         |  CAST(count(CASE WHEN f_wl THEN 1 END) AS BIGINT) AS fail_wordlen,
         |  CAST(count(CASE WHEN f_sym THEN 1 END) AS BIGINT) AS fail_symbol,
         |  CAST(count(CASE WHEN f_stop THEN 1 END) AS BIGINT) AS fail_stopword,
         |  CAST(count(CASE WHEN NOT f_wc AND NOT f_wl AND NOT f_sym AND NOT f_stop
         |    THEN 1 END) AS BIGINT) AS n_pass,
         |  CAST(coalesce(sum(CASE WHEN NOT f_wc AND NOT f_wl AND NOT f_sym
         |    AND NOT f_stop THEN CAST(doc_id AS HUGEINT) END), 0)
         |    % 1000000000000000000 AS BIGINT) AS pass_id_sum
         |FROM r GROUP BY family ORDER BY family""".stripMargin,
    "ngram_repetition" ->
      s"""WITH base AS (SELECT doc_id, source, text FROM documents
         |  WHERE text IS NOT NULL),
         |docs AS (SELECT doc_id, source, text, FALSE AS planted FROM base
         |  UNION ALL SELECT doc_id, source, text || ' ' || text, TRUE
         |  FROM base WHERE doc_id % 25 = 0),
         |tk AS (SELECT doc_id, source, planted, ${Tables.toksSql()} AS tk
         |  FROM docs),
         |g AS (SELECT doc_id, source, planted,
         |    unnest(${ngramsSql(3)}) AS g
         |  FROM tk),
         |c AS (SELECT doc_id, source, planted, g, CAST(count(*) AS BIGINT) AS c
         |  FROM g GROUP BY 1, 2, 3, 4),
         |d AS (SELECT doc_id, source, planted, sum(c) AS tt,
         |    sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS r
         |  FROM c GROUP BY 1, 2, 3),
         |p AS (SELECT source, planted,
         |    CAST((r * 1000000) // greatest(tt, 1) AS BIGINT) AS rep6
         |  FROM d)
         |SELECT source, planted, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(rep6) // count(*) AS BIGINT) AS mean_rep6,
         |  CAST(count(CASE WHEN rep6 >= 500000 THEN 1 END) AS BIGINT)
         |    AS n_flagged
         |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "vocab_coverage" ->
      s"""WITH tc AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM (
         |    SELECT unnest($toks) AS w FROM documents WHERE text IS NOT NULL)
         |  GROUP BY 1),
         |r AS (SELECT c, row_number() OVER (ORDER BY c DESC, w) AS r,
         |    sum(c) OVER () AS tot
         |  FROM tc),
         |g AS (SELECT CAST(unnest([10, 100, 1000]) AS BIGINT) AS k)
         |SELECT k, CAST(count(*) AS BIGINT) AS n_vocab,
         |  floor(CAST(sum(c) AS DOUBLE) / max(tot) * 1e6 + 0.5) / 1e6 AS mass_share
         |FROM r JOIN g ON r.r <= g.k
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "tokenizer_fertility" ->
      // s-interpolated ON PURPOSE: the s-interpolator processes \\ escapes
      // in triple quotes (a raw """ does not), and the regex must reach
      // DuckDB as \s — the same reason every other regex oracle here is
      // s-prefixed
      s"""SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(length(text)) AS BIGINT) AS n_chars,
        |  CAST(sum(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\\s]')))
        |    AS BIGINT) AS n_bpe,
        |  floor(CAST(sum(length(text)) AS DOUBLE)
        |    / nullif(CAST(sum(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\\s]'))) AS BIGINT), 0)
        |    * 1e4 + 0.5) / 1e4 AS chars_per_token
        |FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "token_zipf" ->
      s"""WITH tok AS (
         |  SELECT source, unnest($toks) AS w
         |  FROM documents WHERE text IS NOT NULL),
         |tc AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2),
         |rk AS (SELECT source, w, c,
         |    row_number() OVER (PARTITION BY source ORDER BY c DESC, w) AS r
         |  FROM tc),
         |top AS (SELECT source, ln(CAST(r AS DOUBLE)) AS x, ln(CAST(c AS DOUBLE)) AS y
         |  FROM rk WHERE r <= 100)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_ranks,
         |  floor((count(*) * sum(x*y) - sum(x) * sum(y))
         |    / (count(*) * sum(x*x) - sum(x) * sum(x)) * 1e4 + 0.5) / 1e4
         |    AS zipf_slope
         |FROM top GROUP BY 1 ORDER BY 1""".stripMargin,
    "df_spectrum" ->
      s"""WITH sh AS (
         |  SELECT doc_id,
         |    unnest(list_distinct(${ngramsSql(3)})) AS s
         |  FROM (SELECT doc_id, $toks AS tk FROM documents WHERE text IS NOT NULL)),
         |df AS (SELECT s, CAST(count(*) AS BIGINT) AS df FROM sh GROUP BY 1)
         |SELECT least(df, 21) AS df_bucket, CAST(count(*) AS BIGINT) AS n_shingles
         |FROM df GROUP BY 1 ORDER BY 1""".stripMargin,
    "length_tail" ->
      """WITH r AS (
        |  SELECT source, n_chars, doc_id,
        |    row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rk
        |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0),
        |thr AS (SELECT source, n_chars AS x_k1 FROM r WHERE rk = 21),
        |top AS (
        |  SELECT r.source, ln(CAST(r.n_chars AS DOUBLE) / t.x_k1) AS lr
        |  FROM r JOIN thr t ON r.source = t.source WHERE r.rk <= 20)
        |SELECT source, CAST(count(*) AS BIGINT) AS k,
        |  floor(count(*) / nullif(sum(lr), 0) * 1e4 + 0.5) / 1e4 AS hill_alpha
        |FROM top GROUP BY 1 ORDER BY 1""".stripMargin)
}
