package graft.queries

import graft.functions.TextFns
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Model-based data-selection operators — the "train a small model, score
  * the corpus" family of a production pretraining pipeline (FineWeb/DCLM
  * quality classifiers; DoReMi domain reweighting):
  *
  *   - quality_classifier: a deterministic logistic-regression quality
  *     model, trained driver-side on a fixed id-ordered sample (the
  *     trained-oracle pattern of sim_ivf_kmeans/sim_pq: the fit is a pure
  *     function of the corpus, and the oracle refits and inlines the
  *     weights as SQL literals), scored distributedly over exact
  *     TextStats features.
  *   - doremi_weights: DoReMi-style domain reweighting (Xie et al. 2023,
  *     "Doremi: Optimizing Data Mixtures") with a deterministic excess
  *     metric: per-domain KL(domain ‖ corpus) over 256 hashed-bigram
  *     buckets (exact micro-unit BIGINT arithmetic, dsir_weights'
  *     discipline), then 8 unrolled multiplicative-weights rounds with
  *     uniform smoothing on the config-sized domain table.
  *
  * Both are one-corpus-pass designs: model state is sample-sized or
  * 256-bucket-sized whatever the corpus size.
  */
object QueriesTrain {

  // ---- quality_classifier -------------------------------------------------

  /** Fixed training hyperparameters — part of the operator's definition
    * (both the query and the refitting oracle depend on them). */
  private val QcSample = 256
  private val QcIters = 300
  private val QcLr = 1.0

  /** Deterministic logistic-regression fit: the first [[QcSample]] docs in
    * doc_id order, label = the rule-based quality gate (qualityScore ≥
    * 0.8 — the model DISTILLS the step-function teacher into one linear
    * scorer, the FineWeb/DCLM pattern of compiling expensive judgments
    * into a cheap classifier), full-batch gradient descent from zero
    * init — a pure function of the corpus (same contract as
    * Ivf.trainSampled), memoized per data dir so query + oracle dump train
    * once. Features are the exact TextStats counters scaled by fixed
    * constants; the fold order is the collected doc_id order, so the fit
    * is bit-reproducible. */
  private val qcCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Double]]()
  private def qcWeights(s: org.apache.spark.sql.SparkSession, dir: String)
      : Array[Double] =
    qcCache.computeIfAbsent(dir, _ => {
      val m = col("m") // shared session TextStats frame (Tables.docStats, r14)
      val rows = Tables.docStats(s, dir)
        .orderBy(col("doc_id")).limit(QcSample)
        .select(m.getField("n_chars").cast(DoubleType).as("nc"),
          m.getField("n_tokens").cast(DoubleType).as("nt"),
          m.getField("n_punct").cast(DoubleType).as("np"),
          m.getField("n_stop").cast(DoubleType).as("ns"),
          (TextFns.qualityScoreFrom(m) >= 0.8).cast(IntegerType).as("y"))
        .collect()
        .map(r => (qcFeats(r.getDouble(0), r.getDouble(1), r.getDouble(2),
          r.getDouble(3)), r.getInt(4).toDouble))
      val n = rows.length.toDouble
      // standardize for optimization only (raw feature scales saturate the
      // sigmoid and GD stalls at the majority class); μ/σ fold back into
      // the returned weights so scoring stays one raw-feature linear chain
      val mu = Array.tabulate(4)(i => rows.map(_._1(i)).sum / n)
      val sd = Array.tabulate(4) { i =>
        val v = rows.map(r => (r._1(i) - mu(i)) * (r._1(i) - mu(i))).sum / n
        math.max(math.sqrt(v), 1e-9)
      }
      val w = Array.fill(5)(0.0)
      for (_ <- 1 to QcIters) {
        val g = Array.fill(5)(0.0)
        rows.foreach { case (x, y) =>
          var z = w(0)
          var i = 0
          while (i < 4) { z += w(i + 1) * (x(i) - mu(i)) / sd(i); i += 1 }
          val e = 1.0 / (1.0 + math.exp(-z)) - y
          g(0) += e
          i = 0
          while (i < 4) { g(i + 1) += e * (x(i) - mu(i)) / sd(i); i += 1 }
        }
        var i = 0
        while (i < 5) { w(i) -= QcLr * g(i) / n; i += 1 }
      }
      val out = Array.fill(5)(0.0)
      out(0) = w(0) - (0 until 4).map(i => w(i + 1) * mu(i) / sd(i)).sum
      for (i <- 0 until 4) out(i + 1) = w(i + 1) / sd(i)
      out
    })

  /** The four features, identically derived on the driver (training), in
    * the Spark scorer, and in the DuckDB oracle: scaled token count, mean
    * word length, punctuation ratio, stopword ratio — all from exact
    * BIGINT counters, so the doubles agree bit-for-bit across engines. */
  private def qcFeats(nc: Double, nt: Double, np: Double, ns: Double)
      : Array[Double] =
    Array(nt / 100.0, nc / math.max(nt, 1.0), np / math.max(nc, 1.0),
      ns / math.max(nt, 1.0))

  val queries: Map[String, Q] = Map(
    // Model-based quality filtering (the FineWeb/DCLM pipeline step,
    // distillation flavor: compile the step-function rule gate into ONE
    // linear scorer): a logistic-regression model trained driver-side on
    // the first-256-docs sample against the qualityScore ≥ 0.8 teacher,
    // applied distributedly as ONE codegen'd arithmetic chain over the
    // fused TextStats scan — no model object at scoring time, just 5
    // literal weights. The decision threshold is score > 0 (sigmoid is
    // monotone — no exp in the distributed plan), and the mean score
    // folds in micro-unit BIGINTs (dsir_weights' order-independence
    // discipline). Output: per-source predicted-keep counts + fidelity to
    // the teacher gate.
    "quality_classifier" -> ((s, dir) => {
      val w = qcWeights(s, dir)
      val m = col("m") // shared session TextStats frame (Tables.docStats, r14)
      val nc = m.getField("n_chars").cast(DoubleType)
      val nt = m.getField("n_tokens").cast(DoubleType)
      val np = m.getField("n_punct").cast(DoubleType)
      val ns = m.getField("n_stop").cast(DoubleType)
      val sc = lit(w(0)) +
        lit(w(1)) * (nt / 100.0) +
        lit(w(2)) * (nc / greatest(nt, lit(1.0))) +
        lit(w(3)) * (np / greatest(nc, lit(1.0))) +
        lit(w(4)) * (ns / greatest(nt, lit(1.0)))
      Tables.docStats(s, dir)
        .select(col("source"), sc.as("sc"),
          (TextFns.qualityScoreFrom(m) >= 0.8).as("hi"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("sc") > 0, 1L).otherwise(0L)).as("n_pred_hi"),
          sum(when((col("sc") > 0) === col("hi"), 1L)
            .otherwise(0L)).as("n_agree"),
          round(sum(floor(col("sc") * 1e6 + 0.5)).cast(DoubleType)
            / count(lit(1)) / 1e6, 4).as("mean_score"))
        .orderBy(col("source"))
    }),

    // Reliability diagram + expected calibration error (Guo et al. 2017's
    // ECE, 10 equal-width bins) for the stopword-ratio confidence signal
    // against the rule-gate teacher (qualityScore ≥ 0.8) — the "can I
    // trust this cheap score as a probability" card a pipeline runs before
    // using a heuristic as a sampling weight. EVERYTHING is exact integer
    // µ-units: per-doc confidence s6 = (n_stop·1e6) DIV max(n_tokens,1)
    // (stop tokens ⊆ tokens so s6 ≤ 1e6), bin = min(s6 DIV 1e5, 9) — no
    // doubles anywhere near a bin boundary, so no cross-engine binning
    // flake — and per-bin conf/acc/|gap| plus the n-weighted ECE summary
    // row (bin = −1) are BIGINT folds that commute. One fused TextStats
    // corpus pass, one 10-group aggregate; the summary reuses the bin
    // frame, never a second corpus scan.
    // r15 REVERT (r14 verdict #5): the docStats rewiring measured 0.79× in
    // the r14 canonical sweep and the settle A/B confirmed it (min-of-3
    // isolated: direct scan 1.02 s vs docStats form 1.53 s — this card is
    // the alphabetically-FIRST docStats consumer, so it paid the shared
    // cache BUILD where the direct fused scan is one cheap pass). Restored.
    "calibration_ece" -> ((s, dir) => {
      val m = TextFns.textStats(col("text"))
      val scored = t(s, dir, "documents").select(
          m.getField("n_stop").cast(LongType).as("ns"),
          m.getField("n_tokens").cast(LongType).as("nt"),
          (TextFns.qualityScoreFrom(m) >= 0.8).cast(LongType).as("y"))
        .select(expr("(ns * 1000000) DIV greatest(nt, 1)").as("s6"), col("y"))
        .withColumn("bin", least(expr("s6 DIV 100000"), lit(9L)))
      val bins = scored.groupBy(col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("s6")).as("s6sum"),
          sum(col("y")).as("ysum"))
        .withColumn("conf6", expr("s6sum DIV n_docs"))
        .withColumn("acc6", expr("(ysum * 1000000) DIV n_docs"))
        // ≤10 rows, referenced by BOTH union branches: without the
        // checkpoint each branch re-runs the full TextStats corpus scan
        .localCheckpoint(false)
      val summary = bins.agg(sum(col("n_docs")).as("n"),
          sum(col("s6sum")).as("ss"), sum(col("ysum")).as("ys"),
          sum(expr("n_docs * abs(acc6 - conf6)")).as("wgap"))
        .select(lit(-1L).as("bin"), col("n").as("n_docs"),
          expr("ss DIV n").as("conf6"), expr("(ys * 1000000) DIV n").as("acc6"),
          expr("wgap DIV n").as("gap6"))
      bins.select(col("bin"), col("n_docs"), col("conf6"), col("acc6"),
          abs(col("acc6") - col("conf6")).as("gap6"))
        .unionByName(summary).orderBy(col("bin"))
    }),

    // DoReMi domain reweighting (Xie et al. 2023): per-domain excess =
    // KL(domain ‖ corpus) over 256 hashed-bigram buckets, computed from
    // ONE corpus pass as exact micro-unit BIGINT sums (each bucket's
    // −ln(p) rounds ONCE to a micro-unit BIGINT; domain sums are then
    // order-independent integer folds). The 8-round multiplicative-weights
    // loop with uniform smoothing (w ← 0.8·normalize(w·e^{0.1·excess}) +
    // 0.2/D, DoReMi Alg. 1's smoothed update) runs on the collected
    // config-sized domain table — graph-family precedent — with every
    // round's weights re-gridded to exact nano-unit BIGINTs so the oracle
    // unrolls the identical recurrence in SQL.
    "doremi_weights" -> ((s, dir) => {
      // EXACT marginalization of dsir_weights' shared per-doc bigram-bucket
      // table (counts sum over doc/lang — same integers; round 14): the
      // corpus bigram+md5 pass runs once per session for both cards.
      val perDS = QueriesPipeline.bigramBucketCounts(s, dir)
        .groupBy(col("source"), col("f")).agg(sum(col("c")).as("c"))
      val dTot = perDS.groupBy(col("source")).agg(sum(col("c")).as("cd"))
      val gBkt = perDS.groupBy(col("f")).agg(sum(col("c")).as("gc"))
      val gTot = gBkt.agg(sum(col("gc")).as("gt"))
      val lg = gBkt.crossJoin(broadcast(gTot))
        .select(col("f"), floor(-log((col("gc") + lit(1.0))
          / (col("gt") + lit(256.0))) * 1e6 + 0.5).as("lgm"))
      val dom = perDS.join(broadcast(dTot), Seq("source"))
        .join(broadcast(lg), Seq("f"))
        .select(col("source"), col("cd"),
          (col("c") * (col("lgm") - floor(-log((col("c") + lit(1.0))
            / (col("cd") + lit(256.0))) * 1e6 + 0.5))).as("term"))
        .groupBy(col("source"), col("cd"))
        .agg(sum(col("term")).as("num"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1)
      val dd = dom.length.toLong
      val st = dom.map { case (src, cd, num) =>
        val excessRaw = num.toDouble / cd / 1e6
        val u = math.floor(math.exp(1e-1 * excessRaw) * 1e6 + 0.5).toLong
        (src, cd, num, u)
      }
      var wts = st.map(_ => 1000000000L / dd)
      for (_ <- 1 to 8) {
        val p = wts.zip(st).map { case (w0, (_, _, _, u)) => w0 * u }
        val tot = p.sum
        wts = p.map(pi =>
          math.floor(((1.0 - 2e-1) * (pi.toDouble / tot) + 2e-1 / dd)
            * 1e9 + 0.5).toLong)
      }
      import s.implicits._
      st.zip(wts).map { case ((src, cd, num, _), w8) =>
        (src, cd,
          BigDecimal(num.toDouble / cd / 1e6)
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
          BigDecimal(w8.toDouble / 1e9)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.toSeq.toDF("source", "n_bigrams", "excess", "weight")
        .orderBy(col("source"))
    }))

  // ---- oracles ------------------------------------------------------------

  private val toks = Tables.toksSql()

  /** doremi_weights' oracle is static SQL: the whole computation — bucket
    * models, micro-unit KL, the 8 smoothed multiplicative-weights rounds —
    * unrolls as CTEs over the same exact integer grid the driver loop
    * uses. Double literals are written in e-notation (a bare 0.2 parses as
    * DECIMAL in DuckDB and would change the multiply semantics). */
  private def doremiRound(k: Int): String =
    s""",
       |s$k AS (SELECT CAST(sum(w${k - 1} * u) AS BIGINT) AS sm FROM r${k - 1}),
       |r$k AS (SELECT source, cd, num, u, dd,
       |    CAST(floor(((1e0 - 2e-1) * (CAST(w${k - 1} * u AS DOUBLE) / sm)
       |      + 2e-1 / dd) * 1e9 + 0.5) AS BIGINT) AS w$k
       |  FROM r${k - 1} CROSS JOIN s$k)""".stripMargin

  private val doremiSql: String =
    s"""WITH feats AS MATERIALIZED (
       |  SELECT source, substr(md5(bg), 1, 2) AS f FROM (
       |    SELECT source, unnest(${ngramsSql(2)}) AS bg
       |    FROM (SELECT source, $toks AS tk FROM documents))),
       |per_ds AS MATERIALIZED (
       |  SELECT source, f, CAST(count(*) AS BIGINT) AS c
       |  FROM feats GROUP BY 1, 2),
       |d_tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS cd
       |  FROM per_ds GROUP BY 1),
       |g_bkt AS (SELECT f, CAST(sum(c) AS BIGINT) AS gc FROM per_ds GROUP BY 1),
       |g_tot AS (SELECT CAST(sum(gc) AS BIGINT) AS gt FROM g_bkt),
       |lg AS (SELECT f, CAST(floor(-ln((gc + 1.0) / (gt + 256.0)) * 1e6 + 0.5)
       |    AS BIGINT) AS lgm FROM g_bkt CROSS JOIN g_tot),
       |dom AS (SELECT source, cd, CAST(sum(c * (lgm
       |      - CAST(floor(-ln((c + 1.0) / (cd + 256.0)) * 1e6 + 0.5) AS BIGINT)))
       |    AS BIGINT) AS num
       |  FROM per_ds JOIN d_tot USING (source) JOIN lg USING (f)
       |  GROUP BY 1, 2),
       |ddom AS (SELECT CAST(count(*) AS BIGINT) AS dd FROM dom),
       |r0 AS (SELECT source, cd, num,
       |    CAST(floor(exp(1e-1 * (CAST(num AS DOUBLE) / cd / 1e6)) * 1e6 + 0.5)
       |      AS BIGINT) AS u,
       |    dd, 1000000000 // dd AS w0
       |  FROM dom CROSS JOIN ddom)""".stripMargin +
      (1 to 8).map(doremiRound).mkString +
      """
        |SELECT source, cd AS n_bigrams,
        |  round(CAST(num AS DOUBLE) / cd / 1e6, 4) AS excess,
        |  round(CAST(w8 AS DOUBLE) / 1e9, 6) AS weight
        |FROM r8 ORDER BY source""".stripMargin

  /** quality_classifier's oracle refits the deterministic driver trainer
    * (OracleContext pattern) and inlines the 5 weights as literals; the
    * feature SQL mirrors the TextStats counters exactly (corpus_stats'
    * regex twins). */
  private def qcOracle(s: org.apache.spark.sql.SparkSession, dir: String)
      : String = {
    val w = qcWeights(s, dir)
    s"""WITH f AS (SELECT source, lang,
       |    CAST(length(text) AS DOUBLE) AS nc,
       |    CAST(len(regexp_extract_all(text, '\\S+')) AS DOUBLE) AS nt,
       |    CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS DOUBLE) AS np,
       |    CAST(len(regexp_extract_all(lower(text),
       |      '\\b(the|and|of|to|in|is|a|for|on|with|as|by|at|it)\\b')) AS DOUBLE) AS ns
       |  FROM documents),
       |sc AS (SELECT source,
       |    (${w(0)}) + (${w(1)}) * (nt / 100.0)
       |      + (${w(2)}) * (nc / greatest(nt, 1.0))
       |      + (${w(3)}) * (np / greatest(nc, 1.0))
       |      + (${w(4)}) * (ns / greatest(nt, 1.0)) AS sc,
       |    round((CASE WHEN nc >= 100 AND nc <= 10000 THEN 1.0 WHEN nc >= 20 THEN 0.5 ELSE 0.0 END) * 0.3 +
       |          (CASE WHEN np / greatest(nc, 1.0) <= 0.1 THEN 1.0 WHEN np / greatest(nc, 1.0) <= 0.3 THEN 0.5 ELSE 0.0 END) * 0.2 +
       |          (CASE WHEN ns / greatest(nt, 1.0) >= 0.05 AND ns / greatest(nt, 1.0) <= 0.6 THEN 1.0 ELSE 0.3 END) * 0.3 +
       |          (CASE WHEN nc / greatest(nt, 1.0) >= 3.0 AND nc / greatest(nt, 1.0) <= 12.0 THEN 1.0 ELSE 0.3 END) * 0.2, 6) >= 0.8 AS hi
       |  FROM f)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN sc > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pred_hi,
       |  CAST(sum(CASE WHEN (sc > 0) = hi THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_agree,
       |  round(CAST(sum(CAST(floor(sc * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
       |    / count(*) / 1e6, 4) AS mean_score
       |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Static oracle + the trained-classifier entry when an OracleContext is
    * set (Verify dump time); degrades to rows-only independently and
    * loudly on a generator failure (QueriesSim's tryGen contract). */
  def oracle: Map[String, String] =
    Map("doremi_weights" -> doremiSql,
      "calibration_ece" ->
        s"""WITH m AS (${Tables.qualityMetricsSql()}),
           |sc AS (SELECT
           |    (CAST(ns AS BIGINT) * 1000000) // greatest(CAST(nt AS BIGINT), 1) AS s6,
           |    CASE WHEN round(${Tables.qualityScoreSql}, 6) >= 0.8
           |      THEN 1 ELSE 0 END AS y
           |  FROM m),
           |b AS (SELECT least(s6 // 100000, 9) AS bin,
           |    CAST(count(*) AS BIGINT) AS n_docs,
           |    CAST(sum(s6) AS BIGINT) AS s6sum, CAST(sum(y) AS BIGINT) AS ysum
           |  FROM sc GROUP BY 1),
           |bb AS (SELECT bin, n_docs, s6sum, ysum,
           |    CAST(s6sum // n_docs AS BIGINT) AS conf6,
           |    CAST((ysum * 1000000) // n_docs AS BIGINT) AS acc6
           |  FROM b),
           |sm AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n,
           |    CAST(sum(s6sum) AS BIGINT) AS ss, CAST(sum(ysum) AS BIGINT) AS ys,
           |    CAST(sum(n_docs * abs(acc6 - conf6)) AS BIGINT) AS wgap
           |  FROM bb)
           |SELECT * FROM (
           |  SELECT CAST(bin AS BIGINT) AS bin, n_docs, conf6, acc6,
           |    CAST(abs(acc6 - conf6) AS BIGINT) AS gap6 FROM bb
           |  UNION ALL
           |  SELECT CAST(-1 AS BIGINT), n, CAST(ss // n AS BIGINT),
           |    CAST((ys * 1000000) // n AS BIGINT), CAST(wgap // n AS BIGINT)
           |  FROM sm)
           |ORDER BY bin""".stripMargin) ++
      Tables.OracleContext.ctx.flatMap { case (s, dir) =>
        try Some("quality_classifier" -> qcOracle(s, dir))
        catch {
          case e: Exception =>
            System.err.println(
              s"[oracle] quality_classifier generator failed: ${e.getMessage}")
            None
        }
      }
}
