package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Fleet-wide structural plan lint (round-11 verdict #1): three consecutive
  * rounds found members of the same scale-hazard class by hand
  * (sessionize → the round-10 five → round-11's window sweep); this spec
  * makes the class structurally impossible for every PRESENT AND FUTURE
  * `SparkEntry.queries` card by linting every plan in the map:
  *
  *   (a) no unpartitioned (single-task) WindowExec whose input is
  *       data-sized — config/aggregate-bounded inputs are fine (the
  *       bucket-count cumsum inside GlobalOrder, per-event-type windows);
  *   (b) no CartesianProductExec where NEITHER side is bounded — an
  *       all-pairs blowup over two data-sized inputs can never be right at
  *       100 TB (broadcast NL joins are exempt: one side is already a
  *       deliberate broadcast);
  *   (c) no single-partition ShuffleExchange / coalesce(1) over a
  *       data-sized input — the "collapse everything onto one task" shape
  *       GlobalOrder exists to avoid. Global range SORTS are fine (they
  *       range-partition, the distributed sort every final ORDER BY uses).
  *
  * "Bounded" is structural: a subtree is bounded when every leaf path
  * passes through an aggregate, a limit, or a driver-materialized local
  * relation — i.e. its row count is a function of config/group cardinality,
  * not of corpus size. WindowGroupLimit does NOT bound (it caps per group;
  * groups scale with data).
  *
  * The allowlist below is the audited set of cards whose unpartitioned
  * window input is bounded by a DOMAIN invariant the structural check
  * cannot see (documented per entry). Adding a NEW card to the allowlist
  * requires the same audit — by default every new query must pass the
  * structural lint.
  */
class PlanLintSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Cards allowed unpartitioned window(s) over a non-structurally-bounded
    * input — (budget of audited occurrences, the domain bound that makes
    * each config-sized). The budget is exact: one MORE such operator in an
    * allowlisted query still fails. */
  private val windowAllow: Map[String, (Int, String)] = Map(
    "fdr_bh" -> ((1, "input is one row per event TYPE (config-sized domain)")),
    "label_balance" -> ((1, "input is one row per label (config-sized domain)")),
    "survival_km" -> ((1, "input is one row per distinct lifetime DAY, bounded by the calendar")),
    "window_range_frame" -> ((1, "demo frame over a literal fixed id range (o_orderkey < 100)"))
  )

  /** Cards allowed cartesian product(s) with neither side structurally
    * bounded (audited: one side is bounded by a domain invariant). */
  private val cartesianAllow: Map[String, (Int, String)] = Map.empty

  /** Cards allowed single-partition exchange(s) over a non-bounded input. */
  private val singlePartAllow: Map[String, (Int, String)] = Map(
    "window_range_frame" -> ((1, "the exchange feeds the allowlisted unpartitioned " +
      "window; its input is the same literal o_orderkey < 100 id range"))
  )

  private def unwrap(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case other => other
  }

  /** Structurally bounded: every leaf path passes through an aggregate, a
    * limit, or a local (driver-materialized, config-sized) relation. */
  private def bounded(p: SparkPlan): Boolean = p match {
    case _: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => true
    case _: org.apache.spark.sql.execution.GlobalLimitExec => true
    // LocalLimitExec does NOT bound: it caps rows PER PARTITION, so the
    // total scales with the data-sized input's partition count. Real
    // df.limit plans carry GlobalLimit/CollectLimit/TakeOrdered above the
    // local limit, and those cases short-circuit before recursing here
    // (round-12 ADVICE).
    case _: org.apache.spark.sql.execution.CollectLimitExec => true
    case _: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => true
    case _: org.apache.spark.sql.execution.LocalTableScanExec => true
    case r: org.apache.spark.sql.execution.RangeExec =>
      r.numElements.isValidLong && r.numElements.toLong <= 1000000L
    case leaf if leaf.children.isEmpty => false
    case n => n.children.forall(bounded)
  }

  test("every SparkEntry query plan passes the structural scale lint; " +
      "every unpartitioned window instance is attributed") {
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    val names = SparkEntry.queries.keys.toSeq.sorted
    // Round-15 (r14 verdict #7) — attribute EVERY unpartitioned WindowExec /
    // WindowGroupLimitExec instance fleet-wide, not only the violating ones:
    // the VERIFY/test tail is wall-to-wall "WindowExec: No Partition Defined"
    // warnings (one log line per such operator instance per executed plan),
    // and until now nobody had mapped warning → attribution end-to-end.
    // Every instance is either (a) STRUCTURALLY BOUNDED — its input provably
    // passes through an aggregate/limit/local relation, so the single task
    // sees a config-sized row count (GlobalOrder's bucket-count cumsum,
    // Runs' buckets relation, per-event-type/count-of-count windows), or
    // (b) a named `windowAllow` entry carrying the audited domain bound.
    // An instance in NEITHER class fails below, so the warning count in the
    // VERIFY tail is exactly Σ(bounded + allowlisted) instances over the
    // executed plans — explained, audited, and pinned against growth.
    var fleetBounded = 0
    var fleetAllowlisted = 0
    for ((name, i) <- names.zipWithIndex) {
      val plan =
        try unwrap(SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan)
        catch {
          case e: Throwable =>
            failures += s"$name: plan construction threw ${e.getClass.getSimpleName}: ${e.getMessage}"
            null
        }
      if (plan != null) {
        // count violations per category, then apply the allowlist as a
        // BUDGET of exactly the audited occurrence count (a blanket
        // name-level exemption would silently admit a SECOND, genuinely
        // data-sized operator added to an allowlisted query later —
        // review-caught)
        var wviol = 0; var cviol = 0; var sviol = 0; var wbound = 0
        plan.foreach {
          case w: org.apache.spark.sql.execution.window.WindowExec
              if w.partitionSpec.isEmpty =>
            if (bounded(w.child)) wbound += 1 else wviol += 1
          case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec
              if w.partitionSpec.isEmpty =>
            if (bounded(w.child)) wbound += 1 else wviol += 1
          case j: org.apache.spark.sql.execution.joins.CartesianProductExec
              if !bounded(j.left) && !bounded(j.right) => cviol += 1
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
              if e.outputPartitioning.numPartitions == 1 && !bounded(e.child) =>
            sviol += 1
          case c: org.apache.spark.sql.execution.CoalesceExec
              if c.numPartitions == 1 && !bounded(c.child) => sviol += 1
          case _ => ()
        }
        fleetBounded += wbound
        fleetAllowlisted += math.min(wviol, windowAllow.get(name).map(_._1).getOrElse(0))
        val wBudget = windowAllow.get(name).map(_._1).getOrElse(0)
        val cBudget = cartesianAllow.get(name).map(_._1).getOrElse(0)
        val sBudget = singlePartAllow.get(name).map(_._1).getOrElse(0)
        if (wviol > wBudget)
          failures += s"$name: $wviol unpartitioned data-sized window(s), budget $wBudget"
        if (cviol > cBudget)
          failures += s"$name: $cviol unbounded CartesianProduct(s), budget $cBudget"
        if (sviol > sBudget)
          failures += s"$name: $sviol single-partition collapse(s) of data-sized input, budget $sBudget"
      }
      // persists registered during plan construction must not accumulate
      // across 391 cards in one JVM
      if ((i + 1) % 25 == 0) graft.operators.CacheRegistry.sweep()
    }
    graft.operators.CacheRegistry.sweep()
    assert(failures.isEmpty,
      s"${failures.size} plan-lint failures:\n  " + failures.mkString("\n  "))
    info(s"unpartitioned window instances fleet-wide: $fleetBounded structurally " +
      s"bounded + $fleetAllowlisted allowlisted (domain-bounded) — every one attributed")
  }

  /** Hazard class 4 (round-12 verdict #1): data-dependent driver collects.
    * A `.collect()` in main source is only legal when its size is bounded
    * by CONFIG (sample-N trainers, config-sized aggregates, query panels)
    * or by a `limit(max+1)` probe-and-collect guard — never by data. The
    * class is source-level (the collect happens during plan CONSTRUCTION,
    * so no plan node exists to lint), so the lint is an exact per-file
    * budget of audited occurrences: adding a `.collect()` anywhere in main
    * source fails this test until the new site is audited and its budget
    * entry documents the bound; removing one fails too, keeping the audit
    * current. Audit trail: round-12 verdict "What's wrong" §1 (39/40
    * bounded; the 40th, time_to_convert, now carries the winsorize
    * `limit(max+1)` probe). */
  private val collectBudget: Map[String, (Int, String)] = Map(
    "graft/DataTable.scala" -> ((1, "toMaps: limit(maxRows+1) probe-and-collect, throws above the bound")),
    "graft/operators/DiscreteQuantile.scala" -> ((1, "quantilesViaDriver: callers must pre-check histogramFitsDriver (contract in scaladoc)")),
    "graft/operators/GlobalOrder.scala" -> ((1, "boundary sample: fraction-sampled input, sample-sized")),
    "graft/operators/HeavyHitters.scala" -> ((1, "top-k: limit(k) upstream")),
    "graft/operators/Ivf.scala" -> ((3, "first-N-in-id-order Lloyd samples/seeds + train's per-iteration k×dim means")),
    "graft/operators/Pca.scala" -> ((1, "first-N-in-id-order fit sample (limit(sampleN))")),
    "graft/operators/Pq.scala" -> ((2, "codebook trainer sample (limit(sampleN)) + query-panel LUTs")),
    "graft/queries/QueriesAnalytics.scala" -> ((4, "nation-graph edge lists (collectEdges, ≤ nations² rows) and node ids (nationIds, |nations|), grouping-sets probe (≤ 2³), skew_profile's count-of-count histogram (multiplicity domain)")),
    "graft/queries/QueriesDedup.scala" -> ((1, "CC contraction probe: limit(maxDriverEdges+1)")),
    "graft/queries/QueriesFacade.scala" -> ((1, "1-row aggregate (.head on agg)")),
    "graft/queries/QueriesMlops.scala" -> ((3, "time_to_convert limit(max+1) hour histogram; calibration limit(1001); daily limit(4001)")),
    "graft/queries/QueriesPipeline.scala" -> ((3, "1-row max(doc_id) probe + BPE limit(1) best-pair + WordPiece limit(1) best-pair")),
    "graft/queries/QueriesRelationalExt.scala" -> ((1, "jdbc_roundtrip: |regions|-row aggregate materialized inside the withRetry cycle")),
    "graft/queries/QueriesScale.scala" -> ((2, "winsorize/outlier_mad limit(maxHistRows+1) probe-and-collect")),
    "graft/queries/QueriesSim.scala" -> ((6, "one driver query panel (queryPanel: vec_id < 5, shared by sim_ivfpq_residual's probes and the sim_pq/sim_ivfpq oracles' ADC tables), mmr_diversify's 3-query candidates and their pairwise sims (≤ 3×20 rows), panel-bounded truth top-k (queries×k, one panelTruth helper for ann_recall/ann_nprobe_sweep), limit(256) sample; r15: sim_beam_search beam ferry (≤ |queries|×2 = 20 rows per hop)")),
    "graft/queries/QueriesText.scala" -> ((1, "unigram trainer: distinct words of the limit(256)-doc id-ordered sample")),
    "graft/queries/QueriesTrain.scala" -> ((2, "limit(QcSample) trainer sample + per-source domain aggregate (|sources| rows)"))
  )

  /** Per-key top-k goes through `TopK.perKey` (its last order column is
    * the one place a tie-break is decided). Every other Scala-API
    * `row_number()….over(` site is a rank that is not a constant-k per-key
    * cut, audited per file like `collectBudget`. The SQL
    * `row_number() OVER` inside oracle strings does not count. */
  private val rowNumberBudget: Map[String, (Int, String)] = Map(
    "graft/operators/TopK.scala" -> ((1, "TopK.perKey itself")),
    "graft/queries/QueriesAnalytics.scala" -> ((3, "global ranks after limit: dp_topk (5 rows), rankUsers' top-100 (graph_pagerank_users and graph_ppr_users); fdr_bh's BH rank over the event-types-bounded card")),
    "graft/queries/QueriesDedup.scala" -> ((2, "ssjoin_prefix: class rn feeds window aggregates; the prefix rank's k depends on the data (n - ceil(n·tau) + 1)")),
    "graft/queries/QueriesMlops.scala" -> ((2, "full ranks feeding an aggregate: bootstrap_ci percentile ranks, attribution_markov step sequence")),
    "graft/queries/QueriesPipeline.scala" -> ((1, "quantile_normalize: per-block offset rank (every row kept)")),
    "graft/queries/QueriesScale.scala" -> ((1, "gini_sources: full rank feeding the Gini aggregate")),
    "graft/queries/QueriesText.scala" -> ((4, "search_ndcg: two full ranks feeding the NDCG aggregate; rake_keywords: run id (pos - rn) and the global rank after limit(10)"))
  )

  /** Session-lifetime persists go through `CacheRegistry.track` (the
    * harness sweeps them at exit, and a plan already cached is not cached
    * twice). Every direct `.persist(` is a build-scoped cache, unpersisted
    * by the code that made it, audited per file like `collectBudget`. */
  private val persistBudget: Map[String, (Int, String)] = Map(
    "graft/operators/CacheRegistry.scala" -> ((1, "CacheRegistry.track itself")),
    "graft/operators/HeavyHitters.scala" -> ((1, "per-partition MG summaries read by two actions, unpersisted in the finally")),
    "graft/queries/QueriesPipeline.scala" -> ((1, "corpus_assembly_incremental's DiskCache build: flagged base feeds three writes, unpersisted at build end")),
    "graft/queries/QueriesSim.scala" -> ((2, "DiskCache builds: semdedup_incremental's base index (three writes) and sparse_cosine_join's weighted postings (two consumers), each unpersisted at build end")),
    "graft/queries/QueriesText.scala" -> ((3, "bm25 DiskCache builds: bm25Index's terms and doc lengths, bm25_incremental's base-slice terms, each unpersisted at build end"))
  )

  /** Exact per-file counts of `pattern` in main source against an audited
    * budget: a new site fails until it is audited, a removed one until its
    * budget is lowered. */
  private def budgetProblems(pattern: scala.util.matching.Regex, what: String,
      budget: Map[String, (Int, String)]): Seq[String] = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"lint must run from the repo root; missing $root")
    val counts = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .map { p =>
        val src = new String(Files.readAllBytes(p), "UTF-8")
        root.relativize(p).toString -> pattern.findAllIn(src).length
      }
      .filter(_._2 > 0).toMap
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]
    for ((f, n) <- counts) budget.get(f) match {
      case None => problems += s"$f: $n unaudited $what site(s) — audit the bound and add a budget entry"
      case Some((b, _)) if n != b => problems += s"$f: $n $what site(s), audited budget $b — re-audit"
      case _ => ()
    }
    for ((f, _) <- budget if !counts.contains(f))
      problems += s"$f: budget entry but no $what in source — remove the stale audit"
    problems.toSeq
  }

  test("driver .collect() sites stay within the audited per-file budget") {
    val problems = budgetProblems("\\.collect\\(\\)".r, ".collect()", collectBudget)
    assert(problems.isEmpty,
      s"${problems.size} driver-collect lint failures:\n  " + problems.mkString("\n  "))
  }

  test("Scala-API row_number() windows stay within the audited per-file budget") {
    val problems = budgetProblems("row_number\\(\\)\\s*\\.over\\(".r, "row_number().over(",
      rowNumberBudget)
    assert(problems.isEmpty, s"${problems.size} row_number lint failures (per-key top-k " +
      "goes through TopK.perKey):\n  " + problems.mkString("\n  "))
  }

  test("direct .persist( sites stay within the audited per-file budget") {
    val problems = budgetProblems("\\.persist\\(".r, ".persist(", persistBudget)
    assert(problems.isEmpty, s"${problems.size} persist lint failures (session-lifetime " +
      "caches go through CacheRegistry.track):\n  " + problems.mkString("\n  "))
  }

  test("the window allowlist names only live queries (no stale entries)") {
    val qs = SparkEntry.queries.keySet
    val stale = (windowAllow.keySet ++ cartesianAllow.keySet ++
      singlePartAllow.keySet).filterNot(qs.contains)
    assert(stale.isEmpty, s"allowlist entries for unknown queries: $stale")
  }
}
