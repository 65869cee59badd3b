package graft.queries

import graft.functions.TextFns
import graft.operators.{DiscreteQuantile, HeavyHitters, Runs, ZOrder}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Scale-pattern operators: the aggregation/layout techniques that keep
  * full-corpus statistics tractable at 100 TB — bounded-memory heavy-hitter
  * summaries, mergeable cardinality sketches, robust (median/MAD) outlier
  * gating, and z-order multi-dimensional clustering. The reference has no
  * aggregation at all (SURVEY.md §2.8); these extend the LLM-pipeline
  * surface with the patterns a data-card / quality-filter stage needs.
  */
object QueriesScale {

  val queries: Map[String, Q] = Map(
    // Weighted median: the smallest price whose cumulative quantity mass
    // reaches half the group total — selection, not interpolation, so the
    // output is an exact data value (no rounding hazard at all). One window
    // sort per group computes the running mass; the group totals broadcast
    // back. NB with few groups (3 return flags) the window is few-task —
    // the many-group case (per-user medians) is where this ordered-
    // cumulative form scales; for low-cardinality groups the cents-
    // histogram path (outlier_mad / DiscreteQuantile) is the scale form.
    "weighted_median" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag").as("flag"), col("l_extendedprice").as("price"),
          col("l_quantity").as("qty"), col("l_orderkey"), col("l_linenumber"))
      val w = Window.partitionBy(col("flag"))
        .orderBy(col("price"), col("l_orderkey"), col("l_linenumber"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      li.withColumn("cum", sum(col("qty")).over(w))
        .withColumn("tot", sum(col("qty")).over(Window.partitionBy(col("flag"))))
        .where(col("cum") >= col("tot") / 2)
        .groupBy(col("flag"))
        .agg(min(col("price")).as("w_median"))
        .orderBy(col("flag"))
    }),

    // Gini coefficient of document mass per source — the corpus-balance
    // inequality report (is one source's mass concentrated in a few huge
    // docs?). G = 2·Σ(i·w)/(n·Σw) − (n+1)/n over ascending-sorted weights;
    // pure rational arithmetic, so the output uses the engine-identical
    // floor form. One window sort per source.
    "gini_sources" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("source"), col("n_chars").as("w"),
        col("doc_id"))
      val ww = Window.partitionBy(col("source")).orderBy(col("w"), col("doc_id"))
      d.withColumn("i", row_number().over(ww))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          (floor((lit(2.0) * sum(col("i") * col("w")) /
              (count(lit(1)) * sum(col("w"))) -
            (count(lit(1)) + lit(1.0)) / count(lit(1))) * 1e6 + 0.5) / 1e6).as("gini"))
        .orderBy(col("source"))
    }),
    // Winsorization (robust preprocessing): clip values at the per-group
    // p05/p95 before aggregation. Exact quantiles WITHOUT buffering values
    // — same DiscreteQuantile cents-histogram trick as outlier_mad: one
    // domain-bounded histogram job, driver quantile math, thresholds return
    // as literal maps, and the output is a single conditional-aggregate
    // scan. Cents domain keeps every comparison exact across engines.
    // The driver collect is CARDINALITY-GUARDED (see winsorized): a wide/
    // continuous domain falls back to the distributed quantile form.
    "winsorize" -> ((s, dir) => winsorized(s, dir)),
    // Exact corpus-wide top-20 tokens via two-phase Misra-Gries: phase 1
    // emits ≤capacity candidates per partition (bounded memory no matter the
    // vocabulary size), phase 2 re-counts ONLY candidate occurrences (the
    // shuffle never carries the long tail), and an explicit bound check
    // proves exactness (falls back to full aggregation when unprovable).
    "heavy_hitters" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(explode(TextFns.tokens(col("text"))).as("token"))
      HeavyHitters.exactTopK(toks, k = 20, capacity = 4096)
        .orderBy(col("n").desc, col("token"))
    }),

    // Robust outlier gate: flag events whose |value − group-median| exceeds
    // 3σ under the MAD estimate (σ ≈ 1.4826·MAD) — the quality-filter shape
    // that survives skew/heavy tails where mean/stddev gates break. Both
    // medians are EXACT but memory-bounded: values recast to integer cents
    // make the domain discrete, so DiscreteQuantile's count-histogram
    // computes them without buffering group values (Spark's `percentile`
    // would hold every value of a group in one ObjectHashAggregate buffer —
    // a 100 TB non-starter). Both joins broadcast the 5-row aggregate back,
    // so the event stream is never shuffled, and all arithmetic is exact
    // binary — the flag is bit-reproducible across engines.
    "outlier_mad" -> ((s, dir) => outlierMad(s, dir)),

    // Z-order clustering stats: bucket lineitem by the Morton interleave of
    // (l_partkey, l_suppkey) — each z-bucket covers a narrow range of BOTH
    // keys (the min/max columns prove it), which is exactly why a z-ordered
    // layout prunes row groups on either predicate. ScaleOpsSpec measures
    // the actual per-file span shrink after ZOrder.writeClustered.
    // bits=15 covers the key domain at every bench scale (zvalue truncates
    // bits above it — sf0.1 partkeys reach 19999, so 11 would alias keys
    // 2048 apart into one bucket).
    "zorder_cluster" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .withColumn("zval", ZOrder.zvalue(col("l_partkey"), col("l_suppkey"), 15))
        .withColumn("zbucket", expr("zval DIV 16777216"))
        .groupBy(col("zbucket"))
        .agg(count(lit(1)).as("n"),
          min(col("l_partkey")).as("min_pk"), max(col("l_partkey")).as("max_pk"),
          min(col("l_suppkey")).as("min_sk"), max(col("l_suppkey")).as("max_sk"))
        .orderBy(col("zbucket"))
    }),

    // Mergeable per-source vocabulary data card: HLL sketches aggregate
    // per source, then hll_union_agg folds the 20 sketches into the corpus
    // total WITHOUT re-touching raw tokens — the property that lets 1000
    // shards each sketch locally and a final reducer merge kilobytes.
    // Estimates are engine-specific, so the DECLARED output is the exact
    // vocabulary plus the estimate's error measured in TOLERANCE UNITS
    // (floor(|est − exact| / max(0.1·exact, 16)) — lgK=12 → rsd ≈1.6%, so
    // 10% is a ≳6σ bound with a +16 absolute floor for tiny sources): a
    // within-tolerance sketch reads exactly 0 in both engines, and any
    // accuracy drift at a larger SF surfaces as a VISIBLE magnitude
    // (1 = within 2× tolerance, …) instead of an opaque flag flip
    // (round-9 verdict #6).
    // The exact count rides the SAME per-source aggregate; only the "ALL"
    // row needs a second pass (distinct-across-sources is not mergeable —
    // that impossibility is exactly what the sketch union solves).
    // HllCardSpec still pins the ε-accuracy and merge-exactness properties.
    // Bloom-filter sizing curve: MEASURED false-positive rate at three
    // bits-per-key / hash-count operating points (k ≈ 0.69·bpk, the
    // theoretical optimum) — the card that prices the Bloom prefilter
    // the contamination/join_bloom family leans on before committing a
    // filter size at 100 TB. The filter is modeled exactly: member keys
    // set k md5-derived positions in an m = bpk·n_keys bit space (the
    // dp_histogram md5→BIGINT idiom, bit-identical in both engines —
    // conv(substr(md5, 1, 15), 16, 10) stays under 2^60), probes (the
    // odd orderkeys, disjoint from the even members by construction) are
    // false positives iff ALL k positions are set. Work: |keys|·k rows
    // through distinct + one equi-join per config — linear, never a bit
    // ARRAY on the driver; every output is an exact BIGINT so the fpr6
    // in 1e-6 units is the same integer in both engines.
    "bloom_fpr_curve" -> ((s, dir) => {
      import s.implicits._
      // r15 (JobProfile evidence): the distinct-orderkey frame is ~1.2 MB at
      // sf0.1, so AQE coalesced it to ONE partition — and every downstream
      // stage (the ×k md5 fan-outs over members AND probes) inherited the
      // single task (job-level profile: one 2.5 s single-task job carried
      // the whole expansion). Re-establish the fan-out parallelism ONCE on
      // the checkpointed frame with the session-conf partition count (the
      // pre-partitioned-iteration-frame idiom): explicit repartition is not
      // AQE-coalescible, the exchanged bytes are the compact key set (never
      // the fan-out), and the count is scale-adaptive, not a local constant.
      val nPart = s.conf.get("spark.sql.shuffle.partitions").toInt
      val ok = t(s, dir, "lineitem").select(col("l_orderkey").as("x"))
        .distinct().repartition(nPart, col("x"))
        .localCheckpoint(false) // members + probes both read it
      val members = ok.where(col("x") % 2 === 0)
      val probes = ok.where(col("x") % 2 === 1)
      val stats = members.agg(count(lit(1)).as("n_keys")).localCheckpoint(false)
      val cfgRows = Seq((4, 3), (8, 6), (12, 8))
      val cfg = broadcast(cfgRows.toDF("bpk", "k")
        .crossJoin(stats).withColumn("m", col("bpk") * col("n_keys")))
      // r15 (guide §2.3, compute-once): the md5 position hash depends only
      // on (x, j) — never on the config — so it is evaluated ONCE per
      // (key, j≤max k) BEFORE the config cross-join instead of once per
      // (key, config, j): Σk=17 md5+conv evaluations per key drop to
      // max k=8, and `pos = h % m` is the identical BIGINT (CAST-then-mod
      // ≡ the old fused expression), so every output is bit-identical.
      val maxK = cfgRows.map(_._2).max
      val hashExpr = expr("CAST(conv(substring(md5(concat('bf', " +
        "CAST(j AS STRING), ':', CAST(x AS STRING))), 1, 15), 16, 10) " +
        "AS BIGINT)")
      def posHashes(keys: org.apache.spark.sql.DataFrame) = keys
        .withColumn("j", explode(sequence(lit(1), lit(maxK))))
        .select(col("x"), col("j"), hashExpr.as("h"))
        .crossJoin(cfg).where(col("j") <= col("k"))
      val bits = posHashes(members)
        .select(col("bpk"), col("k"), (col("h") % col("m")).as("pos")).distinct()
        .localCheckpoint(false) // reused by the bit count and the probe join
      val pr = posHashes(probes)
        .select(col("bpk"), col("k"), col("x"), (col("h") % col("m")).as("pos"))
      val fp = pr.join(bits, Seq("bpk", "k", "pos"))
        .groupBy(col("bpk"), col("k"), col("x")).agg(count(lit(1)).as("nm"))
        .where(col("nm") === col("k"))
        .groupBy(col("bpk"), col("k")).agg(count(lit(1)).as("n_fp"))
      val bc = bits.groupBy(col("bpk"), col("k")).agg(count(lit(1)).as("n_bits_set"))
      cfg.join(broadcast(bc), Seq("bpk", "k"), "left")
        .join(broadcast(fp), Seq("bpk", "k"), "left")
        .crossJoin(probes.agg(count(lit(1)).as("n_probes")))
        .select(col("bpk").cast(LongType).as("bpk"),
          col("k").cast(LongType).as("k"), col("n_keys"), col("m"),
          col("n_bits_set"), col("n_probes"),
          coalesce(col("n_fp"), lit(0L)).as("n_fp"))
        .withColumn("fpr6", expr("(n_fp * 1000000) DIV greatest(n_probes, 1)"))
        .orderBy(col("bpk"), col("k"))
    }),

    "hll_card" -> ((s, dir) => {
      // NOT persisted: toks feeds two consumers, but both collapse to tiny
      // aggregates immediately — re-running the narrow tokenize scan twice
      // is the scale-right trade vs caching an EXPLODED token stream
      // (larger than the corpus) to memory/disk at 100 TB. (r15: a shared
      // vocab-sized (source, token, count) cache was A/B-measured and
      // REVERTED — the note on token_entropy in QueriesText has the numbers.)
      val toks = t(s, dir, "documents")
        .select(col("source"), explode(TextFns.tokens(col("text"))).as("token"))
      def errCol(est: org.apache.spark.sql.Column, exact: org.apache.spark.sql.Column) =
        floor(abs(est - exact) / greatest(exact * 0.1, lit(16.0))).cast(LongType)
      val per = toks.groupBy(col("source"))
        .agg(hll_sketch_agg(col("token")).as("sk"),
          countDistinct(col("token")).as("exact_vocab"), count(lit(1)).as("n_tokens"))
      val perSource = per.select(col("source"), col("exact_vocab"), col("n_tokens"),
        errCol(hll_sketch_estimate(col("sk")), col("exact_vocab")).as("est_err_units"))
      val union = per.agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"),
          sum(col("n_tokens")).as("n_tokens"))
        .crossJoin(broadcast(toks.agg(countDistinct(col("token")).as("exact_vocab"))))
        .select(lit("ALL").as("source"), col("exact_vocab"), col("n_tokens"),
          errCol(col("est"), col("exact_vocab")).as("est_err_units"))
      perSource.unionByName(union).orderBy(col("source"))
    }),

    // Count–Min point-frequency sketch over the token stream: the sketch is
    // a config-bounded (r, cell, cnt) table — mergeable by construction
    // (union+re-aggregate), the shard-local/fold-kilobytes shape. The
    // DECLARED output probes the exact top-20 tokens (deterministic
    // membership via the Misra–Gries exact recount) and pins the sketch's
    // DETERMINISTIC invariant: a cell aggregates every colliding token, so
    // estimate ≥ exact count, always, at any scale. The probabilistic ε·N
    // over-estimation bound is CountMinSpec's job.
    "cms_counts" -> ((s, dir) => {
      import graft.operators.CountMin
      val toks = t(s, dir, "documents")
        .select(explode(TextFns.tokens(col("text"))).as("token"))
      val top = HeavyHitters.exactTopK(toks, k = 20, capacity = 4096)
      CountMin.estimate(CountMin.sketch(toks, "token"), top.select(col("token")), "token")
        .join(top, "token")
        .select(col("token"), col("n"), (col("est") >= col("n")).as("cms_ge"))
        .orderBy(col("n").desc, col("token"))
    }),

    // Incremental aggregation — the maintained-data-card pattern: per-source
    // partials (count/sum/max — all algebraic, so they merge associatively)
    // persist as a tiny parquet state table; an append batch computes ONLY
    // its own partials and the merge is a |sources|-row aggregate. The base
    // corpus is never re-scanned once the state exists (the path is keyed by
    // source dir, so Verify/Bench never share state; _v1 = version of the
    // corpus definition below — bump on change or stale state serves the old
    // definition). At 100 TB this is the difference between a full-corpus
    // scan per ingest and a batch-sized one.
    "agg_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      def partials(df: org.apache.spark.sql.DataFrame) =
        df.groupBy(col("source")).agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"), max(col("doc_id")).as("max_id"))
      // key the state by the source's data fingerprint (DiskCache.keyedPath,
      // the unified scheme): if the testdata is regenerated in place, the
      // fingerprint changes and the stale state is simply never found again
      // (orphans are bytes under the cache root, harmless) — without this,
      // old-corpus partials would merge with new-batch partials and
      // silently report a mixed corpus
      val statePath = graft.operators.DiskCache.keyedPath(
        "aggstate_v1", s"$dir/documents.parquet")
      graft.operators.DiskCache.ensure(statePath) { tmp =>
        partials(docs.where(col("doc_id") < 400)).write.mode("overwrite").parquet(tmp)
      }
      s.read.parquet(statePath)
        .unionByName(partials(docs.where(col("doc_id") >= 400)))
        .groupBy(col("source"))
        .agg(sum(col("n_docs")).as("n_docs"),
          sum(col("sum_chars")).as("total_chars"),
          max(col("max_id")).as("max_id"),
          round(sum(col("sum_chars")).cast(DoubleType) / sum(col("n_docs")), 4).as("avg_chars"))
        .orderBy(col("source"))
    }),

    // Incremental DISTINCT-count maintenance — the sketch member of the
    // IVM family (agg_incremental merges algebraic partials; exact
    // distincts are NOT algebraic, which is precisely why production
    // pipelines maintain them as HLL sketches): the base era's per-source
    // token sketches persist ONCE under the fingerprint-keyed DiskCache,
    // each refresh sketches only its own batch, and the merge is
    // hll_union_agg over |sources| kilobyte-sized sketch rows — HLL
    // registers merge by max, so union-of-era-sketches is LOSSLESS vs a
    // single-pass sketch (spec-pinned) and the estimate path never
    // re-scans the base corpus. The exact_vocab column is the AUDIT side
    // (full recompute, hll_card's oracle convention) — the maintained
    // artifact is the sketch state. The estimate ships as est_err_units
    // (hll_card's tolerance-quantized error, tolerance = max(10% of exact,
    // 16 absolute)): the oracle cannot run Spark's HLL, but a
    // within-tolerance estimate is EXACTLY 0 in both engines, and a future
    // sketch-accuracy drift fails the gate with its magnitude visible
    // (round-9 verdict #6 closed — was a hardcoded TRUE flag).
    "hll_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      def sk(df: org.apache.spark.sql.DataFrame) = df
        .select(col("source"), explode(TextFns.tokens(col("text"))).as("token"))
        .groupBy(col("source"))
        .agg(hll_sketch_agg(col("token")).as("sk"), count(lit(1)).as("n_tokens"))
      val statePath = graft.operators.DiskCache.keyedPath(
        "hllstate_v1", s"$dir/documents.parquet")
      graft.operators.DiskCache.ensure(statePath) { tmp =>
        sk(docs.where(col("doc_id") < 400)).write.mode("overwrite").parquet(tmp)
      }
      val merged = s.read.parquet(statePath)
        .unionByName(sk(docs.where(col("doc_id") >= 400)))
        .groupBy(col("source"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"),
          sum(col("n_tokens")).as("n_tokens"))
      val exact = docs
        .select(col("source"), explode(TextFns.tokens(col("text"))).as("token"))
        .groupBy(col("source")).agg(countDistinct(col("token")).as("exact_vocab"))
      merged.join(exact, "source")
        .select(col("source"), col("exact_vocab"), col("n_tokens"),
          floor(abs(col("est") - col("exact_vocab")) /
            greatest(col("exact_vocab") * 0.1, lit(16.0)))
            .cast(LongType).as("est_err_units"))
        .orderBy(col("source"))
    }),

    // Incremental maintenance of a JOIN-AGGREGATE view (agg_incremental
    // maintains a single-table aggregate; this is the classic IVM delta
    // rule for V = π(O ⋈ L) γ): with batch deltas ΔO (orders arriving) and
    // ΔL (lineitems arriving, possibly FOR EXISTING orders — the split is
    // deliberately on different axes so every delta family is non-empty),
    // the view refreshes as V += γ(ΔL⋈O ∪ L⋈ΔO ∪ ΔL⋈ΔL's own orders) —
    // three joins each with a DELTA-sized side, never the full O⋈L rejoin.
    // Persisted state = the config-sized per-priority partials of the base
    // join, keyed by BOTH tables' data fingerprints; the merge is a
    // key-domain-sized aggregate. The base-side probes are pruned by a
    // runtime delta-key bloom filter (join_bloom's injection pattern, on an
    // isolated session): the delta's selective filter becomes a
    // BloomFilterMightContain on the base scan, so each refresh shuffles
    // ~the delta's key range of the base, not the whole base — refresh work
    // ∝ delta, the actual 100 TB contract (Round8Spec pins the plan). The
    // state itself never re-scans the base corpus. All measures are exact
    // BIGINTs (integral quantities).
    // Dynamic-partition-pruning join — the partitioned-fact counterpart of
    // join_bucketed's co-location story: the fact lands ONCE partitioned
    // by year (fingerprint-keyed layout, amortized across every later
    // query) next to a tiny year-dimension table; a query that filters
    // the DIM has its fact scan pruned AT RUNTIME by Spark's DPP — the
    // broadcast side's qualifying keys become partition filters on the
    // fact, so the scan touches only the filtered 4-of-7 years' directories
    // (the executed plan carries `dynamicpruning`, spec-pinned). At
    // 100 TB this is the difference between scanning 7 years and
    // scanning the 3 the query asked about. Result is layout-invariant:
    // the oracle is the plain join over raw orders.
    "join_partition_pruned" -> ((s, dir) => {
      val base = graft.operators.DiskCache.keyedPath(
        "dppfact_v1", s"$dir/orders.parquet")
      graft.operators.DiskCache.ensure(s"$base/fact") { tmp =>
        t(s, dir, "orders")
          .withColumn("o_year", year(col("o_orderdate")))
          .write.partitionBy("o_year").mode("overwrite").parquet(tmp)
      }
      graft.operators.DiskCache.ensure(s"$base/dimyear") { tmp =>
        t(s, dir, "orders")
          .select(year(col("o_orderdate")).as("d_year")).distinct()
          .withColumn("d_half",
            when(col("d_year") <= 1997, "early").otherwise("late"))
          .write.mode("overwrite").parquet(tmp)
      }
      val fact = s.read.parquet(s"$base/fact")
      val dim = s.read.parquet(s"$base/dimyear").where(col("d_half") === "late")
      fact.join(broadcast(dim), col("o_year") === col("d_year"))
        .groupBy(col("o_year"))
        .agg(count(lit(1)).as("n_orders"),
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("total_cents"))
        .select(col("o_year").cast(LongType).as("o_year"), col("n_orders"),
          col("total_cents"))
        .orderBy(col("o_year"))
    }),

    // Incremental SCD-2 dimension MAINTENANCE — the IVM family's temporal
    // member (agg_incremental maintains partials, mv_join_maintain a join
    // view; this maintains validity RANGES): the persisted state is the
    // base era's change-point EVENTS (built once, keyed by the table's
    // data fingerprint), and each refresh detects the delta era's new
    // events with delta-sized work — one delta window plus a last-status
    // probe of the state RESTRICTED to delta customers (left-semi; at
    // 100 TB the probe also rides a delta-key bloom, the mv_join_maintain
    // pattern — the state here is the change-event table, already ≪ the
    // fact). The date split guarantees every base event sorts before
    // every delta event per customer, so concat(state, new-events) IS the
    // global change stream; ranges materialize with one lead window over
    // only the read slice. Declared output = the same custkey<100 range
    // table as scd2_history — the oracle is the full recompute, which the
    // incremental merge must reproduce row-for-row.
    "scd2_maintain" -> ((s, dir) => {
      val cut = to_date(lit("1997-01-01"))
      val o = t(s, dir, "orders").select(col("o_custkey"), col("o_orderdate"),
        col("o_orderkey"), col("o_orderstatus"))
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      def events(df: DataFrame) = df
        .withColumn("prev_status", lag(col("o_orderstatus"), 1).over(w))
        .where(col("prev_status").isNull ||
          col("prev_status") =!= col("o_orderstatus"))
        .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"),
          col("o_orderstatus"))
      val statePath = graft.operators.DiskCache.keyedPath(
        "scd2state_v1", s"$dir/orders.parquet")
      graft.operators.DiskCache.ensure(statePath) { tmp =>
        events(o.where(col("o_orderdate") < cut))
          .write.mode("overwrite").parquet(tmp)
      }
      val state = s.read.parquet(statePath)
      val delta = o.where(col("o_orderdate") >= cut)
      val lastBase = state
        .join(delta.select(col("o_custkey")).distinct(), Seq("o_custkey"), "left_semi")
        .groupBy(col("o_custkey"))
        .agg(max(struct(col("o_orderdate"), col("o_orderkey"),
          col("o_orderstatus"))).as("m"))
        .select(col("o_custkey"), col("m").getField("o_orderstatus").as("last_status"))
      val newEvents = delta.join(lastBase, Seq("o_custkey"), "left")
        .withColumn("prev",
          coalesce(lag(col("o_orderstatus"), 1).over(w), col("last_status")))
        .where(col("prev").isNull || col("prev") =!= col("o_orderstatus"))
        .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"),
          col("o_orderstatus"))
      state.unionByName(newEvents)
        .where(col("o_custkey") < 100)
        .withColumn("valid_to", lead(col("o_orderdate"), 1).over(w))
        .select(col("o_custkey"), col("o_orderstatus").as("status"),
          col("o_orderdate").as("valid_from"), col("valid_to"))
        .orderBy(col("o_custkey"), col("valid_from"), col("status"))
    }),

    "mv_join_maintain" -> ((s0, dir) => {
      import graft.operators.DiskCache
      val s = s0.newSession()
      s.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      s.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      s.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      // at 100 TB neither fact side broadcasts, and injection skips
      // broadcast joins — force the shuffle-join shape the filter prunes
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val ord = t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority"))
      val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast(LongType).as("qty"))
      val (ordBase, ordDelta) = (ord.where(col("o_orderkey") % 10 =!= 0),
        ord.where(col("o_orderkey") % 10 === 0))
      val (liBase, liDelta) = (li.where(col("l_linenumber") <= 5),
        li.where(col("l_linenumber") > 5))
      def partials(o: org.apache.spark.sql.DataFrame, l: org.apache.spark.sql.DataFrame) =
        o.join(l, col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"), sum(col("qty")).as("q"))
      val statePath = DiskCache.keyedPath("mvjoin_state_v1",
        s"$dir/orders.parquet", s"$dir/lineitem.parquet")
      DiskCache.ensure(statePath) { tmp =>
        partials(ordBase, liBase).write.mode("overwrite").parquet(tmp)
      }
      val deltaContrib = partials(ordBase, liDelta)
        .unionByName(partials(ordDelta, liBase))
        .unionByName(partials(ordDelta, liDelta))
      s.read.parquet(statePath).unionByName(deltaContrib)
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("n")).as("n_rows"), sum(col("q")).as("sum_qty"))
        .orderBy(col("o_orderpriority"))
    }),

    // Transparent MV ROUTING — the consumer half of mv_join_maintain: the
    // query below is written NAIVELY (full orders ⋈ lineitem, then the
    // rollup), and graft's MvRewriteRule (a Rule[LogicalPlan] in the
    // session's User Provided Optimizers batch) substitutes the persisted
    // config-sized MV partials, so the executed plan scans kilobytes of
    // state instead of joining two fact tables — at 100 TB the rollup
    // answers without touching the facts. The matcher is conservative
    // (exact base scans, exact equi-key, exact group/measures — see
    // plans/MvRewrite.scala) and outputs keep the original exprIds, so
    // results are plan-invariant ⇒ exact oracle; Round8Spec pins that the
    // rewritten plan reads the state path and no fact table.
    "mv_rewrite" -> ((s, dir) => {
      import graft.operators.DiskCache
      import graft.plans.{MvCatalog, MvDef, MvMeasures, MvRewriteRule}
      import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
      def roots(df: org.apache.spark.sql.DataFrame): Set[String] =
        df.queryExecution.analyzed.collect {
          case lr: LogicalRelation => lr.relation match {
            case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
            case _ => Seq.empty
          }
        }.flatten.toSet
      val mv = "mvfull_state_v1"
      val basePaths = roots(t(s, dir, "orders")) ++ roots(t(s, dir, "lineitem"))
      val statePath = DiskCache.keyedPath(mv,
        s"$dir/orders.parquet", s"$dir/lineitem.parquet")
      // the state build below IS the MV's join-aggregate: a def registered
      // under an earlier (possibly deleted) cache root would answer it
      MvCatalog.drop(mv, basePaths)
      DiskCache.ensure(statePath) { tmp =>
        t(s, dir, "orders").join(t(s, dir, "lineitem"),
            col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast(LongType)).as("q"))
          .write.mode("overwrite").parquet(tmp)
      }
      MvCatalog.register(mv, MvDef(
        stateScan = s.read.parquet(statePath).queryExecution.analyzed,
        basePaths = basePaths,
        groupCol = "o_orderpriority",
        leftKey = "o_orderkey", rightKey = "l_orderkey",
        measure = MvMeasures.oneOf(MvMeasures.countStar("n"),
          MvMeasures.sumOf("l_quantity", "q"))))
      if (!s.experimental.extraOptimizations.contains(MvRewriteRule))
        s.experimental.extraOptimizations =
          s.experimental.extraOptimizations :+ MvRewriteRule
      // the NAIVE form — exactly what a user would write against the facts
      t(s, dir, "orders").join(t(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast(LongType)).as("sum_qty"))
        .orderBy(col("o_orderpriority"))
    }),

    // Numeric histogram: fixed-width binning by pure floor arithmetic (no
    // engine-specific width_bucket) — the data-profiling shape that feeds
    // distribution drift checks. One partial-aggregable pass; bins with no
    // rows are absent (sparse histogram), bounds chosen from the fixed
    // domain so the binning is engine-exact.
    "histogram_bins" -> ((s, dir) => {
      // o_totalprice ∈ (0, 600k); 20 bins of 30k. floor(x/30k) clamps the
      // (theoretical) top edge into the last bin.
      t(s, dir, "orders")
        .groupBy(least(floor(col("o_totalprice") / 30000.0), lit(19.0))
          .cast(LongType).as("bin"))
        .agg(count(lit(1)).as("n"), round(avg(col("o_totalprice")), 2).as("bin_avg"))
        .orderBy(col("bin"))
    }),

    // Cross-source vocabulary overlap matrix — which domains share language
    // (data-card / contamination-surface view). Distinct (source, token)
    // first (the big reduce), then the pairwise intersection is an
    // equi-join ON TOKEN of two already-distinct sides: work scales with
    // shared-token pairs, never |tokens|² — the matrix shape that holds at
    // a 20×100 TB source mix. Jaccard from |A∩B| and per-source sizes.
    "source_overlap" -> ((s, dir) => {
      // st feeds both self-join sides and the sizes aggregate. NOT persisted
      // — measured: the distinct's shuffle exchange is reused across the
      // subtrees (ReusedExchange), so recompute is mostly free, while an
      // explicit persist adds a materialization barrier that costs ~40%
      // wall (2.6s → 3.7s at sf0.1; same direction at 10×)
      val st = t(s, dir, "documents")
        .select(col("source"), explode(TextFns.tokens(col("text"))).as("token"))
        .distinct()
      val sizes = st.groupBy(col("source")).agg(count(lit(1)).as("n"))
      val inter = st.as("a").join(st.as("b"),
          col("a.token") === col("b.token") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
        .agg(count(lit(1)).as("n_common"))
      inter
        .join(sizes.select(col("source").as("src_a"), col("n").as("n_a")), "src_a")
        .join(sizes.select(col("source").as("src_b"), col("n").as("n_b")), "src_b")
        .select(col("src_a"), col("src_b"), col("n_common"),
          round(col("n_common").cast(DoubleType) /
            (col("n_a") + col("n_b") - col("n_common")), 6).as("jaccard"))
        .orderBy(col("src_a"), col("src_b"))
    }),

    // Deterministic stratified sampling: per-stratum keep rates applied by
    // key-modulo (systematic sampling), not RNG — the reproducible variant
    // a 100 TB pipeline wants (same sample on every rerun/engine; no seed
    // coordination across 1000 executors; `df.stat.sampleBy` is the RNG
    // sibling). Rates travel as one literal map (a scalar broadcast);
    // selection is a pure rowwise predicate fused into the scan, and the
    // report is a single conditional aggregate — no joins, no second pass.
    "sample_stratified" -> ((s, dir) => {
      val perMille = typedLit(Map(
        "1-URGENT" -> 500L, "2-HIGH" -> 250L, "3-MEDIUM" -> 100L,
        "4-NOT SPECIFIED" -> 50L, "5-LOW" -> 10L))
      val keep = pmod(col("o_orderkey"), lit(1000L)) <
        element_at(perMille, col("o_orderpriority"))
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_total"),
          count(when(keep, lit(1))).as("n_sampled"),
          round(sum(when(keep, col("o_totalprice"))), 2).as("sampled_rev"))
        .orderBy(col("o_orderpriority"))
    }),

    // EXACT mergeable distinct counts via bitmap indexes — the Druid/
    // ClickHouse pattern and the exact sibling of hll_incremental's
    // sketch: per-(day, 32k-id bucket) bitmaps are kilobytes each, and
    // the MONTH rollup is bitmap_or_agg over the DAY bitmaps — distinct
    // users per month WITHOUT re-touching events, and (unlike HLL) the
    // merged answer is exact, so the whole card is hash-checkable. The
    // bucket split keeps every bitmap bounded regardless of the id
    // domain; the per-bucket state is CacheRegistry-tracked so the day
    // and month readouts share one corpus scan.
    "bitmap_distinct" -> ((s, dir) => {
      val perBucket = graft.operators.CacheRegistry.track(
        t(s, dir, "events")
          .where(col("user_id").isNotNull && col("ts").isNotNull)
          .select(to_date(col("ts")).as("day"), col("user_id"))
          .groupBy(col("day"), expr("bitmap_bucket_number(user_id)").as("bkt"))
          .agg(expr("bitmap_construct_agg(bitmap_bit_position(user_id))").as("bm")))
      val days = perBucket.groupBy(col("day"))
        .agg(sum(expr("bitmap_count(bm)")).as("n_users"))
        .select(col("day").cast(StringType).as("period"), col("n_users"))
      val months = perBucket
        .groupBy(expr("substring(CAST(day AS STRING), 1, 7)").as("period"), col("bkt"))
        .agg(expr("bitmap_or_agg(bm)").as("bm"))
        .groupBy(col("period")).agg(sum(expr("bitmap_count(bm)")).as("n_users"))
      days.unionByName(months).orderBy(col("period"))
    }),

    // Rendezvous (highest-random-weight) hashing resize audit (Thaler &
    // Ravishankar 1998 — what consistent hashing buys at a resharding:
    // mod-N placement moves ~15/16 of all keys when N goes 16→17, HRW
    // moves EXACTLY the 1/17 that land on the new shard and nothing
    // else). Each key's shard = argmax over shards of md5(key:shard) —
    // the HOF arrays materialize ONCE per width as columns (the round-1
    // lambda-rebinding rule), so the 33 hashes per key are computed once;
    // the card is a 16-row per-shard report and n_moved_elsewhere = 0 IS
    // the minimal-disruption law, published as a column.
    "rendezvous_resize" -> ((s, dir) => {
      val a = t(s, dir, "documents").select(col("doc_id"))
        .withColumn("arr16",
          expr("transform(sequence(0, 15), s -> md5(concat(CAST(doc_id AS STRING), ':', CAST(s AS STRING))))"))
        .withColumn("arr17",
          expr("transform(sequence(0, 16), s -> md5(concat(CAST(doc_id AS STRING), ':', CAST(s AS STRING))))"))
        .select(
          expr("CAST(array_position(arr16, array_max(arr16)) - 1 AS BIGINT)").as("s16"),
          expr("CAST(array_position(arr17, array_max(arr17)) - 1 AS BIGINT)").as("s17"))
      a.groupBy(col("s16").as("shard"))
        .agg(count(lit(1)).as("n_keys"),
          count(when(col("s16") =!= col("s17"), 1)).as("n_moved"),
          count(when(col("s16") =!= col("s17") && col("s17") =!= 16, 1))
            .as("n_moved_elsewhere"))
        .withColumn("pct_moved",
          expr("floor(CAST(n_moved AS DOUBLE) / n_keys * 1e4 + 0.5) / 1e4"))
        .orderBy(col("shard"))
    }),

    // Neyman optimal allocation (Neyman 1934 — the variance-minimizing way
    // to split a fixed sample budget across strata, the design step BEFORE
    // sample_stratified's per-stratum rates exist): n_h ∝ N_h·S_h, so
    // big AND volatile strata get the samples a proportional split wastes
    // on homogeneous ones. ONE conditional aggregate collapses customers
    // to the segments domain (first moments exact cents BIGINTs, second
    // moments DOUBLE — the ab_cuped overflow convention); S_h via sqrt
    // (IEEE-correctly-rounded in both engines), weights round to BIGINT
    // so the total is an order-independent integer sum, and both the
    // Neyman and the proportional allocation round through single
    // double divisions.
    "neyman_alloc" -> ((s, dir) => {
      val c = t(s, dir, "customer")
        .select(col("c_mktsegment"),
          expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("cents"))
      val m = c.groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_h"), sum(col("cents")).as("sx"),
          // exact BIGINT second moment (ab_sequential convention): ANSI sum
          // overflow throws = the guard; cents² ≈ 1e12 for acctbal, so the
          // horizon is ~9e6 customers per segment — far past the tested SFs,
          // and BOTH engines fail loudly (DuckDB HUGEINT→BIGINT cast) rather
          // than diverge
          sum(col("cents") * col("cents")).as("sxx"))
        .withColumn("sd",
          expr("sqrt((CAST(n_h AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) / (CAST(n_h AS DOUBLE) * (n_h - 1)))"))
        .withColumn("w", expr("CAST(floor(n_h * sd + 0.5) AS BIGINT)"))
      val totals = m.agg(sum(col("n_h")).as("n_tot"), sum(col("w")).as("w_tot"))
      m.crossJoin(broadcast(totals))
        .select(col("c_mktsegment"), col("n_h"),
          expr("floor(sx / (1e2 * n_h) * 1e4 + 0.5) / 1e4").as("mean_bal"),
          expr("floor(sd / 1e2 * 1e4 + 0.5) / 1e4").as("sd_bal"),
          expr("CAST(floor(1000e0 * w / w_tot + 0.5) AS BIGINT)").as("neyman_n"),
          expr("CAST(floor(1000e0 * n_h / n_tot + 0.5) AS BIGINT)").as("prop_n"))
        .orderBy(col("c_mktsegment"))
    }),

    // Zero-exchange co-located join via BUCKETED layout — the standing
    // answer to "is there a shuffle here that becomes the bottleneck at
    // scale?": both fact tables are written ONCE bucketed by the join key
    // (16 buckets, fingerprint-versioned table names so Verify/Bench
    // corpora never collide; metadata is session-catalog, files persist in
    // the warehouse), and every subsequent join of the two plans as a
    // sort-merge join with NO shuffle exchange on either side — the
    // layout cost amortizes across all future joins, which at 100 TB is
    // the difference between re-shuffling the fleet's biggest tables per
    // query and never shuffling them again. Broadcast is disabled on an
    // isolated session (join_bloom's pattern): at this SF the dim side
    // would broadcast and hide the co-location. Round8Spec pins the
    // exchange-free join plan.
    "join_bucketed" -> ((s0, dir) => {
      val s = s0.newSession()
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val fp = graft.operators.DiskCache.fingerprint(
        s"$dir/orders.parquet", s"$dir/lineitem.parquet")
      val oT = s"graft_bkt_orders_$fp"
      val lT = s"graft_bkt_lineitem_$fp"
      // the in-memory catalog dies with the JVM but the warehouse files
      // survive — and the BUCKETING metadata lives only in the catalog, so
      // a fresh JVM must rebuild, not adopt: drop the orphaned location
      // first (fingerprint-keyed ⇒ same-name means same data)
      def clearOrphan(tbl: String): Unit = if (!s.catalog.tableExists(tbl)) {
        val wh = s.conf.get("spark.sql.warehouse.dir", "target/warehouse")
          .stripPrefix("file:")
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
          f.delete(): Unit
        }
        val loc = new java.io.File(wh, tbl)
        if (loc.exists()) rm(loc)
      }
      // r15 (guide §6 "distribution mode" for bucketed writes; JobProfile:
      // the two writes were the card's cost — 0.7 s + 1.3 s on 1/3 map
      // tasks, the join itself 0.38 s): repartition by the BUCKET key to
      // the bucket count before writing. Locally this parallelizes the
      // single-split write 16 ways; at scale it is the correct layout move
      // regardless — without it every map task writes a file per bucket
      // (tasks×16 small files), with it each bucket is exactly one file.
      // The exchange carries only the two projected columns.
      if (!s.catalog.tableExists(oT)) {
        clearOrphan(oT)
        t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority"))
          .repartition(16, col("o_orderkey"))
          .write.bucketBy(16, "o_orderkey").sortBy("o_orderkey")
          .mode("overwrite").saveAsTable(oT)
      }
      if (!s.catalog.tableExists(lT)) {
        clearOrphan(lT)
        t(s, dir, "lineitem").select(col("l_orderkey"),
            col("l_quantity").cast(LongType).as("qty"))
          .repartition(16, col("l_orderkey"))
          .write.bucketBy(16, "l_orderkey").sortBy("l_orderkey")
          .mode("overwrite").saveAsTable(lT)
      }
      s.table(oT).join(s.table(lT), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_rows"), sum(col("qty")).as("sum_qty"))
        .orderBy(col("o_orderpriority"))
    }),

    // Runtime bloom-filter join (semi-join reduction): the selective filter
    // on the supplier side is turned into a bloom filter that prunes
    // lineitem rows BEFORE the join shuffle — at 100 TB this is the
    // difference between shuffling the whole fact table and shuffling the
    // ~4% of it that can match. Thresholds are lowered on an isolated
    // session (newSession shares the context, not the SQLConf) because the
    // sf-test inputs are below the 10 GiB production default;
    // AqeSpec asserts the BloomFilterMightContain actually lands in the
    // plan. Results are plan-invariant ⇒ exact oracle.
    "join_bloom" -> ((s, dir) => {
      val s2 = s.newSession()
      s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      // the 100 TB scenario: BOTH sides too big to broadcast (injection is
      // skipped for broadcast joins — nothing to prune pre-shuffle there);
      // at test scale that must be forced or the tiny dim just broadcasts
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val l = t(s2, dir, "lineitem")
      val sup = t(s2, dir, "supplier").where(col("s_nationkey") === 3)
      l.join(sup, l("l_suppkey") === sup("s_suppkey"))
        .groupBy(col("s_suppkey"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("sum_qty"))
        .orderBy(col("s_suppkey"))
    }),

    // Skew-mitigation advisor: which join keys are hot enough to need
    // salting, and by how much — the quantitative bridge from skew_profile
    // (diagnosis) to join_salted (treatment). Per-key loads collapse
    // map-side; the MEDIAN load comes from a count-of-counts selection over
    // the tiny loads domain (explicit bounded window — never the data); hot
    // keys compare n > 4·median in exact BIGINTs and the salt factor is
    // ⌈n/median⌉ integer arithmetic, i.e. "split this key into shards that
    // look like typical keys". A planted hot user (user 7's events ×20)
    // provides the skew the uniform synthetic stream lacks.
    "salt_advisor" -> ((s, dir) => {
      val ev = t(s, dir, "events").where(col("user_id").isNotNull)
        .select(col("user_id"))
      val planted = ev.unionByName(
        ev.where(col("user_id") === 7)
          .crossJoin(s.range(1, 20).select(col("id")))
          .select(col("user_id")))
      val counts = planted.groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      val med = counts.groupBy(col("n")).agg(count(lit(1)).as("k"))
        .withColumn("cum", sum(col("k")).over(
          Window.partitionBy(lit(0)).orderBy(col("n"))))
        .crossJoin(broadcast(counts.agg(count(lit(1)).as("tot"))))
        .where(col("cum") * 2 >= col("tot"))
        .agg(min(col("n")).as("med"))
      counts.crossJoin(broadcast(med))
        .where(col("n") > col("med") * 4)
        .select(col("user_id"), col("n"), col("med"),
          expr("(n + med - 1) DIV med").as("salt_factor"))
        .orderBy(col("user_id"))
    }),

    // The skew pipeline wired END-TO-END: measure per-key load on the
    // planted-hot-key stream, derive ⌈n/median⌉ salt factors for keys over
    // 4×median (the salt_advisor logic verbatim), then run the join
    // VARIABLE-SALTED — hot keys fan out by their own factor, the cold
    // tail replicates nothing (SkewJoin.adaptiveSaltedEquiJoin). The
    // oracle is the plain UNSALTED join: salting must be invisible in the
    // result, visible only in reducer load (ScaleOpsSpec also asserts
    // row-for-row equality with the unsalted plan inside Spark).
    "join_salted_auto" -> ((s, dir) => {
      import graft.operators.SkewJoin
      val ev = t(s, dir, "events").where(col("user_id").isNotNull)
        .select(col("user_id"), col("event_id"))
      val planted = ev.unionByName(
        ev.where(col("user_id") === 7)
          .crossJoin(s.range(1, 20).select(col("id")))
          .select(col("user_id"), col("event_id")))
      val counts = planted.groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      val med = counts.groupBy(col("n")).agg(count(lit(1)).as("k"))
        .withColumn("cum", sum(col("k")).over(
          Window.partitionBy(lit(0)).orderBy(col("n"))))
        .crossJoin(broadcast(counts.agg(count(lit(1)).as("tot"))))
        .where(col("cum") * 2 >= col("tot"))
        .agg(min(col("n")).as("med"))
      val factors = counts.crossJoin(broadcast(med))
        .where(col("n") > col("med") * 4)
        .select(col("user_id").as("fk"), expr("(n + med - 1) DIV med").as("salt_factor"))
      val dim = t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"))
      SkewJoin.adaptiveSaltedEquiJoin(planted, dim, "user_id", "c_custkey",
          factors, "fk", saltSource = col("event_id"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), sum(col("user_id")).as("uid_sum"))
        .orderBy(col("c_mktsegment"))
    }),

    // Sort-layout run-length report: value-RUN counts per column under two
    // write-time layouts — the quantitative "sort before write" decision
    // input (parquet RLE/dictionary page size ∝ runs; zone-map pruning
    // needs long runs; zorder_cluster's 1-D sibling). Each layout's total
    // order is encoded as a fixed-width lexicographic sort key and
    // `operators/Runs` counts both columns' runs with ONE data shuffle per
    // layout (bucket-local lag + buckets-sized boundary correction — the
    // first rn-self-join form paid a second data shuffle; plan-audited).
    // avg run length derives from two exact BIGINTs in one division
    // (engine-identical IEEE).
    // Zone-map skipping effectiveness under two write layouts — the
    // min/max-statistics pruning card (the mechanism behind parquet
    // row-group stats / Delta-Iceberg file skipping) that quantifies
    // "cluster by your hottest filter column" BEFORE paying for a
    // rewrite (rle_layout prices compression; this prices I/O): blocks
    // are key-range "files" (orderkey DIV 256 for the insertion-order
    // layout, shipdate-epoch-day DIV 16 for the date-clustered layout —
    // how range-partitioned writers actually bin rows), each keeping
    // min/max of BOTH columns; a block is scanned iff its stats range
    // intersects the predicate band. BOTH layouts' block stats come from
    // ONE grouping-sets pass over the raw scan (the basket_pairs probe
    // lesson — separate groupBys would pay the corpus exchange twice),
    // the blocks frame is checkpointed for the two predicate branches,
    // and every figure (skip fraction, read amplification in 1e-6 units)
    // is a BIGINT ratio — bit-exact cross-engine. At 100 TB this card IS
    // the layout decision: skip6 ≈ 0 on the cold column says re-cluster.
    "zonemap_selectivity" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").where(col("l_shipdate").isNotNull)
        .select(col("l_orderkey").as("ok"),
          datediff(to_date(col("l_shipdate")), to_date(lit("1970-01-01")))
            .cast(LongType).as("d"))
      val blocks = li
        .select(expr("ok DIV 256").as("ka"), expr("d DIV 16").as("kb"),
          col("ok"), col("d"))
        .groupingSets(Seq(Seq(col("ka")), Seq(col("kb"))), col("ka"), col("kb"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("ok")).as("min_ok"), max(col("ok")).as("max_ok"),
          min(col("d")).as("min_d"), max(col("d")).as("max_d"),
          sum(when(col("ok").between(1000L, 1499L), 1L).otherwise(0L)).as("m_ok"),
          sum(when(col("d").between(10013L, 10042L), 1L).otherwise(0L)).as("m_d"),
          grouping(col("ka")).as("gka"))
        .localCheckpoint(false) // blocks-sized; both pred branches read it
      val tagged = blocks.select(
        when(col("gka") === 0, lit("orderkey_range"))
          .otherwise(lit("date_range")).as("layout"),
        col("n_rows"), col("m_ok"), col("m_d"),
        (col("max_ok") >= 1000L && col("min_ok") <= 1499L).as("scan_ok"),
        (col("max_d") >= 10013L && col("min_d") <= 10042L).as("scan_d"))
      tagged.select(col("layout"), lit("orderkey_band").as("pred"),
          col("n_rows"), col("m_ok").as("m"), col("scan_ok").as("scanned"))
        .unionByName(tagged.select(col("layout"), lit("date_band").as("pred"),
          col("n_rows"), col("m_d").as("m"), col("scan_d").as("scanned")))
        .groupBy(col("layout"), col("pred"))
        .agg(count(lit(1)).as("n_blocks"),
          sum(when(col("scanned"), 1L).otherwise(0L)).as("n_blocks_scanned"),
          sum(when(col("scanned"), col("n_rows")).otherwise(0L)).as("rows_scanned"),
          sum(col("m")).as("rows_matching"))
        .withColumn("skip6",
          expr("((n_blocks - n_blocks_scanned) * 1000000) DIV n_blocks"))
        .withColumn("amp6",
          expr("(rows_scanned * 1000000) DIV greatest(rows_matching, 1)"))
        .orderBy(col("layout"), col("pred"))
    }),

    "rle_layout" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(
          col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship"))
        .localCheckpoint(false) // two layout passes + their probes read it
      // one count probe serves both layouts' range-bucket builds
      val nLi = li.count()
      def runs(orderCols: Seq[org.apache.spark.sql.Column],
               bucketKey: org.apache.spark.sql.Column, layout: String) =
        Runs.countsOrdered(li, orderCols, bucketKey,
            Seq("l_returnflag", "ship"), knownCount = Some(nLi))
          .select(lit(layout).as("layout"), col("n_rows"),
            col("runs_l_returnflag").as("runs_flag"), col("runs_ship"))
      // NATIVE tuple ordering (round 14; was a concatenated fixed-width
      // string key whose per-row format_string/concat dominated both the
      // sort and the boundary probes). The tuple order is IDENTICAL to the
      // old string's lexicographic order by construction (zero-padded key,
      // single-char flag, fixed-width date), so run counts are unchanged.
      // The synthetic (l_orderkey, l_linenumber) is NOT unique, so both run
      // columns join the sort key as tie-breakers — residual ties are then
      // IDENTICAL in flag and ship, making run counts order-independent
      // (caught live: a bare key mismatched the oracle by ±2 runs on
      // tie-order luck). Bucket keys are monotone lead prefixes: the raw
      // orderkey for by_key, the short flag|ship concat for by_flag.
      val byKey = runs(
        Seq(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"), col("ship")),
        col("l_orderkey"), "by_key")
      val byFlag = runs(
        Seq(col("l_returnflag"), col("ship"), col("l_orderkey"), col("l_linenumber")),
        concat(col("l_returnflag"), lit("|"), col("ship")), "by_flag")
      byKey.unionByName(byFlag)
        .select(col("layout"), col("n_rows"), col("runs_flag"), col("runs_ship"),
          (floor(col("n_rows") * 1e4 / col("runs_flag") + 0.5) / 1e4).as("avg_run_flag"),
          (floor(col("n_rows") * 1e4 / col("runs_ship") + 0.5) / 1e4).as("avg_run_ship"))
        .orderBy(col("layout"))
    }))

  private val toks = Tables.toksSql()

  val oracle: Map[String, String] = Map(
    "salt_advisor" ->
      """WITH planted AS (
        |  SELECT user_id FROM events WHERE user_id IS NOT NULL
        |  UNION ALL
        |  SELECT user_id FROM events CROSS JOIN (SELECT unnest(range(1, 20)))
        |  WHERE user_id = 7),
        |counts AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n
        |  FROM planted GROUP BY 1),
        |med AS (
        |  SELECT CAST(min(n) AS BIGINT) AS med FROM (
        |    SELECT n, sum(k) OVER (ORDER BY n) AS cum, sum(k) OVER () AS tot
        |    FROM (SELECT n, count(*) AS k FROM counts GROUP BY 1))
        |  WHERE cum * 2 >= tot)
        |SELECT user_id, n, med, (n + med - 1) // med AS salt_factor
        |FROM counts CROSS JOIN med
        |WHERE n > med * 4
        |ORDER BY user_id""".stripMargin,
    // the UNSALTED join — the salted plan must be result-identical
    "join_salted_auto" ->
      """WITH planted AS (
        |  SELECT user_id, event_id FROM events WHERE user_id IS NOT NULL
        |  UNION ALL
        |  SELECT user_id, event_id FROM events CROSS JOIN (SELECT unnest(range(1, 20)))
        |  WHERE user_id = 7)
        |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(user_id) AS BIGINT) AS uid_sum
        |FROM planted JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "zonemap_selectivity" ->
      """WITH li AS (SELECT l_orderkey AS ok,
        |    CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS d
        |  FROM lineitem WHERE l_shipdate IS NOT NULL),
        |b AS (SELECT ok // 256 AS ka, d // 16 AS kb, ok, d FROM li),
        |blocks AS (SELECT
        |    CASE WHEN GROUPING(ka) = 0 THEN 'orderkey_range'
        |      ELSE 'date_range' END AS layout,
        |    CAST(count(*) AS BIGINT) AS n_rows,
        |    min(ok) AS min_ok, max(ok) AS max_ok,
        |    min(d) AS min_d, max(d) AS max_d,
        |    CAST(sum(CASE WHEN ok BETWEEN 1000 AND 1499 THEN 1 ELSE 0 END) AS BIGINT) AS m_ok,
        |    CAST(sum(CASE WHEN d BETWEEN 10013 AND 10042 THEN 1 ELSE 0 END) AS BIGINT) AS m_d
        |  FROM b GROUP BY GROUPING SETS ((ka), (kb))),
        |pp AS (SELECT layout, 'orderkey_band' AS pred, n_rows, m_ok AS m,
        |    (max_ok >= 1000 AND min_ok <= 1499) AS scanned FROM blocks
        |  UNION ALL SELECT layout, 'date_band', n_rows, m_d,
        |    (max_d >= 10013 AND min_d <= 10042) FROM blocks)
        |SELECT layout, pred, CAST(count(*) AS BIGINT) AS n_blocks,
        |  CAST(sum(CASE WHEN scanned THEN 1 ELSE 0 END) AS BIGINT) AS n_blocks_scanned,
        |  CAST(sum(CASE WHEN scanned THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned,
        |  CAST(sum(m) AS BIGINT) AS rows_matching,
        |  CAST(((count(*) - sum(CASE WHEN scanned THEN 1 ELSE 0 END)) * 1000000)
        |    // count(*) AS BIGINT) AS skip6,
        |  CAST((sum(CASE WHEN scanned THEN n_rows ELSE 0 END) * 1000000)
        |    // greatest(sum(m), 1) AS BIGINT) AS amp6
        |FROM pp GROUP BY 1, 2 ORDER BY layout, pred""".stripMargin,
    "rle_layout" ->
      """WITH li AS (
        |  SELECT l_orderkey, l_linenumber, l_returnflag,
        |    strftime(l_shipdate, '%Y-%m-%d') AS ship FROM lineitem),
        |by_key AS (
        |  SELECT 'by_key' AS layout, CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(CASE WHEN p_flag IS NULL OR l_returnflag <> p_flag
        |             THEN 1 ELSE 0 END) AS BIGINT) AS runs_flag,
        |    CAST(sum(CASE WHEN p_ship IS NULL OR ship <> p_ship
        |             THEN 1 ELSE 0 END) AS BIGINT) AS runs_ship
        |  FROM (SELECT l_returnflag, ship,
        |      lag(l_returnflag) OVER w AS p_flag, lag(ship) OVER w AS p_ship
        |    FROM li WINDOW w AS (ORDER BY l_orderkey, l_linenumber, l_returnflag, ship))),
        |by_flag AS (
        |  SELECT 'by_flag' AS layout, CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(CASE WHEN p_flag IS NULL OR l_returnflag <> p_flag
        |             THEN 1 ELSE 0 END) AS BIGINT) AS runs_flag,
        |    CAST(sum(CASE WHEN p_ship IS NULL OR ship <> p_ship
        |             THEN 1 ELSE 0 END) AS BIGINT) AS runs_ship
        |  FROM (SELECT l_returnflag, ship,
        |      lag(l_returnflag) OVER w AS p_flag, lag(ship) OVER w AS p_ship
        |    FROM li WINDOW w AS (ORDER BY l_returnflag, ship, l_orderkey, l_linenumber)))
        |SELECT layout, n_rows, runs_flag, runs_ship,
        |  floor(n_rows * 1e4 / runs_flag + 0.5) / 1e4 AS avg_run_flag,
        |  floor(n_rows * 1e4 / runs_ship + 0.5) / 1e4 AS avg_run_ship
        |FROM (SELECT * FROM by_key UNION ALL SELECT * FROM by_flag)
        |ORDER BY layout""".stripMargin,
    "weighted_median" ->
      """WITH li AS (SELECT l_returnflag AS flag, l_extendedprice AS price,
        |    l_quantity AS qty, l_orderkey, l_linenumber FROM lineitem),
        |c AS (SELECT flag, price,
        |    sum(qty) OVER (PARTITION BY flag ORDER BY price, l_orderkey, l_linenumber
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(qty) OVER (PARTITION BY flag) AS tot
        |  FROM li)
        |SELECT flag, min(price) AS w_median
        |FROM c WHERE cum >= tot / 2 GROUP BY flag ORDER BY flag""".stripMargin,
    "gini_sources" ->
      """WITH d AS (SELECT source, n_chars AS w, doc_id,
        |    row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS i
        |  FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  floor((2.0 * sum(i * w) / (count(*) * sum(w))
        |    - (count(*) + 1.0) / count(*)) * 1e6 + 0.5) / 1e6 AS gini
        |FROM d GROUP BY source ORDER BY source""".stripMargin,
    "winsorize" ->
      """WITH e AS (SELECT event_type, value,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events
        |  WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |q AS (SELECT event_type, quantile_cont(cents, 0.05) AS lo,
        |    quantile_cont(cents, 0.95) AS hi FROM e GROUP BY 1),
        |c AS (SELECT e.event_type, e.cents,
        |    least(greatest(CAST(e.cents AS DOUBLE), q.lo), q.hi) AS cl,
        |    q.lo AS lo, q.hi AS hi
        |  FROM e JOIN q USING (event_type))
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(CASE WHEN CAST(cents AS DOUBLE) < lo THEN 1 END) AS BIGINT) AS n_clip_lo,
        |  CAST(count(CASE WHEN CAST(cents AS DOUBLE) > hi THEN 1 END) AS BIGINT) AS n_clip_hi,
        |  floor(sum(cl) / 100 * 1e2 + 0.5) / 1e2 AS sum_wins,
        |  floor(avg(cl) / 100 * 1e4 + 0.5) / 1e4 AS avg_wins
        |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin,
    "histogram_bins" ->
      """SELECT CAST(least(floor(o_totalprice / 30000.0), 19.0) AS BIGINT) AS bin,
        |  CAST(count(*) AS BIGINT) AS n, round(avg(o_totalprice), 2) AS bin_avg
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "source_overlap" ->
      s"""WITH st AS (SELECT DISTINCT source, unnest($toks) AS token FROM documents),
         |sz AS (SELECT source, count(*) AS n FROM st GROUP BY 1),
         |inter AS (
         |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_common
         |  FROM st a JOIN st b ON a.token = b.token AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT src_a, src_b, CAST(n_common AS BIGINT) AS n_common,
         |  round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6) AS jaccard
         |FROM inter JOIN sz sa ON sa.source = src_a JOIN sz sb ON sb.source = src_b
         |ORDER BY src_a, src_b""".stripMargin,
    "agg_incremental" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  max(doc_id) AS max_id,
        |  round(CAST(sum(n_chars) AS DOUBLE) / count(*), 4) AS avg_chars
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    // full recompute over O ⋈ L — the incremental merge must be exactly
    // equivalent to the view's definition
    "mv_join_maintain" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // layout-invariant: the plain join over raw orders
    "join_partition_pruned" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM orders WHERE year(o_orderdate) > 1997
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // full recompute over the whole orders table — the incremental merge
    // must reproduce the scd2_history construction row-for-row
    "scd2_maintain" ->
      """WITH c AS (SELECT o_custkey, o_orderdate, o_orderkey, o_orderstatus,
        |    lag(o_orderstatus) OVER w AS prev_status FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
        |ch AS (SELECT * FROM c WHERE prev_status IS NULL OR prev_status <> o_orderstatus),
        |r AS (SELECT o_custkey, o_orderstatus AS status, o_orderdate AS valid_from,
        |    lead(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS valid_to
        |  FROM ch)
        |SELECT o_custkey, status, valid_from, valid_to FROM r WHERE o_custkey < 100
        |ORDER BY o_custkey, valid_from, status""".stripMargin,
    // join_bucketed's result is layout-invariant: the plain join SQL
    "join_bucketed" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // mv_rewrite declares the NAIVE form; the rewrite is plan-invariant
    "mv_rewrite" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "bitmap_distinct" ->
      """WITH ev AS (SELECT CAST(ts AS DATE) AS day, user_id FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL)
        |SELECT CAST(day AS VARCHAR) AS period,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM ev GROUP BY day
        |UNION ALL
        |SELECT substr(CAST(day AS VARCHAR), 1, 7) AS period,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM ev GROUP BY 1
        |ORDER BY period""".stripMargin,
    "rendezvous_resize" ->
      """WITH a AS (SELECT doc_id,
        |    list_transform(range(0, 16), s -> md5(CAST(doc_id AS VARCHAR) || ':' || CAST(s AS VARCHAR))) AS arr16,
        |    list_transform(range(0, 17), s -> md5(CAST(doc_id AS VARCHAR) || ':' || CAST(s AS VARCHAR))) AS arr17
        |  FROM documents),
        |sh AS (SELECT
        |    CAST(list_indexof(arr16, list_aggregate(arr16, 'max')) - 1 AS BIGINT) AS s16,
        |    CAST(list_indexof(arr17, list_aggregate(arr17, 'max')) - 1 AS BIGINT) AS s17
        |  FROM a)
        |SELECT s16 AS shard, CAST(count(*) AS BIGINT) AS n_keys,
        |  CAST(count(CASE WHEN s16 <> s17 THEN 1 END) AS BIGINT) AS n_moved,
        |  CAST(count(CASE WHEN s16 <> s17 AND s17 <> 16 THEN 1 END) AS BIGINT) AS n_moved_elsewhere,
        |  floor(CAST(count(CASE WHEN s16 <> s17 THEN 1 END) AS DOUBLE) / count(*) * 1e4 + 0.5) / 1e4 AS pct_moved
        |FROM sh GROUP BY 1 ORDER BY 1""".stripMargin,
    "neyman_alloc" ->
      """WITH c AS (SELECT c_mktsegment,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS cents FROM customer),
        |m AS (SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_h,
        |    CAST(sum(cents) AS BIGINT) AS sx,
        |    CAST(sum(cents * cents) AS BIGINT) AS sxx
        |  FROM c GROUP BY 1),
        |m2 AS (SELECT *, sqrt((CAST(n_h AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
        |    / (CAST(n_h AS DOUBLE) * (n_h - 1))) AS sd FROM m),
        |m3 AS (SELECT *, CAST(floor(n_h * sd + 0.5) AS BIGINT) AS w FROM m2),
        |t AS (SELECT CAST(sum(n_h) AS BIGINT) AS n_tot,
        |    CAST(sum(w) AS BIGINT) AS w_tot FROM m3)
        |SELECT c_mktsegment, n_h,
        |  floor(sx / (1e2 * n_h) * 1e4 + 0.5) / 1e4 AS mean_bal,
        |  floor(sd / 1e2 * 1e4 + 0.5) / 1e4 AS sd_bal,
        |  CAST(floor(1000e0 * w / w_tot + 0.5) AS BIGINT) AS neyman_n,
        |  CAST(floor(1000e0 * n_h / n_tot + 0.5) AS BIGINT) AS prop_n
        |FROM m3 CROSS JOIN t ORDER BY 1""".stripMargin,
    "sample_stratified" ->
      """WITH rated AS (
        |  SELECT o_orderpriority, o_totalprice,
        |    (o_orderkey % 1000) < (CASE o_orderpriority
        |      WHEN '1-URGENT' THEN 500 WHEN '2-HIGH' THEN 250 WHEN '3-MEDIUM' THEN 100
        |      WHEN '4-NOT SPECIFIED' THEN 50 WHEN '5-LOW' THEN 10 END) AS keep
        |  FROM orders)
        |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_total,
        |  CAST(count(CASE WHEN keep THEN 1 END) AS BIGINT) AS n_sampled,
        |  round(sum(CASE WHEN keep THEN o_totalprice END), 2) AS sampled_rev
        |FROM rated GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "join_bloom" ->
      """SELECT s_suppkey, CAST(count(*) AS BIGINT) AS n, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |WHERE s_nationkey = 3
        |GROUP BY s_suppkey ORDER BY s_suppkey""".stripMargin,
    "bloom_fpr_curve" ->
      """WITH ok AS (SELECT DISTINCT l_orderkey AS x FROM lineitem),
        |members AS MATERIALIZED (SELECT x FROM ok WHERE x % 2 = 0),
        |probes AS MATERIALIZED (SELECT x FROM ok WHERE x % 2 = 1),
        |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_keys FROM members),
        |cfg AS MATERIALIZED (SELECT bpk, k, bpk * n_keys AS m
        |  FROM (VALUES (4, 3), (8, 6), (12, 8)) c(bpk, k) CROSS JOIN stats),
        |bits AS MATERIALIZED (
        |  SELECT DISTINCT c.bpk, c.k,
        |    CAST(('0x' || substr(md5('bf' || j || ':' || m.x), 1, 15)) AS BIGINT) % c.m AS pos
        |  FROM members m CROSS JOIN cfg c, UNNEST(range(1, c.k + 1)) u(j)),
        |pr AS (
        |  SELECT c.bpk, c.k, p.x,
        |    CAST(('0x' || substr(md5('bf' || j || ':' || p.x), 1, 15)) AS BIGINT) % c.m AS pos
        |  FROM probes p CROSS JOIN cfg c, UNNEST(range(1, c.k + 1)) u(j)),
        |hits AS (SELECT pr.bpk, pr.k, pr.x, CAST(count(*) AS BIGINT) AS nm
        |  FROM pr JOIN bits b ON b.bpk = pr.bpk AND b.k = pr.k AND b.pos = pr.pos
        |  GROUP BY 1, 2, 3),
        |fp AS (SELECT bpk, k, CAST(count(*) AS BIGINT) AS n_fp FROM hits
        |  WHERE nm = k GROUP BY 1, 2),
        |bc AS (SELECT bpk, k, CAST(count(*) AS BIGINT) AS n_bits_set
        |  FROM bits GROUP BY 1, 2),
        |np AS (SELECT CAST(count(*) AS BIGINT) AS n_probes FROM probes)
        |SELECT CAST(c.bpk AS BIGINT) AS bpk, CAST(c.k AS BIGINT) AS k,
        |  s.n_keys, CAST(c.m AS BIGINT) AS m, bc.n_bits_set, np.n_probes,
        |  CAST(coalesce(fp.n_fp, 0) AS BIGINT) AS n_fp,
        |  CAST((coalesce(fp.n_fp, 0) * 1000000) // greatest(np.n_probes, 1) AS BIGINT) AS fpr6
        |FROM cfg c CROSS JOIN stats s CROSS JOIN np
        |LEFT JOIN bc ON bc.bpk = c.bpk AND bc.k = c.k
        |LEFT JOIN fp ON fp.bpk = c.bpk AND fp.k = c.k
        |ORDER BY bpk, k""".stripMargin,
    "hll_card" ->
      s"""WITH tok AS (SELECT source, unnest($toks) AS token FROM documents)
         |SELECT source, CAST(count(DISTINCT token) AS BIGINT) AS exact_vocab,
         |  CAST(count(*) AS BIGINT) AS n_tokens, CAST(0 AS BIGINT) AS est_err_units
         |FROM tok GROUP BY source
         |UNION ALL
         |SELECT 'ALL' AS source, CAST(count(DISTINCT token) AS BIGINT) AS exact_vocab,
         |  CAST(count(*) AS BIGINT) AS n_tokens, CAST(0 AS BIGINT) AS est_err_units
         |FROM tok
         |ORDER BY source""".stripMargin,
    "hll_incremental" ->
      s"""WITH tok AS (SELECT source, unnest($toks) AS token FROM documents)
         |SELECT source, CAST(count(DISTINCT token) AS BIGINT) AS exact_vocab,
         |  CAST(count(*) AS BIGINT) AS n_tokens, CAST(0 AS BIGINT) AS est_err_units
         |FROM tok GROUP BY source ORDER BY source""".stripMargin,
    "heavy_hitters" ->
      s"""WITH tok AS (SELECT unnest($toks) AS token FROM documents)
         |SELECT token, CAST(count(*) AS BIGINT) AS n FROM tok
         |GROUP BY token ORDER BY n DESC, token LIMIT 20""".stripMargin,
    "cms_counts" ->
      s"""WITH tok AS (SELECT unnest($toks) AS token FROM documents)
         |SELECT token, CAST(count(*) AS BIGINT) AS n, TRUE AS cms_ge FROM tok
         |GROUP BY token ORDER BY n DESC, token LIMIT 20""".stripMargin,
    "outlier_mad" ->
      """WITH e AS (SELECT event_id, event_type, value,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |med AS (SELECT event_type, quantile_cont(cents, 0.5) AS med
        |  FROM e GROUP BY event_type),
        |d AS (SELECT e.*, abs(CAST(e.cents AS DOUBLE) - m.med) AS adev
        |  FROM e JOIN med m USING (event_type)),
        |mad AS (SELECT event_type, quantile_cont(adev, 0.5) AS mad
        |  FROM d GROUP BY event_type)
        |SELECT d.event_id AS event_id, d.event_type AS event_type,
        |  d.value AS value, d.adev AS adev
        |FROM d JOIN mad USING (event_type)
        |WHERE d.adev > mad.mad * 4.4478 ORDER BY event_id""".stripMargin,
    "zorder_cluster" ->
      s"""WITH z AS (SELECT l_partkey, l_suppkey,
         |    ${ZOrder.sqlExpr("l_partkey", "l_suppkey", 15)} AS zval
         |  FROM lineitem)
         |SELECT zval // 16777216 AS zbucket, CAST(count(*) AS BIGINT) AS n,
         |  min(l_partkey) AS min_pk, max(l_partkey) AS max_pk,
         |  min(l_suppkey) AS min_sk, max(l_suppkey) AS max_sk
         |FROM z GROUP BY zbucket ORDER BY zbucket""".stripMargin)

  /** Winsorize with a CARDINALITY-GUARDED quantile path. The driver
    * histogram collect is only legal when the (type, cents) domain is
    * provably config-sized — the histogram job itself probes it via
    * `limit(maxHistRows + 1)` (bounded driver transfer at ANY domain
    * size, no extra scan); a wide/continuous domain falls back to the
    * fully distributed `DiscreteQuantile.quantiles` (Spark-identical R-7
    * arithmetic, so both branches produce bit-identical output;
    * ScaleOpsSpec forces the fallback and asserts equality).
    * `DiscreteQuantile.histogramFitsDriver` is the standalone
    * approx_count_distinct form of the same guard for callers that must
    * decide BEFORE aggregating. `maxHistRows` is exposed ONLY so the spec
    * can force the fallback. */
  private[graft] def winsorized(s: SparkSession, dir: String,
      maxHistRows: Long = DiscreteQuantile.DefaultMaxDriverHistRows): DataFrame = {
    val e = t(s, dir, "events")
      .where(col("value").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"), col("value"),
        round(col("value") * 100).cast(LongType).as("cents"))
    // ONE bounded job probes AND collects: limit(max+1) caps the driver
    // transfer no matter the domain; getting max+1 rows back means the
    // histogram is NOT config-sized → discard and go distributed. In the
    // good case this is the same single aggregation job as the unguarded
    // round-3 form (a separate approx_count_distinct probe cost a second
    // corpus scan — bench-caught at 1.9×).
    val histRows = e.groupBy(col("event_type"), col("cents"))
      .agg(count(lit(1)).as("cnt"))
      .limit(math.min(maxHistRows, Int.MaxValue - 1L).toInt + 1)
      .collect()
    val bounded =
      if (histRows.length <= maxHistRows) {
        val hist = histRows.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        val bounds = hist.groupBy(_._1).map { case (tpe, rows) =>
          val h = rows.map(r => (r._2.toDouble, r._3)).toSeq
          tpe -> (DiscreteQuantile.quantileOfHistogram(h, 0.05),
            DiscreteQuantile.quantileOfHistogram(h, 0.95))
        }
        e.withColumn("_lo",
            element_at(typedLit(bounds.map { case (k, v) => k -> v._1 }), col("event_type")))
          .withColumn("_hi",
            element_at(typedLit(bounds.map { case (k, v) => k -> v._2 }), col("event_type")))
      } else {
        // distributed fallback: histogram-sized shuffles only, thresholds
        // broadcast-joined back (|types| rows) — the event stream itself is
        // never shuffled in either branch
        val b = DiscreteQuantile.quantiles(e, Seq("event_type"),
          col("cents").cast(DoubleType), Seq(0.05, 0.95), Seq("_lo", "_hi"))
        e.join(broadcast(b), Seq("event_type"))
      }
    bounded
      .withColumn("cl", least(greatest(col("cents").cast(DoubleType), col("_lo")), col("_hi")))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        count(when(col("cents").cast(DoubleType) < col("_lo"), 1)).as("n_clip_lo"),
        count(when(col("cents").cast(DoubleType) > col("_hi"), 1)).as("n_clip_hi"),
        (floor(sum(col("cl")) / 100 * 1e2 + 0.5) / 1e2).as("sum_wins"),
        (floor(avg(col("cl")) / 100 * 1e4 + 0.5) / 1e4).as("avg_wins"))
      .orderBy(col("event_type"))
  }

  /** MAD outlier gate with the same cardinality guard as [[winsorized]].
    * Driver branch: ONE histogram job, median + MAD from the same collected
    * histogram, thresholds fold back as literal maps. Distributed branch:
    * median via DiscreteQuantile.quantiles, |cents−med| recomputed as a
    * column, second distributed quantile for the MAD — two histogram-sized
    * shuffles, zero driver state. Identical R-7 arithmetic in both. */
  private[graft] def outlierMad(s: SparkSession, dir: String,
      maxHistRows: Long = DiscreteQuantile.DefaultMaxDriverHistRows): DataFrame = {
    // null value/type rows can't be scored — drop them like the oracle's
    // quantile_cont (ignores NULLs) + join (drops null keys) would, and
    // before the collect (a null cents field would throw in getLong)
    val e = t(s, dir, "events")
      .where(col("value").isNotNull && col("event_type").isNotNull)
      .select(col("event_id"), col("event_type"),
        col("value"), round(col("value") * 100).cast(LongType).as("cents"))
    // same bounded limit(max+1) probe-and-collect as [[winsorized]]
    val histRows = e.groupBy(col("event_type"), col("cents"))
      .agg(count(lit(1)).as("cnt"))
      .limit(math.min(maxHistRows, Int.MaxValue - 1L).toInt + 1)
      .collect()
    val scored =
      if (histRows.length <= maxHistRows) {
        // ONE domain-bounded histogram job (map-side combined to ≤ |types|×
        // |cents domain| rows), then pure driver math: the cents histogram
        // yields the median, folding |cents−med| over the same histogram
        // yields the MAD — no second scan, no quantile subtree left in the
        // final plan. Thresholds return as a literal map (the cluster
        // shape: a scalar-config broadcast) → a single filtered scan.
        val hist = histRows.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        val madMap = hist.groupBy(_._1).map { case (tpe, rows) =>
          val centsHist = rows.map(r => (r._2.toDouble, r._3)).toSeq
          val med = DiscreteQuantile.quantileOfHistogram(centsHist, 0.5)
          val adevHist = rows.groupBy(r => math.abs(r._2.toDouble - med))
            .map { case (v, rs) => (v, rs.map(_._3).sum) }.toSeq
          val mad = DiscreteQuantile.quantileOfHistogram(adevHist, 0.5)
          tpe -> (med, mad)
        }
        e.withColumn("_med",
            element_at(typedLit(madMap.map { case (k, v) => k -> v._1 }), col("event_type")))
          .withColumn("_thr",
            element_at(typedLit(madMap.map { case (k, v) => k -> v._2 }),
              col("event_type")) * lit(4.4478))
      } else {
        val med = DiscreteQuantile.quantiles(e, Seq("event_type"),
          col("cents").cast(DoubleType), Seq(0.5), Seq("_med"))
        val withMed = e.join(broadcast(med), Seq("event_type"))
        val mad = DiscreteQuantile.quantiles(withMed, Seq("event_type"),
          abs(col("cents").cast(DoubleType) - col("_med")), Seq(0.5), Seq("_mad"))
        withMed.join(broadcast(mad), Seq("event_type"))
          .withColumn("_thr", col("_mad") * lit(4.4478))
      }
    scored.withColumn("adev", abs(col("cents").cast(DoubleType) - col("_med")))
      .where(col("adev") > col("_thr"))
      .select(col("event_id"), col("event_type"), col("value"), col("adev"))
      .orderBy(col("event_id"))
  }
}
