package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-12 items: the IVF delete/tombstone lifecycle stage, the
  * compressed-rerank PLAID card, the streaming near-dup ingest gate, the
  * incremental corpus-assembly funnel, and chunk text materialization. */
class Round12Spec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("ivf_delete: no tombstoned id survives compaction, results exclude them") {
    import graft.operators.Ivf
    // run the declared query first — it builds (or reuses) the compacted
    // post-delete snapshot this test inspects
    val res = graft.queries.QueriesSim.queries("ivf_delete")(spark, dir)
      .collect()
    assert(res.nonEmpty)
    val base = graft.operators.DiskCache.keyedPath(
      "ivf_idx_v1", s"$dir/embeddings.parquet")
    val compacted = Ivf.readIndex(spark, s"$base/compacted_del_1")
    // (a) physical drop: the compacted index holds NO tombstoned id
    assert(compacted.where(col("vec_id") % 30 === 0 &&
        col("vec_id") < 100000L).count() == 0,
      "tombstoned corpus id survived compaction")
    assert(compacted.where(col("vec_id") >= 100000L &&
        (col("vec_id") - 100000L) % 30 === 0).count() == 0,
      "tombstoned batch copy survived compaction")
    // (b) and therefore no result row returns a deleted vector
    assert(!res.exists(r => r.getLong(1) % 30 == 0 && r.getLong(1) < 100000L))
    assert(!res.exists(r => r.getLong(1) >= 100000L && (r.getLong(1) - 100000L) % 30 == 0))
  }

  test("maxsim_pq: the rerank subtree reads PQ codes, never a corpus embedding") {
    val parts = graft.queries.QueriesSim.maxsimPqParts(spark, dir)
    val exec = parts.scored.queryExecution.executedPlan
    val plan = exec.collectFirst {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
    }.getOrElse(exec)
    val scans = plan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.schema.fieldNames.contains("embedding") => f
    }
    // raw embeddings may enter the rerank ONLY on the query side (vec_id<5
    // pushed to the scan): the doc side reads the materialized code table.
    // Structural check (round-12 ADVICE): collect LessThan(vec_id, lit) from
    // dataFilters rather than substring-matching the rendered plan — an
    // unrelated "< 5" elsewhere must not satisfy this.
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, LessThan, Literal}
    scans.foreach { f =>
      val queryPanelBound = f.dataFilters.exists(_.collectFirst {
        case LessThan(a: AttributeReference, Literal(v: Long, _))
            if a.name == "vec_id" && v <= 5L => ()
        case LessThan(a: AttributeReference, Literal(v: Int, _))
            if a.name == "vec_id" && v <= 5 => ()
      }.isDefined)
      assert(queryPanelBound,
        s"corpus-sized embedding scan inside the rerank subtree (no vec_id < 5 panel bound):\n$f")
    }
  }

  test("maxsim_pq: same candidates as maxsim_ivf, compressed rerank trades recall") {
    def rows(q: String) = graft.queries.QueriesSim.queries(q)(spark, dir).collect()
    val pq = rows("maxsim_pq").map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val ivf = rows("maxsim_ivf").map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(pq.map(_._1).toSeq == (0L until 5L))
    val nCorpus = graft.queries.Tables.t(spark, dir, "embeddings")
      .where(col("embedding").isNotNull).count()
    pq.foreach { r =>
      // the SAME shared quantizer drives both cards — candidate sets match
      assert(ivf(r._1) == r._2, s"qid ${r._1}: candidates diverged from maxsim_ivf")
      assert(r._2 < nCorpus, s"qid ${r._1}: no pruning")
      assert(r._3 >= 0 && r._3 <= 5)
      assert(r._4 == r._3 * 1000000L / 5L)
    }
    // the compressed rerank must retrieve SOMETHING (a dead ADC scorer
    // would read 0 everywhere) and, being lossy, may trail the raw rerank
    assert(pq.map(_._3).sum > 0, "ADC rerank retrieved nothing")
  }

  test("gopher_rules: every planted family fails exactly its target rule; natural rules live (all SFs)") {
    // round-12 ADVICE: the planted 'symbol' family only trips f_sym while
    // docs stay under ~144 tokens (16·10 > nw+16); running the liveness
    // assertions at EVERY oracle-checked SF catches a future testdata
    // generation with longer docs (where the fixed 16-'#' planting would
    // silently die while oracle equality still held)
    for (sfDir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val rows = graft.queries.QueriesText.queries("gopher_rules")(spark, sfDir)
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6))).toMap
      val (shortF, symF, gluF, nat) =
        (rows("short"), rows("symbol"), rows("glued"), rows("natural"))
      // each planted family trips its target rule on EVERY member
      assert(shortF._2 == shortF._1, s"$sfDir: a 5-token doc passed the word-count rule")
      assert(symF._4 == symF._1, s"$sfDir: a '#'-stuffed doc passed the symbol-ratio rule")
      assert(gluF._3 == gluF._1, s"$sfDir: a glued doc passed the word-length rule")
      // the naturally-live rules actually fire on natural docs (measured:
      // 5th-pctile word count 14-16, zero-stopword docs exist at every SF)
      assert(nat._2 > 0, s"$sfDir: word-count rule dead on natural docs")
      assert(nat._5 > 0, s"$sfDir: stopword rule dead on natural docs")
      // and the naturally-dead rules never fire on natural docs (measured
      // sym=0, mean word length 3.5-5.73)
      assert(nat._3 == 0 && nat._4 == 0, s"$sfDir: symbol/word-length rule fired on natural docs")
      // most natural docs survive the battery
      assert(nat._6 * 2 > nat._1, s"$sfDir: battery dropped a majority of natural docs")
    }
  }

  test("loader_shards: exact count balance, disjoint-exhaustive mass accounting") {
    val rows = graft.queries.QueriesPipeline.queries("loader_shards")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).toSeq == (0L until 16L), "shards not dense 0..15")
    // round-robin over the global position: counts differ by AT MOST one
    val counts = rows.map(_._2)
    assert(counts.max - counts.min <= 1L, s"shard counts unbalanced: $counts")
    val docs = graft.queries.Tables.t(spark, dir, "documents")
      .where(col("text").isNotNull)
      .agg(count(lit(1)), sum(col("n_chars"))).head
    assert(counts.sum == docs.getLong(0), "shards do not partition the corpus")
    assert(rows.map(_._4).sum == docs.getLong(1), "char mass not conserved")
  }

  test("chunk_windows: materialized chunk text is exactly its token span") {
    val rows = graft.queries.QueriesPipeline.queries("chunk_windows")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(5), r.getString(6)))
    assert(rows.nonEmpty)
    // the text re-tokenizes to exactly `len` tokens (tokens are non-empty
    // non-space runs, so a single-space join round-trips)
    rows.foreach { r =>
      assert(r._4.split("\\s+").count(_.nonEmpty) == r._3,
        s"doc ${r._1} chunk ${r._2}: chunk_text token count != len")
    }
    // consecutive windows share the 8-token overlap cushion: a FULL chunk's
    // 8-token suffix is the next chunk's prefix
    rows.groupBy(_._1).foreach { case (doc, ch) =>
      val sorted = ch.sortBy(_._2).toSeq
      sorted.sliding(2).foreach {
        case Seq(a, b) if a._3 == 32L =>
          val sfx = a._4.split(" ").takeRight(8).toSeq
          val pfx = b._4.split(" ").take(8).toSeq
          assert(sfx == pfx, s"doc $doc: overlap mismatch between chunks ${a._2}/${b._2}")
        case _ => ()
      }
    }
  }

  test("corpus_assembly_incremental: equals the from-scratch funnel over base ∪ batch") {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.TextFns
    val got = graft.queries.QueriesPipeline.queries("corpus_assembly_incremental")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSet
    // from-scratch recompute over the SAME two-era corpus (no state, no
    // keeper index — the maintained funnel must be indistinguishable)
    val docsAll = graft.queries.Tables.t(spark, dir, "documents")
      .where(col("text").isNotNull)
      .select(col("doc_id"), col("source"), col("text"), col("n_chars"))
    val off = docsAll.agg((max(col("doc_id")) + 1L).as("off"))
    val corpus = docsAll.unionByName(
      docsAll.where(col("doc_id") % 25 === 0 && col("doc_id") < 400)
        .crossJoin(broadcast(off))
        .select((col("doc_id") + col("off")).as("doc_id"), col("source"),
          col("text"), col("n_chars")))
    val scored = corpus.select(col("doc_id"), col("source"), col("n_chars"),
      md5(col("text")).as("h"), TextFns.qualityScore(col("text")).as("score"))
    val keeper = scored.groupBy(col("h")).agg(min(col("doc_id")).as("keep_id"))
    val fl = scored.join(keeper, "h")
      .withColumn("dup", col("doc_id") =!= col("keep_id"))
      .withColumn("qpass", col("score") >= 0.5)
      .localCheckpoint(false)
    val w = Window.partitionBy(col("source"))
      .orderBy(md5(concat(lit("asm:"), col("doc_id").cast("string"))), col("doc_id"))
    val kept = fl.where(!col("dup") && col("qpass"))
      .withColumn("rk", row_number().over(w)).where(col("rk") <= 50)
    val want = fl.groupBy(col("source"))
      .agg(count(lit(1)).as("n_raw"),
        count(when(!col("dup"), 1)).as("n_after_dedup"),
        count(when(!col("dup") && col("qpass"), 1)).as("n_after_quality"))
      .join(kept.groupBy(col("source"))
          .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("kept_id_sum"),
            sum(col("n_chars")).as("chars_kept")),
        Seq("source"), "left")
      .select(col("source"), col("n_raw"), col("n_after_dedup"),
        col("n_after_quality"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_id_sum"), lit(0L)).as("kept_id_sum"),
        coalesce(col("chars_kept"), lit(0L)).as("chars_kept"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSet
    assert(got == want,
      s"incremental/from-scratch divergence: missing=${want -- got} extra=${got -- want}")
    // the persisted state actually exists — the refresh path had state to read
    val statePath = graft.operators.DiskCache.keyedPath(
      "asmstate_v1", s"$dir/documents.parquet")
    for (part <- Seq("hashes", "stats", "pool"))
      assert(new java.io.File(s"$statePath/$part/_SUCCESS").exists(),
        s"missing persisted state $part")
    // every planted re-arrival was dropped by the keeper index
    val planted = docsAll.where(col("doc_id") % 25 === 0 && col("doc_id") < 400)
      .groupBy(col("source")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    got.foreach { r =>
      assert(r._2 - r._3 >= planted.getOrElse(r._1, 0L),
        s"${r._1}: dedup dropped fewer than the planted re-arrivals")
    }
  }

  test("ingestNearDupGate: streaming gate equals the batch incremental verdicts") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Dedup
    // the SAME appends dedup_incremental gates in batch mode, against the
    // SAME persisted ensure-once band index
    val docs = graft.queries.Tables.t(spark, dir, "documents")
    val idxPath = graft.queries.QueriesDedup.existingCorpusIndex(spark, dir)
    val incoming = docs.where(col("doc_id") >= 100 && col("doc_id") % 25 === 0)
      .select((col("doc_id") + 300000L).as("doc_id"),
        concat(col("text"), lit(" xtra xtra")).as("text"))
      .unionByName(docs.where(col("doc_id") < 50)
        .select((col("doc_id") + 400000L).as("doc_id"), col("text")))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val expected = Dedup.incrementalNearDups(
        incoming.toDF("doc_id", "text"), "doc_id", "text", idxPath, threshold = 0.8)
      .select(col("id_new"), col("id_idx"), round(col("jaccard"), 6).as("j"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(expected.nonEmpty, "batch gate found nothing — planted near-dups missing?")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val gate = graft.streaming.Streams.ingestNearDupGate(
      ms.toDF().toDF("doc_id", "text"), "doc_id", "text", idxPath, threshold = 0.8)
    val q = gate.writeStream.format("memory").queryName("gate_hits")
      .outputMode("append").start()
    try {
      // chunked delivery: equivalence must not depend on micro-batch cuts
      val (a, b) = incoming.splitAt(incoming.length / 2)
      ms.addData(a: _*); q.processAllAvailable()
      ms.addData(b: _*); q.processAllAvailable()
      val got = spark.table("gate_hits")
        .select(col("id_new"), col("id_idx"), round(col("jaccard"), 6).as("j"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == expected,
        s"stream/batch divergence: missing=${expected -- got} extra=${got -- expected}")
    } finally q.stop()
  }

  test("ivf_delete: logical (tombstone anti-join) and physical delete search identically") {
    import graft.operators.Ivf
    val e = graft.queries.Tables.t(spark, dir, "embeddings")
      .where(col("embedding").isNotNull).select(col("vec_id"), col("embedding"))
    val cents = Ivf.trainSampled(e, "vec_id", "embedding", k = 8)
    val base = graft.operators.DiskCache.keyedPath(
      "ivf_idx_v1", s"$dir/embeddings.parquet")
    // the declared query (run here if this test executes first) builds all
    // three snapshots ensure-once
    val physical = graft.queries.QueriesSim.queries("ivf_delete")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet
    val tomb = e.where(col("vec_id") % 30 === 0).select(col("vec_id"))
      .unionByName(e.where(col("vec_id") % 50 === 0 && col("vec_id") % 30 === 0)
        .select((col("vec_id") + 100000L).as("vec_id")))
    val union = Ivf.readIndex(spark, s"$base/corpus")
      .unionByName(Ivf.readIndex(spark, s"$base/batch_1"))
      .join(tomb, Seq("vec_id"), "left_anti") // search-time exclusion
    val q = e.where(col("vec_id") < 5 && col("vec_id") % 30 =!= 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val logical = Ivf.search(union, cents, q, "embedding", topK = 10, nprobe = 3)
      .select(col("qid"), col("vec_id"), round(col("cos"), 6).as("cos"),
        col("rank").cast("long").as("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet
    assert(logical == physical,
      "tombstone-filtered union search diverged from the compacted index search")
  }
}
