package graft

import graft.operators.PageRank
import org.apache.spark.sql.functions._

/** Round-9 additions: data-scale PageRank (operator unit + full-query
  * differential recompute) and the compression_ratio proxy swap. */
class Round9Spec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("PageRank: hand-rolled fixed-point recompute on a weighted digraph with a dangling node") {
    import spark.implicits._
    // 1 -> 2 (w 3), 1 -> 3 (w 1), 2 -> 1 (w 1), 3 has no out-edges (dangling)
    val raw = Seq((1L, 2L, 3L), (1L, 3L, 1L), (2L, 1L, 1L))
    val edges = raw.toDF("src", "dst", "w")
      .withColumn("wo", sum(col("w")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("src"))))
      .select(col("src"), col("dst"), expr("(w * 1000000) DIV wo").as("p6"))
    val nodes = Seq(1L, 2L, 3L).toDF("id").withColumn("seed", lit(true))
    val got = PageRank.run(edges, nodes, 3L, 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    // exact driver recompute (Long arithmetic is order-independent)
    val n = 3L
    val base = 1000000000000L / n
    val teleport = (15L * base) / 100L
    val p6 = raw.groupBy(_._1).toSeq.flatMap { case (src, es) =>
      val wo = es.map(_._3).sum
      es.map { case (s0, d0, w0) => (s0, d0, w0 * 1000000L / wo) }
    }
    var r = Map(1L -> base, 2L -> base, 3L -> base)
    for (_ <- 1 to 5) {
      val in = p6.groupBy(_._2).view.mapValues(
        _.map { case (s0, _, p) => r(s0) * p / 1000000L }.sum).toMap
      val d12 = r(3L) // node 3 is the only dangling node
      r = r.keys.map(id =>
        id -> (teleport + 85L * (in.getOrElse(id, 0L) + d12 / n) / 100L)).toMap
    }
    assert(got == r, s"operator $got != recompute $r")
    // total mass stays within integer-floor dust of 1e12
    val total = got.values.sum
    assert(total <= 1000000000000L && total > 999999000000L, s"mass $total")
  }

  test("graph_pagerank_users: full differential recompute at sf0.001") {
    val got = graft.queries.QueriesAnalytics.queries("graph_pagerank_users")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))

    // recompute from the raw events with plain Scala fixed-point integers
    val ev = graft.queries.Tables.t(spark, dir, "events")
      .where(col("user_id").isNotNull && col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("user_id"), col("event_type"), col("event_id"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val trans = ev.groupBy(e => (e._2, Math.floorDiv(e._4, 3600000000L))).toSeq.flatMap { case (_, es) =>
      val ordered = es.sortBy(e => (e._4, e._3))
      ordered.zip(ordered.tail).map { case (a, b) => (a._1, b._1) }.filter(p => p._1 != p._2)
    }
    val w = trans.groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .map { case ((s0, d0), c) => (s0, d0, c) }
    val p6 = w.groupBy(_._1).toSeq.flatMap { case (src, es) =>
      val wo = es.map(_._3).sum
      es.map { case (s0, d0, c) => (s0, d0, c * 1000000L / wo) }
    }
    val nodes = ev.map(_._1).distinct.sorted
    val n = nodes.length.toLong
    val base = 1000000000000L / n
    val teleport = (15L * base) / 100L
    val srcs = p6.map(_._1).toSet
    var r = nodes.map(_ -> base).toMap
    for (_ <- 1 to 5) {
      val in = p6.groupBy(_._2).view.mapValues(
        _.map { case (s0, _, p) => r(s0) * p / 1000000L }.sum).toMap
      val d12 = nodes.filterNot(srcs).map(r).sum
      r = nodes.map(id =>
        id -> (teleport + 85L * (in.getOrElse(id, 0L) + d12 / n) / 100L)).toMap
    }
    val expected = r.toSeq.sortBy { case (id, sc) => (-sc, id) }.take(100)
      .zipWithIndex.map { case ((id, sc), i) => (id, sc, (i + 1).toLong) }
    assert(got.toSeq == expected, s"got ${got.toSeq} != $expected")
    assert(got.nonEmpty && got.map(_._1).distinct.length == got.length)
  }

  test("graph_lpa_users: driver LPA recompute at sf0.001; communities partition users") {
    val got = graft.queries.QueriesAnalytics.queries("graph_lpa_users")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val ev = graft.queries.Tables.t(spark, dir, "events")
      .where(col("user_id").isNotNull && col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("user_id"), col("event_type"), col("event_id"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val trans = ev.groupBy(e => (e._2, Math.floorDiv(e._4, 3600000000L))).toSeq.flatMap { case (_, es) =>
      val ordered = es.sortBy(e => (e._4, e._3))
      ordered.zip(ordered.tail).map { case (a, b) => (a._1, b._1) }.filter(p => p._1 != p._2)
    }
    val und = trans.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .map { case ((a, b), w) => (a, b, w) }.filter(_._3 >= 2)
    val nodes = ev.map(_._1).distinct.sorted
    var lbl = nodes.map(id => id -> id).toMap
    for (_ <- 1 to 5) {
      val votes = und.groupBy(_._1).view.mapValues { es =>
        es.groupBy(e => lbl(e._2)).view.mapValues(_.map(_._3).sum).toSeq
          .minBy { case (cl, ws) => (-ws, cl) }._1
      }.toMap
      lbl = nodes.map(id => id -> votes.getOrElse(id, lbl(id))).toMap
    }
    val expected = lbl.toSeq.groupBy(_._2).map { case (c, ms) =>
      (c, ms.size.toLong, ms.map(_._1).sum) }.toSeq.sortBy(_._1)
    assert(got.toSeq == expected)
    assert(got.map(_._2).sum == nodes.length.toLong, "communities partition users")
  }

  test("semdedup: drops exactly the planted copies, never base vectors") {
    val rows = graft.queries.QueriesSim.queries("semdedup")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val planted = graft.queries.Tables.t(spark, dir, "embeddings")
      .where(col("embedding").isNotNull && col("vec_id") % 25 === 0)
      .select(col("vec_id")).collect().map(_.getLong(0) + 100000L)
    val nBase = graft.queries.Tables.t(spark, dir, "embeddings")
      .where(col("embedding").isNotNull).count()
    // per-cell counts partition the corpus
    assert(rows.map(_._2).sum == nBase + planted.length)
    // the natural corpus has no near-dup pairs, so the dropped set is
    // EXACTLY the planted copies (each has an identical lower-id partner)
    assert(rows.map(_._3).sum == planted.length.toLong)
    assert(rows.map(_._4).sum == planted.sum, "dropped-id checksum = planted ids")
    rows.foreach { case (_, n, nd, _) => assert(nd <= n) }
  }

  test("interval_peak: brute-force sweep recompute at sf0.001") {
    val got = graft.queries.QueriesAnalytics.queries("interval_peak")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDate(2).toLocalDate))
    val iv = graft.queries.Tables.t(spark, dir, "lineitem")
      .select(col("l_suppkey"), to_date(col("l_shipdate")).as("d1"), col("l_orderkey"))
      .join(graft.queries.Tables.t(spark, dir, "orders")
        .select(col("o_orderkey"), to_date(col("o_orderdate")).as("d0")),
        col("l_orderkey") === col("o_orderkey"))
      .where(col("d1") >= col("d0"))
      .select(col("l_suppkey"), col("d0"), col("d1"))
      .collect()
      .map(r => (r.getLong(0), r.getDate(1).toLocalDate.toEpochDay,
        r.getDate(2).toLocalDate.toEpochDay))
    val expected = iv.groupBy(_._1).map { case (sk, ivs) =>
      // concurrency only increases at interval starts, so the peak is
      // achieved at some start day; first such day wins
      val starts = ivs.map(_._2).distinct.sorted
      val at = starts.map(d => d -> ivs.count(i => i._2 <= d && d <= i._3).toLong)
      val peak = at.map(_._2).max
      (sk, peak, java.time.LocalDate.ofEpochDay(at.find(_._2 == peak).get._1))
    }.toSeq.sortBy(_._1)
    assert(got.toSeq == expected)
  }

  test("bm25_incremental: merged delta index equals the from-scratch bm25_search") {
    // the IVM contract: base postings + batch-only tokenize must score
    // identically to the full rebuild (same queries, same corpus)
    val inc = graft.queries.QueriesText.queries("bm25_incremental")(spark, dir)
      .collect().map(_.toSeq).toSeq
    val full = graft.queries.QueriesText.queries("bm25_search")(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(inc == full)
    assert(inc.nonEmpty)
  }

  test("bm25_incremental: one tracked batch frame of query-term bigrams") {
    // caching the unfiltered batch bigrams would shuffle and hold every
    // bigram of the batch on each refresh; a second tokenize pass would
    // split every batch text twice
    import org.apache.spark.sql.catalyst.expressions.StringSplit
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    // every node of a physical plan, through AQE wrappers and into each
    // cached plan once
    val seen = scala.collection.mutable.HashSet.empty[SparkPlan]
    def nodes(p: SparkPlan): Seq[SparkPlan] = p.collect {
      case a: AdaptiveSparkPlanExec => nodes(a.inputPlan)
      case m: InMemoryTableScanExec =>
        val c = m.relation.cacheBuilder.cachedPlan
        m +: (if (seen.add(c)) nodes(c) else Nil)
      case n => Seq(n)
    }.flatten
    def shallow(p: SparkPlan): Seq[SparkPlan] = p.collect {
      case a: AdaptiveSparkPlanExec => shallow(a.inputPlan)
      case n => Seq(n)
    }.flatten
    val card = graft.queries.QueriesText.queries("bm25_incremental")(spark, dir)
    val all = nodes(card.queryExecution.executedPlan)
    // the tracked frames that read the documents text themselves
    val batchFrames = seen.toSeq.filter(c => shallow(c).exists(_.output.exists(_.name == "text")))
    assert(batchFrames.size == 1, s"expected one tracked batch frame:\n${seen.mkString("\n")}")
    val frame = batchFrames.head
    val qt = frame.output.indexWhere(_.name == "qt")
    assert(qt >= 0, s"tracked batch frame has no qt column:\n$frame")
    val rows = frame.executeCollect()
    val nBatch = graft.queries.Tables.t(spark, dir, "documents").where(col("doc_id") >= 400).count()
    assert(rows.length == nBatch, "the batch frame holds one row per batch doc")
    val terms = rows.toSeq.flatMap { r =>
      val a = r.getArray(qt)
      (0 until a.numElements()).map(i => a.getUTF8String(i).toString)
    }
    assert(terms.nonEmpty, "no query-term bigram in the batch")
    val bm25Terms = Set("hash join", "table scan", "merge sort", "batch stream",
      "slow query", "fast scan")
    assert(terms.forall(bm25Terms), s"non-query bigrams cached: ${terms.filterNot(bm25Terms).distinct.take(5)}")
    val splits = all.flatMap(_.expressions.flatMap(_.collect { case e: StringSplit => e }))
    assert(splits.size == 1, s"documents.text tokenized ${splits.size} times:\n${all.mkString("\n")}")
  }

  test("bigramDocLens: per-row size(tokens) - 1 equals sum(tf) over the bigram term table") {
    import spark.implicits._
    val docs = Seq[(Long, String)]((1L, ""), (2L, "  \t "), (3L, "single"),
      (4L, "a\tb\n\nc   d"), (5L, "Hash JOIN hash"), (6L, "x y"), (6L, "P q r"),
      (7L, null)).toDF("doc_id", "text")
    val viaTerms = docs
      .select(col("doc_id"),
        graft.functions.TextFns.shingleExplode(graft.functions.TextFns.tokens(col("text")), 2).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val perRow = graft.queries.QueriesText.bigramDocLens(graft.queries.QueriesText.bigramRows(docs))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perRow == viaTerms)
    assert(perRow == Map(4L -> 3L, 5L -> 2L, 6L -> 3L))
    // qt equals filtering every bigram of the doc: one element per
    // occurrence, in text order
    val qtDocs = docs.unionByName(Seq[(Long, String)]((8L, "Table  scan table\tscan fast"),
      (9L, "fast scan hash"), (10L, "slow"), (11L, "merge\nsort slow query")).toDF("doc_id", "text"))
    val bm25Terms = Seq("hash join", "table scan", "merge sort", "batch stream", "slow query", "fast scan")
    def qts(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val qt = qts(graft.queries.QueriesText.bigramRows(qtDocs).select(col("doc_id"), col("qt")))
    val allBigrams = qts(qtDocs.select(col("doc_id"), filter(graft.functions.TextFns.shingles(
      graft.functions.TextFns.tokens(col("text")), 2), _.isin(bm25Terms: _*))))
    assert(qt == allBigrams)
    assert(qt.filter(_._2.nonEmpty) == Map(5L -> Seq("hash join"),
      8L -> Seq("table scan", "table scan"), 9L -> Seq("fast scan"),
      11L -> Seq("merge sort", "slow query")))
  }

  test("ann_nprobe_sweep: recall is monotone in nprobe and exactly 1.0 at full probe") {
    val rows = graft.queries.QueriesSim.queries("ann_nprobe_sweep")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 4L, 8L))
    // more probed cells can only add candidates: hits are monotone
    rows.sliding(2).foreach { case Array(a, b) => assert(a._2 <= b._2) }
    val full = rows.last
    assert(full._2 == full._3 && full._4 == 1.0,
      "nprobe=8 probes every cell - must reproduce brute force exactly")
    rows.foreach { case (_, h, p0, _) => assert(h >= 0 && h <= p0) }
  }

  test("compression_ratio: distinct-8-gram proxy bounds and monotonicity") {
    // a pure repeat has near-zero distinct fraction; high-entropy text is ~1
    import spark.implicits._
    val rep = "abcdefgh" * 50
    val rnd = new scala.util.Random(42).alphanumeric.take(400).mkString
    val df = Seq(rep, rnd).toDF("text")
      .select(expr(
        "(CAST(size(array_distinct(transform(sequence(1, length(text) - 7), " +
          "i -> substring(text, i, 8)))) AS BIGINT) * 1000000) " +
          "DIV CAST(length(text) - 7 AS BIGINT)").as("r6"))
      .collect().map(_.getLong(0))
    assert(df(0) < 30000L, s"repeat should crush: ${df(0)}")   // 8 distinct / 393
    assert(df(1) > df(0) * 10, s"entropy must rank above repeat: ${df.toSeq}")
  }
}
