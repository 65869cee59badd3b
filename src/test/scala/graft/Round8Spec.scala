package graft

import org.apache.spark.sql.functions._

/** Round-8 verdict items: mv_join_maintain's base-side probes must be
  * pruned by a delta-key runtime bloom filter (refresh work ∝ delta, not
  * base — the 100 TB contract the round-7 comment promised).
  */
class Round8Spec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("mv_join_maintain: base-side probes carry the delta-key runtime bloom filter") {
    val df = graft.queries.QueriesScale.queries("mv_join_maintain")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"),
      s"expected BloomFilterMightContain pruning the base-side probes:\n${plan.take(4000)}")
    // and the pruned plan still equals the full-recompute view
    val got = df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val full = spark.read.parquet(s"$dir/orders.parquet")
      .join(spark.read.parquet(s"$dir/lineitem.parquet"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), sum(col("l_quantity").cast("long")).as("q"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got.sorted == full.sorted)
  }

  test("bpe_apply: per-language fertility matches a from-scratch driver encode") {
    val texts = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("lang"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    // same tokenization as TextFns.tokens (Round7Spec's bpe_train precedent)
    def toks(t: String): Seq[String] =
      t.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
    // independent trainer: global word counts → 4 argmax merges
    val wc = texts.flatMap(t => toks(t._2)).groupBy(identity)
      .map { case (w, xs) => w -> xs.length.toLong }
    var seqs = wc.map { case (w, c) => (s" ${w.mkString(" ")} ", c) }.toSeq
    val merges = (1 to 4).map { _ =>
      val counts = seqs.flatMap { case (s0, c) =>
        val tk = s0.trim.split(" ")
        tk.zip(tk.tail).map(p => (p, c))
      }.groupBy(_._1).map { case (p, xs) => (p, xs.map(_._2).sum) }
      val ((l, r), _) = counts.toSeq.minBy { case ((l, r), c) => (-c, l, r) }
      seqs = seqs.map { case (s0, c) => (s0.replace(s" $l $r ", s" $l$r "), c) }
      (l, r)
    }
    def encode(w: String): Int = {
      var s0 = s" ${w.mkString(" ")} "
      merges.foreach { case (l, r) => s0 = s0.replace(s" $l $r ", s" $l$r ") }
      s0.trim.split(" ").length
    }
    val byLang = texts.flatMap { case (lang, t) => toks(t).map(lang -> _) }
      .groupBy(identity).map { case ((lang, w), xs) => (lang, w, xs.length.toLong) }
      .groupBy(_._1).map { case (lang, ws) =>
        val nw = ws.map(_._3).sum
        val nt = ws.map(x => x._3 * encode(x._2)).sum
        val nc = ws.map(x => x._3 * x._2.length).sum
        lang -> (nw, nt, nc)
      }
    val got = graft.queries.QueriesPipeline.queries("bpe_apply")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5))).toMap
    assert(got.keySet == byLang.keySet)
    got.foreach { case (lang, (nw, nt, nc, tpw, cpt)) =>
      val (enw, ent, enc0) = byLang(lang)
      assert((nw, nt, nc) == (enw, ent, enc0), s"$lang totals differ")
      assert(tpw == BigDecimal(ent.toDouble / enw)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble, s"$lang tpw")
      assert(cpt == BigDecimal(enc0.toDouble / ent)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble, s"$lang cpt")
    }
  }

  // independent TextStats counters (Java regex, not the native expression)
  private def stats(text: String): (Double, Double, Double, Double) = {
    val nc = text.codePointCount(0, text.length).toDouble
    val nt = "\\S+".r.findAllIn(text).size.toDouble
    val np = "[^a-zA-Z0-9\\s]".r.findAllIn(text).size.toDouble
    val ns = "\\b(the|and|of|to|in|is|a|for|on|with|as|by|at|it)\\b".r
      .findAllIn(text.toLowerCase).size.toDouble
    (nc, nt, np, ns)
  }

  private def teacherHi(nc: Double, nt: Double, np: Double, ns: Double): Boolean = {
    val pr = np / math.max(nc, 1.0)
    val sr = ns / math.max(nt, 1.0)
    val mw = nc / math.max(nt, 1.0)
    val len = if (nc >= 100 && nc <= 10000) 1.0 else if (nc >= 20) 0.5 else 0.0
    val pu = if (pr <= 0.1) 1.0 else if (pr <= 0.3) 0.5 else 0.0
    val st = if (sr >= 0.05 && sr <= 0.6) 1.0 else 0.3
    val wd = if (mw >= 3.0 && mw <= 12.0) 1.0 else 0.3
    val q = BigDecimal(len * 0.3 + pu * 0.2 + st * 0.3 + wd * 0.2)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    q >= 0.8
  }

  test("quality_classifier: card matches a from-scratch trainer + scorer") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // independent trainer: first 256 docs by id, standardized logistic GD
    val sample = docs.sortBy(_._1).take(256).map { case (_, _, tx) =>
      val (nc, nt, np, ns) = stats(tx)
      (Array(nt / 100.0, nc / math.max(nt, 1.0), np / math.max(nc, 1.0),
        ns / math.max(nt, 1.0)), if (teacherHi(nc, nt, np, ns)) 1.0 else 0.0)
    }
    val n = sample.length.toDouble
    val mu = Array.tabulate(4)(i => sample.map(_._1(i)).sum / n)
    val sd = Array.tabulate(4) { i =>
      math.max(math.sqrt(
        sample.map(r => (r._1(i) - mu(i)) * (r._1(i) - mu(i))).sum / n), 1e-9)
    }
    val w = Array.fill(5)(0.0)
    for (_ <- 1 to 300) {
      val g = Array.fill(5)(0.0)
      sample.foreach { case (x, y) =>
        val z = w(0) + (0 until 4).map(i => w(i + 1) * (x(i) - mu(i)) / sd(i)).sum
        val e = 1.0 / (1.0 + math.exp(-z)) - y
        g(0) += e
        for (i <- 0 until 4) g(i + 1) += e * (x(i) - mu(i)) / sd(i)
      }
      for (i <- 0 until 5) w(i) -= 1.0 * g(i) / n
    }
    val b0 = w(0) - (0 until 4).map(i => w(i + 1) * mu(i) / sd(i)).sum
    val bw = (0 until 4).map(i => w(i + 1) / sd(i))
    // independent scorer over the full corpus
    val byS = docs.groupBy(_._2).map { case (src, xs) =>
      val scored = xs.map { case (_, _, tx) =>
        val (nc, nt, np, ns) = stats(tx)
        val sc = b0 + bw(0) * (nt / 100.0) + bw(1) * (nc / math.max(nt, 1.0)) +
          bw(2) * (np / math.max(nc, 1.0)) + bw(3) * (ns / math.max(nt, 1.0))
        (sc, teacherHi(nc, nt, np, ns))
      }
      src -> (scored.length.toLong,
        scored.count(_._1 > 0).toLong,
        scored.count(s => (s._1 > 0) == s._2).toLong,
        BigDecimal(scored.map(s => math.floor(s._1 * 1e6 + 0.5).toLong).sum.toDouble
          / scored.length / 1e6)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val got = graft.queries.QueriesTrain.queries("quality_classifier")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(got == byS, s"got ${got.size} sources vs ${byS.size}")
    // and the model is not degenerate: both classes predicted somewhere
    val pred = got.values.map(_._2).sum
    assert(pred > 0 && pred < got.values.map(_._1).sum, "degenerate classifier")
  }

  test("doremi_weights: excess + 8-round smoothed multiplicative weights match a from-scratch recompute") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    def md5hex2(s0: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s0.getBytes("UTF-8"))
      f"${d(0) & 0xff}%02x"
    }
    val feats = docs.flatMap { case (src, tx) =>
      val tk = tx.toLowerCase.split("\\s+").filter(_.nonEmpty)
      tk.zip(tk.tail).map(bg => (src, md5hex2(bg._1 + " " + bg._2)))
    }
    val perDS = feats.groupBy(identity).map { case ((src, f), xs) =>
      (src, f, xs.length.toLong) }.toSeq
    val cd = perDS.groupBy(_._1).map { case (s0, xs) => s0 -> xs.map(_._3).sum }
    val gBkt = perDS.groupBy(_._2).map { case (f, xs) => f -> xs.map(_._3).sum }
    val gt = gBkt.values.sum
    def micro(x: Double): Long = math.floor(x * 1e6 + 0.5).toLong
    val lgm = gBkt.map { case (f, gc) =>
      f -> micro(-math.log((gc + 1.0) / (gt + 256.0))) }
    val num = perDS.groupBy(_._1).map { case (src, xs) =>
      src -> xs.map { case (_, f, c) =>
        c * (lgm(f) - micro(-math.log((c + 1.0) / (cd(src) + 256.0))))
      }.sum
    }
    val srcs = cd.keys.toSeq.sorted
    val dd = srcs.length.toLong
    val u = srcs.map(s0 =>
      math.floor(math.exp(1e-1 * (num(s0).toDouble / cd(s0) / 1e6)) * 1e6 + 0.5).toLong)
    var wts = srcs.map(_ => 1000000000L / dd)
    for (_ <- 1 to 8) {
      val p = wts.zip(u).map { case (a, b) => a * b }
      val tot = p.sum
      wts = p.map(pi => math.floor(((1.0 - 2e-1) * (pi.toDouble / tot) + 2e-1 / dd)
        * 1e9 + 0.5).toLong)
    }
    val expected = srcs.zip(wts).map { case (s0, w8) =>
      s0 -> (cd(s0),
        BigDecimal(num(s0).toDouble / cd(s0) / 1e6)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
        BigDecimal(w8.toDouble / 1e9)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toMap
    val got = graft.queries.QueriesTrain.queries("doremi_weights")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(got == expected)
    // weights are a proper distribution up to the nano grid
    val sumW = got.values.map(_._3).sum
    assert(math.abs(sumW - 1.0) < 1e-3, s"weights sum $sumW")
  }

  test("mv_rewrite: the naive join-aggregate is answered from the MV state, not the facts") {
    val df = graft.queries.QueriesScale.queries("mv_rewrite")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("mvfull_state_v1"),
      s"expected the MV state scan in the plan:\n${plan.take(4000)}")
    assert(!plan.contains("orders.parquet") && !plan.contains("lineitem.parquet"),
      s"fact-table scan survived the rewrite:\n${plan.take(4000)}")
    // and the rewritten answer equals the naive plan executed WITHOUT the rule
    assert(df.collect().map(_.toSeq).toSeq == naiveMv())
    // a query the matcher must NOT claim (filtered base) stays on the facts
    val filtered = graft.queries.Tables.t(spark, dir, "orders")
      .where(col("o_totalprice") > 1000.0)
      .join(graft.queries.Tables.t(spark, dir, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"))
    val fplan = filtered.queryExecution.executedPlan.toString
    assert(!fplan.contains("mvfull_state_v1"),
      "rewrite wrongly claimed a filtered query")
  }

  test("mv_rewrite: a deleted or changed cache root never serves a dead MV state") {
    val expected = naiveMv()
    val prev = sys.props.get("graft.cache.root")
    val a = java.nio.file.Files.createTempDirectory("mv-root-a-").toFile
    val b = java.nio.file.Files.createTempDirectory("mv-root-b-").toFile
    def rmrf(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmrf))
      f.delete(): Unit
    }
    def runUnder(root: java.io.File, step: String): Unit = {
      sys.props("graft.cache.root") = root.getPath
      val df = graft.queries.QueriesScale.queries("mv_rewrite")(spark, dir)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains(root.getPath), s"$step: the rewrite must read this root's state:\n${plan.take(4000)}")
      assert(df.collect().map(_.toSeq).toSeq == expected, step)
    }
    try {
      runUnder(a, "root A")
      rmrf(a)
      runUnder(b, "root B after A was deleted")
      assert(a.mkdirs())
      runUnder(a, "re-created root A")
    } finally {
      prev match {
        case Some(v) => sys.props("graft.cache.root") = v
        case None    => sys.props.remove("graft.cache.root"): Unit
      }
      // leave the session's MV registered on a live state for later suites
      graft.queries.QueriesScale.queries("mv_rewrite")(spark, dir).collect()
      rmrf(a); rmrf(b)
    }
  }

  /** The naive join-aggregate executed WITHOUT the MV rule (a fresh session:
    * extraOptimizations are session-scoped). */
  private def naiveMv(): Seq[Seq[Any]] = {
    val bare = spark.newSession()
    graft.queries.Tables.t(bare, dir, "orders")
      .join(graft.queries.Tables.t(bare, dir, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("long")).as("sum_qty"))
      .orderBy(col("o_orderpriority"))
      .collect().map(_.toSeq).toSeq
  }

  test("join_bucketed: co-located layout joins with zero shuffle exchange on either side") {
    val df = graft.queries.QueriesScale.queries("join_bucketed")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n${plan.take(3000)}")
    assert(!plan.contains("Exchange hashpartitioning(o_orderkey") &&
      !plan.contains("Exchange hashpartitioning(l_orderkey"),
      s"join-side shuffle survived the bucketed layout:\n${plan.take(4000)}")
    // results equal the plain (layout-free) join
    val naive = graft.queries.Tables.t(spark, dir, "orders")
      .join(graft.queries.Tables.t(spark, dir, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), sum(col("l_quantity").cast("long")).as("q"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet == naive)
  }

  test("curriculum_order: positions are a permutation, phase-major, shuffled within phase") {
    val rows = graft.queries.QueriesPipeline.queries("curriculum_order")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val n = rows.length
    assert(rows.map(_._1).toSet == (1L to n.toLong).toSet, "pos not a permutation")
    // phases never decrease along the curriculum
    rows.sortBy(_._1).map(_._3).sliding(2).foreach {
      case Array(a, b) => assert(a <= b, s"phase regressed $a -> $b")
      case _ =>
    }
    // within-phase order is the md5 shuffle key order (independent recompute)
    def md5hex(s0: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s0.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    val expected = rows.map { case (_, id, ph) => (ph, md5hex(s"cur:$id"), id) }
      .sortBy(identity).map(_._3)
    assert(rows.sortBy(_._1).map(_._2).toSeq == expected.toSeq)
  }

  // round-8 batch 2 (scaling_law_fit / cluster_silhouette / badwords_filter
  // / search_ndcg): each gets a from-scratch driver differential.

  private def docTokens(): Array[(Long, String, String, Seq[String])] =
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("lang"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3).toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq))

  test("scaling_law_fit: OLS over octile Heaps points matches a driver recompute") {
    val docs = docTokens()
    val mx = docs.map(_._1).max
    def oct(id: Long): Long = (id * 8) / (mx + 1) + 1
    val firstSeen = scala.collection.mutable.Map[String, Long]()
    docs.sortBy(_._1).foreach { case (id, _, _, tk) =>
      tk.sliding(3).filter(_.size == 3).map(_.mkString(" ")).foreach { sh =>
        if (!firstSeen.contains(sh)) firstSeen(sh) = id
      }
    }
    val pts = (1L to 8L).map { k =>
      val v = firstSeen.valuesIterator.count(fd => oct(fd) <= k).toLong
      val n = docs.filter(d => oct(d._1) <= k)
        .map(d => math.max(d._4.size - 2, 0).toLong).sum
      (v, n)
    }.filter { case (v, n) => v > 0 && n > 0 }
    val xm = pts.map { case (_, n) => math.floor(math.log(n.toDouble) * 1e6 + 0.5).toLong }
    val ym = pts.map { case (v, _) => math.floor(math.log(v.toDouble) * 1e6 + 0.5).toLong }
    val np = pts.size.toLong
    val (sx, sy) = (xm.sum, ym.sum)
    val sxy = xm.zip(ym).map { case (a, b) => a * b }.sum
    val sxx = xm.map(a => a * a).sum
    val beta = (np * sxy - sx * sy).toDouble / (np * sxx - sx * sx).toDouble
    val row = graft.queries.QueriesPipeline.queries("scaling_law_fit")(spark, dir)
      .collect()(0)
    assert(row.getLong(0) == np)
    assert(row.getLong(1) == pts.last._2 && row.getLong(2) == pts.last._1)
    assert(math.abs(row.getDouble(3) - beta) < 1e-6,
      s"beta ${row.getDouble(3)} vs driver $beta")
    assert(row.getDouble(5) > 0.9, "octile Heaps curve should be near-log-linear")
  }

  test("cluster_silhouette: per-cell card matches a driver recompute and the plan is shuffle-minimal") {
    import graft.operators.Ivf
    val e = graft.queries.Tables.t(spark, dir, "embeddings")
      .where(col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding"))
    val cents = Ivf.trainSampled(e, "vec_id", "embedding", k = 8)
    val vecs = e.collect().map(_.getSeq[Float](1).map(_.toDouble).toArray)
    val agg = scala.collection.mutable.Map[Int, (Long, Long, Long)]()
    vecs.foreach { v =>
      val ds = cents.map(c => c.zip(v).map { case (a, b) => (b - a) * (b - a) }.sum)
      val cell = ds.indices.minBy(i => (ds(i), i))
      val sorted = ds.sorted
      val (d1, d2) = (sorted(0), sorted(1))
      val sil = if (math.max(d1, d2) > 0) (d2 - d1) / math.max(d1, d2) else 0.0
      val (n, ssil, sd1) = agg.getOrElse(cell, (0L, 0L, 0L))
      agg(cell) = (n + 1, ssil + math.floor(sil * 1e6 + 0.5).toLong,
        sd1 + math.floor(d1 * 1e6 + 0.5).toLong)
    }
    val df = graft.queries.QueriesSim.queries("cluster_silhouette")(spark, dir)
    val got = df.collect().map(r =>
      (r.getLong(0).toInt, r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(got.map(_._2).sum == vecs.length)
    got.foreach { case (cell, n, msil, md1) =>
      val (en, esil, ed1) = agg(cell)
      assert(n == en, s"cell $cell count $n != $en")
      assert(math.abs(msil - esil.toDouble / en / 1e6) < 1e-6)
      assert(math.abs(md1 - ed1.toDouble / en / 1e6) < 1e-6)
    }
    // zero-join plan: literal-centroid chains mean the only exchanges are
    // the final 8-row aggregate + its orderBy
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"unexpected join:\n${plan.take(3000)}")
  }

  test("badwords_filter: per-source card matches a driver recompute") {
    val docs = docTokens()
    val lex = Set("slow", "dup")
    val exp = docs.groupBy(_._3).map { case (src, ds) =>
      val perDoc = ds.map(d => (d._4.size.toLong, d._4.count(lex).toLong))
      val flagged = perDoc.count(_._2 > 0).toLong
      src -> (ds.length.toLong, flagged, perDoc.map(_._2).sum,
        flagged.toDouble / ds.length, perDoc.map(_._2).sum.toDouble * 1e4
          / perDoc.map(_._1).sum)
    }
    val got = graft.queries.QueriesText.queries("badwords_filter")(spark, dir)
      .collect()
    assert(got.length == exp.size)
    got.foreach { r =>
      val (n, fl, bt, fr, bp) = exp(r.getString(0))
      assert(r.getLong(1) == n && r.getLong(2) == fl && r.getLong(3) == bt)
      assert(math.abs(r.getDouble(4) - fr) < 1e-6)
      assert(math.abs(r.getDouble(5) - bp) < 1e-3)
    }
  }

  test("search_ndcg: NDCG@10 matches a driver recompute and separates ranking from relevance") {
    val docs = docTokens()
    val qs = Seq((1L, "slow", "dup"), (2L, "merge", "join"), (3L, "scan", "vector"))
    val exp = qs.map { case (qid, t1, t2) =>
      val cand = docs.map { d =>
        (d._1, d._4.count(_ == t1).toLong, d._4.count(_ == t2).toLong)
      }.filter(c => c._2 > 0 || c._3 > 0)
      val rel = cand.map(c => (c._1, c._2,
        (if (c._2 > 0) 1 else 0) + (if (c._3 > 0) 1 else 0))).toSeq
      def gain(r: Int) = r match { case 2 => 3.0; case 1 => 1.0; case _ => 0.0 }
      def dcgOf(order: Seq[Int]): Long =
        order.take(10).zipWithIndex.map { case (r, i) =>
          math.floor(gain(r) / (math.log(i + 2) / math.log(2)) * 1e6 + 0.5).toLong
        }.sum
      val dcg = dcgOf(rel.sortBy(c => (-c._2, c._1)).map(_._3))
      val idcg = dcgOf(rel.sortBy(c => (-c._3, c._1)).map(_._3))
      qid -> (cand.length.toLong, rel.count(_._3 == 2).toLong,
        if (idcg > 0) dcg.toDouble / idcg else 0.0)
    }.toMap
    val got = graft.queries.QueriesText.queries("search_ndcg")(spark, dir).collect()
    got.foreach { r =>
      val (nc, n2, ndcg) = exp(r.getLong(0))
      assert(r.getLong(1) == nc && r.getLong(2) == n2)
      assert(math.abs(r.getDouble(3) - ndcg) < 1e-6)
    }
    // the q1 ranker (tf of 'slow') must NOT trivially achieve ideal order
    assert(got.find(_.getLong(0) == 1L).get.getDouble(3) < 0.999)
  }
}
