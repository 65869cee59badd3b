package graft

import org.apache.spark.sql.functions._

/** Round-8 additions, batch 2: sim_ivfpq (IVF-pruned ADC search) and
  * rrf_fusion (hybrid sparse+dense retrieval) — each checked against a
  * from-scratch driver recompute that reimplements assignment, ADC, ranking
  * and fusion with plain Scala loops (the trained models themselves are
  * pinned by IvfSpec / PqSpec; these specs pin the COMPOSITION).
  */
class Round8bSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  // left-assoc ascending-i squared L2 — the NearestCells / adcTable loop order
  private def l2(v: Array[Double], c: Array[Double], off: Int = 0): Double = {
    var d = 0.0; var i = 0
    while (i < c.length) { val t = v(off + i) - c(i); d += t * t; i += 1 }
    d
  }

  // strict-< argmin (ties to the lower index) — NearestCells' selection
  private def argmin(ds: Array[Double]): Int = {
    var best = 0; var bd = ds(0); var i = 1
    while (i < ds.length) { if (ds(i) < bd) { bd = ds(i); best = i }; i += 1 }
    best
  }

  test("sim_ivfpq: matches a driver recompute of probe-pruned ADC search") {
    import graft.operators.{Ivf, Pq}
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .where(col("embedding").isNotNull).select(col("vec_id"), col("embedding"))
    val cents = Ivf.trainSampled(e, "vec_id", "embedding", k = 8)
    val books = Pq.train(e, "vec_id", "embedding", m = 8, k = 16)
    val sub = books.map(_.head.length).sum / books.length
    val vecs = e.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .sortBy(_._1)
    // independent encode: cell + m codes per vector
    val enc = vecs.map { case (id, v) =>
      val cell = argmin(cents.map(c => l2(v, c)))
      val codes = books.zipWithIndex.map { case (book, j) =>
        argmin(book.map(c => l2(v, c, off = j * sub)))
      }
      (id, cell, codes)
    }
    val expected = vecs.filter(_._1 < 5).flatMap { case (qid, qv) =>
      val cellD = cents.map(c => l2(qv, c))
      val probes = cellD.zipWithIndex.sortBy { case (d, c) => (d, c) }
        .take(3).map(_._2).toSet
      val adc = books.zipWithIndex.map { case (book, j) =>
        book.map(c => l2(qv, c, off = j * sub))
      }
      enc.filter(x => probes.contains(x._2)).map { case (id, _, codes) =>
        var dd = 0.0
        var j = 0
        while (j < codes.length) { dd += adc(j)(codes(j)); j += 1 }
        (qid, id, dd)
      }.sortBy { case (_, id, dd) => (dd, id) }.take(10).zipWithIndex
        .map { case ((q, id, dd), i) =>
          (q, id, math.rint(dd * 1e6) / 1e6, (i + 1).toLong) }
    }.toSeq
    val got = graft.queries.QueriesSim.queries("sim_ivfpq")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    assert(got.map(x => (x._1, x._2, x._4)) ==
      expected.map(x => (x._1, x._2, x._4)), "candidate/ranking mismatch")
    got.zip(expected).foreach { case (g, ex) =>
      assert(math.abs(g._3 - ex._3) < 1e-9, s"ADC distance differs at $g vs $ex")
    }
    // the pruning is real: some vector outside the probed cells must exist
    // (otherwise the test exercises nothing beyond sim_pq)
    val probed = vecs.filter(_._1 < 5).map { case (_, qv) =>
      cents.map(c => l2(qv, c)).zipWithIndex
        .sortBy { case (d, c) => (d, c) }.take(3).map(_._2).toSet }
    assert(enc.exists(x => probed.exists(p => !p.contains(x._2))),
      "every vector fell in every query's probe set — pruning untested")
  }

  test("sim_ivfpq_residual: matches a driver recompute of residual-encoded ADC search") {
    import graft.operators.{Ivf, Pq}
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .where(col("embedding").isNotNull).select(col("vec_id"), col("embedding"))
    val cents = Ivf.trainSampled(e, "vec_id", "embedding", k = 8)
    val vecs = e.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .sortBy(_._1)
    def l2(v: Array[Double], c: Array[Double], off: Int = 0): Double = {
      var d = 0.0; var i = 0
      while (i < c.length) { val t = v(off + i) - c(i); d += t * t; i += 1 }
      d
    }
    def argmin(ds: Array[Double]): Int = {
      var best = 0; var bd = ds(0); var i = 1
      while (i < ds.length) { if (ds(i) < bd) { bd = ds(i); best = i }; i += 1 }
      best
    }
    // independent residual table, then the SAME Pq.train on it (trainer is
    // pinned by PqSpec; this spec pins the residual composition)
    val cellsOf = vecs.map { case (id, v) => id -> argmin(cents.map(c => l2(v, c))) }.toMap
    val resRows = vecs.map { case (id, v) =>
      val c = cents(cellsOf(id))
      (id, v.indices.map(i => v(i) - c(i)).toArray)
    }
    import spark.implicits._
    val resDf = resRows.map { case (id, rv) => (id, rv.toSeq) }.toSeq.toDF("vec_id", "rv")
    val books = Pq.train(resDf, "vec_id", "rv", m = 8, k = 16)
    val sub = books.map(_.head.length).sum / books.length
    val codesOf = resRows.map { case (id, rv) =>
      id -> books.zipWithIndex.map { case (book, j) =>
        argmin(book.map(c => l2(rv, c, off = j * sub))) }
    }.toMap
    val expected = vecs.filter(_._1 < 5).flatMap { case (qid, qv) =>
      val probes = cents.indices.map(c => (l2(qv, cents(c)), c)).sorted.take(3).map(_._2)
      val cand = vecs.filter(v => probes.contains(cellsOf(v._1)))
      cand.map { case (id, _) =>
        val cell = cellsOf(id)
        val rq = qv.indices.map(i => qv(i) - cents(cell)(i)).toArray
        var dd = 0.0
        codesOf(id).zipWithIndex.foreach { case (code, j) =>
          dd += l2(rq, books(j)(code), off = j * sub) }
        (qid, id, dd)
      }.sortBy { case (_, id, dd) => (dd, id) }.take(10).zipWithIndex
        .map { case ((q, id, dd), i) =>
          (q, id, math.rint(dd * 1e6) / 1e6, (i + 1).toLong) }
    }.toSeq
    val got = graft.queries.QueriesSim.queries("sim_ivfpq_residual")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    assert(got.map(x => (x._1, x._2, x._4)) == expected.map(x => (x._1, x._2, x._4)))
    got.zip(expected).foreach { case (g, ex) =>
      assert(math.abs(g._3 - ex._3) < 1e-9, s"residual ADC distance differs: $g vs $ex") }
    // residual encoding must actually be cell-dependent: two vectors in
    // different cells with near-identical raw content would share codes
    // under plain PQ; globally, code distributions must differ across cells
    val byCell = codesOf.toSeq.groupBy(x => cellsOf(x._1))
      .view.mapValues(_.map(_._2.head).toSet).toMap
    assert(byCell.values.toSet.size > 1,
      "first-subspace code sets identical across all cells — residual encoding inert?")
  }

  test("rrf_fusion: matches a from-scratch driver fusion of both rankers") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .where(col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    val queries = Seq((1L, "slow", "dup"), (2L, "merge", "join"),
      (3L, "scan", "vector"))
    def toks(t: String): Seq[String] =
      t.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val expected = queries.flatMap { case (qid, t1, t2) =>
      val sparse = docs.map { case (id, t) =>
        id -> toks(t).count(w => w == t1 || w == t2).toLong }
        .filter(_._2 > 0)
        .sortBy { case (id, tf) => (-tf, id) }.take(20).zipWithIndex
        .map { case ((id, _), i) => id -> (i + 1) }.toMap
      val qv = vecs.find(_._1 == qid).get._2
      val dense = vecs.map { case (id, v) => id -> cos(qv, v) }
        .sortBy { case (id, c) => (-c, id) }.take(20).zipWithIndex
        .map { case ((id, _), i) => id -> (i + 1) }.toMap
      (sparse.keySet ++ dense.keySet).toSeq.map { id =>
        val rrf = sparse.get(id).map(r => 1.0 / (60 + r)).getOrElse(0.0) +
          dense.get(id).map(r => 1.0 / (60 + r)).getOrElse(0.0)
        (qid, id, sparse.get(id).map(_.toLong), dense.get(id).map(_.toLong), rrf)
      }.sortBy { case (_, id, _, _, rrf) => (-rrf, id) }.take(10).zipWithIndex
        .map { case ((q, id, rs, rd, rrf), i) =>
          (q, id, rs, rd, BigDecimal(rrf).setScale(6, BigDecimal.RoundingMode.HALF_UP)
            .toDouble, (i + 1).toLong) }
    }
    val got = graft.queries.QueriesText.queries("rrf_fusion")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        r.getDouble(4), r.getLong(5))).toSeq
    assert(got == expected)
  }

  test("matryoshka_eval: matches a brute-force prefix-cosine recompute; dim-64 anchor is exact") {
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .where(col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    def cosPrefix(a: Array[Double], b: Array[Double], d: Int): Double = {
      var dd = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < d) { dd += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dd / (math.sqrt(na) * math.sqrt(nb))
    }
    val qs = vecs.filter(_._1 < 20)
    val dims = Seq(8, 16, 32, 64)
    val tops: Map[Int, Set[(Long, Long)]] = dims.map { d =>
      d -> qs.flatMap { case (qid, qv) =>
        vecs.map { case (id, v) => (id, cosPrefix(qv, v, d)) }
          .sortBy { case (id, c) => (-c, id) }.take(10).map(x => (qid, x._1))
      }.toSet
    }.toMap
    val expected = dims.map { d =>
      val hits = tops(d).count(tops(64).contains).toLong
      val possible = tops(d).size.toLong
      (d.toLong, hits, possible,
        math.floor(hits.toDouble / possible * 1e4 + 0.5) / 1e4)
    }
    val got = graft.queries.QueriesSim.queries("matryoshka_eval")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == expected)
    assert(got.last == ((64L, qs.length * 10L, qs.length * 10L, 1.0)),
      "dim-64 row must be the exact ground truth")
  }

  test("mmr_diversify: every pick is the argmax of an independently rebuilt recurrence") {
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .where(col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val expected = (0L until 3L).flatMap { qid =>
      val qv = vecs.find(_._1 == qid).get._2
      var remaining = vecs.filter(_._1 != qid)
        .map { case (id, v) => (id, cos(qv, v), v) }
        .sortBy { case (id, c, _) => (-c, id) }.take(20).toSeq
      var selected = Seq.empty[Array[Double]]
      (1 to 5).map { step =>
        val scored = remaining.map { case (id, rel, v) =>
          val maxs = if (selected.isEmpty) 0.0 else selected.map(cos(v, _)).max
          (id, rel, 0.7 * rel - 0.3 * maxs, v)
        }
        val best = scored.minBy { case (id, _, sc, _) => (-sc, id) }
        selected :+= best._4
        remaining = remaining.filterNot(_._1 == best._1)
        (qid, step.toLong, best._1,
          BigDecimal(best._3).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
          BigDecimal(best._2).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
    }
    val got = graft.queries.QueriesSim.queries("mmr_diversify")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSeq
    assert(got == expected)
    // diversification must actually trade relevance for novelty somewhere:
    // at least one query's picked set differs from its pure-relevance top-5
    val picked = got.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    val rel5 = expected.groupBy(_._1).map { case (q, _) =>
      val qv = vecs.find(_._1 == q).get._2
      q -> vecs.filter(_._1 != q).map { case (id, v) => (id, cos(qv, v)) }
        .sortBy { case (id, c) => (-c, id) }.take(5).map(_._1).toSet
    }
    assert(picked.exists { case (q, s) => s != rel5(q) },
      "MMR never diverged from pure relevance — the diversity term is inert")
  }

  test("kcenter_coreset: matches a brute-force assignment; centers cover the sample") {
    import graft.operators.Ivf
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .where(col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .sortBy(_._1)
    def l2(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var i = 0
      while (i < a.length) { val t = a(i) - b(i); d += t * t; i += 1 }
      d
    }
    // independent greedy on the same first-256 sample
    val sample = vecs.take(256)
    var sel = Vector(sample.head)
    while (sel.length < 8) {
      val next = sample.filterNot(p => sel.exists(_._1 == p._1))
        .map(p => (p, sel.map(c => l2(p._2, c._2)).min))
        .maxBy { case (p, d) => (d, -p._1) }._1
      sel :+= next
    }
    // brute-force corpus assignment (strict < — ties to the earlier center)
    val byCell = vecs.map { case (_, v) =>
      val ds = sel.map(c => l2(v, c._2))
      (ds.zipWithIndex.minBy { case (d, i) => (d, i) }._2, ds.min)
    }.groupBy(_._1)
    val expected = (0 until 8).map { cell =>
      val ds = byCell(cell).map(_._2)
      (sel(cell)._1, (cell + 1).toLong, ds.length.toLong,
        BigDecimal(ds.map(d => math.floor(d * 1e6 + 0.5).toLong).sum.toDouble
          / ds.length / 1e6).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        math.floor(ds.max * 1e6 + 0.5) / 1e6)
    }
    val got = graft.queries.QueriesSim.queries("kcenter_coreset")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSeq
    assert(got == expected)
    assert(got.map(_._3).sum == vecs.length.toLong, "cells must partition the corpus")
    assert(got.map(_._1).distinct.size == 8, "centers must be 8 distinct vectors")
  }

  test("ab_srm: matches an exact driver recompute of the 2-cell chi-square") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
      .where(col("user_id").isNotNull && col("event_type").isNotNull)
      .select(col("event_type"), col("user_id")).collect()
      .map(r => (r.getString(0), r.getLong(1) % 2 == 0))
    val expected = ev.groupBy(_._1).map { case (et, xs) =>
      val na = xs.count(_._2).toLong
      val nb = xs.size - na
      val chi2 = math.floor(((na - nb) * (na - nb)).toDouble / (na + nb) * 1e6 + 0.5) / 1e6
      (et, na, nb, chi2, chi2 > 3.841459)
    }.toSeq.sortBy(_._1)
    val got = graft.queries.QueriesAnalytics.queries("ab_srm")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getBoolean(4))).toSeq
    assert(got == expected)
  }

  test("late_data_audit: matches a driver replay of the simulated arrival log") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val ev = spark.read.parquet(s"$dir/events.parquet")
      .where(col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("event_id"), col("event_type"),
        unix_micros(col("ts").cast("timestamp")).as("tsus")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val expected = ev.groupBy(_._2).map { case (et, xs) =>
      val arr = xs.sortBy { case (id, _, ts) =>
        (ts / 10800000000L, md5hex(s"late:$id"), id) }
      var wm = Long.MinValue
      val lates = arr.map { case (_, _, ts) =>
        val l = if (wm > ts) wm - ts else 0L
        wm = math.max(wm, ts)
        l
      }
      (et, arr.length.toLong, lates.count(_ > 0).toLong,
        lates.count(_ > 3600000000L).toLong, lates.max / 1000000L,
        BigDecimal(lates.count(_ > 0).toDouble / arr.length)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toSeq.sortBy(_._1)
    val got = graft.queries.QueriesAnalytics.queries("late_data_audit")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5))).toSeq
    assert(got == expected)
    // bounded disorder: nothing can be later than one full bucket
    got.foreach(r => assert(r._5 <= 10800L, s"lateness exceeded the bucket bound: $r"))
  }

  test("window_funnel: matches a per-user driver replay of the anchored sequence") {
    val ev = spark.read.parquet(s"$dir/events.parquet")
      .where(col("user_id").isNotNull && col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts").cast("timestamp")).as("us")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val horizon = 24L * 3600L * 1000000L
    val levels = ev.groupBy(_._1).map { case (_, xs) =>
      val t1 = xs.filter(_._2 == "view").map(_._3).minOption
      val t2 = t1.flatMap(a => xs.filter(x => x._2 == "click" && x._3 > a
        && x._3 <= a + horizon).map(_._3).minOption)
      val t3 = t1.flatMap(a => t2.flatMap(b => xs.filter(x => x._2 == "purchase"
        && x._3 > b && x._3 <= a + horizon).map(_._3).minOption))
      Seq(t1, t2, t3).count(_.isDefined).toLong
    }.toSeq
    val n = levels.size.toLong
    val expected = levels.groupBy(identity).map { case (l, xs) =>
      (l, xs.size.toLong, BigDecimal(xs.size.toDouble / n)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toSeq.sortBy(_._1)
    val got = graft.queries.QueriesMlops.queries("window_funnel")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == expected)
    // the funnel must be monotone: completing k+1 steps implies completing k
    val byLevel = got.map(r => r._1 -> r._2).toMap
    val cum = (0L to 3L).map(l => (l, got.filter(_._1 >= l).map(_._2).sum))
    assert(cum.sliding(2).forall { case Seq((_, a), (_, b)) => b <= a },
      s"non-monotone funnel: $byLevel")
  }

  test("target_encode: matches an exact leave-one-out driver recompute") {
    val cust = spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey"), col("c_nationkey")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_custkey"), col("o_orderpriority")).collect()
      .flatMap(r => cust.get(r.getLong(0)).map(nat => (nat,
        if (Set("1-URGENT", "2-HIGH")(r.getString(1))) 1L else 0L)))
    val expected = rows.groupBy(_._1).map { case (nat, xs) =>
      val pos = xs.map(_._2).sum
      val n = xs.size.toLong
      val encs = xs.map(x => (pos - x._2).toDouble / (n - 1))
      (nat, n, pos,
        BigDecimal(encs.min).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        BigDecimal(encs.max).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        BigDecimal(encs.map(e => math.floor(e * 1e9 + 0.5).toLong).sum.toDouble
          / n / 1e9).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toSeq.sortBy(_._1)
    val got = graft.queries.QueriesMlops.queries("target_encode")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSeq
    assert(got == expected)
  }

  test("scd2_maintain: state builds once, is base-era-only, and the merge equals full recompute") {
    import org.apache.spark.sql.expressions.Window
    val q = () => graft.queries.QueriesScale.queries("scd2_maintain")(spark, dir)
    val r1 = q().collect()
    val statePath = graft.operators.DiskCache.keyedPath(
      "scd2state_v1", s"$dir/orders.parquet")
    val success = new java.io.File(s"$statePath/_SUCCESS")
    assert(success.exists(), s"expected persisted SCD-2 state at $statePath")
    val stamp = success.lastModified()
    val r2 = q().collect()
    assert(success.lastModified() == stamp, "second invocation rebuilt the state")
    assert(r1.map(_.toSeq).toSeq == r2.map(_.toSeq).toSeq)
    // state holds only base-era change events
    val maxStateDate = spark.read.parquet(statePath)
      .agg(max(col("o_orderdate")).cast("string")).collect()(0).getString(0)
    assert(maxStateDate < "1997-01-01", s"delta-era event leaked into state: $maxStateDate")
    // full non-incremental recompute (the scd2_history construction)
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
    val full = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"), col("o_orderstatus"))
      .withColumn("prev", lag(col("o_orderstatus"), 1).over(w))
      .where(col("prev").isNull || col("prev") =!= col("o_orderstatus"))
      .withColumn("valid_to", lead(col("o_orderdate"), 1).over(w))
      .where(col("o_custkey") < 100)
      .select(col("o_custkey"), col("o_orderstatus"), col("o_orderdate"), col("valid_to"))
      .collect().map(_.toSeq).toSet
    assert(r1.map(_.toSeq).toSet == full, "incremental merge diverged from full recompute")
  }

  test("join_partition_pruned: runtime DPP filter reaches the fact scan; result layout-invariant") {
    val df = graft.queries.QueriesScale.queries("join_partition_pruned")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"expected a dynamic partition pruning filter on the fact scan:\n${plan.take(4000)}")
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val plain = spark.read.parquet(s"$dir/orders.parquet")
      .where(year(col("o_orderdate")) > 1997)
      .groupBy(year(col("o_orderdate")).cast("long").as("y"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sortBy(_._1)
    assert(got == plain, "partitioned-layout result diverged from the raw-table join")
  }

  test("lm_backoff: matches a from-scratch driver stupid-backoff scorer") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def toks(t: String): Seq[String] =
      t.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
    val trainToks = docs.filter(_._1 >= 50).map(d => toks(d._2))
    val c2 = trainToks.flatMap(tk => tk.zip(tk.tail).map(p => s"${p._1} ${p._2}"))
      .groupBy(identity).map { case (k, xs) => k -> xs.length.toLong }
    val c1 = trainToks.flatten.groupBy(identity).map { case (k, xs) => k -> xs.length.toLong }
    val n = c1.values.sum
    val v = c1.size.toLong
    val expected = docs.filter(_._1 < 50).map { case (id, tx) =>
      val tk = toks(tx)
      val bgs = tk.zip(tk.tail)
      val scores = bgs.map { case (w1, w2) =>
        c2.get(s"$w1 $w2") match {
          case Some(cc) => (math.log(cc.toDouble / c1(w1)), false)
          case None => (math.log(0.4 * (c1.getOrElse(w2, 0L) + 1).toDouble / (n + v)), true)
        }
      }
      val nb = scores.length.toLong
      (id, nb,
        BigDecimal(scores.map(s => math.floor(s._1 * 1e6 + 0.5).toLong).sum.toDouble
          / nb / 1e6).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
        BigDecimal(scores.count(_._2).toDouble / nb)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy(_._1).toSeq
    val got = graft.queries.QueriesText.queries("lm_backoff")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
    assert(got == expected)
  }

  // independent TextStats + quality-gate replication (Round8Spec precedent)
  private def teacherHi(text: String): Boolean = {
    val nc = text.codePointCount(0, text.length).toDouble
    val nt = "\\S+".r.findAllIn(text).size.toDouble
    val np = "[^a-zA-Z0-9\\s]".r.findAllIn(text).size.toDouble
    val ns = "\\b(the|and|of|to|in|is|a|for|on|with|as|by|at|it)\\b".r
      .findAllIn(text.toLowerCase).size.toDouble
    val pr = np / math.max(nc, 1.0)
    val sr = ns / math.max(nt, 1.0)
    val mw = nc / math.max(nt, 1.0)
    val len = if (nc >= 100 && nc <= 10000) 1.0 else if (nc >= 20) 0.5 else 0.0
    val pu = if (pr <= 0.1) 1.0 else if (pr <= 0.3) 0.5 else 0.0
    val st = if (sr >= 0.05 && sr <= 0.6) 1.0 else 0.3
    val wd = if (mw >= 3.0 && mw <= 12.0) 1.0 else 0.3
    BigDecimal(len * 0.3 + pu * 0.2 + st * 0.3 + wd * 0.2)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble >= 0.8
  }

  test("mi_features: matches an exact nano-unit driver recompute; MI non-negative") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("lang"), col("source"), col("n_chars"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1),
        math.min(math.floor(r.getLong(2) / 100.0).toLong, 5L), teacherHi(r.getString(3))))
    def mi(key: ((String, String, Long, Boolean)) => Any): (Long, Double) = {
      val xy = docs.groupBy(d => (key(d), d._4)).map { case (k, xs) => k -> xs.length.toLong }
      val nx = docs.groupBy(key).map { case (k, xs) => k -> xs.length.toLong }
      val ny = docs.groupBy(_._4).map { case (k, xs) => k -> xs.length.toLong }
      val n = docs.length.toLong
      val nano = xy.map { case ((x, y), nxy) =>
        math.floor((nxy.toDouble / n.toDouble) *
          math.log((nxy.toDouble * n.toDouble) / (nx(x).toDouble * ny(y).toDouble))
          * 1e9 + 0.5).toLong
      }.sum
      (xy.size.toLong,
        BigDecimal(nano.toDouble / 1e9).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val expected = Seq(
      ("lang", mi(_._1)), ("len_bucket", mi(_._3)), ("source", mi(_._2)))
      .map { case (f, (l, m)) => (f, l, m) }.sortBy(_._1)
    val got = graft.queries.QueriesText.queries("mi_features")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == expected)
    got.foreach(r => assert(r._3 >= -1e-6, s"MI must be non-negative: $r"))
  }

  test("t_closeness: matches an exact-integer driver recompute; classes partition orders") {
    val cust = spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey"), col("c_mktsegment"), col("c_nationkey")).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getInt(2)))
      .toMap
    val ords = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_custkey"), col("o_orderpriority")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val joined = ords.flatMap { case (ck, pr) => cust.get(ck).map(q => (q, pr)) }
    val nTot = joined.length.toLong
    val gv = joined.groupBy(_._2).map { case (p, xs) => p -> xs.length.toLong }
    val expected = joined.groupBy(_._1).map { case (cls, xs) =>
      val nC = xs.length.toLong
      val cv = xs.groupBy(_._2).map { case (p, ys) => p -> ys.length.toLong }
      val s = gv.map { case (p, nV) =>
        math.abs(cv.getOrElse(p, 0L) * nTot - nV * nC) }.sum
      val t = math.floor(s.toDouble / (2L * nC * nTot) * 1e6 + 0.5) / 1e6
      (cls._1, cls._2, nC, t, t > 0.1)
    }.toSeq.sortBy(x => (x._1, x._2))
    val got = graft.queries.QueriesAnalytics.queries("t_closeness")(spark, dir)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        r.getDouble(3), r.getBoolean(4))).toSeq
    assert(got == expected)
    assert(got.map(_._3).sum == nTot, "classes must partition the joined orders")
  }

  test("graph_hits: matches an independent HITS recompute; L1 mass conserved") {
    val q = graft.queries.QueriesAnalytics.queries("graph_hits")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    // independent edge rebuild through SQL text, not the DataFrame chain
    Seq("lineitem", "supplier", "orders", "customer", "nation").foreach(n =>
      spark.read.parquet(s"$dir/$n.parquet").createOrReplaceTempView(s"hits_$n"))
    val edges = spark.sql(
      """SELECT CAST(s.s_nationkey AS BIGINT) src, CAST(c.c_nationkey AS BIGINT) dst,
        |  CAST(count(*) AS DOUBLE) w
        |FROM hits_lineitem l
        |JOIN hits_supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN hits_orders o ON l.l_orderkey = o.o_orderkey
        |JOIN hits_customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1, 2""".stripMargin).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(e => (e._1, e._2))
    val nations = spark.sql("SELECT CAST(n_nationkey AS BIGINT) FROM hits_nation")
      .collect().map(_.getLong(0)).sorted
    val idx = nations.zipWithIndex.toMap
    var h = Array.fill(nations.length)(1.0 / nations.length)
    var a = Array.fill(nations.length)(0.0)
    for (_ <- 1 to 5) {
      val ai = Array.fill(nations.length)(0.0)
      edges.foreach { case (s, d, w) => ai(idx(d)) += w * h(idx(s)) }
      val at = ai.sum
      a = ai.map(v => if (at == 0.0) 0.0 else v / at)
      val hi = Array.fill(nations.length)(0.0)
      edges.foreach { case (s, d, w) => hi(idx(s)) += w * a(idx(d)) }
      val ht = hi.sum
      h = hi.map(v => if (ht == 0.0) 0.0 else v / ht)
    }
    val expected = nations.map(n =>
      (n, math.rint(h(idx(n)) * 1e6) / 1e6, math.rint(a(idx(n)) * 1e6) / 1e6)).toSeq
    q.zip(expected).foreach { case (g, ex) =>
      assert(g._1 == ex._1)
      assert(math.abs(g._2 - ex._2) < 2e-6, s"hub differs for nation ${g._1}")
      assert(math.abs(g._3 - ex._3) < 2e-6, s"authority differs for nation ${g._1}")
    }
    assert(math.abs(q.map(_._2).sum - 1.0) < 25e-6, "hub mass must L1-normalize to 1")
    assert(math.abs(q.map(_._3).sum - 1.0) < 25e-6, "authority mass must L1-normalize to 1")
  }

  test("er_cluster: matches a driver union-find over independently scored pairs") {
    // independent Levenshtein (the only non-arithmetic scoring term)
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val cust = spark.read.parquet(s"$dir/customer.parquet")
      .select("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getDouble(3), r.getString(4)))
    val dirty = cust ++ cust.map { case (k, n, nk, ab, seg) =>
      (k + 500000L, "K" + n.substring(1), nk, ab + 0.37, seg) }
    // rebuild the blocked scored pairs with plain loops (block = nation × band)
    val edges = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    dirty.groupBy(r => (r._3, math.floor(r._4 / 100.0).toLong)).values.foreach { recs =>
      val arr = recs.toArray
      for (i <- arr.indices; j <- arr.indices; if arr(i)._1 < arr(j)._1) {
        val a = arr(i); val b = arr(j)
        val score = (if (lev(a._2, b._2) <= 1) 30L else -10L) +
          (if (math.abs(a._4 - b._4) < 1.0) 15L else -5L) +
          (if (a._5 == b._5) 10L else -8L)
        if (score >= 45L) edges += ((a._1, b._1))
      }
    }
    // min-label union-find (union roots at the smaller id, so every root is
    // its component's minimum — the CC operator's labeling contract)
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (u, v) =>
      val ru = find(u); val rv = find(v)
      if (ru != rv) parent(math.max(ru, rv)) = math.min(ru, rv)
    }
    val expected = dirty.map(_._1).map(id => find(id))
      .groupBy(identity).map { case (c, ids) => (c, ids.size.toLong) } // component -> size
      .groupBy(_._2).map { case (size, comps) =>
        (size, comps.size.toLong, size * comps.size, comps.map(_._1).sum)
      }.toSeq.sortBy(_._1)
    val got = graft.queries.QueriesAnalytics.queries("er_cluster")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected)
    assert(got.map(x => x._1 * x._2).sum == dirty.length.toLong,
      "entity sizes must partition the dirty universe")
  }
}
