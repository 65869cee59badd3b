package graft

import org.apache.spark.sql.functions._

/** Round-10 additions: data-scale BFS reachability, frozen-model IVF-PQ
  * append, the WAV audio decode card, and semdedup's corpus-scaled knobs. */
class Round10Spec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("graph_bfs_users: full differential recompute at sf0.001") {
    val got = graft.queries.QueriesAnalytics.queries("graph_bfs_users")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

    // recompute from the raw events with plain Scala set algebra
    val ev = graft.queries.Tables.t(spark, dir, "events")
      .where(col("user_id").isNotNull && col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("user_id"), col("event_type"), col("event_id"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val edges = ev.groupBy(e => (e._2, Math.floorDiv(e._4, 3600000000L))).toSeq
      .flatMap { case (_, es) =>
        val ordered = es.sortBy(e => (e._4, e._3))
        ordered.zip(ordered.tail).map { case (a, b) => (a._1, b._1) }.filter(p => p._1 != p._2)
      }.toSet
    val nodes = ev.map(_._1).toSet
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var distOf = nodes.filter(_ % 25 == 0).map(_ -> 0L).toMap
    var frontier = distOf.keySet
    for (i <- 1 to 5) {
      val nxt = frontier.flatMap(adj.getOrElse(_, Set.empty)).diff(distOf.keySet)
      distOf ++= nxt.map(_ -> i.toLong)
      frontier = nxt
    }
    val card = distOf.groupBy(_._2).map { case (d, m) =>
      (d, m.size.toLong, m.keys.sum) }.toSeq
    val unreached = nodes.diff(distOf.keySet)
    val expected = (card :+ ((-1L, unreached.size.toLong, unreached.sum)))
      .sortBy(_._1)
    assert(got == expected, s"got $got != $expected")
    // sanity: the seed level exists and carries every 25th user
    assert(got.exists(r => r._1 == 0L && r._2 == nodes.count(_ % 25 == 0)))
  }

  test("sim_ivfpq_append: snapshot-union search equals a one-pass full re-encode under the frozen models") {
    import graft.operators.{Ivf, Pq}
    import graft.functions.SimFns
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.LongType
    val got = graft.queries.QueriesSim.queries("sim_ivfpq_append")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq

    // full re-encode: same frozen models (trained on the NATURAL corpus),
    // corpus ∪ batch encoded in ONE pass with no snapshot layout, same search
    val e = graft.queries.Tables.t(spark, dir, "embeddings")
      .where(col("embedding").isNotNull).select(col("vec_id"), col("embedding"))
    val ca = Ivf.trainSampled(e, "vec_id", "embedding", k = 8)
    val books = Pq.train(e, "vec_id", "embedding", m = 8, k = 16)
    val union = e.unionByName(e.where(col("vec_id") % 50 === 0)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding")))
    val enc = union.select(col("vec_id"),
      element_at(Ivf.nearestCells(col("embedding"), ca, 1), 1).as("cell"),
      Pq.codesFor(col("embedding"), books).as("codes"))
    val q = e.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val probes = q.select(col("qid"),
      explode(Ivf.nearestCells(col("qe"), ca, 3)).as("cell"))
    val luts = q.select(col("qid"), SimFns.toDouble(col("qe"))).collect()
      .flatMap { r =>
        Pq.adcTable(r.getSeq[Double](1).toArray, books)
          .map { case (j, c, d) => (r.getLong(0), j, c, d) }
      }.toIndexedSeq
    import spark.implicits._
    val lut = broadcast(luts.toDF("qid", "j", "code", "d"))
    val w = Window.partitionBy(col("qid")).orderBy(col("dist2").asc, col("vec_id").asc)
    val expected = enc.join(broadcast(probes), "cell")
      .select(col("qid"), col("vec_id"), posexplode(col("codes")).as(Seq("j", "code")))
      .join(lut, Seq("qid", "j", "code"))
      .groupBy(col("qid"), col("vec_id")).agg(sum(col("d")).as("dist2"))
      .withColumn("rank", row_number().over(w)).where(col("rank") <= 10)
      .select(col("qid"), col("vec_id"), round(col("dist2"), 6).as("dist2"),
        col("rank").cast(LongType).as("rank"))
      .orderBy(col("qid"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    assert(got == expected, s"append path diverged from full re-encode")
    // the batch actually participates: some planted +100000 id must rank
    assert(got.exists(_._2 >= 100000L), "no planted batch vector in the results")
  }

  test("graph_densest_users: full differential recompute at sf0.001") {
    val got = graft.queries.QueriesAnalytics.queries("graph_densest_users")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toSeq

    // recompute the batched peel with plain Scala set algebra
    val ev = graft.queries.Tables.t(spark, dir, "events")
      .where(col("user_id").isNotNull && col("ts").isNotNull && col("event_type").isNotNull)
      .select(col("user_id"), col("event_type"), col("event_id"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val directed = ev.groupBy(e => (e._2, Math.floorDiv(e._4, 3600000000L))).toSeq
      .flatMap { case (_, es) =>
        val ordered = es.sortBy(e => (e._4, e._3))
        ordered.zip(ordered.tail).map { case (a, b) => (a._1, b._1) }.filter(p => p._1 != p._2)
      }.toSet
    var eg = directed ++ directed.map(p => (p._2, p._1)) // both orientations
    var v = ev.map(_._1).toSet
    def card(round: Long, thr: Long, nRemoved: Long): (Long, Long, Long, Long, Long, Long) = {
      val m2 = eg.size.toLong; val n = v.size.toLong
      (round, thr, nRemoved, n, m2 / 2, m2 * 500000L / math.max(n, 1L))
    }
    var expected = Seq(card(0, 0, 0))
    for (i <- 1 to 5) {
      val m2 = eg.size.toLong; val n = v.size.toLong
      val thr = m2 * 11L / (math.max(n, 1L) * 10L)
      val deg = eg.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      val rm = v.filter(id => deg.getOrElse(id, 0L) < thr)
      v = v.diff(rm)
      eg = eg.filter(p => !rm.contains(p._1) && !rm.contains(p._2))
      expected :+= card(i.toLong, thr, rm.size.toLong)
    }
    assert(got == expected, s"got $got != $expected")
    // peel must actually engage and density6 stays exact-integer consistent
    assert(got(1)._3 > 0, "round 1 removed nothing — threshold never engaged")
  }

  test("sim_hamming_rerank: full differential recompute at sf0.001") {
    val got = graft.queries.QueriesSim.queries("sim_hamming_rerank")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4))).toSeq

    // plain-Scala recompute: pack sign bits, Hamming top-50, cosine rerank
    val vecs = graft.queries.Tables.t(spark, dir, "embeddings")
      .where(col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def pack(v: Array[Float], off: Int): Long =
      (0 until 32).foldLeft(0L)((acc, i) => if (v(off + i) > 0f) acc + (1L << i) else acc)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble; nb += b(i).toDouble * b(i).toDouble
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val packed = vecs.map { case (id, v) => id -> (pack(v, 0), pack(v, 32)) }
    val expected = (0L until 5L).flatMap { qid =>
      val (qlo, qhi) = packed(qid)
      val top50 = packed.toSeq.map { case (id, (lo, hi)) =>
        (id, java.lang.Long.bitCount(lo ^ qlo).toLong + java.lang.Long.bitCount(hi ^ qhi).toLong)
      }.sortBy(p => (p._2, p._1)).take(50)
      top50.map { case (id, ham) => (id, ham, cos(vecs(qid), vecs(id))) }
        .sortBy(p => (-p._3, p._1)).take(10).zipWithIndex
        .map { case ((id, ham, c), i) => (qid, id, ham, c, i + 1L) }
    }
    assert(got.map(r => (r._1, r._2, r._3, r._5)) == expected.map(r => (r._1, r._2, r._3, r._5)))
    // query output rounds cos to 6 decimals — compare within half an ulp of that
    got.zip(expected).foreach { case (g, e) => assert(math.abs(g._4 - e._4) <= 5.001e-7) }
    // every query's rank 1 is itself: ham 0, cosine exactly 1
    (0L until 5L).foreach { qid =>
      assert(got.contains((qid, qid, 0L, 1.0, 1L))) }
  }

  test("WAV round trip: javax.sound decode of the rendered RIFF matches a direct sample-formula fold") {
    import graft.multimodal.Multimodal
    // id 3 → stereo, id 4 → mono (wavChannels = 1 + id % 2)
    val ids = Seq(3L, 4L)
    import spark.implicits._
    val got = Multimodal.decodeWav(spark,
        Multimodal.renderWav(spark, ids.toDF("doc_id")))
      .collect().map(s => (s.doc_id, s.channel) -> s).toMap
    assert(got.size == 2 + 1) // stereo doc has two channel rows
    ids.foreach { id =>
      val ch = Multimodal.wavChannels(id)
      val n = Multimodal.wavFrames(id)
      (0 until ch).foreach { c =>
        val samples = (0 until n).map(i => Multimodal.wavSample(id, c, i).toLong)
        val s = got((id, c.toLong))
        assert(s.n_samples == n && s.sample_rate == 8000L)
        assert(s.peak_abs == samples.map(math.abs).max)
        assert(s.sum_sq == samples.map(x => x * x).sum)
        assert(s.checksum == samples.zipWithIndex.map { case (x, i) => (i + 1) * x }.sum)
      }
    }
    // header sanity straight from javax.sound (not our own parse)
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(Multimodal.encodeWav(3L)))
    assert(ais.getFormat.getChannels == 2 && ais.getFormat.getSampleRate == 8000f)
    assert(ais.getFrameLength == Multimodal.wavFrames(3L).toLong)
  }
}
