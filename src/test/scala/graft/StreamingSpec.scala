package graft

import graft.streaming.Streams
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Real streaming execution: MemoryStream source, watermark semantics, late
  * data, streaming dedup — the paths the DuckDB oracle can't check. */
class StreamingSpec extends SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s"2024-01-01 $s:00")

  test("tumbling windows under readStream; watermark drops late data") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Timestamp, String, Double)]
    val agg = Streams.tumbling(
      Streams.withWatermark(ms.toDF().toDF("ts", "event_type", "value"), "ts", "10 minutes"),
      "ts", "1 hour", Seq(col("event_type")), Seq(count(lit(1)).as("n")))
    val q = Streams.toMemorySink(agg, "tumble_test", "update")
    try {
      ms.addData((ts("00:05"), "a", 1.0), (ts("00:10"), "a", 1.0))
      q.processAllAvailable()
      // advance the watermark far past hour 0
      ms.addData((ts("03:00"), "a", 1.0))
      q.processAllAvailable()
      // late event for hour 0 — behind the watermark, must be dropped
      ms.addData((ts("00:20"), "a", 1.0))
      q.processAllAvailable()
      val hour0 = spark.table("tumble_test")
        .where(col("window_start") === ts("00:00")).agg(max(col("n"))).head().getLong(0)
      assert(hour0 == 2L, "late event must not reach the finalized window")
    } finally q.stop()
  }

  test("native TextStats gate runs inside a streaming filter") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[String]
    // the quality gate (native TextStats + let-bound HOF) must plan and run
    // under the micro-batch engine exactly as in batch
    val gated = ms.toDF().select(col("value").as("text"))
      .where(graft.functions.TextFns.qualityLangGate(col("text"), lit(0.0), lit("en")))
    val q = Streams.toMemorySink(gated, "gate_test", "append")
    try {
      ms.addData(
        "the cat and the dog went to the park and sat in the sun as it is warm",
        "der hund und die katze sind nicht ein problem und das ist gut so ja",
        "!!!")
      q.processAllAvailable()
      val got = spark.table("gate_test").as[String].collect()
      assert(got.length == 1 && got.head.startsWith("the cat"),
        s"gate kept: ${got.mkString("; ")}")
    } finally q.stop()
  }

  test("streaming dedup within watermark") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Timestamp, Long, Double)]
    val dedup = Streams.dedupWithinWatermark(
      ms.toDF().toDF("ts", "event_id", "value"), "ts", "1 hour", Seq("event_id"))
    val q = Streams.toMemorySink(dedup, "dedup_test", "append")
    try {
      ms.addData((ts("00:01"), 1L, 1.0), (ts("00:02"), 1L, 1.0), (ts("00:03"), 2L, 2.0))
      q.processAllAvailable()
      ms.addData((ts("00:04"), 1L, 1.0)) // still duplicate
      q.processAllAvailable()
      assert(spark.table("dedup_test").count() == 2L)
    } finally q.stop()
  }

  test("stream-stream interval join joins within the hour, watermark-bounded") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val views = MemoryStream[(Timestamp, Long, Long)]
    val purchases = MemoryStream[(Timestamp, Long, Long)]
    val joined = Streams.streamStreamJoin(
      views.toDF().toDF("view_ts", "v_user", "view_id"),
      purchases.toDF().toDF("purchase_ts", "p_user", "purchase_id"),
      "view_ts", "purchase_ts", "10 minutes",
      col("v_user") === col("p_user") &&
        col("purchase_ts") >= col("view_ts") &&
        col("purchase_ts") <= col("view_ts") + expr("INTERVAL 1 HOUR"))
    val q = Streams.toMemorySink(joined.select(col("view_id"), col("purchase_id")),
      "ssj_test", "append")
    try {
      views.addData((ts("00:00"), 1L, 10L), (ts("00:05"), 2L, 11L))
      purchases.addData((ts("00:30"), 1L, 20L)) // in range for view 10
      q.processAllAvailable()
      // one addData call → one micro-batch: the 02:00 watermark advance must
      // not evict view 11's state before the in-range 00:40 row in the same
      // batch is joined (adding them separately would race the async engine)
      purchases.addData(
        (ts("02:00"), 2L, 21L), // past view 11's hour — no match
        (ts("00:40"), 2L, 22L)) // in range for view 11
      q.processAllAvailable()
      val got = spark.table("ssj_test").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((10L, 20L), (11L, 22L)), s"got $got")
    } finally q.stop()
  }

  test("stream-static enrichment join stays broadcast under readStream") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val dim = Seq((1L, "SEG_A"), (2L, "SEG_B")).toDF("key", "seg")
    val ms = MemoryStream[(Timestamp, Long, Double)]
    val enriched = Streams.enrichStatic(
      ms.toDF().toDF("ts", "user", "value"), dim, col("user") === col("key"))
    val q = Streams.toMemorySink(enriched, "enrich_test", "append")
    try {
      ms.addData((ts("00:01"), 1L, 1.0), (ts("00:02"), 2L, 2.0), (ts("00:03"), 9L, 3.0))
      q.processAllAvailable()
      val got = spark.table("enrich_test").select("user", "seg").collect()
        .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      // inner join: the unmatched user 9 drops; the stream is enriched, and
      // the executed plan must broadcast the dim (no stream-side shuffle)
      assert(got.toSeq == Seq((1L, "SEG_A"), (2L, "SEG_B")))
      val plan = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), s"dim not broadcast:\n$plan")
    } finally q.stop()
  }

  test("session windows merge events within the gap (batch = stream semantics)") {
    import spark.implicits._
    val df = Seq(
      (ts("00:00"), 1L, 1.0), (ts("00:05"), 1L, 1.0), (ts("00:09"), 1L, 1.0), // one session
      (ts("01:00"), 1L, 1.0), // new session (gap > 10m)
      (ts("00:00"), 2L, 5.0)).toDF("ts", "user_id", "value")
    val sess = Streams.sessionized(df, "ts", "10 minutes", Seq(col("user_id")),
      Seq(count(lit(1)).as("n"), sum(col("value")).as("s")))
    val got = sess.select("user_id", "n").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(identity)
    assert(got.toSeq == Seq((1L, 1L), (1L, 3L), (2L, 1L)))
  }

  test("flatMapGroupsWithState keeps running per-user totals across batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Streams.UserEvent]
    val running = Streams.runningUserTotals(spark, ms.toDS())
    val q = running.toDF().writeStream.format("memory")
      .queryName("state_test").outputMode("update").start()
    try {
      ms.addData(Streams.UserEvent(ts("00:01"), 1L, 10.0), Streams.UserEvent(ts("00:02"), 1L, 5.0))
      q.processAllAvailable()
      ms.addData(Streams.UserEvent(ts("00:03"), 1L, 1.0), Streams.UserEvent(ts("00:04"), 2L, 7.0))
      q.processAllAvailable()
      val rows = spark.table("state_test")
        .groupBy($"user_id").agg(max($"n_events").as("n"), max($"sum_value").as("s"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
      // state carried across batches: user 1 ends at n=3, sum=16
      assert(rows.toSeq == Seq((1L, 3L, 16.0), (2L, 1L, 7.0)))
    } finally q.stop()
  }

  test("rollingZScore: chunked delivery equals single-batch, flags match brute force") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // deterministic series: sin noise with two planted spikes after warmup
    val vals = (0 until 60).map { i =>
      if (i == 40 || i == 55) 50.0 else math.sin(i * 0.7)
    }
    val data = vals.zipWithIndex.map { case (v, i) => Streams.KeyedValue("k", i.toLong, v) }

    def run(chunks: Seq[Seq[Streams.KeyedValue]], name: String): Seq[(Long, Double)] = {
      val ms = MemoryStream[Streams.KeyedValue]
      val q = Streams.rollingZScore(spark, ms.toDS()).toDF()
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        chunks.foreach { c => ms.addData(c: _*); q.processAllAvailable() }
        spark.table(name).collect().map(r => (r.getLong(1), r.getDouble(3)))
          .sortBy(_._1).toSeq
      } finally q.stop()
    }
    val oneShot = run(Seq(data), "zs_one")
    val chunked = run(data.grouped(17).toSeq, "zs_chunks")
    assert(oneShot == chunked)            // chunking never changes the flags

    // brute force: full 20-window strictly-preceding z
    val expected = (20 until 60).flatMap { i =>
      val w = vals.slice(i - 20, i)
      val mean = w.sum / 20
      val sd = math.sqrt(w.map(v => (v - mean) * (v - mean)).sum / 19)
      val z = (vals(i) - mean) / sd
      if (sd > 1e-9 && math.abs(z) > 3.0) Some((i.toLong, z)) else None
    }
    assert(oneShot.map(_._1) == expected.map(_._1))
    oneShot.zip(expected).foreach { case ((_, zg), (_, ze)) =>
      assert(math.abs(zg - ze) < 1e-9)
    }
    assert(oneShot.nonEmpty)              // the planted spikes were flagged
  }

  test("lateDataMonitorStream: chunked delivery equals single-batch, flags match a replay") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // deterministic disorder: event times jump ahead then fall back
    val times = (0 until 50).map { i =>
      val base = i.toLong * 600L * 1000000L // 10-min cadence
      if (i % 7 == 3) base + 7200L * 1000000L       // 2h-early spike (makes successors late)
      else if (i % 11 == 5) base - 1800L * 1000000L // mild lag
      else base
    }
    val data = times.zipWithIndex.map { case (us, i) =>
      Streams.ArrivalEvent("k", i.toLong, us) }

    def run(chunks: Seq[Seq[Streams.ArrivalEvent]], name: String): Seq[(Long, Long, Boolean)] = {
      val ms = MemoryStream[Streams.ArrivalEvent]
      val q = Streams.lateDataMonitorStream(spark, ms.toDS()).toDF()
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        chunks.foreach { c => ms.addData(c: _*); q.processAllAvailable() }
        spark.table(name).collect()
          .map(r => (r.getLong(1), r.getLong(2), r.getBoolean(3))).sortBy(_._1).toSeq
      } finally q.stop()
    }
    val oneShot = run(Seq(data), "late_one")
    val chunked = run(data.grouped(13).toSeq, "late_chunks")
    assert(oneShot == chunked)
    // brute-force replay
    var wm = Long.MinValue
    val expected = times.zipWithIndex.flatMap { case (us, i) =>
      val f = if (wm > us) Some((i.toLong, wm - us, wm - us > 3600L * 1000000L)) else None
      wm = math.max(wm, us)
      f
    }
    assert(oneShot == expected)
    assert(oneShot.exists(_._3) && oneShot.exists(!_._3),
      "both late-but-kept and would-be-dropped flags must occur")
  }

  test("distinctCountStream: exact under any chunking, equals batch countDistinct") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // repeats, cross-word ids, and a cross-batch duplicate pattern
    val data = (0 until 200).map { i =>
      Streams.KeyedId(if (i % 3 == 0) "a" else "b", (i * 37 % 90).toLong)
    }
    def finalCounts(chunks: Seq[Seq[Streams.KeyedId]], name: String): Map[String, (Long, Long)] = {
      val ms = MemoryStream[Streams.KeyedId]
      val q = Streams.distinctCountStream(spark, ms.toDS()).toDF()
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        chunks.foreach { c => ms.addData(c: _*); q.processAllAvailable() }
        // last snapshot per key = the one with the max rows-seen counter
        spark.table(name).collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
          .groupBy(_._1).view.mapValues(v => { val m = v.maxBy(_._2); (m._2, m._3) }).toMap
      } finally q.stop()
    }
    val one = finalCounts(Seq(data), "dc_one")
    val chunked = finalCounts(data.grouped(17).toSeq, "dc_chunks")
    val shuffled = finalCounts(data.reverse.grouped(23).toSeq, "dc_rev")
    assert(one == chunked)
    // ORDER invariance too, not just chunking: OR commutes
    assert(one.view.mapValues(_._2).toMap == shuffled.view.mapValues(_._2).toMap)
    // batch ground truth
    val expected = data.groupBy(_.key).map { case (k, xs) =>
      k -> (xs.length.toLong, xs.map(_.id).distinct.length.toLong) }
    assert(one == expected)
  }

  test("attributionJoin: stream-stream interval join equals batch; chunking-invariant") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    def ts(minutes: Long) = new java.sql.Timestamp(minutes * 60000L)
    // user 1: clicks at 10/50, buy at 60 (both within 1h) and at 130 (neither)
    // user 2: click at 100, buy at 120 (one match); user 3: buy only
    val clicks = Seq(Streams.ClickEv(1, ts(10)), Streams.ClickEv(1, ts(50)),
      Streams.ClickEv(2, ts(100)))
    val buys = Seq(Streams.BuyEv(1, 901, ts(60)), Streams.BuyEv(1, 902, ts(130)),
      Streams.BuyEv(2, 903, ts(120)), Streams.BuyEv(3, 904, ts(60)))

    def run(cChunks: Seq[Seq[Streams.ClickEv]], bChunks: Seq[Seq[Streams.BuyEv]],
            name: String): Seq[(Long, Long)] = {
      val mc = MemoryStream[Streams.ClickEv]
      val mb = MemoryStream[Streams.BuyEv]
      val q = Streams.attributionJoin(mc.toDF(), mb.toDF(), wm = "1000 hours")
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        cChunks.zipAll(bChunks, Seq.empty, Seq.empty).foreach { case (cs, bs) =>
          if (cs.nonEmpty) mc.addData(cs: _*)
          if (bs.nonEmpty) mb.addData(bs: _*)
          q.processAllAvailable()
        }
        spark.table(name).collect().map(r =>
          (r.getAs[Long]("event_id"),
            r.getAs[java.sql.Timestamp]("click_ts").getTime / 60000L))
          .sortBy(identity).toSeq
      } finally q.stop()
    }
    val oneShot = run(Seq(clicks), Seq(buys), "attr_one")
    val chunked = run(clicks.grouped(1).toSeq, buys.grouped(2).toSeq, "attr_chunks")
    assert(oneShot == chunked)
    val batch = Streams.attributionJoin(clicks.toDF(), buys.toDF())
      .collect().map(r => (r.getAs[Long]("event_id"),
        r.getAs[java.sql.Timestamp]("click_ts").getTime / 60000L)).sortBy(identity).toSeq
    assert(oneShot == batch)
    // the planted shape: buy 901 attributes to both user-1 clicks, 903 to
    // the user-2 click, 902/904 unattributed
    assert(batch == Seq((901L, 10L), (901L, 50L), (903L, 100L)))
  }

  test("attributionJoin: RocksDB state backend yields the identical chunked result") {
    // state-store portability (round-9 verdict item 7): the stream-stream
    // interval join's buffered state must behave identically under the
    // RocksDB provider — the backend a production deployment uses for
    // state larger than executor heap — as under the in-memory default.
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    def ts(minutes: Long) = new java.sql.Timestamp(minutes * 60000L)
    val clicks = Seq(Streams.ClickEv(1, ts(10)), Streams.ClickEv(1, ts(50)),
      Streams.ClickEv(2, ts(100)))
    val buys = Seq(Streams.BuyEv(1, 901, ts(60)), Streams.BuyEv(1, 902, ts(130)),
      Streams.BuyEv(2, 903, ts(120)), Streams.BuyEv(3, 904, ts(60)))
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mc = MemoryStream[Streams.ClickEv]
      val mb = MemoryStream[Streams.BuyEv]
      val q = Streams.attributionJoin(mc.toDF(), mb.toDF(), wm = "1000 hours")
        .writeStream.format("memory").queryName("attr_rocks").outputMode("append").start()
      try {
        // chunked arrival so the join genuinely buffers rows in RocksDB
        // across micro-batches before their matches arrive
        clicks.grouped(1).toSeq.zipAll(buys.grouped(2).toSeq, Seq.empty, Seq.empty)
          .foreach { case (cs, bs) =>
            if (cs.nonEmpty) mc.addData(cs: _*)
            if (bs.nonEmpty) mb.addData(bs: _*)
            q.processAllAvailable()
          }
        val got = spark.table("attr_rocks").collect().map(r =>
          (r.getAs[Long]("event_id"),
            r.getAs[java.sql.Timestamp]("click_ts").getTime / 60000L))
          .sortBy(identity).toSeq
        assert(got == Seq((901L, 10L), (901L, 50L), (903L, 100L)),
          "RocksDB-backed state must reproduce the in-memory result")
      } finally q.stop()
    } finally {
      prev match { case Some(v) => spark.conf.set(key, v); case None => spark.conf.unset(key) }
    }
  }

  test("transformWithState (RocksDB store) keeps running totals across batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ms = MemoryStream[Streams.UserEvent]
    val running = Streams.runningUserTotalsTws(spark, ms.toDS())
    val q = running.toDF().writeStream.format("memory")
      .queryName("tws_test").outputMode("update").start()
    try {
      ms.addData(Streams.UserEvent(ts("00:01"), 1L, 10.0), Streams.UserEvent(ts("00:02"), 1L, 5.0))
      q.processAllAvailable()
      ms.addData(Streams.UserEvent(ts("00:03"), 1L, 1.0))
      q.processAllAvailable()
      val n = spark.table("tws_test").where($"user_id" === 1L)
        .agg(max($"n_events")).head().getLong(0)
      assert(n == 3L, "state carried across batches via RocksDB store")
    } finally {
      q.stop()
      prev match { case Some(v) => spark.conf.set(key, v); case None => spark.conf.unset(key) }
    }
  }

  test("stream-stream inner join with watermark time constraint") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val clicks = MemoryStream[(Timestamp, Long)]
    val buys = MemoryStream[(Timestamp, Long)]
    val c = clicks.toDF().toDF("cts", "cuser").withWatermark("cts", "30 minutes")
    val b = buys.toDF().toDF("bts", "buser").withWatermark("bts", "30 minutes")
    // purchase joins clicks by the same user within the preceding hour
    val joined = b.join(c, expr(
      "cuser = buser AND cts BETWEEN bts - INTERVAL 1 HOUR AND bts"))
    val q = joined.writeStream.format("memory").queryName("ss_join_test")
      .outputMode("append").start()
    try {
      clicks.addData((ts("00:10"), 1L), (ts("00:20"), 2L))
      buys.addData((ts("00:40"), 1L))   // within 1h of user 1's click → joins
      buys.addData((ts("02:30"), 2L))   // user 2's click is 2h10m old → no join
      q.processAllAvailable()
      val rows = spark.table("ss_join_test").select("buser").collect().map(_.getLong(0))
      assert(rows.toSeq == Seq(1L))
    } finally q.stop()
  }

  test("foreachBatch sink: per-batch custom writes with batch ids") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Timestamp, Double)]
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = ms.toDF().toDF("ts", "v").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        seen.synchronized { seen += ((id, batch.count())) } : Unit
      }
      .start()
    try {
      ms.addData((ts("00:01"), 1.0), (ts("00:02"), 2.0)); q.processAllAvailable()
      ms.addData((ts("00:03"), 3.0)); q.processAllAvailable()
      assert(seen.map(_._2).sum == 3L && seen.map(_._1).distinct.size == seen.size)
    } finally q.stop()
  }

  test("rate source drives the same transforms (built-in synthetic stream)") {
    val rate = spark.readStream.format("rate").option("rowsPerSecond", "50").load()
    val agg = Streams.tumbling(
      Streams.withWatermark(rate.withColumnRenamed("timestamp", "ts"), "ts", "0 seconds"),
      "ts", "1 second", Seq(), Seq(count(lit(1)).as("n")))
    val q = Streams.toMemorySink(agg, "rate_test", "update")
    try {
      Thread.sleep(1500)
      q.processAllAvailable()
      assert(spark.table("rate_test").count() >= 1L)
    } finally q.stop()
  }

  test("file-source parquet stream reads incrementally") {
    import spark.implicits._
    val dir = "target/tmp_stream_src"
    val chk = "target/tmp_stream_chk"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(chk))
    val batch = Seq((ts("00:01"), "a", 1.0), (ts("00:02"), "b", 2.0)).toDF("ts", "event_type", "value")
    batch.write.mode("overwrite").parquet(dir)
    val stream = Streams.parquetStream(spark, dir, batch.schema)
    assert(stream.isStreaming)
    val q = Streams.toMemorySink(stream.groupBy(col("event_type")).count(), "file_stream_test", "complete")
    try {
      q.processAllAvailable()
      assert(spark.table("file_stream_test").count() == 2L)
    } finally q.stop()
  }

  test("nearDupStream: cross-batch LSH dedup at ingest, estimate quality") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog while rain falls on the quiet green hills of the north country every single day"
    val near = base.replace("every single day", "every single morning")
    val other = "completely different content about spark distributed query execution engines and columnar storage formats for analytics workloads at scale"
    val ms = MemoryStream[(Long, String)]
    val hits = Streams.nearDupStream(spark, ms.toDF().toDF("doc_id", "text"),
      "doc_id", "text", threshold = 0.5)
    val q = Streams.toMemorySink(hits.toDF(), "neardup_test", "append")
    try {
      ms.addData((1L, base), (2L, other))
      q.processAllAvailable()
      // batch 1: unrelated docs — no hits
      assert(spark.table("neardup_test").isEmpty)
      // batch 2: an exact copy of doc 1 and a near copy; state from batch 1
      // must still match them (the incremental-ingest property)
      ms.addData((3L, base), (4L, near))
      q.processAllAvailable()
      val got = spark.table("neardup_test").as[Streams.NearDupHit].collect()
        .map(h => (h.id_new, h.id_prior) -> h.est_jaccard).toMap // band dups collapse
      assert(got.contains((3L, 1L)), s"exact copy must match its prior: $got")
      assert(got((3L, 1L)) == 1.0, "identical shingles agree on every minhash")
      assert(got.keys.forall { case (n, p) => Set(1L, 3L, 4L).contains(n) && p < n },
        s"no hit may involve the unrelated doc or invert arrival order: $got")
      // the near copy matches base (3 changed tokens of ~24): estimate must
      // sit well above threshold and below 1
      val nearEst = got.collect { case ((4L, p), e) if p == 1L || p == 3L => e }
      assert(nearEst.nonEmpty && nearEst.forall(e => e >= 0.5 && e < 1.0),
        s"near-copy estimate off: $got")
      // estimate vs true jaccard: within 0.25 (64 hashes, σ ≈ 0.06)
      val sets = Seq(base, near).map(t =>
        t.toLowerCase.split("\\s+").sliding(3).map(_.mkString(" ")).toSet)
      val trueJ = sets(0).intersect(sets(1)).size.toDouble / sets(0).union(sets(1)).size
      nearEst.foreach(e => assert(math.abs(e - trueJ) < 0.25,
        s"estimate $e vs true $trueJ"))
    } finally q.stop()
  }

  test("annIngestStream: chunking-invariant per-cell state, assignment matches batch IVF — r5") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import graft.operators.Ivf
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .where(col("embedding").isNotNull).select(col("vec_id"), col("embedding"))
    val cents = Ivf.trainSampled(e, "vec_id", "embedding", k = 4)
    val rows = e.orderBy("vec_id").limit(64).collect()
    val vecs = rows.map(r => Streams.VecIn(r.getLong(0),
      r.getSeq[Float](1).map(_.toDouble).toArray)).toSeq

    def run(chunks: Seq[Seq[Streams.VecIn]], name: String): Map[Int, (Long, Long)] = {
      val ms = MemoryStream[Streams.VecIn]
      val q = Streams.annIngestStream(spark, ms.toDS(), cents).toDF()
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        chunks.foreach { c => ms.addData(c: _*); q.processAllAvailable() }
        // final state per cell = the emission with the highest running count
        spark.table(name).collect()
          .map(r => (r.getInt(0), (r.getLong(1), r.getLong(2))))
          .groupBy(_._1).view.mapValues(_.map(_._2).maxBy(_._1)).toMap
      } finally q.stop()
    }
    val oneShot = run(Seq(vecs), "ann_one")
    val chunked = run(vecs.grouped(13).toSeq, "ann_chunks")
    assert(oneShot == chunked, "chunking changed the per-cell ingest state")
    assert(oneShot.values.map(_._1).sum == 64L)

    // cross-check against the BATCH path: the stream's cell choice must
    // equal the native NearestCells assignment, and the quantized residual
    // sums must match a driver recompute over those assignments
    val batchCells = Ivf.index(e.orderBy("vec_id").limit(64), cents, "embedding")
      .select("vec_id", "cell").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val expected = vecs.groupBy(v => batchCells(v.vec_id)).view.mapValues { vs =>
      val n = vs.length.toLong
      val sq = vs.map { v =>
        val c = cents(batchCells(v.vec_id))
        math.floor(math.sqrt(v.vec.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum) * 1e6).toLong
      }.sum
      (n, sq)
    }.toMap
    assert(oneShot == expected, "stream state diverged from the batch IVF assignment")
  }

  test("contaminationGuardStream: flags planted eval copies, chunking-invariant exact state — r6") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val evalDocs = docs.where(col("doc_id") < 20).select(col("text"))
    // train = clean docs from two sources + planted eval copies in source 'web'
    val clean = docs.where(col("doc_id") >= 20 && col("doc_id") < 80)
      .select(col("doc_id"), col("text")).collect()
      .map(r => Streams.TrainDoc(r.getLong(0),
        if (r.getLong(0) % 2 == 0) "web" else "books", r.getString(1)))
    val planted = docs.where(col("doc_id") < 10).select(col("doc_id"), col("text"))
      .collect().map(r => Streams.TrainDoc(r.getLong(0) + 900000L, "web", r.getString(1)))
    val data = (clean ++ planted).sortBy(_.doc_id).toSeq

    def run(chunks: Seq[Seq[Streams.TrainDoc]], name: String): Map[String, (Long, Long, Long)] = {
      val ms = MemoryStream[Streams.TrainDoc]
      val q = Streams.contaminationGuardStream(spark, evalDocs, ms.toDS()).toDF()
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        chunks.foreach { c => ms.addData(c: _*); q.processAllAvailable() }
        // final state per source = the emission with the highest doc count
        spark.table(name).collect()
          .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
          .groupBy(_._1).view.mapValues(_.map(_._2).maxBy(_._1)).toMap
      } finally q.stop()
    }
    val oneShot = run(Seq(data), "contam_one")
    val chunked = run(data.grouped(7).toSeq, "contam_chunks")
    assert(oneShot == chunked, "chunking changed the per-source guard state")
    // exact ground truth via TRUE set membership (the template-generated
    // corpus DOES share real 8-grams across docs, so 'clean' sources can
    // legitimately flag — that's the guard working): the Bloom guard has no
    // false negatives, and at fpp=0.001 at most a couple of FP docs
    def sh(text: String): Seq[String] = {
      val tk = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
      (0 to tk.length - 8).map(i => tk.slice(i, i + 8).mkString(" "))
    }
    val evalSet = evalDocs.collect().flatMap(r => sh(r.getString(0))).toSet
    val expected = data.groupBy(_.source).view.mapValues { ds =>
      (ds.length.toLong,
        ds.count(d => sh(d.text).exists(evalSet)).toLong,
        ds.map(d => sh(d.text).distinct.count(evalSet).toLong).sum)
    }.toMap
    assert(oneShot.keySet == expected.keySet)
    for ((src, (n, f, h)) <- expected) {
      val got = oneShot(src)
      assert(got._1 == n, s"$src doc count")
      assert(got._2 >= f && got._2 <= f + 2, s"$src flagged: got ${got._2}, exact $f")
      assert(got._3 >= h, s"$src hits: got ${got._3}, exact $h")
    }
    // the planted eval copies all sit in 'web' and must all flag
    assert(expected("web")._2 >= planted.length.toLong)
  }

  test("sessionRateMonitor: one alert per burst session, chunking-invariant") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val s = 1000000L // 1 s in µs
    // user 1: a 12-event burst at 10 Hz — alert fires once, at n = 10
    val u1 = (0 until 12).map(i => Streams.TsEvent(1L, i * s / 10))
    // user 2: 20 events at 1/min — never near 100 events/min
    val u2 = (0 until 20).map(i => Streams.TsEvent(2L, i * 60 * s))
    // user 3: two bursts split by > the 30-min gap — two separate alerts
    val u3 = (0 until 15).map(i => Streams.TsEvent(3L, i * s / 10)) ++
      (0 until 15).map(i => Streams.TsEvent(3L, 3600 * s + i * s / 10))
    val data = (u1 ++ u2 ++ u3).sortBy(_.us)

    def run(chunks: Seq[Seq[Streams.TsEvent]], name: String): Seq[(Long, Long, Long)] = {
      val ms = MemoryStream[Streams.TsEvent]
      val q = Streams.sessionRateMonitor(spark, ms.toDS()).toDF()
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        chunks.foreach { c => ms.addData(c: _*); q.processAllAvailable() }
        spark.table(name).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .sortBy(t => (t._1, t._2)).toSeq
      } finally q.stop()
    }
    val oneShot = run(Seq(data), "rate_one")
    val chunked = run(data.grouped(13).toSeq, "rate_chunks")
    assert(oneShot == chunked, "chunked delivery must emit identical alerts")
    // exactly: user 1 once, user 3 twice (per session), user 2 never;
    // each alert latches at n = minEvents = 10
    assert(oneShot == Seq(
      (1L, 0L, 10L), (3L, 0L, 10L), (3L, 3600 * s, 10L)))
  }

  test("quantileStream: per-batch emissions equal a batch recompute of the prefix") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val rnd = new scala.util.Random(7)
    val data = (0 until 400).map(i =>
      Streams.CentsEvent(if (i % 3 == 0) "a" else "b", rnd.nextInt(50) * 25L))
    def expected(prefix: Seq[Streams.CentsEvent], key: String): (Long, Long, Long) = {
      val vs = prefix.filter(_.key == key).map(_.cents).sorted
      def sel(p: Double) = vs(math.max(math.ceil(p * vs.size).toInt, 1) - 1)
      (vs.size.toLong, sel(0.5), sel(0.95))
    }
    for ((chunkSize, name) <- Seq(1000 -> "qs_one", 61 -> "qs_chunks")) {
      val ms = MemoryStream[Streams.CentsEvent]
      val q = Streams.quantileStream(spark, ms.toDS()).toDF()
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        data.grouped(chunkSize).foreach { c => ms.addData(c: _*); q.processAllAvailable() }
        val rows = spark.table(name).collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        // final emission per key (largest n) must equal the full-data quantile
        for (k <- Seq("a", "b")) {
          val last = rows.filter(_._1 == k).maxBy(_._2)
          assert((last._2, last._3, last._4) == expected(data, k), s"$name/$k final")
        }
        // EVERY emission must equal the batch recompute of its own prefix:
        // per key, emissions are cumulative — match n to a data prefix
        for ((k, n, p50, p95) <- rows) {
          val keyed = data.filter(_.key == k)
          val prefix = data.take(data.indices.find(i =>
            data.take(i + 1).count(_.key == k) == n).get + 1)
          assert((n, p50, p95) == expected(prefix, k), s"$name/$k at n=$n")
          assert(keyed.nonEmpty)
        }
      } finally q.stop()
    }
  }

  test("heavyHittersStream: MG guarantees hold under arbitrary chunking") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // 3 true heavies (80/65/50 events), 200 singleton users as MG noise
    val heavies = Seq(7L -> 80, 13L -> 65, 21L -> 50)
    val data = scala.util.Random.shuffle(
      heavies.flatMap { case (u, n) => Seq.fill(n)(u) } ++ (100L until 300L))
      .zipWithIndex.map { case (u, i) => Streams.TsEvent(u, i.toLong) }
    val trueCounts = data.groupBy(_.user_id).view.mapValues(_.size.toLong).toMap

    def run(chunks: Seq[Seq[Streams.TsEvent]], name: String): Map[Long, Long] = {
      val ms = MemoryStream[Streams.TsEvent]
      val q = Streams.heavyHittersStream(spark, ms.toDS(),
          shards = 4, capacity = 32, threshold = 40L).toDF()
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        chunks.foreach { c => ms.addData(c: _*); q.processAllAvailable() }
        spark.table(name).collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      } finally q.stop()
    }
    for ((chunkSize, name) <- Seq(10000 -> "hh_one", 37 -> "hh_chunks")) {
      val alerts = run(data.grouped(chunkSize).toSeq, name)
      // lower-bound property: no false positives, and count_lb <= true count
      alerts.foreach { case (u, lb) =>
        assert(trueCounts(u) >= 40L, s"$name: false alert for $u")
        assert(lb <= trueCounts(u), s"$name: $u lb $lb > true ${trueCounts(u)}")
      }
      // margin property: a heavy exceeding threshold + n_shard/(capacity+1)
      // must be alerted (395 events total: 195 heavy + 200 singletons; the
      // conservative all-in-one-shard bound is 395/33 = 12, so the property
      // covers heavies with true count ≥ 52 — users 7 and 13 here)
      val margin = data.size / 33 + 1
      trueCounts.filter(_._2 >= 40L + margin).keys.foreach { u =>
        assert(alerts.contains(u), s"$name: missed heavy $u (${trueCounts(u)})")
      }
    }
  }
}
