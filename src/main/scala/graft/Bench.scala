package graft
object Bench {
  /** 1-minute load average from /proc/loadavg (-1.0 if unreadable) — stamped
    * into the artifact so a loaded-container run is distinguishable from a
    * regression WITHOUT re-litigating it from memory each round (round-10
    * verdict #8: three of four "canonical" totals were taken under visible
    * ambient load and every round re-derived that fact). */
  private def loadAvg(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
      .split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** A canonical run (every declared query, at the sf0.1 dir the clean
    * band is calibrated on) is the only one that may write the committed
    * BENCH_FULL.json / BENCH_COMPACT.json or raise the load warning; a
    * subset or another-SF run prints its lines and writes nothing. */
  def canonical(selected: collection.Set[String], sfDir: String): Boolean =
    selected == SparkEntry.queries.keySet && sfDir.replaceAll("/+$", "").endsWith("sf0.1")

  /** Trailing args name the queries to time (none = all). */
  def main(args: Array[String]): Unit = {
    val loadStart = loadAvg()
    val sfDir = Harness.sfDir
    // cache state at start: any complete DiskCache entry makes the run warm
    val cacheState = if (graft.operators.DiskCache.hasCompleteEntry) "warm" else "cold"
    val selected = Harness.select(args.toSeq)
    val isCanonical = canonical(selected.keySet, sfDir)
    val spark = Harness.session()
    Harness.warmup(spark)
    // deterministic name order: HashMap iteration order is arbitrary, so the
    // first-measured query (which absorbs any residual one-time cost) would
    // differ run to run and read as a regression in per-query comparisons
    val results = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      val t0 = System.nanoTime()
      // a crashed query must read as BROKEN (-1), never as a fast time
      val ok = try { fn(spark, sfDir).count(); true } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); false
      }
      name -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
    }
    def fmt(v: Double): String = f"$v%.3f"
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    // total over SUCCESSFUL queries only: the -1 crash sentinels are visible
    // per-query and must not deflate the headline number
    val total = results.map(_._2).filter(_ >= 0).sum
    // The driver captures only the TAIL of the run output; at ~200 queries
    // the full line exceeds that window and its HEAD gets cut (round 2 lost
    // the total and 109 per-query times). Two mitigations:
    //   1. "value" (the headline total) moves AFTER "queries", so a
    //      tail-truncated capture still carries total + sf + the last N
    //      query times.
    //   2. The complete line is also written to BENCH_FULL.json in the repo
    //      (committed each round), so every per-query time stays diffable
    //      even when the captured line is truncated.
    // Load sentinel (round-8 verdict #1): the committed canonical artifact was
    // once recorded on a loaded container and read as a phantom 1.7× regression.
    // The recorded CLEAN band is ~0.69 s/query at sf0.1 (BASELINE.md clean-run
    // row); a full-set total >1.5× that band means the container was busy —
    // flag it IN the artifact so a downstream reader can never mistake load
    // for regression. Only for full runs (a subset of heavy queries
    // legitimately exceeds the fleet-median band).
    // band over SUCCESSFUL queries only: crashes often co-occur with load,
    // and counting them in the denominator while excluding their time from
    // `total` would let a loaded run slip under the band (review-caught)
    // The band is calibrated ON sf0.1 (BASELINE.md's clean-run row) — a
    // legitimate full bench at another SF (sf1, the 100× dir) would trip a
    // spurious warning, so the check is gated on the canonical dir
    // (advice round 9).
    val cleanBandSecPerQuery = 0.69
    val nOk = results.count(_._2 >= 0)
    val loadWarning = isCanonical && total > 1.5 * cleanBandSecPerQuery * nOk
    if (loadWarning)
      System.err.println(f"[bench] WARNING: total ${total}%.1f s exceeds the " +
        f"clean band (${cleanBandSecPerQuery * nOk}%.1f s over $nOk ok queries) " +
        "by >1.5x - container load suspected; re-run on a quiet machine " +
        "before committing")
    val warnField = if (loadWarning) ""","load_warning":true""" else ""
    // ambient-load stamp: 1-min /proc/loadavg at bench start and end. The
    // bench itself drives load (local[32] executes on all cores), so the
    // START figure is the pre-existing ambient load and the honest one to
    // judge a run by; end is recorded for completeness.
    val loadField =
      s""","load_avg_start":${fmt(loadStart)},"load_avg_end":${fmt(loadAvg())}"""
    val line =
      s"""{"metric":"total","unit":"sec","queries":$qs,"sf":"$sfDir"$warnField$loadField,"value":${fmt(total)}}"""
    // Full line first (BENCH_FULL parity), then a COMPACT summary as the very
    // last stdout line: the driver captures only the tail of the run output,
    // and at 338 queries the full line's HEAD gets cut, leaving unparseable
    // JSON (BENCH_r08 shipped "parsed": null). The compact line always fits
    // any tail window; per-query times stay diffable via BENCH_FULL.json.
    // Both print BEFORE the cache sweep — a sweep failure must not lose the
    // artifact from the captured output (review-caught).
    // conventional median (average of the two middles for even n) so the
    // artifact's figure matches any standard median computed downstream
    // (advice round 9 — the upper-middle convention drifted slightly)
    val sorted = results.map(_._2).filter(_ >= 0).sorted
    val median =
      if (sorted.isEmpty) 0.0
      else if (sorted.size % 2 == 1) sorted(sorted.size / 2)
      else (sorted(sorted.size / 2 - 1) + sorted(sorted.size / 2)) / 2.0
    val failField =
      if (nOk < results.size) s""","n_failed":${results.size - nOk}""" else ""
    // Round-15 (r14 verdict #1): the driver's stdout capture keeps only the
    // LAST 2000 chars, so the full 391-entry per-query map (~8.8 KB) can
    // never reach PERF_*.json (r14 shipped per_query = {} and an empty
    // scaling block — the referee was blind per-query). Fix: the compact
    // line now carries the SLOWEST queries' times, greedily packed into a
    // fixed byte budget chosen so the whole compact line still fits the
    // 2000-char tail window alongside sbt's trailing "[success]" line.
    // The slowest queries are exactly the optimization-relevant ones, and
    // the driver's existing "queries" extraction needs no change. A digest
    // of the FULL map ties the line to BENCH_FULL.json (committed each
    // round) so partial data is verifiable against the complete artifact.
    // Methodology (what is timed, and the full line + BENCH_FULL.json) is
    // UNCHANGED — additions only, round-over-round totals stay comparable.
    // STRICT prefix of the slowest-first order (review-caught): stop at the
    // first entry that does not fit, so "n_top = N" means exactly the N
    // slowest queries — a greedy fill would skip a long-named slow query
    // and still append faster short-named ones, breaking the reader's
    // "everything slower than the cutoff is present" assumption.
    val topBudgetBytes = 1400
    val topEntries = scala.collection.mutable.ListBuffer.empty[String]
    var topBytes = 0
    var topFull = false
    results.filter(_._2 >= 0).sortBy(-_._2).foreach { case (k, v) =>
      if (!topFull) {
        val ent = "\"" + k + "\":" + fmt(v)
        if (topBytes + ent.length + 1 <= topBudgetBytes) {
          topEntries += ent; topBytes += ent.length + 1
        } else topFull = true
      }
    }
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(qs.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
    val topField =
      s""","n_top":${topEntries.size},"queries_md5":"$digest"""" +
        s""","queries":${topEntries.mkString("{", ",", "}")}"""
    // run context: cpu count and the DiskCache state at start, so a warm
    // and a cold run are never compared as if alike (a canonical cold sweep
    // pays every cache build). "full" is null when no file was written.
    val contextField = s""","cpus":${Harness.cpus},"cache":"$cacheState""""
    val full = if (isCanonical) "\"BENCH_FULL.json\"" else "null"
    val compact =
      s"""{"metric":"total","unit":"sec","n_queries":${results.size}$failField,""" +
        s""""median":${fmt(median)},"sf":"$sfDir"$warnField$loadField$topField$contextField,""" +
        s""""full":$full,"value":${fmt(total)}}"""
    // BENCH_COMPACT.json: the driver-parseable artifact (round-9 verdict #2 —
    // BENCH_r08/r09 shipped "parsed": null because the captured stdout tail
    // carried an sbt "[info] " prefix on the compact line). A FILE cannot be
    // prefix-mangled by any logger; build.sbt additionally sets
    // run / outputStrategy := StdoutOutput so sbt-launched runs print bare.
    // Only a canonical run writes the committed artifacts: a subset run once
    // overwrote the 391-query BENCH_*.json with a 2-query smoke run.
    if (isCanonical)
      Seq("BENCH_FULL.json" -> line, "BENCH_COMPACT.json" -> compact).foreach { case (f, l) =>
        try java.nio.file.Files.write(java.nio.file.Paths.get(f), (l + "\n").getBytes("UTF-8"))
        catch { case e: Throwable => System.err.println(s"[bench] file write failed: $e") }
      }
    println(line)
    println(compact)
    graft.operators.CacheRegistry.sweep()
    spark.stop()
  }
}
