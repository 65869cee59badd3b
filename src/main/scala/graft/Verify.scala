package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional trailing args = run only these queries (dev loop; the driver
    // passes exactly two args and gets the full sweep + full _declared.txt)
    val only = args.drop(2).toSeq
    val selected = Harness.select(only)
    val spark = Harness.session()
    // trained-ANN oracles (sim_ivf_kmeans/sim_pq) fit their deterministic
    // model on THIS run's data and inline it as SQL literals — they need
    // the session + data dir at oracleSql-dump time
    graft.queries.Tables.OracleContext.ctx = Some((spark, sfDir))
    new java.io.File(outDir).mkdirs()
    // written BEFORE the query loop: if a query kills the JVM outright
    // (OOM), the checker must still know which outputs should exist —
    // otherwise stale results from a previous run pass as fresh
    if (only.isEmpty)
      Files.writeString(Paths.get(s"$outDir/_declared.txt"),
        SparkEntry.queries.keys.toSeq.sorted.mkString("\n"))
    // executor-storage high-water across the sweep: localCheckpoint blocks
    // are GC-bound (ContextCleaner frees them when the RDD is collected),
    // so nothing bounds accumulation BY CONSTRUCTION — this records the
    // actual bound a full sweep reaches (round-11 verdict #3; the measured
    // number lives in SCALING.md). Sampled at STAGE granularity via a
    // listener, not just between queries: intra-query persists (the
    // incremental-state builders, minhash index writes) peak and unpersist
    // before the query returns, and a between-queries-only probe would
    // understate the real bound (review-caught).
    object HighWater {
      var mem = 0L; var disk = 0L; var rdds = 0
      def sample(): Unit = {
        val st = spark.sparkContext.getRDDStorageInfo
        val (m, d) = (st.map(_.memSize).sum, st.map(_.diskSize).sum)
        synchronized {
          if (m + d > mem + disk) { mem = m; disk = d; rdds = st.length }
        }
      }
    }
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        HighWater.sample()
    })
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // a failed query must not leave a STALE result from a previous run
        // for the driver to compare against — delete any leftover output
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete(): Unit
        }
        val dir = new java.io.File(s"$outDir/$name")
        if (dir.exists()) rm(dir)
      }
      HighWater.sample()
    }
    System.err.println(f"[verify] storage high-water: mem=${HighWater.mem / 1e6}%.1f MB " +
      f"disk=${HighWater.disk / 1e6}%.1f MB cached_rdds=${HighWater.rdds}")
    // __SFDIR__ placeholder: oracles that must reference the data directory
    // by path (DuckDB table functions like read_blob) are bound to the
    // actual run directory here, not hardcoded to one scale
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Harness.json(k)}: ${Harness.json(v.replace("__SFDIR__", sfDir))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // release the deliberate session-lifetime operator caches (minhash
    // shingles, packed signatures, bloom shingles) now that every query
    // has materialized
    graft.operators.CacheRegistry.sweep()
    spark.stop()
  }
}
