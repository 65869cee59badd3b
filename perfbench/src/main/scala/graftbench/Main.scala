package graftbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.graftbench.Bus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.SparkEntry
import graft.operators.{CacheRegistry, DiskCache}

/** JVM side of the benchmark; `perfbench/run.py` launches it and turns
  * the `run.json` it writes into metrics. It sets up (session, warmup,
  * query registry, each timed); runs every query once untimed, writing its
  * output for the oracle check; runs whole passes of the workload back to
  * back (one client, closed loop) for about `--seconds`; and with
  * `--trace 1` runs one more pass under the listeners, writes its spans to
  * `trace.jsonl`, and runs one untraced pass after it as the overhead
  * baseline.
  *
  * The timed action is `df.write.format("noop")`, which materializes every
  * column. Before each pass the session caches and Spark's generated-code
  * cache are emptied, and with
  * `--cold-cache 1` the pass gets a new, empty DiskCache root, so every
  * pass starts from the same state. */
object Main {
  type Q = (SparkSession, String) => DataFrame

  /** The query modules whose time the traced run reports one by one. */
  val Modules: Seq[String] = Seq(
    "QueriesRelational", "QueriesRelationalExt", "QueriesFunctions",
    "QueriesFacade", "QueriesTypes", "QueriesText", "QueriesDedup",
    "QueriesPipeline", "QueriesSim", "QueriesScale", "QueriesAnalytics",
    "QueriesMlops", "QueriesStream", "QueriesDdl", "QueriesTrain")

  /** A traced query's build + planning + execute + gap must equal its wall
    * time within this many seconds plus [[SplitTolFrac]] of the wall. */
  val SplitTolS = 0.005
  val SplitTolFrac = 0.01

  final case class Opts(queries: Seq[String], data: String, out: String, seed: Long,
                        seconds: Double, trace: Boolean, coldCache: Boolean,
                        launchNs: Long, cores: Int)

  private def parse(argv: Array[String]): Opts = {
    val kv = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(kv("queries").split(",").toSeq.filter(_.nonEmpty), kv("data"), kv("out"),
      kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      kv("cold-cache") == "1", kv("launch-ns").toLong, kv("cores").toInt)
  }

  private def epochNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }
  private def nowMs(): Double = epochNs() / 1e6
  private def secs(fromNs: Long): Double = (System.nanoTime() - fromNs) / 1e9

  def main(argv: Array[String]): Unit = {
    val o = parse(argv)
    val (spark, reg, setupTimes) = setup(o)
    val out = new StringBuilder
    def field(k: String, v: String): Unit =
      out.append(if (out.isEmpty) "{" else ",").append(Json.str(k)).append(':').append(v)
    field("setup", Json.obj(setupTimes.map { case (k, v) => k -> Json.num(v) }: _*))
    // every pass gets its own seeded order, so that no query always runs
    // first after the caches are emptied
    val rng = new scala.util.Random(o.seed)
    def order(): Seq[String] = rng.shuffle(o.queries)
    val (outputWall, outputErrors) = outputPass(spark, reg, order(), o)
    field("output_pass_s", Json.num(outputWall))
    field("output_errors", Json.obj(outputErrors.map { case (k, v) => k -> Json.str(v) }: _*))
    val passes = ArrayBuffer.empty[Pass]
    var spent = 0.0
    while (passes.isEmpty || spent + passes.map(_.wall).max <= o.seconds) {
      val p = timedPass(spark, reg, order(), o, passes.size, None)
      passes += p
      spent += p.wall
    }
    field("passes", passes.map(_.json).mkString("[", ",", "]"))
    if (o.trace) {
      val tracer = new Tracer(spark, o.cores, reg)
      val p = timedPass(spark, reg, order(), o, passes.size, Some(tracer))
      // the overhead baseline runs after the traced pass, as warm as it
      val baseline = timedPass(spark, reg, order(), o, passes.size + 1, None)
      val metrics = tracer.metrics(p.wall, baseline.wall, outputWall)
      Files.writeString(Paths.get(o.out, "trace.jsonl"), tracer.lines.mkString("", "\n", "\n"))
      field("traced_pass", p.json)
      field("baseline_pass", baseline.json)
      field("trace", Json.obj(metrics.map { case (k, v) => k -> Json.num(v) }: _*))
    }
    field("peak_rss_mb", Json.num(peakRssMb()))
    field("cores", o.cores.toString)
    Files.writeString(Paths.get(o.out, "run.json"), out.append('}').toString)
    CacheRegistry.sweep()
    spark.stop()
  }

  /** Session, warmup and query registry, timed phase by phase from the
    * moment the launcher started this process. */
  private def setup(o: Opts): (SparkSession, Map[String, (Q, String)], Seq[(String, Double)]) = {
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", "target/warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (epochNs() - o.launchNs) / 1e9
    val t1 = System.nanoTime()
    // graft.Bench's untimed warmup, statement for statement
    locally {
      import spark.implicits._
      val w = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      w.join(w.toDF("k", "v2"), "k").groupBy($"v").count().count()
      w.write.mode("overwrite").parquet("target/tmp_bench_warmup")
      spark.read.parquet("target/tmp_bench_warmup").count()
      spark.sql("SELECT count(*) FROM (SELECT 1 AS x) t WHERE x > 0").count()
    }
    val warmupS = secs(t1)
    val t2 = System.nanoTime()
    val all = SparkEntry.queries
    val unknown = o.queries.filterNot(all.contains)
    require(unknown.isEmpty, s"not in SparkEntry.queries: ${unknown.mkString(",")}")
    val moduleOf = moduleNames()
    val reg = o.queries.map(n => n -> (all(n), moduleOf.getOrElse(n, "unknown"))).toMap
    val registryS = secs(t2)
    (spark, reg, Seq("session_s" -> sessionS, "warmup_s" -> warmupS,
      "registry_s" -> registryS, "total_s" -> (sessionS + warmupS + registryS)))
  }

  /** A member (`queries` or `oracle`) of the module object `graft.queries.<m>`;
    * None for a module a later refactor removes. */
  private def moduleMember[T](m: String, member: String): Option[T] =
    try {
      val cls = Class.forName(s"graft.queries.$m$$")
      Some(cls.getMethod(member).invoke(cls.getField("MODULE$").get(null)).asInstanceOf[T])
    } catch { case _: ReflectiveOperationException => None }

  /** query name -> the module that declares it. */
  private def moduleNames(): Map[String, String] =
    Modules.reverse.flatMap { m =>
      moduleMember[Map[String, _]](m, "queries").toSeq.flatMap(_.keys.map(_ -> m))
    }.toMap

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete(): Unit
  }

  /** Untimed: every query once, its output written as one parquet file per
    * query, beside the oracle SQL, in the layout `tools/check.py` reads. */
  private def outputPass(spark: SparkSession, reg: Map[String, (Q, String)],
                         order: Seq[String], o: Opts): (Double, Seq[(String, String)]) = {
    val dir = new File(o.out, "outputs")
    deleteTree(dir)
    dir.mkdirs()
    Files.writeString(Paths.get(dir.getPath, "_declared.txt"), order.sorted.mkString("\n"))
    val errors = ArrayBuffer.empty[(String, String)]
    val t0 = System.nanoTime()
    order.foreach { name =>
      try reg(name)._1(spark, o.data).coalesce(1).write.mode("overwrite")
        .parquet(new File(dir, name).getPath)
      catch { case e: Throwable =>
        errors += name -> String.valueOf(e.getMessage).take(500)
        deleteTree(new File(dir, name))
      }
    }
    val wall = secs(t0)
    // Only the workload's modules, and the trained oracles (which fit a
    // model on this input when built, ~8 s) only if a query needs one:
    // SparkEntry.oracleSql with Verify's OracleContext fits all of them.
    val names = order.toSet
    def oracles(): Map[String, String] = {
      val maps = reg.values.map(_._2).toSeq.distinct.map(moduleMember[Map[String, String]](_, "oracle"))
      if (maps.forall(_.isDefined)) maps.flatten.reduce(_ ++ _) else SparkEntry.oracleSql
    }
    var all = oracles()
    if (!names.subsetOf(all.keySet)) {
      graft.queries.Tables.OracleContext.ctx = Some((spark, o.data))
      all = oracles()
    }
    val oracle = all.filter { case (k, _) => names(k) }
      .map { case (k, v) => s"${Json.str(k)}:${Json.str(v.replace("__SFDIR__", o.data))}" }
    Files.writeString(Paths.get(dir.getPath, "oracle_sql.json"), oracle.mkString("{", ",", "}"))
    CacheRegistry.sweep()
    (wall, errors.toSeq)
  }

  final case class Pass(index: Int, wall: Double, times: Seq[(String, Double)],
                        errors: Seq[(String, String)]) {
    def json: String = Json.obj(
      "index" -> index.toString, "wall_s" -> Json.num(wall),
      "queries" -> times.map { case (n, t) => s"[${Json.str(n)},${Json.num(t)}]" }.mkString("[", ",", "]"),
      "errors" -> Json.obj(errors.map { case (k, v) => k -> Json.str(v) }: _*))
  }

  /** One pass over the workload. A query that throws is recorded as an
    * error and given no time. */
  private def timedPass(spark: SparkSession, reg: Map[String, (Q, String)], order: Seq[String],
                        o: Opts, index: Int, tracer: Option[Tracer]): Pass = {
    CacheRegistry.sweep()
    Bus.clearCodegenCache()
    // a fresh, empty root per pass: deleting the old one would break
    // session memos that still reference its files
    if (o.coldCache)
      System.setProperty("graft.cache.root", new File(sys.env("GRAFT_CACHE_ROOT"), s"pass$index").getPath)
    System.gc()
    tracer.foreach(_.attach())
    val times = ArrayBuffer.empty[(String, Double)]
    val errors = ArrayBuffer.empty[(String, String)]
    val t0 = System.nanoTime()
    order.zipWithIndex.foreach { case (name, i) =>
      val fn = reg(name)._1
      try tracer match {
        case None =>
          val q0 = System.nanoTime()
          fn(spark, o.data).write.format("noop").mode("overwrite").save()
          times += name -> secs(q0)
        case Some(t) => times += name -> t.query(s"q$i", name, () => fn(spark, o.data))
      } catch { case e: Throwable => errors += name -> String.valueOf(e.getMessage).take(500) }
    }
    val wall = secs(t0)
    tracer.foreach(_.detach())
    Pass(index, wall, times.toSeq, errors.toSeq)
  }

  /** High-water resident set of this JVM (executors included in local mode). */
  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  /** Measure of the union of half-open intervals. */
  def unionLen(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var end = Double.NegativeInfinity
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s >= end) { total += e - s; end = e }
      else if (e > end) { total += e - end; end = e }
    }
    total
  }

  private def clip(iv: (Double, Double), lo: Double, hi: Double): (Double, Double) =
    (math.max(iv._1, lo), math.min(iv._2, hi))

  /** The traced pass: listeners attached, one span tree per query
    * (query -> build | plan | execute -> Spark job), kept in memory. */
  final class Tracer(spark: SparkSession, cores: Int, reg: Map[String, (Q, String)]) {
    private val sc = spark.sparkContext
    private val storagePeakB = new AtomicLong
    private val liveMax = new AtomicInteger
    private def sample(): Unit = {
      val st = sc.getRDDStorageInfo
      storagePeakB.accumulateAndGet(st.map(r => r.memSize + r.diskSize).sum, math.max)
      liveMax.accumulateAndGet(CacheRegistry.liveCount, math.max)
    }
    private val layer = new LayerListener(() => sample())
    private val plans = new PlanListener
    val lines = ArrayBuffer.empty[String]
    private val sums = scala.collection.mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    private def add(k: String, v: Double): Unit = sums(k) = sums(k) + v
    private val total = new Counters
    private var codegen0 = (0L, 0L)
    private var violations = 0

    def attach(): Unit = {
      layer.reset()
      sc.addSparkListener(layer)
      spark.listenerManager.register(plans)
      codegen0 = (CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
    }
    def detach(): Unit = {
      Bus.drain(sc)
      add("codegen.compile_s", (CodeGenerator.compileTime - codegen0._1) / 1e9)
      add("codegen.compiles", (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - codegen0._2).toDouble)
      sc.removeSparkListener(layer)
      spark.listenerManager.unregister(plans)
    }

    private def cacheEntries(): Map[String, File] =
      Option(new File(DiskCache.root).listFiles()).toSeq.flatten
        .filter(f => f.isDirectory && !f.getName.contains(".tmp-") && !f.getName.contains(".stale-"))
        .map(f => f.getName -> f).toMap
    private def treeBytes(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(treeBytes).sum else f.length

    /** Runs one query under the listeners; returns its wall seconds. */
    def query(qid: String, name: String, build: () => DataFrame): Double = {
      Bus.drain(sc)
      plans.drain()
      layer.current = qid
      val cacheBefore = cacheEntries().keySet
      sample()
      val n0 = System.nanoTime()
      val t0 = nowMs()
      val df = build()
      val tb = nowMs()
      // the final frame's own analysis ran inside build(); its query
      // execution never runs, so the listener does not report it
      val dfPhases = df.queryExecution.tracker.phases.map { case (n, p) =>
        Phase(n, p.startTimeMs, p.endTimeMs) }
      df.write.format("noop").mode("overwrite").save()
      val te = nowMs()
      val wall = secs(n0)
      Bus.drain(sc)
      layer.current = ""
      val phases = plans.drain() ++ dfPhases
      val jobs = layer.jobRecs.filter(_.query == qid)
      val built = cacheEntries().filter { case (k, _) => !cacheBefore(k) }

      def jobIv(j: JobRec): (Double, Double) =
        (j.startMs.toDouble, if (j.endMs < 0) te else j.endMs.toDouble)
      val wPhases = phases.map(p => clip((p.startMs.toDouble, p.endMs.toDouble), tb, te))
        .filter(x => x._2 > x._1)
      val planEnd = (tb +: wPhases.map(_._2)).max
      val wJobs = jobs.map(j => clip(jobIv(j), tb, te)).filter(x => x._2 > x._1)
      val buildS = (tb - t0) / 1e3
      val planningS = unionLen(wPhases) / 1e3
      val busyW = unionLen(wPhases ++ wJobs) / 1e3
      val executeS = busyW - planningS
      val gapS = (te - tb) / 1e3 - busyW
      val tol = SplitTolS + SplitTolFrac * wall
      val outside = jobs.exists { j => val (s, e) = jobIv(j); s < t0 - tol * 1e3 || e > te + tol * 1e3 }
      val ok = math.abs(buildS + planningS + executeS + gapS - wall) <= tol && !outside
      if (!ok) violations += 1

      val c = new Counters
      jobs.foreach(j => c.add(j.counters))
      total.add(c)
      val buildJobs = jobs.count(_.startMs < tb)
      val jobSpanS = unionLen(jobs.map(j => clip(jobIv(j), t0, te))) / 1e3
      val module = reg(name)._2
      add("queries.build_s", buildS)
      add("queries.build_jobs", buildJobs)
      add(s"module.$module.wall_s", wall)
      Seq("analysis" -> "planning.analysis_s", "optimization" -> "planning.optimization_s",
          "planning" -> "planning.physical_s").foreach { case (ph, key) =>
        add(key, phases.filter(_.name == ph).map(p => (p.endMs - p.startMs) / 1e3).sum)
      }
      add("scheduler.jobs", jobs.size)
      add("scheduler.job_span_s", jobSpanS)
      add("scheduler.off_job_s", wall - jobSpanS)
      add("diskcache.entries_built", built.size)
      add("diskcache.mb_written", built.values.map(treeBytes).sum / 1048576.0)

      // spans: self time = duration minus the part its children cover
      def span(id: String, kind: String, parent: String, s: Double, e: Double,
               children: Seq[(Double, Double)], extra: (String, String)*): Unit = {
        val inside = children.map(x => clip(x, s, e))
        lines += Json.obj(Seq("kind" -> Json.str("span"), "qid" -> Json.str(qid),
          "id" -> Json.str(id), "name" -> Json.str(kind),
          "parent" -> (if (parent == null) "null" else Json.str(parent)),
          "start_ms" -> f"$s%.3f", "end_ms" -> f"$e%.3f",
          "dur_s" -> Json.num((e - s) / 1e3),
          "self_s" -> Json.num((e - s - unionLen(inside)) / 1e3)) ++ extra: _*)
      }
      val planIvs = phases.map(p => (p.startMs.toDouble, p.endMs.toDouble))
      span(qid, "query", null, t0, te, Seq((t0, tb), (tb, planEnd), (planEnd, te)),
        "query" -> Json.str(name))
      span(s"$qid.build", "build", qid, t0, tb, planIvs ++ jobs.map(jobIv))
      span(s"$qid.plan", "plan", qid, tb, planEnd, planIvs)
      span(s"$qid.execute", "execute", qid, planEnd, te, jobs.map(jobIv))
      jobs.foreach { j =>
        val (s, e) = jobIv(j)
        val parent = if (s < tb) s"$qid.build" else if (s < planEnd) s"$qid.plan" else s"$qid.execute"
        span(s"$qid.job${j.id}", "job", parent, s, e, Nil,
          "stages" -> j.counters.stages.toString, "tasks" -> j.counters.tasks.toString)
      }
      lines += Json.obj(
        "kind" -> Json.str("query"), "qid" -> Json.str(qid), "query" -> Json.str(name),
        "module" -> Json.str(module), "wall_s" -> Json.num(wall),
        "build_s" -> Json.num(buildS), "planning_s" -> Json.num(planningS),
        "execute_s" -> Json.num(executeS), "gap_s" -> Json.num(gapS),
        "split_ok" -> ok.toString, "jobs" -> jobs.size.toString,
        "build_jobs" -> buildJobs.toString, "stages" -> c.stages.toString,
        "tasks" -> c.tasks.toString,
        "shuffle_read_mb" -> Json.num(c.shuffleReadB / 1048576.0),
        "shuffle_write_mb" -> Json.num(c.shuffleWriteB / 1048576.0),
        "spill_mb" -> Json.num(c.spillB / 1048576.0),
        "peak_mem_mb" -> Json.num(c.peakMemB / 1048576.0),
        "diskcache_built" -> built.keys.toSeq.sorted.map(Json.str).mkString("[", ",", "]"))
      wall
    }

    /** Per-layer totals of the traced pass. */
    def metrics(tracedWall: Double, untracedWall: Double, primeS: Double): Seq[(String, Double)] = {
      val mb = 1048576.0
      total.add(layer.unattributed)
      val fixed = Seq(
        "scheduler.stages" -> total.stages.toDouble,
        "scheduler.tasks" -> total.tasks.toDouble,
        "scheduler.task_delay_s" -> total.delayMs / 1e3,
        "scheduler.empty_task_frac" -> (if (total.tasks == 0) 0.0 else total.emptyTasks.toDouble / total.tasks),
        "executor.run_s" -> total.runMs / 1e3,
        "executor.cpu_s" -> total.cpuNs / 1e9,
        "executor.gc_s" -> total.gcMs / 1e3,
        "executor.busy_frac" -> total.runMs / 1e3 / (tracedWall * cores),
        "executor.peak_mem_mb" -> total.peakMemB / mb,
        "shuffle.read_mb" -> total.shuffleReadB / mb,
        "shuffle.write_mb" -> total.shuffleWriteB / mb,
        "shuffle.fetch_wait_s" -> total.fetchWaitMs / 1e3,
        "spill.mb" -> total.spillB / mb,
        "io.input_mb" -> total.inputB / mb,
        "io.output_mb" -> total.outputB / mb,
        "diskcache.prime_s" -> primeS,
        "cacheregistry.live_max" -> liveMax.get.toDouble,
        "storage.peak_mb" -> storagePeakB.get / mb,
        "trace.pass_s" -> tracedWall,
        "trace.overhead_s" -> (tracedWall - untracedWall),
        "trace.split_violations" -> violations.toDouble)
      sums.toSeq ++ fixed
    }
  }
}
