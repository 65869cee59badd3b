package graft
import org.apache.spark.sql.SparkSession
import graft.queries.Tables.Q
/** The launch harness shared by Bench, Verify, Explain and ScaleGen: one
  * session config, one warmup, one query-name selection and one JSON string
  * escaper, so what Explain prints and Verify checks is planned exactly like
  * what Bench times. Per-query job/stage/task evidence comes from the
  * benchmark's traced run (`perfbench`), which builds its own session. */
object Harness {
  /** Executor slots and shuffle partitions of every launched session. */
  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** Data directory Bench times and Explain plans. */
  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** UTC because Tables.t's NTZ→TIMESTAMP normalization assumes it. */
  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", "target/warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    quietAuditedWarnings()
    spark
  }

  /** WindowExec warns "No Partition Defined" for every global window; each
    * one in the fleet is audited by PlanLintSpec, which stays the gate, so
    * the warning only buries new ones in the logs. */
  def quietAuditedWarnings(): Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)

  /** Untimed warmup: pay one-time JVM costs (codegen compiler, parquet
    * writer classloading, shuffle machinery) before measuring queries. */
  def warmup(spark: SparkSession): Unit = {
    import spark.implicits._
    val w = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    w.join(w.toDF("k", "v2"), "k").groupBy($"v").count().count()
    w.write.mode("overwrite").parquet("target/tmp_bench_warmup")
    spark.read.parquet("target/tmp_bench_warmup").count()
    spark.sql("SELECT count(*) FROM (SELECT 1 AS x) t WHERE x > 0").count()
  }

  /** The queries named on the command line; none means all of them.
    * Unknown names FAIL — a typo silently selecting nothing would read as
    * an instant bench or a clean verify. */
  def select(names: Seq[String]): Map[String, Q] = {
    val all = SparkEntry.queries
    if (names.isEmpty) all
    else {
      val unknown = names.filterNot(all.contains)
      require(unknown.isEmpty, s"unknown query names: ${unknown.mkString(",")}")
      all.view.filterKeys(names.toSet).toMap
    }
  }

  /** JSON string literal: backslash, quote, and ALL control chars (<0x20)
    * escaped — one tab or CR in an oracle's SQL would otherwise make every
    * JSON reader reject the whole oracle_sql.json. */
  def json(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
