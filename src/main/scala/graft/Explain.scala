package graft
/** Formatted plans of the named queries (none = all), planned in Bench's
  * session on Bench's data dir, so the printed plans are the benched ones.
  * Usage: `SPARK_GRAFT_SF_DIR=<dir> tools/run.sh graft.Explain <query>...` */
object Explain {
  def main(args: Array[String]): Unit = {
    val selected = Harness.select(args.toSeq)
    val spark = Harness.session()
    val dir = Harness.sfDir
    for ((q, fn) <- selected.toSeq.sortBy(_._1)) {
      println(s"===== $q =====")
      fn(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
