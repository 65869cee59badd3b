package graft.operators

import graft.functions.SimFns
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-key top-k: the one constant-k ranking step of the query layer. The
  * similarity family ranks through it (exact, IVF, LSH, PQ and MaxSim
  * searches, kNN votes, beam hops), and so do the text, analytics,
  * pipeline and relational cards that keep the best k rows per key (bm25
  * and tf-idf tops, fusion ranks, per-group samples and quotas).
  *
  * The `rank <= k` filter over a `row_number` window is the form Spark 4
  * plans as `WindowGroupLimit`: each task keeps at most k rows per key
  * before the key's exchange, so no task holds a key's full candidate
  * ranking, and the work scales with keys × candidates, never with a
  * global sort.
  */
object TopK {

  /** The first `k` rows of every `keys` group in `order`, with their 1-based
    * `rank` (IntegerType) appended. Rows are kept, never merged: a group
    * smaller than `k` returns whole.
    *
    * The caller's obligation: the LAST `order` column must be unique within
    * a key (the row id — `vec_id`, `u`, `lbl`), so ties on the score break
    * the same way on every partitioning and in the DuckDB twin's
    * `row_number() OVER (PARTITION BY … ORDER BY …)`. A changed tie-break
    * is a changed output hash. The rank column is always named `rank`;
    * callers rename or drop it. */
  def perKey(df: DataFrame, keys: Column*)(k: Int, order: Column*): DataFrame =
    df.withColumn("rank", row_number().over(Window.partitionBy(keys: _*).orderBy(order: _*)))
      .where(col("rank") <= k)

  /** The exact verify step of the similarity family: score every candidate
    * row of `cand` (query `qid` with vector `qe`, corpus row `vec_id` with
    * vector `vec`) by `SimFns.cosine(qe, vec)` as `cos`, and keep each
    * query's top `k` by (`cos` desc, `vec_id`). Brute-force scans, IVF
    * probes, LSH buckets and Hamming shortlists differ only in how `cand`
    * is built. Returns (qid, vec_id, `keep`…, cos, rank). */
  def byCosine(cand: DataFrame, k: Int, vec: String, keep: String*): DataFrame =
    perKey(cand.select(Seq(col("qid"), col("vec_id")) ++ keep.map(col) :+
        SimFns.cosine(col("qe"), col(vec)).as("cos"): _*),
      col("qid"))(k, col("cos").desc, col("vec_id"))
}
