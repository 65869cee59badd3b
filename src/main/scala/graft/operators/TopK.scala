package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-key top-k: the one ranking step of the similarity family (exact,
  * IVF, LSH, PQ and MaxSim searches, kNN votes, beam hops).
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
}
