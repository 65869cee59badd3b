package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed PageRank over a DATA-SIZED node domain — the k-round
  * synchronous score-join-aggregate iteration the config-sized nation-graph
  * cards deliberately do NOT need (see PLANS.md "Graph-family scale
  * contract"). Node and edge domains both grow with the corpus; every round
  * is two keyed shuffles (contribution join on src, incoming sum on dst)
  * plus one 1-row dangling-mass aggregate, and each round's scores are
  * `localCheckpoint`ed so the iterative plan never nests prior rounds
  * (the ConnectedComponents lineage discipline).
  *
  * All arithmetic is EXACT FIXED-POINT INTEGER (the attribution_markov
  * cross-engine convention): scores in 1e-12 units, edge transition
  * probabilities pre-quantized to 1e-6 units, each contribution term
  * (r12·p6) DIV 1e6 ≤ 1e18 at any scale — integer sums commute, so an
  * unrolled SQL oracle running the same recurrence matches bit-for-bit
  * with no floating-point ordering care. The teleport AND the dangling-mass
  * redistribution both target the SEED set S (Haveliwala's topic-sensitive
  * variant — the recommendation / trust-propagation primitive; scores
  * measure proximity to the seeds):
  *
  *   r12'(v) = [v∈S]·(15·base) DIV 100
  *           + (85·(Σ_{(u,v)∈E} (r12(u)·p6(u,v)) DIV 1e6  +  [v∈S]·(D12 DIV |S|))) DIV 100
  *
  * where base = 1e12 DIV |S| (the init of every seed; non-seeds start at 0)
  * and D12 is the dangling-node score sum (without its redistribution the
  * damped total mass drains toward the teleport floor). Plain PageRank is
  * the case S = every node: base = 1e12 DIV N, uniform teleport and
  * D12 DIV N.
  */
object PageRank {

  /** @param edges  (src, dst, p6) — p6 = (w·1e6) DIV wout(src), a per-edge
    *               constant the caller computes once (and should persist:
    *               it is scanned every round)
    * @param nodes  (id, seed) — distinct node universe (should also be
    *               persisted) and the boolean seed indicator
    * @param nSeeds seed count |S| (the caller's one collected scalar)
    * @param k      fixed synchronous rounds (fixed, never "to convergence":
    *               a convergence test on doubles would reintroduce
    *               engine-dependent ordering into the oracle contract)
    * @return (id, r12) — scores in 1e-12 units after k rounds */
  def run(edges: DataFrame, nodes: DataFrame, nSeeds: Long, k: Int): DataFrame = {
    require(nSeeds > 0, "PageRank over an empty seed set")
    val base = 1000000000000L / nSeeds
    val teleport = (15L * base) / 100L
    // the dangling flag (no outgoing edge) rides IN the score table, so
    // each round's dangling-mass sum is a plain conditional aggregate over
    // the previous round's checkpoint — a per-round semi-join against a
    // separate dangling list would pay an extra exchange every round
    val nodesF = nodes
      .join(edges.select(col("src").as("id")).distinct()
        .withColumn("hasOut", lit(true)), Seq("id"), "left")
      .select(col("id"), col("seed"), coalesce(col("hasOut"), lit(false)).as("out"))
      .localCheckpoint(false)
    var r = nodesF.withColumn("r12", when(col("seed"), lit(base)).otherwise(lit(0L)))
    for (_ <- 1 to k) {
      // 1-row dangling mass. shuffle_replicate_nl forces a CartesianProduct
      // instead of a BroadcastNestedLoopJoin: a broadcast exchange would
      // spawn its own collect job per round, while the cartesian with a
      // 1-row side executes inside the SAME job as the round's checkpoint
      // (pure scheduling overhead on tiny per-round data, and at real
      // scale the 1-row side is free either way)
      val d12 = r.agg(coalesce(sum(when(!col("out"), col("r12"))), lit(0L)).as("d12"))
      val in = edges
        .join(r.select(col("id").as("src"), col("r12")), Seq("src"))
        .select(col("dst"), expr("(r12 * p6) DIV 1000000").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("in12"))
      r = nodesF.join(in.withColumnRenamed("dst", "id"), Seq("id"), "left")
        .crossJoin(d12.hint("shuffle_replicate_nl"))
        .select(col("id"), col("seed"), col("out"),
          (when(col("seed"), lit(teleport)).otherwise(lit(0L)) +
            expr(s"(85 * (coalesce(in12, CAST(0 AS BIGINT)) + " +
              s"(CASE WHEN seed THEN d12 DIV ${nSeeds}L ELSE CAST(0 AS BIGINT) END))) DIV 100"))
            .as("r12"))
        .localCheckpoint(false)
    }
    r.select(col("id"), col("r12"))
  }
}
