package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-up generator for scaling-curve measurements (SCALING.md): writes a
  * `factor`× copy of the LLM tables (documents, embeddings, events) and
  * verbatim copies of the TPC-H tables, so the full bench runs unchanged at
  * the larger scale.
  *
  * Copies must look IID, not duplicated — naive duplication would make
  * every document its own near-dup cluster and quadratically explode the
  * dedup/similarity outputs, measuring a different workload:
  *   - documents: per-copy vowel rotation perturbs most shingles, so
  *     cross-copy trigram Jaccard falls far below the 0.8 dedup threshold;
  *   - embeddings: deterministic per-copy, per-dimension offset (~0.3 rms
  *     on unit-ish vectors) pushes cross-copy cosine well under the 0.9
  *     near-dup threshold (scaling a vector would NOT — cosine is
  *     scale-invariant);
  *   - events: ids/users shifted (user shift > the distinct-user range, so
  *     copies never share users), timestamps shifted by copy-index hours so
  *     windows and sessions grow in count, not in per-window size.
  *
  * BENCH-ONLY output: events.ts is written back as the raw INT64 nanos the
  * legacy reader produced (graft.queries.Tables.t handles both layouts, so
  * Bench/queries run unchanged), but the directory is NOT schema-identical
  * to the driver testdata and the DuckDB oracle flow does not apply to it.
  */
object ScaleGen {

  /** 10 high-frequency letters → 10 DISTINCT rotations for factor ≤ 10
    * (5 vowels alone would make copies i and i+5 byte-identical). */
  private val alphabet = "aeiousnrtl"

  def main(args: Array[String]): Unit = {
    val Array(srcDir, outDir, factorS) = args
    val factor = factorS.toInt
    val spark = Harness.session()

    def copies(df: DataFrame)(variant: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(i => variant(df, i)).reduce(_ unionByName _)

    // verbatim relational tables (the scaling story is the LLM tables)
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
      .foreach { t =>
        spark.read.parquet(s"$srcDir/$t.parquet")
          .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      }

    val docs = spark.read.parquet(s"$srcDir/documents.parquet")
    copies(docs) { (df, i) =>
      val rot = alphabet.drop(i % alphabet.length) + alphabet.take(i % alphabet.length)
      df.select(
        (col("doc_id") + lit(i.toLong * 10000000L)).as("doc_id"),
        (if (i == 0) col("text") else translate(col("text"), alphabet, rot)).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.repartition(32).write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    val emb = spark.read.parquet(s"$srcDir/embeddings.parquet")
    copies(emb) { (df, i) =>
      // the source embeddings are UNIT-norm; per-dim amplitude 0.2 over 64
      // dims gives ‖noise‖² ≈ 64·0.2²·½ ≈ 1.3, so cosine between copies of
      // the same base vector ≈ 1/(1+1.3) ≈ 0.43 and vs the unperturbed
      // base ≈ 1/√2.3 ≈ 0.66 — both far below the 0.9 near-dup threshold.
      // The phase comes from xxhash64(vec_id, dim, copy) so noise is
      // UNCORRELATED across copies — sin(a + i) phases would correlate at
      // cos(i−j) (≈0.96 for copies 6 apart), planting bogus ≥0.9 pairs.
      val perturbed =
        if (i == 0) col("embedding")
        else transform(col("embedding"), (x, d) =>
          (x + sin(xxhash64(col("vec_id"), d, lit(i)).cast("double")) * lit(0.2f))
            .cast("float"))
      df.select(
        (col("vec_id") + lit(i.toLong * 10000000L)).as("vec_id"),
        perturbed.as("embedding"), col("label"))
    }.repartition(32).write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    // events.ts: TIMESTAMP(NANOS)-era testdata reads as a raw nanos long
    // (shift in nanos); timestamp[us]-era testdata reads as a timestamp
    // (shift as an interval). Tables.t normalizes either at query time.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = spark.read.parquet(s"$srcDir/events.parquet")
    val tsIsLong = ev.schema("ts").dataType == org.apache.spark.sql.types.LongType
    copies(ev) { (df, i) =>
      df.select(
        (col("event_id") + lit(i.toLong * 100000000L)).as("event_id"),
        (if (tsIsLong) col("ts") + lit(i.toLong * 3600L * 1000000000L)
         else col("ts") + expr(s"INTERVAL $i HOURS")).as("ts"),
        // shift must EXCEED the distinct-user range (1500 at sf0.1): a
        // smaller shift overlaps users across copies and doubles per-user
        // event density instead of growing the user population
        (col("user_id") + lit(i.toLong * 1000000L)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.repartition(32).write.mode("overwrite").parquet(s"$outDir/events.parquet")

    spark.stop()
  }
}
