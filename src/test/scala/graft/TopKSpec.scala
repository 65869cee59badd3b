package graft

import graft.operators.TopK
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

class TopKSpec extends SparkSpec {

  import spark.implicits._

  // (key, score, id): key 1 holds a three-way score tie, key 2 only 2 rows
  private def rows = Seq(
    (1L, 0.9, 5L), (1L, 0.5, 3L), (1L, 0.5, 1L), (1L, 0.5, 2L), (1L, 0.1, 4L),
    (2L, 0.7, 9L), (2L, 0.7, 8L)).toDF("key", "score", "id")

  private def top(k: Int, partitions: Int): Seq[(Long, Long, Int)] = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", partitions.toString)
    try TopK.perKey(rows.repartition(3), col("key"))(k, col("score").desc, col("id"))
      .select("key", "id", "rank").as[(Long, Long, Int)].collect().toSeq.sorted
    finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("equal scores rank by the tie-break column, at 1 and 7 shuffle partitions") {
    val expected = Seq((1L, 5L, 1), (1L, 1L, 2), (1L, 2L, 3), (2L, 8L, 1), (2L, 9L, 2)).sorted
    assert(top(3, partitions = 1) == expected)
    assert(top(3, partitions = 7) == expected)
  }

  test("k larger than a group returns the whole group") {
    val got = top(10, partitions = 4)
    assert(got.count(_._1 == 1L) == 5 && got.count(_._1 == 2L) == 2)
    assert(got.filter(_._1 == 1L).map(_._2).sorted == Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("rank is IntegerType and starts at 1") {
    val out = TopK.perKey(rows, col("key"))(2, col("score").desc, col("id"))
    assert(out.schema("rank").dataType == IntegerType)
    val ranks = out.select("key", "rank").as[(Long, Int)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    assert(ranks == Map(1L -> Seq(1, 2), 2L -> Seq(1, 2)))
  }

  test("the rank filter plans as WindowGroupLimit") {
    val plan = TopK.perKey(rows, col("key"))(2, col("score").desc, col("id"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), "rank filter not pushed to WindowGroupLimit")
  }

  test("byCosine ranks by cosine desc then vec_id and keeps the named columns") {
    val q = Seq((7L, Seq(1f, 0f))).toDF("qid", "qe")
    // ids 1 and 3 tie at cos 1 (same direction), id 2 is orthogonal
    val corpus = Seq((3L, Seq(2f, 0f), "c"), (2L, Seq(0f, 1f), "b"),
      (1L, Seq(1f, 0f), "a"), (4L, Seq(1f, 1f), "d")).toDF("vec_id", "v", "tag")
    val out = TopK.byCosine(corpus.crossJoin(q).repartition(3), 3, "v", "tag")
    assert(out.columns.toSeq == Seq("qid", "vec_id", "tag", "cos", "rank"))
    val got = out.select("vec_id", "tag", "rank").as[(Long, String, Int)]
      .collect().sortBy(_._3).toSeq
    assert(got == Seq((1L, "a", 1), (3L, "c", 2), (4L, "d", 3)))
  }
}
