package graft

import graft.operators.CacheRegistry
import org.apache.spark.storage.StorageLevel

/** Session-lifetime cache registry: track persists + registers, sweep
  * unpersists everything and empties the registry. */
class CacheRegistrySpec extends SparkSpec {

  test("track persists and sweep releases every registered dataset") {
    import spark.implicits._
    CacheRegistry.sweep() // isolate from other suites in the shared session
    val before = CacheRegistry.liveCount
    val a = CacheRegistry.track(Seq(1, 2, 3).toDF("x"))
    val b = CacheRegistry.track(Seq("a", "b").toDF("s"))
    assert(a.storageLevel != StorageLevel.NONE)
    assert(b.storageLevel != StorageLevel.NONE)
    assert(CacheRegistry.liveCount == before + 2)
    a.count(); b.count()
    CacheRegistry.sweep()
    assert(CacheRegistry.liveCount == 0)
    assert(a.storageLevel == StorageLevel.NONE)
    assert(b.storageLevel == StorageLevel.NONE)
    // swept datasets still compute (just uncached)
    assert(a.count() == 3)
  }

  test("tracking an already-cached plan registers it once and sweep still releases it") {
    CacheRegistry.sweep()
    val a = CacheRegistry.track(spark.range(10).selectExpr("id * 3 AS x"))
    val b = CacheRegistry.track(spark.range(10).selectExpr("id * 3 AS x"))
    assert(CacheRegistry.liveCount == 1)
    assert(b.storageLevel != StorageLevel.NONE)
    assert(b.count() == 10)
    CacheRegistry.sweep()
    assert(CacheRegistry.liveCount == 0)
    assert(a.storageLevel == StorageLevel.NONE)
    assert(b.storageLevel == StorageLevel.NONE)
  }

  test("operators register their session-lifetime caches with the registry") {
    CacheRegistry.sweep()
    import spark.implicits._
    val docs = Seq((1L, "aa bb cc dd ee"), (2L, "aa bb cc dd ee"), (3L, "zz yy xx ww vv"))
      .toDF("doc_id", "text")
    val out = graft.operators.Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.8)
    out.count()
    assert(CacheRegistry.liveCount >= 1, "minhashNearDups must register its shingle cache")
    CacheRegistry.sweep()
    assert(CacheRegistry.liveCount == 0)
  }
}
