package graft

import graft.operators.DiskCache
import org.scalatest.funsuite.AnyFunSuite

/** Contract tests for the atomic on-disk cache: ensure-once build, crashed
  * -leftover recovery, failed-build temp cleanup, two-thread racing
  * builders, and the unified data fingerprint (stale-index invalidation on
  * in-place data change — including a same-size rewrite, the hole a pure
  * (length, mtime) key has). No Spark needed: DiskCache is plain-JVM. */
class DiskCacheSpec extends AnyFunSuite {

  private def freshDir(): java.io.File = {
    val d = java.nio.file.Files.createTempDirectory("diskcache-spec-").toFile
    d.deleteOnExit()
    d
  }

  private def write(f: java.io.File, bytes: Array[Byte]): Unit = {
    Option(f.getParentFile).foreach(_.mkdirs())
    java.nio.file.Files.write(f.toPath, bytes): Unit
  }

  private def read(f: java.io.File): String =
    new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")

  test("ensure: builds once, complete snapshot is reused") {
    val root = freshDir()
    val dest = new java.io.File(root, "idx").getPath
    var builds = 0
    def build(tmp: String): Unit = {
      builds += 1
      write(new java.io.File(tmp, "data"), "v1".getBytes)
      write(new java.io.File(tmp, "_SUCCESS"), Array.emptyByteArray)
    }
    DiskCache.ensure(dest)(build)
    DiskCache.ensure(dest)(build)
    assert(builds == 1)
    assert(read(new java.io.File(dest, "data")) == "v1")
  }

  test("ensure: crashed-writer leftover (incomplete dest) is cleared and rebuilt") {
    val root = freshDir()
    val dest = new java.io.File(root, "idx")
    // simulate a writer that died before publishing markers
    write(new java.io.File(dest, "data"), "stale-partial".getBytes)
    assert(!DiskCache.complete(dest.getPath, Seq("_SUCCESS")))
    DiskCache.ensure(dest.getPath) { tmp =>
      write(new java.io.File(tmp, "data"), "fresh".getBytes)
      write(new java.io.File(tmp, "_SUCCESS"), Array.emptyByteArray)
    }
    assert(DiskCache.complete(dest.getPath, Seq("_SUCCESS")))
    assert(read(new java.io.File(dest, "data")) == "fresh")
  }

  test("ensure: failed build leaves no orphan temp dirs") {
    val root = freshDir()
    val dest = new java.io.File(root, "idx").getPath
    intercept[RuntimeException] {
      DiskCache.ensure(dest) { tmp =>
        write(new java.io.File(tmp, "partial"), "x".getBytes)
        throw new RuntimeException("build blew up")
      }
    }
    val leftovers = Option(new java.io.File(root.getPath).listFiles()).get
    assert(leftovers.isEmpty, s"orphans: ${leftovers.map(_.getName).mkString(",")}")
    // and a later successful build still works
    DiskCache.ensure(dest) { tmp =>
      write(new java.io.File(tmp, "_SUCCESS"), Array.emptyByteArray)
    }
    assert(DiskCache.complete(dest, Seq("_SUCCESS")))
  }

  test("ensure: two racing builders — winner's snapshot served, loser's temp discarded") {
    val root = freshDir()
    val dest = new java.io.File(root, "idx").getPath
    val gate = new java.util.concurrent.CountDownLatch(2)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def racer(tag: String): Thread = new Thread(() => {
      try {
        DiskCache.ensure(dest) { tmp =>
          gate.countDown()
          gate.await() // both builders INSIDE build() simultaneously
          write(new java.io.File(tmp, "data"), tag.getBytes)
          write(new java.io.File(tmp, "_SUCCESS"), Array.emptyByteArray)
        }
      } catch { case t: Throwable => errors.add(t): Unit }
    })
    val a = racer("A"); val b = racer("B")
    a.start(); b.start(); a.join(30000); b.join(30000)
    assert(errors.isEmpty, s"racer threw: ${errors.peek()}")
    // exactly one complete snapshot at dest, holding one full build's output
    assert(DiskCache.complete(dest, Seq("_SUCCESS")))
    val got = read(new java.io.File(dest, "data"))
    assert(got == "A" || got == "B")
    // loser's temp (and any stale-aside) dirs are swept
    val leftovers = Option(new java.io.File(root.getPath).listFiles()).get
      .filterNot(_.getName == "idx")
    assert(leftovers.isEmpty, s"orphans: ${leftovers.map(_.getName).mkString(",")}")
  }

  test("fingerprint: stable when unchanged, differs across content and across paths") {
    val d1 = freshDir(); val d2 = freshDir()
    write(new java.io.File(d1, "part-0.parquet"), "aaaa".getBytes)
    write(new java.io.File(d2, "part-0.parquet"), "bbbb".getBytes)
    val f1a = DiskCache.fingerprint(d1.getPath)
    val f1b = DiskCache.fingerprint(d1.getPath)
    assert(f1a == f1b)
    assert(f1a != DiskCache.fingerprint(d2.getPath))
  }

  test("fingerprint: in-place SAME-SIZE rewrite of one part file invalidates the key") {
    val d = freshDir()
    val part = new java.io.File(d, "part-0.parquet")
    write(part, "content-A".getBytes)
    write(new java.io.File(d, "part-1.parquet"), "other".getBytes)
    val before = DiskCache.fingerprint(d.getPath)
    // same length, same path; mtime may or may not tick within fs
    // granularity — the tail-byte hash must catch it regardless
    part.setLastModified(part.lastModified())
    write(part, "content-B".getBytes)
    part.setLastModified(part.lastModified() - (part.lastModified() % 1000)): Unit
    assert(DiskCache.fingerprint(d.getPath) != before)
  }

  test("fingerprint: adding / removing a part file invalidates the key") {
    val d = freshDir()
    write(new java.io.File(d, "part-0.parquet"), "aaaa".getBytes)
    val one = DiskCache.fingerprint(d.getPath)
    val extra = new java.io.File(d, "part-1.parquet")
    write(extra, "bbbb".getBytes)
    val two = DiskCache.fingerprint(d.getPath)
    assert(one != two)
    extra.delete()
    assert(DiskCache.fingerprint(d.getPath) == one)
  }

  test("fingerprint: nonexistent data path fails loudly instead of keying an empty corpus") {
    val d = freshDir()
    val missing = new java.io.File(d, "no-such-dataset.parquet")
    val ex = intercept[IllegalArgumentException] {
      DiskCache.fingerprint(missing.getPath)
    }
    assert(ex.getMessage.contains("no-such-dataset.parquet"))
    // and via keyedPath, the production entry point
    intercept[IllegalArgumentException] {
      DiskCache.keyedPath("spec_missing_v1", missing.getPath)
    }: Unit
  }

  test("keyedPath: stale-index invalidation end to end (data change => new path => rebuild)") {
    val data = freshDir()
    val src = new java.io.File(data, "docs.parquet")
    write(src, "corpus-v1".getBytes)
    val cacheRoot = freshDir()
    val prev = sys.props.get("graft.cache.root")
    sys.props("graft.cache.root") = cacheRoot.getPath
    try {
      var builds = 0
      def ensureIdx(): String = {
        val p = DiskCache.keyedPath("spec_idx_v1", src.getPath)
        DiskCache.ensure(p) { tmp =>
          builds += 1
          write(new java.io.File(tmp, "_SUCCESS"), Array.emptyByteArray)
        }
        p
      }
      val p1 = ensureIdx(); ensureIdx()
      assert(builds == 1) // warm reuse
      assert(p1.startsWith(cacheRoot.getPath)) // configurable root honored
      write(src, "corpus-v2".getBytes) // regenerate in place, same size? no — same path
      val p2 = ensureIdx()
      assert(p2 != p1, "regenerated data must map to a NEW cache path")
      assert(builds == 2, "stale index must not be served after data change")
    } finally {
      prev match {
        case Some(v) => sys.props("graft.cache.root") = v
        case None    => sys.props.remove("graft.cache.root"): Unit
      }
    }
  }

  test("hasCompleteEntry: only a published keyed entry makes the root warm") {
    val cacheRoot = freshDir()
    val prev = sys.props.get("graft.cache.root")
    sys.props("graft.cache.root") = cacheRoot.getPath
    try {
      assert(!DiskCache.hasCompleteEntry, "empty root")
      write(new java.io.File(cacheRoot, "scala-2.13/_SUCCESS"), Array.emptyByteArray)
      write(new java.io.File(cacheRoot, "idx_v1_ab12.tmp-1-2/_SUCCESS"), Array.emptyByteArray)
      new java.io.File(cacheRoot, "dpp_v1_cd34/fact").mkdirs()
      assert(!DiskCache.hasCompleteEntry, "non-entry dirs, temp builds and unpublished parts")
      write(new java.io.File(cacheRoot, "dpp_v1_cd34/fact/_SUCCESS"), Array.emptyByteArray)
      assert(DiskCache.hasCompleteEntry, "marker one level down")
    } finally {
      prev match {
        case Some(v) => sys.props("graft.cache.root") = v
        case None    => sys.props.remove("graft.cache.root"): Unit
      }
    }
  }
}
