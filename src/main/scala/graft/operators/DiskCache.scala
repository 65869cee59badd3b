package graft.operators

/** Atomic ensure-once publication for the on-disk caches (cluster labels,
  * minhash band index, IVF corpus index, incremental agg state).
  *
  * The round-4 pattern — `if (!_SUCCESS.exists()) write.mode("overwrite")
  * .parquet(path)` — is racy under two concurrent JVMs on the same sfDir
  * (e.g. an overlapping Bench and Verify): the second writer's overwrite
  * DELETES the first's completed snapshot mid-read. Here every builder
  * writes to its own process-unique temp dir and publishes with one atomic
  * directory rename; the losing racer simply discards its temp build and
  * reads the winner's snapshot. Readers therefore only ever observe absent
  * or fully-complete cache dirs, never partial ones.
  */
object DiskCache {

  /** Cache root for every on-disk index / state snapshot. Configurable
    * (system property `graft.cache.root`, else env `GRAFT_CACHE_ROOT`)
    * because a real cluster needs these on shared storage every driver can
    * reach — the local default is the build's `target/`. */
  def root: String =
    sys.props.get("graft.cache.root")
      .orElse(sys.env.get("GRAFT_CACHE_ROOT"))
      .getOrElse("target")

  /** The ONE cache-key scheme for every index (minhash / IVF / bm25 /
    * sparse-cosine / incremental agg state): `root/prefix_<fingerprint>`.
    * `prefix` carries the operator's corpus-definition version (`_v1` —
    * bump on definition change); the fingerprint carries the data identity. */
  def keyedPath(prefix: String, dataPaths: String*): String =
    s"$root/${prefix}_${fingerprint(dataPaths: _*)}"

  /** Content-identity fingerprint of dataset paths (plain files OR
    * directory-shaped parquet datasets). Recursively folds every file's
    * (relative path, length, mtime, tail-64-byte hash) in sorted order —
    * unlike `File.length()` on a DIRECTORY (a filesystem-dependent entry
    * count), this changes when any part file is added, removed, resized or
    * rewritten. The tail bytes cover parquet's footer metadata, closing the
    * same-size-rewrite-within-mtime-granularity hole a pure (length, mtime)
    * key has. Cost: one directory walk + 64 bytes per file — O(files),
    * never O(data). */
  def fingerprint(dataPaths: String*): String = {
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    def walk(f: java.io.File, rel: String): Unit =
      if (f.isDirectory)
        Option(f.listFiles()).foreach(_.sortBy(_.getName)
          .foreach(c => walk(c, rel + "/" + c.getName)))
      else entries += s"$rel|${f.length}|${f.lastModified}|${tailHash(f)}"
    dataPaths.foreach { p =>
      val f = new java.io.File(p)
      // a mistyped/missing dataset must fail HERE, loudly — otherwise it
      // fingerprints to a stable empty key and `ensure` builds (and forever
      // serves) an index over an empty corpus with no error surfaced.
      require(f.exists(), s"DiskCache.fingerprint: data path does not exist: $p")
      walk(f, p)
    }
    java.lang.Long.toHexString(
      scala.util.hashing.MurmurHash3.orderedHash(entries).toLong & 0xffffffffL)
  }

  private def tailHash(f: java.io.File): Int =
    if (!f.isFile || f.length == 0) 0
    else {
      val raf = new java.io.RandomAccessFile(f, "r")
      try {
        val n = math.min(64L, raf.length).toInt
        raf.seek(raf.length - n)
        val buf = new Array[Byte](n)
        raf.readFully(buf)
        java.util.Arrays.hashCode(buf)
      } finally raf.close()
    }

  /** True iff [[root]] holds at least one published entry: a keyed
    * `<prefix>_v<N>_<hex>` dir with a `_SUCCESS` marker in it or in one of
    * its subdirs. Entries publish by atomic rename, so a marker means the
    * entry is complete; temp and stale siblings never match the name. */
  def hasCompleteEntry: Boolean = {
    def dirs(f: java.io.File) = Option(f.listFiles()).toSeq.flatten.filter(_.isDirectory)
    dirs(new java.io.File(root)).filter(_.getName.matches(".*_v\\d+_[0-9a-f]+"))
      .exists(e => (e +: dirs(e)).exists(d => new java.io.File(d, "_SUCCESS").exists()))
  }

  /** True iff `path` holds a completed artifact: every relative `marker`
    * (e.g. "_SUCCESS", "bands/_SUCCESS") exists under it. */
  def complete(path: String, markers: Seq[String]): Boolean =
    markers.forall(m => new java.io.File(new java.io.File(path), m).exists())

  /** Run `build` against a temp sibling of `path` and atomically rename the
    * result into place, unless `path` is already complete. `build` receives
    * the temp path and must leave a fully-written artifact there (including
    * the marker files — Spark's parquet committer writes _SUCCESS). */
  def ensure(path: String, markers: Seq[String] = Seq("_SUCCESS"))
            (build: String => Unit): Unit = {
    if (complete(path, markers)) return
    val dest = new java.io.File(path)
    Option(dest.getParentFile).foreach(_.mkdirs())
    val unique = s"${ProcessHandle.current().pid()}-${System.nanoTime()}"
    val tmp = new java.io.File(path + ".tmp-" + unique)
    var published = false
    try {
      build(tmp.getPath)
      try {
        // a dest left behind by a CRASHED pre-rename writer (exists but
        // incomplete) blocks the rename. Never delete it in place — a
        // concurrent winner may publish between our completeness check and
        // the delete, and deleting then would yank a live snapshot from
        // under readers. Instead move it ASIDE with a rename: even if the
        // aside victim turns out to be a winner's complete snapshot, our own
        // complete build replaces it atomically right after, so readers only
        // ever observe absent or fully-complete dirs (open file handles
        // under the moved dir stay valid on POSIX).
        if (dest.exists() && !complete(path, markers)) {
          val aside = new java.io.File(path + ".stale-" + unique)
          if (dest.renameTo(aside)) deleteRecursively(aside)
          // renameTo == false: either a winner published concurrently (the
          // re-check sees a complete dest — leave it; the ATOMIC_MOVE below
          // throws and the catch serves the winner), or the rename itself
          // failed on a still-incomplete leftover — then deleting in place
          // is the only remaining recovery, and can no longer yank a live
          // snapshot because the dir is verifiably incomplete right now.
          else if (!complete(path, markers)) deleteRecursively(dest)
        }
        java.nio.file.Files.move(tmp.toPath, dest.toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        published = true
      } catch {
        case _: java.nio.file.FileSystemException if complete(path, markers) =>
          () // lost the race; winner's snapshot serves; tmp swept below
      }
    } finally {
      // failed builds and lost races must not accumulate orphan temp dirs
      if (!published && tmp.exists()) deleteRecursively(tmp)
    }
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }
}
