package graft

import graft.sources.LocalFs

/** Fingerprint-keyed local directories for fit-once / serve-forever
  * artifacts (the persisted IVF-PQ ANN index, Louvain level-1 labels).
  *
  * The key is an md5 over the source parquet's (path, size, mtime) file
  * list, so a REGENERATED fixture refits instead of serving stale
  * artifacts, while repeated queries over the same fixture share one
  * training run — the FAISS fit-once discipline applied to every
  * expensive deterministic fit in the engine. On a cluster the same
  * pattern keys the index by the source table's snapshot/version id and
  * persists to shared storage; the tmpdir spelling is the local-mode
  * stand-in.
  */
object ArtifactCache {

  /** Directory for artifacts derived from `fixtureDir/table.parquet`,
    * named `graft_<tag>_<fingerprint><suffix>` under the JVM tmpdir. */
  def dir(fixtureDir: String, table: String, tag: String,
      suffix: String = ""): java.nio.file.Path = {
    val src = java.nio.file.Paths.get(fixtureDir, s"$table.parquet")
    val files: Seq[java.nio.file.Path] =
      if (java.nio.file.Files.isDirectory(src)) {
        val s = java.nio.file.Files.list(src)
        try { import scala.jdk.CollectionConverters._; s.iterator.asScala.toSeq }
        finally s.close()
      } else Seq(src)
    val fp = files.sortBy(_.toString).map { f =>
      s"$f:${java.nio.file.Files.size(f)}:" +
        java.nio.file.Files.getLastModifiedTime(f).toMillis
    }.mkString("|")
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(fp.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), s"graft_${tag}_$h$suffix")
  }

  /** True iff the parquet dataset at `dir(/part)` finished writing. */
  def ready(dir: java.nio.file.Path, part: String = ""): Boolean = {
    val base = if (part.isEmpty) dir else dir.resolve(part)
    java.nio.file.Files.exists(base.resolve("_SUCCESS"))
  }

  // Cold fits paid since JVM start — Bench reports this in its contract
  // line (`cold_fits`) so a window records whether cached queries served
  // warm artifacts or paid their training stage (the cold/warm
  // distinction the BENCH_GRAPH_* cold-window protocol exists for).
  private val coldFitCounter = new java.util.concurrent.atomic.AtomicLong(0)
  def coldFits: Long = coldFitCounter.get

  // One lock per target dir: serializes the check→clear→move sequence so
  // two in-JVM fitters can never interleave between the ready() re-check
  // and the rename (the TOCTOU where a loser deletes a winner's complete
  // artifact). Keyed by path string; entries are tiny and bounded by the
  // number of distinct artifacts a JVM ever fits, so no eviction needed.
  private val dirLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Fit-and-publish atomically: `fit` writes the artifact into a fresh
    * process-unique tmp sibling, which is then renamed into place in one
    * atomic filesystem move — a reader can NEVER observe a half-written
    * `dir`. Within this JVM the whole check→clear→move sequence is
    * serialized per target path (`dirLocks`), so once `ready(dir)` has
    * returned true the artifact is never deleted or replaced by any
    * fitter in this process — the only fitters local mode has. Concurrent
    * fitters race safely: after its fit, each re-checks `ready(dir,
    * part)` under the lock — if a rival already published a complete
    * artifact, the loser drops its tmp and serves the winner's
    * (equivalent by determinism of every fit this cache holds). A
    * pre-existing dir that FAILS `ready()` (a torn write from a crashed
    * pre-atomic writer) is renamed ASIDE atomically before being cleared,
    * so the `dir` path itself only ever transitions via atomic renames —
    * never through a visible half-deleted state; and if the aside turns
    * out complete (a cross-process rival renamed in between our re-check
    * and the move-aside), it is renamed straight back and served.
    * Cross-PROCESS fitters are not serialized by the JVM lock — they keep
    * the catch-and-recheck fallback below, and a cross-process reader can
    * in principle observe the brief aside/back rename pair; in-process
    * readers (all readers in local mode) cannot. On a cluster the same
    * shape is the job-commit protocol against shared storage; this is its
    * local-filesystem spelling. Counts one cold fit per training run
    * actually executed. `part` names the readiness sub-dir for multi-part
    * artifacts (same meaning as in `ready`). */
  def publish(dir: java.nio.file.Path, part: String = "")
      (fit: java.nio.file.Path => Unit): Unit = {
    val tmp = dir.resolveSibling(dir.getFileName.toString + ".tmp." +
      ProcessHandle.current.pid + "." + java.util.UUID.randomUUID)
    fit(tmp)
    coldFitCounter.incrementAndGet()
    val lock = dirLocks.computeIfAbsent(dir.toString, _ => new Object)
    lock.synchronized {
      if (ready(dir, part)) {
        // lost the race cleanly: a rival's complete artifact is in place
        LocalFs.deleteRecursively(tmp)
      } else {
        try {
          var lostToRival = false
          if (java.nio.file.Files.exists(dir)) {
            // torn dir: move it aside atomically, THEN delete the aside —
            // the dir path never passes through a partially-deleted state
            val aside = dir.resolveSibling(dir.getFileName.toString +
              ".torn." + ProcessHandle.current.pid + "." +
              java.util.UUID.randomUUID)
            java.nio.file.Files.move(dir, aside,
              java.nio.file.StandardCopyOption.ATOMIC_MOVE)
            if (ready(aside, part)) {
              // a cross-process rival published between our re-check and
              // the move-aside: restore the complete artifact and serve it
              java.nio.file.Files.move(aside, dir,
                java.nio.file.StandardCopyOption.ATOMIC_MOVE)
              LocalFs.deleteRecursively(tmp)
              lostToRival = true
            } else LocalFs.deleteRecursively(aside)
          }
          if (!lostToRival) java.nio.file.Files.move(tmp, dir,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        } catch {
          // a cross-process fitter renamed first between our check and
          // move — rename is atomic, so if the destination is now
          // complete the rival's artifact serves; anything else is a real
          // failure (non-atomic filesystem, half-deleted destination) and
          // must surface rather than silently dropping the fitted artifact
          case e: java.nio.file.FileSystemException =>
            LocalFs.deleteRecursively(tmp)
            if (!ready(dir, part)) throw e
        }
      }
    }
  }
}
