package graft.catalog

import java.nio.file.{Files, Path}

/** The ONE seam between the snapshot commit protocol and the storage
  * system's concurrency control. Every table mutation in
  * [[SnapshotCatalog]] runs its read-modify-write cycle inside
  * `withLock` — swapping this implementation is how the catalog moves
  * from a POSIX filesystem to an object store without touching any
  * commit path (see COMMITS.md for the full protocol and the
  * conditional-put mapping).
  *
  * Implementation contracts an alternative may rely on:
  *   - every commit path LOADS table state (`loadTable`, `meta`)
  *     INSIDE `body`, never before it — so an optimistic
  *     implementation can simply re-run `body` after a conflict;
  *   - `body`'s only externally-visible effect is files written under
  *     the table directory plus one atomic publish of the pointer log
  *     (temp-then-rename today; a conditional put on S3-class stores),
  *     so a failed attempt leaves only orphans that
  *     `removeOrphanFiles` sweeps.
  */
trait CommitMutex {
  /** Run `body` with exclusive commit rights on the table identified by
    * `key` (the canonical lock-file path string). */
  def withLock[T](key: String, lockPath: Path)(body: => T): T
}

/** Default mutual exclusion: an OS file lock (`_snapshots/LOCK`) backed
  * by a JVM-wide monitor per lock path — real exclusion on one host or a
  * POSIX-locking shared filesystem, which is the library's deployment
  * shape (the reference migrates tables in a sequential per-table loop,
  * `/root/reference/5_migrate_tables_data.py:186-193`; single-writer
  * matches it). The JVM monitor exists because FileLock is held
  * per-PROCESS: a second acquire in the same JVM would throw
  * OverlappingFileLockException instead of waiting. */
object FileLockCommitMutex extends CommitMutex {
  /** JVM-wide per-lock-path monitors. */
  private val monitors = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  override def withLock[T](key: String, lockPath: Path)(body: => T): T = {
    Files.createDirectories(lockPath.getParent)
    val monitor = monitors.computeIfAbsent(key, _ => new Object)
    monitor.synchronized {
      val ch = java.nio.channels.FileChannel.open(lockPath,
        java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.WRITE)
      try {
        val lock = ch.lock()
        try body finally lock.release()
      } finally ch.close()
    }
  }
}
