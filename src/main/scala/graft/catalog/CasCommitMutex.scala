package graft.catalog

import java.nio.file.Path
import java.util.concurrent.ThreadLocalRandom

import scala.collection.concurrent.TrieMap

/** The object-store side of the [[CommitMutex]] seam, exactly as
  * COMMITS.md §"Object-store mapping" documents it: no lock at all —
  * an OPTIMISTIC loop whose commit point is a conditional put of the
  * pointer log. `withLock` runs `body`; when the body's conditional put
  * loses the race it throws [[CommitConflictException]], and the mutex
  * re-runs the body after bounded jittered backoff. This is sound
  * because of the contract documented on [[CommitMutex]]: every commit
  * path re-reads table state at the TOP of the body, so a retry
  * recomputes against the winner's log (Iceberg's commit loop). A lost
  * attempt's data/shard writes are orphan debris under a now-unused
  * snapshot prefix — `removeOrphanFiles` territory, never corruption.
  *
  * Conditional-put primitives per store (all public APIs):
  * S3 `PutObject` + `If-Match`/`If-None-Match: *`, GCS
  * `ifGenerationMatch`, Azure Blob `If-Match` — modeled here by
  * [[InMemoryObjectStore.putIf]].
  */
final class CasCommitMutex(maxRetries: Int = 50, baseBackoffMs: Long = 1)
    extends CommitMutex {
  override def withLock[T](key: String, lockPath: Path)(body: => T): T = {
    var attempt = 0
    while (true) {
      try return body
      catch {
        case _: CommitConflictException if attempt < maxRetries =>
          attempt += 1
          // jittered linear backoff: contention cost proportional to
          // actual conflicts (COMMITS.md "why not a lock service")
          Thread.sleep(ThreadLocalRandom.current().nextLong(
            baseBackoffMs, baseBackoffMs * (attempt + 1) + 1))
      }
    }
    throw new IllegalStateException("unreachable")
  }
}

/** Thrown by a conditional put that lost the commit race; the marker
  * [[CasCommitMutex]] catches to re-run the body. */
final class CommitConflictException(key: String, msg: String)
    extends RuntimeException(s"commit conflict on $key: $msg")

/** Where a table's POINTER LOG lives and what its commit point is — the
  * second half of the object-store seam (the [[CommitMutex]] decides how
  * bodies exclude/retry; this decides how the log read observes an etag
  * and how the log write is made conditional on it). The catalog's
  * `loadTable`/`writeEntries` are the only call sites.
  *
  * Contract: `read` returns the content WITH the etag the caller must
  * present to replace it; `writeIf(expected = None)` is create-if-absent
  * (If-None-Match:*), `Some(e)` is replace-iff-current-etag-is-e
  * (If-Match). A failed precondition throws [[CommitConflictException]] —
  * exactly what [[CasCommitMutex]] retries on. */
trait PointerLogStore {
  def read(key: String): Option[(String, Long)]
  def writeIf(key: String, content: String, expected: Option[Long]): Long
  def delete(key: String): Unit
  /** Move a key (table rename). Default: copy + delete. */
  def migrate(oldKey: String, newKey: String): Unit =
    read(oldKey).foreach { case (txt, _) =>
      writeIf(newKey, txt, None); delete(oldKey)
    }
  /** True when `writeIf` actually enforces its precondition — the signal
    * for the catalog to mint ATTEMPT-UNIQUE artifact names, because
    * optimistic commit bodies run concurrently and a losing attempt's
    * data dir / manifest shard must never collide with the winner's. */
  def conditional: Boolean
}

/** Default: the pointer log is a filesystem file, written temp-then-
  * atomic-rename. The etag precondition is NOT enforced — exclusion comes
  * from the serializing [[FileLockCommitMutex]], so behavior (and every
  * deterministic `data/s<id>` path) is unchanged from prior rounds. */
object FilePointerLogStore extends PointerLogStore {
  import java.nio.file.{Files, Paths}
  override def read(key: String): Option[(String, Long)] = {
    val p = Paths.get(key)
    if (Files.exists(p)) Some((Files.readString(p), 0L)) else None
  }
  override def writeIf(key: String, content: String, expected: Option[Long]): Long = {
    AtomicFile.write(Paths.get(key), content)
    0L
  }
  override def delete(key: String): Unit =
    Files.deleteIfExists(Paths.get(key))
  // the table rename moved the whole directory, log file included
  override def migrate(oldKey: String, newKey: String): Unit = ()
  override def conditional: Boolean = false
}

/** The pointer log as an object-store key with conditional-put commits:
  * `read` surfaces the store's etag, `writeIf` IS the commit point
  * (S3 If-Match / GCS ifGenerationMatch / Azure If-Match). Pair with
  * [[CasCommitMutex]] so a lost race re-runs the commit body against the
  * winner's log. Data files and manifest/delete shards stay write-once
  * plain objects (modeled here by the filesystem) — only the mutable
  * pointer needs CAS, which is precisely Iceberg's object-store commit
  * shape. */
final class ObjectStorePointerLogStore(store: InMemoryObjectStore)
    extends PointerLogStore {
  import java.nio.charset.StandardCharsets.UTF_8
  override def read(key: String): Option[(String, Long)] =
    store.get(key).map(o => (new String(o.bytes, UTF_8), o.etag))
  override def writeIf(key: String, content: String, expected: Option[Long]): Long =
    store.putIf(key, content.getBytes(UTF_8), expected)
  override def delete(key: String): Unit = store.deleteKey(key)
  override def conditional: Boolean = true
}

/** In-memory model of an S3-class object store: unversioned plain PUTs
  * for write-once data/shard objects, conditional puts (compare-and-swap
  * on a monotonically increasing etag) for the pointer log. The
  * concurrency semantics mirror what S3/GCS/Azure guarantee: `putIf` is
  * atomic with respect to concurrent `putIf`/`get` on the same key.
  *
  * Crash injection: `failAfterShardWrite` simulates a writer dying
  * between the shard write and the log publish (COMMITS.md crash
  * analysis step 3-4: nothing visible, orphan debris only). */
final class InMemoryObjectStore {
  final case class Obj(bytes: Array[Byte], etag: Long)
  private val objects = TrieMap.empty[String, Obj]
  private val putIfLock = new Object
  @volatile var conflicts: Long = 0L

  def get(key: String): Option[Obj] = objects.get(key)

  /** Plain PUT — write-once data files and metadata shards. */
  def put(key: String, bytes: Array[Byte]): Unit =
    objects.updateWith(key) {
      case Some(o) => Some(Obj(bytes, o.etag + 1))
      case None    => Some(Obj(bytes, 1L))
    }

  /** Conditional put: `ifEtag = None` means If-None-Match:* (create —
    * fails if the object exists); `Some(e)` means If-Match: e (replace —
    * fails unless the current etag is exactly e). Throws
    * [[CommitConflictException]] on precondition failure, exactly the
    * marker the CAS loop retries on. */
  def putIf(key: String, bytes: Array[Byte], ifEtag: Option[Long]): Long =
    putIfLock.synchronized {
      val current = objects.get(key)
      (ifEtag, current) match {
        case (None, None) =>
          objects.put(key, Obj(bytes, 1L)); 1L
        case (None, Some(_)) =>
          conflicts += 1
          throw new CommitConflictException(key, "already exists (If-None-Match: *)")
        case (Some(e), Some(o)) if o.etag == e =>
          objects.put(key, Obj(bytes, e + 1)); e + 1
        case (Some(e), cur) =>
          conflicts += 1
          throw new CommitConflictException(key,
            s"etag moved: expected $e, found ${cur.map(_.etag).getOrElse("absent")}")
      }
    }

  def deleteKey(key: String): Unit = objects.remove(key)
  def keys: Seq[String] = objects.keySet.toSeq.sorted
  def size: Int = objects.size
}
