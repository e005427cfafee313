package graft.catalog

/** Where small derived ARTIFACTS (content-addressed sidecars such as IVF
  * centroid sets) live — the artifact sibling of [[PointerLogStore]].
  * Unlike the pointer log, sidecars need no CAS: names embed a content
  * identity, so concurrent writers of the same name write identical
  * bytes and last-writer-wins is safe. The contract is best-effort on
  * BOTH sides — a missing, unreadable, or corrupt sidecar means
  * "recompute", never "fail the query", and a write failure (read-only
  * deployment) is swallowed by callers. */
trait SidecarStore {
  /** Content of the named sidecar, if present and readable. */
  def read(name: String): Option[String]
  /** Durable best-effort write of a content-addressed artifact. */
  def write(name: String, content: String): Unit
}

/** Filesystem deployment: one file per sidecar under a directory,
  * written through [[AtomicFile]] so readers never observe a torn
  * sidecar (same discipline as [[FilePointerLogStore]]). */
final class FileSidecarStore(dir: java.nio.file.Path) extends SidecarStore {
  import java.nio.file.Files
  override def read(name: String): Option[String] = {
    val p = dir.resolve(name)
    if (Files.exists(p)) Some(Files.readString(p)) else None
  }
  override def write(name: String, content: String): Unit =
    AtomicFile.write(dir.resolve(name), content)
}

/** Temp-then-atomic-rename file writes: readers never observe a torn
  * file, and a crash mid-write leaves the previous content in place. The
  * temp name is unique per write, so concurrent writers of one path never
  * share a temp file — the last rename wins. */
object AtomicFile {
  def write(p: java.nio.file.Path, content: String): Unit = {
    import java.nio.file.{Files, StandardCopyOption}
    Files.createDirectories(p.getParent)
    val tmp = p.resolveSibling(
      p.getFileName.toString + s".tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    Files.writeString(tmp, content)
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }
}

/** Object-store deployment: sidecars are plain write-once objects under
  * a prefix of the SAME store that holds the pointer log — on the
  * [[ObjectStorePointerLogStore]] shape the warehouse IS the store and
  * no shared filesystem exists, so artifact persistence must ride the
  * store too. Plain (unconditional) puts are correct here by the
  * content-addressing argument above; only the mutable pointer log ever
  * needs conditional puts. */
final class ObjectSidecarStore(store: InMemoryObjectStore,
    prefix: String = "sidecars/") extends SidecarStore {
  import java.nio.charset.StandardCharsets.UTF_8
  override def read(name: String): Option[String] =
    store.get(prefix + name).map(o => new String(o.bytes, UTF_8))
  override def write(name: String, content: String): Unit =
    store.put(prefix + name, content.getBytes(UTF_8))
}
