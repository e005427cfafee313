package graft.catalog

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The local file system graft's own Spark writes go through, under the
  * private scheme [[GraftLocalFileSystem.Scheme]]. It is Hadoop's
  * checksummed `LocalFileSystem` (same files, same `.crc` sidecars, same
  * modes) with one difference: without `libhadoop`, the stock raw file
  * system sets every created file's and directory's mode by spawning a
  * `chmod` process; this one sets it in-process.
  *
  * A private scheme rather than `fs.file.impl`: Hadoop caches file
  * systems by scheme, authority and user, so the stock instance a
  * session's first read cached would keep serving `file:`, and the
  * override would reach every `file:` user in the session. */
final class GraftLocalFileSystem extends LocalFileSystem(new GraftLocalFileSystem.Raw) {
  override def getScheme: String = GraftLocalFileSystem.Scheme
}

object GraftLocalFileSystem {
  val Scheme = "graftfile"
  private val Name = URI.create(s"$Scheme:///")

  /** `RawLocalFileSystem` whose `setPermission` is a POSIX attribute
    * write. Its constructor calls `getUri` before subclass fields exist,
    * so the URI and scheme are constants of the companion. */
  final class Raw extends RawLocalFileSystem {
    override def getUri: URI = Name
    override def getScheme: String = Scheme

    // Hadoop has applied the umask before it calls this; a mode with bits
    // past 0777 (sticky, setuid) or a non-POSIX store keeps the stock path
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else {
        val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        // PosixFilePermission is declared owner r/w/x, group r/w/x, others r/w/x
        PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
          if ((mode & (0x100 >> i)) != 0) perms.add(perm)
        }
        try { Files.setPosixFilePermissions(pathToFile(p).toPath, perms); () }
        catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
      }
    }
  }

  /** `dir` as the path of a Spark write: through [[GraftLocalFileSystem]],
    * which sets file modes without spawning a process. Reads stay on
    * plain paths. */
  def writeUri(dir: java.nio.file.Path): String =
    new Path(Scheme, null, dir.toAbsolutePath.toString).toString

  /** Registers the scheme on `conf`; a no-op once it is there. */
  def register(conf: Configuration): Unit = {
    val key = s"fs.$Scheme.impl"
    if (conf.get(key) == null) conf.set(key, classOf[GraftLocalFileSystem].getName)
  }
}
