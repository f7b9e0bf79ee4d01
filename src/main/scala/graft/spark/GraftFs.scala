package graft.spark

import java.nio.file.Files
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermission}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The one place graft obtains a Hadoop [[FileSystem]].
  *
  * Without libhadoop's native code, which stock Spark distributions do not
  * load, Hadoop's local file system applies the mode of every `create` and
  * `mkdirs` by forking `/bin/chmod` (`RawLocalFileSystem.setPermission`):
  * a few milliseconds per file or directory, against ~0.1 ms for the write
  * itself. Its `.crc` sidecars double the count, so a table commit forks
  * about eight times. For the stock local file system, [[get]] returns an
  * equivalent one whose raw layer sets a plain mode with one `chmod(2)`
  * through `java.nio`. Everything else stays Hadoop's: `ChecksumFileSystem`
  * still writes and verifies the `.crc` sidecars, and file bytes, modes and
  * I/O statistics are unchanged.
  *
  * "Stock" is the class `file:` resolves to without an `fs.file.impl`
  * setting: Hadoop's `LocalFileSystem`, or, when Spark ships with Hive,
  * Hive's `ProxyLocalFileSystem`, a `LocalFileSystem` whose `rename` refuses
  * to replace an existing file. The substitute keeps that rename rule.
  * Any other file system, and any configured `fs.file.impl`, passes through
  * untouched. `fs.file.impl` is deliberately not set globally: that would
  * also change Spark's own `file:` I/O, and through Hadoop's file system
  * cache the result would depend on which code touched `file:` first.
  */
object GraftFs {
  private val HiveProxyLocal = "org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem"

  def get(path: Path, conf: Configuration): FileSystem = {
    val fs = path.getFileSystem(conf)
    val cls = fs.getClass
    if (cls != classOf[LocalFileSystem] && cls.getName != HiveProxyLocal) fs
    else if (conf.get("fs.file.impl") != null) fs
    else local(cls, conf)
  }

  // One instance per stock class and umask setting, so modes stay what
  // Hadoop would apply (0644 files and 0755 dirs under the default umask).
  // Like Hadoop's own cache, an instance keeps the first conf it was built
  // with.
  private val locals = new java.util.concurrent.ConcurrentHashMap[String, LocalFileSystem]()

  private def local(cls: Class[_], conf: Configuration): LocalFileSystem =
    locals.computeIfAbsent(cls.getName + "|" + conf.get(FsPermission.UMASK_LABEL), _ => {
      val raw = new ForkFreeRawLocalFs
      val fs =
        if (cls == classOf[LocalFileSystem]) new LocalFileSystem(raw)
        else new LocalFileSystem(raw) {
          override def rename(src: Path, dst: Path): Boolean =
            !isFile(dst) && super.rename(src, dst)
        }
      fs.initialize(java.net.URI.create("file:///"), new Configuration(conf))
      fs
    })

  // PosixFilePermission's declaration order is owner rwx, group rwx,
  // others rwx: bit 8 - i of a mode
  private val permBits = PosixFilePermission.values()

  private[spark] def posixPermissions(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    var i = 0
    while (i < 9) {
      if ((mode & (1 << (8 - i))) != 0) set.add(permBits(i))
      i += 1
    }
    set
  }
}

/** Hadoop's raw local file system with a fork-free `setPermission` for
  * plain 9-bit modes. Sticky, setuid and setgid bits, and file stores
  * without POSIX attributes, take Hadoop's own path. */
private final class ForkFreeRawLocalFs extends RawLocalFileSystem {
  override def initialize(name: java.net.URI, conf: Configuration): Unit = {
    super.initialize(name, conf)
    // count bytes and ops under the stock raw class, as a stock
    // LocalFileSystem does
    statistics = FileSystem.getStatistics(name.getScheme, classOf[RawLocalFileSystem])
  }

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    val view =
      if ((mode & ~0x1ff) != 0) null
      else Files.getFileAttributeView(pathToFile(p).toPath, classOf[PosixFileAttributeView])
    if (view == null) super.setPermission(p, permission)
    else view.setPermissions(GraftFs.posixPermissions(mode))
  }
}
