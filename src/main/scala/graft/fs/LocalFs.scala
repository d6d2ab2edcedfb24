package graft.fs

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSDataInputStream, FileStatus, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `file:` file system without a process launch per file.
  *
  * Without the native `libhadoop`, `RawLocalFileSystem` runs `chmod` for
  * every file it creates with a permission (each sink data file and its
  * `.crc`) and `readlink` for every `getFileLinkStatus`, which a
  * FileContext rename asks for the source and the destination of the file
  * and of its `.crc`. Spark commits every offsets, commits, metadata-log
  * and state-store file by such a create and rename. [[Raw]] answers both
  * calls through `java.nio` and is otherwise stock; it is wrapped as the
  * checksummed `FileSystem` ([[Checksummed]]) and as the FileContext twin
  * ([[Context]]), so `.crc` files are written as before, and verified on
  * every read.
  */
object LocalFs {

  /** `RawLocalFileSystem` with the two launching calls done in-process. */
  final class Raw extends RawLocalFileSystem {

    /** rwx bits through `java.nio`. A sticky bit, or a file that already
      * carries setuid/setgid/sticky (whose keeping `chmod` decides), takes
      * the stock call. */
    override def setPermission(p: Path, perm: FsPermission): Unit = {
      val file = pathToFile(p).toPath
      val mode = Files.getAttribute(file, "unix:mode").asInstanceOf[Int]
      if (perm.getStickyBit || (mode & 0xe00) != 0) super.setPermission(p, perm) // 0xe00 = 07000
      else {
        val bits = PosixFilePermission.values // owner rwx, group rwx, others rwx: 0400 >> i
        Files.setPosixFilePermissions(file,
          bits.indices.filter(i => (perm.toShort & (0x100 >> i)) != 0).map(bits(_)).toSet.asJava)
      }
    }

    /** The stock answer without `readlink`: a path that is not a symlink
      * gets its (lazy) `getFileStatus`, a symlink the stock call. */
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** The `fs.file.impl` class: checksummed [[Raw]]. `rename` refuses to
    * replace an existing file, like HDFS and like the
    * `ProxyLocalFileSystem` that Spark's Hive jars register for `file:`. */
  final class Checksummed extends LocalFileSystem(new Raw) {
    override def rename(src: Path, dst: Path): Boolean =
      !isFile(dst) && super.rename(src, dst)
  }

  /** The `fs.AbstractFileSystem.file.impl` class: Hadoop's
    * `local.LocalFs` (`ChecksumFs` over `RawLocalFs`) over [[Raw]], whose
    * one-argument `open` verifies the `.crc` too. Hadoop's `FilterFs`
    * hands that call straight to the raw file system, and Spark reads
    * every offsets, commits, metadata-log and state-store entry through
    * it, so a corrupted entry would read back silently. */
  final class Context(uri: URI, conf: Configuration) extends ChecksumFs(new Delegate(uri, conf)) {
    override def open(f: Path): FSDataInputStream = open(f, getServerDefaults(f).getFileBufferSize)
  }

  /** `RawLocalFs` over [[Raw]]: its server defaults set the `.crc` chunk
    * size and type, so the checksum files are byte-identical. */
  private final class Delegate(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new Raw, conf, "file", false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  /** The Hadoop keys that install it (`graft.SparkEntry.session` and
    * `install` set them). Spark copies session conf into every
    * `sessionState.newHadoopConf()`, the conf of checkpoint managers and
    * file writers alike. The `file:` FileSystem is cached per scheme before
    * any session conf is read, so the cache is turned off for it: each
    * `getFileSystem` builds a new (cheap, stateless) instance, and an
    * uncached instance's `deleteOnExit` list is not processed at shutdown
    * (Spark calls it only for Hive staging directories). */
  val conf: Map[String, String] = Map(
    "fs.file.impl" -> classOf[Checksummed].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[Context].getName,
    "fs.file.impl.disable.cache" -> "true")
}
