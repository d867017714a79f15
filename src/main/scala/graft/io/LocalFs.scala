package graft.io

import java.nio.file.Files
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermission}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local file system, setting file modes in-process.
  *
  * Without Hadoop's native library (Spark ships none) the stock
  * `RawLocalFileSystem.setPermission` runs `chmod` in a new process, and
  * it is called for every file and directory the file system creates:
  * each Parquet part and committer directory, each table-log entry,
  * HDF5 export and streaming checkpoint file. Here the nine `rwx` bits
  * go through `java.nio` instead. A mode with any higher bit (sticky,
  * setuid, setgid) and a file system without a POSIX view still take
  * the stock path, so no bit is dropped. Checksums, `.crc` siblings,
  * umask handling and every other method are Hadoop's own.
  *
  * `file:` paths resolve to this class through `fs.file.impl`: in the
  * session (`graft.Sessions`) and in [[LocalFs.conf]].
  */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  private final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort
      val view = Files.getFileAttributeView(pathToFile(p).toPath,
        classOf[PosixFileAttributeView])
      if ((mode & ~0x1ff) != 0 || view == null)
        super.setPermission(p, permission)
      else view.setPermissions(posix(mode))
    }
  }

  // owner, group, others × read, write, execute: bit 0400 first
  private val Bits = PosixFilePermission.values.toSeq

  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    Bits.zipWithIndex.foreach { case (b, i) =>
      if ((mode & (0x100 >> i)) != 0) s.add(b)
    }
    s
  }

  /** One shared Hadoop conf for graft's lookups made without a session
    * (the table log, annotate, sniffing). It resolves `file:` to
    * [[LocalFs]] like the session does. Hadoop caches one FileSystem
    * per scheme and user, whatever the conf, so the first lookup in a
    * JVM picks the class for all later ones; with both confs agreeing,
    * the order does not matter. It is also parsed once: each
    * `new Configuration()` re-reads Hadoop's default XML resources.
    */
  lazy val conf: Configuration = {
    val c = new Configuration()
    c.set("fs.file.impl", classOf[LocalFs].getName)
    c
  }
}
