package graft.fs

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FileSystem, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw `file:` filesystem without its shell fallbacks. Without
  * `libhadoop`, `RawLocalFileSystem` forks a `chmod` for every file and
  * directory it creates (`setPermission`, which `mkOneDirWithMode` and
  * every create funnel into) and a `readlink` for every
  * `getFileLinkStatus`, which each `FileContext` rename calls twice.
  * This subclass sets the same mode bits through
  * `Files.setPosixFilePermissions` and answers link status from
  * `Files.isSymbolicLink`; symlinks and sticky-bit modes, which NIO
  * cannot express, still take Hadoop's own path. Everything else is
  * Hadoop's. */
class GraftRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      GraftRawLocalFileSystem.posix(permission))

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object GraftRawLocalFileSystem {
  // PosixFilePermission declares owner r/w/x, group r/w/x, others r/w/x:
  // the nine mode bits from 0400 down to 0001
  private val Bits = PosixFilePermission.values().toSeq.zipWithIndex
    .map { case (p, i) => p -> (0x100 >> i) }

  private def posix(permission: FsPermission)
      : java.util.Set[PosixFilePermission] = {
    val mode = permission.toShort.toInt
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    Bits.foreach { case (p, bit) => if ((mode & bit) != 0) set.add(p) }
    set
  }
}

/** The `FileSystem` for `file:` (`fs.file.impl`): Hadoop's
  * `LocalFileSystem`, so `.crc` checksums are written and verified, over
  * the fork-free raw filesystem. */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

/** The `AbstractFileSystem` for `file:` (`fs.AbstractFileSystem.file.impl`)
  * that `FileContext` — the streaming checkpoint's offset and commit logs —
  * resolves: Hadoop's `LocalFs` shape, a `ChecksumFs` over a
  * `DelegateToFileSystem`, with the fork-free raw filesystem inside.
  * `AbstractFileSystem.createFileSystem` instantiates it through this
  * (URI, Configuration) constructor. */
class GraftLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new GraftRawLocalFs(conf))

private class GraftRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
      new GraftRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme,
      false) {
  // as Hadoop's RawLocalFs
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

object GraftLocalFileSystem {
  private val Impls = Seq(
    "fs.file.impl" -> classOf[GraftLocalFileSystem].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[GraftLocalFs].getName)

  /** Points each `file:` implementation key of `conf` at the fork-free
    * filesystem unless something other than Hadoop's `core-default.xml`
    * set it: a user-set implementation wins. Hadoop caches one
    * `FileSystem` per scheme and user, whatever the configuration, so this
    * takes effect only for a JVM that has not resolved `file:` yet. When
    * the JVM already has — Spark's event log on a `file:` dir resolves it
    * at context start, before any session exists — the cached class stays
    * and one WARN names the settings that take effect at context start.
    * Cached filesystems are never closed or evicted: other holders may
    * use them. */
  def install(conf: Configuration): Unit = {
    Impls.foreach { case (key, cls) =>
      val sources = conf.getPropertySources(key)
      if (sources == null || sources.forall(_ == "core-default.xml"))
        conf.set(key, cls)
    }
    val fs = FileSystem.get(URI.create("file:///"), conf)
    if (conf.get("fs.file.impl") == classOf[GraftLocalFileSystem].getName &&
        !fs.isInstanceOf[GraftLocalFileSystem])
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"file: resolves to the cached ${fs.getClass.getName}, not " +
        s"${classOf[GraftLocalFileSystem].getName}: the JVM resolved file: " +
        "before this session (e.g. Spark's event log on a file: dir), so " +
        "local writes fork a chmod per file. Set " +
        Impls.map { case (k, c) => s"spark.hadoop.$k=$c" }.mkString(" and ") +
        " when the SparkContext is created; they take effect at context start.")
  }
}
