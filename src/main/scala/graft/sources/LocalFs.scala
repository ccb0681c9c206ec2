package graft.sources

import java.io.{File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.{BasicFileAttributes, GroupPrincipal, PosixFilePermission, UserPrincipal}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FSDataInputStream, FsConstants, FsServerDefaults, FSLinkResolver, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** graft's local filesystem: Hadoop's `RawLocalFileSystem` with its
  * permission and status calls done through `java.nio` instead of a
  * shell process.
  *
  * Without `libhadoop` (the usual case for a pip- or tarball-installed
  * Spark) the stock class runs `chmod` after every create and `mkdir`
  * and `readlink` before every rename, and each fork costs tens of
  * milliseconds. Streaming checkpoints (offset and commit logs, state
  * store deltas and snapshots), `ManifestTable` leases and manifests
  * and parquet outputs all write through it, several small files per
  * micro-batch: on 4 cores one 100-byte atomic checkpoint file took
  * 27-29 ms stock and 0.8 ms here.
  *
  * Every answer equals the stock class's on the same path
  * (`LocalFsSpec` compares them field by field):
  *  - `setPermission` is `Files.setPosixFilePermissions`; a sticky bit
  *    goes to the stock shell `chmod`, since NIO's permission set
  *    cannot carry it.
  *  - `getFileStatus` reads one `BasicFileAttributes`; permission,
  *    owner and group load lazily on first use, as in the stock
  *    status, from one `unix:mode,owner,group` read through links (the
  *    stock class runs `ls -ld` on the canonical path), so listings
  *    that never ask for them pay nothing.
  *  - `getFileLinkStatus` reads the link with `Files.readSymbolicLink`.
  * It needs a POSIX default filesystem (NIO's `unix` attribute view),
  * which Linux, graft's one supported platform, has.
  *
  * One answer differs from stock on purpose: [[NioLocalFs]] verifies
  * the `.crc` sidecar on the one-argument `open(path)` too. Stock
  * `LocalFs` inherits `FilterFs.open(path)`, which reads the raw file
  * past the checksum checker, and that is the call Spark's checkpoint
  * file manager makes, so a corrupted offset log, commit log or state
  * file would be read back without an error.
  *
  * [[NioLocalFileSystem]] and [[NioLocalFs]] put it under Hadoop's two
  * APIs with `.crc` checksums kept; [[LocalFs.sparkConf]] registers
  * both for `file:`.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import LocalFs.posixPermissions

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, posixPermissions(permission))

  override def getFileStatus(f: Path): FileStatus = {
    val file = pathToFile(f)
    val attrs = try Files.readAttributes(file.toPath, classOf[BasicFileAttributes])
    catch {
      // the stock class asks `File.exists`, false on any failed stat
      case _: java.nio.file.FileSystemException =>
        throw new FileNotFoundException(s"File $f does not exist")
    }
    new NioFileStatus(attrs, getDefaultBlockSize(f),
      new Path(file.getPath).makeQualified(getUri, getWorkingDirectory))
  }

  override def listStatus(f: Path): Array[FileStatus] =
    // a directory's entries already come through getFileStatus
    if (pathToFile(f).isDirectory) super.listStatus(f)
    else Array(getFileStatus(f))

  /** The stock link status. Like the stock class, it reads the link at
    * `new File(f.toString)`, so a scheme-qualified path never reports a
    * link, and a path that is no link (or is gone by the time it is
    * read) has the empty target. */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val target = try Files.readSymbolicLink(new File(f.toString).toPath).toString
    catch { case _: IOException => "" }
    val fi = try {
      val fs = getFileStatus(f)
      if (target.isEmpty) fs
      else new FileStatus(fs.getLen, false, fs.getReplication, fs.getBlockSize,
        fs.getModificationTime, fs.getAccessTime, fs.getPermission, fs.getOwner,
        fs.getGroup, new Path(target), f)
    } catch {
      // a dangling link
      case _: FileNotFoundException if target.nonEmpty =>
        new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", new Path(target), f)
    }
    if (fi.isSymlink)
      fi.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, fi.getPath, fi.getSymlink))
    fi
  }
}

/** A stock-shaped local file status whose permission, owner and group
  * load on first use through NIO. Like the stock one, it is loaded
  * while its owner is empty, and keeps nothing but its fields, so a
  * deserialized copy loads from its path again. */
private final class NioFileStatus(attrs: BasicFileAttributes, blockSize: Long, path: Path)
    extends FileStatus(attrs.size, attrs.isDirectory, 1, blockSize,
      attrs.lastModifiedTime.toMillis, attrs.lastAccessTime.toMillis,
      null, null, null, path) {

  private def ensureLoaded(): Unit = if (super.getOwner.isEmpty) {
    try {
      val a = Files.readAttributes(new File(getPath.toUri).toPath, "unix:mode,owner,group")
      // rwx plus the sticky bit, as the stock parse of `ls -ld` reads
      // them (setuid/setgid show only through their x bits)
      setPermission(new FsPermission((a.get("mode").asInstanceOf[Int] & 0x3ff).toShort))
      setOwner(a.get("owner").asInstanceOf[UserPrincipal].getName)
      setGroup(a.get("group").asInstanceOf[GroupPrincipal].getName)
    } catch {
      // a path deleted since the status was taken fails too: the stock
      // `ls -ld` exits 2 for it, which the stock status also throws on
      case e: IOException =>
        throw new RuntimeException(s"Error while reading the permissions of $getPath", e)
    }
  }

  override def getPermission: FsPermission = { ensureLoaded(); super.getPermission }
  override def getOwner: String = { ensureLoaded(); super.getOwner }
  override def getGroup: String = { ensureLoaded(); super.getGroup }
  override def write(out: java.io.DataOutput): Unit = { ensureLoaded(); super.write(out) }
}

/** `FileSystem` API: the checksummed `LocalFileSystem` over
  * [[NioRawLocalFileSystem]], so `FileSystem.getLocal`'s cast holds. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `FileContext` API: what Hadoop's `RawLocalFs` is, over
  * [[NioRawLocalFileSystem]]. */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  @deprecated("as AbstractFileSystem.getServerDefaults", "")
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  // let the OS validate names, as RawLocalFileSystem does
  override def isValidName(src: String): Boolean = true
}

/** `FileContext` API: what Hadoop's `LocalFs` is (`.crc` sidecars
  * written and verified), over [[NioRawLocalFs]]. Like `LocalFs` it
  * always serves `file:///`. Unlike it, `open(path)` verifies the
  * checksums, as `open(path, bufferSize)` does. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(FsConstants.LOCAL_FS_URI, conf)) {
  override def open(f: Path): FSDataInputStream =
    open(f, getServerDefaults(f).getFileBufferSize)
}

object LocalFs {

  /** Spark settings that serve `file:` with graft's classes through
    * both Hadoop APIs: `FileSystem` (parquet, `ManifestTable`, RocksDB
    * file listing) and `FileContext` (streaming checkpoints and state
    * stores). `GraftSession.build` and graft's mains apply them. */
  val sparkConf: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs].getName)

  // PosixFilePermission's order is OWNER_READ .. OTHERS_EXECUTE, the
  // mode bits 0400 .. 0001
  private val bits = PosixFilePermission.values.toSeq

  private[sources] def posixPermissions(p: FsPermission): java.util.Set[PosixFilePermission] = {
    val mode = p.toShort.toInt
    val out = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    for ((b, i) <- bits.zipWithIndex if (mode & (0x100 >> i)) != 0) out.add(b)
    out
  }
}
