package graft.io

import java.io.File
import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import scala.jdk.CollectionConverters._

/** Hadoop's raw local filesystem minus the per-file process forks.
  *
  * Without the native `libhadoop`, `RawLocalFileSystem` forks `chmod`
  * for every file it creates with a permission (`setPermission`, which
  * every `create` calls) and `readlink` for every `getFileLinkStatus`
  * (which `FileContext.rename` calls on source, destination and the
  * destination's parent). A checkpointed stream writes an offset-log
  * file, a commit-log file and one state delta per partition on every
  * trigger, each with its `.crc` sidecar and each through a temp file
  * and a rename, so a stream that does no work still paid about 230 ms
  * per trigger in forked processes. Both overrides answer through
  * `java.nio.file` instead, with the same results (LocalFsSpec runs
  * every operation through the stock classes and these and compares).
  * Everything else — checksummed sidecars, rename semantics, the
  * permission bits themselves — is inherited.
  *
  * Two cases keep the stock path because NIO cannot say the same
  * thing: a sticky bit (not a POSIX file permission) and directories
  * (GNU `chmod` keeps a directory's set-group-ID bit, `chmod(2)` would
  * clear it); directories are made once per checkpoint, not per
  * trigger. Symbolic links also keep the stock path, so their status
  * (including Hadoop's treatment of dangling and scheme-qualified
  * links) is unchanged; only the common "not a link" answer is
  * short-cut.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    if (!NioRawLocalFileSystem.posix || permission.getStickyBit || Files.isDirectory(file))
      super.setPermission(p, permission)
    else Files.setPosixFilePermissions(file, NioRawLocalFileSystem.bits(permission))
  }

  // The stock method asks `readlink` about `new File(f.toString)` (which
  // for a scheme-qualified path names nothing) and then reads the status
  // of `f`; a path that is a link under neither reading gets exactly
  // `getFileStatus(f)` back.
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(new File(f.toString).toPath) ||
      Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object NioRawLocalFileSystem {
  private val posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  // From the mode bits, not toString: FileContext hands over an
  // FsCreateModes, whose toString is not the rwx form.
  // PosixFilePermission.values runs owner rwx, group rwx, others rwx:
  // the nine low bits of the mode, high bit first.
  private def bits(permission: FsPermission): java.util.Set[PosixFilePermission] = {
    val mode = permission.toShort
    PosixFilePermission.values.iterator.zipWithIndex
      .collect { case (p, i) if (mode & (1 << (8 - i))) != 0 => p }
      .toSet.asJava
  }
}

/** `fs.file.impl`: the checksummed `LocalFileSystem` over
  * [[NioRawLocalFileSystem]] (parquet writes, markers, `FileSystem` API).
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: Hadoop's `LocalFs` (a `ChecksumFs`
  * over `RawLocalFs`) rebuilt over [[NioRawLocalFileSystem]] — the
  * `FileContext` API that Structured Streaming's checkpoint manager uses.
  */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))

/** Hadoop's `RawLocalFs`, whose constructor hard-codes the stock raw
  * filesystem; the overrides repeat its answers.
  */
private[io] class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
