package graft.core

import java.nio.file.attribute.PosixFilePermission
import java.nio.file.{Files, NoSuchFileException}

import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}

/** `file:` FileSystem whose permission ops use java.nio instead of
  * Hadoop's no-native-lib fallback, which FORK/EXECs a `chmod` shell
  * per created file/directory (`RawLocalFileSystem.setPermission` →
  * `Shell.execCommand` when libhadoop is absent — stack-sampled as the
  * dominant cost of every state-store commit and a per-file tax on
  * every local parquet/log write; forking a large-heap JVM is
  * milliseconds each and the calls serialize under global locks like
  * the state-store provider registry).
  *
  * Semantics are IDENTICAL to LocalFileSystem — checksums included
  * (this wraps the same ChecksumFileSystem layer around a patched raw
  * fs); only the chmod transport changes, shell → NIO. Environment-
  * appropriate I/O, not a local-mode constant: any deployment writing
  * to `file:` paths benefits the same way, and non-local schemes are
  * untouched (they resolve to their own FileSystem impls). Wired via
  * `spark.hadoop.fs.file.impl` in the session builders. */
class FastLocalFileSystem extends LocalFileSystem(new FastRawLocalFileSystem)

/** RawLocalFileSystem with the Shell-chmod fallback replaced by NIO.
  * `mkdirs(path, perm)` and permissioned `create(...)` both funnel
  * through `setPermission`, so one override removes every fork. */
class FastRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toShort.toInt
    // setuid / setgid / sticky have no PosixFilePermission: Hadoop's
    // shell path keeps them (rare, so the fork cost does not matter)
    if ((bits & 0xE00) != 0) return super.setPermission(p, permission)
    val perms = new java.util.HashSet[PosixFilePermission]()
    def add(bit: Int, perm: PosixFilePermission): Unit =
      if ((bits & bit) != 0) { perms.add(perm); () }
    add(0x100, PosixFilePermission.OWNER_READ)
    add(0x80, PosixFilePermission.OWNER_WRITE)
    add(0x40, PosixFilePermission.OWNER_EXECUTE)
    add(0x20, PosixFilePermission.GROUP_READ)
    add(0x10, PosixFilePermission.GROUP_WRITE)
    add(0x8, PosixFilePermission.GROUP_EXECUTE)
    add(0x4, PosixFilePermission.OTHERS_READ)
    add(0x2, PosixFilePermission.OTHERS_WRITE)
    add(0x1, PosixFilePermission.OTHERS_EXECUTE)
    try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
    catch {
      case e: NoSuchFileException =>
        throw new java.io.FileNotFoundException(e.getMessage)
      case _: UnsupportedOperationException =>
        // non-POSIX store: fall back to Hadoop's shell path
        super.setPermission(p, permission)
    }
    ()
  }
}
