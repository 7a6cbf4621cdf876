package graft.core

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermission._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** FastLocalFileSystem must behave exactly like LocalFileSystem —
  * checksums included — with only the chmod transport changed. */
class FastLocalFileSystemSpec extends AnyFunSuite {

  private def freshFs(): org.apache.hadoop.fs.FileSystem = {
    val conf = new Configuration()
    conf.set("fs.file.impl", classOf[FastLocalFileSystem].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    org.apache.hadoop.fs.FileSystem.get(java.net.URI.create("file:///"), conf)
  }

  test("fs.file.impl resolves to FastLocalFileSystem") {
    val fs = freshFs()
    assert(fs.isInstanceOf[FastLocalFileSystem])
    assert(fs.getScheme == "file")
  }

  test("setPermission applies mode bits via NIO (no shell fork)") {
    val fs = freshFs()
    val dir = Files.createTempDirectory("flfs_").toString
    try {
      val p = new Path(s"$dir/f")
      val out = fs.create(p)
      out.write("x".getBytes("UTF-8")); out.close()
      fs.setPermission(p, new FsPermission(Integer.parseInt("640", 8).toShort))
      val perms = Files.getPosixFilePermissions(Paths.get(dir, "f"))
      assert(perms.contains(OWNER_READ) && perms.contains(OWNER_WRITE) &&
        perms.contains(GROUP_READ))
      assert(!perms.contains(OWNER_EXECUTE) && !perms.contains(OTHERS_READ))
      fs.setPermission(p, new FsPermission(Integer.parseInt("755", 8).toShort))
      val perms2 = Files.getPosixFilePermissions(Paths.get(dir, "f"))
      assert(perms2.contains(OWNER_EXECUTE) && perms2.contains(OTHERS_READ) &&
        perms2.contains(OTHERS_EXECUTE) && !perms2.contains(GROUP_WRITE))
    } finally TempDirs.deleteRecursively(new java.io.File(dir))
  }

  test("setPermission keeps the sticky bit (01777 on a directory)") {
    val fs = freshFs()
    val dir = Files.createTempDirectory("flfs_").toString
    try {
      val d = new Path(s"$dir/shared")
      assert(fs.mkdirs(d))
      fs.setPermission(d, new FsPermission(Integer.parseInt("1777", 8).toShort))
      val mode = Files.getAttribute(Paths.get(dir, "shared"), "unix:mode")
        .asInstanceOf[Int] & Integer.parseInt("7777", 8)
      assert(mode == Integer.parseInt("1777", 8), f"mode is $mode%o")
    } finally TempDirs.deleteRecursively(new java.io.File(dir))
  }

  test("permissioned mkdirs and create work; checksum layer intact") {
    val fs = freshFs()
    val dir = Files.createTempDirectory("flfs_").toString
    try {
      assert(fs.mkdirs(new Path(s"$dir/a/b"), new FsPermission(Integer.parseInt("750", 8).toShort)))
      assert(Files.isDirectory(Paths.get(dir, "a", "b")))
      val p = new Path(s"$dir/a/b/data")
      val out = fs.create(p, new FsPermission(Integer.parseInt("644", 8).toShort), true, 4096,
        1.toShort, 33554432L, null)
      out.write("roundtrip".getBytes("UTF-8")); out.close()
      // ChecksumFileSystem wrapper retained: the shadow .crc exists
      assert(Files.exists(Paths.get(dir, "a", "b", ".data.crc")))
      val in = fs.open(p)
      val buf = new Array[Byte](9)
      in.readFully(buf); in.close()
      assert(new String(buf, "UTF-8") == "roundtrip")
    } finally TempDirs.deleteRecursively(new java.io.File(dir))
  }

  test("setPermission on a missing path raises FileNotFoundException") {
    val fs = freshFs()
    intercept[java.io.FileNotFoundException] {
      fs.setPermission(new Path("/tmp/flfs_definitely_absent_xyz"),
        new FsPermission(Integer.parseInt("644", 8).toShort))
    }
  }
}
