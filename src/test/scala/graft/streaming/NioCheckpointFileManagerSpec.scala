package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.scalatest.funsuite.AnyFunSuite

/** Contract tests for the NIO checkpoint file manager — the exact
  * behaviors HDFSMetadataLog and HDFSBackedStateStoreProvider rely on. */
class NioCheckpointFileManagerSpec extends AnyFunSuite {

  private def withMgr(f: (NioCheckpointFileManager, java.io.File) => Unit): Unit = {
    val dir = Files.createTempDirectory("nio_ckpt_").toFile
    try f(new NioCheckpointFileManager(new Path(dir.toString), new Configuration()), dir)
    finally graft.core.TempDirs.deleteRecursively(dir)
  }

  test("createAtomic writes via temp + rename; content visible only after close") {
    withMgr { (fm, dir) =>
      val target = new Path(s"$dir/log/1")
      val out = fm.createAtomic(target, overwriteIfPossible = false)
      out.write("hello".getBytes("UTF-8"))
      // before close: no final file (atomicity), only the hidden temp
      assert(!fm.exists(target))
      out.close()
      assert(fm.exists(target))
      val in = fm.open(target)
      val buf = new Array[Byte](5)
      in.readFully(0L, buf)
      in.close()
      assert(new String(buf, "UTF-8") == "hello")
      // temp file gone
      assert(Files.list(Paths.get(s"$dir/log")).count() == 1)
    }
  }

  test("createAtomic without overwrite throws FileAlreadyExistsException on close") {
    withMgr { (fm, dir) =>
      val target = new Path(s"$dir/2")
      val first = fm.createAtomic(target, overwriteIfPossible = false)
      first.write(1); first.close()
      val second = fm.createAtomic(target, overwriteIfPossible = false)
      second.write(2)
      intercept[FileAlreadyExistsException] { second.close() }
      // loser's temp cleaned up; winner's content intact
      assert(Files.list(Paths.get(dir.toString)).count() == 1)
      val in = fm.open(target)
      assert(in.read() == 1)
      in.close()
    }
  }

  test("createAtomic with overwrite replaces; cancel leaves no trace") {
    withMgr { (fm, dir) =>
      val target = new Path(s"$dir/3")
      val a = fm.createAtomic(target, overwriteIfPossible = true)
      a.write(7); a.close()
      val b = fm.createAtomic(target, overwriteIfPossible = true)
      b.write(8); b.close()
      val in = fm.open(target); assert(in.read() == 8); in.close()
      val c = fm.createAtomic(new Path(s"$dir/4"), overwriteIfPossible = true)
      c.write(9); c.cancel()
      assert(!fm.exists(new Path(s"$dir/4")))
      assert(Files.list(Paths.get(dir.toString)).count() == 1) // no temp litter
    }
  }

  test("racing no-overwrite writers: exactly one wins each path and its bytes stay") {
    withMgr { (fm, dir) =>
      val writers = 8
      val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
      try {
        (0 until 200).foreach { i =>
          val target = new Path(s"$dir/race/$i")
          // every writer has its bytes staged before any publishes
          val outs = (0 until writers).map { w =>
            val o = fm.createAtomic(target, overwriteIfPossible = false)
            o.write(s"writer-$w".getBytes("UTF-8")); o
          }
          val start = new java.util.concurrent.CountDownLatch(1)
          val results = outs.zipWithIndex.map { case (o, w) =>
            pool.submit(new java.util.concurrent.Callable[Option[Int]] {
              override def call(): Option[Int] = {
                start.await()
                try { o.close(); Some(w) }
                catch { case _: FileAlreadyExistsException => None }
              }
            })
          }
          start.countDown()
          val winners = results.flatMap(_.get())
          assert(winners.size == 1, s"path $i: ${winners.size} writers published")
          val got = new String(Files.readAllBytes(Paths.get(s"$dir/race/$i")), "UTF-8")
          assert(got == s"writer-${winners.head}", s"path $i holds $got")
        }
        // losers' temp files are cleaned up: only the 200 targets remain
        assert(Files.list(Paths.get(s"$dir/race")).count() == 200)
      } finally pool.shutdownNow()
    }
  }

  test("open of a missing file raises java.io.FileNotFoundException") {
    withMgr { (fm, dir) =>
      intercept[java.io.FileNotFoundException] { fm.open(new Path(s"$dir/absent")) }
    }
  }

  test("list applies the filter and raises FileNotFoundException on a missing dir") {
    withMgr { (fm, dir) =>
      fm.mkdirs(new Path(s"$dir/d"))
      Seq("1", "2", ".1.tmp").foreach { n =>
        val o = fm.createAtomic(new Path(s"$dir/d/$n"), overwriteIfPossible = true)
        o.write(0); o.close()
      }
      val visible = fm.list(new Path(s"$dir/d"),
        (p: Path) => !p.getName.startsWith("."))
      assert(visible.map(_.getPath.getName).sorted.toSeq == Seq("1", "2"))
      assert(visible.forall(s => s.getLen == 1 && !s.isDirectory))
      intercept[java.io.FileNotFoundException] { fm.list(new Path(s"$dir/absent")) }
    }
  }

  test("delete is recursive and a no-op on the absent") {
    withMgr { (fm, dir) =>
      fm.mkdirs(new Path(s"$dir/t/deep"))
      val o = fm.createAtomic(new Path(s"$dir/t/deep/f"), overwriteIfPossible = true)
      o.write(0); o.close()
      fm.delete(new Path(s"$dir/t"))
      assert(!fm.exists(new Path(s"$dir/t")))
      fm.delete(new Path(s"$dir/t")) // absent: must not throw
    }
  }

  test("seek/getPos/positioned reads behave like an FSDataInputStream") {
    withMgr { (fm, dir) =>
      val target = new Path(s"$dir/seek")
      val o = fm.createAtomic(target, overwriteIfPossible = true)
      o.write("0123456789".getBytes("UTF-8")); o.close()
      val in = fm.open(target)
      in.seek(4L)
      assert(in.getPos == 4L)
      assert(in.read() == '4'.toInt)
      val buf = new Array[Byte](3)
      in.readFully(7L, buf)
      assert(new String(buf, "UTF-8") == "789")
      assert(in.getPos == 5L) // positioned read must not move the cursor
      in.close()
    }
  }
}
