package graft.streaming

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The persisted due-schedule format as [[DueSchedule]] writes and
  * restores it (no Spark session): round-trip fidelity, the two
  * corruption behaviors, a rewrite replacing the old snapshot, and the
  * best-effort no-throw contract on a failing FileSystem — the schedule
  * is an optimization over catchUpOnStart, so persistence failures must
  * never take the stream down.
  */
class ScheduleStoreSpec extends AnyFunSuite with Matchers {

  private def withFs(f: (FileSystem, Path) => Unit): Unit = {
    val dir = Files.createTempDirectory("graft-sched-store").toFile
    val p = new Path(new java.io.File(dir, "graft-due-schedule").getAbsolutePath)
    val fs = p.getFileSystem(new Configuration())
    try f(fs, p)
    finally {
      def rm(x: java.io.File): Unit = { if (x.isDirectory) x.listFiles().foreach(rm); x.delete(); () }
      rm(dir)
    }
  }

  private def writeRaw(fs: FileSystem, p: Path, text: String): Unit = {
    val out = fs.create(p, true)
    out.write(text.getBytes("UTF-8"))
    out.close()
  }

  test("round-trip: persist then load returns the same map") {
    withFs { (fs, p) =>
      val entries = Map("file:/a/leaf1" -> 1700000000000L, "file:/a/leaf2" -> 0L)
      val s = new DueSchedule(fs, p, cap = 1)
      entries.foreach { case (leaf, ms) => s.book(leaf, ms) }
      s.flush()
      ScheduleFile.read(fs, p) shouldBe entries
      // a restart restores both entries with their due times
      val restored = new DueSchedule(fs, p, cap = 1)
      (restored.residentCount, restored.spilledCount) shouldBe ((1, 1))
      restored.takeReady(nowMs = 0L, max = 10) shouldBe Seq("file:/a/leaf2")
      restored.takeReady(nowMs = 1699999999999L, max = 10) shouldBe empty
      restored.takeReady(nowMs = 1700000000000L, max = 10) shouldBe Seq("file:/a/leaf1")
    }
  }

  test("missing file loads as empty") {
    withFs { (fs, p) =>
      val s = new DueSchedule(fs, p, cap = 4)
      (s.residentCount, s.spilledCount) shouldBe ((0, 0))
      s.takeReady(Long.MaxValue, 10) shouldBe empty
      s.flush() // nothing changed: no snapshot is written
      fs.exists(p) shouldBe false
    }
  }

  test("a line without a tab is skipped; the rest of the snapshot survives") {
    withFs { (fs, p) =>
      writeRaw(fs, p, "123\tfile:/a/leaf1\nnot-a-schedule-line\n456\tfile:/a/leaf2\n")
      val s = new DueSchedule(fs, p, cap = 4)
      s.residentCount shouldBe 2
      s.takeReady(nowMs = 1000L, max = 10) shouldBe Seq("file:/a/leaf1", "file:/a/leaf2")
    }
  }

  test("an unparseable due-ms drops the snapshot (logged), not the stream") {
    withFs { (fs, p) =>
      writeRaw(fs, p, "123\tfile:/a/leaf1\nnot-a-number\tfile:/a/leaf2\n")
      val s = new DueSchedule(fs, p, cap = 4)
      (s.residentCount, s.spilledCount) shouldBe ((0, 0))
      s.takeReady(Long.MaxValue, 10) shouldBe empty
    }
  }

  test("persist overwrites a previous snapshot") {
    withFs { (fs, p) =>
      val s = new DueSchedule(fs, p, cap = 4)
      s.book("file:/a/leaf1", 1L)
      s.flush()
      s.takeReady(nowMs = 1L, max = 10) shouldBe Seq("file:/a/leaf1")
      s.book("file:/a/leaf2", 2L)
      s.flush()
      ScheduleFile.read(fs, p) shouldBe Map("file:/a/leaf2" -> 2L)
      fs.exists(new Path(p.getParent, s".${p.getName}.tmp")) shouldBe false
    }
  }

  test("persist and load never throw on a failing FileSystem") {
    val broken = new RawLocalFileSystem() {
      initialize(java.net.URI.create("file:///"), new Configuration())
      override def create(p: Path, overwrite: Boolean): org.apache.hadoop.fs.FSDataOutputStream =
        throw new java.io.IOException("injected create failure")
      override def open(p: Path, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream =
        throw new java.io.IOException("injected open failure")
      override def exists(p: Path): Boolean = true
    }
    val p = new Path("/tmp/graft-sched-never-written")
    var s: DueSchedule = null
    noException should be thrownBy { s = new DueSchedule(broken, p, cap = 2) }
    (s.residentCount, s.spilledCount) shouldBe ((0, 0))
    noException should be thrownBy { s.book("x", 1L); s.flush() }
  }
}
