package graft.streaming

import java.nio.file.Files

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Unit semantics of the bounded due schedule (no Spark session): the
  * residency cap holds while NOTHING booked is lost — overflow spills to
  * the snapshot file and drains back in due order; bookings max-merge;
  * restarts restore both the window and the spill; a failing FileSystem
  * degrades the bound, never the stream.
  */
class DueScheduleSpec extends AnyFunSuite with Matchers {

  private def withFs(f: (FileSystem, Path) => Unit): Unit = {
    val dir = Files.createTempDirectory("graft-due-sched").toFile
    val p = new Path(new java.io.File(dir, "graft-due-schedule").getAbsolutePath)
    val fs = p.getFileSystem(new Configuration())
    try f(fs, p)
    finally {
      def rm(x: java.io.File): Unit = { if (x.isDirectory) x.listFiles().foreach(rm); x.delete(); () }
      rm(dir)
    }
  }

  test("booking past the cap keeps the soonest window resident and spills the rest") {
    withFs { (fs, p) =>
      val s = new DueSchedule(fs, p, cap = 3)
      (1 to 10).foreach(i => s.book(s"file:/leaf$i", i.toLong))
      s.residentCount should be <= 3
      s.flush()
      s.residentCount shouldBe 3
      s.spilledCount shouldBe 7
      // the resident window is the SOONEST three
      ScheduleFile.read(fs, p).size shouldBe 10
    }
  }

  test("takeReady drains resident AND spilled entries in due order") {
    withFs { (fs, p) =>
      val s = new DueSchedule(fs, p, cap = 2)
      (1 to 7).foreach(i => s.book(s"file:/leaf$i", i.toLong))
      val got = scala.collection.mutable.ArrayBuffer.empty[String]
      var batch = s.takeReady(nowMs = 100L, max = 3)
      while (batch.nonEmpty) { got ++= batch; batch = s.takeReady(100L, 3) }
      got.toSeq shouldBe (1 to 7).map(i => s"file:/leaf$i")
      s.flush()
      ScheduleFile.read(fs, p) shouldBe Map.empty
    }
  }

  test("future-due spilled entries stay booked, not taken") {
    withFs { (fs, p) =>
      val s = new DueSchedule(fs, p, cap = 2)
      s.book("file:/a", 10L)
      s.book("file:/b", 20L)
      s.book("file:/c", 500L) // spills (latest-due of the three)
      s.takeReady(nowMs = 100L, max = 10) shouldBe Seq("file:/a", "file:/b")
      s.flush()
      ScheduleFile.read(fs, p) shouldBe Map("file:/c" -> 500L)
      s.takeReady(nowMs = 1000L, max = 10) shouldBe Seq("file:/c")
    }
  }

  test("bookings max-merge across residency states") {
    withFs { (fs, p) =>
      val s = new DueSchedule(fs, p, cap = 1)
      s.book("file:/a", 10L)
      s.book("file:/b", 99L) // spilled (pending)
      s.book("file:/a", 5L) // resident, older booking loses
      s.book("file:/b", 120L) // pending booking grows
      s.flush()
      ScheduleFile.read(fs, p) shouldBe Map("file:/a" -> 10L, "file:/b" -> 120L)
      // a booking for a leaf already spilled to DISK max-merges on rewrite
      s.book("file:/b", 80L) // below the on-disk 120
      s.book("file:/c", 1L) // soonest — takes the single resident slot
      s.flush()
      ScheduleFile.read(fs, p) shouldBe
        Map("file:/a" -> 10L, "file:/b" -> 120L, "file:/c" -> 1L)
    }
  }

  test("restart restores the window and the spill from the snapshot") {
    withFs { (fs, p) =>
      val s1 = new DueSchedule(fs, p, cap = 2)
      (1 to 5).foreach(i => s1.book(s"file:/leaf$i", i.toLong))
      s1.flush()
      val s2 = new DueSchedule(fs, p, cap = 2)
      s2.residentCount shouldBe 2
      s2.spilledCount shouldBe 3
      val got = scala.collection.mutable.ArrayBuffer.empty[String]
      var batch = s2.takeReady(100L, 10)
      while (batch.nonEmpty) { got ++= batch; batch = s2.takeReady(100L, 10) }
      got.toSeq shouldBe (1 to 5).map(i => s"file:/leaf$i")
    }
  }

  test("serving an earlier re-booking keeps a later on-disk booking alive") {
    withFs { (fs, p) =>
      val s = new DueSchedule(fs, p, cap = 1)
      s.book("file:/a", 10L)
      s.book("file:/b", 500L) // spills
      s.flush()
      ScheduleFile.read(fs, p) shouldBe Map("file:/a" -> 10L, "file:/b" -> 500L)
      // a new arrival books b EARLIER than its on-disk 500 (already-due
      // time); serving that copy must not delete the 500 booking — the
      // mtime-window source never re-emits, so dropping it would strand
      // whatever arrives before 500 forever
      s.book("file:/b", 5L)
      s.takeReady(nowMs = 100L, max = 1) shouldBe Seq("file:/b")
      s.flush()
      ScheduleFile.read(fs, p) shouldBe Map("file:/a" -> 10L, "file:/b" -> 500L)
      s.takeReady(nowMs = 1000L, max = 10).toSet shouldBe Set("file:/a", "file:/b")
      s.flush()
      ScheduleFile.read(fs, p) shouldBe Map.empty
    }
  }

  test("a mid-batch refill keeps served-but-unflushed leaves in the snapshot") {
    withFs { (fs, p) =>
      val s = new DueSchedule(fs, p, cap = 1)
      s.book("file:/a", 10L)
      s.book("file:/b", 20L) // spills
      s.flush()
      // one takeReady serves a (resident) AND b (via the refill rewrite):
      // that mid-batch rewrite must not persist either removal — a crash
      // before the post-processing flush() must re-book both on restart
      s.takeReady(nowMs = 100L, max = 10) shouldBe Seq("file:/a", "file:/b")
      ScheduleFile.read(fs, p) shouldBe Map("file:/a" -> 10L, "file:/b" -> 20L)
      val crashed = new DueSchedule(fs, p, cap = 1)
      crashed.takeReady(nowMs = 100L, max = 10).toSet shouldBe Set("file:/a", "file:/b")
      // no crash: the post-batch flush is what finally drops them
      s.flush()
      ScheduleFile.read(fs, p) shouldBe Map.empty
    }
  }

  test("randomized book/spill/drain/restart interleavings preserve the contract") {
    // Model-based fuzz over the operations a stream actually performs
    // (book with max-merge, bounded takeReady with mid-drain refills,
    // flush, clean restart), with tiny caps so nearly everything spills
    // and the merge-join rewrite runs constantly. Invariants:
    //   1. the residency cap holds at every step;
    //   2. a leaf is only served once SOME booking for it was due;
    //   3. nothing strands: after a final drain every leaf ever booked
    //      was served at least once (at-least-once delivery — re-serves
    //      after a re-booking are legitimate), and the snapshot is empty.
    val rnd = new scala.util.Random(42)
    (0 until 5).foreach { round =>
      withFs { (fs, p) =>
        val cap = 1 + rnd.nextInt(4)
        var s = new DueSchedule(fs, p, cap)
        val leaves = (0 until 30).map(i => f"file:/leaf$i%02d")
        val minBook = mutable.Map.empty[String, Long]
        val served = mutable.Set.empty[String]
        var now = 0L
        (0 until 200).foreach { _ =>
          rnd.nextInt(10) match {
            case op if op <= 5 => // book (max-merge; duplicates common)
              val leaf = leaves(rnd.nextInt(leaves.size))
              val ms = rnd.nextLong(1000L)
              s.book(leaf, ms)
              minBook(leaf) = math.min(minBook.getOrElse(leaf, Long.MaxValue), ms)
            case 6 | 7 => // drain a slice
              now += rnd.nextLong(300L)
              s.takeReady(now, 1 + rnd.nextInt(5)).foreach { leaf =>
                withClue(s"round $round: served $leaf before any booking was due: ") {
                  minBook.getOrElse(leaf, Long.MaxValue) should be <= now
                }
                served += leaf
              }
            case 8 => s.flush()
            case _ => // clean restart: flush, then reload from snapshot
              s.flush()
              s = new DueSchedule(fs, p, cap)
          }
          s.residentCount should be <= cap
        }
        // final drain to a fixpoint: a leaf served from an early
        // re-booking keeps its later on-disk booking alive (by design),
        // and a batch never serves one leaf twice — so that booking
        // surfaces in the NEXT batch, i.e. after the flush() boundary
        var more = true
        while (more) {
          more = false
          var batch = s.takeReady(Long.MaxValue / 2, 10)
          while (batch.nonEmpty) {
            more = true; served ++= batch
            batch = s.takeReady(Long.MaxValue / 2, 10)
          }
          s.flush()
        }
        withClue(s"round $round (cap $cap): ") {
          served.toSet shouldBe minBook.keySet
          ScheduleFile.read(fs, p) shouldBe Map.empty
        }
      }
    }
  }

  test("randomized fuzz ALSO covers snapshot-unwritable (degraded drain) and lost-snapshot catch-up restarts") {
    // The base fuzz above holds two modes fixed: the FS always writes,
    // and restarts always have a snapshot to reload. This walk toggles
    // both — unwritable periods exercise takeReady's degraded direct-
    // serve branch, and lost-snapshot restarts exercise the
    // catchUpOnStart contract (the snapshot is an optimization, never
    // the source of truth: catch-up re-books whatever was lost).
    // Invariants unchanged: cap bound, no serve before due, at-least-
    // once delivery, empty snapshot after the healed final drain.
    class FlakyFs extends RawLocalFileSystem {
      initialize(java.net.URI.create("file:///"), new Configuration())
      var failing = false
      override def create(p: Path, overwrite: Boolean): org.apache.hadoop.fs.FSDataOutputStream =
        if (failing) throw new java.io.IOException("injected: snapshot unwritable")
        else super.create(p, overwrite)
    }
    val rnd = new scala.util.Random(20260813L)
    var sawDegradedServe, sawCatchUpHealthy, sawCatchUpFailing, sawHealthyRestart = false
    (0 until 5).foreach { round =>
      val dir = Files.createTempDirectory("graft-due-flaky").toFile
      val p = new Path(new java.io.File(dir, "graft-due-schedule").getAbsolutePath)
      val fs = new FlakyFs
      try {
        val cap = 1 + rnd.nextInt(4)
        var s = new DueSchedule(fs, p, cap)
        val leaves = (0 until 30).map(i => f"file:/leaf$i%02d")
        val minBook = mutable.Map.empty[String, Long]
        val served = mutable.Set.empty[String]
        var now = 0L
        (0 until 250).foreach { _ =>
          rnd.nextInt(12) match {
            case op if op <= 5 => // book (max-merge; duplicates common)
              val leaf = leaves(rnd.nextInt(leaves.size))
              val ms = rnd.nextLong(1000L)
              s.book(leaf, ms)
              minBook(leaf) = math.min(minBook.getOrElse(leaf, Long.MaxValue), ms)
            case 6 | 7 => // drain a slice (degraded when fs.failing)
              now += rnd.nextLong(300L)
              val got = s.takeReady(now, 1 + rnd.nextInt(5))
              if (fs.failing && got.nonEmpty) sawDegradedServe = true
              got.foreach { leaf =>
                withClue(s"round $round: served $leaf before any booking was due: ") {
                  minBook.getOrElse(leaf, Long.MaxValue) should be <= now
                }
                served += leaf
              }
            case 8 => s.flush() // silently fails while fs.failing
            case 9 => fs.failing = !fs.failing
            case 10 if !fs.failing => // healthy restart: snapshot survives
              sawHealthyRestart = true
              s.flush()
              s = new DueSchedule(fs, p, cap)
            case _ => // crash with LOST snapshot + catchUpOnStart recovery:
              // in-memory buffers die with the process and the snapshot
              // file is gone; the catch-up batch re-discovers every
              // leaf not yet compacted and re-books it
              if (fs.failing) sawCatchUpFailing = true else sawCatchUpHealthy = true
              fs.delete(p, false)
              s = new DueSchedule(fs, p, cap)
              (minBook.keySet -- served).foreach { leaf =>
                val ms = rnd.nextLong(1000L)
                s.book(leaf, ms)
                minBook(leaf) = math.min(minBook(leaf), ms)
              }
          }
          s.residentCount should be <= cap
        }
        // heal, then drain to a fixpoint (disk-spilled entries can only
        // surface once the FS writes again)
        fs.failing = false
        var more = true
        while (more) {
          more = false
          var batch = s.takeReady(Long.MaxValue / 2, 10)
          while (batch.nonEmpty) {
            more = true; served ++= batch
            batch = s.takeReady(Long.MaxValue / 2, 10)
          }
          s.flush()
        }
        withClue(s"round $round (cap $cap): ") {
          served.toSet shouldBe minBook.keySet
          ScheduleFile.read(fs, p) shouldBe Map.empty
        }
      } finally {
        def rm(x: java.io.File): Unit = { if (x.isDirectory) x.listFiles().foreach(rm); x.delete(); () }
        rm(dir)
      }
    }
    // the walk genuinely visited all four mode combinations
    withClue("degraded serve / healthy restart / catch-up(healthy) / catch-up(failing): ") {
      Seq(sawDegradedServe, sawHealthyRestart, sawCatchUpHealthy, sawCatchUpFailing) shouldBe Seq(true, true, true, true)
    }
  }

  test("a failing FileSystem keeps every booking buffered and never throws") {
    val broken = new RawLocalFileSystem() {
      initialize(java.net.URI.create("file:///"), new Configuration())
      override def create(p: Path, overwrite: Boolean): org.apache.hadoop.fs.FSDataOutputStream =
        throw new java.io.IOException("injected create failure")
      override def exists(p: Path): Boolean = false
    }
    val p = new Path("/tmp/graft-due-sched-never-written")
    val s = new DueSchedule(broken, p, cap = 2)
    noException should be thrownBy (1 to 5).foreach(i => s.book(s"file:/leaf$i", i.toLong))
    noException should be thrownBy s.flush()
    // rewrites fail, so nothing can spill — but nothing is LOST either:
    // all five drain from the buffers
    val got = scala.collection.mutable.ArrayBuffer.empty[String]
    var batch = s.takeReady(100L, 10)
    while (batch.nonEmpty) { got ++= batch; batch = s.takeReady(100L, 10) }
    got.toSeq shouldBe (1 to 5).map(i => s"file:/leaf$i")
  }
}
