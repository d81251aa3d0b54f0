package graft.streaming

import java.io.File
import java.nio.file.Files
import java.time.LocalDate
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec
import graft.compact.{CompactorConfig, LeafResult}

/** Continuous compaction end-to-end: files arrive → the micro-batch
  * claims their mtime window → only the touched leaves re-plan → merged
  * output commits — then the NEXT arrivals absorb into the compacted
  * tail, all through the public streaming API with a real checkpoint.
  */
class CompactionStreamSpec extends AnyFunSuite with Matchers with SparkSpec with BeforeAndAfterAll {

  // Eligibility window: staleNew needs mtimeDay < asOf - freshnessDays,
  // and the stream's offset windows only claim CURRENT mtimes — so make
  // today eligible by pushing asOf one day ahead with no freshness lag.
  private val cfg = CompactorConfig(
    targetFileBytes = 10L * 1024 * 1024,
    freshnessDays = 0,
    asOf = Some(LocalDate.now(java.time.ZoneOffset.UTC).plusDays(1)),
    maxConcurrentLeaves = 2,
  )

  private var root: File = _
  private var checkpoint: File = _
  private var leaf: File = _

  private def df(tag: String): DataFrame = {
    val s = spark
    import s.implicits._
    (1 to 20).map(i => (i.toLong, tag)).toDF("id", "tag")
  }

  private def writeFile(dir: File, name: String, data: DataFrame): Unit = {
    val tmp = new File(dir, s".tmp-${System.nanoTime()}")
    data.coalesce(1).write.parquet(tmp.getAbsolutePath)
    val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, new File(dir, name).toPath)
    tmp.listFiles().foreach(_.delete())
    tmp.delete()
    ()
  }

  private def names(dir: File): Seq[String] =
    dir.listFiles().filter(f => f.isFile && f.getName.endsWith(".parquet")).map(_.getName).toSeq.sorted

  override def beforeAll(): Unit = {
    super.beforeAll()
    root = Files.createTempDirectory("graft-stream-compact").toFile
    checkpoint = Files.createTempDirectory("graft-stream-ckpt").toFile
    leaf = new File(root, "acct/source=live/year=2026/month=01")
    leaf.mkdirs()
    ()
  }

  override def afterAll(): Unit = {
    def rm(f: File): Unit = { if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); () }
    rm(root); rm(checkpoint)
    super.afterAll()
  }

  test("one-shot trigger drains every due leaf past the batch cap") {
    val oroot = Files.createTempDirectory("graft-stream-oneshot").toFile
    val ockpt = Files.createTempDirectory("graft-stream-oneshot-ckpt").toFile
    try {
      val leaves = (1 to 3).map { i =>
        val l = new File(oroot, s"acct/source=o$i/year=2026/month=01")
        l.mkdirs()
        writeFile(l, "a.parquet", df(s"o$i-a"))
        writeFile(l, "b.parquet", df(s"o$i-b"))
        l
      }
      val batches = new ConcurrentLinkedQueue[Seq[LeafResult]]()
      // cap 1: a cron-style one-shot run must still drain all 3 due
      // leaves (in 3 slices) before its only batch ends — the in-memory
      // schedule dies with the query
      val q = CompactionStream.start(
        spark, oroot.getAbsolutePath, cfg,
        Trigger.AvailableNow(), ockpt.getAbsolutePath,
        onBatch = r => { batches.add(r); () },
        maxLeavesPerBatch = 1,
      )
      // the 2 s source slack means the first AvailableNow window may
      // close before the files' mtimes are claimable; retry the one-shot
      // run until the arrivals land (each run is cheap and idempotent)
      q.awaitTermination(60000)
      val deadline = System.currentTimeMillis() + 60000
      while (batches.asScala.flatten.size < 3 && System.currentTimeMillis() < deadline) {
        Thread.sleep(500)
        val q2 = CompactionStream.start(
          spark, oroot.getAbsolutePath, cfg,
          Trigger.AvailableNow(), ockpt.getAbsolutePath,
          onBatch = r => { batches.add(r); () },
          maxLeavesPerBatch = 1,
        )
        q2.awaitTermination(60000)
      }
      val all = batches.asScala.flatten.toSeq
      withClue(all) {
        all.size shouldBe 3
        all.foreach(_.success shouldBe true)
      }
      leaves.foreach { l =>
        l.listFiles().count(_.getName.endsWith(".parquet")) shouldBe 1
      }
    } finally {
      def rm(f: File): Unit = { if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); () }
      rm(oroot); rm(ockpt)
    }
  }

  test("streaming compaction composes with the manifest commit mode") {
    val oroot = Files.createTempDirectory("graft-stream-manifest").toFile
    val ockpt = Files.createTempDirectory("graft-stream-manifest-ckpt").toFile
    // agg-state root OUTSIDE the streamed tree: state parquet under the
    // watched root would itself look like compactable arrivals
    val maRoot = Files.createTempDirectory("graft-stream-manifest-agg").toFile
    try {
      val l = new File(oroot, "acct/source=mst/year=2026/month=01")
      l.mkdirs()
      writeFile(l, "a.parquet", df("mst-a"))
      writeFile(l, "b.parquet", df("mst-b"))
      // statsColumns AND the materialized-agg lifecycle ride the shared
      // CompactorConfig: streamed commits must seal the same
      // data-skipping sidecars as batch commits, and each micro-batch's
      // maintenance pass must keep the per-leaf agg fresh (the
      // always-current dashboard shape — ROADMAP 55)
      val mcfg = cfg.copy(
        commitMode = graft.compact.CommitMode.Manifest,
        statsColumns = Seq("id"),
        matAggRoot = Some(maRoot.getAbsolutePath),
        matAggKeys = Seq("tag"),
        matAggValues = Seq("id"),
      )
      val batches = new ConcurrentLinkedQueue[Seq[LeafResult]]()
      def runOnce(): Unit = {
        val q = CompactionStream.start(
          spark, oroot.getAbsolutePath, mcfg,
          Trigger.AvailableNow(), ockpt.getAbsolutePath,
          onBatch = r => { batches.add(r); () },
        )
        q.awaitTermination(60000)
        ()
      }
      runOnce()
      val deadline = System.currentTimeMillis() + 60000
      while (batches.asScala.flatten.isEmpty && System.currentTimeMillis() < deadline) {
        Thread.sleep(500)
        runOnce()
      }
      val all = batches.asScala.flatten.toSeq
      withClue(all) {
        all.size shouldBe 1
        all.head.success shouldBe true
        all.head.rowsWritten shouldBe 40L
      }
      // no visible committed files: outputs are hidden behind the manifest
      names(l) shouldBe Seq.empty
      val entries = l.listFiles().map(_.getName).toSet
      entries.exists(_.matches("_manifest-mst-[0-9a-f]{32}\\.json")) shouldBe true
      entries.exists(_.startsWith(".data-")) shouldBe true
      val live = graft.compact.ManifestCommit.readLeaf(spark, l.getAbsolutePath)
      live.count() shouldBe 40L
      // the streamed commit sealed a stats sidecar, and the skipping
      // reader works against a stream-compacted leaf
      entries.exists(_.matches("_stats-[0-9a-f]{32}\\.json")) shouldBe true
      graft.compact.ManifestStats.countLeaf(spark, l.getAbsolutePath) shouldBe 40L
      graft.compact.ManifestStats
        .readLeafWhere(spark, l.getAbsolutePath, "id", 1d, 5d).count() shouldBe 10L
      // the micro-batch's lifecycle pass materialized the per-leaf agg
      val aggPath = graft.compact.MaterializedAgg.pathFor(maRoot.getAbsolutePath, all.head.leaf)
      graft.compact.MaterializedAgg.exists(spark, aggPath) shouldBe true
      graft.compact.MaterializedAgg.read(spark, aggPath)
        .agg(org.apache.spark.sql.functions.sum("cnt")).head().getLong(0) shouldBe 40L
      // and a follow-up streaming run sees nothing left to do (the leaf's
      // visible plane is empty; manifest artifacts are planner-invisible)
      val sizeBefore = batches.asScala.flatten.size
      runOnce()
      batches.asScala.flatten.size shouldBe sizeBefore
    } finally {
      def rm(f: File): Unit = { if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); () }
      rm(oroot); rm(ockpt); rm(maRoot)
    }
  }

  test("randomized kill/resume cycles keep the streamed materialized agg exact (seeded)") {
    // The ROADMAP-67 pressure test: the matagg lifecycle rides every
    // streamed micro-batch, so ANY interleaving of arrivals, query
    // restarts from the checkpoint, lost due-schedule snapshots, and
    // out-of-band commits landing while the stream is DOWN (the
    // crash-between-commit-and-refresh window) must leave each leaf's
    // sealed state equal to a from-scratch aggregate of its live set
    // after the next drain. Recovery mechanics differ by window —
    // adds-only incremental refresh for streamed commits, GC-fallback
    // rebuild when an out-of-band compaction already reclaimed the ⊖
    // inputs — but the sealed state must be exact after every cycle.
    val oroot = Files.createTempDirectory("graft-stream-mrestart").toFile
    val ockpt = Files.createTempDirectory("graft-stream-mrestart-ckpt").toFile
    val maRoot = Files.createTempDirectory("graft-stream-mrestart-agg").toFile
    try {
      val rnd = new scala.util.Random(20260814L)
      val leaves = (1 to 3).map { i =>
        val l = new File(oroot, s"acct/source=mr$i/year=2026/month=01")
        l.mkdirs()
        l
      }
      val mcfg = cfg.copy(
        commitMode = graft.compact.CommitMode.Manifest,
        matAggRoot = Some(maRoot.getAbsolutePath),
        matAggKeys = Seq("tag"),
        matAggValues = Seq("id"),
      )
      val batches = new ConcurrentLinkedQueue[Seq[LeafResult]]()
      var fileNo = 0
      // >= 2 files per arrival burst so the leaf clears the >=2 gate
      def arrive(l: File): Unit = (1 to 2).foreach { _ =>
        fileNo += 1
        writeFile(l, s"f$fileNo.parquet", df(s"t$fileNo"))
      }
      def runOnce(): Unit = {
        // every cycle starts a FRESH query on the same checkpoint — the
        // StreamRestartSpec kill/resume shape
        val q = CompactionStream.start(
          spark, oroot.getAbsolutePath, mcfg,
          Trigger.AvailableNow(), ockpt.getAbsolutePath,
          onBatch = r => { batches.add(r); () },
        )
        q.awaitTermination(60000)
        ()
      }
      def visible(l: File) = l.listFiles().count(f => f.isFile && f.getName.endsWith(".parquet"))
      def drain(): Unit = {
        val deadline = System.currentTimeMillis() + 120000
        runOnce()
        while (leaves.exists(visible(_) > 0) && System.currentTimeMillis() < deadline) {
          Thread.sleep(500)
          runOnce()
        }
        leaves.foreach(l => withClue(l) { visible(l) shouldBe 0 })
      }
      def fileOf(p: String) =
        if (p.startsWith("file:")) new File(new java.net.URI(p)) else new File(p)
      def checkInvariant(): Unit = {
        val all = batches.asScala.flatten.toSeq
        all.foreach(r => withClue(r) { r.success shouldBe true })
        all.map(_.leaf).distinct.foreach { lf =>
          val aggPath = graft.compact.MaterializedAgg.pathFor(maRoot.getAbsolutePath, lf)
          graft.compact.MaterializedAgg.exists(spark, aggPath) shouldBe true
          def rows(d: DataFrame) = d.select("tag", "cnt", "sum_id").collect()
            .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
          val direct = graft.compact.ManifestCommit.readLeaf(spark, lf)
            .groupBy("tag")
            .agg(
              org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("cnt"),
              org.apache.spark.sql.functions.sum("id").as("sum_id"),
            )
          withClue(lf) {
            rows(graft.compact.MaterializedAgg.read(spark, aggPath)) shouldBe rows(direct)
          }
        }
      }

      leaves.foreach(arrive)
      drain()
      checkInvariant()

      (1 to 4).foreach { c =>
        // out-of-band compaction while the query is DOWN: commits a
        // rewrite the stream never sees coming — the state goes stale at
        // an older seq, exactly the crash-between-commit-and-refresh
        // window; the next drained cycle must catch it up
        if (rnd.nextBoolean()) {
          val streamedLeaves = batches.asScala.flatten.map(_.leaf).toSeq.distinct
          if (streamedLeaves.nonEmpty) {
            val lf = streamedLeaves(rnd.nextInt(streamedLeaves.size))
            val live = graft.compact.ManifestCommit.liveFiles(spark, lf)
            val plan = graft.compact.LeafPlan(lf, s"oob$c", live, live.map(p => fileOf(p).length()).sum)
            val r = graft.compact.Merger.mergeAndCommit(spark, plan, mcfg)
            withClue(r) { r.success shouldBe true }
          }
        }
        // lost due-schedule snapshot — the recovery DueScheduleSpec
        // fuzzes in isolation, here interleaved with the lifecycle
        if (rnd.nextBoolean()) {
          new File(ockpt, CompactionStream.scheduleFileName).delete()
          ()
        }
        // fresh arrivals on a random non-empty subset of leaves
        rnd.shuffle(leaves).take(1 + rnd.nextInt(3)).foreach(arrive)
        drain()
        checkInvariant()
      }
    } finally {
      def rm(f: File): Unit = { if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); () }
      rm(oroot); rm(ockpt); rm(maRoot)
    }
  }

  test("more dirty leaves than maxTrackedLeaves still all compact") {
    val oroot = Files.createTempDirectory("graft-stream-cap").toFile
    val ockpt = Files.createTempDirectory("graft-stream-cap-ckpt").toFile
    try {
      val leaves = (1 to 5).map { i =>
        val l = new File(oroot, s"acct/source=c$i/year=2026/month=01")
        l.mkdirs()
        writeFile(l, "a.parquet", df(s"c$i-a"))
        writeFile(l, "b.parquet", df(s"c$i-b"))
        l
      }
      val batches = new ConcurrentLinkedQueue[Seq[LeafResult]]()
      // resident window 2 << 5 booked leaves: the overflow spills to the
      // persisted schedule and must drain back within the same one-shot
      // batch — NOTHING booked may be lost to the cap
      def runOnce(): Unit = {
        val q = CompactionStream.start(
          spark, oroot.getAbsolutePath, cfg,
          Trigger.AvailableNow(), ockpt.getAbsolutePath,
          onBatch = r => { batches.add(r); () },
          maxLeavesPerBatch = 2,
          maxTrackedLeaves = 2,
        )
        q.awaitTermination(60000)
        ()
      }
      runOnce()
      val deadline = System.currentTimeMillis() + 60000
      while (batches.asScala.flatten.size < 5 && System.currentTimeMillis() < deadline) {
        Thread.sleep(500)
        runOnce()
      }
      val all = batches.asScala.flatten.toSeq
      withClue(all) {
        all.size shouldBe 5
        all.foreach(_.success shouldBe true)
      }
      leaves.foreach { l =>
        l.listFiles().count(_.getName.endsWith(".parquet")) shouldBe 1
      }
    } finally {
      def rm(f: File): Unit = { if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); () }
      rm(oroot); rm(ockpt)
    }
  }

  test("persisted due schedule rescues a booked-but-quiet leaf across restart") {
    val sroot = Files.createTempDirectory("graft-stream-sched").toFile
    val sckpt = Files.createTempDirectory("graft-stream-sched-ckpt").toFile
    try {
      val l = new File(sroot, "acct/source=sched/year=2026/month=01")
      l.mkdirs()
      writeFile(l, "a.parquet", df("a"))
      writeFile(l, "b.parquet", df("b"))
      // moving asOf + freshnessDays=1: today's arrivals book their leaf
      // for a due time >= 24h away — the classic last-write-then-quiet
      // strand if the schedule dies with the process
      val movingCfg = CompactorConfig(
        targetFileBytes = 10L * 1024 * 1024, freshnessDays = 1, asOf = None,
      )
      val q1 = CompactionStream.start(
        spark, sroot.getAbsolutePath, movingCfg,
        Trigger.ProcessingTime(200L), sckpt.getAbsolutePath,
      )
      val schedFile = new File(sckpt, "graft-due-schedule")
      try {
        val deadline = System.currentTimeMillis() + 90000
        while (
          (!schedFile.exists() ||
            !new String(Files.readAllBytes(schedFile.toPath), "UTF-8").contains("source=sched")) &&
          System.currentTimeMillis() < deadline
        ) Thread.sleep(200)
        // keep committing offsets until they are PAST mtime + source
        // slack (2 s): the restarted query must not be able to re-claim
        // the arrivals — only the reloaded schedule may trigger it
        Thread.sleep(5000)
      } finally q1.stop()
      val schedPath = new org.apache.hadoop.fs.Path(schedFile.getAbsolutePath)
      val schedFs = schedPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val persisted = ScheduleFile.read(schedFs, schedPath)
      withClue(persisted) {
        persisted.keySet.exists(_.contains("source=sched")) shouldBe true
      }
      names(l).size shouldBe 2 // booked, not due — nothing compacted yet

      // simulate the due day arriving: the booked time becomes past, and
      // the planner's clock (asOf) moves past the files' freshness window.
      // Rewrite through the same FileSystem so the checksum sibling stays
      // consistent — a raw edit would fail the reload with ChecksumException.
      ScheduleFile.write(schedFs, schedPath, persisted.map { case (k, _) => k -> 0L })
      val laterCfg = movingCfg.copy(
        asOf = Some(LocalDate.now(java.time.ZoneOffset.UTC).plusDays(2)),
      )
      val batches = new ConcurrentLinkedQueue[Seq[LeafResult]]()
      // no new file will ever arrive in this leaf: only the reloaded
      // schedule can trigger the compaction
      val q2 = CompactionStream.start(
        spark, sroot.getAbsolutePath, laterCfg,
        Trigger.ProcessingTime(200L), sckpt.getAbsolutePath,
        onBatch = r => { batches.add(r); () },
      )
      try {
        val deadline = System.currentTimeMillis() + 90000
        while (batches.asScala.flatten.isEmpty && System.currentTimeMillis() < deadline)
          Thread.sleep(200)
      } finally q2.stop()
      val all = batches.asScala.flatten.toSeq
      withClue(all) {
        all.nonEmpty shouldBe true
        all.foreach(_.success shouldBe true)
      }
      names(l).size shouldBe 1
      spark.read.parquet(l.getAbsolutePath).count() shouldBe 40
    } finally {
      def rm(f: File): Unit = { if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); () }
      rm(sroot); rm(sckpt)
    }
  }

  test("file arrivals drive compaction; later arrivals absorb into the tail") {
    val hex32 = "[0-9a-f]{32}"
    val batches = new ConcurrentLinkedQueue[Seq[LeafResult]]()
    writeFile(leaf, "a.parquet", df("a"))
    writeFile(leaf, "b.parquet", df("b"))

    val query = CompactionStream.start(
      spark, root.getAbsolutePath, cfg,
      Trigger.ProcessingTime(200L), checkpoint.getAbsolutePath,
      onBatch = r => { batches.add(r); () },
    )
    try {
      // processAllAvailable() can't be used here: the source's offset is
      // wall-clock, so "all available" never drains. Poll the observed
      // batch results instead (the 2 s mtime slack delays the first
      // claim; triggers fire every 200 ms).
      def awaitResults(deadlineMs: Long): Seq[LeafResult] = {
        val deadline = System.currentTimeMillis() + deadlineMs
        while (batches.asScala.flatten.isEmpty && System.currentTimeMillis() < deadline)
          Thread.sleep(200)
        batches.asScala.flatten.toSeq
      }
      // generous deadlines: suites share one session and may run
      // concurrently — under contention a micro-batch can starve for
      // tens of seconds without anything being wrong
      val wave1 = awaitResults(90000)
      withClue(wave1) {
        wave1.nonEmpty shouldBe true
        wave1.foreach(_.success shouldBe true)
      }
      names(leaf).size shouldBe 1
      names(leaf).head should fullyMatch regex s"live_$hex32\\.parquet"
      spark.read.parquet(leaf.getAbsolutePath).count() shouldBe 40

      // wave 2: two more files; the compacted tail must absorb them
      batches.clear()
      writeFile(leaf, "c.parquet", df("c"))
      writeFile(leaf, "d.parquet", df("d"))
      val wave2 = awaitResults(90000)
      withClue(wave2) {
        wave2.nonEmpty shouldBe true
        wave2.foreach(_.success shouldBe true)
      }
      names(leaf).size shouldBe 1 // c + d + previous tail merged into one
      spark.read.parquet(leaf.getAbsolutePath).count() shouldBe 80
      val s = spark
      import s.implicits._
      spark.read.parquet(leaf.getAbsolutePath).as[(Long, String)]
        .collect().map(_._2).distinct.sorted shouldBe Array("a", "b", "c", "d")
    } finally {
      query.stop()
    }
  }
}
