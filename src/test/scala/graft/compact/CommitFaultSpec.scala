package graft.compact

import java.io.File
import java.net.URI
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** Fault-injecting FileSystem: fails the Nth commit-rename (a rename
  * whose destination carries a committed `{stem}_{32hex}.parquet` name)
  * by returning false, and/or makes `delete` return false for paths
  * matching a pattern — the two silent-failure modes object stores
  * exhibit that exceptions don't cover.
  */
class FaultFs extends GraftTestFs {
  override def getScheme: String = "faultfs"
  override def getUri: URI = URI.create("faultfs:///")

  override def rename(src: Path, dst: Path): Boolean = {
    if (dst.toString.matches(FaultFs.committedRe)) {
      val n = FaultFs.renameCount.incrementAndGet()
      if (n == FaultFs.failNthCommitRename) return false
    }
    super.rename(src, dst)
  }

  override def delete(p: Path, recursive: Boolean): Boolean = {
    if (FaultFs.failDeleteRe.exists(re => p.toString.matches(re))) false
    else super.delete(p, recursive)
  }

  // Hide matching entries from listings — simulates list-after-write lag
  // (a racer's object PUT that this writer's listing didn't see yet).
  // hideListCount < 0 hides forever; N > 0 hides for the first N
  // listings that would actually filter something, then lets the
  // entries show (the racer's PUT "becomes visible").
  override def listStatus(f: Path): Array[org.apache.hadoop.fs.FileStatus] = {
    val all = super.listStatus(f)
    FaultFs.hideListRe match {
      case Some(re) if FaultFs.hideListCount != 0 =>
        val (hidden, kept) = all.partition(_.getPath.toString.matches(re))
        if (hidden.nonEmpty && FaultFs.hideListCount > 0) FaultFs.hideListCount -= 1
        kept
      case _ => all
    }
  }

  // RawLocalFileSystem routes FileSystem.create(Path, boolean) through
  // the 6-arg overload and permission-carrying callers through the
  // 7-arg one — intercept both so the injection can't be bypassed.
  private def maybeFailCreate(f: Path): Unit =
    if (FaultFs.failCreateRe.exists(re => f.toString.matches(re)))
      throw new java.io.IOException(s"injected create failure: $f")

  override def create(
      f: Path,
      overwrite: Boolean,
      bufferSize: Int,
      replication: Short,
      blockSize: Long,
      progress: org.apache.hadoop.util.Progressable,
  ): org.apache.hadoop.fs.FSDataOutputStream = {
    maybeFailCreate(f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def create(
      f: Path,
      permission: org.apache.hadoop.fs.permission.FsPermission,
      overwrite: Boolean,
      bufferSize: Int,
      replication: Short,
      blockSize: Long,
      progress: org.apache.hadoop.util.Progressable,
  ): org.apache.hadoop.fs.FSDataOutputStream = {
    maybeFailCreate(f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object FaultFs {
  val committedRe = ".*/[A-Za-z0-9]+_[0-9a-f]{32}\\.parquet$"
  val manifestRe = ".*/_manifest-.*\\.json$"
  @volatile var failNthCommitRename: Int = 0 // 1-based commit-rename ordinal; 0 = off
  @volatile var failDeleteRe: Option[String] = None
  @volatile var failCreateRe: Option[String] = None // kill-between-write-and-publish injection
  @volatile var hideListRe: Option[String] = None // list-after-write visibility lag
  @volatile var hideListCount: Int = -1 // -1 = hide forever; N > 0 = first N filtering listings
  val renameCount = new AtomicInteger(0)
  def reset(): Unit = {
    failNthCommitRename = 0; failDeleteRe = None; failCreateRe = None; hideListRe = None
    hideListCount = -1
    renameCount.set(0)
  }
}

/** Commit-path failure semantics (ADVICE r3): a partial batch commit must
  * never hand the leaf to a solo re-merge with committed-named strays in
  * place — that deterministically duplicates rows, permanently (the next
  * run merges stray + originals together). And a `delete` returning false
  * must surface, not vanish into a clean success.
  */
class CommitFaultSpec extends AnyFunSuite with Matchers with SparkSpec with BeforeAndAfterAll {

  private var root: File = _
  private val cfg = CompactorConfig(targetFileBytes = 10L * 1024 * 1024, maxRowsPerFile = 10L)

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.hadoopConfiguration
      .set("fs.faultfs.impl", classOf[FaultFs].getName)
    root = Files.createTempDirectory("graft-commitfault").toFile
  }

  override def afterAll(): Unit = {
    FaultFs.reset()
    def rm(f: File): Unit = { if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); () }
    rm(root)
    super.afterAll()
  }

  /** Two 10-row files in a fresh leaf; returns the hand-built plan. */
  private def mkLeaf(name: String): LeafPlan = {
    val s = spark
    import s.implicits._
    val leaf = new File(root, s"acct/source=$name/year=2026/month=01")
    leaf.mkdirs()
    Seq("x", "y").foreach { n =>
      val tmp = new File(leaf, s".tmp-$n")
      (1 to 10).map(i => (i.toLong, s"$name-$n")).toDF("id", "tag")
        .coalesce(1).write.parquet(tmp.getAbsolutePath)
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, new File(leaf, s"$n.parquet").toPath)
      tmp.listFiles().foreach(_.delete()); tmp.delete()
    }
    val leafUri = s"faultfs:${leaf.getAbsolutePath}"
    val files = Seq(s"$leafUri/x.parquet", s"$leafUri/y.parquet")
    LeafPlan(leafUri, name, files, files.map(f => new File(leaf, f.split('/').last).length()).sum)
  }

  private def bag(plans: Seq[LeafPlan]): Seq[String] =
    spark.read.parquet(plans.map(_.leaf): _*).collect().map(_.toString).sorted.toSeq

  test("batch commit rename failure undoes the partial commit and retries solo — no duplicates") {
    FaultFs.reset()
    val plans = Seq(mkLeaf("pa"), mkLeaf("pb"))
    val before = bag(plans)
    // each plan stages 2 files (20 rows / 10-row cap); plan order is
    // probed order, so commit-renames 1,2 belong to pa and 3,4 to pb
    FaultFs.failNthCommitRename = 4
    val results = BatchMerger.mergeAndCommitBatch(spark, plans, cfg)
    results.size shouldBe 2
    results.foreach(r => withClue(r) { r.success shouldBe true })
    bag(plans) shouldBe before // at-least-once never became more-than-once
    plans.foreach { p =>
      val leafDir = new File(new URI("file:" + p.leaf.stripPrefix("faultfs:")))
      val names = leafDir.listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSeq
      withClue(s"${p.leaf}: $names") {
        names.foreach(_ should fullyMatch regex s"${p.stem}_[0-9a-f]{32}\\.parquet")
      }
    }
  }

  test("batch commit failure with an un-deletable stray reports failure instead of re-merging") {
    FaultFs.reset()
    val plans = Seq(mkLeaf("qa"), mkLeaf("qb"))
    FaultFs.failNthCommitRename = 2 // qa's second commit-rename
    FaultFs.failDeleteRe = Some(FaultFs.committedRe) // the undo can't remove the stray
    val results = BatchMerger.mergeAndCommitBatch(spark, plans, cfg)
    FaultFs.reset()
    val ra = results.find(_.stem == "qa").get
    val rb = results.find(_.stem == "qb").get
    withClue(ra) {
      ra.success shouldBe false
      ra.error.get should include("duplicate")
    }
    rb.success shouldBe true
    // qa's leaf: originals intact plus the one stray the FS refused to
    // delete — surfaced, never silently re-merged
    val leafDir = new File(new URI("file:" + plans.head.leaf.stripPrefix("faultfs:")))
    val names = leafDir.listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet
    names should contain allOf ("x.parquet", "y.parquet")
    names.count(_.matches("qa_[0-9a-f]{32}\\.parquet")) shouldBe 1
  }

  private val mcfg = cfg.copy(commitMode = CommitMode.Manifest)

  private def leafDirOf(p: LeafPlan) = new File(new URI("file:" + p.leaf.stripPrefix("faultfs:")))

  test("manifest commit: no leaf-level renames, readers resolve via manifest, originals GC'd") {
    FaultFs.reset()
    val plan = mkLeaf("ma")
    val before = bag(Seq(plan))
    val result = Merger.mergeAndCommit(spark, plan, mcfg) // dispatches on commitMode
    withClue(result) {
      result.success shouldBe true
      result.rowsWritten shouldBe 20L
    }
    val names = leafDirOf(plan).listFiles().map(_.getName).toSet
    names.exists(_.matches("_manifest-ma-[0-9a-f]{32}\\.json")) shouldBe true
    names.exists(_.startsWith(".data-")) shouldBe true
    names should contain noneOf ("x.parquet", "y.parquet") // originals GC'd
    // readers through the manifest see exactly the original rows
    ManifestCommit.readLeaf(spark, plan.leaf).collect().map(_.toString).sorted.toSeq shouldBe before
    ManifestCommit.liveFiles(spark, plan.leaf).foreach(_ should include("/.data-"))
  }

  test("manifest commit: crash between data write and manifest publish leaves readers untouched") {
    FaultFs.reset()
    val plan = mkLeaf("mb")
    val before = bag(Seq(plan))
    FaultFs.failCreateRe = Some(FaultFs.manifestRe) // the kill point
    FaultFs.failDeleteRe = Some(".*/\\.data-.*") // and the crash also skips its own cleanup
    val result = Merger.mergeAndCommit(spark, plan, mcfg)
    FaultFs.reset()
    withClue(result) {
      result.success shouldBe false
      result.error.get should include("injected create failure")
    }
    // originals intact and still the live set; the orphaned hidden data
    // dir is invisible to readers
    val names = leafDirOf(plan).listFiles().map(_.getName).toSet
    names should contain allOf ("x.parquet", "y.parquet")
    names.exists(_.startsWith("_manifest-")) shouldBe false
    names.exists(_.startsWith(".data-")) shouldBe true // the orphan survived the "crash"
    ManifestCommit.liveFiles(spark, plan.leaf).map(_.split('/').last).sorted shouldBe Seq("x.parquet", "y.parquet")
    ManifestCommit.readLeaf(spark, plan.leaf).collect().map(_.toString).sorted.toSeq shouldBe before
    // gcOrphans reclaims the debris once the FS cooperates again
    ManifestCommit.gcOrphans(spark, plan.leaf) shouldBe 1
    leafDirOf(plan).listFiles().map(_.getName).exists(_.startsWith(".data-")) shouldBe false
    ManifestCommit.readLeaf(spark, plan.leaf).collect().map(_.toString).sorted.toSeq shouldBe before
  }

  test("manifest commit: a torn manifest upload is ignored by readers") {
    FaultFs.reset()
    val plan = mkLeaf("mc")
    val before = bag(Seq(plan))
    // a partial PUT: valid-looking prefix, no seal mark
    val torn = new File(leafDirOf(plan), "_manifest-mc-deadbeef.json")
    Files.write(torn.toPath, """{"runId":"deadbeef","stem":"mc","inputs":["x.parquet"],"outp""".getBytes)
    ManifestCommit.liveFiles(spark, plan.leaf).map(_.split('/').last).sorted shouldBe Seq("x.parquet", "y.parquet")
    ManifestCommit.readLeaf(spark, plan.leaf).collect().map(_.toString).sorted.toSeq shouldBe before
  }

  test("manifest commit: failed GC of superseded originals is debris, never duplicate rows") {
    FaultFs.reset()
    val plan = mkLeaf("md")
    val before = bag(Seq(plan))
    FaultFs.failDeleteRe = Some(".*/[xy]\\.parquet$") // originals refuse to die
    val result = Merger.mergeAndCommit(spark, plan, mcfg)
    FaultFs.reset()
    withClue(result) {
      result.success shouldBe true
      result.error.get should include("debris, not duplicates")
    }
    // plain listing shows originals AND committed outputs — but the
    // manifest subtracts the originals, so readers never double-count
    // (the rename-mode commit cannot make this promise)
    val names = leafDirOf(plan).listFiles().map(_.getName).toSet
    names should contain allOf ("x.parquet", "y.parquet")
    ManifestCommit.readLeaf(spark, plan.leaf).collect().map(_.toString).sorted.toSeq shouldBe before
    ManifestCommit.liveFiles(spark, plan.leaf).foreach(_ should include("/.data-"))
  }

  test("batch manifest commit: both plans publish atomically, readers resolve via manifest") {
    FaultFs.reset()
    val plans = Seq(mkLeaf("me"), mkLeaf("mf"))
    val before = plans.map(p => ManifestCommit.readLeaf(spark, p.leaf).collect().map(_.toString).sorted.toSeq)
    val results = BatchMerger.mergeAndCommitBatch(spark, plans, mcfg)
    results.size shouldBe 2
    results.foreach(r => withClue(r) { r.success shouldBe true; r.rowsWritten shouldBe 20L })
    plans.lazyZip(before).foreach { (p, b) =>
      val names = leafDirOf(p).listFiles().map(_.getName).toSet
      names.exists(_.matches(s"_manifest-${p.stem}-[0-9a-f]{32}\\.json")) shouldBe true
      names should contain noneOf ("x.parquet", "y.parquet")
      ManifestCommit.readLeaf(spark, p.leaf).collect().map(_.toString).sorted.toSeq shouldBe b
    }
  }

  test("batch manifest commit: publish failure falls back without ever touching the visible leaf") {
    FaultFs.reset()
    val plans = Seq(mkLeaf("mg"), mkLeaf("mh"))
    val before = plans.map(p => bag(Seq(p)))
    FaultFs.failCreateRe = Some(FaultFs.manifestRe) // batch publish AND solo retry both blocked
    val results = BatchMerger.mergeAndCommitBatch(spark, plans, mcfg)
    FaultFs.reset()
    results.size shouldBe 2
    results.foreach(r => withClue(r) { r.success shouldBe false })
    // originals are still the live set everywhere; no visible strays
    plans.lazyZip(before).foreach { (p, b) =>
      val visible = leafDirOf(p).listFiles().map(_.getName).filter(n => n.endsWith(".parquet") && !n.startsWith(".")).toSet
      visible shouldBe Set("x.parquet", "y.parquet")
      leafDirOf(p).listFiles().map(_.getName).exists(_.startsWith("_manifest-")) shouldBe false
      ManifestCommit.readLeaf(spark, p.leaf).collect().map(_.toString).sorted.toSeq shouldBe b
    }
  }

  test("manifest commit: a concurrent writer stamping the same seq is detected and rolled back") {
    FaultFs.reset()
    val plan = mkLeaf("mi")
    val before = bag(Seq(plan))
    // The racer: a second writer that resolved the same pre-commit state
    // and already stamped seq 1. Its head object is planted directly, and
    // hideListRe keeps it out of THIS writer's resolution listing — the
    // exact list-after-write window in which the real race happens. The
    // create-if-absent on the seq-named head is what must trip.
    val racerHead = new File(leafDirOf(plan), "_head-000000001.json")
    Files.write(
      racerHead.toPath,
      """{"seq":1,"runId":"feedface","covered":[],"superseded":[],"outputs":[],"sealed":true}""".getBytes,
    )
    FaultFs.hideListRe = Some(".*/_head-.*")
    val result = Merger.mergeAndCommit(spark, plan, mcfg)
    FaultFs.reset()
    withClue(result) {
      result.success shouldBe false
      result.error.get should include("concurrent writer detected")
    }
    // full rollback: no manifest, no hidden data dir, originals still the
    // live set — the seq chain was never forked
    val names = leafDirOf(plan).listFiles().map(_.getName).toSet
    names.exists(_.startsWith("_manifest-")) shouldBe false
    names.exists(_.startsWith(".data-")) shouldBe false
    ManifestCommit.readLeaf(spark, plan.leaf).collect().map(_.toString).sorted.toSeq shouldBe before
  }

  test("manifest commit: opt-in optimistic retry re-stamps past a non-conflicting concurrent commit") {
    FaultFs.reset()
    val plan = mkLeaf("mj")
    val before = bag(Seq(plan))
    // racer already holds seq 1 (its head PUT lags this writer's first
    // listing by exactly one window — then becomes visible)
    Files.write(
      new File(leafDirOf(plan), "_head-000000001.json").toPath,
      """{"seq":1,"runId":"feedface","covered":[],"superseded":[],"outputs":[],"sealed":true}""".getBytes,
    )
    FaultFs.hideListRe = Some(".*/_head-.*")
    FaultFs.hideListCount = 1
    val result = Merger.mergeAndCommit(spark, plan, mcfg.copy(commitRetries = 2))
    FaultFs.reset()
    withClue(result) {
      result.success shouldBe true
      result.rowsWritten shouldBe 20L
    }
    // the retry re-stamped at seq 2 — no fork, no duplicate seq
    ManifestCommit.manifestLog(spark, plan.leaf).map(_.seq) shouldBe Seq(2L)
    ManifestCommit.currentSeq(spark, plan.leaf) shouldBe 2L
    ManifestCommit.readLeaf(spark, plan.leaf).collect().map(_.toString).sorted.toSeq shouldBe before
    ManifestCommit.liveFiles(spark, plan.leaf).foreach(_ should include("/.data-"))
  }

  test("manifest commit: optimistic retry still fails when the racer superseded this commit's inputs") {
    FaultFs.reset()
    val plan = mkLeaf("mk")
    val before = bag(Seq(plan))
    // the racer compacted x.parquet out from under us: re-stamping would
    // double-supersede it and duplicate rows — must fail, not retry
    Files.write(
      new File(leafDirOf(plan), "_head-000000001.json").toPath,
      """{"seq":1,"runId":"feedface","covered":[],"superseded":["x.parquet"],"outputs":[],"sealed":true}""".getBytes,
    )
    FaultFs.hideListRe = Some(".*/_head-.*")
    FaultFs.hideListCount = 1
    val result = Merger.mergeAndCommit(spark, plan, mcfg.copy(commitRetries = 2))
    FaultFs.reset()
    withClue(result) {
      result.success shouldBe false
      result.error.get should include("re-plan required")
    }
    // rollback: no manifest, no data dir, originals untouched
    val names = leafDirOf(plan).listFiles().map(_.getName).toSet
    names.exists(_.startsWith("_manifest-")) shouldBe false
    names.exists(_.startsWith(".data-")) shouldBe false
    names should contain allOf ("x.parquet", "y.parquet")
    bag(Seq(plan)) shouldBe before
  }

  test("solo merge surfaces originals whose delete returned false") {
    // (stem, rows the commit writes, the commit): the rename-mode merge,
    // and a manifest-mode DELETE of id 3, which hits both files
    val commits: Seq[(String, Long, LeafPlan => LeafResult)] = Seq(
      ("rc", 20L, plan => Merger.mergeAndCommit(spark, plan, cfg)),
      ("rd", 18L, plan => ManifestCommit.deleteWhere(
        spark, plan.leaf, org.apache.spark.sql.functions.col("id") === 3L, mcfg, plan.stem).get),
    )
    commits.foreach { case (stem, rows, commit) =>
      FaultFs.reset()
      val plan = mkLeaf(stem)
      FaultFs.failDeleteRe = Some(".*/x\\.parquet$")
      val result = commit(plan)
      FaultFs.reset()
      withClue(result) {
        result.success shouldBe true
        result.rowsWritten shouldBe rows
        result.error.get should include("not deleted")
        result.error.get should include("x.parquet")
      }
      val leafDir = new File(new URI("file:" + plan.leaf.stripPrefix("faultfs:")))
      val names = leafDir.listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet
      names should contain("x.parquet") // the survivor is really there
      names should not contain "y.parquet"
    }
  }
}
