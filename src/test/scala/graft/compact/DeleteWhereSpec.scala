package graft.compact

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** `ManifestCommit.deleteWhere` — the retention / right-to-be-forgotten
  * commit: one sealed manifest removes exactly the cond=TRUE rows,
  * rewrites ONLY the files that contain them, and is the public
  * producer of genuine retractions for ChangeFeed consumers.
  */
class DeleteWhereSpec extends AnyFunSuite with Matchers with SparkSpec with BeforeAndAfterAll {

  private val cfg = CompactorConfig(commitMode = CommitMode.Manifest, retainSuperseded = true)

  private var root: File = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    root = Files.createTempDirectory("graft-delwhere").toFile
  }

  override def afterAll(): Unit = {
    def rm(f: File): Unit = { if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); () }
    rm(root)
    super.afterAll()
  }

  private def writeFile(leaf: File, name: String, ids: Seq[Long], tag: String): Unit = {
    val s = spark
    import s.implicits._
    val tmp = new File(leaf, s".tmp-$name")
    ids.map(i => (i, tag)).toDF("id", "tag").coalesce(1).write.parquet(tmp.getAbsolutePath)
    val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, new File(leaf, name).toPath)
    tmp.listFiles().foreach(_.delete()); tmp.delete()
    ()
  }

  private def commitAll(leafPath: String): Unit = {
    val fs = FileIndexer.fsFor(spark, leafPath)
    val files = fs.listStatus(new org.apache.hadoop.fs.Path(leafPath))
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toString).toSeq
    // publish each raw arrival as its own append commit so deleteWhere
    // operates on manifest-tracked files with distinct identities
    files.sorted.zipWithIndex.foreach { case (f, i) =>
      ManifestCommit.publish(
        FileIndexer.fsFor(spark, leafPath), leafPath, s"arr$i", s"run$i",
        inputsRel = Seq.empty, outputsRel = Seq(new org.apache.hadoop.fs.Path(f).getName),
        rows = spark.read.parquet(f).count(),
      )
    }
  }

  private def bag(leaf: String): Seq[(Long, String)] =
    ManifestCommit.readLeaf(spark, leaf).select("id", "tag").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq

  test("deleteWhere removes exactly the matching rows, rewrites only the hit files, empties leave no output") {
    val leaf = new File(root, "basic"); leaf.mkdirs()
    val leafPath = leaf.getAbsolutePath
    writeFile(leaf, "a.parquet", 1L to 100L, "a") // partially hit
    writeFile(leaf, "b.parquet", 101L to 200L, "b") // untouched by the range delete
    writeFile(leaf, "c.parquet", Seq(300L, 303L, 306L), "c") // fully inside the deleted range
    commitAll(leafPath)
    val before = bag(leafPath)
    val liveBefore = ManifestCommit.liveFiles(spark, leafPath).toSet

    // delete ids in [300, 400): hits ONLY c.parquet (fully) — a and b untouched
    val r1 = ManifestCommit.deleteWhere(spark, leafPath, col("id") >= 300L && col("id") < 400L, cfg)
    r1.get.success shouldBe true
    r1.get.filesWritten shouldBe 0 // fully-emptied input → no replacement output
    val liveAfter1 = ManifestCommit.liveFiles(spark, leafPath).toSet
    (liveBefore -- liveAfter1).map(p => new File(p).getName) shouldBe Set("c.parquet")
    (liveAfter1 -- liveBefore) shouldBe Set.empty // no rewrite of untouched files
    bag(leafPath) shouldBe before.filterNot { case (id, _) => id >= 300L && id < 400L }

    // delete id % 10 == 0: hits a and b, partial rewrites
    val before2 = bag(leafPath)
    val r2 = ManifestCommit.deleteWhere(spark, leafPath, col("id") % 10 === 0L, cfg)
    r2.get.success shouldBe true
    bag(leafPath) shouldBe before2.filterNot { case (id, _) => id % 10 == 0L }

    // no-match: no commit, the head does not move
    val head = ManifestCommit.currentSeq(spark, leafPath)
    ManifestCommit.deleteWhere(spark, leafPath, col("id") > 999999L, cfg) shouldBe None
    ManifestCommit.currentSeq(spark, leafPath) shouldBe head
  }

  test("deleteWhere stages no file above the row cap") {
    val leaf = new File(root, "rowcap"); leaf.mkdirs()
    val leafPath = leaf.getAbsolutePath
    writeFile(leaf, "a.parquet", 1L to 100L, "a") // a raw arrival of 100 rows
    val capped = cfg.copy(maxRowsPerFile = 10L)
    val r = ManifestCommit.deleteWhere(spark, leafPath, col("id") === 5L, capped)
    withClue(r) { r.get.success shouldBe true }
    val live = ManifestCommit.liveFiles(spark, leafPath)
    val rows = live.map(f => spark.read.parquet(f).count())
    withClue(live.zip(rows)) {
      rows.sum shouldBe 99L
      rows.foreach(_ should be <= 10L)
    }
  }

  test("SQL DELETE null semantics: a NULL-evaluating row survives") {
    val s = spark
    import s.implicits._
    val leaf = new File(root, "nulls"); leaf.mkdirs()
    val leafPath = leaf.getAbsolutePath
    val tmp = new File(leaf, ".tmp-n")
    Seq((1L, Some("x")), (2L, None: Option[String]), (3L, Some("y")))
      .toDF("id", "tag").coalesce(1).write.parquet(tmp.getAbsolutePath)
    Files.move(
      tmp.listFiles().find(_.getName.endsWith(".parquet")).get.toPath,
      new File(leaf, "n.parquet").toPath)
    tmp.listFiles().foreach(_.delete()); tmp.delete()
    ManifestCommit.publish(
      FileIndexer.fsFor(spark, leafPath), leafPath, "arr", "run0",
      inputsRel = Seq.empty, outputsRel = Seq("n.parquet"), rows = 3L)

    // cond is NULL for id=2 (tag is null): only id=1 goes
    ManifestCommit.deleteWhere(spark, leafPath, col("tag") === "x", cfg).get.success shouldBe true
    ManifestCommit.readLeaf(spark, leafPath).select("id").collect().map(_.getLong(0)).sorted shouldBe
      Array(2L, 3L)
  }

  test("the classification pass prunes through the stats sidecars: non-intersecting files are never opened") {
    val statsCfg = cfg.copy(statsColumns = Seq("id"))
    val leaf = new File(root, "pruned"); leaf.mkdirs()
    val leafPath = leaf.getAbsolutePath
    // three disjoint-range files committed WITH sidecars (mergeAndCommit
    // seals the per-file id intervals)
    Seq(("a", 1L to 100L), ("b", 101L to 200L), ("c", 201L to 300L)).foreach { case (t, ids) =>
      writeFile(leaf, s"$t.parquet", ids, t)
      val f = s"$leafPath/$t.parquet"
      ManifestCommit.mergeAndCommit(
        spark, LeafPlan(leafPath, s"in$t", Seq(f), new File(f).length()), statsCfg,
      ).success shouldBe true
    }
    // corrupt every live file OUTSIDE [120, 180]: an unpruned
    // classification read would throw; the sidecar prune never opens them
    val live = ManifestCommit.liveFiles(spark, leafPath)
    val spared = live.filter { p =>
      val ids = spark.read.parquet(p).select("id").collect().map(_.getLong(0))
      ids.exists(i => i >= 120L && i <= 180L)
    }
    val saved = live.filterNot(spared.contains).map(p => p -> Files.readAllBytes(new File(p).toPath)).toMap
    saved.keys.foreach(p => Files.write(new File(p).toPath, "not parquet".getBytes))

    val r = ManifestCommit.deleteWhere(spark, leafPath, col("id") >= 120L && col("id") <= 180L, statsCfg)
    r.get.success shouldBe true
    saved.foreach { case (p, b) => Files.write(new File(p).toPath, b) }
    ManifestCommit.readLeaf(spark, leafPath).select("id").collect().map(_.getLong(0)).sorted shouldBe
      ((1L to 119L) ++ (181L to 300L)).toArray
  }

  test("the retraction feed sees the delete: removed inputs, appended survivors") {
    val leaf = new File(root, "feed"); leaf.mkdirs()
    val leafPath = leaf.getAbsolutePath
    writeFile(leaf, "a.parquet", 1L to 50L, "a")
    commitAll(leafPath)
    val cursor = ChangeFeed.Cursor.atHead(spark, leafPath)

    ManifestCommit.deleteWhere(spark, leafPath, col("id") <= 10L, cfg).get.success shouldBe true
    val ch = ChangeFeed.changesSince(spark, leafPath, cursor)
    ch.mode shouldBe "walk" // a row-changing rewrite classifies as ⊕outputs ⊖inputs
    ChangeFeed.readRemoved(spark, ch).select("id").collect().map(_.getLong(0)).sorted shouldBe
      (1L to 50L).toArray
    ChangeFeed.readAppended(spark, ch).select("id").collect().map(_.getLong(0)).sorted shouldBe
      (11L to 50L).toArray
  }

  // ---- merge-on-read (position-sidecar) deletes -------------------------

  test("MoR delete reads identically to CoW, writes NO data — one position sidecar is the whole commit") {
    val leafC = new File(root, "mor-cow"); leafC.mkdirs()
    val leafM = new File(root, "mor-mor"); leafM.mkdirs()
    Seq(leafC, leafM).foreach { l =>
      writeFile(l, "a.parquet", 1L to 100L, "a")
      writeFile(l, "b.parquet", 101L to 200L, "b")
      commitAll(l.getAbsolutePath)
    }
    val cond = col("id") % 7 === 0L
    ManifestCommit.deleteWhere(spark, leafC.getAbsolutePath, cond, cfg).get.success shouldBe true

    val liveBefore = ManifestCommit.liveFiles(spark, leafM.getAbsolutePath)
    val r = ManifestCommit.deleteWhereMoR(spark, leafM.getAbsolutePath, cond, cfg).get
    withClue(r) { r.success shouldBe true }
    r.rowsWritten shouldBe (1L to 200L).count(_ % 7 == 0).toLong // rows RETRACTED
    // read-equivalence to the CoW twin, bit for bit
    bag(leafM.getAbsolutePath) shouldBe bag(leafC.getAbsolutePath)
    // the data file set did not move — the sidecar is the commit
    ManifestCommit.liveFiles(spark, leafM.getAbsolutePath) shouldBe liveBefore
    ManifestCommit.liveDeletes(spark, leafM.getAbsolutePath).size shouldBe 1
    // EVERY read/count surface honors the sidecar, not just readLeaf:
    // pruned predicate reads, range reads, and the metadata-count
    // paths (which subtract the sidecar's per-file position totals)
    val mPath = leafM.getAbsolutePath
    ManifestStats.readLeafFiltered(spark, mPath, col("id") <= 50L)
      .select("id").collect().map(_.getLong(0)).sorted shouldBe
      (1L to 50L).filterNot(_ % 7 == 0).toArray
    ManifestStats.readLeafWhere(spark, mPath, "id", 1.0, 50.0)
      .select("id").collect().map(_.getLong(0)).sorted shouldBe
      (1L to 50L).filterNot(_ % 7 == 0).toArray
    ManifestStats.countLeaf(spark, mPath) shouldBe (1L to 200L).count(_ % 7 != 0).toLong
    ManifestStats.countLeafWhere(spark, mPath, "id", 1.0, 200.0) shouldBe
      (1L to 200L).count(_ % 7 != 0).toLong
    ManifestStats.countLeafWhere(spark, mPath, "id", 30.0, 60.0) shouldBe
      (30L to 60L).count(_ % 7 != 0).toLong

    // delete-aware classification: re-running the same predicate finds
    // nothing live to match — no commit, the head does not move
    val head = ManifestCommit.currentSeq(spark, leafM.getAbsolutePath)
    ManifestCommit.deleteWhereMoR(spark, leafM.getAbsolutePath, cond, cfg) shouldBe None
    ManifestCommit.currentSeq(spark, leafM.getAbsolutePath) shouldBe head
  }

  test("MoR delete keeps SQL NULL semantics and time-travel snapshots") {
    val s = spark
    import s.implicits._
    val leaf = new File(root, "mor-null"); leaf.mkdirs()
    val leafPath = leaf.getAbsolutePath
    val tmp = new File(leaf, ".tmp-n")
    Seq((1L, Some("x")), (2L, None: Option[String]), (3L, Some("y")))
      .toDF("id", "tag").coalesce(1).write.parquet(tmp.getAbsolutePath)
    Files.move(
      tmp.listFiles().find(_.getName.endsWith(".parquet")).get.toPath,
      new File(leaf, "n.parquet").toPath)
    tmp.listFiles().foreach(_.delete()); tmp.delete()
    ManifestCommit.publish(
      FileIndexer.fsFor(spark, leafPath), leafPath, "arr", "run0",
      inputsRel = Seq.empty, outputsRel = Seq("n.parquet"), rows = 3L)
    val seq0 = ManifestCommit.currentSeq(spark, leafPath)

    // cond is NULL for id=2 (tag is null): only id=1 goes
    ManifestCommit.deleteWhereMoR(spark, leafPath, col("tag") === "x", cfg).get.success shouldBe true
    ManifestCommit.readLeaf(spark, leafPath).select("id").collect().map(_.getLong(0)).sorted shouldBe
      Array(2L, 3L)
    // the delete is a snapshot boundary: as-of the prior commit, all rows
    ManifestCommit.readLeafAt(spark, leafPath, seq0)
      .select("id").collect().map(_.getLong(0)).sorted shouldBe Array(1L, 2L, 3L)
  }

  test("CoW delete after a MoR delete stays delete-aware: already-retracted rows never re-match, the sidecar folds") {
    val leaf = new File(root, "mor-mixed"); leaf.mkdirs()
    val leafPath = leaf.getAbsolutePath
    writeFile(leaf, "a.parquet", 1L to 100L, "a")
    commitAll(leafPath)
    ManifestCommit.deleteWhereMoR(spark, leafPath, col("id") <= 10L, cfg).get.rowsWritten shouldBe 10L
    // the CoW pass must match ONLY 11..20 (1..10 are already retracted)
    // and must consume the outstanding sidecar while rewriting a.parquet
    val r = ManifestCommit.deleteWhere(spark, leafPath, col("id") <= 20L, cfg).get
    withClue(r) { r.success shouldBe true }
    r.rowsWritten shouldBe 80L // survivors staged: 100 − 10 (sidecar) − 10 (matched)
    ManifestCommit.liveDeletes(spark, leafPath) shouldBe Seq.empty // consumed, no residual
    bag(leafPath) shouldBe (21L to 100L).map(i => (i, "a"))
  }

  test("compaction folds the sidecar physically; the fold window is walk-verified net-zero") {
    val leaf = new File(root, "mor-fold"); leaf.mkdirs()
    val leafPath = leaf.getAbsolutePath
    writeFile(leaf, "a.parquet", 1L to 100L, "a")
    writeFile(leaf, "b.parquet", 101L to 200L, "b")
    commitAll(leafPath)
    val c0 = ChangeFeed.Cursor.atHead(spark, leafPath)
    ManifestCommit.deleteWhereMoR(spark, leafPath, col("id") % 10 === 0L, cfg).get.success shouldBe true
    val c1 = ChangeFeed.changesSince(spark, leafPath, c0)
    val expect = bag(leafPath)

    val files = ManifestCommit.liveFiles(spark, leafPath)
    val r = ManifestCommit.mergeAndCommit(
      spark, LeafPlan(leafPath, "fold", files, files.map(f => new File(f).length()).sum), cfg)
    withClue(r) { r.success shouldBe true }
    r.rowsWritten shouldBe 180L // the staged rewrite is delete-aware
    ManifestCommit.liveDeletes(spark, leafPath) shouldBe Seq.empty
    bag(leafPath) shouldBe expect

    // the fold commit consumed the sidecar as an input: walk-verified
    // net-zero — a consumer polling across it reads NOTHING
    val c2 = ChangeFeed.changesSince(spark, leafPath, c1.next)
    c2.mode shouldBe "walk"
    c2.isEmpty shouldBe true
    // and a consumer spanning [delete; fold] sees exactly the sidecar's
    // rows as the window's net ⊖ (the fold contributes nothing)
    val cSpan = ChangeFeed.changesSince(spark, leafPath, c0)
    cSpan.mode shouldBe "walk"
    cSpan.appended shouldBe Seq.empty
    cSpan.removed shouldBe Seq.empty
    cSpan.restored shouldBe Seq.empty
    ChangeFeed.readDeleted(spark, leafPath, cSpan)
      .select("id").collect().map(_.getLong(0)).sorted shouldBe
      (1L to 200L).filter(_ % 10 == 0).toArray
  }

  test("a partial rewrite consumes the sidecar whole and re-seals the rest as a residual") {
    val leaf = new File(root, "mor-resid"); leaf.mkdirs()
    val leafPath = leaf.getAbsolutePath
    writeFile(leaf, "a.parquet", 1L to 100L, "a")
    writeFile(leaf, "b.parquet", 101L to 200L, "b")
    commitAll(leafPath)
    ManifestCommit.deleteWhereMoR(spark, leafPath, col("id") % 10 === 0L, cfg).get.success shouldBe true
    val expect = bag(leafPath)
    val sidecar0 = ManifestCommit.liveDeletes(spark, leafPath)
    sidecar0.size shouldBe 1

    // rewrite ONLY a.parquet: its 10 positions apply, b's 10 re-seal
    val a = ManifestCommit.liveFiles(spark, leafPath).filter(_.endsWith("a.parquet"))
    a.size shouldBe 1
    val r = ManifestCommit.mergeAndCommit(
      spark, LeafPlan(leafPath, "part", a, a.map(f => new File(f).length()).sum), cfg)
    withClue(r) { r.success shouldBe true }
    r.rowsWritten shouldBe 90L
    val resid = ManifestCommit.liveDeletes(spark, leafPath)
    resid.size shouldBe 1
    resid should not be sidecar0 // a NEW sidecar, sealed by the rewrite's commit
    bag(leafPath) shouldBe expect // reads stay exact through the handoff

    // folding the rest clears the residual and preserves the bag
    val rest = ManifestCommit.liveFiles(spark, leafPath)
    ManifestCommit.mergeAndCommit(
      spark, LeafPlan(leafPath, "rest", rest, rest.map(f => new File(f).length()).sum), cfg)
      .success shouldBe true
    ManifestCommit.liveDeletes(spark, leafPath) shouldBe Seq.empty
    bag(leafPath) shouldBe expect
  }

  test("a crashed MoR delete (sidecar staged, no manifest) is invisible and reclaimed by gcOrphans") {
    val s = spark
    import s.implicits._
    val leaf = new File(root, "mor-crash"); leaf.mkdirs()
    val leafPath = leaf.getAbsolutePath
    writeFile(leaf, "a.parquet", 1L to 50L, "a")
    commitAll(leafPath)
    val before = bag(leafPath)
    // debris exactly as a pre-publish death leaves it: positions written,
    // no sealed manifest names them
    Seq(("a.parquet", 0L), ("a.parquet", 1L)).toDF("_del_file", "_del_pos")
      .coalesce(1).write.parquet(s"$leafPath/.delete-deadbeefdead")
    ManifestCommit.liveDeletes(spark, leafPath) shouldBe Seq.empty
    bag(leafPath) shouldBe before
    ManifestCommit.gcOrphans(spark, leafPath) should be >= 1
    new File(leaf, ".delete-deadbeefdead").exists() shouldBe false
  }

  test("sidecar consolidation: N sidecars fold to ONE with reads identical, the window walks to zero over corrupted bytes, and the dial acts/no-ops") {
    val leaf = new File(root, "mor-consolidate"); leaf.mkdirs()
    val leafPath = leaf.getAbsolutePath
    writeFile(leaf, "a.parquet", 1L to 100L, "a")
    writeFile(leaf, "b.parquet", 101L to 200L, "b")
    commitAll(leafPath)
    // three retention passes = three standing sidecars
    ManifestCommit.deleteWhereMoR(spark, leafPath, col("id") <= 5L, cfg).get.success shouldBe true
    ManifestCommit.deleteWhereMoR(spark, leafPath, col("id") % 10 === 0L, cfg).get.success shouldBe true
    ManifestCommit.deleteWhereMoR(spark, leafPath, col("id") >= 195L, cfg).get.success shouldBe true
    ManifestCommit.liveDeletes(spark, leafPath).size shouldBe 3
    val expect = bag(leafPath)
    val cursor = ChangeFeed.Cursor.atHead(spark, leafPath)

    val r = ManifestCommit.consolidateDeletes(spark, leafPath, cfg).get
    withClue(r) { r.success shouldBe true }
    // 1..5 (5) + %10==0 (20, none overlap 1..5) + 195..199 (5 — 200
    // was already retracted by the %10 pass, delete-aware matching)
    r.rowsWritten shouldBe 30L
    ManifestCommit.liveDeletes(spark, leafPath).size shouldBe 1
    bag(leafPath) shouldBe expect

    // the consolidation window nets to ZERO for every consumer —
    // proven by corrupting ALL live bytes (data files AND the old,
    // retained sidecars) before the poll: the walk resolves the
    // position counts from the drows ledger, never from the files
    val toCorrupt = ManifestCommit.liveFiles(spark, leafPath) ++
      ManifestCommit.liveDeletes(spark, leafPath)
    val saved = toCorrupt.map(p => p -> Files.readAllBytes(new File(p).toPath)).toMap
    saved.keys.foreach(p => Files.write(new File(p).toPath, Array[Byte](0x13, 0x37)))
    val ch = ChangeFeed.changesSince(spark, leafPath, cursor)
    saved.foreach { case (p, b) => Files.write(new File(p).toPath, b) }
    ch.mode shouldBe "walk"
    ch.isEmpty shouldBe true
    bag(leafPath) shouldBe expect

    // the dial: below the threshold it rests, above it it acts
    graft.operators.StoreMaintenance.maintainDeleteSidecars(spark, leafPath, cfg, maxSidecars = 4)
      .compacted shouldBe false
    ManifestCommit.deleteWhereMoR(spark, leafPath, col("id") === 51L, cfg).get.success shouldBe true
    graft.operators.StoreMaintenance.maintainDeleteSidecars(spark, leafPath, cfg, maxSidecars = 1)
      .compacted shouldBe true
    ManifestCommit.liveDeletes(spark, leafPath).size shouldBe 1
    // ... and compaction still folds the consolidated sidecar physically
    val files = ManifestCommit.liveFiles(spark, leafPath)
    ManifestCommit.mergeAndCommit(
      spark, LeafPlan(leafPath, "physfold", files, files.map(f => new File(f).length()).sum), cfg)
      .success shouldBe true
    ManifestCommit.liveDeletes(spark, leafPath) shouldBe Seq.empty
    bag(leafPath) shouldBe expect.filterNot(_._1 == 51L)
  }

  test("lost-delete tripwires: an unfolded sidecar aborts a racing rewrite; superseded targets abort a racing MoR delete") {
    val leaf = new File(root, "mor-race"); leaf.mkdirs()
    val leafPath = leaf.getAbsolutePath
    val fs = FileIndexer.fsFor(spark, leafPath)
    writeFile(leaf, "a.parquet", 1L to 50L, "a")
    commitAll(leafPath)
    ManifestCommit.deleteWhereMoR(spark, leafPath, col("id") <= 5L, cfg).get.success shouldBe true

    // (a) a rewrite that planned BEFORE the sidecar sealed (knownDeletes
    // empty) must abort rather than resurrect rows 1..5 in its outputs
    val ex = intercept[java.io.IOException] {
      ManifestCommit.publish(
        fs, leafPath, "stale", "feedcafefeedcafe",
        inputsRel = Seq("a.parquet"), outputsRel = Seq.empty, rows = 45L,
        knownDeletes = Some(Set.empty),
      )
    }
    ex.getMessage should include("did not fold")
    // aborted BEFORE the manifest was written — nothing to roll back
    fs.listStatus(new org.apache.hadoop.fs.Path(leafPath))
      .map(_.getPath.getName).exists(_.startsWith("_manifest-stale-")) shouldBe false

    // (b) a MoR delete whose positions target a file a racer superseded
    // mid-flight must abort — its positions address dead rows
    val files = ManifestCommit.liveFiles(spark, leafPath)
    ManifestCommit.mergeAndCommit(
      spark, LeafPlan(leafPath, "fold", files, files.map(f => new File(f).length()).sum), cfg)
      .success shouldBe true // supersedes a.parquet (and folds the live sidecar)
    val ex2 = intercept[java.io.IOException] {
      ManifestCommit.publish(
        fs, leafPath, "stale2", "deadc0dedeadc0de",
        inputsRel = Seq.empty, outputsRel = Seq.empty, rows = 0L,
        deletesRel = Seq(".delete-deadc0dedeadc0de/p.parquet"), drows = 1L,
        knownDeletes = Some(ManifestCommit.liveDeletes(spark, leafPath)
          .map(ManifestCommit.relativeTo(leafPath, _)).toSet),
        requiresLive = Set("a.parquet"),
      )
    }
    ex2.getMessage should include("no longer address live rows")
  }
}
