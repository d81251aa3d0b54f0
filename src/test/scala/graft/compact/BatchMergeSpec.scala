package graft.compact

import java.io.File
import java.nio.file.Files
import java.time.LocalDate

import org.apache.spark.sql.DataFrame
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** The many-tiny-leaf swarm — the shape the reference spends its life on
  * (parquet_compactor.py:295-328 iterates thousands of leaves serially).
  * Pins that [[BatchMerger]] collapses job count while preserving every
  * [[CompactorSpec]] invariant, and that ineligible plans (heterogeneous
  * schema, oversized) still take the solo path correctly.
  */
class BatchMergeSpec extends AnyFunSuite with Matchers with SparkSpec with BeforeAndAfterAll {

  private val asOf = LocalDate.parse("2026-06-20")
  private val staleMs = java.sql.Timestamp.valueOf("2026-06-01 00:00:00").getTime
  private val cfg = CompactorConfig(
    targetFileBytes = 10L * 1024 * 1024, // every fixture leaf is "tiny"
    asOf = Some(asOf),
    maxConcurrentLeaves = 2,
    // smaller than the leaf count, so the swarm test exercises the
    // toLocalIterator MULTI-SLICE path (several runBatch calls), not
    // just one big batch
    planBatchSize = 7,
  )
  private val hex32 = "[0-9a-f]{32}"

  private var root: File = _
  private val nLeaves = 40

  private def df(tag: String, n: Int = 20): DataFrame = {
    val s = spark
    import s.implicits._
    (1 to n).map(i => (i.toLong, tag)).toDF("id", "tag")
  }

  private def writeFile(dir: File, name: String, data: DataFrame): Unit = {
    val tmp = new File(dir, s".tmp-${System.nanoTime()}")
    data.coalesce(1).write.parquet(tmp.getAbsolutePath)
    val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, new File(dir, name).toPath)
    tmp.listFiles().foreach(_.delete())
    tmp.delete()
    new File(dir, name).setLastModified(staleMs)
    ()
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    root = Files.createTempDirectory("graft-batch").toFile
    (0 until nLeaves).foreach { i =>
      val leaf = new File(root, f"acct$i%03d/source=s$i%03d/year=2026/month=01")
      leaf.mkdirs()
      writeFile(leaf, "a.parquet", df(s"a$i"))
      writeFile(leaf, "b.parquet", df(s"b$i"))
    }
  }

  override def afterAll(): Unit = {
    def rm(f: File): Unit = { if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); () }
    rm(root)
    super.afterAll()
  }

  test("swarm of tiny leaves compacts in O(1) jobs, all invariants hold") {
    val bagBefore = spark.read.parquet(root.getAbsolutePath + "/acct*/source=*/year=*/month=*")
      .collect().map(_.toString).sorted

    val (results, jobs) = JobLog.of(spark)(Compactor.run(spark, root.getAbsolutePath, cfg))

    results.size shouldBe nLeaves
    results.foreach(r => withClue(r) { r.success shouldBe true })
    // Solo merges cost >= 1 job per leaf; batched is a handful per slice
    // (listing, planning, one merged write). Allow generous slack — the
    // point is O(1) per slice, not an exact count.
    withClue(jobs.mkString("\n")) {
      jobs.size should be < nLeaves
      // the run lists once (FileIndexer); no merge read re-lists its inputs
      jobs.filter(_.description.startsWith("Listing leaf files")) shouldBe empty
    }

    // row preservation + naming + originals gone, per leaf
    (0 until nLeaves).foreach { i =>
      val leaf = new File(root, f"acct$i%03d/source=s$i%03d/year=2026/month=01")
      val names = leaf.listFiles().filter(_.getName.endsWith(".parquet")).map(_.getName).toSeq
      withClue(s"leaf $i: $names") {
        names.size shouldBe 1
        names.head should fullyMatch regex f"s$i%03d_$hex32\\.parquet"
      }
    }
    val bagAfter = spark.read.parquet(root.getAbsolutePath + "/acct*/source=*/year=*/month=*")
      .collect().map(_.toString).sorted
    bagAfter shouldBe bagBefore
  }

  test("heterogeneous-schema leaf falls back to solo merge and still succeeds") {
    val s = spark
    import s.implicits._
    val hroot = Files.createTempDirectory("graft-batch-het").toFile
    try {
      // two homogeneous leaves + one whose files disagree on schema
      Seq("h1", "h2").foreach { n =>
        val leaf = new File(hroot, s"acct/source=$n/year=2026/month=01"); leaf.mkdirs()
        writeFile(leaf, "a.parquet", df(s"$n-a")); writeFile(leaf, "b.parquet", df(s"$n-b"))
      }
      val het = new File(hroot, "acct/source=het/year=2026/month=01"); het.mkdirs()
      writeFile(het, "a.parquet", df("het-a"))
      writeFile(het, "b.parquet", (1 to 5).map(i => (i.toLong, s"x$i", i * 1.5)).toDF("id", "tag", "score"))

      val results = Compactor.run(spark, hroot.getAbsolutePath, cfg)
      results.size shouldBe 3
      results.foreach(r => withClue(r) { r.success shouldBe true })
      // the heterogeneous leaf kept every column (solo path uses mergeSchema)
      val hetOut = spark.read.parquet(het.getAbsolutePath)
      hetOut.columns.toSet shouldBe Set("id", "tag", "score")
      hetOut.count() shouldBe 25
    } finally {
      def rm(f: File): Unit = { if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); () }
      rm(hroot)
    }
  }

  test("a zero-row group survives the batch path (no partitionBy dir is written for it)") {
    val zroot = Files.createTempDirectory("graft-batch-zero").toFile
    try {
      // two normal tiny leaves + one whose files are footer-only (0 rows)
      Seq("z1", "z2").foreach { n =>
        val leaf = new File(zroot, s"acct/source=$n/year=2026/month=01"); leaf.mkdirs()
        writeFile(leaf, "a.parquet", df(s"$n-a")); writeFile(leaf, "b.parquet", df(s"$n-b"))
      }
      val empty = new File(zroot, "acct/source=empty/year=2026/month=01"); empty.mkdirs()
      writeFile(empty, "a.parquet", df("e").where(org.apache.spark.sql.functions.lit(false)))
      writeFile(empty, "b.parquet", df("e").where(org.apache.spark.sql.functions.lit(false)))

      val results = Compactor.run(spark, zroot.getAbsolutePath, cfg)
      results.size shouldBe 3
      results.foreach(r => withClue(r) { r.success shouldBe true })
      val er = results.find(_.leaf.contains("source=empty")).get
      er.rowsWritten shouldBe 0L
      // the empty originals are gone — the group converged instead of
      // re-failing forever
      empty.listFiles().count(_.getName.endsWith(".parquet")) should be <= 1
    } finally {
      def rm(f: File): Unit = { if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); () }
      rm(zroot)
    }
  }

  test("oversized plans are routed solo even when tiny plans batch") {
    val s = spark
    import s.implicits._
    val mroot = Files.createTempDirectory("graft-batch-mixed").toFile
    try {
      Seq("t1", "t2").foreach { n =>
        val leaf = new File(mroot, s"acct/source=$n/year=2026/month=01"); leaf.mkdirs()
        writeFile(leaf, "a.parquet", df(s"$n-a")); writeFile(leaf, "b.parquet", df(s"$n-b"))
      }
      val bigLeaf = new File(mroot, "acct/source=big/year=2026/month=01"); bigLeaf.mkdirs()
      writeFile(bigLeaf, "a.parquet", df("big-a", 40000))
      writeFile(bigLeaf, "b.parquet", df("big-b", 40000))

      // threshold sized so the big leaf exceeds it but stays a candidate
      val mixed = cfg.copy(targetFileBytes = 200L * 1024)
      val results = Compactor.run(spark, mroot.getAbsolutePath, mixed)
      results.size shouldBe 3
      results.foreach(r => withClue(r) { r.success shouldBe true })
      spark.read.parquet(bigLeaf.getAbsolutePath).count() shouldBe 80000
    } finally {
      def rm(f: File): Unit = { if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); () }
      rm(mroot)
    }
  }

  /** A leaf of `files` tiny files each, compacted to one output. */
  private def tinyLeaf(root: File, rel: String, files: Int, tag: String): LeafPlan = {
    val leaf = new File(root, rel); leaf.mkdirs()
    (0 until files).foreach(k => writeFile(leaf, s"f$k.parquet", df(s"$tag-$k")))
    val fs = leaf.listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    LeafPlan(leaf.getAbsolutePath, tag, fs.map(_.getAbsolutePath).toSeq, fs.map(_.length).sum)
  }

  private def rows(path: String): Seq[String] =
    spark.read.parquet(path).collect().map(_.toString).toSeq.sorted

  test("a batch over more than 32 inputs runs no listing and no schema-inference job") {
    val jroot = Files.createTempDirectory("graft-batch-jobs").toFile
    try {
      // 12 leaves x 3 files = 36 inputs, above Spark's 32-path threshold
      // for a distributed listing job; one leaf's path has a space and
      // an '=', which input_file_name() renders escaped
      val plans = (0 until 12).map { i =>
        val part = if (i == 5) "source=s 5=odd" else f"source=s$i%02d"
        tinyLeaf(jroot, s"acct/$part/year=2026/month=01", 3, f"s$i%02d")
      }
      val before = plans.map(p => rows(p.leaf))
      val (results, jobs) = JobLog.of(spark)(BatchMerger.mergeAndCommitBatch(spark, plans, cfg))
      results.foreach(r => withClue(r) { r.success shouldBe true })
      withClue(jobs.mkString("\n")) {
        jobs.filter(_.description.startsWith("Listing leaf files")) shouldBe empty
        // schema inference is the one job outside a SQL execution
        jobs.filterNot(_.sqlExecution) shouldBe empty
        // the staged write's shuffle map stage and its write job. A solo
        // fallback of any plan (e.g. a gid lookup miss on the escaped
        // path) would add that plan's own write job.
        jobs.size shouldBe 2
      }
      plans.zip(before).foreach { case (p, bag) =>
        val names = new File(p.leaf).listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSeq
        withClue(s"${p.leaf}: $names") { names.size shouldBe 1 }
        rows(p.leaf) shouldBe bag
      }
    } finally {
      def rm(f: File): Unit = { if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); () }
      rm(jroot)
    }
  }

  test("a solo merge of an evolving leaf submits no schema-merge job") {
    val s = spark
    import s.implicits._
    val sroot = Files.createTempDirectory("graft-solo-jobs").toFile
    try {
      val leaf = new File(sroot, "acct/source=ev/year=2026/month=01"); leaf.mkdirs()
      writeFile(leaf, "a.parquet", df("old"))
      writeFile(leaf, "b.parquet", (1 to 5).map(i => (i.toLong, s"x$i", i * 1.5)).toDF("id", "tag", "score"))
      val fs = leaf.listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      val plan = LeafPlan(leaf.getAbsolutePath, "ev", fs.map(_.getAbsolutePath).toSeq, fs.map(_.length).sum)
      val (r, jobs) = JobLog.of(spark)(Merger.mergeAndCommit(spark, plan, cfg))
      withClue(r) { r.success shouldBe true }
      withClue(jobs.mkString("\n")) {
        jobs.filterNot(_.sqlExecution) shouldBe empty
        jobs.size shouldBe 1 // the staged write
      }
      val out = spark.read.parquet(leaf.getAbsolutePath)
      out.columns.toSet shouldBe Set("id", "tag", "score")
      out.count() shouldBe 25
    } finally {
      def rm(f: File): Unit = { if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); () }
      rm(sroot)
    }
  }

  test("the gid lookup drops rows of a file missing from its map, so no plan's stage can hold them") {
    val groot = Files.createTempDirectory("graft-gid-miss").toFile
    try {
      val leaf = new File(groot, "leaf"); leaf.mkdirs()
      writeFile(leaf, "in.parquet", df("in", 3))
      writeFile(leaf, "out.parquet", df("out", 4))
      val scan = spark.read.parquet(leaf.getAbsolutePath)
      val inPath = scan.inputFiles.find(_.endsWith("in.parquet")).get
      val tagged = BatchMerger.withGid(scan, Map(inPath -> 7), "g")
      tagged.collect().map(r => (r.getAs[String]("tag"), r.getAs[Int]("g"))).toSeq shouldBe Seq.fill(3)(("in", 7))
    } finally {
      def rm(f: File): Unit = { if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); () }
      rm(groot)
    }
  }
}
