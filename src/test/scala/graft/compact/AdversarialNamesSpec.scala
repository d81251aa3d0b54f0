package graft.compact

import java.io.File
import java.nio.file.Files
import java.time.LocalDate

import org.apache.spark.sql.DataFrame
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** Names that the metadata records once could not carry — quotes,
  * commas, brackets, colons and pipes — go through whole commits and
  * reads: a manifest-mode compaction of such a file, a stats column
  * named with the old mini-format's separators, and a catalog pin on
  * such a leaf path.
  */
class AdversarialNamesSpec extends AnyFunSuite with Matchers with SparkSpec with BeforeAndAfterAll {

  private val asOf = LocalDate.parse("2026-06-20")
  private val staleMs = java.sql.Timestamp.valueOf("2026-06-01 00:00:00").getTime
  private var root: File = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    root = Files.createTempDirectory("graft-adversarial").toFile
  }

  override def afterAll(): Unit = {
    def rm(f: File): Unit = { if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); () }
    rm(root)
    super.afterAll()
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

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("a manifest-mode Compactor.run commits a file named a,\"b].parquet and reads back the same rows") {
    val s = spark
    import s.implicits._
    val lake = new File(root, "lake")
    val leaf = new File(lake, "acct/source=adv/year=2026/month=01")
    leaf.mkdirs()
    val odd = "a,\"b].parquet"
    val a = (1 to 10).map(i => (i.toLong, s"odd$i")).toDF("id", "tag")
    val b = (11 to 15).map(i => (i.toLong, s"plain$i")).toDF("id", "tag")
    writeFile(leaf, odd, a)
    writeFile(leaf, "plain.parquet", b)
    val cfg = CompactorConfig(
      targetFileBytes = 10L * 1024 * 1024, asOf = Some(asOf), commitMode = CommitMode.Manifest,
    )
    val results = Compactor.run(spark, lake.getAbsolutePath, cfg)
    withClue(results) {
      results.size shouldBe 1
      results.head.success shouldBe true
    }
    ManifestCommit.manifestLog(spark, leaf.getAbsolutePath).flatMap(_.inputs).toSet shouldBe Set(odd, "plain.parquet")
    rows(ManifestCommit.readLeaf(spark, leaf.getAbsolutePath)) shouldBe rows(a.union(b))
  }

  test("a stats column named m:x|y is recorded and prunes through readLeafWhere") {
    val s = spark
    import s.implicits._
    val leaf = new File(root, "stats/source=adv/year=2026/month=01")
    leaf.mkdirs()
    val col = "m:x|y"
    def data(lo: Int) = (lo until lo + 10).map(i => (i.toLong, i * 1.0)).toDF("id", col)
    val cfg = CompactorConfig(
      targetFileBytes = 10L * 1024 * 1024, commitMode = CommitMode.Manifest, statsColumns = Seq(col),
    )
    Seq(0, 100).foreach { lo =>
      val names = Seq(s"lo$lo.parquet", s"hi$lo.parquet")
      writeFile(leaf, names(0), data(lo))
      writeFile(leaf, names(1), data(lo + 50))
      val files = names.map(n => new File(leaf, n).getAbsolutePath)
      val r = Merger.mergeAndCommit(
        spark, LeafPlan(leaf.getAbsolutePath, s"s$lo", files, files.map(new File(_).length()).sum), cfg)
      withClue(r) { r.success shouldBe true }
    }
    val leafPath = leaf.getAbsolutePath
    val live = ManifestCommit.liveFiles(spark, leafPath)
    val stats = ManifestStats.read(FileIndexer.fsFor(spark, leafPath), leafPath)
    live.foreach(f => stats(ManifestCommit.relativeTo(leafPath, f)).cols.keySet shouldBe Set(col))
    ManifestStats.pruneFiles(stats, leafPath, live, col, 100d, 120d).size shouldBe 1
    rows(ManifestStats.readLeafWhere(spark, leafPath, col, 100d, 120d).select("id")) shouldBe
      (100 until 110).map(i => s"[$i]").sorted
  }

  test("a catalog pins a leaf path holding , and \" — inline and grouped — and resolves it") {
    val odd = "p=a,\"b\"/leaf"
    Seq(None, Some(2)).foreach { groups =>
      val cat = new File(root, s"cat-${groups.getOrElse(0)}").getAbsolutePath
      CatalogCommit.publish(spark, cat, Map(odd -> 3L, "plain" -> 1L), groups = groups)
      CatalogCommit.publish(spark, cat, Map(odd -> 4L))
      val cur = CatalogCommit.current(spark, cat).get
      withClue(groups) {
        cur.pin(odd) shouldBe Some(4L)
        cur.leaves shouldBe Map(odd -> 4L, "plain" -> 1L)
        CatalogCommit.snapshotAt(spark, cat, 1L).get.pin(odd) shouldBe Some(3L)
        CatalogCommit.oldestPins(spark, cat) shouldBe Map(odd -> 3L, "plain" -> 1L)
      }
    }
  }
}
