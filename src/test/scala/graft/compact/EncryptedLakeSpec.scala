package graft.compact

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.time.LocalDate
import java.util.Base64

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.crypto.keytools.KmsClient
import org.apache.spark.sql.DataFrame
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** A toy KMS for the spec below: a "wrapped" key is the master key id
  * and the key bytes, Base64-encoded. Not a secret store; it only lets
  * parquet's properties-driven crypto factory run without a server.
  */
class Base64TestKms extends KmsClient {
  override def initialize(conf: Configuration, instanceId: String, instanceUrl: String, token: String): Unit = ()

  override def wrapKey(key: Array[Byte], masterKeyId: String): String =
    Base64.getEncoder.encodeToString(masterKeyId.getBytes(UTF_8) ++ Array[Byte](0) ++ key)

  override def unwrapKey(wrapped: String, masterKeyId: String): Array[Byte] = {
    val bytes = Base64.getDecoder.decode(wrapped)
    val id = masterKeyId.getBytes(UTF_8)
    require(bytes.take(id.length).sameElements(id) && bytes(id.length) == 0, s"not wrapped under $masterKeyId")
    bytes.drop(id.length + 1)
  }
}

/** Compaction of a lake written under session-level Parquet Modular
  * Encryption (encrypted footers, one uniform key). `spark.read` reads
  * such a lake through the session's Hadoop conf; every driver-side
  * footer read of the compactor must too, or every merge fails with
  * "Trying to read file with encrypted footer". Both commit modes run
  * the batch path (two leaves of one schema) and the solo path (a leaf
  * of another schema).
  */
class EncryptedLakeSpec extends AnyFunSuite with Matchers with SparkSpec with BeforeAndAfterAll {

  private val asOf = LocalDate.parse("2026-06-20")
  private val staleMs = java.sql.Timestamp.valueOf("2026-06-10 00:00:00").getTime

  private val crypto = Seq(
    "parquet.crypto.factory.class" -> "org.apache.parquet.crypto.keytools.PropertiesDrivenCryptoFactory",
    "parquet.encryption.kms.client.class" -> classOf[Base64TestKms].getName,
    "parquet.encryption.uniform.key" -> "lakeKey",
  )

  private var root: File = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    root = Files.createTempDirectory("graft-encrypted").toFile
  }

  override def afterAll(): Unit = {
    def rm(f: File): Unit = { if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); () }
    rm(root)
    super.afterAll()
  }

  /** `body` with the crypto settings on the shared session's Hadoop
    * conf, restored afterwards whatever happens.
    */
  private def encrypted[T](body: => T): T = {
    val conf = spark.sparkContext.hadoopConfiguration
    val old = crypto.map { case (k, _) => k -> Option(conf.get(k)) }
    crypto.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  private def rows(tag: String, lo: Long, extra: Boolean): DataFrame = {
    val s = spark
    import s.implicits._
    val base = (lo until lo + 40).map(i => (i, s"$tag-$i")).toDF("id", "tag")
    if (extra) base.withColumn("score", base("id") * 0.5) else base
  }

  /** Three stale files in `leaf`, the third schema if `extra`. */
  private def writeLeaf(leaf: File, extra: Boolean): Unit = {
    leaf.mkdirs()
    (0 until 3).foreach { i =>
      val tmp = new File(leaf, s".tmp-$i")
      rows(leaf.getName, i * 100L, extra).coalesce(1).write.parquet(tmp.getAbsolutePath)
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      val dest = new File(leaf, s"part-$i.parquet")
      Files.move(part.toPath, dest.toPath)
      tmp.listFiles().foreach(_.delete()); tmp.delete()
      dest.setLastModified(staleMs)
    }
  }

  /** Two same-schema leaves (batched together) and one leaf of another
    * schema (merged solo), three stale files each.
    */
  private def writeLake(name: String): (File, Seq[File]) = {
    val lakeRoot = new File(root, name)
    val leaves = Seq("a", "b", "c").map(s => new File(lakeRoot, s"acct/source=$s/year=2026/month=05"))
    leaves.zipWithIndex.foreach { case (l, i) => writeLeaf(l, extra = i == 2) }
    (lakeRoot, leaves)
  }

  private def bag(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def parquetNames(dir: File): Seq[String] =
    dir.listFiles().filter(f => f.isFile && f.getName.endsWith(".parquet")).map(_.getName).toSeq

  test("rename-mode compaction of an encrypted lake keeps every row") {
    encrypted {
      val (lakeRoot, leaves) = writeLake("rename")
      // the footers really are encrypted: the magic at both ends is PARE
      val sample = new File(leaves.head, "part-0.parquet").toPath
      new String(Files.readAllBytes(sample).takeRight(4), UTF_8) shouldBe "PARE"
      val before = leaves.map(l => bag(spark.read.parquet(l.getAbsolutePath)))

      val results = Compactor.run(spark, lakeRoot.getAbsolutePath, CompactorConfig(asOf = Some(asOf)))
      results.map(r => new Path(r.leaf).toUri.getPath).sorted shouldBe leaves.map(_.getAbsolutePath).sorted
      results.foreach(r => withClue(r) { r.success shouldBe true })

      leaves.zip(before).foreach { case (l, b) =>
        parquetNames(l) should have size 1
        bag(spark.read.parquet(l.getAbsolutePath)) shouldBe b
      }
    }
  }

  test("manifest-mode compaction of an encrypted lake seals a stats sidecar per commit") {
    encrypted {
      val (lakeRoot, leaves) = writeLake("manifest")
      val before = leaves.map(l => bag(spark.read.parquet(l.getAbsolutePath)))
      val cfg = CompactorConfig(asOf = Some(asOf), commitMode = CommitMode.Manifest, statsColumns = Seq("id"))

      val results = Compactor.run(spark, lakeRoot.getAbsolutePath, cfg)
      results.map(r => new Path(r.leaf).toUri.getPath).sorted shouldBe leaves.map(_.getAbsolutePath).sorted
      results.foreach(r => withClue(r) { r.success shouldBe true })

      leaves.zip(before).foreach { case (l, b) =>
        val leaf = l.getAbsolutePath
        val live = ManifestCommit.liveFiles(spark, leaf)
        live should have size 1
        bag(ManifestCommit.readLeaf(spark, leaf)) shouldBe b
        val stats = ManifestStats.read(FileIndexer.fsFor(spark, leaf), leaf)
        val rel = ManifestCommit.relativeTo(leaf, live.head)
        withClue(stats) {
          stats.keySet shouldBe Set(rel)
          stats(rel).rows shouldBe 120L
          stats(rel).cols("id") shouldBe ManifestStats.ColStat(0.0, 239.0, 0L)
        }
      }
    }
  }
}
