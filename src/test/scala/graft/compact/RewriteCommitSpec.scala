package graft.compact

import java.io.File
import java.net.URI
import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, Path}
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** Counts, per path, the opens made outside any Spark task: a footer
  * read by `KnownFiles` is one open.
  */
class OpenCountFs extends GraftTestFs {
  override def getScheme: String = "opencountfs"
  override def getUri: URI = URI.create("opencountfs:///")

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    if (org.apache.spark.TaskContext.get() == null)
      OpenCountFs.opens.computeIfAbsent(f.toUri.getPath, _ => new AtomicInteger).incrementAndGet()
    super.open(f, bufferSize)
  }
}

object OpenCountFs {
  val opens = new ConcurrentHashMap[String, AtomicInteger]
}

/** The job shape of a copy-on-write DML commit: the classification scan
  * and the rewrite both read from one footer probe of the candidates, so
  * no commit re-lists its inputs or infers their schema in a job.
  */
class RewriteCommitSpec extends AnyFunSuite with Matchers with SparkSpec with BeforeAndAfterAll {

  private val cfg = CompactorConfig(commitMode = CommitMode.Manifest)
  private var root: File = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.hadoopConfiguration.set("fs.opencountfs.impl", classOf[OpenCountFs].getName)
    root = Files.createTempDirectory("graft-rewrite").toFile
  }

  override def afterAll(): Unit = {
    def rm(f: File): Unit = { if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); () }
    rm(root)
    super.afterAll()
  }

  /** 34 raw arrivals of ten consecutive ids each (above Spark's 32-path
    * threshold for a distributed listing job); `id % 10 = 0` hits every
    * file once. Returns the leaf on the counting scheme and its files.
    */
  private def leaf(name: String): (String, Seq[String]) = {
    val dir = new File(root, name)
    spark.range(0, 340, 1, 34).select(col("id"), (col("id") % 7).as("v")).write.parquet(dir.getAbsolutePath)
    val files = dir.listFiles().map(_.getName).filter(_.endsWith(".parquet")).sorted.toSeq
    files.size shouldBe 34
    (s"opencountfs:${dir.getAbsolutePath}", files.map(f => new File(dir, f).getAbsolutePath))
  }

  /** `commit` over a fresh 34-file leaf runs `expectedJobs` jobs, all
    * inside SQL executions, and opens each input footer once outside
    * any task.
    */
  private def check(name: String, expectedJobs: Int)(commit: String => Option[LeafResult]): Unit = {
    val (l, files) = leaf(name)
    OpenCountFs.opens.clear()
    val (r, jobs) = JobLog.of(spark)(commit(l))
    withClue(r) { r.get.success shouldBe true }
    withClue(jobs.mkString("\n")) {
      jobs.filter(_.description.startsWith("Listing leaf files")) shouldBe empty
      // listing and schema inference are the jobs outside a SQL execution
      jobs.filterNot(_.sqlExecution) shouldBe empty
      jobs.size shouldBe expectedJobs
    }
    val counts = OpenCountFs.opens.asScala.map { case (p, n) => p -> n.get }
    files.foreach(f => withClue(f) { counts.getOrElse(f, 0) shouldBe 1 })
  }

  test("deleteWhere over more than 32 hit files: no listing job, no schema job, one footer open a file") {
    // the classification's shuffle map and result jobs, then the write
    check("delete", 3)(l => ManifestCommit.deleteWhere(spark, l, col("id") % 10 === 0, cfg))
  }

  test("updateWhere over more than 32 hit files: no listing job, no schema job, one footer open a file") {
    check("update", 3)(l => ManifestCommit.updateWhere(spark, l, col("id") % 10 === 0, Map("v" -> lit(-1L)), cfg))
  }

  test("merge over more than 32 hit files: no listing job, no schema job, one footer open a file") {
    // the source aggregate and key collect run before the classification
    check("merge", 10) { l =>
      val source = spark.range(0, 350, 10).select(col("id"), lit(-1L).as("v"))
      ManifestCommit.merge(spark, l, source, Seq("id"), cfg)
    }
  }
}
