package lakebench

import java.io.File
import java.nio.file.{FileVisitResult, Files, LinkOption, Path, SimpleFileVisitor, StandardCopyOption}
import java.nio.file.attribute.{BasicFileAttributes, FileTime}

import scala.collection.mutable

import org.apache.spark.sql.{Encoders, SparkSession}

import graft.compact.{Compactor, CompactorConfig, FileIndexer, FileMeta, LeafResult, Planner}

/** A benchmark workload: a seeded fixture, a restore to it, and one rep. */
trait Workload {
  /** Builds the pristine fixture from the seed, from nothing. */
  def generate(): Unit

  /** Puts the lake back into its pristine state (untimed). */
  def restore(): Unit

  /** One rep from the restored state: timed calls plus their checks. */
  def rep(tr: Tracer, rec: Rec): Unit

  /** Self-test hook: damages the pristine fixture so the checks must trip. */
  def corrupt(): Unit

  /** Name of the span that times the workload's read-back of every leaf. */
  def scanSpan: String

  /** Work done once at the end of a traced run, after the measured reps:
    * context numbers by name. Its checks count in `rec`.
    */
  def context(tr: Tracer, rec: Rec): Map[String, Double] = Map.empty

  /** Facts about the generated fixture, for the detail artifact. */
  def shape: Map[String, Double] = Map.empty
}

object Workload {
  /** What `Compactor.run` does without a catalog, one span per layer: the
    * listing is materialized to count it, and planned from there.
    */
  def composition(spark: SparkSession, tr: Tracer, lakePath: String, cfg: CompactorConfig): Seq[LeafResult] = {
    val listed = tr.span("FileIndexer.list")(FileIndexer.list(spark, lakePath).collect().toSeq)
    val plans = tr.span("Planner.plan")(Planner.plan(spark, spark.createDataset(listed)(Encoders.product[FileMeta]), cfg))
    tr.count("FileIndexer.files_listed", listed.size)
    tr.count("Planner.groups", plans.size)
    tr.count("Planner.files_selected", plans.map(_.files.size).sum)
    tr.span("Compactor.runBatch")(Compactor.runBatch(spark, plans, cfg))
  }
}

/** What one rep measured and checked. `repS` is the sum of its timed
  * parts only; restores and checks are outside it. Every time is net of
  * host steal ([[Host.timed]]); `wall` and `repWallS` keep the raw wall
  * times for the detail artifact.
  */
final class Rec {
  val values = mutable.LinkedHashMap.empty[String, Double]
  val calls = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val wall = mutable.LinkedHashMap.empty[String, Double]
  var repS = 0.0
  var repWallS = 0.0
  var attempted = 0
  var failed = 0
  val problems = mutable.ArrayBuffer.empty[String]

  /** Times `body` into the per-rep total `key` (seconds). */
  def timed[T](key: String)(body: => T): T = {
    val (r, dt, w) = Host.timed(body)
    values(key) = values.getOrElse(key, 0.0) + dt
    add(key, dt, w)
    r
  }

  /** Times one call of `body` as a latency sample `key` (milliseconds). */
  def call[T](key: String)(body: => T): T = {
    val (r, dt, w) = Host.timed(body)
    calls.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += dt * 1e3
    add(key, dt, w)
    r
  }

  private def add(key: String, dt: Double, w: Double): Unit = {
    wall(key) = wall.getOrElse(key, 0.0) + w
    repS += dt
    repWallS += w
  }

  /** One operation of the workload: `body` runs it and returns whether its
    * result was correct. A throw or a wrong result counts as failed.
    */
  def op(what: String)(body: => Boolean): Unit = {
    attempted += 1
    val before = problems.size
    val ok =
      try body
      catch {
        case e: Throwable =>
          problems += s"$what threw ${e.toString.take(300)}"
          false
      }
    if (!ok) {
      failed += 1
      if (problems.size == before) problems += s"$what: wrong result"
    }
  }

  def fail(what: String): Boolean = { problems += what; false }
}

object Fsx {
  def rm(f: File): Unit = {
    if (f.isDirectory && !Files.isSymbolicLink(f.toPath)) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
    ()
  }

  /** Copies a tree, keeping every file's modification time. */
  def copyTree(src: File, dst: File): Unit = {
    val s = src.toPath
    val d = dst.toPath
    Files.walkFileTree(s, new SimpleFileVisitor[Path] {
      override def preVisitDirectory(dir: Path, a: BasicFileAttributes): FileVisitResult = {
        Files.createDirectories(d.resolve(s.relativize(dir)))
        FileVisitResult.CONTINUE
      }
      override def visitFile(f: Path, a: BasicFileAttributes): FileVisitResult = {
        Files.copy(f, d.resolve(s.relativize(f)), StandardCopyOption.COPY_ATTRIBUTES)
        FileVisitResult.CONTINUE
      }
    })
    ()
  }

  /** Every regular file under `root`. */
  def files(root: File): Seq[File] =
    if (!root.exists()) Seq.empty
    else if (root.isFile) Seq(root)
    else root.listFiles().toSeq.sortBy(_.getName).flatMap(files)

  /** Parquet data files a plain parquet reader of `root` would see:
    * no path component starting with `.` or `_`.
    */
  def visibleParquet(root: File): Seq[File] = {
    val base = root.toPath
    files(root).filter { f =>
      val rel = base.relativize(f.toPath)
      f.getName.endsWith(".parquet") &&
      (0 until rel.getNameCount).forall { i =>
        val n = rel.getName(i).toString
        !n.startsWith(".") && !n.startsWith("_")
      }
    }
  }

  def setMtime(f: File, ms: Long): Unit = {
    Files.setLastModifiedTime(f.toPath, FileTime.fromMillis(ms))
    ()
  }

  def mtime(f: File): Long = Files.getLastModifiedTime(f.toPath, LinkOption.NOFOLLOW_LINKS).toMillis

  /** Moves the single part file of a Spark write directory to `dst`. */
  def movePart(dir: File, dst: File): Unit = {
    val parts = dir.listFiles().filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    require(parts.length == 1, s"expected one part file in $dir, found ${parts.length}")
    dst.getParentFile.mkdirs()
    Files.move(parts.head.toPath, dst.toPath)
    ()
  }
}
