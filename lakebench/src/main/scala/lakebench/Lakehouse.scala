package lakebench

import java.io.File

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, pmod, sum}

import graft.compact.{CommitMode, Compactor, CompactorConfig, ManifestCommit, ManifestStats}

/** Writes beside reads on manifest-mode leaves. The pre-state holds two
  * leaves with stats and bloom sidecars on `l_orderkey` and two commits of
  * history each: a compaction, then a merge-on-read delete whose sidecar
  * is the backlog. One
  * rep lands arrivals (untimed), compacts them with a manifest-mode `Compactor.run`,
  * then per leaf makes one MoR delete commit, two bloom-pruned point reads
  * (an arrived key and a key the backlog deleted), one stats-pruned range
  * read and one full scan, and ends with one `Compactor.maintainAll` sweep
  * whose dial consolidates the two sidecars each leaf then holds.
  * Every result is checked against a row model: the generated rows plus
  * arrivals minus every deleted key.
  */
final class Lakehouse(spark: SparkSession, work: File, seed: Long, cores: Int) extends Workload {
  import Lakehouse._

  private val lake = new File(work, "lake")
  private val pristine = new File(work, "pristine")
  private val arrivalsDir = new File(work, "arrivals")
  private val cfg = CompactorConfig(
    asOf = Some(Gen.AsOf),
    maxConcurrentLeaves = cores,
    commitMode = CommitMode.Manifest,
    statsColumns = Seq(Key),
    bloomColumns = Seq(Key),
  )
  private val sweepCfg = cfg.copy(maintainDeleteSidecarsMax = Some(MaxSidecars))

  // facts about the pristine fixture, set by generate()
  private var leaves: Seq[String] = Nil
  private var pre: Map[Int, Vector[M]] = Map.empty
  private var arrivals: Map[Int, Vector[M]] = Map.empty
  private var arrivalFiles: Seq[(File, File, Long)] = Nil
  private var backlogKeys: Map[Int, Long] = Map.empty
  private var filesIn = 0
  private var bytesIn = 0L

  def scanSpan: String = "ManifestCommit.readLeaf"

  private def leafPath(i: Int) = new File(lake, leaves(i)).getAbsolutePath

  private def text(r: Row): String = Gen.names.map(n => String.valueOf(r.get(r.fieldIndex(n)))).mkString("|")

  def generate(): Unit = {
    Seq(lake, pristine, arrivalsDir).foreach(Fsx.rm)
    val stale = Gen.epochMs(Gen.AsOf.minusDays(40))
    leaves = (0 until Leaves).map(i => Gen.leafRel(if (i % 2 == 0) "OCP" else "Azure", Gen.hex(seed, i, 8), 2026, 1 + i % 2))
    val specs = for {
      i <- 0 until Leaves
      b <- 0 until 2
      j <- 0 until FilesPerBatch
    } yield {
      val dir = if (b == 0) new File(work, s"batch/${leaves(i)}") else new File(arrivalsDir, leaves(i))
      Gen.FileSpec(0, i, b, new File(dir, f"raw-$b-$j%02d.parquet"),
        i * 1000000L + b * 100000L + j * FileRows, FileRows, stale)
    }
    val numbered = specs.zipWithIndex.map { case (s, k) => s.copy(f = k) }
    Gen.write(spark, numbered, seed, new File(work, "stage"), cores)
    val rows = Gen.frame(spark, numbered, seed).collect()
    def model(group: Int) = rows.filter(_.getAs[Int]("group") == group)
      .map(r => r.getAs[Int]("leaf") -> M(r.getAs[Long](Key), r.getAs[Long]("l_partkey"), r.getAs[Double]("l_quantity"), text(r)))
      .groupBy(_._1).map { case (i, ms) => i -> ms.map(_._2).toVector }

    // history: a compaction commit, then the delete backlog
    numbered.filter(_.group == 0).foreach { s =>
      val dst = new File(lake, s"${leaves(s.leaf)}/${s.dst.getName}")
      dst.getParentFile.mkdirs()
      java.nio.file.Files.move(s.dst.toPath, dst.toPath)
    }
    val rs = Compactor.run(spark, lake.getAbsolutePath, cfg)
    require(rs.size == Leaves && rs.forall(_.success), s"pre-state commit failed: ${rs.flatMap(_.error).take(2)}")
    Fsx.rm(new File(work, "batch"))
    var base = model(0)
    backlogKeys = base.map { case (i, ms) =>
      i -> ms.iterator.map(_.key).find(k => Backlog.exists { case (m, v) => Math.floorMod(k, m) == v }).get
    }
    Backlog.foreach { case (m, r) =>
      (0 until Leaves).foreach { i =>
        val res = ManifestCommit.deleteWhereMoR(spark, leafPath(i), pmod(col(Key), lit(m)) === r, cfg)
        val n = base(i).count(x => Math.floorMod(x.key, m) == r)
        require(res.exists(x => x.success && x.rowsWritten == n), s"backlog delete on leaf $i: $res, expected $n rows")
        base = base.updated(i, base(i).filterNot(x => Math.floorMod(x.key, m) == r))
      }
    }
    pre = base
    arrivals = model(1)
    arrivalFiles = numbered.filter(_.group == 1).map(s => (s.dst, new File(lake, s"${leaves(s.leaf)}/${s.dst.getName}"), s.mtimeMs))
    val live = liveData()
    filesIn = live.size + arrivalFiles.size
    bytesIn = live.map(_.length()).sum + arrivalFiles.map(_._1.length()).sum
    Fsx.copyTree(lake, pristine)
  }

  /** Live data files of every leaf, without delete sidecars. */
  private def liveData(): Seq[File] =
    leaves.indices.flatMap(i => ManifestCommit.liveFiles(spark, leafPath(i)))
      .filterNot(p => p.contains("/.delete-") || p.contains("/.eqdel-"))
      .map(p => new File(new org.apache.hadoop.fs.Path(p).toUri.getPath))

  def restore(): Unit = {
    Fsx.rm(lake)
    Fsx.copyTree(pristine, lake)
  }

  def corrupt(): Unit = {
    // one arrival file carries another's rows: every call succeeds, the rows do not match
    java.nio.file.Files.copy(arrivalFiles(1)._1.toPath, arrivalFiles.head._1.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  def rep(tr: Tracer, rec: Rec): Unit = {
    val model = scala.collection.mutable.Map(pre.toSeq.map { case (i, ms) => i -> (ms ++ arrivals(i)) }: _*)
    // the arrivals land untimed, like the restore: copying them is not the program's work
    arrivalFiles.foreach { case (src, dst, mtime) =>
      java.nio.file.Files.copy(src.toPath, dst.toPath)
      Fsx.setMtime(dst, mtime)
    }
    rec.op("Compactor.run") {
      val rs = rec.timed("compact_s") {
        if (tr.tracing) Workload.composition(spark, tr, lake.getAbsolutePath, cfg)
        else Compactor.run(spark, lake.getAbsolutePath, cfg)
      }
      rs.size == Leaves && rs.forall(_.success) ||
        rec.fail(s"Compactor.run: ${rs.size} results, failures ${rs.flatMap(_.error).take(2).mkString("; ")}")
    }
    val rnd = new java.util.SplittableRandom(seed)
    leaves.indices.foreach { i =>
      val leaf = leafPath(i)
      if (tr.tracing) {
        val live = tr.span("ManifestCommit.liveFiles")(ManifestCommit.liveFiles(spark, leaf))
        tr.count("ManifestCommit.live_files", live.size)
        tr.count("ManifestCommit.manifests", ManifestCommit.manifestLog(spark, leaf).size)
        tr.count("ManifestCommit.live_deletes", ManifestCommit.liveDeletes(spark, leaf).size)
        tr.count("leaves", 1)
      }
      val r = Math.floorMod(seed + i, 97L)
      rec.op(s"deleteWhereMoR leaf $i") {
        val res = rec.call("commit_ms") {
          tr.span("ManifestCommit.deleteWhereMoR")(ManifestCommit.deleteWhereMoR(spark, leaf, pmod(col(Key), lit(97L)) === r, cfg))
        }
        val n = model(i).count(x => Math.floorMod(x.key, 97L) == r)
        model(i) = model(i).filterNot(x => Math.floorMod(x.key, 97L) == r)
        res.exists(x => x.success && x.rowsWritten == n) || rec.fail(s"deleteWhereMoR leaf $i: $res, expected $n rows")
      }
      val points = Seq(arrivals(i)(rnd.nextInt(arrivals(i).size)).key, backlogKeys(i))
      points.foreach { k =>
        rec.op(s"readLeafEquals leaf $i key $k") {
          val (df, got) = rec.call("point_ms") {
            tr.span("ManifestStats.readLeafEquals") {
              val df = ManifestStats.readLeafEquals(spark, leaf, Key, k)
              (df, df.collect())
            }
          }
          if (tr.tracing) pruning(tr, "readLeafEquals", df, leaf)
          val want = model(i).filter(_.key == k).map(_.text).sorted
          got.map(text).toSeq.sorted == want || rec.fail(s"readLeafEquals leaf $i key $k: ${got.length} rows, expected ${want.size}")
        }
      }
      val lo = pre(i)(rnd.nextInt(pre(i).size)).key.toDouble
      val hi = lo + RangeKeys
      rec.op(s"readLeafWhere leaf $i [$lo, $hi]") {
        val (df, got) = rec.call("range_ms") {
          tr.span("ManifestStats.readLeafWhere") {
            val df = ManifestStats.readLeafWhere(spark, leaf, Key, lo, hi)
            (df, df.collect())
          }
        }
        if (tr.tracing) pruning(tr, "readLeafWhere", df, leaf)
        val want = model(i).filter(x => x.key >= lo && x.key <= hi).map(_.text).sorted
        got.map(text).toSeq.sorted == want || rec.fail(s"readLeafWhere leaf $i [$lo, $hi]: ${got.length} rows, expected ${want.size}")
      }
      rec.op(s"readLeaf leaf $i") {
        val got = rec.timed("scan_s")(tr.span("ManifestCommit.readLeaf")(scanSums(leaf)))
        got == sums(model(i)) || rec.fail(s"readLeaf leaf $i: $got, expected ${sums(model(i))}")
      }
    }
    val backlog = if (tr.tracing) leaves.indices.map(i => ManifestCommit.liveDeletes(spark, leafPath(i)).size).sum else 0
    rec.op("Compactor.maintainAll") {
      val swept = rec.timed("sweep_s")(tr.span("Compactor.maintainAll")(Compactor.maintainAll(spark, lake.getAbsolutePath, sweepCfg)))
      val left = leaves.indices.map(i => ManifestCommit.liveDeletes(spark, leafPath(i)).count(ManifestCommit.isPosDeletePath))
      tr.count("Compactor.maintainAll.leaves_swept", swept.toDouble)
      tr.count("Compactor.maintainAll.sidecars_consolidated", (backlog - left.sum).toDouble)
      swept == Leaves && left.forall(_ <= MaxSidecars) ||
        rec.fail(s"maintainAll swept $swept leaves, sidecars left per leaf: ${left.mkString(",")}")
    }
    leaves.indices.foreach { i =>
      rec.op(s"readLeaf after sweep leaf $i") {
        val got = scanSums(leafPath(i))
        got == sums(model(i)) || rec.fail(s"readLeaf after sweep leaf $i: $got, expected ${sums(model(i))}")
      }
    }
    val out = liveData()
    rec.values("files_out_per_in") = out.size.toDouble / filesIn
    rec.values("bytes_out_per_in") = out.map(_.length()).sum.toDouble / bytesIn
  }

  private def scanSums(leaf: String): (Long, Long, Long, Double) = {
    val r = ManifestCommit.readLeaf(spark, leaf)
      .agg(count(lit(1)), sum(col(Key)), sum(col("l_partkey")), sum(col("l_quantity"))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
  }

  private def sums(ms: Vector[M]): (Long, Long, Long, Double) =
    (ms.size.toLong, ms.map(_.key).sum, ms.map(_.part).sum, ms.map(_.qty).sum)

  /** Counts the data files a pruned read scans against the leaf's live ones. */
  private def pruning(tr: Tracer, op: String, df: org.apache.spark.sql.DataFrame, leaf: String): Unit = {
    def data(ps: Seq[String]) = ps.count(p => !p.contains("/.delete-") && !p.contains("/.eqdel-")).toDouble
    tr.count(s"ManifestStats.$op.kept", data(df.inputFiles.toSeq))
    tr.count(s"ManifestStats.$op.live", data(ManifestCommit.liveFiles(spark, leaf)))
  }
}

object Lakehouse {
  /** A model row: the key, the summed columns, and every column as text. */
  final case class M(key: Long, part: Long, qty: Double, text: String)

  val Leaves = 2
  val FilesPerBatch = 4
  val FileRows = 500L
  val Key = "l_orderkey"
  val RangeKeys = 30.0
  val MaxSidecars = 1
  /** (modulus, residue) of the pre-state MoR delete on `l_orderkey`. */
  val Backlog: Seq[(Long, Long)] = Seq((101L, 3L))
}
