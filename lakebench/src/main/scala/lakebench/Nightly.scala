package lakebench

import java.io.File

import org.apache.spark.sql.SparkSession

import graft.compact.{Compactor, CompactorConfig}

/** The paper's nightly operation: one rename-mode `Compactor.run` over a
  * koku-shaped lake of stale small files, then a read-back of every
  * compacted leaf, one aggregate query per leaf as a per-partition
  * consumer reads it.
  *
  * Lake: 10 compactable leaves of 16 stale small files each, every file
  * about 1.5k rows of the `lineitem` fixture. Leaves 0-7 stay under the
  * 1 MiB target size (the batched `BatchMerger` path), leaves
  * 8-9 exceed it (the solo `Merger` path). Distractors the planner must
  * leave alone: fresh files, over-target files, an older compacted tail
  * beside the newest one (which the planner re-includes), and two
  * current-month AWS/Azure leaves.
  */
final class Nightly(spark: SparkSession, work: File, seed: Long, cores: Int, root: File) extends Workload {
  import Nightly._

  private val lake = new File(work, "lake")
  private val pristine = new File(work, "pristine")
  private val cfg = CompactorConfig(
    targetFileBytes = TargetBytes,
    asOf = Some(Gen.AsOf),
    maxConcurrentLeaves = cores,
  )

  // facts about the pristine fixture, set by generate()
  private var leaves: Seq[String] = Nil
  private var expected: Map[String, (Long, java.math.BigDecimal)] = Map.empty
  private var distractors: Seq[(String, Long, Long)] = Nil
  private var consumed: Seq[String] = Nil
  private var filesIn = 0
  private var bytesIn = 0L
  private var inputFiles: Seq[(Long, Long)] = Nil

  override def shape: Map[String, Double] = Map(
    "lake_files" -> filesIn.toDouble,
    "lake_bytes" -> bytesIn.toDouble,
    "input_files" -> inputFiles.size.toDouble,
    "input_bytes_mean" -> inputFiles.map(_._1).sum.toDouble / inputFiles.size,
    "input_rows_mean" -> inputFiles.map(_._2).sum.toDouble / inputFiles.size,
    "small_file_bytes_mean" -> {
      val small = inputFiles.filter(_._2 == SmallFileRows).map(_._1)
      small.sum.toDouble / small.size
    },
  )

  def scanSpan: String = "scan"

  def generate(): Unit = {
    Fsx.rm(lake)
    Fsx.rm(pristine)
    val stale = Gen.epochMs(Gen.AsOf.minusDays(47))
    val fresh = Gen.epochMs(Gen.AsOf.minusDays(1))
    val oldTail = Gen.epochMs(Gen.AsOf.minusDays(100))
    val newTail = Gen.epochMs(Gen.AsOf.minusDays(64))
    val providers = Seq("AWS", "Azure", "OCP")
    val specs = scala.collection.mutable.ArrayBuffer.empty[(Gen.FileSpec, String)]
    var nextId = 0L
    def add(leaf: Int, rel: String, name: String, rows: Long, mtime: Long, role: String): Unit = {
      specs += ((Gen.FileSpec(specs.size, leaf, 0, new File(lake, s"$rel/$name"), nextId, rows, mtime), role))
      nextId += rows
    }
    val rels = (0 until CompactableLeaves + 2).map { i =>
      val source = Gen.hex(seed, i, 8)
      if (i >= CompactableLeaves) Gen.leafRel(providers(i - CompactableLeaves), source, 2026, 3)
      else {
        val p = providers(i % 3)
        // OCP is never volatile, so some OCP leaves sit in the current month
        val month = if (p == "OCP" && i % 2 == 0) 3 else 1 + (i / 3) % 2
        Gen.leafRel(p, source, 2026, month)
      }
    }
    rels.zipWithIndex.foreach { case (rel, i) =>
      val stem = rel.split("source=")(1).takeWhile(_ != '/')
      val volatile = i >= CompactableLeaves
      val rows = if (i >= SmallLeaves && !volatile) BigFileRows else SmallFileRows
      (0 until FilesPerLeaf).foreach { j =>
        add(i, rel, f"raw-$j%03d.parquet", rows, stale, if (volatile) "distractor" else "input")
      }
      if (!volatile) {
        if (FreshLeaves(i)) (0 until 2).foreach(j => add(i, rel, s"fresh-$j.parquet", SmallFileRows, fresh, "distractor"))
        if (OverLeaves(i)) add(i, rel, "big-000.parquet", OverFileRows, stale, "distractor")
        if (TailLeaves(i)) {
          add(i, rel, s"${stem}_${Gen.hex(seed, 1000 + i, 32)}.parquet", TailRows, oldTail, "distractor")
          add(i, rel, s"${stem}_${Gen.hex(seed, 2000 + i, 32)}.parquet", TailRows, newTail, "input")
        }
      }
    }
    Gen.write(spark, specs.map(_._1).toSeq, seed, new File(work, "stage"), cores)

    def rel(f: File) = lake.toPath.relativize(f.toPath).toString
    val byLeaf = specs.groupBy(_._1.leaf)
    (0 until CompactableLeaves).foreach { i =>
      val in = byLeaf(i).filter(_._2 == "input").map(_._1.dst.length()).sum
      val fits = i < SmallLeaves
      require(if (fits) in <= TargetBytes else in > TargetBytes,
        s"leaf $i: $in input bytes should be ${if (fits) "within" else "over"} the $TargetBytes target")
    }
    specs.filter(s => OverLeaves(s._1.leaf) && s._1.dst.getName.startsWith("big-")).foreach { case (s, _) =>
      require(s.dst.length() >= TargetBytes, s"${s.dst} (${s.dst.length()} bytes) is not over the $TargetBytes target")
    }
    leaves = rels.take(CompactableLeaves)
    distractors = specs.filter(_._2 == "distractor").map { case (s, _) => (rel(s.dst), s.dst.length(), s.mtimeMs) }.toSeq
    consumed = specs.filter(_._2 == "input").map(s => rel(s._1.dst)).toSeq
    inputFiles = specs.filter(_._2 == "input").map(s => (s._1.dst.length(), s._1.rows)).toSeq
    val digests = Gen.frame(spark, specs.map(_._1).toSeq, seed)
      .groupBy("leaf").agg(Gen.digestCols.head, Gen.digestCols.tail: _*)
      .collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getDecimal(2))))
      .toMap
    expected = leaves.zipWithIndex.map { case (l, i) => l -> digests(i) }.toMap
    val visible = Fsx.visibleParquet(lake)
    filesIn = visible.size
    bytesIn = visible.map(_.length()).sum
    Fsx.copyTree(lake, pristine)
  }

  def restore(): Unit = {
    Fsx.rm(lake)
    Fsx.copyTree(pristine, lake)
  }

  def corrupt(): Unit = {
    // one input file goes missing: the run still succeeds, the leaf's rows do not match
    new File(pristine, consumed.head).delete()
    ()
  }

  def rep(tr: Tracer, rec: Rec): Unit = {
    val lakePath = lake.getAbsolutePath
    rec.op("Compactor.run") {
      val results = rec.timed("compact_s") {
        if (tr.tracing) Workload.composition(spark, tr, lakePath, cfg) else Compactor.run(spark, lakePath, cfg)
      }
      results.size == leaves.size && results.forall(_.success) ||
        rec.fail(s"Compactor.run: ${results.size} results for ${leaves.size} leaves, " +
          s"failures: ${results.filterNot(_.success).flatMap(_.error).take(2).mkString("; ")}")
    }
    leaves.foreach { rel =>
      rec.op(s"read-back $rel") {
        val got = rec.timed("scan_s")(tr.span("scan")(Gen.digest(spark.read.parquet(s"$lakePath/$rel"))))
        Gen.sameDigest(got, expected(rel)) || rec.fail(s"read-back $rel: digest $got, expected ${expected(rel)}")
      }
    }
    rec.op("distractors untouched") {
      distractors.forall { case (rel, size, mtime) =>
        val f = new File(lake, rel)
        f.isFile && f.length() == size && Fsx.mtime(f) == mtime || rec.fail(s"distractor $rel was changed")
      }
    }
    rec.op("inputs merged away") {
      consumed.forall(rel => !new File(lake, rel).exists() || rec.fail(s"input $rel is still in the lake"))
    }
    val out = Fsx.visibleParquet(lake)
    rec.values("files_out_per_in") = out.size.toDouble / filesIn
    rec.values("bytes_out_per_in") = out.map(_.length()).sum.toDouble / bytesIn
  }

  /** The reference-style single-process compactor on a copy of the same
    * lake, for context beside `compact_s`; then the registry query passes.
    */
  override def context(tr: Tracer, rec: Rec): Map[String, Double] = {
    Registry.run(spark, work, seed, cores, tr, rec)
    restore()
    val tool = new File(root, "tools/reference_style_compact.py")
    val p = new ProcessBuilder("python3", tool.getAbsolutePath, lake.getAbsolutePath)
      .directory(root).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(p.getInputStream).getLines().toList
    require(p.waitFor() == 0, s"reference compactor failed: ${out.takeRight(5).mkString(" | ")}")
    val sec = out.flatMap { l =>
      if (!l.contains("\"ref_compact_sec\"")) None
      else "\"value\"\\s*:\\s*([0-9.eE+-]+)".r.findFirstMatchIn(l).map(_.group(1).toDouble)
    }.headOption
    Map("ref_compact_s" -> sec.getOrElse(sys.error(s"no timing in reference output: ${out.mkString(" | ")}")))
  }
}

object Nightly {
  val CompactableLeaves = 10
  val SmallLeaves = 8
  val FilesPerLeaf = 16
  /** sf0.1 `lineitem` (600k rows) cut into 384 files, as in the lake the
    * numbers in NOTES.md were first measured on.
    */
  val SmallFileRows = 1562L
  val BigFileRows = 3125L
  val OverFileRows = 72000L
  val TailRows = 1562L
  /** Above a small leaf's 16 files, below a big leaf's. */
  val TargetBytes: Long = 1024L * 1024
  val FreshLeaves: Set[Int] = Set(0, 4, 8)
  val OverLeaves: Set[Int] = Set(2, 9)
  val TailLeaves: Set[Int] = Set(1, 5)
}
