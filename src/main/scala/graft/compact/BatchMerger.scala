package graft.compact

import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Many-tiny-leaf merge: N small output groups in one staged write.
  *
  * The reference's daily reality is thousands of tiny leaves
  * (parquet_compactor.py:295-328 iterates them serially); the per-leaf
  * [[Merger]] keeps that shape — at least one write job per group —
  * which at swarm scale is driver-bound on fixed job overhead, not I/O.
  * Here a batch of schema-homogeneous tiny plans becomes:
  *
  *   1. one scan of every input file, built from the driver's footer
  *      probe ([[KnownFiles]]: no listing job, no schema-inference job),
  *      tagged with its plan's `__gid` (dense plan index) by a hash
  *      lookup of `input_file_name()` ([[withGid]]),
  *   2. one `repartition(__gid)` + `partitionBy(__gid)` staged write —
  *      each group lands in its own `__gid=K/` subdir, WITHOUT the
  *      synthetic column (partitionBy keeps it out of the data files),
  *   3. per-plan validation (staged footer rows == input footer rows) and
  *      per-plan commit (rename to `{stem}_{32hex}.parquet`, delete
  *      originals) — exactly [[Merger]]'s invariants, still isolated per
  *      group: one failed validation skips only that plan.
  *
  * A batch costs two Spark jobs whatever its size: the write's shuffle
  * map stage and the write itself.
  *
  * Plans whose input files disagree on footer schema (needs mergeSchema),
  * or that fail batch validation (e.g. a path the gid lookup couldn't tag),
  * fall back to the solo [[Merger]] — correctness never depends on the
  * batch path succeeding.
  */
object BatchMerger {

  private final case class Probe(plan: LeafPlan, files: Seq[KnownFiles.Known]) {
    val rowsIn: Long = files.map(_.rows).sum
    val schemas: Set[String] = files.map(_.meta.getSchema.toString).toSet
  }

  /** Every input of every plan stat'ed and footer-read once
    * ([[KnownFiles.probe]]): the footers give the schema split below,
    * the row-count anchor for commit validation, and the scan's file
    * index and schema, so the merge read lists and infers nothing.
    */
  private def probe(spark: SparkSession, plans: Seq[LeafPlan]): Seq[Probe] = {
    val known = KnownFiles.probe(spark, plans.flatMap(_.files))
    val offsets = plans.scanLeft(0)(_ + _.files.size)
    plans.zip(offsets).map { case (p, o) => Probe(p, known.slice(o, o + p.files.size)) }
  }

  def mergeAndCommitBatch(spark: SparkSession, plans: Seq[LeafPlan], cfg: CompactorConfig): Seq[LeafResult] = {
    if (plans.isEmpty) return Seq.empty
    val probed =
      try probe(spark, plans)
      catch {
        case _: Throwable => return plans.map(Merger.mergeAndCommit(spark, _, cfg))
      }
    val (homog, mixed) = probed.partition(_.schemas.size == 1)
    // schema-mixed plans keep the bounded-pool concurrency of the normal
    // per-leaf path — they are ordinary solo merges, just routed here
    val soloResults = Compactor.runPlans(spark, mixed.map(_.plan), cfg)
    // One job per (schema, filesystem) group: a single read can't span
    // schemas without mergeSchema, and commit renames can't span
    // filesystems.
    val grouped = homog.groupBy { p =>
      val uri = new Path(p.plan.leaf).toUri
      (p.schemas.head, s"${uri.getScheme}//${uri.getAuthority}")
    }
    val batchResults = grouped.values.toSeq.flatMap { group =>
      if (group.size == 1) Compactor.runPlans(spark, group.map(_.plan), cfg)
      else mergeGroup(spark, group, cfg)
    }
    (soloResults ++ batchResults).sortBy(r => (r.leaf, r.stem))
  }

  private def mergeGroup(spark: SparkSession, group: Seq[Probe], cfg: CompactorConfig): Seq[LeafResult] = {
    val runId = UUID.randomUUID().toString.replace("-", "")
    val stagingRoot = s"${group.head.plan.leaf}/.staging-$runId"
    val fs = FileIndexer.fsFor(spark, group.head.plan.leaf)
    // runId-suffixed helper column: a data column literally named
    // "__gid" must survive the merge untouched (withColumn would
    // silently REPLACE it and drop real data)
    val gidCol = s"__gid_$runId"
    try {
      // keyed by the exact string input_file_name() reports: the scan
      // reads these very statuses, so both sides render the path the
      // same way (scheme, escaped spaces)
      val pathToGid = group.zipWithIndex.flatMap { case (p, gid) =>
        p.files.map(k => k.inputFileName -> gid)
      }.toMap
      val tagged = withGid(
        KnownFiles.read(spark, group.flatMap(_.files), KnownFiles.sessionMergeSchema(spark)),
        pathToGid, gidCol,
      )
      // ~one partition per group: every plan here is under targetFileBytes,
      // so a group is at most one output file (modulo the row cap, which
      // maxRecordsPerFile still enforces). Hash collisions just mean one
      // task writes several gid dirs.
      tagged
        .repartition(group.size, col(gidCol))
        .write
        .option("compression", "snappy")
        .option("maxRecordsPerFile", cfg.maxRowsPerFile)
        .partitionBy(gidCol)
        .parquet(stagingRoot)

      val results = group.zipWithIndex.map { case (p, gid) =>
        commitOne(spark, fs, p, s"$stagingRoot/$gidCol=$gid", cfg)
      }
      fs.delete(new Path(stagingRoot), true)
      results
    } catch {
      case e: Throwable =>
        try fs.delete(new Path(stagingRoot), true)
        catch { case _: Throwable => () }
        // the batch vehicle failed, not any one plan — retry on the
        // normal bounded-pool path
        System.err.println(s"[compact] batch merge failed (${e.toString}); retrying ${group.size} plans solo")
        Compactor.runPlans(spark, group.map(_.plan), cfg)
    }
  }

  /** `df` with its rows' plan index in `gidCol`, looked up by
    * `input_file_name()` in a hash map shipped with the task closure —
    * no job, unlike a broadcast join, and O(1) per row, unlike Catalyst's
    * literal-map `element_at`, which scans the keys. A row whose file is
    * missing from the map is dropped, so no plan's stage holds it and
    * that plan fails row-count validation and falls back solo.
    */
  private[compact] def withGid(df: DataFrame, pathToGid: Map[String, Int], gidCol: String): DataFrame = {
    val gidOf = udf((path: String) => pathToGid.get(path))
    df.withColumn(gidCol, gidOf(input_file_name())).where(col(gidCol).isNotNull)
  }

  /** Validate one plan's staged subdir against its input footer rows and
    * commit it — or leave its originals untouched and fall back solo.
    */
  private def commitOne(
      spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      p: Probe,
      stagedDir: String,
      cfg: CompactorConfig,
  ): LeafResult = {
    try {
      // a 0-row group writes no partitionBy dir at all — that's a valid
      // empty stage (validated as 0 rows below), not an error
      val probed =
        try KnownFiles.staged(spark, stagedDir)
        catch { case _: java.io.FileNotFoundException => IndexedSeq.empty }
      val staged = probed.map(_.status)
      val rowsStaged = probed.map(_.rows).sum
      if (rowsStaged != p.rowsIn) {
        System.err.println(
          s"[compact] batch validation failed for ${p.plan.leaf}/${p.plan.stem} " +
            s"(staged $rowsStaged != input ${p.rowsIn}); retrying solo",
        )
        return Merger.mergeAndCommit(spark, p.plan, cfg)
      }
      if (cfg.commitMode == CommitMode.Manifest) return commitOneManifest(spark, fs, p, staged, rowsStaged, cfg)
      // Track every output that actually lands in the leaf: a rename
      // failure mid-loop leaves the earlier outputs in place, and those
      // carry committed-looking {stem}_{32hex} names — falling back to a
      // solo re-merge with them present would DUPLICATE every row they
      // hold, permanently (the next run merges stray + solo output
      // together). So on failure we first undo the partial commit; only
      // if the leaf is verifiably clean again is the solo retry safe.
      val renamed = scala.collection.mutable.ArrayBuffer.empty[Path]
      try {
        staged.foreach { f =>
          val outName = s"${p.plan.stem}_${UUID.randomUUID().toString.replace("-", "")}.parquet"
          val dest = new Path(s"${p.plan.leaf}/$outName")
          if (fs.rename(f.getPath, dest)) renamed += dest
          else throw new java.io.IOException(s"rename failed for ${f.getPath}")
        }
      } catch {
        case e: Throwable =>
          val undeleted = renamed.filterNot { out =>
            try fs.delete(out, false)
            catch { case _: Throwable => false }
          }
          if (undeleted.isEmpty) {
            // partial commit fully undone — originals untouched, leaf
            // clean, the solo merger can still do the job
            System.err.println(
              s"[compact] batch commit failed for ${p.plan.leaf}/${p.plan.stem} (${e.toString}); retrying solo",
            )
            return Merger.mergeAndCommit(spark, p.plan, cfg)
          }
          // a stray committed-named output survives next to the
          // originals: re-merging now would duplicate its rows. Report
          // failure (solo Merger takes the same stance mid-commit) and
          // leave reconciliation to the operator/next run's visibility.
          return LeafResult(
            p.plan.leaf, p.plan.stem, success = false, 0L, renamed.size,
            Some(
              s"batch commit failed after ${renamed.size} rename(s) (${e.toString}); " +
                s"could not remove ${undeleted.mkString(", ")} — not retrying (would duplicate rows)",
            ),
          )
      }
      val undeletedOriginals = p.plan.files.filterNot { f =>
        try fs.delete(new Path(f), false)
        catch { case _: Throwable => false }
      }
      if (undeletedOriginals.nonEmpty) {
        System.err.println(
          s"[compact] ${undeletedOriginals.size} original(s) in ${p.plan.leaf}/${p.plan.stem} " +
            s"could not be deleted after commit: ${undeletedOriginals.mkString(", ")}",
        )
      }
      LeafResult(
        p.plan.leaf, p.plan.stem, success = true, rowsStaged, renamed.size,
        if (undeletedOriginals.isEmpty) None
        else Some(s"committed, but ${undeletedOriginals.size} original(s) not deleted (duplicates until removed): ${undeletedOriginals.mkString(", ")}"),
      )
    } catch {
      case e: Throwable =>
        // pre-commit surprise (vanished staging, footer read failure):
        // nothing has touched the leaf yet, so the solo merger can still
        // do the job — the batch vehicle must never be the reason a plan
        // fails
        System.err.println(
          s"[compact] batch commit failed for ${p.plan.leaf}/${p.plan.stem} (${e.toString}); retrying solo",
        )
        Merger.mergeAndCommit(spark, p.plan, cfg)
    }
  }

  /** Manifest-mode batch commit for one plan: move its staged files into
    * a hidden `leaf/.data-<runId>/` dir (non-atomic is FINE here — the
    * dir is invisible until publish, so unlike the rename-mode loop
    * there is no partial-visible-commit state and no undo dance), then
    * [[ManifestCommit.sealAndPublish]]. Any failure before publish rolls
    * back and retries solo — the leaf was never touched visibly.
    */
  private def commitOneManifest(
      spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      p: Probe,
      staged: Seq[org.apache.hadoop.fs.FileStatus],
      rowsStaged: Long,
      cfg: CompactorConfig,
  ): LeafResult = {
    val runId = UUID.randomUUID().toString.replace("-", "")
    val dataDir = new Path(s"${p.plan.leaf}/.data-$runId")
    try {
      fs.mkdirs(dataDir)
      val outputsRel = staged.map { f =>
        val dest = new Path(dataDir, f.getPath.getName)
        if (!fs.rename(f.getPath, dest))
          throw new java.io.IOException(s"move into hidden data dir failed for ${f.getPath}")
        s".data-$runId/${f.getPath.getName}"
      }.toSeq
      // the batch path reads plan files RAW, so it is only correct on a
      // leaf with no merge-on-read delete sidecars (Compactor routes
      // those solo); knownDeletes=empty makes publish abort loudly if
      // one exists or appears — never a silently resurrected row
      ManifestCommit.sealAndPublish(
        spark, fs, p.plan.leaf, p.plan.stem, runId, p.plan.files, outputsRel, rowsStaged, cfg,
        knownDeletes = Some(Set.empty),
      )
    } catch {
      case e: Throwable =>
        // the solo retry is only safe once the manifest is verifiably
        // gone: then neither artifact can affect the live set
        if (!ManifestCommit.rollback(spark, p.plan.leaf, p.plan.stem, runId, Some(dataDir.toString)))
          return LeafResult(
            p.plan.leaf, p.plan.stem, success = false, 0L, 0,
            Some(s"batch manifest commit failed (${e.toString}) and the manifest could not be removed — not retrying"),
          )
        System.err.println(
          s"[compact] batch manifest commit failed for ${p.plan.leaf}/${p.plan.stem} (${e.toString}); retrying solo",
        )
        Merger.mergeAndCommit(spark, p.plan, cfg)
    }
  }
}
