package graft.compact

import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Merge + commit for one LeafPlan.
  *
  * The reference streams a chunked union of the inputs and re-emits
  * <=1M-row snappy files, then deletes the originals — write-then-delete,
  * non-atomic, duplicating on partial failure (parquet_compactor.py:153-181,
  * :230-234, :327-328). Here (SURVEY.md §7.4):
  *
  *   1. probe every input's footer once on the driver, then read all
  *      inputs in one scan built from that probe ([[KnownFiles]]: no
  *      listing job, no schema-inference job); the schema is the
  *      `mergeSchema` union of the footers — the schema unification
  *      pyarrow did implicitly, SURVEY.md §7.6.6,
  *   2. coalesce (no shuffle) to ceil(totalBytes/targetFileBytes) output
  *      partitions and cap rows per file — the reference only row-caps,
  *      we also size-target,
  *   3. write to `leaf/.staging-<runid>/` with snappy,
  *   4. validate: staged footer row count == input footer row count
  *      (metadata-only reads on both sides, no extra Spark jobs),
  *   5. commit: rename staged files to `{stem}_{32hex}.parquet` in the
  *      leaf, delete originals, drop staging.
  *
  * A crash before 5 leaves only ignorable staging debris (the Planner
  * filters `.staging-*`); a crash mid-5 can leave duplicates but never
  * loses rows — the reference's at-least-once bar (SURVEY.md §2.3.8).
  */
object Merger {

  /** Output partitioning sized by bytes AND rows (shared by both commit
    * modes): the row cap splits files anyway, so giving each prospective
    * output file its own task costs nothing in file count and buys
    * read/write parallelism within a leaf. coalesce cannot RAISE the
    * partition count — when the scan bin-packs into fewer splits than
    * the byte target demands, fall back to a shuffle so the size target
    * actually holds.
    *
    * With `cfg.layoutKeys` set (and every key present in this leaf's
    * merged schema), the plain coalesce/repartition becomes
    * [[graft.operators.ZOrder.layout]]: one range shuffle on the Morton
    * code plus an in-partition sort, so each output file covers a
    * disjoint Z-range and its footer min/max prune on all layout
    * columns at once. Row content is untouched, so the footer-count
    * commit validation is oblivious to layout.
    */
  private[compact] def sizeForOutput(
      df: org.apache.spark.sql.DataFrame,
      totalBytes: Long,
      rowsIn: Long,
      cfg: CompactorConfig,
  ): org.apache.spark.sql.DataFrame = {
    val nOut = math.max(
      math.max(1L, (totalBytes + cfg.targetFileBytes - 1) / cfg.targetFileBytes),
      (rowsIn + cfg.maxRowsPerFile - 1) / cfg.maxRowsPerFile,
    ).toInt
    // Rank-bucketed Z-order, not raw interleave: a raw key wider than
    // layoutBits (timestamp, 64-bit id) wraps mod 2^bits into noise and
    // silently destroys clustering. The quantile sketch is one extra
    // aggregate pass over data this merge reads anyway — the price of
    // layout being correct for ANY numeric key, not just dense small
    // ints.
    if (cfg.layoutKeys.nonEmpty && cfg.layoutKeys.forall(df.columns.contains))
      graft.operators.ZOrder.layoutByRank(df, nOut, cfg.layoutBits, cfg.layoutKeys)
    else if (nOut > df.rdd.getNumPartitions) df.repartition(nOut)
    else df.coalesce(nOut)
  }

  /** Stage the merged rows at `destDir` under the configured layout
    * (rename mode; the manifest commit stages through
    * [[ManifestCommit]]'s own rewrite). Bucketed layout must go through the
    * DataFrameWriter bucketBy path — only it writes the bucket-id file
    * naming the bucketed read resolves — which requires saveAsTable, so
    * the write registers a throwaway EXTERNAL table (path = destDir;
    * files survive the immediate drop). The repartition onto the bucket
    * hash (same murmur3-pmod as the bucket-id expression) gives each
    * task exactly one bucket → one file per bucket plus row-cap splits.
    */
  private[compact] def stageWrite(
      spark: SparkSession,
      df: org.apache.spark.sql.DataFrame,
      destDir: String,
      totalBytes: Long,
      rowsIn: Long,
      cfg: CompactorConfig,
      runId: String,
  ): Unit = {
    cfg.bucketKey match {
      // rename mode only: BucketedLeaf resolves buckets over a LOCATION,
      // which manifest leaves (live set = manifest subtraction) cannot
      // express — in manifest mode the bucketBy shuffle would be paid on
      // every commit with no reader ever able to use the layout
      case Some(k) if cfg.bucketCount > 0 && df.columns.contains(k) =>
        val tmpTable = s"graft_stage_$runId"
        spark.sql(s"DROP TABLE IF EXISTS `$tmpTable`")
        df.repartition(cfg.bucketCount, org.apache.spark.sql.functions.col(k))
          .write
          .option("compression", "snappy")
          .option("maxRecordsPerFile", cfg.maxRowsPerFile)
          .option("path", destDir)
          .bucketBy(cfg.bucketCount, k)
          .sortBy(k)
          .format("parquet")
          .saveAsTable(tmpTable)
        spark.sql(s"DROP TABLE IF EXISTS `$tmpTable`")
      case _ =>
        sizeForOutput(df, totalBytes, rowsIn, cfg)
          .write
          .option("compression", "snappy")
          .option("maxRecordsPerFile", cfg.maxRowsPerFile)
          .parquet(destDir)
    }
  }

  /** The 5-digit bucket tag of a bucketed-writer file name, if any —
    * preserved through the rename commit so the bucketed read's
    * name→bucket mapping survives (`{stem}_{32hex}_{tag}.parquet`).
    */
  private[compact] def bucketTagOf(name: String): Option[String] =
    bucketTagRe.findFirstMatchIn(name).map(_.group(1))
  private val bucketTagRe = "_(\\d{5})\\.".r

  def mergeAndCommit(spark: SparkSession, plan: LeafPlan, cfg: CompactorConfig): LeafResult = {
    if (cfg.commitMode == CommitMode.Manifest) return ManifestCommit.mergeAndCommit(spark, plan, cfg)
    val runId = UUID.randomUUID().toString.replace("-", "")
    val stagingDir = s"${plan.leaf}/.staging-$runId"
    try {
      val fs = FileIndexer.fsFor(spark, plan.leaf)

      // One footer probe per input (metadata-only, no data scan): its
      // row counts size the output partitioning AND anchor the commit
      // validation, and the scan reads from it with no listing or
      // schema-inference job.
      val known = KnownFiles.probe(spark, plan.files)
      val rowsIn = known.map(_.rows).sum
      val df = KnownFiles.read(spark, known, mergeSchema = true)

      stageWrite(spark, df, stagingDir, plan.totalBytes, rowsIn, cfg, runId)

      // Validate the staged output before touching the originals.
      val staged = KnownFiles.staged(spark, stagingDir)
      val rowsStaged = staged.map(_.rows).sum
      if (rowsStaged != rowsIn) {
        fs.delete(new Path(stagingDir), true)
        return LeafResult(
          plan.leaf, plan.stem, success = false, rowsStaged, 0,
          Some(s"validation failed: staged $rowsStaged rows != input $rowsIn"),
        )
      }

      // Commit: move staged parts into place under idempotence-friendly
      // names ({stem}_{32hex}.parquet — recognized by the Planner's
      // compacted classifier on the next run), then delete originals.
      var moved = 0
      // Undo-tracked commit: a rename failure mid-loop would leave the
      // already-moved outputs in the leaf under committed-looking names —
      // the next run would merge them WITH the still-present originals
      // and duplicate their rows. Deleting the partial outputs before
      // reporting failure restores the pre-commit state whenever the FS
      // still lets us.
      val renamed = scala.collection.mutable.ArrayBuffer.empty[Path]
      try {
        staged.map(_.status).foreach { f =>
          val hex = UUID.randomUUID().toString.replace("-", "")
          val outName = bucketTagOf(f.getPath.getName) match {
            case Some(tag) if cfg.bucketKey.nonEmpty => s"${plan.stem}_${hex}_$tag.parquet"
            case _ => s"${plan.stem}_$hex.parquet"
          }
          val dest = new Path(s"${plan.leaf}/$outName")
          if (fs.rename(f.getPath, dest)) { moved += 1; renamed += dest }
          else throw new java.io.IOException(s"rename failed for ${f.getPath}")
        }
      } catch {
        case e: Throwable =>
          val undeleted = renamed.filterNot { out =>
            try fs.delete(out, false)
            catch { case _: Throwable => false }
          }
          try fs.delete(new Path(stagingDir), true)
          catch { case _: Throwable => () }
          return LeafResult(
            plan.leaf, plan.stem, success = false, 0L, 0,
            Some(
              if (undeleted.isEmpty) s"commit failed (${e.toString}); partial outputs removed, originals intact"
              else s"commit failed (${e.toString}); ${undeleted.size} partial output(s) could not be removed " +
                s"(rows duplicated until reconciled): ${undeleted.mkString(", ")}",
            ),
          )
      }
      // A delete returning false (no exception) would otherwise leave an
      // original alongside the committed output — duplicates with no
      // trace. Surface any survivor in the result instead of silently
      // reporting a clean success.
      val undeleted = plan.files.filterNot { p =>
        try fs.delete(new Path(p), false)
        catch { case _: Throwable => false }
      }
      fs.delete(new Path(stagingDir), true)
      if (undeleted.nonEmpty) {
        System.err.println(
          s"[compact] ${undeleted.size} original(s) in ${plan.leaf}/${plan.stem} " +
            s"could not be deleted after commit: ${undeleted.mkString(", ")}",
        )
      }
      LeafResult(
        plan.leaf, plan.stem, success = true, rowsStaged, moved,
        if (undeleted.isEmpty) None
        else Some(s"committed, but ${undeleted.size} original(s) not deleted (duplicates until removed): ${undeleted.mkString(", ")}"),
      )
    } catch {
      // Throwable, not Exception: an AssertionError/LinkageError from one
      // leaf must not abort the whole run (SURVEY.md §2.3.9) — and the
      // staging dir must never be leaked (a daily job would accumulate
      // partial copies forever; the Planner deliberately ignores them).
      case e: Throwable =>
        try FileIndexer.fsFor(spark, plan.leaf).delete(new Path(stagingDir), true)
        catch { case _: Throwable => () }
        LeafResult(plan.leaf, plan.stem, success = false, 0L, 0, Some(e.toString))
    }
  }
}
