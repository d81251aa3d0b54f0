package graft.compact

import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Object-store-safe commit: the COMMIT path performs no renames.
  *
  * The rename-mode commit ([[Merger]]) assumes `rename` is atomic; real
  * object stores implement it as copy+delete (s3a: non-atomic, O(bytes)).
  * Here the merge output is written once into a hidden `.data-<runId>/`
  * directory under the leaf (via the session's configured job committer —
  * on s3a that should be a PUT-based committer such as the magic
  * committer, keeping the whole pipeline rename-free), and the commit
  * point is the creation of one small `_manifest-<stem>-<runId>.json`
  * object in the leaf — a single-object PUT, which object stores make
  * atomic — naming the input files it supersedes and the output files it
  * adds.
  *
  * Reader contract: the live file set of a leaf is
  * `visible *.parquet − union(inputs of sealed manifests) +
  * union(outputs of sealed manifests)` ([[liveFiles]] / [[readLeaf]]).
  * Crash matrix:
  *
  *   - before/during the data write: debris under `.data-*` only —
  *     hidden from plain listings, Planner, and [[liveFiles]];
  *     reclaimed by [[gcOrphans]].
  *   - during the manifest PUT (torn upload): the file fails the
  *     `"sealed":true}` terminator check and is ignored — readers still
  *     see the originals; debris as above.
  *   - after publish, during original-file GC: the manifest already
  *     excludes the originals from the live set, so a reader through
  *     [[liveFiles]] NEVER sees duplicates — leftover originals are
  *     storage debris, not a correctness hazard (the rename-mode commit
  *     cannot make this promise).
  *
  * The manifest names only files relative to its own leaf, so leaves
  * stay independently movable; later compactions of a manifest-committed
  * leaf list their inputs through [[liveFiles]] and may supersede
  * `.data-*` members in turn (the subtraction is by relative path).
  */
/** A second writer stamped the same commit seq on this leaf. The commit
  * that detects the collision rolls itself back — matching the
  * reference's `concurrencyPolicy: Forbid` stance (two compactors on one
  * leaf is an operations error, and silently forking the seq chain would
  * corrupt the snapshot log for both).
  */
final class ConcurrentCommitException(leaf: String, seq: Long, otherRunId: String)
    extends java.io.IOException(
      s"concurrent writer detected on $leaf: commit seq $seq already stamped by run " +
        s"'$otherRunId' — rolling this commit back (single-writer-per-leaf violated)",
    )

object ManifestCommit {

  /** A touched equality sidecar's reseal: the SAME key tuples over the
    * scope files the rewrite did NOT supersede (`prior` positions and
    * `refs` narrowed/carried along) — a touched eq sidecar is always
    * retired whole, like its position twin.
    */
  private[compact] final case class EqReseal(
      keys: DataFrame,
      scopeRels: Seq[String],
      prior: Option[DataFrame],
      refs: Seq[String],
  )

  /** How a rewrite folds the leaf's outstanding merge-on-read delete
    * sidecars (see [[foldForInputs]]): `touchingRel` are the sidecar
    * files it must CONSUME (list in `inputs`), `applied` the positions
    * to anti-join out of the rewrite (they target plan files), and
    * `residual` the consumed sidecars' OTHER positions, re-sealed as
    * this commit's own delete sidecar so a touched sidecar is always
    * retired whole — partial consumption would leave entries whose
    * retraction algebra no feed consumer could replay exactly.
    */
  private[compact] final case class DeleteFold(
      touchingRel: Seq[String],
      applied: Option[DataFrame],
      appliedRows: Long,
      residual: Option[DataFrame],
      residualRows: Long,
      eqResiduals: Seq[EqReseal] = Seq.empty,
  )

  private[compact] val NoFold = DeleteFold(Seq.empty, None, 0L, None, 0L)

  /** Classify the leaf's live delete sidecars against a rewrite's input
    * set. Position sidecars are churn-bounded position files: the
    * (sidecar, target) pairs collect driver-side at metadata scale, and
    * the position split runs as one broadcast semi/anti join pair.
    * Equality sidecars classify on their recorded SCOPE (metadata): a
    * sidecar whose scope intersects the plan is consumed whole — its
    * kills inside the plan resolve to positions (one key-column scan of
    * plan∩scope files, which the rewrite reads anyway) and fold into
    * `applied`; its kills outside re-seal as an [[EqReseal]] with the
    * surviving scope. `applied` is DISTINCT (file, pos) across kinds,
    * so a row killed by both a position and an equality sidecar
    * subtracts once from the caller's `rowsIn` arithmetic.
    */
  private def foldForInputs(
      spark: SparkSession,
      leaf: String,
      planRel: Set[String],
      liveDelRel: Seq[String],
  ): DeleteFold = {
    import org.apache.spark.sql.functions.{broadcast, col}
    if (liveDelRel.isEmpty) return NoFold
    val (posRels, eqs) = splitSidecarRels(liveDelRel)
    val pfx = qualifiedPrefix(spark, leaf)
    // ---- position sidecars ----
    val (posTouching, posApplied, posResidual) =
      if (posRels.isEmpty) (Seq.empty[String], None: Option[DataFrame], None: Option[DataFrame])
      else {
        val pos = spark.read.parquet(posRels.map(r => s"$leaf/$r"): _*)
          .select(
            col(DelFile), col(DelPos),
            col("_metadata.file_path").substr(
              org.apache.spark.sql.functions.lit(pfx.length + 1),
              org.apache.spark.sql.functions.lit(Int.MaxValue),
            ).as("_src"),
          )
        val pairs = pos.select(col("_src"), col(DelFile)).distinct().collect()
          .map(r => (r.getString(0), r.getString(1)))
        val touching = pairs.filter(p => planRel.contains(p._2)).map(_._1).distinct.sorted.toSeq
        if (touching.isEmpty) (Seq.empty[String], None, None)
        else {
          import spark.implicits._
          val tpos = pos.where(col("_src").isin(touching: _*)).drop("_src")
          val planDf = broadcast(planRel.toSeq.toDF(DelFile))
          (
            touching,
            Some(tpos.join(planDf, Seq(DelFile), "left_semi")),
            Some(tpos.join(planDf, Seq(DelFile), "left_anti")),
          )
        }
      }
    // ---- equality sidecars ----
    val eqWithScope = eqs.map(e => e -> eqScopeRels(spark, leaf, e))
    // (sidecar, scope, keys) resolved ONCE per touched sidecar — the
    // applied set and the reseal share the same keys frame
    val eqTouched = eqWithScope.collect {
      case (e, scope) if scope.exists(planRel) =>
        (e, scope, readEqKeys(spark, leaf, e), eqKeyBytesOf(spark, leaf, e))
    }
    val eqApplied: Option[DataFrame] =
      if (eqTouched.isEmpty) None
      else {
        val parts = eqTouched.flatMap { case (_, scope, keys, keyBytes) =>
          val inPlan = scope.filter(planRel).sorted
          if (inPlan.isEmpty) None
          else Some(
            semiJoinKeysGuarded(readWithPos(spark, leaf, inPlan.map(r => s"$leaf/$r")), keys, keyBytes)
              .select(col("_mor_rel").as(DelFile), col("_mor_pos").as(DelPos)))
        }
        parts.reduceOption(_.unionByName(_))
      }
    val eqResiduals = eqTouched.flatMap { case (e, scope, keys, _) =>
      val survive = scope.filterNot(planRel).sorted
      if (survive.isEmpty) None
      else {
        import spark.implicits._
        val surviveDf = broadcast(survive.toDF(DelFile))
        val prior = eqPrior(spark, leaf, e).map(_.join(surviveDf, Seq(DelFile), "left_semi"))
        Some(EqReseal(keys, survive, prior, eqRefs(spark, leaf, e)))
      }
    }
    if (posTouching.isEmpty && eqTouched.isEmpty) return NoFold
    val applied = (posApplied.toSeq ++ eqApplied.toSeq)
      .reduceOption(_.unionByName(_)).map(_.distinct())
    val appliedRows = applied.map(_.count()).getOrElse(0L)
    val residualRows = posResidual.map(_.count()).getOrElse(0L)
    DeleteFold(
      posTouching ++ eqTouched.flatMap(_._1.allFiles),
      if (appliedRows > 0) applied else None, appliedRows,
      if (residualRows > 0) posResidual else None, residualRows,
      eqResiduals,
    )
  }

  /** Seal a fold's residuals — the position residual (counted in
    * `drows`) plus each touched equality sidecar's reseal (never in
    * `drows`: its retraction count is unresolved by design). Returns
    * the relative sidecar files for the manifest's `deletes` list.
    */
  private def writeFoldResiduals(
      spark: SparkSession,
      fs: FileSystem,
      leaf: String,
      runId: String,
      fold: DeleteFold,
  ): Seq[String] = {
    val pos = fold.residual.map(writeDeleteSidecar(spark, fs, leaf, runId, _)).getOrElse(Seq.empty)
    val eq = fold.eqResiduals.zipWithIndex.flatMap { case (r, i) =>
      writeEqSidecar(spark, fs, leaf, s"${runId}r$i", r.keys, r.scopeRels, r.prior, r.refs)
    }
    pos ++ eq
  }

  /** Best-effort reclaim of a dead run's row-level sidecar stages
    * (the `.delete-<runId>/` dir and every `.eqdel-<runId>*-*` dir) —
    * call only after the run's manifest is proven unsealed.
    */
  private def cleanupRunSidecars(fs: FileSystem, leaf: String, runId: String): Unit = {
    try { fs.delete(new Path(s"$leaf/.delete-$runId"), true); () } catch { case _: Throwable => () }
    try {
      val leafPath = new Path(leaf)
      if (fs.exists(leafPath))
        fs.listStatus(leafPath)
          .filter(e => e.isDirectory && e.getPath.getName.startsWith(s".eqdel-$runId"))
          .foreach { d => try { fs.delete(d.getPath, true); () } catch { case _: Throwable => () } }
    } catch { case _: Throwable => () }
  }

  /** Roll back a failed commit. Order matters: a torn-or-even-complete
    * manifest (e.g. close() threw after a full write) must go BEFORE the
    * data — a sealed manifest naming deleted outputs would break readers.
    * If the manifest can't be removed, everything stays so the
    * (manifest, data) pair stays consistent; otherwise the data dir, the
    * row-level delete stages and the stats/bloom sidecars go too.
    * Returns whether the manifest is gone: only then can the commit's
    * work be retried some other way without touching the live set.
    */
  private[compact] def rollback(
      spark: SparkSession,
      leaf: String,
      stem: String,
      runId: String,
      dataDir: Option[String],
  ): Boolean =
    (try Some(FileIndexer.fsFor(spark, leaf)) catch { case _: Throwable => None }).exists { fs =>
      val mp = new Path(s"$leaf/_manifest-$stem-$runId.json")
      val gone = try { fs.delete(mp, false); !fs.exists(mp) } catch { case _: Throwable => false }
      if (gone) {
        dataDir.foreach(d => try { fs.delete(new Path(d), true); () } catch { case _: Throwable => () })
        cleanupRunSidecars(fs, leaf, runId)
        ManifestStats.deleteSidecars(fs, leaf, runId)
      }
      gone
    }

  /** A row rewrite's staged files with rows in them (name-sorted), and
    * the stage's row total. Its 0-row files, dead weight in the live
    * set, are deleted.
    */
  private def nonEmptyStaged(spark: SparkSession, fs: FileSystem, dataDir: String): (Seq[Path], Long) = {
    val staged = KnownFiles.staged(spark, dataDir)
    staged.filter(_.rows == 0L).foreach(k => fs.delete(k.status.getPath, false))
    (staged.filter(_.rows > 0L).map(_.status.getPath), staged.map(_.rows).sum)
  }

  /** Seal `positions` as this run's own delete sidecar under
    * `.delete-<runId>/`, returning its leaf-relative file paths. ONE
    * part file per commit — the walk resolves a consumed sidecar's row
    * count from its producing manifest only when it consumes the
    * producer's sidecar set whole, and a single file makes that the
    * only possible shape.
    */
  private def writeDeleteSidecar(
      spark: SparkSession,
      fs: FileSystem,
      leaf: String,
      runId: String,
      positions: DataFrame,
  ): Seq[String] = {
    import org.apache.spark.sql.functions.col
    val dir = s"$leaf/.delete-$runId"
    positions.select(col(DelFile), col(DelPos))
      .orderBy(col(DelFile), col(DelPos))
      .coalesce(1)
      .write.mode("overwrite").parquet(dir)
    fs.listStatus(new Path(dir))
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(f => s".delete-$runId/${f.getPath.getName}")
      .sorted.toSeq
  }

  /** The tail of every commit that stages data: seal the outputs' stats
    * and bloom sidecars and the fold's residual delete sidecars (debris
    * until the manifest seals, reclaimed by [[rollback]]), publish the
    * manifest superseding `inputs` (absolute data paths) and the
    * sidecars the fold consumed, then delete what it superseded.
    *
    * The delete is best-effort BY DESIGN: the manifest already subtracts
    * those files from the live set, so a failed delete is reported as
    * debris, never as duplicate rows. With `cfg.retainSuperseded` they
    * are kept deliberately — the time-travel retention mode
    * ([[readLeafAt]] needs them to reconstruct earlier snapshots) — and
    * a consumed equality-sidecar file that a LIVE sidecar still
    * excludes through is kept too (a retention dependency, like a
    * position target), not reported as a failure.
    *
    * Throws on any failure before or at the publish; the caller rolls
    * back.
    */
  private[compact] def sealAndPublish(
      spark: SparkSession,
      fs: FileSystem,
      leaf: String,
      stem: String,
      runId: String,
      inputs: Seq[String],
      outputsRel: Seq[String],
      rows: Long,
      cfg: CompactorConfig,
      fold: DeleteFold = NoFold,
      knownDeletes: Option[Set[String]] = None,
      mutates: Boolean = false,
  ): LeafResult = {
    ManifestStats.writeSidecars(spark, fs, leaf, runId, outputsRel.map(r => r -> s"$leaf/$r"), cfg)
    val deletesRel = writeFoldResiduals(spark, fs, leaf, runId, fold)
    // COMMIT POINT: one PUT of the sealed manifest. Everything before
    // this line is invisible; everything after is garbage collection.
    publish(
      fs, leaf, stem, runId, inputs.map(relativeTo(leaf, _)) ++ fold.touchingRel, outputsRel, rows,
      cfg.commitRetries, deletesRel = deletesRel, drows = fold.residualRows, knownDeletes = knownDeletes,
      mutates = mutates,
    )
    val undeleted =
      if (cfg.retainSuperseded) Seq.empty
      else {
        val refStems =
          if (fold.touchingRel.exists(isEqDeleteRel)) liveEqRefStems(spark, leaf)
          else Set.empty[String]
        (inputs ++ fold.touchingRel.map(r => s"$leaf/$r"))
          .filterNot(p => underEqStems(refStems, relativeTo(leaf, p)))
          .filterNot { p =>
            try fs.delete(new Path(p), false)
            catch { case _: Throwable => false }
          }
      }
    LeafResult(
      leaf, stem, success = true, rows, outputsRel.size,
      if (undeleted.isEmpty) None
      else Some(
        s"committed; ${undeleted.size} superseded original(s) not deleted " +
          s"(excluded from the live set by the manifest — debris, not duplicates): ${undeleted.mkString(", ")}",
      ),
    )
  }

  /** Rewrite `inputs` (data files of `leaf`, each with its probe) as
    * one manifest commit — the one path compaction, DELETE, UPDATE and MERGE share:
    *
    *   1. fold the leaf's live delete sidecars that touch the inputs
    *      ([[foldForInputs]]); `rowsIn` is the inputs' footer rows minus
    *      the rows the fold applies;
    *   2. read the inputs from their probe (no listing, no schema job),
    *      with the fold's positions anti-joined out;
    *   3. `stage` maps that frame (None when there are no inputs) and
    *      `rowsIn` to the rows to write, staged into a hidden
    *      `.data-<runId>/` (snappy, `cfg.maxRowsPerFile` rows a file at
    *      most; 0-row files dropped);
    *   4. validate the staged footer rows against `expect(rowsIn)`,
    *      reporting `detail` after the input count on a mismatch;
    *   5. [[sealAndPublish]]; any throw rolls the commit back.
    */
  private def rewrite(
      spark: SparkSession,
      fs: FileSystem,
      leaf: String,
      stem: String,
      st0: HeadState,
      inputs: Seq[(String, KnownFiles.Known)],
      cfg: CompactorConfig,
      expect: Long => Long = identity,
      detail: String = "",
      mutates: Boolean = false,
  )(stage: (Option[DataFrame], Long) => DataFrame): LeafResult = {
    val runId = UUID.randomUUID().toString.replace("-", "")
    val dataDir = s"$leaf/.data-$runId"
    try {
      val (paths, known) = inputs.unzip
      val fold = foldForInputs(spark, leaf, paths.map(relativeTo(leaf, _)).toSet, st0.deletes)
      val rowsIn = known.map(_.rows).sum - fold.appliedRows
      val read = if (known.isEmpty) None else Some(KnownFiles.read(spark, known, mergeSchema = true))
      val rows = fold.applied match {
        case None          => read
        case Some(applied) => read.map(df => antiJoinPositions(withPos(spark, leaf, df), applied))
      }
      stage(rows, rowsIn)
        .write
        .option("compression", "snappy")
        .option("maxRecordsPerFile", cfg.maxRowsPerFile)
        .mode("overwrite").parquet(dataDir)
      val (outFiles, rowsStaged) = nonEmptyStaged(spark, fs, dataDir)
      if (rowsStaged != expect(rowsIn)) {
        fs.delete(new Path(dataDir), true)
        return LeafResult(
          leaf, stem, success = false, rowsStaged, 0,
          Some(s"validation failed: staged $rowsStaged rows != input $rowsIn$detail"),
        )
      }
      sealAndPublish(
        spark, fs, leaf, stem, runId, paths, outFiles.map(p => s".data-$runId/${p.getName}"), rowsStaged, cfg,
        fold, knownDeletes = Some(st0.deletes.toSet), mutates = mutates,
      )
    } catch {
      case e: Throwable =>
        rollback(spark, leaf, stem, runId, Some(dataDir))
        LeafResult(leaf, stem, success = false, 0L, 0, Some(e.toString))
    }
  }

  /** The candidate files of a row-level DML commit: the leaf's state,
    * the candidates probed once (the rewrite reads its hit files from
    * this same probe) and their delete-aware scan built from the probe
    * (no listing, no schema job), `_mor_rel`/`_mor_pos` identity columns
    * kept.
    */
  private final case class Candidates(
      fs: FileSystem,
      leaf: String,
      st0: HeadState,
      paths: Seq[String],
      known: Map[String, KnownFiles.Known],
      aware: DataFrame,
  ) {

    /** The candidates holding a row of `matching(aware)`, with their
      * probes (in candidate order), and the number of such rows — one
      * per-file count over the classification scan.
      */
    def hits(matching: DataFrame => DataFrame): (Seq[(String, KnownFiles.Known)], Long) = {
      import org.apache.spark.sql.functions.{col, count, lit}
      val perFile = matching(aware).groupBy(col("_mor_rel").as("_hit")).agg(count(lit(1)).as("_n")).collect()
      val hitRels = perFile.map(_.getString(0)).toSet
      (paths.filter(p => hitRels(relativeTo(leaf, p))).map(p => p -> known(p)), perFile.map(_.getLong(1)).sum)
    }
  }

  private def scanOf(
      spark: SparkSession,
      leaf: String,
      fs: FileSystem,
      st0: HeadState,
      candidates: Seq[String],
  ): Candidates = {
    val known = candidates.zip(KnownFiles.probe(spark, candidates)).toMap
    val aware = awareWithPos(spark, leaf, candidates, st0.deletes.map(r => s"$leaf/$r")) { files =>
      withPos(spark, leaf, KnownFiles.read(spark, files.map(known), mergeSchema = true))
    }
    Candidates(fs, leaf, st0, candidates, known, aware)
  }

  /** The front of a predicate DML commit ([[deleteWhere]],
    * [[updateWhere]], [[deleteWhereMoR]]). Candidates are the live files
    * the skipping layer cannot rule out for `cond` (ROADMAP 90: with
    * stats/bloom sidecars on the predicate's columns, files that cannot
    * hold a matching row are never opened — a narrow retention delete
    * on a wide leaf is candidate-bounded, and the never-wrongly-pruned
    * sidecar contract makes the shortcut exact). Their scan is
    * DELETE-AWARE: a row an outstanding MoR sidecar already retracted
    * neither matches nor re-deletes; hits group on the materialized
    * `_mor_rel` column, a plain column that survives the anti join,
    * where the `_metadata` pseudo-column would not resolve. None when
    * the leaf is missing, nothing is live or the prune leaves nothing.
    */
  private def predicateScan(
      spark: SparkSession,
      leaf: String,
      cond: org.apache.spark.sql.Column,
  ): Option[Candidates] = {
    val fs = FileIndexer.fsFor(spark, leaf)
    val leafPath = new Path(leaf)
    if (!fs.exists(leafPath)) return None
    val st0 = resolveState(fs, leaf, fs.listStatus(leafPath))
    val live = liveFiles(spark, leaf)
    if (live.isEmpty) return None
    val candidates = ManifestStats.pruneByPredicate(spark, leaf, live, cond)
    if (candidates.isEmpty) None else Some(scanOf(spark, leaf, fs, st0, candidates))
  }

  /** Merge one plan and commit via manifest publish. Mirrors
    * [[Merger.mergeAndCommit]]'s validate-before-commit discipline; only
    * the commit mechanism differs.
    */
  def mergeAndCommit(spark: SparkSession, plan: LeafPlan, cfg: CompactorConfig): LeafResult =
    try {
      val fs = FileIndexer.fsFor(spark, plan.leaf)
      val leafPath = new Path(plan.leaf)
      val st0 = resolveState(
        fs, plan.leaf,
        if (fs.exists(leafPath)) fs.listStatus(leafPath) else Array.empty[org.apache.hadoop.fs.FileStatus],
      )
      // A listing-based plan on a retainSuperseded leaf can name
      // files an earlier commit already superseded (history kept on
      // disk for time travel) — they are snapshots, not input. Merging
      // them again would duplicate their rows into fresh outputs, and
      // the publish OCC check would refuse the commit; filter them out
      // HERE so the plan degrades to its live remainder (or to a
      // clean no-op when nothing live is left).
      val files = plan.files.filterNot(p => st0.superseded(relativeTo(plan.leaf, p)))
      if (files.isEmpty)
        LeafResult(
          plan.leaf, plan.stem, success = true, 0L, 0,
          Some("no-op: every planned input is already superseded (retained history)"),
        )
      else
        // Outstanding merge-on-read delete sidecars fold into the
        // rewrite: positions targeting plan files are applied (those
        // rows do not survive), touched sidecars are consumed whole
        // (their other positions re-seal as this commit's residual
        // sidecar), and the publish-time tripwire aborts if a sidecar
        // this fold didn't see appears concurrently.
        rewrite(spark, fs, plan.leaf, plan.stem, st0, files.zip(KnownFiles.probe(spark, files)), cfg) { (rows, rowsIn) =>
          Merger.sizeForOutput(rows.get, plan.totalBytes, rowsIn, cfg)
        }
    } catch {
      case e: Throwable => LeafResult(plan.leaf, plan.stem, success = false, 0L, 0, Some(e.toString))
    }

  /** Range-targeted re-compaction THROUGH the skipping layer — the
    * partial-rewrite primitive (compact/re-cluster ONE key range of a
    * huge leaf without touching the rest). File selection is the stats
    * prune ([[ManifestStats.pruneFiles]]): only live files whose
    * recorded `col` interval can intersect [lo, hi] are inputs; files
    * with no recorded interval are conservatively included (they might
    * hold range rows — the same never-wrongly-pruned contract as the
    * range reads). Everything downstream is the standard
    * [[mergeAndCommit]]: the merge rewrites EXACTLY the selected
    * inputs, the manifest supersedes them atomically, bag identity on
    * the whole leaf holds by the footer-count validation, and the crash
    * matrix is unchanged. With `cfg.layoutKeys` set this is targeted
    * re-clustering (OPTIMIZE ... WHERE ... ZORDER BY); with
    * `cfg.statsColumns` the rewritten range gets fresh, tighter
    * sidecars.
    *
    * Returns None when fewer than `minFiles` files intersect — the O6
    * ≥2-file merge-economy gate applied to the range (pass `minFiles =
    * 1` to force a pure re-layout of a single file).
    */
  def compactWhere(
      spark: SparkSession,
      leaf: String,
      col: String,
      lo: Double,
      hi: Double,
      cfg: CompactorConfig,
      stem: String = "data",
      minFiles: Int = 2,
  ): Option[LeafResult] = {
    require(cfg.commitMode == CommitMode.Manifest, "range-targeted re-compaction requires manifest mode (stats sidecars + atomic supersede)")
    val fs = FileIndexer.fsFor(spark, leaf)
    val live = liveFiles(spark, leaf)
    val kept = ManifestStats.pruneFiles(ManifestStats.read(fs, leaf), leaf, live, col, lo, hi)
    if (kept.size < minFiles) return None
    val totalBytes = kept.map(p => fs.getFileStatus(new Path(p)).getLen).sum
    Some(mergeAndCommit(spark, LeafPlan(leaf, stem, kept, totalBytes), cfg))
  }

  /** DELETE WHERE as one manifest commit — the retention /
    * right-to-be-forgotten primitive, and the only public producer of
    * genuine row REMOVALS for [[ChangeFeed]] consumers (compactions net
    * to zero; arrivals only add). One metadata-scale classification
    * pass finds the live files that CONTAIN matching rows
    * (`_metadata.file_path` group-by); untouched files are never read
    * again or rewritten — a selective delete on a 100-TB leaf costs the
    * hit files, not the leaf. Hit files are rewritten WITHOUT their
    * matching rows into a hidden `.data-` stage (a fully-emptied file
    * gets no replacement output) and superseded by ONE sealed manifest;
    * the staged row count is validated against inputs − matches before
    * the commit point, and every crash window mirrors
    * [[mergeAndCommit]]'s (stage invisible until the manifest seals,
    * rollback removes manifest-then-stage, gcOrphans reclaims debris).
    *
    * Returns None when no live row matches (no commit — the head does
    * not move for a no-op). `cond` must be deterministic: it runs once
    * to classify and once to rewrite.
    */
  def deleteWhere(
      spark: SparkSession,
      leaf: String,
      cond: org.apache.spark.sql.Column,
      cfg: CompactorConfig,
      stem: String = "delete",
  ): Option[LeafResult] = {
    require(cfg.commitMode == CommitMode.Manifest, "deleteWhere requires manifest mode (atomic supersede of partially-rewritten files)")
    import org.apache.spark.sql.functions.{coalesce, lit}
    predicateScan(spark, leaf, cond).flatMap { scan =>
      val (inputs, matched) = scan.hits(_.where(cond))
      // SQL DELETE semantics: only cond=TRUE rows go; a NULL-evaluating
      // row SURVIVES (a bare !cond would silently drop it — and the
      // rowsIn − matched validation would catch exactly that). Folded
      // sidecar positions are applied first, so the rewrite's survivors
      // are exactly the delete-aware rows that fail cond.
      if (inputs.isEmpty) None
      else Some(rewrite(
        spark, scan.fs, leaf, stem, scan.st0, inputs, cfg, _ - matched, s" - matched $matched",
      )((rows, _) => rows.get.where(!coalesce(cond, lit(false)))))
    }
  }

  /** UPDATE ... SET ... WHERE as one manifest commit — the third DML
    * primitive beside [[deleteWhere]] and [[merge]], copy-on-write:
    * one classification pass (sidecar-pruned, delete-aware) finds the
    * files CONTAINING cond=TRUE rows, only THEY are rewritten with the
    * assignments applied to exactly those rows (SQL UPDATE semantics —
    * a NULL-evaluating row is NOT updated), untouched files are never
    * read twice, and one sealed manifest supersedes the hits.
    * Assignment values are Columns (they may reference other columns)
    * and are cast back to the column's existing type, so the commit
    * can never drift the schema. Row-preserving by construction —
    * validated staged == input rows before the commit point — but the
    * manifest declares `mut`, so the commit-window walk replays it as
    * retract+assert instead of netting the count-equal rewrite to zero
    * (feed consumers see old editions out, new editions in). MoR
    * delete sidecars fold through the rewrite like any compaction, and
    * an already-retracted row neither matches nor resurrects.
    *
    * Returns None when no live row matches. On success `rowsWritten`
    * is the staged row count (all survivors of the hit files, updated
    * and not).
    */
  def updateWhere(
      spark: SparkSession,
      leaf: String,
      cond: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column],
      cfg: CompactorConfig,
      stem: String = "update",
  ): Option[LeafResult] = {
    require(cfg.commitMode == CommitMode.Manifest, "updateWhere requires manifest mode (atomic supersede of partially-rewritten files)")
    require(set.nonEmpty, "UPDATE needs at least one assignment")
    import org.apache.spark.sql.functions.{coalesce, col => c, lit, when}
    predicateScan(spark, leaf, cond).flatMap { scan =>
      // validate against the DATA schema, not the scan: the _mor_rel/
      // _mor_pos identity columns withPos adds are not assignable (an
      // assignment targeting them would pass the require and then be
      // silently ignored — absent from the staged schema) and must not be
      // advertised as leaf columns in the error either
      val dataCols = scan.aware.columns.filterNot(c0 => c0 == "_mor_rel" || c0 == "_mor_pos")
      set.keys.foreach(k => require(
        dataCols.exists(_.equalsIgnoreCase(k)),
        s"UPDATE assignment targets unknown column '$k' (leaf columns: ${dataCols.mkString(", ")})",
      ))
      val (inputs, _) = scan.hits(_.where(cond))
      if (inputs.isEmpty) None
      else Some(rewrite(
        spark, scan.fs, leaf, stem, scan.st0, inputs, cfg,
        detail = " (UPDATE must preserve rows)", mutates = true,
      ) { (rows, _) =>
        // SQL UPDATE semantics: only cond=TRUE rows change; the cast back
        // to the column's own type keeps the leaf schema fixed
        val aware = rows.get
        val safeCond = coalesce(cond, lit(false))
        aware.select(aware.schema.fields.map { f =>
          set.find(_._1.equalsIgnoreCase(f.name)) match {
            case Some((_, v)) => when(safeCond, v.cast(f.dataType)).otherwise(c(f.name)).as(f.name)
            case None         => c(f.name)
          }
        }.toSeq: _*)
      })
    }
  }

  /** DELETE WHERE, merge-on-read (the scale-honest twin of
    * [[deleteWhere]]): instead of rewriting every hit file, ONE tiny
    * position sidecar (`.delete-<runId>/` — `(_del_file, _del_pos)` per
    * matched row) becomes the commit, [[readLeaf]] anti-joins it at
    * scan time, and the next compaction of the targeted files folds it
    * physically (consuming the sidecar, re-sealing unconsumed positions
    * as its residual). A 1-row right-to-be-forgotten delete on a wide
    * leaf costs one sidecar write — Σ(matched rows), never Σ(hit-file
    * bytes). Read results are indistinguishable from the CoW path
    * (DeleteWhereSpec pins the equivalence); the commit-log walk
    * classifies the sidecar exactly (its rows are the window's net ⊖),
    * so [[ChangeFeed]] consumers and materialized aggregates stay
    * incremental.
    *
    * Classification is delete-AWARE (an already-retracted row never
    * re-matches) and sidecar-pruned like the CoW path. Concurrency: the
    * publish-time tripwires abort this commit if its position targets
    * were superseded mid-flight, and abort any racing rewrite that did
    * not fold this sidecar — a deleted row can be re-deleted by retry,
    * never silently resurrected.
    *
    * Returns None when no live row matches (no commit). On success the
    * result's `rowsWritten` is the number of rows RETRACTED (nothing is
    * staged — the sidecar is the write).
    */
  def deleteWhereMoR(
      spark: SparkSession,
      leaf: String,
      cond: org.apache.spark.sql.Column,
      cfg: CompactorConfig,
      stem: String = "delete-mor",
  ): Option[LeafResult] = {
    require(cfg.commitMode == CommitMode.Manifest, "deleteWhereMoR requires manifest mode (the sidecar is a manifest commit)")
    import org.apache.spark.sql.functions.col
    val (fs, st0, matchedPos) = predicateScan(spark, leaf, cond) match {
      case Some(scan) =>
        (scan.fs, scan.st0, scan.aware.where(cond).select(col("_mor_rel").as(DelFile), col("_mor_pos").as(DelPos)))
      case None => return None
    }
    val runId = UUID.randomUUID().toString.replace("-", "")
    try {
      val deletesRel = writeDeleteSidecar(spark, fs, leaf, runId, matchedPos)
      val drows =
        if (deletesRel.isEmpty) 0L
        else KnownFiles.rows(spark, deletesRel.map(r => s"$leaf/$r"))
      if (drows == 0L) {
        try { fs.delete(new Path(s"$leaf/.delete-$runId"), true); () } catch { case _: Throwable => () }
        return None
      }
      // targets re-read from the SEALED sidecar (not the lazy frame):
      // what the tripwire protects is byte-for-byte what was committed
      val targetsRel = deleteTargets(spark, leaf, deletesRel.map(r => s"$leaf/$r"))
        .map(relativeTo(leaf, _))
      publish(
        fs, leaf, stem, runId,
        inputsRel = Seq.empty, outputsRel = Seq.empty, rows = 0L, retries = cfg.commitRetries,
        deletesRel = deletesRel, drows = drows,
        knownDeletes = Some(st0.deletes.toSet), requiresLive = targetsRel.toSet,
      )
      Some(LeafResult(leaf, stem, success = true, drows, 0, None))
    } catch {
      case e: Throwable =>
        rollback(spark, leaf, stem, runId, None)
        Some(LeafResult(leaf, stem, success = false, 0L, 0, Some(e.toString)))
    }
  }

  /** Keyed DELETE, merge-on-read with EQUALITY sidecars — the zero-
    * data-read half of the MoR algebra ([[deleteWhereMoR]]'s position
    * sidecar still pays a classification READ of candidate files to
    * resolve row ordinals; this commit reads no data pages — at most a
    * couple of live FOOTERS, for the key-column resolution check and
    * the string-type bloom guard, and it commits fine without even
    * those).
    * The commit is: the distinct non-NULL key tuples of `keys` (its
    * columns ARE the key columns), the SCOPE — live files that can
    * possibly hold a match, resolved purely from the stats/bloom
    * sidecars ([[ManifestStats.pruneByKeySet]]) — and the already-dead
    * exclusions ([[EqSidecar]] prior/refs, metadata-scale). A keyed
    * retention delete on a bloom-equipped leaf is O(keys): one sidecar
    * write, scope tight to the bloom hits.
    *
    * Read contract: [[readLeaf]] anti-joins scope-file rows on the key
    * tuples — indistinguishable from the position path (spec-pinned) —
    * and rows appended AFTER this commit are outside the scope, so a
    * re-used key never kills a new edition. The next compaction
    * touching scope files folds the sidecar ([[foldForInputs]]):
    * in-plan kills resolve to positions and drop from the rewrite,
    * out-of-plan scope re-seals. Feed consumers read the exact
    * retraction set through [[readDeleteRows]] (key matches minus
    * prior/ref exclusions) — the commit-window walk hands such commits
    * to that resolution rather than the `drows` ledger (the matched
    * count is deliberately unresolved at commit), and rewrites touching
    * equality sidecars classify as row-changing, never "verified
    * preserving".
    *
    * Concurrency: `requiresLive` pins the scope (a racer superseding a
    * scope file aborts this commit), and the `knownDeletes` tripwire
    * aborts any racing rewrite that did not fold this sidecar.
    *
    * Returns None when `keys` has no fully-non-NULL tuple (SQL equality
    * never matches NULL) or no live file can hold a match — both
    * decided without data I/O. On success `rowsWritten` is the KEY
    * count (the retracted-row count is what this commit refuses to pay
    * for; [[ManifestStats.countLeaf]] resolves it lazily).
    */
  def deleteKeysMoR(
      spark: SparkSession,
      leaf: String,
      keys: DataFrame,
      cfg: CompactorConfig,
      stem: String = "delete-keys",
  ): Option[LeafResult] = {
    require(cfg.commitMode == CommitMode.Manifest, "deleteKeysMoR requires manifest mode (the sidecar is a manifest commit)")
    val keyCols = keys.columns.toSeq
    require(keyCols.nonEmpty, "deleteKeysMoR needs at least one key column")
    val fs = FileIndexer.fsFor(spark, leaf)
    val leafPath = new Path(leaf)
    if (!fs.exists(leafPath)) return None
    val st0 = resolveState(fs, leaf, fs.listStatus(leafPath))
    val live = liveFiles(spark, leaf)
    if (live.isEmpty) return None
    // Key columns must RESOLVE against the leaf's data schema (the same
    // column contract updateWhere and merge enforce): a typoed key name
    // would NULL-pad through the schema-evolution guard at read time —
    // the delete silently matches nothing, yet the sealed sidecar taxes
    // every read with an anti-join and requiresLive-pins the scope
    // forever. Footer-only and resilient like the string-type guard:
    // the first READABLE footer settles the common case; a key missing
    // there (added later by schema evolution) pays one merged-schema
    // inference before failing loudly; a leaf with no readable footer
    // at all skips the check — the zero-data-read commit contract
    // (proven over fully corrupted files) outranks an advisory require.
    val schema0 = live.iterator.flatMap { f =>
      try Some(spark.read.parquet(f).schema)
      catch { case _: Throwable => None }
    }.nextOption()
    schema0.foreach { sc =>
      val miss0 = keyCols.filterNot(k => sc.exists(_.name.equalsIgnoreCase(k)))
      if (miss0.nonEmpty) {
        val merged =
          try Some(spark.read.option("mergeSchema", "true").parquet(live: _*).schema)
          catch { case _: Throwable => None }
        merged.foreach { m =>
          val miss = miss0.filterNot(k => m.exists(_.name.equalsIgnoreCase(k)))
          require(
            miss.isEmpty,
            s"deleteKeysMoR key column(s) not in the leaf schema: ${miss.mkString(", ")} " +
              s"(leaf columns: ${m.fieldNames.mkString(", ")})",
          )
        }
      }
    }
    import org.apache.spark.sql.functions.{broadcast, col}
    import spark.implicits._
    val keysD = keys.na.drop("any", keyCols).dropDuplicates(keyCols).persist()
    try {
      val nKeys = keysD.count()
      if (nKeys == 0L) return None
      val scope =
        if (nKeys <= ManifestStats.KeySetPruneCap) {
          val tuples = keysD.collect()
          val keyVals = keyCols.zipWithIndex.map { case (k, i) =>
            k -> tuples.map(_.get(i)).toSeq.distinct
          }.toMap
          ManifestStats.pruneByKeySet(spark, leaf, live, keyVals)
        } else live
      if (scope.isEmpty) return None // no live file can hold a match — decided from sidecars alone
      val scopeRels = scope.map(relativeTo(leaf, _)).sorted
      val liveDel = st0.deletes.filterNot(st0.superseded).distinct
      val (posRels, eqs) = splitSidecarRels(liveDel)
      val prior =
        if (posRels.isEmpty) None
        else Some(
          deletePositions(spark, posRels.map(r => s"$leaf/$r"))
            .join(broadcast(scopeRels.toDF(DelFile)), Seq(DelFile), "left_semi"))
      val refs = eqs.filter(e => eqScopeRels(spark, leaf, e).exists(scopeRels.toSet)).map(_.dirStem)
      val runId = UUID.randomUUID().toString.replace("-", "")
      try {
        val deletesRel = writeEqSidecar(spark, fs, leaf, runId, keysD, scopeRels, prior, refs)
        publish(
          fs, leaf, stem, runId,
          inputsRel = Seq.empty, outputsRel = Seq.empty, rows = 0L, retries = cfg.commitRetries,
          deletesRel = deletesRel, drows = 0L,
          knownDeletes = Some(st0.deletes.toSet), requiresLive = scopeRels.toSet,
        )
        Some(LeafResult(leaf, stem, success = true, nKeys, 0, None))
      } catch {
        case e: Throwable =>
          rollback(spark, leaf, stem, runId, None)
          Some(LeafResult(leaf, stem, success = false, 0L, 0, Some(e.toString)))
      }
    } finally { keysD.unpersist(); () }
  }

  /** Consolidate the leaf's live merge-on-read delete sidecars into
    * ONE (ROADMAP 100): a retention cadence that outruns compaction
    * accumulates standing sidecars, and every read anti-joins their
    * union while every rewrite classifies against each — this commit
    * re-seals all positions as one sidecar (inputs = the old sidecars,
    * deletes = the union), touching NO data files. The commit-window
    * walk verifies it position-preserving through the `drows` ledger
    * and nets it to ZERO — feed consumers and materialized aggregates
    * cross it without reading a byte (spec-proven over corrupted
    * bytes). Concurrency rides the standard tripwires: a racer that
    * folded one of our inputs supersedes it (the OCC input check), and
    * a sidecar appearing mid-flight fails the knownDeletes check (it
    * would be missing from the union). Returns None below
    * `minSidecars` (consolidating one sidecar is a rename, not a
    * saving).
    */
  def consolidateDeletes(
      spark: SparkSession,
      leaf: String,
      cfg: CompactorConfig,
      minSidecars: Int = 2,
      stem: String = "delete-fold",
  ): Option[LeafResult] = {
    require(cfg.commitMode == CommitMode.Manifest, "sidecar consolidation requires manifest mode")
    val fs = FileIndexer.fsFor(spark, leaf)
    val leafPath = new Path(leaf)
    if (!fs.exists(leafPath)) return None
    val st0 = resolveState(fs, leaf, fs.listStatus(leafPath))
    // POSITION sidecars only: equality sidecars pair keys with their own
    // scope — folding two scopes' keys into one anti-join table would
    // kill sidecar A's keys in sidecar B's files. Their sprawl is
    // bounded by compaction folds instead.
    val dels = st0.deletes.filterNot(st0.superseded).filter(isPosDeleteRel).distinct.sorted
    if (dels.size < minSidecars) return None
    val runId = UUID.randomUUID().toString.replace("-", "")
    try {
      val positions = deletePositions(spark, dels.map(r => s"$leaf/$r"))
      val deletesRel = writeDeleteSidecar(spark, fs, leaf, runId, positions)
      val drows = KnownFiles.rows(spark, deletesRel.map(r => s"$leaf/$r"))
      publish(
        fs, leaf, stem, runId,
        inputsRel = dels, outputsRel = Seq.empty, rows = 0L, retries = cfg.commitRetries,
        deletesRel = deletesRel, drows = drows,
        knownDeletes = Some(st0.deletes.toSet),
      )
      val undeleted =
        if (cfg.retainSuperseded) Seq.empty
        else dels.map(r => s"$leaf/$r").filterNot { p =>
          try fs.delete(new Path(p), false)
          catch { case _: Throwable => false }
        }
      Some(LeafResult(
        leaf, stem, success = true, drows, 0,
        if (undeleted.isEmpty) None
        else Some(s"committed; ${undeleted.size} superseded sidecar(s) left as debris"),
      ))
    } catch {
      case e: Throwable =>
        rollback(spark, leaf, stem, runId, None)
        Some(LeafResult(leaf, stem, success = false, 0L, 0, Some(e.toString)))
    }
  }

  /** MERGE INTO (key-based upsert) as ONE manifest commit — the CDC-apply
    * primitive: every live row whose key tuple appears in `source` is
    * REPLACED by the source edition, source rows with unmatched (or
    * NULL — SQL equality never matches NULL) keys are INSERTED, and
    * untouched files are never read twice or rewritten. Classification
    * is sidecar-pruned on the source's key range (numeric keys) and
    * delete-aware; hit files are rewritten without their matched
    * editions, the source appends once, and one sealed manifest
    * supersedes the hits — so the commit-log walk sees a row-changing
    * rewrite (⊖ hit inputs ⊕ outputs: retract+assert pairs, exactly
    * what feed consumers like [[graft.operators.IndexStore
    * .syncFromLeaf]] need for an update), while a merge with NO matched
    * keys publishes as a plain append. Outstanding MoR delete sidecars
    * fold through the rewrite like any compaction.
    *
    * `source` must be key-unique over non-NULL key tuples (two source
    * editions of one key would make the result order-dependent —
    * refused loudly, the standard MERGE cardinality rule) and carry
    * exactly the leaf's columns. At 100 TB the cost is Σ(hit-file
    * bytes) + the source — the sidecar prune keeps the hit set tight
    * for key-clustered leaves; rows REPLACED rather than deleted make
    * the copy-on-write shape the right one (a position sidecar cannot
    * express "this row changed").
    *
    * Returns None when `source` is empty. On success `rowsWritten` is
    * the staged row count (survivors + source).
    */
  def merge(
      spark: SparkSession,
      leaf: String,
      source: DataFrame,
      keys: Seq[String],
      cfg: CompactorConfig,
      stem: String = "merge",
  ): Option[LeafResult] = {
    require(cfg.commitMode == CommitMode.Manifest, "merge requires manifest mode (atomic supersede of partially-rewritten files)")
    require(keys.nonEmpty, "merge needs at least one key column")
    import org.apache.spark.sql.functions.{col, count, countDistinct, lit, struct}
    val fs = FileIndexer.fsFor(spark, leaf)
    val leafPath = new Path(leaf)
    if (!fs.exists(leafPath)) return None
    val st0 = resolveState(fs, leaf, fs.listStatus(leafPath))
    val live = liveFiles(spark, leaf)
    val src = source.persist()
    try {
      // one pass over the source: total rows, key-uniqueness, and the
      // numeric key bounds the sidecar prune needs. Uniqueness is
      // enforced over the rows whose key tuple is FULLY non-null —
      // exactly the population that can match (SQL equality never
      // matches a NULL member; null-key rows always insert and may
      // legitimately repeat). The when(...) wrapper makes countDistinct
      // skip every other row, so a null-key row can never mask a
      // genuine duplicate (the first cut of this check compared against
      // srcRows − nullKeyRows and one null-key row absorbed one
      // duplicate — caught in review).
      val numericKeys = keys.filter(k =>
        src.schema(k).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
      val keysNonNull = keys.map(col(_).isNotNull).reduce(_ && _)
      val aggCols =
        Seq(
          count(lit(1)).as("_n"),
          count(org.apache.spark.sql.functions.when(keysNonNull, 1)).as("_nn"),
          countDistinct(org.apache.spark.sql.functions.when(keysNonNull, struct(keys.map(col): _*))).as("_dk"),
        ) ++
          numericKeys.flatMap(k => Seq(
            org.apache.spark.sql.functions.min(col(k)).cast("double").as(s"_lo_$k"),
            org.apache.spark.sql.functions.max(col(k)).cast("double").as(s"_hi_$k")))
      val a = src.agg(aggCols.head, aggCols.tail: _*).head
      val srcRows = a.getAs[Long]("_n")
      if (srcRows == 0L) return None
      require(
        a.getAs[Long]("_dk") == a.getAs[Long]("_nn"),
        s"merge source is not key-unique on (${keys.mkString(", ")}) — " +
          "two editions of one key make the result order-dependent; dedupe upstream (e.g. keep-latest)",
      )
      val (hit, matched) =
        if (live.isEmpty) (Seq.empty, 0L)
        else {
          val pruneCond = numericKeys
            .map(k => col(k) >= lit(a.getAs[Double](s"_lo_$k")) && col(k) <= lit(a.getAs[Double](s"_hi_$k")))
            .reduceOption(_ && _)
          val rangeCands = pruneCond
            .map(c => ManifestStats.pruneByPredicate(spark, leaf, live, c))
            .getOrElse(live)
          // key-SET prune on top of the interval prune: probe each
          // candidate's bloom sidecar with the source's distinct key
          // values (string keys — the dominant doc_id upsert shape)
          // and its stats interval with the exact value set (tighter
          // than min/max for sparse keys). Without it a string-keyed
          // merge classifies against EVERY live file — Σ(live) key-
          // column reads instead of Σ(hit). Capped: a source with more
          // distinct keys than the cap touches most files anyway, and
          // the tuple collect must stay driver-bounded.
          val dk = a.getAs[Long]("_dk")
          val candidates =
            if (dk == 0L) Seq.empty[String] // every source key tuple has a NULL: nothing can match
            else if (dk <= ManifestStats.KeySetPruneCap && rangeCands.nonEmpty) {
              val tuples = src.where(keysNonNull).select(keys.map(col): _*).distinct().collect()
              val keyVals = keys.zipWithIndex.map { case (k, i) =>
                k -> tuples.map(_.get(i)).toSeq.distinct
              }.toMap
              ManifestStats.pruneByKeySet(spark, leaf, rangeCands, keyVals)
            } else rangeCands
          if (candidates.isEmpty) (Seq.empty, 0L)
          else scanOf(spark, leaf, fs, st0, candidates).hits(_.join(src.select(keys.map(col): _*), keys, "left_semi"))
        }
      Some(rewrite(
        spark, fs, leaf, stem, st0, hit, cfg,
        _ - matched + srcRows, s" - matched $matched + source $srcRows",
        // a merge that REPLACED editions changed values without
        // changing counts — a pure update (matched == srcRows) is
        // count-preserving, and without this flag the walk's
        // "count equality ⇒ row preservation" verification would net
        // it to ZERO and every feed consumer would keep the stale
        // editions (caught by MergeCommitSpec's pure-update case)
        mutates = matched > 0,
      ) { (rows, _) =>
        rows match {
          case None =>
            // no hit files, but the columns contract must still hold
            // (a column-mismatched source sealing silently would make
            // every later mergeSchema read null-fill the drift) —
            // resolve the leaf's column set from the live footers
            // (metadata-only, distributed) and apply the same require
            // the survivors branch applies
            if (live.nonEmpty) {
              val leafCols = spark.read.option("mergeSchema", "true").parquet(live: _*).schema.fieldNames
              require(
                src.columns.sorted.sameElements(leafCols.sorted),
                s"merge source columns ${src.columns.sorted.mkString(",")} != leaf columns ${leafCols.sorted.mkString(",")}",
              )
            }
            src
          case Some(aware) =>
            // survivors: hit rows (delete-aware) whose key has NO source
            // edition — plain-equality anti join, so NULL-key target rows
            // always survive; then the source appends whole
            val sv = aware.join(src.select(keys.map(col): _*), keys, "left_anti")
            require(
              sv.columns.sorted.sameElements(src.columns.sorted),
              s"merge source columns ${src.columns.sorted.mkString(",")} != leaf columns ${sv.columns.sorted.mkString(",")}",
            )
            sv.unionByName(src)
        }
      })
    } finally { src.unpersist(); () }
  }

  /** The atomic publish: one create of the sealed manifest object (the
    * commit point), then one create of the seq-named head pointer (the
    * O(1) resolution cache + the concurrent-writer tripwire). Shared by
    * the solo path above and [[BatchMerger]]'s manifest-mode commit.
    *
    * Seq stamping reads the HEAD (one listing + one small read), not the
    * whole manifest chain: with a current head, publish and [[liveFiles]]
    * are O(1) metadata ops regardless of commit-history length; manifests
    * the head doesn't cover yet (a crashed head write, a legacy leaf) are
    * read individually — O(lag), normally zero — and folded on top.
    *
    * The head create uses overwrite=false, which object stores implement
    * as a conditional PUT: two writers that both resolved seq S and try
    * to stamp S+1 collide on the SAME object name, the loser's create
    * fails, and the loser rolls back with [[ConcurrentCommitException]] —
    * the documented single-writer-per-leaf assumption becomes an enforced
    * check instead of a hope. (Best-effort: a writer that dies between
    * manifest and head leaves no tripwire for its seq; the next publish
    * folds its manifest in and moves past it.)
    */
  private[compact] def publish(
      fs: FileSystem,
      leaf: String,
      stem: String,
      runId: String,
      inputsRel: Seq[String],
      outputsRel: Seq[String],
      rows: Long,
      retries: Int = 0,
      deletesRel: Seq[String] = Seq.empty,
      drows: Long = 0L,
      knownDeletes: Option[Set[String]] = None,
      requiresLive: Set[String] = Set.empty,
      mutates: Boolean = false,
  ): Unit = {
    val leafPath = new Path(leaf)
    val manifestName = s"_manifest-$stem-$runId.json"
    val manifestPath = new Path(s"$leaf/$manifestName")
    var attempt = 0
    while (true) {
      val entries = if (fs.exists(leafPath)) fs.listStatus(leafPath) else Array.empty[org.apache.hadoop.fs.FileStatus]
      val st = resolveState(fs, leaf, entries)
      // OCC read-set validation, EVERY attempt (the plan→publish window
      // is a race surface even on attempt 0): if a concurrent commit
      // superseded any of OUR inputs, re-stamping would double-supersede
      // them and this commit's outputs would DUPLICATE the racer's — the
      // merge must be re-planned, not re-stamped. Fail loudly instead.
      if (inputsRel.exists(st.superseded))
        throw new java.io.IOException(
          s"commit conflict on $leaf: input(s) ${inputsRel.filter(st.superseded).mkString(", ")} " +
            "were superseded by a concurrent commit — re-plan required, not retrying",
        )
      // Lost-delete tripwires (the MoR concurrency hazard — a silently
      // resurrected row is the one outcome this protocol must never
      // allow):
      //  - a rewrite that planned against delete set K must abort if a
      //    delete sidecar it did NOT fold has appeared since — its
      //    outputs would carry rows that sidecar deleted;
      //  - a delete commit (CoW or MoR) racing another delete the same
      //    way would retract the same rows twice downstream;
      //  - a MoR delete whose position targets were superseded mid-
      //    flight would seal positions into files no reader resolves.
      knownDeletes.foreach { kd =>
        if (inputsRel.nonEmpty || deletesRel.nonEmpty) {
          val appeared = (st.deletes.toSet -- inputsRel) -- kd
          if (appeared.nonEmpty)
            throw new java.io.IOException(
              s"commit conflict on $leaf: delete sidecar(s) ${appeared.toSeq.sorted.mkString(", ")} " +
                "appeared since this commit was planned — its rewrite did not fold them; re-plan required",
            )
        }
      }
      if (requiresLive.nonEmpty) {
        // POSITIVE membership in the current live set, not absence from
        // `superseded` — the head presence-prunes superseded entries
        // whose files were GC'd, so a negative check could wave through
        // positions addressing a dead file (a lost delete)
        val visible = entries.collect {
          case e if e.isFile && e.getPath.getName.endsWith(".parquet") &&
            !e.getPath.getName.startsWith(".") && !e.getPath.getName.startsWith("_") =>
            e.getPath.getName
        }.toSet
        val liveNow = (visible ++ st.outputs).filterNot(st.superseded)
        val dead = requiresLive.filterNot(liveNow)
        if (dead.nonEmpty)
          throw new java.io.IOException(
            s"commit conflict on $leaf: delete target(s) ${dead.toSeq.sorted.mkString(", ")} " +
              "are not in the live set — positions no longer address live rows; re-plan required",
          )
      }
      val seq = st.seq + 1L
      MetaCodec.write(
        fs, manifestPath,
        MetaCodec.encodeManifest(Manifest(inputsRel, outputsRel, seq, runId, stem, rows, deletesRel, drows, mutates)),
      )

      // Cumulative state for the new head. Superseded entries whose files
      // are no longer on disk do nothing (the subtraction from a listing is
      // a no-op — and a NEW arrival reusing an old name must count as live),
      // so prune them by top-level presence; same for covered manifests
      // that were themselves pruned. This keeps the head O(current files),
      // not O(all files ever superseded). Live DELETE entries are NOT
      // presence-pruned: a missing live sidecar must fail a read loudly,
      // never silently un-delete its rows.
      val names = entries.map(_.getPath.getName).toSet
      val topPresent = (rel: String) => names.contains(rel.takeWhile(_ != '/'))
      val inputSet = inputsRel.toSet
      val manifestNames = entries
        .map(_.getPath.getName)
        .filter(n => n.startsWith("_manifest-") && n.endsWith(".json"))
        .toSet
      try {
        createHead(
          fs, leaf, seq, runId,
          covered = ((st.covered & manifestNames) + manifestName).toSeq.sorted,
          superseded = ((st.superseded ++ inputsRel).filter(topPresent)).toSeq.sorted,
          outputs = (st.outputs.filterNot(inputSet) ++ outputsRel).distinct.sorted,
          priorHeads = entries.map(_.getPath).filter(p => headSeqOf(p.getName).isDefined),
          deletes = (st.deletes.filterNot(inputSet) ++ deletesRel).distinct.sorted,
        )
        return
      } catch {
        case e: ConcurrentCommitException if attempt < retries =>
          // Optimistic retry (opt-in via CompactorConfig.commitRetries;
          // default 0 keeps the reference's Forbid semantics): retract
          // the stale-seq manifest, re-resolve — the next loop sees the
          // racer's commit, validates the read set against it, and
          // re-stamps.
          attempt += 1
          if (!(try fs.delete(manifestPath, false) catch { case _: Throwable => false }) && fs.exists(manifestPath))
            throw e // can't retract the stale manifest: surface the collision
      }
    }
  }

  // ---- snapshot-pointer head: _head-<seq>.json --------------------------

  private val headNameRe = "_head-(\\d+)\\.json".r
  private val manifestRunIdRe = "_manifest-.*-([0-9a-f]+)\\.json".r
  private[compact] def headName(seq: Long): String = f"_head-$seq%09d.json"
  private[compact] def headSeqOf(name: String): Option[Long] = name match {
    case headNameRe(d) => Some(d.toLong)
    case _             => None
  }

  /** Parsed head pointer: the cumulative resolution state as of `seq`.
    * `covered` names the manifest FILES whose effects are already folded
    * into (superseded, outputs, deletes) — a reader only reads manifests
    * outside this set. `deletes` is the NET-LIVE list of merge-on-read
    * delete sidecar files (relative `.delete-<runId>/…` paths): a
    * consumed delete file (listed in a later commit's inputs) drops off
    * at fold time, so deletes ∩ superseded = ∅ by construction.
    */
  private[compact] final case class HeadState(
      seq: Long,
      superseded: Set[String],
      outputs: Seq[String],
      covered: Set[String],
      runId: String = "",
      deletes: Seq[String] = Seq.empty,
  )

  /** A head whose `deletes` is absent predates every delete commit, so
    * the empty default is exact. A torn upload is never a committed stamp.
    */
  private[compact] def readHead(fs: FileSystem, p: Path): Option[HeadState] =
    MetaCodec.read(fs, p).flatMap(MetaCodec.decodeHead)

  /** Create the head for `seq` with overwrite=false — the collision
    * tripwire. A sealed head already holding this seq from ANOTHER runId
    * is a concurrent committed writer → [[ConcurrentCommitException]]
    * (caller rolls back). A torn head there is debris from a dead writer
    * (no seal mark ⇒ it never counted): clear it and retry once. Any
    * other head-write failure is WARN-and-continue — the manifest is
    * already sealed, so the commit stands; the head is a cache the next
    * publish rebuilds. On success, older head objects are pruned
    * best-effort (resolution only ever reads the newest sealed one).
    */
  private[compact] def createHead(
      fs: FileSystem,
      leaf: String,
      seq: Long,
      runId: String,
      covered: Seq[String],
      superseded: Seq[String],
      outputs: Seq[String],
      priorHeads: Seq[Path],
      retried: Boolean = false,
      deletes: Seq[String] = Seq.empty,
  ): Unit = {
    val p = new Path(s"$leaf/${headName(seq)}")
    try {
      MetaCodec.write(fs, p, MetaCodec.encodeHead(seq, runId, covered, superseded, outputs, deletes))
      priorHeads.foreach { h =>
        if (headSeqOf(h.getName).exists(_ < seq)) {
          try fs.delete(h, false)
          catch { case _: Throwable => () }
        }
      }
    } catch {
      case e: Throwable if fs.exists(p) =>
        readHead(fs, p) match {
          case Some(h) if h.runId == runId => () // our stamp landed (close raced); committed
          case Some(h) =>
            throw new ConcurrentCommitException(leaf, seq, h.runId)
          case None if !retried && (try fs.delete(p, false) catch { case _: Throwable => false }) =>
            createHead(fs, leaf, seq, runId, covered, superseded, outputs, priorHeads, retried = true, deletes = deletes)
          case None =>
            System.err.println(s"[compact] head stamp for $leaf seq $seq failed (${e.toString}); " +
              "commit stands (manifest sealed), head repaired on next publish")
        }
      case e: Throwable =>
        System.err.println(s"[compact] head stamp for $leaf seq $seq failed (${e.toString}); " +
          "commit stands (manifest sealed), head repaired on next publish")
    }
  }

  /** Resolution state from one listing: newest sealed head (stepping
    * past torn ones — pointer recovery) plus a fold over the manifests it
    * doesn't cover, in seq order. No head and no manifests → empty state;
    * no head but manifests → the full legacy scan.
    */
  private[compact] def resolveState(
      fs: FileSystem,
      leaf: String,
      entries: Array[org.apache.hadoop.fs.FileStatus],
  ): HeadState = {
    val heads = entries
      .filter(e => e.isFile && headSeqOf(e.getPath.getName).isDefined)
      .sortBy(e => headSeqOf(e.getPath.getName).get)(Ordering[Long].reverse)
    val baseOpt = heads.iterator.flatMap(h => readHead(fs, h.getPath)).nextOption()
    val base = baseOpt.getOrElse(HeadState(0L, Set.empty, Seq.empty, Set.empty))
    // only meaningful when a head exists: a headless fold must process
    // EVERY manifest, including pre-seq-era legacy ones stamped 0
    val headSeq = baseOpt.map(_.seq).getOrElse(Long.MinValue)
    val uncovered = entries
      .filter { e =>
        val n = e.getPath.getName
        e.isFile && n.startsWith("_manifest-") && n.endsWith(".json") && !base.covered.contains(n)
      }
      .flatMap(e => readManifest(fs, e.getPath).map(e.getPath.getName -> _))
      .sortBy { case (_, m) => (m.seq, m.runId) }
    uncovered.foldLeft(base) { case (st, (name, m)) =>
      // An uncovered manifest at or below the head's seq carries nothing
      // the head state doesn't already incorporate — it is a checkpoint
      // manifest mid-install ([[checkpoint]]'s first crash window) or
      // stale debris. Folding its OUTPUTS on top of a state that has
      // already seen later commits would resurrect superseded files, so
      // it is acknowledged (covered) and otherwise skipped.
      if (m.seq <= headSeq) st.copy(covered = st.covered + name)
      else {
        val ins = m.inputs.toSet
        HeadState(
          math.max(st.seq, m.seq),
          st.superseded ++ m.inputs,
          (st.outputs.filterNot(ins) ++ m.outputs).distinct,
          st.covered + name,
          st.runId,
          (st.deletes.filterNot(ins) ++ m.deletes).distinct,
        )
      }
    }
  }

  /** The leaf's current commit seq (0 if never manifest-committed) — one
    * listing + one head read when the head is current.
    */
  def currentSeq(spark: SparkSession, leaf: String): Long = {
    val fs = FileIndexer.fsFor(spark, leaf)
    val leafPath = new Path(leaf)
    if (!fs.exists(leafPath)) return 0L
    resolveState(fs, leaf, fs.listStatus(leafPath)).seq
  }

  /** Parsed manifest. `seq` orders the commit history (0 for manifests
    * sealed before the field existed — legacy reads keep working, they
    * just sort before every stamped commit). `deletes` names the
    * merge-on-read delete sidecar files this commit ADDS (relative
    * `.delete-<runId>/…` paths — position files of `(_del_file,
    * _del_pos)` rows); `drows` is their total row count, recorded so
    * the incremental walk can classify the commit without reading the
    * sidecar (and after it is GC'd). A commit CONSUMES delete files by
    * listing them in `inputs` alongside the data files it rewrote.
    */
  private[compact] final case class Manifest(
      inputs: Seq[String],
      outputs: Seq[String],
      seq: Long = 0L,
      runId: String = "",
      stem: String = "",
      rows: Long = 0L,
      deletes: Seq[String] = Seq.empty,
      drows: Long = 0L,
      mut: Boolean = false,
  )

  /** Read + parse one manifest; None if torn/garbled (a partial upload
    * never carries the trailing seal mark, and any parse failure is
    * treated as "this manifest does not exist").
    */
  private[compact] def readManifest(fs: FileSystem, p: Path): Option[Manifest] =
    MetaCodec.read(fs, p).flatMap(MetaCodec.decodeManifest)

  /** All sealed manifests of a leaf (unordered). */
  private[compact] def sealedManifests(fs: FileSystem, leaf: String): Seq[Manifest] =
    sealedManifestsNamed(fs, leaf).map(_._2)

  /** Sealed manifests with their file names (unordered). */
  private[compact] def sealedManifestsNamed(fs: FileSystem, leaf: String): Seq[(String, Manifest)] = {
    val leafPath = new Path(leaf)
    if (!fs.exists(leafPath)) return Seq.empty
    fs.listStatus(leafPath)
      .filter(e => e.isFile && e.getPath.getName.startsWith("_manifest-") && e.getPath.getName.endsWith(".json"))
      .flatMap(e => readManifest(fs, e.getPath).map(e.getPath.getName -> _))
      .toSeq
  }

  /** The leaf's commit history, oldest first — the snapshot log a
    * table-format reader would expose (seq, runId, stem, rows per
    * commit). Metadata-only: one listing + one small read per manifest.
    */
  def manifestLog(spark: SparkSession, leaf: String): Seq[Manifest] =
    sealedManifests(FileIndexer.fsFor(spark, leaf), leaf).sortBy(m => (m.seq, m.runId))

  /** The sealed commit window `(fromSeq, toSeq]`, oldest first — the
    * incremental-consumer changelog. None when the chain is incomplete
    * (a checkpoint folded or an expire retired manifests inside the
    * window, or a seq is missing/duplicated): a consumer that walks
    * commits must then fall back to set-diff semantics over the live
    * set, which stays exact through any log lifecycle.
    */
  private[compact] def changelog(
      spark: SparkSession,
      leaf: String,
      fromSeq: Long,
      toSeq: Long,
  ): Option[Seq[Manifest]] =
    changelogOf(manifestLog(spark, leaf), fromSeq, toSeq)

  /** [[changelog]] over an already-fetched manifest log. */
  private[compact] def changelogOf(
      log: Seq[Manifest],
      fromSeq: Long,
      toSeq: Long,
  ): Option[Seq[Manifest]] = {
    val window = log.filter(m => m.seq > fromSeq && m.seq <= toSeq)
    if (window.map(_.seq) == (fromSeq + 1 to toSeq).toSeq) Some(window) else None
  }

  /** The live parquet set of a leaf under manifest semantics: visible
    * files minus superseded inputs plus manifest outputs. One listing of
    * the leaf + one head read when the head is current — O(1) metadata
    * ops regardless of commit-history length; O(lag) extra manifest
    * reads when it isn't (crashed head write, legacy leaf), and a torn
    * head steps down to the previous sealed one or the full manifest
    * scan. No data I/O either way.
    */
  def liveFiles(spark: SparkSession, leaf: String): Seq[String] = {
    val fs = FileIndexer.fsFor(spark, leaf)
    val leafPath = new Path(leaf)
    if (!fs.exists(leafPath)) return Seq.empty
    val entries = fs.listStatus(leafPath)
    val st = resolveState(fs, leaf, entries)
    val visible = entries
      .filter { e =>
        val n = e.getPath.getName
        e.isFile && n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_")
      }
      .map(_.getPath.getName)
      .toSeq
    (visible.filterNot(st.superseded) ++ st.outputs.filterNot(st.superseded))
      .distinct.sorted.map(rel => s"$leaf/$rel")
  }

  // ---- merge-on-read delete sidecars ------------------------------------

  /** Delete-sidecar schema: `_del_file` (leaf-relative path of the data
    * file a deleted row lives in) + `_del_pos` (its `_metadata
    * .row_index` ordinal within that file). Positions address a
    * write-once parquet file, so they stay exact until the file is
    * superseded — at which point the sidecar entry is retired with it
    * (compaction folds sidecars into its rewrite).
    */
  private[compact] val DelFile = "_del_file"
  private[compact] val DelPos = "_del_pos"

  /** "Is a row-level delete sidecar" — position (`.delete-`) OR
    * equality (`.eqdel-`) kind. Everything that classifies rel paths
    * into data-vs-sidecar uses these; surfaces that READ sidecar
    * contents split by kind via [[splitSidecarRels]].
    */
  private[compact] def isDeleteRel(rel: String): Boolean =
    rel.startsWith(".delete-") || rel.startsWith(".eqdel-")
  private[compact] def isDeletePath(p: String): Boolean =
    p.contains("/.delete-") || p.contains("/.eqdel-")
  private[compact] def isPosDeleteRel(rel: String): Boolean = rel.startsWith(".delete-")
  def isPosDeletePath(p: String): Boolean = p.contains("/.delete-")

  // ---- equality-delete sidecars (the Iceberg-v2 equality-delete shape) --

  /** Equality-sidecar schema: a keyed retention delete commits the KEY
    * TUPLES themselves (`-keys/` parquet, the key columns as written)
    * plus the SCOPE — the live files the delete applies to, recorded at
    * commit time (`-scope/` parquet, one `_eq_scope` rel path per row) —
    * with ZERO data reads: scope resolves from the stats/bloom sidecars
    * ([[ManifestStats.pruneByKeySet]]). Readers anti-join scope-file
    * rows on the keys; rows appended AFTER the commit (outside the
    * scope) are never killed, however their keys collide.
    *
    * Feed exactness needs one more piece: the rows the commit RETRACTS
    * are the key matches that were still live at commit time, so the
    * sidecar also records what was already dead — `-prior/` (the live
    * position sidecars' (file, pos) rows inside the scope, a metadata-
    * scale copy) and `-refs/` (the dir stems of live equality sidecars
    * whose scope intersects ours; their kills re-resolve at read).
    * [[readDeleteRows]] subtracts both, so a feed consumer never sees a
    * row retracted twice.
    */
  private[compact] val EqScope = "_eq_scope"
  private[compact] val EqRef = "_eq_ref"
  private val eqRelRe = """\.eqdel-([0-9a-f]+(?:r\d+)?)-(keys|scope|prior|refs)(?:/.*)?""".r

  private[compact] def isEqDeleteRel(rel: String): Boolean = rel.startsWith(".eqdel-")
  private[compact] def isEqDeletePath(p: String): Boolean = p.contains("/.eqdel-")

  /** One equality sidecar = up to four flat sibling dirs sharing a stem
    * id (`<runId>` or `<runId>r<i>` for fold residuals): keys + scope
    * required, prior + refs optional. `allFiles` lists every member
    * (relative) — what a consuming commit puts in `inputs`.
    */
  private[compact] final case class EqSidecar(
      stemId: String,
      keyFiles: Seq[String],
      scopeFiles: Seq[String],
      priorFiles: Seq[String],
      refFiles: Seq[String],
  ) {
    def dirStem: String = s".eqdel-$stemId"
    def allFiles: Seq[String] = (keyFiles ++ scopeFiles ++ priorFiles ++ refFiles).sorted
  }

  /** Split a mixed list of sidecar RELATIVE paths into position files
    * and grouped equality sidecars. Unrecognized `.eqdel-` members
    * (torn debris) fail loudly — a silently dropped sidecar would
    * resurrect its deleted rows.
    */
  private[compact] def splitSidecarRels(rels: Seq[String]): (Seq[String], Seq[EqSidecar]) = {
    val (eqRels, posRels) = rels.partition(isEqDeleteRel)
    val parsed = eqRels.map { r =>
      r match {
        case eqRelRe(stem, role) => (stem, role, r)
        case _ => throw new IllegalArgumentException(s"unrecognized equality-delete sidecar path: $r")
      }
    }
    val eqs = parsed.groupBy(_._1).toSeq.sortBy(_._1).map { case (stem, members) =>
      def of(role: String) = members.collect { case (_, `role`, r) => r }.sorted
      val s = EqSidecar(stem, of("keys"), of("scope"), of("prior"), of("refs"))
      require(
        s.keyFiles.nonEmpty && s.scopeFiles.nonEmpty,
        s"equality sidecar .eqdel-$stem is missing its keys or scope files",
      )
      s
    }
    (posRels, eqs)
  }

  private[compact] def readEqKeys(spark: SparkSession, leaf: String, s: EqSidecar): DataFrame =
    spark.read.parquet(s.keyFiles.map(r => s"$leaf/$r"): _*)

  /** The sidecar's recorded scope — leaf-relative data file names. */
  private[compact] def eqScopeRels(spark: SparkSession, leaf: String, s: EqSidecar): Seq[String] =
    spark.read.parquet(s.scopeFiles.map(r => s"$leaf/$r"): _*)
      .select(EqScope).collect().map(_.getString(0)).toSeq.sorted

  private[compact] def eqPrior(spark: SparkSession, leaf: String, s: EqSidecar): Option[DataFrame] =
    if (s.priorFiles.isEmpty) None
    else Some(deletePositions(spark, s.priorFiles.map(r => s"$leaf/$r")))

  private[compact] def eqRefs(spark: SparkSession, leaf: String, s: EqSidecar): Seq[String] =
    if (s.refFiles.isEmpty) Seq.empty
    else spark.read.parquet(s.refFiles.map(r => s"$leaf/$r"): _*)
      .select(EqRef).collect().map(_.getString(0)).toSeq.sorted

  /** Re-materialize a (possibly superseded, still-on-disk) equality
    * sidecar from its dir stem — how a `refs` entry resolves at read
    * time. Loud when the referenced dirs are gone: an exclusion set
    * that silently shrank would double-retract rows downstream.
    */
  private[compact] def eqSidecarFromDisk(fs: FileSystem, leaf: String, dirStem: String): EqSidecar = {
    def filesIn(role: String): Seq[String] = {
      val d = new Path(s"$leaf/$dirStem-$role")
      if (!fs.exists(d)) Seq.empty
      else fs.listStatus(d)
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        .map(f => s"$dirStem-$role/${f.getPath.getName}").sorted.toSeq
    }
    val s = EqSidecar(dirStem.stripPrefix(".eqdel-"), filesIn("keys"), filesIn("scope"), filesIn("prior"), filesIn("refs"))
    if (s.keyFiles.isEmpty || s.scopeFiles.isEmpty)
      throw new java.io.IOException(
        s"referenced equality sidecar $dirStem under $leaf is gone or torn — " +
          "retain superseded sidecars for the consumer's lag (retainSuperseded + expireSnapshots)",
      )
    s
  }

  /** Seal one equality sidecar (keys + scope [+ prior, refs]) under
    * `.eqdel-<stemId>-*` flat dirs; returns the relative file list for
    * the manifest. Debris until the manifest seals, like every stage.
    */
  private[compact] def writeEqSidecar(
      spark: SparkSession,
      fs: FileSystem,
      leaf: String,
      stemId: String,
      keys: DataFrame,
      scopeRels: Seq[String],
      prior: Option[DataFrame],
      refs: Seq[String],
  ): Seq[String] = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    require(scopeRels.nonEmpty, "an equality sidecar without scope deletes nothing")
    def seal(role: String, df: DataFrame): Seq[String] = {
      val dir = s"$leaf/.eqdel-$stemId-$role"
      df.write.mode("overwrite").parquet(dir)
      fs.listStatus(new Path(dir))
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        .map(f => s".eqdel-$stemId-$role/${f.getPath.getName}")
        .sorted.toSeq
    }
    val keyCols = keys.columns.toSeq
    seal("keys", keys.dropDuplicates(keyCols).coalesce(1)) ++
      seal("scope", scopeRels.sorted.toDF(EqScope).coalesce(1)) ++
      prior.toSeq.flatMap(p => seal("prior", p.select(col(DelFile), col(DelPos)).coalesce(1))) ++
      (if (refs.isEmpty) Seq.empty else seal("refs", refs.sorted.toDF(EqRef).coalesce(1)))
  }

  /** Semi-join a `readWithPos` frame on an equality sidecar's key
    * tuples — the rows the sidecar KILLS among `df`'s files. Schema-
    * evolution guard: a scope file sealed before a key column was ADDED
    * has no values of it — the synthesized NULL never equals, so the
    * whole file survives (semi) / passes (anti), exactly the read
    * contract.
    */
  private def withKeyCols(df: DataFrame, keys: DataFrame): (DataFrame, Seq[String]) = {
    import org.apache.spark.sql.functions.lit
    val keyCols = keys.columns.toSeq
    // presence must use the session's (case-insensitive) resolution —
    // a case-sensitive check would mark a case-variant column missing
    // and withColumn (case-INSENSITIVE) would clobber it with NULLs,
    // silently resurrecting every deleted row (review-round-16 catch)
    val missing = keyCols.filterNot(k => df.columns.exists(_.equalsIgnoreCase(k)))
    val padded = missing.foldLeft(df)((d, k) => d.withColumn(k, lit(null).cast(keys.schema(k).dataType)))
    (padded, missing)
  }

  /** Broadcast the sidecar key frame only below this many key-file
    * BYTES. [[deleteKeysMoR]] accepts key batches of ANY size (only
    * the sidecar-prune collect is capped at
    * [[ManifestStats.KeySetPruneCap]]), so an unconditional broadcast
    * hint would make every later leaf read, fold, and count of a huge
    * keyed-retention batch collect the whole key frame onto the driver
    * and push it at Spark's broadcast ceiling. Bytes, not rows: a
    * 900k-row frame of two wide string columns is a driver OOM a row
    * cap never sees. 32 MB of compressed parquet inflates to low
    * hundreds of MB in-memory — comfortably broadcastable — and the
    * common churn-sized sidecar is KBs; above the cap the hint is
    * omitted and the join plans as a normal shuffle join, which at
    * that size is the correct plan anyway.
    */
  private[compact] val EqBroadcastKeyBytesCap = 32L * 1024 * 1024

  /** Total on-disk bytes of a sidecar's key files — the broadcast
    * dial's input. One `getFileStatus` per key file (the sidecar seals
    * them coalesced to one), no parquet opens.
    */
  private[compact] def eqKeyBytesOf(spark: SparkSession, leaf: String, s: EqSidecar): Long = {
    val fs = FileIndexer.fsFor(spark, leaf)
    // SATURATING sum: the unknown-size sentinel is Long.MaxValue, and a
    // plain .sum of two sentinels (or one plus anything) overflows to a
    // negative total that PASSES the <= cap check — forcing the broadcast
    // on exactly the sidecar the sentinel exists to protect (advice r17;
    // latent today because sidecars seal key files coalesced to one).
    s.keyFiles.foldLeft(0L) { (acc, r) =>
      val len =
        try fs.getFileStatus(new Path(s"$leaf/$r")).getLen
        catch { case _: Throwable => Long.MaxValue } // unknown size: never force a broadcast
      try Math.addExact(acc, len)
      catch { case _: ArithmeticException => Long.MaxValue }
    }
  }

  private def maybeBroadcastKeys(keys: DataFrame, keyBytes: Long): DataFrame =
    if (keyBytes <= EqBroadcastKeyBytesCap) org.apache.spark.sql.functions.broadcast(keys) else keys

  private[compact] def semiJoinKeysGuarded(df: DataFrame, keys: DataFrame, keyBytes: Long): DataFrame = {
    val (padded, _) = withKeyCols(df, keys)
    padded.join(maybeBroadcastKeys(keys, keyBytes), keys.columns.toSeq, "left_semi")
  }

  private[compact] def antiJoinKeysGuarded(df: DataFrame, keys: DataFrame, keyBytes: Long): DataFrame = {
    val (padded, missing) = withKeyCols(df, keys)
    padded.join(maybeBroadcastKeys(keys, keyBytes), keys.columns.toSeq, "left_anti")
      .drop(missing: _*)
  }

  /** The fs-qualified spelling of `leaf` plus the trailing slash — what
    * `_metadata.file_path` values of files under the leaf start with.
    */
  private[compact] def qualifiedPrefix(spark: SparkSession, leaf: String): String = {
    val p = new Path(leaf)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p).toString + "/"
  }

  /** `df`, a parquet scan of files under `leaf`, with hidden
    * row-identity columns: `_mor_rel` (leaf-relative source path) and
    * `_mor_pos` (row ordinal in that file) — both resolved at the scan
    * from the parquet `_metadata` struct, no UDF, codegen-friendly.
    */
  private[compact] def withPos(spark: SparkSession, leaf: String, df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val pfx = qualifiedPrefix(spark, leaf)
    df.withColumn("_mor_rel", col("_metadata.file_path").substr(lit(pfx.length + 1), lit(Int.MaxValue)))
      .withColumn("_mor_pos", col("_metadata.row_index"))
  }

  /** Data `files` (all under `leaf`) read with [[withPos]]'s columns. */
  private[compact] def readWithPos(spark: SparkSession, leaf: String, files: Seq[String]): DataFrame =
    withPos(spark, leaf, spark.read.option("mergeSchema", "true").parquet(files: _*))

  /** The (file, pos) rows of the given delete sidecar files. */
  private[compact] def deletePositions(spark: SparkSession, deleteFiles: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    spark.read.parquet(deleteFiles: _*).select(col(DelFile), col(DelPos))
  }

  /** THE one implementation of position application: anti-join a
    * frame carrying `_mor_rel`/`_mor_pos` (from [[readWithPos]] or
    * equivalent) against a positions frame. `Keep` retains the
    * identity columns for callers that classify on them afterwards.
    */
  private[compact] def antiJoinPositionsKeep(df: DataFrame, pos: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    df.join(pos, col("_mor_rel") === col(DelFile) && col("_mor_pos") === col(DelPos), "left_anti")
  }

  private[compact] def antiJoinPositions(df: DataFrame, pos: DataFrame): DataFrame =
    antiJoinPositionsKeep(df, pos).drop("_mor_rel", "_mor_pos")

  /** `files` (under `leaf`) with the rows named by `deleteFiles`
    * anti-joined away, the `_mor_rel`/`_mor_pos` identity columns KEPT —
    * THE merge-on-read scan, both sidecar kinds applied in one pass:
    * data files group by which equality sidecars' scopes cover them
    * (each group is read ONCE and anti-joined on each covering
    * sidecar's broadcast keys — no second scan, no positions resolved),
    * then position sidecars anti-join on (file, pos). The sidecar side
    * is churn-bounded, so Spark's size estimate broadcasts it in the
    * common case; a retention backlog large enough to shuffle is
    * exactly when a shuffle is correct. `read` reads a subset of
    * `files` with the identity columns.
    */
  private[compact] def awareWithPos(
      spark: SparkSession,
      leaf: String,
      files: Seq[String],
      deleteFiles: Seq[String],
  )(read: Seq[String] => DataFrame): DataFrame = {
    if (deleteFiles.isEmpty) return read(files)
    val (posRels, eqs) = splitSidecarRels(deleteFiles.map(relativeTo(leaf, _)))
    val base =
      if (eqs.isEmpty) read(files)
      else {
        val scopes = eqs.map(e => eqScopeRels(spark, leaf, e).toSet)
        // byte sizes resolved LAZILY per sidecar actually applied to a
        // group (a sidecar covering none of the read's files costs
        // nothing) and memoized across groups
        val keyBytesCache = scala.collection.mutable.Map.empty[Int, Long]
        def keyBytes(i: Int): Long =
          keyBytesCache.getOrElseUpdate(i, eqKeyBytesOf(spark, leaf, eqs(i)))
        val groups = files
          .groupBy(f => scopes.zipWithIndex.collect { case (sc, i) if sc(relativeTo(leaf, f)) => i })
          .toSeq.sortBy(_._2.head)
        val parts = groups.map { case (sids, fls) =>
          sids.foldLeft(read(fls)) { (df, i) =>
            antiJoinKeysGuarded(df, readEqKeys(spark, leaf, eqs(i)), keyBytes(i))
          }
        }
        parts.reduce(_.unionByName(_, allowMissingColumns = true))
      }
    if (posRels.isEmpty) base
    else antiJoinPositionsKeep(base, deletePositions(spark, posRels.map(r => s"$leaf/$r")))
  }

  private[compact] def readFilesAware(
      spark: SparkSession,
      leaf: String,
      files: Seq[String],
      deleteFiles: Seq[String],
  ): DataFrame =
    if (deleteFiles.isEmpty) spark.read.option("mergeSchema", "true").parquet(files: _*)
    else awareWithPos(spark, leaf, files, deleteFiles)(readWithPos(spark, leaf, _)).drop("_mor_rel", "_mor_pos")

  /** Resolve a mixed sidecar list to ONE distinct (file, pos) frame —
    * the COUNT currency ([[ManifestStats.countLeaf]]'s correction).
    * Position sidecars read as-is (metadata scale); equality sidecars
    * resolve by scanning their scope files' key columns — the leaf's
    * first data read the zero-read commit deferred, bounded by the
    * bloom-pruned scope. Distinct across kinds: a row killed twice
    * still subtracts once.
    */
  private[compact] def resolveDeletePositions(
      spark: SparkSession,
      leaf: String,
      deleteFiles: Seq[String],
  ): DataFrame = {
    import org.apache.spark.sql.functions.col
    val (posRels, eqs) = splitSidecarRels(deleteFiles.map(relativeTo(leaf, _)))
    val posDf =
      if (posRels.isEmpty) None
      else Some(deletePositions(spark, posRels.map(r => s"$leaf/$r")))
    val eqDfs = eqs.map { e =>
      val scope = eqScopeRels(spark, leaf, e)
      semiJoinKeysGuarded(
        readWithPos(spark, leaf, scope.map(r => s"$leaf/$r")),
        readEqKeys(spark, leaf, e), eqKeyBytesOf(spark, leaf, e))
        .select(col("_mor_rel").as(DelFile), col("_mor_pos").as(DelPos))
    }
    (posDf.toSeq ++ eqDfs).reduce(_.unionByName(_)).distinct()
  }

  /** Number of live EQUALITY sidecars on the leaf (sidecars, not
    * member files) — the backlog metric the eq fold dial reads.
    */
  def liveEqDeleteCount(spark: SparkSession, leaf: String): Int =
    splitSidecarRels(liveDeletes(spark, leaf).map(relativeTo(leaf, _)))._2.size

  /** Physically fold EVERY live equality sidecar: one compaction of
    * the union of their scopes. Each read of the leaf currently pays
    * one key anti-join per live sidecar, each stacked keyed delete
    * deepens the `refs` exclusion chains, and consumed sidecars pin
    * their referenced dirs — this commit resets all three to zero
    * (scopes ⊆ plan ⇒ every sidecar is consumed whole, no reseal, no
    * surviving refs). Position sidecars targeting scope files fold
    * along for free; others stay. Unlike [[consolidateDeletes]] this
    * PAYS the scope rewrite — which is exactly the compaction the
    * retention cadence owed the leaf anyway. Returns None when no
    * equality sidecar is live.
    */
  def foldEqDeletes(
      spark: SparkSession,
      leaf: String,
      cfg: CompactorConfig,
      stem: String = "eqfold",
      minSidecars: Int = 1,
  ): Option[LeafResult] = {
    require(cfg.commitMode == CommitMode.Manifest, "equality-sidecar folding requires manifest mode")
    // one state resolution decides both the dial threshold and the
    // plan (the commit path re-resolves scopes for its own fold
    // classification — metadata-scale, and the OCC/knownDeletes
    // tripwires re-validate everything at publish anyway)
    val (_, eqs) = splitSidecarRels(liveDeletes(spark, leaf).map(relativeTo(leaf, _)))
    if (eqs.size < minSidecars || eqs.isEmpty) return None
    // pre-commit planning degrades to a FAILED result, never a throw —
    // a concurrent fold can consume a scope file between the listing
    // and these reads (the same contract as the sibling dials)
    try {
      val fs = FileIndexer.fsFor(spark, leaf)
      val files = eqs.flatMap(e => eqScopeRels(spark, leaf, e))
        .distinct.sorted.map(r => s"$leaf/$r")
      val bytes = files.map(p => fs.getFileStatus(new Path(p)).getLen).sum
      Some(mergeAndCommit(spark, LeafPlan(leaf, stem, files, bytes), cfg))
    } catch {
      case e: Throwable =>
        Some(LeafResult(leaf, stem, success = false, 0L, 0, Some(e.toString)))
    }
  }

  /** The leaf's NET-LIVE merge-on-read delete sidecar files (absolute
    * paths) — empty for a leaf with no outstanding row-level deletes.
    * Same metadata cost as [[liveFiles]].
    */
  def liveDeletes(spark: SparkSession, leaf: String): Seq[String] = {
    val fs = FileIndexer.fsFor(spark, leaf)
    val leafPath = new Path(leaf)
    if (!fs.exists(leafPath)) return Seq.empty
    val st = resolveState(fs, leaf, fs.listStatus(leafPath))
    st.deletes.filterNot(st.superseded).distinct.sorted.map(rel => s"$leaf/$rel")
  }

  /** The equality-sidecar dir stems REFERENCED by the leaf's live
    * equality sidecars (their `refs` exclusion sets). These are a
    * RETENTION DEPENDENCY exactly like position targets: the
    * referenced sidecar may itself be consumed by a fold, but its
    * keys/scope files must survive on disk while any live sidecar
    * excludes through them — the post-publish GC, [[expireSnapshots]],
    * and (via the manifest `inputs` reference) [[gcOrphans]] all
    * exempt them. Metadata-scale: one small read per live eq sidecar.
    */
  private[compact] def liveEqRefStems(spark: SparkSession, leaf: String): Set[String] = {
    val (_, eqs) = splitSidecarRels(liveDeletes(spark, leaf).map(relativeTo(leaf, _)))
    eqs.flatMap(e => eqRefs(spark, leaf, e)).toSet
  }

  /** Is `rel` a member file of one of the given equality-sidecar dir
    * stems? (`.eqdel-<stem>` covers its `-keys/-scope/-prior/-refs`
    * dirs.)
    */
  private[compact] def underEqStems(stems: Set[String], rel: String): Boolean =
    stems.exists(s => rel.startsWith(s + "-"))

  /** Can [[readDeleteRows]] over these sidecars succeed right now? —
    * every position target / scope file on disk AND every referenced
    * exclusion sidecar still re-materializable. Incremental consumers
    * use this to fall back (diff / rebuild) instead of throwing
    * mid-refresh.
    */
  def deleteRowsReadable(spark: SparkSession, leaf: String, deleteFiles: Seq[String]): Boolean =
    deleteFiles.isEmpty || {
      try {
        val fs = FileIndexer.fsFor(spark, leaf)
        deleteFiles.forall(p => fs.exists(new Path(p))) &&
          deleteTargets(spark, leaf, deleteFiles).forall(p => fs.exists(new Path(p))) && {
            val (_, eqs) = splitSidecarRels(deleteFiles.map(relativeTo(leaf, _)))
            eqs.forall(e => eqRefs(spark, leaf, e).forall { stem =>
              try { eqSidecarFromDisk(fs, leaf, stem); true }
              catch { case _: java.io.IOException => false }
            })
          }
      } catch { case _: Throwable => false }
    }

  /** [[liveDeletes]] as of commit `asOfSeq` — the delete half of the
    * snapshot ([[liveFilesAt]]'s companion, same retention caveats).
    */
  def liveDeletesAt(spark: SparkSession, leaf: String, asOfSeq: Long): Seq[String] = {
    val fs = FileIndexer.fsFor(spark, leaf)
    val leafPath = new Path(leaf)
    if (!fs.exists(leafPath)) return Seq.empty
    val upTo = fs.listStatus(leafPath)
      .filter(e => e.isFile && e.getPath.getName.startsWith("_manifest-") && e.getPath.getName.endsWith(".json"))
      .flatMap(e => readManifest(fs, e.getPath))
      .filter(_.seq <= asOfSeq)
      .sortBy(m => (m.seq, m.runId))
    upTo.foldLeft(Seq.empty[String]) { (dels, m) =>
      (dels.filterNot(m.inputs.toSet) ++ m.deletes).distinct
    }.sorted.map(rel => s"$leaf/$rel")
  }

  /** Materialize the ROWS the given delete sidecars retract — positions
    * joined back to their (possibly superseded, still-on-disk) source
    * files. The returned frame carries the data schema plus
    * `_delete_file` (the sidecar that retracted each row — the natural
    * idempotence key for feed consumers). Fails LOUDLY when a source
    * file is already GC'd: a retraction feed must never silently
    * under-retract (run the leaf with `retainSuperseded` spanning the
    * consumer's lag, like [[ChangeFeed.readRemoved]]).
    */
  private[compact] def readDeleteRows(
      spark: SparkSession,
      leaf: String,
      deleteFiles: Seq[String],
  ): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    require(deleteFiles.nonEmpty, "no delete sidecars to read")
    val fs = FileIndexer.fsFor(spark, leaf)
    // one split, one position-targets read, one scope read per sidecar —
    // this is a hot incremental-consumer path (feed, SyncTick, matagg
    // walk), so the sidecar metadata resolves exactly once
    val (posRels, eqs) = splitSidecarRels(deleteFiles.map(relativeTo(leaf, _)))
    val posAbs = posRels.map(r => s"$leaf/$r")
    val posTargets =
      if (posRels.isEmpty) Seq.empty[String]
      else spark.read.parquet(posAbs: _*)
        .select(DelFile).distinct().collect()
        .map(r => s"$leaf/${r.getString(0)}").toSeq.sorted
    val eqScopes = eqs.map(e => e -> eqScopeRels(spark, leaf, e))
    val targets = (posTargets ++ eqScopes.flatMap(_._2.map(r => s"$leaf/$r"))).distinct
    val missing = targets.filterNot(p => fs.exists(new Path(p)))
    if (missing.nonEmpty)
      throw new java.io.IOException(
        s"delete-sidecar rows unreadable: ${missing.size} target file(s) already GC'd " +
          s"(first: ${missing.head}) — retain superseded files for the consumer's lag",
      )
    val posPart =
      if (posRels.isEmpty) None
      else {
        val pos = spark.read.parquet(posAbs: _*)
          .select(col(DelFile), col(DelPos), col("_metadata.file_path").as("_delete_file"))
        val data = readWithPos(spark, leaf, posTargets)
        Some(
          data.join(pos, data("_mor_rel") === pos(DelFile) && data("_mor_pos") === pos(DelPos), "inner")
            .drop("_mor_rel", "_mor_pos", DelFile, DelPos))
      }
    // an equality sidecar's retraction set = its key matches in scope
    // MINUS what was already dead when it committed (recorded prior
    // positions + referenced earlier equality sidecars, re-resolved
    // here) — a feed consumer never double-retracts a row
    val eqParts = eqScopes.map { case (e, scope) =>
      val scopeSet = scope.toSet
      val mine = semiJoinKeysGuarded(
        readWithPos(spark, leaf, scope.map(r => s"$leaf/$r")),
        readEqKeys(spark, leaf, e), eqKeyBytesOf(spark, leaf, e))
      val refExcl = eqRefs(spark, leaf, e).flatMap { stem =>
        val rs = eqSidecarFromDisk(fs, leaf, stem)
        val shared = eqScopeRels(spark, leaf, rs).toSet.intersect(scopeSet).toSeq.sorted
        if (shared.isEmpty) None
        else Some(
          semiJoinKeysGuarded(
            readWithPos(spark, leaf, shared.map(r => s"$leaf/$r")),
            readEqKeys(spark, leaf, rs), eqKeyBytesOf(spark, leaf, rs))
            .select(col("_mor_rel").as(DelFile), col("_mor_pos").as(DelPos)))
      }
      val excl = (eqPrior(spark, leaf, e).toSeq ++ refExcl).reduceOption(_.unionByName(_))
      excl.map(antiJoinPositionsKeep(mine, _)).getOrElse(mine)
        .drop("_mor_rel", "_mor_pos")
        .withColumn("_delete_file", lit(s"$leaf/${e.dirStem}"))
    }
    (posPart.toSeq ++ eqParts).reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** The distinct data files (absolute) the given delete sidecars
    * target — position files' `_del_file` column plus equality
    * sidecars' recorded scope; a driver-side read bounded by sidecar
    * size (churn), never by the leaf.
    */
  private[compact] def deleteTargets(spark: SparkSession, leaf: String, deleteFiles: Seq[String]): Seq[String] =
    if (deleteFiles.isEmpty) Seq.empty
    else {
      val (posRels, eqs) = splitSidecarRels(deleteFiles.map(relativeTo(leaf, _)))
      val posTargets =
        if (posRels.isEmpty) Seq.empty
        else spark.read.parquet(posRels.map(r => s"$leaf/$r"): _*)
          .select(DelFile).distinct().collect()
          .map(r => s"$leaf/${r.getString(0)}").toSeq
      val eqTargets = eqs.flatMap(e => eqScopeRels(spark, leaf, e).map(r => s"$leaf/$r"))
      (posTargets ++ eqTargets).distinct.sorted
    }

  /** [[liveFiles]] as of commit `asOfSeq` (inclusive): only manifests
    * with `seq <= asOfSeq` participate, so the result is the live set
    * right after that commit — snapshot time travel over the manifest
    * log. Exact while the later commits' superseded inputs still exist:
    * run with `CompactorConfig.retainSuperseded` (and a deferred GC) to
    * keep history readable; after GC, as-of reads older than the
    * reclaimed inputs fail on missing files rather than silently
    * returning partial data. Raw files that ARRIVED after the as-of
    * commit are not versioned (a lake leaf has no arrival log) — as-of
    * governs compaction commits, not ingestion.
    */
  def liveFilesAt(spark: SparkSession, leaf: String, asOfSeq: Long): Seq[String] = {
    val fs = FileIndexer.fsFor(spark, leaf)
    val leafPath = new Path(leaf)
    if (!fs.exists(leafPath)) return Seq.empty
    val entries = fs.listStatus(leafPath)
    val (upTo, later) = entries
      .filter(e => e.isFile && e.getPath.getName.startsWith("_manifest-") && e.getPath.getName.endsWith(".json"))
      .flatMap(e => readManifest(fs, e.getPath))
      .partition(_.seq <= asOfSeq)
    val superseded = upTo.flatMap(_.inputs).toSet
    val visibleNow = entries
      .filter { e =>
        val n = e.getPath.getName
        e.isFile && n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_")
      }
      .map(_.getPath.getName)
      .toSeq
    // Raw files compacted by LATER commits were visible at asOf; take
    // them from those manifests' inputs, not the current listing, so an
    // expired (deleted) one still lands in the resolved list and the
    // read fails loudly (PATH_NOT_FOUND) instead of silently shrinking
    // the snapshot. `.data-*` inputs of later commits are outputs of
    // commits ≤ asOf and arrive via the outputs union below — or belong
    // to commits > asOf and must not appear — so only raw names
    // reconstruct here.
    val visibleAtAsOf = (visibleNow ++
      later.flatMap(_.inputs).filterNot(r => r.startsWith(".data-") || isDeleteRel(r))).distinct
    val live = (visibleAtAsOf.filterNot(superseded) ++
      upTo.flatMap(_.outputs).filterNot(superseded)).distinct
    live.sorted.map(rel => s"$leaf/$rel")
  }

  /** The leaf as a DataFrame, resolved through its manifests — with any
    * outstanding merge-on-read delete sidecars applied (the row-level
    * read contract: a MoR delete and its copy-on-write twin are
    * indistinguishable here).
    */
  def readLeaf(spark: SparkSession, leaf: String): DataFrame =
    readLeafAt(spark, leaf, Long.MaxValue)

  /** The leaf as of commit `asOfSeq` — see [[liveFilesAt]]. */
  def readLeafAt(spark: SparkSession, leaf: String, asOfSeq: Long): DataFrame = {
    val files = liveFilesAt(spark, leaf, asOfSeq)
    if (files.isEmpty) spark.emptyDataFrame
    else readFilesAware(spark, leaf, files, liveDeletesAt(spark, leaf, asOfSeq))
  }

  /** Incremental-consumer surface over the snapshot log: the live-set
    * CHANGE between two commits — files a reader at `fromSeq` must drop
    * and files it must add to reach `toSeq` — without reading either
    * full snapshot's data. A CDC-style downstream (cache invalidation,
    * incremental re-index, replication) processes only the delta;
    * metadata ops only, same resolution rules as [[liveFilesAt]].
    */
  def diffSnapshots(spark: SparkSession, leaf: String, fromSeq: Long, toSeq: Long): (Seq[String], Seq[String]) = {
    require(fromSeq <= toSeq, s"fromSeq $fromSeq > toSeq $toSeq")
    val before = liveFilesAt(spark, leaf, fromSeq).toSet
    val after = liveFilesAt(spark, leaf, toSeq).toSet
    ((before -- after).toSeq.sorted, (after -- before).toSeq.sorted)
  }

  /** Retire history: delete the still-present superseded inputs of every
    * manifest with `seq <= beforeSeq` (the files only as-of reads OLDER
    * than those commits need). Snapshots at or after `beforeSeq` stay
    * exact; earlier ones become unreadable — the expire-snapshots
    * lifecycle step that bounds `retainSuperseded`'s storage. Returns
    * files removed. Metadata ops + deletes only, no data I/O.
    */
  def expireSnapshots(spark: SparkSession, leaf: String, beforeSeq: Long): Int = {
    val fs = FileIndexer.fsFor(spark, leaf)
    val manifests = sealedManifestsNamed(fs, leaf)
    val stillLive = (liveFiles(spark, leaf) ++ liveDeletes(spark, leaf))
      .map(relativeTo(leaf, _)).toSet
    // superseded eq-sidecar files a LIVE sidecar's refs exclusion still
    // resolves through are a retention dependency — never history
    val refStems = liveEqRefStems(spark, leaf)
    val expirable = manifests.map(_._2).filter(_.seq <= beforeSeq).flatMap(_.inputs).distinct
      .filterNot(stillLive) // a live file is never history, whatever names it
      .filterNot(rel => underEqStems(refStems, rel))
    val removed = expirable.count { rel =>
      val p = new Path(s"$leaf/$rel")
      try fs.exists(p) && fs.delete(p, false)
      catch { case _: Throwable => false }
    }
    // Lifecycle debris this pass can now reclaim (repeated compact/expire
    // cycles would otherwise grow both forever):
    //  - hidden .data-* dirs whose every file has been expired, and
    //  - manifests none of whose inputs OR outputs still exist on disk —
    //    they subtract nothing from any listing, contribute nothing live,
    //    and the snapshots that needed them already fail on missing
    //    files. The newest manifest always keeps its outputs (they ARE
    //    the live set), so the seq chain's maximum survives pruning even
    //    if the head pointer is lost.
    manifests.foreach { case (name, m) =>
      if (m.seq <= beforeSeq) {
        val anyFile = (m.inputs ++ m.outputs ++ m.deletes).exists { rel =>
          try fs.exists(new Path(s"$leaf/$rel"))
          catch { case _: Throwable => true } // unsure => keep
        }
        if (!anyFile) {
          try fs.delete(new Path(s"$leaf/$name"), false)
          catch { case _: Throwable => () }
          // the pruned manifest's stats/bloom sidecars described only
          // its now-gone outputs — same lifecycle
          if (m.runId.nonEmpty) ManifestStats.deleteSidecars(fs, leaf, m.runId)
        }
      }
    }
    val leafPath = new Path(leaf)
    if (fs.exists(leafPath)) {
      fs.listStatus(leafPath)
        .filter(e => e.isDirectory &&
          (e.getPath.getName.startsWith(".data-") || e.getPath.getName.startsWith(".delete-") ||
            e.getPath.getName.startsWith(".eqdel-")))
        .foreach { d =>
          // "empty" = no parquet left; write markers (_SUCCESS, checksum
          // files) are debris once every data file has been expired
          val empty =
            try fs.listStatus(d.getPath).forall(e => !e.getPath.getName.endsWith(".parquet"))
            catch { case _: Throwable => false }
          if (empty) {
            try fs.delete(d.getPath, true)
            catch { case _: Throwable => () }
          }
        }
    }
    removed
  }

  /** Manifest-log compaction: fold every sealed manifest with
    * `seq <= beforeSeq` into ONE checkpoint manifest carrying the
    * prefix chain's net effect (union of inputs, net outputs, max seq),
    * then delete the folded originals — bounding the per-leaf manifest
    * FILE count for long-lived leaves the way [[expireSnapshots]]
    * bounds their data files. Returns the number of manifests folded
    * away (0 if fewer than two qualify — a checkpoint of one manifest
    * is a rename, not a saving).
    *
    * Install order makes every crash window safe:
    *   1. seal the checkpoint manifest — its seq ≤ the head's, so
    *      readers SKIP it while the originals still exist (resolveState's
    *      at-or-below-head rule) and fold it correctly if the head is
    *      ever lost;
    *   2. bump the head (seq+1, create-if-absent — the same concurrent-
    *      writer tripwire as a commit) covering the checkpoint;
    *   3. delete the folded manifests — each now redundant with both
    *      the head and the checkpoint.
    *
    * Per-commit granularity below `beforeSeq` is gone afterwards
    * (manifestLog shows the single checkpoint entry): pair with the
    * [[expireSnapshots]] horizon, where those snapshots are already
    * unreadable.
    */
  def checkpoint(spark: SparkSession, leaf: String, beforeSeq: Long): Int = {
    val fs = FileIndexer.fsFor(spark, leaf)
    val leafPath = new Path(leaf)
    if (!fs.exists(leafPath)) return 0
    val entries = fs.listStatus(leafPath)
    val named = sealedManifestsNamed(fs, leaf)
    val folded = named.filter(_._2.seq <= beforeSeq).sortBy { case (_, m) => (m.seq, m.runId) }
    if (folded.size < 2) return 0
    val st = resolveState(fs, leaf, entries) // current head state (for the bump)
    if (folded.exists(_._2.seq > st.seq)) return 0 // never fold ahead of the head

    val netOutputs = folded.foldLeft(Seq.empty[String]) { case (outs, (_, m)) =>
      (outs.filterNot(m.inputs.toSet) ++ m.outputs).distinct
    }
    // net-live delete sidecars fold the same way (added by a commit's
    // `deletes`, retired when a later fold lists them in `inputs`);
    // `drows` is NOT carried — the walk never crosses a checkpoint
    // (changelogOf refuses folded windows), so the count is only dead
    // weight there, while the delete LIST must survive for liveDeletes
    val netDeletes = folded.foldLeft(Seq.empty[String]) { case (dels, (_, m)) =>
      (dels.filterNot(m.inputs.toSet) ++ m.deletes).distinct
    }
    val names = entries.map(_.getPath.getName).toSet
    val topPresent = (rel: String) => names.contains(rel.takeWhile(_ != '/'))
    val allInputs = folded.flatMap(_._2.inputs).distinct.filter(topPresent)
    val last = folded.last._2
    val runId = UUID.randomUUID().toString.replace("-", "")
    val ckptName = s"_manifest-checkpoint-$runId.json"
    MetaCodec.write(
      fs, new Path(s"$leaf/$ckptName"),
      MetaCodec.encodeManifest(
        Manifest(allInputs, netOutputs, last.seq, runId, "checkpoint", last.rows, netDeletes), checkpoint = true),
    )

    // Fold the folded commits' SIDECARS too (ROADMAP 42): merge their
    // entries for files the checkpoint still carries into one
    // checkpoint-runId sidecar per kind, sealed BEFORE the head bump.
    // Until the originals are deleted both copies coexist — harmless,
    // files are write-once so duplicate entries are identical — and a
    // crash in between leaves the union readers see unchanged.
    val foldedRunIds = folded.map(_._2.runId).filter(_.nonEmpty).toSet
    val liveOut = netOutputs.toSet
    val mergedStats = folded.flatMap { case (_, m) =>
      if (m.runId.isEmpty) Seq.empty
      else ManifestStats.parseStatsFile(fs, new Path(s"$leaf/${ManifestStats.statsName(m.runId)}"))
    }.filter { case (f, _) => liveOut.contains(f) }.toMap
    if (mergedStats.nonEmpty) {
      try ManifestStats.write(fs, leaf, runId, mergedStats)
      catch { case _: Throwable => () } // advisory: a failed fold only loses pruning
    }
    val mergedBlooms = folded.flatMap { case (_, m) =>
      if (m.runId.isEmpty) Seq.empty
      else ManifestStats.parseBloomFile(fs, new Path(s"$leaf/${ManifestStats.bloomName(m.runId)}"))
    }.filter { case (f, _, _) => liveOut.contains(f) }
      .groupBy(_._1).map { case (f, es) => f -> es.map(e => e._2 -> e._3).toMap }
    if (mergedBlooms.nonEmpty) {
      try ManifestStats.writeBlooms(fs, leaf, runId, mergedBlooms)
      catch { case _: Throwable => () }
    }

    val foldedNames = folded.map(_._1).toSet
    try {
      createHead(
        fs, leaf, st.seq + 1L, runId,
        covered = (((st.covered & names) -- foldedNames) + ckptName).toSeq.sorted,
        superseded = st.superseded.filter(topPresent).toSeq.sorted,
        outputs = st.outputs.sorted,
        priorHeads = entries.map(_.getPath).filter(p => headSeqOf(p.getName).isDefined),
        deletes = st.deletes.distinct.sorted,
      )
    } catch {
      case e: ConcurrentCommitException =>
        // a writer commits mid-checkpoint: abort (remove the checkpoint
        // and its merged sidecars, keep the originals) and let the next
        // maintenance pass retry
        try fs.delete(new Path(s"$leaf/$ckptName"), false)
        catch { case _: Throwable => () }
        ManifestStats.deleteSidecars(fs, leaf, runId)
        System.err.println(s"[compact] checkpoint on $leaf aborted: ${e.getMessage}")
        return 0
    }
    // folded manifests' sidecars go with them (their surviving entries
    // now live in the checkpoint sidecars)
    foldedRunIds.foreach(ManifestStats.deleteSidecars(fs, leaf, _))
    folded.count { case (name, _) =>
      try fs.delete(new Path(s"$leaf/$name"), false)
      catch { case _: Throwable => false }
    }
  }

  /** Reclaim `.data-*` dirs no sealed manifest references — debris from
    * runs that died before their commit point. Returns dirs removed.
    *
    * OFFLINE-ONLY: must not run concurrently with active compaction on
    * this leaf. Data dirs AND stats/bloom sidecars are deliberately
    * written BEFORE the commit point, so an in-flight run's outputs are
    * indistinguishable from crash debris until its manifest publishes —
    * a concurrent pass would delete them and either fail the commit
    * (data) or strip its skipping metadata (sidecars). The re-list
    * below narrows the publish race to the listing→delete window but
    * cannot close it; schedule GC from the single maintenance loop
    * (Compactor already serializes it per leaf).
    */
  def gcOrphans(spark: SparkSession, leaf: String): Int = {
    val fs = FileIndexer.fsFor(spark, leaf)
    val leafPath = new Path(leaf)
    if (!fs.exists(leafPath)) return 0
    def manifestFiles(es: Array[org.apache.hadoop.fs.FileStatus]) =
      es.filter(e => e.isFile && e.getPath.getName.startsWith("_manifest-") && e.getPath.getName.endsWith(".json"))
    def runIdsOf(es: Array[org.apache.hadoop.fs.FileStatus]) = es
      .map(_.getPath.getName)
      .flatMap(n => manifestRunIdRe.findFirstMatchIn(n).map(_.group(1)))
      .toSet
    val entries = fs.listStatus(leafPath)
    val referenced = manifestFiles(entries)
      .flatMap(e => readManifest(fs, e.getPath))
      .flatMap(m => m.outputs ++ m.deletes ++ m.inputs.filter(isDeleteRel))
      .map(_.takeWhile(_ != '/'))
      .toSet
    val orphans = entries.filter { e =>
      val n = e.getPath.getName
      e.isDirectory &&
        (n.startsWith(".data-") || n.startsWith(".delete-") || n.startsWith(".eqdel-")) &&
        !referenced.contains(n)
    }
    // stats/bloom sidecars from runs that died pre-commit: same debris class
    val manifestRunIds = runIdsOf(entries)
    val sidecarOrphans = entries.filter { e =>
      val n = e.getPath.getName
      e.isFile &&
        (ManifestStats.runIdOf(n).orElse(ManifestStats.bloomRunIdOf(n)))
          .exists(!manifestRunIds.contains(_))
    }
    if (orphans.isEmpty && sidecarOrphans.isEmpty) return 0
    // re-list just before deleting: a commit that published between the
    // snapshot and now rescues its outputs/sidecars from this pass
    val freshIds = runIdsOf(manifestFiles(fs.listStatus(leafPath)))
    def stillOrphan(runId: String) = !freshIds.contains(runId)
    sidecarOrphans
      .filter { e =>
        val n = e.getPath.getName
        ManifestStats.runIdOf(n).orElse(ManifestStats.bloomRunIdOf(n)).exists(stillOrphan)
      }
      .foreach { e =>
        try fs.delete(e.getPath, false)
        catch { case _: Throwable => () }
      }
    // an .eqdel- dir's owning run is the hex id before any residual
    // marker ('r<i>') or role suffix — it must map to the COMMIT's
    // runId so a freshly-published manifest rescues its own stages
    def ownerRunId(dirName: String): String =
      if (dirName.startsWith(".eqdel-"))
        dirName.stripPrefix(".eqdel-").takeWhile(ch => ch.isDigit || (ch >= 'a' && ch <= 'f'))
      else dirName.stripPrefix(".data-").stripPrefix(".delete-")
    orphans
      .filter(o => stillOrphan(ownerRunId(o.getPath.getName)))
      .count(o => fs.delete(o.getPath, true))
  }

  private[compact] def relativeTo(leaf: String, path: String): String = {
    val pfx = if (leaf.endsWith("/")) leaf else leaf + "/"
    require(path.startsWith(pfx), s"input $path is not under leaf $leaf")
    path.stripPrefix(pfx)
  }
}
