package graft.compact

import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Write–audit–publish: gate a batch behind a declared data-quality
  * battery BEFORE it becomes visible (the Deequ/dbt-test "WAP" pattern,
  * cf. the audit semantics of `parquet_compactor.py`'s
  * validate-row-counts-before-delete step at
  * `/root/reference/parquet-compactor/parquet_compactor.py:214-231`,
  * generalized from "row counts survived the rewrite" to an arbitrary
  * expectations battery over the STAGED bytes).
  *
  * Mechanics ride the manifest commit's existing crash contract:
  *
  *  1. WRITE — the batch is staged to a hidden `.data-<runId>/` dir
  *     under the target leaf. Readers resolve the leaf through sealed
  *     manifests ([[ManifestCommit.liveFiles]] filters dotted names and
  *     exposes `.data-` files only via manifest outputs), so staged
  *     bytes are invisible, exactly like a mid-flight compaction.
  *  2. AUDIT — the checks run over a re-read of the STAGED files (not
  *     the input plan): what is audited is byte-for-byte what would be
  *     published. The whole battery is ONE lazy plan — each check
  *     contributes a 1-row violation count, unioned into a single
  *     report job (the `etl_expectations` shape); the collect is
  *     bounded by the number of checks, never by data.
  *  3. PUBLISH — all-zero report: stats/bloom sidecars are written
  *     beside the staged dir, then ONE sealed-manifest PUT with empty
  *     `inputs` appends the staged files to the live set
  *     ([[ManifestCommit.sealAndPublish]] — the same sidecar, commit
  *     point, OCC tripwire and head discipline as compaction).
  *     Violations: the staged dir is MOVED under the quarantine leaf
  *     and sealed there with the same manifest machinery — the bad
  *     batch stays queryable for triage ([[ManifestCommit.readLeaf]] on
  *     the quarantine leaf), and the target leaf's live set is
  *     untouched.
  *
  * Crash matrix (pinned by WapCommitSpec): a death at ANY point before
  * the winning manifest PUT — mid-stage, post-audit pre-decision,
  * mid-move, pre-quarantine-seal — leaves both leaves' live sets
  * unchanged; debris is unreferenced `.data-` dirs reclaimed by
  * [[ManifestCommit.gcOrphans]] on whichever leaf holds them. A failed
  * audit can never half-publish: the pass path and the quarantine path
  * each have exactly one commit point, and they are on different
  * leaves.
  *
  * At 100 TB the audit costs one scan of the BATCH (not the table):
  * uniqueness/completeness/domain checks aggregate the staged files
  * directly, and referential checks join the batch against the
  * dimension side — declared via [[AuditCheck.refIntegrity]], which
  * broadcasts when the dimension is small and shuffles once when not.
  * Nothing rereads the already-live leaf.
  */
object WapCommit {

  /** One declared expectation: `violations` maps the staged batch to
    * the rows that BREAK it (empty ⇒ pass). Counting happens in
    * [[WapCommit.writeAuditPublish]], lazily, across all checks in one
    * job.
    */
  final case class AuditCheck(name: String, violations: DataFrame => DataFrame)

  object AuditCheck {
    /** Completeness: `col` must never be null. */
    def notNull(col: String): AuditCheck =
      AuditCheck(s"not_null_$col", df => df.where(df(col).isNull))

    /** Uniqueness: the column tuple must be a key within the batch. */
    def unique(cols: String*): AuditCheck =
      AuditCheck(
        s"unique_${cols.mkString("_")}",
        df =>
          df.groupBy(cols.map(df(_)): _*)
            .agg(count(lit(1)).as("n"))
            .where(org.apache.spark.sql.functions.col("n") > 1),
      )

    /** Domain: every non-null row must satisfy `pred` (null-valued
      * predicates count as violations — an unknowable domain is not a
      * pass).
      */
    def satisfies(name: String, pred: Column): AuditCheck =
      AuditCheck(name, df => df.where(!coalesce(pred, lit(false))))

    /** Referential integrity: every batch `col` value must exist in
      * `dim`'s `dimCol`. The anti-join broadcasts `dim` when Spark's
      * size estimate allows; at scale the dimension side is the small
      * one by construction.
      */
    def refIntegrity(col: String, dim: DataFrame, dimCol: String): AuditCheck =
      AuditCheck(
        s"ref_${col}_in_$dimCol",
        df => df.join(dim, df(col) === dim(dimCol), "left_anti"),
      )
  }

  /** The audit outcome: every declared check with its violation count,
    * in declaration order (zero rows is part of the contract — the
    * report proves each check RAN).
    */
  final case class WapReport(checks: Seq[(String, Long)]) {
    def passed: Boolean = checks.forall(_._2 == 0L)
    def failing: Seq[(String, Long)] = checks.filter(_._2 > 0L)
  }

  sealed trait WapResult { def report: WapReport; def rows: Long }

  /** The batch is live on the target leaf as of manifest `seq`. */
  final case class WapCommitted(seq: Long, rows: Long, report: WapReport) extends WapResult

  /** The batch failed its audit and is sealed on `quarantineLeaf`
    * (readable there via [[ManifestCommit.readLeaf]]); the target leaf
    * is untouched.
    */
  final case class WapQuarantined(quarantineLeaf: String, rows: Long, report: WapReport)
      extends WapResult

  /** Default quarantine location: a hidden sibling chain under the
    * target leaf. Underscore-prefixed, so the target leaf's own
    * listing-based readers and the planner's leaf discovery never
    * confuse it for data; it carries its OWN manifest chain.
    */
  def defaultQuarantine(leaf: String): String = s"$leaf/_quarantine"

  /** Stage `batch` under `leaf`, audit the staged bytes with `checks`,
    * and either publish (append commit) or quarantine. See object doc
    * for the crash contract.
    */
  def writeAuditPublish(
      spark: SparkSession,
      leaf: String,
      batch: DataFrame,
      checks: Seq[AuditCheck],
      cfg: CompactorConfig = CompactorConfig(),
      quarantine: Option[String] = None,
  ): WapResult = {
    require(checks.nonEmpty, "an empty audit battery gates nothing — declare at least one check")
    // duplicate names would collapse in the report's name-keyed merge —
    // a failing check masked by a later same-named passing one is the
    // exact silent publish the gate exists to prevent
    require(
      checks.map(_.name).distinct.size == checks.size,
      s"duplicate audit check names: ${checks.map(_.name).diff(checks.map(_.name).distinct).distinct.mkString(", ")}",
    )
    val runId = UUID.randomUUID().toString.replace("-", "")
    val dataDir = s"$leaf/.data-$runId"
    val fs = FileIndexer.fsFor(spark, leaf)

    // WRITE: stage invisibly. maxRecordsPerFile keeps staged files
    // inside the same per-file row budget the compactor enforces.
    batch.write
      .option("compression", "snappy")
      .option("maxRecordsPerFile", cfg.maxRowsPerFile)
      .parquet(dataDir)

    val probed = KnownFiles.staged(spark, dataDir)
    val staged = probed.map(_.status.getPath)
    val rowsStaged = probed.map(_.rows).sum

    // Empty micro-batches are ROUTINE foreachBatch inputs for the
    // streaming callers this API targets, and Spark may stage zero part
    // files (or one 0-row file) for them — spark.read over zero paths
    // throws before the audit even runs, and a published 0-row file is
    // dead weight. Short-circuit: clean the stage, report every check
    // as trivially passed (each ran over zero rows — zero violations by
    // definition), and leave the leaf's head untouched (a no-op must
    // not burn a commit seq).
    if (rowsStaged == 0L) {
      try { fs.delete(new Path(dataDir), true); () } catch { case _: Throwable => () }
      return WapCommitted(
        ManifestCommit.currentSeq(spark, leaf), 0L,
        WapReport(checks.map(c => (c.name, 0L))),
      )
    }

    // AUDIT: one unioned lazy plan over the staged files, read from the
    // probe above (no listing, no schema job); each check is a 1-row
    // count. Collect size == number of checks.
    val audited = KnownFiles.read(spark, probed, KnownFiles.sessionMergeSchema(spark))
    val report = WapReport(
      checks
        .map(ch =>
          ch.violations(audited)
            .agg(count(lit(1)).as("violations"))
            .select(lit(ch.name).as("check_name"), col("violations")),
        )
        .reduce(_ unionByName _)
        .collect()
        .toSeq
        .map(r => (r.getString(0), r.getLong(1))),
    )
    // collect() preserves the union's row order, but pin declaration
    // order against any future plan change — the report is an API.
    val byName = report.checks.toMap
    val ordered = WapReport(checks.map(c => (c.name, byName(c.name))))

    if (ordered.passed) {
      // the same sidecar-then-publish tail as every rewrite: a crash
      // before the commit point strands debris, never a sidecar-less
      // live file (sidecars are optional for readers anyway)
      ManifestCommit.sealAndPublish(
        spark, fs, leaf, "wap", runId, Seq.empty, staged.map(p => s".data-$runId/${p.getName}"), rowsStaged, cfg,
      )
      WapCommitted(ManifestCommit.currentSeq(spark, leaf), rowsStaged, ordered)
    } else {
      // QUARANTINE: move the staged dir under the quarantine leaf, then
      // seal it THERE. The move is one dir rename (atomic on HDFS/posix;
      // copy+delete on object stores — still invisible on both sides
      // until the quarantine manifest seals, so a torn move is debris,
      // not data). A failed rename leaves the staged dir as debris under
      // the target leaf and surfaces loudly.
      val qLeaf = quarantine.getOrElse(defaultQuarantine(leaf))
      val qDir = new Path(s"$qLeaf/.data-$runId")
      fs.mkdirs(qDir.getParent)
      if (!fs.rename(new Path(dataDir), qDir))
        throw new java.io.IOException(
          s"quarantine move failed: $dataDir -> $qDir (staged batch left as unreferenced debris; " +
            "target leaf unchanged)",
        )
      val qOutputs = fs
        .listStatus(qDir)
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        .map(p => s".data-$runId/${p.getPath.getName}")
        .sortBy(identity)
        .toSeq
      ManifestCommit.publish(
        fs, qLeaf, stem = "wap-quarantine", runId = runId,
        inputsRel = Seq.empty, outputsRel = qOutputs,
        rows = rowsStaged, retries = cfg.commitRetries,
      )
      WapQuarantined(qLeaf, rowsStaged, ordered)
    }
  }
}
