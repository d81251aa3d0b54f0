package graft.compact

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained materialized GROUP-BY over a
  * manifest-committed leaf — the classic downstream consumer the
  * snapshot log exists for (an Iceberg/Delta-style incremental
  * materialized view).
  *
  * A dashboard aggregate over a 100-TB leaf cannot re-scan the leaf per
  * refresh. Because the live set is exact metadata at every commit, the
  * CHANGE since the state's snapshot is an exact file-set diff; and
  * because count/sum form an abelian GROUP (they have inverses), the
  * new aggregate is
  *
  *   state ⊕ agg(added files) ⊖ agg(removed files)
  *
  * — O(delta) data read, regardless of leaf size. A compaction commit
  * (adds outputs, removes the inputs carrying the same rows) nets to
  * zero through the ⊖ term, so refresh is correct across arrivals,
  * compactions, and range rewrites ([[ManifestCommit.compactWhere]])
  * alike. Optional `sumSq` columns maintain sum(v²) in the same state —
  * squares negate exactly like sums, so the group property holds and
  * exact mean/variance derive downstream (var = sumsq/cnt −
  * (sum/cnt)²; integral inputs subtract exactly — and `sumSqWide`
  * squares through DECIMAL(38,0) for magnitudes where a long sum of
  * squares would wrap).
  *
  * min/max (`minMax` columns) are only a SEMIGROUP — no inverse, so
  * the ⊕/⊖ trick cannot delete through them. They are maintained the
  * textbook IVM way instead: a per-(file, group) PARTIALS table rides
  * along with the state. A removal drops the removed files' partial
  * rows (a metadata anti-join — no data read); an arrival aggregates
  * only the added files; the state's min/max re-fold from the partials
  * table, which is metadata-scale (≤ live-files × groups-per-file
  * rows, and compaction collapses the file factor as a side effect of
  * its normal job). Still O(delta) DATA read per refresh; the refold
  * itself scans the partials parquet, never the leaf.
  *
  * State layout at `aggPath` (the versioned-pointer discipline of
  * [[graft.operators.IvfStore]] / the manifest `_head`):
  *
  *   - `aggPath/state-<seq>/` — parquet: keys…, `cnt`, `sum_<v>`…
  *     (+ `min_<v>`/`max_<v>` when maintained) aggregated as of leaf
  *     commit `<seq>`;
  *   - `aggPath/pgen-<seq>/` + `aggPath/pgens-<seq>` — per-(file,
  *     group) min/max partial rows (only when `minMax` is non-empty) as
  *     a GENERATIONAL add-log (ROADMAP 85): each seal writes ONLY the
  *     added files' rows as a new generation; the `pgens-<seq>` ledger
  *     names the generations the state reads. Removals are IMPLICIT —
  *     the refold semi-joins partial rows on the counted live-file
  *     list, so dead files' rows are structurally excluded (the stale-
  *     partials hazard the pre-generational coverage tripwire guarded
  *     is now unrepresentable). Past `maxPartialGens` generations the
  *     seal folds the live rows into ONE fresh generation — the old
  *     whole-rewrite cost, paid 1-in-maxPartialGens seals instead of
  *     every seal. A legacy `partials-<seq>` dir (pre-generational
  *     states) reads as a single implicit generation and folds away on
  *     its first compaction.
  *   - `aggPath/files-<seq>` — the exact live-file list the state
  *     aggregates, one path per line. The refresh delta is the set-diff
  *     of this list against the CURRENT live set — deliberately NOT a
  *     [[ManifestCommit.liveFilesAt]] replay, which stops resolving a
  *     historical seq faithfully once a checkpoint folds or an expire
  *     retires the manifests below it; the recorded list stays exact
  *     through any log lifecycle.
  *   - `aggPath/_agg-<seq>` — empty pointer, CREATED LAST. Readers
  *     resolve the highest pointer whose state dir exists, so a crashed
  *     refresh leaves the previous state live and a re-run redoes it.
  *
  * Sums subtract exactly for integral value columns; floating-point
  * sums can drift from a from-scratch aggregate by reassociation (the
  * usual FP caveat — same class as any distributed sum's
  * non-determinism). Incremental refresh requires the removed files to
  * still be readable (`retainSuperseded` within the expire horizon);
  * when history was already GC'd the refresh detects it and falls back
  * to a full rebuild — correct either way, the flag in the result says
  * which path ran.
  */
object MaterializedAgg {

  private val Ptr = VersionedPointer("_agg-")

  /** Group-count tripwire (ROADMAP 58): a materialized state over a
    * high-cardinality key approaches the leaf itself — the refresh
    * would still be correct, but the "dashboard-sized state" premise
    * (cheap to read whole, cheap to rewrite per refresh) is gone.
    * Builds and refreshes fail loudly past this many groups; raise it
    * deliberately for genuinely wide dashboards.
    */
  val DefaultMaxGroups: Long = 10000000L

  /** Partials generations kept before a seal folds them into one
    * (ROADMAP 85): the dial between O(delta) seals (large) and refold
    * read amplification (small — every refresh reads all generations).
    */
  val DefaultMaxPartialGens: Int = 8

  /** `mode` says which refresh path ran: "noop" (already current),
    * "walk" (commit-window walk — read only net row changes), "diff"
    * (live-set diff — read added and removed files), "rebuild" (GC
    * outran the state; full re-aggregation).
    */
  final case class RefreshResult(seq: Long, incremental: Boolean, mode: String = "diff")

  final class GroupExplosionException(msg: String) extends IllegalStateException(msg)

  private def fsOf(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def stateSeq(spark: SparkSession, aggPath: String): Option[Long] =
    Ptr.resolve(fsOf(spark, aggPath), aggPath)

  private def stateDir(aggPath: String, seq: Long) = s"$aggPath/state-$seq"

  /** Aggregate one (possibly cached) frame under a spec's shape.
    * `sumSqWide` (ROADMAP 70): a LONG sum of squares overflows past
    * |v| ≈ 3×10⁹ on a single row — silently, since Spark's non-ANSI
    * sum wraps. The wide form squares through DECIMAL(19,0)×DECIMAL
    * (19,0) → DECIMAL(38,0) (exact for any long; the sum then holds
    * ~10³⁸, twenty decades of headroom) so the ⊕/⊖ group stays exact
    * at extreme magnitudes, at decimal-arithmetic cost the caller opts
    * into per store.
    */
  private def aggOfDf(df: DataFrame, keys: Seq[String], values: Seq[String], sumSq: Seq[String], sumSqWide: Boolean): DataFrame = {
    def sq(v: String) =
      if (sumSqWide) {
        val d = col(v).cast(org.apache.spark.sql.types.DecimalType(19, 0))
        sum(d * d).as(s"sumsq_$v")
      } else sum(col(v) * col(v)).as(s"sumsq_$v")
    val aggs = count(lit(1)).as("cnt") +:
      (values.map(v => sum(col(v)).as(s"sum_$v")) ++ sumSq.map(sq))
    df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Read `files` with the source path attached per row (`_file`, from
    * the `_metadata` hidden column — resolved at the scan, no UDF).
    * Inert for the cnt/sum pass (aggOfDf groups by keys only); the
    * min/max partials group on it.
    *
    * `_metadata.file_path` is the fs-QUALIFIED form (`file:/…`,
    * `s3a://bucket/…`), while the manifest's live list carries the
    * caller's spelling — every path that meets a `_file` column goes
    * through [[qualified]] first or set algebra silently misses.
    */
  private[compact] def readWithFile(spark: SparkSession, files: Seq[String]): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(files: _*)
      .withColumn("_file", col("_metadata.file_path"))

  /** The canonical (fs-qualified) spelling of `p` — the one
    * `_metadata.file_path` rows carry.
    */
  private def qualified(spark: SparkSession, p: String): String = {
    val path = new Path(p)
    path.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(path).toString
  }

  /** The state columns the minMax machinery owns: min/max per value
    * plus the `_pc` presence count (see [[foldPartials]]).
    */
  private def mmCols(minMax: Seq[String]): Seq[String] =
    if (minMax.isEmpty) Nil
    else mmColsOnly(minMax) :+ "_pc"

  /** Just the min/max columns — the partials table's value schema. */
  private def mmColsOnly(minMax: Seq[String]): Seq[String] =
    minMax.flatMap(v => Seq(s"min_$v", s"max_$v"))

  /** What the drift tripwire may check for nulls: presence indicators
    * only — never the min/max values, which are legitimately NULL for
    * an all-null-value group.
    */
  private def driftCols(minMax: Seq[String]): Seq[String] =
    if (minMax.isEmpty) Nil else Seq("cnt", "_pc")

  /** The generation dirs a sealed state's refold reads: the
    * `pgens-<seq>` ledger, or — for a pre-generational state — the
    * legacy `partials-<seq>` dir as a single implicit generation.
    */
  private def readLedger(spark: SparkSession, aggPath: String, seq: Long): Seq[String] = {
    val fs = fsOf(spark, aggPath)
    val ledger = new Path(s"$aggPath/pgens-$seq")
    if (fs.exists(ledger)) {
      val in = fs.open(ledger)
      val text = try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      text.split("\n").toSeq.filter(_.nonEmpty)
    } else if (fs.exists(new Path(s"$aggPath/partials-$seq"))) Seq(s"partials-$seq")
    else Seq.empty
  }

  /** Per-(file, group) min/max partials — the deletable unit. */
  private def partialsOf(df: DataFrame, keys: Seq[String], minMax: Seq[String]): DataFrame = {
    val aggs = minMax.flatMap(v => Seq(min(col(v)).as(s"min_$v"), max(col(v)).as(s"max_$v")))
    df.groupBy((col("_file") +: keys.map(col)): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Re-fold the partials table to per-group min/max — a scan of the
    * metadata-scale partials parquet, never of the leaf. `_pc` counts
    * the folded partial rows: it is the PRESENCE indicator the drift
    * tripwire checks, because min/max themselves are legitimately NULL
    * for a group whose values are all null (Spark's min/max skip
    * nulls) — a null min must never read as "group missing".
    */
  private def foldPartials(partials: DataFrame, keys: Seq[String], minMax: Seq[String]): DataFrame = {
    val aggs = minMax.flatMap(v =>
      Seq(min(col(s"min_$v")).as(s"min_$v"), max(col(s"max_$v")).as(s"max_$v"))) :+
      count(lit(1)).as("_pc")
    partials.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Attach the partials refold to the cnt/sum state. FULL OUTER on
    * NULL-SAFE key equality, not inner-on-equals: the two sides are
    * both exactly the live group set by construction, so a key on one
    * side only is a maintenance bug — an inner join would swallow it
    * silently (the silent-drop class), and a plain-equality join would
    * split a legitimate NULL-key group into two half rows and fake
    * that very bug. The outer join surfaces real drift as a null
    * cnt/_pc that seal's guard turns into a loud failure.
    */
  private def joinMinMax(sums: DataFrame, fold: DataFrame, keys: Seq[String]): DataFrame = {
    val f = fold.select(fold.columns.map(c => col(c).as(if (keys.contains(c)) s"_k_$c" else c)).toSeq: _*)
    val cond = keys.map(k => sums(k) <=> f(s"_k_$k")).reduce(_ && _)
    val sumVals = sums.columns.filterNot(keys.contains)
    val foldVals = f.columns.filterNot(c => c.startsWith("_k_"))
    sums.join(f, cond, "full_outer")
      .select((keys.map(k => coalesce(sums(k), f(s"_k_$k")).as(k)) ++ (sumVals ++ foldVals).map(col)).toSeq: _*)
  }

  /** A widened state must keep widening on refresh (and vice versa):
    * a LONG delta merged into a DECIMAL state would re-open the exact
    * overflow window the flag closed. Loud, like the schema guard.
    */
  private def checkSumSqWidth(state: DataFrame, sumSq: Seq[String], sumSqWide: Boolean): Unit =
    sumSq.foreach { v =>
      val dt = state.schema(s"sumsq_$v").dataType
      val isWide = dt.isInstanceOf[org.apache.spark.sql.types.DecimalType]
      require(
        isWide == sumSqWide,
        s"state sumsq_$v is $dt but sumSqWide=$sumSqWide — the flag must match the build's",
      )
    }

  /** Negate an aggregate frame (the ⊖ term). */
  private def negate(df: DataFrame, keys: Seq[String]): DataFrame = {
    val flipped = df.columns.map {
      case c if keys.contains(c) => col(c)
      case c => (-col(c)).as(c)
    }
    df.select(flipped.toSeq: _*)
  }

  /** Merge aggregate frames by key, dropping emptied groups. */
  private def merge(parts: Seq[DataFrame], keys: Seq[String]): DataFrame = {
    val all = parts.reduce(_.unionByName(_))
    val valCols = all.columns.filterNot(keys.contains)
    val aggs = valCols.map(c => sum(col(c)).as(c))
    all.groupBy(keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .where(col("cnt") =!= 0)
  }

  /** Seal a new state atomically: write the dir and the file list, then
    * create the pointer, then reclaim superseded states (pointer-last
    * means the highest sealed pointer always names a complete state).
    * The group-count tripwire runs between write and pointer — the
    * count is footer metadata of the just-written state (no second
    * aggregation pass), and a tripped guard deletes the unsealed dir,
    * leaving the previous state live.
    */
  private def seal(
      spark: SparkSession,
      aggPath: String,
      seq: Long,
      state: DataFrame,
      files: Seq[String],
      maxGroups: Long,
      partials: Option[DataFrame] = None,
      requireNonNull: Seq[String] = Nil,
      keepGens: Seq[String] = Nil,
  ): Unit = {
    val fs = fsOf(spark, aggPath)
    state.write.mode("overwrite").parquet(stateDir(aggPath, seq))
    def dropUnsealed(): Unit = {
      try fs.delete(new Path(stateDir(aggPath, seq)), true) catch { case _: Throwable => () }
      ()
    }
    val written = spark.read.parquet(stateDir(aggPath, seq))
    val n = written.count()
    if (n > maxGroups) {
      dropUnsealed()
      throw new GroupExplosionException(
        s"materialized state has $n groups > maxGroups=$maxGroups — " +
          "the key set approaches the data itself; aggregate coarser keys or raise maxGroups",
      )
    }
    // the minMax full-outer join's tripwire: a null in cnt or a min/max
    // column means the cnt/sum merge and the partials refold disagreed
    // on the live group set — corrupt state must not seal
    if (requireNonNull.nonEmpty) {
      val bad = written.where(requireNonNull.map(c => col(c).isNull).reduce(_ || _)).count()
      if (bad > 0) {
        dropUnsealed()
        throw new IllegalStateException(
          s"materialized state at $aggPath seq=$seq has $bad rows with null in " +
            s"${requireNonNull.mkString("/")} — cnt/sum merge and min/max partials disagree on the group set",
        )
      }
    }
    // partials as a generational add-log (ROADMAP 85): the new
    // generation (only the added files' rows — or the compaction fold)
    // plus a ledger naming every generation the state reads. The
    // pre-generational stale-partials coverage tripwire is retired
    // structurally: generations legitimately carry dead files' rows
    // (implicit tombstones) and the refold semi-joins on the counted
    // live list, so a stale row can never reach a served min/max.
    val ledger = keepGens ++ partials.map(_ => s"pgen-$seq").toSeq
    partials.foreach { p => p.write.mode("overwrite").parquet(s"$aggPath/pgen-$seq") }
    if (ledger.nonEmpty) {
      // a kept generation must exist — a missing dir means the reclaim
      // below outran a ledger reference in some earlier crash window
      val missing = keepGens.filterNot(g => fs.exists(new Path(s"$aggPath/$g")))
      if (missing.nonEmpty) {
        dropUnsealed()
        throw new IllegalStateException(
          s"partials generation(s) ${missing.mkString(", ")} missing at $aggPath — state not sealed",
        )
      }
      val out = fs.create(new Path(s"$aggPath/pgens-$seq"), true)
      try out.write(ledger.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    val out = fs.create(new Path(s"$aggPath/files-$seq"), true)
    try out.write(files.sorted.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    // created LAST (crash discipline); create-if-absent so a REBUILD at
    // an unchanged head seq (spec-drift fallback, operator re-run with
    // no new commits) is idempotent rather than a pointer collision —
    // the state dir was already rewritten above, the pointer just
    // re-seals it. Single-maintainer model: this store has no
    // concurrent-writer tripwire (unlike the manifest _head).
    Ptr.sealIdempotent(fs, aggPath, seq)
    val referenced = ledger.toSet
    fs.listStatus(new Path(aggPath)).foreach { st =>
      val n = st.getPath.getName
      def olderDir(prefix: String) =
        st.isDirectory && n.startsWith(prefix) && n.stripPrefix(prefix).toLongOption.exists(_ < seq)
      // generations survive reclaim exactly while a ledger names them
      def unreferencedGen =
        st.isDirectory && (n.startsWith("pgen-") || n.startsWith("partials-")) && !referenced.contains(n)
      val old =
        olderDir("state-") || unreferencedGen ||
          (n.startsWith("files-") && n.stripPrefix("files-").toLongOption.exists(_ < seq)) ||
          (n.startsWith("pgens-") && n.stripPrefix("pgens-").toLongOption.exists(_ < seq)) ||
          Ptr.seqOf(n).exists(_ < seq)
      if (old) { try fs.delete(st.getPath, true) catch { case _: Throwable => () }; () }
    }
  }

  private def recordedFiles(spark: SparkSession, aggPath: String, seq: Long): Seq[String] = {
    val fs = fsOf(spark, aggPath)
    val in = fs.open(new Path(s"$aggPath/files-$seq"))
    val text = try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8) finally in.close()
    text.split("\n").toSeq.filter(_.nonEmpty)
  }

  /** Whether a sealed state exists — the build-vs-refresh dispatch the
    * Compactor lifecycle hook uses.
    */
  def exists(spark: SparkSession, aggPath: String): Boolean =
    stateSeq(spark, aggPath).nonEmpty

  /** State directory for `leaf` under an agg root: the sanitized leaf
    * tail keeps the name human-readable, the digest keeps it unique
    * (two leaves can share a tail; percent-escapes are deliberately
    * avoided — Hadoop Path/URI round-trips mangle `%`).
    */
  def pathFor(aggRoot: String, leaf: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(leaf.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val digest = md.take(4).map(b => f"$b%02x").mkString
    val tail = leaf.split('/').takeRight(4).mkString("_").replaceAll("[^A-Za-z0-9_=.-]", "_")
    s"$aggRoot/$tail-$digest"
  }

  /** Full build: aggregate the CURRENT live set and seal it at the
    * leaf's head seq. Returns that seq.
    */
  def build(
      spark: SparkSession,
      leaf: String,
      aggPath: String,
      keys: Seq[String],
      values: Seq[String],
      sumSq: Seq[String] = Nil,
      maxGroups: Long = DefaultMaxGroups,
      sumSqWide: Boolean = false,
      minMax: Seq[String] = Nil,
  ): Long = {
    require(keys.nonEmpty, "at least one group-by key")
    val seq = ManifestCommit.currentSeq(spark, leaf)
    val live = ManifestCommit.liveFiles(spark, leaf)
    val liveDel = ManifestCommit.liveDeletes(spark, leaf)
    if (live.isEmpty)
      throw new IllegalStateException(s"no live files under $leaf — nothing to materialize")
    sealFull(spark, leaf, aggPath, seq, live, liveDel, keys, values, sumSq, sumSqWide, minMax, maxGroups)
    seq
  }

  /** [[readWithFile]] with the leaf's merge-on-read delete sidecars
    * applied — the from-scratch passes must aggregate exactly what
    * [[ManifestCommit.readLeaf]] serves. `_file` still names the RAW
    * source file; the counted ledger tracks data files and sidecars
    * separately, so the incremental algebra (raw file terms ± sidecar
    * row terms) composes with states built here.
    */
  private def readWithFileAware(
      spark: SparkSession,
      leaf: String,
      files: Seq[String],
      deleteFiles: Seq[String],
  ): DataFrame = {
    val df = readWithFile(spark, files)
    if (deleteFiles.isEmpty) df
    else {
      val pfx = ManifestCommit.qualifiedPrefix(spark, leaf)
      // kind-aware resolution: equality sidecars resolve to positions by
      // scanning their scope files' key columns (a full build reads the
      // leaf anyway — review-round-16 catch: the position-only form
      // crashed on an eq-only backlog and silently KEPT eq-deleted rows
      // on a mixed one)
      ManifestCommit.antiJoinPositions(
        df.withColumn("_mor_rel", col("_metadata.file_path").substr(lit(pfx.length + 1), lit(Int.MaxValue)))
          .withColumn("_mor_pos", col("_metadata.row_index")),
        ManifestCommit.resolveDeletePositions(spark, leaf, deleteFiles),
      )
    }
  }

  /** Aggregate the whole live set (delete-aware) and seal it (build +
    * GC-fallback). The recorded ledger covers data files AND delete
    * sidecars — both participate in the next refresh's set diff.
    */
  private def sealFull(
      spark: SparkSession,
      leaf: String,
      aggPath: String,
      seq: Long,
      live: Seq[String],
      liveDel: Seq[String],
      keys: Seq[String],
      values: Seq[String],
      sumSq: Seq[String],
      sumSqWide: Boolean,
      minMax: Seq[String],
      maxGroups: Long,
  ): Unit =
    if (minMax.isEmpty) {
      val state = aggOfDf(readWithFileAware(spark, leaf, live, liveDel), keys, values, sumSq, sumSqWide)
      seal(spark, aggPath, seq, state, live ++ liveDel, maxGroups)
    } else {
      // ONE leaf scan: a combined per-(file, group) partial carries
      // cnt/sums/sumsqs alongside min/max, persists (it is
      // metadata-scale — never the leaf, which must not be cached),
      // and BOTH the state fold and the partials write read the cached
      // result. Folding sums from per-file partial sums is exact for
      // integral inputs; float sums reassociate (the documented FP
      // caveat, same class as any distributed sum).
      def sq(v: String) =
        if (sumSqWide) {
          val dc = col(v).cast(org.apache.spark.sql.types.DecimalType(19, 0))
          sum(dc * dc).as(s"sumsq_$v")
        } else sum(col(v) * col(v)).as(s"sumsq_$v")
      val perFileAggs = (count(lit(1)).as("cnt") +:
        (values.map(v => sum(col(v)).as(s"sum_$v")) ++ sumSq.map(sq))) ++
        minMax.flatMap(v => Seq(min(col(v)).as(s"min_$v"), max(col(v)).as(s"max_$v")))
      val perFile = readWithFileAware(spark, leaf, live, liveDel)
        .groupBy((col("_file") +: keys.map(col)).toSeq: _*)
        .agg(perFileAggs.head, perFileAggs.tail: _*)
        .persist()
      try {
        val stateAggs = (sum(col("cnt")).as("cnt") +:
          (values.map(v => sum(col(s"sum_$v")).as(s"sum_$v")) ++
            sumSq.map(v => sum(col(s"sumsq_$v")).as(s"sumsq_$v")))) ++
          (minMax.flatMap(v => Seq(min(col(s"min_$v")).as(s"min_$v"), max(col(s"max_$v")).as(s"max_$v"))) :+
            count(lit(1)).as("_pc"))
        val state = perFile.groupBy(keys.map(col).toSeq: _*).agg(stateAggs.head, stateAggs.tail: _*)
        val partials = perFile.select((col("_file") +: keys.map(col)) ++ mmColsOnly(minMax).map(col): _*)
        seal(spark, aggPath, seq, state, live ++ liveDel, maxGroups, Some(partials), driftCols(minMax))
      } finally { perFile.unpersist(); () }
    }

  /** Classify the commit window `(fromSeq, toSeq]` into net row
    * changes — the Iceberg-style incremental-consumption walk. A
    * commit's shape against the files already folded into the state
    * decides what it did to the aggregate:
    *
    *   - inputs disjoint from the counted set → APPEND (a raw arrival
    *     staged into the leaf): its outputs carry net-new rows;
    *   - inputs all counted, outputs non-empty → a rewrite. It nets to
    *     ZERO only if it preserved rows, which is VERIFIED, not
    *     trusted: Σ input rows must equal the manifest's sealed output
    *     row count. Input rows resolve WITHOUT data reads — a rewrite
    *     input is some earlier commit's output, and when the rewrite
    *     consumes that producer's output set COMPLETELY, the producer's
    *     sealed `rows` is the exact subtotal (so the check survives GC
    *     of the inputs themselves — the normal non-retaining config);
    *     inputs with no resolvable producer (raw arrivals, partially
    *     consumed output sets, checkpoint debris) fall back to parquet
    *     footer counts, a metadata-only read. Equal → compaction /
    *     re-sort, nothing to read (count-equality implies row
    *     preservation in this format's commit vocabulary — concat
    *     merges and filter rewrites; there is no value-mutating
    *     commit). Unequal → a DELETE-WHERE-shaped rewrite:
    *     ⊕ agg(outputs) ⊖ agg(inputs), exact for ANY rewrite content;
    *   - inputs all counted, outputs empty → DELETE: its inputs' rows
    *     leave the aggregate (the ⊖ term reads them);
    *   - anything mixed, or a rewrite whose input rows cannot be
    *     resolved (no producer AND file gone) → unclassifiable, None.
    *
    * The walked counted set must land exactly on the current live set;
    * any drift (log lag, a torn manifest, an unknown commit shape)
    * returns None and the caller falls back to the live-set diff, which
    * stays exact through every lifecycle. Returns (appends, deletes) —
    * the ONLY files a refresh must read for its cnt/sum terms. A pure
    * compaction window returns (Nil, Nil): zero data read.
    */
  /** A walked window's net row changes, as FILE sets. `appended`/
    * `removed` are data files read whole; `deleted`/`restored` are
    * merge-on-read delete SIDECARS — their net rows resolve through
    * [[ManifestCommit.readDeleteRows]] (positions joined back to the
    * targeted data files): `deleted` rows leave the aggregate, and
    * `restored` rows re-assert (a consumed sidecar's retractions are
    * paired with its targets' whole-file removal, so the algebra stays
    * exact — see the commit classification below).
    */
  private[compact] final case class WalkChanges(
      appended: Seq[String],
      removed: Seq[String],
      deleted: Seq[String],
      restored: Seq[String],
  ) {
    def files: Seq[String] = appended ++ removed ++ deleted ++ restored
    def isEmpty: Boolean = files.isEmpty
  }

  /** Classify the commit window `(fromSeq, toSeq]` into net row
    * changes — the Iceberg-style incremental-consumption walk. The
    * counted set tracks data files AND live delete sidecars; a commit's
    * shape against it decides what it did to the aggregate:
    *
    *   - data inputs disjoint from the counted set → APPEND (a raw
    *     arrival staged into the leaf): its outputs carry net-new rows;
    *   - no inputs, no outputs, only new delete sidecars → a
    *     merge-on-read DELETE: the sidecars' rows leave the aggregate
    *     (⊖ via position join — never a whole-file read);
    *   - counted inputs, non-empty outputs → a rewrite. It nets to ZERO
    *     only if it preserved rows, which is VERIFIED, not trusted:
    *     Σ data-input rows − Σ consumed-sidecar rows + residual-sidecar
    *     rows must equal the manifest's sealed output count (count
    *     equality implies row preservation ONLY because value-mutating
    *     commits declare themselves: a manifest with `mut` — a merge
    *     that replaced editions, or any future UPDATE — always takes
    *     the row-changing branch, however its counts land). Input rows
    *     resolve WITHOUT
    *     data reads: a complete producer output (or sidecar) set uses
    *     the producer's sealed `rows`/`drows`, the rest parquet
    *     footers. Unequal → ⊕ agg(outputs) ⊖ agg(data inputs)
    *     ⊕ rows(consumed sidecars) ⊖ rows(new sidecars), exact for ANY
    *     rewrite content;
    *   - counted inputs, empty outputs → DELETE: data inputs' rows
    *     leave, consumed sidecars' rows re-assert (they were already
    *     subtracted), new sidecars' rows leave;
    *   - anything mixed or unresolvable → unclassifiable, None.
    *
    * The walked counted set must land exactly on the current live set
    * (data ∪ delete sidecars); any drift returns None and the caller
    * falls back to the live-set diff, which stays exact through every
    * lifecycle. A pure compaction window returns all-empty: zero data
    * read.
    */
  private[compact] def walkDeltas(
      spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      leaf: String,
      fullLog: Seq[ManifestCommit.Manifest],
      commits: Seq[ManifestCommit.Manifest],
      recorded: Set[String],
      live: Set[String],
  ): Option[WalkChanges] = {
    // producer ledgers: every output file's / delete sidecar's creating
    // commit. Checkpoint manifests are excluded — their `rows` is the
    // LAST folded commit's count, not a total over their (net) outputs.
    val log = fullLog.filterNot(_.stem == "checkpoint")
    val producerOf: Map[String, ManifestCommit.Manifest] =
      log.flatMap(m => m.outputs.map(o => s"$leaf/$o" -> m)).toMap
    val producerDel: Map[String, ManifestCommit.Manifest] =
      log.flatMap(m => m.deletes.map(d => s"$leaf/$d" -> m)).toMap
    // Σ rows of files, metadata-only: complete producer sets by their
    // sealed count, the rest by parquet footer (None if a file has
    // neither a usable producer nor a footer on disk)
    def rowsVia(
        files: Seq[String],
        producer: Map[String, ManifestCommit.Manifest],
        setOf: ManifestCommit.Manifest => Seq[String],
        countOf: ManifestCommit.Manifest => Long,
    ): Option[Long] = {
      val fileSet = files.toSet
      var total = 0L
      val needFooter = Seq.newBuilder[String]
      files.groupBy(producer.get).foreach {
        case (Some(p), _) if setOf(p).forall(o => fileSet.contains(s"$leaf/$o")) =>
          total += countOf(p)
        case (_, fs2) => needFooter ++= fs2
      }
      val rest = needFooter.result()
      if (rest.forall(p => fs.exists(new Path(p)))) {
        if (rest.nonEmpty) total += KnownFiles.rows(spark, rest)
        Some(total)
      } else None
    }
    def rowsOfInputs(ins: Seq[String]) = rowsVia(ins, producerOf, _.outputs, _.rows)
    def rowsOfSidecars(dels: Seq[String]) =
      if (dels.isEmpty) Some(0L) else rowsVia(dels, producerDel, _.deletes, _.drows)
    var counted = recorded
    val appends = Seq.newBuilder[String]
    val removals = Seq.newBuilder[String]
    val delNew = Seq.newBuilder[String]
    val delGone = Seq.newBuilder[String]
    var ok = true
    val it = commits.iterator
    while (ok && it.hasNext) {
      val m = it.next()
      val dataIns = m.inputs.filterNot(ManifestCommit.isDeleteRel).map(r => s"$leaf/$r")
      val delIns = m.inputs.filter(ManifestCommit.isDeleteRel).map(r => s"$leaf/$r")
      val outs = m.outputs.map(r => s"$leaf/$r")
      val newDels = m.deletes.map(r => s"$leaf/$r")
      val nIn = dataIns.count(counted)
      // outputs (or new sidecars) already in the counted set mean the
      // ledger ran AHEAD of the state's seq — the (currentSeq,
      // liveFiles) reads are not one atomic snapshot, so a commit
      // sealing between them gets folded into the recorded file list
      // with the OLD seq, and re-applying it here would double its rows
      // into the ⊕ term (counted ++= is a set no-op, so the final
      // counted==live tripwire would pass). Commits never legitimately
      // re-create a counted file (write-once dirs, unique runIds) —
      // refuse the walk, the diff fallback is idempotent set algebra.
      if ((outs ++ newDels).exists(counted)) ok = false
      // a consumed sidecar the state never counted cannot re-assert
      else if (!delIns.forall(counted)) ok = false
      else if (dataIns.isEmpty && delIns.isEmpty && outs.isEmpty) {
        if (newDels.nonEmpty) { delNew ++= newDels; counted ++= newDels } // pure MoR delete
        else ok = false // empty commit shape — unknown
      } else if (dataIns.isEmpty && outs.isEmpty && delIns.nonEmpty && newDels.nonEmpty) {
        // sidecar-only reorganization (consolidation: N sidecars
        // re-sealed as one) — nets to ZERO when verified
        // position-preserving, by the same drows ledger. Equality
        // sidecars have no drows (their matched count is unresolved by
        // design) — such a shape replays as retract+assert, which
        // readDeleteRows resolves exactly either way.
        if ((delIns ++ newDels).exists(ManifestCommit.isEqDeletePath)) {
          delGone ++= delIns; delNew ++= newDels
          counted = counted -- delIns ++ newDels
        } else rowsOfSidecars(delIns) match {
          case Some(consumed) =>
            if (consumed != m.drows) { delGone ++= delIns; delNew ++= newDels }
            counted = counted -- delIns ++ newDels
          case None => ok = false
        }
      } else if (nIn == 0 && delIns.isEmpty && newDels.isEmpty && outs.nonEmpty) {
        // APPEND: a WAP/publish append (no inputs) or a raw arrival
        // staged into the leaf (inputs disjoint from the counted set)
        appends ++= outs; counted ++= outs
      } else if (dataIns.nonEmpty && nIn == dataIns.size) {
        if (outs.isEmpty) {
          // row-deleting rewrite with no survivors:
          // ⊖ data inputs ⊕ consumed sidecars ⊖ residual sidecars
          removals ++= dataIns; delGone ++= delIns; delNew ++= newDels
          counted = counted -- dataIns -- delIns ++ newDels
        } else if (m.mut || (delIns ++ newDels).exists(ManifestCommit.isEqDeletePath)) {
          // Two shapes can never verify row-preserving through the
          // count ledger: a commit whose manifest declares it MUTATED
          // values (a merge that replaced editions — a pure update is
          // count-preserving, and netting it to zero would freeze every
          // consumer on the stale editions), and a rewrite folding or
          // re-sealing an equality sidecar (its kill count was
          // deliberately left unresolved at commit). Both replay
          // exactly as row-changing: ⊕outputs ⊖inputs
          // ⊕consumed-sidecar rows ⊖residual-sidecar rows.
          appends ++= outs; removals ++= dataIns
          delGone ++= delIns; delNew ++= newDels
          counted = counted -- dataIns -- delIns ++ outs ++ newDels
        } else {
          (rowsOfInputs(dataIns), rowsOfSidecars(delIns)) match {
            case (Some(inRows), Some(consumedRows)) =>
              if (inRows - consumedRows + m.drows != m.rows) {
                appends ++= outs; removals ++= dataIns
                delGone ++= delIns; delNew ++= newDels
              }
              counted = counted -- dataIns -- delIns ++ outs ++ newDels
            case _ => ok = false
          }
        }
      } else ok = false
    }
    if (ok && counted == live)
      Some(WalkChanges(
        appends.result().distinct.sorted, removals.result().distinct.sorted,
        delNew.result().distinct.sorted, delGone.result().distinct.sorted,
      ))
    else None
  }

  /** Bring the state to the leaf's head. Cheapest applicable path, in
    * order: commit-window walk (read only net row changes — a pure
    * compaction window reads ZERO data for a cnt/sum state), live-set
    * diff (read added + removed files), full rebuild (GC outran the
    * state). No-op when already current. `keys`/`values` must match the
    * build's (validated against the state schema — a drifted caller
    * fails loudly, not wrongly).
    *
    * min/max states keep their per-(file, group) partials at live-FILE
    * granularity (the deletable unit), so even a walk-mode refresh
    * rebuilds partials for the diff's added files — that read prunes to
    * keys + min/max columns, but a full compaction still re-scans those
    * columns of the new leaf. The cnt/sum columns are what the walk
    * saves unconditionally.
    */
  def refresh(
      spark: SparkSession,
      leaf: String,
      aggPath: String,
      keys: Seq[String],
      values: Seq[String],
      sumSq: Seq[String] = Nil,
      maxGroups: Long = DefaultMaxGroups,
      sumSqWide: Boolean = false,
      minMax: Seq[String] = Nil,
      maxPartialGens: Int = DefaultMaxPartialGens,
  ): RefreshResult =
    refreshAll(
      spark, leaf,
      Seq(AggSpec(aggPath, keys, values, sumSq, maxGroups, sumSqWide, minMax, maxPartialGens)),
    ).head

  /** One materialized aggregate's shape, for [[refreshAll]]. */
  final case class AggSpec(
      aggPath: String,
      keys: Seq[String],
      values: Seq[String],
      sumSq: Seq[String] = Nil,
      maxGroups: Long = DefaultMaxGroups,
      sumSqWide: Boolean = false,
      minMax: Seq[String] = Nil,
      maxPartialGens: Int = DefaultMaxPartialGens,
  )

  /** Refresh SEVERAL materialized aggregates of one leaf, reading each
    * distinct delta file-set ONCE (ROADMAP 60): N dashboards over a
    * 100-TB leaf must not read the same arrival commit N times. The
    * live set resolves once; specs whose states sit at the same seq
    * share (added, removed) sets, and those frames are cached across
    * the specs' aggregation passes — one scan of the delta, N cheap
    * group-bys off memory. Specs at divergent seqs (built at different
    * times) still refresh correctly through their own deltas; every
    * per-spec guarantee (GC fallback, schema guard, tripwire,
    * pointer-last seal) is [[refresh]]'s, by construction — refreshAll
    * only deduplicates the reads underneath it.
    */
  /** [[refreshAll]] with externally-materialized delta frames
    * (ROADMAP 97, [[SyncTick]]): `seedData` maps a delta FILE LIST to
    * its already-persisted [[readWithFile]] frame, `seedDeleteRows`
    * likewise for delete-sidecar row frames — when a spec's window
    * resolves to a seeded list (the lockstep steady state), the fold
    * reads the caller's cached blocks instead of the files. Seeded
    * frames are the CALLER's to persist and unpersist; unmatched seeds
    * are simply unused, and a spec at a different seq still reads its
    * own window — exactness never depends on the seed.
    */
  def refreshAll(
      spark: SparkSession,
      leaf: String,
      specs: Seq[AggSpec],
      seedData: Map[Seq[String], DataFrame] = Map.empty,
      seedDeleteRows: Map[Seq[String], DataFrame] = Map.empty,
  ): Seq[RefreshResult] = {
    if (specs.isEmpty) return Seq.empty
    val toSeq = ManifestCommit.currentSeq(spark, leaf)
    val liveData = ManifestCommit.liveFiles(spark, leaf)
    val liveDel = ManifestCommit.liveDeletes(spark, leaf)
    // the counted ledger tracks BOTH: data files (whole-file ⊕/⊖ terms)
    // and merge-on-read delete sidecars (row-level ⊖/⊕ terms resolved
    // through their position joins)
    val live = (liveData ++ liveDel).sorted
    val fs = FileIndexer.fsFor(spark, leaf)
    val cache = scala.collection.mutable.Map.empty[Seq[String], DataFrame]
    val pinned = scala.collection.mutable.Set.empty[Seq[String]]
    // seeded frames enter the caches pre-pinned (the caller persisted
    // them) and are excluded from this pass's unpersist
    val seeded = (seedData.keySet ++ seedDeleteRows.keySet).toSet
    cache ++= seedData
    pinned ++= seeded
    // _file rides along in every cached delta frame: inert for cnt/sum
    // (aggOfDf groups by keys only), and it lets minMax specs derive
    // their partials from the SAME pinned scan instead of re-reading.
    // `pin` marks frames with more than one consumer (several specs, or
    // a minMax spec's agg + partials passes) — a single-consumer delta
    // (e.g. the diff path's removed set, which can be leaf-sized after
    // a full compaction) must NOT be persisted just to be read once.
    def cachedRead(files: Seq[String], pin: Boolean): Option[DataFrame] =
      if (files.isEmpty) None
      else {
        val df = cache.getOrElseUpdate(files, readWithFile(spark, files))
        if (pin && !pinned.contains(files)) { df.persist(); pinned += files; () }
        Some(df)
      }
    // delete-sidecar ROW frames (positions joined back to their target
    // files) — churn-bounded, shared across specs like the data deltas
    val delCache = scala.collection.mutable.Map.empty[Seq[String], DataFrame]
    delCache ++= seedDeleteRows
    def cachedDeleteRows(files: Seq[String], pin: Boolean): Option[DataFrame] =
      if (files.isEmpty) None
      else {
        val df = delCache.getOrElseUpdate(files, ManifestCommit.readDeleteRows(spark, leaf, files))
        if (pin && !pinned.contains(files)) { df.persist(); pinned += files; () }
        Some(df)
      }
    // a delete term is readable iff the sidecar, every file its
    // positions/scope target, AND every referenced exclusion sidecar
    // are still on disk (same retention contract as the whole-file ⊖
    // term) — resolved with tiny reads, memoized across specs, so a
    // GC'd term degrades to the diff/rebuild fallback instead of
    // throwing mid-refresh
    val readableMemo = scala.collection.mutable.Map.empty[Seq[String], Boolean]
    def delReadable(files: Seq[String]): Boolean =
      readableMemo.getOrElseUpdate(files, ManifestCommit.deleteRowsReadable(spark, leaf, files))
    // the commit-window walk depends only on (leaf, fromSeq) — memoized
    // so N specs built at the same seq classify the window once; the
    // manifest log backing it is fetched once per refresh pass
    lazy val fullLog = ManifestCommit.manifestLog(spark, leaf)
    val walks = scala.collection.mutable.Map.empty[Long, Option[WalkChanges]]
    try {
      specs.map { sp =>
        val fromSeq = stateSeq(spark, sp.aggPath).getOrElse(
          throw new IllegalStateException(s"no sealed state at ${sp.aggPath} — run build first"),
        )
        val expected =
          (sp.keys ++ Seq("cnt") ++ sp.values.map(v => s"sum_$v") ++
            sp.sumSq.map(v => s"sumsq_$v") ++ mmCols(sp.minMax)).toSet
        val state0 = spark.read.parquet(stateDir(sp.aggPath, fromSeq))
        require(state0.columns.toSet == expected, s"state schema ${state0.columns.toSet} does not match spec $expected")
        checkSumSqWidth(state0, sp.sumSq, sp.sumSqWide)
        val recorded = recordedFiles(spark, sp.aggPath, fromSeq).toSet
        val removedAll = (recorded -- live).toSeq.sorted
        val addedAll = (live.toSet -- recorded).toSeq.sorted
        if (removedAll.isEmpty && addedAll.isEmpty) RefreshResult(fromSeq, incremental = true, mode = "noop")
        else {
          val (addedDel, added) = addedAll.partition(ManifestCommit.isDeletePath)
          val (removedDel, removed) = removedAll.partition(ManifestCommit.isDeletePath)
          val shared = specs.size > 1
          val pinAdded = shared || sp.minMax.nonEmpty
          val old = state0.drop(mmCols(sp.minMax): _*)

          // seal `sums` (+ refreshed partials for minMax specs) at toSeq
          def sealWith(sums: DataFrame, mode: String): RefreshResult = {
            if (sp.minMax.isEmpty) seal(spark, sp.aggPath, toSeq, sums, live, sp.maxGroups)
            else {
              import spark.implicits._
              // generational partials (ROADMAP 85): history stays put,
              // removals are implicit — the refold semi-joins every
              // generation's rows on the CURRENT live list, so the
              // seal's partials I/O is O(added files), not O(live set)
              val gens = readLedger(spark, sp.aggPath, fromSeq)
              require(gens.nonEmpty, s"sealed minMax state at ${sp.aggPath} seq=$fromSeq has no partials generations")
              val hist = gens.map(g => spark.read.parquet(s"${sp.aggPath}/$g")).reduce(_.unionByName(_))
              val histLive = hist.join(
                broadcast(liveData.map(qualified(spark, _)).toDF("_file")), Seq("_file"), "left_semi")
              val newGen = cachedRead(added, pinAdded).map(b => partialsOf(b, sp.keys, sp.minMax))
              val all = newGen.map(histLive.unionByName(_)).getOrElse(histLive)
              val state = joinMinMax(sums, foldPartials(all, sp.keys, sp.minMax), sp.keys)
              if (gens.size + newGen.size > sp.maxPartialGens)
                // sprawl: fold the live rows into ONE fresh generation
                seal(spark, sp.aggPath, toSeq, state, live, sp.maxGroups, Some(all), driftCols(sp.minMax))
              else
                seal(spark, sp.aggPath, toSeq, state, live, sp.maxGroups, newGen, driftCols(sp.minMax), keepGens = gens)
            }
            RefreshResult(toSeq, incremental = true, mode)
          }

          // needed columns must exist in a delta frame — a schema-evolved
          // leaf can have early files without a later column (the merged
          // diff files carry it as nulls; the raw walk files may not)
          def hasCols(df: DataFrame): Boolean = {
            val need = sp.keys ++ sp.values ++ sp.sumSq ++ sp.minMax
            need.forall(df.columns.contains)
          }

          def rebuild(): RefreshResult = {
            if (liveData.isEmpty) throw new IllegalStateException(s"no live files under $leaf")
            sealFull(spark, leaf, sp.aggPath, toSeq, liveData, liveDel, sp.keys, sp.values, sp.sumSq, sp.sumSqWide, sp.minMax, sp.maxGroups)
            RefreshResult(toSeq, incremental = false, mode = "rebuild")
          }

          // 1) commit-window walk: read only net row changes (a pure
          // compaction window reads NOTHING for the cnt/sum terms)
          val walked = walks.getOrElseUpdate(
            fromSeq,
            ManifestCommit.changelogOf(fullLog, fromSeq, toSeq)
              .flatMap(walkDeltas(spark, fs, leaf, fullLog, _, recorded, live.toSet)),
          ).filter { w =>
            // appended outputs may have been superseded (and GC'd) by a
            // later replace in the window; removals are pre-state files —
            // every term (including delete-sidecar rows and their target
            // files) must still be readable for the ⊕/⊖ algebra
            (w.appended ++ w.removed).forall(p => fs.exists(new Path(p))) &&
              delReadable(w.deleted) && delReadable(w.restored)
          }
          // min/max partials live at (file, group) granularity — a
          // row-SUBSET retraction (a delete sidecar appearing, being
          // consumed, or re-asserting) cannot be expressed by dropping
          // or adding whole-file partial rows, so any delete movement
          // sends a minMax spec to the rebuild path (which re-derives
          // the partials delete-aware). cnt/sum specs stay incremental
          // through the row-level terms.
          val delMoved = addedDel.nonEmpty || removedDel.nonEmpty ||
            walked.exists(w => w.deleted.nonEmpty || w.restored.nonEmpty)
          if (sp.minMax.nonEmpty && delMoved) rebuild()
          else walked match {
            case Some(w)
                if cachedRead(w.appended, shared || (pinAdded && w.appended == added)).forall(hasCols) &&
                  cachedRead(w.removed, shared).forall(hasCols) &&
                  cachedDeleteRows(w.deleted, shared).forall(hasCols) &&
                  cachedDeleteRows(w.restored, shared).forall(hasCols) =>
              val parts = Seq(
                Some(old),
                cachedRead(w.appended, shared).map(aggOfDf(_, sp.keys, sp.values, sp.sumSq, sp.sumSqWide)),
                cachedRead(w.removed, shared).map(df => negate(aggOfDf(df, sp.keys, sp.values, sp.sumSq, sp.sumSqWide), sp.keys)),
                cachedDeleteRows(w.deleted, shared).map(df => negate(aggOfDf(df, sp.keys, sp.values, sp.sumSq, sp.sumSqWide), sp.keys)),
                cachedDeleteRows(w.restored, shared).map(aggOfDf(_, sp.keys, sp.values, sp.sumSq, sp.sumSqWide)),
              ).flatten
              sealWith(if (parts.size == 1) old else merge(parts, sp.keys), mode = "walk")
            // 2) live-set diff: read added + removed data files whole,
            // added sidecars as ⊖ rows, vanished sidecars as ⊕ rows
            // (their retractions ride out with their targets' ⊖ term)
            case _ if removed.forall(p => fs.exists(new Path(p))) &&
                delReadable(addedDel) && delReadable(removedDel) =>
              val parts = Seq(
                Some(old),
                cachedRead(added, pinAdded).map(aggOfDf(_, sp.keys, sp.values, sp.sumSq, sp.sumSqWide)),
                cachedRead(removed, shared).map(df => negate(aggOfDf(df, sp.keys, sp.values, sp.sumSq, sp.sumSqWide), sp.keys)),
                cachedDeleteRows(addedDel, shared).map(df => negate(aggOfDf(df, sp.keys, sp.values, sp.sumSq, sp.sumSqWide), sp.keys)),
                cachedDeleteRows(removedDel, shared).map(aggOfDf(_, sp.keys, sp.values, sp.sumSq, sp.sumSqWide)),
              ).flatten
              sealWith(merge(parts, sp.keys), mode = "diff")
            // 3) GC outran the state: the ⊖ term's inputs are gone —
            // rebuild. Scans the WHOLE live set — never cache it
            // (persisting a 100-TB leaf for one aggregation is the
            // opposite of the sharing this method exists for; only the
            // delta frames, bounded by the commit, are worth pinning)
            case _ => rebuild()
          }
        }
      }
    } finally {
      cache.foreach { case (k, df) => if (!seeded.contains(k)) { df.unpersist(); () } }
      delCache.foreach { case (k, df) => if (!seeded.contains(k)) { df.unpersist(); () } }
    }
  }

  /** The current materialized aggregate. `_pc` (the minMax drift
    * tripwire's internal presence count) is maintenance state, not a
    * consumer column — dropped here.
    */
  def read(spark: SparkSession, aggPath: String): DataFrame = {
    val seq = stateSeq(spark, aggPath).getOrElse(
      throw new IllegalStateException(s"no sealed state at $aggPath"),
    )
    spark.read.parquet(stateDir(aggPath, seq)).drop("_pc")
  }
}
