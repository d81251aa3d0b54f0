package graft.compact

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** File-level column statistics for the manifest commit — the data-
  * skipping layer a table format puts OVER parquet's own footer stats.
  *
  * Parquet footers already carry per-row-group min/max, but a reader
  * still has to OPEN every live file's footer to use them: at 10⁶
  * files that is 10⁶ small reads before the first byte of data. This
  * module lifts the per-FILE (min, max) of configured numeric columns
  * into a small `_stats-<runId>.json` sidecar written next to each
  * manifest-mode commit, so a range read resolves the live set, loads
  * a handful of stats objects (one per commit, metadata-sized), and
  * hands Spark only the files whose range can match — the Iceberg/
  * Delta `add file (stats)` discipline, dependency-free.
  *
  * Stats are ADVISORY, never load-bearing: [[readLeafWhere]] applies
  * the exact predicate after the scan, a file with no recorded stats
  * for the column is always kept, and a torn or missing sidecar just
  * means no pruning for that commit's files. The crash matrix is
  * therefore inherited, not extended: the sidecar is written BEFORE
  * the commit point (debris if the commit dies — reclaimed with its
  * data dir) and ignored unless sealed.
  *
  * Numeric columns only (int/long/float/double — the partition-key and
  * measure shapes range reads actually prune on): min/max are stored
  * as doubles. Longs outside double's 2⁵³ exact range could round;
  * [[collect]] widens the stored interval outward by one ULP in that
  * case, keeping the pruning contract (a kept file may be useless,
  * a dropped file can never match).
  */
object ManifestStats {

  /** One column's recorded metadata: a (min, max) interval over the
    * NON-NULL values plus the column's null count (−1 when any row
    * group left it unset). Pruning only needs the interval — a NULL
    * never matches a range or equality predicate — but exact
    * metadata-only counts ([[countLeafWhere]]) must know whether any
    * row of a "fully inside" file would fail the predicate as NULL.
    */
  final case class ColStat(lo: Double, hi: Double, nulls: Long)

  /** One file's recorded metadata: its exact row count (from the
    * footer) plus per-column [[ColStat]]s.
    */
  final case class FileStat(rows: Long, cols: Map[String, ColStat])

  /** Per-file stats: relative name -> [[FileStat]]. */
  type Stats = Map[String, FileStat]

  private[compact] def statsName(runId: String) = s"_stats-$runId.json"
  private val statsNameRe = "_stats-([0-9a-f]+)\\.json".r
  private[compact] def runIdOf(name: String): Option[String] = name match {
    case statsNameRe(id) => Some(id)
    case _               => None
  }

  /** Read per-file column min/max from parquet FOOTERS (no data I/O,
    * on the driver's footer pool: [[KnownFiles.footers]]):
    * fold row-group statistics per column. A column missing from a
    * file, non-numeric, or lacking valid stats in ANY row group yields
    * no entry for that file — it will never be pruned on it.
    */
  def collect(
      spark: SparkSession,
      files: Seq[(String, String)], // (relative name, absolute path)
      cols: Seq[String],
  ): Stats = {
    val wanted = cols.map(c => c.toLowerCase -> c).toMap
    val stats = KnownFiles.footers(spark, files.map(_._2)) { (_, r) =>
      val perCol = scala.collection.mutable.Map.empty[String, ColStat]
      val invalid = scala.collection.mutable.Set.empty[String]
      r.getFooter.getBlocks.forEach { blk =>
        blk.getColumns.forEach { cc =>
          val path = cc.getPath.toDotString
          wanted.get(path.toLowerCase).foreach { col =>
            val st = cc.getStatistics
            val ok = st != null && !st.isEmpty && st.hasNonNullValue
            val bounds =
              if (ok) numericBounds(st.genericGetMin.asInstanceOf[AnyRef], st.genericGetMax.asInstanceOf[AnyRef])
              else None
            // null count: -1 propagates as "unknown" (isNumNullsSet
            // false on any row group taints the file's total)
            val rgNulls = if (st != null && st.isNumNullsSet) st.getNumNulls else -1L
            bounds match {
              case Some((lo, hi)) =>
                perCol(col) = perCol.get(col).fold(ColStat(lo, hi, rgNulls)) { c =>
                  ColStat(
                    math.min(c.lo, lo), math.max(c.hi, hi),
                    if (c.nulls < 0 || rgNulls < 0) -1L else c.nulls + rgNulls,
                  )
                }
              case None => invalid += col; ()
            }
          }
        }
      }
      invalid.foreach(perCol.remove)
      // rows are known even when no column qualified: the entry still
      // serves metadata-only counts ([[countLeaf]])
      FileStat(r.getRecordCount, perCol.toMap)
    }
    files.map(_._1).zip(stats).toMap
  }

  /** Typed min/max -> a double interval that CONTAINS the true one
    * (outward ULP widening for longs beyond 2⁵³).
    */
  private def numericBounds(mn: AnyRef, mx: AnyRef): Option[(Double, Double)] = (mn, mx) match {
    case (a: java.lang.Integer, b: java.lang.Integer) => Some((a.toDouble, b.toDouble))
    case (a: java.lang.Long, b: java.lang.Long) =>
      val lo = a.toDouble; val hi = b.toDouble
      Some((
        if (lo.toLong > a) math.nextDown(lo) else lo,
        if (hi.toLong < b) math.nextUp(hi) else hi,
      ))
    // NaN footer stats (legacy/foreign writers propagate NaN into
    // min/max) would make every interval test false and wrongly prune a
    // file with in-range values — treat as no-stats, file always kept
    case (a: java.lang.Float, b: java.lang.Float) =>
      if (a.isNaN || b.isNaN) None else Some((a.toDouble, b.toDouble))
    case (a: java.lang.Double, b: java.lang.Double) =>
      if (a.isNaN || b.isNaN) None else Some((a.doubleValue, b.doubleValue))
    case _ => None
  }

  /** Collect and seal the stats and bloom sidecars `cfg` asks for over
    * the files a commit adds (relative name, absolute path). Every
    * commit path calls this BEFORE its commit point: the sidecars are
    * debris until the manifest seals. A bloom is sized to the per-file
    * row cap: bloomBitsPerItem=16 holds a 50-key batch probe's
    * compounded fpp at ≈2% (StatsBench bits-ladder + fpp50); an
    * oversized bloom costs every future reader its sidecar bytes.
    */
  private[compact] def writeSidecars(
      spark: SparkSession,
      fs: FileSystem,
      leaf: String,
      runId: String,
      files: Seq[(String, String)],
      cfg: CompactorConfig,
  ): Unit = if (files.nonEmpty) {
    val st: Stats = if (cfg.statsColumns.isEmpty) Map.empty else collect(spark, files, cfg.statsColumns)
    if (st.nonEmpty) write(fs, leaf, runId, st)
    val bl: Map[String, Map[String, Array[Byte]]] =
      if (cfg.bloomColumns.isEmpty) Map.empty
      else collectBlooms(spark, files, cfg.bloomColumns, cfg.maxRowsPerFile, cfg.bloomBitsPerItem.toLong * cfg.maxRowsPerFile)
    if (bl.nonEmpty) writeBlooms(fs, leaf, runId, bl)
  }

  /** Seal the sidecar for one commit ([[MetaCodec.encodeStats]]). */
  private[compact] def write(fs: FileSystem, leaf: String, runId: String, stats: Stats): Unit =
    MetaCodec.write(fs, new Path(s"$leaf/${statsName(runId)}"), MetaCodec.encodeStats(runId, stats))

  /** Union of every sealed stats sidecar of a leaf. Files are
    * write-once under manifest semantics, so a name can only appear in
    * one commit's sidecar; torn/garbled sidecars are skipped whole.
    */
  def read(fs: FileSystem, leaf: String): Stats = {
    val leafPath = new Path(leaf)
    if (!fs.exists(leafPath)) return Map.empty
    fs.listStatus(leafPath)
      .filter(e => e.isFile && runIdOf(e.getPath.getName).isDefined)
      .flatMap(e => parseStatsFile(fs, e.getPath))
      .toMap
  }

  /** Parse one sealed stats sidecar; empty on torn/unreadable. */
  private[compact] def parseStatsFile(fs: FileSystem, p: Path): Seq[(String, FileStat)] =
    MetaCodec.read(fs, p).map(MetaCodec.decodeStats).getOrElse(Seq.empty)

  /** Best-effort removal of a commit's stats AND bloom sidecars — the
    * shared lifecycle step of every rollback/expire path (a failed
    * delete leaves advisory debris, never a correctness hazard).
    */
  private[compact] def deleteSidecars(fs: FileSystem, leaf: String, runId: String): Unit =
    Seq(statsName(runId), bloomName(runId)).foreach { n =>
      try { fs.delete(new Path(s"$leaf/$n"), false); () }
      catch { case _: Throwable => () }
    }

  /** The files of `live` (absolute paths under `leaf`) that can hold a
    * `col` value in [lo, hi]: recorded interval intersects, or no
    * recorded interval at all (raw arrivals, non-stats commits, torn
    * sidecars — never wrongly pruned).
    */
  def pruneFiles(stats: Stats, leaf: String, live: Seq[String], col: String, lo: Double, hi: Double): Seq[String] =
    live.filter { abs =>
      stats.get(ManifestCommit.relativeTo(leaf, abs)).flatMap(_.cols.get(col)) match {
        case Some(st) => st.lo <= hi && lo <= st.hi
        case None     => true
      }
    }

  /** Incremental range consumer (ROADMAP 37): the files ADDED to the
    * live set between two snapshots that can hold a `col` value in
    * [lo, hi] — [[ManifestCommit.diffSnapshots]] composed with the
    * stats prune. A downstream incremental job (re-index, cache
    * refresh, replication of one key range) processes only the
    * intersection of "changed since my last run" and "can match my
    * range": O(delta) files inspected, O(commits) metadata read,
    * regardless of leaf size. Streaming compaction commits qualify
    * automatically — CompactionStream shares CompactorConfig, so its
    * micro-batch merges seal the same sidecars.
    */
  def changedFilesWhere(
      spark: SparkSession,
      leaf: String,
      fromSeq: Long,
      toSeq: Long,
      col: String,
      lo: Double,
      hi: Double,
  ): Seq[String] = {
    val (_, added) = ManifestCommit.diffSnapshots(spark, leaf, fromSeq, toSeq)
    pruneFiles(read(FileIndexer.fsFor(spark, leaf), leaf), leaf, added, col, lo, hi)
  }

  /** Range read over a manifest-committed leaf: resolve live files,
    * drop the ones whose recorded [min, max] cannot intersect
    * [lo, hi], scan the rest, and apply the EXACT predicate — stats
    * only cut I/O, never change results. The row-identity with the
    * unpruned read is what ManifestStatsSpec pins.
    */
  def readLeafWhere(spark: SparkSession, leaf: String, col: String, lo: Double, hi: Double): DataFrame = {
    import org.apache.spark.sql.functions.{col => c}
    val fs = FileIndexer.fsFor(spark, leaf)
    val live = ManifestCommit.liveFiles(spark, leaf)
    if (live.isEmpty) return spark.emptyDataFrame // no schema to resolve predicates against
    val kept = pruneFiles(read(fs, leaf), leaf, live, col, lo, hi)
    readKept(spark, leaf, live, kept).where(c(col) >= lo && c(col) <= hi)
  }

  /** The pruned scan every read surface funnels through — which is
    * also where the merge-on-read contract threads in ONCE: a
    * sidecar-retracted row must not surface however the leaf is read,
    * so the kept files anti-join the leaf's live delete positions
    * ([[ManifestCommit.readFilesAware]]).
    */
  private def readKept(spark: SparkSession, leaf: String, live: Seq[String], kept: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.lit
    if (kept.nonEmpty)
      ManifestCommit.readFilesAware(spark, leaf, kept, ManifestCommit.liveDeletes(spark, leaf))
    // schema still needs to come from somewhere: an all-pruned leaf
    // keeps the FULL merged schema (footer reads only — lit(false)
    // folds to an empty scan) so the caller's exact predicate still
    // resolves even against schema-evolved columns; an empty leaf
    // short-circuits in every public reader before predicates apply
    else if (live.nonEmpty) spark.read.option("mergeSchema", "true").parquet(live: _*).where(lit(false))
    else spark.emptyDataFrame
  }

  /** Live-sidecar position counts per targeted file (relative path →
    * retracted rows) — the metadata-scale correction the count
    * surfaces subtract. Empty when the leaf has no outstanding
    * merge-on-read deletes (the common case costs nothing).
    */
  private def deletedPerFile(spark: SparkSession, leaf: String): Map[String, Long] = {
    val dels = ManifestCommit.liveDeletes(spark, leaf)
    if (dels.isEmpty) Map.empty
    else
      // equality sidecars resolve by scanning their scope files' key
      // columns (the deferred cost of the zero-read commit) — a
      // position-only backlog stays metadata-scale; the distinct inside
      // the resolver keeps a row killed by both kinds subtracting once
      ManifestCommit.resolveDeletePositions(spark, leaf, dels)
        .groupBy(ManifestCommit.DelFile).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  // ---- bloom sidecars: point-lookup skipping ---------------------------

  /** Min/max intervals answer RANGE predicates; a point lookup on a
    * high-cardinality column (`WHERE doc_id = X`) prunes almost
    * nothing through them — every file's interval spans most of the
    * domain. The bloom sidecar is the point-lookup complement (Delta's
    * bloom index shape): at commit time one extra scan OF THE JUST-
    * WRITTEN OUTPUTS builds a per-file bloom over `xxhash64(col)` per
    * configured column (`CompactorConfig.bloomColumns`), sealed as
    * `_bloom-<runId>.json` with base64 payloads. A reader drops files
    * whose bloom says "definitely absent" — no false negatives by
    * construction, false positives only cost a useless scan. Same
    * advisory/crash discipline as the stats sidecar.
    */
  private[compact] def bloomName(runId: String) = s"_bloom-$runId.json"
  private val bloomNameRe = "_bloom-([0-9a-f]+)\\.json".r
  private[compact] def bloomRunIdOf(name: String): Option[String] = name match {
    case bloomNameRe(id) => Some(id)
    case _               => None
  }

  /** One scan of the commit's outputs → per-(file, column) bloom bytes.
    * `files` maps absolute path -> relative name; grouping is by
    * `input_file_name()`, matched on the unique basename.
    */
  def collectBlooms(
      spark: SparkSession,
      files: Seq[(String, String)], // (relative name, absolute path)
      cols: Seq[String],
      expectedItems: Long = 1000000L,
      numBits: Long = 8000000L,
  ): Map[String, Map[String, Array[Byte]]] = {
    import org.apache.spark.sql.functions.{col => c, expr, input_file_name}
    graft.functions.GraftFunctions.register(spark)
    val byBase = files.map { case (rel, abs) => new Path(abs).getName -> rel }.toMap
    val df = spark.read.option("mergeSchema", "true").parquet(files.map(_._2): _*)
    val present = df.columns.map(_.toLowerCase).toSet
    val usable = cols.filter(col => present.contains(col.toLowerCase))
    if (usable.isEmpty) return Map.empty
    val aggs = usable.map(col => expr(s"bloom_filter_agg(xxhash64(`$col`), ${expectedItems}L, ${numBits}L)").as(s"b_$col"))
    df.groupBy(input_file_name().as("f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .flatMap { row =>
        val base = new Path(row.getString(0)).getName
        byBase.get(base).map { rel =>
          rel -> usable.zipWithIndex.flatMap { case (col, i) =>
            Option(row.get(i + 1)).map(b => col -> b.asInstanceOf[Array[Byte]])
          }.toMap
        }
      }
      .toMap
  }

  /** Seal the bloom sidecar ([[MetaCodec.encodeBlooms]]). */
  private[compact] def writeBlooms(
      fs: FileSystem,
      leaf: String,
      runId: String,
      blooms: Map[String, Map[String, Array[Byte]]],
  ): Unit =
    MetaCodec.write(fs, new Path(s"$leaf/${bloomName(runId)}"), MetaCodec.encodeBlooms(runId, blooms))

  /** Union of every sealed bloom sidecar of a leaf. */
  def readBlooms(fs: FileSystem, leaf: String): Map[String, Map[String, Array[Byte]]] = {
    val leafPath = new Path(leaf)
    if (!fs.exists(leafPath)) return Map.empty
    fs.listStatus(leafPath)
      .filter(e => e.isFile && bloomRunIdOf(e.getPath.getName).isDefined)
      .flatMap(e => parseBloomFile(fs, e.getPath))
      .groupBy(_._1)
      .map { case (f, es) => f -> es.map(e => e._2 -> e._3).toMap }
  }

  /** Parse one sealed bloom sidecar; empty on torn/unreadable. */
  private[compact] def parseBloomFile(fs: FileSystem, p: Path): Seq[(String, String, Array[Byte])] =
    MetaCodec.read(fs, p).map(MetaCodec.decodeBlooms).getOrElse(Seq.empty)

  /** Point read over a manifest-committed leaf: drop live files whose
    * bloom for `col` definitely excludes `value` (no recorded bloom →
    * kept), scan the rest, apply the exact equality. The membership
    * test runs through the same `bloom_might_contain` expression the
    * blooms were built for, over a driver-local frame of the candidate
    * (file, bloom) rows — one tiny local job, no correctness surface
    * beyond the paired agg/probe functions.
    */
  def readLeafEquals(spark: SparkSession, leaf: String, col: String, value: Any): DataFrame = {
    import org.apache.spark.sql.functions.{col => c, lit}
    val fs = FileIndexer.fsFor(spark, leaf)
    val live = ManifestCommit.liveFiles(spark, leaf)
    if (live.isEmpty) return spark.emptyDataFrame // no schema to resolve predicates against
    val kept = bloomKeep(readBlooms(fs, leaf), leaf, live, col, value)
    readKept(spark, leaf, live, kept).where(c(col) === lit(value))
  }

  /** The files of `files` whose bloom for `col` might contain `value`
    * (or that record no bloom for it). Membership evaluates entirely
    * on the DRIVER: the bloom bytes are already in driver memory, the
    * aggregate serialized the public `util.sketch.BloomFilter` format,
    * and the probe hash is the same XxHash64(seed 42) the in-plan
    * `xxhash64` computes ([[sqlXxhash64]]) — no Spark plan carries
    * file-count × bloom-bytes of literals (the earlier one-row-job
    * form shipped ~1 MB per candidate file into a single projection).
    * `value` must carry the COLUMN's Scala type — a mistyped probe
    * hashes differently and would wrongly prune.
    */
  private def bloomKeep(
      blooms: Map[String, Map[String, Array[Byte]]],
      leaf: String,
      files: Seq[String],
      col: String,
      value: Any,
  ): Seq[String] = {
    val h = sqlXxhash64(value)
    files.filter { abs =>
      blooms.get(ManifestCommit.relativeTo(leaf, abs)).flatMap(_.get(col)) match {
        case Some(bytes) =>
          try org.apache.spark.util.sketch.BloomFilter.readFrom(bytes).mightContainLong(h)
          catch { case _: java.io.IOException => true } // unreadable bloom: keep
        case None => true
      }
    }
  }

  /** Driver-side replica of the SQL `xxhash64(value)` for the probe
    * types the blooms are built over — same XxHash64Function kernels,
    * seed 42, same per-type representation as the codegen path.
    */
  private def sqlXxhash64(value: Any): Long = {
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    import org.apache.spark.sql.types._
    value match {
      case v: Long    => XxHash64Function.hash(v, LongType, 42L)
      case v: Int     => XxHash64Function.hash(v, IntegerType, 42L)
      case v: Double  => XxHash64Function.hash(v, DoubleType, 42L)
      case v: Float   => XxHash64Function.hash(v, FloatType, 42L)
      case v: String  => XxHash64Function.hash(org.apache.spark.unsafe.types.UTF8String.fromString(v), StringType, 42L)
      case v => throw new IllegalArgumentException(s"unsupported bloom probe type: ${v.getClass}")
    }
  }

  /** Combined resolution (ROADMAP 41): one live-set listing, stats ∩
    * bloom pruning across ANY number of range and point predicates,
    * exact predicates applied on top. The prunes compose because each
    * is independently a superset-keeper: a file survives iff every
    * range can intersect AND every point might be present — the
    * multi-dimensional file-skipping shape (`year range × tenant id
    * point`) a lake query actually runs.
    */
  def readLeafPruned(
      spark: SparkSession,
      leaf: String,
      ranges: Map[String, (Double, Double)] = Map.empty,
      points: Map[String, Any] = Map.empty,
  ): DataFrame = {
    import org.apache.spark.sql.functions.{col => c, lit}
    val live = ManifestCommit.liveFiles(spark, leaf)
    if (live.isEmpty) return spark.emptyDataFrame // no schema to resolve predicates against
    val kept = keptFor(spark, leaf, live, ranges, points)
    val exact = (
      ranges.toSeq.map { case (col, (lo, hi)) => c(col) >= lo && c(col) <= hi } ++
        points.toSeq.map { case (col, value) => c(col) === lit(value) }
    ).reduceOption(_ && _).getOrElse(lit(true))
    readKept(spark, leaf, live, kept).where(exact)
  }

  private def keptFor(
      spark: SparkSession,
      leaf: String,
      live: Seq[String],
      ranges: Map[String, (Double, Double)],
      points: Map[String, Any],
  ): Seq[String] = {
    val fs = FileIndexer.fsFor(spark, leaf)
    val stats = if (ranges.nonEmpty) read(fs, leaf) else Map.empty: Stats
    val afterRanges = ranges.foldLeft(live) { case (files, (col, (lo, hi))) =>
      pruneFiles(stats, leaf, files, col, lo, hi)
    }
    val blooms = if (points.nonEmpty) readBlooms(fs, leaf) else Map.empty[String, Map[String, Array[Byte]]]
    points.foldLeft(afterRanges) { case (files, (col, value)) =>
      bloomKeep(blooms, leaf, files, col, value)
    }
  }

  /** Metadata-only row count of a leaf (the Iceberg `count(*)` from
    * manifests): live files with a recorded [[FileStat]] contribute
    * their sidecar rows — zero file opens; only files outside any
    * sidecar (raw arrivals, pre-stats commits) fall back to a footer
    * read. Exact by construction: sidecar rows come from the same
    * footers, sealed at commit time over write-once files.
    */
  def countLeaf(spark: SparkSession, leaf: String): Long = {
    val live = ManifestCommit.liveFiles(spark, leaf)
    val stats = read(FileIndexer.fsFor(spark, leaf), leaf)
    val (known, unknown) = live.partition(f => stats.contains(ManifestCommit.relativeTo(leaf, f)))
    // outstanding MoR sidecars retract rows the footers still count —
    // their per-file position totals subtract at the same metadata
    // scale (positions address live files by the publish tripwire;
    // the live-set filter is belt-and-braces)
    val liveRel = live.map(ManifestCommit.relativeTo(leaf, _)).toSet
    val deleted = deletedPerFile(spark, leaf).collect { case (f, n) if liveRel(f) => n }.sum
    known.map(f => stats(ManifestCommit.relativeTo(leaf, f)).rows).sum +
      (if (unknown.isEmpty) 0L else KnownFiles.rows(spark, unknown)) - deleted
  }

  /** Conservative metadata-only bounds of `col` over the leaf: the
    * union of recorded intervals, None when any live file lacks an
    * entry for the column (a bound that ignored it would be wrong).
    * "Conservative" because long values beyond 2⁵³ were widened
    * OUTWARD at collect time — the returned interval always contains
    * the true [min, max], making it sound for planning (partition
    * elimination, join-range estimation), not an oracle answer.
    */
  def minMaxLeaf(spark: SparkSession, leaf: String, col: String): Option[(Double, Double)] = {
    val live = ManifestCommit.liveFiles(spark, leaf)
    val stats = read(FileIndexer.fsFor(spark, leaf), leaf)
    val ivs = live.map(f => stats.get(ManifestCommit.relativeTo(leaf, f)).flatMap(_.cols.get(col)))
    if (live.isEmpty || ivs.exists(_.isEmpty)) None
    else Some((ivs.map(_.get.lo).min, ivs.map(_.get.hi).max))
  }

  /** Exact range count with metadata acceleration: files whose
    * recorded interval lies fully INSIDE [lo, hi] contribute their
    * sidecar row count, files fully OUTSIDE contribute zero, and only
    * the STRADDLING files (plus files without stats) are scanned.
    * Outward interval widening can only demote a fully-inside file to
    * straddling — more scanning, never a wrong count.
    */
  def countLeafWhere(spark: SparkSession, leaf: String, col: String, lo: Double, hi: Double): Long = {
    import org.apache.spark.sql.functions.{col => c}
    val live = ManifestCommit.liveFiles(spark, leaf)
    if (live.isEmpty) return 0L
    val stats = read(FileIndexer.fsFor(spark, leaf), leaf)
    val delByFile = deletedPerFile(spark, leaf)
    val classified = live.map { f =>
      val rel = ManifestCommit.relativeTo(leaf, f)
      val fst = stats.get(rel)
      fst.flatMap(s => s.cols.get(col).map(cs => (s.rows, cs))) match {
        // crediting the whole file requires the interval inside the
        // range AND a known-zero null count: NULL rows fail the exact
        // predicate, so a file with (possible) nulls must scan. A
        // fully-inside file's MoR-retracted rows are also fully inside
        // — subtracting its position count keeps the credit exact.
        case Some((rows, cs)) if lo <= cs.lo && cs.hi <= hi && cs.nulls == 0L =>
          ("inside", f, rows - delByFile.getOrElse(rel, 0L))
        // exclusion needs only the interval: nulls never match either,
        // and retracted rows cannot un-exclude a file
        case Some((_, cs)) if cs.hi < lo || hi < cs.lo => ("outside", f, 0L)
        case _ => ("scan", f, 0L)
      }
    }
    val metaRows = classified.collect { case ("inside", _, r) => r }.sum
    val toScan = classified.collect { case ("scan", f, _) => f }
    val scanned =
      if (toScan.isEmpty) 0L
      else ManifestCommit.readFilesAware(spark, leaf, toScan, ManifestCommit.liveDeletes(spark, leaf))
        .where(c(col) >= lo && c(col) <= hi).count()
    metaRows + scanned
  }

  /** Clustering-drift metric for `col` over the leaf's LIVE files,
    * from the stats sidecars alone (no data I/O): the average STABBING
    * DEPTH of the files' [min, max] intervals — how many files a
    * point query on `col` must open, averaged over the covered value
    * range. 1.0 = perfectly range-disjoint layout (each point hits one
    * file); K ≈ every file spans the whole range (a point query opens
    * them all — the layout a long arrival history degrades into).
    * None when any live file lacks a recorded interval (unassessable —
    * the dial must not re-sort a leaf it cannot measure) or fewer than
    * two files are live. Zero-width union (all files at one point)
    * reads as full overlap: depth = file count.
    */
  def clusteringDepth(spark: SparkSession, leaf: String, col: String): Option[Double] = {
    val fs = FileIndexer.fsFor(spark, leaf)
    val live = ManifestCommit.liveFiles(spark, leaf)
    if (live.size < 2) return None
    val stats = read(fs, leaf)
    val iv = live.map { p =>
      val rel = ManifestCommit.relativeTo(leaf, p)
      stats.get(rel).flatMap(_.cols.get(col)).map(c => (c.lo, c.hi))
    }
    if (iv.exists(_.isEmpty)) return None
    val ivs = iv.flatten
    val totalLen = ivs.map { case (lo, hi) => math.max(0.0, hi - lo) }.sum
    // union length by endpoint sweep
    val sorted = ivs.sortBy(_._1)
    var unionLen = 0.0
    var curLo = Double.NaN
    var curHi = Double.NaN
    sorted.foreach { case (lo, hi) =>
      if (curLo.isNaN || lo > curHi) {
        if (!curLo.isNaN) unionLen += curHi - curLo
        curLo = lo; curHi = hi
      } else curHi = math.max(curHi, hi)
    }
    if (!curLo.isNaN) unionLen += curHi - curLo
    if (unionLen > 0.0) Some(totalLen / unionLen)
    else {
      // every interval is a single point: stabbing depth is files per
      // DISTINCT point, averaged — N files at N distinct points is a
      // perfectly clustered 1.0 (re-sorting it would change nothing;
      // the first cut returned fileCount here and would have re-sorted
      // such a leaf on every maintenance pass forever), N files at one
      // point is a true N
      val pts = ivs.map(_._1).distinct.size
      Some(ivs.size.toDouble / pts)
    }
  }

  /** The predicate bridge (ROADMAP 43): a lake reader passes an
    * ordinary Column predicate; the top-level CONJUNCTS it is safe to
    * prune on are extracted — numeric comparisons and equalities feed
    * the stats intervals, string equalities feed the blooms — and the
    * FULL predicate applies exactly on the pruned scan, so anything
    * the extractor doesn't understand (ORs, functions, IN-lists)
    * simply prunes nothing. Numeric equality deliberately goes
    * through the stats as a [v, v] interval rather than the bloom:
    * the bloom hashed the COLUMN's type, and a literal of a different
    * numeric width (`=== 5` against a LONG column) would hash
    * differently and wrongly prune — intervals have no such hazard.
    * String points get the symmetric guard here: a bloom probe only
    * fires when the column actually IS a string in the leaf's schema
    * (one footer read) — `col("id") === "150"` against a LONG column
    * would hash the STRING and wrongly prune, while Spark's exact
    * predicate coerces and matches; such points just prune nothing.
    */
  def readLeafFiltered(spark: SparkSession, leaf: String, predicate: org.apache.spark.sql.Column): DataFrame = {
    val live = ManifestCommit.liveFiles(spark, leaf)
    if (live.isEmpty) return spark.emptyDataFrame // no schema to resolve predicates against
    val kept = pruneByPredicate(spark, leaf, live, predicate)
    readKept(spark, leaf, live, kept).where(predicate)
  }

  /** The live files that can possibly hold a `predicate`-matching row,
    * by the stats/bloom sidecars: attr-OP-literal CONJUNCTS extract
    * through the ColumnBridge (numeric comparisons → interval prune,
    * string equalities → bloom prune — the literal-width hash hazard
    * keeps numeric equality on the interval path), everything else
    * prunes nothing. Superset-keeping by construction: a file outside
    * the result CANNOT contain a matching row. Shared by
    * [[readLeafFiltered]] and [[ManifestCommit.deleteWhere]].
    */
  private[compact] def pruneByPredicate(
      spark: SparkSession,
      leaf: String,
      live: Seq[String],
      predicate: org.apache.spark.sql.Column,
  ): Seq[String] = {
    val (ranges, points) = org.apache.spark.sql.graft.ColumnBridge.prunableConjuncts(predicate)
    val safePoints =
      if (points.isEmpty) points
      else {
        val schema = spark.read.parquet(live.head).schema
        points.filter { case (col, _) =>
          schema.find(_.name.equalsIgnoreCase(col))
            .exists(_.dataType == org.apache.spark.sql.types.StringType)
        }
      }
    if (ranges.isEmpty && safePoints.isEmpty) live
    else keptFor(spark, leaf, live, ranges, safePoints)
  }

  /** Source key sets above this size skip the key-set prune: hashing
    * cost grows with |keys| × |files|, and a source that large touches
    * most of the leaf anyway (the numeric min/max interval prune still
    * applies). Driver-bounded by construction — the caller collects at
    * most this many distinct key tuples.
    */
  private[compact] val KeySetPruneCap = 100000L

  /** The live files that can possibly hold a row whose key tuple is in
    * the given per-column value sets — the MERGE / keyed-DELETE
    * classification prune (the Iceberg-v2 "which data files can this
    * equality delete hit" question). Per column a file is DROPPED only
    * when the sidecars rule out EVERY source value: numeric columns
    * check each value against the stats interval (sorted + binary
    * search — O(log n) per file), string columns probe the bloom with
    * each value's xxhash64 (hashes computed once, first hit keeps).
    * Superset-keeping per column — a file holding a matching tuple
    * holds each member value — so the conjunction over columns is too,
    * and a column with no sidecar entry (or a non-prunable type) keeps
    * everything. The string probe is schema-guarded like
    * [[readLeafFiltered]]: a String value only probes when the leaf
    * column IS a string (one footer read), since a type-coerced match
    * would hash differently and wrongly prune.
    */
  def pruneByKeySet(
      spark: SparkSession,
      leaf: String,
      live: Seq[String],
      keyVals: Map[String, Seq[Any]],
  ): Seq[String] = {
    if (live.isEmpty || keyVals.isEmpty) return live
    val fs = FileIndexer.fsFor(spark, leaf)
    val numeric: Map[String, Array[Double]] = keyVals.collect {
      case (c, vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[Number]) =>
        c -> vs.map(_.asInstanceOf[Number].doubleValue).toArray.sorted
    }
    val stringCols = keyVals.collect {
      case (c, vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[String]) => c
    }.toSeq
    val safeStringCols =
      if (stringCols.isEmpty) Set.empty[String]
      else {
        // one footer open for the type guard — the ONLY file touch this
        // prune ever makes. Resilient: an unreadable footer steps to the
        // next live file, and a leaf with no readable footer just skips
        // the string prune (prunes nothing — the safe direction).
        val schema = live.iterator.flatMap { f =>
          try Some(spark.read.parquet(f).schema)
          catch { case _: Throwable => None }
        }.nextOption()
        schema match {
          case None => Set.empty[String]
          case Some(sc) =>
            stringCols.filter { c =>
              sc.find(_.name.equalsIgnoreCase(c))
                .exists(_.dataType == org.apache.spark.sql.types.StringType)
            }.toSet
        }
      }
    val hashed: Map[String, Array[Long]] = keyVals.collect {
      case (c, vs) if safeStringCols(c) => c -> vs.map(sqlXxhash64).toArray
    }
    if (numeric.isEmpty && hashed.isEmpty) return live
    val stats = if (numeric.nonEmpty) read(fs, leaf) else Map.empty: Stats
    val blooms = if (hashed.nonEmpty) readBlooms(fs, leaf) else Map.empty[String, Map[String, Array[Byte]]]
    live.filter { abs =>
      val rel = ManifestCommit.relativeTo(leaf, abs)
      val numOk = numeric.forall { case (c, vals) =>
        stats.get(rel).flatMap(_.cols.get(c)) match {
          case Some(cs) =>
            // first value >= lo; keep iff it exists and is <= hi
            val i = java.util.Arrays.binarySearch(vals, cs.lo)
            val from = if (i >= 0) i else -i - 1
            from < vals.length && vals(from) <= cs.hi
          case None => true // no recorded interval: cannot exclude
        }
      }
      numOk && hashed.forall { case (c, hs) =>
        blooms.get(rel).flatMap(_.get(c)) match {
          case Some(bytes) =>
            try {
              val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(bytes)
              hs.exists(bf.mightContainLong)
            } catch { case _: java.io.IOException => true } // unreadable bloom: keep
          case None => true
        }
      }
    }
  }
}
