package graft.compact

import scala.collection.mutable

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Multi-leaf ATOMIC publish — the catalog-root pointer over per-leaf
  * head seqs (the [[VersionedPointer]] discipline one level up, with
  * content: Iceberg's catalog / Delta's `_last_checkpoint` shape,
  * dependency-free).
  *
  * Every [[ManifestCommit]] commit is single-leaf atomic; a dataset
  * spanning leaves (a data leaf + its quarantine leaf, partitioned
  * leaves, a table + its downstream rollup) has no cross-leaf publish —
  * a reader can observe leaf A's new commit beside leaf B's old one.
  * This module adds the missing boundary: a SNAPSHOT file
  * `_cat-<seq>.json` at a catalog root pins each member leaf to a head
  * seq, and catalog readers resolve every leaf THROUGH the pin
  * ([[ManifestCommit.readLeafAt]]) — all-or-nothing across leaves.
  *
  * Protocol (one object create IS the commit point):
  *   1. run the per-leaf commits as usual (WAP appends, merges,
  *      deletes, compactions) — each atomic on its own leaf, but
  *      invisible to CATALOG readers, who are still pinned;
  *   2. capture each touched leaf's new head seq;
  *   3. [[publish]] — ONE create-only PUT of the next `_cat-<seq>.json`
  *      carrying the updated pins merged over the carried-forward rest.
  *
  * == Two-level layout (swarm scale) ==
  *
  * The first cut serialized the FULL carried-forward pin map into every
  * snapshot: at 10⁵–10⁶ member leaves each publish writes, and each
  * resolve parses, an O(members) JSON — the r17 verdict's scale-killer.
  * Publishing with `groups = Some(G)` switches the catalog to a
  * two-level form (the same reason Iceberg splits its manifest list
  * from its manifests): member leaves hash-partition into G GROUP
  * MANIFESTS (`_grp-<seq>-<gid>-<rand>.json`, each the pin map of one
  * group, create-only and immutable), and the root snapshot carries
  * only `(gid → group-file)` references. A publish rewrites the group
  * manifests its updated leaves hash into and REFERENCES the rest
  * unchanged — O(touched/G × members/G + G) per publish instead of
  * O(members); a single-leaf read parses the root plus ONE group.
  * Once grouped, the format carries forward (`groups = None` keeps the
  * current root's gcount); changing G or migrating from the inline
  * form is a one-time O(members) re-split. Group assignment must stay
  * stable across publishes — [[groupOf]] is the one hash.
  *
  * Crash matrix:
  *   - death between leaf commits and publish: catalog readers see
  *     old-EVERYTHING (the sealed leaf commits are future state only
  *     direct leaf readers observe); re-running the publish heals;
  *   - torn snapshot upload: fails the seal-mark check, ignored —
  *     readers resolve the previous sealed snapshot;
  *   - death between group-manifest writes and the root create: the
  *     groups are unreferenced debris (invisible — only a sealed root
  *     makes them live) reclaimed by [[expire]]'s reference-scan GC;
  *   - two writers racing seq S+1: same object name, create-only —
  *     the loser gets [[ConcurrentCommitException]] and rolls back;
  *   - a SLOW racer colliding as an unsealed file: the next publish
  *     waits a bounded window for it to seal (abort if it does), and
  *     after sealing audits every seq it skipped — a racer that sealed
  *     late makes this publish retract itself and throw, so a racing
  *     loser ALWAYS surfaces as [[ConcurrentCommitException]], never
  *     as silently-dropped pins ([[publish]] guards 1 and 2);
  *   - an UNREADABLE colliding or audited file (transient IO, not
  *     torn): never burned, never stepped over — the guards retract
  *     if needed and fail as IO, because the failure may be hiding a
  *     SEALED racer whose pins a burn would silently drop;
  *   - a publisher outrun by a concurrent [[expire]] (its just-written
  *     or carried group refs GC'd before its root sealed): the
  *     post-seal reference audit (guard 3) finds the hole, retracts,
  *     and throws — a sealed, retained root's groups are therefore
  *     always present, and a resolve that still finds one missing
  *     fails LOUDLY rather than silently dropping that group's pins.
  *
  * Retention: a pinned read is [[ManifestCommit.readLeafAt]], so leaf
  * lifecycle must keep superseded files for as long as a catalog
  * snapshot pins a pre-rewrite seq — run member leaves with
  * `retainSuperseded` and expire ONLY past [[oldestPin]] (the same
  * contract the ChangeFeed retraction reader documents). A sweep over
  * many leaves reads [[oldestPins]] ONCE instead of per leaf.
  */
object CatalogCommit {

  private val nameRe = "_cat-(\\d+)\\.json".r
  private val grpNameRe = "_grp-(\\d+)-.*\\.json".r

  /** One sealed catalog snapshot. `leaves` (member leaf path RELATIVE
    * to the catalog root → pinned head seq) resolves LAZILY: for a
    * grouped root the full map means parsing every group manifest, and
    * the publish / per-leaf read paths deliberately never force it —
    * single-leaf resolution goes through [[pin]], which parses at most
    * ONE group manifest. Laziness has a retention contract: force the
    * map (or use the Snapshot) within the catalog's retention window —
    * a thunk forced after a concurrent [[expire]] has retired this
    * root and GC'd its groups fails loudly with IllegalStateException
    * (the eager alternative would tax every `current()` call O(members)
    * to protect a caller that holds snapshots across expiry cycles).
    */
  final class Snapshot private[compact] (
      val seq: Long,
      thunk: () => Map[String, Long],
      pinFn: String => Option[Long],
  ) {
    lazy val leaves: Map[String, Long] = thunk()

    /** This snapshot's pin for one leaf — root + at most ONE group
      * manifest parse for grouped roots, never the full member map.
      */
    def pin(leafRel: String): Option[Long] = pinFn(leafRel)
    override def toString: String = s"Snapshot($seq)"
  }
  object Snapshot {
    def apply(seq: Long, leaves: Map[String, Long]): Snapshot =
      new Snapshot(seq, () => leaves, leaves.get)
  }

  /** A parsed root snapshot file — inline (pin map in the root) or
    * grouped (gid → group-manifest references).
    */
  private[compact] sealed trait Root { def seq: Long }
  private[compact] final case class InlineRoot(seq: Long, leaves: Map[String, Long]) extends Root
  private[compact] final case class GroupedRoot(seq: Long, gcount: Int, groups: Map[Int, String]) extends Root

  /** Group manifests are create-only and immutable, so one parse per
    * NAME is sound across any number of referencing roots — the memo
    * that turns an all-snapshots scan into O(distinct group files).
    * TrieMap, not HashMap: a [[Snapshot]] escapes to callers that may
    * read several leaves from parallel threads (pin and the lazy
    * `leaves` force share one cache), and a concurrent getOrElseUpdate
    * on a plain mutable.HashMap corrupts the table — the worst case
    * here is a duplicate parse of one immutable file, which TrieMap's
    * atomic getOrElseUpdate makes benign.
    */
  private type GroupCache = mutable.Map[String, Option[Map[String, Long]]]
  private def newCache: GroupCache = scala.collection.concurrent.TrieMap.empty

  private def snapName(seq: Long) = f"_cat-$seq%09d.json"
  private def grpName(seq: Long, gid: Int): String = {
    // uuid suffix: group writes are contention-free content; only the
    // root create contends. The embedded seq is the GC floor, nothing
    // else — a burn-bumped root keeps referencing these names.
    val rand = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    f"_grp-$seq%09d-$gid%04d-$rand.json"
  }
  private[compact] def seqOf(name: String): Option[Long] = name match {
    case nameRe(d) => Some(d.toLong)
    case _         => None
  }
  private def grpSeqOf(name: String): Option[Long] = name match {
    case grpNameRe(d) => Some(d.toLong)
    case _            => None
  }

  /** The one stable leaf→group hash. MurmurHash3.stringHash is
    * JVM-stable and spec-pinned; changing this function (or gcount)
    * against an existing grouped catalog would orphan every pin.
    */
  private[compact] def groupOf(leafRel: String, gcount: Int): Int =
    Math.floorMod(scala.util.hashing.MurmurHash3.stringHash(leafRel), gcount)

  private def fsFor(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Raw file bytes — IO failures THROW (callers that want step-down
    * semantics catch; [[expire]]'s GC reference scan must not, because
    * for it "couldn't read" and "torn" have opposite safe defaults).
    */
  private def readBytesIO(fs: FileSystem, p: Path): Array[Byte] = {
    val in = fs.open(p)
    try in.readAllBytes()
    finally in.close()
  }

  /** Classification of one root snapshot FILE where "couldn't read"
    * must stay distinct from "torn" — the same asymmetry [[expire]]'s
    * reference scan honors (review r19: the publish guards previously
    * collapsed a transient read failure into "not sealed", so a racer
    * whose SEALED root happened to be unreadable through the debris
    * window could be burned as dead debris and its pins silently
    * dropped — the exact loss the guards exist to prevent):
    *   - [[SealedAs]]: read succeeded, seal mark present, parses;
    *   - [[TornFile]]: read succeeded, no seal / garbled — a writer
    *     died mid-upload; this is the ONLY state that may be burned;
    *   - [[AbsentFile]]: the file is gone (retracted / GC'd) —
    *     unambiguous, contributes nothing;
    *   - [[Unreadable]]: an IO failure — the file may be ANYTHING,
    *     so callers on the commit path must fail loudly, never
    *     classify.
    */
  private sealed trait RootState
  private final case class SealedAs(r: Root) extends RootState
  private case object TornFile extends RootState
  private case object AbsentFile extends RootState
  private final case class Unreadable(cause: Throwable) extends RootState

  private def rootState(fs: FileSystem, p: Path): RootState =
    (try Right(readBytesIO(fs, p))
    catch {
      case _: java.io.FileNotFoundException => Left(AbsentFile: RootState)
      case e: InterruptedException =>
        // an interrupted CALLER (task kill, speculative retry) is not a
        // file state: classifying it Unreadable would make guard 1's
        // debris loop re-probe until the deadline with the interrupt
        // swallowed (advice r19) — re-assert the flag and propagate
        Thread.currentThread().interrupt()
        throw e
      case scala.util.control.NonFatal(e) => Left(Unreadable(e): RootState)
      // fatal errors (OOM, LinkageError) propagate — they are not a
      // statement about THIS file either
    }) match {
      case Right(bytes) => MetaCodec.decodeRoot(bytes).map(SealedAs.apply).getOrElse(TornFile)
      case Left(st)    => st
    }

  /** Read-path step-down: torn, absent AND unreadable all yield None
    * (the caller resolves the previous sealed snapshot); interrupts and
    * fatal errors propagate as in [[rootState]].
    */
  private def parseRoot(fs: FileSystem, p: Path): Option[Root] =
    rootState(fs, p) match {
      case SealedAs(r) => Some(r)
      case _           => None
    }

  private def cachedGroup(fs: FileSystem, root: String, name: String, cache: GroupCache): Option[Map[String, Long]] =
    cache.getOrElseUpdate(
      name, {
        // only DEFINITIVE outcomes enter the memo: torn and absent are
        // permanent states of an immutable create-only name, but a
        // transient read failure THROWS uncached — negative-caching an
        // IO hiccup would poison every later pin()/resolve on the same
        // snapshot even after storage heals (review r19)
        val bytes =
          try Some(readBytesIO(fs, new Path(s"$root/$name")))
          catch { case _: java.io.FileNotFoundException => None }
        bytes.flatMap(MetaCodec.decodeGroup)
      },
    )

  /** Pool width for the catalog's driver-side metadata IO fan-out.
    * GRAFT_CATALOG_POOL (env) sizes it for a deployment — 8 suits a
    * local fs; an object store with 10–50 ms per PUT amortizes wider
    * (the CatalogBench latency mode prices the scaling). The
    * `graft.catalog.pool` SYSTEM PROPERTY overrides the env so a
    * same-JVM caller (the bench comparing widths, a spec) can vary it —
    * env vars are process-frozen. Read per call, so the override is
    * never frozen into a lazy.
    */
  private[compact] def poolWidth: Int =
    sys.props.get("graft.catalog.pool").orElse(sys.env.get("GRAFT_CATALOG_POOL")) match {
      case None => 8
      case Some(v) =>
        v.toIntOption.filter(_ >= 1).getOrElse(throw new IllegalArgumentException(
          s"GRAFT_CATALOG_POOL must be a positive integer, got '$v'"))
    }

  /** Independent IO tasks (root parses, group parses, group writes —
    * all against distinct immutable-or-fresh objects) on a bounded
    * pool when the batch is big enough to amortize one, serial below
    * that. Order-preserving; the first failure propagates unwrapped,
    * exactly like the serial form. Interrupt/failure semantics (spec-
    * pinned directly): the first task failure — or an interrupt of the
    * CALLER — shuts the pool down NOW (queued tasks never start,
    * running ones are interrupted), and a caller interrupt re-asserts
    * the thread's interrupt flag before propagating. The pool is
    * per-call by design: a shared executor would have to reconcile one
    * caller's shutdownNow with another's live batch (advice r19 notes
    * the churn; the interrupt semantics are worth it at metadata-IO
    * call rates).
    */
  private[compact] def boundedPar[A, B](items: Seq[A], width: Int = poolWidth)(f: A => B): Seq[B] =
    if (items.size <= 4 || width <= 1) items.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(width, items.size))
      try {
        val futures = items.map { a =>
          pool.submit(new java.util.concurrent.Callable[B] { override def call(): B = f(a) })
        }
        try futures.map(_.get())
        catch {
          case e: java.util.concurrent.ExecutionException =>
            // don't let the ~queued remainder keep running (wasted
            // PUTs racing the caller's error handling): cancel what
            // hasn't started, then propagate the real failure
            pool.shutdownNow()
            throw e.getCause
          case e: InterruptedException =>
            // same cancellation on an interrupted CALLER (task kill,
            // speculative retry) — and re-assert the interrupt flag
            pool.shutdownNow()
            Thread.currentThread().interrupt()
            throw e
        }
      } finally {
        pool.shutdown()
        ()
      }
    }

  /** Write a publish's new group manifests. Each is independent,
    * create-only, uuid-named content (contention-free — only the ROOT
    * create contends), so a large batch — the one-time inline→grouped
    * migration or a gcount change, ~G ≈ √members files — fans out on a
    * bounded pool instead of G serial PUTs (ROADMAP 120; measured
    * ~pool× on the CatalogBench migration rung). Steady-state
    * publishes touch ~1 group and stay on the calling thread. Any
    * write failure aborts the publish before the root create — the
    * manifests already written are unreferenced debris for [[expire]]'s
    * GC, exactly the mid-publish-death crash window. The cache is
    * seeded once all writes land, so just-written content is never
    * re-read.
    */
  private def writeGroups(
      fs: FileSystem,
      root: String,
      seq: Long,
      newGroups: Map[Int, (String, Map[String, Long])],
      cache: GroupCache,
  ): Unit = {
    val batch = newGroups.toSeq.sortBy(_._1)
    // first failure propagates and aborts the publish
    boundedPar(batch) { case (gid, (name, lv)) =>
      MetaCodec.write(fs, new Path(s"$root/$name"), MetaCodec.encodeGroup(seq, gid, lv))
    }
    batch.foreach { case (_, (name, lv)) => cache(name) = Some(lv) }
  }

  private def groupOrThrow(
      fs: FileSystem, root: String, rootSeq: Long, gid: Int, name: String, cache: GroupCache,
  ): Map[String, Long] =
    cachedGroup(fs, root, name, cache).getOrElse(
      throw new IllegalStateException(
        s"catalog $root: sealed snapshot $rootSeq references group manifest $name (g=$gid) that is " +
          "missing or torn — a retained root's groups are create-only and reference-GC-protected, so " +
          "this is a transient retraction race or external damage; failing loudly rather than " +
          "silently dropping that group's pins"))

  /** All root snapshot files, newest seq first (sealed or not — callers
    * parse, and torn files step down).
    */
  private def rootFilesDesc(fs: FileSystem, rootPath: Path): Seq[Path] =
    if (!fs.exists(rootPath)) Seq.empty
    else fs.listStatus(rootPath).toSeq
      .flatMap(e => if (e.isFile) seqOf(e.getPath.getName).map(_ -> e.getPath) else None)
      .sortBy(-_._1)
      .map(_._2)

  /** The newest sealed root (torn AND unreadable files step down —
    * acceptable for READ paths, where the previous sealed snapshot is
    * stale-but-consistent; the publish guards and the expiry-horizon
    * derivations use [[rootState]] / [[sealedRootsStrict]] instead,
    * because for them "unreadable" must fail loudly, never
    * reclassify). O(G) for a grouped root — group manifests are NOT
    * read here.
    */
  private def currentRoot(fs: FileSystem, rootPath: Path): Option[Root] =
    rootFilesDesc(fs, rootPath).iterator.flatMap(parseRoot(fs, _)).nextOption()

  /** Every sealed root of the snapshot set, for EXPIRY-HORIZON
    * derivation: torn/absent files contribute nothing, but an
    * UNREADABLE file THROWS — silently dropping a sealed root from a
    * floor computation would yield floors PAST its pins and let leaf
    * expiry GC history a pinned read still needs (the maintenance
    * caller maps the throw to FloorsUnavailable and skips expiry for
    * the pass). Parses pool-parallel like the other catalog file IO.
    */
  private def sealedRootsStrict(fs: FileSystem, rootPath: Path): Seq[Root] =
    boundedPar(rootFilesDesc(fs, rootPath)) { p =>
      rootState(fs, p) match {
        case SealedAs(r) => Some(r)
        case Unreadable(cause) =>
          throw new java.io.IOException(
            s"unreadable catalog snapshot ${p.getName} while deriving pin floors — " +
              "the floors cannot be trusted without it", cause)
        case _ => None
      }
    }.flatten

  /** Full pin map of a root — O(members) for grouped roots. */
  private def resolveAll(fs: FileSystem, root: String, r: Root, cache: GroupCache): Map[String, Long] =
    r match {
      case InlineRoot(_, lv) => lv
      case GroupedRoot(seq, _, groups) =>
        groups.toSeq.sortBy(_._1).iterator
          .map { case (gid, f) => groupOrThrow(fs, root, seq, gid, f, cache) }
          .foldLeft(Map.empty[String, Long])(_ ++ _)
    }

  /** One leaf's pin in a root — parses at most ONE group manifest. */
  private def pinIn(fs: FileSystem, root: String, r: Root, leafRel: String, cache: GroupCache): Option[Long] =
    r match {
      case InlineRoot(_, lv) => lv.get(leafRel)
      case GroupedRoot(seq, g, groups) =>
        val gid = groupOf(leafRel, g)
        groups.get(gid).flatMap(f => groupOrThrow(fs, root, seq, gid, f, cache).get(leafRel))
    }

  /** The newest sealed snapshot (None: never published). Torn or
    * garbled snapshot files step down to the previous sealed one.
    * Cheap for grouped catalogs — `leaves` resolves lazily.
    */
  def current(spark: SparkSession, root: String): Option[Snapshot] = {
    val fs = fsFor(spark, root)
    currentRoot(fs, new Path(root)).map(lazySnapshot(fs, root, _))
  }

  /** A specific sealed snapshot — catalog time travel. Lazy like
    * [[current]]: a single-leaf [[readLeafAt]] through a grouped
    * historical root parses root + ONE group, never the full member
    * map (review r18 — the eager form made one-leaf time travel pay
    * O(members) at 10⁵ where the head read path paid O(members/G)).
    * None means the seq is genuinely NOT AVAILABLE (expired, retracted,
    * or a torn never-sealed upload); a transient read failure THROWS
    * instead — collapsing it into None would tell a time-travel caller
    * "that history is gone" during an IO blip (review r19, the same
    * unreadable-is-not-torn asymmetry as the publish guards).
    */
  def snapshotAt(spark: SparkSession, root: String, seq: Long): Option[Snapshot] = {
    val fs = fsFor(spark, root)
    rootState(fs, new Path(s"$root/${snapName(seq)}")) match {
      case SealedAs(r) => Some(lazySnapshot(fs, root, r))
      case Unreadable(cause) =>
        throw new java.io.IOException(
          s"catalog $root: snapshot ${snapName(seq)} is unreadable — not answering 'expired' " +
            "for what may be a transient failure", cause)
      case _ => None
    }
  }

  /** ONE shared group cache behind both faces of a snapshot: pins
    * forced along the way seed the eventual full resolution and vice
    * versa, so interleaved pin/leaves use never re-reads a group. A
    * caller with already-parsed content (publish, whose just-written
    * groups are seeded) passes its own cache.
    */
  private def lazySnapshot(fs: FileSystem, root: String, r: Root, cache: GroupCache = newCache): Snapshot =
    new Snapshot(r.seq, () => resolveAll(fs, root, r, cache), pinIn(fs, root, r, _, cache))

  /** Publish the next snapshot: `updates` (leaf rel → new head seq)
    * merged over the current snapshot's carried-forward pins. The ONE
    * create-only PUT is the cross-leaf commit point; a racer stamping
    * the same seq makes the loser throw [[ConcurrentCommitException]].
    *
    * PINS MOVE FORWARD: publish a leaf only at-or-past the seq the
    * current snapshot pins it at (the compactor always does — its
    * updates are the leaf heads it just committed). The maintenance
    * sweep relies on this: it snapshots [[oldestPins]] ONCE and clamps
    * every leaf's expire horizon against that map, so an external
    * publisher pinning a leaf at an OLDER seq concurrently with a
    * sweep can have its pin expired out from under it (advice r18).
    * Re-pinning history is what [[snapshotAt]] time travel is for.
    *
    * `groups`: Some(G) publishes the two-level form with G group
    * manifests (a migration re-split when the current root is inline
    * or differently-sized); None carries the current root's format
    * forward — inline stays inline, grouped keeps its gcount.
    *
    * An existing-but-UNSEALED `_cat-<seq>.json` at the next name is
    * ambiguous: debris from a writer that died mid-upload, or a live
    * racer still uploading — the two look identical at the moment of
    * collision. Burning the seq on sight (the first cut) silently
    * dropped a slow racer's pins from the chain: the racer would seal
    * later and return success, yet every future snapshot skipped its
    * updates. Two guards close that window (advice r16):
    *
    *   1. bounded re-check — wait up to `debrisWaitMs` for the
    *      colliding file to seal; a racer that seals inside the window
    *      aborts THIS publish with [[ConcurrentCommitException]] (the
    *      caller re-resolves and re-publishes over the racer's pins);
    *   2. post-seal audit, BOTH sides of the race — after sealing,
    *      (a) if any seq this publish skipped past turned out SEALED
    *      (a racer slower than the window), and (b) if a sealed
    *      snapshot ABOVE ours exists that does not incorporate our
    *      pins (a faster publisher burned OUR in-flight seq and moved
    *      on), this publish retracts its own snapshot (best-effort
    *      delete — readers resolve the other chain) and throws. Either
    *      way the racing loser ALWAYS gets the exception, never a
    *      silent pin loss. The burned-seq half only runs when a seq
    *      was actually burned; the skipped-us half costs one root
    *      parse (plus touched groups) per publish — metadata-scale,
    *      and the price of the guarantee.
    *   3. (grouped) post-seal reference audit — every group manifest
    *      the sealed root references must still exist; a concurrent
    *      [[expire]] that outran this publish and GC'd one makes this
    *      publish retract and throw instead of leaving a sealed root
    *      that cannot resolve.
    */
  def publish(
      spark: SparkSession,
      root: String,
      updates: Map[String, Long],
      debrisWaitMs: Long = 1000L,
      groups: Option[Int] = None,
  ): Snapshot =
    publishImpl(spark, root, updates, debrisWaitMs, onSeqBurned = _ => (), groups = groups)

  /** [[publish]] with two test seams for deterministic race
    * interleavings: `onSeqBurned` fires after a seq is classified as
    * debris and burned (before the create at the next); `onCreated`
    * fires after our create lands but BEFORE the body is written — the
    * window in which a faster publisher sees us as unsealed debris.
    */
  private[compact] def publishImpl(
      spark: SparkSession,
      root: String,
      updates: Map[String, Long],
      debrisWaitMs: Long,
      onSeqBurned: Long => Unit,
      onCreated: Long => Unit = _ => (),
      groups: Option[Int] = None,
  ): Snapshot = {
    require(updates.nonEmpty, "a catalog publish must pin at least one leaf")
    // an empty relative path names the catalog root itself, not a
    // member leaf (the decoder skips such a pin, so it would seal and
    // then silently vanish from every resolution)
    updates.keys.foreach(k => require(k.nonEmpty, "a catalog leaf path must be non-empty"))
    val fs = fsFor(spark, root)
    fs.mkdirs(new Path(root))
    val cache = newCache
    val cur = currentRoot(fs, new Path(root))
    val curSeq = cur.map(_.seq).getOrElse(0L)
    val seq0 = curSeq + 1L
    // format selection: an explicit `groups` wins; otherwise the
    // current root's format carries forward
    val targetGroups: Option[Int] = groups.orElse(cur.collect { case g: GroupedRoot => g.gcount })
    targetGroups.foreach(g => require(g > 0, s"catalog group count must be positive: $g"))

    // (root record for a given seq, referenced group files, snapshot builder)
    val (bodyFor, refFiles, mkSnapshot): (Long => Array[Byte], Seq[String], Long => Snapshot) =
      targetGroups match {
        case None =>
          val base = cur.map(r => resolveAll(fs, root, r, cache)).getOrElse(Map.empty) ++ updates
          ((seq: Long) => MetaCodec.encodeInlineRoot(seq, base), Seq.empty,
            (seq: Long) => Snapshot(seq, base))
        case Some(g) =>
          val updByGid = updates.groupBy { case (p, _) => groupOf(p, g) }
          // carried refs + the base pin maps of the groups we rewrite
          val (carried, rewriteBase): (Map[Int, String], Map[Int, Map[String, Long]]) = cur match {
            case Some(gr: GroupedRoot) if gr.gcount == g =>
              // steady state: parse ONLY the groups our updates hash
              // into; reference the rest untouched
              val touched = updByGid.keySet
              val base = touched.iterator.map { gid =>
                gid -> gr.groups.get(gid)
                  .map(f => groupOrThrow(fs, root, gr.seq, gid, f, cache))
                  .getOrElse(Map.empty[String, Long])
              }.toMap
              (gr.groups.view.filterKeys(!touched.contains(_)).toMap, base)
            case other =>
              // migration (fresh catalog, inline current, or a gcount
              // change): one-time O(members) re-split of the full map
              val full = other.map(r => resolveAll(fs, root, r, cache)).getOrElse(Map.empty[String, Long])
              (Map.empty[Int, String], full.groupBy { case (p, _) => groupOf(p, g) })
          }
          val newGroups: Map[Int, (String, Map[String, Long])] =
            (rewriteBase.keySet ++ updByGid.keySet).iterator.map { gid =>
              val merged = rewriteBase.getOrElse(gid, Map.empty) ++ updByGid.getOrElse(gid, Map.empty)
              gid -> ((grpName(seq0, gid), merged))
            }.toMap
          // group manifests land BEFORE the root-create loop: they are
          // invisible content until a sealed root references them (the
          // create below stays the one commit point); a death here
          // leaves unreferenced debris for expire's GC. The writes are
          // independent create-only content with uuid'd names (zero
          // contention), so a MIGRATION's G-manifest burst goes out on
          // a bounded pool — G serial PUTs against an object store was
          // the one-time migration cost ROADMAP 120 priced; the steady
          // state (~1 touched group) stays on the calling thread.
          writeGroups(fs, root, seq0, newGroups, cache)
          val refs: Map[Int, String] = carried ++ newGroups.map { case (gid, (name, _)) => gid -> name }
          ((seq: Long) => MetaCodec.encodeGroupedRoot(seq, g, refs),
            refs.values.toSeq.sorted,
            // reuse the publish's own cache: the just-written groups
            // are seeded, so neither pin nor full resolution re-reads
            (seq: Long) => lazySnapshot(fs, root, GroupedRoot(seq, g, refs), cache))
      }

    var seq = seq0
    var attempts = 0
    while (true) {
      val target = new Path(s"$root/${snapName(seq)}")
      val created =
        try Some(fs.create(target, false))
        catch {
          case e: java.io.IOException =>
            if (!fs.exists(target)) throw e // transient IO stays IO
            // guard 1: give a live racer its upload window before
            // declaring the file dead debris. Classification matters:
            // SEALED aborts us loudly, TORN/ABSENT may be burned, and
            // UNREADABLE must never be burned — the file may be a
            // sealed racer whose pins a burn would silently drop
            // (review r19); re-probe through the window and fail LOUD
            // as IO if it never classifies.
            val deadline = System.nanoTime() + debrisWaitMs * 1000000L
            var st = rootState(fs, target)
            var continue = st match {
              case SealedAs(_) => throw new ConcurrentCommitException(root, seq, "unknown")
              case _           => System.nanoTime() < deadline
            }
            while (continue) {
              Thread.sleep(math.max(1L, math.min(50L, debrisWaitMs)))
              st = rootState(fs, target)
              st match {
                case SealedAs(_) => throw new ConcurrentCommitException(root, seq, "unknown")
                case _           => continue = System.nanoTime() < deadline
              }
            }
            st match {
              case Unreadable(cause) =>
                throw new java.io.IOException(
                  s"catalog $root: colliding snapshot ${target.getName} stayed UNREADABLE through " +
                    "the debris window — it may be a sealed racer, so its seq is not burned; retry",
                  cause)
              case _ => // TornFile or AbsentFile: safe to burn
            }
            attempts += 1
            if (attempts > 64)
              throw new java.io.IOException(
                s"catalog $root: $attempts torn snapshot files in a row starting at " +
                  s"${snapName(seq - attempts + 1)} — reclaim the debris manually")
            onSeqBurned(seq)
            None // torn debris: burn the seq
        }
      created match {
        case Some(out) =>
          onCreated(seq)
          try out.write(bodyFor(seq))
          finally out.close()
          def retract(): Unit =
            try { fs.delete(target, false); () } catch { case _: Throwable => () }
          // guard 3: every group manifest the sealed root references
          // must still exist — a concurrent expire that outran this
          // publish (its GC floor past our embedded seq) would leave a
          // sealed root that cannot resolve; retract and fail loudly
          // instead. ONE root-dir listing answers all G references (a
          // per-file exists would be G metadata round-trips on an
          // object store, per publish).
          if (refFiles.nonEmpty) {
            val present = fs.listStatus(new Path(root))
              .iterator.map(_.getPath.getName).toSet
            refFiles.find(!present.contains(_)).foreach { missing =>
              retract()
              throw new ConcurrentCommitException(
                root, seq, s"referenced group manifest $missing was GC'd mid-publish")
            }
          }
          // guard 2, WINNER side: a burned seq that SEALED after the
          // window is a racer whose pins this snapshot never
          // incorporated — retract ours (readers resolve the racer's)
          // and fail loudly. An UNREADABLE burned seq is the same
          // retract (we cannot certify the burn was safe), surfaced as
          // IO so the caller knows to retry rather than re-resolve.
          if (attempts > 0) {
            ((curSeq + 1L) until seq).foreach { s0 =>
              rootState(fs, new Path(s"$root/${snapName(s0)}")) match {
                case SealedAs(_) =>
                  retract()
                  throw new ConcurrentCommitException(root, s0, "unknown")
                case Unreadable(cause) =>
                  retract()
                  throw new java.io.IOException(
                    s"catalog $root: burned seq $s0 became UNREADABLE before the post-seal audit — " +
                      "cannot certify the burn was safe; this publish retracted itself, retry", cause)
                case _ => ()
              }
            }
          }
          // guard 2, LOSER side (the symmetric half — without it a
          // SLOW writer whose in-flight file a faster publisher burned
          // would seal last, run no audit, and return success while
          // the winner's chain silently dropped its pins): if a sealed
          // snapshot ABOVE ours exists that does not carry every one
          // of our pins at-or-past our seqs, it skipped us — retract
          // ours and throw so the caller re-resolves over the winner.
          // A higher snapshot that DOES incorporate them was built on
          // our chain (or independently observed the same leaf heads):
          // nothing was lost, the publish stands. Narrow resolution:
          // only the groups OUR updates hash into are parsed. The scan
          // walks file states newest-first WITHOUT silently stepping
          // over an UNREADABLE file above us (currentRoot's step-down
          // is a freshness tradeoff for readers; here it could hide
          // the very root that skipped us — e.g. sealed at seq+2 over
          // a burned seq+1 — so unreadable-above retracts and fails
          // as IO instead, review r19).
          val above = rootFilesDesc(fs, new Path(root))
            .filter(p => seqOf(p.getName).exists(_ > seq))
          var highest: Option[Root] = None
          val aboveIt = above.iterator
          while (highest.isEmpty && aboveIt.hasNext) {
            val p = aboveIt.next()
            rootState(fs, p) match {
              case SealedAs(r) => highest = Some(r)
              case Unreadable(cause) =>
                retract()
                throw new java.io.IOException(
                  s"catalog $root: snapshot ${p.getName} above our seq $seq is UNREADABLE during the " +
                    "post-seal audit — cannot rule out that it skipped our pins; this publish " +
                    "retracted itself, retry", cause)
              case _ => () // torn/absent above us: not a sealed chain
            }
          }
          highest.foreach { r2 =>
            val dropped =
              try updates.exists { case (leafRel, s0) =>
                val pin =
                  try pinIn(fs, root, r2, leafRel, cache)
                  catch { case _: IllegalStateException => None } // unresolvable above us: can't verify → treat as dropped
                !pin.exists(_ >= s0)
              }
              catch {
                case e: Throwable => // group read IO failure: can't verify either way
                  retract()
                  throw new java.io.IOException(
                    s"catalog $root: could not verify our pins against snapshot ${r2.seq} during the " +
                      "post-seal audit; this publish retracted itself, retry", e)
              }
            if (dropped) {
              retract()
              throw new ConcurrentCommitException(root, r2.seq, "unknown")
            }
          }
          return mkSnapshot(seq)
        case None => seq += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** A member leaf read THROUGH the catalog pin: old-everything or
    * new-everything across the whole catalog, never a mix. Loud when
    * the leaf is not a member — a silent fall-through to head would
    * defeat the boundary. Parses the root plus at most ONE group
    * manifest.
    */
  def readLeaf(spark: SparkSession, root: String, leafRel: String): DataFrame = {
    val fs = fsFor(spark, root)
    val r = currentRoot(fs, new Path(root))
      .getOrElse(throw new IllegalStateException(s"no sealed catalog snapshot at $root"))
    val pin = pinIn(fs, root, r, leafRel, newCache).getOrElse {
      val members = r match {
        case InlineRoot(_, lv) => s" (members: ${lv.keys.toSeq.sorted.mkString(", ")})"
        case _                 => ""
      }
      throw new IllegalArgumentException(
        s"leaf $leafRel is not a member of catalog $root at seq ${r.seq}$members")
    }
    ManifestCommit.readLeafAt(spark, s"$root/$leafRel", pin)
  }

  /** [[readLeaf]] against an explicit snapshot (time travel). Goes
    * through [[Snapshot.pin]], so a grouped historical root costs one
    * root + ONE group parse — including on the non-member ERROR path
    * (forcing the full map for the error message would stall for
    * seconds at 10⁶ members and could mask this exception with an
    * IllegalStateException on a partially-expired root).
    */
  def readLeafAt(spark: SparkSession, root: String, leafRel: String, snap: Snapshot): DataFrame = {
    val pin = snap.pin(leafRel).getOrElse(
      throw new IllegalArgumentException(
        s"leaf $leafRel is not a member of catalog $root at seq ${snap.seq}"))
    ManifestCommit.readLeafAt(spark, s"$root/$leafRel", pin)
  }

  /** The oldest seq any retained snapshot pins `leafRel` at — the
    * expire horizon: [[ManifestCommit.expireSnapshots]] below this is
    * safe for every catalog reader; above it would break a pinned read.
    * Parses every retained root but at most one group per root; a
    * SWEEP over many leaves wants [[oldestPins]] instead.
    */
  def oldestPin(spark: SparkSession, root: String, leafRel: String): Option[Long] = {
    val fs = fsFor(spark, root)
    val rootPath = new Path(root)
    if (!fs.exists(rootPath)) return None
    val cache = newCache
    // strict roots: this is an expiry-horizon input — an unreadable
    // snapshot must throw, not silently shrink the floor set
    val pins = sealedRootsStrict(fs, rootPath)
      .flatMap(r => pinIn(fs, root, r, leafRel, cache))
    if (pins.isEmpty) None else Some(pins.min)
  }

  /** EVERY member's oldest retained pin in ONE pass over the retained
    * snapshot set — the sweep-scale form (r17 verdict weak component:
    * `oldestPin` called once per leaf re-lists and re-parses every
    * retained snapshot, O(leaves × snapshots × members) driver JSON
    * work under a full-lake sweep). One listing, each root parsed
    * once, each group manifest parsed once even when many roots
    * reference it; equals per-leaf [[oldestPin]] for every member
    * (spec-pinned).
    */
  def oldestPins(spark: SparkSession, root: String): Map[String, Long] = {
    val fs = fsFor(spark, root)
    val rootPath = new Path(root)
    if (!fs.exists(rootPath)) return Map.empty
    // The floor parse is the last O(total retained pins) driver term
    // in the maintenance path (ROADMAP 119). Three bounds keep it
    // flat-ish: the retained ROOT files parse on a bounded pool (the
    // whole cost of the inline format, one small file each when
    // grouped), the DISTINCT group files across all retained roots
    // (immutable, independent content — most roots share most
    // references) parse on the same pool, and the fold below walks
    // each root's group maps directly instead of materializing a full
    // O(members) map per root. Measured at the 10⁶ CatalogBench rung.
    // Strict root reads: floors are an expiry-horizon input, so an
    // unreadable snapshot THROWS (→ FloorsUnavailable upstream, expiry
    // skipped) instead of silently dropping its pins from the map —
    // torn files still step down, and a transient group-read failure
    // throws uncached (cachedGroup) so the next pass can succeed.
    val roots = sealedRootsStrict(fs, rootPath)
    val distinctGroups = roots.flatMap {
      case GroupedRoot(_, _, groups) => groups.values
      case _                         => Seq.empty
    }.distinct
    val cache = newCache
    boundedPar(distinctGroups)(cachedGroup(fs, root, _, cache)) // warm the (thread-safe) memo
    val acc = mutable.Map.empty[String, Long]
    def fold(lv: Map[String, Long]): Unit = lv.foreach { case (leaf, s) =>
      if (!acc.get(leaf).exists(_ <= s)) acc(leaf) = s
    }
    roots.foreach {
      case InlineRoot(_, lv) => fold(lv)
      case GroupedRoot(seq, _, groups) =>
        groups.foreach { case (gid, f) => fold(groupOrThrow(fs, root, seq, gid, f, cache)) }
    }
    acc.toMap
  }

  /** Retire root snapshot files below `keepFrom` (their pinned reads
    * become unavailable — pair with the leaf-side expire horizon),
    * then GC group manifests no RETAINED root references. The
    * embedded-seq floor (`< keepFrom`) keeps an in-flight publisher's
    * just-written, not-yet-referenced groups alive — it targets a
    * root seq past the current head, hence at-or-past any
    * keep-bounded floor; a slow publisher outrun anyway finds the
    * hole in its post-seal reference audit and retracts loudly.
    * A root below `keepFrom` whose DELETE failed is still a sealed,
    * resolvable snapshot — its group references stay protected this
    * pass (both deletions retry next expire).
    * Returns the number of ROOT snapshots removed.
    */
  def expire(spark: SparkSession, root: String, keepFrom: Long): Int = {
    val fs = fsFor(spark, root)
    expireImpl(fs, root, keepFrom,
      deleteRoot = p => try fs.delete(p, false) catch { case _: Throwable => false })
  }

  /** [[expire]] with the root-file delete injectable — the test seam
    * for the delete-failure branch (a local fs won't fail a delete on
    * cue).
    */
  private[compact] def expireImpl(
      fs: FileSystem, root: String, keepFrom: Long, deleteRoot: Path => Boolean,
  ): Int = {
    val rootPath = new Path(root)
    if (!fs.exists(rootPath)) return 0
    val entries = fs.listStatus(rootPath).filter(_.isFile)
    // Reference scan FIRST (over retained roots only), deletes after.
    // "Couldn't READ" and "torn" have opposite safe defaults here: a
    // torn (unsealed) retained file will never seal and rightly
    // contributes no references, but a transient IO failure on a
    // SEALED retained root would silently drop its references from
    // the protection set and this pass would delete group manifests
    // that root still resolves through — permanent catalog damage
    // from a one-off read hiccup (review r18). So read failures make
    // the scan UNKNOWN and the group GC (only) is skipped this pass;
    // root deletion below stays purely name-based and safe.
    var scanComplete = true
    def groupRefsOf(e: org.apache.hadoop.fs.FileStatus): Iterable[String] = {
      val bytes =
        try Some(readBytesIO(fs, e.getPath))
        catch {
          case _: java.io.FileNotFoundException =>
            // GONE is not unreadable: a racer (another expire, a
            // retraction) removed it between the listing and this
            // read — a nonexistent root references nothing and must
            // not poison the scan (a concurrent expire would
            // otherwise permanently skip each other's GC)
            None
          case e: InterruptedException =>
            // an interrupted sweep is not a file state: propagate with
            // the flag re-asserted rather than poisoning the scan
            Thread.currentThread().interrupt()
            throw e
          case scala.util.control.NonFatal(_) =>
            // unreadable ≠ unreferenced: poison the scan
            scanComplete = false
            None
        }
      bytes.flatMap(MetaCodec.decodeRoot) match {
        case Some(GroupedRoot(_, _, groups)) => groups.values
        case _                               => Seq.empty
      }
    }
    val referenced = mutable.Set.empty[String]
    entries.toSeq
      .filter(e => seqOf(e.getPath.getName).exists(_ >= keepFrom))
      .foreach(e => referenced ++= groupRefsOf(e))
    // Root deletes next — and a root < keepFrom that SURVIVED a failed
    // delete is still resolvable, so its group references join the
    // protection set (read it now, post-failure): without this, GC'ing
    // its groups would turn a one-off delete hiccup into a sealed root
    // whose snapshotAt throws instead of returning None (advice r18).
    // An unreadable survivor poisons the scan like any retained root.
    var removed = 0
    entries
      .filter(e => seqOf(e.getPath.getName).exists(_ < keepFrom))
      .foreach { e =>
        if (deleteRoot(e.getPath)) removed += 1
        else referenced ++= groupRefsOf(e)
      }
    if (scanComplete) {
      // unreferenced-group deletes are independent best-effort ops
      // (a failure just leaves debris for the next pass), so a big
      // GC batch — the tail of a migration retiring √N manifests —
      // pools like the other group-file IO
      val gcTargets = entries.toSeq.filter { e =>
        grpSeqOf(e.getPath.getName).exists(_ < keepFrom) &&
          !referenced.contains(e.getPath.getName)
      }
      boundedPar(gcTargets) { e =>
        try { fs.delete(e.getPath, false); () } catch { case _: Throwable => () }
      }
      ()
    } else
      System.err.println(
        s"[catalog] $root: a retained (or delete-surviving) snapshot was unreadable during expire — " +
          "group-manifest GC skipped this pass (retried next expire); root expiry proceeded")
    removed
  }
}
