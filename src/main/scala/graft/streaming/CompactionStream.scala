package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.compact.{Compactor, CompactorConfig, FileMeta}

/** Continuous compaction: the cron model (reference `pr_check`/CronJob,
  * parquet_compactor.py:295-328 re-crawls everything daily) replaced by a
  * Structured Streaming loop that reacts to file arrivals.
  *
  * `readStream` on [[graft.sources.FileMetaSource]] emits, per trigger,
  * the files whose mtime falls in the new offset window. Each micro-batch
  * then:
  *   1. reduces the new files to the DISTINCT LEAVES they touched
  *      (collected to the driver — bounded by leaves-per-trigger, not
  *      files; a leaf path is ~100 bytes),
  *   2. re-lists JUST those leaves inside Spark tasks (never the whole
  *      root — that's the point: a 10⁶-leaf store re-plans only what
  *      changed),
  *   3. feeds the listing through the normal Planner → BatchMerger/Merger
  *      pipeline ([[Compactor.runOnFiles]]), inheriting every eligibility
  *      rule (freshness, volatile skip, ≥2 gate) and the staged-commit
  *      protocol.
  *
  * Delivery is at-least-once (restart re-claims the uncommitted window);
  * planning is idempotent — a redelivered file either still matches the
  * eligibility rules (re-planned, converges) or no longer exists /
  * is already compacted (dropped by the fresh leaf listing). Compacted
  * outputs written by a previous batch surface as "new files" in the
  * next window; their leaves re-plan to the ≥2-files gate and no-op.
  */
object CompactionStream {

  /** Start the trigger. `onBatch` (optional) observes each batch's
    * results — tests use it; production would log/metric it.
    *
    * The freshness gate and arrival-driven planning interact: a file seen
    * the moment it arrives is by definition FRESHER than
    * `freshnessDays`, so planning the leaf right away would (correctly)
    * select nothing — and the mtime-window source never re-emits the
    * file. The trigger therefore keeps a driver-side schedule of dirty
    * leaves: an arrival books its leaf for re-planning at
    * `max(file mtime) + freshnessDays`, and every micro-batch processes
    * the leaves that have come due (immediately, when freshnessDays=0).
    * The schedule keeps at most `maxTrackedLeaves` entries resident (the
    * soonest-due window; overflow spills to the snapshot, see
    * [[DueSchedule]]) and is PERSISTED next to the checkpoint
    * (`graft-due-schedule`, atomic tmp+rename, rewritten only when it
    * changes): a restart reloads the
    * booked leaves, so a last-write-then-quiet leaf booked before a
    * crash still compacts when it comes due — the mtime-window source
    * never re-emits old files, so without the snapshot it would wait
    * for an arrival that never comes. The snapshot is best-effort (a
    * failed write logs and continues); `catchUpOnStart=true` (one full
    * batch compaction on start) remains the belt-and-braces recovery
    * when the snapshot itself was lost.
    */
  def start(
      spark: SparkSession,
      root: String,
      cfg: CompactorConfig,
      trigger: Trigger,
      checkpointDir: String,
      onBatch: Seq[graft.compact.LeafResult] => Unit = _ => (),
      catchUpOnStart: Boolean = false,
      // Backpressure: at most this many due leaves compact per planning
      // slice; under a continuous trigger the rest stay booked and drain
      // on subsequent triggers, bounding batch latency under a backfill
      // storm. One-shot triggers (Once/AvailableNow) drain ALL due
      // leaves before the batch ends — the in-memory schedule would
      // otherwise strand them when the query stops.
      maxLeavesPerBatch: Int = 4096,
      // Driver-memory bound: at most this many booked leaves stay
      // resident (the soonest-due window); the rest spill to the
      // persisted schedule and are pulled back as the window drains.
      // ~100 bytes per resident entry -> the default holds a 10 MB
      // ceiling no matter how many leaves the store has.
      maxTrackedLeaves: Int = 100000,
  ): StreamingQuery = {
    require(maxLeavesPerBatch >= 1, s"maxLeavesPerBatch must be >= 1, got $maxLeavesPerBatch")
    val oneShot = trigger.getClass.getName.matches(".*(OneTime|AvailableNow).*")
    val confBc = spark.sparkContext.broadcast(
      {
        import scala.jdk.CollectionConverters._
        spark.sparkContext.hadoopConfiguration
          .iterator().asScala.map(e => e.getKey -> e.getValue).toArray
      },
    )
    if (catchUpOnStart) onBatch(Compactor.run(spark, root, cfg))
    // Dirty-leaf schedule: leaf -> epoch ms at which its newest known
    // file clears the freshness gate. Mirrors Planner.staleNew's exact
    // day arithmetic (UTC epoch-day compare, strict <): with a moving
    // asOf the file's day must END and freshnessDays more must pass;
    // with a pinned asOf eligibility is time-independent — due now or
    // never. Bounded resident footprint: [[DueSchedule]] keeps only the
    // maxTrackedLeaves soonest-due entries in driver memory and spills
    // the rest to the persisted snapshot, change-tracked so continuous
    // triggers don't rewrite an unchanged file.
    val scheduleFile = new Path(checkpointDir, scheduleFileName)
    val scheduleFs = scheduleFile.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sched = new DueSchedule(scheduleFs, scheduleFile, maxTrackedLeaves)
    def dueMsOf(mtimeMs: Long): Option[Long] = {
      val mtimeDay = mtimeMs / 86400000L
      cfg.asOf match {
        case Some(d) =>
          if (mtimeDay < d.toEpochDay - cfg.freshnessDays) Some(0L) else None
        case None =>
          Some((mtimeDay + cfg.freshnessDays + 1) * 86400000L)
      }
    }
    spark.readStream
      .format("graft.sources.FileMetaSource")
      .load(root)
      .writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val arrivals = batch
          .where(col("path").endsWith(".parquet"))
          .where(!col("path").contains("/.staging-"))
          .groupBy(regexp_replace(col("path"), "/[^/]*$", "").as("leaf"))
          .agg(max(col("mtimeMs")).as("maxMtime"))
          .collect()
          .map(r => (r.getString(0), r.getLong(1)))
        arrivals.foreach { case (leaf, maxMtime) =>
          dueMsOf(maxMtime).foreach(sched.book(leaf, _))
        }
        val now = System.currentTimeMillis()
        // oldest-due first under the cap, so a storm drains fairly
        var ready = sched.takeReady(now, maxLeavesPerBatch)
        while (ready.nonEmpty) {
          val results = Compactor.runOnFiles(spark, listLeaves(spark, ready, confBc), cfg)
          onBatch(results)
          ready = if (oneShot) sched.takeReady(now, maxLeavesPerBatch) else Seq.empty
        }
        sched.flush()
      }
      .start()
  }

  private[streaming] val scheduleFileName = "graft-due-schedule"

  /** Fresh listing of exactly these leaf dirs, one task per leaf —
    * micro-batch rows are file *events*; planning needs current truth.
    */
  private def listLeaves(
      spark: SparkSession,
      leaves: Seq[String],
      confBc: org.apache.spark.broadcast.Broadcast[Array[(String, String)]],
  ): org.apache.spark.sql.Dataset[FileMeta] = {
    import spark.implicits._
    spark
      .createDataset(leaves)
      .repartition(math.min(leaves.size, spark.sparkContext.defaultParallelism))
      .flatMap { leaf =>
        val conf = new Configuration(false)
        confBc.value.foreach { case (k, v) => conf.set(k, v) }
        val p = new Path(leaf)
        val fs = p.getFileSystem(conf)
        // vanish-tolerant walk: a concurrent commit may delete originals
        // between the dir scan and the stat
        graft.sources.SafeListing.walk(fs, p)
          .map(f => FileMeta(f.getPath.toString, f.getLen, f.getModificationTime))
          .toList
          .iterator
      }
  }
}
