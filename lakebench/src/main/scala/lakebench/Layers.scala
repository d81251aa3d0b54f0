package lakebench

/** Per-layer metrics from the traced reps' spans and counters. Every
  * workload reports all of them; a layer the workload never calls reads 0.
  */
object Layers {
  import Main.median

  def metrics(tr: Tracer, reps: Set[Int], scanSpan: String): Seq[(String, Double, String)] = {
    val repIds = reps.toSeq.sorted
    def spans(name: String) = tr.spans.filter(s => reps(s.rep) && s.name == name).toSeq
    /** Median over reps of a per-rep total over the spans named `name`. */
    def perRep(name: String)(f: Span => Double): Double = {
      val ss = spans(name)
      median(repIds.map(r => ss.filter(_.rep == r).map(f).sum))
    }
    /** Median over every call named `name`. */
    def perCall(name: String)(f: Span => Double): Double = median(spans(name).map(f))
    def counter(key: String): Seq[Double] = repIds.map(r => tr.counters.getOrElse((r, key), 0.0))
    def ratio(num: String, den: String): Double = {
      val d = counter(den).sum
      if (d == 0) 0.0 else counter(num).sum / d
    }
    val mb = 1048576.0
    val rb = "Compactor.runBatch"
    val mc = "ManifestCommit"
    val ms = "ManifestStats"
    Seq(
      ("FileIndexer.list_ms", perRep("FileIndexer.list")(_.seconds) * 1e3, "ms"),
      ("FileIndexer.files_listed", median(counter("FileIndexer.files_listed")), "count"),
      ("FileIndexer.jobs", perRep("FileIndexer.list")(_.counts.jobs.toDouble), "count"),
      ("FileIndexer.tasks", perRep("FileIndexer.list")(_.counts.tasks.toDouble), "count"),
      ("Planner.plan_ms", perRep("Planner.plan")(_.seconds) * 1e3, "ms"),
      ("Planner.groups", median(counter("Planner.groups")), "count"),
      ("Planner.selected_per_listed", ratio("Planner.files_selected", "FileIndexer.files_listed"), "ratio"),
      ("Planner.jobs", perRep("Planner.plan")(_.counts.jobs.toDouble), "count"),
      (s"${rb}_s", perRep(rb)(_.seconds), "s"),
      (s"$rb.jobs", perRep(rb)(_.counts.jobs.toDouble), "count"),
      (s"$rb.stages", perRep(rb)(_.counts.stages.toDouble), "count"),
      (s"$rb.tasks", perRep(rb)(_.counts.tasks.toDouble), "count"),
      (s"$rb.stage_covered_s", perRep(rb)(_.coveredS), "s"),
      (s"$rb.driver_gap_s", perRep(rb)(_.gapS), "s"),
      (s"$rb.task_s", perRep(rb)(_.counts.taskMs / 1e3), "s"),
      (s"$rb.input_mb", perRep(rb)(_.counts.inputBytes / mb), "MB"),
      (s"$rb.output_mb", perRep(rb)(_.counts.outputBytes / mb), "MB"),
      (s"$rb.shuffle_mb", perRep(rb)(_.counts.shuffleBytes / mb), "MB"),
      (s"$rb.spill_mb", perRep(rb)(_.counts.spillBytes / mb), "MB"),
      ("scan.jobs", perRep(scanSpan)(_.counts.jobs.toDouble), "count"),
      ("scan.stage_covered_s", perRep(scanSpan)(_.coveredS), "s"),
      ("scan.driver_gap_s", perRep(scanSpan)(_.gapS), "s"),
      (s"$mc.liveFiles_ms", perCall(s"$mc.liveFiles")(_.seconds) * 1e3, "ms"),
      (s"$mc.manifests_per_leaf", ratio(s"$mc.manifests", "leaves"), "count"),
      (s"$mc.live_files_per_leaf", ratio(s"$mc.live_files", "leaves"), "count"),
      (s"$mc.live_deletes_per_leaf", ratio(s"$mc.live_deletes", "leaves"), "count"),
      (s"$mc.deleteWhereMoR_ms", perCall(s"$mc.deleteWhereMoR")(_.seconds) * 1e3, "ms"),
      (s"$mc.deleteWhereMoR.jobs", perCall(s"$mc.deleteWhereMoR")(_.counts.jobs.toDouble), "count"),
      (s"$mc.readLeaf_ms", perCall(s"$mc.readLeaf")(_.seconds) * 1e3, "ms"),
      (s"$mc.readLeaf.jobs", perCall(s"$mc.readLeaf")(_.counts.jobs.toDouble), "count"),
      (s"$ms.readLeafEquals_ms", perCall(s"$ms.readLeafEquals")(_.seconds) * 1e3, "ms"),
      (s"$ms.readLeafEquals.kept_per_live", ratio(s"$ms.readLeafEquals.kept", s"$ms.readLeafEquals.live"), "ratio"),
      (s"$ms.readLeafEquals.jobs", perCall(s"$ms.readLeafEquals")(_.counts.jobs.toDouble), "count"),
      (s"$ms.readLeafWhere_ms", perCall(s"$ms.readLeafWhere")(_.seconds) * 1e3, "ms"),
      (s"$ms.readLeafWhere.kept_per_live", ratio(s"$ms.readLeafWhere.kept", s"$ms.readLeafWhere.live"), "ratio"),
      (s"$ms.readLeafWhere.jobs", perCall(s"$ms.readLeafWhere")(_.counts.jobs.toDouble), "count"),
      ("Compactor.maintainAll_ms", perRep("Compactor.maintainAll")(_.seconds) * 1e3, "ms"),
      ("Compactor.maintainAll.jobs", perRep("Compactor.maintainAll")(_.counts.jobs.toDouble), "count"),
      ("Compactor.maintainAll.leaves_swept", median(counter("Compactor.maintainAll.leaves_swept")), "count"),
      ("Compactor.maintainAll.sidecars_consolidated", median(counter("Compactor.maintainAll.sidecars_consolidated")), "count"),
    )
  }
}
