package lakebench

import java.io.{File, PrintWriter}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one process, one driver thread, one workload.
  *
  * Set-up starts the session and builds the seeded fixture `SetupRounds`
  * times from nothing. `WarmReps` untimed warm-up reps follow, then the
  * measured reps, each from the restored pristine state. The rep counts
  * depend on `--seconds` alone, never on how fast the host is, so every
  * run takes its medians over the same rep positions: `--seconds` /
  * `NominalRepS` measured reps, rounded, and at least `MinReps`. With
  * `--trace 1` the measured reps alternate traced and untraced,
  * `MinTraceReps` of each kind; the per-layer metrics come from the traced
  * ones, and the untraced ones between them give the tracing overhead.
  * A traced run ends with the workload's context work (for `nightly`, the
  * reference compactor and the registry query passes).
  *
  * Writes the result object to `--out` and a detail artifact (every rep,
  * every span, host and JVM readings) to `--detail`.
  */
object Main {
  val SetupRounds = 3
  val WarmReps = 2
  val MinReps = 3
  val MinTraceReps = 2
  val NominalRepS = 3.0

  val E2E: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "rep_s" -> "s", "compact_s" -> "s", "scan_s" -> "s",
    "files_out_per_in" -> "ratio", "bytes_out_per_in" -> "ratio",
  )

  final case class RepRun(rec: Rec, traced: Boolean, id: Int, stealS: Double, gcS: Double, wallS: Double, liveHeapMb: Double)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val work = new File(a("work"))
    val root = new File(a("root"))

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"lakebench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = secondsSince(t0)
    try run(spark, workload, seed, seconds, trace, cores, work, root, sessionS, a)
    finally spark.stop()
    System.err.println(f"[lakebench] done ${secondsSince(t0)}%.1f s after the session began")
  }

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The highest of the usual percentiles with at least ten samples beyond it. */
  def highPercentile(xs: Seq[Double]): Option[(Int, Double)] =
    Seq(99, 95, 90, 75, 50).find(p => xs.size * (100 - p) / 100.0 >= 10).map { p =>
      val s = xs.sorted
      p -> s(math.min(s.size - 1, math.ceil(p / 100.0 * s.size).toInt - 1))
    }

  private def run(
      spark: SparkSession, workload: String, seed: Long, seconds: Double, trace: Boolean,
      cores: Int, work: File, root: File, sessionS: Double, a: Map[String, String],
  ): Unit = {
    val w: Workload = workload match {
      case "nightly"   => new Nightly(spark, work, seed, cores, root)
      case "lakehouse" => new Lakehouse(spark, work, seed, cores)
      case other       => sys.error(s"unknown workload $other")
    }
    // a traced run reports no setup_s, so it builds its fixture once
    val fixture = (1 to (if (trace) 1 else SetupRounds)).map(_ => Host.timed(w.generate()))
    val fixtureS = fixture.map(_._2)
    if (a.get("corrupt").contains("1")) w.corrupt()
    val setupS = sessionS + median(fixtureS)

    val tr = new Tracer(spark, on = trace)
    val runs = mutable.ArrayBuffer.empty[RepRun]
    def rep(traced: Boolean): RepRun = {
      w.restore()
      tr.rep += 1
      tr.tracing = traced
      val s0 = Host.stealS()
      val g0 = Host.gcS()
      val rec = new Rec
      val t = System.nanoTime()
      try w.rep(tr, rec)
      catch { case e: Throwable => rec.attempted += 1; rec.failed += 1; rec.problems += s"rep threw $e" }
      finally tr.tracing = false
      val r = RepRun(rec, traced, tr.rep, Host.stealS() - s0, Host.gcS() - g0, secondsSince(t), Host.liveHeapMb())
      runs += r
      r
    }

    val w0 = System.nanoTime()
    (1 to WarmReps).foreach(_ => rep(traced = false))
    val warmupS = secondsSince(w0)

    val nReps = math.max(MinReps, math.round(seconds / NominalRepS).toInt)
    (0 until (if (trace) 2 * MinTraceReps else nReps)).foreach(k => rep(traced = trace && k % 2 == 0))
    val measured = runs.drop(WarmReps).toSeq
    val plain = measured.filterNot(_.traced)
    val traced = measured.filter(_.traced)
    val ctxRec = new Rec
    val c0 = System.nanoTime()
    val context = if (trace) w.context(tr, ctxRec) else Map.empty[String, Double]
    val contextS = secondsSince(c0)

    val recs = runs.map(_.rec) :+ ctxRec
    val attempted = recs.map(_.attempted).sum
    val failed = recs.map(_.failed).sum
    val problems = recs.flatMap(_.problems)
    def per(rs: Seq[RepRun], key: String): Seq[Double] =
      rs.map(r => if (key == "rep_s") r.rec.repS else r.rec.values.getOrElse(key, 0.0))
    def calls(rs: Seq[RepRun], key: String): Seq[Double] = rs.flatMap(_.rec.calls.getOrElse(key, Nil))

    val metrics: Seq[(String, Double, String)] =
      if (!trace)
        E2E.map { case (n, u) => (n, if (n == "setup_s") setupS else median(per(plain, n)), u) }
      else
        Layers.metrics(tr, traced.map(_.id).toSet, w.scanSpan) ++ Registry.metrics(tr) ++ Seq(
          ("commit_ms", median(calls(plain, "commit_ms")), "ms"),
          ("point_ms", median(calls(plain, "point_ms")), "ms"),
          ("range_ms", median(calls(plain, "range_ms")), "ms"),
          ("sweep_s", median(per(plain, "sweep_s")), "s"),
          ("failed_share", failed.toDouble / math.max(1, attempted), "share"),
          ("trace.overhead_s", median(per(traced, "rep_s")) - median(per(plain, "rep_s")), "s"),
          ("ref_compact_s", context.getOrElse("ref_compact_s", 0.0), "s"),
          ("jvm.gc_s", median(measured.map(_.gcS)), "s"),
          ("jvm.heap_peak_mb", measured.map(_.liveHeapMb).max, "MB"),
          ("jvm.warmup_s", warmupS, "s"),
          ("host.steal_s", measured.map(_.stealS).sum, "s"),
        )

    val result = Json.obj(Seq(
      "correct" -> Json.bool(failed == 0 && attempted > 0),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }),
    ))
    write(new File(a("out")), result)

    def dist(xs: Seq[Double]): String = {
      val hp = highPercentile(xs)
      Json.obj(Seq(
        "n" -> xs.size.toString, "median" -> Json.num(median(xs)),
        "high_percentile" -> hp.fold("null")(p => Json.num(p._1.toDouble)),
        "high_value" -> hp.fold("null")(p => Json.num(p._2)),
      ))
    }
    val timings = E2E.map(_._1).filter(_ != "setup_s").map(n => n -> dist(per(plain, n))) ++
      Seq("commit_ms", "point_ms", "range_ms").map(n => n -> dist(calls(plain, n))) :+
      ("sweep_s" -> dist(per(plain, "sweep_s")))
    val detail = Json.obj(Seq(
      "workload" -> Json.str(workload), "seed" -> seed.toString, "seconds" -> Json.num(seconds),
      "trace" -> Json.bool(trace), "cores" -> cores.toString,
      "session_s" -> Json.num(sessionS), "fixture_s" -> Json.arr(fixtureS.map(Json.num)),
      "fixture_wall_s" -> Json.arr(fixture.map(f => Json.num(f._3))),
      "warmup_reps" -> WarmReps.toString, "warmup_s" -> Json.num(warmupS), "context_s" -> Json.num(contextS),
      "fixture" -> Json.obj(w.shape.toSeq.map { case (k2, v) => k2 -> Json.num(v) }),
      "timings" -> Json.obj(timings),
      "problems" -> Json.arr(problems.take(50).map(Json.str).toSeq),
      "reps" -> Json.arr(runs.toSeq.zipWithIndex.map { case (r, i) =>
        Json.obj(Seq(
          "id" -> r.id.toString, "warmup" -> Json.bool(i < WarmReps), "traced" -> Json.bool(r.traced),
          "rep_s" -> Json.num(r.rec.repS), "rep_wall_s" -> Json.num(r.rec.repWallS), "wall_s" -> Json.num(r.wallS),
          "steal_s" -> Json.num(r.stealS), "gc_s" -> Json.num(r.gcS), "live_heap_mb" -> Json.num(r.liveHeapMb),
          "values" -> Json.obj(r.rec.values.toSeq.map { case (k2, v) => k2 -> Json.num(v) }),
          "wall" -> Json.obj(r.rec.wall.toSeq.map { case (k2, v) => k2 -> Json.num(v) }),
          "calls" -> Json.obj(r.rec.calls.toSeq.map { case (k2, v) => k2 -> Json.arr(v.toSeq.map(Json.num)) }),
        ))
      }),
      "spans" -> Json.arr(tr.spans.toSeq.map { s =>
        Json.obj(Seq(
          "rep" -> s.rep.toString, "name" -> Json.str(s.name), "s" -> Json.num(s.seconds),
          "covered_s" -> Json.num(s.coveredS), "jobs" -> s.counts.jobs.toString,
          "stages" -> s.counts.stages.toString, "tasks" -> s.counts.tasks.toString,
        ))
      }),
      "metrics" -> Json.obj(metrics.map { case (n, v, _) => n -> Json.num(v) }),
    ))
    write(new File(a("detail")), detail)
    problems.take(10).foreach(p => System.err.println(s"[lakebench] check failed: $p"))
  }

  private def write(f: File, s: String): Unit = {
    f.getParentFile.mkdirs()
    val pw = new PrintWriter(f, "UTF-8")
    try pw.println(s)
    finally pw.close()
  }
}

/** Just enough JSON writing for the result and the detail artifact. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"'           => "\\\""
      case '\\'          => "\\\\"
      case c if c < ' '  => f"\\u${c.toInt}%04x"
      case c             => c.toString
    } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def bool(b: Boolean): String = b.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
