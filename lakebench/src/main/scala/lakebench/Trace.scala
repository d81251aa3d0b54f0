package lakebench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark-side work counted by [[Probe]], cumulative since it was added. */
final case class Counts(
    jobs: Long = 0,
    stages: Long = 0,
    tasks: Long = 0,
    taskMs: Long = 0,
    inputBytes: Long = 0,
    outputBytes: Long = 0,
    shuffleBytes: Long = 0,
    spillBytes: Long = 0,
) {
  def -(o: Counts): Counts = Counts(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks, taskMs - o.taskMs,
    inputBytes - o.inputBytes, outputBytes - o.outputBytes,
    shuffleBytes - o.shuffleBytes, spillBytes - o.spillBytes,
  )
}

/** Listener for the traced run: job/stage/task counts, stage byte
  * totals and the wall-clock window of every completed stage.
  */
final class Probe extends SparkListener {
  private var c = Counts()
  private val windows = mutable.ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    c = c.copy(jobs = c.jobs + 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val m = si.taskMetrics
    c = c.copy(
      stages = c.stages + 1,
      tasks = c.tasks + si.numTasks,
      taskMs = c.taskMs + (if (m == null) 0L else m.executorRunTime),
      inputBytes = c.inputBytes + (if (m == null) 0L else m.inputMetrics.bytesRead),
      outputBytes = c.outputBytes + (if (m == null) 0L else m.outputMetrics.bytesWritten),
      shuffleBytes = c.shuffleBytes + (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten),
      spillBytes = c.spillBytes + (if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled),
    )
    for (s <- si.submissionTime; t <- si.completionTime) windows += ((s, t))
  }

  def counts: Counts = synchronized(c)
  def nWindows: Int = synchronized(windows.size)
  def windowsFrom(i: Int): Seq[(Long, Long)] = synchronized(windows.drop(i).toSeq)
}

/** One traced call: wall time, the Spark work it caused, and how much of
  * its wall time some stage was running (the rest is driver-side gap).
  */
final case class Span(rep: Int, name: String, seconds: Double, counts: Counts, coveredS: Double) {
  def gapS: Double = math.max(0.0, seconds - coveredS)
}

/** Spans around calls into the program's public functions. Off, a span
  * is just the call. On, it drains the listener bus on both sides so the
  * counts belong to that call alone; that drain is the tracing overhead.
  */
final class Tracer(spark: SparkSession, val on: Boolean) {
  private val probe = new Probe
  if (on) spark.sparkContext.addSparkListener(probe)
  val spans = mutable.ArrayBuffer.empty[Span]
  /** Per-rep counters set by the workloads (files listed, groups, ...). */
  val counters = mutable.LinkedHashMap.empty[(Int, String), Double]
  var rep = 0
  var tracing = false

  def span[T](name: String)(body: => T): T =
    if (!tracing) body
    else {
      val sc = spark.sparkContext
      org.apache.spark.lakebench.Bus.drain(sc)
      val c0 = probe.counts
      val w0 = probe.nWindows
      val m0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val r = body
      val t1 = System.nanoTime()
      val m1 = System.currentTimeMillis()
      org.apache.spark.lakebench.Bus.drain(sc)
      val covered = Tracer.coveredMs(probe.windowsFrom(w0), m0, m1)
      spans += Span(rep, name, (t1 - t0) / 1e9, probe.counts - c0, covered / 1e3)
      r
    }

  def count(key: String, v: Double): Unit =
    if (tracing) counters((rep, key)) = counters.getOrElse((rep, key), 0.0) + v
}

object Tracer {
  /** Length of the union of `windows` clipped to [from, to]. */
  def coveredMs(windows: Seq[(Long, Long)], from: Long, to: Long): Double = {
    val clipped = windows.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = -1L
    var curE = -1L
    clipped.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }
}

/** Host and JVM readings taken around every rep. */
object Host {
  private val clkTck = 100.0

  /** Cumulative steal time of all CPUs, from /proc/stat; 0 where absent. */
  def stealS(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+")
        if (f.length > 8) f(8).toLong / clkTck else 0.0
      } finally src.close()
    } catch { case _: Exception => 0.0 }

  /** CPU time of every thread of this JVM. The kernel leaves out the time
    * the host stole from the guest's CPUs.
    */
  def cpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9

  /** Runs `body` and returns its result, its wall time with the host's
    * steal taken out, and its raw wall time. The guest runs nothing but this
    * JVM, so the steal of the interval fell on its threads: of the CPU time
    * they asked for (CPU + steal) they got only the CPU part, and the wall
    * time is scaled by that share. With no steal it is the wall time.
    */
  def timed[T](body: => T): (T, Double, Double) = {
    val c0 = cpuS()
    val s0 = stealS()
    val t0 = System.nanoTime()
    val r = body
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = cpuS() - c0
    val steal = stealS() - s0
    (r, if (cpu + steal > 0) wall * cpu / (cpu + steal) else wall, wall)
  }

  def gcS(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  /** Heap still in use after the latest collection of each pool: the live set. */
  def liveHeapMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage))
      .map(_.getUsed).sum / 1048576.0
}
