package graft.compact

import java.util.UUID
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Every Spark job a block of code submits, for job-shape assertions. */
object JobLog {

  /** `sqlExecution`: the job ran inside a SQL execution (a scan, a write,
    * a broadcast). File listing and parquet schema inference run outside
    * one, from the analyzer.
    */
  final case class Job(description: String, sqlExecution: Boolean, tasks: Int)

  def of[T](spark: SparkSession)(body: => T): (T, Seq[Job]) = {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[Job]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
        seen.add(Job(
          prop("spark.job.description").getOrElse(""),
          prop("spark.sql.execution.id").nonEmpty,
          e.stageInfos.map(_.numTasks).sum,
        ))
        ()
      }
    }
    val marker = s"joblog-end-${UUID.randomUUID()}"
    sc.addSparkListener(listener)
    try {
      val out = body
      // the bus delivers events in order: once the marker job's start has
      // arrived, so has the start of every job the body submitted
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!seen.asScala.exists(_.description == marker) && System.nanoTime() < deadline) Thread.sleep(20)
      (out, seen.asScala.toSeq.takeWhile(_.description != marker))
    } finally sc.removeSparkListener(listener)
  }
}
