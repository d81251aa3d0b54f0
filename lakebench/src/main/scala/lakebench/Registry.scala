package lakebench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry

/** Passes over a few queries of the program's registry
  * (`SparkEntry.queries`) on a seeded `lineitem` table of sf0.1 size: one
  * file of 600k rows, as in the repository's fixture. Each query is timed
  * to the end of a `noop` write, as `graft.Bench` times it, in its own
  * span. Every pass checks each result, as a row bag, against the query's
  * oracle SQL run through Spark SQL on the same table.
  *
  * The queries are the registry's lineitem-only ones of three shapes: the
  * scan+aggregate flagship, a shuffle-heavy distinct count, and a sort with
  * a limit. Queries over other tables wait for a generator of those tables.
  */
final class Registry(spark: SparkSession, work: File, seed: Long, cores: Int) {
  import Registry._

  private val dir = new File(work, "tables")
  private val phases = new Phases

  def generate(): Unit = {
    Fsx.rm(dir)
    val table = new File(dir, "lineitem.parquet")
    Gen.write(spark, Seq(Gen.FileSpec(0, 0, 0, table, 0L, TableRows, Gen.epochMs(Gen.AsOf))), seed,
      new File(work, "stage-tables"), cores)
    spark.read.parquet(table.getAbsolutePath).createOrReplaceTempView("lineitem")
  }

  /** One pass over [[Queries]]; traced if `tr` is tracing. */
  def pass(tr: Tracer, rec: Rec): Unit = {
    val d = dir.getAbsolutePath
    Queries.foreach { q =>
      rec.op(s"query $q") {
        val df = tr.span(s"q.$q") {
          phases.clear()
          val df = SparkEntry.queries(q)(spark, d)
          df.write.mode("overwrite").format("noop").save()
          df
        }
        if (tr.tracing) {
          // the query's own analysis ran eagerly when it was built, outside the write's actions
          phases.add(df.queryExecution)
          phases.taken.foreach { case (k, ms) => tr.count(s"q.$q.${k}_ms", ms) }
        }
        val got = bag(SparkEntry.queries(q)(spark, d))
        val want = bag(spark.sql(SparkEntry.oracleSql(q)))
        got == want || rec.fail(s"query $q: ${got.size} rows, oracle ${want.size}, first differing " +
          got.diff(want).headOption.getOrElse("-"))
      }
    }
  }

  def open(): Unit = spark.listenerManager.register(phases)
  def close(): Unit = spark.listenerManager.unregister(phases)
}

object Registry {
  val Queries: Seq[String] = Seq("agg_group_sum", "agg_distinct", "sort_limit_topk")
  val TableRows = 600000L
  val WarmPasses = 1
  val Passes = 2
  val PhaseNames: Seq[String] = Seq("analysis", "optimization", "planning")

  /** The result as a sorted bag of rows, each row as text. */
  def bag(df: DataFrame): Seq[String] = df.collect().toSeq.map(_.toSeq.mkString("|")).sorted

  /** Warm-up passes untraced, then [[Passes]] traced ones, each its own rep. */
  def run(spark: SparkSession, work: File, seed: Long, cores: Int, tr: Tracer, rec: Rec): Unit = {
    val r = new Registry(spark, work, seed, cores)
    r.generate()
    r.open()
    try {
      (1 to WarmPasses).foreach(_ => r.pass(tr, rec))
      (1 to Passes).foreach { _ =>
        tr.rep += 1
        tr.tracing = true
        try r.pass(tr, rec)
        finally tr.tracing = false
      }
    } finally r.close()
  }

  /** Per-query metrics, medians over the traced passes; 0 where none ran. */
  def metrics(tr: Tracer): Seq[(String, Double, String)] = {
    val mb = 1048576.0
    Queries.flatMap { q =>
      val name = s"q.$q"
      val ss = tr.spans.filter(_.name == name).toSeq
      def med(f: Span => Double) = Main.median(ss.map(f))
      def phase(p: String) = Main.median(ss.map(s => tr.counters.getOrElse((s.rep, s"$name.${p}_ms"), 0.0)))
      Seq((s"$name.s", med(_.seconds), "s")) ++
        PhaseNames.map(p => (s"$name.${p}_ms", phase(p), "ms")) ++ Seq(
          (s"$name.jobs", med(_.counts.jobs.toDouble), "count"),
          (s"$name.stages", med(_.counts.stages.toDouble), "count"),
          (s"$name.stage_covered_s", med(_.coveredS), "s"),
          (s"$name.driver_gap_s", med(_.gapS), "s"),
          (s"$name.shuffle_mb", med(_.counts.shuffleBytes / mb), "MB"),
          (s"$name.spill_mb", med(_.counts.spillBytes / mb), "MB"),
        )
    }
  }
}

/** Catalyst phase times (`queryExecution.tracker`) of every action since
  * the last `clear`, summed by phase.
  */
final class Phases extends QueryExecutionListener {
  private val ms = mutable.LinkedHashMap.empty[String, Double]

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)

  def add(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (p, s) =>
      if (Registry.PhaseNames.contains(p)) ms(p) = ms.getOrElse(p, 0.0) + s.durationMs
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def clear(): Unit = synchronized(ms.clear())

  /** Every phase, 0 where none was seen. */
  def taken: Seq[(String, Double)] = synchronized(Registry.PhaseNames.map(p => p -> ms.getOrElse(p, 0.0)))
}
