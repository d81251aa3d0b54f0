package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: only dump queries whose name contains the filter
    // (local iteration aid; the driver always calls with exactly 2 args)
    val (sfDir, outDir, nameFilter) = args match {
      case Array(s, o)    => (s, o, "")
      case Array(s, o, f) => (s, o, f)
      case _ => sys.error("usage: graft.Verify <sfDir> <outDir> [nameFilter]")
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(_._1.contains(nameFilter)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // a stale dump from a previous run into the same outDir must not
        // masquerade as this run's result
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
          f.delete(); ()
        }
        rm(new java.io.File(s"$outDir/$name"))
      }
    }
    // a tab or CR in builder-authored SQL must not break the driver's
    // json.load of this file (Bench.jstr escapes every control char)
    def q(s: String): String = "\"" + Bench.jstr(s) + "\""
    val json = SparkEntry.oracleSql.filter(_._1.contains(nameFilter))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
