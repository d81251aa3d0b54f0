package lakebench

import java.io.File
import java.time.{LocalDate, ZoneOffset}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded rows of the repository's `lineitem` fixture (FIXTURES.md: the
  * same 11 columns and types, `l_shipdate` a microsecond timestamp),
  * written as parquet files in one Spark job. Row `id` of a file becomes
  * order `id div 4 + 1`, line `id mod 4 + 1`; every other column is a
  * hash of (id, seed), so the same seed gives the same bytes and
  * (l_orderkey, l_linenumber) is a unique key.
  */
object Gen {

  /** One file to write: `rows` rows from row id `start`, landing at `dst`
    * with modification time `mtimeMs`. `leaf` and `group` are the
    * caller's labels, carried through [[frame]].
    */
  final case class FileSpec(f: Int, leaf: Int, group: Int, dst: File, start: Long, rows: Long, mtimeMs: Long)

  /** The date every run treats as "now", so freshness and current-month
    * rules do not depend on the wall clock.
    */
  val AsOf: LocalDate = LocalDate.of(2026, 3, 20)

  def epochMs(d: LocalDate): Long = d.atStartOfDay(ZoneOffset.UTC).toInstant.toEpochMilli

  val names: Seq[String] = Seq(
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity", "l_extendedprice",
    "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate",
  )

  private def cols(seed: Long): Seq[Column] = {
    def h(k: Int) = xxhash64(col("id"), lit(seed), lit(k))
    Seq(
      expr("id div 4 + 1").as("l_orderkey"),
      (pmod(h(1), lit(20000L)) + 1).as("l_partkey"),
      (pmod(h(2), lit(1000L)) + 1).as("l_suppkey"),
      (pmod(col("id"), lit(4L)) + 1).cast("int").as("l_linenumber"),
      (pmod(h(3), lit(50L)) + 1).cast("double").as("l_quantity"),
      ((pmod(h(4), lit(9000000L)) + 90000) / 100.0).as("l_extendedprice"),
      (pmod(h(5), lit(11L)) / 100.0).as("l_discount"),
      (pmod(h(6), lit(9L)) / 100.0).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")), (pmod(h(7), lit(3L)) + 1).cast("int")).as("l_returnflag"),
      when(pmod(h(8), lit(2L)) === 0, lit("F")).otherwise(lit("O")).as("l_linestatus"),
      // 1992-01-01 plus up to ten years, as in the fixture
      timestamp_seconds(lit(694224000L) + pmod(h(9), lit(3650L)) * 86400L).as("l_shipdate"),
    )
  }

  /** All rows of `specs` with their labels: f, leaf, group, then [[names]]. */
  def frame(spark: SparkSession, specs: Seq[FileSpec], seed: Long): DataFrame = {
    import spark.implicits._
    specs.map(s => (s.f, s.leaf, s.group, s.start, s.rows)).toDF("f", "leaf", "group", "start", "n")
      .select(col("f"), col("leaf"), col("group"), explode(sequence(col("start"), col("start") + col("n") - 1)).as("id"))
      .select(Seq(col("f"), col("leaf"), col("group")) ++ cols(seed): _*)
  }

  /** Writes every spec as one parquet file at its `dst`, in one job, with
    * the fixture's microsecond timestamps. The session's own setting is
    * put back afterwards, so the program's writes keep theirs.
    */
  def write(spark: SparkSession, specs: Seq[FileSpec], seed: Long, stage: File, cores: Int): Unit = {
    Fsx.rm(stage)
    val key = "spark.sql.parquet.outputTimestampType"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try {
      frame(spark, specs, seed).drop("leaf", "group")
        .repartition(cores, col("f"))
        .write.partitionBy("f").parquet(stage.getAbsolutePath)
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    specs.foreach { s =>
      Fsx.movePart(new File(stage, s"f=${s.f}"), s.dst)
      Fsx.setMtime(s.dst, s.mtimeMs)
    }
    Fsx.rm(stage)
  }

  /** Order-insensitive digest of a row bag: row count and the exact sum
    * of a 64-bit hash of every column.
    */
  def digestCols: Seq[Column] =
    Seq(count(lit(1)), sum(xxhash64(names.map(col): _*).cast("decimal(38,0)")))

  def digest(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df.agg(digestCols.head, digestCols.tail: _*).head()
    (r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }

  def sameDigest(a: (Long, java.math.BigDecimal), b: (Long, java.math.BigDecimal)): Boolean =
    a._1 == b._1 && a._2.compareTo(b._2) == 0

  /** koku-style leaf path below the lake root. */
  def leafRel(provider: String, source: String, year: Int, month: Int): String =
    f"org1234567/$provider/source=$source/year=$year/month=$month%02d"

  /** A deterministic lower-case hex string of `n` chars from (seed, salt). */
  def hex(seed: Long, salt: Long, n: Int): String = {
    val r = new java.util.SplittableRandom(seed * 1000003L + salt)
    Iterator.continually(f"${r.nextLong()}%016x").flatten.take(n).mkString
  }
}
