package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the compiled [[AvgArray]] aggregate against the N-column
  * `avg(v[i])` formulation it replaced in the Lloyd recenter kernels
  * (r22 optimization): same per-position double sums in the same
  * partial/merge order, same sum/count division, same nulls — including
  * null elements, arrays shorter than the declared width, null rows and
  * positions with zero non-null inputs.
  */
class AvgArraySpec extends AnyFunSuite with graft.SparkSpec {

  import spark.implicits._

  /** The exact N-avg-column spelling pqRecenter/recenter used before. */
  private def columnForm(df: org.apache.spark.sql.DataFrame, n: Int): org.apache.spark.sql.DataFrame = {
    val avgs = (0 until n).map(i => avg(col("v")(i)).as(s"c$i"))
    df.groupBy("g")
      .agg(avgs.head, avgs.tail: _*)
      .select(col("g"), array((0 until n).map(i => col(s"c$i")): _*).as("cv"))
  }

  test("avg_array equals the N-avg-column formulation bit-for-bit on float32-derived doubles") {
    GraftFunctions.register(spark)
    val rnd = new scala.util.Random(2026)
    // float32-derived doubles, the recenter input class
    val rows = (1 to 60).flatMap { g =>
      (0 until 1 + rnd.nextInt(40)).map(_ => (g, (0 until 16).map(_ => rnd.nextFloat().toDouble)))
    }
    val df = rows.toDF("g", "v")
    val fast = df.groupBy("g").agg(expr("avg_array(v, 16)").as("cv"))
    val slow = columnForm(df, 16)
    // bit-exact: compare the raw doubles, not a tolerance
    val joined = fast.as("f").join(slow.as("s"), "g")
    assert(joined.count() === 60L) // every group compared, none lost to the join
    assert(joined.where(col("f.cv") =!= col("s.cv")).count() === 0L)
    assert(fast.count() === 60L)
  }

  test("null parity vs the column form: null elements, null rows, all-null positions") {
    GraftFunctions.register(spark)
    // full-width arrays only: under Spark 4 ANSI, GetArrayItem THROWS on
    // an out-of-range index, so the column form cannot even run on short
    // arrays — the recenter inputs are always full-width (slices of
    // fixed-dim vectors); the short-array case is hand-pinned below
    val df = Seq[(Int, Option[Seq[Option[Double]]])](
      (1, Some(Seq(Some(1.0), None, Some(3.0)))),      // null element at pos 1
      (1, Some(Seq(Some(5.0), Some(7.0), None))),      // null element at pos 2
      (1, None),                                       // null row: skipped everywhere
      (2, Some(Seq(None, None, None))),                // all positions null
    ).toDF("g", "v").select(col("g"), col("v").cast("array<double>").as("v"))
    val fast = df.groupBy("g").agg(expr("avg_array(v, 3)").as("cv"))
    val slow = columnForm(df, 3)
    val joined = fast.as("f").join(slow.as("s"), "g")
    assert(joined.count() === 2L)
    assert(joined.where(not(col("f.cv") <=> col("s.cv"))).count() === 0L)
    // hand-derived: group 1 pos0 = (1+5)/2, pos1 = 7 (the only non-null),
    // pos2 = 3 (the only non-null); group 2 all null
    val g1 = fast.where(col("g") === 1).select("cv").as[Seq[Option[Double]]].head()
    assert(g1 === Seq(Some(3.0), Some(7.0), Some(3.0)))
    val g2 = fast.where(col("g") === 2).select("cv").as[Seq[Option[Double]]].head()
    assert(g2 === Seq(None, None, None))
  }

  test("short arrays contribute nothing at missing positions (hand-pinned)") {
    GraftFunctions.register(spark)
    val df = Seq[(Int, Seq[Double])](
      (1, Seq(1.0, 2.0)), // pos 2 missing
      (1, Seq(5.0, 6.0, 9.0)),
    ).toDF("g", "v")
    val out = df.groupBy("g").agg(expr("avg_array(v, 3)").as("cv"))
      .select("cv").as[Seq[Option[Double]]].head()
    assert(out === Seq(Some(3.0), Some(4.0), Some(9.0)))
  }

  test("partial aggregation: repartitioned exact-valued input yields identical means") {
    GraftFunctions.register(spark)
    val rnd = new scala.util.Random(7)
    // integer-valued doubles: every partial sum is exact, so ANY
    // partial-aggregation split must produce the identical array
    val rows = (1 to 40).flatMap { g =>
      (0 until 30).map(_ => (g, (0 until 16).map(_ => rnd.nextInt(1000).toDouble)))
    }
    val one = rows.toDF("g", "v").coalesce(1)
      .groupBy("g").agg(expr("avg_array(v, 16)").as("cv"))
    val many = rows.toDF("g", "v").repartition(16)
      .groupBy("g").agg(expr("avg_array(v, 16)").as("cv"))
    val joined = one.as("a").join(many.as("b"), "g")
    assert(joined.count() === 40L)
    assert(joined.where(col("a.cv") =!= col("b.cv")).count() === 0L)
  }
}
