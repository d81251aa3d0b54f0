package graft.compact

import java.io.File
import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetInputFormat}
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.input_file_name
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** [[KnownFiles.read]] against the read it replaces in the merge paths:
  * for every input shape, its schema, its rows and the file name each
  * row reports equal `spark.read.parquet(files)`, with `mergeSchema`
  * off and on. Inputs are passed out of path order on purpose: without
  * `mergeSchema` the schema is the footer of the first file in PATH
  * order, not in argument order.
  */
class KnownFilesSpec extends AnyFunSuite with Matchers with SparkSpec with BeforeAndAfterAll {

  private var root: File = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    root = Files.createTempDirectory("graft-known").toFile
  }

  override def afterAll(): Unit = {
    def rm(f: File): Unit = { if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); () }
    rm(root)
    super.afterAll()
  }

  private def dir(rel: String): File = { val d = new File(root, rel); d.mkdirs(); d }

  private def writeOne(dir: File, name: String, data: DataFrame): String = {
    val tmp = new File(dir, s".tmp-${System.nanoTime()}")
    data.coalesce(1).write.parquet(tmp.getAbsolutePath)
    val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
    val out = new File(dir, name)
    Files.move(part.toPath, out.toPath)
    tmp.listFiles().foreach(_.delete())
    tmp.delete()
    out.getAbsolutePath
  }

  private def withConf[T](k: String, v: String)(body: => T): T = {
    val old = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body
    finally old match {
      case Some(o) => spark.conf.set(k, o)
      case None    => spark.conf.unset(k)
    }
  }

  private def bag(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def assertSameAsPlainRead(files: Seq[String]): Unit =
    Seq(false, true).foreach { merge =>
      withClue(s"mergeSchema=$merge: ") {
        val known = KnownFiles.probe(spark, files)
        val ours = KnownFiles.read(spark, known, merge).withColumn("_file", input_file_name())
        val plain = spark.read.option("mergeSchema", merge.toString).parquet(files: _*)
          .withColumn("_file", input_file_name())
        ours.schema shouldBe plain.schema
        bag(ours) shouldBe bag(plain)
        // the batch merger's gid join keys on exactly this string
        ours.select("_file").distinct().collect().map(_.getString(0)).toSet shouldBe
          known.map(_.inputFileName).toSet
      }
    }

  test("evolved schemas: added columns; without mergeSchema the first footer in path order wins") {
    val s = spark
    import s.implicits._
    val d = dir("evolved")
    val newer = writeOne(d, "b_new.parquet", Seq((2L, "y", 9.5)).toDF("id", "tag", "score"))
    val older = writeOne(d, "a_old.parquet", Seq((1L, "x")).toDF("id", "tag"))
    assertSameAsPlainRead(Seq(newer, older))
    val known = KnownFiles.probe(spark, Seq(newer, older))
    KnownFiles.read(spark, known, mergeSchema = false).columns shouldBe Array("id", "tag")
    KnownFiles.read(spark, known, mergeSchema = true).columns shouldBe Array("id", "tag", "score")
  }

  test("INT96 and microsecond timestamps") {
    val d = dir("timestamps")
    val ts = spark.sql(
      "SELECT id, timestamp'2026-06-01 12:34:56.123456' + make_interval(0, 0, 0, 0, 0, 0, id) AS ts FROM range(4)",
    )
    val micros = withConf("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")(writeOne(d, "a_micros.parquet", ts))
    val int96 = withConf("spark.sql.parquet.outputTimestampType", "INT96")(writeOne(d, "b_int96.parquet", ts))
    KnownFiles.probe(spark, Seq(int96)).head.meta.getSchema.toString should include("int96")
    assertSameAsPlainRead(Seq(int96, micros))
  }

  test("decimal and nested struct/array columns, with a nested field added") {
    val d = dir("nested")
    val v1 = writeOne(d, "a_v1.parquet", spark.sql(
      """SELECT id, CAST(id * 1.25 AS DECIMAL(12, 2)) AS amt,
        |       named_struct('a', CAST(id AS INT), 'b', CAST(id AS STRING)) AS s,
        |       array(CAST(id AS DOUBLE), 0.5D) AS xs
        |FROM range(3)""".stripMargin))
    val v2 = writeOne(d, "b_v2.parquet", spark.sql(
      """SELECT id, CAST(id * 2.5 AS DECIMAL(12, 2)) AS amt,
        |       named_struct('a', CAST(id AS INT), 'b', CAST(id AS STRING), 'c', id * 7) AS s,
        |       array(CAST(id AS DOUBLE)) AS xs,
        |       array(named_struct('k', CAST(id AS STRING), 'v', CAST(id AS INT))) AS items
        |FROM range(10, 13)""".stripMargin))
    assertSameAsPlainRead(Seq(v2, v1))
  }

  test("a file written without Spark's row-metadata footer key") {
    val s = spark
    import s.implicits._
    val d = dir("foreign")
    val schema = MessageTypeParser.parseMessageType(
      """message m {
        |  required int64 id;
        |  optional binary tag (UTF8);
        |  optional int32 d (DATE);
        |  optional int64 ts (TIMESTAMP(MICROS,true));
        |}""".stripMargin)
    val foreign = new File(d, "a_foreign.parquet").getAbsolutePath
    val w = ExampleParquetWriter.builder(new Path(foreign))
      .withType(schema)
      .withConf(spark.sparkContext.hadoopConfiguration)
      .build()
    val groups = new SimpleGroupFactory(schema)
    try (1 to 4).foreach { i =>
      w.write(groups.newGroup().append("id", i.toLong).append("tag", s"t$i").append("d", 20000 + i)
        .append("ts", 1780000000000000L + i))
    } finally w.close()
    val sparkWritten = writeOne(d, "b_spark.parquet", Seq((9L, "s", java.sql.Date.valueOf("2026-01-02"),
      java.sql.Timestamp.valueOf("2026-01-02 03:04:05.000006"))).toDF("id", "tag", "d", "ts"))
    KnownFiles.probe(spark, Seq(foreign)).head.meta.getKeyValueMetaData.keySet() should not contain
      "org.apache.spark.sql.parquet.row.metadata"
    assertSameAsPlainRead(Seq(foreign))
    assertSameAsPlainRead(Seq(sparkWritten, foreign))
  }

  test("a leaf path containing a space and '='") {
    val s = spark
    import s.implicits._
    val d = dir("acct/source=s 1=odd/year=2026/month=01")
    val a = writeOne(d, "a.parquet", Seq((1L, "x")).toDF("id", "tag"))
    val b = writeOne(d, "b.parquet", Seq((2L, "y")).toDF("id", "tag"))
    assertSameAsPlainRead(Seq(b, a))
    KnownFiles.probe(spark, Seq(a)).head.inputFileName should include("source=s%201=odd")
  }

  test("incompatible types fail the mergeSchema read, as the plain read does") {
    val s = spark
    import s.implicits._
    val d = dir("conflict")
    val ints = writeOne(d, "a.parquet", Seq((1L, 5L)).toDF("id", "v"))
    val strs = writeOne(d, "b.parquet", Seq((2L, "five")).toDF("id", "v"))
    an[Exception] should be thrownBy spark.read.option("mergeSchema", "true").parquet(ints, strs).schema
    an[Exception] should be thrownBy KnownFiles.read(spark, KnownFiles.probe(spark, Seq(ints, strs)), mergeSchema = true)
  }

  test("footer row counts ignore a filter predicate left in the session's Hadoop conf") {
    val d = dir("filtered-stage")
    // several row groups per file: a small block size, checked every 100 rows
    val sizes = Seq(1000L, 700L, 300L)
    val files = sizes.zipWithIndex.map { case (n, i) =>
      val tmp = new File(d, s".tmp-$i")
      spark.range(n).coalesce(1).write.option("parquet.block.size", "4096").parquet(tmp.getAbsolutePath)
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      val out = new File(d, s"part-$i.parquet")
      Files.move(part.toPath, out.toPath)
      tmp.listFiles().foreach(_.delete()); tmp.delete()
      out.getAbsolutePath
    }
    val conf = spark.sparkContext.hadoopConfiguration
    // id < Long.MinValue: every row group's min statistic rules it out
    ParquetInputFormat.setFilterPredicate(conf, FilterApi.lt(FilterApi.longColumn("id"), java.lang.Long.valueOf(Long.MinValue)))
    try {
      val first = new Path(files.head)
      val withConfFilter = ParquetFileReader.open(
        HadoopInputFile.fromPath(first, conf), HadoopReadOptions.builder(conf, first).build())
      try {
        withConfFilter.getFooter.getBlocks.size should be > 1
        withConfFilter.getRecordCount shouldBe 0L // the predicate does drop every row group
      } finally withConfFilter.close()

      KnownFiles.probe(spark, files).map(_.rows) shouldBe sizes
      KnownFiles.rows(spark, files) shouldBe sizes.sum
      val staged = KnownFiles.staged(spark, d.getAbsolutePath)
      staged.map(_.status.getPath.getName) shouldBe Seq("part-0.parquet", "part-1.parquet", "part-2.parquet")
      staged.map(_.rows) shouldBe sizes
    } finally conf.unset(ParquetInputFormat.FILTER_PREDICATE)
  }
}
