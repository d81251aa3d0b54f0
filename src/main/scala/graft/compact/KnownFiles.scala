package graft.compact

import java.util.concurrent.{Callable, Executors}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.{FileMetaData, ParquetMetadata}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.graft.SchemaBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** The one driver-side parquet footer reader, and merge inputs read
  * from what it learned.
  *
  * Every footer the program opens on the driver opens here ([[open]]),
  * with read options built from the session's Hadoop conf
  * (`HadoopReadOptions`): the conf's decryption settings apply, so a lake
  * written under session-level Parquet Modular Encryption compacts as
  * `spark.read` reads it. Parquet's one-argument `open(InputFile)` builds
  * its options from parquet's defaults instead, at about 11 ms an open
  * on a 4-core VM; these cost microseconds. The record filter is pinned to
  * `FilterCompat.NOOP`, so a filter predicate left in the conf can never
  * drop row groups from a count that anchors commit validation.
  *
  * Every merge opens each input's footer anyway (the row counts anchor
  * commit validation). `spark.read.parquet(files)` would then learn the
  * same facts a second and third time: its `InMemoryFileIndex` re-lists
  * the paths (a distributed job of one task per path above
  * `parallelPartitionDiscovery.threshold`), and schema inference reads
  * footers again in a job of its own, even for one file.
  *
  * [[probe]] stats each input once and keeps its `FileStatus`, row count
  * and footer file metadata; [[staged]] does the same for the parquet
  * files a stage wrote. [[read]] builds the scan from those: a
  * [[FileIndex]] that returns the probed statuses as one partition
  * directory, and the schema the plain read would infer from the same
  * footers. The scan itself is Spark's own parquet scan, unchanged.
  */
object KnownFiles {

  /** One probed input. `meta` is the footer's file-level half (schema
    * and key-value metadata); row-group metadata is not kept.
    */
  final case class Known(status: FileStatus, rows: Long, meta: FileMetaData) {

    /** The string `input_file_name()` reports for this file's rows. */
    def inputFileName: String = status.getPath.toUri.toString
  }

  /** `f` over the footer of `st`, opened with the session conf's read
    * options and no record filter (so `getRecordCount` sums every row
    * group).
    */
  private def open[A](conf: Configuration, st: FileStatus)(f: ParquetFileReader => A): A = {
    val options = HadoopReadOptions.builder(conf, st.getPath).withRecordFilter(FilterCompat.NOOP).build()
    val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf), options)
    try f(r)
    finally r.close()
  }

  /** `f` over `items` on a bounded driver pool (blocking I/O must not
    * starve the shared execution context), in input order.
    */
  private def onPool[T, A](spark: SparkSession, items: Seq[T])(f: (Configuration, T) => A): IndexedSeq[A] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val pool = Executors.newFixedThreadPool(math.min(math.max(items.size, 1), 16))
    try {
      val futures = items.map { t =>
        pool.submit(new Callable[A] {
          override def call(): A = f(conf, t)
        })
      }
      futures.map(_.get()).toIndexedSeq
    } finally {
      pool.shutdown()
      ()
    }
  }

  /** One `getFileStatus` per path, which `open` then reuses
    * (`HadoopInputFile.fromPath` would stat the file again).
    */
  private def stat(conf: Configuration, p: String): FileStatus = {
    val path = new Path(p)
    val fs = path.getFileSystem(conf)
    fs.getFileStatus(fs.makeQualified(path))
  }

  private def known(st: FileStatus, r: ParquetFileReader): Known =
    Known(st, r.getRecordCount, r.getFooter.getFileMetaData)

  /** `f` over each path's status and whole footer, in input order. */
  def footers[A](spark: SparkSession, paths: Seq[String])(f: (FileStatus, ParquetFileReader) => A): IndexedSeq[A] =
    onPool(spark, paths) { (conf, p) => val st = stat(conf, p); open(conf, st)(f(st, _)) }

  /** Stat and footer-read `paths`, in input order. */
  def probe(spark: SparkSession, paths: Seq[String]): IndexedSeq[Known] = footers(spark, paths)(known)

  /** Total rows of `paths`, from their footers: no Spark job. */
  def rows(spark: SparkSession, paths: Seq[String]): Long = probe(spark, paths).map(_.rows).sum

  /** The `.parquet` files a stage wrote directly under `dir`, probed from
    * the listing's own statuses and sorted by name. A missing `dir`
    * throws `FileNotFoundException`.
    */
  def staged(spark: SparkSession, dir: String): IndexedSeq[Known] = {
    val path = new Path(dir)
    val listed = path.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(path)
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
    onPool(spark, listed.toSeq)((conf, st) => open(conf, st)(known(st, _)))
  }

  private def sqlConf(spark: SparkSession): SQLConf =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.conf

  /** The session's `spark.sql.parquet.mergeSchema`: what a plain
    * `spark.read.parquet` without the option would do.
    */
  def sessionMergeSchema(spark: SparkSession): Boolean = sqlConf(spark).isParquetSchemaMergingEnabled

  /** The data schema `spark.read.parquet(files)` infers, from the probed
    * footers. Without `mergeSchema` Spark takes the footer of the first
    * file in path order; with it, the left fold of every footer's schema
    * in that order (so incompatible types throw, as there). Either way
    * the result is made nullable and checked for duplicate names.
    */
  private def schemaOf(spark: SparkSession, files: Seq[Known], mergeSchema: Boolean): StructType = {
    require(files.nonEmpty, "a merge reads at least one file")
    val conf = sqlConf(spark)
    val converter = new ParquetToSparkSchemaConverter(conf)
    def schema(k: Known): StructType = ParquetFileFormat.readSchemaFromFooter(
      new Footer(k.status.getPath, new ParquetMetadata(k.meta, java.util.Collections.emptyList())),
      converter,
    )
    val ordered = files.sortBy(_.status.getPath.toString)
    val caseSensitive = conf.caseSensitiveAnalysis
    val inferred =
      if (mergeSchema) ordered.map(schema).reduceLeft(SchemaBridge.merge(_, _, caseSensitive))
      else schema(ordered.head)
    SchemaBridge.checkNoDuplicateColumns(inferred, caseSensitive)
    SchemaBridge.asNullable(inferred)
  }

  /** The rows of `files` as Spark's parquet scan reads them, with no
    * listing and no schema-inference job.
    */
  def read(spark: SparkSession, files: Seq[Known], mergeSchema: Boolean): DataFrame = {
    val relation = HadoopFsRelation(
      new Index(files.map(_.status)),
      partitionSchema = new StructType(),
      dataSchema = schemaOf(spark, files, mergeSchema),
      bucketSpec = None,
      fileFormat = new ParquetFileFormat(),
      options = Map.empty,
    )(spark)
    spark.baseRelationToDataFrame(relation)
  }

  /** The probed statuses as one unpartitioned directory. Explicit input
    * files have no partition columns in a plain read either: each file's
    * base path is its own parent.
    */
  private final class Index(statuses: Seq[FileStatus]) extends FileIndex {
    override def rootPaths: Seq[Path] = statuses.map(_.getPath)
    override def listFiles(partitionFilters: Seq[Expression], dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
      Seq(PartitionDirectory(InternalRow.empty, statuses.toArray))
    override def inputFiles: Array[String] = statuses.map(_.getPath.toString).toArray
    override def refresh(): Unit = ()
    override def sizeInBytes: Long = statuses.map(_.getLen).sum
    override def partitionSchema: StructType = new StructType()
  }
}
