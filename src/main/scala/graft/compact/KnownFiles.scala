package graft.compact

import java.util.concurrent.{Callable, Executors}

import org.apache.hadoop.fs.{FileStatus, Path}
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

/** Merge inputs read from what the driver already knows about them.
  *
  * Every merge opens each input's footer on the driver anyway (the row
  * counts anchor commit validation). `spark.read.parquet(files)` would
  * then learn the same facts a second and third time: its
  * `InMemoryFileIndex` re-lists the paths (a distributed job of one task
  * per path above `parallelPartitionDiscovery.threshold`), and schema
  * inference reads footers again in a job of its own, even for one file.
  *
  * [[probe]] stats each input once and keeps its `FileStatus`, row count
  * and footer file metadata. [[read]] builds the scan from those: a
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

  /** Stat and footer-read `paths` on a bounded driver pool (blocking
    * I/O must not starve the shared execution context), in input order.
    * One `getFileStatus` per file: `HadoopInputFile.fromPath` would stat
    * it too, `fromStatus` reuses ours.
    */
  def probe(spark: SparkSession, paths: Seq[String]): IndexedSeq[Known] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val pool = Executors.newFixedThreadPool(math.min(math.max(paths.size, 1), 16))
    try {
      val futures = paths.map { p =>
        pool.submit(new Callable[Known] {
          override def call(): Known = {
            val path = new Path(p)
            val fs = path.getFileSystem(conf)
            val st = fs.getFileStatus(fs.makeQualified(path))
            val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
            try Known(st, r.getRecordCount, r.getFooter.getFileMetaData)
            finally r.close()
          }
        })
      }
      futures.map(_.get()).toIndexedSeq
    } finally {
      pool.shutdown()
      ()
    }
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
