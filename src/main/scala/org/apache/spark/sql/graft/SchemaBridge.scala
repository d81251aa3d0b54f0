package org.apache.spark.sql.graft

import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.SchemaUtils

/** The three schema steps a file-source read applies between footer
  * inference and relation construction, re-exported for
  * [[graft.compact.KnownFiles]], which builds that relation itself.
  * Each is `private[sql]`/`private[spark]` in Spark, hence the bridge.
  */
object SchemaBridge {

  /** `StructType.merge`: the fold a `mergeSchema` read applies to the
    * per-file schemas (fields of `a` first, then new fields of `b`;
    * incompatible types throw).
    */
  def merge(a: StructType, b: StructType, caseSensitive: Boolean): StructType = a.merge(b, caseSensitive)

  /** A file source's data schema is always read as nullable. */
  def asNullable(s: StructType): StructType = s.asNullable

  def checkNoDuplicateColumns(s: StructType, caseSensitive: Boolean): Unit =
    SchemaUtils.checkSchemaColumnNameDuplication(s, caseSensitive)
}
