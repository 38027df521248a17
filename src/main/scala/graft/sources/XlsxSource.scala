package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Distributed XLSX source.
  *
  * The reference reads workbooks on a single thread with calamine and
  * merges multiple files into one in-memory batch
  * (reference: src/data_source/excel.rs:12-60, `path#Sheet` selector).
  * Here the V2 source ([[XlsxTableProvider]]) infers the schema on the
  * driver (type mapping: [[XlsxV2Util.inferSchema]]) and parses data
  * inside executors, one task per workbook (a zip isn't splittable
  * within a file, like gzip), so thousands of workbooks scale out.
  */
object XlsxSource {

  /** Split a `path#Sheet` selector (reference excel.rs:13-16). */
  def splitSheet(path: String): (String, Option[String]) =
    path.indexOf('#') match {
      case -1 => (path, None)
      case i => (path.substring(0, i), Some(path.substring(i + 1)))
    }

  /** Read through the V2 source (column pruning, catalog-integrated);
    * `path#Sheet` selectors supported; a known `schema` skips inference.
    */
  def read(spark: SparkSession, rawPath: String, schema: Option[StructType] = None): DataFrame = {
    val (p, s) = splitSheet(rawPath)
    val reader = schema.foldLeft(spark.read.format("graft-xlsx"))(_.schema(_))
    s.foreach(sheet => reader.option("sheet", sheet))
    reader.load(p)
  }
}
