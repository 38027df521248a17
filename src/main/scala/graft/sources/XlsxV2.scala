package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

/** XLSX as a DataSource V2 (`spark.read.format("graft-xlsx")`), the
  * reader behind [[XlsxSource.read]]:
  *
  *  - schema inference on the driver (header of the first matching
  *    file, cell types over all), skipped when given a schema;
  *  - one InputPartition per workbook file (xlsx zips aren't
  *    splittable within a file), so a directory of workbooks fans out
  *    across executors;
  *  - COLUMN PRUNING pushed into the reader
  *    (SupportsPushDownRequiredColumns): only requested columns are
  *    coerced and emitted, so `select one_col from xlsx` doesn't pay
  *    conversion for the rest.
  *
  * Options: `path` (glob ok), `sheet` (name; default first).
  */
class XlsxTableProvider extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-xlsx"

  override def supportsExternalMetadata(): Boolean = true

  private def pathOf(options: CaseInsensitiveStringMap): (String, Option[String]) = {
    val raw = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("graft-xlsx requires a path"))
    val (p, s) = XlsxSource.splitSheet(raw)
    (p, Option(options.get("sheet")).orElse(s))
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val (path, sheet) = pathOf(options)
    XlsxV2Util.inferSchema(path, sheet)
  }

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val (path, sheet) = pathOf(opts)
    XlsxTable(path, sheet, schema)
  }
}

object XlsxV2Util {
  /** Driver-side: expand the glob, return matching file paths. */
  def listFiles(path: String): Seq[String] = {
    val conf = org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(conf)
    val matches = Option(fs.globStatus(hPath)).map(_.toSeq).getOrElse(Nil)
      .filter(_.isFile).map(_.getPath.toString).sorted
    if (matches.isEmpty)
      throw new IllegalArgumentException(s"Path does not exist or matches no files: $path")
    matches
  }

  /** Doubles represent integers exactly only up to 2^53 — past that a
    * "whole-looking" cell value may already be a rounded float, so the
    * column must stay double.
    */
  private val MaxExactLong = 9007199254740992.0 // 2^53

  /** The reference's string-timestamp shape (excel.rs:81-93 parses
    * `%Y-%m-%d %H:%M:%S` strings into timestamps).
    */
  private val TsPattern = java.util.regex.Pattern.compile(
    """\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}""")
  private val TsFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  def isTsString(s: String): Boolean = TsPattern.matcher(s).matches()

  /** Parse a `yyyy-MM-dd HH:mm:ss` string to epoch MICROS (UTC, naive —
    * the reference parses with no zone and stamps UTC); null on
    * mismatch.
    */
  def parseTsMicros(s: String): java.lang.Long =
    try java.time.LocalDateTime.parse(s, TsFmt).toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
    catch { case _: Exception => null }

  /** Schema inference streams EVERY matching file (constant memory —
    * only per-column evidence is kept; xlsx files are small and
    * driver-listed anyway):
    *  - numeric columns whose every value is whole (and exactly
    *    representable) infer as `bigint`, so an xlsx id column joins a
    *    parquet bigint without a double/long mismatch (reference
    *    excel.rs:116-126 types Int cells as Int32/Int64);
    *  - string columns whose every value matches `yyyy-MM-dd HH:mm:ss`
    *    infer as `timestamp` (reference excel.rs:81-93);
    *  - otherwise the first non-null cell picks double/boolean/
    *    timestamp/string as before.
    * The header comes from the first file (like the reference's
    * first-workbook schema), but the whole/timestamp evidence spans
    * the whole glob — inferring `bigint` from the first shard alone
    * would silently null a fractional value in a later shard at
    * convert time.
    */
  def inferSchema(path: String, sheet: Option[String]): StructType = {
    val conf = org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration
    var header: Array[String] = null
    var base: Array[DataType] = null // first non-null cell's type; null until seen
    var allWhole: Array[Boolean] = null
    var allTs: Array[Boolean] = null
    listFiles(path).foreach { file =>
      val hPath = new org.apache.hadoop.fs.Path(file)
      val fs = hPath.getFileSystem(conf)
      val parts = XlsxParse.readParts(() => fs.open(hPath), sheet)
      val it = XlsxParse.rows(parts)
      if (!it.hasNext) throw new IllegalArgumentException(s"Empty worksheet in $file")
      val hdr = it.next().map(c => if (c == null) "" else c.toString)
      if (header == null) {
        header = hdr
        base = new Array[DataType](header.length)
        allWhole = Array.fill(header.length)(true)
        allTs = Array.fill(header.length)(true)
      }
      val n = header.length
      while (it.hasNext) {
        val cells = it.next()
        var i = 0
        while (i < n) {
          val v = if (i < cells.length) cells(i) else null
          if (v != null) {
            if (base(i) == null) base(i) = v match {
              case _: java.lang.Double => DoubleType
              case _: java.lang.Boolean => BooleanType
              case _: java.sql.Timestamp => TimestampType
              case _ => StringType
            }
            v match {
              case d: java.lang.Double =>
                val x = d.doubleValue()
                if (!(x == math.floor(x) && math.abs(x) < MaxExactLong)) allWhole(i) = false
              case s: String => if (!isTsString(s)) allTs(i) = false
              case _ => ()
            }
          }
          i += 1
        }
      }
    }
    StructType(header.zipWithIndex.map { case (name, i) =>
      val dt = base(i) match {
        case DoubleType if allWhole(i) => LongType
        case StringType if allTs(i) => TimestampType
        case null => StringType
        case other => other
      }
      StructField(if (name.nonEmpty) name else s"_c$i", dt, nullable = true)
    })
  }
}

case class XlsxTable(path: String, sheet: Option[String], tableSchema: StructType)
  extends Table with SupportsRead {
  override def name(): String = s"graft-xlsx:$path"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    XlsxScanBuilder(path, sheet, tableSchema)
}

case class XlsxScanBuilder(path: String, sheet: Option[String], full: StructType)
  extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = full
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema
  override def build(): Scan = XlsxScan(path, sheet, full, required)
}

case class XlsxScan(path: String, sheet: Option[String], full: StructType, required: StructType)
  extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-xlsx $path pruned=[${required.fieldNames.mkString(",")}]"

  override def planInputPartitions(): Array[InputPartition] =
    XlsxV2Util.listFiles(path).map(f => XlsxFilePartition(f): InputPartition).toArray

  override def createReaderFactory(): PartitionReaderFactory = {
    // ship the session's Hadoop configuration to executors so fs.*
    // settings (s3a credentials, endpoints, ...) reach partition reads
    val spark = org.apache.spark.sql.SparkSession.active
    val confBc = org.apache.spark.graftglue.CoreBridge.broadcastHadoopConf(
      spark.sparkContext, spark.sparkContext.hadoopConfiguration)
    XlsxReaderFactory(sheet, full, required, confBc)
  }
}

case class XlsxFilePartition(file: String) extends InputPartition

case class XlsxReaderFactory(
    sheet: Option[String], full: StructType, required: StructType,
    confBc: org.apache.spark.broadcast.Broadcast[org.apache.spark.graftglue.CoreBridge.SerializableConf])
  extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val file = partition.asInstanceOf[XlsxFilePartition].file
    new PartitionReader[InternalRow] {
      private val conf = org.apache.spark.graftglue.CoreBridge.confOf(confBc)
      private val hPath = new org.apache.hadoop.fs.Path(file)
      private val fs = hPath.getFileSystem(conf)
      private val parts = XlsxParse.readParts(() => fs.open(hPath), sheet)
      // map required fields to source column positions once
      private val srcIdx = required.fields.map(f => full.fieldIndex(f.name))
      private val iter = XlsxParse.rows(parts, full.length).drop(1)
      private var current: InternalRow = _

      override def next(): Boolean =
        if (!iter.hasNext) false
        else {
          val cells = iter.next()
          val out = new Array[Any](srcIdx.length)
          var i = 0
          while (i < srcIdx.length) {
            out(i) = convert(cells(srcIdx(i)), required.fields(i).dataType)
            i += 1
          }
          current = new GenericInternalRow(out)
          true
        }

      private def convert(v: Any, dt: DataType): Any = (v, dt) match {
        case (null, _) => null
        case (x: java.lang.Double, DoubleType) => x.doubleValue()
        case (x: java.lang.Double, LongType) =>
          val d = x.doubleValue()
          if (d == math.floor(d) && !d.isInfinite) d.toLong else null
        case (x: java.lang.Boolean, BooleanType) => x.booleanValue()
        case (x: java.sql.Timestamp, TimestampType) => x.getTime * 1000L + (x.getNanos / 1000) % 1000
        case (x: String, TimestampType) => XlsxV2Util.parseTsMicros(x)
        case (x: java.lang.Double, StringType) =>
          val d = x.doubleValue()
          UTF8String.fromString(
            if (d == math.floor(d) && !d.isInfinite) d.toLong.toString else d.toString)
        case (x, StringType) => UTF8String.fromString(x.toString)
        case (x: String, DoubleType) =>
          try x.toDouble catch { case _: Exception => null }
        case (x: String, LongType) =>
          try x.toLong catch { case _: Exception => null }
        // type drift vs the inferred schema (boolean/date cell in a
        // numeric column, etc.) → null — never store a mistyped value
        // into an InternalRow slot
        case _ => null
      }

      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}
