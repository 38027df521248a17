package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** File-format inference and multi-format readers.
  *
  * Mirrors the reference's extension dispatch
  * (reference: src/data_source/utils.rs:5-27 — .csv/.tsv/.log/.txt/
  * .xlsx; .json rejected there but on its roadmap, supported here)
  * plus parquet (reference roadmap) and an explicit ndjson family.
  *
  * All readers are Spark DataSource scans: file listing, partitioned
  * reads, schema inference and pushdown are distributed. Glob patterns
  * in paths are handled natively by Spark's file index (reference uses
  * the `glob` crate, src/data_source/utils.rs:29-38).
  *
  * Each path's schema is inferred once: [[Formats.read]] memoizes it
  * (LRU, 256 entries) by (raw path incl. `#Sheet`, format, `splittable`,
  * the session's SQL conf — so `caseSensitive`, `nanosAsLong` etc. never
  * see a stale schema), valid while a driver-side `globStatus` of the
  * path, recursing into directories, yields the same sorted (file,
  * length, mtime) list. A hit passes `.schema(...)` to the reader, so
  * no inference job runs; an edited, added or removed file re-infers,
  * and a path matching no files is never cached (its error is kept).
  */
sealed trait DataSourceFormat
object DataSourceFormat {
  case object Csv extends DataSourceFormat
  case object Tsv extends DataSourceFormat
  /** newline-delimited JSON; extension varies (.log/.txt/.ndjson/.jsonl) */
  case class NdJson(extension: String) extends DataSourceFormat
  /** a single JSON array-of-objects document */
  case object JsonArray extends DataSourceFormat
  case object Xlsx extends DataSourceFormat
  case object Parquet extends DataSourceFormat
}

object Formats {
  import DataSourceFormat._

  /** Infer a format from a path's extension; None → not a file ref.
    * `#Sheet` suffixes (xlsx sheet selector) are stripped first.
    */
  def infer(path: String): Option[DataSourceFormat] = {
    val p = path.stripSuffix("'").takeWhile(_ != '#').toLowerCase
    if (p.endsWith(".csv")) Some(Csv)
    else if (p.endsWith(".tsv")) Some(Tsv)
    else if (p.endsWith(".log")) Some(NdJson(".log"))
    else if (p.endsWith(".txt")) Some(NdJson(".txt"))
    else if (p.endsWith(".ndjson")) Some(NdJson(".ndjson"))
    else if (p.endsWith(".jsonl")) Some(NdJson(".jsonl"))
    // .json defaults to newline-delimited — it's what our own export
    // endpoint produces (and the dominant data-engineering format);
    // array-of-objects documents read via an explicit JsonArray
    else if (p.endsWith(".json")) Some(NdJson(".json"))
    else if (p.endsWith(".xlsx")) Some(Xlsx)
    else if (p.endsWith(".parquet")) Some(Parquet)
    else None
  }

  /** Read `path` (glob patterns allowed) as the given format.
    *
    * CSV/TSV read with multiLine=true so RFC-4180 quoted fields
    * containing newlines parse correctly (they are what our own
    * writer emits). Scale note: multiLine makes a file non-splittable
    * (parallelism = number of files, like gzip/xlsx); corpora known
    * to be newline-free inside fields can pass splittable=true to
    * restore intra-file splits.
    */
  def read(spark: SparkSession, path: String, format: DataSourceFormat,
      splittable: Boolean = false): DataFrame = {
    def load(schema: Option[StructType]): DataFrame = {
      def reader = schema.foldLeft(spark.read)(_.schema(_))
      format match {
        case Csv =>
          reader.option("header", "true").option("inferSchema", "true")
            .option("multiLine", (!splittable).toString).csv(path)
        case Tsv =>
          reader.option("header", "true").option("inferSchema", "true")
            .option("multiLine", (!splittable).toString)
            .option("sep", "\t").csv(path)
        case NdJson(_) => reader.json(path)
        case JsonArray => reader.option("multiLine", "true").json(path)
        case Xlsx => XlsxSource.read(spark, path, schema)
        case Parquet => reader.parquet(path)
      }
    }
    val files = if (format == Xlsx) XlsxSource.splitSheet(path)._1 else path
    fingerprint(spark, files).fold(load(None)) { fp =>
      val key = (path, format, splittable, spark.sessionState.conf.getAllConfs)
      schemas.synchronized(Option(schemas.get(key))) match {
        case Some((`fp`, schema)) => load(Some(schema))
        case _ => // fp predates the inference: a file changed meanwhile mismatches next time
          val df = load(None)
          schemas.synchronized(schemas.put(key, (fp, df.schema)))
          df
      }
    }
  }

  private type SchemaKey = (String, DataSourceFormat, Boolean, Map[String, String])
  private val schemas = new java.util.LinkedHashMap[SchemaKey, (Seq[Byte], StructType)](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[SchemaKey, (Seq[Byte], StructType)]): Boolean =
      size() > 256
  }

  /** SHA-256 of the sorted (file, length, mtime) list `path` matches; None if none/unlistable. */
  private def fingerprint(spark: SparkSession, path: String): Option[Seq[Byte]] = {
    val listed = scala.util.Try {
      val hPath = new Path(path)
      val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      def files(s: FileStatus): Seq[FileStatus] =
        if (s.isDirectory) fs.listStatus(s.getPath).toSeq.flatMap(files) else Seq(s)
      Option(fs.globStatus(hPath)).toSeq.flatten.flatMap(files)
        .map(s => s"${s.getPath}\u0000${s.getLen}\u0000${s.getModificationTime}").sorted
    }.getOrElse(Nil)
    if (listed.isEmpty) None
    else Some(java.security.MessageDigest.getInstance("SHA-256")
      .digest(listed.mkString("\n").getBytes("UTF-8")).toSeq)
  }

  /** Read with format inferred from the extension. */
  def readAuto(spark: SparkSession, path: String): DataFrame =
    infer(path) match {
      case Some(f) => read(spark, path, f)
      case None => throw new IllegalArgumentException(
        s"Cannot infer a data-source format from path: $path")
    }
}
