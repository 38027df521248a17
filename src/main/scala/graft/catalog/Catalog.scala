package graft.catalog

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardOpenOption}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import scala.jdk.CollectionConverters._

/** One field of a registered table's declared schema
  * (reference: src/server/schema.rs TableFieldSchema).
  */
case class TableField(field: String, fieldType: String, comment: Option[String] = None)

/** A catalog row (reference: sqlite.rs `catalog` table). The bucket
  * fields are this engine's extension (CLUSTERED BY DDL): when set,
  * the entry describes a Spark bucketed table materialized from
  * `tablePath`, and resolution goes through the session catalog so
  * same-key joins/aggs keep the bucket distribution. Absent in
  * pre-extension JSONL lines → None (Jackson maps missing to null,
  * null to None).
  */
case class CatalogEntry(
    id: Long,
    tableRef: String,
    tablePath: String,
    schema: Seq[TableField] = Nil,
    comment: Option[String] = None,
    entryType: String = "MANAGED",
    bucketBy: Option[String] = None,
    sortBy: Option[String] = None,
    numBuckets: Option[Int] = None,
    // INDEX entries: the source-corpus fingerprint this artifact was
    // built from (the generation GET /catalog reports — a client can
    // tell whether the serving index matches the live corpus)
    generation: Option[String] = None)

/** One executed-query record (reference: sqlite.rs `query_history`). */
case class HistoryEntry(sql: String, status: String, createdAt: String)

/** Persistent table catalog + query history.
  *
  * The reference keeps both in a SQLite db (reference: src/sqlite.rs:
  * 1-46); here they are JSONL files under `dir` — append-mostly,
  * human-readable, and trivially portable to any shared filesystem a
  * cluster's driver can see. All mutation goes through this class and
  * is synchronized; at 100 TB scale the catalog holds table *pointers*
  * (paths), never data, so its size is O(tables).
  */
class Catalog(dir: String) {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  private val catalogFile: Path = Paths.get(dir, "catalog.jsonl")
  private val historyFile: Path = Paths.get(dir, "query_history.jsonl")
  Files.createDirectories(Paths.get(dir))

  private def readLines(p: Path): Seq[String] =
    if (Files.exists(p)) Files.readAllLines(p, StandardCharsets.UTF_8).asScala.toSeq.filter(_.nonEmpty)
    else Nil

  private def appendLine(p: Path, line: String): Unit =
    Files.write(p, (line + "\n").getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)

  def entries: Seq[CatalogEntry] = synchronized {
    readLines(catalogFile).map(l => mapper.readValue(l, classOf[CatalogEntry]))
  }

  /** Non-TEMP tables, as listed by GET /catalog (reference:
    * src/controllers.rs:152-186). The file is an append-only log;
    * re-registrations keep only the LATEST entry per table_ref
    * (mirrors the reference's UNIQUE(table_ref) semantics).
    */
  def listTables: Seq[CatalogEntry] = {
    val all = entries.filter(_.entryType != "TEMP")
    val latest = all.groupBy(_.tableRef).view.mapValues(_.last).toMap
    all.map(_.tableRef).distinct.map(latest)
  }

  /** Latest entry: parses newest-first, only lines quoting the name as Jackson writes it. */
  def lookup(tableRef: String): Option[CatalogEntry] = {
    val quoted = mapper.writeValueAsString(tableRef)
    synchronized(readLines(catalogFile)).reverseIterator.filter(_.contains(quoted))
      .map(mapper.readValue(_, classOf[CatalogEntry])).find(_.tableRef == tableRef)
  }

  def register(
      tableRef: String,
      tablePath: String,
      schema: Seq[TableField] = Nil,
      comment: Option[String] = None,
      entryType: String = "MANAGED",
      bucketBy: Option[String] = None,
      sortBy: Option[String] = None,
      numBuckets: Option[Int] = None,
      generation: Option[String] = None): CatalogEntry = synchronized {
    val e = CatalogEntry(readLines(catalogFile).size + 1L, tableRef, tablePath, schema, comment, entryType,
      bucketBy, sortBy, numBuckets, generation)
    appendLine(catalogFile, mapper.writeValueAsString(e))
    e
  }

  def recordQuery(sql: String, status: String): Unit = synchronized {
    val e = HistoryEntry(sql, status, java.time.Instant.now().toString)
    appendLine(historyFile, mapper.writeValueAsString(e))
  }

  /** Latest `n` queries, newest first (reference:
    * src/controllers.rs:259-276 limit 30).
    */
  def history(n: Int = 30): Seq[HistoryEntry] = synchronized {
    // parse only the last n lines — the log is unbounded
    readLines(historyFile).takeRight(n).reverse
      .map(l => mapper.readValue(l, classOf[HistoryEntry]))
  }
}
