package graft.sql

import graft.catalog.TableField

/** SQL statement classification (reference: src/sql/parse.rs:136-153
  * `get_sql_type` — Query → DML, CreateTable → DDL, anything else
  * rejected) and the reference's hive-style DDL form:
  *
  *   CREATE TABLE name (col type, …) [COMMENT '…']
  *     [CLUSTERED BY (col) [SORTED BY (col)] INTO n BUCKETS]
  *     LOCATION 'path'
  *
  * (reference: src/controllers.rs:92-135 — columns may be empty, the
  * schema is then inferred at read time; LOCATION is mandatory. The
  * CLUSTERED BY clause is this engine's extension: the reference
  * registers a pointer, Spark can additionally persist the data
  * bucketed so same-key joins/aggs skip their shuffle.)
  */
sealed trait SqlStatement
case class DmlStatement(sql: String) extends SqlStatement
case class CreateTableStatement(
    tableRef: String,
    columns: Seq[TableField],
    location: String,
    comment: Option[String],
    bucketBy: Option[String] = None,
    sortBy: Option[String] = None,
    numBuckets: Option[Int] = None) extends SqlStatement

/** CREATE TABLE name AS SELECT … — this engine's extension over the
  * reference's pointer-only DDL: the SELECT runs once, its result is
  * materialized as engine-managed parquet, and the name registers in
  * the persistent catalog like any other table — so the OUTPUT of a
  * pipeline run (a dedup verdict, a quality report) is queryable over
  * /fetch by name afterwards.
  */
case class CtasStatement(tableRef: String, selectSql: String) extends SqlStatement

class GraftSqlException(msg: String) extends RuntimeException(msg)

object SqlClassify {

  private val CreateTableRe =
    ("""(?is)^\s*create\s+table\s+(?:if\s+not\s+exists\s+)?([A-Za-z_][\w.]*)\s*\((.*?)\)\s*""" +
      """(?:comment\s+'([^']*)'\s*)?""" +
      """(?:clustered\s+by\s*\(\s*(\w+)\s*\)\s*(?:sorted\s+by\s*\(\s*(\w+)\s*\)\s*)?into\s+(\d+)\s+buckets\s*)?""" +
      """location\s+'([^']+)'\s*;?\s*$""").r

  private val CtasRe =
    """(?is)^\s*create\s+table\s+(?:if\s+not\s+exists\s+)?([A-Za-z_][\w.]*)\s+as\s+((?:select|with)\b.*)$""".r

  def classify(sql: String): SqlStatement = {
    val trimmed = sql.trim.stripSuffix(";").trim
    val head = trimmed.take(16).toLowerCase
    if (head.startsWith("select") || head.startsWith("with") || head.startsWith("values")) {
      DmlStatement(trimmed)
    } else if (head.startsWith("create")) {
      trimmed match {
        case CtasRe(name, select) => CtasStatement(singlePart(name), select.trim)
        case CreateTableRe(name, cols, comment, bucketCol, sortCol, nBuckets, location) =>
          CreateTableStatement(singlePart(name), parseColumns(cols), location, Option(comment),
            Option(bucketCol), Option(sortCol), Option(nBuckets).map(_.toInt))
        case _ => throw new GraftSqlException(
          "Unsupported CREATE syntax — expected: CREATE TABLE name (col type, ...) [COMMENT '...'] " +
            "[CLUSTERED BY (col) [SORTED BY (col)] INTO n BUCKETS] LOCATION 'path' — " +
            "or CREATE TABLE name AS SELECT ...")
      }
    } else {
      throw new GraftSqlException(
        "Currently, only the Select and Create statements are supported.")
    }
  }

  private def singlePart(name: String): String =
    if (!name.contains('.')) name
    else throw new GraftSqlException(s"Multi-part table names are not supported: '$name' — use a single-part name")

  private def parseColumns(cols: String): Seq[TableField] =
    // split only on commas OUTSIDE parentheses so parameterized types
    // like decimal(10,2) stay intact
    cols.split(",(?![^()]*\\))").map(_.trim).filter(_.nonEmpty).toSeq.map { c =>
      val parts = c.split("\\s+", 2)
      TableField(parts(0), if (parts.length > 1) parts(1) else "string")
    }
}
