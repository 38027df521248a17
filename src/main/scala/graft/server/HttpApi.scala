package graft.server

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.sql.Engine

import scala.jdk.CollectionConverters._

/** The reference's HTTP surface on the JDK's built-in HttpServer
  * (reference: src/main.rs + src/controllers.rs):
  *
  *   POST /fetch          {"sql": …}                → wrapped rows
  *   GET  /catalog                                  → registered tables
  *   POST /query/export   {"sql": …, "file_type":…} → file download
  *   GET  /query/history                            → last 30 queries
  *   GET  /health
  *
  * Response envelope mirrors the reference exactly
  * (reference: src/response/schema.rs — resp_msg/data/resp_code, and
  * FetchResult header/rows/sql_type/query_time).
  */
class HttpApi(engine: Engine, port: Int = 8080) {

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  private val server = HttpServer.create(new InetSocketAddress(port), 0)

  def boundPort: Int = server.getAddress.getPort

  /** "123ms" / "4s" / "2m" style durations (reference utils.rs:85-99). */
  private def fmtDuration(ms: Long): String =
    if (ms < 1000) s"${ms}ms"
    else if (ms < 60000) s"${ms / 1000}s"
    else if (ms < 3600000) s"${ms / 60000}m"
    else s"${ms / 3600000}h"

  private def envelope(data: Any, msg: String = "", code: Int = 0): Array[Byte] =
    mapper.writeValueAsString(Map(
      "resp_msg" -> msg, "data" -> data, "resp_code" -> code))
      .getBytes(StandardCharsets.UTF_8)

  private def respond(ex: HttpExchange, status: Int, body: Array[Byte],
      contentType: String = "application/json"): Unit = {
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(status, body.length)
    ex.getResponseBody.write(body)
    ex.close()
  }

  private def readBody(ex: HttpExchange): Map[String, String] = {
    val raw = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    val node = mapper.readTree(raw)
    node.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
  }

  /** Error taxonomy mirroring the reference (src/response/http_error.rs:
    * 28-70): 400 bad request, 404 file-not-found, 422 unprocessable
    * SQL/data, 500 anything else. Error bodies carry resp_msg +
    * resp_code only (no data field), like HttpResponseError.
    */
  private def statusFor(e: Throwable): Int = {
    val msg = Option(e.getMessage).getOrElse("")
    e match {
      case _ if msg.contains("PATH_NOT_FOUND") || msg.contains("matches no files") => 404
      // malformed request body (jackson) is a client error, not SQL 422
      case _ if e.getClass.getName.startsWith("com.fasterxml.jackson") => 400
      case _: IllegalArgumentException => 400
      case _: graft.sql.GraftSqlException => 422
      case _ if e.getClass.getName.contains("Parse") || e.getClass.getName.contains("Analysis") => 422
      case _ => 500
    }
  }

  /** Exact-path + method routing on top of HttpServer's prefix
    * contexts (reference routes are exact and method-scoped:
    * src/controllers.rs #[post]/#[get]).
    */
  private def handle(ex: HttpExchange, path: String, method: String)(f: => Unit): Unit =
    try {
      // per-request scheduler pool (thread-local): under FAIR mode
      // (GraftSession) concurrent requests' Spark jobs round-robin
      // instead of queueing FIFO behind the first big query. Pools are
      // auto-created per executor thread, so at most poolSize of them.
      engine.spark.sparkContext.setLocalProperty(
        "spark.scheduler.pool", s"graft-api-${Thread.currentThread().getId}")
      if (ex.getRequestURI.getPath != path)
        respond(ex, 404, envelope(null, "not found", 1))
      else if (ex.getRequestMethod != method)
        respond(ex, 405, envelope(null, s"method not allowed; use $method", 1))
      else f
    } catch {
      case e: Throwable =>
        val body = mapper.writeValueAsString(Map(
          "resp_msg" -> Option(e.getMessage).getOrElse(e.getClass.getSimpleName),
          "resp_code" -> 1)).getBytes(StandardCharsets.UTF_8)
        respond(ex, statusFor(e), body)
    }

  server.createContext("/health", ex => handle(ex, "/health", "GET") {
    respond(ex, 200, envelope(""))
  })

  server.createContext("/fetch", ex => handle(ex, "/fetch", "POST") {
    val sql = readBody(ex).getOrElse("sql",
      throw new IllegalArgumentException("missing field: sql"))
    val r = engine.execute(sql)
    respond(ex, 200, envelope(Map(
      "header" -> r.header, "rows" -> r.rows,
      "sql_type" -> r.sqlType, "query_time" -> fmtDuration(r.queryTimeMs))))
  })

  server.createContext("/catalog", ex => handle(ex, "/catalog", "GET") {
    // the reference lists (id, ref, path, schema) only; this engine's
    // catalog also holds bucketed DDL specs, CTAS outputs and standing
    // indexes, so each row carries its entry KIND plus the physical
    // layout when one is declared — the server surface stays honest as
    // the catalog grows (clients that only read the reference's fields
    // are unaffected)
    val tables = engine.catalog.listTables.map { e =>
      val base = Map[String, Any](
        "id" -> e.id, "table_ref" -> e.tableRef, "table_path" -> e.tablePath,
        "entry_type" -> e.entryType,
        "table_schema" -> e.schema.map(f => Map(
          "field" -> f.field, "field_type" -> f.fieldType, "comment" -> f.comment.orNull)))
      val withGen = e.generation match {
        // INDEX entries carry the source-corpus generation they were
        // built from — a client can check the serving index is fresh
        case Some(g) => base + ("generation" -> g)
        case None => base
      }
      e.numBuckets match {
        case Some(n) => withGen + ("layout" -> Map(
          "bucket_by" -> e.bucketBy.orNull, "sort_by" -> e.sortBy.orNull,
          "num_buckets" -> n))
        case None => withGen
      }
    }
    respond(ex, 200, envelope(tables))
  })

  server.createContext("/index/refresh", ex => handle(ex, "/index/refresh", "POST") {
    // rebuild-if-stale for every standing ANN index family over the
    // given corpus dir — idempotent by construction (IndexOps.ensure*
    // no-ops when the artifact for the CURRENT source generation
    // exists), so a deployment can POST this after any corpus change
    // (this engine's extension; the reference re-reads files per query
    // and has no index lifecycle at all)
    val dir = readBody(ex).getOrElse("dir",
      throw new IllegalArgumentException("missing field: dir"))
    val t0 = System.currentTimeMillis()
    val built = graft.queries.IndexOps.refresh(engine.spark, dir)
    // mirror the refreshed INDEX registrations into the engine catalog
    // so GET /catalog names the serving artifacts + their generation
    // (the engine catalog keeps latest-per-ref, so re-posting refresh
    // just re-points the entries)
    val entries = graft.queries.IndexOps.indexEntries(engine.spark, dir)
    entries.foreach(e => engine.catalog.register(e.tableRef, e.tablePath, e.schema,
      e.comment, e.entryType, generation = e.generation))
    respond(ex, 200, envelope(Map(
      "rebuilt" -> built, "indexes" -> entries.map(_.tableRef),
      "query_time" -> fmtDuration(System.currentTimeMillis() - t0))))
  })

  server.createContext("/query/export", ex => handle(ex, "/query/export", "POST") {
    val body = readBody(ex)
    val sql = body.getOrElse("sql", throw new IllegalArgumentException("missing field: sql"))
    val fileType = body.getOrElse("file_type", "CSV")
    // one source of truth for format names/extensions (Writers owns it)
    val ext = graft.sources.Writers.ExportFormat.of(fileType).extension
    val stamp = java.time.format.DateTimeFormatter.ofPattern("yyyyMMddHHmmssSSS")
      .withZone(java.time.ZoneOffset.UTC).format(java.time.Instant.now())
    // unique suffix: concurrent same-millisecond exports must not share
    // an output path or staging directory
    val unique = java.util.UUID.randomUUID().toString.take(8)
    val out = s"${sys.props("java.io.tmpdir")}/graft-export/query-$stamp-$unique$ext"
    val path = java.nio.file.Paths.get(engine.exportFile(sql, fileType, out))
    // streamed from disk, then deleted so export files don't pile up
    try {
      ex.getResponseHeaders.set("attachment",
        s"filename=${java.net.URLEncoder.encode(path.getFileName.toString, "UTF-8")}")
      ex.getResponseHeaders.set("Content-Type", "application/octet-stream")
      ex.sendResponseHeaders(200, java.nio.file.Files.size(path))
      java.nio.file.Files.copy(path, ex.getResponseBody)
      ex.close()
    } finally java.nio.file.Files.deleteIfExists(path)
  })

  server.createContext("/query/history", ex => handle(ex, "/query/history", "GET") {
    val hist = engine.catalog.history(30).map(h => Map(
      "sql" -> h.sql, "status" -> h.status, "created_at" -> h.createdAt))
    respond(ex, 200, envelope(hist))
  })

  private var pool: java.util.concurrent.ExecutorService = _

  def start(): HttpApi = {
    // concurrent request handling; Spark sessions are thread-safe for
    // concurrent query execution (each request plans independently)
    pool = java.util.concurrent.Executors.newFixedThreadPool(16)
    server.setExecutor(pool)
    server.start(); this
  }

  def stop(): Unit = {
    server.stop(0)
    if (pool != null) pool.shutdown() // non-daemon workers must not pin the JVM
  }
}

/** Standalone server entry point (reference: src/main.rs binds :8080). */
object HttpApi {
  def main(args: Array[String]): Unit = {
    val port = args.headOption.map(_.toInt).getOrElse(8080)
    val spark = graft.GraftSession(sys.env.getOrElse("SPARK_MASTER", "local[*]"), "graft-server")
    val api = new HttpApi(new Engine(spark), port).start()
    println(s"graft server listening on :${api.boundPort}")
    Thread.currentThread().join()
  }
}
