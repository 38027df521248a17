package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.zip.ZipInputStream

import scala.collection.mutable.ArrayBuffer

import graft.server.HttpApi
import graft.sql.Engine
import org.apache.spark.sql.SparkSession

/** One completed request. Times are ns since the start of the timed region. */
final case class Rec(client: Int, rid: Long, kind: String, key: String,
    sendNs: Long, recvNs: Long, status: Int, body: String, bytes: Long, rows: Long, error: String)

/** An HTTP client that waits for each reply (one per client thread). */
final class Client(port: Int) {
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  /** Sends `op`; returns the status and the reply's bytes as they arrive. */
  def send(op: Op): (Int, Array[Byte]) = {
    val uri = URI.create(s"http://127.0.0.1:$port${op.path}")
    val req = if (op.method == "GET") HttpRequest.newBuilder(uri).GET().build()
      else HttpRequest.newBuilder(uri).header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(Main.mapper.writeValueAsString(op.body))).build()
    val resp = http.send(req, HttpResponse.BodyHandlers.ofByteArray())
    (resp.statusCode(), resp.body())
  }
}

object Client {
  /** Kinds whose replies are large; their bytes go to disk as they arrive
    * and are counted after the timed region, so neither the parse nor the
    * held bytes count in a latency or in the retained heap.
    */
  val spilled: Set[String] = Set("export", "catalog", "history")

  /** (body kept for checking, exported rows or listed entries) of a reply. */
  def digest(op: Op, status: Int, bytes: Array[Byte]): (String, Long) = op.kind match {
    case "export" if status == 200 => ("", exportRows(bytes, op.body.getOrElse("file_type", "CSV")))
    case "catalog" | "history" if status == 200 =>
      val n = Main.mapper.readTree(bytes).get("data").size()
      (s"""{"entries":$n}""", n.toLong)
    case _ => (new String(bytes, StandardCharsets.UTF_8), 0L)
  }

  /** Data rows in an exported file (header rows excluded). */
  def exportRows(bytes: Array[Byte], fileType: String): Long = fileType.toUpperCase match {
    case "XLSX" =>
      val zin = new ZipInputStream(new java.io.ByteArrayInputStream(bytes))
      try {
        Iterator.continually(zin.getNextEntry).takeWhile(_ != null)
          .find(_.getName.startsWith("xl/worksheets/"))
          .map(_ => "<row[ >]".r.findAllIn(new String(zin.readAllBytes(), StandardCharsets.UTF_8)).size - 1L)
          .getOrElse(-1L)
      } finally zin.close()
    case t =>
      val lines = new String(bytes, StandardCharsets.UTF_8).split("\n").count(_.nonEmpty).toLong
      if (t == "CSV" || t == "TSV") lines - 1 else lines
  }
}

/** A closed-loop serving run: one cold set-up (server start and the
  * first requests), a fixed-work warm-up, the timed region and, for
  * serve_read, the sequential single-client reference pass.
  */
final class Serve(spark: SparkSession, plan: Plan, tracer: Option[Tracer], listener: Option[LayerListener]) {
  private val spillDir = Files.createDirectories(Paths.get(plan.verifyDir, "replies"))

  private def engine(): Engine = tracer match {
    case Some(t) => new TracedEngine(spark, plan.dataDir, plan.catalogDir, t)
    case None => new Engine(spark, plan.dataDir, plan.catalogDir)
  }

  private def mustSucceed(c: Client, op: Op): Unit = {
    val (status, bytes) = c.send(op)
    if (status != 200)
      throw new IllegalStateException(s"set-up request ${op.path} ${op.body} -> $status ${new String(bytes)}")
  }

  /** Runs each client's script in a closed loop: the warm-up to its end,
    * the timed region until `seconds` pass.
    */
  private def closedLoop(port: Int, scripts: Seq[Seq[Op]], seconds: Double, timed: Boolean): (Seq[Rec], Boolean) = {
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    @volatile var exhausted = false
    val out = scripts.zipWithIndex.map { case (script, c) =>
      val recs = ArrayBuffer.empty[Rec]
      val th = new Thread(() => {
        val client = new Client(port)
        var i = 0
        while (i < script.size && (!timed || System.nanoTime() < deadline)) {
          val op = script(i)
          val rid = (c + 1) * 100000L + i
          val reqSpan = tracer.filter(_ => timed).map { t =>
            val id = t.newId()
            t.expect(op.kind match {
              case "catalog" => "GET /catalog"
              case "history" => "GET /query/history"
              case _ => op.body.getOrElse("sql", "")
            }, rid, id)
            id
          }
          val s = System.nanoTime()
          val (status, bytes, err) =
            try { val (st, b) = client.send(op); (st, b, "") }
            catch { case e: Exception => (-1, Array.emptyByteArray, e.toString) }
          val r = System.nanoTime()
          reqSpan.foreach(id => tracer.get.add(Span(id, 0L, rid, "request", s, r)))
          if (timed) {
            val body =
              if (status == 200 && Client.spilled(op.kind)) { Files.write(spillDir.resolve(rid.toString), bytes); "" }
              else new String(bytes, StandardCharsets.UTF_8)
            recs += Rec(c, rid, op.kind, op.key, s - t0, r - t0, status, body, bytes.length.toLong, 0L, err)
          }
          i += 1
        }
        if (timed && i >= script.size) exhausted = true
      })
      th.start()
      (th, recs)
    }
    out.foreach(_._1.join())
    (out.flatMap(_._2), exhausted)
  }

  /** Fills in the body and count of each reply that went to disk. */
  private def digest(recs: Seq[Rec], ops: Map[Long, Op]): Seq[Rec] = recs.map { r =>
    val f = spillDir.resolve(r.rid.toString)
    if (r.status != 200 || !Client.spilled(r.kind)) r
    else {
      val (body, rows) = Client.digest(ops(r.rid), r.status, Files.readAllBytes(f))
      Files.delete(f)
      r.copy(body = body, rows = rows)
    }
  }

  def run(seconds: Double): Map[String, Any] = {
    val t0 = System.nanoTime()
    val api = new HttpApi(engine(), 0).start()
    val port = api.boundPort
    try {
      val c = new Client(port)
      mustSucceed(c, Op("health", "GET", "/health", Map.empty, ""))
      plan.setupOps.foreach(mustSucceed(c, _))
      val coldS = (System.nanoTime() - t0) / 1e9
      val w0 = System.nanoTime()
      closedLoop(port, plan.warmup, 0, timed = false)
      val warmupS = (System.nanoTime() - w0) / 1e9
      val before = LayerListener.counters()
      val planBefore = listener.map(_.planSnapshot).getOrElse(Map.empty[String, Long])
      val timedStart = Main.epochS()
      val cpu0 = Main.cpuNs()
      val t1 = System.nanoTime()
      val (raw, exhausted) = closedLoop(port, plan.scripts, seconds, timed = true)
      val wallS = (System.nanoTime() - t1) / 1e9
      val cpuNs = Main.cpuNs() - cpu0
      listener.foreach(_ => org.apache.spark.graftglue.CoreBridge.waitListenerBus(spark.sparkContext))
      val after = LayerListener.counters()
      val heapMb = Main.retainedHeapMb()
      val ops = plan.scripts.zipWithIndex.flatMap { case (script, c) =>
        script.zipWithIndex.map { case (op, i) => ((c + 1) * 100000L + i) -> op }
      }.toMap
      val recs = digest(raw, ops)
      val lines = Seq("catalog.jsonl", "query_history.jsonl").map { f =>
        val p = Paths.get(plan.catalogDir, f)
        if (Files.exists(p)) Files.readAllLines(p).size.toLong else 0L
      }.sum
      val reference =
        if (!plan.sequentialCheck) Nil
        else {
          // the distinct requests of the timed region, once each, one client
          val firstOf = plan.scripts.flatten.groupBy(_.key).view.mapValues(_.head).toMap
          recs.map(_.key).distinct.sorted.map { k =>
            val (status, bytes) = c.send(firstOf(k))
            Map("key" -> k, "status" -> status, "body" -> Client.digest(firstOf(k), status, bytes)._1)
          }
        }
      Map(
        "cold_s" -> coldS,
        "warmup_s" -> warmupS,
        "timed_start_epoch_s" -> timedStart,
        "wall_s" -> wallS,
        "records" -> recs,
        "script_exhausted" -> exhausted,
        "reference" -> reference,
        "retained_heap_mb" -> heapMb,
        "cpu_ns" -> cpuNs,
        "catalog_lines" -> lines,
        "counters" -> after.map { case (k, v) => k -> (v - before(k)) },
        "layer_rows" -> listener.map(_.rows).getOrElse(Nil),
        "plan_ms" -> listener.map(_.planSnapshot.map { case (k, v) => k -> (v - planBefore.getOrElse(k, 0L)) })
          .getOrElse(Map.empty),
        "spans" -> tracer.map(_.all).getOrElse(Nil))
    } finally api.stop()
  }
}
