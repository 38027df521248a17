package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.catalog.{Catalog, CatalogEntry, HistoryEntry, TableField}
import graft.sql.{DirectPath, Engine, FetchResult, SqlClassify}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `rid` is the request (or suite query)
  * the call served; `parent` is 0 when the parent is found later by
  * interval containment among the spans of the same `rid`.
  */
final case class Span(id: Long, parent: Long, rid: Long, name: String, startNs: Long, endNs: Long)

/** In-memory span recorder; spans are written out once, at the end.
  *
  * A span's parent is the innermost open span on the calling thread. A
  * server thread has none when the engine is entered, so the engine's
  * top span adopts the client's request span: the client announces
  * (key, rid, span id) before sending, and the server side claims it by
  * the same key (the SQL text, or the endpoint for metadata calls).
  * Two in-flight requests with the same key may swap ids; both are the
  * same request shape, so per-layer sums are unaffected.
  */
final class Tracer {
  private val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicLong
  private val open = ThreadLocal.withInitial[List[(Long, Long)]](() => Nil) // (span id, rid)
  private val pending = new ConcurrentHashMap[String, ConcurrentLinkedQueue[(Long, Long)]]

  def newId(): Long = ids.incrementAndGet()

  def expect(key: String, rid: Long, spanId: Long): Unit =
    pending.computeIfAbsent(key, _ => new ConcurrentLinkedQueue).add((rid, spanId))

  def add(s: Span): Unit = spans.add(s)

  def currentRid: Long = open.get.headOption.map(_._2).getOrElse(0L)

  private def run[T](name: String, parent: Long, rid: Long)(body: => T): T = {
    val outer = open.get
    val id = newId()
    val t0 = System.nanoTime()
    open.set((id, rid) :: outer)
    try body
    finally {
      open.set(outer)
      spans.add(Span(id, parent, rid, name, t0, System.nanoTime()))
    }
  }

  def span[T](name: String)(body: => T): T = {
    val (parent, rid) = open.get.headOption.getOrElse((0L, 0L))
    run(name, parent, rid)(body)
  }

  /** A top-level span for request or query `rid`. */
  def root[T](name: String, rid: Long)(body: => T): T = run(name, 0L, rid)(body)

  /** A top-level span on a server thread, adopting the client's request. */
  def enter[T](key: String, name: String)(body: => T): T =
    if (open.get.nonEmpty) span(name)(body)
    else {
      val q = pending.get(key)
      val claimed = if (q == null) null else q.poll()
      val (rid, parent) = if (claimed == null) (0L, 0L) else claimed
      run(name, parent, rid)(body)
    }

  def all: Seq[Span] = spans.asScala.toSeq
}

/** Converts Spark's wall-clock (epoch ms) event times to the nanoTime
  * scale the spans use.
  */
object Clock {
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis()
  def fromEpochMs(ms: Long): Long = originNs + (ms - originMs) * 1000000L
}

/** Per-(rid, phase) Spark counters from the listener bus and the
  * query-execution listener, plus job spans. The phase and rid of a job
  * come from local properties the traced engine (or the suite runner)
  * sets on the calling thread before it calls into the engine.
  */
final class LayerListener(tr: Tracer) extends SparkListener with QueryExecutionListener {
  final class Acc {
    var jobs, jobMs, readerJobs, readerJobMs, taskWaitMs, tasks, shuffleBytes, spillBytes, gcMs, scanStages = 0L
  }
  private val accs = mutable.Map.empty[(Long, String), Acc]
  private val jobTag = mutable.Map.empty[Int, (Long, String, Long, Boolean)] // job -> (rid, phase, start ms, reader job)
  private val stageTag = mutable.Map.empty[Int, (Long, String)]
  private val stageSubmit = mutable.Map.empty[Int, Long]
  private val planMs = mutable.Map.empty[String, Long].withDefaultValue(0L)

  /** Catalyst phase totals (ms) over every action so far, by phase
    * (parsing, analysis, optimization, planning).
    */
  def planSnapshot: Map[String, Long] = synchronized(planMs.toMap)

  private def acc(tag: (Long, String)): Acc = accs.getOrElseUpdate(tag, new Acc)

  // DataFrameReader call sites: jobs that only read a source to infer
  // its schema (CSV/JSON inference, parquet footers) before a plan exists.
  private val ReaderSite = "^(csv|json|parquet|load|text|orc|xlsx) at ".r

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = e.properties
    val rid = Option(p).flatMap(x => Option(x.getProperty("perfbench.rid"))).map(_.toLong).getOrElse(0L)
    val phase = Option(p).flatMap(x => Option(x.getProperty("perfbench.phase"))).getOrElse("none")
    val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
    jobTag(e.jobId) = (rid, phase, e.time, ReaderSite.findPrefixOf(site).isDefined)
    e.stageIds.foreach(s => stageTag(s) = (rid, phase))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobTag.remove(e.jobId).foreach { case (rid, phase, t0, reader) =>
      val a = acc((rid, phase))
      a.jobs += 1; a.jobMs += e.time - t0
      if (reader) { a.readerJobs += 1; a.readerJobMs += e.time - t0 }
      tr.add(Span(tr.newId(), 0L, rid, s"spark.job.$phase", Clock.fromEpochMs(t0), Clock.fromEpochMs(e.time)))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.submissionTime.foreach(t => stageSubmit(e.stageInfo.stageId) = t)
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    for (tag <- stageTag.get(e.stageId); t0 <- stageSubmit.get(e.stageId)) {
      val a = acc(tag)
      a.tasks += 1; a.taskWaitMs += math.max(0L, e.taskInfo.launchTime - t0)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageTag.get(e.stageId).foreach { tag =>
      val a = acc(tag)
      a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      a.gcMs += m.jvmGCTime
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val in = info.taskMetrics.inputMetrics
    stageTag.get(info.stageId).foreach { tag =>
      if (in.bytesRead > 0 || in.recordsRead > 0) acc(tag).scanStages += 1
    }
    stageSubmit.remove(info.stageId)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    qe.tracker.phases.foreach { case (phase, s) => planMs(phase) += s.durationMs }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def rows: Seq[Map[String, Any]] = synchronized {
    accs.toSeq.sortBy(_._1).map { case ((rid, phase), a) =>
      Map("rid" -> rid, "phase" -> phase, "jobs" -> a.jobs, "job_ms" -> a.jobMs,
        "reader_jobs" -> a.readerJobs, "reader_job_ms" -> a.readerJobMs,
        "tasks" -> a.tasks, "task_wait_ms" -> a.taskWaitMs, "shuffle_bytes" -> a.shuffleBytes,
        "spill_bytes" -> a.spillBytes, "gc_ms" -> a.gcMs, "scan_stages" -> a.scanStages)
    }
  }
}

object LayerListener {
  def install(spark: SparkSession, tr: Tracer): LayerListener = {
    val l = new LayerListener(tr)
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(l)
    l
  }

  /** Process-wide counters Spark publishes as metric sources. */
  def counters(): Map[String, Long] = {
    import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}
    Map(
      "codegen_ns" -> org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime,
      "codegen_compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      "files_discovered" -> HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount,
      "file_cache_hits" -> HiveCatalogMetrics.METRIC_FILE_CACHE_HITS.getCount)
  }
}

/** Marks the Spark jobs the calling thread starts with a phase name. */
object Phase {
  def get(spark: SparkSession): String =
    Option(spark.sparkContext.getLocalProperty("perfbench.phase")).getOrElse("none")
  def set(spark: SparkSession, phase: String, rid: Long): Unit = {
    spark.sparkContext.setLocalProperty("perfbench.phase", phase)
    spark.sparkContext.setLocalProperty("perfbench.rid", rid.toString)
  }
}

/** The engine's catalog with each public call timed. */
final class TracedCatalog(dir: String, tr: Tracer) extends Catalog(dir) {
  override def lookup(tableRef: String): Option[CatalogEntry] =
    tr.span("catalog.lookup")(super.lookup(tableRef))

  override def register(tableRef: String, tablePath: String, schema: Seq[TableField],
      comment: Option[String], entryType: String, bucketBy: Option[String],
      sortBy: Option[String], numBuckets: Option[Int], generation: Option[String]): CatalogEntry =
    tr.span("catalog.register")(super.register(tableRef, tablePath, schema, comment, entryType,
      bucketBy, sortBy, numBuckets, generation))

  override def recordQuery(sql: String, status: String): Unit =
    tr.span("catalog.record_query")(super.recordQuery(sql, status))

  override def history(n: Int): Seq[HistoryEntry] =
    tr.enter("GET /query/history", "catalog.history")(super.history(n))

  override def listTables: Seq[CatalogEntry] =
    tr.enter("GET /catalog", "catalog.list")(super.listTables)
}

/** The engine with its public entry points timed. Each override calls
  * the real implementation; `sqlDf` times `DirectPath.rewrite` and then
  * hands the rewritten text to the real `sqlDf`, whose own rewrite finds
  * no direct paths left and is a no-op.
  */
final class TracedEngine(spark: SparkSession, dataDir: String, catalogDir: String, tr: Tracer)
    extends Engine(spark, dataDir, catalogDir) {

  override val catalog: Catalog = new TracedCatalog(catalogDir, tr)

  private def entered[T](sql: String, name: String, phase: String)(body: => T): T =
    tr.enter(sql, name) {
      Phase.set(spark, phase, tr.currentRid)
      tr.span("sql.classify")(SqlClassify.classify(sql))
      body
    }

  override def execute(sql: String, limit: Int): FetchResult =
    entered(sql, "sql.execute", "exec")(super.execute(sql, limit))

  override def exportFile(sql: String, format: String, outPath: String): String =
    entered(sql, "sql.export", "export")(super.exportFile(sql, format, outPath))

  override def sqlDf(sql: String): DataFrame = {
    val outer = Phase.get(spark)
    val rid = tr.currentRid
    val rewritten = tr.span("sql.rewrite") {
      Phase.set(spark, "rewrite", rid)
      DirectPath.rewrite(spark, sql, resolvePath)
    }
    val df = tr.span("sql.resolve") {
      Phase.set(spark, "resolve", rid)
      super.sqlDf(rewritten)
    }
    val ph = df.queryExecution.tracker.phases
    for (p <- ph.get("parsing").orElse(ph.get("analysis")); a <- ph.get("analysis"))
      tr.add(Span(tr.newId(), 0L, rid, "sql.analyze",
        Clock.fromEpochMs(p.startTimeMs), Clock.fromEpochMs(a.endTimeMs)))
    Phase.set(spark, outer, rid)
    df
  }
}
