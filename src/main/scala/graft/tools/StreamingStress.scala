package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent

import graft.streaming.StreamingEvents

/** Density stress for the STREAMING family — the batch dedup family
  * has a measured 25×/50× knee table in SCALE.md; this gives the eight
  * streaming twins the same treatment: per-twin drain wall, micro-batch
  * count, and PEAK state-store rows/bytes (from
  * StreamingQueryProgress.stateOperators), each twin also run with a
  * production TTL where the operator takes one.
  *
  * Note on the TTL arms: the drain harness uses Trigger.AvailableNow,
  * which never FIRES ProcessingTimeTimeout — so the TTL arm measures
  * the state-bookkeeping overhead of arming the horizon (per-key
  * timeout timestamps in the store), not expiry itself; the expiry
  * path runs end-to-end under a real clock in StreamingSpec.
  *
  * Usage: runMain graft.tools.StreamingStress <sfDir> [outJson]
  */
object StreamingStress {

  /** Max over progress events of Σ state rows / bytes across the
    * query's stateful operators, plus the number of progress events
    * (micro-batches) observed since the last reset. A context-wide
    * listener: each drain starts its query on its own child session.
    */
  private final class PeakStateListener extends SparkListener {
    val maxRows = new AtomicLong
    val maxBytes = new AtomicLong
    val batches = new AtomicLong
    def reset(): Unit = { maxRows.set(0); maxBytes.set(0); batches.set(0) }
    override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
      case e: QueryProgressEvent => record(e)
      case _ =>
    }
    private def record(e: QueryProgressEvent): Unit = {
      val so = e.progress.stateOperators
      var r = 0L; var b = 0L
      var i = 0
      while (i < so.length) { r += so(i).numRowsTotal; b += so(i).memoryUsedBytes; i += 1 }
      maxRows.updateAndGet(m => math.max(m, r))
      maxBytes.updateAndGet(m => math.max(m, b))
      batches.incrementAndGet()
    }
  }

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val outJson = if (args.length > 1) args(1) else "bench/streaming_stress_last.json"
    val spark = graft.GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    val listener = new PeakStateListener
    spark.sparkContext.addSparkListener(listener)

    def events(s: SparkSession): DataFrame = graft.Tables(s, dir, "events")
    val ttl = Some("7 days")

    // (name, variant, drain). Attribution/window/sliding have no TTL
    // knob: state is bounded by watermarks / open windows by design.
    val runs: Seq[(String, String, SparkSession => DataFrame)] = Seq(
      ("evt_window_stream", "plain", s => StreamingEvents.runWindowAgg(s, events(s))),
      ("evt_sliding_stream", "plain", s => StreamingEvents.runSlidingAgg(s, events(s))),
      ("evt_attribution_stream", "plain", s => StreamingEvents.runAttribution(s, events(s))),
      ("evt_sessionize_stream", "plain", s => StreamingEvents.runSessionize(s, events(s))),
      ("evt_sessionize_stream", "ttl", s => StreamingEvents.runSessionize(s, events(s), stateTtl = ttl)),
      ("evt_paths_stream", "plain", s => StreamingEvents.runPaths(s, events(s))),
      ("evt_paths_stream", "ttl", s => StreamingEvents.runPaths(s, events(s), stateTtl = ttl)),
      ("evt_funnel_stream", "plain", s => StreamingEvents.runFunnel(s, events(s))),
      ("evt_funnel_stream", "ttl", s => StreamingEvents.runFunnel(s, events(s), stateTtl = ttl)),
      ("evt_retention_stream", "plain", s => StreamingEvents.runRetention(s, events(s))),
      ("evt_retention_stream", "ttl", s => StreamingEvents.runRetention(s, events(s), stateTtl = ttl)),
      ("evt_anomaly_stream", "plain", s => StreamingEvents.runAnomaly(s, events(s))),
      ("evt_anomaly_stream", "ttl", s => StreamingEvents.runAnomaly(s, events(s), stateTtl = ttl)))

    // Both state-store backends: the default in-memory/HDFS provider
    // AND RocksDB — the backend a 100 TB deployment actually runs
    // (state off-heap and disk-spillable, snapshot+changelog uploads).
    // Same pipelines, same drain; only the provider conf changes.
    val providers = Seq(
      "hdfs" -> "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
      "rocksdb" -> "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

    val out = new StringBuilder("[")
    var first = true
    for ((provName, provClass) <- providers; (name, variant, mk) <- runs) {
      System.gc()
      listener.reset()
      val t0 = System.nanoTime()
      val res =
        try Right(graft.GraftSession.withConf(spark,
          "spark.sql.streaming.stateStore.providerClass" -> provClass)(mk(_).count()))
        catch { case e: Throwable => Left(e.getMessage) }
      val wall = (System.nanoTime() - t0) / 1e9
      // progress events arrive async; give the bus a moment
      org.apache.spark.graftglue.CoreBridge.waitListenerBus(spark.sparkContext)
      val line = res match {
        case Right(n) =>
          f"""{"query":"$name","variant":"$variant","provider":"$provName","wall_s":$wall%.2f,"rows":$n,"batches":${listener.batches.get()},"peak_state_rows":${listener.maxRows.get()},"peak_state_bytes":${listener.maxBytes.get()}}"""
        case Left(msg) =>
          s"""{"query":"$name","variant":"$variant","provider":"$provName","error":${"\"" + msg.replace("\"", "'").take(120) + "\""}}"""
      }
      println(s"[stress] $line")
      if (!first) out.append(",\n") else first = false
      out.append(line)
      spark.catalog.clearCache()
    }
    out.append("]")
    try {
      new java.io.File(outJson).getParentFile.mkdirs()
      java.nio.file.Files.writeString(java.nio.file.Paths.get(outJson), out.result() + "\n")
    } catch { case _: Throwable => }
    spark.stop()
  }
}
