package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftglue.Bridge

/** Session factory for the graft engine, and the one way to change a
  * conf for part of the work.
  *
  * Spark-native replacement for the reference's DataFusion
  * `SessionContext` (reference: src/data_source/context.rs:17-24).
  * [[builder]] pins the static confs, [[tune]] the runtime ones: AQE
  * (runtime re-planning, skew-join handling, partition coalescing), a
  * UTC session timezone so timestamp semantics match the oracle, the
  * broadcast threshold, runtime bloom filters and the parquet
  * nanosecond-timestamp read. Every main builds its session through
  * [[local]]; the HTTP server and the tests through [[apply]].
  *
  * Nothing writes a session's conf after [[tune]]. Queries share one
  * session and run concurrently (Verify's pool, the HTTP server's
  * handlers), so a write would reach every query in flight. Work that
  * needs other settings for a while — a training loop without AQE, a
  * stream drain on few shuffle partitions — runs on a child session
  * that [[withConf]] clones for it.
  */
object GraftSession {

  /** Runtime-settable confs applied to any session (including ones the
    * driver built for us in Verify/Bench). Call it once, right after
    * the session is built.
    */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // Dims at TPC-H-ish ratios stay far below this even at SF ≫ 1;
    // 64m keeps region/nation/supplier/part joins broadcast at scale.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
    // Runtime bloom-filter join pruning: a selective predicate on the
    // build side of a shuffle equi-join becomes a bloom filter probed
    // at the other side's SCAN, cutting fact-table rows before the
    // exchange. Thresholds stay at Spark defaults (creation ≤ 10 MB,
    // application scan ≥ 10 GB): inert at test SFs, exactly the
    // selective fact-fact shapes (q03/q04) at 100 TB.
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    // Earlier driver testdata wrote events.ts as parquet
    // TIMESTAMP(NANOS), which Spark has no type for: read it as int64
    // nanos ([[Tables.normalizeEventTs]] handles both vintages).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark
  }

  /** Run `body` on a child of `spark` whose conf is `spark`'s plus
    * `overrides`; `spark`'s own conf is never touched, so queries
    * running beside `body` keep their settings.
    *
    * The child shares the SparkContext, cache and catalog, but plans
    * only its own DataFrames under the overrides: `body` moves the
    * inputs it plans on into the child with [[Bridge.ofRows]] (a
    * persisted input still reads the shared cache), and returns data
    * already collected or moved back the same way, so the caller's
    * actions plan under the caller's conf. A stream the child started
    * must have terminated when `body` returns: the child's streaming
    * listener bus is detached then.
    */
  def withConf[T](spark: SparkSession, overrides: (String, String)*)(
      body: SparkSession => T): T = {
    val child = Bridge.cloneSession(spark)
    overrides.foreach { case (k, v) => child.conf.set(k, v) }
    try body(child) finally Bridge.releaseStreams(child)
  }

  /** Static confs, plus a shuffle width that [[local]] sizes to its
    * cores; [[tune]] sets the runtime ones once the session exists.
    */
  def builder(master: String = "local[*]", app: String = "graft"): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName(app)
      .config("spark.sql.shuffle.partitions",
        math.max(4, Runtime.getRuntime.availableProcessors()).toString)
      // static conf: default 100-entry codegen class cache evicts and
      // re-pays multi-second compilation in many-query workloads
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // FAIR job scheduling (static conf): concurrent API requests get
      // round-robin executor time via per-request pools (HttpApi sets
      // spark.scheduler.pool per handler thread) instead of FIFO
      // head-of-line blocking behind one big query
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.ui.enabled", "false")

  def apply(master: String = "local[*]", app: String = "graft"): SparkSession =
    start(builder(master, app))

  /** The session a main runs on: `local[cpus]`, one shuffle partition
    * per core.
    */
  def local(cpus: Int): SparkSession =
    start(builder(s"local[$cpus]").config("spark.sql.shuffle.partitions", cpus.toString))

  private def start(b: SparkSession.Builder): SparkSession = {
    val spark = tune(b.getOrCreate())
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
