package perfbench

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** The operator suite as graft.Bench runs it: one caller, one session,
  * each query materialized to the noop sink in sorted order, with a GC
  * before and a cache clear after each. After the timed materialization,
  * and before the cache clear, the same DataFrame is written to parquet,
  * untimed, for the oracle check.
  */
final class Suite(spark: SparkSession, plan: Plan, tracer: Option[Tracer], listener: Option[LayerListener]) {

  /** graft.Bench's first warm-up: one mid-weight query end to end (over
    * the smaller tables: the code paths are the same, the rows fewer).
    */
  private def warmQuery(): Unit =
    SparkEntry.queries("q01_agg")(spark, plan.warmDir).write.format("noop").mode("overwrite").save()

  /** graft.Bench's second warm-up, cut to one operator: the streaming
    * machinery's one-time class loading, on constant 240-row inputs.
    */
  private def warmStreaming(): Unit = {
    import org.apache.spark.sql.functions._
    val tinyEvents = spark.range(240).select(
      col("id").as("event_id"),
      expr("timestamp_micros(id * 600000000)").as("ts"),
      pmod(col("id"), lit(7)).as("user_id"),
      element_at(typedLit(Seq("view", "click", "purchase")),
        (pmod(col("id"), lit(3)) + 1).cast("int")).as("event_type"),
      (col("id") % 100).cast("double").as("value"))
    graft.streaming.StreamingEvents.runWindowAgg(spark, tinyEvents, batches = 2)
      .write.format("noop").mode("overwrite").save()
  }

  private def timed[T](name: String, rid: Long, phase: String)(body: => T): T = {
    Phase.set(spark, phase, rid)
    tracer match {
      case Some(t) => t.root(name, rid)(body)
      case None => body
    }
  }

  def run(): Map[String, Any] = {
    val t0 = System.nanoTime()
    warmQuery()
    warmStreaming()
    spark.catalog.clearCache()
    val coldS = (System.nanoTime() - t0) / 1e9
    val sc = spark.sparkContext
    val timedStart = Main.epochS()
    val queries = plan.queries.sorted.zipWithIndex.map { case (name, i) =>
      val rid = i + 1L
      System.gc()
      val before = LayerListener.counters()
      val planBefore = listener.map(_.planSnapshot).getOrElse(Map.empty[String, Long])
      val cpu0 = Main.cpuNs()
      val t0 = System.nanoTime()
      val (df, buildNs, error) =
        try {
          val df = timed("build", rid, "build")(SparkEntry.queries(name)(spark, plan.sfDir))
          val t1 = System.nanoTime()
          timed("exec", rid, "exec")(df.write.format("noop").mode("overwrite").save())
          (Some(df), t1 - t0, "")
        } catch { case e: Exception => (None, 0L, e.toString) }
      val wallNs = System.nanoTime() - t0
      val cpuNs = Main.cpuNs() - cpu0
      tracer.foreach(t => t.add(Span(t.newId(), 0L, rid, "query", t0, t0 + wallNs)))
      listener.foreach(_ => org.apache.spark.graftglue.CoreBridge.waitListenerBus(sc))
      val after = LayerListener.counters()
      val leftover = sc.getPersistentRDDs.size
      Phase.set(spark, "verify", 0L)
      val verifyError =
        try { df.foreach(_.write.mode("overwrite").parquet(s"${plan.verifyDir}/$name")); "" }
        catch { case e: Exception => e.toString }
      spark.catalog.clearCache()
      Phase.set(spark, "none", 0L)
      Map("name" -> name, "rid" -> rid, "wall_s" -> wallNs / 1e9, "build_s" -> buildNs / 1e9,
        "error" -> error, "verify_error" -> verifyError, "cache_leftover" -> leftover,
        "cpu_ns" -> cpuNs,
        "counters" -> after.map { case (k, v) => k -> (v - before(k)) },
        "plan_ms" -> listener.map(_.planSnapshot.map { case (k, v) => k -> (v - planBefore.getOrElse(k, 0L)) })
          .getOrElse(Map.empty))
    }
    val heapMb = Main.retainedHeapMb()
    Map(
      "cold_s" -> coldS,
      "warmup_s" -> 0.0,
      "timed_start_epoch_s" -> timedStart,
      "queries" -> queries,
      "retained_heap_mb" -> heapMb,
      "oracle_sql" -> plan.queries.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap,
      "layer_rows" -> listener.map(_.rows).getOrElse(Nil),
      "spans" -> tracer.map(_.all).getOrElse(Nil))
  }
}
