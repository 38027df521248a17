package graft

/** Benchmark main — runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  *
  * Methodology: results are fully materialized through the noop sink
  * (count() lets Catalyst prune the plan; noop executes it all), after
  * a warmup action that pays the one-time JIT/codegen cost so the
  * numbers measure the queries, not JVM startup.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    val metrics = new graft.tools.ShuffleMetricsListener
    spark.sparkContext.addSparkListener(metrics)

    // name -> per-query metric deltas (shuffle bytes, spill, jobs, gc)
    val shuffleBytes =
      scala.collection.mutable.Map.empty[String, graft.tools.ShuffleMetricsListener.Snap]

    def materialize(name: String): Double = {
      val (t, m) = graft.tools.QueryMeasure.measure(spark, metrics, name)(
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save())
      shuffleBytes(name) = m
      t
    }

    // warmup: one mid-weight query end-to-end (JIT, codegen, IO paths)
    try SparkEntry.queries("q01_agg")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => }

    // warmup 2: the Structured Streaming machinery — micro-batch
    // planner, file stream source, HDFS state store provider, stateful
    // agg + flatMapGroupsWithState + stream-stream join operators,
    // memory/parquet sink commit paths. All of that is one-time class
    // loading + JIT the q01 warmup never touches; without this it
    // lands on whichever streaming query sorts first alphabetically
    // and is charged to IT (measured 8-12 s of first-streaming-query
    // overhead at sf0.1 vs ~1 s once warm — the same
    // measure-the-query-not-the-JVM rationale as the q01 warmup).
    // Constant 240-row inputs: cost is independent of SPARK_GRAFT_SF_DIR.
    try {
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
      graft.streaming.StreamingEvents.runFunnel(spark, tinyEvents, batches = 2)
        .write.format("noop").mode("overwrite").save()
      graft.streaming.StreamingEvents.runAttribution(spark, tinyEvents,
          batches = 2, saltBuckets = 1)
        .write.format("noop").mode("overwrite").save()
    } catch { case _: Throwable => }

    // Constant-work noise probe (calibration in SCALE.md, "The noise floor"):
    // identical plan + bytes every run, so its median wall IS the
    // machine's load factor for THIS bench session. Written into the
    // detail JSON; check_bench_regress.py divides current by baseline
    // noise to scale its thresholds — a loaded machine then stops
    // producing dozens of false per-query flags (round-8 measured a
    // 2.2× headwind inflating 20-38 untouched queries).
    val noiseMedian = try {
      import org.apache.spark.sql.functions._
      def probeOnce(): Double = {
        val t0 = System.nanoTime()
        Tables(spark, sfDir, "lineitem")
          .filter(col("l_shipdate") <= lit("1998-09-02"))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(sum(col("l_quantity")).as("sq"),
            sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sd"),
            count(lit(1)).as("n"))
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      probeOnce() // probe's own warmup (the q01 warmup shares the shape)
      Seq.fill(3)(probeOnce()).sorted.apply(1)
    } catch { case _: Throwable => -1.0 }

    // Optional comma-separated subset for targeted perf work; the driver
    // leaves this unset and benches the full suite.
    val subset = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => subset.forall(_.contains(n)))
    val results = names.map(n => n -> materialize(n))
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // per-query shuffle/spill evidence (scale design: exchanges carry
    // O(signatures)/O(keys), never the corpus; spill stays 0)
    val sb = results.map { case (k, _) =>
      val m = shuffleBytes.getOrElse(k, graft.tools.ShuffleMetricsListener.Snap(0, 0, 0, 0, 0))
      s""""$k":{"read":${m.read},"write":${m.write},"spill":${m.spill},"njobs":${m.jobs},"gc_ms":${m.gcMs}}"""
    }.mkString("{", ",", "}")
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"shuffle_bytes":$sb,"noise_median_sec":$noiseMedian,"sf":"$sfDir"}"""
    println(full)
    // The full line above runs ~10 KB at 115+ queries, but the driver
    // keeps only a 2 KB tail of this process's output — so it has never
    // successfully parsed a round's bench (BENCH_r{1,2,3}.json all have
    // parsed:null). Persist the full detail to a file, then make the
    // LAST printed line a compact summary that fits the tail whole:
    // total + per-query seconds for the slowest queries only, 2-decimal.
    // Subset runs (SPARK_GRAFT_QUERIES) go to a side file: overwriting
    // the full-suite detail with a subset would silently shrink the
    // regression gate's compare set (and poison --update reblessing).
    val detailPath = if (subset.isDefined) "bench/bench_detail_subset.json"
      else "bench/bench_detail_last.json"
    try {
      val dir = new java.io.File("bench"); dir.mkdirs()
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(detailPath), full + "\n")
    } catch { case _: Throwable => }
    def d2(v: Double): String = String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    def d1(v: Double): String = String.format(java.util.Locale.ROOT, "%.1f", Double.box(v))
    val slowest = results.sortBy(-_._2)
    // The driver captures only a 2000-char TAIL of this process's
    // output, so the whole compact line must fit inside it or the
    // parse fails outright. All 190 names alone are ~2.8 KB — a full
    // per-query dict CANNOT fit — so emit the maximum coverage that
    // does: slowest-first at 1-decimal (names dominate fragment size;
    // 1-decimal ≈ the per-query noise floor anyway), with the budget
    // computed from the line's actual fixed overhead instead of a
    // hard-coded 1400. Round 9's 57-query cutoff caused 8 false
    // "dropped_from_bench" rows in PERF; this lifts the compare set to
    // ~80+ queries. The full 2-decimal detail file still has all 190.
    val head = s"""{"metric":"total","value":${d2(total)},"unit":"sec","nqueries":${results.size},"queries":{"""
    val tail = s"""},"detail":"$detailPath","sf":"$sfDir"}"""
    val budget = 1980 - head.length - tail.length
    val sb2 = new StringBuilder
    var used = 0
    slowest.foreach { case (k, v) =>
      val frag = "\"" + k + "\":" + d1(v)
      if (used + frag.length + 1 <= budget) { // +1 for comma
        if (sb2.nonEmpty) sb2.append(',')
        sb2.append(frag); used += frag.length + 1
      }
    }
    // Stop Spark BEFORE the final println so no executor/shutdown log line
    // can land after the compact summary; build.sbt sets showSuccess :=
    // false so sbt's "[success] Total time" banner (which made every prior
    // round's BENCH parse fail) no longer trails it either.
    spark.stop()
    println(head + sb2.result() + tail)
  }
}
