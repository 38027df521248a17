package graft.tools

/** Targeted per-query measurement: run the named SparkEntry queries
  * against a data dir and print time + shuffle/spill byte deltas for
  * each — the fast inner loop for optimizing one operator without
  * paying the full Bench suite.
  *
  * Usage: runMain graft.tools.QueryTime <sfDir> <name> [name ...]
  * (each name runs twice; the second, warm measurement is labeled.)
  */
object QueryTime {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args.drop(1).toSeq
    val spark = graft.GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt)
    val metrics = new ShuffleMetricsListener
    spark.sparkContext.addSparkListener(metrics)

    def mb(b: Long): String = f"${b / 1e6}%.1f MB"
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      for (round <- 1 to 2) {
        val (t, m) = QueryMeasure.measure(spark, metrics, name) {
          fn(spark, dir).write.format("noop").mode("overwrite").save()
        }
        println(f"[qtime] $name round$round ${t}%.2f s shuffleR=${mb(m.read)} " +
          f"shuffleW=${mb(m.write)} spill=${mb(m.spill)} njobs=${m.jobs} gc=${m.gcMs}ms")
      }
    }
    spark.stop()
  }
}
