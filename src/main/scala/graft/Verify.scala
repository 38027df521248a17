package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * The oracle json is written FIRST so a mid-run kill (driver time
  * budget) still leaves the driver everything it needs to grade the
  * queries that did complete. Queries run CONCURRENTLY on a small
  * thread pool — Spark schedules jobs from many threads at once, and
  * at verify SFs most per-query wall time is fixed latency (job
  * scheduling, codegen, streaming triggers), not CPU, so overlapping
  * them cuts total wall several-fold. Every query touches only its own
  * state (per-query scratch dirs, nanoTime-unique stream sinks); the
  * engine family resolves its tables inside each query's parsed plan,
  * registers no temp views, and its shared catalog dir serializes
  * writers with one lock per directory.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    // FAIR scheduling (GraftSession.builder): concurrent verify jobs
    // share executor slots round-robin instead of queueing whole plans
    // behind one another
    val spark = GraftSession.local(cpus)
    new java.io.File(outDir).mkdirs()

    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

    // Optional targeted run (builder-side): comma-separated query names.
    // The driver never sets this, so its full-suite behavior is unchanged.
    val only = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(',').map(_.trim).toSet)
    val all = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .sortBy(_._1)

    val t0 = System.nanoTime()
    val failed = new AtomicInteger(0)
    def runOne(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit = {
      val s = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(f"[verify] $name ok ${(System.nanoTime() - s) / 1e9}%.1fs")
      } catch { case e: Throwable =>
        failed.incrementAndGet()
        System.err.println(s"[verify] $name FAILED: ${e.getMessage}")
      }
    }

    val pool = Executors.newFixedThreadPool(math.min(8, math.max(2, cpus)))
    all.foreach { case (n, f) =>
      val task: Runnable = () => runOne(n, f)
      pool.submit(task)
    }
    pool.shutdown()
    pool.awaitTermination(4, TimeUnit.HOURS)

    System.err.println(
      f"[verify] done: ${all.size} queries, ${failed.get} failed, ${(System.nanoTime() - t0) / 1e9}%.1fs total")
    spark.stop()
  }
}
