package perfbench

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.GraftSession
import org.apache.spark.sql.SparkSession

/** One request of a serve workload, as the generator wrote it. `key`
  * names what the correctness check compares it against.
  */
final case class Op(kind: String, method: String, path: String, body: Map[String, String], key: String)

/** The generated inputs of one run (see gen.py). Paths are absolute. */
final case class Plan(
    kind: String,
    dataDir: String,
    catalogDir: String,
    probeDir: String,
    setupOps: Seq[Op],
    warmup: Seq[Seq[Op]],
    scripts: Seq[Seq[Op]],
    sequentialCheck: Boolean,
    sfDir: String,
    warmDir: String,
    queries: Seq[String],
    verifyDir: String)

/** Harness entry point: `Main <plan.json> <result.json> <seconds> <trace 0|1> <local dir>`.
  * Runs one workload against the engine and writes raw measurements;
  * run.py turns them into metrics and checks correctness.
  */
object Main {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
    .configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)

  def main(args: Array[String]): Unit = {
    val Array(planPath, outPath, seconds, trace, localDir) = args
    val plan = mapper.readValue(Files.readString(Paths.get(planPath)), classOf[Plan])
    val spark = session(plan, localDir)
    val bootS = (System.nanoTime() - jvmStartNs) / 1e9
    val tracer = if (trace == "1") Some(new Tracer) else None
    val listener = tracer.map(LayerListener.install(spark, _))
    val result =
      try {
        val body = plan.kind match {
          case "serve" => new Serve(spark, plan, tracer, listener).run(seconds.toDouble)
          case "suite" => new Suite(spark, plan, tracer, listener).run()
        }
        val probe = LoadProbe.run(spark, plan.probeDir)
        body ++ Map("boot_s" -> bootS, "load_probe_s" -> probe)
      } finally spark.stop()
    Files.writeString(Paths.get(outPath), mapper.writeValueAsString(result))
  }

  /** JVM start on the nanoTime scale, so boot time counts class loading too. */
  private val jvmStartNs: Long = System.nanoTime() -
    (System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L

  private def session(plan: Plan, localDir: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors().min(4).max(1)
    val b = plan.kind match {
      // the server's own session settings (HttpApi.main)
      case "serve" => GraftSession.builder(s"local[$cpus]", "perfbench")
      // graft.Bench's session settings
      case _ => SparkSession.builder().master(s"local[$cpus]").appName("perfbench")
          .config("spark.sql.shuffle.partitions", cpus.toString)
          .config("spark.sql.session.timeZone", "UTC")
          .config("spark.ui.enabled", "false")
          .config("spark.sql.codegen.cache.maxEntries", "5000")
    }
    val spark = b.config("spark.local.dir", s"$localDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$localDir/warehouse")
      .getOrCreate()
    GraftSession.tune(spark)
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Wall-clock time in seconds since the epoch, the clock run.py starts set-up on. */
  def epochS(): Double = {
    val now = java.time.Instant.now()
    now.getEpochSecond + now.getNano / 1e9
  }

  /** CPU time of the whole process so far (every thread, the harness's included). */
  def cpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Heap in use after a full collection, in MB. */
  def retainedHeapMb(): Double = {
    System.gc(); System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) / 1048576.0
  }
}

/** graft.Bench's constant-work lineitem aggregate (over the sf0.01 table,
  * to keep it short): identical plan and bytes every run, so its median
  * wall reads the machine's load.
  */
object LoadProbe {
  def run(spark: SparkSession, sfDir: String): Seq[Double] = {
    import org.apache.spark.sql.functions._
    def once(): Double = {
      val t0 = System.nanoTime()
      graft.Tables(spark, sfDir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sq"),
          sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sd"),
          count(lit(1)).as("n"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    once()
    Seq.fill(5)(once())
  }
}
