package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}

import graft.server.HttpApi
import graft.sources.{DataSourceFormat, Formats, XlsxWriter}
import graft.sql.Engine
import org.apache.spark.graftglue.CoreBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The schema cache under `Formats.read`: a repeated read of unchanged
  * files starts no inference job and returns what an inferring read
  * returns; a changed file, a file added under a glob or a changed
  * inference conf re-infers; a path matching nothing keeps its 404.
  */
class SchemaCacheSpec extends AnyFunSuite {
  import SparkTestSession._

  private lazy val tmp = Files.createTempDirectory("graft-schema-cache").toString

  /** Counts the jobs, and the stages that read input, started by
    * threads that set the `graft.spec.tag` local property to `tag`.
    */
  private final class Jobs(tag: String) extends SparkListener {
    @volatile var readerJobs, jobs, scanStages = 0
    private val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    // DataFrameReader call sites: jobs that only infer a schema
    private val ReaderSite = "^(csv|json|parquet|load) at ".r
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).exists(_.getProperty("graft.spec.tag") == tag)) synchronized {
        jobs += 1
        val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
        if (ReaderSite.findPrefixOf(site).isDefined) readerJobs += 1
        e.stageIds.foreach(stages.add)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (stages.contains(e.stageInfo.stageId) &&
          e.stageInfo.taskMetrics.inputMetrics.bytesRead > 0) synchronized(scanStages += 1)
  }

  private var lastTag = 0
  /** Runs `body` and returns it with the listener that counted its jobs. */
  private def counted[T](s: SparkSession)(body: => T): (T, Jobs) = {
    lastTag += 1
    val l = new Jobs(s"t$lastTag")
    s.sparkContext.addSparkListener(l)
    s.sparkContext.setLocalProperty("graft.spec.tag", s"t$lastTag")
    try {
      val out = body
      CoreBridge.waitListenerBus(s.sparkContext)
      (out, l)
    } finally {
      s.sparkContext.setLocalProperty("graft.spec.tag", null)
      s.sparkContext.removeSparkListener(l)
    }
  }

  private def write(path: String, text: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), text)
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** Two reads of one path: the first infers, the second must not and
    * must return the same schema and rows.
    */
  private def assertCachedReadMatches(path: String, fmt: DataSourceFormat, sparkJobs: Boolean): Unit = {
    val (first, miss) = counted(spark)(Formats.read(spark, path, fmt))
    val (second, hit) = counted(spark)(Formats.read(spark, path, fmt))
    if (sparkJobs) assert(miss.readerJobs > 0, s"$fmt: the first read infers")
    assert(hit.jobs == 0, s"$fmt: a cached read starts no job")
    assert(second.schema == first.schema, fmt)
    assert(rows(second) == rows(first), fmt)
    assert(rows(second).nonEmpty, fmt)
  }

  test("each format's cached read returns the inferring read's schema and rows") {
    val li = Tables(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_shipdate", "l_returnflag")
      .limit(200)
    li.repartition(3).write.option("header", "true").csv(s"$tmp/fmt/li_csv")
    assertCachedReadMatches(s"$tmp/fmt/li_csv/part-*.csv", DataSourceFormat.Csv, sparkJobs = true)

    graft.sources.Writers.exportFile(li, s"$tmp/fmt/li.tsv", graft.sources.Writers.ExportFormat.Tsv)
    assertCachedReadMatches(s"$tmp/fmt/li.tsv", DataSourceFormat.Tsv, sparkJobs = true)

    graft.sources.Writers.exportFile(li, s"$tmp/fmt/li.log", graft.sources.Writers.ExportFormat.NdJson)
    assertCachedReadMatches(s"$tmp/fmt/li.log", DataSourceFormat.NdJson(".log"), sparkJobs = true)

    XlsxWriter.write(li, s"$tmp/fmt/li.xlsx", sheetName = "Lines")
    assertCachedReadMatches(s"$tmp/fmt/li.xlsx#Lines", DataSourceFormat.Xlsx, sparkJobs = false)
    assert(Formats.read(spark, s"$tmp/fmt/li.xlsx#Lines", DataSourceFormat.Xlsx)
      .schema("l_orderkey").dataType == LongType)

    li.write.parquet(s"$tmp/fmt/li.parquet")
    assertCachedReadMatches(s"$tmp/fmt/li.parquet", DataSourceFormat.Parquet, sparkJobs = true)
  }

  test("a second /fetch over the same CSV starts no inference job and reads its data once") {
    val eng = new Engine(spark, dataDir = sfDir,
      catalogDir = Files.createTempDirectory("graft-schema-cache-cat").toString)
    Tables(spark, sfDir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
      .repartition(2).write.option("header", "true").csv(s"$tmp/fetch/orders")
    val sql = s"select count(*) as n, sum(o_totalprice) as s from '$tmp/fetch/orders/part-*.csv'"
    val (first, miss) = counted(spark)(eng.execute(sql))
    val (second, hit) = counted(spark)(eng.execute(sql))
    assert(miss.readerJobs > 0 && miss.scanStages >= 2, "the first fetch infers, then scans")
    assert(hit.readerJobs == 0, "no inference job on the second fetch")
    assert(hit.scanStages == 1, "one data pass")
    assert(second.rows == first.rows)
  }

  test("rewriting a file, adding a file under a glob and changing an inference conf re-infer") {
    val one = s"$tmp/inval/one.csv"
    write(one, "a,b\n1,x\n2,y\n")
    val (v1, _) = counted(spark)(Formats.read(spark, one, DataSourceFormat.Csv))
    assert(v1.schema.map(_.dataType) == Seq(IntegerType, StringType))
    val (_, hit) = counted(spark)(Formats.read(spark, one, DataSourceFormat.Csv))
    assert(hit.jobs == 0)
    // a changed type and a new column
    write(one, "a,b,c\n1.5,x,true\n")
    val (v2, miss) = counted(spark)(Formats.read(spark, one, DataSourceFormat.Csv))
    assert(miss.readerJobs > 0)
    assert(v2.schema.map(f => f.name -> f.dataType) ==
      Seq("a" -> DoubleType, "b" -> StringType, "c" -> BooleanType))
    assert(rows(v2) == Seq("[1.5,x,true]"))

    // a file added under a glob widens the inferred type
    val glob = s"$tmp/inval/shard_*.csv"
    write(s"$tmp/inval/shard_0.csv", "id,v\n1,10\n")
    assert(Formats.read(spark, glob, DataSourceFormat.Csv).schema("v").dataType == IntegerType)
    write(s"$tmp/inval/shard_1.csv", "id,v\n2,2.5\n")
    val (widened, added) = counted(spark)(Formats.read(spark, glob, DataSourceFormat.Csv))
    assert(added.readerJobs > 0)
    assert(widened.schema("v").dataType == DoubleType)
    assert(widened.count() == 2)

    // the conf is part of the key: timestamp inference follows spark.sql.timestampType
    val ts = s"$tmp/inval/ts.csv"
    write(ts, "t\n2024-01-02 03:04:05\n")
    val s2 = spark.newSession()
    assert(Formats.read(s2, ts, DataSourceFormat.Csv).schema("t").dataType == TimestampType)
    assert(counted(s2)(Formats.read(s2, ts, DataSourceFormat.Csv))._2.jobs == 0)
    s2.conf.set("spark.sql.timestampType", "TIMESTAMP_NTZ")
    val (ntz, confMiss) = counted(s2)(Formats.read(s2, ts, DataSourceFormat.Csv))
    assert(confMiss.readerJobs > 0)
    assert(ntz.schema("t").dataType == TimestampNTZType)
  }

  test("a missing path still returns 404 through HttpApi, also after it was cached") {
    val eng = new Engine(spark, dataDir = sfDir,
      catalogDir = Files.createTempDirectory("graft-schema-cache-cat").toString)
    val api = new HttpApi(eng, port = 0).start()
    val client = HttpClient.newHttpClient()
    def fetch(sql: String): HttpResponse[String] =
      client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${api.boundPort}/fetch"))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(s"""{"sql": "$sql"}""")).build(),
        HttpResponse.BodyHandlers.ofString())
    try {
      assert(fetch(s"select * from '$tmp/nowhere/x.csv'").statusCode() == 404)
      assert(fetch(s"select * from '$tmp/nowhere/x_*.csv'").statusCode() == 404)
      assert(fetch(s"select * from '$tmp/nowhere/x_*.xlsx'").statusCode() == 404)
      val gone = s"$tmp/gone/g.csv"
      write(gone, "a\n1\n")
      val ok = fetch(s"select count(*) as n from '$gone'")
      assert(ok.statusCode() == 200 && ok.body().contains("\"rows\":[[\"1\"]]"))
      Files.delete(Paths.get(gone))
      assert(fetch(s"select count(*) as n from '$gone'").statusCode() == 404)
    } finally api.stop()
  }
}
