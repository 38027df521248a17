package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.operators.Similarity
import graft.streaming.StreamingEvents
import org.apache.spark.graftglue.ListenerCount
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Conf overrides stay inside the work that asked for them: queries
  * running beside a training loop or a stream drain on the same session
  * keep the session's settings, and a query leaves its session's conf
  * as it found it.
  */
class SessionConfSpec extends AnyFunSuite {
  import SparkTestSession._

  /** Run `work` on its own threads while the test thread calls `poll`
    * until they finish; `work`'s failures are rethrown.
    */
  private def alongside(work: (() => Unit)*)(poll: => Unit): Int = {
    val errors = new ConcurrentLinkedQueue[Throwable]
    val threads = work.map(w => new Thread(() =>
      try w() catch { case e: Throwable => errors.add(e) }))
    threads.foreach(_.start())
    var polls = 0
    while (threads.exists(_.isAlive)) { poll; polls += 1 }
    threads.foreach(_.join())
    errors.asScala.headOption.foreach(e => throw e)
    polls
  }

  test("a k-means training loop leaves AQE on for concurrent queries") {
    val corpus = Tables(spark, sfDir, "embeddings")
    val bad = new ConcurrentLinkedQueue[String]
    val polls = alongside(() => Similarity.kmeansCentroids(corpus, k = 8, iters = 12).collect()) {
      val agg = spark.range(200).groupBy((col("id") % 7).as("g")).count()
      agg.collect()
      val plan = agg.queryExecution.executedPlan
      val aqe = spark.conf.get("spark.sql.adaptive.enabled")
      if (!plan.isInstanceOf[AdaptiveSparkPlanExec] || aqe != "true")
        bad.add(s"root ${plan.nodeName}, spark.sql.adaptive.enabled=$aqe")
    }
    assert(polls >= 3, s"only $polls polls ran beside the training loop")
    val failed = bad.size
    assert(failed == 0, s"of $polls polls; first: ${bad.peek}")
  }

  test("concurrent stream drains leave the session's shuffle partitions alone") {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "8")
    try {
      val events = Tables(spark, sfDir, "events")
      val seen = new ConcurrentLinkedQueue[String]
      val polls = alongside(
        () => StreamingEvents.runWindowAgg(spark, events).collect(),
        () => StreamingEvents.runAttribution(spark, events, saltBuckets = 4).collect()) {
        seen.add(spark.conf.get(key))
        Thread.sleep(5)
      }
      val off = seen.asScala.filter(_ != "8")
      val failed = off.size
      assert(failed == 0, s"of $polls polls read ${off.toSet} while the drains ran")
      assert(spark.conf.get(key) == "8", "after the drains")
    } finally spark.conf.set(key, prev)
  }

  test("queries leave a fresh session's conf unchanged, and drains leave no listeners") {
    val s = spark.newSession()
    val before = s.conf.getAll
    for (name <- Seq("quality_classifier", "sim_topk_ivf", "evt_attribution_stream",
        "text_heavy_hitters_stream", "opt_dynamic_overwrite"))
      SparkEntry.queries(name)(s, sfDir).collect()
    val after = s.conf.getAll
    val changed = (before.keySet ++ after.keySet).filter(k => before.get(k) != after.get(k))
    assert(changed.isEmpty,
      s"conf changed: ${changed.map(k => s"$k: ${before.get(k)} -> ${after.get(k)}").mkString(", ")}")

    val events = Tables(s, sfDir, "events")
    def drain(): Unit = StreamingEvents.runWindowAgg(s, events, batches = 2).collect()
    drain()
    val afterOne = ListenerCount(s.sparkContext)
    (2 to 10).foreach(_ => drain())
    assert(ListenerCount(s.sparkContext) == afterOne, "listeners after 10 drains vs after 1")
  }
}
