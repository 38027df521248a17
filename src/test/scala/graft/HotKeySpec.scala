package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The derived-corpus hot-key arm made measurable at test scale: one
  * user carrying ~20% of all events (tools/make_sf_derived.py
  * `hotFrac`, user 4242424242) must trigger AQE's runtime skew split
  * inside the REAL pipeline operators — not just ScaleOpsSpec's
  * planted join. Skew thresholds are scaled to test data the same way
  * that spec does; results are asserted identical with the
  * optimization on and off.
  *
  * The shuffle width is pinned at 32 next to those thresholds.
  * OptimizeSkewedJoin splits a partition only when it exceeds
  * `skewedPartitionFactor` x the median partition size, and a key
  * carrying share h of the rows over N hash partitions gives
  * hot / median = 1 + N*h/(1-h). At factor 2 a split needs
  * N > (1-h)/h: N > 4 for this spec's h = 0.2. The session's default
  * width follows the host's cores, so without the pin a 4-core host
  * sits exactly at the factor and never splits.
  *
  * Two shapes, because they exercise the two AQE skew regimes:
  *  - attribution's interval join emits the raw pair relation with no
  *    downstream partitioning demand, so OptimizeSkewedJoin fires in
  *    its default configuration;
  *  - the same join feeding a groupBy(user_id) REUSES the join's hash
  *    partitioning, so splitting would add an exchange and default AQE
  *    declines — the hot-key deployment enables
  *    forceOptimizeSkewedJoin, paying a post-partial-agg (per-user
  *    rows, map-side combined) exchange to unblock the straggler.
  *
  * Funnel is deliberately NOT asserted here: its stage joins sit on
  * top of final min-aggregates (SMJ ← Filter ← HashAggregate ←
  * shuffle), which OptimizeSkewedJoin's SMJ-over-shuffle-stage pattern
  * can never match — and doesn't need to, because the hot user's rows
  * collapse in the map-side-combined partial aggregate BEFORE the
  * join: funnel's skew exposure is one partial-agg partition, not a
  * join straggler.
  */
class HotKeySpec extends AnyFunSuite {
  import SparkTestSession._

  private val HotUser = 4242424242L

  /** ~240k synthetic events, exactly 20% on the hot user; 4 event
    * types; ts spaced 977 µs apart so interval-join fan-out stays
    * bounded by the window, not the hot-user volume.
    */
  private def hotEvents: DataFrame =
    spark.range(240000).select(
      col("id").as("event_id"),
      when(col("id") % 5 === 0, HotUser)
        .otherwise(pmod(col("id") * 2654435761L, lit(40000L))).as("user_id"),
      timestamp_micros(pmod(col("id") * 977L, lit(86400000000L)) +
        lit(1700000000000000L)).as("ts"),
      element_at(
        array(lit("view"), lit("click"), lit("purchase"), lit("scroll")),
        (pmod(col("id") * 40503L, lit(4L)) + 1).cast("int")).as("event_type"))

  private val skewConfs = Seq(
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes",
    "spark.sql.adaptive.forceOptimizeSkewedJoin",
    "spark.sql.adaptive.enabled",
    "spark.sql.shuffle.partitions")

  private def withSkewScale(force: Boolean)(body: => Unit): Unit = {
    val keep = skewConfs.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16k")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16k")
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", force.toString)
      body
    } finally keep.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("AQE splits the hot-user attribution interval join at runtime") {
    val ev = hotEvents
    withSkewScale(force = false) {
      val pairs = streaming.Events.attribution(ev, window = "1 minute")
        .agg(count(lit(1)).as("n"), sum(col("lag_us")).as("lag"))
      val row = pairs.collect().head
      val plan = pairs.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"hot-user pair join must be skew-split in the adaptive plan:\n$plan")
      // identical result without AQE (plain SMJ, no split)
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val base = streaming.Events.attribution(ev, window = "1 minute")
        .agg(count(lit(1)).as("n"), sum(col("lag_us")).as("lag")).collect().head
      assert(row == base, s"skew-split changed the result: $row vs $base")
      assert(row.getLong(0) > 0)
    }
  }

  /** The pair join feeding groupBy(user_id): its hash partitioning is
    * demanded downstream, so the split needs forcing.
    */
  private def perUserLag(ev: DataFrame): DataFrame =
    streaming.Events.attribution(ev, window = "1 minute")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_pairs"), max(col("lag_us")).as("max_lag"))

  test("forced AQE skew split unblocks the partition-reusing per-user rollup") {
    val ev = hotEvents
    withSkewScale(force = false) {
      val declined = perUserLag(ev)
      declined.collect()
      assert(!declined.queryExecution.executedPlan.toString.contains("skew=true"),
        "default AQE must decline the split when the join partitioning is reused")
    }
    withSkewScale(force = true) {
      val forced = perUserLag(ev)
      val rows = forced.collect().sortBy(_.getLong(0))
      val plan = forced.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"per-user rollup join must be skew-split under force:\n$plan")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val base = perUserLag(ev).collect().sortBy(_.getLong(0))
      assert(rows.map(_.toString).sameElements(base.map(_.toString)),
        "forced skew split changed per-user rollup results")
      assert(rows.exists(r => r.getLong(0) == HotUser && r.getLong(1) > 0))
    }
  }
}
