package graft.streaming

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Event-stream operators (SURVEY.md §2E) — the same declarative
  * transforms run in batch (for the oracle gate) and under Structured
  * Streaming (watermark + windowed state). At scale the streaming
  * variant's state is bounded by the watermark; the batch variant is a
  * plain two-level aggregate.
  */
object Events {

  /** Tumbling 1-hour aggregate per event type. */
  def hourlyAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 6))).cast("double").as("sum_value"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH").as("hour"),
        col("event_type"), col("n"), col("sum_value"))

  /** Hopping (sliding) window aggregation: 2-hour windows every hour —
    * each event contributes to size/slide = 2 overlapping windows.
    * Spark's `window(ts, size, slide)` explodes the window instances
    * BEFORE the aggregate, so the whole thing stays one map-side-
    * combinable hash aggregate (the same shape a readStream would run
    * verbatim with a watermark); exchange = distinct (window, type)
    * pairs × 2, never raw events.
    */
  def slidingAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 6))).cast("double").as("sum_value"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH").as("win_start"),
        col("event_type"), col("n"), col("sum_value"))

  /** Hourly-count anomaly detection per event type: hours whose event
    * count sits ≥ `threshold` population standard deviations from that
    * type's mean hourly count.
    *
    * The z-score is computed on its INTEGER core,
    * `z = (n·K − Σn) / sqrt(K·Σn² − (Σn)²)`, so both engines evaluate
    * one exact integer numerator/radicand, one correctly-rounded sqrt
    * and one division — bit-identical doubles with no epsilon. Scale:
    * two aggregates bounded by distinct (type, hour) pairs, then a
    * broadcast of the per-type stats (O(#types) rows) — raw events are
    * partially aggregated map-side and never re-shuffled.
    */
  def hourlyAnomaly(events: DataFrame, threshold: Double = 2.0): DataFrame = {
    val hourly = events
      .groupBy(col("event_type"),
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH").as("hour"))
      .agg(count(lit(1)).as("n"))
    val stats = hourly
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("k"), sum(col("n")).as("s"),
        sum(col("n") * col("n")).as("ss"))
    val z = (col("n") * col("k") - col("s")).cast("double") /
      sqrt((col("k") * col("ss") - col("s") * col("s")).cast("double"))
    hourly
      .join(broadcast(stats), "event_type")
      .filter(col("k") * col("ss") > col("s") * col("s"))
      .withColumn("z", z)
      .filter(abs(col("z")) >= threshold)
      .select(col("event_type"), col("hour"), col("n"), col("z"))
  }

  /** Gap-based sessionization per user via `session_window`, rolled up
    * to per-user session stats. A session extends while consecutive
    * events arrive within `gap`.
    */
  def sessionStats(events: DataFrame, gap: String = "1 day"): DataFrame =
    events
      .groupBy(session_window(col("ts"), gap).as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("n")).as("n_events"),
        max(col("n")).as("max_session_events"))

  /** Ordered conversion funnel over `stages` (first-touch semantics):
    * a user reaches stage i+1 with the EARLIEST stage-i+1 event
    * strictly after their stage-i reach time. Returns one row per
    * stage with the user count. Three filtered min-aggregates chained
    * by user-keyed joins — each stage's relation shrinks, every
    * aggregate is map-side combinable, and nothing is ever globally
    * sorted; the standard scale shape for funnel analytics.
    */
  /** Zero-padded stage prefix so lexicographic order == funnel order
    * even past 9 stages — shared with the streaming funnel so the
    * drained stream is oracle-equal to batch.
    */
  private[graft] def stageLabel(i: Int, s: String): String = f"${i + 1}%02d_$s"

  def funnel(events: DataFrame,
      stages: Seq[String] = Seq("view", "click", "purchase")): DataFrame = {
    require(stages.nonEmpty)
    def label(i: Int, s: String) = stageLabel(i, s)
    var reached = events.filter(col("event_type") === stages.head)
      .groupBy(col("user_id")).agg(min(col("ts")).as("_t"))
    var out = reached.agg(count(lit(1)).as("n_users"))
      .withColumn("stage", lit(label(0, stages.head)))
    stages.zipWithIndex.drop(1).foreach { case (s, i) =>
      reached = events.filter(col("event_type") === s)
        .join(reached.select(col("user_id"), col("_t").as("_prev")), "user_id")
        .filter(col("ts") > col("_prev"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("_t"))
      out = out.unionByName(reached.agg(count(lit(1)).as("n_users"))
        .withColumn("stage", lit(label(i, s))))
    }
    out.select(col("stage"), col("n_users"))
  }

  /** Weekly retention cohorts: users cohorted by their FIRST `anchor`
    * event's week; retained(k) = cohort members with ANY event in
    * cohort-week + k. Two aggregates and one broadcast-able join —
    * the (user, week) distinct relation is bounded by users×weeks,
    * never raw events, and nothing globally sorts.
    */
  def retention(events: DataFrame, anchor: String = "signup",
      maxWeeks: Int = 4): DataFrame = {
    val week = (c: org.apache.spark.sql.Column) =>
      floor(unix_timestamp(c) / lit(7L * 24 * 3600)).cast("long")
    val cohorts = events.filter(col("event_type") === anchor)
      .groupBy(col("user_id")).agg(min(week(col("ts"))).as("cohort_week"))
    val active = events.select(col("user_id"), week(col("ts")).as("_w")).distinct()
    cohorts.join(active, "user_id")
      .withColumn("week_offset", (col("_w") - col("cohort_week")).cast("int"))
      .filter(col("week_offset") >= 0 && col("week_offset") < maxWeeks)
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  /** Streaming source over the events parquet, with the same
    * nanosecond handling as the batch loader (Tables.apply).
    */
  def stream(spark: SparkSession, sfDir: String): DataFrame = {
    val path = s"$sfDir/events.parquet"
    val rawSchema = spark.read.parquet(path).schema
    // the file-stream source monitors a DIRECTORY; stage the single
    // table file into one via symlink (a real deployment streams a
    // landing directory to begin with)
    val dir = java.nio.file.Files.createTempDirectory("graft-evt-stream")
    val link = java.nio.file.Files.createSymbolicLink(
      dir.resolve("events.parquet"), java.nio.file.Paths.get(path))
    // staging artifacts die with the JVM instead of accumulating
    link.toFile.deleteOnExit()
    dir.toFile.deleteOnExit()
    graft.Tables.normalizeEventTs(
      spark.readStream.schema(rawSchema).parquet(dir.toString))
  }

  /** Top event-type trigram paths: each user's ts-ordered event
    * sequence contributes its consecutive type triples; output the 20
    * most common "a>b>c" paths — the navigation-pattern report of an
    * event pipeline. One user-keyed shuffle feeds the window (state
    * bounded per user); the path count agg is map-side combinable;
    * top-20 is TakeOrderedAndProject, never a global sort.
    */
  def topPaths(events: DataFrame, k: Int = 20): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("_n1", lead(col("event_type"), 1).over(w))
      .withColumn("_n2", lead(col("event_type"), 2).over(w))
      .filter(col("_n1").isNotNull && col("_n2").isNotNull)
      .select(concat_ws(">", col("event_type"), col("_n1"), col("_n2")).as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path")).limit(k)
  }

  /** Click→view attribution pairs: every (click, view) by the same
    * user with the view inside the `window` before the click —
    * the batch shape of a watermarked STREAM-STREAM interval join
    * (see [[StreamingEvents.runAttribution]]). Output is the pair
    * relation with the view→click lag in µs; downstreams apply their
    * own attribution policy (last-touch = min lag per click, linear =
    * weight 1/n, …) — policies are cheap once the pairs exist.
    *
    * 100 TB shape: ONE shuffle, both sides hash-partitioned by
    * user_id; per-user state is bounded by the interval (a user's
    * views within 4 h), so no quadratic blowup exists unless one user
    * spams both event types inside the window — the same bound the
    * streaming variant's watermark enforces as state cleanup.
    */
  def attribution(events: DataFrame, window: String = "4 hours"): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("c_ts"))
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        col("ts").as("v_ts"))
    clicks.join(views,
        col("user_id") === col("v_user") &&
          col("v_ts") <= col("c_ts") &&
          col("v_ts") >= col("c_ts") - expr(s"INTERVAL $window"))
      .select(col("user_id"), col("click_id"), col("view_id"),
        (unix_micros(col("c_ts")) - unix_micros(col("v_ts"))).as("lag_us"))
  }

  /** Streaming tumbling-window aggregate with a watermark bounding
    * state; used by the streaming spec through a memory sink.
    */
  def streamingHourlyAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH").as("hour"),
        col("event_type"), col("n"))
}
