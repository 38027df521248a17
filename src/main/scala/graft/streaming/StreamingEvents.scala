package graft.streaming

import graft.GraftSession
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftglue.Bridge
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQueryListener, Trigger}

/** Incremental funnel + retention analytics over an event STREAM —
  * the stateful counterparts of [[Events.funnel]] / [[Events.retention]]
  * producing the SAME oracle-checked tables when drained (the pattern
  * of [[StreamingDedup]]/[[StreamingCuration]], extended to operators
  * whose per-user derivation can CHANGE as late facts arrive).
  *
  * The robustness trick is a per-user CHANGELOG: `flatMapGroupsWithState`
  * keeps each user's raw facts (stage event times / active weeks +
  * cohort), recomputes the user's derived row set every batch, and
  * emits weighted diffs — +1 for rows entering the set, -1 for rows
  * leaving it (a late signup can move a user's cohort; a late view can
  * re-time a funnel stage). The downstream aggregate sums weights, so
  * the drained table equals batch regardless of event arrival order —
  * no ordering assumption on the stream at all.
  *
  * Scale notes: state per user is O(their funnel-stage events /
  * distinct active weeks), not O(events); every update function and
  * runner takes a `ttl`/`stateTtl` (the [[StreamingDedup.emitPairs]]
  * pattern: `ProcessingTimeTimeout` + `setTimeoutDuration` re-armed on
  * each arrival, expired keys dropped) so a deployment bounds state by
  * its analysis horizon — a user idle past the TTL is retired, with the
  * rows it had emitted RETRACTED at expiry (retire = forget the facts
  * AND their contribution; a key reappearing later re-counts from
  * fresh state without double-counting), so the drained table equals
  * batch over the live-horizon keys. The oracle
  * gate leaves the TTL unset (NoTimeout): with no horizon the drained
  * table equals batch under ANY arrival order, which is what the
  * DuckDB oracle checks. StreamingSpec asserts the expiry path for all
  * five via TestGroupState.
  */
object StreamingEvents {

  /** Temp dirs that back LAZY relations returned to callers (file-sink
    * output a drain hands back unread). They cannot be deleted eagerly —
    * the caller's plan still points at them — and
    * `Files.createTempDirectory` dirs are NOT reclaimed by the OS on
    * JVM exit (deleteOnExit can't remove non-empty trees), so each is
    * registered here and a single shutdown hook removes the lot; a
    * 25×-stress drain can land >1 GB per sink, which repeated
    * bench/verify JVMs would otherwise permanently leak into tmp.
    */
  private[streaming] object SinkJanitor {
    private val dirs = java.util.concurrent.ConcurrentHashMap.newKeySet[java.nio.file.Path]()
    sys.addShutdownHook(dirs.forEach(rmTree(_)))
    def register(p: java.nio.file.Path): java.nio.file.Path = { dirs.add(p); p }
  }

  /** Recursively delete a temp tree (children before parents). */
  private[graft] def rmTree(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).iterator().asScala.toSeq
        .sortBy(-_.getNameCount).foreach(java.nio.file.Files.deleteIfExists(_))
  }

  /** [[StreamingDedup]]'s timeout selection, shared by the five
    * changelog runners: a set TTL needs the processing-time clock.
    */
  private def timeoutFor(ttl: Option[String]): GroupStateTimeout =
    if (ttl.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
    else GroupStateTimeout.NoTimeout()

  /** times(i) = every stage-i event time seen so far (µs); emitted =
    * stage labels already counted downstream.
    */
  case class FunnelState(times: Seq[Seq[Long]], emitted: Seq[String])

  /** Recompute the user's reached-stage set from ALL times seen (the
    * batch first-touch recurrence: t_i = min stage-i time strictly
    * after t_{i-1}), emit newly reached stages. Reachability is
    * monotone under fact arrival — adding events can only lower the
    * thresholds — so LIVE funnel diffs are always +1; the only -1s a
    * funnel changelog carries are the TTL-expiry retractions below.
    */
  private[graft] def funnelUpdate(stages: Seq[String], ttl: Option[String] = None)(
      user: Long,
      rows: Iterator[(Long, Int, Long)],
      state: GroupState[FunnelState]): Iterator[(String, Long)] = {
    if (state.hasTimedOut) {
      // Retire = RETRACT: expiry drops the user's state AND the rows it
      // emitted, so the drained table equals batch over live-horizon
      // users only. Without this a user reappearing after expiry would
      // re-emit from fresh state and double-count against the stale
      // rows left in the sink.
      val gone = state.getOption.map(_.emitted).getOrElse(Nil)
      state.remove()
      return gone.iterator.map(s => (s, -1L))
    }
    val prev = state.getOption.getOrElse(FunnelState(Seq.fill(stages.size)(Nil), Nil))
    val times: Array[List[Long]] = prev.times.map(_.toList).toArray
    rows.foreach { case (_, si, t) => times(si) = t :: times(si) }
    var reached = List.empty[String]
    var tPrev = 0L
    var i = 0
    var ok = true
    while (ok && i < stages.size) {
      val cand = if (i == 0) times(0) else times(i).filter(_ > tPrev)
      if (cand.isEmpty) ok = false
      else {
        tPrev = cand.min
        reached = Events.stageLabel(i, stages(i)) :: reached
        i += 1
      }
    }
    val newly = reached.filterNot(prev.emitted.contains)
    state.update(FunnelState(times.toSeq.map(_.toSeq), prev.emitted ++ newly))
    ttl.foreach(state.setTimeoutDuration)
    newly.iterator.map(s => (s, 1L))
  }

  /** cohort = min anchor week seen (Long.MaxValue = none yet); weeks =
    * distinct active weeks; emitted = (cohort_week, week_offset) rows
    * currently counted downstream.
    */
  case class RetentionState(cohort: Long, weeks: Seq[Long], emitted: Seq[(Long, Int)])

  private[graft] def retentionUpdate(maxWeeks: Int, ttl: Option[String] = None)(
      user: Long,
      rows: Iterator[(Long, Long, Boolean)],
      state: GroupState[RetentionState]): Iterator[(Long, Int, Long)] = {
    if (state.hasTimedOut) { // retire = retract (see funnelUpdate)
      val gone = state.getOption.map(_.emitted).getOrElse(Nil)
      state.remove()
      return gone.iterator.map(p => (p._1, p._2, -1L))
    }
    val prev = state.getOption.getOrElse(RetentionState(Long.MaxValue, Nil, Nil))
    var cohort = prev.cohort
    val weeks = scala.collection.mutable.Set(prev.weeks: _*)
    rows.foreach { case (_, w, anchor) =>
      weeks += w
      if (anchor) cohort = math.min(cohort, w)
    }
    val current: Set[(Long, Int)] =
      if (cohort == Long.MaxValue) Set.empty
      else weeks.iterator.map(w => (cohort, (w - cohort).toInt))
        .filter(p => p._2 >= 0 && p._2 < maxWeeks).toSet
    val old = prev.emitted.toSet
    state.update(RetentionState(cohort, weeks.toSeq, current.toSeq))
    ttl.foreach(state.setTimeoutDuration)
    (current -- old).iterator.map(p => (p._1, p._2, 1L)) ++
      (old -- current).iterator.map(p => (p._1, p._2, -1L))
  }

  /** times = event micro-timestamps seen so far; emitted = the
    * (n_sessions, n_events, max_session_events) row currently counted
    * downstream for this user.
    */
  case class SessionState(times: Seq[Long], emitted: Seq[(Long, Long, Long)])

  /** Recompute the user's gap-based session stats from ALL times seen —
    * a late event can MERGE two sessions (non-monotone), so the old
    * row is retracted (-1) and the new one emitted (+1), the same
    * changelog device as [[retentionUpdate]]/[[anomalyUpdate]].
    */
  private[graft] def sessionizeUpdate(gapUs: Long, ttl: Option[String] = None)(
      user: Long,
      rows: Iterator[(Long, Long)],
      state: GroupState[SessionState]): Iterator[(Long, Long, Long, Long, Long)] = {
    if (state.hasTimedOut) { // retire = retract (see funnelUpdate)
      val gone = state.getOption.map(_.emitted).getOrElse(Nil)
      state.remove()
      return gone.iterator.map(t => (user, t._1, t._2, t._3, -1L))
    }
    val prev = state.getOption.getOrElse(SessionState(Nil, Nil))
    val times = (prev.times ++ rows.map(_._2)).sorted
    var nSessions = 0L
    var nEvents = 0L
    var maxLen = 0L
    var curLen = 0L
    var last = Long.MinValue
    times.foreach { t =>
      if (last == Long.MinValue || t - last >= gapUs) { nSessions += 1; curLen = 0 }
      curLen += 1
      nEvents += 1
      if (curLen > maxLen) maxLen = curLen
      last = t
    }
    val current: Set[(Long, Long, Long)] =
      if (times.isEmpty) Set.empty else Set((nSessions, nEvents, maxLen))
    val old = prev.emitted.toSet
    state.update(SessionState(times, current.toSeq))
    ttl.foreach(state.setTimeoutDuration)
    (current -- old).iterator.map(t => (user, t._1, t._2, t._3, 1L)) ++
      (old -- current).iterator.map(t => (user, t._1, t._2, t._3, -1L))
  }

  /** Drive incremental sessionization; drained ≡ batch
    * [[Events.sessionStats]] under the same oracle. State per user is
    * their event times; a deployment bounds it by retiring times older
    * than the session horizon (gap + watermark), the usual TTL.
    */
  def runSessionize(spark: SparkSession, events: DataFrame,
      gapUs: Long = 86400000000L, batches: Int = 3,
      stateTtl: Option[String] = None,
      arrivalSalt: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val us = gapUs
    val prepared = events.select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
    drain(spark, prepared, batches, "ts_us", "sessionize-stream", arrivalSalt, selfTerminating = stateTtl.isEmpty) { stream =>
      stream.as[(Long, Long)]
        .groupByKey(_._1)
        .flatMapGroupsWithState(OutputMode.Append(), timeoutFor(stateTtl))(
          sessionizeUpdate(us, stateTtl))
        .toDF("user_id", "n_sessions", "n_events", "max_session_events", "weight")
        .groupBy(col("user_id"), col("n_sessions"), col("n_events"),
          col("max_session_events"))
        .agg(sum(col("weight")).as("w"))
        .filter(col("w") > 0)
        .select(col("user_id"), col("n_sessions"), col("n_events"),
          col("max_session_events"))
    }
  }

  /** One user's event timeline so far: (tsMicros, eventId, eventType). */
  case class PathState(events: Seq[(Long, Long, String)])

  /** Incremental per-user trigram paths: each batch merges the user's
    * new events into the ordered timeline and diffs the trigram
    * MULTISET before/after as a ±1 changelog — a late event inserted
    * mid-timeline retracts the trigrams it splits and asserts the ones
    * it creates, so the drained counts equal batch [[Events.topPaths]]
    * under any arrival order. State is the user's own timeline
    * (bounded by per-user activity; a deployment ages it out past the
    * analysis horizon with a timeout).
    */
  private[graft] def pathsUpdate(ttl: Option[String] = None)(
      userId: Long,
      rows: Iterator[(Long, Long, Long, String)],
      state: GroupState[PathState]): Iterator[(String, Long)] = {
    def trigrams(ev: Seq[(Long, Long, String)]): Map[String, Long] =
      ev.sortBy(e => (e._1, e._2)).sliding(3).filter(_.length == 3)
        .map(w => w.map(_._3).mkString(">"))
        .foldLeft(Map.empty[String, Long]) { (m, p) =>
          m.updated(p, m.getOrElse(p, 0L) + 1L)
        }
    if (state.hasTimedOut) { // retire = retract (see funnelUpdate)
      val gone = state.getOption.map(s => trigrams(s.events)).getOrElse(Map.empty)
      state.remove()
      return gone.iterator.map { case (p, n) => (p, -n) }
    }
    val prev = state.getOption.getOrElse(PathState(Nil))
    val next = PathState(prev.events ++ rows.map(r => (r._2, r._3, r._4)))
    state.update(next)
    ttl.foreach(state.setTimeoutDuration)
    val before = trigrams(prev.events)
    val after = trigrams(next.events)
    (before.keySet ++ after.keySet).iterator.flatMap { p =>
      val d = after.getOrElse(p, 0L) - before.getOrElse(p, 0L)
      if (d != 0L) Iterator((p, d)) else Iterator.empty
    }
  }

  /** Drive the incremental path counter; drained ≡ batch
    * [[Events.topPaths]] under the same oracle (top-20 cut applied on
    * the drained counts, exactly as batch applies it after its
    * aggregate).
    */
  def runPaths(spark: SparkSession, events: DataFrame,
      k: Int = 20, batches: Int = 3,
      stateTtl: Option[String] = None,
      arrivalSalt: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val prepared = events.select(col("user_id"),
      unix_micros(col("ts")).as("tsu"), col("event_id"), col("event_type"))
    val drained = drain(spark, prepared, batches, "tsu", "paths", arrivalSalt, selfTerminating = stateTtl.isEmpty) { stream =>
      stream.as[(Long, Long, Long, String)]
        .groupByKey(_._1)
        .flatMapGroupsWithState(OutputMode.Append(), timeoutFor(stateTtl))(
          pathsUpdate(stateTtl))
        .toDF("path", "weight")
        .groupBy(col("path"))
        .agg(sum(col("weight")).as("n"))
        .filter(col("n") > 0)
    }
    drained.orderBy(col("n").desc, col("path")).limit(k)
  }

  /** counts = hourly event counts seen so far for this type; emitted =
    * (hour, n, z) anomaly rows currently counted downstream.
    */
  case class AnomalyState(counts: Map[String, Long], emitted: Seq[(String, Long, Double)])

  /** Recompute the type's full anomaly set each batch — every event
    * shifts the type's mean/std, so membership is NOT monotone: rows
    * are retracted (-1) when an hour stops being anomalous and emitted
    * (+1) when it starts. The z arithmetic is the same integer core as
    * [[Events.hourlyAnomaly]] (n·K − Σn over sqrt(K·Σn² − (Σn)²)), so
    * the drained values are bit-identical to batch.
    */
  private[graft] def anomalyUpdate(threshold: Double, ttl: Option[String] = None)(
      eventType: String,
      rows: Iterator[(String, String)],
      state: GroupState[AnomalyState]): Iterator[(String, String, Long, Double, Long)] = {
    if (state.hasTimedOut) { // retire = retract (see funnelUpdate)
      val gone = state.getOption.map(_.emitted).getOrElse(Nil)
      state.remove()
      return gone.iterator.map(t => (eventType, t._1, t._2, t._3, -1L))
    }
    val prev = state.getOption.getOrElse(AnomalyState(Map.empty, Nil))
    val counts = scala.collection.mutable.Map(prev.counts.toSeq: _*)
    rows.foreach { case (_, h) => counts(h) = counts.getOrElse(h, 0L) + 1L }
    val k = counts.size.toLong
    val s = counts.valuesIterator.sum
    val ss = counts.valuesIterator.map(n => n * n).sum
    val current: Set[(String, Long, Double)] =
      if (k * ss <= s * s) Set.empty
      else {
        val rad = math.sqrt((k * ss - s * s).toDouble)
        counts.iterator
          .map { case (h, n) => (h, n, (n * k - s).toDouble / rad) }
          .filter(t => math.abs(t._3) >= threshold).toSet
      }
    val old = prev.emitted.toSet
    state.update(AnomalyState(counts.toMap, current.toSeq))
    ttl.foreach(state.setTimeoutDuration)
    (current -- old).iterator.map(t => (eventType, t._1, t._2, t._3, 1L)) ++
      (old -- current).iterator.map(t => (eventType, t._1, t._2, t._3, -1L))
  }

  /** Drive the incremental anomaly detector; drained ≡ batch
    * [[Events.hourlyAnomaly]] under the same oracle. State per type is
    * O(distinct hours); a deployment bounds it by retiring hours past
    * the monitoring horizon (the TTL pattern of [[StreamingDedup]]).
    */
  def runAnomaly(spark: SparkSession, events: DataFrame,
      threshold: Double = 2.0, batches: Int = 3,
      stateTtl: Option[String] = None,
      arrivalSalt: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val prepared = events.select(col("event_type"),
      date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH").as("hour"))
    drain(spark, prepared, batches, "hour", "anomaly-stream", arrivalSalt, selfTerminating = stateTtl.isEmpty) { stream =>
      stream.as[(String, String)]
        .groupByKey(_._1)
        .flatMapGroupsWithState(OutputMode.Append(), timeoutFor(stateTtl))(
          anomalyUpdate(threshold, stateTtl))
        .toDF("event_type", "hour", "n", "z", "weight")
        .groupBy(col("event_type"), col("hour"), col("n"), col("z"))
        .agg(sum(col("weight")).as("w"))
        .filter(col("w") > 0)
        .select(col("event_type"), col("hour"), col("n"), col("z"))
    }
  }

  /** Confs a drain runs its query under, on a child session
    * ([[graft.GraftSession.withConf]]).
    *
    * `spark.sql.shuffle.partitions` lowered to 4, never raised: every
    * stateful streaming operator keeps one state store PER shuffle
    * partition PER micro-batch version, so 32 partitions × a handful
    * of stores × triggers is pure checkpoint overhead at drain scale
    * (the staged corpora are MBs). Results are
    * partition-count-independent — only wall time changes. A
    * production deployment sizes this to its actual key cardinality
    * instead.
    *
    * `skipNoDataBatch` turns `spark.sql.streaming.noDataMicroBatches
    * .enabled` off. An AvailableNow drain whose pipeline arms NO
    * timeouts gains nothing from the trailing zero-row micro-batch
    * Spark otherwise appends (it exists to advance watermarks so
    * timeouts fire and outer-join/append-mode aggregate results
    * flush): inner-join matches and changelog emissions all happen in
    * DATA batches, so the extra batch is one full state-store commit
    * cycle of pure overhead per drain — measured 1.6 s (unsalted) to
    * 9.5 s (salted, 16 partitions × 4 join stores) on the attribution
    * drains at sf0.1. Drains that DO arm ProcessingTimeTimeout
    * (stateTtl set) keep the caller's setting: their timeouts fire in
    * no-data batches.
    */
  private[streaming] def drainConf(spark: SparkSession, skipNoDataBatch: Boolean)
      : Seq[(String, String)] = {
    val parts = math.min(4, spark.conf.get("spark.sql.shuffle.partitions").toInt)
    ("spark.sql.shuffle.partitions" -> parts.toString) +:
      Option.when(skipNoDataBatch)(noDataBatchesOff).toSeq
  }
  private val noDataBatchesOff = "spark.sql.streaming.noDataMicroBatches.enabled" -> "false"

  /** Run `body` (a drain) against `df`'s STATIC side materialized
    * once — without this the static subplan of a stream-static join
    * re-evaluates every micro-batch (measured: the corpus shingle pass
    * ran 2 joins × 3 batches = 6 times per dedup drain) — and release
    * it when `body` returns, so the drain's query must have terminated
    * by then and its result must not read the static side. Strategy
    * is `spark.graft.stream.staticSide`:
    *
    *  - `localCheckpoint` (default): cheapest — but lineage is
    *    truncated and the blocks are UNREPLICATED, so on an executor
    *    loss mid-drain the query fails instead of recomputing. Right
    *    for local mode and the gate; wrong under dynamic allocation.
    *  - `persist`: MEMORY_AND_DISK_2 (2 replicas, eagerly built) —
    *    survives a single executor loss; lineage kept, so even a double
    *    loss recomputes instead of failing. The cluster deploy choice;
    *    the cache entry is dropped after `body`.
    *  - `checkpoint`: reliable checkpoint to the sc checkpoint dir
    *    (must be set; shared FS) — survives any loss, costs a write.
    */
  private[streaming] def withStatic[T](df: DataFrame)(body: DataFrame => T): T = {
    val static = df.sparkSession.conf
      .getOption("spark.graft.stream.staticSide")
      .getOrElse("localCheckpoint") match {
      case "localCheckpoint" => df.localCheckpoint()
      case "persist" =>
        val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_2)
        p.count() // eager: the first micro-batch must not pay the build
        p
      case "checkpoint" => df.checkpoint()
      case other => throw new IllegalArgumentException(
        s"spark.graft.stream.staticSide: unknown strategy '$other' " +
          "(expected localCheckpoint | persist | checkpoint)")
    }
    try body(static) finally static.unpersist()
  }

  /** Stage `prepared` as `batches` parquet files, stream them one per
    * trigger through `pipeline`, drain, decouple, return.
    *
    * `arrivalSalt`: when set, batches are cut by a seeded hash of the
    * range column instead of its value — every micro-batch then holds a
    * pseudo-random slice of the timeline, i.e. a maximally late-heavy
    * adversarial arrival order. The changelog operators must drain to
    * the same table regardless; StreamingAdversarialSpec asserts it
    * across seeds.
    */
  private[streaming] def drain(spark: SparkSession, prepared: DataFrame, batches: Int,
      rangeCol: String, sinkPrefix: String, arrivalSalt: Option[Long] = None,
      selfTerminating: Boolean = true)(
      pipeline: DataFrame => DataFrame): DataFrame = {
    // removed eagerly below — the drained relation is localCheckpointed
    // before return, so nothing references the staged files after that
    // (deleteOnExit cannot remove a non-empty tree)
    val dir = java.nio.file.Files.createTempDirectory(s"graft-$sinkPrefix")
    val batchKey = arrivalSalt
      .map(s => pmod(xxhash64(col(rangeCol).cast("string"), lit(s)), lit(batches * 4)))
      .getOrElse(col(rangeCol))
    prepared.repartitionByRange(batches, batchKey)
      .write.mode("overwrite").parquet(dir.toString)
    // `selfTerminating = false` (any pipeline arming ProcessingTimeTimeout):
    // MicroBatchExecution.shouldRunAnotherBatch is unconditionally true
    // once processing-time timeouts exist, so Trigger.AvailableNow NEVER
    // reaches its end-of-data stop — the query spins empty micro-batches
    // forever. Drain such pipelines by watching cumulative source input
    // rows and stopping once every staged row is committed.
    val staged = if (selfTerminating) -1L else spark.read.parquet(dir.toString).count()
    val sinkName = s"graft_${sinkPrefix.replace('-', '_')}_${System.nanoTime()}"
    val drained = GraftSession.withConf(spark, drainConf(spark, skipNoDataBatch = selfTerminating): _*) { child =>
      val stream = child.readStream
        .schema(prepared.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(dir.toString)
      // recentProgress is a bounded ring the empty-batch spin would
      // overwrite — accumulate input rows in a listener instead. The
      // listener registers BEFORE start() and matches on the sink/query
      // NAME (unique per drain via nanoTime): the listener bus is async,
      // so a listener added after start() can miss the first batches'
      // progress events, leaving `consumed` permanently short of
      // `staged` and spinning the drain into its 30-minute deadline.
      val consumed = new java.util.concurrent.atomic.AtomicLong
      if (!selfTerminating) child.streams.addListener(new StreamingQueryListener {
        override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
          if (e.progress.name == sinkName) consumed.addAndGet(e.progress.numInputRows)
      })
      val q = pipeline(stream)
        .writeStream.format("memory").queryName(sinkName)
        .outputMode(OutputMode.Complete()).trigger(Trigger.AvailableNow())
        .start()
      try {
        if (selfTerminating) q.awaitTermination()
        else {
          try {
            val deadline = System.nanoTime() + 30L * 60 * 1000000000L
            while (q.isActive && consumed.get() < staged && System.nanoTime() < deadline)
              Thread.sleep(100)
            if (consumed.get() < staged)
              throw new IllegalStateException(
                s"drain($sinkPrefix): ${consumed.get()}/$staged rows after deadline")
          } finally {
            q.stop()
            q.awaitTermination()
          }
        }
      } finally {
        if (q.isActive) q.stop()
        Bridge.releaseQuery(q)
      }
      // the caller gets a local checkpoint of the sink table, in its own
      // session; dropping the view frees the sink's rows
      try Bridge.ofRows(spark, child.table(sinkName)).localCheckpoint()
      finally child.catalog.dropTempView(sinkName)
    }
    rmTree(dir)
    drained
  }

  /** Tumbling-window aggregation over the staged stream — the
    * windowed-agg transform composes with streaming unchanged (one
    * stateful hash aggregate keyed by (window, type)); the
    * Complete-mode drain yields the batch [[Events.hourlyAgg]] table
    * exactly, so the SAME oracle gates both entries. A deployment
    * runs this with a watermark in Update mode; state is bounded by
    * open windows × types either way.
    */
  def runWindowAgg(spark: SparkSession, events: DataFrame, batches: Int = 3): DataFrame = {
    val prepared = events.select(col("ts"), col("event_type"), col("value"))
    drain(spark, prepared, batches, "ts", "window-agg")(Events.hourlyAgg)
  }

  /** Hopping-window (sliding) aggregation over the staged stream —
    * same drain contract as [[runWindowAgg]], twin of
    * [[Events.slidingAgg]] under the same oracle.
    */
  def runSlidingAgg(spark: SparkSession, events: DataFrame, batches: Int = 3): DataFrame = {
    val prepared = events.select(col("ts"), col("event_type"), col("value"))
    drain(spark, prepared, batches, "ts", "sliding-agg")(Events.slidingAgg)
  }

  /** Click→view attribution as a watermarked STREAM-STREAM interval
    * join — the one Structured Streaming join shape the other §2E
    * operators don't exercise. Both sides of [[Events.attribution]]'s
    * self-join read the same staged event stream; the time-range
    * predicate (`v_ts` within `window` before `c_ts`) plus the two
    * watermarks let Spark EVICT join state: a buffered view older than
    * `watermark − window` can never match a future click, so at scale
    * state is bounded by (events per user per window), not the stream
    * length.
    *
    * Drained ≡ batch: the staged batches are range-partitioned by ts,
    * so within-run disorder is bounded by one micro-batch and the
    * `delay` margin keeps every joinable row alive until its partner's
    * batch has arrived — the same oracle gates both entries.
    *
    * Skew safety is the DEFAULT (`saltBuckets = 0`, AUTO): Spark has
    * no AQE/salted path for stream-stream joins, so a hot key — the
    * planted 20%-of-traffic user at the 25× stress — serializes its
    * clicks × buffered-views probe onto ONE state partition (the r8
    * unsalted drain never finished where batch took 222.8 s). Auto
    * mode measures the per-key share with ONE SpaceSaving sketch pass
    * over the staged events (no key shuffle — the sketch partial-
    * aggregates; overestimates only, so detection errs toward salting)
    * and salts ONLY the keys above `hotShareBound`: each hot click
    * takes one of N salts (hash of its id), hot views replicate across
    * all N, cold keys keep salt 0 — every pair still matches exactly
    * once, in the click's salt bucket, so the drained output is
    * IDENTICAL (spec-asserted vs unsalted and vs batch), while the hot
    * key's probe fans out N ways. Targeting is what keeps the salted
    * plan cheap: view state grows by N× only for the HOT keys' views
    * (the r8 salt-everything arm paid N× total view state — its ~12×
    * drain tax), and N is sized so each salted sub-key carries ≤2.5%
    * of events. `saltBuckets = 1` forces the unsalted plan;
    * `saltBuckets > 1` forces N salts for EVERY key (the parity probe
    * arm). `rocksDbState` switches the drain's state store to RocksDB
    * — the deployment backend for state past executor heap.
    */
  def runAttribution(spark: SparkSession, events: DataFrame,
      window: String = "4 hours", delay: String = "8 hours",
      batches: Int = 3, saltBuckets: Int = 0, hotShareBound: Double = 0.05,
      rocksDbState: Boolean = false): DataFrame = {
    val prepared = events
      .filter(col("event_type").isin("click", "view"))
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
    val dir = java.nio.file.Files.createTempDirectory("graft-attr-stream")
    prepared.repartitionByRange(batches, col("ts"))
      .write.mode("overwrite").parquet(dir.toString)
    // AUTO skew plan: one sketch pass over the STAGED events (already
    // local parquet) — top shares decide which keys salt and how wide.
    // N sizes each salted sub-key to ≤2.5% of events, capped at 32.
    val (nSalts: Int, hotKeys: Seq[Long]) =
      if (saltBuckets >= 1) (saltBuckets, Nil) // forced: all keys salt
      else {
        val staged = spark.read.schema(prepared.schema).parquet(dir.toString)
        val r = staged.agg(
          graft.functions.GraftFunctions.spaceSavingTopK(
            col("user_id").cast("string"), 16, 4096).as("top"),
          count(lit(1)).as("n")).head()
        val total = math.max(1L, r.getLong(1)).toDouble
        val top = r.getSeq[org.apache.spark.sql.Row](0)
          .map(t => (t.getString(0).toLong, t.getLong(1) / total))
        val hot = top.filter(_._2 > hotShareBound)
        if (hot.isEmpty) (1, Nil)
        else {
          val n = math.min(32, math.max(2,
            math.ceil(hot.map(_._2).max / 0.025).toInt))
          (n, hot.map(_._1))
        }
      }
    // The file source triggers in MODIFICATION-TIME order, and the
    // write's tasks finish in arbitrary order — stamp ascending mtimes
    // in part-file order (part-i = i-th ts range) so the staged stream
    // arrives in event-time order, the modeled landing-directory
    // behavior a watermarked join assumes (disorder beyond `delay`
    // is genuinely dropped late data, in streaming and in production).
    dir.toFile.listFiles().filter(_.getName.startsWith("part-")).sortBy(_.getName)
      .zipWithIndex.foreach { case (f, i) =>
        java.nio.file.Files.setLastModifiedTime(f.toPath,
          java.nio.file.attribute.FileTime.fromMillis(1000L * (i + 1)))
      }
    def side() = spark.readStream
      .schema(prepared.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.toString)
    // hot-key predicate: forced salt-all mode salts every key; auto
    // mode salts only the sketch-detected hot set (bounded ≤ 16 keys —
    // an isin literal, no extra join)
    val saltAll = nSalts > 1 && hotKeys.isEmpty
    def isHot(c: Column): Column =
      if (saltAll) lit(true)
      else if (hotKeys.isEmpty) lit(false)
      else c.isin(hotKeys: _*)
    val clicks = side().filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("c_ts"),
        when(isHot(col("user_id")),
          pmod(xxhash64(col("event_id")), lit(nSalts.toLong)))
          .otherwise(lit(0L)).as("_salt"))
      .withWatermark("c_ts", delay)
    val views = side().filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        col("ts").as("v_ts"),
        explode(when(isHot(col("user_id")), lit((0L until nSalts.toLong).toArray))
          .otherwise(array(lit(0L)))).as("_v_salt"))
      .withWatermark("v_ts", delay)
    val joined = clicks.join(views,
        col("user_id") === col("v_user") &&
          col("_salt") === col("_v_salt") &&
          col("v_ts") <= col("c_ts") &&
          col("v_ts") >= col("c_ts") - expr(s"INTERVAL $window"))
      .select(col("user_id"), col("click_id"), col("view_id"),
        (unix_micros(col("c_ts")) - unix_micros(col("v_ts"))).as("lag_us"))
    // FILE sink, not memory: a stream-stream join's output is
    // unbounded (a hot user's clicks×views is quadratic in their
    // events — at the 25× skew stress the drained relation passed
    // 1.2 GB and blew spark.driver.maxResultSize through the memory
    // sink's driver collect). The parquet sink keeps the drain
    // distributed — which is also the production landing shape — and
    // the returned relation reads it lazily.
    //
    // partition width follows the skew plan: an unsalted drain keeps
    // the tiny-state default (4 — state-store commit overhead dominates
    // at gate SFs), but a SALTED drain exists precisely because one
    // key's probe work saturates a partition — the fan-out only helps
    // if the salted sub-keys actually land on DIFFERENT partitions, so
    // give them 4× headroom over the salt count (hash collisions leave
    // ~37% of equal-count partitions empty). Round-9 A/B at sf0.1
    // (salt=4, 32-core box): 16 partitions 16.9 s wall, 8 partitions
    // 44 s, 32 partitions 49 s (per-task state-store work grows
    // superlinearly past ~16 concurrent stateful tasks — allocation
    // contention), so 4×nSalts stands; `spark.graft.stream.
    // drainPartitions` overrides for deployments that know their key
    // cardinality/core budget.
    val drainParts = spark.conf.getOption("spark.graft.stream.drainPartitions")
      .map(_.toInt).getOrElse(if (nSalts > 1) math.min(32, 4 * nSalts) else 4)
    // skip the trailing no-data batch: the inner interval join emits
    // every match in the DATA batch where it completes; the empty
    // batch only evicts state we are about to discard with the
    // checkpoint (its cost scales with partitions × join stores — the
    // salted drain paid up to 9.5 s for it at sf0.1). The state-store
    // provider is read at query START (RocksDB keeps buffered join
    // state off-heap and incrementally checkpointed: the measured
    // winner once state outgrows the HDFS provider's per-batch
    // in-memory version map).
    val overrides = Seq("spark.sql.shuffle.partitions" -> drainParts.toString, noDataBatchesOff) ++
      Option.when(rocksDbState)("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try drainToParquet(spark, joined, "graft-attr", overrides)
    finally rmTree(dir)
  }

  /** Drain an APPEND-mode stream to the end of its input through a
    * parquet FILE sink, on a child session with `overrides`, and hand
    * back the landed relation — distributed end-to-end. The memory
    * sink is a driver collect capped by spark.driver.maxResultSize,
    * which a dup-saturated corpus's pair set or a hot key's join
    * output can exceed; the file sink is also the production landing
    * shape. The checkpoint dir is deleted after the drain; the sink
    * dir backs the returned lazy relation, so [[SinkJanitor]]'s
    * shutdown hook removes it at JVM exit (tmp dirs are NOT otherwise
    * reclaimed).
    */
  private[streaming] def drainToParquet(spark: SparkSession, out: DataFrame, prefix: String,
      overrides: Seq[(String, String)]): DataFrame = {
    val sinkDir = SinkJanitor.register(
      java.nio.file.Files.createTempDirectory(s"$prefix-sink"))
    val ckpt = java.nio.file.Files.createTempDirectory(s"$prefix-ckpt")
    try GraftSession.withConf(spark, overrides: _*) { child =>
      val q = Bridge.ofRows(child, out).writeStream.format("parquet")
        .option("path", sinkDir.toString)
        .option("checkpointLocation", ckpt.toString)
        .outputMode(OutputMode.Append()).trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination()
      finally {
        if (q.isActive) q.stop()
        Bridge.releaseQuery(q)
      }
    } finally rmTree(ckpt)
    spark.read.schema(out.schema).parquet(sinkDir.toString)
  }

  /** Drive the incremental funnel over the events table in `batches`
    * micro-batches; the drained table must equal [[Events.funnel]]
    * under the same DuckDB oracle. (A stage no user ever completes
    * would be absent here but a zero row in batch — can't happen on a
    * corpus with all stages populated, and a zero-stage funnel is
    * vacuous.)
    */
  def runFunnel(spark: SparkSession, events: DataFrame,
      stages: Seq[String] = Seq("view", "click", "purchase"),
      batches: Int = 3, stateTtl: Option[String] = None,
      arrivalSalt: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val stageIdx = stages.zipWithIndex
      .foldLeft(lit(-1)) { case (acc, (s, i)) =>
        when(col("event_type") === s, i).otherwise(acc) }
    val prepared = events
      .filter(col("event_type").isin(stages: _*))
      .select(col("user_id"), stageIdx.as("stage_idx"),
        unix_micros(col("ts")).as("ts_us"))
    drain(spark, prepared, batches, "ts_us", "funnel-stream", arrivalSalt, selfTerminating = stateTtl.isEmpty) { stream =>
      stream.as[(Long, Int, Long)]
        .groupByKey(_._1)
        .flatMapGroupsWithState(OutputMode.Append(), timeoutFor(stateTtl))(
          funnelUpdate(stages, stateTtl))
        .toDF("stage", "weight")
        .groupBy(col("stage")).agg(sum(col("weight")).as("n_users"))
        .filter(col("n_users") > 0)
    }
  }

  /** Drive the incremental retention cohorts; the drained table must
    * equal [[Events.retention]] under the same DuckDB oracle. The
    * changelog weights make this exact even when a user's cohort week
    * is revised by a late-arriving signup.
    */
  def runRetention(spark: SparkSession, events: DataFrame,
      anchor: String = "signup", maxWeeks: Int = 4, batches: Int = 3,
      stateTtl: Option[String] = None,
      arrivalSalt: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val prepared = events.select(col("user_id"),
      floor(unix_timestamp(col("ts")) / lit(7L * 24 * 3600)).cast("long").as("week"),
      (col("event_type") === anchor).as("is_anchor"))
    drain(spark, prepared, batches, "week", "retention-stream", arrivalSalt, selfTerminating = stateTtl.isEmpty) { stream =>
      stream.as[(Long, Long, Boolean)]
        .groupByKey(_._1)
        .flatMapGroupsWithState(OutputMode.Append(), timeoutFor(stateTtl))(
          retentionUpdate(maxWeeks, stateTtl))
        .toDF("cohort_week", "week_offset", "weight")
        .groupBy(col("cohort_week"), col("week_offset"))
        .agg(sum(col("weight")).as("n_users"))
        .filter(col("n_users") > 0)
    }
  }
}
