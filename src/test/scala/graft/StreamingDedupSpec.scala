package graft

import graft.operators.Dedup
import graft.streaming.StreamingDedup
import org.scalatest.funsuite.AnyFunSuite

class StreamingDedupSpec extends AnyFunSuite {
  import SparkTestSession._

  private def pairSet(rows: Array[org.apache.spark.sql.Row]): Set[(Long, Long, Double)] =
    rows.map(r => (r.getLong(r.fieldIndex("doc_a")), r.getLong(r.fieldIndex("doc_b")),
      r.getDouble(r.fieldIndex("jaccard")))).toSet

  test("drained incremental stream equals batch minhashLsh pair set") {
    val docs = Tables(spark, sfDir, "documents")
    val batch = pairSet(Dedup.minhashLsh(docs).collect())
    val streamed = pairSet(StreamingDedup.runIncremental(spark, docs, batches = 4).collect())
    assert(batch.nonEmpty, "fixture corpus must contain near-dup pairs")
    assert(streamed == batch,
      s"stream-batch diff: only-stream=${streamed -- batch}, only-batch=${batch -- streamed}")
  }

  test("state TTL: timed-out bucket state drops; live state emits and re-arms") {
    // unit-level via TestGroupState — an end-to-end ProcessingTimeTimeout
    // run cannot use Trigger.AvailableNow (the query would idle until
    // the wall-clock timeout fires), which is exactly why the TTL is
    // opt-in production config, not the oracle-gated test path.
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.TestGroupState
    import graft.streaming.StreamingDedup.{emitPairs, BucketState}
    val ttl = Some("10 minutes")
    // live state: new arrival pairs with the remembered member and re-arms the clock
    val live = TestGroupState.create[BucketState](
      Optional.of(BucketState(List(1L))),
      org.apache.spark.sql.streaming.GroupStateTimeout.ProcessingTimeTimeout,
      1000L, Optional.empty[Long](), hasTimedOut = false)
    val out = emitPairs(ttl)((0, 7L), Iterator((0, 7L, 2L)), live).toList
    assert(out == List((1L, 2L)))
    assert(live.get.ids.toSet == Set(1L, 2L))
    assert(live.getTimeoutTimestampMs.isPresent, "TTL must re-arm on arrival")
    // timed-out state: removed, nothing emitted
    val expired = TestGroupState.create[BucketState](
      Optional.of(BucketState(List(1L, 2L))),
      org.apache.spark.sql.streaming.GroupStateTimeout.ProcessingTimeTimeout,
      1000L, Optional.empty[Long](), hasTimedOut = true)
    assert(emitPairs(ttl)((0, 7L), Iterator.empty, expired).isEmpty)
    assert(expired.isRemoved, "expired bucket state must be dropped")
  }

  test("degenerate bucket: saturation cap collapses state and mutes the bucket") {
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.TestGroupState
    import graft.streaming.StreamingDedup.{emitPairs, BucketState}
    val cap = Some(8)
    def freshState = TestGroupState.create[BucketState](
      Optional.empty[BucketState](),
      org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout,
      1000L, Optional.empty[Long](), hasTimedOut = false)
    // batch 1 under the cap: normal emission, members remembered; the
    // repeated arrival (5L twice) dedups through the hashed set
    val st = freshState
    val out1 = emitPairs(None, cap)((0, 7L),
      Iterator((0, 7L, 5L), (0, 7L, 5L), (0, 7L, 6L)), st).toList
    assert(out1 == List((5L, 6L)))
    assert(st.get.ids.toSet == Set(5L, 6L) && !st.get.saturated)
    // batch 2 pushes membership past the cap: the bucket saturates —
    // nothing emitted, member state collapses to the flag
    val big = (100L to 120L).map(id => (0, 7L, id))
    assert(emitPairs(None, cap)((0, 7L), big.iterator, st).isEmpty)
    assert(st.get.saturated && st.get.ids.isEmpty,
      "saturated bucket must hold no member list")
    // batch 3: still muted, state stays the flag
    assert(emitPairs(None, cap)((0, 7L), Iterator((0, 7L, 999L)), st).isEmpty)
    assert(st.get.saturated && st.get.ids.isEmpty)
  }

  test("degenerate bucket end-to-end: capped drain completes, normal pairs intact") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    // 300 identical docs share every band bucket (the boilerplate hot
    // bucket); one genuine near-dup pair (1000, 1001) lives elsewhere.
    // With maxBucket=8 every hot bucket saturates in its first batch,
    // so the clone family emits NOTHING while the normal pair survives.
    val boiler = (1 to 30).map(i => s"tmpl$i").mkString(" ")
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val docs = ((1L to 300L).map(id => (id, boiler)) ++
      Seq((1000L, base), (1001L, base + " tail"))).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-degenerate")
    try {
      docs.repartitionByRange(3, col("doc_id")).write.mode("overwrite")
        .parquet(dir.toString)
      val stream = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(dir.toString)
      val sink = s"degenerate_sink_${System.nanoTime()}"
      val q = StreamingDedup.candidatePairs(spark, stream, maxBucket = Some(8))
        .toDF("doc_a", "doc_b")
        .writeStream.format("memory").queryName(sink)
        .outputMode(OutputMode.Append()).trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally if (q.isActive) q.stop()
      val pairs = spark.table(sink).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      spark.catalog.dropTempView(sink)
      assert(pairs == Set((1000L, 1001L)),
        s"capped drain must mute the hot bucket and keep normal pairs, got $pairs")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq
        .sortBy(-_.getNameCount).foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("pairs split across micro-batches are still found, exactly once") {
    import spark.implicits._
    // near-dup family {10, 20, 30} + a singleton; family members arrive
    // in three DIFFERENT micro-batches, so every cross-batch pair relies
    // on bucket state surviving between triggers
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (10L, base), (20L, base + " tailA"), (30L, base + " tailB"),
      (99L, (1 to 40).map(i => s"other$i").mkString(" "))
    ).toDF("doc_id", "text")
    val out = StreamingDedup.runIncremental(spark, docs, batches = 4).collect()
    val pairs = out.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((10L, 20L), (10L, 30L), (20L, 30L)))
    assert(out.length == 3, s"each pair exactly once, got ${out.toList}")
  }

  test("static-side strategies (localCheckpoint/persist/checkpoint) drain identically") {
    // spark.graft.stream.staticSide picks how stream-static join static
    // sides materialize: localCheckpoint (local default, fastest,
    // unreplicated), persist MEMORY_AND_DISK_2 (cluster-safe), reliable
    // checkpoint. All three must produce the same drained pair set.
    val docs = Tables(spark, sfDir, "documents")
    val key = "spark.graft.stream.staticSide"
    def drained(): Set[(Long, Long, Double)] =
      pairSet(StreamingDedup.runIncremental(spark, docs, batches = 3).collect())
    val base = drained() // default = localCheckpoint
    val ckDir = java.nio.file.Files.createTempDirectory("graft-ck-test")
    spark.sparkContext.setCheckpointDir(ckDir.toString)
    try {
      for (mode <- Seq("persist", "checkpoint")) {
        spark.conf.set(key, mode)
        val pinned = spark.sparkContext.getPersistentRDDs.size
        assert(drained() == base, s"staticSide=$mode diverged from default")
        // the drain releases the static side it materialized
        if (mode == "persist") assert(spark.sparkContext.getPersistentRDDs.size <= pinned,
          s"persistent RDDs after a persist drain: ${spark.sparkContext.getPersistentRDDs.size}, before: $pinned")
      }
      spark.conf.set(key, "bogus")
      intercept[IllegalArgumentException](drained())
    } finally {
      spark.conf.unset(key)
      graft.streaming.StreamingEvents.rmTree(ckDir)
    }
  }
}
