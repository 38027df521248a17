package graft.streaming

import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Incremental near-dup detection over a document stream (SURVEY.md
  * §8 / VERDICT round-1 item 8): the streaming counterpart of
  * [[Dedup.minhashLsh]], producing the SAME verified pair set when the
  * stream is fully drained.
  *
  * Dataflow (all stages incremental):
  *   1. per micro-batch: shingle → minhash signature → explode to
  *      (band, bucket) keys — the codegen'd kernels run unchanged on
  *      the streaming DataFrame;
  *   2. `flatMapGroupsWithState` keyed by (band, bucket) holds the doc
  *      ids previously seen in that bucket and emits a candidate pair
  *      the moment its second endpoint arrives — each pair exactly
  *      once per bucket;
  *   3. streaming `dropDuplicates` collapses the same pair surfacing
  *      from multiple bands;
  *   4. a stream-static join against the (static) document store
  *      fetches both shingle sets and verifies exact Jaccard — only
  *      candidates are ever verified, as in batch.
  *
  * Scale notes: state per bucket is just the member id list, and the
  * band/bucket key space keeps buckets tiny (near-dup families), so
  * state is O(corpus ids), never O(pairs); the pair-dedup state is
  * O(emitted candidates). A production deployment bounds both with
  * state TTL (`GroupStateTimeout`/watermark) under the standard
  * assumption that near-dups arrive within a time horizon; the test
  * path keeps state unbounded so the drained stream is byte-equal to
  * the batch operator.
  */
object StreamingDedup {

  /** Stage `docs` as `batches` parquet files under a fresh temp dir,
    * run `body` over it, and recursively delete the staging dir after
    * the drain — deleteOnExit cannot remove non-empty directories, so
    * repeated invocations in one JVM would otherwise leak every staged
    * snapshot on disk.
    */
  private def withStagedBatches[T](docs: DataFrame, batches: Int, prefix: String)(
      body: (org.apache.spark.sql.types.StructType, String) => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    val staged = docs.select(col("doc_id"), col("text"))
    staged.repartitionByRange(batches, col("doc_id"))
      .write.mode("overwrite").parquet(dir.toString)
    try body(staged.schema, dir.toString)
    finally StreamingEvents.rmTree(dir)
  }

  case class BucketState(ids: List[Long], saturated: Boolean = false)

  /** Emit (doc_a, doc_b) for every pair completed in this bucket by
    * this batch's arrivals; remember the members. With `ttl` set, the
    * bucket's member state expires `ttl` after its last arrival — the
    * production bound (near-dups arrive within a time horizon); the
    * test path leaves it unset so the drained stream equals batch.
    *
    * Membership checks run against a HASHED set built once per
    * invocation — per-batch work is O(|prev| + |fresh| + pairs
    * emitted), never the O(|fresh|·|prev|) of a per-arrival list scan,
    * so a boilerplate-heavy bucket (thousands of docs sharing a band
    * signature) costs what its output costs, not members² before the
    * first pair. `maxBucket` is the batch path's degenerate-bucket
    * guard carried to the stream: once a bucket's membership would
    * exceed the cap it SATURATES — member state collapses to a flag
    * (bounded even against an adversarial hot bucket) and the bucket
    * emits nothing further. Pairs emitted before saturation stand
    * (a stream cannot retract); batch's cap drops the whole bucket,
    * so capped stream ⊆ capped batch ∪ pre-saturation pairs — the
    * gated equivalence configs leave the cap unset.
    */
  private[graft] def emitPairs(ttl: Option[String], maxBucket: Option[Int] = None)(
      key: (Int, Long),
      rows: Iterator[(Int, Long, Long)],
      state: GroupState[BucketState]): Iterator[(Long, Long)] = {
    if (state.hasTimedOut) {
      state.remove()
      return Iterator.empty
    }
    val st = state.getOption.getOrElse(BucketState(Nil))
    if (st.saturated) {
      ttl.foreach(state.setTimeoutDuration)
      return Iterator.empty
    }
    val prev = st.ids
    val seen = scala.collection.mutable.HashSet.empty[Long]
    seen ++= prev
    val fresh = rows.map(_._3).toList.filter(seen.add)
    if (maxBucket.exists(cap => prev.size + fresh.size > cap)) {
      state.update(BucketState(Nil, saturated = true))
      ttl.foreach(state.setTimeoutDuration)
      return Iterator.empty
    }
    state.update(BucketState(fresh ::: prev))
    ttl.foreach(state.setTimeoutDuration)
    // new×old plus new×new (each unordered pair once, smaller id first)
    val out = scala.collection.mutable.ListBuffer.empty[(Long, Long)]
    var remainingNew = fresh
    while (remainingNew.nonEmpty) {
      val a = remainingNew.head
      remainingNew = remainingNew.tail
      (remainingNew ::: prev).foreach { b =>
        out += ((math.min(a, b), math.max(a, b)))
      }
    }
    out.iterator
  }

  /** Candidate-pair stream from a (doc_id, text) stream. Banding comes
    * from [[Dedup.bandBuckets]] — the same expression as batch, which
    * is what makes the drained stream oracle-equal to `minhashLsh`.
    * `stateTtl` (e.g. "24 hours") bounds per-bucket state at scale.
    */
  def candidatePairs(
      spark: SparkSession,
      docs: DataFrame,
      k: Int = 3,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      stateTtl: Option[String] = None,
      maxBucket: Option[Int] = None): Dataset[(Long, Long)] = {
    import spark.implicits._
    val sigs = Dedup.bandBuckets(docs, k, bands, rowsPerBand)
      .select(col("band"), col("bucket"), col("doc_id"))
      .as[(Int, Long, Long)]
    val timeout =
      if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    sigs
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState(OutputMode.Append(), timeout)(emitPairs(stateTtl, maxBucket))
      .dropDuplicates("_1", "_2")
  }

  /** Exact-Jaccard verification of a candidate-pair stream against the
    * static document store's shingle sets `sh`
    * ([[Dedup.shingleRelation]]; stream-static equi-joins by id — at
    * scale this is the point lookup into the corpus table, touching
    * only candidate rows).
    */
  def verifiedPairs(
      pairStream: Dataset[(Long, Long)],
      sh: DataFrame,
      threshold: Double = 0.8): DataFrame =
    Dedup.verifyJaccardOnRel(pairStream.toDF("doc_a", "doc_b"), sh)
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))

  /** Drive the full incremental pipeline over the documents table in
    * `batches` micro-batches and return the drained result — the
    * driver-contract entry proving stream/batch equivalence under the
    * same hard DuckDB oracle as `dedup_minhash_lsh`.
    */
  def runIncremental(
      spark: SparkSession,
      docs: DataFrame,
      batches: Int = 3,
      threshold: Double = 0.8,
      stateTtl: Option[String] = None): DataFrame =
    // stage the corpus as `batches` files and stream them one file per
    // trigger — genuine distributed micro-batches, no driver collect
    withStagedBatches(docs, batches, "graft-dedup-stream") { (schema, dir) =>
      val stream = spark.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(dir)
      // the static verify relation materializes ONCE per drain: a
      // stream-static join re-evaluates its static subplan every
      // micro-batch, so the full corpus shingle pass would run 2 joins
      // × N batches times instead of once
      StreamingEvents.withStatic(Dedup.shingleRelation(docs, 3)) { sh =>
        // a TTL'd pipeline fires its timeouts in the no-data batch
        StreamingEvents.drainToParquet(spark,
          verifiedPairs(candidatePairs(spark, stream, stateTtl = stateTtl), sh, threshold),
          "graft-dedup", StreamingEvents.drainConf(spark, skipNoDataBatch = stateTtl.isEmpty))
      }
    }

  /** Per-bucket SIDE-TAGGED member state for the cross-side pair
    * emitter: a bucket remembers its added and retained arrivals
    * separately and only ever pairs ACROSS sides.
    */
  case class SideState(added: List[Long], retained: List[Long],
      saturated: Boolean = false)

  /** Emit (retained_doc, added_doc) for every CROSS-side pair this
    * batch's arrivals complete in the bucket — arrival order doesn't
    * matter (an added doc pairs with retained members past AND
    * present), retained×retained and added×added never pair. Row =
    * (band, bucket, doc_id, is_added). Same hashed-set membership and
    * saturation cap as [[emitPairs]]: per-batch work is linear in
    * arrivals plus pairs emitted, and a capped bucket collapses its
    * member state to a flag.
    */
  private[graft] def emitCrossPairs(maxBucket: Option[Int] = None)(
      key: (Int, Long),
      rows: Iterator[(Int, Long, Long, Boolean)],
      state: GroupState[SideState]): Iterator[(Long, Long)] = {
    val prev = state.getOption.getOrElse(SideState(Nil, Nil))
    if (prev.saturated) return Iterator.empty
    val seenA = scala.collection.mutable.HashSet.empty[Long]
    seenA ++= prev.added
    val seenR = scala.collection.mutable.HashSet.empty[Long]
    seenR ++= prev.retained
    val fresh = rows.map(r => (r._3, r._4)).toList.distinct
    val freshA = fresh.collect { case (id, true) => id }.filter(seenA.add)
    val freshR = fresh.collect { case (id, false) => id }.filter(seenR.add)
    if (maxBucket.exists(cap => seenA.size + seenR.size > cap)) {
      state.update(SideState(Nil, Nil, saturated = true))
      return Iterator.empty
    }
    state.update(SideState(freshA ::: prev.added, freshR ::: prev.retained))
    val out = scala.collection.mutable.ListBuffer.empty[(Long, Long)]
    freshA.foreach(a => (freshR ::: prev.retained).foreach(r => out += ((r, a))))
    freshR.foreach(r => prev.added.foreach(a => out += ((r, a))))
    out.iterator
  }

  /** Streaming twin of [[graft.operators.Snapshot.delta]]'s near-dup
    * arm: the NEW snapshot streams in micro-batches against the
    * STATIC old snapshot, each arrival is side-tagged (added iff its
    * id is absent from old — a stream-static left join), bucketed
    * through the same MinHash bands, and cross-side candidate pairs
    * are emitted the moment their second endpoint arrives; exact
    * Jaccard verifies against the static new-snapshot store. The
    * drained pair set feeds Snapshot.assemble/classify, so the full
    * result equals the batch operator under the same DuckDB oracle —
    * ingest-time delta reconciliation as an actual streaming pipeline.
    *
    * Scale notes: same state bounds as [[runIncremental]] (member ids
    * per bucket, candidate set for dedup), same TTL option in
    * production; the old-snapshot side enters only as id/digest
    * relations (stream-static joins — the standing corpus is never
    * re-streamed).
    */
  def runDelta(
      spark: SparkSession,
      oldDocs: DataFrame,
      newDocs: DataFrame,
      k: Int = 3,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      threshold: Double = 0.8,
      batches: Int = 3,
      maxBucket: Option[Int] = None): DataFrame = {
    import spark.implicits._
    withStagedBatches(newDocs, batches, "graft-delta-stream") { (schema, dir) =>
      val stream = spark.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(dir)
      // both static relations materialize ONCE per drain (see
      // runIncremental): the id side-tag join and the verify fetch-join
      // would otherwise re-scan/re-shingle the snapshots per batch
      val drainedPairs = StreamingEvents.withStatic(
          oldDocs.select(col("doc_id"), lit(true).as("_in_old"))) { oldIds =>
        StreamingEvents.withStatic(Dedup.shingleRelation(newDocs, k)) { newSh =>
          val sigs = Dedup.bandBuckets(stream, k, bands, rowsPerBand)
            .select(col("band"), col("bucket"), col("doc_id"))
            .join(oldIds, Seq("doc_id"), "left")
            .select(col("band"), col("bucket"), col("doc_id"),
              col("_in_old").isNull.as("is_added"))
            .as[(Int, Long, Long, Boolean)]
          val pairs = sigs
            .groupByKey(r => (r._1, r._2))
            .flatMapGroupsWithState(OutputMode.Append(),
              GroupStateTimeout.NoTimeout())(emitCrossPairs(maxBucket))
            .dropDuplicates("_1", "_2")
          val verified = Dedup.verifyJaccardOnRel(pairs.toDF("doc_a", "doc_b"), newSh)
            .filter(col("jaccard") >= threshold)
            .select(col("doc_a").as("retained_doc"), col("doc_b").as("added_doc"))
          StreamingEvents.drainToParquet(spark, verified, "graft-delta",
            StreamingEvents.drainConf(spark, skipNoDataBatch = true))
        }
      }
      // post-drain assembly over BOUNDED relations: statuses from the
      // digest classification, added_near_dup from the drained pairs
      graft.operators.Snapshot.assemble(
        graft.operators.Snapshot.classify(oldDocs, newDocs), drainedPairs)
    }
  }
}
