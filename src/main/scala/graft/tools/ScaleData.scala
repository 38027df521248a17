package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic bench-only corpus generator for scale runs
  * (VERDICT round-1 item 4/7). NOT test data — the driver's
  * /root/testdata stays the only correctness input; these corpora
  * exist to measure how the dedup/ANN plans scale (shuffle bytes,
  * wall time, recall at realistic N), at sizes the fixed testdata
  * doesn't reach.
  *
  * Everything is generated distributed (spark.range + column
  * expressions, hash-based pseudo-randomness — no driver loops, no
  * rand() nondeterminism), so the same generator would produce the
  * same corpus on a 1000-executor cluster.
  *
  * Usage: runMain graft.tools.ScaleData <outDir> <nDocs> <nVecs>
  */
object ScaleData {

  /** `n` documents of ~`meanTokens` tokens from a per-family
    * vocabulary; every 10th doc opens a near-dup family whose next
    * two ids are small mutations (drop tail / swap a token), giving a
    * known ~20% duplicate mass like real crawl data.
    */
  def documents(spark: SparkSession, n: Long, meanTokens: Int = 120): DataFrame = {
    val base = spark.range(n).toDF("doc_id")
      // family head id: near-dups share the head's token stream
      .withColumn("_head", when(col("doc_id") % 10 < 3, (col("doc_id") / 10) * 10)
        .otherwise(col("doc_id")))
      .withColumn("_variant", when(col("doc_id") % 10 < 3, col("doc_id") % 10).otherwise(lit(0)))
      .withColumn("_len", (lit(meanTokens) + pmod(hash(col("_head")), lit(meanTokens))).cast("int"))
    base.select(
      col("doc_id"),
      concat_ws(" ", expr(
        // token j of doc: drawn from a 64k vocab by mixing (head, j);
        // variant 1 drops the last 8 tokens, variant 2 perturbs every
        // 29th token — J stays high but below 1.0
        """transform(sequence(1, _len - if(_variant = 1, 8, 0)),
          |  j -> concat('tok', pmod(hash(_head * 7919 + j + if(_variant = 2 and j % 29 = 0, 1, 0)), 65536)))"""
          .stripMargin)).as("text"),
      lit("syn").as("lang"),
      lit("scalegen").as("source"))
      .withColumn("n_chars", length(col("text")))
  }

  /** `n` unit-ish vectors in `dims` dims around `nClusters` hash-based
    * cluster centers (±1 components) with per-vector noise — the
    * clustered geometry IVF needs to show meaningful recall.
    */
  def embeddings(spark: SparkSession, n: Long, dims: Int = 64, nClusters: Int = 256): DataFrame =
    spark.range(n).toDF("vec_id")
      .withColumn("label", pmod(hash(col("vec_id") * 31L), lit(nClusters)).cast("int"))
      .withColumn("embedding", expr(
        s"""transform(sequence(0, ${dims - 1}),
           |  d -> cast((if(pmod(hash(label * 131071 + d), 2) = 0, 1.0, -1.0)
           |             + (pmod(hash(vec_id * 524287 + d), 1000) / 1000.0 - 0.5) * 1.2)
           |            / sqrt($dims) as float))""".stripMargin))

  /** `n` user events over a 31-day span: deterministic hash-based
    * user/type/value assignment, `ts` written as plain int64 nanos —
    * the type older driver testdata's TIMESTAMP(NANOS) reads as under
    * `nanosAsLong`, so [[graft.Tables.normalizeEventTs]] handles both
    * alike.
    */
  def events(spark: SparkSession, n: Long, nUsers: Int = 2000): DataFrame = {
    val spanNs = 31L * 24 * 3600 * 1000000000L
    val gap = math.max(1L, spanNs / math.max(1L, n))
    spark.range(n).toDF("event_id")
      .withColumn("user_id", pmod(hash(col("event_id") * 37L), lit(nUsers)).cast("long"))
      .withColumn("ts", lit(1704067200000000000L) + col("event_id") * lit(gap) +
        pmod(hash(col("event_id") * 41L), lit(gap)))
      .withColumn("event_type", element_at(
        array(lit("view"), lit("click"), lit("purchase"), lit("signup"), lit("error")),
        (pmod(hash(col("event_id") * 13L), lit(5)) + 1).cast("int")))
      .withColumn("value", pmod(hash(col("event_id") * 17L), lit(100000)).cast("double") / 100.0)
      .withColumn("props", concat(lit("{\"k\": "),
        pmod(hash(col("event_id") * 23L), lit(100)), lit("}")))
  }

  def main(args: Array[String]): Unit = {
    val (outDir, nDocs, nVecs) = (args(0), args(1).toLong, args(2).toLong)
    val nEvents = if (args.length > 3) args(3).toLong else nDocs * 20
    val spark = graft.GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt)
    documents(spark, nDocs).repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    embeddings(spark, nVecs).repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    events(spark, nEvents).repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")
    println(s"[scaledata] wrote $nDocs docs + $nVecs vecs + $nEvents events to $outDir")
    spark.stop()
  }
}
