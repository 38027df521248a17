package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}

/** Loaders for the driver-generated TPC-H-ish parquet tables (see
  * TESTDATA.md). Queries receive an `sfDir` and read through here so
  * every scan goes through one code path (column pruning + filter
  * pushdown verified once).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") {
      normalizeEventTs(spark.read.parquet(s"$sfDir/$name.parquet"))
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"), col("props"), col("ts_ns"))
    } else {
      spark.read.parquet(s"$sfDir/$name.parquet")
    }

  /** Normalize `events.ts` across driver testdata vintages. Earlier
    * generations wrote parquet TIMESTAMP(NANOS), which Spark has no
    * native type for — under `nanosAsLong` ([[GraftSession.tune]]) it
    * surfaces as raw int64 nanos; newer generations write
    * TIMESTAMP(MICROS), which reads as a native (ntz) timestamp.
    * Downstream code sees the same two columns either way: `ts` as a
    * µs TimestampType for date/window functions, plus `ts_ns` as exact
    * int64 nanos (integer `div` / `* 1000L` — double arithmetic would
    * lose precision above 2^53).
    */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", expr("timestamp_micros(ts_ns div 1000)"))
      case _ =>
        df.withColumn("ts", col("ts").cast("timestamp"))
          .withColumn("ts_ns", expr("unix_micros(ts) * 1000L"))
    }

  /** Register all tables as temp views (lazy — no IO until a query
    * actually scans one) so `spark.sql` text can reference them by
    * name, mirroring the reference catalog registration
    * (reference: src/data_source/context.rs:34-81).
    */
  def registerAll(spark: SparkSession, sfDir: String): SparkSession = {
    names.foreach(n => apply(spark, sfDir, n).createOrReplaceTempView(n))
    spark
  }
}
