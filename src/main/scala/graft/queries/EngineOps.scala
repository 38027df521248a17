package graft.queries

import graft.Tables
import graft.sources.{Formats, DataSourceFormat, Writers}
import graft.sql.Engine
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Engine/API surface + source-format roundtrips (SURVEY.md §2B/§2C).
  *
  * Each entry exercises an end-to-end path of the reference's surface:
  * direct-path SQL, glob reads, the /fetch row cap, CREATE TABLE …
  * LOCATION through the persistent catalog, and the CSV/TSV/NdJSON
  * writers read back by their paired readers.
  */
object EngineOps {

  type Q = (SparkSession, String) => DataFrame

  private def scratch(dir: String, leaf: String): String = {
    val key = dir.replaceAll("[^A-Za-z0-9]", "_")
    s"${sys.props("java.io.tmpdir")}/graft-scratch/$key/$leaf"
  }

  private def engine(spark: SparkSession, dir: String): Engine =
    new Engine(spark, dataDir = dir, catalogDir = scratch(dir, "catalog"))

  /** `select … from '<path>'` — quoted path in FROM position
    * (reference: src/data_source/context.rs:83-152).
    */
  def fmt_direct_path(spark: SparkSession, dir: String): DataFrame =
    engine(spark, dir).sqlDf(
      s"""SELECT l_returnflag, count(*) AS n,
         | cast(sum(cast(l_quantity as decimal(12,2))) as double) AS sum_qty
         |FROM '$dir/lineitem.parquet'
         |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)

  /** Glob path over a multi-file table — customer split across two CSV
    * shards, read back with `'…/customer_shard_*.csv'`.
    */
  def fmt_glob_path(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables(spark, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    val base = scratch(dir, "glob")
    Writers.exportFile(cust.filter(col("c_custkey") % 2 === 0),
      s"$base/customer_shard_0.csv", Writers.ExportFormat.Csv)
    Writers.exportFile(cust.filter(col("c_custkey") % 2 === 1),
      s"$base/customer_shard_1.csv", Writers.ExportFormat.Csv)
    engine(spark, dir).sqlDf(
      s"""SELECT cast(c_custkey as bigint) AS c_custkey, c_name,
         | cast(c_acctbal as double) AS c_acctbal
         |FROM '$base/customer_shard_*.csv' ORDER BY c_custkey""".stripMargin)
  }

  /** /fetch semantics: SELECT wrapped with a row cap; result < cap here
    * so the output set is deterministic (the cap itself is spec-tested).
    */
  def eng_fetch_limit(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    engine(spark, dir).fetchDf(
      """SELECT n_nationkey, n_name, r_name
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |ORDER BY n_nationkey""".stripMargin, limit = 200)
  }

  /** CREATE TABLE … LOCATION with a *relative* path, then query the
    * registered name — the full catalog round trip
    * (reference: src/controllers.rs:92-135 + context.rs:38-43).
    */
  def eng_create_table(spark: SparkSession, dir: String): DataFrame = {
    val eng = engine(spark, dir)
    if (eng.catalog.lookup("cust_ext").isEmpty)
      eng.execute("CREATE TABLE cust_ext () LOCATION 'customer.parquet'")
    eng.sqlDf(
      """SELECT c_custkey, c_name, c_mktsegment FROM cust_ext
        |WHERE c_custkey <= 100 ORDER BY c_custkey""".stripMargin)
  }

  /** CREATE TABLE … AS SELECT through the engine, then query the
    * MATERIALIZED table by name — the catalog round trip for a
    * pipeline OUTPUT (Engine.materializeCtas): the defining SELECT
    * runs once into engine-managed parquet; the follow-up SELECT reads
    * the registered files, not the source tables.
    */
  def eng_ctas(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    val eng = engine(spark, dir)
    eng.execute(
      """CREATE TABLE doc_source_stats AS
        |SELECT source, count(*) AS n_docs,
        | cast(sum(n_chars) as bigint) AS sum_chars
        |FROM documents GROUP BY source""".stripMargin)
    eng.sqlDf(
      """SELECT source, n_docs, sum_chars FROM doc_source_stats
        |WHERE n_docs >= 2 ORDER BY source""".stripMargin)
  }

  private def roundtrip(spark: SparkSession, dir: String, table: String,
      file: String, fmt: Writers.ExportFormat, readFmt: DataSourceFormat,
      selectBack: DataFrame => DataFrame): DataFrame = {
    val path = scratch(dir, file)
    Writers.exportFile(Tables(spark, dir, table), path, fmt)
    selectBack(Formats.read(spark, path, readFmt))
  }

  /** CSV writer → CSV reader (header + schema inference). */
  def fmt_csv_roundtrip(spark: SparkSession, dir: String): DataFrame =
    roundtrip(spark, dir, "nation", "nation.csv",
      Writers.ExportFormat.Csv, DataSourceFormat.Csv,
      _.select(col("n_nationkey").cast("int"), col("n_name"),
        col("n_regionkey").cast("int")).orderBy(col("n_nationkey")))

  /** TSV writer → TSV reader (tab delimiter, reference utils.rs:23). */
  def fmt_tsv_roundtrip(spark: SparkSession, dir: String): DataFrame =
    roundtrip(spark, dir, "supplier", "supplier.tsv",
      Writers.ExportFormat.Tsv, DataSourceFormat.Tsv,
      _.select(col("s_suppkey").cast("bigint"), col("s_name"),
        col("s_nationkey").cast("int"), col("s_acctbal").cast("double"))
        .orderBy(col("s_suppkey")))

  /** NdJSON writer → NdJSON reader (.log extension, reference
    * utils.rs:12-21 treats .log/.txt as newline-delimited JSON).
    */
  def fmt_ndjson_roundtrip(spark: SparkSession, dir: String): DataFrame =
    roundtrip(spark, dir, "part", "part_rows.log",
      Writers.ExportFormat.NdJson, DataSourceFormat.NdJson(".log"),
      _.select(col("p_partkey").cast("bigint"), col("p_name"), col("p_brand"),
        col("p_size").cast("int"), col("p_retailprice").cast("double"))
        .orderBy(col("p_partkey")))

  /** ORC writer → ORC reader — the second columnar format Spark ships
    * natively (vectorized scan, predicate pushdown, column pruning
    * like parquet). The read-back filter lands in the ORC scan as a
    * pushed search argument, so the roundtrip exercises the full
    * columnar path, not just serialization.
    */
  def fmt_orc_roundtrip(spark: SparkSession, dir: String): DataFrame = {
    val path = scratch(dir, "orders_orc")
    Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"))
      .write.mode("overwrite").orc(path)
    spark.read.orc(path)
      .filter(col("o_orderkey") <= 2000)
      .orderBy(col("o_orderkey"))
  }

  /** JSON array-of-objects document reader (multiLine mode) —
    * rejected by the reference (context.rs:58-61) but on its roadmap.
    */
  def fmt_json_array(spark: SparkSession, dir: String): DataFrame = {
    val path = scratch(dir, "region_array.json")
    val rows = Tables(spark, dir, "region").orderBy(col("r_regionkey")).collect()
    val json = rows.map { r =>
      s"""{"r_regionkey": ${r.getInt(0)}, "r_name": "${r.getString(1)}"}"""
    }.mkString("[\n", ",\n", "\n]")
    val p = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, json)
    Formats.read(spark, path, DataSourceFormat.JsonArray)
      .select(col("r_regionkey").cast("int"), col("r_name"))
      .orderBy(col("r_regionkey"))
  }

  /** XLSX writer → distributed XLSX reader, two workbook shards read
    * through a direct-path glob (`'…/part_*.xlsx'`), exercising the
    * one-task-per-workbook scale path (reference: excel.rs merges
    * files on one thread; here each file is an executor task).
    */
  def fmt_xlsx_roundtrip(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.XlsxWriter
    val base = scratch(dir, "xlsx")
    val part = Tables(spark, dir, "part")
      .select(col("p_partkey"), col("p_name"), col("p_brand"), col("p_size"), col("p_retailprice"))
    XlsxWriter.write(part.filter(col("p_partkey") % 2 === 0), s"$base/part_0.xlsx")
    XlsxWriter.write(part.filter(col("p_partkey") % 2 === 1), s"$base/part_1.xlsx")
    engine(spark, dir).sqlDf(
      s"""SELECT cast(p_partkey as bigint) AS p_partkey, p_name, p_brand,
         | cast(p_size as int) AS p_size, cast(p_retailprice as double) AS p_retailprice
         |FROM '$base/part_*.xlsx' ORDER BY p_partkey""".stripMargin)
  }

  /** Bucketed co-located join: both fact tables written bucketed+sorted
    * on the join key, so the sort-merge join runs with NO shuffle
    * exchange (spec-asserted) — the pre-partitioning strategy that, at
    * 100 TB, turns every repeated key-equijoin on these tables from a
    * full-corpus shuffle into a local merge.
    */
  def opt_bucketed_join(spark: SparkSession, dir: String): DataFrame = {
    val base = scratch(dir, "bucketed")
    // table names carry the source-dir key: one session touching two
    // scale factors must not silently reuse the other's bucketed copy
    val dirKey = dir.replaceAll("[^A-Za-z0-9]", "_")
    // one constant for BOTH the repartition and bucketBy below: the
    // one-file-per-bucket property needs the two counts equal
    val nBuckets = 8
    def bucketize(table: String, name: String, key: String, cols: Seq[String]): Unit =
      if (!spark.catalog.tableExists(name)) {
        // repartition on the bucket key BEFORE the bucketed write:
        // Murmur3 hash partitioning == bucket hashing, so each task
        // holds exactly one bucket — one file per bucket instead of
        // (scan tasks × buckets) files at scale, and the write
        // parallelizes across buckets instead of serializing on the
        // scan's split count. Bucket contents are identical either way.
        Tables(spark, dir, table).select(cols.map(col): _*)
          .repartition(nBuckets, col(key))
          .write.mode("overwrite").format("parquet")
          .bucketBy(nBuckets, key).sortBy(key)
          .option("path", s"$base/$name").saveAsTable(name)
      }
    val liName = s"li_bucketed_$dirKey"
    val ordName = s"ord_bucketed_$dirKey"
    bucketize("lineitem", liName, "l_orderkey",
      Seq("l_orderkey", "l_quantity", "l_extendedprice"))
    bucketize("orders", ordName, "o_orderkey",
      Seq("o_orderkey", "o_orderpriority"))
    spark.table(liName).hint("merge")
      .join(spark.table(ordName), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        QueryUtil.decSum(QueryUtil.money(col("l_quantity"))).as("sum_qty"))
      .orderBy(col("o_orderpriority"))
  }

  /** Partitioned layout + partition pruning: events written
    * `partitionBy(event_date)`, then a single-day query — the scan
    * must touch only that day's directory (PartitionFilters prune;
    * spec-asserted). The layout strategy for time-series data at
    * 100 TB: pruning happens at file-listing time, before any IO.
    */
  def opt_partition_pruning(spark: SparkSession, dir: String): DataFrame = {
    val base = scratch(dir, "events_partitioned")
    val marker = new java.io.File(s"$base/_SUCCESS")
    if (!marker.exists()) {
      Tables(spark, dir, "events")
        .withColumn("event_date", to_date(col("ts")))
        .write.mode("overwrite").partitionBy("event_date").parquet(base)
    }
    spark.read.parquet(base)
      .filter(col("event_date") === lit("2024-01-05"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        QueryUtil.decSum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 6))).as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** CLUSTERED BY DDL end-to-end: the engine's CREATE TABLE extension
    * materializes a Spark bucketed table from the pointed-at parquet,
    * and a subsequent group-by on the bucket key runs with NO shuffle
    * exchange (spec-asserted) — the catalog-integrated form of
    * [[opt_bucketed_join]]'s strategy: declare the cluster key once at
    * DDL time, every later same-key join/agg skips its exchange.
    */
  def eng_bucketed_ddl(spark: SparkSession, dir: String): DataFrame = {
    val eng = engine(spark, dir)
    val name = s"li_ddl_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
    // guard on the PERSISTENT catalog, not the session one: the scratch
    // JSONL outlives the JVM, so a fresh-session re-run must not append
    // a duplicate entry — sqlDf lazily re-materializes the session
    // table from the existing entry instead
    if (eng.catalog.lookup(name).isEmpty)
      eng.execute(
        s"CREATE TABLE $name () CLUSTERED BY (l_orderkey) INTO 8 BUCKETS LOCATION 'lineitem.parquet'")
    eng.sqlDf(
      s"""SELECT cast(l_orderkey as bigint) AS l_orderkey, count(*) AS n,
         | cast(sum(cast(l_quantity as decimal(12,2))) as double) AS sum_qty
         |FROM $name WHERE l_orderkey <= 1000 GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin)
  }

  /** Z-ordered layout key: rows sorted by the rank-bucketed Morton
    * value of (l_partkey, l_suppkey) cluster BOTH dimensions, so a
    * range-partitioned write produces files whose parquet min/max
    * stats prune box queries on either column (ZorderSpec measures
    * the file-hit counts vs a single-column sort). The gate checks
    * the layout key itself: the IDENTICAL SQL string runs on both
    * engines (QueryUtil.zorderBucketedSql).
    */
  def opt_zorder(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    spark.sql(QueryUtil.zorderBucketedSql("l_partkey", "l_suppkey",
      where = "WHERE t.l_orderkey <= 1000"))
  }

  /** Small-file compaction — the table-maintenance pass every long-
    * lived ingest needs: a 64-way fragmented copy of `documents`
    * (micro-batch/append debris shape) is rewritten into a handful of
    * row-clustered files via `repartitionByRange(doc_id)` +
    * `maxRecordsPerFile`. Range-partitioning the rewrite buys
    * id-clustered parquet min/max stats (point/range lookups prune
    * whole files) on top of the open-cost win. The gate checks content
    * is preserved exactly through both rewrites; CompactionSpec
    * asserts the file counts (64 → ≤4) and the per-file id clustering.
    * At 100 TB this runs per partition with target = file-size budget
    * (maxRecordsPerFile ≈ maxPartitionBytes/row-width) — one range
    * shuffle of the fragment set being compacted, never the table.
    */
  def opt_compaction(spark: SparkSession, dir: String): DataFrame = {
    val frag = scratch(dir, "docs_fragmented")
    val compact = scratch(dir, "docs_compacted")
    if (!new java.io.File(s"$frag/_SUCCESS").exists()) {
      Tables(spark, dir, "documents")
        .repartition(64)
        .write.mode("overwrite").parquet(frag)
    }
    spark.read.parquet(frag)
      .repartitionByRange(2, col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", 4096)
      .parquet(compact)
    spark.read.parquet(compact)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        countDistinct(col("doc_id")).as("n_ids"))
      .orderBy(col("source"))
  }

  /** Schema evolution across file generations — the lakehouse reality
    * that an append-only table's early files lack columns added later.
    * v1 files carry (doc_id, source, n_chars); v2 files add `lang`.
    * `mergeSchema` unions the footers at planning time, v1 rows read
    * the missing column as NULL, and the query coalesces the gap —
    * no rewrite of old data. At 100 TB this is a footer-merge at the
    * driver (per-file schemas, not data) and the scan stays columnar.
    */
  def fmt_schema_evolution(spark: SparkSession, dir: String): DataFrame = {
    val base = scratch(dir, "schema_evo")
    if (!new java.io.File(s"$base/v2/_SUCCESS").exists()) {
      val d = Tables(spark, dir, "documents")
      d.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .write.mode("overwrite").parquet(s"$base/v1")
      d.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("source"), col("n_chars"), col("lang"))
        .write.mode("overwrite").parquet(s"$base/v2")
    }
    spark.read.option("mergeSchema", "true").parquet(s"$base/v1", s"$base/v2")
      .groupBy(coalesce(col("lang"), lit("unknown")).as("lang"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("lang"))
  }

  /** Dynamic partition overwrite — the idempotent-backfill primitive:
    * re-running one day's ingest replaces ONLY that day's partition
    * directory, leaving every other partition untouched (static
    * overwrite mode would drop the whole table). The op lays events
    * out by date, re-ingests 2024-01-05 with a corrected `value`
    * (doubled), and reads the table back: the gate proves exactly the
    * touched partition changed. At 100 TB this is how late data and
    * corrections land — partition-granular rewrites, no table lock,
    * no read-modify-write of cold partitions.
    */
  def opt_dynamic_overwrite(spark: SparkSession, dir: String): DataFrame = {
    val base = scratch(dir, "events_dyn_overwrite")
    val ev = Tables(spark, dir, "events")
      .withColumn("event_date", to_date(col("ts")))
      .select(col("event_id"), col("event_type"), col("value"), col("event_date"))
    if (!new java.io.File(s"$base/_SUCCESS").exists()) {
      ev.write.mode("overwrite").partitionBy("event_date").parquet(base)
    }
    val day = lit("2024-01-05").cast("date")
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      ev.filter(col("event_date") === day)
        .withColumn("value", col("value") * 2)
        .write.mode("overwrite").partitionBy("event_date").parquet(base)
    } finally {
      prev.fold(spark.conf.unset("spark.sql.sources.partitionOverwriteMode"))(
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", _))
    }
    spark.read.parquet(base)
      .groupBy(col("event_date"))
      .agg(count(lit(1)).as("n"),
        QueryUtil.decSum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .as("sum_value"))
      .orderBy(col("event_date"))
  }

  val queries: Map[String, Q] = Map(
    "opt_dynamic_overwrite" -> (opt_dynamic_overwrite _),
    "fmt_schema_evolution" -> (fmt_schema_evolution _),
    "opt_compaction" -> (opt_compaction _),
    "opt_zorder" -> (opt_zorder _),
    "eng_bucketed_ddl" -> (eng_bucketed_ddl _),
    "opt_partition_pruning" -> (opt_partition_pruning _),
    "opt_bucketed_join" -> (opt_bucketed_join _),
    "fmt_xlsx_roundtrip" -> (fmt_xlsx_roundtrip _),
    "fmt_direct_path" -> (fmt_direct_path _),
    "fmt_glob_path" -> (fmt_glob_path _),
    "eng_fetch_limit" -> (eng_fetch_limit _),
    "eng_create_table" -> (eng_create_table _),
    "eng_ctas" -> (eng_ctas _),
    "fmt_csv_roundtrip" -> (fmt_csv_roundtrip _),
    "fmt_tsv_roundtrip" -> (fmt_tsv_roundtrip _),
    "fmt_ndjson_roundtrip" -> (fmt_ndjson_roundtrip _),
    "fmt_json_array" -> (fmt_json_array _),
    "fmt_orc_roundtrip" -> (fmt_orc_roundtrip _))

  val oracles: Map[String, String] = Map(
    // only the re-ingested day's partition carries the corrected value
    "opt_dynamic_overwrite" ->
      """SELECT cast(ts as date) AS event_date, count(*) AS n,
        | cast(sum(cast(CASE WHEN cast(ts as date) = DATE '2024-01-05'
        |                    THEN value * 2 ELSE value END as decimal(18,6))) as double) AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "fmt_schema_evolution" ->
      """SELECT CASE WHEN doc_id % 2 = 1 THEN lang ELSE 'unknown' END AS lang,
        | count(*) AS n, cast(sum(n_chars) as bigint) AS sum_chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "opt_compaction" ->
      """SELECT source, count(*) AS n_docs,
        | cast(sum(n_chars) as bigint) AS sum_chars,
        | count(DISTINCT doc_id) AS n_ids
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "opt_zorder" -> QueryUtil.zorderBucketedSql("l_partkey", "l_suppkey",
      where = "WHERE t.l_orderkey <= 1000"),
    "eng_bucketed_ddl" ->
      """SELECT l_orderkey, count(*) AS n,
        | cast(sum(cast(l_quantity as decimal(12,2))) as double) AS sum_qty
        |FROM lineitem WHERE l_orderkey <= 1000
        |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,
    "opt_partition_pruning" ->
      """SELECT event_type, count(*) AS n,
        | cast(sum(cast(value as decimal(18,6))) as double) AS sum_value
        |FROM events WHERE cast(ts as date) = DATE '2024-01-05'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "opt_bucketed_join" ->
      """SELECT o_orderpriority, count(*) AS n,
        | cast(sum(cast(l_quantity as decimal(12,2))) as double) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "fmt_xlsx_roundtrip" ->
      "SELECT p_partkey, p_name, p_brand, p_size, p_retailprice FROM part ORDER BY p_partkey",
    "fmt_direct_path" ->
      """SELECT l_returnflag, count(*) AS n,
        | cast(sum(cast(l_quantity as decimal(12,2))) as double) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "fmt_glob_path" ->
      "SELECT c_custkey, c_name, c_acctbal FROM customer ORDER BY c_custkey",
    "eng_fetch_limit" ->
      """SELECT n_nationkey, n_name, r_name
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |ORDER BY n_nationkey""".stripMargin,
    "eng_create_table" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE c_custkey <= 100 ORDER BY c_custkey""".stripMargin,
    "eng_ctas" ->
      """WITH doc_source_stats AS (
        | SELECT source, count(*) AS n_docs,
        |  cast(sum(n_chars) as bigint) AS sum_chars
        | FROM documents GROUP BY source)
        |SELECT source, n_docs, sum_chars FROM doc_source_stats
        |WHERE n_docs >= 2 ORDER BY source""".stripMargin,
    "fmt_csv_roundtrip" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",
    "fmt_tsv_roundtrip" ->
      "SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier ORDER BY s_suppkey",
    "fmt_ndjson_roundtrip" ->
      "SELECT p_partkey, p_name, p_brand, p_size, p_retailprice FROM part ORDER BY p_partkey",
    "fmt_json_array" ->
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
    "fmt_orc_roundtrip" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM orders WHERE o_orderkey <= 2000 ORDER BY o_orderkey""".stripMargin)
}
