package graft.sql

import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, Paths, StandardOpenOption}

import graft.catalog.Catalog
import graft.sources.{Formats, Writers}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias}
import org.apache.spark.sql.graftglue.Bridge

/** What POST /fetch returns (reference: src/response/schema.rs
  * FetchResult — header, stringified rows, sql_type, query_time).
  */
case class FetchResult(
    header: Seq[String],
    rows: Seq[Seq[String]],
    sqlType: String,
    queryTimeMs: Long)

/** The query engine behind the API surface — the Spark-native
  * equivalent of the reference's controller + DataFusion context
  * (reference: src/controllers.rs:25-150, src/data_source/context.rs).
  *
  * - SELECT: parsed once; direct-path refs and [[Catalog]] names become
  *   their relations inside the parsed plan (per query: requests share
  *   no session state); other names resolve as usual in Spark.
  * - CREATE TABLE … LOCATION: persisted to the catalog only — reads
  *   happen lazily at query time, exactly like the reference.
  * - fetch caps rows with LIMIT, applied *inside* the plan (Spark
  *   plans a CollectLimit — the full result is never materialized).
  * - file reads (direct paths, catalog names) infer a schema once per
  *   unchanged file listing (`Formats.read` caches it).
  */
class Engine(
    val spark: SparkSession,
    val dataDir: String = sys.env.getOrElse("DATA_DIR", "/tmp/graft/data"),
    val catalogDir: String = sys.env.getOrElse("GRAFT_CATALOG_DIR", "/tmp/graft/catalog")) {

  val catalog = new Catalog(catalogDir)

  /** Relative paths resolve against the data dir (reference:
    * src/data_source/context.rs:38-43).
    */
  def resolvePath(p: String): String =
    if (p.startsWith("/") || p.contains("://")) p else s"$dataDir/$p"

  /** Build the DataFrame for a SELECT: rewrite direct paths, then
    * substitute each table ref's [[relation]] into the parsed plan.
    */
  def sqlDf(sql: String): DataFrame =
    Bridge.sql(spark, DirectPath.rewrite(spark, sql, resolvePath))(DirectPath.substitute(_, relation))

  /** A direct path reads its files, a catalog name its LOCATION — read
    * afresh each query, so a re-registered name never serves a stale
    * read — and a bucketed entry is the session-catalog table, named
    * with its catalog and database so no temp view can shadow it.
    */
  private def relation(ref: Seq[String]): Option[LogicalPlan] = {
    def read(path: String) = SubqueryAlias(ref, Formats.readAuto(spark, path).queryExecution.analyzed)
    ref match {
      case Seq(DirectPath.Qualifier, path) => Some(read(path))
      case Seq(name) => catalog.lookup(name).map {
        case e if e.numBuckets.isEmpty => read(resolvePath(e.tablePath))
        case e =>
          if (!spark.catalog.tableExists(s"default.$name")) materializeBucketed(name, e)
          UnresolvedRelation(Seq("spark_catalog", "default", name))
      }
      case _ => None
    }
  }

  /** Write the bucketed copy of a CLUSTERED BY table and register it
    * in the Spark session catalog. The copy lives under the engine's
    * catalog dir (engine-managed state, like the catalog itself); the
    * source at `tablePath` stays untouched. One-off cost — every
    * subsequent same-key equijoin/agg on the table skips its shuffle,
    * which is the point of declaring the bucket spec at 100 TB.
    *
    * The version is the effective bucket spec (path|key|sort|buckets),
    * so a re-registered LOCATION materializes into a fresh dir; a
    * finished version is re-registered into a fresh session via DDL
    * over the existing files — no rewrite. When the DDL had no SORTED
    * BY, the effective sort key (= bucket key) is recorded back into
    * the catalog so the persisted metadata describes the layout.
    */
  private def materializeBucketed(name: String, e: graft.catalog.CatalogEntry): Unit = {
    val key = e.bucketBy.getOrElse(
      throw new GraftSqlException(s"Catalog entry '$name' has buckets but no CLUSTERED BY column"))
    val sortKey = e.sortBy.getOrElse(key)
    val nBuckets = e.numBuckets.get
    val table = s"spark_catalog.default.`$name`"
    underVersionLock("bucketed", name, s"${e.tablePath}|$key|$sortKey|$nBuckets") { (outDir, done) =>
      if (done) {
        // files are complete — register them in THIS session without
        // rewriting (keeps the bucket metadata via DDL)
        val schemaDdl = spark.read.parquet(outDir.toString).schema.toDDL
        spark.sql(s"DROP TABLE IF EXISTS $table") // DDL-rebuild path may hold an older registration
        spark.sql(
          s"""CREATE TABLE $table ($schemaDdl) USING parquet
             |CLUSTERED BY (`$key`) SORTED BY (`$sortKey`) INTO $nBuckets BUCKETS
             |LOCATION '${outDir.toString}'""".stripMargin)
      } else {
        // repartition on the bucket key first: hash partitioning ==
        // bucket hashing, so each task writes exactly its one bucket
        // file — avoids the (scan tasks × buckets) small-file blowup
        // at scale and parallelizes the write across buckets.
        Formats.readAuto(spark, resolvePath(e.tablePath))
          .repartition(nBuckets, org.apache.spark.sql.functions.col(key))
          .write.mode("overwrite").format("parquet")
          .bucketBy(nBuckets, key).sortBy(sortKey)
          .option("path", outDir.toString)
          .saveAsTable(table)
      }
    }
    if (e.sortBy.isEmpty)
      catalog.register(name, e.tablePath, e.schema, e.comment, e.entryType,
        e.bucketBy, Some(sortKey), e.numBuckets)
  }

  /** CREATE TABLE … AS SELECT: run the SELECT through the same
    * resolution as /fetch (direct paths, catalog names, temp views),
    * materialize its result as engine-managed parquet under the
    * catalog dir, and register the name — afterwards
    * `select * from <name>` works over HTTP like any reference table,
    * so a pipeline's OUTPUT (near-dup verdicts, quality reports)
    * becomes a queryable relation instead of a one-shot result set.
    *
    * The version is the defining SELECT: a re-issued identical CTAS
    * reuses the finished files instead of rewriting under a concurrent
    * scanner. The dir's `.parquet` suffix lets the catalog's normal
    * extension-inferred read path resolve it. 100 TB note: the write is
    * a plain distributed parquet write of whatever plan Catalyst chose
    * for the SELECT — the catalog itself still stores only the pointer.
    */
  private def materializeCtas(name: String, select: String): Unit = {
    val outDir = underVersionLock("ctas", name, select, ".parquet") { (outDir, done) =>
      if (!done) sqlDf(select).write.mode("overwrite").parquet(outDir.toString)
    }
    catalog.register(name, outDir.toString, Nil, None, entryType = "MANAGED")
  }

  /** Run `body(outDir, done)` on `<catalogDir>/<kind>/<name>-<hash of
    * spec><suffix>` under a cross-process file lock that serializes its
    * writers (`done`: its Hadoop `_SUCCESS` marker exists); returns
    * `outDir`. A changed spec never overwrites files another session is
    * mid-scan on; old versions are GC'd with the catalog dir.
    */
  private def underVersionLock(kind: String, name: String, spec: String, suffix: String = "")(
      body: (Path, Boolean) => Unit): Path = {
    val ver = Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(spec) & 0x7fffffff)
    val outDir = Paths.get(catalogDir, kind, s"$name-$ver$suffix")
    Files.createDirectories(outDir.getParent)
    val ch = FileChannel.open(outDir.getParent.resolve(s".$name-$ver.lock"),
      StandardOpenOption.CREATE, StandardOpenOption.WRITE)
    try {
      val lock = ch.lock() // blocks while another process writes this version
      try body(outDir, Files.exists(outDir.resolve("_SUCCESS"))) finally lock.release()
    } finally ch.close()
    outDir
  }

  /** The /fetch DataFrame: SELECT wrapped with a row cap
    * (reference: src/controllers.rs:33 `select * from (…) limit 200`).
    */
  def fetchDf(sql: String, limit: Int = 200): DataFrame =
    sqlDf(sql).limit(limit)

  /** Arrow-style cell rendering (reference: src/controllers.rs:52
    * ArrayFormatter): arrays as "[a, b]", maps/structs as "{…}" —
    * Scala collection toString ("ArraySeq(…)") would break clients
    * that parse the reference's row format.
    */
  private def formatCell(v: Any): String = v match {
    // note: Spark returns mutable.ArraySeq, which is NOT the default
    // (immutable) Seq alias in Scala 2.13 — match the collection root
    case s: scala.collection.Seq[_] =>
      s.map(x => if (x == null) "null" else formatCell(x)).mkString("[", ", ", "]")
    case m: scala.collection.Map[_, _] => m.map { case (k, x) =>
      s"${formatCell(k)}: ${if (x == null) "null" else formatCell(x)}" }.mkString("{", ", ", "}")
    case r: org.apache.spark.sql.Row =>
      (0 until r.length).map(i => if (r.isNullAt(i)) "null" else formatCell(r.get(i)))
        .mkString("{", ", ", "}")
    case other => other.toString
  }

  /** Execute any supported statement; SELECTs return stringified rows
    * with nulls rendered as "null" (reference: src/controllers.rs:52
    * FormatOptions::default().with_null("null")).
    */
  def execute(sql: String, limit: Int = 200): FetchResult = {
    val t0 = System.nanoTime()
    def ms = (System.nanoTime() - t0) / 1000000
    try {
      val result = SqlClassify.classify(sql) match {
        case DmlStatement(s) =>
          val df = fetchDf(s, limit)
          val header = df.columns.toSeq
          val rows = df.collect().toSeq.map(r =>
            (0 until r.length).map(i => if (r.isNullAt(i)) "null" else formatCell(r.get(i))))
          FetchResult(header, rows, "DML", ms)
        case CreateTableStatement(name, cols, location, comment, bucketCol, sortCol, nBuckets) =>
          val e = catalog.register(name, location, cols, comment,
            entryType = if (nBuckets.isDefined) "BUCKETED" else "MANAGED",
            bucketBy = bucketCol, sortBy = sortCol, numBuckets = nBuckets)
          // bucketed DDL materializes eagerly (re-running the DDL is
          // the rebuild path after a LOCATION change); pointer-only
          // DDL stays lazy, exactly like the reference
          if (nBuckets.isDefined) materializeBucketed(name, e)
          FetchResult(Seq("summary"), Seq(Seq("successful")), "DDL", ms)
        case CtasStatement(name, select) =>
          materializeCtas(name, select)
          FetchResult(Seq("summary"), Seq(Seq("successful")), "DDL", ms)
      }
      catalog.recordQuery(sql, "successful")
      result
    } catch {
      case e: Throwable =>
        catalog.recordQuery(sql, "fail")
        throw e
    }
  }

  /** /query/export — run the SELECT and write a single downloadable
    * file; returns its path (reference: src/controllers.rs:188-257).
    */
  def exportFile(sql: String, format: String, outPath: String): String =
    SqlClassify.classify(sql) match {
      case DmlStatement(s) =>
        Writers.exportFile(sqlDf(s), outPath, Writers.ExportFormat.of(format)).toString
      case _ => throw new GraftSqlException("Only supports Select SQL")
    }
}
