package graft

import java.nio.file.Files

import graft.sql.{Engine, GraftSqlException, SqlClassify, CreateTableStatement, DmlStatement}
import org.scalatest.funsuite.AnyFunSuite

class EngineSpec extends AnyFunSuite {
  import SparkTestSession._

  private def freshEngine(): Engine =
    new Engine(spark, dataDir = sfDir,
      catalogDir = Files.createTempDirectory("graft-cat").toString)

  test("classify: DML vs DDL vs rejected") {
    assert(SqlClassify.classify("select 1") == DmlStatement("select 1"))
    assert(SqlClassify.classify("WITH x AS (select 1) select * from x").isInstanceOf[DmlStatement])
    val ddl = SqlClassify.classify(
      "create table user (id int, name string) comment 'people' location 'example/user.csv'")
    assert(ddl == CreateTableStatement("user",
      Seq(catalog.TableField("id", "int"), catalog.TableField("name", "string")),
      "example/user.csv", Some("people")))
    intercept[GraftSqlException](SqlClassify.classify("drop table x"))
    intercept[GraftSqlException](SqlClassify.classify("create view v as select 1"))
  }

  test("classify: CLUSTERED BY bucket DDL variants") {
    val full = SqlClassify.classify(
      "create table t (a bigint) clustered by (a) sorted by (a) into 8 buckets location 'x.parquet'")
    assert(full == CreateTableStatement("t", Seq(catalog.TableField("a", "bigint")),
      "x.parquet", None, Some("a"), Some("a"), Some(8)))
    val noSort = SqlClassify.classify(
      "create table t () comment 'c' clustered by (k) into 4 buckets location 'y.csv'")
    assert(noSort == CreateTableStatement("t", Nil, "y.csv", Some("c"), Some("k"), None, Some(4)))
    // plain DDL keeps parsing with bucket fields absent
    val plain = SqlClassify.classify("create table t () location 'z.parquet'")
    assert(plain == CreateTableStatement("t", Nil, "z.parquet", None, None, None, None))
  }

  test("pre-extension catalog JSONL lines parse with bucket fields as None") {
    val dir = Files.createTempDirectory("graft-cat").toString
    Files.write(java.nio.file.Paths.get(dir, "catalog.jsonl"),
      ("""{"id":1,"tableRef":"old_t","tablePath":"p.parquet","schema":[],""" +
        """"comment":null,"entryType":"MANAGED"}""" + "\n").getBytes)
    val c = new catalog.Catalog(dir)
    val e = c.lookup("old_t").get
    assert(e.bucketBy.isEmpty && e.sortBy.isEmpty && e.numBuckets.isEmpty)
  }

  test("bucketed DDL: session-catalog table, no exchange on bucket-key agg, survives a fresh engine") {
    val dir = Files.createTempDirectory("graft-cat").toString
    val e1 = new Engine(spark, dataDir = sfDir, catalogDir = dir)
    val name = "li_bddl_spec"
    spark.sql(s"drop table if exists $name")
    e1.execute(s"create table $name () clustered by (l_orderkey) into 8 buckets location 'lineitem.parquet'")
    assert(spark.catalog.tableExists(name))
    val agg = e1.sqlDf(s"select l_orderkey, count(*) as n from $name group by l_orderkey")
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"bucket-key agg must not shuffle:\n$plan")
    // results match the source parquet
    val expect = spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    val got = agg.agg(org.apache.spark.sql.functions.sum("n")).head.getLong(0)
    assert(got == expect)
    // a fresh engine on the same catalog dir lazily re-materializes if
    // the session table is gone
    spark.sql(s"drop table $name")
    val e2 = new Engine(spark, dataDir = sfDir, catalogDir = dir)
    assert(e2.sqlDf(s"select count(*) as n from $name").head.getLong(0) == expect)
    spark.sql(s"drop table if exists $name")
  }

  test("re-registering a pointer table as bucketed serves the bucketed table") {
    val dir = Files.createTempDirectory("graft-cat").toString
    val eng = new Engine(spark, dataDir = sfDir, catalogDir = dir)
    val name = "li_rereg_spec"
    spark.sql(s"drop table if exists $name")
    // plain pointer first: nation (25 rows) read from its LOCATION
    eng.execute(s"create table $name () location 'nation.parquet'")
    assert(eng.sqlDf(s"select count(*) as n from $name").head.getLong(0) == 25)
    // re-register the SAME name as a bucketed table over region (5 rows)
    eng.execute(s"create table $name () clustered by (r_regionkey) into 2 buckets location 'region.parquet'")
    // the earlier pointer registration must not shadow the bucketed table
    assert(eng.sqlDf(s"select count(*) as n from $name").head.getLong(0) == 5,
      "bucketed re-registration must serve the bucketed table")
    spark.sql(s"drop table if exists $name")
  }

  test("fetch caps rows at the limit inside the plan") {
    val eng = freshEngine()
    val res = eng.execute(s"select l_orderkey from '$sfDir/lineitem.parquet' order by l_orderkey", limit = 200)
    assert(res.rows.size == 200)
    assert(res.sqlType == "DML")
    assert(res.header == Seq("l_orderkey"))
  }

  test("nulls render as 'null' like the reference formatter") {
    val eng = freshEngine()
    val res = eng.execute("select cast(null as int) as a, 1 as b")
    assert(res.rows == Seq(Seq("null", "1")))
  }

  test("DDL registers in the persistent catalog; a second engine on the same dir sees it") {
    val dir = Files.createTempDirectory("graft-cat").toString
    val e1 = new Engine(spark, dataDir = sfDir, catalogDir = dir)
    val r = e1.execute("create table li_ext () location 'lineitem.parquet'")
    assert(r.sqlType == "DDL" && r.rows == Seq(Seq("successful")))
    val e2 = new Engine(spark, dataDir = sfDir, catalogDir = dir)
    val res = e2.execute("select count(*) as n from li_ext")
    assert(res.rows.head.head.toLong > 0)
    assert(e2.catalog.listTables.exists(_.tableRef == "li_ext"))
  }

  test("CTAS: classify, materialize once, query by name, survive a fresh engine") {
    import graft.sql.CtasStatement
    // classification: CTAS vs pointer DDL vs rejected CREATE
    assert(SqlClassify.classify("create table t as select 1 as x") ==
      CtasStatement("t", "select 1 as x"))
    assert(SqlClassify.classify(
      "CREATE TABLE t AS WITH c AS (SELECT 1 AS x) SELECT * FROM c")
      .isInstanceOf[CtasStatement])
    assert(SqlClassify.classify("create table t () location 'z.parquet'")
      .isInstanceOf[CreateTableStatement])
    intercept[GraftSqlException](SqlClassify.classify("create table a.b as select 1"))

    val dir = Files.createTempDirectory("graft-cat").toString
    val e1 = new Engine(spark, dataDir = sfDir, catalogDir = dir)
    val r = e1.execute(
      s"""create table nat_by_region as
         |select n_regionkey, count(*) as n
         |from '$sfDir/nation.parquet' group by n_regionkey""".stripMargin)
    assert(r.sqlType == "DDL" && r.rows == Seq(Seq("successful")))
    // queryable by name through the catalog — and from a FRESH engine
    // (the files are engine-managed parquet, the catalog holds the pointer)
    val e2 = new Engine(spark, dataDir = sfDir, catalogDir = dir)
    val res = e2.execute("select n_regionkey, n from nat_by_region order by n_regionkey")
    assert(res.rows.length == 5 && res.rows.forall(_(1) == "5"))
    // re-issuing the identical CTAS reuses the finished version
    val entriesBefore = e2.catalog.entries.count(_.tableRef == "nat_by_region")
    e2.execute(
      s"""create table nat_by_region as
         |select n_regionkey, count(*) as n
         |from '$sfDir/nation.parquet' group by n_regionkey""".stripMargin)
    val latest = e2.catalog.lookup("nat_by_region").get
    assert(latest.tablePath.endsWith(".parquet"))
    assert(e2.catalog.entries.count(_.tableRef == "nat_by_region") == entriesBefore + 1)
    // export rejects CTAS like any non-SELECT
    intercept[GraftSqlException](
      e2.exportFile("create table z as select 1", "CSV", "/tmp/zz.csv"))
  }

  test("query history records status, newest first, capped") {
    val eng = freshEngine()
    eng.execute("select 1 as x")
    intercept[Exception](eng.execute("select * from no_such_table_zzz"))
    val h = eng.catalog.history(30)
    assert(h.head.sql.contains("no_such_table_zzz") && h.head.status == "fail")
    assert(h(1).status == "successful")
  }

  test("export writes a single CSV file with header") {
    val eng = freshEngine()
    val out = Files.createTempDirectory("graft-exp").toString + "/out.csv"
    val p = eng.exportFile(s"select n_nationkey, n_name from '$sfDir/nation.parquet' order by n_nationkey", "CSV", out)
    val lines = scala.io.Source.fromFile(p).getLines().toSeq
    assert(lines.head == "n_nationkey,n_name")
    assert(lines.size == 26)
  }

  test("direct-path with alias joins a catalog table in one statement") {
    val eng = freshEngine()
    eng.execute("create table ord_cat () location 'orders.parquet'")
    val res = eng.execute(
      s"""select count(*) as n
         |from '$sfDir/lineitem.parquet' as li
         |join ord_cat o on li.l_orderkey = o.o_orderkey
         |where o.o_totalprice > 450000.0""".stripMargin)
    assert(res.rows.head.head.toLong > 0)
  }

  test("direct-path quoted string in a predicate is NOT treated as a table") {
    val eng = freshEngine()
    val res = eng.execute("select 'x.csv' as lit_col")
    assert(res.rows == Seq(Seq("x.csv")))
  }

  test("table refs resolve in CTE bodies, subqueries, union branches and derived tables") {
    val eng = freshEngine()
    eng.execute("create table cust_ext () location 'customer.parquet'")
    eng.execute("create table nat_cat () location 'nation.parquet'")
    val custs = spark.read.parquet(s"$sfDir/customer.parquet").count()
    val cases = Seq(
      "CTE body" -> ("with x as (select * from cust_ext) select count(*) from x", custs),
      "CTE shadows a catalog name" -> ("with cust_ext as (select 1 as a) select count(*) from cust_ext", 1L),
      "IN-subquery" -> (s"select count(*) from '$sfDir/region.parquet' " +
        "where r_regionkey in (select n_regionkey from nat_cat)", 5L),
      "UNION branch" -> (s"select count(*) from (select n_nationkey from '$sfDir/nation.parquet' " +
        "union all select n_nationkey from nat_cat)", 50L),
      "derived table" -> ("select count(*) from (select * from nat_cat where n_regionkey = 0) t", 5L),
      "direct path in a CTE body" -> (s"with r as (select * from '$sfDir/region.parquet') select count(*) from r", 5L),
      "name.col qualifier" -> ("select count(nat_cat.n_name) from nat_cat", 25L))
    val failures = cases.flatMap { case (label, (sql, want)) =>
      scala.util.Try(eng.sqlDf(sql).head.getLong(0)).fold(
        e => Some(s"$label: ${e.getMessage.takeWhile(_ != '\n')}"),
        got => if (got == want) None else Some(s"$label: got $got, want $want"))
    }
    if (failures.nonEmpty) fail(failures.mkString("\n"))
  }

  test("an engine query neither overwrites a session view nor leaves one behind") {
    Tables(spark, sfDir, "nation").createOrReplaceTempView("nation")
    val before = spark.catalog.listTables().collect().map(_.name).toSet
    val eng = freshEngine()
    eng.execute("create table nation () location 'region.parquet'")
    eng.execute("create table cust_iso () location 'customer.parquet'")
    assert(eng.execute("select count(*) from nation").rows == Seq(Seq("5")))
    eng.execute(s"select count(*) from cust_iso join '$sfDir/supplier.parquet' on c_nationkey = s_nationkey")
    val viewRows = spark.table("nation").count()
    val added = spark.catalog.listTables().collect().map(_.name).toSet -- before
    assert(viewRows == 25 && added.isEmpty, s"session view nation reads $viewRows rows (want 25); left behind: $added")
  }

  test("concurrent engines read their own table for a shared name; a concurrent CTAS never hides it") {
    import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
    val a = freshEngine()
    val b = freshEngine()
    a.execute("create table shared_nm () location 'nation.parquet'")
    b.execute("create table shared_nm () location 'region.parquet'")
    val ctas = Seq("select n_nationkey from nation_src", "select n_nationkey from nation_src where n_regionkey = 0")
      .map(s => s"create table ctas_nm as ${s.replace("nation_src", s"'$sfDir/nation.parquet'")}")
    a.execute(ctas.head)
    val errors = new ConcurrentLinkedQueue[String]
    val fetchers = new java.util.concurrent.CountDownLatch(4)
    def attempt(body: => Unit): Unit =
      try body catch { case e: Throwable => errors.add(String.valueOf(e.getMessage).takeWhile(_ != '\n')) }
    val pool = Executors.newFixedThreadPool(5)
    (0 until 4).foreach { t =>
      pool.submit((() => try (1 to 50).foreach(_ => attempt {
        val (eng, want) = if (t % 2 == 0) (a, "25") else (b, "5")
        val got = eng.execute("select count(*) from shared_nm").rows.head.head
        if (got != want) errors.add(s"thread $t read $got rows for shared_nm, want $want")
        val n = a.execute("select count(*) from ctas_nm").rows.head.head
        if (n != "25" && n != "5") errors.add(s"thread $t read $n rows for ctas_nm")
      }) finally fetchers.countDown()): Runnable)
    }
    pool.submit((() => Iterator.from(1).takeWhile(_ => fetchers.getCount > 0)
      .foreach(i => attempt(a.execute(ctas(i % 2))))): Runnable)
    pool.shutdown()
    assert(pool.awaitTermination(5, TimeUnit.MINUTES))
    val distinct = scala.jdk.CollectionConverters.IterableHasAsScala(errors).asScala.toSeq.distinct
    if (distinct.nonEmpty) fail(s"${errors.size} failures, e.g. ${distinct.take(3).mkString("; ")}")
  }
}
