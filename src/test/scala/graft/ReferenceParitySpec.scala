package graft

import java.nio.file.{Files, Paths}

import graft.sql.Engine
import org.scalatest.funsuite.AnyFunSuite

/** Runs the reference project's own README example queries verbatim
  * against its shipped example CSVs (read-only at /root/reference) —
  * the "a reference user could switch" check.
  *
  * Reference README examples:
  *   select * from '/var/lib/easydb/example/order*.csv'
  *   create table user () location 'example/user.csv'
  *   select * from user as t1 inner join log as t2 on (t1.id = t2.user_id)
  */
class ReferenceParitySpec extends AnyFunSuite {
  import SparkTestSession._

  private val exampleDir = "/root/reference/example"

  /** Cancels, not fails, a test that reads the example CSVs where the
    * reference checkout is absent; it runs wherever the checkout is.
    */
  private def assumeExamples(): Unit =
    assume(Files.isDirectory(Paths.get(exampleDir)),
      s"reference example CSVs not found at $exampleDir")

  private def eng() = new Engine(spark, dataDir = "/root/reference",
    catalogDir = Files.createTempDirectory("graft-ref-cat").toString)

  test("glob direct-path over the reference's order*.csv merges both files") {
    assumeExamples()
    val res = eng().execute(s"select * from '$exampleDir/order*.csv' order by id")
    assert(res.header == Seq("id", "user_id", "product_name"))
    // order_1.csv + order_2.csv row counts
    val expected =
      scala.io.Source.fromFile(s"$exampleDir/order_1.csv").getLines().size - 1 +
        scala.io.Source.fromFile(s"$exampleDir/order_2.csv").getLines().size - 1
    assert(res.rows.size == expected)
  }

  test("reference DDL + join flow: create table then inner join") {
    assumeExamples()
    val e = eng()
    e.execute("create table user () location 'example/user.csv'")
    e.execute(s"create table orders () location 'example/order_1.csv'")
    val res = e.execute(
      """select t1.id, t1.user_name, t2.product_name
        |from user as t1 inner join orders as t2 on (t1.id = t2.user_id)
        |order by t2.id""".stripMargin)
    assert(res.rows.nonEmpty)
    // every joined row's user id must exist in user.csv
    val userIds = scala.io.Source.fromFile(s"$exampleDir/user.csv").getLines()
      .drop(1).map(_.split(",")(0)).toSet
    assert(res.rows.forall(r => userIds.contains(r.head)))
  }

  test("catalog lists the created tables like GET /catalog") {
    val e = eng()
    e.execute("create table user2 (id int, user_name string) comment 'users' location 'example/user.csv'")
    val listed = e.catalog.listTables.find(_.tableRef == "user2")
    assert(listed.isDefined)
    assert(listed.get.schema.map(_.field) == Seq("id", "user_name"))
    assert(listed.get.comment.contains("users"))
  }
}
