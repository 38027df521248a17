package graft

import java.nio.file.{Files, Paths}

import graft.catalog.{Catalog, TableField}
import org.scalatest.funsuite.AnyFunSuite

/** The catalog log's ids and latest-wins lookup, against their
  * whole-log definitions: ids number the non-empty lines, and a lookup
  * returns the last entry registered under the name.
  */
class CatalogSpec extends AnyFunSuite {

  test("ids count the log's lines and lookup is latest-wins, bucketed re-registrations included") {
    val dir = Files.createTempDirectory("graft-catalog-spec").toString
    // a pre-extension line written by hand (no bucket fields, spaced JSON)
    Files.write(Paths.get(dir, "catalog.jsonl"),
      """{"id": 1, "tableRef": "t", "tablePath": "/data/t.csv"}""".concat("\n\n").getBytes("UTF-8"))
    val c = new Catalog(dir)
    val regs = Seq(
      () => c.register("t2", "/data/t.parquet", Seq(TableField("t", "bigint")), Some("mentions \"t\"")),
      () => c.register("xt", "/data/xt.csv"),
      () => c.register("t", "/data/t_v2.csv"),
      () => c.register("t2", "/data/t2.parquet", entryType = "BUCKETED",
        bucketBy = Some("k"), numBuckets = Some(4)),
      () => c.register("t2", "/data/t2.parquet", entryType = "BUCKETED",
        bucketBy = Some("k"), sortBy = Some("k"), numBuckets = Some(4)),
      () => c.register("xt", "/data/xt_v2.csv"),
      () => c.register("t2", "/data/t2_pointer.parquet"))
    val ids = regs.map(r => r().id)
    assert(ids == (2L to 8L), "ids continue the line count")
    assert(c.entries.map(_.id) == (1L to 8L))

    def byLog(name: String) = c.entries.reverse.find(_.tableRef == name)
    Seq("t", "t2", "xt", "x", "missing").foreach(n => assert(c.lookup(n) == byLog(n), n))
    assert(c.lookup("t").get.tablePath == "/data/t_v2.csv")
    assert(c.lookup("t2").get.numBuckets.isEmpty, "a pointer re-registration replaces the bucketed one")
    assert(c.lookup("missing").isEmpty)

    // the bucketed entry is latest again after one more re-registration
    val b = c.register("t2", "/data/t2.parquet", entryType = "BUCKETED",
      bucketBy = Some("k"), sortBy = Some("k"), numBuckets = Some(4))
    assert(b.id == 9L && c.lookup("t2").contains(b))
    // a second catalog over the same log sees the same ids and entries
    assert(new Catalog(dir).lookup("t2").contains(b))
    assert(new Catalog(dir).register("u", "/data/u.csv").id == 10L)
  }
}
