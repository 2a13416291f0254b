package graft.spark

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The reference's system-namespace distributed-transaction protocol
  * (docs/spark.md:83-142) plus metadata tables, through Spark SQL.
  */
class DtxnProtocolSpec extends AnyFunSuite {

  private lazy val warehouse = Files.createTempDirectory("graft-dwh").toString

  lazy val spark: SparkSession = graft.Verify.sessionBuilder("4")
    .config("spark.sql.extensions", classOf[GraftSparkExtensions].getName)
    .config("spark.sql.catalog.dcat", classOf[GraftCatalog].getName)
    .config("spark.sql.catalog.dcat.warehouse", warehouse)
    .getOrCreate()

  test("dtxn via sys.dtxns namespaces: write-audit-publish") {
    spark.sql("CREATE NAMESPACE dcat.ns1")
    spark.sql("CREATE TABLE dcat.ns1.t (k BIGINT)")
    spark.sql("INSERT INTO dcat.ns1.t VALUES (1)")

    // begin + suspend
    spark.sql("CREATE NAMESPACE dcat.sys.dtxns.dtxn_t1")
    // write INSIDE the suspended txn
    spark.sql("INSERT INTO dcat.sys.dtxns.dtxn_t1.ns1.t VALUES (2), (3)")
    // txn-scoped read sees the audit state; public table does not
    assert(spark.table("dcat.sys.dtxns.dtxn_t1.ns1.t").count() == 3)
    assert(spark.table("dcat.ns1.t").count() == 1)
    // publish
    spark.sql("ALTER NAMESPACE dcat.sys.dtxns.dtxn_t1 SET PROPERTIES ('commit'='true')")
    assert(spark.table("dcat.ns1.t").count() == 3)
  }

  test("dtxn rollback via DROP NAMESPACE") {
    spark.sql("CREATE NAMESPACE dcat.sys.dtxns.dtxn_rb")
    spark.sql("INSERT INTO dcat.sys.dtxns.dtxn_rb.ns1.t VALUES (99)")
    spark.sql("DROP NAMESPACE dcat.sys.dtxns.dtxn_rb")
    assert(spark.table("dcat.ns1.t").count() == 3) // unchanged
    val cat = spark.sessionState.catalogManager.catalog("dcat")
      .asInstanceOf[GraftCatalog]
    assert(!graft.catalog.Graft.distTransactionExists(cat.storage, "dtxn_rb"))
  }

  test("dtxn DELETE and UPDATE stay invisible until publish") {
    // one table per write mode; all writes land in one dtxn
    val kinds = Seq(
      ("mor", "'graft.delete.mode' = 'merge-on-read'",
        "DELETE FROM %s WHERE k = 2", Seq((1L, "a"), (3L, "c"))),
      ("cow", "", "DELETE FROM %s WHERE k = 2", Seq((1L, "a"), (3L, "c"))),
      ("pos", "'graft.update.mode' = 'merge-on-read'",
        "UPDATE %s SET v = 'u' WHERE k = 2",
        Seq((1L, "a"), (2L, "u"), (3L, "c"))))
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c"))
    def rows(t: String): Seq[(Long, String)] = spark.table(t).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    for ((t, props, _, _) <- kinds) {
      spark.sql(s"CREATE TABLE dcat.ns1.$t (k BIGINT, v STRING)" +
        (if (props.isEmpty) "" else s" TBLPROPERTIES ($props)"))
      spark.sql(s"INSERT INTO dcat.ns1.$t VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    }
    spark.sql("CREATE NAMESPACE dcat.sys.dtxns.dtxn_dml")
    for ((t, _, stmt, want) <- kinds) {
      spark.sql(stmt.format(s"dcat.sys.dtxns.dtxn_dml.ns1.$t"))
      assert(rows(s"dcat.sys.dtxns.dtxn_dml.ns1.$t") == want, t)
      assert(rows(s"dcat.ns1.$t") == base, s"$t leaked before publish")
    }
    spark.sql(
      "ALTER NAMESPACE dcat.sys.dtxns.dtxn_dml SET PROPERTIES ('commit'='true')")
    for ((t, _, _, want) <- kinds) assert(rows(s"dcat.ns1.$t") == want, t)
  }

  test("catalog-wide object listing: sys.objects") {
    val objs = spark.table("dcat.sys.objects").collect()
    assert(objs.exists(r => r.getString(0) == "namespace" && r.getString(1) == "ns1"))
    assert(objs.exists(r => r.getString(0) == "table" && r.getString(2) == "t"))
    assert(objs.forall(_.getLong(4) >= 0))
  }

  test("metadata tables: $snapshots and $files") {
    val snaps = spark.table("dcat.ns1.`t$snapshots`").collect()
    assert(snaps.length >= 2) // first insert + dtxn insert
    assert(snaps.count(_.getBoolean(5)) == 1) // exactly one current
    val files = spark.table("dcat.ns1.`t$files`").collect()
    assert(files.nonEmpty)
    assert(files.forall(_.getString(0).endsWith(".parquet")))
  }
}
