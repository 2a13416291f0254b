package graft.spark

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Branches: movable named refs with their own commit lineage.
  * Writing through `<table>$branch_<name>` stages commits off main;
  * `fast_forward` publishes when main is an ancestor of the head —
  * the write-audit-publish workflow as first-class refs (the dtxn
  * protocol is the transaction-shaped variant; branches are the
  * long-lived, named variant).
  */
class BranchSpec extends AnyFunSuite {

  private lazy val warehouse = Files.createTempDirectory("graft-br").toString

  lazy val spark: SparkSession = graft.Verify.sessionBuilder("4")
    .config("spark.sql.extensions", classOf[GraftSparkExtensions].getName)
    .config("spark.sql.catalog.br", classOf[GraftCatalog].getName)
    .config("spark.sql.catalog.br.warehouse", warehouse)
    .getOrCreate()

  test("branch writes stage without touching main") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS br.ns")
    spark.sql("CREATE TABLE br.ns.t (k BIGINT, v STRING)")
    spark.sql("INSERT INTO br.ns.t VALUES (1, 'base'), (2, 'base')")
    spark.sql("CALL br.system.create_branch('ns', 't', 'audit')")
    spark.sql("INSERT INTO br.ns.`t$branch_audit` VALUES (3, 'staged')")
    spark.sql("INSERT INTO br.ns.`t$branch_audit` VALUES (4, 'staged')")
    assert(spark.sql("SELECT count(*) FROM br.ns.t").head.getLong(0) == 2,
      "main must not see staged rows")
    assert(spark.sql("SELECT count(*) FROM br.ns.`t$branch_audit`")
      .head.getLong(0) == 4, "the branch sees base + staged")
    assert(spark.sql("SELECT count(*) FROM br.ns.t VERSION AS OF 'audit'")
      .head.getLong(0) == 4, "a branch name time-travels like a tag")
  }

  test("ALTER on a branch identifier is refused: it changes the whole table") {
    val e = intercept[Exception](spark.sql(
      "ALTER TABLE br.ns.`t$branch_audit` SET TBLPROPERTIES ('x' = '1')"))
    assert(e.getMessage.contains("ALTER changes the whole table"), e.getMessage)
    assert(!spark.sql("SHOW TBLPROPERTIES br.ns.t").collect()
      .exists(_.getString(0) == "x"), "the refused ALTER reached main")
  }

  test("$refs lists branches alongside tags") {
    spark.sql("CALL br.system.create_tag('ns', 't', 'v1')")
    val refs = spark.sql(
      "SELECT name, type FROM br.ns.`t$refs` ORDER BY type, name")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(refs == Seq(("audit", "branch"), ("v1", "tag")))
  }

  test("fast_forward publishes the branch onto main") {
    val r = spark.sql("CALL br.system.fast_forward('ns', 't', 'audit')")
      .collect()(0)
    assert(r.getLong(1) > r.getLong(0))
    assert(spark.sql("SELECT count(*) FROM br.ns.t").head.getLong(0) == 4,
      "after publish, main sees the staged rows")
    assert(spark.sql("SELECT v FROM br.ns.t WHERE k = 3").head.getString(0)
      == "staged")
  }

  test("fast_forward refuses a diverged main") {
    spark.sql("INSERT INTO br.ns.t VALUES (5, 'main-only')")
    spark.sql("INSERT INTO br.ns.`t$branch_audit` VALUES (6, 'staged')")
    val e = intercept[Exception] {
      spark.sql("CALL br.system.fast_forward('ns', 't', 'audit')").collect()
    }
    assert(e.getMessage.contains("diverged"))
    // main untouched by the failed publish
    assert(spark.sql("SELECT count(*) FROM br.ns.t").head.getLong(0) == 5)
  }

  test("drop_branch removes the ref; staged snapshots expire later") {
    spark.sql("CALL br.system.drop_branch('ns', 't', 'audit')")
    val e = intercept[Exception] {
      spark.sql("SELECT count(*) FROM br.ns.`t$branch_audit`").collect()
    }
    assert(spark.sql("SELECT count(*) FROM br.ns.`t$refs` WHERE type = 'branch'")
      .head.getLong(0) == 0)
  }

  test("expiration keeps branch heads alive") {
    spark.sql("""CREATE TABLE br.ns.e (k BIGINT)
      TBLPROPERTIES ('graft.snapshot-log.inline-max'='2')""")
    spark.sql("INSERT INTO br.ns.e VALUES (1)")
    spark.sql("CALL br.system.create_branch('ns', 'e', 'keepme')")
    spark.sql("INSERT INTO br.ns.`e$branch_keepme` VALUES (2)")
    (0 until 6).foreach(i => spark.sql(s"INSERT INTO br.ns.e VALUES ($i + 10)"))
    val cat = spark.sessionState.catalogManager.catalog("br")
      .asInstanceOf[GraftCatalog]
    graft.maintain.Maintenance.expireSnapshots(cat,
      org.apache.spark.sql.connector.catalog.Identifier.of(Array("ns"), "e"),
      keepLast = 2)
    assert(spark.sql("SELECT count(*) FROM br.ns.`e$branch_keepme`")
      .head.getLong(0) == 2, "the branch head must survive expiration")
  }

  test("row-level ops fix data ON the branch; publish carries the fix") {
    // write-audit-publish with audited FIXES: stage rows on a branch,
    // repair them there (mor DELETE + COW UPDATE), compact the branch,
    // then fast_forward — main receives the fixed, compacted state
    spark.sql("""CREATE TABLE br.ns.wap (k BIGINT, v STRING)
                 TBLPROPERTIES ('graft.delete.mode' = 'merge-on-read')""")
    spark.sql("INSERT INTO br.ns.wap VALUES (1, 'good'), (2, 'good')")
    spark.sql("CALL br.system.create_branch('ns', 'wap', 'stage')")
    spark.sql("INSERT INTO br.ns.`wap$branch_stage` VALUES " +
      "(3, 'good'), (4, 'bad'), (5, 'bad'), (6, 'typo')")
    val cat = spark.sessionState.catalogManager.catalog("br")
      .asInstanceOf[GraftCatalog]
    def branchHead(): graft.format.Snapshot = {
      val txn = graft.catalog.Graft.beginTransaction(cat.storage)
      try {
        val td = graft.catalog.Graft.describeTable(cat.storage, txn, "ns", "wap")
        val meta = graft.format.TableMetadata.read(cat.storage,
          td.metadataLocation)
        meta.findSnapshot(cat.storage, meta.branches("stage")).get
      } finally txn.close()
    }
    // audit found bad rows: merge-on-read DELETE on the BRANCH commits
    // a predicate against the branch head — main's state and pending
    // lists are untouched
    spark.sql("DELETE FROM br.ns.`wap$branch_stage` WHERE v = 'bad'")
    assert(branchHead().deletes.nonEmpty,
      "the branch delete is merge-on-read (predicate pending on branch)")
    assert(spark.sql("SELECT count(*) FROM br.ns.`wap$branch_stage`")
      .head.getLong(0) == 4)
    assert(spark.sql("SELECT count(*) FROM br.ns.wap").head.getLong(0) == 2,
      "main must not see branch deletes")
    // copy-on-write UPDATE repairs the typo on the branch
    spark.sql("UPDATE br.ns.`wap$branch_stage` SET v = 'good' WHERE k = 6")
    assert(spark.sql(
      "SELECT count(*) FROM br.ns.`wap$branch_stage` WHERE v = 'good'")
      .head.getLong(0) == 4)
    assert(spark.sql("SELECT count(*) FROM br.ns.wap WHERE k = 6")
      .head.getLong(0) == 0, "main must not see the branch update")
    // compact the BRANCH: pending deletes materialize on the branch,
    // its inventory shrinks, main's snapshot is untouched
    val mainBefore = spark.sql(
      "SELECT v FROM br.ns.wap ORDER BY k").collect().map(_.getString(0)).toSeq
    val res = graft.maintain.Maintenance.compactDataFiles(spark, cat,
      org.apache.spark.sql.connector.catalog.Identifier.of(
        Array("ns"), "wap$branch_stage"), targetFiles = 1)
    assert(res.filesAfter == 1)
    assert(branchHead().deletes.isEmpty,
      "branch compaction materialized the branch's pending deletes")
    assert(spark.sql("SELECT count(*) FROM br.ns.`wap$branch_stage`")
      .head.getLong(0) == 4)
    assert(spark.sql("SELECT v FROM br.ns.wap ORDER BY k")
      .collect().map(_.getString(0)).toSeq == mainBefore,
      "branch compaction must not rewrite main")
    // publish: main fast-forwards to the fixed, compacted branch head
    spark.sql("CALL br.system.fast_forward('ns', 'wap', 'stage')")
    val rows = spark.sql("SELECT k, v FROM br.ns.wap ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == Seq((1L, "good"), (2L, "good"), (3L, "good"),
      (6L, "good")), s"published state carries the audited fixes: $rows")
  }

  test("mor position deltas (UPDATE) on a branch stay on the branch") {
    spark.sql("""CREATE TABLE br.ns.pd (k BIGINT, v DOUBLE)
                 TBLPROPERTIES ('graft.update.mode' = 'merge-on-read')""")
    spark.sql("INSERT INTO br.ns.pd SELECT id, CAST(id AS DOUBLE) FROM range(8)")
    spark.sql("CALL br.system.create_branch('ns', 'pd', 'fix')")
    spark.sql("UPDATE br.ns.`pd$branch_fix` SET v = -1.0 WHERE k % 2 = 0")
    assert(spark.sql(
      "SELECT count(*) FROM br.ns.`pd$branch_fix` WHERE v = -1.0")
      .head.getLong(0) == 4)
    assert(spark.sql("SELECT count(*) FROM br.ns.pd WHERE v = -1.0")
      .head.getLong(0) == 0, "main must not see the branch's deltas")
    spark.sql("CALL br.system.fast_forward('ns', 'pd', 'fix')")
    assert(spark.sql("SELECT count(*) FROM br.ns.pd WHERE v = -1.0")
      .head.getLong(0) == 4)
  }
}
