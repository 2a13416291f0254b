package graft.spark

import java.nio.file.Files

import graft.objects.FileLocations
import graft.storage.{StorageConf, StorageOps}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Two catalog instances over ONE warehouse (two "sessions"): a commit
  * race on the same table must resolve by the append/append rebase —
  * the loser re-applies its file additions onto the winner's state, so
  * both appends survive (the conflict the reference's matrix declares
  * resolvable, AnalyzeActionConflicts.java:171-187, with the rebase
  * the reference left TODO).
  *
  * Bound twice: to local-filesystem storage and to the object-store
  * backend, where the root-version race is decided by a conditional
  * PUT instead of link(2).
  */
abstract class ConcurrentWriteContract extends AnyFunSuite {

  /** Distinct per binding — catalogs are session-global. */
  protected def catA: String
  protected def catB: String
  /** Extra per-catalog options (e.g. storage=object). */
  protected def catalogOptions: Map[String, String]

  private lazy val warehouse = Files.createTempDirectory("graft-cwh").toString

  lazy val spark: SparkSession = {
    var b = graft.Verify.sessionBuilder("4")
      .config(s"spark.sql.catalog.$catA", classOf[GraftCatalog].getName)
      .config(s"spark.sql.catalog.$catA.warehouse", warehouse)
      .config(s"spark.sql.catalog.$catB", classOf[GraftCatalog].getName)
      .config(s"spark.sql.catalog.$catB.warehouse", warehouse)
    for ((k, v) <- catalogOptions) {
      b = b.config(s"spark.sql.catalog.$catA.$k", v)
        .config(s"spark.sql.catalog.$catB.$k", v)
    }
    b.getOrCreate()
  }

  private def cat(name: String): GraftCatalog =
    spark.sessionState.catalogManager.catalog(name).asInstanceOf[GraftCatalog]

  test("append/append race across sessions rebases; both appends survive") {
    spark.sql(s"CREATE NAMESPACE $catA.ns1")
    spark.sql(s"CREATE TABLE $catA.ns1.t (k BIGINT)")

    // session A opens a txn on the current snapshot and stages an insert
    cat(catA).beginTransaction()
    spark.sql(s"INSERT INTO $catA.ns1.t VALUES (1), (2)")
    // session B commits first (auto-commit) — B wins the race
    spark.sql(s"INSERT INTO $catB.ns1.t VALUES (10), (20), (30)")
    assert(spark.table(s"$catB.ns1.t").count() == 3)
    // A commits: loses the root race, conflict matrix says resolvable,
    // replay re-appends A's files onto B's table state
    cat(catA).commitTransaction()

    val all = spark.table(s"$catB.ns1.t").collect().map(_.getLong(0)).sorted
    assert(all.sameElements(Array(1L, 2L, 10L, 20L, 30L)),
      s"lost an append in the rebase: ${all.mkString(",")}")
  }

  test("eq-delete MERGE replay refuses a concurrent same-table commit") {
    // A's equality deletes bind to what its MERGE scan observed; a
    // replay onto B's newer table state would re-stamp them at a
    // fresh sequence and swallow B's unseen matching-key rows. The
    // commit must fail loudly for a rerun — today the conflict matrix
    // aborts it (TABLE_UPDATE over committed append); commitKeyDelta's
    // head-seq replay validation backstops any matrix path that would
    // replay the edit instead
    spark.sql(s"""CREATE TABLE $catA.ns1.m (k BIGINT NOT NULL, v STRING)
                  TBLPROPERTIES ('graft.write.upsert-keys' = 'k',
                                 'graft.merge.mode' = 'merge-on-read-eq')""")
    spark.sql(
      s"INSERT INTO $catA.ns1.m SELECT id, concat('a', id) FROM range(5)")
    cat(catA).beginTransaction()
    spark.sql(s"""MERGE INTO $catA.ns1.m t
                  USING (SELECT id AS k, concat('b', id) AS v FROM range(3)) s
                  ON t.k = s.k WHEN MATCHED THEN UPDATE SET v = s.v""")
    spark.sql(s"INSERT INTO $catB.ns1.m VALUES (2, 'c')") // B wins
    val e = intercept[Exception] { cat(catA).commitTransaction() }
    val msg = String.valueOf(e.getMessage) + String.valueOf(e.getCause)
    assert(msg.contains("lost a race") || msg.contains("over committed"),
      s"expected a loud same-table refusal, got: $e")
    // the winner's commit is intact and A's merge applied nothing
    val rows = spark.table(s"$catB.ns1.m").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(rows.count(_._1 == 2L) == 2 && rows.contains((2L, "c")) &&
      rows.contains((2L, "a2")), s"winner state mangled: $rows")
    assert(!rows.exists(_._2.startsWith("b")), s"loser's merge leaked: $rows")
  }

  test("eq-delete MERGE replay proceeds when the race was another table") {
    spark.sql(s"""CREATE TABLE $catA.ns1.m2 (k BIGINT NOT NULL, v STRING)
                  TBLPROPERTIES ('graft.write.upsert-keys' = 'k',
                                 'graft.merge.mode' = 'merge-on-read-eq')""")
    spark.sql(s"CREATE TABLE $catA.ns1.other (k BIGINT)")
    spark.sql(
      s"INSERT INTO $catA.ns1.m2 SELECT id, concat('a', id) FROM range(5)")
    cat(catA).beginTransaction()
    spark.sql(s"""MERGE INTO $catA.ns1.m2 t
                  USING (SELECT id AS k, concat('b', id) AS v FROM range(3)) s
                  ON t.k = s.k WHEN MATCHED THEN UPDATE SET v = s.v""")
    spark.sql(s"INSERT INTO $catB.ns1.other VALUES (99)") // B wins elsewhere
    cat(catA).commitTransaction() // replay validates m2 unchanged → applies
    val rows = spark.table(s"$catB.ns1.m2").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(rows == Seq((0L, "b0"), (1L, "b1"), (2L, "b2"), (3L, "a3"),
      (4L, "a4")), s"merge lost in the cross-table rebase: $rows")
  }

  test("a REST commit races an open native transaction; both appends land") {
    // the facade's external-commit endpoint runs the SAME optimistic
    // commit path as a session — so an HTTP append winning the root
    // race rebases the native transaction exactly like a second session
    spark.sql(s"CREATE TABLE $catA.ns1.r (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $catA.ns1.r VALUES (1, 'base')")
    cat(catA).beginTransaction()
    spark.sql(s"INSERT INTO $catA.ns1.r VALUES (2, 'native')")
    // "external engine" commits over HTTP while A's txn is open
    val storage = cat(catB).storage
    val ext = new java.io.File(storage.absolute("data/ns1/r/files/ext"))
    ext.mkdirs()
    spark.range(1).selectExpr("3L AS k", "'rest' AS v")
      .coalesce(1).write.mode("append").parquet(ext.toString)
    val dataFile = ext.listFiles().find(_.getName.endsWith(".parquet")).get
    val entrySchema = new org.apache.avro.Schema.Parser().parse(
      """{"type":"record","name":"manifest_entry","fields":[
        |{"name":"status","type":"int"},
        |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
        |{"name":"file_path","type":"string"},
        |{"name":"file_format","type":"string"},
        |{"name":"record_count","type":"long"},
        |{"name":"file_size_in_bytes","type":"long"}]}}]}"""
        .stripMargin.replaceAll("\n", ""))
    val listSchema = new org.apache.avro.Schema.Parser().parse(
      """{"type":"record","name":"manifest_file","fields":[
        |{"name":"manifest_path","type":"string"},
        |{"name":"manifest_length","type":"long"}]}"""
        .stripMargin.replaceAll("\n", ""))
    def writeAvro(f: java.io.File, schema: org.apache.avro.Schema,
        recs: Seq[org.apache.avro.generic.GenericRecord]): Unit = {
      val w = new org.apache.avro.file.DataFileWriter(
        new org.apache.avro.generic.GenericDatumWriter[
          org.apache.avro.generic.GenericRecord](schema))
      w.create(schema, f)
      recs.foreach(w.append)
      w.close()
    }
    val df = new org.apache.avro.generic.GenericData.Record(
      entrySchema.getField("data_file").schema())
    df.put("file_path", dataFile.getAbsolutePath)
    df.put("file_format", "PARQUET")
    df.put("record_count", 1L)
    df.put("file_size_in_bytes", dataFile.length())
    val entry = new org.apache.avro.generic.GenericData.Record(entrySchema)
    entry.put("status", 1)
    entry.put("data_file", df)
    val mf = new java.io.File(ext, "client-m0.avro")
    writeAvro(mf, entrySchema, Seq(entry))
    val row = new org.apache.avro.generic.GenericData.Record(listSchema)
    row.put("manifest_path", mf.getAbsolutePath)
    row.put("manifest_length", mf.length())
    val ml = new java.io.File(ext, "client-ml0.avro")
    writeAvro(ml, listSchema, Seq(row))
    val body = graft.objects.Json.mapper.readTree(
      s"""{"requirements":[],"updates":[
         |{"action":"add-snapshot","snapshot":{
         |  "manifest-list":"${ml.getAbsolutePath}",
         |  "summary":{"operation":"append"}}},
         |{"action":"set-snapshot-ref","ref-name":"main","type":"branch",
         | "snapshot-id":1}]}""".stripMargin.replaceAll("\n", ""))
    graft.serve.IcebergCommits.commit(storage, "ns1", "r", body)
    assert(spark.table(s"$catB.ns1.r").count() == 2, "REST commit landed")
    // A commits last: loses the root race, append/append rebases
    cat(catA).commitTransaction()
    val rows = spark.table(s"$catB.ns1.r").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(rows == Seq((1L, "base"), (2L, "native"), (3L, "rest")), rows)
  }

  test("a multi-table REST transaction races an open native txn; " +
      "all appends land") {
    // the transactions endpoint stages into one native transaction, so
    // losing the root race to a concurrently-committed session rebases
    // BOTH table changes together — or fails both; never one of two
    spark.sql(s"CREATE TABLE $catA.ns1.ta (k BIGINT)")
    spark.sql(s"CREATE TABLE $catA.ns1.tb (k BIGINT)")
    spark.sql(s"INSERT INTO $catA.ns1.ta VALUES (1)")
    spark.sql(s"INSERT INTO $catA.ns1.tb VALUES (1)")
    cat(catA).beginTransaction()
    spark.sql(s"INSERT INTO $catA.ns1.ta VALUES (2)") // native, still open
    val storage = cat(catB).storage
    def stageExt(t: String): java.io.File = {
      val ext = new java.io.File(storage.absolute(s"data/ns1/$t/files/ext"))
      ext.mkdirs()
      spark.sql("SELECT CAST(9 AS BIGINT) AS k")
        .coalesce(1).write.mode("append").parquet(ext.toString)
      val dataFile = ext.listFiles().find(_.getName.endsWith(".parquet")).get
      val entrySchema = new org.apache.avro.Schema.Parser().parse(
        """{"type":"record","name":"manifest_entry","fields":[
          |{"name":"status","type":"int"},
          |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
          |{"name":"file_path","type":"string"},
          |{"name":"file_format","type":"string"},
          |{"name":"record_count","type":"long"},
          |{"name":"file_size_in_bytes","type":"long"}]}}]}"""
          .stripMargin.replaceAll("\n", ""))
      val listSchema = new org.apache.avro.Schema.Parser().parse(
        """{"type":"record","name":"manifest_file","fields":[
          |{"name":"manifest_path","type":"string"},
          |{"name":"manifest_length","type":"long"}]}"""
          .stripMargin.replaceAll("\n", ""))
      def writeAvro(f: java.io.File, schema: org.apache.avro.Schema,
          recs: Seq[org.apache.avro.generic.GenericRecord]): Unit = {
        val w = new org.apache.avro.file.DataFileWriter(
          new org.apache.avro.generic.GenericDatumWriter[
            org.apache.avro.generic.GenericRecord](schema))
        w.create(schema, f)
        recs.foreach(w.append)
        w.close()
      }
      val df = new org.apache.avro.generic.GenericData.Record(
        entrySchema.getField("data_file").schema())
      df.put("file_path", dataFile.getAbsolutePath)
      df.put("file_format", "PARQUET")
      df.put("record_count", 1L)
      df.put("file_size_in_bytes", dataFile.length())
      val entry = new org.apache.avro.generic.GenericData.Record(entrySchema)
      entry.put("status", 1)
      entry.put("data_file", df)
      val mf = new java.io.File(ext, "client-m0.avro")
      writeAvro(mf, entrySchema, Seq(entry))
      val row = new org.apache.avro.generic.GenericData.Record(listSchema)
      row.put("manifest_path", mf.getAbsolutePath)
      row.put("manifest_length", mf.length())
      val ml = new java.io.File(ext, "client-ml0.avro")
      writeAvro(ml, listSchema, Seq(row))
      ml
    }
    val mlA = stageExt("ta")
    val mlB = stageExt("tb")
    def change(t: String, ml: java.io.File) =
      s"""{"identifier":{"namespace":["ns1"],"name":"$t"},
         |"requirements":[],
         |"updates":[
         |{"action":"add-snapshot","snapshot":{
         |  "manifest-list":"${ml.getAbsolutePath}",
         |  "summary":{"operation":"append"}}},
         |{"action":"set-snapshot-ref","ref-name":"main","type":"branch",
         | "snapshot-id":1}]}""".stripMargin.replaceAll("\n", "")
    // the REST transaction commits while A's txn is open, then A
    // commits and rebases over it
    graft.serve.IcebergCommits.commitTransaction(storage,
      graft.objects.Json.mapper.readTree(
        s"""{"table-changes":[${change("ta", mlA)},${change("tb", mlB)}]}"""))
    cat(catA).commitTransaction()
    assert(spark.table(s"$catB.ns1.ta").collect().map(_.getLong(0)).sorted
      .sameElements(Array(1L, 2L, 9L)), "ta holds base + native + REST")
    assert(spark.table(s"$catB.ns1.tb").collect().map(_.getLong(0)).sorted
      .sameElements(Array(1L, 9L)), "tb holds base + REST")
  }

  test("every table edit kind survives a rebase over another table's commit") {
    // A stages one edit on its own table, B commits to a bystander
    // table first, A commits: A's rebase replays its edit on B's root
    // and must leave exactly the rows the edit alone would
    spark.sql(s"CREATE TABLE $catA.ns1.bystander (k BIGINT)")
    val base = Seq((0L, "a"), (1L, "b"), (2L, "c"))
    val kinds = Seq[(String, String, String => String, Seq[(Long, String)])](
      ("insert overwrite", "", t => s"INSERT OVERWRITE $t VALUES (7, 'o')",
        Seq((7L, "o"))),
      ("copy-on-write delete", "", t => s"DELETE FROM $t WHERE k = 1",
        Seq((0L, "a"), (2L, "c"))),
      ("merge-on-read delete", "'graft.delete.mode' = 'merge-on-read'",
        t => s"DELETE FROM $t WHERE k = 1", Seq((0L, "a"), (2L, "c"))),
      ("position-delta update", "'graft.update.mode' = 'merge-on-read'",
        t => s"UPDATE $t SET v = 'u' WHERE k = 1",
        Seq((0L, "a"), (1L, "u"), (2L, "c"))),
      ("position-delta merge", "'graft.merge.mode' = 'merge-on-read'",
        t => s"""MERGE INTO $t AS tgt
                 USING (SELECT 1L AS k, 'm' AS v UNION ALL SELECT 3L, 'n') AS src
                 ON tgt.k = src.k
                 WHEN MATCHED THEN UPDATE SET v = src.v
                 WHEN NOT MATCHED THEN INSERT *""",
        Seq((0L, "a"), (1L, "m"), (2L, "c"), (3L, "n"))),
      ("compact_table", "",
        t => s"CALL $catA.system.compact_table(namespace => 'ns1', " +
          s"table => '${t.split('.').last}')",
        base))
    for (((kind, props, stmt, want), i) <- kinds.zipWithIndex) {
      val t = s"$catA.ns1.kind$i"
      spark.sql(s"CREATE TABLE $t (k BIGINT, v STRING)" +
        (if (props.isEmpty) "" else s" TBLPROPERTIES ($props)"))
      // two commits, so the table has two files for compaction to merge
      spark.sql(s"INSERT INTO $t VALUES (0, 'a'), (1, 'b')")
      spark.sql(s"INSERT INTO $t VALUES (2, 'c')")
      val bystanderBefore = spark.table(s"$catB.ns1.bystander").count()
      val bWins = () => { spark.sql(s"INSERT INTO $catB.ns1.bystander VALUES ($i)"); () }
      if (kind == "compact_table") {
        // compaction commits in a transaction of its own: B commits
        // just before compaction's first root write
        val a = cat(catA)
        val own = a.storage
        a.storage = new RaceOps(own, bWins)
        try spark.sql(stmt(t)).collect() finally a.storage = own
        assert(spark.table(s"$catB.ns1.`kind$i$$files`").count() == 1,
          s"$kind: the compacted table holds one file")
      } else {
        cat(catA).beginTransaction()
        spark.sql(stmt(t))
        bWins()
        cat(catA).commitTransaction()
      }
      assert(spark.table(s"$catB.ns1.bystander").count() == bystanderBefore + 1,
        s"$kind: B's commit is intact")
      val rows = spark.table(s"$catB.ns1.kind$i").collect()
        .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      assert(rows == want, s"$kind after the rebase: $rows")
    }
  }

  test("update/update race across sessions aborts the loser") {
    spark.sql(s"CREATE TABLE $catA.ns1.u (k BIGINT)")
    spark.sql(s"INSERT INTO $catA.ns1.u VALUES (1)")
    cat(catA).beginTransaction()
    spark.sql(s"INSERT OVERWRITE $catA.ns1.u VALUES (100)")
    spark.sql(s"INSERT OVERWRITE $catB.ns1.u VALUES (200)") // wins
    val e = intercept[Exception] { cat(catA).commitTransaction() }
    assert(e.getMessage.contains("txn") || e.isInstanceOf[graft.txn.CommitFailedException])
    // winner's overwrite is the surviving state
    assert(spark.table(s"$catB.ns1.u").collect().map(_.getLong(0)).sameElements(Array(200L)))
  }
}

/** Runs `beforeRootWrite` once, just before the first catalog root
  * (`vn/<bits>`) write through this handle, so a commit made there
  * through another handle wins the version race.
  */
private class RaceOps(inner: StorageOps, beforeRootWrite: () => Unit)
    extends StorageOps {
  private var pending = true
  override def root: String = inner.root
  override def exists(rel: String): Boolean = inner.exists(rel)
  override def read(rel: String): Array[Byte] = inner.read(rel)
  override def sizeOf(rel: String): Long = inner.sizeOf(rel)
  override def prepareToReadLocal(rel: String): java.nio.file.Path =
    inner.prepareToReadLocal(rel)
  override def reopenConf: StorageConf = inner.reopenConf
  override def writeAtomic(rel: String, data: Array[Byte]): Unit = {
    if (pending && FileLocations.isRootNodePath(rel)) {
      pending = false
      beforeRootWrite()
    }
    inner.writeAtomic(rel, data)
  }
  override def overwrite(rel: String, data: Array[Byte]): Unit = inner.overwrite(rel, data)
  override def deleteBatch(rels: Seq[String]): Unit = inner.deleteBatch(rels)
  override def listPrefix(prefix: String): Seq[String] = inner.listPrefix(prefix)
  override def listDeep(prefix: String): Seq[String] = inner.listDeep(prefix)
  override def move(srcRel: String, dstRel: String): Unit = inner.move(srcRel, dstRel)
  override def deleteTree(prefix: String): Unit = inner.deleteTree(prefix)
  override def absolute(rel: String): String = inner.absolute(rel)
}

class ConcurrentWriteSpec extends ConcurrentWriteContract {
  override protected def catA = "wa"
  override protected def catB = "wb"
  override protected def catalogOptions: Map[String, String] = Map.empty
}

class ObjectStoreConcurrentWriteSpec extends ConcurrentWriteContract {
  override protected def catA = "oa"
  override protected def catB = "ob"
  override protected def catalogOptions: Map[String, String] =
    Map("storage" -> "object")
}
