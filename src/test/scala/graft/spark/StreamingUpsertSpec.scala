package graft.spark

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Native streaming UPSERT sink: writeStream into a graft table whose
  * `graft.write.upsert-keys` property names key columns commits each
  * micro-batch as data files + an equality-delete object — rows with
  * the batch's keys in strictly-older files are logically replaced,
  * no data file is ever rewritten on the ingest path.
  */
class StreamingUpsertSpec extends AnyFunSuite {

  private lazy val warehouse = Files.createTempDirectory("graft-ups").toString

  lazy val spark: SparkSession = graft.Verify.sessionBuilder("4")
    .config("spark.sql.extensions", classOf[GraftSparkExtensions].getName)
    .config("spark.sql.catalog.gsu", classOf[GraftCatalog].getName)
    .config("spark.sql.catalog.gsu.warehouse", warehouse)
    .getOrCreate()

  private def ingest(): Unit = {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, String, Int)]
    val q = in.toDF().toDF("k", "v", "ver").writeStream
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ups-ck").toString)
      .toTable("gsu.ns.state")
    def epoch(rows: (Long, String, Int)*): Unit = {
      in.addData(rows: _*); q.processAllAvailable()
    }
    epoch((1L, "a", 0), (2L, "b", 0), (3L, "c", 0))
    epoch((2L, "b1", 1), (4L, "d1", 1))
    epoch((1L, "a2", 2), (4L, "d2", 2))
    q.stop()
  }

  test("latest row per key wins; ingest rewrites nothing") {
    spark.sql("CREATE NAMESPACE gsu.ns")
    spark.sql("""CREATE TABLE gsu.ns.state (k BIGINT, v STRING, ver INT)
                 TBLPROPERTIES ('graft.write.upsert-keys' = 'k')""")
    ingest()
    val rows = spark.table("gsu.ns.state").orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(rows.toSeq == Seq((1L, "a2", 2), (2L, "b1", 1), (3L, "c", 0),
      (4L, "d2", 2)))
    // three upsert snapshots; every epoch's rows still physically
    // present (nothing was rewritten — deletes are logical)
    val snaps = spark.sql(
      """SELECT operation FROM gsu.ns.`state$snapshots`
         ORDER BY snapshot_id""").collect().map(_.getString(0))
    assert(snaps.toSeq == Seq("upsert", "upsert", "upsert"))
    val snap = meta().currentSnapshot.get
    assert(snap.totalRows == 7, "7 ingested rows ride 3 immutable files")
    assert(snap.eqDeletes.size == 3, "one key object per epoch pending")
  }

  test("time travel sees each epoch's merged state") {
    val ids = spark.sql(
      "SELECT snapshot_id FROM gsu.ns.`state$snapshots` ORDER BY snapshot_id")
      .collect().map(_.getLong(0))
    graft.maintain.Maintenance.createTag(catalog(),
      org.apache.spark.sql.connector.catalog.Identifier.of(
        Array("ns"), "state"), "e1", ids(1))
    val afterEpoch1 = spark.sql(
      "SELECT k, v FROM gsu.ns.state VERSION AS OF 'e1' ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(afterEpoch1.toSeq == Seq((1L, "a"), (2L, "b1"), (3L, "c"),
      (4L, "d1")))
  }

  test("CDC surfaces upserts as delete(old) + insert(new)") {
    val changes = spark.table("gsu.ns.`state$changes`")
      .select("k", "v", "_change_type")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val inserts = changes.filter(_._3 == "insert").map(t => (t._1, t._2)).sorted
    val deletes = changes.filter(_._3 == "delete").map(t => (t._1, t._2)).sorted
    assert(inserts.toSeq == Seq((1L, "a"), (1L, "a2"), (2L, "b"), (2L, "b1"),
      (3L, "c"), (4L, "d1"), (4L, "d2")))
    assert(deletes.toSeq == Seq((1L, "a"), (2L, "b"), (4L, "d1")))
  }

  test("row-level ops and filters respect pending equality deletes") {
    assert(spark.sql("SELECT v FROM gsu.ns.state WHERE k = 4")
      .collect().map(_.getString(0)).toSeq == Seq("d2"))
    // copy-on-write UPDATE reads through the eq residuals: the dead
    // (k=1,'a') row must not resurrect in the rewrite
    spark.sql("UPDATE gsu.ns.state SET v = 'x' WHERE k = 1")
    val rows = spark.table("gsu.ns.state").orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.toSeq == Seq((1L, "x"), (2L, "b1"), (3L, "c"), (4L, "d2")))
  }

  test("orphan cleanup never claims pending equality-delete objects") {
    val snap = meta().currentSnapshot.get
    assert(snap.eqDeletes.nonEmpty, "precondition: deletes still pending")
    val removable = graft.maintain.Maintenance.removeOrphanFiles(catalog(),
      org.apache.spark.sql.connector.catalog.Identifier.of(
        Array("ns"), "state"), dryRun = true)
    assert(!removable.exists(_.endsWith("-eqdelete.parquet")),
      s"live equality-delete objects listed as orphans: $removable")
    // and reads still see the merged state afterwards
    assert(spark.table("gsu.ns.state").count() == 4)
  }

  test("compaction materializes equality deletes and clears the list") {
    graft.maintain.Maintenance.compactDataFiles(spark, catalog(),
      org.apache.spark.sql.connector.catalog.Identifier.of(
        Array("ns"), "state"))
    val snap = meta().currentSnapshot.get
    assert(snap.totalRows == 4, "compaction dropped logically-deleted rows")
    assert(snap.eqDeletes.isEmpty, "the full rewrite cleared the pending list")
    val rows = spark.table("gsu.ns.state").orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.toSeq == Seq((1L, "x"), (2L, "b1"), (3L, "c"), (4L, "d2")))
  }

  test("a keyless stream stays a plain append sink") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    spark.sql("CREATE TABLE gsu.ns.plain (k BIGINT, v STRING)")
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("k", "v").writeStream
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ups-ck2").toString)
      .toTable("gsu.ns.plain")
    in.addData((1L, "a")); q.processAllAvailable()
    in.addData((1L, "b")); q.processAllAvailable()
    q.stop()
    assert(spark.table("gsu.ns.plain").count() == 2,
      "no keys, no deletes: both rows live")
    val ops = spark.sql(
      "SELECT operation FROM gsu.ns.`plain$snapshots`")
      .collect().map(_.getString(0))
    assert(ops.toSeq == Seq("append", "append"))
  }

  // the exactly-once watermark of a replayed epoch must survive every
  // def edit between the first commit and the replay
  for ((edit, alter) <- Seq[(String, String => Unit)](
      "ALTER TABLE SET TBLPROPERTIES" -> (t => spark.sql(
        s"ALTER TABLE $t SET TBLPROPERTIES ('team' = 'ops')")),
      "CREATE MATERIALIZED VIEW on the table" -> (t => spark.sql(
        s"""CREATE MATERIALIZED VIEW ${t}_mv AS
            SELECT k, count(*) AS n FROM $t GROUP BY k""")))) {
    test(s"a replayed epoch commits once across $edit") {
      import spark.implicits._
      implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val t = "gsu.ns.replay_" + edit.takeWhile(_ != ' ').toLowerCase
      spark.sql(s"CREATE TABLE $t (k BIGINT, v STRING)")
      val ck = Files.createTempDirectory("graft-ups-replay")
      val in = MemoryStream[(Long, String)]
      def run(): Unit = {
        val q = in.toDF().toDF("k", "v").writeStream
          .option("checkpointLocation", ck.toString).toTable(t)
        try q.processAllAvailable() finally q.stop()
      }
      in.addData((1L, "a"), (2L, "b"))
      run()
      assert(spark.table(t).count() == 2)
      alter(t)
      // the commit of epoch 0 was "lost" after the table committed it:
      // the restarted query replays the epoch with the same query id
      val commits = ck.resolve("commits")
      Files.delete(commits.resolve("0"))
      Files.deleteIfExists(commits.resolve(".0.crc"))
      run()
      assert(Files.exists(commits.resolve("0")), "epoch 0 was not replayed")
      assert(spark.table(t).count() == 2, s"replayed epoch after $edit " +
        "committed a second time")
    }
  }

  test("oversized key sets skip the broadcast hint, results identical") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gsu.ns")
    spark.sql("""CREATE TABLE gsu.ns.big (k BIGINT, v STRING)
                 TBLPROPERTIES ('graft.write.upsert-keys' = 'k')""")
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("k", "v").writeStream
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ups-ck3").toString)
      .toTable("gsu.ns.big")
    in.addData((1 to 500).map(i => (i.toLong, s"v$i")): _*)
    q.processAllAvailable()
    in.addData((1 to 250).map(i => (i.toLong, s"w$i")): _*)
    q.processAllAvailable()
    q.stop()
    val expected = spark.table("gsu.ns.big").orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(expected.size == 500 && expected.take(2) ==
      Seq((1L, "w1"), (2L, "w2")))
    // drive the REWRITE-path read (readEntries — what compaction and
    // copy-on-write row ops consume) with the key set forced past the
    // broadcast bound: the anti-join must plan WITHOUT a broadcast
    // exchange and return identical rows
    val cat = catalog()
    val storage = cat.storage
    val txn = graft.catalog.Graft.beginTransaction(storage)
    val snap = try {
      val td = graft.catalog.Graft.describeTable(storage, txn, "ns", "big")
      graft.format.TableMetadata.read(storage, td.metadataLocation)
        .currentSnapshot.get
    } finally txn.close()
    assert(snap.eqDeletes.nonEmpty)
    val schema = spark.table("gsu.ns.big").schema
    def rewriteRead() = MorDeletes.readEntries(spark, schema,
      Some(storage.absolute("data/ns/big/files")),
      graft.format.Manifests.filesOf(storage, snap)
        .map(f => (storage.absolute(f.path), f)),
      snap.deletes,
      snap.posDeletes.map(p => storage.absolute(p.path)),
      eqDeletes = snap.eqDeletes.map(p => (storage.absolute(p.path), p)))
    // default bound: the tiny key object broadcasts
    assert(rewriteRead().queryExecution.executedPlan.toString
      .contains("BroadcastExchange"))
    // disabling auto-broadcast isolates the HINT: a hinted join
    // broadcasts regardless of the threshold, so a shuffle plan here
    // proves the hint is really gone past the bound
    spark.conf.set(MorDeletes.BroadcastBytesMaxConf, "0")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = rewriteRead()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastExchange"),
        s"oversized key set still broadcast:\n$plan")
      val rows = df.orderBy("k").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(rows == expected, "non-broadcast anti-join changed the result")
    } finally {
      spark.conf.unset(MorDeletes.BroadcastBytesMaxConf)
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("reads stay COLUMNAR under pending equality deletes") {
    // gsu.ns.big still carries its pending eq-delete objects (the
    // broadcast-bound test above compacts nothing)
    val snap = {
      val cat = catalog()
      val txn = graft.catalog.Graft.beginTransaction(cat.storage)
      try {
        val td = graft.catalog.Graft.describeTable(cat.storage, txn,
          "ns", "big")
        graft.format.TableMetadata.read(cat.storage, td.metadataLocation)
          .currentSnapshot.get
      } finally txn.close()
    }
    assert(snap.eqDeletes.nonEmpty, "precondition: eq deletes pending")
    val df = spark.table("gsu.ns.big")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"),
      s"pending eq deletes dropped the scan to row-at-a-time:\n$plan")
    assert(df.count() == 500)
    assert(df.where("k = 1").collect().map(_.getString(1)).toSeq == Seq("w1"))
  }

  private def catalog(): GraftCatalog =
    spark.sessionState.catalogManager.catalog("gsu").asInstanceOf[GraftCatalog]

  private def meta(): graft.format.TableMetadata = {
    val cat = catalog()
    val txn = graft.catalog.Graft.beginTransaction(cat.storage)
    try {
      val td = graft.catalog.Graft.describeTable(cat.storage, txn, "ns", "state")
      graft.format.TableMetadata.read(cat.storage, td.metadataLocation)
    } finally txn.close()
  }
}
