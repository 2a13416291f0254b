package graft.perfbench

import scala.collection.mutable

import graft.tree.TreeOps
import org.apache.spark.sql.{Row, SparkSession}

/** `spark-dml`: the path of a Spark SQL user, one session, one client.
  *
  * Set-up loads `lineitem` and `orders` into graft tables whose delete,
  * update and merge modes are merge-on-read, plus one aggregate MV over
  * `lineitem`. Then a seeded cycle of statements runs until time is up,
  * whole cycles, at least one: writes (INSERT of ~1 000 rows, DELETE of
  * a key range, UPDATE, MERGE from ~1 000 rows), then reads, which apply
  * the merge-on-read deletes the writes left (point lookup by
  * l_orderkey, one-month aggregate, the same aggregate VERSION AS OF the
  * set-up catalog version, a `$snapshots` query), then maintenance (MV
  * refresh, compaction, snapshot expiry), which resets the deletes.
  * After each cycle the row count, a quantity checksum and the MV equal
  * the benchmark's model.
  */
object SparkDml {
  final case class Size(sf: Double, setups: Int)
  val Full = Size(sf = 0.01, setups = 2)
  val Smoke = Size(sf = 0.0005, setups = 1)
  /** 11 statements per cycle: p75 is the highest percentile one cycle
    * supports (3 beyond it).
    */
  val TailPct = 75.0

  /** Model row: quantity, extended price, ship month index, return flag. */
  final case class Li(qty: Double, price: Double, month: Int, flag: String)

  def month(r: Row): Int = {
    val d = java.time.LocalDate.ofEpochDay(r.getTimestamp(10).getTime / DataGen.Day)
    d.getYear * 12 + d.getMonthValue - 1
  }

  def toLi(r: Row): Li = Li(r.getDouble(4), r.getDouble(5), month(r), r.getString(8))

  def run(args: Args): Result = {
    val r = new Result
    val size = if (args.smoke) Smoke else Full
    val spark = SparkRun.session(args, args.work.resolve("warehouse"))
    try exercise(spark, args, size, r) finally spark.stop()
    r
  }

  /** Set up, warm up and measure in `spark`; returns the measured
    * statements' times (ms).
    */
  def exercise(spark: SparkSession, args: Args, size: Size, r: Result): Seq[Double] = {
    val n = DataGen.counts(size.sf)
    val (parts, supps, custs) = (n("part"), n("supplier"), n("customer"))
    val model = mutable.HashMap.empty[(Long, Int), Li]
    var nextOrder = 0L

    // set-up, timed over `setups` rounds; each round loads its own namespace
    def load(ns: String, sf: Double): String = {
      val n = DataGen.counts(sf)
      val rng = new java.util.Random(args.seed)
      val (o, l) = DataGen.orders(rng, 1L, 1L + n("orders"), n("customer"), n("part"),
        n("supplier"))
      spark.sql(s"CREATE NAMESPACE $ns")
      val mor = """TBLPROPERTIES ('graft.delete.mode' = 'merge-on-read',
        'graft.update.mode' = 'merge-on-read', 'graft.merge.mode' = 'merge-on-read')"""
      spark.sql(s"CREATE TABLE $ns.lineitem (${DataGen.lineitemSchema.toDDL}) $mor")
      spark.sql(s"CREATE TABLE $ns.orders (${DataGen.ordersSchema.toDDL}) $mor")
      DataGen.df(spark, l, DataGen.lineitemSchema).writeTo(s"$ns.lineitem").append()
      DataGen.df(spark, o, DataGen.ordersSchema).writeTo(s"$ns.orders").append()
      spark.sql(s"""CREATE MATERIALIZED VIEW $ns.mv AS
        SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS q
        FROM $ns.lineitem GROUP BY l_returnflag""")
      model.clear()
      l.foreach(row => model((row.getLong(0), row.getInt(3))) = toLi(row))
      nextOrder = 1L + n("orders")
      ns
    }
    r.mark("session")
    def storage = SparkRun.catalog(spark).storage
    def monthAgg(m: collection.Map[(Long, Int), Li], mo: Int): (Long, Double, Double) = {
      val rows = m.valuesIterator.filter(_.month == mo).toSeq
      (rows.size.toLong, rows.map(_.qty).sum, rows.map(_.price).sum)
    }
    // the namespace the cycles run against, and its state right after loading
    var ns = ""
    var li = ""
    var setupVersion = 0L
    var setupModel = model.clone()
    var months = IndexedSeq.empty[Int]
    var dataDir = args.work
    def use(loaded: String): Unit = {
      ns = loaded
      li = s"$ns.lineitem"
      setupVersion = TreeOps.latestVersion(storage).get
      setupModel = model.clone()
      months = model.valuesIterator.map(_.month).toSeq.distinct.sorted.toIndexedSeq
      dataDir = args.work.resolve(s"warehouse/data/${ns.stripPrefix("g.")}/lineitem/files")
    }

    val st = new Statements(spark, args.trace)
    def close(a: Double, b: Double) = math.abs(a - b) <= 1e-6 * math.max(1.0, math.abs(b))

    def query(label: String, sql: String): Array[Row] = {
      val rows = st.run(label, "read")(spark.sql(sql).collect())
      st.log.last.rowsOut = rows.length
      rows
    }

    def read(label: String)(sql: String)(check: Row => Boolean): Unit = {
      val rows = query(label, sql)
      r.check(rows.length == 1 && check(rows(0)), s"$label: ${rows.toSeq}")
    }

    def aggSql(mo: Int, asOf: String): String = {
      val (y, m) = (mo / 12, mo % 12 + 1)
      val start = f"$y%04d-$m%02d-01"
      val end = if (m == 12) f"${y + 1}%04d-01-01" else f"$y%04d-${m + 1}%02d-01"
      s"""SELECT count(*), sum(l_quantity), sum(l_extendedprice) FROM $li $asOf
          WHERE l_shipdate >= TIMESTAMP '$start' AND l_shipdate < TIMESTAMP '$end'"""
    }

    def aggMatches(row: Row, want: (Long, Double, Double)): Boolean =
      row.getLong(0) == want._1 && (want._1 == 0 || close(row.getDouble(1), want._2) &&
        close(row.getDouble(2), want._3))

    val deletesLive = mutable.ArrayBuffer.empty[Double]
    val compactKb = mutable.ArrayBuffer.empty[Double]

    def cycle(c: Int): Unit = {
      val rng = new java.util.Random(args.seed * 1000003L + c)
      // writes; the model changes only after the statement returns
      val (_, ins) = DataGen.orders(rng, nextOrder, nextOrder + 250, custs, parts, supps)
      nextOrder += 250
      DataGen.df(spark, ins, DataGen.lineitemSchema).createOrReplaceTempView("ins")
      st.run("insert", "write")(spark.sql(s"INSERT INTO $li SELECT * FROM ins"))
      ins.foreach(row => model((row.getLong(0), row.getInt(3))) = toLi(row))

      val a = 1L + rng.nextInt((nextOrder - 20).toInt)
      st.run("delete", "write")(
        spark.sql(s"DELETE FROM $li WHERE l_orderkey BETWEEN $a AND ${a + 9}"))
      model.filterInPlace((key, _) => key._1 < a || key._1 > a + 9)

      val b = 1L + rng.nextInt((nextOrder - 30).toInt)
      st.run("update", "write")(spark.sql(
        s"UPDATE $li SET l_quantity = l_quantity + 1 WHERE l_orderkey BETWEEN $b AND ${b + 19}"))
      model.mapValuesInPlace((key, v) =>
        if (key._1 >= b && key._1 <= b + 19) v.copy(qty = v.qty + 1) else v)

      val live = model.keysIterator.toIndexedSeq
      val matched = mutable.LinkedHashSet.empty[(Long, Int)]
      while (matched.size < math.min(500, live.size)) matched += live(rng.nextInt(live.size))
      val (_, fresh) = DataGen.orders(rng, nextOrder, nextOrder + 125, custs, parts, supps)
      nextOrder += 125
      val src = matched.toSeq.map { case (ok, ln) =>
        DataGen.lineitem(rng, ok, ln, parts, supps) } ++ fresh
      DataGen.df(spark, src, DataGen.lineitemSchema).createOrReplaceTempView("src")
      st.run("merge", "write")(spark.sql(s"""MERGE INTO $li t USING src s
        ON t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber
        WHEN MATCHED THEN UPDATE SET t.l_quantity = s.l_quantity
        WHEN NOT MATCHED THEN INSERT *"""))
      src.foreach { row =>
        val key = (row.getLong(0), row.getInt(3))
        model(key) = model.get(key).map(_.copy(qty = row.getDouble(4))).getOrElse(toLi(row))
      }

      // reads, which apply the merge-on-read deletes the writes left
      val keys = model.keysIterator.toIndexedSeq
      val k = keys(rng.nextInt(keys.size))._1
      val pointRows = query("point", s"SELECT * FROM $li WHERE l_orderkey = $k")
      val want = model.filter(_._1._1 == k).values
      r.check(pointRows.length == want.size &&
        close(pointRows.map(_.getDouble(4)).sum, want.map(_.qty).sum),
        s"point $k: ${pointRows.length} rows, model ${want.size}")
      val mo = months(rng.nextInt(months.size))
      read("month_agg")(aggSql(mo, ""))(aggMatches(_, monthAgg(model, mo)))
      read("month_agg_asof")(aggSql(mo, s"VERSION AS OF $setupVersion"))(
        aggMatches(_, monthAgg(setupModel, mo)))
      read("snapshots")(s"SELECT count(*) FROM $ns.`lineitem$$snapshots`")(_.getLong(0) > 0)

      if (args.trace) deletesLive += spark.sql(
        s"SELECT count(*) FROM $ns.`lineitem$$deletes`").head().getLong(0).toDouble

      // maintenance
      st.run("mv_refresh", "write")(spark.sql(s"REFRESH MATERIALIZED VIEW $ns.mv").collect())
      val before = if (args.trace) Kernel.dirBytes(dataDir) else 0L
      st.run("compact", "maintain")(spark.sql(
        s"CALL g.system.compact_table(namespace => '${ns.stripPrefix("g.")}', " +
          "table => 'lineitem')").collect())
      if (args.trace) compactKb += (Kernel.dirBytes(dataDir) - before) / 1024.0
      st.run("expire", "maintain")(spark.sql(
        s"CALL g.system.expire_snapshots('${ns.stripPrefix("g.")}', 'lineitem', 5)").collect())

      // output checks, untimed
      val tot = spark.sql(s"SELECT count(*), sum(l_quantity) FROM $li").head()
      r.check(tot.getLong(0) == model.size && close(tot.getDouble(1), model.values.map(_.qty).sum),
        s"cycle $c: table has ${tot.getLong(0)} rows / ${tot.getDouble(1)}, model " +
          s"${model.size} / ${model.values.map(_.qty).sum}")
      val mv = spark.sql(s"SELECT l_returnflag, n, q FROM $ns.mv").collect()
        .map(x => x.getString(0) -> (x.getLong(1), x.getDouble(2))).toMap
      val mvWant = model.values.groupBy(_.flag).map { case (f, v) => f -> (v.size.toLong,
        v.map(_.qty).sum) }
      r.check(mv.keySet == mvWant.keySet && mv.forall { case (f, (cnt, q)) =>
        cnt == mvWant(f)._1 && close(q, mvWant(f)._2) }, s"cycle $c: mv $mv, model $mvWant")
    }
    // untimed warm-up at the smallest size: a load and one cycle with
    // maintenance, so neither set-up nor the measured cycles compile
    // Spark's and graft's paths
    use(load("g.warm", Smoke.sf))
    cycle(-1)
    st.log.clear(); deletesLive.clear(); compactKb.clear(); Trace.reset()
    r.attempted.set(0); r.failed.set(0)
    r.mark("warmup")
    val (setupS, loaded) =
      Kernel.timedSetup(r, size.setups)(round => load(s"g.r$round", size.sf))(_ => ())
    use(loaded)
    r.mark("setup")
    SparkRun.countStorage(spark)
    Kernel.syncDisk()
    Trace.reset()
    val whDir = args.work.resolve("warehouse")
    val bytesBefore = Kernel.dirBytes(whDir)
    val versionBefore = TreeOps.latestVersion(storage).get
    val t0 = System.nanoTime()
    var c = 0
    // whole cycles, so every run measures the same statement mix
    val cycles = mutable.ArrayBuffer.empty[Seq[Double]]
    while (c < 1 || System.nanoTime() - t0 < args.seconds * 1e9) {
      val from = st.log.size
      cycle(c)
      c += 1
      cycles += st.log.drop(from).map(_.ms).toSeq
    }
    r.mark("measured")
    val stored = Kernel.dirBytes(whDir) - bytesBefore
    val commits = (TreeOps.latestVersion(storage).get - versionBefore).max(1L).toDouble
    val heap = Stats.heapMb()
    val times = st.log.map(_.ms).toSeq
    r.attempted.addAndGet(st.log.size)

    r.endToEnd ++= Seq(
      "setup_s" -> (setupS, "s"),
      // statements per second of statement time, median over cycles
      // (the untimed output checks between statements are left out)
      "ops_per_s" -> (Stats.median(cycles.map(p => p.size / (p.sum / 1000.0)).toSeq), "1/s"),
      "p50_ms" -> (Stats.median(times), "ms"),
      "tail_ms" -> (Stats.pct(times, TailPct), "ms"),
      "heap_mb" -> (heap, "MiB"))

    if (args.trace) {
      val stmts = st.log.size.toDouble
      def medianOf(kind: String) = Stats.median(st.log.filter(_.kind == kind).map(_.ms).toSeq)
      def meanOf(label: String) = Stats.mean(st.log.filter(_.label == label).map(_.ms).toSeq)
      val loads = Trace.allSpans.filter(_.name == "GraftCatalog.loadTable")
      r.perLayer ++= st.sparkMetrics(st.log.toSeq)
      r.perLayer ++= PerLayer.storage(stmts, objectStore = false)
      r.perLayer ++= Seq(
        "storage.stored_kb_per_commit" -> (stored / 1024.0 / commits, "KiB"),
        "tree.depth" -> (Kernel.depth(storage).toDouble, "count"),
        "tree.nodes_written_per_commit" -> (
          StorageCount.total("ops", "put", _ == "node") / commits, "count"),
        "tree.node_kb_written" -> (StorageCount.total("ops", "put", _ == "node",
          bytes = true) / 1024.0 / commits, "KiB"),
        "txn.attempts_per_commit" -> (Trace.sum(k => k.startsWith("cas.") &&
          k.endsWith(".attempt")) / commits, "count"),
        "spark.stmt_read_ms" -> (medianOf("read"), "ms"),
        "spark.stmt_write_ms" -> (medianOf("write"), "ms"),
        "catalog.load_table_ms" -> (Stats.mean(loads.map(_.ms)), "ms"),
        "catalog.load_table_per_stmt" -> (loads.size / stmts, "count"),
        "format.metadata_reads_per_stmt" -> (StorageCount.total("ops", "get",
          c => c == "meta" || c == "manifest") / stmts, "count"),
        "format.manifest_kb_read_per_stmt" -> (StorageCount.total("ops", "get",
          _ == "manifest", bytes = true) / 1024.0 / stmts, "KiB"),
        "format.delete_objects_live" -> (Stats.mean(deletesLive.toSeq), "count"),
        "maintain.compact_ms" -> (meanOf("compact"), "ms"),
        "maintain.compact_kb_rewritten" -> (Stats.mean(compactKb.toSeq), "KiB"),
        "maintain.mv_refresh_ms" -> (meanOf("mv_refresh"), "ms"))
    }
    r.detail ++= Seq("cycles" -> c, "statements" -> st.log.size,
      "rows" -> model.size, "setup_catalog_version" -> setupVersion,
      "statements_by_label" -> st.byLabel)
    times
  }
}
