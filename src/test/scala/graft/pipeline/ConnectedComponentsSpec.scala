package graft.pipeline

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** dd07's clustering core. Under the edge budget the labels come from
  * one collect and a driver union-find; over it (the broadcast
  * threshold pinned to -1 here) small-star/large-star connected
  * components must converge in O(log n) rounds even on adversarial
  * chain-shaped components — the case plain label propagation
  * (bounded rounds) would silently mislabel. Both paths must give the
  * same labels and the same schema.
  */
class ConnectedComponentsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.Verify.sessionBuilder("4").getOrCreate()

  /** Broadcast thresholds that pin each path: 10 MB (a budget of
    * 10 240 edges, so the driver union-find for every graph here) and
    * -1 (star rounds).
    */
  private val paths = Seq("driver" -> "10485760", "star" -> "-1")

  /** Runs `body` with the edge budget's conf set to `threshold`. The
    * suite may share its session with another spec that set the conf,
    * so it is pinned for the body and restored after.
    */
  private def onPath[T](threshold: String)(body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, threshold)
    try body
    finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def labels(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def cc(edges: Seq[(Long, Long)], threshold: String): Map[Long, Long] = {
    import spark.implicits._
    onPath(threshold) {
      labels(Dedup.connectedComponents(edges.toDF("a", "b"), "a", "b", "id", "label"))
    }
  }

  /** Reference labeling: driver-side union-find. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("40-deep chain converges to the minimum label") {
    // 0-1-2-…-40: diameter 40; label propagation capped at 20 rounds
    // would leave the tail wrongly labeled — star exchanges must not
    val edges = (0L until 40L).map(i => (i, i + 1))
    for ((path, threshold) <- paths) withClue(s"$path path: ") {
      val labels = cc(edges, threshold)
      assert(labels.size == 41)
      assert(labels.values.forall(_ == 0L), s"non-min labels: ${
        labels.filter(_._2 != 0L)}")
    }
  }

  test("mixed components match union-find") {
    // two chains, one star, one triangle with cross edge, shuffled ids
    val edges = Seq[(Long, Long)](
      (7, 3), (3, 11), (11, 9),               // chain rooted at 3
      (100, 50), (100, 60), (100, 70),        // star, min 50
      (201, 202), (202, 203), (203, 201), (203, 204), // triangle + tail
      (1000, 999))
    for ((path, threshold) <- paths) withClue(s"$path path: ") {
      assert(cc(edges, threshold) == unionFind(edges))
    }
  }

  test("seeded random graphs: both paths equal union-find, with equal schemas") {
    import spark.implicits._
    val rnd = new scala.util.Random(20261017L)
    (1 to 5).foreach { g =>
      val n = 30 + rnd.nextInt(60)
      val raw = Seq.fill(n)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      val edges = raw ++
        raw.take(5) ++                             // duplicates
        raw.take(5).map(_.swap) ++                 // reversed
        Seq((7L, 7L), (500L + g, 500L + g))        // self-loops, one self-only
      val withNull: Seq[(Option[Long], Option[Long])] =
        edges.map { case (a, b) => (Some(a), Some(b)) } ++
          Seq((Some(900L + g), None), (None, None))
      val df = withNull.toDF("a", "b")
      val out = paths.map { case (_, threshold) =>
        onPath(threshold) {
          val o = Dedup.connectedComponents(df, "a", "b", "id", "label")
          (labels(o), o.schema)
        }
      }
      // self-loops and null endpoints add no vertex and join nothing
      val expected = unionFind(edges.filter { case (a, b) => a != b })
      for (((path, _), (l, _)) <- paths.zip(out)) withClue(s"graph $g, $path path: ") {
        assert(l == expected)
        assert(!l.contains(500L + g) && !l.contains(900L + g))
      }
      assert(out.map(_._2).distinct.size == 1,
        s"schemas differ: ${out.map(_._2.simpleString)}")
    }
  }

  test("non-convergence inside the round budget throws, never mislabels") {
    import spark.implicits._
    val edges = (0L until 16L).map(i => (i, i + 1)).toDF("a", "b")
    intercept[IllegalStateException] {
      onPath("-1") {
        Dedup.connectedComponents(edges, "a", "b", "id", "label",
          maxRounds = 1).collect()
      }
    }
  }

  /** Jobs submitted by `body` on this thread, counted by a listener
    * that sees each job's local properties. A tagged sentinel job after
    * `body` flushes the asynchronous listener bus: once its start
    * arrives, every earlier job start has too.
    */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = "graft.test.cc"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty(tag)))
          .foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tag, "body")
      body
      sc.setLocalProperty(tag, "sentinel")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 10_000_000_000L
      while (!seen.contains("sentinel") && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(seen.contains("sentinel"), "listener bus did not drain")
      seen.toArray.count(_ == "body")
    } finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(listener)
    }
  }

  test("under the budget the chain is labeled in at most 2 jobs; the star path takes > 10") {
    import spark.implicits._
    // an RDD-backed frame, so the probe is a real job (a local Seq
    // would fold into the plan and run none)
    val chain = spark.sparkContext.parallelize((0L until 40L).map(i => (i, i + 1)), 2)
      .toDF("a", "b")
    def run(threshold: String): Unit = onPath(threshold) {
      val l = labels(Dedup.connectedComponents(chain, "a", "b", "id", "label"))
      assert(l.size == 41 && l.values.forall(_ == 0L))
    }
    val driverJobs = jobsOf(run("10485760"))
    val starJobs = jobsOf(run("-1"))
    assert(driverJobs >= 1 && driverJobs <= 2, s"driver path ran $driverJobs jobs")
    assert(starJobs > 10, s"star path ran $starJobs jobs")
  }

  test("the star path leaves at most its final round's checkpoint cached") {
    import spark.implicits._
    val sc = spark.sparkContext
    def cached() = sc.getRDDStorageInfo.map(_.id).toSet
    val before = cached()
    val edges = (0L until 40L).map(i => (i, i + 1)).toDF("a", "b")
    val l = onPath("-1") {
      labels(Dedup.connectedComponents(edges, "a", "b", "id", "label"))
    }
    assert(l.size == 41)
    val extra = cached() -- before
    assert(extra.size <= 1, s"superseded round checkpoints still cached: $extra")
  }
}
