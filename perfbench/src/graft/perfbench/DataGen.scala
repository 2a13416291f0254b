package graft.perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded synthetic tables in the shape of graft's test data (TPC-H-like
  * star schema plus events, documents and embeddings; FIXTURES.md). The
  * same seed gives the same rows. `sf` scales the row counts like the
  * test data: sf 0.01 = 60 000 lineitem rows.
  */
object DataGen {
  val Day = 86400000L
  val Epoch1992 = 694224000000L // 1992-01-01 UTC
  val ShipDays = 2400

  val lineitemSchema = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))

  val ordersSchema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType)))

  def counts(sf: Double): Map[String, Int] = Map(
    "region" -> 5, "nation" -> 25,
    "customer" -> (150000 * sf).toInt.max(50), "supplier" -> (10000 * sf).toInt.max(10),
    "part" -> (200000 * sf).toInt.max(50), "orders" -> (1500000 * sf).toInt.max(100),
    "events" -> (1000000 * sf).toInt.max(500), "documents" -> 500, "embeddings" -> 500)

  private def r2(x: Double): Double = math.round(x * 100) / 100.0

  /** One lineitem row; all values drawn from `rng`. */
  def lineitem(rng: java.util.Random, order: Long, line: Int, parts: Int,
      supps: Int): Row = {
    val qty = (1 + rng.nextInt(50)).toDouble
    val price = r2(qty * (900 + rng.nextInt(20000) / 10.0))
    Row(order, 1L + rng.nextInt(parts), 1L + rng.nextInt(supps), line, qty, price,
      rng.nextInt(11) / 100.0, rng.nextInt(9) / 100.0,
      Seq("A", "N", "R")(rng.nextInt(3)), Seq("F", "O")(rng.nextInt(2)),
      new Timestamp(Epoch1992 + rng.nextInt(ShipDays) * Day))
  }

  /** Orders `from` until `until` and their 1-7 lineitems each. */
  def orders(rng: java.util.Random, from: Long, until: Long, custs: Int, parts: Int,
      supps: Int): (Seq[Row], Seq[Row]) = {
    val o = Seq.newBuilder[Row]
    val l = Seq.newBuilder[Row]
    var k = from
    while (k < until) {
      val lines = 1 + rng.nextInt(7)
      (1 to lines).foreach(n => l += lineitem(rng, k, n, parts, supps))
      o += Row(k, 1L + rng.nextInt(custs), Seq("F", "O", "P")(rng.nextInt(3)),
        r2(1000 + rng.nextDouble() * 400000),
        new Timestamp(Epoch1992 + rng.nextInt(ShipDays) * Day),
        Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")(rng.nextInt(5)))
      k += 1
    }
    (o.result(), l.result())
  }

  def df(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, SparkRun.Cores), schema)

  private val Words = ("the a fast slow big small data table query join filter group " +
    "sort merge hash scan row column key value order line part customer spark window " +
    "stream batch vector agg dup").split(' ')

  /** Write the tables named in `only` as `<dir>/<name>.parquet` (rows
    * of the others are drawn too, so a table's rows do not depend on
    * which others are written). Documents carry planted near-duplicates
    * (a copy with a few words changed) so the dedup queries find clusters.
    */
  def write(spark: SparkSession, dir: String, sf: Double, seed: Long,
      only: Set[String]): Unit = {
    val n = counts(sf)
    val rng = new java.util.Random(seed)
    def save(name: String, rows: Seq[Row], schema: StructType): Unit =
      if (only(name))
        df(spark, rows, schema).coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    save("region", regions.indices.map(i => Row(i, regions(i))),
      StructType(Seq(StructField("r_regionkey", IntegerType), StructField("r_name", StringType))))
    save("nation", (0 until 25).map(i => Row(i, s"NATION$i", i % 5)),
      StructType(Seq(StructField("n_nationkey", IntegerType), StructField("n_name", StringType),
        StructField("n_regionkey", IntegerType))))
    save("customer", (1 to n("customer")).map(i => Row(i.toLong, f"Customer#$i%09d",
      rng.nextInt(25), r2(rng.nextDouble() * 10000 - 1000),
      Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")(rng.nextInt(5)))),
      StructType(Seq(StructField("c_custkey", LongType), StructField("c_name", StringType),
        StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
        StructField("c_mktsegment", StringType))))
    save("supplier", (1 to n("supplier")).map(i => Row(i.toLong, f"Supplier#$i%09d",
      rng.nextInt(25), r2(rng.nextDouble() * 10000 - 1000))),
      StructType(Seq(StructField("s_suppkey", LongType), StructField("s_name", StringType),
        StructField("s_nationkey", IntegerType), StructField("s_acctbal", DoubleType))))
    save("part", (1 to n("part")).map(i => Row(i.toLong, s"part ${Words(rng.nextInt(Words.length))}",
      s"Brand#${1 + rng.nextInt(5)}${1 + rng.nextInt(5)}",
      Seq("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY")(rng.nextInt(5)) + " BRASS",
      1 + rng.nextInt(50), r2(900 + rng.nextDouble() * 1100))),
      StructType(Seq(StructField("p_partkey", LongType), StructField("p_name", StringType),
        StructField("p_brand", StringType), StructField("p_type", StringType),
        StructField("p_size", IntegerType), StructField("p_retailprice", DoubleType))))
    val (o, l) = orders(rng, 1L, 1L + n("orders"), n("customer"), n("part"), n("supplier"))
    save("orders", o, ordersSchema)
    save("lineitem", l, lineitemSchema)
    val jan2024 = 1704067200000L
    save("events", (0 until n("events")).map(i => Row(i.toLong,
      new Timestamp(jan2024 + (i.toLong * 30 * Day / n("events")) + rng.nextInt(60000)),
      rng.nextInt(15).toLong,
      Seq("click", "purchase", "error", "signup", "view")(rng.nextInt(5)),
      r2(rng.nextDouble() * 200), s"""{"k": ${rng.nextInt(100)}}""")),
      StructType(Seq(StructField("event_id", LongType), StructField("ts", TimestampType),
        StructField("user_id", LongType), StructField("event_type", StringType),
        StructField("value", DoubleType), StructField("props", StringType))))
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until n("documents")).foreach { i =>
      val t =
        if (i > 10 && rng.nextInt(5) == 0) {
          // near-duplicate of an earlier document: change a few words
          val w = texts(rng.nextInt(texts.size)).split(' ')
          (0 until 1 + w.length / 20).foreach(_ => w(rng.nextInt(w.length)) =
            Words(rng.nextInt(Words.length)))
          w.mkString(" ")
        } else Seq.fill(20 + rng.nextInt(70))(Words(rng.nextInt(Words.length))).mkString(" ")
      texts += t
    }
    save("documents", texts.indices.map(i => Row(i.toLong, texts(i),
      Seq("en", "en", "fr", "es", "de", "zh")(rng.nextInt(6)), s"src${i % 5}",
      texts(i).length.toLong)),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType))))
    val centers = Array.fill(10, 64)(rng.nextGaussian())
    save("embeddings", (0 until n("embeddings")).map { i =>
      val label = rng.nextInt(10)
      val v = centers(label).map(c => (c + rng.nextGaussian() * 1.5).toFloat)
      val norm = math.sqrt(v.map(x => x * x).sum).toFloat
      Row(i.toLong, v.map(_ / norm).toSeq, label)
    }, StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType))))
  }
}
