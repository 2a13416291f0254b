package graft.queries

import graft.QueryDef
import graft.QueryDef.{releaseCheckpoint, table}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Second tranche of relational coverage: sessionization
  * (gaps-and-islands), exact percentiles, conditional aggregation,
  * date extraction, scalar/IN subqueries, pivot-style aggregation,
  * ordered string aggregation. All oracle-checked.
  */
object Advanced {

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q23_sessionize",
      (s, d) => {
        // gaps-and-islands: a new session starts after >30 min idle;
        // count sessions + avg session length per event_type.
        val ev0 = table(s, d, "events")
        val ev = ev0.withColumn("ts_us", QueryDef.tsUs(ev0, "ts"))
        val w = Window.partitionBy("user_id").orderBy("ts_us")
        val sessions = ev
          .withColumn("prev_us", lag("ts_us", 1).over(w))
          .withColumn("new_sess",
            when(col("prev_us").isNull ||
              col("ts_us") - col("prev_us") > 1800000000L, 1).otherwise(0))
          .withColumn("sess_id",
            sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        sessions.groupBy("user_id", "sess_id")
          .agg(count(lit(1)).as("n_events"))
          .groupBy()
          .agg(count(lit(1)).as("n_sessions"),
            round(avg("n_events"), 4).as("avg_events_per_session"),
            max("n_events").as("max_session_len"))
      },
      Some("""WITH ev AS (
             |  SELECT user_id, epoch_us(ts) AS ts_us,
             |         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
             |               OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
             |              THEN 1 ELSE 0 END AS new_sess
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))
             |), sess AS (
             |  SELECT user_id,
             |         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us
             |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
             |  FROM ev
             |), per AS (
             |  SELECT user_id, sess_id, count(*) AS n_events
             |  FROM sess GROUP BY user_id, sess_id
             |)
             |SELECT count(*) AS n_sessions,
             |       round(avg(n_events), 4) AS avg_events_per_session,
             |       max(n_events) AS max_session_len
             |FROM per""".stripMargin)),

    QueryDef(
      "q24_percentiles",
      (s, d) =>
        table(s, d, "orders")
          .groupBy("o_orderpriority")
          .agg(
            round(expr("percentile(o_totalprice, 0.5)"), 2).as("p50"),
            round(expr("percentile(o_totalprice, 0.9)"), 2).as("p90"),
            round(expr("percentile(o_totalprice, 0.99)"), 2).as("p99"),
            count(lit(1)).as("n"))
          .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority,
             |       round(quantile_cont(o_totalprice, 0.5), 2) AS p50,
             |       round(quantile_cont(o_totalprice, 0.9), 2) AS p90,
             |       round(quantile_cont(o_totalprice, 0.99), 2) AS p99,
             |       count(*) AS n
             |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    QueryDef(
      "q25_conditional_agg",
      (s, d) =>
        table(s, d, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            count(when(col("l_discount") > 0.05, 1)).as("n_high_disc"),
            round(sum(when(col("l_tax") > 0.04, col("l_extendedprice"))
              .otherwise(0.0)), 2).as("taxed_value"),
            round(avg(when(col("l_quantity") >= 25, col("l_quantity"))), 4)
              .as("avg_bulk_qty"))
          .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
             |       count(CASE WHEN l_discount > 0.05 THEN 1 END) AS n_high_disc,
             |       round(sum(CASE WHEN l_tax > 0.04 THEN l_extendedprice ELSE 0 END), 2) AS taxed_value,
             |       round(avg(CASE WHEN l_quantity >= 25 THEN l_quantity END), 4) AS avg_bulk_qty
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    QueryDef(
      "q26_date_extract",
      (s, d) =>
        table(s, d, "orders")
          .withColumn("yr", year(col("o_orderdate")))
          .withColumn("mo", month(col("o_orderdate")))
          .groupBy("yr", "mo")
          .agg(count(lit(1)).as("n_orders"),
            round(sum("o_totalprice"), 2).as("revenue"))
          .orderBy("yr", "mo"),
      Some("""SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mo,
             |       count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
             |FROM orders GROUP BY 1, 2 ORDER BY yr, mo""".stripMargin)),

    QueryDef(
      "q27_scalar_subquery",
      (s, d) => {
        // the scalar aggregate stays IN the plan: a broadcast
        // cross-join of the 1-row agg keeps this a single job (no
        // driver-side .first() between two jobs) — the shape a
        // scalar subquery should compile to
        val p = table(s, d, "part")
        val avgPrice = broadcast(p.agg(avg("p_retailprice").as("__avg_price")))
        p.crossJoin(avgPrice)
          .filter(col("p_retailprice") > col("__avg_price"))
          .select("p_partkey", "p_name", "p_retailprice")
          .orderBy("p_partkey")
      },
      Some("""SELECT p_partkey, p_name, p_retailprice FROM part
             |WHERE p_retailprice > (SELECT avg(p_retailprice) FROM part)
             |ORDER BY p_partkey""".stripMargin)),

    QueryDef(
      "q28_in_subquery",
      (s, d) => {
        val bigOrders = table(s, d, "orders")
          .filter(col("o_totalprice") > 300000)
          .select(col("o_custkey"))
        table(s, d, "customer")
          .join(bigOrders.distinct(), col("c_custkey") === col("o_custkey"), "left_semi")
          .select("c_custkey", "c_name")
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
             |ORDER BY c_custkey""".stripMargin)),

    QueryDef(
      "q29_pivot",
      (s, d) =>
        table(s, d, "lineitem")
          .groupBy("l_returnflag")
          .pivot("l_linestatus", Seq("F", "O"))
          .agg(round(sum("l_quantity"), 2))
          .withColumnRenamed("F", "qty_f")
          .withColumnRenamed("O", "qty_o")
          .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
             |       round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS qty_f,
             |       round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS qty_o
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    QueryDef(
      "q30_string_agg",
      (s, d) =>
        table(s, d, "nation")
          .groupBy("n_regionkey")
          .agg(
            concat_ws(",", array_sort(collect_list("n_name"))).as("nations"),
            count(lit(1)).as("n"))
          .orderBy("n_regionkey"),
      Some("""SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS nations,
             |       count(*) AS n
             |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin)),

    QueryDef(
      "q33_correlated_subquery",
      (s, d) => {
        // each customer's orders above that customer's own average
        val o = table(s, d, "orders")
        val avgPer = o.groupBy(col("o_custkey").as("ck"))
          .agg(avg("o_totalprice").as("cust_avg"))
        // cust_avg itself is NOT emitted: 2-decimal prices put group
        // averages exactly on round-half boundaries where a 1-ulp
        // cross-engine difference flips the rounded digit
        o.join(avgPer, col("o_custkey") === col("ck"))
          .filter(col("o_totalprice") > col("cust_avg"))
          .select(col("o_orderkey"), col("o_custkey"),
            round(col("o_totalprice"), 2).as("price"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price
             |FROM (
             |  SELECT o_orderkey, o_custkey, o_totalprice,
             |         avg(o_totalprice) OVER (PARTITION BY o_custkey) AS cust_avg
             |  FROM orders
             |)
             |WHERE o_totalprice > cust_avg
             |ORDER BY o_orderkey""".stripMargin)),

    QueryDef(
      "q34_having",
      (s, d) =>
        table(s, d, "lineitem")
          .groupBy("l_suppkey")
          .agg(count(lit(1)).as("n_items"),
            round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
              .as("revenue"))
          .filter(col("n_items") >= 70)
          .orderBy("l_suppkey"),
      Some("""SELECT l_suppkey, count(*) AS n_items,
             |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
             |FROM lineitem
             |GROUP BY l_suppkey
             |HAVING count(*) >= 70
             |ORDER BY l_suppkey""".stripMargin)),

    QueryDef(
      "q35_cube",
      (s, d) =>
        table(s, d, "lineitem")
          .cube("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("n"), round(sum("l_extendedprice"), 2).as("total"))
          .select(
            coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
            coalesce(col("l_linestatus"), lit("ALL")).as("status"),
            col("n"), col("total"))
          .orderBy("flag", "status"),
      Some("""SELECT coalesce(l_returnflag, 'ALL') AS flag,
             |       coalesce(l_linestatus, 'ALL') AS status,
             |       count(*) AS n, round(sum(l_extendedprice), 2) AS total
             |FROM lineitem
             |GROUP BY CUBE (l_returnflag, l_linestatus)
             |ORDER BY flag, status""".stripMargin)),

    QueryDef(
      "q36_window_suite",
      (s, d) => {
        val w = Window.partitionBy("o_orderpriority")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        table(s, d, "orders")
          .withColumn("rnk", dense_rank().over(w))
          .withColumn("quartile", ntile(4).over(w))
          .withColumn("next_price",
            round(lead("o_totalprice", 1).over(w), 2))
          .withColumn("top_price", round(first_value(col("o_totalprice")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2))
          .filter(col("rnk") <= 5)
          .select("o_orderpriority", "rnk", "o_orderkey", "quartile",
            "next_price", "top_price")
          .orderBy("o_orderpriority", "rnk", "o_orderkey")
      },
      Some("""SELECT o_orderpriority, rnk, o_orderkey, quartile, next_price, top_price
             |FROM (
             |  SELECT o_orderpriority, o_orderkey,
             |         dense_rank() OVER w AS rnk,
             |         ntile(4) OVER w AS quartile,
             |         round(lead(o_totalprice, 1) OVER w, 2) AS next_price,
             |         round(first_value(o_totalprice) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS top_price
             |  FROM orders
             |  WINDOW w AS (PARTITION BY o_orderpriority
             |               ORDER BY o_totalprice DESC, o_orderkey)
             |)
             |WHERE rnk <= 5
             |ORDER BY o_orderpriority, rnk, o_orderkey""".stripMargin)),

    QueryDef(
      "m01_compact_preserves_content",
      (s, d) => {
        // maintenance as a graded op: 4 appends → 4+ files → compact to
        // 1 → content must still hash-match the oracle.
        import graft.spark.GraftCatalog
        if (s.conf.getOption("spark.sql.catalog.gm1").isEmpty) {
          s.conf.set("spark.sql.catalog.gm1", classOf[GraftCatalog].getName)
          s.conf.set("spark.sql.catalog.gm1.warehouse",
            java.nio.file.Files.createTempDirectory("graft-gm1").toString)
        }
        val cat = s.sessionState.catalogManager.catalog("gm1")
          .asInstanceOf[GraftCatalog]
        s.sql("CREATE NAMESPACE IF NOT EXISTS gm1.ns1")
        s.sql("DROP TABLE IF EXISTS gm1.ns1.supplier")
        val src = s.read.parquet(s"$d/supplier.parquet")
        src.limit(0).writeTo("gm1.ns1.supplier").create()
        (0 until 4).foreach { i =>
          src.filter(col("s_suppkey") % 4 === i).writeTo("gm1.ns1.supplier").append()
        }
        graft.maintain.Maintenance.compactDataFiles(s, cat,
          org.apache.spark.sql.connector.catalog.Identifier.of(Array("ns1"), "supplier"),
          targetFiles = 1)
        s.sql("""SELECT s_suppkey, s_name, s_nationkey, round(s_acctbal, 2) AS bal
                 FROM gm1.ns1.supplier ORDER BY s_suppkey""")
      },
      Some("""SELECT s_suppkey, s_name, s_nationkey, round(s_acctbal, 2) AS bal
             |FROM supplier ORDER BY s_suppkey""".stripMargin)),

    QueryDef(
      "q37_lateral_topn",
      (s, d) => {
        // correlated LATERAL subquery with per-row ORDER BY + LIMIT:
        // top-3 customers by balance per region. Catalyst decorrelates
        // the lateral into a ranked join (no per-outer-row re-
        // execution); the outer side is 5 rows, so the plan is the
        // ranked customer scan joined to a broadcast region-nation
        // dim — the shape that scales with the CUSTOMER side only.
        Seq("region", "nation", "customer").foreach(t =>
          table(s, d, t).createOrReplaceTempView(s"q37_$t"))
        s.sql("""
          SELECT r.r_name AS region, t.c_name, t.bal
          FROM q37_region r, LATERAL (
            SELECT c.c_name, round(c.c_acctbal, 2) AS bal
            FROM q37_customer c
            JOIN q37_nation n ON c.c_nationkey = n.n_nationkey
            WHERE n.n_regionkey = r.r_regionkey
            ORDER BY c.c_acctbal DESC, c.c_name LIMIT 3) t
          ORDER BY region, bal DESC, c_name""")
      },
      Some("""SELECT r.r_name AS region, t.c_name, t.bal
             |FROM region r, LATERAL (
             |  SELECT c.c_name, round(c.c_acctbal, 2) AS bal
             |  FROM customer c
             |  JOIN nation n ON c.c_nationkey = n.n_nationkey
             |  WHERE n.n_regionkey = r.r_regionkey
             |  ORDER BY c.c_acctbal DESC, c.c_name LIMIT 3) t
             |ORDER BY region, bal DESC, c_name""".stripMargin))
    ,

    QueryDef(
      "q38_funnel",
      (s, d) => {
        // Ordered funnel (view → click → purchase): a user advances a
        // step only with an event STRICTLY AFTER their previous
        // step's first event — three keyed min-aggregations chained
        // by user_id joins, each map-side-combined; no window over
        // the whole event stream, no per-user state. The step counts
        // union into one tiny result.
        val ev0 = table(s, d, "events")
        val ev = ev0.select(col("user_id"), col("event_type"),
          graft.QueryDef.tsUs(ev0, "ts").as("t"))
        val v = ev.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min("t").as("tv"))
        val c = ev.filter(col("event_type") === "click")
          .join(v, "user_id").filter(col("t") > col("tv"))
          .groupBy("user_id").agg(min("t").as("tc"))
        val p = ev.filter(col("event_type") === "purchase")
          .join(c, "user_id").filter(col("t") > col("tc"))
          .groupBy("user_id").agg(min("t").as("tp"))
        v.select(lit("1_view").as("step"), col("user_id"))
          .union(c.select(lit("2_click"), col("user_id")))
          .union(p.select(lit("3_purchase"), col("user_id")))
          .groupBy("step").agg(count(lit(1)).as("n_users"))
          .orderBy("step")
      },
      Some("""WITH v AS (SELECT user_id, min(epoch_us(ts)) AS tv
             |           FROM events WHERE event_type = 'view' GROUP BY 1),
             |c AS (SELECT e.user_id, min(epoch_us(e.ts)) AS tc
             |      FROM events e JOIN v USING (user_id)
             |      WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.tv
             |      GROUP BY 1),
             |p AS (SELECT e.user_id, min(epoch_us(e.ts)) AS tp
             |      FROM events e JOIN c USING (user_id)
             |      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.tc
             |      GROUP BY 1)
             |SELECT step, count(*) AS n_users FROM (
             |  SELECT '1_view' AS step, user_id FROM v
             |  UNION ALL SELECT '2_click', user_id FROM c
             |  UNION ALL SELECT '3_purchase', user_id FROM p)
             |GROUP BY step ORDER BY step""".stripMargin)),

    QueryDef(
      "q39_retention_cohorts",
      (s, d) => {
        // Cohort retention: users cohort by first-seen day; d7
        // retention = active exactly 7 days later. Day arithmetic on
        // epoch-microsecond integer division — identical in both
        // engines, no calendar/timezone surface. Two hash
        // aggregations and one distinct-activity join, all keyed on
        // user_id/day — the cohort table is tiny and the join keys
        // uniform.
        val ev0 = table(s, d, "events")
        val ev = ev0
          .select(col("user_id"), graft.QueryDef.tsUs(ev0, "ts").as("t"))
          .withColumn("day", expr("t div 86400000000"))
        val first = ev.groupBy("user_id").agg(min("day").as("d0"))
        val coh = first.groupBy("d0").agg(count(lit(1)).as("n_users"))
        val ret = first
          .join(ev.select("user_id", "day").distinct(), "user_id")
          .filter(col("day") === col("d0") + 7)
          .groupBy("d0").agg(count_distinct(col("user_id")).as("n_ret"))
        coh.join(ret, Seq("d0"), "left_outer")
          .select(col("d0"), col("n_users"),
            coalesce(col("n_ret"), lit(0L)).as("n_retained"),
            round(coalesce(col("n_ret"), lit(0L)).cast("double") /
              col("n_users"), 4).as("d7_rate"))
          .orderBy("d0")
      },
      Some("""WITH ev AS (
             |  SELECT user_id, epoch_us(ts) // 86400000000 AS day
             |  FROM events),
             |first AS (SELECT user_id, min(day) AS d0 FROM ev GROUP BY 1),
             |coh AS (SELECT d0, count(*) AS n_users FROM first GROUP BY 1),
             |ret AS (SELECT f.d0, count(DISTINCT f.user_id) AS n_ret
             |        FROM first f
             |        JOIN (SELECT DISTINCT user_id, day FROM ev) a
             |          ON a.user_id = f.user_id AND a.day = f.d0 + 7
             |        GROUP BY 1)
             |SELECT c.d0, c.n_users,
             |       coalesce(r.n_ret, 0) AS n_retained,
             |       round(CAST(coalesce(r.n_ret, 0) AS DOUBLE) / c.n_users,
             |             4) AS d7_rate
             |FROM coh c LEFT JOIN ret r USING (d0) ORDER BY d0"""
        .stripMargin)),

    QueryDef(
      "q40_tpch_q7",
      (s, d) => {
        // TPC-H Q7 (volume shipping): cross-nation revenue by year
        // and direction (all nation pairs — the synthetic nations are
        // sparse at tiny SF, so the classic two-nation gate would
        // return empty there; the plan shape is identical). At 100 TB
        // lineitem⋈orders is THE shuffle (both big, keyed on
        // orderkey); supplier/customer join on dimension keys and
        // nation is a 25-row broadcast twice.
        val n1 = broadcast(table(s, d, "nation")
          .select(col("n_nationkey").as("sk"), col("n_name").as("supp_nation")))
        val n2 = broadcast(table(s, d, "nation")
          .select(col("n_nationkey").as("ck"), col("n_name").as("cust_nation")))
        val sup = table(s, d, "supplier").join(n1,
          col("s_nationkey") === col("sk"))
        val cust = table(s, d, "customer").join(n2,
          col("c_nationkey") === col("ck"))
        val li = table(s, d, "lineitem")
          .filter(col("l_shipdate").between("1995-01-01", "1996-12-31"))
        li.join(table(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
          .join(sup, col("l_suppkey") === col("s_suppkey"))
          .join(cust, col("o_custkey") === col("c_custkey"))
          .filter(col("supp_nation") =!= col("cust_nation"))
          .groupBy(col("supp_nation"), col("cust_nation"),
            year(col("l_shipdate")).as("l_year"))
          // per-row products quantize to DECIMAL(18,4) BEFORE the sum:
          // decimal addition is exact and order-independent, so the
          // aggregate cannot drift a cent between engines the way a
          // double sum's reduction order can
          .agg(round(sum((col("l_extendedprice") *
              (lit(1) - col("l_discount"))).cast("decimal(18,4)")), 2)
            .cast("double").as("revenue"))
          .orderBy("supp_nation", "cust_nation", "l_year")
      },
      Some("""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             |       CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS l_year,
             |       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
             |                      AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
             |FROM lineitem
             |JOIN orders   ON l_orderkey = o_orderkey
             |JOIN supplier ON l_suppkey = s_suppkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation n1 ON s_nationkey = n1.n_nationkey
             |JOIN nation n2 ON c_nationkey = n2.n_nationkey
             |WHERE n1.n_name <> n2.n_name
             |  AND l_shipdate BETWEEN DATE '1995-01-01' AND DATE '1996-12-31'
             |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),

    QueryDef(
      "q41_tpch_q8",
      (s, d) => {
        // TPC-H Q8 (national market share): one nation's share of a
        // part-type's revenue within a region, by year. The p_type and
        // region filters prune BEFORE the big join (part survivors
        // broadcast into lineitem); the share is a conditional-sum
        // over one aggregated frame — no second pass over the joins.
        val rk = broadcast(table(s, d, "region")
          .filter(col("r_name") === "EUROPE").select("r_regionkey"))
        val custN = broadcast(table(s, d, "nation").join(rk,
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey").as("cnk")))
        val suppN = broadcast(table(s, d, "nation")
          .select(col("n_nationkey").as("snk"), col("n_name")))
        val pts = broadcast(table(s, d, "part")
          .filter(col("p_type") === "STANDARD")
          .select("p_partkey"))
        val ord = table(s, d, "orders")
          .filter(col("o_orderdate").between("1995-01-01", "1996-12-31"))
        table(s, d, "lineitem")
          .join(pts, col("l_partkey") === col("p_partkey"))
          .join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(table(s, d, "customer"), col("o_custkey") === col("c_custkey"))
          .join(custN, col("c_nationkey") === col("cnk"))
          .join(table(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
          .join(suppN, col("s_nationkey") === col("snk"))
          .withColumn("volume",
            col("l_extendedprice") * (lit(1) - col("l_discount")))
          .groupBy(year(col("o_orderdate")).as("o_year"))
          .agg(round(
            sum(when(col("n_name") === "NATION_3", col("volume"))
              .otherwise(lit(0.0))) / sum(col("volume")), 4).as("mkt_share"))
          .orderBy("o_year")
      },
      Some("""SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
             |       round(sum(CASE WHEN n2.n_name = 'NATION_3'
             |                      THEN l_extendedprice * (1 - l_discount)
             |                      ELSE 0 END)
             |             / sum(l_extendedprice * (1 - l_discount)), 4)
             |         AS mkt_share
             |FROM lineitem
             |JOIN part     ON l_partkey = p_partkey
             |JOIN orders   ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation n1 ON c_nationkey = n1.n_nationkey
             |JOIN region   ON n1.n_regionkey = r_regionkey
             |JOIN supplier ON l_suppkey = s_suppkey
             |JOIN nation n2 ON s_nationkey = n2.n_nationkey
             |WHERE r_name = 'EUROPE' AND p_type = 'STANDARD'
             |  AND o_orderdate BETWEEN DATE '1995-01-01' AND DATE '1996-12-31'
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    QueryDef(
      "q42_tpch_q10",
      (s, d) => {
        // TPC-H Q10 (returned-item reporting): top-20 customers by
        // revenue lost to returns in a quarter. lineitem's returnflag
        // filter and orders' date window both push into the scans; the
        // top-20 is a TakeOrdered (per-partition heads merged on the
        // driver), never a global sort.
        val ord = table(s, d, "orders")
          .filter(col("o_orderdate").between("1995-10-01", "1995-12-31"))
        val li = table(s, d, "lineitem").filter(col("l_returnflag") === "R")
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(table(s, d, "customer"), col("o_custkey") === col("c_custkey"))
          .join(broadcast(table(s, d, "nation")),
            col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"),
            col("n_name"))
          .agg(round(sum((col("l_extendedprice") *
              (lit(1) - col("l_discount"))).cast("decimal(18,4)")), 2)
            .cast("double").as("revenue"))
          .orderBy(col("revenue").desc, col("c_custkey"))
          .limit(20)
      },
      Some("""SELECT c_custkey, c_name, c_acctbal, n_name,
             |       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
             |                      AS DECIMAL(18,4))), 2) AS DOUBLE)
             |         AS revenue
             |FROM lineitem
             |JOIN orders   ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation   ON c_nationkey = n_nationkey
             |WHERE l_returnflag = 'R'
             |  AND o_orderdate BETWEEN DATE '1995-10-01' AND DATE '1995-12-31'
             |GROUP BY 1, 2, 3, 4
             |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin)),

    QueryDef(
      "q43_tpch_q14",
      (s, d) => {
        // TPC-H Q14 (promotion effect): the share of a month's revenue
        // from promo parts. part is the broadcast side of the one big
        // join; the share is a conditional sum over a single
        // aggregated frame. Revenue terms quantize to DECIMAL(18,4)
        // (see q40) so the ratio is bit-identical across engines.
        val li = table(s, d, "lineitem")
          .filter(col("l_shipdate").between("1995-09-01", "1995-09-30"))
        li.join(broadcast(table(s, d, "part")
            .select("p_partkey", "p_type")),
            col("l_partkey") === col("p_partkey"))
          .withColumn("rev", (col("l_extendedprice") *
            (lit(1) - col("l_discount"))).cast("decimal(18,4)"))
          .agg((lit(100.0) *
            sum(when(col("p_type") === "PROMO", col("rev"))
              .otherwise(lit(0).cast("decimal(18,4)"))).cast("double") /
            sum(col("rev")).cast("double")).as("promo_share"))
          .select(round(col("promo_share"), 4).as("promo_share"))
      },
      Some("""SELECT round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
             |         THEN CAST(l_extendedprice * (1 - l_discount)
             |                   AS DECIMAL(18,4))
             |         ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
             |       / CAST(sum(CAST(l_extendedprice * (1 - l_discount)
             |                  AS DECIMAL(18,4))) AS DOUBLE), 4)
             |  AS promo_share
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |WHERE l_shipdate BETWEEN DATE '1995-09-01'
             |                     AND DATE '1995-09-30'""".stripMargin)),

    QueryDef(
      "q61_json_extract",
      (s, d) => {
        // Semi-structured extraction: `events.props` is a JSON string
        // column ({"k": <int>}); parse it with a DECLARED schema
        // (`from_json`, the production path — typed null on malformed
        // rows, no exceptions mid-scan) and aggregate on the extracted
        // field. Scan-local projection: the JSON parse rides the scan
        // inside codegen, nothing shuffles but the final tiny
        // per-type aggregate — the shape that makes JSON columns
        // usable at 100 TB without an ETL flattening pass.
        table(s, d, "events")
          .withColumn("k",
            from_json(col("props"), "k BIGINT", Map.empty[String, String])
              .getField("k"))
          .groupBy("event_type")
          .agg(count(col("k")).as("n_k"),
            sum("k").as("sum_k"),
            sum(when(col("k") % 2 === 1, 1L).otherwise(0L)).as("n_odd"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type,
             |       count(k) AS n_k,
             |       CAST(sum(k) AS BIGINT) AS sum_k,
             |       CAST(sum(CASE WHEN k % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
             |         AS n_odd
             |FROM (SELECT event_type,
             |             CAST(json_extract_string(props, '$.k') AS BIGINT)
             |               AS k
             |      FROM events)
             |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    QueryDef(
      "q62_range_window",
      (s, d) => {
        // Time-RANGE window frame (the calendar-frame operator ROWS
        // frames can't express): each user's peak 1-hour activity —
        // for every event, sum the user's `value` over [t−3599 s, t],
        // then keep each user's max and report the top 25. The frame
        // is keyed on epoch SECONDS (integer) so Spark's
        // `rangeBetween` and DuckDB's `RANGE BETWEEN n PRECEDING`
        // agree exactly, tie rows included by value not position in
        // both engines; values quantize to DECIMAL before the frame
        // sum so summation order can't drift a cent. One shuffle
        // (partitionBy user) + per-partition sort — the standard
        // distributed window shape; partitions are per-user and
        // bounded.
        val ev = table(s, d, "events")
        val w = Window.partitionBy("user_id").orderBy("sec")
          .rangeBetween(-3599L, 0L)
        ev.withColumn("us", QueryDef.tsUs(ev, "ts"))
          .withColumn("sec", expr("us div 1000000"))
          .select(col("user_id"), col("sec"),
            round(col("value"), 2).cast("decimal(18,4)").as("v"))
          .withColumn("hour_sum", sum("v").over(w))
          .groupBy("user_id")
          .agg(max("hour_sum").as("peak"))
          .select(col("user_id"),
            col("peak").cast("double").as("peak_hour_value"))
          .orderBy(col("peak_hour_value").desc, col("user_id"))
          .limit(25)
      },
      Some("""WITH e AS (
             |  SELECT user_id, epoch_us(ts) // 1000000 AS sec,
             |         CAST(round(value, 2) AS DECIMAL(18,4)) AS v
             |  FROM events),
             |f AS (
             |  SELECT user_id,
             |         sum(v) OVER (PARTITION BY user_id ORDER BY sec
             |                      RANGE BETWEEN 3599 PRECEDING
             |                            AND CURRENT ROW) AS hour_sum
             |  FROM e)
             |SELECT user_id, CAST(max(hour_sum) AS DOUBLE)
             |         AS peak_hour_value
             |FROM f GROUP BY user_id
             |ORDER BY peak_hour_value DESC, user_id LIMIT 25"""
        .stripMargin)),

    QueryDef(
      "q63_grouping_sets",
      (s, d) => {
        // Explicit GROUPING SETS (the irregular-lattice variant q17's
        // ROLLUP and q35's CUBE can't express: exactly these three
        // groupings, no cross terms) + grouping() flags to
        // disambiguate the NULL placeholders. One Expand + one hash
        // aggregate in Spark — the same single-shuffle plan as a
        // plain group-by, just with a 3× expand factor on the
        // aggregate input. Sort order pins NULLS FIRST explicitly:
        // Spark and DuckDB default opposite null orders.
        table(s, d, "lineitem")
          .selectExpr("l_returnflag", "l_linestatus",
            "CAST(l_quantity AS DECIMAL(18,4)) AS qty")
          .createOrReplaceTempView("li_gs")
        s.sql("""SELECT l_returnflag, l_linestatus,
                        grouping(l_returnflag) AS g_flag,
                        grouping(l_linestatus) AS g_status,
                        count(*) AS n, sum(qty) AS sum_qty
                 FROM li_gs
                 GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                         (l_linestatus), ())
                 ORDER BY g_flag, g_status,
                          l_returnflag NULLS FIRST,
                          l_linestatus NULLS FIRST""")
          .withColumn("sum_qty", col("sum_qty").cast("double"))
          .withColumn("g_flag", col("g_flag").cast("int"))
          .withColumn("g_status", col("g_status").cast("int"))
      },
      Some("""SELECT l_returnflag, l_linestatus,
             |       CAST(grouping(l_returnflag) AS INT) AS g_flag,
             |       CAST(grouping(l_linestatus) AS INT) AS g_status,
             |       count(*) AS n,
             |       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
             |         AS sum_qty
             |FROM lineitem
             |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
             |                        (l_linestatus), ())
             |ORDER BY g_flag, g_status,
             |         l_returnflag NULLS FIRST,
             |         l_linestatus NULLS FIRST""".stripMargin)),

    QueryDef(
      "q64_unpivot",
      (s, d) => {
        // UNPIVOT (q29's inverse): wide per-priority aggregates fold
        // into (priority, metric, value) long form — the reshaping
        // step before generic metric pipelines. SQL-standard UNPIVOT
        // runs in both engines; Spark plans it as an Expand over the
        // 5-row aggregate (no shuffle beyond the aggregation's own),
        // and at any scale the unpivot applies to the aggregated
        // frame, never the fact table. Measures quantize before
        // reshaping so the long values hash identically.
        table(s, d, "orders")
          .groupBy("o_orderpriority")
          .agg(
            round(sum(col("o_totalprice").cast("decimal(18,4)"))
              .cast("double"), 2).as("sum_price"),
            // mean from the exact decimal sum, not avg() — double
            // reduction order must not drift the 2dp rounding
            round(sum(col("o_totalprice").cast("decimal(18,4)"))
              .cast("double") / count(lit(1)), 2).as("avg_price"),
            count(lit(1)).cast("double").as("n_orders"))
          .createOrReplaceTempView("ord_wide")
        s.sql("""SELECT o_orderpriority, metric, value
                 FROM ord_wide
                 UNPIVOT (value FOR metric IN
                          (sum_price, avg_price, n_orders))
                 ORDER BY o_orderpriority, metric""")
      },
      Some("""WITH wide AS (
             |  SELECT o_orderpriority,
             |         round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4)))
             |                    AS DOUBLE), 2) AS sum_price,
             |         round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4)))
             |                    AS DOUBLE) / count(*), 2) AS avg_price,
             |         CAST(count(*) AS DOUBLE) AS n_orders
             |  FROM orders GROUP BY 1)
             |SELECT o_orderpriority, metric, value
             |FROM wide
             |UNPIVOT (value FOR metric IN (sum_price, avg_price, n_orders))
             |ORDER BY o_orderpriority, metric""".stripMargin)),

    QueryDef(
      "q65_setops_all",
      (s, d) => {
        // Bag-semantics set operations (q15 covered the DISTINCT
        // variants): INTERSECT ALL keeps min(multiplicity) and EXCEPT
        // ALL subtracts multiplicities — the multiset algebra audit
        // queries need ("how many high-priority orders ALSO cleared
        // the price bar, counting repeats"). Spark plans both as
        // count-aggregated joins (one shuffle each side, no row
        // explosion); output re-aggregates per key so the graded
        // result is compact and order-free.
        val hi = table(s, d, "orders")
          .filter(col("o_orderpriority") === "2-HIGH")
          .select(col("o_custkey").as("custkey"))
        val big = table(s, d, "orders")
          .filter(col("o_totalprice") > 150000)
          .select(col("o_custkey").as("custkey"))
        val both = hi.intersectAll(big).groupBy("custkey")
          .agg(count(lit(1)).as("n")).withColumn("op", lit("intersect_all"))
        val only = hi.exceptAll(big).groupBy("custkey")
          .agg(count(lit(1)).as("n")).withColumn("op", lit("except_all"))
        both.unionByName(only)
          .select("op", "custkey", "n")
          .orderBy("op", "custkey")
      },
      Some("""WITH hi AS (SELECT o_custkey AS custkey FROM orders
             |            WHERE o_orderpriority = '2-HIGH'),
             |big AS (SELECT o_custkey AS custkey FROM orders
             |        WHERE o_totalprice > 150000)
             |SELECT 'intersect_all' AS op, custkey, count(*) AS n
             |FROM (SELECT * FROM hi INTERSECT ALL SELECT * FROM big)
             |GROUP BY custkey
             |UNION ALL
             |SELECT 'except_all' AS op, custkey, count(*) AS n
             |FROM (SELECT * FROM hi EXCEPT ALL SELECT * FROM big)
             |GROUP BY custkey
             |ORDER BY op, custkey""".stripMargin)),

    QueryDef(
      "q66_recursive_cte",
      (s, d) => {
        // WITH RECURSIVE (landed in Spark 4.x): iterative traversal
        // declared in SQL — the hierarchy/graph operator everything
        // else here only approximates imperatively (dd07's CC loop).
        // A synthetic reporting tree over customer keys (child k →
        // parent k div 10, roots k < 10) walked to per-depth rollups.
        // Each recursion step is one join of the frontier against the
        // dimension — Spark executes it as iterated plans with the
        // SAME shuffle shape as a hand-rolled loop, but the optimizer
        // sees the whole statement. Depth is logarithmic in the key
        // domain, so the iteration count stays ~5 at any SF.
        table(s, d, "customer").select("c_custkey")
          .createOrReplaceTempView("cust_keys")
        s.sql("""WITH RECURSIVE chain AS (
                   SELECT c_custkey AS custkey, 0 AS depth
                   FROM cust_keys WHERE c_custkey < 10
                   UNION ALL
                   SELECT c.c_custkey, p.depth + 1
                   FROM cust_keys c JOIN chain p
                     ON c.c_custkey div 10 = p.custkey
                   WHERE c.c_custkey >= 10)
                 SELECT depth, count(*) AS n,
                        min(custkey) AS first_key, max(custkey) AS last_key
                 FROM chain GROUP BY depth ORDER BY depth""")
          .withColumn("depth", col("depth").cast("int"))
      },
      Some("""WITH RECURSIVE chain AS (
             |  SELECT c_custkey AS custkey, 0 AS depth
             |  FROM customer WHERE c_custkey < 10
             |  UNION ALL
             |  SELECT c.c_custkey, p.depth + 1
             |  FROM customer c JOIN chain p ON c.c_custkey // 10 = p.custkey
             |  WHERE c.c_custkey >= 10)
             |SELECT CAST(depth AS INT) AS depth, count(*) AS n,
             |       min(custkey) AS first_key, max(custkey) AS last_key
             |FROM chain GROUP BY depth ORDER BY depth""".stripMargin)),

    QueryDef(
      "q67_interval_overlap",
      (s, d) => {
        // Interval-overlap join WITHOUT a nested loop: per-user
        // sessions (30-min gap islands, >= 3 events) joined against
        // every OTHER user's events falling inside the session's
        // [start, end]. A naive range join is O(sessions × events);
        // instead both sides key on a 1-hour time BIN — each session
        // explodes to its covered bins (bounded by its span), each
        // event maps to exactly one bin, so the join is a plain
        // equi-shuffle and the residual s_start <= ts <= s_end filter
        // runs post-match. A (session, event) pair meets on at most
        // one bin (the event's), so no dedup pass is needed. At 100 TB
        // the fan-out is span/1h per session and hot bins mirror real
        // concurrency — the skew the query is measuring.
        val ev0 = table(s, d, "events")
        val ev = ev0.select(col("event_id"), col("user_id"),
          QueryDef.tsUs(ev0, "ts").as("ts_us"))
        val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        val sess = ev
          .withColumn("prev_us", lag("ts_us", 1).over(w))
          .withColumn("new_sess",
            when(col("prev_us").isNull ||
              col("ts_us") - col("prev_us") > 1800000000L, 1).otherwise(0))
          .withColumn("sess_id", sum("new_sess")
            .over(w.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy("user_id", "sess_id")
          .agg(min("ts_us").as("s_start"), max("ts_us").as("s_end"),
            count(lit(1)).as("n_own"))
          .filter(col("n_own") >= 3)
        val binned = sess.withColumn("bin",
          explode(expr("sequence(s_start div 3600000000, s_end div 3600000000)")))
        val other = ev
          .select(col("event_id").as("o_event"), col("user_id").as("o_user"),
            col("ts_us"), expr("ts_us div 3600000000").as("bin"))
        binned.join(other,
            binned("bin") === other("bin") &&
              col("o_user") =!= binned("user_id") &&
              col("ts_us") >= col("s_start") && col("ts_us") <= col("s_end"),
            "left_outer")
          .groupBy("user_id", "sess_id", "n_own")
          .agg(count(col("o_event")).as("n_overlap"),
            countDistinct(col("o_user")).as("n_other_users"))
          .orderBy("user_id", "sess_id")
      },
      Some("""WITH ev AS (
             |  SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events),
             |m AS (
             |  SELECT user_id, event_id, ts_us,
             |         CASE WHEN lag(ts_us) OVER w IS NULL
             |               OR ts_us - lag(ts_us) OVER w > 1800000000
             |              THEN 1 ELSE 0 END AS new_sess
             |  FROM ev
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
             |s2 AS (
             |  SELECT user_id, ts_us,
             |         CAST(sum(new_sess) OVER (PARTITION BY user_id
             |           ORDER BY ts_us, event_id
             |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |           AS BIGINT) AS sess_id
             |  FROM m),
             |sess AS (
             |  SELECT user_id, sess_id, min(ts_us) AS s_start,
             |         max(ts_us) AS s_end, count(*) AS n_own
             |  FROM s2 GROUP BY user_id, sess_id HAVING count(*) >= 3)
             |SELECT s.user_id, s.sess_id, s.n_own,
             |       count(e.event_id) AS n_overlap,
             |       count(DISTINCT e.user_id) AS n_other_users
             |FROM sess s LEFT JOIN ev e
             |  ON e.ts_us BETWEEN s.s_start AND s.s_end
             | AND e.user_id != s.user_id
             |GROUP BY 1, 2, 3 ORDER BY 1, 2""".stripMargin)),

    QueryDef(
      "q68_pagerank",
      (s, d) => {
        // PageRank over the customer↔supplier bipartite graph (edge =
        // shared order), 5 damped iterations — the iterative
        // matrix-vector shape (entity importance, spam-graph scoring)
        // that dd07's connected components only approximates. Each
        // iteration is ONE distributed join + ONE aggregation over the
        // edge list; only the per-node rank vector carries between
        // iterations (localCheckpoint truncates lineage exactly like
        // the CC loop). Cross-engine float discipline: per-edge
        // contributions round to 10 dp and sum as DECIMAL(28,10) —
        // exact, order-independent addition — so five chained
        // iterations stay bit-identical to the unrolled DuckDB oracle.
        // Only the UNDIRECTED pair set is materialized (half the edge
        // list); the symmetric union is a lazy projection of the
        // cached pairs — each iteration re-derives it map-side for
        // free instead of caching 2× the rows.
        val e0 = table(s, d, "orders")
          .select(col("o_orderkey"), col("o_custkey"))
          .join(table(s, d, "lineitem").select("l_orderkey", "l_suppkey"),
            col("l_orderkey") === col("o_orderkey"))
          .select((col("o_custkey") * 10 + 1).as("c"),
            (col("l_suppkey") * 10 + 2).as("s"))
          .distinct()
          .localCheckpoint()
        val edges = e0.select(col("c").as("src"), col("s").as("dst"))
          .union(e0.select(col("s").as("src"), col("c").as("dst")))
        // deg's checkpoint cuts lineage to e0, so the per-node frames
        // below never re-derive the edge list.
        val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
          .withColumnRenamed("src", "node").localCheckpoint()
        val n = deg.count().toDouble
        val degB = deg.withColumnRenamed("node", "dnode")
        var rank = deg
          .select(col("node"), round(lit(1.0) / n, 10).as("rank"))
        // the rank vector is per-NODE while the edge list is per-EDGE:
        // under the ceiling, broadcasting the vector keeps the big
        // side map-side every iteration — only per-destination partial
        // sums shuffle. PAST broadcast scale (billions of nodes) the
        // vector shuffle-joins on src instead: the edge side is
        // hash-partitioned on src once and every iteration reuses that
        // exchange, so the per-iteration cost is shuffling the RANK
        // vector (per-node, the small side) — never the edge list.
        val bcastMax = s.conf
          .getOption("spark.graft.pagerank.broadcast-max-nodes")
          .map(_.toLong).getOrElse(10000000L)
        val broadcastable = n <= bcastMax.toDouble
        val edgesIter =
          if (broadcastable) edges
          else edges.repartition(col("src")).localCheckpoint()
        // Two per-iteration cost cuts vs the r10/r11 shape, both
        // value-preserving so the unrolled DuckDB oracle stays
        // bit-identical:
        //  1. The contribution round(rank/deg, 10) depends only on the
        //     SOURCE node, so the divide + BigDecimal round + decimal
        //     cast run per NODE (thousands) before the join, not per
        //     EDGE (millions after it) — the edge side only hash-joins
        //     and decimal-sums. DECIMAL(18,10) holds every value
        //     (cb ≤ 1, Σcb ≤ 1) in Spark's compact-Long decimal path.
        //  2. Checkpoint only the LAST iteration: the final checkpoint
        //     is per-node-small and lets every edge-scale checkpoint
        //     be released before return (releaseCheckpoint: a plain
        //     unpersist frees no checkpoint), so the sf1 back-to-back
        //     leak discipline holds; it stays cached for the caller's
        //     collect. No intermediate checkpoints (cadence A/B below).
        (1 to 5).foreach { i =>
          val cb = rank
            .join(if (broadcastable) broadcast(degB) else degB,
              rank("node") === degB("dnode"))
            .select(col("node"),
              round(col("rank") / col("deg"), 10)
                .cast("decimal(18,10)").as("cb"))
          val next = edgesIter
            .join(if (broadcastable) broadcast(cb) else cb,
              edgesIter("src") === cb("node"))
            .groupBy("dst")
            .agg(round(lit(0.15 / n) +
              lit(0.85) * sum("cb").cast("double"), 10).as("rank"))
            .withColumnRenamed("dst", "node")
          // Cadence (r16 A/B, isolated min-of-3): every-2nd 4.21 s,
          // last-only 3.99 s, and the shuffle-join path 4.9–5.3 s —
          // one deep plan (5 chained broadcast join+agg stages) beats
          // intermediate materializations: each checkpoint pays its own
          // jobs + block-manager writes while AQE already runs the
          // chain stage-by-stage. Lineage stays bounded at 5 joins.
          rank = if (i == 5) next.localCheckpoint() else next
        }
        // the final checkpoint is materialized and reads none of these
        releaseCheckpoint(e0)
        releaseCheckpoint(deg)
        if (!broadcastable) releaseCheckpoint(edgesIter)
        rank.select(col("node"),
            when(pmod(col("node"), lit(10)) === 1, "customer")
              .otherwise("supplier").as("kind"),
            round(col("rank"), 8).as("rank"))
          .orderBy(col("rank").desc, col("node")).limit(20)
      },
      Some {
        def it(k: Int) = s"""
          |c$k AS (
          |  SELECT e.dst AS node,
          |         CAST(round(r.rank / d.deg, 10) AS DECIMAL(28,10)) AS c
          |  FROM edges e
          |  JOIN r${k - 1} r ON e.src = r.node
          |  JOIN deg d ON d.node = e.src),
          |r$k AS (
          |  SELECT node,
          |         round(0.15 / (SELECT n FROM nn)
          |               + 0.85 * CAST(sum(c) AS DOUBLE), 10) AS rank
          |  FROM c$k GROUP BY node)""".stripMargin
        ("""WITH e0 AS (
           |  SELECT DISTINCT o.o_custkey * 10 + 1 AS c,
           |                  l.l_suppkey * 10 + 2 AS s
           |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
           |edges AS (SELECT c AS src, s AS dst FROM e0
           |          UNION ALL SELECT s, c FROM e0),
           |deg AS (SELECT src AS node, count(*) AS deg FROM edges GROUP BY 1),
           |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM deg),
           |r0 AS (SELECT node, round(1.0 / (SELECT n FROM nn), 10) AS rank
           |       FROM deg),""".stripMargin
          + (1 to 5).map(it).mkString(",")
          + """
           |SELECT node,
           |       CASE WHEN node % 10 = 1 THEN 'customer'
           |            ELSE 'supplier' END AS kind,
           |       round(rank, 8) AS rank
           |FROM r5 ORDER BY rank DESC, node LIMIT 20""".stripMargin)
      })
  )
}
