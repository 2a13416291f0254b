package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.scalatest.funsuite.AnyFunSuite

/** Every registered query runs at sf0.001 and returns rows, and its
  * planned physical plan holds no cartesian join, and no nested-loop
  * join over more than one broadcast row outside exact similarity
  * search.
  */
class QueryBatterySpec extends AnyFunSuite {
  lazy val spark: SparkSession = Verify.sessionBuilder("4").getOrCreate()
  private val sf = "/root/testdata/sf0.001"

  // candidate-pair queries can legitimately be sparse at the smallest SF
  private val mayBeEmpty = Set("dd02_minhash_lsh", "dd03_ngram_jaccard",
    "dd04_simhash", "dd05_embedding_dup", "dd06_embedding_lsh")

  // exact similarity search scores every vector against a broadcast
  // of 5-20 fixed query vectors (`vec_id < NQ`): a nested loop linear
  // in the corpus, inherent to "exact" (see ss01_brute_topk). The
  // recall queries grade their approximate path against that baseline.
  private val bruteForce = Set("ss01_brute_topk", "ss03_ann_recall",
    "ss05_pq_recall", "ss07_ivfpq_recall", "ss08_filtered_topk",
    "ss09_knn_label", "ss10_range_search")

  /** Every node of `p`, subquery plans included; an adaptive plan is
    * walked through its input plan (the plan before any stage runs).
    */
  private def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.inputPlan)
    case _ => p +: (p.children ++ p.subqueries).flatMap(planNodes)
  }

  /** `p` yields at most one row: a global aggregate, under row-wise
    * projections, filters and the broadcast.
    */
  private def oneRow(p: SparkPlan): Boolean = p match {
    case a: BaseAggregateExec => a.groupingExpressions.isEmpty
    case u @ (_: BroadcastExchangeExec | _: ProjectExec | _: FilterExec) =>
      oneRow(u.children.head)
    case _ => false
  }

  for (q <- SparkEntry.allDefs) {
    test(s"${q.name} runs at sf0.001") {
      val df = q.fn(spark, sf)
      val bad = planNodes(df.queryExecution.executedPlan).collect {
        // a scalar kept IN the plan (one job, no collect between two)
        // joins as a nested loop over its one broadcast row
        case j: BroadcastNestedLoopJoinExec if !bruteForce(q.name) &&
            !oneRow(if (j.buildSide == BuildLeft) j.left else j.right) =>
          j.nodeName
        case j: CartesianProductExec => j.nodeName
      }
      assert(bad.isEmpty, s"${q.name} plans ${bad.distinct.mkString(", ")}")
      val n = df.count()
      if (!mayBeEmpty(q.name)) assert(n > 0, s"${q.name} returned no rows")
    }
  }

  test("oracle keys are a subset of query keys") {
    val qs = SparkEntry.queries.keySet
    assert(SparkEntry.oracleSql.keySet.subsetOf(qs))
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
