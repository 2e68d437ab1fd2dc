package graft

import org.apache.spark.sql.graft.Shim
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Knn
import graft.plans.KnnJoin

/** The KnnJoin logical operator: same results as the composed plan,
  * query-side filter pushdown, broadcast in the physical plan. */
class KnnPlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  private val sf = TestSpark.sf

  private def data = SparkEntry.dataDf(spark, sf).filter(SparkEntry.filterLow)
  private def queries = SparkEntry.queriesDf(spark, sf)

  private def tuples(df: org.apache.spark.sql.DataFrame) =
    df.select($"qid", $"rank", $"neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("KnnJoin node result equals composed Knn.exact") {
    val viaNode = KnnJoin.run(data, queries, 10)
    val viaCompose = Knn.exact(data, queries, 10)
    assert(tuples(viaNode) == tuples(viaCompose))
  }

  test("cosine metric through the node") {
    val viaNode = KnnJoin.run(data, queries, 5, metric = "cosine")
    val viaCompose = Knn.exact(data, queries, 5, metric = "cosine")
    assert(tuples(viaNode) == tuples(viaCompose))
  }

  test("query-side filter is pushed through KnnJoin by the rule") {
    val df = KnnJoin.run(data, queries, 10).filter($"qid" > 100)
    val optimized = Shim.optimized(df)
    // after pushdown the KnnJoin's right child contains the filter and
    // no Filter remains above the node
    val kjs = optimized.collect { case kj: KnnJoin => kj }
    assert(kjs.nonEmpty, "KnnJoin survived to the optimized plan")
    val rightHasFilter = kjs.head.right.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f
    }.nonEmpty
    assert(rightHasFilter, s"filter not pushed into queries side:\n$optimized")
    // and the result matches filtering the queries up front
    val expected = Knn.exact(data, queries.filter($"qid" > 100), 10)
    assert(tuples(df) == tuples(expected))
  }

  test("physical plan broadcasts the query side") {
    val df = KnnJoin.run(data, queries, 10)
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("BroadcastNestedLoopJoin"),
      s"expected broadcast join in:\n$physical")
    assert(physical.contains("ObjectHashAggregate") ||
      physical.contains("SortAggregate"),
      "expected partial/final aggregate for topk")
  }
}
