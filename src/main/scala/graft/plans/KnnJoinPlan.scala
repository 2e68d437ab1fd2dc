package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.Cross
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.graft.Shim
import org.apache.spark.sql.types._

import graft.functions.{TopKSmallest, VectorCosine, VectorDot, VectorSqDist}

/** `KnnJoin` — a first-class logical operator for filtered top-k
  * nearest-neighbor search (SURVEY §4 physical-strategy 3).
  *
  * Semantics: for every row of `queries`, the k nearest rows of `data`
  * under `metric`, deterministic tie-break (dist asc, id asc). The
  * data side is expected PRE-filtered (J4): predicates on data
  * attributes belong BELOW this node — pushing a data filter through
  * from above would silently change pre-filter semantics to
  * post-filter, so the optimizer rule here only pushes QUERY-side
  * predicates (restricting which queries run is always sound because
  * per-query results are independent).
  *
  * Physical planning (KnnStrategy) lowers the node to the engine's
  * canonical pipeline: cross join against the broadcast query table →
  * `TopKSmallest` partial/final aggregate → posexplode — i.e. exactly
  * `Knn.exact`, but available to any plan source (SQL, further
  * optimizer rules) as a single relational operator.
  */
case class KnnJoin(
    left: LogicalPlan,   // data
    right: LogicalPlan,  // queries (small side, broadcast)
    dataId: AttributeReference,
    dataVec: AttributeReference,
    qId: AttributeReference,
    qVec: AttributeReference,
    k: Int,
    metric: String,
    rankOut: AttributeReference =
      AttributeReference("rank", LongType, nullable = false)(),
    neighborOut: AttributeReference =
      AttributeReference("neighbor_id", LongType, nullable = false)(),
    distOut: AttributeReference =
      AttributeReference("dist", DoubleType, nullable = false)())
  extends BinaryNode {

  override def output: Seq[Attribute] = Seq(qId, rankOut, neighborOut, distOut)

  // rank/neighbor_id/dist are minted by this operator, not inherited
  override def producedAttributes: AttributeSet =
    AttributeSet(Seq(rankOut, neighborOut, distOut))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): LogicalPlan =
    copy(left = newLeft, right = newRight)
}

object KnnJoin {

  /** Dataset-level constructor (data side already filtered). */
  def run(data: DataFrame, queries: DataFrame, k: Int,
      metric: String = "sqeuclidean",
      idCol: String = "vec_id", vecCol: String = "embedding",
      qidCol: String = "qid", qvecCol: String = "q_embedding"): DataFrame = {
    val spark = data.sparkSession
    GraftPlanner.install(spark)
    val l = Shim.analyzed(data)
    val r = Shim.analyzed(queries)
    def attr(p: LogicalPlan, name: String): AttributeReference =
      p.output.find(_.name == name).getOrElse(throw new IllegalArgumentException(
        s"KnnJoin: column $name not found in ${p.output.map(_.name)}"))
        .asInstanceOf[AttributeReference]
    Shim.ofRows(spark, KnnJoin(l, r,
      attr(l, idCol), attr(l, vecCol), attr(r, qidCol), attr(r, qvecCol),
      k, metric))
  }

  /** Lower the logical node to the canonical broadcast + top-k plan. */
  def expand(kj: KnnJoin): LogicalPlan = {
    val dist = kj.metric match {
      case "sqeuclidean" => VectorSqDist(kj.dataVec, kj.qVec)
      case "cosine" => UnaryMinus(VectorCosine(kj.dataVec, kj.qVec))
      case "dot" => UnaryMinus(VectorDot(kj.dataVec, kj.qVec))
      case other => throw new IllegalArgumentException(s"metric $other")
    }
    val joined = Join(kj.left,
      ResolvedHint(kj.right, HintInfo(strategy = Some(BROADCAST))),
      Cross, None, JoinHint.NONE)
    // distance projected below the aggregate so the kernel stays in
    // whole-stage codegen (imperative aggs eval inputs interpreted)
    val distAlias = Alias(dist, "_dist")()
    val idAlias = Alias(Cast(kj.dataId, LongType), "_nnid")()
    val proj = Project(Seq(kj.qId, idAlias, distAlias), joined)
    val topkFn = TopKSmallest(kj.k, distAlias.toAttribute, idAlias.toAttribute)
    val topkAlias = Alias(
      AggregateExpression(topkFn,
        org.apache.spark.sql.catalyst.expressions.aggregate.Complete,
        isDistinct = false), "topk")()
    val agg = Aggregate(Seq(kj.qId), Seq(kj.qId, topkAlias), proj)
    val elemType = topkFn.dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType]
    val posAttr = AttributeReference("pos", IntegerType, nullable = false)()
    val nnAttr = AttributeReference("nn", elemType, nullable = false)()
    val generate = Generate(PosExplode(topkAlias.toAttribute),
      unrequiredChildIndex = Nil, outer = false, qualifier = None,
      generatorOutput = Seq(posAttr, nnAttr), agg)
    Project(Seq(
      kj.qId,
      Alias(Cast(Add(posAttr, Literal(1)), LongType), "rank")(
        exprId = kj.rankOut.exprId),
      Alias(GetStructField(nnAttr, 0, Some("id")), "neighbor_id")(
        exprId = kj.neighborOut.exprId),
      Alias(GetStructField(nnAttr, 1, Some("dist")), "dist")(
        exprId = kj.distOut.exprId)), generate)
  }
}

/** Planner strategy: KnnJoin → its expansion, planned normally (the
  * broadcast hint + aggregate turn into BroadcastNestedLoopJoin +
  * ObjectHashAggregate partial/final). */
object KnnStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case kj: KnnJoin => planLater(KnnJoin.expand(kj)) :: Nil
    case _ => Nil
  }
}

/** Optimizer rule: push query-side-only predicates through KnnJoin
  * into the queries child (sound: per-query independence). Data-side
  * predicates are NOT pushed (would flip pre-filter to post-filter —
  * the reference's central semantic axis, README_reviews.md:165-172).
  */
object PushQueryFilterThroughKnn extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, kj: KnnJoin) =>
      val (pushable, kept) = splitConjunctivePredicates(cond)
        .partition(_.references.subsetOf(AttributeSet(Seq(kj.qId))))
      if (pushable.isEmpty) f
      else {
        val pushed = kj.copy(right =
          Filter(pushable.reduce(And), kj.right))
        kept.reduceOption(And).map(Filter(_, pushed)).getOrElse(pushed)
      }
  }

  private def splitConjunctivePredicates(e: Expression): Seq[Expression] =
    e match {
      case And(l, r) =>
        splitConjunctivePredicates(l) ++ splitConjunctivePredicates(r)
      case other => Seq(other)
    }
}

/** Runtime installer of the strategy and optimizer rule, for sessions
  * the driver already created (no caller sets `spark.sql.extensions`). */
object GraftPlanner {
  def install(spark: SparkSession): Unit = {
    Shim.addStrategy(spark, KnnStrategy)
    Shim.addOptimization(spark, PushQueryFilterThroughKnn)
  }
}
