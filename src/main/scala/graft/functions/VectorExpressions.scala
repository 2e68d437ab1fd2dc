package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expressions for dense-vector arithmetic.
  *
  * These are the engine's hot inner loops — the Spark-native analog of
  * the reference's NumPy/CuPy distance kernels
  * (/root/reference/utils_grid_search.py:919-939: `sqeuclidean`
  * pairwise diff + `inner_product` matmul). Implemented with
  * `doGenCode` so they stay inside whole-stage codegen: a tight
  * primitive loop over the parquet-decoded float arrays, no boxing,
  * no UDF serialization.
  *
  * All math accumulates in double precision (the reference computes
  * ground truth in float32 promoted to float64 for the same reason,
  * utils_grid_search.py:976-977) so results are bit-stable against a
  * double-precision SQL oracle.
  */
abstract class VectorBinaryExpression extends BinaryExpression
    with Serializable {
  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true; case _ => false
    })) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float> inputs, got " +
        s"${left.dataType.simpleString} / ${right.dataType.simpleString}")
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  /** Java source for the per-element loop body; `a`/`b` are ArrayData
    * variables, `acc` the double accumulator, `i` the index. */
  protected def loopBody(a: String, b: String, acc: String, i: String): String
  /** Java source run after the loop to finalize `acc` into `result`. */
  protected def finish(acc: String, result: String): String = s"$result = $acc;"

  protected def evalLoop(x: ArrayData, y: ArrayData): Double

  /** A dim mismatch fails loudly, naming both inputs and both dims: a
    * distance over the shared prefix is a wrong answer, not a
    * distance. Checked once per pair, before the element loop; null
    * inputs stay null-in, null-out (`nullIntolerant`). */
  private def dimMismatchPrefix: String =
    s"$prettyName: vector dims differ between ${left.sql} and ${right.sql}"

  /** Java source of the dim check, for `doGenCode`. */
  protected def dimCheckCode(ctx: CodegenContext, a: String,
      b: String): String = {
    val msg = ctx.addReferenceObj("dimMismatch", dimMismatchPrefix)
    s"""if ($a.numElements() != $b.numElements()) {
       |  throw new IllegalArgumentException($msg + ": " +
       |    $a.numElements() + " vs " + $b.numElements());
       |}""".stripMargin
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements())
      throw new IllegalArgumentException(s"$dimMismatchPrefix: " +
        s"${x.numElements()} vs ${y.numElements()}")
    evalLoop(x, y)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |${dimCheckCode(ctx, a, b)}
         |int $n = $a.numElements();
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  ${loopBody(a, b, acc, i)}
         |}
         |${finish(acc, ev.value.toString)}
       """.stripMargin
    })
}

/** Squared Euclidean distance — reference metric "sqeuclidean"
  * (utils_grid_search.py:423-438 default, :919-921 kernel). */
case class VectorSqDist(left: Expression, right: Expression)
    extends VectorBinaryExpression {
  override def prettyName: String = "graft_sqdist"
  protected def loopBody(a: String, b: String, acc: String, i: String): String =
    s"""double ${i}_d = (double)$a.getFloat($i) - (double)$b.getFloat($i);
       |$acc += ${i}_d * ${i}_d;""".stripMargin
  protected def evalLoop(x: ArrayData, y: ArrayData): Double = {
    val n = x.numElements()
    var acc = 0.0; var i = 0
    while (i < n) {
      val d = x.getFloat(i).toDouble - y.getFloat(i).toDouble
      acc += d * d; i += 1
    }
    acc
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Inner-product similarity — reference "inner_product" branch
  * (utils_grid_search.py:930-939); note descending order semantics. */
case class VectorDot(left: Expression, right: Expression)
    extends VectorBinaryExpression {
  override def prettyName: String = "graft_dot"
  protected def loopBody(a: String, b: String, acc: String, i: String): String =
    s"$acc += (double)$a.getFloat($i) * (double)$b.getFloat($i);"
  protected def evalLoop(x: ArrayData, y: ArrayData): Double = {
    val n = x.numElements()
    var acc = 0.0; var i = 0
    while (i < n) { acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    acc
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Cosine similarity — reference metric "cosine"
  * (download_dataset/embedding_test.py:36). Single fused pass over the
  * two arrays (dot + both norms) rather than three separate loops. */
case class VectorCosine(left: Expression, right: Expression)
    extends VectorBinaryExpression {
  override def prettyName: String = "graft_cosine"
  // fused: needs three accumulators, so override codegen wholesale
  protected def loopBody(a: String, b: String, acc: String, i: String): String = ""
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val vx = ctx.freshName("vx")
      val vy = ctx.freshName("vy")
      s"""
         |${dimCheckCode(ctx, a, b)}
         |int $n = $a.numElements();
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $vx = (double)$a.getFloat($i);
         |  double $vy = (double)$b.getFloat($i);
         |  $dot += $vx * $vy; $na += $vx * $vx; $nb += $vy * $vy;
         |}
         |${ev.value} = ($na == 0.0 || $nb == 0.0) ? 0.0 :
         |  $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })
  protected def evalLoop(x: ArrayData, y: ArrayData): Double = {
    val n = x.numElements()
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val a = x.getFloat(i).toDouble; val b = y.getFloat(i).toDouble
      dot += a * b; na += a * a; nb += b * b; i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** L2 norm of a single vector (used by quantizer + cosine pre-norm). */
case class VectorNorm(child: Expression) extends UnaryExpression {
  override def prettyName: String = "graft_norm"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float>, got ${other.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    var acc = 0.0; var i = 0
    while (i < x.numElements()) {
      val d = x.getFloat(i).toDouble; acc += d * d; i += 1
    }
    math.sqrt(acc)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |double $acc = 0.0;
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  double ${i}_d = (double)$a.getFloat($i); $acc += ${i}_d * ${i}_d;
         |}
         |${ev.value} = java.lang.Math.sqrt($acc);
       """.stripMargin
    })
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}
