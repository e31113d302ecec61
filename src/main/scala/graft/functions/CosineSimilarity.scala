package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native cosine similarity over two float-array columns.
  *
  * Numeric contract (shared with the DuckDB oracle and the HOF
  * formulation it replaces): each float is exactly widened to double,
  * dot/norm accumulators fold LEFT-TO-RIGHT independently, the final
  * value is dot / (sqrt(na) * sqrt(nb)) — bit-identical everywhere.
  *
  * Why native: zip_with/aggregate lambdas always run on the interpreted
  * HOF evaluator (~an order of magnitude over a fused loop); the pairwise
  * verify stage of a bucketed near-dup join spends all of its time here.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_similarity"

  // Ragged (same-nullability) inputs still yield NULL, so the declared
  // nullability must be unconditional — otherwise with non-nullable input
  // arrays nullSafeCodeGen takes its non-nullable branch (the generated
  // `isNull = true` assignment would not compile) and the optimizer
  // folds IsNull to false, silently dropping the ragged-input guard.
  override def nullable: Boolean = true

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"cosine_similarity expects (array<float>, array<float>), got $other")
    }

  // Ragged inputs yield NULL, matching the HOF fold and the DuckDB
  // oracle (both null-pad via zip, and a null product nulls the sum) —
  // a silently-truncated prefix score must never pass a threshold.
  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    if (a.numElements() != b.numElements()) return null
    val n = a.numElements()
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
        if ($a.numElements() != $b.numElements()) {
          ${ev.isNull} = true;
        } else {
          int $n = $a.numElements();
          double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
          for (int $i = 0; $i < $n; $i++) {
            double $x = (double) $a.getFloat($i);
            double $y = (double) $b.getFloat($i);
            $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
          }
          ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
        }
      """
    })
}

object CosineSimilarity {
  val FunctionName = "graft_cosine_similarity"

  def register(spark: SparkSession): Unit =
    RegisterOnce(spark, FunctionName)(
      exprs => CosineSimilarity(exprs(0), exprs(1)))

  def cosine(a: Column, b: Column): Column = call_function(FunctionName, a, b)
}
