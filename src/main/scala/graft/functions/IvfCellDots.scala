package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native IVF cell scoring: the dot of a float vector with EVERY
  * md5-derived centroid in one fused codegen pass — `dots[c]` =
  * left-to-right double Σ_d v[d]·centroid(c, d).
  *
  * Completes the zero-interpreted-hot-path stance for the similarity
  * family (with [[CosineSimilarity]] and [[SignLshBuckets]]): the HOF
  * formulation evaluates `cells` interpreted zip_with+aggregate folds per
  * row. Centroid components use the exact q51-oracle scheme
  * (`ivf-$c-$d` md5 seeds), materialized once at plan time.
  *
  * Ragged vectors (length ≠ dims) yield NULL — `nullable = true`
  * unconditionally so the guard survives non-nullable inputs.
  */
case class IvfCellDots(child: Expression, cells: Int, dims: Int)
    extends UnaryExpression {

  require(cells > 0 && dims > 0, s"bad IVF shape: cells=$cells dims=$dims")

  @transient private lazy val coeffs: Array[Double] = IvfCellDots.coeffs(cells, dims)

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "ivf_cell_dots"

  override protected def withNewChildInternal(newChild: Expression): IvfCellDots =
    copy(child = newChild)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"ivf_cell_dots expects array<float>, got $other")
    }

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    if (v.numElements() != dims) return null
    val out = new Array[Double](cells)
    var c = 0
    while (c < cells) {
      var dot = 0.0
      val base = c * dims
      var d = 0
      while (d < dims) {
        dot += v.getFloat(d).toDouble * coeffs(base + d)
        d += 1
      }
      out(c) = dot
      c += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val coeffsRef = ctx.addReferenceObj("ivfCoeffs", coeffs, "double[]")
    nullSafeCodeGen(ctx, ev, v => {
      val out = ctx.freshName("out")
      val c = ctx.freshName("c")
      val d = ctx.freshName("d")
      val dot = ctx.freshName("dot")
      val base = ctx.freshName("base")
      s"""
        if ($v.numElements() != $dims) {
          ${ev.isNull} = true;
        } else {
          double[] $out = new double[$cells];
          for (int $c = 0; $c < $cells; $c++) {
            double $dot = 0.0;
            int $base = $c * $dims;
            for (int $d = 0; $d < $dims; $d++) {
              $dot += (double) $v.getFloat($d) * $coeffsRef[$base + $d];
            }
            $out[$c] = $dot;
          }
          ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
        }
      """
    })
  }
}

object IvfCellDots {

  /** md5-derived centroid component — the SAME value and seed string as
    * `Similarity.ivfCentroid`, which the q51 oracle rebuilds.
    */
  def centroid(c: Int, d: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"ivf-$c-$d".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.substring(0, 15)
    (java.lang.Long.parseLong(hex, 16) % 2000003L).toDouble / 1000001.5 - 1.0
  }

  private[functions] def coeffs(cells: Int, dims: Int): Array[Double] = {
    val out = new Array[Double](cells * dims)
    var i = 0
    for (c <- 0 until cells; d <- 0 until dims) { out(i) = centroid(c, d); i += 1 }
    out
  }

  val FunctionName = "graft_ivf_cell_dots"

  def register(spark: SparkSession): Unit =
    RegisterOnce(spark, FunctionName)(
      exprs => {
        require(exprs.length == 3,
          s"$FunctionName expects (array<float>, cells, dims), got ${exprs.length} args")
        val ints = exprs.tail.zip(Seq("cells", "dims")).map { case (e, n) =>
          require(e.foldable, s"$FunctionName: $n must be a literal, got ${e.sql}")
          val v = e.eval(InternalRow.empty)
          require(v != null && v.isInstanceOf[Number],
            s"$FunctionName: $n must be a non-null integer literal")
          v.asInstanceOf[Number].intValue
        }
        IvfCellDots(exprs.head, ints(0), ints(1))
      })

  /** Column entry point; caller must [[register]] first. */
  def cellDots(vec: Column, cells: Int, dims: Int): Column =
    call_function(FunctionName, vec, lit(cells), lit(dims))
}
