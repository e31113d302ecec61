package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}

/** Native sign-LSH bucketing: ALL `tables` bucket ids of a float vector in
  * one fused pass — `bucket[t]` has bit p set iff the left-to-right double
  * dot of the vector with hyperplane (t, p) is positive.
  *
  * Why native (the same SURVEY §2.10 argument as [[MinHashSignature]]):
  * the HOF formulation ([[graft.ml.Similarity.signBucket]]) evaluates
  * tables × planes interpreted `zip_with`+`aggregate` folds per row —
  * fine at test scale, a real per-row cost at corpus scale where the
  * bucketing step is a pure map over billions of vectors. This expression
  * runs the whole tables × planes × dims loop inside whole-stage codegen.
  *
  * Numeric contract: the dot accumulates LEFT-TO-RIGHT in double over
  * exactly-widened floats — bit-identical to the HOF fold and to the
  * DuckDB oracle's `list_reduce` (q42/q52 hash-gate the produced buckets).
  * Hyperplane components are the md5-derived values of
  * [[SignLshBuckets.plane]]; they are materialized once at plan time and
  * shipped to executors as a reference array — zero per-row hashing.
  *
  * A vector whose length differs from `dims` yields NULL (matching the
  * ragged-input stance of [[CosineSimilarity]]) — hence the unconditional
  * `nullable = true`, so codegen and the optimizer keep the guard.
  */
case class SignLshBuckets(child: Expression, tables: Int, planes: Int, dims: Int)
    extends UnaryExpression {

  require(tables > 0 && planes > 0 && planes <= 63 && dims > 0,
    s"bad sign-LSH shape: tables=$tables planes=$planes dims=$dims")

  @transient private lazy val coeffs: Array[Double] = SignLshBuckets.coeffs(tables, planes, dims)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "sign_lsh_buckets"

  override protected def withNewChildInternal(newChild: Expression): SignLshBuckets =
    copy(child = newChild)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"sign_lsh_buckets expects array<float>, got $other")
    }

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    if (v.numElements() != dims) return null
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var bucket = 0L
      var p = 0
      while (p < planes) {
        var proj = 0.0
        val base = (t * planes + p) * dims
        var d = 0
        while (d < dims) {
          proj += v.getFloat(d).toDouble * coeffs(base + d)
          d += 1
        }
        if (proj > 0) bucket |= (1L << p)
        p += 1
      }
      out(t) = bucket
      t += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val coeffsRef = ctx.addReferenceObj("lshCoeffs", coeffs, "double[]")
    nullSafeCodeGen(ctx, ev, v => {
      val out = ctx.freshName("out")
      val t = ctx.freshName("t")
      val p = ctx.freshName("p")
      val d = ctx.freshName("d")
      val proj = ctx.freshName("proj")
      val bucket = ctx.freshName("bucket")
      val base = ctx.freshName("base")
      s"""
        if ($v.numElements() != $dims) {
          ${ev.isNull} = true;
        } else {
          long[] $out = new long[$tables];
          for (int $t = 0; $t < $tables; $t++) {
            long $bucket = 0L;
            for (int $p = 0; $p < $planes; $p++) {
              double $proj = 0.0;
              int $base = ($t * $planes + $p) * $dims;
              for (int $d = 0; $d < $dims; $d++) {
                $proj += (double) $v.getFloat($d) * $coeffsRef[$base + $d];
              }
              if ($proj > 0) $bucket |= (1L << $p);
            }
            $out[$t] = $bucket;
          }
          ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
        }
      """
    })
  }
}

object SignLshBuckets {

  /** md5-derived hyperplane component in [-1, 1), the SAME value and seed
    * string as `Similarity.oracleHyperplane` — the q42/q52 DuckDB oracles
    * rebuild exactly this.
    */
  def plane(t: Int, p: Int, d: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"hp-$t-$p-$d".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.substring(0, 15)
    (java.lang.Long.parseLong(hex, 16) % 2000003L).toDouble / 1000001.5 - 1.0
  }

  private[functions] def coeffs(tables: Int, planes: Int, dims: Int): Array[Double] = {
    val out = new Array[Double](tables * planes * dims)
    var i = 0
    for (t <- 0 until tables; p <- 0 until planes; d <- 0 until dims) {
      out(i) = plane(t, p, d); i += 1
    }
    out
  }

  val FunctionName = "graft_sign_lsh_buckets"

  def register(spark: SparkSession): Unit =
    RegisterOnce(spark, FunctionName)(
      exprs => {
        require(exprs.length == 4,
          s"$FunctionName expects (array<float>, tables, planes, dims), got ${exprs.length} args")
        val ints = exprs.tail.zip(Seq("tables", "planes", "dims")).map { case (e, n) =>
          require(e.foldable, s"$FunctionName: $n must be a literal, got ${e.sql}")
          val v = e.eval(InternalRow.empty)
          require(v != null && v.isInstanceOf[Number],
            s"$FunctionName: $n must be a non-null integer literal")
          v.asInstanceOf[Number].intValue
        }
        SignLshBuckets(exprs.head, ints(0), ints(1), ints(2))
      })

  /** Column entry point; caller must [[register]] first. */
  def buckets(vec: Column, tables: Int, planes: Int, dims: Int): Column =
    call_function(FunctionName, vec, lit(tables), lit(planes), lit(dims))
}
