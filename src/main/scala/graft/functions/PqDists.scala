package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._

/** Shared PQ codebook machinery for the two native product-quantization
  * expressions ([[PqBests]], [[PqAdcLut]]). Components use the exact
  * q82/q83-oracle scheme (`pq-$m-$k-$d` md5 seeds), materialized once at
  * plan time; the per-(subspace, code) squared-L2 distance is the same
  * left-to-right double fold as the expression-tree reference in
  * `Similarity.pqDist` — `acc += ((double) v[m·sub+d] - c)²` from d=0 —
  * so every distance is bit-identical to the tree form (a square is
  * never -0.0, so the 0.0 seed is exact).
  *
  * Why native: the tree form is m·k·(dims/m) squared-diff terms — ~3,800
  * expression nodes PER SIDE of the ADC join. Catalyst analysis of each
  * chained select plus optimizer walks charged q83 ~850 ms of DataFrame
  * BUILD time and ~1 s of pre-execution planning per run at sf0.1
  * (PhaseProbe), dwarfing its ~1.1 s of actual job time. One fused
  * codegen loop replaces the whole tree on both sides.
  */
object PqCodebook {

  /** md5-derived codebook component — the SAME value and seed string as
    * `Similarity.pqDist` embeds as literals, which the q82/q83 oracles
    * rebuild (`('0x'||substr(md5(seed),1,15))::BIGINT` in DuckDB).
    */
  def component(m: Int, k: Int, d: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"pq-$m-$k-$d".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.substring(0, 15)
    (java.lang.Long.parseLong(hex, 16) % 2000003L).toDouble / 1000001.5 - 1.0
  }

  /** Flattened [(m·numCodes + k)·sub + d] codebook. */
  private[functions] def coeffs(numSubspaces: Int, numCodes: Int,
                                sub: Int): Array[Double] = {
    val out = new Array[Double](numSubspaces * numCodes * sub)
    var i = 0
    for (m <- 0 until numSubspaces; k <- 0 until numCodes; d <- 0 until sub) {
      out(i) = component(m, k, d); i += 1
    }
    out
  }

  private[functions] def registerShaped(
      spark: SparkSession, name: String,
      make: (Expression, Int, Int, Int) => Expression): Unit =
    RegisterOnce(spark, name)(
      exprs => {
        require(exprs.length == 4,
          s"$name expects (array<float>, m, k, dims), got ${exprs.length} args")
        val ints = exprs.tail.zip(Seq("m", "k", "dims")).map { case (e, n) =>
          require(e.foldable, s"$name: $n must be a literal, got ${e.sql}")
          val v = e.eval(InternalRow.empty)
          require(v != null && v.isInstanceOf[Number],
            s"$name: $n must be a non-null integer literal")
          v.asInstanceOf[Number].intValue
        }
        make(exprs.head, ints(0), ints(1), ints(2))
      })

  private[functions] def checkFloatArray(
      name: String, dt: DataType): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    dt match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$name expects array<float>, got $other")
    }
}

/** Native PQ coding: for each of `numSubspaces` subvectors, the
  * (distance, code) pair of the nearest codebook entry — one fused loop
  * over all m·k·(dims/m) squared diffs. Argmin ties fall to the SMALLER
  * code via strict Double.compare, mirroring the tree form's
  * lexicographic `array_min` over (d, k) structs (and the oracle's
  * `ORDER BY dist, k`). Ragged vectors (length ≠ dims) yield NULL.
  *
  * Output: array<struct<d: double, k: int>>, one entry per subspace.
  */
case class PqBests(child: Expression, numSubspaces: Int, numCodes: Int,
                   dims: Int) extends UnaryExpression {

  require(numSubspaces > 0 && numCodes > 0 && dims > 0 &&
    dims % numSubspaces == 0,
    s"bad PQ shape: m=$numSubspaces k=$numCodes dims=$dims")

  private val sub = dims / numSubspaces

  @transient private lazy val coeffs: Array[Double] =
    PqCodebook.coeffs(numSubspaces, numCodes, sub)

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("d", DoubleType, nullable = false),
      StructField("k", IntegerType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "pq_bests"

  override protected def withNewChildInternal(newChild: Expression): PqBests =
    copy(child = newChild)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    PqCodebook.checkFloatArray(prettyName, child.dataType)

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    if (v.numElements() != dims) return null
    val out = new Array[Any](numSubspaces)
    var m = 0
    while (m < numSubspaces) {
      var bestD = 0.0
      var bestK = -1
      var k = 0
      while (k < numCodes) {
        var acc = 0.0
        val base = (m * numCodes + k) * sub
        var d = 0
        while (d < sub) {
          val x = v.getFloat(m * sub + d).toDouble - coeffs(base + d)
          acc += x * x
          d += 1
        }
        if (bestK < 0 || java.lang.Double.compare(acc, bestD) < 0) {
          bestD = acc; bestK = k
        }
        k += 1
      }
      out(m) = InternalRow(bestD, bestK)
      m += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val coeffsRef = ctx.addReferenceObj("pqCoeffs", coeffs, "double[]")
    nullSafeCodeGen(ctx, ev, v => {
      val out = ctx.freshName("out")
      val m = ctx.freshName("m")
      val k = ctx.freshName("k")
      val d = ctx.freshName("d")
      val acc = ctx.freshName("acc")
      val x = ctx.freshName("x")
      val base = ctx.freshName("base")
      val bestD = ctx.freshName("bestD")
      val bestK = ctx.freshName("bestK")
      s"""
        if ($v.numElements() != $dims) {
          ${ev.isNull} = true;
        } else {
          Object[] $out = new Object[$numSubspaces];
          for (int $m = 0; $m < $numSubspaces; $m++) {
            double $bestD = 0.0;
            int $bestK = -1;
            for (int $k = 0; $k < $numCodes; $k++) {
              double $acc = 0.0;
              int $base = ($m * $numCodes + $k) * $sub;
              for (int $d = 0; $d < $sub; $d++) {
                double $x = (double) $v.getFloat($m * $sub + $d) - $coeffsRef[$base + $d];
                $acc += $x * $x;
              }
              if ($bestK < 0 || java.lang.Double.compare($acc, $bestD) < 0) {
                $bestD = $acc; $bestK = $k;
              }
            }
            $out[$m] = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
              new Object[] { java.lang.Double.valueOf($bestD), java.lang.Integer.valueOf($bestK) });
          }
          ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
        }
      """
    })
  }
}

object PqBests {
  val FunctionName = "graft_pq_bests"

  def register(spark: SparkSession): Unit =
    PqCodebook.registerShaped(spark, FunctionName, PqBests(_, _, _, _))

  /** Column entry point; caller must [[register]] first. */
  def bests(vec: Column, numSubspaces: Int, numCodes: Int, dims: Int): Column =
    call_function(FunctionName, vec, lit(numSubspaces), lit(numCodes), lit(dims))
}

/** Native ADC lookup-table build: EVERY per-(subspace, code) squared-L2
  * distance of a query vector against the md5-derived codebook, in one
  * fused loop — `lut[m][k]` with the identical fold order as [[PqBests]]
  * (and the tree reference). Ragged vectors yield NULL.
  *
  * Output: array<array<double>> indexed [subspace][code].
  */
case class PqAdcLut(child: Expression, numSubspaces: Int, numCodes: Int,
                    dims: Int) extends UnaryExpression {

  require(numSubspaces > 0 && numCodes > 0 && dims > 0 &&
    dims % numSubspaces == 0,
    s"bad PQ shape: m=$numSubspaces k=$numCodes dims=$dims")

  private val sub = dims / numSubspaces

  @transient private lazy val coeffs: Array[Double] =
    PqCodebook.coeffs(numSubspaces, numCodes, sub)

  override def dataType: DataType = ArrayType(
    ArrayType(DoubleType, containsNull = false), containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "pq_adc_lut"

  override protected def withNewChildInternal(newChild: Expression): PqAdcLut =
    copy(child = newChild)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    PqCodebook.checkFloatArray(prettyName, child.dataType)

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    if (v.numElements() != dims) return null
    val out = new Array[Any](numSubspaces)
    var m = 0
    while (m < numSubspaces) {
      val row = new Array[Double](numCodes)
      var k = 0
      while (k < numCodes) {
        var acc = 0.0
        val base = (m * numCodes + k) * sub
        var d = 0
        while (d < sub) {
          val x = v.getFloat(m * sub + d).toDouble - coeffs(base + d)
          acc += x * x
          d += 1
        }
        row(k) = acc
        k += 1
      }
      out(m) = new GenericArrayData(row)
      m += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val coeffsRef = ctx.addReferenceObj("pqCoeffs", coeffs, "double[]")
    nullSafeCodeGen(ctx, ev, v => {
      val out = ctx.freshName("out")
      val row = ctx.freshName("row")
      val m = ctx.freshName("m")
      val k = ctx.freshName("k")
      val d = ctx.freshName("d")
      val acc = ctx.freshName("acc")
      val x = ctx.freshName("x")
      val base = ctx.freshName("base")
      s"""
        if ($v.numElements() != $dims) {
          ${ev.isNull} = true;
        } else {
          Object[] $out = new Object[$numSubspaces];
          for (int $m = 0; $m < $numSubspaces; $m++) {
            double[] $row = new double[$numCodes];
            for (int $k = 0; $k < $numCodes; $k++) {
              double $acc = 0.0;
              int $base = ($m * $numCodes + $k) * $sub;
              for (int $d = 0; $d < $sub; $d++) {
                double $x = (double) $v.getFloat($m * $sub + $d) - $coeffsRef[$base + $d];
                $acc += $x * $x;
              }
              $row[$k] = $acc;
            }
            $out[$m] = new org.apache.spark.sql.catalyst.util.GenericArrayData($row);
          }
          ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
        }
      """
    })
  }
}

object PqAdcLut {
  val FunctionName = "graft_pq_adc_lut"

  def register(spark: SparkSession): Unit =
    PqCodebook.registerShaped(spark, FunctionName, PqAdcLut(_, _, _, _))

  /** Column entry point; caller must [[register]] first. */
  def lut(vec: Column, numSubspaces: Int, numCodes: Int, dims: Int): Column =
    call_function(FunctionName, vec, lit(numSubspaces), lit(numCodes), lit(dims))
}
