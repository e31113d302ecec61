package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StructField, StructType}

/** Native winnowing selection (Schleimer, Wilkerson & Aiken, SIGMOD 2003):
  * from a k-gram hash array, the deduplicated (pos, fp_hash) fingerprints
  * — each length-`w` window contributes its RIGHTMOST minimal hash; an
  * array shorter than `w` contributes one whole-array window.
  *
  * Why native (the SURVEY §2.10 argument, and the r12 verdict's #1 perf
  * item): the HOF formulation walks every window through the interpreted
  * lambda evaluator — slice + array_min + reverse + array_position is
  * O(w) ALLOCATING work per window, ~4 array copies each, outside
  * whole-stage codegen. This expression runs the classic O(n) monotonic
  * ring-buffer sweep (pop ≥-valued tails, front = rightmost window min)
  * fused into codegen, emitting a fingerprint only when the selected
  * position advances — which IS the (pos, hash) dedup, because rightmost
  * -tie selections are nondecreasing in position as the window slides.
  *
  * Value contract: identical (pos, fp_hash) SET to the staged-HOF
  * recipe `array_distinct(transform(sequence(…), slice/array_min/…))`
  * that the q174 DuckDB oracle replays — pos is the 1-based gram index
  * of the selected hash. Emission order is ascending pos (first-window
  * order), a superset guarantee of array_distinct's first-occurrence
  * order on the same monotone sequence.
  */
case class WinnowMins(child: Expression, w: Int) extends UnaryExpression {

  require(w >= 2, s"winnow_mins: w >= 2, got $w")

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("pos", LongType, nullable = false),
      StructField("fp_hash", LongType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "winnow_mins"

  override protected def withNewChildInternal(newChild: Expression): WinnowMins =
    copy(child = newChild)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"winnow_mins expects array<long>, got $other")
    }

  override def nullSafeEval(input: Any): Any = {
    val h = input.asInstanceOf[ArrayData]
    val n = h.numElements()
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val eff = math.min(w, n)
    val dq = new Array[Int](n)
    var head = 0
    var tail = 0
    val out = new Array[Any](n - eff + 1)
    var m = 0
    var last = -1
    var i = 0
    while (i < n) {
      val v = h.getLong(i)
      while (tail > head && h.getLong(dq(tail - 1)) >= v) tail -= 1
      dq(tail) = i
      tail += 1
      if (i >= eff - 1) {
        while (dq(head) <= i - eff) head += 1
        val sel = dq(head)
        if (sel != last) {
          out(m) = new GenericInternalRow(
            Array[Any]((sel + 1).toLong, h.getLong(sel)))
          m += 1
          last = sel
        }
      }
      i += 1
    }
    new GenericArrayData(if (m == out.length) out else out.take(m))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, h => {
      val n = ctx.freshName("n")
      val eff = ctx.freshName("eff")
      val dq = ctx.freshName("dq")
      val head = ctx.freshName("head")
      val tail = ctx.freshName("tail")
      val out = ctx.freshName("out")
      val m = ctx.freshName("m")
      val last = ctx.freshName("last")
      val i = ctx.freshName("i")
      val v = ctx.freshName("v")
      val sel = ctx.freshName("sel")
      s"""
        int $n = $h.numElements();
        if ($n == 0) {
          ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(new Object[0]);
        } else {
          int $eff = $w < $n ? $w : $n;
          int[] $dq = new int[$n];
          int $head = 0; int $tail = 0;
          Object[] $out = new Object[$n - $eff + 1];
          int $m = 0; int $last = -1;
          for (int $i = 0; $i < $n; $i++) {
            long $v = $h.getLong($i);
            while ($tail > $head && $h.getLong($dq[$tail - 1]) >= $v) $tail--;
            $dq[$tail++] = $i;
            if ($i >= $eff - 1) {
              while ($dq[$head] <= $i - $eff) $head++;
              int $sel = $dq[$head];
              if ($sel != $last) {
                $out[$m++] = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
                  new Object[]{(long) ($sel + 1), $h.getLong($sel)});
                $last = $sel;
              }
            }
          }
          ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
            $m == $out.length ? $out : java.util.Arrays.copyOf($out, $m));
        }
      """
    })
}

object WinnowMins {

  val FunctionName = "graft_winnow_mins"

  def register(spark: SparkSession): Unit =
    RegisterOnce(spark, FunctionName)(
      exprs => {
        require(exprs.length == 2,
          s"$FunctionName expects (array<long>, w), got ${exprs.length} args")
        require(exprs(1).foldable, s"$FunctionName: w must be a literal")
        val wv = exprs(1).eval(InternalRow.empty)
        require(wv != null && wv.isInstanceOf[Number],
          s"$FunctionName: w must be a non-null integer literal")
        WinnowMins(exprs.head, wv.asInstanceOf[Number].intValue)
      })

  /** Column entry point; caller must [[register]] first. */
  def fingerprints(hashes: Column, w: Int): Column =
    call_function(FunctionName, hashes, lit(w))
}
