package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native Catalyst expression: MinHash signature of a hashed-shingle set
  * in ONE pass over the array — `sig[j] = min_i (a_j * h_i + b_j)` over
  * wrapping 64-bit arithmetic (multiply-shift universal hashing; a_j
  * forced odd so each map is a bijection).
  *
  * Why a custom expression (SURVEY §2.10 / the (b) path in the custom-
  * operator preference order): the relational formulation (explode
  * shingles → 64 min() agg columns) computes the same thing but pays a
  * full shuffle of the exploded token stream and 64 hash-agg buffer
  * updates per shingle row. This expression runs row-local inside
  * whole-stage codegen — at 100 TB the signature step becomes a pure map
  * stage with NO exchange.
  *
  * Wrapping multiplication is intentional and safe here: it happens in
  * JVM land (this expression), not in ANSI SQL arithmetic, and hash
  * quality only needs mixing, not magnitude.
  */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression {

  require(numHashes > 0 && numHashes <= 512, s"bad numHashes $numHashes")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "minhash_signature"

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"minhash_signature expects array<bigint>, got $other")
    }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val sig = new Array[Long](numHashes)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = arr.getLong(i)
      var j = 0
      while (j < numHashes) {
        val v = MinHashSignature.coeffA(j) * h + MinHashSignature.coeffB(j)
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[MinHashSignature].getName
    nullSafeCodeGen(ctx, ev, arr => {
      val sig = ctx.freshName("sig")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val h = ctx.freshName("h")
      val v = ctx.freshName("v")
      s"""
        long[] $sig = new long[$numHashes];
        java.util.Arrays.fill($sig, Long.MAX_VALUE);
        for (int $i = 0; $i < $arr.numElements(); $i++) {
          long $h = $arr.getLong($i);
          for (int $j = 0; $j < $numHashes; $j++) {
            long $v = $cls.coeffA($j) * $h + $cls.coeffB($j);
            if ($v < $sig[$j]) $sig[$j] = $v;
          }
        }
        ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($sig);
      """
    })
  }
}

object MinHashSignature {

  private def splitmix64(seed: Long): Long = {
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private val MaxHashes = 512
  private val as: Array[Long] =
    Array.tabulate(MaxHashes)(j => splitmix64(2L * j) | 1L)
  private val bs: Array[Long] =
    Array.tabulate(MaxHashes)(j => splitmix64(2L * j + 1L))

  /** Deterministic multiply-shift coefficients (public for codegen). */
  def coeffA(j: Int): Long = as(j)
  def coeffB(j: Int): Long = bs(j)

  val FunctionName = "graft_minhash_signature"

  /** Register `graft_minhash_signature(arr, numHashes)` in the session
    * function registry (idempotent) — the public path from a Column to a
    * custom Expression in Spark 4.
    */
  def register(spark: SparkSession): Unit =
    RegisterOnce(spark, FunctionName)(
      exprs => {
        // numHashes shapes the expression itself (loop bound, output
        // length), so it must be plan-time constant: reject columns /
        // non-foldable args with a clear error instead of a raw CCE/NPE.
        require(exprs.length == 2,
          s"$FunctionName expects (array<bigint>, numHashes), got ${exprs.length} args")
        require(exprs(1).foldable,
          s"$FunctionName: numHashes must be a literal, got ${exprs(1).sql}")
        val n = exprs(1).eval(org.apache.spark.sql.catalyst.InternalRow.empty)
        require(n != null && n.isInstanceOf[Number],
          s"$FunctionName: numHashes must be a non-null integer literal")
        MinHashSignature(exprs(0), n.asInstanceOf[Number].intValue)
      })

  /** Column-level entry point; caller must [[register]] first (done by
    * [[graft.text.TextDedup.minhashBands]]).
    */
  def minhashSignature(shingleHashes: Column, numHashes: Int): Column =
    call_function(FunctionName, shingleHashes, lit(numHashes))
}
