package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native k-gram MD5-60 hashing: from a token array, the 60-bit hash of
  * every k-gram OCCURRENCE — `hash[i]` is the top 60 bits of
  * `md5(tokens[i] ⧺ ' ' ⧺ … ⧺ tokens[i+k−1])`, exactly the value of the
  * staged-HOF recipe `transform(shinglesAll(text,k), tokenHash60)` and of
  * the DuckDB oracle's `('0x' || substr(md5(gram),1,15))::BIGINT`
  * (60 bits = the first 15 hex digits = the first 8 digest bytes as a
  * big-endian unsigned long shifted right 4).
  *
  * Why native (SURVEY §2.10; r12 verdict #2 found the winnow pipeline's
  * cost is interpreted HOF eval): the HOF recipe materializes every gram
  * as a concat_ws STRING, runs Md5 interpreted per element (32-char hex
  * UTF8String), then substring+conv re-parse the hex — four allocations
  * per gram outside whole-stage codegen. This expression streams token
  * BYTES straight into one reused MessageDigest per partition (spaces
  * injected as single bytes, digest written into a reused 16-byte
  * scratch), emitting one long per gram — zero per-gram string work.
  *
  * Fewer than k tokens yields an empty array (the `shinglesAll` window
  * contract); NULL tokens are skipped within their gram exactly as
  * concat_ws skips them.
  */
case class GramHash60(child: Expression, k: Int) extends UnaryExpression {

  require(k >= 1, s"gram_hash60: k >= 1, got $k")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "gram_hash60"

  override protected def withNewChildInternal(newChild: Expression): GramHash60 =
    copy(child = newChild)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"gram_hash60 expects array<string>, got $other")
    }

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val n = toks.numElements()
    if (n < k) return new GenericArrayData(Array.empty[Long])
    val md = java.security.MessageDigest.getInstance("MD5")
    val scratch = new Array[Byte](16)
    val bytes = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      bytes(i) = if (toks.isNullAt(i)) null else toks.getUTF8String(i).getBytes
      i += 1
    }
    val out = new Array[Long](n - k + 1)
    var g = 0
    while (g <= n - k) {
      md.reset()
      var first = true
      var j = 0
      while (j < k) {
        val b = bytes(g + j)
        if (b != null) {
          if (!first) md.update(' '.toByte)
          md.update(b)
          first = false
        }
        j += 1
      }
      md.digest(scratch, 0, 16)
      out(g) = GramHash60.top60(scratch)
      g += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val md = ctx.addMutableState("java.security.MessageDigest", "gramMd",
      v => s"""try { $v = java.security.MessageDigest.getInstance("MD5"); }
               catch (java.security.NoSuchAlgorithmException e) { throw new RuntimeException(e); }""")
    val scratch = ctx.addMutableState("byte[]", "gramScratch",
      v => s"$v = new byte[16];")
    nullSafeCodeGen(ctx, ev, toks => {
      val n = ctx.freshName("n")
      val bytes = ctx.freshName("bytes")
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      val g = ctx.freshName("g")
      val j = ctx.freshName("j")
      val first = ctx.freshName("first")
      val b = ctx.freshName("b")
      s"""
        int $n = $toks.numElements();
        if ($n < $k) {
          ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(new long[0]);
        } else {
          byte[][] $bytes = new byte[$n][];
          for (int $i = 0; $i < $n; $i++) {
            $bytes[$i] = $toks.isNullAt($i) ? null : $toks.getUTF8String($i).getBytes();
          }
          long[] $out = new long[$n - $k + 1];
          for (int $g = 0; $g <= $n - $k; $g++) {
            $md.reset();
            boolean $first = true;
            for (int $j = 0; $j < $k; $j++) {
              byte[] $b = $bytes[$g + $j];
              if ($b != null) {
                if (!$first) $md.update((byte) ' ');
                $md.update($b);
                $first = false;
              }
            }
            try { $md.digest($scratch, 0, 16); }
            catch (java.security.DigestException e) { throw new RuntimeException(e); }
            $out[$g] = graft.functions.GramHash60.top60($scratch);
          }
          ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
        }
      """
    })
  }
}

object GramHash60 {

  /** First 15 hex digits of the digest as a long — the first 8 bytes as a
    * big-endian unsigned value, dropped 4 bits (= 60 bits, always ≥ 0).
    */
  def top60(d: Array[Byte]): Long = {
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }

  val FunctionName = "graft_gram_hash60"

  def register(spark: SparkSession): Unit =
    RegisterOnce(spark, FunctionName)(
      exprs => {
        require(exprs.length == 2,
          s"$FunctionName expects (array<string>, k), got ${exprs.length} args")
        require(exprs(1).foldable, s"$FunctionName: k must be a literal")
        val kv = exprs(1).eval(InternalRow.empty)
        require(kv != null && kv.isInstanceOf[Number],
          s"$FunctionName: k must be a non-null integer literal")
        GramHash60(exprs.head, kv.asInstanceOf[Number].intValue)
      })

  /** Column entry point; caller must [[register]] first. */
  def hashes(tokens: Column, k: Int): Column =
    call_function(FunctionName, tokens, lit(k))
}
