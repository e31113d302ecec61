package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native HLL register aggregate: folds a string column into the full
  * m = 2^p register vector in ONE aggregate buffer — `result[bucket]` is
  * `max(rho)` over the rows hashing to that bucket, 0 where no row did
  * (rho ∈ [1, 61−p], so 0 is a safe absent sentinel).
  *
  * Bit-identical to the [[graft.ml.Sketches.hllRegisters]] register
  * table: the hash is the same salted md5-60
  * (`conv(substring(md5(salt ⧺ value), 1, 15), 16, 10)` = the digest's
  * first 8 bytes as a big-endian unsigned long shifted right 4 —
  * [[GramHash60.top60]]), `bucket = h & (m−1)`,
  * `rho = (61−p) − bitlen(h >> p)` with `bitlen(0) = 0` (the
  * `length(ltrim(bin(suffix), '0'))` convention both engines share).
  * NULL inputs are skipped (COUNT DISTINCT semantics, the
  * `filter(isNotNull)` of the register-table path).
  *
  * Why an imperative aggregate (guide §1.2/§2.3): the register-TABLE
  * path needs one (group, value) ROW per column per input row — for a
  * k-column profile that is a k× explode feeding a hash aggregate with
  * k·m distinct keys, every row paying interpreted
  * md5-hex→conv→bin→trim string work plus a hash-map probe. This
  * aggregate keeps one m-byte buffer per column, streams value bytes
  * into a reused MessageDigest, and does one array-slot max per row —
  * no row multiplication, no per-row allocations beyond the digest
  * scratch. Partial aggregation is the buffer itself (merge =
  * element-wise max), so the shuffle carries m bytes per partition per
  * column, same as the register table's post-partial-agg volume.
  *
  * Scale posture: buffer bytes = groups · m; intended for
  * profile-shaped callers (a handful of groups — one global group per
  * profiled column). Unbounded-group register builds keep the
  * register-table form ([[graft.ml.Sketches.hllRegisters]]), whose
  * output IS the mergeable mq-row summary contract.
  */
case class HllRegistersAgg(
    child: Expression,
    p: Int,
    salt: String,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] {

  require(p >= 4 && p <= 11,
    s"hll_registers_agg: p in [4, 11] (the fixed-point estimator range), got $p")

  private val m = 1 << p
  private val saltBytes = salt.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  // One digest per thread: aggregate instances are per-task after plan
  // deserialization, but local mode can reuse a deserialized plan across
  // threads — ThreadLocal keeps the reuse safe either way.
  @transient private lazy val mdLocal =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](m)

  override def update(buffer: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) {
      val md = mdLocal.get()
      md.reset()
      md.update(saltBytes)
      md.update(v.asInstanceOf[UTF8String].getBytes)
      val h = GramHash60.top60(md.digest())
      val bucket = (h & (m - 1)).toInt
      val suffix = h >>> p
      val bitlen = if (suffix == 0L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(suffix)
      val rho = (61 - p - bitlen).toByte
      if (rho > buffer(bucket)) buffer(bucket) = rho
    }
    buffer
  }

  override def merge(buffer: Array[Byte], other: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < m) {
      if (other(i) > buffer(i)) buffer(i) = other(i)
      i += 1
    }
    buffer
  }

  override def eval(buffer: Array[Byte]): Any = {
    val out = new Array[Int](m)
    var i = 0
    while (i < m) { out(i) = buffer(i).toInt; i += 1 }
    new GenericArrayData(out)
  }

  override def serialize(buffer: Array[Byte]): Array[Byte] = buffer

  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "hll_registers_agg"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"hll_registers_agg expects string, got $other")
    }

  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): HllRegistersAgg =
    copy(child = newChildren.head)
  override def withNewMutableAggBufferOffset(newOffset: Int): HllRegistersAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HllRegistersAgg =
    copy(inputAggBufferOffset = newOffset)
}

object HllRegistersAgg {

  val FunctionName = "graft_hll_registers_agg"

  def register(spark: SparkSession): Unit =
    RegisterOnce(spark, FunctionName)(
      exprs => {
        require(exprs.length == 3,
          s"$FunctionName expects (value, p, salt), got ${exprs.length} args")
        require(exprs(1).foldable && exprs(2).foldable,
          s"$FunctionName: p and salt must be literals")
        val pv = exprs(1).eval(InternalRow.empty)
        val sv = exprs(2).eval(InternalRow.empty)
        require(pv != null && pv.isInstanceOf[Number],
          s"$FunctionName: p must be a non-null integer literal")
        require(sv != null, s"$FunctionName: salt must be a non-null string literal")
        HllRegistersAgg(exprs.head, pv.asInstanceOf[Number].intValue, sv.toString)
      })

  /** Column entry point; caller must [[register]] first. */
  def registersOf(value: Column, p: Int, salt: String = "hll-"): Column =
    call_function(FunctionName, value, lit(p), lit(salt))
}
