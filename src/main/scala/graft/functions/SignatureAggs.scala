package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** Signature aggregations as single compact imperative aggregates.
  *
  * The declarative forms — 32 separate `min((a_i·h+b_i) % P)` aggregates
  * for MinHash, 60 separate `sum((h>>j)&1)` aggregates for SimHash — are
  * semantically right but generate enormous whole-stage-codegen classes
  * whose one-time JIT/javac compile dominates a cold run (measured ~1.5-2 s
  * of a 2-3 s query at sf0.1; the work itself is milliseconds). One
  * [[TypedImperativeAggregate]] with a primitive-array buffer and a tight
  * update loop keeps the plan small, keeps map-side partial aggregation
  * (ObjectHashAggregate partial + final with binary-serialized buffers,
  * the same machinery as collect_set), and computes the identical values.
  *
  * Update cost is one interpreted child eval + a `slots`-step loop per
  * row — the md5 in [[WordNgramHashes]]/[[Hash60]] upstream dwarfs it.
  */
abstract class LongArrayAgg extends TypedImperativeAggregate[Array[Long]]
    with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"argument must be bigint, got $t")
  }

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(buf.length * 8)
    bb.asLongBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](bytes.length / 8)
    ByteBuffer.wrap(bytes).asLongBuffer().get(out)
    out
  }
}

/** All `slots` MinHash slot minima in one aggregate:
  * `slot_i = min((a_i·h + b_i) % P)` over the group's base hashes `h`.
  * Value-identical to the column of separate min-aggregates (same Java
  * arithmetic: 0 <= h < P and a,b < P keep a·h+b inside 2^62, so no
  * overflow and `%` never sees a negative operand). A group with only
  * null inputs evaluates to null, like `min`. */
case class MinhashSigAgg(
    child: Expression, coeffA: Seq[Long], coeffB: Seq[Long], p: Long,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends LongArrayAgg {

  require(coeffA.length == coeffB.length && coeffA.nonEmpty)
  @transient private lazy val a = coeffA.toArray
  @transient private lazy val b = coeffB.toArray

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  // Long.MaxValue marks "no input seen": every real slot value is in
  // [0, p) and p < MaxValue, so the sentinel can never collide
  override def createAggregationBuffer(): Array[Long] =
    Array.fill(coeffA.length)(Long.MaxValue)

  override def update(buf: Array[Long], row: InternalRow): Array[Long] = {
    val v = child.eval(row)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      var i = 0
      while (i < buf.length) {
        val x = (a(i) * h + b(i)) % p
        if (x < buf(i)) buf(i) = x
        i += 1
      }
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buf.length) {
      if (other(i) < buf(i)) buf(i) = other(i)
      i += 1
    }
    buf
  }

  override def eval(buf: Array[Long]): Any =
    if (buf(0) == Long.MaxValue) null else new GenericArrayData(buf.clone())

  override def withNewMutableAggBufferOffset(o: Int): MinhashSigAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): MinhashSigAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): MinhashSigAgg =
    copy(child = c)
  override def prettyName: String = "minhash_sig"
}

object MinhashSigAgg {
  def apply(c: Column, perms: Seq[(Long, Long)], p: Long): Column =
    ColumnBridge.column(new MinhashSigAgg(ColumnBridge.expression(c),
      perms.map(_._1), perms.map(_._2), p).toAggregateExpression())
}

/** Row-wise [[MinhashSigAgg]]: the `slots` MinHash minima of one array of
  * base hashes (a document's [[ShingleHashSet]]), the same values the
  * aggregate folds over that array's exploded rows. An empty array gives
  * null, like the aggregate over no rows. */
case class MinhashSignature(child: Expression, coeffA: Seq[Long], coeffB: Seq[Long], p: Long)
  extends UnaryExpression {

  require(coeffA.length == coeffB.length && coeffA.nonEmpty)
  @transient private lazy val a = coeffA.toArray
  @transient private lazy val b = coeffB.toArray

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"argument must be array<bigint>, got $t")
  }

  override def nullSafeEval(v: Any): Any = {
    val hs = v.asInstanceOf[ArrayData]
    val n = hs.numElements()
    if (n == 0) return null
    val sig = Array.fill(a.length)(Long.MaxValue)
    var k = 0
    while (k < n) {
      val h = hs.getLong(k)
      var i = 0
      while (i < sig.length) {
        val x = (a(i) * h + b(i)) % p
        if (x < sig(i)) sig(i) = x
        i += 1
      }
      k += 1
    }
    new GenericArrayData(sig)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("minhash", this)
    val r = ctx.freshName("sig")
    nullSafeCodeGen(ctx, ev, c =>
      s"""Object $r = $self.nullSafeEval($c);
         |if ($r == null) ${ev.isNull} = true;
         |else ${ev.value} = (ArrayData) $r;""".stripMargin)
  }

  override protected def withNewChildInternal(c: Expression): MinhashSignature =
    copy(child = c)
  override def prettyName: String = "minhash"
  override def toString: String = s"minhash($child, ${coeffA.length} slots)"
}

object MinhashSignature {
  def apply(c: Column, perms: Seq[(Long, Long)], p: Long): Column =
    ColumnBridge.column(new MinhashSignature(ColumnBridge.expression(c),
      perms.map(_._1), perms.map(_._2), p))
}

/** The `nBands` LSH band keys of a MinHash signature in one loop: band
  * `b` is the [[Hash60]] of `"b," + slots[b·r .. b·r+r-1].mkString("_")`
  * (a band past the end of a short signature keeps the slots that exist).
  * Value-identical to the declarative `hash60(concat_ws(",", b,
  * concat_ws("_", slice(sig, ...))))` per band, whose slices, casts to
  * strings and string concatenations cost more than the MinHash itself.
  * A null signature gives null. */
case class MinhashBandKeys(child: Expression, rowsPerBand: Int, nBands: Int)
  extends UnaryExpression {

  require(rowsPerBand >= 1 && nBands >= 1)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"argument must be array<bigint>, got $t")
  }

  override def nullSafeEval(v: Any): Any =
    MinhashBandKeys.compute(v.asInstanceOf[ArrayData], rowsPerBand, nBands)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.MinhashBandKeys.compute($c, $rowsPerBand, $nBands)")

  override protected def withNewChildInternal(c: Expression): MinhashBandKeys =
    copy(child = c)
  override def prettyName: String = "minhash_band_keys"
}

object MinhashBandKeys {
  def compute(sig: ArrayData, rowsPerBand: Int, nBands: Int): ArrayData = {
    val n = sig.numElements()
    val out = new Array[Long](nBands)
    val sb = new java.lang.StringBuilder(16 + rowsPerBand * 11)
    var b = 0
    while (b < nBands) {
      sb.setLength(0)
      sb.append(b).append(',')
      var i = b * rowsPerBand
      val end = math.min(i + rowsPerBand, n)
      while (i < end) {
        if (i > b * rowsPerBand) sb.append('_')
        sb.append(sig.getLong(i))
        i += 1
      }
      out(b) = Hash60.hashBytes(
        sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      b += 1
    }
    new GenericArrayData(out)
  }

  def apply(c: Column, rowsPerBand: Int, nBands: Int): Column =
    ColumnBridge.column(MinhashBandKeys(ColumnBridge.expression(c), rowsPerBand, nBands))
}

/** The assembled `bits`-bit SimHash of a group's token hashes in one
  * aggregate: bit j of the result is set iff more inputs have bit j set
  * than unset (strict majority). Buffer = per-bit set-counts + the
  * non-null input count; a group with no (non-null) inputs yields the
  * all-zero signature, matching the declarative
  * `when(2·count_j > n, 1<<j)` form over explode_outer rows. */
case class SimhashAgg(
    child: Expression, bits: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends LongArrayAgg {

  require(bits >= 1 && bits <= 63, s"bits must be in [1,63], got $bits")

  override def dataType: DataType = LongType
  override def nullable: Boolean = false

  // slots 0..bits-1 = per-bit counts, slot `bits` = non-null input count
  override def createAggregationBuffer(): Array[Long] = new Array[Long](bits + 1)

  override def update(buf: Array[Long], row: InternalRow): Array[Long] = {
    val v = child.eval(row)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      var j = 0
      while (j < bits) {
        buf(j) += (h >> j) & 1L
        j += 1
      }
      buf(bits) += 1L
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var j = 0
    while (j <= bits) {
      buf(j) += other(j)
      j += 1
    }
    buf
  }

  override def eval(buf: Array[Long]): Any = {
    val n = buf(bits)
    var sig = 0L
    var j = 0
    while (j < bits) {
      if (buf(j) * 2 > n) sig |= 1L << j
      j += 1
    }
    sig
  }

  override def withNewMutableAggBufferOffset(o: Int): SimhashAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): SimhashAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): SimhashAgg =
    copy(child = c)
  override def prettyName: String = "simhash_agg"
}

object SimhashAgg {
  def apply(c: Column, bits: Int): Column =
    ColumnBridge.column(new SimhashAgg(ColumnBridge.expression(c), bits)
      .toAggregateExpression())
}
