package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.Collect
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** `collect_list` that stops appending once it holds `cap` values: the
  * member list of a band bucket, where a bucket past the cap is handled by
  * its count and hub alone, so no task ever buffers a hot bucket's
  * members. Which `cap` values survive is unspecified (merge order). */
case class BoundedCollect(
    child: Expression, cap: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends Collect[mutable.ArrayBuffer[Any]] with UnaryLike[Expression] {

  require(cap >= 1, s"cap must be >= 1, got $cap")

  override lazy val bufferElementType: DataType = child.dataType
  override def convertToBufferElement(value: Any): Any = InternalRow.copyValue(value)
  override def createAggregationBuffer(): mutable.ArrayBuffer[Any] = mutable.ArrayBuffer.empty

  override def update(buf: mutable.ArrayBuffer[Any], row: InternalRow): mutable.ArrayBuffer[Any] =
    if (buf.length >= cap) buf else super.update(buf, row)

  override def merge(buf: mutable.ArrayBuffer[Any],
                     other: mutable.ArrayBuffer[Any]): mutable.ArrayBuffer[Any] = {
    val it = other.iterator
    while (buf.length < cap && it.hasNext) buf += it.next()
    buf
  }

  override def eval(buf: mutable.ArrayBuffer[Any]): Any = new GenericArrayData(buf.toArray)

  override def withNewMutableAggBufferOffset(o: Int): BoundedCollect =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BoundedCollect =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): BoundedCollect =
    copy(child = c)
  override def prettyName: String = "bounded_collect"
}

object BoundedCollect {
  def apply(c: Column, cap: Int): Column =
    ColumnBridge.column(new BoundedCollect(ColumnBridge.expression(c), cap)
      .toAggregateExpression())
}

/** Every pair of a bucket's members as rows `(a, b)`, oriented so that
  * `a`'s leading long field (the id) is the smaller; two entries with the
  * same id give no row, and an entry with a null id pairs with nothing.
  * Pairs stream out one at a time, never as an array. */
case class BucketPairs(child: Expression) extends UnaryExpression
    with Generator with CodegenFallback {

  private def memberType: StructType =
    child.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(st: StructType, _) if st.nonEmpty && st.head.dataType == LongType =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"argument must be an array of structs led by a bigint id, got $t")
  }

  override def elementSchema: StructType = new StructType()
    .add("a", memberType, nullable = false)
    .add("b", memberType, nullable = false)

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val arr = child.eval(input).asInstanceOf[ArrayData]
    if (arr == null) return Iterator.empty
    val nf = memberType.length
    val ms = (0 until arr.numElements()).map(arr.getStruct(_, nf))
      .filterNot(_.isNullAt(0)).map(_.copy()).toArray
    Iterator.range(0, ms.length).flatMap { i =>
      Iterator.range(i + 1, ms.length).flatMap { j =>
        val (x, y) = (ms(i), ms(j))
        val (ix, iy) = (x.getLong(0), y.getLong(0))
        if (ix < iy) Iterator.single(InternalRow(x, y))
        else if (iy < ix) Iterator.single(InternalRow(y, x))
        else Iterator.empty
      }
    }
  }

  override protected def withNewChildInternal(c: Expression): BucketPairs =
    copy(child = c)
  override def prettyName: String = "bucket_pairs"
}

object BucketPairs {
  def apply(c: Column): Column = ColumnBridge.column(BucketPairs(ColumnBridge.expression(c)))
}
