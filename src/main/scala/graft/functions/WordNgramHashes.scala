package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Distinct word-n-gram hashes of a text column in one native expression:
  * tokenize (trim + `\s+`, matching `split`), build each n-gram string
  * (single-space joined, matching `concat_ws(" ", slice(...))`), hash with
  * [[Hash60]], dedupe.
  *
  * Semantically `transform(array_distinct(wordNgrams(text, n)), hash60)` —
  * and hash-identical to the DuckDB oracle that computes exactly that — but
  * collapses five interpreted higher-order expressions (split, transform,
  * concat_ws, slice, array_distinct) plus a per-shingle Catalyst call into
  * one tight loop. Dedup by hash instead of by string is observationally
  * identical downstream: min-aggregates and set operations are duplicate-
  * and order-insensitive, and any md5 collision collides identically in
  * the oracle. This is the corpus-wide inner loop of MinHash dedup — the
  * single hottest path of a 100 TB text pipeline. */
case class WordNgramHashes(child: Expression, n: Int) extends UnaryExpression {

  require(n >= 1, "n-gram size must be >= 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"argument must be string, got $t")
    }

  override def nullSafeEval(v: Any): Any =
    WordNgramHashes.compute(v.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.WordNgramHashes.compute($c, $n)")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** A document's distinct shingle set in MinHash space: the
  * [[WordNgramHashes]] of `child` reduced mod `p` and deduped AFTER the
  * reduction, so two 60-bit hashes that meet mod `p` count once. Equal as
  * a set to `collect_set(h % p)` over the exploded [[WordNgramHashes]]
  * rows of one document, without the rows. */
case class ShingleHashSet(child: Expression, n: Int, p: Long) extends UnaryExpression {

  require(n >= 1, "n-gram size must be >= 1")
  require(p >= 1, "modulus must be >= 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"argument must be string, got $t")
    }

  override def nullSafeEval(v: Any): Any =
    WordNgramHashes.computeMod(v.asInstanceOf[UTF8String], n, p)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.WordNgramHashes.computeMod($c, $n, ${p}L)")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object ShingleHashSet {
  def apply(c: Column, n: Int, p: Long): Column =
    ColumnBridge.column(ShingleHashSet(ColumnBridge.expression(c), n, p))
}

object WordNgramHashes {

  private val Empty = new GenericArrayData(Array.emptyLongArray)

  def compute(s: UTF8String, n: Int): ArrayData = hashes(s, n, 0L)

  /** [[compute]] with every hash reduced mod `p` before the dedup. */
  def computeMod(s: UTF8String, n: Int, p: Long): ArrayData = hashes(s, n, p)

  // p = 0: the raw 60-bit hashes
  private def hashes(s: UTF8String, n: Int, p: Long): ArrayData = {
    val str = s.toString.trim
    if (str.isEmpty) return Empty
    val toks = str.split("\\s+")
    if (toks.length < n) return Empty
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i <= toks.length - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      val h = Hash60.hashBytes(
        sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      seen.add(if (p > 0) h % p else h)
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }

  def apply(c: Column, n: Int): Column =
    ColumnBridge.column(WordNgramHashes(ColumnBridge.expression(c), n))
}
