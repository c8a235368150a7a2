package graft.functions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{TypeCheckFailure, TypeCheckSuccess}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.Collect
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{DataType, IntegerType}

/** `collect_up_to(x, limit)`: `collect_list` whose per-group state
  * stops growing at `limit` elements — the ClickHouse
  * `groupArray(max_size)(x)` aggregate. Both `update` and `merge` stop
  * adding at `limit`, so a partial or final buffer never holds more
  * than `limit` values however many rows its group has. A group with
  * fewer than `limit` non-null values returns all of them (in no
  * particular order); a larger group returns exactly `limit` of them,
  * which ones unspecified. Nulls are skipped, as in `collect_list`.
  * With `limit = cap + 1`, `size(...) <= cap` tells a group of at most
  * cap rows (collected whole) from a larger one. */
case class CollectUpToAgg(child: Expression, limitExpr: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends Collect[ArrayBuffer[Any]] with BinaryLike[Expression] {

  private lazy val limit: Int = limitExpr.eval().asInstanceOf[Int]
  override def left: Expression = child
  override def right: Expression = limitExpr

  override def checkInputDataTypes(): TypeCheckResult =
    if (limitExpr.dataType != IntegerType || !limitExpr.foldable)
      TypeCheckFailure("collect_up_to limit must be an INT literal")
    else if (limit < 1) TypeCheckFailure("collect_up_to limit must be >= 1")
    else TypeCheckSuccess

  override lazy val bufferElementType: DataType = child.dataType
  override def convertToBufferElement(value: Any): Any = InternalRow.copyValue(value)
  override def createAggregationBuffer(): ArrayBuffer[Any] = ArrayBuffer.empty
  override def update(buf: ArrayBuffer[Any], input: InternalRow): ArrayBuffer[Any] =
    if (buf.size < limit) super.update(buf, input) else buf
  override def merge(buf: ArrayBuffer[Any], other: ArrayBuffer[Any]): ArrayBuffer[Any] =
    buf ++= other.iterator.take(limit - buf.size)
  override def eval(buf: ArrayBuffer[Any]): Any = new GenericArrayData(buf.toArray)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CollectUpToAgg =
    copy(child = newLeft, limitExpr = newRight)
  override def withNewMutableAggBufferOffset(newOffset: Int): CollectUpToAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CollectUpToAgg =
    copy(inputAggBufferOffset = newOffset)
  override def prettyName: String = "collect_up_to"
}

/** SQL registration + Column API for [[CollectUpToAgg]], same pattern
  * as [[uniqupto]]. */
object collectupto {
  private[graft] val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "collect_up_to" -> { es => CollectUpToAgg(es(0), es(1)) })

  def register(spark: SparkSession): Unit = registry.register(spark, builders)

  def collectUpTo(x: Column, limit: Int): Column =
    org.apache.spark.sql.functions.call_function("collect_up_to", x,
      org.apache.spark.sql.functions.lit(limit))
}
