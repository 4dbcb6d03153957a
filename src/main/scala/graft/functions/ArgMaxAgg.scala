package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.RowOrdering
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.types.DataType

/** Hash-aggregatable argmax: the payload of the row with the greatest `ord`
  * (first-seen wins exact ties — make ties impossible by putting a unique
  * tie-break column inside `ord`, as every caller here does).
  *
  * Why not `max_by`: Spark's `max_by` is a DeclarativeAggregate whose buffer
  * holds the ord/payload STRUCTS — not a hash-aggregate-mutable buffer type —
  * so the planner silently lowers it to SortAggregate, which SORTS every map
  * partition by the grouping key before the partial step. That is exactly the
  * cost the agg-based last-write-wins claims to avoid; measured 2x slower
  * than the window form at 10M rows / 100k keys. As a
  * TypedImperativeAggregate this runs in ObjectHashAggregate: map-side hash
  * reduce, one surviving row per (task, key) into the shuffle, no sort
  * anywhere.
  *
  * Sizing note: ObjectHashAggregate falls back to sort-based aggregation
  * after `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` DISTINCT
  * keys per task (default 128 — sized for giant collect_list buffers, three
  * orders of magnitude too conservative for this constant-size buffer). The
  * session builders here raise it; a deployment should size it to expected
  * keys-per-task (the fallback is graceful: same result, sort cost back).
  */
case class ArgMaxAgg(ord: Expression, payload: Expression,
                     mutableAggBufferOffset: Int = 0,
                     inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ArgMaxAgg.Buf] {

  override def children: Seq[Expression] = Seq(ord, payload)

  override def checkInputDataTypes(): TypeCheckResult =
    if (RowOrdering.isOrderable(ord.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"arg_max ordering type ${ord.dataType.simpleString} is not orderable")

  override def dataType: DataType = payload.dataType
  override def nullable: Boolean = true

  @transient private lazy val ordering: Ordering[Any] =
    TypeUtils.getInterpretedOrdering(ord.dataType).asInstanceOf[Ordering[Any]]

  @transient private lazy val serProj: UnsafeProjection =
    UnsafeProjection.create(Array(ord.dataType, payload.dataType))

  override def createAggregationBuffer(): ArgMaxAgg.Buf = new ArgMaxAgg.Buf(null, null)

  override def update(buf: ArgMaxAgg.Buf, input: InternalRow): ArgMaxAgg.Buf = {
    val o = ord.eval(input)
    // null ord never wins (max_by's convention); null payload CAN win — the
    // caller's payload, not our business
    if (o != null && (buf.ord == null || ordering.compare(o, buf.ord) > 0)) {
      buf.ord = InternalRow.copyValue(o)
      val p = payload.eval(input)
      buf.payload = if (p == null) null else InternalRow.copyValue(p)
    }
    buf
  }

  override def merge(buf: ArgMaxAgg.Buf, other: ArgMaxAgg.Buf): ArgMaxAgg.Buf = {
    if (other.ord != null && (buf.ord == null || ordering.compare(other.ord, buf.ord) > 0)) {
      buf.ord = other.ord
      buf.payload = other.payload
    }
    buf
  }

  override def eval(buf: ArgMaxAgg.Buf): Any = buf.payload

  override def serialize(buf: ArgMaxAgg.Buf): Array[Byte] =
    if (buf.ord == null) Array.emptyByteArray
    else serProj.apply(InternalRow(buf.ord, buf.payload)).getBytes

  override def deserialize(bytes: Array[Byte]): ArgMaxAgg.Buf =
    if (bytes.isEmpty) createAggregationBuffer()
    else {
      val row = new UnsafeRow(2)
      row.pointTo(bytes, bytes.length)
      val o = InternalRow.copyValue(row.get(0, ord.dataType))
      val p = if (row.isNullAt(1)) null else InternalRow.copyValue(row.get(1, payload.dataType))
      new ArgMaxAgg.Buf(o, p)
    }

  override def withNewMutableAggBufferOffset(newOffset: Int): ArgMaxAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ArgMaxAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ArgMaxAgg =
    copy(ord = newChildren(0), payload = newChildren(1))
}

object ArgMaxAgg {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graft.ColumnBridge

  /** Mutable argmax state: the best ordering value seen and its payload. */
  final class Buf(var ord: Any, var payload: Any)

  /** Column form: payload of the row maximizing `ord` within the group. */
  def argMax(ord: Column, payload: Column): Column =
    ColumnBridge.column(ArgMaxAgg(
      ColumnBridge.expression(ord), ColumnBridge.expression(payload))
      .toAggregateExpression())
}
