package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Count of a long-array column's elements present in a fixed reference set —
  * [[MarkerHitsExpr]]'s rationale, 64-bit-hash edition: the composable form
  * (`size(array_intersect(col, literalArray))`) rebuilds a hash set from the
  * LITERAL side on EVERY row, so a 5k-gram benchmark model costs 5k inserts
  * per (doc, benchmark) pair — measured 4.5 s for the k-benchmark stateless
  * decontamination sweep entry at sf0.1. This kernel builds an open-addressed
  * primitive table ONCE (a codegen reference object, no boxing) and probes it
  * O(1) per element inside whole-stage codegen.
  *
  * Semantics: every OCCURRENCE counts (the inputs here are `array_distinct`'d
  * gram arrays, so occurrence count == distinct-member count and the result
  * equals `size(array_intersect(col, set))` exactly); null elements never
  * match; null array yields null.
  */
case class LongSetHitsExpr(child: Expression, set: Array[Long])
  extends UnaryExpression {

  // loud failure instead of an Int-overflowed 8-slot table whose insert loop
  // would spin forever; the model regime this kernel exists for is KB-MB
  require(set.length < (1 << 28),
    s"reference set too large for a literal model (${set.length} >= 2^28) — " +
      "use the Bloom regime (decontaminateBloom) or the broadcast-join form")

  /** Stable plan rendering: the default Array toString would embed a JVM
    * identity hash (`[J@1a2b3c`) in every explain output, so two plans of
    * the same model would print differently. Render length + content hash
    * instead — deterministic for identical models. */
  override protected def stringArgs: Iterator[Any] = Iterator(child,
    s"set(n=${set.length}, h=${java.util.Arrays.hashCode(set).toHexString})")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"long_set_hits expects array<bigint>, got ${other.simpleString}")
  }

  override def dataType: DataType = IntegerType

  /** Open-addressed table, linear probing — [[LongProbeSet]], shared with the
    * scalar sibling [[LongSetContainsExpr]]. Built once per executor. */
  @transient private lazy val probe: LongProbeSet = new LongProbeSet(set)

  def hits(arr: ArrayData): Int = {
    val p = probe
    val n = arr.numElements()
    var c = 0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i) && p.contains(arr.getLong(i))) c += 1
      i += 1
    }
    c
  }

  override def nullSafeEval(input: Any): Any = hits(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, { arr =>
      val ref = ctx.addReferenceObj("longSetHits", this, classOf[LongSetHitsExpr].getName)
      s"${ev.value} = $ref.hits($arr);"
    })

  override protected def withNewChildInternal(newChild: Expression): LongSetHitsExpr =
    copy(child = newChild)
}

object LongSetHitsExpr {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graft.ColumnBridge

  def longSetHits(arr: Column, set: Array[Long]): Column =
    ColumnBridge.column(LongSetHitsExpr(ColumnBridge.expression(arr), set))
}
