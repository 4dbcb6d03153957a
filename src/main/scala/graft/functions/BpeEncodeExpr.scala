package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Trained-BPE encoder: normalized text → subword tokens, applying the given
  * merges in rank order within each whitespace word
  * ([[graft.operators.Bpe]] trains the merges).
  *
  * Why native: encoding is per-word iterative (repeatedly fuse the
  * lowest-rank adjacent pair until none applies) — not expressible as a
  * Catalyst HOF chain without per-symbol interpreted lambdas and O(n²) array
  * copies. The merge-rank map is built once per expression instance and rides
  * codegen as a reference object; the generated code is one method call per
  * row (same pattern as [[BandedEditDistanceExpr]]).
  *
  * Semantics: input is expected pre-normalized ([[TextFns.normalize]]);
  * words split on single spaces, each word starts as its character symbols,
  * and each loop fuses ALL left-to-right occurrences of the lowest-rank
  * adjacent pair present. Null input → null; empty string → empty array.
  */
case class BpeEncodeExpr(child: Expression, merges: Seq[(String, String, Int)])
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bpe_encode expects string, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  @transient private lazy val rankOf: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](merges.size * 2)
    merges.foreach { case (l, r, rank) => m.put(l + " " + r, rank) }
    m
  }

  /** Encode one document; called from both interpreted eval and codegen. */
  def encode(input: UTF8String): ArrayData = {
    val words = input.toString.split(" ", -1)
    val out = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
    words.foreach { w =>
      if (w.nonEmpty) {
        var syms = scala.collection.mutable.ArrayBuffer.from[String](
          w.toCharArray.map(_.toString))
        var done = false
        while (!done && syms.length > 1) {
          // lowest-rank adjacent pair present in this word
          // fuse the PAIR THAT MATCHED, never merges(bestRank) by position —
          // the Seq is rank-ordered straight from Bpe.trainMerges, but a
          // vocabulary reloaded from a persisted table arrives in arbitrary row
          // order, where a positional lookup fuses the wrong pair (or loops
          // forever when that pair is absent from the word)
          var bestRank = Int.MaxValue
          var bestL: String = null
          var bestR: String = null
          var i = 0
          while (i < syms.length - 1) {
            val r = rankOf.get(syms(i) + " " + syms(i + 1))
            if (r != null && r < bestRank) {
              bestRank = r; bestL = syms(i); bestR = syms(i + 1)
            }
            i += 1
          }
          if (bestRank == Int.MaxValue) done = true
          else {
            val fused = bestL + bestR
            i = 0
            while (i < syms.length - 1) {
              if (syms(i) == bestL && syms(i + 1) == bestR) {
                syms.update(i, fused)
                syms.remove(i + 1)
              } else i += 1
            }
          }
        }
        syms.foreach(s => out += UTF8String.fromString(s))
      }
    }
    new GenericArrayData(out.toArray[Any])
  }

  override def nullSafeEval(input: Any): Any =
    encode(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, { s =>
      val ref = ctx.addReferenceObj("bpeEncoder", this, classOf[BpeEncodeExpr].getName)
      s"${ev.value} = $ref.encode($s);"
    })

  override protected def withNewChildInternal(newChild: Expression): BpeEncodeExpr =
    copy(child = newChild)
}

object BpeEncodeExpr {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graft.ColumnBridge

  def bpeEncode(text: Column, merges: Seq[graft.operators.Bpe.Merge]): Column =
    ColumnBridge.column(BpeEncodeExpr(ColumnBridge.expression(text),
      merges.map(m => (m.left, m.right, m.rank))))
}
