package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Random-hyperplane LSH bucket: the sign bit of the dot product against each
  * plane of a fixed matrix, packed MSB-first into a long — the bucketing
  * kernel of `Similarity.lshTopK` / `cosineDupPairsLsh`.
  *
  * Why a custom Expression (same rationale as [[NearestCentroidExpr]]): the
  * composable form is one `when(aggregate(zip_with(v, plane, *), +) >= 0, ..)`
  * per bit — nbits x tables interpreted higher-order dots per row, and at
  * 64 planes the unrolled alternative (one codegen dot per bit) overruns the
  * JIT method threshold. This emits one constant-size nested loop over a
  * `double[][]` reference (1M x 32-dim x 64 planes: 13.4 s HOF -> ~1 s here;
  * PlanSpec bounds the generated method size at 64 planes).
  *
  * Semantics: bit b (MSB-first over the plane order) = 1 iff dot(v, plane_b)
  * >= 0, summed over min(len(v), len(plane)) elements. Null array or null
  * ELEMENT yields null (the HOF form silently mapped a null element to bit 0;
  * poisoning is the dot-product contract everywhere else — see
  * [[DotProductExpr]]). Bit-compatible with the HOF form for null-free input
  * given identical plane weights (SimilaritySpec asserts).
  */
case class HyperplaneBucketExpr(child: Expression, planes: Array[Array[Double]])
  extends UnaryExpression {

  // 64 bits pack exactly (the sign bit is just bit 63, same as the simhash)
  require(planes.nonEmpty && planes.length <= 64, "need 1..64 planes (packed into a long)")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"hyperplane_bucket expects array<double>, got ${other.simpleString}")
  }

  override def dataType: DataType = LongType
  // a null ELEMENT nulls the result even for a non-null input array
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var bucket = 0L
    var b = 0
    while (b < planes.length) {
      val plane = planes(b)
      val lim = math.min(n, plane.length)
      var s = 0.0
      var i = 0
      while (i < lim) {
        if (arr.isNullAt(i)) return null
        s += arr.getDouble(i) * plane(i)
        i += 1
      }
      bucket = (bucket << 1) | (if (s >= 0) 1L else 0L)
      b += 1
    }
    bucket
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, { arr =>
      val m = ctx.freshName("planes")
      val mRef = ctx.addReferenceObj("planes", planes, "double[][]")
      val n = ctx.freshName("n")
      val b = ctx.freshName("b")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val lim = ctx.freshName("lim")
      val plane = ctx.freshName("plane")
      val bucket = ctx.freshName("bucket")
      s"""
         |final double[][] $m = $mRef;
         |final int $n = $arr.numElements();
         |long $bucket = 0L;
         |for (int $b = 0; $b < $m.length && !${ev.isNull}; $b++) {
         |  final double[] $plane = $m[$b];
         |  final int $lim = java.lang.Math.min($n, $plane.length);
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $lim; $i++) {
         |    if ($arr.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $s += $arr.getDouble($i) * $plane[$i];
         |  }
         |  $bucket = ($bucket << 1) | ($s >= 0 ? 1L : 0L);
         |}
         |${ev.value} = $bucket;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): HyperplaneBucketExpr =
    copy(child = newChild)
}

object HyperplaneBucketExpr {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graft.ColumnBridge

  def hyperplaneBucket(v: Column, planes: Array[Array[Double]]): Column =
    ColumnBridge.column(HyperplaneBucketExpr(ColumnBridge.expression(v), planes))
}
