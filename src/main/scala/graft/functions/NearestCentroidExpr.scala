package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** argmax-by-dot-product over a fixed centroid matrix: the IVF cell-assignment
  * kernel (`graft.operators.Similarity.ivfAssignments`).
  *
  * Why a custom Expression instead of `array_max(array(struct(dot, id), ...))`
  * over per-centroid literals: that form UNROLLS one dot-product loop per
  * centroid into a single generated method — at nlist=64 the method passes the
  * JVM's JIT size threshold and executes in the bytecode interpreter
  * (measured: 1M rows x 64 cells x dim 32 took 126 s unrolled vs ~2 s here;
  * PlanSpec bounds the generated method size at 64 cells). This expression
  * emits one CONSTANT-SIZE nested loop over a `double[][]` reference, so
  * codegen size is independent of nlist and the matrix rows are primitive
  * arrays (no per-access boxing).
  *
  * Semantics: returns `ids(c)` for the centroid with the highest dot product
  * against the input; ties break to the LARGER id (matches the struct-max
  * form it replaces). Null input array, or a null element, yields null
  * (dot-product contract, see [[DotProductExpr]]). Dimensions are truncated to
  * min(input, centroid) length like [[DotProductExpr]].
  */
case class NearestCentroidExpr(child: Expression,
                               centroids: Array[Array[Double]],
                               ids: Array[Int])
  extends UnaryExpression {

  require(centroids.nonEmpty && centroids.length == ids.length,
    "need one id per centroid row")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"nearest_centroid expects array<double>, got ${other.simpleString}")
  }

  override def dataType: DataType = IntegerType
  // a null ELEMENT nulls the result even for a non-null input array
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var best = 0
    var bestSim = Double.NegativeInfinity
    var c = 0
    while (c < centroids.length) {
      val cent = centroids(c)
      val lim = math.min(n, cent.length)
      var s = 0.0
      var i = 0
      while (i < lim) {
        if (arr.isNullAt(i)) return null
        s += arr.getDouble(i) * cent(i)
        i += 1
      }
      if (s > bestSim || (s == bestSim && ids(c) > ids(best))) { bestSim = s; best = c }
      c += 1
    }
    ids(best)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, { arr =>
      val m = ctx.addReferenceObj("centroids", centroids, "double[][]")
      val idsRef = ctx.addReferenceObj("centroidIds", ids, "int[]")
      val n = ctx.freshName("n")
      val c = ctx.freshName("c")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val lim = ctx.freshName("lim")
      val cent = ctx.freshName("cent")
      val best = ctx.freshName("best")
      val bestSim = ctx.freshName("bestSim")
      s"""
         |final int $n = $arr.numElements();
         |int $best = 0;
         |double $bestSim = Double.NEGATIVE_INFINITY;
         |for (int $c = 0; $c < $m.length && !${ev.isNull}; $c++) {
         |  final double[] $cent = $m[$c];
         |  final int $lim = java.lang.Math.min($n, $cent.length);
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $lim; $i++) {
         |    if ($arr.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $s += $arr.getDouble($i) * $cent[$i];
         |  }
         |  if ($s > $bestSim || ($s == $bestSim && $idsRef[$c] > $idsRef[$best])) {
         |    $bestSim = $s; $best = $c;
         |  }
         |}
         |${ev.value} = $idsRef[$best];
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): NearestCentroidExpr =
    copy(child = newChild)
}

/** [[NearestCentroidExpr]] returning `struct<id:int, dot:double>` — for
  * consumers that need the winning centroid AND its dot product (cluster
  * prototypicality ranking): ONE constant-size loop instead of the argmax
  * probe plus an unrolled per-centroid-literal dot array, which at large
  * nlist re-enters the JIT-size-threshold regime the argmax kernel was built
  * to escape (126 s vs ~2 s at 1M x 64, per the scaladoc above) and pays the
  * dot work twice. Same tie contract: larger id wins equal dots. */
case class NearestCentroidDotExpr(child: Expression,
                                  centroids: Array[Array[Double]],
                                  ids: Array[Int])
  extends UnaryExpression {

  require(centroids.nonEmpty && centroids.length == ids.length,
    "need one id per centroid row")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"nearest_centroid_dot expects array<double>, got ${other.simpleString}")
  }

  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("id", IntegerType, nullable = false),
    org.apache.spark.sql.types.StructField("dot", DoubleType, nullable = false)))
  override def nullable: Boolean = true

  def probe(arr: ArrayData): Any = {
    val n = arr.numElements()
    var best = 0
    var bestSim = Double.NegativeInfinity
    var c = 0
    while (c < centroids.length) {
      val cent = centroids(c)
      val lim = math.min(n, cent.length)
      var s = 0.0
      var i = 0
      while (i < lim) {
        if (arr.isNullAt(i)) return null
        s += arr.getDouble(i) * cent(i)
        i += 1
      }
      if (s > bestSim || (s == bestSim && ids(c) > ids(best))) { bestSim = s; best = c }
      c += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(ids(best), bestSim)
  }

  override def nullSafeEval(input: Any): Any = probe(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, { arr =>
      val ref = ctx.addReferenceObj("nearestCentroidDot", this,
        classOf[NearestCentroidDotExpr].getName)
      val tmp = ctx.freshName("probed")
      s"""
         |final Object $tmp = $ref.probe($arr);
         |if ($tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) $tmp; }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): NearestCentroidDotExpr =
    copy(child = newChild)
}

object NearestCentroidExpr {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graft.ColumnBridge

  /** Column form over (id, centroid) pairs. */
  def nearestCentroid(v: Column, centroids: Seq[(Int, Seq[Double])]): Column =
    ColumnBridge.column(NearestCentroidExpr(
      ColumnBridge.expression(v),
      centroids.map(_._2.toArray).toArray,
      centroids.map(_._1).toArray))

  /** Column form of [[NearestCentroidDotExpr]]: struct(id, dot). */
  def nearestCentroidWithDot(v: Column, centroids: Seq[(Int, Seq[Double])]): Column =
    ColumnBridge.column(NearestCentroidDotExpr(
      ColumnBridge.expression(v),
      centroids.map(_._2.toArray).toArray,
      centroids.map(_._1).toArray))
}
