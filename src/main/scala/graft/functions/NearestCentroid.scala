package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ExpressionBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/**
 * IVF coarse-quantizer assignment in ONE pass: the 1-based index of the
 * centroid minimizing ||v - c||² = (c·c) - 2 v·c (+ the row-constant
 * v·v, dropped). Ties resolve to the FIRST minimal centroid, matching
 * `array_position(dists, array_min(dists))` over the composed
 * per-centroid dot expressions this replaces — which each re-traversed
 * the vector (nlist passes per row; at 100 TB the assignment pass is
 * the dominant IVF build cost).
 */
case class NearestCentroid(child: Expression, centroids: Array[Array[Double]])
    extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType | FloatType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"nearest_centroid requires array<double|float>, got ${other.catalogString}")
    }

  private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  @transient private lazy val cc: Array[Double] =
    centroids.map(c => c.foldLeft(0.0)((a, x) => a + x * x))

  // dimension mismatch yields NULL (the composed form's VectorDot
  // produced NULL distances, and array_position over nulls dropped the
  // row from IVF results)
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    if (centroids.nonEmpty && arr.numElements() != centroids(0).length) null
    else java.lang.Long.valueOf(
      NearestCentroid.compute(arr, centroids, cc, isFloat))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("ivfCentroids", centroids, "double[][]")
    val ccRef = ctx.addReferenceObj("ivfCc", cc, "double[]")
    val dim = if (centroids.nonEmpty) centroids(0).length else 0
    val cls = NearestCentroid.getClass.getName.stripSuffix("$")
    nullSafeCodeGen(ctx, ev, arr =>
      s"""
         |if ($arr.numElements() != $dim) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $cls.compute($arr, $cRef, $ccRef, $isFloat);
         |}
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroid =
    copy(child = newChild)

  override def equals(o: Any): Boolean = o match {
    case n: NearestCentroid =>
      n.child == child && n.centroids.corresponds(centroids)((a, b) => a.sameElements(b))
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(child, Int.box(centroids.length))
}

object NearestCentroid {

  def compute(arr: ArrayData, centroids: Array[Array[Double]], cc: Array[Double],
      isFloat: Boolean): Long = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < centroids.length) {
      val plane = centroids(c)
      var dot = 0.0
      var i = 0
      val m = plane.length
      while (i < m) {
        val x = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
        dot += x * plane(i)
        i += 1
      }
      val d = cc(c) - 2.0 * dot
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best.toLong + 1 // 1-based, mirroring array_position
  }

  /** 1-based nearest-centroid index of a vector column. */
  def nearestCentroid(vec: Column, centroids: Array[Array[Double]]): Column =
    ExpressionBridge.column(
      NearestCentroid(ExpressionBridge.expression(vec), centroids))
}
