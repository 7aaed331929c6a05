package graft.operators

import org.apache.spark.sql.Column

/**
 * Z-order (Morton) curve utilities for multi-dimensional data skipping
 * — the layout trick behind Delta/Iceberg `OPTIMIZE ZORDER BY`: bit-
 * interleave two dimensions into one key whose ranges approximate 2-D
 * boxes, then range-partition/sort by that key so a box query touches
 * only the partitions (or row groups) whose z-interval overlaps the
 * box, instead of scanning everything. The reference engine is
 * strictly one-dimensional (a single serialized key, reference
 * KeySerializer.scala:28-31); z-ordering composes two dimensions into
 * that same machinery.
 *
 * The interleave is a native codegen'd expression (one static call —
 * integer shift/mask arithmetic, replicable in a SQL oracle
 * bit-for-bit); the box cover is computed driver-side by quadrant
 * decomposition — a bounded number of z-intervals whose union is a
 * superset of the box, with an exact residual filter on the
 * coordinates restoring exact semantics.
 */
object ZOrder {

  /** Morton interleave of two non-negative long columns (x gets the
    * even bits, y the odd): 2·bits result bits. A native expression
    * whose codegen is ONE static call into [[interleave]] — the
    * equivalent shift/mask Column chain (2·bits terms) inflates a
    * fused hashAgg+project stage past janino's 64 KB method limit and
    * silently drops the whole stage to interpreted eval. SQL oracles
    * replay the same arithmetic independently, bit-for-bit (integer
    * ops, nothing to round). */
  def zValue(x: Column, y: Column, bits: Int = 21): Column = {
    import org.apache.spark.sql.graftbridge.ExpressionBridge
    ExpressionBridge.column(MortonInterleave(
      ExpressionBridge.expression(x.cast("long")),
      ExpressionBridge.expression(y.cast("long")), bits))
  }

  /** Driver-side twin of [[zValue]] (used by the cover computation and
    * property tests). */
  def interleave(x: Long, y: Long, bits: Int = 21): Long = {
    var z = 0L
    var i = 0
    while (i < bits) {
      z |= ((x >> i) & 1L) << (2 * i)
      z |= ((y >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    z
  }

  /**
   * Z-interval cover of the box [x1,x2]×[y1,y2]: a sorted, disjoint
   * set of intervals whose union contains every z-value in the box
   * (quadrant decomposition: a quad fully inside the box emits its
   * contiguous z-interval; a boundary quad splits into 4 children down
   * to a stop level, then emits its whole interval — a SUPERSET,
   * tightened by the exact residual filter).
   *
   * The stop level is `splitLevels` below the box's min-side scale —
   * above that scale at most ~4 quads per level touch the box, so
   * descent is cheap and budgeting from the TOP of the key space would
   * just burn the budget before reaching box granularity. More splits
   * = tighter cover = more skipping but more range scans; the interval
   * count is additionally capped at ~256 by re-covering one level
   * coarser when the boundary fragments too much.
   */
  def zCover(x1: Long, x2: Long, y1: Long, y2: Long, bits: Int = 21,
      splitLevels: Int = 6): Seq[(Long, Long)] = {
    require(x1 <= x2 && y1 <= y2 && x1 >= 0 && y1 >= 0)
    // coordinates beyond 2^bits TRUNCATE in the interleave — an
    // out-of-domain box would silently exclude in-box rows, so refuse
    require(x2 < (1L << bits) && y2 < (1L << bits),
      s"box exceeds the $bits-bit coordinate domain: ($x2, $y2)")
    val minSide = math.max(1L, math.min(x2 - x1 + 1, y2 - y1 + 1))
    val boxLevel = 63 - java.lang.Long.numberOfLeadingZeros(minSide) // floor log2
    def attempt(stopLevel: Int): Seq[(Long, Long)] = {
      val acc = Seq.newBuilder[(Long, Long)]
      // quad (xp, yp, level): x in [xp<<level, (xp+1)<<level), same for y
      def rec(xp: Long, yp: Long, level: Int): Unit = {
        val size = 1L << level
        val qx1 = xp << level; val qx2 = qx1 + size - 1
        val qy1 = yp << level; val qy2 = qy1 + size - 1
        if (qx2 < x1 || qx1 > x2 || qy2 < y1 || qy1 > y2) return // disjoint
        val contained = qx1 >= x1 && qx2 <= x2 && qy1 >= y1 && qy2 <= y2
        if (contained || level <= stopLevel) {
          // an aligned quad occupies ONE contiguous z-interval
          val base = interleave(xp, yp, bits) << (2 * level)
          acc += ((base, base + (1L << (2 * level)) - 1))
        } else {
          rec(xp * 2, yp * 2, level - 1)
          rec(xp * 2 + 1, yp * 2, level - 1)
          rec(xp * 2, yp * 2 + 1, level - 1)
          rec(xp * 2 + 1, yp * 2 + 1, level - 1)
        }
      }
      rec(0L, 0L, bits)
      // merge adjacent/overlapping intervals (children emit in z order
      // only within a quad, so sort first)
      val sorted = acc.result().sortBy(_._1)
      val merged = collection.mutable.ArrayBuffer.empty[(Long, Long)]
      sorted.foreach { case (lo, hi) =>
        merged.lastOption match {
          case Some((plo, phi)) if lo <= phi + 1 =>
            merged(merged.size - 1) = (plo, math.max(phi, hi))
          case _ => merged += ((lo, hi))
        }
      }
      merged.toSeq
    }
    // first attempt bounded from BOTH sides: boundary quads at stop
    // level s number ~2(w+h)/2^s, so seed s to keep that under ~256 —
    // a 1 x 2^20 sliver must not descend to millions of unit cells
    // before the cap loop reins it in
    val perim = (x2 - x1 + 1) + (y2 - y1 + 1)
    val sizeFloor = 63 - java.lang.Long.numberOfLeadingZeros(math.max(1L, perim / 128))
    var stop = math.max(math.max(0, boxLevel - splitLevels), sizeFloor)
    var cover = attempt(stop)
    while (cover.size > 256 && stop < bits) {
      stop += 1
      cover = attempt(stop)
    }
    cover
  }

  /** Predicate: z inside some cover interval AND exactly inside the
    * box. The z-interval disjunction is what a z-sorted layout turns
    * into skipping (partition pruning / row-group min-max); the
    * residual comparisons keep the semantics exact. */
  def boxFilter(z: Column, x: Column, y: Column,
      x1: Long, x2: Long, y1: Long, y2: Long, bits: Int = 21,
      splitLevels: Int = 6): Column = {
    val cover = zCover(x1, x2, y1, y2, bits, splitLevels)
    val inCover = cover.map { case (lo, hi) => z.between(lo, hi) }.reduce(_ || _)
    inCover && x.between(x1, x2) && y.between(y1, y2)
  }
}

/** Native Morton interleave — see [[ZOrder.zValue]] for why this is an
  * expression and not a shift/mask Column chain. */
case class MortonInterleave(
    left: org.apache.spark.sql.catalyst.expressions.Expression,
    right: org.apache.spark.sql.catalyst.expressions.Expression,
    bits: Int)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  import org.apache.spark.sql.catalyst.expressions.Expression
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  import org.apache.spark.sql.types.{DataType, LongType}

  require(bits >= 1 && bits <= 31, s"bits must be in [1, 31], got $bits")

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"morton_interleave requires (bigint, bigint), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }

  override def nullSafeEval(x: Any, y: Any): Any =
    ZOrder.interleave(x.asInstanceOf[Long], y.asInstanceOf[Long], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y) =>
      s"graft.operators.ZOrder.interleave($x, $y, $bits)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MortonInterleave =
    copy(left = newLeft, right = newRight)
}
