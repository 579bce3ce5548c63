package graft.functions.expr

import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Element-wise decimal-exact vector sum state: per element j, the
  * exact scale-10 running sum of `round_half_up(x_j, 10)` and the
  * count of rows that HAVE an element j. Ragged inputs are legal (the
  * arrays grow to the longest row seen); a null element contributes to
  * the count but not the sum (SQL sum-skips-null), exactly like the
  * posexplode formulation this replaces, where `count(lit(1))` counted
  * exploded rows and `sum` skipped null x.
  *
  * A slot's sum is `lsums(j)` unscaled scale-10 units plus `dsums(j)`:
  * the primitive long takes every element whose scale-10 value fits a
  * long (all fast-path ones) and every add that does not overflow; the
  * BigDecimal part (null until used) takes the wider values and the
  * long's value whenever an add would overflow it. `hasSum(j)` stays
  * false while no non-null element j was summed — the SQL null sum.
  */
final class VecSumBuf {
  var lsums: Array[Long] = Array.empty
  var dsums: Array[JBigDecimal] = Array.empty
  var hasSum: Array[Boolean] = Array.empty
  var counts: Array[Long] = Array.empty
  var len: Int = 0

  /** Grows the slots to at least `n`. */
  def grow(n: Int): Unit = if (n > len) {
    if (n > counts.length) {
      val cap = math.max(n, math.max(8, counts.length * 2))
      lsums = java.util.Arrays.copyOf(lsums, cap)
      dsums = java.util.Arrays.copyOf(dsums, cap)
      hasSum = java.util.Arrays.copyOf(hasSum, cap)
      counts = java.util.Arrays.copyOf(counts, cap)
    }
    len = n
  }

  /** Adds `v` unscaled scale-10 units to slot j; an add that would
    * overflow the long moves the slot's long (plus `v`) into `dsums`.
    */
  def addUnscaled(j: Int, v: Long): Unit = {
    val s = lsums(j)
    val r = s + v
    if (((s ^ r) & (v ^ r)) < 0) {
      addDec(j, JBigDecimal.valueOf(s, 10).add(JBigDecimal.valueOf(v, 10)))
      lsums(j) = 0L
    } else {
      lsums(j) = r
      hasSum(j) = true
    }
  }

  def addDec(j: Int, v: JBigDecimal): Unit = {
    dsums(j) = if (dsums(j) == null) v else dsums(j).add(v)
    hasSum(j) = true
  }

  /** Slot j's exact scale-10 sum, or null when nothing was summed. */
  def sum(j: Int): JBigDecimal =
    if (!hasSum(j)) null
    else if (dsums(j) == null) JBigDecimal.valueOf(lsums(j), 10)
    else dsums(j).add(JBigDecimal.valueOf(lsums(j), 10))
}

/** Per-group element-wise vector mean numerator/denominator as ONE
  * TypedImperativeAggregate — the shuffle-lean replacement for the
  * distributed Lloyd update's
  * `posexplode(vec) → groupBy(cell, j).agg(sum(dec), count) →
  * groupBy(cell).collect_list/array_sort` formulation, which pushed
  * n×dim exploded rows through a hash aggregate and TWO exchanges per
  * iteration. This aggregate consumes the n vector rows directly (no
  * explode) and its partials combine map-side, so one Lloyd iteration
  * is ONE exchange of (cells × dim) decimal partials. The input is an
  * array<float|double>, read as stored: floats widen exactly, per
  * element, so callers need no `cast("array<double>")` row copy.
  *
  * BIT-IDENTICAL to the exploded formulation by construction:
  *   - each element is converted exactly like Spark's
  *     `cast(x as decimal(28,10))` — java BigDecimal.valueOf (the
  *     double's `Double.toString` decimal, what Spark's
  *     Decimal.apply(Double) uses) then setScale(10, HALF_UP), with
  *     the same precision-28 overflow bound (throws, matching the
  *     ANSI default this suite runs under; an embedding would need
  *     |x| ≥ 1e18 to reach it);
  *   - that conversion runs on primitives ([[VecSumDecAgg.unscaled10]])
  *     whenever it provably agrees: with a = |x|, the exact product
  *     a·1e10 is p + e (p = the double product, e = its fma residual),
  *     and its fractional part decides the HALF_UP rounding of the
  *     10th decimal. `Double.toString` round-trips, so its decimal is
  *     within ulp(x)/2 of x, i.e. within ulp(a)·1e10/2 of a·1e10 once
  *     scaled; when the fraction is farther than 2·ulp(a)·1e10 + 1e-6
  *     from one half, the decimal and x round to the same integer.
  *     Half boundaries inside that margin, |x| ≥ 1e4, NaN and ±Inf
  *     take [[VecSumDecAgg.toDec]], the BigDecimal path itself;
  *   - sums are exact integer arithmetic in scale-10 units — a long
  *     per slot with an overflow-checked add that spills into a
  *     BigDecimal (see [[VecSumBuf]]) — associative and commutative,
  *     so any partition/merge order yields the same sum the single
  *     exploded hash-aggregate computed, checked against the
  *     Sum(decimal(28,10)) result bound of 38 digits at eval;
  *   - the mean's division and round(…, 9) are NOT done here: the
  *     caller applies Spark's own `round(sum.cast(double) / count, 9)`
  *     expressions element-wise on the emitted struct, so the final
  *     doubles go through the identical Cast/Divide/Round code paths
  *     the oracle replays.
  *
  * Result: struct<sums: array<decimal(38,10)>, counts: array<bigint>>
  * with one slot per element position seen in the group (ragged rows
  * keep per-position counts, like per-(cell, j) groups did).
  */
case class VecSumDecAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[VecSumBuf] {

  override def children: Seq[Expression] = Seq(child)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<float|double> input, got ${t.catalogString}")
  }
  override def nullable: Boolean = false
  override def dataType: DataType = StructType(Seq(
    StructField("sums", ArrayType(DecimalType(38, 10), containsNull = true),
      nullable = false),
    StructField("counts", ArrayType(LongType, containsNull = false),
      nullable = false)))

  private lazy val elemIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def createAggregationBuffer(): VecSumBuf = new VecSumBuf

  override def update(buffer: VecSumBuf, input: InternalRow): VecSumBuf = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[ArrayData]
      val n = arr.numElements()
      buffer.grow(n)
      val counts = buffer.counts
      val isFloat = elemIsFloat
      var j = 0
      while (j < n) {
        counts(j) += 1L
        if (!arr.isNullAt(j)) {
          val x = if (isFloat) arr.getFloat(j).toDouble else arr.getDouble(j)
          val u = VecSumDecAgg.unscaled10(x)
          if (u != VecSumDecAgg.Slow) buffer.addUnscaled(j, u)
          else {
            val d = VecSumDecAgg.toDec(x)
            val du = d.unscaledValue()
            if (du.bitLength < 64) buffer.addUnscaled(j, du.longValue)
            else buffer.addDec(j, d)
          }
        }
        j += 1
      }
    }
    buffer
  }

  override def merge(buffer: VecSumBuf, other: VecSumBuf): VecSumBuf = {
    buffer.grow(other.len)
    var j = 0
    while (j < other.len) {
      buffer.counts(j) += other.counts(j)
      if (other.hasSum(j)) {
        buffer.addUnscaled(j, other.lsums(j))
        if (other.dsums(j) != null) buffer.addDec(j, other.dsums(j))
      }
      j += 1
    }
    buffer
  }

  override def eval(buffer: VecSumBuf): Any = {
    val sums = new Array[Any](buffer.len)
    val counts = new Array[Any](buffer.len)
    var j = 0
    while (j < buffer.len) {
      val s = buffer.sum(j)
      if (s != null) {
        // the Sum(decimal(28,10)) result type is decimal(38,10); its
        // overflow check throws under ANSI exactly like this
        if (s.precision > 38) throw new ArithmeticException(
          s"vec_sum_dec: element $j sum overflows DECIMAL(38,10)")
        sums(j) = org.apache.spark.sql.types.Decimal(s, 38, 10)
      }
      counts(j) = buffer.counts(j)
      j += 1
    }
    new GenericInternalRow(Array[Any](
      new GenericArrayData(sums), new GenericArrayData(counts)))
  }

  /** Per slot: count, then a flag byte (bit 0: has a sum, bit 1: has
    * a BigDecimal part), the long part if summed, and the BigDecimal
    * part's unscaled bytes if present.
    */
  override def serialize(buffer: VecSumBuf): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buffer.len)
    var j = 0
    while (j < buffer.len) {
      out.writeLong(buffer.counts(j))
      val d = buffer.dsums(j)
      out.writeByte((if (buffer.hasSum(j)) 1 else 0) | (if (d != null) 2 else 0))
      if (buffer.hasSum(j)) out.writeLong(buffer.lsums(j))
      if (d != null) {
        val bytes = d.unscaledValue().toByteArray
        out.writeInt(bytes.length)
        out.write(bytes)
      }
      j += 1
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): VecSumBuf = {
    val in = new DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val buf = new VecSumBuf
    val n = in.readInt()
    buf.grow(n)
    var j = 0
    while (j < n) {
      buf.counts(j) = in.readLong()
      val flags = in.readByte()
      if ((flags & 1) != 0) {
        buf.hasSum(j) = true
        buf.lsums(j) = in.readLong()
      }
      if ((flags & 2) != 0) {
        val b = new Array[Byte](in.readInt())
        in.readFully(b)
        buf.dsums(j) = new JBigDecimal(new java.math.BigInteger(b), 10)
      }
      j += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): VecSumDecAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VecSumDecAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): VecSumDecAgg =
    copy(child = newChildren(0))
  override def prettyName: String = "vec_sum_dec"
}

object VecSumDecAgg {
  /** [[unscaled10]]'s "no fast value" result (fast values are below
    * 1e14 in magnitude).
    */
  final val Slow: Long = Long.MinValue

  /** `toDec(x).unscaledValue` as a long, computed on primitives, or
    * [[Slow]] when the fast path cannot prove it (see the class
    * scaladoc of [[VecSumDecAgg]]): |x| ≥ 1e4, NaN, ±Inf, or a scaled
    * fraction within 2·ulp(|x|)·1e10 + 1e-6 of one half.
    */
  def unscaled10(x: Double): Long = {
    val a = Math.abs(x)
    if (!(a < 1e4)) Slow
    else {
      val p = a * 1e10
      val f = Math.floor(p)
      val frac = (p - f) + Math.fma(a, 1e10, -p)
      if (Math.abs(frac - 0.5) <= 2 * Math.ulp(a) * 1e10 + 1e-6) Slow
      else {
        val r = f.toLong + (if (frac > 0.5) 1L else 0L)
        if (x < 0) -r else r
      }
    }
  }

  /** Exactly Spark's `cast(double as decimal(28,10))`: shortest decimal
    * representation of the double, HALF_UP to scale 10, precision
    * bound 28 (throws on overflow — the ANSI behavior; unreachable for
    * |x| < 1e18).
    */
  def toDec(x: Double): JBigDecimal = {
    val bd = JBigDecimal.valueOf(x).setScale(10, RoundingMode.HALF_UP)
    if (bd.precision > 28) throw new ArithmeticException(
      s"vec_sum_dec: $x overflows DECIMAL(28,10)")
    bd
  }
}
