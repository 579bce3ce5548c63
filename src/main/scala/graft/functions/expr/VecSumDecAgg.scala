package graft.functions.expr

import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Element-wise decimal-exact vector sum state: per element j, the
  * exact DECIMAL(·,10) running sum of `round_half_up(x_j, 10)` and the
  * count of rows that HAVE an element j. Ragged inputs are legal (the
  * arrays grow to the longest row seen); a null element contributes to
  * the count but not the sum (SQL sum-skips-null), exactly like the
  * posexplode formulation this replaces, where `count(lit(1))` counted
  * exploded rows and `sum` skipped null x.
  */
final class VecSumBuf {
  var sums: Array[JBigDecimal] = Array.empty
  var counts: Array[Long] = Array.empty
  var len: Int = 0

  def ensure(n: Int): Unit = if (n > sums.length) {
    val cap = math.max(n, math.max(8, sums.length * 2))
    sums = java.util.Arrays.copyOf(sums, cap)
    counts = java.util.Arrays.copyOf(counts, cap)
  }

  def addElem(j: Int, v: JBigDecimal): Unit = {
    if (j >= len) { ensure(j + 1); len = j + 1 }
    counts(j) += 1L
    if (v != null) sums(j) = if (sums(j) == null) v else sums(j).add(v)
  }
}

/** Per-group element-wise vector mean numerator/denominator as ONE
  * TypedImperativeAggregate — the shuffle-lean replacement for the
  * distributed Lloyd update's
  * `posexplode(vec) → groupBy(cell, j).agg(sum(dec), count) →
  * groupBy(cell).collect_list/array_sort` formulation, which pushed
  * n×dim exploded rows through a hash aggregate and TWO exchanges per
  * iteration. This aggregate consumes the n vector rows directly (no
  * explode) and its partials combine map-side, so one Lloyd iteration
  * is ONE exchange of (cells × dim) decimal partials.
  *
  * BIT-IDENTICAL to the exploded formulation by construction:
  *   - each element is converted exactly like Spark's
  *     `cast(x as decimal(28,10))` — java BigDecimal.valueOf (the
  *     double's shortest decimal representation, what Spark's
  *     Decimal.apply(Double) uses) then setScale(10, HALF_UP), with
  *     the same precision-28 overflow bound (throws, matching the
  *     ANSI default this suite runs under; an embedding would need
  *     |x| ≥ 1e18 to reach it);
  *   - decimal addition is exact integer arithmetic — associative and
  *     commutative — so any partition/merge order yields the same sum
  *     the single exploded hash-aggregate computed, checked against
  *     the Sum(decimal(28,10)) result bound of 38 digits at eval;
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
      val isFloat = elemIsFloat
      var j = 0
      while (j < n) {
        if (arr.isNullAt(j)) buffer.addElem(j, null)
        else {
          val x = if (isFloat) arr.getFloat(j).toDouble else arr.getDouble(j)
          buffer.addElem(j, VecSumDecAgg.toDec(x))
        }
        j += 1
      }
    }
    buffer
  }

  override def merge(buffer: VecSumBuf, other: VecSumBuf): VecSumBuf = {
    var j = 0
    while (j < other.len) {
      if (other.counts(j) > 0 || other.sums(j) != null) {
        if (j >= buffer.len) { buffer.ensure(j + 1); buffer.len = j + 1 }
        buffer.counts(j) += other.counts(j)
        if (other.sums(j) != null)
          buffer.sums(j) =
            if (buffer.sums(j) == null) other.sums(j)
            else buffer.sums(j).add(other.sums(j))
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
      val s = buffer.sums(j)
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

  override def serialize(buffer: VecSumBuf): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buffer.len)
    var j = 0
    while (j < buffer.len) {
      out.writeLong(buffer.counts(j))
      val s = buffer.sums(j)
      if (s == null) out.writeInt(-1)
      else {
        val bytes = s.unscaledValue().toByteArray
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
    buf.ensure(n)
    buf.len = n
    var j = 0
    while (j < n) {
      buf.counts(j) = in.readLong()
      val blen = in.readInt()
      if (blen >= 0) {
        val b = new Array[Byte](blen)
        in.readFully(b)
        buf.sums(j) = new JBigDecimal(new java.math.BigInteger(b), 10)
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
