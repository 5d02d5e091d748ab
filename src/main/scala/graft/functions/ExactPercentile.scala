package graft.functions

import java.nio.ByteBuffer
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._

/** Value counts of one exact-percentile group: an open-addressing map from
  * a value's sort key to its count, in two primitive arrays (a count of 0
  * marks a free slot). A sort key is a long whose signed order is the SQL
  * order of the values: the value itself for integral types, order-
  * preserving bits for floating types ([[PercentileCounts.key]]).
  *
  * 16 bytes per slot and no object per value. The capacity is a power of
  * two grown at Spark's `OpenHashMap` load factor (0.7) from 16 slots
  * (Spark's starts at 64), so the map never holds more slots than Spark's
  * for the same number of distinct values, and each of Spark's slots
  * costs at least 12 bytes plus a 16-byte boxed value per entry: after a
  * growth (load 0.35) this map takes 46 bytes per distinct value against
  * Spark's 50, at load 0.7 23 against 33 (compressed references).
  */
final class PercentileCounts {
  private var keys = new Array[Long](16)
  private var counts = new Array[Long](16)
  private var mask = keys.length - 1
  var size = 0

  private def slot(key: Long): Int = {
    val h = key * 0x9E3779B97F4A7C15L
    var i = (h ^ (h >>> 32)).toInt & mask
    while (counts(i) != 0 && keys(i) != key) i = (i + 1) & mask
    i
  }

  def add(key: Long, count: Long): Unit = {
    val i = slot(key)
    if (counts(i) == 0) {
      keys(i) = key
      size += 1
      counts(i) = count
      if (size > keys.length * 0.7) grow()
    } else counts(i) += count
  }

  def count(key: Long): Long = counts(slot(key))

  private def grow(): Unit = {
    val (oldKeys, oldCounts) = (keys, counts)
    keys = new Array[Long](oldKeys.length * 2)
    counts = new Array[Long](oldKeys.length * 2)
    mask = keys.length - 1
    size = 0
    foreachIn(oldKeys, oldCounts)(add)
  }

  private def foreachIn(ks: Array[Long], cs: Array[Long])(f: (Long, Long) => Unit): Unit = {
    var i = 0
    while (i < ks.length) { if (cs(i) != 0) f(ks(i), cs(i)); i += 1 }
  }

  def foreach(f: (Long, Long) => Unit): Unit = foreachIn(keys, counts)(f)

  /** The keys in ascending order. */
  def sortedKeys(): Array[Long] = {
    val out = new Array[Long](size)
    var n = 0
    foreach { (k, _) => out(n) = k; n += 1 }
    java.util.Arrays.sort(out)
    out
  }
}

object PercentileCounts {

  /** The sort key of a non-null value of a byte, short, int, long, float
    * or double column. Floating keys flip the non-sign bits of negative
    * values, so signed long order is `Double.compare` order: NaN (one
    * canonical bit pattern, as `java.lang.Double.equals` has it) above
    * +Inf, and -0.0 just below 0.0 (Spark's ordering ties the two; they
    * stay distinct keys, as in Spark's map).
    */
  def key(v: Any, t: DataType): Long = t match {
    case DoubleType => flip(java.lang.Double.doubleToLongBits(v.asInstanceOf[Double]))
    case FloatType => flip(java.lang.Float.floatToIntBits(v.asInstanceOf[Float]))
    case _ => v.asInstanceOf[Number].longValue
  }

  /** The value of a sort key as a double (Spark's `toDoubleValue`). */
  def value(key: Long, t: DataType): Double = t match {
    case DoubleType => java.lang.Double.longBitsToDouble(flip(key))
    case FloatType => java.lang.Float.intBitsToFloat(flip(key.toInt)).toDouble
    case _ => key.toDouble
  }

  private def flip(bits: Long): Long = bits ^ ((bits >> 63) & Long.MaxValue)
  private def flip(bits: Int): Int = bits ^ ((bits >> 31) & Int.MaxValue)

  val SupportedTypes: Set[DataType] =
    Set(ByteType, ShortType, IntegerType, LongType, FloatType, DoubleType)
}

/** Exact percentiles of a byte, short, int, long, float or double column,
  * equal to Spark's `percentile` with frequency 1 (`Percentile`), one value
  * per entry of `percentages`, from one [[PercentileCounts]] buffer.
  *
  * The answer is Spark's `PercentileBase` arithmetic: the distinct values
  * in SQL order (descending with `reverse`), their running counts, and for
  * each percentage `p` the position `(n - 1) * p` located by binary search
  * on the running counts, interpolated linearly between the values at its
  * floor and ceiling unless those are equal. Equal means the same value
  * for integral types and numerically equal (so -0.0 equals 0.0) for
  * floating ones, as Spark's boxed comparison has it. Null for an empty or
  * all-null group. Spark's boxed map, per-entry serialization and boxed
  * sort are replaced by primitive arrays, packed longs and one primitive
  * sort shared by every percentage.
  */
case class ExactPercentile(
    child: Expression,
    percentages: Seq[Double],
    reverse: Boolean = false,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[PercentileCounts] with UnaryLike[Expression] {

  require(percentages.nonEmpty, "at least one percentage")

  override def prettyName: String = "graft_exact_percentile"
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  private def valueType: DataType = child.dataType

  override def createAggregationBuffer(): PercentileCounts = new PercentileCounts()

  override def update(buf: PercentileCounts, input: InternalRow): PercentileCounts = {
    val v = child.eval(input)
    if (v != null) buf.add(PercentileCounts.key(v, valueType), 1L)
    buf
  }

  override def merge(buf: PercentileCounts, other: PercentileCounts): PercentileCounts = {
    val (into, from) = if (buf.size >= other.size) (buf, other) else (other, buf)
    from.foreach(into.add)
    into
  }

  override def eval(buf: PercentileCounts): Any = {
    if (buf.size == 0) return null
    val keys = buf.sortedKeys()
    if (reverse) reverseInPlace(keys)
    val running = new Array[Long](keys.length)
    var total = 0L
    var i = 0
    while (i < keys.length) { total += buf.count(keys(i)); running(i) = total; i += 1 }
    val maxPosition = total - 1
    val t = valueType
    val floating = t == DoubleType || t == FloatType
    UnsafeArrayData.fromPrimitiveArray(percentages.map { p =>
      val position = maxPosition * p
      val lower = position.floor.toLong
      val higher = position.ceil.toLong
      val lowerIndex = search(running, lower + 1)
      val lowerValue = PercentileCounts.value(keys(lowerIndex), t)
      if (higher == lower) lowerValue
      else {
        val higherIndex = search(running, higher + 1)
        val higherValue = PercentileCounts.value(keys(higherIndex), t)
        if (higherIndex == lowerIndex || (floating && higherValue == lowerValue)) lowerValue
        else (higher - position) * lowerValue + (position - lower) * higherValue
      }
    }.toArray)
  }

  private def search(running: Array[Long], v: Long): Int = {
    val ix = java.util.Arrays.binarySearch(running, v)
    if (ix < 0) -(ix + 1) else ix
  }

  private def reverseInPlace(a: Array[Long]): Unit = {
    var (i, j) = (0, a.length - 1)
    while (i < j) { val x = a(i); a(i) = a(j); a(j) = x; i += 1; j -= 1 }
  }

  /** `size`, then (key, count) pairs, as longs. */
  override def serialize(buf: PercentileCounts): Array[Byte] = {
    val out = ByteBuffer.allocate(8 + 16 * buf.size)
    out.putLong(buf.size)
    buf.foreach { (k, c) => out.putLong(k); out.putLong(c) }
    out.array()
  }

  override def deserialize(bytes: Array[Byte]): PercentileCounts = {
    val in = ByteBuffer.wrap(bytes)
    val n = in.getLong.toInt
    val buf = new PercentileCounts()
    (0 until n).foreach(_ => buf.add(in.getLong, in.getLong))
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): ExactPercentile =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): ExactPercentile =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildInternal(newChild: Expression): ExactPercentile =
    copy(child = newChild)
}
