package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.{Column, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.FileBloom
import graft.sources.TxStats
import graft.sources.TxStats.{ColStats, FileStats}

/** Scan-based zone maps: the reference the in-write producer
  * (`TxStats.WriteStats`) is checked against. It reads the staged files
  * back — one column-pruned scan grouped by `input_file_name()` — and
  * computes every stat with Spark's own aggregates: `count`, `min`/`max`
  * over the normalized column (strings over their first cap + 1 code
  * points), and a mergeable Bloom aggregate.
  */
object ScanStats {

  private def normType(dt: DataType): Option[(String, Column => Column)] = dt match {
    case ByteType | ShortType | IntegerType | LongType =>
      Some(("l", _.cast("long")))
    case BooleanType => Some(("l", _.cast("long")))
    case DateType => Some(("l", c => unix_date(c).cast("long")))
    case TimestampType => Some(("l", c => unix_micros(c)))
    case FloatType | DoubleType => Some(("d", _.cast("double")))
    case StringType => Some(("s", identity))
    case _ => None
  }

  private def negZero(d: Double): Double = if (d == 0.0) 0.0 else d

  /** Per-file stats of `names` (relative to `dir`) over `schema`. */
  def collect(spark: SparkSession, dir: String, names: Seq[String],
      schema: StructType, bloomFor: Seq[String] = Nil): Map[String, FileStats] = {
    if (names.isEmpty) return Map.empty
    val cap = TxStats.StringPrefixCap
    val fields = schema.fields.iterator
      .flatMap(f => normType(f.dataType).map { case (tag, fn) => (f.name, tag, fn) })
      .take(TxStats.MaxIndexedCols).toSeq
    val bloomFields = bloomFor.map(n => fields.find(_._1 == n).get)
    val numWords = math.max(1, (FileBloom.DefaultBits + 63) / 64)
    val df = spark.read.schema(schema).parquet(names.map(n => s"$dir/$n"): _*)
    val aggs = Seq(count(lit(1)).as("__rows")) ++ fields.zipWithIndex.flatMap {
      case ((name, tag, fn), i) =>
        val c = fn(col(name))
        val (lo, hi) =
          if (tag == "s") (min(substring(c, 1, cap + 1)), max(substring(c, 1, cap + 1)))
          else (min(c), max(c))
        Seq(lo.as(s"__lo$i"), hi.as(s"__hi$i"), count(c).as(s"__nn$i"))
    } ++ bloomFields.zipWithIndex.map { case ((name, _, fn), i) =>
      GraftSqlBridge.column(BloomAgg(GraftSqlBridge.expression(fn(col(name))),
        numWords, FileBloom.DefaultK).toAggregateExpression()).as(s"__bf$i")
    }
    val rows = df.groupBy(input_file_name().as("__file"))
      .agg(aggs.head, aggs.tail: _*).collect()
    // key by the caller's (possibly partition-relative) names
    val byTail = names.map(n => n.split('/').last -> n).toMap
    val collected = rows.iterator.map { r =>
      val fname = byTail(r.getString(r.fieldIndex("__file")).split('/').last)
      val nRows = r.getLong(r.fieldIndex("__rows"))
      val cols = fields.zipWithIndex.map { case ((name, tag, _), i) =>
        val rawLo = Option(r.get(r.fieldIndex(s"__lo$i")))
        val rawHi = Option(r.get(r.fieldIndex(s"__hi$i")))
        val nn = r.getLong(r.fieldIndex(s"__nn$i"))
        val (lo, hi) = tag match {
          case "s" =>
            // truncate lo, never splitting a surrogate pair; drop a long hi
            (rawLo.map { v =>
              val s = v.asInstanceOf[String]
              s.take(if (s.length > cap && Character.isHighSurrogate(s.charAt(cap - 1)))
                cap - 1 else cap)
            }, rawHi.map(_.asInstanceOf[String]).filter(_.length <= cap))
          case "d" =>
            (rawLo.map(v => negZero(v.asInstanceOf[Double])),
              rawHi.map(v => negZero(v.asInstanceOf[Double])))
          case _ =>
            (rawLo.map(_.asInstanceOf[Long]), rawHi.map(_.asInstanceOf[Long]))
        }
        name -> ColStats(tag, nRows - nn, lo, hi)
      }.toMap
      val blooms = bloomFields.zipWithIndex.map { case ((name, _, _), i) =>
        val bb = java.nio.ByteBuffer.wrap(r.getAs[Array[Byte]](r.fieldIndex(s"__bf$i")))
        name -> FileBloom.Bloom(FileBloom.DefaultK, Array.fill(numWords)(bb.getLong()))
      }.toMap
      fname -> FileStats(nRows, cols, blooms)
    }.toMap
    // an empty file produces no group: rows = 0 stats
    collected ++ names.filterNot(collected.contains).map { n =>
      n -> FileStats(0, fields.map { case (name, tag, _) =>
        name -> ColStats(tag, 0, None, None)
      }.toMap)
    }
  }
}

/** Mergeable Bloom-filter aggregate over a long or string key column;
  * eval returns the filter's words as big-endian binary. Partials merge
  * by OR.
  */
case class BloomAgg(
    child: Expression,
    numWords: Int,
    k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  override def prettyName: String = "scan_file_bloom"
  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType | StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"expects a long or string key, got $other")
  }

  override def createAggregationBuffer(): Array[Long] = new Array[Long](numWords)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val key = child.dataType match {
        case LongType => v.asInstanceOf[Long].toString
        case _ => v.asInstanceOf[UTF8String].toString
      }
      FileBloom.set(buf, key, k)
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buf.length) { buf(i) |= other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = {
    val bb = java.nio.ByteBuffer.allocate(buf.length * 8)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.length)
    buf.foreach(out.writeLong)
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = new Array[Long](in.readInt())
    var i = 0
    while (i < buf.length) { buf(i) = in.readLong(); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))
}
