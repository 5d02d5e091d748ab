package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{WriteJobStatsTracker, WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.FileBloom

/** Per-file column statistics (zone maps) for [[TxTable]] — the
  * data-skipping layer the reference's Delta tables get from
  * `OPTIMIZE` + stats-based file pruning (the reference leans on it via
  * `spark.sql("OPTIMIZE ...")`, `gps-analytics/src/pipeline/
  * tz_offset.scala:32-70`), rebuilt on the published design (Delta's
  * protocol paper, Armbrust et al., VLDB 2020: per-AddFile min/max/
  * nullCount stats evaluated against query predicates before any data
  * is read).
  *
  * At 100 TB this is the single biggest scan lever a table format owns:
  * a predicate that touches 1% of the key space should read ~1% of the
  * files, and the decision must be made from O(files) driver-side
  * metadata, never from data IO.
  *
  * Design rules, in order:
  *  - **Advisory, fail-open.** Stats only ever REMOVE files from a
  *    scan: every TxTable read plans through [[GraftFileIndex]], which
  *    prunes in `listFiles`, and Spark applies the full predicate to
  *    whatever survives. A file with no stats (older commit, crashed
  *    sidecar write, unsupported column type) is simply read. Wrong
  *    results are therefore impossible by construction; stats quality
  *    only moves performance.
  *  - **Sound under truncation.** String bounds are capped at
  *    [[StringPrefixCap]] chars: the stored lower bound is a prefix of
  *    the true minimum (a prefix never exceeds the string), and an
  *    upper bound that WOULD need truncation is dropped entirely rather
  *    than stored loosely — `hi = None` means "unbounded above", which
  *    can never mis-prune. This is the safe version of Delta's
  *    tightBounds handling, chosen over last-char increment games
  *    (which are unsound across UTF-8/UTF-16 order divergence at
  *    supplementary code points).
  *  - **Compare in the query's coerced space.** The predicate is
  *    analyzed against the snapshot schema first, so type coercion is
  *    Spark's own (an int column probed with a double literal becomes a
  *    double comparison). Interval tests then run in that space —
  *    long→double / long→float conversions are monotone, so widening
  *    the stored bounds through them keeps pruning sound even where the
  *    conversions are lossy.
  *  - **NaN and -0.0 follow Spark's total order** (NaN greatest,
  *    -0.0 == 0.0): bounds are recorded in the order Spark's min/max
  *    aggregates use, -0.0 is folded to 0.0, and they are compared with
  *    `Double.compare`/`Float.compare`.
  *
  * Stats are computed while each file is written ([[WriteStats]], a
  * tracker on the staging write's tasks — Delta's shape), so a commit
  * costs no read-back of the files it just wrote.
  */
object TxStats {

  /** Stats are kept for the first N eligible columns (Delta's
    * `dataSkippingNumIndexedCols` default) — wide tables should not pay
    * an unbounded stats bill for columns nobody filters on.
    */
  val MaxIndexedCols = 32

  /** String bounds longer than this are truncated (lo) or dropped (hi). */
  val StringPrefixCap = 64

  /** One column's zone-map entry. `lo`/`hi` hold the normalized value
    * (Long for integral/date/timestamp/boolean, Double for float/double,
    * String for strings); `None` means unknown/unbounded on that side.
    */
  case class ColStats(typ: String, nulls: Long, lo: Option[Any], hi: Option[Any])

  /** One file's zone map: row count, per-column entries, and (opt-in)
    * per-column Bloom filters for point-lookup skipping.
    */
  case class FileStats(rows: Long, cols: Map[String, ColStats],
      blooms: Map[String, FileBloom.Bloom] = Map.empty)

  /** Zone-map tag of an eligible column type: "l" stores a Long
    * (integral, boolean as 0/1, date as epoch days, timestamp as epoch
    * micros — never a seconds cast, which would floor the max), "d" a
    * Double (float/double), "s" a String.
    */
  private def tagOf(dt: DataType): Option[String] = dt match {
    case ByteType | ShortType | IntegerType | LongType | BooleanType |
         DateType | TimestampType => Some("l")
    case FloatType | DoubleType => Some("d")
    case StringType => Some("s")
    case _ => None
  }

  private def negZero(d: Double): Double = if (d == 0.0) 0.0 else d

  /** Spark's SQL order on doubles (NaN greatest, -0.0 == 0.0), the order
    * its min/max aggregates use.
    */
  private def cmpD(x: Double, y: Double): Int =
    if (x == y) 0 else java.lang.Double.compare(x, y)

  /** Stored string bounds from a file's min and max: the lower bound is
    * truncated to [[StringPrefixCap]] chars — one fewer when the cut
    * would split a surrogate pair, so the bound stays valid UTF-16 and
    * still a prefix of the minimum — and an upper bound longer than the
    * cap is dropped. A truncated lower bound is a strict prefix of the
    * minimum, so it never equals a stored upper bound: equality tests
    * that need lo == hi == v stay sound at either cut.
    */
  private[sources] def strBounds(lo: String, hi: String): (Option[String], Option[String]) = {
    val cut = if (lo.length > StringPrefixCap &&
      Character.isHighSurrogate(lo.charAt(StringPrefixCap - 1))) StringPrefixCap - 1
      else StringPrefixCap
    (Some(lo.take(cut)), Some(hi).filter(_.length <= StringPrefixCap))
  }

  /** A write's indexed column: name, tag, ordinal in the written row, type. */
  private case class Indexed(name: String, tag: String, ord: Int, dt: DataType)

  /** A task's file stats, keyed by staged file path relative to the output. */
  private case class StagedStats(files: Map[String, FileStats]) extends WriteTaskStats

  /** In-write stats: the producer of every write's zone maps and Bloom
    * filters. Attached to the staging write's `FileFormatWriter`, its task
    * instances see each row as it is written and fold it into the open
    * file's row count, per-column null count and min/max, and the
    * opt-in `bloomFor` filters; committed tasks report their files and
    * [[result]] keys them by path relative to the staging directory
    * (`partitionDepth` hive directories plus the file name). No read-back
    * and no extra Spark job.
    *
    * `dataSchema` is the written row's schema — partition columns are not
    * in the data files, and their stats come from the path at read time.
    * The first [[MaxIndexedCols]] eligible columns are indexed. Bounds are
    * exactly what Spark's min/max would return over the normalized column:
    * strings compare as UTF-8 bytes over their first cap + 1 code points
    * (Spark's `substring`), doubles in Spark's SQL order with -0.0 folded
    * to 0.0 afterwards, then [[strBounds]] applies the cap. A file with no
    * rows gets `rows = 0` stats (provably prunable) and no Bloom.
    *
    * Bloom keys canonicalize exactly as the probe in [[canMatch]] expects:
    * the normalized long's decimal form, or the raw string; float/double
    * columns are refused (no stable canonical form across NaN/engines).
    */
  private[sources] final class WriteStats(dataSchema: StructType,
      bloomFor: Seq[String], partitionDepth: Int) extends WriteJobStatsTracker {

    private val cols: Array[Indexed] = dataSchema.fields.iterator.zipWithIndex
      .flatMap { case (f, i) => tagOf(f.dataType).map(Indexed(f.name, _, i, f.dataType)) }
      .take(MaxIndexedCols).toArray

    private val bloomCols: Array[Indexed] = bloomFor.map { n =>
      val ix = cols.find(_.name == n).getOrElse(throw new IllegalArgumentException(
        s"bloom column $n is not a stats-eligible column of the write schema"))
      require(ix.tag != "d", s"bloom column $n has a floating type — " +
        "equality canonicalization is not stable; use an integral/string key")
      ix
    }.toArray

    @transient private var collected = Map.empty[String, FileStats]

    /** Stats of every committed staged file, by path relative to the output. */
    def result: Map[String, FileStats] = collected

    override def newTaskInstance(): WriteTaskStatsTracker =
      new TaskStats(cols, bloomCols, partitionDepth)

    override def processStats(stats: Seq[WriteTaskStats], jobCommitTime: Long): Unit =
      collected = stats.iterator.flatMap { case StagedStats(files) => files }.toMap
  }

  private val BloomWords = math.max(1, (FileBloom.DefaultBits + 63) / 64)

  /** The normalized long of an "l"-tagged column (see [[tagOf]]). */
  private def longAt(row: InternalRow, ix: Indexed): Long = ix.dt match {
    case ByteType => row.getByte(ix.ord).toLong
    case ShortType => row.getShort(ix.ord).toLong
    case IntegerType | DateType => row.getInt(ix.ord).toLong
    case BooleanType => if (row.getBoolean(ix.ord)) 1L else 0L
    case _ => row.getLong(ix.ord) // long, timestamp micros
  }

  /** One open file's running stats. */
  private final class FileAcc(cols: Array[Indexed], bloomCols: Array[Indexed]) {
    private val n = cols.length
    private var rows = 0L
    private val nonNull = new Array[Long](n)
    private val loL, hiL = new Array[Long](n)
    private val loD, hiD = new Array[Double](n)
    private val loS, hiS = new Array[UTF8String](n)
    private val blooms = bloomCols.map(_ => new Array[Long](BloomWords))

    // a string's first cap + 1 code points, copied out of the reused row
    private def prefix(v: UTF8String): UTF8String = v.substringSQL(1, StringPrefixCap + 1)

    def add(row: InternalRow): Unit = {
      rows += 1
      var c = 0
      while (c < n) {
        val ix = cols(c)
        if (!row.isNullAt(ix.ord)) {
          val first = nonNull(c) == 0
          nonNull(c) += 1
          ix.tag match {
            case "l" =>
              val v = longAt(row, ix)
              if (first || v < loL(c)) loL(c) = v
              if (first || v > hiL(c)) hiL(c) = v
            case "d" =>
              val v = if (ix.dt == FloatType) row.getFloat(ix.ord).toDouble
                else row.getDouble(ix.ord)
              if (first || cmpD(v, loD(c)) < 0) loD(c) = v
              if (first || cmpD(v, hiD(c)) > 0) hiD(c) = v
            case _ =>
              // prefixing is monotone and a stored bound is its own prefix,
              // so comparing the raw value decides; copy only on a change
              val v = row.getUTF8String(ix.ord)
              if (first || v.compareTo(loS(c)) < 0) loS(c) = prefix(v)
              if (first || v.compareTo(hiS(c)) > 0) hiS(c) = prefix(v)
          }
        }
        c += 1
      }
      var b = 0
      while (b < bloomCols.length) {
        val ix = bloomCols(b)
        if (!row.isNullAt(ix.ord)) {
          val key = if (ix.tag == "s") row.getUTF8String(ix.ord).toString
            else longAt(row, ix).toString
          FileBloom.set(blooms(b), key, FileBloom.DefaultK)
        }
        b += 1
      }
    }

    def result: FileStats = FileStats(rows,
      cols.indices.map { c =>
        val ix = cols(c)
        val (lo, hi) =
          if (nonNull(c) == 0L) (None, None)
          else ix.tag match {
            case "l" => (Some(loL(c)), Some(hiL(c)))
            case "d" => (Some(negZero(loD(c))), Some(negZero(hiD(c))))
            case _ => strBounds(loS(c).toString, hiS(c).toString)
          }
        ix.name -> ColStats(ix.tag, rows - nonNull(c), lo, hi)
      }.toMap,
      if (rows == 0L) Map.empty // an empty file is pruned by its row count
      else bloomCols.indices.map(b =>
        bloomCols(b).name -> FileBloom.Bloom(FileBloom.DefaultK, blooms(b))).toMap)
  }

  private final class TaskStats(cols: Array[Indexed], bloomCols: Array[Indexed],
      partitionDepth: Int) extends WriteTaskStatsTracker {
    private val files = collection.mutable.LinkedHashMap.empty[String, FileAcc]
    private var curPath: String = null
    private var cur: FileAcc = null

    // the writer's path is the commit protocol's task-attempt file; its
    // tail (partition directories + file name) is the committed layout
    private def key(path: String): String =
      path.split('/').takeRight(partitionDepth + 1).mkString("/")

    override def newPartition(partitionValues: InternalRow): Unit = ()
    override def newFile(filePath: String): Unit = {
      cur = new FileAcc(cols, bloomCols)
      curPath = filePath
      files(key(filePath)) = cur
    }
    override def closeFile(filePath: String): Unit = ()
    override def newRow(filePath: String, row: InternalRow): Unit = {
      if (filePath ne curPath) { cur = files(key(filePath)); curPath = filePath }
      cur.add(row)
    }
    override def getFinalStats(taskCommitTime: Long): WriteTaskStats =
      StagedStats(files.iterator.map { case (k, a) => k -> a.result }.toMap)
  }

  // ---- sidecar codec (TSV, escaped; dependency-free both ways) ----

  private def esc(s: String): String = s.flatMap {
    case '\\' => "\\\\"
    case '\t' => "\\t"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case c => c.toString
  }

  private def unesc(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 't' => sb += '\t'
          case 'n' => sb += '\n'
          case 'r' => sb += '\r'
          case o => sb += o
        }
        i += 2
      } else { sb += c; i += 1 }
    }
    sb.toString
  }

  private def fld(v: Option[Any]): String = v match {
    case None => "-"
    case Some(x) => "=" + esc(x.toString)
  }

  def render(stats: Map[String, FileStats]): String = {
    val sb = new StringBuilder
    stats.toSeq.sortBy(_._1).foreach { case (f, fs) =>
      sb.append("F\t").append(esc(f)).append('\t').append(fs.rows).append('\n')
      fs.cols.toSeq.sortBy(_._1).foreach { case (c, cs) =>
        sb.append("C\t").append(esc(f)).append('\t').append(esc(c)).append('\t')
          .append(cs.typ).append('\t').append(cs.nulls).append('\t')
          .append(fld(cs.lo)).append('\t').append(fld(cs.hi)).append('\n')
      }
      fs.blooms.toSeq.sortBy(_._1).foreach { case (c, b) =>
        sb.append("B\t").append(esc(f)).append('\t').append(esc(c)).append('\t')
          .append(b.k).append('\t').append(b.toBase64).append('\n')
      }
    }
    sb.toString
  }

  private def decode(typ: String, f: String): Option[Any] =
    if (f == "-") None
    else {
      val raw = unesc(f.drop(1))
      Some(typ match {
        case "l" => raw.toLong
        case "d" => raw.toDouble
        case _ => raw
      })
    }

  def parse(s: String): Map[String, FileStats] = {
    val rows = collection.mutable.Map.empty[String, Long]
    val cols = collection.mutable.Map.empty[String, List[(String, ColStats)]]
    val blooms = collection.mutable.Map
      .empty[String, List[(String, FileBloom.Bloom)]]
    s.linesIterator.filter(_.nonEmpty).foreach { line =>
      val p = line.split("\t", -1)
      p(0) match {
        case "F" => rows(unesc(p(1))) = p(2).toLong
        case "C" =>
          val f = unesc(p(1))
          cols(f) = (unesc(p(2)) ->
            ColStats(p(3), p(4).toLong, decode(p(3), p(5)), decode(p(3), p(6)))) ::
            cols.getOrElse(f, Nil)
        case "B" =>
          val f = unesc(p(1))
          blooms(f) = (unesc(p(2)) ->
            FileBloom.fromBase64(p(3).toInt, p(4))) ::
            blooms.getOrElse(f, Nil)
        case _ => // unknown record kind: ignore (forward compatibility)
      }
    }
    rows.iterator.map { case (f, n) =>
      f -> FileStats(n, cols.getOrElse(f, Nil).toMap,
        blooms.getOrElse(f, Nil).toMap)
    }.toMap
  }

  // ---- predicate → can-this-file-match (driver-side, O(pred) per file) ----

  /** Resolve a user predicate against the snapshot schema so coercion,
    * function resolution, and attribute binding are Spark's own — the
    * walk below then sees the exact tree the scan will evaluate.
    */
  def resolve(spark: SparkSession, schema: StructType, predicate: Column): Expression = {
    val empty = spark.createDataFrame(
      new java.util.ArrayList[Row](), schema)
    org.apache.spark.sql.GraftSqlBridge.analyzed(empty.where(predicate))
      .collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      }
      .getOrElse(Literal(true))
  }

  /** Unsigned UTF-8 byte comparison — the order Spark's UTF8String (and
    * parquet binary stats) use; String.compareTo (UTF-16) diverges at
    * supplementary code points.
    */
  private def utf8Cmp(a: String, b: String): Int = {
    val x = a.getBytes(StandardCharsets.UTF_8)
    val y = b.getBytes(StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  /** Attribute under monotone casts only: unwrapping a cast is sound for
    * interval tests iff the cast preserves order (numeric widenings are
    * monotone even where lossy; string/date/timezone casts are not
    * unwrapped).
    */
  private def attrOf(e: Expression): Option[String] = e match {
    case a: AttributeReference => Some(a.name)
    case c: Cast if monotoneCast(c.child.dataType, c.dataType) => attrOf(c.child)
    case _ => None
  }

  private def numericLike(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType |
         DoubleType => true
    case _: DecimalType => true
    case _ => false
  }

  private def monotoneCast(from: DataType, to: DataType): Boolean =
    numericLike(from) && numericLike(to)

  /** Literal (possibly under a foldable cast, which analysis leaves
    * unfolded): evaluated driver-side to (normalized value, coerced type).
    * Normalized: Long (integral/date/timestamp/boolean), Double
    * (float/double), String, BigDecimal. None = not a literal or an
    * unsupported/unevaluable type.
    */
  private def litOf(e: Expression): Option[(Any, DataType)] = e match {
    case Literal(v, dt) => Some((normLit(v, dt), dt))
    case c: Cast if c.child.isInstanceOf[Literal] =>
      try Some((normLit(c.eval(null), c.dataType), c.dataType))
      catch { case _: Exception => None }
    case _ => None
  }

  private def normLit(v: Any, dt: DataType): Any =
    if (v == null) null
    else dt match {
      case ByteType => v.asInstanceOf[Byte].toLong
      case ShortType => v.asInstanceOf[Short].toLong
      case IntegerType | DateType => v.asInstanceOf[Int].toLong
      case LongType | TimestampType => v.asInstanceOf[Long]
      case BooleanType => if (v.asInstanceOf[Boolean]) 1L else 0L
      case FloatType => negZero(v.asInstanceOf[Float].toDouble)
      case DoubleType => negZero(v.asInstanceOf[Double])
      case StringType => v.toString
      case _: DecimalType => v.asInstanceOf[org.apache.spark.sql.types.Decimal].toBigDecimal
      case _ => v
    }

  private def statToDouble(v: Any): Option[Double] = v match {
    case l: Long => Some(l.toDouble) // monotone — sound for interval tests
    case d: Double => Some(d)
    case _ => None
  }

  private def statToBigDec(v: Any): Option[BigDecimal] = v match {
    case b: BigDecimal => Some(b) // a normalized decimal literal (list sorting)
    case l: Long => Some(BigDecimal(l))
    case d: Double =>
      if (d.isNaN || d.isInfinite) None
      else Some(BigDecimal(new java.math.BigDecimal(d))) // exact binary expansion
    case _ => None
  }

  /** Compare a stored bound against a literal in the literal's coerced
    * space. None = incomparable (never prune on it).
    */
  private def cmp(statVal: Any, litVal: Any, litDt: DataType): Option[Int] = litDt match {
    case FloatType =>
      statToDouble(statVal).map(s =>
        java.lang.Float.compare(s.toFloat, litVal.asInstanceOf[Double].toFloat))
    case DoubleType =>
      statToDouble(statVal).map(s =>
        java.lang.Double.compare(s, litVal.asInstanceOf[Double]))
    case _: DecimalType =>
      statToBigDec(statVal).map(_.compare(litVal.asInstanceOf[BigDecimal]))
    case ByteType | ShortType | IntegerType | LongType | DateType |
         TimestampType | BooleanType =>
      statVal match {
        case s: Long => Some(java.lang.Long.compare(s, litVal.asInstanceOf[Long]))
        case _ => None
      }
    case StringType =>
      statVal match {
        case s: String => Some(utf8Cmp(s, litVal.asInstanceOf[String]))
        case _ => None
      }
    case _ => None
  }

  /** Interval tests. Each returns "the file MAY contain a matching row";
    * unknown bounds and incomparable values fall open (true).
    */
  private def hasNonNull(fs: FileStats, cs: ColStats): Boolean = cs.nulls < fs.rows

  /** Bloom probe: false ONLY when the filter proves the key absent.
    * Keys canonicalize exactly as [[WriteStats]] inserted them (normalized
    * long's decimal form, raw string); anything else falls open.
    */
  private def bloomMayContain(fs: FileStats, name: String, v: Any,
      dt: DataType): Boolean =
    fs.blooms.get(name) match {
      case None => true
      case Some(b) => dt match {
        case ByteType | ShortType | IntegerType | LongType | DateType |
             TimestampType | BooleanType => v match {
          case l: Long => b.mightContain(l.toString)
          case _ => true
        }
        case StringType => v match {
          case s: String => b.mightContain(s)
          case _ => true
        }
        case _ => true
      }
    }

  private def mayEq(fs: FileStats, cs: ColStats, v: Any, dt: DataType): Boolean =
    hasNonNull(fs, cs) &&
      cs.lo.forall(l => cmp(l, v, dt).forall(_ <= 0)) &&
      cs.hi.forall(h => cmp(h, v, dt).forall(_ >= 0))

  private def mayLt(fs: FileStats, cs: ColStats, v: Any, dt: DataType): Boolean =
    hasNonNull(fs, cs) && cs.lo.forall(l => cmp(l, v, dt).forall(_ < 0))

  private def mayLe(fs: FileStats, cs: ColStats, v: Any, dt: DataType): Boolean =
    hasNonNull(fs, cs) && cs.lo.forall(l => cmp(l, v, dt).forall(_ <= 0))

  private def mayGt(fs: FileStats, cs: ColStats, v: Any, dt: DataType): Boolean =
    hasNonNull(fs, cs) && cs.hi.forall(h => cmp(h, v, dt).forall(_ > 0))

  private def mayGe(fs: FileStats, cs: ColStats, v: Any, dt: DataType): Boolean =
    hasNonNull(fs, cs) && cs.hi.forall(h => cmp(h, v, dt).forall(_ >= 0))

  /** The values of an `IN` list or an `INSET` over attribute `name`, in
    * zone-map space: normalized as [[litOf]] normalizes a literal, nulls
    * dropped (they make IN NULL, never TRUE), sorted in the coerced type
    * `dt`'s order. A file's [lo, hi] then finds its values by binary
    * search, so a large list costs O(log K) per file, not O(K).
    */
  private[sources] final class ValueList(val name: String, val vs: Array[Any],
      val dt: DataType) {
    def size: Int = vs.length

    /** Index of the first value at or above `lo` (0 if incomparable). */
    def from(lo: Any): Int =
      if (vs.isEmpty || cmp(lo, vs(0), dt).isEmpty) 0
      else {
        var (a, b) = (0, vs.length)
        while (a < b) {
          val m = (a + b) >>> 1
          if (cmp(lo, vs(m), dt).get <= 0) b = m else a = m + 1
        }
        a
      }
  }

  /** The [[ValueList]] of each `IN` / `INSET` node of a predicate, built
    * on first use: [[prune]] tests one predicate against every file.
    */
  private[sources] final class ValueLists {
    private val built = new java.util.IdentityHashMap[Expression, Option[ValueList]]()

    def apply(e: Expression): Option[ValueList] = {
      if (!built.containsKey(e)) built.put(e, listOf(e))
      built.get(e)
    }
  }

  /** None = not an attribute against literals of one comparable type:
    * never prune on it.
    */
  private def listOf(e: Expression): Option[ValueList] = {
    val typed: Option[(Expression, Seq[Any], DataType)] = e match {
      case In(a, vs) => // analysis coerced the list to one type
        val lits = vs.map(litOf)
        if (lits.exists(_.isEmpty) || lits.flatten.map(_._2).distinct.size > 1) None
        else Some((a, lits.flatten.map(_._1),
          lits.flatten.headOption.fold(a.dataType)(_._2)))
      case InSet(a, hset) => // Catalyst values of the child's type
        Some((a, hset.toSeq.map(normLit(_, a.dataType)), a.dataType))
      case _ => None
    }
    for {
      (a, values, dt) <- typed
      name <- attrOf(a)
      vs = values.filter(_ != null).toArray
      if vs.forall(v => cmp(v, v, dt).isDefined)
    } yield new ValueList(name,
      vs.sorted(Ordering.fromLessThan[Any](cmp(_, _, dt).exists(_ < 0))), dt)
  }

  /** IN over a sorted list: some value within the file's [lo, hi] that
    * its Bloom filter does not rule out. Binary search to the first value
    * at or above `lo`, then walk up to `hi`, stopping at the first hit.
    */
  private def mayIn(fs: FileStats, cs: ColStats, ks: ValueList): Boolean =
    hasNonNull(fs, cs) && {
      var i = cs.lo.fold(0)(ks.from)
      var hit = false
      while (!hit && i < ks.size &&
          cs.hi.forall(h => cmp(h, ks.vs(i), ks.dt).forall(_ >= 0))) {
        hit = bloomMayContain(fs, ks.name, ks.vs(i), ks.dt)
        i += 1
      }
      hit
    }

  /** One binary comparison, either operand order: apply `fwd` when the
    * attribute is on the left, `rev` when on the right; a null literal
    * makes the comparison NULL (no row passes a null filter).
    */
  private def binCmp(fs: FileStats, l: Expression, r: Expression)(
      fwd: (String, ColStats, Any, DataType) => Boolean,
      rev: (String, ColStats, Any, DataType) => Boolean): Boolean = {
    val sides = Seq(
      (attrOf(l), litOf(r), true),
      (attrOf(r), litOf(l), false))
    sides.collectFirst { case (Some(name), Some((v, dt)), isFwd) =>
      if (v == null) false
      else fs.cols.get(name) match {
        case Some(cs) => if (isFwd) fwd(name, cs, v, dt) else rev(name, cs, v, dt)
        case None => true // no stats for this column: cannot prune
      }
    }.getOrElse(true) // attr-vs-attr, function-of-attr, etc.: cannot prune
  }

  /** Can a file with stats `fs` contain a row matching `e`? Sound,
    * conservative: anything unrecognized is "maybe" (true).
    */
  def canMatch(e: Expression, fs: FileStats,
      lists: ValueLists = new ValueLists): Boolean = e match {
    case And(l, r) => canMatch(l, fs, lists) && canMatch(r, fs, lists)
    case Or(l, r) => canMatch(l, fs, lists) || canMatch(r, fs, lists)
    case Not(child) => child match {
      case IsNull(a) => canMatch(IsNotNull(a), fs, lists)
      case IsNotNull(a) => canMatch(IsNull(a), fs, lists)
      // comparison complements (a row MATCHES Not(cmp) only when cmp is
      // FALSE, never NULL — so null rows are excluded, like any filter):
      // NOT(a > v) ⇔ a <= v, etc.; NOT(a = v) can only be ruled out when
      // the file is constant at v (lo == hi == v). These are what make a
      // whole-partition or retention-range DELETE provably total on a
      // file — the zero-read drop path.
      case GreaterThan(l, r) => canMatch(LessThanOrEqual(l, r), fs, lists)
      case GreaterThanOrEqual(l, r) => canMatch(LessThan(l, r), fs, lists)
      case LessThan(l, r) => canMatch(GreaterThanOrEqual(l, r), fs, lists)
      case LessThanOrEqual(l, r) => canMatch(GreaterThan(l, r), fs, lists)
      case EqualTo(l, r) =>
        // a string lo of exactly StringPrefixCap chars may be a TRUNCATED
        // longer minimum — it cannot prove the file constant at v
        def exactLo(x: Any): Boolean = x match {
          case s: String => s.length < StringPrefixCap
          case _ => true
        }
        def neq(n: String, cs: ColStats, v: Any, dt: DataType): Boolean =
          hasNonNull(fs, cs) && !(
            cs.lo.exists(x => exactLo(x) && cmp(x, v, dt).contains(0)) &&
            cs.hi.exists(x => cmp(x, v, dt).contains(0)))
        binCmp(fs, l, r)(neq, neq)
      case Not(inner) => canMatch(inner, fs, lists) // ¬¬e
      // the optimizer's form of `b = false`
      case a: AttributeReference if a.dataType == BooleanType =>
        canMatch(EqualTo(a, Literal(false)), fs, lists)
      case _ => true
    }
    // the optimizer's form of `b = true`
    case a: AttributeReference if a.dataType == BooleanType =>
      canMatch(EqualTo(a, Literal(true)), fs, lists)
    case Literal(b: Boolean, BooleanType) => b
    case Literal(null, _) => false // WHERE NULL keeps nothing
    case IsNull(a) => attrOf(a).flatMap(fs.cols.get) match {
      case Some(cs) => cs.nulls > 0
      case None => true
    }
    case IsNotNull(a) => attrOf(a).flatMap(fs.cols.get) match {
      case Some(cs) => hasNonNull(fs, cs)
      case None => true
    }
    case EqualTo(l, r) =>
      def eq(n: String, cs: ColStats, v: Any, dt: DataType): Boolean =
        mayEq(fs, cs, v, dt) && bloomMayContain(fs, n, v, dt)
      binCmp(fs, l, r)(eq, eq)
    case EqualNullSafe(l, r) =>
      (litOf(l), litOf(r)) match {
        case (Some((null, _)), _) => attrOf(r).flatMap(fs.cols.get)
          .forall(_.nulls > 0)
        case (_, Some((null, _))) => attrOf(l).flatMap(fs.cols.get)
          .forall(_.nulls > 0)
        case _ =>
          def eq(n: String, cs: ColStats, v: Any, dt: DataType): Boolean =
            mayEq(fs, cs, v, dt) && bloomMayContain(fs, n, v, dt)
          binCmp(fs, l, r)(eq, eq)
      }
    case LessThan(l, r) => // attr < v | v < attr
      binCmp(fs, l, r)((_, cs, v, dt) => mayLt(fs, cs, v, dt),
        (_, cs, v, dt) => mayGt(fs, cs, v, dt))
    case LessThanOrEqual(l, r) =>
      binCmp(fs, l, r)((_, cs, v, dt) => mayLe(fs, cs, v, dt),
        (_, cs, v, dt) => mayGe(fs, cs, v, dt))
    case GreaterThan(l, r) => // attr > v | v > attr
      binCmp(fs, l, r)((_, cs, v, dt) => mayGt(fs, cs, v, dt),
        (_, cs, v, dt) => mayLt(fs, cs, v, dt))
    case GreaterThanOrEqual(l, r) =>
      binCmp(fs, l, r)((_, cs, v, dt) => mayGe(fs, cs, v, dt),
        (_, cs, v, dt) => mayLe(fs, cs, v, dt))
    case In(_, _) | InSet(_, _) =>
      lists(e) match {
        case None => true
        case Some(ks) => fs.cols.get(ks.name) match {
          case None => true
          case Some(cs) => mayIn(fs, cs, ks)
        }
      }
    case StartsWith(l, r) =>
      (attrOf(l), litOf(r)) match {
        case (Some(name), Some((p: String, StringType))) =>
          fs.cols.get(name) match {
            case None => true
            case Some(cs) =>
              // any x with prefix p satisfies x >= p; and if lo > p with
              // lo not itself prefixed by p, every x >= lo exceeds all
              // p-prefixed strings (comparison decided inside p)
              hasNonNull(fs, cs) &&
                cs.hi.forall {
                  case h: String => utf8Cmp(h, p) >= 0
                  case _ => true
                } &&
                cs.lo.forall {
                  case lo: String => utf8Cmp(lo, p) <= 0 || lo.startsWith(p)
                  case _ => true
                }
          }
        case (_, Some((null, _))) => false
        case _ => true
      }
    case _ => true // unknown shape: never prune on it
  }

  /** Partition `files` into (kept, skipped) under `cond` (a RESOLVED
    * predicate from [[resolve]]). Files without stats are always kept.
    */
  def prune(cond: Expression, stats: Map[String, FileStats],
      files: Seq[String]): (Seq[String], Seq[String]) = {
    val lists = new ValueLists
    files.partition(f => stats.get(f).forall(canMatch(cond, _, lists)))
  }

  /** Sound "EVERY row of this file satisfies `e` — TRUE, never null" test,
    * the dual of [[canMatch]]: DELETE's zero-read drop removes a file from
    * the log without reading it when the predicate provably holds on all
    * its rows (a whole dropped partition's lo == hi value, a retention
    * range entirely past the cutoff). Null semantics are the filter's: a
    * row where `e` is NULL does NOT satisfy it, so any possible null
    * operand fails the test. Conservative: anything unrecognized is false
    * (the caller falls back to the copy-on-write rewrite).
    *
    * Truncated string bounds stay sound: a stored `lo` is a PREFIX of the
    * true minimum, so `lo > v` / `lo >= v` still bound the true values
    * from below; equality additionally needs `lo` exact (length under the
    * cap), and `hi` is only ever stored exact.
    */
  def mustMatchAll(e: Expression, fs: FileStats,
      lists: ValueLists = new ValueLists): Boolean = {
    def exactLo(x: Any): Boolean = x match {
      case s: String => s.length < StringPrefixCap
      case _ => true
    }
    def bin(l: Expression, r: Expression)(
        fwd: (ColStats, Any, DataType) => Boolean,
        rev: (ColStats, Any, DataType) => Boolean): Boolean =
      Seq((attrOf(l), litOf(r), true), (attrOf(r), litOf(l), false))
        .collectFirst { case (Some(name), Some((v, dt)), isFwd) =>
          v != null && fs.cols.get(name).exists(cs =>
            cs.nulls == 0 &&
              (if (isFwd) fwd(cs, v, dt) else rev(cs, v, dt)))
        }.getOrElse(false)
    e match {
      case And(l, r) => mustMatchAll(l, fs, lists) && mustMatchAll(r, fs, lists)
      case Or(l, r) => mustMatchAll(l, fs, lists) || mustMatchAll(r, fs, lists)
      case Literal(b: Boolean, BooleanType) => b
      case IsNull(a) =>
        attrOf(a).flatMap(fs.cols.get).exists(_.nulls == fs.rows)
      case IsNotNull(a) =>
        attrOf(a).flatMap(fs.cols.get).exists(_.nulls == 0)
      case EqualTo(l, r) =>
        def allEq(cs: ColStats, v: Any, dt: DataType): Boolean =
          cs.lo.exists(x => exactLo(x) && cmp(x, v, dt).contains(0)) &&
            cs.hi.exists(x => cmp(x, v, dt).contains(0))
        bin(l, r)(allEq, allEq)
      case LessThan(l, r) => // all(a < v) | all(v < a)
        bin(l, r)(
          (cs, v, dt) => cs.hi.exists(x => cmp(x, v, dt).exists(_ < 0)),
          (cs, v, dt) => cs.lo.exists(x => cmp(x, v, dt).exists(_ > 0)))
      case LessThanOrEqual(l, r) =>
        bin(l, r)(
          (cs, v, dt) => cs.hi.exists(x => cmp(x, v, dt).exists(_ <= 0)),
          (cs, v, dt) => cs.lo.exists(x => cmp(x, v, dt).exists(_ >= 0)))
      case GreaterThan(l, r) =>
        bin(l, r)(
          (cs, v, dt) => cs.lo.exists(x => cmp(x, v, dt).exists(_ > 0)),
          (cs, v, dt) => cs.hi.exists(x => cmp(x, v, dt).exists(_ < 0)))
      case GreaterThanOrEqual(l, r) =>
        bin(l, r)(
          (cs, v, dt) => cs.lo.exists(x => cmp(x, v, dt).exists(_ >= 0)),
          (cs, v, dt) => cs.hi.exists(x => cmp(x, v, dt).exists(_ <= 0)))
      case In(_, _) | InSet(_, _) =>
        // all rows equal ONE constant that the list contains
        lists(e).exists { ks =>
          fs.cols.get(ks.name).exists { cs =>
            cs.nulls == 0 && cs.lo.exists { lo =>
              val i = ks.from(lo)
              exactLo(lo) && i < ks.size && cmp(lo, ks.vs(i), ks.dt).contains(0) &&
                cs.hi.exists(x => cmp(x, ks.vs(i), ks.dt).contains(0))
            }
          }
        }
      case _ => false // unknown shape: never drop on it
    }
  }
}
