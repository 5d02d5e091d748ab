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
  *  - **Sound, and advisory where it can be.** Stats only ever REMOVE
  *    files from a scan: every TxTable read plans through
  *    [[GraftFileIndex]], which prunes in `listFiles`, and Spark applies
  *    the full predicate to whatever survives; a file with no stats is
  *    simply read. DELETE's zero-read drop is the one place a stats
  *    verdict decides rows, so the walk must be sound, not just close.
  *  - **One three-valued walk.** What a predicate can evaluate to on a
  *    file's rows — a subset of {TRUE, FALSE, NULL} — is computed once:
  *    [[canMatch]] asks whether TRUE is in it, [[mustMatchAll]] whether
  *    nothing else is. A scan's pruning and a delete's drop thereby
  *    share every comparison, NULL, IN and truncation rule, and NOT over
  *    any shape is exact (it swaps TRUE and FALSE).
  *  - **Sound under truncation.** String bounds are capped at
  *    [[StringPrefixCap]] chars: the stored lower bound is a prefix of
  *    the true minimum, and an upper bound that WOULD need truncation is
  *    dropped (`hi = None`, unbounded above) rather than stored loosely —
  *    Delta's tightBounds rule without last-char increment games, which
  *    are unsound where the UTF-8 and UTF-16 orders diverge.
  *  - **Compare in the query's coerced space.** The predicate is analyzed
  *    against the snapshot schema first, so type coercion is Spark's own
  *    (an int column probed with a double literal becomes a double
  *    comparison); bounds widen into that space through monotone casts.
  *  - **NaN and -0.0 follow Spark's total order** (NaN greatest,
  *    -0.0 == 0.0) in the recorded bounds and in every comparison.
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

  // ---- predicate → its outcomes on a file (driver-side, O(pred) per file) ----

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

  /** Attribute under order-keeping casts only: unwrapping a cast is sound
    * iff it maps values monotonically and never to null — the numeric
    * widenings byte < short < int < long < float < double (monotone even
    * where lossy), and an integral into a decimal with room for all its
    * digits. A narrowing cast wraps around or overflows to null; string,
    * date and timezone casts are not unwrapped.
    */
  private def attrOf(e: Expression): Option[String] = e match {
    case a: AttributeReference => Some(a.name)
    case c: Cast if widening(c.child.dataType, c.dataType) => attrOf(c.child)
    case _ => None
  }

  private val Widenings = Seq(ByteType, ShortType, IntegerType, LongType, FloatType, DoubleType)

  private def widening(from: DataType, to: DataType): Boolean =
    (Widenings.indexOf(from), to) match {
      case (i, d: DecimalType) => i >= 0 && i <= 3 && d.precision - d.scale >= Seq(3, 5, 10, 20)(i)
      case (i, _) => i >= 0 && i <= Widenings.indexOf(to)
    }

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

  private[sources] def normLit(v: Any, dt: DataType): Any =
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
    case FloatType => // a long casts to float in one rounding, never via double
      (statVal match {
        case l: Long => Some(l.toFloat)
        case d: Double => Some(d.toFloat)
        case _ => None
      }).map(java.lang.Float.compare(_, litVal.asInstanceOf[Double].toFloat))
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

  /** Some row of the file holds a non-null value of the column. */
  private def hasNonNull(fs: FileStats, cs: ColStats): Boolean = cs.nulls < fs.rows

  /** Bloom probe: false ONLY when the filter proves the key absent.
    * Keys canonicalize exactly as [[WriteStats]] inserted them (normalized
    * long's decimal form, raw string); anything else falls open.
    */
  private def bloomMayContain(fs: FileStats, name: String, v: Any,
      dt: DataType): Boolean =
    fs.blooms.get(name).forall(b => (dt, v) match {
      case (ByteType | ShortType | IntegerType | LongType | DateType |
            TimestampType | BooleanType, l: Long) => b.mightContain(l.toString)
      case (StringType, s: String) => b.mightContain(s)
      case _ => true
    })

  /** Every non-null value of the column equals `v`: lo == hi == v, with
    * `lo` exact (a string `lo` of [[StringPrefixCap]] chars may be a
    * truncated longer minimum; `hi` is only ever stored exact).
    */
  private def constantAt(cs: ColStats, v: Any, dt: DataType): Boolean =
    cs.lo.exists {
      case s: String if s.length >= StringPrefixCap => false
      case x => cmp(x, v, dt).contains(0)
    } && cs.hi.exists(x => cmp(x, v, dt).contains(0))

  /** The values of an `IN` list or an `INSET` over attribute `name`, in
    * zone-map space: normalized as [[litOf]] normalizes a literal, sorted
    * in the coerced type `dt`'s order, nulls dropped and recorded in
    * `hasNull`. A file's [lo, hi] then finds its values by binary search,
    * so a large list costs O(log K) per file, not O(K).
    */
  private[sources] final class ValueList(val name: String, val vs: Array[Any],
      val dt: DataType, val hasNull: Boolean) {
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
      vs.sorted(Ordering.fromLessThan[Any](cmp(_, _, dt).exists(_ < 0))), dt,
      values.contains(null))
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

  // An outcome set: the subset of {TRUE, FALSE, NULL} a predicate can take
  // on the rows of one file, one bit each.
  private final val T = 1
  private final val F = 2
  private final val N = 4
  private final val All = T | F | N

  /** Entry `a << 3 | b`: the outcomes of `x op y` over x ∈ a, y ∈ b. */
  private def kleene(op: (Int, Int) => Int): Array[Int] = Array.tabulate(64) { ab =>
    var out = 0
    for (x <- Seq(T, F, N) if ((ab >> 3) & x) != 0; y <- Seq(T, F, N) if (ab & y) != 0)
      out |= op(x, y)
    out
  }
  private val AndOf = kleene((x, y) => if (x == F || y == F) F else if (x == N || y == N) N else T)
  private val OrOf = kleene((x, y) => if (x == T || y == T) T else if (x == N || y == N) N else F)

  private def not(o: Int): Int = (o & N) | (o & T) << 1 | (o & F) >> 1

  // a comparison with the attribute on the left: a < v, a > v, a <= v,
  // a >= v, a = v; mirroring an order swaps the last bit
  private final val Lt = 0
  private final val Gt = 1
  private final val Le = 2
  private final val Ge = 3
  private final val Eq = 4

  /** A test on one column: TRUE if a non-null row may pass it, `failAs`
    * if one may fail it, NULL if the column holds a null.
    */
  private def column(fs: FileStats, cs: ColStats, pass: => Boolean,
      fail: => Boolean, failAs: Int = F): Int = {
    val some = hasNonNull(fs, cs)
    (if (some && pass) T else 0) | (if (some && fail) failAs else 0) |
      (if (cs.nulls > 0) N else 0)
  }

  /** `l op r` for an attribute against a literal, in either operand
    * order (the op mirrored when the literal is on the left). Unknown
    * bounds and incomparable values fall open; any other shape can take
    * every outcome.
    */
  private def compare(op: Int, l: Expression, r: Expression, fs: FileStats): Int =
    attrOf(l).zip(litOf(r)).map((_, op)).orElse(
      attrOf(r).zip(litOf(l)).map((_, if (op == Eq) op else op ^ 1))) match {
      case None => All
      case Some(((_, (null, _)), _)) => N
      case Some(((name, (v, dt)), op)) => fs.cols.get(name).fold(All) { cs =>
        // does some stored bound (or an unknown one) pass `ok` against v?
        def lo(ok: Int => Boolean) = cs.lo.forall(b => cmp(b, v, dt).forall(ok))
        def hi(ok: Int => Boolean) = cs.hi.forall(b => cmp(b, v, dt).forall(ok))
        op match {
          case Lt => column(fs, cs, lo(_ < 0), hi(_ >= 0))
          case Le => column(fs, cs, lo(_ <= 0), hi(_ > 0))
          case Gt => column(fs, cs, hi(_ > 0), lo(_ <= 0))
          case Ge => column(fs, cs, hi(_ >= 0), lo(_ < 0))
          case _ => column(fs, cs,
            lo(_ <= 0) && hi(_ >= 0) && bloomMayContain(fs, name, v, dt),
            !constantAt(cs, v, dt))
        }
      }
    }

  /** `a IS NULL`, which is never NULL itself. */
  private def isNull(a: Expression, fs: FileStats): Int =
    attrOf(a).flatMap(fs.cols.get).fold(T | F) { cs =>
      (if (cs.nulls > 0) T else 0) | (if (hasNonNull(fs, cs)) F else 0)
    }

  /** The outcomes `e` can take on the rows of a file with stats `fs`, a
    * sound superset (a missing bit is a proof). [[canMatch]] and
    * [[mustMatchAll]] both read this one walk:
    *  - And / Or combine their sides by Kleene's tables; a left side that
    *    is only FALSE decides an And, only TRUE an Or, and the right side
    *    is then not walked (no Bloom probe is spent). Not swaps TRUE and
    *    FALSE.
    *  - `a op v` is TRUE if some non-null value may satisfy it (`=` also
    *    asks the Bloom filter), FALSE if some may satisfy its complement
    *    (for `=`: unless the file is constant at v), NULL if the column
    *    holds a null; a null literal is NULL. `<=>` turns NULL into FALSE,
    *    a boolean attribute is `a = true`, `IS NULL` is never NULL.
    *  - IN / INSET is TRUE if some list value passes the bounds and the
    *    Bloom filter; a non-member is FALSE, or NULL or FALSE when the list
    *    holds a null (IN gives NULL; INSET gives FALSE on NaN); a null row
    *    is NULL. An empty list is FALSE on every row, null rows included.
    *  - `StartsWith` can be TRUE only where the bounds admit the prefix;
    *    other shapes can take every outcome.
    * The empty set means the file has no rows.
    */
  private def outcomes(e: Expression, fs: FileStats, lists: ValueLists): Int = e match {
    case And(l, r) =>
      val a = outcomes(l, fs, lists)
      if ((a & ~F) == 0) a else AndOf(a << 3 | outcomes(r, fs, lists))
    case Or(l, r) =>
      val a = outcomes(l, fs, lists)
      if ((a & ~T) == 0) a else OrOf(a << 3 | outcomes(r, fs, lists))
    case Not(c) => not(outcomes(c, fs, lists))
    case Literal(null, _) => N
    case Literal(b: Boolean, BooleanType) => if (b) T else F
    case a: AttributeReference if a.dataType == BooleanType =>
      compare(Eq, a, Literal(true), fs)
    case IsNull(a) => isNull(a, fs)
    case IsNotNull(a) => not(isNull(a, fs))
    case EqualTo(l, r) => compare(Eq, l, r, fs)
    case EqualNullSafe(l, r) => (litOf(l), litOf(r)) match {
      case (Some((null, _)), _) => isNull(r, fs)
      case (_, Some((null, _))) => isNull(l, fs)
      case _ =>
        val o = compare(Eq, l, r, fs)
        if ((o & N) != 0) o & ~N | F else o
    }
    case LessThan(l, r) => compare(Lt, l, r, fs)
    case LessThanOrEqual(l, r) => compare(Le, l, r, fs)
    case GreaterThan(l, r) => compare(Gt, l, r, fs)
    case GreaterThanOrEqual(l, r) => compare(Ge, l, r, fs)
    case In(_, _) | InSet(_, _) => lists(e).fold(All) { ks =>
      if (ks.size == 0 && !ks.hasNull) F
      else fs.cols.get(ks.name).fold(All) { cs =>
        val member = cs.lo.exists { lo =>
          val i = ks.from(lo)
          i < ks.size && constantAt(cs, ks.vs(i), ks.dt)
        }
        column(fs, cs, mayIn(fs, cs, ks), !member, if (ks.hasNull) F | N else F)
      }
    }
    case StartsWith(l, r) => (attrOf(l).flatMap(fs.cols.get), litOf(r)) match {
      case (_, Some((null, _))) => N
      // any x with prefix p has x >= p; and if lo > p with lo not itself
      // prefixed by p, every x >= lo exceeds every p-prefixed string
      case (Some(cs), Some((p: String, StringType))) if !(hasNonNull(fs, cs) &&
          cs.hi.forall { case h: String => utf8Cmp(h, p) >= 0; case _ => true } &&
          cs.lo.forall {
            case lo: String => utf8Cmp(lo, p) <= 0 || lo.startsWith(p)
            case _ => true
          }) => F | N
      case _ => All
    }
    case _ => All
  }

  /** Can a file with stats `fs` hold a row on which `e` is TRUE? Sound
    * and conservative: what the walk cannot decide is "maybe" (true).
    */
  def canMatch(e: Expression, fs: FileStats,
      lists: ValueLists = new ValueLists): Boolean =
    (outcomes(e, fs, lists) & T) != 0

  /** Partition `files` into (kept, skipped) under `cond` (a RESOLVED
    * predicate from [[resolve]]). Files without stats are always kept.
    */
  def prune(cond: Expression, stats: Map[String, FileStats],
      files: Seq[String]): (Seq[String], Seq[String]) = {
    val lists = new ValueLists
    files.partition(f => stats.get(f).forall(canMatch(cond, _, lists)))
  }

  /** Is `e` TRUE — never FALSE or NULL — on EVERY row of a file with stats
    * `fs`? DELETE's zero-read drop removes such a file from the log
    * without reading it (a whole dropped partition, a retention range
    * entirely past the cutoff). What the walk cannot decide is false, and
    * the caller falls back to the copy-on-write rewrite.
    */
  def mustMatchAll(e: Expression, fs: FileStats,
      lists: ValueLists = new ValueLists): Boolean =
    (outcomes(e, fs, lists) & ~T) == 0
}
