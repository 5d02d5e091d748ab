package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass text kernels behind [[TextFunctions.hash60]] and the hashed
  * k-gram statistics of the training queries. Each one equals a composed
  * SQL form the DuckDB oracles replay; the composed forms built strings
  * (md5 hex, substrings, base conversion) or ran interpreted lambdas per
  * array element.
  */
object TextKernels {

  private val md5 = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  private val Low60 = (1L << 60) - 1

  /** The first 15 hex digits of an md5 digest as a number (its top 60
    * bits), or with `low` its last 15 (the low 60 bits).
    */
  def prefix60(digest: Array[Byte], low: Boolean): Long = {
    val from = if (low) 8 else 0
    var v = 0L
    var b = from
    while (b < from + 8) { v = (v << 8) | (digest(b) & 0xffL); b += 1 }
    if (low) v & Low60 else v >>> 4
  }

  /** `conv(substring(md5(s), 1, 15), 16, 10)` as a long, or with `low`
    * the same of `substring(md5(s), 18, 15)`.
    */
  def hash60(s: UTF8String, low: Boolean): Long = {
    val md = md5.get()
    md.reset()
    md.update(s.getByteBuffer)
    prefix60(md.digest(), low)
  }

  def hash60(bytes: Array[Byte], low: Boolean): Long = {
    val md = md5.get()
    md.reset()
    prefix60(md.digest(bytes), low)
  }

  /** Primes and base of the two Horner chains of a 62-bit gram hash. */
  val GramP = 2147483647L // 2^31 - 1
  val GramP2 = 2147483629L // the next 31-bit prime down
  val GramB = 1000003L

  /** The `len - k + 1` k-gram hashes of a per-token hash array: gram `i`
    * is two Horner chains over `ht[i .. i+k-1]`, mod [[GramP]] and mod
    * [[GramP2]], packed as `chain1 * 2^31 + chain2`. A chain starts from
    * the unreduced first element, as the composed form does. A gram with
    * a null element is null. Empty when `len < k`. Exact for elements in
    * `[0, 2^30)`, the range of a `hash60 mod 2^30` token hash: every
    * intermediate stays below 2^52 and the pack below 2^62.
    */
  def gramHashes(ht: ArrayData, k: Int): ArrayData = {
    val n = ht.numElements - k + 1
    if (n <= 0) return new GenericArrayData(Array.empty[Any])
    if (!hasNull(ht)) {
      val h = ht.toLongArray
      val out = new Array[Long](n)
      var i = 0
      while (i < n) { out(i) = gram(h, i, k); i += 1 }
      UnsafeArrayData.fromPrimitiveArray(out)
    } else {
      val h = Array.tabulate(ht.numElements)(j => if (ht.isNullAt(j)) 0L else ht.getLong(j))
      new GenericArrayData(Array.tabulate[Any](n) { i =>
        if ((i until i + k).exists(ht.isNullAt)) null else gram(h, i, k)
      })
    }
  }

  private def gram(h: Array[Long], i: Int, k: Int): Long = {
    var a = h(i)
    var b = h(i)
    var j = 1
    while (j < k) {
      a = (a * GramB + h(i + j)) % GramP
      b = (b * GramB + h(i + j)) % GramP2
      j += 1
    }
    a * 2147483648L + b
  }

  private def hasNull(a: ArrayData): Boolean = {
    var j = 0
    while (j < a.numElements) { if (a.isNullAt(j)) return true; j += 1 }
    false
  }

  val RunStatsType: StructType = StructType(Seq(
    StructField("mx", LongType, nullable = false),
    StructField("sgl", LongType, nullable = false)))

  /** Runs of equal values in the sorted array: (`mx`, the longest run's
    * length; `sgl`, the number of runs of length one). A null element is a
    * run of its own, as under `array_sort` and an equality fold; an empty
    * array gives (0, 0).
    */
  def sortedRunStats(arr: ArrayData): InternalRow = {
    val len = arr.numElements
    val vals =
      if (!hasNull(arr)) arr.toLongArray
      else (0 until len).filterNot(arr.isNullAt).map(arr.getLong).toArray
    java.util.Arrays.sort(vals)
    val nulls = len - vals.length
    var mx = if (nulls > 0) 1L else 0L
    var sgl = nulls.toLong
    var run = 0L
    var i = 0
    while (i < vals.length) {
      if (i > 0 && vals(i) == vals(i - 1)) run += 1
      else {
        if (run > mx) mx = run
        if (run == 1) sgl += 1
        run = 1
      }
      i += 1
    }
    if (run > mx) mx = run
    if (run == 1) sgl += 1
    InternalRow(mx, sgl)
  }

  private[functions] def checkLongs(name: String, child: Expression): TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$name expects an array of bigint, got $other")
    }
}

/** The md5 60-bit prefix of a string or binary ([[TextKernels.hash60]]). */
case class Hash60Expr(child: Expression, low: Boolean) extends UnaryExpression {

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = LongType
  override def prettyName: String = if (low) "graft_hash60lo" else "graft_hash60"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType | BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a string or binary, got $other")
  }

  override protected def nullSafeEval(v: Any): Any = v match {
    case s: UTF8String => TextKernels.hash60(s, low)
    case b: Array[Byte] => TextKernels.hash60(b, low)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.hash60($c, $low)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The k-gram hashes of a per-token hash array ([[TextKernels.gramHashes]]). */
case class GramHashesExpr(child: Expression, k: Int) extends UnaryExpression {
  require(k > 0, s"gram size must be positive, got $k")

  override def dataType: DataType = ArrayType(LongType,
    containsNull = child.dataType match {
      case ArrayType(_, containsNull) => containsNull
      case _ => true
    })
  override def prettyName: String = "graft_gram_hashes"

  override def checkInputDataTypes(): TypeCheckResult =
    TextKernels.checkLongs(prettyName, child)

  override protected def nullSafeEval(ht: Any): Any =
    TextKernels.gramHashes(ht.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.gramHashes($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Run statistics of a sorted copy of an array ([[TextKernels.sortedRunStats]]). */
case class SortedRunStatsExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = TextKernels.RunStatsType
  override def prettyName: String = "graft_sorted_run_stats"

  override def checkInputDataTypes(): TypeCheckResult =
    TextKernels.checkLongs(prettyName, child)

  override protected def nullSafeEval(arr: Any): Any =
    TextKernels.sortedRunStats(arr.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.sortedRunStats($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
