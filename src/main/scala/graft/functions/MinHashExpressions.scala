package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Word n-gram shingles and MinHash signatures over a token array, as
  * native one-pass kernels.
  *
  * Shingle `i` (0-based) is `array_join(slice(tokens, i + 1, n), ' ')` for
  * `i` in `0 .. len - n`: null tokens are skipped, as `array_join` skips
  * them. A MinHash signature takes, for permutation `k`, the minimum over
  * shingles of `((2k+1)·h + 98765k + 12345) mod prime`, where `h` is the
  * shingle's 60-bit md5 prefix (`TextFunctions.hash60`) mod `baseMod` — the
  * formula the DuckDB oracles replay. The kernel hashes each shingle once
  * and folds all permutations in the same loop; the composed SQL form
  * re-split the text once per shingle and re-read the hash array once per
  * permutation.
  */
object MinHash {

  private val md5 = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  private def tokenBytes(tokens: ArrayData): Array[Array[Byte]] =
    Array.tabulate(tokens.numElements) { j =>
      if (tokens.isNullAt(j)) null else tokens.getUTF8String(j).getBytes
    }

  /** The `len - n + 1` shingles of `tokens`; empty when `len < n`. */
  def shingles(tokens: ArrayData, n: Int): ArrayData = {
    val count = math.max(tokens.numElements - n + 1, 0)
    val toks = Array.tabulate(tokens.numElements) { j =>
      if (tokens.isNullAt(j)) null else tokens.getUTF8String(j)
    }
    val sep = UTF8String.fromString(" ")
    new GenericArrayData(Array.tabulate[Any](count) { i =>
      UTF8String.concatWs(sep, toks.slice(i, i + n): _*)
    })
  }

  /** The `numPerms` permuted minima; null when `tokens` has fewer than `n`
    * elements (no shingle, no signature).
    */
  def signature(tokens: ArrayData, n: Int, numPerms: Int,
      baseMod: Long, prime: Long): ArrayData = {
    val len = tokens.numElements
    if (len < n) return null
    val toks = tokenBytes(tokens)
    val md = md5.get()
    val digest = new Array[Byte](16)
    val mins = Array.fill(numPerms)(Long.MaxValue)
    var i = 0
    while (i <= len - n) {
      md.reset()
      var first = true
      var j = i
      while (j < i + n) {
        val t = toks(j)
        if (t != null) {
          if (!first) md.update(' '.toByte)
          md.update(t)
          first = false
        }
        j += 1
      }
      md.digest(digest, 0, 16)
      val h = TextKernels.prefix60(digest, low = false) % baseMod
      var k = 0
      while (k < numPerms) {
        val v = (h * (2L * k + 1) + 98765L * k + 12345L) % prime
        if (v < mins(k)) mins(k) = v
        k += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }

  private[functions] def checkTokens(name: String, child: Expression): TypeCheckResult =
    child.dataType match {
      case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$name expects an array of strings, got $other")
    }
}

/** Word `n`-gram shingles of a token array ([[MinHash.shingles]]). */
case class ShinglesExpr(child: Expression, n: Int) extends UnaryExpression {
  require(n > 0, s"shingle size must be positive, got $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_shingles"

  override def checkInputDataTypes(): TypeCheckResult =
    MinHash.checkTokens(prettyName, child)

  override protected def nullSafeEval(tokens: Any): Any =
    MinHash.shingles(tokens.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MinHash.shingles($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** MinHash signature of a token array ([[MinHash.signature]]). */
case class MinHashExpr(child: Expression, shingleSize: Int, numPerms: Int,
    baseMod: Long, prime: Long) extends UnaryExpression {
  require(shingleSize > 0, s"shingle size must be positive, got $shingleSize")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_minhash"

  override def checkInputDataTypes(): TypeCheckResult =
    MinHash.checkTokens(prettyName, child)

  override protected def nullSafeEval(tokens: Any): Any =
    MinHash.signature(tokens.asInstanceOf[ArrayData], shingleSize, numPerms, baseMod, prime)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.MinHash.signature(
         |  $c, $shingleSize, $numPerms, ${baseMod}L, ${prime}L);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
