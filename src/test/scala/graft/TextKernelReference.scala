package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The composed SQL forms of the native text kernels (`TextFunctions.hash60`,
  * `hash60lo`, `gramHashes`, `sortedRunStats`) — the forms the engine ran
  * before the kernels, and that the DuckDB oracles replay — kept as the
  * references the kernels are checked against.
  */
object TextKernelReference {

  def hash60(s: Column): Column = conv(substring(md5(s), 1, 15), 16, 10).cast("long")

  def hash60lo(s: Column): Column = conv(substring(md5(s), 18, 15), 16, 10).cast("long")

  private val (p1, p2, b) = (2147483647L, 2147483629L, 1000003L)

  /** The k-gram hash lambda over the bigint array column `ht`. The lambda
    * alone fails on an array of fewer than `k` elements (its sequence
    * descends and indexes out of bounds), which every engine caller
    * guarded against; here the guard gives the empty array, and a null
    * array stays null.
    */
  def gramHashesSql(ht: String, k: Int): String = {
    def chain(p: Long) = (1 until k).foldLeft(s"$ht[i-1]")((acc, j) =>
      s"(($acc) * $b + $ht[i-1 + $j]) % $p")
    s"""CASE WHEN $ht IS NULL THEN NULL WHEN size($ht) >= $k
      THEN transform(sequence(1, size($ht) - ${k - 1}),
        i -> (${chain(p1)}) * 2147483648 + (${chain(p2)}))
      ELSE CAST(array() AS array<bigint>) END"""
  }

  def gramHashes(ht: String, k: Int): Column = expr(gramHashesSql(ht, k))

  /** `(mx, sgl)` by sorting `arr` and folding (prev, cur, mx, sgl) over it. */
  def sortedRunStats(arr: String): Column = {
    val one = "CAST(1 AS BIGINT)"
    expr(s"""aggregate(array_sort($arr),
      named_struct('prev', CAST(-1 AS BIGINT), 'cur', CAST(0 AS BIGINT),
        'mx', CAST(0 AS BIGINT), 'sgl', CAST(0 AS BIGINT)),
      (st, x) -> IF(x = st.prev,
        named_struct('prev', x, 'cur', st.cur + $one, 'mx', st.mx,
          'sgl', st.sgl),
        named_struct('prev', x, 'cur', $one,
          'mx', greatest(st.mx, st.cur),
          'sgl', st.sgl + IF(st.cur = 1, $one, CAST(0 AS BIGINT)))),
      st -> named_struct('mx', greatest(st.mx, st.cur),
        'sgl', st.sgl + IF(st.cur = 1, $one, CAST(0 AS BIGINT))))""")
  }
}
