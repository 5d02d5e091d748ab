package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.operators.Dedup.MinHashParams

/** The composed SQL form of word shingles and MinHash signatures — the
  * form the DuckDB oracles replay — kept as the reference the native
  * kernels (`Dedup.shingles`, `Dedup.signatures`) are checked against.
  * The shingle lambda re-splits the text per element, and a text of fewer
  * than `n` tokens makes `slice` fail (its 1-based start reaches 0).
  */
object MinHashReference {

  def shingles(text: Column, n: Int): Column = {
    val w = TextFunctions.tokens(text)
    transform(sequence(lit(1), size(w) - (n - 1)),
      i => array_join(slice(w, i, lit(n)), " "))
  }

  /** For perm i, min over shingles of ((2i+1)*h + 98765i + 12345) mod
    * prime, h = hash60(shingle) mod baseMod.
    */
  def minhashSignature(text: Column, p: MinHashParams = MinHashParams()): Column = {
    val hs = transform(shingles(text, p.shingleSize),
      s => TextFunctions.hash60(s) % p.baseMod)
    array((0 until p.numPerms).map { i =>
      val a = 2L * i + 1; val b = 98765L * i + 12345L
      array_min(transform(hs, h => (h * a + b) % p.prime))
    }: _*)
  }
}
