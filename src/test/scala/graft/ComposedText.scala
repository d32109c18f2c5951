package graft

import graft.functions.{TextFunctions => TF}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The composed Column forms of the native text expressions
 * (`word_shingles`, `shingle_minhash`, `shingle_simhash`,
 * `rolling_window_hashes`), kept only as equivalence oracles; the DuckDB
 * oracles mirror them. The windowed forms re-evaluate their input array
 * once per window: O(tokens²) per document on a tokenizer expression. */
object ComposedText {

  /** The dedup/scoring shape: concat_ws over a slice per window. */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
      .otherwise(typedLit(Seq.empty[String]))

  /** The decontamination shape: array_join over a slice per window. */
  def joinedGrams(words: Column, n: Int): Column =
    when(size(words) >= n,
      transform(sequence(lit(0), size(words) - lit(n)),
        i => array_join(slice(words, i + lit(1), lit(n)), " ")))
      .otherwise(array().cast("array<string>"))

  /**
   * MinHash signature over DISTINCT token codes: k permutations
   * h_i(x) = (a_i * x + b_i) mod (2^31-1), deterministic (a_i, b_i) from a
   * fixed seed table. Returns array<long> of length k.
   */
  def minhashSignature(codes: Column, k: Int): Column = {
    val d = array_distinct(codes)
    val sigs = (0 until k).map { i =>
      val a = 1000003L + 2L * i // odd multipliers
      val b = 12345L + 97L * i
      array_min(transform(d, x => (lit(a) * x + lit(b)) % lit(TF.HashMod)))
    }
    array(sigs: _*)
  }

  /**
   * 32-bit SimHash over DISTINCT token codes: bit j of the result is set
   * iff the majority of tokens have bit j set (ties count as set).
   */
  def simhash(codes: Column): Column = {
    val d = array_distinct(codes)
    (0 until 32).map { j =>
      val votes = aggregate(d, lit(0L),
        (acc, c) => acc + when(shiftright(c, j) % 2 === 1, 1L).otherwise(-1L))
      when(votes >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** The P11 fingerprint fold refolded over every `w`-token window. */
  def windowHashes(toks: Column, w: Int): Column =
    when(size(toks) >= w,
      transform(sequence(lit(0), size(toks) - w),
        i => TF.rollingFingerprint(TF.tokenCodes(slice(toks, i + 1, lit(w))))))
      .otherwise(typedLit(Seq.empty[Long]))
}
