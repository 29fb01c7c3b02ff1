package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Cross-engine deterministic hashing primitives.
  *
  * Spark's native `hash()`/`xxhash64()` have no DuckDB equivalent, so every
  * hash that must be oracle-checkable goes through md5 hex: take the first
  * 15 hex chars (60 bits, fits a signed 64-bit int) and parse base-16.
  * Spark: `conv(substring(md5(s),1,15),16,10)::long`; DuckDB:
  * `('0x'||substr(md5(s),1,15))::BIGINT` — verified bit-identical.
  *
  * All Column builders here are built-in expressions (codegen'd); md5 is
  * not as cheap as xxhash64 but stays vectorized and map-only. Swap
  * [[hash60]]'s body for `xxhash64` when oracle parity is not required.
  */
object TextHash {

  val Mersenne61 = (1L << 61) - 1

  /** 60-bit deterministic hash of a string column, identical in DuckDB.
    * Computed by the native [[GramExpressions.Hash60]] kernel (one
    * codegen'd md5 + bit extract per row — the relational
    * conv(substring(md5)) twin materialized and re-parsed the hex
    * string); values are bit-identical, proven by the full oracle.
    */
  def hash60(s: Column): Column =
    GramFunctions.hash60(s.cast("string"))

  /** Seeded variant: k independent hash functions via seed-prefixing —
    * h_i(x) = hash60(i || ':' || x). Engine-portable and uniform (md5
    * avalanche) but pays one md5 per (seed, value); prefer
    * [[mixSeeded]] over a single [[hash60]] when k hashes of the same
    * value are needed.
    */
  def hash60Seeded(s: Column, seed: Int): Column =
    hash60(concat_ws(":", lit(seed.toString), s.cast("string")))

  /** Per-seed affine constants for [[mixSeeded]], from a deterministic
    * LCG (same MMIX multiplier as SimilaritySearch.hyperplanes). a,b are
    * odd 31-bit, c is 60-bit.
    */
  def mixConstants(numSeeds: Int): Array[(Long, Long, Long)] = {
    var state = 0x2545F4914F6CDD1DL
    def next(): Long = {
      state = state * 6364136223846793005L + 1442695040888963407L
      state >>> 3
    }
    Array.fill(numSeeds)((
      (next() & 0x7FFFFFFFL) | 1L,
      (next() & 0x7FFFFFFFL) | 1L,
      next() & ((1L << 60) - 1)))
  }

  /** k-th universal-style hash of an existing 60-bit hash, md5-free:
    * h_k = (a_k*(h & 2^30-1) + b_k*(h >> 30) + c_k) mod (2^61-1).
    * All terms stay under 2^63 (no overflow — DuckDB would raise on it),
    * all ops are plain codegen'd arithmetic, and the formula is embedded
    * verbatim in the oracle SQL. One md5 + k mixes replaces k md5s.
    */
  def mixSeeded(h: Column, seed: Int, constants: Array[(Long, Long, Long)]): Column = {
    val (a, b, c) = constants(seed)
    (lit(a) * h.bitwiseAND(0x3FFFFFFFL) + lit(b) * shiftright(h, 30) + lit(c)) % Mersenne61
  }

  /** Word shingles: array of n-grams of `n` consecutive whitespace tokens.
    * Documents shorter than n tokens yield their single full-token join, so
    * every non-empty document has >=1 shingle (MinHash needs a non-empty
    * set).
    */
  def wordShingles(text: Column, n: Int): Column = {
    val toks = split(trim(text), "\\s+")
    val starts = sequence(lit(0), greatest(size(toks) - n, lit(0)))
    transform(starts, i => concat_ws(" ", slice(toks, i + 1, lit(n))))
  }

  /** Character shingles of length k (positions 1..len-k+1). */
  def charShingles(text: Column, k: Int): Column = {
    val starts = sequence(lit(1), greatest(length(text) - (k - 1), lit(1)))
    transform(starts, i => text.substr(i, lit(k)))
  }

  /** SimHash over word shingles: for each of `bits` bit positions, sum
    * +1/-1 according to that bit of each shingle's hash; the sign vector
    * packed into a long. Hamming-close simhashes => similar shingle sets.
    */
  def simHash(shingles: Column, bits: Int = 16): Column = {
    val hashes = transform(shingles, s => hash60(s))
    (0 until bits).map { b =>
      val bitSum = aggregate(hashes, lit(0L),
        (acc, h) => acc + when(shiftright(h, b).bitwiseAND(1L) === 1L, 1L).otherwise(-1L))
      when(bitSum > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
  }
}
