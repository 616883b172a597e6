package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import TextFunctions.{HashBase, HashPrime, Mix, Mix2, TwoPow32, rollingHash, tokens}
import VectorFunctions.planeWeight

/**
 * Interpreted higher-order-function spellings of the native codegen'd
 * expressions in [[TextFunctions]] and [[VectorFunctions]]: the
 * formulations the DuckDB oracle replays in SQL, kept only to
 * cross-check the native kernels ([[HashExpressionsSpec]]).
 */
object HofTwins {

  /** [[TextFunctions.charTrigrams]] (per-position quadratic). Caller must
    * guard length >= 3 (`sequence(1, 0)` descends). */
  def charTrigramsHof(s: Column): Column =
    transform(sequence(lit(1), length(s) - lit(2)),
      i => org.apache.spark.sql.functions.substring(s, i, lit(3)))

  /** [[TextFunctions.rollingHash]]. Empty-string chars are filtered
    * because Spark's `split(s,"")` keeps a trailing empty element
    * (limit -1) while DuckDB's does not. */
  def rollingHashHof(s: Column): Column =
    aggregate(
      filter(split(s, ""), c => length(c) > 0),
      lit(0L),
      (h, c) => (h * HashBase + ascii(c)) % HashPrime)

  /** Word n-gram shingles as space-joined strings, e.g. n=3:
    * ["a","b","c","d"] → ["a b c", "b c d"]. Documents shorter than n
    * tokens yield an empty array (guarded: Spark's `sequence(0, -k)` counts
    * *down*, which would otherwise fabricate negative indices). */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
      .otherwise(array().cast("array<string>"))

  /** [[TextFunctions.shingleHashes]]. */
  def shingleHashesHof(text: Column, n: Int): Column =
    array_distinct(transform(shingles(tokens(text), n), rollingHash(_)))

  /** [[TextFunctions.shingleHashesAll]]. */
  def shingleHashesAllHof(text: Column, n: Int): Column =
    transform(shingles(tokens(text), n), rollingHash(_))

  /** [[TextFunctions.minhashSignature]]. */
  def minhashSignatureHof(hashes: Column, k: Int): Column =
    transform(sequence(lit(0), lit(k - 1)),
      i => array_min(transform(hashes,
        h => ((i * 2 + 1) * h + i * lit(7919L) + 1) % HashPrime)))

  /** One 32-bit SimHash half: a sign-counter fold over the tokens' rolling
    * hashes mixed by `mixer`. */
  private def simhashHalf(toks: Column, mixer: Long): Column = {
    val signBits: Column => Column = h =>
      array((0 until 32).map(i => (shiftright(h, i) % 2) * 2 - 1): _*)
    val acc = aggregate(
      transform(toks, t => (rollingHashHof(t) * mixer) % TwoPow32),
      array_repeat(lit(0L), 32),
      (a, h) => zip_with(a, signBits(h), (x, y) => x + y))
    (0 until 32)
      .map(i => when(element_at(acc, i + 1) > 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)
  }

  /** [[TextFunctions.simhash]] (one fold, the [[Mix]] half). */
  def simhashHof(toks: Column): Column = simhashHalf(toks, Mix)

  /** [[TextFunctions.simhash64]] (two 32-bit folds). */
  def simhash64Hof(toks: Column): Column =
    simhashHalf(toks, Mix).bitwiseOR(shiftleft(simhashHalf(toks, Mix2), 32))

  /** [[TextFunctions.topTokenCount]] over a token array. */
  def topTokenCountHof(toks: Column): Column =
    array_max(transform(array_distinct(toks),
      t => size(filter(toks, x => x === t)))).cast("long")

  /** [[TextFunctions.markerCount]] over a token array. */
  def markerCountHof(toks: Column, markers: Seq[String]): Column =
    size(filter(toks, t => t.isin(markers: _*)))

  /** [[VectorFunctions.lshBucket]] as an unrolled plane chain. */
  def lshBucketHof(v: Column, dim: Int, nPlanes: Int): Column =
    (0 until nPlanes).map { j =>
      val proj = (1 to dim)
        .map(i => element_at(v, i).cast("double") * lit(planeWeight(j, i, dim).toDouble))
        .reduce(_ + _)
      when(proj > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** [[VectorFunctions.dot]]: the left-associated product chain. */
  def dotUnrolled(a: Column, b: Column, dim: Int): Column =
    (1 to dim)
      .map(i => element_at(a, i).cast("double") * element_at(b, i).cast("double"))
      .reduce(_ + _)

  /** [[VectorFunctions.pqCode]]: min struct over per-code (left-assoc
    * distance chain, code) pairs. */
  def pqCodeUnrolled(v: Column, codebook: Seq[Seq[Double]], base: Int,
      dsub: Int): Column =
    least(codebook.zipWithIndex.map { case (cv, c) =>
      struct(l2ToLitUnrolled(v, cv, base).as("d"), lit(c).as("code"))
    }: _*).getField("code")

  /** [[VectorFunctions.l2ToLit]]: the left-associated squared-difference
    * chain. */
  def l2ToLitUnrolled(v: Column, target: Seq[Double], base: Int): Column =
    target.zipWithIndex.map { case (t, i) =>
      val d = element_at(v, base + i + 1).cast("double") - lit(t)
      d * d
    }.reduceLeft(_ + _)
}
