package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text kernels over string columns — pure Catalyst expressions
  * (split / transform / aggregate / hash), no UDFs, so tokenization
  * and fingerprinting stay inside whole-stage codegen at any scale.
  */
object TextOps {

  /** Whitespace tokens (the fixture corpus is space-separated
    * lowercase words; see FIXTURES.md `documents`). */
  def words(text: Column): Column = split(text, " ")

  /** Distinct word n-gram shingles, e.g. n=3: "a b c", "b c d", …
    * Documents shorter than n words yield an empty array. Backed by
    * the compiled [[graft.plans.expressions.WordShingles]] expression
    * (per-row, shuffle-free, ~10× the interpreted-HOF throughput). */
  def shingles(text: Column, n: Int): Column =
    graft.plans.expressions.word_shingles(text, n)

  /** ALL shingle occurrences (multiplicity kept) — the counting
    * contract for frequency models; same compiled kernel family as
    * [[shingles]]. */
  def shinglesAll(text: Column, n: Int): Column =
    graft.plans.expressions.word_shingles_all(text, n)

  /** 64-bit SimHash over distinct tokens — the reference-free nested-HOF
    * formulation re-evaluates the token-hash array O(64²) per row after
    * Catalyst inlines used-once projections, so this is deliberately a
    * small per-row expression test helper ONLY; the production operator
    * is [[graft.operators.Dedup.simhashFingerprints]] (explode + one
    * codegen'd 64-column hash aggregate). */
  def simhash64(text: Column): Column = {
    import graft.operators.Dedup
    val aArr = array(Dedup.SimhashA.map(lit): _*)
    val bArr = array(Dedup.SimhashB.map(lit): _*)
    val th = transform(array_distinct(words(text)), t => rollingFingerprintHof(t))
    val bits = transform(
      sequence(lit(0), lit(63)),
      i => aggregate(th, lit(0),
        (acc, f) => acc + when(
          pmod(element_at(aArr, i + 1) * f + element_at(bArr, i + 1),
            lit(Dedup.HashP)).bitwiseAND(lit(1L)) === 1, 1).otherwise(-1)))
    aggregate(
      sequence(lit(0), lit(63)),
      lit(0L),
      (acc, i) => acc + when(element_at(bits, i + 1) > 0,
        call_function("shiftleft", lit(1L), i)).otherwise(lit(0L)))
  }

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming64(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Polynomial rolling-hash fingerprint of the whole text:
    * fold h = (h*31 + codepoint) mod (1e9+7) over the characters.
    * The modulus keeps every intermediate < 2^36, so the fold is safe
    * under ANSI-mode overflow checking (Spark 4 default) and is
    * reproducible in any engine with 64-bit integer arithmetic.
    * Deterministic, order-sensitive, per-row. Backed by the compiled
    * [[graft.plans.expressions.RollingFingerprint]] (the HOF twin
    * below builds an O(len) array + two interpreted lambda calls per
    * character). */
  val FingerprintMod: Long = graft.plans.expressions.FingerprintMod
  def rollingFingerprint(text: Column): Column =
    graft.plans.expressions.rolling_fingerprint(text)

  /** The pure-HOF fingerprint formulation — semantically identical to
    * [[rollingFingerprint]]; kept as the built-ins-only reference for
    * equivalence tests. */
  def rollingFingerprintHof(text: Column): Column =
    aggregate(
      transform(sequence(lit(1), length(text)),
        i => call_function("ascii", call_function("substr", text, i, lit(1)))),
      lit(0L),
      (acc, c) => pmod(acc * lit(31L) + c.cast("long"), lit(FingerprintMod)))
}
