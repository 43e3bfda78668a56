package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text / dedup primitives for the LLM-data-pipeline operators
  * (SURVEY §2.9), composed from Spark built-ins so they stay inside
  * codegen and require no UDF.
  *
  * Scale note: everything here is a per-row expression; the heavy parts
  * (MinHash banding, shingle explosion) shuffle only on compact keys
  * (band hashes, shingle strings) — never on pairwise row combinations.
  */
object TextFunctions {

  /** Whitespace word tokens, empties dropped — the native codegen kernel
    * (ShingleKernels.wordTokens), bit-identical to [[wordTokensRef]]
    * (parity property-pinned in TextFunctionsSpec). Built straight from
    * the registry (GraftFunctions.native), so no session registration is
    * needed at any of the ~40 call sites. */
  def wordTokens(text: Column): Column = GraftFunctions.native("word_tokens", text)

  /** The HOF reference form of [[wordTokens]] — kept as the parity
    * oracle: the filter lambda evaluates interpreted per token, which is
    * why the hot path uses the kernel (guide §4.1). */
  def wordTokensRef(text: Column): Column =
    filter(split(text, " "), t => length(t) > 0)

  /** Distinct character k-shingles of a string. */
  def charShingles(text: Column, k: Int): Column =
    array_distinct(
      transform(
        sequence(lit(1), greatest(length(text) - (k - 1), lit(1))),
        i => substring_index_safe(text, i, k)))

  private def substring_index_safe(text: Column, i: Column, k: Int): Column =
    text.substr(i, lit(k))

  /** Distinct word n-shingles (space-joined n-grams of tokens). */
  def wordShingles(tokens: Column, n: Int): Column = {
    val idx = sequence(lit(1), greatest(size(tokens) - (n - 1), lit(1)))
    array_distinct(transform(idx, i =>
      concat_ws(" ", (0 until n).map(j => element_at(tokens, i + j)): _*)))
  }

  /** Stable 64-bit hash of each shingle (xxhash64, fixed seed). */
  def shingleHashes(shingles: Column): Column =
    transform(shingles, s => xxhash64(s))

  private val MersennePrime = 2147483647L // 2^31 - 1
  // deterministic affine-permutation parameters (a odd, b arbitrary)
  private def perm(i: Int): (Long, Long) =
    (2L * i + 1L + 104729L * i, 7919L * (i + 1))

  /** MinHash signature: array of `numPerms` minima over affine
    * permutations of the shingle hashes, all mod 2^31-1 so ANSI-mode
    * long arithmetic can't overflow.
    */
  def minhashSignature(hashes: Column, numPerms: Int): Column = {
    val positive = transform(hashes, h => pmod(h, lit(MersennePrime)))
    array((0 until numPerms).map { i =>
      val (a, b) = perm(i)
      array_min(transform(positive, h =>
        pmod(h * lit(a % MersennePrime) + lit(b), lit(MersennePrime))))
    }: _*)
  }

  /** Group a minhash signature into `bands` band-hash values. */
  def bandHashes(signature: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      xxhash64(lit(b), concat_ws(",",
        (1 to rowsPerBand).map(r => element_at(signature, b * rowsPerBand + r)): _*))
    }: _*)

  /** SimHash-48 of token array: per-bit majority vote of token hashes.
    * 48 bits (not 64) so the MSB-first fold `acc*2 + bit` can never
    * overflow a long under ANSI arithmetic checks.
    */
  def simhash48(tokens: Column): Column = {
    val hashes = transform(tokens, t => xxhash64(t))
    val bitSums = transform(sequence(lit(0), lit(47)), i =>
      aggregate(hashes, lit(0),
        (acc, h) => acc + when(bit_get(h, i) === 1, 1).otherwise(-1)))
    aggregate(
      sequence(lit(47), lit(0), lit(-1)),
      lit(0L),
      (acc, i) => acc * 2L + when(element_at(bitSums, i + 1) > 0, 1L).otherwise(0L))
  }

  /** Karp–Rabin rolling fingerprint of the first `n` chars (base 31,
    * mod 2^52 — stays inside long under ANSI overflow checks).
    */
  def rollingFingerprint(text: Column, n: Int): Column = {
    val codes = transform(split(substring(text, 1, n), ""), ch => ascii(ch))
    aggregate(codes, lit(0L),
      (acc, c) => (acc * 31L + c.cast("long")) % lit(4503599627370496L))
  }

  /** Polynomial hash (base 31, mod 2⁵²) of every k-word gram of `words`
    * — ≥ 1 gram even for short inputs (the charShingles clamp). Engine-
    * portable: DuckDB's list_reduce over the same arithmetic folds to
    * identical values (l9's equivalence: a first-element fold equals a
    * 0-initialized one under this hash). */
  def kgramHashes(words: Column, k: Int): Column =
    GraftFunctions.native("kgram_hashes", words, k)

  /** The HOF reference form of [[kgramHashes]] — kept as the parity
    * oracle: the per-character fold evaluates interpreted (one boxed
    * lambda call per char per gram), which is why the hot path uses the
    * kernel (guide §4.1). */
  def kgramHashesRef(words: Column, k: Int): Column =
    transform(
      sequence(lit(1), greatest(size(words) - (k - 1), lit(1))),
      i => aggregate(
        split(array_join(slice(words, i, lit(k)), " "), ""),
        lit(0L),
        (acc, c) => (acc * 31L + ascii(c).cast("long")) %
          lit(4503599627370496L)))

  /** Count of the most frequent element of `tokens`: sort + ONE
    * run-length pass, O(n log n) per row. Replaces the
    * `array_max(transform(array_distinct(w), x -> size(filter(w, …))))`
    * form, which re-scans the whole array once per distinct token —
    * O(n²) through interpreted lambdas on long documents (the r8
    * verdict's only demonstrated per-row asymptotic defect). NULL on
    * empty input, matching array_max-over-empty / DuckDB list_max so
    * oracle parity is unchanged. */
  def topTokenCount(tokens: Column): Column = {
    val run = (prev: Column, x: Column, r: Column) =>
      when(prev.eqNullSafe(x), r + 1L).otherwise(lit(1L))
    when(size(tokens) === 0, lit(null).cast("long")).otherwise(
      aggregate(
        array_sort(tokens),
        struct(lit(null).cast("string").as("prev"),
          lit(0L).as("run"), lit(0L).as("best")),
        (s, x) => {
          val r = run(s.getField("prev"), x, s.getField("run"))
          struct(x.as("prev"), r.as("run"),
            greatest(s.getField("best"), r).as("best"))
        },
        s => s.getField("best")))
  }

  /** All k-word grams of `tokens` IN ORDER, non-distinct — counting
    * signals need multiplicity where `wordShingles` dedups for set
    * semantics. ≥ 1 gram even for short inputs (the charShingles
    * clamp); try_element_at past the end yields NULL, which concat_ws
    * skips (plain element_at would THROW under Spark 4's ANSI mode —
    * the l17 rule). */
  def wordGrams(tokens: Column, n: Int): Column = {
    val idx = sequence(lit(1), greatest(size(tokens) - (n - 1), lit(1)))
    transform(idx, i =>
      concat_ws(" ",
        (0 until n).map(j => try_element_at(tokens, i + lit(j))): _*))
  }

  private def runLen(prev: Column, x: Column, r: Column): Column =
    when(prev.eqNullSafe(x), r + 1L).otherwise(lit(1L))

  /** count(g)·length(g) of the gram COVERING the most characters — the
    * numerator of Gopher's "fraction of characters in the most frequent
    * n-gram" (Rae et al. 2022, table A1) under a deterministic tie rule
    * (max over grams of count·length — count-then-text would need a
    * second pass; any fixed rule serves the filter). Sort + ONE
    * run-length pass, O(n log n) per row — the topTokenCount machinery,
    * not the O(n²) distinct×filter form. 0 on empty input. */
  def topGramCharCount(grams: Column): Column =
    aggregate(
      array_sort(grams),
      struct(lit(null).cast("string").as("prev"),
        lit(0L).as("run"), lit(0L).as("best")),
      (s, x) => {
        val r = runLen(s.getField("prev"), x, s.getField("run"))
        struct(x.as("prev"), r.as("run"),
          greatest(s.getField("best"),
            r * length(x).cast("long")).as("best"))
      },
      s => s.getField("best"))

  /** Σ count(g)·length(g) over grams occurring ≥ 2 times — Gopher's
    * "characters in duplicate n-grams" numerator. Same sorted
    * run-length pass: a run's second member contributes 2·len (itself
    * plus the retroactive first copy), members after contribute len —
    * so a run of c ≥ 2 totals c·len and singletons contribute 0. */
  def dupGramCharCount(grams: Column): Column =
    aggregate(
      array_sort(grams),
      struct(lit(null).cast("string").as("prev"),
        lit(0L).as("run"), lit(0L).as("tot")),
      (s, x) => {
        val r = runLen(s.getField("prev"), x, s.getField("run"))
        struct(x.as("prev"), r.as("run"),
          (s.getField("tot") +
            when(r === 2L, length(x).cast("long") * 2L)
              .when(r > 2L, length(x).cast("long"))
              .otherwise(lit(0L))).as("tot"))
      },
      s => s.getField("tot"))

  /** Winnowing selection (Schleimer, Wilkerson, Aiken 2003): the min
    * hash of every w-wide window, deduped and sorted — any shared run
    * of ≥ k+w−1 tokens between two documents shares ≥ 1 selected
    * fingerprint, at ~2/(w+1) density. Leftmost-min tie-break (robust
    * winnowing's rightmost rule is a documented divergence; the
    * guarantee holds for any fixed rule). */
  def winnow(hashes: Column, w: Int): Column =
    array_sort(array_distinct(transform(
      sequence(lit(1), greatest(size(hashes) - (w - 1), lit(1))),
      j => array_min(slice(hashes, j, lit(w))))))
}
