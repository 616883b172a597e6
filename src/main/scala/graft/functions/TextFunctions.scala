package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Deterministic text primitives for the training-data-pipeline operators
 * (dedup, fingerprinting, language-ID, quality scoring).
 *
 * These extend the reference's scope — `data-integrations/lookup-transform`
 * contains a single lookup-join operator and no scalar function library
 * (SURVEY.md §2.2) — and are part of this engine's north-star surface
 * (SURVEY.md §2.3 Tier B).
 *
 * Design constraints:
 *   - Pure `org.apache.spark.sql.functions` compositions (codegen-friendly;
 *     no UDFs), so Catalyst can prune/push down around them.
 *   - Integer-exact math (polynomial hashes mod a prime) so results are
 *     bit-reproducible across engines — every function here can be mirrored
 *     exactly in ANSI SQL for the DuckDB correctness oracle.
 *   - Per-row only: nothing in this file shuffles. Operators compose these
 *     into plans; the functions themselves scale linearly with input size.
 */
object TextFunctions {

  /** Modulus for polynomial hashes: a prime < 2^30, so `base * h + char`
    * stays far below 2^63 (no overflow in Spark or in DuckDB, whose BIGINT
    * arithmetic raises on overflow rather than wrapping). */
  val HashPrime = 1000000007L

  /** Polynomial base — classic Horner base-31 string hash. */
  val HashBase = 31L

  /** Knuth multiplicative constant used to spread the ~30 significant bits
    * of a mod-prime hash across all 32 output bits (for SimHash). */
  val Mix = 2654435761L
  val TwoPow32 = 4294967296L

  /** Second multiplicative mixer (xxHash's public PRIME32_2), filling the
    * HIGH 32 bits of [[simhash64]] from the same per-token rolling hash.
    * Like [[Mix]], the product with a mod-1e9+7 hash stays under 2⁶³, so
    * the DuckDB oracle replays it in plain BIGINT arithmetic. */
  val Mix2 = 2246822519L

  /** Whitespace tokenization. The corpus contract (TESTDATA.md documents
    * table) is single-space-separated tokens; `split` on a single space is
    * exactly mirrored by DuckDB's `string_split(text, ' ')`. */
  def tokens(text: Column): Column = split(text, " ")

  private def native(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(e)
  private def expr(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.graft.ColumnBridge.expression(c)

  /** Horner rolling hash: fold `(h*31 + byte) % p` left to right over the
    * UTF-8 bytes (== the SQL oracle's char-level `ascii()` fold on ASCII
    * corpora). Native codegen'd expression; its HOF spelling is the
    * test-scope parity twin `HofTwins.rollingHashHof`. */
  def rollingHash(s: Column): Column = native(catalyst.RollingHashBytes(expr(s)))

  /** All length-3 character substrings of `s`, one forward pass (codegen'd
    * [[catalyst.CharTrigrams]]; r16 opt) — replaces the O(len²)
    * `transform(sequence(1, length-2), i -> substring(s, i, 3))` spelling
    * (test-scope parity twin `HofTwins.charTrigramsHof`). <3-char strings
    * yield an empty array. */
  def charTrigrams(s: Column): Column = native(catalyst.CharTrigrams(expr(s)))

  /** 32-bit mixed token hash for SimHash bit sampling. */
  def mix32(h: Column): Column = (h * Mix) % TwoPow32

  /** Distinct shingle hashes for a document: the MinHash/Jaccard input set.
    * Native one-pass expression; its HOF twin is test-scope `HofTwins`. */
  def shingleHashes(text: Column, n: Int): Column =
    native(catalyst.ShingleHashes(expr(text), n))

  /** Whether [[shingleHashes]] of `text` is non-empty (null for a null
    * text), by a space-byte scan that stops after `n` tokens: the
    * emptiness filter to put on the text, below the projection of its
    * shingles, so the shingling runs once. */
  def hasShingles(text: Column, n: Int): Column =
    native(catalyst.HasShingles(expr(text), n))

  /** ALL shingle hashes (duplicates kept, position order) — the multiset
    * twin of [[shingleHashes]] for term-frequency-weighted operators.
    * Native one-pass expression; its HOF twin is test-scope `HofTwins`. */
  def shingleHashesAll(text: Column, n: Int): Column =
    native(catalyst.ShingleHashesAll(expr(text), n))

  /** MinHash signature of a hash-set column: `k` signatures, where
    * `sig_i = min over h of ((2i+1)*h + 7919*i + 1) mod p`. The coefficient
    * family is fixed and public so the DuckDB oracle can replay it.
    * Empty input → null signatures (callers filter empty shingle sets).
    * Native codegen'd expression; its HOF twin is test-scope `HofTwins`. */
  def minhashSignature(hashes: Column, k: Int): Column =
    native(catalyst.MinHashSig(expr(hashes), k))

  /** Fixed-width binary LSH band keys of a k-long signature: element b
    * packs the non-null values of `sig[b*r .. b*r+r-1]` as big-endian
    * 4-byte words — the narrow-shuffle-key replacement for the
    * `concat_ws("_", slice(sig, b*r+1, r))` string spelling, with
    * IDENTICAL equality classes (both injective on the non-null value
    * subsequence; MinHash values are mod 1e9+7 < 2^32). See
    * [[catalyst.BandKeyBytes]]. */
  def bandKeyBytes(sig: Column, r: Int, bands: Int): Column =
    native(catalyst.BandKeyBytes(expr(sig), r, bands))

  /** 32-bit SimHash over the token multiset (term-frequency weighted).
    * Per token: 32 sign contributions (+1 if bit set, else -1) accumulated
    * into a 32-wide counter array; final bit i is set iff counter_i > 0.
    * Entirely per-row (no shuffle). Native codegen'd expression; its HOF
    * twin is test-scope `HofTwins`. */
  def simhash(toks: Column): Column = native(catalyst.SimHash32(expr(toks)))

  /** 64-bit term-frequency SimHash — the scale face of [[simhash]]: the
    * same per-token rolling hash drives two independent 32-bit mixes
    * ([[Mix]] → low half, identical to [[simhash]]; [[Mix2]] → high
    * half). 32 bits stop separating corpora past ~10⁵ docs (random pairs
    * collide within Hamming ≤ 3 at C(32,≤3)/2³² ≈ 1.3e-6 — ~160 K false
    * pairs at 500 K docs — and the pigeonhole blocks run out of entropy);
    * 64 bits push the false-pair rate to ~2e-15 and give 16-bit blocks.
    * Low-half identity `sh64 & 0xFFFFFFFF == sh32` is spec-pinned. */
  def simhash64(toks: Column): Column = native(catalyst.SimHash64(expr(toks)))

  /** Maximum term frequency of the text's tokens (repetition signal).
    * Native one-pass expression; its HOF twin is test-scope `HofTwins`. */
  def topTokenCount(text: Column): Column =
    native(catalyst.TokenModeCount(expr(text)))

  /** One-pass feature-hash summary `[nnz, l1, checksum]` of the text's
    * d-dimensional hashing-trick count vector — the per-row shuffle-free
    * face of `TextAnalysis.featureHash` (the relational explode-agg twin
    * is spec-pinned identical). */
  def featureHashSummary(text: Column, d: Int): Column =
    native(catalyst.FeatureHashSummary(expr(text), d))

  /** Pigeonhole blocks of a 32-bit SimHash: 4 bytes. Two hashes within
    * Hamming distance 3 must agree on at least one byte (4 blocks, ≤3
    * differing bits ⇒ some block untouched), so blocking on
    * (block_id, block_value) is *lossless* for distance ≤ 3. */
  def simhashBlocks(sh: Column): Column =
    array((0 until 4).map(b =>
      struct(lit(b).as("block_id"),
        (shiftright(sh, 8 * b) % 256).as("block_val"))): _*)

  /**
   * [[simhashBlocks]] with NESTED pigeonhole refinement — the scale fix
   * for the 8-bit-block wall: 4 blocks of a 32-bit hash give only 256
   * bucket values per block, so the blocked pair self-join's candidate
   * volume grows ~n²/256 per block — quadratic at any corpus size (the
   * round-9 100× probe killed q99 on exactly this).
   *
   * Each refinement level re-applies the pigeonhole argument INSIDE a
   * block's bucket: for a pair within Hamming ≤ 3, some 8-bit block b is
   * intact; all ≤ 3 differing bits then lie in b's 24-bit complement, so
   * splitting that complement into 4 sub-blocks leaves ≥ 1 sub-block
   * intact — key (b, s, both values) still collides for every true pair.
   * Level 2 repeats on the 18-bit remainder (sub-widths 5/5/4/4), so
   * depth-2 keys are 8+6+5 = 19 bits for the width-5 tables and
   * 8+6+4 = 18 bits for the width-4 ones — a 2¹⁸–2¹⁹ space per table,
   * NOT a uniform 2¹⁸ (sizing thresholds key off the smaller figure,
   * which is the conservative side). Each level multiplies emitted keys
   * by 4 and widens the bucket key by 4-6 bits, shrinking expected
   * occupancy ~16-64× — candidates stay ~linear while the blocking
   * stays LOSSLESS for maxHamming ≤ 3 at every depth (spec-pinned:
   * pair sets identical across depths).
   *
   * Output schema matches [[simhashBlocks]] ((block_id, block_val)), so
   * callers' join shape is unchanged; depth 0 IS [[simhashBlocks]].
   * All widths are literal → one codegen'd projection, no shuffle.
   */
  def simhashBlocksAt(sh: Column, depth: Int): Column = {
    require(depth >= 0 && depth <= 2, s"depth must be 0..2, got $depth")
    // drop w bits at offset off (value keeps its remaining bits packed)
    def rm(v: Column, off: Int, w: Int): Column =
      v.bitwiseAND(lit((1L << off) - 1))
        .bitwiseOR(shiftleft(shiftright(v, off + w), off))
    def ext(v: Column, off: Int, w: Int): Column =
      shiftright(v, off).bitwiseAND(lit((1L << w) - 1))
    depth match {
      case 0 => simhashBlocks(sh)
      case 1 => array((for { b <- 0 until 4; s <- 0 until 4 } yield {
        val compl = rm(sh, 8 * b, 8) // 24 bits
        struct(lit(b * 4 + s).as("block_id"),
          ext(sh, 8 * b, 8).bitwiseOR(shiftleft(ext(compl, 6 * s, 6), 8))
            .as("block_val"))
      }): _*)
      case 2 =>
        val off = Seq(0, 5, 10, 14); val w = Seq(5, 5, 4, 4)
        array((for { b <- 0 until 4; s <- 0 until 4; t <- 0 until 4 } yield {
          val compl = rm(sh, 8 * b, 8)   // 24 bits
          val compl2 = rm(compl, 6 * s, 6) // 18 bits
          struct(lit((b * 4 + s) * 4 + t).as("block_id"),
            ext(sh, 8 * b, 8)
              .bitwiseOR(shiftleft(ext(compl, 6 * s, 6), 8))
              .bitwiseOR(shiftleft(ext(compl2, off(t), w(t)), 14))
              .as("block_val"))
        }): _*)
    }
  }

  /** Refinement depth for [[simhashBlocksAt]] from the corpus count:
    * smallest depth whose bucket-key space (2⁸ / 2¹⁴ / 2¹⁸–2¹⁹, the
    * conservative lower figure — see [[simhashBlocksAt]]) keeps
    * expected occupancy ≤ `targetBucket` — the q264/q268 auto-sizing
    * rule applied to the pigeonhole family. The default target folds in
    * the empirically-measured ~16× bucket concentration of templated
    * text over the uniform model (SimHash bits driven by ubiquitous
    * tokens are near-constant corpus-wide, so blocks carry less entropy
    * than their width; p99 occupancy at depth 0 measured 16× uniform on
    * the synthetic corpus) — thresholds land at 2¹⁰ and 2¹⁶ values. */
  def pigeonholeDepthFor(n: Long, targetBucket: Int = 4): Int =
    if (n <= (1L << 8) * targetBucket) 0
    else if (n <= (1L << 14) * targetBucket) 1
    else 2

  /**
   * Pigeonhole blocks of a 64-bit SimHash with the same nested-refinement
   * scheme as [[simhashBlocksAt]]: depth 0 = 4 blocks of 16 bits (any
   * ≤ 3 bit flips leave one intact); depth 1 splits each block's 48-bit
   * complement into 4×12 (28-bit keys, 16 tables); depth 2 splits the
   * 36-bit remainder into 4×9 (37-bit keys, 64 tables). Lossless for
   * maxHamming ≤ 3 at every depth by the same argument (spec-pinned).
   *
   * Key spaces per table — 2¹⁶ / 2²⁸ / 2³⁷ vs the 32-bit family's
   * 2⁸ / 2¹⁴ / 2¹⁸–2¹⁹ — are why this is the at-scale face: the 32-bit
   * blocks exhaust their entropy near 10⁵ docs (230 M candidates at the
   * round-9 100× probe point, depth 2 already maxed) while depth 1 here
   * holds expected occupancy ≤ 4 past 10⁹ docs.
   *
   * Bit extraction uses AND masks (never `%`): bit 63 makes the hash a
   * negative Long, and Spark's `shiftright` is arithmetic — the masks
   * keep every key positive and the sign-extension bits are never read.
   */
  def simhash64BlocksAt(sh: Column, depth: Int): Column = {
    require(depth >= 0 && depth <= 2, s"depth must be 0..2, got $depth")
    // drop w bits at offset off (value keeps its remaining bits packed);
    // only the low (64 - w - off) result bits are meaningful — callers
    // never extract beyond them
    def rm(v: Column, off: Int, w: Int): Column =
      v.bitwiseAND(lit((1L << off) - 1))
        .bitwiseOR(shiftleft(shiftright(v, off + w), off))
    def ext(v: Column, off: Int, w: Int): Column =
      shiftright(v, off).bitwiseAND(lit((1L << w) - 1))
    depth match {
      case 0 => array((0 until 4).map(b =>
        struct(lit(b).as("block_id"),
          ext(sh, 16 * b, 16).as("block_val"))): _*)
      case 1 => array((for { b <- 0 until 4; s <- 0 until 4 } yield {
        val compl = rm(sh, 16 * b, 16) // 48 valid bits
        struct(lit(b * 4 + s).as("block_id"),
          ext(sh, 16 * b, 16).bitwiseOR(shiftleft(ext(compl, 12 * s, 12), 16))
            .as("block_val"))
      }): _*)
      case 2 =>
        array((for { b <- 0 until 4; s <- 0 until 4; u <- 0 until 4 } yield {
          val compl = rm(sh, 16 * b, 16)    // 48 valid bits
          val compl2 = rm(compl, 12 * s, 12) // 36 valid bits
          struct(lit((b * 4 + s) * 4 + u).as("block_id"),
            ext(sh, 16 * b, 16)
              .bitwiseOR(shiftleft(ext(compl, 12 * s, 12), 16))
              .bitwiseOR(shiftleft(ext(compl2, 9 * u, 9), 28))
              .as("block_val"))
        }): _*)
    }
  }

  /** [[pigeonholeDepthFor]] for the 64-bit block family (key spaces
    * 2¹⁶ / 2²⁸ / 2³⁷). Depth 0 covers ~2.6·10⁵ docs at the default
    * target, depth 1 past 10⁹ — depth 2 is headroom, not expectation. */
  def pigeonholeDepthFor64(n: Long, targetBucket: Int = 4): Int =
    if (n <= (1L << 16) * targetBucket) 0
    else if (n <= (1L << 28) * targetBucket) 1
    else 2

  /** "BPE-ish" token count: alpha runs, digit runs, and single punctuation
    * marks each count as one token (a crude subword proxy; same RE2/Java
    * regex semantics for this pattern). */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"), lit(0)))

  /** Stopword hit count over a fixed public marker list: whole-token
    * matches counted in one regex pass. Token-equality equivalent on
    * single-space-tokenized text (the corpus contract — see [[tokens]]):
    * the lookahead keeps the trailing delimiter unconsumed so adjacent
    * markers all count. Formulated this way because lambda HOFs are
    * CodegenFallback and knock the whole projection out of whole-stage
    * codegen; the test-scope `HofTwins.markerCountHof` is the parity
    * twin. */
  def markerCount(text: Column, markers: Seq[String]): Column =
    size(regexp_extract_all(text,
      lit("(?:^| )(?:" + markers.mkString("|") + ")(?= |$)"), lit(0)))

  /** Per-language marker lists for the n-gram/stopword language-ID
    * heuristic. Fixed and public so the SQL oracle can replay them. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "es" -> Seq("el", "la", "los", "y", "que", "es"),
    "fr" -> Seq("le", "les", "des", "et", "une", "est"))

  /** Han (CJK Unified Ideographs) regex — the character-class branch of
    * the language-ID heuristic: Chinese is not whitespace-tokenized, so
    * stopword markers can never fire on it; a single Han codepoint is a
    * stronger signal than any marker count. Same pattern syntax in Java
    * regex (Spark) and RE2 (the DuckDB oracle). */
  val HanRegex = "[\\x{4e00}-\\x{9fff}]"

  /** Count of Han ideographs in the text (codegen'd regex pass). */
  def cjkCount(text: Column): Column =
    size(regexp_extract_all(text, lit(HanRegex), lit(0)))

  /** All [[LangMarkers]] lists counted in ONE native tokenization pass
    * (array of per-list counts) — replaces one regex scan per language.
    * Whole-token semantics identical to [[markerCount]] (parity spec). */
  def langMarkerCounts(text: Column): Column =
    native(catalyst.MarkerCounts(expr(text), LangMarkers.map(_._2)))

  /** The language vote over a MATERIALIZED counts array (one
    * `element_at` per reference instead of re-evaluating the counting
    * expression inside every CASE branch — callers project
    * [[langMarkerCounts]] into a column first, see
    * `TextAnalysis.languageId`): a Han character-class branch first
    * (→ "zh"), then the argmax of the marker counts as a chained CASE
    * with a deterministic tiebreak (earlier list order wins); all counts
    * zero → "und" per BCP-47 "undetermined". The CASE chain shape is
    * mirrored verbatim in the SQL oracle (which spells the counts as
    * regex passes — token-equality equivalent on the single-space corpus
    * contract). */
  def langIdFromCounts(countsArr: Column, text: Column): Column = {
    val counts = LangMarkers.zipWithIndex.map { case ((lang, _), i) =>
      lang -> element_at(countsArr, i + 1)
    }
    val anyHit = counts.map(_._2).reduce(_ + _) > 0
    // CASE WHEN c0 >= c1 AND c0 >= c2 ... THEN lang0 WHEN c1 >= c2 ... THEN lang1 ...
    val best = counts.zipWithIndex.init.foldRight(lit(counts.last._1)) {
      case (((lang, c), i), els) =>
        val geAllLater = counts.drop(i + 1).map(_._2)
          .foldLeft(lit(true))((acc, o) => acc && c >= o)
        when(geAllLater, lang).otherwise(els)
    }
    when(cjkCount(text) > 0, lit("zh"))
      .otherwise(when(anyHit, best).otherwise(lit("und")))
  }

  /** One-column convenience spelling of the language-ID (regex marker
    * counts inline — fine for ad-hoc use; the operator path projects the
    * single-pass native counts first). */
  def langId(text: Column): Column = {
    val counts = LangMarkers.map { case (lang, ws) => lang -> markerCount(text, ws) }
    val anyHit = counts.map(_._2).reduce(_ + _) > 0
    val best = counts.zipWithIndex.init.foldRight(lit(counts.last._1)) {
      case (((lang, c), i), els) =>
        val geAllLater = counts.drop(i + 1).map(_._2)
          .foldLeft(lit(true))((acc, o) => acc && c >= o)
        when(geAllLater, lang).otherwise(els)
    }
    when(cjkCount(text) > 0, lit("zh"))
      .otherwise(when(anyHit, best).otherwise(lit("und")))
  }
}
