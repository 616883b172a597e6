package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/**
 * BPE merge-table training — iterative most-frequent-adjacent-pair
 * merging (Sennrich et al., "Neural Machine Translation of Rare Words
 * with Subword Units"): start from characters, repeatedly merge the
 * globally most frequent adjacent symbol pair, record the merge. The
 * ConnectedComponents iteration pattern applied to tokenization: a
 * driver loop of k rounds where each round is ONE distributed
 * aggregation and the only driver-side state is a single best-pair row
 * (the bounded-model-artifact rule).
 *
 * Representation: a word's symbol sequence is one string with every
 * symbol wrapped in '|' — "ab" → "|a||b|". Merging pair (l, r) is then
 * the literal string replace of "|l||r|" with "|lr|", which both Spark
 * and DuckDB apply left-to-right over non-overlapping occurrences —
 * exactly BPE's greedy scan ("aaa" + (a,a) → ["aa","a"]) — and the
 * doubled separator means adjacent matches don't share characters, so
 * "aaaa" correctly becomes ["aa","aa"]. Precondition: corpus tokens
 * must not contain '|' (the fixture is alnum ASCII).
 *
 * Scale design (100 TB posture): the vocab (distinct word → count) is
 * computed once — ONE shuffle on the word — and stays distributed;
 * every round is a narrow split/explode over the vocab plus one hash
 * agg (map-side partial sums) and a LIMIT-1 collect. Round cost is
 * O(vocab), not O(corpus): the corpus is touched exactly once. The
 * total order (count DESC, left ASC, right ASC) makes every round — and
 * therefore the whole merge table — deterministic and SQL-replayable.
 *
 * Only the INITIAL vocab is cached (r17, guide §5): round j replays the
 * j-1 accumulated `replace` literals on top of that one IMR instead of
 * re-materializing the whole vocab every round. The replaces are
 * codegen'd narrow per-row ops pipelined straight into the round's pair
 * agg, so the total recompute is k²/2 cheap string passes over the
 * (corpus-much-smaller) vocab, against k full cache materialization
 * barriers + memory churn saved — measured q78/q93 matched A/B:
 * sf0.1 2.9/2.3 → 2.0-2.5/1.7-1.9 s, 100× replica 7.76 → 6.03 s. An
 * incremental pair-count update (maintain the counts table, re-count
 * only words containing the merged pair) was examined for VERDICT r16
 * item 5 and REJECTED without implementation on measurement grounds:
 * the q78 stage profile shows 2.4 of 3.5 s is DRIVER gap (per-round
 * planning + LIMIT-1 collect), distributed stage time is 1.1 s total —
 * an incremental-delta design adds a second query (filter + union +
 * re-agg vs the cached counts) per round, growing exactly the cost
 * that dominates while shrinking one that doesn't.
 */
object BpeTrain {

  /** Per-word symbol-pair rows of a wrapped-symbol vocab (cnt, s). */
  private[graft] def pairCounts(vocab: DataFrame): DataFrame = {
    val arr = split(trim(col("s"), "|"), "\\|\\|")
    vocab.select(col("cnt"), arr.as("a"))
      .filter(size(col("a")) >= 2)
      .select(col("cnt"),
        explode(transform(sequence(lit(1), size(col("a")) - 1),
          i => struct(element_at(col("a"), i).as("l"),
            element_at(col("a"), i + 1).as("r")))).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("cnt")).as("c"))
  }

  /** The wrapped-symbol vocab of a corpus: one row per distinct token,
    * weighted by total corpus occurrences. */
  def initialVocab(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode(TextFunctions.tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .select(regexp_replace(col("w"), "(.)", "|$1|").as("s"), col("cnt"))

  /**
   * Train `k` merges over the corpus vocabulary. Returns the merge
   * table (merge_round, left_sym, right_sym, pair_count) with
   * merge_round 1-based in training order — the artifact a tokenizer
   * replays. Stops early if the vocab runs out of adjacent pairs.
   */
  def train(docs: DataFrame, k: Int, textCol: String = "text"): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    val spark = docs.sparkSession
    var vocab = graft.SparkUtil.trackCache(initialVocab(docs, textCol))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var round = 1
    var dry = false
    while (round <= k && !dry) {
      val best = pairCounts(vocab)
        .orderBy(col("c").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      best match {
        case Array(Row(l: String, r: String, c: Long)) =>
          merges += ((round, l, r, c))
          vocab = vocab.select(
            replace(col("s"), lit("|" + l + "||" + r + "|"),
              lit("|" + l + r + "|")).as("s"),
            col("cnt"))
          round += 1
        case _ => dry = true
      }
    }
    import spark.implicits._
    merges.toSeq.toDF("merge_round", "left_sym", "right_sym", "pair_count")
  }

  /** Wrapped-symbol BPE length of one whitespace token after applying
    * `merges` in training order — a pure chain of literal replaces, so
    * the whole thing stays inside whole-stage codegen. */
  private def bpeSymbols(tok: org.apache.spark.sql.Column,
      merges: Seq[(String, String)]): org.apache.spark.sql.Column = {
    val wrapped = regexp_replace(tok, "(.)", "|$1|")
    val merged = merges.foldLeft(wrapped) { case (c, (l, r)) =>
      replace(c, lit("|" + l + "||" + r + "|"), lit("|" + l + r + "|"))
    }
    size(split(trim(merged, "|"), "\\|\\|")).cast("long")
  }

  /** Per-document BPE token count under a trained merge list: the sum
    * over whitespace tokens of the post-merge symbol count — "how many
    * tokens will the tokenizer emit for this doc". The merge table rides
    * the plan as literals (the codebook pattern): a narrow, zero-shuffle
    * per-row projection regardless of corpus size. */
  def bpeTokenCount(text: org.apache.spark.sql.Column,
      merges: Seq[(String, String)]): org.apache.spark.sql.Column =
    aggregate(transform(TextFunctions.tokens(text), t => bpeSymbols(t, merges)),
      lit(0L), (acc, x) => acc + x)
}
