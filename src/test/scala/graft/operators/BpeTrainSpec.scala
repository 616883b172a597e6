package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

class BpeTrainSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  private def docs(texts: String*) =
    spark.createDataFrame(
      texts.map(Row(_)).asJava,
      StructType(Seq(StructField("text", StringType, nullable = false))))

  private def table(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r =>
      (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq

  /** Re-apply a trained merge table (in merge_round order) to a corpus
    * vocab — the "tokenize with the learned merges" side of the
    * contract: after applying merges 1..i-1, pair (l_i, r_i) must be the
    * most frequent pair and count exactly pair_count_i. */
  private def applyMerges(vocab: org.apache.spark.sql.DataFrame,
      merges: Seq[(String, String)]): org.apache.spark.sql.DataFrame =
    merges.foldLeft(vocab) { case (v, (l, r)) =>
      v.select(replace(col("s"), lit("|" + l + "||" + r + "|"),
        lit("|" + l + r + "|")).as("s"), col("cnt"))
    }

  /** Pair count of (l, r) in a wrapped-symbol vocab. */
  private def countPair(vocab: org.apache.spark.sql.DataFrame, l: String,
      r: String): Long =
    BpeTrain.pairCounts(vocab).filter(col("l") === l && col("r") === r)
      .select(sum(col("c"))).collect().headOption
      .flatMap(row => Option(row.get(0)).map(_.asInstanceOf[Long]))
      .getOrElse(0L)

  test("train learns the hand-computed merge table and stops when dry") {
    // vocab: aa×2, ab×1 → round 1 merges (a,a) count 2, round 2 (a,b)
    // count 1, round 3 has no pairs left → early stop at 2 rows
    val out = table(BpeTrain.train(docs("aa aa ab"), k = 5))
    assert(out == Seq((1, "a", "a", 2L), (2, "a", "b", 1L)))
  }

  test("ties break by (left, right) ascending") {
    // (a,b) and (b,a) both count 1 → (a,b) wins round 1
    val out = table(BpeTrain.train(docs("ab ba"), k = 1))
    assert(out == Seq((1, "a", "b", 1L)))
  }

  test("merging is greedy left-to-right over overlapping occurrences") {
    // "aaaa"×2: (a,a) occurs at 3 positions per word → count 6; the
    // greedy merge yields ["aa","aa"], so round 2 finds (aa,aa) — NOT
    // a leftover (a,a)
    val out = table(BpeTrain.train(docs("aaaa aaaa"), k = 2))
    assert(out == Seq((1, "a", "a", 6L), (2, "aa", "aa", 2L)))
  }

  test("re-applying the learned merges reproduces each round's recorded count") {
    val d = spark.read.parquet(s"${sf()}/documents.parquet")
    val merges = table(BpeTrain.train(d, k = 5))
    assert(merges.size == 5)
    val vocab0 = BpeTrain.initialVocab(d).cache()
    merges.zipWithIndex.foreach { case ((round, l, r, c), i) =>
      val replayed = applyMerges(vocab0,
        merges.take(i).map(m => (m._2, m._3)))
      assert(countPair(replayed, l, r) == c,
        s"round $round pair ($l,$r) must replay to count $c")
    }
    vocab0.unpersist()
  }

  test("bpeTokenCount counts emitted tokens under the learned merges") {
    // no merges → one symbol per character: "aa aa ab" = 6 symbols
    val d = docs("aa aa ab")
    val none = d.select(BpeTrain.bpeTokenCount(col("text"), Nil).as("n"))
      .head().getLong(0)
    assert(none == 6L)
    // after (a,a) then (a,b): "aa"→1 symbol ×2, "ab"→1 symbol → 3
    val merged = d.select(BpeTrain.bpeTokenCount(col("text"),
      Seq(("a", "a"), ("a", "b"))).as("n")).head().getLong(0)
    assert(merged == 3L)
    // greedy left-to-right: "aaa" under (a,a) → ["aa","a"] = 2 symbols
    val greedy = docs("aaa").select(BpeTrain.bpeTokenCount(col("text"),
      Seq(("a", "a"))).as("n")).head().getLong(0)
    assert(greedy == 2L)
  }

  test("bpeTokenCount stays a narrow zero-exchange projection") {
    val d = spark.read.parquet(s"${sf()}/documents.parquet")
    val plan = d.select(col("doc_id"),
        BpeTrain.bpeTokenCount(col("text"), Seq(("e", "s"), ("t", "h"))).as("n"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"expected no shuffle:\n$plan")
  }
}
