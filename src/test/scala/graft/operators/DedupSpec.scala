package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/**
 * Unit tests for the dedup family over hand-built fixtures with known
 * duplicate structure, plus invariants over the real `documents` table
 * (SURVEY.md §2.3 Tier B: exact dedup, n-gram Jaccard, MinHash+LSH,
 * SimHash).
 */
class DedupSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  /** The concentration the adaptive dispatcher would measure for this
    * corpus above the ScanCount bound (same shingling + df cap, the
    * Spark aggregate). */
  private def dfConcentrationOf(docs: org.apache.spark.sql.DataFrame,
      maxDocFreq: Int = 10000): Double =
    Dedup.dfConcentration(Dedup.invertedIndex(maxDocFreq,
      Dedup.withShingleSets(docs, "doc_id", "text", 3)).head)

  /** The concentration the adaptive dispatcher reads on the driver below
    * the ScanCount bound, `None` above it. */
  private def driverDfConcentrationOf(docs: org.apache.spark.sql.DataFrame,
      maxDocFreq: Int): Option[Double] =
    Dedup.collectedSets(Dedup.withShingleSets(docs, "doc_id", "text", 3))
      .map { case Seq(ys) => Dedup.DocFreq(ys).concentration(maxDocFreq) }

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false)))

  private def docs(rows: (Long, String)*) =
    spark.createDataFrame(rows.map { case (i, t) => Row(i, t) }.asJava, docSchema)

  test("exact dedup keeps the min-order row per key with all columns intact") {
    val df = docs(3L -> "b b b", 1L -> "a a a", 2L -> "a a a", 4L -> "b b b")
    val out = Dedup.exact(df, Seq("text"), "doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted
    assert(out.toSeq == Seq((1L, "a a a"), (3L, "b b b")))
  }

  test("ngram Jaccard finds an identical pair at jaccard 1.0 and ignores disjoint docs") {
    val df = docs(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "the quick brown fox jumps over the lazy dog",
      3L -> "completely different words entirely here now folks")
    val out = Dedup.ngramJaccardPairs(df, threshold = 0.5).collect()
    assert(out.length == 1)
    val r = out.head
    assert((r.getLong(0), r.getLong(1)) == (1L, 2L))
    assert(r.getDouble(2) == 1.0)
  }

  test("ngram Jaccard scores a partial overlap correctly") {
    // shingles(a): {1 2 3, 2 3 4, 3 4 5}; shingles(b): {2 3 4, 3 4 5, 4 5 6}
    // inter=2, union=4 → jaccard=0.5
    val df = docs(1L -> "w1 w2 w3 w4 w5", 2L -> "w2 w3 w4 w5 w6")
    val out = Dedup.ngramJaccardPairs(df, threshold = 0.4).collect()
    assert(out.length == 1 && out.head.getDouble(2) == 0.5)
  }

  test("docs shorter than n tokens are dropped, not crashed on") {
    val df = docs(1L -> "only two", 2L -> "x", 3L -> "a b c d")
    assert(Dedup.ngramJaccardPairs(df, threshold = 0.1).collect().isEmpty)
  }

  test("bbit minhash: 1-bit debiased estimator tracks the full estimator") {
    val d = spark.read.parquet(s"${sf()}/documents.parquet")
    val rows = Dedup.bbitSignaturePairs(d, threshold = 0.6).collect()
    assert(rows.length >= 20)
    rows.foreach { r =>
      val (full, bbit) = (r.getDouble(2), r.getDouble(3))
      assert(full >= 0.6, s"threshold applies to the full estimator: $r")
      assert(math.abs(full - bbit) <= 0.15,
        s"b-bit drifted from full estimator: $r")
      assert(bbit <= 1.0 + 1e-12)
    }
    // fixture-measured max error is 0.039; identical docs hit exactly 1.0
    // on BOTH estimators (equal sigs -> M=1 -> (1-C)/(1-C))
    val exact = rows.filter(_.getDouble(2) == 1.0)
    assert(exact.nonEmpty)
    exact.foreach(r => assert(r.getDouble(3) == 1.0))
    graft.SparkUtil.unpersistTrackedCaches()
  }

  test("crossSourceMatrix rolls pairs up to source cells, diagonal included") {
    val spark0 = spark
    import spark0.implicits._
    val df = Seq(
      (1L, "a b c d", "s1"), (2L, "a b c d", "s2"),   // cross s1-s2
      (3L, "p q r s", "s1"), (4L, "p q r s", "s1"),   // within s1
      (5L, "x y z w", "s3")                            // no pair
    ).toDF("doc_id", "text", "source")
    val out = Dedup.crossSourceMatrixFromPairs(
        Dedup.ngramJaccardPairs(df, threshold = 0.9), df)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out == Map(("s1", "s2") -> 1L, ("s1", "s1") -> 1L))
  }

  test("pairSimilarityHistogram buckets candidate pairs with at-or-above cumulatives") {
    // identical pair -> jaccard 1.0 (bucket 10); half-overlap pair -> 0.5
    // (bucket 5); disjoint docs share no shingle -> no candidate row
    val df = docs(
      1L -> "a b c d", 2L -> "a b c d",
      3L -> "w1 w2 w3 w4 w5", 4L -> "w2 w3 w4 w5 w6",
      5L -> "q r s t")
    val out = Dedup.pairSimilarityHistogram(df).collect()
      .map(r => r.getDouble(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out == Map(1.0 -> ((1L, 1L)), 0.5 -> ((1L, 2L))))
  }

  test("rarityWeightedPairs: quantized-idf cosine, exact hand-computed values") {
    // A/B share shingle "x y z" (df=2 → weight N//df = 2); their unique
    // shingles get weight 4. A: v=[2,4] n2=20; B same; dot=4 → cos 0.2.
    // C/D are identical (both shingles df=2, v=2 each) → cos 1.0.
    val df = docs(
      1L -> "x y z w", 2L -> "x y z q",
      3L -> "a b c d", 4L -> "a b c d")
    val all = Dedup.rarityWeightedPairs(df, threshold = 0.1).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(all.keySet == Set((1L, 2L), (3L, 4L)))
    assert(math.abs(all((1L, 2L)) - 0.2) < 1e-12)
    assert(math.abs(all((3L, 4L)) - 1.0) < 1e-12)
    // default-ish threshold keeps only the true near-dup
    val cut = Dedup.rarityWeightedPairs(df, threshold = 0.5).collect()
    assert(cut.length == 1 && (cut.head.getLong(0), cut.head.getLong(1)) == ((3L, 4L)))
  }

  test("rarityWeightedPairs separates near-dups from boilerplate overlap on documents") {
    val d = spark.read.parquet(s"${sf()}/documents.parquet")
    val sims = Dedup.rarityWeightedPairs(d, threshold = 0.0)
    // exact same pair set as the Jaccard operator's >= 0.6 pairs at the
    // 0.5 cosine cut (fixture-measured: those score >= 0.8, rest < 0.3)
    val strong = sims.filter(col("cosine") >= 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val jacc = Dedup.ngramJaccardPairs(d, threshold = 0.6)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(strong == jacc)
  }

  test("fuzzy decontamination drops embedded/edited eval leakage, keeps the rest") {
    val evalDoc = "the quick brown fox jumps over the lazy dog again and again"
    val corpus = docs(
      1L -> evalDoc,                                         // exact copy
      2L -> ("prefix words here " + evalDoc + " suffix words there"), // embedded
      3L -> "completely unrelated text about spark catalyst optimizer rules",
      4L -> "the quick brown fox sat still") // shares a few shingles, below 80%
    val eval = docs(100L -> evalDoc)
    val kept = Dedup.decontaminateFuzzy(corpus, eval, containPct = 80)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(3L, 4L))
  }

  test("bloom-prefiltered decontamination equals the exact broadcast version") {
    val d = spark.read.parquet(s"${sf()}/documents.parquet")
    val eval = Sampling.hashSample(d, pct = 10)
    val exact = Dedup.decontaminate(d, eval)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    val bloom = Dedup.decontaminateBloom(d, eval)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(bloom.sameElements(exact))
    // the candidate pre-filter is a pure per-row literal probe: no join,
    // no shuffle before the verify
    val words = Sketches.bloomArray(eval, "text")
    val p = d.filter(Sketches.bloomMightContain(
        org.apache.spark.sql.functions.col("text"), words, 1 << 16))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange") && !p.contains("Join"), p)
  }

  test("fuzzy decontamination with an empty eval set keeps everything") {
    val corpus = docs(1L -> "a b c d e", 2L -> "f g h i j")
    val kept = Dedup.decontaminateFuzzy(corpus, corpus.filter(col("doc_id") < 0))
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L))
  }

  test("contamination report measures per-eval-doc shingle leakage") {
    val evalDoc = "the quick brown fox jumps over the lazy dog again and again"
    val train = docs(
      1L -> ("prefix words here " + evalDoc + " suffix words there"), // full leak
      2L -> "completely unrelated text about spark catalyst optimizer rules")
    val eval = docs(
      100L -> evalDoc,                    // every shingle leaked
      101L -> "nothing here overlaps the training corpus at all today")
    val out = Dedup.contaminationReport(train, eval, containPct = 80)
      .collect().map(r => (r.getLong(0),
        (r.getLong(2), r.getDouble(3), r.getBoolean(4)))).toMap
    val (leakHit, leakFrac, leakFlag) = out(100L)
    assert(leakFrac == 1.0 && leakFlag && leakHit > 0)
    val (cleanHit, cleanFrac, cleanFlag) = out(101L)
    assert(cleanHit == 0L && cleanFrac == 0.0 && !cleanFlag)
  }

  test("stitchCandidates finds split-document seams, directionally") {
    val df = docs(
      1L -> "a b c d e f",
      2L -> "e f g h i j",   // prefix(2) == suffix(1) at k=2
      3L -> "x y z w v u")
    val pairs = Dedup.stitchCandidates(df, k = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), s"got $pairs")
    // docs shorter than k don't participate
    val short = docs(1L -> "a", 2L -> "a b c")
    assert(Dedup.stitchCandidates(short, k = 2).collect().isEmpty)
  }

  test("cross-corpus pairs = the between-sides subset of the self-join pairs") {
    val d = spark.read.parquet(s"${sf()}/documents.parquet")
    val newSide = d.filter(Sampling.bucket(col("doc_id")) < 50)
    val oldSide = d.filter(Sampling.bucket(col("doc_id")) >= 50)
    val newIds = newSide.select("doc_id").collect().map(_.getLong(0)).toSet
    val cross = Dedup.crossCorpusPairs(newSide, oldSide).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(cross.nonEmpty)
    cross.foreach { case (n, o, _) => assert(newIds(n) && !newIds(o)) }
    // agreement with the self-join operator on the same pair space
    val self = Dedup.ngramJaccardPairs(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .flatMap { case (a, b, j) => Seq((a, b, j), (b, a, j)) }
      .filter { case (x, y, _) => newIds(x) && !newIds(y) }.toSet
    assert(cross == self)
  }

  test("prefix-filtered Jaccard equals the plain inverted-index operator exactly") {
    val d = spark.read.parquet(s"${sf()}/documents.parquet")
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val plain = canon(Dedup.ngramJaccardPairs(d))
    val prefix = canon(Dedup.ngramJaccardPairsAdaptive(d, minPrefixConcentration = 0.0))
    assert(prefix == plain)
    assert(plain.nonEmpty)
    // also at a lower threshold, where prefixes are longer
    assert(canon(Dedup.ngramJaccardPairsAdaptive(d, threshold = 0.3,
        minPrefixConcentration = 0.0)) ==
      canon(Dedup.ngramJaccardPairs(d, threshold = 0.3)))
  }

  test("minhash LSH agrees with exact ngram Jaccard on the documents table") {
    val d = spark.read.parquet(s"${sf()}/documents.parquet")
    val exact = Dedup.ngramJaccardPairs(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val lsh = Dedup.minhashLshPairs(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(exact == lsh)
    assert(exact.nonEmpty) // the synthetic corpus plants near-dups
  }

  test("simhash pairs include every identical-text pair and respect the hamming cap") {
    val df = docs(
      1L -> "alpha beta gamma delta epsilon zeta eta theta",
      2L -> "alpha beta gamma delta epsilon zeta eta theta",
      3L -> "one two three four five six seven eight")
    val out = Dedup.simhashPairs(df, maxHamming = 3).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    assert(out.head.getInt(2) == 0) // identical text → identical simhash
  }

  test("simhash pigeonhole blocking loses no pair vs brute force on documents") {
    val d = spark.read.parquet(s"${sf()}/documents.parquet").limit(100).cache()
    val blocked = Dedup.simhashPairs(d, maxHamming = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force over the same simhashes
    val hs = d.select(col("doc_id"),
      graft.functions.TextFunctions.simhash(split(col("text"), " ")).as("sh"))
    val brute = hs.as("x").join(hs.as("y"), col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id"), col("y.doc_id"),
        bit_count(col("x.sh").bitwiseXOR(col("y.sh"))).as("h"))
      .filter(col("h") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(blocked == brute)
  }

  test("simhash nested blocking is lossless at every depth: pair sets AND " +
      "hammings identical to brute force at depths 0/1/2 and auto") {
    val d = spark.read.parquet(s"${sf()}/documents.parquet").limit(400).cache()
    val hs = d.select(col("doc_id"),
      graft.functions.TextFunctions.simhash(split(col("text"), " ")).as("sh"))
    val brute = hs.as("x").join(hs.as("y"), col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id"), col("y.doc_id"),
        bit_count(col("x.sh").bitwiseXOR(col("y.sh"))).as("h"))
      .filter(col("h") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(brute.nonEmpty, "fixture slice must contain near-dup pairs")
    assert(brute.exists(_._3 > 0), "fixture must exercise cross-value pairs")
    // both dispatcher branches, every depth: flat (what the fixture-size
    // auto path picks) and dictionary (the at-scale branch)
    val hashed = hs.select(col("doc_id").as("id"), col("sh")).cache()
    for (depth <- 0 to 2; dict <- Seq(false, true)) {
      val got = Dedup.hammingPairs(hashed, "id", "sh", maxHamming = 3,
          depth = depth, dictionary = dict)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got == brute, s"depth=$depth dictionary=$dict diverged")
    }
    val auto = Dedup.simhashPairs(d, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(auto == brute)
    graft.SparkUtil.unpersistTrackedCaches()
  }

  test("multiSignalComponents: pair-list and edge-set branches yield " +
      "IDENTICAL components (the q99 dispatch is a plan choice, not a " +
      "semantics choice)") {
    val d = spark.read.parquet(s"${sf()}/documents.parquet").limit(400).cache()
    def canon(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] = {
      val rows = df.collect().map(r => (r.getLong(0), r.getLong(1)))
      rows.groupBy(_._2).map { case (_, vs) =>
        val set = vs.map(_._1).toSet; (set.min, set)
      }
    }
    // force each branch via the cutoff; the default on this 400-doc
    // fixture must take the pair-list branch (the small-n plan)
    val pair = canon(Dedup.multiSignalComponents(d, pairListCutoff = Long.MaxValue))
    val edge = canon(Dedup.multiSignalComponents(d, pairListCutoff = 0L))
    assert(pair == edge)
    assert(pair.values.exists(_.size > 1),
      "fixture must contain at least one multi-member component")
    assert(pair.values.flatten.toSet.size == 400, "every doc gets a component")
    graft.SparkUtil.unpersistTrackedCaches()
  }

  test("at-scale guards: 32-bit simhashPairs and phashPairs refuse past " +
      "LegacyWidthGuardCutoff without an explicit opt-in") {
    val big = spark.range(Dedup.LegacyWidthGuardCutoff + 1)
      .select(col("id").as("doc_id"),
        concat(lit("tok"), (col("id") % 97).cast("string")).as("text"))
    val e1 = intercept[IllegalArgumentException] { Dedup.simhashPairs(big) }
    assert(e1.getMessage.contains("simhashPairs64"))
    // the opt-in constructs (the guard and the dispatch probe are the
    // only eager steps — the pair join itself stays lazy/unexecuted)
    Dedup.simhashPairs(big, allowLegacyWidth = true)
    val media = big.select(col("doc_id").as("media_id"),
      lit("image").as("media_type"), encode(col("text"), "UTF-8").as("content"))
    val e2 = intercept[IllegalArgumentException] { Multimodal.phashPairs(media) }
    assert(e2.getMessage.contains("phashComponentEdges"))
    Multimodal.phashPairs(media, allowPairList = true)
    // the at-scale faces take the same corpus without ceremony
    Dedup.simhashPairs64(big)
    Multimodal.phashComponentEdges(media)
    graft.SparkUtil.unpersistTrackedCaches()
  }

  test("hammingComponentEdges: star + value-pair edges yield the SAME " +
      "components as the full pair list, at no more edges — both widths") {
    val d = spark.read.parquet(s"${sf()}/documents.parquet").limit(400).cache()
    def components(edges: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] = {
      val comp = graft.operators.ConnectedComponents(
          edges.select(col("id_a"), col("id_b")),
          vertices = Some(d.select(col("doc_id"))))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      // canonicalize: group vertex sets by component label
      comp.groupBy(_._2).map { case (_, vs) =>
        val set = vs.map(_._1).toSet; (set.min, set)
      }
    }
    val pairForm32 = Dedup.simhashPairs(d, maxHamming = 3)
    val edgeForm32 = Dedup.simhashComponentEdges(d, maxHamming = 3, width = 32)
    assert(components(edgeForm32) == components(pairForm32))
    assert(edgeForm32.count() <= pairForm32.count(),
      "the edge form must never emit more edges than the pair list")
    val pairForm64 = Dedup.simhashPairs64(d, maxHamming = 3)
    val edgeForm64 = Dedup.simhashComponentEdges(d, maxHamming = 3) // width=64 default
    assert(components(edgeForm64) == components(pairForm64))
    assert(edgeForm64.count() <= pairForm64.count())
    graft.SparkUtil.unpersistTrackedCaches()
  }

  test("simhash64 pairs: lossless at depths 0/1/2 and both branches; " +
      "strict subset of the 32-bit pairs (low-half identity)") {
    val d = spark.read.parquet(s"${sf()}/documents.parquet").limit(400).cache()
    val hs = d.select(col("doc_id").as("id"),
      graft.functions.TextFunctions.simhash64(split(col("text"), " ")).as("sh"))
      .cache()
    val brute = hs.as("x").join(hs.as("y"), col("x.id") < col("y.id"))
      .select(col("x.id"), col("y.id"),
        bit_count(col("x.sh").bitwiseXOR(col("y.sh"))).as("h"))
      .filter(col("h") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(brute.nonEmpty, "fixture slice must contain 64-bit near-dup pairs")
    for (depth <- 0 to 2; dict <- Seq(false, true)) {
      val got = Dedup.hammingPairs(hs, "id", "sh", maxHamming = 3,
          depth = depth, dictionary = dict, width = 64)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got == brute, s"width=64 depth=$depth dictionary=$dict diverged")
    }
    val auto = Dedup.simhashPairs64(d, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(auto == brute)
    // hamming64 >= hamming32 bit-for-bit (low half IS the 32-bit hash),
    // so the 64-bit pair set can only shrink
    val pairs32 = Dedup.simhashPairs(d, maxHamming = 3)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto.map(p => (p._1, p._2)).subsetOf(pairs32))
    graft.SparkUtil.unpersistTrackedCaches()
  }

  test("boilerplateSpans: shared spans flagged, unique spans not, short docs ratio 0") {
    val df = docs(
      (1L, "a b c d e"),   // spans: "a b c","b c d","c d e"
      (2L, "z z a b c"),   // shares exactly "a b c" with doc 1
      (3L, "p q"),         // < n tokens: no spans at all
      (4L, "m n o p"),     // exact dup of doc 5: both spans boilerplate
      (5L, "m n o p"))
    val out = Dedup.boilerplateSpans(df, n = 3, minDocs = 2).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) == ((3, 1L, 1.0 / 3)))
    assert(out(2L) == ((3, 1L, 1.0 / 3)))
    assert(out(3L) == ((0, 0L, 0.0)))
    assert(out(4L) == ((2, 2L, 1.0)))
    assert(out(5L) == ((2, 2L, 1.0)))
  }

  test("boilerplateSpans counts DISTINCT spans: an in-doc repeat is one span") {
    // "a b a b a b": distinct 2-gram spans are "a b" and "b a" — both
    // appear once in the df count even though they repeat inside the doc,
    // so a single doc never makes its own spans boilerplate
    val df = docs((1L, "a b a b a b"), (2L, "x y"))
    val out = Dedup.boilerplateSpans(df, n = 2, minDocs = 2).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    assert(out(1L) == ((2, 0L)))
    assert(out(2L) == ((1, 0L)))
  }

  test("hot-shingle skew: q14 stays exact; candidate join reuses partitioning (no AQE split)") {
    // The one open scale watch-item from SURVEY/VERDICT: a hot shingle (or
    // duplicated hot doc pair) concentrates the candidate join on one
    // reducer. This pins two facts about q14's behavior under that skew.
    //
    // 1. CORRECTNESS: a df=1200 hot shingle (719 400 candidate pairs
    //    through one reducer's key range) changes nothing — the planted
    //    clone pairs surface, nothing else does.
    // 2. PLAN SHAPE (r16 opt): the inverted index is CACHED, so the
    //    candidate self-join reads the same InMemoryRelation on both
    //    sides and inherits its hashpartitioning(h) (and sort order) —
    //    zero Exchange and zero re-Sort of its own; the index-build
    //    subtree (shingle explode + df-cap join) runs exactly once,
    //    inside the cache, instead of once per side. The flip side still
    //    holds: AQE's skew split pattern-matches only joins whose
    //    children are bare shuffle stages, so it can NEVER engage on this
    //    candidate join (at any scale). The operative remedies are
    //    therefore structural — the df cap bounds any shingle's candidate
    //    contribution — and the salted fallback (next test), with the AQE
    //    split covering the bare-join shapes it does match (test after).
    //
    // Fixture: 1200 docs sharing the hot 3-gram "alpha beta gamma" with
    // unique tails (pairwise jaccard 1/3, far below threshold), unique
    // filler docs, and two planted exact clone pairs that must survive.
    val hot = (0 until 1200).map(i => (i.toLong, s"alpha beta gamma tail$i"))
    val filler = (100000 until 100400).map(i => (i.toLong,
      s"filler$i word${i * 3} item${i * 7} token${i * 11} gap${i * 13} tail${i * 17} end${i * 19}"))
    val clones = Seq(
      900001L -> "first planted duplicate paragraph with enough words to shingle",
      900002L -> "first planted duplicate paragraph with enough words to shingle",
      900003L -> "second planted duplicate paragraph of clearly distinct content",
      900004L -> "second planted duplicate paragraph of clearly distinct content")
    val df = docs((hot ++ filler ++ clones): _*)
    val conf = spark.conf
    val saved = conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    try {
      // mimic the at-scale plan: the df table is corpus-sized, never a broadcast
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val pairs = Dedup.ngramJaccardPairs(df, threshold = 0.9)
      val rows = pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(rows.sorted.toSeq ==
        Seq((900001L, 900002L, 1.0), (900003L, 900004L, 1.0)),
        "hot-key skew must not change the join's output")
      // Outer plan (everything above the nested cached-index plan): the
      // candidate join's children are cache scans — no Exchange, no Sort
      // between them and the join — and the ONLY outer exchange is the
      // final candidate aggregation's. (Stage ids collide between the
      // outer and the InMemoryRelation's nested adaptive plan, so the
      // old distinct-stage-id count is no longer well-defined; the
      // outer-prefix slice pins the same fact directly.)
      val plan = pairs.queryExecution.executedPlan.toString
      val outer = plan.substring(0, plan.indexOf("InMemoryRelation"))
      assert(outer.contains("SortMergeJoin"), plan)
      assert(outer.contains("TableCacheQueryStage"), plan)
      assert("Exchange hashpartitioning".r.findAllIn(outer).size == 1, plan)
      assert(!outer.contains("Sort "), plan)
    } finally saved match {
      case Some(v) => conf.set("spark.sql.autoBroadcastJoinThreshold", v)
      case None => conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("AQE skew split engages on the bare hot-key equi-join shape saltedJoin addresses") {
    // The complement of the plan-shape fact above: where a join's children
    // ARE bare shuffle stages — the fact-to-dimension enrichment shape that
    // q40/q55's saltedJoin exists for — AQE's automatic split must engage
    // on a hot probe key, and the result must be exactly the plain join's.
    val spark0 = spark
    import spark0.implicits._
    val facts = ((0 until 50000).map(i => (42L, i)) ++          // one hot key
      (0 until 2000).map(i => ((i % 200).toLong + 100, i)))     // 200 cold keys
      .toDF("k", "payload")
    val dim = (0L until 400L).map(k => (k, s"dim_$k")).toDF("dk", "attr")
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = facts.join(dim, col("k") === col("dk"))
      // collect (not count) so THIS query execution is the one that runs
      val n = joined.collect().length
      assert(n == 50000 + 2000, "skew split must not change the join's output")
      // inspected AFTER the action: the adaptive plan is final by now
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE skew-join split did not engage on the hot key partition:\n$plan")
      // and the salted formulation of the same join is a drop-in equal
      val salted = graft.SparkUtil.saltedJoin(facts, dim, "k", "dk", salt = 8)
      assert(salted.count() == n)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("salted fallback on the skewed shingle join equals the plain join") {
    // When a single key exceeds what AQE partition-splitting can balance,
    // the documented fallback is SparkUtil.saltedJoin on the inverted
    // index. Pin that the salted candidate join is a drop-in: identical
    // (id_a, id_b) candidate multiset on the hot-shingle fixture.
    val spark0 = spark
    import spark0.implicits._
    val hot = (0 until 300).map(i => (i.toLong, s"alpha beta gamma tail$i close$i"))
    val df = docs(hot: _*)
    val inv = graft.SparkUtil.ensureParallelism(df)
      .select(col("doc_id").as("id"),
        explode(graft.functions.TextFunctions.shingleHashes(col("text"), 3)).as("h"))
      .cache()
    val plain = inv.as("x").join(inv.as("y"),
        col("x.h") === col("y.h") && col("x.id") < col("y.id"))
      .select(col("x.id"), col("y.id").as("id_b"))
    val salted = graft.SparkUtil.saltedJoin(
        inv, inv.select(col("id").as("id_b"), col("h").as("h_b")),
        "h", "h_b", salt = 8)
      .filter(col("id") < col("id_b"))
      .select(col("id"), col("id_b"))
    def counts(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(identity)
      .map { case (k, v) => k -> v.size }
    assert(counts(salted) == counts(plain))
    inv.unpersist()
  }

  test("hot band bucket: minhash LSH stays exact and equi-join-planned under clone skew") {
    // q15's skew face: N identical docs put N ids in the SAME band bucket
    // in every band — the candidate self-join's worst case. Pin that the
    // output is still exactly C(N,2) pairs at jaccard 1.0 and the plan
    // never degrades to a cartesian product.
    val clones = (0 until 120).map(i =>
      (i.toLong, "the very same paragraph repeated across every single clone here"))
    val singles = (200 until 240).map(i =>
      (i.toLong, s"unique filler document $i with words ${i * 7} ${i * 13} ${i * 29}"))
    val df = docs((clones ++ singles): _*)
    val pairs = Dedup.minhashLshPairs(df, threshold = 0.9)
    val rows = pairs.collect()
    assert(rows.length == 120 * 119 / 2)
    assert(rows.forall(_.getDouble(2) == 1.0))
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("containmentPairs: a quoted doc scores 1.0 into its host, not backwards") {
    // doc 2 = doc 1 quoted inside extra prose. Every shingle of doc 1 is
    // in doc 2 → containment(1 ⊆ 2) = 1.0; the reverse direction is
    // diluted by doc 2's extra shingles and stays below the threshold.
    val host = "intro words before the quick brown fox jumps over the lazy dog and trailing commentary after"
    val df = docs(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> host,
      3L -> "entirely unrelated content about other things altogether now")
    val out = Dedup.containmentPairs(df, threshold = 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out.keySet == Set((1L, 2L)))
    assert(out((1L, 2L)) == 1.0)
    // identical docs contain each other: both orientations emitted
    val clones = docs(
      10L -> "same exact paragraph of text right here",
      11L -> "same exact paragraph of text right here")
    val both = Dedup.containmentPairs(clones, threshold = 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(both == Map((10L, 11L) -> 1.0, (11L, 10L) -> 1.0))
  }

  test("signature store: clone across batch/store found at 1.0; estimator tracks jaccard") {
    val batch = docs(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "totally unrelated new content about something else entirely")
    val corpus = docs(
      10L -> "the quick brown fox jumps over the lazy dog",
      11L -> "other old corpus document with its own words here")
    val store = Dedup.minhashSignatures(corpus)
    assert(store.columns.toSeq == Seq("doc_id", "sig"))
    assert(store.collect().forall(_.getSeq[Long](1).length == 128))
    val out = Dedup.dedupAgainstSignatures(batch, store).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // the clone pair is found at estimate 1.0; nothing else collides
    assert(out == Map((1L, 10L) -> 1.0))
    // estimator quality on the real fixture: for every cross-side pair the
    // signature estimate stays close to the exact n-gram Jaccard
    val d = spark.read.parquet(s"${sf()}/documents.parquet")
    val newSide = d.filter(graft.operators.Sampling.bucket(col("doc_id")) < 50)
    val oldSide = d.filter(graft.operators.Sampling.bucket(col("doc_id")) >= 50)
    val est = Dedup.dedupAgainstSignatures(newSide,
      Dedup.minhashSignatures(oldSide), threshold = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(est.nonEmpty)
    val exact = Dedup.crossCorpusPairs(newSide, oldSide, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val errs = est.collect { case (pair, e) if exact.contains(pair) =>
      math.abs(e - exact(pair)) }
    assert(errs.nonEmpty)
    info(f"max |sig_est - exact_jaccard| over ${errs.size} pairs = ${errs.max}%.3f")
    assert(errs.max <= 0.15, f"estimator drifted ${errs.max}%.3f from exact jaccard")
  }

  test("cluster histogram: sizes sum back to the corpus, multiplicities sane") {
    val hist = graft.SparkEntry.queries("q90_cluster_histogram")(spark, sf())
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val d = spark.read.parquet(s"${sf()}/documents.parquet")
    assert(hist.map { case (sz, n) => sz * n }.sum == d.count())
    assert(hist.keySet.exists(_ >= 2), "fixture has planted near-dup clusters")
    assert(hist(1L) > 0, "most docs are their own singleton cluster")
  }

  test("containment dominates jaccard on the fixture: both directions, every pair") {
    // inter/sz_a >= inter/(sz_a + sz_b - inter) always, so every Jaccard
    // pair must reappear in the containment output (threshold 0) with a
    // containment >= its jaccard in BOTH orientations — a cross-operator
    // consistency net over the shared inverted-index machinery.
    val d = spark.read.parquet(s"${sf()}/documents.parquet")
    val jac = Dedup.ngramJaccardPairs(d, threshold = 0.6).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(jac.nonEmpty)
    val cont = Dedup.containmentPairs(d, threshold = 0.0).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    jac.foreach { case ((a, b), j) =>
      assert(cont((a, b)) >= j, s"containment($a->$b) < jaccard")
      assert(cont((b, a)) >= j, s"containment($b->$a) < jaccard")
    }
  }

  test("dedupProvenance resolves transitive chains to one keeper") {
    val spark0 = spark
    import spark0.implicits._
    // edges 1-2, 2-3 (no direct 1-3): both 2 and 3 keep to 1
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("id_a", "id_b")
    val out = Dedup.dedupProvenance(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(2L -> 1L, 3L -> 1L, 9L -> 7L))
  }

  test("effectiveSizeByGroup discounts duplicated sources exactly") {
    val spark0 = spark
    import spark0.implicits._
    val d = Seq((1L, "s1"), (2L, "s1"), (3L, "s1"), (4L, "s2"))
      .toDF("doc_id", "source")
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val out = Dedup.effectiveSizeByGroup(d, pairs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out("s1") == ((3L, 2L, 2.0 / 3.0)))
    assert(out("s2") == ((1L, 1L, 1.0)))
  }

  test("q120 release bundle: curated docs, cluster-safe splits, bounded shards") {
    val d = spark.read.parquet(s"${sf("sf0.01")}/documents.parquet")
    val keepQ = TextAnalysis.qualityFilter(d).filter(col("keep")).select("doc_id")
    val curated = d.join(keepQ, Seq("doc_id"), "left_semi")
    val pairs = Dedup.ngramJaccardPairs(curated, threshold = 0.6)
      .select("id_a", "id_b")
    val bundle = Sampling.leakageSafeSplit(curated, pairs, testPct = 20)
      .select(col("doc_id"), col("component"), col("split"),
        (Sampling.bucket(col("doc_id")) % 8).as("shard_id"))
    val rows = bundle.collect()
    assert(rows.length == curated.count())
    val byId = rows.map(r => r.getLong(0) ->
      ((r.getLong(1), r.getString(2), r.getLong(3)))).toMap
    // the split is duplicate-cluster-safe: pair endpoints never straddle
    val prs = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(prs.nonEmpty, "fixture must retain near-dup pairs post-curation")
    prs.foreach { case (a, b) =>
      assert(byId(a)._2 == byId(b)._2, s"pair ($a,$b) straddles the split")
    }
    assert(rows.forall(r => r.getLong(3) >= 0 && r.getLong(3) < 8))
    assert(rows.map(_.getString(2)).toSet == Set("train", "test"))
    graft.SparkUtil.unpersistTrackedCaches()
  }

  test("q71 curated corpus == intersection of its three ingredient filters") {
    val d = spark.read.parquet(s"${sf()}/documents.parquet").cache()
    val curated = graft.SparkEntry.queries("q71_curated_corpus")(
      spark, sf()).collect().map(_.getLong(0)).toSet
    val quality = TextAnalysis.qualityFilter(d).filter(col("keep"))
      .collect().map(_.getLong(0)).toSet
    val lowBoiler = Dedup.boilerplateSpans(d)
      .filter(col("boiler_ratio") < 0.5).collect().map(_.getLong(0)).toSet
    val reps = Dedup.exact(d.select(col("doc_id"), md5(col("text")).as("s")),
      Seq("s"), "doc_id").collect().map(_.getLong(0)).toSet
    assert(curated == quality.intersect(lowBoiler).intersect(reps))
    assert(curated.nonEmpty && curated.size < d.count(),
      "curation must keep some docs and drop some docs")
    // the cached plan is the BARE parquet scan of the fixture table:
    // the JVM-wide CacheManager would substitute it into ANY later
    // scan of the same path — PlanContractSpec's pushdown/pruning
    // tests then see an InMemoryRelation instead of a parquet scan
    d.unpersist()
  }

  test("bandTuningSweep: more, shorter bands never find fewer candidates") {
    val d = spark.read.parquet(s"${sf("sf0.01")}/documents.parquet")
    val out = Dedup.bandTuningSweep(d).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(out.keySet == Set((16, 8), (32, 4), (64, 2)))
    // shorter rows collide more easily: 64x2 >= 32x4 >= 16x8
    assert(out((64, 2)) >= out((32, 4)))
    assert(out((32, 4)) >= out((16, 8)))
    assert(out((32, 4)) > 0) // the production banding finds the clones
    graft.SparkUtil.unpersistTrackedCaches()
  }

  test("pairSetAgreement: canonicalization, overlap counts, one scalar row") {
    val spark0 = spark
    import spark0.implicits._
    // left {1-2, 2-3}; right {2-1 (mirror of 1-2), 3-4}: both=1, union=3
    val l = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val r = Seq((2L, 1L), (3L, 4L)).toDF("id_a", "id_b")
    val out = Dedup.pairSetAgreement(l, r).collect().head
    assert((out.getLong(0), out.getLong(1), out.getLong(2),
      out.getLong(3)) == ((2L, 2L, 1L, 3L)))
    assert(math.abs(out.getDouble(4) - 1.0 / 3.0) < 1e-15)
  }

  test("clusterCohesion: hand triangle vs chain — density and edge stats") {
    val spark0 = spark
    import spark0.implicits._
    // triangle {1,2,3} (density 1) and chain {4,5,6} (density 2/3)
    val pairs = Seq((1L, 2L, 0.9), (2L, 3L, 0.8), (1L, 3L, 0.7),
      (4L, 5L, 0.65), (5L, 6L, 0.95)).toDF("id_a", "id_b", "jaccard")
    val out = Dedup.clusterCohesion(pairs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    val (m1, e1, lo1, mean1, d1) = out(1L)
    assert(m1 == 3L && e1 == 3L && lo1 == 0.7 && d1 == 1.0)
    assert(math.abs(mean1 - 0.8) < 1e-9)
    val (m2, e2, lo2, _, d2) = out(4L)
    assert(m2 == 3L && e2 == 2L && lo2 == 0.65)
    assert(math.abs(d2 - 2.0 / 3.0) < 1e-12)
    graft.SparkUtil.unpersistTrackedCaches()
  }

  test("survivorQualityAudit: min-id rep vs cluster best, hand clusters") {
    val spark0 = spark
    import spark0.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val scores = Seq((1L, 5L), (2L, 7L), (3L, 9L), (4L, 8L), (5L, 2L))
      .toDF("doc_id", "score")
    val out = Dedup.survivorQualityAudit(pairs, scores).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4)))).toMap
    assert(out(1L) == ((5L, 3L, 9L, true)))  // rep 1 (score 5) vs best 3 (9)
    assert(out(4L) == ((8L, 4L, 8L, false))) // rep already the best
    graft.SparkUtil.unpersistTrackedCaches()
  }

  test("spanDictionary: contiguous ranks, df threshold, descending order") {
    val d = spark.read.parquet(s"${sf("sf0.01")}/documents.parquet")
    val out = Dedup.spanDictionary(d, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(out.nonEmpty)
    assert(out.map(_._3).sorted.toSeq == (1L to out.length).toSeq)
    assert(out.forall(_._2 >= 2))
    val byRank = out.sortBy(_._3).map(_._2)
    assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
    graft.SparkUtil.unpersistTrackedCaches()
  }

  test("signatureSizeSensitivity: k=128 row ties to the estimator report; pair counts equal") {
    val d = spark.read.parquet(s"${sf("sf0.01")}/documents.parquet")
    val out = Dedup.signatureSizeSensitivity(d).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2),
        r.getDouble(3)))).toMap
    assert(out.keySet == Set(32, 64, 128))
    // same candidate set at every k
    assert(out.values.map(_._1).toSet.size == 1)
    out.values.foreach { case (_, mean, mx) =>
      assert(mean >= 0 && mean <= 1 && mx >= mean)
    }
    // the full-length row must equal the q175 report's error, recomputed
    val report = Dedup.minhashEstimatorReport(d).collect()
    val microMean = report.map(r =>
      math.floor(r.getDouble(4) * 1e6 + 0.5).toLong).sum.toDouble /
      (report.length.toDouble * 1e6)
    assert(out(128)._1 == report.length.toLong)
    assert(math.abs(out(128)._2 - microMean) < 1e-12)
    graft.SparkUtil.unpersistTrackedCaches()
  }

  test("prefixDupGroups: identical openings group; short docs out of scope") {
    val spark0 = spark
    import spark0.implicits._
    val opening = (1 to 12).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, s"$opening tail one"), (2L, s"$opening different tail"),
      (3L, "another opening " + (1 to 10).map(_ => "x").mkString(" ")),
      (4L, "too short")).toDF("doc_id", "text")
    val out = Dedup.prefixDupGroups(docs, k = 12).collect()
    assert(out.length == 1)
    assert(out.head.getLong(1) == 2L && out.head.getLong(2) == 1L)
  }

  test("adaptive Jaccard: concentration picks plain on uniform, prefix on Zipfian; all paths agree") {
    // Near-uniform df: every doc contributes mostly-unique shingles, so
    // Σdf² ≈ Σdf and concentration ~1 — prefix filtering has no hot
    // shingles to prune and the dispatcher must keep the plain join.
    val uniform = docs((0 until 60).map(i => (i.toLong,
      s"u${i}a u${i}b u${i}c u${i}d u${i}e u${i}f u${i}g")): _*)
    // Heavy tail: a shared header puts df=40 shingles next to df=1
    // tails — the Zipfian regime where the hot shingles dominate
    // candidate generation and the prefix path pays.
    val zipf = docs((0 until 40).map(i => (i.toLong,
      s"common shared header words here t${i}a t${i}b t${i}c t${i}d t${i}e")): _*)
    val cUniform = dfConcentrationOf(uniform)
    val cZipf = dfConcentrationOf(zipf)
    assert(cUniform < 4.0, s"uniform corpus concentration $cUniform should pick plain")
    assert(cZipf >= 4.0, s"zipfian corpus concentration $cZipf should pick prefix")
    // Path equality on BOTH corpora: the switch is a pure plan choice.
    def pairs(df: org.apache.spark.sql.DataFrame,
        f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) =
      f(df).collect().map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e9))).toSet
    for (corpus <- Seq(uniform, zipf)) {
      val plain = pairs(corpus, d => Dedup.ngramJaccardPairs(d, threshold = 0.4))
      val prefix = pairs(corpus, d => Dedup.ngramJaccardPairsAdaptive(d, threshold = 0.4,
        minPrefixConcentration = 0.0))
      val adaptive = pairs(corpus, d => Dedup.ngramJaccardPairsAdaptive(d, threshold = 0.4))
      assert(plain == prefix && plain == adaptive)
    }
    graft.SparkUtil.unpersistTrackedCaches()
  }

  test("adaptive Jaccard: the driver-side concentration equals the aggregate " +
      "exactly, and both paths take the same branch") {
    val uniform = docs((0 until 60).map(i => (i.toLong,
      s"u${i}a u${i}b u${i}c u${i}d u${i}e u${i}f u${i}g")): _*)
    val zipf = docs((0 until 40).map(i => (i.toLong,
      s"common shared header words here t${i}a t${i}b t${i}c t${i}d t${i}e")): _*)
    val conf = spark.conf
    val saved = conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    def branch(corpus: org.apache.spark.sql.DataFrame, cap: Int): String = {
      val p = Dedup.ngramJaccardPairsAdaptive(corpus, threshold = 0.4, maxDocFreq = cap)
        .queryExecution.executedPlan.toString
      graft.SparkUtil.unpersistTrackedCaches()
      if (p.contains("array_intersect")) "prefix" else "plain"
    }
    try {
      // the zipfian header shingles (df 40) stay at a cap of 40, go at 10
      for ((corpus, name) <- Seq(uniform -> "uniform", zipf -> "zipf"); cap <- Seq(10000, 40, 10)) {
        conf.unset("spark.sql.autoBroadcastJoinThreshold")
        val onDriver = driverDfConcentrationOf(corpus, maxDocFreq = cap)
        val aggregate = dfConcentrationOf(corpus, maxDocFreq = cap)
        assert(onDriver.contains(aggregate), s"$name, cap $cap: $onDriver vs $aggregate")
        val want = if (aggregate >= 4.0) "prefix" else "plain"
        val driverBranch = branch(corpus, cap)
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        assert(driverDfConcentrationOf(corpus, maxDocFreq = cap).isEmpty)
        assert(Seq(driverBranch, branch(corpus, cap)) == Seq(want, want), s"$name, cap $cap")
      }
      // both branches are taken
      assert(dfConcentrationOf(uniform) < 4.0 && dfConcentrationOf(zipf) >= 4.0)
    } finally saved match {
      case Some(v) => conf.set("spark.sql.autoBroadcastJoinThreshold", v)
      case None => conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("adaptive Jaccard: the real documents fixture measures near-uniform (plain path)") {
    val real = spark.read.parquet(s"${sf()}/documents.parquet")
    val c = dfConcentrationOf(real)
    assert(c < 4.0, s"fixture corpus concentration $c — q49 should run the plain join")
    graft.SparkUtil.unpersistTrackedCaches()
  }

  /** True when `df` counts its candidate pairs with the ScanCount kernel
    * (a `mapPartitions` over the shingle sets) instead of the index join. */
  private def scanCounted(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("MapPartitions")

  /** The rows of the pair operator `q` built and run on each candidate
    * path, ScanCount first (the default settings), then the index join
    * (`autoBroadcastJoinThreshold = -1`), each checked by its plan: both
    * sorted, so equal paths compare equal row for row, doubles included. */
  private def onBothPaths(q: => org.apache.spark.sql.DataFrame): Seq[Seq[Row]] = {
    val conf = spark.conf
    val saved = conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    def run(scan: Boolean) = {
      val df = q
      // an input the optimizer proves empty plans no candidate step at all
      val empty = df.queryExecution.optimizedPlan
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]
      assert(empty || scanCounted(df) == scan, df.queryExecution.executedPlan.toString)
      val rows = df.collect().toSeq.sortBy(_.toString)
      graft.SparkUtil.unpersistTrackedCaches()
      rows
    }
    try {
      conf.unset("spark.sql.autoBroadcastJoinThreshold")
      val scan = run(scan = true)
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      Seq(scan, run(scan = false))
    } finally saved match {
      case Some(v) => conf.set("spark.sql.autoBroadcastJoinThreshold", v)
      case None => conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("size filter keeps a pair whose Jaccard is exactly the threshold") {
    // 3 and 5 shingles, all 3 of the short doc's in the long one:
    // J = 3/5 = 0.6 = least/greatest of the sizes, on the boundary
    val short = 1L -> "w1 w2 w3 w4 w5"
    val long = 2L -> "w1 w2 w3 w4 w5 w6 w7"
    val d = docs(short, long)
    def scores(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = Seq(Row(1L, 2L, 0.6))
    assert(onBothPaths(Dedup.ngramJaccardPairs(d, threshold = 0.6)) == Seq(want, want))
    assert(scores(Dedup.ngramJaccardPairsAdaptive(d, threshold = 0.6,
      minPrefixConcentration = 0.0)) == Set((1L, 2L, 0.6)))
    assert(onBothPaths(Dedup.ngramJaccardPairsAdaptive(d, threshold = 0.6)) == Seq(want, want))
    assert(onBothPaths(Dedup.crossCorpusPairs(docs(short), docs(long), threshold = 0.6)) ==
      Seq(want, want))
    graft.SparkUtil.unpersistTrackedCaches()
  }

  test("size filter keeps a containment pair exactly at the threshold") {
    // inner has 5 shingles, outer 4, all 4 of them shared:
    // containment(inner -> outer) = 4/5 = 0.8 = sz_out / sz_in
    val d = docs(1L -> "w1 w2 w3 w4 w5 w6 w7", 2L -> "w1 w2 w3 w4 w5 w6")
    val want = Seq(Row(1L, 2L, 0.8), Row(2L, 1L, 1.0))
    assert(onBothPaths(Dedup.containmentPairs(d, threshold = 0.8)) == Seq(want, want))
  }

  /** Seeded corpus with widely spread set sizes: base docs of 3-90 tokens
    * over a 12-word vocabulary, each with a truncated copy and an edited,
    * extended copy, so pairs sit at every size ratio. Half the base docs
    * open with a shared 6-token header, whose shingles (df up to 60) are
    * the ones a cap of 10 removes. */
  private def spreadCorpus(seed: Int): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    def words(k: Int) = Seq.fill(k)(s"v${rnd.nextInt(12)}")
    val header = (0 until 6).map(k => s"hdr$k")
    (0 until 40).flatMap { i =>
      val base = (if (rnd.nextBoolean()) header else Nil) ++ words(3 + rnd.nextInt(88))
      val cut = base.take(3 + rnd.nextInt(base.length - 2))
      val edited = base.map(w => if (rnd.nextInt(10) == 0) s"v${rnd.nextInt(12)}" else w) ++
        words(rnd.nextInt(40))
      Seq(base, cut, edited).zipWithIndex.map { case (ws, j) =>
        (3L * i + j) -> ws.mkString(" ")
      }
    }
  }

  /** Each side's shingle sets with the shingles over the df cap (counted
    * over all `sides`) removed, and every doc's full set size. */
  private def cappedSets(sides: Seq[Seq[(Long, String)]],
      maxDocFreq: Int): (Seq[Map[Long, Set[Long]]], Map[Long, Int]) = {
    val sets = sides.map { side =>
      docs(side: _*).select(col("doc_id"),
          graft.functions.TextFunctions.shingleHashes(col("text"), 3))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet)
        .filter(_._2.nonEmpty).toMap
    }
    val df = sets.flatMap(_.values).flatten.groupBy(identity).map { case (h, hs) => h -> hs.size }
    (sets.map(_.map { case (id, hs) => id -> hs.filter(df(_) <= maxDocFreq) }),
      sets.flatMap(_.map { case (id, hs) => id -> hs.size }).toMap)
  }

  test("size filter is exact: all four pair operators equal an unfiltered " +
      "reference on a spread-size corpus, with and without the df cap binding") {
    for ((seed, t) <- Seq(7 -> 0.5, 19 -> 0.8, 31 -> 0.0); maxDocFreq <- Seq(10000, 10, 2, 1)) {
      val corpus = spreadCorpus(seed)
      val (newSide, oldSide) = corpus.partition(_._1 % 2 == 0)
      // reference: every pair sharing a capped shingle, scored the way the
      // operators score it, with no size filter
      val (Seq(sets), sz) = cappedSets(Seq(corpus), maxDocFreq)
      def inter(a: Long, b: Long) = (sets(a) & sets(b)).size
      def jac(i: Int, a: Long, b: Long) = i.toDouble / (sz(a) + sz(b) - i).toDouble
      val ids = sets.keys.toSeq.sorted
      val jaccard = (for (a <- ids; b <- ids if a < b; i = inter(a, b)
          if i > 0 && jac(i, a, b) >= t) yield (a, b, jac(i, a, b))).toSet
      val containment = (for (a <- ids; b <- ids if a != b; i = inter(a, b)
          if i > 0 && i.toDouble / sz(a).toDouble >= t)
        yield (a, b, i.toDouble / sz(a).toDouble)).toSet
      val (Seq(n, o), _) = cappedSets(Seq(newSide, oldSide), maxDocFreq)
      val cross = (for (a <- n.keys; b <- o.keys; i = (n(a) & o(b)).size
          if i > 0 && jac(i, a, b) >= t) yield (a, b, jac(i, a, b))).toSet
      // a cap of 1 leaves no shingle two docs share; a cap of 2 keeps
      // pairs over the threshold only at t = 0
      val pairsLeft = maxDocFreq > 2 || (maxDocFreq == 2 && t == 0.0)
      if (maxDocFreq == 1) assert(jaccard.isEmpty && containment.isEmpty && cross.isEmpty)
      if (pairsLeft) assert(jaccard.nonEmpty && containment.nonEmpty && cross.nonEmpty)
      // the size filter has candidates to drop (none at t = 0) ...
      assert(t == 0.0 || ids.exists(a => ids.exists(b => inter(a, b) > 0 &&
        math.min(sz(a), sz(b)).toDouble / math.max(sz(a), sz(b)) < t)) || maxDocFreq == 1)
      // ... and the binding cap shrinks some candidate's intersection
      if (maxDocFreq == 10 || maxDocFreq == 2) {
        val (Seq(full), _) = cappedSets(Seq(corpus), 10000)
        assert(ids.exists(a => ids.exists(b =>
          inter(a, b) > 0 && inter(a, b) < (full(a) & full(b)).size)))
      }
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val d = docs(corpus: _*)
      val ctx = s"seed $seed, t $t, cap $maxDocFreq"
      assert(rows(Dedup.ngramJaccardPairs(d, threshold = t, maxDocFreq = maxDocFreq)) == jaccard, ctx)
      assert(rows(Dedup.ngramJaccardPairsAdaptive(d, threshold = t, maxDocFreq = maxDocFreq,
        minPrefixConcentration = 0.0)) == jaccard, ctx)
      assert(rows(Dedup.containmentPairs(d, threshold = t, maxDocFreq = maxDocFreq)) == containment, ctx)
      assert(rows(Dedup.crossCorpusPairs(docs(newSide: _*), docs(oldSide: _*),
        threshold = t, maxDocFreq = maxDocFreq)) == cross, ctx)
      graft.SparkUtil.unpersistTrackedCaches()
      // the ScanCount kernel and the index join it replaces give the same rows
      for ((name, q) <- Seq[(String, () => org.apache.spark.sql.DataFrame)](
          "jaccard" -> (() => Dedup.ngramJaccardPairs(d, threshold = t, maxDocFreq = maxDocFreq)),
          "adaptive" -> (() => Dedup.ngramJaccardPairsAdaptive(d, threshold = t,
            maxDocFreq = maxDocFreq, minPrefixConcentration = Double.PositiveInfinity)),
          "containment" -> (() => Dedup.containmentPairs(d, threshold = t, maxDocFreq = maxDocFreq)),
          "cross" -> (() => Dedup.crossCorpusPairs(docs(newSide: _*), docs(oldSide: _*),
            threshold = t, maxDocFreq = maxDocFreq)))) {
        val Seq(scan, join) = onBothPaths(q())
        assert((scan.nonEmpty || !pairsLeft) && scan == join, s"$name, $ctx")
      }
    }
  }

  /** Docs with a nullable id column, for the null-id cases. */
  private def nullableDocs(rows: (java.lang.Long, String)*) =
    spark.createDataFrame(rows.map { case (i, t) => Row(i, t) }.asJava,
      StructType(Seq(StructField("doc_id", LongType, nullable = true),
        StructField("text", StringType, nullable = false))))

  test("degenerate inputs: both candidate paths return the hand-computed pairs") {
    val l = java.lang.Long.valueOf(_: Long)
    type Cases = Seq[(String, Seq[(java.lang.Long, String)], Seq[(java.lang.Long, String)],
      Int, Seq[Row], Seq[Row], Seq[Row])]
    // (case, new side, old side, df cap, Jaccard pairs of new ++ old,
    //  containment pairs of new ++ old, cross-corpus pairs new x old)
    val cases: Cases = Seq(
      ("empty documents", Nil, Nil, 10000, Nil, Nil, Nil),
      ("single document", Seq(l(1) -> "a b c d"), Nil, 10000, Nil, Nil, Nil),
      ("every doc shorter than n tokens",
        Seq(l(1) -> "a b", l(2) -> "a b"), Seq(l(3) -> "a", l(4) -> ""), 10000, Nil, Nil, Nil),
      // "a b c" and "b c d" sit in three docs counting the null one, so
      // the cap of 2 drops them: 1 and 2 share nothing left, and only
      // the identical 3 and 4 pair; without the null doc, 1 and 2 would
      // score 2 / 3
      ("null doc_id counts toward a binding df cap",
        Seq(l(1) -> "a b c d", (null: java.lang.Long) -> "a b c d", l(3) -> "x y z w"),
        Seq(l(2) -> "a b c d e", l(4) -> "x y z w"), 2,
        Seq(Row(3L, 4L, 1.0)), Seq(Row(3L, 4L, 1.0), Row(4L, 3L, 1.0)), Seq(Row(3L, 4L, 1.0))),
      ("all-identical corpus",
        Seq(l(1) -> "p q r s t"), Seq(l(2) -> "p q r s t", l(3) -> "p q r s t"), 10000,
        Seq(Row(1L, 2L, 1.0), Row(1L, 3L, 1.0), Row(2L, 3L, 1.0)),
        Seq(1L -> 2L, 1L -> 3L, 2L -> 1L, 2L -> 3L, 3L -> 1L, 3L -> 2L)
          .map { case (a, b) => Row(a, b, 1.0) },
        Seq(Row(1L, 2L, 1.0), Row(1L, 3L, 1.0))),
      // four-byte UTF-8 tokens: 2 shingles inside 3, J = 2/3
      ("4-byte UTF-8 text",
        Seq(l(1) -> "\ud83d\ude00 \ud835\udd18 \ud840\udc0b \ud83c\udf89"),
        Seq(l(2) -> "\ud83d\ude00 \ud835\udd18 \ud840\udc0b \ud83c\udf89 \ud83d\ude80"), 10000,
        Seq(Row(1L, 2L, 2.0 / 3)), Seq(Row(1L, 2L, 1.0), Row(2L, 1L, 2.0 / 3)),
        Seq(Row(1L, 2L, 2.0 / 3))))
    for ((name, newSide, oldSide, cap, jaccard, containment, cross) <- cases) {
      val all = nullableDocs(newSide ++ oldSide: _*)
      def check(op: String, want: Seq[Row])(q: => org.apache.spark.sql.DataFrame) =
        assert(onBothPaths(q) == Seq.fill(2)(want.sortBy(_.toString)), s"$op on $name")
      check("jaccard", jaccard)(Dedup.ngramJaccardPairs(all, threshold = 0.6, maxDocFreq = cap))
      check("containment", containment)(
        Dedup.containmentPairs(all, threshold = 0.6, maxDocFreq = cap))
      check("cross", cross)(Dedup.crossCorpusPairs(nullableDocs(newSide: _*),
        nullableDocs(oldSide: _*), threshold = 0.6, maxDocFreq = cap))
    }
  }

  test("clusterPurity: per-cluster label distincts and mixed flags, hand graph") {
    val spark0 = spark
    import spark0.implicits._
    val docs = Seq(
      (1L, "en", "web"), (2L, "de", "web"),            // mixed-lang pair
      (3L, "en", "web"), (4L, "en", "books"), (5L, "en", "web"), // mixed-source triple
      (6L, "fr", "web")                                // singleton: no purity row
    ).toDF("doc_id", "lang", "source")
    val pairs = Seq((1L, 2L), (3L, 4L), (4L, 5L)).toDF("id_a", "id_b")
    val out = Dedup.clusterPurity(docs, pairs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4), r.getBoolean(5)))).toMap
    assert(out == Map(
      1L -> ((2L, 2L, 1L, true, false)),
      3L -> ((3L, 1L, 2L, false, true))))
    graft.SparkUtil.unpersistTrackedCaches()
  }
}
