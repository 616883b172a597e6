package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/**
 * Parity tests: the native codegen'd hash expressions must agree with the
 * interpreted higher-order-function formulations (the formulations the
 * DuckDB oracle replays in SQL) on the real corpus.
 */
class HashExpressionsSpec extends SparkSpec {

  private def docs = spark.read.parquet(s"${sf()}/documents.parquet")

  test("native rolling hash == HOF rolling hash on the corpus") {
    val d = docs.select(
      TextFunctions.rollingHash(col("text")).as("a"),
      HofTwins.rollingHashHof(col("text")).as("b"))
    assert(d.filter(col("a") =!= col("b")).count() == 0)
  }

  test("native charTrigrams == HOF transform+substring on the corpus " +
      "and on multi-byte/short edge cases") {
    val d = docs.filter(length(col("text")) >= 3).select(
      TextFunctions.charTrigrams(col("text")).as("a"),
      HofTwins.charTrigramsHof(col("text")).as("b"))
    assert(d.filter(col("a") =!= col("b")).count() == 0)
    val spark0 = spark
    import spark0.implicits._
    // multi-byte chars (2-, 3-, 4-byte UTF-8), exactly-3, and mixed —
    // the HOF guard (length >= 3) mirrors every caller's filter
    val edge = Seq("abc", "abcd", "héllo", "日本語のテスト", "a😀b😀c", "ΑΒΓΔ")
      .toDF("text").filter(length(col("text")) >= 3)
    val e = edge.select(
      TextFunctions.charTrigrams(col("text")).as("a"),
      HofTwins.charTrigramsHof(col("text")).as("b"))
    assert(e.filter(col("a") =!= col("b")).count() == 0)
    // sub-3-char strings yield an empty array natively (callers filter
    // them out; the HOF spelling would descend through sequence(1, 0))
    val short = Seq("", "a", "ab", "日本").toDF("text")
      .select(TextFunctions.charTrigrams(col("text")).as("a"))
    assert(short.filter(size(col("a")) =!= 0).count() == 0)
  }

  test("native simhash == HOF simhash on the corpus") {
    val toks = split(col("text"), " ")
    val d = docs.select(
      TextFunctions.simhash(toks).as("a"),
      HofTwins.simhashHof(toks).as("b"))
    assert(d.filter(col("a") =!= col("b")).count() == 0)
  }

  test("native simhash64 == HOF simhash64; low half == simhash32") {
    val toks = split(col("text"), " ")
    val d = docs.select(
      TextFunctions.simhash64(toks).as("a"),
      HofTwins.simhash64Hof(toks).as("b"),
      TextFunctions.simhash(toks).as("sh32"))
    assert(d.filter(col("a") =!= col("b")).count() == 0)
    // same Mix drives bits 0..31, so the 64-bit hash's low half IS the
    // 32-bit hash — the identity that makes q269 pairs ⊆ q16 pairs
    assert(d.filter(col("a").bitwiseAND(lit(0xFFFFFFFFL)) =!= col("sh32"))
      .count() == 0)
    // high half must actually differ from the low half (Mix2 at work)
    assert(d.filter(shiftright(col("a"), 32).bitwiseAND(lit(0xFFFFFFFFL))
      =!= col("a").bitwiseAND(lit(0xFFFFFFFFL))).count() > 0)
  }

  test("native minhash signature == HOF signature on the corpus") {
    val hs = TextFunctions.shingleHashes(col("text"), 3)
    val d = docs.filter(size(split(col("text"), " ")) >= 3).select(
      TextFunctions.minhashSignature(hs, 32).as("a"),
      HofTwins.minhashSignatureHof(hs, 32).as("b"))
    assert(d.filter(not(col("a") <=> col("b"))).count() == 0)
  }

  test("native shingle hashes == HOF shingle hashes on the corpus (incl. order)") {
    val d = docs.select(
      TextFunctions.shingleHashes(col("text"), 3).as("a"),
      HofTwins.shingleHashesHof(col("text"), 3).as("b"))
    assert(d.filter(not(col("a") <=> col("b"))).count() == 0)
    // short-doc edge: fewer tokens than n → empty array, not null/crash
    val spark0 = spark
    import spark0.implicits._
    val short = Seq("one two", "a").toDF("text")
      .select(TextFunctions.shingleHashes(col("text"), 3).as("a"),
        HofTwins.shingleHashesHof(col("text"), 3).as("b"))
      .collect()
    short.foreach { r =>
      assert(r.getSeq[Long](0).isEmpty && r.getSeq[Long](1).isEmpty)
    }
  }

  test("native multiset shingle hashes == HOF transform (duplicates, order)") {
    val d = docs.select(
      TextFunctions.shingleHashesAll(col("text"), 3).as("a"),
      HofTwins.shingleHashesAllHof(col("text"), 3).as("b"))
    assert(d.filter(not(col("a") <=> col("b"))).count() == 0)
    val spark0 = spark
    import spark0.implicits._
    val edge = Seq("one two", "a", "x x x x").toDF("text")
      .select(TextFunctions.shingleHashesAll(col("text"), 3).as("a"),
        HofTwins.shingleHashesAllHof(col("text"), 3).as("b"))
      .collect()
    edge.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
    // the repeated-token doc keeps BOTH identical shingles (multiset)
    assert(edge(2).getSeq[Long](0).size == 2)
  }

  test("native float dot product == unrolled element_at chain, bit for bit") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet").limit(100).cache()
    val pairs = emb.as("x").crossJoin(emb.as("y")).select(
      VectorFunctions.dot(col("x.embedding"), col("y.embedding"), 64).as("a"),
      VectorFunctions.dotUnrolled(col("x.embedding"), col("y.embedding"), 64).as("b"))
    assert(pairs.filter(col("a") =!= col("b")).count() == 0)
  }

  test("native token mode count == HOF distinct-filter max on the corpus") {
    val d = docs.select(
      TextFunctions.topTokenCount(col("text")).as("a"),
      HofTwins.topTokenCountHof(split(col("text"), " ")).as("b"))
    assert(d.filter(col("a") =!= col("b")).count() == 0)
  }

  test("native multi-list marker counts == regex marker count per language list") {
    val d = docs.select(
      TextFunctions.langMarkerCounts(col("text")).as("mc"),
      org.apache.spark.sql.functions.array(
        TextFunctions.LangMarkers.map { case (_, ws) =>
          TextFunctions.markerCount(col("text"), ws)
        }: _*).as("re"))
    assert(d.filter(col("mc") =!= col("re")).count() == 0)
  }

  test("regex marker count == lambda token filter on the corpus (every language list)") {
    TextFunctions.LangMarkers.foreach { case (_, markers) =>
      val d = docs.select(
        TextFunctions.markerCount(col("text"), markers).as("a"),
        HofTwins.markerCountHof(split(col("text"), " "), markers).as("b"))
      assert(d.filter(col("a") =!= col("b")).count() == 0)
    }
  }

  test("native SRP bucket == unrolled plane chain, every vector") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val d = emb.select(
      VectorFunctions.lshBucket(col("embedding"), 64, 8).as("a"),
      HofTwins.lshBucketHof(col("embedding"), 64, 8).as("b"))
    assert(d.filter(col("a") =!= col("b")).count() == 0)
  }

  test("native PQ code and L2-to-literal == unrolled twins, every vector") {
    val spark0 = spark
    import spark0.implicits._
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val cents = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").cast("long"), col("embedding").cast("array<float>"))
      .as[(Long, Array[Float])].collect().sortBy(_._1).map(_._2)
    // per-subspace codebook (subspace 2 of 8) + full-dim cell assign
    val sub = cents.map(_.slice(16, 24).map(_.toDouble).toSeq).toSeq
    val full = cents.map(_.map(_.toDouble).toSeq).toSeq
    val target = cents(3).map(_.toDouble).toSeq
    val d = emb.select(
      VectorFunctions.pqCode(col("embedding"), sub, 16, 8).as("a"),
      VectorFunctions.pqCodeUnrolled(col("embedding"), sub, 16, 8).as("b"),
      VectorFunctions.pqCode(col("embedding"), full, 0, 64).as("c"),
      VectorFunctions.pqCodeUnrolled(col("embedding"), full, 0, 64).as("d"),
      VectorFunctions.l2ToLit(col("embedding"), target, 0).as("e"),
      VectorFunctions.l2ToLitUnrolled(col("embedding"), target, 0).as("f"))
    assert(d.filter(col("a") =!= col("b") || col("c") =!= col("d") ||
      col("e") =!= col("f")).count() == 0)
  }

  test("native expressions survive both codegen and interpreted eval paths") {
    // force interpreted path by disabling whole-stage codegen
    val prev = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      val r1 = docs.limit(20).select(TextFunctions.rollingHash(col("text")).as("h"))
        .collect().map(_.getLong(0)).toSeq
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      val r2 = docs.limit(20).select(TextFunctions.rollingHash(col("text")).as("h"))
        .collect().map(_.getLong(0)).toSeq
      assert(r1 == r2)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", prev)
  }

  test("native feature-hash summary == relational explode-agg twin on the corpus") {
    import graft.operators.TextAnalysis
    val native = TextAnalysis.featureHash(docs, d = 32)
      .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    val agg = TextAnalysis.featureHashAgg(docs, d = 32)
      .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    assert(native == agg)
  }

  test("native feature-hash summary agrees across codegen and interpreted paths") {
    val prev = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      val r1 = docs.limit(20)
        .select(TextFunctions.featureHashSummary(col("text"), 16).as("s"))
        .collect().map(_.getSeq[Long](0)).toSeq
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      val r2 = docs.limit(20)
        .select(TextFunctions.featureHashSummary(col("text"), 16).as("s"))
        .collect().map(_.getSeq[Long](0)).toSeq
      assert(r1 == r2)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", prev)
  }

  test("binary band keys induce exactly the concat_ws string-key " +
      "equality classes (corpus + null/short signature edge cases)") {
    val spark0 = spark
    import spark0.implicits._
    val r = 4; val bands = 32
    val corpusSigs = docs.select(col("doc_id").cast("string").as("id"),
      TextFunctions.minhashSignature(
        TextFunctions.shingleHashes(col("text"), 3), 128).as("sig"))
    // edge rows: all-null signature (empty shingle set), a signature
    // shorter than k, and a mixed null/non-null one — concat_ws skips
    // nulls and tolerates short slices; the binary packing must induce
    // the same key equalities
    val edge = Seq(
      ("e1", Seq.fill[java.lang.Long](128)(null)),
      ("e2", Seq.fill[java.lang.Long](128)(null)),
      ("e3", Seq[java.lang.Long](1L, 2L, 3L)),
      ("e4", Seq[java.lang.Long](1L, null, 2L, 3L)),
      ("e5", Seq[java.lang.Long](null, 1L, 2L, 3L))
    ).toDF("id", "sig")
    val sigs = corpusSigs.unionByName(edge)
    val bin = sigs.select(col("id"),
      posexplode(TextFunctions.bandKeyBytes(col("sig"), r, bands)))
      .select(col("id"), col("pos").as("band_id"), col("col").as("bin_key"))
    val str = sigs.select(col("id"),
      explode(transform(sequence(lit(0), lit(bands - 1)),
        b => struct(b.as("band_id"),
          concat_ws("_", slice(col("sig"), b * r + 1, lit(r))).as("str_key"))))
        .as("band"))
      .select(col("id"), col("band.band_id"), col("band.str_key"))
    val both = bin.join(str, Seq("id", "band_id"))
    assert(both.count() == sigs.count() * bands)
    // mutual refinement = identical partitions: every string-key class
    // maps to exactly one binary key and vice versa
    assert(both.groupBy("band_id", "str_key")
      .agg(count_distinct(col("bin_key")).as("n"))
      .filter(col("n") =!= 1).count() == 0)
    assert(both.groupBy("band_id", "bin_key")
      .agg(count_distinct(col("str_key")).as("n"))
      .filter(col("n") =!= 1).count() == 0)
  }

  test("band key bytes agree across codegen and interpreted paths") {
    val prev = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    def run() = docs.limit(20).select(
        TextFunctions.bandKeyBytes(TextFunctions.minhashSignature(
          TextFunctions.shingleHashes(col("text"), 3), 128), 4, 32).as("k"))
      .collect().map(_.getSeq[Array[Byte]](0).map(_.toSeq)).toSeq
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      val r1 = run()
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      val r2 = run()
      assert(r1 == r2)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", prev)
  }
}
