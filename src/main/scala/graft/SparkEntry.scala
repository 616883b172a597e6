package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.LookupConfig
import graft.operators.{AsOfJoin, BpeTrain, ConnectedComponents, Dedup, EventAnalytics, FuzzyMatch, GraphOps, IntervalJoin, Layout, LookupTransform, Multimodal, Profiler, Sampling, SimilaritySearch, Sketches, TextAnalysis, UrlOps}
import graft.streaming.StreamingOps

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The SURVEY.md §7.2 minimum slice: customer enriched with nation name. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    LookupTransform(
      Map("customer" -> t(spark, dir, "customer"), "nation" -> t(spark, dir, "nation")),
      LookupConfig("nation", "c_nationkey", "n_nationkey", "n_name",
        outputField = Some("nation_name")))
  }

  /** A registered query: its name, its build, and its oracle, the ANSI SQL
    * DuckDB runs on the same parquet tables. The oracle is by-name, so
    * building the registry evaluates no oracle SQL. */
  private[graft] final class Query(val name: String,
      val build: (SparkSession, String) => DataFrame, sql: => String) {
    def oracle: String = sql
  }
  private[graft] object Query {
    def apply(name: String, build: (SparkSession, String) => DataFrame,
        sql: => String): Query = new Query(name, build, sql)
  }

  /** `entries` as a registry; a name given twice throws, naming it. */
  private[graft] def registry(entries: Query*): Seq[Query] = {
    val twice = entries.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(twice.isEmpty, s"query registered twice: ${twice.toSeq.sorted.mkString(", ")}")
    entries
  }

  /** Each registered query's build, by name. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registered.iterator.map(q => q.name -> q.build).toMap

  /** Each registered query's oracle SQL, by name. */
  def oracleSql: Map[String, String] =
    registered.iterator.map(q => q.name -> q.oracle).toMap

  /** The queries whose names `matches` one of `patterns`. Throws, naming
    * `source`, when there is no pattern or a pattern matches no query. */
  private[graft] def select(source: String, patterns: Seq[String],
      matches: (String, String) => Boolean): Map[String, (SparkSession, String) => DataFrame] = {
    val all = queries
    val unmatched = patterns.filterNot(p => all.keys.exists(matches(_, p)))
    if (patterns.isEmpty || unmatched.nonEmpty) throw new IllegalArgumentException(
      s"$source matches no query: " +
        (if (patterns.isEmpty) "no pattern given" else unmatched.mkString(", ")))
    all.filter { case (n, _) => patterns.exists(matches(n, _)) }
  }

  /** q220 injection suffix — shared with the oracle builder. */
  val SentenceSuffix = ". second sentence here. third one"

  /** q156 pivot-value list; q158 rule list — shared with the oracle
    * builders so the two sides cannot drift. */
  private val PivotLangs: Seq[String] = Seq("en", "de", "es", "fr", "zh")
  private val DqRules: Seq[(String, String)] = Seq(
    "qty_range" -> "l_quantity BETWEEN 1 AND 50",
    "price_positive" -> "l_extendedprice > 0",
    "discount_domain" -> "l_discount BETWEEN 0.0 AND 0.1",
    "returnflag_domain" -> "l_returnflag IN ('A', 'N', 'R')",
    "linenumber_range" -> "l_linenumber BETWEEN 1 AND 7",
    // a freshness rule that genuinely fails on part of the fixture, so
    // the report exercises a non-zero violation path
    "shipped_before_1996" -> "l_shipdate < DATE '1996-01-01'")

  /** q134 phrase dictionary — vocabulary-pool bigrams that genuinely
    * occur in the synthetic corpus; shared with the oracle builder. */
  private val PhraseDict: Seq[String] = Seq("table table", "query key",
    "fast sort", "data window", "spark value", "merge batch")

  /** q100 profiled lineitem columns — one of each physical type (int64,
    * int32, double, string, timestamp); shared with the oracle builder. */
  private val ProfileCols: Seq[String] = Seq(
    "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_shipdate")

  /** q124 correlation columns — lineitem's numeric measures; shared with
    * the oracle builder. */
  private val CorrCols: Seq[String] = Seq(
    "l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** q87 target output mix (percent, sums to 100) — shared with the
    * oracle builder. */
  private val MixTargets: Map[String, Int] =
    Map("en" -> 40, "de" -> 15, "es" -> 15, "fr" -> 15, "zh" -> 15)

  /** q88 per-language marker suffixes (injected doubled) — the fixture
    * corpus has no real language signal, so these provide it; shared
    * with the oracle builder. Ordered so the injection CASE chain is
    * deterministic. */
  val LangProfileMarks: Seq[(String, String)] = Seq(
    "en" -> "the and is of with",
    "de" -> "der und ist straße über",
    "es" -> "el que es niño según",
    "fr" -> "le est très être déjà",
    "zh" -> "的 是 了 在 不")

  /** Injected boilerplate sentence for q62 — 10 tokens, so injected docs
    * share the suffix-internal 8-token spans. Shared with the oracle. */
  private val BoilerplateSuffix =
    "cookie policy accept continue reading subscribe to our newsletter now"

  /** Injected duplicated paragraph for q76 — 13 ASCII tokens (> the
    * 8-token span width), so injected docs share 6 overlapping
    * suffix-internal spans whose non-keeper position sets union to the
    * whole run. Shared with the oracle. */
  private val DupRunParagraph =
    "this article is distributed under a creative commons attribution license terms apply everywhere"

  private val intervalJoinOracle: String =
    """SELECT e.event_id, e.ts, e.user_id,
      |  p.event_id AS prior_event_id, p.ts AS prior_ts
      |FROM events e JOIN events p ON e.user_id = p.user_id
      |  AND p.ts >= e.ts - INTERVAL 7 DAY
      |  AND p.ts <= e.ts""".stripMargin

  /** One entry per implemented operator from SURVEY.md §2.
    *
    * ReadSchema audit (r17, VERDICT r16 item 6 — guide §2.3/§6): the
    * full-plan sweep flags exactly 15 queries whose `documents` scan
    * reads all five columns — q13, q31, q32, q33, q39, q43, q44, q51,
    * q52, q60, q71, q72, q87, q125, q217. Each was checked against its
    * Verify dump: every one OUTPUTS whole document rows (sampler /
    * split / dedup-keeper / decontamination contract — the 5-column
    * schema, plus `split` for q32/q217), so the full-width scan IS the
    * output contract, not a missed pruning. Every other documents
    * consumer prunes to the columns it uses (verified in the same
    * sweep). */
  private lazy val registered: Seq[Query] = registry(
    // ---- Tier A: reference Lookup semantics (SURVEY.md §2.3 Q1-Q8) ----

    // Q1 base enrichment (docs/Lookup-batchjoiner.md:29-59 shape).
    Query("q1_lookup_basic", (s, dir) =>
      LookupTransform(
        Map("orders" -> t(s, dir, "orders"), "customer" -> t(s, dir, "customer")),
        LookupConfig("customer", "o_custkey", "c_custkey", "c_name",
          outputField = Some("cust_name"))),
      """SELECT o.*, c.c_name AS cust_name
        |FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey""".stripMargin),

    // Q2 E4: no outputField → alias defaults to lookupValueField (Lookup.java:390).
    Query("q2_lookup_alias_default", (s, dir) =>
      LookupTransform(
        Map("customer" -> t(s, dir, "customer"), "nation" -> t(s, dir, "nation")),
        LookupConfig("nation", "c_nationkey", "n_nationkey", "n_name")),
      """SELECT c.*, n.n_name AS n_name
        |FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey""".stripMargin),

    // Q3 E1: left-outer null padding — lookup side filtered so some
    // l_partkey values have no match (Lookup.java:456-457).
    Query("q3_lookup_unmatched_nulls", (s, dir) =>
      LookupTransform(
        Map("lineitem" -> t(s, dir, "lineitem"),
          "part" -> t(s, dir, "part").filter(col("p_size") < 25)),
        LookupConfig("part", "l_partkey", "p_partkey", "p_brand",
          outputField = Some("brand"))),
      """SELECT l.*, p.p_brand AS brand
        |FROM lineitem l LEFT JOIN (SELECT * FROM part WHERE p_size < 25) p
        |ON l.l_partkey = p.p_partkey""".stripMargin),

    // Q4 E2: duplicate lookup keys multiply rows — many orders per customer
    // (true join, not a first-match map; Lookup.java:219-231).
    Query("q4_lookup_dup_keys", (s, dir) =>
      LookupTransform(
        Map("customer" -> t(s, dir, "customer"), "orders" -> t(s, dir, "orders")),
        LookupConfig("orders", "c_custkey", "o_custkey", "o_totalprice",
          outputField = Some("any_price"))),
      """SELECT c.*, o.o_totalprice AS any_price
        |FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey""".stripMargin),

    // Q5 E3: NULL keys on both sides never match (setNullSafe(false),
    // Lookup.java:224). Nulls injected deterministically.
    Query("q5_lookup_null_keys", (s, dir) => {
      val orders = t(s, dir, "orders").select(
        col("o_orderkey"),
        when(col("o_orderkey") % 7 === 0, lit(null)).otherwise(col("o_custkey"))
          .as("o_custkey"),
        col("o_totalprice"))
      val customer = t(s, dir, "customer").select(
        when(col("c_custkey") % 5 === 0, lit(null)).otherwise(col("c_custkey"))
          .as("c_custkey"),
        col("c_name"))
      LookupTransform(
        Map("orders" -> orders, "customer" -> customer),
        LookupConfig("customer", "o_custkey", "c_custkey", "c_name",
          outputField = Some("cust_name")))
    }, """SELECT o2.*, c2.c_name AS cust_name
        |FROM (SELECT o_orderkey,
        |        CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END AS o_custkey,
        |        o_totalprice FROM orders) o2
        |LEFT JOIN (SELECT CASE WHEN c_custkey % 5 = 0 THEN NULL ELSE c_custkey END AS c_custkey,
        |        c_name FROM customer) c2
        |ON o2.o_custkey = c2.c_custkey""".stripMargin),

    // Q6 extension: widget-spec `defaultValue` (widgets/Lookup-batchjoiner.json:45-51,
    // dead in the reference Config) — unmatched rows get the default, not null.
    Query("q6_lookup_default_value", (s, dir) =>
      LookupTransform(
        Map("lineitem" -> t(s, dir, "lineitem"),
          "part" -> t(s, dir, "part").filter(col("p_size") < 25)),
        LookupConfig("part", "l_partkey", "p_partkey", "p_brand",
          outputField = Some("brand"), defaultValue = Some("UNKNOWN"))),
      """SELECT l.*, COALESCE(p.p_brand, 'UNKNOWN') AS brand
        |FROM lineitem l LEFT JOIN (SELECT * FROM part WHERE p_size < 25) p
        |ON l.l_partkey = p.p_partkey""".stripMargin),

    // Q7 E8: compatible-but-unequal key types (int lookup key vs bigint
    // input key; Lookup.java:510-513 / Cast.canUpCast).
    Query("q7_lookup_key_upcast", (s, dir) => {
      val supplier = t(s, dir, "supplier").select(
        col("s_suppkey").cast("int").as("s_suppkey"), col("s_acctbal"))
      LookupTransform(
        Map("lineitem" -> t(s, dir, "lineitem"), "supplier" -> supplier),
        LookupConfig("supplier", "l_suppkey", "s_suppkey", "s_acctbal",
          outputField = Some("supp_bal")))
    }, """SELECT l.*, s.s_acctbal AS supp_bal
        |FROM lineitem l
        |LEFT JOIN (SELECT CAST(s_suppkey AS INTEGER) AS s_suppkey, s_acctbal FROM supplier) s
        |ON l.l_suppkey = s.s_suppkey""".stripMargin),

    // Q8 composability: chained lookups in a DAG (stage model,
    // Lookup.java:464-465) — lineitem → orders, then → part.
    Query("q8_lookup_chained", (s, dir) => {
      val step1 = LookupTransform(
        Map("lineitem" -> t(s, dir, "lineitem"), "orders" -> t(s, dir, "orders")),
        LookupConfig("orders", "l_orderkey", "o_orderkey", "o_orderdate",
          outputField = Some("order_date")))
      LookupTransform(
        Map("step1" -> step1, "part" -> t(s, dir, "part")),
        LookupConfig("part", "l_partkey", "p_partkey", "p_type",
          outputField = Some("part_type")))
    }, """SELECT l.*, o.o_orderdate AS order_date, p.p_type AS part_type
        |FROM lineitem l
        |LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        |LEFT JOIN part p ON l.l_partkey = p.p_partkey""".stripMargin),

    // ---- Tier B: training-data-pipeline operators (SURVEY.md §2.3) ----

    // Text analysis: per-language corpus stats (integer sums + derived avgs).
    Query("q9_text_stats", (s, dir) =>
      TextAnalysis.stats(t(s, dir, "documents")),
      OracleSql.textStats),

    // Per-doc quality metrics: ws/BPE-ish token counts, TTR, stopword
    // ratio, mean token length, quality gate.
    Query("q10_text_quality", (s, dir) =>
      TextAnalysis.quality(t(s, dir, "documents")),
      OracleSql.textQuality),

    // Language-ID by stopword-marker voting (deterministic heuristic).
    Query("q11_text_langid", (s, dir) =>
      TextAnalysis.languageId(t(s, dir, "documents")),
      OracleSql.textLangId),

    // Language-ID with Han text injected into a hash-sampled 20% slice —
    // the fixture corpus is pure ASCII, so q11 alone never reaches the
    // `zh` character-class branch; this query builds the Han suffix
    // inside the query (codepoint literals, deterministic membership) so
    // the branch gets a real cross-engine oracle row.
    Query("q53_langid_zh", (s, dir) => {
      val injected = t(s, dir, "documents").select(
        col("doc_id"),
        when(Sampling.bucket(col("doc_id")) < 20,
          concat(col("text"), lit(" 中文")))
          .otherwise(col("text")).as("text"))
      TextAnalysis.languageId(injected)
    }, OracleSql.textLangIdZh(injectPct = 20)),

    // Content fingerprints: md5 + rolling hash + 32-bit SimHash.
    Query("q12_text_fingerprint", (s, dir) =>
      TextAnalysis.fingerprint(t(s, dir, "documents")),
      OracleSql.textFingerprint),

    // Exact dedup: first doc per source (hash-partitioned window).
    Query("q13_dedup_exact", (s, dir) =>
      Dedup.exact(t(s, dir, "documents"), Seq("source"), "doc_id"),
      OracleSql.dedupExact),

    // Exact n-gram Jaccard near-dup pairs via inverted-index join.
    Query("q14_dedup_ngram_jaccard", (s, dir) =>
      Dedup.ngramJaccardPairs(t(s, dir, "documents")),
      OracleSql.ngramJaccardPairs(threshold = 0.6, maxDocFreq = 10000)),

    // MinHash+LSH near-dup pairs (k=128, 32 bands) with exact verification.
    Query("q15_dedup_minhash_lsh", (s, dir) =>
      Dedup.minhashLshPairs(t(s, dir, "documents")),
      OracleSql.ngramJaccardPairs(threshold = 0.6, maxDocFreq = 10000)),

    // SimHash near-dup pairs within Hamming distance 3 (pigeonhole blocks).
    Query("q16_dedup_simhash", (s, dir) =>
      Dedup.simhashPairs(t(s, dir, "documents")),
      OracleSql.simhashPairs(maxHamming = 3)),

    // Brute-force cosine top-10 against the vec_id=0 embedding.
    Query("q17_embed_topk", (s, dir) => {
      val e = t(s, dir, "embeddings")
      SimilaritySearch.topKCosine(e, e.filter(col("vec_id") === 0), k = 10)
    }, OracleSql.embedTopK(queryId = 0, k = 10, dim = 64)),

    // Exact cosine near-duplicate pairs over embeddings.
    Query("q18_embed_neardup", (s, dir) =>
      SimilaritySearch.cosineNearDupPairs(t(s, dir, "embeddings"), threshold = 0.4),
      OracleSql.embedNearDup(threshold = 0.4, dim = 64)),

    // Approximate ANN top-10: LSH sign-projection buckets, exact re-rank.
    // No SQL oracle (approximate by design) → driver rows-only check.
    Query("q19_ann_lsh", (s, dir) => {
      val e = t(s, dir, "embeddings")
      SimilaritySearch.annTopKLsh(e, e.filter(col("vec_id") === 0), k = 10)
    }, OracleSql.annTopKLsh(queryId = 0, k = 10, dim = 64,
      nPlanes = 4, nTables = 15)),

    // Exact batch kNN join: top-5 corpus neighbors for EVERY vector of a
    // broadcastable query batch — one narrow scoring pass over the
    // corpus, per-query cut via WindowGroupLimit (<= k rows per query
    // leave each map task).
    Query("q57_knn_join", (s, dir) => {
      val e = t(s, dir, "embeddings")
      SimilaritySearch.knnJoin(e, e.filter(col("vec_id") < 5), k = 5)
    }, OracleSql.knnJoin(queryMax = 5, k = 5, dim = 64)),

    // Corpus-scale approximate kNN join (the k-NN-graph step of semantic
    // dedup): SRP bucket-collision candidates, exact cosine, per-vector
    // WindowGroupLimit cut. Exactly oracled — approximation in the
    // index, not the execution (q30/q41's principle).
    Query("q58_knn_join_lsh", (s, dir) =>
      SimilaritySearch.knnJoinLsh(t(s, dir, "embeddings"), k = 5),
      OracleSql.knnJoinLsh(k = 5, dim = 64, nPlanes = 4, nTables = 8)),

    // Symmetric int8 embedding quantization (4x ANN storage/IO), summary
    // form: per-vector scale + code min/max + polynomial checksum of the
    // full code sequence (content-exact without array output).
    Query("q59_quantize_int8", (s, dir) =>
      SimilaritySearch.quantizeInt8(t(s, dir, "embeddings")),
      OracleSql.quantizeInt8(dim = 64)),

    // Multimodal plumbing: opaque binary payloads → typed metadata via the
    // batch-iterated codec (stub decode, real Spark contract).
    Query("q20_multimodal_meta", (s, dir) =>
      Multimodal.decodeMeta(Multimodal.mediaFromDocuments(t(s, dir, "documents"))).toDF(),
      OracleSql.multimodalMeta),

    // Tumbling-window event stats (same code path serves streaming with a
    // watermark; on batch it is epoch-aligned hour bucketing).
    Query("q21_events_window", (s, dir) =>
      StreamingOps.windowedStats(Tables.loadEvents(s, dir)),
      OracleSql.eventsWindow),

    // As-of join: each event enriched with the user's latest order at or
    // before the event time (order key uniquifies date ties). Declared
    // via the merge formulation (one shuffle, no history multiplication
    // — the deep-history scale path); spec pins it equal to the
    // join+pick formulation.
    Query("q22_asof_join", (s, dir) => {
      val orders = t(s, dir, "orders")
        .withColumn("o_orderdate", col("o_orderdate").cast("timestamp"))
      AsOfJoin.unionSorted(
        Tables.loadEvents(s, dir).select("event_id", "ts", "user_id"),
        orders,
        leftKey = "user_id", rightKey = "o_custkey",
        leftTime = "ts", rightTime = "o_orderdate",
        rightCols = Seq(
          "o_orderkey" -> "last_order_key",
          "o_orderdate" -> "last_order_date",
          "o_totalprice" -> "last_order_price"),
        tieBreakCols = Seq("o_orderkey"))
    }, OracleSql.asofJoin),

    // The join+pick as-of formulation — same semantics as q22 (shares
    // its oracle), declared separately so BOTH formulations sit behind
    // the correctness gate: this is the one whose (key, leftId) pick
    // window reuses the join's shuffle and goes zero-Exchange on
    // bucketed inputs (PlanContractSpec).
    Query("q56_asof_join_pick", (s, dir) => {
      val orders = t(s, dir, "orders")
        .withColumn("o_orderdate", col("o_orderdate").cast("timestamp"))
      AsOfJoin(
        Tables.loadEvents(s, dir).select("event_id", "ts", "user_id"),
        orders,
        leftKey = "user_id", rightKey = "o_custkey",
        leftTime = "ts", rightTime = "o_orderdate",
        leftId = "event_id",
        rightCols = Seq(
          "o_orderkey" -> "last_order_key",
          "o_orderdate" -> "last_order_date",
          "o_totalprice" -> "last_order_price"),
        tieBreakCols = Seq("o_orderkey"))
    },
      // identical output contract to q22 (join+pick formulation) — same oracle
      OracleSql.asofJoin),

    // Gap-based sessionization (native session_window; streaming-capable).
    Query("q23_sessionize", (s, dir) =>
      StreamingOps.sessionize(Tables.loadEvents(s, dir)),
      OracleSql.sessionize(gapMinutes = 30)),

    // Exact per-lang length percentiles (linear interpolation).
    Query("q24_text_percentiles", (s, dir) =>
      TextAnalysis.percentiles(t(s, dir, "documents")),
      """SELECT lang, quantile_cont(n_chars, 0.5) AS p50,
        |  quantile_cont(n_chars, 0.9) AS p90, quantile_cont(n_chars, 0.99) AS p99
        |FROM documents GROUP BY lang""".stripMargin),

    // Top-3 longest docs per language (WindowGroupLimit pattern).
    Query("q25_topk_per_group", (s, dir) =>
      TextAnalysis.topKPerGroup(t(s, dir, "documents"), k = 3),
      """SELECT doc_id, lang, n_chars,
        |  row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id ASC) AS rank
        |FROM documents
        |QUALIFY rank <= 3""".stripMargin),

    // ROLLUP subtotals over (lang, source).
    Query("q26_rollup_stats", (s, dir) =>
      TextAnalysis.rollupStats(t(s, dir, "documents")),
      """SELECT lang, source, count(*) AS n_docs,
        |  CAST(sum(length(text)) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY ROLLUP (lang, source)""".stripMargin),

    // Corpus text normalization (lower/strip/collapse/trim).
    Query("q27_text_normalize", (s, dir) =>
      TextAnalysis.normalize(t(s, dir, "documents")),
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS text_norm
        |FROM documents""".stripMargin),

    // Near-dup clusters: connected components (min-label propagation)
    // over the exact n-gram-Jaccard pair graph; isolated docs keep their
    // own id as component.
    // Candidate pairs come from the MinHash+LSH scale path; at this
    // banding and threshold its output equals the exact inverted-index
    // operator's (see q15, which shares q14's oracle), so the component
    // closure — and this query's oracle — are unchanged.
    Query("q28_dedup_components", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Artifacts.lshPairs(s, dir)
      ConnectedComponents(pairs, vertices = Some(docs.select("doc_id")))
        .select(col("id").as("doc_id"), col("component"))
    }, OracleSql.dedupComponents(threshold = 0.6, maxDocFreq = 10000)),

    // Frame sampling: one row per (payload, frame) through the batch codec.
    Query("q29_multimodal_frames", (s, dir) =>
      Multimodal.sampleFrames(Multimodal.mediaFromDocuments(t(s, dir, "documents"))).toDF(),
      OracleSql.multimodalFrames),

    // IVF ANN top-10: driver-side centroid codebook, codegen'd cell
    // assignment, nprobe-cell candidate filter, exact re-rank. Fully
    // deterministic -> exact oracle (unlike q19's rows-only check).
    Query("q30_ivf_ann", (s, dir) => {
      val e = t(s, dir, "embeddings")
      SimilaritySearch.annTopKIvf(e, e.filter(col("vec_id") === 0), k = 10)
    }, OracleSql.ivfTopK(queryId = 0, k = 10, dim = 64, nlist = 16, nprobe = 4)),

    // Deterministic per-language downsampling (corpus rebalancing).
    Query("q31_stratified_sample", (s, dir) =>
      Sampling.stratifiedSample(t(s, dir, "documents"),
        rates = Map("en" -> 20, "de" -> 50), defaultPct = 80),
      OracleSql.stratifiedSample(
        rates = Seq("en" -> 20, "de" -> 50), defaultPct = 80,
        strataCol = "lang", idCol = "doc_id")),

    // Content-addressed train/test split (stable across runs and tables).
    Query("q32_train_test_split", (s, dir) =>
      Sampling.trainTestSplit(t(s, dir, "documents"), testPct = 20),
      OracleSql.trainTestSplit(testPct = 20, idCol = "doc_id")),

    // PII redaction over deterministically injected fixtures (the corpus
    // has no emails/numbers — q53's injection pattern): emails and long
    // digit runs replaced with placeholders, per-doc audit counts.
    Query("q61_redact_pii", (s, dir) => {
      val d = t(s, dir, "documents")
      val b = Sampling.bucket(col("doc_id"))
      val injected = d.select(col("doc_id"),
        when(b < 15, concat(col("text"), lit(" contact bob"),
          (col("doc_id") % 50).cast("string"), lit("@example.com now")))
          .when(b < 30, concat(col("text"), lit(" call 5551234"),
            (col("doc_id") % 1000).cast("string")))
          .otherwise(col("text")).as("text"))
      TextAnalysis.redact(injected)
    }, OracleSql.redactPii(emailPct = 15, numPct = 15,
      idCol = "doc_id")),

    // Temperature-style (T=2, mC4/XLM-R) language rebalancing: keep-rates
    // proportional to 1/sqrt(count), smallest language kept whole —
    // bounded driver-side rate table (codebook pattern), pure narrow
    // membership filter.
    Query("q60_temperature_sample", (s, dir) =>
      Sampling.temperatureSample(t(s, dir, "documents")),
      OracleSql.temperatureSample(
        strataCol = "lang", idCol = "doc_id")),

    // Eval-set decontamination: drop docs whose md5 appears in a
    // (deterministically sampled) stand-in eval set; broadcast anti-join.
    Query("q33_decontaminate", (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.decontaminate(docs, Sampling.hashSample(docs, pct = 5))
    }, OracleSql.decontaminate(evalPct = 5, idCol = "doc_id")),

    // Sequence packing: contiguous fixed-budget layout per language.
    Query("q34_pack_sequences", (s, dir) =>
      TextAnalysis.packSequences(t(s, dir, "documents"), budgetTokens = 1024),
      OracleSql.packSequences(budget = 1024,
        groupCol = "lang", idCol = "doc_id")),

    // Curriculum deciles: per-language NTILE over a quality proxy.
    Query("q35_quality_buckets", (s, dir) =>
      TextAnalysis.qualityBuckets(t(s, dir, "documents")),
      """SELECT doc_id, lang, n_chars,
        |  ntile(10) OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id ASC) AS bucket
        |FROM documents""".stripMargin),

    // Interval join: all events by the same user in the 7 days up to each
    // event (row-multiplying range join; equi-key + range post-filter
    // plan). A self-lookback — the canonical "recent user activity"
    // enrichment — chosen over the orders table because events and orders
    // occupy disjoint epochs in the fixtures (events Jan 2024, orders
    // 1995-2001): the oracle must verify MATCHING rows, not 0 == 0.
    Query("q36_interval_join", (s, dir) => {
      val events = Tables.loadEvents(s, dir).select("event_id", "ts", "user_id")
      val prior = events.select(
        col("user_id").as("prior_user_id"),
        col("event_id").as("prior_event_id"),
        col("ts").as("prior_ts"))
      IntervalJoin(events, prior,
        leftKey = "user_id", rightKey = "prior_user_id",
        leftTime = "ts", rightTime = "prior_ts", lookback = "7 days")
        .select("event_id", "ts", "user_id", "prior_event_id", "prior_ts")
    }, intervalJoinOracle),

    // The time-bucketed interval join — q36's skew-safe sibling (equi-key
    // (user_id, lookback-wide time bucket), so a hyperactive user's
    // history spreads across buckets instead of one task). Identical
    // output by construction — shares q36's oracle.
    Query("q54_interval_join_bucketed", (s, dir) => {
      val events = Tables.loadEvents(s, dir).select("event_id", "ts", "user_id")
      val prior = events.select(
        col("user_id").as("prior_user_id"),
        col("event_id").as("prior_event_id"),
        col("ts").as("prior_ts"))
      IntervalJoin.bucketed(events, prior,
        leftKey = "user_id", rightKey = "prior_user_id",
        leftTime = "ts", rightTime = "prior_ts", lookback = "7 days")
        .select("event_id", "ts", "user_id", "prior_event_id", "prior_ts")
    },
      // identical output contract to q36 (time-bucketed equi-key) — same oracle
      intervalJoinOracle),

    // Deterministic HyperLogLog distinct-count sketch per language —
    // public integer register math, exactly SQL-replayable (unlike the
    // engine-internal state of approx_count_distinct).
    Query("q37_hll_distinct", (s, dir) =>
      Sketches.approxDistinct(t(s, dir, "documents"), Seq("lang"), "text", p = 4),
      OracleSql.hllDistinct(p = 4)),

    // Gopher-style repetition quality signals (top-token share,
    // duplicate-2-gram fraction) — per-row native expressions.
    Query("q38_repetition", (s, dir) =>
      TextAnalysis.repetition(t(s, dir, "documents")),
      OracleSql.textRepetition),

    // Fuzzy decontamination: drop docs containing >= 80% of an eval
    // doc's 3-gram shingles (catches edited/embedded leakage that exact
    // md5 matching misses).
    Query("q39_decontaminate_fuzzy", (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.decontaminateFuzzy(docs, Sampling.hashSample(docs, pct = 5),
        containPct = 80)
    }, OracleSql.decontaminateFuzzy(
      evalPct = 5, containPct = 80, idCol = "doc_id")),

    // LSH-blocked cosine near-dup pairs — q18's scale-path sibling
    // (equi-join on SRP (table, bucket) keys, never a cross join).
    // Exactly oracled: the approximation is in the index, not the
    // execution (same principle as q30).
    Query("q41_embed_neardup_lsh", (s, dir) =>
      SimilaritySearch.cosineNearDupPairsLsh(t(s, dir, "embeddings"),
        threshold = 0.4),
      OracleSql.embedNearDupLsh(
        threshold = 0.4, dim = 64, nPlanes = 4, nTables = 8)),

    // Content-addressed sampling for id-less corpora: membership decided
    // by an md5-derived bucket of the text itself.
    Query("q52_content_sample", (s, dir) =>
      Sampling.contentSample(t(s, dir, "documents"), pct = 30),
      """SELECT * FROM documents
        |WHERE (CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT)) % 100 < 30""".stripMargin),

    // End-to-end dedup: the cleaned corpus — one representative document
    // (the minimum id) per near-dup cluster, isolated docs untouched.
    // Composes the LSH candidate pairs and the component labeling into
    // the artifact a training pipeline actually ships.
    Query("q51_dedup_corpus", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Artifacts.lshPairs(s, dir)
      val reps = ConnectedComponents(pairs, vertices = Some(docs.select("doc_id")))
        .filter(col("id") === col("component"))
        .select(col("id").as("__rep"))
      docs.join(broadcast(reps), docs("doc_id") === col("__rep"), "left_semi")
    }, OracleSql.dedupCorpus(threshold = 0.6, maxDocFreq = 10000)),

    // Cross-corpus dedup: near-dup pairs between a "new batch" (sample
    // buckets < 50) and the existing corpus (the rest) — the
    // incremental-ingest shape, where self-join dedup doesn't apply.
    Query("q50_cross_corpus_dedup", (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.crossCorpusPairs(
        docs.filter(Sampling.bucket(col("doc_id")) < 50),
        docs.filter(Sampling.bucket(col("doc_id")) >= 50))
    }, OracleSql.crossCorpusPairs(
      newPct = 50, threshold = 0.6, maxDocFreq = 10000, idCol = "doc_id")),

    // Prefix-filtered exact Jaccard pairs (AllPairs/PPJoin) behind the
    // adaptive df-concentration switch: must equal q14's output —
    // shares its oracle. On this near-uniform fixture vocabulary the
    // switch measures concentration ~1 and picks the plain index join
    // (prefix machinery costs more than it saves here); a Zipfian
    // shingle table flips it to the PPJoin path (spec-pinned).
    Query("q49_jaccard_prefix_filter", (s, dir) =>
      Dedup.ngramJaccardPairsAdaptive(t(s, dir, "documents")),
      // identical output contract to q14 (exact pairs) — same oracle
      OracleSql.ngramJaccardPairs(
        threshold = 0.6, maxDocFreq = 10000)),

    // Count-min token frequencies: the grid rides the plan as a literal;
    // estimates never underestimate (spec-pinned vs exact counts).
    Query("q48_cms_token_freq", (s, dir) => {
      val occ = t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("token"))
      val grid = Sketches.cmsArray(occ, "token")
      occ.distinct()
        .select(col("token"), Sketches.cmsEstimate(col("token"), grid).as("est_freq"))
    }, OracleSql.cmsTokenFreq(width = 1024, depth = 4)),

    // Log-histogram quantile sketch: mergeable counts over power-of-two
    // buckets, integer-exact interpolation — the deterministic,
    // SQL-replayable alternative to approx_percentile's t-digest.
    Query("q47_quantile_sketch", (s, dir) =>
      Sketches.histogramQuantiles(t(s, dir, "documents"), Seq("lang"), "n_chars"),
      OracleSql.histogramQuantiles(Seq(50, 90, 99))),

    // Multimodal resize: fixed target dims + scale factors through the
    // batch codec (stub resampling, real Spark contract).
    Query("q46_multimodal_resize", (s, dir) =>
      Multimodal.resize(Multimodal.mediaFromDocuments(t(s, dir, "documents"))).toDF(),
      OracleSql.multimodalResize(targetW = 224, targetH = 224)),

    // Bloom-prefiltered decontamination: must produce EXACTLY q33's
    // result (no false negatives; false positives removed by the exact
    // verify) while shipping a ~8 KB literal instead of the full
    // fingerprint set.
    Query("q44_decontaminate_bloom", (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.decontaminateBloom(docs, Sampling.hashSample(docs, pct = 5))
    },
      // q44 must equal the exact decontamination — same oracle as q33.
      OracleSql.decontaminate(evalPct = 5, idCol = "doc_id")),

    // The Bloom word table itself (construction oracled bit-for-bit).
    Query("q45_bloom_words", (s, dir) => {
      val docs = t(s, dir, "documents")
      Sketches.bloomWords(Sampling.hashSample(docs, pct = 5), "text")
    }, OracleSql.bloomWords(
      evalPct = 5, mBits = 1 << 16, k = 5, idCol = "doc_id")),

    // Tokenizer vocabulary: top-500 tokens with term + document
    // frequency (agg + TakeOrderedAndProject, no global sort).
    Query("q42_vocab_topk", (s, dir) =>
      TextAnalysis.vocabulary(t(s, dir, "documents"), k = 500),
      OracleSql.vocabulary(k = 500)),

    // Exact per-stratum quotas: 50 docs per language, deterministic
    // rank by (content bucket, id).
    Query("q43_take_per_stratum", (s, dir) =>
      Sampling.takePerStratum(t(s, dir, "documents"), n = 50),
      OracleSql.takePerStratum(
        n = 50, strataCol = "lang", idCol = "doc_id")),

    // Skew-safe salted equi-join, oracled against the PLAIN join — the
    // salt must only route rows, never change results.
    Query("q40_salted_join", (s, dir) => {
      val events = Tables.loadEvents(s, dir).select("event_id", "user_id")
      val customer = t(s, dir, "customer").select("c_custkey", "c_name")
      SparkUtil.saltedJoin(events, customer, "user_id", "c_custkey",
          salt = 8, joinType = "inner")
        .select("event_id", "user_id", "c_name")
    }, """SELECT e.event_id, e.user_id, c.c_name
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey""".stripMargin),

    // Salted FULL OUTER join — the mirrored construction (salted
    // left-outer + anti-joined right remainder), oracled against the
    // plain full join. Unmatched rows on BOTH sides must surface exactly
    // once despite the right side's salt replication.
    Query("q55_salted_join_full", (s, dir) => {
      val events = Tables.loadEvents(s, dir).select("event_id", "user_id")
      val customer = t(s, dir, "customer").select("c_custkey", "c_name")
      SparkUtil.saltedJoin(events, customer, "user_id", "c_custkey",
          salt = 8, joinType = "full")
        .select("event_id", "user_id", "c_custkey", "c_name")
    }, """SELECT e.event_id, e.user_id, c.c_custkey, c.c_name
        |FROM events e FULL JOIN customer c ON e.user_id = c.c_custkey""".stripMargin),

    // Boilerplate-span scoring (RefinedWeb-style sub-document dedup
    // signal) over a corpus with a deterministic boilerplate suffix
    // injected into a hash-sampled slice (q53's pattern — the fixture
    // has no templated chrome, so without injection the boilerplate
    // branch would be near-vacuous).
    Query("q62_boilerplate_spans", (s, dir) => {
      val d = t(s, dir, "documents")
      val injected = d.select(col("doc_id"),
        when(Sampling.bucket(col("doc_id")) < 15,
          concat(col("text"), lit(" " + BoilerplateSuffix)))
          .otherwise(col("text")).as("text"))
      Dedup.boilerplateSpans(injected, n = 8, minDocs = 2)
    }, OracleSql.boilerplateSpans(
      injectPct = 15, suffix = BoilerplateSuffix, n = 8, minDocs = 2,
      idCol = "doc_id")),

    // C4/Gopher composite quality-rule filter; the blacklist phrase is
    // injected into a hash-sampled slice so that rule actually fires
    // under the oracle.
    Query("q63_quality_filter", (s, dir) => {
      val d = t(s, dir, "documents")
      val injected = d.select(col("doc_id"),
        when(Sampling.bucket(col("doc_id")) < 10,
          concat(col("text"), lit(" lorem ipsum dolor sit amet")))
          .otherwise(col("text")).as("text"))
      TextAnalysis.qualityFilter(injected)
    }, OracleSql.qualityFilter(
      injectPct = 10, injectSuffix = "lorem ipsum dolor sit amet",
      minTokens = 15, maxTokens = 100000, minMeanTokLen = 4.0,
      maxMeanTokLen = 12.0, maxTopTokRatio = 0.2, minStopwords = 2,
      idCol = "doc_id")),

    // Overlapping token-window chunking (RAG / fixed-context-window
    // preprocessing): narrow row expansion, rolling-hash fingerprint per
    // chunk.
    Query("q64_chunk_documents", (s, dir) =>
      TextAnalysis.chunk(t(s, dir, "documents"), chunkTokens = 64, stride = 48),
      OracleSql.chunk(chunkTokens = 64, stride = 48,
        idCol = "doc_id")),

    // Feature-hashing document vectors (the hashing trick): per-dim
    // counts fingerprinted by an order-insensitive mod-p checksum.
    Query("q65_feature_hash", (s, dir) =>
      TextAnalysis.featureHash(t(s, dir, "documents"), d = 32),
      OracleSql.featureHash(d = 32, idCol = "doc_id")),

    // Rare-token (OOV) scoring against the corpus vocabulary; unique
    // tokens injected into a hash-sampled slice so the rare branch is
    // non-vacuous (every natural fixture token is corpus-frequent).
    Query("q66_rare_tokens", (s, dir) => {
      val d = t(s, dir, "documents")
      val injected = d.select(col("doc_id"),
        when(Sampling.bucket(col("doc_id")) < 20,
          concat(col("text"), lit(" xrare"), col("doc_id").cast("string")))
          .otherwise(col("text")).as("text"))
      TextAnalysis.rareTokenScore(injected, rareMaxDf = 3)
    }, OracleSql.rareTokenScore(injectPct = 20,
      rareMaxDf = 3, idCol = "doc_id")),

    // Semantic dedup (SemDeDup-style): IVF cells + within-cell
    // smaller-id near-dup pruning at cosine >= 0.4 — the embedding-space
    // end-to-end dedup (q51's sibling), cell-bounded pair space.
    Query("q67_semantic_dedup", (s, dir) =>
      SimilaritySearch.semanticDedup(t(s, dir, "embeddings"), threshold = 0.4),
      OracleSql.semanticDedup(threshold = 0.4,
        dim = 64, nlist = 16)),

    // Per-doc keyword extraction by integer TF-IDF ordering (tf desc,
    // df asc, token asc) — WindowGroupLimit cut, no float log.
    Query("q68_doc_keywords", (s, dir) =>
      TextAnalysis.keywords(t(s, dir, "documents"), k = 3),
      OracleSql.keywords(k = 3, idCol = "doc_id")),

    // Per-language robust scaling (median/IQR) of document length — the
    // outlier-insensitive normalization for quality-signal fusion.
    Query("q69_robust_scale", (s, dir) =>
      TextAnalysis.robustScale(t(s, dir, "documents")),
      OracleSql.robustScale(groupCol = "lang",
        valueCol = "n_chars", idCol = "doc_id")),

    // Mergeable-sketch contract UNDER THE ORACLE GATE: HLL register
    // tables sketched independently over two disjoint corpus halves,
    // merged by element-wise max — must equal the whole-corpus register
    // table bit-for-bit (the property that lets a fleet sketch shards
    // independently and combine without rescans).
    Query("q70_hll_merge", (s, dir) => {
      val d = t(s, dir, "documents")
      val a = Sketches.hllRegisters(
        d.filter(Sampling.bucket(col("doc_id")) < 50), Seq("lang"), "text", p = 4)
      val b = Sketches.hllRegisters(
        d.filter(Sampling.bucket(col("doc_id")) >= 50), Seq("lang"), "text", p = 4)
      Sketches.mergeRegisters(a, b, Seq("lang"))
    },
      // the merged halves must equal the whole-corpus register table
      OracleSql.hllRegisters(p = 4)),

    // End-to-end CURATED corpus — the quality-side composition sibling
    // of q51's dedup-side pipeline: keep documents that (a) pass the
    // C4/Gopher rule battery, (b) are under 50% boilerplate spans, and
    // (c) are their exact-dup group's min-id representative. Three
    // semi-joins on the id; each ingredient is independently oracled
    // (q63/q62/q13 shapes), this query pins their composition.
    Query("q71_curated_corpus", (s, dir) => {
      val d = t(s, dir, "documents")
      val keepQ = TextAnalysis.qualityFilter(d)
        .filter(col("keep")).select("doc_id")
      val keepB = Dedup.boilerplateSpans(d)
        .filter(col("boiler_ratio") < 0.5).select("doc_id")
      val reps = Dedup.exact(
        d.select(col("doc_id"), md5(col("text")).as("__sig")),
        Seq("__sig"), "doc_id").select("doc_id")
      d.join(keepQ, Seq("doc_id"), "left_semi")
        .join(keepB, Seq("doc_id"), "left_semi")
        .join(reps, Seq("doc_id"), "left_semi")
    }, OracleSql.curatedCorpus(
      minTokens = 15, maxTokens = 100000, minMeanTokLen = 4.0,
      maxMeanTokLen = 12.0, maxTopTokRatio = 0.2, minStopwords = 2,
      boilerN = 8, boilerMinDocs = 2, maxBoilerRatio = 0.5,
      idCol = "doc_id")),

    // Budget-constrained quality-first snapshot: fill a 15k-token budget
    // from the best (longest) tiers first; the boundary tier is
    // rate-sampled so expected kept tokens land on the budget. Tier sums
    // are a bounded driver-side artifact; membership is a pure narrow
    // filter.
    Query("q72_token_budget", (s, dir) =>
      Sampling.tokenBudgetSample(t(s, dir, "documents"), budgetTokens = 15000),
      OracleSql.tokenBudgetSample(budgetTokens = 15000,
        valueCol = "n_chars", idCol = "doc_id")),

    // The media→similarity bridge END TO END behind the oracle: stub
    // feature extraction through the batch codec (mapPartitions — the
    // designated imperative escape hatch), then exact cosine top-10 over
    // the extracted vectors. Deterministic stub arithmetic means even
    // the codec's output is exactly SQL-replayable.
    Query("q73_media_embed_topk", (s, dir) => {
      val media = Multimodal.mediaFromDocuments(t(s, dir, "documents"))
      val feats = Multimodal.extractFeatures(media).toDF()
      SimilaritySearch.topKCosine(feats, feats.filter(col("media_id") === 0),
        k = 10, idCol = "media_id", vecCol = "features", dim = 8)
    }, OracleSql.mediaEmbedTopK(queryId = 0, k = 10,
      dim = 8)),

    // Self-calibrating burst detection: hours where a user's event count
    // reaches 3x their own median hourly count.
    Query("q74_activity_spikes", (s, dir) =>
      EventAnalytics.activitySpikes(Tables.loadEvents(s, dir)),
      OracleSql.activitySpikes(factor = 3)),

    // First-order Markov summary of the event stream: the 20 most
    // frequent (type -> next type) transitions per-user-ordered by time.
    Query("q75_event_transitions", (s, dir) =>
      EventAnalytics.eventTransitions(Tables.loadEvents(s, dir)),
      OracleSql.eventTransitions(k = 20)),

    // Exact substring-run dedup as a REMOVER (Lee et al.): a duplicated
    // paragraph is injected into a hash-sampled slice (the fixture's
    // natural 8-token spans are unique), and the operator excises every
    // duplicated run from all-but-one occurrence while the docs survive.
    Query("q76_dedup_substring_runs", (s, dir) => {
      val d = t(s, dir, "documents")
      val injected = d.select(col("doc_id"),
        when(Sampling.bucket(col("doc_id")) < 20,
          concat(col("text"), lit(" " + DupRunParagraph)))
          .otherwise(col("text")).as("text"))
      Dedup.dedupSubstringRuns(injected, n = 8)
    }, OracleSql.dedupSubstringRuns(
      injectPct = 20, suffix = DupRunParagraph, n = 8, idCol = "doc_id")),

    // URL canonicalization + registered-domain extraction + domain-level
    // hash sampling over deterministic synthetic URLs (the corpus has no
    // URL column — the injection pattern). All narrow codegen'd string
    // expressions; the public-suffix table rides the plan as a literal
    // CASE chain.
    Query("q77_url_normalize", (s, dir) => {
      val d = t(s, dir, "documents")
      d.select(col("doc_id"), UrlOps.syntheticUrl(col("doc_id")).as("url"))
        .select(col("doc_id"), col("url"),
          UrlOps.normalizeUrl(col("url")).as("url_norm"),
          UrlOps.registeredDomain(UrlOps.hostOf(col("url"))).as("reg_domain"))
        .withColumn("domain_kept",
          Sampling.bucket(
            graft.functions.TextFunctions.rollingHash(col("reg_domain"))) < 40)
    }, OracleSql.urlNormalize(samplePct = 40,
      idCol = "doc_id")),

    // BPE merge-table training (Sennrich et al.): 10 rounds of
    // most-frequent-adjacent-pair merging over the corpus vocabulary.
    // Each round is one distributed pair-count agg + a LIMIT-1 collect;
    // the merge rewrite is a literal wrapped-symbol string replace whose
    // greedy left-to-right semantics both engines share.
    Query("q78_bpe_merges", (s, dir) =>
      BpeTrain.train(t(s, dir, "documents"), k = 10),
      OracleSql.bpeMergeTable(k = 10)),

    // Per-registered-domain rollup of the normalized URL space — the
    // web-corpus "group by domain before quality filtering" step.
    Query("q79_domain_rollup", (s, dir) => {
      val d = t(s, dir, "documents")
      d.select(col("n_chars"),
          UrlOps.syntheticUrl(col("doc_id")).as("url"))
        .select(col("n_chars"),
          UrlOps.normalizeUrl(col("url")).as("url_norm"),
          UrlOps.registeredDomain(UrlOps.hostOf(col("url"))).as("reg_domain"))
        .groupBy(col("reg_domain"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("url_norm")).as("n_urls"),
          sum(col("n_chars")).as("total_chars"))
    }, OracleSql.domainRollup(idCol = "doc_id")),

    // Count-based bigram LM: top-3 next tokens per >= 20-occurrence
    // context — the mergeable count state a perplexity filter trains on.
    // One (ctx, nxt) hash agg, one window (sum + WindowGroupLimit cut).
    Query("q80_bigram_lm", (s, dir) =>
      TextAnalysis.bigramLm(t(s, dir, "documents"), k = 3, minContextCount = 20),
      OracleSql.bigramLm(k = 3, minContextCount = 20)),

    // Per-doc bigram novelty: the share of a doc's distinct bigrams that
    // other documents also use — templated docs score high, novel prose
    // low. Inverted-index join, never pairwise.
    Query("q81_bigram_novelty", (s, dir) =>
      TextAnalysis.bigramNovelty(t(s, dir, "documents"), minDocs = 2),
      OracleSql.bigramNovelty(minDocs = 2, idCol = "doc_id")),

    // Semantic outliers vs the per-language embedding centroid (catches
    // misfiled docs). Centroid = integer micro-sums / (n * 1e6) — the
    // order-insensitive formulation; one broadcast of <= |langs| rows.
    Query("q82_embed_outliers", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val langs = t(s, dir, "documents").select(col("doc_id"), col("lang"))
      SimilaritySearch.embedOutliers(
        emb.join(langs, emb("vec_id") === langs("doc_id")).drop("doc_id"),
        threshold = -0.05)
    }, OracleSql.embedOutliers(threshold = -0.05, dim = 64)),

    // Linear quality scorer with a literal integer weight vector — the
    // serving-time face of a trained fastText/logistic classifier; pure
    // narrow codegen'd projection, model rides the plan as literals.
    Query("q83_linear_score", (s, dir) =>
      TextAnalysis.linearScore(t(s, dir, "documents")),
      OracleSql.linearScore(wTok = 2, wStop = 5,
        wDigit = -3, wUpper = -1, threshold = 120, idCol = "doc_id")),

    // Deterministic epoch-2 training shuffle: content-addressed (bucket,
    // pos) order, no rand(), no global sort; windows parallelize across
    // the 32 buckets.
    Query("q84_epoch_shuffle", (s, dir) =>
      Sampling.epochShuffle(t(s, dir, "documents"), epoch = 2),
      OracleSql.epochShuffle(epoch = 2, nBuckets = 32,
        idCol = "doc_id")),

    // Best-of-cluster survivor selection: near-dup clusters (same pair
    // graph as q28/q51) keep their LONGEST member, not the min-id one —
    // what production dedup actually ships. Rank window over the
    // component key.
    Query("q85_cluster_best", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents")
      val pairs = Artifacts.lshPairs(s, dir)
      val comp = ConnectedComponents(pairs, vertices = Some(docs.select("doc_id")))
      val sizes = docs.select(col("doc_id"), col("n_chars"))
      val w = Window.partitionBy(col("component"))
        .orderBy(col("n_chars").desc, col("id").asc)
      comp.join(sizes, comp("id") === sizes("doc_id"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("component"), col("id").as("best_doc_id"), col("n_chars"))
    }, OracleSql.clusterBest(threshold = 0.6, maxDocFreq = 10000)),

    // Directional containment (quote/excerpt detection): the asymmetric
    // near-superset relation symmetric Jaccard dedup can't see. Same
    // exact inverted-index candidates, normalized by the inner set size.
    Query("q86_containment_pairs", (s, dir) =>
      Dedup.containmentPairs(t(s, dir, "documents"), threshold = 0.8),
      OracleSql.containmentPairs(threshold = 0.8,
        maxDocFreq = 10000)),

    // Rebalance the corpus to a target language mix (en-heavy fixture →
    // 40/15/15/15/15): integer-exact per-stratum rates from bounded
    // driver-side counts, membership a narrow content-addressed filter.
    Query("q87_mix_to_target", (s, dir) =>
      Sampling.mixToTarget(t(s, dir, "documents"), MixTargets),
      OracleSql.mixToTarget(MixTargets.toSeq.sorted,
        strataCol = "lang", idCol = "doc_id")),

    // Incremental dedup against a persisted SIGNATURE STORE (no old
    // texts): the new batch (bucket < 50) collides with the stored
    // signatures of the rest via LSH bands; pairs verified by the exact
    // integer MinHash Jaccard estimator. At 100 TB the store is
    // ~1 KB/doc — dedup tomorrow's crawl without rereading the corpus.
    Query("q89_sig_store_dedup", (s, dir) => {
      val docs = t(s, dir, "documents")
      val store = Dedup.minhashSignatures(
        docs.filter(Sampling.bucket(col("doc_id")) >= 50))
      Dedup.dedupAgainstSignatures(
        docs.filter(Sampling.bucket(col("doc_id")) < 50), store)
    }, OracleSql.sigStoreDedup(newPct = 50, k = 128,
      bands = 32, threshold = 0.6, idCol = "doc_id")),

    // Dedup REPORT: near-dup cluster size histogram (how much of the
    // corpus is duplicated, at what multiplicity) — the number a data
    // lead actually asks for after a dedup run.
    Query("q90_cluster_histogram", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Artifacts.lshPairs(s, dir)
      ConnectedComponents(pairs, vertices = Some(docs.select("doc_id")))
        .groupBy(col("component")).agg(count(lit(1)).as("__sz"))
        .groupBy(col("__sz").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
    }, OracleSql.clusterHistogram(threshold = 0.6,
      maxDocFreq = 10000)),

    // Tokenizer-budget coverage curve: cumulative share of token
    // occurrences covered by the top-k vocabulary — the "how big must V
    // be" curve. Distributed TakeOrdered cut; the cumsum window sees
    // only maxRank rows.
    Query("q92_coverage_curve", (s, dir) =>
      TextAnalysis.coverageCurve(t(s, dir, "documents"), maxRank = 25),
      OracleSql.coverageCurve(maxRank = 25)),

    // Cross-corpus SEMANTIC dedup — the embedding face of the signature
    // store (q89): old corpus reduces to SRP (table, bucket) keys, new
    // vectors check in against the store, exact cosine verify only on
    // collisions. Daily-ingest shape: never re-compares old × old.
    Query("q103_cross_corpus_embed", (s, dir) => {
      val e = t(s, dir, "embeddings")
      SimilaritySearch.crossCorpusNearDupLsh(
        e.filter(Sampling.bucket(col("vec_id")) < 50),
        e.filter(Sampling.bucket(col("vec_id")) >= 50), threshold = 0.4)
    }, OracleSql.crossCorpusEmbedLsh(newPct = 50,
      threshold = 0.4, dim = 64, nPlanes = 4, nTables = 8, idCol = "vec_id")),

    // Windowed funnel: users progressing signup → view → click →
    // purchase, each stage strictly after the previous and within one
    // day of it (greedy first-match semantics — the standard funnel
    // policy). Fixture declines 150 → 39 → 16 → 5.
    Query("q105_funnel", (s, dir) =>
      EventAnalytics.funnel(Tables.loadEvents(s, dir),
        Seq("signup", "view", "click", "purchase"), maxGapMinutes = 1440),
      OracleSql.funnel(
        Seq("signup", "view", "click", "purchase"), maxGapMinutes = 1440)),

    // Co-engagement graph: the 20 item pairs (the props.k JSON property)
    // most often engaged by the same user, per-user item fan-out capped
    // at 30 by first-engagement order — the item-item co-occurrence edge
    // list behind related-content linking and co-citation analysis.
    Query("q106_coengagement", (s, dir) =>
      EventAnalytics.coEngagement(Tables.loadEvents(s, dir),
        get_json_object(col("props"), "$.k").cast("int"), k = 20,
        maxItemsPerUser = 30),
      OracleSql.coEngagement(k = 20, maxItemsPerUser = 30)),

    // Corpus snapshot diff — the CDC audit between two corpus versions:
    // per-doc added/removed/changed/unchanged verdicts from one
    // full-outer join of (id, md5) projections. Old = bucket < 70,
    // new = bucket >= 30 with every 7th id's text revised, so all four
    // verdict classes are populated on the fixture.
    Query("q104_corpus_diff", (s, dir) => {
      val d = t(s, dir, "documents")
      val oldSnap = d.filter(Sampling.bucket(col("doc_id")) < 70)
      val newSnap = d.filter(Sampling.bucket(col("doc_id")) >= 30)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" rev2")))
            .otherwise(col("text")).as("text"))
      Profiler.corpusDiff(oldSnap, newSnap)
    }, OracleSql.corpusDiff(oldMax = 70, newMin = 30,
      revEvery = 7, idCol = "doc_id")),

    // Cohort retention triangle: users grouped by first-active week,
    // per-(cohort, weeks-since) active counts and retention rates — the
    // survival curve of contributors/sources in an ingestion stream.
    Query("q110_retention", (s, dir) =>
      EventAnalytics.retentionCohorts(Tables.loadEvents(s, dir)),
      OracleSql.retentionCohorts),

    // Leakage-safe train/test split: the split unit is the near-dup
    // CLUSTER (connected components over the q14 pair graph), so a test
    // doc's near-copy can never leak into train — the failure mode of a
    // plain id-hash split on duplicated corpora.
    Query("q111_leakage_safe_split", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Artifacts.jaccardPairs(s, dir)
      Sampling.leakageSafeSplit(docs, pairs, testPct = 20)
    }, OracleSql.leakageSafeSplit(threshold = 0.6,
      maxDocFreq = 10000, testPct = 20)),

    // Join-key skew report on the event entity key: hottest keys with
    // share and skew-vs-median — the diagnostic behind the plain vs
    // salted vs broadcast join decision.
    Query("q112_key_skew", (s, dir) =>
      Profiler.keySkewReport(Tables.loadEvents(s, dir), "user_id", topK = 10),
      OracleSql.keySkewReport("user_id", topK = 10)),

    // Dedup threshold sweep: candidate pairs per similarity decile with
    // at-or-above cumulative counts — the "how aggressive" curve read
    // before fixing a Jaccard cut.
    Query("q113_dedup_sweep", (s, dir) =>
      Dedup.pairSimilarityHistogram(t(s, dir, "documents")),
      OracleSql.pairSimilarityHistogram(maxDocFreq = 10000)),

    // Profile diff between corpus versions: per-column row/distinct/null
    // deltas and min-max movement — the "what changed in this snapshot"
    // five-second answer before any content-level audit.
    Query("q131_profile_diff", (s, dir) => {
      val d = t(s, dir, "documents")
      Profiler.profileDiff(
        d.filter(Sampling.bucket(col("doc_id")) < 50),
        d.filter(Sampling.bucket(col("doc_id")) >= 50),
        Seq("doc_id", "lang", "source", "n_chars"))
    }, OracleSql.profileDiff(
      Seq("doc_id", "lang", "source", "n_chars"), newPct = 50,
      idCol = "doc_id")),

    // Incremental component labeling — the daily-ingest shape for a
    // PERSISTED label store: yesterday's labels (CC over the old half's
    // pairs) merge with today's delta edges; stored labels are
    // connectivity witnesses, so the result provably equals the full
    // recompute — which is exactly what the oracle replays (q28's
    // transitive closure over the whole pair graph).
    Query("q130_incremental_components", (s, dir) => {
      val d = t(s, dir, "documents")
      val pairs = Artifacts.jaccardPairs(s, dir)
      val bothOld = Sampling.bucket(col("id_a")) < 50 &&
        Sampling.bucket(col("id_b")) < 50
      val oldLabels = ConnectedComponents(pairs.filter(bothOld),
        vertices = Some(d.filter(Sampling.bucket(col("doc_id")) < 50)
          .select("doc_id")))
      ConnectedComponents.incremental(oldLabels, pairs.filter(!bothOld),
          vertices = Some(d.select("doc_id")))
        .select(col("id").as("doc_id"), col("component"))
    }, OracleSql.dedupComponents(threshold = 0.6,
      maxDocFreq = 10000)),

    // Last-touch attribution: each purchase takes the user's latest
    // click/view within the preceding hour (event-to-event as-of with
    // tolerance — the marketing-attribution / action-cause join).
    Query("q129_attribution", (s, dir) => {
      val e = Tables.loadEvents(s, dir)
      AsOfJoin(
        e.filter(col("event_type") === "purchase")
          .select("event_id", "ts", "user_id"),
        e.filter(col("event_type").isin("click", "view"))
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type")),
        leftKey = "user_id", rightKey = "user_id",
        leftTime = "ts", rightTime = "ts",
        leftId = "event_id",
        rightCols = Seq("event_id" -> "touch_id",
          "event_type" -> "touch_type", "ts" -> "touch_ts"),
        tieBreakCols = Seq("event_id"),
        maxStalenessMinutes = Some(60L))
    }, OracleSql.attribution(maxStalenessMinutes = 60L)),

    // Equi-width histogram of lineitem prices: the zero-filled
    // distribution fact sheet (diffable between corpus versions) next
    // to q100's scalar profile.
    Query("q127_histogram", (s, dir) =>
      Profiler.histogram(t(s, dir, "lineitem"), "l_extendedprice",
        nBuckets = 10),
      OracleSql.histogram("l_extendedprice", nBuckets = 10,
        table = "lineitem")),

    // Per-group rank-blend normalization: char-count and token-count
    // signals become comparable percentile ranks within each language
    // and blend by arithmetic mean — scale-free quality fusion.
    Query("q128_rank_blend", (s, dir) =>
      TextAnalysis.rankBlend(
        t(s, dir, "documents").withColumn("n_tokens",
          size(graft.functions.TextFunctions.tokens(col("text"))).cast("long")),
        Seq("n_chars", "n_tokens")),
      OracleSql.rankBlend),

    // Top-share (nucleus) selection: per language, the best docs (by
    // char mass, id tiebreak) covering at least 50% of the group's
    // total characters — the mass-coverage dual of a fixed-rate sample.
    Query("q125_top_share", (s, dir) =>
      Sampling.topShareSelection(t(s, dir, "documents"), sharePct = 50,
        scoreCol = "n_chars"),
      OracleSql.topShareSelection(sharePct = 50)),

    // Tolerance-bounded as-of enrichment (pandas merge_asof tolerance):
    // each event takes its user's latest order ONLY if placed within the
    // last 30 days — stale history returns null, and the range bound
    // also cuts the join's history multiplication.
    Query("q126_asof_tolerance", (s, dir) => {
      val orders = t(s, dir, "orders")
        .withColumn("o_orderdate", col("o_orderdate").cast("timestamp"))
      AsOfJoin(
        Tables.loadEvents(s, dir).select("event_id", "ts", "user_id"),
        orders,
        leftKey = "user_id", rightKey = "o_custkey",
        leftTime = "ts", rightTime = "o_orderdate",
        leftId = "event_id",
        rightCols = Seq(
          "o_orderkey" -> "last_order_key",
          "o_orderdate" -> "last_order_date",
          "o_totalprice" -> "last_order_price"),
        tieBreakCols = Seq("o_orderkey"),
        maxStalenessMinutes = Some(43200L))
    }, OracleSql.asofJoinTolerance(
      maxStalenessMinutes = 43200L)),

    // Pair-graph structure report: per-node degree + triangle counts
    // over the near-dup graph — hubs are boilerplate magnets, triangle
    // density separates tight clone clusters (safe to collapse) from
    // star-shaped accidental chains (collapsing merges unrelated docs).
    Query("q123_graph_stats", (s, dir) =>
      GraphOps.nodeStats(
        Artifacts.jaccardPairs(s, dir)),
      OracleSql.graphNodeStats(threshold = 0.6,
        maxDocFreq = 10000)),

    // Exact distributed Pearson correlation matrix over lineitem's
    // numeric columns — feature redundancy / leakage screening with
    // micro-scaled integer moments (no float-sum drift; bit-identical
    // replay).
    Query("q124_correlation", (s, dir) =>
      Profiler.correlationMatrix(t(s, dir, "lineitem"), CorrCols),
      OracleSql.correlationMatrix(CorrCols,
        scale = 1000000L, table = "lineitem")),

    // Dedup provenance — the governance audit trail: every doc a dedup
    // pass would remove, with the cluster representative it was kept in
    // favor of (transitive links resolve to ONE keeper).
    Query("q121_dedup_provenance", (s, dir) =>
      Dedup.dedupProvenance(
        Artifacts.jaccardPairs(s, dir)),
      OracleSql.dedupProvenance(threshold = 0.6,
        maxDocFreq = 10000)),

    // Per-source effective corpus size — the dedup discount: unique
    // near-dup clusters vs raw docs per source; mixture weights computed
    // on raw counts overweight duplicated sources by the inverse ratio.
    Query("q122_effective_size", (s, dir) => {
      val d = t(s, dir, "documents")
      Dedup.effectiveSizeByGroup(d,
        Artifacts.jaccardPairs(s, dir))
    }, OracleSql.effectiveSizeByGroup(threshold = 0.6,
      maxDocFreq = 10000, groupCol = "source", idCol = "doc_id")),

    // RELEASE BUNDLE — the round-4 end-to-end: quality curation, then a
    // near-dup CLUSTER-aware train/test split (duplicates are clustered
    // and split together rather than dropped — no near-copy can straddle
    // the eval boundary), and a content-addressed shard id per doc. The
    // one-table artifact a corpus release ships. (Deliberately no dedup
    // DROP stage: the split-safety contract is the point; q71 is the
    // dropping variant.)
    Query("q120_release_bundle", (s, dir) => {
      val d = t(s, dir, "documents")
      val keepQ = TextAnalysis.qualityFilter(d)
        .filter(col("keep")).select("doc_id")
      // curated feeds BOTH the pair generation and the split's vertex
      // set — cache it so the quality projection runs once, not twice.
      // Projected to the two columns those consumers read (r16 opt,
      // guide §2.3/§6: the cache carried lang/source/n_chars for
      // nothing — narrower cache, narrower downstream shuffles; the
      // before-plan's ReadSchema pulled all five document columns)
      val curated = graft.SparkUtil.trackCache(
        d.select(col("doc_id"), col("text"))
          .join(keepQ, Seq("doc_id"), "left_semi"))
      val pairs = Dedup.ngramJaccardPairs(curated, threshold = 0.6)
        .select("id_a", "id_b")
      Sampling.leakageSafeSplit(curated, pairs, testPct = 20)
        .select(col("doc_id"), col("component"), col("split"),
          (Sampling.bucket(col("doc_id")) % 8).as("shard_id"))
    }, OracleSql.releaseBundle(
      minTokens = 15, maxTokens = 100000, minMeanTokLen = 4.0,
      maxMeanTokLen = 12.0, maxTopTokRatio = 0.2, minStopwords = 2,
      threshold = 0.6, maxDocFreq = 10000, testPct = 20, nShards = 8,
      idCol = "doc_id")),

    // b-bit MinHash (Li & König): signature-store compression — every
    // candidate pair scored by the full k=128 estimator AND the 1-bit
    // debiased estimator (16 bytes/doc instead of ~1 KB/doc); exact bit
    // arithmetic until the final divisions, so approximate-by-design is
    // still deterministic.
    Query("q119_bbit_minhash", (s, dir) =>
      Dedup.bbitSignaturePairs(t(s, dir, "documents"), threshold = 0.6),
      OracleSql.bbitSignaturePairs(k = 128, bands = 32,
        b = 1, threshold = 0.6, idCol = "doc_id")),

    // Source-similarity matrix: pairwise cosine between per-source token
    // count vectors — which sources carry the same content mix (mirror
    // detection before choosing mixture weights).
    Query("q116_source_similarity", (s, dir) =>
      TextAnalysis.sourceSimilarityMatrix(t(s, dir, "documents")),
      OracleSql.sourceSimilarityMatrix("source")),

    // Small-file compaction plan: the q102 shard manifest bin-packed to
    // a 150-row target by deterministic fractional next-fit — the
    // storage-maintenance planner for shard consolidation.
    Query("q117_compaction_plan", (s, dir) =>
      graft.sources.IO.compactionPlan(
        graft.sources.IO.shardManifest(t(s, dir, "documents"), nShards = 8,
          graft.functions.TextFunctions.rollingHash(col("text"))),
        targetSize = 150),
      OracleSql.compactionPlan(nShards = 8,
        targetSize = 150, idCol = "doc_id")),

    // Cross-source duplication matrix: q14's near-dup pairs rolled up to
    // (source, source) cells — who is copying whom; diagonal = within-
    // source duplication. Consumes the shared jacc06 pair artifact (r16
    // opt): the rollup is two id joins + one tiny agg, and the pair
    // derivation it previously re-ran per query is EXACTLY the artifact
    // generator (same table, same threshold/defaults) — the q85/q123
    // store-once pattern; the oracle still replays the full derivation.
    Query("q118_cross_source_matrix", (s, dir) =>
      Dedup.crossSourceMatrixFromPairs(
        Artifacts.jaccardPairs(s, dir), t(s, dir, "documents")),
      OracleSql.crossSourceMatrix(threshold = 0.6,
        maxDocFreq = 10000, groupCol = "source")),

    // Referential-integrity audit: two child→parent relationships, one
    // intact (orders→customer) and one with a simulated partial parent
    // load (lineitem→orders with 10% of orders dropped by hash bucket)
    // — the ingestion QA gate that catches lost partitions.
    Query("q114_ref_integrity", (s, dir) => {
      val intact = Profiler.refIntegrityAudit(
        t(s, dir, "orders"), t(s, dir, "customer"),
        "o_custkey", "c_custkey", "orders->customer")
      val partial = Profiler.refIntegrityAudit(
        t(s, dir, "lineitem"),
        t(s, dir, "orders").filter(Sampling.bucket(col("o_orderkey")) < 90),
        "l_orderkey", "o_orderkey", "lineitem->orders[90pct]")
      intact.unionAll(partial)
    }, OracleSql.refIntegrityAudit(dropParentBelowPct = 90)),

    // Exact join-cardinality prediction from per-key counts: the "will
    // this join explode" check — shared keys, predicted output rows,
    // and the largest single-key reducer, for a FK join and a skewed
    // self-join, without running either join.
    // predicted_rows is decimal(38,0) inside the operator (a 100 TB hot
    // key can push the product sum past 2^63) but cast to long at this
    // query boundary: DuckDB renders DECIMAL(38,0) through pandas as
    // float64, so a decimal output can never value-hash against the
    // oracle (the round-4 hash mismatch). The fixture sums fit in long.
    Query("q115_join_size_estimate", (s, dir) => {
      val e = Tables.loadEvents(s, dir)
      Profiler.joinSizeEstimate(t(s, dir, "lineitem"), t(s, dir, "orders"),
          "l_orderkey", "o_orderkey", "lineitem x orders")
        .unionAll(Profiler.joinSizeEstimate(e, e, "user_id", "user_id",
          "events x events (self)"))
        .withColumn("predicted_rows", col("predicted_rows").cast("long"))
    }, OracleSql.joinSizeEstimate),

    // Embedding centroid drift — the embedding face of the q101 token
    // drift audit: per-label cosine between old-half and new-half mean
    // vectors (micro-scaled integer sums → exact), drift verdict at 0.5.
    // The fixture's random vectors drift everywhere by construction; a
    // real corpus's random halves would sit at ~1.0 (spec-pinned).
    Query("q109_centroid_drift", (s, dir) => {
      val e = t(s, dir, "embeddings")
      SimilaritySearch.centroidDrift(
        e.filter(Sampling.bucket(col("vec_id")) < 50),
        e.filter(Sampling.bucket(col("vec_id")) >= 50), threshold = 0.5)
    }, OracleSql.centroidDrift(newPct = 50,
      threshold = 0.5, dim = 64, idCol = "vec_id")),

    // Rarity-weighted sparse cosine pairs — the TF-IDF-style near-dup
    // detector: quantized-idf integer coordinates keep every sum exact;
    // rare-shingle weighting cleanly separates true near-dups from
    // boilerplate overlap (fixture: 25 known pairs >= 0.8, rest < 0.3).
    Query("q108_rarity_weighted_pairs", (s, dir) =>
      Dedup.rarityWeightedPairs(t(s, dir, "documents"), threshold = 0.5),
      OracleSql.rarityWeightedPairs(n = 3,
        threshold = 0.5, maxDocFreq = 10000)),

    // k-anonymity audit over the (nation, market segment) quasi-id
    // tuple: every equivalence class with its size, table share, and
    // re-identification verdict at k=10 — the compliance gate before
    // releasing user-linked data.
    Query("q107_anonymity_audit", (s, dir) =>
      Profiler.anonymityAudit(t(s, dir, "customer"),
        Seq("c_nationkey", "c_mktsegment"), k = 10),
      OracleSql.anonymityAudit(
        Seq("c_nationkey", "c_mktsegment"), k = 10, table = "customer")),

    // Shard manifest — the exactly-once export-validation artifact:
    // per-shard row count, id range, and order-insensitive content
    // checksum; recompute after any copy and diff to prove integrity.
    Query("q102_shard_manifest", (s, dir) =>
      graft.sources.IO.shardManifest(t(s, dir, "documents"), nShards = 8,
        graft.functions.TextFunctions.rollingHash(col("text"))),
      OracleSql.shardManifest(nShards = 8,
        idCol = "doc_id")),

    // Corpus drift report: per-token chi-square contributions between
    // the two hash-split corpus halves over the pooled top-30 vocab —
    // the audit run before swapping a corpus version into a training
    // mix. Rational arithmetic only (no logs, no global float sum).
    Query("q101_corpus_drift", (s, dir) => {
      val d = t(s, dir, "documents")
      TextAnalysis.corpusDrift(
        d.filter(Sampling.bucket(col("doc_id")) < 50),
        d.filter(Sampling.bucket(col("doc_id")) >= 50), k = 30)
    }, OracleSql.corpusDrift(newPct = 50, k = 30,
      idCol = "doc_id")),

    // Generic table profiler — the per-column data-quality fact sheet
    // (rows, nulls, exact distincts, min/max) every ingestion step
    // publishes; one aggregation pass, long-form output.
    Query("q100_profile", (s, dir) =>
      Profiler.profile(t(s, dir, "lineitem"), ProfileCols),
      OracleSql.profile("lineitem", ProfileCols)),

    // Multi-signal dedup: text SimHash pairs (q16) and media pHash pairs
    // (q95) union into ONE evidence graph, components span both signals
    // — the cross-modal dedup a mixed text+media corpus needs (a doc and
    // its rendering dedup together even when each signal alone misses).
    // Adaptive composition (Dedup.multiSignalComponents, the q49/q264
    // bounded-statistic dispatcher): PAIR LISTS under 20 K docs (clique
    // edges -> 2-3 CC rounds; the edge form's rep-to-rep chains cost 13
    // rounds at sf0.1 — measured 8.2 s vs 2.4 s), connectivity-
    // preserving EDGE SETS above (the pair list is data-quadratic there
    // — the 100× probe failed outright on it; the edge form measured
    // 24.8 s at 100×). Text signal is the 64-BIT SimHash in BOTH
    // branches: at 500 K docs the 32-bit hash manufactures ~160 K false
    // pairs that fuse unrelated components. Branch equivalence
    // spec-pinned; dispatch costs one raw count (parquet metadata).
    Query("q99_multisignal_components", (s, dir) =>
      Dedup.multiSignalComponents(t(s, dir, "documents")),
      OracleSql.multiSignalComponents(
        maxHamming = 3)),

    // PII incidence by registered domain — the audit rollup a compliance
    // review asks for: which domains leak emails/numbers, at what rate
    // (q61's injection × q79's domain key, zero joins: the domain is a
    // narrow function of the id).
    Query("q98_pii_by_domain", (s, dir) => {
      val d = t(s, dir, "documents")
      val b = Sampling.bucket(col("doc_id"))
      val injected = d.select(col("doc_id"),
        when(b < 15, concat(col("text"), lit(" contact bob"),
          (col("doc_id") % 50).cast("string"), lit("@example.com now")))
          .when(b < 30, concat(col("text"), lit(" call 5551234"),
            (col("doc_id") % 1000).cast("string")))
          .otherwise(col("text")).as("text"))
      TextAnalysis.redact(injected)
        .select(UrlOps.registeredDomain(UrlOps.hostOf(
            UrlOps.syntheticUrl(col("doc_id")))).as("reg_domain"),
          col("n_emails"), col("n_numbers"))
        .groupBy(col("reg_domain"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n_emails") + col("n_numbers") > 0, 1L).otherwise(0L))
            .as("n_pii_docs"),
          sum(col("n_emails")).as("total_emails"),
          sum(col("n_numbers")).as("total_numbers"))
        .withColumn("pii_rate", col("n_pii_docs").cast("double") / col("n_docs"))
    }, OracleSql.piiByDomain(emailPct = 15, numPct = 15,
      idCol = "doc_id")),

    // Doc stitching: find documents split across shard/crawl boundaries
    // (last-k tokens of one piece == first-k of the next). A hash-
    // sampled slice is split in half with a k-token overlap — the
    // injection — and the operator re-finds every seam from boundary
    // hashes alone.
    Query("q97_doc_stitching", (s, dir) => {
      val d = t(s, dir, "documents")
      val k = 8
      val tks = split(col("text"), " ")
      val n = size(tks)
      val canSplit = Sampling.bucket(col("doc_id")) < 20 && n >= 24
      val half = floor(n / 2).cast("int")
      val part1 = array_join(slice(tks, lit(1), half + lit(k)), " ")
      val part2 = array_join(slice(tks, half + lit(1), n - half), " ")
      val corpus = d.select(explode(when(canSplit,
          array(
            struct((col("doc_id") * 2).as("doc_id"), part1.as("text")),
            struct((col("doc_id") * 2 + 1).as("doc_id"), part2.as("text"))))
        .otherwise(array(
          struct((col("doc_id") * 2).as("doc_id"), col("text").as("text")))))
        .as("r"))
        .select(col("r.doc_id"), col("r.text"))
      Dedup.stitchCandidates(corpus, k = k)
    }, OracleSql.docStitching(splitPct = 20,
      minTokens = 24, k = 8, idCol = "doc_id")),

    // Domain-reputation filter — the web-corpus two-pass: per-domain
    // quality pass rate (q63's injection makes docs fail), then keep
    // whole domains clearing 90%. Spam farms fail wholesale even where
    // individual pages slip past per-doc rules.
    Query("q96_domain_reputation", (s, dir) => {
      val d = t(s, dir, "documents")
      val injected = d.select(col("doc_id"),
        when(Sampling.bucket(col("doc_id")) < 10,
          concat(col("text"), lit(" lorem ipsum dolor sit amet")))
          .otherwise(col("text")).as("text"))
      UrlOps.domainReputationFilter(injected,
        UrlOps.syntheticUrl(col("doc_id")),
        TextAnalysis.qualityKeep(col("text")), minPassPct = 68)
    }, OracleSql.domainReputation(injectPct = 10,
      injectSuffix = "lorem ipsum dolor sit amet", minPassPct = 68,
      idCol = "doc_id")),

    // Media perceptual-hash near-dup — the multimodal member of the
    // dedup family: decode → 32-bit pHash (sign bits of the stub
    // embedding) → byte-pigeonhole candidates → exact Hamming verify.
    Query("q95_media_phash_dedup", (s, dir) =>
      Multimodal.phashPairs(
        Multimodal.mediaFromDocuments(t(s, dir, "documents"))),
      OracleSql.phashPairs(maxHamming = 3)),

    // Per-eval-doc contamination report — the measuring side of q39:
    // what fraction of each held-out eval doc's shingles leak from the
    // training split, published before anyone trusts a benchmark score.
    Query("q94_contamination_report", (s, dir) => {
      val d = t(s, dir, "documents")
      Dedup.contaminationReport(
        d.filter(Sampling.bucket(col("doc_id")) >= 5),
        Sampling.hashSample(d, pct = 5), containPct = 80)
    }, OracleSql.contaminationReport(
      evalPct = 5, containPct = 80, idCol = "doc_id")),

    // Trained-tokenizer pack: train 6 BPE merges, tokenize every doc
    // with the learned table (merges ride the plan as literal replaces —
    // narrow, codegen'd), pack into 1024-token sequences by the EMITTED
    // token count. Closes the q78 → q34 loop end-to-end: the packing a
    // trainer actually sees uses tokenizer lengths, not whitespace
    // counts.
    Query("q93_bpe_pack", (s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = BpeTrain.train(docs, k = 6).collect()
        .sortBy(_.getInt(0)).map(r => (r.getString(1), r.getString(2))).toSeq
      TextAnalysis.packSequencesBy(docs, budgetTokens = 1024,
        BpeTrain.bpeTokenCount(col("text"), merges))
    }, OracleSql.bpePack(k = 6, budget = 1024)),

    // HLL set algebra: PHRASE-space (3-gram shingle) overlap between two
    // corpus halves via inclusion-exclusion over MERGED register tables —
    // corpus-similarity estimation that never co-scans the sides (each
    // half could live in a different datacenter; only 2^p-row sketches
    // travel). The shingle space (~10k/side on the fixture) keeps the
    // raw estimator in its valid n >> 2.5m regime — the fixture's 31-word
    // token vocabulary would not.
    Query("q91_vocab_overlap", (s, dir) => {
      val d = t(s, dir, "documents")
      def toks(pred: Column) = d.filter(pred)
        .select(explode(
          graft.functions.TextFunctions.shingleHashes(col("text"), 3)).as("h"))
        .select(col("h").cast("string").as("tok"))
      val ra = Sketches.hllRegisters(
        toks(Sampling.bucket(col("doc_id")) < 50), Nil, "tok", p = 6)
      val rb = Sketches.hllRegisters(
        toks(Sampling.bucket(col("doc_id")) >= 50), Nil, "tok", p = 6)
      def est(regs: DataFrame, as: String) =
        Sketches.estimateFromRegisters(regs, Nil, p = 6)
          .select(col("hll_estimate").as(as))
      est(ra, "est_a")
        .crossJoin(est(rb, "est_b"))
        .crossJoin(est(Sketches.mergeRegisters(ra, rb, Nil), "est_union"))
        .select(col("est_a"), col("est_b"), col("est_union"),
          (col("est_a") + col("est_b") - col("est_union")).as("est_overlap"),
          ((col("est_a") + col("est_b") - col("est_union")) / col("est_union"))
            .as("overlap_ratio"))
    }, OracleSql.vocabOverlap(newPct = 50, p = 6,
      idCol = "doc_id")),

    // Train-then-infer in one query: learn per-language char-trigram
    // profiles from the labelled corpus, then classify every doc by
    // profile-overlap argmax (Cavnar-Trenkle-style n-gram language ID).
    // The fixture's lang labels sit over one shared word pool (no real
    // signal), so per-lang marker suffixes are injected first — the
    // q53/q61 fixture-repair pattern — making the learned profiles
    // genuinely discriminative (accuracy spec-pinned).
    Query("q88_lang_profile", (s, dir) => {
      val d = t(s, dir, "documents")
      val marked = d.select(col("doc_id"), col("lang"),
        LangProfileMarks.foldLeft(col("text")) { case (acc, (l, m)) =>
          when(col("lang") === l, concat(col("text"), lit(s" $m $m")))
            .otherwise(acc)
        }.as("text"))
      TextAnalysis.classifyByProfile(marked,
        TextAnalysis.trainLangProfiles(marked, m = 120))
    }, OracleSql.langProfile(m = 120, idCol = "doc_id",
      marks = LangProfileMarks)),

    // Majority label propagation over the near-dup graph: language seeds
    // vote across 2 synchronous rounds with deterministic tie-breaks —
    // flags docs whose metadata disagrees with their duplicates.
    Query("q132_label_propagation", (s, dir) => {
      val d = t(s, dir, "documents")
      GraphOps.labelPropagation(
          d.select(col("doc_id"), col("lang")),
          Artifacts.jaccardPairs(s, dir),
          rounds = 2)
        .select(col("id").as("doc_id"), col("label"), col("changed"))
    }, OracleSql.labelPropagation(threshold = 0.6,
      maxDocFreq = 10000, rounds = 2)),

    // Stupid-backoff coverage: per-doc counts of trigram positions served
    // by the trigram / bigram / unigram LM level (corpus count >= 2) or
    // OOV — the integer-exact skeleton of an n-gram perplexity filter.
    Query("q133_backoff_coverage", (s, dir) =>
      TextAnalysis.backoffCoverage(t(s, dir, "documents"), minCount = 2),
      OracleSql.backoffCoverage(minCount = 2)),

    // Dictionary phrase tagging: occurrence counts of a literal phrase
    // list per doc (replace-arithmetic counting, non-overlapping) — the
    // positive-match dual of q33's blacklist decontamination.
    Query("q134_phrase_match", (s, dir) =>
      TextAnalysis.phraseMatch(t(s, dir, "documents"), PhraseDict),
      OracleSql.phraseMatch(PhraseDict,
        idCol = "doc_id")),

    // Z-order layout report: Morton-interleaved (entity, hour) keys
    // bucketed to target files — the occupancy audit run before an
    // OPTIMIZE ZORDER-style rewrite of a 100 TB event table.
    Query("q135_zorder_layout", (s, dir) =>
      Layout.zorderBuckets(Tables.loadEvents(s, dir), bits = 8,
        bucketShift = 10),
      OracleSql.zorderBuckets(bits = 8,
        bucketShift = 10)),

    // Signed random projection 64 -> 16 dims, micro-quantized to integer
    // coordinates: the JL dimensionality-reduction face of the SRP
    // machinery (storage-cheap vectors for downstream clustering).
    Query("q136_random_projection", (s, dir) =>
      SimilaritySearch.randomProject(t(s, dir, "embeddings"), outDim = 16),
      OracleSql.randomProject(outDim = 16,
        dim = 64)),

    // Reciprocal nearest neighbors on the LSH kNN graph: pairs that are
    // each other's top-1 — the high-precision pair miner (hub documents
    // stop absorbing clusters because hubs aren't mutual). Reads the
    // shared q58 graph artifact (the persisted-index shape).
    Query("q137_mutual_knn", (s, dir) =>
      SimilaritySearch.mutualTop1(Artifacts.knnGraphLsh(s, dir)),
      OracleSql.mutualTop1Lsh(k = 5, dim = 64,
        nPlanes = 4, nTables = 8)),

    // Equi-depth histogram of lineitem prices — the quantile-cut dual of
    // q127's equi-width buckets; distributed closed-form ntile vs the
    // oracle's plain NTILE window.
    Query("q138_equidepth_hist", (s, dir) =>
      Profiler.equidepthHistogram(t(s, dir, "lineitem"), "l_extendedprice",
        nBins = 10),
      OracleSql.equidepthHistogram(nBins = 10,
        table = "lineitem", valueCol = "l_extendedprice")),

    // Deterministic weighted sampling without replacement: smallest-n
    // integer priority keys (u*1e6 div weight) — char-mass-proportional
    // selection that re-runs bit-identically.
    Query("q139_weighted_sample", (s, dir) =>
      Sampling.weightedSample(t(s, dir, "documents"), n = 100)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("wkey")),
      OracleSql.weightedSample(n = 100,
        weightCol = "n_chars", idCol = "doc_id")),

    // Hard-negative mining: per positive-set vector (label 0), the top-3
    // nearest negative-set vectors (label >= 5) by cosine — the
    // classifier-training face of the bipartite kNN join.
    Query("q140_hard_negatives", (s, dir) => {
      val e = t(s, dir, "embeddings")
      SimilaritySearch.knnJoin(e.filter(col("label") >= 5),
        e.filter(col("label") === 0), k = 3)
    }, OracleSql.bipartiteKnn(k = 3, dim = 64,
      posPred = "label = 0", negPred = "e.label >= 5")),

    // Product-quantization encode: each 64-dim vector becomes 8 small
    // integer codes (nearest per-subspace centroid) — the 32×-compressed
    // code table a billion-vector ANN index actually scans.
    Query("q141_pq_encode", (s, dir) =>
      SimilaritySearch.pqEncode(t(s, dir, "embeddings"), m = 8,
        ksub = 64),
      OracleSql.pqEncode(m = 8, ksub = 64, dim = 64)),

    // IVF-PQ top-k search: coarse-cell prune, asymmetric-distance rank
    // over PQ codes (lookup table rides the plan), exact re-rank of the
    // best 100 — zero joins, zero shuffles, two total-order cuts.
    Query("q142_ivfpq_topk", (s, dir) => {
      val e = t(s, dir, "embeddings")
      SimilaritySearch.ivfPqTopK(e, e.filter(col("vec_id") === 123),
        k = 10, m = 8, ksub = 64, nlist = 16, nprobe = 8, rerank = 100)
    }, OracleSql.ivfPqTopK(queryId = 123, k = 10,
      dim = 64, m = 8, ksub = 64, nlist = 16, nprobe = 8, rerank = 100)),

    // Integer-arithmetic PageRank over the min-support co-engagement
    // item graph: 3 synchronous damped rounds with every division an
    // integer floor — centrality scores (which items anchor the graph,
    // beyond raw degree) that replay bit-identically in SQL.
    Query("q143_pagerank", (s, dir) =>
      GraphOps.pageRank(
          EventAnalytics.coEngagementEdges(Tables.loadEvents(s, dir),
            get_json_object(col("props"), "$.k").cast("int"),
            minUsers = 15, maxItemsPerUser = 30)
            .select("item_a", "item_b"),
          rounds = 3)
        .select(col("id").as("item_id"), col("rank"), col("degree")),
      OracleSql.pageRank(minUsers = 15,
        maxItemsPerUser = 30, rounds = 3, scale = 1000000L, dampNum = 85L,
        dampDen = 100L)),

    // Pareto-frontier (skyline) curation shortlist: docs where neither
    // length nor lexical richness (micro-scaled type-token ratio) can
    // improve without giving up the other — no threshold pair expresses
    // this set; the window runs over distinct lengths, never the corpus.
    Query("q144_pareto_frontier", (s, dir) => {
      Sampling.paretoFrontier(t(s, dir, "documents"), col("n_chars"),
          expr("(size(array_distinct(split(text, ' '))) * CAST(1000000 AS BIGINT)) div size(split(text, ' '))"))
        .select(col("doc_id"), col("x").as("n_chars"),
          col("y").as("ttr_micro"))
    }, OracleSql.paretoFrontier),

    // Zone-map skip report: per orderkey-shard min/max shipdate vs a
    // quarter-range predicate — the footer-stats prune decision a 100 TB
    // scan makes before reading a byte; n - n_match on scanned shards is
    // the false-positive read cost the natural layout pays.
    Query("q145_zonemap_prune", (s, dir) =>
      Layout.zoneMapSkipReport(t(s, dir, "lineitem"),
        expr("l_orderkey div 1024"), col("l_shipdate"),
        lit("1995-01-01").cast("date"), lit("1995-03-31").cast("date")),
      OracleSql.zoneMapSkipReport(shardWidth = 1024L,
        lo = "1995-01-01", hi = "1995-03-31")),

    // Clustering-depth profile: interval-stabbing depth over the shard
    // [min,max] shipdate ranges from q145's zone map — depth ~ #shards
    // everywhere proves the orderkey layout cannot prune date scans and
    // the table wants a shipdate re-cluster (q135's rewrite).
    Query("q146_clustering_depth", (s, dir) => {
      val shards = Layout.zoneMapSkipReport(t(s, dir, "lineitem"),
        expr("l_orderkey div 1024"), expr("unix_date(cast(l_shipdate as date))"),
        lit(Int.MinValue), lit(Int.MinValue))
      Layout.clusteringDepth(shards, col("v_min"), col("v_max"))
    }, OracleSql.clusteringDepth(shardWidth = 1024L)),

    // Fuzzy pairs with LOSSLESS SymSpell delete-key blocking: supplier
    // names within edit distance 1 — the oracle runs the all-pairs brute
    // force, so a hash match PROVES the blocking dropped nothing.
    Query("q147_fuzzy_pairs", (s, dir) =>
      FuzzyMatch.pairs(t(s, dir, "supplier"), "s_suppkey", "s_name",
        maxDist = 1),
      OracleSql.fuzzyPairs("supplier", "s_suppkey",
        "s_name", maxDist = 1)),

    // Entity resolution: distinct part names → distance-≤2 fuzzy edges →
    // connected components → canonical (min) name per cluster; transitive
    // closure is the point ("red bolt" ~ "old bolt" ~ "old belt").
    Query("q148_entity_resolution", (s, dir) =>
      FuzzyMatch.resolveEntities(t(s, dir, "part"), "p_name", maxDist = 2),
      OracleSql.resolveEntities("part", "p_name",
        maxDist = 2)),

    // Exact heavy hitters, two-pass Misra-Gries: values above total/13 of
    // a head+tail key (5 hot event types riding above ~500 injected tail
    // values) — candidates from bounded per-partition summaries, exact
    // recount, bit-identical to the oracle's brute-force GROUP BY.
    Query("q149_heavy_hitters", (s, dir) =>
      Sketches.heavyHittersExact(Tables.loadEvents(s, dir),
        expr("if(user_id % 2 = 0, event_type, " +
          "concat(event_type, '#', cast(user_id as string)))"),
        capacity = 12),
      OracleSql.heavyHitters(capacity = 12)),

    // Runtime-filter join: Bloom over urgent orders' keys pre-filters
    // lineitem BEFORE the shuffle; the join removes false positives, so
    // the result is exactly the plain join the oracle runs.
    Query("q150_bloom_join", (s, dir) =>
      SparkUtil.bloomPrunedJoin(t(s, dir, "lineitem"),
          t(s, dir, "orders").where(col("o_orderpriority") === "1-URGENT"),
          "l_orderkey", "o_orderkey")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"),
          count_distinct(col("o_orderkey")).as("n_orders")),
      OracleSql.bloomJoinAgg(priority = "1-URGENT")),

    // Event-time disorder audit: per-user late-event counts and worst
    // lateness under deterministic injected arrival delays — the
    // measurement that sizes a streaming watermark.
    Query("q151_disorder_audit", (s, dir) =>
      EventAnalytics.disorderAudit(Tables.loadEvents(s, dir),
        maxDelayUs = 600000000L),
      OracleSql.disorderAudit(
        maxDelayUs = 600000000L)),

    // Token co-occurrence association pairs: support/confidence/lift in
    // exact integers + single divisions, df-pruned losslessly before the
    // per-doc pairing self-join.
    Query("q152_cooccurrence", (s, dir) =>
      TextAnalysis.cooccurrencePairs(t(s, dir, "documents"),
        minSupport = 300),
      OracleSql.cooccurrencePairs(minSupport = 300)),

    // Incremental materialized-view refresh: agg state over yesterday's
    // 80% merged with state over today's 20% delta — provably equal to
    // the full-rescan aggregate the oracle runs.
    Query("q153_agg_state_merge", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val keys = Seq("l_returnflag", "l_linestatus")
      Profiler.mergeAggStates(
        Profiler.aggState(li.where(expr("l_orderkey % 5 != 4")), keys,
          "l_quantity"),
        Profiler.aggState(li.where(expr("l_orderkey % 5 = 4")), keys,
          "l_quantity"),
        keys)
    }, OracleSql.aggStateMerge(
      Seq("l_returnflag", "l_linestatus"), "l_quantity", "lineitem")),

    // Skew-aware partition plan: keys dealt to partitions in descending
    // size order (sorted round-robin) with a per-partition load report —
    // no partition carries two of the top-P keys.
    Query("q154_balanced_assignment", (s, dir) =>
      Layout.balancedAssignment(Tables.loadEvents(s, dir), "user_id",
        nParts = 8),
      OracleSql.balancedAssignment("user_id",
        nParts = 8, table = "events")),

    // Right-to-be-forgotten purge manifest: per negative-balance
    // customer, the orders and lineitems a cascading delete removes —
    // semi-join-reduced level by level, agg-before-join on the way up.
    Query("q155_purge_plan", (s, dir) =>
      Profiler.cascadeDeletePlan(
        t(s, dir, "customer").where(col("c_acctbal") < 0), "c_custkey",
        t(s, dir, "orders"), "o_custkey", "o_orderkey",
        t(s, dir, "lineitem"), "l_orderkey"),
      OracleSql.purgePlan("c_acctbal < 0")),

    // Wide cross-tab: per-source language counts as one conditional-agg
    // pass over a declared pivot-value list (schema stays data-independent;
    // the remainder still counts toward total).
    Query("q156_pivot_report", (s, dir) =>
      Profiler.pivotCounts(t(s, dir, "documents"), "source", "lang",
        PivotLangs),
      OracleSql.pivotCounts("source", "lang",
        PivotLangs, "documents")),

    // Top session journeys: inactivity-gap sessions → first-5 event-type
    // path strings → top-20 under the (count, path) total order.
    Query("q157_session_paths", (s, dir) =>
      EventAnalytics.sessionPaths(Tables.loadEvents(s, dir),
        gapMinutes = 30, pathLen = 5, topK = 20),
      OracleSql.sessionPaths(gapMinutes = 30,
        pathLen = 5, topK = 20)),

    // Declarative data-quality gate: five named predicates in ONE scan,
    // null-is-violation semantics, long-form report.
    Query("q158_dq_rules", (s, dir) =>
      Profiler.dqReport(t(s, dir, "lineitem"), DqRules),
      OracleSql.dqReport(DqRules, "lineitem")),

    // Robust per-user outliers: deviation beyond 3× the user's own MAD
    // (deterministic lower medians; self-calibrating like q74).
    Query("q159_mad_outliers", (s, dir) =>
      EventAnalytics.madOutliers(Tables.loadEvents(s, dir), k = 3),
      OracleSql.madOutliers(k = 3)),

    // Per-domain cap: each source keeps its best-15 docs by the q83
    // linear quality score (deterministic priority) — the
    // anti-concentration rule applied before any mixture sampling.
    Query("q160_domain_cap", (s, dir) => {
      val d = t(s, dir, "documents")
      val scored = TextAnalysis.linearScore(d).select(col("doc_id"), col("score"))
      Sampling.capPerGroup(
        d.select(col("doc_id"), col("source")).join(scored, Seq("doc_id")),
        n = 15, groupCol = "source", scoreCol = "score")
    }, OracleSql.domainCap(n = 15, wTok = 2, wStop = 5,
      wDigit = -3, wUpper = -1, threshold = 120, idCol = "doc_id")),

    // Preference-pair mining: near-dup clusters (q14's pair graph) yield
    // (best, worst) members by the q83 score — same-content DPO pairs.
    Query("q161_preference_pairs", (s, dir) => {
      val d = t(s, dir, "documents")
      Dedup.preferencePairs(
        d.select("doc_id"),
        Artifacts.jaccardPairs(s, dir),
        TextAnalysis.linearScore(d).select(col("doc_id"), col("score")))
    }, OracleSql.preferencePairs(threshold = 0.6,
      maxDocFreq = 10000, wTok = 2, wStop = 5, wDigit = -3, wUpper = -1,
      scoreThreshold = 120, idCol = "doc_id")),

    // Integer-exact CCNet-style predictability filter: share of a doc's
    // bigram positions covering >= 1/8 of their context's corpus mass.
    Query("q162_lm_predictability", (s, dir) =>
      TextAnalysis.lmPredictability(t(s, dir, "documents"), branch = 8),
      OracleSql.lmPredictability(branch = 8,
        threshold = 0.5, idCol = "doc_id")),

    // Tokenizer fertility cost sheet per (lang, source): BPE-ish tokens
    // per word and chars per token from exact integer sums.
    Query("q163_tokenizer_fertility", (s, dir) =>
      TextAnalysis.tokenizerFertility(t(s, dir, "documents")),
      OracleSql.tokenizerFertility(
        groupCol = "lang", sourceCol = "source")),

    // Reproducible T5 span-corruption plan: hash-drawn mask spans as
    // auditable rows, zero shuffle.
    Query("q164_span_corruption", (s, dir) =>
      TextAnalysis.spanCorruptionPlan(t(s, dir, "documents")),
      OracleSql.spanCorruptionPlan(spanLen = 3,
        maskPct = 15, idCol = "doc_id")),

    // Out-of-time split audit: per-user counts each side of the cutoff
    // and the straddle flag (identity-level temporal leakage).
    Query("q165_time_split_audit", (s, dir) =>
      EventAnalytics.timeSplitAudit(Tables.loadEvents(s, dir),
        cutoff = "2024-01-22 00:00:00"),
      OracleSql.timeSplitAudit(
        cutoff = "2024-01-22 00:00:00")),

    // Dataset card: per-language release summary (docs, sources, tokens,
    // exact-dup count, corpus share) in one table.
    Query("q166_dataset_card", (s, dir) =>
      Profiler.datasetCard(t(s, dir, "documents")),
      OracleSql.datasetCard(groupCol = "lang",
        sourceCol = "source")),

    // Quality-gate drift: the q63 battery on two hash-halves, long-form
    // per rule with both pass rates and the delta.
    Query("q167_quality_drift", (s, dir) =>
      TextAnalysis.qualityDrift(t(s, dir, "documents")),
      OracleSql.qualityDrift(newPct = 50,
        minTokens = 15, maxTokens = 100000, minMeanTokLen = 4.0,
        maxMeanTokLen = 12.0, maxTopTokRatio = 0.2, minStopwords = 2,
        idCol = "doc_id")),

    // Split-contamination matrix: near-dup pairs within/across the naive
    // hash split — the leak q111's cluster split exists to prevent.
    Query("q168_split_contamination", (s, dir) => {
      val d = t(s, dir, "documents")
      Dedup.splitContamination(
        Artifacts.jaccardPairs(s, dir),
        Sampling.trainTestSplit(d, testPct = 20).select("doc_id", "split"))
    }, OracleSql.splitContamination(
      threshold = 0.6, maxDocFreq = 10000, testPct = 20, idCol = "doc_id")),

    // Embedding-norm audit per language: the encoder sanity sheet run
    // before any cosine-based operator.
    Query("q169_embedding_norm_audit", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val langs = t(s, dir, "documents").select(col("doc_id"), col("lang"))
      SimilaritySearch.normAudit(e.join(langs, e("vec_id") === langs("doc_id")))
    }, OracleSql.normAudit(groupCol = "lang",
      dim = 64)),

    // Source-to-source content overlap from MERGED MinHash signatures
    // (elementwise-min union — the mergeable-sketch mirror detector).
    Query("q170_source_overlap", (s, dir) =>
      Dedup.sourceMinhashOverlap(t(s, dir, "documents")),
      OracleSql.sourceMinhashOverlap(k = 128,
        groupCol = "source")),

    // Windowed telemetry dedup: identical (user, type, value) events in
    // a 5-min tumbling window collapse to their first occurrence. The
    // fixture stream has no duplicates, so a hash-sampled 10% slice is
    // re-emitted with shifted ids (same ts → same window, guaranteed
    // collapse; q61's injection pattern) so the collapse path actually
    // fires under the oracle.
    Query("q171_event_dedup", (s, dir) => {
      val ev = Tables.loadEvents(s, dir)
      val dupes = ev.filter(Sampling.bucket(col("event_id")) < 10)
        .withColumn("event_id", col("event_id") + lit(1000000000L))
      EventAnalytics.eventDedupWindow(ev.unionByName(dupes))
    }, OracleSql.eventDedupWindow(windowMinutes = 5,
      injectPct = 10, idShift = 1000000000L)),

    // Curriculum staging: per-lang easy→hard bands by BPE token count,
    // explicit integer band formula (no ntile ambiguity).
    Query("q172_curriculum_stages", (s, dir) =>
      TextAnalysis.curriculumStages(t(s, dir, "documents")),
      OracleSql.curriculumStages(stages = 4,
        groupCol = "lang", idCol = "doc_id")),

    // Rank-exact winsorization report on event values per type: clamp
    // bounds at pinned ranks, value-exact clamp counts.
    Query("q173_winsorize", (s, dir) =>
      Profiler.winsorizeReport(Tables.loadEvents(s, dir),
        keyCol = "event_type", valueCol = "value", idCol = "event_id"),
      OracleSql.winsorizeReport(keyCol = "event_type",
        valueCol = "value", idCol = "event_id", loPct = 5, hiPct = 95)),

    // Length-banded blocking: same-lang docs within 2 tokens of each
    // other via a lossless pigeonhole equi-join (the ER blocking
    // primitive), output equal to the naive all-pairs filter.
    Query("q174_length_band_pairs", (s, dir) =>
      Dedup.lengthBandPairs(t(s, dir, "documents")),
      OracleSql.lengthBandPairs(d = 2,
        groupCol = "lang", idCol = "doc_id")),

    // MinHash estimator-quality audit: exact vs signature-estimated
    // Jaccard with absolute error, over ALL LSH candidates.
    Query("q175_estimator_error", (s, dir) =>
      Dedup.minhashEstimatorReport(t(s, dir, "documents")),
      OracleSql.minhashEstimatorReport(k = 128,
        bands = 32, idCol = "doc_id")),

    // Declared-vs-predicted language agreement: q11's detector against
    // the metadata column, per-doc verdict (the label-noise audit).
    Query("q176_lang_agreement", (s, dir) => {
      val d = t(s, dir, "documents")
      TextAnalysis.languageId(d)
        .join(d.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("lang_pred"),
          (col("lang") === col("lang_pred")).as("agrees"))
    }, OracleSql.langAgreement(idCol = "doc_id")),

    // Reshard movement plan 8 → 12 shards over the content-addressed
    // bucket: per-cell doc counts, move flags, shares.
    Query("q177_reshard_plan", (s, dir) =>
      Sampling.reshardPlan(t(s, dir, "documents"), oldN = 8, newN = 12),
      OracleSql.reshardPlan(oldN = 8, newN = 12,
        idCol = "doc_id")),

    // Token-budget allocation sheet: the MixTargets weights against the
    // per-lang token supply (allocated vs available vs deficit).
    Query("q178_budget_allocation", (s, dir) =>
      Sampling.budgetAllocation(t(s, dir, "documents"),
        budgetTokens = 30000L, weights = MixTargets),
      OracleSql.budgetAllocation(
        budgetTokens = 30000L, weights = MixTargets.toSeq, strataCol = "lang")),

    // Media storage-budget sheet per type from the decoded metadata:
    // counts, bytes, exact median, largest object.
    Query("q179_media_budget", (s, dir) =>
      Multimodal.mediaBudgetReport(
        Multimodal.decodeMeta(
          Multimodal.mediaFromDocuments(t(s, dir, "documents"))).toDF()),
      OracleSql.mediaBudgetReport),

    // Session-duration histogram: power-of-two second bands over the
    // shared sessionizer — engagement shape at bounded output size.
    Query("q180_session_histogram", (s, dir) =>
      EventAnalytics.sessionDurationHistogram(Tables.loadEvents(s, dir)),
      OracleSql.sessionDurationHistogram(
        gapMinutes = 30)),

    // Activity concentration: exact Gini over per-user event counts —
    // the skew number checked before partitioning and mixture choices.
    Query("q181_activity_gini", (s, dir) =>
      Profiler.giniConcentration(Tables.loadEvents(s, dir),
        keyCol = "user_id"),
      OracleSql.giniConcentration(keyCol = "user_id")),

    // Exact sliding-window burst ceiling per user (rate-limit audit);
    // banded self-join, never a per-user cross product.
    Query("q182_burst_ceiling", (s, dir) =>
      EventAnalytics.burstCeiling(Tables.loadEvents(s, dir)),
      OracleSql.burstCeiling(windowSeconds = 60)),

    // Vocabulary growth (Heaps' law) at literal id checkpoints — is
    // more crawl still teaching new words?
    Query("q183_vocab_growth", (s, dir) =>
      TextAnalysis.vocabGrowthCurve(t(s, dir, "documents"),
        checkpoints = Seq(100L, 200L, 300L, 400L, 500L)),
      OracleSql.vocabGrowthCurve(
        checkpoints = Seq(100L, 200L, 300L, 400L, 500L), idCol = "doc_id")),

    // Character-class profile per language: the encoding sanity sheet.
    Query("q184_char_profile", (s, dir) =>
      TextAnalysis.charClassProfile(t(s, dir, "documents")),
      OracleSql.charClassProfile(groupCol = "lang")),

    // Exact-k consistent sample: k smallest id hashes — deterministic,
    // nested, distributed TakeOrdered (no global sort).
    Query("q185_exact_k_sample", (s, dir) =>
      Sampling.consistentTopKSample(
        t(s, dir, "documents").select("doc_id", "lang", "source"), k = 100),
      OracleSql.consistentTopKSample(k = 100,
        idCol = "doc_id")),

    // Join fan-out histogram on lineitem's order key: multiplicity
    // distribution in log2 bands — the join-strategy shape input.
    Query("q186_join_fanout", (s, dir) =>
      Profiler.joinFanoutHistogram(t(s, dir, "lineitem"), "l_orderkey"),
      OracleSql.joinFanoutHistogram(
        keyCol = "l_orderkey", table = "lineitem")),

    // Weekly ingest trend with week-over-week deltas.
    Query("q187_weekly_trend", (s, dir) =>
      EventAnalytics.weeklyTrend(Tables.loadEvents(s, dir)),
      OracleSql.weeklyTrend),

    // Estimator calibration: mean |est − exact| Jaccard by exact-J bin.
    Query("q188_estimator_calibration", (s, dir) =>
      Dedup.estimatorCalibration(t(s, dir, "documents")),
      OracleSql.estimatorCalibration(
        bins = 10, k = 128, bands = 32, idCol = "doc_id")),

    // Activity heatmap: (day-of-week, hour) cells with shares.
    Query("q189_activity_heatmap", (s, dir) =>
      EventAnalytics.activityHeatmap(Tables.loadEvents(s, dir)),
      OracleSql.activityHeatmap),

    // Language confusion matrix: declared × predicted cells with row
    // shares — which languages get mistaken for which.
    Query("q190_lang_confusion", (s, dir) =>
      TextAnalysis.langConfusionMatrix(t(s, dir, "documents")),
      OracleSql.langConfusionMatrix(idCol = "doc_id")),

    // Stride-scheduled mixture order: proportional interleave at every
    // prefix, materialized per bucket (no global sort).
    Query("q191_mixture_schedule", (s, dir) =>
      Sampling.mixtureSchedule(t(s, dir, "documents"), weights = MixTargets),
      OracleSql.mixtureSchedule(
        weights = MixTargets.toSeq, strataCol = "lang", idCol = "doc_id",
        nBuckets = 32)),

    // Engagement cadence: per-user inter-event gap count, exact median,
    // max — the churn-definition input.
    Query("q192_event_gaps", (s, dir) =>
      EventAnalytics.interEventGaps(Tables.loadEvents(s, dir)),
      OracleSql.interEventGaps),

    // Source quality-rank stability across hash-halves: rank shifts and
    // the exact-integer Spearman d2 terms.
    Query("q193_rank_stability", (s, dir) =>
      TextAnalysis.sourceRankStability(t(s, dir, "documents")),
      OracleSql.sourceRankStability(newPct = 50,
        minTokens = 15, maxTokens = 100000, minMeanTokLen = 4.0,
        maxMeanTokLen = 12.0, maxTopTokRatio = 0.2, minStopwords = 2,
        idCol = "doc_id")),

    // Exact-dedup storage savings per source: reclaimable docs/bytes.
    Query("q194_dedup_savings", (s, dir) =>
      Dedup.dedupSavingsBySource(t(s, dir, "documents")),
      OracleSql.dedupSavingsBySource(idCol = "doc_id")),

    // Duplicated-n-gram coverage per language: sub-document duplication
    // intensity as one row per lang.
    Query("q195_ngram_coverage", (s, dir) =>
      Dedup.duplicateNgramCoverage(t(s, dir, "documents")),
      OracleSql.duplicateNgramCoverage(n = 3,
        minDf = 2, groupCol = "lang", idCol = "doc_id")),

    // User lifecycle stages (new / active / churned) at a reference
    // instant, integer epoch arithmetic.
    Query("q196_lifecycle", (s, dir) =>
      EventAnalytics.lifecycleStages(Tables.loadEvents(s, dir),
        reference = "2024-01-28 00:00:00"),
      OracleSql.lifecycleStages(
        reference = "2024-01-28 00:00:00", windowDays = 7)),

    // Distinctive vocabulary per source: top-k tokens by integer-exact
    // scaled lift — domain profiling.
    Query("q197_distinctive_vocab", (s, dir) =>
      TextAnalysis.distinctiveVocab(t(s, dir, "documents")),
      OracleSql.distinctiveVocab(k = 5,
        minCount = 5, sourceCol = "source")),

    // Near-dup transitivity audit: open wedges missing their closing
    // edge — the pairwise-vs-clustering judgment input.
    Query("q198_transitivity", (s, dir) =>
      Dedup.transitivityAudit(
        Artifacts.jaccardPairs(s, dir)),
      OracleSql.transitivityAudit(threshold = 0.6,
        maxDocFreq = 10000)),

    // Int8 reconstruction-error audit per vector (trusts q59's codes).
    Query("q199_quantization_error", (s, dir) =>
      SimilaritySearch.quantizationErrorReport(t(s, dir, "embeddings")),
      OracleSql.quantizationErrorReport(dim = 64)),

    // k-core of the near-dup graph: synchronous peeling to the subgraph
    // where every member keeps >= k within-core neighbors — separates
    // interlinked clone clusters from weakly-attached pendant edges.
    Query("q200_kcore", (s, dir) =>
      GraphOps.kCore(Artifacts.jaccardPairs(s, dir), k = 2, rounds = 3),
      OracleSql.kCore(k = 2, rounds = 3, threshold = 0.6,
        maxDocFreq = 10000)),

    // Cluster-purity audit: per multi-member near-dup cluster, distinct
    // langs/sources among members — a cluster spanning languages is a
    // mislabeling smoking gun; spanning sources is a mirror signature.
    Query("q201_cluster_purity", (s, dir) =>
      Dedup.clusterPurity(t(s, dir, "documents"),
        Artifacts.jaccardPairs(s, dir)),
      OracleSql.clusterPurity(threshold = 0.6,
        maxDocFreq = 10000)),

    // Degree distribution of the near-dup graph in power-of-two bands —
    // the bounded-size hub-shape report (fat top band = boilerplate
    // magnets).
    Query("q202_degree_bands", (s, dir) =>
      GraphOps.degreeBands(Artifacts.jaccardPairs(s, dir)),
      OracleSql.degreeBands(threshold = 0.6,
        maxDocFreq = 10000)),

    // Benford first-digit forensic screen on order totals: observed vs
    // the literal log-law per-mille table — fabricated/synthetic
    // magnitudes (like this fixture's uniform prices) light up.
    Query("q203_benford", (s, dir) =>
      Profiler.benfordAudit(t(s, dir, "orders"), "o_totalprice"),
      OracleSql.benfordAudit("orders", "o_totalprice")),

    // Candidate-key audit: declared combos checked for tuple
    // uniqueness — the fixture's (l_orderkey, l_linenumber) is a trap
    // (TPC-H proper keys it; this synthetic table doesn't).
    Query("q204_candidate_keys", (s, dir) =>
      Profiler.candidateKeyAudit(t(s, dir, "lineitem"), Seq(
        Seq("l_orderkey"),
        Seq("l_orderkey", "l_linenumber"),
        Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"))),
      OracleSql.candidateKeyAudit("lineitem", Seq(
        Seq("l_orderkey"),
        Seq("l_orderkey", "l_linenumber"),
        Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")))),

    // Functional-dependency audit on orders: the unique-key rule holds,
    // the key->priority rule is violated — both verdict branches fire.
    Query("q205_fd_audit", (s, dir) =>
      Profiler.functionalDependencyAudit(t(s, dir, "orders"), Seq(
        "o_orderkey" -> "o_custkey",
        "o_custkey" -> "o_orderpriority")),
      OracleSql.functionalDependencyAudit("orders", Seq(
        "o_orderkey" -> "o_custkey",
        "o_custkey" -> "o_orderpriority"))),

    // Lorenz concentration checkpoints over the event stream: the exact
    // activity share of the top 1/5/10/25/50% of users — the curve
    // behind q181's Gini scalar.
    Query("q206_concentration_curve", (s, dir) =>
      Profiler.concentrationCurve(t(s, dir, "events"), "user_id"),
      OracleSql.concentrationCurve(
        "events", "user_id", Seq(1, 5, 10, 25, 50))),

    // Daily ingest-volume anomaly heartbeat: days beyond 3x the MAD of
    // all daily counts — partial-delivery / double-delivery detection,
    // self-calibrated (q159's machinery at corpus level).
    Query("q207_daily_anomalies", (s, dir) =>
      EventAnalytics.dailyVolumeAnomalies(Tables.loadEvents(s, dir)),
      OracleSql.dailyVolumeAnomalies(k = 3)),

    // Event-type audience overlap: per type pair, shared entities and
    // audience Jaccard — the adoption cross-map, inverted-index shaped.
    Query("q208_type_overlap", (s, dir) =>
      EventAnalytics.typeAudienceOverlap(Tables.loadEvents(s, dir)),
      OracleSql.typeAudienceOverlap),

    // Activation lag by first-week cohort: who came back, and the
    // rank-exact median time to the second event.
    Query("q209_activation_lag", (s, dir) =>
      EventAnalytics.activationLag(Tables.loadEvents(s, dir)),
      OracleSql.activationLag),

    // DAU / trailing-7-day WAU stickiness per active day — the
    // engagement-frequency dial, computed with a forward fan-out
    // explode instead of a range self-join.
    Query("q210_dau_stickiness", (s, dir) =>
      EventAnalytics.dauStickiness(Tables.loadEvents(s, dir)),
      OracleSql.dauStickiness),

    // Semi-structured payload profiling: the props JSON field per event
    // type — the exploration step before promoting hot fields to
    // columns.
    Query("q211_props_stats", (s, dir) =>
      EventAnalytics.propsFieldStats(Tables.loadEvents(s, dir)),
      OracleSql.propsFieldStats("$.k")),

    // Shared-prefix duplicate groups: identical first-12-token openings
    // — template intros and form letters, caught by a plain group-by
    // (no pair join at all).
    Query("q212_prefix_dup", (s, dir) =>
      Dedup.prefixDupGroups(t(s, dir, "documents")),
      OracleSql.prefixDupGroups(k = 12)),

    // Exact-duplicate embedding groups over a micro-quantized content
    // key; the fixture has no natural bit-identical vectors, so a
    // hash-sampled re-id'd copy is injected INSIDE the query (q53
    // pattern) — the dup branch actually fires under the oracle.
    Query("q213_vector_dup", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val injected = e.filter(Sampling.bucket(col("vec_id")) < 10)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      SimilaritySearch.exactDupVectors(
        e.select("vec_id", "embedding").unionByName(injected))
    }, OracleSql.exactDupVectors(injectPct = 10,
      idOffset = 1000000L)),

    // Pairwise-cosine histogram over a 20% content-addressed sample —
    // the threshold-calibration curve read before any semantic dedup
    // (the embedding face of q113's Jaccard sweep).
    Query("q214_distance_histogram", (s, dir) =>
      SimilaritySearch.pairDistanceHistogram(t(s, dir, "embeddings")),
      OracleSql.pairDistanceHistogram(
        samplePct = 20, dim = 64)),

    // FORWARD as-of: each error event's next user action within 30
    // minutes (earliest-first pick) — the error-recovery forensic,
    // pandas merge_asof direction='forward'.
    Query("q215_error_recovery", (s, dir) => {
      val e = Tables.loadEvents(s, dir)
      AsOfJoin(
        e.filter(col("event_type") === "error")
          .select("event_id", "ts", "user_id"),
        e.filter(col("event_type").isin("click", "view", "purchase",
            "signup"))
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type")),
        leftKey = "user_id", rightKey = "user_id",
        leftTime = "ts", rightTime = "ts",
        leftId = "event_id",
        rightCols = Seq("event_id" -> "next_id",
          "event_type" -> "next_type", "ts" -> "next_ts"),
        tieBreakCols = Seq("event_id"),
        maxStalenessMinutes = Some(30L),
        forward = true)
    }, OracleSql.errorRecovery(
      maxStalenessMinutes = 30L)),

    // Per-dimension embedding audit: dead dimensions and scale drift,
    // micro-exact mean/variance per coordinate — 64 rows out.
    Query("q216_dimension_audit", (s, dir) =>
      SimilaritySearch.dimensionAudit(t(s, dir, "embeddings")),
      OracleSql.dimensionAudit(dim = 64)),

    // Group-level holdout: whole SOURCES held out together (the
    // generalize-to-unseen-sources split; per-row splits let every
    // test source be seen in training).
    Query("q217_group_holdout", (s, dir) =>
      Sampling.groupHoldout(t(s, dir, "documents"), "source",
        testPct = 30),
      OracleSql.groupHoldout("source", testPct = 30)),

    // String-length profile of the documents table — the encoding
    // sanity sheet (a lang column holding full texts, an empty text
    // column from a dead extractor).
    Query("q218_string_lengths", (s, dir) =>
      Profiler.stringLengthProfile(t(s, dir, "documents"),
        Seq("text", "lang", "source")),
      OracleSql.stringLengthProfile("documents",
        Seq("text", "lang", "source"))),

    // Markup-density audit with tags injected on a hash-sampled slice
    // (the fixture has no markup) — extraction-debris detection.
    Query("q219_markup_density", (s, dir) => {
      val d = t(s, dir, "documents")
      TextAnalysis.markupDensity(d.withColumn("text",
        when(Sampling.bucket(col("doc_id")) < 15,
          concat(lit("<div><p>"), col("text"), lit("</p></div>")))
          .otherwise(col("text"))))
    }, OracleSql.markupDensity(injectPct = 15,
      maxPerMille = 100)),

    // Sentence-shape profile per language, with a multi-sentence
    // suffix injected on a slice so the split actually fires.
    Query("q220_sentence_stats", (s, dir) => {
      val d = t(s, dir, "documents")
      TextAnalysis.sentenceStats(d.withColumn("text",
        when(Sampling.bucket(col("doc_id")) < 25,
          concat(col("text"), lit(SentenceSuffix))).otherwise(col("text"))))
    }, OracleSql.sentenceStats(injectPct = 25,
      suffix = SentenceSuffix)),

    // Neighborhood label purity over the q58 LSH kNN graph — the
    // label-noise / encoder-quality probe (low-purity vectors are
    // mislabeled rows or encoder failures).
    Query("q221_knn_purity", (s, dir) =>
      SimilaritySearch.neighborhoodPurity(t(s, dir, "embeddings"),
        knnGraph = Some(Artifacts.knnGraphLsh(s, dir))),
      OracleSql.neighborhoodPurity(k = 5, dim = 64,
        nPlanes = 4, nTables = 8)),

    // IVF cell-occupancy balance — the ANN index capacity audit read
    // before fixing nlist/nprobe (hot cells turn probes into scans).
    Query("q222_ivf_balance", (s, dir) =>
      SimilaritySearch.ivfCellBalance(t(s, dir, "embeddings")),
      OracleSql.ivfCellBalance(dim = 64, nlist = 16)),

    // Dataset card of the DEDUP'D corpus (q51's output) — the card a
    // cleaned release actually ships; oracle reuses the q51 corpus CTE
    // verbatim so the composition cannot drift from its parts.
    Query("q223_dedup_card", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Artifacts.lshPairs(s, dir)
      val reps = ConnectedComponents(pairs,
          vertices = Some(docs.select("doc_id")))
        .filter(col("id") === col("component"))
        .select(col("id").as("__rep"))
      Profiler.datasetCard(
        docs.join(broadcast(reps), docs("doc_id") === col("__rep"),
          "left_semi"))
    }, OracleSql.dedupDatasetCard(threshold = 0.6,
      maxDocFreq = 10000, groupCol = "lang", sourceCol = "source")),

    // Zipf rank-frequency checkpoints: rank x freq at literal ranks —
    // the corpus-linguistics sanity probe (this synthetic fixture
    // visibly bends the curve, which is the point).
    Query("q224_zipf", (s, dir) =>
      TextAnalysis.zipfCheckpoints(t(s, dir, "documents")),
      OracleSql.zipfCheckpoints(Seq(1, 2, 4, 8, 16))),

    // Quantile-sketch MERGE behind the gate (q70's fleet-composability
    // proof for quantiles): two disjoint halves sketched independently,
    // bucket counts folded by SUM, quantiles from the merged state ==
    // the whole-corpus sketch the oracle computes.
    Query("q225_quantile_merge", (s, dir) => {
      val d = t(s, dir, "documents")
      val a = Sketches.bucketCounts(
        d.filter(Sampling.bucket(col("doc_id")) < 50), Seq("lang"), "n_chars")
      val b = Sketches.bucketCounts(
        d.filter(Sampling.bucket(col("doc_id")) >= 50), Seq("lang"), "n_chars")
      Sketches.quantilesFromBucketCounts(
        Sketches.mergeBucketCounts(a, b, Seq("lang")), Seq("lang"))
    },
      // merge == whole-corpus build, so the construction oracles serve
      OracleSql.histogramQuantiles(Seq(50, 90, 99))),

    // Bloom-filter MERGE behind the gate: halves OR-folded == the
    // filter built over the whole corpus (bits only accumulate).
    Query("q226_bloom_merge", (s, dir) => {
      val d = t(s, dir, "documents")
      Sketches.mergeBloomWords(
        Sketches.bloomWords(
          d.filter(Sampling.bucket(col("doc_id")) < 50), "text"),
        Sketches.bloomWords(
          d.filter(Sampling.bucket(col("doc_id")) >= 50), "text"))
    }, OracleSql.bloomWords(
      evalPct = 100, mBits = 1 << 16, k = 5, idCol = "doc_id")),

    // CMS grid MERGE behind the gate: halves cell-summed == the grid
    // over all token occurrences.
    Query("q227_cms_merge", (s, dir) => {
      val occ = t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      Sketches.mergeCmsTables(
        Sketches.cmsTable(
          occ.filter(Sampling.bucket(col("doc_id")) < 50), "token"),
        Sketches.cmsTable(
          occ.filter(Sampling.bucket(col("doc_id")) >= 50), "token"))
    }, OracleSql.cmsGrid(width = 1024, depth = 4)),

    // Split feature parity: train-vs-test distribution of doc length
    // and token count — the split-bias audit every eval number
    // downstream inherits.
    Query("q228_split_parity", (s, dir) => {
      val d = Sampling.trainTestSplit(t(s, dir, "documents"), testPct = 20)
        .withColumn("n_tokens",
          size(split(col("text"), " ")).cast("long"))
      Profiler.featureParity(
        d.select(col("split"), col("n_chars"), col("n_tokens")),
        "split", Seq("n_chars", "n_tokens"))
    }, OracleSql.splitFeatureParity(testPct = 20,
      idCol = "doc_id")),

    // Diurnal periodicity: exact Pearson autocorrelation of hourly
    // event counts at lag 24 — schedule maintenance and rate limits
    // by hour iff this is high.
    Query("q229_hourly_autocorr", (s, dir) =>
      EventAnalytics.hourlyAutocorrelation(Tables.loadEvents(s, dir)),
      OracleSql.hourlyAutocorrelation(lagHours = 24)),

    // Per-entity Fano factor over active hours: ~1 Poisson-like, >1
    // bursty (bots, retry storms), <1 metronomic (schedulers).
    Query("q230_fano_burstiness", (s, dir) =>
      EventAnalytics.fanoBurstiness(Tables.loadEvents(s, dir)),
      OracleSql.fanoBurstiness),

    // Top-k most frequent values per column — the "common values"
    // profiling pane, rank-deterministic for version diffing.
    Query("q231_top_values", (s, dir) =>
      Profiler.topValuesProfile(t(s, dir, "orders"),
        Seq("o_orderstatus", "o_orderpriority")),
      OracleSql.topValuesProfile("orders",
        Seq("o_orderstatus", "o_orderpriority"), k = 5)),

    // Score-vs-quality-gate calibration: q63 keep rate per exact q83
    // score value — does the cheap linear score rank what the full
    // rule battery accepts? (the model-calibration curve)
    Query("q232_score_calibration", (s, dir) => {
      val d = t(s, dir, "documents")
      TextAnalysis.linearScore(d).select(col("doc_id"), col("score"))
        .join(TextAnalysis.qualityFilter(d).select(col("doc_id"), col("keep")),
          Seq("doc_id"))
        .groupBy(col("score"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"))
        .withColumn("keep_per_mille", expr("(n_keep * 1000) div n_docs"))
    }, OracleSql.scoreCalibration(wTok = 2,
      wStop = 5, wDigit = -3, wUpper = -1, threshold = 120,
      minTokens = 15, maxTokens = 100000, minMeanTokLen = 4.0,
      maxMeanTokLen = 12.0, maxTopTokRatio = 0.2, minStopwords = 2,
      idCol = "doc_id")),

    // Signature-size sensitivity: MinHash estimator error at 32/64/128
    // prefix positions of one signature — what 4x less store memory
    // costs in accuracy on THIS corpus.
    Query("q233_signature_sizing", (s, dir) =>
      Dedup.signatureSizeSensitivity(t(s, dir, "documents")),
      OracleSql.signatureSizeSensitivity(
        ks = Seq(32, 64, 128), k = 128, bands = 32, idCol = "doc_id")),

    // kNN hubness: reverse-graph in-degree bands with antihubs at band
    // 0 — the high-dimensional retrieval pathology check.
    Query("q234_knn_hubness", (s, dir) =>
      SimilaritySearch.knnHubness(t(s, dir, "embeddings"),
        knnGraph = Some(Artifacts.knnGraphLsh(s, dir))),
      OracleSql.knnHubness(k = 5, dim = 64,
        nPlanes = 4, nTables = 8)),

    // Session conversion by day: per-SESSION purchase rate (the funnel
    // denominator done right); session_window semantics, streaming-
    // capable.
    Query("q235_session_conversion", (s, dir) =>
      EventAnalytics.sessionConversion(Tables.loadEvents(s, dir)),
      OracleSql.sessionConversion(
        convertType = "purchase", gapMinutes = 30)),

    // LSH band-tuning sweep: candidate counts at 16x8 / 32x4 / 64x2
    // bandings of the SAME signature — pricing each S-curve operating
    // point in verification work before committing a 100 TB run.
    Query("q253_band_tuning", (s, dir) =>
      Dedup.bandTuningSweep(t(s, dir, "documents")),
      OracleSql.bandTuningSweep(
        configs = Seq((16, 8), (32, 4), (64, 2)), k = 128, idCol = "doc_id")),

    // Tracking-param incidence per registered domain — the
    // pre-normalization audit predicting per-domain URL-dedup
    // collapse; flags wholly campaign-tagged feeds.
    Query("q254_tracking_profile", (s, dir) =>
      UrlOps.trackingParamProfile(
        t(s, dir, "documents")
          .select(UrlOps.syntheticUrl(col("doc_id")).as("url"))),
      OracleSql.trackingParamProfile(
        idCol = "doc_id")),

    // Windowed Bloom word table (q255): the continuous-exporter
    // membership sketch, per hour window — the BATCH twin of the
    // watermarked streaming operator (stream == batch is spec-pinned
    // in StreamingOpsSpec, so the gate covers the streaming output
    // transitively, the q225-q227 pattern applied to windows).
    Query("q255_windowed_bloom", (s, dir) =>
      StreamingOps.windowedBloom(Tables.loadEvents(s, dir), "props"),
      OracleSql.windowedBloom(mBits = 1 << 16, k = 5)),

    // Windowed CMS occurrence grid (q256): per-window hot-key sketch,
    // state bounded at depth x width cells per window.
    Query("q256_windowed_cms", (s, dir) =>
      StreamingOps.windowedCms(Tables.loadEvents(s, dir), "props"),
      OracleSql.windowedCms(width = 1024, depth = 4)),

    // Windowed shard manifest (q257): per-(window, shard) row count +
    // XOR content checksum — the integrity artifact a continuous
    // exporter publishes per window, final at watermark close.
    Query("q257_windowed_manifest", (s, dir) =>
      StreamingOps.windowedManifest(Tables.loadEvents(s, dir),
        contentHash = Sketches.hash60(col("props"))),
      OracleSql.windowedManifest(nShards = 8)),

    // BM25 top-k retrieval (q258): integer-exact scoring (floor-log2
    // idf + micro-exact tf saturation — no float in the rank). On this
    // corpus "spark"/"merge" sit in >half the docs and take the
    // stop-term cut; "dup" carries the signal — the operator
    // demonstrating its own idf economics.
    Query("q258_bm25_topk", (s, dir) =>
      TextAnalysis.bm25TopK(t(s, dir, "documents"),
        Seq("dup", "spark", "merge"), k = 20),
      OracleSql.bm25TopK(
        Seq("dup", "spark", "merge"), k = 20, idCol = "doc_id")),

    // BM25 retrieval-based decontamination (q259): the ranked-retrieval
    // member of the decon family (exact q33 / fuzzy q39 / Bloom q44) —
    // catches topically-reworded eval leakage n-gram overlap misses.
    Query("q259_bm25_decontaminate", (s, dir) =>
      TextAnalysis.bm25Decontaminate(t(s, dir, "documents"),
        Seq("dup", "spark", "merge"), minScoreMicro = 4500000L),
      OracleSql.bm25Decontaminate(
        Seq("dup", "spark", "merge"), minScoreMicro = 4500000L,
        idCol = "doc_id")),

    // Batch BM25 (q260): top-k retrieval for a whole TABLE of queries
    // in ONE corpus pass — the shape eval-suite decontamination runs
    // at 100 TB (thousands of benchmark queries; per-query passes
    // would rescan the corpus once per query). Term stats computed
    // once per distinct term across ALL queries, fanned out by a
    // broadcast membership join; per-query top-k via WindowGroupLimit.
    // Two needle terms are injected (q53/q251 pattern) because the
    // synthetic corpus has exactly one naturally-rare token ("dup"):
    // queries 1/2 share "needle"'s stats, query 2's "spark" and ALL of
    // query 4's terms take the stop-term cut (query 4 emits no rows by
    // contract), query 3 ranks on the natural rare term.
    Query("q260_bm25_batch", (s, dir) => {
      import s.implicits._
      val injected = t(s, dir, "documents").select(col("doc_id"),
        when(pmod(col("doc_id"), lit(37L)) === 0L,
          concat(col("text"), lit(" needle alpha")))
          .when(pmod(col("doc_id"), lit(41L)) === 0L,
            concat(col("text"), lit(" needle")))
          .otherwise(col("text")).as("text"))
      val qs = Seq((1L, "needle"), (1L, "alpha"), (2L, "needle"),
        (2L, "spark"), (3L, "dup"), (4L, "merge"), (4L, "batch"))
        .toDF("query_id", "term")
      TextAnalysis.bm25TopKBatch(injected, qs, k = 10)
    }, OracleSql.bm25TopKBatch(
      Seq((1L, "needle"), (1L, "alpha"), (2L, "needle"), (2L, "spark"),
        (3L, "dup"), (4L, "merge"), (4L, "batch")),
      k = 10, idCol = "doc_id")),

    // REAL image decode (q261): per-doc PNG fixtures with id-derived
    // dimensions are synthesized (pure-JDK ImageIO encoder) and decoded
    // back through Multimodal.ImageIoCodec — the reported width/height
    // are TRUE pixel dims read from the PNG bytes, so the oracle (which
    // knows the dims only from the id arithmetic) proves the decode is
    // real, ending the stub-only era for images. Encode + decode both
    // run partition-local; audio/video stay on the stub codec.
    Query("q261_png_decode", (s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents").select(col("doc_id"))
        .as[Long].map { id =>
          Multimodal.MediaRecord(id, "image",
            Multimodal.synthesizePng(1 + (id % 13).toInt,
              1 + (id % 7).toInt, id))
        }.toDF()
      Multimodal.decodeMeta(media, Multimodal.ImageIoCodec)
        .select(col("media_id"), col("media_type"), col("width"),
          col("height"), col("n_frames"))
    },
      // The oracle knows width/height ONLY from the id arithmetic the
      // fixture was synthesized with; the engine reports what ImageIO
      // actually read out of the PNG bytes — a match proves a real decode.
      """SELECT doc_id AS media_id, 'image' AS media_type,
        |  CAST(1 + doc_id % 13 AS INTEGER) AS width,
        |  CAST(1 + doc_id % 7 AS INTEGER) AS height,
        |  CAST(1 AS INTEGER) AS n_frames
        |FROM documents""".stripMargin),

    // REAL audio decode (q270): the q261 pattern for WAV — per-doc PCM
    // fixtures with id-derived sample rate / channels / frame count are
    // synthesized (pure-JDK javax.sound encoder) and decoded back
    // through Multimodal.AudioWavCodec; the reported fields are TRUE
    // header facts read from the bytes, so the oracle (which knows the
    // parameters only from the id arithmetic) proves a real decode.
    // Video remains the one honestly-stubbed modality (no container
    // bindings in the JDK).
    Query("q270_wav_decode", (s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents").select(col("doc_id"))
        .as[Long].map { id =>
          Multimodal.MediaRecord(id, "audio",
            Multimodal.synthesizeWav(8000 + (id % 5).toInt * 4000,
              1 + (id % 2).toInt, 50 + (id % 97).toInt, id))
        }.toDF()
      Multimodal.decodeMeta(media, Multimodal.AudioWavCodec)
        .select(col("media_id"), col("media_type"),
          col("width").as("sample_rate"), col("height").as("channels"),
          col("n_frames"))
    },
      // Same proof shape as q261: the oracle replays only the fixture's
      // id arithmetic; the engine reports what javax.sound actually read
      // out of the WAV header — a match proves a real decode.
      """SELECT doc_id AS media_id, 'audio' AS media_type,
        |  CAST(8000 + (doc_id % 5) * 4000 AS INTEGER) AS sample_rate,
        |  CAST(1 + doc_id % 2 AS INTEGER) AS channels,
        |  CAST(50 + doc_id % 97 AS INTEGER) AS n_frames
        |FROM documents""".stripMargin),

    // REAL pixel-data features (q271): one step past q261's header
    // proof — per-channel pixel SUMS from actually-decoded PNG pixels
    // (correct dims could come from a header peek; matching channel
    // sums require decoding every pixel). The fixture's pixels are
    // id-derived integers, so the oracle replays the whole image in
    // SQL without ever seeing the bytes.
    Query("q271_image_pixel_stats", (s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents").select(col("doc_id"))
        .as[Long].map { id =>
          Multimodal.MediaRecord(id, "image",
            Multimodal.synthesizePng(1 + (id % 13).toInt,
              1 + (id % 7).toInt, id))
        }.toDF()
      Multimodal.imagePixelStats(media).toDF()
    },
      // The oracle reconstructs every pixel from the id arithmetic the
      // fixture was synthesized with ((id*31 + 7x + 13y) & 0xFFFFFF) and
      // sums the channel bytes; the engine sums what ImageIO actually
      // decoded — a match proves the pixel DATA round-trips, not just
      // the header.
      """WITH px AS (
        |  SELECT doc_id,
        |    CAST(1 + doc_id % 13 AS INTEGER) AS w,
        |    CAST(1 + doc_id % 7 AS INTEGER) AS h,
        |    unnest(range(0, 1 + doc_id % 13)) AS x
        |  FROM documents),
        |pxy AS (SELECT doc_id, w, h, x,
        |          unnest(range(0, CAST(h AS BIGINT))) AS y FROM px),
        |v AS (SELECT doc_id, w, h,
        |        ((doc_id * 31 + x * 7 + y * 13) & 16777215) AS v FROM pxy)
        |SELECT doc_id AS media_id, w AS width, h AS height,
        |  CAST(sum((v >> 16) & 255) AS BIGINT) AS sum_r,
        |  CAST(sum((v >> 8) & 255) AS BIGINT) AS sum_g,
        |  CAST(sum(v & 255) AS BIGINT) AS sum_b
        |FROM v GROUP BY 1, 2, 3""".stripMargin),

    // REAL PCM-data features (q272): q271's pixel-sum proof applied to
    // audio — exact sample sum/min/max from the actually-decoded PCM
    // stream (the header fields alone would pass q270 from a 44-byte
    // peek). Sample i of the fixture is (id*31 + i*7) % 65536 - 32768,
    // so the oracle replays the whole waveform arithmetically.
    Query("q272_audio_sample_stats", (s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents").select(col("doc_id"))
        .as[Long].map { id =>
          Multimodal.MediaRecord(id, "audio",
            Multimodal.synthesizeWav(8000 + (id % 5).toInt * 4000,
              1 + (id % 2).toInt, 50 + (id % 97).toInt, id))
        }.toDF()
      Multimodal.audioSampleStats(media).toDF()
    },
      // The oracle reconstructs every 16-bit sample from the synthesis
      // arithmetic and aggregates; the engine aggregates what javax.sound
      // actually decoded — a match proves the PCM DATA round-trips.
      """WITH s AS (
        |  SELECT doc_id,
        |    CAST(8000 + (doc_id % 5) * 4000 AS INTEGER) AS sample_rate,
        |    CAST(1 + doc_id % 2 AS INTEGER) AS channels,
        |    CAST(50 + doc_id % 97 AS INTEGER) AS n_frames,
        |    unnest(range(0, (50 + doc_id % 97) * (1 + doc_id % 2))) AS i
        |  FROM documents),
        |v AS (SELECT doc_id, sample_rate, channels, n_frames,
        |        (doc_id * 31 + i * 7) % 65536 - 32768 AS v FROM s)
        |SELECT doc_id AS media_id, sample_rate, channels, n_frames,
        |  CAST(sum(v) AS BIGINT) AS sum_samples,
        |  CAST(min(v) AS INTEGER) AS min_sample,
        |  CAST(max(v) AS INTEGER) AS max_sample
        |FROM v GROUP BY 1, 2, 3, 4""".stripMargin),

    // REAL video container decode (q274): the q261/q270 pattern for
    // AVI — per-doc RIFF/AVI fixtures with id-derived dims/frame-count
    // are synthesized (pure-JDK byte writer; width keeps DIB rows
    // 4-byte aligned) and decoded back through Multimodal.VideoRiffCodec,
    // a generic RIFF chunk-tree walk (the JDK has no video LIBRARY, but
    // the CONTAINER is ~50 lines of fourCC parsing). The reported
    // fields are TRUE avih facts read from the bytes — the oracle knows
    // them only from the id arithmetic. Retires the last stubbed
    // modality.
    Query("q274_avi_decode", (s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents").select(col("doc_id"))
        .as[Long].map { id =>
          Multimodal.MediaRecord(id, "video",
            Multimodal.synthesizeAvi(4 + 4 * (id % 3).toInt,
              2 + (id % 6).toInt, 1 + (id % 13).toInt, id))
        }.toDF()
      Multimodal.decodeMeta(media, Multimodal.VideoRiffCodec)
        .select(col("media_id"), col("media_type"), col("width"),
          col("height"), col("n_frames"))
    },
      // The oracle knows dims/frame count only from the id arithmetic;
      // the engine reads them from avih bytes — a match proves a real
      // container parse.
      """SELECT doc_id AS media_id, 'video' AS media_type,
        |  CAST(4 + 4 * (doc_id % 3) AS INTEGER) AS width,
        |  CAST(2 + doc_id % 6 AS INTEGER) AS height,
        |  CAST(1 + doc_id % 13 AS INTEGER) AS n_frames
        |FROM documents""".stripMargin),

    // REAL frame-data features (q275): q271/q272's data proof applied
    // to video — per-frame byte sums read from the movi 00db chunks
    // (the avih header alone would pass q274 from a 32-byte peek;
    // matching per-frame sums require walking every frame chunk).
    // Frame byte i of frame f is (id*31 + f*7 + i*13) % 251, so the
    // oracle replays every frame arithmetically.
    Query("q275_video_frame_stats", (s, dir) => {
      import s.implicits._
      val media = t(s, dir, "documents").select(col("doc_id"))
        .as[Long].map { id =>
          Multimodal.MediaRecord(id, "video",
            Multimodal.synthesizeAvi(4 + 4 * (id % 3).toInt,
              2 + (id % 6).toInt, 1 + (id % 13).toInt, id))
        }.toDF()
      Multimodal.videoFrameStats(media).toDF()
    },
      // The oracle reconstructs every frame byte from the synthesis
      // arithmetic; the engine sums what the RIFF movi walk actually
      // read — a match proves the frame DATA round-trips.
      """WITH g AS (
        |  SELECT doc_id,
        |    (4 + 4 * (doc_id % 3)) * (2 + doc_id % 6) * 3 AS fb,
        |    unnest(range(0, 1 + doc_id % 13)) AS f
        |  FROM documents),
        |b AS (SELECT doc_id, fb, f,
        |        unnest(range(0, fb)) AS i FROM g)
        |SELECT doc_id AS media_id, CAST(f AS INTEGER) AS frame_id,
        |  CAST(fb AS INTEGER) AS frame_bytes,
        |  CAST(sum((doc_id * 31 + f * 7 + i * 13) % 251) AS BIGINT)
        |    AS sum_bytes
        |FROM b GROUP BY 1, 2, 3""".stripMargin),

    // Stream-static enrich batch twin (q273): StreamingOps.enrich —
    // the classic stream-static broadcast lookup join, the streaming
    // face of the reference's ONE operator — run on the batch events
    // frame against the customer dimension (events.user_id →
    // c_custkey, E1/E4/E8 semantics per micro-batch). The last
    // spec-only streaming parity, now oracle-gated (sessionization's
    // batch twin has been q23 since round 2).
    Query("q273_stream_enrich", (s, dir) =>
      StreamingOps.enrich(Tables.loadEvents(s, dir), "events",
        t(s, dir, "customer"),
        LookupConfig("customer", "user_id", "c_custkey", "c_mktsegment",
          outputField = Some("segment"))),
      OracleSql.streamEnrich),

    // Bipartite LSH hard negatives (q276) — q140's scale face, named by
    // the round-11 100× sweep: the exact batch join scores
    // |pos|×|neg| = 2 G dot products at 200 K vectors (20×/decade, the
    // worst runnable sweep row family) and now refuses there; this
    // buckets both sides under the SAME SRP index, width sized by the
    // measured cross-collision ladder (the q264/q265 rule applied to
    // the two-sided shape; budget = |queries| × maxCandidatesPerVec)
    // so per-query candidate work stays bounded at any scale without
    // the cap's true-near-dup eviction. At sf0.01 the auto sizing
    // resolves to the q58 (4, 8) config with the cap off, so the
    // fixed-width oracle replays the delegation exactly (the q264 rule).
    Query("q276_hard_negatives_lsh", (s, dir) => {
      val e = t(s, dir, "embeddings")
      SimilaritySearch.knnJoinLshBipartiteAuto(e.filter(col("label") >= 5),
        e.filter(col("label") === 0), k = 3)
    }, OracleSql.bipartiteKnnLsh(k = 3,
      dim = 64, nPlanes = 4, nTables = 8,
      posPred = "label = 0", negPred = "label >= 5")),

    // Streaming-CDC batch twin (q262): the three verdicts an unbounded
    // stream CAN observe (added/changed/unchanged — `removed` needs
    // absence, a batch-side anti-join at epoch close; documented
    // asymmetry) over the q104 fixture. Same operator object a
    // readStream frame would flow through — stream==batch parity now
    // behind the oracle gate, not just the spec.
    Query("q262_streaming_cdc", (s, dir) => {
      val d = t(s, dir, "documents")
      val snapshot = d.filter(Sampling.bucket(col("doc_id")) < 70)
      val arriving = d.filter(Sampling.bucket(col("doc_id")) >= 30)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" rev2")))
            .otherwise(col("text")).as("text"))
      StreamingOps.streamingCorpusDiff(arriving, snapshot)
    }, OracleSql.streamingCorpusDiff(oldMax = 70,
      newMin = 30, revEvery = 7, idCol = "doc_id")),

    // Auto-sized LSH kNN graph (q264): q58 with the index width chosen
    // from MEASURED bucket occupancy (knnGraphWidth — the q265 ladder;
    // round 15 replaced the count-sized width + bucketCap after the
    // 1000x recall probe measured the cap evicting true near-dups:
    // cosine>=0.9 band recall 0.42 capped vs 0.81 measured-uncapped).
    // The round-9 10× scale probe showed fixed nPlanes=4 going 25×
    // super-linear; the measured ladder is the structural fix, and a
    // corpus whose buckets stay dense at the 30-plane clamp falls back
    // to the capped trade (graph output is bounded by n×k). At the
    // sf0.01 correctness scale minPlanes binds, so the choice lands on
    // q58's exact (4, 8) config and the same oracle covers the
    // delegation; the width decision is spec-observable.
    Query("q264_knn_lsh_auto", (s, dir) =>
      SimilaritySearch.knnJoinLshAuto(t(s, dir, "embeddings"), k = 5),
      // at sf0.01's 200 vectors lshPlanesFor's minPlanes binds -> (4, 8),
      // q58's exact config; larger-corpus sizing is spec-pinned
      OracleSql.knnJoinLsh(k = 5, dim = 64, nPlanes = 4, nTables = 8)),

    // Auto-sized LSH near-dup pairs (q265): q41 with the index width
    // from the corpus count — at fixed nPlanes=4 candidate generation
    // is n²/16 per table (the round-9 100× probe point computes ~20 G
    // pairs; killed after 25 min). No bucketCap for pair ops (a dense
    // cluster's pair output is legitimately m²); the recall-vs-width
    // trade is the documented LSH contract. minPlanes binds at sf0.01
    // → q41's exact (4, 8) config, same-shape oracle.
    Query("q265_neardup_lsh_auto", (s, dir) =>
      SimilaritySearch.cosineNearDupPairsLshAuto(t(s, dir, "embeddings"),
        threshold = 0.4),
      // q265-q267: the same minPlanes delegation for the pair, store,
      // and single-query faces of the LSH family (q41/q103/q19 configs)
      OracleSql.embedNearDupLsh(
        threshold = 0.4, dim = 64, nPlanes = 4, nTables = 8)),

    // Auto-sized cross-corpus store check-in (q266): q103 with the
    // index width from the STORE side's count (the side that grows
    // with every ingest). minPlanes binds at sf0.01 → q103's exact
    // (4, 8) config, same-shape oracle.
    Query("q266_cross_corpus_auto", (s, dir) => {
      val e = t(s, dir, "embeddings")
      SimilaritySearch.crossCorpusNearDupLshAuto(
        e.filter(Sampling.bucket(col("vec_id")) < 50),
        e.filter(Sampling.bucket(col("vec_id")) >= 50), threshold = 0.4)
    }, OracleSql.crossCorpusEmbedLsh(newPct = 50,
      threshold = 0.4, dim = 64, nPlanes = 4, nTables = 8, idCol = "vec_id")),

    // Auto-sized single-query ANN (q267): q19 with the index width from
    // the corpus count — fixed nPlanes=4 makes every query touch
    // ~n/16 × nTables corpus rows, a disguised per-query scan at scale;
    // auto width keeps the candidate set ≈ targetBucket × nTables at
    // any corpus size. minPlanes binds at sf0.01 → q19's exact (4, 15)
    // config, same-shape oracle.
    Query("q267_ann_lsh_auto", (s, dir) => {
      val e = t(s, dir, "embeddings")
      SimilaritySearch.annTopKLshAuto(e, e.filter(col("vec_id") === 0), k = 10)
    }, OracleSql.annTopKLsh(queryId = 0, k = 10, dim = 64,
      nPlanes = 4, nTables = 15)),

    // Auto-sized semantic dedup (q268): q67's 16 literal centroids
    // (sqrt-n nlist rejected: a 142-centroid codegen'd greatest chain
    // measured 6x SLOWER than the join it shrinks) plus an SRP
    // sub-bucket inside cells whose expected occupancy exceeds the
    // target — the q264 width rule applied within the cell, keeping the
    // compare space ~n·target instead of n²/16. Dense near-dup
    // clusters share sign bits at any width, so dedup recall on true
    // clusters survives the split. Occupancy is under target at
    // sf0.01 -> zero sub-planes = q67's exact rule, same oracle.
    Query("q268_semantic_dedup_auto", (s, dir) =>
      SimilaritySearch.semanticDedupAuto(t(s, dir, "embeddings"),
        threshold = 0.4),
      // q268: occupancy 500/16 stays under the sub-split target at sf0.01
      // -> zero sub-planes = q67's exact rule and oracle
      OracleSql.semanticDedup(threshold = 0.4,
        dim = 64, nlist = 16)),

    // 64-bit SimHash near-dup pairs (q269) — the at-scale face of q16:
    // past ~10^5 docs the 32-bit hash both manufactures false pairs
    // (C(32,<=3)/2^32 = 1.3e-6 of all pairs — ~160 K at 500 K docs)
    // and exhausts its pigeonhole block entropy (18-bit keys at depth
    // 2: 230 M candidates, 92 s at the 100x probe). 64 bits push the
    // false-pair rate to ~2e-15 and give 16-bit blocks (2^28-key
    // depth 1 holds occupancy <= 4 past 10^9 docs). Low half == q16's
    // hash (same mixer), so pairs are a strict subset — spec-pinned.
    Query("q269_dedup_simhash64", (s, dir) =>
      Dedup.simhashPairs64(t(s, dir, "documents")),
      OracleSql.simhash64Pairs(maxHamming = 3)),

    // Streaming first-seen dedup batch twin (q263): the
    // flatMapGroupsWithState keep-first-per-content-key operator run on
    // a batch frame (Spark invokes the state function once per group —
    // state trivially absent, so the within-batch min-id pick decides
    // every key). The oracle is the declarative spelling of exactly
    // that contract: min(doc_id) per content hash.
    Query("q263_streaming_dedup", (s, dir) =>
      StreamingOps.streamingDedup(t(s, dir, "documents")
        .select(col("doc_id"), md5(col("text")).as("content_key"))),
      // min-id-per-content-hash IS the streaming keep-first contract on
      // one batch (state absent for every group).
      """SELECT CAST(min(doc_id) AS BIGINT) AS doc_id,
        |  md5(text) AS content_key
        |FROM documents GROUP BY md5(text)""".stripMargin),

    // Quality-rule co-failure matrix: which battery rules are
    // redundant on this corpus (near-1 overlap) vs catching disjoint
    // failure modes — the rule-economics audit for a gate that runs
    // on every document. Same injection as q63 so blacklist fires.
    Query("q251_rule_cofailure", (s, dir) => {
      val d = t(s, dir, "documents")
      val injected = d.select(col("doc_id"),
        when(Sampling.bucket(col("doc_id")) < 10,
          concat(col("text"), lit(" lorem ipsum dolor sit amet")))
          .otherwise(col("text")).as("text"))
      TextAnalysis.ruleCofailureMatrix(injected)
    }, OracleSql.ruleCofailureMatrix(
      injectPct = 10, injectSuffix = "lorem ipsum dolor sit amet",
      minTokens = 15, maxTokens = 100000, minMeanTokLen = 4.0,
      maxMeanTokLen = 12.0, maxTopTokRatio = 0.2, minStopwords = 2,
      idCol = "doc_id")),

    // Label-centroid confusability: pairwise cosine between per-label
    // centroids — the embedding-side confusion prior naming the
    // colliding class pairs.
    Query("q252_label_confusability", (s, dir) =>
      SimilaritySearch.labelCentroidMatrix(t(s, dir, "embeddings")),
      OracleSql.labelCentroidMatrix(dim = 64)),

    // One-row corpus executive summary: the numbers a data lead reads
    // first, each the headline of an independently-oracled report
    // (card, exact-dup count, near-dup pair count, quality pass rate)
    // — assembled here so the oracle proves the whole sheet at once.
    Query("q250_corpus_summary", (s, dir) => {
      val d = t(s, dir, "documents")
      val base = d.agg(count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"),
        sum(size(split(col("text"), " ")).cast("long")).as("total_tokens"))
      val dup = d.groupBy(md5(col("text")).as("__h"))
        .agg(count(lit(1)).as("__c"))
        .agg(sum(when(col("__c") >= 2, col("__c")).otherwise(0L))
          .as("n_exact_dup_docs"))
      val pairs = Artifacts.jaccardPairs(s, dir)
        .agg(count(lit(1)).as("n_near_dup_pairs"))
      val keep = TextAnalysis.qualityFilter(d)
        .agg(sum(when(col("keep"), 1L).otherwise(0L)).as("n_quality_keep"))
      base.crossJoin(dup).crossJoin(pairs).crossJoin(keep)
        .withColumn("keep_per_mille",
          expr("(n_quality_keep * 1000) div n_docs"))
    }, OracleSql.corpusSummary(threshold = 0.6,
      maxDocFreq = 10000, minTokens = 15, maxTokens = 100000,
      minMeanTokLen = 4.0, maxMeanTokLen = 12.0, maxTopTokRatio = 0.2,
      minStopwords = 2, idCol = "doc_id")),

    // Freshness SLA per stream: staleness vs a literal reference — the
    // "is yesterday's partition there" gate, per type so one stalled
    // producer can't hide.
    Query("q247_freshness", (s, dir) =>
      EventAnalytics.freshnessAudit(Tables.loadEvents(s, dir),
        reference = "2024-01-31 00:00:00"),
      OracleSql.freshnessAudit(
        reference = "2024-01-31 00:00:00", maxStalenessMinutes = 120L)),

    // Active-day regularity: days active vs inclusive span — habit
    // strength, the axis lifecycle verdicts flatten.
    Query("q248_active_days", (s, dir) =>
      EventAnalytics.activeDayRatio(Tables.loadEvents(s, dir)),
      OracleSql.activeDayRatio),

    // Weekly event-type mix drift: exact chi-square contribution per
    // (week, type) cell — which week's composition moved, and which
    // type moved it.
    Query("q249_mix_drift", (s, dir) =>
      EventAnalytics.weeklyMixDrift(Tables.loadEvents(s, dir)),
      OracleSql.weeklyMixDrift),

    // FIRST-touch attribution: the discovering touch, vs q129's
    // last-touch — run both; the delta is model sensitivity.
    Query("q245_first_touch", (s, dir) =>
      EventAnalytics.firstTouchAttribution(Tables.loadEvents(s, dir)),
      OracleSql.firstTouchAttribution(
        windowMinutes = 60L)),

    // Inter-event gap histogram in log2 second bands — the cadence
    // valley that tunes the session gap.
    Query("q246_gap_histogram", (s, dir) =>
      EventAnalytics.gapHistogram(Tables.loadEvents(s, dir)),
      OracleSql.gapHistogram),

    // Mass-weighted median doc size per language: half the BYTES live
    // in docs of at least this size — the storage statistic a row
    // median hides on heavy tails.
    Query("q243_mass_median", (s, dir) =>
      Profiler.massMedian(t(s, dir, "documents"), "lang", "n_chars",
        "doc_id"),
      OracleSql.massMedian("documents", "lang",
        "n_chars", "doc_id")),

    // Transition determinism per state: the top next-type share of
    // each from-type — scripted flows/bots score high, organic
    // exploration flat.
    Query("q244_transition_determinism", (s, dir) =>
      EventAnalytics.transitionDeterminism(Tables.loadEvents(s, dir)),
      OracleSql.transitionDeterminism),

    // Detector agreement: exact-Jaccard pairs vs SimHash pairs on the
    // same corpus — do the two methods even find the same duplicates?
    // Jaccard side reads the shared q14 pair-table artifact. SimHash
    // side is the 64-BIT face (q269) since round 11: the 32-bit face's
    // legacy-width guard rightly refused the 100× sweep's 500 K docs,
    // and the at-scale pipeline this audit belongs to runs 64-bit.
    Query("q241_method_agreement", (s, dir) =>
      Dedup.pairSetAgreement(
        Artifacts.jaccardPairs(s, dir),
        Dedup.simhashPairs64(t(s, dir, "documents"))
          .select("id_a", "id_b")),
      OracleSql.methodAgreement(threshold = 0.6,
        maxDocFreq = 10000, maxHamming = 3)),

    // Dedup impact on diversity: vocabulary and token mass before vs
    // after the q51 pass — dedup removes tokens, rarely vocabulary;
    // a big vocab drop means the removed docs carried unique content.
    Query("q242_dedup_vocab_impact", (s, dir) => {
      val d = t(s, dir, "documents")
      val reps = ConnectedComponents(Artifacts.lshPairs(s, dir),
          vertices = Some(d.select("doc_id")))
        .filter(col("id") === col("component"))
        .select(col("id").as("__rep"))
      val kept = d.join(broadcast(reps), d("doc_id") === col("__rep"),
        "left_semi")
      val full = d.select(explode(split(col("text"), " ")).as("tok"))
        .agg(countDistinct(col("tok")).as("vocab_full"),
          count(lit(1)).as("tokens_full"))
      val dd = kept.select(explode(split(col("text"), " ")).as("tok"))
        .agg(countDistinct(col("tok")).as("vocab_dedup"),
          count(lit(1)).as("tokens_dedup"))
      full.crossJoin(dd)
        .select(col("vocab_full"), col("vocab_dedup"), col("tokens_full"),
          col("tokens_dedup"),
          (col("vocab_dedup").cast("double") /
            col("vocab_full").cast("double")).as("vocab_ratio"),
          (col("tokens_dedup").cast("double") /
            col("tokens_full").cast("double")).as("token_ratio"))
    }, OracleSql.dedupVocabImpact(
      threshold = 0.6, maxDocFreq = 10000)),

    // Cluster cohesion: per near-dup cluster, edge density and the
    // weakest/mean edge similarity — clique-of-clones vs chained
    // cluster, the collapse-safety number next to q123's triangles.
    Query("q240_cluster_cohesion", (s, dir) =>
      Dedup.clusterCohesion(Artifacts.jaccardPairsWithSim(s, dir)),
      OracleSql.clusterCohesion(threshold = 0.6,
        maxDocFreq = 10000)),

    // NEAREST as-of: the closest user action in either direction within
    // 30 min of each error (pandas merge_asof direction='nearest',
    // backward-preferred ties) — completes the direction trio.
    Query("q237_error_nearest", (s, dir) => {
      val e = Tables.loadEvents(s, dir)
      AsOfJoin.nearest(
        e.filter(col("event_type") === "error")
          .select("event_id", "ts", "user_id"),
        e.filter(col("event_type").isin("click", "view"))
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type")),
        leftKey = "user_id", rightKey = "user_id",
        leftTime = "ts", rightTime = "ts",
        leftId = "event_id",
        rightCols = Seq("event_id" -> "near_id",
          "event_type" -> "near_type", "ts" -> "near_ts"),
        tieBreakCols = Seq("event_id"),
        toleranceMinutes = 30L)
    }, OracleSql.errorNearestAction(
      toleranceMinutes = 30L)),

    // Survivor-quality audit: what the min-id keep rule costs — per
    // near-dup cluster, the representative's score vs the true best.
    Query("q238_survivor_quality", (s, dir) =>
      Dedup.survivorQualityAudit(
        Artifacts.jaccardPairs(s, dir),
        TextAnalysis.linearScore(t(s, dir, "documents"))
          .select(col("doc_id"), col("score"))),
      OracleSql.survivorQualityAudit(
        threshold = 0.6, maxDocFreq = 10000, wTok = 2, wStop = 5,
        wDigit = -3, wUpper = -1, scoreThreshold = 120, idCol = "doc_id")),

    // Boilerplate span dictionary: the top repeated 8-token spans with
    // an example doc — the template-stripper configuration artifact
    // (q62 scores docs BY these spans; this names the spans).
    Query("q239_span_dictionary", (s, dir) => {
      val d = t(s, dir, "documents")
      val injected = d.select(col("doc_id"),
        when(Sampling.bucket(col("doc_id")) < 15,
          concat(col("text"), lit(" " + BoilerplateSuffix)))
          .otherwise(col("text")).as("text"))
      Dedup.spanDictionary(injected)
    }, OracleSql.spanDictionary(injectPct = 15,
      suffix = BoilerplateSuffix, n = 8, minDocs = 2, k = 20,
      idCol = "doc_id")),

    // Frame decode workload per media type through the batch codec —
    // the transcode planning sheet (frames, not bytes: q179 prices
    // storage, this prices compute).
    Query("q236_frame_workload", (s, dir) => {
      val media = Multimodal.mediaFromDocuments(t(s, dir, "documents"))
      val perMedia = Multimodal.sampleFrames(media).toDF()
        .groupBy(col("media_id")).agg(count(lit(1)).as("__nf"))
      media.select(col("media_id"), col("media_type"))
        .join(perMedia, Seq("media_id"))
        .groupBy(col("media_type"))
        .agg(count(lit(1)).as("n_media"), sum(col("__nf")).as("n_frames"),
          max(col("__nf")).as("max_frames"),
          (sum(col("__nf")).cast("double") / count(lit(1)).cast("double"))
            .as("mean_frames"))
    }, OracleSql.frameWorkload),
  )
}
