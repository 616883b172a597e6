package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{SimilaritySearch, TextAnalysis}

/**
 * Plan contracts: the physical-plan properties the 100 TB posture depends
 * on, asserted so a refactor can't silently regress them. These are the
 * claims SURVEY.md §2.3 makes per operator — broadcast (not sort-merge)
 * lookup joins, parquet filter pushdown, top-k without a global sort, and
 * shuffle-free IVF candidate generation.
 */
class PlanContractSpec extends SparkSpec {

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("driver smoke contract: SparkEntry.entry returns rows") {
    val out = SparkEntry.entry(spark)
    assert(out.count() > 0)
    assert(out.columns.last == "nation_name") // enrichment column present, last (E5)
  }

  test("registry parity: every query has an oracle and every oracle a query") {
    val queries = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    assert(queries == oracles,
      s"no oracle: ${(queries -- oracles).toSeq.sorted}; no query: ${(oracles -- queries).toSeq.sorted}")
    assert(queries.size == 276)
  }

  test("lookup join plans as broadcast hash join, never sort-merge") {
    val p = plan(SparkEntry.queries("q1_lookup_basic")(spark, sf()))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  private def hasShuffle(p: String): Boolean =
    p.contains("Exchange hashpartitioning") ||
      p.contains("Exchange rangepartitioning") ||
      p.contains("Exchange SinglePartition")

  test("exact top-k plans as TakeOrderedAndProject (no global sort)") {
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val p = plan(SimilaritySearch.topKCosine(e, e.filter(col("vec_id") === 0), k = 10))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("IVF ANN candidate generation has no shuffle exchange at all") {
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val p = plan(SimilaritySearch.annTopKIvf(e, e.filter(col("vec_id") === 0), k = 10))
    assert(!hasShuffle(p), s"unexpected shuffle in IVF plan:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"))
  }

  test("filters reach the parquet scan as pushed filters") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val p = plan(docs.filter(col("lang") === "en").select("doc_id", "lang"))
    assert(p.contains("EqualTo(lang,en)"), p)
  }

  test("column pruning: a two-column projection reads a two-column schema") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val p = plan(docs.select("doc_id", "lang"))
    assert(p.contains("struct<doc_id:bigint,lang:string>"), p)
  }

  test("top-k per group plans with WindowGroupLimit (map-side partial top-k)") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val p = plan(TextAnalysis.topKPerGroup(docs, k = 3))
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("per-row text analysis stays inside whole-stage codegen") {
    // codegen'd stages print with a `*(n)` marker; an unstarred Project
    // means something (e.g. a lambda HOF) fell back to interpreted eval
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    assert(plan(TextAnalysis.quality(docs)).contains("*(1) Project"))
    assert(plan(TextAnalysis.languageId(docs)).contains("*(1) Project"))
  }

  test("repetition scoring is per-row only: no hash/range shuffle in the plan") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val p = plan(TextAnalysis.repetition(docs))
    assert(!hasShuffle(p), s"unexpected shuffle in repetition plan:\n$p")
  }

  test("HLL sketch aggregates with map-side partial max (bounded shuffle)") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val p = plan(graft.operators.Sketches.approxDistinct(docs, Seq("lang"), "text"))
    // partial_max before the exchange => at most groups x 2^p rows shuffle
    assert(p.contains("partial_max"), p)
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 2, s"$exchanges hash exchanges in sketch plan:\n$p")
  }

  test("vocabulary top-k: partial counts map-side, TakeOrderedAndProject cut") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val p = plan(TextAnalysis.vocabulary(docs, k = 100))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("partial_count"), p)
  }

  test("per-stratum quotas plan with WindowGroupLimit (partial top-n map-side)") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val p = plan(graft.operators.Sampling.takePerStratum(docs, n = 50))
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("r6 curation ops: bounded exchanges, broadcast bounds, equi-joins") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val events = Tables.loadEvents(spark, sf())
    // windowed event dedup: ONE exchange with map-side partial_min;
    // struct-min forces SortAggregate, but only per-partition sorts —
    // never a global range exchange
    val pd = plan(graft.operators.EventAnalytics.eventDedupWindow(events))
    assert(pd.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1, pd)
    assert(pd.contains("partial_min"), pd)
    assert(!pd.contains("Exchange rangepartitioning"), pd)
    // time-split audit: ONE exchange with map-side partial aggregation
    val pt = plan(graft.operators.EventAnalytics.timeSplitAudit(
      events, "2024-01-22 00:00:00"))
    assert(pt.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1, pt)
    assert(pt.contains("partial_"), pt)
    // winsorize: the key-space bounds table joins back BROADCAST
    val pw = plan(graft.operators.Profiler.winsorizeReport(
      events, "event_type", "value", "event_id"))
    assert(pw.contains("BroadcastHashJoin"), pw)
    // length banding: candidates from an equi-join, never a nested loop
    val pl = plan(graft.operators.Dedup.lengthBandPairs(docs))
    assert(!pl.contains("NestedLoop"), pl)
    assert(!pl.contains("CartesianProduct"), pl)
  }

  test("per-group cap plans with WindowGroupLimit; span-corruption plan is shuffle-free") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val capped = graft.operators.Sampling.capPerGroup(
      docs.select(col("doc_id"), col("source"), length(col("text")).as("score")),
      n = 15, groupCol = "source", scoreCol = "score")
    assert(plan(capped).contains("WindowGroupLimit"), plan(capped))
    val span = plan(TextAnalysis.spanCorruptionPlan(docs))
    assert(!hasShuffle(span), s"unexpected shuffle in spanCorruptionPlan:\n$span")
  }

  test("quality filter, chunking, and feature hashing are pure narrow plans: zero exchange") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val pq = plan(TextAnalysis.qualityFilter(docs))
    assert(!hasShuffle(pq), s"unexpected shuffle in qualityFilter plan:\n$pq")
    val pc = plan(TextAnalysis.chunk(docs))
    assert(!hasShuffle(pc), s"unexpected shuffle in chunk plan:\n$pc")
    val pf = plan(TextAnalysis.featureHash(docs))
    assert(!hasShuffle(pf), s"unexpected shuffle in featureHash plan:\n$pf")
  }

  test("robust scaling broadcasts the quantile row — the corpus never sort-merges") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val p = plan(TextAnalysis.robustScale(docs))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("keyword extraction cuts per doc with WindowGroupLimit") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val p = plan(TextAnalysis.keywords(docs, k = 3))
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("token-budget membership is a pure narrow filter over the scan") {
    // the tier sums are collected driver-side (bounded artifact); the
    // returned plan must be scan -> filter with no exchange
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val p = plan(graft.operators.Sampling.tokenBudgetSample(docs, budgetTokens = 15000))
    assert(!hasShuffle(p), s"unexpected shuffle in tokenBudgetSample plan:\n$p")
  }

  test("fuzzy decontamination joins broadcast — the corpus is never sort-merged") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val p = plan(graft.operators.Dedup.decontaminateFuzzy(
      docs, docs.filter(col("doc_id") < 25)))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("as-of merge formulation shuffles exactly once") {
    // the whole point of unionSorted vs join+pick: union -> ONE hash
    // exchange on the key -> sort -> window fill
    val p = plan(SparkEntry.queries("q22_asof_join")(spark, sf()))
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"$exchanges hash exchanges in as-of plan:\n$p")
  }

  test("as-of join+pick: the pick window reuses the join's shuffle (no third exchange)") {
    // The window partitions by (key, leftId); HashPartitioning(key) from
    // the join satisfies that clustered distribution, so the plan carries
    // exactly the join's two exchanges — a window on leftId alone would
    // add a third full shuffle of the multiplied join output.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val events = Tables.loadEvents(spark, sf()).select("event_id", "ts", "user_id")
      val orders = spark.read.parquet(s"${sf()}/orders.parquet")
        .withColumn("o_orderdate", col("o_orderdate").cast("timestamp"))
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
      val p = plan(graft.operators.AsOfJoin(events, orders,
        "user_id", "o_custkey", "ts", "o_orderdate", "event_id",
        Seq("o_orderkey" -> "last_order_key"), Seq("o_orderkey")))
      val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
      assert(exchanges == 2, s"$exchanges hash exchanges in join+pick plan:\n$p")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("as-of join+pick on bucketed inputs runs with ZERO exchange") {
    // The SURVEY §2.3 claim, proven: both sides bucketed on the key means
    // the join reads co-located buckets and the (key, leftId) window rides
    // the same layout — no data movement anywhere in the plan.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val events = Tables.loadEvents(spark, sf()).select("event_id", "ts", "user_id")
      val orders = spark.read.parquet(s"${sf()}/orders.parquet")
        .withColumn("o_orderdate", col("o_orderdate").cast("timestamp"))
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
      val bEvents = graft.sources.IO.writeBucketed(events, "asof_events_b",
        Seq("user_id"), nBuckets = 8, sortCols = Seq("user_id"))
      val bOrders = graft.sources.IO.writeBucketed(orders, "asof_orders_b",
        Seq("o_custkey"), nBuckets = 8, sortCols = Seq("o_custkey"))
      val asof = graft.operators.AsOfJoin(bEvents, bOrders,
        "user_id", "o_custkey", "ts", "o_orderdate", "event_id",
        Seq("o_orderkey" -> "last_order_key"), Seq("o_orderkey"))
      val p = plan(asof)
      val exchanges = p.linesIterator.count(_.contains("Exchange"))
      assert(exchanges == 0, s"$exchanges exchanges on bucketed inputs:\n$p")
      // and it is the same answer as the shuffling plan
      val plain = graft.operators.AsOfJoin(events, orders,
        "user_id", "o_custkey", "ts", "o_orderdate", "event_id",
        Seq("o_orderkey" -> "last_order_key"), Seq("o_orderkey"))
      assert(asof.collect().map(_.toSeq).sortBy(_.toString).toSeq ==
        plain.collect().map(_.toSeq).sortBy(_.toString).toSeq)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("exact dedup plans with WindowGroupLimit (rank filter pushed map-side)") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val p = plan(graft.operators.Dedup.exact(docs, Seq("source"), "doc_id"))
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("exact dedup on a key-bucketed table runs with zero exchange") {
    // the 100 TB shape for repeated dedup over the same corpus: bucket
    // once on the dedup key, and every later Dedup.exact window rides the
    // bucket layout — no shuffle at all
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val bucketed = graft.sources.IO.writeBucketed(docs, "dedup_docs_b",
      Seq("source"), nBuckets = 4, sortCols = Seq("source"))
    val dedup = graft.operators.Dedup.exact(bucketed, Seq("source"), "doc_id")
    val p = plan(dedup)
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges == 0, s"$exchanges exchanges on bucketed dedup:\n$p")
    assert(dedup.count() ==
      graft.operators.Dedup.exact(docs, Seq("source"), "doc_id").count())
  }

  test("bigram LM: one pair agg with map-side partials, WindowGroupLimit top-k cut") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val p = plan(TextAnalysis.bigramLm(docs, k = 3, minContextCount = 20))
    assert(p.contains("partial_count"), p)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("embed outliers: centroid agg is the ONLY shuffle; the corpus side broadcasts") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val langs = spark.read.parquet(s"${sf()}/documents.parquet")
      .select(col("doc_id"), col("lang"))
    val joined = emb.join(langs, emb("vec_id") === langs("doc_id")).drop("doc_id")
    val p = plan(SimilaritySearch.embedOutliers(joined, threshold = -0.05))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"$exchanges hash exchanges in embedOutliers plan:\n$p")
  }

  test("linear scorer is a pure narrow codegen'd projection: zero exchange") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val p = plan(TextAnalysis.linearScore(docs))
    assert(!hasShuffle(p), s"unexpected shuffle in linearScore plan:\n$p")
    assert(p.contains("*(1) Project"), p)
  }

  test("epoch shuffle: exactly one exchange (the bucket rank window), no global sort") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val p = plan(graft.operators.Sampling.epochShuffle(docs, epoch = 1))
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges == 1, s"$exchanges exchanges in epochShuffle plan:\n$p")
    assert(!p.contains("Exchange rangepartitioning"),
      s"global sort leaked into epochShuffle:\n$p")
  }

  test("cluster-best survivor cut plans with WindowGroupLimit") {
    val p = plan(SparkEntry.queries("q85_cluster_best")(spark, sf()))
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("contamination report: the corpus side joins broadcast, never sort-merged against eval") {
    val p = plan(SparkEntry.queries("q94_contamination_report")(spark, sf()))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("domain reputation: the good-domain table joins back broadcast") {
    val p = plan(SparkEntry.queries("q96_domain_reputation")(spark, sf()))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("doc stitching: boundary-hash candidates come from an equi-join, not a nested loop") {
    val p = plan(SparkEntry.queries("q97_doc_stitching")(spark, sf()))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("shard manifest: one aggregation exchange, no join") {
    val p = plan(SparkEntry.queries("q102_shard_manifest")(spark, sf()))
    assert(!p.contains("Join"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("key-skew and join-size reports: the raw table aggregates before anything joins") {
    // both reduce the scanned table to per-key counts in one hash agg;
    // only already-reduced tables (counts, scalar totals) join after
    Seq("q112_key_skew", "q115_join_size_estimate").foreach { q =>
      val p = plan(SparkEntry.queries(q)(spark, sf()))
      val aggIdx = p.indexOf("HashAggregate")
      val joinIdx = p.indexOf("Join")
      assert(aggIdx >= 0, s"$q: expected a hash aggregate\n$p")
      if (joinIdx >= 0)
        assert(p.contains("BroadcastHashJoin") ||
          p.contains("BroadcastNestedLoopJoin") ||
          p.contains("SortMergeJoin"), s"$q: unexpected join shape\n$p")
      assert(!p.contains("CartesianProduct"), s"$q\n$p")
    }
  }

  test("co-engagement: the pair self-join is an equi-join on the capped table") {
    val p = plan(SparkEntry.queries("q106_coengagement")(spark, sf()))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // top-k is a distributed TakeOrdered cut, not a global sort
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("corpus diff: one full-outer equi-join on the id, nothing else") {
    val p = plan(SparkEntry.queries("q104_corpus_diff")(spark, sf()))
    assert(p.contains("FullOuter"), p)
    assert("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r
      .findAllIn(p).size == 1, s"expected exactly one equi-join:\n$p")
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"), p)
  }

  test("no declared query ever plans a CartesianProduct") {
    // Sweeping regression net over the whole inventory: a dropped join
    // key or a broken equi-condition shows up as a cartesian. q18 is the
    // documented exact bounded-n exception (its plan is a broadcast
    // nested loop by construction; q41 is its scale path).
    val exempt = Set("q18_embed_neardup")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (!exempt(name)) {
        val p = plan(fn(spark, sf()))
        assert(!p.contains("CartesianProduct"), s"$name plans a cartesian:\n$p")
      }
    }
  }

  test("phrase tagging and random projection are shuffle-free narrow plans") {
    val pm = plan(SparkEntry.queries("q134_phrase_match")(spark, sf()))
    assert(!hasShuffle(pm), s"phraseMatch shuffled:\n$pm")
    val rp = plan(SparkEntry.queries("q136_random_projection")(spark, sf()))
    assert(!hasShuffle(rp), s"randomProject shuffled:\n$rp")
    // and the projection stays inside whole-stage codegen
    assert(rp.contains("*(1) Project"), rp)
  }

  test("zorder report shuffles only the bounded bucket key (<= 2 exchanges)") {
    val p = plan(SparkEntry.queries("q135_zorder_layout")(spark, sf()))
    // two-phase distinct-count agg: Exchange on (bucket, key), then on
    // bucket — never on anything row-level
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2, p)
    assert(!p.contains("Exchange rangepartitioning") &&
      !p.contains("Exchange SinglePartition"), p)
  }

  test("label propagation keeps every join an equi-join") {
    val p = plan(SparkEntry.queries("q132_label_propagation")(spark, sf()))
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"), p)
  }

  test("weighted sample plans a TakeOrderedAndProject, not a global sort") {
    val p = plan(SparkEntry.queries("q139_weighted_sample")(spark, sf()))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"), p)
  }

  test("PQ encode is a shuffle-free narrow projection; IVF-PQ search has zero joins and zero shuffles") {
    val pe = plan(SparkEntry.queries("q141_pq_encode")(spark, sf()))
    assert(!hasShuffle(pe), s"pqEncode shuffled:\n$pe")
    assert(pe.contains("*(1) Project"), pe)
    // the search: codebooks + ADC table + query all ride the plan as
    // literals — scan, narrow filter/project, two TakeOrdered cuts, and
    // NOTHING else (no join of any kind, no exchange)
    val ps = plan(SparkEntry.queries("q142_ivfpq_topk")(spark, sf()))
    assert(!hasShuffle(ps), s"ivfPqTopK shuffled:\n$ps")
    assert(!ps.contains("Join") && !ps.contains("CartesianProduct"), ps)
    assert(ps.contains("TakeOrderedAndProject"), ps)
  }

  test("zone-map report: one bounded hash-agg exchange, nothing row-level") {
    val p = plan(SparkEntry.queries("q145_zonemap_prune")(spark, sf()))
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Exchange rangepartitioning") &&
      !p.contains("Exchange SinglePartition"), p)
  }

  test("bloom-pruned join: the membership probe filters the scan side, below the join") {
    val df = SparkUtil.bloomPrunedJoin(
      spark.read.parquet(s"${sf()}/lineitem.parquet"),
      spark.read.parquet(s"${sf()}/orders.parquet")
        .where(col("o_orderpriority") === "1-URGENT"),
      "l_orderkey", "o_orderkey")
    val p = plan(df)
    // an equi-join is planned (never a nested loop) and the
    // literal-array probe (element_at against the plan-literal words)
    // survives as a Filter in the tree — the join node is the root of
    // the printout, so any Filter line sits below it, i.e. before any
    // wire transfer (below the ShuffleExchange when the join shuffles;
    // on the streamed scan side when the dimension broadcasts, as here)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"), p)
    assert("Filter .*element_at".r.findFirstIn(p).isDefined ||
      (p.contains("Filter") && p.contains("element_at")), p)
  }

  test("co-occurrence: the df prune joins broadcast; the pair join is an equi-join") {
    val p = plan(SparkEntry.queries("q152_cooccurrence")(spark, sf()))
    assert(p.contains("BroadcastHashJoin"), p)
    // the only nested-loop is the single-row n_docs scalar broadcast —
    // the bounded house pattern; a second one would mean a dropped key
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("fuzzy pairs: delete-key candidates come from an equi-join, never a nested loop") {
    val p = plan(SparkEntry.queries("q147_fuzzy_pairs")(spark, sf()))
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"), p)
  }

  test("agg-state merge: bounded exchanges, no global sort") {
    val p = plan(SparkEntry.queries("q153_agg_state_merge")(spark, sf()))
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 3, p)
    assert(!p.contains("Exchange rangepartitioning"), p)
  }

  test("r7 narrow gates are shuffle-free codegen'd projections") {
    val d = spark.read.parquet(s"${sf()}/documents.parquet")
    val pm = plan(TextAnalysis.markupDensity(d))
    assert(!hasShuffle(pm), s"markupDensity shuffled:\n$pm")
    assert(pm.contains("*(1) Project"), pm) // whole-stage codegen'd stage
    val ph = plan(graft.operators.Sampling.groupHoldout(d, "source", 30))
    assert(!hasShuffle(ph), s"groupHoldout shuffled:\n$ph")
  }

  test("dimension audit: one exchange (the dim-key agg), nothing wider") {
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val p = plan(SimilaritySearch.dimensionAudit(e))
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1, p)
    assert(!p.contains("Exchange rangepartitioning") &&
      !p.contains("Exchange SinglePartition"), p)
  }

  test("IVF cell balance: literal codebook, zero joins") {
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val p = plan(SimilaritySearch.ivfCellBalance(e))
    assert(!p.contains("Join"), s"cell assignment must not join:\n$p")
  }

  test("exact vector dedup: one exchange on the content key, no pair join") {
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val p = plan(SimilaritySearch.exactDupVectors(e))
    assert(!p.contains("Join"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1, p)
  }

  test("zipf checkpoints: TakeOrderedAndProject cut, never a corpus sort") {
    val d = spark.read.parquet(s"${sf()}/documents.parquet")
    val p = plan(TextAnalysis.zipfCheckpoints(d))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"), p)
  }

  test("kNN-graph consumers read the persisted artifact — no candidate generation in-plan") {
    // r8: q137/q221/q234 consume Artifacts.knnGraphLsh (the stored-index
    // shape). Their plans must scan the shared parquet and carry NONE of
    // the q58 generator machinery (SRP table keys, bucket self-join,
    // per-query rank window over candidates).
    Seq("q137_mutual_knn", "q221_knn_purity", "q234_knn_hubness").foreach { q =>
      val p = plan(SparkEntry.queries(q)(spark, sf()))
      assert(p.contains("shared_artifacts"), s"$q does not scan the artifact:\n$p")
      assert(!p.contains("__tb"), s"$q re-derives LSH candidates:\n$p")
    }
  }

  test("method agreement reads the persisted Jaccard pairs; SimHash side still derives") {
    val p = plan(SparkEntry.queries("q241_method_agreement")(spark, sf()))
    assert(p.contains("shared_artifacts"), p)
    assert(p.contains("FullOuter"), p) // the pair-key agreement join
  }

  test("capped kNN-LSH: the bucket-cap window rides the join's Exchange " +
      "(same __tb shuffle count as uncapped) and cuts via WindowGroupLimit") {
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
    def tbShuffles(p: String): Int =
      "Exchange hashpartitioning\\(__tb".r.findAllIn(p).size
    // the claim is about the at-scale regime, where the bucket self-join
    // is sort-merge; at spec scale Spark would broadcast it (hiding the
    // join's own __tb Exchanges), so pin with broadcast off
    val bcThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val (uncapped, capped) =
      try (plan(SimilaritySearch.knnJoinLsh(e, k = 5)),
        plan(SimilaritySearch.knnJoinLsh(e, k = 5, bucketCap = 64)))
      finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcThreshold)
    // the cap must not add a __tb Exchange: its rank window sorts by the
    // key the sort-merge join partitions by anyway
    assert(tbShuffles(uncapped) == 2, s"expected 2 SMJ sides:\n$uncapped")
    assert(tbShuffles(capped) == tbShuffles(uncapped),
      s"capped plan added a __tb Exchange:\n$capped")
    // both the cap rank and the final top-k rank cut map-side
    assert("WindowGroupLimit".r.findAllIn(capped).size >= 2, capped)
    assert(!capped.contains("CartesianProduct"), capped)
    graft.SparkUtil.unpersistTrackedCaches()
  }

  test("semantic dedup sub-split: widens the join key in place — zero added " +
      "Exchanges, no cartesian, assignment stays join-free") {
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
    def exchanges(p: String): Int = "Exchange ".r.findAllIn(p).size
    // at-scale regime: the pair self-join is sort-merge, so any __sub
    // mishandling (e.g. a separate re-bucketing shuffle) would surface
    // as an extra Exchange; broadcast would hide the join's own ones
    val bcThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val (unsplit, split) =
      try (plan(SimilaritySearch.semanticDedup(e, threshold = 0.4)),
        plan(SimilaritySearch.semanticDedupAuto(e, threshold = 0.4,
          targetCell = 1)))
      finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcThreshold)
    assert(exchanges(split) == exchanges(unsplit),
      s"sub-split added an Exchange:\n$split")
    assert(!split.contains("CartesianProduct"), split)
    // the SRP sub-bucket is one more codegen'd column in the SAME cached
    // projection — the join keys must carry it (pair space shrinks)
    assert(split.contains("__sub"), split)
    graft.SparkUtil.unpersistTrackedCaches()
  }

  test("adaptive Jaccard on the near-uniform fixture plans the PLAIN index join") {
    // the prefix path's verify stage is the array_intersect over capped
    // sets — its presence would mean the dispatcher chose PPJoin on a
    // corpus where the plain join is cheaper (the r7 q49 weakness).
    val p = plan(SparkEntry.queries("q49_jaccard_prefix_filter")(spark, sf()))
    assert(!p.contains("array_intersect"), p)
    graft.SparkUtil.unpersistTrackedCaches()
  }

  test("q14 and q86 join path carries the exact size filter and 6 Exchanges") {
    import org.apache.spark.sql.catalyst.expressions.{Divide, GreaterThanOrEqual, Literal}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    // the index join is the path above the broadcast threshold; -1 forces
    // it at this scale (below the threshold ScanCount replaces it, next test)
    val bcThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // the size filter is a `>= threshold` over a division of the two
      // sides' `sz` columns inside the shingle join's condition; dropping it
      // leaves the output unchanged and only the candidate volume shows it
      def sizeFiltered(q: String, threshold: Double): Boolean =
        SparkEntry.queries(q)(spark, sf()).queryExecution.sparkPlan.collect {
          case j: BaseJoinExec => j
        }.exists { j =>
          def side(d: Divide, out: org.apache.spark.sql.catalyst.expressions.AttributeSet) =
            d.references.exists(a => a.name == "sz" && out.contains(a))
          j.condition.exists(_.exists {
            case GreaterThanOrEqual(d: Divide, Literal(t, _)) =>
              t == threshold && side(d, j.left.outputSet) && side(d, j.right.outputSet)
            case _ => false
          })
        }
      assert(sizeFiltered("q14_dedup_ngram_jaccard", 0.6))
      assert(sizeFiltered("q86_containment_pairs", 0.8))
      // shuffle Exchanges, each once: a cached index prints under every
      // scan of it, but runs one plan (same plan_id). With no broadcast
      // the index build sort-merges too: round-robin, df aggregate and the
      // df-cap join's probe side, then both candidate-join sides on `h`
      // and the pair aggregate
      for (q <- Seq("q14_dedup_ngram_jaccard", "q86_containment_pairs")) {
        val p = plan(SparkEntry.queries(q)(spark, sf()))
        val shuffles = """(?<!Broadcast)Exchange .*\[plan_id=(\d+)\]""".r
          .findAllMatchIn(p).map(_.group(1)).toSet
        assert(shuffles.size == 6, s"$q:\n$p")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcThreshold)
    graft.SparkUtil.unpersistTrackedCaches()
  }

  test("q14, q49 and q86 at sf0.01: ScanCount over the shingle sets, no index") {
    import org.apache.spark.sql.execution.MapPartitionsExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val dir = sf("sf0.01")
    Tables.load(spark, dir, "documents") // resolved before the job counts
    for (q <- Seq("q14_dedup_ngram_jaccard", "q49_jaccard_prefix_filter",
        "q86_containment_pairs")) {
      SparkUtil.unpersistTrackedCaches()
      var df: DataFrame = null
      // construction runs the repartition stage of the shingle sets, the
      // stage that fills their cache, the Σsz job and the typed collect
      // of the sets; the postings table is built on the driver
      assert(countJobs { df = SparkEntry.queries(q)(spark, dir) } == 4, q)
      // the only tracked cache is the shingle sets: no inverted index
      assert(SparkUtil.trackedCacheList.map(_.columns.toSeq) == Seq(Seq("id", "hs", "sz")), q)
      // the pair rows come from the kernel over the cached shingle sets;
      // no shingle self-join, pair aggregate or explode in any part of it
      val sp = df.queryExecution.sparkPlan
      assert(sp.collect { case m: MapPartitionsExec => m }.size == 1, s"$q:\n$sp")
      assert(sp.collect { case j: BaseJoinExec => j }.isEmpty, s"$q:\n$sp")
      assert(sp.collect { case a: BaseAggregateExec => a }.isEmpty, s"$q:\n$sp")
      val p = plan(df)
      assert(!p.contains("Generate"), s"$q:\n$p")
      val outer = p.substring(0, p.indexOf("InMemoryRelation"))
      assert(!outer.contains("Exchange"), s"$q:\n$p")
    }
    SparkUtil.unpersistTrackedCaches()
  }

  test("BM25 top-k: TakeOrderedAndProject cut, corpus filtered before any agg") {
    val p = plan(SparkEntry.queries("q258_bm25_topk")(spark, sf()))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"), p) // never a full sort
  }

  test("batch BM25: per-query top-k cut via WindowGroupLimit, query table broadcast") {
    val p = plan(SparkEntry.queries("q260_bm25_batch")(spark, sf()))
    // the rank<=k filter must reach map-side partial top-k, not a full
    // per-query sort + filter
    assert(p.contains("WindowGroupLimit"), p)
    // the (query_id, term) membership table rides as a broadcast, never
    // an Exchange of the corpus-side term scores against a tiny table
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("simhash64 pairs: blocked candidate join is an equi-join, never a nested loop") {
    val p = plan(SparkEntry.queries("q269_dedup_simhash64")(spark, sf()))
    // the pigeonhole block key must reach the join as an equi-condition
    // (hash-partitionable at any scale); a dropped block key would
    // surface as a nested-loop over the corpus
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    graft.SparkUtil.unpersistTrackedCaches()
  }

  test("q99 (both dispatch branches): no pair-list m² anywhere — every " +
      "join an equi-join, CC rounds see only checkpointed inputs") {
    // fixture scale picks the pair-list branch; force the edge branch
    // too — the dispatch must be a plan choice only (semantics pinned
    // equal in DedupSpec), and BOTH plans must hold the contracts
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    for (cutoff <- Seq(Long.MaxValue, 0L)) {
      val p = plan(graft.operators.Dedup.multiSignalComponents(docs,
        pairListCutoff = cutoff))
      assert(!p.contains("BroadcastNestedLoopJoin"), p)
      assert(!p.contains("CartesianProduct"), p)
      // the final labels plan is one join away from checkpointed RDDs —
      // iteration lineage must NOT accumulate into the output plan
      assert(p.contains("Scan ExistingRDD"), p)
    }
    graft.SparkUtil.unpersistTrackedCaches()
  }

  test("balanced assignment: the only single-partition work sees pre-aggregated keys") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val df = SparkEntry.queries("q154_balanced_assignment")(spark, sf())
    // every SinglePartition exchange (the rank window over the key
    // dictionary) must consume an aggregation, never raw corpus rows
    df.queryExecution.executedPlan.collect {
      case e: ShuffleExchangeExec
          if e.outputPartitioning.numPartitions == 1 =>
        assert(e.child.collect { case a: BaseAggregateExec => a }.nonEmpty,
          s"single-partition exchange over raw rows:\n${plan(df)}")
    }
  }

  test("LSH kNN pre-cut contract: WindowGroupLimit BEFORE the dedup agg, " +
      "and the agg reuses the window's hash(query_id) Exchange") {
    // The round-11 kNN probe finding: without the k*nTables pre-cut the
    // (query_id, cand_id) dedup agg shuffles EVERY candidate row
    // (~199 M at the 100x probe, 71-96 s); with it, the cut runs
    // map-side (WindowGroupLimit) and the agg is co-partitioned under
    // the same hash(query_id) Exchange. A refactor that reorders the
    // agg before the window, or gives the agg its own Exchange on
    // (query_id, cand_id), silently re-opens the wall.
    val e = spark.read.parquet(s"${sf()}/embeddings.parquet")
    for (df <- Seq(
        SimilaritySearch.knnJoinLsh(e, k = 5, allowFixedWidth = true),
        SimilaritySearch.knnJoinLshBipartite(
          e.filter(col("vec_id") >= 1000), e.filter(col("vec_id") < 1000),
          k = 5, allowFixedWidth = true))) {
      val p = plan(df)
      assert(p.contains("WindowGroupLimit"), p)
      // the pair rows shuffle ONCE, on query_id alone (the window's
      // Exchange, which the agg's clustering reuses); an agg-owned
      // hashpartitioning(query_id, cand_id) Exchange means the
      // co-partitioning reuse broke
      assert("""Exchange hashpartitioning\(query_id#\d+, cand_id#\d+""".r
        .findFirstIn(p).isEmpty,
        s"dedup agg grew its own (query_id, cand_id) Exchange:\n$p")
    }
    graft.SparkUtil.unpersistTrackedCaches()
  }
}
