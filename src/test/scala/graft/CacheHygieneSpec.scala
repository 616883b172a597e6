package graft

import org.apache.spark.sql.functions.{col, lit}

import graft.operators.{Dedup, SimilaritySearch, TextAnalysis}

/**
 * The caching operators (shingle sets in the Jaccard/MinHash family, the
 * norm+bucket base in LSH pair scoring) register every internal `cache()`
 * with `SparkUtil.trackCache`; a long-lived session composing many
 * operators calls `unpersistTrackedCaches()` after materializing results
 * (Bench/Verify do it between queries). This spec pins the contract: after
 * cleanup the session's CacheManager holds no graft-internal
 * InMemoryRelation.
 */
class CacheHygieneSpec extends SparkSpec {

  test("every caching operator's intermediates are released by unpersistTrackedCaches") {
    // suites share one session and run sequentially; start from a clean
    // slate so earlier suites' perf caches don't fail the isEmpty checks
    spark.catalog.clearCache()
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    // run the full caching-operator family and materialize each result
    Dedup.ngramJaccardPairs(docs).count()
    Dedup.ngramJaccardPairsAdaptive(docs, minPrefixConcentration = 0.0).count()
    Dedup.minhashLshPairs(docs).count()
    Dedup.simhashPairs(docs).count()
    SimilaritySearch.cosineNearDupPairsLsh(emb, threshold = 0.3).count()
    TextAnalysis.coverageCurve(docs, maxRank = 5).count()
    TextAnalysis.corpusDrift(docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1), k = 5).count()
    operators.UrlOps.domainReputationFilter(docs,
      operators.UrlOps.syntheticUrl(col("doc_id")), lit(true)).count()
    operators.Multimodal.phashPairs(
      operators.Multimodal.mediaFromDocuments(docs)).count()
    assert(!spark.sharedState.cacheManager.isEmpty,
      "expected operator-internal caches to be registered while in use")
    SparkUtil.unpersistTrackedCaches()
    assert(spark.sharedState.cacheManager.isEmpty,
      "tracked operator caches leaked past unpersistTrackedCaches()")
  }

  test("unpersistTrackedCaches leaves caller-owned caches alone") {
    spark.catalog.clearCache()
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val mine = docs.filter(col("doc_id") < 10).cache()
    mine.count()
    Dedup.minhashLshPairs(docs).count()
    SparkUtil.unpersistTrackedCaches()
    assert(mine.storageLevel.useMemory,
      "caller-owned cache was dropped by graft's cleanup")
    mine.unpersist(blocking = true)
    assert(spark.sharedState.cacheManager.isEmpty)
  }
}
