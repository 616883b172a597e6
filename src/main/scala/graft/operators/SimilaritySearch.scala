package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/**
 * Similarity search over an embedding column (`array<float>`): exact
 * brute-force cosine top-k, exact cosine near-dup pairs, and an
 * LSH-bucketed approximate variant for scale. North-star extensions
 * (SURVEY.md §2.3 Tier B Q10).
 *
 * Scale design (100 TB posture):
 *   - `topKCosine` broadcasts the (single-row) query side and runs one
 *     narrow scan + a `TakeOrderedAndProject` (orderBy.limit k) — no full
 *     sort, no wide shuffle; the classic distributed top-k.
 *   - `cosineNearDupPairs` is the exact O(n²) path — correct but
 *     quadratic; usable when n is bounded (e.g. within-partition dedup).
 *     Norms are projected once per row *before* the join so each pair costs
 *     one dot product, not three.
 *   - `annTopKLsh` is the scale path: sign-random-projection buckets
 *     (deterministic public hyperplanes) turn the cross join into an
 *     equi-join on bucket id. Approximate: candidates are same-bucket only.
 */
object SimilaritySearch {

  /**
   * Embedding-norm audit per group: vector count, min/max L2 norm, and
   * the mean norm — the sanity sheet run before ANY cosine-based
   * operator ships (a near-zero norm means a broken encoder row; a
   * bimodal norm range means two encoder versions mixed into one
   * corpus). Min/max are order-insensitive on raw doubles; the MEAN
   * uses the shared micro-integer trick (`floor(norm·10⁶ + 0.5)` summed
   * exactly, one final division) because a float mean over partition
   * order would not replay — the q82 centroid contract.
   *
   * Spark shape: one narrow projection (native codegen'd dot for the
   * squared norm), ONE hash aggregation with map-side partials; output
   * is the group space.
   */
  def normAudit(df: DataFrame, groupCol: String = "lang",
      vecCol: String = "embedding", dim: Int = 64): DataFrame = {
    val nrm = sqrt(norm2(col(vecCol), dim))
    df.select(col(groupCol), nrm.as("__n"),
        floor(nrm * lit(1000000.0) + lit(0.5)).cast("long").as("__m"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_vectors"),
        min(col("__n")).as("min_norm"), max(col("__n")).as("max_norm"),
        sum(col("__m")).as("__sm"))
      .select(col(groupCol), col("n_vectors"), col("min_norm"),
        col("max_norm"),
        (col("__sm").cast("double") /
          (col("n_vectors").cast("double") * 1000000.0)).as("mean_norm"))
  }

  /** Exact cosine top-k of `df` against a single-row `query` DataFrame
    * holding the same `vecCol`. Ties broken by ascending id for
    * determinism. Includes the query row itself if present in `df`. */
  def topKCosine(df: DataFrame, query: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      dim: Int = 64): DataFrame = {
    val q = broadcast(query.select(col(vecCol).as("__qvec")))
    df.crossJoin(q)
      .select(col(idCol), cosine(col(vecCol), col("__qvec"), dim).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /**
   * Exact-duplicate vector groups: embeddings identical after
   * micro-integer quantization (`floor(x·10⁶ + 0.5)` per coordinate —
   * the q82/q169 determinism contract), keyed by the md5 of the joined
   * coordinate string. The embedding-store face of [[Dedup.exact]]:
   * re-encoded batches, retried writes, and copy-pasted rows produce
   * bit-identical vectors that no similarity threshold is needed to
   * catch — and that silently skew any centroid/kNN statistic until
   * removed. Micro-quantization (not raw float formatting) makes the
   * key portable across engines and storage round-trips.
   *
   * Spark shape: one narrow codegen'd projection (transform + hash) and
   * ONE hash aggregation on the content key with map-side partials —
   * never a pair join; output is bounded by the duplicated subset.
   */
  def exactDupVectors(vectors: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val key = md5(array_join(transform(col(vecCol), x =>
      floor(x.cast("double") * lit(1000000d) + lit(0.5)).cast("string")), ","))
    graft.SparkUtil.ensureParallelism(vectors)
      .select(col(idCol).as("id"), key.as("vec_key"))
      .groupBy(col("vec_key"))
      .agg(count(lit(1)).as("n_vectors"), min(col("id")).as("keeper_id"))
      .filter(col("n_vectors") >= 2)
  }

  /**
   * Pairwise-cosine distance histogram over a content-addressed sample:
   * pair counts per 0.1-wide cosine bin — the distribution a curator
   * reads to SET a near-dup/semantic-dedup threshold before running
   * [[cosineNearDupPairsLsh]] or [[semanticDedup]] at full scale (the
   * embedding-space face of the q113 Jaccard threshold sweep). A
   * well-separated corpus shows a low bulk and a high duplicate spike;
   * a smeared distribution warns that no single τ is safe.
   *
   * Spark shape: the deterministic id-bucket sample bounds the pair
   * space (samplePct² of all pairs, rerun-stable — never `rand()`), the
   * self-join is over the SAMPLE only (documented bounded-n, the q18
   * contract: calibration needs a sample, not the corpus), and the
   * result reduces to ≤ 21 bins. Bin = `floor(cos·10)` of the shared
   * left-assoc double chain — bit-stable cross-engine.
   */
  def pairDistanceHistogram(vectors: DataFrame, samplePct: Int = 20,
      idCol: String = "vec_id", vecCol: String = "embedding",
      dim: Int = 64): DataFrame = {
    require(samplePct >= 1 && samplePct <= 100,
      s"samplePct=$samplePct must be in [1, 100]")
    val sample = graft.SparkUtil.trackCache(
      graft.SparkUtil.ensureParallelism(vectors)
        .filter(Sampling.bucket(col(idCol)) < samplePct)
        .select(col(idCol).as("id"), col(vecCol).as("v"),
          norm2(col(vecCol), dim).as("n2")))
    sample.as("x").join(sample.as("y"), col("x.id") < col("y.id"))
      .select(cosineWithNorms(dot(col("x.v"), col("y.v"), dim),
        col("x.n2"), col("y.n2")).as("__cos"))
      .select(floor(col("__cos") * 10).cast("int").as("bin"), col("__cos"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_pairs"), min(col("__cos")).as("min_cos"),
        max(col("__cos")).as("max_cos"))
  }

  /**
   * Per-dimension embedding audit: for every coordinate position,
   * count, min/max, and micro-exact mean and variance — the
   * dead-dimension / scale-drift detector run next to [[normAudit]]
   * before trusting an encoder (a dimension with ~zero variance is
   * wasted index width; one with a wildly different scale breaks any
   * unnormalized distance). Mean and variance derive from exact
   * integer micro-sums (`floor(x·10⁶ + 0.5)` and its square — the
   * q82/q169 order-invariance contract), so the whole sheet replays
   * bit-identically. At 10⁹+ rows the squared long sums approach 2^63,
   * so the q124 guard applies STRUCTURALLY: a cheap pre-pass (count +
   * global max |x|, one narrow codegen'd scan) proves when
   * `n · maxMicro² < 2⁶²` holds and every moment fits int64; when it
   * doesn't, micro values sum as decimals instead. Both paths produce
   * identical integer moments (pinned in SimilaritySearchSpec on a
   * magnitude-injected fixture), so the final double chain — and the
   * oracle — are unchanged.
   *
   * Spark shape: one narrow posexplode (row expansion, no shuffle) and
   * ONE hash aggregation on the dimension key with map-side partials —
   * output is exactly `dim` rows.
   *
   * EAGER at construction: the count+max guard executes a Spark
   * aggregation when this method is CALLED, not when the returned
   * DataFrame is acted on. graft.Bench times construction + execution
   * together, so the guard scan IS inside the benchmarked region.
   */
  def dimensionAudit(vectors: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val guard = vectors.agg(count(lit(1)).as("__n"),
      max(expr(s"aggregate($vecCol, cast(0.0 as double), " +
        "(acc, x) -> greatest(acc, abs(cast(x as double))))")).as("__m"))
      .head()
    val nRows = guard.getLong(0)
    val maxMicro =
      (if (guard.isNullAt(1)) 0.0 else guard.getDouble(1)) * 1000000d + 1.0
    val longSafe = nRows > 0 && !maxMicro.isNaN &&
      nRows.toDouble * maxMicro * maxMicro < math.pow(2.0, 62)
    dimensionAuditWith(vectors, vecCol,
      if (longSafe) "long" else "decimal(19,0)")
  }

  /** The moment pipeline behind [[dimensionAudit]], parameterized on
    * the micro-sum width so the spec can pin long/decimal parity. */
  private[graft] def dimensionAuditWith(vectors: DataFrame, vecCol: String,
      microType: String): DataFrame = {
    val ex = graft.SparkUtil.ensureParallelism(vectors)
      .select(posexplode(col(vecCol)).as(Seq("__p", "__xf")))
      .select((col("__p") + 1).as("dim_pos"),
        col("__xf").cast("double").as("__x"))
      .withColumn("__m",
        floor(col("__x") * lit(1000000d) + lit(0.5)).cast(microType))
    ex.groupBy(col("dim_pos"))
      .agg(count(lit(1)).as("n"), min(col("__x")).as("min_v"),
        max(col("__x")).as("max_v"), sum(col("__m")).as("__sm"),
        sum(col("__m") * col("__m")).as("__ss"))
      .select(col("dim_pos"), col("n"), col("min_v"), col("max_v"),
        (col("__sm").cast("double") /
          (col("n").cast("double") * lit(1000000d))).as("mean_v"),
        ((col("__ss").cast("double") / col("n").cast("double") -
          (col("__sm").cast("double") / col("n").cast("double")) *
            (col("__sm").cast("double") / col("n").cast("double"))) /
          lit(1000000000000d)).as("var_v"))
  }

  /**
   * Neighborhood label purity over the LSH kNN graph: per vector, how
   * many of its approximate nearest neighbors share its label, as an
   * exact per-mille share — the standard label-noise / embedding-quality
   * probe (a clean encoder + clean labels puts same-label points
   * together; low-purity vectors are mislabeled rows or encoder
   * failures, and the per-label rollup of this table is the confusion
   * prior an active-learning loop samples from). Consumes the
   * [[knnJoinLsh]] graph, so cost and approximation live in the index;
   * the purity arithmetic is exact integers.
   *
   * Spark shape: the kNN graph is ALREADY bounded (≤ k rows/vector);
   * two broadcast-sized label equi-joins and ONE aggregation on the
   * query key. Nothing rescans raw vectors.
   */
  def neighborhoodPurity(vectors: DataFrame, k: Int = 5,
      idCol: String = "vec_id", vecCol: String = "embedding",
      labelCol: String = "label", dim: Int = 64, nPlanes: Int = 4,
      nTables: Int = 8, knnGraph: Option[DataFrame] = None): DataFrame = {
    // `knnGraph`: a precomputed [[knnJoinLsh]] result (query_id,
    // cand_id, ...) — the persisted-index path; None re-derives inline.
    val knn = knnGraph.getOrElse(
      knnJoinLsh(vectors, k, idCol, vecCol, dim, nPlanes, nTables))
    val labels = vectors.select(col(idCol).as("__lid"),
      col(labelCol).as("__lab"))
    knn
      .join(labels.select(col("__lid"), col("__lab").as("__qlab")),
        col("query_id") === col("__lid")).drop("__lid")
      .join(labels.select(col("__lid"), col("__lab").as("__clab")),
        col("cand_id") === col("__lid")).drop("__lid")
      .groupBy(col("query_id"), col("__qlab").as("label"))
      .agg(count(lit(1)).as("n_neighbors"),
        sum(when(col("__clab") === col("__qlab"), 1L).otherwise(0L))
          .as("n_same"))
      .withColumn("purity_per_mille",
        expr("(n_same * 1000) div n_neighbors"))
  }

  /**
   * Label-centroid confusability matrix: pairwise cosine between the
   * per-label centroid vectors — the EMBEDDING-side confusion prior
   * (two labels whose centroids sit at cosine 0.95 will confuse any
   * nearest-centroid or kNN classifier regardless of label quality;
   * [[neighborhoodPurity]] measures the symptom per vector, this names
   * the colliding class pairs). Centroids are the q82 micro-scaled
   * integer sums — order-invariant to the ulp and SQL-replayable.
   *
   * Spark shape: ONE map-side-partial aggregation to ≤ |labels|
   * centroid rows (the shuffle is labels × dim integer sums; raw
   * vectors never shuffle), then an all-pairs join over that bounded
   * table (|labels|² cells).
   */
  def labelCentroidMatrix(vectors: DataFrame, labelCol: String = "label",
      vecCol: String = "embedding", dim: Int = 64): DataFrame = {
    val micro = (1 to dim).map(d =>
      sum(floor(element_at(col(vecCol), d).cast("double") * lit(1000000.0) +
        lit(0.5)).cast("long")).as(s"__s$d"))
    // cached (r16 opt, guide §5): one row per LABEL, consumed by both
    // sides of the |labels|² cartesian — uncached, each side re-ran the
    // full-corpus centroid aggregation (the tiny-aggregate cache shape
    // that won on q108/q116; unlike corpus-size caches, which lose)
    val stats = graft.SparkUtil.trackCache(vectors.groupBy(col(labelCol))
      .agg(count(lit(1)).as("__n"), micro: _*))
    def cent(p: String, d: Int): Column =
      col(s"$p.__s$d").cast("double") /
        (col(s"$p.__n").cast("double") * lit(1000000.0))
    val dotC = (1 to dim).map(d => cent("x", d) * cent("y", d)).reduce(_ + _)
    val n2a = (1 to dim).map(d => cent("x", d) * cent("x", d)).reduce(_ + _)
    val n2b = (1 to dim).map(d => cent("y", d) * cent("y", d)).reduce(_ + _)
    stats.as("x").join(stats.as("y"),
        col(s"x.$labelCol") < col(s"y.$labelCol"))
      .select(col(s"x.$labelCol").as("label_a"),
        col(s"y.$labelCol").as("label_b"),
        col("x.__n").as("n_a"), col("y.__n").as("n_b"),
        (dotC / (sqrt(n2a) * sqrt(n2b))).as("centroid_cosine"))
  }

  /**
   * kNN hubness audit (Radovanović et al., JMLR 2010): the in-degree
   * distribution of the reverse kNN graph in power-of-two bands, with
   * band 0 = antihubs (vectors NO other vector picks as a neighbor).
   * High-dimensional spaces concentrate in-degree onto hub vectors —
   * hubs dominate retrieval results and antihubs become unreachable,
   * silently biasing any kNN-based dedup/curation; this is the
   * one-page check for that pathology (the graph-shape companion to
   * [[neighborhoodPurity]]'s label view).
   *
   * Spark shape: consumes the bounded [[knnJoinLsh]] graph; one
   * in-degree aggregation, one left join against the id column so
   * antihubs surface, one ≤ 64-row band aggregation.
   */
  def knnHubness(vectors: DataFrame, k: Int = 5,
      idCol: String = "vec_id", vecCol: String = "embedding",
      dim: Int = 64, nPlanes: Int = 4, nTables: Int = 8,
      knnGraph: Option[DataFrame] = None): DataFrame = {
    val knn = knnGraph.getOrElse(
      knnJoinLsh(vectors, k, idCol, vecCol, dim, nPlanes, nTables))
    val indeg = knn.groupBy(col("cand_id").as("id"))
      .agg(count(lit(1)).as("in_degree"))
    vectors.select(col(idCol).as("id"))
      .join(indeg, Seq("id"), "left_outer")
      .select(coalesce(col("in_degree"), lit(0L)).as("in_degree"))
      .select(when(col("in_degree") === 0, 0)
        .otherwise(length(bin(col("in_degree"))).cast("int")).as("band"),
        col("in_degree"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_vectors"),
        min(col("in_degree")).as("min_in_degree"),
        max(col("in_degree")).as("max_in_degree"))
  }

  /**
   * IVF cell-occupancy balance: vectors per coarse cell with per-mille
   * shares — the index capacity audit read before fixing nlist/nprobe
   * (a hot cell turns every probe into a near-scan; empty cells waste
   * list width). Uses the q30 seed-centroid codebook path so the cell
   * assignment is the SAME zero-join literal-codebook projection the
   * search operator runs — the audit measures exactly the index the
   * queries will see.
   *
   * Spark shape: the codebook is a bounded driver artifact; assignment
   * is one narrow codegen'd projection; then ONE hash aggregation on
   * the cell key (≤ nlist rows) with the share from a window over that
   * bounded table.
   */
  def ivfCellBalance(df: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", dim: Int = 64,
      nlist: Int = 16): DataFrame = {
    val session = df.sparkSession
    import session.implicits._
    val cents: Seq[(Long, Array[Float])] = df.filter(col(idCol) < nlist)
      .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .as[(Long, Array[Float])].collect().sortBy(_._1).toSeq
    require(cents.size >= 2, s"IVF needs >= 2 centroids, found ${cents.size}")
    graft.SparkUtil.ensureParallelism(df)
      .select(cellAssign(col(vecCol), cents, dim).as("cid"))
      .groupBy(col("cid")).agg(count(lit(1)).as("n_vectors"))
      .withColumn("share_per_mille",
        expr("(n_vectors * 1000) div sum(n_vectors) over ()"))
  }

  /** AT-SCALE GUARD for the brute-force pair operator ([[cosineNearDupPairs]],
    * q18): n(n-1)/2 comparisons crosses ~2×10⁸ — the same per-table
    * candidate volume where the fixed-width LSH family's measured decade
    * turned into hours — at n ≈ 20 000, so past this corpus count the
    * exact call refuses without `allowBruteForce = true` and points at
    * [[cosineNearDupPairsLshAuto]] (linear candidates, exact scoring).
    * The q16/q58/q95 refusal rule applied to the last reachable
    * quadratic: scaladoc alone is not a guardrail. */
  val BruteForcePairGuardCutoff: Long = 20000L

  /** Exact all-pairs cosine near-duplicates: (a, b), a < b, with
    * cosine >= threshold. Quadratic by construction (the documented
    * brute-force baseline); norms precomputed.
    *
    * EAGER at call time: unless `allowBruteForce = true`, the guard runs
    * one parquet-metadata-cheap `df.count()` when the plan is BUILT (a
    * Spark job per call). Callers that already hold the corpus count —
    * or build many plans in a loop — should pass it via `nHint` (≥ 0
    * skips the count, the Dedup convention); `allowBruteForce = true`
    * keeps the call fully lazy. Past [[BruteForcePairGuardCutoff]] rows
    * the call refuses: use [[cosineNearDupPairsLshAuto]] at scale. */
  def cosineNearDupPairs(df: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      dim: Int = 64, allowBruteForce: Boolean = false,
      nHint: Long = -1L): DataFrame = {
    if (!allowBruteForce &&
        !(nHint < 0 &&
          graft.SparkUtil.cheapCountAtMost(df, BruteForcePairGuardCutoff))) {
      val n = if (nHint >= 0) nHint else graft.SparkUtil.sizingCount(df)
      graft.GuardRefusal.check(n <= BruteForcePairGuardCutoff,
        s"cosineNearDupPairs is an n(n-1)/2 brute-force self-join: at n=$n (> " +
          s"$BruteForcePairGuardCutoff) that is ${n * (n - 1) / 2} exact cosine " +
          "comparisons and grows quadratically from here. Use " +
          "cosineNearDupPairsLshAuto (LSH-blocked candidates, exact scoring, " +
          "width sized from the corpus count), or pass allowBruteForce=true " +
          "to knowingly run the exact baseline.")
    }
    val withNorm = graft.SparkUtil.ensureParallelism(df)
      .select(col(idCol).as("id"), col(vecCol).as("v"),
      norm2(col(vecCol), dim).as("n2"))
    withNorm.as("x").join(withNorm.as("y"), col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        cosineWithNorms(dot(col("x.v"), col("y.v"), dim), col("x.n2"), col("y.n2"))
          .as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /**
   * Exact batch kNN join: for EVERY row of a (small) query batch, its
   * top-k corpus neighbors by cosine — the "attach nearest neighbors to
   * each eval/centroid/probe vector" operator, i.e. [[topKCosine]]
   * vectorized over queries.
   *
   * Scale design (100 TB posture): the query batch is broadcast and the
   * corpus is scored in ONE narrow pass (corpus × |queries| scored rows,
   * never materialized as a shuffle); the per-query top-k is a
   * (query_id)-partitioned rank window that Spark plans as
   * `WindowGroupLimit` — each map task forwards at most k rows per
   * query, so the shuffle carries ≤ k·|queries| rows per task no matter
   * the corpus size. The right operator while the batch side fits a
   * broadcast (eval sets, codebooks, probe sets); for corpus×corpus
   * scale use [[cosineNearDupPairsLsh]] / [[knnJoinLshBipartiteAuto]].
   *
   * AT-SCALE GUARD (the q18 rule on the bipartite face, named by the
   * round-11 100× sweep): when BOTH sides grow with the corpus — q140's
   * hard-negative mining scores every positive against every negative —
   * the |corpus|×|queries| scored-row volume is quadratic (measured
   * 303 s at 20 K × 100 K = 2 G dot products, 20×/decade). Past
   * [[BruteForcePairGuardCutoff]]² products the call refuses without
   * `allowBruteForce = true` and points at [[knnJoinLshBipartiteAuto]].
   * The two guard counts run eagerly at plan-construction time
   * (parquet-metadata cheap); `corpusHint`/`queryHint >= 0` supply
   * caller-held counts instead.
   */
  def knnJoin(df: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      queryIdCol: String = "vec_id", dim: Int = 64,
      allowBruteForce: Boolean = false, corpusHint: Long = -1L,
      queryHint: Long = -1L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    if (!allowBruteForce) {
      val budget = BruteForcePairGuardCutoff * BruteForcePairGuardCutoff
      // Division-form product checks throughout: `cn * qn` overflows Long
      // past ~4e9 × ~4e9 rows — exactly the regime this guard exists for —
      // and a wrapped-negative product would silently PASS the require.
      def within(c: Long, q: Long): Boolean = c == 0 || q == 0 || c <= budget / q
      // Short-circuit on cheap upper bounds (caller hints or parquet
      // footer counts): sound to PASS with (over-counting only tightens
      // the check), never used to refuse.
      val cub = if (corpusHint >= 0) Some(corpusHint)
        else graft.SparkUtil.cheapRowCountUpperBound(df)
      val qub = if (queryHint >= 0) Some(queryHint)
        else graft.SparkUtil.cheapRowCountUpperBound(queries)
      val cheapPass = (for { c <- cub; q <- qub } yield within(c, q)).getOrElse(false)
      if (!cheapPass) {
        val cn = if (corpusHint >= 0) corpusHint
          else graft.SparkUtil.sizingCount(df)
        val qn = if (queryHint >= 0) queryHint
          else graft.SparkUtil.sizingCount(queries)
        graft.GuardRefusal.check(within(cn, qn),
          s"knnJoin scores every query against every corpus row: at " +
            s"|corpus|=$cn x |queries|=$qn that is ${BigInt(cn) * BigInt(qn)} exact cosine " +
            s"comparisons (> $budget) and grows quadratically when both sides " +
            "grow with the corpus. Use knnJoinLshBipartiteAuto (LSH-bucketed " +
            "candidates, exact scoring, width sized from the corpus count), " +
            "or pass allowBruteForce=true to knowingly run the exact batch join.")
      }
    }
    val q = broadcast(queries.select(
      col(queryIdCol).as("query_id"), col(vecCol).as("__qvec")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col(idCol).asc)
    graft.SparkUtil.ensureParallelism(df).crossJoin(q)
      .select(col("query_id"), col(idCol),
        cosine(col(vecCol), col("__qvec"), dim).as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /**
   * Symmetric int8 quantization summary per embedding: `scale =
   * absmax/127`, `q_i = floor(v_i/scale + 0.5)` (identical floor-plus-
   * half spelling on both engines — never the engine's `round()`, whose
   * half-way tie rule is an implementation detail), reported as
   * (scale, q_min, q_max, q_hash) where q_hash is the base-31 polynomial
   * fold of the q_i sequence — a full-content checksum of the quantized
   * vector without an array-typed output column. Zero vectors quantize
   * to all-zero codes (scale 0 guard).
   *
   * This is the storage/IO face of ANN at 100 TB: int8 codes are 4×
   * smaller than float32, and the per-vector scale is what the re-rank
   * needs to dequantize. Pure per-row projection — no shuffle; the q_i
   * are projected into real columns FIRST and the summary reads them,
   * so each code is computed once, not once per consumer (Catalyst
   * keeps multiply-referenced projections split).
   */
  def quantizeInt8(df: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", dim: Int = 64): DataFrame = {
    import graft.functions.TextFunctions.HashPrime
    val absmax = greatest((1 to dim).map(i =>
      abs(element_at(col(vecCol), i).cast("double"))): _*)
    val base = df.select(col(idCol), col(vecCol), (absmax / 127.0).as("scale"))
    val qCols = (1 to dim).map(i =>
      when(col("scale") === 0.0, lit(0L))
        .otherwise(floor(element_at(col(vecCol), i).cast("double") / col("scale") + 0.5))
        .as(s"__q$i"))
    val q = base.select(col(idCol) +: col("scale") +: qCols: _*)
    val hash = (1 to dim).foldLeft(lit(0L)) { (h, i) =>
      (h * 31 + (col(s"__q$i") + 128)) % HashPrime
    }
    q.select(col(idCol), col("scale"),
      least((1 to dim).map(i => col(s"__q$i")): _*).as("q_min"),
      greatest((1 to dim).map(i => col(s"__q$i")): _*).as("q_max"),
      hash.as("q_hash"))
  }

  /**
   * Int8 quantization-error report per vector: the max and micro-exact
   * mean absolute reconstruction error `|v_i − q_i·scale|` of
   * [[quantizeInt8]]'s symmetric codes — the number that decides
   * whether 4× compression is safe for a given recall target (the
   * trust audit for q59's codes, the way q175 audits q89's
   * signatures). Per-component errors are the same fixed double chains
   * both engines replay; the MEAN rides the shared `floor(·10⁹+0.5)`
   * integer sum (nano-scaled — errors live near zero, so micro would
   * quantize them away).
   *
   * Spark shape: a pure per-row projection (scale, codes, errors all
   * in one narrow pass) — zero shuffle, zero joins.
   */
  def quantizationErrorReport(df: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", dim: Int = 64): DataFrame = {
    val absmax = greatest((1 to dim).map(i =>
      abs(element_at(col(vecCol), i).cast("double"))): _*)
    val base = df.select(col(idCol), col(vecCol), (absmax / 127.0).as("scale"))
    val errCols = (1 to dim).map { i =>
      val v = element_at(col(vecCol), i).cast("double")
      val q = when(col("scale") === 0.0, lit(0L))
        .otherwise(floor(v / col("scale") + 0.5))
      abs(v - q * col("scale")).as(s"__e$i")
    }
    val e = base.select(col(idCol) +: col("scale") +: errCols: _*)
    val sumNano = (1 to dim).map(i =>
      floor(col(s"__e$i") * lit(1000000000.0) + lit(0.5)).cast("long"))
      .reduce(_ + _)
    e.select(col(idCol), col("scale"),
      greatest((1 to dim).map(i => col(s"__e$i")): _*).as("max_abs_err"),
      (sumNano.cast("double") / lit(dim.toDouble * 1000000000.0))
        .as("mean_abs_err"))
  }

  /** IVF-style ANN top-k: a small centroid table partitions the corpus
    * into `nlist` cells; the query probes its `nprobe` nearest cells and
    * re-ranks candidates by exact cosine.
    *
    * Centroids are the `nlist` lowest-id vectors — a deterministic public
    * stand-in for a k-means codebook (the index *structure* is identical;
    * training better centroids is an offline concern orthogonal to the
    * query path). Like real IVF, the codebook is a driver-side model
    * artifact: collected once (≤ nlist rows), then burned into the plan as
    * literals, so cell assignment is ONE codegen'd projection — a
    * `greatest` over per-centroid (cosine, -cid) structs — with no join
    * and no shuffle. The full plan is scan → project → filter(probed
    * cells) → TakeOrderedAndProject: at cluster scale the only data
    * movement is the final top-k gather. Tie-breaks (max cosine, then min
    * cid; final order score desc, id asc) are explicit, so the whole
    * operator is deterministic and exactly SQL-oracleable — unlike
    * hash-bucket ANN, the approximation is in the *index*, not the
    * execution. */
  def annTopKIvf(df: DataFrame, query: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      dim: Int = 64, nlist: Int = 16, nprobe: Int = 4,
      codebook: Option[Seq[Array[Float]]] = None): DataFrame = {
    val session = df.sparkSession
    import session.implicits._
    val cents: Seq[(Long, Array[Float])] = codebook match {
      case Some(cs) => cs.zipWithIndex.map { case (cv, i) => (i.toLong, cv) }
      case None => df.filter(col(idCol) < nlist)
        .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
        .as[(Long, Array[Float])].collect().sortBy(_._1).toSeq
    }
    require(cents.size >= 2, s"IVF needs >= 2 centroids, found ${cents.size}")
    val qv = query.select(col(vecCol).cast("array<float>"))
      .as[Array[Float]].head()
    val probed = cents.map { case (cid, cv) => (cosD(cv, qv), cid) }
      .sortBy { case (c, cid) => (-c, cid) }.take(nprobe).map(_._2)
    val q = broadcast(query.select(col(vecCol).as("__qvec")))
    df.withColumn("__cid", cellAssign(col(vecCol), cents, dim))
      .filter(col("__cid").isin(probed: _*))
      .crossJoin(q)
      .select(col(idCol), cosine(col(vecCol), col("__qvec"), dim).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /**
   * Semantic deduplication (SemDeDup-style): partition the corpus into
   * IVF cells (nearest centroid by cosine, literal codebook — the q30
   * index), then within each cell drop every vector that has a
   * SMALLER-ID near-duplicate at cosine >= `threshold`. Keeps exactly
   * one representative (the least id) of each within-cell near-dup
   * clique chain — the embedding-space analog of the text pipeline's
   * LSH-pairs → components → representatives, at a fraction of the cost
   * because candidate pairs never leave their cell.
   *
   * Keep rule semantics: a vector is dropped iff SOME smaller-id
   * neighbor (dropped or kept) sits within `threshold` in its cell —
   * "exists" semantics, not sequential greedy. Deterministic, one
   * relational pass, and exactly what the paper's per-cluster
   * keep-lowest-index variant computes.
   *
   * Scale design (100 TB posture): the pair join is an equi-join on the
   * cell id — never a cross join; with `nlist` scaled ~sqrt(corpus) (the
   * SemDeDup recipe, codebook from [[trainIvfCentroids]]) expected cell
   * sizes stay bounded, so the within-cell compare space is n²/nlist.
   * Cell assignment is the same zero-shuffle codegen'd projection as the
   * q30 query path; the approximation (near-dups straddling a cell
   * boundary are missed) lives in the INDEX, the execution is exact and
   * SQL-replayable.
   *
   * AT-SCALE GUARD (the q58/q16 refusal rule, extended here by the
   * round-11 100× sweep): a FIXED `nlist` means expected cell occupancy
   * `n / nlist` grows linearly with the corpus and the within-cell
   * self-join quadratically — measured 138 s at 200 K vectors (12.5 K
   * occupancy, ~2.5 G in-cell pairs), the worst runnable row of the
   * full-inventory 100× sweep. Past expected occupancy
   * [[FixedWidthOccupancyGuardCutoff]] the call refuses without
   * `allowFixedCells = true`: large corpora should use
   * [[semanticDedupAuto]], whose SRP sub-split keeps the compare space
   * ≈ n·targetCell. The guard count is parquet-metadata cheap (and the
   * centroid collect below is already eager); `nHint >= 0` supplies a
   * caller-held count instead (the Dedup convention).
   */
  def semanticDedup(df: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      dim: Int = 64, nlist: Int = 16,
      codebook: Option[Seq[Array[Float]]] = None,
      allowFixedCells: Boolean = false, nHint: Long = -1L): DataFrame = {
    // occ = n/nlist <= cutoff is implied by n <= cutoff*nlist, so a cheap
    // footer-count upper bound within that product passes without a job
    if (!allowFixedCells &&
        !(nHint < 0 && graft.SparkUtil.cheapCountAtMost(df,
          FixedWidthOccupancyGuardCutoff * math.max(1, nlist)))) {
      val n = if (nHint >= 0) nHint else graft.SparkUtil.sizingCount(df)
      val occ = n / math.max(1, nlist)
      graft.GuardRefusal.check(occ <= FixedWidthOccupancyGuardCutoff,
        s"semanticDedup with fixed nlist=$nlist puts ~$occ vectors in each " +
          s"cell at n=$n (> $FixedWidthOccupancyGuardCutoff): the within-cell " +
          "self-join is quadratic in the corpus from here. Use " +
          "semanticDedupAuto (SRP sub-split sized from the corpus count, " +
          "linear compare space), or pass allowFixedCells=true to knowingly " +
          "keep the fixed-cell reference semantics.")
    }
    semanticDedupImpl(df, threshold, idCol, vecCol, dim, nlist, codebook,
      subPlanes = 0)
  }

  /**
   * [[semanticDedup]] with the within-cell sub-split width sized from
   * MEASURED per-cell bucket occupancy — the q265 treatment
   * ([[cosineNearDupPairsLshAutoWidth]]) applied inside the IVF cell.
   * The SemDeDup ~sqrt(n) nlist recipe was tried first and REJECTED
   * here: the codebook rides the plan as one literal codegen'd
   * `greatest` chain (dim multiply-adds per centroid), so growing
   * nlist past a few dozen centroids explodes the generated method
   * past the JIT sweet spot — measured 6× SLOWER than fixed-16 at the
   * 10× probe point with 142 centroids, the assignment dominating the
   * join it was meant to shrink. Instead the codebook stays at q67's
   * 16 literal centroids (fast, zero-shuffle) and cells split by an
   * SRP sub-bucket whose width answers to the MEASURED within-cell
   * candidate volume, not to the uniform expectation `n/nlist`: the
   * round-14 1000× probe proved SRP/IVF occupancy expectations are
   * fiction on clustered corpora (single buckets held 500× their
   * isotropic mass — BASELINE.md Adjudication 2), and a hot cell at
   * 10× the average occupancy makes the within-cell self-join
   * quadratic in the HOT cell no matter what the average says. So
   * past the small regime (`n/nlist <= targetCell`, where zero
   * sub-planes is exactly q67's rule and its oracle covers the
   * delegation) the width decision ([[semanticDedupAutoSubPlanes]])
   * measures the per-(cell, sub-bucket) histogram once at the
   * 30-plane clamp width, replays the ladder against it, escalates
   * until the measured candidate sum fits `n × maxCandidatesPerVec`,
   * and REFUSES with the measured numbers when even the clamp cannot
   * fit — the former silent 12-plane clamp reintroduced super-linear
   * growth past ~4 M vectors with no refusal (VERDICT r14 #1).
   *
   * The added approximation (near-dups straddling a sub-bucket
   * boundary are missed) lives in the index like the cell boundary
   * itself, and a dense near-dup cluster — which shares SRP sign bits
   * at any width — stays together, so dedup RECALL on true clusters
   * is preserved while uncorrelated cell mass splits.
   */
  def semanticDedupAuto(df: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      dim: Int = 64, targetCell: Int = 64, nlist: Int = 16,
      maxCandidatesPerVec: Int = 2048): DataFrame = {
    val n = graft.SparkUtil.sizingCount(df)
    if (n / math.max(1, nlist) <= targetCell)
      // small regime: zero sub-planes = exactly q67's rule (oracle-
      // covered delegation); no measurement jobs beyond the count above
      return semanticDedupImpl(df, threshold, idCol, vecCol, dim, nlist,
        None, subPlanes = 0)
    val cents = collectSeedCentroids(df, idCol, vecCol, nlist)
    val subPlanes = semanticDedupAutoSubPlanes(df, vecCol, dim, targetCell,
      nlist, cents, n, maxCandidatesPerVec)
    semanticDedupWithCents(df, threshold, idCol, vecCol, dim, cents,
      subPlanes)
  }

  /** Sub-split clamp, mirroring [[lshWidthLadder]]'s single-table
    * 30-plane ceiling: past it the surviving buckets are genuinely
    * dense and widening buys nothing. */
  private[graft] val SemanticDedupMaxSubPlanes: Int = 30

  /** Single-table analog of [[lshWidthLadder]] for the within-cell
    * sub-split: start at the expectation pick, widen 5 planes per step
    * up to the clamp. Pure function (unit-testable). */
  private[graft] def semanticDedupSubPlaneLadder(p0: Int): Seq[Int] =
    ((p0 to SemanticDedupMaxSubPlanes by 5) :+ SemanticDedupMaxSubPlanes)
      .distinct

  /** Element type of the guard-aggregate sums. A LongType Σ m·(m−1)
    * wraps negative once a single bucket/cell holds ≳3×10⁹ rows — with
    * ANSI off the wrap is silent, so `last <= budget` would accept a
    * width whose true volume is catastrophically over budget: the guard
    * built to stop quadratic blowups would fail OPEN exactly in the
    * regime it exists for (VERDICT r15; q115's decimal join-size
    * products are the codebase precedent). decimal(38,0) cannot itself
    * overflow here: m ≤ n ≤ Long.MaxValue ≈ 9.2×10¹⁸, so Σ m·(m−1) ≤
    * n² < 8.6×10³⁷ < 10³⁸ by construction. */
  private val GuardDecimal = org.apache.spark.sql.types.DecimalType(38, 0)

  /** Read a guard aggregate's decimal(38,0) value back as a Long,
    * saturating at Long.MaxValue: every caller compares `<= budget`
    * with a budget that is itself ≤ Long.MaxValue, so saturation
    * preserves the accept/escalate verdict while keeping the Long call
    * sites unchanged. */
  private[graft] def satLongOfDecimal(v: java.math.BigDecimal): Long =
    if (v == null) 0L
    else if (v.compareTo(java.math.BigDecimal.valueOf(Long.MaxValue)) >= 0)
      Long.MaxValue
    else v.longValueExact()

  /** Σ m·(m−1)/2 over an `m`-column histogram, summed in decimal(38,0)
    * ([[GuardDecimal]]) and saturated on the way out. m·(m−1) is even
    * per term, so the integral halving after the sum is exact. */
  private[graft] def pairVolumeFromHist(hist: DataFrame): Long =
    hist.agg(sum(col("m").cast(GuardDecimal) * (col("m") - lit(1L)))
        .as("p2"))
      .head().getDecimal(0) match {
        case null => 0L
        case d    => satLongOfDecimal(
          d.divideToIntegralValue(java.math.BigDecimal.valueOf(2L)))
      }

  /** Measured within-(cell, sub-bucket) candidate pairs at `subPlanes`,
    * re-aggregated from the cached (cell, clamp-width bits, m)
    * histogram: SRP bits are prefix-stable — plane j's weights ignore
    * nPlanes (spec-pinned) — so masking the low `subPlanes` bits IS
    * `lshBucket` at that width, and each ladder rung costs one narrow
    * agg over the histogram, never another corpus scan. The inner
    * Σ m per sub-bucket stays Long (bounded by the corpus count); the
    * pair product sums in decimal ([[pairVolumeFromHist]]). */
  private[graft] def measuredWithinCellPairs(hist: DataFrame,
      subPlanes: Int): Long =
    pairVolumeFromHist(hist.groupBy(col("cell"),
        col("__b").bitwiseAND(lit((1L << subPlanes) - 1)).as("__sb"))
      .agg(sum(col("m")).as("m")))

  /** The sub-split width decision behind [[semanticDedupAuto]],
    * separated so specs can assert the CHOSEN width (otherwise
    * invisible inside the delegated plan). One corpus scan builds the
    * per-(cell, 30-plane sub-bucket) histogram; every rung replays
    * against the cached histogram ([[measuredWithinCellPairs]]). */
  private[graft] def semanticDedupAutoSubPlanes(df: DataFrame,
      vecCol: String, dim: Int, targetCell: Int, nlist: Int,
      cents: Seq[(Long, Array[Float])], n: Long,
      maxCandidatesPerVec: Int): Int = {
    val occ = n / math.max(1, nlist)
    val want = math.max(1L, occ / targetCell)
    // the retired uniform-expectation rule survives only as the
    // ladder's starting rung
    val p0 = 64 - java.lang.Long.numberOfLeadingZeros(math.max(0L, want - 1))
    val budget = candidateBudget(n, maxCandidatesPerVec)
    val hist = df.select(cellAssign(col(vecCol), cents, dim).as("cell"),
        lshBucket(col(vecCol), dim, SemanticDedupMaxSubPlanes).as("__b"))
      .groupBy(col("cell"), col("__b")).agg(count(lit(1)).as("m"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var last = 0L
      semanticDedupSubPlaneLadder(p0).foreach { p =>
        last = measuredWithinCellPairs(hist, p)
        if (last <= budget) return p
      }
      throw new graft.GuardRefusal(
        s"semanticDedupAuto: measured within-cell candidate volume at " +
        s"the widest sub-split (subPlanes=$SemanticDedupMaxSubPlanes " +
        s"over nlist=$nlist cells) is $last pairs " +
        s"(~${last / math.max(1L, n)}/vector) over n=$n vectors — above " +
        s"the $maxCandidatesPerVec/vector budget even at the clamp, so " +
        s"the hot cells hold genuinely dense clusters whose compare " +
        s"space is inherently quadratic. Either raise " +
        s"maxCandidatesPerVec to knowingly pay it, pre-collapse exact " +
        s"duplicates first (Dedup.exact on a content key, or PQ codes " +
        s"via pqEncode), or call semanticDedup(allowFixedCells=true) " +
        s"to keep the fixed-cell reference semantics.")
    } finally hist.unpersist(false)
  }

  /** The q67 seed codebook: the `nlist` lowest-id vectors, collected
    * once (bounded driver artifact — nlist × dim floats). */
  private def collectSeedCentroids(df: DataFrame, idCol: String,
      vecCol: String, nlist: Int): Seq[(Long, Array[Float])] = {
    val session = df.sparkSession
    import session.implicits._
    val cents = df.filter(col(idCol) < nlist)
      .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .as[(Long, Array[Float])].collect().sortBy(_._1).toSeq
    require(cents.size >= 2,
      s"semanticDedup needs >= 2 centroids, found ${cents.size}")
    cents
  }

  private def semanticDedupImpl(df: DataFrame, threshold: Double,
      idCol: String, vecCol: String, dim: Int, nlist: Int,
      codebook: Option[Seq[Array[Float]]], subPlanes: Int): DataFrame = {
    val cents: Seq[(Long, Array[Float])] = codebook match {
      case Some(cs) => cs.zipWithIndex.map { case (cv, i) => (i.toLong, cv) }
      case None => collectSeedCentroids(df, idCol, vecCol, nlist)
    }
    semanticDedupWithCents(df, threshold, idCol, vecCol, dim, cents,
      subPlanes)
  }

  private def semanticDedupWithCents(df: DataFrame, threshold: Double,
      idCol: String, vecCol: String, dim: Int,
      cents: Seq[(Long, Array[Float])], subPlanes: Int): DataFrame = {
    require(cents.size >= 2,
      s"semanticDedup needs >= 2 centroids, found ${cents.size}")
    val sub = if (subPlanes > 0) lshBucket(col(vecCol), dim, subPlanes)
      else lit(0L)
    val base = graft.SparkUtil.trackCache(
      graft.SparkUtil.ensureParallelism(df)
        .select(col(idCol).as("id"), col(vecCol).as("v"),
          norm2(col(vecCol), dim).as("n2"),
          cellAssign(col(vecCol), cents, dim).as("cell"),
          sub.as("__sub")))
    val drops = base.as("x").join(base.as("y"),
        col("x.cell") === col("y.cell") && col("x.__sub") === col("y.__sub") &&
          col("x.id") < col("y.id"))
      .filter(cosineWithNorms(dot(col("x.v"), col("y.v"), dim),
        col("x.n2"), col("y.n2")) >= threshold)
      .select(col("y.id").as("__drop")).distinct()
    base.join(drops, col("id") === col("__drop"), "left_anti")
      .select(col("id").as(idCol), col("cell"))
  }

  /** Nearest-cell id for a vector against a literal codebook: ONE
    * codegen'd `greatest` over per-centroid (cosine, -cid) structs — max
    * cosine, ties to the lowest cid. No join, no shuffle. */
  private def cellAssign(v: Column, cents: Seq[(Long, Array[Float])],
      dim: Int): Column =
    -greatest(cents.map { case (cid, cv) =>
      struct(cosine(v, typedLit(cv), dim).as("cos"), lit(-cid).as("ncid"))
    }: _*).getField("ncid")

  /** Driver-side dot/cosine with the same ascending-index double
    * accumulation as DotProductF32 / the SQL oracle — bit-identical
    * ordering wherever driver and executor math meet. */
  private def dotD(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }
  private def cosD(a: Array[Float], b: Array[Float]): Double =
    dotD(a, b) / (math.sqrt(dotD(a, a)) * math.sqrt(dotD(b, b)))

  /**
   * Spherical k-means codebook training for the IVF index: Lloyd
   * iterations with cosine assignment, seeded deterministically with the
   * `nlist` lowest-id vectors.
   *
   * Spark shape per iteration: assignment is the same single codegen'd
   * projection the query path uses (codebook as literals — no join), and
   * the mean update is one `groupBy(cell)` over `dim` per-component sums
   * with map-side partial aggregation, so the shuffle carries at most
   * `nlist × dim` doubles per map task regardless of corpus size — the
   * canonical scalable k-means step. The driver only ever holds the
   * codebook (`nlist × dim` floats), never row data.
   *
   * Determinism note: per-component sums are floating-point reductions
   * whose association order depends on partitioning, so trained centroids
   * can differ at the last ulp across cluster layouts (inherent to any
   * distributed mean). The *query* path stays exact for whatever codebook
   * is passed; the SQL-oracled q30 uses the seed codebook, which is fully
   * replayable.
   */
  def trainIvfCentroids(df: DataFrame, nlist: Int = 16, iters: Int = 5,
      idCol: String = "vec_id", vecCol: String = "embedding",
      dim: Int = 64): Seq[Array[Float]] = {
    val session = df.sparkSession
    import session.implicits._
    var cents: Seq[Array[Float]] = df.filter(col(idCol) < nlist)
      .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .as[(Long, Array[Float])].collect().sortBy(_._1).map(_._2).toSeq
    require(cents.size >= 2, s"k-means needs >= 2 seeds, found ${cents.size}")
    val sumCols = (1 to dim).map(i =>
      sum(element_at(col("__v"), i).cast("double")).as(s"s$i"))
    for (_ <- 1 to iters) {
      val indexed = cents.zipWithIndex.map { case (cv, i) => (i.toLong, cv) }
      val cellMeans = df
        .select(cellAssign(col(vecCol), indexed, dim).as("__cell"),
          col(vecCol).as("__v"))
        .groupBy("__cell")
        .agg(count(lit(1)).as("n"), sumCols: _*)
        .collect()
        .map { r =>
          val n = r.getLong(1).toDouble
          r.getLong(0).toInt -> Array.tabulate(dim)(i => (r.getDouble(i + 2) / n).toFloat)
        }.toMap
      // empty cells keep their previous centroid (standard Lloyd fallback)
      cents = cents.zipWithIndex.map { case (old, i) => cellMeans.getOrElse(i, old) }
    }
    cents
  }

  /** Explode a multi-table SRP bit string into (table, bucket) keys —
    * table t's bucket is bits [t*nPlanes, (t+1)*nPlanes). The bit string
    * is projected once per row; slicing is trivial bit math. */
  private[graft] def srpTableKeys(bits: Column, nPlanes: Int, nTables: Int): Column = {
    val mask = (1L << nPlanes) - 1
    explode(array((0 until nTables).map(t =>
      struct(lit(t).as("t"),
        shiftright(bits, t * nPlanes).bitwiseAND(lit(mask)).as("b"))): _*))
  }

  /** Multiprobe variant of [[srpTableKeys]] for the QUERY side: per
    * table, the exact bucket plus every bucket within Hamming distance
    * `probeBits` of it — a near-miss on one (or two) hyperplanes' signs
    * no longer costs the whole table. Probing is query-side only, so
    * the corpus index stays at `nTables` rows per vector; only the
    * (tiny, or residual-slice) probe set grows: `(nPlanes+1)×` at depth
    * 1, plus `(nPlanes choose 2)×` at depth 2 (the q267 recall@10
    * frontier — depth 2 is probe-tool-measured before any face ships
    * it). probeBits 0 = [[srpTableKeys]] semantics. */
  private[graft] def srpProbeKeys(bits: Column, nPlanes: Int, nTables: Int,
      probeBits: Int): Column = {
    require(probeBits >= 0 && probeBits <= 2,
      s"probeBits=$probeBits must be 0, 1, or 2")
    val mask = (1L << nPlanes) - 1
    explode(flatten(array((0 until nTables).map { t =>
      val b = shiftright(bits, t * nPlanes).bitwiseAND(lit(mask))
      val h1 = if (probeBits >= 1)
        (0 until nPlanes).map(j => b.bitwiseXOR(lit(1L << j)))
      else Seq.empty[Column]
      val h2 = if (probeBits >= 2)
        (for { i <- 0 until nPlanes; j <- i + 1 until nPlanes }
          yield b.bitwiseXOR(lit((1L << i) | (1L << j))))
      else Seq.empty[Column]
      val variants = b +: (h1 ++ h2)
      array(variants.map(v => struct(lit(t).as("t"), v.as("b"))): _*)
    }: _*)))
  }

  /** Approximate top-k: multi-table SRP-LSH candidates re-ranked by exact
    * cosine — the standard (Indyk-Motwani) table-union construction. Each
    * of `nTables` independent tables hashes with its own `nPlanes` sign
    * projections; a candidate is any vector sharing one of the query's
    * probed buckets in AT LEAST ONE table. Without multiprobe
    * (`probeBits = 0`), per-match recall is `1-(1-p^nPlanes)^nTables`
    * (p = 1 - angle/pi) instead of the single-table `p^nPlanes`; with the
    * default 1-bit multiprobe the per-table hit rate rises to
    * `p^n + n·p^(n-1)(1-p)` (Hamming ≤ 1 on the sketch), which is what
    * pushes recall@10 past 0.9 at practical table counts (spec-pinned
    * floor).
    *
    * `probeBits = 2` is the measured recall@10 frontier (r16 1000× probe:
    * 0.375 -> 0.5375 at 1.6x per-query cost on a 2 M corpus): the
    * (1 + p + C(p,2))x probe set is query-side only and the candidate
    * bound stays ~targetBucket x probes per table, but the probe-key
    * array falls out of whole-stage codegen past ~100 elements (janino
    * method-size wall) — fine for the tiny broadcast query side, wrong
    * as a default; opt in for recall-sensitive top-k retrieval.
    *
    * Spark shape: ONE native codegen'd projection computes all
    * `nTables*nPlanes` sign bits (a single 63-bit bucket), bit-sliced
    * into per-table buckets and exploded to (table, bucket) keys; the
    * query side (tiny) is broadcast and the candidate match is a pure
    * equi-join — never a cross join. Explode cost is nTables rows per
    * corpus vector — the standard LSH space/recall trade, same shape as
    * MinHash banding.
    *
    * Determinism with multi-row queries: a candidate's score is its MAX
    * cosine over all query rows it collides with ("nearest to any
    * query"), computed by a hash aggregation over bare (id, score) rows —
    * no arbitrary which-query-row-survived pick, so the output is
    * deterministic for any query cardinality (single-row queries, the
    * common case, are unaffected). */
  def annTopKLsh(df: DataFrame, query: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      dim: Int = 64, nPlanes: Int = 4, nTables: Int = 15,
      probeBits: Int = 1): DataFrame = {
    require(nPlanes * nTables <= 63, "nPlanes * nTables must fit in 63 bits")
    val totalPlanes = nPlanes * nTables
    val bucketed = graft.SparkUtil.ensureParallelism(df)
      .select(col(idCol), col(vecCol),
        lshBucket(col(vecCol), dim, totalPlanes).as("__bits"))
      .select(col(idCol), col(vecCol),
        srpTableKeys(col("__bits"), nPlanes, nTables).as("__tb"))
    val q = broadcast(query
      .select(col(vecCol).as("__qvec"),
        lshBucket(col(vecCol), dim, totalPlanes).as("__qbits"))
      .select(col("__qvec"),
        srpProbeKeys(col("__qbits"), nPlanes, nTables, probeBits).as("__qtb")))
    bucketed.join(q, col("__tb") === col("__qtb"))
      .select(col(idCol), cosine(col(vecCol), col("__qvec"), dim).as("score"))
      .groupBy(col(idCol)).agg(max(col("score")).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /**
   * [[annTopKLsh]] with the index width sized from the corpus count
   * ([[lshPlanesFor]]): at fixed nPlanes=4 every query touches
   * ~n/16 × nTables corpus rows — a per-query cost LINEAR in the
   * corpus, i.e. a disguised scan at 100 TB. Width that grows with n
   * keeps the per-query candidate set ≈ targetBucket × nTables at any
   * scale (multiprobe adds its bounded (nPlanes+1)× on the query side
   * only). On a corpus small enough that minPlanes binds this is
   * exactly the explicit call — (4, 15) at the default maxTables, the
   * q19 config — so the q19-shape oracle covers the delegation at
   * correctness scale (spec-pinned).
   */
  def annTopKLshAuto(df: DataFrame, query: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      dim: Int = 64, targetBucket: Int = 64, maxTables: Int = 15,
      probeBits: Int = 1): DataFrame = {
    val (nPlanes, nTables) = lshPlanesFor(graft.SparkUtil.sizingCount(df),
      targetBucket, maxTables = maxTables)
    annTopKLsh(df, query, k, idCol, vecCol, dim, nPlanes, nTables, probeBits)
  }

  /** Floor of the SRP index width — below it a corpus is at most
    * `targetBucket · 2^LshMinPlanes` rows, too small for any width to be
    * quadratic-dangerous, so the auto paths skip occupancy measurement
    * there (and the sf0.01 oracle's fixed (4, 8) config binds). */
  private[graft] val LshMinPlanes: Int = 4

  /**
   * Index-width sizing for the SRP-LSH family: the number of hash
   * planes must GROW with the corpus or bucket occupancy — and with it
   * candidate-pair generation, which is Σ(bucket size²) per table —
   * grows linearly in n and the join quadratically. The round-9 10×
   * scale probe measured exactly that: fixed nPlanes=4 (16
   * buckets/table) took [[knnJoinLsh]] from 1.2 s to 30 s at 10× rows
   * (25×, super-linear) while every width-bounded operator scaled
   * sub-linearly. This picks `nPlanes = ceil(log2(n / targetBucket))`
   * (clamped to [minPlanes, 30]) so expected occupancy stays ≈
   * `targetBucket` at ANY corpus size, then fits `nTables` into the
   * 63-bit key budget (fewer, finer tables at extreme widths — the
   * standard LSH recall/space re-trade, made explicit here).
   * Pure function of the counts, so the sizing itself is unit-testable
   * without data.
   */
  private[graft] def lshPlanesFor(n: Long, targetBucket: Int = 64,
      minPlanes: Int = LshMinPlanes, maxTables: Int = 8): (Int, Int) = {
    require(targetBucket >= 1 && minPlanes >= 1 && maxTables >= 1)
    val want = math.max(1L, n / targetBucket)
    val bits = 64 - java.lang.Long.numberOfLeadingZeros(
      math.max(0L, want - 1)) // ceil(log2(want)); 0 for want == 1
    val nPlanes = math.min(30, math.max(minPlanes, bits))
    val nTables = math.max(1, math.min(maxTables, 63 / nPlanes))
    (nPlanes, nTables)
  }

  // ---- The SRP-LSH core. Every LSH join face (q41/q58/q103/q264-q266/
  // q276 and the knn5lsh artifact) is an equi-join on (table, bucket)
  // keys of the index below; the faces differ only in the id predicate,
  // the tail after scoring, and how the width is chosen. ----

  /** `n × perVec` candidates, saturated: the budget of every measured
    * width decision. */
  private def candidateBudget(n: Long, perVec: Int): Long =
    if (n > Long.MaxValue / perVec) Long.MaxValue else n * perVec

  /** The cached `(id, v, n2, __bits)` index of `df` — id, vector, squared
    * norm and the `width`-plane SRP bit string — that every LSH join
    * face keys. Norms ride along so each scored pair costs one dot
    * product. SRP bits are prefix-stable (plane j's weights ignore the
    * width — spec-pinned), so a base at width >= nPlanes·nTables slices
    * into the same keys as one at exactly that width. */
  private[graft] def srpBase(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, width: Int): DataFrame =
    graft.SparkUtil.trackCache(graft.SparkUtil.ensureParallelism(df)
      .select(col(idCol).as("id"), col(vecCol).as("v"),
        norm2(col(vecCol), dim).as("n2"),
        lshBucket(col(vecCol), dim, width).as("__bits")))

  /** (id, v, n2, __tb) rows of an [[srpBase]]: its (table, bucket) keys,
    * or at `probeBits` > 0 the query-side probe keys. */
  private def srpKeyed(base: DataFrame, nPlanes: Int, nTables: Int,
      probeBits: Int = 0): DataFrame =
    base.select(col("id"), col("v"), col("n2"),
      (if (probeBits > 0) srpProbeKeys(col("__bits"), nPlanes, nTables, probeBits)
      else srpTableKeys(col("__bits"), nPlanes, nTables)).as("__tb"))

  /** (tb, m) occupancy histogram of a `__bits` column at (nPlanes,
    * nTables) — one narrow groupBy, no vectors shuffled. Every measured
    * candidate volume is read off it: this is the OBSERVED occupancy,
    * which on clustered real data can be orders of magnitude above
    * [[lshPlanesFor]]'s isotropy expectation (the round-14 1000× probe
    * measured 2.8×10¹⁰ candidate pairs at the (15, 4) width whose
    * isotropic expectation was ~5×10⁸ — per-replica dominant directions
    * make SRP bits correlate, so buckets concentrate). */
  private[graft] def srpHist(bits: DataFrame, nPlanes: Int,
      nTables: Int): DataFrame =
    bits.select(srpTableKeys(col("__bits"), nPlanes, nTables).as("tb"))
      .groupBy(col("tb")).agg(count(lit(1)).as("m"))

  /** The scored bucket join: every (table, bucket) collision of keyed
    * rows `x` and `y` that passes `idPred` (over x's and y's ids) as
    * `(names._1, names._2, names._3)` = (x id, y id, exact cosine). Both
    * vectors are join inputs, so the cosine is computed inside the
    * equi-join's codegen and the vectors never travel with the pair. A
    * pair appears once per table it collides in. */
  private def scoredBucketJoin(x: DataFrame, y: DataFrame, dim: Int,
      idPred: Option[(Column, Column) => Column],
      names: (String, String, String)): DataFrame = {
    val on = col("x.__tb") === col("y.__tb")
    x.as("x").join(y.as("y"), idPred.fold(on)(p => on && p(col("x.id"), col("y.id"))))
      .select(col("x.id").as(names._1), col("y.id").as(names._2),
        cosineWithNorms(dot(col("x.v"), col("y.v"), dim),
          col("x.n2"), col("y.n2")).as(names._3))
  }

  /** The near-dup pair faces: the scored collisions of keyed rows `x`
    * and `y` at cosine >= `threshold` as (a, b, cosine), filtered BEFORE
    * the multi-table dedup so the hash agg sees only survivors, then
    * deduped on bare (id, id, cosine) rows. The score is a pure pair
    * function, so `max` is exact dedup. */
  private def nearDupPairs(x: DataFrame, y: DataFrame, dim: Int,
      threshold: Double, idPred: Option[(Column, Column) => Column],
      a: String, b: String): DataFrame =
    scoredBucketJoin(x, y, dim, idPred, (a, b, "cosine"))
      .filter(col("cosine") >= threshold)
      .groupBy(col(a), col(b)).agg(max(col("cosine")).as("cosine"))

  /** `keyed` with at most `c` members per (table, bucket), ranked by
    * Knuth-mix32(id) — deterministic, oracle-replayable, no popularity
    * bias; `Int.MaxValue` is no cap. The window sorts by the join key
    * the sort-merge join sorts by anyway, so a cap adds no Exchange. */
  private def capped(keyed: DataFrame, c: Int): DataFrame =
    if (c == Int.MaxValue) keyed else {
      val cw = org.apache.spark.sql.expressions.Window
        .partitionBy(col("__tb")).orderBy(
          graft.functions.TextFunctions.mix32(
            pmod(col("id"), lit(Sampling.IdFold))),
          col("id"))
      keyed.withColumn("__cr", row_number().over(cw))
        .filter(col("__cr") <= c).drop("__cr")
    }

  /**
   * The kNN faces' cut: scored collisions of query keys `q` against
   * candidate keys `cands`, deduped per (query_id, cand_id) and ranked to
   * the top k per query.
   *
   * PRE-CUT before the dedup agg (round-11, from the kNN probe's stage
   * table at 200 K vectors): the agg's input is EVERY candidate row
   * (~199 M) with nearly-unique (query_id, cand_id) keys, so map-side
   * partials reduce nothing and the global hash agg dominated the
   * operator at 71–96 s — candidate enumeration was 2.8 s and the
   * cosine verify 6.8 s. A rank window cut at k·nTables FIRST is
   * lossless for the final top-k: each distinct pair appears at most
   * nTables times (a candidate occupies ONE bucket per table, so even a
   * multiprobe query — whose per-table probe buckets are distinct —
   * matches it at most once per table), so fewer than k·nTables
   * candidate rows can precede the first copy of any true top-k pair.
   * Spark plans the cut as WindowGroupLimit (each map task forwards ≤
   * k·nTables rows per query) and both windows and the agg share the
   * hash(query_id) Exchange, so the 199 M-row shuffle disappears.
   */
  private def scoreCut(q: DataFrame, cands: DataFrame, k: Int, dim: Int,
      nTables: Int, excludeSelf: Boolean): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("cand_id").asc)
    scoredBucketJoin(q, cands, dim,
      if (excludeSelf) Some((a: Column, b: Column) => a =!= b) else None,
      ("query_id", "cand_id", "score"))
      .withColumn("__pr", row_number().over(w))
      .filter(col("__pr") <= k * nTables).drop("__pr")
      .groupBy(col("query_id"), col("cand_id"))
      .agg(max(col("score")).as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Both kNN faces: pass 1 cuts every query key of `qBase` against the
    * `bucketCap`-capped candidate keys of `cBase` (the same frame for the
    * self-join). `residual`, given, picks from (query keys, candidate
    * keys) the `qBase` rows that pass 1 leaves empty; they are re-probed
    * with 1-bit multiprobe against the tighter `residualBucketCap` and
    * unioned in — (nPlanes+1)× on that slice only, the index untouched. */
  private def knnPasses(qBase: DataFrame, cBase: DataFrame, k: Int,
      dim: Int, nPlanes: Int, nTables: Int, bucketCap: Int,
      residualBucketCap: Int, excludeSelf: Boolean,
      residual: Option[(DataFrame, DataFrame) => DataFrame]): DataFrame = {
    val qKeyed = srpKeyed(qBase, nPlanes, nTables)
    val cKeyed = if (cBase eq qBase) qKeyed else srpKeyed(cBase, nPlanes, nTables)
    def cut(q: DataFrame, cap: Int) =
      scoreCut(q, capped(cKeyed, cap), k, dim, nTables, excludeSelf)
    val first = cut(qKeyed, bucketCap)
    residual.fold(first)(rows => first.union(cut(
      srpKeyed(rows(qKeyed, cKeyed), nPlanes, nTables, probeBits = 1),
      math.min(bucketCap, residualBucketCap))))
  }

  /** Width ladder for the occupancy-measured escalation: start at
    * [[lshPlanesFor]]'s isotropy pick, widen 5 planes at a time up to
    * the 30-plane clamp, re-fitting nTables into the 63-bit key budget
    * at each step. Pure function of the starting width (unit-testable). */
  private[graft] def lshWidthLadder(p0: Int, maxTables: Int): Seq[(Int, Int)] =
    ((p0 to 30 by 5) :+ 30).distinct
      .map(p => (p, math.max(1, math.min(maxTables, 63 / p))))

  /** A measured ladder rung: its width, its candidate volume, and
    * whether that volume fits the walk's budget. */
  private final case class Rung(nPlanes: Int, nTables: Int, volume: Long,
      fits: Boolean)

  /** The one measured-width walk of the auto faces: the rungs of
    * [[lshWidthLadder]] from `p0`, each measured by `volume` over one
    * [[srpHist]] per side, until one fits `budget`; the 30-plane clamp
    * rung when none does. With `cachedBits` (one `__bits` frame per side
    * at >= 63 planes; the kNN graph's cached base) every rung reads it.
    * Otherwise the first rung hashes `sides` narrowly at its own width,
    * and escalation — the rare path — hashes each side ONCE at the 63-bit
    * clamp, persisted for the walk, and replays every later rung against
    * it: SRP bits are prefix-stable, so no rung re-scans a corpus. */
  private def walkWidthLadder(p0: Int, maxTables: Int, budget: Long,
      sides: Seq[DataFrame], vecCol: String, dim: Int,
      cachedBits: Option[Seq[DataFrame]] = None)(
      volume: Seq[DataFrame] => Long): Rung = {
    def hashed(width: Int) =
      sides.map(_.select(lshBucket(col(vecCol), dim, width).as("__bits")))
    def measure(bits: Seq[DataFrame], p: Int, t: Int): Rung = {
      val v = volume(bits.map(srpHist(_, p, t)))
      Rung(p, t, v, v <= budget)
    }
    val ladder = lshWidthLadder(p0, maxTables)
    val (p1, t1) = ladder.head
    var last = measure(cachedBits.getOrElse(hashed(p1 * t1)), p1, t1)
    if (last.fits) return last
    val wide = cachedBits.getOrElse(hashed(63).map(
      _.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)))
    try {
      ladder.tail.foreach { case (p, t) =>
        last = measure(wide, p, t)
        if (last.fits) return last
      }
    } finally if (cachedBits.isEmpty) wide.foreach(_.unpersist(false))
    last
  }

  /** The refusal of the pair faces ([[cosineNearDupPairsLshAuto]],
    * [[crossCorpusNearDupLshAuto]]) when even the clamp rung `r` is over
    * budget: the collisions are genuinely dense there and a pair op's
    * OUTPUT is ~the candidate count, so there is no sound fallback. `n`
    * is the count the budget was sized by, `of` what it counts. */
  private def widthRefusal(face: String, r: Rung, n: Long, of: String,
      maxCandidatesPerVec: Int): graft.GuardRefusal =
    new graft.GuardRefusal(
      s"${face}Auto: measured candidate volume at the widest index " +
      s"(nPlanes=${r.nPlanes}, nTables=${r.nTables}) is ${r.volume} pairs " +
      s"(~${r.volume / math.max(1L, n)}/vector over $n $of) — above the " +
      s"$maxCandidatesPerVec/vector budget even at the 30-plane clamp, so " +
      s"the surviving buckets are genuinely dense and the pair OUTPUT " +
      s"itself is ~this size. Either call $face(nPlanes=${r.nPlanes}, " +
      s"nTables=${r.nTables}, allowFixedWidth=true) to knowingly produce " +
      s"it, raise maxCandidatesPerVec, or switch to semanticDedupAuto " +
      s"(cluster-representative dedup, linear output).")

  /** Width + cap decision behind the kNN-graph self-join face (q264),
    * separated so specs can assert the CHOSEN configuration — every
    * number in it is MEASURED, never an isotropy expectation:
    *
    *  1. The width walks the q265 escalation ladder against the graph's
    *     ORDERED candidate volume Σ m·(m−1) (each x≠y collision is
    *     scored once per direction — 2× the pair face's count) until a
    *     rung fits `n × maxCandidatesPerVec`; a fitting rung runs
    *     UNCAPPED. Motivation (r15 1000× probe, 2 M clustered vectors):
    *     the old count-sized width + bucketCap evicted TRUE near-dups —
    *     cosine-≥0.9 recall 0.42 capped-(15,4) vs 0.81 at the measured
    *     width uncapped, every lower band also better.
    *  2. A corpus still over budget at the 30-plane clamp holds
    *     genuinely dense clusters that no width splits (widening past
    *     this only sheds true near-dup pairs, the same probe measured
    *     pure-uncapped at 1275 s = over the 10×/decade line). There —
    *     and only there — the residual volume is bounded by the LARGEST
    *     measured cap that fits: Σ m·min(m,c) over the widest rung's
    *     (table, bucket) histogram, c from a geometric ladder down to
    *     the `targetBucket` floor (within a dense cluster any cap-many
    *     survivors are near-equivalent top-k candidates, so truncation
    *     there is the cheapest honest trade; unlike the pair face the
    *     output is bounded by n×k at any width, so nothing refuses).
    *
    * Default budget 1024/vec: the graph keeps k (default 5) neighbors,
    * so 1024 ordered candidates per vector is ~200× oversampling; the
    * pair face's 2048 is output-mass-driven, a different economy.
    *
    * Returns, besides the (nPlanes, nTables, cap) decision: the cached
    * [[srpBase]] at the 63-bit clamp width that the measurement already
    * built (None in the minPlanes regime — nothing was measured) for the
    * index build to reuse, and `residualPossible` — false when the
    * accepted rung's histogram holds ZERO singleton (table, bucket)
    * cells, which makes the empty-yield residual slice provably empty (a
    * vector qualifies only if EVERY one of its cells is a singleton), so
    * the auto face can skip building the multiprobe pass entirely (r17
    * opt: at bench scale the buckets are all multiply occupied and pass
    * 2 was pure plan overhead; at the sparse-bucket scales the r15
    * recall fix targets, singletons exist and the pass still runs). */
  private[graft] final case class KnnGraphPlan(nPlanes: Int, nTables: Int,
      cap: Int, base: Option[DataFrame], residualPossible: Boolean)

  private[graft] def knnGraphWidth(df: DataFrame, idCol: String,
      vecCol: String, dim: Int, targetBucket: Int, maxTables: Int,
      maxCandidatesPerVec: Int, n: Long): KnnGraphPlan = {
    val budget = candidateBudget(n, maxCandidatesPerVec)
    // Stamp every decision on stderr (VERDICT r15 #3): the knn5lsh
    // artifact embeds this measured trade and its consumers
    // (q137/q221/q234) silently inherit it — the build log must say
    // which (width, cap) the graph was built at and what volume was
    // measured, so BASELINE can record it next to the consumer rows.
    // vol is the measured ORDERED candidate volume at the accepted
    // configuration; -1 in the minPlanes regime (measurement skipped —
    // the corpus is too small for any width to be quadratic-dangerous).
    def decide(p: Int, t: Int, cap: Int, vol: Long,
        base: Option[DataFrame], residual: Boolean): KnnGraphPlan = {
      System.err.println(s"knn-graph width decision: nPlanes=$p " +
        s"nTables=$t cap=${if (cap == Int.MaxValue) "off" else cap} " +
        s"orderedVolume=$vol budget=$budget n=$n residual=$residual")
      KnnGraphPlan(p, t, cap, base, residual)
    }
    val (p0, t0) = lshPlanesFor(n, targetBucket, maxTables = maxTables)
    if (p0 == LshMinPlanes)
      return decide(p0, t0, Int.MaxValue, -1L, None, residual = false)
    // ONE cached base at the 63-bit clamp width serves every rung, the
    // cap histogram AND the index build itself (r17 opt, guide §1.2 #1).
    val base = srpBase(df, idCol, vecCol, dim, 63)
    val bits = base.select(col("__bits"))
    // the singleton count rides the volume's agg pass: it tells whether
    // the empty-yield residual slice can exist at the decided rung
    var singles = 0L
    val r = walkWidthLadder(p0, maxTables, budget, Nil, vecCol, dim,
        Some(Seq(bits))) { case Seq(h) =>
      val row = h.agg(sum(col("m").cast(GuardDecimal) * (col("m") - lit(1L))),
        sum(when(col("m") === 1L, 1L).otherwise(0L))).head()
      singles = if (row.isNullAt(1)) 0L else row.getLong(1)
      satLongOfDecimal(row.getDecimal(0))
    }
    if (r.fits)
      return decide(r.nPlanes, r.nTables, Int.MaxValue, r.volume, Some(base),
        singles > 0L)
    // capped fallback at the clamp rung
    val caps = Seq(64, 16, 4, 1).map(_.toLong * targetBucket)
    val sums = cappedVolumesFromHist(srpHist(bits, r.nPlanes, r.nTables), caps)
    val fit = caps.indices.find(i => sums(i) <= budget)
    // the targetBucket floor fits whenever tables×targetBucket <=
    // maxCandidatesPerVec (defaults: 2×64 << 1024); best-effort floor
    // otherwise — never refuse, the output is n×k-bounded
    val i = fit.getOrElse(caps.size - 1)
    decide(r.nPlanes, r.nTables, math.min(caps(i), Int.MaxValue).toInt,
      sums(i), Some(base), singles > 0L)
  }

  /** Σ m·min(m, c) for each cap candidate `c` over an `m`-column
    * histogram, all in ONE agg pass, summed in decimal(38,0) and
    * saturated ([[GuardDecimal]] rationale — these sums guard the same
    * budget comparison as the pair volumes). */
  private[graft] def cappedVolumesFromHist(hist: DataFrame,
      caps: Seq[Long]): Seq[Long] = {
    val row = hist.agg(
      sum(col("m").cast(GuardDecimal) * least(col("m"), lit(caps.head)))
        .as("c0"),
      caps.tail.zipWithIndex.map { case (c, i) =>
        sum(col("m").cast(GuardDecimal) * least(col("m"), lit(c)))
          .as(s"c${i + 1}")
      }: _*).head()
    caps.indices.map(i =>
      if (row.isNullAt(i)) 0L else satLongOfDecimal(row.getDecimal(i)))
  }

  /**
   * [[knnJoinLsh]] with the index width sized from MEASURED bucket
   * occupancy ([[knnGraphWidth]]): [[lshPlanesFor]]'s count-sized pick
   * holds occupancy ≈ `targetBucket` only under isotropy, and the old
   * cap-the-hot-buckets patch priced clustered corpora by EVICTING
   * candidates pseudorandomly — which is exactly the true-near-dup
   * regime on real data (r15 1000× probe: cosine-≥0.9 recall 0.42
   * capped vs 0.81 measured-width uncapped, every band better). The
   * measured ladder keeps total ORDERED candidates ≤ n ×
   * maxCandidatesPerVec without truncating buckets; only a corpus
   * whose buckets stay dense at the 30-plane clamp (where widening
   * buys nothing but lost true pairs) is bounded by the largest
   * MEASURED cap that fits the same budget ([[knnGraphWidth]]). In the
   * minPlanes regime this is exactly the explicit uncapped call BY
   * CONSTRUCTION (spec-pinned) and the q58 oracle covers the
   * delegation at the correctness scale.
   */
  def knnJoinLshAuto(df: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      dim: Int = 64, targetBucket: Int = 64,
      maxTables: Int = 8, maxCandidatesPerVec: Int = 1024): DataFrame = {
    val n = graft.SparkUtil.sizingCount(df)
    val plan = knnGraphWidth(df, idCol, vecCol, dim, targetBucket,
      maxTables, maxCandidatesPerVec, n)
    // allowFixedWidth: the measured sizing IS the occupancy guard.
    // residualMultiprobe past the minPlanes regime (VERDICT r15 #1):
    // only a measured (wide) index leaves vectors alone in their
    // buckets in every table; at correctness scale the fallback stays
    // OFF so the delegation to the explicit fixed-width call — and its
    // oracle — is exact by construction. residualPossible (r17): when
    // the accepted rung's histogram holds no singleton cell, the
    // residual slice is provably empty and the pass-2 plan is skipped.
    // The measured base is reused as the index (prefix-stable bits).
    knnSelfJoin(df, plan.base, k, idCol, vecCol, dim, plan.nPlanes,
      plan.nTables, plan.cap, allowFixedWidth = true,
      residualMultiprobe =
        plan.nPlanes > LshMinPlanes && plan.residualPossible,
      residualBucketCap = math.max(k,
        maxCandidatesPerVec / (plan.nTables * (plan.nPlanes + 1))))
  }

  /**
   * Bipartite LSH kNN join — [[knnJoin]]'s scale face, named by the
   * round-11 100× sweep (q140's exact batch join is |corpus|×|queries|
   * dot products, 20×/decade once both sides grow with the corpus):
   * corpus and query sides bucket under the SAME deterministic SRP
   * projection, candidates are (table, bucket) equi-join collisions,
   * exact cosine scores inside the join, and a per-query rank window
   * (`WindowGroupLimit`) cuts to k. Like q264, the approximation lives
   * in the INDEX (queries whose buckets collide with nothing yield no
   * rows; per-candidate recall at angle θ is `1-(1-p^nPlanes)^nTables`,
   * p = 1-θ/π) while the output stays deterministic and SQL-replayable.
   *
   * Shape notes vs [[knnJoinLsh]]: no self-pair exclusion (the sides
   * are distinct sets by contract — mirror [[knnJoin]], which scores a
   * query against every corpus row including an id twin); `bucketCap`
   * bounds only the CORPUS side of a degenerate bucket (every query
   * still probes; its competitor pool is capped to pseudorandom
   * members, the q264 rule).
   *
   * EAGER at call time unless `allowFixedWidth = true`: the corpus-side
   * occupancy guard runs one count job when the plan is built.
   *
   * @param residualMultiprobe second pass for EMPTY-YIELD queries
   *   (VERDICT r15 #1): a query whose buckets collide with nothing in
   *   every table gets no neighbors for no semantic reason. With this
   *   on, queries none of whose buckets hold a corpus member (the
   *   analytic equivalent of "absent from the pass-1 output") are
   *   re-probed with query-side 1-bit multiprobe
   *   ([[srpProbeKeys]] — the exact bucket plus every 1-bit-flipped
   *   bucket per table), so a near-miss on one hyperplane's sign no
   *   longer costs the whole query. Cost is (nPlanes+1)× on the
   *   RESIDUAL slice only — the corpus index is untouched and the
   *   output stays |queries|×k-bounded. Off by default: the auto face
   *   enables it past the minPlanes regime (at correctness scale the
   *   fixed-width oracle must replay the delegation exactly, and a
   *   small corpus has no empty-bucket problem worth a second pass).
   */
  def knnJoinLshBipartite(df: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      queryIdCol: String = "vec_id", dim: Int = 64, nPlanes: Int = 4,
      nTables: Int = 8, bucketCap: Int = Int.MaxValue,
      allowFixedWidth: Boolean = false,
      residualMultiprobe: Boolean = false,
      residualBucketCap: Int = Int.MaxValue): DataFrame = {
    require(nPlanes * nTables <= 63, "nPlanes * nTables must fit in 63 bits")
    require(bucketCap >= 1, s"bucketCap=$bucketCap must be >= 1")
    require(residualBucketCap >= 1,
      s"residualBucketCap=$residualBucketCap must be >= 1")
    if (bucketCap == Int.MaxValue && !allowFixedWidth)
      requireFixedWidthInBudget(df, nPlanes, "knnJoinLshBipartite",
        "knnJoinLshBipartiteAuto")
    val qBase = srpBase(queries, queryIdCol, vecCol, dim, nPlanes * nTables)
    val cBase = srpBase(df, idCol, vecCol, dim, nPlanes * nTables)
    // The residual slice is ANALYTIC ([[knnJoinLsh]]'s occupancy rule,
    // simpler here): with no self-exclusion, a query yields a pass-1 row
    // iff ANY of its buckets holds a corpus member (the cap keeps >= 1
    // member of every non-empty bucket), so residual = queries whose
    // every bucket misses the corpus bucket set — two narrow semi/anti
    // joins, and the pass-1 graph is never cached or re-consumed. Pass 2
    // scores against the TIGHTER residual cap — the probe fan-out lands
    // exactly on the dense buckets; see [[knnJoinLsh]]'s
    // residualBucketCap note.
    knnPasses(qBase, cBase, k, dim, nPlanes, nTables, bucketCap,
      residualBucketCap, excludeSelf = false,
      residual = if (!residualMultiprobe) None else Some { (qKeyed, cKeyed) =>
        val collided = qKeyed.select(col("id"), col("__tb"))
          .join(cKeyed.select(col("__tb")).distinct(), Seq("__tb"),
            "left_semi")
          .select(col("id")).distinct()
        qBase.join(collided, Seq("id"), "left_anti")
      })
  }

  /** [[knnJoinLshBipartite]] with the index width sized from the
    * MEASURED cross-collision ladder (the q264/q265 rule on the
    * two-sided shape) — candidate volume per query stays ≈
    * `targetBucket` at any corpus size; a corpus whose buckets stay
    * dense at the 30-plane clamp falls back to an unconditional
    * `4×targetBucket` corpus-side cap (the bipartite output is bounded
    * by |queries|×k at any width, so nothing refuses). On a corpus
    * small enough that `minPlanes` binds and the cap is off this is
    * exactly the explicit fixed-width call (spec-pinned), so a
    * q58-shape oracle covers the delegation at correctness scale. */
  def knnJoinLshBipartiteAuto(df: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      queryIdCol: String = "vec_id", dim: Int = 64,
      targetBucket: Int = 64, maxTables: Int = 8,
      maxCandidatesPerVec: Int = 2048): DataFrame = {
    val n = graft.SparkUtil.sizingCount(df)
    // width from the corpus count, budget from the QUERY side's measured
    // collisions (|queries| × maxCandidatesPerVec); the query side is
    // counted only past the minPlanes regime
    val (p0, t0) = lshPlanesFor(n, targetBucket, maxTables = maxTables)
    val (nPlanes, nTables, cap) = if (p0 == LshMinPlanes) (p0, t0, Int.MaxValue)
      else {
        val r = crossRung(queries, df, vecCol, dim, p0, maxTables,
          candidateBudget(graft.SparkUtil.sizingCount(queries), maxCandidatesPerVec))
        // over budget even at the 30-plane clamp: the cap must bind
        // UNCONDITIONALLY. lshBucketCapFor's 16×cap activation threshold
        // is for count-only sizing and resolves to Int.MaxValue on a
        // small-but-dense corpus — which would run the clamp width
        // uncapped against a measured-over-budget verdict (ADVICE r15).
        (r.nPlanes, r.nTables, if (r.fits) Int.MaxValue else 4 * targetBucket)
      }
    // Past the minPlanes regime the width is wide enough that some
    // queries' buckets can collide with nothing in every table — run
    // the 1-bit multiprobe second pass on exactly that residual slice
    // (VERDICT r15 #1). In the minPlanes regime the fallback must stay
    // OFF so the delegation to the explicit fixed-width call — and its
    // oracle — is exact by construction.
    val residual = nPlanes > LshMinPlanes
    System.err.println(s"bipartite-knn width decision: nPlanes=$nPlanes " +
      s"nTables=$nTables cap=${if (cap == Int.MaxValue) "off" else cap} " +
      s"residualMultiprobe=$residual n=$n")
    knnJoinLshBipartite(df, queries, k, idCol, vecCol, queryIdCol, dim,
      nPlanes, nTables, bucketCap = cap, allowFixedWidth = true,
      residualMultiprobe = residual,
      residualBucketCap = math.max(k,
        maxCandidatesPerVec / (nTables * (nPlanes + 1))))
  }

  /** Effective per-(table, bucket) candidate cap for explicit capped
    * calls and for the graph faces' dense-corpus FALLBACK (a tight
    * semantic cluster shares sign bits at any width, so its bucket
    * grows with the corpus — the 100× probe's Σ size² wall; when even
    * the 30-plane measured ladder can't fit the budget, truncation is
    * the remaining linearization). Since r15 the auto graph faces size
    * by MEASURED occupancy first ([[knnGraphWidth]]) because the cap's
    * pseudorandom eviction demonstrably costs true near-dup recall
    * (0.42 vs 0.81 in the cosine-≥0.9 band on the 1000× probe). On a
    * small corpus the cap must be OFF so the delegation to the explicit
    * fixed-width call — and hence the q58 oracle's uncapped SQL — is
    * exact BY CONSTRUCTION, not just statistically. Activation
    * threshold 16×cap: below it even the worst-case uncapped bucket
    * costs ≤ n² ≈ 16 M codegen'd dot products — noise. Pure function
    * of the counts (unit-testable without data). */
  private[graft] def lshBucketCapFor(n: Long, targetBucket: Int): Int = {
    val cap = 4 * targetBucket
    if (n > 16L * cap) cap else Int.MaxValue
  }

  /** AT-SCALE GUARD for the FIXED-width LSH self-join family (q58/q41
    * reference configs). A fixed `nPlanes` means expected bucket
    * occupancy `n / 2^nPlanes` grows linearly with the corpus and the
    * bucket self-join's Σ size² candidate volume grows QUADRATICALLY —
    * the round-10 full-inventory 10× sweep measured q58 (4 planes,
    * uncapped) at 38 s for 20 K vectors (41× its sf0.1 cost; the next
    * decade is hours). Past this expected occupancy the fixed-width
    * calls refuse without an explicit `allowFixedWidth = true`: large
    * corpora should use the auto-sized family ([[knnJoinLshAuto]] /
    * [[cosineNearDupPairsLshAuto]] / [[crossCorpusNearDupLshAuto]]),
    * whose width grows with n to hold occupancy — and cost — linear.
    * 4096 ≈ the point where one table's Σ size² passes ~2×10⁸ per
    * 16-bucket table (the q58 config's measured 38 s decade); the
    * guarded count is parquet-metadata cheap and is skipped entirely
    * when a bucketCap already linearizes the join. The q16/q95 guard
    * rule applied to the third operator a pipeline could reach for and
    * silently get a quadratic outcome at scale. */
  val FixedWidthOccupancyGuardCutoff: Long = 4096L

  /** The fixed-width occupancy guard. A cheap parquet-footer upper bound
    * within `cutoff << nPlanes` proves the occupancy budget cannot bind
    * and skips the exact count job entirely (round-12; sound to PASS
    * only — refusal always re-counts exactly). */
  private def requireFixedWidthInBudget(df: DataFrame, nPlanes: Int,
      op: String, autoOp: String): Unit = {
    if (graft.SparkUtil.cheapCountAtMost(df,
        FixedWidthOccupancyGuardCutoff << nPlanes)) return
    val n = graft.SparkUtil.sizingCount(df)
    val occ = n >> nPlanes
    graft.GuardRefusal.check(occ <= FixedWidthOccupancyGuardCutoff,
      s"$op with fixed nPlanes=$nPlanes puts ~$occ vectors in each LSH bucket at " +
        s"n=$n (> ${FixedWidthOccupancyGuardCutoff}): the bucket self-join is " +
        "quadratic in the corpus from here. Use " + autoOp +
        " (width sized from the corpus count, linear candidate volume), or pass " +
        "allowFixedWidth=true to knowingly keep the fixed-width reference semantics.")
  }

  /**
   * Approximate corpus-scale kNN join — [[knnJoin]]'s sibling for when
   * the query side IS the corpus ("attach top-k neighbors to every
   * document's embedding", the k-NN-graph step of semantic dedup and
   * cluster-based curation): candidates are SRP-LSH bucket collisions
   * (an equi-join on (table, bucket) keys, never a cross join), scored
   * by exact cosine, cut to k per vector by a rank window
   * (`WindowGroupLimit` — ≤ k rows per vector leave each map task).
   *
   * Like q30/q41, the approximation lives in the INDEX, not the
   * execution: the candidate rule is public integer/float arithmetic
   * the SQL oracle replays exactly, so the output is deterministic and
   * exactly verifiable even though candidates (and hence each vector's
   * top-k pool) are approximate. Vectors whose buckets collide with
   * nothing yield no rows.
   *
   * Pair dedup happens AFTER scoring, by a hash aggregation over bare
   * `(query_id, cand_id, score)` rows ([[annTopKLsh]]'s shape): the
   * score is a pure function of the pair, so `max(score)` over its
   * per-table occurrences is exact dedup, and the float vectors live
   * only inside the bucket equi-join's codegen — they are never
   * re-attached to the candidate set. The round-9 100× probe (2 M
   * vectors) measured the alternative — `distinct()` on bare pairs
   * followed by TWO vector join-backs — at ~500 M-row sort-merge
   * joins spilling 40–90 GB; the agg shape shuffles only narrow pair
   * rows and needs no broadcast size-guard at any scale.
   *
   * EAGER at call time unless `allowFixedWidth = true` or a `bucketCap`
   * is set: the occupancy guard then runs one parquet-metadata-cheap
   * count job when the plan is BUILT.
   *
   * @param bucketCap hard per-(table, bucket) cap on the CANDIDATE side
   *   of the self-join. SRP planes split uncorrelated mass, but a tight
   *   semantic cluster shares sign bits at ANY width, so its bucket
   *   grows with the corpus and contributes size² pairs — the round-9
   *   100× probe measured Σ size² at 48× per 10× data (1.03 G pairs,
   *   max bucket 3,840) under auto-sized planes. The cap restores
   *   linear Σ size·min(size, cap) (199 M at the same point, cap 256)
   *   the same way the text index caps df. Asymmetric: every row still
   *   QUERIES; only its competitor pool in a degenerate bucket is
   *   bounded, to `cap` pseudorandom members, which for a top-k over a
   *   dense near-dup cluster is abundant. Default `Int.MaxValue` = off
   *   (the q58 reference semantics).
   * @param residualMultiprobe second pass for EMPTY-YIELD vectors
   *   (VERDICT r15 #1): at a measured (wide) index, a vector alone in
   *   its bucket in EVERY table gets no neighbors — a kNN-graph
   *   consumer (mutual-kNN, purity, hubness) then sees it as isolated
   *   for no semantic reason (6/64 probe queries at the r15 1000×
   *   width). With this on, vectors absent from the first pass's
   *   query_id column (equivalently, by the analytic occupancy rule:
   *   every bucket a singleton) are re-probed with query-side
   *   1-bit multiprobe ([[srpProbeKeys]]), costing (nPlanes+1)× on the
   *   residual slice ONLY; the corpus index is untouched and the output
   *   stays n×k-bounded. Off by default (the q58 reference semantics);
   *   the auto face enables it past the minPlanes regime.
   * @param residualBucketCap per-(table, bucket) candidate cap for the
   *   RESIDUAL pass only. The probed buckets are exactly where the
   *   corpus ISN'T sparse — a residual (singleton-bucket) vector's
   *   Hamming-1 neighbors include the dense-cluster buckets — so
   *   re-probing at the pass-1 cap multiplies it by the (nPlanes+1)×
   *   probe fan-out: measured at the r16 1000× corpus, pass 2 at the
   *   pass-1 cap (1024) tripled the whole graph build (125 → 372 s).
   *   The auto faces derive this from the SAME per-vector budget as
   *   the pass-1 sizing: maxCandidatesPerVec / (nTables·(nPlanes+1)),
   *   floored at k — a residual vector's candidates then respect the
   *   budget exactly like a collided vector's. Semantically cheap:
   *   pass-2 queries sit OUTSIDE the probed bucket, so its members are
   *   near-equivalent candidates and any cap-surviving subset
   *   represents the bucket (unlike pass 1, where the r15 eviction bug
   *   showed the cap dropping a query's true within-bucket near-dups).
   */
  def knnJoinLsh(df: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      dim: Int = 64, nPlanes: Int = 4, nTables: Int = 8,
      bucketCap: Int = Int.MaxValue,
      allowFixedWidth: Boolean = false,
      residualMultiprobe: Boolean = false,
      residualBucketCap: Int = Int.MaxValue): DataFrame =
    knnSelfJoin(df, None, k, idCol, vecCol, dim, nPlanes, nTables,
      bucketCap, allowFixedWidth, residualMultiprobe, residualBucketCap)

  /** [[knnJoinLsh]] over `base`, an [[srpBase]] of `df` at width >=
    * nPlanes·nTables, when the caller already cached one. */
  private def knnSelfJoin(df: DataFrame, base: Option[DataFrame], k: Int,
      idCol: String, vecCol: String, dim: Int, nPlanes: Int, nTables: Int,
      bucketCap: Int, allowFixedWidth: Boolean, residualMultiprobe: Boolean,
      residualBucketCap: Int): DataFrame = {
    require(nPlanes * nTables <= 63, "nPlanes * nTables must fit in 63 bits")
    require(bucketCap >= 1, s"bucketCap=$bucketCap must be >= 1")
    require(residualBucketCap >= 1,
      s"residualBucketCap=$residualBucketCap must be >= 1")
    // the analytic residual rule below needs a cap that keeps >= 2
    // members per bucket (a cap of 1 can keep only the query itself,
    // making "all buckets singleton" under-count the empty-yield slice)
    require(!residualMultiprobe || bucketCap >= 2,
      s"residualMultiprobe requires bucketCap >= 2 (got $bucketCap)")
    // A bucketCap already linearizes the candidate side; only the
    // UNCAPPED fixed-width call needs the occupancy guard (and its
    // parquet-metadata count).
    if (bucketCap == Int.MaxValue && !allowFixedWidth)
      requireFixedWidthInBudget(df, nPlanes, "knnJoinLsh", "knnJoinLshAuto")
    val b = base.getOrElse(srpBase(df, idCol, vecCol, dim, nPlanes * nTables))
    // The residual slice is ANALYTIC, not derived from the pass-1
    // output: a vector yields no pass-1 rows iff every one of its
    // (table, bucket) keys is a singleton (for bucketCap >= 2 — guarded
    // above — a bucket of m >= 2 always keeps a non-self member through
    // the cap window, and the self-excluding join then yields a row).
    // Deriving it from the output instead (anti-join against the
    // graph's query ids) forces the FULL n×k graph through a cache
    // materialization barrier before the union can stream — measured at
    // the r16 1000× corpus that alone took the build from 125 to 230 s;
    // the occupancy rule costs two narrow shuffles of the (id, key)
    // pairs and nothing is cached. Vectors whose probed buckets ALSO
    // hold nothing remain isolated — honestly this time: Hamming ≤ 1 on
    // every table's sketch found no non-self neighbor.
    knnPasses(b, b, k, dim, nPlanes, nTables, bucketCap, residualBucketCap,
      excludeSelf = true,
      residual = if (!residualMultiprobe) None else Some { (keyed, _) =>
        val bcount = keyed.groupBy(col("__tb")).agg(count(lit(1)).as("__m"))
        val residualIds = keyed.select(col("id"), col("__tb"))
          .join(bcount, "__tb")
          .groupBy(col("id")).agg(max(col("__m")).as("__mx"))
          .filter(col("__mx") === 1L).select(col("id"))
        b.join(residualIds, Seq("id"), "left_semi")
      })
  }

  /**
   * LSH-blocked cosine near-dup pairs — the scale path that replaces
   * [[cosineNearDupPairs]]'s quadratic self-join: candidates are pairs
   * sharing an SRP bucket in at least one of `nTables` tables (an
   * equi-join on (table, bucket), never a cross join), then scored by
   * exact cosine against `threshold`.
   *
   * Like the IVF index (q30), the approximation lives in the INDEX, not
   * the execution: the candidate rule — "same `nPlanes`-bit slice of a
   * deterministic sign-projection bit string in ≥ 1 table" — is public
   * integer/float arithmetic the SQL oracle replays exactly, so even
   * though recall < 1 vs the exact operator, the output is fully
   * deterministic and exactly verifiable. Expected recall per pair at
   * angle θ is `1-(1-p^nPlanes)^nTables`, p = 1 - θ/π.
   *
   * EAGER at call time unless `allowFixedWidth = true`: the occupancy
   * guard runs one count job when the plan is built.
   */
  def cosineNearDupPairsLsh(df: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      dim: Int = 64, nPlanes: Int = 4, nTables: Int = 8,
      allowFixedWidth: Boolean = false): DataFrame = {
    require(nPlanes * nTables <= 63, "nPlanes * nTables must fit in 63 bits")
    if (!allowFixedWidth)
      requireFixedWidthInBudget(df, nPlanes, "cosineNearDupPairsLsh",
        "cosineNearDupPairsLshAuto")
    val keyed = srpKeyed(srpBase(df, idCol, vecCol, dim, nPlanes * nTables),
      nPlanes, nTables)
    nearDupPairs(keyed, keyed, dim, threshold,
      Some((a: Column, b: Column) => a < b), "id_a", "id_b")
  }

  /** The width decision behind [[cosineNearDupPairsLshAuto]], separated
    * so specs can assert the CHOSEN width (otherwise invisible inside
    * the delegated plan): the ladder measures Σ m·(m−1)/2 per rung
    * ([[pairVolumeFromHist]]) and REFUSES ([[widthRefusal]]) on a corpus
    * whose measured volume exceeds the budget even at the clamp. */
  private[graft] def cosineNearDupPairsLshAutoWidth(df: DataFrame,
      vecCol: String, dim: Int, targetBucket: Int,
      maxTables: Int, maxCandidatesPerVec: Int): (Int, Int) = {
    val n = graft.SparkUtil.sizingCount(df)
    val (p0, t0) = lshPlanesFor(n, targetBucket, maxTables = maxTables)
    if (p0 == LshMinPlanes) return (p0, t0)
    val r = walkWidthLadder(p0, maxTables,
        candidateBudget(n, maxCandidatesPerVec), Seq(df), vecCol, dim) {
      case Seq(h) => pairVolumeFromHist(h)
    }
    if (!r.fits) throw widthRefusal("cosineNearDupPairsLsh", r, n,
      "vectors", maxCandidatesPerVec)
    (r.nPlanes, r.nTables)
  }

  /**
   * [[cosineNearDupPairsLsh]] with the index width sized from MEASURED
   * bucket occupancy, not just the corpus count: [[lshPlanesFor]]'s
   * `ceil(log2(n / targetBucket))` keeps expected occupancy constant
   * only under isotropy, and real corpora are not isotropic — the
   * round-14 1000× probe (2 M vectors with per-replica dominant
   * directions) put ~30 K vectors in single buckets at the count-sized
   * (15, 4) width, 2.8×10¹⁰ candidate pairs in total, and the fixed
   * 900 s sweep watchdog killed the query. So past the minPlanes
   * regime the auto path (a) measures the exact candidate count at
   * the count-sized width (one narrow agg job per probe over an
   * [[srpHist]]), (b) escalates through
   * [[lshWidthLadder]] until the measured count fits
   * `n × maxCandidatesPerVec` (the same 1000× corpus lands at (30, 2):
   * 2.1×10⁹ candidates, ~1 000/vector), and (c) REFUSES with the
   * measured numbers if even the 30-plane clamp cannot fit the budget —
   * at that point the surviving buckets are genuinely dense, the pair
   * OUTPUT itself is ~the candidate count, and the caller must either
   * opt in explicitly (cosineNearDupPairsLsh at the widest width,
   * allowFixedWidth=true) or switch to cluster-representative dedup
   * (semanticDedupAuto).
   *
   * Unlike the kNN graph there is still NO bucketCap: a pair op's
   * output in a dense cluster is legitimately m², and a cap would drop
   * true near-dup pairs. The recall trade of widening is the documented
   * LSH contract — per-pair recall at angle θ is `1-(1-p^nPlanes)
   * ^nTables`, p = 1-θ/π; wider indexes trade recall on LOW-cosine
   * pairs for linear candidate volume, while the near-dup regime
   * (cosine → 1, p → 1) keeps high recall at any width. On a corpus
   * small enough that minPlanes binds, measurement is skipped (the
   * corpus is ≤ targetBucket·2^minPlanes rows — no width can be
   * quadratic-dangerous) and this is exactly the explicit call
   * (spec-pinned), so the q41-shape oracle covers the delegation at
   * correctness scale.
   */
  def cosineNearDupPairsLshAuto(df: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      dim: Int = 64, targetBucket: Int = 64,
      maxTables: Int = 8, maxCandidatesPerVec: Int = 2048): DataFrame = {
    val (nPlanes, nTables) = cosineNearDupPairsLshAutoWidth(df, vecCol,
      dim, targetBucket, maxTables, maxCandidatesPerVec)
    // allowFixedWidth: the measured sizing IS the occupancy guard.
    cosineNearDupPairsLsh(df, threshold, idCol, vecCol, dim, nPlanes,
      nTables, allowFixedWidth = true)
  }

  /**
   * Cross-corpus embedding near-dup pairs — the semantic sibling of
   * Dedup.crossCorpusPairs and the embedding face of the q89 signature
   * store: the OLD corpus reduces to its SRP (table, bucket, vector)
   * index (what a persisted vector store holds), NEW vectors bucket
   * narrowly, candidates come from the store equi-join, and the exact
   * cosine scores inside that join — old vectors are read only for
   * rows whose bucket collides. Incremental-ingest shape: the old side is never
   * re-compared against itself, so daily ingests pay |new| × bucket
   * collisions, not |corpus|².
   *
   * EAGER at call time unless `allowFixedWidth = true`: the store-side
   * occupancy guard runs one count job when the plan is built.
   */
  def crossCorpusNearDupLsh(newEmb: DataFrame, oldEmb: DataFrame,
      threshold: Double, idCol: String = "vec_id",
      vecCol: String = "embedding", dim: Int = 64, nPlanes: Int = 4,
      nTables: Int = 8, allowFixedWidth: Boolean = false): DataFrame = {
    require(nPlanes * nTables <= 63, "nPlanes * nTables must fit in 63 bits")
    // Occupancy of the STORE side decides per-ingest-row candidate
    // volume — the side that grows with every ingest.
    if (!allowFixedWidth)
      requireFixedWidthInBudget(oldEmb, nPlanes, "crossCorpusNearDupLsh",
        "crossCorpusNearDupLshAuto")
    val nb = srpBase(newEmb, idCol, vecCol, dim, nPlanes * nTables)
    val ob = srpBase(oldEmb, idCol, vecCol, dim, nPlanes * nTables)
    nearDupPairs(srpKeyed(nb, nPlanes, nTables), srpKeyed(ob, nPlanes, nTables),
      dim, threshold, None, "id_new", "id_old")
  }

  /** Σ m_new·m_old over two joined (tb, m) histograms, summed in
    * decimal(38,0) and saturated ([[GuardDecimal]] rationale). */
  private[graft] def crossVolumeFromHists(newHist: DataFrame,
      oldHist: DataFrame): Long =
    newHist.select(col("tb"), col("m").as("mn"))
      .join(oldHist.select(col("tb"), col("m").as("mo")), "tb")
      .agg(sum(col("mn").cast(GuardDecimal) * col("mo")).as("c"))
      .head().getDecimal(0) match {
        case null => 0L
        case d    => satLongOfDecimal(d)
      }

  /** The measured ladder of the two-corpus shape (q266's ingest face and
    * the bipartite kNN face): Σ m_new·m_old across shared (table,
    * bucket) cells, a join of two narrow per-side histograms. */
  private def crossRung(newEmb: DataFrame, oldEmb: DataFrame,
      vecCol: String, dim: Int, p0: Int, maxTables: Int, budget: Long): Rung =
    walkWidthLadder(p0, maxTables, budget, Seq(newEmb, oldEmb), vecCol, dim) {
      case Seq(nh, oh) => crossVolumeFromHists(nh, oh)
    }

  /** The width decision behind [[crossCorpusNearDupLshAuto]] (see
    * [[cosineNearDupPairsLshAutoWidth]]): width from the STORE count,
    * budget from the new side's, which the minPlanes regime never
    * counts. */
  private[graft] def crossCorpusNearDupLshAutoWidth(newEmb: DataFrame,
      oldEmb: DataFrame, vecCol: String, dim: Int, targetBucket: Int,
      maxTables: Int, maxCandidatesPerVec: Int): (Int, Int) = {
    val (p0, t0) = lshPlanesFor(graft.SparkUtil.sizingCount(oldEmb),
      targetBucket, maxTables = maxTables)
    if (p0 == LshMinPlanes) return (p0, t0)
    val nNew = graft.SparkUtil.sizingCount(newEmb)
    val r = crossRung(newEmb, oldEmb, vecCol, dim, p0, maxTables,
      candidateBudget(nNew, maxCandidatesPerVec))
    if (!r.fits) throw widthRefusal("crossCorpusNearDupLsh", r, nNew,
      "new vectors", maxCandidatesPerVec)
    (r.nPlanes, r.nTables)
  }

  /**
   * [[crossCorpusNearDupLsh]] with the index width sized from MEASURED
   * cross-bucket occupancy — the q265 treatment
   * ([[cosineNearDupPairsLshAuto]]) applied to the ingest shape. The
   * count-only sizing keys off the OLD (store) side — the side that
   * grows with every ingest — but like the pair face it assumes
   * isotropy; on a store with dominant directions the new batch's
   * buckets land in the store's hot cells and candidates go quadratic
   * the same way. Past the minPlanes regime this measures the exact
   * Σ m_new·m_old at each ladder width (one histogram join per probe),
   * escalates until it fits `|new| × maxCandidatesPerVec`, and refuses
   * with the measured numbers if the 30-plane clamp can't — at that
   * point the collisions are genuinely dense and the caller opts in
   * explicitly or routes through semanticDedupAuto. Same recall
   * contract; same minPlanes delegation at correctness scale
   * (spec-pinned).
   */
  def crossCorpusNearDupLshAuto(newEmb: DataFrame, oldEmb: DataFrame,
      threshold: Double, idCol: String = "vec_id",
      vecCol: String = "embedding", dim: Int = 64,
      targetBucket: Int = 64, maxTables: Int = 8,
      maxCandidatesPerVec: Int = 2048): DataFrame = {
    val (nPlanes, nTables) = crossCorpusNearDupLshAutoWidth(newEmb,
      oldEmb, vecCol, dim, targetBucket, maxTables, maxCandidatesPerVec)
    // allowFixedWidth: the measured sizing IS the occupancy guard.
    crossCorpusNearDupLsh(newEmb, oldEmb, threshold, idCol, vecCol, dim,
      nPlanes, nTables, allowFixedWidth = true)
  }

  /**
   * Semantic outlier scoring against the per-group embedding centroid —
   * the curation step that catches mislabeled/misfiled documents (a
   * French doc in the English bucket, spam in a code corpus): each
   * vector's cosine to its group's mean vector, plus an outlier flag at
   * `threshold`.
   *
   * Determinism of the centroid (the interesting part): a naive
   * per-dimension `avg(x_d)` is an order-dependent float sum — a
   * different partitioning would change low bits and break rerun
   * stability and the oracle hash. Instead each element is micro-scaled
   * to an exact integer (`floor(x·10⁶ + 0.5)` — float→double is exact,
   * one IEEE multiply and add shared by both engines), the per-dim SUMS
   * are 64-bit integer aggregations (order-insensitive), and the
   * centroid component is ONE double division `s_d / (n·10⁶)` applied to
   * exact integers. Cosine against the centroid is then the same
   * left-associated term chain as every other cosine here.
   *
   * Spark shape: one hash aggregation to ≤ |groups| centroid rows (the
   * bounded model artifact), broadcast back onto the corpus, and a
   * narrow codegen'd projection computes the score — the scan side never
   * shuffles.
   */
  def embedOutliers(df: DataFrame, groupCol: String = "lang",
      threshold: Double = 0.5, idCol: String = "vec_id",
      vecCol: String = "embedding", dim: Int = 64): DataFrame = {
    val micro = (1 to dim).map(d =>
      sum(floor(element_at(col(vecCol), d).cast("double") * lit(1000000.0) +
        lit(0.5)).cast("long")).as(s"__s$d"))
    val stats = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("__n"), micro: _*)
    def centroid(d: Int): Column =
      col(s"__s$d").cast("double") /
        (col("__n").cast("double") * lit(1000000.0))
    val x = (d: Int) => element_at(col(vecCol), d).cast("double")
    val dotC = (1 to dim).map(d => x(d) * centroid(d)).reduce(_ + _)
    val n2x = (1 to dim).map(d => x(d) * x(d)).reduce(_ + _)
    val n2c = (1 to dim).map(d => centroid(d) * centroid(d)).reduce(_ + _)
    df.join(broadcast(stats), groupCol)
      .select(col(idCol), col(groupCol),
        (dotC / (sqrt(n2x) * sqrt(n2c))).as("cos_centroid"))
      .withColumn("is_outlier", col("cos_centroid") < threshold)
  }

  /**
   * Embedding centroid drift between two corpus versions: per group, the
   * cosine between the old and new per-group mean vectors, plus both
   * sample counts and a drift verdict at `threshold` — the embedding
   * face of the q101 token-drift audit (run before swapping an encoder
   * or corpus version into a training mix: a group whose centroid moved
   * is the group whose data changed).
   *
   * Determinism: the same micro-scaled integer-sum centroid as
   * [[embedOutliers]] — per-dimension sums of `floor(x·10⁶ + 0.5)` are
   * exact order-insensitive integer aggregations, the centroid division
   * and cosine are per-row double chains mirrored in the oracle.
   *
   * Spark shape: each side reduces to ≤ |groups| centroid rows in ONE
   * map-side-partial hash agg (the 100 TB corpus never shuffles raw
   * vectors — the shuffle is groups × dim integer sums), then one
   * broadcast-sized equi-join of the two centroid tables.
   */
  def centroidDrift(oldDf: DataFrame, newDf: DataFrame,
      groupCol: String = "label", threshold: Double = 0.5,
      vecCol: String = "embedding", dim: Int = 64): DataFrame = {
    def stats(d: DataFrame, pre: String) = {
      val micro = (1 to dim).map(i =>
        sum(floor(element_at(col(vecCol), i).cast("double") * lit(1000000.0) +
          lit(0.5)).cast("long")).as(s"${pre}s$i"))
      d.groupBy(col(groupCol)).agg(count(lit(1)).as(s"${pre}n"), micro: _*)
    }
    def cent(pre: String)(i: Int): Column =
      col(s"${pre}s$i").cast("double") /
        (col(s"${pre}n").cast("double") * lit(1000000.0))
    val dot = (1 to dim).map(i => cent("__a")(i) * cent("__b")(i)).reduce(_ + _)
    val n2a = (1 to dim).map(i => cent("__a")(i) * cent("__a")(i)).reduce(_ + _)
    val n2b = (1 to dim).map(i => cent("__b")(i) * cent("__b")(i)).reduce(_ + _)
    stats(oldDf, "__a").join(stats(newDf, "__b"), groupCol)
      .select(col(groupCol), col("__an").as("n_old"), col("__bn").as("n_new"),
        (dot / (sqrt(n2a) * sqrt(n2b))).as("centroid_cosine"))
      .withColumn("drifted", col("centroid_cosine") < threshold)
  }

  /** Deterministic ±1 entry of the random-projection sign matrix at
    * (output dim `o`, input dim `i` — both 0-based): one bit of the
    * Knuth multiplicative hash of the flattened index. Shared with the
    * SQL-oracle builder so both engines inline the SAME literal matrix
    * (the codebook pattern — the model rides the plan, never a join). */
  def rpSign(o: Int, i: Int, dim: Int): Int = {
    val h = ((o.toLong * dim + i) * 2654435761L) % 4294967296L
    if (((h >> 16) & 1L) == 0L) 1 else -1
  }

  /**
   * Signed random projection to `outDim` dimensions (Achlioptas-style
   * dense ±1 matrix): `p_o = floor((Σᵢ v_i · s(o,i)) · 10⁶ + 0.5)` —
   * micro-quantized so the projected coordinates are integer columns
   * (exactly comparable, diff-able, and 4-8× smaller to store than
   * float64). The dimensionality-reduction face of the SRP machinery
   * that [[lshBucket]] thresholds to bits: downstream clustering or ANN
   * runs on 16 coordinates instead of 64 with JL-lemma distance
   * preservation.
   *
   * Spark shape: a pure per-row codegen'd projection — zero shuffle,
   * zero join; the sign matrix rides the plan as literals. Per-output
   * sums are fixed left-assoc double chains mirrored exactly by the
   * oracle.
   */
  def randomProject(df: DataFrame, outDim: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding",
      dim: Int = 64): DataFrame = {
    require(outDim >= 1, s"outDim=$outDim must be >= 1")
    val cols = (0 until outDim).map { o =>
      val sum = (1 to dim).map(i =>
        element_at(col(vecCol), i).cast("double") *
          lit(rpSign(o, i - 1, dim).toDouble)).reduceLeft(_ + _)
      floor(sum * 1000000.0 + 0.5).cast("long").as(s"p$o")
    }
    df.select(col(idCol) +: cols: _*)
  }

  /**
   * Mutual top-1 pairs from a kNN pair table ([[knnJoin]] /
   * [[knnJoinLsh]] output): the (a, b) pairs where a's best neighbor is
   * b AND b's best neighbor is a — reciprocal nearest neighbors, the
   * high-precision pair miner used for bitext/parallel-pair mining and
   * as the safest merge rule in agglomerative dedup (a hub document
   * that is "everyone's neighbor" is NOT everyone's mutual neighbor, so
   * hubs stop absorbing clusters).
   *
   * Spark shape: consumes the already-bounded kNN graph (≤ k rows per
   * vector — never touches raw vectors), takes rank-1 rows, and checks
   * reciprocity with ONE equi-join on the (query, cand) = (cand, query)
   * key pair. Scale is inherited from the kNN graph builder: LSH-
   * bucketed candidates, never all-pairs.
   */
  def mutualTop1(knn: DataFrame, queryCol: String = "query_id",
      candCol: String = "cand_id", scoreCol: String = "score",
      rankCol: String = "rank"): DataFrame = {
    val t = graft.SparkUtil.trackCache(knn.filter(col(rankCol) === 1)
      .select(col(queryCol).as("q"), col(candCol).as("c"),
        col(scoreCol).as("s")))
    t.as("x").join(t.as("y"),
        col("x.q") === col("y.c") && col("x.c") === col("y.q"))
      .filter(col("x.q") < col("x.c"))
      .select(col("x.q").as("id_a"), col("x.c").as("id_b"),
        col("x.s").as("score"))
  }

  /** Deterministic seed codebook: the `n` lowest-id vectors, in id order
    * (the same seeding rule as [[annTopKIvf]] / [[trainIvfCentroids]] —
    * fully replayable by the SQL oracle, unlike a trained codebook whose
    * distributed float means drift at the ulp). */
  private def seedVectors(df: DataFrame, n: Int, idCol: String,
      vecCol: String): Seq[Array[Float]] = {
    val session = df.sparkSession
    import session.implicits._
    val seeds = df.filter(col(idCol) < n)
      .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .as[(Long, Array[Float])].collect().sortBy(_._1).map(_._2).toSeq
    require(seeds.size >= 2, s"need >= 2 seed vectors, found ${seeds.size}")
    seeds
  }

  /** Driver-side squared L2 over a slice, ascending-index double
    * accumulation — bit-identical to [[graft.functions.catalyst.L2ToLitF32]]
    * and the oracle's left-assoc chain. */
  private def l2D(a: Array[Float], b: Array[Float], from: Int,
      until: Int): Double = {
    var s = 0.0; var i = from
    val n = math.min(until, math.min(a.length, b.length))
    while (i < n) {
      val t = a(i).toDouble - b(i).toDouble; s += t * t; i += 1
    }
    s
  }

  private def subSlices(cents: Seq[Array[Float]], j: Int,
      dsub: Int): Seq[Seq[Double]] =
    cents.map(_.slice(j * dsub, (j + 1) * dsub).map(_.toDouble).toSeq)

  /**
   * Product-quantization encode (Jégou, Douze, Schmid, TPAMI 2011): split
   * each `dim`-dimensional vector into `m` subvectors of `dim/m`
   * components and replace each subvector with the index of its nearest
   * (L2) centroid from a per-subspace codebook of `ksub` entries — a
   * vector becomes `m` small integer codes (`m=8, ksub<=256` → 8 bytes,
   * a 32× compression of a 64-dim float32 embedding). The compressed
   * code table is what a billion-vector ANN index actually scans; raw
   * vectors are only fetched for final re-ranking ([[ivfPqTopK]]).
   *
   * Codebook: caller-supplied (e.g. trained per-subspace k-means) or the
   * deterministic lowest-id seed rule — the oracle replays the seed
   * variant exactly; the approximation quality (not correctness) is what
   * training improves.
   *
   * Spark shape (100 TB posture): ONE narrow codegen'd projection — the
   * codebook rides the plan as reference objects ([[graft.functions.catalyst.PqCodeF32]]),
   * zero joins, zero shuffles; plan-pinned. Output is `m` int columns,
   * columnar-compressed to ~1 byte each in parquet.
   */
  def pqEncode(df: DataFrame, m: Int = 8, ksub: Int = 64,
      idCol: String = "vec_id", vecCol: String = "embedding",
      dim: Int = 64,
      codebook: Option[Seq[Array[Float]]] = None): DataFrame = {
    require(m >= 1 && dim % m == 0, s"dim=$dim must be a multiple of m=$m")
    val dsub = dim / m
    val cents = codebook.getOrElse(seedVectors(df, ksub, idCol, vecCol))
    val codeCols = (0 until m).map { j =>
      pqCode(col(vecCol), subSlices(cents, j, dsub), j * dsub, dsub)
        .as(s"code_$j")
    }
    df.select(col(idCol) +: codeCols: _*)
  }

  /**
   * IVF-PQ top-k search (the FAISS `IVFPQ` + refine layout, by_residual
   * off): coarse-quantize the corpus into `nlist` L2 cells and keep only
   * the `nprobe` cells nearest the query (the inverted-file prune), rank
   * survivors by ASYMMETRIC DISTANCE — the sum of `m` per-subspace
   * query→centroid distances looked up by PQ code from a precomputed
   * table — then exactly re-rank the best `rerank` candidates with full
   * vectors and return the top `k` by true L2.
   *
   * Spark shape (100 TB posture): the query vector, both codebooks, and
   * the `m × ksub` ADC lookup table all ride the plan as
   * literals/reference objects — ZERO joins, ZERO shuffle Exchanges
   * (plan-pinned): scan → narrow projection (cell + codes + ADC sum) →
   * probed-cell filter → TakeOrderedAndProject(rerank) → exact-distance
   * projection → TakeOrderedAndProject(k). At scale the codes come from a
   * persisted [[pqEncode]] table (8 bytes/vector scanned instead of 256)
   * and only `rerank` rows ever touch raw vectors.
   *
   * Approximation lives in the INDEX (seed codebooks here — exactly
   * SQL-replayable; training improves recall, not correctness): recall@10
   * vs exact L2 is spec-pinned over a 20-query panel.
   */
  def ivfPqTopK(df: DataFrame, query: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      dim: Int = 64, m: Int = 8, ksub: Int = 64, nlist: Int = 16,
      nprobe: Int = 8, rerank: Int = 100,
      codebook: Option[Seq[Array[Float]]] = None,
      cellbook: Option[Seq[Array[Float]]] = None): DataFrame = {
    require(m >= 1 && dim % m == 0, s"dim=$dim must be a multiple of m=$m")
    require(nprobe >= 1 && rerank >= k,
      s"need nprobe >= 1 and rerank=$rerank >= k=$k")
    val session = df.sparkSession
    import session.implicits._
    val dsub = dim / m
    val cents = codebook.getOrElse(seedVectors(df, ksub, idCol, vecCol))
    val cells = cellbook.getOrElse(seedVectors(df, nlist, idCol, vecCol))
    val qv = query.select(col(vecCol).cast("array<float>"))
      .as[Array[Float]].head()
    val qd = qv.map(_.toDouble).toSeq
    val probed = cells.zipWithIndex
      .map { case (cv, c) => (l2D(cv, qv, 0, dim), c) }
      .sortBy { case (d, c) => (d, c) }.take(nprobe).map(_._2)
    val lut = (0 until m).map { j =>
      cents.map(cv => l2D(cv, qv, j * dsub, (j + 1) * dsub)).toSeq
    }
    val cellCol = pqCode(col(vecCol),
      cells.map(_.map(_.toDouble).toSeq), 0, dim).as("__cell")
    val codeCols = (0 until m).map { j =>
      pqCode(col(vecCol), subSlices(cents, j, dsub), j * dsub, dsub)
        .as(s"__c$j")
    }
    val adist = (0 until m).map(j =>
      element_at(typedLit(lut(j)), col(s"__c$j") + 1)).reduceLeft(_ + _)
    df.select(col(idCol) +: col(vecCol) +: cellCol +: codeCols: _*)
      .filter(col("__cell").isin(probed: _*))
      .withColumn("__adist", adist)
      .orderBy(col("__adist").asc, col(idCol).asc).limit(rerank)
      .select(col(idCol), l2ToLit(col(vecCol), qd, 0).as("dist"))
      .orderBy(col("dist").asc, col(idCol).asc).limit(k)
  }
}
