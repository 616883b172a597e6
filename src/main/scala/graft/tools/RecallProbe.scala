package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.SimilaritySearch

/** Dev probe (VERDICT r14 #2): measured recall of the bucketCap'd
  * auto-LSH faces against exact brute force. q264/q267/q276 bound hot
  * corpus-side buckets with [[SimilaritySearch.lshBucketCapFor]] rather
  * than widening; on the clustered 1000× probe those buckets run ~500×
  * over the isotropy expectation, so the cap genuinely bites there and
  * the documented recall contract ("per-candidate recall at angle θ is
  * 1-(1-p^nPlanes)^nTables") needs a measurement on the real bucket
  * skew, not an assumption.
  *
  * For a deterministic stride sample of query ids it reports, against
  * exact top-k (excluding the query's own id, ties broken id-asc on
  * both sides):
  *   - q264 knnJoinLshAuto graph:       recall@1, recall@k, empty rate
  *   - q276 knnJoinLshBipartiteAuto:    recall@1, recall@k, empty rate
  *   - q267 annTopKLshAuto (multiprobe): recall@1, recall@10 on a
  *     smaller sample (one corpus-index pass per query)
  *
  * Filtering the graph to the sampled query ids is per-query exact: the
  * rank window partitions by query_id and the bucketCap window by
  * (table, bucket) on the corpus side only, so no sampled query's rows
  * change when the other queries' rows are pruned.
  *
  * Usage: runMain graft.tools.RecallProbe <sfDir> [nQueries] [k] [nAnn]
  */
object RecallProbe {
  private def recallAt(m: Int, exact: Map[Long, Seq[Long]],
      got: Map[Long, Seq[Long]]): Double = {
    val per = exact.toSeq.map { case (q, ex) =>
      val e = ex.take(m).toSet
      if (e.isEmpty) 1.0
      else got.getOrElse(q, Seq.empty).take(m).toSet.intersect(e).size.toDouble / e.size
    }
    per.sum / math.max(1, per.size)
  }

  private def toLists(rows: Array[org.apache.spark.sql.Row])
      : Map[Long, Seq[Long]] =
    rows.map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .groupBy(_._1)
      .map { case (q, xs) => q -> xs.sortBy(_._3).map(_._2).toSeq }

  /** Recall split by the EXACT neighbor's cosine band: separates the
    * near-dup regime (cosine → 1, where the LSH contract promises high
    * recall at any width) from moderate-cosine accidental neighbors
    * (where `1-(1-p^nPlanes)^nTables` prices recall near zero at wide
    * indexes — by contract, not by the bucketCap). */
  private def bandedRecall(exactScored: Map[Long, Seq[(Long, Double)]],
      got: Map[Long, Seq[Long]]): Unit = {
    val bands = Seq((0.9, 1.01), (0.7, 0.9), (0.5, 0.7), (-1.01, 0.5))
    bands.foreach { case (lo, hi) =>
      val pairs = exactScored.toSeq.flatMap { case (q, ns) =>
        ns.collect { case (id, s) if s >= lo && s < hi => (q, id) }
      }
      val found = pairs.count { case (q, id) =>
        got.getOrElse(q, Seq.empty).contains(id)
      }
      if (pairs.nonEmpty)
        println(f"  band [$lo%5.2f, $hi%4.2f): recall ${found.toDouble / pairs.size}%.4f ($found/${pairs.size})")
    }
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Session(cpus)

    val nq = if (args.length > 1) args(1).toInt else 64
    val k = if (args.length > 2) args(2).toInt else 5
    val nAnn = if (args.length > 3) args(3).toInt else 8
    val dim = 64
    val emb = spark.read.parquet(s"${args(0)}/embeddings.parquet").cache()
    val n = emb.count()
    val (nPlanes, nTables) = SimilaritySearch.lshPlanesFor(n, 64, maxTables = 8)
    val cap = SimilaritySearch.lshBucketCapFor(n, 64)
    println(s"n=$n width=($nPlanes, $nTables) bucketCap=$cap nq=$nq k=$k")

    val stride = math.max(1L, n / nq)
    val qids = (0 until nq).map(_ * stride)
    val queries = emb.filter(col("vec_id").isin(qids: _*)).cache()
    println(s"queries=${queries.count()} (stride $stride)")

    def timed[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"$name%-28s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
      r
    }

    // exact ground truth: brute-force top-(k+1), self dropped, re-ranked
    val exactScored = timed("exact knnJoin (brute)") {
      SimilaritySearch.knnJoin(emb, queries, k + 1,
          allowBruteForce = true)
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"), col("score"),
          row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("query_id"))
            .orderBy(col("score").desc, col("vec_id").asc)).as("r"))
        .filter(col("r") <= k).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .groupBy(_._1)
        .map { case (q, xs) =>
          q -> xs.sortBy(_._4).map(x => (x._2, x._3)).toSeq }
    }
    val exact = exactScored.map { case (q, ns) => q -> ns.map(_._1) }
    val s1 = exactScored.values.flatMap(_.headOption.map(_._2))
    val sk = exactScored.values.flatMap(_.lastOption.map(_._2))
    println(f"exact cosine: rank-1 mean ${s1.sum / s1.size}%.4f " +
      f"(min ${s1.min}%.4f max ${s1.max}%.4f), rank-$k mean ${sk.sum / sk.size}%.4f")

    val g264 = timed("q264 graph (filtered)") {
      toLists(SimilaritySearch.knnJoinLshAuto(emb, k)
        .filter(col("query_id").isin(qids: _*))
        .select(col("query_id"), col("cand_id"), col("rank")).collect())
    }
    println(f"q264 recall@1=${recallAt(1, exact, g264)}%.4f " +
      f"recall@$k=${recallAt(k, exact, g264)}%.4f " +
      f"empty=${qids.count(q => !g264.contains(q))}/${qids.size}")
    bandedRecall(exactScored, g264)

    // UNCAPPED control at the same width, sampled queries only: isolates
    // the bucketCap's recall contribution from the width contract's.
    // (Full-corpus uncapped is the 2.8e10-candidate wall; filtering the
    // query side keeps per-query rows exact and the volume bounded.)
    val g264u = timed("q264 width, cap OFF") {
      toLists(SimilaritySearch.knnJoinLsh(emb, k,
          nPlanes = nPlanes, nTables = nTables,
          bucketCap = Int.MaxValue, allowFixedWidth = true)
        .filter(col("query_id").isin(qids: _*))
        .select(col("query_id"), col("cand_id"), col("rank")).collect())
    }
    println(f"uncapped recall@1=${recallAt(1, exact, g264u)}%.4f " +
      f"recall@$k=${recallAt(k, exact, g264u)}%.4f")
    bandedRecall(exactScored, g264u)

    // The q265-ladder alternative (VERDICT r14 #2): measured-escalation
    // width, NO cap — linear candidate volume by measurement instead of
    // by truncation. Wider planes price moderate-cosine recall near
    // zero by contract; the question is what they cost the near-dup
    // band vs the cap's eviction loss.
    val (pw, tw) = timed("ladder width decision") {
      SimilaritySearch.cosineNearDupPairsLshAutoWidth(emb, "embedding",
        dim = dim, targetBucket = 64, maxTables = 8,
        maxCandidatesPerVec = 2048)
    }
    println(s"ladder width: ($pw, $tw)")
    val g264w = timed("ladder width, cap OFF") {
      toLists(SimilaritySearch.knnJoinLsh(emb, k,
          nPlanes = pw, nTables = tw,
          bucketCap = Int.MaxValue, allowFixedWidth = true)
        .filter(col("query_id").isin(qids: _*))
        .select(col("query_id"), col("cand_id"), col("rank")).collect())
    }
    println(f"ladder-width recall@1=${recallAt(1, exact, g264w)}%.4f " +
      f"recall@$k=${recallAt(k, exact, g264w)}%.4f " +
      f"empty=${qids.count(q => !g264w.contains(q))}/${qids.size}")
    bandedRecall(exactScored, g264w)

    // Ladder width + cap: widening splits the MIXED buckets (where the
    // cap was evicting the lone true neighbor), the cap bounds the
    // residual dense clusters (where survivors are near-equivalent
    // top-k candidates) — the cost/recall synthesis candidate.
    val g264wc = timed("ladder width + cap") {
      toLists(SimilaritySearch.knnJoinLsh(emb, k,
          nPlanes = pw, nTables = tw, bucketCap = cap,
          allowFixedWidth = true)
        .filter(col("query_id").isin(qids: _*))
        .select(col("query_id"), col("cand_id"), col("rank")).collect())
    }
    println(f"ladder+cap recall@1=${recallAt(1, exact, g264wc)}%.4f " +
      f"recall@$k=${recallAt(k, exact, g264wc)}%.4f " +
      f"empty=${qids.count(q => !g264wc.contains(q))}/${qids.size}")
    bandedRecall(exactScored, g264wc)

    // Full-graph cost predictors: Σ size² (uncapped candidate volume)
    // and Σ size·min(size,cap) (what a cap admits), per width.
    Seq((nPlanes, nTables), (pw, tw)).distinct.foreach { case (p, t) =>
      val o = emb.select(SimilaritySearch.srpTableKeys(
          graft.functions.VectorFunctions.lshBucket(
            col("embedding"), dim, p * t), p, t).as("tb"))
        .groupBy("tb").count()
        .agg(max("count").as("mx"),
          sum(col("count") * col("count")).as("sq"),
          sum(col("count") * least(col("count"), lit(cap.toLong)))
            .as("cp")).head()
      println(s"width ($p, $t): max_bucket=${o.getLong(0)} " +
        s"sum_sq=${o.getLong(1)} sum_capped(cap=$cap)=${o.getLong(2)}")
    }

    // DISJOINT store shape — the shipped q276 (queries label===0 vs
    // store label>=5 never overlap). Probing with store = full corpus
    // under-measures the face: the query row is in the store, so pass 1
    // always matches the query to ITSELF and the empty-yield residual
    // (no rows at all) never fires; self-filtering afterwards then
    // reports the residual-eligible queries as empty anyway. Drop the
    // sampled ids from the store (and from the exact lists) instead.
    val store = emb.filter(!col("vec_id").isin(qids: _*))
    val exact276 = exactScored.map { case (q, ns) =>
      q -> ns.filterNot { case (id, _) => qids.contains(id) }.map(_._1) }
    val g276 = timed("q276 bipartite (auto)") {
      toLists(SimilaritySearch.knnJoinLshBipartiteAuto(store, queries, k)
        .select(col("query_id"), col("cand_id"), col("rank")).collect())
    }
    println(f"q276 recall@1=${recallAt(1, exact276, g276)}%.4f " +
      f"recall@$k=${recallAt(k, exact276, g276)}%.4f " +
      f"empty=${qids.count(q => !g276.contains(q))}/${qids.size}")

    // q267: one corpus-index pass per query — smaller sample
    val annIds = qids.take(nAnn)
    val kAnn = 10
    val g267 = timed(s"q267 ann x${annIds.size}") {
      annIds.map { q =>
        val rows = SimilaritySearch.annTopKLshAuto(emb,
            emb.filter(col("vec_id") === q), kAnn + 1)
          .filter(col("vec_id") =!= q).collect()
        q.toLong -> rows.map(_.getLong(0)).toSeq.take(kAnn)
      }.toMap
    }
    val exactAnn = timed("exact for ann sample") {
      toLists(SimilaritySearch.knnJoin(emb,
          emb.filter(col("vec_id").isin(annIds: _*)), kAnn + 1,
          allowBruteForce = true)
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("query_id"))
            .orderBy(col("score").desc, col("vec_id").asc)).as("r"))
        .filter(col("r") <= kAnn).collect())
    }
    println(f"q267 recall@1=${recallAt(1, exactAnn, g267)}%.4f " +
      f"recall@$kAnn=${recallAt(kAnn, exactAnn, g267)}%.4f " +
      f"empty=${annIds.count(q => !g267.contains(q.toLong))}/${annIds.size}")

    // Probe-depth frontier (VERDICT r15 #5): q267 measures recall@1 =
    // 1.0 but recall@10 = 0.375 at 1000× — fine for top-1 lookup, thin
    // for top-10 retrieval. Price the 2-bit query-side probe (exact
    // bucket + nPlanes 1-flips + (nPlanes choose 2) 2-flips per table,
    // query-side only) against the shipped 1-bit at the SAME auto
    // width: ship depth 2 only if the measured recall@10 gain is worth
    // the bounded probe-set growth.
    val (ap, at) = SimilaritySearch.lshPlanesFor(n, 64, maxTables = 15)
    println(s"q267 auto width: ($ap, $at), 2-bit probe set = " +
      s"${1 + ap + ap * (ap - 1) / 2}x per table")
    val g267d2 = timed(s"q267 ann 2-bit x${annIds.size}") {
      annIds.map { q =>
        val rows = SimilaritySearch.annTopKLshAuto(emb,
            emb.filter(col("vec_id") === q), kAnn + 1, probeBits = 2)
          .filter(col("vec_id") =!= q).collect()
        q.toLong -> rows.map(_.getLong(0)).toSeq.take(kAnn)
      }.toMap
    }
    println(f"q267/2bit recall@1=${recallAt(1, exactAnn, g267d2)}%.4f " +
      f"recall@$kAnn=${recallAt(kAnn, exactAnn, g267d2)}%.4f " +
      f"empty=${annIds.count(q => !g267d2.contains(q.toLong))}/${annIds.size}")
    spark.stop()
  }
}
