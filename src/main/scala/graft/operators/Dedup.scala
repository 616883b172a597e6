package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType}

import graft.functions.TextFunctions._

/**
 * Deduplication operators for training-data pipelines: exact, n-gram
 * Jaccard, MinHash+LSH, and SimHash near-dup detection. North-star
 * extensions beyond the reference's single lookup operator (SURVEY.md §2.2,
 * §2.3 Tier B Q9/Q11).
 *
 * Scale design (100 TB posture):
 *   - `exact` is one hash-partitioned window — the canonical distributed
 *     dedup; AQE handles key skew.
 *   - Near-dup operators never materialize the O(n²) pair space. Candidate
 *     generation is an inverted-index equi-join (shared shingle / LSH band
 *     bucket / SimHash pigeonhole block), i.e. a shuffle on the bucket key,
 *     and only bucket-colliding pairs are scored. Every such join is one
 *     `keyedPairs` call, its id predicate taken from a `PairKind`. A document-frequency cap
 *     on shingles (`maxDocFreq`) bounds the quadratic blowup of
 *     stop-shingles — the standard "drop ubiquitous features" guard.
 *   - All hashes are integer polynomial hashes (TextFunctions), so every
 *     operator here is exactly replayable in ANSI SQL for the oracle.
 */
object Dedup {

  /** Exact dedup: keep, per distinct value of `keyCols`, the row with the
    * smallest `orderCol`. One shuffle on the key columns. */
  def exact(df: DataFrame, keyCols: Seq[String], orderCol: String): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(orderCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Eval-set decontamination: drop every document whose content
    * fingerprint (md5 of `textCol`) appears in `evalSet` — the standard
    * guard against benchmark/eval leakage into training data. The
    * fingerprint side is distinct'd and broadcast, so the corpus scan
    * never shuffles: a broadcast LEFT ANTI join is the lookup operator's
    * dual (keep what does NOT match). Swap md5 for a normalized or
    * n-gram fingerprint upstream for fuzzier containment checks. */
  def decontaminate(docs: DataFrame, evalSet: DataFrame,
      textCol: String = "text"): DataFrame = {
    val sigs = evalSet.select(md5(col(textCol)).as("__sig")).distinct()
    docs.join(broadcast(sigs), md5(docs(textCol)) === col("__sig"), "left_anti")
  }

  /**
   * Bloom-prefiltered exact decontamination — same RESULT as
   * [[decontaminate]] (the spec and oracle pin that), different scale
   * shape: the eval set is compressed into a deterministic Bloom filter
   * (`Sketches.bloomArray`, ~mBits/8 bytes) that rides the plan as a
   * LITERAL, so candidate detection is a pure per-row filter — no join,
   * no shuffle, no broadcast of the full fingerprint set. Only
   * bloom-positive docs (true matches + false positives, no false
   * negatives) reach the exact md5 verify, and only verified ids reach
   * the final broadcast anti-join.
   *
   * When the eval fingerprint set is small, plain [[decontaminate]]'s
   * broadcast anti-join is simpler and just as fast; this shape is for
   * when the eval set is too big to broadcast but its Bloom digest isn't
   * — the classic "ship the sketch, not the set".
   */
  def decontaminateBloom(docs: DataFrame, evalSet: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      mBits: Int = 1 << 16, k: Int = 5): DataFrame = {
    val words = Sketches.bloomArray(evalSet, textCol, mBits, k)
    val candidates = docs
      .filter(Sketches.bloomMightContain(col(textCol), words, mBits, k))
    val sigs = evalSet.select(md5(col(textCol)).as("__sig")).distinct()
    val contaminated = candidates
      .join(sigs, md5(candidates(textCol)) === col("__sig"), "left_semi")
      .select(col(idCol).as("__bad"))
    docs.join(broadcast(contaminated), docs(idCol) === col("__bad"), "left_anti")
  }

  /**
   * Fuzzy eval-set decontamination: drop every corpus document containing
   * at least `containPct`% of some eval document's distinct n-gram
   * shingles — the guard exact-md5 [[decontaminate]] cannot provide when
   * benchmark text leaks with edits (cosmetic rewording, prompt framing,
   * concatenation). Containment is measured against the EVAL side
   * (`|shingles(corpus doc) ∩ shingles(eval doc)| / |shingles(eval doc)|`),
   * the right asymmetry for leakage: a long training doc that embeds a
   * whole eval item must die even though the item is a tiny fraction of it.
   *
   * Scale design (100 TB posture): the eval index (shingle hash →
   * eval doc) is small and broadcast, so the corpus scan stays
   * shuffle-free through candidate generation; only matching
   * (corpus, eval) shingle hits — rare by construction — enter the
   * count aggregation, and the final keep-filter is again a broadcast
   * LEFT ANTI. The containment test is integer cross-multiplication
   * (`hits * 100 >= containPct * |eval shingles|`) — no floats anywhere.
   */
  def decontaminateFuzzy(docs: DataFrame, evalSet: DataFrame,
      containPct: Int = 80, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 3): DataFrame = {
    val evalIdx = evalSet.filter(hasShingles(col(textCol), n))
      .select(col(idCol).as("__eid"), shingleHashes(col(textCol), n).as("__ehs"))
      .select(col("__eid"), size(col("__ehs")).as("__esz"), explode(col("__ehs")).as("__h"))
    val corpusShingles = docs
      .select(col(idCol).as("__cid"), explode(shingleHashes(col(textCol), n)).as("__h"))
    val contaminated = corpusShingles
      .join(broadcast(evalIdx), "__h")
      .groupBy(col("__cid"), col("__eid"), col("__esz"))
      .agg(count(lit(1)).as("__hits"))
      .filter(col("__hits") * 100 >= lit(containPct) * col("__esz"))
      .select(col("__cid")).distinct()
    docs.join(broadcast(contaminated), docs(idCol) === col("__cid"), "left_anti")
  }

  /**
   * Per-eval-doc contamination REPORT — the measuring side of
   * decontamination: for each eval document, the fraction of its
   * distinct token n-gram shingles present anywhere in the training
   * corpus, with the `containPct` verdict. What an eval-suite audit
   * publishes before anyone trusts a benchmark number.
   *
   * Same index shape as [[decontaminateFuzzy]]: the big `train` side
   * explodes narrowly into the broadcast join with the small eval
   * shingle index — it never shuffles — and only matched survivors
   * (bounded by eval-set size × shingles) reach the distinct-hit
   * aggregation. Fractions are one exact-integer division; the verdict
   * is integer cross-multiplication, float-free.
   */
  def contaminationReport(train: DataFrame, evalSet: DataFrame,
      containPct: Int = 80, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 3): DataFrame = {
    val evalIdx = evalSet.filter(hasShingles(col(textCol), n))
      .select(col(idCol).as("eval_id"), shingleHashes(col(textCol), n).as("__ehs"))
      .select(col("eval_id"), size(col("__ehs")).cast("long").as("n_shingles"),
        explode(col("__ehs")).as("__h"))
    val corpusShingles = train
      .select(explode(shingleHashes(col(textCol), n)).as("__h"))
    val hits = corpusShingles.join(broadcast(evalIdx), "__h")
      .groupBy(col("eval_id")).agg(count_distinct(col("__h")).as("__nh"))
    val nHit = coalesce(col("__nh"), lit(0L))
    evalIdx.select(col("eval_id"), col("n_shingles")).distinct()
      .join(hits, Seq("eval_id"), "left")
      .select(col("eval_id"), col("n_shingles"), nHit.as("n_hit"),
        (nHit.cast("double") / col("n_shingles")).as("contamination"),
        (nHit * 100 >= lit(containPct) * col("n_shingles")).as("contaminated"))
  }

  /** Per-doc distinct shingle-hash sets with set size; docs with fewer
    * than `n` tokens (empty shingle set) are dropped — they cannot reach
    * any positive Jaccard threshold. The drop filters on the text
    * ([[hasShingles]]), so each document is shingled once. */
  private[graft] def withShingleSets(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    graft.SparkUtil.ensureParallelism(docs)
      .filter(hasShingles(col(textCol), n))
      .select(col(idCol).as("id"), shingleHashes(col(textCol), n).as("hs"))
      .withColumn("sz", size(col("hs")))

  /** Inverted index (id, sz, shingle-hash) of each of `sides`, with
    * ubiquitous shingles (document frequency > maxDocFreq, counted over
    * every side) removed — mirrors the SQL oracle's HAVING cap. The set
    * size rides along so downstream Jaccard math needs no join back to the
    * sets (sz is functionally dependent on id). */
  private[graft] def invertedIndex(maxDocFreq: Int, sides: DataFrame*): Seq[DataFrame] = {
    val invs = sides.map(_.select(col("id"), col("sz"), explode(col("hs")).as("h")))
    val rare = invs.map(_.select("h")).reduce(_ union _)
      .groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDocFreq).select("h")
    invs.map(_.join(rare, "h"))
  }

  /**
   * Size (length) filter of the AllPairs/PPJoin set-similarity joins: a
   * conjunct for the inverted-index joins over the set sizes `x` and `y`
   * of the two sides ([[keyedPairs]]), so a pair whose set sizes alone rule
   * it out is dropped inside the join, before the pair aggregate and its
   * Exchange. Jaccard bounds `least(x, y) / greatest(x, y)`; directional
   * containment (`x` inner, `y` outer) bounds `y / x`.
   *
   * Exact, so the output rows are unchanged: `sz` is the FULL set size and
   * the intersection counts only shingles under the df cap, so
   * `inter <= min(sz_a, sz_b)`. Hence `J = inter / (sz_a + sz_b - inter)
   * <= min / max` and `inter / sz_in <= sz_out / sz_in` in exact
   * arithmetic. Correctly rounded IEEE division is monotone, so a computed
   * score `fl(J) >= t` implies `fl(min / max) >= t`. That argument covers
   * this division form only; `min >= t * max` rounds the product instead
   * and is not the same predicate.
   */
  private def sizeFilter(x: Column, y: Column, threshold: Double,
      containment: Boolean): Column = {
    val (num, den) = if (containment) (y, x) else (least(x, y), greatest(x, y))
    num.cast("double") / den.cast("double") >= threshold
  }

  /** [[sizeFilter]] over one candidate's two set sizes, `x` first: the
    * same double division, for the [[scanCount]] kernel. */
  private def sizeRatioOk(szX: Int, szY: Int, threshold: Double,
      containment: Boolean): Boolean =
    if (containment) szY.toDouble / szX.toDouble >= threshold
    else math.min(szX, szY).toDouble / math.max(szX, szY).toDouble >= threshold

  /** The score filter that follows the counter ([[jaccardScored]],
    * [[containmentPairs]]) over one counted pair, `x` first, for the
    * [[scanCount]] kernel: `inter / (sz_x + sz_y - inter)`, or
    * `inter / sz_x` for containment, in Catalyst's arithmetic (an int sum,
    * a long difference, one double division) and `>= threshold`. A zero
    * denominator, which only duplicated ids give, passes, so Catalyst's
    * division still sees it (under ANSI it raises DIVIDE_BY_ZERO). */
  private def scoreOk(szX: Int, szY: Int, inter: Int, threshold: Double,
      containment: Boolean): Boolean = {
    val den = if (containment) szX.toLong else (szX + szY).toLong - inter
    den == 0 || inter.toDouble / den.toDouble >= threshold
  }

  /** The pair predicate of a keyed pair join, `x` the streamed side: which
    * id pairs it keeps, as [[ids]] for [[keyedPairs]] and as the matching
    * loop of the [[Postings.pairs]] kernel, and which [[sizeFilter]]
    * applies. */
  private sealed abstract class PairKind(val containment: Boolean) extends Serializable {
    /** The id predicate over the two sides' id columns. */
    def ids(x: Column, y: Column): Column
  }
  /** Pairs within one corpus, each once: `x.id < y.id`. */
  private case object Self extends PairKind(false) {
    def ids(x: Column, y: Column): Column = x < y
  }
  /** Directional containment, `x` inner and `y` outer: `x.id != y.id`. */
  private case object Containment extends PairKind(true) {
    def ids(x: Column, y: Column): Column = x =!= y
  }
  /** Pairs between two corpora, `x` new and `y` old: every id pair, null
    * ids included. */
  private case object Cross extends PairKind(false) {
    def ids(x: Column, y: Column): Column = lit(true)
  }

  /** The key of the SimHash pigeonhole-block joins ([[blocksAt]]). */
  private val BlockKey = Seq("block_id", "block_val")

  /**
   * The keyed pair enumeration of every candidate join here: `xs` (side
   * `x`) equi-joined with `ys` (side `y`; the same frame for a self-join)
   * on the `keys` columns, keeping the id pairs of `kind` over the `id`
   * columns and, given `sizeRatio`, only pairs that pass the [[sizeFilter]]
   * of `kind` over the `sz` columns. It returns `id_a, id_b` and each
   * `carry` column `c` as `c_a` (from `x`) and `c_b` (from `y`).
   */
  private def keyedPairs(xs: DataFrame, ys: DataFrame, keys: Seq[String],
      carry: Seq[String], kind: PairKind, id: String = "id",
      sizeRatio: Option[Double] = None): DataFrame = {
    def x(c: String) = col(s"x.$c")
    def y(c: String) = col(s"y.$c")
    val on = keys.map(k => x(k) === y(k)).reduce(_ && _) && kind.ids(x(id), y(id))
    xs.as("x").join(ys.as("y"), sizeRatio.fold(on)(t =>
        on && sizeFilter(x("sz"), y("sz"), t, kind.containment)))
      .select((x(id).as("id_a") +: carry.map(c => x(c).as(s"${c}_a"))) ++
        (y(id).as("id_b") +: carry.map(c => y(c).as(s"${c}_b"))): _*)
  }

  private[operators] case class ShingleSet(id: java.lang.Long, sz: Int, hs: Array[Long])
  private[operators] case class PairCount(a: java.lang.Long, sz_a: Int,
      b: java.lang.Long, sz_b: Int, inter: Long)

  /**
   * Document frequency per shingle hash over collected shingle sets:
   * `keys` holds the sorted distinct hashes and `df(k)` the number of
   * postings of `keys(k)`, one per set that holds it (a set's hashes are
   * distinct). Every set counts, a null id's too, as in [[invertedIndex]].
   */
  private[graft] final class DocFreq(val keys: Array[Long], val df: Array[Int]) {

    /** [[dfConcentration]] over the keys under the cap, from the same
      * integers in the same double arithmetic: `N`, `Σdf` and `Σdf²` are
      * exact in doubles, so the result is bit-identical to the aggregate. */
    def concentration(maxDocFreq: Int): Double = {
      var n = 0L
      var s1 = 0.0
      var s2 = 0.0
      var k = 0
      while (k < keys.length) {
        val d = df(k)
        if (d <= maxDocFreq) { n += 1; s1 += d.toDouble; s2 += (d.toLong * d).toDouble }
        k += 1
      }
      if (s1 == 0.0) 1.0 else n.toDouble * s2 / (s1 * s1)
    }
  }

  private[graft] object DocFreq {
    def apply(sets: Array[ShingleSet]): DocFreq = {
      val all = new Array[Long](sets.map(_.hs.length).sum)
      var at = 0
      for (x <- sets) { System.arraycopy(x.hs, 0, all, at, x.hs.length); at += x.hs.length }
      java.util.Arrays.sort(all)
      def runStart(i: Int) = i == 0 || all(i) != all(i - 1)
      var nKeys = 0
      var i = 0
      while (i < all.length) { if (runStart(i)) nKeys += 1; i += 1 }
      val keys = new Array[Long](nKeys)
      val df = new Array[Int](nKeys)
      var k = -1
      i = 0
      while (i < all.length) {
        if (runStart(i)) { k += 1; keys(k) = all(i) }
        df(k) += 1
        i += 1
      }
      new DocFreq(keys, df)
    }
  }

  /**
   * A capped inverted index as a CSR postings table of primitive arrays:
   * `keys` holds the sorted shingle hashes under the df cap, and the
   * postings of `keys(k)` are `docs(offsets(k) until offsets(k + 1))`,
   * document ordinals in ascending id order (null ids first). Ordinal `o`
   * is the distinct `(id, sz)` pair `(ids(o), szs(o))`, with `nullIds(o)`
   * set for a null id.
   */
  private final class Postings(keys: Array[Long], offsets: Array[Int],
      docs: Array[Int], ids: Array[Long], nullIds: Array[Boolean],
      szs: Array[Int]) extends Serializable {

    def docCount: Int = ids.length

    /** ScanCount for one streamed document: count, per `y` ordinal that
      * `kind` pairs with `x`, the postings of `x`'s shingles, then emit
      * the counted pairs that pass the size filter and the score filter
      * at `threshold`. `counts` is all zero on entry and on return;
      * `touched` is scratch of [[docCount]]. */
    def pairs(x: ShingleSet, kind: PairKind, threshold: Double,
        counts: Array[Int], touched: Array[Int]): Iterator[PairCount] = {
      val xId = if (x.id == null) 0L else x.id.longValue
      var n = 0
      def hit(o: Int): Unit = {
        if (counts(o) == 0) { touched(n) = o; n += 1 }
        counts(o) += 1
      }
      var i = 0
      while (i < x.hs.length) {
        val k = java.util.Arrays.binarySearch(keys, x.hs(i))
        if (k >= 0) {
          val from = offsets(k)
          var p = offsets(k + 1) - 1
          kind match {
            case Self => // ids ascend within a run: stop at x.id
              while (p >= from && ids(docs(p)) > xId) { hit(docs(p)); p -= 1 }
            case Containment =>
              while (p >= from) { if (ids(docs(p)) != xId) hit(docs(p)); p -= 1 }
            case Cross =>
              while (p >= from) { hit(docs(p)); p -= 1 }
          }
        }
        i += 1
      }
      val out = new Array[PairCount](n)
      var m = 0
      i = 0
      while (i < n) {
        val o = touched(i)
        if (sizeRatioOk(x.sz, szs(o), threshold, kind.containment) &&
            scoreOk(x.sz, szs(o), counts(o), threshold, kind.containment)) {
          out(m) = PairCount(x.id, x.sz,
            if (nullIds(o)) null else java.lang.Long.valueOf(ids(o)), szs(o), counts(o))
          m += 1
        }
        counts(o) = 0
        i += 1
      }
      out.iterator.take(m)
    }
  }

  private object Postings {
    private def sortedDistinct(a: Array[Long]): Array[Long] = {
      val s = a.clone()
      java.util.Arrays.sort(s)
      var k = 0
      var i = 0
      while (i < s.length) {
        if (k == 0 || s(i) != s(k - 1)) { s(k) = s(i); k += 1 }
        i += 1
      }
      java.util.Arrays.copyOf(s, k)
    }

    /** Builds the table from the collected sets `ys` with primitive sorts
      * and flat loops over the postings, one df lookup each. `df` counts
      * every posting that the cap is read over (`ys`'s and, across
      * corpora, the other side's); a hash with df over
      * `maxDocFreq` gets no run. Sets with a null id are indexed only if
      * `keepNullIds`, after df was counted. */
    def apply(ys: Array[ShingleSet], df: DocFreq, maxDocFreq: Int,
        keepNullIds: Boolean): Postings = {
      val sets = if (keepNullIds) ys else ys.filter(_.id != null)
      // document ordinals: distinct (id rank, sz) packed into one long,
      // a null id ranking -1 so it sorts first
      val distinctIds = sortedDistinct(sets.collect { case x if x.id != null => x.id.longValue })
      val docKey = sets.map { x =>
        val rank = if (x.id == null) -1 else java.util.Arrays.binarySearch(distinctIds, x.id.longValue)
        (rank.toLong << 32) | (x.sz & 0xffffffffL)
      }
      val ordKeys = sortedDistinct(docKey)
      val ranks = ordKeys.map(k => (k >> 32).toInt)
      val ids = ranks.map(r => if (r < 0) 0L else distinctIds(r))
      val nullIds = ranks.map(_ < 0)
      val szs = ordKeys.map(_.toInt)
      // the df cap: a run for each hash at or under it, -1 for the rest
      val run = new Array[Int](df.keys.length)
      var nKeys = 0
      for (k <- df.keys.indices)
        run(k) = if (df.df(k) <= maxDocFreq) { nKeys += 1; nKeys - 1 } else -1
      val keys = new Array[Long](nKeys)
      for (k <- df.keys.indices if run(k) >= 0) keys(run(k)) = df.keys(k)
      // each posting's run, looked up once and counted per run; set i's
      // postings are postRun(first(i) until first(i + 1))
      val first = new Array[Int](sets.length + 1)
      for (i <- sets.indices) first(i + 1) = first(i) + sets(i).hs.length
      val postRun = new Array[Int](first(sets.length))
      val offsets = new Array[Int](nKeys + 1)
      var p = 0
      for (x <- sets) {
        val hs = x.hs
        var j = 0
        while (j < hs.length) {
          val r = run(java.util.Arrays.binarySearch(df.keys, hs(j)))
          postRun(p) = r
          if (r >= 0) offsets(r + 1) += 1
          p += 1
          j += 1
        }
      }
      for (k <- 0 until nKeys) offsets(k + 1) += offsets(k)
      // CSR by a counting sort on the run, the sets visited in ordinal
      // order (ordinal << 32 | set index) so that every run's ordinals ascend
      val cursor = java.util.Arrays.copyOf(offsets, nKeys)
      val docs = new Array[Int](offsets(nKeys))
      val order = Array.tabulate(sets.length)(i =>
        (java.util.Arrays.binarySearch(ordKeys, docKey(i)).toLong << 32) | i)
      java.util.Arrays.sort(order)
      for (o <- order) {
        val ord = (o >>> 32).toInt
        p = first(o.toInt)
        while (p < first(o.toInt + 1)) {
          val r = postRun(p)
          if (r >= 0) { docs(cursor(r)) = ord; cursor(r) += 1 }
          p += 1
        }
      }
      new Postings(keys, offsets, docs, ids, nullIds, szs)
    }
  }

  private val integralIds: Set[DataType] = Set(ByteType, ShortType, IntegerType, LongType)

  /**
   * The shingle sets `(id, sz, hs)` of every side, collected to the
   * driver with one typed collect each, ids as long: `Some` when
   * [[scanCount]] applies, that is when every side's ids are integral and
   * the sets' total `sz` times the index row width (`8 + id width + 4`,
   * the schema's default sizes of `(h, id, sz)`, the widest side's id) is
   * at most `spark.sql.autoBroadcastJoinThreshold`, the setting under
   * which the index self-join would broadcast its index anyway (`-1`
   * forces the join). `None` otherwise, before any collect.
   *
   * Σ`sz` is the UNCAPPED posting count, at least the capped index's row
   * count. For one corpus the driver therefore never holds more postings
   * than the capped index has rows, and the dispatch differs from a bound
   * on the capped index only where the cap binds; both paths are exact.
   * Across corpora both sides count, since both are collected for the df.
   * The total is read in one job over the sets with no Exchange; cached
   * sets are filled first, and the collect reads the cache.
   */
  private[graft] def collectedSets(sides: DataFrame*): Option[Seq[Array[ShingleSet]]] = {
    val spark = sides.head.sparkSession
    val limit = spark.sessionState.conf.autoBroadcastJoinThreshold
    if (limit <= 0 || !sides.forall(s => integralIds(s.schema("id").dataType))) None
    else {
      import spark.implicits._
      val rowBytes = 8 + sides.map(_.schema("id").dataType.defaultSize).max + 4
      // per-partition sums: one job with no Exchange
      val postings = sides.map(_.select(col("sz").cast("long"))).reduce(_ union _)
        .as[Long].mapPartitions(sz => Iterator(sz.sum)).collect().sum
      // the driver's flat arrays hold one entry a posting
      if (postings * rowBytes > limit || postings >= Int.MaxValue) None
      else Some(sides.map(_.select(col("id").cast("long").as("id"), col("sz"), col("hs"))
        .as[ShingleSet].collect()))
    }
  }

  /**
   * ScanCount (Li, Lu and Lu, ICDE 2008) in place of an index join and its
   * pair `count` aggregate: `table`, the capped index of the `y` side built
   * on the driver from its collected sets ([[collectedSets]]), is
   * broadcast; each task streams `xSets` `(id, sz, hs)` and, per document,
   * counts every `y` posting of its shingles in one dense array, resetting
   * only the touched entries. It returns `(id_a, sz_a, id_b, sz_b, inter)`,
   * one row per pair of `kind` that shares a posting and passes
   * [[sizeFilter]] and the caller's score filter at `threshold`
   * ([[scoreOk]], the same integers in the same double arithmetic). The
   * caller's score and `>= threshold` filter stay in Catalyst as the
   * output contract; the kernel only leaves out the rows that filter
   * would drop, nearly all of the counted pairs, before they are encoded.
   *
   * Exact: the table is an inverted index whose run length is a key's
   * document frequency, so the cap is applied on the driver to the same
   * counts the df-cap aggregate reads: df is counted over every posting,
   * null ids included (and across corpora over both sides), before the
   * runs over `maxDocFreq` are dropped and, unless [[Cross]], the
   * null-id sets. Only shingles under the cap have postings, so `inter` is
   * the capped count the join counts; `sz` is the full set size; the
   * flattened sets are the same `(h, id, sz)` multiset the index explode
   * gives.
   *
   * Memory bound: the driver holds at most the Σ`sz` postings that
   * [[collectedSets]] admitted, at 8 bytes each in the sets and in the
   * sorted df copy and 4 each in the table and in the build's run of each
   * posting, plus at most 32 bytes a distinct hash and about 100 a
   * document; each task adds two int arrays of one entry per indexed
   * document.
   *
   * EAGER at construction, like [[dfConcentration]]: the collect and the
   * build run when the operator is CALLED, because the collect chooses
   * the plan.
   */
  private def scanCount(xSets: DataFrame, table: Postings, yIdType: DataType,
      kind: PairKind, threshold: Double): DataFrame = {
    val xIdType = xSets.schema("id").dataType
    val spark = xSets.sparkSession
    val bc = spark.sparkContext.broadcast(table)
    import spark.implicits._
    xSets.select(col("id").cast("long").as("id"), col("sz"), col("hs"))
      .as[ShingleSet]
      .mapPartitions { docs =>
        val p = bc.value
        val counts = new Array[Int](p.docCount)
        val touched = new Array[Int](p.docCount)
        docs.flatMap { x =>
          if (x.id == null && kind != Cross) Iterator.empty
          else p.pairs(x, kind, threshold, counts, touched)
        }
      }
      .select(col("a").cast(xIdType).as("id_a"), col("sz_a"),
        col("b").cast(yIdType).as("id_b"), col("sz_b"), col("inter"))
  }

  /**
   * The candidate counter of the exact shingle family: the pairs of the
   * shingle sets `xs` against `ys` (the same frame for one corpus) that
   * share a shingle under the df cap, counted once by [[scanCount]] or by
   * the capped index join, whichever applies. The choice is made here
   * only, when the counter is built: [[collectedSets]] collects every
   * side's sets (EAGER) or declines.
   *
   * The df cap is read over every side, from the collected sets or by
   * [[invertedIndex]]; [[concentration]] reads the same df.
   */
  private final class ShinglePairs(xs: DataFrame, ys: DataFrame, maxDocFreq: Int) {
    private val sides = if (xs eq ys) Seq(xs) else Seq(xs, ys)
    /** `ys`' collected sets and the df of every side's, while they fit. */
    private val collected = collectedSets(sides: _*)
      .map(sets => (sets.last, DocFreq(sets.reduce(_ ++ _))))

    /** The capped index of each side. For one corpus it is cached: the
      * candidate self-join consumes it TWICE, and when the build side is
      * small enough to broadcast there is no shared Exchange for
      * ReusedExchange to dedup — without the cache the explode + df-cap
      * join runs once per side (r16 opt: measured 2× the index-build work
      * in the q14/jacc06 plans). In shuffle-join mode the cache costs one
      * materialization and the sides scan it, the same I/O the reused
      * Exchange would have paid. Built only when read. */
    lazy val index: Seq[DataFrame] = {
      val inv = invertedIndex(maxDocFreq, sides: _*)
      if (sides.size == 1) inv.map(graft.SparkUtil.trackCache) else inv
    }

    /** [[dfConcentration]] of the capped index, read off the collected
      * df when there is one ([[DocFreq.concentration]], bit-identical). */
    def concentration: Double =
      collected.fold(dfConcentration(index.head))(_._2.concentration(maxDocFreq))

    /** `(id_a, sz_a, id_b, sz_b, inter)` for every pair of `kind` that
      * shares a capped shingle and passes [[sizeFilter]] at `threshold`;
      * [[scanCount]] also drops the pairs under the caller's score filter
      * at `threshold`, which the caller applies in any case. The join path
      * leaves `sz_b` out for [[Containment]], which is scored by the inner
      * size alone: one group key less in the pair aggregate. */
    def counted(kind: PairKind, threshold: Double): DataFrame = collected match {
      case Some((ySets, df)) =>
        scanCount(xs, Postings(ySets, df, maxDocFreq, keepNullIds = kind == Cross),
          ys.schema("id").dataType, kind, threshold)
      case None =>
        // MEASURED REJECTIONS (r17, VERDICT item 3 — do not re-churn):
        // one-pass grouped-explode candidate generation (groupBy(h) →
        // collect_list(struct(id, sz)) → two pipelined explodes with the
        // id < id cut — same pairs, index consumed once) measured q14
        // matched A/B: sf0.1 wash, 10× replica −15%, but 100× replica
        // 18.8 → 22.8 s (+21%): collect_list is ObjectHashAggregate, which
        // falls back to SORT-based aggregation past
        // spark.sql.objectHashAggregate.sortBased.fallbackThreshold (128)
        // in-memory keys — at scale the "sort-free" path degenerates into
        // the very sort it removes, plus per-bucket array building. A
        // shuffle_hash hint on the probe side (kill the SMJ sorts, keep the
        // join) also measured worse at 100× (20.2 vs 18.8 s): the sort of
        // narrow (h, id, sz) rows is not the bottleneck, the candidate
        // enumeration is, and SHJ adds per-partition hash-table builds over
        // the same volume. The two-sided equi-join with the shared Exchange
        // is the right shape at every measured scale.
        keyedPairs(index.head, index.last, Seq("h"), Seq("sz"), kind,
            sizeRatio = Some(threshold))
          .groupBy((Seq("id_a", "sz_a", "id_b") ++
            (if (kind.containment) Nil else Seq("sz_b"))).map(col): _*)
          .agg(count(lit(1)).as("inter"))
    }
  }

  /**
   * Exact n-gram Jaccard near-dup pairs: all (a, b), a < b, with
   * `|shingles(a) ∩ shingles(b)| / |shingles(a) ∪ shingles(b)| >= threshold`.
   *
   * Candidate generation by inverted-index self-join is *exact* (not
   * approximate): any pair with Jaccard > 0 shares at least one shingle,
   * so no qualifying pair is missed (given threshold > 0 and shingles
   * under the document-frequency cap).
   *
   * Candidates are counted by [[scanCount]] while the shingle sets fit
   * its bound ([[collectedSets]]), by the index self-join above it.
   *
   * Skew posture of the join (spec-pinned in DedupSpec "hot-shingle
   * skew"): the candidate self-join reuses the df-cap join's partitioning
   * on h (zero extra Exchange), which also means AQE's skew split can
   * never apply to it — its children are not bare shuffle stages. A hot shingle is
   * bounded structurally by `maxDocFreq` (each surviving shingle
   * contributes at most maxDocFreq² candidate rows); past that, the
   * fallback is a salted index join ([[graft.SparkUtil.saltedJoin]],
   * drop-in equal — also spec-pinned).
   */
  def ngramJaccardPairs(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 3, threshold: Double = 0.6,
      maxDocFreq: Int = 10000): DataFrame = {
    val sets = graft.SparkUtil.trackCache(withShingleSets(docs, idCol, textCol, n))
    jaccardScored(new ShinglePairs(sets, sets, maxDocFreq).counted(Self, threshold),
      threshold)
  }

  /** Count-based Jaccard over counted pairs `(id_a, sz_a, id_b, sz_b,
    * inter)`, kept at `>= threshold`, the ids named `a` and `b`. */
  private def jaccardScored(counted: DataFrame, threshold: Double,
      a: String = "id_a", b: String = "id_b"): DataFrame =
    counted.select(col("id_a").as(a), col("id_b").as(b),
        (col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /**
   * Document-frequency concentration of an inverted index:
   * `N · Σdf² / (Σdf)²` over the per-shingle document frequencies —
   * exactly 1.0 when every shingle has the same df (the plain
   * inverted-index join is already optimal: every shingle contributes
   * equally, a prefix cannot prune the hot ones because there are
   * none), growing with the tail weight (a few ubiquitous shingles
   * dominate Σdf², i.e. dominate candidate-pair generation — the
   * regime where prefix filtering pays). One bounded aggregation over
   * the df table the prefix path needs anyway.
   */
  private[graft] def dfConcentration(inv: DataFrame): Double = {
    val r = inv.groupBy("h").agg(count(lit(1)).as("__df"))
      .agg(count(lit(1)).cast("double").as("__n"),
        sum(col("__df").cast("double")).as("__s1"),
        sum((col("__df") * col("__df")).cast("double")).as("__s2"))
      .head()
    if (r.isNullAt(1) || r.getDouble(1) == 0.0) 1.0
    else r.getDouble(0) * r.getDouble(2) / (r.getDouble(1) * r.getDouble(1))
  }

  /**
   * Exact n-gram Jaccard pairs with an ADAPTIVE candidate strategy:
   * measure the shingle-df concentration (one bounded pre-agg over the
   * shared inverted index) and pick plain inverted-index
   * ([[ngramJaccardPairs]]'s count) on near-uniform corpora vs PPJoin
   * prefix filtering ([[prefixPairsFromIndex]]) on heavy-tailed ones.
   * The fixture corpus's tiny near-uniform shingle vocabulary is
   * exactly the pathology where the prefix machinery (df-rank window +
   * array-intersect verify) costs more than the candidates it saves;
   * web-scale shingle tables are Zipfian and flip the decision. Both
   * paths produce the same rows (spec- and oracle-pinned), so the
   * switch is a pure plan choice — the hand-rolled analogue of a
   * cost-based optimizer rule, decided from data statistics rather
   * than guessed.
   *
   * Below the [[scanCount]] bound the concentration is read off the
   * collected sets' df on the driver ([[DocFreq.concentration]],
   * bit-identical to the aggregate) and the plain branch is ScanCount;
   * only the prefix branch builds the inverted index. Above it, both
   * run over the cached index as before.
   *
   * EAGER at construction: the concentration probe executes a Spark job
   * when this method is CALLED, not when the returned DataFrame is acted
   * on (the dimensionAudit/bm25 guard pattern). graft.Bench times
   * construction + execution together, so the probe cost IS inside the
   * benchmarked region.
   */
  def ngramJaccardPairsAdaptive(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 3, threshold: Double = 0.6,
      maxDocFreq: Int = 10000, minPrefixConcentration: Double = 4.0): DataFrame = {
    val sets = graft.SparkUtil.trackCache(withShingleSets(docs, idCol, textCol, n))
    val pairs = new ShinglePairs(sets, sets, maxDocFreq)
    if (pairs.concentration >= minPrefixConcentration)
      prefixPairsFromIndex(pairs.index.head, threshold)
    else jaccardScored(pairs.counted(Self, threshold), threshold)
  }

  /**
   * Dedup provenance — the audit trail a governance review asks for:
   * for every document a dedup pass would REMOVE, which document it was
   * kept in favor of (its cluster's min-id representative). Pairs →
   * connected components → non-representative members, so transitively
   * linked docs resolve to ONE keeper even when no direct pair connects
   * them. Inverse of the keep-side operators (q51 keeps representatives;
   * this explains everything else).
   *
   * Scale shape: components run over the pair graph only (no corpus
   * vertices — docs with no near-dup have no provenance row), and the
   * output is bounded by the duplicated subset.
   */
  def dedupProvenance(pairs: DataFrame): DataFrame =
    ConnectedComponents(pairs)
      .filter(col("id") =!= col("component"))
      .select(col("id").as("removed_id"), col("component").as("kept_id"))

  /**
   * Per-group effective corpus size — the dedup discount: how many
   * UNIQUE contents (near-dup clusters) each source actually contributes
   * vs its raw document count. A source of 1M docs with effective ratio
   * 0.3 is 70% duplicated inventory; mixture weights computed on raw
   * counts overweight it by 3×. Integer counts + one exact division, so
   * the report replays bit-identically.
   *
   * Scale shape: components over the pair graph only; one broadcast-able
   * id-key join attaches labels to the (tiny) duplicated subset, docs
   * outside it label themselves; the rollup is one map-side-partial agg
   * on the group key.
   */
  def effectiveSizeByGroup(docs: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id", groupCol: String = "source"): DataFrame = {
    val labels = ConnectedComponents(pairs)
      .select(col("id").as(idCol), col("component"))
    docs.select(col(idCol), col(groupCol))
      .join(labels, Seq(idCol), "left_outer")
      .select(col(groupCol),
        coalesce(col("component"), col(idCol)).as("__cluster"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        count_distinct(col("__cluster")).as("n_unique"))
      .withColumn("effective_ratio",
        col("n_unique").cast("double") / col("n_docs").cast("double"))
  }

  /**
   * Cross-source duplication matrix — who is copying whom: near-dup
   * pairs (from [[ngramJaccardPairs]]) rolled up to the (source, source)
   * level, diagonal included (within-source duplication). The provenance
   * report behind mirror detection and source-level mixture decisions
   * (two mirrors of one crawl show up as a hot off-diagonal cell; a
   * spammy source as a hot diagonal one).
   *
   * Spark shape: the pair table is dedup OUTPUT (orders of magnitude
   * under the corpus); two id-key joins attach each side's source, then
   * one tiny hash agg over the |sources|² key space. Source order is
   * normalized (least/greatest) so each unordered source pair is one
   * cell.
   *
   * Takes a PRE-BUILT pair table with `id_a, id_b` (r16 opt, guide §5
   * store-once/consume-many): callers that already materialized the
   * canonical pair artifact pass it here instead of re-deriving the whole
   * inverted-index pipeline per query. Identical output when the pair
   * table equals the inline derivation (the Artifacts contract — both are
   * deterministic).
   */
  def crossSourceMatrixFromPairs(pairTable: DataFrame, docs: DataFrame,
      idCol: String = "doc_id", groupCol: String = "source"): DataFrame = {
    val pairs = pairTable.select(col("id_a"), col("id_b"))
    val src = docs.select(col(idCol), col(groupCol))
    pairs
      .join(src.select(col(idCol).as("id_a"), col(groupCol).as("__ga")), "id_a")
      .join(src.select(col(idCol).as("id_b"), col(groupCol).as("__gb")), "id_b")
      .groupBy(least(col("__ga"), col("__gb")).as("source_a"),
        greatest(col("__ga"), col("__gb")).as("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /**
   * Dedup threshold sweep — the "how aggressive should the dedup be"
   * curve a curator reads before picking a Jaccard cut: candidate pairs
   * bucketed by similarity decile, with per-bucket counts and the
   * cumulative count of pairs at-or-above each bucket (= how many pairs
   * a threshold at that decile would act on).
   *
   * Spark shape: the same df-capped inverted-index candidate generation
   * as [[ngramJaccardPairs]] at threshold 0 (exact — candidates are
   * exactly the pairs with Jaccard > 0), reduced to ≤ 11 decile rows by
   * one hash agg; the cumulative window runs over those ≤ 11 rows (the
   * only single-partition step sees a constant-size input). `floor` of
   * the shared double is bit-stable cross-engine.
   */
  def pairSimilarityHistogram(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 3,
      maxDocFreq: Int = 10000): DataFrame = {
    val hist = ngramJaccardPairs(docs, idCol, textCol, n,
        threshold = 0.0, maxDocFreq)
      .select(floor(col("jaccard") * 10).cast("int").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_pairs"))
    hist.withColumn("n_pairs_ge",
        sum(col("n_pairs")).over(Window.orderBy(col("bucket").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select((col("bucket").cast("double") / 10.0).as("threshold_lo"),
        col("n_pairs"), col("n_pairs_ge"))
  }

  /**
   * Rarity-weighted sparse cosine pairs — the TF-IDF-style member of the
   * near-dup family: documents as sparse vectors over their n-gram
   * shingles, each coordinate `tf · (N div df)` (term frequency times a
   * QUANTIZED inverse document frequency — integer division keeps every
   * coordinate, dot product, and norm an exact order-insensitive integer
   * sum; only the final per-pair cosine touches floats). Weighting by
   * rarity is what separates true near-dups from docs that merely share
   * boilerplate: ubiquitous shingles get weight ≈ tf·1 while a shingle
   * unique to two docs gets weight tf·N. On the fixture this is a
   * clean separator — the 25 known near-dup pairs all score ≥ 0.8 and no
   * other pair reaches 0.3.
   *
   * Scale shape: same inverted-index candidate generation as
   * [[ngramJaccardPairs]] (equi-join on the shingle hash, df cap bounds
   * hot shingles structurally), plus one scalar corpus count riding the
   * plan as a broadcast literal and two id-key joins of norms onto the
   * already-reduced candidate pair table. Never all-pairs.
   */
  def rarityWeightedPairs(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 3, threshold: Double = 0.5,
      maxDocFreq: Int = 10000): DataFrame = {
    val tf = graft.SparkUtil.trackCache(
      graft.SparkUtil.ensureParallelism(docs)
        .select(col(idCol).as("id"), explode(shingleHashesAll(col(textCol), n)).as("h"))
        .groupBy(col("id"), col("h")).agg(count(lit(1)).as("tf")))
    val dfTbl = tf.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDocFreq)
    val nDocs = tf.select(count_distinct(col("id")).as("__n"))
    // n2 rides the index rows (r17, guide §2.4 — the sz-on-the-index
    // trick from [[invertedIndex]] applied to norms): one window by id
    // BEFORE the cache replaces the two norm joins that used to land on
    // the CANDIDATE PAIR table after the pair agg. At scale norms is
    // corpus-sized (1 row/doc, never broadcastable), so those joins
    // were two extra full shuffles of the pre-threshold pair table —
    // the largest table in the query; carrying 8 bytes/row through the
    // index instead is strictly fewer bytes whenever a doc has > 1
    // surviving shingle. n2 sums over ALL df <= maxDocFreq coordinates
    // (the window runs before the hapax prune below), exactly the old
    // norms aggregate.
    val idx = graft.SparkUtil.trackCache(
      tf.join(dfTbl, "h").crossJoin(broadcast(nDocs))
        .select(col("id"), col("h"), (col("tf") * expr("__n div df")).as("v"),
          col("df"))
        .withColumn("n2", sum(col("v") * col("v")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("id")))))
    // HAPAX PRUNE (r17, guide §2.3): a df=1 shingle occurs in exactly
    // one document, so it can never match across the `x.id < y.id`
    // self-join — it contributes ZERO candidate pairs and ZERO dot
    // terms, yet rides BOTH join inputs (in natural text the hapax tail
    // is routinely half the distinct shingles; this fixture's
    // near-uniform vocabulary has only 0.1%, so the win is at-scale).
    // Dropping df=1 rows from the JOIN SIDES ONLY is exact: every
    // pair-contributing h has df >= 2 by definition, and n2 was
    // computed above over the FULL index, so every output cosine is
    // unchanged.
    val pairSide = idx.filter(col("df") >= 2L)
      .select(col("id"), col("h"), col("v"), col("n2"))
    keyedPairs(pairSide, pairSide, Seq("h"), Seq("v", "n2"), Self)
      // n2 is functionally dependent on id, so the extra group keys
      // change no groups — they just ride the one pair shuffle
      .groupBy(col("id_a"), col("id_b"), col("n2_a"), col("n2_b"))
      .agg(sum(col("v_a") * col("v_b")).as("dot"))
      .select(col("id_a"), col("id_b"),
        (col("dot").cast("double") /
          (sqrt(col("n2_a").cast("double")) * sqrt(col("n2_b").cast("double"))))
          .as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /**
   * Cross-corpus near-dup pairs: every (new, existing) document pair with
   * n-gram Jaccard >= threshold — the incremental-ingest shape ("dedupe
   * this crawl batch against the corpus we already have") where the
   * self-join operators don't apply because the two sides are different
   * tables. Same inverted-index candidate generation as
   * [[ngramJaccardPairs]], joining the NEW side's index against the
   * EXISTING side's; candidates are bounded by shared-shingle frequency
   * products and the doc-frequency cap (computed over the union, so a
   * shingle ubiquitous in the existing corpus is capped even if rare in
   * the batch). Below the [[scanCount]] bound both sides' sets are
   * collected, the df is counted over both, the EXISTING side's sets
   * become the postings table and the new sets stream past it.
   */
  def crossCorpusPairs(newDocs: DataFrame, oldDocs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text", n: Int = 3,
      threshold: Double = 0.6, maxDocFreq: Int = 10000): DataFrame = {
    // Cached: below the ScanCount bound each side's sets are read by the
    // Σsz job and by their collect, and the new side's once more by the
    // kernel, so without the cache every side is shingled two or three
    // times. Five alternating sf0.1 pairs: q50 median 1.10 → 0.95 s at the
    // default threshold, 1.50 → 1.50 s at -1 (the index join, where r16
    // had measured the cache 1.46 → 2.21 s when that join was the only
    // path: each side feeds the df-cap union and its index probe).
    val newSets = graft.SparkUtil.trackCache(withShingleSets(newDocs, idCol, textCol, n))
    val oldSets = graft.SparkUtil.trackCache(withShingleSets(oldDocs, idCol, textCol, n))
    jaccardScored(new ShinglePairs(newSets, oldSets, maxDocFreq).counted(Cross, threshold),
      threshold, "new_id", "old_id")
  }

  /**
   * Exact n-gram Jaccard pairs via PREFIX FILTERING (AllPairs/PPJoin), the
   * heavy-tailed branch of [[ngramJaccardPairsAdaptive]] over its capped
   * index `inv`: same output as [[ngramJaccardPairs]] — the spec and the
   * shared oracle pin that — but the candidate index holds only each
   * document's `|set| - ceil(t*|set|) + 1` rarest shingles (global
   * document-frequency order, hash tiebreak). Exactness: if
   * `J(A,B) >= t`, the globally-smallest shared shingle must sit inside
   * BOTH prefixes (otherwise the intersection fits in a suffix of size
   * `ceil(t*|set|) - 1 < t*|set| <= |A∩B|` — contradiction), so no
   * qualifying pair is lost.
   *
   * Scale trade vs the plain inverted index: two extra bounded shuffles
   * (the document-frequency join and the per-doc rank window) buy a
   * candidate space driven by PREFIX frequency products instead of full
   * set frequency products — at t=0.6 the index is ~40% of the shingles
   * and candidate pairs shrink roughly quadratically. The right variant
   * when shingle frequencies are heavy-tailed and the exact answer (not
   * LSH's almost-exact one) is contractually required.
   *
   * `inv` must be cached — it is traversed three times (df ranks, prefix
   * join, capped verify sets).
   */
  private def prefixPairsFromIndex(inv: DataFrame,
      threshold: Double): DataFrame = {
    val dfreq = inv.groupBy("h").agg(count(lit(1)).as("__df"))
    val w = Window.partitionBy(col("id")).orderBy(col("__df").asc, col("h").asc)
    val prefix = inv.join(dfreq, "h")
      .withColumn("__rank", row_number().over(w))
      .filter(col("__rank") <= col("sz") - ceil(lit(threshold) * col("sz")).cast("int") + 1)
      .select("id", "h", "sz")
    val candidates = keyedPairs(prefix, prefix, Seq("h"), Nil, Self,
      sizeRatio = Some(threshold)).distinct()
    // Verify against the CAPPED per-doc sets, not the full shingle sets:
    // [[ngramJaccardPairs]] (and the shared oracle) count intersections
    // only over shingles under the doc-frequency cap, so when the cap
    // binds — exactly the heavy-tailed regime this operator targets — an
    // intersection over full sets would emit pairs q14 omits. `sz` stays
    // the FULL set size (functionally dependent on id, carried through
    // the index), matching q14's denominator exactly.
    val capped = graft.SparkUtil.trackCache(
      inv.groupBy(col("id"), col("sz")).agg(collect_list(col("h")).as("hs")))
    jaccardScored(withSides(candidates, capped, capped, "hs", "sz")
      .withColumn("inter", size(array_intersect(col("hs_a"), col("hs_b")))), threshold)
  }

  /**
   * MinHash + LSH near-dup pairs. Pipeline: k-wide MinHash signatures →
   * `bands` LSH bands of k/bands rows each → bucket self-join on
   * (band_id, band signature) → distinct candidate pairs → exact Jaccard
   * verification on the shingle sets → threshold filter.
   *
   * With k=128, bands=32 (r=4), a pair at Jaccard j collides in a band
   * with probability j⁴; the miss probability (1-j⁴)³² at j=0.9 is ~1e-15,
   * so at sane thresholds the output equals the exact operator's (which is
   * why the same SQL oracle verifies both). Unlike `ngramJaccardPairs`,
   * candidates here are bounded by band-bucket collisions rather than
   * shared-shingle frequency — the scale path when shingle joins get hot.
   */
  def minhashLshPairs(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 3, k: Int = 128, bands: Int = 32,
      threshold: Double = 0.6): DataFrame = {
    require(k % bands == 0, s"k=$k must be a multiple of bands=$bands")
    val r = k / bands
    val sets = graft.SparkUtil.trackCache(withShingleSets(docs, idCol, textCol, n))

    val sigs = sets.select(col("id"), minhashSignature(col("hs"), k).as("sig"))
    jaccardScored(withSides(bandPairs(sigs, sigs, r, bands, Self), sets, sets, "hs", "sz")
      .withColumn("inter", size(array_intersect(col("hs_a"), col("hs_b")))), threshold)
  }

  /**
   * b-bit MinHash (Li & König): the signature STORE COMPRESSION result —
   * every candidate pair scored by BOTH the full k-long signature
   * estimator and the b-lowest-bits estimator, debiased as
   * `(M - C)/(1 - C)` with `C = 2^-b` (the random-collision floor). At
   * b=1, k=128 the store shrinks from ~1 KB/doc to 16 BYTES/doc — the
   * difference between "the signature store fits in memory" and not at
   * 100 TB — while the debiased estimate stays within ±0.25 of the full
   * estimator on the fixture (spec-pinned; theory: sd ≈
   * sqrt(M(1-M)/k)/(1-C), ≈ 0.09 at J=0.6, b=1, k=128).
   *
   * Everything is exact integer bit arithmetic until the final two
   * per-pair divisions, so the approximate-by-design estimator is still
   * bit-deterministic and SQL-replayable. Candidates come from the same
   * full-signature LSH band buckets as [[minhashLshPairs]] (banding
   * happens store-side at write time, BEFORE compression).
   */
  def bbitSignaturePairs(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 3, k: Int = 128, bands: Int = 32,
      b: Int = 1, threshold: Double = 0.6): DataFrame = {
    require(k % bands == 0, s"k=$k must be a multiple of bands=$bands")
    require(b >= 1 && b <= 8, s"b=$b must be in [1, 8]")
    val r = k / bands
    val m = 1L << b
    val c = 1.0 / m
    val sigs = graft.SparkUtil.trackCache(
      withShingleSets(docs, idCol, textCol, n)
        .select(col("id"), minhashSignature(col("hs"), k).as("sig")))
    val candidates = bandPairs(sigs, sigs, r, bands, Self)
    def matches(f: (Column, Column) => Column) =
      size(filter(zip_with(col("sig_a"), col("sig_b"), f), x => x))
    candidates
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        (matches(_ === _).cast("double") / k).as("sig_jaccard"),
        ((matches((x, y) => x % m === y % m).cast("double") / k - lit(c))
          / lit(1.0 - c)).as("bbit_jaccard"))
      .filter(col("sig_jaccard") >= threshold)
  }

  /** (id, band_id, band_key) rows of a (id, sig) signature table —
    * the LSH banding shared by [[minhashLshPairs]] and
    * [[dedupAgainstSignatures]]. NOT cached at the self-join call sites
    * (r16 opt, measured and rejected): trackCache-ing `banded` so both
    * join sides read one materialization measured a wash-to-worse on all
    * five consumers (q15 1.08 -> 1.08, q119 1.40 -> 1.35, q175
    * 1.18 -> 1.27, q233 1.14 -> 1.31, q253 1.68 -> 1.74 matched
    * focused) — at corpus x bands rows the materialization barrier
    * costs what the saved re-banding buys.
    *
    * band_key is FIXED-WIDTH BINARY (r*4 bytes, [[bandKeyBytes]]) rather
    * than the former `concat_ws("_", slice(sig, ...))` decimal string
    * (r17 opt, guide §2.3): same equality classes — both encodings are
    * injective on the non-null band-value subsequence — so candidate
    * sets and every count derived from them are identical, while the
    * key riding every banding shuffle shrinks ~2.5x and the per-row
    * banding runs as one native codegen'd pass instead of an
    * interpreted sequence/transform/slice/concat_ws lambda chain. */
  private def bandKeys(sigs: DataFrame, r: Int, bands: Int): DataFrame =
    sigs.select(col("id"),
      posexplode(bandKeyBytes(col("sig"), r, bands)))
      .select(col("id"), col("pos").as("band_id"), col("col").as("band_key"))

  /** The distinct `(id_a, id_b)` pairs of `kind` whose (id, sig)
    * signatures in `xSigs` and `ySigs` share an LSH band bucket: the
    * candidate join of the MinHash family. */
  private def bandPairs(xSigs: DataFrame, ySigs: DataFrame, r: Int, bands: Int,
      kind: PairKind): DataFrame =
    keyedPairs(bandKeys(xSigs, r, bands), bandKeys(ySigs, r, bands),
      Seq("band_id", "band_key"), Nil, kind).distinct()

  /** Candidate `pairs` (id_a, id_b, ...) with the `cols` of each side
    * attached by an id-key join: `c_a` from the `xs` row of `id_a`, `c_b`
    * from the `ys` row of `id_b`. */
  private def withSides(pairs: DataFrame, xs: DataFrame, ys: DataFrame,
      cols: String*): DataFrame =
    Seq("a" -> xs, "b" -> ys).foldLeft(pairs) { case (p, (side, t)) =>
      p.join(t.select(col("id") +: cols.map(c => col(c).as(s"${c}_$side")): _*),
        col(s"id_$side") === col("id")).drop("id")
    }

  /**
   * The persisted MinHash SIGNATURE STORE of a corpus: one (id, sig)
   * row per document, `sig` a k-long array. At 100 TB this is the whole
   * point: the store is ~1 KB/doc regardless of document size, so
   * incremental dedup of tomorrow's crawl batch needs yesterday's
   * SIGNATURES, not yesterday's 100 TB of text. Signatures are the
   * public fixed-coefficient family (`TextFunctions.minhashSignature`),
   * so a store written by one job is readable — and exactly
   * reproducible — by any other.
   */
  def minhashSignatures(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 3, k: Int = 128): DataFrame =
    withShingleSets(docs, idCol, textCol, n)
      .select(col("id").as(idCol), minhashSignature(col("hs"), k).as("sig"))

  /**
   * Incremental dedup of a new batch against a persisted signature
   * store — WITHOUT the old texts: candidates are band-bucket collisions
   * between the batch's fresh signatures and the stored ones (equi-join,
   * never all-pairs), verified by the signature Jaccard ESTIMATE
   * `|{i : sig_a[i] = sig_b[i]}| / k` — the standard unbiased MinHash
   * estimator, here an exact integer count over the two signatures, so
   * the output is deterministic and exactly SQL-replayable even though
   * the estimate only approximates true Jaccard (E[est] = J, sd ≈
   * sqrt(J(1-J)/k) ≈ 0.043 at k=128, J=0.6 — spec-pinned against exact
   * Jaccard on the fixture).
   */
  def dedupAgainstSignatures(newDocs: DataFrame, sigStore: DataFrame,
      idCol: String = "doc_id", textCol: String = "text", n: Int = 3,
      k: Int = 128, bands: Int = 32, threshold: Double = 0.6): DataFrame = {
    require(k % bands == 0, s"k=$k must be a multiple of bands=$bands")
    val r = k / bands
    val newSigs = graft.SparkUtil.trackCache(
      minhashSignatures(newDocs, idCol, textCol, n, k)
        .select(col(idCol).as("id"), col("sig")))
    val store = sigStore.select(col(idCol).as("id"), col("sig"))
    val candidates = bandPairs(newSigs, store, r, bands, Cross)
    val matches = size(filter(sequence(lit(1), lit(k)),
      i => element_at(col("sig_a"), i) === element_at(col("sig_b"), i)))
    withSides(candidates, newSigs, store, "sig")
      .select(col("id_a").as("new_id"), col("id_b").as("old_id"),
        (matches.cast("double") / lit(k.toDouble)).as("sig_jaccard"))
      .filter(col("sig_jaccard") >= threshold)
  }

  /**
   * Directional containment pairs: every ordered (inner, outer) pair,
   * inner != outer, with `|shingles(inner) ∩ shingles(outer)| /
   * |shingles(inner)| >= threshold` — the ASYMMETRIC face of
   * [[ngramJaccardPairs]]: quote, excerpt, and near-superset detection. A
   * short document quoted verbatim inside a long one scores ~1.0 here
   * while its Jaccard (normalized by the union) stays far below any
   * dedup threshold, so symmetric near-dup passes never see it.
   *
   * Same exact inverted-index candidate generation as the Jaccard
   * operators (any pair with containment > 0 shares a shingle under the
   * df cap); both orientations are emitted independently, so an
   * identical pair appears twice (A⊆B and B⊆A), which is the
   * intended reading of a directional relation.
   */
  def containmentPairs(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 3, threshold: Double = 0.8,
      maxDocFreq: Int = 10000): DataFrame = {
    val sets = graft.SparkUtil.trackCache(withShingleSets(docs, idCol, textCol, n))
    new ShinglePairs(sets, sets, maxDocFreq).counted(Containment, threshold)
      .select(col("id_a").as("inner_id"), col("id_b").as("outer_id"),
        (col("inter").cast("double") / col("sz_a").cast("double"))
          .as("containment"))
      .filter(col("containment") >= threshold)
  }

  /**
   * Boilerplate-span scoring — the span-level (sub-document) face of
   * exact dedup, RefinedWeb/Falcon style: an `n`-token span that appears
   * in at least `minDocs` distinct documents is boilerplate (cookie
   * banners, navigation chrome, license headers — content document-level
   * dedup cannot see because the surrounding text differs). Reports, per
   * document, its distinct span count, how many of those spans are
   * boilerplate, and the ratio — the signal a pipeline thresholds to drop
   * or strip templated documents.
   *
   * Spark shape (100 TB posture): distinct span hashes per doc (one
   * native codegen'd pass), explode to an inverted index, one hash agg
   * for span document-frequency (map-side partial counts), equi-join the
   * boilerplate subset back, and a left join onto the per-doc span counts
   * so span-less short documents survive with ratio 0. Never all-pairs;
   * every join is an equi-join on the span hash or the doc id.
   */
  def boilerplateSpans(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 8, minDocs: Int = 2): DataFrame = {
    val sets = graft.SparkUtil.trackCache(
      graft.SparkUtil.ensureParallelism(docs)
        .select(col(idCol).as("__id"), shingleHashes(col(textCol), n).as("__hs"))
        .select(col("__id"), size(col("__hs")).as("n_spans"), col("__hs")))
    val inv = sets.select(col("__id"), explode(col("__hs")).as("__h"))
    val boiler = inv.groupBy(col("__h")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDocs).select("__h")
    val perDoc = inv.join(boiler, "__h")
      .groupBy(col("__id")).agg(count(lit(1)).as("__nb"))
    sets.select(col("__id"), col("n_spans"))
      .join(perDoc, Seq("__id"), "left")
      .select(col("__id").as(idCol), col("n_spans"),
        coalesce(col("__nb"), lit(0L)).as("n_boiler_spans"),
        when(col("n_spans") > 0,
          coalesce(col("__nb"), lit(0L)).cast("double") / col("n_spans"))
          .otherwise(lit(0.0)).as("boiler_ratio"))
  }

  /**
   * SimHash near-dup pairs: 32-bit term-frequency SimHash per doc, then all
   * pairs within `maxHamming` bit flips. Candidate generation uses
   * pigeonhole blocks (TextFunctions.simhashBlocksAt): for maxHamming ≤ 3
   * at least one block is untouched, so blocking on block value is
   * lossless and the O(n²) cross join is avoided.
   *
   * `blockDepth` picks the nested-refinement depth (0 = the classic 4
   * bytes; each level quarters-and-widens the buckets — see
   * [[graft.functions.TextFunctions.simhashBlocksAt]]); the default -1
   * auto-sizes it from an EAGER corpus count (materializing the cached
   * hash projection it shares with the pair join) via
   * `pigeonholeDepthFor` — 8-bit blocks alone make the candidate join
   * ~n²/256 per block, which the round-9 100× probe measured as 17× per
   * data decade and an outright failure at 500 K docs. Pair output is
   * IDENTICAL at every depth (lossless; spec-pinned) — only candidate
   * volume changes, so the fixture-scale oracle covers all regimes.
   *
   * AT-SCALE GUARD: past [[LegacyWidthGuardCutoff]] docs this operator
   * is WRONG, not just slow — random 32-bit hashes land within
   * Hamming ≤ 3 at C(32,≤3)/2³² ≈ 1.3e-6, so a 500 K-doc corpus
   * manufactures ~160 K FALSE near-dup pairs (growing n²), and the
   * 32-bit pigeonhole blocks are entropy-exhausted (measured 230 M
   * candidates / 92 s at the round-9 100× probe). Large corpora must
   * either use [[simhashPairs64]] (the at-scale face, ~2e-15 false-pair
   * rate) or opt in explicitly with `allowLegacyWidth = true` (e.g. to
   * reproduce reference 32-bit semantics in an audit). A scaladoc
   * warning alone is not a guardrail — this is the one operator a
   * pipeline could reach for and silently get wrong output at scale.
   */
  def simhashPairs(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", maxHamming: Int = 3,
      blockDepth: Int = -1, allowLegacyWidth: Boolean = false): DataFrame = {
    require(maxHamming <= 3, "pigeonhole blocking over 4 bytes is only lossless for maxHamming <= 3")
    // count the RAW input (parquet metadata / no hashing), not the hash
    // projection — the dispatch must not cost a corpus pass on the
    // small-corpus path
    val n = graft.SparkUtil.sizingCount(docs)
    graft.GuardRefusal.check(n <= LegacyWidthGuardCutoff || allowLegacyWidth,
      s"simhashPairs is 32-bit: at n=$n docs (> $LegacyWidthGuardCutoff) it manufactures " +
        "~n²·1.3e-6 false near-dup pairs and its pigeonhole blocks are entropy-exhausted. " +
        "Use simhashPairs64 (the at-scale face), or pass allowLegacyWidth=true to " +
        "knowingly keep 32-bit reference semantics.")
    val hashed = graft.SparkUtil.trackCache(
      graft.SparkUtil.ensureParallelism(docs)
        .select(col(idCol).as("id"), simhash(tokens(col(textCol))).as("sh")))
    val (depth, dict) = pairDispatch(hashed, "sh", n, blockDepth)
    hammingPairs(hashed, "id", "sh", maxHamming, depth, dict)
  }

  /**
   * [[simhashPairs]] over the 64-BIT SimHash
   * (TextFunctions.simhash64) — the at-scale face. Two independent walls
   * fall past ~10⁵ docs on the 32-bit hash, and both are WIDTH problems,
   * not plan problems (the round-9 100× probe, 500 K docs):
   *
   *  - precision: random pairs land within Hamming ≤ 3 at
   *    C(32,≤3)/2³² ≈ 1.3e-6 — ~160 K FALSE near-dup pairs at 500 K
   *    docs, growing n²; at 64 bits the rate is ~2e-15, negligible at
   *    any corpus size;
   *  - candidates: the 32-bit pigeonhole family tops out at ~18-bit
   *    block keys (depth 2), measured 230 M candidates / 92 s; the
   *    64-bit family's 16-bit base blocks and 2²⁸-key depth 1 keep
   *    expected occupancy ≤ 4 past 10⁹ docs.
   *
   * Same dispatcher, same lossless-at-every-depth contract; pairs are a
   * SUBSET of [[simhashPairs]]'s (the low half IS the 32-bit hash, so
   * hamming64 ≥ hamming32 — spec-pinned).
   */
  def simhashPairs64(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", maxHamming: Int = 3,
      blockDepth: Int = -1): DataFrame = {
    require(maxHamming <= 3, "pigeonhole blocking over 4 blocks is only lossless for maxHamming <= 3")
    val n = graft.SparkUtil.sizingCount(docs)
    val hashed = graft.SparkUtil.trackCache(
      graft.SparkUtil.ensureParallelism(docs)
        .select(col(idCol).as("id"), simhash64(tokens(col(textCol))).as("sh")))
    val (depth, dict) = pairDispatch(hashed, "sh", n, blockDepth, width = 64)
    hammingPairs(hashed, "id", "sh", maxHamming, depth, dict, width = 64)
  }

  /** Block/width indirection for the two pigeonhole families. */
  private def blocksAt(sh: Column, depth: Int, width: Int): Column =
    if (width == 64) simhash64BlocksAt(sh, depth) else simhashBlocksAt(sh, depth)
  private def depthFor(n: Long, width: Int): Int =
    if (width == 64) pigeonholeDepthFor64(n) else pigeonholeDepthFor(n)

  /**
   * Plan choice for [[hammingPairs]] — a hand-rolled CBO rule (the q49
   * dispatcher pattern) decided from two bounded statistics:
   *
   *  - corpora at or under `FlatSmallCutoff` take the FLAT branch with
   *    no statistics pass at all: worst-case candidate volume at that
   *    size is bounded regardless of skew, and the flat join's single
   *    shuffle beats the dictionary's extra joins (measured 2× at 5 K).
   *  - larger corpora pay ONE `approx_count_distinct` over the cached
   *    hash projection (materializing a cache the pair join reuses) and
   *    branch on the DUPLICATION FACTOR n/d: identical-hash clusters are
   *    the flat join's only pathology (a cluster of m items costs
   *    `keys×m²` candidate work per block table — measured 66 s vs 1.9 s
   *    at the 10× probe point on the pHash corpus, n/d ≈ 41), while on
   *    near-all-distinct corpora the flat join strictly beats the
   *    dictionary's expansion joins (measured 3.2 s vs 7.1 s on the 10×
   *    SimHash corpus, n/d ≈ 1.1). Depth is sized from the cardinality
   *    the blocked join actually sees (d for dictionary, n for flat).
   */
  private[graft] def pairDispatch(hashed: DataFrame, hashCol: String, n: Long,
      blockDepth: Int, width: Int = 32): (Int, Boolean) = {
    if (n <= FlatSmallCutoff)
      (if (blockDepth >= 0) blockDepth else depthFor(n, width), false)
    else {
      val d = hashed.agg(approx_count_distinct(col(hashCol)).as("d"))
        .head().getLong(0)
      val dict = n >= 4 * math.max(1L, d)
      val sized = depthFor(if (dict) d else n, width)
      (if (blockDepth >= 0) blockDepth else sized, dict)
    }
  }

  /** Corpus size under which [[pairDispatch]] always picks the flat
    * branch without any statistics pass. */
  private[graft] val FlatSmallCutoff: Long = 8192L

  /** Corpus size past which the 32-bit-width operators
    * ([[simhashPairs]], `Multimodal.phashPairs`) refuse to run without
    * an explicit opt-in: beyond it their output is wrong (32-bit false
    * pairs) or data-quadratic (pHash pair lists) BY MEASUREMENT — the
    * round-9 100× probe, BASELINE.md coda 3. Set above every
    * correctness/bench scale (sf0.1 = 5 K docs, the 10× probe = 50 K)
    * and below the 100× point (500 K) where both walls were measured. */
  val LegacyWidthGuardCutoff: Long = 100000L

  /**
   * Shared scale core of [[simhashPairs]] / `Multimodal.phashPairs`: all
   * id pairs within `maxHamming` over a cached `(id, hash)` frame.
   *
   * Both branches use the lossless nested pigeonhole keys
   * (TextFunctions.simhashBlocksAt) and return EXACTLY the same pairs
   * (spec-pinned against brute force across depths and branches); the
   * dispatcher — the q49 adaptive pattern, decided from the same eager
   * count that sizes the depth — picks the cheaper plan:
   *
   *  - `dictionary = false` (small corpus): the classic flat blocked
   *    self-join over per-item keys — one shuffle, no expansion joins.
   *  - `dictionary = true` (large corpus): the blocked candidate join
   *    runs over DISTINCT hash values, then expands back to ids through
   *    output-bounded equi-joins. Two quadratic walls fall at once:
   *    identical-hash clusters (exact clones) never enter the blocked
   *    join — a cluster of m docs costs m² only in its legitimate output
   *    (the same-value self-join), not `keys×m²` candidate work; and
   *    cross-value candidates scale with DISTINCT values per bucket,
   *    depth-bounded at any corpus size (measured 9.7 G → 230 M
   *    candidates at the 100× probe point, where the flat 8-bit join
   *    failed outright). The value-pair `.distinct()` dedups multi-block
   *    discoveries at dictionary cardinality, so the expanded doc-pair
   *    stream — the big one — never shuffles.
   */
  private[graft] def hammingPairs(hashed: DataFrame, idCol: String,
      hashCol: String, maxHamming: Int, depth: Int,
      dictionary: Boolean, width: Int = 32): DataFrame = {
    if (!dictionary) {
      val blocked = hashed.select(col(idCol).as("id"), col(hashCol).as("sh"),
          explode(blocksAt(col(hashCol), depth, width)).as("b"))
        .select(col("id"), col("sh"), col("b.block_id"), col("b.block_val"))
      keyedPairs(blocked, blocked, BlockKey, Seq("sh"), Self)
        .select(col("id_a"), col("id_b"),
          bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
        .filter(col("hamming") <= maxHamming)
        .distinct()
    } else {
      val dict = hashed.select(col(hashCol).as("sh")).distinct()
      val blocked = dict.select(col("sh"),
          explode(blocksAt(col("sh"), depth, width)).as("b"))
        .select(col("sh"), col("b.block_id"), col("b.block_val"))
      val valuePairs = keyedPairs(blocked, blocked, BlockKey, Nil, Self, id = "sh")
        .select(col("id_a").as("sh_a"), col("id_b").as("sh_b"),
          bit_count(col("id_a").bitwiseXOR(col("id_b"))).as("hamming"))
        .filter(col("hamming") <= maxHamming)
        .distinct()
      val same = keyedPairs(hashed, hashed, Seq(hashCol), Seq(hashCol), Self, id = idCol)
        .select(col("id_a"), col("id_b"),
          bit_count(col(s"${hashCol}_a").bitwiseXOR(col(s"${hashCol}_b"))).as("hamming"))
      val cross = valuePairs
        .join(hashed.as("p"), col("sh_a") === col(s"p.$hashCol"))
        .join(hashed.as("q"), col("sh_b") === col(s"q.$hashCol"))
        .select(least(col(s"p.$idCol"), col(s"q.$idCol")).as("id_a"),
          greatest(col(s"p.$idCol"), col(s"q.$idCol")).as("id_b"),
          col("hamming"))
      same.union(cross)
    }
  }

  /**
   * Connectivity-preserving Hamming edge set: the SAME connected
   * components as [[hammingPairs]] with ~`n + |value pairs|` edges
   * instead of Σ cluster², for consumers that feed a components pass
   * (q99) rather than listing pairs. An identical-hash cluster of m
   * items is connected by an m−1-edge STAR on its min-id representative
   * (pair-listing it costs m² — data-quadratic on clustered hash spaces:
   * the stub pHash holds ~1.2 K distinct values at ANY corpus size, so
   * its clusters grow linearly with data and the pair list
   * quadratically — the round-9 100× probe's q99 failure); a surviving
   * cross-value pair contributes ONE representative-to-representative
   * edge. Union connectivity is preserved exactly: every member reaches
   * its representative, and two values' members are connected iff their
   * representatives are (spec-pinned: components identical to the pair
   * form). The blocked value join reuses the dictionary machinery of
   * [[hammingPairs]] with depth sized from the measured distinct count.
   */
  private[graft] def hammingComponentEdges(hashed: DataFrame, idCol: String,
      hashCol: String, maxHamming: Int, width: Int = 32,
      nHint: Long = -1L): DataFrame = {
    val reps = graft.SparkUtil.trackCache(
      hashed.groupBy(col(hashCol).as("__rsh"))
        .agg(min(col(idCol)).as("rep")))
    // depth sized from the caller's row count (parquet-metadata cheap)
    // when given, not an eager distinct count: d <= n so n-sizing only
    // deepens — still lossless, and the blocked join explodes REPS (d
    // rows), so the extra tables cost d x tables, never n x tables
    val depth = depthFor(if (nHint >= 0) nHint else reps.count(), width)
    val intra = hashed.join(reps, col(hashCol) === col("__rsh"))
      .filter(col(idCol) =!= col("rep"))
      .select(col("rep").as("id_a"), col(idCol).as("id_b"))
    val blocked = reps.select(col("__rsh").as("sh"),
        explode(blocksAt(col("__rsh"), depth, width)).as("b"))
      .select(col("sh"), col("b.block_id"), col("b.block_val"))
    val inter = keyedPairs(blocked, blocked, BlockKey, Nil, Self, id = "sh")
      .filter(bit_count(col("id_a").bitwiseXOR(col("id_b"))) <= maxHamming)
      .select(col("id_a").as("sh_a"), col("id_b").as("sh_b"))
      .distinct()
      .join(reps.select(col("__rsh").as("sh_a"), col("rep").as("id_a")), "sh_a")
      .join(reps.select(col("__rsh").as("sh_b"), col("rep").as("id_b")), "sh_b")
      .select(col("id_a"), col("id_b"))
    intra.union(inter)
  }

  /** [[hammingComponentEdges]] over the SimHash of `textCol` — the
    * CC-feeding face of [[simhashPairs]]/[[simhashPairs64]]. `width` 64
    * (the default) is the at-scale hash: at 500 K docs the 32-bit blocks
    * are entropy-exhausted (a measured 50 s / 230 M-candidate value
    * join) AND the 32-bit hash itself manufactures ~160 K false pairs
    * that fuse unrelated components — wrong, not just slow. */
  def simhashComponentEdges(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", maxHamming: Int = 3,
      width: Int = 64): DataFrame = {
    require(maxHamming <= 3, "pigeonhole blocking over 4 blocks is only lossless for maxHamming <= 3")
    val hashFn = if (width == 64) simhash64 _ else simhash _
    val hashed = graft.SparkUtil.trackCache(
      graft.SparkUtil.ensureParallelism(docs)
        .select(col(idCol).as("id"), hashFn(tokens(col(textCol))).as("sh")))
    hammingComponentEdges(hashed, "id", "sh", maxHamming, width,
      nHint = graft.SparkUtil.sizingCount(docs))
  }

  /** Corpus size over which [[multiSignalComponents]] switches from
    * pair-list to connectivity-preserving edge-set composition. Below
    * it the pair lists are cheap (the stub pHash's ~1.5 K-value space
    * gives Σ cluster² ≈ 1500·(n/1500)² ≈ n²/1500 pairs — ~1.7 M at the
    * cutoff) and their CLIQUE edges keep component diameter ~1, so the
    * CC loop converges in 2-3 rounds; above it the pair list is
    * data-quadratic (the round-9 100× probe failed outright on it)
    * while the star/representative edge form stays ~linear — at the
    * price of longer rep-to-rep chains (13 min-label rounds measured at
    * sf0.1) that only pointer-doubling keeps cheap.
    *
    * Placement (round-10 full-inventory 10× sweep): the crossover was
    * MEASURED at the endpoints — 5 K docs: pair 2.1 s vs edge 8.2 s;
    * 50 K docs: pair 21-24 s vs edge ~9 s (q99 probe, quiet re-runs).
    * The pair branch's edge volume is data-quadratic (Σ cluster² —
    * n²/1500 pHash pairs alone), so its cost curve crosses the edge
    * form's ~linear one between those points; 20 K sits on the safe
    * side of the measured interval — a corpus that mis-lands near the
    * cutoff pays a small constant, never the quadratic tail. */
  val MultiSignalPairListCutoff: Long = 20000L

  /**
   * Multi-signal dedup components (q99): 64-bit text SimHash pairs and
   * media pHash pairs union into ONE evidence graph; components span
   * both signals, so a doc and its rendering dedup together even when
   * each signal alone misses. Input is the `documents` schema (the
   * media signal derives from [[Multimodal.mediaFromDocuments]]).
   *
   * Adaptive composition — the q49/q264 bounded-statistic dispatcher
   * pattern, decided from ONE raw count (parquet-metadata cheap):
   * corpora at or under `pairListCutoff` compose the PAIR LISTS
   * ([[simhashPairs64]] ∪ `Multimodal.phashPairs`) whose clique edges
   * make the CC loop converge in 2-3 rounds; larger corpora compose the
   * connectivity-preserving EDGE SETS ([[simhashComponentEdges]] ∪
   * `Multimodal.phashComponentEdges`) — ~linear edge volume where the
   * pair list is data-quadratic (7.8× faster and the only correct
   * option at the 100× probe point). Both branches yield IDENTICAL
   * components (spec-pinned; the edge form preserves union connectivity
   * exactly), so the fixture-scale oracle covers both regimes.
   *
   * No pre-`distinct()` on the union: CC symmetrizes and distincts the
   * edge list itself, so one here would just add a shuffle.
   */
  def multiSignalComponents(docs: DataFrame, maxHamming: Int = 3,
      pairListCutoff: Long = MultiSignalPairListCutoff): DataFrame = {
    val n = graft.SparkUtil.sizingCount(docs)
    val media = Multimodal.mediaFromDocuments(docs)
    val edges =
      if (n <= pairListCutoff)
        simhashPairs64(docs, maxHamming = maxHamming).select("id_a", "id_b")
          .union(Multimodal.phashPairs(media, maxHamming = maxHamming)
            .select(col("media_id_a").as("id_a"),
              col("media_id_b").as("id_b")))
      else
        simhashComponentEdges(docs, maxHamming = maxHamming)
          .union(Multimodal.phashComponentEdges(media, maxHamming = maxHamming))
    ConnectedComponents(edges, vertices = Some(docs.select("doc_id")))
      .select(col("id").as("doc_id"), col("component"))
  }

  /**
   * Exact substring-run dedup as a REMOVER — the Lee et al. "Deduplicating
   * Training Data Makes Language Models Better" operation, the strongest
   * known anti-memorization transform: every duplicated token run is
   * excised from every occurrence EXCEPT one canonical keeper, and the
   * document survives with the run cut out (unlike document-level dedup,
   * which can only drop or keep whole docs).
   *
   * Semantics: an `n`-token span is duplicated when its content hash
   * occurs >= 2 times corpus-wide (across docs OR repeated within one
   * doc). The canonical keeper of a span hash is its occurrence with the
   * minimal (docId mod 2^31, position) key; a token is removed when any
   * covering duplicated-span occurrence is a non-keeper. Overlapping
   * duplicated spans merge naturally into maximal runs: a shared L-token
   * paragraph (L >= n) is L-n+1 overlapping duplicated spans whose
   * non-keeper position sets union to the whole run.
   *
   * Spark shape (100 TB posture): per-doc span hashes via the narrow
   * chunking machinery (explode over span starts, native rolling hash);
   * ONE hash agg over span hashes for (count, min-occurrence) — map-side
   * partial min/count, shuffle bounded by distinct-span cardinality; one
   * equi-join of spans against the duplicated subset (df >= 2 spans only,
   * a tiny fraction of any real corpus); the n× position explode happens
   * ONLY on non-keeper duplicated spans; removal membership joins back on
   * the doc id. Never all-pairs, no driver-side state, every step an
   * equi-join or hash agg on a well-distributed key. All arithmetic is
   * integer-exact (the occurrence key packs id mod 2^31 and position into
   * 51 bits — DuckDB traps BIGINT overflow where Spark wraps), so the
   * whole transform SQL-replays bit-for-bit.
   *
   * Returns (idCol, n_tokens, n_removed, text_deduped). Documents shorter
   * than `n` tokens can hold no span and pass through untouched.
   */
  def dedupSubstringRuns(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 8): DataFrame = {
    require(n >= 2, s"span length n=$n must be >= 2")
    val base = graft.SparkUtil.trackCache(
      graft.SparkUtil.ensureParallelism(docs)
        .select(col(idCol).as("__id"), tokens(col(textCol)).as("__tk"))
        .withColumn("__n", size(col("__tk"))))
    // (doc, start, span hash, packed occurrence key); 0-based starts
    val spans = base.filter(col("__n") >= n)
      .select(col("__id"), col("__tk"),
        explode(sequence(lit(0), col("__n") - n)).as("__pos"))
      .select(col("__id"), col("__pos"),
        rollingHash(concat_ws(" ", slice(col("__tk"), col("__pos") + 1, lit(n))))
          .as("__h"),
        (pmod(col("__id").cast("long"), lit(graft.operators.Sampling.IdFold)) *
          lit(1048576L) + col("__pos")).as("__ok"))
    val dup = spans.groupBy(col("__h"))
      .agg(count(lit(1)).as("__c"), min(col("__ok")).as("__keeper"))
      .filter(col("__c") >= 2)
      .select(col("__h"), col("__keeper"))
    // token positions covered by a non-keeper duplicated span occurrence
    val removed = spans.join(dup, "__h")
      .filter(col("__ok") =!= col("__keeper"))
      .select(col("__id"),
        explode(sequence(col("__pos"), col("__pos") + n - 1)).as("__tp"))
      .distinct()
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("__nr"), collect_set(col("__tp")).as("__rl"))
    base.join(removed, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        col("__n").as("n_tokens"),
        coalesce(col("__nr"), lit(0L)).as("n_removed"),
        concat_ws(" ", filter(col("__tk"),
          (_, i) => !array_contains(
            coalesce(col("__rl"), typedLit(Array.empty[Int])), i)))
          .as("text_deduped"))
  }

  /**
   * Document-stitching candidates: ordered pairs (id_a, id_b) where the
   * LAST `k` tokens of doc a equal the FIRST `k` tokens of doc b — the
   * signature of one document split across shard/crawl boundaries
   * (the reassembly problem every multi-source web corpus has).
   *
   * One narrow projection computes both boundary hashes per doc;
   * candidates come from ONE equi-join of suffix-hash against
   * prefix-hash — never all-pairs, and the join key is near-unique for
   * any reasonable `k`, so bucket sizes stay bounded at corpus scale.
   * Boundary equality is rolling-hash equality on BOTH engines, so a
   * (cosmically rare) collision cannot cause oracle drift.
   */
  /**
   * MinHash estimator-quality report: for every LSH band-collision
   * candidate pair, the EXACT shingle Jaccard, the k-sample signature
   * estimate `|{i : sig_a[i] = sig_b[i]}| / k`, and the absolute error —
   * the audit that justifies trusting signature-only dedup
   * ([[dedupAgainstSignatures]]'s store path) before throwing the texts
   * away. Theory says sd ≈ √(J(1−J)/k); this measures it on YOUR corpus.
   * No threshold filter: sub-threshold candidates are exactly where the
   * estimator's tails matter.
   *
   * Spark shape: same candidate generation as [[minhashLshPairs]] (band
   * equi-join, never all-pairs); the exact side joins the cached shingle
   * sets, the estimate side joins the signature table — both bare-id
   * joins after a bare-id candidate dedup.
   */
  def minhashEstimatorReport(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 3, k: Int = 128,
      bands: Int = 32): DataFrame = {
    val agree = expr("size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), b -> b))")
    signaturePairs(docs, idCol, textCol, n, k, bands)
      .withColumn("jaccard_est", agree.cast("double") / lit(k.toDouble))
      .select(col("id_a"), col("id_b"), col("jaccard_exact"),
        col("jaccard_est"),
        abs(col("jaccard_est") - col("jaccard_exact")).as("abs_err"))
  }

  /** The band-collision candidates of `docs` with each side's shingle set
    * and signature attached and the exact shingle Jaccard as
    * `jaccard_exact`: the shared base of [[minhashEstimatorReport]] and
    * [[signatureSizeSensitivity]]. */
  private def signaturePairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, s"k=$k must be a multiple of bands=$bands")
    val sets = graft.SparkUtil.trackCache(withShingleSets(docs, idCol, textCol, n))
    val sigs = graft.SparkUtil.trackCache(
      sets.select(col("id"), minhashSignature(col("hs"), k).as("sig")))
    val candidates = bandPairs(sigs, sigs, k / bands, bands, Self)
    withSides(withSides(candidates, sets, sets, "hs", "sz"), sigs, sigs, "sig")
      .withColumn("__inter", size(array_intersect(col("hs_a"), col("hs_b"))))
      .withColumn("jaccard_exact", col("__inter").cast("double") /
        (col("sz_a") + col("sz_b") - col("__inter")).cast("double"))
  }

  /**
   * Pair-set agreement between two candidate generators: canonicalized
   * pair counts on each side, the intersection, the union, and their
   * Jaccard — the method-choice audit ("do SimHash-3 and Jaccard-0.6
   * even find the same duplicates on THIS corpus?") run before
   * standardizing a pipeline on one detector. Generic over any two
   * (id, id) pair tables (text vs text, text vs media signal, old vs
   * new threshold).
   *
   * Spark shape: both sides canonicalize to distinct (a < b) pairs;
   * ONE full-outer equi-join on the pair key; one scalar fold. Output
   * is a single row.
   */
  def pairSetAgreement(left: DataFrame, right: DataFrame): DataFrame = {
    def canon(df: DataFrame): DataFrame = {
      val Seq(ca, cb) = df.columns.toSeq.take(2)
      df.select(least(col(ca), col(cb)).as("a"),
          greatest(col(ca), col(cb)).as("b"))
        .filter(col("a") =!= col("b")).distinct()
    }
    canon(left).withColumn("__l", lit(1))
      .join(canon(right).withColumn("__r", lit(1)), Seq("a", "b"),
        "full_outer")
      .agg(
        sum(when(col("__l").isNotNull, 1L).otherwise(0L)).as("n_left"),
        sum(when(col("__r").isNotNull, 1L).otherwise(0L)).as("n_right"),
        sum(when(col("__l").isNotNull && col("__r").isNotNull, 1L)
          .otherwise(0L)).as("n_both"),
        count(lit(1)).as("n_union"))
      .withColumn("agreement",
        col("n_both").cast("double") / col("n_union").cast("double"))
  }

  /**
   * Cluster-cohesion report: per near-dup cluster, member/edge counts,
   * the weakest and micro-exact mean edge similarity, and the edge
   * density `2e/(m(m−1))` — the NUMERIC tightness summary next to
   * [[graft.operators.GraphOps.nodeStats]]' per-node triangles and the
   * q198 wedge audit: density 1 with high min similarity is a clique
   * of true clones (collapse safely); low density or a weak minimum
   * edge marks a chained cluster where transitive collapse merges
   * unrelated docs. Takes the pair table WITH its similarity column
   * (the generator's full output, not the id-only artifact).
   *
   * Spark shape: CC over the pair graph, one edge-to-component
   * equi-join (either endpoint — components are closed over edges),
   * ONE component-key aggregation each for edges and members; means
   * ride exact `floor(sim·10⁶ + 0.5)` sums.
   */
  def clusterCohesion(pairsWithSim: DataFrame): DataFrame = {
    val Seq(pa, pb, ps) = pairsWithSim.columns.toSeq.take(3)
    val edges = pairsWithSim.select(col(pa).as("__a"), col(pb).as("__b"),
      col(ps).cast("double").as("__s"))
    val comp = ConnectedComponents(edges.select(col("__a"), col("__b")))
    val members = comp.groupBy(col("component"))
      .agg(count(lit(1)).as("n_members"))
    val edgeStats = edges
      .join(comp.select(col("id").as("__a"), col("component")), Seq("__a"))
      .groupBy(col("component"))
      .agg(count(lit(1)).as("n_edges"), min(col("__s")).as("min_sim"),
        sum(floor(col("__s") * lit(1000000d) + lit(0.5)).cast("long"))
          .as("__sm"))
    members.join(edgeStats, Seq("component"))
      .select(col("component"), col("n_members"), col("n_edges"),
        col("min_sim"),
        expr("CAST(__sm AS DOUBLE) / (CAST(n_edges AS DOUBLE) * 1000000.0)")
          .as("mean_sim"),
        expr("CAST(2 * n_edges AS DOUBLE)" +
          " / CAST(n_members * (n_members - 1) AS DOUBLE)").as("density"))
  }

  /**
   * Survivor-quality audit: does the dedup keep rule retain the BEST
   * member of each cluster? Per near-dup cluster, the min-id
   * representative's quality score (the q51 keep rule — the component
   * label IS the min reachable id, so the representative's score needs
   * no extra pass) against the cluster's true best by (score desc, id
   * asc), with a suboptimal flag — the governance number behind
   * switching keep rules (q85 keeps longest; this says what min-id
   * actually costs in quality). Clusters only (singletons keep
   * themselves trivially).
   *
   * Spark shape: components over the PAIR GRAPH only, ONE score
   * equi-join, ONE aggregation on the component key whose state is one
   * struct plus one scalar regardless of cluster size (the
   * [[preferencePairs]] argmax trick).
   */
  def survivorQualityAudit(pairs: DataFrame, scores: DataFrame,
      idCol: String = "doc_id", scoreCol: String = "score"): DataFrame = {
    val comp = ConnectedComponents(pairs)
    comp.join(scores, comp("id") === scores(idCol))
      .select(col("component"), col("id").as("__id"),
        col(scoreCol).as("__s"))
      .groupBy(col("component"))
      .agg(
        max(struct(col("__s").as("s"), (-col("__id")).as("negid"))).as("__b"),
        min(when(col("__id") === col("component"), col("__s")))
          .as("rep_score"))
      .select(col("component").as("rep_id"), col("rep_score"),
        (-col("__b.negid")).as("best_id"), col("__b.s").as("best_score"),
        (col("__b.s") > col("rep_score")).as("suboptimal"))
  }

  /**
   * Boilerplate span dictionary: the top-k most document-frequent
   * n-token spans with an example document — the literal "compression
   * dictionary" of a corpus's repeated chrome (navigation strings,
   * license footers, form-letter fragments), the artifact a template
   * stripper or substring-dedup pass ([[dedupSubstringRuns]]) is
   * configured from. [[boilerplateSpans]] scores documents BY these
   * spans; this names the spans themselves.
   *
   * Spark shape: the q62 distinct-span explode feeding ONE span-key
   * aggregation (df + min example id in the same state), a distributed
   * TakeOrderedAndProject cut under the (df desc, span asc) total
   * order, and a rank window over the ≤ k survivors.
   */
  def spanDictionary(docs: DataFrame, k: Int = 20, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 8, minDocs: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.SparkUtil.ensureParallelism(docs)
      .select(col(idCol).as("id"),
        explode(shingleHashes(col(textCol), n)).as("span_hash"))
      .groupBy(col("span_hash"))
      .agg(count(lit(1)).as("doc_freq"), min(col("id")).as("example_doc"))
      .filter(col("doc_freq") >= minDocs)
      .orderBy(col("doc_freq").desc, col("span_hash").asc)
      .limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("doc_freq").desc, col("span_hash").asc))
        .cast("long"))
  }

  /**
   * LSH band-tuning sweep: candidate-pair counts at several band
   * configurations of the SAME k=128 signature — the S-curve operating
   * point audit (more, shorter bands → a lower effective similarity
   * threshold and more candidates; fewer, longer bands → tighter).
   * Picking (bands, rows) from theory alone misjudges real corpora;
   * this prices each configuration in actual verification work before
   * a 100 TB run commits to one. The banding-axis companion to
   * [[signatureSizeSensitivity]]'s k axis.
   *
   * Spark shape: ONE signature pass (cached), then per configuration
   * one band-key equi-join counting DISTINCT collision pairs — never
   * all-pairs; output is |configs| rows.
   */
  def bandTuningSweep(docs: DataFrame,
      configs: Seq[(Int, Int)] = Seq((16, 8), (32, 4), (64, 2)),
      idCol: String = "doc_id", textCol: String = "text", n: Int = 3,
      k: Int = 128): DataFrame = {
    require(configs.nonEmpty && configs.forall { case (b, r) => b * r == k },
      s"each (bands, rows) must multiply to k=$k: $configs")
    val sets = graft.SparkUtil.trackCache(withShingleSets(docs, idCol, textCol, n))
    val sigs = graft.SparkUtil.trackCache(
      sets.select(col("id"), minhashSignature(col("hs"), k).as("sig")))
    configs.map { case (bands, r) =>
      bandPairs(sigs, sigs, r, bands, Self)
        .agg(count(lit(1)).as("n_candidates"))
        .select(lit(bands).as("n_bands"), lit(r).as("rows_per_band"),
          col("n_candidates"))
    }.reduce(_.unionByName(_))
  }

  /**
   * Signature-size sensitivity audit: the MinHash estimator's error at
   * several signature PREFIX lengths (k' = 32/64/128 positions of one
   * k=128 signature) against exact shingle Jaccard, aggregated to
   * per-k' mean/max absolute error — the sizing decision behind the
   * signature store ([[minhashSignatures]]): at 100 TB the difference
   * between k=128 and k=32 is 4× store memory, and this curve says
   * what accuracy that buys on YOUR corpus (the k-axis companion to
   * [[bbitSignaturePairs]]' b-axis compression and
   * [[estimatorCalibration]]'s per-similarity binning). Prefixes of
   * one signature — not three separate signatures — because that is
   * exactly how a store would downsize in place.
   *
   * Spark shape: [[minhashEstimatorReport]]'s candidate machinery
   * (band-bucket equi-joins, never all-pairs; cached shingle sets and
   * signatures joined on bare ids), then one `stack` unpivot and ONE
   * aggregation on the ≤ |ks| key space; means ride exact
   * `floor(err·10⁶ + 0.5)` sums (the q188 contract — a float mean
   * would not replay).
   */
  def signatureSizeSensitivity(docs: DataFrame,
      ks: Seq[Int] = Seq(32, 64, 128), idCol: String = "doc_id",
      textCol: String = "text", n: Int = 3, k: Int = 128,
      bands: Int = 32): DataFrame = {
    require(ks.nonEmpty && ks.forall(kp => kp >= 1 && kp <= k),
      s"ks=$ks must be in [1, $k]")
    val base = signaturePairs(docs, idCol, textCol, n, k, bands)
    val errCols = ks.map { kp =>
      (expr(s"size(filter(zip_with(slice(sig_a, 1, $kp)," +
        s" slice(sig_b, 1, $kp), (x, y) -> x = y), b -> b))")
        .cast("double") / lit(kp.toDouble))
    }.zip(ks).map { case (e, kp) => abs(e - col("jaccard_exact")).as(s"__e$kp") }
    base.select(errCols: _*)
      .select(expr(s"stack(${ks.size}, " +
        ks.map(kp => s"$kp, __e$kp").mkString(", ") + ") AS (sig_k, abs_err)"))
      .groupBy(col("sig_k"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(floor(col("abs_err") * lit(1000000d) + lit(0.5)).cast("long"))
          .as("__sm"),
        max(col("abs_err")).as("max_abs_err"))
      .select(col("sig_k"), col("n_pairs"),
        expr("CAST(__sm AS DOUBLE) / (CAST(n_pairs AS DOUBLE) * 1000000.0)")
          .as("mean_abs_err"),
        col("max_abs_err"))
  }

  /**
   * Duplicated-n-gram coverage per language: the share of ALL shingle
   * OCCURRENCES (multiset, not distinct) whose shingle appears in ≥
   * `minDf` documents of that language — corpus-level duplication
   * intensity at sub-document granularity (exact dedup misses it,
   * boilerplate scoring reports per-doc; this is the one-row-per-lang
   * rollup a curation dashboard tracks release over release). Exact
   * integer counts, one final division.
   *
   * Spark shape: the (lang, doc, shingle) explode feeds one
   * (lang, shingle) aggregation carrying BOTH the occurrence count and
   * the distinct-doc count (two-level: distinct pairs once) — bounded
   * by distinct shingles; then ONE per-lang conditional fold.
   */
  def duplicateNgramCoverage(docs: DataFrame, n: Int = 3, minDf: Int = 2,
      groupCol: String = "lang", idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val occ = graft.SparkUtil.ensureParallelism(docs)
      .select(col(groupCol).as("g"), col(idCol).as("d"),
        explode(shingleHashesAll(col(textCol), n)).as("h"))
    val perShingle = occ.groupBy(col("g"), col("h"))
      .agg(count(lit(1)).as("occ"), countDistinct(col("d")).as("df"))
    perShingle.groupBy(col("g").as(groupCol))
      .agg(sum(col("occ")).as("total_ngrams"),
        sum(when(col("df") >= minDf, col("occ")).otherwise(0L))
          .as("dup_ngrams"))
      .select(col(groupCol), col("total_ngrams"), col("dup_ngrams"),
        (col("dup_ngrams").cast("double") / col("total_ngrams").cast("double"))
          .as("dup_coverage"))
  }

  /**
   * Near-dup transitivity audit: open wedges A~B~C where the closing
   * edge A~C is ABSENT from the pair set — the count that quantifies
   * how non-transitive the similarity threshold is, which is exactly
   * the judgment call between "drop pairwise" and "cluster with
   * connected components then drop" (many open wedges = clustering
   * merges things pairwise similarity would keep apart). Emits one row
   * per open wedge (center, spoke_a, spoke_c), spokes ordered.
   *
   * Spark shape: the wedge enumeration is ONE self-equi-join of the
   * symmetric pair list on the center vertex (spoke_a < spoke_c kills
   * mirror duplicates), then ONE left-anti equi-join against the
   * canonical pair set — never a cross product; wedge count is bounded
   * by Σ deg², the standard triangle-counting bound.
   */
  def transitivityAudit(pairs: DataFrame): DataFrame = {
    val Seq(pa, pb) = pairs.columns.toSeq.take(2)
    // cached: the canonical pair table feeds THREE plan subtrees (both
    // union branches of the symmetric list and the anti-join) — without
    // the cache the full upstream pair generation re-runs per reference
    // (measured 3-4x the single-pass cost)
    val canon = graft.SparkUtil.trackCache(
      pairs.select(least(col(pa), col(pb)).as("a"),
        greatest(col(pa), col(pb)).as("b")).distinct())
    val sym = canon.select(col("a").as("ctr"), col("b").as("sp"))
      .union(canon.select(col("b").as("ctr"), col("a").as("sp")))
    val wedges = keyedPairs(sym, sym, Seq("ctr"), Seq("ctr"), Self, id = "sp")
      .select(col("ctr_a").as("center"), col("id_a").as("spoke_a"),
        col("id_b").as("spoke_c"))
    wedges.join(canon,
        wedges("spoke_a") === canon("a") && wedges("spoke_c") === canon("b"),
        "left_anti")
  }

  /**
   * Exact-dedup storage savings per source: bytes and documents that
   * dropping non-representative exact duplicates (md5 groups, min-id
   * keeper) would reclaim — the line item that justifies a dedup run
   * to whoever pays for storage, per source so the blame lands where
   * the duplication lives. `dup_bytes` counts every byte of every
   * non-keeper; ratios are exact-integer divisions.
   *
   * Spark shape: ONE (source, md5) aggregation whose state is
   * (count, total bytes, min bytes-of-keeper?) — no: keeper is min id,
   * and its length must be excluded, so the group state carries
   * (n, sum_bytes, keeper-by-min-(id)-struct's bytes) via the
   * struct-min trick; then one bounded per-source fold. The corpus
   * never shuffles raw — both shuffles carry aggregated rows.
   */
  def dedupSavingsBySource(docs: DataFrame, idCol: String = "doc_id",
      sourceCol: String = "source", textCol: String = "text"): DataFrame = {
    val perContent = docs
      .select(col(sourceCol), md5(col(textCol)).as("__h"),
        col(idCol).as("__id"), length(col(textCol)).cast("long").as("__b"))
      .groupBy(col(sourceCol), col("__h"))
      .agg(count(lit(1)).as("__n"), sum(col("__b")).as("__sb"),
        min(struct(col("__id").as("i"), col("__b").as("b"))).as("__keep"))
    perContent
      .groupBy(col(sourceCol))
      .agg(sum(col("__n")).as("n_docs"),
        sum(col("__sb")).as("total_bytes"),
        sum(col("__n") - 1L).as("dup_docs"),
        sum(col("__sb") - col("__keep.b")).as("dup_bytes"))
      .select(col(sourceCol), col("n_docs"), col("total_bytes"),
        col("dup_docs"), col("dup_bytes"),
        (col("dup_bytes").cast("double") / col("total_bytes").cast("double"))
          .as("savings_ratio"))
  }

  /**
   * MinHash estimator calibration curve: [[minhashEstimatorReport]]'s
   * per-pair errors binned by the EXACT Jaccard (floor(J·bins), the
   * last bin closed) with per-bin pair counts and the mean absolute
   * error — "how wrong is the estimator at similarity level x", the
   * curve that sets a safe signature-only dedup threshold. The mean is
   * the shared micro-integer trick (exact sum of `floor(err·10⁶+0.5)`,
   * one final division) — a float mean over partition order would not
   * replay.
   *
   * Spark shape: the report's joins, then ONE bounded aggregation on
   * ≤ bins+1 keys.
   */
  def estimatorCalibration(docs: DataFrame, bins: Int = 10,
      idCol: String = "doc_id", textCol: String = "text", n: Int = 3,
      k: Int = 128, bands: Int = 32): DataFrame = {
    require(bins >= 1, s"bins=$bins must be >= 1")
    val report = minhashEstimatorReport(docs, idCol, textCol, n, k, bands)
    report
      .withColumn("bin", least(floor(col("jaccard_exact") * bins).cast("long"),
        lit(bins - 1L)))
      .withColumn("__e", floor(col("abs_err") * lit(1000000.0) + lit(0.5))
        .cast("long"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("__e")).as("__se"),
        max(col("abs_err")).as("max_abs_err"))
      .select(col("bin"), col("n_pairs"),
        (col("__se").cast("double") /
          (col("n_pairs").cast("double") * 1000000.0)).as("mean_abs_err"),
        col("max_abs_err"))
  }

  /**
   * Source-level content overlap via MERGED MinHash signatures: the
   * signature of a shingle-set UNION is the elementwise MIN of member
   * signatures, so each source's signature folds from its docs' without
   * ever materializing the union — the mergeable-sketch property that
   * makes this a 100 TB operator (per-source state is k longs; sketches
   * from different days/shards/clusters merge associatively). Pairwise
   * agreement `|{i : sig_a[i] = sig_b[i]}| / k` is then the standard
   * unbiased Jaccard estimate between WHOLE-SOURCE shingle sets — the
   * mirror-detection number (which sources carry the same content)
   * computed without any doc-level pair join.
   *
   * Spark shape: one narrow signature pass (native codegen'd MinHash),
   * posexplode → ONE (source, i) hash aggregation bounded by
   * |sources|·k, then an equi-join on the position index over the
   * bounded signature table and ONE pair aggregation (≤ |sources|²
   * rows). The corpus is scanned once; no doc-level shuffle.
   */
  def sourceMinhashOverlap(docs: DataFrame, groupCol: String = "source",
      k: Int = 128, n: Int = 3, textCol: String = "text"): DataFrame = {
    val sigs = graft.SparkUtil.ensureParallelism(docs)
      .filter(hasShingles(col(textCol), n))
      .select(col(groupCol).as("g"), shingleHashes(col(textCol), n).as("hs"))
      .select(col("g"), posexplode(minhashSignature(col("hs"), k)))
      .groupBy(col("g"), col("pos")).agg(min(col("col")).as("v"))
    // NOT cached (r16 opt, measured and rejected — q170 1.13 -> 1.32 s):
    // this is an EQUALITY self-join, so both sides already share one
    // shuffle via ReusedExchange and a cache only adds a barrier. Caching
    // a self-join input pays only where no exchange can be reused
    // (broadcast/cartesian joins — the q252 case).
    keyedPairs(sigs, sigs, Seq("pos"), Seq("v"), Self, id = "g")
      .groupBy(col("id_a").as("source_a"), col("id_b").as("source_b"))
      .agg(sum(when(col("v_a") === col("v_b"), 1L).otherwise(0L)).as("n_equal"))
      .select(col("source_a"), col("source_b"), col("n_equal"),
        (col("n_equal").cast("double") / lit(k.toDouble)).as("est_jaccard"))
  }

  /** AT-SCALE GUARD for [[lengthBandPairs]]: token lengths concentrate,
    * so every (group, band) cell grows linearly with the corpus and the
    * emitted pair set — which IS the operator's contract — grows
    * quadratically. The round-11 100× sweep measured the documents
    * table at ~2.2 G same-band ordered pairs (500 K docs, 155 cells);
    * the query was killed by the watchdog at 700 s. Past this many
    * expected output pairs the call refuses without
    * `allowLargeOutput = true`: a band this dense needs a second
    * blocking signal before pairing (the q49 adaptive prefix filter /
    * q148 dictionary-level resolution), not a bigger cluster. */
  val BandPairOutputBudget: Long = 200000000L

  /**
   * Length-banded blocking join — the generic entity-resolution
   * candidate generator "same language, token counts within d": a
   * LOSSLESS pigeonhole on `len div (d+1)` (two lengths within d land in
   * the same or adjacent buckets, and the lower-bucket doc's probe set
   * {b, b+1} always reaches the other), verified by the exact length
   * difference in the join condition — so the output EQUALS the naive
   * all-pairs filter while the join stays an equi-join on (lang,
   * bucket) keys, never a cross product.
   *
   * EAGER at call time unless `allowLargeOutput = true`: the guard runs
   * one bounded aggregation over the (group, band) count table (≤ one
   * corpus scan; the table itself is catalog-sized) and refuses past
   * [[BandPairOutputBudget]] expected same-band pairs — the output is
   * the cost here, so the budget is ON the output.
   */
  def lengthBandPairs(docs: DataFrame, d: Int = 2,
      groupCol: String = "lang", idCol: String = "doc_id",
      textCol: String = "text", allowLargeOutput: Boolean = false,
      outputBudget: Long = BandPairOutputBudget): DataFrame = {
    require(d >= 0, s"d=$d must be >= 0")
    val width = d + 1L
    // cached: the narrow (id, group, len, band) projection feeds the
    // guard aggregation AND both join sides — one tokenize pass, not 3
    val base = graft.SparkUtil.trackCache(
      graft.SparkUtil.ensureParallelism(docs)
        .select(col(idCol).as("id"), col(groupCol).as("g"),
          size(tokens(col(textCol))).cast("long").as("len"))
        .withColumn("b", expr(s"len div $width")))
    // Short-circuit (round-12): the TOTAL distinct output is bounded by
    // n(n-1)/2 pairs regardless of how lengths band, so a cheap
    // parquet-footer row-count upper bound with n(n-1) <= budget proves
    // the output budget cannot bind — no tokenize pass, no count job.
    // Sound to PASS only; past it the exact band aggregation runs.
    val cheapPass = graft.SparkUtil.cheapRowCountUpperBound(docs)
      .exists(n => n == 0 || n - 1 <= outputBudget / n)
    if (!allowLargeOutput && !cheapPass) {
      // Ordered-pair estimate per (g, b) cell: same-band c(c-1) PLUS the
      // adjacent-band cross term 2*c_b*c_{b+1} — the explode(b, b+1)
      // probe emits cross-band pairs too, so a same-band-only estimate
      // undercounts ~2x when mass straddles band boundaries (ADVICE r11).
      // One window pass over the catalog-bounded (g, b) count table.
      // SUM over zero rows is SQL NULL (an empty corpus must pass, not NPE)
      val wgb = Window.partitionBy(col("g")).orderBy(col("b"))
      val row = base.groupBy(col("g"), col("b")).count()
        .select(col("count").as("c"),
          lag(col("b"), 1).over(wgb).as("pb"), col("b"),
          lag(col("count"), 1).over(wgb).as("pc"))
        .agg(sum(col("c") * (col("c") - 1L) +
          when(col("pb") === col("b") - 1L, col("c") * col("pc") * 2L)
            .otherwise(0L))).head()
      val expected = if (row.isNullAt(0)) 0L else row.getLong(0)
      graft.GuardRefusal.check(expected <= outputBudget,
        s"lengthBandPairs(d=$d) would emit ~$expected same+adjacent-band pairs " +
          s"(> $outputBudget) on this corpus: length bands " +
          "concentrate, so the pair OUTPUT grows quadratically with the " +
          "corpus. Narrow the blocking (a second signal: q49 adaptive " +
          "prefix filter, q148 dictionary-level resolution), or pass " +
          "allowLargeOutput=true to knowingly emit the full pair set.")
    }
    val probe = base.select(col("id"), col("g"), col("len"),
      explode(array(col("b"), col("b") + 1L)).as("pb"))
    probe.as("x").join(base.as("y"),
        col("x.g") === col("y.g") && col("x.pb") === col("y.b") &&
          col("x.id") =!= col("y.id") &&
          abs(col("x.len") - col("y.len")) <= d)
      .select(least(col("x.id"), col("y.id")).as("id_a"),
        greatest(col("x.id"), col("y.id")).as("id_b"),
        col("x.g").as(groupCol),
        when(col("x.id") < col("y.id"), col("x.len")).otherwise(col("y.len"))
          .as("len_a"),
        when(col("x.id") < col("y.id"), col("y.len")).otherwise(col("x.len"))
          .as("len_b"))
      .distinct()
  }

  /**
   * Split-contamination matrix: given near-dup pairs and a per-doc split
   * label, counts pairs within and across splits — the quantified answer
   * to "how much does a naive hash split leak through near-duplicates?"
   * (the measuring side of q111's leakage-safe split, the way q94
   * measures what q39 removes). The cross-split row is the leak; its
   * share of all pairs is the headline number.
   *
   * Spark shape: two equi-joins attach endpoint labels (the label table
   * is (id, split) — narrow), one bounded hash aggregation on the
   * canonicalized label pair (≤ splits² rows), and the scalar total as a
   * single-partition window over THAT bounded cell table — the expensive
   * pair subtree (typically an inverted-index join) is evaluated exactly
   * once. (An earlier shape aggregated the total from the labeled pair
   * frame directly, which re-ran the whole pair join a second time —
   * q168's bench floor was 8.9 s vs the ~2 s pairs cost.) The window runs
   * over ≤ splits² rows, so the single partition is metadata-scale. Pair
   * order is canonicalized with least/greatest so (train,test) and
   * (test,train) collapse deterministically.
   */
  def splitContamination(pairs: DataFrame, splits: DataFrame,
      idCol: String = "doc_id", splitCol: String = "split"): DataFrame = {
    val Seq(pa, pb) = pairs.columns.toSeq.take(2)
    val la = splits.select(col(idCol).as("__ida"), col(splitCol).as("__sa"))
    val lb = splits.select(col(idCol).as("__idb"), col(splitCol).as("__sb"))
    val labeled = pairs
      .join(la, col(pa) === col("__ida"))
      .join(lb, col(pb) === col("__idb"))
      .select(least(col("__sa"), col("__sb")).as("split_a"),
        greatest(col("__sa"), col("__sb")).as("split_b"))
    val cells = labeled.groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n_pairs"))
    val w = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cells
      .select(col("split_a"), col("split_b"), col("n_pairs"),
        (col("split_a") =!= col("split_b")).as("is_leak"),
        (col("n_pairs").cast("double") /
          sum(col("n_pairs")).over(w).cast("double")).as("pair_share"))
  }

  /**
   * Preference-pair mining over near-dup clusters — the DPO/RLHF data
   * face of dedup: a cluster of near-duplicate documents is the same
   * content at different quality levels, so (best member, worst member)
   * is a natural (chosen, rejected) preference pair with a built-in
   * "same prompt" guarantee the usual random-negative mining lacks.
   * Emits one pair per component where the extremes' scores actually
   * differ (equal-score clusters carry no preference signal and are
   * dropped, which also removes singletons).
   *
   * Deterministic: chosen = (score desc, id asc) argmax via
   * `max(struct(score, -id))`, rejected = (score asc, id asc) argmin via
   * `min(struct(score, id))` — lexicographic struct ordering, no window,
   * no tie race.
   *
   * Spark shape: components from [[ConnectedComponents]] (its scale
   * story), then ONE equi-join to the score table and ONE aggregation
   * on the component key with map-side partial min/max — cluster size
   * never concentrates (the aggregation state is two structs per
   * component regardless of membership). Struct-typed min/max is not
   * hash-aggregable, so the aggregate is sort-based; the sorts are
   * per-partition, never a global range sort.
   */
  def preferencePairs(vertices: DataFrame, pairs: DataFrame,
      scores: DataFrame, idCol: String = "doc_id",
      scoreCol: String = "score"): DataFrame = {
    val comp = ConnectedComponents(pairs, vertices = Some(vertices))
    comp.join(scores, comp("id") === scores(idCol))
      .select(col("component"), col("id").as("__id"),
        col(scoreCol).as("__s"))
      .groupBy(col("component"))
      .agg(
        max(struct(col("__s").as("s"), (-col("__id")).as("negid"))).as("__b"),
        min(struct(col("__s").as("s"), col("__id").as("i"))).as("__w"))
      .select(col("component"),
        (-col("__b.negid")).as("chosen_id"), col("__w.i").as("rejected_id"),
        col("__b.s").as("chosen_score"), col("__w.s").as("rejected_score"),
        (col("__b.s") - col("__w.s")).as("gap"))
      .where(col("chosen_score") > col("rejected_score"))
  }

  /**
   * Cluster-purity audit over the near-dup graph: for every multi-member
   * cluster, member count and the number of DISTINCT values of two
   * metadata labels (language, source) among its members, with a mixed
   * flag per label. A near-dup cluster spanning languages is a
   * mistagged-language smoking gun (the same text cannot be two
   * languages); one spanning sources is a mirror/syndication signature
   * that the q118 source-matrix shows in aggregate — this names the
   * actual clusters. The governance sibling of [[dedupProvenance]]:
   * provenance says what a dedup pass removes, purity says whether the
   * clusters it would collapse are safe to collapse.
   *
   * Spark shape: components from [[ConnectedComponents]] over the PAIR
   * GRAPH only (no corpus vertices — singleton docs have no purity
   * question), ONE equi-join to the label columns, ONE aggregation on
   * the component key (count + two bounded distinct counts) with
   * map-side partials. Output is bounded by the cluster count.
   */
  def clusterPurity(docs: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id", labelA: String = "lang",
      labelB: String = "source"): DataFrame = {
    val comp = ConnectedComponents(pairs)
    comp.join(docs.select(col(idCol), col(labelA), col(labelB)),
        comp("id") === docs(idCol))
      .groupBy(col("component"))
      .agg(count(lit(1)).as("n_members"),
        countDistinct(col(labelA)).as("n_langs"),
        countDistinct(col(labelB)).as("n_sources"))
      .select(col("component"), col("n_members"), col("n_langs"),
        col("n_sources"),
        (col("n_langs") > 1).as("mixed_lang"),
        (col("n_sources") > 1).as("mixed_source"))
  }

  /**
   * Shared-prefix duplicate groups: documents whose FIRST k tokens are
   * identical, grouped by the prefix's rolling hash — the template-intro
   * detector (autogenerated headers, boilerplate openings, form letters)
   * that whole-document similarity misses once the bodies diverge. The
   * directional sibling of [[boilerplateSpans]] (any-position spans) and
   * [[stitchCandidates]] (suffix-meets-prefix seams): here the SAME
   * boundary is compared on both sides, so matching is a plain group-by,
   * not a join at all. Docs shorter than k tokens are out of scope.
   *
   * Spark shape: one narrow codegen'd projection (token slice → rolling
   * hash) and ONE hash aggregation on the prefix key with map-side
   * partials — no pair join anywhere; output is bounded by the number of
   * duplicated prefixes. Hash equality is the group key on both engines,
   * so collisions cannot cause oracle drift.
   */
  def prefixDupGroups(docs: DataFrame, k: Int = 12, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    val tks = tokens(col(textCol))
    graft.SparkUtil.ensureParallelism(docs)
      .filter(size(tks) >= k)
      .select(col(idCol).as("id"),
        rollingHash(array_join(slice(tks, 1, k), " ")).as("prefix_hash"))
      .groupBy(col("prefix_hash"))
      .agg(count(lit(1)).as("n_docs"), min(col("id")).as("keeper_id"))
      .filter(col("n_docs") >= 2)
  }

  def stitchCandidates(docs: DataFrame, k: Int = 8, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val tks = tokens(col(textCol))
    val base = graft.SparkUtil.ensureParallelism(docs)
      .filter(size(tks) >= k)
      .select(col(idCol).as("id"),
        rollingHash(array_join(slice(tks, 1, k), " ")).as("pref"),
        rollingHash(array_join(slice(tks, -k, k), " ")).as("suf"))
    base.as("x").join(base.as("y"),
        col("x.suf") === col("y.pref") && col("x.id") =!= col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
  }
}
